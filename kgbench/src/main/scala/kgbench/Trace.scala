package kgbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed call into a layer. `layer` is the name's first component
  * (`canon.edges` belongs to `canon`); `parent` is the enclosing span's
  * id, -1 for a root.
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    var endNs: Long = 0L) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** Spark counters for one layer, summed over its tasks. */
final class LayerCounters {
  var jobs = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var outputBytes = 0L
  /** executor run time (ms) of every task, per stage */
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  /** task-time max over p50 within the layer's busiest stage: the
    * per-task imbalance (skew) signal
    */
  def taskMaxOverP50: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val p50 = ts((ts.size - 1) / 2)
      ts.last.toDouble / math.max(p50, 1L)
    }
}

/** Attributes every task to the job group that was set when its job
  * started; the tracer sets the group to the layer of the innermost
  * open span.
  */
final class LayerListener extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  private val byGroup = mutable.Map[String, LayerCounters]()

  private def counters(g: String) = byGroup.getOrElseUpdate(g, new LayerCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    counters(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(stageGroup.getOrElse(e.stageId, "none"))
      c.tasks += 1
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.resultBytes += m.resultSize
      c.outputBytes += m.outputMetrics.bytesWritten
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer())
        .append(m.executorRunTime)
    }
  }

  def snapshot(): Map[String, LayerCounters] = synchronized(byGroup.toMap)
  def reset(): Unit = synchronized { stageGroup.clear(); byGroup.clear() }
}

/** Counts query executions inside the current span that carried an
  * observed metric named `chg` — the convergence counter of one
  * pointer-jumping connected-components round.
  */
final class ObservedRounds extends QueryExecutionListener {
  @volatile var rounds = 0
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    if (qe.observedMetrics.values.exists(r => r.schema.fieldNames.contains("chg")))
      synchronized(rounds += 1)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** In-memory span recorder for the traced run. Each span sets the Spark
  * job group to its layer for the calls it wraps, so the listener's
  * counters split by layer too.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  val listener = new LayerListener
  val rounds = new ObservedRounds
  sc.addSparkListener(listener)
  spark.listenerManager.register(rounds)

  def span[T](name: String)(f: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.nanoTime())
    spans += s
    open = s :: open
    sc.setJobGroup(s.layer, name)
    try f
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.layer, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** span duration minus what its child spans cover */
  def selfNs(s: Span): Long =
    s.durNs - spans.iterator.filter(_.parent == s.id).map(_.durNs).sum

  /** spans of the tree rooted at `root` */
  def tree(root: Span): Seq[Span] = {
    val ids = mutable.Set(root.id)
    spans.filter { s =>
      val in = s.id == root.id || ids.contains(s.parent)
      if (in) ids += s.id
      in
    }.toSeq
  }

  /** waits until every queued listener event has been delivered */
  def drain(): Unit = org.apache.spark.KgBenchBus.drain(sc)

  /** the per-layer counters, once every queued event is delivered */
  def counters(): Map[String, LayerCounters] = {
    drain()
    listener.snapshot()
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(rounds)
  }

  def json: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""self_ns":${selfNs(s)}}"""
  }.mkString("[", ",\n", "]")
}
