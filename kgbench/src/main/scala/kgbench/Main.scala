package kgbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable

/** Benchmark entry point: one workload, one seed, one measuring window.
  *
  * `--trace 0` reports the end-to-end metrics: set-up time (session
  * start plus one warm-up iteration in the fresh JVM), the median wall
  * of the iterations in the window, output rows per second and the peak
  * Spark-driver heap after GC. `--trace 1` runs half the window
  * untraced and half through the layer-by-layer composition in spans,
  * then the workload's once-per-run checks and pair-count probes, and
  * reports the per-layer metrics plus coverage and tracing overhead.
  * Every iteration's output digest must equal the run's reference (the
  * recorded digest where there is one, else the first iteration's); a
  * mismatch or a failed output check counts as a failed iteration.
  *
  * The last stdout line is `KGBENCH_RESULT <json>`; kgbench/run.py
  * forwards the json.
  */
object Main {
  val Layers = Seq("extract", "mention", "canon", "dedup", "graph", "ckpt", "io",
    "queries")
  val CkptStages = Seq("entity_index", "turn_spans", "triples", "canonical_map",
    "triples_canonical", "nodes", "edges")

  val PerLayer: Seq[(String, String)] = Seq(
    "extract.busy_s" -> "s", "extract.linked_mentions" -> "count",
    "extract.triples_out" -> "count", "extract.task_max_over_p50" -> "ratio",
    "mention.busy_s" -> "s", "mention.spans_s" -> "s",
    "mention.open_scan_s" -> "s", "mention.rows_out" -> "count",
    "canon.busy_s" -> "s", "canon.edges_s" -> "s", "canon.edges" -> "count",
    "canon.cc_s" -> "s", "canon.cc_rounds" -> "count",
    "dedup.busy_s" -> "s", "dedup.candidates" -> "count",
    "dedup.verified" -> "count", "dedup.verify_ratio" -> "ratio",
    "dedup.result_bytes" -> "bytes",
    "graph.busy_s" -> "s", "graph.relabel_s" -> "s", "graph.nodes_s" -> "s",
    "graph.edges_s" -> "s") ++
    CkptStages.map(s => s"ckpt.${s}_s" -> "s") ++ Seq(
    "ckpt.busy_s" -> "s", "ckpt.jobs" -> "count",
    "ckpt.bytes_written" -> "bytes", "ckpt.resume_s" -> "s",
    "ckpt.storage_mb" -> "MB",
    "io.write_s" -> "s", "io.bytes_written" -> "bytes", "io.files" -> "count",
    "queries.busy_s" -> "s") ++
    JaccardQueries.Names.map(q => s"queries.${q}_s" -> "s") ++
    Layers.flatMap(l => Seq(s"$l.tasks" -> "count",
      s"$l.shuffle_write_bytes" -> "bytes", s"$l.spill_bytes" -> "bytes")) ++
    Seq("trace.coverage" -> "ratio", "trace.overhead_s" -> "s",
      "trace.untraced_wall_s" -> "s", "trace.traced_wall_s" -> "s",
      "host.load1_start" -> "load", "host.load1_end" -> "load")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") match {
        case "0" => false
        case "1" => true
        case v => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $v")
      })
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def loadavg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq
      finally src.close()
    } catch { case _: Exception => Seq(0.0, 0.0, 0.0) }

  private[kgbench] def session(cpus: Int, parts: Int, base: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$base/spark-local")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** drops what an iteration left cached (the program's own lineage
    * cuts included), so every iteration starts from the same state
    */
  private[kgbench] def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** heap in use once queued listener events are delivered and full
    * collections have run until the reading settles: the context
    * cleaner frees broadcasts and shuffles only after a collection
    * drops their last reference, so one collection can read high
    */
  private def heapAfterGcMb(spark: SparkSession): Double = {
    org.apache.spark.KgBenchBus.drain(spark.sparkContext)
    def used(): Double = {
      System.gc()
      Thread.sleep(150)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var (prev, cur) = (Double.MaxValue, used())
    var n = 1
    while (prev - cur > 1.0 && n < 8) { prev = cur; cur = used(); n += 1 }
    cur
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else d.toString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors
    val parts = 2 * cpus
    val base = new File(".bench_build").getAbsolutePath
    val work = s"$base/work/${a.workload}"
    Workloads.delete(work)
    new File(work).mkdirs()
    val wl = Workloads(a.workload, a.seed, work, parts)
    val load0 = loadavg()
    val phases = mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }

    var attempted, failed = 0
    val errors = mutable.ArrayBuffer[String]()
    var reference: Checksum = null
    def check(o: Outcome, first: Boolean = false): Unit = {
      attempted += 1
      val errs = o.errors ++ (if (first || o.sum != reference) o.oracle() else Nil) ++
        (if (o.sum != reference) Seq(s"output ${o.sum} != reference $reference") else Nil) ++
        (if (o.canonPath.nonEmpty && o.canonPath != wl.canonPathExpected)
          Seq(s"canon path ${o.canonPath}, expected ${wl.canonPathExpected}") else Nil)
      if (errs.nonEmpty) { failed += 1; errors ++= errs }
    }
    def timedNs[T](f: => T): (T, Long) = {
      val t0 = System.nanoTime(); val r = f; (r, System.nanoTime() - t0)
    }

    // set-up: session start plus the first, untimed iteration in the
    // fresh JVM. Generating the inputs and drawing the oracle sample
    // come between the two and are not part of it.
    val (spark, sessNs) = timedNs(session(cpus, parts, base))
    phase("session")
    wl.prepare(spark)
    phase("prepare")
    val warmUp = wl.iterate(spark)
    val setup = (sessNs + warmUp.wallNs) / 1e9
    reference = wl.recorded.getOrElse(warmUp.sum)
    check(warmUp, first = true)
    cleanup(spark)
    phase("setup")

    val walls = mutable.ArrayBuffer[Double]()
    var heapPeak = 0.0
    val t0 = System.nanoTime()
    val window = a.seconds * 1e9
    /** iterations until `until` ns have passed, at least the
      * workload's minimum
      */
    def measure(until: Double): Unit = {
      var n = 0
      while (n < wl.minIterations || System.nanoTime() - t0 < until) {
        val o = wl.iterate(spark)
        check(o)
        walls += o.wallNs / 1e9
        heapPeak = math.max(heapPeak, heapAfterGcMb(spark))
        cleanup(spark)
        n += 1
      }
    }

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    var tracer: Tracer = null
    var resumed = Map.empty[String, Double]
    if (!a.trace) {
      measure(window)
      val wall = median(walls.toSeq)
      metrics("setup_s") = (setup, "s")
      metrics("wall_s") = (wall, "s")
      metrics("rows_per_s") = (reference.rows / wall, "1/s")
      metrics("heap_peak_mb") = (heapPeak, "MB")
    } else {
      measure(window / 2)
      wl.afterUntraced(spark).foreach { o =>
        check(o)
        resumed = o.extra
      }
      tracer = new Tracer(spark)
      val perIter = mutable.ArrayBuffer[Map[String, Double]]()
      val tracedWalls = mutable.ArrayBuffer[Double]()
      var n = 0
      while (n < 1 || System.nanoTime() - t0 < window) {
        tracer.counters()
        tracer.listener.reset()
        val (o, counts) = wl.traced(spark, tracer)
        check(o)
        tracedWalls += o.wallNs / 1e9
        val ctr = tracer.counters()
        val root = tracer.spans.filter(s => s.parent == -1 && s.name == "iteration").last
        val tree = tracer.tree(root).filterNot(_ eq root)
        val m = mutable.Map[String, Double]()
        m("coverage_s") = tree.filter(s => Layers.contains(s.layer))
          .map(tracer.selfNs).sum / 1e9
        for (l <- Layers) {
          m(s"$l.busy_s") = tree.filter(_.layer == l).map(tracer.selfNs).sum / 1e9
          val c = ctr.getOrElse(l, new LayerCounters)
          m(s"$l.tasks") = c.tasks.toDouble
          m(s"$l.shuffle_write_bytes") = c.shuffleWriteBytes.toDouble
          m(s"$l.spill_bytes") = c.spillBytes.toDouble
        }
        for (s <- tree if s.name.contains('.'))
          m(s.name + "_s") = m.getOrElse(s.name + "_s", 0.0) + s.durNs / 1e9
        val c = (l: String) => ctr.getOrElse(l, new LayerCounters)
        m("extract.task_max_over_p50") = c("extract").taskMaxOverP50
        m("dedup.result_bytes") = c("dedup").resultBytes.toDouble
        m("ckpt.jobs") = c("ckpt").jobs.toDouble
        m("ckpt.bytes_written") = c("ckpt").outputBytes.toDouble
        m("io.bytes_written") = c("io").outputBytes.toDouble
        perIter += (m.toMap ++ counts)
        cleanup(spark)
        n += 1
      }
      val probes = wl.probes(spark, tracer).map { case (ms, errs) =>
        attempted += 1
        if (errs.nonEmpty) { failed += 1; errors ++= errs }
        ms
      }.getOrElse(Map.empty)
      wl.checkOnce(spark, reference).foreach { errs =>
        attempted += 1
        if (errs.nonEmpty) { failed += 1; errors ++= errs }
      }
      val untraced = median(walls.toSeq)
      val traced = median(tracedWalls.toSeq)
      def pick(k: String): Double =
        if (k.endsWith("_s")) median(perIter.flatMap(_.get(k)).toSeq)
        else perIter.last.getOrElse(k, 0.0)
      val derived = resumed ++ Map(
        "trace.coverage" -> pick("coverage_s") / untraced,
        "trace.overhead_s" -> (traced - untraced),
        "trace.untraced_wall_s" -> untraced,
        "trace.traced_wall_s" -> traced,
        "host.load1_start" -> load0.head) ++ probes
      for ((k, unit) <- PerLayer)
        metrics(k) = (derived.getOrElse(k, if (k == "host.load1_end") 0.0 else pick(k)), unit)
    }

    phase("measure")
    val load1 = loadavg()
    if (a.trace) metrics("host.load1_end") = (load1.head, "load")

    new File(s"$base/traces").mkdirs()
    if (tracer != null) {
      val w = new java.io.PrintWriter(s"$base/traces/${a.workload}-seed${a.seed}.json")
      try w.write(s"""{"workload":"${a.workload}","seed":${a.seed},"spans":${tracer.json}}""")
      finally w.close()
      tracer.close()
    }
    spark.stop()
    phase("check")

    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ")
    println(s"""{"info":{"workload":"${a.workload}","seed":${a.seed},""" +
      s""""iterations":${walls.size},"wall_samples_s":[${walls.map(num).mkString(",")}],""" +
      s""""setup_s":${num(setup)},""" +
      s""""reference":"$reference","rows":${reference.rows},""" +
      s""""loadavg_start":[${load0.map(num).mkString(",")}],""" +
      s""""loadavg_end":[${load1.map(num).mkString(",")}],""" +
      s""""phases_s":{${phases.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")}},""" +
      s""""errors":[${errors.distinct.take(10).map(e => "\"" + esc(e) + "\"").mkString(",")}]}}""")
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""KGBENCH_RESULT {"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$ms}}""")
  }
}

/** The class-loading pass behind the JVM class-data archive that
  * kgbench/run.py makes once per build: one session, then every
  * workload's inputs, first iteration and oracle check. Runs with
  * different seeds then start from the same archived classes.
  */
object Train {
  def main(argv: Array[String]): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors
    val base = new File(".bench_build").getAbsolutePath
    val spark = Main.session(cpus, 2 * cpus, base)
    for (name <- Workloads.Names) {
      val work = s"$base/work/train-$name"
      Workloads.delete(work)
      val wl = Workloads(name, 0L, work, 2 * cpus)
      wl.prepare(spark)
      val o = wl.iterate(spark)
      o.oracle()
      Main.cleanup(spark)
      Workloads.delete(work)
    }
    spark.stop()
  }
}
