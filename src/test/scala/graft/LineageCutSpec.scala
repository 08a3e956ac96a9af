package graft

import graft.plans.LineageCut
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The pluggable lineage-cut strategy (plans.LineageCut): the iterative
  * operators must produce IDENTICAL results under the durable
  * strategies a cluster run would use — localCheckpoint (default) has
  * no recompute path after executor loss, so connectedComponentsFast /
  * jaccardPairs / k-means expose a `cut` knob instead of hard-coding
  * it.
  */
class LineageCutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def withCheckpointDir[T](f: => T): T = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_dir").toString
    spark.sparkContext.setCheckpointDir(dir)
    try f
    finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  private lazy val docs = {
    import spark.implicits._
    // clusters of near-duplicate token sequences + singletons
    (0 until 40).map { i =>
      val base = s"alpha bravo charlie delta echo_${i / 4}"
      val text = if (i % 4 == 0) base else s"$base foxtrot_$i"
      (f"d$i%02d", text)
    }.toDF("doc_id", "text")
  }

  private lazy val edges = {
    import spark.implicits._
    // two chains + one isolated vertex
    Seq(("a", "b"), ("b", "c"), ("d", "e"), ("e", "f"), ("f", "g"))
      .toDF("src", "dst")
  }
  private lazy val vertices = {
    import spark.implicits._
    Seq("a", "b", "c", "d", "e", "f", "g", "h").toDF("entity_id")
  }

  test("connectedComponents: Reliable (checkpoint dir) and Replicated " +
    "strategies produce the identical component map") {
    def run(cut: LineageCut) =
      graft.canon.Canonicalize
        .connectedComponentsFast(spark, vertices, edges, cut = cut)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val local = run(LineageCut.Local)
    assert(local == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d",
      "e" -> "d", "f" -> "d", "g" -> "d", "h" -> "h"))
    withCheckpointDir { assert(run(LineageCut.Reliable) == local) }
    assert(run(LineageCut.Replicated) == local)
  }

  test("jaccardPairs: Reliable strategy produces the identical pair set " +
    "(and the checkpoint dir actually received data)") {
    def run(cut: LineageCut) =
      graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text", 0.5, cut = cut)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
    val local = run(LineageCut.Local)
    assert(local.nonEmpty, "fixture produced no pairs")
    withCheckpointDir {
      val reliable = run(LineageCut.Reliable)
      assert(reliable == local)
      // the durable cut must actually have written to the checkpoint
      // dir (guards against a silent fall-through to localCheckpoint)
      val dir = spark.sparkContext.getCheckpointDir.get
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.listStatus(p).nonEmpty, "no reliable checkpoint written")
    }
  }

  test("runOpen under Reliable lineage cut equals the default (the open " +
    "pipeline is the cluster path — no hardcoded localCheckpoint left)") {
    import graft.schema.Triple
    val turns = graft.gen.TranscriptGen.openTranscripts(spark,
      nConvs = 60, turnsPerConv = 8, nBases = 4, partitions = 2).toDF()
    def key(t: Triple) = (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)
    // 2000 filler entities (random surfaces no transcript contains)
    // push the entity table past LocalCanonMaxEntities, so the
    // distributed canonicalization branch — the frames the cut strategy
    // materializes — actually runs; staged extraction path
    // (gazetteerFastPathMax = 0)
    val rnd = new scala.util.Random(3)
    val fillers = (0 until 2000).map(i => graft.schema.Entity(f"ent_fill_$i%04d",
      (1 to 8).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString, Nil))
    def run(cut: LineageCut) =
      graft.pipeline.KgPipeline.runOpen(spark, turns,
          entities = graft.gen.Vocab.entities ++ fillers,
          shufflePartitions = 2, gazetteerFastPathMax = 0, cut = cut)
        .triples.collect().map(key).toSet
    val local = run(LineageCut.Local)
    assert(local.nonEmpty, "fixture produced no triples")
    withCheckpointDir {
      val reliable = run(LineageCut.Reliable)
      assert(reliable == local)
      val dir = spark.sparkContext.getCheckpointDir.get
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.listStatus(p).nonEmpty, "no reliable checkpoint written")
    }
  }

  test("k-means fit under Reliable equals the default strategy") {
    import spark.implicits._
    val df = (0 until 60)
      .map(i => (i.toLong, Array.tabulate(4)(j =>
        ((i % 3) * 5 + 0.1 * ((i * 7 + j) % 10)).toFloat)))
      .toDF("vec_id", "embedding")
    val a = graft.ml.KMeansCluster
      .fit(df, "vec_id", "embedding", 3, 3).map(_.toSeq).toSeq
    withCheckpointDir {
      val b = graft.ml.KMeansCluster
        .fit(df, "vec_id", "embedding", 3, 3, cut = LineageCut.Reliable)
        .map(_.toSeq).toSeq
      assert(a == b)
    }
  }
}
