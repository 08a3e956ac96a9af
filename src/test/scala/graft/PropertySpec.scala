package graft

import graft.canon.Canonicalize
import graft.gen.{TranscriptGen, Vocab}
import graft.oracle.ReferenceOracle
import graft.pipeline.KgPipeline
import graft.schema.Triple
import org.scalatest.funsuite.AnyFunSuite

/** Pipeline-level invariants (SURVEY.md §5.2.3). */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def key(t: Triple) = (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)

  test("output invariant to input row order (permutation invariance)") {
    import spark.implicits._
    val turns = TranscriptGen.transcripts(spark, 60, 6, 0, 3).collect().toSeq
    val a = KgPipeline.run(spark, turns.toDF(), shufflePartitions = 3)
      .triples.collect().map(key).toSet
    val permuted = new scala.util.Random(7).shuffle(turns)
    val b = KgPipeline.run(spark, permuted.toDF(), shufflePartitions = 3)
      .triples.collect().map(key).toSet
    assert(a == b && a.nonEmpty)
  }

  test("canonicalization is idempotent (relabeling twice == once)") {
    val m1 = ReferenceOracle.canonicalMap(Vocab.entities)
    // applying the map to its own range must be identity
    m1.values.foreach(v => assert(m1(v) == v))
    // distributed map agrees and is a projection (f(f(x)) == f(x))
    val dm = Canonicalize.canonicalMap(spark, Vocab.entities)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    dm.foreach { case (_, v) => assert(dm(v) == v) }
  }

  test("distributed connected components == local union-find on a " +
    "synthetic graph (forces the iterative DataFrame path)") {
    import spark.implicits._
    // chain of 6 + triangle + 3 isolated vertices
    val ids = (0 until 12).map(i => f"v$i%02d")
    val edges = Seq(
      ("v00", "v01"), ("v01", "v02"), ("v02", "v03"), ("v03", "v04"),
      ("v04", "v05"), // chain -> component v00
      ("v06", "v07"), ("v07", "v08"), ("v08", "v06") // triangle -> v06
    )
    val got = Canonicalize.connectedComponentsFast(spark,
        ids.toDF("entity_id"), edges.toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expected = Canonicalize.localUnionFind(ids, edges)
    assert(got == expected)
    assert(got("v05") == "v00" && got("v08") == "v06" && got("v11") == "v11")
  }

  test("triple scores are cosines in [minScore, 1]") {
    import spark.implicits._
    val turns = TranscriptGen.transcripts(spark, 40, 6, 0, 2).toDF()
    val scores = KgPipeline.run(spark, turns, shufflePartitions = 2)
      .triples.select($"score").as[Double].collect()
    assert(scores.nonEmpty)
    scores.foreach(s =>
      assert(s >= Vocab.minLinkScore - 1e-9 && s <= 1.0 + 1e-9))
  }
}
