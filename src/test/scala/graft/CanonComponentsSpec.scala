package graft

import graft.canon.Canonicalize
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Connected-components convergence contracts:
  *
  *   - the loop must FAIL LOUDLY when it does not converge within
  *     maxIter — a silently partial label set is a WRONG canonical map
  *     (open corpus-derived vocabularies can chain near-duplicate
  *     spellings to arbitrary diameter);
  *   - pointer jumping must converge in O(log n) rounds on exactly those
  *     graphs and produce the same map as local union-find and GraphX.
  */
class CanonComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def chain(n: Int): (Seq[String], Seq[(String, String)]) = {
    val ids = (0 until n).map(i => f"c$i%04d")
    (ids, ids.sliding(2).map(p => (p(0), p(1))).toSeq)
  }

  private def toDf(ids: Seq[String], edges: Seq[(String, String)]) = {
    import spark.implicits._
    (ids.toDF("entity_id"), edges.toDF("src", "dst"))
  }

  test("pointer-jumping CC throws on a chain longer than maxIter") {
    // a length-64 chain needs more than 2 pointer-jumping rounds; the
    // loop must refuse instead of returning silently partial labels
    val (ids, es) = chain(64)
    val (v, e) = toDf(ids, es)
    val ex = intercept[IllegalStateException] {
      Canonicalize.connectedComponentsFast(spark, v, e, maxIter = 2)
    }
    assert(ex.getMessage.contains("did not converge"))
    // the same graph under a sufficient cap still converges exactly
    val ok = Canonicalize.connectedComponentsFast(spark, v, e, maxIter = 15)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ok == ids.map(_ -> ids.head).toMap)
  }

  test("pointer-jumping CC solves a length-64 chain in <= ceil(log2 n) " +
    "+ 2 rounds, where min-label would need 63") {
    val (ids, es) = chain(64)
    val (v, e) = toDf(ids, es)
    val (labels, rounds) = Canonicalize
      .connectedComponentsFastWithRounds(spark, v, e)
    val got = labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == ids.map(_ -> ids.head).toMap)
    val bound = math.ceil(math.log(64) / math.log(2)).toInt + 2
    assert(rounds <= bound, s"took $rounds rounds, bound $bound")
  }

  test("pointer-jumping CC == GraphX == local union-find on random graphs") {
    import org.apache.spark.graphx.{Edge, Graph}
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 40 + trial * 10
      val ids = (0 until n).map(i => f"r$trial%d_$i%03d")
      val edges = (0 until n).map { _ =>
        (ids(rnd.nextInt(n)), ids(rnd.nextInt(n)))
      }.filter { case (a, b) => a != b }
      val (v, e) = toDf(ids, edges)
      val expected = Canonicalize.localUnionFind(ids, edges)
      val fast = Canonicalize.connectedComponentsFast(spark, v, e)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(fast == expected, s"trial $trial: fast != local union-find")
      // GraphX labels a component by its min vertex INDEX, and ids are
      // index-ordered, so its labels map back to the same min ids
      val gx = Graph(
          spark.sparkContext.parallelize(ids.indices.map(i => (i.toLong, i))),
          spark.sparkContext.parallelize(edges.map { case (a, b) =>
            Edge(ids.indexOf(a).toLong, ids.indexOf(b).toLong, 1) }))
        .connectedComponents().vertices.collect()
        .map { case (vi, c) => ids(vi.toInt) -> ids(c.toInt) }.toMap
      assert(fast == gx, s"trial $trial: fast != GraphX")
    }
  }

  test("canonicalMapDf accepts a localCheckpoint()ed entity table on " +
    "the distributed path (regression: Spark union-constraint rewrite " +
    "crashed on LogicalRDD origin constraints)") {
    import spark.implicits._
    // pre-r5 the CC loop's labels.unionByName(neighborMin) threw
    // NoSuchElementException (AttributeMap key not found) at OPTIMIZER
    // time when the entity table's lineage was a checkpointed
    // LogicalRDD (exactly what a resumable pipeline hands in):
    // LogicalRDD origin constraints can reference pruned attributes,
    // and Spark's Union constraint rewrite looks every attribute up
    // without a contains-check (reproduced at 16k entities via
    // graft.tools.CanonTime; whether the stale constraint appears
    // depends on the concrete lineage). The loop now builds no Union
    // node at all — aggregate + left join + least — so the failure
    // mode is structurally impossible; this pins the
    // checkpointed-input contract.
    val surf = Seq(
      ("e1", Seq("streamer")), ("e2", Seq("streamers")),
      ("e3", Seq("unrelatedword")))
      .toDF("entity_id", "surfaces")
      .filter(col("entity_id").isNotNull)
      .localCheckpoint()
    val ids = surf.select(col("entity_id"))
    val edges = Canonicalize.candidateEdges(spark, surf, 0.5)
      .localCheckpoint()
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expected = Map("e1" -> "e1", "e2" -> "e1", "e3" -> "e3")
    assert(labelsOf(
      Canonicalize.connectedComponentsFast(spark, ids, edges)) == expected)
    assert(labelsOf(Canonicalize.canonicalMapDf(spark, surf, 0.5,
      localMaxEntities = 0)) == expected)
  }

  test("pointer-jumping CC under Reliable lineage cut equals the default") {
    val (ids, es) = chain(20)
    val (v, e) = toDf(ids, es)
    val local = Canonicalize.connectedComponentsFast(spark, v, e)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ccfast_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliable = Canonicalize.connectedComponentsFast(spark, v, e,
          cut = graft.plans.LineageCut.Reliable)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(reliable == local)
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  test("canonicalMapDf local path fails fast on duplicate entity_id " +
    "(VERDICT r5 #5: silent last-write-wins diverged from the " +
    "distributed path's duplicate rows)") {
    import spark.implicits._
    val dup = Seq(
      ("e1", Seq("streamer")), ("e2", Seq("unrelatedword")),
      ("e1", Seq("streamers")))
      .toDF("entity_id", "surfaces")
    val ex = intercept[IllegalArgumentException] {
      Canonicalize.canonicalMapDf(spark, dup, 0.5)
    }
    assert(ex.getMessage.contains("duplicate entity_id"))
    assert(ex.getMessage.contains("e1"))
    // the Seq entry point runs the same path, so it fails the same way
    import graft.schema.Entity
    def contractError(es: Seq[Entity]) = intercept[IllegalArgumentException] {
      Canonicalize.canonicalMap(spark, es, 0.5)
    }.getMessage
    val seqDup = contractError(Seq(Entity("e1", "streamer", Nil),
      Entity("e2", "unrelatedword", Nil), Entity("e1", "streamers", Nil)))
    assert(seqDup.contains("duplicate entity_id") && seqDup.contains("e1"))
    // a duplicated NULL id reports the contract, not an NPE from sorting
    val nullDup = contractError(Seq(Entity(null, "streamer", Nil),
      Entity(null, "streamers", Nil)))
    assert(nullDup.contains("duplicate entity_id") && nullDup.contains("null"))
    // a single NULL id reports the contract, not an NPE from the pair loop
    assert(contractError(Seq(Entity(null, "streamer", Nil),
      Entity("e2", "streamers", Nil))).contains("null entity_id"))
    val dfNull = intercept[IllegalArgumentException] {
      Canonicalize.canonicalMapDf(spark,
        Seq[(String, Seq[String])]((null, Seq("streamer")),
          ("e2", Seq("streamers"))).toDF("entity_id", "surfaces"), 0.5)
    }
    assert(dfNull.getMessage.contains("null entity_id"))
    // unique ids keep working on the same shape
    val ok = Canonicalize.canonicalMapDf(spark,
        Seq(("e1", Seq("streamer")), ("e2", Seq("streamers")))
          .toDF("entity_id", "surfaces"), 0.5)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ok == Map("e1" -> "e1", "e2" -> "e1"))
  }
}
