package graft

import graft.canon.Canonicalize
import org.apache.spark.graphx.{Edge, Graph}
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §4.3.3 names GraphX connectedComponents as the fallback for
  * the DataFrame-iterative union-find; this pins that all three
  * implementations (GraphX, the pointer-jumping DataFrame loop, local
  * union-find) induce the same partition of the vertex set.
  */
class GraphXFallbackSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("GraphX CC == iterative DataFrame CC == local union-find") {
    import spark.implicits._
    val ids = (0 until 14).map(i => f"v$i%02d")
    val edges = Seq(
      ("v00", "v01"), ("v01", "v02"), ("v02", "v03"),
      ("v04", "v05"), ("v05", "v06"), ("v06", "v04"),
      ("v07", "v08"), ("v09", "v10"), ("v10", "v07"))

    def groupsOf(m: Map[String, String]): Set[Set[String]] =
      m.groupBy(_._2).values.map(_.keySet).toSet

    val local = Canonicalize.localUnionFind(ids, edges)
    val dist = Canonicalize.connectedComponentsFast(spark,
        ids.toDF("entity_id"), edges.toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // GraphX fallback (RDD-based; test-only — the pipeline stays
    // DataFrame-native)
    val idToLong = ids.zipWithIndex.map { case (s, i) => s -> i.toLong }.toMap
    val vtx = spark.sparkContext.parallelize(
      ids.map(s => (idToLong(s), s)))
    val edg = spark.sparkContext.parallelize(
      edges.map { case (a, b) => Edge(idToLong(a), idToLong(b), 1) })
    val gx = Graph(vtx, edg).connectedComponents().vertices
      .collect().map { case (v, c) => ids(v.toInt) -> ids(c.toInt) }.toMap

    assert(groupsOf(local) == groupsOf(dist))
    assert(groupsOf(local) == groupsOf(gx))
  }
}
