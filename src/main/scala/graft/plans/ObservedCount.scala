package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Piggyback a row/predicate count on a frame's lineage-cut
  * materialization instead of scheduling a separate count job
  * (round 6: an extra 32-task job costs ~0.25 s on this sandbox, and
  * iterative operators were paying one per round / per dispatch probe).
  *
  * Usage: `val (frame, n) = ObservedCount.attach(df, cut)` — the
  * observation node rides BELOW the cut, so whatever action the
  * LineageCut strategy runs to materialize the frame (localCheckpoint,
  * checkpoint, persist+count — all verified to deliver metrics in
  * tools/ObserveProbe) also delivers the count; `n()` waits at most one
  * second for the async listener and FALLS BACK to `fallback` (a plain
  * `count()` on the cut frame by default) if delivery does not arrive
  * (an unknown cut strategy can never produce a wrong count — only a
  * slower one).
  */
object ObservedCount {

  /** (cut frame, count supplier). `agg` is a named long-valued aggregate
    * (its name is the observed metric's name, visible to query
    * execution listeners) and defaults to a plain row count; pass e.g.
    * `coalesce(sum(when(cond, 1L)), lit(0L)).as("hits")` for predicate
    * counts (coalesce: a delivered NULL — empty input under a sum —
    * must not read as "not delivered"). `fallback` recomputes the same
    * quantity with a plain job when the metric does not arrive; it
    * receives the CUT frame. The supplier is memoized.
    */
  def attach(df: DataFrame, cut: LineageCut,
      agg: Column = count(lit(1)).as("n"),
      fallback: DataFrame => Long = _.count())
      : (DataFrame, () => Long) = {
    val obs = Observation()
    val frame = cut.cut(df.observe(obs, agg))
    lazy val n: Long = {
      // bounded wait for the async listener delivery (a timeout falls
      // through to the fallback below, never fails the caller)
      scala.util.Try(scala.concurrent.Await.ready(obs.future,
        scala.concurrent.duration.Duration(1, "second")))
      obs.future.value match {
        case Some(scala.util.Success(row)) if !row.isNullAt(0) =>
          row.getLong(0)
        case _ => fallback(frame) // strategy didn't deliver: plain job
      }
    }
    (frame, () => n)
  }
}
