package graft.extract

import graft.link.EntityLink
import graft.schema.{Entity, Triple}
import graft.score.Embed
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.lit

/** Per-turn extraction: overlap resolution + entity linking + predicate
  * pairing in ONE `mapPartitions` pass with pooled scorer state — the
  * north-star execution shape (reference: pooled inference session,
  * search_pipeline.py:192-194; span filters,
  * word_sense_multimodal_pipeline.py:239-277).
  *
  * Input rows are per-turn span groups produced by
  * MentionDetect.spanCandidates (Catalyst side: tokenize, candidate
  * explode, broadcast gazetteer join, groupBy collect). This stage owns
  * the sequential per-turn semantics, kept byte-compatible with
  * graft.oracle.ReferenceOracle:
  *
  *   1. bigram-wins overlap resolution over gazetteer matches
  *   2. cosine top-1 linking against the broadcast candidate index
  *      (per-partition memoized scorer)
  *   3. consecutive linked mentions + first predicate trigger in the gap
  *      -> (subj, pred, obj, min score)
  */
object TurnExtract {

  /** One candidate span: a gazetteer mention or a predicate trigger. */
  final case class Span(
      token_pos: Int,
      token_len: Int,
      surface: String,
      is_mention: Boolean)

  /** One OPEN (shape-detected, non-gazetteer) unigram of a turn. */
  final case class OpenSpan(token_pos: Int, surface: String)

  /** `open` is NULL for span groups built without an open shape pattern */
  final case class TurnSpans(
      conv_id: String,
      turn_idx: Int,
      spans: Seq[Span],
      open: Seq[OpenSpan])

  /** In-task per-partition extraction metrics (north rule: "mentions/sec,
    * triples/partition" written alongside each commit). Collected via a
    * CollectionAccumulator passed from KgPipeline; a sentinel iterator
    * records once when the partition drains.
    */
  final case class PartitionMetrics(
      partition: Int, turns: Long, linked_mentions: Long, triples: Long,
      wall_nanos: Long) {
    def mentionsPerSec: Double =
      if (wall_nanos > 0) linked_mentions * 1e9 / wall_nanos else 0.0
    def json: String =
      s"""{"partition":$partition,"turns":$turns,""" +
        s""""linked_mentions":$linked_mentions,"triples":$triples,""" +
        s""""wall_nanos":$wall_nanos,""" +
        f""""mentions_per_sec":$mentionsPerSec%.1f}"""
  }

  /** wraps a partition iterator: counts turns/mentions/triples and
    * records once when drained.
    */
  private final class Recorder(
      acc: Option[org.apache.spark.util.CollectionAccumulator[PartitionMetrics]]) {
    private val t0 = System.nanoTime()
    var turns = 0L
    var mentions = 0L
    var triples = 0L
    private var recorded = false
    def sentinel[T]: Iterator[T] = new Iterator[T] {
      override def hasNext: Boolean = {
        if (!recorded) {
          recorded = true
          acc.foreach(_.add(PartitionMetrics(
            org.apache.spark.TaskContext.getPartitionId(), turns, mentions,
            triples, System.nanoTime() - t0)))
        }
        false
      }
      override def next(): T = throw new NoSuchElementException
    }
  }

  /** Core per-turn semantics, shared by the batch (span-group) and
    * streaming (per-row) entry points; the sequential restatement lives
    * independently in graft.oracle.ReferenceOracle.
    */
  private def extract(
      convId: String,
      turnIdx: Int,
      allSpans: Seq[Span],
      scorer: EntityLink.Scorer,
      preds: Map[String, String],
      rec: Recorder,
      // already-linked OPEN provisional mentions (see openLinked) —
      // merged with the scored gazetteer mentions by token position
      // (positions are disjoint: the open shape requires digits,
      // gazetteer surfaces are all-letter, mirroring
      // ReferenceOracle.openTriples' independent scans)
      openLinked: Seq[(Int, Int, String, Double)] = Nil)
      : Iterator[Triple] = {
    rec.turns += 1
    val spans = allSpans.sortBy(s => (s.token_pos, s.token_len))
    // bigram-wins overlap resolution (mirrors ReferenceOracle)
    val covered = spans.iterator
      .filter(s => s.is_mention && s.token_len == 2)
      .flatMap(s => Iterator(s.token_pos, s.token_pos + 1)).toSet
    val mentions = spans.filter(s => s.is_mention &&
      (s.token_len == 2 || !covered.contains(s.token_pos)))
    val predSpans = spans.filter(!_.is_mention)

    val closedLinked = mentions.flatMap { m =>
      scorer.link(m.surface).map { case (id, score) =>
        (m.token_pos, m.token_len, id, score)
      }
    }
    val linked =
      if (openLinked.isEmpty) closedLinked
      else (closedLinked ++ openLinked).sortBy(_._1)
    rec.mentions += linked.size
    linked.sliding(2).flatMap {
      case Seq((pos1, len1, id1, s1), (pos2, _, id2, s2)) =>
        val gapStart = pos1 + len1
        predSpans
          .find(p => p.token_pos >= gapStart && p.token_pos < pos2)
          .map { p =>
            rec.triples += 1
            Triple(convId, turnIdx, id1, preds(p.surface), id2,
              math.min(s1, s2))
          }
      case _ => None
    }
  }

  /** an OPEN unigram as a pre-linked provisional mention
    * (token_pos, token_len, entity_id = `open:<surface>`, score 1.0)
    */
  private def openLinked(pos: Int, surface: String) =
    (pos, 1, "open:" + surface, 1.0)

  /** Span groups (MentionDetect.spanCandidates) -> triples. Groups that
    * carry an `open` column (spanCandidates with an open shape pattern)
    * also link their open unigrams, exactly as the fused per-row pass
    * of [[timedTriplesFromTurns]] does.
    */
  def triples(
      spark: SparkSession,
      turnSpans: DataFrame,
      entities: Seq[Entity],
      minScore: Double,
      predicates: Map[String, String],
      metrics: Option[org.apache.spark.util.CollectionAccumulator[PartitionMetrics]] = None,
      prebuiltIndex: Option[IndexedSeq[(String, Array[Float])]] = None)
      : Dataset[Triple] = {
    import spark.implicits._
    val bcIndex = spark.sparkContext.broadcast(
      prebuiltIndex.getOrElse(EntityLink.buildIndex(entities)))
    val bcPreds = spark.sparkContext.broadcast(predicates)

    val groups =
      if (turnSpans.columns.contains("open")) turnSpans
      else turnSpans.withColumn("open",
        lit(null).cast("array<struct<token_pos:int,surface:string>>"))
    groups.as[TurnSpans].mapPartitions { it =>
      // pooled per-partition state: index + surface memo (reference:
      // reused inference session across batches)
      val scorer = new EntityLink.Scorer(bcIndex.value, minScore)
      val preds = bcPreds.value
      val rec = new Recorder(metrics)
      it.flatMap { t =>
        val open =
          if (t.open == null) Nil
          else t.open.map(o => openLinked(o.token_pos, o.surface))
        extract(t.conv_id, t.turn_idx, t.spans, scorer, preds, rec, open)
      } ++ rec.sentinel
    }
  }

  final case class TimedTriple(
      conv_id: String, turn_idx: Int, subj: String, pred: String,
      obj: String, score: Double, ts: java.sql.Timestamp)

  /** Per-row (shuffle-free, stream-safe) variant: candidate detection,
    * resolution, linking and pairing all inside one mapPartitions over
    * raw turns — no aggregation state, so it runs unchanged on a
    * streaming Dataset in append mode. Uses the shared plain-Scala
    * tokenizer spec (graft.text.TextOps.tokenizeString).
    *
    * `openShapePattern` (the OPEN fused fast path, KgPipeline.runOpen):
    * when set, every token matching the pattern that is not a token of
    * any gazetteer surface additionally becomes a pre-linked
    * provisional mention `open:<token>` with score 1.0 — shape
    * detection and open linking fold into the SAME pooled pass instead
    * of composing three more shuffling operators (the per-triple cost
    * that made the r4 kg_open datapoint ~6x the closed fast path).
    */
  def timedTriplesFromTurns(
      spark: SparkSession,
      turns: Dataset[graft.schema.Turn],
      gazetteer: Seq[String],
      entities: Seq[Entity],
      minScore: Double,
      predicates: Map[String, String],
      metrics: Option[org.apache.spark.util.CollectionAccumulator[PartitionMetrics]] = None,
      prebuiltIndex: Option[IndexedSeq[(String, Array[Float])]] = None,
      openShapePattern: Option[String] = None)
      : Dataset[TimedTriple] = {
    import spark.implicits._
    val bcIndex = spark.sparkContext.broadcast(
      prebuiltIndex.getOrElse(EntityLink.buildIndex(entities)))
    val bcPreds = spark.sparkContext.broadcast(predicates)
    val bcGazUni = spark.sparkContext.broadcast(
      gazetteer.filterNot(_.contains(' ')).toSet)
    val bcGazBi = spark.sparkContext.broadcast(
      gazetteer.filter(_.contains(' ')).toSet)
    // oracle contract (ReferenceOracle.openTriples): a shape-matching
    // token that is a token of ANY gazetteer surface is never open
    val bcGazToks = spark.sparkContext.broadcast(
      gazetteer.flatMap(_.split(" ")).toSet)
    val openPattern = openShapePattern.orNull

    turns.mapPartitions { it =>
      val scorer = new EntityLink.Scorer(bcIndex.value, minScore)
      val preds = bcPreds.value
      val (gazUni, gazBi) = (bcGazUni.value, bcGazBi.value)
      val gazToks = bcGazToks.value
      // compiled once per partition (a per-row Pattern compile is the
      // exact trap TextOps documents for split)
      val openRe =
        if (openPattern == null) null
        else java.util.regex.Pattern.compile(openPattern)
      val rec = new Recorder(metrics)
      it.flatMap { t =>
        val toks = graft.text.TextOps.tokenizeString(t.text)
        val spans = Seq.newBuilder[Span]
        val open = Seq.newBuilder[(Int, Int, String, Double)]
        var i = 0
        while (i < toks.length) {
          if (gazUni.contains(toks(i)))
            spans += Span(i, 1, toks(i), is_mention = true)
          if (preds.contains(toks(i)))
            spans += Span(i, 1, toks(i), is_mention = false)
          if (i + 1 < toks.length) {
            val bg = toks(i) + " " + toks(i + 1)
            if (gazBi.contains(bg))
              spans += Span(i, 2, bg, is_mention = true)
          }
          // find(), not matches(): the staged branch's spanCandidates
          // uses rlike (substring FIND) — with the default anchored
          // OpenShapePattern the two agree, but a caller-supplied
          // unanchored pattern must yield the same triples on both
          // sides of gazetteerFastPathMax
          if (openRe != null && openRe.matcher(toks(i)).find() &&
              !gazToks.contains(toks(i)))
            open += openLinked(i, toks(i))
          i += 1
        }
        extract(t.conv_id, t.turn_idx, spans.result(), scorer, preds, rec,
            open.result())
          .map(tr => TimedTriple(tr.conv_id, tr.turn_idx, tr.subj, tr.pred,
            tr.obj, tr.score, t.ts))
      } ++ rec.sentinel
    }
  }
}
