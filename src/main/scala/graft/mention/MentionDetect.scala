package graft.mention

import graft.schema.Mention
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Gazetteer mention detection (SURVEY.md §2.2 P3-P5).
  *
  * Reference behavior: exploded-token POS/NER span filters
  * (word_sense_multimodal_pipeline.py:239-277) + TextMatcher gazetteer
  * (:187-191). Spark-first design: candidate spans (unigrams + bigrams)
  * are built per row with array HOFs — zero shuffles — then matched with a
  * single broadcast hash join against the gazetteer. No window functions,
  * no UDFs; everything stays inside whole-stage codegen until the
  * broadcast join.
  *
  * Overlap rule (deterministic, mirrored by the oracle): a bigram match
  * wins over any unigram match at either of its two positions.
  */
object MentionDetect {

  /** Per-turn span groups for the fused pipeline: candidate spans
    * (unigrams + bigrams) are matched against the broadcast gazetteer
    * (mention spans) and the predicate-trigger dictionary (pred spans),
    * then grouped per (conv_id, turn_idx) — shuffle-free when the input
    * is already hash-partitioned at turn granularity. A token that is
    * both a gazetteer surface and a predicate trigger yields one row of
    * each kind, matching the oracle's independent gap scan.
    *
    * `openShapePattern` (the open pipeline's staged path): when set,
    * the unigrams [[openMentions]] would detect — tokens matching the
    * pattern that are no token of any gazetteer surface — are also
    * collected per turn, in the same pass, as an `open` column;
    * TurnExtract.triples links them as provisional `open:<surface>`
    * entities exactly as the fused per-row pass does.
    *
    * Output: (conv_id, turn_idx,
    *          spans: array<struct<token_pos, token_len, surface,
    *          is_mention>>
    *          [, open: array<struct<token_pos, surface>>]) — consumed by
    *          graft.extract.TurnExtract.
    */
  def spanCandidates(
      spark: SparkSession,
      turns: DataFrame,
      gazetteer: Seq[String],
      predicates: Map[String, String],
      openShapePattern: Option[String] = None): DataFrame = {
    import spark.implicits._
    val gaz = gazetteer.toDF("surface").withColumn("__gaz", lit(1))
    val predMap = typedlit(predicates)
    val matched = candidateSpans(spark, turns)
      .join(broadcast(gaz), Seq("surface"), "left")
    val (withToks, openFlag) = openShapePattern match {
      case None => (matched, lit(false))
      case Some(p) =>
        val toks = gazetteerTokens(spark, gazetteer)
          .withColumn("__tok", lit(1))
        (matched.join(broadcast(toks), Seq("surface"), "left"),
          $"token_len" === 1 && $"surface".rlike(p) && $"__tok".isNull)
    }
    val flagged = withToks
      .select($"conv_id", $"turn_idx", $"token_pos", $"token_len",
        $"surface",
        $"__gaz".isNotNull.as("gm"),
        ($"token_len" === 1 && map_contains_key(predMap, $"surface"))
          .as("pm"),
        openFlag.as("om"))
      .filter($"gm" || $"pm" || $"om")
    // one conditional collect per span kind (collect_list skips the
    // NULLs of non-matching rows): a token that is both a gazetteer
    // surface and a trigger lands in both lists
    def kind(flag: String, isMention: Boolean) =
      collect_list(when(col(flag), struct($"token_pos", $"token_len",
        $"surface", lit(isMention).as("is_mention"))))
    val open = openShapePattern.map(_ =>
      collect_list(when($"om", struct($"token_pos", $"surface"))).as("open"))
    flagged
      .groupBy($"conv_id", $"turn_idx")
      .agg(concat(kind("gm", isMention = true), kind("pm", isMention = false))
        .as("spans"), open.toSeq: _*)
  }

  /** Candidate spans = unigrams ++ bigrams in ONE array, exploded by the
    * codegen'd posexplode generator: element p < n is the unigram at
    * token position p; element p >= n is the bigram starting at p - n
    * (null-padded at the tail). The token array is let-bound so
    * tokenization runs once per row (see TextOps.let); the only
    * interpreted HOF left is one zip_with for the bigram strings —
    * building (pos, len, surface) struct arrays per row instead measured
    * ~2x slower at 32 threads.
    */
  private def candidateSpans(
      spark: SparkSession,
      turns: DataFrame): DataFrame = {
    import spark.implicits._
    val combined = TextOps.let(TextOps.tokens($"text")) { toks =>
      val n = size(toks)
      val shifted = concat(slice(toks, lit(2), greatest(n - 1, lit(0))),
        array(lit(null).cast("string")))
      val bigrams = zip_with(toks, shifted,
        (a, b) => when(b.isNotNull, concat_ws(" ", a, b)))
      concat(toks, bigrams)
    }
    turns
      .withColumn("combined_spans", combined)
      .select($"conv_id", $"turn_idx",
        (size($"combined_spans") / 2).cast("int").as("n_toks"),
        posexplode($"combined_spans"))
      .withColumnRenamed("col", "surface")
      .filter($"surface".isNotNull)
      .select($"conv_id", $"turn_idx",
        when($"pos" < $"n_toks", $"pos").otherwise($"pos" - $"n_toks")
          .as("token_pos"),
        when($"pos" < $"n_toks", 1).otherwise(2).as("token_len"),
        $"surface")
  }

  /** Default token shape for OPEN (non-gazetteer) entity detection:
    * letters followed by >= 2 digits — service/resource-style names;
    * disjoint by construction from the all-letter gazetteer, filler,
    * and predicate vocabularies.
    */
  val OpenShapePattern = "^[a-z]+[0-9]{2,}$"

  /** Shape-heuristic OPEN mention detection (SURVEY.md §4.3.2's open
    * entity set; reference analog: corpus-derived cluster/synset sets,
    * word_sense_pipeline.py:241-252 — entities come from the data, not
    * a fixed vocabulary). Unigram tokens matching `shapePattern` that
    * are not a token of ANY gazetteer surface become provisional
    * mentions; the caller assigns them `open:<surface>` entity ids and
    * canonicalizes them with Canonicalize.canonicalMapDf. Pure
    * Catalyst: tokenize -> posexplode -> rlike filter -> broadcast
    * anti-join (the gazetteer-token table is driver-small by the same
    * contract as the gazetteer broadcast).
    */
  def openMentions(
      spark: SparkSession,
      turns: DataFrame,
      gazetteer: Seq[String],
      shapePattern: String = OpenShapePattern): Dataset[Mention] = {
    import spark.implicits._
    val gazToks = gazetteerTokens(spark, gazetteer)
    turns
      .select($"conv_id", $"turn_idx",
        posexplode(TextOps.tokens($"text")).as(Seq("token_pos", "surface")))
      .filter($"surface".rlike(shapePattern))
      .join(broadcast(gazToks), Seq("surface"), "left_anti")
      .select($"conv_id", $"turn_idx", $"token_pos",
        lit(1).as("token_len"), $"surface")
      .as[Mention]
  }

  /** every token of any gazetteer surface, one `surface` row each */
  private def gazetteerTokens(
      spark: SparkSession, gazetteer: Seq[String]): DataFrame = {
    import spark.implicits._
    gazetteer.flatMap(_.split(" ")).distinct.toDF("surface")
  }

  /** turns(conv_id, turn_idx, text, ...) -> Dataset[Mention]. */
  def mentions(
      spark: SparkSession,
      turns: DataFrame,
      gazetteer: Seq[String]): Dataset[Mention] = {
    import spark.implicits._

    val gaz = gazetteer.toDF("surface")

    val matched = candidateSpans(spark, turns)
      .join(broadcast(gaz), Seq("surface"), "left_semi")

    // bigram-wins overlap resolution: drop unigram matches whose position
    // is covered by a bigram match in the same turn. Implemented as
    // groupBy (conv, turn) + array filter + explode: when the input is
    // already hash-partitioned by conv_id (KgPipeline's entry
    // repartition) the aggregation needs NO exchange and NO sort —
    // a Window here kept the partitioning too but paid a per-group
    // sort + WindowExec buffering (stack-sampled hotspot); a self-join
    // re-evaluated the candidate pipeline per branch (3x cost).
    val out = matched
      .groupBy($"conv_id", $"turn_idx")
      .agg(collect_list(
        struct($"token_pos", $"token_len", $"surface")).as("ms"))
      .select($"conv_id", $"turn_idx",
        explode(filter($"ms", m =>
          m("token_len") === 2 ||
            !exists($"ms", b => b("token_len") === 2 &&
              (b("token_pos") === m("token_pos") ||
                b("token_pos") === m("token_pos") - 1)))).as("m"))
      .select($"conv_id", $"turn_idx",
        $"m.token_pos", $"m.token_len", $"m.surface")

    out.select($"conv_id", $"turn_idx", $"token_pos", $"token_len",
      $"surface").as[Mention]
  }
}
