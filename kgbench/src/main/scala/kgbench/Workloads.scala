package kgbench

import graft.canon.Canonicalize
import graft.ckpt.Checkpoint
import graft.dedup.Dedup
import graft.extract.TurnExtract
import graft.gen.Vocab
import graft.graph.Materialize
import graft.io.ParquetSnapshotFormat
import graft.link.EntityLink
import graft.mention.MentionDetect
import graft.oracle.ReferenceOracle
import graft.pipeline.KgPipeline
import graft.plans.LineageCut
import graft.schema.{Triple, Turn}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a table: row count plus the sum of a
  * per-row hash.
  */
final case class Checksum(rows: Long, hash: Long) {
  override def toString: String = s"$rows:$hash"
  def +(o: Checksum): Checksum = Checksum(rows + o.rows, hash + o.hash)
}

object Checksum {
  private def digest(df: DataFrame, cols: Seq[Column]): Checksum = {
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(cols: _*),
      lit(1L << 40))), lit(0L))).head()
    Checksum(r.getLong(0), r.getLong(1))
  }

  def parse(s: String): Checksum = {
    val Array(r, h) = s.split(":")
    Checksum(r.toLong, h.toLong)
  }

  /** digest of (conv_id, turn_idx, subj, pred, obj) */
  def of(triples: Dataset[_]): Checksum =
    digest(triples.toDF(), Seq("conv_id", "turn_idx", "subj", "pred", "obj")
      .map(col))

  /** digest of every column of a query result. A floating-point value
    * is hashed as (mantissa rounded to 8 significant digits, decimal
    * exponent), so a different summation order, which moves only the
    * last bits, reads the same.
    */
  def ofRows(df: DataFrame): Checksum =
    digest(df, df.schema.fields.toSeq.map(f => stable(col(f.name), f.dataType)))

  private def stable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val x = c.cast(DoubleType)
      val e = floor(log10(abs(x)))
      when(x.isNull || isnan(x) || x === 0.0, struct(x, lit(0L)))
        .otherwise(struct(round(x / pow(lit(10.0), e), 7), e))
    case ArrayType(et, _) => transform(c, stable(_, et))
    case StructType(fs) =>
      struct(fs.toSeq.map(f => stable(c.getField(f.name), f.dataType)): _*)
    case _ => c
  }
}

/** Recorded outputs (`kgbench/expected.json`): the KG workloads'
  * digests on the recorded seed, and the seed-independent query digests
  * and jaccard pair counts over the fixed query tables.
  */
object Expected {
  private lazy val json = {
    val f = new java.io.File("kgbench/expected.json")
    if (f.exists()) Some(new com.fasterxml.jackson.databind.ObjectMapper().readTree(f))
    else None
  }

  private def field(section: String, key: String) =
    json.flatMap(j => Option(j.get(section))).flatMap(s => Option(s.get(key)))
      .map(_.asText())

  def output(seed: Long, key: String): Option[Checksum] =
    json.filter(_.get("seed").asLong() == seed)
      .flatMap(_ => field("outputs", key)).map(Checksum.parse)

  def query(name: String): Option[Checksum] = field("queries", name).map(Checksum.parse)

  /** (candidates, verified) at a threshold such as "0.1" */
  def jaccard(threshold: String): Option[(Long, Long)] =
    field("jaccard", threshold).map { v =>
      val Array(c, n) = v.split("/"); (c.toLong, n.toLong)
    }
}

/** One executed iteration: the output digest, the canonicalization
  * branch when the program reports it, the timed part's wall, extra
  * end-to-end figures, any output-check failures, and the oracle check
  * of the output. The oracle check runs on the first iteration and on
  * any whose digest differs from the reference: an equal digest is an
  * equal output, which the first iteration's check already covers.
  */
final case class Outcome(sum: Checksum, canonPath: String, wallNs: Long,
    extra: Map[String, Double] = Map.empty, errors: Seq[String] = Nil,
    oracle: () => Seq[String] = () => Nil)

/** A workload bound to one seed. `prepare` writes its inputs (untimed);
  * `iterate` calls the program through its public entry points;
  * `traced` makes the same computation through each layer's public
  * functions inside spans and returns the per-layer counts it reads.
  */
abstract class Workload(val seed: Long, val dir: String, val parts: Int) {
  /** the recorded output for this seed, if there is one; otherwise the
    * run's first iteration is the reference
    */
  def recorded: Option[Checksum]
  /** the canonicalization branch every iteration must report */
  def canonPathExpected: String
  /** iterations the measuring window holds at least, however short it is */
  def minIterations: Int = 1
  def prepare(spark: SparkSession): Unit
  def iterate(spark: SparkSession): Outcome
  def traced(spark: SparkSession, t: Tracer): (Outcome, Map[String, Double])
  /** one more checked execution after the untraced iterations of a
    * traced run, with the figures it measures
    */
  def afterUntraced(spark: SparkSession): Option[Outcome] = None
  /** dedup-layer pair counts made outside the traced iteration, with
    * the failures of their checks; None when the workload has none
    */
  def probes(spark: SparkSession, t: Tracer): Option[(Map[String, Double], Seq[String])] = None
  /** a once-per-traced-run check beyond the per-iteration ones; None
    * when the workload has none
    */
  def checkOnce(spark: SparkSession, reference: Checksum): Option[Seq[String]] = None

  protected def turnsPath = s"$dir/turns"
  protected var sampleIds: IndexedSeq[String] = IndexedSeq.empty
  protected var sampleTurns: Seq[Turn] = Nil

  protected def turns(spark: SparkSession): DataFrame =
    spark.read.parquet(turnsPath)

  protected def timed[T](f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = f
    (r, System.nanoTime() - t0)
  }

  protected def writeInputs(df: DataFrame, keep: IndexedSeq[String],
      spark: SparkSession, extraSample: Seq[String]): Unit = {
    import spark.implicits._
    df.write.mode("overwrite").parquet(turnsPath)
    sampleIds = Inputs.pick(keep, 150, seed, 2) ++ extraSample
    sampleTurns = turns(spark).filter(col("conv_id").isin(sampleIds: _*))
      .as[Turn].collect().toSeq.sortBy(t => (t.conv_id, t.turn_idx))
  }

  protected def prCheck(got: Seq[Triple], expected: Seq[Triple]): Seq[String] = {
    val (p, r) = ReferenceOracle.precisionRecall(got, expected)
    if (expected.isEmpty) Seq("oracle sample produced no triples")
    else if (p < 0.95 || r < 0.95)
      Seq(f"P/R vs ReferenceOracle below 0.95: precision=$p%.4f recall=$r%.4f")
    else Nil
  }

  /** the oracle's triples for the sample conversations (relabeled by
    * the oracle's canonical map where the oracle can afford one)
    */
  protected var oracleRaw: Seq[Triple] = Nil

  protected def sampleOf(triples: Dataset[Triple], spark: SparkSession): Seq[Triple] = {
    import spark.implicits._
    triples.filter(col("conv_id").isin(sampleIds: _*)).as[Triple].collect().toSeq
  }
}

object Workloads {
  val Names = Seq("closed_staged_ckpt", "open_wide", "queries_jaccard")

  def apply(name: String, seed: Long, dir: String, parts: Int): Workload =
    name match {
      case "closed_staged_ckpt" => new ClosedStagedCkpt(seed, dir, parts)
      case "open_wide" => new OpenWide(seed, dir, parts)
      case "queries_jaccard" => new JaccardQueries(seed, dir, parts)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
    }

  val cut: LineageCut = LineageCut.Default

  private def file(path: String) = new java.io.File(path)

  def du(path: String): Long =
    if (file(path).exists()) FileUtils.sizeOfDirectory(file(path)) else 0L

  def parquetFiles(path: String): Long =
    if (file(path).exists())
      FileUtils.listFiles(file(path), Array("parquet"), true).size.toLong
    else 0L

  def delete(path: String): Unit = FileUtils.deleteQuietly(file(path))
}

/** Closed-gazetteer pipeline in its production configuration: the
  * gazetteer is padded past GazetteerFastPathMax with surfaces no
  * generated text contains, so the program itself dispatches to the
  * staged join path; every stage is checkpointed and the graph is
  * materialized. A traced run also resumes once over the committed
  * root after its untraced iterations, and runs the fused side of the
  * same dispatch as a cross-check: both sides must emit identical
  * triples.
  */
final class ClosedStagedCkpt(seed: Long, dir: String, parts: Int)
    extends Workload(seed, dir, parts) {
  import Workloads._

  val Convs = 2000
  val HotTurns = 400

  def recorded = Expected.output(seed, "closed")
  def canonPathExpected = "local"

  private val entities = Vocab.entities
  private val fusedGazetteer = Vocab.gazetteer
  private val gazetteer: Seq[String] = fusedGazetteer ++
    (0 until KgPipeline.GazetteerFastPathMax + 1 - fusedGazetteer.size)
      .map(i => f"zzpad$i%06d")
  private def ckptRoot = s"$dir/ckpt"
  private def kgDir = s"$dir/kg"

  def prepare(spark: SparkSession): Unit = {
    val (df, keep) = Inputs.closed(spark, seed, Convs, HotTurns, parts)
    writeInputs(df, keep, spark, Seq("conv_hot"))
    val canon = ReferenceOracle.canonicalMap(entities)
    oracleRaw = ReferenceOracle.triples(sampleTurns).map(tr => tr.copy(
      subj = canon.getOrElse(tr.subj, tr.subj),
      obj = canon.getOrElse(tr.obj, tr.obj)))
  }

  private def run(spark: SparkSession, ckpt: Boolean, gaz: Seq[String] = gazetteer) =
    KgPipeline.run(spark, turns(spark), gazetteer = gaz,
      checkpointRoot = if (ckpt) Some(ckptRoot) else None,
      shufflePartitions = parts)

  def iterate(spark: SparkSession): Outcome = {
    delete(ckptRoot); delete(kgDir)
    val ((sum, triples), ns) = timed {
      val r = run(spark, ckpt = true)
      KgPipeline.materialize(spark, r, kgDir)
      (Checksum.of(r.triples), r.triples)
    }
    Outcome(sum, canonPath, ns,
      oracle = () => prCheck(sampleOf(triples, spark), oracleRaw))
  }

  /** the branch KgPipeline.run's Canonicalize.canonicalMap(spark,
    * entities) takes: driver all-pairs up to LocalCanonMaxEntities
    */
  private def canonPath =
    if (entities.size <= Canonicalize.LocalCanonMaxEntities) "local" else "distributed"

  /** resumes over the root the last iteration committed: every stage
    * must load, none recompute, and the output must not change
    */
  override def afterUntraced(spark: SparkSession): Option[Outcome] = {
    val storage = du(ckptRoot) + du(kgDir)
    val ((sum, stats), ns) = timed {
      val r = run(spark, ckpt = true)
      (Checksum.of(r.triples), r.stats)
    }
    Some(Outcome(sum, "", ns,
      Map("ckpt.resume_s" -> ns / 1e9, "ckpt.storage_mb" -> storage / 1e6),
      if (stats.exists(!_.skipped)) Seq("resume recomputed a committed stage")
      else Nil))
  }

  /** KgPipeline.run's staged, checkpointed composition, layer by layer */
  def traced(spark: SparkSession, t: Tracer): (Outcome, Map[String, Double]) = {
    import spark.implicits._
    delete(ckptRoot); delete(kgDir)
    val acc = spark.sparkContext
      .collectionAccumulator[TurnExtract.PartitionMetrics]("kgbench.extract")
    var mentionRows = 0L
    val (sum, ns) = timed(t.span("iteration") {
      val in = turns(spark)
      val turnsP = in.repartition(parts, in("conv_id"), in("turn_idx"))
      def stage(n: String, inputs: Seq[String])(f: => DataFrame): DataFrame =
        t.span(s"ckpt.$n")(Checkpoint.stage(spark, ckptRoot, n, inputs,
          "kgbench")(f)._1)
      val idxDf = stage("entity_index", Seq("entities")) {
        EntityLink.buildIndex(entities).map { case (id, v) => (id, v.toSeq) }
          .toDF("entity_id", "vec")
      }
      val index = idxDf.orderBy("entity_id").collect()
        .map(r => (r.getString(0), r.getSeq[Float](1).toArray)).toIndexedSeq
      val spans = stage("turn_spans", Seq("turns", "gazetteer")) {
        t.span("mention.spans")(cut.cut(MentionDetect.spanCandidates(
          spark, turnsP, gazetteer, Vocab.predicates)))
      }
      mentionRows = spans.count()
      val raw = stage("triples", Seq("turn_spans", "entity_index")) {
        t.span("extract")(cut.cut(TurnExtract.triples(spark, spans,
          entities, Vocab.minLinkScore, Vocab.predicates, Some(acc),
          prebuiltIndex = Some(index)).toDF()))
      }
      val map = stage("canonical_map", Seq("entity_index")) {
        t.span("canon")(Canonicalize.canonicalMap(spark, entities))
      }
      val rel = stage("triples_canonical", Seq("triples", "canonical_map")) {
        t.span("graph.relabel")(cut.cut(Materialize.relabel(spark,
          raw.as[Triple], map, knownMapSize = Some(entities.size.toLong))
          .toDF()))
      }
      val nodes = stage("nodes", Seq("canonical_map", "entity_index")) {
        t.span("graph.nodes")(cut.cut(Materialize.nodes(spark, entities, map).toDF()))
      }
      val edges = stage("edges", Seq("triples_canonical")) {
        t.span("graph.edges")(cut.cut(Materialize.edges(spark, rel.as[Triple]).toDF()))
      }
      t.span("io.write") {
        val f = ParquetSnapshotFormat
        f.write(spark, nodes, f.tableName(kgDir, "nodes"), Nil,
          Seq("canonical_map", "entity_index"))
        f.write(spark, edges, f.tableName(kgDir, "edges"), Seq("pred"),
          Seq("triples_canonical"))
      }
      t.span("digest")(Checksum.of(rel))
    })
    import scala.jdk.CollectionConverters._
    val pm = acc.value.asScala.toSeq
    val counts = Map(
      "extract.linked_mentions" -> pm.map(_.linked_mentions).sum.toDouble,
      "extract.triples_out" -> pm.map(_.triples).sum.toDouble,
      "mention.rows_out" -> mentionRows.toDouble,
      "io.files" -> parquetFiles(kgDir).toDouble)
    (Outcome(sum, canonPath, ns), counts)
  }

  override def checkOnce(spark: SparkSession, reference: Checksum)
      : Option[Seq[String]] = Some {
    import spark.implicits._
    // the fused side of the gazetteer-size dispatch on the same input
    val fused = cut.cut(run(spark, ckpt = false, gaz = fusedGazetteer)
      .triples.toDF()).as[Triple]
    val fusedSum = Checksum.of(fused)
    prCheck(sampleOf(fused, spark), oracleRaw) ++
      (if (fusedSum != reference)
        Seq(s"fused and staged paths disagree: $reference vs $fusedSum") else Nil)
  }
}

/** Open-entity pipeline over a wide provisional vocabulary, sized so
  * canonicalization takes the fully distributed branch (exact candidate
  * edges, then pointer-jumping connected components). Nothing is
  * written.
  */
final class OpenWide(seed: Long, dir: String, parts: Int)
    extends Workload(seed, dir, parts) {
  import Workloads._

  val Convs = 2000
  val NBases = 1100
  val Threshold = 0.5

  def recorded = Expected.output(seed, "open_wide")
  def canonPathExpected = "distributed-cc"

  private val entities = Vocab.entities
  private val gazetteer = Vocab.gazetteer
  /** canon.edges of the last traced iteration */
  private var lastEdges = -1L

  /** the distinct open surfaces of the corpus */
  private def surfaces(spark: SparkSession, in: DataFrame): DataFrame =
    MentionDetect.openMentions(spark, in, gazetteer).toDF()
      .select(col("surface")).distinct()

  /** the table runOpen canonicalizes: the closed entities plus one
    * provisional entity per open surface
    */
  private def entityTable(spark: SparkSession, surf: DataFrame): DataFrame = {
    import spark.implicits._
    entities.map(e => (e.entity_id, e.canonical +: e.aliases))
      .toDF("entity_id", "surfaces")
      .unionByName(surf.select(concat(lit("open:"), $"surface").as("entity_id"),
        array($"surface").as("surfaces")))
  }

  def prepare(spark: SparkSession): Unit = {
    val (df, keep) = Inputs.openWide(spark, seed, Convs, NBases, parts)
    writeInputs(df, keep, spark, Nil)
    oracleRaw = ReferenceOracle.openTriples(sampleTurns)
  }

  /** runOpen, with its triples held in memory so the output checks
    * below read them without recomputing
    */
  def iterate(spark: SparkSession): Outcome = {
    import spark.implicits._
    val ((sum, r, triples), ns) = timed {
      val r = KgPipeline.runOpen(spark, turns(spark), shufflePartitions = parts,
        jaccardThreshold = Threshold)
      val triples = cut.cut(r.triples.toDF()).as[Triple]
      (Checksum.of(triples), r, triples)
    }
    // extraction against the oracle on the sample, relabeled through
    // the program's own canonical map (an exact all-pairs oracle map
    // over the whole vocabulary is out of a run's budget)
    def oracle(): Seq[String] = {
      val ids = oracleRaw.flatMap(tr => Seq(tr.subj, tr.obj)).distinct
      val canon = r.canonicalMap.filter(col("entity_id").isin(ids: _*))
        .as[(String, String)].collect().toMap
      val expected = oracleRaw.map(tr => tr.copy(
        subj = canon.getOrElse(tr.subj, tr.subj),
        obj = canon.getOrElse(tr.obj, tr.obj)))
      prCheck(sampleOf(triples, spark), expected)
    }
    Outcome(sum, r.canonPath, ns, oracle = () => oracle())
  }

  def traced(spark: SparkSession, t: Tracer): (Outcome, Map[String, Double]) = {
    import spark.implicits._
    val acc = spark.sparkContext
      .collectionAccumulator[TurnExtract.PartitionMetrics]("kgbench.extract")
    var openRows, edgeCount = 0L
    var rounds = 0
    val (sum, ns) = timed(t.span("iteration") {
      val in = turns(spark)
      val turnsP = in.repartition(parts, in("conv_id"), in("turn_idx"))
      val raw = t.span("extract") {
        cut.cut(TurnExtract.timedTriplesFromTurns(spark, turnsP.as[Turn],
          gazetteer, entities, Vocab.minLinkScore, Vocab.predicates, Some(acc),
          openShapePattern = Some(MentionDetect.OpenShapePattern)).drop("ts"))
      }
      val surf = t.span("mention.open_scan")(cut.cut(surfaces(spark, in)))
      openRows = surf.count()
      val map = t.span("canon") {
        val ent = entityTable(spark, surf)
        val probe = ent.limit(Canonicalize.LocalCanonMaxEntities + 1).collect()
        require(probe.length > Canonicalize.LocalCanonMaxEntities,
          "open_wide must exceed the local canonicalization cutoff")
        val entCut = cut.cut(ent)
        val edges = t.span("canon.edges") {
          val sh = Canonicalize.withShingles(entCut)
            .select(col("entity_id"), col("shingles"))
          t.span("dedup.pairs")(cut.cut(Dedup.jaccardPairsOnSets(sh,
            "entity_id", "shingles", Threshold, cut).select(col("src"), col("dst"))))
        }
        edgeCount = edges.count()
        require(edgeCount > Canonicalize.LocalComponentsMaxEdges,
          "open_wide must exceed the local connected-components cutoff")
        t.drain()
        val before = t.rounds.rounds
        val m = t.span("canon.cc")(cut.cut(Canonicalize.connectedComponentsFast(
          spark, entCut.select(col("entity_id")), edges, cut = cut)))
        t.drain()
        rounds = t.rounds.rounds - before
        m
      }
      t.span("graph.relabel") {
        Checksum.of(Materialize.relabel(spark, raw.as[Triple], map,
          knownMapSize = Some(map.count())))
      }
    })
    lastEdges = edgeCount
    import scala.jdk.CollectionConverters._
    val pm = acc.value.asScala.toSeq
    val counts = Map(
      "extract.linked_mentions" -> pm.map(_.linked_mentions).sum.toDouble,
      "extract.triples_out" -> pm.map(_.triples).sum.toDouble,
      "mention.rows_out" -> openRows.toDouble,
      "canon.edges" -> edgeCount.toDouble,
      "canon.cc_rounds" -> rounds.toDouble)
    (Outcome(sum, "distributed-cc", ns), counts)
  }

  /** the dedup layer's staged jaccard path, which reports candidate
    * and verified pair counts, over the very shingle sets canon.edges
    * joins (Canonicalize.withShingles: character 3-grams of every
    * surface). Each shingle is spelled as one hex token, so unigram
    * "text" shingling gives back exactly that set. The verified count
    * must equal canon.edges: the staged and the inline verification
    * of the same join agree.
    */
  override def probes(spark: SparkSession, t: Tracer)
      : Option[(Map[String, Double], Seq[String])] = Some {
    val docs = Canonicalize.withShingles(entityTable(spark, surfaces(spark, turns(spark))))
      .select(col("entity_id"),
        concat_ws(" ", transform(col("shingles"), hex(_))).as("text"))
    val (cand, verified) = t.span("dedup.stats")(
      Dedup.jaccardPairStats(docs, "entity_id", "text", Threshold, shingleN = 1))
    (Map("dedup.candidates" -> cand.toDouble, "dedup.verified" -> verified.toDouble,
      "dedup.verify_ratio" -> (if (cand > 0) verified.toDouble / cand else 0.0)),
      if (verified == lastEdges) Nil
      else Seq(s"dedup.verified $verified != canon.edges $lastEdges"))
  }
}

/** The two jaccard leaves of the headline queries (`SparkEntry.queries`
  * `q_dedup_jaccard` at threshold 0.1 and `q_dedup_jaccard_t07` at 0.7)
  * over a fixed documents table shipped with the benchmark
  * (`kgbench/data/sf0.001`). The table does not depend on the seed,
  * which only picks the order of the pass. Each query's whole result is
  * digested, which forces every column, and must equal the digest
  * recorded in expected.json.
  */
final class JaccardQueries(seed: Long, dir: String, parts: Int)
    extends Workload(seed, dir, parts) {
  import JaccardQueries._

  val tables: String = new java.io.File("kgbench/data/sf0.001").getAbsolutePath
  val order: Seq[String] = if (seed % 2 == 0) Names else Names.reverse

  def recorded: Option[Checksum] = {
    val rs = Names.flatMap(Expected.query)
    if (rs.size == Names.size) Some(rs.reduce(_ + _)) else None
  }
  def canonPathExpected = ""
  /** a pass takes about 4 s, and one sample of it moves by a sixth with
    * the load of a shared host; the median of three does not
    */
  override def minIterations = 3

  def prepare(spark: SparkSession): Unit =
    require(new java.io.File(tables, "documents.parquet").exists(),
      s"query tables missing under $tables")

  private def run(spark: SparkSession, q: String): Checksum =
    Checksum.ofRows(graft.SparkEntry.queries(q)(spark, tables))

  private def outcome(rs: Seq[(String, Checksum)], ns: Long): Outcome =
    Outcome(rs.map(_._2).reduce(_ + _), "", ns, errors = rs.flatMap { case (q, c) =>
      Expected.query(q) match {
        case Some(e) if e == c => Nil
        case Some(e) => Seq(s"$q: digest $c != recorded $e")
        case None => Seq(s"$q: digest $c, none recorded")
      }
    })

  def iterate(spark: SparkSession): Outcome = {
    val (rs, ns) = timed(order.map(q => q -> run(spark, q)))
    outcome(rs, ns)
  }

  /** each query as DedupQueries composes it: the dedup layer's
    * jaccardPairs over the documents table, then the query's ordering
    */
  def traced(spark: SparkSession, t: Tracer): (Outcome, Map[String, Double]) = {
    val (rs, ns) = timed(t.span("iteration")(order.map { q =>
      q -> t.span(s"queries.$q") {
        val docs = spark.read.parquet(s"$tables/documents.parquet")
        val pairs = t.span("dedup.pairs")(Workloads.cut.cut(
          Dedup.jaccardPairs(docs, "doc_id", "text", Thresholds(q)._2)))
        Checksum.ofRows(pairs.orderBy("src", "dst"))
      }
    }))
    (outcome(rs, ns), Map.empty)
  }

  /** the staged jaccard path's pair counts on the same documents at
    * both queries' thresholds: they must equal the recorded ones, and
    * the verified count must equal the query's row count
    */
  override def probes(spark: SparkSession, t: Tracer)
      : Option[(Map[String, Double], Seq[String])] = Some {
    val docs = spark.read.parquet(s"$tables/documents.parquet")
    val stats = Names.map { q =>
      val (key, th) = Thresholds(q)
      val (cand, verified) = t.span("dedup.stats")(
        Dedup.jaccardPairStats(docs, "doc_id", "text", th))
      val errs = (Expected.jaccard(key) match {
        case Some(e) if e == (cand, verified) => Nil
        case e => Seq(s"jaccard t$key pairs $cand/$verified, recorded ${e.getOrElse("none")}")
      }) ++ Expected.query(q).filter(_.rows != verified)
        .map(e => s"jaccard t$key verified $verified != $q rows ${e.rows}")
      (cand, verified, errs)
    }
    val (cand, verified, _) = stats.head
    (Map("dedup.candidates" -> cand.toDouble, "dedup.verified" -> verified.toDouble,
      "dedup.verify_ratio" -> (if (cand > 0) verified.toDouble / cand else 0.0)),
      stats.flatMap(_._3))
  }
}

object JaccardQueries {
  val Names = Seq("q_dedup_jaccard", "q_dedup_jaccard_t07")
  /** each query's threshold, with its key in expected.json */
  val Thresholds = Map(
    "q_dedup_jaccard" -> ("0.1" -> graft.queries.DedupQueries.JaccardThreshold),
    "q_dedup_jaccard_t07" -> ("0.7" -> 0.7))
}
