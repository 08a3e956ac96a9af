package kgbench

import graft.gen.TranscriptGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import scala.util.hashing.MurmurHash3

/** Seeded inputs drawn from the program's own deterministic generator,
  * which is left unchanged: each workload generates a pool twice as
  * large than it needs and keeps the conversations that a seed-keyed
  * hash ranks first. The same seed always keeps the same conversations;
  * the kept count is exact, so every seed does the same amount of work.
  */
object Inputs {
  val PoolFactor = 2

  private def rank(id: String, seed: Long, salt: Int): (Int, String) =
    (MurmurHash3.stringHash(id, MurmurHash3.mix((seed ^ (seed >>> 32)).toInt, salt)), id)

  /** the `n` ids of `ids` that rank first under (seed, salt) */
  def pick(ids: Seq[String], n: Int, seed: Long, salt: Int): IndexedSeq[String] =
    ids.sortBy(rank(_, seed, salt)).take(n).toIndexedSeq

  /** conversation ids of a pool of `pool` conversations, as the
    * generator formats them
    */
  def poolIds(prefix: String, pool: Int): Seq[String] =
    (0 until pool).map(i => f"$prefix%s$i%06d")

  /** closed-vocabulary transcripts with one hot conversation (`conv_hot`,
    * kept on every seed)
    */
  def closed(spark: SparkSession, seed: Long, convs: Int, hotTurns: Int,
      parts: Int): (DataFrame, IndexedSeq[String]) = {
    val keep = pick(poolIds("conv_", convs * PoolFactor), convs, seed, 1)
    val df = TranscriptGen.transcripts(spark, convs * PoolFactor, 8,
        hotTurns = hotTurns, partitions = parts).toDF()
      .filter(col("conv_id").isin(("conv_hot" +: keep): _*))
    (df, keep)
  }

  /** wide open-vocabulary transcripts (`nBases` provisional names) */
  def openWide(spark: SparkSession, seed: Long, convs: Int, nBases: Int,
      parts: Int): (DataFrame, IndexedSeq[String]) = {
    val keep = pick(poolIds("conv_openw_", convs * PoolFactor), convs, seed, 1)
    val df = TranscriptGen.openTranscriptsWide(spark, convs * PoolFactor, 8,
        nBases, partitions = parts).toDF()
      .filter(col("conv_id").isin(keep: _*))
    (df, keep)
  }
}
