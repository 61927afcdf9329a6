package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup._
import graft.operators.SimilaritySearch

/** Brute-force and self-join reference forms of the embedding near-dup
  * operators — the oracles the Dedup specs compare the scale paths against.
  */
object DedupOracles {

  /** Exact-content dedup at embedding level: pairs of vectors with cosine
    * similarity ≥ threshold. Brute-force all-pairs — quadratic, the
    * small-scale oracle of [[embeddingNearDupJoin]] /
    * [[embeddingNearDupPairsLsh]], which bucket candidates with banded
    * sign-bit LSH and never materialize the cross join.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val a = v.select(col("id").as("id_a"), col("v").as("va"))
    val b = v.select(col("id").as("id_b"), col("v").as("vb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", SimilaritySearch.cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b")
  }

  /** All near-dup pairs inside one frame through [[embeddingNearDupJoin]]:
    * the frame is passed as both sides of the bipartite join, and the
    * `id_a < id_b` filter drops the self-pairs and mirrored orderings
    * that emits, giving the brute-force [[embeddingNearDupPairs]]
    * contract with candidates via banded LSH buckets.
    */
  def embeddingNearDupPairsLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bands: Int = AutoGeometry,
      bitsPerBand: Int = AutoGeometry,
      seed: Long = 42L,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    embeddingNearDupJoin(
      df, idCol, vecCol, df, idCol, vecCol, threshold, bands, bitsPerBand, seed, maxBucket)
      .filter(col("id_a") < col("id_b"))
}
