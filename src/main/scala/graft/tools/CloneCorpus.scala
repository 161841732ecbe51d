package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** THE clone-scale embedding construction, kept in one place
  * (r15 review: six tools and a spec carried verbatim copies, and one
  * copy diverged — a planted-id range collided with clone 90's id
  * space and corrupted a measurement. The id-space contract now lives
  * here, once).
  *
  * Embeddings: clone c of vector v gets vec_id = v + c·[[IdKey]], and
  * its values are the deterministic rotation + sign-flip perturbation
  * (element i ← element (i + 7c) mod dims, sign from xxhash64(c, i))
  * — cross-copy cosines pseudo-random, not 1.0, so the clones are
  * not exact duplicates of each other.
  *
  * ID-SPACE CONTRACT: base ids are < [[IdKey]] and mult ≤ 100, so
  * every clone id is < 100·IdKey = 10⁹. Anything a caller PLANTS on
  * top (ε-copies, probes) must use ids ≥ [[PlantFloor]]. */
object CloneCorpus {
  val IdKey = 10000000L
  val PlantFloor = 2000000000L

  /** The clone-scaled embedding relation (not yet written): mult
    * copies of `src`'s embeddings under the contract above. */
  def embeddingsDf(spark: SparkSession, src: String, mult: Int): DataFrame = {
    import spark.implicits._
    require(mult >= 1 && mult <= 100,
      s"CloneCorpus: mult=$mult outside 1..100 — the id-space contract " +
      s"keeps clone ids well under PlantFloor=$PlantFloor")
    val dims = graft.Tables.embeddings(spark, src)
      .select(size(col("embedding"))).head().getInt(0)
    val clones = spark.range(mult).select($"id".cast("int").as("c"))
    graft.Tables.embeddings(spark, src).crossJoin(clones).select(
      ($"vec_id" + $"c".cast("long") * IdKey).as("vec_id"),
      when($"c" === 0, $"embedding").otherwise(
        transform(sequence(lit(0), lit(dims - 1)), i =>
          (element_at($"embedding", pmod(i + lit(7) * $"c", lit(dims)) + 1) *
            when(pmod(xxhash64($"c", i), lit(2)) === 0, 1.0).otherwise(-1.0))
            .cast("float"))).as("embedding"),
      $"label")
  }
}
