package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The candidate-pair primitive behind every dedup / ANN family: MinHash
  * bands, SimHash band-pair keys, SRP-LSH tables and SemDeDup probe
  * clusters all reduce to "ids sharing a key are a candidate pair".
  *
  * Scale shape: the corpus never self-cross-joins. The self-join is an
  * equi-join on the keys, so its shuffle is keyed by bucket and only
  * colliding ids ever meet; it exchanges only the NARROW (keys, id) table.
  * Pairs are `distinct`'d while still narrow (a near-identical corpus makes
  * buckets fat: 2.9M raw join tuples for 24k distinct pairs on the 500-doc
  * test corpus), and the verify payload is joined back once per surviving
  * pair ([[withEnds]]), never dragged through the quadratic stage.
  */
object Candidates {

  /** Distinct `(a, b)` id pairs, `a < b`, of the rows of `keyed` that agree
    * on every column of `keys`; `id` names the id column.
    *
    * Eager: calling this runs one Spark job, which materializes the narrow
    * (keys, id) table with `localCheckpoint` and cuts its lineage; the
    * returned plan reads that table, not `keyed`'s upstream. Both self-join
    * sides reference the table, and without it the build side (a
    * BroadcastExchange, which AQE stage reuse does not cover) re-runs the
    * whole keying pass — shingling + MinHash, the SimHash fingerprint, the
    * SRP projections or the centroid scoring. An upstream exchange (or the
    * cap's window) adds its map stage to that job. The table lives in
    * executor storage, so losing an executor loses it.
    *
    * `maxBucket` caps each bucket BEFORE the self-join, keeping its
    * `maxBucket` LOWEST ids: deterministic whatever the row order (a
    * windowed `row_number` replicates it in the oracle), and it bounds a
    * bucket of m ids at maxBucket²/2 pairs instead of m²/2. Uncapped
    * (`Int.MaxValue`) skips the window.
    */
  def pairs(keyed: DataFrame, keys: Seq[String], id: String,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val capped =
      if (maxBucket == Int.MaxValue) keyed
      else keyed
        .withColumn("bucket_rank", row_number().over(
          Window.partitionBy(keys.map(col): _*).orderBy(col(id))))
        .filter(col("bucket_rank") <= maxBucket)
    val table = capped.select((keys :+ id).map(col): _*).localCheckpoint()
    val l = table.select(keys.map(col) :+ col(id).as("a"): _*)
    val r = table.select(keys.map(k => col(k).as(s"${k}_r")) :+ col(id).as("b"): _*)
    l.join(r, keys.map(k => col(k) === col(s"${k}_r")).reduce(_ && _) && col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** `pairs` with `table`'s `payload` column joined onto both ends, as
    * `<payload>_a` and `<payload>_b` (`id` names `table`'s id column).
    * No broadcast hint: at corpus scale the payload table is the big side
    * and the pair list the small one, so AQE picks the build side.
    */
  def withEnds(pairs: DataFrame, table: DataFrame, id: String,
      payload: String): DataFrame =
    pairs
      .join(table.select(col(id).as("a"), col(payload).as(s"${payload}_a")), "a")
      .join(table.select(col(id).as("b"), col(payload).as(s"${payload}_b")), "b")
}
