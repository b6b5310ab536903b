package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Ids

/** Deterministic bootstrap confidence intervals — the resampling answer
  * to "how stable is this per-group mean", without an RNG. Each of `b`
  * replicas reweights every row by 0/1/2 copies using two independent
  * bits of the engine's portable md5 derivation (mean weight 1, variance
  * 1/2 — the half-sample-or-double scheme), so any engine and any retry
  * reproduces the exact same replicas (the [[graft.functions.Splits]] /
  * Augment discipline: `rand()` resampling is a lineage nightmare).
  *
  * Scale shape: one `b`-way explode (map-side, fans out before the ONLY
  * shuffle, which partial-aggregates to groups×`b` rows), then order
  * statistics over the `b`-row replica table per group. Nothing driver-
  * side, no unbounded window — the replica table is metadata-sized.
  */
object Bootstrap {

  /** Per `groupCol`: unweighted mean of `valueCol`, plus the 2nd / `b`−1-th
    * order statistics of the `b` replica means as the CI envelope
    * (≈ 93% coverage at b=30). Means rounded to 4 dp.
    */
  def meanCi(df: DataFrame, groupCol: String, idCol: String,
             valueCol: String, b: Int = 30): DataFrame = {
    require(b >= 4, "need at least 4 replicas for the 2nd/(b-1)th envelope")
    // two md5s yield 120 hash bits per ROW; replica b reads bit-pair
    // 2(b mod 15) of hash (b div 15) — one digest per 15 replicas
    // instead of one per replica (16x less hashing on the fan-out path,
    // measured 3.5 s -> ~1 s at sf0.1)
    require(b <= 30, "two 60-bit digests carry at most 30 replica bit-pairs")
    val reps = df
      .select(col(groupCol), col(idCol), col(valueCol))
      .withColumn("h0", Ids.md5Top60Col(concat(col(idCol).cast("string"), lit(":0"))))
      .withColumn("h1", Ids.md5Top60Col(concat(col(idCol).cast("string"), lit(":1"))))
      .withColumn("b", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("h", when(col("b") < 15, col("h0")).otherwise(col("h1")))
      .withColumn("sh", (col("b") % 15) * 2)
      .withColumn("w",
        (expr("h div shiftleft(1L, cast(sh AS int))") % 2)
          + (expr("h div shiftleft(1L, cast(sh + 1 AS int))") % 2))
    // a replica can draw weight 0 for EVERY row of a small group
    // ((1/4)^n per replica — near-certain somewhere across a 100 TB run);
    // such a replica has no mean. NULL it before the division (ANSI
    // throws DIVIDE_BY_ZERO even for doubles), drop it, and take the
    // envelope over the replicas that survive.
    val means = reps.groupBy(col(groupCol), col("b"))
      .agg(when(sum(col("w")) > 0,
        sum(col("w") * col(valueCol)) / sum(col("w"))).as("mb"))
      .where(col("mb").isNotNull)
    val part = Window.partitionBy(col(groupCol))
    val rn = part.orderBy(col("mb"), col("b"))
    val ranked = means
      .withColumn("rn", row_number().over(rn))
      .withColumn("cnt", count(lit(1)).over(part))
    val ci = ranked.groupBy(col(groupCol))
      .agg(round(min(when(col("rn") === 2, col("mb"))), 4).as("ci_lo"),
        round(min(when(col("rn") === col("cnt") - 1, col("mb"))), 4).as("ci_hi"))
    val base = df.groupBy(col(groupCol))
      .agg(round(avg(col(valueCol)), 4).as("mean_v"),
        count(lit(1)).as("n"))
    base.join(ci, groupCol :: Nil)
      .select(col(groupCol), col("n"), col("mean_v"), col("ci_lo"), col("ci_hi"))
  }
}
