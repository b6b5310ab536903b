package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Ids

/** AMS / tug-of-war sketch of the second frequency moment F₂ = Σ f_x²
  * (Alon, Matias & Szegedy 1996) — the self-join-size / skew estimate
  * that prices a dedup or join plan without materializing it, joining
  * HLL (F₀) and Count-Min (point freq) in the sketch family.
  *
  * Each of the K estimators assigns every item a ±1 sign from an
  * md5-derived bit (no RNG — the q96/q99 portable-hash discipline) and
  * keeps Y_k = Σ f_x·s_k(x); E[Y²] = F₂. Everything is an exact
  * integer sum (order-independent, map-side combined): the K-way
  * fan-out multiplies the TYPE grid, not the corpus. Y² is squared in
  * double (Y can reach corpus-token magnitude, whose square overflows
  * a long at 100 TB; an exact-integer double < 2⁵³ hashes identically
  * on both engines).
  */
object AmsSketch {

  /** One row per estimator k = 0..k−1: `k`, `y` (signed integer sum),
    * `y_sq` (double), `f2_exact` (Σ f² over the type grid — the gate's
    * witness), `ratio` = y²/F₂ (6 dp).
    */
  def f2(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val counts = docs
      .select(explode(graft.search.Bm25.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("f"))
    val exact = counts.agg(sum(col("f") * col("f")).as("f2_exact"))
    val fanned = counts
      .select(col("token"), col("f"),
        explode(sequence(lit(0), lit(k - 1))).as("k"))
      .withColumn("s", lit(1L) - lit(2L)
        * (Ids.md5Top60Col(concat(col("token"), lit("|"), col("k").cast("string"))) % 2))
    fanned.groupBy(col("k")).agg(sum(col("f") * col("s")).as("y"))
      .crossJoin(broadcast(exact))
      .select(col("k").cast("long").as("k"), col("y"),
        (col("y").cast("double") * col("y")).as("y_sq"),
        col("f2_exact"),
        round(col("y").cast("double") * col("y") / col("f2_exact"), 6)
          .as("ratio"))
      .orderBy(col("k"))
  }
}
