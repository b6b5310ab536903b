package graft.core

import org.apache.spark.sql.DataFrame

/** Enforcement of the bounded-grid caller contract.
  *
  * The k-sample / exact-test / inequality family (KSample, RobustLocation,
  * Inequality, Contingency.fisherExact, …) folds its statistics on
  * single-partition ordered windows over the DISTINCT-VALUE grid of the
  * input column. That is scale-safe exactly when the grid is bounded by
  * the value DOMAIN (token counts, day indexes, small integer scores) —
  * the documented contract since q239. A caller passing a continuous /
  * high-cardinality column would silently get a corpus-sized
  * single-partition sort instead of a fast failure.
  *
  * [[check]] makes the contract executable: it counts the grid with an
  * early-exit `limit(max+1).count()` — a distributed partial-aggregate
  * pass, never a single-partition sort — and raises a clear
  * IllegalArgumentException telling the caller to bin first. The extra
  * pass is the documented price of fail-fast; the grids it counts are
  * the same aggregations the fold consumes, so the cost is one
  * scan+combine, small next to the fold itself.
  *
  * == Bounded-grid contract ==
  * Each operator counts its grid with [[check]] before the fold;
  * `Contingency.fisherExact` guards IN-PLAN instead (`raise_error` on the
  * support width — its `tot` is one row, so no extra pass). Bounds:
  *
  *  - `KSample.ksTwoSample` / `cramerVonMises` / `varghaDelaney` /
  *    `ansariBradley` / `kruskalWallis`: distinct values of the value
  *    column, [[MaxGrid]] (65 536);
  *  - `KSample.anovaF` / `brownForsythe`: distinct groups, [[MaxGrid]];
  *  - `KSample.hodgesLehmann`: distinct values PER SIDE, [[MaxPairSide]]
  *    (4 096 / side — the cross join is capped at ≤ 4096² ≈ 16.8 M
  *    transient pair rows, regrouped to the difference grid immediately);
  *  - `Contingency.fisherExact`: hypergeometric support width
  *    `hi − lo + 1` (≈ the smaller margin; beyond it chiSquare is the
  *    right test anyway), [[MaxGrid]];
  *  - `RobustLocation.panel` / `Inequality.panel`: the (group, value)
  *    grid, [[MaxGrid]].
  *
  * `KSample.moodMedian` delegates to `Contingency.chiSquare`, whose
  * densify cross join is r×c over the two category grids — bounded by
  * construction for the k×2 median table.
  */
object GridGuard {

  /** Default ceiling for a distinct-value grid folded on a
    * single-partition ordered window: 65 536 rows sort in microseconds
    * on one core and fit any executor; real value domains under the
    * contract (day grids, token-count grids, score grids) sit orders of
    * magnitude below it.
    */
  val MaxGrid: Long = 65536L

  /** Ceiling for each SIDE of Hodges-Lehmann's value-grid cross join:
    * 4 096 × 4 096 caps the pair-grid intermediate at ~16.8 M rows —
    * distributed and transient (it is regrouped onto the difference
    * grid immediately), but not something to let grow unbounded.
    */
  val MaxPairSide: Long = 4096L

  /** Fail fast when `grid` (a distinct-value projection or groupBy the
    * operator is about to window-fold) exceeds `max` rows. `op` and
    * `what` name the operator and the offending grid in the error.
    */
  def check(grid: DataFrame, op: String, what: String,
            max: Long = MaxGrid): Unit = {
    val n = grid.limit((max + 1).toInt).count()
    if (n > max) throw new IllegalArgumentException(
      s"graft.operators.$op: $what has more than $max distinct values " +
        s"(saw $n, counting stopped). This operator folds on a " +
        "single-partition ordered window over the distinct-value grid, " +
        "which is only scale-safe for a bounded value domain. Bin or " +
        s"round the column to <= $max distinct values first " +
        "(e.g. integer-bucketize lengths, truncate timestamps to days).")
  }
}
