package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Ids

/** PORTABLE BLOOM FILTER (Bloom 1970, m = 1024 bits × k = 4 hashes) —
  * the runtime-filter structure that lets a 100 TB probe side skip rows
  * BEFORE any join: build the filter over the small/selective side's
  * join keys (one partial agg down to ≤ m rows), collect the bounded
  * bit set to the driver (≤ m entries BY CONSTRUCTION — never
  * data-proportional), and probe with a pure whole-stage-codegen
  * expression — no UDF, no shuffle, no broadcast-join machinery. False
  * positives only — never false negatives — so it composes as a
  * pre-filter with the exact join downstream (Spark's own
  * `spark.sql.optimizer.runtimeFilter` does this opaquely; this one is
  * portable: bit positions derive from the engine's md5-31 hash
  * (`conv(substring(md5(i||'|'||v),1,15),16,10) % 2147483647 % m`), so
  * the DuckDB oracle reconstructs the identical bit set).
  */
object BloomFilter {

  val M = 1024 // bits
  val K = 4    // hash functions

  /** Bit position of hash row `i` for string column `v` — the Column
    * twin of `Ids.hash31(s"$i|$v") % M` (same md5-top60 formula).
    */
  def position(i: Int, v: Column): Column =
    (Ids.md5Top60Col(concat(lit(s"$i|"), v)) % 2147483647L) % M

  /** The set-bit table `(pos)` — distinct positions only, ≤ m rows no
    * matter the build-side cardinality (partial-agg distinct; merge of
    * two filters = union of their bit tables).
    */
  def bits(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("string")
    df.select(explode(array((0 until K).map(i => position(i, v)): _*)).as("pos"))
      .distinct()
  }

  /** Membership predicate for `v` given the collected bit set: true iff
    * all k positions are set. Pure shift/compare codegen — the filter
    * lives INSIDE the probe's scan stage, which is the entire point.
    */
  def mightContain(setBits: Array[Long], v: Column): Column = {
    val mask = new Array[Boolean](M)
    setBits.foreach(p => mask(p.toInt) = true)
    val maskCol = typedlit(mask.toSeq) // ONE ArrayType literal, m booleans
    (0 until K).map { i =>
      element_at(maskCol, position(i, v).cast("int") + 1)
    }.reduce(_ && _)
  }

  /** Build from `build(buildCol)`, probe `probes(probeCol)` — appends
    * `might_contain`. The ONLY driver materialization is the ≤ m-row
    * bit list.
    */
  def filterColumn(build: DataFrame, buildCol: String,
                   probes: DataFrame, probeCol: String): DataFrame = {
    val set = bits(build, buildCol).collect().map(_.getLong(0))
    probes.withColumn("might_contain", mightContain(set, col(probeCol).cast("string")))
  }
}
