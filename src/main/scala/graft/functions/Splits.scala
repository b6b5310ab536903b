package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.core.Ids

/** Deterministic dataset splitting for training pipelines: hash-based
  * train/val/test assignment and per-stratum sampling. The bucket hash is
  * the portable md5 derivation used across the engine (see
  * [[graft.core.Ids.hash31]]) so any engine — including the DuckDB oracle —
  * reproduces the exact same split:
  * Spark `conv(substring(md5(x),1,15),16,10) % m`
  * ≡ DuckDB `CAST(('0x'||substr(md5(x),1,15)) AS BIGINT) % m`.
  *
  * Scale shape: a narrow codegen map pass — no shuffle, no sampling RNG
  * (rand() would be nondeterministic across retries and re-runs; a content
  * hash is stable, idempotent, and reproducible on a different cluster).
  */
object Splits {

  /** Portable bucket in [0, m): 60-bit md5 prefix of `c` (+ optional salt,
    * so independent splits of the same key-space don't correlate) mod m.
    */
  def hashBucket(c: Column, m: Int, salt: String = ""): Column =
    Ids.md5Top60Col(concat(c.cast("string"), lit(salt))) % m

  /** 'train' / 'val' / 'test' label with the given percentage cut points
    * (trainPct + valPct ≤ 100; the rest is test).
    */
  def splitLabel(c: Column, trainPct: Int, valPct: Int): Column = {
    val b = hashBucket(c, 100)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** True for a deterministic 1-in-`outOf` sample of the key column —
    * stratification comes from applying it inside any groupBy.
    */
  def sampled(c: Column, outOf: Int, salt: String = ":s"): Column =
    hashBucket(c, outOf, salt) === 0

  /** Deterministic weighted keep for corpus mixing: true for ~`weightBp`
    * basis points (1/10000ths) of keys. Weights stay INTEGER basis points
    * end-to-end — a float weight would hit engine-specific double→int
    * rounding (Spark casts truncate, DuckDB casts round) and break
    * cross-engine replay.
    */
  def weightedKeep(c: Column, weightBp: Column, salt: String = ":mix"): Column =
    hashBucket(c, 10000, salt) < weightBp

  /** Efraimidis–Spirakis A-Res key for weighted sampling WITHOUT
    * replacement: key = u^(1/w) with u deterministic in (0, 1] — the
    * top-k keys per group ARE a weighted sample of size k (VLDB 2006
    * one-pass reservoir result), replayable on any engine because u =
    * (hash31(id·salt) + 1) / 2^31 is an exact dyadic rational (numerator
    * < 2^31, power-of-two denominator — bit-identical as a double
    * everywhere; only `pow` itself is libm territory, shared with every
    * float score rank in the gate suite).
    *
    * Scale shape: a pure codegen map; selection is a per-group top-k
    * (rank window ≤ k ⇒ Spark's WindowGroupLimit pushes the cut below
    * the exchange, so each partition ships at most k rows per group).
    */
  def aresKey(c: Column, w: Column, salt: String = ":wrs"): Column = {
    val u = (hashBucket(c, 2147483647, salt) + 1L).cast("double") / lit(2147483648.0)
    pow(u, lit(1.0) / w)
  }
}
