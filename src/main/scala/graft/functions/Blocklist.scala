package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.search.Bm25

/** Tiered term-blocklist admission — the C4/CCNet-style "badwords" gate of
  * a web-corpus pipeline, with severity tiers instead of a single list:
  * any SEVERE hit rejects the document outright; MILD hits reject only
  * past a tolerance (isolated profanity in otherwise-good prose is kept,
  * concentration is not).
  *
  * Matching is whole-token equality on the normalized token stream — the
  * substring matching naive filters use ("class" contains "ass") is the
  * canonical false-positive bug, so it is deliberately not offered.
  *
  * Scale shape: the blocklists are literal arrays folded into ONE codegen
  * map pass (`filter` HOF over the token array) — no join, no shuffle
  * until the per-source partial agg. At 100 TB this is scan-bound; a
  * blocklist too large for a literal would become a broadcast join against
  * the exploded token stream, same shape as the q45 decontamination gate.
  */
object Blocklist {

  private def hits(toks: Column, terms: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(terms)))

  /** Terms are matched against the LOWERCASED [a-z0-9]{2,} token stream —
    * a list entry that can't survive that normalization ("BadWord", "x",
    * "foo-bar") would silently never match, which for a safety filter is
    * the worst failure mode. Lowercase on behalf of the caller; reject
    * anything still outside the token alphabet.
    */
  private def normalize(terms: Seq[String], tier: String): Seq[String] = {
    // Locale.ROOT: Spark's lower() is locale-independent; a tr-TR default
    // locale would dotless-i "BIG" into a term that can never match
    val lowered = terms.map(_.toLowerCase(java.util.Locale.ROOT))
    val bad = lowered.filterNot(_.matches("[a-z0-9]{2,}"))
    require(bad.isEmpty,
      s"$tier blocklist terms can never match a normalized token: ${bad.mkString(", ")}")
    lowered
  }

  /** Per-doc tier hit counts + admission decision. */
  def tag(docs: DataFrame, textCol: String,
          severe: Seq[String], mild: Seq[String], mildMax: Int): DataFrame = {
    val (sev, mld) = (normalize(severe, "severe"), normalize(mild, "mild"))
    val toks = Bm25.tokens(col(textCol))
    docs
      .withColumn("severe_hits", hits(toks, sev).cast("long"))
      .withColumn("mild_hits", hits(toks, mld).cast("long"))
      .withColumn("admitted", col("severe_hits") === 0 && col("mild_hits") <= mildMax)
  }

  /** Per-group admission report (the curation-dashboard rollup). */
  def report(docs: DataFrame, groupCol: String, textCol: String,
             severe: Seq[String], mild: Seq[String], mildMax: Int): DataFrame =
    tag(docs, textCol, severe, mild, mildMax)
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        sum(col("severe_hits")).as("severe_hits"),
        sum(col("mild_hits")).as("mild_hits"),
        sum(when(col("severe_hits") > 0, 1L).otherwise(0L)).as("n_severe_docs"))
}
