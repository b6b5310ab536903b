package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Ids
import graft.search.Bm25

/** Cross-document duplicated-span coverage — the exact-substring dedup
  * signal (Lee et al. 2022, "Deduplicating Training Data Makes Language
  * Models Better"): a token position is COVERED when any n-gram window
  * containing it also occurs in at least one other document. Per-doc
  * coverage ratio is the fraction of the doc a substring-level dedup pass
  * would cut; corpora with high coverage need dedup before training.
  *
  * Reference analog: the memory engine dedups at whole-chunk granularity
  * (claude_indexer/indexer.py content-hash gate); this is the sub-chunk
  * span generalization a 100 TB pretraining corpus needs.
  *
  * Scale shape: token n-grams hash to 60-bit keys; duplicated grams are
  * found by ONE partial-agg groupBy on the gram hash (map-side combined),
  * then flow back via a gram-keyed left-semi join — never doc×doc. The
  * covered-position count explodes at most n positions per duplicated
  * gram instance (bounded fan-out, n=8) and collapses with a per-doc
  * distinct count. Every shuffle key is either the gram hash or doc id;
  * nothing enumerates pairs, no window touches an unbounded partition.
  */
object DupSpans {

  /** Per-doc duplicated-span profile: token count, n-gram count, how many
    * gram instances are cross-doc duplicates, how many token positions
    * those duplicates cover, and the covered fraction.
    */
  def coverage(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), Bm25.tokens(col(textCol)).as("t"))
      .withColumn("n_toks", size(col("t")))

    // (doc, 1-based position, gram-hash) — one row per n-gram window.
    // sequence(1, 0) would DESCEND in Spark, so docs shorter than n get an
    // explicit empty window list.
    val grams = base
      .select(col("doc_id"), col("n_toks"),
        posexplode(when(col("n_toks") < n, array().cast("array<long>"))
          .otherwise(transform(
            sequence(lit(1), col("n_toks") - (n - 1)),
            i => Ids.md5Top60Col(array_join(slice(col("t"), i, lit(n)), " "))))))
      .select(col("doc_id"), col("n_toks"), (col("pos") + 1).as("i"), col("col").as("g"))

    // The gram pipeline (tokenize + md5 per window) feeds the dup-set agg
    // AND the instance join — checkpoint so it runs once, not per branch.
    val gramsCk = grams.localCheckpoint(false) // lazy (r13): no extra driver barrier

    // Grams seen in >1 distinct doc. distinct-before-agg keeps the count
    // exact while the gram table stays gram-hash-partitioned throughout.
    val dup = gramsCk.select(col("g"), col("doc_id")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
      .select("g")

    // reused by both the per-doc count and the coverage explode
    val dupInst = gramsCk.join(dup, Seq("g"), "left_semi").localCheckpoint(false)

    val perDoc = dupInst
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_grams"))

    // Positions i..i+n-1 of each duplicated instance, de-overlapped by a
    // distinct count (span unions need no interval logic at fixed n).
    val covered = dupInst
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (n - 1))).as("p"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("p")).as("covered"))

    base.select(col("doc_id"), col("n_toks"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(covered, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_toks").cast("long").as("n_toks"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        round(coalesce(col("covered"), lit(0L)) / col("n_toks"), 6).as("dup_ratio"))
  }
}
