package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.search.Bm25

/** Lexical-diversity profiling — type-token ratio, hapax-legomena share
  * and top-token concentration, the quality signals that catch generated
  * or boilerplate text (low TTR, one token dominating) that length and
  * punctuation heuristics (q41) miss.
  *
  * Scale shape: (doc, token) counts are a partial-agg groupBy (map-side
  * combined — the per-partition combiner sees each doc's tokens together
  * because the explode preserves the scan partitioning), then two more
  * partial-agg collapses doc→metrics→group. Keys are (doc_id, token) then
  * doc_id then the group: bounded, join-free, no windows. A hot token
  * cannot skew anything because counting is always per-doc first.
  */
object LexicalDiversity {

  /** Per-doc diversity metrics:
    * ttr = distinct types / tokens; hapax_ratio = once-only types / types;
    * top_share = most frequent token's share of the doc.
    *
    * Carried columns ride as extra GROUP-BY KEYS (doc_id determines them),
    * not `first()` aggregates — a string aggregation buffer would demote
    * the whole chain from HashAggregate to Sort+SortAggregate.
    */
  def perDoc(docs: DataFrame, idCol: String, textCol: String,
             carry: Seq[String] = Nil): DataFrame = {
    val keys = col(idCol).as("doc_id") +: carry.map(col)
    val tokCounts = docs
      .select(keys :+ explode(Bm25.tokens(col(textCol))).as("w"): _*)
      .groupBy(col("doc_id") +: carry.map(col) :+ col("w"): _*)
      .agg(count(lit(1)).as("c"))
    tokCounts
      .groupBy(col("doc_id") +: carry.map(col): _*)
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        max(col("c")).as("top_count"))
      .select((col("doc_id") +:
        carry.map(col) :+
        col("n_tokens") :+ col("n_types") :+
        round(col("n_types") / col("n_tokens"), 6).as("ttr") :+
        round(col("n_hapax") / col("n_types"), 6).as("hapax_ratio") :+
        round(col("top_count") / col("n_tokens"), 6).as("top_share")): _*)
  }

  /** Per-group rollup of the per-doc metrics. */
  def report(docs: DataFrame, idCol: String, textCol: String, groupCol: String): DataFrame =
    perDoc(docs, idCol, textCol, carry = Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("ttr")), 6).as("avg_ttr"),
        round(avg(col("hapax_ratio")), 6).as("avg_hapax_ratio"),
        round(avg(col("top_share")), 6).as("avg_top_share"),
        round(min(col("ttr")), 6).as("min_ttr"))
}
