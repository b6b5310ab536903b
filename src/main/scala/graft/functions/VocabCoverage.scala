package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.search.Bm25

/** Tokenizer-vocabulary coverage audit: fit a frequency-thresholded vocab
  * on the TRAIN hash-split, then measure out-of-vocabulary rates on every
  * split — the pre-training sanity check that a tokenizer (or feature
  * hash table) fitted yesterday still covers today's corpus. Reported
  * both ways because they fail differently: token-level OOV (share of
  * running text that falls out) drives loss; type-level OOV (share of
  * distinct words unseen) flags vocabulary drift early while the
  * token-level rate still looks fine.
  *
  * The vocab membership rule is a COUNT THRESHOLD, not top-K: top-K needs
  * a total order over tied counts and silently changes membership when
  * ties shift across engines or runs; `count >= minCount` is stable.
  *
  * Scale shape: token counts per split are one partial-agg groupBy; the
  * vocab is the filtered train side of that same table, and the OOV
  * check is a token-keyed left anti/semi join — at 100 TB both sides
  * partition by token, and the vocab (bounded by the threshold) can
  * broadcast. No windows, no doc×doc.
  */
object VocabCoverage {

  /** Per-split coverage vs the train-fitted vocab: token instances,
    * distinct types, token-level and type-level OOV rates, vocab size.
    */
  def report(docs: DataFrame, keyCol: String, textCol: String,
             trainPct: Int, minCount: Int): DataFrame = {
    val toks = docs.select(
      when(Splits.hashBucket(col(keyCol), 100) < trainPct, "train")
        .otherwise("val").as("split"),
      explode(Bm25.tokens(col(textCol))).as("w"))
    // the tokenize+count pipeline feeds three consumers (vocab filter,
    // membership tag, rollup) — checkpoint so the corpus scans once
    val counts = toks.groupBy(col("split"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // lazy (r13)

    val vocab = counts.filter(col("split") === "train" && col("c") >= minCount)
      .select("w")
    val tagged = counts.join(broadcast(vocab.withColumn("in_vocab", lit(true))),
        Seq("w"), "left")
      .withColumn("in_vocab", coalesce(col("in_vocab"), lit(false)))

    // 1-row broadcast instead of a separate driver count() action
    val vs = vocab.agg(count(lit(1)).as("vocab_size"))
    tagged.groupBy(col("split"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        round(sum(when(!col("in_vocab"), col("c")).otherwise(0L)) / sum(col("c")), 6)
          .as("oov_token_rate"),
        round(sum(when(!col("in_vocab"), 1L).otherwise(0L)) / count(lit(1)), 6)
          .as("oov_type_rate"))
      .crossJoin(broadcast(vs))
  }
}
