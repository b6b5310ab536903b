package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.search.Bm25

/** DETERMINISTIC TEXT AUGMENTATION — token dropout keyed by content hash
  * instead of an RNG. Training pipelines augment (dropout, masking,
  * duplication) to regularize; doing it with `rand()` makes every retry,
  * re-run, and engine produce a DIFFERENT corpus — a lineage nightmare.
  * Hashing (doc, position, token) through the engine's portable md5
  * derivation ([[Splits.hashBucket]]) gives the same ~1/outOf dropout
  * rate while staying idempotent, exactly reproducible on any engine, and
  * independently re-derivable per row (no coordination, no seed state).
  *
  * Scale shape: one codegen HOF pass (tokenize → indexed filter → join +
  * digest) — zero shuffles; the digest column keys the augmented corpus
  * into caches exactly like the raw one.
  */
object Augment {

  /** `(doc_id, n_toks, n_kept, digest)` — drop each token with
    * probability 1/outOf, decided by md5(doc:pos:token); `digest` is the
    * md5 of the surviving token sequence. Positions are 1-based (matching
    * SQL lambda indexing).
    */
  /** FILL-IN-THE-MIDDLE transform (Bavarian et al. 2022, "Efficient
    * Training of Language Models to Fill in the Middle"): split each
    * document at two pivots into (prefix, middle, suffix) and emit the
    * PSM reordering `<PRE>prefix<SUF>suffix<MID>middle`, teaching an
    * autoregressive model to infill. Pivots are derived from the doc id
    * by integer arithmetic — one pivot per third of the text — so the
    * transform is idempotent and engine-portable like [[tokenDropout]]
    * (an RNG split would make every re-run a different corpus).
    *
    * Pure per-row codegen projection (substring + concat): zero
    * shuffles, scan-bound at 100 TB.
    */
  def fim(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val len = length(col(textCol)).cast("long")
    val third = greatest(expr(s"length(`$textCol`) div 3").cast("long"), lit(1L))
    // pivots land in the 2nd and 3rd thirds: split1 ∈ [third+1, 2·third]
    val split1 = third + lit(1L) + pmod(col("_id") * 37L, third)
    val split2 = third * 2L + lit(1L) + pmod(col("_id") * 53L, third)
    docs.select(col(idCol).cast("long").as("_id"), col(textCol))
      .select(col("_id").as("doc_id"),
        len.as("n_chars"),
        split1.as("sp1"), split2.as("sp2"),
        concat(lit("<PRE>"),
          col(textCol).substr(lit(1L), split1 - 1),
          lit("<SUF>"),
          col(textCol).substr(split2, len),
          lit("<MID>"),
          col(textCol).substr(split1, split2 - split1)).as("fim"))
  }

  def tokenDropout(docs: DataFrame, idCol: String, textCol: String,
                   outOf: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        Bm25.tokens(col(textCol)).as("t"))
      .withColumn("kept", filter(col("t"), (x, i) => graft.core.Ids.md5Top60Col(concat(
        col("doc_id").cast("string"), lit(":"), (i + 1).cast("string"), lit(":"), x)) % outOf =!= 0))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_toks"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(array_join(col("kept"), " ")).as("digest"))
}
