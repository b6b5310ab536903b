package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline: token counting,
  * quality metrics, stopword/language profiles, content fingerprinting.
  * All pure column expressions (codegen-friendly, no UDFs), each with an
  * exact SQL analog for oracle parity.
  */
object TextOps {

  /** All lowercase alnum runs (length ≥ 1 — unlike Bm25.tokens this keeps
    * single-char words, needed for stopword ratios).
    */
  def words(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)

  /** Whitespace token count. The splitter is the EXPLICIT class
    * `[ \t\n\r\f]` — Java's `\s` additionally matches vertical tab \x0B
    * while DuckDB's RE2 `\s` does not, so a bare `\\s+` here would make a
    * VT-bearing document count differently in the two engines and break
    * the hash of every gate that bins on this count (r9 advice). RE2's
    * `\s` is exactly [\t\n\f\r ], so the oracles keep their `'\s+'`.
    */
  def wsTokenCount(text: Column): Column =
    size(filter(split(text, "[ \t\n\r\f]+"), t => length(t) > 0))

  /** BPE-ish subword count: letter runs, digit runs, and single
    * non-alnum-non-space marks each count as one token (a cheap proxy for a
    * byte-pair vocabulary's pre-tokenizer).
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))

  /** Mean token length. */
  def avgWordLen(text: Column): Column = {
    val w = words(text)
    when(size(w) === 0, lit(0.0))
      .otherwise(aggregate(w, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(w))
  }

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val w = words(text)
    when(size(w) === 0, lit(0.0))
      .otherwise(size(filter(w, t => t.isin(stopwords.map(lit(_)): _*)))
        .cast("double") / size(w))
  }

  /** Fraction of characters that are neither alnum nor whitespace. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise((length(text) - length(regexp_replace(text, "[^a-zA-Z0-9\\s]", "")))
        .cast("double") / length(text))

  /** Stopword-profile scores for language identification. Returns one score
    * column per language: the count of tokens in that language's profile.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "and", "of", "is", "to", "in", "it"),
    "es" -> Seq("el", "la", "los", "y", "es", "de", "que"),
    "fr" -> Seq("le", "la", "les", "et", "est", "de", "que"),
    "zh" -> Seq.empty // no latin stopwords; scores 0, never wins a tie
  )

  def langScore(text: Column, profile: Seq[String]): Column =
    if (profile.isEmpty) lit(0L)
    else size(filter(words(text), t => t.isin(profile.map(lit(_)): _*))).cast("long")

  /** Argmax language with deterministic lexicographic tie-break: languages
    * are checked in sorted order and the first one ≥ all others wins.
    * All-zero scores → "unknown" (no profile evidence at all).
    */
  def langGuess(text: Column): Column = {
    // argmax via array_position: the first (lexicographically, since the
    // array is sorted by language) index holding the max — exactly the old
    // fold's "first language ≥ all others" winner, and all-zero still
    // yields "unknown". The old form inlined every langScore tree into
    // every other language's comparison (~n² tokenize+filter subtrees per
    // row); here each score is evaluated once (r12; guide §1.2).
    val ordered = LangProfiles.map { case (l, p) => l -> langScore(text, p) }.sortBy(_._1)
    val arr = array(ordered.map(_._2): _*)
    val names = array(ordered.map(o => lit(o._1)): _*)
    when(array_max(arr) > 0,
      element_at(names, array_position(arr, array_max(arr)).cast("int")))
      .otherwise(lit("unknown"))
  }

  /** Within-document word-3-gram repetition ratio (the Gopher-family
    * repetition signal): 1 − distinct/total trigrams; 0 for docs under 3
    * tokens. The `< 3` CASE guard matters — Spark's sequence(1, 0) yields
    * the DESCENDING [1, 0], not an empty list.
    *
    * NB: this column form exists for composability, but HOF lambdas
    * evaluate interpreted per ELEMENT — `element_at(toks, i)` inside the
    * transform re-derives the token array per trigram, O(tokens²) per doc.
    * Hot paths (q40 over the corpus) use [[trigramRepetitionScala]] in a
    * JIT'd typed map instead (same rule as the minhash signature loops).
    */
  def trigramRepetition(textColName: String): Column = {
    // built on the ONE canonical tokenizer (Bm25.tokens) — no string-literal
    // copy that could drift from what the oracles replay
    val toks = graft.search.Bm25.tokens(col(textColName))
    val tgs = transform(sequence(lit(1), size(toks) - 2), i =>
      concat(element_at(toks, i), lit(" "), element_at(toks, i + 1), lit(" "), element_at(toks, i + 2)))
    when(size(toks) < 3, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(tgs)).cast("double") / size(tgs))
  }

  /** The JIT twin of [[trigramRepetition]] — identical tokenization
    * (lowercase alnum runs, length > 1) and identical arithmetic
    * (1.0 − distinct/total from exact ints), so the two can never diverge
    * from the oracle's derivation.
    */
  def trigramRepetitionScala(text: String): Double = {
    val t = graft.search.Bm25.tokenizeScala(text)
    if (t.length < 3) 0.0
    else {
      val n = t.length - 2
      val seen = new java.util.HashSet[String](n * 2)
      var i = 0
      while (i < n) {
        seen.add(t(i) + " " + t(i + 1) + " " + t(i + 2))
        i += 1
      }
      1.0 - seen.size.toDouble / n
    }
  }

  /** Positional polynomial rolling-hash fingerprint over the token stream:
    * fold `acc = (acc*31 + h31(token)) mod 1e9+7` — order-sensitive, so
    * reordered documents get different fingerprints (unlike the word-set
    * hash in ExactDedup).
    */
  val FpMod = 1000000007L
  def fingerprint(textColName: String): Column =
    aggregate(
      transform(filter(split(lower(col(textColName)), "[^a-z0-9]+"), t => length(t) > 0),
        s => graft.core.Ids.md5Top60Col(s) % 2147483647),
      lit(0L), (acc, h) => (acc * 31 + h) % FpMod)
}
