package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Ids
import graft.search.Bm25

/** Directed source-level n-gram containment matrix — "which sources copy
  * from which": containment(a→b) = |sig(a) ∩ sig(b)| / |sig(a)|, where
  * sig(x) is x's distinct word n-grams AFTER the hub-cap band (grams in
  * more than `maxSources` sources are chrome, not provenance — both the
  * numerator and the denominator deliberately live in that banded signal
  * universe, so boilerplate-heavy sources aren't scored as "contained"
  * by everyone sharing their chrome). The crawl-forensics rollup
  * (mirror detection, syndication mapping, license-laundering hunts) that
  * doc-pair dedup (q19/q21/q112) can't answer because it aggregates the
  * wrong way.
  *
  * Scale shape: grams are 60-bit hashes; per-source distinct gram sets
  * come from one partial-agg distinct. The pair table is built by a
  * gram-keyed self-join, and the quadratic hub risk (a gram present in
  * MANY sources fans out |sources|² rows) is capped by a df band on the
  * gram FIRST — grams in more than `maxSources` sources are chrome/
  * boilerplate, not provenance signal, and are dropped before the join
  * (the q139 hub-cap discipline). Intersection counts and per-source
  * totals are partial aggs; the final divide runs on the ≤|sources|²
  * pair table.
  */
object SourceOverlap {

  /** Top-`limit` directed containment pairs (a ≠ b), strongest first. */
  def containment(docs: DataFrame, srcCol: String, textCol: String,
                  n: Int, maxSources: Int, limit: Int): DataFrame = {
    val base = docs.select(col(srcCol).as("src"), Bm25.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= n)
    val grams = base
      .select(col("src"), explode(expr(
        s"transform(sequence(1, size(t) - ${n - 1}), i -> array_join(slice(t, i, $n), ' '))"))
        .as("g"))
      .select(col("src"), Ids.md5Top60Col(col("g")).as("g"))
      .distinct()

    // tokenize + md5 per window feeds four consumers (band, totals, both
    // pair-join sides) — checkpoint so the gram pipeline runs once.
    // LAZY (r13; guide §5): the eager form was two serialized job
    // barriers before the pair join; lazy keeps the identical truncation
    // + compute-once caching but materializes inside the one query action.
    val gramsCk = grams.localCheckpoint(false)

    // hub cap: drop grams shared by more than maxSources sources BEFORE
    // the pair join — bounds the self-join fan-out per gram. Expressed as
    // an ANTI-join against the HUB set (r13; guide §3.2): every gram of
    // gramsCk is either banded (ns ≤ maxSources) or a hub, so
    // anti(hubs) ≡ semi(banded) row-for-row — but hubs is the SMALL side
    // (boilerplate chrome), so the planner can broadcast it and the gram
    // stream is not shuffled a second time for the cap.
    val hubs = gramsCk.groupBy(col("g")).agg(count(lit(1)).as("ns"))
      .filter(col("ns") > maxSources).select("g")
    val g2 = gramsCk.join(hubs, Seq("g"), "left_anti").localCheckpoint(false)

    val totals = g2.groupBy(col("src")).agg(count(lit(1)).as("n_grams"))
    val pairs = g2.as("a").join(g2.as("b"),
        col("a.g") === col("b.g") && col("a.src") =!= col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))

    pairs
      .join(broadcast(totals.withColumnRenamed("src", "src_a")), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared") / col("n_grams"), 6).as("containment"))
      .orderBy(col("containment").desc, col("src_a"), col("src_b"))
      .limit(limit)
  }
}
