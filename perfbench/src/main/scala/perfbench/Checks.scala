package perfbench

/** Driver-side oracles and output checks. Everything here is a pure
  * function over collected rows, so the self-tests can feed it corrupted
  * results. A check returns `None` when the output is correct and
  * `Some(reason)` when it is not.
  */
object Checks {

  type Check = Option[String]
  private def fail(msg: String): Check = Some(msg)

  /** Score tolerance: results are compared to 6 decimal places, and the
    * engine and the oracle may sum floating-point terms in other orders.
    */
  val Eps = 1.5e-6

  // ---------------------------------------------------------------------
  // Search oracles (brute force over the collected metadata chunks)
  // ---------------------------------------------------------------------

  final case class Meta(chunkId: String, entityType: String, dense: Array[Double], bm25Text: String)

  private def filtered(meta: Seq[Meta], types: Seq[String]) =
    if (types.isEmpty) meta else meta.filter(m => types.contains(m.entityType))

  def cosine(a: Array[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  private def ranked(xs: Seq[(String, Double)]): Seq[(String, Double)] =
    xs.sortWith((x, y) => x._2 > y._2 || (x._2 == y._2 && x._1 < y._1))

  /** Every document's cosine score, best first (ties by chunkId). */
  def semantic(meta: Seq[Meta], qv: Seq[Double], types: Seq[String]): Seq[(String, Double)] =
    ranked(filtered(meta, types).map(m => (m.chunkId, cosine(m.dense, qv))))

  /** The BM25 tokenizer: lower-case `[a-z0-9]` runs longer than one char. */
  def tokens(s: String): Array[String] = s.toLowerCase.split("[^a-z0-9]+").filter(_.length > 1)

  /** Okapi BM25 (k1 = 1.2, b = 0.75, idf = ln((N - df + 0.5) / (df + 0.5)))
    * of every document holding a query term, best first.
    */
  def bm25(meta: Seq[Meta], query: String, types: Seq[String]): Seq[(String, Double)] = {
    val docs = filtered(meta, types).map(m => (m.chunkId, tokens(m.bm25Text)))
    val terms = tokens(query).distinct
    if (terms.isEmpty || docs.isEmpty) return Seq.empty
    val n = docs.size.toDouble
    val avgdl = docs.map(_._2.length.toDouble).sum / n
    val df = terms.map(t => t -> docs.count(_._2.contains(t))).toMap
    ranked(docs.flatMap { case (id, toks) =>
      val dl = toks.length.toDouble
      val hits = terms.filter(toks.contains)
      if (hits.isEmpty) None
      else Some(id -> hits.map { t =>
        val tf = toks.count(_ == t).toDouble
        val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5))
        idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      }.sum)
    })
  }

  /** 1-based rank range of each id in a best-first list: ids whose scores
    * differ by less than `TieEps` may come back in either order (the engine
    * and the oracle sum BM25 terms in different orders), so a tie group
    * holding positions i..j gives each member the range (i, j).
    */
  val TieEps = 1e-9
  def rankRanges(xs: Seq[(String, Double)]): Map[String, (Int, Int)] = {
    val out = Map.newBuilder[String, (Int, Int)]
    var i = 0
    while (i < xs.size) {
      var j = i
      while (j + 1 < xs.size && math.abs(xs(j + 1)._2 - xs(i)._2) < TieEps) j += 1
      (i to j).foreach(p => out += xs(p)._1 -> (i + 1, j + 1))
      i = j + 1
    }
    out.result()
  }

  /** Reciprocal-rank fusion bounds: per id, the least and greatest RRF
    * score (weight 0.5 per side, k0 = 60, top-`fetch` of each side) over
    * every tie-order of the dense and sparse lists.
    */
  def rrfBounds(dense: Seq[(String, Double)], sparse: Seq[(String, Double)],
                fetch: Int): Map[String, (Double, Double)] = {
    val rd = rankRanges(dense); val rs = rankRanges(sparse)
    def part(r: Option[(Int, Int)]): (Double, Double) = r match {
      case None => (0.0, 0.0)
      case Some((lo, hi)) =>
        (if (hi > fetch) 0.0 else 0.5 / (60.0 + hi), if (lo > fetch) 0.0 else 0.5 / (60.0 + lo))
    }
    (rd.keySet ++ rs.keySet).iterator.map { id =>
      val (dl, dh) = part(rd.get(id)); val (sl, sh) = part(rs.get(id))
      id -> (dl + sl, dh + sh)
    }.filter(_._2._2 > 0.0).toMap
  }

  /** Hybrid top-k agreement under [[rrfBounds]]: each returned id's score
    * is within its bounds, scores do not increase, the size is
    * min(k, candidates), and no id whose least score beats the k-th
    * returned score was left out.
    */
  def hybridTopK(engine: Seq[(String, Double)], bounds: Map[String, (Double, Double)], k: Int): Check = {
    val want = math.min(k, bounds.size)
    if (engine.size != want) fail(s"hybrid top-k size ${engine.size} != $want")
    else if (engine.map(_._1).distinct.size != engine.size) fail("duplicate ids in hybrid top-k")
    else engine.zipWithIndex.collectFirst {
      case ((id, s), i) if !bounds.get(id).exists { case (lo, hi) => s >= lo - Eps && s <= hi + Eps } =>
        s"hybrid rank ${i + 1}: $id scored $s outside ${bounds.get(id)}"
      case ((id, s), i) if i > 0 && s > engine(i - 1)._2 + Eps => s"hybrid rank ${i + 1}: score rises ($id)"
    }.orElse {
      val kth = if (engine.isEmpty) Double.PositiveInfinity else engine.last._2
      val got = engine.map(_._1).toSet
      bounds.collectFirst {
        case (id, (lo, _)) if !got.contains(id) && lo > kth + Eps => s"hybrid skipped $id (least score $lo > $kth)"
      }
    }
  }

  /** Top-k agreement with ties compared as sets: the engine returns
    * min(k, |oracle|) distinct ids, each id carries its true score, and
    * the score sequence equals the oracle's top-k score sequence. Any
    * id may then stand in for another of equal score, and nothing better
    * was skipped.
    */
  def topK(engine: Seq[(String, Double)], oracle: Seq[(String, Double)], k: Int): Check = {
    val want = oracle.take(k)
    val truth = oracle.toMap
    if (engine.size != want.size) fail(s"top-k size ${engine.size} != ${want.size}")
    else if (engine.map(_._1).distinct.size != engine.size) fail("duplicate ids in top-k")
    else engine.zip(want).zipWithIndex.collectFirst {
      case (((id, s), _), i) if !truth.get(id).exists(t => math.abs(t - s) <= Eps) =>
        s"rank ${i + 1}: $id scored $s, oracle ${truth.get(id)}"
      case (((id, s), (_, ws)), i) if math.abs(s - ws) > Eps =>
        s"rank ${i + 1}: score $s != oracle $ws ($id)"
    }
  }

  // ---------------------------------------------------------------------
  // Graph-read oracles over the collected store
  // ---------------------------------------------------------------------

  final case class Row(chunkId: String, chunkType: String, entityName: String, entityType: String,
                       filePath: String, lineNumber: Int, relationTarget: String, relationType: String)

  def relationships(rows: Seq[Row], entity: String, limit: Int): Seq[(String, String, String)] =
    rows.filter(r => r.chunkType == "relation" && (r.entityName == entity || r.relationTarget == entity))
      .map(r => (r.entityName, r.relationType, r.relationTarget)).sorted.take(limit)

  def entitiesOf(rows: Seq[Row], entity: String): Set[(String, String, String, Int)] = {
    val rel = rows.filter(r => r.chunkType == "relation" &&
      (r.entityName == entity || r.relationTarget == entity))
    val names = rel.flatMap(r => Seq(r.entityName, r.relationTarget)).toSet
    rows.filter(r => r.chunkType == "metadata" && names.contains(r.entityName))
      .map(r => (r.entityName, r.entityType, r.filePath, r.lineNumber)).toSet
  }

  def implementationLogical(rows: Seq[Row], entity: String): Seq[(String, String, Int)] = {
    val impls = rows.filter(_.chunkType == "implementation")
    val files = impls.filter(_.entityName == entity).map(_.filePath).toSet
    impls.filter(r => files.contains(r.filePath)).map(r => (r.entityName, r.filePath, r.lineNumber)).sorted
  }

  def forFile(rows: Seq[Row], path: String): Seq[(String, Seq[String])] =
    rows.filter(r => r.filePath == path || r.entityName == path)
      .groupBy(_.chunkType).toSeq.sortBy(_._1)
      .map { case (t, rs) => (t, rs.map(_.entityName).distinct.sorted) }

  def same[A](what: String, engine: A, oracle: A): Check =
    if (engine == oracle) None else fail(s"$what: engine $engine != oracle $oracle")

  /** `readGraph(entities)` is limited to 50 rows ordered by name only, so
    * rows beyond a name tie are interchangeable: the engine's rows must
    * be oracle rows, and all of them when the oracle has at most `limit`.
    */
  def entitiesRead(engine: Seq[(String, String, String, Int)], oracle: Set[(String, String, String, Int)],
                   limit: Int): Check =
    if (!engine.forall(oracle.contains)) fail("entities read returned a row outside the neighborhood")
    else if (engine.size != math.min(limit, oracle.size)) fail(s"entities read size ${engine.size}")
    else None

  // ---------------------------------------------------------------------
  // Index checks
  // ---------------------------------------------------------------------

  /** A re-index parses exactly the changed files; one of an unchanged
    * tree also embeds nothing.
    */
  def reindexCounts(verb: String, filesParsed: Long, chunksEmbedded: Long, expectParsed: Long): Check =
    if (filesParsed != expectParsed) fail(s"$verb parsed $filesParsed files, expected $expectParsed")
    else if (expectParsed == 0 && chunksEmbedded != 0) fail(s"$verb embedded $chunksEmbedded chunks")
    else None

  /** (chunkId, contentHash, vector, relationTarget, relationType). */
  type StoreKey = (String, String, Seq[Double], String, String)

  def storeEquals(what: String, incremental: Set[StoreKey], fresh: Set[StoreKey]): Check =
    if (incremental == fresh) None
    else {
      val extra = (incremental -- fresh).toSeq.map(_._1).sorted
      val missing = (fresh -- incremental).toSeq.map(_._1).sorted
      fail(s"$what: store differs from a fresh full index: ${extra.size} extra " +
        s"(${extra.take(3).mkString(", ")}), ${missing.size} missing (${missing.take(3).mkString(", ")})")
    }

  // ---------------------------------------------------------------------
  // Watch checks
  // ---------------------------------------------------------------------

  /** The planted token's entity must come back from the search. */
  def tokenFound(token: String, hits: Seq[(String, String)], path: String, fn: String): Check =
    if (hits.contains((fn, path))) None
    else fail(s"token $token: $fn in $path not among ${hits.size} hits")

  def deletedGone(remaining: Seq[String]): Check =
    if (remaining.isEmpty) None
    else fail(s"${remaining.size} chunks of deleted files remain (${remaining.take(3).mkString(", ")})")

  // ---------------------------------------------------------------------
  // Corpus checks
  // ---------------------------------------------------------------------

  /** Distinct word 3-grams under the BM25 tokenizer (PrefixJoin's sets). */
  def wordGrams(text: String, n: Int): Set[String] =
    tokens(text).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet

  /** Distinct character n-grams (NgramJaccard's sets). */
  def charGrams(text: String, n: Int): Set[String] =
    if (text.length < n) Set.empty else (0 to text.length - n).map(i => text.substring(i, i + n)).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    if (a.isEmpty && b.isEmpty) 0.0 else inter.toDouble / (a.size + b.size - inter)
  }

  /** Every planted pair at or above the threshold must be reported. */
  def plantedPairsFound(op: String, planted: Seq[(Long, Long, Double)], threshold: Double,
                        reported: Set[(Long, Long)]): Check = {
    val due = planted.filter(_._3 >= threshold)
    val missed = due.filterNot(p => reported.contains((math.min(p._1, p._2), math.max(p._1, p._2))))
    if (missed.isEmpty) None
    else fail(s"$op missed ${missed.size} of ${due.size} planted pairs, e.g. ${missed.take(3).mkString(", ")}")
  }

  def exactSurvivors(survivors: Long, distinctTexts: Long): Check =
    same("exact-dedup survivors", survivors, distinctTexts)
}
