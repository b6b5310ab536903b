package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.api.GraftEngine
import graft.search.Hybrid

/** Self-tests of the benchmark: seeded generators are deterministic, the
  * search oracles agree with the engine on a tiny store, and a corrupted
  * result trips every output check.
  */
class SelfSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val scratch: Path = Paths.get("target", "selftest").toAbsolutePath
  private val tiny = Gen.TreeSpec(modules = 12, copies = 2, docs = 3)
  Files2.deleteRecursive(scratch)
  Files.createDirectories(scratch)
  private lazy val spark: SparkSession = Main.session(scratch)
  private lazy val tree: Gen.Tree = Gen.writeTree(scratch.resolve("tree"), tiny, 5L)
  private lazy val engine: GraftEngine = {
    val e = GraftEngine(spark, scratch.resolve("store").toString)
    e.index(tree.root.toString)
    e
  }

  override def afterAll(): Unit = {
    spark.stop()
    Files2.deleteRecursive(scratch)
  }

  private def contents(root: Path): Map[String, Seq[Byte]] = {
    val w = Files.walk(root)
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally w.close()
  }

  test("the same seed gives the same bytes; another seed gives others") {
    val a = contents(Gen.writeTree(scratch.resolve("gen_a"), tiny, 7L).root)
    val b = contents(Gen.writeTree(scratch.resolve("gen_b"), tiny, 7L).root)
    val c = contents(Gen.writeTree(scratch.resolve("gen_c"), tiny, 8L).root)
    assert(a.nonEmpty && a == b)
    assert(a.keySet == c.keySet && a != c)
    val ta = Gen.Tree(scratch.resolve("gen_a"), tiny, 7L)
    val tb = Gen.Tree(scratch.resolve("gen_b"), tiny, 7L)
    val none = Set.empty[String]
    assert(Gen.editTargets(ta, 3, 2, none) == Gen.editTargets(tb, 3, 2, none))
    assert(Gen.applyEdit(ta, 3, 2, none) == Gen.applyEdit(tb, 3, 2, none))
    val (ga, gb) = (scala.collection.mutable.Set[String](), scala.collection.mutable.Set[String]())
    assert(Gen.watchBatch(ta, 0, ga) == Gen.watchBatch(tb, 0, gb))
    assert(contents(ta.root) == contents(tb.root))
    assert(Gen.corpus(300, 9L) == Gen.corpus(300, 9L))
    assert(Gen.corpus(300, 9L).docs != Gen.corpus(300, 10L).docs)
  }

  test("the corpus plants near-duplicates the similarity joins must report") {
    val c = Gen.corpus(400, 3L)
    assert(c.nearDups.nonEmpty)
    assert(c.distinctTexts < c.docs.size)
    c.nearDups.foreach { case (a, b) => assert(c.docs(a.toInt).source == c.docs(b.toInt).source) }
    val word = c.nearDups.map { case (a, b) =>
      Checks.jaccard(Checks.wordGrams(c.docs(a.toInt).text, Corpus.PrefixN), Checks.wordGrams(c.docs(b.toInt).text, Corpus.PrefixN)) }
    val char = c.nearDups.map { case (a, b) =>
      Checks.jaccard(Checks.charGrams(c.docs(a.toInt).text, Corpus.CharN), Checks.charGrams(c.docs(b.toInt).text, Corpus.CharN)) }
    assert(word.count(_ >= Corpus.PrefixT) > word.size / 2)
    assert(char.count(_ >= Corpus.CharT) > char.size / 2)
  }

  private def meta = engine.chunks.filter(col("chunkType") === "metadata")
    .select("chunkId", "entityType", "dense", "contentBm25").collect()
    .map(r => Checks.Meta(r.getString(0), r.getString(1), r.getSeq[Double](2).toArray, r.getString(3))).toSeq

  private def search(q: String, mode: String, types: Seq[String] = Nil) = {
    val score = if (mode == "hybrid") "rrf_score" else "score"
    engine.searchSimilar(q, mode, types, 10).select(col("chunkId"), col(score)).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
  }

  private lazy val queries = Seq(tree.fnName(3, 1), tree.className(4), Gen.CodeVocab(17) + " " + Gen.CodeVocab(250))

  test("the search oracles agree with GraftEngine.searchSimilar on a tiny store") {
    val m = meta
    for (q <- queries; types <- Seq(Nil, Seq("function", "method"))) {
      val dense = Checks.semantic(m, engine.embedder.embedText(q), types)
      val sparse = Checks.bm25(m, q, types)
      assert(Checks.topK(search(q, "semantic", types), dense, 10).isEmpty)
      assert(Checks.topK(search(q, "keyword", types), sparse, 10).isEmpty)
      assert(Checks.hybridTopK(search(q, "hybrid", types),
        Checks.rrfBounds(dense, sparse, Hybrid.fetchSize(10)), 10).isEmpty)
    }
  }

  test("a corrupted search result trips the search checks") {
    val m = meta
    val q = queries.head
    val dense = Checks.semantic(m, engine.embedder.embedText(q), Nil)
    val sparse = Checks.bm25(m, q, Nil)
    val sem = search(q, "semantic")
    val outsider = dense.last._1
    assert(Checks.topK(sem.updated(0, (outsider, sem.head._2)), dense, 10).nonEmpty) // wrong id
    assert(Checks.topK(sem.updated(2, (sem(2)._1, sem(2)._2 + 1e-3)), dense, 10).nonEmpty) // wrong score
    assert(Checks.topK(sem.dropRight(1), dense, 10).nonEmpty) // short
    assert(Checks.topK(sem.updated(1, sem.head), dense, 10).nonEmpty) // duplicate
    val kw = search(q, "keyword")
    assert(Checks.topK(kw.reverse, sparse, 10).nonEmpty || kw.map(_._2).distinct.size == 1)
    val bounds = Checks.rrfBounds(dense, sparse, Hybrid.fetchSize(10))
    val hy = search(q, "hybrid")
    assert(Checks.hybridTopK(hy.updated(0, (hy.head._1, hy.head._2 + 1e-3)), bounds, 10).nonEmpty)
    assert(Checks.hybridTopK(hy.updated(0, (outsider, hy.head._2)), bounds, 10).nonEmpty)
    assert(Checks.hybridTopK(hy.tail, bounds, 10).nonEmpty)
  }

  test("a corrupted graph read trips the graph checks") {
    val rows = engine.chunks.select("chunkId", "chunkType", "entityName", "entityType", "filePath",
      "lineNumber", "relationTarget", "relationType").collect()
      .map(r => Checks.Row(r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getInt(5), r.getString(6), r.getString(7))).toSeq
    val fn = tree.fnName(2, 0)
    val rel = engine.readGraph(fn, "relationships").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val want = Checks.relationships(rows, fn, 50)
    assert(rel.nonEmpty && Checks.same("rel", rel, want).isEmpty)
    assert(Checks.same("rel", rel.tail, want).nonEmpty)
    val ents = engine.readGraph(fn, "entities").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))).toSeq
    assert(Checks.entitiesRead(ents, Checks.entitiesOf(rows, fn), 50).isEmpty)
    assert(Checks.entitiesRead(ents :+ (("nobody", "function", "x.py", 1)), Checks.entitiesOf(rows, fn), 50).nonEmpty)
    val impl = engine.getImplementation(fn, "logical").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq.sorted
    assert(Checks.same("impl", impl, Checks.implementationLogical(rows, fn)).isEmpty)
    val file = engine.entitiesForFile(tree.modPath(2)).collect()
      .map(r => (r.getString(0), r.getSeq[String](1).toSeq)).toSeq
    assert(Checks.same("file", file, Checks.forFile(rows, tree.modPath(2))).isEmpty)
    assert(Checks.same("file", file.map { case (t, es) => (t, es.drop(1)) }, Checks.forFile(rows, tree.modPath(2))).nonEmpty)
  }

  test("wrong index counts, a diverged store and watch faults trip their checks") {
    assert(Checks.reindexCounts("noop", 0, 0, 0).isEmpty)
    assert(Checks.reindexCounts("noop", 1, 0, 0).nonEmpty)
    assert(Checks.reindexCounts("noop", 0, 4, 0).nonEmpty)
    assert(Checks.reindexCounts("edit1", 1, 3, 1).isEmpty)
    assert(Checks.reindexCounts("edit1", 2, 3, 1).nonEmpty)
    val keys = Workload.storeKeys(spark, scratch.resolve("store"))
    assert(Checks.storeEquals("s", keys, keys).isEmpty)
    assert(Checks.storeEquals("s", keys - keys.head, keys).nonEmpty)
    val (id, h, v, t, r) = keys.head
    assert(Checks.storeEquals("s", keys - keys.head + ((id, h, v.updated(0, v.head + 1), t, r)), keys).nonEmpty)
    assert(Checks.tokenFound("tok", Seq(("f", "a.py")), "a.py", "f").isEmpty)
    assert(Checks.tokenFound("tok", Seq(("g", "a.py")), "a.py", "f").nonEmpty)
    assert(Checks.deletedGone(Nil).isEmpty)
    assert(Checks.deletedGone(Seq("a.py::f::metadata")).nonEmpty)
  }

  test("missed planted pairs and wrong survivor counts trip the corpus checks") {
    val planted = Seq((1L, 5L, 0.9), (2L, 7L, 0.75), (3L, 9L, 0.4))
    assert(Checks.plantedPairsFound("op", planted, 0.7, Set((1L, 5L), (2L, 7L))).isEmpty)
    assert(Checks.plantedPairsFound("op", planted, 0.7, Set((1L, 5L))).nonEmpty)
    assert(Checks.exactSurvivors(10, 10).isEmpty)
    assert(Checks.exactSurvivors(11, 10).nonEmpty)
    assert(Checks.jaccard(Checks.wordGrams("a1 b2 c3 d4", 3), Checks.wordGrams("a1 b2 c3 e5", 3)) == 1.0 / 3)
  }
}
