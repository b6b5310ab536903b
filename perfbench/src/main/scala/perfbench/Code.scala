package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.api.GraftEngine
import graft.core.GraftConfig
import graft.core.Model.FileRow
import graft.index.{ChunkBuilder, IndexPipeline, IndexStore}
import graft.ingest.SourceScan
import graft.search.{Bm25, Hybrid}
import graft.streaming.WatchPipeline

/** The code-memory engine under a mixed closed loop. Set-up writes a
  * seeded project tree and fully indexes it into a fresh store. One cycle
  * is, in order: a no-op re-index, a re-index after a 1-file edit (one
  * function body changed), one watch micro-batch through
  * `WatchPipeline.processBatch`, a hybrid search for the token that batch
  * planted (read after write), one
  * semantic, one keyword and one hybrid query (distinct; the keyword one
  * on even cycles, the others on odd cycles carry an entity-type filter)
  * and the four graph reads.
  *
  * The writes put the work on ingest, index and the store; the reads on
  * search and the api. Semantic search bypasses BM25, so it is the
  * "no change" control for keyword-side work.
  */
final class Code(run: Run) extends Workload {
  private val spark: SparkSession = run.spark
  private val treeDir: Path = run.dir("tree")
  private val store: Path = run.dir("store")
  private var tree: Gen.Tree = _
  private var editNo = 0
  private var step = 0
  private val gone = mutable.HashSet[String]()
  private val rnd = new java.util.SplittableRandom(run.seed * 31 + 7)
  private val used = mutable.HashSet[String]()
  private def engine(p: Path = store) = GraftEngine(spark, p.toString)

  /** One pass is as long as a run can afford: the incremental verbs each
    * take seconds, dominated by per-job driver work.
    */
  val minCycles = 1

  def setup(rep: Int): Unit = {
    Files2.deleteRecursive(treeDir); Files2.deleteRecursive(store)
    tree = Gen.writeTree(treeDir, Workload.Tree, run.seed)
    val (res, ms) = Stats.timeMs(run.tracer.span("index", "index.full")(engine().index(treeDir.toString)))
    run.sample("index.full", ms)
    stageTimes("full")
    counts("full", res)
  }

  /** Only `IndexPipeline.index` resets the stage timer, so this is read
    * right after an index verb and never after a watch batch.
    */
  private def stageTimes(v: String): Unit =
    IndexPipeline.lastStageTimingsMs.foreach { case (st, t) => run.record(s"index.stage.${st}_ms.$v", t.toDouble) }

  private def counts(v: String, res: IndexPipeline.IndexingResult): Unit = {
    run.record(s"index.chunks_written.$v", res.chunksWritten.toDouble)
    run.record(s"index.chunks_embedded.$v", res.chunksEmbedded.toDouble)
    run.record(s"index.chunks_carried.$v", res.chunksCarried.toDouble)
    if (res.chunksWritten > 0)
      run.record(s"index.embed_reuse_ratio.$v", 1.0 - res.chunksEmbedded.toDouble / res.chunksWritten)
  }

  private def verb(v: String, expectParsed: Long): Unit =
    run.op("index", s"index.$v")(engine().index(treeDir.toString)).foreach { case (res, _) =>
      stageTimes(v)
      counts(v, res)
      run.check(Checks.reindexCounts(v, res.filesParsed, res.chunksEmbedded, expectParsed))
      if (run.tracer.active && v == "noop") ingestProbes()
    }

  private def storeFootprint(): (Long, Int) = Files2.parquetFootprint(store.resolve("chunks"))

  /** The tree's scan, parse and embed, called from outside the verbs
    * (traced runs): the ingest and embed work a full index does.
    */
  private def ingestProbes(): Unit = {
    import spark.implicits._
    val files = run.probe("ingest", "ingest.scan_ms")(SourceScan.listFiles(treeDir.toString, GraftConfig()))
    run.record("ingest.files_listed", files.size.toDouble)
    val rows = files.map(_._1).map { p =>
      val f = treeDir.resolve(p)
      FileRow(f.toString, p, Files.size(f), Files.getLastModifiedTime(f).toMillis, Files.readString(f))
    }
    val parsed = run.probe("ingest", "ingest.parse_ms.full") {
      val r = SourceScan.parseAll(spark.createDataset(rows)).cache()
      Workload.noop(r.toDF())
      r
    }
    val chunks = parsed.flatMap(ChunkBuilder.chunksOf).toDF()
    run.probe("index", "index.embed_ms.full")(Workload.noop(engine().embedder.embed(chunks, "content")))
    parsed.unpersist()
  }

  /** Store read and write from outside the engine (traced cycles). */
  private def storeProbes(): Unit = {
    run.probe("index", "index.store_read_ms")(Workload.noop(IndexStore.readChunks(spark, store.toString)))
    val scratch = run.dir("store_probe")
    Files2.deleteRecursive(scratch)
    run.probe("index", "index.store_write_ms")(
      IndexStore.writeChunks(IndexStore.readChunks(spark, store.toString), scratch.toString))
    Files2.deleteRecursive(scratch)
    val (bytes, files) = storeFootprint()
    run.record("index.store_bytes", bytes.toDouble)
    run.record("index.store_files", files.toDouble)
  }

  private def batch(): Unit = {
    import spark.implicits._
    val b = Gen.watchBatch(tree, step, gone)
    step += 1
    val ds = spark.createDataset(b.events.map(e => WatchPipeline.FileEvent(e.relPath, e.eventType, e.ts, e.content)))
    run.op("streaming", "streaming.batch")(WatchPipeline.processBatch(spark, ds, store.toString))
      .foreach { case (res, _) =>
        counts("batch", res)
        if (run.tracer.active && res.chunksWritten > 0)
          run.record("index.bytes_written_per_chunk", storeFootprint()._1.toDouble / res.chunksWritten)
      }
    run.op("search", "search.read_after_write")(
      engine().searchSimilar(b.token, "hybrid", limit = Workload.TopK)
        .select(col("entityName"), col("filePath")).collect()
    ).foreach { case (rows, _) =>
      run.check(Checks.tokenFound(b.token, rows.map(r => (r.getString(0), r.getString(1))).toSeq,
        b.tokenPath, b.tokenFn))
    }
    if (run.tracer.active) {
      val applied = b.events.map(_.relPath).distinct.size
      run.record("streaming.events_in", b.events.size.toDouble)
      run.record("streaming.events_applied", applied.toDouble)
      run.record("streaming.coalesce_ratio", applied.toDouble / b.events.size)
      run.probe("streaming", "streaming.coalesce_ms")(Workload.noop(WatchPipeline.coalesce(ds.toDF())))
      run.record("streaming.store_files_after", storeFootprint()._2.toDouble)
    }
  }

  // ---------------------------------------------------------------------
  // Reads
  // ---------------------------------------------------------------------

  private case class Asked(mode: String, query: String, types: Seq[String], got: Seq[(String, Double)])
  private case class Graph(mode: String, entity: String, got: Any)

  /** A query not asked before in this run: an entity name, a class name,
    * or two or three docstring words.
    */
  private def nextQuery(): String = {
    var q = ""
    while (q.isEmpty || used.contains(q)) {
      val m = rnd.nextInt(Workload.Tree.modules)
      q = rnd.nextInt(3) match {
        case 0 => tree.fnName(m, rnd.nextInt(Gen.FnsPerModule))
        case 1 => tree.className(m)
        case _ => (0 to 1 + rnd.nextInt(2)).map(_ => Gen.CodeVocab(rnd.nextInt(Gen.CodeVocab.length))).mkString(" ")
      }
    }
    used += q
    q
  }

  private def ask(mode: String, types: Seq[String]): Option[Asked] = {
    val q = nextQuery()
    val scoreCol = if (mode == "hybrid") "rrf_score" else "score"
    val got = run.op("search", s"search.$mode")(
      engine().searchSimilar(q, mode, types, Workload.TopK).select(col("chunkId"), col(scoreCol)).collect())
    if (run.tracer.active) searchProbes(mode, q, types)
    got.map { case (rows, _) => Asked(mode, q, types, rows.map(r => (r.getString(0), r.getDouble(1))).toSeq) }
  }

  /** Query embedding, BM25 and RRF called on their own (traced cycles). */
  private def searchProbes(mode: String, q: String, types: Seq[String]): Unit = {
    val eng = engine()
    run.probe("search", "search.query_embed_ms")(eng.embedder.embedText(q))
    val base = eng.chunks.filter(col("chunkType") === "metadata")
    val b = if (types.nonEmpty) base.filter(col("entityType").isin(types: _*)) else base
    if (mode == "keyword")
      run.probe("search", "search.bm25_ms")(Bm25.search(b.select(col("chunkId"), col("contentBm25")),
        "chunkId", "contentBm25", Bm25.tokenizeScala(q).toSeq.distinct, Workload.TopK).collect())
    if (mode == "hybrid") {
      val fetch = Hybrid.fetchSize(Workload.TopK)
      val schema = org.apache.spark.sql.types.StructType.fromDDL("chunkId STRING, score DOUBLE")
      def frame(m: String) = spark.createDataFrame(java.util.Arrays.asList(
        eng.searchSimilar(q, m, types, fetch).select(col("chunkId"), col("score")).collect(): _*), schema)
      val (d, s) = (frame("semantic"), frame("keyword"))
      run.probe("search", "search.rrf_ms")(Hybrid.rrf(d, s, "chunkId", Workload.TopK).collect())
    }
  }

  private def graph(mode: String): Option[Graph] = {
    val m = rnd.nextInt(Workload.Tree.modules)
    val entity = if (mode == "file") tree.modPath(m) else tree.fnName(m, rnd.nextInt(Gen.FnsPerModule))
    val eng = engine()
    run.op("api", s"api.graph.$mode") {
      mode match {
        case "relationships" => eng.readGraph(entity, "relationships").collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
        case "entities" => eng.readGraph(entity, "entities").collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))).toSeq
        case "implementation" => eng.getImplementation(entity, "logical").collect()
          .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq.sorted
        case _ => eng.entitiesForFile(entity).collect()
          .map(r => (r.getString(0), r.getSeq[String](1).toSeq)).toSeq
      }
    }.map { case (got, _) => Graph(mode, entity, got) }
  }

  // ---------------------------------------------------------------------
  // Loop and checks
  // ---------------------------------------------------------------------

  def cycle(i: Int): Unit = {
    verb("noop", 0L)
    editNo += 1
    Gen.applyEdit(tree, editNo, 1, gone)
    verb("edit1", 1L)
    batch()
    val asked = Seq("semantic", "keyword", "hybrid").zipWithIndex.flatMap { case (m, k) =>
      ask(m, if ((i + k) % 2 == 1) Seq("function", "method") else Nil)
    }
    val graphs = Seq("relationships", "entities", "implementation", "file").flatMap(graph)
    if (run.tracer.active) storeProbes()
    checkReads(asked, graphs)
  }

  /** Brute-force oracles over the store as these reads saw it. */
  private def checkReads(asked: Seq[Asked], graphs: Seq[Graph]): Unit = {
    val eng = engine()
    val all = eng.chunks.select("chunkId", "chunkType", "entityName", "entityType", "filePath",
      "lineNumber", "relationTarget", "relationType", "dense", "contentBm25").collect()
    val rows = all.map(r => Checks.Row(r.getString(0), r.getString(1), r.getString(2), r.getString(3),
      r.getString(4), r.getInt(5), r.getString(6), r.getString(7))).toSeq
    val meta = all.filter(_.getString(1) == "metadata").map(r => Checks.Meta(r.getString(0), r.getString(3),
      r.getSeq[Double](8).toArray, r.getString(9))).toSeq
    asked.foreach { a =>
      def dense = Checks.semantic(meta, eng.embedder.embedText(a.query), a.types)
      def sparse = Checks.bm25(meta, a.query, a.types)
      run.check((a.mode match {
        case "semantic" => Checks.topK(a.got, dense, Workload.TopK)
        case "keyword" => Checks.topK(a.got, sparse, Workload.TopK)
        case _ => Checks.hybridTopK(a.got, Checks.rrfBounds(dense, sparse, Hybrid.fetchSize(Workload.TopK)),
          Workload.TopK)
      }).map(s"${a.mode} '${a.query}' ${a.types.mkString(",")}: " + _))
    }
    graphs.foreach { g =>
      run.check(g.mode match {
        case "relationships" => Checks.same(s"relationships of ${g.entity}", g.got,
          Checks.relationships(rows, g.entity, 50))
        case "entities" => Checks.entitiesRead(g.got.asInstanceOf[Seq[(String, String, String, Int)]],
          Checks.entitiesOf(rows, g.entity), 50).map(s"entities of ${g.entity}: " + _)
        case "implementation" => Checks.same(s"implementation of ${g.entity}", g.got,
          Checks.implementationLogical(rows, g.entity))
        case _ => Checks.same(s"entities in ${g.entity}", g.got, Checks.forFile(rows, g.entity))
      })
    }
  }

  /** Deleted files leave nothing behind, and the store equals a fresh
    * full index of the final tree.
    */
  def finish(): Unit = {
    val left = engine().chunks.filter(col("filePath").isin(gone.toSeq: _*)).select(col("chunkId"))
      .collect().map(_.getString(0)).toSeq
    run.check(Checks.deletedGone(left))
    val fresh = run.dir("store_fresh")
    Files2.deleteRecursive(fresh)
    engine(fresh).index(treeDir.toString)
    run.check(Checks.storeEquals("final store", Workload.storeKeys(spark, store), Workload.storeKeys(spark, fresh)))
    Files2.deleteRecursive(fresh)
  }

  def figures: Seq[(String, String, Seq[Double])] = {
    def s(n: String) = run.samples.getOrElse(n, Nil).toSeq
    Seq(("full_index_s", "s", s("index.full").map(_ / 1000)),
      ("noop_reindex_s", "s", s("index.noop").map(_ / 1000)),
      ("edit1_reindex_s", "s", s("index.edit1").map(_ / 1000))) ++
      Seq("semantic", "keyword", "hybrid").map(m => (s"${m}_p50_ms", "ms", s(s"search.$m"))) ++
      Seq(("graph_p50_ms", "ms", Seq("relationships", "entities", "implementation", "file")
        .flatMap(m => s(s"api.graph.$m"))),
        ("watch_batch_p50_ms", "ms", s("streaming.batch")),
        ("read_after_write_p50_ms", "ms", s("search.read_after_write")))
  }

  def sizes: Map[String, Any] = Map("modules" -> Workload.Tree.modules,
    "copies" -> Workload.Tree.copies, "docs" -> Workload.Tree.docs,
    "functions_per_module" -> Gen.FnsPerModule, "events_per_batch" -> 10,
    "queries_per_cycle" -> 3, "graph_reads_per_cycle" -> 4)
}
