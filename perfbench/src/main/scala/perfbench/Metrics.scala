package perfbench

/** The metric catalogue. BENCHMARK.json lists the same names; a run prints
  * every end-to-end metric (untraced) or every per-layer metric (traced),
  * on every workload. A layer a workload leaves idle reports 0.
  */
object Metrics {
  val Workloads = Seq("code", "corpus")
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  /** (name, unit). `cycle_p50_ms`: median wall time of one loop cycle,
    * the sum of its timed operations (code: see [[Code]]; corpus: one
    * pass of seven operators). `ops_per_s`: timed operations completed
    * per second of their own wall time.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cycle_p50_ms" -> "ms", "ops_per_s" -> "1/s")

  private val Verbs = Seq("full", "noop", "edit1")
  private val Writes = Verbs :+ "batch"
  private val Stages = Seq("scan", "parse", "embed", "store_write", "state_write")
  private val SparkMetrics = Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "input_bytes" -> "bytes", "task_ms_max" -> "ms", "task_ms_median" -> "ms", "driver_gap_ms" -> "ms")
  /** Layers with operations of their own (ingest runs inside the index verbs). */
  val Layers = Seq("index", "search", "api", "streaming", "dedup")

  val PerLayer: Seq[(String, String)] =
    Seq("ingest.scan_ms" -> "ms", "ingest.files_listed" -> "count") ++
      Seq("ingest.parse_ms.full" -> "ms") ++
      Verbs.map(v => s"index.verb_ms.$v" -> "ms") ++
      Verbs.flatMap(v => Stages.map(st => s"index.stage.${st}_ms.$v" -> "ms")) ++
      Seq("index.embed_ms.full" -> "ms") ++
      Writes.flatMap(v => Seq(s"index.chunks_written.$v" -> "count", s"index.chunks_embedded.$v" -> "count",
        s"index.chunks_carried.$v" -> "count")) ++
      Seq("full", "edit1", "batch").map(v => s"index.embed_reuse_ratio.$v" -> "ratio") ++
      Seq("index.store_write_ms" -> "ms", "index.store_read_ms" -> "ms", "index.store_bytes" -> "bytes",
        "index.store_files" -> "count", "index.bytes_written_per_chunk" -> "bytes") ++
      SparkMetrics.map { case (m, u) => s"spark.$m" -> u } ++
      Writes.flatMap(v => Seq(s"spark.jobs.$v" -> "count", s"spark.shuffle_write_bytes.$v" -> "bytes",
        s"spark.driver_gap_ms.$v" -> "ms")) ++
      Seq("semantic", "keyword", "hybrid", "read_after_write").map(m => s"search.${m}_ms" -> "ms") ++
      Seq("search.query_embed_ms" -> "ms", "search.bm25_ms" -> "ms", "search.rrf_ms" -> "ms") ++
      Seq("semantic", "keyword", "hybrid").map(m => s"search.jobs_per_query.$m" -> "count") ++
      Seq("relationships", "entities", "implementation", "file").map(m => s"api.graph_ms.$m" -> "ms") ++
      Seq("streaming.events_in" -> "count", "streaming.events_applied" -> "count",
        "streaming.coalesce_ratio" -> "ratio", "streaming.coalesce_ms" -> "ms",
        "streaming.process_batch_ms" -> "ms", "streaming.store_files_after" -> "count") ++
      Seq("minhash", "prefix_join", "ngram_jaccard", "dup_spans", "source_overlap", "exact")
        .map(o => s"dedup.${o}_ms" -> "ms") ++
      Seq("search.bm25_fit_ms" -> "ms", "dedup.minhash_candidates" -> "count",
        "dedup.minhash_precision" -> "ratio", "dedup.minhash_recall" -> "ratio",
        "dedup.exact_survivors" -> "count") ++
      Layers.map(l => s"layer.self_ms.$l" -> "ms") ++
      Seq("host.calib_ms_start" -> "ms", "host.calib_ms_end" -> "ms",
        "trace.cycle_p50_ms" -> "ms", "trace.calib_overhead_ms" -> "ms", "trace.calib_overhead_ratio" -> "ratio")

  /** Per-layer values of a traced run: medians of what the workload
    * recorded, op timings renamed to their per-layer names, and Spark
    * work summed per span by the job-group listener.
    */
  def perLayer(run: Run, stats: Seq[Tracer.SpanStats], calibStart: Double,
               calibEnd: Double, calibTraced: Double): Seq[(String, (Double, String))] = {
    val v = scala.collection.mutable.HashMap[String, Double]()
    run.layer.foreach { case (k, xs) => v(k) = Stats.median(xs.toSeq) }
    def fromSamples(to: String, from: String): Unit =
      run.samples.get(from).foreach(xs => v(to) = Stats.median(xs.toSeq))
    Verbs.foreach(x => fromSamples(s"index.verb_ms.$x", s"index.$x"))
    Seq("semantic", "keyword", "hybrid", "read_after_write")
      .foreach(m => fromSamples(s"search.${m}_ms", s"search.$m"))
    Seq("relationships", "entities", "implementation", "file")
      .foreach(m => fromSamples(s"api.graph_ms.$m", s"api.graph.$m"))
    fromSamples("streaming.process_batch_ms", "streaming.batch")
    Seq("minhash", "prefix_join", "ngram_jaccard", "dup_spans", "source_overlap", "exact")
      .foreach(o => fromSamples(s"dedup.${o}_ms", s"dedup.$o"))
    fromSamples("search.bm25_fit_ms", "search.bm25_fit")

    // Spark work per traced operation (probe spans excluded)
    val ops = stats.filter(s => run.samples.contains(s.span.name) && s.span.parent.isEmpty)
    def med(xs: Seq[Double]) = Stats.median(xs)
    if (ops.nonEmpty) {
      def each(f: Tracer.SpanStats => Double) = med(ops.map(f))
      v("spark.jobs") = each(_.work.jobs.toDouble)
      v("spark.stages") = each(_.work.stages.toDouble)
      v("spark.tasks") = each(_.work.tasks.toDouble)
      v("spark.shuffle_write_bytes") = each(_.work.shuffleWrite.toDouble)
      v("spark.shuffle_read_bytes") = each(_.work.shuffleRead.toDouble)
      v("spark.spill_bytes") = each(_.work.spill.toDouble)
      v("spark.input_bytes") = each(_.work.input.toDouble)
      v("spark.task_ms_max") = each(_.work.taskMsMax)
      v("spark.task_ms_median") = each(_.work.taskMsMedian)
      v("spark.driver_gap_ms") = each(_.selfMs)
    }
    def named(n: String) = ops.filter(_.span.name == n)
    Writes.foreach { x =>
      val s = named(if (x == "batch") "streaming.batch" else s"index.$x")
      if (s.nonEmpty) {
        v(s"spark.jobs.$x") = med(s.map(_.work.jobs.toDouble))
        v(s"spark.shuffle_write_bytes.$x") = med(s.map(_.work.shuffleWrite.toDouble))
        v(s"spark.driver_gap_ms.$x") = med(s.map(_.selfMs))
      }
    }
    Seq("semantic", "keyword", "hybrid").foreach { m =>
      val s = named(s"search.$m")
      if (s.nonEmpty) v(s"search.jobs_per_query.$m") = med(s.map(_.work.jobs.toDouble))
    }
    val cycles = run.samples.getOrElse("cycle", Nil).toSeq
    val tracedCycles = math.max(1, cycles.size)
    Layers.foreach { l =>
      // per cycle, so the set-up's full index is left out
      v(s"layer.self_ms.$l") = ops.filter(s => s.span.layer == l && s.span.name != "index.full")
        .map(_.selfMs).sum / tracedCycles
    }
    v("host.calib_ms_start") = calibStart
    v("host.calib_ms_end") = calibEnd
    v("trace.cycle_p50_ms") = med(cycles)
    v("trace.calib_overhead_ms") = calibTraced - calibEnd
    v("trace.calib_overhead_ratio") = (calibTraced - calibEnd) / calibEnd
    PerLayer.map { case (n, u) => n -> (v.getOrElse(n, 0.0), u) }
  }
}
