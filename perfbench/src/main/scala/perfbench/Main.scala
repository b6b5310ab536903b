package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark entry point:
  *
  *   perfbench.Main --workload <code|corpus> --seed <n>
  *                  --seconds <s> --trace <0|1> [--out <file>]
  *
  * Runs from the root of a source checkout; everything it writes goes
  * under `.bench_build/` there. Prints a detail line (the workload's own
  * named figures with sample counts, sizes, host calibration) and then
  * the result line, which also goes to `--out` when given.
  */
object Main {

  /** Set-up repetitions per untraced run; `setup_s` is their median. A
    * traced run does not report `setup_s` and sets up once.
    */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a.getOrElse("workload", "")
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toInt
    val traced = a.getOrElse("trace", "0") == "1"
    if (!Metrics.Workloads.contains(workload)) {
      System.err.println(s"unknown workload '$workload'; one of ${Metrics.Workloads.mkString(", ")}")
      sys.exit(2)
    }
    val root = Paths.get("").toAbsolutePath
    val work = root.resolve(".bench_build").resolve("work")
      .resolve(s"$workload-$seed-${ProcessHandle.current().pid()}")
    Files2.deleteRecursive(work)
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val tracer = new Tracer(spark.sparkContext, s"$workload-$seed", registered = traced)
      val run = new Run(spark, tracer, work, seed)
      val calibStart = Calib.probe(spark)
      val w = Workload(workload, run)
      val tSetup = System.nanoTime()

      // A traced run traces set-up and every cycle; its cycle median minus
      // an untraced run's is the tracing overhead on the workload.
      tracer.active = traced
      val setupMs = (0 until (if (traced) 1 else SetupReps)).map(r => Stats.timeMs(w.setup(r))._2)
      val tLoop = System.nanoTime()
      val deadline = tLoop + seconds * 1000000000L
      var i = 0
      while (i < w.minCycles || System.nanoTime() < deadline) {
        val before = run.opMs
        w.cycle(i)
        run.sample("cycle", run.opMs - before)
        i += 1
      }
      tracer.active = false
      val tFinish = System.nanoTime()
      w.finish()
      val tEnd = System.nanoTime()
      val calibEnd = Calib.probe(spark)
      // the same probe traced: the tracing cost of a fixed set of jobs
      val calibTraced = if (!traced) 0.0 else {
        tracer.active = true
        try tracer.span("host", "host.calib")(Calib.probe(spark)) finally tracer.active = false
      }

      val cycles = run.samples.getOrElse("cycle", Nil).toSeq
      val e2e = Map(
        "setup_s" -> Stats.median(setupMs) / 1000,
        "cycle_p50_ms" -> Stats.median(cycles),
        "ops_per_s" -> run.ops / (run.opMs / 1000))

      val figures = w.figures.map { case (n, u, xs) =>
        n -> ListMap("value" -> Stats.median(xs), "unit" -> u, "n" -> xs.size)
      } ++ Seq(
        "setup_s" -> ListMap("value" -> e2e("setup_s"), "unit" -> "s", "n" -> setupMs.size),
        "failed_ratio" -> ListMap("value" -> run.failed.toDouble / math.max(1L, run.attempted), "unit" -> "ratio",
          "n" -> run.attempted))
      val stats = tracer.finished()
      if (traced) tracer.dump(work.getParent.getParent.resolve("traces").resolve(s"$workload-$seed.jsonl"), stats)
      val detail = Json.obj(
        "workload" -> workload, "seed" -> seed, "nproc" -> Metrics.nproc,
        "master" -> spark.sparkContext.master, "sizes" -> w.sizes, "cycles" -> i,
        "phase_s" -> Map("session" -> sessionS, "setup" -> (tLoop - tSetup) / 1e9,
          "loop" -> (tFinish - tLoop) / 1e9, "checks" -> (tEnd - tFinish) / 1e9),
        "setup_s_samples" -> setupMs.map(_ / 1000),
        "host.calib_ms_start" -> calibStart, "host.calib_ms_end" -> calibEnd,
        "figures" -> ListMap(figures: _*),
        "failures" -> run.failures.take(20).toSeq)
      println(detail)

      val metrics =
        if (!traced) Metrics.EndToEnd.map { case (n, u) => n -> (e2e(n), u) }
        else Metrics.perLayer(run, stats, calibStart, calibEnd, calibTraced)
      val result = Json.obj(
        "correct" -> (run.failed == 0),
        "attempted" -> run.attempted,
        "failed" -> run.failed,
        "metrics" -> ListMap(metrics.map { case (n, (v, u)) => n -> ListMap("value" -> v, "unit" -> u) }: _*))
      a.get("out").foreach(o => Files.write(Paths.get(o), (result + "\n").getBytes("UTF-8")))
      println(result)
    } finally {
      spark.stop()
      Files2.deleteRecursive(work)
    }
  }

  /** The session `graft.Cli` builds: local[nproc], shuffle partitions =
    * nproc, compiled-code cache 4096, the graft SQL extensions. Scratch
    * space stays inside the run's work directory.
    */
  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${Metrics.nproc}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Metrics.nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new org.apache.spark.sql.graftx.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Fixed CPU + shuffle work, timed at the start and end of every run so
  * host drift between runs shows in the artifact itself: a driver-side
  * hashing loop and a 2M-row aggregate with a shuffle. Two untimed
  * passes, then the median of three.
  */
object Calib {
  def probe(spark: SparkSession): Double = Stats.median((0 until 5).map { _ =>
    Stats.timeMs {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val buf = new Array[Byte](1 << 16)
      var i = 0
      while (i < 256) { buf(i & 0xffff) = i.toByte; md.update(buf); i += 1 }
      spark.range(0, 2000000L, 1, Metrics.nproc)
        .select((col("id") % 1024).as("k"), hash(col("id")).as("h"))
        .groupBy("k").agg(sum("h")).collect()
    }._2
  }.drop(2))
}
