package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftx.{GraftExtensions, ListenerBusDrain}
import graft.core.Tables

/** What every main shares: the one session builder, the untimed warmup,
  * the noop-sink timer, the job counter and the environment fragment of
  * the JSON the bench mains print. Harness-only code — never on a query
  * path.
  */
object Harness {

  /** `$SPARK_GRAFT_CPUS`, else every core of this host. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  val master: String = s"local[$cpus]"

  def session(masterUrl: String = master): SparkSession = {
    val spark = SparkSession.builder()
      .master(masterUrl)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf, default 100: a 300+-query suite (or a long-lived
      // engine session running index, search and maintenance verbs)
      // generates thousands of codegen units, so with the default a
      // query's compiled classes are long evicted by the time it runs
      // again and every pass re-pays Janino compilation. It caches
      // compiled code, never results — every pass still computes.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warmup: JIT, codegen and parquet-footer caches, so the first
    * measured query isn't charged for JVM startup.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      Tables.lineitem(spark, sfDir).limit(1000).write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => }

  /** Wall seconds to build `df` and materialize it through the `noop`
    * sink. A bare count() would let Catalyst prune away computed columns
    * (fingerprints, scores) and time only the scan.
    */
  def noopSeconds(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** `body`'s result and the Spark jobs it submitted. Every eager
    * checkpoint, `.head()`, `.count()` and `.collect()` is its own job, so
    * a removed driver barrier shows here even when the dumped plan (a
    * checkpoint RDD scan) cannot show it.
    */
  def countJobs[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    ListenerBusDrain(sc) // earlier work's events must not count
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** One timed pass of a registered query: noop-sink seconds and jobs. */
  def profile(spark: SparkSession, name: String, sfDir: String): (Double, Int) = {
    val fn = SparkEntry.queries(name)
    countJobs(spark)(noopSeconds(fn(spark, sfDir)))
  }

  /** `"name":seconds` pairs as one JSON object. */
  def timesJson(times: Seq[(String, Double)]): String =
    times.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }.mkString("{", ",", "}")

  /** The EFFECTIVE parallelism next to the requested cpus: `cpus` alone
    * can't tell "env var ignored" from "overhead-bound at this SF".
    */
  def envJson(spark: SparkSession): String =
    f""""cpus":$cpus,"parallelism":${spark.sparkContext.defaultParallelism},"master":"${spark.sparkContext.master}""""
}
