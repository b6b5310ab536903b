package graft

import java.nio.file.{Files, Paths}

/** Optimization-round profiler: times individual queries with the Bench
  * methodology (noop sink, min-of-N after an untimed warmup), reports the
  * Spark jobs each query submitted, and dumps `explain("formatted")` into
  * a plan ledger directory (e.g. plans/<round>/). Ends with one JSON line: the
  * min per query plus the effective parallelism, so a core-count scaling
  * probe (`SPARK_GRAFT_CPUS=8` vs `32` on a large input) is checkable from
  * that line alone. Harness-only code — never on a query path.
  *
  * Usage: runMain graft.ProfileOne <sfDir> <planDir> <suffix> <reps> q...
  * (empty suffix skips the plan dump; suffix "before"/"after" writes
  * <planDir>/<query>_<suffix>.txt)
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val planDir = args(1)
    val suffix = args(2)
    val reps = args(3).toInt
    val names = args.drop(4).toSeq
    val spark = Harness.session()
    Harness.warmup(spark, sfDir)
    Files.createDirectories(Paths.get(planDir))
    val mins = names.map { name =>
      val runs = (1 to reps).map(_ => Harness.profile(spark, name, sfDir))
      val times = runs.map(_._1)
      if (suffix.nonEmpty) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        Files.writeString(Paths.get(planDir, s"${name}_$suffix.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      }
      println(f"[profile] $name min=${times.min}%.3f s  " +
        s"runs=[${times.map(t => f"$t%.3f").mkString(",")}]  " +
        s"jobs=[${runs.map(_._2).mkString(",")}]")
      name -> times.min
    }
    val total = mins.map(_._2).sum
    println(f"""{"metric":"cores_probe","value":$total%.3f,"unit":"sec",${Harness.envJson(spark)},"queries":${Harness.timesJson(mins)},"sf":"$sfDir","runs":$reps,"agg":"min"}""")
    spark.stop()
  }
}
