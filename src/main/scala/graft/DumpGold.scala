package graft

/** Scratch runner: prints a gate's rows as DuckDB VALUES literals for
  * golden-oracle transcription (q207-q209 / q216-q219 pattern).
  */
object DumpGold {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    args.foreach { q =>
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      println(s"== $q  schema: ${df.schema.simpleString}")
      df.collect().foreach { r =>
        println("  (" + (0 until r.length).map { i =>
          r.get(i) match {
            case s: String => "'" + s.replace("'", "''") + "'"
            case l: Long => s"CAST($l AS BIGINT)"
            case d: Double => s"CAST($d AS DOUBLE)"
            case b: Boolean => b.toString.toUpperCase
            case x => String.valueOf(x)
          }
        }.mkString(", ") + "),")
      }
    }
    spark.stop()
  }
}
