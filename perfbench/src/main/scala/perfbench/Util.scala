package perfbench

/** JSON for the result line and the trace file (Jackson, as shipped with
  * Spark); ordered maps keep their key order.
  */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def obj(kv: (String, Any)*): String = mapper.writeValueAsString(scala.collection.immutable.ListMap(kv: _*))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def timeMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Files2 {
  import java.nio.file.{Files, Path}
  def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally w.close()
    }

  /** (bytes, files) of the parquet data files under `p`. */
  def parquetFootprint(p: Path): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val w = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        val fs = w.iterator().asScala.filter(_.toString.endsWith(".parquet")).toVector
        (fs.map(Files.size).sum, fs.size)
      } finally w.close()
    }
}
