package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the tracer, timing samples,
  * per-layer values, and the attempted/failed tally that feeds `correct`.
  */
final class Run(val spark: SparkSession, val tracer: Tracer, val work: Path, val seed: Long) {

  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val layer = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  var ops = 0L
  var opMs = 0.0

  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def record(name: String, v: Double): Unit = layer.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** One timed operation of the workload: counted as attempted, timed
    * into `name`'s samples, and counted as failed if it throws. Returns
    * the result and the wall time in ms.
    */
  def op[A](layerName: String, name: String)(body: => A): Option[(A, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(layerName, name)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      sample(name, ms); ops += 1; opMs += ms
      Some((r, ms))
    } catch {
      case e: Exception =>
        failed += 1
        failures += s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
  }

  /** One output check, counted as attempted and, on failure, as failed. */
  def check(c: => Checks.Check): Unit = {
    attempted += 1
    val r = try c catch { case e: Exception => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    r.foreach { msg => failed += 1; failures += msg.take(300) }
  }

  /** A benchmark-side probe call into one layer, timed into the per-layer
    * value `name` (traced cycles only).
    */
  def probe[A](layerName: String, name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = tracer.span(layerName, name)(body)
    record(name, (System.nanoTime() - t0) / 1e6)
    r
  }

  def dir(name: String): Path = work.resolve(name)
}
