package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recorder for traced runs. A span is opened around one call into a
  * layer's public API from the benchmark's own code; the span id is set as
  * the Spark job group for the duration of the call, so [[JobGroupListener]]
  * can charge every job, stage and task the call triggers to it. Spans stay
  * in memory and are written out once, at exit.
  */
final class Tracer(sc: SparkContext, val runId: String, registered: Boolean) {
  import Tracer._

  val listener = new JobGroupListener
  if (registered) sc.addSparkListener(listener)

  /** Spans are recorded only while active. */
  var active = false

  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private var nextId = 0L

  /** Run `body` as span `name` of `layer`; while inactive just run `body`. */
  def span[A](layer: String, name: String)(body: => A): A =
    if (!active) body
    else {
      nextId += 1
      val s = Span(s"$runId-$nextId", layer, name, stack.headOption.map(_.id), System.nanoTime())
      stack.push(s)
      sc.setJobGroup(s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += s
      }
    }

  /** All closed spans, with the Spark work charged to each. Drains the
    * listener bus first so every event of a finished call is counted.
    */
  def finished(): Seq[SpanStats] = {
    if (registered) org.apache.spark.perfbench.ListenerBusAccess.drain(sc)
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val g = listener.group(s.id)
      val kids = children.getOrElse(Some(s.id), Nil)
      // self time: the span's wall minus the union of the intervals its
      // child spans and its own Spark jobs cover (clipped to the span)
      val covered = union(
        kids.map(k => (k.startNs, k.endNs)).toSeq ++ g.jobIntervalsNs.map {
          case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs))
        }.filter { case (a, b) => b > a }.toSeq)
      SpanStats(s, g, (s.endNs - s.startNs - covered) / 1e6)
    }
  }

  /** JSON lines, one per span, for the trace file. */
  def dump(path: java.nio.file.Path, stats: Seq[SpanStats]): Unit = {
    val lines = stats.map { st =>
      val s = st.span
      Json.obj(
        "run" -> runId, "id" -> s.id, "layer" -> s.layer, "name" -> s.name,
        "parent" -> s.parent.getOrElse(""), "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ms" -> st.selfMs, "jobs" -> st.work.jobs, "stages" -> st.work.stages,
        "tasks" -> st.work.tasks, "shuffle_write_bytes" -> st.work.shuffleWrite,
        "shuffle_read_bytes" -> st.work.shuffleRead, "spill_bytes" -> st.work.spill,
        "input_bytes" -> st.work.input)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: String, layer: String, name: String, parent: Option[String],
                        startNs: Long) {
    var endNs: Long = 0L
  }

  final case class SpanStats(span: Span, work: GroupWork, selfMs: Double)

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark work of one job group (one span). */
final class GroupWork {
  var jobs = 0; var stages = 0; var tasks = 0
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L
  val taskMs = mutable.ArrayBuffer[Long]()
  /** [start, end) of each job, in System.nanoTime() terms. */
  val jobIntervalsNs = mutable.ArrayBuffer[(Long, Long)]()
  def taskMsMax: Double = if (taskMs.isEmpty) 0.0 else taskMs.max.toDouble
  def taskMsMedian: Double = Stats.median(taskMs.map(_.toDouble).toSeq)
}

/** Sums job, stage and task metrics per job group (= span id). Event
  * times are wall-clock millis; they are mapped onto the nanoTime axis the
  * spans use through one offset taken at construction.
  */
final class JobGroupListener extends SparkListener {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val groups = mutable.HashMap[String, GroupWork]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val jobGroup = mutable.HashMap[Int, (String, Long)]()

  def group(id: String): GroupWork = synchronized(groups.getOrElse(id, new GroupWork))

  private def work(id: String) = groups.getOrElseUpdate(id, new GroupWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { id =>
      work(id).jobs += 1
      jobGroup(e.jobId) = (id, e.time * 1000000L + offsetNs)
      e.stageIds.foreach(s => stageGroup(s) = id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (id, startNs) =>
      work(id).jobIntervalsNs += ((startNs, e.time * 1000000L + offsetNs))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(id => work(id).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { id =>
      val w = work(id)
      w.tasks += 1
      w.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.input += m.inputMetrics.bytesRead
      }
    }
  }
}
