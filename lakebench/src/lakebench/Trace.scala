package lakebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `id` doubles as the Spark job group the
 *  call's jobs run under when tracing is on; `req` is the id of the
 *  outermost span (one client request). */
final case class Span(id: Int, req: Int, parent: Int, layer: String, op: String,
    name: String, startMs: Long, endMs: Long, wallNs: Long) {
  def wallMs: Double = wallNs / 1e6
}

/** Spark work of one job, as the listener saw it. */
final class JobRec(val group: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var input = 0L
  var output = 0L
}

object JobRec {
  /** Spark work summed over `js`, named as the `exec.<op>.*` fields. */
  def work(js: Seq[JobRec]): Seq[(String, Double)] = Seq(
    "jobs" -> js.size.toDouble,
    "stages" -> js.map(_.stages).sum.toDouble,
    "tasks" -> js.map(_.tasks).sum.toDouble,
    "task_s" -> js.map(_.taskMs).sum / 1e3,
    "shuffle_read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
    "shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
    "input_bytes" -> js.map(_.input).sum.toDouble,
    "output_bytes" -> js.map(_.output).sum.toDouble)
}

/** Attributes every job to the job group set around the call that
 *  launched it; stages and tasks follow their job. */
final class ExecListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val j = new JobRec(group, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach { j =>
      j.stages += 1
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.taskInfo != null) j.taskMs += e.taskInfo.duration
    }
  }
  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toVector)
}

/** Times calls into the program's layers from the benchmark's side. It
 *  always keeps wall times (the end-to-end metrics need them); with
 *  tracing on it also sets a job group per call and listens to Spark. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[(Int, Int)] = Nil // (span id, request id)
  private var nextId = 1
  private val listener = if (enabled) Some(new ExecListener) else None
  listener.foreach(sc.addSparkListener)

  def span[T](layer: String, op: String, name: String = "")(body: => T): T = {
    val id = nextId
    nextId += 1
    val (parent, req) = stack.headOption.getOrElse((0, id))
    stack = (id, req) :: stack
    if (enabled) sc.setJobGroup(s"lb-$id", s"lakebench $layer.$op $name", interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - n0
      val t1 = System.currentTimeMillis()
      stack = stack.tail
      if (enabled) stack.headOption match {
        case Some((p, _)) => sc.setJobGroup(s"lb-$p", "lakebench", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, req, parent, layer, op, name, t0, t1, wall)
    }
  }

  /** Id the next span will get: spans from here on have ids >= mark. */
  def mark: Int = nextId
  def of(op: String): Seq[Span] = spans.iterator.filter(_.op == op).toVector

  /** Jobs grouped by the span that launched them; jobs outside any span
   *  (set-up, checks) are dropped. Empty when tracing is off. */
  def jobsBySpan(): Map[Int, Seq[JobRec]] = listener match {
    case None => Map.empty
    case Some(l) =>
      org.apache.spark.lakebench.Bus.drain(sc)
      l.snapshot().filter(j => j.group != null && j.group.startsWith("lb-"))
        .groupBy(_.group.stripPrefix("lb-").toInt)
  }

  /** Writes every span, one JSON object a line, with the Spark work of
   *  the jobs it launched itself (not those of its child spans). */
  def writeSpans(path: String): Unit = {
    val jobs = jobsBySpan()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.of(Map[String, Any](
        "id" -> s.id, "req" -> s.req, "parent" -> s.parent, "layer" -> s.layer, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_ms" -> s.wallMs) ++
        JobRec.work(jobs.getOrElse(s.id, Nil))))
    } finally w.close()
  }

  /** Jobs with no group that started inside a span's interval — Spark
   *  work the job-group attribution missed. */
  def unattributedJobs(): Int = listener match {
    case None => 0
    case Some(l) =>
      org.apache.spark.lakebench.Bus.drain(sc)
      l.snapshot().count(j => j.group == null &&
        spans.exists(s => j.startMs >= s.startMs && j.startMs <= s.endMs))
  }
}

object Intervals {
  /** Length of the union of [start, end] intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
