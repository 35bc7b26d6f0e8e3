package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A call from the benchmark into one layer of the program. `start` and
  * `end` are epoch milliseconds, read from the clock Spark stamps its job
  * events with, so spans and jobs can be intersected; the duration comes
  * from the monotonic clock.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      run: String, start: Long, end: Long, nanos: Long) {
  def seconds: Double = nanos / 1e9
}

/** Counters of one Spark job, summed over its tasks. `group` is the job
  * group the benchmark set before the call that caused the job.
  */
final class JobRec(val group: String, val start: Long) {
  @volatile var end: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Job ledger: attributes every job, and the task counters of its stages,
  * to the job group that was set on the submitting thread.
  */
final class JobLedger extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val r = new JobRec(group, e.time)
    r.stages = e.stageIds.size
    e.stageIds.foreach(s => stageJob.put(s, r))
    jobs.put(e.jobId, r)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (r != null && m != null) r.synchronized {
      r.tasks += 1
      r.runMs += m.executorRunTime
      r.gcMs += m.jvmGCTime
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Span recorder for the traced run. The client is single-threaded, so
  * the open spans form a stack; each span sets its id as the job group so
  * every job it causes is attributed to it. Spans stay in memory and are
  * written out once the run ends. While disabled, `span` only runs its
  * body: that is the untraced side of the overhead measurement.
  */
final class Tracer(sc: SparkContext, val run: String) {
  val ledger = new JobLedger
  val spans = ArrayBuffer.empty[Span]
  private val stack = scala.collection.mutable.Stack.empty[Int]
  private var next = 0
  private var attached = false

  def enable(): Unit = if (!attached) { sc.addSparkListener(ledger); attached = true }
  def disable(): Unit = if (attached) {
    flush()
    sc.removeSparkListener(ledger)
    attached = false
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def flush(): Unit = org.apache.spark.BenchBridge.waitForListeners(sc)

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!attached) return body
    val id = next; next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val nanos = System.nanoTime() - t0
      stack.pop()
      spans += Span(id, parent, name, layer, run, w0, System.currentTimeMillis(), nanos)
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.toString, "", interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  def jobsOf(ids: Set[Int]): Seq[JobRec] = {
    flush()
    import scala.jdk.CollectionConverters._
    ledger.jobs.values.asScala.toSeq.filter(j => j.group.nonEmpty && ids(j.group.toInt))
  }

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def walk(i: Int): Seq[Int] = i +: kids.getOrElse(i, Nil).toSeq.flatMap(s => walk(s.id))
    walk(root).toSet
  }

  /** Wall time of the span not covered by any job it caused: the driver
    * work between jobs (planning, collects, client code).
    */
  def gapSeconds(s: Span): Double = {
    val js = jobsOf(subtree(s.id)).filter(_.end >= 0)
      .map(j => (math.max(j.start, s.start).toDouble, math.min(j.end, s.end).toDouble))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    js.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, s.seconds - covered / 1e3)
  }

  /** Self time by layer: each span's duration minus its children's. */
  def selfSeconds: Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "run" -> s.run, "start_ms" -> s.start, "end_ms" -> s.end, "s" -> s.seconds))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }

  /** The ledger's jobs, one JSON line each, in job id order. */
  def writeJobsJsonl(path: java.nio.file.Path): Unit = {
    flush()
    import scala.jdk.CollectionConverters._
    val lines = ledger.jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
      Json.obj(Seq("job" -> id, "group" -> j.group, "start_ms" -> j.start, "end_ms" -> j.end,
        "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs,
        "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** `body` inside a span when the run is traced, else just `body`. */
  def span[T](t: Option[Tracer], name: String, layer: String)(body: => T): T = t match {
    case Some(tr) => tr.span(name, layer)(body)
    case None     => body
  }
}

/** Counters of a set of jobs, in the units the benchmark reports. */
final case class SparkTotals(jobs: Int, stages: Int, tasks: Int, taskRunS: Double,
                             gcS: Double, shuffleReadMb: Double,
                             shuffleWriteMb: Double, spillMb: Double)

object SparkTotals {
  private val mb = 1024.0 * 1024.0
  def of(js: Seq[JobRec]): SparkTotals = SparkTotals(
    js.size, js.map(_.stages).sum, js.map(_.tasks).sum,
    js.map(_.runMs).sum / 1e3, js.map(_.gcMs).sum / 1e3,
    js.map(_.shuffleRead).sum / mb, js.map(_.shuffleWrite).sum / mb,
    js.map(_.spill).sum / mb)
}
