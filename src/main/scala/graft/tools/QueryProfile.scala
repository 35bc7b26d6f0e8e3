package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-job wall-clock attribution for one or more declared queries —
  * the local[N] stand-in for the Spark UI's SQL/Jobs/Stages views (guide
  * §1.1/§7.1): for each query, run the noop-sink action once and print
  * its jobs grouped by SQL execution (one driver action: a count, a
  * collect, a checkpoint). Each execution is headed by the `graft` call
  * site that started it, read from the execution's start event — AQE
  * submits query-stage jobs from a pool thread, so their own job names
  * (`$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java`)
  * never say which operator they belong to. Each job line shows wall
  * ms, stage count, task count, summed executor run time and shuffle
  * read/write bytes. Exposes where an iterative query's wall goes
  * (driver actions vs scheduling overhead vs compute vs shuffle) so the
  * optimization loop edits the right thing.
  *
  * Usage: runMain graft.tools.QueryProfile <sfDir> <query>[,<query>...]
  * Env: SPARK_GRAFT_CPUS (default 32).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args(1).split(",").toSeq else Seq("q_pagerank")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    case class JobRec(id: Int, exec: Long, start: Long, var end: Long = -1L,
                      var nStages: Int = 0, var nTasks: Int = 0,
                      var runTimeMs: Long = 0L, var shufR: Long = 0L,
                      var shufW: Long = 0L, var input: Long = 0L,
                      var gcMs: Long = 0L, var spill: Long = 0L)
    case class StageRec(id: Int, var name: String = "", var nTasks: Int = 0,
                        var runTimeMs: Long = 0L, var cpuMs: Long = 0L,
                        var deserMs: Long = 0L, var gcMs: Long = 0L,
                        var shufR: Long = 0L, var shufW: Long = 0L,
                        var input: Long = 0L, var rowsOut: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val sites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
        case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          sites.put(e.executionId, callSite(e.details, e.description))
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val exec = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .fold(-1L)(_.toLong)
        jobs.put(js.jobId, JobRec(js.jobId, exec, js.time))
        js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
        val r = jobs.get(js.jobId); r.nStages = js.stageIds.size
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId); if (r != null) r.end = je.time
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val s = stages.computeIfAbsent(sc.stageInfo.stageId, id => StageRec(id))
        s.name = sc.stageInfo.name.takeWhile(_ != '\n').take(60)
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val j = stageToJob.get(te.stageId)
        val r = jobs.get(j)
        val s = stages.computeIfAbsent(te.stageId, id => StageRec(id))
        if (te.taskMetrics != null) {
          val m = te.taskMetrics
          s.synchronized {
            s.nTasks += 1; s.runTimeMs += m.executorRunTime
            s.cpuMs += m.executorCpuTime / 1000000L
            s.deserMs += m.executorDeserializeTime
            s.gcMs += m.jvmGCTime
            s.shufR += m.shuffleReadMetrics.totalBytesRead
            s.shufW += m.shuffleWriteMetrics.bytesWritten
            s.input += m.inputMetrics.bytesRead
            s.rowsOut += m.outputMetrics.recordsWritten
          }
          if (r != null) r.synchronized {
            r.nTasks += 1
            r.runTimeMs += m.executorRunTime
            r.shufR += m.shuffleReadMetrics.totalBytesRead
            r.shufW += m.shuffleWriteMetrics.bytesWritten
            r.input += m.inputMetrics.bytesRead
            r.gcMs += m.jvmGCTime
            r.spill += m.memoryBytesSpilled
          }
        }
      }
    }

    // one warmup pass (JIT/codegen) using a cheap join+agg query
    try {
      graft.SparkEntry.queries("q5_nation_revenue")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    } catch { case _: Throwable => }

    val stageDetail = sys.env.get("QP_STAGES").isDefined
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      jobs.clear(); stages.clear(); stageToJob.clear(); sites.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      Thread.sleep(300) // let listener events drain
      spark.sparkContext.removeSparkListener(listener)
      val recs = {
        import scala.jdk.CollectionConverters._
        jobs.values.asScala.toSeq.sortBy(_.start)
      }
      val jobWall = recs.map(r => math.max(0L, r.end - r.start)).sum
      val byExec = recs.groupBy(_.exec).toSeq.sortBy(_._2.head.start)
      println(f"==== $name: wall ${wall}%.2f s, ${byExec.count(_._1 >= 0)} SQL executions, ${recs.size} jobs, " +
        f"job-wall ${jobWall / 1e3}%.2f s, gaps ${wall - jobWall / 1e3}%.2f s ====")
      for ((exec, execJobs) <- byExec) {
        val site = Option(sites.get(exec)).getOrElse("(no SQL execution)")
        val span = execJobs.map(_.end).max - execJobs.head.start
        println(f"  exec $exec%4d  ${execJobs.size}%2d jobs  ${span}%6d ms  $site")
        for (r <- execJobs) {
          val d = math.max(0L, r.end - r.start)
          println(f"    job ${r.id}%3d  ${d}%6d ms  stages=${r.nStages}%2d tasks=${r.nTasks}%4d " +
            f"cpuRun=${r.runTimeMs}%6d ms gc=${r.gcMs}%5d ms  in=${r.input / 1048576}%5d MB shufR=${r.shufR / 1048576}%4d MB shufW=${r.shufW / 1048576}%4d MB spill=${r.spill / 1048576}%d MB")
        }
      }
      if (stageDetail) {
        import scala.jdk.CollectionConverters._
        for (s <- stages.values.asScala.toSeq.sortBy(_.id) if s.nTasks > 0) {
          println(f"    stage ${s.id}%3d tasks=${s.nTasks}%4d run=${s.runTimeMs}%6d cpu=${s.cpuMs}%6d " +
            f"deser=${s.deserMs}%5d gc=${s.gcMs}%5d  in=${s.input / 1048576}%5d MB sR=${s.shufR / 1048576}%4d sW=${s.shufW / 1048576}%4d  ${s.name}")
        }
      }
    }
    spark.stop()
  }

  /** The `graft` frames of an execution's call-site stack (innermost
    * first, at most three, this tool's own frames skipped), e.g.
    * `settle Graph.scala:137 < kTruss Graph.scala:857 <
    * GraphQueries.scala:121`; the short call site when there is none.
    */
  private def callSite(details: String, short: String): String = {
    val Frame = """graft\.(?!tools\.)[\w.$]*?\.([\w$]+)\((.*)\)""".r
    val frames = details.linesIterator.map(_.trim).collect {
      case Frame(method, at) => if (method.startsWith("$anonfun")) at else s"$method $at"
    }.take(3).toSeq
    if (frames.isEmpty) short else frames.mkString(" < ")
  }
}
