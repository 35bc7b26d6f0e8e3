package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftTestBridge, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** What a block made Spark do: the jobs it started, the distinct SQL
  * executions those jobs ran under (one per Dataset action: a count, a
  * collect, an eager checkpoint; AQE's query stages are jobs of the same
  * execution), the jobs it ran outside any SQL execution (an RDD action
  * such as a `runJob`, or query stages AQE runs for a plan read as an
  * RDD), and the task count of each stage it submitted.
  */
final case class JobTrace(jobs: Int, executions: Int, stageTasks: Seq[Int],
                          looseJobs: Int) {
  /** Driver actions: each SQL execution, and each job outside one. */
  def actions: Int = executions + looseJobs
}

object JobTrace {
  /** Runs `run` with a listener attached and returns its result and
    * trace. The listener bus is drained before the listener attaches, so
    * a late event from earlier work is not counted, and again after
    * `run`, so every event of its own is.
    */
  def apply[T](sc: SparkContext)(run: => T): (T, JobTrace) = {
    val jobExecs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobExecs.add(Option(j.properties.getProperty("spark.sql.execution.id")).getOrElse(""))
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stageTasks.add(s.stageInfo.numTasks)
    }
    GraftTestBridge.waitForListeners(sc)
    sc.addSparkListener(listener)
    try {
      val result = run
      GraftTestBridge.waitForListeners(sc)
      val (sql, loose) = jobExecs.asScala.toSeq.partition(_.nonEmpty)
      (result, JobTrace(sql.size + loose.size, sql.distinct.size,
        stageTasks.asScala.toSeq, loose.size))
    } finally sc.removeSparkListener(listener)
  }
}
