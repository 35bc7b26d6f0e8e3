package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftTestBridge, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** What a block made Spark do: the jobs it started, the distinct SQL
  * executions those jobs ran under (one per driver action: a count, a
  * collect, an eager checkpoint; AQE's query stages are jobs of the same
  * execution), and the task count of each stage it submitted.
  */
final case class JobTrace(jobs: Int, executions: Int, stageTasks: Seq[Int])

object JobTrace {
  /** Runs `run` with a listener attached and returns its result and
    * trace. The listener bus is drained before the listener attaches, so
    * a late event from earlier work is not counted, and again after
    * `run`, so every event of its own is.
    */
  def apply[T](sc: SparkContext)(run: => T): (T, JobTrace) = {
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        executions.add(String.valueOf(j.properties.getProperty("spark.sql.execution.id")))
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stageTasks.add(s.stageInfo.numTasks)
    }
    GraftTestBridge.waitForListeners(sc)
    sc.addSparkListener(listener)
    try {
      val result = run
      GraftTestBridge.waitForListeners(sc)
      val ids = executions.asScala.toSeq
      (result, JobTrace(ids.size, ids.distinct.size, stageTasks.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }
}
