package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.Similarity
import graft.plans.KnnPartialExec

/** The exact top-k's fused route (`Knn.scan` partials under `topK`) ≡ its
  * broadcast cross join, bit for bit, and the plan shapes of
  * `bruteForceTopK` and `mmrTopK` on it.
  */
class FusedTopKSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private object Plans extends AdaptiveSparkPlanHelper

  /** (qid, rank, label, score bits), sorted: NaN scores compare by bits. */
  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select(col("qid").cast("long"), col("rank"), col("label"), col("score")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSeq.sorted

  private def kernels(p: SparkPlan): Int = Plans.collect(p) { case e: KnnPartialExec => e }.size
  private def nestedLoops(p: SparkPlan): Int =
    Plans.collect(p) { case j: BroadcastNestedLoopJoinExec => j }.size

  /** Every plan executed while `run` runs, with its job trace. */
  private def traced[T](run: => T): (T, Seq[SparkPlan], JobTrace) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    val (result, trace) = try JobTrace(spark.sparkContext)(run) finally {
      org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    (result, plans.asScala.toSeq, trace)
  }

  /** 40 vectors of dimension 6 over a 5-value alphabet, so scores tie
    * often: exact duplicates under larger ids, two zero vectors, two null
    * vectors and two ragged rows (lengths 4 and 9); a local relation in
    * 4 partitions.
    */
  private def corpus(): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13L)
    val alphabet = Array(-1f, -0.5f, 0f, 0.5f, 1f)
    val base = Seq.tabulate(30)(i => (i.toLong, Option(Array.fill(6)(alphabet(rnd.nextInt(5))))))
    val dups = Seq(30L -> base(3)._2, 31L -> base(7)._2, 32L -> base(7)._2)
    val odd = Seq(
      33L -> Option(Array.fill(6)(0f)), 34L -> Option(Array.fill(6)(0f)),
      35L -> None, 36L -> None,
      37L -> Option(Array(1f, -1f, 0.5f, 0f)),
      38L -> Option(Array(0.5f, 0.5f, -1f, 1f, 0f, -0.5f, 1f, 1f, -1f)),
      39L -> Option(Array(0.25f, 0.75f, -0.125f, 1f, 0.5f, -1f)))
    (base ++ dups ++ odd).toDF("id", "vec")
  }

  /** nq queries of dimension 6 drawn from the corpus' alphabet; from
    * nq = 3 on, query 2 is the zero vector (NaN under cosine).
    */
  private def queries(nq: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(nq.toLong)
    val alphabet = Array(-1f, -0.5f, 0f, 0.5f, 1f)
    Seq.tabulate(nq)(q => (q.toLong * 10,
      if (q == 2) Array.fill(6)(0f) else Array.fill(6)(alphabet(rnd.nextInt(5)))))
      .toDF("qid", "qv")
  }

  test("fused ≡ cross join exactly: metric × round6 × nq × k (k > nv), ties, zero/null/ragged vectors") {
    val vecs = corpus()
    for (metric <- Seq("l2", "ip", "cosine"); round6 <- Seq(false, true);
         nq <- Seq(1, 3, 4, 5, 9); k <- Seq(3, 50)) {
      val qs = queries(nq)
      val fused = Similarity.exactTopK(vecs, qs, k, metric, round6)
      val clue = s"metric=$metric round6=$round6 nq=$nq k=$k"
      assert(kernels(fused.queryExecution.executedPlan) === 1, clue)
      val want = rows(Similarity.crossJoinTopK(vecs, qs, k, metric, round6))
      assert(rows(fused) === want, clue)
      assert(want.nonEmpty, clue)
    }
  }

  test("fused route keeps an integer qid's type and matches the cross join") {
    val s = spark
    import s.implicits._
    val qs = Seq((1, Array(1f, 0f, 0f, 0f, 0f, 0f)), (2, Array(0f, 1f, 0f, 0f, 0f, 0f)))
      .toDF("qid", "qv")
    val got = Similarity.bruteForceTopK(corpus(), qs, 5, "cosine")
    assert(got.schema("qid").dataType === org.apache.spark.sql.types.IntegerType)
    assert(kernels(got.queryExecution.executedPlan) === 1)
    assert(rows(got) === rows(Similarity.crossJoinTopK(corpus(), qs, 5, "cosine", round6 = false)))
  }

  test("queries over the fused budget, a null or a ragged query take the cross join") {
    val s = spark
    import s.implicits._
    // nq·d = 1024 · 4097 > 2²²: over the budget
    val rnd = new scala.util.Random(3L)
    val big = Seq.tabulate(1024)(q => (q.toLong, Array.fill(4097)(rnd.nextFloat()))).toDF("qid", "qv")
    val nullQ = Seq((1L, Option(Array(1f, 0f))), (2L, None)).toDF("qid", "qv")
    val ragged = Seq((1L, Array(1f, 0f)), (2L, Array(1f, 0f, 1f))).toDF("qid", "qv")
    for ((qs, name) <- Seq(big -> "over budget", nullQ -> "null query", ragged -> "ragged")) {
      val df = Similarity.bruteForceTopK(corpus(), qs, 2, "l2")
      val (n, plans, _) = traced(df.count())
      assert(n > 0, name)
      assert(plans.map(kernels).sum === 0, name)
      assert(plans.map(nestedLoops).sum === 1, name)
    }
  }

  test("bruteForceTopK plan: the kernel, no nested-loop join, pinned actions and jobs") {
    val vecs = corpus()
    val (n, plans, trace) = traced {
      Similarity.bruteForceTopK(vecs, queries(5), 3, "l2").count()
    }
    assert(n === 15L)
    assert(plans.map(kernels).sum === 1, plans.mkString("\n\n"))
    assert(plans.map(nestedLoops).sum === 0, plans.mkString("\n\n"))
    // one action with jobs: the queries' collect reads a local relation
    // and starts none; the count runs the kernel's map stage, the top-k
    // merge and the count
    assert((trace.executions, trace.jobs) === ((1, 3)), trace)
  }

  test("bruteForceTopK over a repartitioned corpus runs the exchange's map stage once") {
    // the spread reads a repartition(3) input's width off its plan; read
    // off the RDD, the 4-task map stage ran in an execution of its own
    // and then again in the query's
    val (n, _, trace) = traced {
      Similarity.bruteForceTopK(corpus().repartition(3), queries(5), 3, "l2").count()
    }
    assert(n === 15L)
    assert(trace.stageTasks.count(_ == 4) === 1, trace)
    assert((trace.executions, trace.looseJobs) === ((1, 0)), trace)
  }

  test("mmrTopK plan: kernel candidates, one join, no checkpoint, pinned actions and jobs") {
    val vecs = corpus()
    val (out, plans, trace) = traced {
      Similarity.mmrTopK(vecs, queries(5), k = 3, candN = 8).collect()
    }
    assert(out.length === 12, out.toSeq) // 4 queries, the zero query has no candidate
    assert(plans.map(kernels).sum === 1, plans.mkString("\n\n"))
    assert(plans.map(nestedLoops).sum === 0, plans.mkString("\n\n"))
    // the candidates' join to their vectors is the only join: no pair
    // self-join
    assert(plans.map(p => Plans.collect(p) { case j: BaseJoinExec => j }.size).sum === 1,
      plans.mkString("\n\n"))
    assert(!plans.exists(_.toString.contains("ExistingRDD")), plans.mkString("\n\n"))
    // one action with jobs, the result's collect (the queries' collect
    // reads a local relation): the kernel's map stage and the top-k merge
    // under the candidates' broadcast, then the join's map stage to the
    // qid gather and the greedy; no checkpoint action
    assert((trace.executions, trace.jobs) === ((1, 4)), trace)
  }
}
