package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.Dedup

/** `Dedup.prefixFilterPairs` runs its candidate join and verification on
  * integer shingle keys. These specs hold it to the all-pairs truth
  * (`ngramJaccardPairs` with no df cap) on corpora full of df ties, and
  * pin the plan shape that keeps shingle strings out of every exchange
  * but one.
  */
class PrefixFilterSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def docsDf(docs: Seq[(Long, String)]): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(docs.map { case (i, t) => Row(i, t) }: _*), schema)
  }

  /** (doc_a, doc_b, n_inter, raw jaccard bits): equal sets mean equal
    * rows, counts and doubles bit for bit.
    */
  private def rowsOf(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet

  /** Two docs over their own tokens whose shingle sets share `k` and
    * differ by `ea` + `eb`, so J = k / (k + ea + eb) exactly.
    */
  private def pairAt(tag: String, k: Int, ea: Int, eb: Int): (String, String) = {
    val shared = (0 until k + 2).map(i => s"${tag}s$i")
    ((shared ++ (0 until ea).map(i => s"${tag}a$i")).mkString(" "),
      (shared ++ (0 until eb).map(i => s"${tag}b$i")).mkString(" "))
  }

  /** Random docs over a 5-word vocabulary (heavy df ties, many near-dups),
    * plus byte-identical copies, docs of 0-2 tokens, two docs with equal
    * shingle sets but different text, and one pair at exactly J = tau for
    * each tau of the sweep.
    */
  private def corpus(seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Seq("a", "b", "c", "d", "e")
    val random = (0 until 90).map(_ =>
      Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val copies = random.take(6)
    val short = Seq("", "a", "a b", "c d")
    val sameSet = Seq("p q r p q r", "p q r p q r p q r")
    val exact = Seq(pairAt("x3", 3, 3, 4), pairAt("x5", 2, 1, 1),
      pairAt("x7", 7, 1, 2), pairAt("x9", 9, 0, 1)).flatMap(p => Seq(p._1, p._2))
    (random ++ copies ++ short ++ sameSet ++ exact).zipWithIndex
      .map { case (t, i) => (i.toLong * 7 + 3, t) }
  }

  test("prefixFilterPairs ≡ all-pairs truth on tie-heavy random corpora, jaccard bit for bit") {
    for (seed <- Seq(11L, 12L)) {
      val docs = docsDf(corpus(seed)).localCheckpoint(true)
      for (tau <- Seq(0.3, 0.5, 0.7, 0.9, 1.0)) {
        val got = rowsOf(Dedup.prefixFilterPairs(docs, tau))
        val want = rowsOf(Dedup.ngramJaccardPairs(docs, tau, maxDf = Long.MaxValue))
        assert(got === want, s"seed $seed tau $tau")
        assert(got.nonEmpty, s"seed $seed tau $tau: the fixture must produce pairs")
        // the pair built at exactly J = tau is in the output
        val ids = corpus(seed).map(_._1)
        val exactAt = Map(0.3 -> 0, 0.5 -> 1, 0.7 -> 2, 0.9 -> 3)
        exactAt.get(tau).foreach { p =>
          val a = ids(ids.size - 8 + 2 * p)
          assert(got.exists(t => t._1 == a && t._2 == a + 7 &&
            java.lang.Double.longBitsToDouble(t._4) == tau), s"seed $seed tau $tau")
        }
      }
    }
  }

  test("prefixFilterPairs: identical docs, equal shingle sets, short docs, one-doc and empty corpora") {
    val got = rowsOf(Dedup.prefixFilterPairs(docsDf(Seq(
      1L -> "a b c d", 2L -> "a b c d", 3L -> "p q r p q r", 4L -> "p q r p q r p q r",
      5L -> "a b", 6L -> "a b", 7L -> "")), 1.0))
    val one = java.lang.Double.doubleToRawLongBits(1.0)
    assert(got === Set((1L, 2L, 2L, one), (3L, 4L, 3L, one)))
    assert(Dedup.prefixFilterPairs(docsDf(Seq(1L -> "a b c d e")), 0.5).count() === 0L)
    val empty = Dedup.prefixFilterPairs(docsDf(Seq.empty), 0.5)
    assert(empty.count() === 0L)
    assert(empty.columns.toSeq === Seq("doc_a", "doc_b", "n_inter", "jaccard"))
  }

  test("sortedIntersectSize ≡ size(array_intersect) on ascending distinct long arrays") {
    import org.apache.spark.sql.functions.{array_intersect, col, size}
    val rnd = new scala.util.Random(5L)
    def arr() = Seq.fill(rnd.nextInt(30))(rnd.nextInt(60).toLong - 20L).distinct.sorted
    val rows = Seq((Seq.empty[Long], Seq(1L, 2L)), (Seq(3L), Seq.empty[Long]),
      (Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue))) ++
      Seq.fill(200)((arr(), arr()))
    val s = spark
    import s.implicits._
    val got = rows.toDF("a", "b")
      .select(graft.functions.sortedIntersectSize(col("a"), col("b")),
        size(array_intersect(col("a"), col("b"))))
      .collect()
    assert(got.forall(r => r.getInt(0) == r.getInt(1)))
    assert(got.take(3).map(_.getInt(0)).toSeq === Seq(0, 0, 2))
  }

  test("prefixFilterPairs: one string-keyed exchange, no string join key, pinned actions and jobs") {
    object Plans extends AdaptiveSparkPlanHelper
    val docs = docsDf(corpus(11L)).localCheckpoint(true)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    val (rows, trace) = try JobTrace(spark.sparkContext) {
      Dedup.prefixFilterPairs(docs, 0.5).collect()
    } finally {
      org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    assert(rows.nonEmpty)
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq
    val stringExchanges = all.flatMap(p => Plans.collect(p) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }).collect {
      case h: HashPartitioning if h.expressions.exists(_.dataType == StringType) => h
    }
    assert(stringExchanges.size === 1, all.mkString("\n\n"))
    val joinKeys = all.flatMap(p => Plans.collect(p) {
      case j: BaseJoinExec => j.leftKeys ++ j.rightKeys
    }.flatten)
    assert(joinKeys.nonEmpty && joinKeys.forall(_.dataType != StringType),
      all.mkString("\n\n"))
    // two driver actions: the eager checkpoint of the per-doc key arrays
    // and the collect; their jobs are AQE's query stages (the candidate
    // distinct shares the pairs' width-pinned exchange, so it has none)
    assert((trace.executions, trace.jobs) === ((2, 7)), trace)
  }
}
