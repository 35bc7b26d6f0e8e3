package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._

/** Kernel probes and the box fingerprint of a traced run. */
object Probes {
  private val vecRows = 100000
  private val textRows = 20000
  private val reps = 3

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** ns per row of each Catalyst kernel (and the `TopKAgg` operator), net
    * of an identity projection over the same cached frame: fastest of
    * `reps` noop-sink runs each.
    */
  def kernels(spark: SparkSession, seed: Long, t: Tracer, res: Result): Unit = {
    t.enable()
    val d = KnnWorkload.d
    val vecs = spark.range(vecRows).select(col("id"),
        array((0 until d).map(j => (rand(seed + j) * 2 - 1).cast("float")): _*).as("a"),
        array((0 until d).map(j => (rand(seed + d + j) * 2 - 1).cast("float")): _*).as("b"))
      .select(col("id"), col("a"), col("b"), quantizeF16(col("a")).as("h"))
      .cache()
    vecs.count()
    val words = (0 until 500).map(i => s"w$i")
    val text = spark.range(textRows).select(col("id"),
        array((0 until 24).map(j => element_at(
          typedLit(words), (rand(seed * 7 + j) * words.size).cast("int") + 1)): _*).as("sh"))
      .cache()
    text.count()

    // identity and kernel runs interleave; the fastest of each is the
    // least disturbed by other work on the box
    def net(layer: String, name: String, base: DataFrame, out: DataFrame, rows: Int): Unit = {
      val (idT, kT) = t.span(name, layer) {
        val ts = (1 to reps).map(_ =>
          (seconds(QueryWorkload.consume(base)), seconds(QueryWorkload.consume(out))))
        (ts.map(_._1).min, ts.map(_._2).min)
      }
      res.put(s"$layer.$name.ns_per_row", (kT - idT) * 1e9 / rows, "ns")
    }
    // the identity projection reads the kernel's own input columns
    def vecProbe(name: String, inputs: Seq[String], c: Column): Unit =
      net("functions", name, vecs.select(inputs.map(col): _*), vecs.select(c.as("x")), vecRows)
    vecProbe("squaredL2", Seq("a", "b"), squaredL2(col("a"), col("b")))
    vecProbe("dotProduct", Seq("a", "b"), dotProduct(col("a"), col("b")))
    vecProbe("vectorNormSq", Seq("a"), vectorNormSq(col("a")))
    vecProbe("quantizeF16", Seq("a"), quantizeF16(col("a")))
    vecProbe("dequantizeF16", Seq("h"), dequantizeF16(col("h")))
    net("functions", "minhashSignature", text.select(col("sh")),
      text.select(minhashSignature(col("sh")).as("x")), textRows)
    val scored = vecs.select(col("id"), (col("id") % 64).as("g"), squaredL2(col("a"), col("b")).as("s"))
      .cache()
    scored.count()
    net("operators", "topK", scored.select(col("g"), col("s"), col("id")),
      scored.groupBy(col("g")).agg(topK(col("s"), col("id"), KnnWorkload.k, ascending = true).as("x")),
      vecRows)
    Seq(vecs, text, scored).foreach(_.unpersist())
    t.disable()
  }

  /** `graft.Bench`'s three-query calibration fingerprint at sf0.001 — one
    * run each in the warm JVM, seconds by query; empty without the data.
    */
  def fingerprint(spark: SparkSession, dir: String): Map[String, Double] =
    if (!new java.io.File(s"$dir/lineitem.parquet").exists()) Map.empty
    else Seq("q1_pricing_summary", "knn_l2_gemm", "q_pagerank").map { n =>
      val s = try seconds(QueryWorkload.consume(graft.SparkEntry.queries(n)(spark, dir)))
        catch { case _: Throwable => -1.0 }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      n -> s
    }.toMap
}
