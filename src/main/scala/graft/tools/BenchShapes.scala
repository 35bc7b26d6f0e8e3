package graft.tools

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.index.{Metric, StorageType, VectorIndexFlat}

/** Re-runs the reference's seven benchmark workload shapes
  * (`/root/reference/tests/bench_metal_flat.mm:115-129`, see BASELINE.md):
  * synthetic seed-42 uniform(−1,1) data, L2 metric, reporting ms/search
  * and QPS for fp32 and f16 storage. Results are recorded in BASELINE.md.
  *
  * `sbt "runMain graft.tools.BenchShapes"`
  */
object BenchShapes {

  case class Shape(label: String, nv: Int, nq: Int, d: Int, k: Int, iters: Int)

  val shapes = Seq(
    Shape("small-32d", 10000, 100, 32, 10, 3),
    Shape("small-128d", 10000, 100, 128, 10, 3),
    Shape("medium-128d", 100000, 100, 128, 10, 3),
    Shape("medium-768d", 100000, 10, 768, 10, 3),
    Shape("large-1536d", 10000, 10, 1536, 10, 3),
    Shape("highk-128d", 10000, 10, 128, 100, 3),
    Shape("latency-128d", 100000, 1, 128, 10, 10))

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val qSchema = StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("qvec", ArrayType(FloatType, containsNull = false), nullable = false)))

    val results = for (sh <- shapes; storage <- Seq(StorageType.Float32, StorageType.Float16)) yield {
      val rnd = new scala.util.Random(42)
      def vec() = Array.fill(sh.d)(rnd.nextFloat() * 2f - 1f)
      val idx = VectorIndexFlat(spark, sh.d, Metric.L2, storage)
      idx.add((0 until sh.nv).map(_ => vec()))
      val queries = spark.createDataFrame(
        java.util.Arrays.asList((0 until sh.nq).map(i => Row(i.toLong, vec())): _*), qSchema)
      // warmup
      idx.search(queries, sh.k).count()
      val t0 = System.nanoTime()
      (0 until sh.iters).foreach(_ => idx.search(queries, sh.k).count())
      val secPerIter = (System.nanoTime() - t0) / 1e9 / sh.iters
      val msPerSearch = secPerIter * 1000 / sh.nq
      val qps = sh.nq / secPerIter
      val stor = if (storage == StorageType.Float32) "fp32" else "f16"
      idx.reset()
      println(f"${sh.label}%-14s $stor%-5s ${msPerSearch}%10.3f ms/search ${qps}%10.1f QPS")
      (sh.label, stor, msPerSearch, qps)
    }
    println(results.map { case (l, s, ms, q) =>
      s"""{"shape":"$l","storage":"$s","ms_per_search":${f"$ms%.3f"},"qps":${f"$q%.1f"}}"""
    }.mkString("[", ",", "]"))

    // serving path: searchPoint (one job, one stage, no shuffle) on the
    // latency shape — the floor the batch search API cannot reach
    {
      val sh = shapes.last // latency-128d
      val rnd = new scala.util.Random(42)
      def vec() = Array.fill(sh.d)(rnd.nextFloat() * 2f - 1f)
      val idx = VectorIndexFlat(spark, sh.d, Metric.L2, StorageType.Float32)
      idx.add((0 until sh.nv).map(_ => vec()))
      val q = vec()
      (0 until 3).foreach(_ => idx.searchPoint(q, sh.k)) // warmup
      val times = (0 until 20).map { _ =>
        val t0 = System.nanoTime()
        idx.searchPoint(q, sh.k)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      println(f"latency-128d   point ${times(times.size / 2)}%10.3f ms/search (median of 20; " +
        f"p90 ${times((times.size * 9) / 10)}%.3f)")
      // prepared serving handle: snapshot of the scanned rows, one runJob per query
      val searcher = idx.pointSearcher(sh.k)
      (0 until 3).foreach(_ => searcher.search(q))
      val ptimes = (0 until 20).map { _ =>
        val t0 = System.nanoTime()
        searcher.search(q)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      println(f"latency-128d   prep  ${ptimes(ptimes.size / 2)}%10.3f ms/search (median of 20; " +
        f"p90 ${ptimes((ptimes.size * 9) / 10)}%.3f)")
      searcher.close()
      idx.reset()
    }
    spark.stop()
  }
}
