package graft.tools

import org.apache.spark.sql.SparkSession

import graft.index.{Metric, StorageType, VectorIndexFlat}

/** Isolated serving-latency probe for the latency-128d shape (100k, 1,
  * 128, 10): batch `search`, `searchPoint`, and the prepared
  * `pointSearcher`, each reported as a sorted ms distribution — the decom-
  * position the round-2 verdict asked for (what does the ~300 ms batch
  * floor consist of, and how much of it is avoidable for serving).
  */
object ServeLatency {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = 128; val nv = 100000; val k = 10
    val rnd = new scala.util.Random(42)
    def vec() = Array.fill(d)(rnd.nextFloat() * 2f - 1f)
    val idx = VectorIndexFlat(spark, d, Metric.L2, StorageType.Float32)
    idx.add((0 until nv).map(_ => vec()))
    val q = vec()
    val qdf = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(0L, q)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qid",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("qvec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = false),
          nullable = false))))

    def dist(label: String, f: () => Unit, iters: Int = 15): Unit = {
      (0 until 3).foreach(_ => f())
      val ts = (0 until iters).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e6
      }.sorted
      println(f"$label%-12s min ${ts.head}%8.1f  median ${ts(ts.size / 2)}%8.1f  " +
        f"p90 ${ts(ts.size * 9 / 10)}%8.1f ms")
    }

    dist("search", () => { idx.search(qdf, k).count(); () })
    dist("searchPoint", () => { idx.searchPoint(q, k); () })
    val searcher = idx.pointSearcher(k)
    dist("prepared", () => { searcher.search(q); () })
    searcher.close()
    // reduced-precision serving: raw 16-bit snapshot (half the memory),
    // in-loop decode — must be <= the fp32 latency
    val idx16 = VectorIndexFlat(spark, d, Metric.L2, StorageType.Float16)
    idx16.add((0 until nv).map(_ => vec()))
    val searcher16 = idx16.pointSearcher(k)
    dist("prepared-f16", () => { searcher16.search(q); () })
    searcher16.close()

    // streaming kNN: end-to-end micro-batch latency (addData →
    // processAllAvailable over a foreachBatch search+collect sink) — the
    // Structured-Streaming serving figure next to the prepared searcher
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[(Long, Array[Float])]
      val queryDf = stream.toDF().toDF("qid", "qvec")
        .select(col("qid"), col("qvec").cast("array<float>").as("qvec"))
      val writer = graft.streaming.StreamingOps.streamingKnn(idx, queryDf, k) {
        (result, _) => result.collect(); ()
      }
      val sq = writer.start()
      var qi = 0L
      def one(): Unit = {
        stream.addData((qi, vec())); qi += 1
        sq.processAllAvailable()
      }
      dist("streamKnn", () => one())
      sq.stop()
    }
    spark.stop()
  }
}
