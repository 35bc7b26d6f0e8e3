package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Options passed by `run.py`. `sf` is the query workloads' data directory,
  * `fpDir` the sf0.001 directory of the box fingerprint, `nv` the knn
  * index size. `corrupt` falsifies one result before the checks, to show
  * that they reject it.
  */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      out: String, sf: String, fpDir: String, nv: Int, corrupt: Boolean)

/** What a run reports: metrics by name, and operations attempted and failed. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val failures = mutable.ArrayBuffer.empty[String]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  /** Queries each of which must pass the oracle check. */
  var checkedQueries: Seq[String] = Nil

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def fail(what: String): Unit = failures += what

  /** Count one operation; an exception is a failed one. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }
}

/** A workload: `setup` is timed as `setup_s` (and repeated); `run` does
  * the untimed checks and the timed phase and fills the result.
  */
trait Workload {
  def setup(spark: SparkSession, o: Opts): Unit
  def run(spark: SparkSession, o: Opts, tracer: Option[Tracer], res: Result): Unit
}

object Main {
  /** Set-up repetitions whose median is `setup_s`. */
  val setupReps = 5

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    // the session graft.Bench uses, on local[nproc]
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Heap in use after a full collection, in MB. The pause between
    * collections lets Spark's context cleaner drop the broadcast and
    * checkpoint blocks whose owners the first collection found dead.
    */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(100); System.gc()
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Request latencies of the closed-loop client. The mean and p95 are
    * the metrics; a query workload's few, unlike queries make its median
    * jump between queries, so p50 and p99 are kept for the record only.
    */
  def putServe(res: Result, ms: Seq[Double]): Unit = {
    res.put("serve_ms.mean", ms.sum / ms.size, "ms")
    res.put("serve_ms.p95", percentile(ms, 95), "ms")
    res.put("serve_ms.p50", percentile(ms, 50), "ms")
    res.put("serve_ms.p99", percentile(ms, 99), "ms")
  }

  /** Linear-interpolated percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("out"), m("sf"), m("fp-dir"), m("nv").toInt, m.get("corrupt").contains("1"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val workload: Workload = o.workload match {
      case "pipeline" => new QueryWorkload(QueryWorkload.pipeline)
      case "fixpoint" => new QueryWorkload(QueryWorkload.fixpoint)
      case "knn"      => new KnnWorkload
      case w          => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val res = new Result
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to setupReps) {
      val t0 = System.nanoTime()
      spark = session()
      workload.setup(spark, o)
      setupTimes += (System.nanoTime() - t0) / 1e9
      if (i < setupReps) stop(spark)
    }
    val tracer = if (o.trace) Some(new Tracer(spark.sparkContext, s"${o.workload}-${o.seed}")) else None
    workload.run(spark, o, tracer, res)
    if (!o.trace) res.put("setup_s", median(setupTimes.toSeq), "s")
    else {
      val t = tracer.get
      Probes.kernels(spark, o.seed, t, res)
      res.extra("fingerprint_s") = Probes.fingerprint(spark, o.fpDir)
      val passes = res.extra.get("traced_passes").collect { case n: Int => n }.getOrElse(1)
      Layers.putSelf(res, t, passes.toDouble)
      Layers.fillZeros(res)
      t.writeJsonl(java.nio.file.Paths.get(o.out, "spans.jsonl"))
      t.writeJobsJsonl(java.nio.file.Paths.get(o.out, "jobs.jsonl"))
      res.extra("spans") = t.spans.size
    }
    res.extra("setup_runs_s") = setupTimes.toSeq
    res.extra("max_heap_mb") = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)
    res.extra("jdk") = s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"
    res.extra("spark") = spark.version
    res.extra("cores") = Runtime.getRuntime.availableProcessors
    stop(spark)
    val metrics = res.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val json = Json.obj(Seq(
      "attempted" -> res.attempted,
      "failed" -> res.failures.size,
      "failures" -> res.failures.toSeq,
      "oracle_queries" -> res.checkedQueries,
      "metrics" -> metrics.toMap,
      "box" -> res.extra.toMap))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out, "result.json"), json)
  }
}
