package perfbench

/** The per-layer metrics every traced run reports. A layer a workload
  * does not exercise reports 0: no time spent, no jobs run.
  */
object Layers {
  val modules = QueryWorkload.pipeline.queries.map(_._2)
  val kernels = Seq("squaredL2", "dotProduct", "vectorNormSq", "quantizeF16",
    "dequantizeF16", "minhashSignature")
  val spanLayers = Seq("client", "entry", "ops", "index", "functions", "operators")

  val all: Seq[(String, String)] =
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_run_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_read_mb" -> "MB",
      "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "driver.gap_s" -> "s",
      "entry.build_s" -> "s", "entry.build_jobs" -> "count") ++
    modules.flatMap(m => Seq(s"ops.$m.s" -> "s", s"ops.$m.shuffle_mb" -> "MB")) ++
    QueryWorkload.fixpoint.queries.flatMap { case (q, _) =>
      Seq(s"query.$q.s" -> "s", s"query.$q.jobs" -> "count", s"query.$q.gap_s" -> "s")
    } ++
    Seq("fp32", "f16").flatMap(s => Seq(s"index.add_ms.$s" -> "ms",
      s"index.search_ms.nq16.$s" -> "ms", s"index.search_ms.nq256.$s" -> "ms",
      s"index.prepare_ms.$s" -> "ms", s"index.reconstruct_ms.$s" -> "ms",
      s"index.cached_mb.$s" -> "MB")) ++
    Seq("index.search_ms.nq1100.fp32" -> "ms", "index.search_jobs.nq16" -> "count",
      "ingest_rows_per_s" -> "rows/s", "batch_qps" -> "1/s", "refresh_s" -> "s",
      "lookup_ms.p50" -> "ms") ++
    kernels.map(k => s"functions.$k.ns_per_row" -> "ns") ++
    Seq("operators.topK.ns_per_row" -> "ns") ++
    spanLayers.map(l => s"self_s.$l" -> "s") ++
    Seq("trace.overhead.pass_s" -> "s", "trace.overhead.serve_ms.p50" -> "ms")

  /** Fill every per-layer metric the workload left unset with 0. */
  def fillZeros(res: Result): Unit =
    all.foreach { case (n, u) => if (!res.metrics.contains(n)) res.put(n, 0.0, u) }

  /** Spark runtime and driver metrics, per pass. */
  def putSpark(res: Result, s: SparkTotals, gapS: Double, passes: Double): Unit = {
    res.put("spark.jobs", s.jobs / passes, "count")
    res.put("spark.stages", s.stages / passes, "count")
    res.put("spark.tasks", s.tasks / passes, "count")
    res.put("spark.task_run_s", s.taskRunS / passes, "s")
    res.put("spark.gc_s", s.gcS / passes, "s")
    res.put("spark.shuffle_read_mb", s.shuffleReadMb / passes, "MB")
    res.put("spark.shuffle_write_mb", s.shuffleWriteMb / passes, "MB")
    res.put("spark.spill_mb", s.spillMb / passes, "MB")
    res.put("driver.gap_s", gapS / passes, "s")
  }

  /** Self time of each span layer over the traced run, per traced pass. */
  def putSelf(res: Result, t: Tracer, passes: Double): Unit = {
    val self = t.selfSeconds
    spanLayers.foreach(l => res.put(s"self_s.$l", self.getOrElse(l, 0.0) / passes, "s"))
  }
}
