package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** A query workload: declared queries, each with the `graft.ops` module
  * that does most of its work (the rollup key of `ops.<module>.*`).
  */
final case class QuerySet(name: String, queries: Seq[(String, String)])

object QueryWorkload {
  /** Batch operators that keep the cores busy with kernels and shuffle at
    * sf0.1, one per module.
    */
  val pipeline = QuerySet("pipeline", Seq(
    "dedup_prefix_filter" -> "Dedup",
    "ann_mmr" -> "Similarity",
    "q_quality_model" -> "Curation"))

  /** Iterative queries, bound by job scheduling. */
  val fixpoint = QuerySet("fixpoint", Seq(
    "q_ktruss" -> "Graph",
    "q_pagerank" -> "Graph"))

  /** Consume every row and column without collecting: `graft.Bench`'s action. */
  def consume(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
}

/** Closed loop of one client running the set's queries back to back.
  *
  * An untimed first pass writes every result for the oracle check (and
  * warms the JVM); then timed passes, each in a seed-shuffled order, run
  * until the next pass would overrun `--seconds` (at least one pass). A
  * pass's time is the sum of its queries' times (build + consume); `pass_s`
  * sums each query's median over the untraced passes. In a traced
  * run, passes alternate untraced and traced (at least untraced, traced,
  * untraced), so the difference of their medians is the tracing overhead.
  */
final class QueryWorkload(set: QuerySet) extends Workload {
  import QueryWorkload._

  private val names = set.queries.map(_._1)

  /** The schema gate; the verify pass is the warm-up. */
  def setup(spark: SparkSession, o: Opts): Unit = graft.tools.SchemaGate.check(o.sf)

  private def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

  def run(spark: SparkSession, o: Opts, tracer: Option[Tracer], res: Result): Unit = {
    val v0 = System.nanoTime()
    verifyPass(spark, o, res)
    res.extra("verify_pass_s") = (System.nanoTime() - v0) / 1e9

    // (traced, seconds)
    val passTimes = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val latencies = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passSpans = mutable.ArrayBuffer.empty[Int]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def more: Boolean = {
      val plain = passTimes.filterNot(_._1)
      val traced = passTimes.filter(_._1)
      if (plain.isEmpty || (tracer.nonEmpty && (traced.isEmpty || plain.size < 2))) true
      else elapsed + Main.median(passTimes.map(_._2).toSeq) <= o.seconds
    }
    // one timed query, build + consume, in ms
    def once(name: String): Option[Double] = {
      val qs = System.nanoTime()
      val ok = res.attempt(name) {
        Tracer.span(tracer, name, "client") {
          val df = Tracer.span(tracer, "build", "entry")(SparkEntry.queries(name)(spark, o.sf))
          Tracer.span(tracer, "exec", "ops")(consume(df))
        }
      }
      val ms = (System.nanoTime() - qs) / 1e6
      unpersistAll(spark)
      ok.map(_ => ms)
    }
    var p = 0
    while (more) {
      val traced = tracer.nonEmpty && p % 2 == 1
      tracer.foreach(t => if (traced) t.enable() else t.disable())
      val order = new scala.util.Random(o.seed * 1000 + p).shuffle(names)
      // a pass's time is the sum of its queries' times, traced or not
      def body(): Double = order.flatMap { name =>
        val ms = once(name)
        if (!traced) ms.foreach { v =>
          latencies += v
          perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
        }
        ms
      }.sum
      val passMs = tracer match {
        case Some(t) if traced =>
          val ms = t.span(s"pass$p", "client")(body())
          passSpans += t.spans.last.id
          ms
        case _ => body()
      }
      passTimes += ((traced, passMs / 1e3))
      p += 1
    }
    tracer.foreach(_.disable())

    val plain = passTimes.filterNot(_._1).map(_._2).toSeq
    val lat = latencies.toSeq
    res.extra("passes") = plain.size
    res.extra("requests") = lat.size
    res.extra("query_ms") = perQuery.map { case (q, ms) => q -> Main.median(ms.toSeq) }.toMap
    if (tracer.isEmpty) {
      res.put("pass_s", perQuery.values.map(ms => Main.median(ms.toSeq)).sum / 1e3, "s")
      Main.putServe(res, lat)
      // what the passes left live, not blocks still being dropped
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      res.put("live_heap_mb", Main.liveHeapMb(), "MB")
    } else {
      val t = tracer.get
      val traced = passTimes.filter(_._1).map(_._2).toSeq
      res.put("trace.overhead.pass_s", Main.median(traced) - Main.median(plain), "s")
      layerMetrics(t, passSpans.toSeq, res)
    }
  }

  /** Untimed pass: write every query's result, with the
    * query's oracle SQL, where the oracle check reads it.
    */
  private def verifyPass(spark: SparkSession, o: Opts, res: Result): Unit = {
    val dir = java.nio.file.Paths.get(o.out, "verify")
    java.nio.file.Files.createDirectories(dir)
    val order = new scala.util.Random(o.seed).shuffle(names)
    order.zipWithIndex.foreach { case (name, i) =>
      res.attempt(s"$name (verify pass)") {
        val df = SparkEntry.queries(name)(spark, o.sf)
        // as graft.Verify writes it; the self-test's corrupted result has
        // one value of the first row changed
        val out = if (o.corrupt && i == 0)
          spark.createDataFrame(java.util.Arrays.asList(corrupt(df.collect()): _*), df.schema)
        else df
        out.coalesce(1).write.mode("overwrite").parquet(dir.resolve(name).toString)
      }
      unpersistAll(spark)
    }
    res.checkedQueries = names
    val oracle = names.map(n => n -> SparkEntry.oracleSql(n))
    java.nio.file.Files.writeString(dir.resolve("oracle_sql.json"), Json.obj(oracle))
  }

  private def corrupt(rows: Array[Row]): Array[Row] =
    if (rows.isEmpty) rows
    else {
      val r = rows.head.toSeq.toArray
      r(0) = r(0) match {
        case v: java.lang.Long    => v + 1
        case v: java.lang.Integer => v + 1
        case v: java.lang.Double  => v + 1.0
        case v: String            => v + "x"
        case _                    => null
      }
      Row.fromSeq(r.toSeq) +: rows.tail
    }

  /** Per-layer metrics from the traced passes, each per pass. */
  private def layerMetrics(t: Tracer, passes: Seq[Int], res: Result): Unit = {
    val n = passes.size.toDouble
    val byId = t.spans.map(s => s.id -> s).toMap
    val passSet = passes.toSet
    val querySpans = t.spans.filter(s => passSet(s.parent)).toSeq
    val all = SparkTotals.of(t.jobsOf(passes.flatMap(t.subtree).toSet))
    Layers.putSpark(res, all, passes.map(i => t.gapSeconds(byId(i))).sum, n)

    val builds = t.spans.filter(s => s.name == "build" && querySpans.exists(_.id == s.parent))
    res.put("entry.build_s", builds.map(_.seconds).sum / n, "s")
    res.put("entry.build_jobs", t.jobsOf(builds.map(_.id).toSet).size / n, "count")

    val moduleOf = set.queries.toMap
    Layers.modules.foreach { m =>
      val ss = querySpans.filter(s => moduleOf.get(s.name).contains(m))
      res.put(s"ops.$m.s", ss.map(_.seconds).sum / n, "s")
      val js = t.jobsOf(ss.flatMap(s => t.subtree(s.id)).toSet)
      res.put(s"ops.$m.shuffle_mb", SparkTotals.of(js).shuffleWriteMb / n, "MB")
    }
    // where each query's time goes, per pass: the record's layer split
    res.extra("query_profile") = names.map { q =>
      val ss = querySpans.filter(_.name == q)
      val js = SparkTotals.of(t.jobsOf(ss.flatMap(s => t.subtree(s.id)).toSet))
      q -> Map("s" -> ss.map(_.seconds).sum / n, "jobs" -> js.jobs / n,
        "gap_s" -> ss.map(t.gapSeconds).sum / n, "task_run_s" -> js.taskRunS / n,
        "shuffle_mb" -> (js.shuffleReadMb + js.shuffleWriteMb) / n)
    }.toMap
    if (set == fixpoint) names.foreach { q =>
      val ss = querySpans.filter(_.name == q)
      res.put(s"query.$q.s", ss.map(_.seconds).sum / n, "s")
      res.put(s"query.$q.jobs", t.jobsOf(ss.flatMap(s => t.subtree(s.id)).toSet).size / n, "count")
      res.put(s"query.$q.gap_s", ss.map(t.gapSeconds).sum / n, "s")
    }
    res.extra("traced_passes") = passes.size
  }
}
