package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.types._

import graft.index.{Metric, PointSearcher, StorageType, VectorIndexFlat}

/** The reference's own surface on seeded uniform(−1, 1) vectors.
  *
  * One pass is a fixed write+read mix: both indexes grow to `nv` rows in
  * 10 `add` calls, the batch searches run (nq=16 and 256 on both indexes
  * take the fused path, nq=1100 on fp32 is above `maxFusedQueries` and
  * takes the declarative one), sampled ids are reconstructed, and serving
  * snapshots are prepared. Then one closed-loop client serves
  * `PointSearcher.search` on the fp32 index for `--seconds`; at even
  * intervals a refresh (append 500 rows, new searcher) replaces a
  * request. Refreshes count in `pass_s`, requests in `serve_ms`.
  */
final class KnnWorkload extends Workload {
  import KnnWorkload._

  private var data: Data = _

  def setup(spark: SparkSession, o: Opts): Unit = {
    data = Data(o.seed, o.nv)
    // the query frames are session objects: built with the session
    data.frames = Seq(16, 256, 1100).map(n => n -> frame(spark, data.queries.take(n))).toMap
  }

  def run(spark: SparkSession, o: Opts, tracer: Option[Tracer], res: Result): Unit = {
    val w0 = System.nanoTime()
    warmup(spark)
    res.extra("warmup_s") = (System.nanoTime() - w0) / 1e9
    timedPhase(spark, o, tracer, res)
  }

  private def timedPhase(spark: SparkSession, o: Opts, tracer: Option[Tracer], res: Result): Unit = {
    tracer.foreach(_.enable())
    def span[T](name: String, layer: String)(body: => T): T = Tracer.span(tracer, name, layer)(body)
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e6)
    }
    val checks = mutable.ArrayBuffer.empty[() => Unit]
    val refreshMs = mutable.ArrayBuffer.empty[Double]
    val latencies = mutable.ArrayBuffer.empty[(Boolean, Double)]
    var passMs = 0.0
    var searcher: PointSearcher = null

    // one call into the index: counted, traced, timed; the time joins pass_s
    def call[T](name: String)(body: => T): Option[(T, Double)] =
      res.attempt(name)(span(name, "index")(timed(body)))
        .map { case (v, ms) => passMs += ms; (v, ms) }

    val fp32 = VectorIndexFlat(spark, d, Metric.L2, StorageType.Float32)
    val f16 = VectorIndexFlat(spark, d, Metric.InnerProduct, StorageType.Float16)
    val indexes = Seq("fp32" -> fp32, "f16" -> f16)
    val chunk = o.nv / addCalls

    // ingest
    val addMs = indexes.map { case (s, idx) =>
      s -> (0 until addCalls).flatMap { b =>
        call(s"add.$s")(idx.add(data.base.slice(b * chunk, (b + 1) * chunk).toSeq)).map(_._2)
      }
    }.toMap
    val ingestMs = addMs.values.flatten.sum

    // batch
    val batch = Seq((16, "fp32"), (16, "f16"), (256, "fp32"), (256, "f16"), (1100, "fp32"))
    val searchMs = mutable.LinkedHashMap.empty[String, Double]
    var nq16Span = -1
    batch.foreach { case (nq, s) =>
      val idx = if (s == "fp32") fp32 else f16
      call(s"search.nq$nq.$s")(idx.search(data.frames(nq), k).collect()).foreach { case (rows, ms) =>
        searchMs(s"nq$nq.$s") = ms
        if (nq == 16 && s == "fp32") tracer.foreach(t => nq16Span = t.spans.last.id)
        val got = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getFloat(3)))
        }
        val sample = sampleQids(nq)
        val corruptThis = o.corrupt && nq == 16 && s == "fp32"
        checks += { () =>
          sample.foreach { q =>
            val want = exact(data.base.take(o.nv), data.queries(q.toInt), s == "f16")
            val have0 = got.getOrElse(q, Array.empty[(Long, Float)])
            // the self-test's corrupted result: one label changed
            val have = if (corruptThis && q == sample.head && have0.nonEmpty)
              have0.updated(0, (have0(0)._1 + 1, have0(0)._2)) else have0
            if (!have.sameElements(want))
              res.fail(s"search nq=$nq $s: qid $q top-$k differs from brute force")
          }
        }
      }
    }
    val batchMs = searchMs.values.sum

    // lookup
    val lookups = mutable.ArrayBuffer.empty[Double]
    val recMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    data.lookupIds.foreach { id =>
      indexes.foreach { case (s, idx) =>
        call(s"reconstruct.$s")(idx.reconstruct(id)).foreach { case (v, ms) =>
          lookups += ms
          recMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += ms
          val want = if (s == "fp32") data.base(id.toInt) else data.base(id.toInt).map(f16Round)
          checks += { () =>
            if (!java.util.Arrays.equals(v, want)) res.fail(s"reconstruct $s id $id not exact")
          }
        }
      }
    }

    // serving snapshots
    val prepMs = mutable.Map.empty[String, Double]
    call("prepare.f16")(f16.pointSearcher(k).close()).foreach { case (_, ms) => prepMs("f16") = ms }
    call("prepare.fp32")(fp32.pointSearcher(k)).foreach { case (ps, ms) => prepMs("fp32") = ms; searcher = ps }

    // serving: one closed-loop client; tracing alternates in blocks of 10
    // requests
    var appended = 0
    var probe = -1 // index into appended rows of a just-added vector to look up
    val t0 = System.nanoTime()
    var i = 0
    def servedS = (System.nanoTime() - t0) / 1e9
    while (searcher != null && servedS < o.seconds) {
      val traced = tracer.nonEmpty && (i / 10) % 2 == 1
      tracer.foreach(t => if (traced) t.enable() else t.disable())
      if (appended < refreshes && servedS >= (appended + 1) * o.seconds / (refreshes + 1)) {
        val rows = data.appendBatch(appended)
        val ok = call("refresh.fp32") {
          fp32.add(rows.toSeq)
          searcher.close()
          searcher = fp32.pointSearcher(k)
        }
        ok.foreach { case (_, ms) => refreshMs += ms }
        if (ok.isEmpty) searcher = null
        appended += 1
        probe = (appended - 1) * appendRows + (i % appendRows)
      } else {
        val q = if (probe >= 0) data.appended(probe) else data.pool(i % data.pool.length)
        val r = res.attempt("serve")(span("serve", "index")(timed(searcher.search(q))))
        r.foreach { case (hits, ms) =>
          latencies += ((traced, ms))
          val nowRows = o.nv + appended * appendRows
          if (probe >= 0) {
            val id = (o.nv + probe).toLong
            checks += { () =>
              if (hits.isEmpty || hits(0)._1 != id)
                res.fail(s"after refresh ${appended}: just-added id $id not at rank 0")
            }
          } else if (i % checkEvery == 0) {
            val seen = appended
            checks += { () =>
              val corpus = data.base.take(o.nv) ++ data.appended.take(seen * appendRows)
              val want = exact(corpus, q, f16 = false)
              val have = hits.map { case (l, dd) => (l, dd.toFloat) }
              if (!have.sameElements(want))
                res.fail(s"serve request $i differs from brute force over $nowRows rows")
            }
          }
        }
        probe = -1
        i += 1
      }
    }
    val cachedMb = indexes.map { case (s, idx) => s -> cachedMbOf(idx.vectors) }.toMap
    if (tracer.isEmpty) {
      res.put("pass_s", passMs / 1e3, "s")
      val lat = latencies.map(_._2).toSeq
      res.extra("requests") = lat.size
      Main.putServe(res, lat)
      res.put("live_heap_mb", Main.liveHeapMb(), "MB")
    }
    tracer.foreach(_.disable())
    if (searcher != null) searcher.close()
    res.extra("refreshes") = refreshMs.size

    // checks, after the timed phase
    val c0 = System.nanoTime()
    checks.foreach(_())
    res.extra("checks_s") = (System.nanoTime() - c0) / 1e9

    // layer metrics from the client's own timers
    indexes.foreach { case (s, _) =>
      res.put(s"index.add_ms.$s", Main.median(addMs(s)), "ms")
      res.put(s"index.prepare_ms.$s", prepMs.getOrElse(s, Double.NaN), "ms")
      res.put(s"index.reconstruct_ms.$s", Main.median(recMs.getOrElse(s, Nil).toSeq), "ms")
      res.put(s"index.cached_mb.$s", cachedMb(s), "MB")
    }
    searchMs.foreach { case (n, ms) => res.put(s"index.search_ms.$n", ms, "ms") }
    res.put("ingest_rows_per_s", 2.0 * chunk * addCalls / (ingestMs / 1e3), "rows/s")
    res.put("batch_qps", batch.map(_._1).sum / (batchMs / 1e3), "1/s")
    res.put("refresh_s", Main.median(refreshMs.toSeq) / 1e3, "s")
    res.put("lookup_ms.p50", Main.median(lookups.toSeq), "ms")

    tracer.foreach { t =>
      val spans = t.spans.filter(_.layer == "index").toSeq
      val js = t.jobsOf(spans.map(_.id).toSet)
      Layers.putSpark(res, SparkTotals.of(js), spans.map(t.gapSeconds).sum, 1.0)
      res.put("index.search_jobs.nq16", t.jobsOf(Set(nq16Span)).size.toDouble, "count")
      val (on, off) = latencies.partition(_._1)
      res.put("trace.overhead.serve_ms.p50",
        Main.percentile(on.map(_._2).toSeq, 50) - Main.percentile(off.map(_._2).toSeq, 50), "ms")
      res.extra("traced_passes") = 1
    }
    fp32.reset(); f16.reset()
  }

  /** Untimed: every index path on a small index, repeated until the JIT
    * has compiled them, so the pass meets warm code.
    */
  private def warmup(spark: SparkSession): Unit = {
    val n = math.min(1200, data.base.length)
    val fp32 = VectorIndexFlat(spark, d, Metric.L2, StorageType.Float32)
    val f16 = VectorIndexFlat(spark, d, Metric.InnerProduct, StorageType.Float16)
    Seq(fp32, f16).foreach { idx =>
      (0 until 6).foreach(b => idx.add(data.base.slice(b * n / 6, (b + 1) * n / 6).toSeq))
      Seq(16, 256).foreach(nq => idx.search(data.frames(nq), k).collect())
      (0 until 2).foreach(i => idx.reconstruct(i.toLong))
      val ps = idx.pointSearcher(k)
      data.pool.take(30).foreach(ps.search)
      ps.close()
    }
    fp32.search(data.frames(1100), k).collect()
    Seq(fp32, f16).foreach(_.reset())
  }

  private def frame(spark: SparkSession, qs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(qs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }: _*),
      StructType(Seq(StructField("qid", LongType, nullable = false),
        StructField("qvec", ArrayType(FloatType, containsNull = false), nullable = false))))

  private def cachedMbOf(df: DataFrame): Double =
    df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder.sizeInBytesStats.value.toDouble
    }.sum / (1024.0 * 1024.0)
}

object KnnWorkload {
  val d = 128
  val k = 10
  val addCalls = 10
  val appendRows = 500
  val refreshes = 2
  val lookupsPerIndex = 3
  /** Every how many served requests one is checked against brute force. */
  val checkEvery = 25

  /** Seeded inputs: base vectors, appended rows, batch queries, the
    * serving pool and the ids to look up.
    */
  final case class Data(seed: Long, nv: Int) {
    private val rnd = new scala.util.Random(seed)
    private def vec(): Array[Float] = Array.fill(d)(rnd.nextFloat() * 2f - 1f)
    val base: Array[Array[Float]] = Array.fill(nv)(vec())
    val appended: Array[Array[Float]] = Array.fill(refreshes * appendRows)(vec())
    val queries: Array[Array[Float]] = Array.fill(1100)(vec())
    val pool: Array[Array[Float]] = Array.fill(1024)(vec())
    val lookupIds: Seq[Long] = Seq.fill(lookupsPerIndex)(rnd.nextInt(nv).toLong)
    def appendBatch(r: Int): Array[Array[Float]] =
      appended.slice(r * KnnWorkload.appendRows, (r + 1) * KnnWorkload.appendRows)
    var frames: Map[Int, DataFrame] = Map.empty
  }

  /** qids of a batch of `nq` whose results are checked. */
  def sampleQids(nq: Int): Seq[Long] = Seq(0L, nq / 2L, nq - 1L).distinct

  /** IEEE half round trip (round to nearest even) of a value in (−1, 1). */
  def f16Round(x: Float): Float = {
    val a = math.abs(x.toDouble)
    if (a == 0.0) x
    else if (a < 6.103515625e-5) (math.rint(x * 16777216.0) / 16777216.0).toFloat
    else {
      val e = math.getExponent(x.toDouble)
      math.scalb(math.rint(math.scalb(x.toDouble, 10 - e)), e - 10).toFloat
    }
  }

  /** Exact top-k by a float64 loop in (distance, id) order: squared L2
    * ascending on fp32, inner product descending on f16-rounded vectors;
    * padded with sentinels past the corpus size.
    */
  def exact(corpus: Array[Array[Float]], q: Array[Float], f16: Boolean): Array[(Long, Float)] = {
    val scored = corpus.indices.map { i =>
      val v = corpus(i)
      var acc = 0.0
      var t = 0
      if (f16) while (t < d) { acc += f16Round(v(t)).toDouble * q(t).toDouble; t += 1 }
      else while (t < d) { val dd = v(t).toDouble - q(t).toDouble; acc += dd * dd; t += 1 }
      (if (f16) -acc else acc, i.toLong)
    }
    val best = scored.sorted.take(k).map { case (s, i) => (i, (if (f16) -s else s).toFloat) }
    val pad = if (f16) Float.NegativeInfinity else Float.PositiveInfinity
    (best ++ Seq.fill(k - best.size)((-1L, pad))).toArray
  }
}
