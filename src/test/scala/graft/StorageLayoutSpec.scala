package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

/** Storage-layout techniques that carry the engine from local[32] to a
  * 1000-executor cluster: bucketed tables (co-located joins — no shuffle),
  * and partition pruning (scan only the partitions a filter selects).
  * Plan-shape assertions, not just results: the point IS the physical plan.
  */
class StorageLayoutSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("bucketed join: both sides bucketed by the key -> no shuffle exchange") {
    import spark.implicits._
    val facts = (0L until 10000L).map(i => (i % 997, s"f$i")).toDF("key", "payload")
    val dims = (0L until 997L).map(i => (i, s"d$i")).toDF("key", "attr")
    facts.write.mode("overwrite").bucketBy(8, "key").sortBy("key")
      .saveAsTable("graft_facts_b")
    dims.write.mode("overwrite").bucketBy(8, "key").sortBy("key")
      .saveAsTable("graft_dims_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_facts_b")
        .join(spark.table("graft_dims_b"), "key")
      assert(joined.count() == 10000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle, plan was:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_facts_b")
      spark.sql("DROP TABLE IF EXISTS graft_dims_b")
    }
  }

  test("partition pruning: filter on the partition column scans one partition") {
    val dir = Files.createTempDirectory("graft_part").toString
    import spark.implicits._
    val df = (0 until 1000)
      .map(i => (i.toLong, Seq("click", "view", "purchase")(i % 3), i * 1.5))
      .toDF("id", "etype", "v")
    df.write.mode("overwrite").partitionBy("etype").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("etype") === "click")
    assert(pruned.count() == 334)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("etype"),
      s"expected partition filters in scan:\n$scan")
    // the non-selected partitions' files must not be read
    def nFiles(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collectLeaves().head match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
        case other => fail(s"expected FileSourceScanExec leaf, got $other")
      }
    val allFiles = nFiles(pruned)
    val totalFiles = nFiles(spark.read.parquet(dir))
    assert(allFiles < totalFiles, s"pruned scan reads $allFiles of $totalFiles files")
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // one hot key holding ~90% of the fact rows
      val fact = (0 until 200000)
        .map(i => (if (i % 10 == 0) i.toLong % 97 else 7L, s"payload-$i"))
        .toDF("key", "payload")
      val dim = (0L until 97L).map(k => (k, s"attr$k")).toDF("key", "attr")
      val joined = fact.join(dim, "key")
      // collect() (not count()) so THIS Dataset's adaptive plan finalizes
      assert(joined.collect().length == 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew-join handling in plan:\n${plan.take(4000)}")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("IVF index persisted partitioned-by-cluster: a probe scans only its clusters") {
    // the 100 TB ANN layout: assignment materialized once, vectors written
    // partitionBy(cid); probing nProbe clusters becomes partition pruning —
    // the scan never touches the other clusters' files
    val dir = Files.createTempDirectory("graft_ivf").toString
    import spark.implicits._
    val vecs = Oracle.genVectors(2000, 8)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("id", "vec")
    val cents = (0 until 10).map(c => (c.toLong, vecs(c * 7)))
    val assigned = vdf.withColumn("cid",
      org.apache.spark.sql.functions.element_at(
        graft.functions.nearestCentroids(col("vec"), cents, 1), 1))
    assigned.write.mode("overwrite").partitionBy("cid").parquet(dir)
    val probed = spark.read.parquet(dir).filter(col("cid").isin(2L, 5L))
    assert(probed.count() > 0)
    val scan = probed.queryExecution.executedPlan.collectLeaves().head match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      case other => fail(s"expected FileSourceScanExec, got $other")
    }
    assert(scan.toString.contains("PartitionFilters"))
    val total = spark.read.parquet(dir).queryExecution.executedPlan
      .collectLeaves().head.asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
      .selectedPartitions.totalNumberOfFiles
    assert(scan.selectedPartitions.totalNumberOfFiles < total,
      "probe must scan a strict subset of cluster files")
  }

  test("pushed filters and pruned columns reach the parquet scan") {
    val dir = Files.createTempDirectory("graft_pushdown").toString
    import spark.implicits._
    (0L until 1000L).map(i => (i, i * 2.0, s"s$i", i % 7))
      .toDF("a", "b", "c", "d")
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("a") > 500).select("a", "d")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(a,500)"),
      s"filter must push to parquet:\n$scan")
    assert(scan.contains("ReadSchema") && !scan.contains("struct<a:bigint,b:double,c:string,d:bigint>"),
      s"column pruning must drop b and c:\n$scan")
  }

  test("PQ index persists to parquet and searches identically after reload") {
    // the compressed-tier analog of the S5/S6 cpu<->metal round-trip: the
    // m-byte codes + the codebook ARE the index; write codes to parquet,
    // reload, ADC-search — results must be byte-identical to the
    // in-memory path (codes and codebook are integers/exact floats, so
    // no tolerance is needed)
    val dir = Files.createTempDirectory("graft_pq").toString
    import spark.implicits._
    import graft.functions.{pqAdcScore, pqEncode}
    val m = 4
    val vecs = Oracle.genVectors(800, 16)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("id", "vec")
    val qdf = vecs.take(3).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("qid", "qv")
    val cents = vecs.indices.filter(_ % 25 == 0).map(vecs(_)).toSeq
    vdf.select(col("id"), pqEncode(col("vec"), cents, m).as("codes"))
      .write.mode("overwrite").parquet(dir)
    def search(codes: org.apache.spark.sql.DataFrame) =
      graft.ops.Similarity.rankTopK(
        codes.crossJoin(broadcast(qdf))
          .select(col("qid"), col("id").as("label"),
            round(pqAdcScore(col("codes"), col("qv"), cents, m), 6).as("score")),
        10, ascending = true)
        .orderBy("qid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val mem = search(vdf.select(col("id"), pqEncode(col("vec"), cents, m).as("codes")))
    val disk = search(spark.read.parquet(dir))
    assert(mem.toSeq === disk.toSeq)
    // the persisted index reads m bytes/vector: codes column only, no vec
    val scan = spark.read.parquet(dir).select("id", "codes")
      .queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema") && !scan.contains("vec"),
      s"persisted PQ scan must not read raw vectors:\n$scan")
  }

  test("projection index payload persists to parquet and serves identically after reload") {
    // the r15 build/serve split's deployment claim end-to-end: the
    // pcaAssign coarse column is what a 100 TB deployment PERSISTS —
    // write it to parquet, reload, serve — results byte-identical to
    // serving from the in-memory build, and the reloaded serve scans
    // only (id, cvec), never the fp32 vec column
    val dir = Files.createTempDirectory("graft_pcaidx").toString
    import spark.implicits._
    import graft.ops.Similarity
    val vecs = Oracle.genVectors(600, 16)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("id", "vec")
    val qdf = vecs.take(3).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("qid", "qv")
    val model = Similarity.trainPca(vdf, 6)
    Similarity.pcaAssign(vdf, model, materialize = false)
      .write.mode("overwrite").parquet(dir)
    def serve(index: org.apache.spark.sql.DataFrame) =
      Similarity.pcaServeTopK(model, index, vdf, qdf, k = 10, expand = 4)
        .orderBy("qid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val mem = serve(Similarity.pcaAssign(vdf, model))
    val disk = serve(spark.read.parquet(dir))
    assert(mem.toSeq === disk.toSeq)
    // the persisted index is the 6-dim coarse column only — dOut/d of
    // the fp32 bytes, and the reload reads no "vec"
    val scan = spark.read.parquet(dir).select("id", "cvec")
      .queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema") && !scan.contains("\"vec\""),
      s"persisted projection index scan must not read raw vectors:\n$scan")
  }

  test("round-6 text/dedup plans: no hot-key windows, no unbounded cross joins") {
    import spark.implicits._
    val docs = (0L until 200L)
      .map(i => (i, s"tok${i % 11} tok${i % 7} tok${i % 5} tok${i % 3} " * 5))
      .toDF("doc_id", "text")
    // BM25: posting stats must not introduce a Window; the only cross
    // join is the 1-row stats broadcast
    val bm = graft.ops.Lexical.bm25TopK(docs,
      docs.filter(col("doc_id") < 2).select(col("doc_id").as("qid"), col("text")), 5)
    val bmPlan = bm.queryExecution.executedPlan.toString
    assert(!bmPlan.contains("Window"), s"bm25 must not use windows:\n$bmPlan")
    assert(!bmPlan.contains("CartesianProduct"),
      s"bm25 must not materialize a cartesian product:\n$bmPlan")
    // duplicated spans / winnowing: any Window may partition ONLY by
    // doc_id (bounded by document length), never by the gram
    val wf = graft.ops.Dedup.winnowedFingerprints(docs)
    val wfWindows = wf.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.map(_.sql).mkString(",")
    }
    assert(wfWindows.nonEmpty && wfWindows.forall(_.contains("doc_id")),
      s"winnowing windows must partition by doc_id: $wfWindows")
    val ds = graft.ops.Dedup.duplicatedSpans(docs, n = 3)
    assert(!ds.queryExecution.executedPlan.toString.contains("Window"),
      "duplicatedSpans must not use windows at all")
  }
}
