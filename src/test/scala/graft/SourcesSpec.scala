package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink format coverage beyond parquet: CSV and JSON round-trips
  * with explicit schemas (the engine's ingest boundary — SURVEY §2.1 S5/S6
  * generalized to the formats Spark ships).
  */
class SourcesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("score", DoubleType, nullable = true)))

  private def sample = {
    import org.apache.spark.sql.Row
    spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "alpha", 1.5), Row(2L, "beta, with comma", -2.25),
      Row(3L, null, null), Row(4L, "delta \"quoted\"", 0.0)),
      schema)
  }

  test("CSV round-trip: quoting, nulls, explicit schema") {
    val dir = Files.createTempDirectory("graft_csv").toString
    sample.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema(schema).option("header", "true").csv(dir)
    assert(back.orderBy("id").collect().toSeq ===
      sample.orderBy("id").collect().toSeq)
  }

  test("JSON lines round-trip with schema enforcement") {
    val dir = Files.createTempDirectory("graft_json").toString
    sample.write.mode("overwrite").json(dir)
    val back = spark.read.schema(schema).json(dir)
    assert(back.orderBy("id").collect().toSeq ===
      sample.orderBy("id").collect().toSeq)
  }

  test("ORC round-trip: schema, nulls, predicate pushdown reaches the scan") {
    val dir = Files.createTempDirectory("graft_orc").toString
    sample.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.orderBy("id").collect().toSeq ===
      sample.orderBy("id").collect().toSeq)
    // vectors too: ORC is the columnar alternative to parquet, so the
    // embedding column type must survive intact
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))
    import org.apache.spark.sql.Row
    val vdf = spark.createDataFrame(java.util.Arrays.asList(
      Row(0L, Array(0.25f, -1.5f)), Row(1L, Array(3.0f, 0.125f))), vecSchema)
    val vdir = Files.createTempDirectory("graft_orc_vec").toString
    vdf.write.mode("overwrite").orc(vdir)
    assert(spark.read.orc(vdir).orderBy("vec_id").collect().map(_.getSeq[Float](1)).toSeq ===
      Seq(Seq(0.25f, -1.5f), Seq(3.0f, 0.125f)))
    // filters push into the ORC scan like parquet (the 100 TB contract)
    val scan = spark.read.orc(dir).filter(col("id") > 2L)
      .queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("id"),
      s"ORC scan must carry pushed filters:\n$scan")
  }

  test("trained index state IS a table: PQ codebook + PCA basis round-trip parquet, search identical") {
    val spark2 = spark
    import spark2.implicits._
    val vecs = Oracle.genVectors(400, 16).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(4, 16, seed = 9L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
    // PQ codebook: the trained state a 100 TB deployment persists between
    // encode (ingest) and search (serving) — sub-centroid rows keyed by
    // codebook slot, reloaded in slot order
    val cents = graft.ops.Similarity.trainPqCodebook(vecs.select(col("vec").as("v")), m = 4, ncent = 16)
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("slot", "centroid")
      .write.mode("overwrite").parquet(s"$dir/pq_codebook")
    val reloaded = spark.read.parquet(s"$dir/pq_codebook")
      .orderBy("slot").collect()
      .map(_.getSeq[Float](1).toArray).toSeq
    assert(reloaded.length == cents.length)
    assert(reloaded.zip(cents).forall { case (a, b) => a.sameElements(b) })
    def adc(cb: Seq[Array[Float]]) =
      vecs.select(col("id"), graft.functions.pqEncode(col("vec"), cb, 4).as("codes"))
        .crossJoin(broadcast(qdf))
        .select(col("qid"), col("id"),
          graft.functions.pqAdcScore(col("codes"), col("qv"), cb, 4).as("s"))
        .orderBy("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(adc(reloaded).toSeq === adc(cents).toSeq)
    // PCA basis: mean + components as rows keyed by component index
    // (row -1 = mean), reloaded into an identical projection
    val model = graft.ops.Similarity.trainPca(vecs, 6)
    ((-1, model.mean) +: model.components.zipWithIndex.map { case (c, i) => (i, c) }.toSeq)
      .toDF("row", "values").write.mode("overwrite").parquet(s"$dir/pca_basis")
    val rows = spark.read.parquet(s"$dir/pca_basis").orderBy("row").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val mean2 = rows.find(_._1 == -1).get._2
    val comps2 = rows.filter(_._1 >= 0).sortBy(_._1).map(_._2)
    val p1 = vecs.select(graft.functions.pcaProject(col("vec"), model.mean, model.components))
      .collect().map(_.getSeq[Float](0))
    val p2 = vecs.select(graft.functions.pcaProject(col("vec"), mean2, comps2))
      .collect().map(_.getSeq[Float](0))
    assert(p1.zip(p2).forall { case (a, b) => a == b })
  }

  test("schema evolution: mergeSchema read over mixed-generation parquet; old rows null-fill the added column") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    // generation 1: (id, text); generation 2 adds a quality column — the
    // standard corpus-evolution shape (a new score backfilled going
    // forward only)
    Seq((0L, "alpha"), (1L, "beta")).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    Seq((2L, "gamma", 0.75), (3L, "delta", 0.25)).toDF("doc_id", "text", "quality")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq === Seq("doc_id", "quality", "text"))
    val rows = merged.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.toSeq === Seq(
      (0L, "alpha", None), (1L, "beta", None),
      (2L, "gamma", Some(0.75)), (3L, "delta", Some(0.25))))
    // and a filter on the NEW column still prunes correctly over old files
    assert(merged.filter(col("quality") > 0.5).count() === 1L)
  }

  test("vector tables survive a JSON hop (array<float> fidelity)") {
    val dir = Files.createTempDirectory("graft_vec_json").toString
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))
    import org.apache.spark.sql.Row
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(0L, Array(0.25f, -1.5f)), Row(1L, Array(3.0f, 0.125f))), vecSchema)
    df.write.mode("overwrite").json(dir)
    val back = spark.read.schema(vecSchema).json(dir)
    // exact: the sample values are dyadic rationals, lossless in JSON text
    assert(back.orderBy("vec_id").collect().map(_.getSeq[Float](1)).toSeq ===
      Seq(Seq(0.25f, -1.5f), Seq(3.0f, 0.125f)))
  }

  test("Tables cache picks up a REGENERATED parquet under the same path") {
    // r16 verdict task #7 + r16 ADVICE: the driver regenerates testdata
    // in place — a stale cached relation (old file index / old footer)
    // would silently red the whole gate. The adversarial case is a
    // rewrite landing within the SAME filesystem timestamp tick, so this
    // test pins the directory mtime BACK to its pre-rewrite value and
    // the cache must still notice via the child-file fingerprint
    // (names/lengths/mtimes of the part files change on rewrite).
    val dir = Files.createTempDirectory("graft_tables_regen").toString
    val path = s"$dir/t.parquet"
    spark.range(0, 5).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(path)
    val before = new java.io.File(path).lastModified()
    assert(Tables(spark, dir, "t").count() === 5L)
    // regenerate under the SAME path with different contents, then force
    // the dir mtime EQUAL to the original — a same-tick rewrite
    spark.range(0, 9).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(path)
    new java.io.File(path).setLastModified(before)
    assert(Tables(spark, dir, "t").count() === 9L,
      "same-tick regenerated parquet not picked up — cache fingerprint " +
        "must cover child files, not just the dir mtime")
    // and the superseded relation must be REPLACED, not accreted: a
    // third rewrite keeps the per-path entry count at one (compute()
    // swaps in place), asserted indirectly by another fresh read
    spark.range(0, 3).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(path)
    assert(Tables(spark, dir, "t").count() === 3L)
  }

  test("Tables.rowCount counts every row of a partitioned table; a non-parquet data file fails closed") {
    // the long-split gates compare this count against their caps, so an
    // undercount would route a too-large table onto the int64 path
    val dir = Files.createTempDirectory("graft_rowcount").toString
    val path = s"$dir/t.parquet"
    spark.range(0, 5).toDF("id").coalesce(1).write.parquet(s"$path/p=1")
    spark.range(0, 7).toDF("id").coalesce(2).write.parquet(s"$path/p=2")
    assert(Tables(spark, dir, "t").count() === 12L)
    assert(Tables.rowCount(dir, "t") === 12L)
    // a data file the footer reader cannot count: no bound at all
    Files.write(java.nio.file.Paths.get(s"$path/p=2/extra.csv"), "1\n".getBytes)
    assert(Tables.rowCount(dir, "t") === Long.MaxValue)
  }

  test("Tables.rowCount reads a file: URI through its FileSystem; a missing path fails closed") {
    val dir = Files.createTempDirectory("graft_rowcount_fs").toString
    spark.range(0, 9).toDF("id").coalesce(3).write.parquet(s"$dir/t.parquet")
    assert(Tables.rowCount(s"file://$dir", "t") === 9L)
    assert(Tables.rowCount(dir, "t") === 9L)
    assert(Tables.columnAbsMax(s"file://$dir", "t", "id") === Some(8.0))
    // nothing to list: no bound, so every gate takes its exact path
    assert(Tables.rowCount(dir, "absent") === Long.MaxValue)
    assert(Tables.columnAbsMax(dir, "absent", "id") === None)
  }
}
