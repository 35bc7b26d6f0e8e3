package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialize an N× replica of a testdata scale-factor directory so the
  * FULL query suite + DuckDB oracle harness can run at 10× scale (no sf1
  * testdata exists). Same corpus model as `tools/ScaleSmoke` (at 7c4064a):
  *
  *  - fact tables replicate with DISJOINT key ranges (every key and FK
  *    offset by replica · 10⁹ — joins stay consistent within a replica);
  *  - `region`/`nation` stay single-copy (dimension tables don't grow
  *    10× when a corpus does — and this keeps nationkey-grouped results
  *    comparable in shape to the original);
  *  - `documents.text` letter-rotates per replica (decorrelates shingles:
  *    each replica brings its own duplicate structure, the honest model
  *    of a bigger corpus — naive copies would square the duplicate work).
  *    Two DISJOINT alphabets compose (9-letter × 12-letter → 108 distinct
  *    rotations), so even a 100× replica set has no same-text replica
  *    pair — a single 9-letter rotation repeats every 9 replicas, and the
  *    ~11 same-rotation copies would hand every pair-generating query
  *    (prefix filter, simhash) a quadratic cross-replica workload no real
  *    corpus has;
  *  - `embeddings` scale per replica (cosine structure preserved, vectors
  *    distinct); only replica 0 keeps `vec_id < 8`, so ANN queries stay
  *    8 queries over an N× corpus;
  *  - `events.ts` is written as a real TIMESTAMP (micros): the source's
  *    TIMESTAMP(NANOS) needs the nanosAsLong conf + manual conversion,
  *    which `Tables.events` applies on read and skips for real
  *    timestamps — and DuckDB reads either identically.
  *
  * Each table lands as a SINGLE `name.parquet` FILE (not a directory) so
  * `Verify`, `Bench`, and `tools/check.py` run against the replica dir
  * with zero changes — matching the source layout's 1-file-per-table
  * property (and its 1-partition-scan behavior, so bench comparisons are
  * apples-to-apples).
  */
object Replicate {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf1x"
    val mult = if (args.length > 2) args(2).toInt else 10
    // the composed rotation (i % 9, (i/9) % 12) is injective only for
    // i < 108 — beyond that replica texts REPEAT and every pair query
    // regains the quadratic cross-replica workload this tool exists to
    // avoid. Fail loudly instead of silently faking the work profile.
    require(mult >= 1 && mult <= 108,
      s"mult=$mult outside [1, 108]: document rotations repeat past 108 replicas, " +
        "reintroducing same-text replica pairs (add a third disjoint alphabet first)")
    val OFF = 1000000000L
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = s"$dst/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file for $name"))
      val target = new java.io.File(s"$dst/$name.parquet")
      if (target.exists()) target.delete()
      java.nio.file.Files.move(part.toPath, target.toPath)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
      println(s"$name: ${spark.read.parquet(target.getPath).count()} rows")
    }

    def reps(f: Int => DataFrame): DataFrame =
      (0 until mult).map(f).reduce(_ unionByName _)
    def t(name: String) = graft.Tables(spark, src, name)
    def off(c: String, i: Int) = (col(c) + lit(i * OFF)).as(c)

    new java.io.File(dst).mkdirs()

    // single-copy dims
    writeOne(t("region"), "region")
    writeOne(t("nation"), "nation")

    writeOne(reps(i => t("customer").select(off("c_custkey", i), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))), "customer")
    writeOne(reps(i => t("supplier").select(off("s_suppkey", i), col("s_name"),
      col("s_nationkey"), col("s_acctbal"))), "supplier")
    writeOne(reps(i => t("part").select(off("p_partkey", i), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))), "part")
    writeOne(reps(i => t("orders").select(off("o_orderkey", i), off("o_custkey", i),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))), "orders")
    writeOne(reps(i => t("lineitem").select(off("l_orderkey", i), off("l_partkey", i),
      off("l_suppkey", i), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))), "lineitem")

    val ev = graft.Tables.events(spark, src) // ts already a real timestamp here
    writeOne(reps(i => ev.select(off("event_id", i), col("ts"), off("user_id", i),
      col("event_type"), col("value"), col("props"))), "events")

    val letters = "etaoinshr"
    val letters2 = "dlcumwfgypbv" // disjoint from letters; all occur in the corpus
    def rot(s: String, k: Int): String = s.substring(k) + s.substring(0, k)
    writeOne(reps(i => t("documents").select(off("doc_id", i),
      translate(translate(col("text"), letters, rot(letters, i % letters.length)),
        letters2, rot(letters2, (i / letters.length) % letters2.length)).as("text"),
      col("lang"), col("source"), col("n_chars"))), "documents")

    writeOne(reps(i => t("embeddings").select(off("vec_id", i),
      transform(col("embedding"),
        x => x * (lit(1.0f) + lit(i.toFloat) * lit(0.05f))).as("embedding"),
      col("label"))), "embeddings")

    spark.stop()
  }
}
