package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver-provided TPC-H-ish test data
  * (`TESTDATA.md`). Every `SparkEntry.queries` entry reads through here so
  * scans stay plain parquet relations Catalyst can push filters/pruning
  * into.
  */
object Tables {
  // One analyzed relation per (session, dir, table) — the role a catalog
  // plays in a deployment. `spark.read.parquet` re-lists the path and
  // re-reads the footer schema on EVERY call (often as a one-task job);
  // across a 250-query bench run that is ~600 redundant listings for
  // ten immutable tables. The outer map is a small access-order LRU
  // (≤ maxSessions) keyed by session identity — a weak-keyed map was
  // self-defeating here because the cached DataFrames strongly
  // reference their session (Dataset.sparkSession → value pins key,
  // nothing ever collects), so boundedness comes from eviction, not
  // GC: a stopped test session's entries age out as newer sessions
  // arrive, and the worst-case footprint is maxSessions × ~10 analyzed
  // relations regardless of how many sessions a JVM churns through.
  // (SparkSession does not override equals, so LinkedHashMap keys are
  // identity keys here.) The cached value composes like
  // a catalog entry: downstream transforms stack on top, scans stay
  // plain parquet relations with full pushdown. Testdata and replica
  // dirs are immutable for a JVM's lifetime (scratch round-trip reads
  // go through spark.read directly, never here).
  private val maxSessions = 8
  private val cache =
    new java.util.LinkedHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]](
        16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession,
            java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]])
          : Boolean = size() > maxSessions
    }

  /** Cheap per-lookup freshness fingerprint. mtime alone missed a
    * regeneration landing within the same filesystem timestamp tick
    * (r16 ADVICE), so the length rides along; r17 ADVICE closed the last
    * gap — a same-tick same-LENGTH in-place byte rewrite — by folding in
    * the file's last 64 bytes (the parquet footer tail: metadata length +
    * row-group offsets, which move with any content change) and recursing
    * into child directories. Cost per lookup: a stat plus one 64-byte
    * pread per part file — still noise next to the ~70 ms footer read it
    * saves.
    */
  private def tailSig(f: java.io.File): Int = {
    val len = f.length
    if (len == 0) 0
    else {
      val n = math.min(64L, len).toInt
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        raf.seek(len - n)
        val buf = new Array[Byte](n)
        raf.readFully(buf)
        java.util.Arrays.hashCode(buf)
      } finally raf.close()
    }
  }
  private def fingerprint(f: java.io.File): String =
    if (f.isDirectory) {
      val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      val inner = kids.sortBy(_.getName)
        .map(k => s"${k.getName}:${fingerprint(k).##}").mkString(",")
      s"${f.lastModified}|${kids.length}|${inner.##}"
    } else s"${f.lastModified}|${f.length}|${tailSig(f)}"

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = cache.synchronized {
      var m = cache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]()
        cache.put(spark, m)
      }
      m
    }
    // The fingerprint rides the VALUE, keyed by path (r17): the driver
    // DOES regenerate testdata under the same paths, and a stale
    // analyzed relation (old file index, old footer schema) would
    // silently red the whole gate. A rewrite changes the fingerprint →
    // the compute() below replaces the entry in place, so superseded
    // relations are evicted instead of accreting one per regeneration.
    val path = s"$dir/$name.parquet"
    val fp = fingerprint(new java.io.File(path))
    perSession.compute(path, (_, old) =>
      if (old != null && old._1 == fp) old
      else (fp, spark.read.parquet(path)))._2
  }

  /** Exact table row count from the parquet FOOTERS, host-side — zero
    * Spark jobs (a footer read per part file, cached under the same
    * freshness fingerprint as the relation). This is the measured gate
    * the long-split aggregation paths route on (r19): a sum that is
    * provably int64-safe for n rows needs n, and launching a count job
    * to decide how to aggregate would cost more than the decimal it
    * replaces on single-aggregation queries. Footer record counts are
    * exact for the unfiltered table — callers gate on an UPPER bound of
    * their group sizes, so any pre-aggregation filter only adds slack.
    * Partition directories are counted too; a table with a data file that
    * is not `*.parquet` counts as `Long.MaxValue`, which fails every cap.
    */
  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()
  def rowCount(dir: String, name: String): Long = {
    val path = s"$dir/$name.parquet"
    val f = new java.io.File(path)
    val fp = fingerprint(f)
    rowCountCache.compute(path, (_, old) =>
      if (old != null && old._1 == fp) old
      else {
        val files = dataFiles(f)
        val conf = new org.apache.hadoop.conf.Configuration()
        // a data file the footer reader cannot count: no bound, so every
        // gate takes its exact path
        val total =
          if (!files.forall(_.getName.endsWith(".parquet"))) Long.MaxValue
          else files.map { k =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(k.getAbsolutePath), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }.sum
        (fp, total)
      })._2
  }

  /** The files Spark's reader takes as a table's data: `f` itself, or
    * every file below it, recursing into (partition) directories and
    * skipping hidden names — a leading `.`, or a leading `_` outside a
    * `col=value` directory name.
    */
  private def dataFiles(f: java.io.File): Seq[java.io.File] =
    if (!f.isDirectory) Seq(f)
    else Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
      .filterNot { k =>
        val n = k.getName
        n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
      }
      .flatMap(dataFiles)

  /** Normalizes `events.ts` to session-TZ TIMESTAMP regardless of the
    * physical parquet type the generator happened to emit. Three cases have
    * been observed across testdata regenerations:
    *   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it unless
    *     `spark.sql.legacy.parquet.nanosAsLong` is set (a runtime SQL conf,
    *     so this reader sets it itself); the raw nanos Long is converted via
    *     integer division (a double division would lose precision above
    *     2^53 ns).
    *   - timestamp[us] without TZ annotation: Spark reads TIMESTAMP_NTZ,
    *     which `unix_micros`/`withWatermark` reject; cast to TIMESTAMP is
    *     value-exact under the pinned UTC session timezone.
    *   - TIMESTAMP: passes through.
    * `EventsContractSpec` asserts the post-read type is TimestampType so a
    * future re-type fails loudly in `sbt test` rather than in downstream
    * queries.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ→TIMESTAMP cast below (and StreamingOps.ensureEventTime) is
    // value-exact ONLY under a UTC session timezone; a session built
    // without the pin would silently shift every instant. Self-set it
    // here (runtime SQL conf, same pattern as nanosAsLong) so the read
    // boundary doesn't depend on every entrypoint remembering the config.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
}
