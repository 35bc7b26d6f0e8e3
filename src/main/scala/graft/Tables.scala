package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
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
    * into child directories. Cost per lookup: a listing plus one 64-byte
    * pread per data file — still noise next to the ~70 ms footer read it
    * saves. Listed through the path's Hadoop `FileSystem`, so any scheme
    * the classpath can open works.
    */
  private def fingerprint(fs: FileSystem, files: Seq[FileStatus]): String =
    files.map(f =>
      s"${f.getPath}|${f.getModificationTime}|${f.getLen}|${tailSig(fs, f)}").mkString(",")

  private def tailSig(fs: FileSystem, f: FileStatus): Int = {
    val len = f.getLen
    if (len == 0) 0
    else {
      val buf = new Array[Byte](math.min(64L, len).toInt)
      val in = fs.open(f.getPath)
      try in.readFully(len - buf.length, buf) finally in.close()
      java.util.Arrays.hashCode(buf)
    }
  }

  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** The table's file system and data files (see [[dataFiles]]); throws
    * when the path cannot be listed.
    */
  private def listing(path: String): (FileSystem, Seq[FileStatus]) = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    (fs, dataFiles(fs, fs.getFileStatus(p)))
  }

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
    // an unlistable path leaves the error to the reader below
    val fp =
      try { val (fs, files) = listing(path); fingerprint(fs, files) }
      catch { case scala.util.control.NonFatal(_) => "" }
    perSession.compute(path, (_, old) =>
      if (old != null && old._1 == fp) old
      else (fp, spark.read.parquet(path)))._2
  }

  /** What the long-split gates read from a table's parquet FOOTERS,
    * host-side — zero Spark jobs (a footer read per part file, cached
    * under a fingerprint of the listing). The gates route on it (r19): a
    * sum that is provably int64-safe needs n and the value bound, and
    * launching a job to decide how to aggregate would cost more than the
    * decimal it replaces on single-aggregation queries.
    *
    * @param rows exact row count of the unfiltered table — callers gate
    *        on an UPPER bound of their group sizes, so any
    *        pre-aggregation filter only adds slack
    * @param absMax per column path, max |value| over every row group's
    *        min/max statistics; only plain (signed integer or floating)
    *        numeric columns whose every column chunk carries statistics
    */
  private final case class Footers(rows: Long, absMax: Map[String, Double])

  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Option[Footers])]()

  /** The table's [[Footers]], listed and read through the path's Hadoop
    * `FileSystem` (any scheme the classpath can open). None — no bound,
    * so every gate takes its exact path — when the path cannot be listed
    * or a footer opened, or a data file is not `*.parquet`. Partition
    * directories are counted too.
    */
  private def footers(dir: String, name: String): Option[Footers] =
    try {
      val path = s"$dir/$name.parquet"
      val (fs, files) = listing(path)
      val fp = fingerprint(fs, files)
      footerCache.compute(path, (_, old) =>
        if (old != null && old._1 == fp) old
        else if (!files.forall(_.getPath.getName.endsWith(".parquet"))) (fp, None)
        else (fp, Some(summarize(files.map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, hadoopConf))
          try r.getFooter finally r.close()
        }))))._2
    } catch { case scala.util.control.NonFatal(_) => None }

  private def summarize(meta: Seq[ParquetMetadata]): Footers = {
    import scala.jdk.CollectionConverters._
    val blocks = meta.flatMap(_.getBlocks.asScala)
    val bound = scala.collection.mutable.Map.empty[String, Option[Double]]
    for (b <- blocks; c <- b.getColumns.asScala) {
      val key = c.getPath.toDotString
      bound(key) = for (a <- bound.getOrElse(key, Some(0.0)); m <- chunkAbsMax(c))
        yield math.max(a, m)
    }
    Footers(blocks.map(_.getRowCount).sum,
      bound.collect { case (k, Some(m)) if !m.isNaN => k -> m }.toMap)
  }

  private def chunkAbsMax(c: ColumnChunkMetaData): Option[Double] = {
    val plain = c.getPrimitiveType.getLogicalTypeAnnotation match {
      case null => true
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
      case _ => false
    }
    val st = c.getStatistics
    if (!plain || st == null || st.isEmpty) None
    else if (!st.hasNonNullValue) Some(0.0) // an all-null chunk bounds nothing
    else (st.genericGetMin, st.genericGetMax) match {
      case (lo: java.lang.Number, hi: java.lang.Number) =>
        Some(math.max(math.abs(lo.doubleValue), math.abs(hi.doubleValue)))
      case _ => None
    }
  }

  /** Exact row count of the table from its footers (see [[footers]]);
    * `Long.MaxValue`, which fails every cap, when there is no bound.
    */
  def rowCount(dir: String, name: String): Long =
    footers(dir, name).fold(Long.MaxValue)(_.rows)

  /** max |value| of a numeric column from the footers' min/max
    * statistics (see [[footers]]); None when any row group lacks them.
    */
  def columnAbsMax(dir: String, name: String, column: String): Option[Double] =
    footers(dir, name).flatMap(_.absMax.get(column))

  /** The files Spark's reader takes as a table's data: `f` itself, or
    * every file below it, recursing into (partition) directories and
    * skipping hidden names — a leading `.`, or a leading `_` outside a
    * `col=value` directory name.
    */
  private def dataFiles(fs: FileSystem, f: FileStatus): Seq[FileStatus] =
    if (!f.isDirectory) Seq(f)
    else fs.listStatus(f.getPath).toSeq
      .filterNot { k =>
        val n = k.getPath.getName
        n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
      }
      .flatMap(dataFiles(fs, _))

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
