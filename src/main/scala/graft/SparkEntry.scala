package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** The driver contract (SURVEY.md §7): the flagship `entry`, and every
  * declared query with its DuckDB oracle, both derived from one registry
  * of [[graft.queries.QuerySpec]]s kept by family under `graft.queries`.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Brute-force k-NN of the first 4 embedding vectors against the whole
    * embeddings table (squared L2, top-5) — the reference's core query.
    */
  def entry(spark: SparkSession): DataFrame =
    QueryHelpers.knnL2(spark, "/root/testdata/sf0.001", nq = 4, k = 5)

  private val registry: Seq[QuerySpec] =
    RelationalQueries.specs ++ StatisticsQueries.specs ++ VectorQueries.specs ++
      DedupQueries.specs ++ TextQueries.specs ++ GraphQueries.specs ++
      MultimodalQueries.specs ++ QualityQueries.specs

  private val duplicated = registry.groupBy(_.name).collect {
    case (name, specs) if specs.size > 1 => name
  }
  require(duplicated.isEmpty,
    s"query names declared more than once: ${duplicated.toSeq.sorted.mkString(", ")}")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap
}
