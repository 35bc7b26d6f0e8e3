package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its Spark plan over a scale-factor directory, and
  * the ANSI SQL that DuckDB runs over the same parquet tables and that
  * must return the same rows.
  *
  * Conventions that make the DuckDB-oracle hash compare deterministic:
  *  - money-like double sums go through an exact DECIMAL(18,2) cast (sum of
  *    decimals is order-independent), then back to DOUBLE — both engines
  *    produce the identical rational, hence identical double bits;
  *  - free-double sums are rounded after an exact-decimal sum as well;
  *  - every computed column is aliased identically in Spark and SQL;
  *  - every query ends in a total ORDER BY;
  *  - ranks use row_number with explicit (key, tiebreak) ordering, cast to
  *    BIGINT to match DuckDB's row_number type.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String)
