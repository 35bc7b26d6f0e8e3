package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Prints the formatted plan of each query named on the command line, or
  * of every registered query in name order when none is named. What
  * changes between runs of one commit, or with a source line, is masked
  * (expression and plan ids, RDD ids, lambda classes, object hash codes,
  * temporary paths, `at File.scala:N` call sites), so the output of two
  * commits diffs to the queries whose plans differ:
  * `sbt "runMain graft.tools.Plans" > a.txt`, then `diff a.txt b.txt`.
  * Two plans stay unstable: Spark's distinct-aggregate rewrite orders
  * the `Expand` projections of a query with several DISTINCT aggregates
  * by expression hash, and the hash holds the expression ids, so
  * q_events_retention and q_profile can differ between two runs of one
  * commit.
  */
object Plans {
  private val masks = Seq(
    "#\\d+" -> "#N",
    "plan_id=\\d+" -> "plan_id=N",
    "(RDD|Relation|Exec|Stage)\\[\\d+\\]" -> "$1[N]",
    "\\$Lambda\\$\\d+/0x[0-9a-f]+" -> "\\$Lambda",
    "@[0-9a-f]{4,}" -> "@H",
    "([A-Za-z_])\\d{10,}" -> "$1N",
    "at \\w+\\.scala:\\d+" -> "at F.scala:N")

  def mask(plan: String): String =
    masks.foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      println(s"========== $name ==========")
      println(mask(graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(FormattedMode)))
    }
    spark.stop()
  }
}
