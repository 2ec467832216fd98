package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-area query suites; every key has a DuckDB oracle in
  * `oracleSql` unless the operator is not SQL-expressible (driver then
  * records a rows-only check).
  */
object SparkEntry {

  private def suites: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (graft.queries.SparqlSuite.queries, graft.queries.SparqlSuite.oracleSql),
      (graft.queries.WatDivSuite.queries, graft.queries.WatDivSuite.oracleSql),
      (graft.queries.PipelineSuite.queries, graft.queries.PipelineSuite.oracleSql),
      (graft.queries.ReasonerSuite.queries, graft.queries.ReasonerSuite.oracleSql),
      (graft.queries.StreamSuite.queries, graft.queries.StreamSuite.oracleSql),
      (graft.queries.RelationalSuite.queries, graft.queries.RelationalSuite.oracleSql),
      (graft.queries.MlSuite.queries, graft.queries.MlSuite.oracleSql),
      (graft.queries.ProbSuite.queries, graft.queries.ProbSuite.oracleSql),
      (graft.queries.RdfIOSuite.queries, graft.queries.RdfIOSuite.oracleSql))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * a SPARQL BGP join through the full parser→compiler→Catalyst path. */
  def entry(spark: SparkSession): DataFrame =
    queries("sparql_bgp_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    suites.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    suites.map(_._2).reduce(_ ++ _)

  /** Runs `body` under the Spark job group `graft-<surface>-<entry>`,
    * described by the entry's name, and clears it afterwards: every job a
    * Verify or Bench entry starts can be attributed to the entry and
    * cancelled with `cancelJobGroup`. */
  def inEntryGroup[T](spark: SparkSession, surface: String, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"graft-$surface-$name", name, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}
