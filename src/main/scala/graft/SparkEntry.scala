package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of every implemented operator surface:
  *   - relational substrate (SURVEY §2.7, graft.relational.Relational)
  *   - graph algorithms (BFS / max-flow, graft.graph)
  *   - training-data pipeline ops (dedup / similarity / text, graft.ops)
  * Every key has a DuckDB-equivalent SQL in `oracleSql`, and every oracle
  * names a query (SparkEntrySpec checks both directions). Operators that
  * are iterative fixpoints or approximate by contract carry a
  * fixture-keyed literal (q16_maxflow) or a banded oracle (q20).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    relational.Relational.q10_multi_join(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    relational.Relational.queries ++ graph.GraphQueries.queries ++
      ops.TextAnalysis.queries ++ ops.Dedup.queries ++
      ops.Similarity.queries ++ ops.Sessionize.queries ++
      ops.Multimodal.queries ++ ops.AsOf.queries ++ ops.Pipeline.queries

  def oracleSql: Map[String, String] =
    relational.Relational.oracleSql ++ graph.GraphQueries.oracleSql ++
      ops.TextAnalysis.oracleSql ++ ops.Dedup.oracleSql ++
      ops.Similarity.oracleSql ++ ops.Sessionize.oracleSql ++
      ops.Multimodal.oracleSql ++ ops.AsOf.oracleSql ++ ops.Pipeline.oracleSql
}
