package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract guards: a dangling oracle key or an empty query map
  * would silently weaken the correctness gate.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("every oracleSql key has a matching queries entry") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracle without query: $dangling")
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty, s"query without oracle: $unoracled")
  }

  test("query names are unique across modules (no silent map overwrites)") {
    val all = Seq(
      relational.Relational.queries, graph.GraphQueries.queries,
      ops.TextAnalysis.queries, ops.Dedup.queries, ops.Similarity.queries,
      ops.Sessionize.queries, ops.Multimodal.queries, ops.AsOf.queries,
      ops.Pipeline.queries)
    val names = all.flatMap(_.keys)
    assert(names.distinct.size == names.size,
      s"duplicates: ${names.groupBy(identity).filter(_._2.size > 1).keys}")
    assert(SparkEntry.queries.size == names.size)
  }

  test("entry flagship returns rows on sf0.001 (driver smoke)") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }
}
