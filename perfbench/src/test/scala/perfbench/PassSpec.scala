package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A query pass over stand-in queries: error accounting and job
  * attribution, on a small local session. */
class PassSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private type Q = (SparkSession, String) => DataFrame
  private val good: Q = (s, _) => s.range(3).toDF("id")
  private val wrong: Q = (s, _) => s.range(4).toDF("id")
  private val boom: Q = (_, _) => throw new IllegalStateException("boom")
  private def fp(df: DataFrame) = Fingerprint.of(df.schema, df.collect().toSeq)

  private def mix(ops: (String, Q)*) = {
    val want = fp(good(spark, ""))
    new QueryMix("test", ops.map { case (n, q) => ("relational", n, q) },
      "unused", 7L, ops.map(_._1 -> want).toMap)
  }

  test("a throwing query and a wrong result each count once") {
    val m = mix("good" -> good, "wrong" -> wrong, "boom" -> boom)
    val ops = m.pass(spark, new Tracer(false, spark.sparkContext), 0)
    assert(ops.map(_.name).sorted == Seq("boom", "good", "wrong"))
    val failed = Ledger.settle(ops, m.expected(spark))
    assert(failed.size == 2)
    assert(failed.exists(_.startsWith("boom: threw IllegalStateException: boom")))
    assert(failed.exists(_.startsWith("wrong: got 4:")))
  }

  test("an operation with no recorded result fails") {
    assert(Ledger.check(Attempt("x", Right("1:a:b")), None).nonEmpty)
    assert(Ledger.check(Attempt("x", Right("1:a:b")), Some("1:a:b")).isEmpty)
  }

  test("a traced pass attributes each Spark job to the phase that started it") {
    val sc = spark.sparkContext
    val m = mix("good" -> good)
    val listener = new JobListener
    val tr = new Tracer(true, sc)
    sc.addSparkListener(listener)
    val failed = Ledger.settle(m.pass(spark, tr, 0), m.expected(spark))
    listener.fence(sc)
    sc.removeSparkListener(listener)
    assert(failed.isEmpty)
    val spans = tr.spans ++ listener.spans(tr)
    val action = spans.find(_.name == "action").get
    assert(spans.exists(s => s.name == "job" && s.parent == action.id))
    assert(spans.count(_.name == "query") == 1)
    assert(spans.count(_.name == "release") == 1)
    val layers = Layers.ofPass(spans, cores = 2)
    assert(layers("relational.jobs") >= 1.0)
    assert(layers("relational.action_s") > 0.0)
  }
}
