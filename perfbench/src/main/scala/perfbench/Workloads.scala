package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, SparkHygiene, Tables}
import graft.graph.{EdmondsKarp, MaxFlow}

/** The outcome of one operation: a summary of its result for the check,
  * or the error it threw. */
final case class Attempt(name: String, got: Either[String, String])

/** One operation of a pass as run: its wall time, and a thunk that
  * summarizes its result (called after the pass's clock has stopped), or
  * the error it threw. */
final case class Op(name: String, wallS: Double, got: Either[String, () => String])

object Op {
  def timed(name: String)(body: => Either[String, () => String]): Op = {
    val t0 = System.nanoTime()
    val got = body
    Op(name, (System.nanoTime() - t0) / 1e9, got)
  }
}

object Ledger {

  /** Why an operation failed, or None when it passed. A throw and a wrong
    * result each count as one failed operation. */
  def check(a: Attempt, want: Option[String]): Option[String] = a.got match {
    case Left(err)                    => Some(s"${a.name}: threw $err")
    case Right(g) if want.contains(g) => None
    case Right(g) => Some(s"${a.name}: got $g, want ${want.getOrElse("nothing recorded")}")
  }

  /** Summarizes and checks every operation of a pass; returns one
    * message per failed operation. */
  def settle(ops: Seq[Op], want: Map[String, String]): Seq[String] =
    ops.flatMap { op =>
      val summary = op.got.flatMap(f =>
        try Right(f()) catch { case e: Exception => Left(errorText(e)) })
      check(Attempt(op.name, summary), want.get(op.name))
    }

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}

/** One benchmark workload. `input` is timed as set-up; `expected` runs
  * after set-up and is timed nowhere; `warmup` calls every operation
  * before timing, so code generation and most JIT compilation are done;
  * `pass` is the timed work, and `index` numbers the passes of a run. */
trait Workload {
  def name: String
  def input(spark: SparkSession): Unit
  def expected(spark: SparkSession): Map[String, String]
  def pass(spark: SparkSession, tr: Tracer, index: Int): Seq[Op]
  /** Two passes: JIT compilation keeps speeding up the second. */
  def warmup(spark: SparkSession, tr: Tracer): Seq[Op] =
    pass(spark, tr, 0) ++ pass(spark, tr, 1)
}

/** Exact max-flow on seeded small-world rings through the default engine.
  * A pass solves `instances` problems, each on its own ring
  * (`graft.ScaleProbe.edgesFor`, generated by the executors from vertex
  * and ring seed, so nothing is shipped). Each problem's 8 sources and 8
  * sinks alternate, evenly spaced around the ring from a seeded start, so
  * instances differ in their rewired edges and capacities rather than in
  * how close their terminals happen to fall. The run's seed draws every
  * ring seed and start. */
final class MaxFlowSmallWorld(n: Int, instances: Int, seed: Long) extends Workload {
  val name = "maxflow_smallworld"
  private val (k, rewireP, maxC) = (4, 0.1, 10)
  private val problems: Seq[(Long, Seq[Long], Seq[Long])] = {
    val rng = new Random(seed)
    Seq.fill(instances) {
      val ring = rng.nextLong()
      val at = rng.nextInt(n)
      def vertex(pos: Int) = 10L + (at + pos) % n
      (ring, (0 until 8).map(i => vertex(i * n / 8)),
        (0 until 8).map(i => vertex(i * n / 8 + n / 16)))
    }
  }
  private var edges: Seq[DataFrame] = Nil

  def input(spark: SparkSession): Unit = {
    import spark.implicits._
    val (nn, kk, rw, mc) = (n, k, rewireP, maxC)
    edges = problems.map { case (ring, _, _) =>
      val e = spark.range(0L, n.toLong)
        .flatMap(i => graft.ScaleProbe.edgesFor(i, nn, kk, rw, mc, ring))
        .toDF("src", "dst", "cap")
      require(e.count() > 0, "empty graph")
      e
    }
  }

  def expected(spark: SparkSession): Map[String, String] =
    problems.zipWithIndex.map { case ((ring, src, snk), d) =>
      val graph = graft.ScaleProbe.smallWorld(n, k, rewireP, maxC, ring)
      s"maxflow-$d" -> summary(EdmondsKarp.maxFlow(graph, src, snk), conserved = true)
    }.toMap

  private def summary(flow: Long, conserved: Boolean) =
    s"flow=$flow conserved=$conserved"

  /** Two instances: the first call compiles the engine's code, and the
    * JIT is still catching up during the second. */
  override def warmup(spark: SparkSession, tr: Tracer): Seq[Op] =
    (0 until 2).map(solve(spark, tr, _))

  def pass(spark: SparkSession, tr: Tracer, index: Int): Seq[Op] =
    problems.indices.map(solve(spark, tr, _))

  private def solve(spark: SparkSession, tr: Tracer, d: Int): Op = {
    val (_, sources, sinks) = problems(d)
    Op.timed(s"maxflow-$d") {
      val got = tr.span("maxflow.run", "maxflow", jobs = true) { id =>
        try {
          val r = MaxFlow.run(spark, edges(d), sources, sinks)
          val rep = r.rounds_report
          tr.note(id, "rounds" -> r.rounds.toDouble, "flow" -> r.flow.toDouble,
            "engine_flow" -> r.engineFlow.toDouble,
            "extensions" -> rep.map(_.moves).sum.toDouble,
            "dropped_paths" -> rep.map(c => c.dropS + c.dropT).sum.toDouble,
            "accepted_paths" -> rep.map(_.acceptedPaths).sum.toDouble,
            "candidates" -> rep.map(_.candidates).sum.toDouble)
          Right(() => summary(r.flow,
            graft.sources.StateIO.conservationHolds(r.assignment, r.flow)))
        } catch { case e: Exception => Left(Ledger.errorText(e)) }
      }
      tr.span("release", "maxflow", jobs = true)(_ => SparkHygiene.clearSessionCaches(spark))
      got
    }
  }
}

/** Full results of a fixed query set over the committed tables; the seed
  * and the pass index only shuffle the order of the queries. Each result
  * is collected in full, the rows and columns a caller gets back, and
  * checked against a fingerprint recorded from the unmodified library. */
final class QueryMix(val name: String,
    queries: Seq[(String, String, (SparkSession, String) => DataFrame)],
    dataDir: String, seed: Long, fingerprints: Map[String, String])
    extends Workload {

  /** Opens every table (schema from the parquet footer); the queries read
    * the data themselves. */
  def input(spark: SparkSession): Unit =
    Tables.names.foreach(t => require(Tables.load(spark, dataDir, t).schema.nonEmpty, t))

  def expected(spark: SparkSession): Map[String, String] = fingerprints

  def pass(spark: SparkSession, tr: Tracer, index: Int): Seq[Op] =
    new Random(seed * 1000003L + index).shuffle(queries).map { case (family, q, fn) =>
      val label = s"$family/$q"
      Op.timed(q)(tr.span("query", label) { id =>
        try {
          val df = tr.span("construct", label, id, jobs = true)(_ => fn(spark, dataDir))
          val rows: Array[Row] = tr.span("action", label, id, jobs = true) { a =>
            val rs = df.collect()
            if (tr.enabled) tr.note(a, "storage_mb" -> storageMb(spark))
            rs
          }
          val schema: StructType = df.schema
          Right(() => Fingerprint.of(schema, rows.toSeq))
        } catch { case e: Exception => Left(Ledger.errorText(e)) }
        finally tr.span("release", label, id, jobs = true)(_ =>
          SparkHygiene.clearSessionCaches(spark))
      })
    }

  /** Block-manager memory in use (cached and checkpointed blocks). */
  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / (1024.0 * 1024.0)
}

object Workloads {

  /** queries_iterative: eager loops, checkpoints and codebook training
    * run while the DataFrame is built. */
  val iterative: Seq[(String, String)] = Seq(
    "graph" -> "q16_maxflow", "graph" -> "q53_coreness", "graph" -> "q60_anf",
    "similarity" -> "ss_lsh_ann", "dedup" -> "dd_minhash_est")

  /** queries_onepass: each query is one lazy plan; the time is scan,
    * codegen, window and shuffle work. One or two queries per family. */
  val onepass: Seq[(String, String)] = Seq(
    "relational" -> "q5_join", "relational" -> "q28_window_frames",
    "graph" -> "q49_degdist", "textanalysis" -> "ta_fingerprint",
    "dedup" -> "dd_despan", "similarity" -> "ss_bq_topk",
    "sessionize" -> "ev_sessionize", "multimodal" -> "mm_decode_real",
    "pipeline" -> "ds_dropout")

  val names: Seq[String] = Seq("maxflow_smallworld", "queries_iterative", "queries_onepass")

  /** Vertices of each max-flow ring, and max-flow instances per pass. */
  val MaxFlowVertices = 2000
  val MaxFlowInstances = 4

  private def resolve(qs: Seq[(String, String)]) = {
    val all = SparkEntry.queries
    val missing = qs.map(_._2).filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    qs.map { case (f, q) => (f, q, all(q)) }
  }

  def apply(name: String, seed: Long, dataDir: String,
            fingerprints: Map[String, String]): Workload = name match {
    case "maxflow_smallworld" => new MaxFlowSmallWorld(MaxFlowVertices, MaxFlowInstances, seed)
    case "queries_iterative"  => new QueryMix(name, resolve(iterative), dataDir, seed, fingerprints)
    case "queries_onepass"    => new QueryMix(name, resolve(onepass), dataDir, seed, fingerprints)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }
}
