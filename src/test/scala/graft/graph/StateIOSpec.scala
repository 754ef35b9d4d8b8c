package graft.graph

import graft.TestSpark
import graft.sources.{GraphSources, StateIO}
import org.scalatest.funsuite.AnyFunSuite

class StateIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  test("round-state parquet write/read round-trips (S4/S7)") {
    val (edges, sources, sinks) = GraphSources.readDimacs(spark, fixture("clrs.dimacs"))
    val state = GraphBuilder.buildState(spark, edges, sources, sinks)
    val dir = java.nio.file.Files.createTempDirectory("state").toString + "/round0"
    StateIO.writeState(state, dir, parts = 4)
    val back = StateIO.readState(spark, dir)
    val a = state.collect().map(v => v.id -> v.adj.sortBy(_.nbr).toSeq).toMap
    val b = back.collect().map(v => v.id -> v.adj.sortBy(_.nbr).toSeq).toMap
    assert(a == b)
    assert(StateIO.dumpState(spark, dir, 3).count() == 3)
  }

  test("flowpaths text sink matches ff1 format; conservation audit (S9)") {
    val (edges, sources, sinks) = GraphSources.readDimacs(spark, fixture("clrs.dimacs"))
    val r = MaxFlow.run(spark, edges, sources, sinks)
    assert(r.paths.map(_._2).sum == r.flow)
    assert(StateIO.conservationHolds(r.assignment, r.flow))
    val dir = java.nio.file.Files.createTempDirectory("paths").toString + "/fp"
    StateIO.writeFlowPaths(spark, r.paths, dir)
    val lines = spark.read.text(dir).collect().map(_.getString(0))
    assert(lines.length == r.paths.length)
    assert(lines.forall(_.matches("""-?\d+(:-?\d+)+=\d+""")))
    assert(lines.forall(l => l.startsWith("1:") && l.contains(":2=")))
    val flows = StateIO.flowsToDf(spark, r.assignment)
    assert(flows.columns.toSeq == Seq("u", "v", "f") && flows.count() > 0)
  }

  test("degree-based terminal selection (T11)") {
    import spark.implicits._
    // star around hub 100 (degree 30) + chain of low-degree vertices
    val star = (1L to 30L).flatMap(i => Seq((100L, 200L + i), (200L + i, 100L)))
    val hub2 = (1L to 25L).flatMap(i => Seq((101L, 300L + i), (300L + i, 101L)))
    val edges = (star ++ hub2).toDF("src", "dst")
    val pool = TerminalSelection.candidatePool(spark, edges, minDegree = 20L,
      poolSize = 10, seed = 7L)
    assert(pool.toSet == Set(100L, 101L))
    val (s, t) = TerminalSelection.pickSourcesAndSinks(pool, 1, seed = 7L)
    assert(s.size == 1 && t.size == 1 && s.head != t.head)
  }

  test("round-state checkpoint + resume reaches the exact flow (S7 restart)") {
    val (edges, sources, sinks) = GraphSources.readDimacs(spark, fixture("clrs.dimacs"))
    // checkpointEvery = 5 > maxRounds: the maxRounds stop is on no
    // multiple of it, so only the exit-round write can make it durable
    for (every <- Seq(1, 5)) {
      val dir = java.nio.file.Files.createTempDirectory("resume").toString + "/rounds"
      // cut the first run short, no cleanup: it must leave flow on the table
      val first = MaxFlow.run(spark, edges, sources, sinks,
        MaxFlow.Config(maxRounds = 2, exactCleanup = false,
          stateDir = Some(dir), checkpointEvery = every))
      assert(first.flow < 23L)
      // round-tagged layout: checkpoints land in round-<i>/ dirs (kill-safe —
      // a crash mid-write can never destroy the previous complete round),
      // pruned to the newest 2
      assert(StateIO.latestRound(spark, dir).contains(2), s"checkpointEvery=$every")
      val rest = MaxFlow.resume(spark, dir)
      assert(first.flow + rest.flow == 23L,
        s"checkpointEvery=$every first=${first.flow} rest=${rest.flow}")
      // round-index continuity: the resumed loop continues the reference's
      // round numbering from the checkpoint instead of restarting at 1
      assert(rest.rounds_report.head.round == first.rounds_report.last.round + 1)
      assert(rest.rounds == rest.rounds_report.last.round)
    }
  }

  test("cleanup flow reaches the durable checkpoint (resume sees a quiescent graph)") {
    val (edges, sources, sinks) = GraphSources.readDimacs(spark, fixture("clrs.dimacs"))
    val dir = java.nio.file.Files.createTempDirectory("resume-clean").toString + "/rounds"
    // stop the loop early so the exactness cleanup carries real flow, with
    // checkpoints on: the post-cleanup state must reach a durable round dir
    val first = MaxFlow.run(spark, edges, sources, sinks,
      MaxFlow.Config(maxRounds = 2, stateDir = Some(dir), checkpointEvery = 1))
    assert(first.flow == 23L && first.cleanupFlow > 0L)
    // the cleanup state lands in a NEW round dir (round+1) — never an
    // in-place overwrite of the newest complete checkpoint
    assert(StateIO.latestRound(spark, dir).exists(_ > first.rounds),
      s"latest=${StateIO.latestRound(spark, dir)} rounds=${first.rounds}")
    val rest = MaxFlow.resume(spark, dir)
    assert(rest.flow == 0L,
      s"checkpoint missing cleanup flow: resume re-found ${rest.flow}")
  }

  test("distributed-fallback cleanup also reaches the durable checkpoint") {
    val (edges, sources, sinks) = GraphSources.readDimacs(spark, fixture("clrs.dimacs"))
    val dir = java.nio.file.Files.createTempDirectory("resume-fb").toString + "/rounds"
    // driverCleanupMaxEdges = 0 forces the distributed BFS fallback; it
    // must honor the same durable contract as the driver-side path
    val first = MaxFlow.run(spark, edges, sources, sinks,
      MaxFlow.Config(maxRounds = 2, stateDir = Some(dir), checkpointEvery = 1,
        driverCleanupMaxEdges = 0L))
    assert(first.flow == 23L && first.cleanupFlow > 0L)
    // the cleanup state lands in a NEW round dir (round+1) — never an
    // in-place overwrite of the newest complete checkpoint
    assert(StateIO.latestRound(spark, dir).exists(_ > first.rounds),
      s"latest=${StateIO.latestRound(spark, dir)} rounds=${first.rounds}")
    val rest = MaxFlow.resume(spark, dir)
    assert(rest.flow == 0L,
      s"fallback checkpoint missing cleanup flow: resume re-found ${rest.flow}")
  }

  test("random-K truncation (A6) stays exact (oracle equality)") {
    val edges = EdmondsKarp.randomGraph(n = 10, edgeProb = 0.3, maxCap = 8, seed = 5)
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    import spark.implicits._
    val df = edges.toDF("src", "dst", "cap")
    val want = EdmondsKarp.maxFlow(edges, Seq(ids.head), Seq(ids.last))
    val got = MaxFlow.run(spark, df, Seq(ids.head), Seq(ids.last),
      MaxFlow.Config(truncation = "random", excessListMax = 4))
    assert(got.flow == want)
  }
}
