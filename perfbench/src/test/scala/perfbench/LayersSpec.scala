package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {
  private val S = 1000000000L
  private val MiB = 1024.0 * 1024.0

  private def job(id: Long, parent: Long, from: Double, to: Double,
                  runMs: Double, shuffleMb: Double = 0.0) =
    Span(-id, parent, "job", parent.toString, (from * S).toLong, (to * S).toLong,
      Map("run_ms" -> runMs, "cpu_ns" -> runMs * 5e5,
        "shuffle_write_bytes" -> shuffleMb * MiB, "spill_bytes" -> 0.0))

  test("covered counts overlapping intervals once and clips to the parent") {
    assert(Span.covered(0, 10, Seq((1L, 3L), (2L, 5L), (8L, 12L), (-4L, -1L))) == 6)
    assert(Span.covered(0, 10, Seq.empty) == 0)
    assert(Span.covered(0, 10, Seq((0L, 20L), (3L, 4L))) == 10)
  }

  test("self time subtracts the union of the children, not their sum") {
    val p = Span(1, 0, "action", "graph/q", 4 * S, 10 * S)
    val kids = Seq(job(2, 1, 5, 8, 0), job(3, 1, 7, 12, 0))
    assert(Span.selfTime(p, kids) == 1 * S) // 6 s minus [5, 10)
  }

  test("family and cache metrics of a synthetic query pass") {
    val spans = Seq(
      Span(1, 0, "query", "graph/q1", 0, (10.5 * S).toLong),
      Span(2, 1, "construct", "graph/q1", 0, 4 * S, Map("gc_ms" -> 100.0)),
      Span(3, 1, "action", "graph/q1", 4 * S, 10 * S,
        Map("gc_ms" -> 50.0, "storage_mb" -> 12.0)),
      Span(4, 1, "release", "graph/q1", 10 * S, (10.5 * S).toLong),
      job(11, 2, 1, 3, 4000, shuffleMb = 1.0),
      job(12, 3, 5, 8, 2000),
      job(13, 3, 7, 12, 6000, shuffleMb = 2.0))
    val m = Layers.ofPass(spans, cores = 4)
    assert(m("graph.construct_s") == 4.0)
    assert(m("graph.action_s") == 6.0)
    assert(m("graph.driver_s") == 3.0) // 4 - 2 in construct, 6 - 5 in action
    assert(m("graph.jobs") == 3.0)
    assert(m("graph.core_util") == 0.3) // 12 s of task time / (10 s x 4 cores)
    assert(math.abs(m("graph.executor_cpu_s") - 6.0) < 1e-9)
    assert(math.abs(m("graph.gc_s") - 0.15) < 1e-9)
    assert(m("graph.shuffle_write_mb") == 3.0)
    assert(m("caches.release_s") == 0.5)
    assert(m("caches.storage_peak_mb") == 12.0)
    assert(m("relational.construct_s") == 0.0 && m("maxflow.rounds") == 0.0)
    assert(Layers.names.filterNot(_.startsWith("setup.")).toSet == m.keySet)
  }

  test("max-flow metrics come from the run span, its jobs and its round report") {
    val spans = Seq(
      Span(1, 0, "maxflow.run", "maxflow", 20 * S, 30 * S,
        Map("rounds" -> 4.0, "flow" -> 8.0, "engine_flow" -> 6.0,
          "accepted_paths" -> 3.0, "candidates" -> 12.0, "extensions" -> 40.0,
          "dropped_paths" -> 7.0, "gc_ms" -> 0.0)),
      job(11, 1, 21, 25, 8000, shuffleMb = 5.0),
      job(12, 1, 24, 26, 2000, shuffleMb = 3.0))
    val m = Layers.ofPass(spans, cores = 2)
    assert(m("maxflow.job_s") == 5.0)
    assert(m("maxflow.driver_s") == 5.0)
    assert(m("maxflow.jobs") == 2.0)
    assert(m("maxflow.shuffle_mb_per_round") == 2.0)
    assert(m("maxflow.core_util") == 0.5)
    assert(m("maxflow.accept_ratio") == 0.25)
    assert(m("maxflow.engine_flow_share") == 0.75)
    assert(m("maxflow.extensions") == 40.0 && m("maxflow.dropped_paths") == 7.0)
  }
}
