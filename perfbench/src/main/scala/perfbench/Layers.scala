package perfbench

/** Per-layer metrics of one traced pass, computed from its spans.
  *
  * Query spans are labelled "family/query" and have construct, action and
  * release children; Spark jobs are children of the phase span that was
  * open when they started. A `maxflow.run` span wraps one
  * `graft.graph.MaxFlow.run` call and carries the result's round report as
  * attributes.
  */
object Layers {

  val families: Seq[String] = Seq("relational", "graph", "textanalysis",
    "dedup", "similarity", "sessionize", "multimodal", "pipeline")

  val familyMetrics: Seq[String] = Seq("construct_s", "action_s", "driver_s",
    "jobs", "executor_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
    "core_util")

  val maxflowMetrics: Seq[String] = Seq("rounds", "jobs", "job_s", "driver_s",
    "shuffle_write_mb", "shuffle_mb_per_round", "executor_cpu_s", "gc_s",
    "core_util", "extensions", "dropped_paths", "accept_ratio",
    "engine_flow_share")

  val setupMetrics: Seq[String] = Seq("session_s", "warmup_s", "input_s")

  /** Every per-layer metric name, in report order. */
  val names: Seq[String] =
    setupMetrics.map("setup." + _) ++ maxflowMetrics.map("maxflow." + _) ++
      families.flatMap(f => familyMetrics.map(m => s"$f.$m")) ++
      Seq("caches.release_s", "caches.storage_peak_mb")

  private val MB = 1024.0 * 1024.0
  private def s(ns: Long): Double = ns / 1e9
  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Metrics of one pass. Families and layers the pass did not touch read
    * 0. `cores` is the session's task slots. */
  def ofPass(spans: Seq[Span], cores: Int): Map[String, Double] = {
    val kids = spans.groupBy(_.parent).withDefaultValue(Seq.empty)
    def jobsOf(p: Span) = kids(p.id).filter(_.name == "job")
    def sumJobs(ps: Seq[Span], key: String) =
      ps.flatMap(jobsOf).map(_.attrs.getOrElse(key, 0.0)).sum

    val phases = spans.filter(p => p.name == "construct" || p.name == "action")
    val byFamily = phases.groupBy(_.label.takeWhile(_ != '/'))
    val familyOut = families.flatMap { f =>
      val ps = byFamily.getOrElse(f, Seq.empty)
      val wall = s(ps.map(_.dur).sum)
      Seq(
        "construct_s" -> s(ps.filter(_.name == "construct").map(_.dur).sum),
        "action_s" -> s(ps.filter(_.name == "action").map(_.dur).sum),
        "driver_s" -> s(ps.map(p => Span.selfTime(p, jobsOf(p))).sum),
        "jobs" -> ps.map(jobsOf(_).size).sum.toDouble,
        "executor_cpu_s" -> sumJobs(ps, "cpu_ns") / 1e9,
        "gc_s" -> ps.map(_.attrs.getOrElse("gc_ms", 0.0)).sum / 1e3,
        "shuffle_write_mb" -> sumJobs(ps, "shuffle_write_bytes") / MB,
        "spill_mb" -> sumJobs(ps, "spill_bytes") / MB,
        "core_util" -> ratio(sumJobs(ps, "run_ms") / 1e3, wall * cores)
      ).map { case (k, v) => s"$f.$k" -> v }
    }

    val mf = spans.filter(_.name == "maxflow.run")
    def attr(k: String) = mf.map(_.attrs.getOrElse(k, 0.0)).sum
    val mfWall = s(mf.map(_.dur).sum)
    val mfJobS = s(mf.map(p => p.dur - Span.selfTime(p, jobsOf(p))).sum)
    val shuffleMb = sumJobs(mf, "shuffle_write_bytes") / MB
    val maxflowOut = Seq(
      "rounds" -> attr("rounds"),
      "jobs" -> mf.map(jobsOf(_).size).sum.toDouble,
      "job_s" -> mfJobS,
      "driver_s" -> (mfWall - mfJobS),
      "shuffle_write_mb" -> shuffleMb,
      "shuffle_mb_per_round" -> ratio(shuffleMb, attr("rounds")),
      "executor_cpu_s" -> sumJobs(mf, "cpu_ns") / 1e9,
      "gc_s" -> attr("gc_ms") / 1e3,
      "core_util" -> ratio(sumJobs(mf, "run_ms") / 1e3, mfWall * cores),
      "extensions" -> attr("extensions"),
      "dropped_paths" -> attr("dropped_paths"),
      "accept_ratio" -> ratio(attr("accepted_paths"), attr("candidates")),
      "engine_flow_share" -> ratio(attr("engine_flow"), attr("flow"))
    ).map { case (k, v) => s"maxflow.$k" -> v }

    val releases = spans.filter(_.name == "release")
    val cachesOut = Seq(
      "caches.release_s" -> s(releases.map(_.dur).sum),
      "caches.storage_peak_mb" ->
        (0.0 +: spans.flatMap(_.attrs.get("storage_mb"))).max)

    (familyOut ++ maxflowOut ++ cachesOut).toMap
  }
}
