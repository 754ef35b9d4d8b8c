package graft

import graft.sources.StateIO
import org.apache.spark.sql.SparkSession

/** Dev tool: durable-resume at the engine's design point (VERDICT r5
  * "next" #5) — S7 exercised by an actual kill, not a maxRounds stop.
  * Three modes over the SAME instance (ScaleProbe's small-world generator
  * and terminal pick, so every mode solves an identical graph):
  *
  *  - `full <n>`             — uninterrupted run; prints the flow
  *                             (the oracle for the other two modes).
  *  - `run <n> <stateDir>`   — run with round-tagged checkpoints
  *                             every 3 rounds; the HARNESS kill -9s this
  *                             JVM mid-flight.
  *  - `resume <stateDir> <wantTotal>` — audits the newest complete
  *                             checkpoint (flow already routed = net
  *                             supersource outflow in the state), resumes,
  *                             and requires routed + resumed == wantTotal,
  *                             resumed-assignment conservation, and
  *                             round-index continuity (first resumed round
  *                             > checkpoint round).
  *
  * `sbt "runMain graft.MfResumeProbe <mode> ..."`; not part of the driver
  * contract.
  */
object MfResumeProbe {

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def buildGraph(spark: SparkSession, n: Int) = {
    import spark.implicits._
    val (k, rewireP, maxC, seed) = (4, 0.1, 10, 7L)
    val df = spark.range(0L, n.toLong)
      .flatMap(ScaleProbe.edgesFor(_, n, k, rewireP, maxC, seed))
      .toDF("src", "dst", "cap").persist()
    df.count()
    df
  }

  def main(args: Array[String]): Unit = {
    args.toList match {
      case "full" :: ns :: Nil =>
        val n = ns.toInt
        val spark = session()
        val (sources, sinks) = ScaleProbe.terminals(n)
        val t0 = System.nanoTime()
        val r = graft.graph.MaxFlow.run(spark, buildGraph(spark, n), sources, sinks)
        require(StateIO.conservationHolds(r.assignment, r.flow),
          "full-run conservation violated")
        println(f"RESUMEPROBE full flow=${r.flow} rounds=${r.rounds} " +
          f"t=${(System.nanoTime() - t0) / 1e9}%.1f s")
        spark.stop()

      case "run" :: ns :: dir :: Nil =>
        val n = ns.toInt
        val spark = session()
        val (sources, sinks) = ScaleProbe.terminals(n)
        // sbt forks this JVM via an @argfile, so the class name is invisible
        // to pkill/proc-scans — publish our own pid for the kill harness
        java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/mfresume.pid"),
          ProcessHandle.current().pid().toString.getBytes("UTF-8"))
        println(s"RESUMEPROBE run started n=$n stateDir=$dir (kill me mid-flight)")
        val r = graft.graph.MaxFlow.run(spark, buildGraph(spark, n),
          sources, sinks,
          graft.graph.MaxFlow.Config(stateDir = Some(dir), checkpointEvery = 3))
        // only reached if the harness failed to kill in time
        println(s"RESUMEPROBE run finished uninterrupted flow=${r.flow}")
        spark.stop()

      case "resume" :: dir :: want :: Nil =>
        val spark = session()
        val ckRound = StateIO.latestRound(spark, dir)
          .getOrElse(sys.error(s"no complete round checkpoint under $dir"))
        // flow already routed at the checkpoint = net supersource outflow
        // recorded in the durable state itself
        val routed = StateIO.readState(spark, StateIO.roundDir(dir, ckRound))
          .filter(_.id == graft.graph.GraphModel.SuperSource)
          .head().adj.map(_.flow).sum
        val t0 = System.nanoTime()
        val r = graft.graph.MaxFlow.resume(spark, dir)
        val dt = (System.nanoTime() - t0) / 1e9
        val conserved = StateIO.conservationHolds(r.assignment, r.flow)
        val firstRound = r.rounds_report.headOption.map(_.round).getOrElse(-1)
        println(f"RESUMEPROBE resume ckRound=$ckRound routed=$routed " +
          f"resumed=${r.flow} total=${routed + r.flow} want=$want " +
          f"firstResumedRound=$firstRound rounds=${r.rounds} t=$dt%.1f s " +
          f"conserved=$conserved")
        require(conserved, "resumed-run conservation violated")
        require(firstRound == ckRound + 1,
          s"round-index continuity broken: $firstRound after $ckRound")
        require(routed + r.flow == want.toLong,
          s"flow mismatch: $routed + ${r.flow} != $want")
        println("RESUMEPROBE resume OK")
        spark.stop()

      case other =>
        sys.error(s"usage: full <n> | run <n> <stateDir> | " +
          s"resume <stateDir> <wantTotal>; got $other")
    }
  }
}
