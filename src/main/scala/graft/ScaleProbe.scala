package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev tool: stress the max-flow engine on a synthetic small-world graph
  * (the reference's target topology — run:42's 5.1M-vertex fb crawl scaled
  * down) with SHUFFLE-BYTES accounting — the measurement the schimmy
  * superstep exists to win (topology never shuffled, only deltas).
  * Not part of the driver contract; run with
  * `sbt "runMain graft.ScaleProbe [nVertices]"` (SPARK_DRIVER_MEM=32g and
  * SPARK_GRAFT_CPUS=32 recommended at 1M vertices).
  *
  * Exactness: for n ≤ SCALE_ORACLE_CAP (default 200k) the flow is checked
  * against the in-memory Edmonds-Karp oracle; above that the oracle BFS
  * sweep itself dominates, so the certificate is flow conservation on the
  * assignment alone.
  */
object ScaleProbe {

  /** Edges contributed by ring position i — a pure function of (i, seed),
    * so the driver (oracle) and the executors (DataFrame) generate the
    * exact same graph without ever shipping it.
    */
  def edgesFor(i: Long, n: Int, k: Int, rewireP: Double, maxC: Int,
               seed: Long): Seq[(Long, Long, Long)] = {
    val rng = new scala.util.Random(seed ^ (i * 0x9E3779B97F4A7C15L))
    (1 to k).flatMap { j =>
      val a = 10L + i
      val b = if (rng.nextDouble() < rewireP) 10L + rng.nextInt(n)
              else 10L + (i + j) % n
      if (a == b) Nil
      else {
        val c = 1L + rng.nextInt(maxC)
        Seq((a, b, c), (b, a, c))
      }
    }
  }

  /** Watts-Strogatz-ish: ring + k-nearest + random rewires, caps 1..maxC. */
  def smallWorld(n: Int, k: Int, rewireP: Double, maxC: Int,
                 seed: Long): Seq[(Long, Long, Long)] =
    (0L until n.toLong).flatMap(edgesFor(_, n, k, rewireP, maxC, seed))

  /** The probe family's fixed terminal pick — 8 source / 8 sink samples
    * from a seeded rng, shared with MfResumeProbe so its killed and
    * uninterrupted runs solve the exact same instance.
    */
  def terminals(n: Int): (Seq[Long], Seq[Long]) = {
    val rng = new scala.util.Random(13L)
    val ids = (10L until 10L + n)
    val sources = Seq.fill(8)(ids(rng.nextInt(n))).distinct
    val sinks = Seq.fill(8)(ids(rng.nextInt(n))).distinct.filterNot(sources.contains)
    (sources, sinks)
  }

  /** Sums shuffle write traffic across all stages while registered. */
  private class ShuffleMeter extends SparkListener {
    @volatile var bytes = 0L
    @volatile var records = 0L
    @volatile var stages = 0L
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics
      bytes += w.bytesWritten
      records += w.recordsWritten
      stages += 1
    }
  }

  /** MST leg: Borůvka on the small-world graph vs in-memory Kruskal
    * under the identical total order — edge-for-edge at probe scale.
    * `runMain graft.ScaleProbe mst <n>`
    */
  private def mstProbe(n: Int): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val (k, rewireP, maxC, seed) = (4, 0.1, 10, 7L)
    val df = spark.range(0L, n.toLong)
      .flatMap(edgesFor(_, n, k, rewireP, maxC, seed))
      .toDF("u", "v", "w")
    val t0 = System.nanoTime()
    val got = graph.Mst.run(spark, df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dt = (System.nanoTime() - t0) / 1e9
    // in-memory Kruskal, same canonicalization + same (w, u, v) order
    val t1 = System.nanoTime()
    val canon = smallWorld(n, k, rewireP, maxC, seed)
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2), e._3))
      .groupBy(e => (e._1, e._2))
      .map { case ((u, v), es) => (u, v, es.map(_._3).min) }.toSeq
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val want = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    for ((u, v, w) <- canon.sortBy(e => (e._3, e._1, e._2))) {
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { parent(ru) = rv; want += ((u, v, w)) }
    }
    val dtK = (System.nanoTime() - t1) / 1e9
    println(f"SCALE mst n=$n edges=${canon.size} msf=${got.size} " +
      f"weight=${got.toSeq.map(_._3).sum} boruvka=$dt%.1f s kruskal=$dtK%.1f s " +
      f"exact=${got == want.toSet}")
    spark.stop()
    if (got != want.toSet) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("mst")) { mstProbe(args(1).toInt); return }
    val n = args.headOption.map(_.toInt).getOrElse(20000)
    val oracleCap = sys.env.getOrElse("SCALE_ORACLE_CAP", "200000").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val (k, rewireP, maxC, seed) = (4, 0.1, 10, 7L)
    val (sources, sinks) = terminals(n)

    // executors regenerate their slice of the ring — nothing is shipped
    val df = spark.range(0L, n.toLong)
      .flatMap(edgesFor(_, n, k, rewireP, maxC, seed))
      .toDF("src", "dst", "cap").persist()
    val nEdges = df.count()
    println(s"SCALE n=$n edges=$nEdges sources=${sources.size} sinks=${sinks.size}")

    val want: Option[Long] =
      if (n <= oracleCap) {
        val t0 = System.nanoTime()
        val w = graph.EdmondsKarp.maxFlow(smallWorld(n, k, rewireP, maxC, seed),
          sources, sinks)
        println(f"SCALE oracle flow=$w t=${(System.nanoTime() - t0) / 1e9}%.1f s")
        Some(w)
      } else {
        println(s"SCALE oracle skipped (n=$n > cap=$oracleCap); " +
          "certificate = conservation")
        None
      }

    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    val t1 = System.nanoTime()
    val r = graph.MaxFlow.run(spark, df, sources, sinks)
    val dt = (System.nanoTime() - t1) / 1e9
    Thread.sleep(1000) // listener bus drains asynchronously
    spark.sparkContext.removeSparkListener(meter)
    val conserved = graft.sources.StateIO.conservationHolds(r.assignment, r.flow)
    println(f"SCALE maxflow flow=${r.flow} engine=${r.engineFlow} " +
      f"cleanup=${r.cleanupFlow} rounds=${r.rounds} t=$dt%.1f s " +
      f"shuffleMB=${meter.bytes / 1e6}%.1f shuffleRecords=${meter.records} " +
      f"stages=${meter.stages} MBperRound=${meter.bytes / 1e6 / r.rounds}%.2f " +
      f"conserved=$conserved ok=${want.forall(_ == r.flow)}")
    spark.stop()
    if (!conserved || want.exists(_ != r.flow)) sys.exit(1)
  }
}
