package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkHygiene

/** Runs one workload: set-up, a warm-up pass, measured passes over the
  * workload's operations for --seconds (median reported) and, with
  * --trace 1, one traced pass; every pass's outputs are checked. Prints
  * each end-to-end metric as "name value unit" and, last, one JSON line
  * with `correct`, `attempted`, `failed` and `metrics`; writes the full
  * record (and, when traced, the per-layer numbers and spans) to
  * `<out>/<workload>-trace<0|1>.json`. Exit code 1 when any operation threw
  * or failed its check.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1 --data DIR
  * --out DIR --fingerprints FILE --local-dir DIR
  */
object BenchMain {

  /** Set-ups per run; the median is reported. */
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: String, fingerprints: String,
      localDir: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), get("out"), get("fingerprints"),
      get("local-dir"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def loadavg(): String =
    Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(" ")

  /** The process's resident-set high-water mark (VmHWM) in MiB. */
  def peakRssMb(): Double =
    Files.readString(Paths.get("/proc/self/status")).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))

  /** Collection time of all the JVM's garbage collectors so far. */
  def gcSeconds(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.toArray.map(_.asInstanceOf[
      java.lang.management.GarbageCollectorMXBean].getCollectionTime.max(0L)).sum / 1e3

  private def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkHygiene.quietRddLogs()
    spark
  }

  def readFingerprints(file: String): Map[String, String] =
    Files.readAllLines(Paths.get(file), StandardCharsets.UTF_8).toArray
      .map(_.toString.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+"); k -> v }.toMap

  final case class PassRecord(kind: String, wallS: Double, rssMb: Double, gcS: Double,
      ops: Seq[(String, Double)])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val load0 = loadavg()
    val cores = Runtime.getRuntime.availableProcessors
    val wl = Workloads(o.workload, o.seed, o.data, readFingerprints(o.fingerprints))

    // set-up: session start and input generation, SetupReps times in fresh
    // sessions (the last one is kept), then the workload's warm-up
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val (s, sessionS) = secondsOf(session(cores, o.localDir))
      spark = s
      val (_, inputS) = secondsOf(wl.input(spark))
      Map("session_s" -> sessionS, "input_s" -> inputS)
    }
    val want = wl.expected(spark)

    val sc = spark.sparkContext
    val listener = new JobListener
    val passes = mutable.ArrayBuffer.empty[PassRecord]
    val allSpans = mutable.ArrayBuffer.empty[(Int, Seq[Span])]
    var layers = Map.empty[String, Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def runPass(kind: String): Double = {
      val traced = kind == "traced"
      val tr = new Tracer(traced, sc)
      if (traced) sc.addSparkListener(listener)
      val gc0 = gcSeconds()
      val (ops, wallS) = secondsOf(
        if (kind == "warmup") wl.warmup(spark, tr) else wl.pass(spark, tr, passes.size))
      val gcS = gcSeconds() - gc0
      val rss = peakRssMb()
      if (traced) {
        listener.fence(sc)
        sc.removeSparkListener(listener)
        val spans = tr.spans ++ listener.spans(tr)
        layers = Layers.ofPass(spans, cores)
        allSpans += ((passes.size, spans))
      }
      passes += PassRecord(kind, wallS, rss, gcS, ops.map(op => op.name -> op.wallS))
      attempted += ops.size
      errors ++= Ledger.settle(ops, want)
      wallS
    }
    // the warm-up pass, then measured passes back to back while the next
    // one fits in --seconds (at least one), then with --trace 1 one traced
    // pass, whose difference from the measured median is the tracing
    // overhead
    runPass("warmup")
    val t0 = System.nanoTime()
    val measured = mutable.ArrayBuffer(runPass("measured"))
    while ((System.nanoTime() - t0) / 1e9 + median(measured.toSeq) <= o.seconds)
      measured += runPass("measured")
    if (o.trace) runPass("traced")
    spark.stop()
    val load1 = loadavg()

    def walls(kind: String) = passes.filter(_.kind == kind).map(_.wallS).toSeq
    val warmupS = walls("warmup").head
    val setupS = median(setups.map(_.values.sum)) + warmupS
    val wallS = median(walls("measured"))
    val rssMb = median(passes.filter(_.kind == "measured").map(_.rssMb).toSeq)
    val errorRate = errors.size.toDouble / attempted
    val endToEnd = Seq(("wall_s", wallS, "s"), ("setup_s", setupS, "s"),
      ("peak_rss_mb", rssMb, "MiB"))
    val setupLayer = Map("setup.session_s" -> median(setups.map(_("session_s"))),
      "setup.warmup_s" -> warmupS, "setup.input_s" -> median(setups.map(_("input_s"))))
    val perLayer: Seq[(String, Double)] =
      if (o.trace) Layers.names.map(m => m -> (setupLayer ++ layers)(m)) else Seq.empty
    val overheadS = if (o.trace) walls("traced").head - wallS else 0.0

    import Json._
    val metricsJson =
      if (o.trace) obj(perLayer.map { case (k, v) => k -> obj(Seq("value" -> num(v), "unit" -> str(unitOf(k)))) })
      else obj(endToEnd.map { case (k, v, u) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
    val artifact = obj(Seq(
      "workload" -> str(o.workload), "seed" -> num(o.seed.toDouble),
      "seconds" -> num(o.seconds), "trace" -> bool(o.trace),
      "nproc" -> num(cores.toDouble),
      "driver_heap" -> str(java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.map(_.toString).filter(_.startsWith("-Xm")).mkString(" ")),
      "max_heap_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "loadavg_start" -> str(load0), "loadavg_end" -> str(load1),
      "setup_reps" -> arr(setups.map(m => obj(m.toSeq.map { case (k, v) => k -> num(v) })).toSeq),
      "passes" -> arr(passes.toSeq.map(p => obj(Seq("kind" -> str(p.kind),
        "wall_s" -> num(p.wallS), "peak_rss_mb" -> num(p.rssMb), "gc_s" -> num(p.gcS),
        "ops" -> arr(p.ops.map { case (n, w) =>
          obj(Seq("name" -> str(n), "wall_s" -> num(w))) }))))),
      "attempted" -> num(attempted.toDouble), "failed" -> num(errors.size.toDouble),
      "error_rate" -> num(errorRate), "errors" -> arr(errors.toSeq.map(str)),
      "end_to_end" -> obj(endToEnd.map { case (k, v, u) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(u))) }),
      "per_layer" -> (if (o.trace) metricsJson else "null"),
      "tracing_overhead_s" -> (if (o.trace) num(overheadS) else "null"),
      "spans" -> arr(allSpans.toSeq.map { case (p, ss) => obj(Seq(
        "pass" -> num(p.toDouble), "spans" -> arr(ss.map(spanJson)))) })))
    val outDir = Paths.get(o.out)
    Files.createDirectories(outDir)
    val outFile: Path = outDir.resolve(s"${o.workload}-trace${if (o.trace) 1 else 0}.json")
    Files.write(outFile, (artifact + "\n").getBytes(StandardCharsets.UTF_8))

    errors.foreach(e => println(s"FAILED $e"))
    endToEnd.foreach { case (k, v, u) => println(s"$k $v $u") }
    println(s"error_rate $errorRate ratio (${errors.size} of $attempted operations)")
    if (o.trace) {
      perLayer.foreach { case (k, v) => println(s"$k $v ${unitOf(k)}") }
      println(s"tracing_overhead_s $overheadS s")
    }
    println(s"artifact $outFile")
    println(obj(Seq("correct" -> bool(errors.isEmpty), "attempted" -> num(attempted.toDouble),
      "failed" -> num(errors.size.toDouble), "metrics" -> metricsJson)))
    System.out.flush()
    if (errors.nonEmpty) sys.exit(1)
  }

  def unitOf(metric: String): String = metric.split('.').last match {
    case m if m.endsWith("_s")  => "s"
    case m if m.endsWith("_mb") => "MiB"
    case "shuffle_mb_per_round" => "MiB/round"
    case "core_util" | "accept_ratio" | "engine_flow_share" => "ratio"
    case _ => "count"
  }

  private def spanJson(s: Span): String = {
    import Json._
    obj(Seq("id" -> num(s.id.toDouble), "parent" -> num(s.parent.toDouble),
      "name" -> str(s.name), "label" -> str(s.label),
      "start_ns" -> num(s.start.toDouble), "end_ns" -> num(s.end.toDouble),
      "attrs" -> obj(s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })))
  }
}

/** Just enough JSON writing for the result line and the artifact. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
