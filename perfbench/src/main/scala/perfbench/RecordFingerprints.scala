package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{SparkEntry, SparkHygiene}

/** Writes the expected fingerprint of every benchmarked query, one
  * "name fingerprint" line each. Run it on a commit whose query results
  * are known good (oracle-checked), then commit the file:
  *   perfbench/run.py --record
  */
object RecordFingerprints {
  def main(args: Array[String]): Unit = {
    val Array(data, out, localDir) = args
    val spark = BenchMain.session(Runtime.getRuntime.availableProcessors, localDir)
    val lines = (Workloads.iterative ++ Workloads.onepass).map(_._2).sorted.map { q =>
      val df = SparkEntry.queries(q)(spark, data)
      val fp = Fingerprint.of(df.schema, df.collect().toSeq)
      SparkHygiene.clearSessionCaches(spark)
      println(s"$q $fp")
      s"$q $fp"
    }
    spark.stop()
    Files.write(Paths.get(out), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
