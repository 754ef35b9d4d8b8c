package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Uniform access to the driver-generated parquet tables under an sf dir
  * (see TESTDATA.md / FIXTURES.md §6). One parquet file per table.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has appeared as two physical types across testdata
      // generations: parquet TIMESTAMP(NANOS) (Spark rejects it by default;
      // the legacy conf reads it as a long of epoch nanos), and plain
      // TIMESTAMP(MICROS) without timezone (Spark reads TIMESTAMP_NTZ).
      // Normalize both to a session-tz micros TIMESTAMP so every
      // downstream operator sees one schema.
      // The conf is session-global but concurrency-safe, unlike the loop
      // sizing the r4 verdict removed: set-once, never restored, and EVERY
      // reader of the nanos layout needs the same value.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      val tsNorm = raw.schema("ts").dataType match {
        // integer div: `/` would go through double and lose precision at 1e18
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr("ts div 1000"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // session tz is UTC everywhere (build.sbt/Verify/TestSpark), so
          // this cast preserves the epoch micros bit-for-bit
          col("ts").cast(org.apache.spark.sql.types.TimestampType)
        case _ => col("ts")
      }
      raw.withColumn("ts", tsNorm)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }
  }
}
