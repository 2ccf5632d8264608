package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingJob

/** Micro-batch throughput/latency measurement for the streaming
  * pipeline — the ONE reference-comparable streaming perf number
  * (BASELINE.md's only quantitative claims are its producer's
  * ~20 msg/s replay rate and the 15-min archive trigger).
  *
  * Drives the FULL production lineage — JSON lines → parse (from_json,
  * 12-h timestamps) → clean (shared 25-col projection) → enrich
  * (broadcast stream–static join ×2) → parquet sink — through the
  * file source in `chunks` micro-batches (maxFilesPerTrigger=1 under
  * Trigger.AvailableNow), exactly the MemoryStream/file-source parity
  * surface the streaming specs test. Kafka itself is env-blocked (see
  * COVERAGE.md S5), but source decode is not the bottleneck being
  * measured: the transform+sink pipeline is identical either way.
  *
  * Prints ONE JSON line:
  * {"metric":"streaming_rows_per_sec","value":R,"rows":N,
  *  "wall_sec":W,"batches":B,"batch_ms":{"p50":…,"max":…}}
  *
  * Usage: runMain graft.tools.StreamingBench [rows] [chunks] [maxFilesPerTrigger]
  * Sweeping maxFilesPerTrigger (batch size = rows/chunks ×
  * maxFilesPerTrigger) separates per-ROW cost (parse/clean/enrich,
  * scales with input) from per-BATCH cost (trigger planning + sink
  * file commit, constant) — the trend BENCH_SCALE's `streaming.runs`
  * records.
  */
object StreamingBench {

  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toLong else 400000L
    val chunks = if (args.length > 1) args(1).toInt else 10
    val maxFiles = if (args.length > 2) args(2).toInt else 1
    val spark = graft.Session.profile()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val work = java.nio.file.Files.createTempDirectory("streambench").toString
    val fmt = graft.taxi.Schemas.TripTimestampFormat

    // producer-shaped JSON feed: same field set the Kafka producer
    // emits (string values, 12-hour timestamps), `chunks` files so the
    // file source sees `chunks` micro-batch arrivals
    val start = to_timestamp(lit("2023-06-15 00:00:00"))
    spark.range(rows).select(to_json(struct(
      concat(lit("t"), $"id").as("trip_id"),
      concat(lit("taxi"), $"id" % 5000).as("taxi_id"),
      date_format(start + make_dt_interval(lit(0), lit(0), lit(0),
        ($"id" % 86400).cast("double")), fmt).as("trip_start_timestamp"),
      date_format(start + make_dt_interval(lit(0), lit(0), lit(0),
        ($"id" % 86400 + 600).cast("double")), fmt).as("trip_end_timestamp"),
      ($"id" % 3600).cast("string").as("trip_seconds"),
      format_string("%.1f", ($"id" % 300).cast("double") / 10.0).as("trip_miles"),
      lit(null: String).as("pickup_census_tract"),
      lit(null: String).as("dropoff_census_tract"),
      ($"id" % 77 + 1).cast("string").as("pickup_community_area"),
      (($"id" + 13) % 77 + 1).cast("string").as("dropoff_community_area"),
      format_string("$%.2f", ($"id" % 4000).cast("double") / 100.0).as("fare"),
      format_string("$%.2f", ($"id" % 700).cast("double") / 100.0).as("tips"),
      lit("$0.00").as("tolls"),
      lit("$1.00").as("extras"),
      format_string("$%.2f", ($"id" % 5000).cast("double") / 100.0).as("trip_total"),
      lit("Credit Card").as("payment_type"),
      concat(lit("company"), $"id" % 40).as("company"),
      lit("41.9").as("pickup_centroid_latitude"),
      lit("-87.6").as("pickup_centroid_longitude"),
      lit("POINT (-87.6 41.9)").as("pickup_centroid_location"),
      lit("41.8").as("dropoff_centroid_latitude"),
      lit("-87.7").as("dropoff_centroid_longitude"),
      lit("POINT (-87.7 41.8)").as("dropoff_centroid_location")
    )).as("value"))
      .repartition(chunks)
      .write.mode("overwrite").text(s"$work/feed")

    // the 77-row areas dimension, in-memory
    val areas = (1 to 77)
      .map(i => (i, s"AREA_$i", "41.9", "-87.6", "POLYGON"))
      .toDF("area_number", "community", "area_centroid_latitude",
        "area_centroid_longitude", "the_geom")

    val source = spark.readStream
      .option("maxFilesPerTrigger", maxFiles)
      .text(s"$work/feed")
      .select($"value")
    val enriched = StreamingJob.enrich(
      StreamingJob.narrow(StreamingJob.clean(StreamingJob.parse(source))),
      areas)

    val t0 = System.nanoTime()
    val q = enriched.writeStream
      .format("parquet")
      .option("path", s"$work/out")
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9

    val progress = q.recentProgress.filter(_.numInputRows > 0)
    val batchMs = progress
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      .sorted
    val outRows = spark.read.parquet(s"$work/out").count()
    val p50 = if (batchMs.isEmpty) -1L else batchMs(batchMs.length / 2)
    val mx = if (batchMs.isEmpty) -1L else batchMs.last
    println(
      f"""{"metric":"streaming_rows_per_sec","value":${rows / wall}%.0f,""" +
        f""""rows":$rows,"out_rows":$outRows,"wall_sec":$wall%.2f,""" +
        f""""batches":${progress.length},"chunks":$chunks,""" +
        f""""max_files_per_trigger":$maxFiles,""" +
        f""""batch_ms":{"p50":$p50,"max":$mx}}""")
    spark.stop()
  }
}
