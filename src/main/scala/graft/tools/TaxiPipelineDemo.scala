package graft.tools

import graft.taxi._

/** Runnable end-to-end demo of the batch lambda path — the library
  * consumer's view of ingest → transform → areas-master:
  *
  *   runMain graft.tools.TaxiPipelineDemo <rawTripsCsv> <commAreasCsv> <areasCsv> <workDir>
  *
  * Writes partitioned trips parquet + the 4 aggregate views (parquet
  * sink) + the areas master CSV under <workDir> and prints each view.
  */
object TaxiPipelineDemo {
  def main(args: Array[String]): Unit = {
    val Array(tripsCsv, commAreasCsv, areasCsv, workDir) = args
    val spark = graft.Session.profile()
    spark.sparkContext.setLogLevel("WARN")

    IngestHistoricJob.run(spark, tripsCsv, s"$workDir/trips")
    println(s"[demo] ingested rows: " +
      spark.read.parquet(s"$workDir/trips").count())

    AreasMasterJob.run(spark, tripsCsv, commAreasCsv, s"$workDir/areas_master")
    println("[demo] areas master:")
    spark.read.option("header", true).csv(s"$workDir/areas_master").show(false)

    val years = spark.read.parquet(s"$workDir/trips")
      .select("year").distinct().collect().map(_.getInt(0)).sorted
    val sink = new ParquetSink(s"$workDir/views")
    years.foreach { y =>
      TransformJob.run(spark, s"$workDir/trips", areasCsv, y, sink)
      println(s"[demo] views for year=$y:")
      Seq(s"companies_pickup_area_view_$y", s"pickup_area_view_$y").foreach { t =>
        println(s"-- $t")
        spark.read.parquet(s"$workDir/views/$t")
          .orderBy("trip_start_date", "pickup_community_area").show(false)
      }
    }
    spark.stop()
  }
}
