package perfbench

import java.nio.file.{Files => JFiles, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM program. `run.py` launches it with key=value
  * arguments and reads the raw result file it writes; all metric
  * arithmetic happens in `run.py`.
  *
  * A run starts the session (set-up ends there), runs one cold pass and
  * then warm passes until `seconds` have passed and the workload's
  * fewest passes are done, and runs the workload's checks. With trace=1
  * the listeners are registered and the spans kept and written out. */
object Main {

  /** The session profile of the engine's own bench (AQE coalescing
    * knobs and the single-file shuffle writer), at local[cores]. */
  def profile(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    "spark.sql.streaming.numRecentProgressUpdates" -> "10000",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val cores = opt("cores").toInt
    val conf = profile(cores, work)
    val spark = conf.foldLeft(SparkSession.builder().appName("perfbench")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(recording = false)
    val ctx = Ctx(spark, opt("input"), work, opt("seed").toLong, tracer, None)
    val workload: Workload = opt("workload") match {
      case "trips" => new Trips(
        new TripsBatch(ctx, opt("input"), opt("years").split(",").map(_.toInt).toSeq),
        new TripsStream(ctx, opt("input")))
      case "queries" =>
        new Queries(ctx, s"${opt("data")}/sf0.01", opt("stride").toInt)
    }
    val traced = opt("trace") == "1"
    val heap = new HeapPeak
    heap.sample()
    heap.resetMb()
    ctx.listeners = if (traced) Some(new Listeners(spark)) else None
    tracer.recording = traced
    val firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.size < workload.minPasses || elapsed < seconds) {
      val phase = if (passes.isEmpty) "cold" else "warm"
      if (phase == "warm") JitSettle()
      spark.sparkContext.setLocalProperty("perfbench.phase", phase)
      tracer.newTrace()
      val rec = tracer.timed(s"pass.$phase")(workload.pass(phase, passes.size))._1
      heap.sample()
      passes += rec + ("phase" -> phase)
    }
    val measuredS = elapsed
    tracer.recording = false
    ctx.listeners.foreach(_.close())
    val (stored, inputBytes) = workload.storedBytes
    val measurement = Map(
      "passes" -> passes.toList,
      "heap_peak_mb" -> heap.resetMb(),
      "stored_bytes" -> stored,
      "input_bytes" -> inputBytes,
      "measured_s" -> measuredS) ++ workload.summary() ++
      ctx.listeners.map(l => Map("exec" -> l.exec.toJson, "plans" -> l.plans.toJson))
        .getOrElse(Map.empty)
    ctx.listeners = None
    val checks = workload.checks().map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }
    val result = Map(
      "first_op_ms" -> firstOpMs,
      "session" -> conf.toMap,
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "measurement" -> measurement,
      "checks" -> checks,
      "outputs" -> workload.outputs,
      "subset" -> (workload match { case q: Queries => q.subset.map(_.name); case _ => Nil }),
      "digests" -> (workload match {
        case q: Queries => q.digests.toMap
        case _ => Map.empty }))
    JFiles.writeString(Paths.get(opt("result")), Json.write(result))
    if (traced)
      JFiles.writeString(Paths.get(opt("spans")), Json.write(tracer.toJson))
    spark.stop()
  }
}
