package perfbench

import java.io.File
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.QueryRegistry
import graft.streaming.StreamingJob
import graft.taxi.{Cleaning, IngestHistoricJob, ParquetSink, TransformJob, ViewSink}

/** Everything a workload needs from the run. `work` is this run's
  * working directory; `input` holds the generated inputs. */
final case class Ctx(spark: SparkSession, input: String, work: String, seed: Long,
    tracer: Tracer, var listeners: Option[Listeners]) {
  def traced: Boolean = listeners.isDefined
  def setProp(k: String, v: String): Unit = spark.sparkContext.setLocalProperty(k, v)
  /** Waits for listener events so the next label applies to the next call only. */
  def sync(): Unit = listeners.foreach(_.drain())
  def planLabel(l: String): Unit = listeners.foreach(_.plans.label = l)
}

/** One workload: `pass` runs once on fresh state ("cold") and repeatedly
  * after ("warm"). */
trait Workload {
  /** Fewest passes in one run, the cold pass included. */
  def minPasses: Int
  /** Runs one pass; returns its record, which holds at least wall_s,
    * attempted and failed. */
  def pass(phase: String, n: Int): Map[String, Any]
  /** Bytes the run left on disk, and the input bytes they derive from. */
  def storedBytes: (Long, Long)
  /** Extra facts read after the passes (counts, layer data). */
  def summary(): Map[String, Any] = Map.empty
  /** Output checks outside the timed region: (name, ok, detail). */
  def checks(): Seq[(String, Boolean, String)]
  /** Output directories the checks in `run.py` read. */
  def outputs: Map[String, String] = Map.empty
}

object Files {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete()
  }
  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.sortBy(_.getName).flatMap(walk)
    else if (f.isFile) Seq(f) else Nil
  /** Data files only: no checksums, markers or streaming logs. */
  def dataBytes(dir: String): (Long, Int) = {
    val fs = walk(new File(dir)).filter { f =>
      val n = f.getName
      !n.startsWith(".") && !n.startsWith("_") && !f.getPath.contains("_spark_metadata")
    }
    (fs.map(_.length).sum, fs.size)
  }
  def fresh(path: String): String = {
    deleteRecursively(new File(path))
    new File(path).mkdirs()
    path
  }
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** The paper's batch lane: raw CSV ingest, then the daily transform into
  * 4 views for every year in the data. Its methods mirror [[Workload]]. */
final class TripsBatch(ctx: Ctx, input: String, years: Seq[Int]) {
  import ctx.{input => _, _}
  private val csv = s"$input/trips.csv"
  private val areas = s"$input/areas.csv"
  private var root = ""
  private var counted = false
  private val layer = mutable.LinkedHashMap[String, Double]()

  /** Times each of the 4 view writes as its own span under the transform. */
  private final class TimedSink(inner: ViewSink) extends ViewSink {
    def write(df: DataFrame, table: String): Unit =
      tracer.time("taxi.view." + table.replaceAll("_area_view_\\d+$", ""))(inner.write(df, table))
  }

  private def pipeline(out: String): (Double, Double) = {
    val ingest = tracer.time("taxi.ingest")(IngestHistoricJob.run(spark, csv, s"$out/trips"))
    val sink = new TimedSink(new ParquetSink(s"$out/views"))
    val transform = years.map { y =>
      tracer.time("taxi.transform")(TransformJob.run(spark, s"$out/trips", areas, y, sink))
    }.sum
    (ingest, transform)
  }

  /** Traced runs time each prefix of the ingest to the noop sink, and the
    * persisted prepare + enrich, so self times can be derived. */
  private def decompose(out: String): Unit = {
    tracer.time("taxi.scan")(Files.noop(IngestHistoricJob.readRawTrips(spark, csv)))
    tracer.time("taxi.clean")(Files.noop(Cleaning.clean(IngestHistoricJob.readRawTrips(spark, csv))))
    var mem, disk = 0L
    years.foreach { y =>
      val enriched = tracer.timed("taxi.prepare") {
        val e = TransformJob.enrich(
          TransformJob.prepare(TransformJob.readTripsYear(spark, s"$out/trips", y)),
          TransformJob.readAreas(spark, areas)).persist(StorageLevel.MEMORY_AND_DISK)
        Files.noop(e)
        e
      }._1
      val info = spark.sparkContext.getRDDStorageInfo
      mem += info.map(_.memSize).sum
      disk += info.map(_.diskSize).sum
      enriched.unpersist(blocking = true)
    }
    layer("cache_mem_bytes") = mem.toDouble
    layer("cache_disk_bytes") = disk.toDouble
  }

  def pass(phase: String, n: Int): Map[String, Any] = {
    if (root.nonEmpty) Files.deleteRecursively(new File(root))
    root = Files.fresh(s"$work/batch$n")
    val t0 = System.nanoTime()
    val (ingest, transform) = pipeline(root)
    val wall = (System.nanoTime() - t0) / 1e9
    if (traced) {
      sync()
      decompose(root)
      if (!counted) { countRows(); counted = true }
    }
    Map("wall_s" -> wall, "ingest_s" -> ingest, "transform_s" -> transform,
      "attempted" -> (1 + years.size), "failed" -> 0)
  }

  private def countRows(): Unit = {
    val read = IngestHistoricJob.readRawTrips(spark, csv).count()
    val written = spark.read.parquet(s"$root/trips").count()
    val distinct = years.map(y =>
      TransformJob.prepare(TransformJob.readTripsYear(spark, s"$root/trips", y)).count()).sum
    layer("rows_read") = read.toDouble
    layer("rows_written") = written.toDouble
    layer("rows_dropped") = (written - distinct).toDouble
  }

  def storedBytes: (Long, Long) = {
    val (trips, tripFiles) = Files.dataBytes(s"$root/trips")
    val (views, viewFiles) = Files.dataBytes(s"$root/views")
    layer("files_written") = (tripFiles + viewFiles).toDouble
    layer("bytes_written") = (trips + views).toDouble
    (trips + views, new File(csv).length)
  }

  def summary(): Map[String, Any] = Map("taxi" -> layer.toMap)

  /** Where the last pass left its trips table and views, for the checks. */
  def outputs: Map[String, String] = Map("trips" -> s"$root/trips", "views" -> s"$root/views")
}

/** The paper's streaming lane as a closed-loop drain of a file backlog:
  * parse → clean, fanned out to the enriched branch (file sink in place of
  * Kafka) and the Parquet archive, both on Trigger.AvailableNow. Its
  * methods mirror [[Workload]]. */
final class TripsStream(ctx: Ctx, input: String) {
  import ctx.{input => _, _}
  private val areas = s"$input/areas.csv"
  private var root = ""
  private val batches = mutable.ArrayBuffer[Map[String, Any]]()
  private var filesWritten = 0
  /** The first micro-batch of every drain is warm-up: the new query plans
    * and compiles its code there. */
  val warmupBatches = 1

  private def drain(feed: String, out: String): (Double, Seq[(String, StreamingQueryProgress)], Int) = {
    val cleaned = StreamingJob.clean(StreamingJob.parse(
      spark.readStream.option("maxFilesPerTrigger", 1L).text(feed)))
    val areaDim = TransformJob.readAreas(spark, areas)
    var failed = 0
    val (progress, wall) = tracer.timed("stream.drain") {
      val enriched = tracer.timed("stream.start.enriched") {
        StreamingJob.toKafkaPayload(StreamingJob.enrich(StreamingJob.narrow(cleaned), areaDim))
          .writeStream.format("json")
          .option("path", s"$out/enriched")
          .option("checkpointLocation", s"$out/ckpt-enriched")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
      }._1
      val archive = tracer.timed("stream.start.archive") {
        StreamingJob.parquetSinkWriter(cleaned, s"$out/archive", s"$out/ckpt-archive",
          Trigger.AvailableNow()).start()
      }._1
      Seq("enriched" -> enriched, "archive" -> archive).flatMap { case (branch, q) =>
        try q.awaitTermination()
        catch { case e: Exception =>
          System.err.println(s"[perfbench] $branch stream failed: ${e.getMessage}")
          failed += 1
        }
        q.recentProgress.toSeq.map(branch -> _)
      }
    }
    (wall, progress, failed)
  }

  def pass(phase: String, n: Int): Map[String, Any] = {
    if (root.nonEmpty) Files.deleteRecursively(new File(root))
    root = Files.fresh(s"$work/stream$n")
    val (wall, progress, failed) = drain(s"$input/feed", root)
    val timed = progress.filter(_._2.batchId >= warmupBatches)
    timed.foreach { case (branch, p) =>
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      batches += Map("branch" -> branch, "pass" -> n, "rows" -> p.numInputRows,
        "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
        "query_planning_ms" -> ms("queryPlanning"), "wal_commit_ms" -> ms("walCommit"),
        "commit_ms" -> ms("commitOffsets"), "latest_offset_ms" -> ms("latestOffset"))
    }
    val rows = progress.filter(_._1 == "archive").map(_._2.numInputRows).sum
    Map("wall_s" -> wall, "rows" -> rows, "batches" -> progress.size,
      "attempted" -> math.max(progress.size, 1), "failed" -> failed)
  }

  def storedBytes: (Long, Long) = {
    val (a, af) = Files.dataBytes(s"$root/archive")
    val (e, ef) = Files.dataBytes(s"$root/enriched")
    val feed = Files.walk(new File(s"$input/feed")).map(_.length).sum
    filesWritten = af + ef
    (a + e, feed)
  }

  def summary(): Map[String, Any] =
    Map("batches" -> batches.toList, "files_written" -> filesWritten)

  /** Where the last drain left its sinks, for the checks. */
  def outputs: Map[String, String] =
    Map("archive" -> s"$root/archive", "enriched" -> s"$root/enriched")
}

/** The paper's lambda pipeline: every pass runs the batch lane, then
  * drains the stream lane. The run has no JIT warm-up: the paper runs
  * each batch job as a fresh process, so the cold pass, JIT compilation
  * included, is what its user waits for. */
final class Trips(val batch: TripsBatch, val stream: TripsStream) extends Workload {
  def minPasses = 2
  def pass(phase: String, n: Int): Map[String, Any] = {
    val b = batch.pass(phase, n)
    val s = stream.pass(phase, n)
    def num(m: Map[String, Any], k: String): Double = m(k).toString.toDouble
    Map("wall_s" -> (num(b, "wall_s") + num(s, "wall_s")), "batch" -> b, "stream" -> s,
      "attempted" -> (num(b, "attempted") + num(s, "attempted")).toInt,
      "failed" -> (num(b, "failed") + num(s, "failed")).toInt)
  }
  def storedBytes: (Long, Long) = {
    val (bo, bi) = batch.storedBytes
    val (so, si) = stream.storedBytes
    (bo + so, bi + si)
  }
  override def summary(): Map[String, Any] = batch.summary() ++ stream.summary()
  /** The trips outputs are checked by `run.py`, against DuckDB. */
  def checks(): Seq[(String, Boolean, String)] = Nil
  override def outputs: Map[String, String] = batch.outputs ++ stream.outputs
}

/** A fixed stratified subset of the registered queries: one cold pass on
  * a fresh artifact root and tmpdir, then warm passes. There is no JIT
  * warm-up: a query's first execution in a fresh process, compilation and
  * artifact builds included, is its cold cost. */
final class Queries(ctx: Ctx, dataDir: String, stride: Int) extends Workload {
  import ctx._
  val anchors = Seq("q42_", "q63_", "q83_", "q93_")
  val subset: Seq[graft.GraftQuery] = {
    val all = QueryRegistry.all.sortBy(_.name)
    val strided = all.zipWithIndex.collect { case (q, i) if i % stride == 0 => q }
    val anchored = all.filter(q => anchors.exists(q.name.startsWith))
    (strided ++ anchored).distinct
  }
  def minPasses = 2
  /** name -> digest of the cold pass's result. */
  val digests = mutable.LinkedHashMap[String, String]()
  /** path -> (modified, bytes) of the artifact files after the cold pass */
  private var coldFiles = Map.empty[String, (Long, Long)]
  private val artifacts = mutable.LinkedHashMap[String, Double]()

  // the engine reads both properties at each use, so every run's
  // artifacts and temporary tables land in its own fresh directories
  private val artifactDirs = Seq(s"$work/index", s"$work/tmp")
  sys.props("graft.index.dir") = Files.fresh(artifactDirs(0))
  sys.props("java.io.tmpdir") = Files.fresh(artifactDirs(1))

  /** Runs every query once, in a seeded order; after the cold pass, the
    * cold results' digests are recorded outside the timing. */
  def pass(phase: String, n: Int): Map[String, Any] = {
    val order = new scala.util.Random(seed * 1000 + n).shuffle(subset)
    var failed = 0
    var wall = 0.0
    val frames = mutable.ArrayBuffer[(String, DataFrame)]()
    val recs = order.map { q =>
      try {
        val (df, body) = { setProp("perfbench.op", "body"); planLabel("body")
          tracer.timed("queries.body")(q.fn(spark, dataDir)) }
        sync(); setProp("perfbench.op", "exec"); planLabel(s"exec.$phase")
        val exec = tracer.time("queries.exec")(Files.noop(df))
        sync(); setProp("perfbench.op", "")
        wall += body + exec
        frames += q.name -> df
        Map("name" -> q.name, "body_s" -> body, "exec_s" -> exec, "ok" -> true)
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] ${q.name} failed: ${e.getMessage}")
        failed += 1
        setProp("perfbench.op", "")
        Map("name" -> q.name, "ok" -> false)
      } finally spark.catalog.clearCache()
    }
    if (phase == "cold") {
      coldFiles = snapshot()
      // after the pass, so no query's cold execution follows a digest run
      frames.foreach { case (name, df) => digests(name) = Digest.of(df) }
    }
    Map("wall_s" -> wall, "queries" -> recs, "attempted" -> order.size, "failed" -> failed)
  }

  private def artifactFiles: Seq[File] = artifactDirs.flatMap(d => Files.walk(new File(d)))

  private def snapshot(): Map[String, (Long, Long)] =
    artifactFiles.map(f => f.getPath -> (f.lastModified, f.length)).toMap

  def storedBytes: (Long, Long) = {
    val cold = coldFiles
    artifacts("artifact_files") = cold.size.toDouble
    artifacts("artifacts_built_cold") = cold.keys.count(_.endsWith("/_SUCCESS")).toDouble
    // a marker written or rewritten after the cold pass is a warm-pass build
    artifacts("artifacts_built_warm") = artifactFiles.count(f => f.getName == "_SUCCESS" &&
      cold.get(f.getPath).forall(_._1 != f.lastModified)).toDouble
    val input = Files.walk(new File(dataDir)).map(_.length).sum
    (cold.values.map(_._2).sum, input)
  }

  override def summary(): Map[String, Any] = Map("operators" -> artifacts.toMap)

  /** Each query's result after the warm passes must digest like its
    * cold result. */
  def checks(): Seq[(String, Boolean, String)] = digests.toSeq.map { case (name, cold) =>
    val q = subset.find(_.name == name).get
    val warm = try Digest.of(q.fn(spark, dataDir)) catch { case e: Exception => s"failed: ${e.getMessage}" }
    spark.catalog.clearCache()
    (s"digest_stable:$name", warm == cold, s"cold=$cold warm=$warm")
  }
}

/** Order-insensitive digest of a result: row count plus the sum of the
  * rows' hashes. Doubles are rounded to 9 significant digits so that a
  * different summation order does not change the digest. */
object Digest {
  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else if (d == 0.0) "0" else f"$d%.9g"
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "→" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
  def of(df: DataFrame): String = {
    val rows = df.collect()
    val sum = rows.foldLeft(0L)((acc, r) =>
      acc + scala.util.hashing.MurmurHash3.stringHash(canon(r)).toLong)
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }
}
