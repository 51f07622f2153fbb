package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload hands back: operation counts, problems found by the
  * output checks, and metric values by name.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, Double]()

  def fail(n: Long, what: Seq[String]): Unit = { failed += n; problems ++= what }
}

/** Everything a workload run shares. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    tracer: Tracer, counters: SparkCounters, work: Path) {
  def traced: Boolean = tracer.enabled
}

/** Entry point: one workload in one JVM.
  *
  * {{{
  * perfbench.Main --workload ingest|dashboard --seed N --seconds S
  *   --trace 0|1 --work-dir DIR [--trace-file FILE] [--end-to-end-file FILE]
  * perfbench.Main --list-metrics
  * }}}
  *
  * Prints one JSON object, the run's result, as its only stdout line. A
  * traced run prints the per-layer metrics; it writes its spans to the
  * trace file and its end-to-end metrics to the end-to-end file, from
  * which the tracing overhead is computed.
  */
object Main {
  /** End-to-end metrics, printed by untraced runs of every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "latency_ms" -> "ms",
    "ops_per_s" -> "1/s",
    "cpu_ms_per_op" -> "ms",
    "stored_bytes_per_row" -> "B",
    "live_heap_peak_mb" -> "MB")

  /** Per-layer metrics, printed by traced runs of every workload. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.hnap_posts" -> "count",
    "sources.relogin_ratio" -> "ratio",
    "sources.parse_rows_per_s" -> "1/s",
    "streaming.latest_offset_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.trigger_ms" -> "ms",
    "storage.add_batch_mean_s" -> "s",
    "storage.add_batch_p90_s" -> "s",
    "storage.add_batch_growth" -> "ratio",
    "storage.log_versions" -> "count",
    "storage.live_parts" -> "count",
    "storage.base_generations" -> "count",
    "storage.snapshot_s" -> "s",
    "storage.read_build_s" -> "s",
    "storage.prune_kept_ratio" -> "ratio",
    "query.build_s" -> "s",
    "query.plan_s" -> "s",
    "query.exec_s" -> "s",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.shuffle_read_bytes" -> "B",
    "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "spark.task_skew" -> "ratio",
    "jvm.gc_s" -> "s",
    "jvm.jit_s" -> "s",
    "jvm.cpu_s" -> "s",
    "jvm.thread_cpu_s" -> "s",
    "host.steal_ratio" -> "ratio")

  val Workloads: Map[String, Ctx => Result] = Map(
    "ingest" -> Ingest.run,
    "dashboard" -> Dashboard.run)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    // graft.Bench's session settings, copied until the program has one
    // session factory. Two differences: the periodic-GC timer is pushed
    // past the end of any run (at 45 s its full GC lands inside the timed
    // window, at a point that depends on how long set-up took), and the
    // last four keep files and history in the run.
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30min")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.stopTimeout", "60s")
      .getOrCreate()
  }

  private def json(metrics: Seq[(String, String)], values: collection.Map[String, Double]) = {
    val m = mapper.createObjectNode()
    metrics.foreach { case (name, unit) =>
      val v = m.putObject(name)
      v.put("value", values(name))
      v.put("unit", unit)
    }
    m
  }

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--list-metrics"))) {
      val n = mapper.createObjectNode()
      val e = n.putArray("end_to_end"); EndToEnd.foreach(m => e.add(m._1))
      val p = n.putArray("per_layer"); PerLayer.foreach(m => p.add(m._1))
      println(mapper.writeValueAsString(n))
      return
    }
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = opt("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val work = Paths.get(opt("work-dir")).toAbsolutePath
    Files.createDirectories(work)
    val tracer = new Tracer(opt("trace") == "1")
    val spark = session(work)
    spark.sparkContext.setLogLevel("WARN")
    val counters = new SparkCounters
    if (tracer.enabled) spark.sparkContext.addSparkListener(counters)
    Layers.note("session")
    val res = try run(Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, tracer,
      counters, work))
    finally spark.stop()
    Layers.note(f"stopped; code cache ${Stats.codeCacheMb()}%.0f MB used")
    opts.get("trace-file").filter(_ => tracer.enabled).foreach(f => tracer.write(Paths.get(f)))
    opts.get("end-to-end-file").filter(_ => tracer.enabled).foreach { f =>
      Files.writeString(Paths.get(f), mapper.writeValueAsString(json(EndToEnd, res.metrics)))
    }

    val declared = if (tracer.enabled) PerLayer else EndToEnd
    val missing = declared.map(_._1).filterNot(res.metrics.contains)
    require(missing.isEmpty, s"workload $workload did not measure ${missing.mkString(", ")}")
    val notFinite = declared.map(_._1).filterNot(n => res.metrics(n).isFinite)
    require(notFinite.isEmpty, s"workload $workload measured no value for ${notFinite.mkString(", ")}")
    res.problems.take(20).foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    val out = mapper.createObjectNode()
    out.put("correct", res.failed == 0)
    out.put("attempted", res.attempted)
    out.put("failed", res.failed)
    out.set[com.fasterxml.jackson.databind.JsonNode]("metrics", json(declared, res.metrics))
    println(mapper.writeValueAsString(out))
  }
}
