package perfbench

import scala.collection.mutable

import graft.sources.HnapParse
import graft.storage.FactTable
import graft.streaming.DocsisStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Per-layer measurements both workloads take the same way. */
object Layers {
  /** A line in the run's log, stamped with seconds since the JVM started. */
  def note(msg: String): Unit = System.err.println(
    f"[perfbench] +${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs $msg")

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** One read timed in three parts: DataFrame build, Catalyst planning
    * (forcing the executed plan) and execution to a collected result.
    */
  final case class Read[T](value: T, build: Double, plan: Double, exec: Double) {
    def total: Double = build + plan + exec
  }

  def read[T](tracer: Tracer, traceId: Long, kind: String)(build: => DataFrame)(
      extract: Array[Row] => T): Read[T] =
    tracer.span(s"dashboard.$kind", traceId) {
      val (df, b) = time(tracer.span("query.build", traceId)(build))
      val (_, p) = time(tracer.span("query.plan", traceId)(df.queryExecution.executedPlan))
      val (rows, e) = time(tracer.span("query.exec", traceId)(df.collect()))
      Read(extract(rows), b, p, e)
    }

  def storedRows(tracer: Tracer, table: FactTable, traceId: Long): Read[Seq[StoredRow]] =
    read(tracer, traceId, "stored_rows")(
      tracer.span("storage.read_build", traceId)(table.read())
        .select(Pipeline.StoredCols.map(col): _*))(_.toSeq.map(Pipeline.storedRow))

  /** Source, streaming and storage-write metrics: the polls and progress
    * records of the streams `pipes` ran, the durations of `addBatch`
    * (stream commits or fills) and the end state of `last`'s table.
    */
  def ingestPath(ctx: Ctx, res: Result, pipes: Seq[Pipeline], addBatch: Seq[Double],
      last: Pipeline): Unit = {
    val m = res.metrics
    val polls = pipes.map(_.modem.served).sum
    m("sources.hnap_posts") = pipes.map(_.modem.posts.get).sum.toDouble
    m("sources.relogin_ratio") = pipes.map(_.modem.expiredReplies.get).sum.toDouble / polls
    val progress = pipes.flatMap(_.committedProgress)
    Seq("latestOffset" -> "latest_offset", "queryPlanning" -> "query_planning",
      "addBatch" -> "add_batch", "walCommit" -> "wal_commit",
      "commitOffsets" -> "commit_offsets", "triggerExecution" -> "trigger").foreach {
      case (key, name) => m(s"streaming.${name}_ms") =
        Stats.mean(progress.map(_.durationMs.get(key).doubleValue))
    }
    m("storage.add_batch_mean_s") = Stats.mean(addBatch)
    m("storage.add_batch_p90_s") = Stats.quantile(addBatch, 0.9)
    m("storage.add_batch_growth") = Stats.growth(addBatch)
    val snap = last.table.snapshot()
    m("storage.log_versions") = snap.nextVersion.toDouble
    m("storage.live_parts") = snap.dataFiles.size.toDouble
    m("storage.base_generations") = Pipeline.baseGenerations(last.table).toDouble
    m("storage.snapshot_s") = Stats.median((1 to 5).map(_ =>
      time(ctx.tracer.span("storage.snapshot", 0)(last.table.snapshot()))._2))
    m("sources.parse_rows_per_s") = parseRowsPerSecond(ctx, last.gen)
  }

  /** `HnapParse.parse` over a generated batch of polls, run to completion. */
  def parseRowsPerSecond(ctx: Ctx, gen: ModemGenerator): Double = {
    import ctx.spark.implicits._
    val n = 2000
    val raw = (0 until n).map(k => (gen.payload(gen.scrape(k)), Check.Modem, 0.01,
        new java.sql.Timestamp(1700000000000L + 10000L * k)))
      .toDF("payload", "modem_name", "scrape_latency", "timestamp")
    val secs = (1 to 3).map(_ => time(ctx.tracer.span("sources.parse", 0)(
      HnapParse.parse(raw).write.format("noop").mode("overwrite").save()))._2)
    n / Stats.median(secs)
  }

  /** Timed-window counters: CPU time of the process and of its Java
    * threads, GC and JIT compilation time, the machine's stolen CPU share, and the Spark
    * listener's totals.
    */
  final class Window(ctx: Ctx) {
    private val gc0 = Stats.gcSeconds()
    private val jit0 = Stats.jitSeconds()
    private val cpu0 = Stats.processCpuSeconds()
    private val threads0 = Stats.threadCpuNs()
    private val (steal0, ticks0) = Stats.cpuTicks()
    ctx.counters.counting = true
    def close(res: Result): Unit = {
      ctx.counters.counting = false
      val c = ctx.counters
      val m = res.metrics
      m("jvm.thread_cpu_s") = Stats.threadCpuSince(threads0)
      m("jvm.cpu_s") = Stats.processCpuSeconds() - cpu0
      val (steal1, ticks1) = Stats.cpuTicks()
      m("host.steal_ratio") = (steal1 - steal0).toDouble / math.max(1L, ticks1 - ticks0)
      m("jvm.gc_s") = Stats.gcSeconds() - gc0
      m("jvm.jit_s") = Stats.jitSeconds() - jit0
      m("spark.jobs") = c.jobs.get.toDouble
      m("spark.tasks") = c.tasks.get.toDouble
      m("spark.shuffle_read_bytes") = c.shuffleRead.get.toDouble
      m("spark.shuffle_write_bytes") = c.shuffleWrite.get.toDouble
      m("spark.spill_bytes") = c.spill.get.toDouble
      m("spark.task_skew") = c.taskSkew
    }
  }
}

/** `ingest`: the reference's own traffic. One fake modem, one stream, a
  * closed loop of one poll per micro-batch for the whole window, on a
  * table that already holds `Prefill` polls. Stresses the source, the
  * streaming engine and the storage write path (append, compact, vacuum,
  * log replay); reads only to check what was stored.
  */
object Ingest {
  import Layers._

  /** Setup repetitions; set-up time is their median. */
  val SetupReps = 3
  /** Enough batches for the shipped 10 KiB Buffer threshold to flush. */
  val SetupCommits = 3
  /** Polls in the run's table before the stream starts. At the shipped
    * Buffer thresholds that is 60 log versions and 20 base generations.
    */
  val Prefill = 40

  def run(ctx: Ctx): Result = {
    val res = new Result
    val gen = new ModemGenerator(ctx.seed)
    // each repetition starts a stream on a fresh table and runs it through
    // its first Buffer flush (compact + vacuum); the first one also pays
    // class loading and code generation
    val setups = (1 to SetupReps).map { i =>
      time {
        val p = new Pipeline(ctx.spark, ctx.work.resolve(s"setup-$i"), gen, ctx.tracer)
        p.start(); p.awaitCommits(SetupCommits); p.drainAndStop()
      }._2
    }
    res.metrics("setup_s") = Stats.median(setups)
    val p = new Pipeline(ctx.spark, ctx.work.resolve("run"), gen, ctx.tracer, Prefill)
    val (_, fillS) = time(p.fill())
    note(s"set-up ${setups.mkString(",")} s, fill $fillS s")
    val heap = mutable.ArrayBuffer(Stats.liveHeapMb())

    note("window")
    val window = new Window(ctx)
    val t0 = System.nanoTime()
    p.start()
    Thread.sleep((ctx.seconds * 1000).toLong)
    p.drainAndStop()
    val elapsed = (System.nanoTime() - t0) / 1e9
    window.close(res)
    heap += Stats.liveHeapMb()

    val commits = p.commits
    val progress = p.committedProgress
    require(progress.size == commits.size, "a committed batch has no progress record")
    val scrapes = progress.map(Pipeline.offsets).map { case (s, e) => e - s }.sum.toInt
    val stored = storedRows(ctx.tracer, p.table, -1)
    val (bad, problems) = Check.ingest(gen, stored.value, Prefill + scrapes)
    res.attempted = Prefill + math.max(scrapes, stored.value.size - Prefill)
    res.fail(math.min(bad, res.attempted), problems)

    // visibility: poll timestamp (stamped by the source) to the return of
    // the addBatch that committed it; stream offset o is slot Prefill + o
    val tsMs = stored.value.map(r => gen.slotOfUptime(r.uptime).toLong -> r.tsMicros / 1000).toMap
    val done = commits.map(c => c.batchId -> c.doneMs).toMap
    val visible = progress.flatMap { pr =>
      val (s, e) = Pipeline.offsets(pr)
      (s until e).flatMap(o => tsMs.get(Prefill + o).map(ts => (done(pr.batchId) - ts).toDouble))
    }
    note(s"checked; visible ms ${visible.map(_.toLong).mkString(",")}")
    note(s"add_batch ms ${commits.map(c => (c.seconds * 1000).toLong).mkString(",")}")
    val m = res.metrics
    m("latency_ms") = Stats.pairMedian(visible)
    m("ops_per_s") = scrapes / elapsed
    m("cpu_ms_per_op") = m("jvm.thread_cpu_s") * 1000 / scrapes
    m("stored_bytes_per_row") = p.tableBytes.toDouble / (Prefill + scrapes)
    m("live_heap_peak_mb") = heap.max

    if (ctx.traced) {
      ingestPath(ctx, res, Seq(p), commits.map(_.seconds), p)
      m("storage.read_build_s") = ctx.tracer.seconds("storage.read_build").head
      m("query.build_s") = stored.build
      m("query.plan_s") = stored.plan
      m("query.exec_s") = stored.exec
      val recent = lit(new java.sql.Timestamp(stored.value.map(_.tsMicros).max / 1000 - 2000))
      val (kept, total) = p.table.pruneReport(col("timestamp") >= recent)
      m("storage.prune_kept_ratio") = kept.toDouble / total
    }
    res
  }
}

/** `dashboard`: reads over tables the ingest path built. Setup fills three
  * tables through `BufferedFactSink.addBatch`, one poll per call, so the
  * layout is the one the stream produces; then one client runs a closed
  * loop of three reads — a per-channel SNR rollup over `read()`,
  * `DocsisStream.snrWindowed` over `read()`, and a recent-window
  * `readWhere` — rotating over the tables, with no writes while timed.
  * Stresses the storage read path and stats pruning.
  */
object Dashboard {
  import Layers._

  /** Polls per filled table. At the shipped Buffer thresholds every second
    * poll flushes into a new base generation, so a table has 12.
    */
  val FillScrapes = 24
  val Tables = 3
  /** Untimed rounds before the window, one per table, so the read path is
    * compiled before it is timed.
    */
  val WarmRounds = 3
  /** Stream commits the traced run takes its source and streaming metrics from. */
  val TracedCommits = 6

  def run(ctx: Ctx): Result = {
    val res = new Result
    val gen = new ModemGenerator(ctx.seed)
    val fills = (0 until Tables).map { i =>
      val p = new Pipeline(ctx.spark, ctx.work.resolve(s"table-$i"), gen, ctx.tracer, FillScrapes)
      time(p.fill())._2 -> p
    }
    res.metrics("setup_s") = Stats.median(fills.map(_._1))
    note(s"fills ${fills.map(_._1).mkString(",")} s")
    // every table holds the same polls, so one reference serves all reads
    val rows = Check.filledRows(gen, FillScrapes)
    val recentFrom = rows(FillScrapes * 4 / 5).tsMicros
    val rollupRef = Check.rollupRef(gen, 0 until FillScrapes)
    val windowRef = Check.windowRef(gen, rows)
    val tables = fills.map(_._2)
    val heap = mutable.ArrayBuffer(Stats.liveHeapMb())

    /** One round of the mix on one table: each read with its deferred check. */
    def round(r: Int): Seq[(Read[_], () => Seq[String])] = {
      val t = tables(r % Tables)
      def base() = ctx.tracer.span("storage.read_build", r)(t.table.read())
      val rollup = read(ctx.tracer, r, "rollup")(
        base().select(explode(col("downstream_channels")).as("ch"))
          .groupBy(col("ch.channel_id").as("channel_id"))
          .agg(avg(col("ch.snr")), min(col("ch.snr")), count(lit(1))))(
        _.toSeq.map(x => ChannelStats(x.getInt(0), x.getDouble(1), x.getFloat(2), x.getLong(3))))
      val windowed = read(ctx.tracer, r, "windowed")(DocsisStream.snrWindowed(base()))(
        _.toSeq.map(Pipeline.windowStats))
      val from = new java.sql.Timestamp(recentFrom / 1000)
      val recent = read(ctx.tracer, r, "recent")(
        ctx.tracer.span("storage.read_build", r)(
          t.table.readWhere(col("timestamp") >= lit(from)))
          .select(Pipeline.StoredCols.map(col): _*))(_.toSeq.map(Pipeline.storedRow))
      Seq(rollup -> (() => Check.rollup(rollup.value, rollupRef)),
        windowed -> (() => Check.windows(windowed.value, windowRef)),
        recent -> (() => Check.recent(gen, recent.value, rows, recentFrom)))
    }

    // untimed rounds, so that first-use costs (codegen, JIT) land in set-up
    (0 until WarmRounds).flatMap(round).foreach { case (_, check) =>
      val problems = check()
      require(problems.isEmpty, s"warm-up read wrong: ${problems.mkString("; ")}")
    }

    note("window")
    val window = new Window(ctx)
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    val reads = mutable.ArrayBuffer[Seq[(Read[_], () => Seq[String])]]()
    var r = WarmRounds
    while (System.nanoTime() < deadline) { reads += round(r); r += 1 }
    val elapsed = (System.nanoTime() - t0) / 1e9
    window.close(res)
    heap += Stats.liveHeapMb()

    val all = reads.flatten
    res.attempted = all.size
    all.foreach { case (_, check) =>
      val problems = check()
      if (problems.nonEmpty) res.fail(1, problems)
    }
    val m = res.metrics
    note(s"checked; read ms ${all.map(r => (r._1.total * 1000).toLong).mkString(",")}")
    // a round reads each table shape once; its mean read is the latency
    m("latency_ms") = Stats.median(reads.map(r => r.map(_._1.total * 1000).sum / r.size).toSeq)
    m("ops_per_s") = all.size / elapsed
    m("cpu_ms_per_op") = m("jvm.thread_cpu_s") * 1000 / all.size
    m("stored_bytes_per_row") = tables.map(_.tableBytes).sum.toDouble / (Tables * FillScrapes)
    m("live_heap_peak_mb") = heap.max

    if (ctx.traced) {
      // the fills bypass the stream: a short stream on a fresh table gives
      // the source and streaming metrics
      val s = new Pipeline(ctx.spark, ctx.work.resolve("stream"), gen, ctx.tracer)
      s.start(); s.awaitCommits(TracedCommits); s.drainAndStop()
      ingestPath(ctx, res, Seq(s), tables.last.fillSeconds, tables.last)
      m("storage.read_build_s") = Stats.median(ctx.tracer.all
        .filter(s => s.name == "storage.read_build" && s.traceId >= WarmRounds).map(_.seconds))
      def perRound(f: Read[_] => Double) = Stats.median(reads.map(_.map(x => f(x._1)).sum).toSeq)
      m("query.build_s") = perRound(_.build)
      m("query.plan_s") = perRound(_.plan)
      m("query.exec_s") = perRound(_.exec)
      val (kept, total) = tables.head.table.pruneReport(
        col("timestamp") >= lit(new java.sql.Timestamp(recentFrom / 1000)))
      m("storage.prune_kept_ratio") = kept.toDouble / total
    }
    res
  }
}
