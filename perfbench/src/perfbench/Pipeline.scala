package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.TransportRegistry
import graft.storage.{BufferedFactSink, FactTable}
import graft.streaming.DocsisStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** One addBatch that returned: its batch id, wall-clock return time and
  * duration.
  */
final case class Commit(batchId: Long, doneMs: Long, seconds: Double)

/** The reference topology, driven through the program's public entry
  * points: fake modem → `HnapScrapeProvider` → `DocsisStream.parseStream`
  * → `BufferedFactSink` (shipped Buffer thresholds) → `FactTable`, as a
  * closed loop with `Trigger.ProcessingTime(0)`: one poll per micro-batch.
  * The stream's polls start at slot `firstSlot`; `fill` writes the slots
  * before it straight through the sink.
  */
final class Pipeline(spark: SparkSession, dir: Path, val gen: ModemGenerator,
    tracer: Tracer, firstSlot: Int = 0) {
  private val id = dir.toString
  val modem = new FakeModem(gen, tracer, firstSlot)
  TransportRegistry.register(id, modem)
  val table = new FactTable(dir.resolve("table").toString, spark)
  private val sink = new BufferedFactSink(table)
  private val commitLog = mutable.ArrayBuffer[Commit]()
  private val fillLog = mutable.ArrayBuffer[Double]()
  @volatile private var draining = false
  @volatile private var drained = false
  private var query: StreamingQuery = _

  /** Writes polls `0 until firstSlot` without the stream, one poll per
    * `addBatch` as the stream would: the parsed poll goes to the sink under
    * a transaction id the stream never uses. Poll k is stamped
    * `Pipeline.FillEpochMs + 10 s * k`.
    */
  def fill(): Unit = {
    import spark.implicits._
    (0 until firstSlot).foreach { k =>
      val raw = Seq((gen.payload(gen.scrape(k)), Check.Modem, 0.01,
          new java.sql.Timestamp(Pipeline.FillEpochMs + 1000L * ModemGenerator.PollSeconds * k)))
        .toDF("payload", "modem_name", "scrape_latency", "timestamp")
      val t0 = System.nanoTime()
      tracer.span("storage.add_batch", Pipeline.FillTxn + k)(
        sink.addBatch(DocsisStream.parseStream(raw), Pipeline.FillTxn + k))
      fillLog += (System.nanoTime() - t0) / 1e9
    }
  }

  /** Seconds of each `fill` addBatch, in order. */
  def fillSeconds: Seq[Double] = fillLog.toList

  def start(): Unit = {
    val raw = spark.readStream
      .format("graft.sources.HnapScrapeProvider")
      .option("transportId", id).option("modemName", Check.Modem)
      .load()
    query = DocsisStream.parseStream(
        raw.withColumn("timestamp", col("timestamp").cast("timestamp")))
      .writeStream
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .outputMode("append")
      .foreachBatch((df: DataFrame, batchId: Long) => onBatch(df, batchId))
      .trigger(Trigger.ProcessingTime(0L))
      .start()
  }

  // After a drain request the next batch is not handed to the sink, so the
  // query can be stopped while no addBatch is running.
  private def onBatch(df: DataFrame, batchId: Long): Unit =
    if (draining) drained = true
    else {
      val t0 = System.nanoTime()
      tracer.span("storage.add_batch", batchId)(sink.addBatch(df, batchId))
      val c = Commit(batchId, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
      commitLog.synchronized(commitLog += c)
    }

  def commits: Seq[Commit] = commitLog.synchronized(commitLog.toList)

  private def failIfDead(): Unit =
    if (!query.isActive)
      throw new IllegalStateException("ingest query stopped", query.exception.orNull)

  /** Waits for `n` stream commits; the limit is per run, not per batch. */
  def awaitCommits(n: Int, timeoutS: Double = 60): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (commits.size < n) {
      failIfDead()
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"only ${commits.size} of $n batches committed")
      Thread.sleep(5)
    }
  }

  /** Lets the running addBatch, at most one, finish, then stops the query. */
  def drainAndStop(): Unit = {
    draining = true
    val deadline = System.nanoTime() + 60e9.toLong
    while (!drained && query.isActive && System.nanoTime() < deadline) Thread.sleep(2)
    failIfDead()
    stop()
  }

  def stop(): Unit = {
    query.stop()
    query.awaitTermination()
  }

  def progress: Seq[StreamingQueryProgress] = query.recentProgress.toSeq

  /** Committed batches' progress records. */
  def committedProgress: Seq[StreamingQueryProgress] = {
    val ids = commits.map(_.batchId).toSet
    progress.filter(p => ids.contains(p.batchId))
  }

  def tableBytes: Long = {
    val s = Files.walk(dir.resolve("table"))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}

object Pipeline {
  /** First `fill` transaction id, far above any stream batch id. */
  val FillTxn = 1L << 40
  /** Stamp of filled poll 0: 2026-01-01T01:00:00Z. */
  val FillEpochMs = 1767229200000L

  private def micros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000) % 1000

  val StoredCols: Seq[String] = Seq("modem_uptime", "timestamp",
    "modem_config_filename", "modem_version", "downstream_channels", "upstream_channels")

  def storedRow(r: Row): StoredRow = StoredRow(
    uptime = r.getLong(0), tsMicros = micros(r.getTimestamp(1)),
    config = r.getString(2), version = r.getString(3),
    down = r.getSeq[Row](4).map(d => DownRow(d.getInt(0), d.getFloat(1), d.getString(2),
      d.getFloat(3), d.getFloat(4), d.getLong(5), d.getLong(6))),
    up = r.getSeq[Row](5).map(u => UpRow(u.getInt(0), u.getFloat(1), u.getString(2),
      u.getFloat(3), u.getFloat(4))))

  def windowStats(r: Row): WindowStats = WindowStats(
    micros(r.getStruct(0).getTimestamp(0)), r.getString(1), r.getInt(2),
    r.getDouble(3), r.getFloat(4), r.getLong(5))

  /** Scrape offsets [start, end) a progress record covers. */
  def offsets(p: StreamingQueryProgress): (Long, Long) = {
    val s = p.sources.head
    (Option(s.startOffset).map(_.trim.toLong).getOrElse(0L), s.endOffset.trim.toLong)
  }

  /** `data/<base-uuid>/date=.../part` → number of distinct base roots. */
  def baseGenerations(table: FactTable): Int =
    table.snapshot().dataFiles.filter(_.tier == FactTable.TierBase)
      .map(f => "/(base-[^/]+)/".r.findFirstMatchIn(f.path).map(_.group(1)).getOrElse(f.path))
      .distinct.size
}
