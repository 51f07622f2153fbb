package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import graft.storage.{BufferedFactSink, FactTable}
import graft.streaming.DocsisStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Where running an aggregate or window over a `FactTable` read in one
  * task stops paying. One table grows through `BufferedFactSink` (the
  * benchmark's seeded MB8600 polls, `Batch` polls per `addBatch`); each
  * time its logged bytes pass a checkpoint, the dashboard's rollup and
  * `DocsisStream.snrWindowed` run in alternating pairs: over a
  * `coalesce(1)` of the read (the plan `SmallReadOnePartition` makes: one
  * task, no exchange) and over the plain read (the distributed plan). The
  * rule is off (`spark.sql.autoBroadcastJoinThreshold=-1`), so its own
  * size cut does not decide either side. Prints one line per checkpoint
  * and shape: median wall ms and process CPU ms per read on each side,
  * and the pairs the one-task plan won on wall time.
  *
  * Args: <work dir> <checkpoints in kB, comma-separated> [pairs] [seed]
  */
object OneTaskCrossover {
  val Batch = 50

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val checkpoints = args(1).split(",").map(_.trim.toLong * 1024)
    val pairs = if (args.length > 2) args(2).toInt else 15
    val gen = new ModemGenerator(if (args.length > 3) args(3).toLong else 1L)
    Files.createDirectories(work)
    val spark = Main.session(work)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import spark.implicits._
    val table = new FactTable(work.resolve("table").toString, spark)
    val sink = new BufferedFactSink(table)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def bytes = table.snapshot().dataFiles.map(_.bytes).sum
    var polls = 0
    def grow(): Unit = {
      val raw = (polls until polls + Batch).map { k =>
        (gen.payload(gen.scrape(k)), Check.Modem, 0.01,
          new java.sql.Timestamp(Pipeline.FillEpochMs + 1000L * ModemGenerator.PollSeconds * k))
      }.toDF("payload", "modem_name", "scrape_latency", "timestamp")
      sink.addBatch(DocsisStream.parseStream(raw), polls)
      polls += Batch
    }

    val shapes = Seq[(String, DataFrame => DataFrame)](
      "rollup" -> (_.select(explode(col("downstream_channels")).as("ch"))
        .groupBy(col("ch.channel_id").as("channel_id"))
        .agg(avg(col("ch.snr")), min(col("ch.snr")), count(lit(1)))),
      "windowed" -> DocsisStream.snrWindowed)

    /** Wall and process CPU milliseconds of one read. */
    def timed(shape: DataFrame => DataFrame, oneTask: Boolean): (Double, Double) = {
      val (c0, t0) = (os.getProcessCpuTime, System.nanoTime())
      shape(if (oneTask) table.read().coalesce(1) else table.read()).collect()
      ((System.nanoTime() - t0) / 1e6, (os.getProcessCpuTime - c0) / 1e6)
    }
    def median(xs: Seq[Double]) = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    println("kB\tparts\tpolls\tshape\tone_wall_ms\tdist_wall_ms\twall_ratio\twins\tone_cpu_ms\tdist_cpu_ms\tcpu_ratio")
    checkpoints.foreach { target =>
      while (bytes < target) grow()
      val parts = table.snapshot().dataFiles.size
      shapes.foreach { case (name, shape) =>
        (0 until 3).foreach { _ => timed(shape, true); timed(shape, false) }
        // even pairs run the one-task side first, odd pairs the other
        val runs = (0 until pairs).map { i =>
          if (i % 2 == 0) { val one = timed(shape, true); (one, timed(shape, false)) }
          else { val dist = timed(shape, false); (timed(shape, true), dist) }
        }
        val (one, dist) = runs.unzip
        val wins = runs.count { case (o, d) => o._1 < d._1 }
        val (ow, dw) = (median(one.map(_._1)), median(dist.map(_._1)))
        val (oc, dc) = (median(one.map(_._2)), median(dist.map(_._2)))
        println(f"${bytes / 1024}\t$parts\t$polls\t$name\t$ow%.1f\t$dw%.1f\t${ow / dw}%.3f\t$wins/$pairs\t$oc%.1f\t$dc%.1f\t${oc / dc}%.3f")
      }
    }
    spark.stop()
  }
}
