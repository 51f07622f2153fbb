package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

/** A timed call from the benchmark into one layer of the program. Spans
  * of one scrape or one dashboard read share `traceId`.
  */
final case class Span(id: Long, parent: Long, traceId: Long, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written as JSON lines when the run ends. A
  * disabled tracer only runs the body, so untraced runs pay nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue = Nil }

  def span[T](name: String, traceId: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = open.get
      open.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(parents)
        spans.synchronized {
          spans += Span(id, parents.headOption.getOrElse(0L), traceId, name, t0, t1)
        }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def seconds(name: String): Seq[Double] = all.filter(_.name == name).map(_.seconds)

  def write(path: java.nio.file.Path): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val out = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      val n = mapper.createObjectNode()
      n.put("name", s.name); n.put("id", s.id); n.put("parent", s.parent)
      n.put("trace", s.traceId); n.put("start_ns", s.startNs); n.put("end_ns", s.endNs)
      out.append(mapper.writeValueAsString(n)).append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, out)
  }
}

object Tracer {
  val Off = new Tracer(false)
}

/** Spark's own counters over the timed window: jobs, tasks, shuffle and
  * spill bytes, and the worst stage's slowest-task / median-task ratio.
  */
final class SparkCounters extends SparkListener {
  @volatile var counting = false
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  private val taskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (counting) jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (counting) {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    taskMs.synchronized {
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer()) +=
        e.taskInfo.duration
    }
  }

  /** max over stages with 2+ tasks of max / median task time; 1 if none. */
  def taskSkew: Double = taskMs.synchronized {
    taskMs.values.filter(_.size >= 2).map { ts =>
      ts.max.toDouble / math.max(1.0, Stats.median(ts.map(_.toDouble).toSeq))
    }.maxOption.getOrElse(1.0)
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** Mean of the last w values over the mean of the first w, w an even
    * count near a fifth of the series. The shipped Buffer thresholds
    * flush every second batch, so durations alternate between two modes;
    * an even window holds as many flush batches at each end.
    */
  def growth(xs: Seq[Double]): Double = {
    val w = math.min(xs.size, 2 * math.max(1, xs.size / 10))
    mean(xs.takeRight(w)) / mean(xs.take(w))
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Time the JIT compiler threads spent compiling. */
  def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** CPU seconds used by this process, all threads. */
  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** CPU nanoseconds of each live Java thread by id. The JVM's own GC
    * and JIT compiler threads are not among them.
    */
  def threadCpuNs(): Map[Long, Long] = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  /** CPU seconds Java threads used since `before` was taken; threads that
    * started since count whole, threads that ended since are lost.
    */
  def threadCpuSince(before: Map[Long, Long]): Double =
    threadCpuNs().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.filter(_ > 0).sum / 1e9

  /** Median over consecutive pairs of the pair's mean. The shipped
    * Buffer thresholds flush every second batch, so per-batch times
    * alternate between two modes and every pair holds one of each.
    */
  def pairMedian(xs: Seq[Double]): Double =
    median(xs.grouped(2).filter(_.size == 2).map(p => (p(0) + p(1)) / 2).toSeq)

  /** (stolen, total) CPU ticks of the whole machine since boot, from the
    * first line of /proc/stat; (0, 0) where there is none. Stolen ticks
    * are time a virtual CPU was ready but the hypervisor ran something else.
    */
  def cpuTicks(): (Long, Long) = {
    val stat = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.isReadable(stat)) (0L, 0L)
    else {
      val ticks = java.nio.file.Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (ticks.length > 7) ticks(7) else 0L, ticks.sum)
    }
  }

  /** Compiled code held by the JVM, in MB. */
  def codeCacheMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.NON_HEAP)
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("CodeCache"))
      .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  /** Heap still in use after a full collection, in MB. */
  def liveHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }
}
