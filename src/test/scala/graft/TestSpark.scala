package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. A fence job afterwards proves
    * every earlier job-start event has reached the listener.
    */
  def jobsDuring[A](body: => A): (A, Int) = {
    val key = "graft.jobProbe"
    val bodyJobs = new java.util.concurrent.atomic.AtomicInteger()
    val fenced = new java.util.concurrent.atomic.AtomicBoolean()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).foreach {
          case "body" => bodyJobs.incrementAndGet()
          case "fence" => fenced.set(true)
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(key, "body")
      val out = try body finally sc.setLocalProperty(key, "fence")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!fenced.get && System.nanoTime() < deadline) Thread.sleep(10)
      assert(fenced.get, "fence job never reached the listener")
      (out, bodyJobs.get)
    } finally { sc.setLocalProperty(key, null); sc.removeSparkListener(l) }
  }
}
