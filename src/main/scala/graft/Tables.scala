package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet test tables (TESTDATA.md).
  * All reads go through `spark.read.parquet` so filter pushdown, column
  * pruning and partition-size splitting apply unchanged at any SF.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else
      spark.read.parquet(s"$dir/$name.parquet")

  /** Explicit read schema for events.parquet when ts is TIMESTAMP(NANOS),
    * which Spark's schema inference rejects — an explicit LongType request
    * reads the raw nanos without touching any session conf (no hidden
    * `spark.sql.legacy.parquet.nanosAsLong` mutation, so unrelated parquet
    * reads stay order-independent).
    */
  val eventsRawSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", LongType), // nanos-as-long
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  /** events.ts loader keyed off the parquet footer's actual logical type —
    * never hardcode the physical encoding (the testdata generator has
    * shipped both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) variants):
    *  - TIMESTAMP(MICROS/MILLIS): plain schema inference works; NTZ
    *    (isAdjustedToUTC=false) is cast to TimestampType, lossless under
    *    the engine's fixed UTC session timezone.
    *  - raw int64 with no annotation: treated as epoch nanos.
    *  - TIMESTAMP(NANOS): inference throws; fall back to the explicit
    *    LongType schema and truncate ns→µs (the same truncation DuckDB
    *    applies, so oracle comparisons see identical instants).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val path = s"$dir/events.parquet"
    scala.util.Try(spark.read.parquet(path)) match {
      case scala.util.Success(df) =>
        df.schema.find(_.name == "ts").map(_.dataType) match {
          case Some(TimestampType) => df
          case Some(TimestampNTZType) =>
            df.withColumn("ts", col("ts").cast(TimestampType))
          case Some(LongType) =>
            df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case _ => df
        }
      case scala.util.Failure(_) => // TIMESTAMP(NANOS) footer
        spark.read.schema(eventsRawSchema).parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }
  }

  /** Register every table as a temp view (for spark.sql entry points). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Round-robin spread for NARROW scans feeding an expensive per-row
    * expression lane (guide §2.5 input skew): a sub-split-size file scans
    * as ONE task, serializing md5/fold/decode passes however many cores
    * the cluster has — measured as the dominant term of several text and
    * multimodal operators at bench SFs, and the reason they ran faster
    * at 8 cores than 32. Conditional on the frame's planned scan
    * parallelism, so at production scale (scans already >= cluster
    * parallelism) it is a NO-OP — never a gratuitous full-corpus text
    * shuffle. The round-robin exchange carries only the projected
    * columns and never changes row content; downstream results are
    * partitioning-independent.
    *
    * `ds.rdd` below only PLANS the frame: every caller passes a file
    * scan plus projections/unions (no exchange, so AQE does not wrap
    * the plan), whose RDD and partition list are built on the driver
    * without a Spark job. The count it reports is the planned, pre-AQE
    * file-split count — the parallelism the scan would start with.
    */
  def spread[T](ds: org.apache.spark.sql.Dataset[T])
      : org.apache.spark.sql.Dataset[T] = {
    val par = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions >= math.min(par, 16)) ds
    else ds.repartition(par)
  }
}
