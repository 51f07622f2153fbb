package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Config-robustness differential harness: every registered query must
  * return the IDENTICAL result under adversarial session configs — AQE
  * off, whole-stage codegen off (the interpreted Expression paths), a
  * hostile shuffle-partition count, and broadcasts off (which also plans
  * small `FactTable` aggregates and merges distributed instead of in one
  * task). Each variant exercises a different physical execution of the
  * same logical plan, so a pass means no query's answer depends on plan
  * shape, partition count, fold order, or the codegen/interpreted
  * split — the class of bug the single-config
  * oracle gate cannot see (a result that is wrong the same way under one
  * config hashes green there). Deterministic-output is already the
  * registry's contract (QueryDef scaladoc); this harness enforces it
  * across executions rather than across engines.
  *
  * Comparison: per row, xxhash64 of the canonical to_json(struct(*));
  * summed as DECIMAL(38,0) so the fingerprint is order-independent
  * (queries end in ORDER BY for the driver gate, but a fingerprint must
  * not depend on it — partition count legitimately reorders equal keys).
  * Row count rides along so a hash collision cannot mask a cardinality
  * change.
  *
  * Usage: `sbt "runMain graft.ConfigDiff <sfDir> [q1,q2,...]"`.
  * Prints one line per (query, variant) mismatch, a JSON summary, and
  * exits nonzero on any mismatch.
  */
object ConfigDiff {
  private val variants: Seq[(String, Map[String, String])] = Seq(
    "aqe_off" -> Map("spark.sql.adaptive.enabled" -> "false"),
    "codegen_off" -> Map("spark.sql.codegen.wholeStage" -> "false"),
    "shuffle5" -> Map("spark.sql.shuffle.partitions" -> "5"),
    // turns off the small-read rule (SmallReadOnePartition) and the Buffer
    // flush's driver-side merge, both keyed on this size
    "broadcast_off" -> Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"))

  private def fingerprint(df: DataFrame): (java.math.BigDecimal, Long) = {
    val r = df
      .selectExpr(
        "CAST(xxhash64(to_json(struct(*))) AS DECIMAL(38,0)) AS h")
      .selectExpr("sum(h) AS s", "count(*) AS n")
      .collect()(0)
    (r.getDecimal(0), r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(',').toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val baselineConf = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    var nQueries = 0; var nMismatch = 0; var nErrors = 0
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      try {
        baselineConf.foreach { case (k, v) => spark.conf.set(k, v) }
        val base = fingerprint(fn(spark, sfDir))
        val bad = variants.flatMap { case (vn, conf) =>
          conf.foreach { case (k, v) => spark.conf.set(k, v) }
          try {
            val got = fingerprint(fn(spark, sfDir))
            if (got == base) None
            else Some(s"$vn: $got != baseline $base")
          } finally baselineConf.foreach { case (k, v) =>
            spark.conf.set(k, v)
          }
        }
        nQueries += 1
        if (bad.nonEmpty) {
          nMismatch += 1
          println(s"MISMATCH $name  ${bad.mkString("; ")}")
        }
      } catch {
        // harness errors are NOT robustness mismatches: count them
        // separately (still gate-failing) and let fatal JVM errors
        // (OOM, stack overflow) propagate — a dying JVM must crash the
        // sweep loudly, not be folded into the mismatch tally
        case scala.util.control.NonFatal(e) =>
          nQueries += 1; nErrors += 1
          println(s"ERROR $name  harness error: ${e.getMessage}")
      }
    }
    println(s"""{"metric":"config_diff","queries":$nQueries,""" +
      s""""variants":${variants.size},"mismatches":$nMismatch,""" +
      s""""errors":$nErrors,"sf":"$sfDir"}""")
    spark.stop()
    if (nMismatch > 0 || nErrors > 0) sys.exit(1)
  }
}
