package graft.streaming

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pluggable external-database batch sink — literal parity with the
  * reference's ClickHouse insert consumer (mb8600.py:294-311: a queue
  * drained by batched `INSERT` statements over the wire), generalized to
  * any JDBC target, as a `foreachBatch` sink:
  *
  * {{{
  * val sink = new JdbcBatchSink("jdbc:derby:/data/db;create=true", "docsis")
  * parsed.writeStream.foreachBatch(sink.addBatch _).start()
  * }}}
  *
  * Delivery semantics — deliberately STRONGER than the reference, which
  * logs and drops a batch that fails to insert (mb8600.py:308-311, the
  * queue item is already consumed when the error hits):
  *
  *  - every row lands tagged with its micro-batch id (`_batch_id`), so
  *    the sink's writes are REPLAY-IDENTIFIABLE;
  *  - with `exactlyOnce=true` (default), a batch insert is preceded by
  *    `DELETE ... WHERE _batch_id = <id>` — a foreachBatch retry of a
  *    partially-inserted batch first erases its own debris, so the
  *    table CONVERGES to exactly-once on any transactional target
  *    (the standard idempotent-foreachBatch recipe; delete+insert are
  *    not one transaction, but every retry re-runs both halves);
  *  - with `exactlyOnce=false` the sink is plain at-least-once append —
  *    for targets where DELETE is expensive or unsupported
  *    (ClickHouse-over-JDBC), downstream dedup keys on `_batch_id`.
  *
  * Scale: the INSERT itself is Spark's executor-parallel JDBC writer —
  * one connection per input partition, statements batched `batchsize`
  * rows at a time (pass e.g. `"batchsize" -> "10000"` in `options`),
  * so a 1000-executor cluster streams partitions into the target
  * concurrently; only the per-batch DELETE runs on the driver (one
  * indexed statement, O(retry debris)). Repartition upstream to match
  * the target's ingest parallelism.
  */
class JdbcBatchSink(url: String, table: String,
    options: Map[String, String] = Map.empty,
    exactlyOnce: Boolean = true) {

  val batchCol = "_batch_id"

  def addBatch(df: DataFrame, batchId: Long): Unit = {
    if (exactlyOnce) deleteBatch(batchId)
    df.withColumn(batchCol, lit(batchId))
      .write.mode("append")
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .options(options)
      .save()
  }

  /** Driver-side idempotence guard. A missing table (first batch ever —
    * the insert path creates it) is the one swallowed error; anything
    * else propagates so the streaming query retries the batch.
    */
  private def deleteBatch(batchId: Long): Unit = {
    val props = new Properties()
    options.foreach { case (k, v) => props.setProperty(k, v) }
    val conn = DriverManager.getConnection(url, props)
    try {
      val st = conn.prepareStatement(
        s"""DELETE FROM $table WHERE "$batchCol" = ?""")
      try { st.setLong(1, batchId); st.executeUpdate() }
      finally st.close()
    } catch {
      case _: java.sql.SQLException if !tableExists(conn) => // first batch
      case e: java.sql.SQLException => throw e
    } finally conn.close()
  }

  private def tableExists(conn: java.sql.Connection): Boolean = {
    val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
    try {
      var found = false
      while (!found && rs.next())
        found = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
      found
    } finally rs.close()
  }
}
