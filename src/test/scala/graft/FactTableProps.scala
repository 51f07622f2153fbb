package graft

import graft.storage.{BufferedFactSink, FactTable}
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property: any interleaving of appends (including replayed txn ids),
  * compactions, TTL expirations, and targeted deletions preserves
  * exactly the row multiset an in-memory model predicts, and read()
  * always reflects the log snapshot. Appends are single-day and both
  * rewrite paths re-partition by date, so part-granular TTL is
  * row-exact here and the model stays simple.
  */
object FactTableProps extends Properties("FactTable") {
  import TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(6)

  sealed trait Op
  final case class Append(txn: Long, n: Int, day: Int) extends Op
  case object Compact extends Op
  final case class Ttl(day: Int) extends Op
  final case class Delete(txn: Long) extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    5 -> (for {
      txn <- Gen.choose(0L, 5L) // small domain → replays happen
      n <- Gen.choose(1, 8)
      day <- Gen.choose(1, 3)
    } yield Append(txn, n, day)),
    1 -> Gen.const(Compact),
    1 -> Gen.choose(1, 4).map(Ttl(_)),
    1 -> Gen.choose(0L, 5L).map(Delete(_)))

  property("append/compact/ttl/delete interleavings match the model") =
    forAll(Gen.listOfN(10, opGen)) { ops =>
      val t = new FactTable(
        java.nio.file.Files.createTempDirectory("fact_props").toString, spark)
      var committed = Set.empty[Long]           // txn ids ever applied
      var rows = Map.empty[Long, (Int, Int)]    // txn -> (n, day) still live
      ops.foreach {
        case Append(txn, n, day) =>
          val df = (1 to n).map(i => ("m" + txn,
            java.sql.Timestamp.valueOf(f"2024-03-0$day 00:00:${i % 60}%02d"),
            i.toLong)).toDF("modem_name", "timestamp", "uptime")
            .withColumn("date", org.apache.spark.sql.functions.to_date($"timestamp"))
          val applied = t.append(df, txn)
          // exactly the first append with a txn id applies; replays are
          // no-ops even after the txn's rows were deleted or expired
          assert(applied == !committed(txn),
            s"append($txn) applied=$applied, committed=${committed(txn)}")
          if (applied) { committed += txn; rows += txn -> (n, day) }
        case Compact => t.compact()
        case Ttl(day) =>
          t.ttlExpire(f"2024-03-0$day")
          rows = rows.filter { case (_, (_, d)) => d >= day }
        case Delete(txn) =>
          val deleted = t.deleteWhere($"modem_name" === ("m" + txn))
          val want = rows.get(txn).map(_._1.toLong).getOrElse(0L)
          assert(deleted == want,
            s"deleteWhere(m$txn) removed $deleted rows, model says $want")
          rows -= txn
      }
      val want = rows.map { case (txn, (n, _)) => ("m" + txn, n.toLong) }
      if (want.isEmpty) true
      else {
        val got = t.read().groupBy($"modem_name")
          .count().as[(String, Long)].collect().toMap
        got == want
      }
    }

  /** Property: the set skip index NEVER changes results — for any part
    * layout (random interleaved key sets per part) and any equality or
    * IN probe (present, absent, or mixed), `readWhere` returns exactly
    * `read().where`. This is the contract every skipping structure must
    * hold: pruning may only drop files PROVEN empty of matches.
    */
  property("set-index pruned reads equal unpruned reads for any probe") =
    forAll(for {
      nParts <- Gen.choose(1, 3)
      parts <- Gen.listOfN(nParts, Gen.nonEmptyListOf(Gen.choose(0, 9)))
      probe <- Gen.choose(0, 9)
      inKeys <- Gen.nonEmptyListOf(Gen.choose(0, 9)).map(_.distinct.take(4))
    } yield (parts, probe, inKeys)) { case (parts, probe, inKeys) =>
      val t = new FactTable(
        java.nio.file.Files.createTempDirectory("fact_setprop").toString,
        spark, setIndexCols = Seq("modem_name"))
      parts.zipWithIndex.foreach { case (keys, i) =>
        val df = keys.zipWithIndex.map { case (k, j) => (f"k$k%02d",
          java.sql.Timestamp.valueOf(f"2024-03-01 00:00:${j % 60}%02d"),
          j.toLong) }
          .toDF("modem_name", "timestamp", "uptime")
          .withColumn("date",
            org.apache.spark.sql.functions.to_date($"timestamp"))
        t.append(df.coalesce(1), i.toLong)
      }
      val all = t.read()
      val eqCond = $"modem_name" === f"k$probe%02d"
      val inCond = $"modem_name".isin(inKeys.map(k => f"k$k%02d"): _*)
      t.readWhere(eqCond).count() == all.where(eqCond).count() &&
        t.readWhere(inCond).count() == all.where(inCond).count()
    }

  sealed trait LogOp
  final case class Write(second: Boolean, txn: Long, n: Int, day: Int) extends LogOp
  case object Compaction extends LogOp
  case object Flush extends LogOp
  final case class SoftDelete(uptime: Long) extends LogOp
  case object Vacuum extends LogOp
  case object Checkpoint extends LogOp

  private val logOpGen: Gen[LogOp] = Gen.frequency(
    4 -> (for {
      second <- Gen.oneOf(false, true)
      txn <- Gen.choose(0L, 6L)
      n <- Gen.choose(1, 5)
      day <- Gen.choose(1, 2)
    } yield Write(second, txn, n, day)),
    1 -> Gen.const(Compaction),
    2 -> Gen.const(Flush),
    1 -> Gen.choose(1L, 5L).map(SoftDelete(_)),
    1 -> Gen.const(Vacuum),
    1 -> Gen.const(Checkpoint))

  /** Property: the incremental replay is invisible — after every step of
    * any sequence of writes (by this instance or a second one on the same
    * root), compactions, sink flushes, soft deletes, vacuums and
    * checkpoints, `snapshot()` and `snapshot(asOf)` at every version equal
    * a fresh instance's full replay, and so does an instance that catches
    * up on the whole sequence in one call.
    */
  property("incremental snapshots equal a fresh full replay at every version") =
    forAll(Gen.listOfN(8, logOpGen)) { ops =>
      val root = java.nio.file.Files.createTempDirectory("fact_replay").toString
      val t = new FactTable(root, spark)
      val second = new FactTable(root, spark)
      // replays the empty log now and every later commit at once, at the end
      val lagging = new FactTable(root, spark)
      lagging.snapshot()
      val sink = new BufferedFactSink(t, maxAgeMs = Long.MaxValue / 2,
        maxRows = 1, maxBytes = Long.MaxValue)
      ops.forall { op =>
        op match {
          case Write(other, txn, n, day) =>
            val df = (1 to n).map(i => ("m" + txn,
              java.sql.Timestamp.valueOf(f"2024-03-0$day 00:00:${i % 60}%02d"),
              i.toLong)).toDF("modem_name", "timestamp", "uptime")
              .withColumn("date", org.apache.spark.sql.functions.to_date($"timestamp"))
            (if (other) second else t).append(df, txn)
          case Compaction => t.compact()
          case Flush => sink.maybeFlush()
          case SoftDelete(u) => t.softDelete($"uptime" === u, Seq("modem_name", "uptime"))
          case Vacuum => t.vacuum()
          case Checkpoint => t.checkpoint()
        }
        val head = new FactTable(root, spark).snapshot()
        t.snapshot() == head && second.snapshot() == head &&
          (0L until head.nextVersion).forall(v =>
            t.snapshot(asOf = v) == new FactTable(root, spark).snapshot(asOf = v))
      } && lagging.snapshot() == new FactTable(root, spark).snapshot()
    }
}
