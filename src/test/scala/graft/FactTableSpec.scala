package graft

import graft.sources.DocsisFixtures
import graft.storage.{BufferedFactSink, FactTable}
import graft.streaming.DocsisStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The transaction-logged fact table: atomic append/compact via the JSON
  * log, foreachBatch idempotence, snapshot isolation across compaction,
  * Buffer-style dual-threshold flushing, and sortedness of compacted
  * parts.
  */
class FactTableSpec extends AnyFunSuite {
  import TestSpark.{jobsDuring, spark}
  import spark.implicits._

  private def freshTable(): FactTable = new FactTable(
    java.nio.file.Files.createTempDirectory("fact_table").toString, spark)

  private def rows(n: Int, day: String, modem: String) =
    (1 to n).map(i => (modem, java.sql.Timestamp.valueOf(s"$day 00:0${i % 6}:0${i % 10}"), i.toLong))
      .toDF("modem_name", "timestamp", "uptime")
      .withColumn("date", to_date($"timestamp"))

  test("append is idempotent on txnId (foreachBatch retry is a no-op)") {
    val t = freshTable()
    assert(t.append(rows(5, "2024-03-01", "m1"), txnId = 0))
    assert(!t.append(rows(5, "2024-03-01", "m1"), txnId = 0)) // retry
    assert(t.append(rows(3, "2024-03-02", "m2"), txnId = 1))
    assert(t.read().count() == 8)
  }

  test("AggView heals a writer crash between the base and view commits") {
    val bdir = java.nio.file.Files.createTempDirectory("aggv_base").toString
    val vdir = java.nio.file.Files.createTempDirectory("aggv_view").toString
    val mv = new graft.storage.AggView(bdir, vdir, spark,
      keyCols = Seq("modem_name"), sumCols = Seq("uptime"))
    mv.insert(rows(5, "2024-03-01", "m1"), 0)
    // simulate the crash: batch 1 reaches the BASE only (the writer died
    // before the view commit) — the view now lags the base
    val crashed = rows(4, "2024-03-01", "m2")
    assert(mv.base.append(crashed, 1))
    val lagging = mv.readAggregate().agg(sum($"n")).as[Long].head()
    assert(lagging == 5, "view must not see the half-committed batch")
    // the standard un-acked replay heals exactly the missing side
    assert(mv.insert(crashed, 1) == ((false, true)))
    val healed = mv.readAggregate()
      .orderBy($"modem_name").as[(java.sql.Date, String, Long, Long)]
      .collect().toSeq
    assert(healed.map(_._3).sum == 9)
    // a further replay is a full no-op on both sides
    assert(mv.insert(crashed, 1) == ((false, false)))
    assert(mv.readAggregate().orderBy($"modem_name")
      .as[(java.sql.Date, String, Long, Long)].collect().toSeq == healed)
    // convergence is answer-neutral here too
    mv.converge()
    assert(mv.readAggregate().orderBy($"modem_name")
      .as[(java.sql.Date, String, Long, Long)].collect().toSeq == healed)
  }

  test("ttlColumn blanks expired payloads only, travels, re-runs idempotently") {
    val dir = java.nio.file.Files.createTempDirectory("fact_ttlcol").toString
    val t = new FactTable(dir, spark)
    def day(d: String, props: Seq[String]) =
      props.zipWithIndex.map { case (p, i) =>
        ("m1", java.sql.Timestamp.valueOf(s"$d 01:02:03"), i.toLong, p)
      }.toDF("modem_name", "timestamp", "uptime", "props")
        .withColumn("date", to_date($"timestamp"))
    t.append(day("2024-03-01", Seq("a=1", "a=2")), 0)
    t.append(day("2024-03-05", Seq("b=1", "b=2")), 1)
    t.compact(sortCols = Seq("modem_name"))
    val preVersion = t.snapshot().nextVersion - 1
    assert(t.ttlColumn("2024-03-05", "props", lit("")) > 0L)
    val got = t.read().select($"date".cast("string"), $"props")
      .as[(String, String)].collect().toSet
    assert(got == Set(("2024-03-01", ""),
      ("2024-03-05", "b=1"), ("2024-03-05", "b=2")),
      s"expired payloads must blank, recent must survive: $got")
    assert(t.read().count() == 4, "no row may vanish")
    // time travel to the pre-TTL version still sees the payloads
    val old = t.read(preVersion).filter($"date" < "2024-03-05")
      .select($"props").as[String].collect().toSet
    assert(old == Set("a=1", "a=2"))
    // idempotent: re-run rewrites the constant to the same constant
    t.ttlColumn("2024-03-05", "props", lit(""))
    assert(t.read().select($"date".cast("string"), $"props")
      .as[(String, String)].collect().toSet == got)
  }

  test("ttlMove tiers expired parts to cold, stays invisible, vacuums hot bytes") {
    val dir = java.nio.file.Files.createTempDirectory("fact_ttlmove").toString
    val t = new FactTable(dir, spark)
    def day(d: String, vals: Seq[Long]) =
      vals.map(v => ("m1", java.sql.Timestamp.valueOf(s"$d 01:02:03"), v))
        .toDF("modem_name", "timestamp", "uptime")
        .withColumn("date", to_date($"timestamp"))
    t.append(day("2024-03-01", Seq(1L, 2L)), 0)
    t.append(day("2024-03-05", Seq(3L, 4L)), 1)
    t.compact(sortCols = Seq("modem_name"))
    val preVersion = t.snapshot().nextVersion - 1
    val full = t.read().select($"date".cast("string"), $"uptime")
      .as[(String, Long)].collect().toSet
    val before = t.snapshot().dataFiles.map(_.path).toSet
    assert(t.ttlMove("2024-03-05") > 0L)
    val after = t.snapshot().dataFiles.map(_.path).toSet
    val cold = after -- before
    assert(cold.nonEmpty && cold.forall(_.contains("/cold/data/")),
      s"moved parts must land under the cold volume: $cold")
    assert((after & before).nonEmpty,
      "recent hot parts must survive the move untouched")
    // the move is invisible to reads — every row and value survives
    assert(t.read().select($"date".cast("string"), $"uptime")
      .as[(String, Long)].collect().toSet == full)
    // recent-date predicates stay off the cold volume entirely
    val (hotKept, total) =
      t.pruneReport($"date" >= lit(java.sql.Date.valueOf("2024-03-05")))
    assert(hotKept == (after & before).size && total == after.size,
      s"hot read must prune every cold file: kept $hotKept of $total")
    // time travel to the pre-move version still resolves the hot paths
    assert(t.read(preVersion).count() == 4)
    // idempotent: cold parts never re-move, hot parts cannot expire
    assert(t.ttlMove("2024-03-05") == 0L)
    // vacuum reclaims the displaced hot bytes; cold bytes stay
    t.vacuum()
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val displaced = before -- after
    assert(displaced.nonEmpty && displaced.forall(p =>
      !fsys.exists(new org.apache.hadoop.fs.Path(p))),
      "vacuum must reclaim the moved-out hot files")
    assert(cold.forall(p => fsys.exists(new org.apache.hadoop.fs.Path(p))),
      "vacuum must never touch the live cold files")
    assert(t.read().select($"date".cast("string"), $"uptime")
      .as[(String, Long)].collect().toSet == full)
  }

  test("array bloom: membership prunes, shared tag keeps, mismatched probe conservative") {
    val dir = java.nio.file.Files.createTempDirectory("fact_abloom").toString
    val t = new FactTable(dir, spark, arrayBloomCols = Seq("tags", "nums"))
    def day(d: String, tag: String, n: Long) =
      Seq((java.sql.Date.valueOf(d), tag, n)).toDF("date", "tag", "n")
        .select($"date", array(lit("common"), $"tag").as("tags"),
          array($"n", $"n" + 1).as("nums"))
    t.append(day("2024-03-01", "x1", 10L), 0)
    t.append(day("2024-03-05", "x2", 20L), 1)
    t.compact(sortCols = Nil)
    // rare string element prunes to its part; the shared element keeps all
    val (k1, tot) = t.pruneReport(array_contains($"tags", "x1"))
    assert(tot == 2 && k1 == 1, s"expected 1 of 2 kept, got $k1 of $tot")
    val (kc, _) = t.pruneReport(array_contains($"tags", "common"))
    assert(kc == 2, "a tag present everywhere must never prune")
    // long-element index: a long probe proves absence everywhere...
    val (kl, _) = t.pruneReport(array_contains($"nums", lit(999L)))
    assert(kl == 0, "absent long element must prune every part")
    // ...but a type-mismatched (string) probe must stay conservative —
    // the bloom hashes strings differently, so "absent" would be a lie
    val (ks, _) = t.pruneReport(array_contains($"nums", "999"))
    assert(ks == 2, "mismatched probe type must never prune")
    // pruned read still answers correctly
    assert(t.readWhere(array_contains($"tags", "x2"))
      .select(element_at($"nums", 1)).as[Long].collect().toSeq == Seq(20L))
    // vacuum reclaims the displaced buffer parts' sidecars with them
    t.vacuum()
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val live = t.snapshot().dataFiles.map(_.path)
    assert(live.forall(p => fsys.exists(
      new org.apache.hadoop.fs.Path(p + ".abloom.tags"))),
      "live parts must keep their array-bloom sidecars after vacuum")
  }

  test("SketchView heals crashes, bounds partials, converges answer-neutrally") {
    def userRows(day: String, modem: String, users: Seq[Long]) =
      users.map(u => (modem, java.sql.Timestamp.valueOf(s"$day 01:00:00"), u))
        .toDF("modem_name", "timestamp", "user_id")
        .withColumn("date", to_date($"timestamp"))
    val bdir = java.nio.file.Files.createTempDirectory("skv_base").toString
    val vdir = java.nio.file.Files.createTempDirectory("skv_view").toString
    val mv = new graft.storage.SketchView(bdir, vdir, spark,
      keyCols = Seq("modem_name"), ndvCol = "user_id")
    // overlapping user sets across batches: only a MERGE of states (not
    // a sum of per-batch NDVs) gives the right answer — 1..40 ∪ 21..60
    // ∪ 1..10 = 60 distinct, while summed batch NDVs would say 90
    mv.insert(userRows("2024-03-01", "m1", 1L to 40L), 0)
    mv.insert(userRows("2024-03-01", "m1", 21L to 60L), 1)
    // crash between the two commits: base has txn 2, view does not
    val crashed = userRows("2024-03-01", "m1", 1L to 10L)
    assert(mv.base.append(crashed, 2))
    assert(mv.insert(crashed, 2) == ((false, true)), "replay heals the view")
    assert(mv.insert(crashed, 2) == ((false, false)), "second replay no-ops")
    def served() = mv.readAggregate()
      .as[(java.sql.Date, String, Long, Long)].collect().toSeq.sorted
    val pre = served()
    assert(pre.map(_._3).sum == 90, "row count is additive")
    // sparse HLL at 60 distinct values is exact
    assert(pre.map(_._4).sum == 60, s"merged NDV wrong: $pre")
    // partials bounded by batches x keys, physically collapsed by converge
    assert(mv.view.read().count() == 3)
    mv.converge()
    assert(mv.view.read().count() == 1, "converge must collapse batch states")
    assert(served() == pre, "sketch-union convergence changed an answer")
  }

  test("compact merges buffer parts, preserves rows, swaps atomically") {
    val t = freshTable()
    (0 until 4).foreach(i => t.append(rows(10, "2024-03-01", s"m$i"), i))
    t.append(rows(10, "2024-03-02", "m9"), 4)
    val before = t.read().orderBy($"modem_name", $"timestamp").collect()
    val snapBefore = t.snapshot()
    assert(snapBefore.bufferRows == 50)

    assert(t.compact() == 50)
    val snapAfter = t.snapshot()
    assert(snapAfter.bufferRows == 0, "buffer tier must be empty after merge")
    assert(snapAfter.files.forall(_.tier == FactTable.TierBase))
    // removed paths are no longer referenced or present
    assert(snapBefore.files.map(_.path).toSet
      .intersect(snapAfter.files.map(_.path).toSet).isEmpty)
    val after = t.read().orderBy($"modem_name", $"timestamp").collect()
    assert(after.toSeq == before.toSeq)
    // partition-pruning layout: day dirs exist under the base part
    assert(snapAfter.files.forall(_.path.contains("date=")))
  }

  test("schema evolution: add-column appends merge on read and survive compaction") {
    val t = freshTable()
    t.append(rows(4, "2024-03-01", "m1"), 0)
    // later appends carry a new column (ALTER TABLE ADD COLUMN analog)
    t.append(
      rows(3, "2024-03-02", "m2").withColumn("fw_version", lit("8600-19.2")), 1)
    val merged = t.read()
    assert(merged.columns.contains("fw_version"))
    assert(merged.count() == 7)
    // pre-evolution rows read as NULL, post-evolution rows keep values
    assert(merged.filter($"fw_version".isNull).count() == 4)
    assert(merged.filter($"fw_version" === "8600-19.2").count() == 3)
    // compaction must not lose the evolved column (mergeSchema on the
    // buffer-tier read), and the merged shape survives the rewrite
    t.compact()
    val compacted = t.read()
    assert(compacted.columns.contains("fw_version"))
    assert(compacted.filter($"fw_version".isNull).count() == 4)
    assert(compacted.filter($"fw_version" === "8600-19.2").count() == 3)
    // …and a post-compaction append of the ORIGINAL schema still unions
    t.append(rows(2, "2024-03-03", "m3"), 2)
    assert(t.read().filter($"fw_version".isNull).count() == 6)
  }

  test("compacted parts are sorted within each file (MergeTree ORDER BY)") {
    val t = freshTable()
    (0 until 3).foreach(i => t.append(rows(20, "2024-03-01", s"m${9 - i}"), i))
    t.compact()
    val perFile = t.read()
      .withColumn("f", input_file_name())
      .select($"f", $"modem_name", $"timestamp")
      .as[(String, String, java.sql.Timestamp)].collect().groupBy(_._1)
    perFile.values.foreach { rs =>
      val keys = rs.map(r => (r._2, r._3.getTime))
      assert(keys.toSeq == keys.sortBy(identity).toSeq,
        "rows inside a compacted file must be sorted by (modem_name, ts)")
    }
  }

  test("date filters prune compacted partitions (MergeTree PARTITION BY)") {
    val t = freshTable()
    t.append(rows(10, "2024-03-01", "m1"), 0)
    t.append(rows(10, "2024-03-02", "m2"), 1)
    t.append(rows(10, "2024-03-03", "m3"), 2)
    t.compact()
    // only files under the matching date= directory are read
    val touched = t.read().filter($"date" === "2024-03-02")
      .select(input_file_name()).distinct().as[String].collect()
    assert(touched.nonEmpty && touched.forall(_.contains("date=2024-03-02")),
      s"scan touched non-matching partitions: ${touched.mkString(", ")}")
    assert(t.read().filter($"date" === "2024-03-02").count() == 10)
  }

  test("mixed-tier read: buffered rows and compacted partitions together") {
    val t = freshTable()
    t.append(rows(10, "2024-03-01", "m1"), 0)
    t.compact() // base tier: date=2024-03-01
    t.append(rows(5, "2024-03-02", "m2"), 1) // stays buffered
    val all = t.read()
    assert(all.count() == 15)
    // date is present and correct for BOTH tiers (partition-dir value on
    // the base tier, data column on the buffer tier)
    val byDate = all.groupBy($"date").count().as[(java.sql.Date, Long)]
      .collect().toMap
    assert(byDate(java.sql.Date.valueOf("2024-03-01")) == 10)
    assert(byDate(java.sql.Date.valueOf("2024-03-02")) == 5)
  }

  test("time travel: read(asOfVersion) replays the log to that point") {
    val t = freshTable()
    t.append(rows(10, "2024-03-01", "m1"), 0) // version 0
    t.append(rows(5, "2024-03-02", "m2"), 1)  // version 1
    assert(t.read(asOfVersion = 0).count() == 10)
    assert(t.read(asOfVersion = 1).count() == 15)
    assert(t.read().count() == 15)
    intercept[IllegalStateException](t.read(asOfVersion = -1)) // before v0
  }

  test("time travel survives compaction until vacuum reclaims the files") {
    val t = freshTable()
    t.append(rows(10, "2024-03-01", "m1"), 0) // version 0: buffer parts
    t.compact()                               // version 1: base generation
    // pre-compaction snapshot still serveable — files were not deleted
    assert(t.read(asOfVersion = 0).count() == 10)
    assert(t.read().count() == 10)
    // vacuum with retention keeping version >= 1 deletes the old parts
    assert(t.vacuum(keepFromVersion = 1) > 0)
    assert(t.read().count() == 10) // current snapshot unaffected
    assert(t.vacuum(keepFromVersion = 1) == 0) // idempotent
  }

  test("graft_table SQL TVF reads the logged table, with time travel") {
    val t = freshTable()
    t.append(rows(10, "2024-03-01", "m1"), 0) // version 0
    t.append(rows(5, "2024-03-02", "m2"), 1)  // version 1
    val n = spark.sql(
      s"SELECT COUNT(*) AS n FROM graft_table('${t.root}')")
      .as[Long].head()
    assert(n == 15)
    val n0 = spark.sql(
      s"SELECT COUNT(*) AS n FROM graft_table('${t.root}', 0)")
      .as[Long].head()
    assert(n0 == 10)
    // composes with ordinary SQL
    val byModem = spark.sql(
      s"""SELECT modem_name, COUNT(*) AS n FROM graft_table('${t.root}')
          GROUP BY modem_name ORDER BY modem_name""")
      .as[(String, Long)].collect().toSeq
    assert(byModem == Seq(("m1", 10L), ("m2", 5L)))
  }

  test("majorCompact collapses all generations and tiers into one") {
    val t = freshTable()
    t.append(rows(10, "2024-03-01", "m1"), 0)
    t.compact() // generation 1
    t.append(rows(10, "2024-03-02", "m2"), 1)
    t.compact() // generation 2
    t.append(rows(5, "2024-03-03", "m3"), 2) // buffered
    assert(t.majorCompact() == 25)
    val snap = t.snapshot()
    assert(snap.bufferRows == 0)
    // exactly one generation root remains
    val gens = snap.files.map(_.path.split("/data/")(1).split("/")(0)).toSet
    assert(gens.size == 1, s"expected one generation, got $gens")
    assert(t.read().count() == 25)
    val byModem = t.read().groupBy($"modem_name").count()
      .as[(String, Long)].collect().toMap
    assert(byModem == Map("m1" -> 10L, "m2" -> 10L, "m3" -> 5L))
  }

  test("log-stats data skipping prunes files at plan time (sparse PK index)") {
    val t = freshTable()
    t.append(rows(10, "2024-03-01", "m1").repartition(1), 0)
    t.append(rows(10, "2024-03-02", "m2").repartition(1), 1)
    t.append(rows(10, "2024-03-03", "m3").repartition(1), 2)

    // string-column stats (the modem_name sort key)
    val (keptEq, total) = t.pruneReport($"modem_name" === "m2")
    assert(total == 3 && keptEq == 1, s"expected 1/3 files, got $keptEq/$total")
    assert(t.readWhere($"modem_name" === "m2").count() == 10)

    // timestamp stats (micros-as-long), literal via a folded cast
    val cut = lit("2024-03-03 00:00:00").cast("timestamp")
    assert(t.pruneReport($"timestamp" >= cut)._1 == 1)
    assert(t.readWhere($"timestamp" >= cut).count() == 10)

    // IN-list and conjunction
    assert(t.pruneReport($"modem_name".isin("m1", "m3"))._1 == 2)
    assert(t.pruneReport($"modem_name" === "m1" && $"uptime" > 100)._1 == 0,
      "conjunct on uptime (max 10) must prove every file empty")

    // fully pruned read still answers, with schema intact and zero rows
    assert(t.readWhere($"modem_name" === "zzz").count() == 0)

    // after compaction the date partition-DIR value prunes via the log
    // (the footer never sees the partition column)
    t.compact()
    val dateCond = $"date" === lit("2024-03-02").cast("date")
    val (keptDate, totalBase) = t.pruneReport(dateCond)
    assert(keptDate == 1 && totalBase == 3,
      s"expected 1/3 day files, got $keptDate/$totalBase")
    assert(t.readWhere(dateCond).count() == 10)
  }

  test("zorder clustering makes stats pruning effective on EVERY clustered dim") {
    val t = freshTable()
    // two independent uniform dimensions on one day: a lexicographic sort
    // could only localize the leading one
    val df = (0 until 4096).map { i =>
      ("m1", java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), i % 64, i / 64)
    }.toDF("modem_name", "timestamp", "x", "y")
      .withColumn("date", to_date($"timestamp"))
    t.append(df, 0)
    assert(t.majorCompact(zorderCols = Seq("x", "y"), zorderParts = 16) == 4096)

    val totalFiles = t.snapshot().files.size
    assert(totalFiles > 4, s"z-range write should spread files, got $totalFiles")
    val keptX = t.pruneReport($"x" < 8)._1
    val keptY = t.pruneReport($"y" < 8)._1
    assert(keptX <= totalFiles / 2, s"x-pruning weak: $keptX/$totalFiles")
    assert(keptY <= totalFiles / 2, s"y-pruning weak: $keptY/$totalFiles")

    // identical answers to the unpruned path, and the z column is gone
    assert(t.readWhere($"x" < 8).count() == t.read().where($"x" < 8).count())
    assert(t.readWhere($"y" < 8).count() == 4096 / 8)
    assert(!t.read().columns.contains(graft.storage.ZOrder.ZCol))
  }

  test("BufferedFactSink flushes on the rows threshold (Buffer engine)") {
    val t = freshTable()
    val sink = new BufferedFactSink(t, maxAgeMs = Long.MaxValue / 2,
      maxRows = 25, maxBytes = Long.MaxValue)
    sink.addBatch(rows(10, "2024-03-01", "m1").drop("date"), 0)
    assert(t.snapshot().bufferRows == 10) // below threshold: stays buffered
    sink.addBatch(rows(10, "2024-03-01", "m2").drop("date"), 1)
    assert(t.snapshot().bufferRows == 20)
    sink.addBatch(rows(10, "2024-03-01", "m3").drop("date"), 2)
    assert(t.snapshot().bufferRows == 0, "30 rows >= 25 must have flushed")
    assert(t.read().count() == 30)
  }

  test("BufferedFactSink flushes on age even when rows/bytes are low") {
    val t = freshTable()
    val sink = new BufferedFactSink(t, maxAgeMs = 10000,
      maxRows = Long.MaxValue, maxBytes = Long.MaxValue)
    sink.addBatch(rows(2, "2024-03-01", "m1").drop("date"), 0)
    assert(sink.maybeFlush(nowMs = System.currentTimeMillis() + 11000) == 2)
    assert(t.snapshot().bufferRows == 0)
  }

  test("replacing merge keeps the max-version row per key, partition-scoped") {
    val t = freshTable()
    val v1 = rows(6, "2024-03-01", "m1").withColumn("ver", lit(1L))
    // "update" uptimes 2 and 4 with version 2, plus a brand-new key 99
    val v2 = rows(6, "2024-03-01", "m1").filter($"uptime".isin(2L, 4L))
      .withColumn("modem_name", lit("m1-v2"))
      .withColumn("ver", lit(2L))
      .union(rows(1, "2024-03-02", "m7").withColumn("uptime", lit(99L))
        .withColumn("ver", lit(2L)))
    t.append(v1, 0)
    t.append(v2, 1)
    val preMerge = t.snapshot().nextVersion - 1
    t.replacingCompact(keyCols = Seq("uptime"), versionCol = "ver")

    val got = t.read().select($"uptime", $"modem_name", $"ver")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // one row per (date, key); v2 wins where present
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L, 99L))
    assert(got.filter(r => r._1 == 2L || r._1 == 4L)
      .forall(r => r._2 == "m1-v2" && r._3 == 2L))
    assert(got.filter(r => !Set(2L, 4L, 99L).contains(r._1))
      .forall(_._3 == 1L))
    // time travel still sees the pre-merge duplicates
    assert(t.read(asOfVersion = preMerge).count() == 9)
    // idempotent: a second replacing merge changes nothing
    t.replacingCompact(keyCols = Seq("uptime"), versionCol = "ver")
    assert(t.read().count() == 7)
  }

  test("ttlExpire drops whole expired parts, keeps straddlers, time-travels") {
    val t = freshTable()
    // buffer-tier parts wholly before the cutoff → expired via log stats
    t.append(rows(5, "2024-02-27", "m1"), txnId = 0)
    // ONE buffer file STRADDLING the cutoff (two days) → kept whole
    t.append(rows(3, "2024-02-28", "m2").unionByName(rows(4, "2024-03-02", "m2"))
      .coalesce(1), 1)
    t.append(rows(6, "2024-02-20", "m3"), 2)
    t.append(rows(7, "2024-03-05", "m4"), 3)
    val preTtl = t.snapshot().nextVersion - 1
    val total = t.read().count()
    assert(total == 25)

    val dropped = t.ttlExpire("2024-03-01")
    assert(dropped >= 2) // the 2024-02-27 buffer part + nothing straddling
    val after = t.read()
    // expired-only parts gone; the straddler keeps its pre-cutoff rows
    assert(after.count() == 3 + 4 + 7)
    assert(after.filter($"date" < "2024-02-28").count() == 0)
    assert(after.filter($"date" === "2024-02-28").count() == 3)
    // metadata-only: time travel to the pre-TTL version still sees all rows
    assert(t.read(asOfVersion = preTtl).count() == total)
    // idempotent: nothing further to expire at the same cutoff
    assert(t.ttlExpire("2024-03-01") == 0)
  }

  test("ttlExpire after compact is partition-exact at the cutoff boundary") {
    val t = freshTable()
    t.append(rows(5, "2024-02-27", "m1"), 0)
    t.append(rows(3, "2024-02-28", "m2"), 1)
    t.append(rows(4, "2024-03-02", "m3"), 2)
    t.compact() // day-partitioned base parts aligned to the date column
    assert(t.ttlExpire("2024-03-01") >= 2) // both February day-dirs
    assert(t.read().count() == 4)
    assert(t.read().select(min($"date").cast("string")).head().getString(0)
      == "2024-03-02")
  }

  test("summing merge collapses keys per partition, preserves exact sums") {
    val t = freshTable()
    val mk = (day: String, m: String, u: Long) =>
      Seq((m, u)).toDF("modem_name", "uptime")
        .withColumn("date", to_date(lit(day))).withColumn("n", lit(1L))
    t.append(mk("2024-03-01", "m1", 10L)
      .unionByName(mk("2024-03-01", "m1", 5L))
      .unionByName(mk("2024-03-01", "m2", 7L)), 0)
    t.append(mk("2024-03-01", "m1", 3L)
      .unionByName(mk("2024-03-02", "m1", 100L)), 1)
    t.summingCompact(keyCols = Seq("modem_name"), sumCols = Seq("uptime", "n"))
    val got = t.read().orderBy($"date", $"modem_name")
      .select($"date".cast("string"), $"modem_name", $"uptime", $"n")
      .as[(String, String, Long, Long)].collect()
    // one row per (day, modem); same modem on two days stays two rows
    assert(got.sameElements(Array(
      ("2024-03-01", "m1", 18L, 3L),
      ("2024-03-01", "m2", 7L, 1L),
      ("2024-03-02", "m1", 100L, 1L))))
  }

  test("collapsing merge nets cancel pairs, keeps unmatched state, partition-scoped") {
    val t = freshTable()
    val mk = (day: String, key: String, price: Long, sign: Int, ver: Long) =>
      Seq((key, price, sign, ver)).toDF("k", "price", "sign", "ver")
        .withColumn("date", to_date(lit(day)))
    // k1: state then update (cancel ver1 + state ver2) -> one ver2 row
    // k2: state then delete (cancel ver1)              -> vanishes
    // k3: untouched state                              -> survives
    // k4: SAME key on another day is a different partition scope
    t.append(mk("2024-03-01", "k1", 10L, 1, 1L)
      .unionByName(mk("2024-03-01", "k2", 20L, 1, 1L))
      .unionByName(mk("2024-03-01", "k3", 30L, 1, 1L))
      .unionByName(mk("2024-03-02", "k1", 99L, 1, 1L)), 0)
    t.append(mk("2024-03-01", "k1", 10L, -1, 1L)
      .unionByName(mk("2024-03-01", "k1", 15L, 1, 2L))
      .unionByName(mk("2024-03-01", "k2", 20L, -1, 1L)), 1)
    // the CH reader idiom is exact BEFORE the merge runs
    val pre = t.read().groupBy($"date", $"k")
      .agg(sum($"sign" * $"price").as("p"), sum($"sign").as("s"))
      .filter($"s" > 0).orderBy($"date", $"k")
      .select($"date".cast("string"), $"k", $"p")
      .as[(String, String, Long)].collect()
    assert(pre.sameElements(Array(
      ("2024-03-01", "k1", 15L), ("2024-03-01", "k3", 30L),
      ("2024-03-02", "k1", 99L))))
    t.collapsingCompact(keyCols = Seq("k"), signCol = "sign",
      versionCol = "ver")
    val got = t.read().orderBy($"date", $"k")
      .select($"date".cast("string"), $"k", $"price", $"sign", $"ver")
      .as[(String, String, Long, Int, Long)].collect()
    assert(got.sameElements(Array(
      ("2024-03-01", "k1", 15L, 1, 2L),
      ("2024-03-01", "k3", 30L, 1, 1L),
      ("2024-03-02", "k1", 99L, 1, 1L))))
  }

  test("deleteWhere rewrites only stats-matching parts, deletes exactly the rows") {
    val t = freshTable()
    // three single-file parts with disjoint modem ranges (string stats)
    t.append(rows(5, "2024-03-01", "a1").coalesce(1), 0)
    t.append(rows(4, "2024-03-01", "m2").coalesce(1), 1)
    t.append(rows(3, "2024-03-02", "z3").coalesce(1), 2)
    val (touched, total) = t.pruneReport($"modem_name" === "m2")
    assert(touched == 1 && total == 3) // stats isolate the one part
    val preVersion = t.snapshot().nextVersion - 1
    assert(t.deleteWhere($"modem_name" === "m2") == 4L)
    assert(t.read().count() == 8)
    assert(t.read().filter($"modem_name" === "m2").count() == 0)
    // untouched parts keep their original files (no needless rewrite)
    val after = t.snapshot().files.map(_.path).toSet
    val before = t.snapshot(preVersion).files.map(_.path).toSet
    assert((before -- after).size == 1) // only the m2 part swapped out
    assert(t.read(asOfVersion = preVersion).count() == 12) // time travel intact
    // no matching rows anywhere → metadata no-op
    assert(t.deleteWhere($"modem_name" === "m2") == 0L)
  }

  test("bloom skip index prunes point lookups min/max stats cannot") {
    val dir = java.nio.file.Files.createTempDirectory("fact_bloom").toString
    val t = new FactTable(dir, spark, bloomCols = Seq("modem_name"))
    // two parts with INTERLEAVED key ranges: min/max can't separate them
    t.append(rows(3, "2024-03-01", "aa").unionByName(rows(3, "2024-03-01", "zz"))
      .coalesce(1), 0)
    t.append(rows(4, "2024-03-01", "ab").unionByName(rows(4, "2024-03-01", "zy"))
      .coalesce(1), 1)
    val probe = $"modem_name" === "zy"
    // min/max: both parts span [a*, z*] → nothing prunable
    assert(t.snapshot().files.forall(f =>
      !graft.storage.StatsPruning.canPrune(probe, f.stats)))
    // bloom: only the part holding "zy" survives
    assert(t.pruneReport(probe) == ((1, 2)))
    assert(t.readWhere(probe).count() == 4)
    // long-typed key: part0 covers [1,1000] WITH A GAP, part1 [101,103]
    // inside it — stats keep both for probe 102, bloom rejects part0
    val t2 = new FactTable(
      java.nio.file.Files.createTempDirectory("fact_bloom2").toString,
      spark, bloomCols = Seq("uptime"))
    t2.append(rows(3, "2024-03-01", "m1")
      .unionByName(rows(1, "2024-03-01", "m1").withColumn("uptime", lit(1000L)))
      .coalesce(1), 0)
    t2.append(rows(3, "2024-03-02", "m2")
      .withColumn("uptime", $"uptime" + 100L).coalesce(1), 1)
    val probe2 = $"uptime" === 102L
    assert(t2.snapshot().files.forall(f =>
      !graft.storage.StatsPruning.canPrune(probe2, f.stats)))
    assert(t2.pruneReport(probe2) == ((1, 2)))
    assert(t2.readWhere(probe2).count() == 1)
    // non-equality and OR predicates never bloom-prune (conservative)
    assert(t2.pruneReport($"uptime" > 0L)._1 == 2)
    assert(t2.pruneReport($"uptime" === 102L || $"uptime" === 1L)._1 == 2)
    // deleteWhere rides the same bloom: only one part rewritten
    val before = t2.snapshot().files.map(_.path).toSet
    assert(t2.deleteWhere(probe2) == 1L)
    val after = t2.snapshot().files.map(_.path).toSet
    assert((before -- after).size == 1)
  }

  test("set skip index: exact-set pruning, cardinality cap, vacuum reclaim") {
    val dir = java.nio.file.Files.createTempDirectory("fact_set").toString
    val t = new FactTable(dir, spark, setIndexCols = Seq("modem_name"))
    // interleaved string sets: part0 {aa, zz}, part1 {ab, zy} — every
    // part's [min,max] spans the domain, only the exact set separates
    t.append(rows(3, "2024-03-01", "aa").unionByName(rows(3, "2024-03-01", "zz"))
      .coalesce(1), 0)
    t.append(rows(4, "2024-03-01", "ab").unionByName(rows(4, "2024-03-01", "zy"))
      .coalesce(1), 1)
    val probe = $"modem_name" === "zy"
    assert(t.snapshot().files.forall(f =>
      !graft.storage.StatsPruning.canPrune(probe, f.stats)))
    assert(t.pruneReport(probe) == ((1, 2)))
    assert(t.readWhere(probe).count() == 4)
    // a value in NO part: the set index (unlike a bloom) proves total
    // absence — zero parts touched
    assert(t.pruneReport($"modem_name" === "mm")._1 == 0)
    // non-equality and OR predicates never set-prune (conservative)
    assert(t.pruneReport($"modem_name" > "a")._1 == 2)
    assert(t.pruneReport($"modem_name" === "zy" || $"modem_name" === "aa")._1 == 2)
    // IN-list: a part dies iff EVERY listed value is absent from its set
    assert(t.pruneReport($"modem_name".isin("zy", "ab"))._1 == 1)
    assert(t.pruneReport($"modem_name".isin("mm", "nn"))._1 == 0)
    assert(t.pruneReport($"modem_name".isin("zy", "aa"))._1 == 2)
    // mismatched probe type never prunes (the bloom coercion hazard)
    val tl = new FactTable(
      java.nio.file.Files.createTempDirectory("fact_set2").toString,
      spark, setIndexCols = Seq("uptime"))
    tl.append(rows(3, "2024-03-01", "m1").coalesce(1), 0)
    assert(tl.pruneReport($"uptime" === "2")._1 == 1)
    // > MaxSetSize distinct values: no sidecar is written, never prunes
    val hi = new FactTable(
      java.nio.file.Files.createTempDirectory("fact_set3").toString,
      spark, setIndexCols = Seq("uptime"))
    // 100 distinct EVEN values: probe an odd gap value inside [min,max]
    // — stats keep the part, and with >64 distinct values no sidecar
    // exists to prune it either
    hi.append((1 to 100).map(i => ("m", java.sql.Timestamp.valueOf(
      "2024-03-01 00:00:01"), i.toLong * 2)).toDF("modem_name", "timestamp", "uptime")
      .withColumn("date", to_date($"timestamp")).coalesce(1), 0)
    assert(hi.pruneReport($"uptime" === 101L)._1 == 1,
      "high-cardinality column must not write a set sidecar")
    // compaction + vacuum reclaim the replaced part's sidecar
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sessionState.newHadoopConf())
    def sidecars() = {
      val it = fsys.listFiles(new org.apache.hadoop.fs.Path(dir, "data"), true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.contains(".set."))
        n += 1 }
      n
    }
    assert(sidecars() == 2)
    t.compact()
    t.vacuum(keepFromVersion = Long.MaxValue)
    assert(sidecars() == 1, "vacuum must reclaim replaced parts' sidecars")
    assert(t.readWhere(probe).count() == 4, "post-compact set index still serves")
    // deleteWhere rides the same set sidecars: with interleaved sets in
    // two fresh parts, only the part whose set holds the key is rewritten
    val td = new FactTable(
      java.nio.file.Files.createTempDirectory("fact_set4").toString,
      spark, setIndexCols = Seq("modem_name"))
    td.append(rows(3, "2024-03-01", "aa").unionByName(rows(3, "2024-03-01", "zz"))
      .coalesce(1), 0)
    td.append(rows(4, "2024-03-01", "ab").unionByName(rows(4, "2024-03-01", "zy"))
      .coalesce(1), 1)
    val before = td.snapshot().files.map(_.path).toSet
    assert(td.deleteWhere($"modem_name" === "zy") == 4L)
    val after = td.snapshot().files.map(_.path).toSet
    assert((before -- after).size == 1, "delete must rewrite only the set-matched part")
  }

  test("deleteWhere keeps rows where the predicate evaluates to NULL") {
    val t = freshTable()
    // fw_version is NULL for m1 rows — DELETE WHERE fw_version = 'bad'
    // must remove only TRUE rows; NULL-evaluating rows stay (3VL)
    val df = rows(3, "2024-03-01", "m1").withColumn("fw_version",
      lit(null).cast("string"))
      .unionByName(rows(2, "2024-03-01", "m2").withColumn("fw_version", lit("bad")))
      .unionByName(rows(4, "2024-03-01", "m3").withColumn("fw_version", lit("ok")))
    t.append(df.coalesce(1), 0)
    assert(t.deleteWhere($"fw_version" === "bad") == 2L)
    val left = t.read()
    assert(left.count() == 7)
    assert(left.filter($"fw_version".isNull).count() == 3,
      "NULL-predicate rows must survive a DELETE")
  }

  test("bloom probe with mismatched literal type never prunes") {
    val dir = java.nio.file.Files.createTempDirectory("fact_bloom3").toString
    val t = new FactTable(dir, spark, bloomCols = Seq("uptime"))
    t.append(rows(3, "2024-03-01", "m1").coalesce(1), 0)
    t.append(rows(3, "2024-03-02", "m2").withColumn("uptime", $"uptime" + 100L)
      .coalesce(1), 1)
    // analyzer coerces "$uptime === '2'" so real rows match — the bloom
    // (built on longs) must NOT be probed with the string, or it would
    // report absent and wrongly drop the part holding uptime=2
    val probe = $"uptime" === "2"
    assert(t.pruneReport(probe)._1 == 2, "type-mismatched probe must keep all parts")
    assert(t.readWhere(probe).count() == 1)
    // matched-type probe still prunes (guard is a gate, not a disable)
    assert(t.pruneReport($"uptime" === 2L)._1 == 1)
  }

  test("vacuum reclaims bloom sidecars and cache entries with their parts") {
    val dir = java.nio.file.Files.createTempDirectory("fact_bloom_vac").toString
    val t = new FactTable(dir, spark, bloomCols = Seq("modem_name"))
    (0 until 3).foreach(i => t.append(rows(4, "2024-03-01", s"m$i").coalesce(1), i))
    def sidecars() = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).forEach { p =>
        // skip Hadoop's .crc checksum shadows (deleted with their file)
        if (p.toString.contains(".bloom.") &&
            !p.getFileName.toString.startsWith(".")) out += p.toString
      }
      out.toSeq
    }
    assert(sidecars().size == 3)
    t.compact() // rewrites all three parts into one base generation
    val afterCompact = sidecars().size // old 3 + new base part sidecars
    assert(afterCompact > 3)
    t.vacuum()
    // only the live base parts' sidecars remain — no orphans
    // log paths carry the fs scheme (file:/tmp/...), the nio walk doesn't
    val live = t.snapshot().files.map(_.path.stripPrefix("file:")).toSet
    val remaining = sidecars()
    assert(remaining.size == afterCompact - 3)
    assert(remaining.forall(s => live.exists(p => s.startsWith(p))),
      s"orphan sidecars left behind: $remaining")
  }

  test("token-bloom skip index: hasToken pruning, conservatism, fpp, lifecycle") {
    val dir = java.nio.file.Files.createTempDirectory("fact_tokbf").toString
    val t = new FactTable(dir, spark, tokenBloomCols = Seq("text"))
    def docs(id0: Long, day: String, texts: Seq[String]) =
      texts.zipWithIndex.map { case (tx, i) => (id0 + i, tx) }
        .toDF("doc_id", "text")
        .withColumn("date", to_date(lit(day)))
    t.append(docs(0, "2024-03-01",
      Seq("alpha beta common", "beta common alpha")).coalesce(1), 0)
    t.append(docs(10, "2024-03-01",
      Seq("gamma delta common", "delta gamma, common!")).coalesce(1), 1)
    val probe = FactTable.hasToken($"text", "gamma")
    // min/max stats are powerless on token membership — always
    assert(t.snapshot().files.forall(f =>
      !graft.storage.StatsPruning.canPrune(probe, f.stats)))
    // the bloom keeps only the part that holds the token
    assert(t.pruneReport(probe) == ((1, 2)))
    assert(t.readWhere(probe).count() == 2)
    // token present everywhere: nothing prunes, nothing lost
    assert(t.pruneReport(FactTable.hasToken($"text", "common")) == ((2, 2)))
    assert(t.readWhere(FactTable.hasToken($"text", "common")).count() == 4)
    // conjunct of two probes: either side's absence prunes the part —
    // no single part holds both alpha and gamma
    assert(t.pruneReport(FactTable.hasToken($"text", "gamma") &&
      FactTable.hasToken($"text", "alpha")) == ((0, 2)))
    // OR never prunes (conservative)
    assert(t.pruneReport(FactTable.hasToken($"text", "gamma") ||
      FactTable.hasToken($"text", "alpha")) == ((2, 2)))
    // a DIFFERENT tokenizer in the predicate must not consult the index:
    // its token stream differs from what the sidecar indexed
    assert(t.pruneReport(
      array_contains(split($"text", " "), "gamma")) == ((2, 2)))
    // surfaced per-part fpp: tiny vocab in an 8 KiB filter
    val fpps = t.tokenBloomFpp("text")
    assert(fpps.size == 2 && fpps.forall(_._2 < 0.01), fpps.toString)
    // a part with no tokens at all: the EMPTY bloom proves every token
    // absent (and never corrupts results)
    t.append(docs(20, "2024-03-02", Seq("", "  ")).coalesce(1), 2)
    assert(t.pruneReport(probe) == ((1, 3)))
    assert(t.readWhere(probe).count() == 2)
    // compact regenerates sidecars for the merged parts; answers hold
    t.compact(sortCols = Seq("doc_id"))
    assert(t.readWhere(probe).count() == 2)
    val (keptC, totalC) = t.pruneReport(probe)
    assert(keptC < totalC, s"post-compact bloom lost its power ($keptC/$totalC)")
    // vacuum reclaims superseded sidecars — no orphans next to dead parts
    t.vacuum()
    val orphans = scala.collection.mutable.ArrayBuffer[String]()
    val live = t.snapshot().files.map(_.path.stripPrefix("file:")).toSet
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).forEach { p =>
      if (p.toString.contains(".tokbf.") &&
          !p.getFileName.toString.startsWith(".") &&
          !live.exists(lp => p.toString.startsWith(lp))) orphans += p.toString
    }
    assert(orphans.isEmpty, s"orphan token-bloom sidecars: $orphans")
    // missing sidecar (legacy part): conservative — never prunes,
    // results stay exact
    t.snapshot().files.foreach { f =>
      val sc = new java.io.File(f.path.stripPrefix("file:") + ".tokbf.text")
      if (sc.exists()) assert(sc.delete())
    }
    val t2 = new FactTable(dir, spark, tokenBloomCols = Seq("text"))
    assert(t2.pruneReport(probe)._1 == t2.pruneReport(probe)._2)
    assert(t2.readWhere(probe).count() == 2)
  }

  test("ttlRollup downsamples expired partitions, keeps sums, travels, re-runs") {
    val dir = java.nio.file.Files.createTempDirectory("fact_ttlgb").toString
    val t = new FactTable(dir, spark)
    def day(d: String, modem: String, ups: Seq[Long]) =
      ups.map(u => (modem, java.sql.Timestamp.valueOf(s"$d 01:02:03"), u, 1L))
        .toDF("modem_name", "timestamp", "uptime", "n")
        .withColumn("date", to_date($"timestamp"))
    t.append(day("2024-03-01", "m1", Seq(10L, 20L, 30L))
      .unionByName(day("2024-03-01", "m2", Seq(5L))), 0)
    t.append(day("2024-03-02", "m1", Seq(7L, 8L)), 1)
    t.append(day("2024-03-05", "m1", Seq(100L, 200L)), 2)
    t.compact(sortCols = Seq("modem_name"))
    val preVersion = t.snapshot().nextVersion - 1
    val recentBefore = t.snapshot().dataFiles.map(_.path)
      .filter(_.contains("date=2024-03-05")).toSet
    // roll everything before 03-05 into per-(date, modem) rows
    val removed = t.ttlRollup("2024-03-05", Seq("modem_name"), Seq("uptime", "n"))
    assert(removed == 3L) // 6 expired rows -> 3 key rows
    // sums exact across the whole table, physical shape downsampled
    // order by uptime too: the two un-expired 03-05 raw rows tie on
    // (date, modem) and their relative order is not part of the contract
    val rolled = t.read().orderBy($"date", $"modem_name", $"uptime")
      .select($"date".cast("string"), $"modem_name", $"uptime", $"n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rolled.toSeq == Seq(
      ("2024-03-01", "m1", 60L, 3L), ("2024-03-01", "m2", 5L, 1L),
      ("2024-03-02", "m1", 15L, 2L),
      ("2024-03-05", "m1", 100L, 1L), ("2024-03-05", "m1", 200L, 1L)))
    // recent parts survive the swap untouched
    val recentAfter = t.snapshot().dataFiles.map(_.path)
      .filter(_.contains("date=2024-03-05")).toSet
    assert(recentAfter == recentBefore)
    // time travel to the pre-rollup version still sees raw history
    assert(t.read(preVersion).filter($"date" < lit("2024-03-05")).count() == 6)
    // idempotent: re-running re-groups already-rolled rows to themselves
    assert(t.ttlRollup("2024-03-05", Seq("modem_name"), Seq("uptime", "n")) == 0L)
    assert(t.read().count() == 5)
  }

  test("ngram-bloom skip index: substring pruning soundness and conservatism") {
    val dir = java.nio.file.Files.createTempDirectory("fact_ngbf").toString
    val t = new FactTable(dir, spark, ngramBloomCols = Seq("text"))
    def docs(id0: Long, texts: Seq[String]) =
      texts.zipWithIndex.map { case (tx, i) => (id0 + i, tx) }
        .toDF("doc_id", "text")
        .withColumn("date", to_date(lit("2024-03-01")))
    t.append(docs(0, Seq("alpha beta common", "beta common alpha")).coalesce(1), 0)
    t.append(docs(10, Seq("gamma delta common", "delta gamma common")).coalesce(1), 1)
    // substring probes: token blooms cannot answer these shapes at all
    assert(t.pruneReport($"text".contains("gamma")) == ((1, 2)))
    assert(t.readWhere($"text".contains("gamma")).count() == 2)
    // phrase spanning a token boundary: adjacency lives in the grams
    assert(t.pruneReport($"text".contains("beta common")) == ((1, 2)))
    assert(t.readWhere($"text".contains("beta common")).count() == 2)
    // INTERIOR substring of a token — 'amm' occurs inside 'gamma' only
    assert(t.pruneReport($"text".contains("amm")) == ((1, 2)))
    // LIKE '%pat%' is recognized; other LIKE shapes never prune
    assert(t.pruneReport($"text".like("%gamma%")) == ((1, 2)))
    assert(t.pruneReport($"text".like("gamma%")) == ((2, 2)))
    assert(t.pruneReport($"text".like("%ga_ma%")) == ((2, 2)))
    // patterns shorter than the gram width never prune
    assert(t.pruneReport($"text".contains("ga")) == ((2, 2)))
    // present-everywhere substring keeps everything, loses nothing
    assert(t.pruneReport($"text".contains("common")) == ((2, 2)))
    assert(t.readWhere($"text".contains("common")).count() == 4)
    // OR never prunes
    assert(t.pruneReport($"text".contains("gamma") ||
      $"text".contains("alpha")) == ((2, 2)))
    // fpp surfaced
    val fpps = t.ngramBloomFpp("text")
    assert(fpps.size == 2 && fpps.forall(_._2 < 0.01), fpps.toString)
    // deleteWhere rides the same sidecar: only the matching part rewrites
    val before = t.snapshot().files.map(_.path).toSet
    assert(t.deleteWhere($"text".contains("delta gamma")) == 1L)
    assert((before -- t.snapshot().files.map(_.path).toSet).size == 1)
  }

  test("concurrent appends: version-race loser retries and both commits land") {
    val root = java.nio.file.Files.createTempDirectory("fact_cc").toString
    val other = new FactTable(root, spark)
    var interleaved = false
    // writer A stages its files, then — in the race window before its
    // commit — writer B claims the version A saw as next
    val t = new FactTable(root, spark) {
      override protected def beforeCommit(): Unit =
        if (!interleaved) {
          interleaved = true
          assert(other.append(rows(3, "2024-03-02", "m2"), txnId = 7))
        }
    }
    assert(t.append(rows(5, "2024-03-01", "m1"), txnId = 1),
      "loser must retry at the new head and succeed")
    assert(interleaved)
    val snap = t.snapshot()
    assert(snap.txns == Set(1L, 7L))
    assert(t.read().count() == 8)
    assert(snap.nextVersion == 2)
  }

  test("concurrent same-txn appends collapse to one commit (exactly-once)") {
    val root = java.nio.file.Files.createTempDirectory("fact_cc_txn").toString
    val other = new FactTable(root, spark)
    var interleaved = false
    val t = new FactTable(root, spark) {
      override protected def beforeCommit(): Unit =
        if (!interleaved) {
          interleaved = true
          assert(other.append(rows(5, "2024-03-01", "m1"), txnId = 1))
        }
    }
    // the racing retry of the SAME batch must become a no-op, not a dup
    assert(!t.append(rows(5, "2024-03-01", "m1"), txnId = 1))
    assert(t.read().count() == 5)
    assert(t.snapshot().txns == Set(1L))
  }

  test("concurrent compactions: loser discards staged parts, rows never double") {
    val root = java.nio.file.Files.createTempDirectory("fact_cc_cmp").toString
    val other = new FactTable(root, spark)
    var armed = false // fire only for the compact commit, not the appends
    var interleaved = false
    val t = new FactTable(root, spark) {
      override protected def beforeCommit(): Unit =
        if (armed && !interleaved) {
          interleaved = true
          assert(other.compact() == 20) // B wins the merge
        }
    }
    (0 until 4).foreach(i => t.append(rows(5, "2024-03-01", s"m$i"), i))
    armed = true
    assert(t.compact() == 0L,
      "loser must restart on the fresh (empty-buffer) state and merge nothing")
    assert(interleaved)
    val snap = t.snapshot()
    assert(snap.bufferRows == 0)
    assert(t.read().count() == 20, "rows must not double under a compaction race")
  }

  test("compaction vs concurrent append: merge retries and keeps the new rows") {
    val root = java.nio.file.Files.createTempDirectory("fact_cc_app").toString
    val other = new FactTable(root, spark)
    var armed = false
    var interleaved = false
    val t = new FactTable(root, spark) {
      override protected def beforeCommit(): Unit =
        if (armed && !interleaved) {
          interleaved = true
          assert(other.append(rows(3, "2024-03-02", "m9"), txnId = 42))
        }
    }
    t.append(rows(5, "2024-03-01", "m1"), 0)
    armed = true
    // the append's files are NOT in the compaction's remove set, so the
    // merge retries at the new head instead of restarting
    assert(t.compact() == 5L)
    val snap = t.snapshot()
    assert(snap.bufferRows == 3, "racing append stays buffered, not lost")
    assert(t.read().count() == 8)
  }

  test("streaming foreachBatch end-to-end through the sink") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = freshTable()
    val sink = new BufferedFactSink(t, maxAgeMs = Long.MaxValue / 2,
      maxRows = 4, maxBytes = Long.MaxValue)
    val mem = MemoryStream[(String, java.sql.Timestamp, Long)]
    val q = mem.toDF().toDF("modem_name", "timestamp", "uptime")
      .writeStream.outputMode("append")
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        sink.addBatch(df, id))
      .start()
    try {
      mem.addData(("m1", java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), 1L),
        ("m1", java.sql.Timestamp.valueOf("2024-03-01 00:00:10"), 2L))
      q.processAllAvailable()
      mem.addData(("m2", java.sql.Timestamp.valueOf("2024-03-02 00:00:00"), 3L),
        ("m2", java.sql.Timestamp.valueOf("2024-03-02 00:00:10"), 4L))
      q.processAllAvailable()
      assert(t.read().count() == 4)
      assert(t.snapshot().bufferRows == 0, "4 rows >= 4 must have flushed")
    } finally q.stop()
  }

  // ------------------------------------------------------- projections

  private val projSpec = FactTable.ProjectionSpec(
    "by_day_modem", Seq("date", "modem_name"), Seq("uptime"))

  private def projTable(): FactTable = new FactTable(
    java.nio.file.Files.createTempDirectory("fact_proj").toString, spark,
    projections = Seq(projSpec))

  private def rollupOfBase(t: FactTable) =
    t.read().groupBy($"date", $"modem_name")
      .agg(sum($"uptime").as("uptime"), count(lit(1)).as("n_rows"))
      .orderBy($"date", $"modem_name")
      .collect().map(_.toSeq).toSeq

  test("projection read re-aggregates per-part sidecars, matches base rollup") {
    val t = projTable()
    t.append(rows(5, "2024-03-01", "m1"), 0)
    t.append(rows(3, "2024-03-01", "m2"), 1)
    t.append(rows(4, "2024-03-02", "m1"), 2)
    val (covered, total) = t.projectionCoverage("by_day_modem")
    assert(covered == total && total > 0, s"sidecars must cover all parts ($covered/$total)")
    val proj = t.readProjection("by_day_modem")
      .orderBy($"date", $"modem_name").collect().map(_.toSeq).toSeq
    assert(proj == rollupOfBase(t))
  }

  test("projection stays consistent across compact and deleteWhere") {
    val t = projTable()
    t.append(rows(6, "2024-03-01", "m1"), 0)
    t.append(rows(4, "2024-03-02", "m2"), 1)
    t.compact()
    assert(t.readProjection("by_day_modem")
      .orderBy($"date", $"modem_name").collect().map(_.toSeq).toSeq ==
      rollupOfBase(t), "post-compact: fresh parts carry fresh sidecars")
    t.deleteWhere($"modem_name" === "m2")
    val (covered, total) = t.projectionCoverage("by_day_modem")
    assert(covered == total, "rewrite must re-cover every staged part")
    val proj = t.readProjection("by_day_modem")
      .orderBy($"date", $"modem_name").collect().map(_.toSeq).toSeq
    assert(proj == rollupOfBase(t))
    assert(!proj.exists(_.contains("m2")), "deleted slice gone from rollup")
  }

  test("projection falls back to base scan when sidecars are missing") {
    // parts written BEFORE the projection existed have no sidecars —
    // reads must stay exact (just not cheap), coverage reports the gap
    val plain = freshTable()
    plain.append(rows(5, "2024-03-01", "m1"), 0)
    val t = new FactTable(plain.root, spark, projections = Seq(projSpec))
    val (covered, total) = t.projectionCoverage("by_day_modem")
    assert(covered == 0 && total > 0)
    assert(t.readProjection("by_day_modem")
      .orderBy($"date", $"modem_name").collect().map(_.toSeq).toSeq ==
      rollupOfBase(t))
  }

  test("vacuum reclaims projection sidecars with their parts") {
    val t = projTable()
    t.append(rows(5, "2024-03-01", "m1"), 0)
    val before = t.snapshot().files.map(_.path)
    t.compact()
    t.vacuum()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sessionState.newHadoopConf())
    before.foreach { p =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(p + ".proj.by_day_modem")),
        s"orphan sidecar for vacuumed part $p")
    }
    assert(t.readProjection("by_day_modem").count() > 0)
  }

  test("replacePartition swaps exactly one partition atomically") {
    val t = freshTable()
    t.append(rows(5, "2024-03-01", "m1"), 0)
    t.append(rows(4, "2024-03-02", "m2"), 1)
    t.compact()
    val before = t.snapshot().dataFiles.map(_.path).toSet
    // corrected day: same rows, uptime shifted by 1000
    val fixed = t.read().filter($"date" === to_date(lit("2024-03-01")))
      .withColumn("uptime", $"uptime" + 1000L)
    val (was, now) = t.replacePartition("2024-03-01", fixed)
    assert(was == 5 && now == 5)
    // the other day's parts are untouched; the replaced day's are gone
    val after = t.snapshot().dataFiles.map(_.path).toSet
    assert(before.filter(_.contains("date=2024-03-02")).subsetOf(after))
    assert(before.filter(_.contains("date=2024-03-01")).forall(!after.contains(_)))
    assert(t.read().filter($"uptime" > 1000L).count() == 5)
    assert(t.read().count() == 9)
    // foreign rows are rejected, not silently mis-published
    intercept[IllegalArgumentException] {
      t.replacePartition("2024-03-01", rows(2, "2024-03-02", "m9"))
    }
    // buffer-tier parts of the partition are matched via footer stats
    t.append(rows(3, "2024-03-01", "m3"), 7)
    val (was2, _) = t.replacePartition("2024-03-01", fixed)
    assert(was2 == 8, s"expected base+buffer parts replaced, got $was2 rows")
    assert(t.read().count() == 9)
  }

  test("checkpoint: snapshot replays from it and survives pre-checkpoint log loss") {
    val t = freshTable()
    (0 until 6).foreach(i => t.append(rows(2, "2024-03-01", s"m$i"), i))
    t.compact()
    val ck = t.checkpoint()
    assert(ck == t.snapshot().nextVersion - 1)
    t.append(rows(2, "2024-03-02", "m9"), 99)
    assert(t.read().count() == 14)
    // a fresh instance on the same root reads through the checkpoint
    val t2 = new FactTable(t.root, spark)
    assert(t2.read().count() == 14)
    // txn idempotence survives the cutover: pre-checkpoint txn replays as no-op
    assert(!t2.append(rows(2, "2024-03-01", "m0"), 3))
    // O(tail) proof: hide every pre-checkpoint log file; state is intact
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sessionState.newHadoopConf())
    val logDir = new org.apache.hadoop.fs.Path(t.root, "_graft_log")
    (0L to ck).foreach { v =>
      val p = new org.apache.hadoop.fs.Path(logDir, s"$v.json")
      if (fs.exists(p))
        fs.rename(p, new org.apache.hadoop.fs.Path(logDir, s"hidden-$v"))
    }
    val t3 = new FactTable(t.root, spark)
    assert(t3.read().count() == 14,
      "snapshot needed pre-checkpoint log files — replay is not O(tail)")
    assert(!t3.append(rows(2, "2024-03-01", "m0"), 3))
  }

  test("mergeInto: updates matched keys, inserts the rest, prunes by key range") {
    val t = freshTable()
    // part A holds keys 1..5, part B keys 101..104 (disjoint ranges)
    t.append(rows(5, "2024-03-01", "a1").coalesce(1), 0)
    t.append(rows(4, "2024-03-02", "b2").coalesce(1)
      .withColumn("uptime", $"uptime" + 100L), 1)
    val partB = t.snapshot().dataFiles.map(_.path).filter(_.contains("append-1")).toSet
    // source: key 2 exists (update → modem renamed), key 50 does not (insert)
    val src = Seq(("fix", java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), 2L),
      ("new", java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), 50L))
      .toDF("modem_name", "timestamp", "uptime")
      .withColumn("date", to_date($"timestamp"))
    val (matched, inserted) = t.mergeInto(src, Seq("uptime"))
    assert(matched == 1 && inserted == 1)
    // key-range [2,50] scoping: part B (101..104) was never touched
    assert(partB.subsetOf(t.snapshot().dataFiles.map(_.path).toSet))
    assert(t.read().count() == 10)
    assert(t.read().filter($"uptime" === 2L).select($"modem_name")
      .head().getString(0) == "fix")
    assert(t.read().filter($"uptime" === 50L).count() == 1)
    // duplicate source keys are rejected (Delta's multiple-match rule)
    intercept[IllegalArgumentException] {
      t.mergeInto(src.unionByName(src), Seq("uptime"))
    }
  }

  test("softDelete masks rows immediately without rewriting any part") {
    val t = freshTable()
    t.append(rows(5, "2024-03-01", "a1").coalesce(1), 0)
    t.append(rows(4, "2024-03-01", "m2").coalesce(1), 1)
    t.append(rows(3, "2024-03-02", "z3").coalesce(1), 2)
    val partsBefore = t.snapshot().dataFiles.map(_.path).toSet
    assert(t.softDelete($"modem_name" === "m2", Seq("modem_name")) == 1L)
    // logically deleted everywhere a read can look…
    assert(t.read().count() == 8)
    assert(t.read().filter($"modem_name" === "m2").count() == 0)
    assert(t.readWhere($"modem_name" === "m2").count() == 0)
    // …yet no data part was rewritten: the delete is one tombstone add
    assert(t.snapshot().dataFiles.map(_.path).toSet == partsBefore)
    assert(t.snapshot().tombFiles.size == 1)
    // time travel to the pre-delete version still shows the rows
    val preDelete = t.snapshot().nextVersion - 2
    assert(t.read(asOfVersion = preDelete)
      .filter($"modem_name" === "m2").count() == 4)
  }

  test("softDelete scope: re-inserts after the delete are not masked") {
    val t = freshTable()
    t.append(rows(4, "2024-03-01", "m2"), 0)
    assert(t.softDelete($"modem_name" === "m2", Seq("modem_name")) == 1L)
    assert(t.read().count() == 0)
    // the same key arrives again later (insert-after-delete): visible,
    // because the new part is in no existing tombstone's victim list
    t.append(rows(2, "2024-03-05", "m2"), 1)
    assert(t.read().count() == 2)
    // compaction flushes the masked buffer: deleted rows stay dead in
    // the fresh part, re-inserted rows survive
    t.compact()
    assert(t.read().count() == 2)
    assert(t.read().filter($"modem_name" === "m2").count() == 2)
  }

  test("applyTombstones reconciles physically and vacuum reclaims the files") {
    val t = freshTable()
    t.append(rows(5, "2024-03-01", "a1").coalesce(1), 0)
    t.append(rows(4, "2024-03-01", "m2").coalesce(1), 1)
    t.append(rows(3, "2024-03-02", "z3").coalesce(1), 2)
    assert(t.softDelete($"modem_name" === "m2", Seq("modem_name")) == 1L)
    val tombPaths = t.snapshot().tombFiles.map(_.path)
    val uncovered = t.snapshot().dataFiles.map(_.path)
      .filterNot(_.contains("append-1")).toSet
    assert(t.applyTombstones() == 4L)
    val snap = t.snapshot()
    assert(snap.tombFiles.isEmpty, "tombstones consumed by the reconcile")
    assert(t.read().count() == 8)
    // only the covered part was rewritten — uncovered parts kept as-is
    assert(uncovered.subsetOf(snap.dataFiles.map(_.path).toSet))
    // reads now take the fast path (no anti-join in the plan)
    assert(!t.read().queryExecution.executedPlan.toString.contains("LeftAnti"))
    t.vacuum()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sessionState.newHadoopConf())
    tombPaths.foreach { p =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(p)), s"tombstone file leaked: $p")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(p + FactTable.VictimsSuffix)),
        s"deletion-vector sidecar leaked: $p")
    }
    // idempotent: nothing left to reconcile
    assert(t.applyTombstones() == 0L)
  }

  test("softDelete composes with projections: mask forces the exact fallback") {
    val t = projTable()
    t.append(rows(5, "2024-03-01", "m1"), 0)
    t.append(rows(3, "2024-03-01", "m2"), 1)
    assert(t.readProjection("by_day_modem")
      .filter($"modem_name" === "m2").count() == 1)
    t.softDelete($"modem_name" === "m2", Seq("modem_name"))
    // stale sidecars must not serve: coverage reports the fallback…
    assert(t.projectionCoverage("by_day_modem")._1 == 0)
    // …and the projection read reflects the delete exactly
    assert(t.readProjection("by_day_modem")
      .filter($"modem_name" === "m2").count() == 0)
    // reconciling restores the cheap sidecar path, still delete-exact
    t.applyTombstones()
    val (covered, total) = t.projectionCoverage("by_day_modem")
    assert(covered == total)
    assert(t.readProjection("by_day_modem")
      .filter($"modem_name" === "m2").count() == 0)
  }

  test("softDelete restarts when a concurrent rewrite replaced its victims (no lost delete)") {
    val root = java.nio.file.Files.createTempDirectory("fact_del_rw").toString
    val other = new FactTable(root, spark)
    var armed = false
    var interleaved = false
    val t = new FactTable(root, spark) {
      override protected def beforeCommit(): Unit =
        if (armed && !interleaved) {
          interleaved = true
          // concurrent compaction rewrites the delete's victim part: the
          // staged deletion vector now lists only a dead path
          assert(other.compact() == 5L)
        }
    }
    t.append(rows(5, "2024-03-01", "m1").coalesce(1), 0)
    armed = true
    assert(t.softDelete($"modem_name" === "m1" && $"uptime" <= 2L,
      Seq("modem_name", "timestamp")) == 2L)
    assert(interleaved)
    // the delete restarted on the post-compact snapshot, so its vector
    // covers the LIVE part — the rows stay dead instead of resurrecting
    assert(t.read().count() == 3)
    assert(t.read().filter($"uptime" <= 2L).count() == 0)
  }

  test("rewrite restarts when a concurrent softDelete lands (no resurrected rows)") {
    val root = java.nio.file.Files.createTempDirectory("fact_rw_del").toString
    val other = new FactTable(root, spark)
    var armed = false
    var interleaved = false
    val t = new FactTable(root, spark) {
      override protected def beforeCommit(): Unit =
        if (armed && !interleaved) {
          interleaved = true
          // tombstone lands between the compact's staging and its commit:
          // the staged parts were materialized from the pre-delete mask
          assert(other.softDelete(col("modem_name") === "m1",
            Seq("modem_name")) == 1L)
        }
    }
    t.append(rows(5, "2024-03-01", "m1").coalesce(1), 0)
    t.append(rows(4, "2024-03-01", "m2").coalesce(1), 1)
    armed = true
    t.compact()
    assert(interleaved)
    // the compact restarted and re-read through the new mask: the deleted
    // rows are physically absent from the fresh generation
    assert(t.read().count() == 4)
    assert(t.read().filter(col("modem_name") === "m1").count() == 0)
    // the tombstone's victims are all dead now — reconcile is a no-op
    // drop, and the delete stays applied
    assert(t.applyTombstones() == 0L)
    assert(t.snapshot().tombFiles.isEmpty)
    assert(t.read().count() == 4)
  }

  test("replacePartition rewrites a straddling buffer part's other-day rows back") {
    val t = freshTable()
    // ONE buffer part holding two days: footer [min,max] brackets the
    // target day but is not equal to it
    t.append(rows(3, "2024-03-01", "m1")
      .unionByName(rows(2, "2024-03-02", "m1")).coalesce(1), 0)
    val fixed = rows(4, "2024-03-01", "fixed")
    val (was, now) = t.replacePartition("2024-03-01", fixed)
    assert(was == 5, "the straddling part must be a victim in full")
    assert(now == 6, "4 new day rows + 2 carried-over other-day rows")
    assert(t.read().count() == 6)
    // no stale target-day rows survive alongside the replacement…
    assert(t.read().filter($"date" === to_date(lit("2024-03-01")))
      .select($"modem_name").distinct().collect().map(_.getString(0)).toSeq
      == Seq("fixed"))
    // …and the other day's rows are conserved, not dropped with the part
    assert(t.read().filter($"date" === to_date(lit("2024-03-02"))
      && $"modem_name" === "m1").count() == 2)
  }

  test("mergeInto matched count is logical (excludes tombstone-masked rows)") {
    val t = freshTable()
    t.append(rows(5, "2024-03-01", "m1").coalesce(1), 0)
    assert(t.softDelete($"uptime" <= 2L, Seq("uptime")) == 2L)
    // source hits one LIVE key (3) and one absent key (50); the two
    // masked rows (1, 2) in the victim part must not count as matched
    val src = Seq(("fix", java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), 3L),
      ("new", java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), 50L))
      .toDF("modem_name", "timestamp", "uptime")
      .withColumn("date", to_date($"timestamp"))
    val (matched, inserted) = t.mergeInto(src, Seq("uptime"))
    assert(matched == 1, s"physical-identity count would say 3, got $matched")
    assert(inserted == 1)
    assert(t.read().count() == 4) // rows 3(updated),4,5 + inserted 50
    assert(t.read().filter($"uptime" === 3L).select($"modem_name")
      .head().getString(0) == "fix")
    assert(t.read().filter($"uptime" <= 2L).count() == 0,
      "merge rewrite must not resurrect the soft-deleted rows")
  }

  test("softDelete of NULL key tuples masks immediately (null-safe anti-join)") {
    val t = freshTable()
    val df = Seq(
      (Option.empty[String], java.sql.Timestamp.valueOf("2024-03-01 00:00:01"), 1L),
      (Some("m1"), java.sql.Timestamp.valueOf("2024-03-01 00:00:02"), 2L))
      .toDF("modem_name", "timestamp", "uptime")
      .withColumn("date", to_date($"timestamp"))
    t.append(df.coalesce(1), 0)
    // the matching row's key tuple is (NULL): a plain equi-anti-join
    // could never remove it, so the delete would silently not take
    assert(t.softDelete($"uptime" === 1L, Seq("modem_name")) == 1L)
    assert(t.read().count() == 1)
    assert(t.read().filter($"modem_name".isNull).count() == 0)
    // physical reconcile agrees with the logical mask
    assert(t.applyTombstones() == 1L)
    assert(t.read().count() == 1)
    assert(t.read().filter($"modem_name".isNull).count() == 0)
  }

  test("shallow clone: zero-copy fork, independent evolution both ways") {
    val src = freshTable()
    src.append(rows(10, "2024-03-01", "m1"), 0)
    src.append(rows(5, "2024-03-02", "m2"), 1)
    val clone = src.cloneShallowTo(
      java.nio.file.Files.createTempDirectory("fact_clone").toString)
    // v0 is pure references — no data under the clone's root
    assert(clone.snapshot().files.forall(_.path.contains("fact_table")))
    assert(clone.read().count() == 15)
    // clone-side append is invisible to the source
    clone.append(rows(3, "2024-03-03", "m3"), 0)
    assert(clone.read().count() == 18 && src.read().count() == 15)
    // source-side append is invisible to the clone (forked at v0)
    src.append(rows(4, "2024-03-04", "m4"), 2)
    assert(src.read().count() == 19 && clone.read().count() == 18)
    // clone-side delete masks rows held in SOURCE parts, source unharmed
    assert(clone.softDelete($"modem_name" === "m1", Seq("modem_name")) == 1L)
    assert(clone.read().count() == 8 && src.read().count() == 19)
  }

  test("change data feed: inserts from appends, deletes from tombstones, reorgs silent") {
    val t = freshTable()
    t.append(rows(6, "2024-03-01", "m1"), 0)              // v0: 6 inserts
    t.append(rows(4, "2024-03-02", "m2"), 1)              // v1: 4 inserts
    t.compact()                                            // v2: reorg
    t.softDelete($"modem_name" === "m2", Seq("modem_name")) // v3: 4 deletes
    val head = t.snapshot().nextVersion - 1
    val feed = t.changesBetween(0, head)
      .groupBy($"_change_type", $"_commit_version")
      .agg(count(lit(1)).as("n")).as[(String, Long, Long)].collect().toSet
    assert(feed == Set(("insert", 0L, 6L), ("insert", 1L, 4L),
      ("delete", 3L, 4L)), s"feed: $feed")
    // windowing: a range holding only the compaction has no changes
    intercept[IllegalStateException](t.changesBetween(2, 2))
    // the delete feed carries the deleted rows' actual columns
    val delRows = t.changesBetween(3, head)
      .filter($"_change_type" === "delete")
      .select($"modem_name").distinct().as[String].collect().toSeq
    assert(delRows == Seq("m2"))
  }

  test("change data feed excludes rows an earlier tombstone already removed") {
    val t = freshTable()
    t.append(rows(8, "2024-03-01", "m1"), 0)
    t.softDelete($"uptime" <= 3L, Seq("modem_name", "timestamp", "uptime"))
    t.softDelete($"uptime" <= 5L, Seq("modem_name", "timestamp", "uptime"))
    val head = t.snapshot().nextVersion - 1
    val byV = t.changesBetween(1, head)
      .groupBy($"_commit_version").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    // v1 deletes uptimes {1,2,3}; v2 must report ONLY {4,5} — not re-list
    // the three rows the first tombstone already masked
    assert(byV == Map(1L -> 3L, 2L -> 2L), s"per-version deletes: $byV")
  }

  test("change feed reports deletes whose tombstone keys are NULL") {
    val t = freshTable()
    val df = Seq(
      (Option.empty[String], java.sql.Timestamp.valueOf("2024-03-01 00:00:01"), 1L),
      (Some("m1"), java.sql.Timestamp.valueOf("2024-03-01 00:00:02"), 2L),
      (Some("m2"), java.sql.Timestamp.valueOf("2024-03-01 00:00:03"), 3L))
      .toDF("modem_name", "timestamp", "uptime")
      .withColumn("date", to_date($"timestamp"))
    t.append(df.coalesce(1), 0)
    // tombstone key tuple is (NULL): masked() removes the row null-safely,
    // so the feed must report it too — a plain equi-semi-join would drop
    // it and incremental consumers would diverge from table state
    assert(t.softDelete($"uptime" === 1L, Seq("modem_name")) == 1L)
    val dels = t.changesBetween(1, 1)
      .filter($"_change_type" === "delete")
      .select($"uptime").as[Long].collect().toSeq
    assert(dels == Seq(1L), s"feed deletes: $dels")
    assert(t.read().count() == 2)
  }

  test("change feed over a clone's v0 mixed commit replays to the live state") {
    val src = freshTable()
    src.append(rows(10, "2024-03-01", "m1").coalesce(1), 0)
    assert(src.softDelete($"uptime" <= 3L,
      Seq("modem_name", "timestamp", "uptime")) == 3L)
    // v0 of the clone carries the source's data files AND its tombstone
    // in ONE commit: the feed must emit the 7 live rows as inserts (not
    // 10, not crash on an empty pre-clone snapshot) and no deletes —
    // the carried tombstone is inherited state, not a change event
    val clone = src.cloneShallowTo(
      java.nio.file.Files.createTempDirectory("fact_clone_cdf").toString)
    val feed = clone.changesBetween(0, 0)
      .groupBy($"_change_type").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(feed == Map("insert" -> 7L), s"clone v0 feed: $feed")
    assert(clone.read().count() == 7)
  }

  test("change data feed drives an incremental consumer (c18 funnel subscribe)") {
    // the end-to-end subscribe story: a docs table takes an old corpus
    // (v0) and a new crawl (v1); the consumer reads ONLY v1's feed and
    // must produce the same funnel report as being handed the batch
    def txt(tag: String) = s"alpha beta gamma delta epsilon zeta eta theta iota $tag"
    val old = Seq((10L, txt("a"), "A"), (20L, txt("b"), "A"), (31L, txt("c"), "B"))
      .toDF("doc_id", "text", "source")
    val batch = Seq((5L, txt("a"), "A"), (15L, txt("fresh"), "A"))
      .toDF("doc_id", "text", "source")
    val t = new FactTable(
      java.nio.file.Files.createTempDirectory("fact_docs").toString, spark)
    t.append(old, 0)
    t.append(batch, 1)
    val fed = t.changesBetween(1, 1)
      .filter($"_change_type" === "insert")
      .select($"doc_id", $"text", $"source")
    val viaFeed = operators.TextQueries.incrementalFunnel(old, fed, cap = 2)
      .as[(String, Long, Long, Long)].collect().toSet
    val direct = operators.TextQueries.incrementalFunnel(old, batch, cap = 2)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(viaFeed == direct && viaFeed.nonEmpty, s"feed-driven: $viaFeed vs $direct")
  }

  test("clone vacuum never deletes source bytes (ownership guard)") {
    val src = freshTable()
    src.append(rows(10, "2024-03-01", "m1"), 0)
    val clone = src.cloneShallowTo(
      java.nio.file.Files.createTempDirectory("fact_clone").toString)
    // compaction rewrites the cloned-in parts into clone-local ones,
    // REMOVING the source paths from the clone's log...
    clone.compact()
    assert(clone.snapshot().files.forall(_.path.contains("fact_clone")))
    // ...and an aggressive vacuum must still leave the source intact
    clone.vacuum(0L)
    assert(src.read().count() == 10, "source data deleted by clone vacuum")
    assert(clone.read().count() == 10)
  }

  // ------------------------------------------------ log-native reads

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def logFile(t: FactTable, name: String) =
    new java.io.File(new java.io.File(t.root, "_graft_log"), name)

  private def sortedRows(df: org.apache.spark.sql.DataFrame) = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).orderBy(cols.map(col): _*).collect().toSeq
  }

  private def fieldSet(df: org.apache.spark.sql.DataFrame) =
    df.schema.fields.map(f => f.name -> f.dataType).toSet

  test("log-native read: ten base generations plus buffer parts plan with no Spark job") {
    val t = freshTable()
    (0 until 10).foreach { i =>
      t.append(rows(4, s"2024-03-0${i % 3 + 1}", s"m$i"), i)
      t.compact()
    }
    t.append(rows(3, "2024-03-05", "b1"), 10)
    t.append(rows(2, "2024-03-06", "b2"), 11)
    val snap = t.snapshot()
    val gens = snap.dataFiles.filter(_.tier == FactTable.TierBase)
      .map(f => new org.apache.hadoop.fs.Path(f.path).getParent.getParent.getName)
      .distinct
    assert(gens.size == 10, gens)
    assert(snap.dataFiles.count(_.tier == FactTable.TierBuffer) >= 2)
    val cut = java.sql.Timestamp.valueOf("2024-03-02 00:00:00")
    val ((all, recent), jobs) =
      jobsDuring((t.read(), t.readWhere($"timestamp" >= cut)))
    assert(jobs == 0, s"building the reads started $jobs Spark jobs")
    Seq(all, recent).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      val scans = plan.linesIterator.count(_.contains("FileScan"))
      assert(scans <= 2, s"$scans file scans for 10 generations:\n$plan")
    }
    assert(all.count() == 45)
    assert(sortedRows(recent) == sortedRows(all.where($"timestamp" >= cut)))
  }

  test("schema lives in the log: recorded on change only, time-travels, checkpointed") {
    val t = freshTable()
    t.append(rows(4, "2024-03-01", "m1"), 0)                                // v0
    t.append(rows(2, "2024-03-01", "m2"), 1)                                // v1
    t.compact()                                                             // v2
    t.append(rows(3, "2024-03-02", "m3")
      .withColumn("fw_version", lit("8600-19.2")), 2)                        // v3
    t.append(rows(1, "2024-03-03", "m4"), 3)                                // v4
    def recorded(v: Long) = mapper.readTree(logFile(t, s"$v.json")).has("schema")
    assert((0L to 4L).filter(recorded) == Seq(0L, 3L),
      "the schema must be written by the first commit and the add-column one only")
    // time travel to before the evolution returns the old schema
    val old = t.read(asOfVersion = 2)
    assert(!old.columns.contains("fw_version") && old.count() == 6)
    assert(t.read(asOfVersion = 3).columns.contains("fw_version"))
    assert(t.read().filter($"fw_version".isNull).count() == 7)
    // checkpoints carry the schema: readers need no earlier log version
    val schema = t.snapshot().schema
    assert(schema.exists(_.fieldNames.contains("fw_version")))
    val ck = t.checkpoint()
    assert(mapper.readTree(logFile(t, s"$ck${FactTable.CheckpointSuffix}"))
      .get("schema").asText() == schema.get.json)
    (0L to ck).foreach(v => assert(logFile(t, s"$v.json")
      .renameTo(logFile(t, s"hidden-$v"))))
    val t2 = new FactTable(t.root, spark)
    assert(t2.snapshot().schema == schema)
    assert(t2.read().count() == 10 && t2.read().columns.contains("fw_version"))
  }

  test("a log with no recorded schema reads identically (footer fallback)") {
    val t = freshTable()
    t.append(rows(4, "2024-03-01", "m1"), 0)                                // v0
    t.compact()                                                             // v1
    t.append(rows(3, "2024-03-02", "m2")
      .withColumn("fw_version", lit("8600-19.2")), 1)                        // v2
    t.compact()                                                             // v3
    t.append(rows(2, "2024-03-03", "m3"), 2)                                // v4
    t.softDelete($"uptime" === 1L, Seq("modem_name", "uptime"))             // v5
    val versions = Seq(3L, 5L) // base parts only (date from directories); all tiers
    val before = versions.map(v => t.read(v)).map(df => (fieldSet(df), sortedRows(df)))
    // hand-strip every recorded schema: the log a pre-schema writer left
    var stripped = 0
    (0L to 5L).foreach { v =>
      val f = logFile(t, s"$v.json")
      val node = mapper.readTree(f)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      if (node.remove("schema") != null) {
        stripped += 1
        mapper.writeValue(f, node)
        logFile(t, s".$v.json.crc").delete() // the local fs checksum
      }
    }
    assert(stripped == 2)
    val legacy = new FactTable(t.root, spark)
    assert(legacy.snapshot().schema.isEmpty)
    assert(versions.map(v => legacy.read(v))
      .map(df => (fieldSet(df), sortedRows(df))) == before)
    assert(legacy.readWhere($"modem_name" === "m2").count() == 2) // uptime 1 deleted
    // the first commit after the upgrade records the schema again
    legacy.append(rows(1, "2024-03-04", "m4"), 3)
    assert(legacy.snapshot().schema.exists(s =>
      s.fields.map(f => f.name -> f.dataType).toSet == before.last._1))
  }

  test("log-native read is row-identical across cold, cloned and masked parts") {
    val src = freshTable()
    val batches = (1 to 4).map(d => rows(6, s"2024-03-0$d", s"m$d")) :+
      rows(5, "2024-03-05", "m5")
    batches.zipWithIndex.foreach { case (b, i) =>
      src.append(b, i)
      if (i < 4) src.compact()
    }
    assert(src.ttlMove("2024-03-03") > 0L) // days 1-2 to the cold volume
    assert(src.snapshot().dataFiles.exists(_.path.contains("/cold/data/")))
    src.softDelete($"uptime" === 3L, Seq("modem_name", "uptime"))
    val clone = src.cloneShallowTo(
      java.nio.file.Files.createTempDirectory("fact_clone").toString)
    clone.append(rows(2, "2024-03-06", "m6"), 0)
    val expected = batches.reduce(_.unionByName(_)).where($"uptime" =!= 3L)
    assert(sortedRows(src.read()) == sortedRows(expected))
    assert(sortedRows(clone.read()) ==
      sortedRows(expected.unionByName(rows(2, "2024-03-06", "m6"))))
    val day2 = $"date" >= lit(java.sql.Date.valueOf("2024-03-02"))
    assert(sortedRows(src.readWhere(day2)) == sortedRows(expected.where(day2)))
    // a prune that keeps nothing answers from the log schema alone
    val none = src.readWhere($"uptime" > 100L)
    assert(none.count() == 0 && fieldSet(none) == fieldSet(src.read()))
  }

  test("token and ngram blooms on one table: both sidecar passes build and prune") {
    val t = new FactTable(
      java.nio.file.Files.createTempDirectory("fact_grams").toString, spark,
      tokenBloomCols = Seq("text"), ngramBloomCols = Seq("text"))
    def docs(id0: Long, texts: Seq[String]) =
      texts.zipWithIndex.map { case (tx, i) => (id0 + i, tx) }
        .toDF("doc_id", "text").withColumn("date", to_date(lit("2024-03-01")))
    t.append(docs(0, Seq("alpha beta", "beta alpha")).coalesce(1), 0)
    t.append(docs(10, Seq("gamma delta", "delta gamma")).coalesce(1), 1)
    val token = FactTable.hasToken($"text", "gamma")
    val gram = $"text".contains("amm")
    assert(t.pruneReport(token) == ((1, 2)) && t.pruneReport(gram) == ((1, 2)))
    assert(t.readWhere(token).count() == 2 && t.readWhere(gram).count() == 2)
    // the compacted generation (partition directories) builds both too
    t.compact(sortCols = Seq("doc_id"))
    assert(t.tokenBloomFpp("text").nonEmpty && t.ngramBloomFpp("text").nonEmpty)
    assert(t.readWhere(gram).count() == 2)
    assert(t.readWhere(FactTable.hasToken($"text", "alpha")).count() == 2)
  }

  // ------------------------------------------- tiered merges in the flush

  /** A sink that flushes on every `rows`-row batch. */
  private def flushingSink(t: FactTable, rows: Int) = new BufferedFactSink(t,
    maxAgeMs = Long.MaxValue / 2, maxRows = rows, maxBytes = Long.MaxValue)

  private def dayOf(f: FactTable.FileEntry): String =
    "/date=([^/]+)/".r.findFirstMatchIn(f.path).fold("")(_.group(1))

  test("sink flushes of equal size keep popcount(n) sorted parts per day") {
    val t = freshTable()
    val sink = flushingSink(t, 4)
    (1 to 12).foreach { n =>
      sink.addBatch(rows(4, "2024-03-01", s"m${n * 7 % 5}").drop("date"), n)
      val parts = t.snapshot().dataFiles
      assert(parts.forall(_.tier == FactTable.TierBase))
      // a binary counter: one part of 4 * 2^b rows per set bit b of n
      val want = (0 until 4).filter(b => (n >> b & 1) == 1).map(4L << _)
      assert(parts.map(_.rows).sorted == want, s"after $n flushes: $parts")
      assert(t.read().count() == 4L * n)
    }
    val perFile = t.read()
      .withColumn("f", input_file_name())
      .select($"f", $"modem_name", $"timestamp")
      .as[(String, String, java.sql.Timestamp)].collect().groupBy(_._1)
    assert(perFile.size == 2)
    perFile.values.foreach { rs =>
      val keys = rs.map(r => (r._2, r._3.getTime)).toSeq
      assert(keys == keys.sorted, "a merged part must be sorted by (modem_name, ts)")
    }
  }

  test("a flush spanning midnight merges only each day's own parts") {
    val t = freshTable()
    val sink = flushingSink(t, 4)
    Seq("2024-03-01", "2024-03-02", "2024-03-03").zipWithIndex.foreach {
      case (d, i) => sink.addBatch(rows(4, d, s"m$i").drop("date"), i)
    }
    val day3 = t.snapshot().dataFiles.filter(dayOf(_) == "2024-03-03")
    sink.addBatch(rows(2, "2024-03-01", "x").union(rows(2, "2024-03-02", "y"))
      .coalesce(1).drop("date"), 3)
    val parts = t.snapshot().dataFiles
    assert(parts.map(dayOf).sorted == Seq("2024-03-01", "2024-03-02", "2024-03-03"))
    assert(parts.filter(dayOf(_) == "2024-03-03") == day3, "an untouched day keeps its part")
    assert(parts.filterNot(dayOf(_) == "2024-03-03").map(_.rows) == Seq(6L, 6L))
    val perFileDays = t.read().withColumn("f", input_file_name())
      .groupBy($"f").agg(countDistinct(to_date($"timestamp")).as("days"))
      .as[(String, Long)].collect()
    assert(perFileDays.length == 3 && perFileDays.forall(_._2 == 1L))
    assert(t.read().count() == 16)
  }

  test("flush merges never take cold-volume or shallow-cloned parts") {
    val t = freshTable()
    val sink = flushingSink(t, 4)
    sink.addBatch(rows(4, "2024-03-01", "a").drop("date"), 0)
    assert(t.ttlMove("2024-03-02") == 1L)
    val cold = t.snapshot().dataFiles.map(_.path)
    sink.addBatch(rows(4, "2024-03-01", "b").drop("date"), 1)
    val afterCold = t.snapshot().dataFiles.map(_.path)
    assert(afterCold.size == 2 && cold.forall(afterCold.contains), afterCold)
    assert(t.read().count() == 8)

    val src = freshTable()
    flushingSink(src, 4).addBatch(rows(4, "2024-03-01", "a").drop("date"), 0)
    val clone = src.cloneShallowTo(
      java.nio.file.Files.createTempDirectory("fact_clone_flush").toString)
    val cloned = clone.snapshot().dataFiles.map(_.path)
    flushingSink(clone, 4).addBatch(rows(4, "2024-03-01", "b").drop("date"), 1)
    val afterClone = clone.snapshot().dataFiles.map(_.path)
    assert(afterClone.size == 2 && cloned.forall(afterClone.contains), afterClone)
    assert(clone.read().count() == 8 && src.read().count() == 4)
  }

  test("a merged tombstoned part keeps its deleted rows out") {
    val t = freshTable()
    val sink = flushingSink(t, 4)
    sink.addBatch(rows(4, "2024-03-01", "a").drop("date"), 0)
    val first = t.snapshot().dataFiles.map(_.path)
    assert(t.softDelete($"uptime" === 2L, Seq("modem_name", "uptime")) == 1L)
    val tombs = t.snapshot().tombFiles
    sink.addBatch(rows(4, "2024-03-01", "b").drop("date"), 1)
    val snap = t.snapshot()
    assert(snap.dataFiles.size == 1 && !first.contains(snap.dataFiles.head.path),
      "the tombstoned part must have been merged")
    assert(snap.dataFiles.head.rows == 7, "the deleted row must not be rewritten")
    assert(snap.tombFiles == tombs, "tombstone parts are never merged")
    assert(t.read().count() == 7)
    assert(t.read().where($"modem_name" === "a" && $"uptime" === 2L).count() == 0)
  }

  test("a transaction that conflicts on every restart gives up with ConcurrentWriteException") {
    val root = java.nio.file.Files.createTempDirectory("fact_endless").toString
    val other = new FactTable(root, spark)
    var armed = false
    var restarts = 0
    val t = new FactTable(root, spark) {
      // every attempt loses to a rewrite of the part it is about to drop
      override protected def beforeCommit(): Unit =
        if (armed) {
          restarts += 1
          assert(other.deleteWhere($"uptime" === restarts.toLong) == 1L)
        }
    }
    t.append(rows(25, "2024-03-01", "m1"), 0)
    armed = true
    intercept[graft.storage.ConcurrentWriteException](t.ttlExpire("2024-03-02"))
    assert(restarts == 20)
    armed = false
    assert(t.read().count() == 5)
  }

  test("appending to a skip-indexed table reads each new part with the known schema") {
    val t = new FactTable(
      java.nio.file.Files.createTempDirectory("fact_sidecar_jobs").toString,
      spark, bloomCols = Seq("modem_name"))
    val (_, jobs) = jobsDuring(t.append(rows(6, "2024-03-01", "m1").coalesce(1), 0))
    // one write job and the bloom build's one (its aggregate over the
    // small new part plans no exchange); a schema-inferring
    // `spark.read.parquet` of the new part would add a third
    assert(jobs == 2, s"$jobs Spark jobs for a one-part append")
    assert(t.readWhere($"modem_name" === "m2").count() == 0)
    assert(t.pruneReport($"modem_name" === "zz") == ((0, 1)))
  }

  test("incremental vacuum deletes exactly the files a full-history replay names") {
    val t = freshTable()
    val logDir = new java.io.File(t.root, "_graft_log")
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    def parts(): Set[String] = {
      val all = scala.collection.mutable.Set[String]()
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles.foreach(walk)
        else if (f.getName.endsWith(".parquet")) all += norm(f.getPath)
      walk(new java.io.File(t.root, "data"))
      all.toSet
    }
    def named(keepFrom: Long): Set[String] = {
      val versions = logDir.list.flatMap(_.stripSuffix(".json").toLongOption).sorted
      val removedAt = scala.collection.mutable.Map[String, Long]()
      versions.foreach { v =>
        val node = mapper.readTree(new java.io.File(logDir, s"$v.json"))
        node.get("adds").forEach(a => removedAt.remove(a.get("path").asText()))
        node.get("removes").forEach(r => removedAt.put(r.asText(), v))
      }
      val last = math.min(keepFrom, versions.last)
      removedAt.collect { case (p, v) if v <= last => norm(p) }.toSet
    }
    def vacuumed(keepFrom: Long): Unit = {
      val before = parts()
      val want = named(keepFrom) & before
      val n = t.vacuum(keepFrom)
      assert(before -- parts() == want && n == want.size, s"keepFrom=$keepFrom")
    }
    (0 until 4).foreach(i => t.append(rows(3, s"2024-03-0${i % 2 + 1}", s"m$i"), i))
    t.compact()
    val mid = t.snapshot().nextVersion - 1
    t.append(rows(3, "2024-03-01", "m4"), 4)
    t.compact()
    vacuumed(mid) // only the first compaction's buffer parts go
    t.majorCompact()
    t.append(rows(2, "2024-03-02", "m5"), 5)
    vacuumed(t.snapshot().nextVersion - 2)
    vacuumed(mid) // nothing left below an older horizon
    t.deleteWhere($"modem_name" === "m5")
    t.checkpoint()
    vacuumed(Long.MaxValue)
    assert(t.read().count() == 15)
  }

  // ------------------------------------------------------- skip indexes

  test("deleteWhere and softDelete are scoped by the array bloom") {
    def part(tag: String, n: Long) =
      Seq((java.sql.Date.valueOf("2024-03-01"), tag, n)).toDF("date", "tag", "n")
        .select($"date", $"n", array(lit("common"), $"tag").as("tags"))
    def table() = {
      val t = new FactTable(
        java.nio.file.Files.createTempDirectory("fact_abloom_del").toString,
        spark, arrayBloomCols = Seq("tags"))
      t.append(part("x1", 1L).coalesce(1), 0)
      t.append(part("x2", 2L).coalesce(1), 1)
      t
    }
    def otherPart(t: FactTable) =
      t.snapshot().dataFiles.map(_.path).filter(_.contains("append-1"))
    val x1 = array_contains($"tags", "x1")
    // array columns carry no min/max stats: only the sidecar can scope
    val td = table()
    val other = otherPart(td)
    assert(other.size == 1 && td.pruneReport(x1) == ((1, 2)))
    assert(td.deleteWhere(x1) == 1L)
    assert(td.snapshot().dataFiles.map(_.path).contains(other.head),
      "the part the array bloom proves free of x1 must not be rewritten")
    assert(td.read().select($"n").as[Long].collect().toSeq == Seq(2L))
    // the tombstone's deletion vector names only the part holding x1
    val ts = table()
    assert(ts.softDelete(x1, Seq("n")) == 1L)
    val victims = ts.snapshot().tombFiles.flatMap { t =>
      val node = mapper.readTree(new java.io.File(
        new org.apache.hadoop.fs.Path(t.path + FactTable.VictimsSuffix).toUri.getPath))
      val b = Seq.newBuilder[String]
      node.get("victims").forEach(v => b += v.asText())
      b.result()
    }
    assert(victims.size == 1 && !victims.contains(otherPart(ts).head), victims)
    assert(ts.read().select($"n").as[Long].collect().toSeq == Seq(2L))
  }

  test("vacuum reclaims the sidecars of every skip-index family and projection") {
    val dir = java.nio.file.Files.createTempDirectory("fact_all_ix").toString
    val t = new FactTable(dir, spark,
      bloomCols = Seq("modem_name"),
      projections = Seq(FactTable.ProjectionSpec("by_modem", Seq("modem_name"), Seq("uptime"))),
      setIndexCols = Seq("uptime"),
      tokenBloomCols = Seq("text"), ngramBloomCols = Seq("text"),
      arrayBloomCols = Seq("tags"))
    (0 until 3).foreach { i =>
      t.append(rows(4, s"2024-03-0${i + 1}", s"m$i")
        .withColumn("text", concat(lit(s"word$i "), $"modem_name"))
        .withColumn("tags", array(lit(s"t$i"), lit("all"))).coalesce(1), i)
    }
    val markers = Seq(".bloom.", ".set.", ".abloom.", ".tokbf.", ".ngbf.", ".proj.")
    // every sidecar file (a projection sidecar is a parquet directory)
    def sidecars(): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).forEach { p =>
        // skip Hadoop's .crc checksum shadows (deleted with their file)
        if (java.nio.file.Files.isRegularFile(p) &&
            !p.getFileName.toString.startsWith(".") &&
            markers.exists(p.toString.contains)) out += p.toString
      }
      out.toSeq
    }
    def livePaths() = t.snapshot().files.map(_.path.stripPrefix("file:"))
    def owned(s: String) =
      livePaths().exists(p => markers.exists(m => s.startsWith(p + m)))
    // three buffer parts, each with all six sidecars
    assert(livePaths().size == 3)
    assert(markers.forall(m => sidecars().count(_.contains(m)) >= 3))
    t.compact()
    assert(sidecars().exists(s => !owned(s)), "compact leaves the old parts' sidecars")
    t.vacuum()
    val left = sidecars()
    assert(left.forall(owned), s"orphan sidecars left behind: ${left.filterNot(owned)}")
    // every live part keeps every family's sidecar
    livePaths().foreach { p =>
      markers.foreach(m => assert(left.exists(_.startsWith(p + m)), s"$p lost its $m sidecar"))
    }
    assert(t.readWhere($"modem_name" === "m1").count() == 4)
    assert(t.readWhere(array_contains($"tags", "t2")).count() == 4)
  }

  test("a one-poll sink commit and its small flush run one Spark job each") {
    val t = freshTable()
    val sink = flushingSink(t, 4)
    val batch = rows(4, "2024-03-01", "m1").drop("date").coalesce(1)
    val (_, jobs) = jobsDuring(sink.addBatch(batch, 0))
    // the collect of the batch and the flush's one-task collect: neither
    // commit runs a write job, and the flush no shuffle
    assert(jobs == 2, s"$jobs Spark jobs for a flushing one-partition addBatch")
    assert(t.snapshot().dataFiles.map(_.rows) == Seq(4L))
    assert(t.read().count() == 4)
  }

  private def footerSparkSchema(path: String): String = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sessionState.newHadoopConf()))
    try reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")
    finally reader.close()
  }

  test("driver-written sink parts match Spark-written parts") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val chan = StructType(Seq(StructField("id", IntegerType, nullable = false),
      StructField("snr", FloatType)))
    val schema = StructType(Seq(
      StructField("modem_name", StringType, nullable = false),
      StructField("timestamp", TimestampType),
      StructField("uptime", LongType),
      StructField("power", FloatType),
      StructField("channels", ArrayType(chan))))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val data = Seq(
      Row("m2", ts("2024-03-01 00:00:01.123456"), 5L, 1.5f,
        Seq(Row(1, 38.25f), Row(2, null))),
      Row("m1", ts("2024-03-01 00:00:02.000001"), null, -0.5f, null),
      Row("m1", ts("2024-03-02 23:59:59.999999"), 7L, null, Seq(null, Row(3, 40.5f))),
      Row("m3", null, 9L, 2.25f, Seq()),
      Row("m1", ts("2024-03-01 00:00:00.5"), 1L, Float.NaN, Seq(Row(4, -1.0f))),
      Row("m2", ts("2024-03-02 00:00:00"), 2L, 0.0f, Seq(Row(5, null))))
    val batch = spark.createDataFrame(java.util.Arrays.asList(data: _*), schema).coalesce(1)

    // the driver side: a buffered sink commit, then its flush (on age)
    val driver = freshTable()
    val sink = new BufferedFactSink(driver, maxAgeMs = 10000,
      maxRows = data.size + 1, maxBytes = Long.MaxValue)
    sink.addBatch(batch, 0)
    // the Spark side: the distributed append and a merge with the small
    // path turned off
    val spark0 = freshTable()
    spark0.append(batch.withColumn("date", to_date($"timestamp")), 0)
    def parts(t: FactTable) = t.snapshot().dataFiles
      .map(f => (dayOf(f), f.rows, f.stats, footerSparkSchema(f.path))).sortBy(_._1)
    val buffer = parts(driver)
    assert(buffer.size == 1 && buffer == parts(spark0))
    assert(sortedRows(driver.read()) == sortedRows(spark0.read()))

    assert(sink.maybeFlush(nowMs = System.currentTimeMillis() + 11000) == data.size)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try spark0.compact() finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(sortedRows(driver.read()) == sortedRows(spark0.read()))
    def logged(t: FactTable, asOf: Long) =
      t.snapshot(asOf).dataFiles.map(f => (dayOf(f), f.rows, f.stats)).sortBy(_._1)
    assert(logged(driver, 0) == logged(spark0, 0))
    val base = parts(driver)
    assert(base.map(_._1) == Seq("2024-03-01", "2024-03-02",
      FactTable.DefaultPartitionValue))
    assert(base == parts(spark0))
    Seq(driver, spark0).foreach { t =>
      val perFile = t.read().withColumn("f", input_file_name())
        .select($"f", $"modem_name", $"timestamp")
        .as[(String, String, java.sql.Timestamp)].collect().groupBy(_._1)
      assert(perFile.size == 3)
      perFile.values.foreach { rs =>
        val keys = rs.map(r => (r._2, Option(r._3).map(_.getTime))).toSeq
        assert(keys == keys.sorted, s"a part must be sorted by (modem_name, ts): $keys")
      }
    }
  }

  test("a sink batch above maxRows takes the distributed append") {
    val t = freshTable()
    val sink = flushingSink(t, 4)
    def bufferParts(v: Long) = t.snapshot(asOf = v).files.filter(_.tier == FactTable.TierBuffer)
    sink.addBatch(rows(10, "2024-03-01", "m1").drop("date").repartition(3), 0)
    assert(bufferParts(0).size == 3, "10 rows > maxRows = 4: one part per task")
    val v = t.snapshot().nextVersion
    sink.addBatch(rows(4, "2024-03-01", "m2").drop("date"), 1)
    assert(bufferParts(v).map(_.rows) == Seq(4L), "4 rows: one driver-written part")
    assert(t.read().count() == 14)
  }

  test("vacuum leaves no directory under data/ without a live part") {
    val t = freshTable()
    val sink = flushingSink(t, 4)
    (1 to 12).foreach(n => sink.addBatch(rows(4, "2024-03-01", s"m$n").drop("date"), n))
    t.append(rows(5, "2024-03-02", "x"), 100) // a Spark write: leaves _SUCCESS
    t.compact()
    t.vacuum()
    val live = t.snapshot().files.map(f => new java.io.File(new java.net.URI(f.path)).getPath)
    val dirs = scala.collection.mutable.ArrayBuffer[String]()
    def walk(d: java.io.File): Unit = d.listFiles.filter(_.isDirectory).foreach { s =>
      dirs += s.getPath
      walk(s)
    }
    walk(new java.io.File(t.root, "data"))
    val stray = dirs.filterNot(d => live.exists(_.startsWith(d + "/")))
    assert(stray.isEmpty, s"directories without a live part: $stray")
    assert(t.read().count() == 53)
  }

  // -------------------------------- small reads aggregate in one task

  /** The fixture scrapes, shifted by `poll` minutes: 4 parsed rows over
    * two days, as one sink batch.
    */
  private def docsisPoll(poll: Int) = DocsisStream.parseStream(
    DocsisFixtures.rawFrame(spark).withColumn("timestamp",
      $"timestamp" + make_dt_interval(lit(0), lit(0), lit(poll), lit(0))))

  /** Base and buffer tiers: two sink flushes, then one buffered poll. */
  private def docsisTable(): FactTable = {
    val t = freshTable()
    val sink = new BufferedFactSink(t, maxAgeMs = Long.MaxValue / 2,
      maxRows = 5, maxBytes = Long.MaxValue)
    (0 until 5).foreach(p => sink.addBatch(docsisPoll(p), p))
    val tiers = t.snapshot().dataFiles.map(_.tier).toSet
    assert(tiers == Set(FactTable.TierBase, FactTable.TierBuffer), s"tiers $tiers")
    t
  }

  /** The dashboard's per-channel rollup. */
  private def rollup(df: org.apache.spark.sql.DataFrame) =
    df.select(explode($"downstream_channels").as("ch"))
      .groupBy($"ch.channel_id".as("channel_id"))
      .agg(avg($"ch.snr"), min($"ch.snr"), count(lit(1)))

  private def rankWindow(df: org.apache.spark.sql.DataFrame) =
    df.select($"modem_name", $"timestamp", rank().over(
      org.apache.spark.sql.expressions.Window.partitionBy($"modem_name")
        .orderBy($"timestamp".desc)).as("r"))

  private object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Rows (sorted), Spark jobs and shuffle exchanges of one collect. */
  private def run(df: => org.apache.spark.sql.DataFrame) = {
    val frame = df
    val (rows, jobs) = jobsDuring(frame.collect().map(_.toString).sorted.toSeq)
    val shuffles = Aqe.collect(frame.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.size
    (rows, jobs, shuffles)
  }

  private def withThreshold[A](bytes: Long)(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body finally spark.conf.set(key, prev)
  }

  test("a rollup and a windowed read of a small table run in one job, with no exchange") {
    val t = docsisTable()
    Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "rollup" -> rollup, "windowed" -> DocsisStream.snrWindowed
    ).foreach { case (name, shape) =>
      val (rows, jobs, shuffles) = run(shape(t.read()))
      assert(shuffles == 0 && jobs == 1, s"$name: $jobs jobs, $shuffles exchanges")
      assert(rows.nonEmpty, name)
      // the off switch brings the distributed plan back, with equal rows
      val (offRows, _, offShuffles) = withThreshold(-1)(run(shape(t.read())))
      assert(offShuffles >= 1, s"$name: no exchange with the rule off")
      assert(offRows == rows, name)
    }
  }

  test("a rank window over a small table plans no exchange") {
    val t = docsisTable()
    val (rows, jobs, shuffles) = run(rankWindow(t.read()))
    assert(shuffles == 0 && jobs == 1, s"$jobs jobs, $shuffles exchanges")
    assert(rows == withThreshold(-1)(run(rankWindow(t.read())))._1)
  }

  test("a table above the threshold keeps the distributed plan") {
    val t = docsisTable()
    val bytes = t.snapshot().dataFiles.map(_.bytes).sum
    val (rows, _, shuffles) = withThreshold(bytes - 1)(run(rollup(t.read())))
    assert(shuffles >= 1, s"${bytes - 1}-byte threshold under a $bytes-byte table")
    val (atRows, _, atShuffles) = withThreshold(bytes)(run(rollup(t.read())))
    assert(atRows == rows)
    assert(atShuffles == 0, s"a $bytes-byte threshold over a $bytes-byte table")
  }

  test("one task is chosen up to 1 MiB, whatever larger threshold is set") {
    val mib = 1L << 20
    def oneTask(bytes: Long) = FactTable.oneTask(bytes, spark.sessionState.conf)
    withThreshold(10 * mib) {
      assert(oneTask(mib) && !oneTask(mib + 1))
    }
    withThreshold(mib / 2) {
      assert(oneTask(mib / 2) && !oneTask(mib / 2 + 1))
    }
    withThreshold(-1)(assert(!oneTask(0)))
  }

  test("a graft_table aggregate filtered by an IN subquery keeps its distributed plan") {
    val t = docsisTable()
    val bytes = t.snapshot().dataFiles.map(_.bytes).sum
    // the subquery's side is far above the threshold, so the semi join
    // it becomes is a shuffle join
    val big = java.nio.file.Files.createTempDirectory("names").resolve("p").toString
    spark.range(0, 200000).selectExpr("IF(id % 2 = 0, 'attic', CAST(id AS STRING)) AS modem_name")
      .write.parquet(big)
    val query = s"""SELECT modem_name, COUNT(*) AS n FROM graft_table('${t.root}')
        WHERE modem_name IN (SELECT modem_name FROM parquet.`$big`)
        GROUP BY modem_name"""
    val (rows, _, shuffles) = withThreshold(bytes)(run(spark.sql(query)))
    val plan = withThreshold(bytes)(spark.sql(query).queryExecution.executedPlan)
    val coalesced = Aqe.collect(plan) { case c: org.apache.spark.sql.execution.CoalesceExec => c }
    assert(coalesced.isEmpty, s"the semi join runs under a coalesce:\n$plan")
    assert(shuffles >= 2, s"$shuffles exchanges:\n$plan")
    assert(rows.nonEmpty)
    assert(rows == withThreshold(-1)(run(spark.sql(query)))._1)
  }

  test("a soft-deleted table read through the mask aggregates as one partition") {
    val t = docsisTable()
    assert(t.softDelete($"modem_name" === "attic", Seq("modem_name", "timestamp")) > 0)
    assert(t.snapshot().tombFiles.nonEmpty)
    val df = rollup(t.read())
    val (rows, _, shuffles) = run(df)
    assert(shuffles == 0, s"$shuffles exchanges through the mask")
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(df.queryExecution.toRdd.getNumPartitions == 1)
    assert(rows == withThreshold(-1)(run(rollup(t.read())))._1)
    assert(t.read().where($"modem_name" === "attic").count() == 0)
  }

  test("a streaming snrWindowed query still saves its state behind a hash exchange") {
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Double, String)]
    val raw = mem.toDF().toDF("payload", "modem_name", "scrape_latency", "ts")
      .withColumn("timestamp", to_timestamp($"ts")).drop("ts")
    val q = DocsisStream.snrWindowed(DocsisStream.parseStream(raw))
      .writeStream.format("memory").queryName("snr_state_mem")
      .outputMode("append").start()
    try {
      mem.addData(DocsisFixtures.scrapes)
      q.processAllAvailable()
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val saves = plan.collect { case n if n.nodeName == "StateStoreSave" => n }
      assert(saves.size == 1, s"no state store save:\n$plan")
      val hashed = saves.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e.outputPartitioning
      }
      assert(hashed.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]),
        s"state store not behind a hash exchange:\n$plan")
    } finally q.stop()
  }
}
