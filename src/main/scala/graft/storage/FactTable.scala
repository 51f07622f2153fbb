package graft.storage

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** A minimal transaction-logged parquet table — the Spark-side analog of
  * the reference's MergeTree storage model (tables.sql:30): append-only
  * "parts" created by each insert, merged in the background into larger
  * sorted, day-partitioned parts. Parquet alone gives no atomic
  * multi-file commit, so table state lives in an append-only JSON log
  * (`_graft_log/<version>.json`), one entry per transaction:
  *
  *   {"txn": id?, "schema": json?, "adds": [{path, rows, bytes, tier, addedMs}], "removes": [path…]}
  *
  * - **The log is the only metadata source**: it records the table's
  *   Spark schema when it changes (first commit, add-column evolution;
  *   Delta's `metaData` action) and in every checkpoint, and each part's
  *   path, length, tier and `date=` directory. A read therefore lists no
  *   directory and infers no schema: it plans one file scan per tier over
  *   a log-backed `FileIndex`, however many base generations exist. An
  *   aggregate or window over a read whose logged bytes are at most 1 MiB
  *   and `spark.sql.autoBroadcastJoinThreshold` runs in one task with no
  *   exchange ([[graft.plans.SmallReadOnePartition]]).
  * - **Atomicity**: a version file is written to a temp name and renamed
  *   into place; rename-onto-existing fails, so two writers cannot both
  *   claim a version.
  * - **Optimistic concurrency** (the Delta protocol): a writer that loses
  *   the version race re-reads the log, re-validates its preconditions
  *   against the fresh head, and retries. Appends always merge (disjoint
  *   files, same-txn races collapse to the idempotent no-op); a
  *   compaction whose source parts were concurrently rewritten discards
  *   its staged output and restarts rather than double-committing rows.
  * - **Idempotence**: `append(df, txnId)` is a no-op if `txnId` is
  *   already in the log — exactly-once for `foreachBatch` retries, the
  *   guarantee the reference explicitly lacks (mb8600.py:308-311 drops
  *   failed batches).
  * - **Snapshot isolation**: readers take live files from the log; a
  *   compaction commit atomically swaps small parts for merged ones, so
  *   a reader sees either the old or the new part set, never both.
  * - **Bounded part count** (MergeTree's background merges, done inside
  *   the Buffer flush): a flush through [[BufferedFactSink]] merges the
  *   buffer with the newest base parts of each day it touches, newest
  *   first, while the next part holds fewer than twice the rows gathered
  *   so far. Each day's parts, newest to oldest, then at least double in
  *   size, so a day holds at most log2(day rows / smallest flush) + 1
  *   parts; n equal flushes leave popcount(n). Only parts under this
  *   table's `data/` are merged: cold-volume and shallow-cloned parts
  *   stay where they are. Small commits are written on the driver, with
  *   no Spark write job: a sink batch of at most the sink's `maxRows` rows
  *   (one collect), and a buffer merge (the sink's flush, `compact()`)
  *   whose inputs' logged bytes are at most 1 MiB and
  *   `spark.sql.autoBroadcastJoinThreshold` (one task, no shuffle).
  *   Larger ones take Spark's distributed write, as does every public
  *   `append`.
  * - **Incremental replay**: each instance keeps the state it last
  *   replayed; `snapshot()` at the head reads only the versions committed
  *   since (`last+1.json`, … until one is missing), with no directory
  *   listing. The first call and time travel replay from the newest
  *   checkpoint; `vacuum()` keeps its removed-at map the same way.
  *
  * At cluster scale the same design is what Delta/Iceberg do (with
  * manifests and checkpoints on top).
  *
  * @param bloomCols columns to index with a per-part Bloom skip index
  *   (the ClickHouse `bloom_filter` secondary-index analog): every part
  *   written through this table gets a `<part>.bloom.<col>` sidecar
  *   (fpp 1%), and `readWhere`/`pruneReport` consult it for top-level
  *   `col = literal` conjuncts. Blooms prune point lookups min/max
  *   stats cannot — a HASH-clustered key interleaves values so every
  *   part's [min,max] spans the domain, while each part's bloom
  *   rejects the ~(1-1/P) of keys it does not hold. Integral and
  *   string columns are supported; sidecars live next to the data (not
  *   in the log), so log replay stays O(files) and a 100 TB table's
  *   blooms are distributed storage, loaded lazily per pruned read.
  *
  * @param projections named, stored GROUP BY rollups maintained per part
  *   (the ClickHouse `ADD PROJECTION` analog, at CH's own granularity:
  *   each part carries its own mini-rollup in a `<part>.proj.<name>`
  *   sidecar, written when the part is staged). A projection read unions
  *   the live parts' sidecars and RE-AGGREGATES the partial sums —
  *   exactly Spark's partial-aggregation contract, so sums/counts merge
  *   losslessly. Appends therefore pay only their own part's rollup
  *   (incremental maintenance); rewrites (delete/compact) regenerate
  *   sidecars for the parts they stage and the removed parts' sidecars
  *   die with them at vacuum. At 100 TB a rollup query touches
  *   O(parts × groups-per-part) sidecar rows and never the base data.
  *
  * @param tokenBloomCols text columns to index with a per-part TOKEN
  *   Bloom skip index (the ClickHouse `tokenbf_v1` secondary-index
  *   analog): every part gets a fixed-size `<part>.tokbf.<col>` sidecar
  *   holding a Bloom filter over the column's alphanumeric tokens
  *   (`StatsPruning.TokenSplitRe`), and `readWhere`/`pruneReport`
  *   consult it for `FactTable.hasToken(col, 'tok')` conjuncts. This is
  *   the keyword-search index: min/max stats can NEVER prune a
  *   token-membership predicate (free text has no useful order), so at
  *   100 TB every `hasToken` filter is a full corpus scan without it.
  *   Sidecars are built in ONE distributed pass per staged generation
  *   (fixed-size partial filters merge map-side — the same move Delta
  *   makes collecting per-file stats from the write tasks), not one
  *   driver job per part.
  *
  * @param arrayBloomCols ARRAY columns to index with a per-part
  *   element-level Bloom skip index (the ClickHouse `bloom_filter`
  *   secondary index on an `Array(T)` column, probed by `has(arr, v)`):
  *   every part gets a `<part>.abloom.<col>` sidecar — one leading
  *   element-type tag byte + a Bloom filter over the part's exploded
  *   elements — and `readWhere`/`pruneReport` consult it for top-level
  *   `array_contains(col, literal)` conjuncts. Array columns carry NO
  *   footer min/max stats at all (see StatsPruning), so without this
  *   index every tag/label membership filter is a full scan at any
  *   scale. The type tag guards the bloom's hash family: a probe whose
  *   JVM type differs from the indexed element type never prunes
  *   (mightContain would hash differently and wrongly reject live
  *   parts). Long/int and string element types are supported.
  */
class FactTable(val root: String, spark: SparkSession,
    bloomCols: Seq[String] = Nil,
    projections: Seq[FactTable.ProjectionSpec] = Nil,
    setIndexCols: Seq[String] = Nil,
    tokenBloomCols: Seq[String] = Nil,
    ngramBloomCols: Seq[String] = Nil,
    arrayBloomCols: Seq[String] = Nil) {
  import FactTable._

  private val rootPath = new Path(root)
  private val logDir = new Path(rootPath, "_graft_log")
  private val dataDir = new Path(rootPath, "data")
  private val hadoopConf = spark.sessionState.newHadoopConf()
  private val fs: FileSystem = rootPath.getFileSystem(hadoopConf)
  fs.mkdirs(logDir)
  fs.mkdirs(dataDir)

  private val mapper = new ObjectMapper()

  /** Conflicting commits one transaction retries, and restarts one
    * operation makes, before it gives up.
    */
  private val MaxCommitAttempts = 20

  // ------------------------------------------------------------------ log

  private def versionOf(p: Path): Option[Long] = {
    val n = p.getName
    if (n.endsWith(".json"))
      scala.util.Try(n.stripSuffix(".json").toLong).toOption
    else None
  }

  private def versionPath(v: Long): Path = new Path(logDir, s"$v.json")

  /** Version `v`'s commit, or None if no such file exists. */
  private def readVersion(v: Long): Option[JsonNode] =
    try {
      val in = fs.open(versionPath(v))
      try Some(mapper.readTree(in)) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Apply commit `node`, version `v`, to `st`. The commit is parsed in
    * full first, so a malformed one leaves `st` as it was.
    */
  private def replay(st: LogState, v: Long, node: JsonNode): Unit = {
    val adds = mutable.ArrayBuffer[FileEntry]()
    node.get("adds").forEach(a => adds += entryOf(a))
    val removes = mutable.ArrayBuffer[String]()
    node.get("removes").forEach(r => removes += r.asText())
    val txn = Option.when(node.hasNonNull("txn"))(node.get("txn").asLong())
    val schema = schemaIn(node)
    adds.foreach(e => st.live.put(e.path, e))
    removes.foreach(st.live.remove)
    txn.foreach(t => st.txns += t)
    schema.foreach(sc => st.schema = Some(sc))
    st.last = v
  }

  private def schemaIn(node: JsonNode): Option[StructType] =
    Option.when(node.hasNonNull("schema"))(
      DataType.fromJson(node.get("schema").asText()).asInstanceOf[StructType])

  /** The state `snapshot()` last reached at the log head; read and
    * advanced only under `replayLock`.
    */
  private var replayed = Option.empty[LogState]
  private val replayLock = new Object

  /** Replay the log: live files, committed txn ids, next version.
    * `asOf` replays only versions <= asOf — time travel to any earlier
    * committed state. Compaction only rewrites the log; superseded files
    * stay on disk until `vacuum(keepFromVersion)` reclaims them, so
    * travel works for every version newer than the last vacuum horizon
    * (the Delta/Iceberg retention model).
    *
    * At or past the state this instance last replayed, only the newer
    * versions are read, one file each until one is missing; no
    * directory is listed. Time travel below it, the first call, and a
    * log whose last replayed version has disappeared replay from the
    * newest checkpoint.
    */
  def snapshot(asOf: Long = Long.MaxValue): Snapshot = replayLock.synchronized {
    val state = replayed.filter(_.last <= asOf) match {
      case Some(st) if st.last < 0 || fs.exists(versionPath(st.last)) =>
        var next = if (st.last < asOf) readVersion(st.last + 1) else None
        while (next.isDefined) {
          replay(st, st.last + 1, next.get)
          next = if (st.last < asOf) readVersion(st.last + 1) else None
        }
        st
      case cached =>
        if (cached.isDefined) replayed = None
        coldReplay(asOf)
    }
    if (replayed.forall(_.last <= state.last)) replayed = Some(state)
    state.snapshot
  }

  /** Replay from the newest checkpoint at or before `asOf` (if any): its
    * file holds the full live state as of that version, so replay cost
    * is O(commits since last checkpoint), not O(history).
    */
  private def coldReplay(asOf: Long): LogState = {
    val listed = fs.listStatus(logDir).map(_.getPath)
    val ckptV = listed.flatMap { p =>
      val n = p.getName
      if (n.endsWith(CheckpointSuffix))
        scala.util.Try(n.stripSuffix(CheckpointSuffix).toLong).toOption
      else None
    }.filter(_ <= asOf).maxOption
    val st = new LogState
    ckptV.foreach { cv =>
      val in = fs.open(new Path(logDir, s"$cv$CheckpointSuffix"))
      val node = try mapper.readTree(in) finally in.close()
      node.get("txns").forEach(t => st.txns += t.asLong())
      node.get("adds").forEach { a =>
        val e = entryOf(a)
        st.live.put(e.path, e)
      }
      st.schema = schemaIn(node)
      st.last = cv
    }
    listed.flatMap(versionOf).filter(v => v > st.last && v <= asOf).sorted
      .foreach { v =>
        val in = fs.open(versionPath(v))
        val node = try mapper.readTree(in) finally in.close()
        replay(st, v, node)
      }
    st
  }

  /** Parse one log/checkpoint `adds` node back into a FileEntry. */
  private def entryOf(a: JsonNode): FileEntry = {
    val stats =
      if (!a.has("stats")) Map.empty[String, StatsPruning.ColStats]
      else {
        val b = Map.newBuilder[String, StatsPruning.ColStats]
        a.get("stats").properties().forEach { ent =>
          val v = ent.getValue
          b += (ent.getKey -> StatsPruning.ColStats(v.get("t").asText(),
            v.get("min").asText(), v.get("max").asText()))
        }
        b.result()
      }
    FileEntry(a.get("path").asText(), a.get("rows").asLong(),
      a.get("bytes").asLong(), a.get("tier").asText(),
      a.get("addedMs").asLong(), stats)
  }

  /** Serialize file entries into a log/checkpoint `adds` array. */
  private def putAdds(node: com.fasterxml.jackson.databind.node.ObjectNode,
      adds: Seq[FileEntry]): Unit = {
    val aArr = node.putArray("adds")
    adds.foreach { e =>
      val o = aArr.addObject()
      o.put("path", e.path); o.put("rows", e.rows); o.put("bytes", e.bytes)
      o.put("tier", e.tier); o.put("addedMs", e.addedMs)
      if (e.stats.nonEmpty) {
        val st = o.putObject("stats")
        e.stats.foreach { case (c, s) =>
          val n = st.putObject(c)
          n.put("t", s.typ); n.put("min", s.min); n.put("max", s.max)
        }
      }
    }
  }

  /** Write a log checkpoint at the current head (the Delta checkpoint
    * pattern): one `<version>.checkpoint.json` holding the complete
    * live state — file entries with their stats, the table schema, plus
    * committed txn ids so append idempotence survives the cutover.
    * Subsequent snapshots replay only the commits AFTER the checkpoint;
    * earlier log files are still used by time travel to pre-checkpoint
    * versions (and by an instance's first, full-history vacuum), so nothing is
    * lost — reads just stop paying O(history). At 100 TB scale (10⁵-10⁶ commits) this is
    * what keeps metadata latency flat; Delta writes one every 10
    * commits. Returns the checkpointed version, or -1 on an empty log.
    */
  def checkpoint(): Long = {
    val snap = snapshot()
    if (snap.nextVersion == 0) return -1L
    val v = snap.nextVersion - 1
    val node = mapper.createObjectNode()
    val tArr = node.putArray("txns")
    snap.txns.toSeq.sorted.foreach(tArr.add)
    schemaOption(snap).foreach(st => node.put("schema", st.json))
    putAdds(node, snap.files)
    val tmp = new Path(logDir, s".$v$CheckpointSuffix.tmp")
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
    // last-writer-wins is fine: any two checkpoints at the same version
    // have identical content by construction
    fs.delete(new Path(logDir, s"$v$CheckpointSuffix"), false)
    if (!fs.rename(tmp, new Path(logDir, s"$v$CheckpointSuffix")))
      throw new IllegalStateException(s"checkpoint rename failed at $root")
    v
  }

  /** Zero-copy SHALLOW CLONE (the Delta `CREATE TABLE ... SHALLOW CLONE`
    * / Iceberg snapshot-ref analog): the clone's version-0 commit lists
    * the source's live snapshot BY REFERENCE — every data part,
    * tombstone, and its stats — so cloning a 100 TB table is one
    * metadata write, zero bytes moved. The two tables then evolve
    * independently: the clone's appends/deletes/compactions land under
    * its own root and never touch the source; the source's later
    * commits are invisible to the clone (it forked at this snapshot).
    * Tombstone masks and stats pruning work unchanged on the clone
    * because both key on the referenced part PATHS.
    *
    * Safety contract (same as Delta): `vacuum()` only ever physically
    * deletes files under its OWN table root, so a clone dropping
    * cloned-in parts (e.g. via compaction) merely de-references them —
    * physical reclaim of source bytes stays the source's job, and a
    * source vacuum cannot be triggered by clone activity. Source txn
    * ids are deliberately NOT carried: the clone is a new table and its
    * writers' idempotence keys start fresh.
    */
  def cloneShallowTo(destRoot: String): FactTable = {
    val dest = new FactTable(destRoot, spark, bloomCols, projections,
      setIndexCols, tokenBloomCols, ngramBloomCols, arrayBloomCols)
    require(fs.listStatus(dest.logDir).isEmpty,
      s"shallow clone target $destRoot already has a log")
    val snap = snapshot()
    dest.commit(0L, None, snap.files, Nil, schemaOption(snap))
    dest
  }

  /** CHANGE DATA FEED (the Delta CDF / `table_changes()` analog) for the
    * ingest path: row-level changes committed in versions
    * `[fromVersion, toVersion]` (both inclusive, Delta's
    * startingVersion/endingVersion convention — version 0 is a real
    * commit here), each row tagged `_change_type`
    * ('insert' | 'delete') and `_commit_version`. Commit classification
    * is structural, from the log alone:
    *
    *  - data-part adds with no removes  → an APPEND; its files' rows
    *    are the inserts (read directly — no diffing).
    *  - a tombstone add                 → a SOFT DELETE; the deleted
    *    rows are the pre-commit masked view of its victim parts
    *    semi-joined to the tombstone's key tuples — exactly the rows
    *    the delete removed, already-deleted rows excluded because the
    *    pre-commit mask applies every EARLIER tombstone.
    *  - anything with removes           → a REORGANIZATION (compact /
    *    TTL / applyTombstones / backfill / merge rewrite): no logical
    *    change is emitted. Like Delta's CDF, reorganizations are
    *    declared change-free; writers that rewrite rows (mergeInto,
    *    replacePartition) are outside this feed's contract.
    *
    * This is what downstream INCREMENTAL consumers (d20's dedup ingest,
    * d30's gram index, c18's funnel index) subscribe to instead of
    * re-diffing table states: cost is O(rows actually changed) — the
    * append files are read once and the delete reconstruction touches
    * only the tombstone's victim parts, never the table.
    */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    val frames = (fromVersion to toVersion).flatMap { v =>
      readVersion(v).flatMap { node =>
        val adds = {
          val b = Seq.newBuilder[FileEntry]
          node.get("adds").forEach(a => b += entryOf(a))
          b.result()
        }
        val nRemoves = node.get("removes").size()
        val tombAdds = adds.filter(_.tier == TierTomb)
        val dataAdds = adds.filterNot(_.tier == TierTomb)
        if (nRemoves > 0 || adds.isEmpty) None // reorganization / no-op
        else {
          // Mixed commits are real: cloneShallowTo's v0 carries the
          // source's live data files AND its tombstones in ONE commit.
          // The data adds are inserts; a tombstone contributes deletes
          // only when its victim parts exist in THIS log's pre-commit
          // state (a clone's carried tombstones have none — they are
          // inherited state, not a change event).
          // mask the inserts with the SAME commit's tombstones (their
          // victims can include the carried data files — clone v0 —
          // while an earlier commit's tombstones never cover files that
          // did not exist yet): the feed then replays to exactly the
          // post-commit live state
          val inserts =
            if (dataAdds.isEmpty) None
            else Some(masked(dataAdds, snapshot(asOf = v))
              .withColumn("_change_type", lit("insert"))
              .withColumn("_commit_version", lit(v)))
          lazy val pre = snapshot(asOf = v - 1)
          val dels = tombAdds.flatMap { t =>
            val vict = victimsOf(t.path)
            val victims =
              if (v == 0) Nil
              else pre.dataFiles.filter(f => vict.contains(f.path))
            if (victims.isEmpty) None
            else {
              val keys = tombKeys(t)
              val m = masked(victims, pre)
              // null-safe <=> mirrors masked(): softDelete tombstones
              // NULL key tuples, which a plain equi-semi-join would
              // silently drop from the change feed (incremental
              // consumers would diverge from table state).
              val cond =
                keys.columns.map(c => m(c) <=> keys(c)).reduce(_ && _)
              Some(m.join(broadcast(keys), cond, "left_semi"))
            }
          }
          val deletes = dels.reduceOption(_.unionByName(_))
            .map(_.withColumn("_change_type", lit("delete"))
              .withColumn("_commit_version", lit(v)))
          (inserts.toSeq ++ deletes.toSeq).reduceOption(_.unionByName(_))
        }
      }
    }
    if (frames.isEmpty)
      throw new IllegalStateException(
        s"no data-change commits in [$fromVersion, $toVersion] at $root")
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** One log version. `schema` is set only when the commit changes the
    * table schema (the Delta `metaData` action): replay carries the last
    * recorded one forward, so the log never repeats it per commit.
    */
  private def commit(version: Long, txn: Option[Long], adds: Seq[FileEntry],
      removes: Seq[String], schema: Option[StructType]): Unit = {
    val node = mapper.createObjectNode()
    txn.foreach(node.put("txn", _))
    schema.foreach(st => node.put("schema", st.json))
    putAdds(node, adds)
    val rArr = node.putArray("removes")
    removes.foreach(rArr.add)
    val tmp = new Path(logDir, s".$version.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
    val dst = new Path(logDir, s"$version.json")
    if (fs.exists(dst) || !fs.rename(tmp, dst))
      throw new ConcurrentWriteException(
        s"log version $version already committed by another writer")
  }

  /** Test seam: invoked after an operation stages its data files but
    * before it attempts the log commit — lets specs interleave a second
    * writer at the exact race window. Production no-op.
    */
  protected def beforeCommit(): Unit = ()

  /** Rewrite-vs-delete conflict rule: a rewrite staged its output by
    * reading through the tombstone mask AS OF its snapshot. If the live
    * tombstone set changes before the rewrite commits (a concurrent
    * softDelete landed, or applyTombstones reconciled one), the staged
    * parts were materialized without the new mask — and a fresh tombstone
    * only lists the OLD part paths in its deletion vector, so committing
    * the rewrite would silently resurrect the deleted rows. Delta treats
    * concurrent DELETE vs rewrite the same way: conflict, restart. Every
    * rewrite path composes this into its `revalidate`.
    */
  private def tombsUnchanged(staged: Snapshot)(fresh: Snapshot): Boolean =
    fresh.tombFiles.map(_.path).toSet == staged.tombFiles.map(_.path).toSet

  /** True iff every one of `parts` is still live in `fresh`. */
  private def allLive(parts: Seq[FileEntry])(fresh: Snapshot): Boolean = {
    val live = fresh.files.iterator.map(_.path).toSet
    parts.forall(p => live(p.path))
  }

  /** Optimistic-concurrency commit (the Delta/Iceberg protocol): try to
    * claim the next log version; if another writer got there first,
    * re-read the log head, re-validate this transaction's preconditions
    * against the fresh snapshot, and retry at the new head. Returns false
    * if `revalidate` reports the transaction is obsolete (e.g. its txn id
    * was committed by the other writer, or its source files were removed)
    * — the caller then abandons or restarts. Rename-based version claims
    * make the winner unambiguous on any filesystem with atomic rename.
    */
  private def commitWithRetry(snap: Snapshot, txn: Option[Long],
      adds: Seq[FileEntry], removes: Seq[String],
      written: Option[StructType] = None)(
      revalidate: Snapshot => Boolean): Boolean = {
    var head = snap
    var attempts = 0
    while (true) {
      try {
        commit(head.nextVersion, txn, adds, removes,
          evolvedSchema(head, written, removes))
        return true
      } catch { case e: ConcurrentWriteException =>
        attempts += 1
        if (attempts >= MaxCommitAttempts)
          throw new ConcurrentWriteException(
            s"gave up after $MaxCommitAttempts conflicting commits at $root", e)
        head = snapshot()
        if (!revalidate(head)) return false
      }
    }
    false // unreachable
  }

  /** Run a transaction against a fresh snapshot, restarting it while it
    * returns None (a concurrent commit made it obsolete and it discarded
    * its staged output), at most `MaxCommitAttempts` times.
    */
  private def restarting[A](attempt: Snapshot => Option[A]): A = {
    var attempts = 0
    while (attempts < MaxCommitAttempts) {
      attempt(snapshot()) match {
        case Some(a) => return a
        case None => attempts += 1
      }
    }
    throw new ConcurrentWriteException(
      s"gave up after $MaxCommitAttempts restarted transactions at $root")
  }

  /** The commit every rewrite shares: the parts staged under `staged`
    * (a directory and the schema its data was written with; None stages
    * nothing) replace `removes` in one log commit. The transaction stays
    * valid while every removed part is live and, if it staged output,
    * the tombstone set is unchanged (the rewrite-vs-delete rule above).
    * An obsolete transaction deletes its staged output and returns None,
    * for [[restarting]] to retry; otherwise the committed adds.
    */
  private def swapIn(snap: Snapshot, staged: Option[(Path, StructType)],
      removes: Seq[FileEntry],
      written: Option[StructType] = None): Option[Seq[FileEntry]] = {
    beforeCommit()
    val adds = staged.fold(Seq.empty[FileEntry]) { case (dir, schema) =>
      entriesFor(dir, TierBase, schema)
    }
    val committed = commitWithRetry(snap, None, adds, removes.map(_.path),
      written)(fresh => allLive(removes)(fresh) &&
        (staged.isEmpty || tombsUnchanged(snap)(fresh)))
    if (!committed) staged.foreach { case (dir, _) => fs.delete(dir, true) }
    Option.when(committed)(adds)
  }

  /** The schema a commit must record against `head`, or None when it
    * leaves the schema as is. Columns only ever widen while some live
    * file predates the commit (add-column evolution, like Delta's
    * `mergeSchema`); a commit that removes every live data file sets the
    * schema to what it wrote. Re-evaluated per retry, so two concurrent
    * add-column appends both land in the schema.
    */
  private def evolvedSchema(head: Snapshot, written: Option[StructType],
      removes: Seq[String]): Option[StructType] = {
    val gone = removes.toSet
    val kept =
      if (head.dataFiles.forall(f => gone(f.path))) None
      else schemaOption(head)
    val next = (kept, written.map(nullable(_).asInstanceOf[StructType])) match {
      case (Some(k), Some(w)) => Some(widen(k, w).asInstanceOf[StructType])
      case (k, w) => w.orElse(k)
    }
    next.filterNot(head.schema.contains)
  }

  // ----------------------------------------------------------- operations

  /** Append a micro-batch as new buffer-tier parts; idempotent on txnId
    * (a foreachBatch retry of an already-committed batch is a no-op).
    * Concurrent-writer safe: appends add disjoint new files and remove
    * nothing, so a version conflict just retries at the new log head —
    * unless the conflicting commit carried the SAME txn id (a racing
    * retry of this very batch), which downgrades to the idempotent no-op.
    */
  def append(df: DataFrame, txnId: Long): Boolean = {
    val snap = snapshot()
    if (snap.txns.contains(txnId)) return false
    val target = new Path(dataDir, s"append-$txnId")
    df.write.mode("overwrite").parquet(target.toString)
    commitAppend(snap, txnId, target, df.schema)
  }

  /** [[append]] for the Buffer sink: a batch of at most `maxRows` rows is
    * taken to the driver in one collect and written there as one part, so
    * the commit runs no Spark write job. A larger batch takes `append`'s
    * distributed write, as an insert above `max_rows` bypasses a
    * ClickHouse Buffer table.
    */
  private[storage] def appendBuffered(df: DataFrame, txnId: Long,
      maxRows: Long): Boolean = {
    val snap = snapshot()
    if (snap.txns.contains(txnId)) return false
    // one row past the limit tells a small batch from a large one
    val limit = math.min(maxRows, Int.MaxValue - 1L).toInt + 1
    val rows = internalRows(df)(_.executeTake(limit))
    if (rows.length >= limit) return append(df, txnId)
    val target = new Path(dataDir, s"append-$txnId")
    fs.delete(target, true) // a failed attempt's output, as mode("overwrite")
    writeLocal(target, df.schema, rows.iterator)
    commitAppend(snap, txnId, target, df.schema)
  }

  /** Commit the buffer part(s) staged in `target` under `txnId`. */
  private def commitAppend(snap: Snapshot, txnId: Long, target: Path,
      schema: StructType): Boolean = {
    beforeCommit()
    commitWithRetry(snap, Some(txnId),
      entriesFor(target, TierBuffer, schema), removes = Nil, Some(schema))(
      fresh => !fresh.txns.contains(txnId))
  }

  /** Merge all buffer-tier parts into sorted, day-partitioned base parts
    * as one new base generation (the MergeTree background merge / Buffer
    * flush-through). One atomic log commit swaps the part sets; old files
    * are vacuumed afterwards.
    */
  def compact(sortCols: Seq[String] = Seq("modem_name", "timestamp"),
      partitionCol: String = "date"): Long =
    mergeBuffer(sortCols, partitionCol, tiered = false)

  /** The Buffer flush: `compact()` whose one rewrite also takes in the
    * base parts [[tierMerges]] names, and removes them in the same
    * commit. `partitionCol` must be a DATE column.
    */
  private[storage] def flush(sortCols: Seq[String] = Seq("modem_name", "timestamp"),
      partitionCol: String = "date"): Long =
    mergeBuffer(sortCols, partitionCol, tiered = true)

  private def mergeBuffer(sortCols: Seq[String], partitionCol: String,
      tiered: Boolean): Long = restarting { snap =>
    val buffer = snap.files.filter(_.tier == TierBuffer)
    if (buffer.isEmpty) Some(0L)
    else {
      val parts = buffer ++ (if (tiered) tierMerges(snap, buffer, partitionCol) else Nil)
      // masked read (over the table schema — buffer parts may span an
      // add-column change): a part covered by a soft delete must merge
      // WITHOUT the deleted rows, because the output is a fresh part no
      // existing tombstone covers
      val src = masked(parts, snap)
      val target = new Path(dataDir, s"base-${java.util.UUID.randomUUID()}")
      // inputs no larger than what Spark would broadcast are merged in one
      // task and written on the driver: the write job, not the bytes, is
      // the cost of a small merge
      if (FactTable.oneTask(parts.map(_.bytes).sum, spark.sessionState.conf))
        writeLocalPartitioned(target,
          src.coalesce(1).sortWithinPartitions(partitionCol, sortCols: _*), partitionCol)
      else src.repartition(col(partitionCol))
        .sortWithinPartitions(partitionCol, sortCols: _*)
        .write.partitionBy(partitionCol).mode("overwrite")
        .parquet(target.toString)
      // A remove-set conflict (another compactor merged these same parts)
      // makes this merge obsolete: committing anyway would double the
      // rows. A conflict with new appends is benign (their files are not
      // in our remove set) and just retries at the new head. Physical
      // deletion is deferred to vacuum() so time travel to pre-compaction
      // versions keeps working until retention expires.
      swapIn(snap, Some(target -> src.schema), parts)
        .map(_ => buffer.map(_.rows).sum)
    }
  }

  /** The base parts a flush of `buffer` merges: per day the buffer
    * touches, this table's own base parts of that day (never cold-volume,
    * cloned-in or tombstone parts), newest first, while a part holds fewer
    * than twice the rows gathered so far — the buffer's rows of that day
    * plus every part already taken. The factor 2 is the rule, as in
    * size-tiered compaction. A buffer part counts toward every day its
    * `partitionCol` stats span, so a buffer crossing midnight over-counts,
    * which only merges more and keeps the doubling invariant.
    */
  private def tierMerges(snap: Snapshot, buffer: Seq[FileEntry],
      partitionCol: String): Seq[FileEntry] = {
    def days(f: FileEntry): Option[(Long, Long)] =
      f.stats.get(partitionCol).filter(_.typ == "long")
        .map(s => (s.min.toLong, s.max.toLong))
    val own = fs.makeQualified(dataDir).toString + Path.SEPARATOR
    snap.files
      .filter(f => f.tier == TierBase &&
        partitionDirs(f.path).map(_._1) == Seq(partitionCol) &&
        fs.makeQualified(new Path(f.path)).toString.startsWith(own))
      .flatMap(f => days(f).collect { case (d, e) if d == e => d -> f })
      .groupMap(_._1)(_._2).toSeq.flatMap { case (day, parts) =>
        var gathered = buffer
          .filter(days(_).exists { case (lo, hi) => lo <= day && day <= hi })
          .map(_.rows).sum
        parts.reverseIterator.takeWhile { p =>
          val take = gathered > 0 && p.rows < 2 * gathered
          if (take) gathered += p.rows
          take
        }.toSeq
      }
  }

  /** `removedAt` folded through this version (None: not built yet), and
    * the removal version of each removed file `vacuum` has not yet
    * reclaimed; both guarded by `vacuumLock`.
    */
  private var vacuumedThrough = Option.empty[Long]
  private val removedAt = mutable.Map[String, Long]()
  private val vacuumLock = new Object

  /** Physically delete files removed from the log at or before
    * `keepFromVersion` — i.e. retain every file some snapshot at a
    * version >= keepFromVersion still references, so
    * `read(asOfVersion >= keepFromVersion)` stays serveable. The default
    * retains nothing beyond the latest snapshot (Delta's VACUUM with
    * zero retention). Returns the number of files deleted. The first
    * call replays the whole log; later ones read only the versions
    * committed since, like `snapshot()`.
    */
  def vacuum(keepFromVersion: Long = Long.MaxValue): Int = vacuumLock.synchronized {
    def fold(v: Long, node: JsonNode): Unit = {
      node.get("adds").forEach(a => removedAt.remove(a.get("path").asText()))
      node.get("removes").forEach(r => removedAt.put(r.asText(), v))
      vacuumedThrough = Some(v)
    }
    vacuumedThrough match {
      case Some(last) if fs.exists(versionPath(last)) =>
        var v = last + 1
        var next = readVersion(v)
        while (next.isDefined) { fold(v, next.get); v += 1; next = readVersion(v) }
      case _ =>
        removedAt.clear()
        vacuumedThrough = None
        fs.listStatus(logDir).flatMap(s => versionOf(s.getPath)).sorted
          .foreach(v => readVersion(v).foreach(fold(v, _)))
    }
    vacuumedThrough.fold(0)(last => reclaim(math.min(keepFromVersion, last)))
  }

  /** Delete every file `removedAt` holds at or before `keepFrom`, and
    * forget them: a file removed at version v was last live at v-1, so
    * no retained snapshot needs it iff v <= keepFrom.
    */
  private def reclaim(keepFrom: Long): Int = {
    val expired = removedAt.collect { case (p, v) if v <= keepFrom => p }.toSeq
    expired.foreach(removedAt.remove)
    // Ownership guard (the Delta CLONE/VACUUM contract): only files
    // under THIS table's root are physically deleted. Shallow-cloned-in
    // parts live under the source table's root — dropping them from
    // this log de-references them, but reclaiming the bytes is the
    // source's retention decision, never the clone's.
    val rootQ = fs.makeQualified(rootPath).toString + Path.SEPARATOR
    val victims = expired.filter(p =>
      fs.makeQualified(new Path(p)).toString.startsWith(rootQ))
    victims.foreach { p =>
      // skip-index sidecars live next to the data, outside the log —
      // reclaim them (and their lazy-loaded cache entries) with their
      // part, or an indexed table leaks one orphan per index per
      // rewritten part forever
      indexes.foreach { ix =>
        fs.delete(new Path(ix.sidecar(p)), false)
        sidecars.remove(ix.sidecar(p))
      }
      // projection sidecars are parquet DIRECTORIES — recursive delete
      projections.foreach(s => fs.delete(new Path(p + ".proj." + s.name), true))
      // deletion-vector sidecars of reconciled tombstone parts
      fs.delete(new Path(p + VictimsSuffix), false)
      victimsCache.remove(p)
    }
    val deleted = victims.count(p => fs.delete(new Path(p), false))
    dropEmptied(victims.map(p => fs.makeQualified(new Path(p)).getParent))
    deleted
  }

  /** Delete each of `dirs` below `data/` that holds nothing, or only
    * Spark's `_SUCCESS` marker, then the same for the parents of those deleted,
    * up to but not including `data/`: a reclaimed part's `append-<txn>/`,
    * `base-<uuid>/` and `date=` directories would otherwise outlive it.
    */
  @annotation.tailrec
  private def dropEmptied(dirs: Seq[Path]): Unit = {
    val below = fs.makeQualified(dataDir).toString + Path.SEPARATOR
    val emptied = dirs.distinct.filter(d => d.toString.startsWith(below) &&
      fs.exists(d) && fs.listStatus(d).forall(_.getPath.getName == "_SUCCESS"))
    emptied.foreach(fs.delete(_, true))
    if (emptied.nonEmpty) dropEmptied(emptied.map(_.getParent))
  }

  /** True iff the part is ENTIRELY before `cutoff` on `partitionCol`
    * (by partition directory value, else by footer max stat) — shared
    * by `ttlExpire` (drop) and `ttlRollup` (downsample). Conservative:
    * a part with neither signal is never expired.
    */
  private def expiredEntry(f: FileEntry, cutoff: String,
      partitionCol: String): Boolean = {
    val pat = ("/" + java.util.regex.Pattern.quote(partitionCol) + "=([^/]+)/").r
    val cutoffDays = java.time.LocalDate.parse(cutoff).toEpochDay
    def statExpired(cs: StatsPruning.ColStats): Boolean = cs.typ match {
      case "long" => scala.util.Try(cs.max.toLong).toOption.exists(_ < cutoffDays)
      case "string" => cs.max < cutoff
      case _ => false
    }
    pat.findFirstMatchIn(f.path).map(_.group(1) < cutoff)
      .orElse(f.stats.get(partitionCol).map(statExpired))
      .getOrElse(false)
  }

  /** TTL retention (the ClickHouse `TTL <col> ... DELETE` analog,
    * applied at part granularity exactly like MergeTree's TTL merges):
    * atomically drop every live part whose data lies entirely before
    * `cutoff` in `partitionCol`. Base-generation parts are matched by
    * the partition value in their `<partitionCol>=` path segment;
    * buffer parts (partition value still a data column) fall back to
    * the footer max recorded in the log — DATE stats are epoch-day
    * longs (StatsPruning), so the cutoff compares numerically there
    * and as an ISO string on path segments. `partitionCol` must be a
    * DATE column (the reference's toDate(timestamp) partitioning).
    * Parts that STRADDLE the cutoff are kept whole (ClickHouse's
    * part-level TTL DELETE has the same contract; run a compact()
    * first to align parts to partition boundaries, or a
    * rewriteAll-based variant for row-exact expiry). Returns the
    * number of parts dropped.
    *
    * Scale: O(log) driver work and ONE metadata commit — zero data
    * read, moved, or rewritten; physical deletion rides the normal
    * vacuum() retention path, so time travel to pre-TTL versions keeps
    * working until the vacuum horizon passes. This is the cheapest
    * possible retention mechanism for a 100 TB time-partitioned table.
    */
  def ttlExpire(cutoff: String, partitionCol: String = "date"): Int =
    restarting { snap =>
      val victims = snap.dataFiles.filter(expiredEntry(_, cutoff, partitionCol))
      // obsolete if a concurrent compaction already rewrote a victim (its
      // rows now live in a part we have not examined) — restart fresh
      if (victims.isEmpty) Some(0)
      else swapIn(snap, None, victims).map(_ => victims.size)
    }

  /** Age-based DOWNSAMPLING on expiry (the ClickHouse
    * `TTL date + INTERVAL n DAY GROUP BY keys SET v = sum(v)` analog):
    * instead of dropping expired partitions (`ttlExpire`), roll them up
    * — parts whose partition value is entirely before `cutoff` are
    * rewritten as one aggregated row per (partition, key), `sumCols`
    * summed and every other column taking `max` as its deterministic
    * representative (the collapsing-merge rule). Sums therefore stay
    * EXACT across the whole table while old partitions shrink from
    * row-level to key-level mass — the standard telemetry retention
    * contract (raw recent, downsampled history). Cost is
    * O(expired partitions): recent parts are never listed, read, or
    * rewritten, and the swap is the same atomic optimistic commit as
    * compaction, so time travel to the pre-rollup version works until
    * vacuum. Idempotent: rolled parts no longer match a STRICTLY older
    * cutoff only when re-run with the same cutoff — re-running rolls
    * the already-aggregated rows again, which re-groups to the
    * identical result (sum of sums). Returns rows removed by the
    * shrink.
    */
  def ttlRollup(cutoff: String, keyCols: Seq[String], sumCols: Seq[String],
      partitionCol: String = "date"): Long = restarting { snap =>
    val victims = snap.dataFiles.filter(expiredEntry(_, cutoff, partitionCol))
    if (victims.isEmpty) Some(0L)
    else {
      val target = new Path(dataDir, s"base-${java.util.UUID.randomUUID()}")
      val src = masked(victims, snap)
      val groupNames = partitionCol +: keyCols
      require((sumCols ++ groupNames).forall(src.columns.contains),
        s"ttlRollup columns missing from ${src.columns.toSeq}")
      val others = src.columns
        .filterNot(c => groupNames.contains(c) || sumCols.contains(c))
      val aggs = sumCols.map(c => sum(col(c)).as(c)) ++
        others.map(c => max(col(c)).as(c))
      val rolled = src.groupBy(groupNames.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
        .select(src.columns.map(col).toIndexedSeq: _*) // original column order
      rolled.repartition(col(partitionCol))
        .sortWithinPartitions(partitionCol, keyCols: _*)
        .write.partitionBy(partitionCol).mode("overwrite")
        .parquet(target.toString)
      swapIn(snap, Some(target -> rolled.schema), victims, Some(rolled.schema))
        .map(adds => victims.map(_.rows).sum - adds.map(_.rows).sum)
    }
  }

  /** COLUMN-level TTL (the ClickHouse `col String TTL date + INTERVAL n
    * DAY` / `TTL ... SET col = <default>` analog): on expiry the COLUMN
    * loses its value, not the row — parts whose partition value is
    * entirely before `cutoff` are rewritten with `ttlCol` replaced by
    * `default` (row counts, every other column, and the partition
    * layout unchanged). This is the privacy/footprint contract the
    * row-retention family (drop `ttlExpire`, physical-delete, rollup
    * `ttlRollup`) cannot express: high-cardinality payloads (user
    * agents, raw props, free text) age out of history while the row's
    * aggregable skeleton stays queryable forever. Cost is O(expired
    * partitions) — recent parts are never listed, read, or rewritten —
    * with the same atomic swap and pre-version time travel as
    * ttlRollup. Idempotent: re-running rewrites the constant column to
    * the same constant. Returns the number of parts rewritten.
    */
  def ttlColumn(cutoff: String, ttlCol: String,
      default: org.apache.spark.sql.Column,
      partitionCol: String = "date"): Long = restarting { snap =>
    val victims = snap.dataFiles.filter(expiredEntry(_, cutoff, partitionCol))
    if (victims.isEmpty) Some(0L)
    else {
      val target = new Path(dataDir, s"base-${java.util.UUID.randomUUID()}")
      val src = masked(victims, snap)
      require(src.columns.contains(ttlCol),
        s"ttlColumn: no column $ttlCol in ${src.columns.toSeq}")
      src.withColumn(ttlCol, default.cast(src.schema(ttlCol).dataType))
        .select(src.columns.map(col).toIndexedSeq: _*) // original order
        .repartition(col(partitionCol))
        .sortWithinPartitions(partitionCol)
        .write.partitionBy(partitionCol).mode("overwrite")
        .parquet(target.toString)
      swapIn(snap, Some(target -> src.schema), victims)
        .map(_ => victims.size.toLong)
    }
  }

  /** Storage TIERING on expiry (the ClickHouse `TTL date + INTERVAL n
    * DAY MOVE TO VOLUME 'cold'` analog — the retention member that
    * relocates instead of destroying): parts whose partition value is
    * entirely before `cutoff` are rewritten row-identical under
    * `<root>/<volume>/data/…` with the cold-tier parquet codec (zstd by
    * default — smaller and cheaper per stored byte, slower per read:
    * exactly the cold trade) and atomically swapped into the log.
    * Every row, column and footer stat survives, so readers are
    * oblivious — the read path unions absolute paths across volumes,
    * and min/max stat pruning keeps recent-`partitionCol` predicates
    * off the cold files entirely (the hot dashboard never pays the
    * cold volume's latency). The volume mirrors the hot layout
    * (`…/<volume>/data/<generation>/<partition>=…`) so
    * generation-scoped partition discovery works unchanged. Idempotent:
    * parts already under the volume never re-move, and hot parts that
    * survive a first move can only expire later. Cost is O(expired
    * partitions); recent parts are never listed, read, or rewritten.
    * Same atomic optimistic commit + pre-version time travel as the
    * other TTL flavors; vacuum reclaims the displaced hot bytes (same
    * table root). Returns parts moved.
    */
  def ttlMove(cutoff: String, volume: String = "cold",
      partitionCol: String = "date",
      compression: String = "zstd"): Long = {
    val volMarker = s"/$volume/data/"
    restarting { snap =>
      val victims = snap.dataFiles.filter(f =>
        !f.path.contains(volMarker) && expiredEntry(f, cutoff, partitionCol))
      if (victims.isEmpty) Some(0L)
      else {
        val target = new Path(new Path(rootPath, volume),
          s"data/base-${java.util.UUID.randomUUID()}")
        val src = masked(victims, snap)
        src.repartition(col(partitionCol))
          .sortWithinPartitions(partitionCol)
          .write.partitionBy(partitionCol).mode("overwrite")
          .option("compression", compression)
          .parquet(target.toString)
        swapIn(snap, Some(target -> src.schema), victims)
          .map(_ => victims.size.toLong)
      }
    }
  }

  /** Major compaction — the MergeTree level-merge: rewrite EVERY live
    * part (all base generations + any buffer parts) into one fresh
    * generation, collapsing the per-generation read fan-out that minor
    * compactions accumulate. O(table), so at scale this runs rarely
    * (e.g. nightly) while the minor `compact()` runs per flush.
    */
  def majorCompact(sortCols: Seq[String] = Seq("modem_name", "timestamp"),
      partitionCol: String = "date", zorderCols: Seq[String] = Nil,
      zorderParts: Int = 0): Long =
    rewriteAll(partitionCol) { src =>
      if (zorderCols.isEmpty)
        src.repartition(col(partitionCol))
          .sortWithinPartitions(partitionCol, sortCols: _*)
      else {
        // Z-order clustering (`OPTIMIZE ZORDER BY` / liquid clustering):
        // range-partition and sort on the interleaved-bits curve so each
        // written part covers a tight hyper-rectangle in EVERY clustered
        // dimension — footer stats then prune on any of them, where a
        // lexicographic sort gives selectivity only on its leading column
        val zc = ZOrder.zColumn(src, zorderCols)
        // explicit partition count: a target file size divided into the
        // table size at scale; also keeps AQE from coalescing the range
        // shuffle back into a handful of giant files
        val parts = if (zorderParts > 0) zorderParts
          else spark.sessionState.conf.numShufflePartitions
        src.withColumn(ZOrder.ZCol, zc)
          .repartitionByRange(parts, col(partitionCol), col(ZOrder.ZCol))
          .sortWithinPartitions(col(partitionCol), col(ZOrder.ZCol))
          .drop(ZOrder.ZCol)
      }
    }

  /** Replacing merge (the ClickHouse ReplacingMergeTree analog): rewrite
    * every live part keeping only the highest-`versionCol` row per
    * (`partitionCol`, `keyCols`) — upsert semantics materialized at merge
    * time, exactly when ReplacingMergeTree deduplicates. Scoped to the
    * partition like ClickHouse (a key that moved partitions is NOT
    * collapsed — same contract), which is also what keeps the dedup
    * shuffle partition-local so a cluster can run it one day at a time.
    * Ties on `versionCol` keep an arbitrary row (CH keeps the last part
    * in merge order) — give versions a total order per key for
    * deterministic reads. The row_number window rides the same shuffle
    * the sorted rewrite needs anyway.
    */
  def replacingCompact(keyCols: Seq[String], versionCol: String,
      partitionCol: String = "date"): Long =
    rewriteAll(partitionCol) { src =>
      val rn = "__graft_rn"
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy((partitionCol +: keyCols).map(col): _*)
        .orderBy(col(versionCol).desc)
      src.withColumn(rn, row_number().over(w))
        .filter(col(rn) === 1).drop(rn)
        .repartition(col(partitionCol))
        .sortWithinPartitions(partitionCol, keyCols: _*)
    }

  /** Summing merge (the ClickHouse SummingMergeTree / materialized-view
    * rollup analog): rewrite every live part collapsing rows that share
    * (`partitionCol`, `keyCols`) into ONE row carrying the column-wise
    * sums of `sumCols` — the aggregate is MAINTAINED BY MERGES, so
    * appends stay cheap row appends and the table converges to the
    * rollup lazily, exactly ClickHouse's contract ("the sum may be
    * partial until merges finish"; readers who need exactness re-sum at
    * query time — `read().groupBy(keys).sum(...)` here — and get it
    * cheap because merges already collapsed most duplicates).
    * Output schema = partition + keys + sums; other columns are dropped
    * (CH keeps arbitrary values for them — a sharper contract is to
    * not have them). Sum columns must be exact-typed (long/decimal) for
    * deterministic results; doubles would re-order under parallel
    * aggregation. Partition-scoped like replacingCompact, so the
    * rollup shuffle stays partition-local at cluster scale.
    */
  def summingCompact(keyCols: Seq[String], sumCols: Seq[String],
      partitionCol: String = "date"): Long =
    aggregatingCompact(keyCols,
      sumCols.map(c => sum(col(c)).as(c)), partitionCol)

  /** Generic aggregating merge (the ClickHouse AggregatingMergeTree
    * analog — summingCompact with caller-supplied merge functions):
    * collapse rows sharing (`partitionCol`, `keyCols`) by applying
    * `aggs`, each of which must be a MERGE of partial states (sum over
    * sum-partials, sketch-union over sketch states, min/max over
    * extrema) so that collapsing is answer-neutral for readers that
    * re-merge at query time. The caller owns that algebraic contract —
    * exactly CH's: a `-State` column's merge function must be
    * associative + commutative or the background merge changes answers.
    * Partition-scoped like the other merge flavors.
    */
  def aggregatingCompact(keyCols: Seq[String],
      aggs: Seq[org.apache.spark.sql.Column],
      partitionCol: String = "date"): Long =
    rewriteAll(partitionCol) { src =>
      src.groupBy((partitionCol +: keyCols).map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
        .repartition(col(partitionCol))
        .sortWithinPartitions(partitionCol, keyCols: _*)
    }

  /** Collapsing merge (the ClickHouse VersionedCollapsingMergeTree
    * analog — CDC/upsert-by-cancellation: writers never update in
    * place; an update appends a `sign = -1` copy of the old row (same
    * `versionCol`) plus a `sign = +1` row at the new version, and the
    * MERGE cancels matched pairs). Within (`partitionCol`, `keyCols`,
    * `versionCol`) rows collapse to the net sign: net 0 vanishes
    * (state + its cancel), net ±1 keeps one row carrying that sign.
    * We implement the versioned variant deliberately — plain
    * CollapsingMergeTree's keep-first-cancel/last-state rule depends on
    * physical merge order and is documented as nondeterministic under
    * out-of-order inserts; the versioned contract is a pure function of
    * the data, which is what a distributed rewrite must be. Readers get
    * exactness BEFORE merges the same way CH prescribes:
    * `sum(sign * x)` with `HAVING sum(sign) > 0` — collapse just makes
    * the common case cheap. Non-key state columns take `max` within the
    * group (state rows sharing a (key, version) are by-contract
    * identical copies; max is their deterministic representative).
    * Partition-scoped like the other merge flavors, so the collapse
    * shuffle stays partition-local at cluster scale.
    * Reference: tables.sql uses plain MergeTree, but the CH engine
    * family is the storage surface being re-expressed (see dx12/dx14).
    */
  def collapsingCompact(keyCols: Seq[String], signCol: String,
      versionCol: String, partitionCol: String = "date"): Long =
    rewriteAll(partitionCol) { src =>
      val groupNames = partitionCol +: keyCols :+ versionCol
      val grouped = groupNames.map(col)
      val signT = src.schema(signCol).dataType
      val others = src.columns.filterNot(c =>
        c == signCol || groupNames.contains(c))
      val aggs = sum(col(signCol)).cast(signT).as(signCol) +:
        others.map(c => max(col(c)).as(c))
      src.groupBy(grouped: _*)
        .agg(aggs.head, aggs.tail: _*)
        .filter(col(signCol) =!= 0)
        .select(src.columns.map(col): _*) // restore original column order
        .repartition(col(partitionCol))
        .sortWithinPartitions(partitionCol, keyCols: _*)
    }

  /** Targeted row deletion (ClickHouse lightweight DELETE / Delta
    * DELETE analog — the takedown / right-to-be-forgotten path a
    * training-data store must have): rewrite ONLY the parts whose log
    * stats cannot disprove `cond`, dropping the matching rows;
    * every other part is never listed, read, or written. On a 100 TB
    * table a single-key deletion therefore touches the few parts whose
    * min/max straddle the key — the same stats that serve reads prune
    * the write. Conservative by construction: a part without stats for
    * the condition's columns is rewritten (correct, just not minimal).
    * Returns the number of rows deleted. Atomic swap under the same
    * optimistic-concurrency commit as compaction; time travel to the
    * pre-delete version works until vacuum (call vacuum() promptly if
    * the deletion must also be PHYSICAL — that is the GDPR contract).
    */
  def deleteWhere(cond: org.apache.spark.sql.Column,
      partitionCol: String = "date"): Long = restarting { snap =>
    val victims = candidates(cond, snap.dataFiles)
    if (victims.isEmpty) Some(0L)
    else {
      val target = new Path(dataDir, s"base-${java.util.UUID.randomUUID()}")
      // DELETE semantics: remove only rows where cond is TRUE. A bare
      // filter(!cond) would also drop NULL-evaluating rows (NOT NULL = NULL
      // filters the row) — and only in the parts selected for rewrite,
      // making the outcome file-layout-dependent. coalesce keeps them.
      // Reading through the tombstone mask keeps any pending soft delete
      // applied in the rewritten output (rewrites only converge physical
      // state toward logical state, never resurrect).
      val kept = masked(victims, snap)
        .filter(!coalesce(cond, lit(false)))
      // cluster by partition before the partitioned write (the compact()
      // discipline): an unclustered write stages (#tasks × #partitions)
      // near-empty files — dx19's whole-table delete staged ~500 parts and
      // paid ~1.4 s of footer stats on them; one part per partition keeps
      // the commit O(partitions)
      kept.repartition(col(partitionCol))
        .write.partitionBy(partitionCol).mode("overwrite")
        .parquet(target.toString)
      swapIn(snap, Some(target -> kept.schema), victims)
        .map(adds => victims.map(_.rows).sum - adds.map(_.rows).sum)
    }
  }

  /** Atomic partition overwrite (ClickHouse REPLACE PARTITION / dynamic
    * partition overwrite, done transactionally): swap every live part of
    * `partitionCol = value` for freshly staged parts of `df` in ONE log
    * commit — readers see the old day or the new day, never a mix and
    * never both. This is the backfill shape at 100 TB: recompute one
    * day's data offline, then publish it with a metadata-only swap;
    * untouched partitions are never read, moved, or rewritten. Base
    * parts are matched by their `partitionCol=value` path segment;
    * buffer parts (partition value still a data column) are victims
    * whenever their footer [min,max] day range CONTAINS the target day
    * (DATE stats are epoch-day longs, per ttlExpire), or when stats are
    * missing — conservative, because a buffer part that merely straddles
    * the day still holds target-day rows that must not survive the swap.
    * A straddling victim's OTHER-day rows are read back (through the
    * tombstone mask) and re-staged in the same commit, so no foreign
    * rows are lost and no stale target-day rows remain. `df` must
    * contain only rows of that partition — the require guards against
    * silently publishing foreign rows into the wrong partition.
    * Returns (physical rows removed, physical rows staged) for the swap
    * — counts include any carried-over other-day buffer rows.
    */
  def replacePartition(value: String, df: DataFrame,
      partitionCol: String = "date"): (Long, Long) = {
    val bad = df.filter(col(partitionCol) =!= to_date(lit(value)))
      .limit(1).count()
    require(bad == 0, s"replacePartition($value): df holds other partitions")
    val seg = s"/$partitionCol=$value/"
    val days = java.time.LocalDate.parse(value).toEpochDay
    def dayRange(f: FileEntry): Option[(Long, Long)] =
      f.stats.get(partitionCol).flatMap(cs =>
        if (cs.typ != "long") None
        else scala.util.Try((cs.min.toLong, cs.max.toLong)).toOption)
    def inPart(f: FileEntry): Boolean =
      f.path.contains(seg) || (f.tier == TierBuffer &&
        dayRange(f).forall { case (mn, mx) => mn <= days && days <= mx })
    restarting { snap =>
      val victims = snap.dataFiles.filter(inPart)
      // buffer victims not provably single-day: rewrite their other-day
      // rows back alongside df (masked read — rewrites never resurrect
      // soft-deleted rows); null-safe filter keeps NULL-date rows
      val straddlers = victims.filter(f => f.tier == TierBuffer &&
        dayRange(f).forall(_ != (days, days)))
      val out =
        if (straddlers.isEmpty) df
        else df.unionByName(
          masked(straddlers, snap)
            .filter(!(col(partitionCol) <=> to_date(lit(value)))),
          allowMissingColumns = true)
      val target = new Path(dataDir, s"base-${java.util.UUID.randomUUID()}")
      out.write.partitionBy(partitionCol).mode("overwrite")
        .parquet(target.toString)
      swapIn(snap, Some(target -> out.schema), victims, Some(out.schema))
        .map(adds => (victims.map(_.rows).sum, adds.map(_.rows).sum))
    }
  }

  /** Batch upsert — Delta/Iceberg `MERGE INTO` with the two standard
    * clauses (WHEN MATCHED → UPDATE SET *, WHEN NOT MATCHED → INSERT *):
    * source rows replace same-key target rows; unmatched source rows are
    * inserted. Only parts whose log stats might hold a source key are
    * rewritten — the rest of the table is untouched (at 100 TB the
    * source is a day's corrections and the victims a handful of parts,
    * not the table). The rewrite reads through the tombstone mask, and
    * the source must be key-unique (the same multiple-match restriction
    * Delta MERGE enforces — two source rows for one target key would
    * make the result order-dependent). One atomic commit swaps victims
    * for (kept ∪ source). Returns (matched/updated, inserted) row counts.
    */
  def mergeInto(source: DataFrame, keyCols: Seq[String],
      partitionCol: String = "date"): (Long, Long) = {
    require(keyCols.nonEmpty, "mergeInto needs key columns")
    val dupes = source.groupBy(keyCols.map(col): _*)
      .count().filter(col("count") > 1).limit(1).count()
    require(dupes == 0, "mergeInto: source has duplicate keys")
    val srcN = source.count()
    if (srcN == 0) return (0L, 0L)
    // stats scoping: a single numeric key prunes victims by the source's
    // [min, max] range; otherwise every data part is a candidate
    val keyRange = keyCols match {
      case Seq(k) =>
        val mm = source.agg(min(col(k)), max(col(k))).head()
        Option.when(!mm.isNullAt(0))(
          col(k) >= lit(mm.get(0)) && col(k) <= lit(mm.get(1)))
      case _ => None
    }
    restarting { snap =>
      val victims = snap.dataFiles.filterNot(f =>
        keyRange.exists(StatsPruning.canPrune(_, f.stats)))
      val target = new Path(dataDir, s"base-${java.util.UUID.randomUUID()}")
      // matched = LOGICAL target rows the source replaced, i.e. counted
      // over the tombstone-masked victim rows — the physical identity
      // (victims.rows + srcN - adds.rows) would count soft-deleted rows
      // still sitting in victim parts as "matched" and drift callers'
      // matched-count assertions after a preceding softDelete
      var maskedVictimRows = 0L
      val kept =
        if (victims.isEmpty) None
        else {
          val live = masked(victims, snap)
          maskedVictimRows = live.count()
          Some(live
            .join(broadcast(source.select(keyCols.map(col): _*)), keyCols, "left_anti"))
        }
      val out = kept.map(_.unionByName(source, allowMissingColumns = true))
        .getOrElse(source)
      out.write.partitionBy(partitionCol).mode("overwrite")
        .parquet(target.toString)
      swapIn(snap, Some(target -> out.schema), victims, Some(out.schema))
        .map { adds =>
          val matched = maskedVictimRows + srcN - adds.map(_.rows).sum
          (matched, srcN - matched)
        }
    }
  }

  // ------------------------------------------------- deletion vectors

  private val victimsCache =
    scala.collection.concurrent.TrieMap[String, Set[String]]()

  /** The part paths a tombstone masks — its "deletion vector" scope,
    * recorded at delete time in a `<tomb-part>.victims.json` sidecar.
    */
  private def victimsOf(tombPath: String): Set[String] =
    victimsCache.getOrElseUpdate(tombPath, {
      val p = new Path(tombPath + VictimsSuffix)
      if (!fs.exists(p)) Set.empty
      else {
        val in = fs.open(p)
        val node = try mapper.readTree(in) finally in.close()
        val b = Set.newBuilder[String]
        node.get("victims").forEach(v => b += v.asText())
        b.result()
      }
    })

  /** Lightweight row DELETE (ClickHouse `DELETE FROM` / Delta deletion
    * vectors, at key granularity): instead of rewriting every affected
    * part the way `deleteWhere` does, commit ONE small tombstone part
    * holding the distinct `keyCols` tuples of the matching rows, scoped
    * to the parts that could hold them (recorded per tombstone in a
    * `.victims.json` sidecar — the deletion-vector file map). Reads
    * anti-join the tombstone keys against exactly those parts, so the
    * delete is visible immediately at O(matching keys) write cost; the
    * part rewrites are deferred to `applyTombstones` (or any compaction
    * that happens to rewrite a victim — every rewrite path reads through
    * the mask, so physical state can only converge toward logical
    * state). Rows appended AFTER the delete are never masked: new parts
    * are not in any existing tombstone's victim list — the same
    * insert-after-delete semantics ClickHouse mutations have.
    *
    * Scale: this is the 100 TB GDPR shape — a takedown of one user
    * writes kilobytes and commits one metadata entry, instead of
    * rewriting the terabyte-sized parts that user's rows touch; the
    * read-side cost is one BROADCAST anti-join (tombstones are small by
    * contract), and the write amplification is paid once, batched
    * across many deletes, at the next `applyTombstones`.
    *
    * Returns the number of distinct key tuples tombstoned.
    */
  def softDelete(cond: org.apache.spark.sql.Column,
      keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "softDelete needs at least one key column")
    restarting { snap =>
      // stats+sidecar pruning scopes the tombstone: parts that provably
      // hold no matching row are never masked (and never rewritten later)
      val victims = candidates(cond, snap.dataFiles)
      if (victims.isEmpty) Some(0L)
      else {
        val target = new Path(dataDir, s"tomb-${java.util.UUID.randomUUID()}")
        val keys = masked(victims, snap)
          .filter(coalesce(cond, lit(false)))
          .select(keyCols.map(col): _*).distinct()
        keys.coalesce(1).write.mode("overwrite").parquet(target.toString)
        // deletion-vector sidecar: which live parts this tombstone masks
        listParquet(target).foreach { f =>
          val node = mapper.createObjectNode()
          val arr = node.putArray("victims")
          victims.foreach(v => arr.add(v.path))
          writeSidecar(f.path + VictimsSuffix, mapper.writeValueAsBytes(node))
        }
        beforeCommit()
        val adds = entriesFor(target, TierTomb, keys.schema)
        // a tombstone add removes nothing, so version races with appends and
        // other deletes always merge. A race with a REWRITE of our victims
        // does NOT: the rewrite staged its output from the pre-tombstone
        // mask, and our deletion vector lists only the old (now dead) part
        // paths — committing anyway would mask nothing and lose the delete.
        // Restart from a fresh snapshot so the vector covers the live parts.
        if (commitWithRetry(snap, None, adds, removes = Nil)(allLive(victims)))
          Some(adds.map(_.rows).sum)
        else { fs.delete(target, true); None }
      }
    }
  }

  /** Physically reconcile all live tombstones: rewrite only the parts
    * some tombstone still masks (everything else is untouched), then
    * drop the tombstone entries in the same atomic commit. Returns the
    * number of rows physically removed. After this, reads take the
    * no-anti-join fast path again and `vacuum()` reclaims the rewritten
    * parts and tombstone files.
    */
  def applyTombstones(partitionCol: String = "date"): Long = restarting { snap =>
    val tombs = snap.tombFiles
    if (tombs.isEmpty) Some(0L)
    else {
      val victimPaths = tombs.flatMap(t => victimsOf(t.path)).toSet
      val victims = snap.dataFiles.filter(f => victimPaths.contains(f.path))
      val staged = Option.when(victims.nonEmpty) {
        val target = new Path(dataDir, s"base-${java.util.UUID.randomUUID()}")
        val kept = masked(victims, snap)
        kept.write.partitionBy(partitionCol).mode("overwrite")
          .parquet(target.toString)
        target -> kept.schema
      }
      // tombsUnchanged also rejects a NEW tombstone committed concurrently:
      // its deletion vector lists the victim paths this commit removes, so
      // proceeding would strand it masking nothing — restart and fold it in
      swapIn(snap, staged, victims ++ tombs)
        .map(adds => victims.map(_.rows).sum - adds.map(_.rows).sum)
    }
  }

  /** Shared full-rewrite commit path for the major/replacing merges:
    * stage `rewrite` of the snapshot's masked rows as one fresh
    * generation, then atomically
    * swap it for every current live part. Same conflict rule as
    * compact(): obsolete if any source part was already rewritten by a
    * concurrent compaction — drop the staged output and restart fresh.
    */
  private def rewriteAll(partitionCol: String)(
      rewrite: DataFrame => DataFrame): Long = restarting { snap =>
    if (snap.files.isEmpty) Some(0L)
    else {
      val target = new Path(dataDir, s"base-${java.util.UUID.randomUUID()}")
      val out = rewrite(masked(snap.dataFiles, snap))
      out.write.partitionBy(partitionCol).mode("overwrite")
        .parquet(target.toString)
      swapIn(snap, Some(target -> out.schema), snap.files, Some(out.schema))
        .map(_ => snap.files.map(_.rows).sum)
    }
  }

  /** Snapshot read over the live part set (both tiers — like the
    * ClickHouse Buffer engine, queries see buffered + flushed rows).
    * Everything the read needs comes from the log: the schema, and each
    * part's path, length and `date=` partition value. Building the
    * DataFrame lists no directory, opens no file and starts no Spark job.
    */
  def read(asOfVersion: Long = Long.MaxValue): DataFrame = {
    val snap = snapshot(asOfVersion)
    masked(snap.dataFiles, snap)
  }

  /** Tombstone-masked read: each data part anti-joins the keys of the
    * tombstones whose deletion vector covers it. Parts are grouped by
    * their applicable tombstone set (in practice 1–2 groups: pre-delete
    * parts vs everything since), each group gets ONE broadcast anti-join
    * per covering tombstone, and uncovered parts take the raw-scan fast
    * path — the corpus never shuffles for the mask. `snap` supplies the
    * schema and the live tombstones.
    */
  private[storage] def masked(files: Seq[FileEntry], snap: Snapshot): DataFrame = {
    val schema = schemaOf(snap)
    val data = files.filterNot(_.tier == TierTomb)
    val applicable = snap.tombFiles.filter(t => {
      val vs = victimsOf(t.path)
      data.exists(f => vs.contains(f.path))
    })
    if (applicable.isEmpty) return readFiles(data, schema)
    data.groupBy(f => applicable.filter(t => victimsOf(t.path).contains(f.path)))
      .toSeq.sortBy(_._1.map(_.path).mkString(","))
      .map { case (tombs, group) =>
        tombs.foldLeft(readFiles(group, schema)) { (df, t) =>
          val keys = tombKeys(t)
          // null-safe (<=>) equi-join: softDelete tombstones NULL key
          // tuples too, and a plain equi-anti-join could never mask them
          // (NULL = NULL is NULL ⇒ the row always survives). EqualNullSafe
          // is still an equi-join key, so this stays a broadcast hash join.
          val cond = keys.columns.map(c => df(c) <=> keys(c)).reduce(_ && _)
          df.join(broadcast(keys), cond, "left_anti")
        }
      }
      .reduce(_.union(_))
  }

  /** A tombstone part's key tuples, typed by its own footer. */
  private def tombKeys(t: FileEntry): DataFrame =
    readFiles(Seq(t), footerSchema(new Path(t.path)))

  /** Filtered read with log-stats data skipping: files whose recorded
    * min/max disprove `cond` are dropped at PLAN time — never listed,
    * opened, or scheduled (the sparse-PK-index read path; see
    * StatsPruning). The condition is still applied in full to the
    * surviving files, so results are identical to `read().where(cond)`.
    */
  def readWhere(cond: Column, asOfVersion: Long = Long.MaxValue): DataFrame = {
    val snap = snapshot(asOfVersion)
    val all = snap.dataFiles
    val kept = candidates(cond, all)
    if (kept.nonEmpty) masked(kept, snap).where(cond)
    else if (all.isEmpty) throw new IllegalStateException(s"empty table at $root")
    else spark.createDataFrame(java.util.List.of[Row](), schemaOf(snap))
  }

  /** (surviving files, total files) for `cond` — the observability hook
    * pruning-effectiveness tests assert on. Counts both min/max-stat
    * and skip-index pruning, matching `readWhere`.
    */
  def pruneReport(cond: Column,
      asOfVersion: Long = Long.MaxValue): (Int, Int) = {
    val files = snapshot(asOfVersion).dataFiles
    (candidates(cond, files).size, files.size)
  }

  /** One file scan per partition layout over `files`, read with
    * `schema`: in practice one for the base tier (`date=` directories)
    * and one for the buffer tier (`date` a data column), whatever the
    * number of base generations. Each scan is a `HadoopFsRelation` over a
    * [[FactTable.LogFileIndex]], so Spark's partition pruning works as
    * on a listed directory. A part written before a column was added
    * reads that column as NULL. Columns come out in schema order.
    */
  private[storage] def readFiles(files: Seq[FileEntry],
      schema: StructType): DataFrame = {
    if (files.isEmpty)
      throw new IllegalStateException(s"empty table at $root")
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    files.map(f => (f, partitionDirs(f.path)))
      .groupBy(_._2.map(_._1)).toSeq.sortBy(_._1.mkString("/"))
      .map { case (partCols, group) =>
        val partSchema = StructType(partCols.map(c => schema(c)))
        val located = group.map { case (f, dirs) =>
          val values = dirs.zip(partSchema.fields).map { case ((_, raw), field) =>
            if (raw == DefaultPartitionValue) null
            else Cast(Literal(raw), field.dataType, Some(tz)).eval()
          }
          f -> InternalRow.fromSeq(values)
        }
        val relation = HadoopFsRelation(LogFileIndex(rootPath, partSchema, located),
          partSchema, StructType(schema.filterNot(f => partCols.contains(f.name))),
          None, new ParquetFileFormat(), Map.empty)(spark)
        spark.baseRelationToDataFrame(relation).select(
          schema.fieldNames.toIndexedSeq.map(c => col(QuotingUtils.quoteIdentifier(c))): _*)
      }
      .reduce(_.union(_))
  }

  /** Schema of `snap` as recorded in the log; a log written before the
    * schema was recorded falls back to the live parts' footers.
    */
  private[storage] def schemaOption(snap: Snapshot): Option[StructType] =
    snap.schema.orElse(Option.when(snap.dataFiles.nonEmpty)(
      footerSchemaOf(snap.dataFiles)))

  private[storage] def schemaOf(snap: Snapshot): StructType =
    schemaOption(snap).getOrElse(
      throw new IllegalStateException(s"empty table at $root"))

  /** Pre-schema logs: the union of the parts' footer schemas, plus any
    * partition column that lives only in `date=` directories (DATE when
    * every value is an ISO date, as Spark's partition inference types
    * them, else STRING).
    */
  private def footerSchemaOf(files: Seq[FileEntry]): StructType = {
    val schemas = new Array[StructType](files.size)
    onIoPool(files.indices)(i => schemas(i) = footerSchema(new Path(files(i).path)))
    val merged = schemas.reduce((a, b) => widen(a, b).asInstanceOf[StructType])
    val dirCols = files.flatMap(f => partitionDirs(f.path))
      .filterNot { case (c, _) => merged.fieldNames.contains(c) }
      .groupMap(_._1)(_._2).toSeq.sortBy(_._1)
    StructType(merged.fields ++ dirCols.map { case (c, vals) =>
      val dates = vals.filterNot(_ == DefaultPartitionValue)
        .forall(v => scala.util.Try(java.time.LocalDate.parse(v)).isSuccess)
      StructField(c, if (dates) DateType else StringType)
    })
  }

  /** The Spark schema a part was written with (its footer's
    * `org.apache.spark.sql.parquet.row.metadata`), read on the driver.
    */
  private def footerSchema(path: Path): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, hadoopConf))
    try nullable(DataType.fromJson(reader.getFooter.getFileMetaData
      .getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")))
      .asInstanceOf[StructType]
    finally reader.close()
  }

  // -------------------------------------------------------------- helpers

  /** Run `f` over `items` and wait — the shared driver-side fan-out for
    * independent small-file round-trips (footer opens, sidecar
    * reads/writes): hundreds of serial ~2-5 ms filesystem calls otherwise
    * add whole seconds to a commit or a pruned read. A single item runs
    * on the caller's thread; more run on [[FactTable.IoPool]], each with
    * the caller's Spark local properties and active session, as a thread
    * of its own would inherit them. No `f` may call `onIoPool`: the pool
    * is shared and bounded, so nested calls could wait on one another
    * with every thread taken.
    */
  private def onIoPool[A](items: Seq[A])(f: A => Unit): Unit =
    if (items.size == 1) f(items.head)
    else if (items.nonEmpty) {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val tasks = items.map(a => SQLExecution.withThreadLocalCaptured(session, IoPool)(f(a)))
      try tasks.foreach(_.join())
      catch { case e: java.util.concurrent.CompletionException => throw e.getCause }
    }

  /** `run` over `df`'s physical plan in one SQL execution, as `collect`
    * runs it, with the rows kept as the plan emits them (never converted
    * to `Row`).
    */
  private def internalRows(df: DataFrame)(
      run: SparkPlan => Array[InternalRow]): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe)(run(qe.executedPlan))
  }

  /** Write `rows`, laid out as `schema`, as one parquet part in `dir`, on
    * the driver. It is the writer a Spark write task opens, set up by the
    * same `prepareWrite`, so codec, encodings and footer keys match a
    * `df.write.parquet` part: only the write job is saved, which is most
    * of a small write's cost.
    */
  private def writeLocal(dir: Path, schema: StructType,
      rows: Iterator[InternalRow]): Unit = {
    val job = Job.getInstance(hadoopConf)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val file = new Path(dir,
      s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}")
    val writer = factory.newInstance(file.toString, schema, ctx)
    try rows.foreach(writer.write) finally writer.close()
  }

  /** `df` collected and written on the driver as `write.partitionBy`
    * lays it out: one part per run of equal `partitionCol` values, in
    * `dir/<partitionCol>=<value>/` (NULL: `__HIVE_DEFAULT_PARTITION__`),
    * without the partition column. `df` must be sorted on `partitionCol`
    * first.
    */
  private def writeLocalPartitioned(dir: Path, df: DataFrame,
      partitionCol: String): Unit = {
    val rows = internalRows(df)(_.executeCollect())
    val attrs = df.queryExecution.executedPlan.output
    val i = df.schema.fieldIndex(partitionCol)
    val typ = attrs(i).dataType
    val project = UnsafeProjection.create(attrs.patch(i, Nil, 1), attrs)
    val dataSchema = StructType(df.schema.fields.patch(i, Nil, 1))
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    def value(r: InternalRow): Any = if (r.isNullAt(i)) null else r.get(i, typ)
    fs.mkdirs(dir)
    var rest = rows
    while (rest.nonEmpty) {
      val v = value(rest.head)
      val (run, tail) = rest.span(value(_) == v)
      val name = Option(Cast(Literal(v, typ), StringType, tz).eval()).map(_.toString)
      writeLocal(new Path(dir, ExternalCatalogUtils.getPartitionPathString(
        partitionCol, name.orNull)), dataSchema, run.iterator.map(project))
      rest = tail
    }
  }

  private case class RawFile(path: String, bytes: Long)

  /** Recursive parquet listing via plain listStatus walks: the
    * LocatedFileStatus iterator (`fs.listFiles(dir, true)`) additionally
    * resolves block locations per file — measured 1.3 s for a 313-part
    * staged generation on a local fs, vs one readdir per directory here.
    */
  private def listParquet(dir: Path): Seq[RawFile] = {
    val out = mutable.ArrayBuffer[RawFile]()
    def walk(d: Path): Unit = fs.listStatus(d).foreach { s =>
      if (s.isDirectory) walk(s.getPath)
      else if (s.getPath.getName.endsWith(".parquet"))
        out += RawFile(s.getPath.toString, s.getLen)
    }
    walk(dir)
    out.toSeq
  }

  /** Log entries for freshly written parts: one footer open per file
    * yields both the row count and the data-skipping column stats
    * (StatsPruning), so commit cost stays footer-only — no data scan
    * unless the table keeps skip-index or projection sidecars. Those read
    * each new part through [[readFiles]] with `schema`, the schema its
    * data was written with: no schema inference, no listing.
    */
  private def entriesFor(dir: Path, tier: String,
      schema: StructType): Seq[FileEntry] = {
    val now = System.currentTimeMillis()
    val files = listParquet(dir)
    val read = nullable(schema).asInstanceOf[StructType]
    // key tombstones are not data parts: no sidecars
    val data = tier != TierTomb
    val ixs = if (data) indexes else Nil
    val partIx = ixs.collect { case ix @ SkipIndex(_, f: PartFamily) => ix -> f }
    val gramIx = ixs.collect { case ix @ SkipIndex(_, f: GramFamily) => ix -> f }
    val perPart = partIx.nonEmpty || (data && projections.nonEmpty)
    val entries = new Array[FileEntry](files.size)
    // A rewrite that stages hundreds of parts would otherwise serialize
    // hundreds of footer round-trips on the driver (the same reason Delta
    // collects per-file stats from the write tasks themselves — the log
    // commit must stay O(seconds) regardless of part count).
    onIoPool(files.indices) { i =>
      val f = files(i)
      val (rows, stats) = StatsPruning.footerInfo(new Path(f.path), hadoopConf)
      val e = FileEntry(f.path, rows, f.bytes, tier, now, stats)
      if (perPart) {
        val part = readFiles(Seq(e), read)
        partIx.foreach { case (ix, family) =>
          // schema evolution: a part without the column gets no sidecar
          if (part.columns.contains(ix.col))
            family.build(part, ix.col, rows).foreach(writeSidecar(ix.sidecar(f.path), _))
        }
        projections.foreach(p => writeProjSidecar(f.path, part, p))
      }
      entries(i) = e
    }
    // token/n-gram blooms are built in ONE distributed job over the whole
    // staged generation (per indexed column), not per part — fixed-size
    // partial filters combine map-side, so a commit staging thousands
    // of parts costs one shuffle of #parts × bloom-size, never
    // thousands of driver-coordinated jobs
    if (gramIx.nonEmpty && entries.nonEmpty)
      writeGramSidecars(readFiles(entries.toSeq, read), entries.map(_.path).toSeq, gramIx)
    entries.toSeq
  }

  // ------------------------------------------------------- skip indexes

  /** The table's skip indexes: one per indexed column and family. */
  private val indexes: Seq[SkipIndex] =
    bloomCols.map(SkipIndex(_, BloomIndex)) ++
      setIndexCols.map(SkipIndex(_, SetIndex)) ++
      tokenBloomCols.map(SkipIndex(_, TokenIndex)) ++
      ngramBloomCols.map(SkipIndex(_, NgramIndex)) ++
      arrayBloomCols.map(SkipIndex(_, ArrayBloomIndex))

  /** Every loaded sidecar, keyed by its path (None: the part has none,
    * e.g. a legacy part or a set over too many distinct values).
    */
  private val sidecars = scala.collection.concurrent.TrieMap[String, Option[Sidecar]]()

  private def sidecarOf(ix: SkipIndex, part: String): Option[Sidecar] =
    sidecars.getOrElseUpdate(ix.sidecar(part), try {
      val in = fs.open(new Path(ix.sidecar(part)))
      try Some(ix.family.decode(in)) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None })

  private def writeSidecar(path: String, bytes: Array[Byte]): Unit = {
    val out = fs.create(new Path(path), true)
    try out.write(bytes) finally out.close()
  }

  /** The parts of `files` that may hold a row matching `cond`: a part is
    * left out when its log stats disprove `cond` (StatsPruning), or when
    * the sidecar of one of its skip indexes proves every value of a probe
    * absent. Each index's probes are taken from `cond` once, and the
    * sidecars they need are loaded first, in parallel; a table without
    * skip indexes opens no sidecar. Reads, `pruneReport`, `deleteWhere`,
    * `softDelete` and the SQL surface (GraftRelation) all prune here.
    */
  private[storage] def candidates(cond: Column,
      files: Seq[FileEntry]): Seq[FileEntry] = {
    val probes = indexes.flatMap(ix => ix.probes(cond).map(ix -> _))
    prefetch(files, probes.map(_._1).distinct)
    files.filterNot(f => StatsPruning.canPrune(cond, f.stats) ||
      probes.exists { case (ix, vs) => sidecarOf(ix, f.path).exists(ix.prunes(f, vs, _)) })
  }

  /** Load the sidecars of `ixs` for `files` in parallel: pruning
    * consults them file by file, and a cold cache would pay hundreds of
    * serial small reads (measured ~1 s at 313 parts in dx32/dx33).
    */
  private def prefetch(files: Seq[FileEntry], ixs: Seq[SkipIndex]): Unit =
    if (ixs.nonEmpty)
      onIoPool(for (f <- files; ix <- ixs if !sidecars.contains(ix.sidecar(f.path)))
        yield ix -> f.path) { case (ix, p) => sidecarOf(ix, p) }

  /** One distributed pass per gram index writes every staged part's
    * sidecar: turn the indexed column into grams, group by source file,
    * OR the fixed-size partial filters together (map-side combine keeps
    * the shuffle at #parts × 8 KiB regardless of row count), then write
    * one `<part><suffix><col>` per part. `df` scans exactly the staged
    * `parts`. A part contributing no grams (all NULL/empty, or the column
    * physically absent from the file — its rows read back as NULL, which
    * no token predicate matches) gets an EMPTY bloom, which correctly
    * proves every gram absent; a MISSING sidecar stays reserved for
    * "legacy part, cannot prune".
    */
  private def writeGramSidecars(df: DataFrame, parts: Seq[String],
      grams: Seq[(SkipIndex, GramFamily)]): Unit = {
    // keyed by scheme-stripped ABSOLUTE path: a partitioned write reuses
    // one file name across partition directories, so names collide
    def norm(p: String): String = new Path(p).toUri.getPath
    grams.foreach { case (ix, family) =>
      if (df.columns.contains(ix.col)) {
        val agg = udaf(new TokenBloomAgg, org.apache.spark.sql.Encoders.STRING)
        val built = df.select(input_file_name().as("__f"), family.grams(ix.col).as("__t"))
          .filter(col("__t").isNotNull && col("__t") =!= "")
          .groupBy(col("__f")).agg(agg(col("__t")).as("__b"))
          .collect()
          .map(r => norm(r.getString(0)) -> r.getAs[Array[Byte]](1)).toMap
        // sidecar creates are independent I/O round-trips — a commit
        // staging hundreds of parts would otherwise serialize hundreds of
        // small writes on the driver (measured ~1 s of the dx32 commit at
        // 313 parts); same bounded-pool discipline as entriesFor's footers
        onIoPool(parts) { part =>
          writeSidecar(ix.sidecar(part),
            built.getOrElse(norm(part), TokenBloom.toBytes(TokenBloom.emptyBits)))
        }
      }
    }
  }

  /** Per-part expected false-positive rate of the token bloom on `c` —
    * `(fraction of set bits)^k`, the standard saturation estimate. The
    * observability hook: a saturated filter (fpp → 1) still prunes
    * nothing incorrectly, it just stops pruning; surfacing the rate is
    * how an operator notices the fixed 8 KiB sidecar needs re-sizing
    * for a fatter per-part vocabulary.
    */
  def tokenBloomFpp(c: String): Seq[(String, Double)] = gramFpp(SkipIndex(c, TokenIndex))

  /** [[tokenBloomFpp]] for the n-gram (ngbf) sidecar family. */
  def ngramBloomFpp(c: String): Seq[(String, Double)] = gramFpp(SkipIndex(c, NgramIndex))

  private def gramFpp(ix: SkipIndex): Seq[(String, Double)] = {
    val files = snapshot().dataFiles
    prefetch(files, Seq(ix))
    files.flatMap(f => sidecarOf(ix, f.path).flatMap(_.fpp).map(f.path -> _))
  }

  // ---------------------------------------------------- projections

  /** Stage one part's mini-rollup sidecar from `df`, the part read with
    * its partition-directory columns (`date=X`) restored — a base part's
    * file does not physically carry the partition column. A part whose
    * schema lacks any projection column (schema evolution) writes no
    * sidecar; `readProjection` then falls back to the base scan, the
    * conservative ClickHouse contract.
    */
  private def writeProjSidecar(part: String, df: DataFrame,
      spec: ProjectionSpec): Unit = {
    val needed = spec.keyCols ++ spec.sumCols
    if (!needed.forall(df.columns.contains)) return
    val aggs = spec.sumCols.map(c => sum(col(c)).as(c)) :+
      count(lit(1)).as(ProjCountCol)
    df.groupBy(spec.keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(part + ".proj." + spec.name)
  }

  /** Serve a named rollup from the live parts' projection sidecars:
    * union the per-part partial rollups and re-aggregate (sum-of-sums,
    * sum-of-counts — the partial-aggregation merge). Falls back to an
    * equivalent base-data scan when any live part lacks its sidecar
    * (pre-projection parts, schema evolution), so results are always
    * exact; `projectionCoverage` is the observability hook a test or
    * operator uses to REQUIRE the cheap path actually served.
    * Returns keyCols ++ sumCols ++ `n_rows`.
    */
  def readProjection(name: String,
      asOfVersion: Long = Long.MaxValue): DataFrame = {
    val spec = projections.find(_.name == name).getOrElse(throw
      new IllegalArgumentException(s"no projection '$name' on table $root"))
    val snap = snapshot(asOfVersion)
    val files = snap.dataFiles
    val sidecars = files.map(_.path + ".proj." + name)
    val aggs = spec.sumCols.map(c => sum(col(c)).as(c))
    // pending soft deletes invalidate the stored rollups (they were
    // computed before the mask) — serve the exact masked base scan until
    // applyTombstones regenerates the victims' sidecars
    if (snap.tombFiles.isEmpty &&
        sidecars.forall(p => fs.exists(new Path(p))))
      spark.read.parquet(sidecars: _*)
        .groupBy(spec.keyCols.map(col): _*)
        .agg(aggs.head, (aggs.tail :+ sum(col(ProjCountCol)).as("n_rows")): _*)
    else // fallback: exact, just not cheap
      masked(files, snap)
        .groupBy(spec.keyCols.map(col): _*)
        .agg(aggs.head, (aggs.tail :+ count(lit(1)).as("n_rows")): _*)
  }

  /** (parts with a live sidecar for `name`, live parts). Equality means
    * `readProjection(name)` served entirely from sidecars.
    */
  def projectionCoverage(name: String,
      asOfVersion: Long = Long.MaxValue): (Int, Int) = {
    val snap = snapshot(asOfVersion)
    val files = snap.dataFiles
    // pending tombstones force the fallback scan regardless of sidecars
    (if (snap.tombFiles.nonEmpty) 0
     else files.count(f => fs.exists(new Path(f.path + ".proj." + name))),
      files.size)
  }
}

/** Interleaved-bits (Morton) clustering key over quantile-bucketed
  * dimensions. Buckets come from `approxQuantile` (a distributed sketch;
  * the driver holds only ~255 cut points per dimension — the same move
  * Spark's own range partitioner and Delta's ZORDER make), so skewed
  * columns still spread across the full bucket range. Bucketing is a
  * fold over a broadcast-literal boundary array — pure codegen'd
  * expressions, no UDF, no extra shuffle beyond the range repartition
  * the rewrite needs anyway.
  */
object ZOrder {
  val ZCol = "__graft_z"
  val Bits = 8 // buckets per dimension = 256

  def zColumn(df: DataFrame, cols: Seq[String]): org.apache.spark.sql.Column = {
    require(cols.nonEmpty && cols.size * Bits <= 31, s"1..3 zorder columns, got $cols")
    val probs = (1 until (1 << Bits)).map(_.toDouble / (1 << Bits)).toArray
    val bucketCols = cols.map { c =>
      // numeric view of the dimension (timestamps/dates → epoch seconds/days)
      val tmp = s"${ZCol}_q"
      val bounds = df.withColumn(tmp, col(c).cast("double"))
        .stat.approxQuantile(tmp, probs, 0.001).distinct.sorted.toSeq
      aggregate(typedlit(bounds), lit(0),
        (acc, b) => acc + when(col(c).cast("double") >= b, 1).otherwise(0))
    }
    val d = cols.length
    (0 until Bits).flatMap { i =>
      bucketCols.zipWithIndex.map { case (bc, dim) =>
        shiftleft(shiftright(bc, i).bitwiseAND(1), i * d + dim)
      }
    }.reduce(_.bitwiseOR(_))
  }
}

/** A log-version claim lost to another writer (internal retry signal;
  * surfaces only when a writer exhausts its conflict-retry budget).
  */
class ConcurrentWriteException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

object FactTable {
  val TierBuffer = "buffer"
  val TierBase = "base"
  /** Tombstone parts: small parquet files of deleted key tuples (the
    * key-granular deletion vector), masked out of every read until
    * `applyTombstones` reconciles them physically.
    */
  val TierTomb = "tomb"
  val VictimsSuffix = ".victims.json"
  val CheckpointSuffix = ".checkpoint.json"

  /** The size rule: inputs whose logged bytes are at most
    * [[OneTaskMaxBytes]] and at most `spark.sql.autoBroadcastJoinThreshold`
    * (the size Spark itself collects to one place) are handled in one
    * task — a Buffer merge (written on the driver) and an aggregate or
    * window over a read ([[graft.plans.SmallReadOnePartition]]). A
    * negative threshold (-1) turns both off.
    */
  private[graft] def oneTask(bytes: Long, conf: SQLConf): Boolean = {
    val threshold = conf.autoBroadcastJoinThreshold
    threshold >= 0 && bytes <= math.min(threshold, OneTaskMaxBytes)
  }

  /** Where one task stops paying: 1 MiB of logged bytes. Measured with
    * `scripts/one_task_crossover.sh` (the dashboard's rollup and
    * `snrWindowed`, one task against the distributed plan, 4 vCPU, three
    * seeds): one task took 0.75–0.90× the wall time up to 512 kB,
    * 0.86–1.05× at 1 MiB (with 0.67–0.84× the CPU), 1.03–1.25× at
    * 1.5 MiB and 1.4–2.6× from 4 MiB to the 10 MiB default threshold.
    * The Buffer merge shares the cut; it was not measured on its own.
    */
  private val OneTaskMaxBytes = 1L << 20

  /** Internal partial-count column in projection sidecars; surfaced as
    * `n_rows` by `readProjection`.
    */
  val ProjCountCol = "__graft_n"

  /** The driver-side I/O threads `onIoPool` fans out on, shared by every
    * table: at most 32 daemon threads, each ended after a minute idle.
    */
  private lazy val IoPool: java.util.concurrent.ExecutorService = {
    val threads = new java.util.concurrent.atomic.AtomicInteger()
    val pool = new java.util.concurrent.ThreadPoolExecutor(32, 32,
      60L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](), { (r: Runnable) =>
        val t = new Thread(r, s"graft-io-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** A named stored rollup: GROUP BY `keyCols`, SUM each of `sumCols`
    * (+ an implicit row count). Sum columns must be exact-typed
    * (long/decimal) — doubles would re-order under the partial merge.
    */
  final case class ProjectionSpec(name: String, keyCols: Seq[String],
      sumCols: Seq[String])

  /** Token-membership predicate over a text column — the probe shape
    * the token-bloom skip index (`tokenBloomCols`) can prune. Built
    * from the SAME tokenizer the sidecar writer uses, so index and
    * predicate can never disagree on token boundaries. The token must
    * itself be a single token (no separators), or no row could ever
    * match it.
    */
  def hasToken(c: org.apache.spark.sql.Column, tok: String)
      : org.apache.spark.sql.Column = {
    require(tok.nonEmpty && tok.matches("[A-Za-z0-9]+"),
      s"'$tok' is not a single alphanumeric token")
    array_contains(split(c, StatsPruning.TokenSplitRe), lit(tok))
  }

  /** Fixed-geometry Bloom filter over string tokens — the ClickHouse
    * `tokenbf_v1(size, hashes, seed)` analog with engine-fixed defaults
    * (8 KiB, k=7, Kirsch–Mitzenmacher double hashing over two murmur3
    * seeds). Fixed geometry is what makes the per-part partials
    * OR-mergeable in one distributed aggregation; 8 KiB holds ~6k
    * tokens at <1% fpp, and saturation beyond that degrades pruning
    * power, never correctness (see `tokenBloomFpp`).
    */
  object TokenBloom {
    val NumBits = 1 << 16
    val NumHashes = 7
    val NumWords: Int = NumBits / 64
    val SidecarBytes: Int = NumWords * 8

    def emptyBits: Array[Long] = new Array[Long](NumWords)

    private def bitAt(tok: String, i: Int): Int = {
      val h1 = scala.util.hashing.MurmurHash3.stringHash(tok, 0x9747b28c)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(tok, 0x85ebca6b)
      (((h1.toLong + i.toLong * h2.toLong) & 0x7fffffffffffffffL)
        % NumBits).toInt
    }

    def put(bits: Array[Long], tok: String): Unit = {
      var i = 0
      while (i < NumHashes) {
        val b = bitAt(tok, i); bits(b >> 6) |= 1L << (b & 63); i += 1
      }
    }

    def mightContain(bits: Array[Long], tok: String): Boolean = {
      var i = 0
      while (i < NumHashes) {
        val b = bitAt(tok, i)
        if ((bits(b >> 6) & (1L << (b & 63))) == 0L) return false
        i += 1
      }
      true
    }

    def expectedFpp(bits: Array[Long]): Double = {
      var ones = 0L
      var i = 0
      while (i < bits.length) { ones += java.lang.Long.bitCount(bits(i)); i += 1 }
      math.pow(ones.toDouble / NumBits, NumHashes.toDouble)
    }

    def toBytes(bits: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(SidecarBytes)
      bits.foreach(bb.putLong)
      bb.array()
    }

    def fromBytes(bytes: Array[Byte]): Array[Long] = {
      require(bytes.length == SidecarBytes,
        s"token-bloom sidecar must be $SidecarBytes bytes, got ${bytes.length}")
      val bb = java.nio.ByteBuffer.wrap(bytes)
      Array.fill(NumWords)(bb.getLong())
    }
  }

  /** Distributed per-part token-bloom build: fixed-size bit arrays OR
    * together associatively/commutatively, so Spark's partial
    * aggregation combines them map-side and the shuffle carries one
    * 8 KiB buffer per (part, partition) — never the tokens themselves.
    */
  private[storage] class TokenBloomAgg
      extends org.apache.spark.sql.expressions.Aggregator[
        String, Array[Long], Array[Byte]] {
    def zero: Array[Long] = TokenBloom.emptyBits
    def reduce(b: Array[Long], tok: String): Array[Long] = {
      TokenBloom.put(b, tok); b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Array[Byte] = TokenBloom.toBytes(b)
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  // ------------------------------------------------------- skip indexes

  /** One data-skipping index: a column plus the family of its sidecar,
    * `<part><suffix><col>`, written next to the part (not in the log).
    */
  private final case class SkipIndex(col: String, family: IndexFamily) {
    def sidecar(part: String): String = part + family.suffix + col

    /** The value lists of `cond`'s conjuncts on this column that the
      * family can test.
      */
    def probes(cond: Column): Seq[Seq[Any]] =
      family.probes(cond).collect { case (c, vs) if c == col => vs }

    /** True iff `s`, part `f`'s sidecar, proves every value of `vs`
      * absent. The one probe-type gate: a value whose class differs from
      * the class the sidecar indexes never prunes; a sidecar that records
      * no class takes the column's stat type in the part, and no recorded
      * stat (rare: bloom-indexed columns are primitives with footer
      * stats) also means "don't trust the probe".
      */
    def prunes(f: FileEntry, vs: Seq[Any], s: Sidecar): Boolean = {
      val typ = s.typ.orElse(f.stats.get(col).map(_.typ))
      vs.forall(v => typ.isDefined && valueClass(v) == typ && s.absent(v))
    }
  }

  /** A decoded sidecar: the value class it indexes (None: the column's
    * stat type), whether it proves a probe value absent from its part,
    * and, for the gram families, the filter's expected fpp.
    */
  private final case class Sidecar(typ: Option[String], absent: Any => Boolean,
      fpp: Option[Double] = None)

  /** The value class of a probe value or of a column type, shared by
    * every typed index: "long" (integral) or "string"; None is not
    * indexable (double blooms unsupported). BloomFilter hashes longs and
    * strings differently, so probing with the other class would always
    * answer "absent" and wrongly prune live parts.
    */
  private def valueClass(x: Any): Option[String] = x match {
    case _: Long | _: Int | _: Short | _: Byte |
        LongType | IntegerType | ShortType | ByteType => Some("long")
    case _: String | StringType => Some("string")
    case _ => None
  }

  /** A skip-index family (one ClickHouse secondary-index type): its
    * sidecar suffix, the conjunct shapes it can test — `probes`, per
    * column, the values a matching row must equal or contain one of —
    * and how a sidecar's bytes decode.
    */
  private sealed abstract class IndexFamily(val suffix: String) {
    def probes(cond: Column): Seq[(String, Seq[Any])]
    def decode(in: java.io.DataInputStream): Sidecar
  }

  /** Built per part, from that part's frame (bloom, set, array bloom).
    * None writes no sidecar: the part then never prunes.
    */
  private sealed abstract class PartFamily(suffix: String) extends IndexFamily(suffix) {
    def build(part: DataFrame, c: String, rows: Long): Option[Array[Byte]]
  }

  /** Built per staged generation, in one distributed pass (token,
    * n-gram): a fixed-size [[TokenBloom]] over the grams `grams(c)`
    * yields per row, OR-merged per part.
    */
  private sealed abstract class GramFamily(suffix: String) extends IndexFamily(suffix) {
    def grams(c: String): Column
    def absent(bits: Array[Long], probe: String): Boolean
    def decode(in: java.io.DataInputStream): Sidecar = {
      val buf = new Array[Byte](TokenBloom.SidecarBytes)
      in.readFully(buf)
      val bits = TokenBloom.fromBytes(buf)
      Sidecar(Some("string"), v => absent(bits, v.toString),
        Some(TokenBloom.expectedFpp(bits)))
    }
  }

  private def single(probes: Seq[(String, Any)]): Seq[(String, Seq[Any])] =
    probes.map { case (c, v) => c -> Seq(v) }

  private def bytesOf(write: java.io.OutputStream => Unit): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    write(out)
    out.toByteArray
  }

  private def bloomSidecar(typ: Option[String], bf: BloomFilter): Sidecar =
    Sidecar(typ, v => scala.util.Try(!bf.mightContain(v)).getOrElse(false))

  /** True iff some `col = v` conjunct of `cond` over an indexed column
    * is PROVEN absent from the part by its Bloom sidecar. Conservative:
    * missing sidecar / non-equality predicates never prune; a Bloom
    * "maybe" keeps the file (false positives cost a read, never a row).
    * The probe value's JVM type must match the indexed column's stat
    * type (mirroring StatsPruning.toCmp): a type-mismatched probe such
    * as `$"user_id" === "42"` — which Spark's analyzer coerces so real
    * rows DO match — would call mightContainString against a long-built
    * bloom and always report absent, wrongly pruning live rows.
    */
  private object BloomIndex extends PartFamily(".bloom.") {
    def probes(cond: Column): Seq[(String, Seq[Any])] =
      single(StatsPruning.equalityProbes(cond))
    def build(part: DataFrame, c: String, rows: Long): Option[Array[Byte]] =
      Some(bytesOf(part.stat.bloomFilter(c, math.max(rows, 1L), 0.01).writeTo))
    def decode(in: java.io.DataInputStream): Sidecar =
      bloomSidecar(None, BloomFilter.readFrom(in))
  }

  /** Array-bloom sizing: the part's KNOWN row count (footer) × a fixed
    * elements-per-row hint instead of an exact element count — the
    * count would cost a second Spark job per (part, column) (the bloom's
    * rows-reuse discipline). Mis-sizing only moves the false-positive
    * rate, never soundness: overestimating lowers fpp; rows with > 8
    * elements on average raise it, costing extra reads, never lost rows.
    */
  private val ArrayBloomElemsPerRowHint = 8L

  /** `<part>.abloom.<col>`: 1 type-tag byte ('S' string / 'L' integral)
    * + a Bloom filter over the part's exploded array elements. The tag
    * is what keeps pruning SOUND: BloomFilter hashes longs and strings
    * differently, so probing a string-built bloom with a long always
    * answers "absent" — without the tag that would wrongly prune live
    * parts on a type-coerced predicate. A part is pruned iff some
    * `array_contains(col, v)` conjunct over an indexed array column is
    * proven element-absent by its sidecar; same conservatism as the
    * scalar bloom.
    */
  private object ArrayBloomIndex extends PartFamily(".abloom.") {
    def probes(cond: Column): Seq[(String, Seq[Any])] =
      single(StatsPruning.arrayContainsProbes(cond))
    def build(part: DataFrame, c: String, rows: Long): Option[Array[Byte]] =
      part.schema(c).dataType match {
        // other element types: no sidecar, never prune
        case ArrayType(et, _) => valueClass(et).map { cls =>
          val bf = part.select(explode(col(c)).as("__e")).na.drop()
            .stat.bloomFilter("__e", math.max(rows * ArrayBloomElemsPerRowHint, 1L), 0.01)
          bytesOf { out => out.write(if (cls == "string") 'S' else 'L'); bf.writeTo(out) }
        }
        case _ => None
      }
    def decode(in: java.io.DataInputStream): Sidecar = {
      val tag = in.read().toByte match {
        case 'S' => "string"
        case 'L' => "long"
        case t => t.toString
      }
      bloomSidecar(Some(tag), BloomFilter.readFrom(in))
    }
  }

  /** ClickHouse `set(N)` secondary-index analog: a part whose indexed
    * column holds ≤ N distinct values gets a `<part>.set.<col>` sidecar
    * listing them EXACTLY — a point/equality predicate then skips the
    * part iff its value is absent, with NO false-positive rate (unlike
    * the bloom) and real power on low-cardinality columns whose values
    * interleave across every part (where [min,max] spans the domain and
    * can never prune). A part exceeding N distinct values writes no
    * sidecar; absence always means "cannot prune". Only integral and
    * string columns are indexed (the types `equalityProbes` can match
    * safely); NULL never matches an equality probe, so nulls are
    * excluded from the set.
    */
  private val MaxSetSize = 64

  /** True iff some `col = v` conjunct of `cond` over a set-indexed
    * column is PROVEN absent from the part by its exact value set.
    * Conservative: missing sidecar / non-equality predicates never
    * prune, and the probe's JVM type must match the sidecar's recorded
    * type (the bloom path's coercion hazard applies identically). An
    * IN-list conjunct kills the part iff EVERY listed value is provably
    * absent from its exact value set.
    */
  private object SetIndex extends PartFamily(".set.") {
    def probes(cond: Column): Seq[(String, Seq[Any])] =
      single(StatsPruning.equalityProbes(cond)) ++ StatsPruning.inProbes(cond)
    def build(part: DataFrame, c: String, rows: Long): Option[Array[Byte]] =
      valueClass(part.schema(c).dataType).flatMap { tag =>
        val vals = part.select(col(c)).na.drop().distinct()
          .limit(MaxSetSize + 1).collect().map(_.get(0).toString)
        // high cardinality: not indexable
        Option.when(vals.length <= MaxSetSize) {
          val m = new ObjectMapper()
          val node = m.createObjectNode()
          node.put("t", tag)
          val arr = node.putArray("v")
          vals.sorted.foreach(arr.add)
          m.writeValueAsBytes(node)
        }
      }
    def decode(in: java.io.DataInputStream): Sidecar = {
      val node = new ObjectMapper().readTree(in)
      val b = Set.newBuilder[String]
      node.get("v").forEach(v => b += v.asText())
      val vals = b.result()
      Sidecar(Some(node.get("t").asText()), v => !vals.contains(v.toString))
    }
  }

  /** True iff some `hasToken(col, 'tok')` conjunct of `cond` over a
    * token-indexed column is PROVEN absent from the part by its token
    * bloom. Conservative: missing sidecar / unrecognized predicates
    * never prune; a "maybe" keeps the file (false positives cost a
    * read, never a row — readWhere re-applies the predicate in full).
    */
  private object TokenIndex extends GramFamily(".tokbf.") {
    def probes(cond: Column): Seq[(String, Seq[Any])] =
      single(StatsPruning.tokenProbes(cond))
    def grams(c: String): Column =
      explode(split(coalesce(col(c), lit("")), StatsPruning.TokenSplitRe))
    def absent(bits: Array[Long], tok: String): Boolean =
      !TokenBloom.mightContain(bits, tok)
  }

  /** True iff some `col.contains('pat')` / `col LIKE '%pat%'` conjunct
    * over an n-gram-indexed column is PROVEN absent: a matching row
    * would contain every 3-gram of the pattern, so ANY 3-gram the
    * part's bloom rejects kills the part. Same conservatism as the
    * token path (missing sidecar / short pattern / OR never prune;
    * readWhere re-applies the predicate in full).
    */
  private object NgramIndex extends GramFamily(".ngbf.") {
    def probes(cond: Column): Seq[(String, Seq[Any])] =
      single(StatsPruning.ngramProbes(cond))
    def grams(c: String): Column = explode_outer(expr(
      s"""CASE WHEN length(coalesce($c, '')) >= ${StatsPruning.NgramWidth}
            THEN transform(
              sequence(1, length($c) - ${StatsPruning.NgramWidth - 1}),
              i -> substring($c, i, ${StatsPruning.NgramWidth}))
            ELSE CAST(array() AS ARRAY<STRING>) END"""))
    def absent(bits: Array[Long], pat: String): Boolean =
      (0 to pat.length - StatsPruning.NgramWidth).exists { i =>
        !TokenBloom.mightContain(bits, pat.substring(i, i + StatsPruning.NgramWidth))
      }
  }

  /** The log replayed through version `last` (-1: nothing replayed):
    * live entries in log order, txn ids and the last recorded schema.
    */
  private final class LogState {
    val live = mutable.LinkedHashMap[String, FileEntry]()
    var txns = Set.empty[Long]
    var schema = Option.empty[StructType]
    var last = -1L
    def snapshot: Snapshot = Snapshot(live.values.toVector, txns, last + 1, schema)
  }

  final case class FileEntry(path: String, rows: Long, bytes: Long,
      tier: String, addedMs: Long,
      stats: Map[String, StatsPruning.ColStats] = Map.empty)

  /** Live table state at one version. `schema` is the last schema the
    * log recorded at or before it (None for a log that predates schema
    * recording, or an empty one).
    */
  final case class Snapshot(files: Seq[FileEntry], txns: Set[Long],
      nextVersion: Long, schema: Option[StructType] = None) {
    def bufferRows: Long = files.filter(_.tier == TierBuffer).map(_.rows).sum
    def bufferBytes: Long = files.filter(_.tier == TierBuffer).map(_.bytes).sum
    def oldestBufferMs: Option[Long] =
      files.filter(_.tier == TierBuffer).map(_.addedMs).minOption
    /** Live parts holding table rows (buffer + base tiers). */
    def dataFiles: Seq[FileEntry] = files.filterNot(_.tier == TierTomb)
    /** Live tombstone parts (pending soft deletes). */
    def tombFiles: Seq[FileEntry] = files.filter(_.tier == TierTomb)
  }

  /** A set of log entries as a Spark [[FileIndex]]: the files, lengths,
    * modification times (`addedMs`) and partition values all come from
    * the log, so planning a scan lists nothing. `listFiles` applies
    * Spark's partition filters to the values, so `date` predicates prune
    * directories exactly as on an `InMemoryFileIndex`. `sizeInBytes`, the
    * logged part lengths, is what [[graft.plans.SmallReadOnePartition]]
    * sums to run an aggregate or window over a small read in one task. A
    * case class, so two reads of the same parts compare equal (cache
    * lookups match).
    */
  final case class LogFileIndex(root: Path, partitionSchema: StructType,
      files: Seq[(FileEntry, InternalRow)]) extends FileIndex {
    def rootPaths: Seq[Path] = Seq(root)
    def inputFiles: Array[String] = files.map(_._1.path).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = files.map(_._1.bytes).sum

    def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val keep: InternalRow => Boolean =
        if (partitionFilters.isEmpty) _ => true
        else {
          val pred = Predicate.createInterpreted(
            partitionFilters.reduce(And).transform {
              case a: AttributeReference =>
                val i = partitionSchema.fieldIndex(a.name)
                BoundReference(i, partitionSchema(i).dataType, nullable = true)
            })
          pred.initialize(0)
          pred.eval
        }
      files.filter(f => keep(f._2)).groupBy(_._2).toSeq.map { case (values, fs) =>
        PartitionDirectory(values, fs.map { case (f, _) =>
          FileStatusWithMetadata(
            new FileStatus(f.bytes, false, 0, 0L, f.addedMs, new Path(f.path)))
        })
      }
    }
  }

  /** Spark's name for a NULL partition value's directory. */
  val DefaultPartitionValue = "__HIVE_DEFAULT_PARTITION__"

  /** The `col=value` directories directly above a part, outermost first:
    * `…/base-<uuid>/date=2024-03-01/part-0.parquet` → (date, 2024-03-01);
    * a buffer or tombstone part has none.
    */
  private[storage] def partitionDirs(path: String): Seq[(String, String)] = {
    var out = List.empty[(String, String)]
    var cur = new Path(path).getParent
    while (cur != null && cur.getName.indexOf('=') > 0) {
      val n = cur.getName
      val eq = n.indexOf('=')
      out = (n.substring(0, eq) ->
        ExternalCatalogUtils.unescapePathName(n.substring(eq + 1))) :: out
      cur = cur.getParent
    }
    out
  }

  /** `a` with every field of `b` it lacks appended, recursively through
    * structs, arrays and maps (add-column evolution); a leaf present in
    * both with different types takes the wider one.
    */
  private[storage] def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (x: StructType, y: StructType) =>
      val ys = y.fields.map(f => f.name -> f).toMap
      StructType(x.fields.map(f => ys.get(f.name)
          .fold(f)(g => f.copy(dataType = widen(f.dataType, g.dataType)))) ++
        y.fields.filterNot(f => x.fieldNames.contains(f.name)))
    case (ArrayType(x, n), ArrayType(y, m)) => ArrayType(widen(x, y), n || m)
    case (MapType(k1, v1, n), MapType(k2, v2, m)) =>
      MapType(widen(k1, k2), widen(v1, v2), n || m)
    case _ => org.apache.spark.sql.catalyst.analysis.TypeCoercion
      .findWiderTypeForTwo(a, b).getOrElse(a)
  }

  /** `t` with every field and element nullable, as a parquet read
    * reports it.
    */
  private[storage] def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case o => o
  }
}

/** The ClickHouse Buffer engine's dual-threshold flush (tables.sql:57:
  * flush when ANY of max_time=10s / max_rows=100 / max_bytes=10KB is
  * exceeded), as a foreachBatch sink over a FactTable: every micro-batch
  * lands as buffer-tier parts (immediately queryable), and once a
  * threshold trips the buffer tier is merged into sorted day-partitioned
  * base parts. That one rewrite also merges in the newest base parts of
  * each day the buffer touches, newest first, while the next part holds
  * fewer than twice the rows gathered so far (MergeTree's background
  * merges, without a second job): a day's parts at least double in size
  * from newest to oldest, so a day of n equal flushes holds popcount(n)
  * parts.
  *
  * Neither of the small commits runs a Spark write job. A batch of at
  * most `maxRows` rows is collected in one job and written as one part on
  * the driver, through the parquet writer a Spark task uses; a larger
  * batch takes [[FactTable.append]]'s distributed write, as an insert
  * above `max_rows` bypasses a ClickHouse Buffer table. A flush whose
  * inputs' logged bytes are at most 1 MiB and
  * `spark.sql.autoBroadcastJoinThreshold` (the size Spark itself collects
  * to the driver; -1 turns it off; [[FactTable.oneTask]]) is
  * merged in one task with no shuffle and written on the driver, one
  * part per day; a larger one takes the shuffle and the write job. Use
  * from a streaming query:
  *
  * {{{
  * parsed.writeStream.foreachBatch(sink.addBatch _).start()
  * }}}
  */
class BufferedFactSink(table: FactTable, maxAgeMs: Long = 10000L,
    maxRows: Long = 100L, maxBytes: Long = 10240L) {

  def addBatch(df: DataFrame, batchId: Long): Unit = {
    table.appendBuffered(df.withColumn("date", to_date(col("timestamp"))), batchId, maxRows)
    maybeFlush()
  }

  /** Flush iff any Buffer threshold is exceeded; returns rows flushed.
    * The streaming path reclaims superseded files immediately (zero
    * retention) — a deployment wanting time travel would vacuum on its
    * own schedule instead.
    */
  def maybeFlush(nowMs: Long = System.currentTimeMillis()): Long = {
    val snap = table.snapshot()
    val trip = snap.bufferRows >= maxRows ||
      snap.bufferBytes >= maxBytes ||
      snap.oldestBufferMs.exists(nowMs - _ >= maxAgeMs)
    if (trip) { val n = table.flush(); table.vacuum(); n } else 0L
  }
}
