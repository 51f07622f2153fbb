package perfbench

/** A stored fact row, reduced to what the checks compare. */
final case class DownRow(channelId: Int, frequency: Float, modulation: String,
    power: Float, snr: Float, corrected: Long, uncorrected: Long)
final case class UpRow(channelId: Int, frequency: Float, modulation: String,
    power: Float, width: Float)
final case class StoredRow(uptime: Long, tsMicros: Long, config: String,
    version: String, down: Seq[DownRow], up: Seq[UpRow])

/** Dashboard read results in plain form. */
final case class ChannelStats(channelId: Int, avgSnr: Double, minSnr: Float, n: Long)
final case class WindowStats(windowStartMicros: Long, modem: String, channelId: Int,
    avgSnr: Double, minSnr: Float, sumUncorrected: Long)

/** Reference results computed in plain Scala from the generator, and the
  * comparisons that decide whether an operation failed. Every check
  * returns the problems it found; an empty list means the output is right.
  */
object Check {
  val Modem = "MB8600"

  def expectedDown(s: Scrape): Seq[DownRow] = s.down.map(d =>
    DownRow(d.channelId, d.frequencyHz, d.modulation, d.powerDb, d.snrDb,
      d.corrected, d.uncorrected))

  def expectedUp(s: Scrape): Seq[UpRow] = s.up.map(u =>
    UpRow(u.channelId, u.frequencyHz, u.modulation, u.powerDb, u.widthHz))

  /** The rows `Pipeline.fill` of polls 0 until n hands to the sink. */
  def filledRows(gen: ModemGenerator, n: Int): Seq[StoredRow] =
    (0 until n).map { k =>
      val s = gen.scrape(k)
      StoredRow(s.uptimeSeconds,
        (Pipeline.FillEpochMs + 1000L * ModemGenerator.PollSeconds * k) * 1000L,
        gen.configFile, gen.version, expectedDown(s), expectedUp(s))
    }

  /** Problems with one stored row against the scrape its uptime names. */
  def row(gen: ModemGenerator, r: StoredRow): Seq[String] = {
    val slot = gen.slotOfUptime(r.uptime)
    if (slot < 0 || gen.uptimeBase + ModemGenerator.PollSeconds * slot != r.uptime)
      return Seq(s"uptime ${r.uptime} names no scrape")
    val s = gen.scrape(slot)
    Seq(
      Option.when(r.config != gen.configFile)(s"slot $slot: config ${r.config}"),
      Option.when(r.version != gen.version)(s"slot $slot: version ${r.version}"),
      Option.when(r.down.size != s.down.size)(
        s"slot $slot: ${r.down.size} downstream channels, expected ${s.down.size}"),
      Option.when(r.up.size != s.up.size)(
        s"slot $slot: ${r.up.size} upstream channels, expected ${s.up.size}"),
      Option.when(r.down != expectedDown(s))(s"slot $slot: downstream values differ"),
      Option.when(r.up != expectedUp(s))(s"slot $slot: upstream values differ")
    ).flatten
  }

  /** Problems with a table that should hold exactly scrapes 0 until
    * `committed`, one row each, with distinct scrape timestamps.
    * Returns (problem rows or missing scrapes, descriptions).
    */
  def ingest(gen: ModemGenerator, rows: Seq[StoredRow], committed: Int): (Int, Seq[String]) = {
    val bySlot = rows.groupBy(r => gen.slotOfUptime(r.uptime))
    val missing = (0 until committed).filterNot(bySlot.contains)
    val extra = bySlot.keys.filter(k => k < 0 || k >= committed).toSeq.sorted
    val dup = bySlot.collect { case (k, rs) if rs.size > 1 => k }.toSeq.sorted
    val bad = rows.map(r => row(gen, r)).filter(_.nonEmpty)
    val tsDup = rows.size - rows.map(_.tsMicros).distinct.size
    val problems =
      Option.when(missing.nonEmpty)(s"missing scrapes ${missing.take(5)}").toSeq ++
        Option.when(extra.nonEmpty)(s"uncommitted scrapes stored ${extra.take(5)}") ++
        Option.when(dup.nonEmpty)(s"scrapes stored twice ${dup.take(5)}") ++
        Option.when(tsDup > 0)(s"$tsDup repeated scrape timestamps") ++
        bad.flatten.take(5)
    (missing.size + extra.size + dup.size + bad.size + tsDup, problems)
  }

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  /** Per-channel SNR rollup over `slots`. */
  def rollupRef(gen: ModemGenerator, slots: Seq[Int]): Seq[ChannelStats] =
    slots.flatMap(k => expectedDown(gen.scrape(k))).groupBy(_.channelId).toSeq
      .map { case (ch, ds) =>
        ChannelStats(ch, ds.map(_.snr.toDouble).sum / ds.size, ds.map(_.snr).min, ds.size.toLong)
      }.sortBy(_.channelId)

  def rollup(got: Seq[ChannelStats], ref: Seq[ChannelStats]): Seq[String] = {
    val g = got.sortBy(_.channelId)
    if (g.map(_.channelId) != ref.map(_.channelId))
      Seq(s"rollup channels ${g.map(_.channelId)} vs ${ref.map(_.channelId)}")
    else g.zip(ref).collect {
      case (a, b) if !close(a.avgSnr, b.avgSnr) || a.minSnr != b.minSnr || a.n != b.n =>
        s"rollup channel ${a.channelId}: $a vs $b"
    }
  }

  /** Per-minute, per-channel SNR over stored rows (their own timestamps). */
  def windowRef(gen: ModemGenerator, rows: Seq[StoredRow]): Seq[WindowStats] =
    rows.flatMap { r =>
      val start = Math.floorDiv(r.tsMicros, 60000000L) * 60000000L
      expectedDown(gen.scrape(gen.slotOfUptime(r.uptime))).map(d => (start, d))
    }.groupBy { case (start, d) => (start, d.channelId) }.toSeq
      .map { case ((start, ch), xs) =>
        val ds = xs.map(_._2)
        WindowStats(start, Modem, ch, ds.map(_.snr.toDouble).sum / ds.size,
          ds.map(_.snr).min, ds.map(_.uncorrected).sum)
      }.sortBy(w => (w.windowStartMicros, w.channelId))

  def windows(got: Seq[WindowStats], ref: Seq[WindowStats]): Seq[String] = {
    val g = got.sortBy(w => (w.windowStartMicros, w.channelId))
    if (g.map(w => (w.windowStartMicros, w.modem, w.channelId)) !=
        ref.map(w => (w.windowStartMicros, w.modem, w.channelId)))
      Seq(s"window keys differ: ${g.size} rows vs ${ref.size}")
    else g.zip(ref).collect {
      case (a, b) if !close(a.avgSnr, b.avgSnr) || a.minSnr != b.minSnr ||
          a.sumUncorrected != b.sumUncorrected => s"window $a vs $b"
    }
  }

  /** A recent-window read must return exactly the stored rows at or after
    * `fromMicros`, each matching its scrape.
    */
  def recent(gen: ModemGenerator, got: Seq[StoredRow], stored: Seq[StoredRow],
      fromMicros: Long): Seq[String] = {
    val want = stored.filter(_.tsMicros >= fromMicros).map(_.uptime).sorted
    val have = got.map(_.uptime).sorted
    Option.when(want != have)(s"recent read returned ${have.size} rows, expected ${want.size}")
      .toSeq ++ got.flatMap(r => row(gen, r)).take(5)
  }
}
