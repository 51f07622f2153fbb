package perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import graft.sources.HnapAuth

/** One downstream channel as the modem reports it: the wire strings, plus
  * the values the program's parser must store for them.
  */
final case class Down(channelId: Int, modulation: String, freqMhz: String,
    power: String, snr: String, corrected: Long, uncorrected: Long) {
  def wire(index: Int): String =
    s"$index^Locked^$modulation^$channelId^$freqMhz^$power^$snr^$corrected^$uncorrected^"
  def frequencyHz: Float = (freqMhz.trim.toDouble * 1e6).toFloat
  def powerDb: Float = power.trim.toDouble.toFloat
  /** The OFDM PLC correction: x2.5 iff PLC and the raw SNR is below 20. */
  def snrDb: Float = {
    val raw = snr.trim.toDouble
    (if (modulation == "OFDM PLC" && raw < 20.0) raw * 2.5 else raw).toFloat
  }
}

final case class Up(channelId: Int, modulation: String, widthKhz: String,
    freqMhz: String, power: String) {
  def wire(index: Int): String =
    s"$index^Locked^$modulation^$channelId^$widthKhz^$freqMhz^$power^"
  def frequencyHz: Float = (freqMhz.trim.toDouble * 1e6).toFloat
  def powerDb: Float = power.trim.toDouble.toFloat
  def widthHz: Float = (widthKhz.trim.toDouble * 1000).toFloat
}

/** One poll of the modem. `expired` polls first answer with a non-OK
  * result, which sends the source through its re-login path.
  */
final case class Scrape(slot: Int, expired: Boolean, uptimeSeconds: Long,
    down: Seq[Down], up: Seq[Up])

/** Seeded MB8600: 32 SC-QAM plus 1-2 OFDM PLC downstream channels and 4-8
  * upstream channels. PLC rows report raw SNRs mostly below 20 dB (the
  * parser's correction path), some counters sit near 2^31 and wrap
  * negative as they grow, and a fixed share of polls find the session
  * expired. Scrape `k` is a pure function of (seed, k); uptime grows by the
  * 10 s poll interval, so a stored row's uptime names its slot.
  */
final class ModemGenerator(val seed: Long) {
  import ModemGenerator._

  private val plan = new SplittableRandom(seed)
  val plcChannels: Int = 1 + plan.nextInt(2)
  val upChannels: Int = 4 + plan.nextInt(5)
  val uptimeBase: Long = 86400L + plan.nextInt(40 * 86400)
  val configFile: String = f"cfg-8600-${plan.nextInt(1000)}%03d.bin"
  val version: String = "8600-19.3." + (10 + plan.nextInt(20))
  // per-channel counter bases; every fourth SC-QAM channel starts close
  // enough to Int.MaxValue that it wraps negative within a run
  private val corrBase = Array.tabulate(ScQam + 2) { i =>
    if (i % 4 == 3) Int.MaxValue.toLong - plan.nextInt(20000)
    else plan.nextInt(1 << 20).toLong
  }
  private val corrRate = Array.fill(ScQam + 2)(1L + plan.nextInt(400))
  private val uncorrBase = Array.fill(ScQam + 2)(plan.nextInt(5000).toLong)
  private val scSnr = Array.fill(ScQam)(34.0 + plan.nextInt(90) / 10.0)
  private val scPower = Array.fill(ScQam)(-4.0 + plan.nextInt(120) / 10.0)
  private val upPower = Array.fill(8)(40.0 + plan.nextInt(100) / 10.0)

  /** The wrapped signed 32-bit counter the modem reports. */
  private def counter(base: Long, rate: Long, k: Int): Long =
    (base + rate * k).toInt.toLong

  def scrape(k: Int): Scrape = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + k)
    val expired = r.nextDouble() < ExpiredShare
    val sc = (0 until ScQam).map { i =>
      Down(channelId = 1 + i, modulation = "QAM256",
        freqMhz = fmt(483.0 + 6.0 * i),
        power = pad(scPower(i) + (r.nextInt(7) - 3) / 10.0),
        snr = fmt(scSnr(i) + (r.nextInt(7) - 3) / 10.0),
        corrected = counter(corrBase(i), corrRate(i), k),
        uncorrected = counter(uncorrBase(i), 1L, k / 7))
    }
    val plc = (0 until plcChannels).map { j =>
      // one poll in ten reports a PLC SNR at or above the 20 dB cut-off
      val raw = if (r.nextInt(10) == 0) 20.0 + r.nextInt(30) / 10.0
        else 14.0 + r.nextInt(59) / 10.0
      Down(channelId = 33 + j, modulation = "OFDM PLC",
        freqMhz = fmt(722.0 + 128.0 * j), power = pad(2.0 + j),
        snr = fmt(raw),
        corrected = counter(corrBase(ScQam + j), corrRate(ScQam + j), k),
        uncorrected = counter(uncorrBase(ScQam + j), 3L, k))
    }
    val up = (0 until upChannels).map { i =>
      val ofdma = i == upChannels - 1 && upChannels > 4
      Up(channelId = 1 + i, modulation = if (ofdma) "OFDMA" else "SC-QAM",
        widthKhz = if (ofdma) "96000" else if (i % 2 == 0) "6400" else "3200",
        freqMhz = fmt(16.4 + 6.4 * i),
        power = fmt(upPower(i) + (r.nextInt(5) - 2) / 10.0))
    }
    Scrape(k, expired, uptimeBase + PollSeconds * k, sc ++ plc, up)
  }

  def slotOfUptime(uptime: Long): Int = ((uptime - uptimeBase) / PollSeconds).toInt

  def payload(s: Scrape): String = {
    val t = s.uptimeSeconds
    val uptime = f"${t / 86400} days ${t % 86400 / 3600}%02dh:${t % 3600 / 60}%02dm:${t % 60}%02ds"
    val down = s.down.zipWithIndex.map { case (d, i) => d.wire(i + 1) }.mkString("|+|")
    val up = s.up.zipWithIndex.map { case (u, i) => u.wire(i + 1) }.mkString("|+|")
    s"""{"GetMultipleHNAPsResponse": {"GetMultipleHNAPsResult": "OK", """ +
      s""""GetMotoStatusStartupSequenceResponse": {"MotoConnConfigurationFileComment": "$configFile"}, """ +
      s""""GetMotoStatusConnectionInfoResponse": {"MotoConnSystemUpTime": "$uptime"}, """ +
      s""""GetMotoStatusDownstreamChannelInfoResponse": {"MotoConnDownstreamChannel": "$down"}, """ +
      s""""GetMotoStatusUpstreamChannelInfoResponse": {"MotoConnUpstreamChannel": "$up"}, """ +
      s""""GetMotoStatusSoftwareResponse": {"StatusSoftwareSfVer": "$version"}}}"""
  }
}

object ModemGenerator {
  val ScQam = 32
  val PollSeconds = 10L
  /** Share of polls that find the session expired. */
  val ExpiredShare = 0.05
  val ExpiredReply: String =
    """{"GetMultipleHNAPsResponse": {"GetMultipleHNAPsResult": "UN-AUTH"}}"""

  private def fmt(x: Double): String = String.format(java.util.Locale.ROOT, "%.1f", Double.box(x))
  /** Width-padded like the modem's power column ("^ 3.4^"). */
  private def pad(x: Double): String = String.format(java.util.Locale.ROOT, "%4.1f", Double.box(x))
}

/** The modem side of the HNAP exchange, serving the generator's polls in
  * slot order from `firstSlot` and counting what the source asks for. An
  * expired slot is answered non-OK once; the source's retry after re-login
  * gets its data, so the k-th OK poll is always slot `firstSlot + k`.
  */
final class FakeModem(gen: ModemGenerator, tracer: Tracer, firstSlot: Int = 0)
    extends HnapAuth.Transport {
  val posts = new AtomicLong
  val logins = new AtomicLong
  val expiredReplies = new AtomicLong
  private var slot = firstSlot
  private var expiryServed = false

  /** Polls served with data. */
  def served: Int = synchronized(slot - firstSlot)

  def post(headers: Map[String, String], cookies: Map[String, String],
      body: String): String = synchronized {
    posts.incrementAndGet()
    if (body.contains("\"request\""))
      """{"LoginResponse": {"Challenge": "C0FFEE", "Cookie": "uid-1", "PublicKey": "PK-8600"}}"""
    else if (body.contains("\"login\"")) {
      logins.incrementAndGet()
      """{"LoginResponse": {"LoginResult": "OK"}}"""
    } else tracer.span("sources.poll", slot) {
      val s = gen.scrape(slot)
      if (s.expired && !expiryServed) {
        expiryServed = true
        expiredReplies.incrementAndGet()
        ModemGenerator.ExpiredReply
      } else {
        slot += 1
        expiryServed = false
        gen.payload(s)
      }
    }
  }
}
