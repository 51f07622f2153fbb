package perfbench

import graft.sources.HnapAuth

/** Checks of the benchmark's own parts that need no Spark session: the
  * generator is a pure function of its seed, the fake modem drives the
  * source's re-login path, and the output checks reject perturbed
  * results. Exits non-zero if any check fails.
  *
  * {{{
  * java -cp <test-classes>:<classes>:<spark jars>/\* perfbench.SelfTest
  * }}}
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    test("same seed gives byte-identical payloads") {
      val a = new ModemGenerator(42)
      val b = new ModemGenerator(42)
      (0 until 300).foreach { k =>
        expect(java.util.Arrays.equals(a.payload(a.scrape(k)).getBytes("UTF-8"),
          b.payload(b.scrape(k)).getBytes("UTF-8")), s"slot $k differs")
        expect(a.scrape(k).expired == b.scrape(k).expired, s"slot $k expiry differs")
      }
    }

    test("different seeds give different payloads") {
      val a = new ModemGenerator(42)
      val b = new ModemGenerator(43)
      expect((0 until 20).forall(k => a.payload(a.scrape(k)) != b.payload(b.scrape(k))),
        "a payload repeats across seeds")
    }

    test("payloads have the MB8600 shape and its edge cases") {
      (1 to 20).foreach { seed =>
        val g = new ModemGenerator(seed)
        val scrapes = (0 until 400).map(g.scrape)
        scrapes.foreach { s =>
          expect(s.down.count(_.modulation == "QAM256") == 32, "32 SC-QAM channels")
          val plc = s.down.count(_.modulation == "OFDM PLC")
          expect(plc >= 1 && plc <= 2, s"$plc PLC channels")
          expect(s.up.size >= 4 && s.up.size <= 8, s"${s.up.size} upstream channels")
        }
        val plcRaw = scrapes.flatMap(_.down.filter(_.modulation == "OFDM PLC")).map(_.snr.toDouble)
        expect(plcRaw.exists(_ < 20.0) && plcRaw.exists(_ >= 20.0), "PLC SNR both sides of 20 dB")
        expect(scrapes.exists(_.down.exists(_.corrected < 0)), "a wrapped negative counter")
        val expired = scrapes.count(_.expired).toDouble / scrapes.size
        expect(expired > 0.01 && expired < 0.12, s"expired share $expired")
      }
    }

    test("fake modem answers an expired session once, then serves the slot") {
      val gen = new ModemGenerator(7)
      val modem = new FakeModem(gen, Tracer.Off)
      val firstExpired = (0 until 400).find(k => gen.scrape(k).expired).get
      val session = HnapAuth.login(modem, "admin", "motorola", 0L).toOption.get
      (0 until firstExpired).foreach(_ => HnapAuth.scrape(modem, session, 0L))
      expect(HnapAuth.scrape(modem, session, 0L) == ModemGenerator.ExpiredReply,
        "expired slot answers non-OK")
      val again = HnapAuth.login(modem, "admin", "motorola", 0L).toOption.get
      expect(HnapAuth.scrape(modem, again, 0L) == gen.payload(gen.scrape(firstExpired)),
        "retry after re-login gets the expired slot's data")
      expect(modem.served == firstExpired + 1, s"served ${modem.served}")
      expect(modem.expiredReplies.get == 1 && modem.logins.get == 2, "counted one re-login")
    }

    test("fake modem serves from its first slot") {
      val gen = new ModemGenerator(9)
      val modem = new FakeModem(gen, Tracer.Off, 40)
      val session = HnapAuth.login(modem, "admin", "motorola", 0L).toOption.get
      val first = HnapAuth.scrape(modem, session, 0L)
      val served = if (first == ModemGenerator.ExpiredReply) {
        val again = HnapAuth.login(modem, "admin", "motorola", 0L).toOption.get
        HnapAuth.scrape(modem, again, 0L)
      } else first
      expect(served == gen.payload(gen.scrape(40)), "first poll is slot 40")
      expect(modem.served == 1, s"served ${modem.served}")
    }

    val gen = new ModemGenerator(5)
    val rows = Check.filledRows(gen, 30)

    test("ingest check accepts a correct table") {
      val (bad, problems) = Check.ingest(gen, rows, 30)
      expect(bad == 0 && problems.isEmpty, problems.mkString("; "))
    }

    test("ingest check rejects one mutated row") {
      val r = rows(13)
      val d = r.down(4).copy(snr = r.down(4).snr + 0.1f)
      val mutated = rows.updated(13, r.copy(down = r.down.updated(4, d)))
      val (bad, problems) = Check.ingest(gen, mutated, 30)
      expect(bad == 1 && problems.exists(_.contains("slot 13")), s"$bad ${problems.mkString("; ")}")
    }

    test("ingest check rejects one dropped scrape") {
      val (bad, problems) = Check.ingest(gen, rows.patch(7, Nil, 1), 30)
      expect(bad == 1 && problems.exists(_.contains("missing")), s"$bad ${problems.mkString("; ")}")
    }

    test("ingest check rejects a repeated scrape timestamp") {
      val (bad, _) = Check.ingest(gen, rows.updated(3, rows(3).copy(tsMicros = rows(2).tsMicros)), 30)
      expect(bad == 1, s"$bad")
    }

    test("dashboard checks reject perturbed reads") {
      val ref = Check.rollupRef(gen, 0 until 30)
      expect(Check.rollup(ref, ref).isEmpty, "rollup equals itself")
      val r2 = ref.updated(2, ref(2).copy(n = ref(2).n - 1))
      expect(Check.rollup(r2, ref).nonEmpty, "rollup with a dropped row accepted")
      val w = Check.windowRef(gen, rows)
      expect(Check.windows(w.reverse, w).isEmpty, "window order must not matter")
      val w2 = w.updated(0, w.head.copy(minSnr = w.head.minSnr - 1))
      expect(Check.windows(w2, w).nonEmpty, "mutated window accepted")
      val from = rows(24).tsMicros
      val recent = rows.filter(_.tsMicros >= from)
      expect(Check.recent(gen, recent, rows, from).isEmpty, "correct recent read rejected")
      expect(Check.recent(gen, recent.tail, rows, from).nonEmpty, "recent read missing a row accepted")
    }

    test("stats helpers") {
      expect(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "median")
      expect(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0, "quantile interpolates")
      expect(Stats.growth((1 to 20).map(_.toDouble)) == 18.5 / 2.5, "growth")
      val alternating = (1 to 25).map(i => if (i % 2 == 0) 3.0 else 1.0)
      expect(Stats.growth(alternating) == 1.0, "growth of two alternating modes")
      expect(Stats.pairMedian(Seq(1.0, 3.0, 1.0, 5.0, 1.0, 3.0, 9.0)) == 2.0,
        "pair median drops the unpaired tail")
    }

    if (failures > 0) sys.exit(1)
  }
}
