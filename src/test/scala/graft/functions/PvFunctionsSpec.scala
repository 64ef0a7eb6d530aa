package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Parity fixtures harvested by executing the reference formulas
  * (util.py:427-491 hformat, archiver.py:25-32 hashname, util.py:372-388
  * time_str2sec) on the documented examples.
  */
class PvFunctionsSpec extends AnyFunSuite {

  test("hformat matches the reference on docstring + edge cases") {
    val cases = Seq(
      (99999995.2, 11) -> " 99999995.2",
      (100000005.2, 11) -> "  100000005",
      (1.1e-9, 10) -> " 1.100e-09",
      (3.14159265358979, 10) -> " 3.1415927",
      (3.14159265358979, 14) -> " 3.14159265359",
      (-2.5e-8, 10) -> "-2.500e-08",
      (0.0, 10) -> " 0.0000",
      (-0.0, 10) -> "-0.0000",
      (123456.789, 10) -> " 123456.79",
      (1e120, 12) -> " 1.0000e+120",
      (-1e-120, 12) -> "-1.0000e-120",
      (42.0, 7) -> " 42.",
      (42.0, 5) -> " 42.", // length clamps up to 7
      (0.001, 11) -> " 1.0000e-03",
      (0.0001, 11) -> " 1.0000e-04",
      (185.22, 12) -> " 185.2200",
      (-9999999.9, 10) -> "-9999999.9",
      (6.02e23, 10) -> " 6.020e+23",
      (1.0, 10) -> " 1.0000")
    cases.foreach { case ((v, l), want) =>
      assert(PvFunctions.hformat(v, l) == want, s"hformat($v, $l)")
    }
  }

  test("hformat matches 500 fuzzed reference outputs (hformat_cases.tsv)") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/hformat_cases.tsv"))
    try {
      src.getLines().foreach { line =>
        val Array(v, l, want) = line.split("\t", 3)
        assert(PvFunctions.hformat(v.toDouble, l.toInt) == want, s"hformat($v, $l)")
      }
    } finally src.close()
  }

  test("hashname matches the reference sha256-base64-charsum buckets") {
    val cases = Seq(
      "S13BMA:cc1.VAL" -> 29,
      "XXX:m1.VAL" -> 65,
      "PA:13ID:Q01:00.VAL" -> 83,
      "a" -> 32,
      "some.long:pv.name_with-stuff.VAL" -> 93)
    cases.foreach { case (n, want) => assert(PvFunctions.hashname(n) == want, n) }
    assert(PvFunctions.dataTable("XXX:m1.VAL") == "pvdat066")
  }

  test("timeStr2Sec parses lenient formats") {
    val today = 1705276800L // 2024-01-15T00:00:00Z
    assert(PvFunctions.timeStr2Sec("2024-01-08 12:30:15", today) == 1704717015L)
    assert(PvFunctions.timeStr2Sec("2024-01-08_12:30:15", today) == 1704717015L)
    assert(PvFunctions.timeStr2Sec("2024-01-08", today) == 1704672000L)
    // time-only defaults the date to "today"
    assert(PvFunctions.timeStr2Sec("06:30", today) == today + 6 * 3600 + 30 * 60)
    // missing seconds default to 0
    assert(PvFunctions.timeStr2Sec("2024/01/08 12:30", today) == 1704717000L)
  }

  test("parseTimes resolves relative and absolute ranges (web_utils.py:31-90)") {
    val now = 1705276800L // 2024-01-15
    assert(PvFunctions.parseTimes("3 days", "now", now) == (now - 3 * 86400L, now))
    assert(PvFunctions.parseTimes("1.5 hours", "", now) == (now - 5400L, now))
    // reference accepts no-space forms and falls back to 1 week on junk
    assert(PvFunctions.parseTimes("1week", "now", now) == (now - 604800L, now))
    assert(PvFunctions.parseTimes("3 months", "now", now) == (now - 604800L, now))
    assert(PvFunctions.parseTimes("garbage", "now", now) == (now - 604800L, now))
    assert(PvFunctions.parseTimes("2024-01-08 06:00:00", "2024-01-09", now) ==
      (1704693600L, 1704758400L))
  }

  test("timeAgoSeconds uses the reference unit table") {
    assert(PvFunctions.timeAgoSeconds(3, "days") == 3 * 86400L)
    assert(PvFunctions.timeAgoSeconds(1.5, "hours") == 5400L)
    assert(PvFunctions.timeAgoSeconds(2, "weeks") == 2 * 604800L)
    assert(PvFunctions.timeAgoSeconds(1, "year") == 31536000L)
    intercept[IllegalArgumentException](PvFunctions.timeAgoSeconds(1, "fortnight"))
  }

  test("forceUpdateSeconds lands in [13h, 21h)") {
    val rng = new scala.util.Random(42)
    (1 to 100).foreach { _ =>
      val s = PvFunctions.forceUpdateSeconds(rng)
      assert(s >= 13 * 3600 && s < 21 * 3600)
    }
  }

  test("mailTemplate interpolates incl. nested %PV(name)% lookups, 'unknown' fallback") {
    val out = PvFunctions.mailTemplate(
      msg = "ALERT %PV%=%VALUE% (%LABEL%): %COMP% %TRIP%\nother=%PV(XX:other.VAL)% missing=%PV(nope)%",
      pvname = "XX:m1.VAL", value = "3.2", label = "Motor1", comp = "greater than", trip = "3.0",
      lookup = n => if (n == "XX:other.VAL") Some("42") else None)
    assert(out == "ALERT XX:m1.VAL=3.2 (Motor1): greater than 3.0\nother=42 missing=unknown")
    // the 25-substitution cap is per line (cache.py:672-683)
    val many = (1 to 30).map(i => s"%PV(p$i)%").mkString(" ")
    val twoLines = PvFunctions.mailTemplate(s"$many\n$many", "p", "v", "l", "c", "t", _ => Some("x"))
    val Array(l1, l2) = twoLines.split("\n")
    assert(l1.count(_ == 'x') == 25 && l2.count(_ == 'x') == 25)
  }

  test("timeStr2Sec fills partial dates from the right (util.py:375-388)") {
    val today = 1705276800L // 2024-01-15
    assert(PvFunctions.timeStr2Sec("2-14 10:00:00", today) ==
      java.time.LocalDateTime.of(2024, 2, 14, 10, 0, 0).toEpochSecond(java.time.ZoneOffset.UTC))
    assert(PvFunctions.timeStr2Sec("14 08:30:00", today) ==
      java.time.LocalDateTime.of(2024, 1, 14, 8, 30, 0).toEpochSecond(java.time.ZoneOffset.UTC))
  }
}
