package graft.functions

import java.security.MessageDigest
import java.util.Base64

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar function pack — SURVEY.md §2.7 F1–F15, reimplemented from the
  * reference's documented behavior (citations into /root/reference).
  *
  * Everything that a built-in Spark expression can express is a `Column`
  * function (codegen'd, pushdown-friendly); only the genuinely bespoke
  * formats (`hformat`, `hashname`, lenient time parse) are Scala functions
  * exposed as UDFs via [[GraftUdfs]].
  */
object PvFunctions {

  /** F1 `normalize_pvname` (util.py:325-333): clean, and append ".VAL" when the
    * name has no field suffix.
    */
  def normalizePvName(c: Column): Column = {
    val cleaned = trim(cleanString(c))
    when(cleaned.contains("."), cleaned).otherwise(concat(cleaned, lit(".VAL")))
  }

  /** F2 `clean_string`/`clean_bytes` (util.py:295-314): strip everything
    * from the first `;` or `#` (SQL-injection guard; plain substring find in
    * the reference, so DOTALL — the tail may span newlines), then trim.
    * The reference's `maxlen` parameter is accepted but never applied
    * (util.py:295-309), so no truncation here either.
    */
  def cleanString(c: Column): Column =
    trim(regexp_replace(c, "(?s)[;#].*", ""))

  /** F3 `clean_value` (archiver.py:34-44): stored string → double, recovering
    * mangled `b'1.23'` byte-literal relics; null when non-numeric (try_cast —
    * ANSI mode would otherwise throw on the first string PV).
    */
  def cleanValue(c: Column): Column =
    regexp_replace(c, "^b'(.*)'$", "$1").try_cast("double")

  /** F5 `tformat` (util.py:364-370): epoch seconds → `%Y-%b-%d %H:%M:%S`. */
  def tformat(epochSec: Column): Column =
    date_format(timestamp_seconds(epochSec), "yyyy-MMM-dd HH:mm:ss")

  /** F8 `ts2iso` (web_utils.py:24-29): epoch → ISO with milliseconds.
    * Deliberate divergence: the reference ROUNDS the fractional part
    * (`round(tfrac*1000)`), which emits a malformed ".1000" field for
    * timestamps within 0.5 ms below a whole second; this truncates, which
    * every SQL engine's formatter agrees on and never exceeds ".999".
    */
  def ts2iso(epochMicros: Column): Column =
    date_format(timestamp_micros(epochMicros), "yyyy-MM-dd HH:mm:ss.SSS")

  /** F9 `chararray_as_string` (web_utils.py:93-110): int-array waveform →
    * ASCII string up to the first NUL.
    */
  def charArrayAsString(arr: Column): Column = {
    val upToNul = when(array_position(arr, 0) > 0, slice(arr, lit(1), (array_position(arr, 0) - 1).cast("int")))
      .otherwise(arr)
    concat_ws("", transform(upToNul, i => char(i)))
  }

  /** F10 enum decode (cache.py:171-178): enum ordinal → label through a
    * per-key label map (`labels` is a `MapType(String, ArrayType(String))`
    * column, normally from a broadcast dimension).
    */
  def enumLabel(labels: Column, key: Column, ordinal: Column): Column = {
    // try_element_at + try_cast: under Spark 4's default ANSI mode the
    // strict forms THROW on a missing key / out-of-range ordinal /
    // non-integral ordinal string, aborting the whole query for one stale
    // sample — the reference (cache.py:171-178) degrades to null/raw.
    // The index is nulled below 1 because ElementAt is NOT try-safe there:
    // index 0 throws INVALID_INDEX_OF_ZERO even in the try form, and a
    // negative index silently resolves end-relative (ordinal -2 would
    // return the LAST label instead of nothing)
    val idx = ordinal.try_cast("int") + 1
    try_element_at(try_element_at(labels, key), when(idx >= 1, idx))
  }

  /** pvextra enum-label storage (cache.py:196-206): the JSON list of labels
    * per PV parsed into `array<string>` — build the F10 map with
    * `map_from_entries(collect_list(struct(pvname, parseEnumLabels(data))))`
    * over the pvextra dimension and broadcast it.
    */
  def parseEnumLabels(json: Column): Column =
    from_json(json, org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType))

  /** F12 `timehash` (util.py:357-362): `hex(int(10000*t))[2:-1]` — the hex
    * digits of 0.1-ms-resolution time, minus the LAST digit (a py2 artifact
    * the reference ships), giving a ~1.6 ms-resolution tag. Accepts
    * fractional epoch seconds.
    */
  def timehash(epochSec: Column): Column = {
    val h = lower(hex((epochSec * 10000).cast("long")))
    h.substr(lit(1), length(h) - 1)
  }

  /** F13 yes/no formatter (web/WebStatus.py:87-94): `int(float(val))` is 0
    * → No, 1 → Yes, anything else INCLUDING unparseable → Unknown (the
    * reference's ValueError path). try_cast, not cast: ANSI mode would
    * throw on the first non-numeric value and abort the query.
    */
  def yesNo(c: Column): Column = {
    val d = c.try_cast("double")
    val i = when(d.isNotNull && !isnan(d) &&
      d >= Int.MinValue.toDouble && d <= Int.MaxValue.toDouble, d.cast("int"))
    when(i === 0, lit("No")).when(i === 1, lit("Yes")).otherwise(lit("Unknown"))
  }

  /** P5 pvname charset whitelist (util.py:325-326). */
  def validPvName(c: Column): Column = c.rlike("^[a-zA-Z0-9_:.\\[\\]();<>{}+=#-]+$")

  // ---------------------------------------------------------------------------
  // Driver-side (pure Scala) versions — used by UDFs, ingest normalization and
  // tests. These must match the reference bit-for-bit (parity fixtures).
  // ---------------------------------------------------------------------------

  /** F11 `hashname` (archiver.py:25-32): sha256(name) → base64 → sum of char
    * codes mod 128. Selects the hash bucket (reference: 1 of 128 data tables;
    * here: the `bucket` partition column of the sample store). Called per
    * ingested row from [[graft.plans.HashNameExpr]]'s generated code, so the
    * digest instance is thread-local rather than re-created per call
    * (`digest()` resets it for reuse).
    */
  private val sha256 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("SHA-256")
  }

  def hashname(name: String): Int = {
    val digest = sha256.get().digest(name.getBytes("UTF-8"))
    val b64 = Base64.getEncoder.encodeToString(digest)
    b64.map(_.toInt).sum % 128
  }

  /** Reference data-table name for a bucket (archiver.py:269). */
  def dataTable(name: String): String = f"pvdat${hashname(name) + 1}%03d"

  /** F4 `hformat` (util.py:427-491): fixed-width '%g'-like float format —
    * exact requested length, leading blank for positives, f/e switch at the
    * documented precision boundaries, and the trailing-"000" trim.
    */
  def hformat(value: Double, length: Int = 10): String = {
    val len = math.max(length, 7)
    if (value.isNaN) return pad("nan", len)
    if (value.isInfinity) return pad(if (value > 0) "inf" else "-inf", len)
    val expon: Int = {
      val l = math.log10(math.abs(value))
      if (l.isInfinite || l.isNaN) 0 else l.toInt // toInt truncates toward 0, like Python int()
    }
    var form = 'e'
    var prec = len - 7
    if (math.abs(expon) > 99) prec -= 1
    else if ((expon > 0 && expon < prec + 6) || (expon <= 0 && -expon < prec - 1)) {
      form = 'f'
      prec += 4
      if (expon > 0) prec = math.max(0, prec - expon)
    }
    // len=7 with a 3-digit exponent drives prec to -1; the reference crashes
    // there (a '%.-1e' format spec) — clamp to 0 instead of aborting a
    // whole export for one extreme value (output may exceed len by one)
    prec = math.max(prec, 0)
    var out = formatPy(value, len, prec, form)
    if (out.length > len) out = out.substring(0, len)
    if (out.endsWith("000")) out = out.dropRight(3)
    out
  }

  /** Python `'{0: L.Pf}'`/`'{0: L.Pe}'` equivalent: space sign flag, width,
    * precision; lowercase 'e' with ≥2-digit exponent. Implemented on exact
    * BigDecimal arithmetic with HALF_EVEN — Python rounds the exact binary
    * value half-even, whereas Java's Formatter rounds the SHORTEST decimal
    * repr half-up, which differs in the last digit (e.g. %.8f of
    * 573979.652623395).
    */
  private def formatPy(v: Double, width: Int, prec: Int, form: Char): String = {
    val negZero = v == 0.0 && 1.0 / v < 0
    val body =
      if (form == 'f') {
        if (v == 0.0) {
          val z = java.math.BigDecimal.ZERO.setScale(prec).toPlainString
          if (negZero) "-" + z else z
        } else
          new java.math.BigDecimal(v)
            .setScale(prec, java.math.RoundingMode.HALF_EVEN).toPlainString
      } else { // 'e'
        if (v == 0.0) {
          val z = if (prec > 0) "0." + ("0" * prec) else "0"
          (if (negZero) "-" else "") + z + "e+00"
        } else {
          val exact = new java.math.BigDecimal(math.abs(v))
          val r = exact.round(new java.math.MathContext(prec + 1, java.math.RoundingMode.HALF_EVEN))
          val e = r.precision - r.scale - 1
          val mantissa = r.movePointLeft(e).setScale(prec) // exact: ≤ prec+1 sig digits
          val es = f"$e%+03d"
          (if (v < 0) "-" else "") + mantissa.toPlainString + "e" + es
        }
      }
    // Python's ' ' flag: blank for non-negative, '-' kept for negatives
    // INCLUDING -0.0 (which `v >= 0` would misclassify)
    val signed = if (!body.startsWith("-")) " " + body else body
    pad(signed, width)
  }

  private def pad(s: String, width: Int): String =
    if (s.length >= width) s else (" " * (width - s.length)) + s

  /** F6 `time_str2sec` (util.py:375-388): lenient `Y-m-d H:M:S` parse.
    * Partial DATES fill from the RIGHT against "today" — one component is
    * the DAY, two are MONTH-DAY, three are Y-M-D (the reference unpacks
    * `day = dates[0]` / `mon, day = dates` / `yr, mon, day = dates`).
    * Partial TIMES fill from the LEFT — one component is the HOUR. The
    * reference requires both parts (`xdat, xtim = s.split(' ')`); we accept
    * a missing part as "today" / midnight. UTC instead of localtime for
    * determinism.
    */
  def timeStr2Sec(s: String, todayEpochSec: Long): Long = {
    val t = s.trim.replace('_', ' ')
    val (datePart, timePart) =
      if (t.contains(" ")) { val a = t.split(" +", 2); (a(0), a(1)) }
      else if (t.contains(":")) ("", t)
      else (t, "")
    val today = java.time.Instant.ofEpochSecond(todayEpochSec).atZone(java.time.ZoneOffset.UTC).toLocalDate
    val dp = if (datePart.isEmpty) Array.empty[String] else datePart.split("[-/]")
    var year = today.getYear
    var month = today.getMonthValue
    var day = today.getDayOfMonth
    dp.length match {
      case 0 =>
      case 1 => day = dp(0).toInt
      case 2 => month = dp(0).toInt; day = dp(1).toInt
      case _ => year = dp(0).toInt; month = dp(1).toInt; day = dp(2).toInt
    }
    val tp = if (timePart.isEmpty) Array.empty[String] else timePart.split(":")
    val hh = if (tp.length > 0 && tp(0).nonEmpty) tp(0).toInt else 0
    val mm = if (tp.length > 1) tp(1).toInt else 0
    val ss = if (tp.length > 2) tp(2).toDouble.toInt else 0
    java.time.LocalDateTime.of(year, month, day, hh, mm, ss).toEpochSecond(java.time.ZoneOffset.UTC)
  }

  /** F7 `parse_times` (web_utils.py:31-90): resolve a (date1, date2) pair
    * to epoch seconds. When date2 is "now" (or empty), date1 is a relative
    * "N units ago" expression ("3 days", "1.5 hours"); otherwise both are
    * absolute, parsed leniently via [[timeStr2Sec]]. Seconds truncated,
    * like the reference's `.replace(microsecond=0)`.
    */
  def parseTimes(date1: String, date2: String, nowEpochSec: Long): (Long, Long) = {
    val d2 = Option(date2).map(_.trim.toLowerCase).getOrElse("")
    if (d2.isEmpty || d2 == "now") {
      // like the reference: substring-match the unit anywhere in date1
      // ("1week", "3 days ago"), number via leading-digits scan; anything
      // unrecognized falls back to 1 week (web_utils.py:64-77)
      val d1 = Option(date1).map(_.trim.toLowerCase).getOrElse("")
      val units = Seq(
        "minute" -> 60L, "hour" -> 3600L, "day" -> 86400L,
        "week" -> 604800L, "year" -> 31536000L)
      val num = "([0-9]*\\.?[0-9]+)".r.findFirstIn(d1).map(_.toDouble)
      val mult = units.collectFirst { case (u, m) if d1.contains(u) => m }
      val agoSec = (num, mult) match {
        case (Some(n), Some(m)) => (n * m).toLong
        case _ => 604800L // the reference's own default: one week
      }
      (nowEpochSec - agoSec, nowEpochSec)
    } else {
      (timeStr2Sec(date1, nowEpochSec), timeStr2Sec(date2, nowEpochSec))
    }
  }

  /** F7 relative-range arithmetic: the reference's unit table
    * (web_utils.py:68-77).
    */
  def timeAgoSeconds(n: Double, unit: String): Long = {
    val mult = unit.toLowerCase.stripSuffix("s") match {
      case "minute" => 60L
      case "hour" => 3600L
      case "day" => 86400L
      case "week" => 604800L
      case "year" => 31536000L
      case other => throw new IllegalArgumentException(s"unknown unit: $other")
    }
    (n * mult).toLong
  }

  /** F14 `get_force_update_time` (util.py:348-354): uniform 13–21h, seeded for
    * deterministic tests.
    */
  def forceUpdateSeconds(rng: scala.util.Random): Long =
    (13 * 3600) + rng.nextInt(8 * 3600)

  /** F15 mail-template interpolation (cache.py:662-686): replace
    * %PV%/%VALUE%/%LABEL%/%COMP%/%TRIP%, then nested %PV(name)% lookups —
    * per LINE, capped at 25 substitutions per line, failed lookups becoming
    * the literal `unknown` (cache.py:676-681).
    */
  def mailTemplate(
      msg: String,
      pvname: String,
      value: String,
      label: String,
      comp: String,
      trip: String,
      lookup: String => Option[String]): String = {
    val base = msg
      .replace("%PV%", pvname)
      .replace("%VALUE%", value)
      .replace("%LABEL%", label)
      .replace("%COMP%", comp)
      .replace("%TRIP%", trip)
    val pat = "%PV\\(([^)]*)\\)%".r
    base.split("\n", -1).map { line0 =>
      var line = line0
      var i = 0
      var m = pat.findFirstMatchIn(line)
      while (m.isDefined && i < 25) {
        val name = m.get.group(1)
        val rep = lookup(name).getOrElse("unknown")
        line = line.substring(0, m.get.start) + rep + line.substring(m.get.end)
        i += 1
        m = pat.findFirstMatchIn(line)
      }
      line
    }.mkString("\n")
  }
}

/** UDF registrations for the few functions built-ins can't express. Kept
  * separate so the pure functions above stay serialization-free.
  */
object GraftUdfs {
  import org.apache.spark.sql.SparkSession

  def register(spark: SparkSession): Unit = {
    spark.udf.register("hformat", (v: Double, l: Int) => PvFunctions.hformat(v, l))
    spark.udf.register("hashname", (s: String) => PvFunctions.hashname(s))
  }

  def hashnameCol(c: Column): Column = udf((s: String) => PvFunctions.hashname(s)).apply(c)
}
