package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import Q.sql
import Shared._

/** Queries whose headline call is a PV column function (`graft.functions`,
  * `HFormatExpr`), each beside its DuckDB oracle. */
object PvFunctionsQueries {
  val all: Seq[Q] = Seq(
    // ---- F1/F2/P5/F11 PV-name pack: normalize (clean + .VAL default),
    // validity predicate, native hashname bucket, reference data-table name —
    // over pvnames derived from part rows. p_name spaces make some names
    // invalid; modular suffixes exercise the comment-strip and the
    // already-dotted branches ------------------------------------------------
    Q("q_pv_pack", "PvFunctions", (s, dir) => {
      graft.Engine.registerFunctions(s)
      val key = col("p_partkey")
      // every third name underscores its spaces so the validity predicate
      // sees BOTH outcomes (p_name's spaces make the rest invalid)
      val stem = when(key % 3 === 0,
        regexp_replace(substring(col("p_name"), 1, 8), " ", "_"))
        .otherwise(substring(col("p_name"), 1, 8))
      val raw = concat(lit("P"), key, lit(":"), stem,
        when(key % 7 === 0, lit("#drop this tail"))
          .when(key % 5 === 0, lit(".RBV"))
          .otherwise(lit("")))
      val norm = graft.functions.PvFunctions.normalizePvName(raw)
      Tables.part(s, dir)
        .select(
          key,
          norm.as("pvname"),
          graft.functions.PvFunctions.validPvName(norm).as("valid"),
          graft.plans.HashNameExpr.hashname(norm).cast("long").as("bucket"))
        .withColumn("data_table", format_string("pvdat%03d", col("bucket") + 1))
        .orderBy(key)
    }, sql(
      // hashname restated independently: sha256 bytes -> base64 -> char-code
      // sum mod 128 (archiver.py:25-32), per character via unicode()
      """WITH p AS (SELECT p_partkey,
        |  'P' || CAST(p_partkey AS VARCHAR) || ':' ||
        |  CASE WHEN p_partkey % 3 = 0
        |       THEN replace(substr(p_name, 1, 8), ' ', '_')
        |       ELSE substr(p_name, 1, 8) END ||
        |  CASE WHEN p_partkey % 7 = 0 THEN '#drop this tail'
        |       WHEN p_partkey % 5 = 0 THEN '.RBV' ELSE '' END AS raw
        |  FROM part),
        |c AS (SELECT p_partkey, trim(regexp_replace(raw, '[;#].*', '', 's')) AS cln FROM p),
        |n AS (SELECT p_partkey,
        |  CASE WHEN contains(cln, '.') THEN cln ELSE cln || '.VAL' END AS pvname FROM c),
        |b AS (SELECT p_partkey, pvname,
        |  CAST(list_sum(list_transform(
        |    string_split(to_base64(unhex(sha256(pvname))), ''),
        |    ch -> unicode(ch))) % 128 AS BIGINT) AS bucket FROM n)
        |SELECT p_partkey, pvname,
        |  regexp_matches(pvname, '^[a-zA-Z0-9_:.\[\]();<>{}+=#-]+$') AS valid,
        |  bucket,
        |  printf('pvdat%03d', bucket + 1) AS data_table
        |FROM b ORDER BY p_partkey""".stripMargin)),

    // ---- F15 mail-template interpolation (cache.py:662-686) over the real
    // cache snapshot: %PV%/%VALUE%/%LABEL%/%COMP%/%TRIP% plus a nested
    // %PV(name)% lookup that RESOLVES (EV:click, from the same snapshot)
    // and one that FAILS (→ the literal `unknown`). The per-alert expansion
    // is driver-side like the reference's mail path; the snapshot collect
    // is keys-sized. The oracle rebuilds every body with string concat +
    // a scalar subquery for the nested lookup ----------------------------
    Q("q_mail_template", "PvFunctions", (s, dir) => {
      import s.implicits._
      val latest = TimeSeries.latestPerKey(
          events(s, dir).where(col("value").isNotNull),
          "event_type", "ts_us", "event_id", Seq("value"))
        .select(concat(lit("EV:"), col("event_type")).as("pv"),
          floor(col("value") * 1000).cast("string").as("v"))
        .orderBy(col("pv"))
      val snap = latest.collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val lookup = snap.toMap
      val tmpl = "Alert for %PV%\nvalue=%VALUE% label=%LABEL%\n" +
        "condition: %COMP% %TRIP%\nclick=%PV(EV:click)% missing=%PV(EV:nope)%"
      snap.map { case (pv, v) =>
        (pv, graft.functions.PvFunctions.mailTemplate(
          tmpl, pv, v, "lbl:" + pv, "ge", "100", n => lookup.get(n)))
      }.toDF("pv", "body").orderBy(col("pv"))
    }, sql(
      // F15 mail template: every alert body reassembled with concat + chr(10)
      // newlines; the nested %PV(EV:click)% lookup is a scalar subquery over
      // the same snapshot, the failed lookup the literal 'unknown'
      """WITH src AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value
        |  FROM events WHERE value IS NOT NULL),
        |latest AS (
        |  SELECT 'EV:' || event_type AS pv,
        |         CAST(CAST(floor(value * 1000) AS BIGINT) AS VARCHAR) AS v
        |  FROM (SELECT event_type, value,
        |          row_number() OVER (PARTITION BY event_type
        |                             ORDER BY ts_us DESC, event_id DESC) AS rn
        |        FROM src) WHERE rn = 1)
        |SELECT pv,
        |  'Alert for ' || pv || chr(10) ||
        |  'value=' || v || ' label=lbl:' || pv || chr(10) ||
        |  'condition: ge 100' || chr(10) ||
        |  'click=' || coalesce((SELECT v FROM latest WHERE pv = 'EV:click'), 'unknown') ||
        |  ' missing=' || coalesce((SELECT v FROM latest WHERE pv = 'EV:nope'), 'unknown') AS body
        |FROM latest ORDER BY pv""".stripMargin)),

    // ---- F5/F8/F10/F12/F13 formatter pack in one projection — pure
    // codegen'd column functions, per-row, shuffle-free ----------------------
    Q("q_format_pack", "PvFunctions", (s, dir) => {
      import graft.functions.PvFunctions
      val labels = map(
        lit("click"), array(lit("idle"), lit("busy"), lit("fault")),
        lit("view"), array(lit("off"), lit("on")),
        lit("purchase"), array(lit("zero"), lit("one"), lit("two"), lit("three")))
      val sec = expr("ts_us DIV 1000000L")
      events(s, dir).select(
        col("event_id"),
        PvFunctions.tformat(sec).as("t_fmt"),
        PvFunctions.ts2iso(col("ts_us")).as("iso"),
        PvFunctions.timehash(sec).as("thash"),
        PvFunctions.yesNo((col("event_id") % 3).cast("string")).as("yn"),
        PvFunctions.yesNo(col("event_type")).as("yn_raw"),
        // missing key / out-of-range ordinal decode to null; a sentinel keeps
        // the compare null-free (the gate sorts row tuples)
        coalesce(PvFunctions.enumLabel(labels, col("event_type"), col("event_id") % 5),
          lit("(none)")).as("enum_label"))
        .orderBy(col("event_id"))
    }, sql(
      """SELECT event_id,
        |  strftime(make_timestamp((epoch_us(ts) // 1000000) * 1000000), '%Y-%b-%d %H:%M:%S') AS t_fmt,
        |  strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d %H:%M:%S.%g') AS iso,
        |  substr(lower(hex((epoch_us(ts) // 1000000) * 10000)), 1,
        |         length(lower(hex((epoch_us(ts) // 1000000) * 10000))) - 1) AS thash,
        |  CASE event_id % 3 WHEN 0 THEN 'No' WHEN 1 THEN 'Yes' ELSE 'Unknown' END AS yn,
        |  'Unknown' AS yn_raw,
        |  coalesce(CASE event_type
        |    WHEN 'click' THEN (['idle','busy','fault'])[CAST(event_id % 5 AS INT) + 1]
        |    WHEN 'view' THEN (['off','on'])[CAST(event_id % 5 AS INT) + 1]
        |    WHEN 'purchase' THEN (['zero','one','two','three'])[CAST(event_id % 5 AS INT) + 1]
        |    END, '(none)') AS enum_label
        |FROM events ORDER BY event_id""".stripMargin)),

    // ---- F6/F7 lenient time parsing. The web-request parse is driver-side
    // in the reference too (form fields → epoch range); the oracle is an
    // INDEPENDENT SQL restatement of each input's resolution (strptime +
    // epoch arithmetic), so a parse bug on either side hash-mismatches ------
    // ---- F4 hformat through the native codegen expression, oracled against
    // the reference-generated fixture table (expected column verbatim) ------
    Q("q_hformat", "PvFunctions", (s, dir) => {
      s.read.schema("value DOUBLE, fmt_len INT, expected STRING")
        .option("sep", "\t").csv(hformatCasesPath)
        .select(col("value"), col("fmt_len"),
          graft.plans.HFormatExpr.hformat(col("value"), col("fmt_len")).as("got"))
        .orderBy(col("value"), col("fmt_len"), col("got"))
    }, sql(
      // F4 hformat: the oracle is the reference-generated fixture's expected
      // column verbatim — a hash mismatch means the native expr diverged from
      // the reference on a concrete case
      // `value + 0.0`: the fixture contains literal -0.0 inputs, and the
      // engine's emission contract canonicalizes signed zeros (the `got`
      // STRING still carries the sign — ' -0e+00' — so nothing is lost)
      s"""SELECT value + 0.0 AS value, fmt_len, expected AS got
         |FROM read_csv('$hformatCasesPath', delim='\\t', header=false,
         |  columns={'value':'DOUBLE','fmt_len':'INTEGER','expected':'VARCHAR'})
         |ORDER BY value, fmt_len, got""".stripMargin)),

    Q("q_time_parse", "PvFunctions", (s, dir) => {
      import s.implicits._
      val today = TMID / 1000000L
      timeParseInputs.map { case (id, d1, d2) =>
        val (t1, t2) = graft.functions.PvFunctions.parseTimes(d1, d2, today)
        (id, d1, d2, t1, t2)
      }.toDF("id", "d1", "d2", "t1_sec", "t2_sec").orderBy(col("id"))
    }, sql(timeParseSql)),

    // ---- F3 clean_value (archiver.py:34-44): the stored-string → double
    // parse incl. the mangled b'..' byte-literal recovery, over a
    // deterministic rendering of the events values (floor(value*100) as
    // BIGINT — integer strings render identically on both engines; a
    // double cast would not). Every third row is b'..'-wrapped, every
    // third is bare numeric, the rest are non-numeric junk → null --------
    Q("q_clean_value", "PvFunctions", (s, dir) => {
      val raw = events(s, dir).select(col("event_id"),
        expr("""coalesce(CASE WHEN event_id % 3 = 0
                |  THEN concat('b\'', CAST(CAST(floor(value * 100) AS BIGINT) AS STRING), '\'')
                |WHEN event_id % 3 = 1
                |  THEN CAST(CAST(floor(value * 100) AS BIGINT) AS STRING)
                |ELSE concat('x', event_type) END, '')""".stripMargin).as("stored"))
      raw.select(col("event_id"), col("stored"),
          graft.functions.PvFunctions.cleanValue(col("stored")).as("parsed"))
        .orderBy(col("event_id"), col("stored"))
    }, sql(
      s"""WITH r AS (
         |  SELECT event_id,
         |         coalesce(CASE WHEN event_id % 3 = 0
         |                THEN 'b''' || CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) || ''''
         |              WHEN event_id % 3 = 1
         |                THEN CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR)
         |              ELSE 'x' || event_type END, '') AS stored
         |  FROM events)
         |SELECT event_id, stored,
         |  TRY_CAST(regexp_replace(stored, '^b''(.*)''$$', '\\1') AS DOUBLE) AS parsed
         |FROM r ORDER BY event_id, stored""".stripMargin)),

    // ---- F2 clean_string (util.py:295-309): the `;`/`#` tail guard +
    // trim, applied over the documents corpus — DOTALL, so a tail spanning
    // newlines is cut too --------------------------------------------------
    Q("q_clean_string", "PvFunctions", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.PvFunctions.cleanString(col("text")).as("clean"))
        .orderBy(col("doc_id"))
    }, sql(
      s"""SELECT doc_id, trim(regexp_replace(text, '[;#].*', '', 's')) AS clean
         |FROM documents ORDER BY doc_id""".stripMargin)))

  /** The reference-generated hformat fixture (value, length, expected) —
    * q_hformat reads it through the native expr and its oracle re-emits the
    * expected column verbatim, so the 500-case parity becomes a hard
    * CORRECTNESS row. Read from the classpath (a jar entry has no file
    * path) and copied once to a file named by its content hash under
    * `java.io.tmpdir`, so the path (and the oracle SQL that names it)
    * depends neither on the cwd nor on the checkout.
    */
  private lazy val hformatCasesPath: String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val bytes = getClass.getResourceAsStream("/hformat_cases.tsv").readAllBytes()
    val sha = java.security.MessageDigest.getInstance("SHA-1").digest(bytes).map("%02x".format(_)).mkString
    val path = Paths.get(System.getProperty("java.io.tmpdir"), s"graft_hformat_cases_$sha.tsv")
    if (!Files.exists(path)) {
      val part = Files.write(Files.createTempFile(path.getParent, "graft_hformat_cases", ".part"), bytes)
      Files.move(part, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    path.toString
  }

  /** Independent SQL restatement of each [[timeParseInputs]] row's expected
    * resolution (strptime + epoch arithmetic — NOT generated from the Scala
    * parser), joined back to the inputs. today/now = 1705276800
    * (2024-01-15T00:00:00Z), matching the anchor q_time_parse passes.
    */
  private def timeParseSql: String = {
    val inp = timeParseInputs.map { case (id, d1, d2) => s"($id, '$d1', '$d2')" }.mkString(", ")
    s"""WITH inp(id, d1, d2) AS (VALUES $inp),
       |exp(id, t1_sec, t2_sec) AS (VALUES
       |  (1, 1705276800 - 3*86400, 1705276800),
       |  (2, 1705276800 - 5400, 1705276800),
       |  (3, 1705276800 - 604800, 1705276800),
       |  (4, 1705276800 - 604800, 1705276800),
       |  (5, epoch(strptime('2024-01-10', '%Y-%m-%d')), epoch(strptime('2024-01-15 12:00:00', '%Y-%m-%d %H:%M:%S'))),
       |  (6, epoch(strptime('2024-01-10', '%Y-%m-%d')), epoch(strptime('2024-01-15 06:30:00', '%Y-%m-%d %H:%M:%S'))),
       |  (7, epoch(strptime('2024-01-15 12:45:00', '%Y-%m-%d %H:%M:%S')), epoch(strptime('2024-01-12 23:59:59', '%Y-%m-%d %H:%M:%S'))),
       |  (8, 1705276800 - 2*604800, 1705276800),
       |  (9, 1705276800 - 604800, 1705276800),
       |  (10, epoch(strptime('2024-01-10 06:00:00', '%Y-%m-%d %H:%M:%S')), epoch(strptime('2024-01-14 06:00:00', '%Y-%m-%d %H:%M:%S'))))
       |SELECT CAST(i.id AS BIGINT) AS id, i.d1 AS d1, i.d2 AS d2,
       |       CAST(e.t1_sec AS BIGINT) AS t1_sec, CAST(e.t2_sec AS BIGINT) AS t2_sec
       |FROM inp i JOIN exp e USING (id) ORDER BY id""".stripMargin
  }

  /** F6/F7 lenient-parse inputs for q_time_parse: relative forms (unit
    * substring + leading-number scan), the unrecognized→1-week default,
    * absolute lenient dates (right-filled partial dates, left-filled
    * times, '_' separators, '/' dates, fractional seconds). "today"/"now"
    * anchor is TMID (2024-01-15T00:00:00Z).
    */
  private[graft] val timeParseInputs: Seq[(Long, String, String)] = Seq(
    (1L, "3 days", "now"),
    (2L, "1.5 hours", "now"),
    (3L, "1week", ""),
    (4L, "sometime", "now"),
    (5L, "2024-01-10", "2024-01-15 12:00:00"),
    (6L, "1-10", "15 6:30"),
    (7L, "12:45", "2024/01/12 23:59:59.5"),
    (8L, "2 weeks ago", "now"),
    (9L, "", "now"),
    (10L, "2024-01-10_06:00:00", "2024-01-14_06:00:00"))
}
