package graft.sources

import graft.SparkSpec

/** Golden parity against the reference deployment's ACTUAL production
  * cache dump (`sql/pvlist.txt`, the `q_cache_import` entry of
  * [[graft.SparkEntry.referenceInputs]]) — not a synthetic fixture: the
  * file's gnarly rows (embedded literal newlines at lines 17-18, `\'`
  * escapes at line 272, an id gap at 3661) are exactly what a migrating
  * user's dump contains. The repo does not hold the file; the two tests
  * that read it are cancelled where it is not readable.
  */
class CacheDumpSpec extends SparkSpec {

  private val refDumpPath = graft.SparkEntry.referenceInputs("q_cache_import")

  private lazy val refDump = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(refDumpPath)),
    java.nio.charset.StandardCharsets.UTF_8)

  test("golden: the production pvlist dump parses completely") {
    assumeReadable(refDumpPath)
    val rows = CacheDump.parseCacheDump(refDump)
    assert(rows.length == 3671)
    // ids run 1..3672 with exactly one gap (3661 is absent from the file)
    assert(rows.map(_.id) == rows.map(_.id).sorted)
    assert(rows.head.id == 1L && rows.last.id == 3672L)
    assert((1L to 3672L).toSet -- rows.map(_.id).toSet == Set(3661L))
    // first and last records, field-exact
    assert(rows.head == CacheDump.CacheRow(1, "13BMA:cc1.VAL", "double",
      "1.1e-09", "1.1e-09", 1169524073L))
    assert(rows.last == CacheDump.CacheRow(3672, "13XRM:m6.SPMG", "enum",
      "3", "Go", 1169507665L))
    // embedded literal newline inside a quoted value (file lines 17-18)
    val r17 = rows.find(_.id == 17).get
    assert(r17.value == "Beamstops (BM-A) water")
    assert(r17.cvalue == "Beamstops\n(BM-A) water")
    // MySQL \' escape (file line 272)
    val r222 = rows.find(_.id == 222).get
    assert(r222.value == "Col. 99.1-105 ahu's" && r222.cvalue.contains("ahu's"))
    // empty quoted strings are values, not NULLs
    val r248 = rows.find(_.id == 248).get
    assert(r248.value == "" && r248.cvalue == "")
    // the dump's type vocabulary
    assert(rows.map(_.dtype).toSet ==
      Set("double", "string", "enum", "short", "char", "long"))
  }

  test("load: the dump becomes a typed LocalRelation frame") {
    assumeReadable(refDumpPath)
    val df = CacheDump.load(spark, refDumpPath)
    assert(df.columns.toSeq == Seq("id", "pvname", "type", "value", "cvalue", "ts"))
    assert(df.count() == 3671L)
    // no corpus-shaped plan nodes: a dimension import stays a local relation
    val lint = graft.plans.PlanLint.lint(df)
    assert(!lint.exists(_.rule == "global-window"), lint.toString)
  }

  test("parseInsertTuples recovers mysqldump INSERT bodies (pvarch save)") {
    val dump =
      """-- MySQL dump 10.x
        |CREATE TABLE `pv` (`id` int, `name` varchar(64));
        |INSERT INTO `pv` VALUES (1,'X:a.VAL','double'),(2,'X:b;c','string');
        |INSERT INTO `other` VALUES (9,'nope');
        |INSERT INTO `pv` VALUES (3,'has '')'' paren','enum'),(4,NULL,'int');
        |""".stripMargin.replace("''", "\\'")
    val rows = CacheDump.parseInsertTuples(dump, "pv")
    assert(rows.length == 4)
    assert(rows(0) == Vector("1", "X:a.VAL", "double"))
    assert(rows(1)(1) == "X:b;c") // ';' inside quotes doesn't end the statement
    assert(rows(2)(1) == "has ')' paren") // escaped quotes + paren inside value
    assert(rows(3)(1) == null) // bare NULL
    assert(CacheDump.parseInsertTuples(dump, "missing").isEmpty)
  }

  test("loadRunDump: distributed mysqldump replay joins pvdat shards to the pv dimension") {
    val dump =
      """-- MySQL dump (pvarch save shape, schema.py:6-23)
        |CREATE TABLE `pv` (`id` int(10), `name` varchar(64));
        |INSERT INTO `pv` VALUES (1,'RD:a.VAL','motor a','pvdat001',10,1e-08,NULL,NULL,'normal','double','yes'),(2,'RD:b.DESC','desc b','pvdat002',30.5,0.25,'12','0','log','string','no');
        |CREATE TABLE `pvdat001` (time double, pv_id int, value varchar(4096));
        |INSERT INTO `pvdat001` VALUES (1169524073.25,1,'1.5'),(1169524083.5,1,'2.5');
        |INSERT INTO `pvdat001` VALUES (1169524093,1,'3.5');
        |INSERT INTO `pvdat002` VALUES (1169524073,2,'mo\'tor'),(1169524074,2,NULL);
        |INSERT INTO `other` VALUES (1169524073,1,'nope');
        |""".stripMargin
    val f = java.nio.file.Files.createTempDirectory("graft_rundump").resolve("run.sql")
    java.nio.file.Files.write(f, dump.getBytes("UTF-8"))
    val got = CacheDump.loadRunDump(spark, f.toString)
      .orderBy("pvname", "tsUs").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq(
      ("RD:a.VAL", 1169524073250000L, "1.5"),
      ("RD:a.VAL", 1169524083500000L, "2.5"),
      ("RD:a.VAL", 1169524093000000L, "3.5"),
      ("RD:b.DESC", 1169524073000000L, "mo'tor"),
      ("RD:b.DESC", 1169524074000000L, null)))
    val meta = CacheDump.loadRunDumpPvMeta(spark, f.toString)
      .orderBy("id").collect()
    assert(meta.length == 2)
    assert(meta(0).getAs[String]("pvname") == "RD:a.VAL" &&
      meta(0).getAs[String]("data_table") == "pvdat001" &&
      meta(0).getAs[Double]("deadtime") == 10.0 &&
      meta(0).getAs[String]("type") == "double" &&
      meta(0).getAs[String]("active") == "yes")
    assert(meta(1).getAs[Double]("deadband") == 0.25 &&
      meta(1).getAs[String]("active") == "no")
    // the samples plan is distributed text + broadcast dimension join —
    // no global windows, no driver materialization of the data side
    val lint = graft.plans.PlanLint.lint(CacheDump.loadRunDump(spark, f.toString))
    assert(!lint.exists(f0 => f0.rule == "global-window" ||
      f0.rule == "driver-materialized-input"), lint.toString)
  }

  test("column-list INSERT variants parse; unsupported forms fail loudly") {
    // mysqldump --complete-insert / --skip-extended-insert emit a
    // parenthesized column list before VALUES (r10 ADVICE: these silently
    // yielded ZERO rows)
    val dump =
      """INSERT INTO `pairs` (`id`, `pv1`, `pv2`, `score`) VALUES (1,'X:a','X:b',4);
        |INSERT INTO pairs (id, pv1, pv2, score) VALUES (2,'X:a','X:c',7);
        |INSERT INTO `pairs` VALUES (3,'X:b','X:c',1);
        |""".stripMargin
    assert(CacheDump.parseInsertTuples(dump, "pairs").map(_.head) ==
      Vector("1", "2", "3"))
    // a mention the header regex cannot parse must throw, not import 0 rows
    val bad = "INSERT INTO `pairs` SELECT * FROM other;"
    val e = intercept[IllegalArgumentException] {
      CacheDump.parseInsertTuples(bad, "pairs")
    }
    assert(e.getMessage.contains("unsupported dump variant"))
  }

  /** A synthetic `pvarch save` cache-DB dump carrying all three config
    * tables (schemas: alerts schema.py:29-41, pairs schema.py:71-78,
    * pvextra schema.py:80-86; enum legends per cache.py:196-206).
    */
  private def configDump: java.nio.file.Path = {
    val dump =
      """-- MySQL dump of the cache database (pvarch save, pvarch.py:253-271)
        |CREATE TABLE `alerts` (`id` int(10));
        |INSERT INTO `alerts` VALUES (1,'A:vac.VAL','Vacuum hi','ops@example.org\r\n','%PV% is %VALUE% (%COMP% %TRIP%)','10',1800,'gt','ok','yes'),(2,'B:idle.VAL','Inactive','b@x','m','0',NULL,'gt','ok','no');
        |INSERT INTO `pairs` (`id`, `pv1`, `pv2`, `score`) VALUES (1,'X:a.VAL','X:b.VAL',4),(2,'X:a.VAL','X:c.VAL',7);
        |INSERT INTO `pairs` VALUES (3,'X:b.VAL','X:c.VAL',1);
        |INSERT INTO `pvextra` VALUES (1,'X:m6.SPMG','enum_strs','["Stop","Pause","Move","Go"]'),(2,'X:other','notes','free text');
        |""".stripMargin
    val f = java.nio.file.Files.createTempDirectory("graft_cfgdump")
      .resolve("cache.sql")
    java.nio.file.Files.write(f, dump.getBytes("UTF-8"))
    f
  }

  test("config loaders: pairs, enum legends, typed alerts out of a cache-DB dump") {
    val f = configDump
    val pairs = CacheDump.loadDumpPairs(spark, f.toString)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(pairs == Seq((1L, "X:a.VAL", "X:b.VAL", 4L),
      (2L, "X:a.VAL", "X:c.VAL", 7L), (3L, "X:b.VAL", "X:c.VAL", 1L)))
    // the frame IS the A4 edge shape: mergeScores consumes it directly
    val merged = graft.operators.Pairs.mergeScores(
      CacheDump.loadDumpPairs(spark, f.toString), "pv1", "pv2", "score")
    assert(merged.count() == 3L)

    val enums = CacheDump.loadDumpEnumLabels(spark, f.toString).collect()
    assert(enums.length == 1) // non-enum_strs pvextra rows filtered out
    assert(enums(0).getAs[String]("pvname") == "X:m6.SPMG")
    assert(enums(0).getAs[scala.collection.Seq[String]]("labels").toSeq ==
      Seq("Stop", "Pause", "Move", "Go"))
    // the legend drives F10 enum decode end to end (cache.py:171-178)
    import org.apache.spark.sql.functions._
    val labelMap = CacheDump.loadDumpEnumLabels(spark, f.toString)
      .agg(map_from_entries(collect_list(struct(col("pvname"), col("labels"))))
        .as("m"))
    val decoded = labelMap.select(graft.functions.PvFunctions.enumLabel(
      col("m"), lit("X:m6.SPMG"), lit("3")).as("label")).collect()
    assert(decoded(0).getString(0) == "Go")

    val alerts = CacheDump.loadDumpAlertRows(spark, f.toString)
    assert(alerts.length == 2)
    assert(alerts(0) == CacheDump.DumpAlert(1L, "A:vac.VAL", "Vacuum hi",
      "ops@example.org\r\n", "%PV% is %VALUE% (%COMP% %TRIP%)", "10",
      1800.0, "gt", "ok", "yes"))
    assert(alerts(1).timeout == 30.0) // NULL timeout -> the schema default
    assert(CacheDump.loadDumpAlerts(spark, f.toString).count() == 2L)
  }

  test("migrated alert config drives a deliverStream round trip") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Alerts
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val (configs, mailTo, templates) =
      CacheDump.dumpAlertWiring(CacheDump.loadDumpAlertRows(spark, configDump.toString))
    assert(configs(1L).timeoutUs == 1800000000L && configs(1L).active)
    assert(!configs(2L).active)
    val mails = scala.collection.mutable.ArrayBuffer[Alerts.Mail]()
    val input = MemoryStream[Alerts.Observation]
    val q = Alerts.deliverStream(input.toDS(), configs, mailTo, templates,
      lookup = _ => None, send = m => mails.synchronized { mails += m },
      triggerMs = 50L)
    val S = 1000000L
    try {
      // alert 1: ok -> alarm edge fires one mail; a second edge inside the
      // migrated 1800 s debounce stays quiet; alert 2 is inactive
      input.addData(Seq(
        Alerts.Observation(1L, 0L, "5"), Alerts.Observation(1L, 60L * S, "15"),
        Alerts.Observation(1L, 120L * S, "5"), Alerts.Observation(1L, 180L * S, "20"),
        Alerts.Observation(2L, 60L * S, "1")))
      q.processAllAvailable()
    } finally q.stop()
    assert(mails.map(m => (m.alertId, m.tsUs / S)).toSeq == Seq((1L, 60L)))
    assert(mails.head.mailTo == "ops@example.org") // CR/LF from the dump stripped
    assert(mails.head.subject == "[Epics Alert] Vacuum hi")
    assert(mails.head.body.contains("A:vac.VAL is 15 (greater than 10)"))
  }

  test("parseAllInsertTuples: per-statement bodies, duplicate tuples preserved") {
    val sql = "INSERT INTO `t1` VALUES (1,'a');INSERT INTO `t2` VALUES (2,'b'),(2,'b');" +
      "INSERT INTO `t1` VALUES (3,'c; not a terminator');"
    val got = CacheDump.parseAllInsertTuples(sql)
    assert(got == Vector(
      ("t1", Vector("1", "a")),
      ("t2", Vector("2", "b")), ("t2", Vector("2", "b")), // dup KEPT
      ("t1", Vector("3", "c; not a terminator"))))
  }

  test("scanner edge cases: escapes, NULL vs empty, unterminated input") {
    val t = CacheDump.parseTuples(
      "(1,'a\\nb','c\\\\d',NULL,'NULL','')")
    assert(t == Vector(Vector("1", "a\nb", "c\\d", null, "NULL", "")))
    intercept[IllegalArgumentException] {
      CacheDump.parseTuples("(1,'open")
    }
  }
}
