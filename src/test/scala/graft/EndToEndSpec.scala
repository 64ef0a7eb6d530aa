package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Downsampler.RawSample

/** Whole-system seam test: streaming ingest → partitioned sample store →
  * archive query → versioned table commit/time-travel → plain SQL with the
  * native function pack. Each hop's row accounting must reconcile — this is
  * the "could a user actually wire these pieces together" check the
  * per-operator specs can't give.
  */
class EndToEndSpec extends SparkSpec {

  test("ingest -> store -> query -> versioned commit -> SQL, counts reconcile") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val storeDir = java.nio.file.Files.createTempDirectory("graft_e2e_store").toString
    val tableDir = java.nio.file.Files.createTempDirectory("graft_e2e_table").toString
    val runWidth = 30L * 86400000000L

    // 1) stream 3 PVs, 40 samples each, 10 s apart (past the deadtime so
    //    every sample lands), through the REAL stateful ingest topology
    val input = MemoryStream[RawSample]
    input.addData((0 until 120).map { i =>
      val v = s"${i % 7}.5"
      RawSample(s"E2E:pv${i % 3}", 1700000000000000L + (i / 3).toLong * 10000000L, v, v)
    })
    val q = streaming.Ingest.archiveTo(input.toDS(), storeDir, runWidth,
      triggerMs = 100L, limboTimeoutMs = 0L)
    try q.processAllAvailable() finally q.stop()

    // 2) store scan prunes to one PV; the archive facade reads it back
    val pv0 = store.SampleStore.scanPv(sp, storeDir, "E2E:pv0",
      1700000000000000L, 1700000000000000L + 400L * 10000000L, runWidth)
    val nPv0 = pv0.count()
    assert(nPv0 == 40L, s"expected 40 ingested rows for pv0, got $nPv0")

    // 3) commit the scan to a versioned table, append a second slice,
    //    then time-travel back
    val v1 = store.Versioned.commit(
      pv0.select(col("pvname"), col("tsUs"), col("value")), tableDir)
    val pv1 = store.SampleStore.scanPv(sp, storeDir, "E2E:pv1",
      1700000000000000L, 1700000000000000L + 400L * 10000000L, runWidth)
    val v2 = store.Versioned.commit(
      pv1.select(col("pvname"), col("tsUs"), col("value")), tableDir)
    assert(v1 == 1L && v2 == 2L)
    assert(store.Versioned.read(sp, tableDir, Some(1L)).count() == 40L)
    assert(store.Versioned.read(sp, tableDir).count() == 80L)

    // 4) plain SQL over the committed snapshot with the native formatter
    store.Versioned.read(sp, tableDir).createOrReplaceTempView("e2e_samples")
    Engine.registerFunctions(sp)
    val rows = sp.sql(
      """SELECT pvname, count(*) AS n,
        |  graft_hformat(avg(CAST(value AS DOUBLE)), 4) AS avg_fmt
        |FROM e2e_samples GROUP BY pvname ORDER BY pvname""".stripMargin)
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("E2E:pv0", "E2E:pv1"))
    assert(rows.forall(_.getLong(1) == 40L))
    assert(rows.forall(r => r.getString(2).nonEmpty))
  }

  test("migration drill: cache dump + run dump -> loaders -> migrated downsampler configs -> store -> get_data") {
    // The full SURVEY §3.1 lifecycle over MIGRATED data (r10 verdict ask
    // #6): the reference's production cache dump plus a synthetic
    // `pvarch save` run dump, through every CacheDump loader, with the
    // dump's OWN deadtime/deadband driving the real ingest topology, into
    // the partitioned store, answered by the Q3 get_data composite —
    // every expected row hand-derived from the downsampler semantics
    // (archiver.py:362-463). The imported-rows DuckDB hash gate is the
    // q_cache_import / q_run_import CORRECTNESS rows; this test is the
    // composition seam those per-loader oracles can't see. The repo does
    // not hold the production dump: the drill is cancelled without it.
    val refDumpPath = SparkEntry.referenceInputs("q_cache_import")
    assumeReadable(refDumpPath)
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    // 1) the reference's ACTUAL production cache dump → latest-value frame
    val cacheDump = sources.CacheDump.load(sp, refDumpPath)
    assert(cacheDump.count() == 3671L)

    // 2) a synthetic `pvarch save` run dump: pv dimension + data shards +
    //    the three config tables (schema.py:6-23,29-41,71-86)
    val dump =
      """-- MySQL dump (pvarch save shape)
        |INSERT INTO `pv` VALUES (1,'MIG:temp','Migrated temperature','pvdat001',10.0,0.5,12.0,0.0,'normal','double','yes'),(2,'MIG:stat','Migrated status','pvdat002',5.0,NULL,NULL,NULL,'normal','enum','yes');
        |INSERT INTO `pvdat001` VALUES (1000.0,1,'1.0'),(1005.0,1,'5.0'),(1012.0,1,'5.2'),(1023.0,1,'9.0'),(1034.0,1,'9.1');
        |INSERT INTO `pvdat002` VALUES (1000.0,2,'0'),(1002.0,2,'1'),(1008.0,2,'2');
        |INSERT INTO `pairs` VALUES (1,'MIG:temp','MIG:stat',7),(2,'MIG:stat','MIG:temp',4),(3,'MIG:stat','MIG:xx',9);
        |INSERT INTO `alerts` VALUES (1,'MIG:temp','temp high','ops@site.org','%PV% tripped','8.0',30.0,'gt','ok','yes');
        |INSERT INTO `pvextra` VALUES (1,'MIG:stat','enum_strs','["off", "on", "fault"]');
        |""".stripMargin
    val dumpPath = java.nio.file.Files
      .createTempDirectory("graft_migrate").resolve("run.sql")
    java.nio.file.Files.write(dumpPath, dump.getBytes("UTF-8"))

    // 3) loaders: samples + pv meta + the three config tables
    val samples = sources.CacheDump.loadRunDump(sp, dumpPath.toString)
    assert(samples.count() == 8L)
    val meta = sources.CacheDump.loadRunDumpPvMeta(sp, dumpPath.toString).collect()
    val alerts = sources.CacheDump.loadDumpAlertRows(sp, dumpPath.toString)
    assert(alerts.map(a => (a.pvname, a.compare, a.trippoint)) ==
      Vector(("MIG:temp", "gt", "8.0")))
    val (alertCfgs, mailTo, _) = sources.CacheDump.dumpAlertWiring(alerts)
    assert(alertCfgs(1L).timeoutUs == 30000000L && mailTo(1L) == "ops@site.org")

    // 4) the dump's archiving config → the T2 downsampler's PvConfig map
    val configs = meta.map { r =>
      r.getAs[String]("pvname") -> streaming.Downsampler.PvConfig(
        dtype = r.getAs[String]("type"),
        deadtimeUs = math.round(Option(r.getAs[java.lang.Double]("deadtime"))
          .fold(0.0)(_.doubleValue) * 1e6),
        deadband = Option(r.getAs[java.lang.Double]("deadband"))
          .fold(0.0)(_.doubleValue))
    }.toMap
    assert(configs("MIG:temp") ==
      streaming.Downsampler.PvConfig("double", 10000000L, 0.5))
    assert(configs("MIG:stat") ==
      streaming.Downsampler.PvConfig("enum", 5000000L, 0.0))

    // 5) replay the migrated samples through the REAL ingest topology,
    //    downsampled by the MIGRATED config, into the partitioned store
    val storeDir = java.nio.file.Files.createTempDirectory("graft_migrate_store").toString
    val runWidth = 30L * 86400000000L
    val input = MemoryStream[RawSample]
    input.addData(samples.orderBy("tsUs", "pvname").collect().map(r =>
      RawSample(r.getString(0), r.getLong(1), r.getString(2), r.getString(2))).toSeq)
    val q = streaming.Ingest.archiveTo(input.toDS(), storeDir, runWidth,
      configs = configs, triggerMs = 100L, limboTimeoutMs = 0L)
    try q.processAllAvailable() finally q.stop()

    // hand-derived downsampler output (semantics in Downsampler's doc):
    //  MIG:temp dt=10s db=0.5 — 1000.0 first-emit; 1005 limbo, flushed
    //  with ORIGINAL ts by the 1012 arrival; 1012 limbo, flushed by 1023;
    //  1023 emits (moved 3.8 > 0.5); 1034 suppressed (moved 0.1 < 0.5).
    //  MIG:stat dt=5s enum — 1000 first-emit; 1002 limbo, flushed by
    //  1008; 1008 emits (enum always "moved").
    val stored = store.SampleStore.read(sp, storeDir)
      .select(col("pvname"), col("tsUs"), col("value"))
      .orderBy(col("pvname"), col("tsUs")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(stored == Seq(
      ("MIG:stat", 1000000000L, "0"),
      ("MIG:stat", 1002000000L, "1"),
      ("MIG:stat", 1008000000L, "2"),
      ("MIG:temp", 1000000000L, "1.0"),
      ("MIG:temp", 1005000000L, "5.0"),
      ("MIG:temp", 1012000000L, "5.2"),
      ("MIG:temp", 1023000000L, "9.0")), stored.toString)

    // 6) Q3 get_data over the migrated store: range [1004 s, 1030 s) plus
    //    the one-point-before row (archiver.py:131-223)
    val arch = new Archive(store.SampleStore.read(sp, storeDir))
    val got = arch.getData("MIG:temp", 1004000000L, 1030000000L)
      .select(col("tsUs"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1000000000L, "1.0"), (1005000000L, "5.0"),
      (1012000000L, "5.2"), (1023000000L, "9.0")), got.toString)

    // 7) the cache dump serves the live with_current row for a production
    //    PV the migrated store has no samples for (archiver.py:212-218)
    val livePv = cacheDump.orderBy(col("id")).select(col("pvname"))
      .first().getString(0)
    val archWithCache = new Archive(
      store.SampleStore.read(sp, storeDir), Some(cacheDump))
    val live = archWithCache.getData(livePv, 1000000000L, 2000000000L,
      withCurrent = Some(true), nowUs = 1999999999L).collect()
    assert(live.length == 1 &&
      live(0).getAs[Long]("tsUs") == 1999999999L, live.mkString(","))

    // 8) migrated related-PV graph: max-merge then top-k (cache.py:785-835)
    val pairs = sources.CacheDump.loadDumpPairs(sp, dumpPath.toString)
    val merged = operators.Pairs.mergeScores(pairs, "pv1", "pv2", "score")
    val related = operators.Pairs.related(merged, "m1", "m2", "score",
      lit("MIG:stat"), 2).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(related == Seq(("MIG:xx", 9L), ("MIG:temp", 7L)), related.toString)

    // 9) migrated enum legend decodes the stored enum value (F10)
    val legend = sources.CacheDump.loadDumpEnumLabels(sp, dumpPath.toString)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(legend("MIG:stat") == Seq("off", "on", "fault"))
    val decoded = legend("MIG:stat")(stored.collectFirst {
      case ("MIG:stat", 1008000000L, v) => v.toInt }.get)
    assert(decoded == "fault")
  }
}
