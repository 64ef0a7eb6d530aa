package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.SampleStore
import Downsampler.{PvConfig, RawSample}

/** §3.2 lifecycle: streaming source → T2 → partitioned store, plus the
  * latest-value branch, against the batch twin.
  */
class IngestSpec extends SparkSpec {

  private val S = 1000000L

  test("streaming ingest lands downsampled rows in the partitioned store") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.Engine.tune(sp)

    val dir = Files.createTempDirectory("graft_ingest").toString
    val events = (0 until 60).map(i =>
      RawSample("ING:a.VAL", i * 2 * S, (i * 10.0).toString, (i * 10.0).toString)) ++
      (0 until 10).map(i =>
        RawSample("ING:b.VAL", i * 30 * S, s"mode$i", s"mode$i"))
    val cfg = Map(
      "ING:a.VAL" -> PvConfig("double", 5 * S, 0.5),
      "ING:b.VAL" -> PvConfig("string", 1 * S, 0.0))

    val input = MemoryStream[RawSample]
    // limbo timeouts off: a declared ProcessingTimeTimeout keeps
    // processAllAvailable from settling (see Downsampler.streaming scaladoc)
    val q = Ingest.archiveTo(input.toDS(), dir, runWidthUs = 60 * S, configs = cfg,
      triggerMs = 50L, limboTimeoutMs = 0L)
    // complete mode: the memory sink then holds the whole table (update
    // mode — the production default — would give a changelog instead)
    val latest = Ingest.latestTo(input.toDS(), "ingest_latest", outputMode = "complete")
    try {
      input.addData(events.take(40))
      q.processAllAvailable(); latest.processAllAvailable()
      input.addData(events.drop(40))
      q.processAllAvailable(); latest.processAllAvailable()
    } finally { q.stop(); latest.stop() }

    val stored = SampleStore.read(sp, dir)
    val a = stored.where(col("pvname") === "ING:a.VAL")
      .select("tsUs").collect().map(_.getLong(0)).sorted
    // downsampled: strictly fewer rows than the 60 raw events, bucketed+run'd
    assert(a.length < 60 && a.length > 10, s"got ${a.length}")
    assert(stored.where(col("pvname") === "ING:b.VAL").count() == 10)
    // dual representation materialized
    assert(stored.where(col("dvalue").isNotNull && col("pvname") === "ING:a.VAL").count() == a.length)
    // bucket column matches hashname
    val buckets = stored.select("pvname", "bucket").distinct().collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    assert(buckets("ING:a.VAL") == graft.functions.PvFunctions.hashname("ING:a.VAL"))

    // latest-value branch carries the newest value per PV
    val latestRows = sp.table("ingest_latest").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(latestRows("ING:a.VAL") == 59 * 2 * S)
    assert(latestRows("ING:b.VAL") == 9 * 30 * S)
  }

  test("batch replay after restart is idempotent (commit records via Hadoop FS)") {
    val sp = spark
    import sp.implicits._
    graft.Engine.tune(sp)

    val dir = Files.createTempDirectory("graft_ingest_replay").toString
    val batch = Seq(
      Downsampler.Sample("RPL:a.VAL", 10 * S, "1.0", "1.0"),
      Downsampler.Sample("RPL:a.VAL", 20 * S, "2.0", "2.0"),
      Downsampler.Sample("RPL:b.VAL", 15 * S, "on", "on")).toDS()
    val conf = sp.sparkContext.hadoopConfiguration

    // first delivery of batch 7 writes; a crash-and-restart redelivers the
    // SAME batch id — its commit record must swallow the duplicate append
    Ingest.writeBatchIdempotent(batch, dir, runWidthUs = 60 * S, batchId = 7L, conf)
    val afterFirst = SampleStore.read(sp, dir).count()
    Ingest.writeBatchIdempotent(batch, dir, runWidthUs = 60 * S, batchId = 7L, conf)
    assert(SampleStore.read(sp, dir).count() == afterFirst, "replayed batch double-wrote")

    // a NEW batch id still appends
    Ingest.writeBatchIdempotent(batch, dir, runWidthUs = 60 * S, batchId = 8L, conf)
    assert(SampleStore.read(sp, dir).count() == afterFirst * 2)
  }

  test("JDBC sink upserts keyed (pvname, ts_us): replay is a no-op, updates win (embedded Derby)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val url = "jdbc:derby:memory:graft_ingest_jdbc;create=true"

    // stream through the full topology: source -> T2 downsampler -> JDBC
    val input = MemoryStream[RawSample]
    val q = Ingest.jdbcArchiveTo(input.toDS(), url, "archive",
      configs = Map("JDB:a.VAL" -> PvConfig("double", 5 * S, 0.5)),
      triggerMs = 50L, limboTimeoutMs = 0L)
    try {
      input.addData((0 until 20).map(i => RawSample("JDB:a.VAL", i * 10 * S, s"$i.0", s"$i.0")))
      q.processAllAvailable()
    } finally q.stop()

    def all(): Vector[(String, Long, String)] = {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement()
          .executeQuery("SELECT pvname, ts_us, value FROM archive ORDER BY pvname, ts_us")
        val out = Vector.newBuilder[(String, Long, String)]
        while (rs.next()) out += ((rs.getString(1), rs.getLong(2), rs.getString(3)))
        out.result()
      } finally conn.close()
    }
    val first = all()
    assert(first.nonEmpty && first.forall(_._1 == "JDB:a.VAL"))

    // crash-and-replay: the SAME downsampled batch upserts the same keys
    val replay = first.map { case (pv, ts, v) => Downsampler.Sample(pv, ts, v, v) }.toDS()
    Ingest.jdbcUpsertBatch(replay, url, "archive")
    assert(all() == first, "replayed upsert changed the table")

    // an upsert with a corrected value for an existing key updates in place
    val fix = Seq(Downsampler.Sample("JDB:a.VAL", first.head._2, "99.5", "99.5")).toDS()
    Ingest.jdbcUpsertBatch(fix, url, "archive")
    val after = all()
    assert(after.size == first.size)
    assert(after.head._3 == "99.5")
  }
}
