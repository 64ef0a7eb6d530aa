package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.store.{CommitLog, SampleStore}
import Downsampler.{PvConfig, RawSample, Sample}

/** SURVEY §3.2 — the whole ingest lifecycle as ONE Structured Streaming
  * topology (replacing the reference's two daemons + MySQL-as-IPC):
  *
  *   source (CA events as RawSample rows)
  *     ├─ T2 downsampler (flatMapGroupsWithState) ─ foreachBatch → sample store
  *     └─ A1 latest-value view (update-mode agg)  ─ any update-mode sink
  *
  * Late/out-of-order data (T7): each micro-batch is sorted per key before
  * the stateful step; an optional event-time watermark bounds state for
  * sources that can be hours late.
  */
object Ingest {

  /** The archive branch: downsample and append to the sample store.
    *
    * Delivery: each micro-batch goes through [[writeBatchIdempotent]], which
    * publishes it with one rename in the store's commit log
    * ([[graft.store.CommitLog]]). With `checkpoint`, no data is lost across
    * restarts, and a replayed micro-batch is stored exactly once, whether
    * the crash came before, during or after its write. Readers
    * (`SampleStore.read`) see each batch whole or not at all.
    *
    * The log goes through the Hadoop `FileSystem` API resolved from `path`,
    * so the same code runs against HDFS or any filesystem whose rename of a
    * file is atomic.
    */
  def archiveTo(
      source: Dataset[RawSample],
      path: String,
      runWidthUs: Long,
      configs: Map[String, PvConfig] = Map.empty,
      checkpoint: Option[String] = None,
      triggerMs: Long = 1000L,
      limboTimeoutMs: Long = 1000L): StreamingQuery = {
    val spark = source.sparkSession
    import spark.implicits._
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val down = Downsampler.streaming(source, configs, timeoutMs = limboTimeoutMs)
    val w = down.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: Dataset[Sample], batchId: Long) =>
        writeBatchIdempotent(batch, path, runWidthUs, batchId, hadoopConf)
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** One micro-batch append, exactly as replayed after a restart: Structured
    * Streaming re-invokes foreachBatch with the SAME `batchId` for any batch
    * whose sink commit is not recorded. The batch is normalized and written
    * as one file per run it touches, sorted by `(bucket, pvname, tsUs)`,
    * into a directory private to the batch id; renaming its commit record
    * into place is the last step. A `batchId` that already has a record
    * writes nothing; one that has none first deletes what an earlier
    * attempt left. A write that first reaches a later run, or that brings a
    * run to `SampleStore.NumBuckets` live deltas, then compacts the run into
    * its bucket directories (see [[graft.store.CommitLog]]). Public so the
    * restart path is directly testable without forcing a checkpoint replay.
    */
  def writeBatchIdempotent(
      batch: Dataset[Sample],
      path: String,
      runWidthUs: Long,
      batchId: Long,
      hadoopConf: org.apache.hadoop.conf.Configuration): Unit = {
    val df = batch.toDF().select(col("pvname"), col("tsUs"), col("value"), col("cvalue"))
    CommitLog.append(SampleStore.normalize(df, runWidthUs), path, batchId, hadoopConf)
  }

  /** The archive branch against a TRANSACTIONAL store: Structured Streaming
    * + JDBC upsert keyed `(pvname, ts_us)` — the exactly-once deployment
    * path (a replayed micro-batch upserts the same keys and changes
    * nothing). Tested against embedded Derby; on a cluster, point `url` at
    * the warehouse RDBMS (the reference's MySQL/PostgreSQL role —
    * schema.py:6-19) and the same code runs, one connection per partition.
    */
  def jdbcArchiveTo(
      source: Dataset[RawSample],
      url: String,
      table: String,
      configs: Map[String, PvConfig] = Map.empty,
      checkpoint: Option[String] = None,
      triggerMs: Long = 1000L,
      limboTimeoutMs: Long = 1000L): StreamingQuery = {
    val down = Downsampler.streaming(source, configs, timeoutMs = limboTimeoutMs)
    val w = down.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: Dataset[Sample], _: Long) =>
        jdbcUpsertBatch(batch, url, table)
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Upsert one batch into `table` keyed `(pvname, ts_us)`. The table is
    * created on first use. Each partition opens one connection and runs a
    * single transaction, UPDATE-first per row: the replay/correction case
    * is an in-place UPDATE (no constraint violation, so no PostgreSQL
    * "transaction aborted" trap), a fresh key falls through to INSERT, and
    * a true concurrent-writer race on the INSERT (integrity violation,
    * SQLState class 23 on every major RDBMS) retries the UPDATE once.
    * Partition-parallel, no driver-side row handling; portable across
    * Derby/MySQL/PostgreSQL — nothing here is vendor-specific.
    */
  def jdbcUpsertBatch(batch: Dataset[Sample], url: String, table: String): Unit = {
    ensureJdbcTable(url, table)
    batch.foreachPartition { (it: Iterator[Sample]) =>
      if (it.nonEmpty) {
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val ins = conn.prepareStatement(
            s"INSERT INTO $table (pvname, ts_us, value, cvalue) VALUES (?, ?, ?, ?)")
          val upd = conn.prepareStatement(
            s"UPDATE $table SET value = ?, cvalue = ? WHERE pvname = ? AND ts_us = ?")
          def update(s: Sample): Int = {
            upd.setString(1, s.value); upd.setString(2, s.cvalue)
            upd.setString(3, s.pvname); upd.setLong(4, s.tsUs)
            upd.executeUpdate()
          }
          def isDuplicateKey(e: java.sql.SQLException): Boolean =
            e.isInstanceOf[java.sql.SQLIntegrityConstraintViolationException] ||
              Option(e.getSQLState).exists(_.startsWith("23"))
          it.foreach { s =>
            if (update(s) == 0) {
              try {
                ins.setString(1, s.pvname); ins.setLong(2, s.tsUs)
                ins.setString(3, s.value); ins.setString(4, s.cvalue)
                ins.executeUpdate()
              } catch {
                case e: java.sql.SQLException if isDuplicateKey(e) => update(s)
              }
            }
          }
          conn.commit()
        } finally conn.close()
      }
    }
  }

  /** CREATE TABLE with the `(pvname, ts_us)` primary key if it does not
    * exist — existence probed via `DatabaseMetaData.getTables` (portable;
    * "already exists" SQLStates are vendor-soup: Derby X0Y32, MySQL 42S01,
    * PostgreSQL 42P07), with a broad fallback catch for the benign race
    * where a concurrent writer creates it between probe and CREATE.
    */
  def ensureJdbcTable(url: String, table: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val md = conn.getMetaData
      def exists(name: String): Boolean = {
        val rs = md.getTables(null, null, name, Array("TABLE"))
        try rs.next() finally rs.close()
      }
      if (!exists(table.toUpperCase) && !exists(table.toLowerCase) && !exists(table)) {
        val st = conn.createStatement()
        try st.executeUpdate(
          s"""CREATE TABLE $table (
             |  pvname VARCHAR(128) NOT NULL,
             |  ts_us BIGINT NOT NULL,
             |  value VARCHAR(4096),
             |  cvalue VARCHAR(4096),
             |  PRIMARY KEY (pvname, ts_us))""".stripMargin)
        catch { case _: java.sql.SQLException if exists(table.toUpperCase) ||
          exists(table.toLowerCase) || exists(table) => () }
      }
    } finally conn.close()
  }

  /** The cache branch: latest value per PV. "update" is the Q6 shape —
    * sinks receive only PVs changed in the batch (the refresh delta); the
    * memory sink used in tests accumulates that changelog, so tests pass
    * "complete" to read the full table directly. Real deployments upsert
    * the update stream via foreachBatch (JDBC/Delta).
    */
  def latestTo(source: Dataset[RawSample], queryName: String,
      outputMode: String = "update"): StreamingQuery =
    LatestView.latest(source)
      .writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName)
      .start()

  /** Optional T7 watermarking: declare `tsUs` (as a derived `event_time`
    * timestamp column, KEPT in the schema — dropping it would discard the
    * watermark metadata downstream operators bind to) with a lateness
    * bound. This bounds state for event-time-timeout and windowed-
    * aggregation operators downstream; the processing-time-timeout
    * downsampler keeps per-PV state regardless (its state is three scalars
    * per PV — bounded by fleet size, not by time).
    */
  def withEventTime(source: Dataset[RawSample], delay: String): Dataset[RawSample] = {
    val spark = source.sparkSession
    import spark.implicits._
    source
      .withColumn("event_time", timestamp_micros(col("tsUs")))
      .withWatermark("event_time", delay)
      .as[RawSample] // typed ops bind the RawSample fields; event_time rides along
  }
}
