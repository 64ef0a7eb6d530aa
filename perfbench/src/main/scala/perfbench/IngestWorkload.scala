package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.store.SampleStore
import graft.streaming.{Downsampler, Ingest}
import graft.streaming.Downsampler.{RawSample, Sample}

/** One archive stream: a directory the generator drops JSON-lines event
  * files into, drained by `Ingest.archiveTo` into a sample store. Traced
  * runs build the same topology with the benchmark's own `foreachBatch`, so
  * `Ingest.writeBatchIdempotent` can be timed.
  */
final class Feed(ctx: Ctx, val log: Gen.EventLog, val root: Path, val store: String) {
  val src: Path = Files.createDirectories(root.resolve("src"))
  private val ckpt = root.resolve("ckpt").toString
  private var query: StreamingQuery = _
  private var files = 0
  val offered = scala.collection.mutable.ArrayBuffer.empty[RawSample]

  /** Writes `events` as the next source file, atomically (hidden, then
    * renamed into view). */
  def put(events: Array[RawSample]): Unit = {
    val tmp = src.resolve(f".f$files%06d.tmp")
    Files.write(tmp, Gen.jsonLines(events))
    Files.move(tmp, src.resolve(f"f$files%06d.json"), StandardCopyOption.ATOMIC_MOVE)
    files += 1
    offered ++= events
  }

  def start(triggerMs: Long, maxFilesPerTrigger: Option[Int]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val reader = spark.readStream.schema(Encoders.product[RawSample].schema)
    val source = maxFilesPerTrigger.fold(reader)(m => reader.option("maxFilesPerTrigger", m.toLong))
      .json(src.toString).as[RawSample]
    val week = Gen.WeekUs
    query =
      if (!ctx.trace.enabled)
        Ingest.archiveTo(source, store, week, log.configs, Some(ckpt), triggerMs, limboTimeoutMs = 0L)
      else {
        val conf = spark.sparkContext.hadoopConfiguration
        val trace = ctx.trace
        Downsampler.streaming(source, log.configs, timeoutMs = 0L).writeStream
          .outputMode("append")
          .trigger(Trigger.ProcessingTime(triggerMs))
          .foreachBatch { (b: Dataset[Sample], id: Long) =>
            trace.span("store.write")(Ingest.writeBatchIdempotent(b, store, week, id, conf))
          }
          .option("checkpointLocation", ckpt)
          .start()
      }
  }

  /** Progress of this stream's data-carrying and empty batches. */
  def batches: Seq[Stats.Batch] = progress.map(p => Stats.Batch(
    java.time.Instant.parse(p.timestamp).toEpochMilli,
    p.durationMs.getOrDefault("triggerExecution", 0L).longValue, p.numInputRows))

  def progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    if (query == null) Nil
    else ctx.trace.progress.asScala.filter(_.runId == query.runId).toSeq.sortBy(_.batchId)

  def processed: Long = progress.map(_.numInputRows).sum

  /** Waits until every offered row is reported committed. */
  def drain(timeoutMs: Long = 60000L): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (processed < offered.size && System.currentTimeMillis() < until) {
      query.exception.foreach(e => throw e)
      Thread.sleep(20)
    }
    require(processed == offered.size, s"stream committed $processed of ${offered.size} rows")
  }

  def stop(): Unit = if (query != null && query.isActive) query.stop()

  /** Releases every limbo (see [[Gen.EventLog.flushChunk]]), drains and
    * stops the stream. */
  def flush(): Unit = {
    put(log.flushChunk(offered.map(_.tsUs).max + Gen.HourUs))
    drain()
    stop()
  }

  /** What the batch replay of everything offered archives, normalized as
    * the store normalizes it. */
  def replay: DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val events = spark.createDataset(offered.toSeq).repartition(ctx.cores)
    SampleStore.normalize(Downsampler.replayBatch(events, log.configs).toDF(), Gen.WeekUs)
  }
}

object Feed {
  /** Checks flushed feeds' stores together: the union of the stores must
    * equal the union of the feeds' batch replays, with no (pvname, tsUs)
    * twice.
    */
  def check(ctx: Ctx, feeds: Seq[Feed]): Unit = {
    val stored = feeds.map(f => SampleStore.read(ctx.spark, f.store)).reduce(_ unionByName _)
    val (fw, fg) = (fingerprint(feeds.map(_.replay).reduce(_ unionByName _)), fingerprint(stored))
    ctx.rep.check("store == Downsampler.replayBatch of the same events", fw == fg, s"store $fg vs replay $fw")
    val dups = stored.groupBy("pvname", "tsUs").count().where(col("count") > 1).count()
    ctx.rep.check("no (pvname, tsUs) stored twice", dups == 0, s"$dups duplicated keys")
  }

  /** The store's columns, typed as written (partition discovery reads
    * `run` and `bucket` back as the narrowest integer type). */
  val Cols: Seq[org.apache.spark.sql.Column] = Seq(col("pvname"), col("tsUs"), col("value"), col("cvalue"),
    col("dvalue"), col("bucket").cast("long"), col("run").cast("long"))

  /** Row-multiset fingerprint: row count and two order-free hash sums. */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
    val c = Cols
    val r = df.select(xxhash64(c: _*).cast("decimal(38,0)").as("h1"), hash(c: _*).cast("decimal(38,0)").as("h2"))
      .agg(count(lit(1)), sum("h1"), sum("h2")).first()
    (r.getLong(0), r.getDecimal(1), r.getDecimal(2))
  }

  /** Runs the open-loop generator: chunk `k` of `rows` events is due at
    * `start + k * chunkMs` and offered as soon as it is due, however far
    * behind the stream is. Returns each chunk's due time and size, and the
    * generator's worst lateness.
    */
  def openLoop(feed: Feed, chunks: Seq[Array[RawSample]], chunkMs: Int): (Seq[Stats.Chunk], Long) = {
    val start = System.currentTimeMillis() + 50
    var lag = 0L
    val out = chunks.zipWithIndex.map { case (c, k) =>
      val due = start + k.toLong * chunkMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      feed.put(c)
      lag = math.max(lag, System.currentTimeMillis() - due)
      Stats.Chunk(due, c.length.toLong)
    }
    (out, lag)
  }

  /** Runs [[openLoop]] on its own thread. */
  def openLoopAsync(feed: Feed, chunks: Seq[Array[RawSample]], chunkMs: Int)
      : java.util.concurrent.Future[(Seq[Stats.Chunk], Long)] = {
    val ex = java.util.concurrent.Executors.newSingleThreadExecutor()
    try ex.submit(() => openLoop(feed, chunks, chunkMs)) finally ex.shutdown()
  }

  /** Streaming-layer metrics over a stream's data batches. */
  def streamingLayers(rep: Report, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit = {
    val data = progress.filter(_.numInputRows > 0)
    def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double): Double =
      if (data.isEmpty) 0.0 else Stats.median(data.map(f))
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      p.durationMs.getOrDefault(k, 0L).doubleValue
    def state(p: org.apache.spark.sql.streaming.StreamingQueryProgress) = p.stateOperators.headOption
    rep.layer("streaming.trigger_ms", med(d(_, "triggerExecution")))
    rep.layer("streaming.add_batch_ms", med(d(_, "addBatch")))
    rep.layer("streaming.offsets_commit_ms", med(p => d(p, "walCommit") + d(p, "commitOffsets")))
    rep.layer("streaming.plan_ms", med(d(_, "queryPlanning")))
    rep.layer("streaming.state_update_ms", med(state(_).map(_.allUpdatesTimeMs.toDouble).getOrElse(0.0)))
    rep.layer("streaming.state_commit_ms", med(state(_).map(_.commitTimeMs.toDouble).getOrElse(0.0)))
    progress.lastOption.flatMap(state).foreach { s =>
      rep.layer("streaming.state_rows", s.numRowsTotal.toDouble)
      rep.layer("streaming.state_mem_mb", s.memoryUsedBytes / 1e6)
    }
  }

  /** Parquet files and bytes under a store directory. */
  def storeFiles(path: String): (Int, Long) = {
    val fs = Files.walk(java.nio.file.Paths.get(path))
    try {
      val ps = fs.iterator().asScala.filter(p => p.toString.endsWith(".parquet")).toSeq
      (ps.size, ps.map(Files.size).sum)
    } finally fs.close()
  }
}

/** `ingest`: the write path alone. An open-loop phase offers the seeded CA
  * event log at a fixed rate and measures event-to-commit freshness; a
  * catch-up phase then drains a fixed backlog in bounded multi-file
  * triggers, as after an archiver outage, and measures rows per second.
  */
object IngestWorkload {
  final val Pvs = 20000
  final val ChunkMs = 80
  final val SpanUs = 1000000L // event time covered by one chunk
  final val TriggerMs = 500L
  final val BacklogFiles = 8
  final val BacklogFileEvents = 6000
  final val MaxFilesPerTrigger = 2

  def run(ctx: Ctx): Unit = {
    val a = ctx.args
    val rep = ctx.rep
    val openSecs = a.seconds * 0.6
    val nChunks = (openSecs * 1000 / ChunkMs).toInt
    val perChunk = math.max(1, a.rate * ChunkMs / 1000)
    rep.text(s"ingest: ${Pvs} PVs; open loop offers ${a.rate} events/s for $openSecs s " +
      s"($nChunks chunks of $perChunk every $ChunkMs ms, trigger $TriggerMs ms); catch-up drains " +
      s"${BacklogFiles * BacklogFileEvents} events, $MaxFilesPerTrigger files per trigger")

    final case class Inputs(log: Gen.EventLog, open: Feed, catchUp: Feed, chunks: Seq[Array[RawSample]])
    val in = ctx.setup(reps = 3) { _ =>
      deleteTree(ctx.dir("ingest"))
      val root = ctx.dir("ingest")
      val log = new Gen.EventLog(a.seed, Pvs, Gen.WeekUs * 2800, SpanUs)
      val open = new Feed(ctx, log, root.resolve("open"), root.resolve("open-store").toString)
      val catchUp = new Feed(ctx, log, root.resolve("catchup"), root.resolve("catchup-store").toString)
      // the backlog: event time after the open-loop phase's
      (0 until BacklogFiles).foreach(i => catchUp.put(log.chunk(100000 + i * 100, BacklogFileEvents)))
      Inputs(log, open, catchUp, (0 until nChunks).map(k => log.chunk(k, perChunk)))
    } { in =>
      val warm = new Feed(ctx, in.log, ctx.dir("ingest/warm"), ctx.dir("ingest/warm-store").toString)
      warm.put(in.log.chunk(200000, 500))
      warm.start(0L, Some(1))
      warm.drain()
      warm.stop()
    }
    val trace = ctx.trace

    // open loop: freshness at the fixed offered rate
    trace.stages.clear()
    val open0 = System.nanoTime()
    in.open.start(TriggerMs, None)
    val gen = Feed.openLoopAsync(in.open, in.chunks, ChunkMs)
    val (chunks, lag) = ctx.attempt("open-loop phase")(gen.get()).getOrElse((Nil, 0L))
    ctx.attempt("open-loop drain")(in.open.drain())
    val openMs = (System.nanoTime() - open0) / 1e6
    val openStages = trace.stages.asScala.toSeq
    val openProgress = in.open.progress
    val (openFiles, openBytes) = Feed.storeFiles(in.open.store)
    val fresh = Stats.freshness(chunks, in.open.batches).map(_.toDouble)
    val backlog = Stats.backlog(chunks, in.open.batches)
    report(ctx, "freshness", fresh)
    rep.text(f"open loop: generator lag max $lag ms, backlog max ${if (backlog.isEmpty) 0 else backlog.max} " +
      s"rows over ${backlog.size} commits; store $openFiles parquet files, $openBytes bytes")
    if (Stats.unsustainable(backlog))
      rep.text(s"WARNING: offered rate ${a.rate} events/s is UNSUSTAINABLE: the backlog grew for the whole phase")
    // untimed: release the open-loop stream's limbos, so it stops competing
    ctx.attempt("open-loop flush")(in.open.flush())

    // catch-up: capacity draining a fixed backlog
    trace.stages.clear()
    val catch0 = System.nanoTime()
    in.catchUp.start(0L, Some(MaxFilesPerTrigger))
    ctx.attempt("catch-up drain")(in.catchUp.drain())
    val catchMs = (System.nanoTime() - catch0) / 1e6
    val catchStages = trace.stages.asScala.toSeq
    val catchProgress = in.catchUp.progress
    val data = in.catchUp.batches.filter(_.inputRows > 0)
    val rows = data.map(_.inputRows).sum
    val perTrigger = data.map(b => b.inputRows * 1000.0 / b.durationMs)
    rep.e2e("throughput_per_s", Stats.median(perTrigger), "1/s", data.size)
    rep.text(f"ingest_rows_per_s ${Stats.median(perTrigger)}%.1f rows/s, median over ${data.size} catch-up " +
      s"triggers of ${data.map(_.durationMs).mkString("/")} ms ($rows rows)")

    // untimed: layers, flush, checks
    val archived = SampleStore.read(ctx.spark, in.catchUp.store).count()
    val (_, catchBytes) = Feed.storeFiles(in.catchUp.store)
    ctx.attempt("catch-up flush")(in.catchUp.flush())
    rep.attempted += in.open.progress.size + in.catchUp.progress.size
    rep.text(f"emit ratio ${archived.toDouble / rows}%.4f ($archived stored of $rows events)")
    if (trace.enabled) {
      Feed.streamingLayers(rep, openProgress ++ catchProgress)
      rep.layer("streaming.backlog_rows_max", if (backlog.isEmpty) 0.0 else backlog.max.toDouble)
      rep.layer("gen.lag_ms_max", lag.toDouble)
      rep.layer("streaming.emit_ratio", archived.toDouble / rows)
      rep.layer("store.files_written", openFiles.toDouble)
      rep.layer("store.bytes_per_row", catchBytes.toDouble / math.max(archived, 1))
      rep.layer("store.write_ms", Stats.median(trace.spansNamed("store.write").map(_.ms)))
      Layers.executor(rep, openStages ++ catchStages, openMs + catchMs, ctx.cores)
    }
    Feed.check(ctx, Seq(in.open, in.catchUp))
  }

  /** p50 of `xs` as an end-to-end metric, and the supported tail. */
  def report(ctx: Ctx, what: String, xs: Seq[Double]): Unit = {
    ctx.rep.e2e("p50_ms", Stats.median(xs), "ms", xs.size)
    ctx.rep.text(tail(s"${what}_p50_ms", s"${what}", xs))
  }

  def tail(p50: String, what: String, xs: Seq[Double]): String =
    f"$p50 ${Stats.median(xs)}%.1f ms; " + (Stats.tailLevel(xs.size) match {
      case Some(p) => f"${what}_p${p.toInt} ${Stats.percentile(xs, p)}%.1f ms"
      case None => s"no tail percentile has 10 samples beyond it"
    }) + s" (n=${xs.size})"

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}
