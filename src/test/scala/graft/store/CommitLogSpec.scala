package graft.store

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.Ingest
import graft.streaming.Downsampler.{PvConfig, RawSample, Sample}

/** The ingest sink's commit log: a crash before a batch's record, readers
  * during commits and a compaction, compaction itself, and retention. */
class CommitLogSpec extends SparkSpec {

  private val S = 1000000L

  private def conf = spark.sparkContext.hadoopConfiguration

  private def snapshotOf(dir: String): CommitLog.Snapshot = {
    val (fs, root) = CommitLog.resolve(dir, conf)
    CommitLog.snapshot(fs, root)
  }

  /** The stored rows, in a canonical order. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(col("pvname"), col("tsUs"), col("value"), col("cvalue"), col("dvalue"),
      col("run").cast("long"), col("bucket")).collect().map(_.mkString("|")).toSeq.sorted

  test("a crash after a batch's data and before its commit record is stored once after restart") {
    val sp = spark
    import sp.implicits._
    graft.Engine.tune(sp)
    conf.set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    conf.setBoolean("fs.faulty.impl.disable.cache", true)
    val cfg = (0 until 8).map(p => s"FLT:pv$p.VAL" -> PvConfig("double", 5 * S, 0.5)).toMap
    val events = for { i <- 0 until 40; p <- 0 until 8 }
      yield RawSample(s"FLT:pv$p.VAL", i * 10 * S + p, s"${i * (p + 1)}.0", s"${i * (p + 1)}.0")

    /** Streams `events` in two files, restarting from the checkpoint between
      * them; `crash` arms the filesystem before the second file's batch. */
    def archive(store: String, crash: Boolean): Unit = {
      val src = Files.createTempDirectory("graft_fault_src").toString
      val ckpt = Files.createTempDirectory("graft_fault_ckpt").toString
      def life(): Unit = {
        val source = sp.readStream.schema(implicitly[org.apache.spark.sql.Encoder[RawSample]].schema)
          .parquet(s"$src/*").as[RawSample]
        val q = Ingest.archiveTo(source, store, runWidthUs = 1000 * S, configs = cfg,
          checkpoint = Some(ckpt), triggerMs = 50L, limboTimeoutMs = 0L)
        try q.processAllAvailable() finally q.stop()
      }
      events.take(160).toDS().coalesce(1).write.parquet(s"$src/part1")
      life()
      events.drop(160).toDS().coalesce(1).write.parquet(s"$src/part2")
      if (crash) {
        FaultyFileSystem.armed.set(true)
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](life())
        assert(!FaultyFileSystem.armed.get, "the injected failure did not fire")
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(_.getMessage.contains("injected failure")), e)
      }
      life()
    }

    val clean = Files.createTempDirectory("graft_fault_clean").toString
    archive(clean, crash = false)
    val faulty = "faulty://" + Files.createTempDirectory("graft_fault_store").toString
    try archive(faulty, crash = true) finally FaultyFileSystem.armed.set(false)

    val want = rows(SampleStore.read(sp, clean))
    val got = rows(SampleStore.read(sp, faulty))
    assert(want.size > 100)
    val dups = SampleStore.read(sp, faulty).groupBy("pvname", "tsUs").count().where(col("count") > 1).count()
    assert(dups == 0, s"$dups (pvname, tsUs) stored twice")
    assert(got == want, s"stored ${got.size} rows, an uninterrupted run stored ${want.size}")
  }

  test("a reader sees each batch whole or not at all while batches commit and a run compacts") {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("graft_torn").toString
    val perBatch = 64
    val nBatches = 36
    // batches 0..29 write run 0, batches 30.. run 1: batch 30 compacts run 0
    def batch(k: Int): Dataset[Sample] = (0 until perBatch).map { i =>
      val ts = (if (k < 30) k * S else 100 * S + k * S) + i
      Sample(s"TRN:pv$i.VAL", ts, s"$k", s"$k")
    }.toDS()
    Ingest.writeBatchIdempotent(batch(0), dir, 100 * S, 0L, conf)
    @volatile var failure: Throwable = null
    val writer = new Thread(() =>
      try (1 until nBatches).foreach(k => Ingest.writeBatchIdempotent(batch(k), dir, 100 * S, k.toLong, conf))
      catch { case t: Throwable => failure = t })
    writer.start()
    val seen = scala.collection.mutable.ArrayBuffer.empty[Map[String, Long]]
    try {
      while (writer.isAlive) {
        seen += SampleStore.read(sp, dir).groupBy("value").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    } finally writer.join()
    assert(failure == null, String.valueOf(failure))
    val torn = seen.flatMap(_.filter(_._2 != perBatch))
    assert(torn.isEmpty, s"batches seen in part or twice (tag -> rows): ${torn.take(10)}")
    assert(seen.size >= 5, s"only ${seen.size} reads ran during the commits")
    info(s"${seen.size} reads during ${nBatches - 1} commits and one compaction")
    // every batch, in order of commit, was seen growing from a prefix
    assert(seen.forall(m => m.keySet == (0 until m.size).map(_.toString).toSet), seen.map(_.keySet))

    val log = snapshotOf(dir)
    assert(log.compactions.size == 1)
    assert(log.liveDeltas.map(_.run).distinct == Seq(1L))
    val all = SampleStore.read(sp, dir)
    assert(all.count() == nBatches * perBatch)
    assert(all.groupBy("value").count().collect().map(_.getLong(1)).toSet == Set(perBatch.toLong))
    assert(all.select("pvname", "tsUs").distinct().count() == nBatches * perBatch)
  }

  test("compaction folds 128 live deltas, again at rotation, and deletes only past retention") {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString
    val width = 1000 * S
    val pvs = 48
    def batch(k: Int): Dataset[Sample] = (0 until pvs).map { i =>
      val ts = if (k < 130) k * S + i else width + k * S + i
      Sample(s"CMP:pv$i.VAL", ts, s"$k.$i", s"$k.$i")
    }.toDS()
    def write(k: Int): Double = {
      val t0 = System.nanoTime()
      Ingest.writeBatchIdempotent(batch(k), dir, width, k.toLong, conf)
      (System.nanoTime() - t0) / 1e6
    }
    def bucketFiles: Map[String, Seq[String]] = new File(dir).listFiles()
      .filter(_.getName.startsWith("run=")).flatMap(r => r.listFiles().map(b =>
        s"${r.getName}/${b.getName}" -> b.list().filterNot(_.startsWith(".")).toSeq.sorted)).toMap

    val times = (0 until 127).map(write)
    assert(snapshotOf(dir).compactions.isEmpty && snapshotOf(dir).liveDeltas.size == 127)
    assert(bucketFiles.isEmpty)
    val held = SampleStore.read(sp, dir)
    val heldRows = rows(held)
    val heldDeltas = snapshotOf(dir).liveDeltas.map(d => new File(d.path.toUri))
    assert(heldDeltas.forall(_.isFile))

    // the 128th live delta: the run compacts
    val compactMs = write(127)
    val first = snapshotOf(dir)
    assert(first.compactions.size == 1 && first.liveDeltas.isEmpty)
    val firstId = first.compactions.keys.head
    val afterFirst = bucketFiles
    assert(afterFirst.nonEmpty && afterFirst.values.forall(fs =>
      fs.size == 1 && fs.head.startsWith(s"${CommitLog.CompactedPrefix}$firstId.")), afterFirst)
    info(f"one compaction of 128 deltas ($pvs PVs each): the trigger took $compactMs%.0f ms; " +
      f"the median trigger before it ${times.sorted.apply(times.size / 2)}%.0f ms")
    // within retention the superseded deltas stay, and the held frame still reads them
    assert(heldDeltas.forall(_.isFile))
    assert(rows(held) == heldRows)

    // leftovers of crashed attempts: a batch without a record, and a
    // compaction without a record that renamed one file into the tree
    val someDelta = heldDeltas.head.toPath
    val crashedBatch = new File(dir, s"${CommitLog.DeltaDir}/999/runDir=0")
    crashedBatch.mkdirs()
    Files.copy(someDelta, crashedBatch.toPath.resolve("part-crashed.parquet"))
    val crashedId = java.util.UUID.randomUUID().toString
    val (bucketDir, compacted) = afterFirst.head
    new File(dir, s"${CommitLog.CompactDir}/$crashedId/$bucketDir").mkdirs()
    val orphan = new File(dir, s"$bucketDir/${CommitLog.CompactedPrefix}$crashedId.0.parquet")
    Files.copy(new File(dir, s"$bucketDir/${compacted.head}").toPath, orphan.toPath,
      StandardCopyOption.REPLACE_EXISTING)
    val expected128 = rows(SampleStore.read(sp, dir))
    assert(expected128.size == 128 * pvs)

    (128 until 130).foreach(write)
    assert(!crashedBatch.getParentFile.exists() && !orphan.exists(), "crashed attempts were not deleted")
    assert(!new File(dir, CommitLog.CompactDir).exists() ||
      new File(dir, CommitLog.CompactDir).list().isEmpty)
    assert(heldDeltas.forall(_.isFile), "a delta the held snapshot names was deleted")

    // the next run: rotation compacts run 0's two live deltas
    write(130)
    val last = snapshotOf(dir)
    assert(last.compactions.size == 2)
    assert(last.liveDeltas.map(_.batchId) == Seq(130L))
    val secondId = (last.compactions.keySet - firstId).head
    bucketFiles.foreach { case (b, fs) =>
      assert(fs.count(_.startsWith(s"${CommitLog.CompactedPrefix}$firstId.")) <= 1, b)
      assert(fs.count(_.startsWith(s"${CommitLog.CompactedPrefix}$secondId.")) <= 1, b)
      assert(fs.forall(f => f.startsWith(s"${CommitLog.CompactedPrefix}$firstId.") ||
        f.startsWith(s"${CommitLog.CompactedPrefix}$secondId.")), s"$b: $fs")
    }

    // retention: the first compaction's deltas outlive 127 more commits and
    // go at the 128th, with the records of the batches that wrote them
    val expiry = 127 + CommitLog.RetainCommits
    (131 until expiry).foreach(write)
    assert(heldDeltas.forall(_.isFile), "a delta was deleted within retention")
    assert(rows(held) == heldRows)
    write(expiry)
    assert(heldDeltas.forall(!_.exists()), "superseded deltas outlived retention")
    assert(new File(dir, CommitLog.DeltaDir).list().map(_.toInt).sorted.toSeq == (128 to expiry))
    assert(new File(dir, CommitLog.LogDir).list().count(_.startsWith("batch-")) == expiry - 127)

    val want = (0 to expiry).flatMap { k => batch(k).collect() }
    val got = SampleStore.read(sp, dir)
    assert(got.count() == (expiry + 1) * pvs)
    assert(got.select("pvname", "tsUs", "value").as[(String, Long, String)].collect().sorted.toSeq ==
      want.map(s => (s.pvname, s.tsUs, s.value)).sorted)
    assert(rows(got.where(col("run") === 0)).size == 130 * pvs)
  }

  /** Commits batch `k` of one row, at second `k` of run 0. */
  private def commitOne(dir: String, k: Int): Unit = {
    val sp = spark
    import sp.implicits._
    Ingest.writeBatchIdempotent(Seq(Sample("RET:pv.VAL", k * S, s"$k", s"$k")).toDS(), dir, 1000 * S, k, conf)
  }

  test("a snapshot the writer cannot see keeps its deltas on disk for RetainCommits commits after their compaction") {
    val dir = Files.createTempDirectory("graft_retain").toString
    (0 until 127).foreach(commitOne(dir, _))
    // a reader in another process holds nothing the writer can see
    val named = snapshotOf(dir).liveDeltas.map(d => new File(d.path.toUri))
    assert(named.size == 127 && named.forall(_.isFile))
    commitOne(dir, 127)
    assert(snapshotOf(dir).compactions.size == 1 && snapshotOf(dir).liveDeltas.isEmpty)
    for (k <- 127 until 127 + CommitLog.RetainCommits) {
      if (k > 127) commitOne(dir, k)
      val lost = named.filterNot(_.isFile)
      assert(lost.isEmpty, s"${lost.size} deltas deleted ${k - 127} commits after their compaction")
    }
    assert(spark.read.parquet(named.map(_.toString): _*).count() == 127)
    commitOne(dir, 127 + CommitLog.RetainCommits)
    assert(named.forall(!_.exists()), "deltas outlived retention")
  }

  test("the log stays bounded: at most 2 x RetainCommits batch records, and a replay of any old id writes nothing") {
    val dir = Files.createTempDirectory("graft_bounded").toString
    val n = 3 * CommitLog.RetainCommits
    def records = new File(dir, CommitLog.LogDir).list().count(_.startsWith("batch-"))
    val most = (0 until n).map { k => commitOne(dir, k); records }.max
    assert(snapshotOf(dir).compactions.size == 3)
    assert(most <= 2 * CommitLog.RetainCommits, s"the log held $most batch records")
    assert(records == CommitLog.RetainCommits)
    val stored = SampleStore.read(spark, dir)
    assert(stored.count() == n && stored.select("tsUs").distinct().count() == n)
    // batch 5's record is long gone, batch n - 1 is the newest: neither writes
    Seq(5, n - 1).foreach(commitOne(dir, _))
    assert(SampleStore.read(spark, dir).count() == n)
    assert(!snapshotOf(dir).committed(n) && snapshotOf(dir).committed(5))
  }
}
