package graft.store

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}

/** The ingest sink's side of the sample store: each micro-batch lands as
  * sorted delta files beside the `run=R/bucket=B` tree, and a commit log
  * says which files a reader may see. Layout under the store root:
  *
  * {{{
  *   _delta/<batchId>/runDir=<R>/<part>.parquet   one file per run the batch touched
  *   _log/batch-<batchId>                         the batch's record: its delta files
  *   _compact/<id>/run=<R>/bucket=<B>/<part>      a compaction's staging area
  *   run=<R>/bucket=<B>/compacted-<id>.0.parquet  its output, one file per bucket
  *   _log/compact-<id>                            its record: the batch id it committed
  *                                                after, then the deltas it supersedes
  * }}}
  *
  * A delta holds every stored column, `run` and `bucket` included, sorted
  * by `(bucket, pvname, tsUs)`, so a one-PV scan skips row groups by the
  * pushed-down `bucket = b` filter. The underscore names keep the
  * bookkeeping out of `spark.read.parquet`'s view of the tree.
  *
  * Commit: a record is written under a hidden name and renamed into place
  * as the last step, so it appears whole or not at all, and only named
  * files are ever read. A batch id at or below the newest committed one is
  * never written again (`FileStreamSink.addBatch`'s rule); a crashed
  * attempt's files are named by no record, so no reader sees them, and
  * [[vacuum]] deletes them. This is the epoch-id argument of the Structured
  * Streaming paper (SIGMOD 2018): the engine replays only an uncommitted
  * batch id, and the sink publishes each id once.
  *
  * Compaction folds one run's live deltas into its bucket directories. Its
  * files are renamed into the tree before its record appears, and a tree
  * file named `compacted-<id>` is visible only to a snapshot that holds
  * record `compact-<id>`. So a reader sees a run's rows either as deltas or
  * as compacted files, never both and never neither. A compaction runs when
  * a batch first writes a later run (the reference rotates its run
  * database there, cache.py:82-144) and when a run holds
  * [[SampleStore.NumBuckets]] live deltas.
  *
  * Retention: a compaction's record names the batch id it committed
  * after. The deltas it superseded are deleted once [[RetainCommits]]
  * batches have committed after it, and a batch record goes with its
  * deltas once none of them is live. Compaction records stay. So a
  * snapshot opens at most about 2 × [[RetainCommits]] batch records plus
  * one record per compaction, and the newest batch record, which replay
  * detection needs, is never deleted. The contract for readers, in any
  * process: a frame built on a snapshot stays readable while fewer than
  * [[RetainCommits]] batches commit after it; after that, take a new
  * snapshot (call `SampleStore.read` again).
  *
  * One writer per store: the stream that owns the store's checkpoint.
  */
object CommitLog {

  final val LogDir = "_log"
  final val DeltaDir = "_delta"
  final val CompactDir = "_compact"
  final val CompactedPrefix = "compacted-"
  private final val BatchPrefix = "batch-"
  private final val CompactPrefix = "compact-"
  /** How many batches commit after a compaction before the deltas it
    * superseded are deleted: one compaction cycle. */
  final val RetainCommits = 128
  /** The delta writer's partition column: a copy of `run`, so that `run`
    * stays a data column of the file. */
  private final val RunDirCol = "runDir"

  /** The columns of a delta file, as `SampleStore.normalize` makes them. */
  val DeltaSchema: StructType = StructType(Seq(
    StructField("pvname", StringType), StructField("tsUs", LongType),
    StructField("value", StringType), StructField("cvalue", StringType),
    StructField("dvalue", DoubleType), StructField("bucket", IntegerType),
    StructField("run", LongType)))

  /** One committed delta file. */
  final case class Delta(batchId: Long, run: Long, path: Path, length: Long) {
    def status: FileStatus = new FileStatus(length, false, 0, 0L, 0L, path)
  }

  /** One committed compaction: the batch id it committed after, and the
    * deltas it folded. */
  final case class Compaction(after: Long, folded: Set[Path])

  /** What one listing of the log says: the committed batches' deltas and the
    * committed compactions. */
  final class Snapshot private[CommitLog] (
      val batches: Map[Long, Seq[Delta]],
      val compactions: Map[String, Compaction]) {

    /** The newest committed batch id; -1 when none is. */
    val newest: Long = batches.keys.maxOption.getOrElse(-1L)

    private lazy val superseded: Set[Path] = compactions.values.flatMap(_.folded).toSet

    /** The deltas no committed compaction has folded, in batch order. */
    lazy val liveDeltas: Seq[Delta] =
      batches.toSeq.sortBy(_._1).flatMap(_._2).filterNot(d => superseded(d.path))

    def committed(batchId: Long): Boolean = batchId <= newest

    /** Whether a tree file belongs to the tree this snapshot sees: every
      * file but a compaction's output that this snapshot holds no record of. */
    def visibleInTree(name: String): Boolean =
      !name.startsWith(CompactedPrefix) ||
        compactions.contains(name.stripPrefix(CompactedPrefix).takeWhile(_ != '.'))

    private[CommitLog] def withBatch(id: Long, ds: Seq[Delta]): Snapshot =
      new Snapshot(batches + (id -> ds), compactions)

    private[CommitLog] def withCompaction(id: String, folded: Seq[Delta]): Snapshot =
      new Snapshot(batches, compactions + (id -> Compaction(newest, folded.map(_.path).toSet)))
  }

  /** The log as it is now. A record that [[vacuum]] deletes between the
    * listing and its opening is left out: only a batch record can go, and
    * only once a compaction in the listing superseded all its deltas. */
  def snapshot(fs: FileSystem, root: Path): Snapshot = {
    def lines(p: Path): Option[Seq[String]] =
      try {
        val in = fs.open(p)
        val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
        Some(body.linesIterator.filter(_.nonEmpty).toSeq)
      } catch { case _: FileNotFoundException => None }
    val records = ls(fs, new Path(root, LogDir)).filter(_.isFile)
      .flatMap(f => lines(f.getPath).map(f.getPath.getName -> _))
    val batches = records.collect { case (name, body) if name.startsWith(BatchPrefix) =>
      val id = name.stripPrefix(BatchPrefix).toLong
      id -> body.map(_.split('\t')).map(f => Delta(id, f(0).toLong, new Path(root, f(2)), f(1).toLong))
    }.toMap
    // a compaction record's first line is the batch id it committed after;
    // a record without one counts as past retention
    val compactions = records.collect { case (name, body) if name.startsWith(CompactPrefix) =>
      val (after, folded) = body.headOption.flatMap(_.toLongOption)
        .fold((Long.MinValue, body))(a => (a, body.tail))
      name.stripPrefix(CompactPrefix) -> Compaction(after, folded.map(new Path(root, _)).toSet)
    }.toMap
    new Snapshot(batches, compactions)
  }

  /** Appends one normalized micro-batch as batch `batchId`, exactly once: a
    * batch id at or below the newest committed one writes nothing; a newer
    * one deletes what an earlier attempt left, writes one file per run, then
    * publishes its record. Then compacts the runs that are due and vacuums. */
  def append(samples: DataFrame, path: String, batchId: Long, hadoopConf: Configuration): Unit = {
    val (fs, root) = resolve(path, hadoopConf)
    val before = snapshot(fs, root)
    if (!before.committed(batchId)) {
      val dir = new Path(root, s"$DeltaDir/$batchId")
      fs.delete(dir, true)
      samples.withColumn(RunDirCol, col("run"))
        .repartition(col(RunDirCol))
        .sortWithinPartitions(col(RunDirCol), col("bucket"), col("pvname"), col("tsUs"))
        .write.mode(SaveMode.ErrorIfExists).partitionBy(RunDirCol).parquet(dir.toString)
      val deltas = for {
        runDir <- ls(fs, dir).toSeq if runDir.isDirectory && runDir.getPath.getName.startsWith(s"$RunDirCol=")
        run = runDir.getPath.getName.substring(RunDirCol.length + 1).toLong
        file <- ls(fs, runDir.getPath) if file.isFile
      } yield Delta(batchId, run, file.getPath, file.getLen)
      publish(fs, root, s"$BatchPrefix$batchId",
        deltas.map(d => s"${d.run}\t${d.length}\t${relative(root, d.path)}"))
      val after = compactDue(samples.sparkSession, fs, root, before.withBatch(batchId, deltas))
      vacuum(fs, root, after)
    }
  }

  /** Compacts every run that holds live deltas below the newest such run,
    * and every run that holds [[SampleStore.NumBuckets]] of them. */
  private def compactDue(spark: SparkSession, fs: FileSystem, root: Path, s: Snapshot): Snapshot = {
    val byRun = s.liveDeltas.groupBy(_.run)
    if (byRun.isEmpty) s
    else {
      val top = byRun.keys.max
      byRun.toSeq.sortBy(_._1)
        .collect { case (run, ds) if run < top || ds.size >= SampleStore.NumBuckets => ds }
        .foldLeft(s) { (acc, ds) => compact(spark, fs, root, ds, acc) }
    }
  }

  /** Folds one run's `deltas` into its bucket directories, one new file per
    * bucket, and commits the fold. */
  private def compact(spark: SparkSession, fs: FileSystem, root: Path,
      deltas: Seq[Delta], s: Snapshot): Snapshot = {
    val run = deltas.head.run
    require(deltas.forall(_.run == run), "a compaction folds one run")
    val id = UUID.randomUUID().toString
    val staging = new Path(root, s"$CompactDir/$id/run=$run")
    deltaFrame(spark, root, deltas, StructType(DeltaSchema.filterNot(_.name == "run")), LongType)
      .drop("run")
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("pvname"), col("tsUs"))
      .write.mode(SaveMode.ErrorIfExists).partitionBy("bucket").parquet(staging.toString)
    for (bucketDir <- ls(fs, staging) if bucketDir.isDirectory) {
      val target = new Path(root, s"run=$run/${bucketDir.getPath.getName}")
      fs.mkdirs(target)
      ls(fs, bucketDir.getPath).filter(_.isFile).zipWithIndex.foreach { case (f, k) =>
        rename(fs, f.getPath, new Path(target, s"$CompactedPrefix$id.$k.parquet"))
      }
    }
    publish(fs, root, s"$CompactPrefix$id", s.newest.toString +: deltas.map(d => relative(root, d.path)))
    fs.delete(new Path(root, s"$CompactDir/$id"), true)
    s.withCompaction(id, deltas)
  }

  /** A frame over `deltas`, with `run` as a partition column of `runType`
    * and the data columns of `dataSchema`. No listing, no Spark job. */
  private[store] def deltaFrame(spark: SparkSession, root: Path, deltas: Seq[Delta],
      dataSchema: StructType, runType: DataType): DataFrame = {
    val index = new DeltaFileIndex(root, deltas, runType)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, dataSchema,
      bucketSpec = None, new ParquetFileFormat(), options = Map.empty)(spark))
  }

  /** Deletes what no reader within retention can read: a crashed attempt's
    * delta directory or compaction output, which no record names; the
    * deltas of every compaction that [[RetainCommits]] batches have
    * committed after; and the record of a batch once none of its deltas is
    * live and [[RetainCommits]] batches have committed after it. */
  private def vacuum(fs: FileSystem, root: Path, s: Snapshot): Unit = {
    val horizon = s.newest - RetainCommits
    val expired = s.compactions.values.filter(_.after <= horizon).flatMap(_.folded).toSet
    val (gone, kept) = s.batches.partition { case (id, ds) => id <= horizon && ds.forall(d => expired(d.path)) }
    gone.keys.foreach(id => fs.delete(new Path(root, s"$LogDir/$BatchPrefix$id"), false))
    for (dir <- ls(fs, new Path(root, DeltaDir)) if dir.isDirectory) {
      scala.util.Try(dir.getPath.getName.toLong).toOption.flatMap(kept.get) match {
        case None => fs.delete(dir.getPath, true)
        case Some(ds) => ds.filter(d => expired(d.path)).foreach(d => fs.delete(d.path, false))
      }
    }
    for (staged <- ls(fs, new Path(root, CompactDir)) if staged.isDirectory) {
      val id = staged.getPath.getName
      if (!s.compactions.contains(id)) for {
        runDir <- ls(fs, staged.getPath) if runDir.isDirectory
        bucketDir <- ls(fs, runDir.getPath) if bucketDir.isDirectory
        f <- ls(fs, new Path(root, s"${runDir.getPath.getName}/${bucketDir.getPath.getName}"))
        if f.getPath.getName.startsWith(s"$CompactedPrefix$id.")
      } fs.delete(f.getPath, false)
      fs.delete(staged.getPath, true)
    }
  }

  def resolve(path: String, hadoopConf: Configuration): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    (fs, fs.makeQualified(p))
  }

  /** Writes `lines` under a hidden name, then renames the file into place. */
  private def publish(fs: FileSystem, root: Path, name: String, lines: Seq[String]): Unit = {
    val dir = new Path(root, LogDir)
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.map(_ + "\n").mkString.getBytes(UTF_8)) finally out.close()
    rename(fs, tmp, new Path(dir, name))
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"could not rename $from to $to")

  private def relative(root: Path, p: Path): String =
    root.toUri.relativize(p.toUri).getPath

  /** A directory's entries with Spark's hidden names left out; none when it
    * does not exist. */
  private def ls(fs: FileSystem, dir: Path): Array[FileStatus] =
    try fs.listStatus(dir).filterNot(s =>
      org.apache.spark.GraftSparkHooks.shouldFilterOutPathName(s.getPath.getName))
    catch { case _: FileNotFoundException => Array.empty }
}
