package graft.store

import java.io.FileNotFoundException
import java.lang.ref.WeakReference
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

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
  *   _log/compact-<id>                            its record: the deltas it supersedes
  * }}}
  *
  * A delta holds every stored column, `run` and `bucket` included, sorted
  * by `(bucket, pvname, tsUs)`, so a one-PV scan skips row groups by the
  * pushed-down `bucket = b` filter. The underscore names keep the
  * bookkeeping out of `spark.read.parquet`'s view of the tree.
  *
  * Commit: a record is written under a hidden name and renamed into place
  * as the last step, so it appears whole or not at all, and only named
  * files are ever read. A batch id that has a record is never written
  * again; a crashed attempt's files are named by no record, so no reader
  * sees them, and [[vacuum]] deletes them. This is the epoch-id argument of
  * the Structured Streaming paper (SIGMOD 2018): the engine replays only
  * an uncommitted batch id, and the sink publishes each id once.
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
  * One writer per store: the stream that owns the store's checkpoint.
  * Records are small and are never deleted, so a replayed batch id stays
  * recognised for the life of the store; a snapshot opens every record.
  */
object CommitLog {

  final val LogDir = "_log"
  final val DeltaDir = "_delta"
  final val CompactDir = "_compact"
  final val CompactedPrefix = "compacted-"
  private final val BatchPrefix = "batch-"
  private final val CompactPrefix = "compact-"
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

  /** What one listing of the log says: the committed batches' deltas and the
    * committed compactions. `pin` is set for a reader's snapshot. */
  final class Snapshot private[CommitLog] (
      val batches: Map[Long, Seq[Delta]],
      val compactions: Map[String, Set[Path]],
      private val pin: Pin) {

    private lazy val superseded: Set[Path] = compactions.values.flatten.toSet

    /** The deltas no committed compaction has folded, in batch order. */
    lazy val liveDeltas: Seq[Delta] =
      batches.toSeq.sortBy(_._1).flatMap(_._2).filterNot(d => superseded(d.path))

    def committed(batchId: Long): Boolean = batches.contains(batchId)

    /** Whether a tree file belongs to the tree this snapshot sees: every
      * file but a compaction's output that this snapshot holds no record of. */
    def visibleInTree(name: String): Boolean =
      !name.startsWith(CompactedPrefix) ||
        compactions.contains(name.stripPrefix(CompactedPrefix).takeWhile(_ != '.'))

    private[CommitLog] def withBatch(id: Long, ds: Seq[Delta]): Snapshot =
      new Snapshot(batches + (id -> ds), compactions, pin)

    private[CommitLog] def withCompaction(id: String, folded: Seq[Delta]): Snapshot =
      new Snapshot(batches, compactions + (id -> folded.map(_.path).toSet), pin)
  }

  /** A reader's claim on the deltas its snapshot names; `live` is null while
    * the log is being listed. Held strongly by the reader's snapshot only,
    * so it lapses when the reader's frame is garbage. */
  private final class Pin { @volatile var live: Set[Path] = null }

  private val pins = new ConcurrentHashMap[Path, java.util.Set[WeakReference[Pin]]]()

  /** The log as it is now, for the writer. */
  def snapshot(fs: FileSystem, root: Path): Snapshot = load(fs, root, null)

  /** The log as it is now, for a reader: until the snapshot is garbage,
    * [[vacuum]] deletes no delta it names. The pin is registered before the
    * log is listed, so a compaction that commits in between cannot delete
    * a delta this snapshot still names. */
  def readerSnapshot(fs: FileSystem, root: Path): Snapshot = {
    val pin = new Pin
    val held = pins.computeIfAbsent(root, _ => ConcurrentHashMap.newKeySet[WeakReference[Pin]]())
    held.removeIf(_.get == null)
    held.add(new WeakReference(pin))
    val s = load(fs, root, pin)
    pin.live = s.liveDeltas.map(_.path).toSet
    s
  }

  private def load(fs: FileSystem, root: Path, pin: Pin): Snapshot = {
    val records = ls(fs, new Path(root, LogDir)).filter(_.isFile).map(_.getPath)
    def fields(p: Path): Seq[Array[String]] = {
      val in = fs.open(p)
      val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
      body.linesIterator.filter(_.nonEmpty).map(_.split('\t')).toSeq
    }
    val batches = records.collect { case p if p.getName.startsWith(BatchPrefix) =>
      val id = p.getName.stripPrefix(BatchPrefix).toLong
      id -> fields(p).map(f => Delta(id, f(0).toLong, new Path(root, f(2)), f(1).toLong))
    }.toMap
    val compactions = records.collect { case p if p.getName.startsWith(CompactPrefix) =>
      p.getName.stripPrefix(CompactPrefix) -> fields(p).map(f => new Path(root, f(0))).toSet
    }.toMap
    new Snapshot(batches, compactions, pin)
  }

  /** Appends one normalized micro-batch as batch `batchId`, exactly once: a
    * batch id with a record writes nothing; one without deletes what an
    * earlier attempt left, writes one file per run, then publishes its
    * record. Then compacts the runs that are due and vacuums. */
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
    deltaFrame(spark, root, s, deltas, StructType(DeltaSchema.filterNot(_.name == "run")), LongType)
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
    publish(fs, root, s"$CompactPrefix$id", deltas.map(d => relative(root, d.path)))
    fs.delete(new Path(root, s"$CompactDir/$id"), true)
    s.withCompaction(id, deltas)
  }

  /** A frame over `deltas` of snapshot `s`, with `run` as a partition
    * column of `runType` and the data columns of `dataSchema`. No listing,
    * no Spark job. The frame holds `s`, and with it a reader's pin. */
  private[store] def deltaFrame(spark: SparkSession, root: Path, s: Snapshot, deltas: Seq[Delta],
      dataSchema: StructType, runType: DataType): DataFrame = {
    val index = new DeltaFileIndex(root, s, deltas, runType)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, dataSchema,
      bucketSpec = None, new ParquetFileFormat(), options = Map.empty)(spark))
  }

  /** Deletes what no snapshot can read: a crashed attempt's delta directory
    * or compaction output, which no record names, and the deltas a committed
    * compaction superseded, unless a live reader's snapshot still names
    * them. */
  private def vacuum(fs: FileSystem, root: Path, s: Snapshot): Unit = {
    val named = Option(pins.get(root)).toSeq.flatMap(_.asScala.flatMap(r => Option(r.get)).map(_.live))
    val listing = named.contains(null)
    val pinned = if (listing) Set.empty[Path] else named.flatten.toSet
    val superseded = s.compactions.values.flatten.toSet
    def reclaimable(d: Delta) = !listing && superseded(d.path) && !pinned(d.path)
    for (dir <- ls(fs, new Path(root, DeltaDir)) if dir.isDirectory) {
      val id = scala.util.Try(dir.getPath.getName.toLong).toOption
      id.flatMap(s.batches.get) match {
        case None => fs.delete(dir.getPath, true)
        case Some(ds) if ds.forall(reclaimable) => fs.delete(dir.getPath, true)
        case Some(ds) => ds.filter(reclaimable).foreach(d => fs.delete(d.path, false))
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
