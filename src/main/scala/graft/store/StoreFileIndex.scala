package graft.store

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BasePredicate, BoundReference, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, MapType, StructField, StructType}
import org.apache.spark.GraftSparkHooks

/** A [[FileIndex]] over the `run=R/bucket=B` sample store that lists lazily
  * and prunes as it descends, on the driver, without a Spark job.
  *
  * `spark.read.parquet(path)` lists every directory before any filter is
  * seen: a run's 128 bucket directories exceed Spark's parallel-discovery
  * threshold, so each run costs a listing job, and schema inference costs
  * one more. This index lists the root once at construction (the run
  * directories), reads the data schema from one file's footer, and defers
  * the rest to [[listFiles]]: run-only partition conjuncts pick the run
  * directories, only those are listed, run+bucket conjuncts (including the
  * one `BucketPruneRule` adds) pick the bucket directories, and only those
  * are listed for files.
  *
  * Snapshot rule: one `SampleStore.read` takes one snapshot of the store's
  * commit log ([[CommitLog]]) and shares it between this index and the
  * [[DeltaFileIndex]] of the committed deltas. A compaction's output file
  * (`compacted-<id>`) is listed only if the snapshot holds its record, and
  * the deltas it superseded are served only if the snapshot does not, so
  * a read sees each committed batch whole, once, however long after the
  * snapshot a directory is listed. Every directory listing is memoized for
  * the life of the index, so a held frame that is re-executed sees the
  * same files; [[refresh]] drops the memo but keeps the snapshot, and a new
  * `read` takes a new one. [[sizeInBytes]] and [[inputFiles]] walk the
  * whole tree through the same memo, so for a store without deltas the
  * statistics the planner asks for equal the ones `spark.read.parquet`
  * gives.
  *
  * Partition types follow Spark's inference for these names: `bucket` is
  * int, `run` is int when every run id of the tree and of the live deltas
  * fits in an int and long otherwise, and `__HIVE_DEFAULT_PARTITION__`
  * reads as null.
  */
final class StoreFileIndex private (root: Path, fs: FileSystem, snapshot: CommitLog.Snapshot)
    extends FileIndex {
  import StoreFileIndex._

  private val memo = new ConcurrentHashMap[Path, Array[FileStatus]]()

  /** The run ids of the tree's run directories. */
  private def treeRuns: Seq[Long] = partitionDirs(ls(root), "run").flatMap(_._2)

  override val partitionSchema: StructType = StructType(Seq(
    StructField("run", runType(treeRuns ++ snapshot.liveDeltas.map(_.run))),
    StructField("bucket", IntegerType)))

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val (runOnly, runBucket) = partitionFilters.partition(_.references.forall(_.name == "run"))
    val keepRun = predicate(runOnly, partitionSchema.take(1))
    val keepBucket = predicate(runBucket, partitionSchema)
    val runType = partitionSchema.head.dataType
    for {
      (runDir, run) <- partitionDirs(ls(root), "run")
      runValue = partitionValue(run, runType)
      if keepRun.eval(InternalRow(runValue))
      (bucketDir, bucket) <- partitionDirs(ls(runDir), "bucket")
      values = InternalRow(runValue, partitionValue(bucket, IntegerType))
      if keepBucket.eval(values)
      files = ls(bucketDir).filter(_.isFile)
      if files.nonEmpty
    } yield PartitionDirectory(values, files)
  }

  override def inputFiles: Array[String] =
    allFiles.map(_.getPath.toUri.toString).toArray

  override def sizeInBytes: Long = allFiles.map(_.getLen).sum

  override def refresh(): Unit = memo.clear()

  /** The directories listed so far. */
  private[store] def listedDirs: Set[Path] = memo.keySet.asScala.toSet

  /** The first data file in name order, descending only as far as needed. */
  private def firstDataFile: Option[FileStatus] =
    partitionDirs(ls(root), "run").iterator
      .flatMap { case (runDir, _) => partitionDirs(ls(runDir), "bucket") }
      .flatMap { case (bucketDir, _) => ls(bucketDir).find(_.isFile) }
      .nextOption()

  private def allFiles: Seq[FileStatus] = listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))

  /** A directory's visible entries, name-sorted, listed once per index. */
  private def ls(dir: Path): Array[FileStatus] =
    memo.computeIfAbsent(dir, d =>
      fs.listStatus(d)
        .filter { s =>
          val name = s.getPath.getName
          !GraftSparkHooks.shouldFilterOutPathName(name) && snapshot.visibleInTree(name)
        }
        .sortBy(_.getPath.getName))
}

/** A [[FileIndex]] over committed delta files: `run` is their partition
  * column, from the commit record, and `bucket` a data column, so a
  * `bucket = b` conjunct reaches the parquet reader as a pushed-down filter
  * and skips the row groups of other buckets (a delta is sorted by
  * bucket). File sizes come from the records: no listing, no Spark job.
  * The files stay on disk for [[CommitLog.RetainCommits]] commits after
  * the snapshot that named them.
  */
final class DeltaFileIndex private[store] (root: Path, deltas: Seq[CommitLog.Delta], runType: DataType)
    extends FileIndex {

  override val partitionSchema: StructType = StructType(Seq(StructField("run", runType)))

  override def rootPaths: Seq[Path] = Seq(new Path(root, CommitLog.DeltaDir))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = StoreFileIndex.predicate(partitionFilters, partitionSchema)
    deltas.groupBy(_.run).toSeq.sortBy(_._1).collect {
      case (run, ds) if keep.eval(InternalRow(StoreFileIndex.partitionValue(Some(run), runType))) =>
        PartitionDirectory(InternalRow(StoreFileIndex.partitionValue(Some(run), runType)),
          ds.map(_.status).toArray)
    }
  }

  override def inputFiles: Array[String] = deltas.map(_.path.toUri.toString).toArray

  override def sizeInBytes: Long = deltas.map(_.length).sum

  override def refresh(): Unit = ()
}

object StoreFileIndex {

  private val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** The tree's index, when the tree holds a file `snapshot` sees, and the
    * data schema, read from one such file's footer; no Spark job runs. */
  private[store] def apply(spark: SparkSession, root: Path, fs: FileSystem, hadoopConf: Configuration,
      snapshot: CommitLog.Snapshot): Option[(StoreFileIndex, StructType)] = {
    val index = new StoreFileIndex(root, fs, snapshot)
    index.firstDataFile.map { first =>
      val footer = new Footer(first.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(first, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
      val fileSchema = ParquetFileFormat.readSchemaFromFooter(
        footer, new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      val partCols = index.partitionSchema.fieldNames.toSet
      (index, StructType(fileSchema.filterNot(f => partCols(f.name)).map(asNullable)))
    }
  }

  /** Spark's inferred type for partition values `runs`. */
  private[store] def runType(runs: Seq[Long]): DataType =
    if (runs.forall(_.isValidInt)) IntegerType else LongType

  /** `name=value` sub-directories, with the value parsed (None for null). */
  private def partitionDirs(entries: Array[FileStatus], name: String): Seq[(Path, Option[Long])] =
    entries.toSeq.collect {
      case s if s.isDirectory && s.getPath.getName.startsWith(s"$name=") =>
        val v = s.getPath.getName.substring(name.length + 1)
        s.getPath -> (if (v == NullPartition) None else Some(v.toLong))
    }

  private[store] def partitionValue(v: Option[Long], t: DataType): Any = (v, t) match {
    case (Some(x), IntegerType) => Math.toIntExact(x)
    case (Some(x), LongType) => x
    case _ => null
  }

  /** The conjunction of `filters`, bound to the partition row `fields`. */
  private[store] def predicate(filters: Seq[Expression], fields: Seq[StructField]): BasePredicate = {
    val bound = filters.reduceOption[Expression](And).getOrElse(Literal(true)).transform {
      case a: AttributeReference =>
        val i = fields.indexWhere(_.name == a.name)
        BoundReference(i, fields(i).dataType, nullable = true)
    }
    Predicate.createInterpreted(bound)
  }

  /** Spark reads every file-source data column as nullable. */
  private def asNullable(f: StructField): StructField =
    f.copy(dataType = asNullable(f.dataType), nullable = true)

  private def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.map(asNullable))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
