package graft.store

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, SparkSession}
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
  * Snapshot rule: every directory listing is memoized for the life of the
  * index (one `SampleStore.read`), so a held frame that is re-executed sees
  * one snapshot per directory; [[refresh]] drops the memo, and a new `read`
  * sees new appends. [[sizeInBytes]] and [[inputFiles]] walk the whole
  * store through the same memo, so the statistics the planner asks for
  * equal the ones `spark.read.parquet` gives.
  *
  * Partition types follow Spark's inference for these names: `bucket` is
  * int, `run` is int when every run id fits in an int and long otherwise,
  * and `__HIVE_DEFAULT_PARTITION__` reads as null.
  */
final class StoreFileIndex private (root: Path, hadoopConf: Configuration) extends FileIndex {
  import StoreFileIndex._

  private val fs = root.getFileSystem(hadoopConf)
  private val memo = new ConcurrentHashMap[Path, Array[FileStatus]]()

  override val partitionSchema: StructType = {
    val runs = partitionDirs(ls(root), "run").flatMap(_._2)
    val runType = if (runs.forall(_.isValidInt)) IntegerType else LongType
    StructType(Seq(StructField("run", runType), StructField("bucket", IntegerType)))
  }

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
        .filterNot(s => GraftSparkHooks.shouldFilterOutPathName(s.getPath.getName))
        .sortBy(_.getPath.getName))
}

object StoreFileIndex {

  private val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** The index and the store's data schema, read from one file's footer;
    * no Spark job runs. Fails the way `spark.read.parquet` does when the
    * path is missing or holds no data file.
    */
  def apply(spark: SparkSession, path: String): (StoreFileIndex, StructType) = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val root = fs.makeQualified(p)
    if (!fs.exists(root)) throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> root.toString))
    val index = new StoreFileIndex(root, hadoopConf)
    val first = index.firstDataFile.getOrElse(
      throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
    val footer = new Footer(first.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(first, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
    val fileSchema = ParquetFileFormat.readSchemaFromFooter(
      footer, new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    val partCols = index.partitionSchema.fieldNames.toSet
    (index, StructType(fileSchema.filterNot(f => partCols(f.name)).map(asNullable)))
  }

  /** `name=value` sub-directories, with the value parsed (None for null). */
  private def partitionDirs(entries: Array[FileStatus], name: String): Seq[(Path, Option[Long])] =
    entries.toSeq.collect {
      case s if s.isDirectory && s.getPath.getName.startsWith(s"$name=") =>
        val v = s.getPath.getName.substring(name.length + 1)
        s.getPath -> (if (v == NullPartition) None else Some(v.toLong))
    }

  private def partitionValue(v: Option[Long], t: DataType): Any = (v, t) match {
    case (Some(x), IntegerType) => Math.toIntExact(x)
    case (Some(x), LongType) => x
    case _ => null
  }

  /** The conjunction of `filters`, bound to the partition row `fields`. */
  private def predicate(filters: Seq[Expression], fields: Seq[StructField]): BasePredicate = {
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
