package graft.store

import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.PvFunctions

/** The archived-sample store (SURVEY §1.1, §2.1 S2-S5) on partitioned,
  * sorted Parquet — the Spark-native replacement for the reference's
  * 128 hash-bucketed MySQL tables per run DB (schema.py:21-23,132-133) and
  * its zarr read-optimized copies (archiver.py:542-608).
  *
  * Layout: two parts under one root.
  *  - The tree, `run=R/bucket=B/`: rows sorted by (pvname, time) within
  *    each file. [[write]] appends to it directly; compaction adds one
  *    `compacted-<id>` file per bucket when it folds a run's deltas.
  *  - The ingest sink's committed deltas, `_delta/<batchId>/`: one file
  *    per batch and run, sorted by (bucket, pvname, time), with `run` and
  *    `bucket` as data columns, published by the commit log `_log/`. See
  *    [[CommitLog]].
  *
  * What prunes what:
  *  - run (time) pruning — the `dbs_for_time` elimination
  *    (archiver.py:104-110) — happens only where a query states a run
  *    predicate, as [[scanPv]] does; a `tsUs` range alone keeps every run;
  *  - bucket pruning for single-PV lookups: [[scanPv]] computes
  *    `bucket = hashname(pv)` driver-side, and `BucketPruneRule` adds the
  *    same conjunct to any `pvname = '<literal>'` filter (so `Archive`
  *    gets it). On the tree it is a partition filter, and the scan touches
  *    1/128 of each run, the reference's ">99% of data eliminated"
  *    property (doc/setup.rst:236); on the deltas it is a pushed-down
  *    parquet filter on their sorted `bucket` column;
  *  - parquet min/max row-group stats on `tsUs` within a file (rows
  *    sorted), so even intra-partition scans skip row groups.
  *
  * [[read]] takes one snapshot of the commit log, then lists through a
  * [[StoreFileIndex]]: the root (the run directories) and one file's
  * footer when it is called, then at planning time only the kept runs'
  * bucket directories and the kept buckets' files, all on the driver with
  * no Spark job. The snapshot's live deltas are a second relation of the
  * same columns, unioned after the tree; a store without a log reads as
  * the tree alone. Each listing is kept for the life of the returned
  * frame: re-executing it sees the same files until `refresh()`, and a new
  * `read` sees new commits. A frame stays readable while fewer than
  * [[CommitLog.RetainCommits]] ingest batches commit after its `read`, in
  * this process or any other; after that, call `read` again. Measured on
  * the `query` benchmark (4 cores, traced): `read` took 1.5–1.6 s of a
  * 1.8 s `get_data` as `spark.read.parquet`, in listing and
  * schema-inference jobs, and takes 6–7 ms now.
  */
object SampleStore {

  final val NumBuckets = 128

  /** Ingest normalization (F2/F3, archiver.py:34-44, util.py:295-312):
    * `value` cleaned + capped, dual representation `dvalue` (numeric or
    * null) / `cvalue` (display string), `bucket` from the reference's
    * sha256-base64-charsum hash, `run` from a fixed-width time partition.
    *
    * The width cap lives HERE, at the storage boundary: the reference's
    * clean_string accepts maxlen but never applies it — the effective cap
    * is its varchar(4096) columns truncating on insert (schema.py:22,47),
    * so the store mirrors that, and `dvalue` parses the capped value just
    * as the reference's read side parses what MySQL kept.
    *
    * Input columns: pvname, tsUs (long), value (string), cvalue (string).
    */
  final val MaxValueChars = 4096

  def normalize(raw: DataFrame, runWidthUs: Long): DataFrame = {
    // registration only — tune() would also rewrite session-wide config
    // (timezone, AQE) as a side effect of a pure-looking transform
    graft.Engine.registerFunctions(raw.sparkSession)
    raw
      .withColumn("value", substring(PvFunctions.cleanString(col("value")), 1, MaxValueChars))
      .withColumn("cvalue", substring(col("cvalue"), 1, MaxValueChars))
      .withColumn("dvalue", PvFunctions.cleanValue(col("value")))
      // native codegen expression, not a UDF: this runs per ingested row
      .withColumn("bucket", graft.plans.HashNameExpr.hashname(col("pvname")))
      .withColumn("run", expr(s"tsUs DIV ${runWidthUs}L"))
  }

  /** S3 archive sink: append one (or more) runs of samples. The sort is
    * prefixed with the partition columns: FileFormatWriter requires its
    * output ordered by them and would otherwise re-sort, silently dropping
    * the (pvname, time) clustering the read path relies on.
    */
  def write(samples: DataFrame, path: String): Unit =
    samples
      .repartition(col("run"), col("bucket"))
      .sortWithinPartitions(col("run"), col("bucket"), col("pvname"), col("tsUs"))
      .write
      .mode(SaveMode.Append)
      .partitionBy("run", "bucket")
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val (fs, root) = CommitLog.resolve(path, hadoopConf)
    if (!fs.exists(root)) throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> root.toString))
    val snapshot = CommitLog.snapshot(fs, root)
    val tree = StoreFileIndex(spark, root, fs, hadoopConf, snapshot)
    val deltas = snapshot.liveDeltas
    if (tree.isEmpty && deltas.isEmpty)
      throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet"))
    val dataSchema = tree.fold(
      StructType(CommitLog.DeltaSchema.filterNot(f => f.name == "run" || f.name == "bucket")))(_._2)
    val treeFrame = tree.map { case (index, _) =>
      spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, dataSchema,
        bucketSpec = None, new ParquetFileFormat(), options = Map.empty)(spark))
    }
    val runType = tree.fold(StoreFileIndex.runType(deltas.map(_.run)))(_._1.partitionSchema("run").dataType)
    val deltaFrame = Option.when(deltas.nonEmpty) {
      CommitLog.deltaFrame(spark, root, deltas, dataSchema.add(CommitLog.DeltaSchema("bucket")), runType)
        .select((dataSchema.fieldNames :+ "run" :+ "bucket").map(col).toSeq: _*)
    }
    (treeFrame ++ deltaFrame).reduce(_ union _)
  }

  /** S3's CO-LOCATED flavor: persist as a `bucketBy(pvname)` TABLE so every
    * downstream per-PV join/aggregation between same-bucketed tables is
    * SHUFFLE-FREE — at 100 TB the recurring join of samples to per-PV
    * state (latest cache, pair scores, alert configs) is the dominant
    * exchange, and bucketed scans eliminate it entirely (Catalyst matches
    * the two sides' HashPartitioning from the bucket spec; the spec
    * asserts the joined plan has no Exchange). `sortBy(pvname, tsUs)`
    * additionally lets per-key windows start from sorted bucket files.
    *
    * Goes through the session catalog because bucket metadata lives there
    * (plain `.parquet(path)` has nowhere to record it); the table name is
    * the API. Buckets should be sized so one bucket's hot window fits an
    * executor (SURVEY §5: the reference's 128-way hashname split scaled to
    * cluster width).
    */
  def writeBucketed(samples: DataFrame, table: String, numBuckets: Int = 128): Unit = {
    // dimension tables (per-PV configs) bucket the same way but carry no
    // time column; samples additionally sort by time within each bucket
    val sortCols =
      if (samples.columns.contains("tsUs")) Seq("pvname", "tsUs") else Seq("pvname")
    samples.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, "pvname")
      .sortBy(sortCols.head, sortCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** T5/A2 run registry (`runs` table + `set_runinfo`, schema.py:96-104,
    * cache.py:254-288): one row per run with its observed time span and row
    * count; the newest run is "current" (the reference marks it with
    * stop_time = MAX_EPOCH until rotation). Rotation itself is just the
    * next value of the `run` partition column — no DDL.
    */
  def runRegistry(samples: DataFrame): DataFrame = {
    val agg = samples.groupBy(col("run"))
      .agg(min(col("tsUs")).as("start_us"), max(col("tsUs")).as("stop_us"), count(lit(1)).as("n"))
    val maxRun = agg.agg(max(col("run")).as("__mr"))
    agg.crossJoin(broadcast(maxRun))
      .withColumn("current", col("run") === col("__mr"))
      .drop("__mr")
      .orderBy(col("run"))
  }

  /** S6 read-optimized per-PV export — the reference's zarr zip per closed
    * run (archiver.py:542-608): one directory per run, rows clustered and
    * sorted by (pvname, time) so a per-PV read is a contiguous sorted
    * column scan. In Parquet terms this IS the "zarr copy": columnar,
    * compressed, min/max-indexed; kept as an explicit compaction job for
    * closed runs.
    *
    * `pvMeta` is the attrs sidecar — save_zarr's per-PV `grp.attrs`
    * (description/type/deadtime/deadband/graph_*, archiver.py:576-582)
    * written as one parquet under `<path>/_attrs`. The underscore prefix
    * makes it invisible to data reads of `path` (Hadoop hidden-file
    * convention) while [[readAttrs]] fetches it explicitly — the same
    * data/metadata separation the zarr layout gives.
    */
  def exportRunSorted(samples: DataFrame, path: String,
      pvMeta: Option[DataFrame] = None): Unit = {
    samples
      .repartition(col("run"))
      // run first: satisfies the writer's required ordering so the
      // per-PV clustering survives (see write())
      .sortWithinPartitions(col("run"), col("pvname"), col("tsUs"))
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy("run")
      .parquet(path)
    pvMeta.foreach(
      _.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/_attrs"))
  }

  /** Read back the attrs sidecar written by [[exportRunSorted]]. */
  def readAttrs(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/_attrs")

  /** S7 plain-text dump (pvarch save / mysqldump ≈ CSV per run). */
  def dumpCsv(samples: DataFrame, path: String): Unit =
    samples.write.mode(SaveMode.Overwrite).option("header", "true").partitionBy("run").csv(path)

  /** S4 single-PV range scan with bucket + run pruning: the bucket literal
    * is derived from the pvname driver-side (archiver.py:185-186 pattern),
    * so Catalyst prunes to one bucket directory per overlapping run.
    */
  def scanPv(spark: SparkSession, path: String, pvname: String, t0Us: Long, t1Us: Long,
      runWidthUs: Long): DataFrame = {
    val b = PvFunctions.hashname(pvname)
    read(spark, path)
      .where(col("run") >= t0Us / runWidthUs && col("run") <= t1Us / runWidthUs)
      .where(col("bucket") === b && col("pvname") === pvname)
      .where(col("tsUs") >= t0Us && col("tsUs") < t1Us)
  }
}
