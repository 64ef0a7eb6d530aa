package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.PvFunctions

class SampleStoreSpec extends SparkSpec {

  private val S = 1000000L
  private val runWidth = 100 * S

  private def storeIndex(df: DataFrame): StoreFileIndex =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.get.asInstanceOf[StoreFileIndex]

  test("normalize adds dvalue/cvalue duals, bucket, run") {
    val sp = spark
    import sp.implicits._
    val raw = Seq(
      ("XX:m1.VAL", 10 * S, "1.25", "1.25"),
      ("XX:m1.VAL", 150 * S, "b'2.5'", "2.5"),
      ("XX:s1.VAL", 20 * S, "Open; drop table", "Open"))
      .toDF("pvname", "tsUs", "value", "cvalue")
    val n = SampleStore.normalize(raw, runWidth).collect().map(r =>
      (r.getAs[String]("pvname"), r.getAs[String]("value"), r.getAs[Any]("dvalue"),
        r.getAs[Int]("bucket"), r.getAs[Long]("run"))).toSeq
    assert(n.contains(("XX:m1.VAL", "1.25", 1.25, PvFunctions.hashname("XX:m1.VAL"), 0L)))
    assert(n.contains(("XX:m1.VAL", "b'2.5'", 2.5, PvFunctions.hashname("XX:m1.VAL"), 1L)))
    // injection guard strips from ';', dvalue null for non-numeric
    assert(n.contains(("XX:s1.VAL", "Open", null, PvFunctions.hashname("XX:s1.VAL"), 0L)))
  }

  test("normalize caps value width at the storage boundary (varchar(4096) parity)") {
    val sp = spark
    import sp.implicits._
    val long = "x" * 9000
    val raw = Seq(("XX:w.VAL", 10 * S, long, long)).toDF("pvname", "tsUs", "value", "cvalue")
    val r = SampleStore.normalize(raw, runWidth).collect()(0)
    assert(r.getAs[String]("value").length == SampleStore.MaxValueChars)
    assert(r.getAs[String]("cvalue").length == SampleStore.MaxValueChars)
  }

  test("exportRunSorted writes per-run sorted files; dumpCsv round-trips") {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("graft_export").toString
    val raw = (0 until 100).map { i =>
      (s"X:pv${i % 3}.VAL", i * 10 * S, (i * 1.5).toString, (i * 1.5).toString)
    }.toDF("pvname", "tsUs", "value", "cvalue")
    val samples = SampleStore.normalize(raw, runWidth)
    SampleStore.exportRunSorted(samples, s"$dir/sorted")
    val back = sp.read.parquet(s"$dir/sorted")
    assert(back.count() == 100)
    // rows within each file are clustered and sorted by (pvname, tsUs)
    val perFile = back.select(input_file_name().as("f"), col("pvname"), col("tsUs"))
      .collect().groupBy(_.getString(0))
    perFile.values.foreach { rows =>
      val seq = rows.map(r => (r.getString(1), r.getLong(2))).toSeq
      assert(seq == seq.sorted)
    }
    SampleStore.dumpCsv(samples.drop("dvalue"), s"$dir/csv")
    val csv = sp.read.option("header", "true").csv(s"$dir/csv")
    assert(csv.count() == 100)
  }

  test("exportRunSorted attrs sidecar: per-PV metadata rides along, invisible to data reads") {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("graft_export_attrs").toString
    val raw = (0 until 20).map { i =>
      (s"X:pv${i % 2}.VAL", i * 10 * S, "1.0", "1.0")
    }.toDF("pvname", "tsUs", "value", "cvalue")
    // the save_zarr grp.attrs columns (archiver.py:576-582)
    val meta = Seq(
      ("X:pv0.VAL", "beam current", "double", 5.0, 0.1, Double.box(250.0), Double.box(0.0), "line"),
      ("X:pv1.VAL", "shutter", "enum", 10.0, 0.0, null.asInstanceOf[java.lang.Double], null.asInstanceOf[java.lang.Double], "discrete"))
      .toDF("pvname", "description", "type", "deadtime", "deadband", "graph_hi", "graph_lo", "graph_type")
    SampleStore.exportRunSorted(SampleStore.normalize(raw, runWidth), s"$dir/sorted", Some(meta))
    // data reads of the export see ONLY samples (underscore path is hidden)
    assert(sp.read.parquet(s"$dir/sorted").count() == 20)
    assert(!sp.read.parquet(s"$dir/sorted").columns.contains("description"))
    // the sidecar reads back complete
    val attrs = SampleStore.readAttrs(sp, s"$dir/sorted")
      .collect().map(r => (r.getAs[String]("pvname"), r.getAs[String]("type"))).sorted
    assert(attrs.toSeq == Seq(("X:pv0.VAL", "double"), ("X:pv1.VAL", "enum")))
  }

  test("runRegistry marks the newest run current with per-run spans") {
    val sp = spark
    import sp.implicits._
    val samples = Seq(("a", 10 * S, 0L), ("a", 150 * S, 1L), ("b", 170 * S, 1L))
      .toDF("pvname", "tsUs", "run")
    val got = SampleStore.runRegistry(samples).collect()
      .map(r => (r.getAs[Long]("run"), r.getAs[Long]("n"), r.getAs[Boolean]("current")))
    assert(got.toSeq == Seq((0L, 1L, false), (1L, 2L, true)))
  }

  test("write/scan roundtrip with run+bucket pruning in the plan") {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("graft_store").toString
    val raw = (0 until 500).map { i =>
      val pv = s"T:pv${i % 5}.VAL"
      (pv, i * 10 * S, (i * 1.5).toString, (i * 1.5).toString)
    }.toDF("pvname", "tsUs", "value", "cvalue")
    SampleStore.write(SampleStore.normalize(raw, runWidth), dir)

    val got = SampleStore.scanPv(sp, dir, "T:pv2.VAL", 1000 * S, 3000 * S, runWidth)
    val rows = got.orderBy("tsUs").collect()
    val want = (0 until 500)
      .filter(i => i % 5 == 2 && i * 10 * S >= 1000 * S && i * 10 * S < 3000 * S)
    assert(rows.length == want.size)
    assert(rows.map(_.getAs[Long]("tsUs")).toSeq == want.map(_ * 10 * S))

    // partition pruning must reach the scan: only the pv's bucket + the
    // overlapping runs appear in the file listing
    val plan = got.queryExecution.executedPlan.toString
    val b = PvFunctions.hashname("T:pv2.VAL")
    assert(plan.contains(s"bucket#") || plan.contains("PartitionFilters"))
    val scanned = got.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(_.contains(s"bucket=$b")))
    assert(scanned.forall(f => (10 to 29).exists(r => f.contains(s"run=$r"))))

    // and the reader LISTED no more than that: past the schema probe (the
    // first run and its first bucket), only the runs the run predicate
    // keeps (10..30) and the pv's bucket directory in each
    val probe = storeIndex(SampleStore.read(sp, dir)).listedDirs
    val listed = storeIndex(got).listedDirs -- probe
    val keptRuns = (10 to 30).map(r => s"run=$r").toSet
    assert(listed.exists(_.getName == s"bucket=$b"), listed)
    assert(listed.forall { d =>
      if (d.getName.startsWith("bucket=")) d.getName == s"bucket=$b" && keptRuns(d.getParent.getName)
      else keptRuns(d.getName)
    }, listed.map(_.toString).toSeq.sorted.mkString("\n"))
  }

  test("read launches no Spark job, and a one-PV getData lists and infers nothing") {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("graft_store_jobs").toString
    // 400 PVs over 2 runs: each run has far more than Spark's 32-path
    // parallel-discovery threshold of populated bucket directories
    val raw = (0 until 1600).map { i =>
      (s"J:pv${i % 400}.VAL", i.toLong * 125000L, i.toString, i.toString)
    }.toDF("pvname", "tsUs", "value", "cvalue")
    SampleStore.write(SampleStore.normalize(raw, runWidth), dir)
    assert(new java.io.File(dir, "run=0").list().count(_.startsWith("bucket=")) > 32)

    val (read, readJobs) = jobsOf(SampleStore.read(sp, dir))
    assert(readJobs.isEmpty, readJobs.mkString("\n"))
    val (rows, queryJobs) = jobsOf(
      new graft.Archive(read).getData("J:pv7.VAL", 0L, 200 * S).collect())
    assert(rows.map(_.getAs[Long]("tsUs")).toSeq == (7 until 1600 by 400).map(_ * 125000L))
    // the file reader's driver-side jobs: the leaf-file listing (its
    // description) and the footer schema merge (a DataFrameReader call site)
    val listingOrInference = queryJobs.filter(j =>
      j.startsWith("Listing leaf files") || j.contains("DataFrameReader"))
    assert(queryJobs.nonEmpty && listingOrInference.isEmpty, queryJobs.mkString("\n"))
  }

  test("read matches spark.read.parquet: schema, partition types, rows and size") {
    val sp = spark
    import sp.implicits._
    def raw(ts: Seq[Long]) = ts.zipWithIndex.map { case (t, i) =>
      (s"P:pv${i % 7}.VAL", t, s"${i * 0.5}", s"${i * 0.5}")
    }.toDF("pvname", "tsUs", "value", "cvalue")
    def same(dir: String, runType: org.apache.spark.sql.types.DataType): Unit = {
      val ours = SampleStore.read(sp, dir)
      val theirs = sp.read.parquet(dir)
      assert(ours.schema == theirs.schema)
      assert(ours.schema("run").dataType == runType)
      assert(ours.schema("bucket").dataType == org.apache.spark.sql.types.IntegerType)
      assert(ours.count() == theirs.count())
      assert(ours.exceptAll(theirs).isEmpty && theirs.exceptAll(ours).isEmpty)
      assert(ours.queryExecution.optimizedPlan.stats.sizeInBytes ==
        theirs.queryExecution.optimizedPlan.stats.sizeInBytes)
    }
    // ingest's per-batch marker files (`_batches/<id>`) beside the runs
    def markers(dir: String): Unit = {
      new java.io.File(dir, "_batches").mkdirs()
      Seq("0", "1").foreach(id => new java.io.File(dir, s"_batches/$id").createNewFile())
    }
    val dir = Files.createTempDirectory("graft_store_parity").toString
    SampleStore.write(SampleStore.normalize(raw((0 until 300).map(_ * 3 * S)), runWidth), dir)
    markers(dir)
    same(dir, org.apache.spark.sql.types.IntegerType)
    // runWidthUs = 1: run ids are the timestamps, past Int.MaxValue
    val wide = Files.createTempDirectory("graft_store_parity_long").toString
    SampleStore.write(SampleStore.normalize(
      raw(Seq(5L, 1000L, Int.MaxValue.toLong + 1, 3L * Int.MaxValue)), runWidthUs = 1L), wide)
    same(wide, org.apache.spark.sql.types.LongType)
    // a store holding only markers fails the same way
    val empty = Files.createTempDirectory("graft_store_parity_empty").toString
    markers(empty)
    val ours = intercept[org.apache.spark.sql.AnalysisException](SampleStore.read(sp, empty))
    val theirs = intercept[org.apache.spark.sql.AnalysisException](sp.read.parquet(empty))
    assert(ours.getCondition == theirs.getCondition, ours.getMessage)
  }

  test("writeBucketed: joins between same-bucketed tables run shuffle-free") {
    val sp = spark
    import sp.implicits._
    val samples = (0 until 400).map(i => (s"PV:${i % 20}", i.toLong * S, i * 0.5))
      .toDF("pvname", "tsUs", "value")
    val dims = (0 until 20).map(i => (s"PV:$i", s"desc$i")).toDF("pvname", "description")
    try {
      SampleStore.writeBucketed(samples, "graft_bkt_samples", numBuckets = 8)
      SampleStore.writeBucketed(dims, "graft_bkt_dims", numBuckets = 8)
      // force a sort-merge shape (no broadcast) to prove the exchange
      // elimination comes from the BUCKET spec, not from a broadcast;
      // the hint must ride a join INPUT, not the joined result
      val smj = sp.table("graft_bkt_samples").hint("merge")
        .join(sp.table("graft_bkt_dims").hint("merge"), "pvname")
      val plan = smj.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan) // co-located: zero shuffles
      assert(smj.count() == 400)
      // and a per-key aggregation over one bucketed table: also exchange-free
      val agg = sp.table("graft_bkt_samples").groupBy(col("pvname"))
        .agg(count(lit(1)).as("n"))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        agg.queryExecution.executedPlan.toString)
      assert(agg.count() == 20)
    } finally {
      sp.sql("DROP TABLE IF EXISTS graft_bkt_samples")
      sp.sql("DROP TABLE IF EXISTS graft_bkt_dims")
    }
  }
}
