package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{Engine, SparkSpec}
import graft.functions.PvFunctions

class GraftPlansSpec extends SparkSpec {

  test("HFormatExpr matches the Scala function through SQL and Column forms") {
    Engine.tune(spark)
    val sp = spark
    import sp.implicits._
    val df = Seq(185.22, 1.1e-9, -0.0, 99999995.2, 6.02e23).toDF("d")
    val got = df.select(
      expr("graft_hformat(d, 12)").as("sqlform"),
      HFormatExpr.hformat(col("d"), lit(12)).as("colform"),
      col("d")).collect()
    got.foreach { r =>
      val want = PvFunctions.hformat(r.getDouble(2), 12)
      assert(r.getString(0) == want && r.getString(1) == want)
    }
  }

  test("HFormatExpr survives whole-stage codegen on a real pipeline") {
    Engine.tune(spark)
    val sp = spark
    import sp.implicits._
    val df = (1 to 1000).map(_.toDouble / 7.0).toDF("d")
    val out = df.where(col("d") > 1.0)
      .select(expr("graft_hformat(d, 10)").as("s")).collect()
    assert(out.length == 993) // 8/7 .. 1000/7 exceed 1.0
    assert(out.forall(_.getString(0).length <= 10))
  }

  test("HashNameExpr matches the Scala function through SQL and Column forms") {
    Engine.tune(spark)
    val sp = spark
    import sp.implicits._
    val df = Seq("XX:m1.VAL", "S13:v", "", "T:pv1.VAL", "π:uni").toDF("p")
    val got = df.select(
      expr("graft_hashname(p)").as("sqlform"),
      HashNameExpr.hashname(col("p")).as("colform"),
      col("p")).collect()
    got.foreach { r =>
      val want = PvFunctions.hashname(r.getString(2))
      assert(r.getInt(0) == want && r.getInt(1) == want, r.getString(2))
    }
  }

  test("HashNameExpr survives whole-stage codegen and handles nulls") {
    Engine.tune(spark)
    val sp = spark
    import sp.implicits._
    val df = (1 to 500).map(i => s"T:pv$i.VAL").toDF("p")
      .unionByName(Seq.empty[String].toDF("p"))
    val out = df.where(length(col("p")) > 6)
      .select(expr("graft_hashname(p)").as("b")).collect()
    assert(out.forall { r => val b = r.getInt(0); b >= 0 && b < 128 })
    // null in → null out (nullSafeEval path)
    val n = Seq[Option[String]](None).toDF("p")
      .select(expr("graft_hashname(p)")).collect()(0)
    assert(n.isNullAt(0))
  }

  test("NormalizeTextExpr: NFC + control scrub + collapse, through codegen") {
    Engine.tune(spark)
    val sp = spark
    import sp.implicits._
    val df = Seq(
      "cafe\u0301  x",          // NFD -> café; double space collapses
      "a\tb\r\nc",              // controls become single spaces
      " \u200b lead/trail \t ", // zero-width (Cf) scrubbed, trimmed
      "",
      "\t\t").toDF("t")
      .union((1 to 300).map(i => s"bulk doc $i").toDF("t")) // force codegen path
    val got = df.select(expr("graft_normalize_text(t)").as("c")).collect()
      .map(_.getString(0)).take(5)
    assert(got(0) == "caf\u00e9 x")
    assert(got(1) == "a b c")
    assert(got(2) == "lead/trail")
    assert(got(3) == "" && got(4) == "")
    val n = Seq[Option[String]](None).toDF("t")
      .select(expr("graft_normalize_text(t)")).collect()(0)
    assert(n.isNullAt(0))
  }

  // a parquet-backed relation: ConvertToLocalRelation would otherwise fold
  // a Filter-over-LocalRelation away before the plan can be inspected
  private lazy val parquetDf = {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("graft_rule").toString
    Seq(("XX:m1.VAL", 3, 0L, 10L, 1.0), ("YY:m2.VAL", 7, 0L, 20L, 2.0))
      .toDF("pvname", "bucket", "run", "tsUs", "v")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("BucketPruneRule ignores relations without the store signature") {
    Engine.tune(spark)
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("graft_rule_neg").toString
    // pvname+bucket alone (no run/tsUs) — e.g. an unrelated user frame
    Seq(("XX:m1.VAL", 999, 1.0)).toDF("pvname", "bucket", "v")
      .write.mode("overwrite").parquet(dir)
    val plan = sp.read.parquet(dir).where(col("pvname") === "XX:m1.VAL")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("= " + PvFunctions.hashname("XX:m1.VAL").toString), plan)
  }

  test("BucketPruneRule adds the bucket conjunct for pvname equality") {
    Engine.tune(spark)
    val plan = parquetDf.where(col("pvname") === "XX:m1.VAL")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains(s"bucket#") && plan.contains(PvFunctions.hashname("XX:m1.VAL").toString),
      s"bucket predicate missing in:\n$plan")
  }

  test("BucketPruneRule leaves OR-ed and already-bucketed filters alone") {
    Engine.tune(spark)
    val orPlan = parquetDf.where(col("pvname") === "XX:m1.VAL" || col("v") > 0)
      .queryExecution.optimizedPlan.toString
    assert(!orPlan.contains("= " + PvFunctions.hashname("XX:m1.VAL").toString))
    // manual bucket predicate -> no duplicate added
    val manual = parquetDf.where(col("pvname") === "XX:m1.VAL" && col("bucket") === 5)
      .queryExecution.optimizedPlan.toString
    assert(!manual.contains("= " + PvFunctions.hashname("XX:m1.VAL").toString))
  }

  test("BucketPruneRule never rewrites a filter whose pvname and bucket come from different relations") {
    Engine.tune(spark)
    val sp = spark
    import sp.implicits._
    val dimDir = Files.createTempDirectory("graft_rule_dim").toString
    Seq(("XX:m1.VAL", 1.0)).toDF("pvname", "score")
      .write.mode("overwrite").parquet(dimDir)
    // store side WITHOUT its pvname × dim side WITH one: the joined frame
    // carries the full store signature plus a pvname that belongs to the
    // OTHER relation — a bucket conjunct derived from it would wrongly
    // restrict the store rows (here the YY row, bucket 7) even though the
    // join is not a pvname equi-join
    val q = parquetDf.drop("pvname").crossJoin(sp.read.parquet(dimDir))
      .where(col("pvname") === "XX:m1.VAL")
    val plan = q.queryExecution.optimizedPlan.toString
    assert(!plan.contains("= " + PvFunctions.hashname("XX:m1.VAL").toString), plan)
    assert(q.count() == 2) // both store rows survive the dim-side filter
  }

  test("BucketPruneRule prunes partitioned store scans end-to-end") {
    Engine.tune(spark)
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("graft_prune").toString
    val raw = (0 until 200).map { i =>
      (s"T:pv${i % 4}.VAL", i.toLong * 1000000L, i.toString, i.toString)
    }.toDF("pvname", "tsUs", "value", "cvalue")
    graft.store.SampleStore.write(
      graft.store.SampleStore.normalize(raw, runWidthUs = 1L << 60), dir)
    // a PLAIN pvname filter — no manual bucket math — must scan 1 bucket
    // dir, through either reader of the store
    Seq(sp.read.parquet(dir), graft.store.SampleStore.read(sp, dir)).foreach { store =>
      val q = store.where(col("pvname") === "T:pv1.VAL")
      val files = q.select(input_file_name()).distinct().collect().map(_.getString(0))
      val b = PvFunctions.hashname("T:pv1.VAL")
      assert(files.nonEmpty && files.forall(_.contains(s"bucket=$b")), files.mkString("\n"))
      assert(q.count() == 50)
    }
  }
}
