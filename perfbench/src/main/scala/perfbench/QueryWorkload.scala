package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.Archive
import graft.operators.{Export, Pairs, TimeSeries}
import graft.store.SampleStore

/** One web-app request against the settled archive. */
sealed trait Op { def kind: String }
final case class GetData(pv: Int, t0: Long, t1: Long) extends Op { val kind = "get_data" }
final case class ValueAt(pv: Int, t: Long) extends Op { val kind = "value_at_time" }
final case class Plot(pv: Int, t0: Long, t1: Long) extends Op { val kind = "plot" }
final case class ExportOp(pv: Int, t0: Long, t1: Long) extends Op { val kind = "export" }
final case class Related(pv: Int) extends Op { val kind = "related" }
final case class Activity(t: Long) extends Op { val kind = "activity" }

/** The read path: a seeded op mix over the settled store, each op opening
  * the store through `SampleStore.read` as a web request would, timed until
  * its result is collected on the driver.
  */
final class Reader(ctx: Ctx, h: Gen.History, store: String, pairsPath: String) {
  private val spark = ctx.spark

  /** The op mix: [[Reader.Cycle]] repeated, with seeded PVs and time
    * ranges. `TimeSeries.locfAlign` is not in it: it fails on PV names
    * containing '.', see [[locfProbe]]. */
  def ops(seed: Long, n: Int): Seq[Op] = {
    val r = Gen.rng(seed, 11L)
    def normal: Int = h.hot + r.nextInt(h.size - h.hot)
    def range(len: Long): (Long, Long) = {
      val t0 = h.t0Us + (r.nextDouble() * (h.endUs - h.t0Us - len)).toLong
      (t0, t0 + len)
    }
    def hourToDay: Long = Gen.HourUs + (r.nextDouble() * (Gen.DayUs - Gen.HourUs)).toLong
    Seq.tabulate(n)(i => Reader.Cycle(i % Reader.Cycle.size)).map {
      case "get_data" =>
        val (t0, t1) = range(hourToDay)
        GetData(if (r.nextDouble() < 0.2) r.nextInt(h.hot) else normal, t0, t1)
      case "value_at_time" => ValueAt(normal, range(0)._1)
      case "plot" =>
        val (t0, t1) = range(Gen.WeekUs)
        Plot(r.nextInt(h.hot), t0, t1)
      case "export" =>
        val (t0, t1) = range(hourToDay)
        ExportOp(normal, t0, t1)
      case "related" => Related(normal)
      case "activity" => Activity(range(0)._1)
    }
  }

  private def open(op: Long): DataFrame = ctx.trace.span("store.read", op)(SampleStore.read(spark, store))

  /** Runs one op; returns the collected rows and the frame they came from. */
  def run(op: Op, id: Long): (Array[Row], DataFrame) = {
    val name = (i: Int) => h.names(i)
    op match {
      case GetData(pv, t0, t1) =>
        val df = new Archive(open(id)).getData(name(pv), t0, t1)
        (df.collect(), df)
      case ValueAt(pv, t) =>
        val df = new Archive(open(id)).valueAtTime(name(pv), t)
        (df.collect(), df)
      case Plot(pv, t0, t1) =>
        val d = new Archive(open(id)).getData(name(pv), t0, t1)
        val df = TimeSeries.decimateToCap(d, "tsUs", "tsUs", "dvalue", cap = 30000L, sample = 3, percent = 15.0)
        try (df.collect(), df) finally df.unpersist()
      case ExportOp(pv, t0, t1) =>
        val df = Export.asciiRows(new Archive(open(id)).getData(name(pv), t0, t1), "tsUs", "dvalue")
        (df.collect(), df)
      case Related(pv) =>
        val edges = spark.read.parquet(pairsPath)
        val df = Pairs.related(edges, "pv1", "pv2", "score", lit(name(pv)), 10)
        (df.collect(), df)
      case Activity(t) =>
        val df = new Archive(open(id)).activity(t, Gen.HourUs, 2L)
        (df.collect(), df)
    }
  }

  /** Whether `TimeSeries.locfAlign` accepts this archive's PV names. EPICS
    * names carry a record field after a '.', and locfAlign resolves each
    * pivoted PV column by name, reading the '.' as a struct field access.
    * Untimed; the failure is reported, not counted.
    */
  def locfProbe(): Either[String, Unit] =
    try {
      TimeSeries.locfAlign(SampleStore.read(spark, store), "pvname", "tsUs", "dvalue",
        Seq(h.names(h.hot), h.names(h.hot + 1)), h.t0Us, h.t0Us + Gen.DayUs)
      Right(())
    } catch { case e: org.apache.spark.sql.AnalysisException => Left(e.getMessage.takeWhile(_ != '\n')) }

  /** Checks an answer against the plain-Scala model of the history. */
  def verify(op: Op, rows: Array[Row]): Option[String] = {
    def ts(r: Row): Long = r.getAs[Long]("tsUs")
    def dv(r: Row): Double = r.getAs[Double]("dvalue")
    op match {
      case GetData(pv, t0, t1) =>
        val (t, v) = h.series(pv)
        val in = t.indices.filter(k => t(k) >= t0 && t(k) < t1)
        val early = t.indices.filter(k => t(k) < t0 && t(k) >= t0 - Gen.DayUs).lastOption
        val want = (early.toSeq ++ in).map(k => (t(k), v(k)))
        val got = rows.toSeq.map(r => (ts(r), dv(r)))
        if (got == want) None else Some(s"get_data ${h.names(pv)}: ${got.size} rows vs model ${want.size}")
      case ValueAt(pv, at) =>
        val (t, v) = h.series(pv)
        val want = t.indices.filter(k => t(k) <= at && t(k) >= at - Gen.DayUs - 60000000L).lastOption
          .map(k => (t(k), v(k))).toSeq
        val got = rows.toSeq.map(r => (ts(r), dv(r)))
        if (got == want) None else Some(s"value_at_time ${h.names(pv)}: $got vs model $want")
      case _ => None
    }
  }
}

object Reader {
  /** The op kinds in the order every run issues them, so runs differ only
    * in PVs and time ranges; a kind's count is its weight in the mix. Every
    * kind comes up within the first six ops. */
  val Cycle: Seq[String] = Seq("get_data", "value_at_time", "export", "plot", "related", "activity",
    "get_data", "value_at_time", "export", "get_data")
  val Weights: Map[String, Double] = Cycle.groupBy(identity).map { case (k, ks) => k -> ks.size.toDouble }

  /** File-scan nodes of an executed plan (adaptive stages expanded). */
  def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s if s.metrics.contains("numFiles") => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }
}

/** `query`: the read path alone, one closed-loop client issuing a seeded
  * op mix over the settled store; streaming never runs.
  */
object QueryWorkload {
  final val Pvs = 600
  final val Hot = 3
  final val HotPerWeek = 35000
  final val Weeks = 3

  def run(ctx: Ctx): Unit = {
    val a = ctx.args
    val rep = ctx.rep
    val h = new Gen.History(a.seed, Pvs, Hot, HotPerWeek, Weeks)
    val store = ctx.dir("store").toString
    val pairsPath = ctx.dir("pairs").toString

    val reader = ctx.setup(reps = 2) { spark =>
      import spark.implicits._
      IngestWorkload.deleteTree(ctx.dir("store"))
      IngestWorkload.deleteTree(ctx.dir("pairs"))
      val hb = spark.sparkContext.broadcast(h)
      val samples = spark.range(0, h.size, 1, ctx.cores * 2).as[Long]
        .flatMap(i => hb.value.rows(i.toInt)).toDF()
      SampleStore.write(SampleStore.normalize(samples, Gen.WeekUs), store)
      h.pairs.toDF("pv1", "pv2", "score").coalesce(1).write.parquet(pairsPath)
      new Reader(ctx, h, store, pairsPath)
    } { reader =>
      // untimed and unchecked: one plot, which lists and scans the store
      // the way getData does and then runs the decimation loop
      reader.ops(a.seed ^ 0xabcdefL, 10).filter(_.kind == "plot").foreach(op => reader.run(op, 0L))
    }
    rep.text(s"store: ${(0 until h.size).map(h.series(_)._1.length).sum} rows, ${h.size} PVs ($Hot hot) " +
      s"over all ${SampleStore.NumBuckets} buckets, $Weeks weekly runs, ${Feed.storeFiles(store)._1} files")
    rep.text(reader.locfProbe().fold(
      e => s"locf_align_p50_ms not measured: TimeSeries.locfAlign fails on PV names with '.': $e",
      _ => "locf_align probe: TimeSeries.locfAlign accepts this archive's PV names"))

    val trace = ctx.trace
    trace.stages.clear()
    trace.jobs.clear()
    trace.unpersists.set(0)
    val ops = reader.ops(a.seed, 100000).iterator
    val done = scala.collection.mutable.ArrayBuffer.empty[(Op, Long, Double, Array[Row], DataFrame)]
    val wall0 = System.nanoTime()
    val deadline = wall0 + a.seconds * 1000000000L
    var id = 0L
    while (System.nanoTime() < deadline) {
      val op = ops.next()
      id += 1
      val t0 = System.nanoTime()
      ctx.attempt(op.kind)(trace.tagged(ctx.spark, s"op-$id")(trace.span(s"op.${op.kind}", id)(reader.run(op, id))))
        .foreach { case (rows, df) => done += ((op, id, (System.nanoTime() - t0) / 1e6, rows, df)) }
    }
    val wallS = (System.nanoTime() - wall0) / 1e9
    // weighted by the mix, so a run's numbers do not depend on which op
    // kinds the end of the window happened to cut off
    val byKind = done.map(d => (d._1.kind, d._3)).toSeq
    val p50 = Stats.mixMedian(byKind, Reader.Weights)
    val qps = 1000.0 / Stats.mixMean(byKind, Reader.Weights)
    rep.e2e("p50_ms", p50, "ms", done.size)
    rep.e2e("throughput_per_s", qps, "1/s", done.size)
    rep.text(IngestWorkload.tail("query_p50_ms", "query", done.map(_._3).toSeq) + " (unweighted)")
    rep.text(f"queries_per_s $qps%.3f ops/s over the mix (${done.size} ops in $wallS%.1f s: ${done.size / wallS}%.3f)")
    Seq("get_data", "plot").foreach { k =>
      val xs = done.filter(_._1.kind == k).map(_._3).toSeq
      rep.text(f"${k}_p50_ms ${Stats.median(xs)}%.1f ms (n=${xs.size})")
    }
    if (trace.enabled) layers(ctx, done.map(d => (d._1, d._2, d._4, d._5)).toSeq, wallS * 1000)

    val wrong = done.flatMap { case (op, _, _, rows, _) => reader.verify(op, rows) }
    val checked = done.count(d => Set("get_data", "value_at_time").contains(d._1.kind))
    rep.check("get_data/value_at_time answers == model", wrong.isEmpty,
      if (wrong.isEmpty) s"$checked answers" else wrong.take(3).mkString("; "))
  }

  /** Per-layer metrics of the read path from the traced ops. */
  def layers(ctx: Ctx, ops: Seq[(Op, Long, Array[Row], DataFrame)], wallMs: Double): Unit = {
    val rep = ctx.rep
    val trace = ctx.trace
    Thread.sleep(500) // let the listener bus deliver the last stage events
    val opSpans = trace.allSpans.filter(_.name.startsWith("op.")).map(s => s.op -> s).toMap
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Seq("get_data" -> "archive.get_data_ms", "value_at_time" -> "archive.value_at_time_ms",
      "activity" -> "archive.activity_ms",
      "plot" -> "timeseries.decimate_to_cap_ms", "export" -> "export.ascii_rows_ms",
      "related" -> "pairs.related_ms").foreach { case (k, m) =>
      rep.layer(m, med(ops.filter(_._1.kind == k).flatMap(o => opSpans.get(o._2)).map(_.ms)))
    }
    rep.layer("store.read_ms", med(trace.spansNamed("store.read").filter(_.op > 0).map(_.ms)))
    val scans = ops.map { case (_, _, rows, df) =>
      val ss = Reader.scans(df.queryExecution.executedPlan)
      def m(k: String): Long = ss.flatMap(_.metrics.get(k)).map(_.value).sum
      (m("numFiles"), m("numOutputRows"), rows.length.toLong)
    }
    rep.layer("store.files_scanned", med(scans.map(_._1.toDouble)))
    rep.layer("store.rows_scanned_per_row_returned",
      scans.map(_._2).sum.toDouble / math.max(1L, scans.map(_._3).sum))
    rep.layer("driver.plan_ms", med(ops.map(o =>
      o._4.queryExecution.tracker.phases.values.map(_.durationMs.toDouble).sum)))
    // span clocks are monotonic nanos, job clocks epoch millis
    val base = System.currentTimeMillis() - System.nanoTime() / 1000000L
    val perOp = ops.map { case (_, id, _, _) =>
      val jobs = trace.jobsTagged(s"op-$id")
      val stages = trace.stagesTagged(s"op-$id")
      val nonJob = opSpans.get(id).map { s =>
        Trace.uncoveredMs(s.startNs / 1000000L + base, s.endNs / 1000000L + base,
          jobs.map(j => (j.startMs, j.endMs))).toDouble
      }.getOrElse(0.0)
      (jobs.size.toDouble, stages.size.toDouble, nonJob)
    }
    rep.layer("driver.jobs_per_op", med(perOp.map(_._1)))
    rep.layer("driver.stages_per_op", med(perOp.map(_._2)))
    rep.layer("driver.non_job_ms", med(perOp.map(_._3)))
    val plots = ops.count(_._1.kind == "plot")
    // every decimate pass but the last is unpersisted by the loop, the
    // last by the client: one unpersist per pass
    if (plots > 0) rep.layer("timeseries.decimate_iters", trace.unpersists.get.toDouble / plots)
    Layers.executor(rep, trace.stages.asScala.toSeq, wallMs, ctx.cores)
  }
}
