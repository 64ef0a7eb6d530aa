package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The archive-lifecycle benchmark, one workload per invocation:
  *
  * {{{
  *   java -cp <classpath> perfbench.Main --workload ingest|query
  *     --seed N --seconds S --trace 0|1 --work DIR [--rate EVENTS_PER_S]
  * }}}
  *
  * Prints a human-readable report, then one JSON line with `correct`,
  * `attempted`, `failed` and the metrics: the end-to-end ones untraced, the
  * per-layer ones traced. Exits non-zero when an output check fails.
  * `perfbench/run.py` builds the classpath and passes the offered rate from
  * `BENCHMARK.json`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path, rate: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")).toAbsolutePath, m.getOrElse("rate", "0").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val rep = new Report(a)
    val ctx = new Ctx(a, rep)
    try {
      a.workload match {
        case "ingest" => IngestWorkload.run(ctx)
        case "query" => QueryWorkload.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        rep.check("workload completed", ok = false, e.toString)
    } finally ctx.stop()
    if (a.trace) ctx.trace.write(a.work.resolveSibling(s"spans-${a.workload}-${a.seed}.jsonl"))
    rep.print()
    System.out.flush()
    sys.exit(if (rep.correct) 0 else 1)
  }
}

/** Run context: arguments, the report, the trace, and the Spark session
  * built the way users build it (`local[nproc]`, [[graft.Engine.tune]]). */
final class Ctx(val args: Main.Args, val rep: Report) {
  val trace = new Trace(args.trace)
  val cores: Int = Runtime.getRuntime.availableProcessors
  private var session: SparkSession = _

  def spark: SparkSession = session

  /** Stops any running session and starts a fresh one. */
  def startSession(): SparkSession = {
    stop()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.Engine.tune(s)
    trace.install(s)
    session = s
    s
  }

  def stop(): Unit = if (session != null) { session.stop(); session = null }

  def dir(name: String): Path = args.work.resolve(name)

  /** `set up` repeated `reps` times, each from a fresh session; returns the
    * last result and records the median as `setup_s` (plus the one-off
    * `warmup`, which runs once on the last session).
    */
  def setup[T](reps: Int)(build: SparkSession => T)(warmup: T => Unit): T = {
    var last: Option[T] = None
    val secs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      last = Some(build(startSession()))
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    warmup(last.get)
    val w = (System.nanoTime() - w0) / 1e9
    rep.e2e("setup_s", Stats.median(secs) + w, "s", secs.size)
    rep.text(f"setup: ${secs.map(s => f"$s%.2f").mkString(" ")} s per repetition, warm-up $w%.2f s")
    last.get
  }

  /** Counts one attempt of `f`; a throw is a failure, never a timing. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    rep.attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        rep.failed += 1
        if (rep.failed <= 5) System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }
}

/** Metrics, check outcomes and the final JSON line. */
final class Report(args: Main.Args) {
  var attempted = 0L
  var failed = 0L
  private val e2eM = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layerM = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val lines = mutable.ArrayBuffer.empty[String]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  def e2e(name: String, v: Double, unit: String, n: Int): Unit = {
    e2eM(name) = (v, unit)
    lines += f"$name%-22s $v%14.4f $unit%-8s (n=$n)"
  }

  def layer(name: String, v: Double): Unit = layerM(name) = (v, Layers.unit(name))

  def text(s: String): Unit = lines += s

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
    lines += s"check ${if (ok) "ok  " else "FAIL"} $name${if (detail.nonEmpty) s": $detail" else ""}"
  }

  def correct: Boolean = checks.nonEmpty && checks.forall(_._2) && failed == 0

  def print(): Unit = {
    lines.foreach(println)
    println(f"error_rate ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f ratio ($failed failed of $attempted attempted)")
    val metrics =
      if (args.trace) Layers.all.map { case (n, u) => n -> layerM.getOrElse(n, (0.0, u)) }
      else e2eM.toSeq
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
    val body = metrics.map { case (n, (v, u)) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(attempted, 1)}, "failed": $failed, "metrics": {$body}}""")
  }
}
