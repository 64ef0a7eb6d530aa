package graft

import org.apache.spark.sql.Row

import graft.queries.Q

/** The whole-surface sweep: every runnable `SparkEntry.queries` entry runs
  * ONCE at `spark.sql.shuffle.partitions` 1 and once at 32 on the real
  * testdata layout, and three properties are checked on the same collected
  * rows.
  *
  * 1. It runs. This is the in-repo twin of the driver's Verify dump.
  *    Verify catches per-query failures and logs them to stderr, so a query
  *    that stops resolving doesn't fail a build — it just silently vanishes
  *    from the CORRECTNESS surface (all 53 events-based queries once went
  *    this way when the regenerated testdata changed `events.ts` from
  *    TIMESTAMP(NANOS) to TIMESTAMP(MICROS)). Correctness of the VALUES
  *    stays the oracle gate's job.
  * 2. It is bit-stable under partitioning. A `round(sum(double), 6)` is
  *    summation-order dependent at the ulp level, and Spark's partial-agg
  *    scheduling changes with partitioning — a query can hash-match the
  *    oracle in three Verify dumps and flip in the fourth (q_embed_cov). The
  *    two collected outputs must be IDENTICAL as rendered rows (Row.toString
  *    carries full double text — `-0.0` vs `0.0` and one-ulp drifts both
  *    fail). Any operator whose output depends on physical scheduling —
  *    float summation order, un-ordered `limit`, first-without-order —
  *    fails here by name before the driver's single-partitioning
  *    CORRECTNESS run can get lucky.
  * 3. It never emits a negative zero. The driver hashes raw IEEE values,
  *    and engines disagree on the sign of a zero produced by rounding a
  *    negative quantity — DuckDB's `round(-1e-9, 6)` keeps the sign,
  *    Spark's drops it. The emission contract (FixedPoint.canonEmit,
  *    applied to every `SparkEntry.queries` result) says the engine never
  *    emits one; oracles mirror `+ 0.0` where DuckDB can produce one
  *    (tools/negzero_scan.py finds those). Every collected double/float —
  *    including inside arrays, maps and structs — must not carry the IEEE
  *    sign bit when zero, at either partition count.
  *
  * 32 is the test session's default partition count. Shared frames are
  * cleared before each run, so a memoized cross-query frame computed in the
  * first run cannot make the second trivially equal. CI runs sf0.001;
  * `GRAFT_SWEEP_DIR` pointed at the sf0.01 testdata is the deeper probe —
  * more rows per partial agg give a float-order hazard another chance to
  * flip. A query
  * whose [[SparkEntry.referenceInputs]] file is not readable is not run; an
  * `info` line names it.
  */
class QuerySurfaceSpec extends SparkSpec {
  import QuerySurfaceSpec._

  private val dir = sys.env.getOrElse("GRAFT_SWEEP_DIR", "/root/testdata/sf0.001")

  /** One query's outcome: the first error, or what the two runs' rows show
    * (a partition-count flip, a negative zero), as a failure message. */
  private case class Swept(name: String, error: Option[Throwable],
      flip: Option[String], negZeros: Option[String])

  private lazy val sweep: Seq[Swept] = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try runnableQueries().map { case (name, fn) =>
      def run(parts: Int): Array[Row] = {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        SparkEntry.clearSharedFrames()
        fn(spark, dir).collect()
      }
      try {
        val runs = Seq(run(1), run(32))
        val Seq(a, b) = runs.map(_.map(_.toString).toSeq.sorted)
        val flip = if (a == b) None else {
          val diff = a.zipAll(b, "<missing>", "<missing>")
            .filter { case (x, y) => x != y }.take(3)
          Some(s"$name: ${a.size} vs ${b.size} rows; first diffs: $diff")
        }
        val bad = runs.flatMap(_.filter(r => r.toSeq.exists(negZero)))
        val negZeros =
          if (bad.isEmpty) None else Some(s"$name: ${bad.length} rows with -0.0, e.g. ${bad.head}")
        Swept(name, None, flip, negZeros)
      } catch { case e: Throwable => Swept(name, Some(e), None, None) }
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  private def failure(s: Swept, msgLen: Int): Option[String] = s.error.map(e =>
    s"${s.name}: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(msgLen)}")

  test("every query on the surface analyzes, plans, and executes on sf0.001") {
    val failures = sweep.flatMap(failure(_, 200))
    assert(failures.isEmpty, s"${failures.size} queries failed:\n${failures.mkString("\n")}")
  }

  test("every query is bit-stable under shuffle.partitions 1 vs 32") {
    val failures = sweep.flatMap(s => failure(s, 160).orElse(s.flip))
    assert(failures.isEmpty,
      s"${failures.size} queries flip with partitioning:\n${failures.mkString("\n")}")
  }

  test("no query on the surface emits a negative zero") {
    val failures = sweep.flatMap(s => failure(s, 160).orElse(s.negZeros))
    assert(failures.isEmpty,
      s"${failures.size} queries emit -0.0:\n${failures.mkString("\n")}")
  }

  test("every query has an oracle (static or data-dependent) and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet ++
      SparkEntry.dataDependentOracles(spark, dir).keySet
    assert((q -- o).isEmpty, s"queries with no oracle: ${(q -- o).toSeq.sorted.mkString(", ")}")
    assert((o -- q).isEmpty, s"oracles with no query: ${(o -- q).toSeq.sorted.mkString(", ")}")
  }

  test("the registry rejects a duplicate query name or an empty family") {
    val q = SparkEntry.registry.head
    val dup = intercept[IllegalArgumentException](Q.registry(SparkEntry.registry :+ q))
    assert(dup.getMessage.contains(s"duplicate query names: ${q.name}"), dup.getMessage)
    val noFamily = intercept[IllegalArgumentException](
      Q.registry(Seq(q.copy(name = "q_unfiled", family = " "))))
    assert(noFamily.getMessage.contains("empty family: q_unfiled"), noFamily.getMessage)
    assert(Q.registry(SparkEntry.registry) == SparkEntry.registry)
  }

  test("every reference fixture is read by a registered query and its oracle") {
    // the sweeps leave out a query whose fixture is missing: a stale entry
    // must not exempt a query that no longer reads the file
    val q = SparkEntry.queries.keySet
    SparkEntry.referenceInputs.toSeq.sorted.foreach { case (name, path) =>
      assert(q.contains(name), s"referenceInputs names no registered query: $name")
      assert(SparkEntry.oracleSql.get(name).exists(_.contains(s"read_csv('$path'")),
        s"$name: its oracle does not read $path")
    }
  }
}

object QuerySurfaceSpec {

  /** A zero double/float with the IEEE sign bit set, anywhere in a value. */
  def negZero(v: Any): Boolean = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d) == java.lang.Long.MIN_VALUE
    case f: Float => java.lang.Float.floatToRawIntBits(f) == Int.MinValue
    case r: Row => r.toSeq.exists(negZero)
    case s: scala.collection.Seq[_] => s.exists(negZero)
    case m: scala.collection.Map[_, _] =>
      m.exists { case (k, x) => negZero(k) || negZero(x) }
    case _ => false
  }
}
