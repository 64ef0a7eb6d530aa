package graft

/** Every `SparkEntry.queries` entry must analyze, plan, AND execute against
  * the real testdata layout.
  *
  * This is the in-repo twin of the driver's Verify dump. Verify catches
  * per-query failures and logs them to stderr, so a query that stops
  * resolving doesn't fail a build — it just silently vanishes from the
  * round's CORRECTNESS surface (round 5 lost all 53 events-based queries
  * this way when the regenerated testdata changed `events.ts` from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS)). Executing the whole surface here
  * makes `sbt test` the tripwire: an input-schema drift or a bad refactor
  * of a shared helper fails loudly, named per query.
  *
  * sf0.001 keeps the full sweep cheap; correctness of the VALUES stays the
  * oracle gate's job — this spec only demands "runs and returns a schema".
  * A query whose [[SparkEntry.referenceInputs]] file is not readable is
  * not run; an `info` line names it (the same rule holds in the other
  * whole-surface sweeps).
  */
class QuerySurfaceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every query on the surface analyzes, plans, and executes on sf0.001") {
    val failures = runnableQueries().flatMap { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        df.queryExecution.executedPlan // force analysis + physical planning
        df.limit(1).collect()          // force a real scan through the codecs
        None
      } catch {
        case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    assert(failures.isEmpty, s"${failures.size} queries failed:\n${failures.mkString("\n")}")
  }

  test("every query has an oracle (static or data-dependent) and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet ++
      SparkEntry.dataDependentOracles(spark, dir).keySet
    assert((q -- o).isEmpty, s"queries with no oracle: ${(q -- o).toSeq.sorted.mkString(", ")}")
    assert((o -- q).isEmpty, s"oracles with no query: ${(o -- q).toSeq.sorted.mkString(", ")}")
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
