package graft

import org.apache.spark.sql.Row

/** Signed-zero emission gate for the WHOLE query surface.
  *
  * The driver hashes raw IEEE values, and engines disagree on the sign of
  * a zero produced by rounding a negative quantity — DuckDB's
  * `round(-1e-9, 6)` keeps the sign (-0.0), Spark's drops it (0.0). The r7
  * red row (q_embed_cov) was exactly ONE covariance cell rounding to zero
  * from below. The emission contract (FixedPoint.canonEmit, applied to
  * every `SparkEntry.queries` result) says: the engine NEVER emits a
  * negative zero; oracles mirror `+ 0.0` where DuckDB can produce one
  * (tools/negzero_scan.py finds those).
  *
  * This spec enforces the engine half bit-level: every query runs on
  * sf0.001 (and the deeper GRAFT_NEGZERO_DIR probe, sf0.01 in the closing
  * gate) and every collected double/float — including inside arrays, maps
  * and structs — must not carry the IEEE sign bit when zero.
  */
class NegZeroSpec extends SparkSpec {

  private val dir = sys.env.getOrElse("GRAFT_NEGZERO_DIR", "/root/testdata/sf0.001")

  private def negZero(v: Any): Boolean = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d) == java.lang.Long.MIN_VALUE
    case f: Float => java.lang.Float.floatToRawIntBits(f) == Int.MinValue
    case r: Row => r.toSeq.exists(negZero)
    case s: scala.collection.Seq[_] => s.exists(negZero)
    case m: scala.collection.Map[_, _] =>
      m.exists { case (k, x) => negZero(k) || negZero(x) }
    case _ => false
  }

  test("no query on the surface emits a negative zero") {
    val failures = runnableQueries().flatMap { case (name, fn) =>
      try {
        val bad = fn(spark, dir).collect().filter(r => r.toSeq.exists(negZero))
        if (bad.isEmpty) None
        else Some(s"$name: ${bad.length} rows with -0.0, e.g. ${bad.head}")
      } catch {
        case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(160)}")
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries emit -0.0:\n${failures.mkString("\n")}")
  }

  test("canonEmit rewrites -0.0 everywhere a schema can hide one") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, -0.0, Seq(-0.0, 1.5), Map("a" -> -0.0), (-0.0, "x")))
      .toDF("id", "d", "arr", "m", "st")
    val out = operators.FixedPoint.canonEmit(df).collect().head
    assert(!out.toSeq.exists(negZero), s"canonEmit left a -0.0: $out")
    // value identity for everything else
    assert(out.getDouble(1) == 0.0)
    assert(out.getSeq[Double](2) == Seq(0.0, 1.5))
    assert(out.getStruct(4).getString(1) == "x")
    // null structs and NaN survive
    val df2 = Seq((Option.empty[(Double, Long)], Double.NaN)).toDF("st", "d")
    val out2 = operators.FixedPoint.canonEmit(df2).collect().head
    assert(out2.isNullAt(0) && out2.getDouble(1).isNaN)
  }
}
