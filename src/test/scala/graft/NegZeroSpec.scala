package graft

/** The signed-zero emission contract's own unit check: FixedPoint.canonEmit
  * (applied to every `SparkEntry.queries` result) must rewrite a -0.0
  * wherever a schema can hide one. The whole-surface half of the contract —
  * no query emits a -0.0 — is checked by the sweep in [[QuerySurfaceSpec]].
  */
class NegZeroSpec extends SparkSpec {
  import QuerySurfaceSpec.negZero

  test("canonEmit rewrites -0.0 everywhere a schema can hide one") {
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
