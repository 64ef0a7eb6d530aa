package graft

/** Manual helper: prints plans (not part of `sbt test`).
  *
  * `PlanDump <sfdir> [query...]` prints each named query's formatted
  * physical plan. `PlanDump all <sfdir>` prints every registered query's
  * optimized logical plan in name order, with the ids that differ from run
  * to run stripped (`#\d+` expression ids, `plan_id`s, lambda class
  * names), so two builds' dumps can be diffed to show which plans a change
  * moved.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session("local[8]")
    if (args.headOption.contains("all")) {
      val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (q, fn) =>
        println(s"========== $q")
        val plan =
          try fn(spark, dir).queryExecution.optimizedPlan.toString
          catch { case e: Throwable => s"FAILED: ${e.getClass.getSimpleName}\n" }
        print(plan.replaceAll("#\\d+", "").replaceAll("plan_id=\\d+", "plan_id=")
          .replaceAll("\\$\\$Lambda\\$?[\\w/$]*@[0-9a-f]+", "\\$\\$Lambda"))
      }
    } else {
      val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
      val qs = if (args.length > 1) args.drop(1).toSeq else Seq("q_range_scan", "q_get_data")
      qs.foreach { q =>
        println(s"========== $q")
        SparkEntry.queries(q)(spark, dir).explain("formatted")
      }
    }
    spark.stop()
  }
}
