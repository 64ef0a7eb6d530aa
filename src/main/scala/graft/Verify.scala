package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.harness(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // local-iteration subset (comma-separated names); the driver never sets
    // this, so its runs always dump the full surface
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = selected.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      } finally
        // the dump is this frame's only evaluation — release the query's
        // call-scoped operator persists so a 259-query pass doesn't pin
        // one users-sized frame per rank call
        operators.TimeSeries.releaseCallScopedPersists()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // each query's oracle SQL, static or generated here from the data
    // (IVF centroids, PQ codebooks, BPE merges trained with the engine's own
    // seeded code, embedded as SQL literals). An oracle that throws costs
    // only its own query, which degrades to rows-only for the round.
    val (oracles, oracleFailed) = SparkEntry.registry.sortBy(_.name)
      .partitionMap { r =>
        try Left(r.name -> r.oracle(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[verify] ${r.name} oracle failed: ${e.getMessage}")
          Right(r.name)
        }
      }
    // loud summary: a query that stops resolving must not vanish silently
    // from the correctness surface (53 queries were once lost to a testdata
    // schema change with only per-query stderr lines as evidence)
    val dumped =
      if (failed.nonEmpty)
        s"${failed.size}/${selected.size} queries FAILED to dump: ${failed.mkString(", ")}"
      else s"all ${selected.size} queries dumped"
    val oracleNote =
      if (oracleFailed.isEmpty) ""
      else s"; ${oracleFailed.size} oracles FAILED: ${oracleFailed.mkString(", ")}"
    System.err.println(s"[verify] SUMMARY: $dumped$oracleNote")
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
