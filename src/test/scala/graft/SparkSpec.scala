package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps `sbt
  * test` fast).
  */
object TestSession {
  lazy val spark: SparkSession = Engine.session("local[4]", "graft-test")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** Cancels the running test unless `path` is a readable file: for tests
    * over the reference checkout's own files, which the repo does not hold
    * (FIXTURES.md §1).
    */
  def assumeReadable(path: String): Unit = {
    val readable = Files.isReadable(Paths.get(path))
    assume(readable, s"fixture not readable: $path")
  }

  /** The [[SparkEntry.referenceInputs]] whose file is not readable here. */
  def unreadableReferenceInputs: Map[String, String] =
    SparkEntry.referenceInputs.filterNot { case (_, p) => Files.isReadable(Paths.get(p)) }

  /** `SparkEntry.queries` in name order, less each query in
    * [[unreadableReferenceInputs]]; an `info` line names each one left out
    * and its path. Call it inside a test.
    */
  def runnableQueries(): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val skip = unreadableReferenceInputs
    skip.toSeq.sorted.foreach { case (q, p) => info(s"not run: $q (fixture not readable: $p)") }
    SparkEntry.queries.toSeq.sortBy(_._1).filterNot { case (q, _) => skip.contains(q) }
  }

  /** Runs `body` and returns the jobs it launched, each as its description
    * plus its stages' call-site details (one [[Telemetry.scoped]] scope). */
  def jobsOf[T](body: => T): (T, Seq[String]) = {
    val (r, rec) = Telemetry.scoped(spark)(body)
    (r, rec.jobs.map(j => j.description + " " + j.stageDetails.mkString(" ")))
  }
}
