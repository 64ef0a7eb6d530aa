package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Job-tag scoped telemetry: the one Spark listener in the program.
  *
  * [[scoped]] tags the calling thread's jobs with a fresh job tag
  * (`SparkContext.addJobTag`; threads the body starts inherit it, and
  * Spark SQL carries it onto its broadcast and adaptive-stage jobs), runs
  * the body, drains the listener bus and returns what the body ran: its
  * jobs, its completed stages' task metrics, and the values the operators
  * it called recorded through [[note]] (a route taken, a per-round trace).
  * Each scope sees only its own thread's work, so concurrent scopes do not
  * mix. Nested scopes each record everything inside them.
  *
  * The listener is added to a `SparkContext` on its first scope; a program
  * that opens no scope adds none, and [[note]] outside a scope records
  * nothing.
  */
object Telemetry {

  /** One job: its `spark.job.description` and each stage's name and
    * call-site details. */
  final case class Job(id: Int, description: String, stageNames: Seq[String],
      stageDetails: Seq[String])

  /** One completed stage, from its aggregated task metrics. `wallMs` is
    * submission to completion; `spillBytes` counts memory and disk spill. */
  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, inputBytes: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long)

  /** What one scope ran and noted, in job, stage and call order. */
  final case class Record(jobs: Seq[Job], stages: Seq[Stage], notes: Seq[(String, Any)]) {
    def cpuSec: Double = stages.map(_.cpuNs).sum / 1e9

    /** The values noted under `key`, in call order. */
    def noted[T](key: String): Seq[T] = notes.collect { case (`key`, v) => v.asInstanceOf[T] }
  }

  private final class Scope {
    val jobs = new ConcurrentLinkedQueue[Job]()
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val notes = new ConcurrentLinkedQueue[(String, Any)]()
  }

  /** Open scopes by job tag. */
  private val open = new ConcurrentHashMap[String, Scope]()
  private val ids = new AtomicLong()

  private def scopesOf(tags: Iterable[String]): Iterable[Scope] = tags.flatMap(t => Option(open.get(t)))

  private object Listener extends SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
      scopesOf(prop("spark.job.tags").toSeq.flatMap(_.split(","))).foreach { s =>
        s.jobs.add(Job(js.jobId, prop("spark.job.description").getOrElse(""),
          js.stageInfos.map(_.name), js.stageInfos.map(_.details)))
        js.stageIds.foreach(s.stageIds.add)
      }
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val (i, m) = (sc.stageInfo, sc.stageInfo.taskMetrics)
      val scopes = open.values.asScala.filter(_.stageIds.contains(i.stageId))
      if (m != null && scopes.nonEmpty) {
        val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(-1L)
        val stage = Stage(i.stageId, i.name, i.numTasks, wall, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
        scopes.foreach(_.stages.add(stage))
      }
    }
  }

  /** Runs `body` under a fresh job tag and returns its result with the
    * scope's [[Record]]. */
  def scoped[T](spark: SparkSession)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    synchronized(if (!GraftSparkHooks.hasListener(sc, Listener)) sc.addSparkListener(Listener))
    val tag = s"graft-telemetry-${ids.incrementAndGet()}"
    val s = new Scope
    open.put(tag, s)
    try {
      sc.addJobTag(tag)
      val r = try body finally sc.removeJobTag(tag)
      GraftSparkHooks.waitListenerBus(sc)
      (r, Record(s.jobs.asScala.toSeq.sortBy(_.id), s.stages.asScala.toSeq.sortBy(_.id),
        s.notes.asScala.toSeq))
    } finally open.remove(tag)
  }

  /** Records `key -> value` in every scope the calling thread is in; a
    * no-op outside any scope. */
  def note(spark: SparkSession, key: String, value: Any): Unit =
    if (!open.isEmpty) scopesOf(spark.sparkContext.getJobTags()).foreach(_.notes.add(key -> value))
}
