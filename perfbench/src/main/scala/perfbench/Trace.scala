package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A timed call into one layer: name, start, end, parent, and the op it
  * served. Kept in memory and written out when the run ends. */
final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One completed stage's aggregated task metrics, with the job tags of the
  * job that ran it. */
final case class StageRec(tags: Set[String], tasks: Int, runMs: Long, cpuMs: Double, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long)

/** One job's tags and its start and end, epoch milliseconds. */
final case class JobRec(tags: Set[String], startMs: Long, var endMs: Long)

/** Everything the benchmark observes from outside the engine: progress of
  * streaming queries (always on — freshness is computed from it), plus, when
  * tracing, spans around calls into each layer and the Spark work attributed
  * to them through job tags.
  */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val current = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val unpersists = new java.util.concurrent.atomic.AtomicLong(0)
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  /** Times `f` as a span; without tracing, just runs it. */
  def span[T](name: String, op: Long = 0L)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = current.get.headOption.getOrElse(0L)
      current.set(id :: current.get)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
        current.set(current.get.tail)
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def spansNamed(name: String): Seq[Span] = allSpans.filter(_.name == name)

  /** Runs `f` with every Spark job it starts tagged `tag`. */
  def tagged[T](spark: SparkSession, tag: String)(f: => T): T =
    if (!enabled) f
    else {
      spark.sparkContext.addJobTag(tag)
      try f finally spark.sparkContext.removeJobTag(tag)
    }

  def stagesTagged(tag: String): Seq[StageRec] = stages.asScala.filter(_.tags.contains(tag)).toSeq
  def jobsTagged(tag: String): Seq[JobRec] = jobs.values.asScala.filter(_.tags.contains(tag)).toSeq

  def install(spark: SparkSession): Unit = {
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    if (enabled) spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
        jobs.put(e.jobId, JobRec(tags, e.time, e.time))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val tags = Option(stageJob.get(si.stageId)).flatMap(j => Option(jobs.get(j))).map(_.tags)
          .getOrElse(Set.empty[String])
        if (m != null) stages.add(StageRec(tags, si.numTasks, m.executorRunTime,
          m.executorCpuTime / 1e6, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
      }
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = unpersists.incrementAndGet()
    })
  }

  /** Writes every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = allSpans.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  /** The wall time of `[t0, t1]` not covered by any of the `jobs`' intervals. */
  def uncoveredMs(t0: Long, t1: Long, jobs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = t0
    jobs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }.filter(j => j._2 > j._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (t1 - t0) - covered
  }
}
