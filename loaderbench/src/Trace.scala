package loaderbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Job-level trace of the loader, recorded from outside the program.
  *
  * Every Spark job is attributed to a layer by the first `graft.` frame
  * of its stage call site (the innermost loader method that launched
  * it). Jobs whose call site has no such frame (AQE submits shuffle map
  * stages from its own threads) inherit the call site of their SQL
  * execution, found through `spark.sql.execution.id`. SQL metrics of each
  * execution's final plan give the rows a collect brought to the driver
  * and the files a write committed.
  *
  * Attach with [[attach]] around the syncs to trace; everything is kept
  * in memory and read once the run ends.
  */
final class Trace extends SparkListener {

  final class Job(val id: Int, val start: Long, val site: Option[String],
      val execId: Option[Long]) {
    var end: Long = -1
    var tasks = 0L
    var bytesRead = 0L
    var bytesWritten = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobOfStage = mutable.Map.empty[Int, Job]
  private val execs = mutable.Map.empty[Long, Trace.Exec]
  /** Latest physical plan of each SQL execution, and SQL metric values. */
  private val plans = mutable.Map.empty[Long, SparkPlanInfo]
  private val metricValues = mutable.Map.empty[Long, Long].withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = e.stageInfos.iterator.flatMap(s => Trace.graftFrame(s.details)).nextOption()
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val job = new Job(e.jobId, e.time, site, exec)
    jobs += job
    e.stageIds.foreach(jobOfStage(_) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- jobOfStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      job.tasks += 1
      job.bytesRead += m.inputMetrics.bytesRead
      job.bytesWritten += m.outputMetrics.bytesWritten
      job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      job.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    e.taskInfo.accumulables.foreach { a =>
      if (a.name.exists(Trace.RowMetrics))
        a.update.foreach { case v: Long => metricValues(a.id) += v; case _ => }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = Trace.Exec(Trace.graftFrame(s.details),
          s.rootExecutionId.filter(_ != s.executionId))
        plans(s.executionId) = s.sparkPlanInfo
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        plans(u.executionId) = u.sparkPlanInfo
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => metricValues(id) = v }
      case _ =>
    }
  }

  /** Rows the execution's root produced: the first row count down its
    * single-child spine (projections and sorts pass rows through; an
    * exchange counts the rows read from it, which a range partitioner's
    * sampling pass does not inflate) — for a collect, the rows brought to
    * the driver. */
  def rowsOut(execId: Long): Long = synchronized {
    def spine(p: SparkPlanInfo): Long =
      p.metrics.find(m => Trace.RowMetrics(m.name)).map(m => metricValues(m.accumulatorId))
        .getOrElse(if (p.children.size == 1) spine(p.children.head) else 0L)
    plans.get(execId).map(spine).getOrElse(0L)
  }

  /** Files the execution's write committed. */
  def filesWritten(execId: Long): Long = synchronized {
    def all(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(all)
    plans.get(execId).toSeq.flatMap(all).flatMap(_.metrics)
      .filter(_.name == "number of written files").map(m => metricValues(m.accumulatorId)).sum
  }

  /** Call site of a job: its own, else its execution's (or that
    * execution's root's). */
  def siteOf(job: Job): Option[String] = synchronized {
    def viaExec(id: Long, depth: Int): Option[String] =
      execs.get(id).flatMap(x => x.site.orElse(
        if (depth < 4) x.root.flatMap(viaExec(_, depth + 1)) else None))
    job.site.orElse(job.execId.flatMap(viaExec(_, 0)))
  }

  def attach(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.addSparkListener(this)

  /** Detach once every event of the traced sync has been delivered. */
  def detach(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.GraftSparkInternals.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
  }
}

object Trace {

  /** SQL metrics that count rows: an operator's output, a shuffle's reads. */
  val RowMetrics = Set("number of output rows", "records read")

  /** A SQL execution's call site and, when nested, its root execution. */
  final case class Exec(site: Option[String], root: Option[Long])

  /** `Class.method` of the innermost `graft.` frame in a call-site stack
    * (closures normalized to their enclosing method). */
  def graftFrame(details: String): Option[String] =
    Option(details).iterator.flatMap(_.linesIterator).map(_.trim)
      .find(_.startsWith("graft.")).map { f =>
        val qualified = f.takeWhile(_ != '(')
        val cls = qualified.substring(0, qualified.lastIndexOf('.'))
        val method = qualified.substring(qualified.lastIndexOf('.') + 1)
          .stripPrefix("$anonfun$").takeWhile(_ != '$')
        cls.substring(cls.lastIndexOf('.') + 1).stripSuffix("$") + "." + method
      }

  /** Layer of a job launched from `site`. `SingerLoader.load` launches
    * both the routing probe (before the control plane) and the
    * per-stream check (after it); a single-file write is the sink's
    * unless it follows a compaction preload, when it is the union
    * rewrite of the preloaded file. */
  def layer(site: Option[String], afterControl: Boolean, afterPreload: Boolean): String =
    site match {
      case Some("SingerLoader.controlMessages")     => "loader.control"
      case Some("SingerLoader.validateStream")      => "loader.validate"
      case Some("SingerLoader.load")                =>
        if (afterControl) "loader.streams" else "loader.route"
      case Some("Compaction.readMostRecentFile")    => "loader.compaction.preload"
      case Some("Compaction.writeSingleFile")       =>
        if (afterPreload) "loader.compaction.rewrite" else "loader.sink"
      case Some("ParquetSink.write")                => "loader.sink"
      case Some("VersionPurge.activate")            => "loader.purge"
      case _                                        => Unattributed
    }

  val Unattributed = "unattributed"

  /** Total length of the union of `[start, end]` intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
