package loaderbench

import scala.collection.mutable

/** Per-layer metrics of a traced run: the jobs each layer launched inside
  * each traced sync's window, their time and bytes, and what the sync
  * cost outside any job. Every value is a mean per traced sync unless
  * its name says otherwise. */
object Layers {

  val JobLayers = Seq("loader.route", "loader.control", "loader.streams",
    "loader.validate", "loader.compaction.preload", "loader.compaction.rewrite",
    "loader.sink", "loader.purge")

  final class Acc {
    var jobs = 0L
    var busyMs = 0L
    var bytesRead = 0L
    var bytesWritten = 0L
    val execs = mutable.Set.empty[Long]
  }

  def report(trace: Trace, spans: Seq[Span], flattenS: Double, heapPeakMb: Double,
      overheadS: Double): Seq[(String, Double, String)] = {
    val acc = (JobLayers :+ Trace.Unattributed).map(_ -> new Acc).toMap
    var wallMs = 0L
    var outsideMs = 0L
    var unattributedMs = 0L
    var tasks, shuffle, spill = 0L
    var admitted = 0L
    var preloadBytes = 0L
    val allJobs = trace.synchronized(trace.jobs.toList)
    spans.foreach { sp =>
      wallMs += sp.endMs - sp.startMs
      val inSpan = allJobs.filter(j => j.start >= sp.startMs && j.start <= sp.endMs && j.end >= 0)
        .sortBy(j => (j.start, j.id))
      var afterControl = false
      var afterPreload = false
      val layered = inSpan.map { j =>
        val l = Trace.layer(trace.siteOf(j), afterControl, afterPreload)
        if (l == "loader.control") afterControl = true
        if (l == "loader.compaction.preload") afterPreload = true
        if (l == "loader.compaction.rewrite") afterPreload = false
        val a = acc(l)
        a.jobs += 1
        a.busyMs += j.end - j.start
        a.bytesRead += j.bytesRead
        a.bytesWritten += j.bytesWritten
        j.execId.foreach(a.execs += _)
        tasks += j.tasks
        shuffle += j.shuffleBytes
        spill += j.spillBytes
        (l, (j.start, math.min(j.end, sp.endMs)))
      }
      if (layered.exists(_._1 == "loader.compaction.preload")) {
        admitted += 1
        preloadBytes += sp.appendCandidateBytes
      }
      val all = Trace.covered(layered.map(_._2))
      val attributed = Trace.covered(layered.filter(_._1 != Trace.Unattributed).map(_._2))
      outsideMs += (sp.endMs - sp.startMs) - all
      unattributedMs += all - attributed
    }
    val n = math.max(1, spans.size).toDouble
    def per(x: Long): Double = x / n
    def sumOf(f: Long => Long, a: Acc) = a.execs.toSeq.map(f).sum
    val layerMetrics = JobLayers.flatMap { l =>
      val a = acc(l)
      Seq((s"$l.jobs", per(a.jobs), "count"), (s"$l.busy_s", per(a.busyMs) / 1e3, "s"))
    }
    val sink = acc("loader.sink")
    val purge = acc("loader.purge")
    layerMetrics ++ Seq(
      ("loader.control.rows_collected", per(sumOf(trace.rowsOut, acc("loader.control"))), "count"),
      ("loader.compaction.preload.bytes_read", per(preloadBytes), "B"),
      ("loader.compaction.rewrite.bytes_written", per(acc("loader.compaction.rewrite").bytesWritten), "B"),
      ("loader.compaction.admit_ratio", admitted / n, "ratio"),
      ("loader.sink.bytes_written", per(sink.bytesWritten), "B"),
      ("loader.sink.files_written", per(sumOf(trace.filesWritten, sink)), "count"),
      ("loader.purge.bytes_read", per(purge.bytesRead), "B"),
      ("loader.purge.bytes_written", per(purge.bytesWritten), "B"),
      ("schema.flatten.busy_s", flattenS, "s"),
      ("driver.outside_jobs_s", per(outsideMs) / 1e3, "s"),
      ("spark.tasks", per(tasks), "count"),
      ("spark.shuffle_bytes", per(shuffle), "B"),
      ("spark.spill_bytes", per(spill), "B"),
      ("fs.bytes_read", per(spans.map(_.fsBytesRead).sum), "B"),
      ("fs.bytes_written", per(spans.map(_.fsBytesWritten).sum), "B"),
      ("jvm.gc_ms", per(spans.map(_.gcMs).sum), "ms"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("trace.unattributed_share", unattributedMs / math.max(1L, wallMs).toDouble, "ratio"),
      ("trace.overhead_s", overheadS, "s"))
  }
}
