package loaderbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, from_json, get_json_object}
import graft.core.{SchemaMessage, SingerMessage}
import graft.loader.{Compaction, SingerLoader}
import graft.schema.JsonSchemaConverter

/** Loader benchmark: drives seeded Singer JSONL through
  * `SingerLoader.loadFile` on `local[nproc]` and prints one JSON line of
  * metrics last. See loaderbench/README.md for the workloads, metrics and
  * layer map.
  *
  * {{{
  * LoaderBench --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Phases: generate inputs (untimed); set up three times (session + first
  * cold sync, `setup_s`); land the workload's `landing` syncs and take
  * the storage metrics and the oracle on that state; run one untimed
  * warm-up sync; run closed-loop syncs for `--seconds` of sync time,
  * scanning a copy of the landed state after each (`readback_s`); check
  * the final state.
  * With `--trace 1` two of every three timed syncs run with the job
  * trace attached and the per-layer metrics are reported instead.
  */
object LoaderBench {

  val SetupReps = 3
  /** Untimed syncs between the landing and the timed loop. The first
    * sync after the landing's oracle and snapshot runs 10-30% slower
    * than the ones after it; timed, it would set `sync_tail_s`. */
  val WarmupSyncs = 1
  /** `sync_tail_s` is this fixed quantile of a run's sync times. */
  val TailQuantile = 0.75

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val ok = run(Workload.named(opt("workload")), opt("seed").toLong,
      opt("seconds").toDouble, opt("trace") == "1",
      Paths.get(opt("work")).toAbsolutePath)
    System.exit(if (ok) 0 else 1)
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("loaderbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (NaN of nothing). */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def seconds(t0: Long) = (System.nanoTime() - t0) / 1e9

  def run(w: Workload, seed: Long, budget: Double, traced: Boolean, work: Path): Boolean = {
    require(w.landing >= SetupReps, s"${w.name}: landing must cover the set-ups")
    val outDir = work.resolve("out")

    // ---- inputs: generated single-threaded, before anything is timed
    val nSyncs = w.landing + WarmupSyncs + math.ceil(budget / w.minSyncSeconds).toInt + 1
    val inputs = w.generate(seed, work.resolve("in"), nSyncs)

    var attempted = 0
    var failed = 0
    val problems = mutable.ArrayBuffer.empty[String]
    def fail(msg: String, syncs: Int): Unit = { problems += msg; failed += syncs }

    val dest = outDir.resolve("main")
    def listings() = w.streams.map(s => s -> Listing.of(dest.resolve(s))).toMap
    var spark: SparkSession = null
    def sync(k: Int): Option[Double] = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        SingerLoader.loadFile(spark, inputs(k).path.toString, w.config(dest))
        Some(seconds(t0))
      } catch {
        case e: Exception =>
          e.printStackTrace()
          fail(s"sync $k threw ${e.getClass.getSimpleName}: ${e.getMessage}", 1)
          None
      }
    }
    /** Checks every stream's landed rows after syncs `0..k`: each
      * appended row exactly once, or only the last version's rows. */
    def check(k: Int, syncs: Int): Unit = w.streams.foreach { s =>
      val want = w.mode match {
        case Append  => (0 to k).map(inputs(_).expect(s)).reduce(_ + _)
        case Replace => inputs(k).expect(s)
      }
      val got = Oracle.landed(spark, dest.resolve(s), w.columns)
      if (got != want) fail(s"after sync $k stream $s holds $got, expected $want", syncs)
    }

    // ---- set-up and landing: the first `landing` syncs, untimed as syncs.
    // The first `SetupReps` each run in a new session: session creation
    // plus that session's first (cold) sync is one set-up; the first is
    // in this fresh JVM. The landing's end state is what the storage
    // metrics and `readback_s` read, so they do not depend on how many
    // syncs fit in the timed window.
    val setups = mutable.ArrayBuffer.empty[Double]
    var before = listings()
    var written = 0L
    var k = 0
    while (k < w.landing && failed == 0) {
      if (k < SetupReps) {
        if (spark != null) {
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
        }
        val t0 = System.nanoTime()
        spark = session(work)
        sync(k).foreach(_ => setups += seconds(t0))
      } else sync(k)
      val after = listings()
      written += w.streams.map(s => before(s).writtenBy(after(s))).sum
      before = after
      k += 1
    }
    if (failed > 0) return report(w, Nil, attempted, failed, problems.toSeq)
    val liveBytes = before.valuesIterator.map(_.bytes).sum.toDouble
    val liveFiles = before.valuesIterator.map(_.count).sum.toDouble
    val cutoff = Compaction.blockSizeLimit(spark, w.config(dest).blockSizeLimitBytes)
    val liveInputBytes = (w.mode match {
      case Append  => inputs.take(w.landing).map(_.bytes).sum
      case Replace => inputs(w.landing - 1).bytes
    }).toDouble
    check(w.landing - 1, w.landing)
    // readback_s: warm full-column scans of a copy of the landed tables,
    // one after each timed sync, so that they sample the whole run
    val snapshot = work.resolve("snapshot")
    before.valuesIterator.flatMap(_.files.keys).foreach { f =>
      val copy = snapshot.resolve(dest.relativize(f))
      Files.createDirectories(copy.getParent)
      Files.copy(f, copy)
    }
    def scan(): Double = {
      val t0 = System.nanoTime()
      w.streams.foreach(s => spark.read.parquet(snapshot.resolve(s).toString)
        .write.format("noop").mode("overwrite").save())
      seconds(t0)
    }
    scan()
    val readbacks = mutable.ArrayBuffer.empty[Double]

    // ---- warm-up: untimed syncs on top of the landed state
    while (k < w.landing + WarmupSyncs && failed == 0) {
      sync(k)
      before = listings()
      k += 1
    }

    // ---- timed closed loop: the next sync starts when the last commits
    val trace = new Trace
    val times = mutable.ArrayBuffer.empty[Double]
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    val spans = mutable.ArrayBuffer.empty[Span]
    var records = 0L
    var bytesIn = 0L
    var spent = 0.0
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val first = k
    // a traced run needs at least one traced and one untraced sync
    while ((spent < budget || (traced && times.size < 2)) && k < inputs.size && failed == 0) {
      // two of every three syncs traced: a period prime to the ~5-sync
      // compaction fill cycle, so traced syncs cover every phase of it
      val tracing = traced && (k - first) % 3 != 2
      val candidate = w.streams.map(s => before(s).newestUnder(cutoff)).sum
      val (read0, written0) = Counters.fs()
      val gc0 = Counters.gcMillis()
      if (tracing) trace.attach(spark)
      val startMs = System.currentTimeMillis()
      val dt = sync(k)
      val endMs = System.currentTimeMillis()
      if (tracing) trace.detach(spark)
      dt.foreach { d =>
        spent += d
        if (tracing) {
          tracedTimes += d
          val (read1, written1) = Counters.fs()
          spans += Span(startMs, endMs, candidate, read1 - read0, written1 - written0,
            Counters.gcMillis() - gc0)
        } else times += d
        records += inputs(k).records
        bytesIn += inputs(k).bytes
      }
      before = listings()
      readbacks += scan()
      k += 1
    }
    if (failed == 0) check(k - 1, k - w.landing)
    val stray = Oracle.leftovers(outDir)
    if (stray.nonEmpty) fail(s"staging paths left behind: ${stray.mkString(", ")}", 1)

    val metrics =
      if (!traced) {
        println(s"# ${w.name}: set-ups ${setups.mkString(" ")} s")
        println(s"# ${w.name}: ${times.size} timed syncs ${times.mkString(" ")} s")
        Seq(
          ("setup_s", median(setups.toSeq), "s"),
          ("sync_p50_s", median(times.toSeq), "s"),
          ("sync_tail_s", quantile(times.toSeq, TailQuantile), "s"),
          ("records_per_s", records / times.sum, "1/s"),
          ("input_mb_per_s", bytesIn / 1e6 / times.sum, "MB/s"),
          ("bytes_out_per_byte_in", liveBytes / liveInputBytes, "ratio"),
          ("write_amp", written / liveBytes, "ratio"),
          ("files_per_stream", liveFiles / w.streams.size, "count"),
          ("file_fill", liveBytes / liveFiles / cutoff, "ratio"),
          ("readback_s", median(readbacks.toSeq), "s"))
      } else {
        val flatten = flattenSeconds(spark, w, inputs(w.landing - 1))
        val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
        Layers.report(trace, spans.toSeq, flatten, heapPeakMb,
          median(tracedTimes.toSeq) - median(times.toSeq))
      }
    spark.stop()
    report(w, metrics, attempted, failed, problems.toSeq)
  }

  /** `schema.flatten.busy_s`: the public `SingerLoader.transform` over one
    * input's parsed records of the first stream, materialized to `noop`
    * (median of three, after the parse is cached). */
  def flattenSeconds(spark: SparkSession, w: Workload, input: Input): Double = {
    val stream = w.streams.head
    val sm = SingerMessage.parse(SingerGen.schemaLine(stream)).asInstanceOf[SchemaMessage]
    val parsed = spark.read.textFile(input.path.toString).toDF("value")
      .filter(get_json_object(col("value"), "$.type") === "RECORD" &&
        get_json_object(col("value"), "$.stream") === stream)
      .select(from_json(get_json_object(col("value"), "$.record"),
        JsonSchemaConverter.toStructType(sm.schemaJson)).as("r"))
      .select("r.*").persist()
    parsed.count()
    val config = w.config(Paths.get("unused"))
    val reps = Seq.fill(3) {
      val t0 = System.nanoTime()
      SingerLoader.transform(parsed, stream, config)
        .write.format("noop").mode("overwrite").save()
      seconds(t0)
    }
    parsed.unpersist()
    median(reps)
  }

  def report(w: Workload, metrics: Seq[(String, Double, String)], attempted: Int,
      failed: Int, problems: Seq[String]): Boolean = {
    problems.foreach(p => println(s"# INCORRECT ${w.name}: $p"))
    val correct = problems.isEmpty
    println(f"# ${w.name}: failed_ops_ratio ${failed.toDouble / math.max(1, attempted)}%.4f " +
      s"($failed of $attempted syncs)")
    metrics.sortBy(_._1).foreach { case (n, v, u) => println(s"# $n $v $u") }
    val body = metrics.sortBy(_._1).map { case (n, v, u) =>
      val value = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $value, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1, attempted)}, """ +
      s""""failed": $failed, "metrics": {$body}}""")
    correct
  }
}

/** Loads what a run loads, untimed: one session and one sync of every
  * workload. The build runs it once to dump the JVM's class-data sharing
  * archive, which later runs map to start faster.
  *
  * {{{
  * Prime <work-dir>
  * }}}
  */
object Prime {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val spark = LoaderBench.session(work)
    try Workload.all.foreach { w =>
      val in = w.generate(1L, work.resolve(s"in-${w.name}"), 1).head
      SingerLoader.loadFile(spark, in.path.toString, w.config(work.resolve(s"out-${w.name}")))
      Oracle.landed(spark, work.resolve(s"out-${w.name}").resolve(w.streams.head), w.columns)
    } finally spark.stop()
  }
}

/** One traced sync, as seen from outside: its wall-clock window, the
  * bytes of the newest small file of each stream before it (what the
  * compaction path preloads if it appends), and what it cost the file
  * system and the JVM. */
final case class Span(startMs: Long, endMs: Long, appendCandidateBytes: Long,
    fsBytesRead: Long, fsBytesWritten: Long, gcMs: Long)

object Counters {
  /** Bytes (read, written) through Hadoop file systems, all schemes.
    * The local file system counts bytes but no operations. */
  def fs(): (Long, Long) = {
    val it = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala.toSeq
    def sum(k: String) = it.map(s => Option(s.getLong(k)).map(_.longValue).getOrElse(0L)).sum
    (sum("bytesRead"), sum("bytesWritten"))
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
