package loaderbench

import java.nio.file.{Files, Path}
import graft.core.GraftConfig

/** One sync's input: a JSONL file (or a directory of them) and the
  * tally each stream should hold once it is loaded. */
final case class Input(path: Path, bytes: Long, records: Long, expect: Map[String, Tally])

/** How successive syncs land: appended to the table, or replacing it
  * (full-table versions). */
sealed trait Mode
case object Append extends Mode
case object Replace extends Mode

/** A workload: the loader config it runs under, how its syncs land, and
  * its seeded inputs. `landing` syncs load before timing; they warm the
  * JVM and fix the table state that the storage metrics and `readback_s`
  * are taken on, so those do not depend on how many syncs fit in the
  * timed window. */
final case class Workload(
    name: String,
    streams: Seq[String],
    mode: Mode,
    landing: Int,
    columns: Seq[String],
    config: Path => GraftConfig,
    /** Inputs for `n` syncs, generated into a directory. */
    generate: (Long, Path, Int) => IndexedSeq[Input],
    /** A lower bound on one warm sync's seconds, sizing the inputs. */
    minSyncSeconds: Double)

object Workload {

  private def size(p: Path): Long =
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.mapToLong(Files.size(_)).sum() finally s.close()
    } else Files.size(p)

  /** Many small syncs into one stream on the default compaction path,
    * with a block cutoff small enough that the stream's file fills and
    * rolls over several times within the landing and the timed window. */
  val TrickleRecords = 2000
  val TrickleLimit = "256K"
  val compactTrickle = Workload("compact_trickle", Seq("events"), Append,
    landing = 5, SingerGen.Columns,
    dest => GraftConfig(dest.toString, hdfsBlockSizeLimit = Some(TrickleLimit)),
    (seed, dir, n) => (0 until n).map { b =>
      val p = dir.resolve(f"batch-$b%04d.jsonl")
      val t = SingerGen.writeBatch(p, "events", seed, b, b.toLong * TrickleRecords,
        TrickleRecords)
      Input(p, size(p), TrickleRecords, Map("events" -> t))
    },
    minSyncSeconds = 0.4)

  /** Full-table replication over several streams: versioned RECORDs, a
    * STATE after every record, SCHEMA re-emitted, ACTIVATE_VERSION per
    * stream closing each sync. Loads the control plane, per-stream
    * fan-out, validation and the version purge. Partitioned by region, so
    * compaction is bypassed: records go through the partitioned append
    * writer, and the purge deletes where compact_trickle appends. */
  val VersionedStreams = Seq("accounts", "orders", "invoices")
  val VersionedRows = 300
  val versionedMultistream = Workload("versioned_multistream", VersionedStreams,
    Replace, landing = 3, SingerGen.Columns :+ "_sdc_table_version",
    dest => GraftConfig(dest.toString, partitionCols = Seq("region")),
    (seed, dir, n) => (0 until n).map { k =>
      val p = dir.resolve(f"sync-$k%04d.jsonl")
      val t = SingerGen.writeVersionedSync(p, VersionedStreams, seed, k,
        version = 1700000000000L + k, VersionedRows, schemaEvery = 100)
      Input(p, size(p), VersionedRows.toLong * VersionedStreams.size, t)
    },
    minSyncSeconds = 0.5)

  val all: Seq[Workload] = Seq(compactTrickle, versionedMultistream)

  def named(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))
}
