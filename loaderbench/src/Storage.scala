package loaderbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The landed Parquet data files under a directory, as seen from outside
  * the loader. A file whose identity changed between two listings was
  * replaced. */
final case class Listing(files: Map[Path, Listing.Entry]) {
  def bytes: Long = files.valuesIterator.map(_.size).sum
  def count: Int = files.size

  /** Bytes of the files that are new or replaced in `after`. */
  def writtenBy(after: Listing): Long =
    after.files.iterator.filter { case (p, e) => !files.get(p).exists(_.key == e.key) }
      .map(_._2.size).sum

  /** Size of the newest file if it is under `limit` bytes, else 0: the
    * file the compaction path would preload and append into. */
  def newestUnder(limit: Long): Long =
    files.valuesIterator.maxByOption(_.mtime).filter(_.size < limit).map(_.size).getOrElse(0L)
}

object Listing {
  final case class Entry(key: Any, size: Long, mtime: Long)

  val Empty: Listing = Listing(Map.empty)

  def of(dir: Path): Listing =
    if (!Files.isDirectory(dir)) Empty
    else {
      val s = Files.walk(dir)
      try Listing(s.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".") && Files.isRegularFile(p)
      }.map { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        p -> Entry(a.fileKey, a.size, a.lastModifiedTime.toMillis)
      }.toMap)
      finally s.close()
    }
}

/** Read-back correctness oracle. */
object Oracle {

  /** Digest of the rows landed in a stream dir, read with the columns in
    * `columns` order (the generator's order). */
  def landed(spark: SparkSession, dir: Path, columns: Seq[String]): Tally =
    if (!Files.isDirectory(dir)) Tally.Empty
    else spark.read.parquet(dir.toString).select(columns.map(c => col(s"`$c`")): _*)
      .rdd.mapPartitions { rows =>
        var t = Tally.Empty
        rows.foreach(r => t = t.add(r.toSeq.toArray))
        Iterator(t)
      }.collect().foldLeft(Tally.Empty)(_ + _)

  /** Staging paths the loader must never leave behind after a clean
    * sync: compaction's `_new_tmp` and the purge's `__purge_tmp` /
    * `__purge_old`. */
  def leftovers(root: Path): Seq[Path] =
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith("_new_tmp") || n.endsWith("__purge_tmp") || n.endsWith("__purge_old")
      }.toSeq
      finally s.close()
    }
}
