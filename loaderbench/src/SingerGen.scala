package loaderbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded Singer JSONL generator. Every input the loader sees comes from
  * here; the same `(seed, part)` always yields byte-identical lines, and
  * each generated row's landed (flattened) form is folded into a
  * [[Tally]] so the oracle can check the loaded table without re-reading
  * the input.
  *
  * One record shape serves every workload: three levels of nesting, an
  * array, nullable leaves and a low-cardinality `region` column to
  * partition by. Flattened it lands as the twelve [[Columns]].
  */
object SingerGen {

  /** The landed columns, in the order [[Tally.rowHash]] reads them. */
  val Columns: Seq[String] = Seq("active", "amount", "id", "props__score",
    "props__source", "region", "tags", "ts", "user__address__city",
    "user__address__zip", "user__id", "user__name")

  val Regions: Seq[String] =
    Seq("af-south", "ap-east", "eu-north", "eu-west", "sa-east", "us-east")
  private val Tags = Seq("alpha", "beta", "gamma", "delta", "omega")
  private val Sources = Seq("web", "ios", "android", "api")

  def schemaLine(stream: String): String =
    s"""{"type":"SCHEMA","stream":"$stream","key_properties":["id"],""" +
      """"schema":{"type":"object","required":["id","ts"],"properties":{""" +
      """"id":{"type":"integer"},"ts":{"type":"string","format":"date-time"},""" +
      """"region":{"type":"string"},""" +
      """"user":{"type":["object","null"],"properties":{""" +
      """"id":{"type":"integer"},"name":{"type":["string","null"]},""" +
      """"address":{"type":["object","null"],"properties":{""" +
      """"city":{"type":["string","null"]},"zip":{"type":["string","null"]}}}}},""" +
      """"amount":{"type":["number","null"]},"active":{"type":["boolean","null"]},""" +
      """"tags":{"type":["array","null"],"items":{"type":"string"}},""" +
      """"props":{"type":["object","null"],"properties":{""" +
      """"source":{"type":["string","null"]},"score":{"type":["number","null"]}}}}}}"""

  def stateLine(stream: String, version: Long, offset: Long): String =
    s"""{"type":"STATE","value":{"bookmarks":{"$stream":{"version":$version,"offset":$offset}}}}"""

  def activateLine(stream: String, version: Long): String =
    s"""{"type":"ACTIVATE_VERSION","stream":"$stream","version":$version}"""

  /** A deterministic random stream per `(seed, part)`, independent of how
    * many other parts were generated before it. */
  def rng(seed: Long, part: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (part + 1) * 0xBF58476D1CE4E5B9L)

  /** One record: its JSON payload and its landed values (in [[Columns]]
    * order). */
  def record(r: SplittableRandom, id: Long): (String, Array[Any]) = {
    val region = Regions(r.nextInt(Regions.size))
    val ts = f"2026-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02dT" +
      f"${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02dZ"
    val userId = r.nextLong(1000000L)
    val name = if (r.nextInt(10) == 0) null else s"user$userId"
    val hasAddress = r.nextInt(10) != 0
    val city = s"city${r.nextInt(500)}"
    val zip = f"${r.nextInt(100000)}%05d"
    val amountText =
      if (r.nextInt(20) == 0) null
      else java.math.BigDecimal.valueOf(r.nextLong(10000000L), 2).toPlainString
    val active: java.lang.Boolean =
      if (r.nextInt(25) == 0) null else java.lang.Boolean.valueOf(r.nextBoolean())
    val tags = Seq.fill(r.nextInt(4))(Tags(r.nextInt(Tags.size)))
    val hasProps = r.nextInt(8) != 0
    val source = Sources(r.nextInt(Sources.size))
    val scoreText =
      if (r.nextInt(5) == 0) null
      else java.math.BigDecimal.valueOf(r.nextInt(1000), 3).toPlainString

    def q(s: String) = if (s == null) "null" else "\"" + s + "\""
    def num(s: String) = if (s == null) "null" else s
    val address = if (hasAddress) s"""{"city":${q(city)},"zip":${q(zip)}}""" else "null"
    val tagsJson = tags.map(q).mkString("[", ",", "]")
    val props = if (hasProps) s"""{"source":${q(source)},"score":${num(scoreText)}}""" else "null"
    val json =
      s"""{"id":$id,"ts":"$ts","region":"$region",""" +
        s""""user":{"id":$userId,"name":${q(name)},"address":$address},""" +
        s""""amount":${num(amountText)},"active":${if (active == null) "null" else active},""" +
        s""""tags":$tagsJson,"props":$props}"""

    def dbl(s: String): Any = if (s == null) null else java.lang.Double.valueOf(s)
    val landed: Array[Any] = Array(
      active, dbl(amountText), id,
      if (hasProps) dbl(scoreText) else null,
      if (hasProps) source else null,
      region, tagsJson, ts,
      if (hasAddress) city else null,
      if (hasAddress) zip else null,
      userId, name)
    (json, landed)
  }

  def recordLine(stream: String, json: String, version: Option[Long]): String =
    s"""{"type":"RECORD","stream":"$stream"""" +
      version.fold("")(v => s""","version":$v""") + s""","record":$json}"""

  /** Lines for one stream part: SCHEMA, `n` records with ids from
    * `firstId`, STATE. Returns the expected landed tally. */
  def writeBatch(out: Path, stream: String, seed: Long, part: Long,
      firstId: Long, n: Int): Tally = {
    val r = rng(seed, part)
    var tally = Tally.Empty
    withWriter(out) { w =>
      line(w, schemaLine(stream))
      var i = 0
      while (i < n) {
        val (json, landed) = record(r, firstId + i)
        line(w, recordLine(stream, json, None))
        tally = tally.add(landed)
        i += 1
      }
      line(w, stateLine(stream, 0, firstId + n))
    }
    tally
  }

  /** One full-table replication sync over `streams`: every record carries
    * `version`, a STATE follows every record, SCHEMA is re-emitted every
    * `schemaEvery` records of a stream, streams are interleaved record by
    * record, and the sync closes with one ACTIVATE_VERSION per stream.
    * Returns each stream's expected landed tally once the version is
    * activated (its rows, stamped `_sdc_table_version = version`). */
  def writeVersionedSync(out: Path, streams: Seq[String], seed: Long,
      sync: Int, version: Long, rowsPerStream: Int,
      schemaEvery: Int): Map[String, Tally] = {
    val rngs = streams.map(s => s -> rng(seed, s.hashCode.toLong << 20 | sync)).toMap
    val tallies = scala.collection.mutable.Map(streams.map(_ -> Tally.Empty): _*)
    withWriter(out) { w =>
      var i = 0
      while (i < rowsPerStream) {
        streams.foreach { s =>
          if (i % schemaEvery == 0) line(w, schemaLine(s))
          val (json, landed) = record(rngs(s), i.toLong)
          line(w, recordLine(s, json, Some(version)))
          line(w, stateLine(s, version, i.toLong + 1))
          tallies(s) = tallies(s).add(landed :+ java.lang.Long.valueOf(version))
        }
        i += 1
      }
      streams.foreach(s => line(w, activateLine(s, version)))
    }
    tallies.toMap
  }

  private def line(w: BufferedWriter, s: String): Unit = { w.write(s); w.write('\n') }

  private def withWriter(out: Path)(f: BufferedWriter => Unit): Unit = {
    Files.createDirectories(out.getParent)
    val w = new BufferedWriter(
      new OutputStreamWriter(Files.newOutputStream(out), UTF_8), 1 << 16)
    try f(w) finally w.close()
  }
}

/** Order-independent multiset digest of landed rows: the row count and
  * the wrapping sum of a 64-bit hash of each row's canonical text. The
  * generator folds in expected rows; [[Oracle]] folds in rows read back. */
final case class Tally(rows: Long, sum: Long) {
  def add(values: Array[Any]): Tally = Tally(rows + 1, sum + Tally.rowHash(values))
  def +(o: Tally): Tally = Tally(rows + o.rows, sum + o.sum)
}

object Tally {
  val Empty: Tally = Tally(0, 0)

  def rowHash(values: Iterable[Any]): Long = {
    val sb = new StringBuilder
    values.foreach { v =>
      v match {
        case null      => sb.append('\u0000')
        case d: Double => sb.append(java.lang.Double.toString(d))
        case x         => sb.append(x.toString)
      }
      sb.append('\u0001')
    }
    val s = sb.toString
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x3c074a61).toLong << 32) | (stringHash(s, 0x5bd1e995) & 0xffffffffL)
  }
}
