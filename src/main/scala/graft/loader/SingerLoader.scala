package graft.loader

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.schema.{Flattener, JsonSchemaConverter}

/** The Singer → partitioned-parquet dataflow, Spark-first (reference
  * pipeline: target_hdfs/target.py + sinks.py; see SURVEY §3.1).
  *
  * Control plane (SCHEMA / STATE / ACTIVATE_VERSION / BATCH — a handful
  * of distinct lines) is parsed on the driver; the record plane never
  * leaves the executors: every line is routed by one `json_tuple` parse
  * (persisted, so every later pass re-reads the routed cache instead of
  * rescanning raw input), parsed with `from_json` against the stream's
  * converted `StructType`, flattened and projected as pure Catalyst
  * expressions, and written by the parquet writer. No per-record driver
  * loop anywhere: parallelism is the number of input splits, and the only
  * shuffles are the two check aggregations and the optional repartition by
  * `partition_cols`.
  *
  * Checks run as two scans of the routed cache, whatever the number of
  * streams: pass A ([[controlMessages]]) probes the protocol, reduces the
  * control plane and counts each stream's RECORDs; pass B
  * ([[validateStream]]) validates every constrained stream at once. Every
  * stream is validated before any stream is written, so a rejected batch
  * lands nothing.
  *
  * Protocol strictness (singer-sdk parity): lines without a `type`, RECORDs
  * without a payload, RECORDs for undeclared streams, and conflicting
  * SCHEMAs for one stream within a batch all raise instead of dropping data.
  *
  * Ordering semantics for batch replay: Spark's file source packs splits by
  * size, not emission order, so "last STATE wins" is defined per-batch, not
  * per-line. That is safe for the at-least-once contract (an older state
  * only causes extra replay, never loss); in-batch schema evolution is
  * rejected loudly rather than resolved by an order guess.
  *
  * The reference's count/size buffering knobs (`max_batch_size`,
  * `max_pyarrow_table_size` — A8/A10) bound *loader memory*, a concern
  * Spark's executor memory manager owns natively; their file-sizing effect
  * maps to `spark.sql.files.maxRecordsPerFile` if wanted.
  */
object SingerLoader {

  final case class LoadResult(
      streams: Seq[String],
      lastState: Option[String],
      activateVersions: Seq[ActivateVersionMessage],
      schemas: Map[String, SchemaMessage])

  /** Pass A's result: the control messages in input order (the surviving
    * STATE last), each RECORD stream's inline record count, and the
    * streams whose RECORDs carry a `version` stamp. */
  private[graft] final case class ControlPlane(
      messages: Seq[SingerMessage],
      recordCounts: Map[String, Long],
      versionedStreams: Set[String])

  private val KnownTypes =
    Seq("RECORD", "SCHEMA", "STATE", "ACTIVATE_VERSION", "BATCH")

  /** Load a Singer JSONL file (batch replay of a tap's output). */
  def loadFile(spark: SparkSession, path: String, config: GraftConfig): LoadResult =
    load(spark, spark.read.textFile(path), config)

  /** One parse pass over the input: `json_tuple` extracts every routing
    * field from a SINGLE json parse (separate `get_json_object` calls
    * would each re-parse the line). NOT spread: unlike the parquet tables,
    * text input is byte-range splittable (openCost-floored), so the parse
    * already parallelizes; a repartition ahead of it was measured ~25%
    * SLOWER at 100k rows — shuffling the raw JSON strings costs more than
    * the extra cores win. */
  private[graft] def route(lines: Dataset[String]): DataFrame =
    lines.toDF("value")
      .filter(length(trim(col("value"))) > 0)
      .select(col("value"),
        json_tuple(col("value"), "type", "stream", "record", "version",
          "time_extracted"))
      .toDF("value", "t", "stream", "record", "version", "te")

  /** @param knownSchemas schemas carried over from earlier batches (the
    *                     streaming path: one SCHEMA message, then record-only
    *                     appends across triggers) */
  def load(spark: SparkSession, lines: Dataset[String], config: GraftConfig,
      knownSchemas: Map[String, SchemaMessage] = Map.empty): LoadResult = {
    val routed = route(lines).persist()
    // one wall-clock stamp per load, shared by every stream (singer-sdk's
    // sync_started_at); only meaningful when add_record_metadata is on
    val syncStartedAt = new java.sql.Timestamp(System.currentTimeMillis())
    try {
      // ---- pass A: protocol probe + control plane + RECORD streams ----
      val control = controlMessages(routed)

      val schemas = scala.collection.mutable.LinkedHashMap.empty[String, SchemaMessage]
      knownSchemas.foreach { case (k, v) => schemas(k) = v }
      var lastState: Option[String] = None
      val activates = Seq.newBuilder[ActivateVersionMessage]
      val batches = Seq.newBuilder[BatchMessage]
      control.messages.foreach {
        case sm: SchemaMessage =>
          // in-batch schema evolution: reject loudly (file-split order is
          // size-based, so "which SCHEMA came last" is not well-defined)
          if (schemas.get(sm.stream).exists(_.schemaJson != sm.schemaJson))
            throw new SchemaChangedException(
              s"conflicting SCHEMA messages for stream '${sm.stream}' in one batch")
          schemas(sm.stream) = sm
        case st: StateMessage           => lastState = Some(st.valueJson)
        case av: ActivateVersionMessage => activates += av
        case bm: BatchMessage           => batches += bm
        case _                          =>
      }
      val batchesByStream = batches.result().groupBy(_.stream)
      val batchOrphans = batchesByStream.keys.filterNot(schemas.contains)
      if (batchOrphans.nonEmpty)
        throw new InvalidConfigException(
          s"BATCH messages for streams with no SCHEMA: ${batchOrphans.mkString(", ")}")

      // records for a stream with no SCHEMA are a protocol violation
      // (singer-sdk raises on RECORD-before-SCHEMA; so do we)
      val orphan = control.recordCounts.keys.filterNot(schemas.contains)
      if (orphan.nonEmpty)
        throw new InvalidConfigException(
          s"RECORD messages for streams with no SCHEMA: ${orphan.mkString(", ")}")
      def inlineRecords(stream: String) = control.recordCounts.getOrElse(stream, 0L)

      // stream-level stream maps resolve each input stream to its output
      // name (aliasing) or to suppression (`__NULL__` / `__else__`
      // catch-all) BEFORE any record work — a suppressed stream costs
      // nothing beyond its control-plane entry
      val targets = schemas.values.toSeq.flatMap(sm =>
        config.resolveStream(sm.stream).map(sm -> _))

      // ---- pass B: validate every stream before writing any ----
      // JSON-Schema validation covers inline RECORDs; BATCH files are
      // tap-encoded bulk payloads and bypass per-record validation
      // (singer-sdk parity: batch mode skips record-level processing)
      if (config.validateRecords)
        validateStream(routed, targets.map(_._1).filter(sm => inlineRecords(sm.stream) > 0))

      // ---- record plane: fully distributed per stream ----
      targets.foreach { case (sm, outStream) =>
        val nested = JsonSchemaConverter.toStructType(sm.schemaJson)
        val inline = routed
          .filter(col("t") === "RECORD" && col("stream") === sm.stream)
          .select(col("record"), col("version"), col("te"))
        // BATCH manifests: each referenced file is JSONL with one record
        // payload per line (gzip decoded by extension in Hadoop's text
        // source). Unioned BEFORE from_json so batch rows flow through the
        // identical parse → flatten → stream-maps → extra-fields path as
        // inline RECORDs (q69_batch_ingest asserts byte-identical output) —
        // batch rows just carry no message-level version/time_extracted.
        val batchFiles = batchesByStream.getOrElse(sm.stream, Nil).flatMap(_.manifest)
        val raw =
          if (batchFiles.isEmpty) inline
          else inline.unionByName(
            spark.read.textFile(batchFiles: _*).toDF("record")
              .filter(length(trim(col("record"))) > 0)
              .select(col("record"),
                lit(null).cast("string").as("version"),
                lit(null).cast("string").as("te")))
        // non-record columns stamped alongside the parsed payload:
        //  - `_sdc_table_version` when the stream is version-stamped
        //    (full-table replication; ACTIVATE_VERSION purges by it —
        //    singer-sdk inherited semantics, reference target.py:51-52)
        //  - the singer-sdk `add_record_metadata` family when configured:
        //    extracted_at comes from the message (deterministic),
        //    received/batched/sync_started are wall-clock lineage stamps,
        //    and the sequence is an opaque per-load monotonic id (the SDK
        //    uses consumption-time epoch-millis — equally opaque)
        val extras = Seq.newBuilder[(String, org.apache.spark.sql.Column)]
        if (control.versionedStreams(sm.stream))
          extras += VersionPurge.SdcTableVersionCol -> col("version").cast("long")
        if (config.addRecordMetadata) {
          extras += "_sdc_extracted_at" -> col("te").cast("timestamp")
          extras += "_sdc_received_at" -> current_timestamp()
          extras += "_sdc_batched_at" -> current_timestamp()
          extras += "_sdc_sync_started_at" -> lit(syncStartedAt)
          extras += "_sdc_sequence" -> monotonically_increasing_id()
          extras += "_sdc_deleted_at" ->
            get_json_object(col("record"), "$._sdc_deleted_at").cast("timestamp")
        }
        val extraCols = extras.result()
        // a tap may DECLARE loader-stamped columns in its schema (log-based
        // taps declare _sdc_deleted_at); the stamp wins — drop the parsed
        // twin from the record expansion or the write dies on a duplicate
        // column name
        val stamped = extraCols.map(_._1).toSet
        val recordFields = nested.fieldNames.toSeq.filterNot(stamped)
          .map(f => col(s"r.`$f`").as(f))
        val records = raw
          .select(from_json(col("record"), nested,
            Map("mode" -> "FAILFAST")).as("r") +:
            extraCols.map { case (n, c) => c.as(n) }: _*)
          .select(recordFields ++ extraCols.map(p => col(p._1)): _*)
        val transformed = transform(records, sm.stream, config)
        // a stream with no rows writes no file (nor does the reference).
        // Pass A's count decides for inline RECORDs; only BATCH files and a
        // `__filter__` stream map leave the row count open to a probe
        val mayBeEmpty = batchFiles.nonEmpty ||
          config.streamProperties(sm.stream).contains(StreamMaps.FilterKey)
        val hasRows =
          if (mayBeEmpty) !transformed.isEmpty else inlineRecords(sm.stream) > 0
        if (hasRows)
          new ParquetSink(spark, config, outStream, transformed.schema)
            .write(transformed)
      }

      // ACTIVATE_VERSION: after the batch's records are committed, purge
      // rows of superseded versions from each activated stream dir —
      // resolved through the same stream-level maps (an aliased stream's
      // data lives under its output name; a suppressed stream has none)
      val acts = activates.result()
      acts.foreach { av =>
        config.resolveStream(av.stream).foreach(out =>
          VersionPurge.activate(spark, config, out, av.version))
      }

      LoadResult(schemas.keys.toSeq, lastState, acts, schemas.toMap)
    } finally routed.unpersist()
  }

  /** Pass A: one grouped aggregation over the routed cache, collected as
    * one row per distinct SCHEMA / ACTIVATE_VERSION / BATCH line, one per
    * RECORD stream, and one for the rest (STATE lines and lines the probe
    * rejects). That is O(distinct control lines), independent of input
    * length — a tap may emit STATE after every record, or re-emit its
    * SCHEMA before every record, without growing the collect.
    *
    *  - protocol probe: any untyped line, payload-less RECORD or unknown
    *    type raises before anything is parsed on the driver;
    *  - control order: each distinct control line's first
    *    `monotonically_increasing_id`, sorted on the driver (the id
    *    follows the partition order that defines this batch's "last STATE
    *    wins" semantics — see the ordering note in the class doc);
    *    in-batch conflict detection needs exactly the distinct set;
    *  - STATE: the single last message in that order;
    *  - per RECORD stream: the inline record count and whether any record
    *    carries a `version` stamp (full-table replication). */
  private[graft] def controlMessages(routed: DataFrame): ControlPlane = {
    val t = col("t")
    val isRecord = t === "RECORD"
    val isControl = t.isin("SCHEMA", "ACTIVATE_VERSION", "BATCH")
    val isState = t === "STATE"
    val rows = routed
      .withColumn("ord", monotonically_increasing_id())
      .groupBy(
        when(isRecord || isControl, t).as("kind"),
        when(isRecord, col("stream")).when(isControl, col("value")).as("key"))
      .agg(
        min(col("ord")).as("ord"),
        max_by(when(isState, col("value")), when(isState, col("ord"))).as("state"),
        count(lit(1)).as("n"),
        max(col("version").isNotNull).as("versioned"),
        max(when(t.isNull, col("value"))).as("untyped"),
        max(when(isRecord && col("record").isNull, col("value"))).as("null_record"),
        max(when(!t.isin(KnownTypes: _*), t)).as("unknown_type"))
      .collect()
    def probe(c: String) = rows.flatMap(r => Option(r.getAs[String](c))).maxOption
    probe("untyped").foreach(v => throw new InvalidConfigException(
      s"line without a Singer 'type': ${v.take(200)}"))
    probe("null_record").foreach(v => throw new InvalidConfigException(
      s"RECORD message without a record payload: ${v.take(200)}"))
    probe("unknown_type").foreach(v => throw new InvalidConfigException(
      s"unknown Singer message type: $v"))
    val (records, rest) = rows.partition(_.getAs[String]("kind") == "RECORD")
    val (lines, other) = rest.partition(_.getAs[String]("kind") != null)
    val state = other.flatMap(r => Option(r.getAs[String]("state")))
    ControlPlane(
      (lines.sortBy(_.getAs[Long]("ord")).map(_.getAs[String]("key")) ++ state)
        .map(SingerMessage.parse).toSeq,
      records.map(r => r.getAs[String]("key") -> r.getAs[Long]("n")).toMap,
      records.filter(_.getAs[Boolean]("versioned")).map(_.getAs[String]("key")).toSet)
  }

  /** Pass B, JSON-Schema record validation (singer-sdk parity, reference
    * standard suite tests/test_core.py:26-33): every RECORD must *contain*
    * each `required` property (present-but-null is valid when the type
    * union admits "null" — `json_object_keys` gives exact presence
    * semantics, where a post-parse NULL check could not tell missing from
    * null), and every `key_properties` column must be non-NULL (it is the
    * primary key). One counting aggregation over the persisted routed
    * cache covers every stream in `streams` that declares constraints,
    * each through its own branch of a `CASE stream WHEN …` predicate;
    * none declaring any skips the pass. The first violating stream in
    * `streams` order raises. */
  private def validateStream(routed: DataFrame, streams: Seq[SchemaMessage]): Unit = {
    val checks = streams.flatMap { sm =>
      val required = JsonSchemaConverter.requiredFields(sm.schemaJson)
      val violations: Seq[org.apache.spark.sql.Column] =
        required.map(f =>
          !array_contains(expr("json_object_keys(record)"), lit(f))) ++
        sm.keyProperties.map(k => get_json_object(col("record"), s"$$['$k']").isNull)
      violations.reduceOption(_ || _).map(bad => (sm, required, bad))
    }
    if (checks.isEmpty) return
    val stream = col("stream")
    val bad = checks.tail.foldLeft(when(stream === checks.head._1.stream, checks.head._3)) {
      case (c, (sm, _, b)) => c.when(stream === sm.stream, b)
    }
    val found = routed
      .filter(col("t") === "RECORD" && stream.isin(checks.map(_._1.stream): _*))
      .groupBy(stream)
      .agg(count(when(bad, 1)).as("n"), max(when(bad, col("record"))).as("example"))
      .collect().map(r => r.getString(0) -> r).toMap
    checks.foreach { case (sm, required, _) =>
      found.get(sm.stream).filter(_.getLong(1) > 0).foreach { v =>
        throw new RecordValidationException(
          s"stream '${sm.stream}': ${v.getLong(1)} record(s) violate the " +
            s"declared schema (required: ${required.mkString(",")}; " +
            s"key_properties: ${sm.keyProperties.mkString(",")}); " +
            s"example: ${Option(v.getString(2)).getOrElse("").take(300)}")
      }
    }
  }

  /** The per-stream projection pipeline: flatten → stream maps → extra
    * fields. Pure `select`s — Catalyst prunes/pushes through it. */
  def transform(records: DataFrame, stream: String,
      config: GraftConfig): DataFrame = {
    val flat = Flattener.flatten(records, config.flatteningMaxDepth)
    val props = config.streamProperties(stream)
    val mapped = if (props.nonEmpty) StreamMaps(flat, props) else flat
    config.parsedExtraFields.foldLeft(mapped) {
      case (df, (k, v, "integer")) => df.withColumn(k, lit(v.toLong))
      case (df, (k, v, _))         => df.withColumn(k, lit(v))
    }
  }
}
