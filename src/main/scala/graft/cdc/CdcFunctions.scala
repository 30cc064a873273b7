package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-facing entry points for the four decoders and the LSN/time
  * codecs (SURVEY.md §2 A7/A15/A29/A30/A31). Decoders are plain Scala
  * invoked through Scala UDFs — executor-side, no driver round-trips;
  * the per-row payload is self-contained (frames carry their own
  * relation message) so decode parallelizes embarrassingly. For frame
  * sequences whose registry spans rows, decode per partition after
  * sorting by LSN ([[decodeFrameSequence]]).
  */
object CdcFunctions {

  // ---- pgoutput (A15-A28) ----

  /** Decode an ordered sequence of pgoutput frames sharing one
    * relation registry (one transaction, one slot partition, ...).
    * Relation/type messages must precede their rows, as on the wire.
    */
  def decodeFrameSequence(frames: Seq[Array[Byte]]): Seq[ChangeEvent] = {
    val parser = new PgoutputParser
    frames.map(parser.parse(_))
  }

  /** Proto-v2 stream visibility: keep only data changes whose
    * transaction was stream-committed — changes of stream-aborted
    * transactions are invisible, mirroring rollback invisibility on
    * the non-streamed path (where aborted transactions never reach
    * the wire at all). Non-streamed changes (outside any S..E block)
    * pass through.
    *
    * Subtransaction semantics: the per-message xid prefix is the xid
    * of the (sub)transaction that made the change, which for a change
    * inside a savepoint is the SUBtransaction's xid — commit keying
    * therefore uses the *enclosing stream block's* toplevel xid, and
    * a `stream_abort(xid, subXid)` with `subXid != xid` (ROLLBACK TO
    * SAVEPOINT) removes only that subtransaction's changes while the
    * rest of the block stays eligible for stream_commit. */
  def streamCommittedChanges(events: Seq[ChangeEvent]): Seq[ChangeEvent] = {
    val committed = events.collect {
      case e if e.tag == "stream_commit" => e.xid
    }.toSet
    val abortedSubs = events.collect {
      case e if e.tag == "stream_abort" && e.subXid != e.xid =>
        (e.xid, e.subXid)
    }.toSet
    var blockXid = 0L // 0 = outside any stream block
    val out = Seq.newBuilder[ChangeEvent]
    events.foreach { e =>
      e.tag match {
        case "stream_start" => blockXid = e.xid
        case "stream_stop" => blockXid = 0L
        case "insert" | "update" | "delete" =>
          val visible =
            if (blockXid == 0L) true // non-streamed path
            else committed(blockXid) && !abortedSubs((blockXid, e.xid))
          if (visible) out += e
        case _ => ()
      }
    }
    out.result()
  }

  /** Two-phase visibility: a prepared transaction's changes become
    * visible only when its gid is COMMIT PREPARED — changes whose gid
    * was ROLLBACK PREPARED (or never resolved) stay invisible. Data
    * changes arrive inside a begin_prepare..prepare envelope carrying
    * no per-change gid, so the envelope's xid links them: changes are
    * kept iff some commit_prepared event shares their envelope's xid.
    * Non-prepared changes (no begin_prepare envelope) pass through. */
  def preparedVisibleChanges(events: Seq[ChangeEvent]): Seq[ChangeEvent] = {
    val committedXids = events.collect {
      case e if e.tag == "commit_prepared" => e.xid
    }.toSet
    var inPrepared = false
    var envelopeXid = 0L
    val out = Seq.newBuilder[ChangeEvent]
    events.foreach { e =>
      e.tag match {
        case "begin_prepare" => inPrepared = true; envelopeXid = e.xid
        case "prepare" => inPrepared = false; envelopeXid = 0L
        case "insert" | "update" | "delete" =>
          if (!inPrepared || committedXids(envelopeXid)) out += e
        case _ => ()
      }
    }
    out.result()
  }

  // ---- test_decoding (A29) ----

  val testDecodingTupleUdf = udf { line: String =>
    val e = TestDecodingParser.parse(line)
    Map("_tag" -> e.tag, "_schema" -> e.schema, "_table" -> e.table) ++ e.tuple
  }

  // ---- decoderbufs (A31) ----

  val decoderbufsTupleUdf = udf { payload: Array[Byte] =>
    val e = Decoderbufs.toChangeEvent(Decoderbufs.decode(payload))
    Map("_tag" -> e.tag, "_schema" -> e.schema, "_table" -> e.table,
      "_xid" -> e.xid.toString) ++ e.tuple
  }

  // ---- wal2json (A30): pure Spark, no UDF ----

  /** Spark schema of the wal2json Output document
    * (`wal2json-plugin-output.type.ts:2-66`). `columnvalues` arrives
    * as strings (Spark's JSON reader renders scalars to string when
    * the target type is string). */
  val wal2jsonSchema: StructType = StructType(Seq(
    StructField("change", ArrayType(StructType(Seq(
      StructField("kind", StringType),
      StructField("schema", StringType),
      StructField("table", StringType),
      StructField("columnnames", ArrayType(StringType)),
      StructField("columntypes", ArrayType(StringType)),
      StructField("columnvalues", ArrayType(StringType)),
      StructField("oldkeys", StructType(Seq(
        StructField("keynames", ArrayType(StringType)),
        StructField("keytypes", ArrayType(StringType)),
        StructField("keyvalues", ArrayType(StringType))))))))),
    StructField("xid", LongType),
    StructField("nextlsn", StringType),
    StructField("origin", LongType),
    StructField("timestamp", StringType)))

  /** Spark schema of a wal2json `format-version '2'` record: one JSON
    * object *per change* with `action` (`B C I U D T M`), typed
    * `columns` entries, and the old key in `identity` — the layout
    * behind the reference's `formatVersion` option
    * (`wal2json-plugin-options.type.ts`, serialized at
    * `wal2json-plugin.ts:20-23`). */
  val wal2jsonV2Schema: StructType = {
    val colEntry = StructType(Seq(
      StructField("name", StringType),
      StructField("type", StringType),
      StructField("value", StringType)))
    StructType(Seq(
      StructField("action", StringType),
      StructField("xid", LongType),
      StructField("lsn", StringType),
      StructField("timestamp", StringType),
      StructField("schema", StringType),
      StructField("table", StringType),
      StructField("columns", ArrayType(colEntry)),
      StructField("identity", ArrayType(colEntry))))
  }

  /** wal2json v2 payload column → canonical change rows. Pure Spark
    * (`from_json` + `map_from_entries`), no UDF. */
  def wal2jsonV2Changes(df: DataFrame, payload: Column): DataFrame = {
    def entries(c: Column): Column =
      map_from_entries(transform(c, e =>
        struct(e.getField("name"), e.getField("value"))))
    val opCol = when(col("_v2.action") === "I", "insert")
      .when(col("_v2.action") === "U", "update")
      .when(col("_v2.action") === "D", "delete")
      .when(col("_v2.action") === "T", "truncate")
      .when(col("_v2.action") === "B", "begin")
      .when(col("_v2.action") === "C", "commit")
      .when(col("_v2.action") === "M", "message")
    df.withColumn("_v2", from_json(payload, wal2jsonV2Schema))
      .select(
        opCol.as("op"),
        col("_v2.xid").as("xid"),
        col("_v2.lsn").as("lsn"),
        col("_v2.schema").as("schema"),
        col("_v2.table").as("table"),
        when(col("_v2.columns").isNotNull, entries(col("_v2.columns")))
          .as("after"),
        when(col("_v2.identity").isNotNull, entries(col("_v2.identity")))
          .as("key"))
  }

  /** wal2json payload column → one row per change with the canonical
    * columns; the parallel name/value arrays zip into the tuple map
    * (`from_json` + `explode`, no custom generator — SURVEY §7.4).
    * The parsed struct is materialized by the child projection, so the
    * JSON is parsed once per input row even though both the generator
    * and the outer projection reference it.
    *
    * `explode_outer` + an explicit null filter on the generator output
    * (same semantics as plain `explode`) rather than `explode`:
    * InferFiltersFromGenerate would synthesize
    * `size(from_json(payload).change) > 0` for the non-outer variant
    * and push it below any repartition, re-parsing every payload twice
    * in the (possibly single-split) scan stage — measured 5x slower on
    * the 100k-row roundtrip. */
  /** wal2json `write-in-chunks 'on'` reassembly (v1 layout): chunked
    * mode streams each transaction as MULTIPLE XLogData frames —
    * `{"change":[`, then one frame per change object (`,`-prefixed
    * after the first), then `]}` — so no single frame is parseable
    * JSON (`wal2json-plugin-options.type.ts` `writeInChunks`; the
    * reference serializes the option but, like us pre-r12, left
    * reassembly to the consumer). This rebuilds whole documents:
    *
    *   1. per-frame bracket-depth delta, computed AFTER stripping
    *      string literals (brace characters inside column values must
    *      not count) — pure codegen'd string functions, no UDF;
    *   2. running depth via a window partitioned by `shard` (chunk
    *      order is only meaningful within one slot's frame sequence —
    *      exactly the replay log's shard key) ordered by `lsn`;
    *   3. frames where the running depth returns to 0 close a
    *      document; the prefix-count of closed documents keys the
    *      group, and the group concatenates back into one payload.
    *
    * Scale: state is one running integer per shard (the window), and
    * the concat groups are transaction-sized — the same per-slot
    * sequential contract the wire protocol itself imposes. Output:
    * `shard` + `lsn` (the document's first frame's position) +
    * reassembled `payload`, ready for [[wal2jsonChanges]]. Frames
    * that are already whole documents (chunking off) pass through
    * unchanged, so the operator is safe on mixed logs.
    *
    * Robustness (two consumer realities of a replayed wire log):
    * redelivered frames — the walsender resends from the confirmed
    * LSN after a reconnect, so the same (shard, lsn) frame can appear
    * twice; duplicates are dropped BEFORE the depth window (an
    * equal-LSN peer inside the default RANGE frame would double its
    * bracket delta and silently corrupt every later group in the
    * shard). And a truncated tail — a stream cut mid-transaction
    * leaves the shard's last group with nonzero final depth; it is
    * emitted with `incomplete = true` (never silently concatenated
    * into the next read's frames) so a consumer can hold it back and
    * re-request from the group's `lsn` instead of feeding `from_json`
    * an unparseable payload that decodes to null rows. */
  def wal2jsonReassembleChunks(df: DataFrame, shard: Column, lsn: Column,
      payload: Column): DataFrame = {
    // Parallelism contract, DECLARED: the per-shard depth window's
    // exchange is hash(shard) at an EXPLICIT partition count, so AQE
    // data-size coalescing (which sees a few MB of frames and would
    // collapse the exchange to one partition, serializing every
    // shard's window into a single task — measured 1.5x on q260/q264)
    // cannot flatten the wire's own shard parallelism. An explicit
    // user repartition also satisfies the window's required
    // distribution, so no second exchange is planned.
    val parts = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val base = df.select(shard.as("shard"), lsn.as("_lsn"),
        payload.as("_p"))
      .repartition(parts, col("shard"))
    // Ordering contract: chunk order is NUMERIC LSN order. Textual
    // PostgreSQL LSNs ("0/16B3748") are variable-width hex, so raw
    // string comparison would scramble them ("0/10010" < "0/FFF8"
    // lexicographically) — a string column is parsed through the
    // native parse_lsn expression first; numeric columns order as-is.
    val isStr = base.schema("_lsn").dataType ==
      org.apache.spark.sql.types.StringType
    GraftFunctions.register(df.sparkSession)
    val ord =
      if (isStr) GraftFunctions.parse_lsn(col("_lsn")) else col("_lsn")
    // strip complete string literals (handles \" escapes), then count
    // structural brackets in what remains — the native one-pass
    // json_depth_delta kernel (r17), shared verbatim with the
    // streaming reassembler so stream == batch holds by construction;
    // it replaces a per-frame regexp_replace + 4x translate chain
    // (the regex materialized the stripped string per frame — the
    // dominant per-row cost of the q260/q264/q265 family).
    val delta = GraftFunctions.json_depth_delta(col("_p"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(ord)
    val closes = when(col("_depth") === 0, 1L).otherwise(0L)
    base
      .withColumn("_k", ord)
      // redelivery dedup RIDES the depth window's own (shard, lsn)
      // sort: a row whose predecessor carries the same lsn is a
      // duplicate frame (identical payload by the wire contract) and
      // must not re-count its bracket delta. lag costs nothing extra
      // here, where a dropDuplicates would be a whole second shuffle
      // of the frame stream; the filter preserves the child's
      // ordering, so the depth window below reuses the same sort.
      .withColumn("_pk", lag(col("_k"), 1).over(w))
      .filter(col("_pk").isNull || col("_pk") =!= col("_k"))
      .drop("_pk")
      .withColumn("_depth", sum(delta).over(w))
      .withColumn("_doc", sum(closes).over(w) - closes)
      .groupBy(col("shard"), col("_doc"))
      .agg(
        min_by(col("_lsn"), col("_k")).as("lsn"),
        array_join(transform(
          array_sort(collect_list(struct(col("_k"), col("_p")))),
          x => x.getField("_p")), "").as("payload"),
        (max_by(col("_depth"), col("_k")) =!= 0).as("incomplete"))
      .drop("_doc")
  }

  def wal2jsonChanges(df: DataFrame, payload: Column): DataFrame =
    wal2jsonChanges(df, payload, Nil)

  /** As above, with `keep` pass-through columns from the input frame
    * (the streaming chunked path keeps its shard + document LSN). */
  def wal2jsonChanges(df: DataFrame, payload: Column,
      keep: Seq[String]): DataFrame = {
    val parsed = df.withColumn("_w2j", from_json(payload, wal2jsonSchema))
    parsed
      .withColumn("_change", explode_outer(col("_w2j.change")))
      .filter(col("_change").isNotNull)
      .select(keep.map(col) ++ Seq(
        col("_w2j.xid").as("xid"),
        col("_w2j.nextlsn").as("nextlsn"),
        col("_change.kind").as("op"),
        col("_change.schema").as("schema"),
        col("_change.table").as("table"),
        map_from_arrays(col("_change.columnnames"),
          col("_change.columnvalues")).as("after"),
        when(col("_change.oldkeys").isNotNull,
          map_from_arrays(col("_change.oldkeys.keynames"),
            col("_change.oldkeys.keyvalues"))).as("key")): _*)
  }
}
