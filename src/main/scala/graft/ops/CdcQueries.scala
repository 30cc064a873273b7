package graft.ops

import org.apache.spark.sql.functions._
import graft.cdc._

/** Oracle-checked exercises of the four CDC decoders and the LSN /
  * PG-epoch codecs: each query *encodes* the deterministic `events`
  * rows into a wire format, *decodes* them with the engine's parser,
  * and projects the tuple back out — so the DuckDB oracle is a plain
  * projection of `events`, and any decode defect breaks the hash
  * match. (The wire formats are synthesized; there is no live
  * PostgreSQL in this environment — SURVEY.md §5.)
  *
  * Scale notes: encode+decode run inside whole-row UDFs per event —
  * fully executor-parallel, no shared state (each synthesized frame
  * sequence carries its own relation message, mirroring how a
  * distributed decode must ship the registry with the data).
  */
object CdcQueries {
  import Tables._
  import CdcFunctions._
  import GraftFunctions.{format_lsn, parse_lsn}

  /** typed rows for the mapPartitions roundtrips (q49/q54) — flat
    * case classes keep the hot path free of Map→MapData conversion. */
  final case class TwoPhaseIn(rollback: Boolean, event_id: Long,
      user_id: Long, value_str: String)
  final case class TwoPhaseOut(event_id: Long, user_id: Long,
      value_str: String, op: String, xid: Long, gid: String)
  final case class V2In(abort: Boolean, event_id: Long,
      user_id: Long, value_str: String)
  final case class V2Out(event_id: Long, user_id: Long,
      value_str: String, op: String, xid: Long)

  private val opSql =
    """CASE event_type WHEN 'signup' THEN 'insert'
      |  WHEN 'error' THEN 'delete' ELSE 'update' END""".stripMargin

  private val opCol =
    when(col("event_type") === "signup", "insert")
      .when(col("event_type") === "error", "delete")
      .otherwise("update")

  /** value rendered identically in both engines: decimal(10,2) text. */
  private val valueStrCol =
    col("value").cast("decimal(10,2)").cast("string")
  private val valueStrSql =
    "CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR)"

  /** events relation used by the pgoutput roundtrip frames. */
  private val eventsRel = RelationInfo(
    relationOid = 50001, schema = "public", name = "events",
    replicaIdentity = "default",
    columns = Seq(
      ColumnInfo("event_id", 1, 20, -1, null, null),  // int8, key
      ColumnInfo("user_id", 0, 20, -1, null, null),
      ColumnInfo("value_str", 0, 25, -1, null, null), // text
      ColumnInfo("props", 0, 25, -1, null, null)))

  /** Per-row pgoutput encode→decode: synthesizes a B/R/(I|U|D)/C frame
    * sequence and decodes it with a fresh parser. Updates exercise the
    * 'O' old-tuple submessage plus an unchanged-TOAST 'u' column
    * resolved from old; deletes exercise the 'K' key submessage with
    * key projection. */
  private val pgoutputRoundtripUdf = udf {
    (op: String, eventId: Long, userId: Long, valueStr: String) =>
      val values = Seq(eventId.toString, userId.toString, valueStr, "PROPS")
      val dml = op match {
        case "insert" => PgoutputWriter.insert(eventsRel.relationOid, values)
        case "update" => PgoutputWriter.updateWithToast(
          eventsRel.relationOid,
          oldTuple = Seq(eventId.toString, userId.toString, "0.00", "OLD"),
          newTuple = Seq(Some(eventId.toString), Some(userId.toString),
            Some(valueStr), None))
        case "delete" => PgoutputWriter.delete(eventsRel.relationOid, 'K',
          Seq(eventId.toString, null, null, null))
      }
      val frames = Seq(
        PgoutputWriter.begin(1000L + eventId, eventId * 1000000L, eventId),
        PgoutputWriter.relation(eventsRel),
        dml,
        PgoutputWriter.commit(1000L + eventId, 1001L + eventId,
          eventId * 1000000L))
      val decoded = CdcFunctions.decodeFrameSequence(frames)
      val e = decoded.find(x =>
        x.tag == "insert" || x.tag == "update" || x.tag == "delete").get
      Map("_tag" -> e.tag, "_table" -> e.table) ++ e.tuple
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q33_wal2json_roundtrip",
      s"""SELECT event_id % 1000 AS xid, $opSql AS op,
         |  'events' AS table_name, event_id, user_id,
         |  $valueStrSql AS value_str, event_type, event_id AS lsn
         |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      GraftFunctions.register(s)
      val payload = concat(
        lit("""{"change":[{"kind":""""), opCol,
        lit("""","schema":"public","table":"events","columnnames":["event_id","user_id","value_str","event_type"],"columntypes":["bigint","bigint","text","text"],"columnvalues":["""),
        col("event_id"), lit(","), col("user_id"), lit(",\""),
        valueStrCol, lit("\",\""), col("event_type"),
        lit("\"]}],\"xid\":"), col("event_id") % 1000,
        lit(""","nextlsn":""""), format_lsn(col("event_id")), lit("\"}"))
      val encoded = fanOut(events(s, d).select(payload.as("payload")))
      wal2jsonChanges(encoded, col("payload"))
        .select(
          col("xid"), col("op"), col("table").as("table_name"),
          col("after")("event_id").cast("long").as("event_id"),
          col("after")("user_id").cast("long").as("user_id"),
          col("after")("value_str").as("value_str"),
          col("after")("event_type").as("event_type"),
          parse_lsn(col("nextlsn")).as("lsn"))
        .orderBy(col("event_id"))
    },

    // ---- q260: write-in-chunks roundtrip --------------------------
    // q33 with the transport split the way `write-in-chunks 'on'`
    // actually ships it: every transaction arrives as THREE XLogData
    // frames (header `{"change":[`, the change object, footer
    // `],"xid":…,"nextlsn":"…"}`), none of which parses alone. The
    // consumer-side reassembly (`wal2jsonReassembleChunks`: per-shard
    // LSN-ordered bracket-depth) must rebuild every document before
    // the standard decode — a wrong grouping or ordering poisons the
    // JSON and the oracle hash. Shards = event_id % 32 model
    // many slots fanning into one consumer and give the reassembly
    // windows full machine parallelism; chunk LSNs are 4·event_id +
    // k so tx blocks are contiguous within a shard, interleaved
    // across shards. Scale: the window state is one running int per shard;
    // groups are tx-sized.
    QueryDef(
      "q260_wal2json_chunked_roundtrip",
      s"""SELECT event_id % 1000 AS xid, $opSql AS op,
         |  'events' AS table_name, event_id, user_id,
         |  $valueStrSql AS value_str, event_type, event_id AS lsn
         |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      GraftFunctions.register(s)
      val change = concat(
        lit("""{"kind":""""), opCol,
        lit("""","schema":"public","table":"events","columnnames":["event_id","user_id","value_str","event_type"],"columntypes":["bigint","bigint","text","text"],"columnvalues":["""),
        col("event_id"), lit(","), col("user_id"), lit(",\""),
        valueStrCol, lit("\",\""), col("event_type"), lit("\"]}"))
      val footer = concat(
        lit("""],"xid":"""), col("event_id") % 1000,
        lit(""","nextlsn":""""), format_lsn(col("event_id")), lit("\"}"))
      val frames = events(s, d)
        .select((col("event_id") % 32).as("shard"), explode(array(
          struct((col("event_id") * 4).as("flsn"),
            lit("""{"change":[""").as("p")),
          struct((col("event_id") * 4 + 1).as("flsn"), change.as("p")),
          struct((col("event_id") * 4 + 2).as("flsn"), footer.as("p"))))
          .as("f"))
        .select(col("shard"), col("f.flsn").as("flsn"), col("f.p").as("p"))
      val docs = wal2jsonReassembleChunks(fanOut(frames),
        col("shard"), col("flsn"), col("p"))
      wal2jsonChanges(docs, col("payload"))
        .select(
          col("xid"), col("op"), col("table").as("table_name"),
          col("after")("event_id").cast("long").as("event_id"),
          col("after")("user_id").cast("long").as("user_id"),
          col("after")("value_str").as("value_str"),
          col("after")("event_type").as("event_type"),
          parse_lsn(col("nextlsn")).as("lsn"))
        .orderBy(col("event_id"))
    },

    // ---- q264: chunk-reassembly census + resume points -------------
    // The consumer-ops view of q260's transport: per shard, how many
    // documents did reassembly produce, how many are COMPLETE vs cut
    // mid-transaction (`incomplete` — the stream died before the
    // footer), and the LSN to re-request from (the incomplete
    // document's FIRST frame — everything before it is durably
    // decoded, so that lsn is exactly the standby-status position a
    // consumer should report). Fixture: q260's chunked transport with
    // each shard's LAST transaction's footer withheld — the torn tail
    // is always a shard's tail, per the wire's per-slot LSN order.
    // The oracle states ground truth straight off `events`; the
    // engine must reproduce it THROUGH the depth-tracking reassembly
    // — merged groups, a missed tail, or a mis-ordered window all
    // shift the counts or the resume lsn. Scale: the census is the
    // reassembly's own per-shard aggregation plus a k-shard rollup.
    QueryDef(
      "q264_chunk_reassembly_census",
      s"""SELECT event_id % 8 AS shard,
         |  count(*) AS n_docs,
         |  count(*) - 1 AS n_complete,
         |  CAST(1 AS BIGINT) AS n_incomplete,
         |  CAST(4 * max(event_id) AS BIGINT) AS resume_lsn
         |FROM events GROUP BY 1 ORDER BY shard""".stripMargin) { (s, d) =>
      GraftFunctions.register(s)
      val change = concat(
        lit("""{"kind":""""), opCol,
        lit("""","schema":"public","table":"events","columnnames":["event_id","user_id","value_str","event_type"],"columntypes":["bigint","bigint","text","text"],"columnvalues":["""),
        col("event_id"), lit(","), col("user_id"), lit(",\""),
        valueStrCol, lit("\",\""), col("event_type"), lit("\"]}"))
      val footer = concat(
        lit("""],"xid":"""), col("event_id") % 1000,
        lit(""","nextlsn":""""), format_lsn(col("event_id")), lit("\"}"))
      val frames = events(s, d)
        .select((col("event_id") % 8).as("shard"), col("event_id"),
          explode(array(
            struct((col("event_id") * 4).as("flsn"),
              lit("""{"change":[""").as("p")),
            struct((col("event_id") * 4 + 1).as("flsn"), change.as("p")),
            struct((col("event_id") * 4 + 2).as("flsn"), footer.as("p"))))
            .as("f"))
        .select(col("shard"), col("event_id"),
          col("f.flsn").as("flsn"), col("f.p").as("p"))
      // withhold each shard's final footer: the stream cut mid-tx
      val lastTx = frames.groupBy(col("shard"))
        .agg(max(col("event_id")).as("last_e"))
      val cut = frames.join(broadcast(lastTx), "shard")
        .filter(!(col("event_id") === col("last_e") &&
          pmod(col("flsn"), lit(4L)) === 2))
        .select(col("shard"), col("flsn"), col("p"))
      val docs = wal2jsonReassembleChunks(fanOut(cut),
        col("shard"), col("flsn"), col("p"))
      docs.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(!col("incomplete"), 1L).otherwise(0L)).as("n_complete"),
          sum(when(col("incomplete"), 1L).otherwise(0L)).as("n_incomplete"),
          min(when(col("incomplete"), col("lsn"))).as("resume_lsn"))
        .orderBy(col("shard"))
    },

    // ---- q265: STREAMING reassembly under the oracle gate ----------
    // The keyed-state chunk reassembler (`StreamOps.wal2jsonChunkedDocs`
    // — the operator that consumes `write-in-chunks 'on'` live) run in
    // its batch mode over q264's cut fixture, emitting every COMPLETE
    // document's full reassembled payload. The oracle rebuilds the
    // same payloads directly off `events` with the shared op/value
    // renderings, so this hash-pins the streaming operator's actual
    // output bytes — the strongest batch-twin form of the
    // streaming == batch equality Wal2JsonChunkedStreamSpec asserts
    // structurally (in batch mode the state function sees each
    // shard's frames once; the cut tail stays in state and is
    // correctly withheld, mirroring a stream awaiting its footer).
    // Footer layout drops nextlsn so both engines build the payload
    // from plain column concats. Scale: in STREAMING, parallelism =
    // the state store's fixed shuffle partitioning over shard keys
    // (the wire's per-slot contract; AQE never re-plans a streaming
    // stateful exchange). This BATCH oracle twin runs the same
    // operator under AQE, which may size the tiny fixture exchange
    // down — timing here prices the oracle run, not the streaming
    // deployment. Per-shard state = one open transaction.
    QueryDef(
      "q265_chunked_stream_batch_parity",
      s"""WITH lastx AS (SELECT event_id % 8 AS shard,
         |                 max(event_id) AS last_e
         |               FROM events GROUP BY 1)
         |SELECT event_id % 8 AS shard,
         |  CAST(4 * event_id AS BIGINT) AS lsn,
         |  '{"change":[' ||
         |  '{"kind":"' || $opSql ||
         |  '","schema":"public","table":"events","columnnames":["event_id","user_id","value_str","event_type"],"columntypes":["bigint","bigint","text","text"],"columnvalues":[' ||
         |  event_id || ',' || user_id || ',"' || $valueStrSql ||
         |  '","' || event_type || '"]}' ||
         |  '],"xid":' || (event_id % 1000) || '}' AS payload
         |FROM events JOIN lastx ON lastx.shard = event_id % 8
         |WHERE event_id <> lastx.last_e
         |ORDER BY lsn""".stripMargin) { (s, d) =>
      GraftFunctions.register(s)
      val change = concat(
        lit("""{"kind":""""), opCol,
        lit("""","schema":"public","table":"events","columnnames":["event_id","user_id","value_str","event_type"],"columntypes":["bigint","bigint","text","text"],"columnvalues":["""),
        col("event_id"), lit(","), col("user_id"), lit(",\""),
        valueStrCol, lit("\",\""), col("event_type"), lit("\"]}"))
      val footer = concat(
        lit("""],"xid":"""), col("event_id") % 1000, lit("}"))
      val frames = events(s, d)
        .select((col("event_id") % 8).as("shard"), col("event_id"),
          explode(array(
            struct((col("event_id") * 4).as("flsn"),
              lit("""{"change":[""").as("p")),
            struct((col("event_id") * 4 + 1).as("flsn"), change.as("p")),
            struct((col("event_id") * 4 + 2).as("flsn"), footer.as("p"))))
            .as("f"))
        .select(col("shard"), col("event_id"),
          col("f.flsn").as("flsn"), col("f.p").as("p"))
      val lastTx = frames.groupBy(col("shard"))
        .agg(max(col("event_id")).as("last_e"))
      val cut = fanOut(frames.join(broadcast(lastTx), "shard")
        .filter(!(col("event_id") === col("last_e") &&
          pmod(col("flsn"), lit(4L)) === 2))
        .select(col("shard"), col("flsn"), col("p")))
      import s.implicits._
      val chunks = cut.select(col("shard").cast("long").as("shard"),
          col("flsn").cast("long").as("lsn"), col("p").as("payload"))
        .as[graft.streaming.StreamOps.ChunkFrame]
      graft.streaming.StreamOps.wal2jsonChunkedDocs(chunks).toDF()
        .select(col("shard"), col("lsn"), col("payload"))
        .orderBy(col("lsn"))
    },

    QueryDef(
      "q53_wal2json_v2_roundtrip",
      s"""SELECT event_id % 1000 AS xid, $opSql AS op,
         |  'events' AS table_name,
         |  CASE WHEN $opSql = 'delete' THEN NULL ELSE event_id END
         |    AS event_id_out,
         |  CASE WHEN $opSql = 'delete' THEN NULL ELSE $valueStrSql END
         |    AS value_str_out,
         |  CASE WHEN $opSql = 'delete' THEN event_id ELSE NULL END
         |    AS key_event_id,
         |  event_id AS lsn, event_id AS order_key
         |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      // format-version 2: one JSON object per change, typed `columns`
      // entries, old key in `identity` (deletes carry identity only)
      GraftFunctions.register(s)
      val payload = concat(
        lit("""{"action":""""),
        when(opCol === "insert", "I").when(opCol === "delete", "D")
          .otherwise("U"),
        lit("""","xid":"""), col("event_id") % 1000,
        lit(""","lsn":""""), format_lsn(col("event_id")),
        lit("""","schema":"public","table":"events""""),
        when(opCol =!= "delete", concat(
          lit(""","columns":[{"name":"event_id","type":"bigint","value":"""),
          col("event_id"),
          lit("""},{"name":"value_str","type":"text","value":""""),
          valueStrCol, lit("\"}]"))).otherwise(lit("")),
        when(opCol =!= "insert", concat(
          lit(""","identity":[{"name":"event_id","type":"bigint","value":"""),
          col("event_id"), lit("}]"))).otherwise(lit("")),
        lit("}"))
      val encoded = fanOut(events(s, d).select(payload.as("payload")))
      wal2jsonV2Changes(encoded, col("payload"))
        .select(
          col("xid"), col("op"), col("table").as("table_name"),
          col("after")("event_id").cast("long").as("event_id_out"),
          col("after")("value_str").as("value_str_out"),
          when(col("op") === "delete", col("key")("event_id").cast("long"))
            .as("key_event_id"),
          parse_lsn(col("lsn")).as("lsn"))
        .withColumn("order_key",
          coalesce(col("event_id_out"), col("key_event_id")))
        .orderBy(col("order_key"))
    },

    QueryDef(
      "q34_test_decoding_roundtrip",
      s"""SELECT event_id, user_id, $valueStrSql AS value_str,
         |  props AS props_out,
         |  CASE event_type WHEN 'signup' THEN 'insert'
         |    WHEN 'error' THEN 'delete' ELSE 'update' END AS op,
         |  'events' AS table_name
         |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val actionCol =
        when(col("event_type") === "signup", "INSERT")
          .when(col("event_type") === "error", "DELETE")
          .otherwise("UPDATE")
      val line = concat(
        lit("table public.events: "), actionCol,
        lit(": event_id[bigint]:"), col("event_id"),
        lit(" user_id[bigint]:"), col("user_id"),
        lit(" value_str[text]:'"), valueStrCol,
        lit("' props[text]:'"), col("props"), lit("'"))
      fanOut(events(s, d).select(line.as("line")))
        .select(testDecodingTupleUdf(col("line")).as("m"))
        .select(
          col("m")("event_id").cast("long").as("event_id"),
          col("m")("user_id").cast("long").as("user_id"),
          col("m")("value_str").as("value_str"),
          col("m")("props").as("props_out"),
          col("m")("_tag").as("op"),
          col("m")("_table").as("table_name"))
        .orderBy(col("event_id"))
    },

    QueryDef(
      "q35_pgoutput_roundtrip",
      s"""SELECT event_id, $opSql AS op, 'events' AS table_name,
         |  CASE WHEN $opSql = 'delete' THEN NULL
         |       ELSE user_id END AS user_id_out,
         |  CASE WHEN $opSql = 'delete' THEN NULL
         |       ELSE $valueStrSql END AS value_str_out,
         |  CASE WHEN $opSql = 'update' THEN 'OLD'
         |       WHEN $opSql = 'insert' THEN 'PROPS'
         |       ELSE NULL END AS props_out
         |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      fanOut(events(s, d)
        .withColumn("op", opCol)
        .select(col("event_id"), col("op"), col("user_id"),
          valueStrCol.as("value_str")))
        .select(col("event_id"), col("op"),
          pgoutputRoundtripUdf(col("op"), col("event_id"), col("user_id"),
            col("value_str")).as("m"))
        .select(
          col("m")("event_id").cast("long").as("event_id"),
          col("m")("_tag").as("op"),
          col("m")("_table").as("table_name"),
          col("m")("user_id").cast("long").as("user_id_out"),
          col("m")("value_str").as("value_str_out"),
          col("m")("props").as("props_out"))
        .orderBy(col("event_id"))
    },

    QueryDef(
      "q35b_decoderbufs_roundtrip",
      s"""SELECT event_id, user_id, $opSql AS op,
         |  'events' AS table_name, $valueStrSql AS value_str
         |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val encodeUdf = udf { (op: String, eventId: Long, userId: Long, vs: String) =>
        val opCode = op match {
          case "insert" => Decoderbufs.OpInsert
          case "update" => Decoderbufs.OpUpdate
          case "delete" => Decoderbufs.OpDelete
        }
        val tuple = Seq(
          Decoderbufs.encodeDatumInt64("event_id", 20, eventId),
          Decoderbufs.encodeDatumInt64("user_id", 20, userId),
          Decoderbufs.encodeDatumString("value_str", 25, vs))
        // deletes carry the old tuple, like the plugin
        if (opCode == Decoderbufs.OpDelete)
          Decoderbufs.encodeRow(eventId, eventId, "public.events", opCode,
            Nil, tuple)
        else
          Decoderbufs.encodeRow(eventId, eventId, "public.events", opCode,
            tuple)
      }
      fanOut(events(s, d)
        .withColumn("op", opCol)
        .select(col("op"), col("event_id"), col("user_id"),
          valueStrCol.as("value_str")))
        .select(decoderbufsTupleUdf(
          encodeUdf(col("op"), col("event_id"), col("user_id"),
            col("value_str"))).as("m"))
        .select(
          col("m")("event_id").cast("long").as("event_id"),
          col("m")("user_id").cast("long").as("user_id"),
          col("m")("_tag").as("op"),
          col("m")("_table").as("table_name"),
          col("m")("value_str").as("value_str"))
        .orderBy(col("event_id"))
    },

    QueryDef(
      "q49_pgoutput_v2_stream",
      s"""SELECT event_id, user_id, $valueStrSql AS value_str,
         |  'insert' AS op, event_id + 1 AS xid
         |FROM events WHERE event_type <> 'error'
         |ORDER BY event_id""".stripMargin) { (s, d) =>
      // Proto-v2 in-progress-transaction streaming: every event becomes
      // a streamed transaction S / R+xid / I+xid / E followed by a
      // stream-commit — except 'error' events, whose stream is
      // stream-aborted and must stay invisible downstream. xid is
      // event_id+1: PostgreSQL xids start at 3, and xid 0 means
      // "not streamed" to streamCommittedChanges. Typed mapPartitions
      // keeps the hot path conversion-free (see q54).
      import s.implicits._
      fanOut(events(s, d)
        .select(
          (col("event_type") === "error").as("abort"),
          col("event_id"), col("user_id"), valueStrCol.as("value_str")))
        .as[V2In]
        .mapPartitions { it =>
          val parser = new PgoutputParser
          it.flatMap { r =>
            val xid = r.event_id + 1
            val frames = Seq(
              PgoutputWriter.streamStart(xid, firstSegment = true),
              PgoutputWriter.streamed(xid, PgoutputWriter.relation(eventsRel)),
              PgoutputWriter.streamed(xid, PgoutputWriter.insert(
                eventsRel.relationOid,
                Seq(r.event_id.toString, r.user_id.toString, r.value_str,
                  "PROPS"))),
              PgoutputWriter.streamStop(),
              if (r.abort) PgoutputWriter.streamAbort(xid, xid)
              else PgoutputWriter.streamCommit(xid, 1000L + r.event_id,
                1001L + r.event_id, r.event_id * 1000000L))
            val decoded = frames.map(parser.parse(_))
            CdcFunctions.streamCommittedChanges(decoded).map(e =>
              V2Out(e.after("event_id").toLong, e.after("user_id").toLong,
                e.after("value_str"), e.tag, e.xid))
          }
        }
        .toDF()
        .orderBy(col("event_id"))
    },

    QueryDef(
      "q54_pgoutput_two_phase",
      s"""SELECT event_id, user_id, $valueStrSql AS value_str,
         |  'insert' AS op, event_id + 1 AS xid,
         |  'gid-' || CAST(event_id AS VARCHAR) AS gid
         |FROM events WHERE event_type <> 'error'
         |ORDER BY event_id""".stripMargin) { (s, d) =>
      // PG15 two-phase commit: every event becomes a prepared
      // transaction (begin_prepare / R / I / prepare) that is COMMIT
      // PREPARED — except 'error' events, which are ROLLBACK PREPARED
      // and must stay invisible downstream. Typed mapPartitions with a
      // flat case-class output: no per-row Map→MapData conversion on
      // the hot path, parser reused across the partition (each frame
      // sequence re-ships its relation, so reuse is safe).
      import s.implicits._
      fanOut(events(s, d)
        .select(
          (col("event_type") === "error").as("rollback"),
          col("event_id"), col("user_id"), valueStrCol.as("value_str")))
        .as[TwoPhaseIn]
        .mapPartitions { it =>
          val parser = new PgoutputParser
          it.flatMap { r =>
            val xid = r.event_id + 1
            val gid = s"gid-${r.event_id}"
            val frames = Seq(
              PgoutputWriter.beginPrepare(100L + r.event_id, 101L + r.event_id,
                r.event_id * 1000000L, xid, gid),
              PgoutputWriter.relation(eventsRel),
              PgoutputWriter.insert(eventsRel.relationOid,
                Seq(r.event_id.toString, r.user_id.toString, r.value_str,
                  "PROPS")),
              PgoutputWriter.prepare(100L + r.event_id, 101L + r.event_id,
                r.event_id * 1000000L, xid, gid),
              if (r.rollback)
                PgoutputWriter.rollbackPrepared(101L + r.event_id,
                  202L + r.event_id, r.event_id * 1000000L,
                  r.event_id * 1000000L + 1L, xid, gid)
              else
                PgoutputWriter.commitPrepared(200L + r.event_id,
                  201L + r.event_id, r.event_id * 1000000L, xid, gid))
            val decoded = frames.map(parser.parse(_))
            CdcFunctions.preparedVisibleChanges(decoded).map(e =>
              TwoPhaseOut(
                e.after("event_id").toLong, e.after("user_id").toLong,
                e.after("value_str"), e.tag, xid, gid))
          }
        }
        .toDF()
        .orderBy(col("event_id"))
    },

    QueryDef(
      "q36_lsn_codec",
      """SELECT id,
        |  upper(lpad(to_hex((id * 4294967311) // 4294967296), 8, '0'))
        |    || '/' ||
        |  upper(lpad(to_hex((id * 4294967311) % 4294967296), 8, '0'))
        |    AS lsn_str,
        |  id * 4294967311 AS lsn_back,
        |  id * 4294967296 AS next_after_carry
        |FROM range(1, 2001) t(id) ORDER BY id""".stripMargin) { (s, d) =>
      GraftFunctions.register(s)
      s.range(1, 2001)
        .withColumn("lsn", col("id") * lit(4294967311L))
        .withColumn("lsn_str", format_lsn(col("lsn")))
        .withColumn("lsn_back", parse_lsn(col("lsn_str")))
        // lo-word 0xFFFFFFFF: +1 must carry into the hi word
        .withColumn("next_after_carry",
          GraftFunctions.lsn_plus_one(col("id") * lit(4294967296L) - 1))
        .select(col("id"), col("lsn_str"), col("lsn_back"),
          col("next_after_carry"))
        .orderBy(col("id"))
    },

    QueryDef(
      "q37_pg_epoch_codec",
      """SELECT event_id,
        |  epoch(date_trunc('second', ts))::BIGINT * 1000000
        |    - 946684800000000 AS pg_us,
        |  epoch(date_trunc('second', ts))::BIGINT AS sec_back
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      GraftFunctions.register(s)
      events(s, d)
        .withColumn("pg_us",
          GraftFunctions.unix_to_pg_epoch(col("ts_sec") * 1000000L))
        .withColumn("sec_back",
          (GraftFunctions.pg_epoch_to_unix(col("pg_us")) / 1000000L)
            .cast("long"))
        .select(col("event_id"), col("pg_us"), col("sec_back"))
        .orderBy(col("event_id"))
    },

    QueryDef(
      "q73_decoder_parity",
      s"""WITH base AS (SELECT
         |    CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)
         |      || '|' || $valueStrSql AS canon
         |  FROM events WHERE event_id % 10 = 0),
         |agg AS (SELECT count(*) AS n_changes,
         |    CAST(sum(${Text.h32Sql("canon")}) AS BIGINT) AS checksum
         |  FROM base)
         |SELECT d.decoder, agg.n_changes, agg.checksum
         |FROM (VALUES ('decoderbufs'), ('pgoutput'), ('test_decoding'),
         |      ('wal2json')) d(decoder), agg
         |ORDER BY d.decoder""".stripMargin) { (s, d) =>
      // Cross-decoder parity: the same insert stream is encoded into all
      // four wire formats, decoded by the four engine decoders, and each
      // branch reduced to an order-independent content checksum
      // (count + sum of md5_h32 over the canonical tuple). All four rows
      // must carry the SAME checksum as the oracle computes straight
      // from `events` — any drift in any decoder breaks its row. Sums
      // commute, so the reduction needs no ordering or collect at any
      // scale; a 10% event_id slice keeps the fan-out bounded.
      GraftFunctions.register(s)
      val base = fanOut(events(s, d)
        .filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("user_id"),
          valueStrCol.as("value_str")))
      def canon(m: org.apache.spark.sql.Column) =
        concat_ws("|", m("event_id"), m("user_id"), m("value_str"))
      val pg = base.select(lit("pgoutput").as("decoder"),
        canon(pgoutputRoundtripUdf(lit("insert"), col("event_id"),
          col("user_id"), col("value_str"))).as("canon"))
      val tdLine = concat(
        lit("table public.events: INSERT: event_id[bigint]:"), col("event_id"),
        lit(" user_id[bigint]:"), col("user_id"),
        lit(" value_str[text]:'"), col("value_str"), lit("'"))
      val td = base.select(lit("test_decoding").as("decoder"),
        canon(testDecodingTupleUdf(tdLine)).as("canon"))
      val w2jPayload = concat(
        lit("""{"change":[{"kind":"insert","schema":"public","table":"events","columnnames":["event_id","user_id","value_str"],"columntypes":["bigint","bigint","text"],"columnvalues":["""),
        col("event_id"), lit(","), col("user_id"), lit(",\""),
        col("value_str"), lit("\"]}]}"))
      val w2j = wal2jsonChanges(base.select(w2jPayload.as("payload")),
          col("payload"))
        .select(lit("wal2json").as("decoder"),
          concat_ws("|", col("after")("event_id"), col("after")("user_id"),
            col("after")("value_str")).as("canon"))
      val dbufEncode = udf { (eventId: Long, userId: Long, vs: String) =>
        Decoderbufs.encodeRow(eventId, eventId, "public.events",
          Decoderbufs.OpInsert,
          Seq(Decoderbufs.encodeDatumInt64("event_id", 20, eventId),
            Decoderbufs.encodeDatumInt64("user_id", 20, userId),
            Decoderbufs.encodeDatumString("value_str", 25, vs)))
      }
      val db = base.select(lit("decoderbufs").as("decoder"),
        canon(decoderbufsTupleUdf(dbufEncode(col("event_id"),
          col("user_id"), col("value_str")))).as("canon"))
      pg.unionAll(td).unionAll(w2j).unionAll(db)
        .groupBy(col("decoder"))
        .agg(count(lit(1)).as("n_changes"),
          sum(GraftFunctions.md5_h32(col("canon"))).cast("long")
            .as("checksum"))
        .orderBy(col("decoder"))
    },

    QueryDef(
      "q119_typed_oids",
      """SELECT CAST(o_orderkey AS BIGINT) AS id,
        |  CAST(o_orderkey % 100 AS BIGINT) AS qty,
        |  CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) / 100
        |    AS price,
        |  (o_orderkey % 2 = 0) AS flag,
        |  o_orderdate AS created,
        |  o_orderpriority || '|a, b|?' AS tags_joined,
        |  upper(hex(o_orderpriority)) AS payload_hex,
        |  CAST(o_orderkey % 5 AS BIGINT) AS dur_months,
        |  CAST(o_orderkey % 11 AS BIGINT) AS dur_days,
        |  CAST(((o_orderkey % 24) * 3600 + 30 * 60 + 45) * 1000000
        |    + 500000 AS BIGINT) AS dur_micros,
        |  CAST(o_custkey AS DOUBLE) + 0.5 AS pos_x,
        |  CAST(o_orderkey % 97 AS DOUBLE) + 0.25 AS pos_y,
        |  CAST(o_orderkey % 7 AS BIGINT) AS js_k,
        |  o_orderstatus AS js_s
        |FROM orders ORDER BY id""".stripMargin) { (s, d) =>
      // Per-OID typed refinement as an oracle query: render every
      // orders row into the PG *text* forms the wire delivers —
      // numeric, bool 't'/'f', timestamptz, a text[] literal with a
      // quoted comma element and a NULL, \x-hex bytea, a
      // "mons/days/HH:MM:SS.f" interval, a point, jsonb — refine the
      // tuple map through TypedRefinement (the pg-types analogue,
      // `pgoutput-parser.ts:144`), and project the typed values back
      // out. The oracle computes the same values directly from the
      // base columns, so any parse defect in any OID family breaks
      // the hash. All refinement is per-row expression work fused
      // into the scan stage — no shuffle beyond the output sort.
      GraftFunctions.register(s)
      val rel = RelationInfo(50002, "public", "typed_orders", "default",
        Seq(ColumnInfo("id", 1, 20, -1, null, null),
          ColumnInfo("qty", 0, 21, -1, null, null),
          ColumnInfo("price", 0, 1700, -1, null, null),
          ColumnInfo("flag", 0, 16, -1, null, null),
          ColumnInfo("created", 0, 1184, -1, null, null),
          ColumnInfo("tags", 0, 1009, -1, null, null),
          ColumnInfo("payload", 0, 17, -1, null, null),
          ColumnInfo("dur", 0, 1186, -1, null, null),
          ColumnInfo("pos", 0, 600, -1, null, null),
          ColumnInfo("js", 0, 3802, -1, null, null)))
      val o = col("o_orderkey")
      val cents = round(col("o_totalprice") * 100).cast("long")
      val raw = orders(s, d).select(map(
        lit("id"), o.cast("string"),
        lit("qty"), (o % 100).cast("string"),
        lit("price"), concat((cents / 100).cast("long").cast("string"),
          lit("."), lpad((cents % 100).cast("string"), 2, "0")),
        lit("flag"), when(o % 2 === 0, "t").otherwise("f"),
        lit("created"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss+00"),
        lit("tags"), concat(lit("{"), col("o_orderpriority"),
          lit(",\"a, b\",NULL}")),
        lit("payload"), concat(lit("\\x"), lower(hex(col("o_orderpriority")))),
        lit("dur"), concat((o % 5).cast("string"), lit(" mons "),
          (o % 11).cast("string"), lit(" days "),
          lpad((o % 24).cast("string"), 2, "0"), lit(":30:45.5")),
        lit("pos"), concat(lit("("), col("o_custkey").cast("string"),
          lit(".5,"), (o % 97).cast("string"), lit(".25)")),
        lit("js"), concat(lit("{\"k\":"), (o % 7).cast("string"),
          lit(",\"s\":\""), col("o_orderstatus"), lit("\"}"))
      ).as("tuple"))
      TypedRefinement.typedView(raw, "tuple", rel, keep = Nil)
        .select(
          col("id"),
          col("qty").cast("long").as("qty"),
          col("price").cast("double").as("price"),
          col("flag"),
          col("created"),
          array_join(col("tags"), "|", "?").as("tags_joined"),
          upper(hex(col("payload"))).as("payload_hex"),
          col("dur.months").cast("long").as("dur_months"),
          col("dur.days").cast("long").as("dur_days"),
          col("dur.micros").as("dur_micros"),
          col("pos.x").as("pos_x"),
          col("pos.y").as("pos_y"),
          expr("variant_get(js, '$.k', 'long')").as("js_k"),
          expr("variant_get(js, '$.s', 'string')").as("js_s"))
        .orderBy(col("id"))
    },

    QueryDef(
      "q229_typed_oid_tail",
      """SELECT CAST(o_orderkey AS BIGINT) AS id,
        |  'abcdef00-1111-4222-8333-' ||
        |    lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS uuid_t,
        |  '10.' || CAST(o_orderkey % 256 AS VARCHAR) || '.0.1' AS ip_addr,
        |  CAST(CASE WHEN o_orderkey % 3 = 0 THEN 24 END AS BIGINT)
        |    AS ip_mask,
        |  '08:00:2b:01:02:' ||
        |    lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') AS mac,
        |  CASE WHEN o_orderkey % 7 <> 0
        |    THEN CAST(o_orderkey % 50 AS BIGINT) END AS r_lo,
        |  CASE WHEN o_orderkey % 7 <> 0
        |    THEN CAST(o_orderkey % 50 + o_orderkey % 7 AS BIGINT) END
        |    AS r_hi,
        |  o_orderkey % 7 <> 0 AS r_lo_inc,
        |  o_orderkey % 7 = 0 AS r_empty,
        |  CAST((o_orderkey % 30) * 100 + 25 AS BIGINT) AS nr_lo_c,
        |  CASE WHEN o_orderkey % 5 <> 0
        |    THEN CAST(1709274600 + (o_orderkey % 5) * 86400 AS BIGINT) END
        |    AS tsr_hi_unix,
        |  DATE '2024-02-01' + CAST(o_orderkey % 20 AS INTEGER) AS dr_lo,
        |  CAST(o_orderkey % 7 + 1 AS BIGINT) AS dr_days,
        |  CASE WHEN o_orderkey % 1000 = 0 THEN 'mislabeled'
        |    ELSE CASE o_orderkey % 4 WHEN 0 THEN 'pending'
        |      WHEN 1 THEN 'active' WHEN 2 THEN 'done'
        |      ELSE 'cancelled' END END AS status,
        |  CASE WHEN o_orderkey % 1000 = 0 THEN NULL
        |    ELSE CAST(o_orderkey % 4 AS BIGINT) END AS status_ord,
        |  CAST(o_orderkey % 101 AS BIGINT) AS pct
        |FROM orders ORDER BY id""".stripMargin) { (s, d) =>
      // The pg-types OID long tail (verdict r8 ask 5): uuid, inet,
      // cidr-style masks, macaddr, int8range/numrange/tsrange/
      // daterange — rendered into the PG text forms the wire
      // delivers (uppercase uuid/mac to prove canonicalization,
      // 'empty' ranges, quoted timestamp bounds), refined through
      // TypedRefinement's delegate-everything contract
      // (`pgoutput-parser.ts:144`), and projected back out where the
      // oracle recomputes every value from the base columns. Like
      // q119, all refinement is per-row expression work fused into
      // the scan stage; the only shuffle is the output sort.
      //
      // r9 ask 6 extends the family with a user-supplied TypeCatalog:
      // a 4-label enum (every 1000th row carries a label OUTSIDE the
      // catalog — its ord must surface as null, the validation the
      // text passthrough couldn't do) and a percentage domain whose
      // OID resolves through the catalog to its int4 base type.
      GraftFunctions.register(s)
      val rel = RelationInfo(50003, "public", "typed_tail", "default",
        Seq(ColumnInfo("id", 1, 20, -1, null, null),
          ColumnInfo("u", 0, 2950, -1, null, null),
          ColumnInfo("ip", 0, 869, -1, null, null),
          ColumnInfo("mac", 0, 829, -1, null, null),
          ColumnInfo("i8r", 0, 3926, -1, null, null),
          ColumnInfo("nr", 0, 3906, -1, null, null),
          ColumnInfo("tsr", 0, 3908, -1, null, null),
          ColumnInfo("dr", 0, 3912, -1, null, null),
          ColumnInfo("status", 0, 50010, -1, null, null),
          ColumnInfo("pct", 0, 50011, -1, null, null)))
      val catalog = TypedRefinement.TypeCatalog(
        enums = Map(50010 ->
          Seq("pending", "active", "done", "cancelled")),
        domains = Map(50011 -> 23))
      val o = col("o_orderkey")
      def s2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        lpad(c.cast("string"), 2, "0")
      val raw = orders(s, d).select(map(
        lit("id"), o.cast("string"),
        lit("u"), concat(lit("ABCDEF00-1111-4222-8333-"),
          lpad(o.cast("string"), 12, "0")),
        lit("ip"), concat(lit("10."), (o % 256).cast("string"),
          lit(".0.1"), when(o % 3 === 0, "/24").otherwise("")),
        lit("mac"), concat(lit("08:00:2B:01:02:"), s2(o % 100)),
        lit("i8r"), when(o % 7 === 0, "empty").otherwise(
          concat(lit("["), (o % 50).cast("string"), lit(","),
            (o % 50 + o % 7).cast("string"), lit(")"))),
        lit("nr"), concat(lit("["), (o % 30).cast("string"),
          lit(".25,"), (o % 30 + 2).cast("string"), lit(".75]")),
        lit("tsr"), when(o % 5 === 0, "empty").otherwise(
          concat(lit("[\"2024-03-01 06:30:00\",\"2024-03-0"),
            (o % 5 + 1).cast("string"), lit(" 06:30:00\")"))),
        lit("dr"), concat(lit("[2024-02-"), s2(o % 20 + 1),
          lit(",2024-02-"), s2(o % 20 + 1 + o % 7 + 1), lit(")")),
        lit("status"), when(o % 1000 === 0, "mislabeled").otherwise(
          when(o % 4 === 0, "pending").when(o % 4 === 1, "active")
            .when(o % 4 === 2, "done").otherwise("cancelled")),
        lit("pct"), (o % 101).cast("string")
      ).as("tuple"))
      TypedRefinement.typedView(raw, "tuple", rel, keep = Nil,
          catalog = catalog)
        .select(
          col("id"),
          col("u").as("uuid_t"),
          col("ip.addr").as("ip_addr"),
          col("ip.masklen").cast("long").as("ip_mask"),
          col("mac"),
          col("i8r.lo").as("r_lo"),
          col("i8r.hi").as("r_hi"),
          col("i8r.lo_inc").as("r_lo_inc"),
          col("i8r.is_empty").as("r_empty"),
          (col("nr.lo") * 100).cast("long").as("nr_lo_c"),
          col("tsr.hi").cast("long").as("tsr_hi_unix"),
          col("dr.lo").as("dr_lo"),
          datediff(col("dr.hi"), col("dr.lo")).cast("long").as("dr_days"),
          col("status.label").as("status"),
          col("status.ord").cast("long").as("status_ord"),
          col("pct").cast("long").as("pct"))
        .orderBy(col("id"))
    },

    QueryDef(
      "q240_typed_composite",
      """SELECT CAST(o_orderkey AS BIGINT) AS id,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |  o_orderpriority || ', x' AS item_name,
        |  CAST(o_orderkey % 9 AS BIGINT) AS item_qty,
        |  CASE WHEN o_orderkey % 10 <> 0
        |    THEN CAST((o_orderkey % 50) * 100 + 25 AS BIGINT) END
        |    AS item_price_cents
        |FROM orders ORDER BY id""".stripMargin) { (s, d) =>
      // r10 verdict ask 6 — the q229 family extended with the two
      // catalog capabilities the delegate-everything contract
      // (`pgoutput-parser.ts:144`) can't do alone:
      //  - numeric(12,2): the Relation message's attribute typmod
      //    lands as DecimalType(12,2) (TypedRefinementOidSpec pins
      //    the schema; here the exact cents round-trip pins values),
      //  - a composite column ("(name,qty,unit_price)" record text,
      //    quoted name with a comma, NULL unit_price every 10th row)
      //    refined through a user-supplied TypeCatalog into a typed
      //    struct whose fields the oracle recomputes from base
      //    columns.
      // All refinement is per-row expression work fused into the
      // scan; the only shuffle is the output sort.
      GraftFunctions.register(s)
      def tm(p: Int, sc: Int): Int = ((p << 16) | sc) + 4
      val rel = RelationInfo(50004, "public", "typed_comp", "default",
        Seq(ColumnInfo("id", 1, 20, -1, null, null),
          ColumnInfo("price", 0, 1700, tm(12, 2), null, null),
          ColumnInfo("item", 0, 50020, -1, null, null)))
      val catalog = TypedRefinement.TypeCatalog(
        composites = Map(50020 -> Seq(
          "name" -> 25, "qty" -> 23, "unit_price" -> 1700)))
      val o = col("o_orderkey")
      val cents = round(col("o_totalprice") * 100).cast("long")
      val raw = orders(s, d).select(map(
        lit("id"), o.cast("string"),
        lit("price"), concat((cents / 100).cast("long").cast("string"),
          lit("."), lpad((cents % 100).cast("string"), 2, "0")),
        lit("item"), concat(lit("(\""), col("o_orderpriority"),
          lit(", x\","), (o % 9).cast("string"), lit(","),
          when(o % 10 === 0, "").otherwise(
            concat((o % 50).cast("string"), lit(".25"))), lit(")"))
      ).as("tuple"))
      TypedRefinement.typedView(raw, "tuple", rel, keep = Nil,
          catalog = catalog)
        .select(
          col("id"),
          (col("price") * 100).cast("long").as("price_cents"),
          col("item.name").as("item_name"),
          col("item.qty").cast("long").as("item_qty"),
          (col("item.unit_price") * 100).cast("long")
            .as("item_price_cents"))
        .orderBy(col("id"))
    }
  )
}
