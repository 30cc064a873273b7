package graft.cdc

/** Column descriptor inside a relation (schema-discovery) message —
  * reference `pgoutput.types.ts:73-81`; `flags & 1` marks replica-key
  * membership (`pgoutput-parser.ts:94`). */
final case class ColumnInfo(
    name: String,
    flags: Int,
    typeOid: Int,
    typeMod: Int,
    typeSchema: String,
    typeName: String) {
  def isKey: Boolean = (flags & 1) != 0
}

/** Cached table schema, the analogue of the reference's
  * `_relationCache` entry (`pgoutput.types.ts:63-71`). */
final case class RelationInfo(
    relationOid: Int,
    schema: String,
    name: String,
    replicaIdentity: String,
    columns: Seq[ColumnInfo]) {
  def keyColumns: Seq[String] = columns.filter(_.isKey).map(_.name)
}

/** The canonical wide change-event row (SURVEY.md §7.1): one Spark row
  * per decoded message, `tag` discriminates the variant, variant-less
  * fields are null. Tuples travel as name→text maps (the wire's `'t'`
  * kind); a binary `'b'` value is hex-encoded with a `\x` prefix (the
  * PostgreSQL bytea text convention), `'n'` is a null map value, and
  * the TOAST `'u'` kind resolves from the old tuple like the
  * reference (`pgoutput-parser.ts:260-261`).
  *
  * Typed refinement (text map → per-table `StructType`) is a
  * downstream `select` with casts — see [[graft.cdc.CdcFunctions]].
  */
final case class ChangeEvent(
    tag: String,                                   // begin|commit|origin|type|relation|insert|update|delete|truncate|message|stream_start|stream_stop|stream_commit|stream_abort
    lsn: Long,                                     // frame LSN (0 = unknown)
    xid: Long,                                     // begin only (0 otherwise)
    commitLsn: Long,
    commitEndLsn: Long,
    commitTimeMicros: Long,                        // unix µs
    schema: String,
    table: String,
    relationOid: Long,
    replicaIdentity: String,
    key: Map[String, String],
    before: Map[String, String],
    after: Map[String, String],
    columns: Seq[ColumnInfo],
    originName: String,
    originLsn: Long,
    typeOid: Long,
    typeSchema: String,
    typeName: String,
    messagePrefix: String,
    messageContent: Array[Byte],
    messageTransactional: Boolean,
    truncateCascade: Boolean,
    truncateRestartIdentity: Boolean,
    truncateRelationOids: Seq[Long],
    streamFirstSegment: Boolean,                   // stream_start only (proto v2)
    subXid: Long,                                  // stream_abort only (proto v2)
    gid: String) {                                 // two-phase tags only (proto v3 / two_phase)

  /** The row image a change carries: the new tuple, else the old one,
    * else the replica key (a delete under the default identity), else
    * empty. */
  def tuple: Map[String, String] =
    if (after != null) after
    else if (before != null) before
    else if (key != null) key
    else Map.empty
}

object ChangeEvent {
  val empty: ChangeEvent = ChangeEvent(
    tag = null, lsn = 0L, xid = 0L, commitLsn = 0L, commitEndLsn = 0L,
    commitTimeMicros = 0L, schema = null, table = null, relationOid = 0L,
    replicaIdentity = null, key = null, before = null, after = null,
    columns = null, originName = null, originLsn = 0L, typeOid = 0L,
    typeSchema = null, typeName = null, messagePrefix = null,
    messageContent = null, messageTransactional = false,
    truncateCascade = false, truncateRestartIdentity = false,
    truncateRelationOids = null, streamFirstSegment = false, subXid = 0L,
    gid = null)
}
