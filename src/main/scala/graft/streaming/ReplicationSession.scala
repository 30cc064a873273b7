package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.{AckScheduler, CdcFormat, Lsn}

/** Reference-API facade: the lifecycle of the reference's
  * `LogicalReplicationService` (`logical-replication-service.ts`)
  * mapped one-to-one onto Structured Streaming over the cdc-replay
  * source, so a user of the reference can switch by name:
  *
  *  - `subscribe(plugin, slotName, uptoLsn?)` (`:66-148`) → a
  *    streaming DataFrame of raw (lsn, frames) rows for the plugin's
  *    frame log; downstream decode is the `'data'` handler analogue
  *    (`StreamOps.decodedChanges` et al.). The plugin's
  *    START_REPLICATION serialization is exposed via
  *    [[startReplicationSql]] — in a live deployment that string is
  *    what the connector issues; in replay it documents the session.
  *  - `acknowledge(lsn)` (`:250-262`) → persists the standby-status
  *    LSN to the log dir's [[AckRecord]], monotonically (the
  *    reference also only advances `lastLsn`). The source's own
  *    commit hook auto-acks delivered batches exactly like
  *    `acknowledge.auto = true` (`:54-57`).
  *  - periodic re-ack (`acknowledge.timeoutSeconds`, default 10,
  *    `:20,238-247`) → an [[graft.cdc.AckScheduler]] wired to the
  *    same record.
  *  - `stop()` (`:264-280`) → stops every query this session started.
  *  - `'heartbeat'` events (`:165-171`) → [[CdcProgressListener]]
  *    heartbeats, attached per session: detached by `stop()`, attached
  *    again by the next `subscribe`.
  *  - the durable delivery position behind the acks is Structured
  *    Streaming's checkpoint (offset log, commit log, state store).
  *
  * The constructor installs two Spark settings on the user's session,
  * each only when the user has not set it (Spark's key stays the
  * override; see [[ReplicationSession.sessionDefaults]]):
  *
  *  - `spark.sql.streaming.checkpointFileManagerClass` →
  *    [[LocalCheckpointFileManager]]. On local disk it forks no process
  *    per checkpoint file; without the native Hadoop library, Spark's
  *    default forks ~100 per stateful micro-batch.
  *  - `spark.sql.artifact.isolation.enabled` → `false`. Every query run
  *    (a subscribe, a restart from a checkpoint, a catch-up replay)
  *    runs on a clone of the session with a new session UUID, and with
  *    isolation on the executor gives each UUID its own class loader.
  *    Spark's codegen cache is keyed by (class loader, code), so each
  *    query run compiled its generated classes again with Janino and ran
  *    them cold (17 compiles per warm `statefulSnapshot` start, 2 with
  *    isolation off). Off, all query runs share one executor class
  *    loader, and a generated class is compiled and JIT-warmed once per
  *    JVM. The trade-off: artifacts added with `addArtifact` (the Spark
  *    Connect style) become visible to the other non-isolated sessions
  *    of the application. A user who needs that isolation sets the key
  *    to `true` before constructing the session.
  *
  * Threading differences are the point: the reference delivers on one
  * Node event loop; here delivery is a Spark query, so "the handler"
  * is a distributed plan and ordering guarantees are per key/shard
  * (SURVEY O5), not global.
  */
final class ReplicationSession(
    spark: SparkSession,
    logDir: String,
    ackTimeoutSeconds: Int = 10) {

  private var queries: List[StreamingQuery] = Nil

  /** The heartbeat surface ('heartbeat'/keepalive analogue). */
  val listener = new CdcProgressListener()
  spark.streams.addListener(listener)

  locally {
    // getAll holds only the keys someone set: a key with a default
    // (isolation's `true`) reads as set through getOption
    val set = spark.conf.getAll
    ReplicationSession.sessionDefaults.foreach { case (key, value) =>
      if (!set.contains(key)) spark.conf.set(key, value)
    }
  }

  /** Standby-status re-ack timer (`timeoutSeconds`, 1 s resolution in
    * the reference; drive [[AckScheduler.tick]] from any scheduler). */
  val ackScheduler = new AckScheduler(ackTimeoutSeconds,
    send = lsn => writeAck(lsn))

  /** The exact START_REPLICATION command a live session would issue
    * for this plugin/slot — byte-for-byte the reference's
    * (`pgoutput-plugin.ts:31` etc.). */
  def startReplicationSql(format: CdcFormat, slotName: String,
      lastLsn: String = "0/00000000"): String =
    format.startReplicationSql(slotName, lastLsn)

  /** The START_REPLICATION command of the most recent [[subscribe]]
    * — what a live transport would have issued (inspectable, like the
    * reference's logged start command). */
  @volatile var lastStartReplicationSql: Option[String] = None

  /** `subscribe(plugin, slotName, uptoLsn?)`: the streaming read
    * path. One session maps to ONE slot's frame log (the reference is
    * also one-subscription-per-service: `subscribe` stop()s any prior
    * session, `:72-87`) — the plugin/slot select the server-side
    * START_REPLICATION (recorded in [[lastStartReplicationSql]]; the
    * replay log was produced by that command). `uptoLsn` mirrors the
    * resume-position argument (`:66`): replay starts strictly AFTER
    * it, `0/00000000` replays everything (`acknowledge.spec.ts:
    * 70-75`); absent → resume from the ack record, the reference's
    * default of continuing from the server-confirmed position. */
  def subscribe(format: CdcFormat, slotName: String,
      uptoLsn: Option[String] = None,
      maxFramesPerTrigger: Option[Long] = None): DataFrame = synchronized {
    // Under the same lock as stop()/destroy(): a concurrent destroy()
    // can otherwise interleave after the check and leave an active
    // subscription on a destroyed session.
    if (destroyed) throw new IllegalStateException(
      "session destroyed: create a new ReplicationSession " +
        "(reference: subscribe after destroy() rejects, the client is gone)")
    // Explicit uptoLsn → scalar start. Default resume → the PER-SHARD
    // acked offsets: each shard floors at its OWN confirmed LSN, so a
    // shard that lagged behind another's acked tail in the previous
    // session is replayed, not skipped (the cross-session analogue of
    // the in-stream per-shard offsets).
    val resumed = uptoLsn match {
      case Some(l) => ShardOffsets(Lsn.parse(l), Map.empty)
      case None => CdcReplaySource.acks(logDir).offsets
        .getOrElse(ShardOffsets(0L, Map.empty))
    }
    val start = resumed.floor
    lastStartReplicationSql =
      Some(format.startReplicationSql(slotName, Lsn.format(start)))
    val r = spark.readStream.format(CdcReplaySource.FORMAT)
      .option("path", logDir)
      .option("startingOffsets", resumed.json())
    val df = maxFramesPerTrigger.fold(r)(n =>
      r.option("maxFramesPerTrigger", n.toString)).load()
    // only once the subscription actually exists — a throw above must
    // not flip a stopped session back to live
    if (stopped) spark.streams.addListener(listener)
    stopped = false
    df
  }

  /** Track a started query so [[stop]] can close the session. */
  def register(q: StreamingQuery): StreamingQuery = synchronized {
    queries = q :: queries
    q
  }

  /** `acknowledge(lsn)`: persist the standby-status position —
    * monotonic, like the reference's `lastLsn` advance (`:250-262`).
    * Accepts `X/XXXXXXXX` text or decimal. */
  def acknowledge(lsn: String): Boolean = synchronized {
    val v = Lsn.parse(lsn)
    val advanced = CdcReplaySource.updateAcks(logDir)(r =>
      if (r.lsn.forall(_ < v)) acked(r, v) else r)
    if (advanced) ackScheduler.delivered(v)
    advanced
  }

  /** The confirmed position (reference `lastLsn`). */
  def lastAckedLsn(): Option[Long] = CdcReplaySource.acks(logDir).lsn

  @volatile private var stopped = false
  @volatile private var destroyed = false

  /** `stop()`: stop every query started through this session and
    * detach the heartbeat listener (`:264-280`). Restartable — a new
    * [[subscribe]] re-opens the session, like the reference's
    * stop/subscribe cycle (`:72-87,98-118`). */
  def stop(): Unit = synchronized {
    queries.foreach(q => if (q.isActive) q.stop())
    queries = Nil
    spark.streams.removeListener(listener)
    stopped = true
  }

  /** Reference `isStop()` (`:90-92`): true once [[stop]] or
    * [[destroy]] ran and no new subscription started since. */
  def isStop: Boolean = stopped

  /** Reference `destroy()` (`:120-140`): terminal stop — the session
    * cannot subscribe again (the reference releases its pg client).
    * Idempotent, like the reference's repeated-destroy guard. */
  def destroy(): Unit = synchronized {
    if (!destroyed) { stop(); destroyed = true }
  }

  /** A manual or timer ack is a GLOBAL statement ("delivered through
    * lsn"): it advances the scalar and lifts the offsets' floor, so
    * every shard resumes at ≥ lsn; per-shard entries above it are
    * untouched. Both merges are monotonic, so a stale scheduler tick
    * can never regress past a newer auto-ack from the source's commit
    * hook (which itself only moves forward). */
  private def acked(r: AckRecord, lsn: Long): AckRecord =
    r.ackShards(ShardOffsets(lsn, Map.empty)).ack(lsn)

  private def writeAck(lsn: Long): Unit = {
    CdcReplaySource.updateAcks(logDir)(acked(_, lsn))
    ()
  }
}

object ReplicationSession {

  /** The Spark settings a [[ReplicationSession]] installs on its
    * session, each only where the user has not set the key. */
  private[graft] val sessionDefaults: Seq[(String, String)] = Seq(
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[LocalCheckpointFileManager].getName,
    "spark.sql.artifact.isolation.enabled" -> "false")
}
