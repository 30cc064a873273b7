package graft.cdc

/** Slot admin SQL builders — the reference's test utilities issue
  * these against a live server (`src/test/test-common.ts:9-25`); with
  * no PostgreSQL in this environment the SQL strings are the tested
  * surface (a connector would run them over JDBC).
  */
object SlotAdmin {
  private def qident(s: String): String =
    "\"" + s.replace("\"", "\"\"") + "\""
  private def qlit(s: String): String =
    "'" + s.replace("'", "''") + "'"

  def createSlotSql(slotName: String, plugin: String): String =
    s"SELECT pg_create_logical_replication_slot(${qlit(slotName)}, ${qlit(plugin)})"

  def dropSlotSql(slotName: String): String =
    s"SELECT pg_drop_replication_slot(${qlit(slotName)})"

  def createPublicationSql(name: String, tables: Seq[String]): String =
    if (tables.isEmpty) s"CREATE PUBLICATION ${qident(name)} FOR ALL TABLES"
    else s"CREATE PUBLICATION ${qident(name)} FOR TABLE ${tables.map(qident).mkString(", ")}"

  def dropPublicationSql(name: String): String =
    s"DROP PUBLICATION IF EXISTS ${qident(name)}"
}

/** Periodic standby-status scheduler — the reference re-acks the last
  * LSN on a 1 s timer whenever `timeoutSeconds` has elapsed since the
  * last ack (`logical-replication-service.ts:231-248`). `send` is the
  * transport hook (writes the 34-byte status message); time is
  * injectable for tests. `census` (optional) observes the
  * delivery→ack latency of every advancing LSN — the live twin of
  * q293's batch ack-lag SLO census.
  */
final class AckScheduler(
    timeoutSeconds: Int,
    send: Long => Unit,
    now: () => Long = () => System.currentTimeMillis(),
    census: AckLagCensus = null) {

  private var lastLsn: Long = Lsn.InvalidLsn
  private var lastAckMillis: Long = 0L

  /** Record a delivered LSN (A10 auto-ack updates the same state). */
  def delivered(lsn: Long): Unit = synchronized {
    if (Lsn.compare(lsn, lastLsn) > 0) {
      lastLsn = lsn
      if (census != null) census.delivered(lsn)
    }
  }

  /** Explicit ack (resets the timer like `acknowledge()`). */
  def ack(): Unit = synchronized {
    if (lastLsn != Lsn.InvalidLsn) {
      send(lastLsn)
      lastAckMillis = now()
      if (census != null) census.acked(lastLsn)
    }
  }

  /** The 1 s poll body: re-ack if the timeout has lapsed (`:238-247`).
    * Returns true when a status message was sent. */
  def tick(): Boolean = synchronized {
    if (lastLsn == Lsn.InvalidLsn) false
    else if (now() - lastAckMillis >= timeoutSeconds * 1000L) {
      send(lastLsn)
      lastAckMillis = now()
      if (census != null) census.acked(lastLsn)
      true
    } else false
  }
}

/** Live ack-lag census — the streaming twin of q293's batch SLO
  * census (`ops/Events.scala`, `q293_ack_lag_slo`): every delivered
  * transaction records its wall-clock arrival; every standby-status
  * send closes out the pending LSNs it covers, binning each lag into
  * an exact integer-second histogram. Memory is O(unacked txs +
  * distinct lag seconds) — bounded by the ack cadence, never by
  * stream length — and the percentiles are EXACT order statistics
  * off the histogram with q293's own rank formulas (p50 at rank
  * ⌊(n+1)/2⌋, p99 at ⌊(99n+99)/100⌋, never an interpolation), so the
  * live pane and the batch census can be read against each other.
  * Time is injectable for tests (WalSocketTimerSpec's delayed-ack
  * leg). */
final class AckLagCensus(
    now: () => Long = () => System.currentTimeMillis()) {

  private val pending =
    scala.collection.mutable.Queue.empty[(Long, Long)] // (lsn, ms)
  private val hist =
    scala.collection.mutable.TreeMap.empty[Long, Long] // lag_sec -> n
  private var n = 0L
  private var maxLag = 0L

  /** A transaction at `lsn` became durable/visible now. LSNs arrive
    * in stream order (the walsender contract), so the queue stays
    * sorted and acks drain from the head. */
  def delivered(lsn: Long): Unit = synchronized {
    pending.enqueue((lsn, now())); ()
  }

  /** A standby status confirming `lsn` went on the wire: every
    * pending delivery at or below it is now acked. Re-acks of an
    * already-confirmed position (the keepalive timer's liveness
    * re-sends) find an empty prefix and record nothing — each
    * transaction's lag is measured once, at its FIRST covering ack,
    * matching q293's group-closing-frame semantics. */
  def acked(lsn: Long): Unit = synchronized {
    val t = now()
    while (pending.nonEmpty && Lsn.compare(pending.head._1, lsn) <= 0) {
      val (_, dMs) = pending.dequeue()
      val lag = math.max(0L, (t - dMs) / 1000L)
      hist.update(lag, hist.getOrElse(lag, 0L) + 1L)
      n += 1
      if (lag > maxLag) maxLag = lag
    }
  }

  /** The q293-shape census over everything acked so far:
    * (n_frames, p50, p99, max, fraction-within-SLO in milli). */
  def census(sloSec: Long = 60L): AckLagCensus.Stats = synchronized {
    if (n == 0L) AckLagCensus.Stats(0L, 0L, 0L, 0L, 0L)
    else {
      val r50 = (n + 1) / 2
      val r99 = (99 * n + 99) / 100
      var cum = 0L
      var p50 = 0L
      var p99 = 0L
      var within = 0L
      hist.foreach { case (lag, c) =>
        if (cum < r50 && cum + c >= r50) p50 = lag
        if (cum < r99 && cum + c >= r99) p99 = lag
        if (lag <= sloSec) within += c
        cum += c
      }
      AckLagCensus.Stats(n, p50, p99, maxLag, within * 1000L / n)
    }
  }
}

object AckLagCensus {
  /** Column-parity with q293's output row (minus the shard key the
    * ack record carries with it). */
  final case class Stats(nFrames: Long, p50LagSec: Long,
      p99LagSec: Long, maxLagSec: Long, sloMilli: Long)
}
