package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

/** A11 over the live wire: the periodic standby timer
  * (`logical-replication-service.ts:231-248`) must re-send the
  * confirmed position when the connection goes quiet past
  * `acknowledge.timeoutSeconds` — the liveness signal that keeps a
  * real walsender from dropping the slot. */
class WalSocketTimerSpec extends AnyFunSuite {

  private val rel = RelationInfo(903, "public", "timer", "default",
    Seq(ColumnInfo("id", 1, 20, -1, null, null)))

  test("quiet wire: the re-ack timer repeats the confirmed position") {
    val lsn = 100L
    val tx = (lsn, Seq(
      PgoutputWriter.begin(lsn, 0L, 1L),
      PgoutputWriter.relation(rel),
      PgoutputWriter.insert(903, Seq("1")),
      PgoutputWriter.commit(lsn, lsn + 1, 0L)))
    // no final keepalive needed: the server holds the socket open
    // ~2.6 s of silence after the stream so the timer has room to fire
    val server = new LoopbackWalServer(Seq(tx), holdOpenMillis = 2600L)
    val dir = java.nio.file.Files.createTempDirectory("walsock-timer").toString
    try {
      val r = new WalSocketClient("127.0.0.1", server.port,
        new PgoutputFormat(), "slot_timer", dir, shard = 0,
        ackTimeoutSeconds = 1).run()
      assert(r.txs.map(_._1) == Seq(lsn))
      val repeats = server.receivedStatuses.count(_.flushed == lsn + 1)
      // delivery ack + at least one timer re-ack during the quiet period
      assert(repeats >= 2,
        s"expected the timer to re-ack during silence, saw $repeats " +
          s"status(es): ${server.receivedStatuses}")
      assert(r.acksSent >= 2)
      // the live session published its ack-lag census into the ack
      // record (r14 verdict ask 7): q293's schema fields, ≥ 1 frame
      // measured, and the timer's liveness re-acks measured nothing twice
      val record = graft.streaming.CdcReplaySource.ackFile(dir)
      assert(record.exists, s"missing ack record: $record")
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(record.toPath))
        .path("lag").path("slot_timer")
      assert(json.path("shard").asText() == "part-0.jsonl")
      assert(json.path("n_frames").asLong() == 1L,
        "one delivered transaction -> one measured frame, however " +
          "many re-acks the timer sent")
      assert(json.path("slo_milli").asLong() == 1000L,
        "an immediate ack lands inside the 60 s SLO")
      assert(json.has("p50_lag_sec") && json.has("p99_lag_sec") &&
        json.has("max_lag_sec"))
    } finally server.close()
  }
}
