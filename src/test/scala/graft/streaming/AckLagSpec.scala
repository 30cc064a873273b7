package graft.streaming

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** q293's live twin (r14 verdict ask 7): the ack scheduler's own
  * send/receive timestamps feed an exact integer-second lag census
  * published into the ack record's slot entry and read back by
  * [[StreamOps.ackLagReport]] with q293's exact column schema. The
  * delayed-ack leg drives [[graft.cdc.AckScheduler]] on an injected
  * clock: deliveries pile up during a quiet window, the timer's
  * re-ack closes them out, and the census prices the delay. */
class AckLagSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ack-lag-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("delayed ack: the census prices the quiet window with q293's " +
      "exact rank formulas, and re-acks measure nothing twice") {
    var clock = 1000_000L
    val census = new graft.cdc.AckLagCensus(() => clock)
    val sched = new graft.cdc.AckScheduler(10, send = _ => (),
      now = () => clock, census = census)
    // 9 transactions delivered over 9 seconds, none acked yet
    (1L to 9L).foreach { i =>
      sched.delivered(i * 4); clock += 1000L
    }
    // the wire goes quiet for 120 s, then the timer re-acks
    clock += 120_000L
    assert(sched.tick(), "timeout lapsed: the timer must ack")
    val st = census.census()
    assert(st.nFrames == 9L)
    // delivery i (1-based) waited (130 - i) seconds: lags 121..129
    assert(st.maxLagSec == 129L)
    // ranks over the sorted lags: p50 at rank (9+1)/2 = 5 -> 125,
    // p99 at rank (99*9+99)/100 = 9 -> 129
    assert(st.p50LagSec == 125L)
    assert(st.p99LagSec == 129L)
    assert(st.sloMilli == 0L, "nothing inside the 60 s SLO")
    // the liveness re-ack finds nothing pending: census unchanged
    clock += 20_000L
    assert(sched.tick())
    assert(census.census() == st)
    // fresh deliveries after the stall ack quickly: SLO recovers
    sched.delivered(100L); clock += 2000L
    sched.ack()
    val st2 = census.census()
    assert(st2.nFrames == 10L)
    assert(st2.sloMilli == 100L, "1 of 10 inside the SLO")
    // sorted lags now [2, 121..129]: rank (10+1)/2 = 5 -> 124
    assert(st2.p50LagSec == 124L)
  }

  test("sidecar publish + ackLagReport: q293's schema, one row per " +
      "slot, atomic latest-wins") {
    val dir = java.nio.file.Files.createTempDirectory("acklag").toString
    val a = graft.cdc.AckLagCensus.Stats(100L, 2L, 30L, 45L, 980L)
    val b = graft.cdc.AckLagCensus.Stats(64L, 1L, 5L, 9L, 1000L)
    CdcReplaySource.updateAcks(dir)(_.withLag("slot_a", "part-0.jsonl", a))
    CdcReplaySource.updateAcks(dir)(_.withLag("slot_b", "part-1.jsonl", b))
    // latest census wins (metrics snapshot, no monotonicity guard)
    CdcReplaySource.updateAcks(dir)(_.withLag("slot_a", "part-0.jsonl",
      a.copy(nFrames = 101L)))
    val rep = StreamOps.ackLagReport(spark, dir)
    assert(rep.columns.toSeq == Seq("shard", "n_frames", "p50_lag_sec",
      "p99_lag_sec", "max_lag_sec", "slo_milli"),
      "must match q293_ack_lag_slo's output schema")
    val rows = rep.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.toSeq == Seq(
      ("part-0.jsonl", 101L, 2L, 30L, 45L, 980L),
      ("part-1.jsonl", 64L, 1L, 5L, 9L, 1000L)))
    // the ack record does not leak into the frame-log file listing
    assert(CdcReplaySource.listLogFiles(dir).isEmpty)
  }
}
