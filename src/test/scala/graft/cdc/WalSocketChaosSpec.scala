package graft.cdc

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CdcReplaySource

/** Failure injection on the live socket loop. The at-least-once
  * contract under churn: a cut may land ANYWHERE — between
  * transactions, or on a message boundary inside one (where the EOF
  * is indistinguishable from a normal end of stream) — and the frame
  * log must still converge to the server's log exactly once, with no
  * partial transaction ever logged or acked.
  *
  * Reference behavior being modeled: the service's reconnect path
  * re-subscribes from the confirmed position
  * (`/root/reference/src/logical-replication-service.ts:126-185`;
  * resume semantics `src/test/acknowledge.spec.ts:70-75`).
  */
class WalSocketChaosSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  private val rel = RelationInfo(902, "public", "chaos", "default",
    Seq(ColumnInfo("id", 1, 20, -1, null, null)))

  private def tx(lsn: Long, i: Int): (Long, Seq[Array[Byte]]) =
    (lsn, Seq(
      PgoutputWriter.begin(lsn, 1700000000000000L + i, i.toLong),
      PgoutputWriter.relation(rel),
      PgoutputWriter.insert(902, Seq(i.toString)),
      PgoutputWriter.commit(lsn, lsn + 1, 1700000000000000L + i)))

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-wal-socket-chaos-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def readLsns(dir: String): Seq[Long] =
    spark.read.format(CdcReplaySource.FORMAT)
      .option("path", dir).load()
      .select("lsn").collect().map(_.getLong(0)).sorted.toSeq

  test("a cut inside a transaction never logs or acks the partial") {
    val log = (1 to 3).map(i => tx(i * 100L, i))
    // first connection dies cleanly after 2 of tx 200's 4 frames
    val server = new LoopbackWalServer(log, dropMidTxFrames = Some((2, 2)))
    val dir = tmpDir("walchaos-midtx")
    try {
      val r1 = new WalSocketClient("127.0.0.1", server.port,
        new PgoutputFormat(), "slot_chaos1", dir, shard = 0).run()
      // tx 100 finished (tx 200's first frame evidenced it); the
      // 2-frame prefix of tx 200 must be invisible everywhere
      assert(r1.txs.map(_._1) == Seq(100L))
      assert(CdcReplaySource.acks(dir).lsn.contains(100L))
      assert(readLsns(dir) == Seq(100L))

      // reconnect: tx 200 arrives WHOLE (4 frames), never spliced
      // from the prefix of the dead connection
      val r2 = new WalSocketClient("127.0.0.1", server.port,
        new PgoutputFormat(), "slot_chaos1", dir, shard = 1).run()
      assert(r2.txs.map(_._1) == Seq(200L, 300L))
      assert(r2.txs.head._2.map(_.toSeq) == log(1)._2.map(_.toSeq))
      assert(readLsns(dir) == Seq(100L, 200L, 300L))
    } finally server.close()
  }

  test("a torn final log line is dropped; the tx replays next session") {
    val log = (1 to 3).map(i => tx(i * 100L, i))
    val server = new LoopbackWalServer(log)
    val dir = tmpDir("walchaos-torn")
    try {
      new WalSocketClient("127.0.0.1", server.port,
        new PgoutputFormat(), "slot_torn", dir, shard = 0).run()
      assert(readLsns(dir) == Seq(100L, 200L, 300L))

      // simulate a crash mid-append: tear the final line mid-hex and
      // regress the ack record to the position its ack actually covered
      val f = new java.io.File(dir, "part-0.jsonl")
      val lines = scala.io.Source.fromFile(f).getLines().toVector
      val torn = lines.init :+ lines.last.take(lines.last.length / 2)
      val w = new java.io.PrintWriter(f)
      torn.init.foreach(w.println)
      w.print(torn.last); w.close()
      CdcReplaySource.updateAcks(dir)(r => r.copy(lsn = Some(200L),
        slots = r.slots.updated("slot_torn", 200L)))

      // the reader must see exactly the two complete transactions
      assert(readLsns(dir) == Seq(100L, 200L))
      // a new session resumes from 200 and redelivers tx 300 whole
      val r = new WalSocketClient("127.0.0.1", server.port,
        new PgoutputFormat(), "slot_torn", dir, shard = 1).run()
      assert(r.txs.map(_._1) == Seq(300L))
      assert(readLsns(dir) == Seq(100L, 200L, 300L))
    } finally server.close()
  }

  test("a torn line before end of file is corruption, not a crash") {
    val dir = tmpDir("walchaos-midcorrupt")
    val f = new java.io.File(dir, "part-0.jsonl")
    val w = new java.io.PrintWriter(f)
    w.println("""{"lsn":100,"frames":["42"]}""")
    w.println("""{"lsn":200,"frames":["4""") // torn, but NOT last
    w.println("""{"lsn":300,"frames":["44"]}""")
    w.close()
    val e = intercept[Exception] { readLsns(dir) }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => Option(c.getMessage).exists(
        _.contains("corrupt frame-log line"))))
  }

  test("stream kill/restart with a lagging shard: idempotent sink " +
      "shows no loss and no dup across the restart") {
    // r9 verdict ask 5: chaos on the per-shard offset redesign. Shard
    // 0 carries the high-LSN tail while shard 1 lags — every one of
    // its transactions sits at a LOWER LSN than shard 0's tail. The
    // query is killed after partial progress (small triggers force
    // many batches; the kill lands with batches still undelivered and
    // the last one possibly uncommitted -> at-least-once replay on
    // restart), then restarted on the SAME checkpoint. Per-shard
    // offsets must resume every shard at its own position — a global
    // watermark would skip the lagging shard's low-LSN remainder —
    // and the idempotent merge sink must absorb the replayed batch.
    import org.apache.spark.sql.functions._
    val dir = tmpDir("walchaos-restart")
    CdcReplaySource.writeLogShard(dir, 0,
      (1 to 10).map(i => tx(i * 100L, i)))
    CdcReplaySource.writeLogShard(dir, 1,
      Seq(tx(150L, 11), tx(450L, 12), tx(750L, 13)))
    val ckpt = tmpDir("walchaos-restart-ckpt")
    val snapDir = tmpDir("walchaos-restart-snap") + "/snap"

    def startQuery(trigger: org.apache.spark.sql.streaming.Trigger) = {
      val stream = spark.readStream.format(CdcReplaySource.FORMAT)
        .option("path", dir)
        .option("maxFramesPerTrigger", "2")
        .load()
      graft.streaming.StreamOps.decodedChanges(stream)
        .select(col("table"), col("tuple")("id").as("key"), col("lsn"),
          col("op"), col("tuple"))
        .writeStream
        .foreachBatch(graft.streaming.StreamOps.upsertBatch(snapDir) _)
        .option("checkpointLocation", ckpt)
        .trigger(trigger)
        .start()
    }

    // phase 1: run until at least two batches committed, then KILL
    val q1 = startQuery(
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(10L))
    val deadline = System.currentTimeMillis() + 60000
    while (q1.recentProgress.count(_.numInputRows > 0) < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    q1.stop()
    assert(q1.recentProgress.exists(_.numInputRows > 0),
      "kill must land after partial progress")

    // phase 2: restart on the same checkpoint and drain
    val q2 = startQuery(
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q2.awaitTermination(120000)

    val snap = graft.streaming.StreamOps.readSnapshot(spark, snapDir)
      .select(col("key"), col("lsn")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected =
      ((1 to 10).map(i => i.toString -> i * 100L) ++
        Seq("11" -> 150L, "12" -> 450L, "13" -> 750L)).toMap
    assert(snap == expected,
      s"snapshot must hold every tx exactly once; got $snap")
  }

  test("a flapping server converges to exactly-once delivery") {
    val n = 12
    val log = (1 to n).map(i => tx(i * 100L, i))
    // every connection is cut after serving 2 transactions; the second
    // is always in flight at the cut, so each session nets ONE tx —
    // the worst sustained churn that still makes progress
    val server = new LoopbackWalServer(log, dropEveryTxs = Some(2))
    val dir = tmpDir("walchaos-flap")
    try {
      var sessions = 0
      while (!CdcReplaySource.acks(dir).lsn.contains(n * 100L)
          && sessions < 3 * n) {
        new WalSocketClient("127.0.0.1", server.port,
          new PgoutputFormat(), "slot_chaos2", dir, shard = sessions).run()
        sessions += 1
      }
      assert(CdcReplaySource.acks(dir).lsn.contains(n * 100L),
        s"did not drain after $sessions sessions")
      // exactly once: every lsn present, none duplicated, across all
      // the per-session shard files
      assert(readLsns(dir) == log.map(_._1))
      // acks on the wire never regressed
      val fl = server.receivedStatuses.map(_.flushed)
      assert(fl == fl.sorted)
    } finally server.close()
  }
}
