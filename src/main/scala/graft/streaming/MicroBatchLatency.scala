package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.cdc._

/** End-to-end micro-batch latency probe (r15 verdict ask 5) — the one
  * BASELINE.md row without a direct artifact: the reference's
  * wal2json spec observes a 5-row insert visible to the consumer in
  * under 500 ms (`decoder-wal2json.spec.ts:62-63`, the implicit
  * small-batch latency floor). This measures the same quantity on
  * the full stack this library ships: loopback walsender socket →
  * `WalSocketClient` ingest (libpq framing, demux, durable frame-log
  * append, standby ack) → `CdcReplaySource` `Trigger.AvailableNow`
  * micro-batch → `StreamOps.decodedChanges` pgoutput parse → rows
  * visible in a sink. WalSocketPerfSpec asserts a generous local
  * bound; Bench records the measured figure in every artifact next
  * to the decode-throughput evidence, so the number is tracked
  * round-over-round instead of asserted once.
  *
  * The clock starts BEFORE the socket client connects (ingest is
  * part of the reference's measured path) and stops when the decoded
  * rows are countable — one number for "insert committed upstream →
  * analytics-visible downstream". */
object MicroBatchLatency {

  /** [[measure]] at steady state: the FIRST streaming query in a JVM
    * pays one-time class-load/codegen/state-machinery costs (~4 s
    * measured locally) that the reference's figure — visibility on a
    * RUNNING subscription — never includes, so callers measure twice
    * and report the second, warm number. The codegen part is one-time
    * because [[ReplicationSession]] turns artifact isolation off: every
    * query run is a clone of the session with its own session UUID, and
    * with isolation on each run got a new executor class loader and
    * compiled its generated classes again. */
  def measureWarm(spark: SparkSession): (Double, Long) = {
    measure(spark)
    measure(spark)
  }

  /** Run one 5-row transaction through socket → log → decoded
    * visibility. Returns (seconds, rowsVisible); rowsVisible must be
    * 5 for the measurement to be meaningful. */
  def measure(spark: SparkSession): (Double, Long) = {
    val rel = RelationInfo(902, "public", "lat", "default",
      Seq(ColumnInfo("id", 1, 20, -1, null, null),
        ColumnInfo("v", 0, 25, -1, null, null)))
    val frames =
      PgoutputWriter.begin(100L, 1700000000000000L, 1L) +:
        PgoutputWriter.relation(rel) +:
        (1 to 5).map(i =>
          PgoutputWriter.insert(902, Seq(i.toString, s"v$i"))).toSeq :+
        PgoutputWriter.commit(100L, 101L, 1700000000000000L)
    val server = new LoopbackWalServer(Seq((100L, frames)))
    val dir =
      java.nio.file.Files.createTempDirectory("cdc-latency").toString
    val session = new ReplicationSession(spark, dir)
    try {
      val t0 = System.nanoTime()
      new WalSocketClient("127.0.0.1", server.port,
        new PgoutputFormat(), "slot_lat", dir, shard = 0).run()
      val changes = StreamOps.decodedChanges(
        session.subscribe(new PgoutputFormat(), "slot_lat",
          uptoLsn = Some("0/00000000")))
      val name = s"cdc_lat_${System.nanoTime()}"
      val q = session.register(changes
        .filter(col("op") === "insert")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("cdc-lat-ckpt").toString)
        .trigger(Trigger.AvailableNow()).start())
      q.awaitTermination(60000)
      val n = spark.table(name).count()
      ((System.nanoTime() - t0) / 1e9, n)
    } finally {
      session.stop()
      server.close()
    }
  }
}
