package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{AckLagCensus, ColumnInfo, LoopbackWalServer, PgoutputFormat, PgoutputWriter, RelationInfo, WalSocketClient}

/** The log dir's one ack record: every ack path leaves exactly the
  * frame log, the dir lock and the record behind, and a dir written
  * by versions before the record (four sidecar kinds) reads back the
  * same values and migrates on its first update. */
class AckRecordSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ack-record-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def names(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.sorted

  private val rel = RelationInfo(901, "public", "acks", "default",
    Seq(ColumnInfo("id", 1, 20, -1, null, null)))

  private def tx(lsn: Long): (Long, Seq[Array[Byte]]) =
    (lsn, Seq(
      PgoutputWriter.begin(lsn, 1700000000000000L + lsn, lsn),
      PgoutputWriter.relation(rel),
      PgoutputWriter.insert(901, Seq(lsn.toString)),
      PgoutputWriter.commit(lsn, lsn + 1, 1700000000000000L + lsn)))

  test("every ack path leaves only the log, the lock and one record") {
    val dir = tmpDir("acks-disk")
    for ((slot, shard) <- Seq("slot_a" -> 0, "slot_b" -> 1)) {
      val server = new LoopbackWalServer((1 to 3).map(i => tx(i * 100L)))
      try new WalSocketClient("127.0.0.1", server.port,
        new PgoutputFormat(), slot, dir, shard).run()
      finally server.close()
    }
    val q = spark.readStream.format(CdcReplaySource.FORMAT)
      .option("path", dir).option("maxFramesPerTrigger", "2").load()
      .writeStream.format("noop")
      .option("checkpointLocation", tmpDir("acks-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // the stream's commits reached the record: its floor (the stream's
    // startingLsn, 0) replaced the socket clients' open floor
    assert(CdcReplaySource.acks(dir).offsets.exists(_.floor == 0L))
    val session = new ReplicationSession(spark, dir)
    assert(session.acknowledge("0/00000190")) // 400
    session.stop()

    assert(names(dir) == Seq("_acked.lock", "_acks.json",
      "part-0.jsonl", "part-1.jsonl"))
    val r = CdcReplaySource.acks(dir)
    assert(r.slots == Map("slot_a" -> 300L, "slot_b" -> 300L))
    assert(r.lag.keySet == Set("slot_a", "slot_b"))
    // the manual ack lifts the floor and every entry below it
    assert(r.lsn.contains(400L) && r.offsets.contains(ShardOffsets(400L,
      Map("part-0.jsonl" -> 400L, "part-1.jsonl" -> 400L))))
  }

  test("a dir with the four pre-record sidecars reads the old values " +
      "and migrates on its first update") {
    val dir = tmpDir("acks-legacy")
    CdcReplaySource.writeLogShard(dir, 0, Seq(tx(100L), tx(300L)))
    CdcReplaySource.writeLogShard(dir, 1, Seq(tx(200L)))
    // byte for byte what the sidecar writers stored: a bare decimal,
    // URL-encoded slot names, ShardOffsets.json(), one census line
    def legacy(name: String, text: String): Unit = {
      Files.writeString(Paths.get(dir, name), text); ()
    }
    legacy("_acked_lsn", "500")
    legacy("_acked_lsn@slot_a", "300")
    legacy("_acked_lsn@a%2Fb+slot", "250")
    legacy("_acked_offsets",
      """{"floor":-9223372036854775808,"shards":{"part-0.jsonl":300,"part-1.jsonl":200}}""")
    legacy("_ack_lag@slot_a", """{"shard":"part-0.jsonl","n_frames":100,""" +
      """"p50_lag_sec":2,"p99_lag_sec":30,"max_lag_sec":45,"slo_milli":980}""")
    legacy("_ack_lag@a%2Fb+slot", """{"shard":"part-1.jsonl","n_frames":64,""" +
      """"p50_lag_sec":1,"p99_lag_sec":5,"max_lag_sec":9,"slo_milli":1000}""")
    val offsets = ShardOffsets(Long.MinValue,
      Map("part-0.jsonl" -> 300L, "part-1.jsonl" -> 200L))
    val lagRows = Seq(("part-0.jsonl", 100L, 2L, 30L, 45L, 980L),
      ("part-1.jsonl", 64L, 1L, 5L, 9L, 1000L))

    def readersHold(slotA: Long): Unit = {
      val r = CdcReplaySource.acks(dir)
      assert(r.lsn.contains(500L))
      assert(r.slot("slot_a").contains(slotA))
      assert(r.slot("a/b slot").contains(250L))
      assert(r.slot("fresh").isEmpty, "a fresh slot must not borrow")
      assert(r.offsets.contains(offsets))
      // min over the shard entry, both slots and the scalar
      assert(CdcReplaySource.retentionFloors(dir) ==
        Map("part-0.jsonl" -> 250L, "part-1.jsonl" -> 200L))
      assert(StreamOps.ackLagReport(spark, dir).collect().map(x =>
        (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
          x.getLong(4), x.getLong(5))).toSeq == lagRows)
    }
    readersHold(slotA = 300L)
    assert(!CdcReplaySource.ackFile(dir).exists, "a read never writes")

    assert(CdcReplaySource.updateAcks(dir)(_.ackSlot("slot_a", 400L)))
    assert(names(dir) == Seq("_acked.lock", "_acks.json",
      "part-0.jsonl", "part-1.jsonl"))
    readersHold(slotA = 400L)

    // the no-slot fallback: a single-slot legacy dir's scalar
    // applies to any slot, and is the offsets' floor
    val single = tmpDir("acks-legacy-scalar")
    Files.writeString(Paths.get(single, "_acked_lsn"), "700")
    val s = CdcReplaySource.acks(single)
    assert(s.slot("any").contains(700L))
    assert(s.offsets.contains(ShardOffsets(700L, Map.empty)))
    assert(!CdcReplaySource.updateAcks(single)(identity),
      "a migration alone changes no value")
    assert(names(single) == Seq("_acked.lock", "_acks.json"))
    assert(CdcReplaySource.acks(single) == s)
  }

  test("the record round-trips any slot and shard name") {
    val r = AckRecord()
      .ackShards(ShardOffsets(Long.MinValue, Map("we\"ird\\name" -> 5L)))
      .ack(5L).ackSlot("a/b \"slot\"", 5L)
      .withLag("a/b \"slot\"", "part-0.jsonl",
        AckLagCensus.Stats(1L, 0L, 0L, 0L, 1000L))
    assert(AckRecord.parse(AckRecord.json(r)) == r)
    assert(AckRecord.parse(AckRecord.json(AckRecord())) == AckRecord())
    intercept[IllegalArgumentException](AckRecord.parse("""{"version":2}"""))
  }

  test("an update deletes the scratch file a crashed ack write left") {
    val dir = tmpDir("acks-stale")
    CdcReplaySource.updateAcks(dir)(_.ack(100L))
    // a writer that died between its scratch write and the move
    val stale = Files.createTempFile(Paths.get(dir), "_acks", ".tmp")
    assert(names(dir).contains(stale.getFileName.toString))
    CdcReplaySource.updateAcks(dir)(_.ack(200L))
    assert(names(dir) == Seq("_acked.lock", "_acks.json"))
    assert(CdcReplaySource.acks(dir).lsn.contains(200L))
  }
}
