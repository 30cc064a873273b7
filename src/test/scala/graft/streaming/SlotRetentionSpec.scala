package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Slot/WAL retention accounting against the replay store's OWN ack
  * record (q280's live counterpart): retained work per shard must
  * track exactly what the A9/A10 bookkeeping says is unconfirmed —
  * shrink as acks advance, and report EVERYTHING retained for a slot
  * nobody has acked (the disk-filling failure mode the census
  * exists to catch). */
class SlotRetentionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-slot-retention")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // one 5-byte frame per tx → wire size 25 + 5 = 30 bytes per tx
  private def tx(lsn: Long) = lsn -> Seq(Array.fill[Byte](5)(0x2a))

  test("retained work tracks the acked floors and shrinks as acks " +
      "advance; an unacked dir retains everything") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-slot-ret").toString
    CdcReplaySource.writeLogShard(root, 0,
      Seq(tx(100L), tx(200L), tx(300L), tx(400L)))
    CdcReplaySource.writeLogShard(root, 1, Seq(tx(150L), tx(250L)))

    // no ack record yet: everything on both shards is unconfirmed
    val r0 = StreamOps.slotRetentionReport(spark, root)
      .collect().map(r => r.getAs[String]("shard") ->
        (r.getAs[Long]("n_retained"), r.getAs[Long]("retained_bytes")))
      .toMap
    assert(r0("part-0.jsonl") == ((4L, 120L)))
    assert(r0("part-1.jsonl") == ((2L, 60L)))

    // shard 0 acked through 200, shard 1 through 250
    CdcReplaySource.updateAcks(root)(_.ackShards(ShardOffsets(Long.MinValue,
      Map("part-0.jsonl" -> 200L, "part-1.jsonl" -> 250L))))
    val r1 = StreamOps.slotRetentionReport(spark, root)
      .collect().map(r => r.getAs[String]("shard") ->
        (r.getAs[Long]("floor_lsn"), r.getAs[Long]("n_retained"),
          r.getAs[Long]("retained_bytes"), r.getAs[Long]("head_lsn")))
      .toMap
    assert(r1("part-0.jsonl") == ((200L, 2L, 60L, 400L)))
    assert(r1("part-1.jsonl") == ((250L, 0L, 0L, 250L)))

    // cap fraction while shard 0 still retains 60 bytes: a 50-byte
    // cap makes the backlog overflow past 1000 milli — asserted
    // BEFORE the acks drain it, so the formula's operands are live
    val tight = StreamOps.slotRetentionReport(spark, root, capBytes = 50L)
      .filter(r => r.getAs[String]("shard") == "part-0.jsonl").head()
    assert(tight.getAs[Long]("cap_milli") == 1200L,
      s"60 bytes over a 50-byte cap must read 1200 milli: $tight")

    // acks only advance (the ack-record contract): catching shard 0 up
    // to head drains its retention to zero
    CdcReplaySource.updateAcks(root)(_.ackShards(ShardOffsets(Long.MinValue,
      Map("part-0.jsonl" -> 400L))))
    val r2 = StreamOps.slotRetentionReport(spark, root)
      .filter(r => r.getAs[String]("shard") == "part-0.jsonl")
      .head()
    assert(r2.getAs[Long]("n_retained") == 0L &&
      r2.getAs[Long]("retained_bytes") == 0L &&
      r2.getAs[Long]("cap_milli") == 0L)
  }

  test("truncateFrameLog drops exactly the acked prefix, preserves a " +
      "torn tail, leaves unacked shards alone, and the reader's view " +
      "of unconfirmed work is unchanged") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-slot-trunc").toString
    CdcReplaySource.writeLogShard(root, 0,
      Seq(tx(100L), tx(200L), tx(300L), tx(400L)))
    CdcReplaySource.writeLogShard(root, 1, Seq(tx(150L), tx(250L)))
    CdcReplaySource.writeLogShard(root, 2, Seq(tx(500L)))
    // crash artifact: a torn (incomplete) FINAL line on shard 1 —
    // never acked by the durable-then-ack contract, must survive
    // truncation untouched for the reader's own torn-tail handling
    val f1 = new java.io.FileWriter(s"$root/part-1.jsonl", true)
    try f1.write("{\"lsn\":999,\"frames\":[\"2a") finally f1.close()
    CdcReplaySource.updateAcks(root)(_.ackShards(ShardOffsets(Long.MinValue,
      Map("part-0.jsonl" -> 200L, "part-1.jsonl" -> 250L))))

    def readLsns(): Set[Long] =
      spark.read.format(CdcReplaySource.FORMAT).option("path", root)
        .load().select(col("lsn")).collect().map(_.getLong(0)).toSet
    assert(readLsns() ==
      Set(100L, 200L, 300L, 400L, 150L, 250L, 500L))
    val dropped = CdcReplaySource.truncateFrameLog(root)
    assert(dropped == Map("part-0.jsonl" -> 2L, "part-1.jsonl" -> 2L,
      "part-2.jsonl" -> 0L), s"dropped: $dropped")
    // the reader now sees exactly the per-shard unconfirmed work
    assert(readLsns() == Set(300L, 400L, 500L))
    // torn tail still physically present
    val src = scala.io.Source.fromFile(s"$root/part-1.jsonl")
    val lines = try src.getLines().toVector finally src.close()
    assert(lines == Vector("{\"lsn\":999,\"frames\":[\"2a"))
    // idempotent rerun
    assert(CdcReplaySource.truncateFrameLog(root).values.sum == 0L)
    // retention report and the physical log agree after enforcement —
    // including the zero-complete-transaction shard 1 still rendering
    val rep = StreamOps.slotRetentionReport(spark, root)
      .collect().map(r => r.getAs[String]("shard") ->
        r.getAs[Long]("n_retained")).toMap
    assert(rep("part-0.jsonl") == 2L && rep("part-1.jsonl") == 0L &&
      rep("part-2.jsonl") == 1L, s"report: $rep")

    // a LAGGING SLOT pins the floor below the shard offsets: with
    // part-0 acked to head (400) but slot 'lagging' confirmed only to
    // 350, the min-over-consumers rule keeps 400 and drops just 300 —
    // PostgreSQL's min(confirmed_flush_lsn) WAL-recycling contract
    CdcReplaySource.updateAcks(root)(_.ackShards(ShardOffsets(Long.MinValue,
      Map("part-0.jsonl" -> 400L))))
    CdcReplaySource.updateAcks(root)(_.ackSlot("lagging", 350L))
    val d2 = CdcReplaySource.truncateFrameLog(root)
    assert(d2("part-0.jsonl") == 1L, s"dropped: $d2")
    assert(readLsns() == Set(400L, 500L),
      "the lagging slot's unconfirmed frame must survive truncation")
  }

  test("report floors fold in lagging per-slot sidecars: the pane " +
      "shows exactly what enforcement would keep") {
    // r13 advisor finding: the report used to derive floors from the
    // shard offsets alone, so with a checkpointed query acked at 300
    // and a socket slot lagging at 100 the dashboard understated the
    // very lagging-consumer retention it exists to surface. Floors
    // now come from the shared retentionFloors derivation.
    val root = java.nio.file.Files
      .createTempDirectory("graft-slot-lag").toString
    CdcReplaySource.writeLogShard(root, 0,
      Seq(tx(100L), tx(200L), tx(300L)))
    CdcReplaySource.updateAcks(root)(_.ackShards(ShardOffsets(Long.MinValue,
      Map("part-0.jsonl" -> 300L))))
    CdcReplaySource.updateAcks(root)(_.ackSlot("lagging-slot", 100L))
    val rep = StreamOps.slotRetentionReport(spark, root).head()
    assert(rep.getAs[Long]("floor_lsn") == 100L,
      s"floor must be the min over ALL consumers: $rep")
    assert(rep.getAs[Long]("n_retained") == 2L &&
      rep.getAs[Long]("retained_bytes") == 60L,
      s"frames 200/300 are pinned by the lagging slot: $rep")
    // observation == enforcement: truncation drops exactly what the
    // pane said was droppable (lsn 100), keeps what it said was
    // retained
    val dropped = CdcReplaySource.truncateFrameLog(root)
    assert(dropped == Map("part-0.jsonl" -> 1L), s"dropped: $dropped")
    val after = StreamOps.slotRetentionReport(spark, root).head()
    assert(after.getAs[Long]("n_retained") == 2L &&
      after.getAs[Long]("head_lsn") == 300L)
  }

  test("a corrupt line before the end of a shard fails the report and " +
      "names the file, as the replay reader does") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-slot-corrupt").toString
    CdcReplaySource.writeLogShard(root, 0, Seq(tx(100L), tx(200L), tx(300L)))
    val p = java.nio.file.Paths.get(root, "part-0.jsonl")
    val lines = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .linesIterator.toList
    java.nio.file.Files.write(p, (lines.head + "\n" + lines(1).take(20) +
      "\n" + lines(2) + "\n").getBytes("UTF-8"))
    val e = intercept[Exception] {
      StreamOps.slotRetentionReport(spark, root).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toList
    assert(messages.exists(m => m.contains("part-0.jsonl") &&
      m.contains("corrupt")), messages.mkString("\n"))
  }
}
