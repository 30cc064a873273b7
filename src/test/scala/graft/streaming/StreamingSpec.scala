package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc._

/** End-to-end Structured Streaming tests over the cdc-replay source:
  * the delivery semantics the reference proves with a live server
  * (resume-from-LSN, replay-of-unacked ⇒ at-least-once ⇒ idempotent
  * consumption; `acknowledge.spec.ts:32-76`) re-proven against the
  * frame-log replay. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var logDir: String = _

  private val usersRel = RelationInfo(777, "public", "users", "default",
    Seq(ColumnInfo("id", 1, 20, -1, null, null),
      ColumnInfo("name", 0, 25, -1, null, null)))

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-streaming-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // 40 transactions: insert id=i, then updates/deletes over the same keys
    logDir = java.nio.file.Files.createTempDirectory("cdclog").toString
    val txs = (1 to 40).map { i =>
      val lsn = i * 10L
      val key = (i % 10).toString
      val dml =
        if (i <= 10) PgoutputWriter.insert(777, Seq(key, s"name$i"))
        else if (i % 7 == 0) PgoutputWriter.delete(777, 'K', Seq(key, null))
        else PgoutputWriter.update(777, 'N', Nil, Seq(key, s"name$i"))
      (lsn, Seq(
        PgoutputWriter.begin(lsn, 1700000000000000L + i * 1000000L, i.toLong),
        PgoutputWriter.relation(usersRel),
        dml,
        PgoutputWriter.commit(lsn, lsn + 1, 1700000000000000L + i * 1000000L)))
    }
    CdcReplaySource.writeLog(logDir, txs)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def expectedSnapshot(): Map[String, (Long, String)] = {
    // replay the log logically: latest op per key, deletes drop
    var m = Map.empty[String, (Long, String, String)]
    (1 to 40).foreach { i =>
      val lsn = i * 10L
      val key = (i % 10).toString
      val (op, name) =
        if (i <= 10) ("insert", s"name$i")
        else if (i % 7 == 0) ("delete", null)
        else ("update", s"name$i")
      m += key -> (lsn, op, name)
    }
    m.collect { case (k, (lsn, op, name)) if op != "delete" =>
      k -> (lsn, name)
    }
  }

  /** Logical SCD2 replay of the fixture: (key, valid_from) →
    * (valid_to, name). Versions open on insert/update, close at the
    * key's next change LSN (deletes close without opening). */
  private def expectedScd2(): Map[(String, Long), (Option[Long], String)] = {
    val byKey = (1 to 40).map { i =>
      val lsn = i * 10L
      val key = (i % 10).toString
      val op =
        if (i <= 10) "insert" else if (i % 7 == 0) "delete" else "update"
      (key, lsn, op, s"name$i")
    }.groupBy(_._1)
    byKey.flatMap { case (key, changes) =>
      val sorted = changes.sortBy(_._2)
      sorted.zipWithIndex.collect {
        case ((_, lsn, op, name), idx) if op != "delete" =>
          val validTo = sorted.drop(idx + 1).headOption.map(_._2)
          (key, lsn) -> (validTo, name)
      }
    }
  }

  test("streaming SCD2 history equals the logical replay") {
    val sp = spark; import sp.implicits._
    val stream = spark.readStream.format(CdcReplaySource.FORMAT)
      .option("path", logDir)
      .option("maxFramesPerTrigger", "9") // versions must close ACROSS batches
      .load()
    val changes = StreamOps.decodedChanges(stream)
      .select(col("table"), col("tuple")("id").as("key"), col("lsn"),
        col("op"), col("tuple"))
      .as[StreamOps.KeyedChange]
    val hist = StreamOps.scd2History(changes)
    val q = hist.writeStream
      .format("memory").queryName("scd2")
      .outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-scd2").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    // sink-side MERGE on (key, valid_from): the closed emission (with
    // valid_to) supersedes the earlier open-ended one
    val rows = spark.sql(
      """SELECT key, valid_from, max(valid_to) AS valid_to,
        |       max_by(tuple['name'], coalesce(valid_to, 0)) AS name
        |FROM scd2 GROUP BY key, valid_from""".stripMargin)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3)))
      .toMap
    assert(rows == expectedScd2())
    // exactly one open (current) version per live key
    val open = rows.collect { case ((k, _), (None, _)) => k }.toSeq
    assert(open.size == expectedSnapshot().size && open.distinct == open)
  }

  test("batch read of the frame log decodes all transactions") {
    val df = spark.read.format(CdcReplaySource.FORMAT).option("path", logDir)
      .load()
    assert(df.count() == 40)
    val decoded = StreamOps.decodedChanges(df)
    assert(decoded.count() == 40) // one DML per tx
    // deletes at i % 7 == 0 for i in 11..40: 14, 21, 28, 35
    assert(decoded.filter(col("op") === "delete").count() == 4)
  }

  test("streaming snapshot equals logical replay; maxFramesPerTrigger honored") {
    val sp = spark; import sp.implicits._
    val stream = spark.readStream.format(CdcReplaySource.FORMAT)
      .option("path", logDir)
      .option("maxFramesPerTrigger", "7")
      .load()
    val changes = StreamOps.decodedChanges(stream)
      .select(col("table"), col("tuple")("id").as("key"), col("lsn"),
        col("op"), col("tuple"))
      .as[StreamOps.KeyedChange]
    val snap = StreamOps.statefulSnapshot(changes)
    val q = snap.writeStream
      .format("memory").queryName("snap")
      .outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val rows = spark.sql(
      """SELECT key, max_by(tuple['name'], lsn) AS name, max(lsn) AS lsn,
        |       max_by(op, lsn) AS op
        |FROM snap GROUP BY key""".stripMargin)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getString(1), r.getString(3)))
      .toMap
    val live = rows.collect { case (k, (lsn, name, op)) if op != "delete" =>
      k -> (lsn, name)
    }
    assert(live == expectedSnapshot())

    // admission control: 40 tx / 7 per trigger → at least 6 batches
    val progress = q.recentProgress
    assert(progress.length >= 6,
      s"expected >=6 micro-batches, got ${progress.length}")
    assert(progress.forall(_.numInputRows <= 7))
  }

  test("statefulSnapshot on RocksDB state store equals logical replay") {
    val sp = spark; import sp.implicits._
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.format(CdcReplaySource.FORMAT)
        .option("path", logDir)
        .load()
      val changes = StreamOps.decodedChanges(stream)
        .select(col("table"), col("tuple")("id").as("key"), col("lsn"),
          col("op"), col("tuple"))
        .as[StreamOps.KeyedChange]
      val snap = StreamOps.statefulSnapshot(changes)
      val q = snap.writeStream
        .format("memory").queryName("snap_tws")
        .outputMode("update")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt_tws").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)

      val rows = spark.sql(
        """SELECT key, max_by(tuple['name'], lsn) AS name, max(lsn) AS lsn,
          |       max_by(op, lsn) AS op
          |FROM snap_tws GROUP BY key""".stripMargin)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(2), r.getString(1), r.getString(3)))
        .toMap
      val live = rows.collect { case (k, (lsn, name, op)) if op != "delete" =>
        k -> (lsn, name)
      }
      assert(live == expectedSnapshot())
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("commit persists the acked LSN (standby-status analogue)") {
    // Spark commits batch N's offset when batch N+1 starts, so the
    // ack record holds the second-to-last boundary after AvailableNow
    // completes — same deferred-ack shape as the reference's
    // auto-ack-after-delivery (A10). 40 tx / 7 per trigger ⇒ last
    // committed boundary is >= 350.
    val acked = CdcReplaySource.acks(logDir).lsn
    assert(acked.exists(_ >= 350L), s"acked=$acked")
  }

  test("resume from startingLsn replays only the tail (uptoLsn semantics)") {
    val df = spark.read.format(CdcReplaySource.FORMAT)
      .option("path", logDir).load()
      .filter(col("lsn") > 200L) // batch path filter ≡ source option
    assert(df.count() == 20)

    val sp = spark; import sp.implicits._
    val stream = spark.readStream.format(CdcReplaySource.FORMAT)
      .option("path", logDir)
      .option("startingLsn", "200")
      .load()
    val q = stream.writeStream.format("memory").queryName("tail")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt2").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(spark.sql("SELECT count(*) FROM tail").head().getLong(0) == 20L)
    assert(spark.sql("SELECT min(lsn) FROM tail").head().getLong(0) == 210L)
  }

  test("at-least-once replay-from-zero duplicates collapse in the idempotent sink") {
    val sp = spark; import sp.implicits._
    val snapshotDir =
      java.nio.file.Files.createTempDirectory("snapdir").toString + "/snap"

    def runOnce(tag: String): Unit = {
      val stream = spark.readStream.format(CdcReplaySource.FORMAT)
        .option("path", logDir).load()
      val changes = StreamOps.decodedChanges(stream)
        .select(col("table"), col("tuple")("id").as("key"), col("lsn"),
          col("op"), col("tuple"))
      val q = changes.writeStream
        .foreachBatch(StreamOps.upsertBatch(snapshotDir) _)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"ckpt$tag").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }

    runOnce("a")
    // fresh checkpoint ⇒ full replay from 0/00000000 ⇒ duplicates
    runOnce("b")

    val snap = StreamOps.readSnapshot(spark, snapshotDir)
      .collect()
      .map(r => r.getAs[String]("key") ->
        (r.getAs[Long]("lsn"), r.getAs[Map[String, String]]("tuple")("name")))
      .toMap
    assert(snap == expectedSnapshot())
  }

  test("upsert keeps every row across a crash inside its publish") {
    val sp = spark; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("upcrash").toString + "/snap"
    def batch(i: Int) = Seq(StreamOps.KeyedChange("users", i.toString,
      i * 10L, "insert", Map("name" -> s"n$i"))).toDF()
    StreamOps.upsertBatch(dir)(batch(1), 0L)
    StreamOps.upsertBatch(dir)(batch(2), 1L)
    // the publish's crash window: the live snapshot is demoted and its
    // replacement not yet promoted
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + "_compact_old")))
    StreamOps.upsertBatch(dir)(batch(3), 2L)
    assert(StreamOps.readSnapshot(spark, dir).select("key").as[String]
      .collect().toSet == Set("1", "2", "3"))
  }

  test("stale replayed update cannot resurrect a deleted key (tombstones)") {
    val snapshotDir =
      java.nio.file.Files.createTempDirectory("tomb").toString + "/snap"

    def run(dir: String, tag: String): Unit = {
      val stream = spark.readStream.format(CdcReplaySource.FORMAT)
        .option("path", dir).load()
      val changes = StreamOps.decodedChanges(stream)
        .select(col("table"), col("tuple")("id").as("key"), col("lsn"),
          col("op"), col("tuple"))
      val q = changes.writeStream
        .foreachBatch(StreamOps.upsertBatch(snapshotDir) _)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"cktomb$tag").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }

    // full history: insert then delete
    val fullDir = java.nio.file.Files.createTempDirectory("tombfull").toString
    CdcReplaySource.writeLog(fullDir, Seq(
      10L -> Seq(PgoutputWriter.relation(usersRel),
        PgoutputWriter.insert(777, Seq("99", "ghost"))),
      20L -> Seq(PgoutputWriter.relation(usersRel),
        PgoutputWriter.delete(777, 'K', Seq("99", null)))))
    run(fullDir, "a")
    assert(StreamOps.readSnapshot(spark, snapshotDir)
      .filter(col("key") === "99").count() == 0L)

    // redelivered stale chunk: only the old insert, in its own batch
    val staleDir = java.nio.file.Files.createTempDirectory("tombstale").toString
    CdcReplaySource.writeLog(staleDir, Seq(
      10L -> Seq(PgoutputWriter.relation(usersRel),
        PgoutputWriter.insert(777, Seq("99", "ghost")))))
    run(staleDir, "b")
    // the lsn-20 tombstone must still win the merge
    assert(StreamOps.readSnapshot(spark, snapshotDir)
      .filter(col("key") === "99").count() == 0L)
  }

  test("interleaved proto-v2 streams reassemble per xid; aborted " +
      "stream leaves no rows in the snapshot") {
    // r9 verdict ask 4: two in-progress transactions interleave their
    // S..E segments within shard 0 while a third streams on shard 1;
    // segments, commit and abort land in DIFFERENT micro-batches
    // (maxFramesPerTrigger=2), so reassembly must hold undecided
    // changes in keyed state across triggers. xid 10 commits (with a
    // ROLLBACK TO SAVEPOINT dropping subxid 11's change), xid 20
    // stream-aborts — rollback invisibility end-to-end
    // (decoder-pgoutput.spec.ts:235-274) — and xid 30 commits on its
    // own shard.
    val dir = java.nio.file.Files.createTempDirectory("v2stream").toString
    def seg(blockXid: Long, msgXid: Long, first: Boolean, id: Long,
        name: String): Seq[Array[Byte]] = Seq(
      PgoutputWriter.streamStart(blockXid, first),
      PgoutputWriter.streamed(msgXid, PgoutputWriter.relation(usersRel)),
      PgoutputWriter.streamed(msgXid,
        PgoutputWriter.insert(777, Seq(id.toString, name))),
      PgoutputWriter.streamStop())
    CdcReplaySource.writeLogShard(dir, 0, Seq(
      (100L, seg(10L, 10L, first = true, 1L, "a")),
      (110L, seg(20L, 20L, first = true, 2L, "b")),
      (120L, seg(10L, 10L, first = false, 3L, "c")),
      (125L, seg(10L, 11L, first = false, 6L, "savepoint")),
      (130L, seg(20L, 20L, first = false, 4L, "d")),
      (135L, Seq(PgoutputWriter.streamAbort(10L, 11L))),
      (140L, Seq(PgoutputWriter.streamCommit(10L, 140L, 141L,
        1700000000000000L))),
      (150L, Seq(PgoutputWriter.streamAbort(20L, 20L)))))
    CdcReplaySource.writeLogShard(dir, 1, Seq(
      (105L, seg(30L, 30L, first = true, 5L, "e")),
      (115L, Seq(PgoutputWriter.streamCommit(30L, 115L, 116L,
        1700000000000000L)))))

    val stream = spark.readStream.format(CdcReplaySource.FORMAT)
      .option("path", dir)
      .option("maxFramesPerTrigger", "2")
      .load()
    val changes = StreamOps.streamReassembledChanges(stream)
      .select(col("table"), col("tuple")("id").as("key"), col("lsn"),
        col("op"), col("tuple"))
    val snapDir = java.nio.file.Files.createTempDirectory("v2snap").toString
    val q = changes.writeStream
      .foreachBatch(StreamOps.upsertBatch(snapDir) _)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("v2ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val live = StreamOps.readSnapshot(spark, snapDir)
      .select("key", "tuple").collect()
      .map(r => r.getString(0) ->
        r.getMap[String, String](1).toMap.apply("name")).toMap
    assert(live == Map("1" -> "a", "3" -> "c", "5" -> "e"),
      s"committed stream changes only, got $live")
  }

  test("v2 reassembly state survives a query restart: segments before " +
      "the stop, commit after, changes deliver on resume") {
    // the walsender can stream a transaction's segments, then the
    // consumer restarts (deploy, crash) BEFORE stream_commit arrives.
    // The undecided buffer lives in flatMapGroupsWithState state, so
    // it must come back from the checkpoint — losing it would drop
    // the whole transaction silently on commit.
    val dir = java.nio.file.Files.createTempDirectory("v2restart").toString
    CdcReplaySource.writeLogShard(dir, 0, Seq(
      (100L, Seq(
        PgoutputWriter.streamStart(40L, firstSegment = true),
        PgoutputWriter.streamed(40L, PgoutputWriter.relation(usersRel)),
        PgoutputWriter.streamed(40L,
          PgoutputWriter.insert(777, Seq("9", "pending"))),
        PgoutputWriter.streamStop()))))
    val ckpt = java.nio.file.Files.createTempDirectory("v2rckpt").toString
    val snapDir = java.nio.file.Files.createTempDirectory("v2rsnap")
      .toString + "/snap"
    def runOnce(): Unit = {
      val stream = spark.readStream.format(CdcReplaySource.FORMAT)
        .option("path", dir).load()
      val q = StreamOps.streamReassembledChanges(stream)
        .select(col("table"), col("tuple")("id").as("key"), col("lsn"),
          col("op"), col("tuple"))
        .writeStream
        .foreachBatch(StreamOps.upsertBatch(snapDir) _)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runOnce() // only the undecided segment: nothing visible
    assert(!new java.io.File(snapDir).exists() ||
      StreamOps.readSnapshot(spark, snapDir).count() == 0,
      "an uncommitted stream must deliver nothing")
    // the commit arrives while the consumer is DOWN
    val f = new java.io.File(dir, "part-0.jsonl")
    val w = new java.io.PrintWriter(new java.io.FileWriter(f, true))
    w.println(s"""{"lsn":110,"frames":["${CdcReplaySource.hex(
      PgoutputWriter.streamCommit(40L, 110L, 111L, 1700000000000000L))}"]}""")
    w.close()
    runOnce() // restart from the checkpoint: buffered segment commits
    val live = StreamOps.readSnapshot(spark, snapDir)
      .select("key").collect().map(_.getString(0)).toSeq
    assert(live == Seq("9"),
      s"restart must recover the buffered segment from state, got $live")
  }

  test("two-phase across restart: PREPARE before the stop, COMMIT " +
      "PREPARED after — rows appear exactly once post-commit") {
    // r10 verdict ask 7: a prepared transaction's decision can arrive
    // an arbitrary time after its envelope — including across a
    // consumer restart. The undecided envelope buffers in the same
    // keyed state as v2 streams, so it must survive the checkpoint;
    // a rolled-back sibling must stay invisible through the same path.
    val dir = java.nio.file.Files.createTempDirectory("twophase").toString
    def envelope(xid: Long, gid: String, id: Long, name: String) = Seq(
      PgoutputWriter.beginPrepare(100L, 101L, 1700000000000000L, xid, gid),
      PgoutputWriter.relation(usersRel),
      PgoutputWriter.insert(777, Seq(id.toString, name)),
      PgoutputWriter.prepare(100L, 101L, 1700000000000000L, xid, gid))
    CdcReplaySource.writeLogShard(dir, 0, Seq(
      (100L, envelope(60L, "tx-60", 21L, "prep-commit")),
      (105L, envelope(61L, "tx-61", 22L, "prep-rollback")),
      (110L, Seq(PgoutputWriter.rollbackPrepared(101L, 111L,
        1700000000000000L, 1700000001000000L, 61L, "tx-61")))))
    val ckpt = java.nio.file.Files.createTempDirectory("tpckpt").toString
    val snapDir = java.nio.file.Files.createTempDirectory("tpsnap")
      .toString + "/snap"
    def runOnce(): Unit = {
      val stream = spark.readStream.format(CdcReplaySource.FORMAT)
        .option("path", dir).load()
      val q = StreamOps.streamReassembledChanges(stream)
        .select(col("table"), col("tuple")("id").as("key"), col("lsn"),
          col("op"), col("tuple"))
        .writeStream
        .foreachBatch(StreamOps.upsertBatch(snapDir) _)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runOnce() // both envelopes undecided or rolled back: nothing lands
    assert(!new java.io.File(snapDir).exists() ||
      StreamOps.readSnapshot(spark, snapDir).count() == 0,
      "an unresolved PREPARE must deliver nothing")
    // COMMIT PREPARED arrives while the consumer is DOWN
    val f = new java.io.File(dir, "part-0.jsonl")
    val w = new java.io.PrintWriter(new java.io.FileWriter(f, true))
    w.println(s"""{"lsn":120,"frames":["${CdcReplaySource.hex(
      PgoutputWriter.commitPrepared(120L, 121L, 1700000002000000L,
        60L, "tx-60"))}"]}""")
    w.close()
    runOnce() // restart: the buffered envelope commits exactly once
    val live = StreamOps.readSnapshot(spark, snapDir)
      .select("key", "tuple").collect()
      .map(r => r.getString(0) ->
        r.getMap[String, String](1).toMap.apply("name")).toMap
    assert(live == Map("21" -> "prep-commit"),
      s"committed prepared tx only, exactly once, got $live")
    // idempotent re-run: a third pass from the same checkpoint (no
    // new frames) must not duplicate or resurrect anything
    runOnce()
    assert(StreamOps.readSnapshot(spark, snapDir).count() == 1L)
  }

  test("windowed op counts with watermark over commit time") {
    val sp = spark; import sp.implicits._
    val stream = spark.readStream.format(CdcReplaySource.FORMAT)
      .option("path", logDir)
      .option("maxFramesPerTrigger", "10")
      .load()
    val withTs = StreamOps.decodedChanges(stream)
      .withColumn("commit_ts",
        timestamp_seconds(lit(1700000000L) + col("lsn") / 10))
    // event times span 40s; a 5s watermark closes 5s windows up to
    // t+35 as the per-batch watermark advances (the last window stays
    // open — append-mode semantics)
    val counts = StreamOps.windowedOpCounts(withTs, "commit_ts",
      "5 seconds", "5 seconds")
    val q = counts.writeStream.format("memory").queryName("wins")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt3").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val n = spark.sql("SELECT count(*) FROM wins").head().getLong(0)
    assert(n >= 5, s"expected >=5 closed windows, got $n")
    val total = spark.sql("SELECT sum(n) FROM wins").head().getLong(0)
    assert(total >= 30, s"closed windows should cover most rows, got $total")
  }

  test("multi-shard logs read in parallel with one partition per shard") {
    val dir = java.nio.file.Files.createTempDirectory("cdcshards").toString
    def tx(lsn: Long, key: String): (Long, Seq[Array[Byte]]) =
      (lsn, Seq(
        PgoutputWriter.begin(lsn, 0L, lsn),
        PgoutputWriter.relation(usersRel),
        PgoutputWriter.insert(777, Seq(key, s"v$lsn")),
        PgoutputWriter.commit(lsn, lsn + 1, 0L)))
    // two shards with interleaved LSN ranges (shard ≈ slot)
    CdcReplaySource.writeLogShard(dir, 0, Seq(tx(10, "a"), tx(30, "b"), tx(50, "c")))
    CdcReplaySource.writeLogShard(dir, 1, Seq(tx(20, "d"), tx(40, "e")))

    val df = spark.read.format(CdcReplaySource.FORMAT).option("path", dir).load()
    assert(df.rdd.getNumPartitions == 2) // one per shard file
    assert(df.select("lsn").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(10L, 20L, 30L, 40L, 50L))

    // streaming offsets advance over the merged (cross-shard) index
    val q = spark.readStream.format(CdcReplaySource.FORMAT)
      .option("path", dir).load()
      .writeStream.format("memory").queryName("shards")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-sh").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(spark.sql("SELECT count(*) FROM shards").head().getLong(0) == 5L)
  }

  test("batch read pushes lsn range filters into the scan partitions") {
    import org.apache.spark.sql.sources.{GreaterThan, LessThanOrEqual, EqualTo}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    // unit level: the accepted filters become partition bounds and are
    // consumed (not left for post-scan re-evaluation)
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("path", logDir))
    val sb = new CdcReplayScanBuilder(opts)
    val remaining = sb.pushFilters(Array(
      GreaterThan("lsn", 100L), LessThanOrEqual("lsn", 300L),
      EqualTo("frames", null)))
    assert(remaining.length == 1) // the non-lsn filter stays post-scan
    assert(sb.pushedFilters().length == 2)
    val parts = sb.build().toBatch.planInputPartitions()
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val cp = p.asInstanceOf[CdcReplayPartition]
      assert(cp.startExclusive == 100L)
      assert(cp.endInclusive == 300L)
    }
    // end to end: the filtered read returns exactly the range
    val df = spark.read.format(CdcReplaySource.FORMAT).option("path", logDir)
      .load().filter("lsn > 100 AND lsn <= 300")
    val lsns = df.select("lsn").collect().map(_.getLong(0)).sorted
    assert(lsns.toSeq == (11 to 30).map(_ * 10L))
  }

  test("progress carries the source's index and lag metrics") {
    val dir = java.nio.file.Files.createTempDirectory("replay-metrics").toString
    CdcReplaySource.writeLog(dir,
      (1 to 6).map(i => (i * 10L, Seq(Array[Byte](i.toByte)))))
    val q = spark.readStream.format(CdcReplaySource.FORMAT)
      .option("path", dir)
      .option("maxFramesPerTrigger", "2")
      .load()
      .writeStream.format("memory").queryName("replay_metrics")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-metrics").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val metrics = q.recentProgress.map(_.sources(0).metrics)
    assert(metrics.length == 3)
    metrics.foreach { m =>
      assert(Set("indexBytesParsed", "indexBytesRead", "txBehindLatest")
        .subsetOf(m.keySet().asScala), m)
    }
    assert(metrics.map(_.get("txBehindLatest")).toSeq == Seq("4", "2", "0"))
    val logBytes = new java.io.File(dir, "part-0.jsonl").length()
    assert(metrics.last.get("indexBytesParsed").toLong == logBytes)
  }
}
