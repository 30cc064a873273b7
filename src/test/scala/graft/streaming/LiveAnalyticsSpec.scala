package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc._

/** Full-stack live path: a walsender-framed TCP socket serves mixed
  * DML transactions → `WalSocketClient` pulls and acks them →
  * `ReplicationSession.subscribe` streams the landed log →
  * `StreamOps.decodedChanges` parses pgoutput → `TypedRefinement`
  * casts the text transport row per OID → a streaming aggregation
  * produces the analytics. Every layer the engine has, composed once,
  * end to end — the "switch a reference user to this library" demo. */
class LiveAnalyticsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  private val rel = RelationInfo(902, "public", "metrics", "default",
    Seq(ColumnInfo("id", 1, 20, -1, null, null),       // int8
      ColumnInfo("amount", 0, 23, -1, null, null)))    // int4

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-live-analytics-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def tx(lsn: Long, frames: Array[Byte]*): (Long, Seq[Array[Byte]]) =
    (lsn, PgoutputWriter.begin(lsn, 1700000000000000L + lsn, lsn) +:
      PgoutputWriter.relation(rel) +: frames.toSeq :+
      PgoutputWriter.commit(lsn, lsn + 1, 1700000000000000L + lsn))

  test("socket -> decode -> typed view -> streaming agg, end to end") {
    // 3 inserts, 1 update, 1 delete across 4 transactions
    val log = Seq(
      tx(100L, PgoutputWriter.insert(902, Seq("1", "10"))),
      tx(200L, PgoutputWriter.insert(902, Seq("2", "20")),
        PgoutputWriter.insert(902, Seq("3", "30"))),
      tx(300L, PgoutputWriter.update(902, 'N', Nil, Seq("2", "25"))),
      tx(400L, PgoutputWriter.delete(902, 'K', Seq("1", null))))
    // SCRAM on the full stack: the startup auth precedes replication
    // in the same composed path a real deployment runs
    val server = new LoopbackWalServer(log, password = Some("pencil"),
      authMethod = "scram-sha-256")
    val dir = tmpDir("live-analytics")
    try {
      val r = new WalSocketClient("127.0.0.1", server.port,
        new PgoutputFormat(), "slot_live", dir, shard = 0,
        password = Some("pencil")).run()
      assert(r.txs.size == 4)
      assert(server.confirmedFlush == 401L)

      val session = new ReplicationSession(spark, dir)
      val changes = StreamOps.decodedChanges(
        session.subscribe(new PgoutputFormat(), "slot_live",
          uptoLsn = Some("0/00000000")))

      // live analytics #1: per-op counts (streaming aggregate)
      val name = s"live_ops_${System.nanoTime()}"
      val q = changes.groupBy(col("table"), col("op")).count()
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tmpDir("live-ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val counts = spark.sql(
        s"SELECT op, count FROM $name WHERE table = 'metrics'")
        .collect().map(r2 => r2.getString(0) -> r2.getLong(1)).toMap
      assert(counts == Map("insert" -> 3L, "update" -> 1L, "delete" -> 1L))

      // live analytics #2: typed refinement over the same decoded
      // stream (int8 id, int4 amount become real numeric columns) —
      // exact integer sum over the inserts
      val name2 = s"live_typed_${System.nanoTime()}"
      val typed = TypedRefinement.typedView(
        changes.filter(col("op") === "insert"), "tuple", rel,
        keep = Seq("lsn", "op"))
      val q2 = typed.agg(sum(col("id")).as("id_sum"),
          sum(col("amount")).as("amount_sum"))
        .writeStream.format("memory").queryName(name2)
        .outputMode("complete")
        .option("checkpointLocation", tmpDir("live-ckpt2"))
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination(60000)
      val row = spark.sql(s"SELECT id_sum, amount_sum FROM $name2").head()
      assert(row.getLong(0) == 6L)   // 1 + 2 + 3
      assert(row.getLong(1) == 60L)  // 10 + 20 + 30
      session.stop()
    } finally server.close()
  }

  test("live tail: appends land while the streaming query is running") {
    // production decoupling: socket ingest and Spark consumption run
    // CONCURRENTLY — the source must pick up frames appended to the
    // log BETWEEN micro-batches, not only those present at stream
    // start (the previous tests build the whole log first)
    val dir = tmpDir("live-tail")
    val s1 = new LoopbackWalServer(
      (1 to 3).map(i => tx(i * 100L, PgoutputWriter.insert(902,
        Seq(i.toString, (i * 10).toString)))))
    try {
      new WalSocketClient("127.0.0.1", s1.port, new PgoutputFormat(),
        "slot_tail", dir, shard = 0).run()
    } finally s1.close()

    val changes = StreamOps.decodedChanges(
      new ReplicationSession(spark, dir)
        .subscribe(new PgoutputFormat(), "slot_tail",
          uptoLsn = Some("0/00000000")))
    val name = s"live_tail_${System.nanoTime()}"
    val q = changes.filter(col("op") === "insert")
      .groupBy(col("table")).count()
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmpDir("live-tail-ckpt"))
      .outputMode("complete")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.sql(s"SELECT count FROM $name").head().getLong(0) == 3L)

      // second wave arrives over a NEW connection while the query runs
      val s2 = new LoopbackWalServer(
        (4 to 6).map(i => tx(i * 100L, PgoutputWriter.insert(902,
          Seq(i.toString, (i * 10).toString)))))
      try {
        new WalSocketClient("127.0.0.1", s2.port, new PgoutputFormat(),
          "slot_tail", dir, shard = 1).run()
      } finally s2.close()
      q.processAllAvailable()
      assert(spark.sql(s"SELECT count FROM $name").head().getLong(0) == 6L,
        "frames appended mid-stream must reach the running query")
    } finally q.stop()
  }

  test("lagging shard: lower LSNs landing after a higher watermark deliver") {
    // the at-least-once killer a single global watermark hides: shard
    // 0 races ahead (lsn 500 delivered and committed), then shard 1's
    // slower socket flushes lsn 450 — per-shard offsets must still
    // deliver it; a global LSN watermark would skip it silently
    val dir = tmpDir("live-lag")
    val s0 = new LoopbackWalServer(Seq(
      tx(500L, PgoutputWriter.insert(902, Seq("5", "50")))))
    try new WalSocketClient("127.0.0.1", s0.port, new PgoutputFormat(),
      "slot_lag", dir, shard = 0).run()
    finally s0.close()

    val changes = StreamOps.decodedChanges(
      new ReplicationSession(spark, dir)
        .subscribe(new PgoutputFormat(), "slot_lag",
          uptoLsn = Some("0/00000000")))
    val name = s"live_lag_${System.nanoTime()}"
    val q = changes.filter(col("op") === "insert")
      .groupBy(col("table")).agg(count(lit(1)).as("n"),
        sum(col("lsn")).as("lsum"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmpDir("live-lag-ckpt"))
      .outputMode("complete")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.sql(s"SELECT n FROM $name").head().getLong(0) == 1L)

      // the lagging shard's OLDER transaction lands afterwards (a
      // second slot's stream, flushed late — written at the log
      // level for brevity; since r10 a real second slot's client
      // would behave identically, because socket clients resume from
      // their PER-SLOT confirmed position in the ack record, never
      // from another slot's global ack — WalSocketSpec "two slots
      // resume independently" pins that path on live sockets, and a
      // restarted SUBSCRIPTION gets the same guarantee from the
      // per-shard offsets of the ack record via startingOffsets)
      CdcReplaySource.writeLogShard(dir, 1, Seq(
        tx(450L, PgoutputWriter.insert(902, Seq("4", "40")))))
      q.processAllAvailable()
      assert(spark.sql(s"SELECT n FROM $name").head().getLong(0) == 2L,
        "the lagging shard's lower-LSN transaction must still deliver")
      assert(spark.sql(s"SELECT lsum FROM $name").head().getLong(0) == 950L)
    } finally q.stop()
  }
}
