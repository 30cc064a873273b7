package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc._

/** The reference-API facade: subscribe / acknowledge / stop against
  * the frame log, with the reference's semantics — acknowledge only
  * advances, subscribe without `uptoLsn` resumes from the confirmed
  * position, `uptoLsn = 0/00000000` replays everything. */
class ReplicationSessionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var logDir: String = _

  private val rel = RelationInfo(801, "public", "items", "default",
    Seq(ColumnInfo("id", 1, 20, -1, null, null)))

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-replication-session-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    logDir = java.nio.file.Files.createTempDirectory("cdclog-rs").toString
    val txs = (1 to 20).map { i =>
      val lsn = i * 10L
      (lsn, Seq(
        PgoutputWriter.begin(lsn, 1700000000000000L + i, i.toLong),
        PgoutputWriter.relation(rel),
        PgoutputWriter.insert(801, Seq(i.toString)),
        PgoutputWriter.commit(lsn, lsn + 1, 1700000000000000L + i)))
    }
    CdcReplaySource.writeLog(logDir, txs)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def countFrom(df: org.apache.spark.sql.DataFrame): Long = {
    val name = s"rs_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-rs").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    spark.sql(s"SELECT count(*) FROM $name").head().getLong(0)
  }

  test("subscribe replays everything from 0/00000000") {
    val session = new ReplicationSession(spark, logDir)
    val df = session.subscribe(new PgoutputFormat(), "slot1",
      uptoLsn = Some("0/00000000"))
    assert(countFrom(df) == 20)
    session.stop()
  }

  test("acknowledge is monotonic and subscribe resumes after it") {
    val session = new ReplicationSession(spark, logDir)
    assert(session.acknowledge("0/00000064")) // 100
    assert(!session.acknowledge("0/00000032")) // 50 — must not regress
    assert(session.lastAckedLsn().contains(100L))
    // resume with no uptoLsn = continue after the confirmed position:
    // 20 tx at lsn 10..200 — strictly after 100 leaves 10
    val df = session.subscribe(new PgoutputFormat(), "slot1")
    assert(countFrom(df) == 10)
    session.stop()
  }

  test("start-replication SQL matches the plugin serialization") {
    val session = new ReplicationSession(spark, logDir)
    val sql = session.startReplicationSql(
      new PgoutputFormat(publicationNames = Seq("pub1")), "slot1")
    assert(sql == new PgoutputFormat(publicationNames = Seq("pub1"))
      .startReplicationSql("slot1", "0/00000000"))
    assert(sql.contains("START_REPLICATION SLOT"))
    session.stop()
  }

  test("stop closes session queries") {
    val session = new ReplicationSession(spark, logDir)
    val df = session.subscribe(new PgoutputFormat(), "slot1",
      uptoLsn = Some("0/00000000"))
    val q = session.register(df.writeStream.format("memory")
      .queryName("rs_stop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-rs").toString)
      .start())
    assert(q.isActive)
    assert(!session.isStop)
    session.stop()
    assert(!q.isActive)
    assert(session.isStop)
  }

  test("destroy is terminal; stop is restartable (reference lifecycle)") {
    val session = new ReplicationSession(spark, logDir)
    session.subscribe(new PgoutputFormat(), "slot1",
      uptoLsn = Some("0/00000000"))
    session.stop()
    assert(session.isStop)
    // stop is restartable: a new subscribe re-opens the session
    session.subscribe(new PgoutputFormat(), "slot1",
      uptoLsn = Some("0/00000000"))
    assert(!session.isStop)
    session.destroy()
    assert(session.isStop)
    session.destroy() // idempotent
    intercept[IllegalStateException] {
      session.subscribe(new PgoutputFormat(), "slot1")
    }
  }

  test("heartbeats resume after stop and resubscribe, one per progress") {
    val session = new ReplicationSession(spark, logDir)
    // two stop/subscribe cycles: the listener comes back, and only once
    (1 to 2).foreach { _ =>
      session.subscribe(new PgoutputFormat(), "slot1",
        uptoLsn = Some("0/00000000"))
      session.stop()
    }
    val df = session.subscribe(new PgoutputFormat(), "slot1",
      uptoLsn = Some("0/00000000"), maxFramesPerTrigger = Some(5L))
    // progress events reach listeners in order, before the termination
    val terminated = new java.util.concurrent.CountDownLatch(1)
    val done = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.countDown()
    }
    spark.streams.addListener(done)
    try {
      val q = df.writeStream.format("memory").queryName("rs_heartbeat")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt-rs").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      assert(terminated.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val beats = session.listener.heartbeats.filter(_.queryName == "rs_heartbeat")
      assert(beats.nonEmpty, "no heartbeat after a restart")
      assert(beats.size == q.recentProgress.length)
      assert(beats.map(_.lsn).max == 200L)
    } finally {
      spark.streams.removeListener(done)
      session.stop()
    }
  }
}
