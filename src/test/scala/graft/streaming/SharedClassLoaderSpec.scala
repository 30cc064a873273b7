package graft.streaming

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc._
import graft.streaming.StreamOps.{KeyedChange, SnapshotRow}

/** The executor class loader [[ReplicationSession]] shares between its
  * query runs, counted in Janino compiles (never timed): every query
  * run is a clone of the session with a new session UUID, and with
  * artifact isolation on each UUID got its own executor class loader,
  * so each run compiled its generated classes again. Each test works
  * on `spark.newSession()`, so no earlier spec in the JVM can have set
  * the isolation key on it. */
class SharedClassLoaderSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  private val isolationKey = "spark.sql.artifact.isolation.enabled"

  private val rel = RelationInfo(804, "public", "items", "default",
    Seq(ColumnInfo("id", 1, 20, -1, null, null),
      ColumnInfo("name", 0, 25, -1, null, null)))

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-shared-class-loader-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Janino compiles in this JVM so far (in local mode planning and
    * tasks share it). */
  private def compiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A fresh one-shard log of transactions `txs`: transaction `i` is an
    * insert or an update of key `i % 10`. */
  private def log(txs: Range): String = {
    val dir = tmp("shared-cl-log")
    CdcReplaySource.writeLogShard(dir, 0, txs.map { i =>
      val lsn = i * 10L
      val key = (i % 10).toString
      val dml = if (i <= 10) PgoutputWriter.insert(804, Seq(key, s"name$i"))
        else PgoutputWriter.update(804, 'N', Nil, Seq(key, s"name$i"))
      lsn -> Seq(PgoutputWriter.begin(lsn, 1700000000000000L + i, i.toLong),
        PgoutputWriter.relation(rel), dml,
        PgoutputWriter.commit(lsn, lsn + 1, 1700000000000000L + i))
    })
    dir
  }

  private def keyed(raw: DataFrame): Dataset[KeyedChange] = {
    val sp = raw.sparkSession; import sp.implicits._
    StreamOps.decodedChanges(raw)
      .select(col("table"), col("tuple")("id").as("key"), col("lsn"),
        col("op"), col("tuple"))
      .as[KeyedChange]
  }

  private def finish(q: StreamingQuery): Unit = {
    assert(q.awaitTermination(120000), "query did not finish")
    assert(q.exception.isEmpty, q.exception.toString)
  }

  /** One query run, to completion, of `query` over a fresh log of `txs`
    * subscribed through a new [[ReplicationSession]] on `s`. */
  private def replay(s: SparkSession, txs: Range)(
      query: DataFrame => StreamingQuery): Unit = {
    val session = new ReplicationSession(s, log(txs))
    try finish(session.register(query(session.subscribe(
      new PgoutputFormat(), "shared_cl", uptoLsn = Some("0/00000000")))))
    finally session.stop()
  }

  test("a second statefulSnapshot consumer start compiles at most 2 " +
      "classes") {
    val s = spark.newSession()
    def start(txs: Range): (Long, Int) = {
      var rows = 0
      val c0 = compiles()
      replay(s, txs)(raw => StreamOps.statefulSnapshot(keyed(raw))
        .writeStream.outputMode("update")
        .foreachBatch { (ds: Dataset[SnapshotRow], _: Long) =>
          rows += ds.collect().length
        }
        .option("checkpointLocation", tmp("shared-cl-ckpt"))
        .trigger(Trigger.AvailableNow()).start())
      (compiles() - c0, rows)
    }
    val (first, firstRows) = start(1 to 20)
    val (second, secondRows) = start(1 to 30)
    assert(firstRows == 10 && secondRows == 10)
    // what may remain: the state deserializer's CatalystToExternalMap
    // lambda variables are numbered per query, so that code differs
    assert(second <= 2, s"first start $first compiles, second $second")
  }

  test("a second catch-up replay into upsertBatch compiles no class") {
    val s = spark.newSession()
    def catchUp(txs: Range): (Long, Long) = {
      val snap = tmp("shared-cl-snap") + "/snap"
      var upsertCompiles = 0L
      replay(s, txs)(raw => keyed(raw).writeStream
        .foreachBatch { (ds: Dataset[KeyedChange], id: Long) =>
          val c0 = compiles()
          StreamOps.upsertBatch(snap)(ds.toDF(), id)
          upsertCompiles += compiles() - c0
        }
        .option("checkpointLocation", tmp("shared-cl-ckpt"))
        .trigger(Trigger.AvailableNow()).start())
      (upsertCompiles, StreamOps.readSnapshot(s, snap).count())
    }
    val (first, firstKeys) = catchUp(1 to 20)
    val (second, secondKeys) = catchUp(21 to 50)
    assert(firstKeys == 10 && secondKeys == 10)
    assert(second == 0, s"first upsert $first compiles, second $second")
  }

  test("ReplicationSession turns artifact isolation off only where it " +
      "is unset") {
    val s = spark.newSession()
    // the key has a default, so it reads as set before anyone set it
    assert(s.conf.get(isolationKey) == "true")
    new ReplicationSession(s, tmp("shared-cl-unset")).stop()
    assert(s.conf.get(isolationKey) == "false")
  }

  test("an isolation key set at runtime or through the builder stays " +
      "true") {
    val atRuntime = spark.newSession()
    atRuntime.conf.set(isolationKey, "true")
    val viaBuilder = SparkSession.builder().config(isolationKey, "true").create()
    Seq(atRuntime, viaBuilder).foreach { s =>
      new ReplicationSession(s, tmp("shared-cl-set")).stop()
      assert(s.conf.get(isolationKey) == "true")
    }
  }
}
