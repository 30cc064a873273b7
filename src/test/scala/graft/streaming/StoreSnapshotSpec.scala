package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Store snapshot/restore — the DR leg of the standing-store story:
  * a snapshot taken before a maintenance window must bring the store
  * back byte-consistently after later ingest AND erasure, a torn
  * restore must heal through the same recovery every owner already
  * runs, and "the store did not exist" must round-trip as absence. */
class StoreSnapshotSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-store-snapshot")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.cdc.GraftFunctions.register(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private val textA = "alpha beta gamma delta epsilon zeta eta theta"
  private val textB = "lambda mu nu xi omicron pi rho sigma tau"

  private def indexRows(dir: String): Set[(Long, Long, Long)] =
    spark.read.parquet(dir)
      .select(col("doc_id"), col("h"), col("gen"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet

  test("snapshot survives later ingest and erasure; restore rewinds " +
      "the index to snapshot-time behavior") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-snap").toString
    val idx = s"$root/dedup"; val verd = s"$root/verd"
    StreamOps.dedupIngestBatch(idx, verd)(docs(1L -> textA), 0L)
    StreamOps.dedupIngestBatch(idx, verd)(docs(2L -> textB), 1L)
    val atSnap = indexRows(idx)

    val n = StreamOps.snapshotStore(idx, s"$root/snap1")
    assert(n > 0L)
    // snapshots are immutable: a second capture under the same name
    // must refuse rather than silently overwrite
    intercept[IllegalArgumentException] {
      StreamOps.snapshotStore(idx, s"$root/snap1")
    }

    // the store moves on: new doc ingested, doc 2 erased
    StreamOps.dedupIngestBatch(idx, verd)(
      docs(3L -> "one two three four five six seven"), 2L)
    StreamOps.forgetBatch(s"$root/frep", dedupIndexDir = Some(idx))(
      docs(2L -> textB), 0L)
    assert(indexRows(idx) != atSnap)

    StreamOps.restoreStore(idx, s"$root/snap1")
    assert(indexRows(idx) == atSnap)
    // behavioral rewind: at snapshot time doc 3's content was never
    // seen, so re-ingesting it is novel again (same batch id replayed
    // — the idempotency guard keys on the restored index state)
    StreamOps.dedupIngestBatch(idx, verd)(
      docs(4L -> "one two three four five six seven"), 3L)
    val v = spark.read.parquet(verd)
      .filter(col("doc_id") === 4L).head
    assert(!v.getAs[Boolean]("is_dup"))
  }

  test("a restore torn at every crash point heals through the " +
      "compaction recovery and converges on the snapshot") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-snap-torn").toString
    val idx = s"$root/dedup"; val verd = s"$root/verd"
    StreamOps.dedupIngestBatch(idx, verd)(docs(1L -> textA), 0L)
    val atSnap = indexRows(idx)
    StreamOps.snapshotStore(idx, s"$root/snap")
    StreamOps.dedupIngestBatch(idx, verd)(docs(2L -> textB), 1L)

    // crash between demote and promote: live gone, tmp = snapshot copy
    val tmp = new java.io.File(idx + "_compact_tmp")
    tmp.mkdirs()
    new java.io.File(s"$root/snap").listFiles().filter(_.isFile)
      .foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(tmp, f.getName).toPath)
      }
    val old = new java.io.File(idx + "_compact_old")
    assert(new java.io.File(idx).renameTo(old))
    // the next restore heals the torn publish, then converges
    StreamOps.restoreStore(idx, s"$root/snap")
    assert(indexRows(idx) == atSnap)
    assert(!new java.io.File(idx + "_compact_tmp").exists)
    assert(!new java.io.File(idx + "_compact_old").exists)
    // idempotent rerun is a no-op
    StreamOps.restoreStore(idx, s"$root/snap")
    assert(indexRows(idx) == atSnap)
  }

  test("a snapshot carries the batch commits: restoring the stores and " +
      "replaying the snapshot's last batch is a no-op") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-snap-replay").toString
    val idx = s"$root/dedup"; val verd = s"$root/verd"
    val run = StreamOps.dedupIngestBatch(idx, verd) _
    run(docs(1L -> textA), 0L)
    run(docs(2L -> textB), 1L)
    def state() = (indexRows(idx), spark.read.parquet(verd)
      .collect().map(_.toString).sorted.toSeq)
    val atSnap = state()
    // both stores stay flat (an append's scratch lives beside a store),
    // so neither snapshot trips the subdirectory check
    StreamOps.snapshotStore(idx, s"$root/snap-idx")
    StreamOps.snapshotStore(verd, s"$root/snap-verd")
    run(docs(3L -> "one two three four five six seven"), 2L)
    StreamOps.restoreStore(idx, s"$root/snap-idx")
    StreamOps.restoreStore(verd, s"$root/snap-verd")
    assert(state() == atSnap)
    run(docs(2L -> textB), 1L)
    assert(state() == atSnap, "batch 1 was committed at snapshot time")
  }

  test("a store that did not exist at snapshot time round-trips as " +
      "absence") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-snap-absent").toString
    val idx = s"$root/dedup"; val verd = s"$root/verd"
    assert(StreamOps.snapshotStore(idx, s"$root/snap0") == 0L)
    StreamOps.dedupIngestBatch(idx, verd)(docs(1L -> textA), 0L)
    assert(new java.io.File(idx).isDirectory)
    StreamOps.restoreStore(idx, s"$root/snap0")
    assert(!new java.io.File(idx).exists)
  }
}
