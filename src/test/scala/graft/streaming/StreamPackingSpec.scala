package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** q241's live form: arriving `(doc_id, source, n_toks)` batches
  * extend each source's concat-and-chunk token stream. Offsets must
  * CONTINUE across micro-batches exactly where the source's stream
  * stood, replayed batch ids must be no-ops, and a crash between the
  * manifest append and the totals commit must repair from the
  * manifest (never recompute from input). */
class StreamPackingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-stream-packing")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"pack-$tag").toString

  test("offsets continue across micro-batches per source; replayed " +
      "batch ids are no-ops") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext

    val manifest = tmpDir("manifest")
    val totals = tmpDir("totals")
    val input = MemoryStream[(Long, String, Long)]
    val q = input.toDS().toDF("doc_id", "source", "n_toks")
      .writeStream
      .foreachBatch(StreamOps.packingIngestBatch(manifest, totals) _)
      .start()
    try {
      // batch 0: source A gets 300 + 300 tokens (doc 2 straddles the
      // 512 boundary), source B gets 100
      input.addData((1L, "A", 300L), (2L, "A", 300L), (3L, "B", 100L))
      q.processAllAvailable()
      // batch 1: A continues at offset 600, B at 100
      input.addData((4L, "A", 500L), (5L, "B", 450L))
      q.processAllAvailable()
    } finally q.stop()

    val m = spark.read.parquet(manifest)
      .select("doc_id", "start_off", "first_chunk", "last_chunk")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m(1L) == (0L, 0L, 0L))
    assert(m(2L) == (300L, 0L, 1L), "doc 2 straddles the 512 boundary")
    assert(m(3L) == (0L, 0L, 0L), "source B packs independently")
    assert(m(4L) == (600L, 1L, 2L),
      "batch 1 continues source A exactly at 600")
    assert(m(5L) == (100L, 0L, 1L))

    // replaying batch 0's data under an ALREADY-COMMITTED batch id is
    // a no-op: call the sink function directly with batchId = 0
    val replay = Seq((1L, "A", 300L)).toDF("doc_id", "source", "n_toks")
    StreamOps.packingIngestBatch(manifest, totals)(replay, 0L)
    assert(spark.read.parquet(manifest).count() == 5,
      "replayed batch id appended nothing")
    assert(spark.read.parquet(totals)
      .filter(col("batch_id") === 0L).count() == 2)
  }

  test("crash between manifest append and totals commit repairs from " +
      "the manifest, and the next batch sees the right offsets") {
    val ss = spark
    import ss.implicits._
    val manifest = tmpDir("crash-manifest")
    val totals = tmpDir("crash-totals")
    val b0 = Seq((1L, "A", 200L), (2L, "A", 100L))
      .toDF("doc_id", "source", "n_toks")
    StreamOps.packingIngestBatch(manifest, totals)(b0, 0L)

    // simulate the crash: batch 1's manifest lands but its totals row
    // does not (write the manifest rows by hand, exactly as the op
    // would have)
    Seq((1L, "A", 3L, 50L, 300L, 0L, 0L))
      .toDF("batch_id", "source", "doc_id", "n", "start_off",
        "first_chunk", "last_chunk")
      .write.mode("append").parquet(manifest)

    // replaying batch 1 must NOT re-append the manifest; it must only
    // commit the missing totals row derived from the manifest itself
    val b1 = Seq((3L, "A", 50L)).toDF("doc_id", "source", "n_toks")
    StreamOps.packingIngestBatch(manifest, totals)(b1, 1L)
    assert(spark.read.parquet(manifest)
      .filter(col("batch_id") === 1L).count() == 1)
    val t1 = spark.read.parquet(totals)
      .filter(col("batch_id") === 1L).collect()
    assert(t1.length == 1 && t1(0).getAs[Long]("toks") == 50L)

    // batch 2 continues at 300 + 50 = 350 for source A
    val b2 = Seq((4L, "A", 10L)).toDF("doc_id", "source", "n_toks")
    StreamOps.packingIngestBatch(manifest, totals)(b2, 2L)
    val r4 = spark.read.parquet(manifest)
      .filter(col("doc_id") === 4L).collect()(0)
    assert(r4.getAs[Long]("start_off") == 350L)
  }

  test("an unreadable totals store fails the batch instead of reading " +
      "as nothing committed") {
    val ss = spark
    import ss.implicits._
    val manifest = tmpDir("bad-manifest")
    val totals = tmpDir("bad-totals")
    StreamOps.packingIngestBatch(manifest, totals)(
      Seq((1L, "A", 300L)).toDF("doc_id", "source", "n_toks"), 0L)
    // every totals file unreadable (its checksum sidecar gone too, so
    // the read fails on the bytes, whichever file schema inference picks)
    new java.io.File(totals).listFiles().foreach { f =>
      if (f.getName.endsWith(".crc")) f.delete()
      else if (f.getName.endsWith(".parquet")) java.nio.file.Files.write(
        f.toPath, "not parquet".getBytes("UTF-8"))
    }
    // read as "no totals", batch 1 would restart source A at offset 0
    intercept[Exception] {
      StreamOps.packingIngestBatch(manifest, totals)(
        Seq((2L, "A", 100L)).toDF("doc_id", "source", "n_toks"), 1L)
    }
    assert(spark.read.parquet(manifest)
      .filter(col("batch_id") === 1L).isEmpty)
  }
}
