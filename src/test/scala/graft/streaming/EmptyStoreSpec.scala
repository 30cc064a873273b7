package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A store dir that exists but holds no parquet — pre-created by a
  * harness, or promoted by recovery after a first publish whose Spark
  * write failed before its commit — is a store with no rows yet: the
  * ingest sinks take batch 0 exactly as they would into a missing dir,
  * instead of failing every batch on the unreadable schema. */
class EmptyStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-empty-store")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.cdc.GraftFunctions.register(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** `missing/<name>` and `empty/<name>`, the latter created empty. */
  private def dirs(name: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft-empty")
    val empty = root.resolve("empty").resolve(name)
    java.nio.file.Files.createDirectories(empty)
    (root.resolve("missing").resolve(name).toString, empty.toString)
  }

  test("dedupIngestBatch takes batch 0 into an empty index dir as into " +
      "a missing one") {
    val ss = spark
    import ss.implicits._
    val batch = Seq(1L -> "alpha beta gamma delta epsilon",
      2L -> "alpha beta gamma delta epsilon", 3L -> "one two three four")
      .toDF("doc_id", "text")
    val (missing, empty) = dirs("index")
    def ingest(idx: String) = {
      StreamOps.dedupIngestBatch(idx, idx + "_verdicts")(batch, 0L)
      (spark.read.parquet(idx).as[(Long, Long, Long, Long)].collect().toSet,
        spark.read.parquet(idx + "_verdicts")
          .as[(Long, Long, Option[Long], Long, Boolean)].collect().toSet)
    }
    val want = ingest(missing)
    assert(want._1.nonEmpty && want._2.size == 3)
    assert(ingest(empty) == want)
  }

  test("ivfIngestBatch takes batch 0 into an empty index dir as into " +
      "a missing one") {
    val ss = spark
    import ss.implicits._
    val batch = Seq(1L -> Seq(0.9, 1.1), 2L -> Seq(2.1, 1.9))
      .toDF("vec_id", "embedding")
    val cents = Seq(0L -> Seq(1900L, 2100L), 1L -> Seq(3100L, 2900L))
    val (missing, empty) = dirs("index")
    def ingest(idx: String) = {
      StreamOps.ivfIngestBatch(idx, idx + "_report", cents,
        vecsDir = Some(idx + "_vecs"))(batch, 0L)
      (spark.read.parquet(idx).select(col("vec_id"), col("j"), col("gen"))
        .as[(Long, Long, Long)].collect().toSet,
        spark.read.parquet(idx + "_report")
          .select(col("n_arrived"), col("n_index")).as[(Long, Long)]
          .collect().toSeq)
    }
    val want = ingest(missing)
    assert(want == ((Set((1L, 0L, 0L), (2L, 1L, 0L)), Seq((2L, 2L)))))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(empty + "_vecs"))
    assert(ingest(empty) == want)
  }
}
