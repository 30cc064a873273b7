package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The composed ops loop (r13 verdict ask 6) — StoreHealthSpec and
  * SlotRetentionSpec each prove one pane alone; this spec drives the
  * full cycle a 100 TB deployment runs between batches:
  *
  *   ingest → erasure → the health/retention panes SHOW the
  *   reclaimable mass → each store's OWN maintenance fires per its
  *   pane's recommendation (dedup stale-fraction compaction, gram
  *   file-count compaction, WAL truncation at the slot floors) →
  *   the panes return to healthy → every store still serves green
  *   reads.
  *
  * The forgetBatch/compaction analogue of IvfIngestSpec's drift loop:
  * the point is that observation and enforcement CLOSE — what a pane
  * flags, an owner reclaims, and the flag clears. */
class OpsCycleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ops-cycle")
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

  private val textA =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val textB =
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val textC =
    "one two three four five six seven eight nine ten"
  private val textD =
    "north south east west upper lower inner outer near far"

  test("ingest → forget → panes show reclaimable mass → owner " +
      "maintenance fires per the panes → panes healthy, reads green") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-ops-cycle").toString
    val idx = s"$root/dedup"; val verd = s"$root/dverd"
    val tg = s"$root/grams"; val tgRep = s"$root/tgrep"
    val df = s"$root/df";    val dfRep = s"$root/dfrep"
    val frep = s"$root/frep"; val pverd = s"$root/pverd"
    val log = s"$root/framelog"
    val gramGate = 8
    def health() = StreamOps.storeHealthReport(spark,
        dedupIndexDir = Some(idx), trainGramsDir = Some(tg),
        dfDir = Some(df), compactFileThreshold = gramGate)
      .collect().map(r => r.getAs[String]("store") ->
        (r.getAs[Boolean]("compact_recommended"),
          r.getAs[Long]("n_stale"), r.getAs[Long]("n_files"))).toMap

    // ---- 1. ingest: three corpora docs, two train docs, a frame log
    StreamOps.dedupIngestBatch(idx, verd)(
      docs(1L -> textA, 2L -> textB, 3L -> textC), 0L)
    // many small gram batches with compaction DEFERRED (threshold
    // 1000 — an operator who postponed maintenance): append-only
    // file-count degradation accumulates, exactly the drift the
    // ByFiles pane exists to surface
    StreamOps.trainGramIngestBatch(tg, tgRep, 1000)(
      docs(2L -> textB), 0L)
    StreamOps.trainGramIngestBatch(tg, tgRep, 1000)(
      docs(3L -> textC), 1L)
    (2 to 12).foreach { i =>
      StreamOps.trainGramIngestBatch(tg, tgRep, 1000)(
        docs((10L + i) -> (('a' to 'i')
          .map(c => s"w$i$c").mkString(" "))), i.toLong)
    }
    StreamOps.trainGramDfIngestBatch(df, dfRep)(
      docs(2L -> textB, 3L -> textC), 0L)
    def payload(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    CdcReplaySource.writeLogShard(log, 0, Seq(
      100L -> Seq(payload("insert doc=1 a")),
      200L -> Seq(payload("insert doc=2 b")),
      300L -> Seq(payload("insert doc=3 c"))))
    CdcReplaySource.updateAcks(log)(_.ackShards(ShardOffsets(Long.MinValue,
      Map("part-0.jsonl" -> 100L))))
    val h0 = health()
    assert(!h0("dedup_index")._1,
      s"freshly ingested stores must read healthy: $h0")

    // ---- 2. erasure: docs 1 and 2 leave; the report states the
    // frame-log exposure (doc 2's frame at lsn 200 is above the floor)
    StreamOps.forgetBatch(frep, dedupIndexDir = Some(idx),
      trainGramsDir = Some(tg), dfDir = Some(df),
      frameLogDir = Some(log))(docs(1L -> textA, 2L -> textB), 0L)
    val rep0 = spark.read.parquet(frep).head
    assert(rep0.getAs[Long]("n_dedup_tombstoned") == 2L)
    assert(rep0.getAs[Long]("n_grams_removed") == 3L,
      "textB's three exclusive grams leave the index")
    assert(rep0.getAs[Long]("n_frames_retained") == 1L,
      s"doc 2 persists in the log above the floor: $rep0")

    // ---- 3. the panes now SHOW the reclaimable mass
    val h1 = health()
    assert(h1("dedup_index")._1 && h1("dedup_index")._2 > 0L,
      s"two of three docs tombstoned must trip the stale gate: $h1")
    assert(h1("df_sidecar")._1 && h1("df_sidecar")._2 == 3L,
      s"textB's three zeroed gram types are reclaimable mass: $h1")
    assert(h1("train_grams")._3 > gramGate,
      s"the gram index's file count must exceed the ByFiles gate: $h1")
    assert(h1("train_grams")._1,
      s"the gram pane must recommend its owner's compaction: $h1")
    val ret1 = StreamOps.slotRetentionReport(spark, log).head()
    assert(ret1.getAs[Long]("n_retained") == 2L,
      s"frames 200/300 retained until acks advance: $ret1")

    // ---- 4. each owner's maintenance fires, per its own gate
    // dedup: the stale-fraction compaction runs on the next CHURN
    // batch (its gate requires a superseding arrival — pure-novel
    // batches don't trigger it); doc 3 re-arrives with edited
    // content, doc 4 is a normal novel arrival riding along
    StreamOps.dedupIngestBatch(idx, verd)(docs(4L -> textD,
      3L -> (textC + " eleven")), 1L)
    // grams: the next ingest batch triggers the file-count compaction
    StreamOps.trainGramIngestBatch(tg, tgRep, gramGate)(
      docs(4L -> textD), 13L)
    // DF sidecar: the operator runs compactDfSidecar per the pane's
    // recommendation — the truncateFrameLog pattern: enforcement
    // between batches, never on the ingest hot path (zeroed mass
    // dropped, one df=0 sentinel keeps the forget gen visible to the
    // replay guards, pending-forget grams excluded via the index)
    StreamOps.trainGramDfIngestBatch(df, dfRep)(docs(4L -> textD), 1L)
    assert(StreamOps.compactDfSidecar(spark, df,
      trainGramsDir = Some(tg)) == 2L)
    // WAL: consumers ack to head, truncation recycles at the floors
    CdcReplaySource.updateAcks(log)(_.ackShards(ShardOffsets(Long.MinValue,
      Map("part-0.jsonl" -> 300L))))
    val dropped = CdcReplaySource.truncateFrameLog(log)
    assert(dropped("part-0.jsonl") == 3L, s"dropped: $dropped")

    // ---- 5. the panes return to healthy
    val h2 = health()
    assert(!h2("dedup_index")._1 && h2("dedup_index")._2 == 0L,
      s"compaction must clear the dedup pane: $h2")
    assert(!h2("train_grams")._1 &&
      h2("train_grams")._3 <= gramGate,
      s"compaction must clear the gram pane: $h2")
    assert(!h2("df_sidecar")._1 && h2("df_sidecar")._2 == 1L,
      s"sidecar compaction must clear the pane down to the one gen " +
        s"sentinel: $h2")
    val ret2 = StreamOps.slotRetentionReport(spark, log).head()
    assert(ret2.getAs[Long]("n_retained") == 0L &&
      ret2.getAs[Long]("retained_bytes") == 0L,
      s"truncation must clear the retention pane: $ret2")
    // a repeat erasure request now measures ZERO frame exposure
    StreamOps.forgetBatch(frep, dedupIndexDir = Some(idx),
      trainGramsDir = Some(tg), dfDir = Some(df),
      frameLogDir = Some(log))(docs(2L -> textB), 1L)
    assert(spark.read.parquet(frep)
      .filter(col("batch_id") === 1L).head
      .getAs[Long]("n_frames_retained") == 0L)

    // ---- 6. green reads on every store after the full cycle
    val live = {
      val i = spark.read.parquet(idx)
      i.join(i.groupBy(col("doc_id"))
          .agg(max(col("gen")).as("gen")), Seq("doc_id", "gen"))
        .filter(col("n") >= 0)
        .select(col("doc_id")).distinct()
        .collect().map(_.getLong(0)).toSet
    }
    assert(live == Set(3L, 4L),
      s"survivor + post-cycle arrival must be live: $live")
    StreamOps.contaminationProbeBatch(tg, pverd)(
      docs(100L -> textB, 101L -> textC, 102L -> textD), 0L)
    val con = spark.read.parquet(pverd)
      .select(col("doc_id"), col("is_contaminated"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!con(100L), "the forgotten train doc's content reads clean")
    assert(con(101L) && con(102L),
      "surviving and post-cycle train content still flags")
  }
}
