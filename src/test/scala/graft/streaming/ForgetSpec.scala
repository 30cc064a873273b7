package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Right-to-be-forgotten cascade (q277's live half): one erasure
  * batch must propagate through EVERY maintained store — dedup
  * shingle index (tombstone the live generations), IVF index + raw
  * vector store (anti-join rewrite under the crash-safe publish),
  * and the train-gram decontamination index via its DF sidecar
  * (decrement, drop zeroed grams). The litmus invariants:
  *  - erasure removes INFLUENCE, not just rows — re-ingesting the
  *    forgotten content under a new doc_id is NOVEL again;
  *  - shared grams survive (a contamination probe backed by a
  *    surviving doc stays contaminated), exclusive grams die (a
  *    probe backed only by forgotten docs reads clean);
  *  - a crash replay converges to the identical store state (no
  *    double-decrement, no double-tombstone). */
class ForgetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-forget")
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

  // content X appears twice (1 canonical, 2 its rejected dup), Y and
  // Z are unique; Y and Z are also the two train docs of the gram
  // store, and eval copies of each probe the contamination index
  private val textX =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val textY =
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val textZ =
    "one two three four five six seven eight nine ten"

  test("forget cascades through dedup, IVF, vector store, and gram " +
      "index; influence is removed; replay converges") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-forget").toString
    val dedupIdx = s"$root/dedup";   val dedupVerd = s"$root/dverd"
    val ivfIdx = s"$root/ivf";       val vecs = s"$root/vecs"
    val ivfRep = s"$root/ivfrep"
    val tg = s"$root/grams";         val tgRep = s"$root/tgrep"
    val dfSide = s"$root/df";        val dfRep = s"$root/dfrep"
    val probeVerd = s"$root/pverd";  val forgetRep = s"$root/frep"

    // ---- build the stores -----------------------------------------
    val dedupRun = StreamOps.dedupIngestBatch(dedupIdx, dedupVerd) _
    dedupRun(docs(1L -> textX, 3L -> textY, 4L -> textZ), 0L)
    dedupRun(docs(2L -> textX), 1L) // rejected duplicate of 1
    val v2 = spark.read.parquet(dedupVerd)
      .filter(col("doc_id") === 2L).head
    assert(v2.getAs[Boolean]("is_dup") && v2.getAs[Long]("best_match") == 1L)

    StreamOps.trainGramIngestBatch(tg, tgRep)(
      docs(3L -> textY, 4L -> textZ), 0L)
    StreamOps.trainGramDfIngestBatch(dfSide, dfRep)(
      docs(3L -> textY, 4L -> textZ), 0L)

    val cents = graft.ops.Vectors.trainedCentroids(spark, sfDir)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    StreamOps.ivfIngestBatch(ivfIdx, ivfRep, cents,
      vecsDir = Some(vecs))(emb, 0L)
    val nVecs = emb.count()

    // pre-forget contamination: eval copies of BOTH train docs hit
    StreamOps.contaminationProbeBatch(tg, probeVerd)(
      docs(100L -> textY, 101L -> textZ), 0L)
    val pre = spark.read.parquet(probeVerd)
      .filter(col("batch_id") === 0L)
      .select(col("doc_id"), col("is_contaminated"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(pre(100L) && pre(101L))

    // ---- forget {1 (canonical of X), 3 (train doc Y)} ---------------
    val forget = StreamOps.forgetBatch(forgetRep,
      dedupIndexDir = Some(dedupIdx), ivfIndexDir = Some(ivfIdx),
      vecStoreDir = Some(vecs), trainGramsDir = Some(tg),
      dfDir = Some(dfSide)) _
    forget(docs(1L -> textX, 3L -> textY), 0L)

    val rep = spark.read.parquet(forgetRep)
      .filter(col("batch_id") === 0L).head
    assert(rep.getAs[Long]("n_docs") == 2L)
    assert(rep.getAs[Long]("n_dedup_tombstoned") == 2L)
    assert(rep.getAs[Long]("n_vecs_removed") == 2L)
    assert(rep.getAs[Long]("n_store_removed") == 2L)
    // textY has 10 tokens -> 3 8-grams, all exclusive to doc 3
    assert(rep.getAs[Long]("n_grams_removed") == 3L)

    // dedup live view: 1 and 3 gone, 4 still live
    def liveDocs(): Set[Long] = {
      val idx = spark.read.parquet(dedupIdx)
      idx.join(idx.groupBy(col("doc_id"))
          .agg(max(col("gen")).as("gen")), Seq("doc_id", "gen"))
        .filter(col("n") >= 0)
        .select(col("doc_id")).distinct()
        .collect().map(_.getLong(0)).toSet
    }
    assert(liveDocs() == Set(4L))

    // influence removed: content X under a NEW doc_id is novel again
    dedupRun(docs(5L -> textX), 2L)
    val v5 = spark.read.parquet(dedupVerd)
      .filter(col("doc_id") === 5L).head
    assert(!v5.getAs[Boolean]("is_dup"),
      "forgotten content must be re-admittable as novel")

    // IVF index and store: forgotten ids gone, survivors intact, and
    // the index equals a from-scratch assignment of the survivors
    val idxNow = spark.read.parquet(ivfIdx)
    val storeNow = spark.read.parquet(vecs)
    assert(idxNow.count() == nVecs - 2 && storeNow.count() == nVecs - 2)
    assert(idxNow.filter(col("vec_id").isin(1L, 3L)).isEmpty)
    assert(storeNow.filter(col("vec_id").isin(1L, 3L)).isEmpty)
    val fromScratch = graft.ops.Vectors.assignArrivals(
      storeNow.select(col("vec_id"), col("embedding")), cents)
    assert(idxNow.select(col("vec_id"), col("j"))
      .except(fromScratch.select(col("vec_id"), col("j"))).isEmpty)
    assert(fromScratch.select(col("vec_id"), col("j"))
      .except(idxNow.select(col("vec_id"), col("j"))).isEmpty)

    // gram index: Y's probe reads clean, Z's still contaminated
    StreamOps.contaminationProbeBatch(tg, probeVerd)(
      docs(100L -> textY, 101L -> textZ), 1L)
    val post = spark.read.parquet(probeVerd)
      .filter(col("batch_id") === 1L)
      .select(col("doc_id"), col("is_contaminated"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!post(100L), "grams exclusive to the forgotten doc must die")
    assert(post(101L), "grams of surviving docs must stay")
    // sidecar totals: Y's grams zeroed, Z's at 1
    val totals = spark.read.parquet(dfSide)
      .groupBy(col("g")).agg(sum(col("df")).as("df"))
    assert(totals.filter(col("df") < 0).isEmpty)
    assert(totals.filter(col("df") === 0).count() == 3L)
    assert(totals.filter(col("df") === 1).count() == 3L)

    // ---- committed replay: exact no-op ------------------------------
    val snapIdx = idxNow.count(); val snapRep =
      spark.read.parquet(forgetRep).count()
    forget(docs(1L -> textX, 3L -> textY), 0L)
    assert(spark.read.parquet(ivfIdx).count() == snapIdx)
    assert(spark.read.parquet(forgetRep).count() == snapRep)

    // ---- non-roster doc: content match must not decrement -----------
    // doc 7 never train-ingested, but its content equals doc 4's
    // (which IS on the roster): erasing it must subtract NOTHING —
    // otherwise a rejected duplicate's erasure destroys a surviving
    // doc's evidence
    forget(docs(7L -> textZ), 1L)
    def dfTotals(): Map[Long, Long] = spark.read.parquet(dfSide)
      .groupBy(col("g")).agg(sum(col("df")).as("df"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dfTotals().values.count(_ == 1L) == 3L,
      "a non-roster doc's erasure must leave the surviving doc's DF intact")
    StreamOps.contaminationProbeBatch(tg, probeVerd)(
      docs(102L -> textZ), 2L)
    assert(spark.read.parquet(probeVerd)
      .filter(col("batch_id") === 2L).head.getAs[Boolean]("is_contaminated"),
      "content backed by a surviving roster doc must stay contaminated")

    // ---- crash window: marker lost, replay converges ----------------
    // forget doc 4 (content Z); then simulate a crash that lost the
    // report marker and replay — stores must equal the uninterrupted
    // state: no double df-decrement (negGen guard), no new tombstone
    // (doc already non-live), rewrites already-applied
    forget(docs(4L -> textZ), 2L)
    val s1 = (liveDocs(), spark.read.parquet(dfSide).count(),
      spark.read.parquet(tg).count(),
      spark.read.parquet(dedupIdx).count())
    def delTree(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(delTree))
      f.delete(); ()
    }
    delTree(new java.io.File(forgetRep))
    forget(docs(4L -> textZ), 2L)
    val s2 = (liveDocs(), spark.read.parquet(dfSide).count(),
      spark.read.parquet(tg).count(),
      spark.read.parquet(dedupIdx).count())
    assert(s1 == s2, "crash replay must converge to the same state")
    assert(dfTotals().values.forall(_ >= 0L),
      "replay must not double-decrement the DF sidecar")
    // content X was re-admitted as doc 5 AFTER the forget, so the
    // dedup index still holds one live doc (5); grams fully erased
    assert(liveDocs() == Set(5L))
    assert(spark.read.parquet(tg).isEmpty)

    // ---- repeat erasure under a NEW batchId: roster guard ------------
    // doc 4 is already forgotten and off the roster; a fresh request
    // must not decrement again (totals would go negative) and must
    // remove nothing further
    forget(docs(4L -> textZ), 3L)
    assert(dfTotals().values.forall(_ >= 0L),
      "a repeat erasure in a new batch must not double-decrement")
    assert(spark.read.parquet(forgetRep)
      .filter(col("batch_id") === 3L).head
      .getAs[Long]("n_grams_removed") == 0L)
  }

  test("erasure before any train ingest is a clean no-op (missing " +
      "sidecar must not fail the batch)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-forget-boot").toString
    StreamOps.forgetBatch(s"$root/rep",
      trainGramsDir = Some(s"$root/tg"), dfDir = Some(s"$root/df"))(
      docs(1L -> textX), 0L)
    val rep = spark.read.parquet(s"$root/rep").head
    assert(rep.getAs[Long]("n_grams_removed") == 0L)
  }

  test("re-ingest at the tombstone's exact gen revives the doc (tie " +
      "resolves in favor of new content)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-forget-tie").toString
    val idxDir = s"$root/dedup"; val verd = s"$root/verd"
    val run = StreamOps.dedupIngestBatch(idxDir, verd) _
    run(docs(1L -> textX), 0L) // doc 1 lands at gen 0
    StreamOps.forgetBatch(s"$root/rep",
      dedupIndexDir = Some(idxDir))(docs(1L -> textX), 0L)
    // tombstone sits at gen 1 = the doc's max gen + 1; the next
    // ingest batch (batchId 1) re-admits the SAME doc_id at gen 1 —
    // the one reachable tie — and the live view must show it
    run(docs(1L -> textY), 1L)
    val idx = spark.read.parquet(idxDir)
    val live = idx.join(idx.groupBy(col("doc_id"))
        .agg(max(col("gen")).as("gen")), Seq("doc_id", "gen"))
      .filter(col("n") >= 0)
    assert(live.select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L),
      "revival at the tie gen must win over the tombstone")
  }

  test("forgetBatch wires as a foreachBatch sink: erasure requests " +
      "stream in, each trigger cascades and commits") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft-forget-stream").toString
    val idxDir = s"$root/dedup"; val verd = s"$root/verd"
    val repDir = s"$root/rep"
    StreamOps.dedupIngestBatch(idxDir, verd)(
      docs(1L -> textX, 2L -> textY, 3L -> textZ), 0L)
    def liveDocs(): Set[Long] = {
      val idx = spark.read.parquet(idxDir)
      idx.join(idx.groupBy(col("doc_id"))
          .agg(max(col("gen")).as("gen")), Seq("doc_id", "gen"))
        .filter(col("n") >= 0)
        .select(col("doc_id")).distinct()
        .collect().map(_.getLong(0)).toSet
    }
    assert(liveDocs() == Set(1L, 2L, 3L))
    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamOps.forgetBatch(repDir, dedupIndexDir = Some(idxDir))(b, id))
      .start()
    try {
      input.addData((1L, textX))
      q.processAllAvailable()
      assert(liveDocs() == Set(2L, 3L))
      input.addData((3L, textZ))
      q.processAllAvailable()
      assert(liveDocs() == Set(2L))
      val reps = spark.read.parquet(repDir)
        .select(col("batch_id")).collect().map(_.getLong(0)).toSet
      assert(reps == Set(0L, 1L),
        "one committed report row per trigger")
    } finally q.stop()
  }

  test("erasure is file-pruned: part files without hits stay " +
      "byte-identical and file counts are stable") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-forget-prune").toString
    val ivf = s"$root/ivf"; val vecs = s"$root/vecs"
    val rep = s"$root/ivfrep"
    val cents = graft.ops.Vectors.trainedCentroids(spark, sfDir)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // two ingest batches → the stores span multiple part files
    StreamOps.ivfIngestBatch(ivf, rep, cents, vecsDir = Some(vecs))(
      emb.filter(col("vec_id") < 8), 0L)
    StreamOps.ivfIngestBatch(ivf, rep, cents, vecsDir = Some(vecs))(
      emb.filter(col("vec_id") >= 8 && col("vec_id") < 16), 1L)
    val n0 = spark.read.parquet(vecs).count()
    def md5s(dir: String): Map[String, String] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
          f.getName -> d.map("%02x".format(_)).mkString
        }.toMap
    def filesWith(dir: String, id: Long): Set[String] =
      spark.read.parquet(dir)
        .withColumn("_f", input_file_name())
        .filter(col("vec_id") === id)
        .select(col("_f")).distinct().collect()
        .map(r => r.getString(0).split('/').last).toSet
    val beforeIvf = md5s(ivf); val beforeVec = md5s(vecs)
    val hitIvf = filesWith(ivf, 3L); val hitVec = filesWith(vecs, 3L)
    assert(beforeIvf.size > 1 && beforeVec.size > 1,
      "fixture must span multiple files for pruning to be observable")
    assert(hitIvf.size < beforeIvf.size && hitVec.size < beforeVec.size,
      "the forgotten vec must live in a strict subset of files")
    StreamOps.forgetBatch(s"$root/frep", ivfIndexDir = Some(ivf),
      vecStoreDir = Some(vecs))(docs(3L -> textX), 0L)
    val afterIvf = md5s(ivf); val afterVec = md5s(vecs)
    // file counts exactly stable (hit files rewritten in place)
    assert(afterIvf.keySet == beforeIvf.keySet)
    assert(afterVec.keySet == beforeVec.keySet)
    // files without hits are BYTE-identical — the O(hit-files) claim
    (beforeIvf.keySet -- hitIvf).foreach { f =>
      assert(afterIvf(f) == beforeIvf(f),
        s"untouched index file $f must not be rewritten") }
    (beforeVec.keySet -- hitVec).foreach { f =>
      assert(afterVec(f) == beforeVec(f),
        s"untouched store file $f must not be rewritten") }
    // hit files DID change, and the rows are gone
    hitIvf.foreach(f => assert(afterIvf(f) != beforeIvf(f)))
    assert(spark.read.parquet(ivf)
      .filter(col("vec_id") === 3L).isEmpty)
    assert(spark.read.parquet(vecs).count() == n0 - 1)
  }

  test("a torn roster publish (live dir missing, _compact_tmp " +
      "stranded) heals before any roster read") {
    // pre-r14 crash window: the roster rewrite demoted the live dir
    // and crashed before promoting the replacement. Unhealed, the
    // roster reads as EMPTY — every future DF decrement silently
    // no-ops and the store leaks the forgotten doc's evidence
    // forever (r13 advisor finding).
    val root = java.nio.file.Files
      .createTempDirectory("graft-forget-torn").toString
    val tg = s"$root/grams"; val tgRep = s"$root/tgrep"
    val df = s"$root/df"; val dfRep = s"$root/dfrep"
    StreamOps.trainGramIngestBatch(tg, tgRep)(docs(3L -> textY), 0L)
    StreamOps.trainGramDfIngestBatch(df, dfRep)(docs(3L -> textY), 0L)
    val roster = new java.io.File(df + "_docs")
    assert(roster.renameTo(new java.io.File(df + "_docs_compact_tmp")),
      "fixture: simulate the torn publish")
    // forgetBatch must heal the roster BEFORE its eligibility read,
    // so doc 3's decrement fires and Y's exclusive grams zero out
    StreamOps.forgetBatch(s"$root/frep", trainGramsDir = Some(tg),
      dfDir = Some(df))(docs(3L -> textY), 0L)
    assert(spark.read.parquet(s"$root/frep").head
      .getAs[Long]("n_grams_removed") == 3L,
      "the healed roster must make the forgotten doc eligible")
    val totals = spark.read.parquet(df)
      .groupBy(col("g")).agg(sum(col("df")).as("df"))
    assert(totals.filter(col("df") =!= 0L).isEmpty,
      "every gram of the only train doc must zero out")
    assert(spark.read.parquet(tg).isEmpty)
    // the ingest side heals the same window: tear the roster again
    // and ingest a new batch — the pre-crash roster doc must survive
    // next to the new one
    assert(new java.io.File(df + "_docs").renameTo(
      new java.io.File(df + "_docs_compact_tmp")))
    StreamOps.trainGramDfIngestBatch(df, dfRep)(docs(4L -> textZ), 1L)
    val rosterDocs = spark.read.parquet(df + "_docs")
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(rosterDocs == Set(4L),
      s"roster after heal + ingest: $rosterDocs (doc 3 was removed " +
        "by its erasure; doc 4 newly ingested)")
  }

  test("frame-log exposure: the report counts retained transactions " +
      "that still carry a forgotten doc's bytes — and nothing below " +
      "the slot floors") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-forget-frames").toString
    val log = s"$root/framelog"
    def payload(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // shard 0: doc 41 at lsn 100 (will be below the floor), doc 42 at
    // lsn 200 (retained); shard 1: doc 42 again at lsn 50 (retained —
    // its shard is unacked)
    CdcReplaySource.writeLogShard(log, 0, Seq(
      100L -> Seq(payload("insert doc=41 alpha")),
      200L -> Seq(payload("insert doc=42 beta"))))
    CdcReplaySource.writeLogShard(log, 1, Seq(
      50L -> Seq(payload("update doc=42 gamma"))))
    CdcReplaySource.updateAcks(log)(_.ackShards(ShardOffsets(Long.MinValue,
      Map("part-0.jsonl" -> 100L))))
    // forget docs 41 and 42: 41's only frame is already droppable
    // (acked past), 42 persists in two retained transactions
    StreamOps.forgetBatch(s"$root/frep", frameLogDir = Some(log))(
      docs(41L -> textX, 42L -> textY), 0L)
    val rep = spark.read.parquet(s"$root/frep").head
    assert(rep.getAs[Long]("n_frames_retained") == 2L,
      s"doc 42 persists at lsn 200 (shard 0) and lsn 50 (shard 1): $rep")
    // enforcement catches up: every slot acks past everything, the
    // log truncates, and a repeat request measures zero exposure
    CdcReplaySource.updateAcks(log)(_.ackShards(ShardOffsets(Long.MinValue,
      Map("part-0.jsonl" -> 200L, "part-1.jsonl" -> 50L))))
    CdcReplaySource.truncateFrameLog(log)
    StreamOps.forgetBatch(s"$root/frep", frameLogDir = Some(log))(
      docs(41L -> textX, 42L -> textY), 1L)
    assert(spark.read.parquet(s"$root/frep")
      .filter(col("batch_id") === 1L).head
      .getAs[Long]("n_frames_retained") == 0L)
    // unmeasured ≠ measured zero: no log dir configured reports -1
    StreamOps.forgetBatch(s"$root/frep2")(docs(41L -> textX), 0L)
    assert(spark.read.parquet(s"$root/frep2").head
      .getAs[Long]("n_frames_retained") == -1L)
    // a configured-but-not-yet-created log dir measures ZERO and must
    // not crash the cascade after the store rewrites ran (review
    // finding: listLogFiles returns the bare path for a non-directory,
    // which used to bypass the empty guard and throw inside textFile)
    StreamOps.forgetBatch(s"$root/frep3",
      frameLogDir = Some(s"$root/never-created"))(docs(41L -> textX), 0L)
    assert(spark.read.parquet(s"$root/frep3").head
      .getAs[Long]("n_frames_retained") == 0L)
  }

  test("legal hold: when slot floors cannot advance, scrubFrameLog " +
      "zeroes the reported exposure without moving any position") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-forget-scrub").toString
    val log = s"$root/framelog"
    def payload(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    CdcReplaySource.writeLogShard(log, 0, Seq(
      100L -> Seq(payload("insert doc=41 alpha")),
      200L -> Seq(payload("insert doc=42 beta"))))
    CdcReplaySource.writeLogShard(log, 1, Seq(
      50L -> Seq(payload("update doc=42 gamma"))))
    // nothing acked: everything is retained, 42 is exposed twice
    StreamOps.forgetBatch(s"$root/frep", frameLogDir = Some(log))(
      docs(42L -> textY), 0L)
    assert(spark.read.parquet(s"$root/frep").head
      .getAs[Long]("n_frames_retained") == 2L)
    val lsnsBefore = CdcReplaySource.lsnIndex(log)

    // the hold: no slot will ack past the frames, so truncation can
    // never clear them — scrub content instead, positions intact
    val counts = CdcReplaySource.scrubFrameLog(log,
      Seq("doc=42".getBytes("UTF-8")))
    assert(counts.values.sum == 2L)
    assert(CdcReplaySource.lsnIndex(log) == lsnsBefore)

    // a repeat request now measures zero exposure; the unrelated
    // doc's frame survived the scrub
    StreamOps.forgetBatch(s"$root/frep", frameLogDir = Some(log))(
      docs(42L -> textY), 1L)
    assert(spark.read.parquet(s"$root/frep")
      .filter(col("batch_id") === 1L).head
      .getAs[Long]("n_frames_retained") == 0L)
    val survivors = CdcReplaySource.listLogFiles(log)
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().toList finally src.close()
      }
      .flatMap(CdcReplaySource.parseFrames(_))
      .map(b => new String(b, "ISO-8859-1"))
    assert(survivors.exists(_.contains("doc=41 alpha")))
    assert(!survivors.exists(_.contains("doc=42")))
  }

  test("df-sidecar compaction reclaims erased mass but preserves both " +
      "writers' replay guards (gen sentinels)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-forget-dfcompact").toString
    val tg = s"$root/grams"; val tgRep = s"$root/tgrep"
    val df = s"$root/df"; val dfRep = s"$root/dfrep"
    val frep = s"$root/frep"
    StreamOps.trainGramIngestBatch(tg, tgRep)(
      docs(3L -> textY, 4L -> textZ), 0L)
    StreamOps.trainGramDfIngestBatch(df, dfRep)(
      docs(3L -> textY, 4L -> textZ), 0L)
    StreamOps.forgetBatch(frep, trainGramsDir = Some(tg),
      dfDir = Some(df))(docs(3L -> textY), 0L)
    def totals(): Map[Long, Long] = spark.read.parquet(df)
      .groupBy(col("g")).agg(sum(col("df")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val t0 = totals()
    assert(t0.values.count(_ == 0L) == 3L &&
      t0.values.count(_ == 1L) == 3L)
    // 3 of 6 gram types zeroed = 0.5 stale > 0.3 → compaction fires;
    // returns types actually reclaimed (one stays as the gen sentinel)
    val reclaimed = StreamOps.compactDfSidecar(spark, df,
      trainGramsDir = Some(tg))
    assert(reclaimed == 2L, s"reclaimed: $reclaimed")
    val t1 = totals()
    assert(t1.values.count(_ == 1L) == 3L,
      "surviving grams' totals must ride the compaction unchanged")
    // exactly ONE zero-total sentinel survives: the forget gen (-1)
    // lost all its mass and must stay visible to the replay guard
    assert(t1.values.count(_ == 0L) == 1L, s"totals after: $t1")
    val gens = spark.read.parquet(df).select(col("gen")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(gens == Set(0L, -1L),
      s"both writers' gens must remain visible: $gens")
    // forget replay with a lost marker: the -1 sentinel blocks a
    // double decrement
    def delTree(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(delTree))
      f.delete(); ()
    }
    delTree(new java.io.File(frep))
    StreamOps.forgetBatch(frep, trainGramsDir = Some(tg),
      dfDir = Some(df))(docs(3L -> textY), 0L)
    assert(totals().values.forall(_ >= 0L),
      "compaction must not re-open the forget replay window")
    // ingest replay with a lost marker: gen 0 (kept via the surviving
    // doc's rows) blocks a double count
    delTree(new java.io.File(dfRep))
    StreamOps.trainGramDfIngestBatch(df, dfRep)(
      docs(3L -> textY, 4L -> textZ), 0L)
    val t2 = totals()
    assert(t2.values.count(_ == 1L) == 3L && t2.values.forall(_ <= 1L),
      s"compaction must not re-open the ingest replay window: $t2")
  }

  test("compaction must not destroy an in-flight forget's zeroed-set " +
      "evidence: grams still in the train index are pending, not " +
      "reclaimable") {
    // the advisor's confirmed repro: a forget crashes AFTER its DF
    // decrement append but BEFORE the gram-index rewrite; a
    // compaction racing in would drop the zero-total rows the replay
    // re-derives its zeroed set from, leaving the forgotten-exclusive
    // grams in the index forever (erasure incompleteness)
    val root = java.nio.file.Files
      .createTempDirectory("graft-forget-pending").toString
    val tg = s"$root/grams"; val tgRep = s"$root/tgrep"
    val df = s"$root/df"; val dfRep = s"$root/dfrep"
    val frep = s"$root/frep"; val pverd = s"$root/pverd"
    StreamOps.trainGramIngestBatch(tg, tgRep)(
      docs(3L -> textY, 4L -> textZ), 0L)
    StreamOps.trainGramDfIngestBatch(df, dfRep)(
      docs(3L -> textY, 4L -> textZ), 0L)
    // simulate the crash window: the decrement rows landed (negGen
    // -1, exactly forgetBatch's write), the gram-index rewrite and
    // the report did NOT
    graft.ops.Text.gram8Of(docs(3L -> textY))
      .groupBy(col("g")).agg((-count(lit(1))).as("df"))
      .join(spark.read.parquet(df).select(col("g")).distinct(), "g")
      .withColumn("gen", lit(-1L))
      .write.mode("append").parquet(df)
    // a compaction racing in must treat the zeroed-but-still-indexed
    // grams as PENDING and reclaim nothing
    assert(StreamOps.compactDfSidecar(spark, df,
      trainGramsDir = Some(tg)) == 0L)
    def zeroRows(): Long = spark.read.parquet(df)
      .groupBy(col("g")).agg(sum(col("df")).as("t"))
      .filter(col("t") === 0L).count()
    assert(zeroRows() == 3L,
      "the pending zeroed set must survive the compaction attempt")
    // the forget replays (same batchId namespace: batchId 0 → gen -1)
    // and completes: genDone skips the re-decrement, the zeroed set
    // re-derives from the surviving rows, the gram index rewrites
    StreamOps.forgetBatch(frep, trainGramsDir = Some(tg),
      dfDir = Some(df))(docs(3L -> textY), 0L)
    assert(spark.read.parquet(tg)
      .join(graft.ops.Text.gram8Of(docs(100L -> textY))
        .select(col("g")).distinct(), Seq("g"), "left_semi").isEmpty,
      "the completed forget must erase every exclusive gram")
    StreamOps.contaminationProbeBatch(tg, pverd)(
      docs(100L -> textY, 101L -> textZ), 0L)
    val con = spark.read.parquet(pverd)
      .select(col("doc_id"), col("is_contaminated"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!con(100L) && con(101L),
      s"erasure must be complete after the replay: $con")
    // now the mass is genuinely dead: compaction reclaims it
    assert(StreamOps.compactDfSidecar(spark, df,
      trainGramsDir = Some(tg)) == 2L)
    assert(zeroRows() == 1L, "only the gen sentinel remains")
  }

  test("trainGramsDir without dfDir is rejected") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-forget-req").toString
    intercept[IllegalArgumentException] {
      StreamOps.forgetBatch(s"$root/rep",
        trainGramsDir = Some(s"$root/tg"))(docs(1L -> textX), 0L)
    }
    ()
  }
}
