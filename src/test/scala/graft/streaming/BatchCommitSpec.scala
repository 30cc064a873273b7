package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The batch-commit protocol of the 14 foreachBatch store operators,
  * checked per operator on one table of cases:
  *  - chaos: a crash that landed only some of a batch's appended part
  *    files, and no commit, replays to the stores a clean run leaves;
  *  - a replay of a committed batch runs no Spark job;
  *  - a store an older binary wrote (marker rows, no marker files)
  *    keeps its committed batches committed, before and after the
  *    first commit under the marker-file layout. */
class BatchCommitSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-batch-commit")
      // several part files per append, so a crash can land a subset
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.cdc.GraftFunctions.register(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // ---- fixtures -----------------------------------------------------

  /** Twelve tokens no other k shares: every doc has shingles and
    * 8-grams, and two docs are near-duplicates only by reusing a k. */
  private def txt(k: Long): String =
    (0 until 12).map(i => s"t${k}w$i").mkString(" ")

  /** `(doc_id, text)`; `k` picks each doc's text. */
  private def docs(ids: Seq[Long], k: Long => Long = identity): DataFrame = {
    val s = spark; import s.implicits._
    ids.map(id => (id, txt(k(id)))).toDF("doc_id", "text")
  }

  /** `(doc_id, text, label)`, labelled by doc_id parity (odd: none). */
  private def labelled(ids: Seq[Long], k: Long => Long = identity)
      : DataFrame =
    docs(ids, k).withColumn("label",
      when(col("doc_id") % 2 === 0, col("doc_id") % 3).cast("long"))

  private def vecs(ids: Seq[Long]): DataFrame = {
    val s = spark; import s.implicits._
    ids.map(i => (i, Seq(0.5 * i, 3.0 - 0.25 * i))).toDF("vec_id", "embedding")
  }

  private val cents = Seq(0L -> Seq(1000L, 2000L), 1L -> Seq(3000L, 500L))

  /** One operator: `op(root)` runs it over stores under `root`, which
    * `setup` first fills with what it only reads; `stores` are the dirs
    * it writes, `batches` its input for batch ids 0, 1, ... */
  private case class Case(name: String, stores: Seq[String],
      setup: String => Unit, batches: () => Seq[DataFrame],
      op: String => (DataFrame, Long) => Unit)

  private val noSetup: String => Unit = _ => ()

  private val cases: Seq[Case] = Seq(
    Case("dedupIngestBatch", Seq("index", "verdicts"), noSetup,
      // batch 1: two duplicates of batch 0's docs and four novel docs
      () => Seq(docs(1L to 6L), docs(7L to 12L, k => if (k < 9) k - 6 else k)),
      r => StreamOps.dedupIngestBatch(s"$r/index", s"$r/verdicts") _),
    Case("driftProbeBatch", Seq("report"), r => {
      val s = spark; import s.implicits._
      (for (t <- 1 to 6; b <- 0 until 10)
        yield (s"e$t", b.toLong, 10L, 0L, 999L))
        .toDF("event_type", "bin", "c_ref", "v0", "v1").write.parquet(s"$r/ref")
    }, () => {
      val s = spark; import s.implicits._
      Seq(0, 1).map(b => (for (t <- 1 to 6; v <- 0 until 1000 by (37 + b)) yield
        (s"e$t", (v * t).toLong)).toDF("event_type", "value_c"))
    }, r => StreamOps.driftProbeBatch(s"$r/ref", s"$r/report") _),
    Case("ksProbeBatch", Seq("report"), r => {
      val s = spark; import s.implicits._
      (10 to 19).map(l => (l.toLong, 10L)).toDF("len", "c_ref")
        .write.parquet(s"$r/ref")
    }, () => {
      val s = spark; import s.implicits._
      Seq(0, 1).map(b => (for (src <- 1 to 6; l <- 8 to 22 by (1 + b + src % 3))
        yield (s"s$src", l.toLong)).toDF("source", "len"))
    }, r => StreamOps.ksProbeBatch(s"$r/ref", s"$r/report") _),
    Case("ivfIngestBatch", Seq("index", "vecs", "report"), noSetup,
      () => Seq(vecs(1L to 8L), vecs(5L to 14L)),
      r => StreamOps.ivfIngestBatch(s"$r/index", s"$r/report", cents,
        vecsDir = Some(s"$r/vecs")) _),
    Case("trainGramIngestBatch", Seq("grams", "report"), noSetup,
      () => Seq(docs(1L to 4L), docs(5L to 9L, k => if (k == 5) 1 else k)),
      r => StreamOps.trainGramIngestBatch(s"$r/grams", s"$r/report") _),
    Case("contaminationProbeBatch", Seq("verdicts"),
      r => StreamOps.trainGramIngestBatch(s"$r/grams", s"$r/grep")(
        docs(1L to 4L), 0L),
      () => Seq(docs(10L to 14L, _ - 9), docs(15L to 20L, _ - 12)),
      r => StreamOps.contaminationProbeBatch(s"$r/grams", s"$r/verdicts") _),
    Case("lshCalibrationProbeBatch", Seq("report"), noSetup,
      () => Seq(docs(1L to 6L), docs(7L to 12L)),
      r => StreamOps.lshCalibrationProbeBatch(s"$r/report") _),
    Case("bpeFertilityProbeBatch", Seq("report"), noSetup,
      () => Seq(docs(1L to 6L), docs(7L to 12L)),
      r => StreamOps.bpeFertilityProbeBatch(s"$r/report",
        Seq("t 1", "w 1")) _),
    Case("trainGramDfIngestBatch", Seq("df", "df_docs", "report"), noSetup,
      () => Seq(docs(1L to 4L), docs(5L to 9L, k => if (k == 5) 1 else k)),
      r => StreamOps.trainGramDfIngestBatch(s"$r/df", s"$r/report") _),
    Case("contaminationProbeRefinedBatch", Seq("verdicts"),
      r => StreamOps.trainGramDfIngestBatch(s"$r/df", s"$r/dfrep")(
        docs(1L to 4L), 0L),
      () => Seq(docs(10L to 14L, _ - 9), docs(15L to 20L, _ - 12)),
      r => StreamOps.contaminationProbeRefinedBatch(s"$r/df",
        s"$r/verdicts") _),
    Case("forgetBatch", Seq("index", "ivf", "vecs", "grams", "df",
        "df_docs", "labels", "cal", "report"), r => {
      val all = 1L to 8L
      StreamOps.dedupIngestBatch(s"$r/index", s"$r/dverd")(docs(all), 0L)
      StreamOps.ivfIngestBatch(s"$r/ivf", s"$r/ivfrep", cents,
        vecsDir = Some(s"$r/vecs"))(vecs(all), 0L)
      StreamOps.trainGramIngestBatch(s"$r/grams", s"$r/grep")(docs(all), 0L)
      StreamOps.trainGramDfIngestBatch(s"$r/df", s"$r/dfrep")(docs(all), 0L)
      StreamOps.labelOnIngestBatch(s"$r/index", s"$r/labels")(
        labelled(all), 0L)
      StreamOps.qualityGateIngestBatch(s"$r/cal", s"$r/qverd",
        calFraction = 1L)(docs(all), 0L)
    }, () => Seq(docs(Seq(1L, 2L)), docs(3L to 6L)),
      r => StreamOps.forgetBatch(s"$r/report",
        dedupIndexDir = Some(s"$r/index"), ivfIndexDir = Some(s"$r/ivf"),
        vecStoreDir = Some(s"$r/vecs"), trainGramsDir = Some(s"$r/grams"),
        dfDir = Some(s"$r/df"), labelsDir = Some(s"$r/labels"),
        calDir = Some(s"$r/cal")) _),
    Case("qualityGateIngestBatch", Seq("cal", "verdicts"), noSetup,
      () => Seq(docs(1L to 20L), docs(21L to 40L)),
      r => StreamOps.qualityGateIngestBatch(s"$r/cal", s"$r/verdicts") _),
    Case("labelOnIngestBatch", Seq("labels"),
      r => StreamOps.dedupIngestBatch(s"$r/index", s"$r/dverd")(
        docs(1L to 6L), 0L),
      () => Seq(labelled(1L to 6L), labelled(7L to 12L,
        k => if (k < 10) k - 6 else k)),
      r => StreamOps.labelOnIngestBatch(s"$r/index", s"$r/labels") _),
    Case("packingIngestBatch", Seq("manifest", "totals"), noSetup, () => {
      val s = spark; import s.implicits._
      Seq(1 to 6, 7 to 12).map(_.map(i =>
        (i.toLong, s"src${i % 3}", (100 * i + 7).toLong))
        .toDF("doc_id", "source", "n_toks"))
    }, r => StreamOps.packingIngestBatch(s"$r/manifest", s"$r/totals") _))

  // ---- store files --------------------------------------------------

  /** The part files a Spark read of `dir` lists. */
  private def parts(dir: String): Seq[String] =
    Option(new File(dir).list()).toSeq.flatten.filter(n =>
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
      .sorted

  /** A store's rows, canonically ordered (a missing store has none). */
  private def rows(dir: String): Seq[String] =
    if (parts(dir).isEmpty) Nil
    else spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
  }

  private def delTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delTree))
    f.delete(); ()
  }

  /** A case's stores under a fresh root after setup and its batches. */
  private def committed(c: Case, tag: String): (String, Long) = {
    val root = Files.createTempDirectory(s"graft-$tag-${c.name}").toString
    c.setup(root)
    c.batches().zipWithIndex.foreach { case (b, i) => c.op(root)(b, i.toLong) }
    (root, c.batches().size - 1L)
  }

  // ---- chaos: a partial append replays to the clean stores -----------

  /** Commits batches 0..N-1 and runs batch N clean, recording its
    * stores; then rewinds the stores to N-1 and puts back every other
    * part file (by name) that batch N appended to each store, with no
    * commit: a crash among the batch's appends. Replays batch N and
    * returns the stores that differ from the clean run. */
  private def chaos(c: Case): Seq[String] = {
    val root = Files.createTempDirectory(s"graft-chaos-${c.name}").toString
    val batches = c.batches()
    val n = batches.size - 1
    c.setup(root)
    batches.init.zipWithIndex.foreach { case (b, i) => c.op(root)(b, i.toLong) }
    val saved = root + "-saved"
    copyTree(root, saved)
    c.op(root)(batches.last, n.toLong)
    val clean = c.stores.map(s => rows(s"$root/$s"))
    val landed = root + "-landed"
    val nAppended = c.stores.map { s =>
      val before = parts(s"$saved/$s").toSet
      val appended = parts(s"$root/$s").filterNot(before)
      Files.createDirectories(Paths.get(landed, s))
      appended.zipWithIndex.collect { case (f, i) if i % 2 == 0 =>
        Files.copy(Paths.get(root, s, f), Paths.get(landed, s, f))
      }
      appended.size
    }
    // a store forgetBatch only rewrites in place appends nothing
    assert(nAppended.sum > nAppended.size / 2, s"appended parts: $nAppended")
    delTree(new File(root))
    copyTree(saved, root)
    c.stores.foreach { s =>
      Files.createDirectories(Paths.get(root, s))
      parts(s"$landed/$s").foreach(f =>
        Files.copy(Paths.get(landed, s, f), Paths.get(root, s, f)))
    }
    c.op(root)(batches.last, n.toLong)
    c.stores.zip(clean).collect {
      case (s, want) if rows(s"$root/$s") != want => s
    }
  }

  cases.foreach { c =>
    test(s"chaos: ${c.name} replays a partial append to the clean stores") {
      val differ = chaos(c)
      assert(differ.isEmpty, s"stores that differ from a clean run: $differ")
    }
  }

  // ---- a committed replay runs no Spark job --------------------------

  /** The Spark jobs `f` starts. A marked job on each side fences the
    * count: the listener bus delivers job starts in order, but late. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")); ()
      }
    }
    def fence(id: String): Unit = {
      sc.setJobGroup(id, id)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      ()
    }
    sc.addSparkListener(listener)
    try {
      fence("fence-before")
      f
      fence("fence-after")
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (!seen.contains("fence-after") && System.nanoTime < deadline)
        Thread.sleep(10)
      val order = seen.asScala.toSeq
      val (a, b) = (order.indexOf("fence-before"), order.indexOf("fence-after"))
      assert(a >= 0 && b > a, s"fence jobs not seen in order: $order")
      b - a - 1
    } finally sc.removeSparkListener(listener)
  }

  cases.foreach { c =>
    test(s"a committed replay of ${c.name} runs no Spark job") {
      val (root, n) = committed(c, "replay")
      val stores = c.stores.map(s => rows(s"$root/$s"))
      val last = c.batches().last
      assert(jobsOf(c.op(root)(last, n)) == 0)
      assert(c.stores.map(s => rows(s"$root/$s")) == stores)
    }
  }

  // ---- the layout older binaries wrote --------------------------------

  test("a store written before marker files keeps its committed " +
      "batches committed, before and after the first new commit") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-legacy").toString
    val (manifest, totals, labels) =
      (s"$root/manifest", s"$root/totals", s"$root/labels")
    // what an older binary left after batch 0: plain appends whose rows
    // carry batch_id, and no _batch-* file
    Seq((0L, "A", 1L, 300L, 0L, 0L, 0L))
      .toDF("batch_id", "source", "doc_id", "n", "start_off",
        "first_chunk", "last_chunk").write.parquet(manifest)
    Seq((0L, "A", 300L)).toDF("batch_id", "source", "toks")
      .write.parquet(totals)
    labelled(Seq(1L, 2L)).select(lit(0L).as("batch_id"), col("doc_id"),
        col("label"), lit("trusted").as("src"),
        lit(null).cast("long").as("match_doc"), lit(0L).as("shared"))
      .write.parquet(labels)
    assert(Option(new File(totals).list()).toSeq.flatten
      .forall(!_.startsWith("_batch-")))
    val pack = StreamOps.packingIngestBatch(manifest, totals) _
    val label = StreamOps.labelOnIngestBatch(s"$root/index", labels) _
    val b0 = Seq((1L, "A", 300L)).toDF("doc_id", "source", "n_toks")
    val l0 = labelled(Seq(1L, 2L), _ + 10)
    def state() = Seq(manifest, totals, labels).map(rows)

    val legacy = state()
    pack(b0, 0L); label(l0, 0L)
    assert(state() == legacy, "a legacy-committed batch must not re-run")

    // the first commit under marker files continues the legacy state
    pack(Seq((2L, "A", 100L)).toDF("doc_id", "source", "n_toks"), 1L)
    label(labelled(Seq(3L, 4L)), 1L)
    assert(spark.read.parquet(manifest).filter(col("doc_id") === 2L)
      .head().getAs[Long]("start_off") == 300L)
    val after = state()
    pack(b0, 0L); label(l0, 0L)
    pack(Seq((2L, "A", 100L)).toDF("doc_id", "source", "n_toks"), 1L)
    label(labelled(Seq(3L, 4L)), 1L)
    assert(state() == after, "replays of both layouts must be no-ops")
    // and the new marker-store rows still carry batch_id for readers
    // that commit by rows
    assert(spark.read.parquet(totals).select("batch_id").as[Long]
      .collect().toSet == Set(0L, 1L))
    assert(spark.read.parquet(labels).select("batch_id").as[Long]
      .collect().toSet == Set(0L, 1L))
  }
}
