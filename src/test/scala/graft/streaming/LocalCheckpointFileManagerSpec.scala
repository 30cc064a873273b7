package graft.streaming

import java.io.{File, FileNotFoundException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.{Callable, ConcurrentHashMap, CyclicBarrier,
  Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc._
import graft.streaming.StreamOps.{KeyedChange, SnapshotRow}

/** The checkpoint file manager [[ReplicationSession]] installs: Spark's
  * `CheckpointFileManager` contract on local disk (counted, never
  * timed), checkpoints that move between it and Spark's default manager
  * in both directions, and a stream through it that forks no Hadoop
  * shell process. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private val rel = RelationInfo(803, "public", "items", "default",
    Seq(ColumnInfo("id", 1, 20, -1, null, null),
      ColumnInfo("name", 0, 25, -1, null, null)))

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-checkpoint-manager-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // ---- the contract, file by file -----------------------------------

  private def tmp(prefix: String): NioPath = Files.createTempDirectory(prefix)

  private def manager(dir: NioPath): CheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def names(dir: NioPath): Set[String] = dir.toFile.list().toSet

  /** A file written by Hadoop's checksummed local file system, the one
    * Spark's default manager writes through: it leaves a `.<name>.crc`. */
  private def checksummed(dir: NioPath, name: String, text: String): Path = {
    val p = new Path(dir.toUri.toString, name)
    val out = FileSystem.getLocal(new Configuration()).create(p)
    out.write(text.getBytes(UTF_8))
    out.close()
    assert(names(dir) == Set(name, s".$name.crc"))
    p
  }

  test("a no-overwrite write to an existing file throws Hadoop's " +
      "FileAlreadyExistsException and keeps the original bytes") {
    val dir = tmp("lcfm-exists")
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString, "0")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(fm, p, "second", overwrite = false)
    }
    assert(Files.readString(dir.resolve("0")) == "first")
    assert(names(dir) == Set("0"))
  }

  test("of two concurrent no-overwrite writers exactly one wins") {
    val dir = tmp("lcfm-race")
    // two managers: two queries racing on one checkpoint
    val fms = Seq(manager(dir), manager(dir))
    val pool = Executors.newFixedThreadPool(2)
    try (0 until 20).foreach { round =>
      val p = new Path(dir.toUri.toString, round.toString)
      val bothWritten = new CyclicBarrier(2)
      val wins = fms.indices.map { w =>
        pool.submit(new Callable[Option[Int]] {
          def call(): Option[Int] = {
            val out = fms(w).createAtomic(p, false)
            out.write(s"writer $w".getBytes(UTF_8))
            bothWritten.await()
            try { out.close(); Some(w) }
            catch { case _: FileAlreadyExistsException => None }
          }
        })
      }.flatMap(_.get(30, TimeUnit.SECONDS))
      assert(wins.size == 1, s"round $round: winners $wins")
      assert(Files.readString(dir.resolve(round.toString)) == s"writer ${wins.head}")
    } finally pool.shutdown()
    assert(names(dir) == (0 until 20).map(_.toString).toSet, "scratch left behind")
  }

  test("cancel leaves neither the file nor its scratch") {
    val dir = tmp("lcfm-cancel")
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir.toUri.toString, "0"), true)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).size == 1 && names(dir).head.endsWith(".tmp"))
    out.cancel()
    out.close() // after cancel: publishes nothing
    assert(names(dir).isEmpty)
  }

  test("an overwrite replaces the bytes and drops a stale .crc") {
    val dir = tmp("lcfm-overwrite")
    val p = checksummed(dir, "1.delta", "old bytes")
    write(manager(dir), p, "new bytes", overwrite = true)
    assert(names(dir) == Set("1.delta"))
    // the checksummed reader would reject the new bytes against a stale crc
    val in = FileSystem.getLocal(new Configuration()).open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "new bytes")
    finally in.close()
  }

  test("delete removes the file and its .crc") {
    val dir = tmp("lcfm-delete")
    val fm = manager(dir)
    val p = checksummed(dir, "2.delta", "bytes")
    fm.delete(p)
    assert(names(dir).isEmpty)
    fm.delete(p) // a missing file is no error
  }

  test("list never returns a scratch file or a .crc sidecar") {
    val dir = tmp("lcfm-list")
    val fm = manager(dir)
    checksummed(dir, "0", "zero")
    val open = fm.createAtomic(new Path(dir.toUri.toString, "1"), false)
    def listed(): Seq[String] =
      fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSeq.sorted
    assert(names(dir).size == 3)
    assert(listed() == Seq("0"))
    open.close()
    assert(listed() == Seq("0", "1"))
    assert(fm.list(new Path(dir.toUri), _.getName != "0")
      .map(_.getPath.getName).toSeq == Seq("1"))
    assert(fm.list(new Path(dir.toUri)).forall(_.getPath.toUri.getScheme == "file"))
    intercept[FileNotFoundException](fm.list(new Path(dir.toUri.toString, "missing")))
  }

  // ---- checkpoints across managers ----------------------------------

  /** Transaction `i` of the fixture: one change to key `i % 10`. */
  private def change(i: Int): (String, String, String) = {
    val key = (i % 10).toString
    if (i <= 10) (key, "insert", s"name$i")
    else if (i % 7 == 0) (key, "delete", null)
    else (key, "update", s"name$i")
  }

  private def tx(i: Int): (Long, Seq[Array[Byte]]) = {
    val lsn = i * 10L
    val (key, op, name) = change(i)
    val dml = op match {
      case "insert" => PgoutputWriter.insert(803, Seq(key, name))
      case "delete" => PgoutputWriter.delete(803, 'K', Seq(key, null))
      case _ => PgoutputWriter.update(803, 'N', Nil, Seq(key, name))
    }
    (lsn, Seq(PgoutputWriter.begin(lsn, 1700000000000000L + i, i.toLong),
      PgoutputWriter.relation(rel), dml,
      PgoutputWriter.commit(lsn, lsn + 1, 1700000000000000L + i)))
  }

  /** Logical replay of transactions 1..n: key -> (lsn, name), deletes drop. */
  private def expected(n: Int): Map[String, (Long, String)] =
    (1 to n).map(i => change(i) -> i * 10L)
      .groupBy(_._1._1).map { case (key, cs) => key -> cs.maxBy(_._2) }
      .collect { case (key, ((_, op, name), lsn)) if op != "delete" => key -> (lsn, name) }

  /** `statefulSnapshot` over `raw` to completion, merging every emitted
    * row into `sink` by LSN; the query is returned for its progress. */
  private def runSnapshot(raw: DataFrame, ckpt: String,
      sink: ConcurrentHashMap[String, SnapshotRow]): StreamingQuery = {
    val sp = raw.sparkSession; import sp.implicits._
    val changes = StreamOps.decodedChanges(raw)
      .select(col("table"), col("tuple")("id").as("key"), col("lsn"),
        col("op"), col("tuple"))
      .as[KeyedChange]
    val q = StreamOps.statefulSnapshot(changes).writeStream
      .outputMode("update")
      .foreachBatch { (ds: Dataset[SnapshotRow], _: Long) =>
        ds.collect().foreach(r => sink.merge(r.key, r,
          (a, b) => if (b.lsn > a.lsn) b else a))
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "query did not finish")
    assert(q.exception.isEmpty, q.exception.toString)
    q
  }

  private def batches(q: StreamingQuery): Int =
    q.recentProgress.count(_.numInputRows > 0)

  private def snapshot(sink: ConcurrentHashMap[String, SnapshotRow]) =
    sink.asScala.collect { case (k, r) if r.op != "delete" =>
      k -> (r.lsn, r.tuple("name"))
    }.toMap

  /** Appends transactions `txs` to the log's one shard. */
  private def append(log: String, txs: Range): Unit = {
    val w = new java.io.PrintWriter(new java.io.FileWriter(
      new File(log, "part-0.jsonl"), true))
    try txs.map(tx).foreach { case (lsn, frames) =>
      w.println(CdcReplaySource.formatLine(lsn, frames))
    } finally w.close()
  }

  /** Two batches of 10 transactions through one manager, 20 more appended
    * to the log, then a resume through the other manager. */
  private def resumeAcross(defaultFirst: Boolean): Unit = {
    val log = tmp("lcfm-log").toString
    CdcReplaySource.writeLogShard(log, 0, (1 to 20).map(tx))
    val ckpt = tmp("lcfm-ckpt").toString
    val byDefault = spark.newSession()
    byDefault.conf.set(managerKey,
      classOf[FileContextBasedCheckpointFileManager].getName)
    val replicated = spark.newSession()
    val session = new ReplicationSession(replicated, log)
    assert(replicated.conf.get(managerKey) ==
      classOf[LocalCheckpointFileManager].getName)
    def viaDefault(): DataFrame = byDefault.readStream
      .format(CdcReplaySource.FORMAT).option("path", log)
      .option("maxFramesPerTrigger", "10").load()
    def viaSession(): DataFrame = session.subscribe(new PgoutputFormat(),
      "compat", uptoLsn = Some("0/00000000"), maxFramesPerTrigger = Some(10L))

    val sink = new ConcurrentHashMap[String, SnapshotRow]()
    val first = runSnapshot(if (defaultFirst) viaDefault() else viaSession(), ckpt, sink)
    assert(batches(first) == 2)
    assert(snapshot(sink) == expected(20))

    append(log, 21 to 40)
    val second = runSnapshot(if (defaultFirst) viaSession() else viaDefault(), ckpt, sink)
    // resumed at the first run's offsets, with its ten keys in state
    assert(second.recentProgress.map(_.numInputRows).sum == 20)
    assert(second.lastProgress.stateOperators.head.numRowsTotal == 10)
    assert(snapshot(sink) == expected(40))
    // which manager wrote which offset file: the default one leaves a .crc
    val crcs = new File(ckpt, "offsets").list().filter(_.endsWith(".crc")).toSet
    assert(crcs == (if (defaultFirst) Set(".0.crc", ".1.crc")
      else Set(".2.crc", ".3.crc")), crcs)
    session.stop()
  }

  test("a checkpoint written by Spark's default manager resumes through " +
      "a ReplicationSession") {
    resumeAcross(defaultFirst = true)
  }

  test("a ReplicationSession checkpoint resumes through Spark's default " +
      "manager") {
    resumeAcross(defaultFirst = false)
  }

  test("ReplicationSession keeps a manager class that is already set") {
    val s = spark.newSession()
    s.conf.set(managerKey, classOf[FileContextBasedCheckpointFileManager].getName)
    new ReplicationSession(s, tmp("lcfm-keep").toString).stop()
    assert(s.conf.get(managerKey) ==
      classOf[FileContextBasedCheckpointFileManager].getName)
  }

  // ---- no forks ------------------------------------------------------

  private def onStack(e: RecordedEvent, prefix: String): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala
      .exists(_.getMethod.getType.getName.startsWith(prefix)))

  test("a ReplicationSession snapshot stream starts no Hadoop shell process") {
    val log = tmp("lcfm-fork-log").toString
    CdcReplaySource.writeLogShard(log, 0, (1 to 20).map(tx))
    val ckpt = tmp("lcfm-fork-ckpt").toString
    val session = new ReplicationSession(spark.newSession(), log)
    val sink = new ConcurrentHashMap[String, SnapshotRow]()
    def run(): StreamingQuery = runSnapshot(session.subscribe(
      new PgoutputFormat(), "nofork", uptoLsn = Some("0/00000000"),
      maxFramesPerTrigger = Some(10L)), ckpt, sink)
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    val runs = try {
      // the control: a process this spec starts must be recorded
      new ProcessBuilder("true").start().waitFor()
      // two batches, then a restart that reads the checkpoint back and
      // runs a third
      val first = run()
      append(log, 21 to 30)
      Seq(first, run())
    } finally recording.stop()
    val jfr = Files.createTempFile("lcfm-forks", ".jfr")
    recording.dump(jfr)
    recording.close()
    val starts = RecordingFile.readAllEvents(jfr).asScala.toSeq
    Files.delete(jfr)
    session.stop()
    assert(runs.map(batches) == Seq(2, 1))
    assert(snapshot(sink) == expected(30))
    val shell = starts.filter(onStack(_, "org.apache.hadoop.util.Shell"))
    assert(starts.count(_.getString("command") == "true") == 1,
      "the control process was not recorded")
    assert(shell.isEmpty, s"${shell.size} Hadoop shell processes: " +
      shell.map(_.getString("command")).distinct.mkString(", "))
  }
}
