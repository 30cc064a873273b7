package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.LayerProbe
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.cdc._
import graft.streaming.{CdcReplaySource, ReplicationSession, StreamOps}
import graft.streaming.StreamOps.{KeyedChange, SnapshotRow}

/** One benchmark run of one workload, driven by `perfbench/run.py`.
  * Everything is timed from outside, around calls into the public
  * functions of `graft.cdc`, `graft.streaming` and `graft.ops`. Prints
  * one JSON object (end-to-end metrics, per-layer metrics when traced,
  * the run environment and the correctness verdict) as its last line.
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir> <smoke 0|1>
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, smoke: Boolean)

  val SetupCycles = 3
  /** Latency limit on the live p99 for a rung to count as sustained. */
  val LiveP99LimitMs = 2000.0
  /** Largest rise of median latency per second of a rung still read as
    * a flat backlog (a quarter second of latency per second: the backlog
    * grows at a quarter of the arrival rate). */
  val LiveSlopeLimit = 250.0

  // ---- small helpers ------------------------------------------------

  def wallUs: Long = {
    val i = java.time.Instant.now(); i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  def rssPeakMb: Double = scala.io.Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def session(cpus: Int): SparkSession = {
    // the session `graft.Bench` builds, conf for conf
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.codegen.aggregate.map.twolevel.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final class Run(val a: Args, val spark: SparkSession) {
    val spans = new Spans(a.trace)
    val probe: Option[LayerProbe] =
      if (!a.trace) None
      else {
        val p = new LayerProbe
        spark.sparkContext.addSparkListener(p)
        spark.listenerManager.register(p.queryListener)
        spark.streams.addListener(p.streamListener)
        Some(p)
      }
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val env = mutable.LinkedHashMap.empty[String, Any]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var measureNs = 0L
    val procs = mutable.ArrayBuffer.empty[Process]
    def flush(): Unit = probe.foreach(_.flush(spark.sparkContext))
    /** Close the measured window; record the heap the workload retains
      * (used heap after a full collection, with its state still live). */
    def endMeasure(t0: Long): Unit = {
      measureNs = System.nanoTime() - t0
      System.gc(); System.gc()
      e2e("heap_retained_mb") = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
    }
    def dir(name: String): String = {
      val f = new File(a.work, name); f.mkdirs(); f.getPath
    }
  }

  // ---- CDC plumbing shared by both CDC workloads --------------------

  def startGenerator(r: Run, args: Seq[String]): (Process, String, String) = {
    val port = new File(r.a.work, s"gen-${System.nanoTime()}.port").getPath
    val truth = port.stripSuffix(".port") + ".truth"
    val cmd = Seq("java", "-Xmx512m", "-XX:-UsePerfData",
      s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}",
      "-cp", System.getProperty("java.class.path"),
      "perfbench.Generator") ++ args ++ Seq(port, truth)
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(new File(port.stripSuffix(".port") + ".log")).start()
    r.procs += p
    val deadline = System.nanoTime() + 60e9.toLong
    while (!new File(port).exists) {
      require(p.isAlive, s"generator exited early: ${cmd.mkString(" ")}")
      require(System.nanoTime() < deadline, "generator did not start")
      Thread.sleep(5)
    }
    (p, Files.readString(Paths.get(port)).trim, truth)
  }

  final case class Truth(txs: Seq[(Long, Long, Int, Long, Int)], bigTxs: Seq[Long],
      rows: Map[(String, String), Seq[String]], stats: Map[String, String])

  def readTruth(path: String): Truth = {
    val txs = mutable.ArrayBuffer.empty[(Long, Long, Int, Long, Int)]
    val big = mutable.ArrayBuffer.empty[Long]
    val rows = mutable.HashMap.empty[(String, String), Seq[String]]
    val stats = mutable.HashMap.empty[String, String]
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().foreach { l =>
      val f = l.split("\t", -1)
      f(0) match {
        case "tx" => txs += ((f(1).toLong, f(2).toLong, f(3).toInt, f(4).toLong, f(5).toInt))
        case "bigtx" => big += f(1).toLong
        case "row" => rows((f(1), f(2))) = f.drop(2).toSeq
        case "stat" => stats(f(1)) = f(2)
      }
    } finally src.close()
    Truth(txs.toSeq, big.toSeq, rows.toMap, stats.toMap)
  }

  def keyed(df: DataFrame): Dataset[KeyedChange] = {
    import df.sparkSession.implicits._
    df.as[KeyedChange]
  }

  /** The plugin's public decoder over a replayed frame log, shaped into
    * keyed changes for the snapshot operators. */
  def decode(plugin: String, raw: DataFrame): Dataset[KeyedChange] = {
    def fromMap(m: org.apache.spark.sql.Column) = Seq(
      m("_table").as("table"), m("id").as("key"), col("lsn"), m("_tag").as("op"),
      map_filter(m, (k, _) => !k.startsWith("_")).as("tuple"))
    val lines = raw.select(col("lsn"), explode(col("frames")).as("f"))
    keyed(plugin match {
      case "pgoutput" =>
        StreamOps.decodedChanges(raw).select(col("table"),
          col("tuple")("id").as("key"), col("lsn"), col("op"), col("tuple"))
      case "test_decoding" =>
        lines.select(col("lsn"), col("f").cast("string").as("line"))
          .filter(col("line").startsWith("table "))
          .select(col("lsn"), CdcFunctions.testDecodingTupleUdf(col("line")).as("m"))
          .select(fromMap(col("m")): _*)
      case "decoderbufs" =>
        lines.select(col("lsn"), CdcFunctions.decoderbufsTupleUdf(col("f")).as("m"))
          .filter(col("m")("_tag").isin("insert", "update", "delete"))
          .select(fromMap(col("m")): _*)
      case "wal2json" =>
        CdcFunctions.wal2jsonChanges(
          lines.select(col("lsn"), col("f").cast("string").as("payload")),
          col("payload"), Seq("lsn"))
          .select(col("table"), coalesce(col("after")("id"), col("key")("id")).as("key"),
            col("lsn"), col("op"), coalesce(col("after"), col("key")).as("tuple"))
    })
  }

  /** Live rows of a snapshot vs the truth; returns mismatch count. */
  def diffSnapshot(got: Map[(String, String), Map[String, String]],
      truth: Map[(String, String), Seq[String]]): Int = {
    val want = truth.map { case (k @ (t, _), v) =>
      k -> ChangeStream.cols(t).map(_.name).zip(v).toMap
    }
    (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
  }

  /** Progress-event phases of one streaming query, as layer metrics. */
  def streamLayers(r: Run, prog: Seq[org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent],
      prefix: String): Map[String, Double] = {
    val ps = prog.map(_.progress)
    def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    val trig = d("triggerExecution")
    val withRows = ps.filter(_.numInputRows > 0)
    val starts = ps.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
    val gaps = starts.zip(trig).sliding(2).collect {
      case Seq((s0, t0), (s1, _)) => s1 - s0 - t0
    }.toSeq
    ps.foreach { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      r.spans.add(s"$prefix.trigger", s * 1000000L, (s + p.durationMs.get("triggerExecution").longValue) * 1000000L)
    }
    val state = ps.flatMap(_.stateOperators.headOption)
    Map(
      "stream.batches" -> withRows.size.toDouble,
      "stream.rows_per_batch" -> (if (withRows.isEmpty) 0.0 else withRows.map(_.numInputRows).sum.toDouble / withRows.size),
      "stream.trigger_ms_p50" -> median(trig),
      "stream.latestOffset_ms" -> median(d("latestOffset")),
      "stream.addBatch_ms" -> median(d("addBatch")),
      "stream.walCommit_ms" -> median(d("walCommit")),
      "stream.commitOffsets_ms" -> median(d("commitOffsets")),
      "stream.gap_ms" -> median(gaps),
      "state.rows_total" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.mem_mb" -> state.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
      "state.commit_ms" -> median(state.map(_.commitTimeMs.toDouble)))
  }

  /** Tracks, per micro-batch, the highest LSN made visible and when. */
  final class Visibility {
    private val marks = mutable.ArrayBuffer.empty[(Long, Long)] // (maxLsn, wallUs)
    def mark(maxLsn: Long): Unit = synchronized {
      val prev = marks.lastOption.map(_._1).getOrElse(Long.MinValue)
      marks += ((math.max(prev, maxLsn), wallUs))
    }
    def maxLsn: Long = synchronized(marks.lastOption.map(_._1).getOrElse(Long.MinValue))
    /** Wall µs at which `lsn` first became visible, if it did. */
    def at(lsn: Long): Option[Long] = synchronized {
      marks.find(_._1 >= lsn).map(_._2)
    }
  }

  /** One start of the live consumer (`ReplicationSession.subscribe` →
    * decode → `statefulSnapshot` → `foreachBatch`) on a small fresh log,
    * until its first batch is visible: the set-up a CDC consumer pays
    * per start. */
  def consumerStart(r: Run, cycle: Int): Double = {
    val log = r.dir(s"setup$cycle/log")
    val model = new ChangeStream.Model(r.a.seed + cycle)
    val txs = (1 to 50).map(_ => model.next(0L, 0))
    // a log line decodes standalone: every line carries its relations
    CdcReplaySource.writeLogShard(log, 0,
      txs.map(tx => tx.lsn -> ChangeStream.pgoutput(tx, mutable.HashSet.empty)))
    val t0 = System.nanoTime()
    val vis = new Visibility
    val session = new ReplicationSession(r.spark, log)
    val raw = session.subscribe(new PgoutputFormat(), "bench_setup", uptoLsn = Some("0/00000000"))
    val q = session.register(StreamOps.statefulSnapshot(decode("pgoutput", raw)).writeStream
      .outputMode("update")
      .foreachBatch { (ds: Dataset[SnapshotRow], _: Long) =>
        val rows = ds.collect()
        if (rows.nonEmpty) vis.mark(rows.map(_.lsn).max)
      }
      .option("checkpointLocation", r.dir(s"setup$cycle/ckpt")).start())
    while (vis.maxLsn < txs.last.lsn) {
      require(q.exception.isEmpty, q.exception.toString)
      Thread.sleep(2)
    }
    session.stop()
    secs(t0)
  }

  def setup(r: Run)(cycle: Int => Double): Unit = {
    val times = (0 until SetupCycles).map(cycle)
    r.env("setup_cycles_s") = times
    r.e2e("setup_s") = median(times)
  }

  // ---- cdc: the live ladder, then the backlog catch-up ---------------

  def cdc(r: Run): Unit = {
    setup(r)(c => r.spans.span("setup.consumer_start")(consumerStart(r, c)))
    val t0 = System.nanoTime()
    live(r)
    // write back the live phase's log and checkpoints first, so their
    // disk traffic does not land inside the catch-up drain's clock
    new ProcessBuilder("sync").inheritIO().start().waitFor()
    catchup(r)
    r.endMeasure(t0)
  }

  /** Open-loop freshness of a running consumer. Reported per layer
    * (`live.*`): its run-to-run spread, set by the micro-batch duration,
    * is wider than an end-to-end bound can hold on a shared host. */
  def live(r: Run): Unit = {
    // ladder: warm-up, the nominal rate (well under the ~3k tx/s
    // per-transaction-ack ceiling; long enough for >= 1000 transactions,
    // so its p99 has ten beyond it), then rungs above it
    val s = r.a.seconds
    val ladder = if (r.a.smoke) Seq((100.0, 0.5), (100.0, 1.0), (400.0, 0.5))
      else Seq((200.0, 2.0), (200.0, s - 2.0), (2000.0, 0.75), (6000.0, 0.5))
    r.env("ladder") = ladder.map { case (rate, sec) => s"$rate:$sec" }
    val logDir = r.dir("live/log")
    r.flush()
    r.probe.foreach(_.drainProgress()) // drop the set-up cycles' events
    val vis = new Visibility
    val sink = new java.util.concurrent.ConcurrentHashMap[(String, String), SnapshotRow]()
    val session = new ReplicationSession(r.spark, logDir)
    val raw = session.subscribe(new PgoutputFormat(), "bench_live", uptoLsn = Some("0/00000000"))
    val q = session.register(StreamOps.statefulSnapshot(decode("pgoutput", raw)).writeStream
      .outputMode("update")
      .foreachBatch { (ds: Dataset[SnapshotRow], _: Long) =>
        val rows = ds.collect()
        rows.foreach(row => sink.merge((row.table, row.key), row,
          (a, b) => if (b.lsn > a.lsn) b else a))
        if (rows.nonEmpty) vis.mark(rows.map(_.lsn).max)
      }
      .option("checkpointLocation", r.dir("live/ckpt")).start())
    val (gen, port, truthPath) = r.spans.span("gen.start")(startGenerator(r,
      Seq("live", r.a.seed.toString, ladder.map { case (a, b) => s"$a:$b" }.mkString(","))))
    val client = new WalSocketClient("127.0.0.1", port.toInt, new PgoutputFormat(),
      "bench_live", logDir, shard = 0)
    val t0 = System.nanoTime()
    val result = r.spans.span("wire.WalSocketClient.run")(client.run())
    val ingestS = secs(t0)
    gen.waitFor()
    val truth = readTruth(truthPath)
    val lastLsn = truth.txs.last._1
    val deadline = System.nanoTime() + 60e9.toLong
    while (vis.maxLsn < lastLsn && System.nanoTime() < deadline && q.exception.isEmpty)
      Thread.sleep(5)
    r.env("trigger_ms") = q.recentProgress.map(_.durationMs.get("triggerExecution").longValue).toSeq
    session.stop()
    q.exception.foreach(e => r.errors += s"live query failed: $e")

    val delivered = result.txs.map(_._1).toSet
    val lat = truth.txs.map { case (lsn, due, rung, sent, _) =>
      (rung, due, sent, vis.at(lsn).filter(_ => delivered(lsn)).map(v => (v - due) / 1000.0))
    }
    r.attempted += lat.size
    r.failed += lat.count(_._4.isEmpty)
    val got = sink.asScala.collect { case (k, row) if row.op != "delete" => k -> row.tuple }.toMap
    val bad = diffSnapshot(got, truth.rows)
    if (bad > 0) r.errors += s"live snapshot differs from ground truth on $bad keys"

    val rungs = ladder.indices.drop(1)
    def rungLat(k: Int) = lat.filter(_._1 == k).flatMap(_._4)
    val nominal = rungLat(1)
    r.layers("live.p50_ms") = Stats.quantile(nominal, 0.5)
    // A rung is sustained when every transaction became visible, its p99
    // meets the limit, and its backlog stays flat. At a steady arrival
    // rate the backlog is rate x latency, so a growing backlog shows as
    // latency rising across the rung: the median latency of its last
    // third against its first third, per second between the two (thirds
    // span several micro-batches, so batch-phase jitter averages out).
    val rungStats = rungs.map { k =>
      val txs = lat.filter(_._1 == k)
      val ls = txs.flatMap(_._4)
      val third = math.max(1, ls.size / 3)
      val slope = (Stats.quantile(ls.takeRight(third), 0.5) - Stats.quantile(ls.take(third), 0.5)) /
        (ladder(k)._2 * 2 / 3)
      val p99 = Stats.quantile(ls, 0.99)
      val ok = ls.size == txs.size && p99 <= LiveP99LimitMs && slope <= LiveSlopeLimit
      (k, ok, Map("rate" -> ladder(k)._1, "txs" -> txs.size, "latency_slope_ms_per_s" -> slope,
        "p50_ms" -> Stats.quantile(ls, 0.5), "p99_ms" -> p99, "sustained" -> ok))
    }
    // the highest rung that it and every rung below it sustained
    val passed = rungStats.takeWhile(_._2).map(_._1)
    r.env("rungs") = rungStats.map(_._3)
    r.layers("live.max_rung_tx_per_s") = passed.map(k => ladder(k)._1).foldLeft(0.0)(math.max)
    val late = truth.txs.map { case (_, due, _, sent, _) => (sent - due) / 1000.0 }
    r.layers ++= Seq(
      "gen.late_p99_ms" -> Stats.quantile(late, 0.99),
      "gen.sent_tx" -> truth.txs.size.toDouble,
      "live.p99_ms" -> Stats.reportable(nominal, 0.99).getOrElse(Double.NaN),
      "live.acks_per_tx" -> result.acksSent.toDouble / math.max(1, result.txs.size))
    r.env("live.wire_s") = ingestS
    r.flush()
    r.probe.foreach(p => r.layers ++= streamLayers(r, p.drainProgress(), "stream.live"))
  }

  /** Backlog catch-up: every slot's backlog is queued, then drained and
    * replayed slot by slot. Carries the end-to-end metrics. */
  def catchup(r: Run): Unit = {
    val nTx = if (r.a.smoke) 200 else (250 * r.a.seconds).toInt
    val bigRows = if (r.a.smoke) 500 else 4000
    r.env("backlog") = Map("txs_per_slot" -> nTx, "huge_update_rows" -> bigRows)
    val (gen, port, truthPath) = r.spans.span("gen.start")(startGenerator(r,
      Seq("backlog", r.a.seed.toString, nTx.toString, bigRows.toString)))
    val t0 = System.nanoTime()
    val lat = mutable.ArrayBuffer.empty[Option[Double]]
    val snaps = mutable.LinkedHashMap.empty[String, Map[(String, String), Map[String, String]]]
    val frames = mutable.LinkedHashMap.empty[String, Seq[(Long, Seq[Array[Byte]])]]
    var rows = 0L
    var acks = 0L
    var ingest = 0.0
    var upsert = 0.0
    val visByPlugin = mutable.LinkedHashMap.empty[String, Visibility]
    val due = wallUs // every slot's backlog is queued before the drain starts
    ChangeStream.Plugins.foreach { plugin =>
      val logDir = r.dir(s"catchup/$plugin/log")
      val client = new WalSocketClient("127.0.0.1", port.toInt, ChangeStream.format(plugin),
        s"bench_$plugin", logDir, shard = 0)
      val ti = System.nanoTime()
      val res = r.spans.span(s"wire.$plugin.WalSocketClient.run")(client.run())
      val ingestS = secs(ti)
      ingest += ingestS
      acks += res.acksSent
      frames(plugin) = res.txs
      val vis = new Visibility
      visByPlugin(plugin) = vis
      val snapDir = r.dir(s"catchup/$plugin/snap")
      r.flush()
      r.probe.foreach(_.drainProgress()) // only this replay's events below
      val tr = System.nanoTime()
      r.spans.span(s"stream.$plugin.replay") {
        val raw = r.spark.readStream.format(CdcReplaySource.FORMAT).option("path", logDir).load()
        val q = decode(plugin, raw).writeStream
          .foreachBatch { (ds: Dataset[KeyedChange], id: Long) =>
            val df = ds.toDF().persist()
            val top = df.agg(max(col("lsn")), count(lit(1))).head()
            val tu = System.nanoTime()
            r.spans.span("sink.upsertBatch")(StreamOps.upsertBatch(snapDir)(df, id))
            upsert += secs(tu)
            if (!top.isNullAt(0)) { vis.mark(top.getLong(0)); rows += top.getLong(1) }
            df.unpersist(); ()
          }
          .option("checkpointLocation", r.dir(s"catchup/$plugin/ckpt"))
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q.exception.foreach(e => r.errors += s"$plugin replay failed: $e")
      }
      r.layers(s"stream.$plugin.replay_s") = secs(tr)
      r.env(s"$plugin.ingest_replay_s") = Seq(ingestS, secs(tr))
      snaps(plugin) = StreamOps.readSnapshot(r.spark, snapDir).collect().map { row =>
        (row.getString(0), row.getString(1)) -> row.getMap[String, String](4).toMap
      }.toMap
      r.flush()
      r.probe.foreach { p =>
        val prog = p.drainProgress()
        val trig = prog.map(_.progress.durationMs.get("triggerExecution").doubleValue).sum / 1000
        r.layers(s"stream.$plugin.pretrigger_s") = r.layers(s"stream.$plugin.replay_s") - trig
        if (plugin == "pgoutput") r.layers("stream.pgoutput.trigger_s") = trig
      }
    }
    val catchupS = secs(t0)
    gen.waitFor()
    val truth = readTruth(truthPath)
    val small = truth.rows.filter(_._1._1 != ChangeStream.Big)
    ChangeStream.Plugins.foreach { p =>
      val got = snaps(p).filter(kv => p != "pgoutput" || kv._1._1 != ChangeStream.Big)
      val bad = diffSnapshot(got, small)
      if (bad > 0) r.errors += s"$p snapshot differs from ground truth on $bad keys"
    }
    val bigBad = diffSnapshot(snaps("pgoutput").filter(_._1._1 == ChangeStream.Big),
      truth.rows.filter(_._1._1 == ChangeStream.Big))
    if (bigBad > 0) r.errors += s"huge-transaction rows differ from ground truth on $bigBad keys"
    if (snaps.values.map(_.filter(_._1._1 != ChangeStream.Big)).toSet.size != 1)
      r.errors += "the four plugin snapshots disagree"

    ChangeStream.Plugins.foreach { p =>
      val delivered = frames(p).map(_._1).toSet
      val lsns = truth.txs.map(_._1) ++ (if (p == "pgoutput") truth.bigTxs else Nil)
      lsns.foreach { lsn =>
        lat += visByPlugin(p).at(lsn).filter(_ => delivered(lsn)).map(v => (v - due) / 1000.0)
      }
    }
    r.attempted += lat.size
    r.failed += lat.count(_.isEmpty)
    val ok = lat.flatten.toSeq
    r.e2e("latency_ms") = Stats.quantile(ok, 0.5)
    r.layers("latency.p90_ms") = Stats.reportable(ok, 0.9).getOrElse(0.0)
    r.e2e("throughput_per_s") = rows / catchupS
    val totalTx = frames.values.map(_.size).sum
    val bytes = frames.values.flatten.map(_._2.map(_.length.toLong).sum).sum
    r.layers ++= Seq(
      "gen.sent_tx" -> (r.layers.getOrElse("gen.sent_tx", 0.0) +
        truth.stats.collect { case (k, v) if k.endsWith(".txs") => v.toDouble }.sum),
      "wire.ingest_s" -> ingest,
      "wire.tx_per_s" -> totalTx / ingest,
      "wire.mb_per_s" -> bytes / 1048576.0 / ingest,
      "wire.acks_per_tx" -> acks.toDouble / math.max(1, totalTx),
      "wire.delivered_ratio" -> totalTx / math.max(1.0, truth.stats.collect {
        case (k, v) if k.endsWith(".txs") => v.toDouble }.sum),
      "sink.upsert_s" -> upsert)
    if (r.a.trace) decodeBaseline(r, frames)
    r.env("library_defaults") = Map("ackEveryTxs" -> 1, "client.ackTimeoutSeconds" -> 0,
      "session.ackTimeoutSeconds" -> 10, "live.trigger" -> "ProcessingTime(0) (unset)",
      "catchup.trigger" -> "AvailableNow", "maxFramesPerTrigger" -> "unset")
  }

  /** Single-threaded public-parser throughput over the workload's own
    * delivered frames: the per-plugin decode baseline. */
  def decodeBaseline(r: Run, frames: collection.Map[String, Seq[(Long, Seq[Array[Byte]])]]): Unit =
    frames.foreach { case (plugin, txs) =>
      val t0 = System.nanoTime()
      val n = r.spans.span(s"decode.$plugin") {
        plugin match {
          case "pgoutput" => txs.map(tx => CdcFunctions.decodeFrameSequence(tx._2)
            .count(e => e.tag == "insert" || e.tag == "update" || e.tag == "delete")).sum.toLong
          case "test_decoding" => txs.map(_._2.map(f => new String(f, "UTF-8"))
            .filter(_.startsWith("table ")).map(TestDecodingParser.parse).size).sum.toLong
          case "decoderbufs" => txs.map(_._2.map(f => Decoderbufs.toChangeEvent(Decoderbufs.decode(f)))
            .count(e => e.tag == "insert" || e.tag == "update" || e.tag == "delete")).sum.toLong
          case "wal2json" =>
            import r.spark.implicits._
            val docs = txs.flatMap(_._2.map(f => new String(f, "UTF-8"))).toDF("payload").coalesce(1)
            CdcFunctions.wal2jsonChanges(docs, col("payload")).count()
        }
      }
      r.layers(s"decode.${plugin}_rows_per_s") = n / secs(t0)
    }

  // ---- analytics ------------------------------------------------------

  val Modules: Seq[(String, Seq[graft.ops.QueryDef])] = {
    import graft.ops._
    Seq("Relational" -> Relational.defs, "Events" -> Events.defs,
      "CdcQueries" -> CdcQueries.defs, "Text" -> Text.defs, "Vectors" -> Vectors.defs,
      "Multimodal" -> Multimodal.defs, "OpsExtra" -> OpsExtra.defs,
      "Pipeline" -> Pipeline.defs, "Scale" -> Scale.defs, "Mining" -> Mining.defs,
      "Curation" -> Curation.defs, "Analytics" -> Analytics.defs, "Signals" -> Signals.defs)
  }
  val MemoNames: Seq[String] = Seq("toks", "quant", "lloyd", "pq", "shingles", "pairs",
    "labels", "minhash", "pos8", "gram8", "tf", "bpe", "winnow", "bigrams", "fluency", "snm")

  /** The sample, stratified by ops module and fixed across seeds (the
    * seed drives the data and the run order): each module's middle query
    * in name order. */
  val Sample: Seq[(String, graft.ops.QueryDef)] =
    Modules.map { case (m, defs) => m -> defs.sortBy(_.name).apply(defs.size / 2) }

  def linkCopy(from: String, to: String): String = {
    val d = new File(to); d.mkdirs()
    new File(from).listFiles().foreach(f =>
      Files.createLink(new File(d, f.getName).toPath, f.toPath))
    d.getPath
  }

  def analytics(r: Run): Unit = {
    val memo = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    var dataDir = r.a.data
    setup(r) { c =>
      dataDir = linkCopy(r.a.data, new File(r.a.work, s"data$c").getPath)
      val t0 = System.nanoTime()
      r.spans.span("setup.memo_build") {
        val steps = r.spans.span("memo.Prewarm.run")(graft.ops.Prewarm.run(r.spark, dataDir))
        val tb = System.nanoTime()
        r.spans.span("memo.bpe256")(graft.ops.Prewarm.buildBpe256(r.spark, dataDir))
        memo += (steps :+ ("bpe256" -> secs(tb)))
      }
      secs(t0)
    }
    val picks = Sample
    r.env("sample") = picks.map(_._2.name)
    val rng = new scala.util.Random(r.a.seed)
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val out = r.dir("analytics/out")
    // one full-output write of each query, in a seeded order: to parquet
    // for the oracle, or timed into the noop sink
    def pass(timed: Boolean): Unit = rng.shuffle(picks).foreach { case (m, q) =>
      r.attempted += 1
      val tq = System.nanoTime()
      try r.spans.span(s"ops.$m") {
        val df = q.fn(r.spark, dataDir)
        if (timed) df.write.format("noop").mode("overwrite").save()
        else df.coalesce(1).write.mode("overwrite").parquet(s"$out/${q.name}")
      } catch { case e: Throwable =>
        r.failed += 1; r.errors += s"${q.name} failed: ${e.getMessage}".take(300)
      }
      if (timed) times.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += secs(tq)
      graft.ops.Tables.dropTransientCaches()
    }
    // The first pass writes the outputs the DuckDB oracle checks
    // (tools/check.py), from this same session. It also compiles each
    // plan's generated code, so it is the warm-up: its times stay out of
    // the metrics.
    val tw = System.nanoTime()
    r.spans.span("ops.output_pass")(pass(timed = false))
    r.env("output_pass_s") = secs(tw)
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json.obj(
      picks.flatMap { case (_, q) => q.oracle.map(q.name -> _) }))
    // timed passes sized from the window (a warm pass takes ~4-6 s at
    // sf0.01 on 4 cores), fixed per window so every seed runs the same
    val passes = math.max(2, math.ceil(r.a.seconds / 5).toInt)
    r.flush()
    val before = r.probe.map(_.counters).getOrElse(Map.empty)
    val t0 = System.nanoTime()
    (1 to passes).foreach(_ => pass(timed = true))
    r.endMeasure(t0)
    r.env("passes") = passes
    // steady per-query time: the minimum over the timed passes (a pass
    // hit by a scheduling burst does not move it)
    val all = times.values.flatten.toSeq
    val perQuery = times.map { case (n, ts) => n -> ts.min }
    // geometric mean: every sampled query weighs the same, so the reading
    // does not hinge on which query happens to sit at the median
    r.e2e("latency_ms") = math.exp(perQuery.values.map(math.log).sum / perQuery.size) * 1000
    r.layers("latency.p90_ms") = Stats.reportable(all, 0.9).getOrElse(0.0) * 1000
    r.e2e("throughput_per_s") = picks.size / perQuery.values.sum
    r.env("suite_s") = perQuery.values.sum
    r.env("query_steady_s") = perQuery.toSeq
    r.env("oracle_checked") = picks.count(_._2.oracle.isDefined)
    r.env("oracle_dir") = out
    r.env("data_dir") = dataDir

    r.flush()
    r.probe.foreach { p =>
      val spans = p.jobSpans.synchronized(p.jobSpans.toList)
      val inWindow = spans.filter(_._1 >= t0).sortBy(_._1)
      var covered = 0L; var cs = -1L; var ce = -1L
      inWindow.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b } else ce = ce max b
      }
      if (ce > cs) covered += ce - cs
      // the timed passes' share of each counter (set-up and the output
      // pass excluded)
      val d = p.counters.map { case (k, v) => k -> (v - before(k)) }
      r.layers ++= (d - "ops.actions") ++ Seq(
        "ops.plan_ms" -> d("ops.plan_ms") / math.max(1.0, d("ops.actions")),
        "ops.driver_gap_s" -> (r.measureNs - covered) / 1e9)
    }
    Modules.foreach { case (m, _) =>
      r.layers(s"ops.${m}_s") = picks.filter(_._1 == m).map(q => perQuery.getOrElse(q._2.name, 0.0)).sum
    }
    val memoMed = (MemoNames :+ "bpe256").map(n => n -> median(memo.map(_.toMap.getOrElse(n, 0.0)).toSeq))
    memoMed.foreach { case (n, v) => r.layers(s"memo.${n}_s") = v }
    r.layers("memo.build_s") = r.e2e("setup_s")
  }

  // ---- entry ----------------------------------------------------------

  def stealMs: Long = {
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+")
    if (cpu.length > 8) cpu(8).toLong * 10 else -1L
  }
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4), argv(5), argv(6) == "1")
    val cpus = Runtime.getRuntime.availableProcessors()
    val steal0 = stealMs
    val spark = session(cpus)
    val r = new Run(a, spark)
    r.env ++= Seq("nproc" -> cpus, "seed" -> a.seed, "workload" -> a.workload,
      "loadavg_start" -> Files.readString(Paths.get("/proc/loadavg")).trim)
    try a.workload match {
      case "cdc" => cdc(r)
      case "analytics" => analytics(r)
    } catch { case e: Throwable =>
      r.errors += s"${a.workload} aborted: $e"
      e.printStackTrace()
    }
    r.e2e("ok_ratio") = 1.0 - r.failed.toDouble / math.max(1L, r.attempted)
    r.layers("jvm.peak_rss_mb") = rssPeakMb
    r.procs.foreach { p => p.destroyForcibly(); p.waitFor() }
    if (a.trace) {
      val callbacks = r.probe.map(_.callbackNs.get).getOrElse(0L) + r.spans.recordNs
      r.layers("trace.overhead_pct") = 100.0 * callbacks / math.max(1L, r.measureNs)
      r.layers("trace.spans") = r.spans.all.size.toDouble
      r.spans.selfSeconds.foreach { case (n, s) => r.env(s"self_s.$n") = s }
      r.spans.write(new File(a.work, "spans.jsonl").getPath)
    }
    r.env ++= Seq("loadavg_end" -> Files.readString(Paths.get("/proc/loadavg")).trim,
      "steal_ms" -> (if (steal0 < 0) -1L else stealMs - steal0), "gc_ms" -> gcMs,
      "session_conf" -> spark.conf.getAll.filter(_._1.startsWith("spark.sql")).toMap,
      "measure_s" -> r.measureNs / 1e9)
    println(Json.obj(Seq("attempted" -> r.attempted, "failed" -> r.failed,
      "errors" -> r.errors.toSeq, "e2e" -> r.e2e.toMap, "layers" -> r.layers.toMap,
      "env" -> r.env.toMap)))
    spark.stop()
    System.exit(0)
  }
}
