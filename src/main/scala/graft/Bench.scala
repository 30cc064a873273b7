package graft

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * A warm-up pass (table footers + a no-op job) runs before timing so
  * the first query doesn't absorb JVM/codegen/session start-up.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession()
    // executor-task-time accumulator (r13 verdict ask 2): per-query
    // wall-vs-task-time is the telemetry that separates "tasks
    // idle-waiting" from "work actually grew" — see TaskTimeProbe.
    val probe = org.apache.spark.graft.TaskTimeProbe.install(
      spark.sparkContext)

    // warm-up: touch every table's footer + run one tiny job
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
      catch { case _: Throwable => }
    }
    spark.range(1000).selectExpr("sum(id)").collect()

    // Shared memo indexes build ONCE here, timed as their own entry:
    // otherwise whichever query first touches a lazy memo absorbs its
    // build cost and per-query times depend on suite composition /
    // run order (the r8 q105-q117 attribution noise). memo_build
    // participates in the reported total — nothing is hidden.
    val tm0 = System.nanoTime()
    val memoTask0 = probe.taskSec(spark.sparkContext)
    val memoWall: Seq[(String, Double)] =
      try graft.ops.Prewarm.run(spark, sfDir)
      catch { case e: Throwable =>
        // visible failure: a silently-cold memo would re-smear build
        // costs into whichever queries touch it first — exactly the
        // attribution noise memo_build exists to eliminate
        System.err.println(s"WARN: memo prewarm failed: $e")
        Seq.empty
      }
    val memoSec = (System.nanoTime() - tm0) / 1e9
    val memoTaskSec = probe.taskSec(spark.sparkContext) - memoTask0
    // per-memo [wall, task] pairs: Prewarm tags each step's jobs with
    // a memo:<name> job group, so a driver artifact showing
    // memo_build 64.6 s vs a clean 15.0 s can now read whether the
    // task-time grew (the build itself changed) or only the wall did
    // (chains idle-waiting on a contended box) — per memo.
    val memoDetail: Seq[(String, Double, Double)] = memoWall.map {
      case (n, wall) => (n, wall, probe.groupTaskSec(s"memo:$n"))
    }

    // Double-pass variance attribution (r9 verdict ask 1): the suite
    // runs twice in THIS JVM in the same pinned (name-sorted) order,
    // with per-query GC-time deltas. Pass 1 is the reported number
    // (comparable round-over-round, nothing warmed beyond the memo
    // prewarm above); pass 2 isolates steady-state plan cost from
    // environmental noise (JIT, GC shadow, storage churn). A query
    // that is slow in pass 1 but fast in pass 2 regressed
    // environmentally; slow in both means the plan itself changed.
    // Both passes + GC land in the BENCH_VARIANCE.json sidecar.
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    // Host/JVM telemetry (r11 verdict ask 1c): the r11 driver run
    // reported a 4.3×-inflated memo_build + pass2-slower-than-pass1
    // clusters that reproduced clean on the same machine — external
    // CPU contention. Snapshot OS load, GC and heap/storage at each
    // phase boundary so a reader of the artifact can tell "code got
    // slower" from "machine was busy" without a re-run.
    def telemetry(): String = {
      val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      val heap = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage
      val storage = try {
        val m = spark.sparkContext.getExecutorMemoryStatus.values
          .map { case (max, free) => max - free }.sum
        m / (1024 * 1024)
      } catch { case _: Throwable => -1L }
      s"""{"loadavg":${"%.2f".formatLocal(java.util.Locale.ROOT,
        os.getSystemLoadAverage)},"cpus":${os.getAvailableProcessors},""" +
        s""""gc_ms":${gcMs()},"heap_mb":${heap.getUsed / (1024 * 1024)},""" +
        s""""storage_mb":$storage}"""
    }
    val telemetryPoints = scala.collection.mutable.ArrayBuffer[
      (String, String)]("after_memo" -> telemetry())
    // Per-query error markers (r11 verdict ask 1d): a throwing query
    // must not masquerade as a fast query. The wall time still lands
    // in the totals (nothing hidden) but the error string is carried
    // in BENCH_VARIANCE + an "errors" object on the stdout line.
    val passErrors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Per-query 1-min loadavg (r12 verdict ask 3): the three barrier
    // snapshots cannot see a mid-pass load burst — the exact ambiguity
    // that left r12's q116-q118 inversion unattributed. One MXBean
    // read per query names "the machine was busy during THIS query"
    // in the artifact itself.
    def loadAvg(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Per-query hypervisor steal (r14): cumulative /proc/stat field 8
    // in USER_HZ ticks. The roaming in-suite inflation that survives
    // the code-cache fix is CONTIGUOUS ALPHABETICAL BLOCKS of queries
    // running 2-10x with task-time growth, zero GC, low loadavg, and
    // clean isolated reruns — a multi-minute window where the host
    // serves someone else. Stolen cycles lengthen executorRunTime
    // without any in-JVM witness; this column is the witness, so a
    // regressed list can be adjudicated "burst window" (steal
    // elevated exactly there) vs "plan change" (steal flat) from the
    // artifact alone. -1 when /proc/stat is unreadable.
    def stealMs(): Long =
      try {
        val f = scala.io.Source.fromFile("/proc/stat")
        val parts = try f.getLines().next().split("\\s+") finally f.close()
        if (parts.length > 8) parts(8).toLong * 10L else -1L
      } catch { case scala.util.control.NonFatal(_) => -1L }
    // The bpe256 TRAINER builds here, BEFORE pass 1, as its own timed
    // + pinned artifact line (r15 verdict ask 2): steady-state is
    // min-of-passes and the memo used to build lazily inside q304's
    // pass-1 touch, so the ~30 s one-time training cost hid behind
    // q304's 0.1 s warm-replay pin — a 5x regression in TRAINING cost
    // would never have flagged. As `bpe256_build` (pass-1-only: the
    // memo is warm by pass 2, and BenchGate's union-steady rule grades
    // single-pass entries) the cost is pinned and gated like any
    // query. The memo still stays out of Prewarm's chains — its
    // consumers are only the tokenizer family (Prewarm.lazyMemos), so
    // it must not tax the shared memo_build attribution.
    val bpeQuint: Seq[(String, Double, Long, Double, Double, Long)] = {
      val k0 = probe.taskSec(spark.sparkContext)
      val s0 = stealMs()
      val g0 = gcMs()
      val t0 = System.nanoTime()
      spark.sparkContext.setJobGroup("memo:bpe256", "bpe256 train",
        interruptOnCancel = false)
      val ok =
        try { graft.ops.Prewarm.buildBpe256(spark, sfDir); true }
        catch { case scala.util.control.NonFatal(e) =>
          // visible failure, same contract as the memo prewarm: a
          // silently-cold trainer memo would re-smear its build into
          // q304's pass-1 timing
          System.err.println(s"WARN: bpe256 build failed: $e")
          passErrors.getOrElseUpdate("bpe256_build",
            (Option(e.getMessage).getOrElse(e.getClass.getName))
              .replaceAll("[^\\x20-\\x7e]|[\"\\\\]", " ").take(120))
          false
        } finally spark.sparkContext.clearJobGroup()
      val sec = (System.nanoTime() - t0) / 1e9
      val s1 = stealMs()
      if (!ok) Seq.empty
      else Seq(("bpe256_build", sec, gcMs() - g0, loadAvg(),
        probe.taskSec(spark.sparkContext) - k0,
        if (s0 < 0 || s1 < 0) -1L else s1 - s0))
    }
    def runPass(): Seq[(String, Double, Long, Double, Double, Long)] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val k0 = probe.taskSec(spark.sparkContext)
        val s0 = stealMs()
        val g0 = gcMs()
        val t0 = System.nanoTime()
        // memo touches attributed per query — the memo→consumer
        // census (r14 verdict ask 3) that prices memo_build per
        // consumer and justifies which memos stay in the prewarm
        try { graft.ops.Tables.withConsumer(name) {
          fn(spark, sfDir).count() }; () } catch {
          case e: Throwable =>
            // JSON-safe: quotes/backslashes AND every control or
            // non-ASCII byte become spaces — one stray form-feed or
            // NUL in an exception message must not corrupt the artifact
            val msg = (Option(e.getMessage).getOrElse(e.getClass.getName))
              .replaceAll("[^\\x20-\\x7e]|[\"\\\\]", " ").take(120)
            passErrors.getOrElseUpdate(name, msg)
            System.err.println(s"ERROR: bench query $name failed: $msg")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        // drop per-query transient caches so executor storage pressure
        // (and its GC shadow on later queries) stays flat over the run
        graft.ops.Tables.dropTransientCaches()
        // taskSec flushes the listener bus, so this query's final
        // task-end events land in THIS delta, not the next query's
        val taskDelta = probe.taskSec(spark.sparkContext) - k0
        val s1 = stealMs()
        (name, sec, gcMs() - g0, loadAvg(), taskDelta,
          if (s0 < 0 || s1 < 0) -1L else s1 - s0)
      }
    // Memo cache-health probe (r12 verdict ask 1b): after each pass,
    // walk every registered session memo and record [cached, countSec].
    // A materialized memo re-counts in milliseconds; one that was
    // unpersisted or invalidated mid-pass pays its REBUILD here —
    // named, timed, and repaired before the next pass times queries
    // against it. This is the telemetry field that turns "q117
    // inverted 0.64 → 2.70 s" into either "lloyd/pq were dropped
    // (health shows the rebuild)" or "the box was busy (health clean,
    // per-query loadavg elevated)".
    def memoHealthJson(): String =
      graft.ops.Tables.memoHealth(spark).map {
        case (name, _, cached, sec) =>
          "\"" + name + "\":[" + cached + "," +
            "%.3f".formatLocal(java.util.Locale.ROOT, sec) + "]"
      }.mkString("{", ",", "}")
    val memoHealthPoints =
      scala.collection.mutable.ArrayBuffer[(String, String)]()
    val pass1 = bpeQuint ++ runPass()
    telemetryPoints += ("after_pass1" -> telemetry())
    memoHealthPoints += ("after_pass1" -> memoHealthJson())
    val passes =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").trim.toInt
    val pass2 = if (passes >= 2) runPass() else Seq.empty
    if (pass2.nonEmpty) {
      telemetryPoints += ("after_pass2" -> telemetry())
      memoHealthPoints += ("after_pass2" -> memoHealthJson())
    }
    // Lazy-memo census enforcement (r15 verdict ask 3): the declared
    // consumer lists in Prewarm.lazyMemos justify each memo's absence
    // from the shared prewarm — q307 adopted bpe256 in r15 WITHOUT a
    // census re-run and the stale list went unnoticed for a round.
    // The bench's own touch census is the measured truth; any
    // undeclared consumer of a lazy memo now fails the gate loudly,
    // named, in the artifact itself.
    graft.ops.Tables.memoConsumers().toSeq.sortBy(_._1).foreach {
      case (m, qs) =>
        graft.ops.Prewarm.lazyMemos.get(m).foreach { declared =>
          qs.filterNot(declared.contains).foreach { qn =>
            passErrors.getOrElseUpdate(s"memo_census:$m",
              s"undeclared consumer $qn of lazy memo $m - re-run " +
                "graft.Probe memo and update Prewarm.lazyMemos")
          }
        }
    }
    def errJson = passErrors.map { case (k, v) =>
      "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    // Embedded regression gate (r12 verdict ask 2): the artifact
    // itself carries the verdict bench_regress.py would compute, so a
    // flagged run can never be committed as "0 regressed" — a reader
    // of BENCH_rN.json / BENCH_VARIANCE.json sees the regressed list
    // without re-running the tool. Same rule as the tool: steady
    // state (pass 2, falling back to pass 1) vs BASELINE_QUERIES.json
    // pins, factor 3x, 0.15 s floor, errored queries always flagged.
    // Pins are CONFIG-KEYED (r13 verdict ask 1b): local[N] scheduling
    // tax is real and uniform (~1.2x median at local[32] vs local[4]
    // pins, SCALING.md r13), so a pins table measured at one local[N]
    // cannot gate a run at another without spurious flags. The
    // "configs" object maps "local[N]" -> {query: sec} pin tables;
    // a query absent from the matching config table falls back to the
    // legacy top-level "queries" (local[4]) pins.
    val cfgKey = s"local[$cpus]"
    val ncpu = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getAvailableProcessors
    // Pin schema v2 (r14 verdict ask 8): a pin is either a bare
    // number (v1: the per-query MIN over the pinning runs - the
    // tightest possible value, gated at 3x) or a [min, median] pair
    // (v2: gated at 2 x MEDIAN). The r13/r14 false-fail class was
    // exactly min-pins meeting single-boot noise: the min is one
    // lucky scheduling draw, the median is the typical clean run,
    // and 2 x median is both tighter than 3 x min for stable queries
    // and looser for high-dispersion ones - dispersion the pin file
    // now records instead of discarding. The DECISION itself (steady
    // state, thresholds, steal/task-flat downgrades, the suspect
    // list) lives in BenchGate.decide - pure and spec-pinned
    // (BenchGateSpec), so the gate semantics can never again change
    // untested inside this main().
    // End-to-end micro-batch latency (r15 verdict ask 5): the
    // reference's implicit 5-row-insert-visible floor, measured on
    // the full socket → frame-log → AvailableNow → decode stack and
    // RECORDED per artifact (not wall-gated: a single streaming
    // trigger is checkpoint-IO dominated at this scale — the
    // WalSocketPerfSpec leg owns the bound assertion). Runs after
    // both passes so its socket/stream machinery cannot pollute any
    // timed query. A failure is loud through the error channel: a
    // broken wire path must fail the artifact, not skip the row.
    val cdcLatencySec: Double =
      try {
        val (sec, n) =
          graft.streaming.MicroBatchLatency.measureWarm(spark)
        if (n == 5L) sec
        else {
          passErrors.getOrElseUpdate("cdc_latency",
            s"expected 5 decoded rows, saw $n")
          -1.0
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          passErrors.getOrElseUpdate("cdc_latency",
            (Option(e.getMessage).getOrElse(e.getClass.getName))
              .replaceAll("[^\\x20-\\x7e]|[\"\\\\]", " ").take(120))
          -1.0
      }
    // Pin lookup, shared by the gate and the isolation rerun. Schema
    // v3 (r15 verdict ask 1b): a pin may now carry a THIRD element —
    // the task-seconds median over the pinning runs — which BenchGate
    // uses as the tight task-flat bound (1.5 x task pin) in place of
    // the loose wall x slots budget. v2 pairs and v1 scalars keep
    // their semantics with no task pin (-1).
    val pinThr: String => BenchGate.Pin = try {
      val pinsPath = java.nio.file.Paths.get("BASELINE_QUERIES.json")
      if (!java.nio.file.Files.exists(pinsPath))
        (_: String) => (-1.0, -1.0, -1.0)
      else {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(pinsPath))
        val cfgNode = root.path("configs").path(cfgKey)
        val legacy = root.path("queries")
        def pinNode(n: String): com.fasterxml.jackson.databind.JsonNode =
          if (cfgNode.has(n)) cfgNode.get(n)
          else if (legacy.has(n)) legacy.get(n) else null
        (n: String) => pinNode(n) match {
          case null => (-1.0, -1.0, -1.0)
          case a if a.isArray && a.size() >= 3 =>
            (a.get(1).asDouble(), 2.0 * a.get(1).asDouble(),
              a.get(2).asDouble())
          case a if a.isArray && a.size() >= 2 =>
            (a.get(1).asDouble(), 2.0 * a.get(1).asDouble(), -1.0)
          case v => (v.asDouble(), 3.0 * v.asDouble(), -1.0)
        }
      }
    } catch {
      case scala.util.control.NonFatal(_) =>
        (_: String) => (-1.0, -1.0, -1.0)
    }
    val gateVerdict0: BenchGate.Verdict = try
      BenchGate.decide(pinThr, pass1, pass2,
        passErrors.keySet.toSet, cpus, ncpu)
    catch {
      case scala.util.control.NonFatal(_) =>
        BenchGate.Verdict(Seq.empty, Seq.empty, Seq.empty)
    }
    // In-artifact isolation rerun (r15 verdict ask 1a): three rounds
    // running, the driver's contended boot failed the gate on a query
    // that was clean in every isolated re-measurement — and the class
    // the steal-aware excuses CANNOT cover is same-host contention
    // that inflates task-seconds with no /proc/stat witness (r15
    // q262). So the artifact now adjudicates itself: each standing
    // fail re-runs ONCE here (same JVM, memos warm, transients
    // dropped — the exact pass-2 measurement conditions), and
    // BenchGate.applyRerun downgrades fails whose rerun lands under
    // threshold (evidence in the adjudication) while a rerun still
    // over threshold CONFIRMS the regression in-artifact. Genuine plan
    // regressions reproduce in isolation by definition; contention
    // windows do not.
    val rerunQuints =
      scala.collection.mutable.LinkedHashMap[String, (Double, Double, Long)]()
    gateVerdict0.regressed.foreach { case (n, _, _) =>
      SparkEntry.queries.get(n).foreach { fn =>
        val k0 = probe.taskSec(spark.sparkContext)
        val s0 = stealMs()
        val t0 = System.nanoTime()
        try { graft.ops.Tables.withConsumer(n) {
          fn(spark, sfDir).count() }; () }
        catch { case _: Throwable => () } // the pass already recorded
        // this query healthy or errored; a rerun-only failure just
        // leaves the fail standing
        val sec = (System.nanoTime() - t0) / 1e9
        graft.ops.Tables.dropTransientCaches()
        val s1 = stealMs()
        rerunQuints(n) = (sec, probe.taskSec(spark.sparkContext) - k0,
          if (s0 < 0 || s1 < 0) -1L else s1 - s0)
      }
    }
    val gateVerdict = BenchGate.applyRerun(gateVerdict0, pinThr,
      rerunQuints.map { case (n, (s, t, _)) => n -> (s, t) }.toMap)
    val regressed = gateVerdict.regressed
    val suspect = gateVerdict.suspect
    val adjudication =
      scala.collection.mutable.LinkedHashMap(gateVerdict.adjudication: _*)
    val gatePass = regressed.isEmpty && passErrors.isEmpty
    // Clobber-proof artifact paths (r14 verdict ask 2): Bench used to
    // write BENCH_VARIANCE.json / BENCH_FULL.json at fixed repo-cwd
    // paths, so ANY run — a smoke run at the wrong SF, the driver's
    // own round-end run — silently overwrote the committed
    // round-close artifacts (the r14 HEAD-pass vs working-tree-fail
    // split). Every run now writes config+timestamp-keyed files
    // under an output dir (SPARK_GRAFT_BENCH_OUT, default
    // bench_out/, which is gitignored); the round-close step COPIES
    // the blessed run to the canonical committed names. Two
    // consecutive runs can no longer overwrite each other.
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out"))
    try java.nio.file.Files.createDirectories(outDir)
    catch { case _: Throwable => }
    val cfgSafe = cfgKey.replaceAll("[^A-Za-z0-9]", "")
    // epoch stamp + a nanoTime uniquifier: two same-config runs
    // started within the same second must still get distinct artifact
    // names (r15 advisor — a 1 s stamp alone can collide and clobber)
    val stamp = s"${System.currentTimeMillis() / 1000L}-${
      java.lang.Long.toHexString(System.nanoTime() & 0xFFFFFFL)}"
    def outPath(base: String) =
      outDir.resolve(s"$base-$cfgSafe-$stamp.json")
    val adjJson = adjudication.map { case (k, v) =>
      "\"" + k + "\":\"" +
        v.replaceAll("[^\\x20-\\x7e]|[\"\\\\]", " ") + "\""
    }.mkString("{", ",", "}")
    val suspectJson = suspect.map { case (n, pin, sec) =>
      "\"" + n + "\":[" +
        "%.3f".formatLocal(java.util.Locale.ROOT, pin) + "," +
        "%.3f".formatLocal(java.util.Locale.ROOT, sec) + "]"
    }.mkString("{", ",", "}")
    val regressJson = regressed.map { case (n, pin, sec) =>
      "\"" + n + "\":[" +
        "%.3f".formatLocal(java.util.Locale.ROOT, pin) + "," +
        "%.3f".formatLocal(java.util.Locale.ROOT, sec) + "]"
    }.mkString("{", ",", "}")
    try {
      def pj(p: Seq[(String, Double, Long, Double, Double, Long)]) =
        p.sortBy(_._1).map {
          case (k, v, g, ld, ts, st) =>
            "\"" + k + "\":[" +
              "%.3f".formatLocal(java.util.Locale.ROOT, v) + "," + g + "," +
              "%.1f".formatLocal(java.util.Locale.ROOT, ld) + "," +
              "%.3f".formatLocal(java.util.Locale.ROOT, ts) + "," +
              st + "]"
        }.mkString("{", ",", "}")
      val memoJson = memoDetail.map { case (k, wall, task) =>
        "\"" + k + "\":[" +
          "%.3f".formatLocal(java.util.Locale.ROOT, wall) + "," +
          "%.3f".formatLocal(java.util.Locale.ROOT, task) + "]"
      }.mkString("{", ",", "}")
      val telJson = telemetryPoints.map { case (k, v) =>
        "\"" + k + "\":" + v }.mkString("{", ",", "}")
      // memo → consumer census: which queries actually read which
      // memo this run. Read it against memo_detail's per-memo cost
      // to price memo_build per consumer; a memo with ≤ 1 consumer
      // is a candidate to drop out of Prewarm into its one query.
      val consumersJson = graft.ops.Tables.memoConsumers().toSeq
        .sortBy(_._1).map { case (m, qs) =>
          "\"" + m + "\":[" + qs.map("\"" + _ + "\"").mkString(",") + "]"
        }.mkString("{", ",", "}")
      val healthJson = memoHealthPoints.map { case (k, v) =>
        "\"" + k + "\":" + v }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(
        outPath("BENCH_VARIANCE"),
        s"""{"unit":["sec","gc_ms","loadavg_1m","task_sec","steal_ms"],""" +
          s""""config":"$cfgKey","memo_build":${
            "%.3f".formatLocal(java.util.Locale.ROOT, memoSec)
          },"memo_build_task_sec":${
            "%.3f".formatLocal(java.util.Locale.ROOT, memoTaskSec)
          },"cdc_microbatch_latency_sec":${
            "%.3f".formatLocal(java.util.Locale.ROOT, cdcLatencySec)
          },"memo_detail_unit":["wall_sec","task_sec"]""" +
          s""","memo_detail":$memoJson,"telemetry":$telJson""" +
          s""","memo_health":$healthJson""" +
          s""","memo_consumers":$consumersJson""" +
          s""","regress_gate":"${if (gatePass) "pass" else "fail"}"""" +
          s""","regressed":$regressJson,"suspect":$suspectJson""" +
          s""","adjudication":$adjJson""" +
          (if (rerunQuints.isEmpty) ""
           else s""","rerun_unit":["sec","task_sec","steal_ms"],""" +
             s""""rerun":${rerunQuints.map { case (n, (sec, task, st)) =>
               "\"" + n + "\":[" +
                 "%.3f".formatLocal(java.util.Locale.ROOT, sec) + "," +
                 "%.3f".formatLocal(java.util.Locale.ROOT, task) + "," +
                 st + "]"
             }.mkString("{", ",", "}")}""") +
          (if (passErrors.nonEmpty) s""","errors":$errJson""" else "") +
          s""","sf":"$sfDir","pass1":${pj(pass1)}""" +
          (if (pass2.nonEmpty) s""","pass2":${pj(pass2)}""" else "") + "}\n")
    } catch { case _: Throwable => }
    // Graded line carries STEADY per-query values (r17, r16 verdict
    // ask 2): the line used to report raw pass-1 seconds, so a
    // driver-boot steal burst in pass 1 manufactured 16 phantom
    // "regressions" in PERF_r16.json while the gate's own steady
    // (min-of-passes) grading correctly read pass. The line now
    // reports exactly what BenchGate grades — per-query MIN over the
    // passes the entry appears in (bpe256_build runs in pass 1 only
    // and is graded on that pass alone; same union rule as
    // BenchGate.decide). Raw pass-1/pass-2 quintuples stay in the
    // variance sidecar, and the headline carries both totals:
    // "value" = steady sum (the graded number), "pass1_total" = the
    // old definition, kept for round-over-round comparability.
    val p2secs = pass2.map { case (n, sec, _, _, _, _) => n -> sec }.toMap
    val results0 = pass1.map { case (n, sec, _, _, _, _) =>
      n -> math.min(sec, p2secs.getOrElse(n, Double.MaxValue)) }
    val pass1Total =
      pass1.map(_._2).sum + memoSec
    val results = results0 :+ ("memo_build" -> memoSec)
    // Compact keys (qNN prefix) + 1-decimal per-query values keep the
    // JSON line inside the driver's 2000-byte stdout-tail capture
    // window as the suite grows past ~130 queries; 100 ms per-query
    // resolution is ample for grading while the headline total (first
    // in the line, so truncation can never eat it) keeps 3 decimals.
    // Colliding prefixes fall back to the full name so no timing is
    // silently dropped by duplicate JSON keys.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def f1(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    val prefixes = results.map(_._1.takeWhile(_ != '_'))
    val dup = prefixes.groupBy(identity).collect {
      case (p, vs) if vs.size > 1 => p
    }.toSet
    def render(rs: Seq[(String, Double)], fmt: Double => String = f1)
        : String = rs.map { case (k, v) =>
      val p = k.takeWhile(_ != '_')
      "\"" + (if (dup(p)) k else p) + "\":" + fmt(v)
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // failed queries surface on the headline line (names only — the
    // messages live in BENCH_VARIANCE.json), right after "value" so
    // the driver's 2000-byte tail capture can never truncate them off
    val errPart =
      if (passErrors.isEmpty) ""
      else s""","errors":[${passErrors.keys.map("\"" + _ + "\"")
        .mkString(",")}]"""
    // gate verdict rides the headline line too (right after "value",
    // inside the driver's tail-capture window) — a committed artifact
    // is self-describing on the regression gate (r12 verdict ask 2)
    val gatePart =
      s""","regress_gate":"${if (gatePass) "pass" else "fail"}"""" +
        (if (regressed.isEmpty) ""
         else s""","regressed":[${regressed.map("\"" + _._1 + "\"")
           .mkString(",")}]""") +
        // steal-downgraded names ride the headline too: a driver
        // artifact reading "pass" with downgrades is self-describing
        // about WHY it passed (the full excuse strings live in the
        // variance sidecar's "adjudication" object)
        (if (adjudication.isEmpty) ""
         else s""","downgraded":[${adjudication.keys.map("\"" + _ + "\"")
           .mkString(",")}]""")
    def assemble(qs: String) =
      s"""{"metric":"total","value":${f3(total)}$gatePart$errPart""" +
        s""","pass1_total":${f3(pass1Total)}""" +
        s""","cdc_latency_sec":${f3(cdcLatencySec)}""" +
        s""","unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    // Sidecar with the FULL per-query map at 3-decimal resolution
    // under the FULL query names (the stdout line below may fold
    // sub-0.1 s queries to fit the driver's 2000-byte capture
    // window) — committed per round so regressions in small queries
    // stay visible round-over-round (r8 verdict ask 8).
    try java.nio.file.Files.writeString(
      outPath("BENCH_FULL"),
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":""" +
        results.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + f3(v) }
          .mkString("{", ",", "}") + s""","sf":"$sfDir"}""" + "\n")
    catch { case _: Throwable => }
    // The capture window is 2000 bytes (measured: BENCH_r05.json
    // "tail" length); sbt's trailing "[success] ..." line eats ~70.
    // If the full per-query map would overflow, fold the sub-0.1 s
    // queries (no grading signal at 1-decimal resolution anyway) into
    // one "sub100ms" bucket — every slow query stays individually
    // visible and the line shrinks by an order of magnitude.
    val full = assemble(render(results))
    val line =
      if (full.length <= 1700) full
      else {
        val (slow, fast) = results.partition(_._2 >= 0.1)
        val folded =
          assemble(render(slow :+ ("sub100ms_total" -> fast.map(_._2).sum)))
        if (folded.length <= 1700) folded
        else {
          // second stage: keep only the slowest K individually (the
          // grading signal), fold everything else into one bucket —
          // K chosen as the largest that fits the window
          val ranked = results.sortBy(-_._2)
          val fits = Iterator.from(ranked.size, -5).map { k =>
            val (head, tail) = ranked.splitAt(math.max(k, 0))
            assemble(render(head.sortBy(_._1) :+
              ("rest_total" -> tail.map(_._2).sum)))
          }.find(_.length <= 1700)
          fits.getOrElse(assemble("{}"))
        }
      }
    if (line.length > 1800)
      System.err.println(
        s"WARN: bench JSON line is ${line.length} bytes (> 1800 of the " +
          "2000-byte driver capture window)")
    println(line)
    spark.stop()
  }
}
