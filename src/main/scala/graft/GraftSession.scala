package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session. `Bench` times, `Verify`
  * oracle-checks and `Probe` inspects queries under exactly this
  * config, so a timing and an oracle result always describe the same
  * plan. The benchmark's session (`perfbench/scala/perfbench/Main.scala`)
  * copies [[conf]] setting for setting; `SourceLintSpec` pins the two
  * together.
  *
  * `SPARK_GRAFT_CPUS` sets local[N] and N shuffle partitions;
  * nothing else here is read from the environment.
  */
object GraftSession {

  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt

  /** The tuned session settings, each beside the measurement that
    * chose it. */
  def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // Size post-shuffle partitions to the DATA, not the core count
    // (r13 verdict ask 1): with parallelismFirst (Spark's default)
    // AQE keeps one shuffle partition per core even when the whole
    // exchange is a few MB, so at SPARK_GRAFT_CPUS=32 every sub-GB
    // shuffle paid 32 tiny tasks of scheduling tax — q03/q07 ran
    // 3.3x/4.8x their local[4] pins with identical plans.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    // r16 re-measurement of the advisory size: 16m (the r13 pick)
    // over-coalesces CPU-dense small-byte exchanges into one task —
    // a low-cardinality window key like q176's 3-value flag
    // serializes a 2.2 task-sec sort onto one core (wall == CPU).
    // A 36-query sweep at 16m/8m/4m/2m (min-of-two warm runs,
    // summarized in OPTIMIZATION_r16.md) read 38.8 / 41.4 / 36.8 /
    // 55.9 s: 4m recovers the q176/q213-class parallelism without
    // 2m's task-explosion blowups (q160 8x). A production 100 TB
    // deployment sets 64m+ — partition BYTES per task should track
    // per-task CPU seconds, and at sf0.1 the corpus is ~100x denser
    // in CPU per byte than the TPC-H side.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m",
    // r16: the codegen hash-aggregate's two-level "fast map" first
    // level degenerates on this workload's grouping keys — md5-
    // derived hashes and packed (p1·2^32+p2) pair longs drive its
    // cheap first-level hash into linear probe storms (`Probe
    // metrics`: avgHashProbe 144 on q205's pair count, 480 on its
    // partial agg, 70 on q128 — healthy is ~1-2). Disabling the
    // first level falls back to the robust
    // UnsafeFixedWidthAggregationMap: interleaved min-of-3 A/B over
    // 16 agg-heavy queries read 14.7 s vs 17.1 s (-14%), no query
    // regressing. Key-shape is a property of the workload, not the
    // scale factor — the same keys degenerate identically at 100 TB.
    "spark.sql.codegen.aggregate.map.twolevel.enabled" -> "false",
    // r17: at <= 200 shuffle partitions Spark's bypass-merge shuffle
    // writer opens ONE FILE PER REDUCE PARTITION per map task — at
    // local[32] that is 1024 file create/close cycles per exchange,
    // measured 150-200 ms of executorRunTime per map task for
    // KB-scale shuffles (a single 260k-row exchange read 5-7.4
    // task-sec; threshold 1 reads 0.9-2.1, wall 0.40 -> 0.27 s;
    // OPTIMIZATION_r17.md). This was the bulk of the r16 "task-sec is
    // 10-100x napkin math" anomaly. Threshold 1 routes every exchange
    // through the serialized UnsafeShuffleWriter (one spill file +
    // index per task) — the SAME writer a production >200-partition
    // deployment uses, so this config ALIGNS local mode with the
    // 100 TB path rather than tuning away from it.
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    // r17 A/B, rejected: letting AQE re-partition cached plans
    // starves the CPU-dense memos; `Tables.cacheSized` sizes the
    // small memos instead.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** The session at [[cpus]] cores. `getOrCreate`: a second call in
    * the same JVM returns the running session. */
  def apply(): SparkSession = {
    val n = cpus
    val b = SparkSession.builder().master(s"local[$n]")
    conf(n).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
