package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Shared helpers for the query library.
  *
  * Conventions (required for the DuckDB oracle hash-compare):
  *  - every computed column is explicitly aliased, identically in the
  *    Spark plan and the oracle SQL;
  *  - floating aggregates are `round`-ed identically on both sides
  *    (sum-of-doubles bit patterns differ by accumulation order);
  *  - `events.ts` is µs-precision NTZ parquet; timestamps are always
  *    reduced to whole seconds (`ts_sec`) before use;
  *  - every query ends in a deterministic total order.
  */
object Tables {
  /** PLAN-level memo of the base-table readers, keyed
    * (session, dir/name) — NOT a data cache (nothing is persisted;
    * every action still scans parquet). `spark.read.parquet` pays a
    * driver-side file listing + footer schema read on every call, and
    * the bench's ~310 queries × 2 passes × several tables each made
    * that the single largest slice of per-query DataFrame-construction
    * time (r16 `Probe metrics`: 45 s of build across a 180 s warm
    * suite). Reusing the resolved relation removes the repeated
    * listing/inference; safe because a dataset dir is immutable for
    * the life of a session (fixtures that rewrite files use their own
    * store paths, never these readers). Bounded LRU so a long-lived
    * multi-session service cannot pin sessions. */
  private val relMemo =
    new java.util.LinkedHashMap[(SparkSession, String), DataFrame](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DataFrame])
          : Boolean = size > 256
    }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    relMemo.synchronized {
      val k = (spark, s"$dir/$name.parquet")
      val hit = relMemo.get(k)
      if (hit != null) hit
      else {
        val v = spark.read.parquet(k._2)
        relMemo.put(k, v)
        v
      }
    }

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** events with the timestamp→whole-second normalization applied once.
    *
    * The parquet `ts` column is TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * → `TimestampNTZType`. `ts_sec` (whole seconds since epoch) is
    * derived with calendar-field arithmetic — `unix_date`/`hour`/
    * `minute`/`second` are all wall-clock functions on NTZ values, so
    * the result is independent of the session time zone (an NTZ→TZ
    * cast would silently bake the driver's zone into the data). The
    * DuckDB oracle reads the same micros as a naive TIMESTAMP and
    * applies `epoch(date_trunc('second', ts))` — identical values.
    * `hour_ts` stays NTZ (`date_trunc` on NTZ is wall-clock), matching
    * the oracle's naive `date_trunc('hour', ts)` byte-for-byte.
    */
  def events(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .withColumn("ts_sec", expr(
        "unix_date(cast(ts AS date)) * 86400L + hour(ts) * 3600L + " +
          "minute(ts) * 60L + second(ts)"))
      .withColumn("hour_ts", date_trunc("hour", col("ts")))

  /** Fan a narrow input out across the cluster before a CPU-heavy
    * per-row stage (wire-format encode/decode, parsing). A small
    * parquet file scans as ONE input split, which would run the
    * expensive stage single-threaded no matter how many cores exist;
    * an explicit round-robin repartition to `spark.sql.shuffle
    * .partitions` costs one cheap shuffle of the skinny rows and buys
    * full parallelism. At 100 TB the scan already yields thousands of
    * splits, where this keeps partition counts aligned with the
    * cluster instead of the file layout. */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  def r2(c: Column): Column = round(c, 2)
  def r4(c: Column): Column = round(c, 4)
  def r6(c: Column): Column = round(c, 6)

  /** Small LRU memo for per-(session, dataset) materialized
    * DataFrames (shared shingle/token/pair indexes). Bounded: evicting
    * an entry unpersists its cached blocks, so a long-lived driver
    * cycling over many sessions/datasets cannot pin storage without
    * limit. NB Spark's CacheManager keys cache entries by LOGICAL
    * PLAN — two memo entries whose frames share a plan would share
    * one storage entry, and evicting either unpersists both. Memo
    * keys here are (session, sf-dir) with per-key distinct plans, so
    * entries never alias (TablesSpec documents the hazard). */
  private[ops] final class DfMemo(val name: String, max: Int = 8) {
    dfMemos.put(name, this)
    private val m =
      new java.util.LinkedHashMap[(SparkSession, String), DataFrame](
        16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(SparkSession, String), DataFrame])
            : Boolean =
          if (size > max) {
            try e.getValue.unpersist(false)
            catch { case _: Exception => () }
            true
          } else false
      }

    def getOrElseUpdate(k: (SparkSession, String))(
        build: => DataFrame): DataFrame = {
      recordTouch(name)
      m.synchronized {
        val hit = m.get(k)
        if (hit != null) hit
        else {
          val v = build
          m.put(k, v)
          v
        }
      }
    }

    /** Snapshot of this memo's entries for one session — the bench's
      * memo-health probe walks these. */
    private[graft] def entriesFor(s: SparkSession)
        : Seq[(String, DataFrame)] = m.synchronized {
      import scala.jdk.CollectionConverters._
      m.entrySet().asScala.toSeq.collect {
        case e if e.getKey._1 eq s => (e.getKey._2, e.getValue)
      }
    }
  }

  // ------------------------------------------------------------------
  // Memo registry + health probe
  // ------------------------------------------------------------------

  /** name → instance for every [[DfMemo]] ever constructed (module
    * constants, so registration happens at class load). Two readers:
    * [[memoHealth]] (the bench's per-pass cache-health probe — r12
    * verdict ask 1b: a driver artifact must NAME the mechanism behind
    * a per-query inversion, and "the memo was dropped" is the prime
    * suspect to confirm or rule out) and MemoRegistrySpec (r12 ask 7:
    * every registered memo must be built by a Prewarm chain — a
    * lazily-built memo is untimed, unbudgeted, and invisible to
    * memo_detail). */
  private[graft] val dfMemos =
    new java.util.concurrent.ConcurrentHashMap[String, DfMemo]()

  /** Names of every [[StatMemo]] (scalar memos hold no health-probeable
    * frame, but the completeness spec still enumerates them). */
  private[graft] val statMemoNames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** One health row per registered (memo, sf-dir) entry of this
    * session: `cached` = the plan is still registered in the
    * CacheManager (public `Dataset.storageLevel`); `countSec` = a
    * re-count of the relation. A MATERIALIZED memo counts in
    * milliseconds; a dropped or invalidated one (unpersisted, or
    * lazily re-cached after a path write) pays its rebuild HERE —
    * visible in the artifact, named by memo, and repaired before the
    * next pass times queries against it. */
  private[graft] def memoHealth(s: SparkSession)
      : Seq[(String, String, Boolean, Double)] = {
    import scala.jdk.CollectionConverters._
    dfMemos.values.asScala.toSeq.sortBy(_.name).flatMap { memo =>
      memo.entriesFor(s).map { case (dir, df) =>
        // "materialized" has two healthy forms: registered in the
        // CacheManager (Dataset.cache), or a localCheckpoint-backed
        // plan (LogicalRDD — the iterative kernels' fixpoint result,
        // e.g. clusterLabels, whose lineage was deliberately cut)
        val cached =
          df.storageLevel != org.apache.spark.storage.StorageLevel.NONE ||
            df.queryExecution.logical.find(
              _.getClass.getSimpleName == "LogicalRDD").isDefined
        val t0 = System.nanoTime()
        try df.count()
        catch { case scala.util.control.NonFatal(_) => }
        (memo.name, dir, cached, (System.nanoTime() - t0) / 1e9)
      }
    }
  }

  /** Governed companion to [[DfMemo]] for session-keyed SCALAR stats
    * (e.g. a dimension row count used for bloom sizing). Same keying
    * and bound discipline — a long-lived multi-session service must
    * not pin SparkSessions through an unbounded raw map; LRU eviction
    * releases the session reference. Values that hold cached frames
    * (e.g. the BPE memo's session-cached merge relation) pass an
    * `onEvict` hook so eviction also releases executor storage — a
    * plain scalar memo leaves it at the no-op default (r11 advisor
    * finding: evicting a cached-DataFrame value without unpersisting
    * leaks the blocks in a long-lived multi-session service). */
  private[ops] final class StatMemo[V](name: String, max: Int = 64,
      onEvict: V => Unit = (_: V) => ()) {
    statMemoNames.add(name)
    private val m =
      new java.util.LinkedHashMap[(SparkSession, String), V](
        16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(SparkSession, String), V]): Boolean =
          if (size > max) {
            try onEvict(e.getValue) catch { case _: Exception => () }
            true
          } else false
      }

    def getOrElseUpdate(k: (SparkSession, String))(build: => V): V = {
      recordTouch(name)
      m.synchronized {
        val hit = m.get(k)
        if (hit != null) hit
        else { val v = build; m.put(k, v); v }
      }
    }
  }

  // ------------------------------------------------------------------
  // Memo → consumer census (r14 verdict ask 3)
  // ------------------------------------------------------------------

  /** The consumer label (query name) charged for memo touches on this
    * thread — set by the harness around each query; `null` outside
    * one (prewarm, specs). Thread-local because Prewarm builds chains
    * on pool threads concurrently with nothing. */
  private val consumerLabel = new ThreadLocal[String]

  /** (memo, consumer) touch pairs observed this session. Bounded:
    * O(memos × queries) keys of short strings. */
  private val touches =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  private def recordTouch(memo: String): Unit = {
    val c = consumerLabel.get()
    if (c != null) { touches.add((memo, c)); () }
  }

  /** Run `f` with memo touches attributed to `name`. The census this
    * builds answers "which queries read which memo" — the attribution
    * a 25 s memo_build line needs before any memo can be demoted to
    * lazy build-on-first-touch (a memo with ≤ 1 consumer taxes every
    * OTHER query's prewarm for nothing). */
  def withConsumer[T](name: String)(f: => T): T = {
    val old = consumerLabel.get()
    consumerLabel.set(name)
    try f finally {
      if (old == null) consumerLabel.remove() else consumerLabel.set(old)
    }
  }

  /** memo → sorted consumer names observed so far this session. */
  def memoConsumers(): Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    touches.asScala.toSeq.groupBy(_._1)
      .map { case (m, ps) => m -> ps.map(_._2).distinct.sorted }
  }

  // ------------------------------------------------------------------
  // Per-query transient caches
  // ------------------------------------------------------------------
  private val transients =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** `.tcache()` = `.cache()` + register as a PER-QUERY transient for
    * [[dropTransientCaches]]. Session-lifetime memos ([[DfMemo]]) own
    * their eviction; every other cached frame is scoped to one query
    * and must not accumulate in executor storage memory across a
    * multi-hundred-query bench session (the r8 advisor finding:
    * untracked per-query caches pile up and squeeze the shared
    * memos). Harmless to double-drop — unpersist is idempotent. */
  private[ops] implicit final class TransientCacheOps(
      private val df: DataFrame) extends AnyVal {
    def tcache(): DataFrame = { val c = df.cache(); transients.add(c); c }
  }

  /** Cache a session memo at a partition count sized to its DATA
    * (r17): memos cached under the session's static 32-partition
    * layout make every consumer map stage launch 32 tasks — for a
    * KB-scale dimension (the near-dup pair graph, per-doc signature
    * tables) that is pure fixed overhead ×32 ×consumers (q160's whole
    * 18.9 task-sec was this; `Probe metrics` puts the suite floor at
    * ~40 ms/job dominated by task dispatch). AQE cannot re-lay cached
    * plans (output partitioning pinned by default, and the global
    * canChangeCachedPlanOutputPartitioning flag was A/B'd and
    * rejected — it also starves the CPU-dense memos). So: materialize,
    * COUNT (the memo's first consumer pays this once per session),
    * and below `maxLocal` rows re-cache at one partition per
    * `rowsPerPart` rows; past the bound the build's layout and
    * parallelism stand — a 100 TB relation keeps its thousands of
    * partitions. */
  private[ops] def cacheSized(df: DataFrame, rowsPerPart: Long = 65536L,
      maxLocal: Long = graft.GraftConf.LocalMax): DataFrame = {
    val built = df.cache()
    val n = built.count()
    if (n <= maxLocal) {
      val resized = built
        .repartition(math.max(1L, n / rowsPerPart + 1L).toInt)
        .cache()
      resized.count()
      built.unpersist(false)
      resized
    } else built
  }

  /** Bounded kernel-dispatch probe (r16 verdict "what's wrong"): is
    * `df`'s cardinality ≤ `max`, decided WITHOUT a full pass. The
    * plain `df.count() <= max` the r16 kernels shipped with runs a
    * complete pass over the edge/vocab relation on every dispatch —
    * free on a cached bench memo, but at 100 TB a full read of the
    * relation before the real work starts. `limit(max + 1)` puts a
    * LocalLimit under the count, so every scan task stops after
    * max + 1 rows and the probe's cost is bounded by the dispatch
    * threshold itself, not the data. min(count, max+1) compares to
    * max exactly like the full count did — same dispatch decision. */
  private[ops] def fitsLocal(df: DataFrame, max: Long): Boolean =
    if (max >= Int.MaxValue - 1L) df.count() <= max
    else df.limit(max.toInt + 1).count() <= max

  /** Driver-loop guard for the iterative kernels (greedy cover,
    * histogram bisection, MMR, per-group moments): their per-round
    * coordination state comes to the driver via collect(), and the
    * 100 TB contract is that this state is O(groups)/O(queries) —
    * NEVER O(corpus). The guard enforces the contract at runtime:
    * the plan is truncated at `max + 1` rows (so even a regressed
    * unbounded plan cannot materialize the corpus driver-side) and
    * anything past the budget fails loudly instead of silently
    * becoming a driver bottleneck. ScalingSpec pins one budget per
    * kernel. */
  private[ops] def boundedCollect(df: DataFrame, max: Int,
      what: String): Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(max + 1).collect()
    require(rows.length <= max,
      s"$what: driver-side collect exceeded its $max-row budget — " +
        "per-round coordination state must stay O(groups), not O(corpus)")
    rows
  }

  /** Promote a frame OUT of the transient registry — for loop kernels
    * that tcache every round but whose FINAL state becomes a
    * session-lifetime memo (the round count isn't known up front when
    * the loop can terminate early, so the caller can't choose
    * cache-vs-tcache at build time). The memo's own eviction hook
    * owns the unpersist from here on. */
  private[ops] def promoteTransient(df: DataFrame): Unit = {
    transients.remove(df); ()
  }

  /** Unpersist every transient registered since the last call. The
    * harness (Verify / Bench) calls this between queries, AFTER each
    * query materializes — inside a query the transient is live (it
    * exists because the plan consumes it more than once). */
  def dropTransientCaches(): Unit = {
    var d = transients.poll()
    while (d != null) {
      try d.unpersist(false)
      catch { case _: Exception => () }
      d = transients.poll()
    }
  }
}
