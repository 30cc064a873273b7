package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 curation operators: the remaining corpus-maintenance
  * surface a training-data pipeline runs between ingest and packing —
  * winnowing fingerprints (the MOSS scheme: position-robust local
  * fingerprint selection, a different guarantee than q26's minhash or
  * q27's simhash), distribution-drift monitoring between cohorts
  * (total-variation distance kept in exact integer arithmetic),
  * robust outlier screening (median/MAD instead of q88's
  * mean/stddev, so the screen itself is not dragged by the outliers
  * it hunts), and padding-waste accounting for length-bucketed batch
  * shaping (the cost model behind q66's sequence packing).
  *
  * Determinism conventions as elsewhere: integer arithmetic wherever
  * accumulation order could matter, medians by explicit rank (no
  * interpolation — two engines' `lo + (hi-lo)*f` vs `(lo+hi)/2`
  * disagree in the last ulp), every query ends in a total order.
  */
object Curation {
  import Tables._
  import Text.{toksSql, withToks, h32Sql}

  /** Morton/Z-value bit interleave of two 8-bit coordinates, written
    * with pure integer arithmetic (bit i of v = (v/2^i) mod 2) so the
    * identical formula runs on both engines — `div` is the
    * engine-specific integer-division spelling (Spark `DIV`, DuckDB
    * `//`). */
  /** Winnowing fingerprint selection (k=3-token grams, w=4 windows)
    * over a (doc_id, toks) relation → distinct (doc_id, fp) rows. All
    * map-side: gram hashing, window minima, and the per-doc distinct
    * happen inside the row before the explode. Guarantee under test
    * in WinnowingSpec: docs sharing a run of >= w + k - 1 = 6 tokens
    * share a fingerprint. */
  // winnowing prints memoized per (session, sf-dir): q148, q155 and
  // q158 all start from the same (doc_id, fp) relation — materialize
  // it once per session like the shingle/tf indexes in Text
  private val winnowCache = new Tables.DfMemo("winnow")

  private[ops] def winnowPrints(s: SparkSession, d: String): DataFrame =
    winnowCache.getOrElseUpdate((s, d)) {
      graft.cdc.GraftFunctions.register(s)
      // data-sized cache layout (Tables.cacheSized): token-linear rows
      Tables.cacheSized(winnowFingerprints(
        withToks(s, d).select(col("doc_id"), col("toks"))))
    }

  private[ops] def winnowFingerprints(toks: DataFrame): DataFrame =
    toks.filter(size(col("toks")) >= 6)
      .select(col("doc_id"), expr(
        "transform(sequence(0, size(toks)-3), i -> " +
          "md5_h32(concat_ws(' ', toks[i], toks[i+1], toks[i+2])))")
        .as("hs"))
      .select(col("doc_id"), array_distinct(
        expr("sliding_min(hs, 4)")).as("fps"))
      .select(col("doc_id"), explode(col("fps")).as("fp"))

  /** The q153/q159 BPE merge loop: given a relation carrying a
    * '|'-bounded token string `s` and an instance count `cnt` (plus
    * any rider columns), run `rounds` argmax-merge rounds and return
    * the rewritten relation plus (round, pair, count) picks. Pair
    * counts are corpus-global (weighted by cnt); only the 1-row
    * argmax reaches the driver per round. */
  private[ops] val bpeSeqCol: Column =
    expr("filter(split(s, '\\\\|'), x -> x != '')")

  private[ops] def bpeMergeRounds(df0: DataFrame, rounds: Int,
      finalTransient: Boolean = true)
      : (DataFrame, Seq[(Int, String, Long, Long)]) = {
    val s = df0.sparkSession
    // r16 optimization (guide §1.2/§2.4): the merge loop's per-round
    // Spark job is pure overhead at any realistic vocabulary — the
    // (word, cnt) relation is VOCAB-bounded, not corpus-bounded, so
    // up to a configured size the whole loop runs as ONE single-task
    // job via the in-memory kernel (picks are bit-identical —
    // BpeTrainSpec diffs kernel vs distributed loop vs reference, and
    // the q304/q305/q306 oracle rows pin the output at both SFs).
    // Past the bound (a corpus whose aggregated vocabulary exceeds
    // one task's memory) the distributed per-round loop below remains
    // the scale path.
    val localMax = graft.GraftConf.BpeLocalVocabMax.get(s)
    val nWords = boundedCollect(df0.groupBy(col("s")).agg(
        sum(col("cnt")).as("cnt"))
        .agg(count(lit(1)).as("nw")), 1, "BPE vocab size")(0).getLong(0)
    if (nWords <= localMax) {
      val agg = df0.groupBy(col("s")).agg(sum(col("cnt")).as("cnt"))
      val picksDf = {
        val ss = s; import ss.implicits._
        agg.as[(String, Long)].coalesce(1)
          .mapPartitions(it => BpeKernel.train(it, rounds).iterator)
          .toDF("round", "pair", "c", "toks")
      }
      val picks = boundedCollect(picksDf, rounds, "BPE picks")
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSeq
      // final state = lazy replay of the pick literals over the
      // caller's base relation — deterministic and recomputable (the
      // exact frame the distributed loop's checkpoint-release path
      // hands back); the shared memo (finalTransient = false) caches
      // it session-lifetime since q159 aggregates it
      val fin0 = bpeReplayMerges(df0, picks.map(_._2))
      val fin = if (finalTransient) fin0 else fin0.cache()
      (fin, picks)
    } else bpeMergeRoundsDistributed(df0, rounds, finalTransient)
  }

  /** The distributed per-round merge loop — the scale path for
    * vocabularies past `spark.graft.bpe.localVocabMax`, and the
    * reference the kernel is spec-diffed against. */
  private[ops] def bpeMergeRoundsDistributed(df0: DataFrame, rounds: Int,
      finalTransient: Boolean = true)
      : (DataFrame, Seq[(Int, String, Long, Long)]) = {
    def pairCounts(cur: DataFrame): DataFrame =
      cur.select(bpeSeqCol.as("seq"), col("cnt"))
        .filter(size(col("seq")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(seq)-2), i -> " +
            "concat_ws(' ', seq[i], seq[i+1]))")).as("pair"),
          col("cnt"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("c"))
    // Fused per-round probe (r15, for the V=256 loop where job count
    // IS the runtime): argmax pair and the total pair-occurrence
    // count land in ONE aggregation job. The argmax rides
    // min(struct(-c, pair)) — lexicographic struct ordering gives
    // (count desc, pair asc), the exact ORDER BY c DESC, pair LIMIT 1
    // tie-break the oracle replays. And because per-word tokens =
    // pairs + 1, round r-1's corpus token total is just
    // totalPairs(s_{r-1}) + Σcnt — which round r's probe computes
    // anyway — so each pick's `toks` closes out at the NEXT probe
    // (one final probe after the loop prices the last round). Values
    // are bit-identical to the former two-job loop; q153/q159's
    // oracle pins that.
    val tcRow = boundedCollect(
      df0.agg(sum(col("cnt")).as("tc")), 1, "BPE instance total")(0)
    val totalCnt = if (tcRow.isNullAt(0)) 0L else tcRow.getLong(0)
    var cur = df0.tcache()
    var curCk = false // is `cur` localCheckpoint-backed (lineage cut)?
    var prev: DataFrame = null
    val picks =
      scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long)]()
    var pending: Option[(Int, String, Long)] = None
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val probe = boundedCollect(pairCounts(cur)
        .agg(min(struct((-col("c")).as("nc"), col("pair").as("p")))
          .as("m"), sum(col("c")).as("tp")), 1, "BPE merge probe")(0)
      // this probe materialized cur's cache; the round-before-last
      // frame can release its blocks now (not earlier: cur's plan
      // reads it)
      if (prev != null) { prev.unpersist(false); prev = null }
      val tp = if (probe.isNullAt(1)) 0L else probe.getLong(1)
      pending.foreach { case (pr, pp, pc) =>
        picks += ((pr, pp, pc, tp + totalCnt)); () }
      pending = None
      if (probe.isNullAt(0)) done = true // vocab exhausted: every word
        // is one symbol — a bounded V=256 run on a small vocabulary
        // terminates here, matching the oracle chain whose empty
        // argmax relations produce no further pick rows
      else {
        val m = probe.getStruct(0)
        val (pair, c) = (m.getString(1), -m.getLong(0))
        // merge tokens are [a-z] only (the tokenizer strips the
        // rest), so inlining them into the literal replace is
        // injection-safe
        val pat = "|" + pair.replace(" ", "|") + "|"
        val rep = "|" + pair.replace(" ", "") + "|"
        val nextRaw = cur.withColumn("s", expr(
          s"replace(replace(s, '$pat', '$rep'), '$pat', '$rep')"))
        // Lineage cut every 8 rounds (measured necessity, not
        // hygiene): each round's plan nests the previous round's
        // InMemoryRelation, and AQE re-renders the FULL plan string
        // on every update — at ~90 rounds that stringification alone
        // OOMed a 4 GB driver before any data moved. An eager
        // localCheckpoint resets the plan to a LogicalRDD leaf, so
        // plan depth (and its string) stays bounded by the cut
        // period. The checkpointed RDDs (vocab-sized, ~11 per full
        // run) live until session end — bounded, documented cost.
        val ck = r % 8 == 0
        val next =
          if (ck) nextRaw.localCheckpoint(true)
          else nextRaw.tcache()
        pending = Some((r, pair, c))
        prev = cur
        cur = next
        curCk = ck
      }
      r += 1
    }
    // price the final round (one probe over the final relation, which
    // also materializes it)
    pending.foreach { case (pr, pp, pc) =>
      val fin = boundedCollect(cur.agg(
        sum(col("cnt") * (size(bpeSeqCol) - 1)).as("tp")),
        1, "BPE final total")(0)
      val tp = if (fin.isNullAt(0)) 0L else fin.getLong(0)
      if (prev != null) { prev.unpersist(false); prev = null }
      picks += ((pr, pp, pc, tp + totalCnt)); ()
    }
    // the final state may be a session memo (q153 + q159 share one,
    // q304/q305/q306 another), which must survive the per-query
    // transient-cache drop: promote it out of the transient registry
    if (!finalTransient) promoteTransient(cur)
    // r15 advisor: when the FINAL merge round lands on a multiple of 8
    // the final state is checkpoint-backed — executor blocks that
    // dropTransientCaches cannot release (and a localCheckpoint is
    // unrecomputable once its blocks drop, so merely registering it
    // as a transient would poison any later consumer). Honor the
    // finalTransient "must not stay pinned" contract directly:
    // release the checkpoint blocks NOW and hand back the same final
    // state as a LAZY replay of the collected pick literals over the
    // caller's base relation — deterministic, unmaterialized, and
    // recomputable by any future consumer.
    val result =
      if (finalTransient && curCk) {
        releaseCheckpointBlocks(cur)
        bpeReplayMerges(df0, picks.map(_._2).toSeq)
      } else cur
    (result, picks.toSeq)
  }

  /** Release the executor storage blocks behind a
    * localCheckpoint-backed frame. The RDD behind a LogicalRDD leaf is
    * reached reflectively (the node class is `private[sql]`); failures
    * degrade to a no-op — the blocks then live until the
    * ContextCleaner collects the unreferenced RDD, the pre-fix
    * behavior. ONLY call on a frame about to be discarded: a dropped
    * localCheckpoint cannot be recomputed. */
  private def releaseCheckpointBlocks(df: DataFrame): Unit =
    try df.queryExecution.logical.foreach { node =>
      if (node.getClass.getSimpleName == "LogicalRDD")
        node.getClass.getMethod("rdd").invoke(node) match {
          case r: org.apache.spark.rdd.RDD[_] => r.unpersist(false); ()
          case _ => ()
        }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Lang-carrying BPE state after the 3 learned merges — ONE
    * training run shared by q153 (reports the picks) and q159 (the
    * per-lang fertility census). Sound because the argmax picks are
    * corpus-GLOBAL and invariant to the lang split: pair counts
    * aggregate over all rows either way, so the merge sequence — and
    * q153's (pair, count, corpus_toks) rows — are identical whether
    * the word-count relation carries lang or not (q159's long-standing
    * premise, now the sharing contract). Memo rows: one per
    * (lang, word) — vocab-bounded, ScalingSpec-pinned; the final
    * relation is a SESSION cache (not a transient), so it survives
    * the per-query cache drop that scopes ordinary query state. */
  private val bpeCache =
    new Tables.StatMemo[(DataFrame, Seq[(Int, String, Long, Long)])]("bpe",
      // the value carries a session-cached relation: release its
      // storage blocks when the LRU evicts the entry
      onEvict = v => { v._1.unpersist(false); () })

  private[ops] def bpeSharedMerges(s: SparkSession, d: String)
      : (DataFrame, Seq[(Int, String, Long, Long)]) =
    bpeCache.getOrElseUpdate((s, d)) {
      val base = Text.docTermFreq(s, d)
        .groupBy(col("lang"), col("tok").as("word"))
        .agg(sum(col("tf")).as("cnt"))
        .select(col("lang"), concat(lit("|"),
          regexp_replace(col("word"), "(.)", "$1|")).as("s"), col("cnt"))
      bpeMergeRounds(base, 3, finalTransient = false)
    }

  private def zvalSql(div: String): String =
    (0 until 8).map(i =>
      s"((xb $div ${1 << i}) % 2) * ${1L << (2 * i)}" +
        s" + ((yb $div ${1 << i}) % 2) * ${1L << (2 * i + 1)}")
      .mkString(" + ")

  // ---- q277's forget-cascade seed (FIXTURES.md §4; fresh prefix
  // zf*). The synthetic corpus has NO orphaned exact-dup group at
  // either SF (checked offline: sf0.01 has zero dup groups at all),
  // so without a seed the census's n_orphaned_dups column would be
  // all-zero and a bug in the canonical-forgotten test would still
  // hash-match. Ids pre-picked offline for the md5_h32(id) % 17 == 3
  // forget split: 950000058 / 950000068 are forgotten, 59/60/61
  // survive. Group A (zfa): forgotten CANONICAL 58 + survivor 59 —
  // the orphaned cell, and 58's grams all survive through 59 (the
  // zero-exclusivity cell). Group B (zfb): 60+61 both survive — an
  // intact dup group the orphan test must NOT count. Lone 68 (zfc):
  // forgotten unique doc — every gram exclusive (5 of them).
  private def zfRun(p: String, n: Int): String =
    (0 until n).map(i => p + ('a' + i).toChar).mkString(" ")
  private val zfA = zfRun("zfa", 12)
  private val zfB = zfRun("zfb", 12)
  private val zfC = zfRun("zfc", 12)
  private[graft] val forgetFixRows: Seq[(Long, String, String)] = Seq(
    (950000058L, zfA, "zfix"), (950000059L, zfA, "zfix"),
    (950000060L, zfB, "zfix"), (950000061L, zfB, "zfix"),
    (950000068L, zfC, "zfix"))
  private[graft] def forgetFixDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    forgetFixRows.toDF("doc_id", "text", "source")
  }
  private def forgetFixValuesSql: String =
    forgetFixRows.map { case (id, t, src) => s"($id, '$t', '$src')" }
      .mkString(", ")

  val defs: Seq[QueryDef] = Seq(

    // ---- q148: winnowing fingerprints (MOSS) ----------------------
    // Schleimer/Wilkerson/Aiken 2003 local fingerprinting: hash every
    // k-token gram, then keep the MINIMUM hash of each w-hash window.
    // Guarantee: any shared token run of >= w + k - 1 tokens yields a
    // shared fingerprint — position-robust where q24's whole-doc
    // fingerprint is not, and span-anchored where minhash is global.
    // Scale shape: fingerprints are selected map-side (transform +
    // slice + array_min inside the row), deduped map-side
    // (array_distinct), and pairs are generated inside fingerprint
    // buckets (one shuffle on the fingerprint key, the LSH-band
    // pattern of q26) — never a corpus cross join. Buckets with more
    // than 20 docs are boilerplate fingerprints and are dropped, the
    // standard MOSS prune; the cap also bounds in-bucket pair fanout.
    QueryDef(
      "q148_winnowing_fingerprints",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE len($toksSql) >= 6),
         |hs AS (SELECT doc_id, i,
         |    ${h32Sql("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")} AS h
         |  FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)),
         |fpw AS (SELECT doc_id, i,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         |    count(*) OVER (PARTITION BY doc_id) AS nh
         |  FROM hs),
         |fps AS (SELECT DISTINCT doc_id, fp FROM fpw WHERE i + 3 <= nh),
         |keep AS (SELECT fp FROM fps GROUP BY fp
         |  HAVING count(*) BETWEEN 2 AND 20)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(count(*) AS BIGINT) AS shared_fps
         |FROM fps a JOIN fps b USING (fp) JOIN keep USING (fp)
         |WHERE a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 3
         |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val fps = winnowPrints(s, d)
      // pair fanout via the native pair_pack kernel (r17, same move
      // as q205): the struct-building flatten(transform(transform))
      // chain evaluated interpreted; pair_pack is one codegen'd loop
      // into a primitive long[]. doc_ids (corpus ≤ ~5e3 per SF,
      // fixtures ≤ 9.1e8) are int32-bounded, so the pack/unpack
      // round-trip is exact and the (d1, d2) group keys — and counts —
      // are identical.
      fps.groupBy(col("fp"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")).between(2, 20))
        .select(explode(
          graft.cdc.GraftFunctions.pair_pack(col("ds"))).as("pk"))
        .groupBy(col("pk"))
        .agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= 3)
        .select(expr("pk DIV 4294967296L").as("d1"),
          expr("pk % 4294967296L").as("d2"), col("shared_fps"))
        .orderBy(col("d1"), col("d2"))
    },

    // ---- q150: cohort drift via total-variation distance ----------
    // Production drift monitor between two event cohorts (even/odd
    // event_id — the deterministic A/B split), per event type over 10
    // fixed value bins. TVD is kept EXACT: with totals totp/totq, the
    // per-bin term |p_i - q_i| = |cp_i*totq - cq_i*totp| / (totp*totq)
    // — so sum the integer numerators and divide once at the end.
    // No doubles anywhere: the metric is reproducible bit-for-bit
    // under any partitioning. One shuffle (type,bin), one (type).
    QueryDef(
      "q150_drift_tvd",
      """WITH b AS (SELECT event_type,
        |    CASE WHEN CAST(floor(value / 25) AS BIGINT) > 9 THEN 9
        |      ELSE CAST(floor(value / 25) AS BIGINT) END AS bin,
        |    CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS cp,
        |    CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS cq
        |  FROM events),
        |cnt AS (SELECT event_type, bin,
        |    sum(cp) AS np, sum(cq) AS nq
        |  FROM b GROUP BY event_type, bin),
        |tot AS (SELECT event_type, sum(np) AS totp, sum(nq) AS totq
        |  FROM cnt GROUP BY event_type)
        |SELECT event_type,
        |  CAST(totp AS BIGINT) AS n_even, CAST(totq AS BIGINT) AS n_odd,
        |  CAST(sum(abs(np * totq - nq * totp)) AS BIGINT) AS tvd_num,
        |  CAST(sum(abs(np * totq - nq * totp)) * 1000
        |    // (2 * totp * totq) AS BIGINT) AS tvd_milli
        |FROM cnt JOIN tot USING (event_type)
        |GROUP BY event_type, totp, totq
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val b = events(s, d).select(col("event_type"),
        least(lit(9L), floor(col("value") / 25).cast("long")).as("bin"),
        when(col("event_id") % 2 === 0, 1L).otherwise(0L).as("cp"),
        when(col("event_id") % 2 === 1, 1L).otherwise(0L).as("cq"))
      val cnt = b.groupBy(col("event_type"), col("bin"))
        .agg(sum(col("cp")).as("np"), sum(col("cq")).as("nq"))
      val tot = cnt.groupBy(col("event_type"))
        .agg(sum(col("np")).as("totp"), sum(col("nq")).as("totq"))
      cnt.join(tot, "event_type")
        .groupBy(col("event_type"), col("totp"), col("totq"))
        .agg(sum(abs(col("np") * col("totq") - col("nq") * col("totp")))
          .as("num"))
        .select(col("event_type"),
          col("totp").as("n_even"), col("totq").as("n_odd"),
          col("num").as("tvd_num"),
          expr("num * 1000 DIV (2 * totp * totq)").as("tvd_milli"))
        .orderBy(col("event_type"))
    },

    // ---- q152: median/MAD robust outlier screen -------------------
    // q88 screens with mean/stddev, which heavy tails drag; the
    // median-absolute-deviation screen is breakdown-robust. Medians
    // are taken by EXPLICIT RANK (the lower-middle element, rank
    // (n+1)/2 under a (value, event_id) total order) — no
    // interpolation, so no engine-specific float formula and the
    // whole query is partitioning-independent. Two rank windows
    // partitioned by event_type + two broadcast joins of the 5-row
    // median tables; |x - med| and the 3*MAD fence are single IEEE
    // ops, identical on both engines.
    QueryDef(
      "q152_mad_outliers",
      """WITH r AS (SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |med AS (SELECT event_type, n, value AS med FROM r
        |  WHERE rn = (n + 1) // 2),
        |dev AS (SELECT e.event_type, e.event_id,
        |    abs(e.value - m.med) AS adev, m.med, m.n
        |  FROM events e JOIN med m USING (event_type)),
        |r2 AS (SELECT event_type, adev, med, n,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY adev, event_id) AS rn
        |  FROM dev),
        |mad AS (SELECT event_type, med, n, adev AS mad FROM r2
        |  WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, CAST(m.n AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_out,
        |  CAST(sum(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END)
        |    * 1000 // m.n AS BIGINT) AS out_milli
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type, m.n
        |ORDER BY d.event_type""".stripMargin) { (s, d) =>
      val ev = events(s, d).select(col("event_type"), col("event_id"),
        col("value"))
      val w = Window.partitionBy(col("event_type"))
      def rankedMedian(df: DataFrame, v: String, out: String): DataFrame =
        df.withColumn("rn", row_number().over(
            w.orderBy(col(v), col("event_id"))))
          .withColumn("n", count(lit(1)).over(w))
          .filter(col("rn") === expr("(n + 1) DIV 2"))
          .select(col("event_type"), col("n"), col(v).as(out))
      val med = rankedMedian(ev, "value", "med")
      val dev = ev.join(broadcast(med.drop("n")), "event_type")
        .select(col("event_type"), col("event_id"),
          abs(col("value") - col("med")).as("adev"))
      val mad = rankedMedian(dev, "adev", "mad")
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"), col("n"))
        .agg(sum(when(col("adev") > lit(3) * col("mad"), 1L)
          .otherwise(0L)).as("n_out"))
        .select(col("event_type"), col("n"), col("n_out"),
          expr("n_out * 1000 DIV n").as("out_milli"))
        .orderBy(col("event_type"))
    },

    // ---- q154: padding-waste accounting for batch shaping ---------
    // The cost model behind length-bucketed batching: bucket docs by
    // token count (width 16), order each bucket by (len, doc_id),
    // cut batches of 8, pad each batch to its own max. Reports, per
    // bucket, real vs padded token totals and the padding overhead —
    // versus the naive pad-to-global-max plan whose waste the last
    // column exposes. All integer arithmetic; the only windows are
    // partitioned by bucket (bounded fanout: batch assignment is a
    // rank DIV, not a global sort). At corpus scale the bucket key
    // keeps the sort local; the global max rides in via a 1-row
    // broadcast, never a single-partition window.
    QueryDef(
      "q154_padding_waste",
      """WITH t AS (SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |      x -> x <> '')) AS n_toks
        |  FROM documents),
        |g AS (SELECT max(n_toks) AS gmax FROM t),
        |b AS (SELECT doc_id, n_toks, n_toks // 16 AS bucket,
        |    (row_number() OVER (PARTITION BY n_toks // 16
        |      ORDER BY n_toks, doc_id) - 1) // 8 AS batch
        |  FROM t),
        |bt AS (SELECT bucket, batch, count(*) AS bsz,
        |    sum(n_toks) AS real_toks, max(n_toks) AS bmax
        |  FROM b GROUP BY bucket, batch)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(sum(bsz) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_batches,
        |  CAST(sum(real_toks) AS BIGINT) AS real_toks,
        |  CAST(sum(bmax * bsz) AS BIGINT) AS padded_toks,
        |  CAST((sum(bmax * bsz) - sum(real_toks)) * 1000
        |    // sum(bmax * bsz) AS BIGINT) AS waste_milli,
        |  CAST((SELECT gmax FROM g) * sum(bsz) AS BIGINT) AS naive_toks
        |FROM bt GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      val t = withToks(s, d)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      val g = t.agg(max(col("n_toks")).as("gmax"))
      val b = t.withColumn("bucket", expr("n_toks DIV 16"))
        .withColumn("batch", expr("CAST(row_number() OVER (" +
          "PARTITION BY bucket ORDER BY n_toks, doc_id) - 1 AS BIGINT)" +
          " DIV 8"))
      val bt = b.groupBy(col("bucket"), col("batch"))
        .agg(count(lit(1)).as("bsz"), sum(col("n_toks")).as("real_toks"),
          max(col("n_toks")).as("bmax"))
      bt.groupBy(col("bucket"))
        .agg(sum(col("bsz")).as("n_docs"),
          count(lit(1)).as("n_batches"),
          sum(col("real_toks")).as("real_toks"),
          sum(col("bmax") * col("bsz")).as("padded_toks"))
        .crossJoin(broadcast(g))
        .select(col("bucket"), col("n_docs"), col("n_batches"),
          col("real_toks"), col("padded_toks"),
          expr("(padded_toks - real_toks) * 1000 DIV padded_toks")
            .as("waste_milli"),
          (col("gmax") * col("n_docs")).as("naive_toks"))
        .orderBy(col("bucket"))
    },

    // ---- q149: Z-order layout audit (data-skipping quality) -------
    // The physical-layout operator behind min/max-zone-map skipping:
    // interleave the bits of two query dimensions (user bucket x
    // value bucket) into a Morton key, range-partition on it, and
    // measure per-partition dimension spans. A predicate on EITHER
    // dimension can skip a partition whose [min,max] envelope misses
    // it, so the summed spans ARE the (inverse) skipping power. The
    // arrival-order layout is the control: same partition count, same
    // rows, spans near the full domain. Everything is one pass over
    // events + a keyed agg per layout; the Morton key is a per-row
    // integer expression (codegen'd, no UDF), so the same plan
    // Z-orders a 100 TB write before a `sortWithinPartitions`.
    QueryDef(
      "q149_zorder_layout",
      s"""WITH c AS (SELECT event_id,
         |    user_id % 256 AS xb,
         |    CASE WHEN CAST(floor(value / 2) AS BIGINT) > 255 THEN 255
         |      ELSE CAST(floor(value / 2) AS BIGINT) END AS yb
         |  FROM events),
         |m AS (SELECT max(event_id) AS mx FROM c),
         |z AS (SELECT 'zorder' AS layout,
         |    (${zvalSql("//")}) // 2048 AS bucket, xb, yb FROM c
         |  UNION ALL
         |  SELECT 'arrival' AS layout,
         |    event_id // ((mx + 32) // 32) AS bucket, xb, yb
         |  FROM c, m),
         |sp AS (SELECT layout, bucket,
         |    max(xb) - min(xb) AS xspan, max(yb) - min(yb) AS yspan,
         |    count(*) AS n
         |  FROM z GROUP BY layout, bucket)
         |SELECT layout, CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(sum(n) AS BIGINT) AS n_rows,
         |  CAST(sum(xspan) AS BIGINT) AS sum_xspan,
         |  CAST(sum(yspan) AS BIGINT) AS sum_yspan
         |FROM sp GROUP BY layout ORDER BY layout""".stripMargin) { (s, d) =>
      val c = events(s, d).select(col("event_id"),
        (col("user_id") % 256).as("xb"),
        least(lit(255L), floor(col("value") / 2).cast("long")).as("yb"))
      val m = c.agg(max(col("event_id")).as("mx"))
      val zorder = c.select(lit("zorder").as("layout"),
        expr(s"(${zvalSql("DIV")}) DIV 2048").as("bucket"),
        col("xb"), col("yb"))
      val arrival = c.crossJoin(broadcast(m))
        .select(lit("arrival").as("layout"),
          expr("event_id DIV ((mx + 32) DIV 32)").as("bucket"),
          col("xb"), col("yb"))
      zorder.unionAll(arrival)
        .groupBy(col("layout"), col("bucket"))
        .agg((max(col("xb")) - min(col("xb"))).as("xspan"),
          (max(col("yb")) - min(col("yb"))).as("yspan"),
          count(lit(1)).as("n"))
        .groupBy(col("layout"))
        .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_rows"),
          sum(col("xspan")).as("sum_xspan"),
          sum(col("yspan")).as("sum_yspan"))
        .orderBy(col("layout"))
    },

    // ---- q155: cross-document duplicated-span attribution ---------
    // q127 answers "which of MY positions are duplicated somewhere";
    // this answers "who shares spans with WHOM" — the evidence table
    // a dedup reviewer or license audit reads. Same sliding 8-token
    // hash index; the position join is keyed on the hash with the
    // bucket capped at df <= 10 (beyond that it is boilerplate, q136's
    // territory, and the cap bounds the in-bucket pair fanout); the
    // interval merge then runs partitioned per (d1, d2) PAIR — the
    // same one-sort island pattern, finer partition key. Output: the
    // top-25 pair dossiers by shared tokens.
    QueryDef(
      "q155_crossdoc_spans",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE len($toksSql) >= 8),
         |pos AS (SELECT doc_id, i,
         |    ${h32Sql("array_to_string(list_slice(toks, i, i + 7), ' ')")}
         |      AS h
         |  FROM t, UNNEST(range(1, len(toks) - 6)) AS u(i)),
         |keep AS (SELECT h FROM pos GROUP BY h
         |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 10),
         |pp AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         |    a.i AS s, a.i + 8 AS e
         |  FROM pos a JOIN pos b USING (h) JOIN keep USING (h)
         |  WHERE a.doc_id < b.doc_id),
         |flg AS (SELECT d1, d2, s, e,
         |    CASE WHEN max(e) OVER w1 IS NULL OR s > max(e) OVER w1
         |      THEN 1 ELSE 0 END AS ng
         |  FROM pp
         |  WINDOW w1 AS (PARTITION BY d1, d2 ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |sp AS (SELECT d1, d2, grp, min(s) AS ss, max(e) AS se
         |  FROM (SELECT d1, d2, s, e,
         |      sum(ng) OVER (PARTITION BY d1, d2 ORDER BY s
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |    FROM flg)
         |  GROUP BY d1, d2, grp)
         |SELECT d1, d2, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(se - ss) AS BIGINT) AS dup_toks,
         |  CAST(max(se - ss) AS BIGINT) AS longest_span
         |FROM sp GROUP BY d1, d2
         |ORDER BY dup_toks DESC, d1, d2 LIMIT 25""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      // shared session memos: positional 8-gram index + its df side
      val pos = Text.posIndex(s, d)
      val keep = Text.posDf(s, d)
        .filter(col("df").between(2, 10))
        .select(col("h"))
      // prune to capped buckets BEFORE the pair join — the cap exists
      // to bound the join fanout, so it must sit upstream of it
      val posk = pos.join(keep, "h")
      val a = posk.select(col("doc_id").as("d1"), col("h"),
        col("i").cast("long").as("s"))
      val b = posk.select(col("doc_id").as("d2"), col("h"))
      val pp = a.join(b, "h")
        .filter(col("d1") < col("d2"))
        .select(concat_ws("|", col("d1"), col("d2")).as("part"),
          col("d1"), col("d2"), col("s"), (col("s") + 8).as("e"))
        .distinct()
      val sp = Text.mergeIntervals(
          pp.select(col("part"), col("s"), col("e")))
        .withColumn("d1", split(col("part"), "\\|")(0).cast("long"))
        .withColumn("d2", split(col("part"), "\\|")(1).cast("long"))
      sp.groupBy(col("d1"), col("d2"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("se") - col("ss")).as("dup_toks"),
          max(col("se") - col("ss")).as("longest_span"))
        .orderBy(col("dup_toks").desc, col("d1"), col("d2"))
        .limit(25)
    },

    // ---- q153: BPE merge training (3 rounds) ----------------------
    // Tokenizer TRAINING, not just q99's one-shot pair count: each
    // round counts corpus-weighted adjacent token pairs, picks the
    // argmax (count desc, pair asc — a total tie-break), and applies
    // the merge corpus-wide. State lives on the vocab-bounded
    // (word, count) relation — the corpus itself is touched once, by
    // the initial word count — so a round is one keyed agg plus one
    // map-side string rewrite no matter the corpus size; only the
    // 1-row argmax and the 1-row token total come to the driver
    // (same bounded per-round scalar probes as q115's Lloyd rounds).
    // Tokens ride in a '|'-bounded string ('|a|b|c|'); a merge
    // rewrites '|a|b|' → '|ab|' with TWO passes of plain (non-regex)
    // replace — adjacent occurrences share their boundary '|', so a
    // single left-to-right pass takes alternate occurrences and the
    // second pass takes the stranded ones; both engines' replace()
    // scans identically, making the (greedy, non-overlapping) merge
    // semantics engine-exact. Runs of the same pair can fixpoint one
    // merge short of reference-BPE's strict leftmost order — a
    // documented divergence; the oracle defines the semantics.
    QueryDef(
      "q153_bpe_train",
      s"""WITH wc AS (SELECT w AS word, count(*) AS cnt
         |  FROM (SELECT unnest($toksSql) AS w FROM documents)
         |  GROUP BY w),
         |s0 AS (SELECT '|' || regexp_replace(word, '(.)', '\\1|', 'g')
         |    AS s, cnt FROM wc),
         |q0 AS (SELECT list_filter(string_split(s, '|'), x -> x <> '')
         |    AS seq, s, cnt FROM s0),
         |p1 AS (SELECT seq[i] || ' ' || seq[i+1] AS pair, sum(cnt) AS c
         |  FROM q0, UNNEST(range(1, len(seq))) u(i)
         |  WHERE len(seq) >= 2 GROUP BY 1),
         |m1 AS (SELECT pair, c FROM p1 ORDER BY c DESC, pair LIMIT 1),
         |s1 AS (SELECT replace(replace(s0.s, r.pat, r.rep), r.pat, r.rep)
         |    AS s, cnt
         |  FROM s0, (SELECT '|' || replace(pair, ' ', '|') || '|' AS pat,
         |      '|' || replace(pair, ' ', '') || '|' AS rep FROM m1) r),
         |q1 AS (SELECT list_filter(string_split(s, '|'), x -> x <> '')
         |    AS seq, s, cnt FROM s1),
         |p2 AS (SELECT seq[i] || ' ' || seq[i+1] AS pair, sum(cnt) AS c
         |  FROM q1, UNNEST(range(1, len(seq))) u(i)
         |  WHERE len(seq) >= 2 GROUP BY 1),
         |m2 AS (SELECT pair, c FROM p2 ORDER BY c DESC, pair LIMIT 1),
         |s2 AS (SELECT replace(replace(s1.s, r.pat, r.rep), r.pat, r.rep)
         |    AS s, cnt
         |  FROM s1, (SELECT '|' || replace(pair, ' ', '|') || '|' AS pat,
         |      '|' || replace(pair, ' ', '') || '|' AS rep FROM m2) r),
         |q2 AS (SELECT list_filter(string_split(s, '|'), x -> x <> '')
         |    AS seq, s, cnt FROM s2),
         |p3 AS (SELECT seq[i] || ' ' || seq[i+1] AS pair, sum(cnt) AS c
         |  FROM q2, UNNEST(range(1, len(seq))) u(i)
         |  WHERE len(seq) >= 2 GROUP BY 1),
         |m3 AS (SELECT pair, c FROM p3 ORDER BY c DESC, pair LIMIT 1),
         |s3 AS (SELECT replace(replace(s2.s, r.pat, r.rep), r.pat, r.rep)
         |    AS s, cnt
         |  FROM s2, (SELECT '|' || replace(pair, ' ', '|') || '|' AS pat,
         |      '|' || replace(pair, ' ', '') || '|' AS rep FROM m3) r),
         |t1 AS (SELECT sum(cnt * len(list_filter(string_split(s, '|'),
         |    x -> x <> ''))) AS toks FROM s1),
         |t2 AS (SELECT sum(cnt * len(list_filter(string_split(s, '|'),
         |    x -> x <> ''))) AS toks FROM s2),
         |t3 AS (SELECT sum(cnt * len(list_filter(string_split(s, '|'),
         |    x -> x <> ''))) AS toks FROM s3)
         |SELECT * FROM (
         |  SELECT 1 AS round, pair, CAST(c AS BIGINT) AS pair_count,
         |    CAST((SELECT toks FROM t1) AS BIGINT) AS corpus_toks FROM m1
         |  UNION ALL
         |  SELECT 2, pair, CAST(c AS BIGINT),
         |    CAST((SELECT toks FROM t2) AS BIGINT) FROM m2
         |  UNION ALL
         |  SELECT 3, pair, CAST(c AS BIGINT),
         |    CAST((SELECT toks FROM t3) AS BIGINT) FROM m3)
         |ORDER BY round""".stripMargin) { (s, d) =>
      import s.implicits._
      // the picks come off the SHARED lang-carrying training memo
      // (see [[bpeSharedMerges]]): pair counts and token totals
      // aggregate over the lang split to the same global values, so
      // these rows are bit-identical to a lang-free training run —
      // and q159's fertility census rides the same single run
      val (_, rows) = bpeSharedMerges(s, d)
      rows.toDF("round", "pair", "pair_count", "corpus_toks")
        .select(col("round").cast("int").as("round"), col("pair"),
          col("pair_count"), col("corpus_toks"))
        .orderBy(col("round"))
    },

    // ---- q156: dedup REWRITE — emit the cleaned corpus ------------
    // q127 finds the duplicated spans and q125 lists removals; this
    // APPLIES them: drop every token inside a merged duplicated span
    // and reconstruct each document, content-addressed by md5 so the
    // oracle pins the rewritten corpus byte-for-byte without shipping
    // the text through the compare. The remove-set join is keyed on
    // (doc_id, position); reconstruction orders tokens by position
    // inside the per-doc agg (sort_array over (pos, tok) structs —
    // one keyed shuffle, no window). Docs with no duplicated span
    // pass through unchanged (left anti join keeps every position).
    QueryDef(
      "q156_dedup_rewrite",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE len($toksSql) >= 8),
         |pos AS (SELECT doc_id, i,
         |    ${h32Sql("array_to_string(list_slice(toks, i, i + 7), ' ')")}
         |      AS h
         |  FROM t, UNNEST(range(1, len(toks) - 6)) AS u(i)),
         |dfh AS (SELECT h, count(DISTINCT doc_id) AS df
         |  FROM pos GROUP BY h),
         |dup AS (SELECT doc_id, i AS s, i + 8 AS e
         |  FROM pos JOIN dfh USING (h) WHERE df >= 2),
         |flg AS (SELECT doc_id, s, e,
         |    CASE WHEN max(e) OVER w1 IS NULL OR s > max(e) OVER w1
         |      THEN 1 ELSE 0 END AS ng
         |  FROM dup
         |  WINDOW w1 AS (PARTITION BY doc_id ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |sp AS (SELECT doc_id, grp, min(s) AS ss, max(e) AS se
         |  FROM (SELECT doc_id, s, e,
         |      sum(ng) OVER (PARTITION BY doc_id ORDER BY s
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |    FROM flg)
         |  GROUP BY doc_id, grp),
         |rm AS (SELECT doc_id, u.i FROM sp, UNNEST(range(ss, se)) u(i)),
         |tk AS (SELECT doc_id, u.i, toks[u.i] AS tok
         |  FROM t, UNNEST(range(1, len(toks) + 1)) u(i)),
         |kept AS (SELECT tk.doc_id, tk.i, tk.tok
         |  FROM tk LEFT JOIN rm ON rm.doc_id = tk.doc_id AND rm.i = tk.i
         |  WHERE rm.i IS NULL)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_toks,
         |  CAST(coalesce(count(kept.i), 0) AS BIGINT) AS kept_toks,
         |  CAST(len(t.toks) - coalesce(count(kept.i), 0) AS BIGINT)
         |    AS removed_toks,
         |  md5(coalesce(array_to_string(list(kept.tok ORDER BY kept.i)
         |    FILTER (WHERE kept.i IS NOT NULL), ' '), '')) AS clean_md5
         |FROM t LEFT JOIN kept ON kept.doc_id = t.doc_id
         |GROUP BY t.doc_id, len(t.toks)
         |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val t = withToks(s, d).filter(size(col("toks")) >= 8)
        .select(col("doc_id"), col("toks"),
          size(col("toks")).cast("long").as("n"))
      // shared session memos: positional 8-gram index + its df side
      val dfh = Text.posDf(s, d)
        .filter(col("df") >= 2).select(col("h"))
      val dup = Text.posIndex(s, d).join(dfh, "h")
        .select(col("doc_id").as("part"), col("i").cast("long").as("s"),
          (col("i") + 8).cast("long").as("e"))
      val rm = Text.mergeIntervals(dup)
        .select(col("part").as("doc_id"),
          explode(expr("sequence(ss, se - 1)")).as("i"))
      val tk = t.select(col("doc_id"), posexplode(col("toks"))
          .as(Seq("i0", "tok")))
        .select(col("doc_id"), (col("i0") + 1).cast("long").as("i"),
          col("tok"))
      val kept = tk.join(rm, Seq("doc_id", "i"), "left_anti")
      t.select(col("doc_id"), col("n"))
        .join(kept.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("kept_toks"),
            md5(array_join(expr(
              "transform(sort_array(collect_list(struct(i, tok))), " +
                "x -> x.tok)"), " ")).as("clean_md5")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n").as("n_toks"),
          coalesce(col("kept_toks"), lit(0L)).as("kept_toks"),
          (col("n") - coalesce(col("kept_toks"), lit(0L)))
            .as("removed_toks"),
          // a fully-duplicated doc rewrites to the EMPTY document,
          // not to a missing row — content-address it as md5("")
          coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- q157: greedy shingle-coverage selection (submodular) -----
    // Facility-location data selection: pick, for 5 rounds, the doc
    // adding the most not-yet-covered 3-gram shingles — the greedy
    // (1 − 1/e)-approximation to max-coverage that data-efficient
    // training selection builds on. Feature space is the hashed
    // 3-gram shingle (the memoized q25/q26 index, NOT the 31-word
    // unigram vocab, which two docs would saturate). Gains are
    // maintained INCREMENTALLY: each round subtracts the new pick's
    // marginal overlap from a docs-sized gain table instead of
    // re-aggregating the remaining occurrence stream; the covered
    // set is picked-docs-bounded (k docs' shingles). Same bounded
    // per-round scalar probes as q153/q115.
    QueryDef(
      "q157_greedy_coverage",
      {
        val shingles = Text.shinglesSql
        def gains(cov: String) =
          if (cov.isEmpty)
            "SELECT doc_id, count(*) AS gain FROM shingles GROUP BY doc_id"
          else
            s"SELECT doc_id, count(*) AS gain FROM shingles " +
              s"WHERE h NOT IN (SELECT h FROM $cov) GROUP BY doc_id"
        def cov(prev: String, b: String) =
          if (prev.isEmpty)
            s"SELECT DISTINCT h FROM shingles WHERE doc_id = " +
              s"(SELECT doc_id FROM $b)"
          else
            s"SELECT h FROM $prev UNION SELECT DISTINCT h FROM shingles " +
              s"WHERE doc_id = (SELECT doc_id FROM $b)"
        val rounds = (1 to 5).map { r =>
          val prev = if (r == 1) "" else s"c${r - 1}"
          s"g$r AS (${gains(prev)}),\n" +
            s"b$r AS (SELECT doc_id, gain FROM g$r " +
            s"ORDER BY gain DESC, doc_id LIMIT 1),\n" +
            s"c$r AS (${cov(prev, s"b$r")})"
        }.mkString(",\n")
        val sel = (1 to 5).map { r =>
          s"SELECT $r AS round, doc_id, CAST(gain AS BIGINT) AS gain, " +
            s"CAST((SELECT count(*) FROM c$r) AS BIGINT) AS covered " +
            s"FROM b$r"
        }.mkString("\nUNION ALL\n")
        s"WITH shingles AS ($shingles),\n$rounds\n" +
          s"SELECT * FROM (\n$sel)\nORDER BY round"
      }) { (s, d) =>
      import s.implicits._
      val sh = Text.shingleHashes(s, d).select(col("doc_id"), col("h"))
      // CELF-style bounded-candidate greedy: by submodularity a doc's
      // round-r gain never exceeds its INITIAL gain, so only docs in
      // the initial-gain top-M can ever be picked as long as every
      // pick's gain stays >= the (M+1)-th initial gain (the bound the
      // (M+1)-th collected row supplies). Two distributed jobs total —
      // the initial-gain aggregation (TakeOrderedAndProject top-M+1)
      // and one collect of the M candidates' shingle sets (M docs ×
      // doc-bounded shingles, a constant-bounded driver pool at any
      // corpus size) — then all five rounds are exact in-memory set
      // arithmetic. If the bound ever fails (pathologically uniform
      // gains), fall back to distributed incremental-gain rounds:
      // identical output, corpus-scan-per-round cost.
      val M = 64
      val gains0 = sh.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("gain"))
      val top = boundedCollect(
        gains0.orderBy(col("gain").desc, col("doc_id")).limit(M + 1),
        M + 1, "q157 top-M initial gains (constant-bounded)")
        .map(r => (r.getLong(0), r.getLong(1)))
      val outsideBound = if (top.length > M) top(M)._2 else 0L
      val cand = top.take(M)
      val candSh: Map[Long, Set[Long]] = boundedCollect(
        sh.join(broadcast(cand.map(_._1).toSeq.toDF("doc_id")),
          Seq("doc_id")),
        1 << 21, "q157 candidate shingle sets (M x doc-bounded)")
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      def driverGreedy(): Option[Seq[(Int, Long, Long, Long)]] = {
        var covered = Set.empty[Long]
        var total = 0L
        val out = Seq.newBuilder[(Int, Long, Long, Long)]
        for (r <- 1 to 5) {
          val live = cand.iterator
            .map { case (id, _) => (id, (candSh(id) -- covered).size.toLong) }
            .filter(_._2 >= 1).toSeq
          if (live.isEmpty) return None
          val (doc, gain) = live.minBy { case (id, g) => (-g, id) }
          // STRICT: a pick merely TYING the (M+1)-th initial gain
          // could lose its doc_id tiebreak to an uncollected doc
          if (gain <= outsideBound) return None // M too small: fall back
          covered ++= candSh(doc)
          total += gain
          out += ((r, doc, gain, total))
        }
        Some(out.result())
      }
      val rows = driverGreedy().getOrElse {
        // distributed fallback: incremental gain maintenance — each
        // round subtracts the new pick's marginal overlap (single-doc
        // -bounded broadcast) from a docs-sized gain table; never a
        // full re-aggregation of the remaining occurrence stream
        var gains = gains0.localCheckpoint(true)
        var covered = Set.empty[Long]
        var total = 0L
        (1 to 5).map { r =>
          val pickRows = boundedCollect(
            gains.filter(col("gain") >= 1)
              .orderBy(col("gain").desc, col("doc_id")).limit(1)
              .join(sh, Seq("doc_id"))
              .select(col("doc_id"), col("gain"), col("h")),
            1 << 20, "q157 pick + its shingles (single-doc-bounded)")
          val (doc, gain) = (pickRows(0).getLong(0), pickRows(0).getLong(1))
          total += gain
          if (r < 5) {
            val newCov = pickRows.map(_.getLong(2))
              .filterNot(covered).distinct.toSeq
            covered ++= newCov
            val delta = sh
              .join(broadcast(newCov.toDF("h")), Seq("h"), "left_semi")
              .groupBy(col("doc_id")).agg(count(lit(1)).as("hit"))
            gains = gains.join(delta, Seq("doc_id"), "left")
              .select(col("doc_id"),
                (col("gain") - coalesce(col("hit"), lit(0L))).as("gain"))
              .localCheckpoint(false)
          }
          (r, doc, gain, total)
        }
      }
      rows.toDF("round", "doc_id", "gain", "covered")
        .select(col("round").cast("int").as("round"), col("doc_id"),
          col("gain"), col("covered"))
        .orderBy(col("round"))
    },

    // ---- q158: source-level containment via winnowing prints ------
    // Directional "who copies from whom": per-source winnowing
    // fingerprint sets, |A∩B| / |A| containment over the fingerprint
    // equi-join. Complements q140 (symmetric minhash ESTIMATE between
    // sources) with an exact, DIRECTED measure on span-anchored
    // prints. Per-fingerprint source fanout is bounded by the source
    // count, so the self-join is bucket-bounded at any corpus size;
    // the per-source profile is the mergeable artifact a production
    // pipeline materializes per ingest batch.
    QueryDef(
      "q158_source_containment",
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks
         |  FROM documents WHERE len($toksSql) >= 6),
         |hs AS (SELECT doc_id, source, i,
         |    ${h32Sql("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")} AS h
         |  FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)),
         |fpw AS (SELECT doc_id, source, i,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         |    count(*) OVER (PARTITION BY doc_id) AS nh
         |  FROM hs),
         |sfp AS (SELECT DISTINCT source, fp FROM fpw WHERE i + 3 <= nh),
         |sz AS (SELECT source, count(*) AS n FROM sfp GROUP BY source),
         |sh AS (SELECT a.source AS sa, b.source AS sb, count(*) AS shared
         |  FROM sfp a JOIN sfp b USING (fp)
         |  WHERE a.source <> b.source GROUP BY 1, 2)
         |SELECT sa, sb, CAST(shared AS BIGINT) AS shared_fps,
         |  CAST(sz.n AS BIGINT) AS n_sa,
         |  CAST(shared * 1000 // sz.n AS BIGINT) AS cont_milli
         |FROM sh JOIN sz ON sz.source = sh.sa
         |ORDER BY cont_milli DESC, sa, sb LIMIT 25""".stripMargin) {
      (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val docSrc = withToks(s, d).select(col("doc_id"), col("source"))
      val sfp = winnowPrints(s, d)
        .join(docSrc, "doc_id")
        .select(col("source"), col("fp")).distinct()
      val sz = sfp.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val a = sfp.select(col("source").as("sa"), col("fp"))
      val b = sfp.select(col("source").as("sb"), col("fp"))
      a.join(b, "fp").filter(col("sa") =!= col("sb"))
        .groupBy(col("sa"), col("sb"))
        .agg(count(lit(1)).as("shared_fps"))
        .join(broadcast(sz.select(col("source").as("sa"),
          col("n").as("n_sa"))), "sa")
        .select(col("sa"), col("sb"), col("shared_fps"), col("n_sa"),
          expr("shared_fps * 1000 DIV n_sa").as("cont_milli"))
        .orderBy(col("cont_milli").desc, col("sa"), col("sb"))
        .limit(25)
    },

    // ---- q159: tokenizer fertility audit (BPE inference) ----------
    // q153 trains the merges; this EVALUATES the resulting tokenizer:
    // apply the same 3 learned merges (the picks are corpus-global,
    // so they are identical whether the word counts carry lang or
    // not) and report per-language fertility — pieces per word in
    // milli, THE metric tokenizer papers compare. State stays on the
    // vocab-bounded (lang, word, count) relation; the corpus is
    // touched once for the word count.
    QueryDef(
      "q159_tokenizer_fertility",
      {
        def round(r: Int, prev: String) =
          s"""p$r AS (SELECT seq[i] || ' ' || seq[i+1] AS pair, sum(cnt) AS c
             |  FROM (SELECT list_filter(string_split(s, '|'), x -> x <> '')
             |      AS seq, cnt FROM $prev),
             |    UNNEST(range(1, len(seq))) u(i)
             |  WHERE len(seq) >= 2 GROUP BY 1),
             |m$r AS (SELECT pair FROM p$r ORDER BY c DESC, pair LIMIT 1),
             |s$r AS (SELECT lang,
             |    replace(replace($prev.s, r.pat, r.rep), r.pat, r.rep) AS s,
             |    cnt
             |  FROM $prev, (SELECT '|' || replace(pair, ' ', '|') || '|'
             |      AS pat, '|' || replace(pair, ' ', '') || '|' AS rep
             |    FROM m$r) r)""".stripMargin
        s"""WITH wc AS (SELECT lang, w AS word, count(*) AS cnt
           |  FROM (SELECT lang, unnest($toksSql) AS w FROM documents)
           |  GROUP BY lang, w),
           |s0 AS (SELECT lang,
           |    '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS s, cnt
           |  FROM wc),
           |${round(1, "s0")},
           |${round(2, "s1")},
           |${round(3, "s2")}
           |SELECT lang, CAST(sum(cnt) AS BIGINT) AS words,
           |  CAST(sum(cnt * len(seq)) AS BIGINT) AS pieces,
           |  CAST(sum(cnt * len(seq)) * 1000 // sum(cnt) AS BIGINT)
           |    AS fertility_milli
           |FROM (SELECT lang, cnt,
           |    list_filter(string_split(s, '|'), x -> x <> '') AS seq
           |  FROM s3)
           |GROUP BY lang ORDER BY lang""".stripMargin
      }) { (s, d) =>
      // the merged relation comes off the SHARED training memo
      // ([[bpeSharedMerges]] — one run serves q153's picks and this
      // census); its lineage embeds the already-collected merge
      // literals, so even a recompute after eviction is deterministic
      // with no further driver probes
      val (merged, _) = bpeSharedMerges(s, d)
      merged.groupBy(col("lang"))
        .agg(sum(col("cnt")).as("words"),
          sum(col("cnt") * size(bpeSeqCol)).as("pieces"))
        .select(col("lang"), col("words"), col("pieces"),
          expr("pieces * 1000 DIV words").as("fertility_milli"))
        .orderBy(col("lang"))
    },

    // ---- q277: right-to-be-forgotten impact census -----------------
    // The batch twin of `StreamOps.forgetBatch` (r13): before a
    // deletion request (GDPR erasure, takedown, opt-out sweep)
    // propagates through the maintained stores, price its blast
    // radius per source — how many docs leave, how many embedding
    // vectors the ANN index loses, how many decontamination 8-grams
    // were EXCLUSIVE to the forget set (they leave the train-gram
    // index: no surviving doc carries them), and how many surviving
    // exact-duplicates are ORPHANED because their canonical
    // (min-doc_id group representative, q55/q235's election rule)
    // is being forgotten — each orphan needs a re-election before
    // the dedup index stays authoritative. The relational analogue
    // of the reference's ON DELETE CASCADE contract
    // (`infra/docker-pg-logical-replication/image/docker-entrypoint-initdb.d/10-create-tables.sh`,
    // asserted by its cascade-delete tests): a delete is not one row,
    // it is the row plus everything derived from it.
    // Scale shape: forget flags are a map-side hash of doc_id; the
    // gram-exclusivity test is ONE anti-join keyed on the 32-bit gram
    // hash against the surviving gram set (the exact join every
    // contamination probe already runs); orphan detection rides the
    // corpus fingerprint groupBy (one keyed pass, q28's relation);
    // vectors are one keyed equi-join. Never doc × doc; corpus grams
    // ride the shared gram8 memo, the seed fixture is computed inline
    // (never through session memos — FIXTURES.md §4).
    QueryDef(
      "q277_forget_impact_census",
      s"""WITH docs AS (SELECT doc_id, text, source FROM documents
         |  UNION ALL SELECT * FROM (VALUES
         |    $forgetFixValuesSql) fx(doc_id, text, source)),
         |f AS (SELECT doc_id, source,
         |    (${h32Sql("CAST(doc_id AS VARCHAR)")}) % 17 = 3 AS forget
         |  FROM docs),
         |toks AS (SELECT doc_id, $toksSql AS toks FROM docs),
         |g8 AS (SELECT DISTINCT doc_id, ${h32Sql("gm")} AS g
         |  FROM (SELECT doc_id,
         |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         |      toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
         |      toks[i+6] || ' ' || toks[i+7] AS gm
         |    FROM toks, UNNEST(range(1, len(toks) - 6)) AS t(i)
         |    WHERE len(toks) >= 8)),
         |fg AS (SELECT f.source, g FROM g8 JOIN f USING (doc_id)
         |       WHERE forget),
         |sg AS (SELECT DISTINCT g FROM g8 JOIN f USING (doc_id)
         |       WHERE NOT forget),
         |eg AS (SELECT source, count(DISTINCT fg.g) AS n_excl FROM fg
         |  LEFT JOIN sg ON sg.g = fg.g WHERE sg.g IS NULL GROUP BY 1),
         |fps AS (SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp
         |        FROM toks),
         |canon AS (SELECT fp, min(doc_id) AS cid FROM fps GROUP BY 1),
         |orph AS (SELECT s.source, count(*) AS n_orph
         |  FROM fps p JOIN f s ON s.doc_id = p.doc_id AND NOT s.forget
         |  JOIN canon c ON c.fp = p.fp AND c.cid <> p.doc_id
         |  JOIN f cf ON cf.doc_id = c.cid AND cf.forget
         |  GROUP BY 1),
         |vec AS (SELECT f.source, count(*) AS n_vec FROM embeddings e
         |  JOIN f ON f.doc_id = e.vec_id WHERE f.forget GROUP BY 1),
         |base AS (SELECT source,
         |    CAST(sum(CASE WHEN forget THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_forgotten,
         |    CAST(sum(CASE WHEN forget THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_surviving
         |  FROM f GROUP BY 1)
         |SELECT base.source, n_forgotten, n_surviving,
         |  CAST(coalesce(n_vec, 0) AS BIGINT) AS n_vectors,
         |  CAST(coalesce(n_excl, 0) AS BIGINT) AS n_exclusive_grams,
         |  CAST(coalesce(n_orph, 0) AS BIGINT) AS n_orphaned_dups
         |FROM base LEFT JOIN vec USING (source)
         |  LEFT JOIN eg USING (source) LEFT JOIN orph USING (source)
         |ORDER BY source""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val forgetOf = (c: Column) => pmod(
        graft.cdc.GraftFunctions.md5_h32(c.cast("string")), lit(17L)) === 3L
      val fix = forgetFixDocs(s)
      // (doc_id, source, forget) flags — four branches read it
      val flags = documents(s, d).select(col("doc_id"), col("source"))
        .unionByName(fix.select(col("doc_id"), col("source")))
        .withColumn("forget", forgetOf(col("doc_id")))
        .tcache()
      val base = flags.groupBy(col("source"))
        .agg(sum(when(col("forget"), 1L).otherwise(0L)).as("n_forgotten"),
          sum(when(col("forget"), 0L).otherwise(1L)).as("n_surviving"))
      val vec = embeddings(s, d).select(col("vec_id").as("doc_id"))
        .join(flags.filter(col("forget")), "doc_id")
        .groupBy(col("source")).agg(count(lit(1)).as("n_vec"))
      val grams = Text.gram8Hashes(s, d).select(col("doc_id"), col("g"))
        .unionAll(Text.gram8Of(fix).select(col("doc_id"), col("g")))
        .join(flags, "doc_id")
      val sg = grams.filter(!col("forget")).select(col("g")).distinct()
      val eg = grams.filter(col("forget")).select(col("source"), col("g"))
        .join(sg, Seq("g"), "left_anti")
        .groupBy(col("source")).agg(countDistinct(col("g")).as("n_excl"))
      val fps = withToks(s, d)
        .select(col("doc_id"), md5(array_join(col("toks"), " ")).as("fp"))
        .unionAll(fix.select(col("doc_id"),
          md5(array_join(Text.toksCol, " ")).as("fp")))
      val canon = fps.groupBy(col("fp")).agg(min(col("doc_id")).as("cid"))
      val orph = fps.join(flags, "doc_id").filter(!col("forget"))
        .join(canon, "fp").filter(col("cid") =!= col("doc_id"))
        .join(flags.select(col("doc_id").as("cid"),
          col("forget").as("cf")), "cid")
        .filter(col("cf"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_orph"))
      base.join(vec, Seq("source"), "left")
        .join(eg, Seq("source"), "left")
        .join(orph, Seq("source"), "left")
        .select(col("source"), col("n_forgotten"), col("n_surviving"),
          coalesce(col("n_vec"), lit(0L)).as("n_vectors"),
          coalesce(col("n_excl"), lit(0L)).as("n_exclusive_grams"),
          coalesce(col("n_orph"), lit(0L)).as("n_orphaned_dups"))
        .orderBy(col("source"))
    },

    // ---- q303: cross-doc exact-substring dedup (ExactSubstr) ------
    // The one headline dedup regime q127/q155 only approximate: those
    // find duplicated 8-token WINDOWS and merge overlaps into
    // intervals; this reports, per candidate document pair, the
    // MAXIMAL exactly-shared token span at ARBITRARY length — the
    // quantity ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better") removes, computed
    // WITHOUT a suffix array and without doc×doc: candidate pairs
    // come from the standing positional index's rare (df ≤ 10)
    // anchors; each pair's matching 8-gram positions join KEYED on
    // the gram hash; a hash match is verified EXACT in-bucket by
    // comparing the actual 8-token slices (32-bit grams collide at
    // corpus scale — an unverified collision inside a run would
    // bridge two separate spans into one false long one); and the
    // maximal span falls out of diagonal run-length (consecutive
    // matches with i1 − i2 constant): a shared span of L ≥ 8 tokens
    // is EXACTLY a run of L − 7 consecutive verified gram matches,
    // so max span = max run + 7 with no per-pair binary search and
    // no re-scan — q162's binary-search kernel lifted cross-doc
    // collapses to one window pass because the index already holds
    // every window. Scale shape: anchor-bounded pair list, keyed
    // joins throughout, pair-partitioned windows; the oracle
    // brute-forces the same spans from raw single-token position
    // matches (an INDEPENDENT algorithm — token-level diagonal runs
    // need no gram index) over the same anchored pair set.
    QueryDef(
      "q303_exact_substr_spans",
      s"""WITH t AS MATERIALIZED (SELECT doc_id, $toksSql AS toks
         |  FROM documents WHERE len($toksSql) >= 8),
         |pos8 AS MATERIALIZED (SELECT doc_id, i,
         |    ${h32Sql("array_to_string(list_slice(toks, i, i + 7), ' ')")}
         |      AS h
         |  FROM t, UNNEST(range(1, len(toks) - 6)) AS u(i)),
         |keep AS (SELECT h FROM pos8 GROUP BY h
         |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 10),
         |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS d1,
         |    b.doc_id AS d2
         |  FROM pos8 a JOIN pos8 b USING (h) JOIN keep USING (h)
         |  WHERE a.doc_id < b.doc_id),
         |pos1 AS MATERIALIZED (SELECT doc_id, i, toks[i] AS w
         |  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)),
         |mm AS (SELECT c.d1, c.d2, a.i AS i1, b.i AS i2
         |  FROM cand c JOIN pos1 a ON a.doc_id = c.d1
         |  JOIN pos1 b ON b.doc_id = c.d2 AND b.w = a.w),
         |isl AS (SELECT d1, d2, i1 - i2 AS diag, i1,
         |    i1 - row_number() OVER (PARTITION BY d1, d2, i1 - i2
         |      ORDER BY i1) AS grp
         |  FROM mm),
         |runs AS (SELECT d1, d2, diag, grp, count(*) AS len,
         |    min(i1) AS s1
         |  FROM isl GROUP BY 1, 2, 3, 4),
         |best AS (SELECT d1, d2, CAST(len AS BIGINT) AS span_toks,
         |    CAST(s1 AS BIGINT) AS s1, CAST(s1 - diag AS BIGINT) AS s2,
         |    row_number() OVER (PARTITION BY d1, d2
         |      ORDER BY len DESC, s1, s1 - diag) AS rn
         |  FROM runs WHERE len >= 8)
         |SELECT d1, d2, span_toks, s1, s2 FROM best WHERE rn = 1
         |ORDER BY span_toks DESC, d1, d2 LIMIT 25""".stripMargin) {
      (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      exactSubstrSpansOf(Text.posIndex(s, d), Text.posDf(s, d),
        withToks(s, d))
        .orderBy(col("span_toks").desc, col("d1"), col("d2"))
        .limit(25)
    },

    // ---- q304/q305: full-vocab BPE training (r14 verdict ask 5) ----
    // q153 proves the loop at 3 merges; these run it as a TOKENIZER
    // TRAINER: a bounded greedy loop to V=256 merges over the same
    // vocab-bounded (lang, word, cnt) relation — the corpus is
    // touched once (the word count memo), then every round is one
    // fused aggregation job (argmax + pair total) plus a map-side
    // string rewrite, so the loop is vocab-bounded no matter the
    // corpus size. The loop TERMINATES EARLY when no pairs remain
    // (every word fully merged — on this synthetic corpus's small
    // word-type vocabulary that happens near round 89 at BOTH SFs),
    // exactly where the oracle chain's empty argmax stops producing
    // pick rows; at 100 TB vocabularies the full 256 rounds run.
    // q304 reports the first 32 merges against a 32-round chained-CTE
    // replay (sub-second oracle); q305 reports the WHOLE run against
    // the full-length chain (the verdict-sanctioned tractability cap
    // applies to per-round cost, and the collapsing chain makes
    // post-exhaustion rounds free). One shared training memo serves
    // q304, q305 and q306's fertility audit.
    QueryDef(
      "q304_bpe_train32",
      bpePicksSql(32)) { (s, d) =>
      import s.implicits._
      bpe256Merges(s, d)._2.take(32)
        .toDF("round", "pair", "pair_count", "corpus_toks")
        .select(col("round").cast("int").as("round"), col("pair"),
          col("pair_count"), col("corpus_toks"))
        .orderBy(col("round"))
    },

    QueryDef(
      "q305_bpe_train256",
      bpePicksSql(256)) { (s, d) =>
      import s.implicits._
      bpe256Merges(s, d)._2
        .toDF("round", "pair", "pair_count", "corpus_toks")
        .select(col("round").cast("int").as("round"), col("pair"),
          col("pair_count"), col("corpus_toks"))
        .orderBy(col("round"))
    },

    // ---- q306: fertility re-audit of the trained tokenizer --------
    // q159's census at the 3-merge vocab; this re-audits at V=64 —
    // deep enough that the tokenizer is real (64 merges fold the
    // high-frequency morphology), shallow enough that the metric
    // still discriminates (the V=256 run fully merges this corpus's
    // tiny word-type vocabulary: every word one piece, fertility
    // 1000 everywhere — measured, degenerate as a signal — while the
    // chain replay stays oracle-tractable). The 64-round state is
    // the PREFIX of the shared 256-round training run (greedy BPE's
    // picks depend only on earlier picks), re-derived here by
    // replaying the memoized pick literals map-side — no extra
    // training jobs, one rewrite pass over the word relation.
    QueryDef(
      "q306_bpe64_fertility",
      bpeFertilitySql(64)) { (s, d) =>
      val picks = bpe256Merges(s, d)._2.take(64).map(_._2)
      val merged = bpeReplayMerges(bpeWordBase(s, d), picks)
      merged.groupBy(col("lang"))
        .agg(sum(col("cnt")).as("words"),
          sum(col("cnt") * size(bpeSeqCol)).as("pieces"))
        .select(col("lang"), col("words"), col("pieces"),
          expr("pieces * 1000 DIV words").as("fertility_milli"))
        .orderBy(col("lang"))
    },

    // ---- q307: tokenizer INFERENCE — corpus compression census -----
    // q304/q305 train the merges, q306 audits the vocab; this runs
    // the ENCODE path the trained tokenizer exists for: price each
    // source's corpus under the V=32 tokenizer — word instances,
    // emitted pieces, raw chars, pieces-per-word and chars-per-piece
    // in milli (the compression numbers a data-mixture planner reads
    // next to q111/q137's budget shares). The Spark-first shape IS
    // the production encode at 100 TB: BPE is word-internal, so
    // encoding reduces to ONE vocab-bounded (word → piece count) map
    // — replayed from the shared training memo's pick literals, no
    // re-training — joined onto the token occurrence stream (AQE
    // broadcasts it at this vocab size; an open-vocabulary corpus
    // degrades gracefully to a keyed join on the same plan). The
    // oracle recovers the word spelling from the chain's own final
    // state (symbols concatenated = the original word), so it needs
    // no extra carried column.
    QueryDef(
      "q307_bpe_compression_census",
      {
        val rounds = (1 to 32).map(r => bpeRoundSql(r, s"s${r - 1}"))
          .mkString(",\n")
        s"""WITH $bpeBaseSql,
           |$rounds,
           |wp AS (SELECT DISTINCT replace(s, '|', '') AS tok,
           |    len(list_filter(string_split(s, '|'), x -> x <> ''))
           |      AS pieces
           |  FROM s32),
           |occ AS (SELECT source, unnest($toksSql) AS tok
           |        FROM documents)
           |SELECT occ.source, CAST(count(*) AS BIGINT) AS words,
           |  CAST(sum(wp.pieces) AS BIGINT) AS pieces,
           |  CAST(sum(length(occ.tok)) AS BIGINT) AS chars,
           |  CAST(sum(wp.pieces) * 1000 // count(*) AS BIGINT)
           |    AS pieces_per_word_milli,
           |  CAST(sum(length(occ.tok)) * 1000 // sum(wp.pieces)
           |    AS BIGINT) AS chars_per_piece_milli
           |FROM occ JOIN wp USING (tok)
           |GROUP BY occ.source ORDER BY occ.source""".stripMargin
      }) { (s, d) =>
      val picks = bpe256Merges(s, d)._2.take(32).map(_._2)
      val wp = bpeEncodePieces(
        Text.docTermFreq(s, d).select(col("tok")).distinct(), picks)
      val occ = withToks(s, d)
        .select(col("source"), explode(col("toks")).as("tok"))
      occ.join(wp, "tok")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("words"), sum(col("pieces")).as("pieces"),
          sum(length(col("tok"))).as("chars"))
        .select(col("source"), col("words"), col("pieces"), col("chars"),
          expr("pieces * 1000 DIV words").as("pieces_per_word_milli"),
          expr("chars * 1000 DIV pieces").as("chars_per_piece_milli"))
        .orderBy(col("source"))
    },

    // ---- q308: ExactSubstr as a REMOVAL transform ------------------
    // q303 reports the maximal exactly-shared spans; Lee et al. 2022's
    // actual dedup REMOVES one copy of each shared span — this
    // composes the q303 kernel with q156's rewrite discipline into the
    // scrub census a dedup operator ships: for every anchored pair's
    // maximal span, the occurrence in the HIGHER doc_id (d2) is
    // removed — the d1 (first) copy survives, so every shared span
    // keeps exactly one canonical occurrence — and overlapping
    // removals from different pairs union at the position level
    // before counting. Reported per source: docs, docs touched,
    // token mass before/removed, removal rate in milli. The minimum
    // span is a parameter (Lee et al. use 50 tokens; this corpus's
    // planted clones sit at the index's 8-token floor, so the query
    // scrubs at >= 8 — same code path, different constant, and the
    // oracle pins the >= 8 semantics). Scale shape: identical to
    // q303 (anchor-bounded pairs, keyed joins, pair-partitioned
    // windows) plus one keyed position union and one left join —
    // never doc x doc, never a corpus-wide window.
    QueryDef(
      "q308_exact_substr_scrub",
      s"""WITH t AS MATERIALIZED (SELECT doc_id, source, $toksSql AS toks
         |  FROM documents WHERE len($toksSql) >= 8),
         |pos8 AS MATERIALIZED (SELECT doc_id, i,
         |    ${h32Sql("array_to_string(list_slice(toks, i, i + 7), ' ')")}
         |      AS h
         |  FROM t, UNNEST(range(1, len(toks) - 6)) AS u(i)),
         |keep AS (SELECT h FROM pos8 GROUP BY h
         |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 10),
         |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS d1,
         |    b.doc_id AS d2
         |  FROM pos8 a JOIN pos8 b USING (h) JOIN keep USING (h)
         |  WHERE a.doc_id < b.doc_id),
         |pos1 AS MATERIALIZED (SELECT doc_id, i, toks[i] AS w
         |  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)),
         |mm AS (SELECT c.d1, c.d2, a.i AS i1, b.i AS i2
         |  FROM cand c JOIN pos1 a ON a.doc_id = c.d1
         |  JOIN pos1 b ON b.doc_id = c.d2 AND b.w = a.w),
         |isl AS (SELECT d1, d2, i1 - i2 AS diag, i1,
         |    i1 - row_number() OVER (PARTITION BY d1, d2, i1 - i2
         |      ORDER BY i1) AS grp
         |  FROM mm),
         |runs AS (SELECT d1, d2, diag, grp, count(*) AS len,
         |    min(i1) AS s1
         |  FROM isl GROUP BY 1, 2, 3, 4),
         |best AS (SELECT d1, d2, CAST(len AS BIGINT) AS span_toks,
         |    CAST(s1 AS BIGINT) AS s1, CAST(s1 - diag AS BIGINT) AS s2,
         |    row_number() OVER (PARTITION BY d1, d2
         |      ORDER BY len DESC, s1, s1 - diag) AS rn
         |  FROM runs WHERE len >= 8),
         |rm AS (SELECT DISTINCT d2 AS doc_id, u.i
         |  FROM best, UNNEST(range(s2, s2 + span_toks)) u(i)
         |  WHERE rn = 1),
         |rmc AS (SELECT doc_id, count(*) AS rm_toks FROM rm
         |  GROUP BY doc_id)
         |SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN coalesce(rm_toks, 0) > 0 THEN 1 ELSE 0
         |    END) AS BIGINT) AS docs_scrubbed,
         |  CAST(sum(len(t.toks)) AS BIGINT) AS toks_before,
         |  CAST(sum(coalesce(rm_toks, 0)) AS BIGINT) AS toks_removed,
         |  CAST(sum(coalesce(rm_toks, 0)) * 1000 // sum(len(t.toks))
         |    AS BIGINT) AS removed_milli
         |FROM t LEFT JOIN rmc USING (doc_id)
         |GROUP BY t.source ORDER BY t.source""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val spans = exactSubstrSpansOf(Text.posIndex(s, d),
        Text.posDf(s, d), withToks(s, d))
      exactSubstrScrub(spans,
        withToks(s, d).filter(size(col("toks")) >= 8)
          .select(col("doc_id"), col("source"), col("toks")),
        minSpan = 8L)
        .orderBy(col("source"))
    },

    // ---- q309: context-length pricing in tokenizer PIECES ----------
    // q302 prices the max-sequence-length knob in whitespace tokens —
    // but a packer feeds the MODEL, and the model consumes tokenizer
    // pieces, so the knob's real currency is q307's encode path: each
    // doc's length is re-measured as the sum of its words' piece
    // counts under the trained V=32 vocab (one vocab-bounded
    // word -> pieces map off the shared training memo's pick
    // literals, one broadcast-joined pass over the occurrence
    // stream — no re-training, q307's exact scale shape), and the
    // same closed-form sweep (kept mass, naive fill, bin-packing
    // lower bound) runs over the piece-length relation. Same column
    // names as q302 so the two sweeps diff row-for-row.
    QueryDef(
      "q309_context_pieces_sweep",
      {
        val rounds = (1 to 32).map(r => bpeRoundSql(r, s"s${r - 1}"))
          .mkString(",\n")
        s"""WITH $bpeBaseSql,
           |$rounds,
           |wp AS (SELECT DISTINCT replace(s, '|', '') AS tok,
           |    len(list_filter(string_split(s, '|'), x -> x <> ''))
           |      AS pieces
           |  FROM s32),
           |occ AS (SELECT doc_id, unnest($toksSql) AS tok
           |        FROM documents),
           |lens AS (SELECT doc_id, sum(wp.pieces) AS l
           |  FROM occ JOIN wp USING (tok) GROUP BY doc_id),
           |spine AS (SELECT * FROM (VALUES (64), (128), (256), (512))
           |          c(ctx_len))
           |SELECT CAST(c.ctx_len AS BIGINT) AS ctx_len,
           |  count(*) AS n_docs,
           |  CAST(sum(least(l, c.ctx_len)) * 1000 // sum(l) AS BIGINT)
           |    AS kept_milli,
           |  CAST(sum(least(l, c.ctx_len)) * 1000
           |    // (count(*) * c.ctx_len) AS BIGINT) AS fill_milli,
           |  CAST((sum(least(l, c.ctx_len)) + c.ctx_len - 1)
           |    // c.ctx_len AS BIGINT) AS seqs_min
           |FROM lens CROSS JOIN spine c
           |GROUP BY c.ctx_len ORDER BY ctx_len""".stripMargin
      }) { (s, d) =>
      val picks = bpe256Merges(s, d)._2.take(32).map(_._2)
      val wp = bpeEncodePieces(
        Text.docTermFreq(s, d).select(col("tok")).distinct(), picks)
      val lens = withToks(s, d)
        .select(col("doc_id"), explode(col("toks")).as("tok"))
        .join(wp, "tok")
        .groupBy(col("doc_id")).agg(sum(col("pieces")).as("l"))
      val spine = {
        val ss = s; import ss.implicits._
        Seq(64L, 128L, 256L, 512L).toDF("ctx_len")
      }
      lens.crossJoin(broadcast(spine))
        .groupBy(col("ctx_len"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(least(l, ctx_len)) * 1000 DIV sum(l)").cast("long")
            .as("kept_milli"),
          expr("sum(least(l, ctx_len)) * 1000 DIV (count(1) * ctx_len)")
            .cast("long").as("fill_milli"),
          expr("(sum(least(l, ctx_len)) + ctx_len - 1) DIV ctx_len")
            .cast("long").as("seqs_min"))
        .orderBy(col("ctx_len"))
    },

    // ---- q310: BPE vocab-utilization census ------------------------
    // The audit between training (q304/q305) and pricing (q307/q309):
    // which learned pieces does the encode path ACTUALLY emit, and
    // how is usage mass distributed over them? A merge that argmaxed
    // during training can still end up unused at inference (a later
    // merge swallows it inside every word it appeared in) — dead
    // vocab a tokenizer shipper prunes. Per emitted piece: its
    // character length, the distinct word types whose encoding
    // contains it (a word counts once even when the piece repeats
    // inside it), and total corpus occurrences (each in-word repeat
    // counts, weighted by the word's instance count). Top 25 by
    // usage. Scale shape: the merge replay is the q306/q307 map-side
    // fold over the vocab-bounded word relation; the census is one
    // explode + one keyed agg over vocab-bounded rows — the corpus
    // itself is never re-touched (its mass rides in through `cnt`).
    QueryDef(
      "q310_bpe_vocab_utilization",
      {
        val rounds = (1 to 32).map(r => bpeRoundSql(r, s"s${r - 1}"))
          .mkString(",\n")
        s"""WITH $bpeBaseSql,
           |$rounds,
           |u AS (SELECT replace(s, '|', '') AS tok, cnt,
           |    unnest(list_filter(string_split(s, '|'), x -> x <> ''))
           |      AS piece
           |  FROM s32)
           |SELECT piece, CAST(length(piece) AS BIGINT) AS piece_chars,
           |  CAST(count(DISTINCT tok) AS BIGINT) AS n_words,
           |  CAST(sum(cnt) AS BIGINT) AS uses
           |FROM u GROUP BY piece
           |ORDER BY uses DESC, piece LIMIT 25""".stripMargin
      }) { (s, d) =>
      val picks = bpe256Merges(s, d)._2.take(32).map(_._2)
      bpeReplayMerges(bpeWordBase(s, d), picks)
        .select(expr("replace(s, '|', '')").as("tok"), col("cnt"),
          explode(bpeSeqCol).as("piece"))
        .groupBy(col("piece"))
        .agg(countDistinct(col("tok")).as("n_words"),
          sum(col("cnt")).as("uses"))
        .select(col("piece"),
          length(col("piece")).cast("long").as("piece_chars"),
          col("n_words"), col("uses"))
        .orderBy(col("uses").desc, col("piece"))
        .limit(25)
    },

    // ---- q311: ExactSubstr rewrite, content-addressed --------------
    // q308 counts what the scrub removes; this EMITS the scrubbed
    // corpus, doc by doc, content-addressed by md5 exactly like
    // q156's near-dup rewrite — so the oracle pins the rewritten
    // BYTES, not just the accounting, and the operator pair
    // (q156: window-dedup rewrite; q311: maximal-span rewrite)
    // covers both dedup regimes with the same reconstruction
    // discipline. Removal set = q308's (position-unioned d2-side
    // maximal spans); reconstruction = one left-anti position join +
    // per-doc sort_array agg (one keyed shuffle, no window); a doc
    // scrubbed to nothing rewrites to the EMPTY document (md5(""))
    // rather than a missing row.
    QueryDef(
      "q311_exact_substr_rewrite",
      s"""WITH t AS MATERIALIZED (SELECT doc_id, $toksSql AS toks
         |  FROM documents WHERE len($toksSql) >= 8),
         |pos8 AS MATERIALIZED (SELECT doc_id, i,
         |    ${h32Sql("array_to_string(list_slice(toks, i, i + 7), ' ')")}
         |      AS h
         |  FROM t, UNNEST(range(1, len(toks) - 6)) AS u(i)),
         |keep AS (SELECT h FROM pos8 GROUP BY h
         |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 10),
         |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS d1,
         |    b.doc_id AS d2
         |  FROM pos8 a JOIN pos8 b USING (h) JOIN keep USING (h)
         |  WHERE a.doc_id < b.doc_id),
         |pos1 AS MATERIALIZED (SELECT doc_id, i, toks[i] AS w
         |  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)),
         |mm AS (SELECT c.d1, c.d2, a.i AS i1, b.i AS i2
         |  FROM cand c JOIN pos1 a ON a.doc_id = c.d1
         |  JOIN pos1 b ON b.doc_id = c.d2 AND b.w = a.w),
         |isl AS (SELECT d1, d2, i1 - i2 AS diag, i1,
         |    i1 - row_number() OVER (PARTITION BY d1, d2, i1 - i2
         |      ORDER BY i1) AS grp
         |  FROM mm),
         |runs AS (SELECT d1, d2, diag, grp, count(*) AS len,
         |    min(i1) AS s1
         |  FROM isl GROUP BY 1, 2, 3, 4),
         |best AS (SELECT d1, d2, CAST(len AS BIGINT) AS span_toks,
         |    CAST(s1 AS BIGINT) AS s1, CAST(s1 - diag AS BIGINT) AS s2,
         |    row_number() OVER (PARTITION BY d1, d2
         |      ORDER BY len DESC, s1, s1 - diag) AS rn
         |  FROM runs WHERE len >= 8),
         |rm AS (SELECT DISTINCT d2 AS doc_id, u.i
         |  FROM best, UNNEST(range(s2, s2 + span_toks)) u(i)
         |  WHERE rn = 1),
         |tk AS (SELECT doc_id, u.i, toks[u.i] AS tok
         |  FROM t, UNNEST(range(1, len(toks) + 1)) u(i)),
         |kept AS (SELECT tk.doc_id, tk.i, tk.tok
         |  FROM tk LEFT JOIN rm ON rm.doc_id = tk.doc_id AND rm.i = tk.i
         |  WHERE rm.i IS NULL)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_toks,
         |  CAST(coalesce(count(kept.i), 0) AS BIGINT) AS kept_toks,
         |  CAST(len(t.toks) - coalesce(count(kept.i), 0) AS BIGINT)
         |    AS removed_toks,
         |  md5(coalesce(array_to_string(list(kept.tok ORDER BY kept.i)
         |    FILTER (WHERE kept.i IS NOT NULL), ' '), '')) AS clean_md5
         |FROM t LEFT JOIN kept ON kept.doc_id = t.doc_id
         |GROUP BY t.doc_id, len(t.toks)
         |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val spans = exactSubstrSpansOf(Text.posIndex(s, d),
        Text.posDf(s, d), withToks(s, d))
      val rm = spans.filter(col("span_toks") >= 8)
        .select(col("d2").as("doc_id"),
          explode(expr("sequence(s2, s2 + span_toks - 1)")).as("i"))
        .distinct()
      val t = withToks(s, d).filter(size(col("toks")) >= 8)
        .select(col("doc_id"), col("toks"),
          size(col("toks")).cast("long").as("n"))
      val tk = t.select(col("doc_id"), posexplode(col("toks"))
          .as(Seq("i0", "tok")))
        .select(col("doc_id"), (col("i0") + 1).cast("long").as("i"),
          col("tok"))
      val kept = tk.join(rm, Seq("doc_id", "i"), "left_anti")
      t.select(col("doc_id"), col("n"))
        .join(kept.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("kept_toks"),
            md5(array_join(expr(
              "transform(sort_array(collect_list(struct(i, tok))), " +
                "x -> x.tok)"), " ")).as("clean_md5")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n").as("n_toks"),
          coalesce(col("kept_toks"), lit(0L)).as("kept_toks"),
          (col("n") - coalesce(col("kept_toks"), lit(0L)))
            .as("removed_toks"),
          coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
        .orderBy(col("doc_id"))
    }
  )

  // ------------------------------------------------------------------
  // Cross-doc exact-substring kernel (q303 + ExactSubstrSpec)
  // ------------------------------------------------------------------

  /** Maximal exactly-shared token span per anchored doc pair, over
    * ANY (pos = (doc_id, i, h) positional 8-gram index, posDfRel =
    * (h, df), toks = (doc_id, toks)) triple — the QueryDef feeds the
    * session memos, ExactSubstrSpec a planted fixture corpus. One
    * row per pair `(d1, d2, span_toks, s1, s2)` with (s1, s2) the
    * positionally-first maximal occurrence (ties: span desc, s1 asc,
    * s2 asc). Spans shorter than 8 tokens are below the index's gram
    * size and out of contract (the candidate anchors couldn't see
    * them either). */
  private[graft] def exactSubstrSpansOf(pos: DataFrame,
      posDfRel: DataFrame, toks: DataFrame): DataFrame = {
    // anchors bound the PAIR fanout: a gram shared by more than 10
    // docs is boilerplate (q136's territory) and contributes ≤ 45
    // pairs per anchor either way
    val keep = posDfRel.filter(col("df").between(2, 10)).select(col("h"))
    val posk = pos.join(keep, "h")
    val cand = posk.select(col("doc_id").as("d1"), col("h"))
      .join(posk.select(col("doc_id").as("d2"), col("h")), "h")
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    // full match set per candidate pair — ALL grams now (a maximal
    // run must not break at a popular interior gram), keyed joins
    val mm = cand
      .join(pos.select(col("doc_id").as("d1"), col("i").as("i1"),
        col("h")), "d1")
      .join(pos.select(col("doc_id").as("d2"), col("i").as("i2"),
        col("h")), Seq("d2", "h"))
      .select(col("d1"), col("d2"), col("i1"), col("i2"))
    // exact in-bucket verify at MATCH level (not after run
    // formation): comparing the real 8-token slices here means a
    // colliding hash can never bridge two separate runs
    val ver = mm
      .join(toks.select(col("doc_id").as("d1"), col("toks").as("tk1")),
        "d1")
      .join(toks.select(col("doc_id").as("d2"), col("toks").as("tk2")),
        "d2")
      .filter(expr("slice(tk1, i1, 8) = slice(tk2, i2, 8)"))
      .select(col("d1"), col("d2"), col("i1"), col("i2"))
    val wd = Window.partitionBy(col("d1"), col("d2"), col("diag"))
      .orderBy(col("i1"))
    val runs = ver.withColumn("diag", col("i1") - col("i2"))
      .withColumn("grp", col("i1") - row_number().over(wd))
      .groupBy(col("d1"), col("d2"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("i1")).as("s1"))
    val wb = Window.partitionBy(col("d1"), col("d2"))
      .orderBy(col("span_toks").desc, col("s1"), col("s2"))
    runs.select(col("d1"), col("d2"),
        (col("len") + 7).cast("long").as("span_toks"),
        col("s1").cast("long").as("s1"),
        (col("s1") - col("diag")).cast("long").as("s2"))
      .withColumn("rn", row_number().over(wb))
      .filter(col("rn") === 1)
      .select(col("d1"), col("d2"), col("span_toks"), col("s1"),
        col("s2"))
  }

  /** ExactSubstr dedup as a REMOVAL transform (q308 +
    * ExactSubstrSpec): given the q303 span table
    * `(d1, d2, span_toks, s1, s2)` and a `(doc_id, source, toks)`
    * corpus, remove the d2-side occurrence of every maximal shared
    * span of at least `minSpan` tokens (the d1 copy is canonical —
    * pairs are d1 < d2, so "first doc wins" is a total rule) and
    * return the per-source scrub census. Removal positions union at
    * `(doc_id, position)` grain before counting, so overlapping
    * spans from different pairs never double-count. One keyed
    * position dedup + one left join — O(removed tokens), never
    * O(corpus^2). */
  private[graft] def exactSubstrScrub(spans: DataFrame, docs: DataFrame,
      minSpan: Long): DataFrame = {
    val rm = spans.filter(col("span_toks") >= minSpan)
      .select(col("d2").as("doc_id"),
        explode(expr("sequence(s2, s2 + span_toks - 1)")).as("i"))
      .distinct()
    val rmc = rm.groupBy(col("doc_id")).agg(count(lit(1)).as("rm_toks"))
    docs.select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n"))
      .join(rmc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(coalesce(col("rm_toks"), lit(0L)) > 0, 1L)
          .otherwise(0L)).as("docs_scrubbed"),
        sum(col("n")).as("toks_before"),
        sum(coalesce(col("rm_toks"), lit(0L))).as("toks_removed"))
      .select(col("source"), col("n_docs"), col("docs_scrubbed"),
        col("toks_before"), col("toks_removed"),
        expr("toks_removed * 1000 DIV toks_before").as("removed_milli"))
  }

  /** The shared merge-replay kernel: apply trained pick literals
    * (`"a b"` pair strings, in pick order) to a '|'-bounded `s`
    * column as one map-side nested-replace fold — q306's fertility
    * replay, the encode operators, and [[bpeMergeRounds]]'s
    * final-state rebuild all collapse to this. Merge tokens are
    * [a-z] only (the tokenizer strips the rest), so inlining them
    * into the literal replace is injection-safe. */
  private[ops] def bpeReplayMerges(df: DataFrame,
      picks: Seq[String]): DataFrame =
    picks.foldLeft(df) { case (cur, pair) =>
      val pat = "|" + pair.replace(" ", "|") + "|"
      val rep = "|" + pair.replace(" ", "") + "|"
      cur.withColumn("s", expr(
        s"replace(replace(s, '$pat', '$rep'), '$pat', '$rep')"))
    }

  /** BPE ENCODE as a reusable operator (r15 verdict ask 7): replay
    * trained merge-pick literals over a one-column `tok` vocabulary
    * relation and return the `(tok, pieces)` map — the whole
    * inference path of a trained word-internal BPE tokenizer,
    * because encoding a corpus then reduces to broadcast-joining
    * this vocab-bounded map onto the token occurrence stream (q307's
    * census, q309's piece-length pricing, and the live fertility
    * probe all ride it). Map-side: the fold builds one nested
    * codegen'd replace chain, no joins, no driver state beyond the
    * pick literals themselves. */
  private[graft] def bpeEncodePieces(words: DataFrame,
      picks: Seq[String]): DataFrame =
    bpeReplayMerges(
      words.select(col("tok"), concat(lit("|"),
        regexp_replace(col("tok"), "(.)", "$1|")).as("s")), picks)
      .select(col("tok"), size(bpeSeqCol).as("pieces"))

  /** [[bpeEncodePieces]]'s sibling returning the actual piece
    * SEQUENCE per word (`(tok, pieces_seq)`) — what vocab-utilization
    * audits (q310) and any piece-level downstream need. */
  private[graft] def bpeEncodeSegments(words: DataFrame,
      picks: Seq[String]): DataFrame =
    bpeReplayMerges(
      words.select(col("tok"), concat(lit("|"),
        regexp_replace(col("tok"), "(.)", "$1|")).as("s")), picks)
      .select(col("tok"), bpeSeqCol.as("pieces_seq"))

  // ------------------------------------------------------------------
  // Full-vocab BPE training (q304/q305/q306) — shared memo + oracle SQL
  // ------------------------------------------------------------------

  /** The lang-carrying '|'-bounded word relation both training memos
    * start from (lang rides functionally for q306's per-lang census;
    * pair counts aggregate over it to the same global values). */
  private[ops] def bpeWordBase(s: SparkSession, d: String): DataFrame =
    Text.docTermFreq(s, d)
      .groupBy(col("lang"), col("tok").as("word"))
      .agg(sum(col("tf")).as("cnt"))
      .select(col("lang"), concat(lit("|"),
        regexp_replace(col("word"), "(.)", "$1|")).as("s"), col("cnt"))

  private val bpe256Cache =
    new Tables.StatMemo[(DataFrame, Seq[(Int, String, Long, Long)])](
      "bpe256",
      // the value carries a session-cached relation: release its
      // storage blocks when the LRU evicts the entry
      onEvict = v => { v._1.unpersist(false); () })

  /** ONE V=256 training run per (session, dataset) — q304 reads its
    * first 32 picks, q305 the whole pick table, q306 replays its
    * first 64 merge literals for the fertility census. Lazy
    * (build-on-first-touch): its consumers are exactly this query
    * trio, so the build is attributed to whichever runs first in a
    * name-sorted bench pass (deterministically q304) instead of
    * taxing every other query's prewarm. */
  private[ops] def bpe256Merges(s: SparkSession, d: String)
      : (DataFrame, Seq[(Int, String, Long, Long)]) =
    bpe256Cache.getOrElseUpdate((s, d)) {
      // finalTransient = true (review finding): unlike bpeSharedMerges
      // (q159 aggregates the merged relation), this trio reads ONLY
      // the picks — q306 replays the pick literals itself — so the
      // fully-merged word relation must not stay pinned in executor
      // storage for the session; the per-query transient drop
      // reclaims it, and a future ._1 consumer would recompute it
      // deterministically from the embedded merge literals.
      bpeMergeRounds(bpeWordBase(s, d), 256, finalTransient = true)
    }

  /** One oracle round of the chained-CTE BPE replay: pair counts of
    * the previous state, the (count desc, pair asc) argmax, the
    * double-replace rewrite, and the post-merge token total.
    * `AS MATERIALIZED` is load-bearing past a handful of rounds:
    * each s_r is referenced twice (by p_{r+1} and s_{r+1}), so the
    * default inlining would grow the plan 2^rounds. When the vocab
    * exhausts (p_r empty), m_r is empty and the CROSS JOIN collapses
    * s_r to empty — every later round is free and contributes no
    * pick row, mirroring the Spark loop's early termination. */
  private def bpeRoundSql(r: Int, prev: String): String =
    s"""p$r AS MATERIALIZED (SELECT seq[i] || ' ' || seq[i+1] AS pair,
       |    sum(cnt) AS c
       |  FROM (SELECT list_filter(string_split(s, '|'), x -> x <> '')
       |      AS seq, cnt FROM $prev),
       |    UNNEST(range(1, len(seq))) u(i)
       |  WHERE len(seq) >= 2 GROUP BY 1),
       |m$r AS (SELECT pair, c FROM p$r ORDER BY c DESC, pair LIMIT 1),
       |s$r AS MATERIALIZED (SELECT lang,
       |    replace(replace($prev.s, r.pat, r.rep), r.pat, r.rep) AS s,
       |    cnt
       |  FROM $prev, (SELECT '|' || replace(pair, ' ', '|') || '|'
       |      AS pat, '|' || replace(pair, ' ', '') || '|' AS rep
       |    FROM m$r) r),
       |t$r AS (SELECT sum(cnt * len(list_filter(string_split(s, '|'),
       |    x -> x <> ''))) AS toks FROM s$r)""".stripMargin

  private def bpeBaseSql: String =
    s"""wc AS MATERIALIZED (SELECT lang, w AS word, count(*) AS cnt
       |  FROM (SELECT lang, unnest($toksSql) AS w FROM documents)
       |  GROUP BY lang, w),
       |s0 AS MATERIALIZED (SELECT lang,
       |    '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS s, cnt
       |  FROM wc)""".stripMargin

  /** The v-round pick table (round, pair, pair_count, corpus_toks) —
    * exhausted rounds' empty m_r arms contribute nothing. */
  private def bpePicksSql(v: Int): String = {
    val rounds = (1 to v).map(r => bpeRoundSql(r, s"s${r - 1}"))
      .mkString(",\n")
    val arms = (1 to v).map(r =>
      s"""SELECT $r AS round, pair, CAST(c AS BIGINT) AS pair_count,
         |  CAST((SELECT toks FROM t$r) AS BIGINT) AS corpus_toks
         |FROM m$r""".stripMargin).mkString("\nUNION ALL\n")
    s"WITH $bpeBaseSql,\n$rounds\nSELECT * FROM (\n$arms)\nORDER BY round"
  }

  /** Per-lang fertility census over the v-round final state —
    * q159's exact output shape at a deeper vocabulary. */
  private def bpeFertilitySql(v: Int): String = {
    val rounds = (1 to v).map(r => bpeRoundSql(r, s"s${r - 1}"))
      .mkString(",\n")
    s"""WITH $bpeBaseSql,
       |$rounds
       |SELECT lang, CAST(sum(cnt) AS BIGINT) AS words,
       |  CAST(sum(cnt * len(seq)) AS BIGINT) AS pieces,
       |  CAST(sum(cnt * len(seq)) * 1000 // sum(cnt) AS BIGINT)
       |    AS fertility_milli
       |FROM (SELECT lang, cnt,
       |    list_filter(string_split(s, '|'), x -> x <> '') AS seq
       |  FROM s$v)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }
}
