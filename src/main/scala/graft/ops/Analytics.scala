package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 analytics operators: classic warehouse/retrieval shapes
  * that were still missing from the surface — skyline (Pareto
  * frontier), interval-overlap join (session concurrency), graph
  * centrality (integer PageRank over the near-dup graph), CDC
  * cascade-delete auditing (the reference's `ON DELETE CASCADE`
  * semantics, asserted in its integration tests), time-series
  * gap-fill with last-observation-carried-forward, a Benford
  * first-digit audit, hybrid lexical+semantic retrieval fused with
  * reciprocal-rank fusion, multi-touch attribution, and rolling
  * distinct counts via mergeable HLL sketches (the sketch-union
  * pattern that replaces q178's exact explode at planet scale).
  *
  * Determinism conventions as everywhere else: integer arithmetic
  * wherever accumulation order could matter (`DIV`/`//` spelled
  * per-engine, identical operand order), doubles only where both
  * engines compute the identical IEEE-754 expression from identical
  * integers, every query ends in a deterministic total order, and
  * every computed output column is CAST to BIGINT on the oracle side
  * (DuckDB sums promote to HUGEINT, which the driver hashes
  * differently even when values match).
  */
object Analytics {
  import Tables._

  private val tsSecSql = "epoch(date_trunc('second', ts))::BIGINT"

  /** events projected to (user_id, event_id, event_type, ts_sec,
    * value_c): the whole-second timestamp and cent-fixed value every
    * query here consumes. */
  private def ev(s: SparkSession, d: String): DataFrame =
    events(s, d).select(col("user_id"), col("event_id"),
      col("event_type"), col("ts_sec"),
      round(col("value") * 100).cast("long").as("value_c"))

  /** Sorted-neighborhood candidate pairs with NO global sort: given
    * `base(doc_id, key, bucket)` where `bucket` is a PREFIX of the
    * sort key (so buckets are contiguous runs of the global (key,
    * doc_id) order), returns exactly the pairs within global rank
    * distance w-1 as (d1, d2), d1 < d2 by doc id. Within-bucket
    * neighbors come from bucket-partitioned lead() windows;
    * cross-boundary neighbors from the edge zone (rows within w-1 of
    * either bucket end — any qualifying pair that crosses a boundary
    * has both endpoints AND all intervening rows in the zone, since
    * an interior bucket it spans entirely holds <= w-2 rows, so
    * zone-local rank distance equals global distance). The zone is
    * O(#buckets·w); its rank is a broadcast theta count. SnmSpec
    * proves pair-set equality against a global-order brute force on
    * randomized key distributions, including 1-row buckets. */
  /** The standard SNM candidate set over the corpus (w = 4 on the
    * first-3-tokens key, first-char buckets) — memoized: q194 (the
    * windowed dedup itself) and q256 (the blocking bake-off) consume
    * the identical pair relation, which otherwise re-runs the window
    * + edge-zone machinery per query. Rows ≈ (w−1)·docs + the
    * O(#buckets·w) zone cross — doc-linear, ScalingSpec-pinned;
    * session cache so the per-query transient drop can't evict it. */
  private val snmCache = new Tables.DfMemo("snm")

  private[ops] def snmCandidatePairs(s: SparkSession, d: String)
      : DataFrame =
    snmCache.getOrElseUpdate((s, d)) {
      val base = Text.withToks(s, d)
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"),
          concat_ws(" ", slice(col("toks"), 1, 3)).as("key"))
        .withColumn("bucket", substring(col("key"), 1, 1))
      // no distinct: the construction yields each pair once (within
      // and cross arms are bucket-disjoint; SnmSpec proves set
      // equality), and q194's oracle states the same multiplicity.
      // data-sized cache layout (Tables.cacheSized): doc-linear rows
      Tables.cacheSized(snmCandidates(base, 4))
    }

  private[ops] def snmCandidates(base: DataFrame, w: Int): DataFrame = {
    val d = w - 1
    val wB = Window.partitionBy(col("bucket"))
      .orderBy(col("key"), col("doc_id"))
    val within = base
      .withColumn("nbrs", array(
        (1 to d).map(i => lead(col("doc_id"), i).over(wB)): _*))
      .select(col("doc_id").as("a"), explode(col("nbrs")).as("b"))
      .filter(col("b").isNotNull)
    val wE = Window.partitionBy(col("bucket"))
      .orderBy(col("key").desc, col("doc_id").desc)
    val zone = base
      .withColumn("rs", row_number().over(wB))
      .withColumn("re", row_number().over(wE))
      .filter(col("rs") <= d || col("re") <= d)
      .select(col("doc_id"), col("key"), col("bucket"))
      .tcache()
    val before = (bk: org.apache.spark.sql.Column,
        bid: org.apache.spark.sql.Column) =>
      bk < col("key") || (bk === col("key") && bid < col("doc_id"))
    val zr = zone
      .join(broadcast(zone.select(col("key").as("k2"),
        col("doc_id").as("id2"))),
        before(col("k2"), col("id2")), "left")
      .groupBy(col("doc_id"), col("key"), col("bucket"))
      .agg(count(col("id2")).as("zrn"))
      .tcache()
    val cross = zr.select(col("doc_id").as("a"), col("bucket").as("ba"),
        col("zrn").as("ra"))
      .join(broadcast(zr.select(col("doc_id").as("b"),
        col("bucket").as("bb"), col("zrn").as("rb"))),
        col("rb") - col("ra") >= 1 && col("rb") - col("ra") <= d &&
          col("ba") =!= col("bb"))
      .select(col("a"), col("b"))
    within.unionAll(cross)
      .select(least(col("a"), col("b")).as("d1"),
        greatest(col("a"), col("b")).as("d2"))
  }

  /** q206's single SQL text — executed verbatim by spark.sql AND by
    * the DuckDB oracle (ANSI subset: integer-cents sums, CASTs,
    * row_number; no dialect-specific operator anywhere). */
  private val sqlEntryText =
    """WITH rev AS (
      |  SELECT n.n_name, r.r_name,
      |    CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS rev_cents
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey
      |  JOIN region r ON r.r_regionkey = n.n_regionkey
      |  WHERE o.o_orderpriority = '1-URGENT'
      |  GROUP BY n.n_name, r.r_name)
      |SELECT r_name, n_name, rev_cents, rk FROM (
      |  SELECT r_name, n_name, rev_cents,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY r_name
      |      ORDER BY rev_cents DESC, n_name) AS BIGINT) AS rk
      |  FROM rev) ranked
      |WHERE rk <= 3 ORDER BY r_name, rk""".stripMargin

  /** Benford expected permille by leading digit — round(1000 *
    * log10(1 + 1/d)) precomputed so both engines compare identical
    * integer constants. */
  /** q191/q239's lexical retrieval arm: per-query shingle-Jaccard
    * top-10 out of the shared shingle index — candidates only from
    * shingle-bucket equi-joins. */
  private def lexTop10(s: SparkSession, d: String): DataFrame = {
    val sh = Text.shingleHashes(s, d)
    val qs = sh.filter(col("doc_id") < 20)
      .select(col("doc_id").as("qid"), col("n").as("nq"),
        col("h").as("qh"))
    val cs = sh.select(col("doc_id").as("cid"), col("n").as("nc"),
      col("h"))
    val wLex = Window.partitionBy(col("qid")).orderBy(
      (col("inter") * 1.0 / (col("nq") + col("nc") - col("inter"))).desc,
      col("cid"))
    qs.join(cs,
        col("qh") === col("h") && col("cid") =!= col("qid"))
      .groupBy(col("qid"), col("cid"), col("nq"), col("nc"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("rb", row_number().over(wLex))
      .filter(col("rb") <= 10)
      .select(col("qid"), col("cid"), col("rb"))
  }

  /** Reciprocal-rank fusion of a semantic arm (qid, cid, ra) and a
    * lexical arm (qid, cid, rb): integer RRF, per-query top-5. */
  private def rrfFuse(semT: DataFrame, lexT: DataFrame): DataFrame = {
    val wF = Window.partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("cid"))
    semT.as("a").join(lexT.as("b"),
        col("a.qid") === col("b.qid") && col("a.cid") === col("b.cid"),
        "full_outer")
      .select(coalesce(col("a.qid"), col("b.qid")).as("qid"),
        coalesce(col("a.cid"), col("b.cid")).as("cid"),
        (coalesce(expr("1000000 DIV (60 + ra)"), lit(0L)) +
          coalesce(expr("1000000 DIV (60 + rb)"), lit(0L))).as("rrf"))
      .withColumn("rn", row_number().over(wF))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("cid"), col("rrf"))
      .orderBy(col("qid"), col("rn"))
  }

  private val benfordCase =
    "CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 125 " +
      "WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67 WHEN 7 THEN 58 " +
      "WHEN 8 THEN 51 ELSE 46 END"

  // q262's Venn-cell seed texts (see the QueryDef comment): distinct
  // "zyq"-prefixed letter runs — pure [a-z] so the tokenizer keeps
  // them whole, and absent from the synthetic corpus so the fixture
  // shares no shingles/grams with real docs.
  private def fixRun(p: String, n: Int): String =
    (0 until n).map(i => p + ('a' + i).toChar).mkString(" ")
  private val fixA = fixRun("zyqa", 7)                      // 7 tokens
  private val fixBt = fixRun("zyqb", 26) + " " + fixRun("zyqc", 4) // 30
  private val fixBe = fixRun("zyqb", 8) + " " + fixRun("zyqd", 4)  // 12
  private val fixCt = fixRun("zyqe", 20)                    // 20 tokens
  private val fixDe = fixRun("zyqf", 10)                    // 10 tokens
  /** (doc_id, text) fixture frame — ids pre-picked so md5_h32(id)%20
    * lands eval for {…20, …21, …31, …140} and train for {…01 … 03}. */
  private def fixDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((900000001L, fixA), (900000020L, fixA),
      (900000002L, fixBt), (900000021L, fixBe),
      (900000003L, fixCt), (900000031L, fixCt),
      (900000140L, fixDe)).toDF("doc_id", "text")
  }

  // q268's debt-curve seed (same FIXTURES.md recipe as q262): four
  // disjoint 12-token runs; train copy T_b enters at batch b
  // (id % 4 == b, non-eval under md5%20), eval copy E_b (eval under
  // md5%20) shares ALL 5 of its 8-grams with T_b and nothing else —
  // so E_b's first threshold crossing is exactly batch b, making
  // every n_new_contam cell non-empty at any SF by construction.
  private[graft] val debtRuns: Seq[String] =
    Seq("zyqg", "zyqh", "zyqi", "zyqj").map(fixRun(_, 12))
  private[graft] val debtTrainIds =
    Seq(910000000L, 910000001L, 910000002L, 910000003L)
  private[graft] val debtEvalIds =
    Seq(920000004L, 920000014L, 920000017L, 920000029L)
  private[graft] def debtFixDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    (debtTrainIds.zip(debtRuns) ++ debtEvalIds.zip(debtRuns))
      .toDF("doc_id", "text")
  }
  private def debtFixValuesSql: String =
    (debtTrainIds.zip(debtRuns) ++ debtEvalIds.zip(debtRuns))
      .map { case (id, t) => s"($id, '$t')" }.mkString(", ")

  // q273's seed: a BOILERPLATE 12-token run planted in 12 train docs
  // (every gram's train-DF = 12 > the cap) + 1 eval copy → raw
  // verdict fires, refined must not; and a RARE dup pair (DF = 1) →
  // both fire. Ids picked for the md5%20 split like the debt fixture;
  // (raw=false, refined=true) is structurally impossible (refined
  // hits ⊆ raw hits over the same denominator), so the census has
  // exactly 3 reachable cells — documented, not an empty-cell risk.
  private val boilRun = fixRun("ztb", 12)
  private val rareRun = fixRun("ztr", 12)
  private[graft] def boilFixDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    val boilTrain = Seq(930000000L, 930000001L, 930000002L, 930000003L,
      930000005L, 930000006L, 930000007L, 930000008L, 930000011L,
      930000012L, 930000013L, 930000014L).map(_ -> boilRun)
    val rest = Seq(930000015L -> rareRun,
      940000016L -> boilRun, 940000021L -> rareRun)
    (boilTrain ++ rest).toDF("doc_id", "text")
  }
  private def boilFixValuesSql: String =
    (Seq(930000000L, 930000001L, 930000002L, 930000003L, 930000005L,
      930000006L, 930000007L, 930000008L, 930000011L, 930000012L,
      930000013L, 930000014L).map(_ -> boilRun) ++
      Seq(930000015L -> rareRun, 940000016L -> boilRun,
        940000021L -> rareRun))
      .map { case (id, t) => s"($id, '$t')" }.mkString(", ")

  val defs: Seq[QueryDef] = Seq(

    // ---- q185: Pareto frontier (skyline) --------------------------
    // The skyline operator: customers not dominated on the
    // (total spend, order count) plane — a BNL/D&C classic
    // (Borzsony/Kossmann/Stocker, ICDE'01) that naive SQL writes as
    // a quadratic NOT EXISTS self-join. Distributed shape: a point
    // survives iff its y is (a) the max among equal x and (b)
    // strictly above the max y over all strictly-greater x — a
    // SUFFIX MAX over the x order. The suffix max runs two-level:
    // fixed-width x buckets give a per-bucket max (tiny relation,
    // broadcast theta self-join for the over-higher-buckets suffix),
    // and a bucket-partitioned window handles the within-bucket
    // prefix — no global window, no quadratic join, one shuffle on
    // the aggregation key plus one on the bucket. At 100 TB the
    // frontier of a 2-D skyline is tiny relative to the input, and
    // every stage here is either keyed or O(#buckets).
    QueryDef(
      "q185_pareto_frontier",
      """WITH cust AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS spend_cents,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, spend_cents, n_orders
        |FROM cust c
        |WHERE NOT EXISTS (SELECT 1 FROM cust o
        |  WHERE o.spend_cents >= c.spend_cents
        |    AND o.n_orders >= c.n_orders
        |    AND (o.spend_cents > c.spend_cents
        |         OR o.n_orders > c.n_orders))
        |ORDER BY spend_cents DESC, o_custkey""".stripMargin) { (s, d) =>
      // cached: the aggregate feeds both the frontier test and the
      // final survivor join — without it each branch re-scans orders
      val cust = orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("spend_cents"), count(lit(1)).as("n_orders"))
        .tcache()
      // best y per distinct x, with a $100k-wide data-independent
      // spend bucket riding along (one row per x after the grouping,
      // so the frontier test below is per-x); cached — it feeds both
      // the per-bucket maxima and the windowed frontier filter
      val m1 = cust
        .withColumn("bucket", expr("spend_cents DIV 10000000"))
        .groupBy(col("spend_cents"), col("bucket"))
        .agg(max(col("n_orders")).as("m"))
        .tcache()
      val bmax = m1.groupBy(col("bucket")).agg(max(col("m")).as("mb"))
      // suffix max over strictly-higher buckets (tiny x tiny)
      val hmax = bmax.as("b")
        .join(broadcast(bmax.as("h")), col("h.bucket") > col("b.bucket"),
          "left")
        .groupBy(col("b.bucket").as("bucket"))
        .agg(max(col("h.mb")).as("hmax"))
      val wPrev = Window.partitionBy(col("bucket"))
        .orderBy(col("spend_cents").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontierX = m1
        .withColumn("pmax", max(col("m")).over(wPrev))
        .join(broadcast(hmax), Seq("bucket"), "left")
        .filter(col("m") >
          coalesce(greatest(col("pmax"), col("hmax")), lit(-1L)))
        .select(col("spend_cents"), col("m"))
      cust.join(frontierX, Seq("spend_cents"))
        .filter(col("n_orders") === col("m"))
        .select(col("o_custkey"), col("spend_cents"), col("n_orders"))
        .orderBy(col("spend_cents").desc, col("o_custkey"))
    },

    // ---- q186: interval-overlap join (session concurrency) --------
    // Sessions (30-min inactivity gap, the q18 definition) joined to
    // the hours they overlap — the bucketed interval join: each
    // interval EXPLODES into the fixed-width time buckets it covers
    // (bounded fanout: session length / bucket width), turning an
    // interval-overlap theta join into an equi-join on the bucket
    // key. The concurrency profile is then one keyed aggregation.
    // At 100 TB: no cross join ever exists; fanout is bounded by
    // interval length, the shuffle key is the hour, and skewed hot
    // hours land on the AQE skew path like any hot group.
    QueryDef(
      "q186_session_concurrency",
      s"""WITH e AS (SELECT user_id, event_id, $tsSecSql AS ts_sec
         |           FROM events),
         |flagged AS (SELECT user_id, ts_sec,
         |    CASE WHEN ts_sec - lag(ts_sec) OVER w >= 1800
         |         OR lag(ts_sec) OVER w IS NULL
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM e WINDOW w AS (PARTITION BY user_id
         |                      ORDER BY ts_sec, event_id)),
         |sess AS (SELECT user_id, ts_sec,
         |    sum(new_session) OVER (PARTITION BY user_id
         |      ORDER BY ts_sec ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) AS sid
         |  FROM flagged),
         |per AS (SELECT user_id, sid, min(ts_sec) AS st,
         |               max(ts_sec) AS en
         |        FROM sess GROUP BY user_id, sid),
         |hrs AS (SELECT user_id, h
         |        FROM per, UNNEST(range(st // 3600, en // 3600 + 1))
         |          AS t(h))
         |SELECT h AS hour_id, count(*) AS n_sessions,
         |       count(DISTINCT user_id) AS n_users
         |FROM hrs GROUP BY h
         |ORDER BY n_sessions DESC, hour_id LIMIT 50""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_sec"), col("event_id"))
        val wRun = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_sec"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, d)
          .select(col("user_id"), col("event_id"), col("ts_sec"))
          .withColumn("new_session",
            when(col("ts_sec") - lag(col("ts_sec"), 1).over(w) >= 1800 ||
              lag(col("ts_sec"), 1).over(w).isNull, 1).otherwise(0))
          .withColumn("sid", sum(col("new_session")).over(wRun))
          .groupBy(col("user_id"), col("sid"))
          .agg(min(col("ts_sec")).as("st"), max(col("ts_sec")).as("en"))
          .select(col("user_id"), explode(sequence(
            expr("st DIV 3600"), expr("en DIV 3600"))).as("hour_id"))
          .groupBy(col("hour_id"))
          .agg(count(lit(1)).as("n_sessions"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("n_sessions").desc, col("hour_id"))
          .limit(50)
    },

    // ---- q187: integer PageRank over the near-dup graph -----------
    // Graph centrality on the q25 near-duplicate graph: which
    // documents sit at the center of duplication clusters (the docs
    // whose removal/canonicalization matters most). Three power
    // iterations with damping 0.85, all in EXACT integer milli-units
    // (rank starts at 1000; contribution = rank DIV degree; next =
    // 150 + 850*inflow DIV 1000) so partition count and merge order
    // cannot move a single bit — the same determinism recipe as the
    // q115 integer Lloyd. Per round: one keyed join of the edge list
    // with the rank vector plus one keyed sum — the textbook
    // distributed PageRank shape (no adjacency broadcast, no driver
    // state beyond the loop counter). The edge relation is cached
    // once and reused by all three rounds. At 100 TB the near-dup
    // edge list is the OUTPUT of LSH candidate filtering — orders
    // smaller than the corpus — and each round is a pair of shuffles
    // keyed on doc id.
    QueryDef(
      "q187_pagerank_neardup",
      { val iter = (k: Int) =>
          s"""i$k AS (SELECT e.dst, sum(r.pr // d.deg) AS s
             |  FROM ed e JOIN r${k - 1} r ON r.doc_id = e.src
             |  JOIN dg d ON d.src = e.src
             |  GROUP BY e.dst),
             |r$k AS (SELECT n.doc_id,
             |    150 + (850 * coalesce(i.s, 0)) // 1000 AS pr
             |  FROM n0 n LEFT JOIN i$k i ON i.dst = n.doc_id)"""
            .stripMargin
        s"""WITH shingles AS (${Text.shinglesSql}),
           |${Text.jaccardPairsSql},
           |ed AS (SELECT d1 AS src, d2 AS dst FROM jpairs
           |       UNION ALL SELECT d2, d1 FROM jpairs),
           |dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
           |n0 AS (SELECT doc_id FROM documents),
           |r0 AS (SELECT doc_id, CAST(1000 AS BIGINT) AS pr FROM n0),
           |${iter(1)},
           |${iter(2)},
           |${iter(3)}
           |SELECT doc_id, CAST(pr AS BIGINT) AS pr_milli FROM r3
           |ORDER BY pr_milli DESC, doc_id LIMIT 20""".stripMargin
      }) { (s, d) =>
      val jp = Text.jaccardPairs(s, d)
      val ed = jp.select(col("d1").as("src"), col("d2").as("dst"))
        .unionAll(jp.select(col("d2").as("src"), col("d1").as("dst")))
      val dg = ed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val edd = ed.join(dg, "src").tcache()
      val docs = documents(s, d).select(col("doc_id"))
      val localMax = graft.GraftConf.GraphLocalEdgeMax.get(s)
      val r =
        if (Tables.fitsLocal(edd, localMax)) {
          // r16 fast path (see GraphKernel): the 3 integer rank rounds
          // run in one task over the near-dup edge list (w = 1,
          // wdeg = deg gives exactly pr DIV deg per edge). Nodes
          // never touched by an edge rank 150 in closed form after
          // round 1 (1000 enters round 1 with zero inflow), so the
          // all-docs universe re-attaches with one coalesce.
          val ss = s; import ss.implicits._
          val ranked = edd.select(col("src").cast("long"),
              col("dst").cast("long"), lit(1L), col("deg").cast("long"))
            .as[(Long, Long, Long, Long)].repartition(1)
            .mapPartitions(it => GraphKernel.pageRankLong(it, 3))
            .toDF("doc_id", "kpr", "deg")
            .select(col("doc_id"), col("kpr"))
          docs.join(ranked, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("kpr"), lit(150L)).as("pr"))
        } else {
          var rr = docs.select(col("doc_id"), lit(1000L).as("pr"))
          for (_ <- 1 to 3) {
            val inflow = edd.join(rr, edd("src") === rr("doc_id"))
              .select(col("dst"), expr("pr DIV deg").as("c"))
              .groupBy(col("dst")).agg(sum(col("c")).as("s"))
            rr = docs.join(inflow, col("doc_id") === col("dst"), "left")
              .select(col("doc_id"),
                (lit(150L) + expr("(850 * coalesce(s, 0L)) DIV 1000"))
                  .as("pr"))
              // truncate per-round lineage — round k otherwise
              // re-executes rounds 1..k-1 (the minLabelProp recipe)
              .localCheckpoint(true)
          }
          rr
        }
      r.orderBy(col("pr").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), col("pr").as("pr_milli"))
    },

    // ---- q188: CDC cascade-delete audit ---------------------------
    // The reference schema declares `user_contents ... REFERENCES
    // users(id) ON DELETE CASCADE` and its integration tests assert
    // the cascaded child deletes arrive on the replication stream
    // (reference: infra/docker-pg-logical-replication/image/
    // docker-entrypoint-initdb.d/10-create-tables.sh). A downstream
    // consumer materializing both tables must account for the same
    // semantics: any child row written before its parent's LAST
    // delete is gone, even if the parent was later re-inserted.
    // Modeled on the events changelog (q16's op mapping: error =
    // delete): purchases are child rows keyed by user; victims are
    // purchases older than the user's last delete. Two keyed
    // aggregations and one keyed join — scale-free.
    QueryDef(
      "q188_cascade_delete_audit",
      s"""WITH c AS (SELECT user_id, event_id, event_type,
         |    CAST(round(value * 100) AS BIGINT) AS value_c
         |  FROM events),
         |del AS (SELECT user_id, max(event_id) AS last_del
         |        FROM c WHERE event_type = 'error' GROUP BY user_id),
         |victims AS (SELECT c.user_id, c.value_c
         |  FROM c JOIN del ON del.user_id = c.user_id
         |  WHERE c.event_type = 'purchase'
         |    AND c.event_id < del.last_del)
         |SELECT user_id, count(*) AS n_victims,
         |  CAST(sum(value_c) AS BIGINT) AS victims_value_cents
         |FROM victims GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, d) =>
        val c = ev(s, d)
        val del = c.filter(col("event_type") === "error")
          .groupBy(col("user_id"))
          .agg(max(col("event_id")).as("last_del"))
        c.filter(col("event_type") === "purchase")
          .join(del, Seq("user_id"))
          .filter(col("event_id") < col("last_del"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_victims"),
            sum(col("value_c")).as("victims_value_cents"))
          .orderBy(col("user_id"))
    },

    // ---- q189: gap-fill + LOCF ------------------------------------
    // Time-series regularization: hourly per-type averages (exact
    // integer e4 units — sum of cent-fixed values, so accumulation
    // order is irrelevant) joined onto a dense hour spine, gaps
    // filled by last-observation-carried-forward. The spine is
    // generated from a 1-row bounds aggregate cross-joined (broadcast)
    // with the tiny type dimension — no driver loop, no global
    // window: LOCF is a per-type ordered window, so the shuffle key
    // is the series key and 10^6 series fan out across the cluster.
    // The standard shape for feature-store regularization at scale.
    QueryDef(
      "q189_gap_fill_locf",
      s"""WITH e AS (SELECT event_type, $tsSecSql AS ts_sec,
         |    CAST(round(value * 100) AS BIGINT) AS value_c
         |  FROM events WHERE event_type IN ('purchase', 'signup')),
         |hourly AS (SELECT event_type, ts_sec // 3600 AS hour_id,
         |    (sum(value_c) * 100) // count(*) AS val_e4
         |  FROM e GROUP BY event_type, (ts_sec // 3600)),
         |bounds AS (SELECT min(ts_sec) // 3600 AS h0,
         |                  max(ts_sec) // 3600 AS h1 FROM e),
         |spine AS (SELECT t.event_type, u.h AS hour_id
         |  FROM (SELECT DISTINCT event_type FROM e) t, bounds b,
         |       UNNEST(range(b.h0, b.h1 + 1)) AS u(h)),
         |j AS (SELECT s.event_type, s.hour_id, h.val_e4
         |      FROM spine s LEFT JOIN hourly h
         |        ON h.event_type = s.event_type
         |       AND h.hour_id = s.hour_id)
         |SELECT event_type, hour_id,
         |  CAST(coalesce(last_value(val_e4 IGNORE NULLS) OVER (
         |    PARTITION BY event_type ORDER BY hour_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
         |    AS BIGINT) AS filled_e4,
         |  (val_e4 IS NULL) AS is_gap
         |FROM j ORDER BY event_type, hour_id""".stripMargin) { (s, d) =>
      val e = ev(s, d)
        .filter(col("event_type").isin("purchase", "signup"))
        .select(col("event_type"), col("ts_sec"), col("value_c"))
      val hourly = e
        .groupBy(col("event_type"), expr("ts_sec DIV 3600").as("hour_id"))
        .agg(expr("(sum(value_c) * 100) DIV count(1)").as("val_e4"))
      val bounds = e.agg(expr("min(ts_sec) DIV 3600").as("h0"),
        expr("max(ts_sec) DIV 3600").as("h1"))
      val spine = e.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"))).as("hour_id"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("event_type", "hour_id"), "left")
        .select(col("event_type"), col("hour_id"),
          coalesce(last(col("val_e4"), ignoreNulls = true).over(w),
            lit(-1L)).as("filled_e4"),
          col("val_e4").isNull.as("is_gap"))
        .orderBy(col("event_type"), col("hour_id"))
    },

    // ---- q190: Benford first-digit audit --------------------------
    // Data-quality screen: the leading-digit distribution of order
    // amounts against Benford's law (expected permille = round(1000 *
    // log10(1 + 1/d)), precomputed as integer literals so both
    // engines compare against the identical constants — no log in
    // either plan). One map-side digit extraction, a 9-group
    // aggregate, and a broadcast 1-row total: the audit reads any
    // amount column at 100 TB for the cost of one scan.
    QueryDef(
      "q190_benford_audit",
      s"""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
         |             AS cents FROM orders),
         |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1)
         |               AS BIGINT) AS digit,
         |             count(*) AS n
         |      FROM c GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM d)
         |SELECT digit, n,
         |  CAST((n * 1000) // total AS BIGINT) AS permille_obs,
         |  CAST($benfordCase AS BIGINT) AS permille_exp,
         |  CAST(abs((n * 1000) // total - ($benfordCase))
         |    AS BIGINT) AS dev_permille
         |FROM d, t ORDER BY digit""".stripMargin) { (s, d) =>
      val cents = orders(s, d)
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
      val dig = cents
        .select(substring(col("cents").cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val total = dig.agg(sum(col("n")).as("total"))
      dig.crossJoin(broadcast(total))
        .select(col("digit"), col("n"),
          expr("(n * 1000) DIV total").as("permille_obs"),
          expr(benfordCase).as("permille_exp"),
          expr(s"abs((n * 1000) DIV total - ($benfordCase))")
            .as("dev_permille"))
        .orderBy(col("digit"))
    },

    // ---- q191: hybrid retrieval with reciprocal-rank fusion -------
    // The production RAG retrieval shape: a lexical arm (shingle
    // Jaccard over the shared q25 shingle index — candidates only
    // from shingle-bucket equi-joins) and a semantic arm running on
    // the TRAINED IVF INDEX (q116's machinery): probe the nearest
    // cells per query, equi-join candidates out of the probed cells,
    // exact-rerank by rounded-double cosine. At this SF nprobe = k
    // (full coverage) keeps the output bit-identical to the
    // brute-force oracle scan while the PLAN is the 100 TB shape —
    // candidate generation is a broadcast equi-join on cell id, no
    // corpus-side crossJoin (q239 audits the pruned-nprobe recall).
    // Arms fuse per query with RRF: score = sum over arms of
    // 1e6 DIV (60 + rank) — rank fusion needs no score calibration
    // between arms, which is exactly why RRF won in practice
    // (Cormack et al., SIGIR'09). Integer fusion keeps the blend
    // bit-exact. Both arms window per query id; the fuse is one
    // full-outer keyed join on (query, candidate).
    QueryDef(
      "q191_hybrid_rrf",
      s"""WITH shingles AS (${Text.shinglesSql}),
         |cnt AS (SELECT doc_id, count(*) AS n FROM shingles
         |        GROUP BY doc_id),
         |sn AS (SELECT s.doc_id, s.h, c.n FROM shingles s
         |       JOIN cnt c ON c.doc_id = s.doc_id),
         |lexp AS (SELECT q.doc_id AS qid, c.doc_id AS cid,
         |    q.n AS nq, c.n AS nc, count(*) AS inter
         |  FROM sn q JOIN sn c
         |    ON c.h = q.h AND q.doc_id < 20 AND c.doc_id <> q.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |lexr AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |    ORDER BY inter * 1.0 / (nq + nc - inter) DESC, cid) AS rb
         |  FROM lexp),
         |lexT AS (SELECT qid, cid, rb FROM lexr WHERE rb <= 10),
         |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE)
         |        AS v FROM embeddings),
         |nn AS (SELECT vec_id, v, ${Vectors.dotSql("v", "v")} AS nrm
         |       FROM e),
         |qv AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM nn
         |       WHERE vec_id < 20),
         |semp AS (SELECT qid, c.vec_id AS cid,
         |    round(${Vectors.dotSql("qv", "c.v")} /
         |          (sqrt(qn) * sqrt(c.nrm)), 6) AS score
         |  FROM qv JOIN nn c ON c.vec_id <> qid),
         |semr AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |    ORDER BY score DESC, cid) AS ra FROM semp),
         |semT AS (SELECT qid, cid, ra FROM semr WHERE ra <= 10),
         |fused AS (SELECT coalesce(a.qid, b.qid) AS qid,
         |    coalesce(a.cid, b.cid) AS cid,
         |    coalesce(1000000 // (60 + a.ra), 0) +
         |    coalesce(1000000 // (60 + b.rb), 0) AS rrf
         |  FROM semT a FULL OUTER JOIN lexT b
         |    ON b.qid = a.qid AND b.cid = a.cid)
         |SELECT qid, rn, cid, CAST(rrf AS BIGINT) AS rrf
         |FROM (SELECT qid, cid, rrf, row_number() OVER (
         |        PARTITION BY qid ORDER BY rrf DESC, cid) AS rn
         |      FROM fused)
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      val lexT = lexTop10(s, d)
      // semantic arm on the trained IVF index — nprobe = 8 = k is
      // full coverage, the exactness setting for the oracle contract
      val semT = Vectors.ivfSemanticTop(s, d, nprobe = 8, k = 10)
      rrfFuse(semT, lexT)
    },

    // ---- q239: hybrid-retrieval IVF recall audit ------------------
    // The demoted brute-force arm, repurposed as q191's safety gauge
    // (the q106/q118 recall-audit pattern): fuse the SAME lexical arm
    // with the semantic arm at the PRODUCTION setting (nprobe = 5 of
    // k = 8 cells — candidates from ~60% of the corpus; at this tiny
    // k the cells are coarse, so the prune is modest — a 100 TB
    // index trains k in the thousands and probes a few percent) and at
    // full coverage (nprobe = 8 — exact by construction), and report
    // per-query recall@5 of the pruned fusion against the exact one.
    // This is the number a deployment watches when it turns the
    // nprobe knob at 100 TB; the engine contract is recall ≥ 95% mean
    // (pinned in VectorsIvfRecallSpec).
    QueryDef(
      "q239_hybrid_ivf_recall",
      "WITH " + Vectors.lloydA2Sql + ",\n" +
      s"""shingles AS (${Text.shinglesSql}),
         |cnt AS (SELECT doc_id, count(*) AS n FROM shingles
         |        GROUP BY doc_id),
         |sn AS (SELECT s.doc_id, s.h, c.n FROM shingles s
         |       JOIN cnt c ON c.doc_id = s.doc_id),
         |lexp AS (SELECT q.doc_id AS qid, c.doc_id AS cid,
         |    q.n AS nq, c.n AS nc, count(*) AS inter
         |  FROM sn q JOIN sn c
         |    ON c.h = q.h AND q.doc_id < 20 AND c.doc_id <> q.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |lexr AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |    ORDER BY inter * 1.0 / (nq + nc - inter) DESC, cid) AS rb
         |  FROM lexp),
         |lexT AS (SELECT qid, cid, rb FROM lexr WHERE rb <= 10),
         |qcd AS (SELECT d.vec_id AS qid, c.j,
         |    sum((d.v - c.c) * (d.v - c.c)) AS dist
         |  FROM dims d JOIN c1 c ON c.i = d.i WHERE d.vec_id < 20
         |  GROUP BY 1, 2),
         |probes AS (SELECT qid, j FROM (
         |    SELECT qid, j, row_number() OVER (PARTITION BY qid
         |      ORDER BY dist, j) AS pr FROM qcd) WHERE pr <= 5),
         |ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE)
         |        AS v FROM embeddings),
         |nnv AS (SELECT vec_id, v, ${Vectors.dotSql("v", "v")} AS nrm
         |        FROM ed),
         |qvv AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM nnv
         |        WHERE vec_id < 20),
         |semp AS (SELECT qid, c.vec_id AS cid,
         |    round(${Vectors.dotSql("qv", "c.v")} /
         |          (sqrt(qn) * sqrt(c.nrm)), 6) AS score
         |  FROM qvv JOIN nnv c ON c.vec_id <> qid),
         |semT AS (SELECT qid, cid, ra FROM (
         |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |      ORDER BY score DESC, cid) AS ra FROM semp) WHERE ra <= 10),
         |icand AS (SELECT p.qid, a.vec_id AS cid FROM probes p
         |  JOIN a2 a ON a.j = p.j WHERE a.vec_id <> p.qid),
         |isc AS (SELECT i.qid, i.cid,
         |    round(${Vectors.dotSql("q.qv", "c.v")} /
         |          (sqrt(q.qn) * sqrt(c.nrm)), 6) AS score
         |  FROM icand i JOIN qvv q ON q.qid = i.qid
         |  JOIN nnv c ON c.vec_id = i.cid),
         |isemT AS (SELECT qid, cid, ra FROM (
         |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |      ORDER BY score DESC, cid) AS ra FROM isc) WHERE ra <= 10),
         |fusedF AS (SELECT qid, cid FROM (
         |    SELECT qid, cid, rrf, row_number() OVER (
         |        PARTITION BY qid ORDER BY rrf DESC, cid) AS rn
         |    FROM (SELECT coalesce(a.qid, b.qid) AS qid,
         |        coalesce(a.cid, b.cid) AS cid,
         |        coalesce(1000000 // (60 + a.ra), 0) +
         |        coalesce(1000000 // (60 + b.rb), 0) AS rrf
         |      FROM semT a FULL OUTER JOIN lexT b
         |        ON b.qid = a.qid AND b.cid = a.cid)) WHERE rn <= 5),
         |fusedP AS (SELECT qid, cid FROM (
         |    SELECT qid, cid, rrf, row_number() OVER (
         |        PARTITION BY qid ORDER BY rrf DESC, cid) AS rn
         |    FROM (SELECT coalesce(a.qid, b.qid) AS qid,
         |        coalesce(a.cid, b.cid) AS cid,
         |        coalesce(1000000 // (60 + a.ra), 0) +
         |        coalesce(1000000 // (60 + b.rb), 0) AS rrf
         |      FROM isemT a FULL OUTER JOIN lexT b
         |        ON b.qid = a.qid AND b.cid = a.cid)) WHERE rn <= 5)
         |SELECT f.qid, count(p.cid) * 20 AS recall_pct
         |FROM fusedF f LEFT JOIN fusedP p
         |  ON p.qid = f.qid AND p.cid = f.cid
         |GROUP BY f.qid ORDER BY f.qid""".stripMargin) { (s, d) =>
      val lexT = lexTop10(s, d)
      val full = rrfFuse(Vectors.ivfSemanticTop(s, d, nprobe = 8, k = 10),
        lexT)
      val pruned = rrfFuse(Vectors.ivfSemanticTop(s, d, nprobe = 5, k = 10),
        lexT)
      full.as("x").join(pruned.as("y"),
          col("x.qid") === col("y.qid") && col("x.cid") === col("y.cid"),
          "left")
        .groupBy(col("x.qid").as("qid"))
        .agg((count(col("y.cid")) * 20).as("recall_pct"))
        .orderBy(col("qid"))
    },

    // ---- q192: multi-touch attribution ----------------------------
    // Marketing-style credit assignment on the event stream: each
    // purchase distributes 1000 milli-credits linearly across the
    // user's click/view touches in the trailing 24 h; integer
    // division's remainder goes to the LAST touch so every purchase
    // accounts for exactly 1000 and the assignment is bit-exact.
    // The purchase-touch pairing is an equi-join on user_id with the
    // time bound as a residual predicate — per-user fanout is
    // (purchases x touches) within the window, bounded by per-user
    // activity; the credit windows partition by purchase id. At
    // 100 TB: shuffle keys are user_id then purchase id, both
    // high-cardinality; a hot user is AQE-skew-split like any hot
    // join key.
    QueryDef(
      "q192_multitouch_attribution",
      s"""WITH e AS (SELECT event_id, user_id, event_type,
         |    $tsSecSql AS ts_sec FROM events),
         |p AS (SELECT event_id AS pid, user_id, ts_sec AS pts
         |      FROM e WHERE event_type = 'purchase'),
         |t AS (SELECT event_id AS tid, user_id,
         |        event_type AS touch_type, ts_sec AS tts
         |      FROM e WHERE event_type IN ('click', 'view')),
         |j AS (SELECT p.pid, t.tid, t.touch_type, t.tts
         |      FROM p JOIN t ON t.user_id = p.user_id
         |       AND t.tts >= p.pts - 86400 AND t.tts < p.pts),
         |w1 AS (SELECT pid, tid, touch_type,
         |        count(*) OVER (PARTITION BY pid) AS n,
         |        row_number() OVER (PARTITION BY pid
         |          ORDER BY tts DESC, tid DESC) AS rn
         |       FROM j),
         |cr AS (SELECT pid, touch_type,
         |        1000 // n + CASE WHEN rn = 1
         |          THEN 1000 - n * (1000 // n) ELSE 0 END AS credit
         |       FROM w1)
         |SELECT touch_type, CAST(sum(credit) AS BIGINT) AS credit_milli,
         |  count(*) AS n_touches, count(DISTINCT pid) AS n_purchases
         |FROM cr GROUP BY touch_type ORDER BY touch_type""".stripMargin) {
      (s, d) =>
        val e = ev(s, d)
        val p = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id"),
            col("ts_sec").as("pts"))
        val t = e.filter(col("event_type").isin("click", "view"))
          .select(col("event_id").as("tid"), col("user_id"),
            col("event_type").as("touch_type"), col("ts_sec").as("tts"))
        val wN = Window.partitionBy(col("pid"))
        val wR = Window.partitionBy(col("pid"))
          .orderBy(col("tts").desc, col("tid").desc)
        p.join(t, Seq("user_id"))
          .filter(col("tts") >= col("pts") - 86400 &&
            col("tts") < col("pts"))
          .select(col("pid"), col("tid"), col("touch_type"), col("tts"))
          .withColumn("n", count(lit(1)).over(wN))
          .withColumn("rn", row_number().over(wR))
          .select(col("pid"), col("touch_type"), expr(
            "1000 DIV n + IF(rn = 1, 1000 - n * (1000 DIV n), 0)")
            .as("credit"))
          .groupBy(col("touch_type"))
          .agg(sum(col("credit")).as("credit_milli"),
            count(lit(1)).as("n_touches"),
            countDistinct(col("pid")).as("n_purchases"))
          .orderBy(col("touch_type"))
    },

    // ---- q193: rolling distinct users via mergeable HLL union -----
    // q178 computes rolling 7-day actives EXACTLY by exploding each
    // (user, day) into the 7 windows it serves — exact but the state
    // is the distinct pair set. This is the sketch-merge variant
    // that survives when per-window distinct state no longer fits:
    // one HLL sketch per day (order-independent inserts), each day's
    // sketch exploded to its 7 windows, then hll_union_agg — the
    // union of HLL registers is associative/commutative, so the
    // rolling distinct becomes a tiny keyed merge of 4 KB sketches
    // instead of a shuffle of user ids. The oracle pins the sketch's
    // accuracy contract as a hash-matched boolean (the q39/q101
    // recipe): at lgK=12 the estimate must sit within 10% of the
    // exact count (n=150 users is far inside the sparse-exact
    // regime; the envelope holds with immense margin at any SF).
    QueryDef(
      "q193_rolling_hll_union",
      s"""WITH days AS (SELECT DISTINCT user_id,
         |    ($tsSecSql // 86400) AS day FROM events),
         |wd AS (SELECT user_id, w FROM days,
         |       UNNEST(range(day, day + 7)) AS t(w)),
         |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM days),
         |ex AS (SELECT w AS wday, count(DISTINCT user_id)
         |         AS exact_actives FROM wd GROUP BY w)
         |SELECT wday, exact_actives, TRUE AS within_10pct
         |FROM ex, b WHERE wday BETWEEN b.d0 + 6 AND b.d1
         |ORDER BY wday""".stripMargin) { (s, d) =>
      val days = ev(s, d)
        .select(col("user_id"), expr("ts_sec DIV 86400").as("day"))
        .distinct()
      val sk = days.groupBy(col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .select(explode(sequence(col("day"), col("day") + 6)).as("wday"),
          col("sk"))
        .groupBy(col("wday"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = days
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("wday"))
        .distinct()
        .groupBy(col("wday"))
        .agg(count(lit(1)).as("exact_actives"))
      val bounds = days.agg(min(col("day")).as("d0"),
        max(col("day")).as("d1"))
      exact.join(sk, Seq("wday"))
        .crossJoin(broadcast(bounds))
        .filter(col("wday").between(col("d0") + 6, col("d1")))
        .select(col("wday"), col("exact_actives"),
          (abs(col("est") - col("exact_actives")) * 10 <=
            col("exact_actives")).as("within_10pct"))
        .orderBy(col("wday"))
    },

    // ---- q194: sorted-neighborhood dedup (SNM) --------------------
    // The third classic dedup BLOCKING strategy alongside LSH banding
    // (q26) and prefix filtering (q130): sort the corpus by a
    // semantic key (first 3 tokens) and compare each doc only with
    // its w-1=3 successors in sort order (Hernandez/Stolfo's
    // merge/purge). The oracle states the textbook GLOBAL-order
    // semantics; the engine computes the identical pair set with NO
    // global sort: docs bucket by the key's first character (a
    // PREFIX of the sort key, so buckets are contiguous runs of the
    // global order), within-bucket neighbors come from a
    // bucket-partitioned window, and cross-boundary neighbors from
    // the "edge zone" — the <= 2(w-1) rows nearest each bucket
    // boundary. Zone equivalence: any pair within global distance
    // w-1 that crosses a boundary has BOTH endpoints and ALL
    // intervening rows inside the zone (an interior bucket spanned
    // entirely would hold <= w-2 rows, all zone members), so
    // zone-local rank distance equals global distance — the zone is
    // O(#buckets), its rank a broadcast theta count, and nothing
    // corpus-sized ever sorts globally. Candidates are then verified
    // with exact shingle Jaccard off the shared q25 index.
    QueryDef(
      "q194_sorted_neighborhood",
      s"""WITH t AS (SELECT doc_id, ${Text.toksSql} AS toks
         |           FROM documents),
         |base AS (SELECT doc_id, array_to_string(toks[1:3], ' ')
         |           AS key FROM t WHERE len(toks) >= 3),
         |r AS (SELECT doc_id, key, row_number() OVER (
         |        ORDER BY key, doc_id) AS rn FROM base),
         |cand AS (SELECT least(a.doc_id, b.doc_id) AS d1,
         |                greatest(a.doc_id, b.doc_id) AS d2
         |         FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3),
         |shingles AS (${Text.shinglesSql}),
         |cnt AS (SELECT doc_id, count(*) AS n FROM shingles
         |        GROUP BY doc_id),
         |inter AS (SELECT c.d1, c.d2, count(*) AS i
         |          FROM cand c JOIN shingles s1 ON s1.doc_id = c.d1
         |          JOIN shingles s2 ON s2.doc_id = c.d2
         |           AND s2.h = s1.h
         |          GROUP BY c.d1, c.d2)
         |SELECT c.d1, c.d2,
         |  CAST((coalesce(i.i, 0) * 1000) //
         |       (ca.n + cb.n - coalesce(i.i, 0)) AS BIGINT) AS jpm
         |FROM cand c JOIN cnt ca ON ca.doc_id = c.d1
         |JOIN cnt cb ON cb.doc_id = c.d2
         |LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
         |ORDER BY jpm DESC, c.d1, c.d2 LIMIT 100""".stripMargin) { (s, d) =>
      val cand = snmCandidatePairs(s, d)
      // exact Jaccard verify off the shared shingle index
      val sh = Text.shingleHashes(s, d)
      val n1 = sh.select(col("doc_id"), col("n")).distinct()
      val inter = cand
        .join(sh.select(col("doc_id").as("d1"), col("h")), Seq("d1"))
        .join(sh.select(col("doc_id").as("d2"), col("h").as("h2")),
          Seq("d2"))
        .filter(col("h") === col("h2"))
        .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("i"))
      cand
        .join(n1.select(col("doc_id").as("d1"), col("n").as("na")),
          Seq("d1"))
        .join(n1.select(col("doc_id").as("d2"), col("n").as("nb")),
          Seq("d2"))
        .join(inter, Seq("d1", "d2"), "left")
        .select(col("d1"), col("d2"), expr(
          "(coalesce(i, 0L) * 1000) DIV (na + nb - coalesce(i, 0L))")
          .as("jpm"))
        .orderBy(col("jpm").desc, col("d1"), col("d2"))
        .limit(100)
    },

    // ---- q256: blocking-method agreement audit --------------------
    // The evaluation pass a dedup pipeline runs before picking its
    // blocking strategy: over the exact J >= 0.6 ground-truth pair
    // set, which pairs does each CANDIDATE GENERATOR recover — LSH
    // banding (q26's 8×2 bands) and sorted-neighborhood (q194's w=4
    // window)? Output is the 2×2 Venn census (in_lsh × in_snm) with
    // per-cell share_milli: the "both" cell is the safely-blocked
    // mass, the "neither" cell is what ONLY the quadratic baseline
    // would find — the number that justifies (or kills) a blocking
    // choice at 100 TB. Composes three standing memos (exact pairs,
    // minhash signatures, token arrays) plus the q194 candidate
    // machinery; every join is keyed on (d1, d2) after the bounded
    // candidate generation, so the audit costs two left joins over
    // the truth relation — never a corpus pass of its own.
    QueryDef(
      "q256_blocking_agreement",
      s"""WITH shingles AS (${Text.shinglesSql}),
         |${Text.jaccardPairsSql},
         |${Text.sigSql},
         |bands AS (
         |  ${(0 until 8).map(b =>
             s"SELECT doc_id, $b AS band, h${2 * b} * 2147483648 + h${2 * b + 1} AS bkey FROM sig")
             .mkString("\n  UNION ALL\n  ")}),
         |lshc AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey
         |   AND a.doc_id < b.doc_id),
         |t AS (SELECT doc_id, ${Text.toksSql} AS toks FROM documents),
         |sb AS (SELECT doc_id, array_to_string(toks[1:3], ' ')
         |         AS key FROM t WHERE len(toks) >= 3),
         |r AS (SELECT doc_id, row_number() OVER (
         |        ORDER BY key, doc_id) AS rn FROM sb),
         |snmc AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS d1,
         |                greatest(a.doc_id, b.doc_id) AS d2
         |         FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3),
         |v AS (SELECT j.d1, j.d2,
         |    (l.d1 IS NOT NULL) AS in_lsh,
         |    (sn.d1 IS NOT NULL) AS in_snm
         |  FROM jpairs j
         |  LEFT JOIN lshc l ON l.d1 = j.d1 AND l.d2 = j.d2
         |  LEFT JOIN snmc sn ON sn.d1 = j.d1 AND sn.d2 = j.d2)
         |SELECT in_lsh, in_snm, count(*) AS n_pairs,
         |  CAST(count(*) * 1000 // (SELECT count(*) FROM jpairs)
         |    AS BIGINT) AS share_milli
         |FROM v GROUP BY in_lsh, in_snm
         |ORDER BY in_lsh, in_snm""".stripMargin) { (s, d) =>
      val truth = Text.jaccardPairs(s, d).select(col("d1"), col("d2"))
        .tcache()
      val sig = Text.minhashSig(s, d)
      val bands = sig.select(col("doc_id"),
        posexplode(array((0 until 8).map(b =>
          col(s"h${2 * b}") * 2147483648L + col(s"h${2 * b + 1}")): _*))
          .as(Seq("band", "bkey")))
      val lshc = bands.select(col("doc_id").as("d1"), col("band"),
          col("bkey"))
        .join(bands.select(col("doc_id").as("d2"), col("band"),
          col("bkey")), Seq("band", "bkey"))
        .filter(col("d1") < col("d2"))
        .select(col("d1"), col("d2")).distinct()
      val snmc = snmCandidatePairs(s, d)
        .select(col("d1"), col("d2")).distinct()
      val v = truth
        .join(lshc.withColumn("il", lit(true)), Seq("d1", "d2"), "left")
        .join(snmc.withColumn("isn", lit(true)), Seq("d1", "d2"), "left")
        .select(coalesce(col("il"), lit(false)).as("in_lsh"),
          coalesce(col("isn"), lit(false)).as("in_snm"))
      val tot = truth.agg(count(lit(1)).as("tp"))
      v.groupBy(col("in_lsh"), col("in_snm"))
        .agg(count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(tot))
        .select(col("in_lsh"), col("in_snm"), col("n_pairs"),
          expr("n_pairs * 1000 DIV tp").as("share_milli"))
        .orderBy(col("in_lsh"), col("in_snm"))
    },

    // ---- q262: contamination-method agreement census --------------
    // q256's question asked of DECONTAMINATION: over the eval split,
    // which documents does each detector flag — the exact 8-gram
    // overlap verdict (q231's ≥20% rule) vs near-dup linkage to a
    // train doc (a J ≥ 0.6 pair straddling the split, q144's signal)?
    // The 2×2 Venn is the measured basis for choosing a
    // decontamination recipe: "gram-only" mass is partial leakage
    // near-dup misses, "neardup-only" is paraphrase-level leakage the
    // gram rule misses, "both" is safe under either. Composes the
    // shared gram pipeline and the memoized pair graph; the census
    // itself is two keyed left joins over the eval split — no new
    // corpus pass.
    //
    // Venn-cell seed fixture (r12 verdict ask 4): on the synthetic
    // corpus only 2 of the 4 cells were non-empty, so a bug swapping
    // the flags of an empty cell would still hash-match. Seven
    // fixture docs with corpus-disjoint vocabulary ("zyq"-prefixed
    // tokens, so they share no shingles/grams with real docs and can
    // only pair among themselves) populate every cell BY
    // CONSTRUCTION, at any SF:
    //   A (neardup-only): two identical 7-token docs — J = 1.0, but
    //     sub-8-token docs have NO 8-grams, so the gram rule is blind;
    //   B (gram-only): a 12-token eval doc copying an 8-token run of
    //     a 30-token train doc — exactly 1 of its 5 grams hits (20%
    //     rule met with equality) while the 10-vs-28 shingle-count
    //     ratio fails the J-join's 0.6 size bound;
    //   C (both): two identical 20-token docs;
    //   D (neither): a 10-token eval doc with no train counterpart.
    // Fixture doc_ids land on the right side of the md5%20 eval split
    // by choice; the texts are single-sourced between the Spark plan
    // and the VALUES literals below so the engines cannot drift.
    QueryDef(
      "q262_contamination_method_agreement",
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES
         |    (900000001, '$fixA'), (900000020, '$fixA'),
         |    (900000002, '$fixBt'), (900000021, '$fixBe'),
         |    (900000003, '$fixCt'), (900000031, '$fixCt'),
         |    (900000140, '$fixDe')) f(doc_id, text)),
         |toks AS (SELECT doc_id, ${Text.toksSql} AS toks
         |             FROM docs),
         |ev0 AS (SELECT doc_id,
         |    (${Text.h32Sql("CAST(doc_id AS VARCHAR)")}) % 20 = 0
         |      AS is_eval FROM docs),
         |g8 AS (SELECT DISTINCT doc_id, ${Text.h32Sql("gm")} AS g
         |  FROM (SELECT doc_id,
         |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         |      toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
         |      toks[i+6] || ' ' || toks[i+7] AS gm
         |    FROM toks, UNNEST(range(1, len(toks) - 6)) AS t(i)
         |    WHERE len(toks) >= 8)),
         |tr AS (SELECT DISTINCT g FROM g8 JOIN ev0 USING (doc_id)
         |       WHERE NOT is_eval),
         |evg AS (SELECT g8.doc_id, g FROM g8 JOIN ev0 USING (doc_id)
         |        WHERE is_eval),
         |pd AS (SELECT doc_id, count(*) AS n_grams FROM evg GROUP BY 1),
         |ht AS (SELECT evg.doc_id, count(*) AS n_hit
         |       FROM evg JOIN tr ON tr.g = evg.g GROUP BY 1),
         |gramflag AS (SELECT pd.doc_id FROM pd
         |  LEFT JOIN ht ON ht.doc_id = pd.doc_id
         |  WHERE coalesce(ht.n_hit, 0) * 5 >= pd.n_grams),
         |shingles AS (${Text.shinglesSqlFrom("docs")}),
         |${Text.jaccardPairsSql},
         |sides AS (SELECT d1 AS e, d2 AS o FROM jpairs
         |          UNION ALL SELECT d2, d1 FROM jpairs),
         |ndflag AS (SELECT DISTINCT p.e AS doc_id FROM sides p
         |  JOIN ev0 a ON a.doc_id = p.e AND a.is_eval
         |  JOIN ev0 b ON b.doc_id = p.o AND NOT b.is_eval),
         |base AS (SELECT doc_id FROM ev0 WHERE is_eval),
         |v AS (SELECT b.doc_id,
         |    (g.doc_id IS NOT NULL) AS in_gram,
         |    (n.doc_id IS NOT NULL) AS in_neardup
         |  FROM base b
         |  LEFT JOIN gramflag g ON g.doc_id = b.doc_id
         |  LEFT JOIN ndflag n ON n.doc_id = b.doc_id)
         |SELECT in_gram, in_neardup, count(*) AS n_docs,
         |  CAST(count(*) * 1000 // (SELECT count(*) FROM base)
         |    AS BIGINT) AS share_milli
         |FROM v GROUP BY in_gram, in_neardup
         |ORDER BY in_gram, in_neardup""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val evalOf = (c: org.apache.spark.sql.Column) => pmod(graft.cdc.GraftFunctions.md5_h32(
        c.cast("string")), lit(20L)) === 0L
      // Fixture docs ride the SAME builders as the corpus (gram8Of,
      // shinglesOf + the production pair join) but are computed
      // inline, NOT through the session memos — the fixture must not
      // pollute the shared gram8/pair relations other queries read.
      // Disjoint vocabulary ⇒ pairs(corpus ∪ fixture) =
      // pairs(corpus) ∪ pairs(fixture), so the union below is exact.
      val fix = fixDocs(s)
      val grams = Text.gram8Hashes(s, d).unionAll(Text.gram8Of(fix))
        .withColumn("is_eval", evalOf(col("doc_id")))
      val tr = grams.filter(!col("is_eval")).select(col("g")).distinct()
      val evg = grams.filter(col("is_eval"))
        .select(col("doc_id"), col("g"))
      val pd = evg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      val ht = evg.join(tr, "g")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      val gramFlag = pd.join(ht, Seq("doc_id"), "left")
        .filter(coalesce(col("n_hit"), lit(0L)) * 5 >= col("n_grams"))
        .select(col("doc_id"))
      val jp = Text.jaccardPairs(s, d).select(col("d1"), col("d2"))
        .unionAll(Text.jaccardPairsOfShingles(Text.shinglesOf(fix))
          .select(col("d1"), col("d2")))
      val sides = jp.select(col("d1").as("e"), col("d2").as("o"))
        .unionAll(jp.select(col("d2").as("e"), col("d1").as("o")))
      val ndFlag = sides
        .filter(evalOf(col("e")) && !evalOf(col("o")))
        .select(col("e").as("doc_id")).distinct()
      val base = Tables.documents(s, d).select(col("doc_id"))
        .unionAll(fix.select(col("doc_id")))
        .filter(evalOf(col("doc_id")))
      val tot = base.agg(count(lit(1)).as("ne"))
      base
        .join(gramFlag.withColumn("ig", lit(true)), Seq("doc_id"), "left")
        .join(ndFlag.withColumn("ind", lit(true)), Seq("doc_id"), "left")
        .select(coalesce(col("ig"), lit(false)).as("in_gram"),
          coalesce(col("ind"), lit(false)).as("in_neardup"))
        .groupBy(col("in_gram"), col("in_neardup"))
        .agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(tot))
        .select(col("in_gram"), col("in_neardup"), col("n_docs"),
          expr("n_docs * 1000 DIV ne").as("share_milli"))
        .orderBy(col("in_gram"), col("in_neardup"))
    },

    // ---- q267: train-gram index growth census ----------------------
    // The batch twin of `StreamOps.trainGramIngestBatch` (r13): when
    // the corpus enters training as K ordered batches, each batch
    // appends only its FIRST-SEEN grams to the standing
    // decontamination index — so per batch the census reports docs
    // admitted, distinct grams carried, and genuinely-new grams
    // appended (first-seen = min batch over the gram's docs, exactly
    // the anti-join's cumulative semantics). The marginal-novelty
    // curve this traces is the capacity-planning number for the gram
    // index: it decides when the index stops growing linearly with
    // admitted data. Rides the shared gram8 memo; three keyed aggs on
    // gram/batch keys — no per-batch corpus rescan.
    QueryDef(
      "q267_train_gram_growth_census",
      s"""WITH toks AS (SELECT doc_id, ${Text.toksSql} AS toks
         |             FROM documents),
         |g8 AS (SELECT DISTINCT doc_id, ${Text.h32Sql("gm")} AS g
         |  FROM (SELECT doc_id,
         |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         |      toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
         |      toks[i+6] || ' ' || toks[i+7] AS gm
         |    FROM toks, UNNEST(range(1, len(toks) - 6)) AS t(i)
         |    WHERE len(toks) >= 8)),
         |bat AS (SELECT doc_id % 4 AS b, g FROM g8),
         |nd AS (SELECT doc_id % 4 AS b, count(*) AS n_docs
         |       FROM documents GROUP BY 1),
         |ng AS (SELECT b, count(DISTINCT g) AS n_grams
         |       FROM bat GROUP BY 1),
         |fb AS (SELECT g, min(b) AS b FROM bat GROUP BY g),
         |nn AS (SELECT b, count(*) AS n_new_grams FROM fb GROUP BY 1)
         |SELECT nd.b AS batch_id, nd.n_docs,
         |  CAST(coalesce(ng.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(nn.n_new_grams, 0) AS BIGINT) AS n_new_grams
         |FROM nd LEFT JOIN ng ON ng.b = nd.b
         |        LEFT JOIN nn ON nn.b = nd.b
         |ORDER BY batch_id""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val g = Text.gram8Hashes(s, d)
        .select(pmod(col("doc_id"), lit(4L)).as("b"), col("g"))
      val nd = Tables.documents(s, d)
        .groupBy(pmod(col("doc_id"), lit(4L)).as("batch_id"))
        .agg(count(lit(1)).as("n_docs"))
      val ng = g.distinct().groupBy(col("b").as("batch_id"))
        .agg(count(lit(1)).as("n_grams"))
      val nn = g.groupBy(col("g")).agg(min(col("b")).as("batch_id"))
        .groupBy(col("batch_id")).agg(count(lit(1)).as("n_new_grams"))
      nd.join(ng, Seq("batch_id"), "left")
        .join(nn, Seq("batch_id"), "left")
        .select(col("batch_id"), col("n_docs"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_new_grams"), lit(0L)).as("n_new_grams"))
        .orderBy(col("batch_id"))
    },

    // ---- q268: contamination-debt census (eval staleness curve) ----
    // q267 traces the index's growth; this traces its CONSEQUENCE:
    // when the train corpus enters as K ordered batches, each eval
    // doc becomes contaminated at the first batch where its
    // cumulative 8-gram hits cross q231's >=20% verdict line — the
    // batch after which that doc's eval scores are stale. Per batch:
    // train docs admitted, eval docs newly crossing, the cumulative
    // count, and how many eval docs remain clean. THE staleness
    // curve an eval owner reads before trusting a number measured at
    // train step t. Scale shape: one keyed gram join (eval grams x
    // first-seen index), then ONE eval-doc rollup with K conditional
    // sums — the per-batch cumulative needs no second pass and no
    // per-batch rescan; the 4-row cumulative rides a broadcast
    // triangle join, not an unpartitioned window. Seeded (FIXTURES.md
    // recipe): train/eval twin docs T_b/E_b with disjoint vocabulary
    // force one crossing at EVERY batch, so no n_new_contam cell is
    // empty at any SF and a first-crossing off-by-one cannot hide.
    QueryDef(
      "q268_contamination_debt_census",
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $debtFixValuesSql)
         |    f(doc_id, text)),
         |toks AS (SELECT doc_id, ${Text.toksSql} AS toks
         |             FROM docs),
         |g8 AS (SELECT DISTINCT doc_id,
         |    (${Text.h32Sql("CAST(doc_id AS VARCHAR)")}) % 20 = 0 AS is_eval,
         |    ${Text.h32Sql("gm")} AS g
         |  FROM (SELECT doc_id,
         |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         |      toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
         |      toks[i+6] || ' ' || toks[i+7] AS gm
         |    FROM toks, UNNEST(range(1, len(toks) - 6)) AS t(i)
         |    WHERE len(toks) >= 8)),
         |fb AS (SELECT g, min(doc_id % 4) AS fb FROM g8
         |       WHERE NOT is_eval GROUP BY g),
         |agg AS (SELECT g8.doc_id, count(*) AS n_grams,
         |    count(*) FILTER (WHERE fb.fb <= 0) AS h0,
         |    count(*) FILTER (WHERE fb.fb <= 1) AS h1,
         |    count(*) FILTER (WHERE fb.fb <= 2) AS h2,
         |    count(*) FILTER (WHERE fb.fb <= 3) AS h3
         |  FROM g8 LEFT JOIN fb ON fb.g = g8.g
         |  WHERE g8.is_eval GROUP BY g8.doc_id),
         |fc AS (SELECT doc_id,
         |    CASE WHEN 5 * h0 >= n_grams THEN 0
         |         WHEN 5 * h1 >= n_grams THEN 1
         |         WHEN 5 * h2 >= n_grams THEN 2
         |         WHEN 5 * h3 >= n_grams THEN 3
         |         ELSE -1 END AS cb
         |  FROM agg),
         |nc AS (SELECT cb AS b, count(*) AS n_new FROM fc
         |       WHERE cb >= 0 GROUP BY cb),
         |nt AS (SELECT doc_id % 4 AS b, count(*) AS n_train_docs
         |       FROM docs
         |       WHERE (${Text.h32Sql("CAST(doc_id AS VARCHAR)")}) % 20 <> 0
         |       GROUP BY 1),
         |tot AS (SELECT count(*) AS n_eval FROM agg),
         |bs(b) AS (VALUES (0), (1), (2), (3)),
         |cum AS (SELECT bs.b, sum(coalesce(nc.n_new, 0)) AS n_cum
         |        FROM bs LEFT JOIN nc ON nc.b <= bs.b GROUP BY bs.b)
         |SELECT bs.b AS batch_id,
         |  CAST(coalesce(nt.n_train_docs, 0) AS BIGINT) AS n_train_docs,
         |  CAST(coalesce(nc.n_new, 0) AS BIGINT) AS n_new_contam,
         |  CAST(cum.n_cum AS BIGINT) AS n_contam_cum,
         |  CAST(tot.n_eval - cum.n_cum AS BIGINT) AS n_clean_after
         |FROM bs JOIN cum ON cum.b = bs.b
         |  LEFT JOIN nc ON nc.b = bs.b LEFT JOIN nt ON nt.b = bs.b
         |  CROSS JOIN tot
         |ORDER BY batch_id""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val isEval = pmod(graft.cdc.GraftFunctions.md5_h32(
        col("doc_id").cast("string")), lit(20L)) === 0L
      // fixture grams ride the SAME builder, computed inline — the
      // shared gram8 memo must not be polluted (q262's contract)
      val fix = debtFixDocs(s)
      val g = Text.gram8Hashes(s, d).unionAll(Text.gram8Of(fix))
        .withColumn("is_eval", isEval)
      val fb = g.filter(!col("is_eval"))
        .groupBy(col("g"))
        .agg(min(pmod(col("doc_id"), lit(4L))).as("fb"))
      val agg = g.filter(col("is_eval")).select(col("doc_id"), col("g"))
        .join(fb, Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("fb") <= 0, 1)).as("h0"),
          count(when(col("fb") <= 1, 1)).as("h1"),
          count(when(col("fb") <= 2, 1)).as("h2"),
          count(when(col("fb") <= 3, 1)).as("h3"))
      val fc = agg.select(
        when(col("h0") * 5 >= col("n_grams"), 0L)
          .when(col("h1") * 5 >= col("n_grams"), 1L)
          .when(col("h2") * 5 >= col("n_grams"), 2L)
          .when(col("h3") * 5 >= col("n_grams"), 3L)
          .otherwise(-1L).as("cb"))
      val nc = fc.filter(col("cb") >= 0)
        .groupBy(col("cb").as("b")).agg(count(lit(1)).as("n_new"))
      val nt = Tables.documents(s, d).select(col("doc_id"))
        .unionAll(fix.select(col("doc_id")))
        .filter(!isEval)
        .groupBy(pmod(col("doc_id"), lit(4L)).as("b"))
        .agg(count(lit(1)).as("n_train_docs"))
      val tot = agg.agg(count(lit(1)).as("n_eval"))
      val bs = s.range(4).select(col("id").as("batch_id"))
      val cum = bs.join(broadcast(nc), col("b") <= col("batch_id"), "left")
        .groupBy(col("batch_id"))
        .agg(sum(coalesce(col("n_new"), lit(0L))).as("n_cum"))
      bs.join(cum, "batch_id")
        .join(broadcast(nc.withColumnRenamed("b", "batch_id")),
          Seq("batch_id"), "left")
        .join(broadcast(nt.withColumnRenamed("b", "batch_id")),
          Seq("batch_id"), "left")
        .crossJoin(broadcast(tot))
        .select(col("batch_id"),
          coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
          coalesce(col("n_new"), lit(0L)).as("n_new_contam"),
          col("n_cum").as("n_contam_cum"),
          (col("n_eval") - col("n_cum")).as("n_clean_after"))
        .orderBy(col("batch_id"))
    },

    // ---- q273: boilerplate-aware decontamination census -----------
    // GPT-3's appendix-C refinement made first-class: super-common
    // 8-grams (license headers, navigation chrome, templates) hit
    // every eval doc without indicating copying, so the match should
    // count only INFORMATIVE grams — train document-frequency at or
    // under a cap (10 here). Per eval doc both verdicts compute from
    // one DF-carrying probe join (raw = any hit, refined = hit with
    // df <= cap, same >= 20% line), and the census is the
    // (raw, refined) agreement table — the (true, false) mass is
    // exactly the false-positive load boilerplate puts on the naive
    // rule. Scale: the DF index replaces q231's distinct-gram set at
    // identical cost (one keyed count), the probe stays ONE equi-join
    // on the gram hash, and the census is an eval-doc rollup.
    // Seeded (FIXTURES.md): a 12-train-doc boilerplate run + 1 eval
    // copy forces (T, F); a DF=1 dup pair forces (T, T); the corpus
    // supplies (F, F); (F, T) is structurally impossible.
    QueryDef(
      "q273_boilerplate_aware_decontamination",
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $boilFixValuesSql)
         |    f(doc_id, text)),
         |toks AS (SELECT doc_id, ${Text.toksSql} AS toks
         |             FROM docs),
         |g8 AS (SELECT DISTINCT doc_id,
         |    (${Text.h32Sql("CAST(doc_id AS VARCHAR)")}) % 20 = 0 AS is_eval,
         |    ${Text.h32Sql("gm")} AS g
         |  FROM (SELECT doc_id,
         |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         |      toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
         |      toks[i+6] || ' ' || toks[i+7] AS gm
         |    FROM toks, UNNEST(range(1, len(toks) - 6)) AS t(i)
         |    WHERE len(toks) >= 8)),
         |tr AS (SELECT g, count(*) AS df FROM g8
         |       WHERE NOT is_eval GROUP BY g),
         |j AS (SELECT g8.doc_id, tr.df FROM g8
         |      LEFT JOIN tr ON tr.g = g8.g WHERE g8.is_eval),
         |pd AS (SELECT doc_id, count(*) AS n_grams,
         |    count(df) AS n_hit_raw,
         |    count(*) FILTER (WHERE df <= 10) AS n_hit_inf
         |  FROM j GROUP BY doc_id),
         |v AS (SELECT doc_id,
         |    n_hit_raw * 5 >= n_grams AS raw_flag,
         |    n_hit_inf * 5 >= n_grams AS refined_flag FROM pd)
         |SELECT raw_flag, refined_flag,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM v GROUP BY raw_flag, refined_flag
         |ORDER BY raw_flag, refined_flag""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val isEval = pmod(graft.cdc.GraftFunctions.md5_h32(
        col("doc_id").cast("string")), lit(20L)) === 0L
      // fixture rides the shared builder inline, never the memo
      val g = Text.gram8Hashes(s, d)
        .unionAll(Text.gram8Of(boilFixDocs(s)))
        .withColumn("is_eval", isEval)
      val tr = g.filter(!col("is_eval"))
        .groupBy(col("g")).agg(count(lit(1)).as("df"))
      val pd = g.filter(col("is_eval")).select(col("doc_id"), col("g"))
        .join(tr, Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          count(col("df")).as("n_hit_raw"),
          count(when(col("df") <= 10, 1)).as("n_hit_inf"))
      pd.select(
          (col("n_hit_raw") * 5 >= col("n_grams")).as("raw_flag"),
          (col("n_hit_inf") * 5 >= col("n_grams")).as("refined_flag"))
        .groupBy(col("raw_flag"), col("refined_flag"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("raw_flag"), col("refined_flag"))
    },

    // ---- q274: DF-cap tuning sweep for the refined rule -----------
    // q273 fixes the informative-gram cap at 10; this prices the
    // knob (the q246/q249/q271 sweep pattern): flagged-doc count and
    // total informative hits at cap = 1 / 10 / 100. The shape the
    // table reads: cap 1 = only verbatim-unique copying counts
    // (misses legitimate leakage shared by a few train docs),
    // cap 100 = boilerplate bleeds back in (the seeded 12-doc run
    // flags its eval copy again). Plan: the caps are LITERALS, so
    // the sweep is ONE eval-doc rollup with three conditional
    // counts unioned into rows — no gram x caps expansion, cost
    // identical to q273 regardless of arm count.
    QueryDef(
      "q274_df_cap_sweep",
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $boilFixValuesSql)
         |    f(doc_id, text)),
         |toks AS (SELECT doc_id, ${Text.toksSql} AS toks
         |             FROM docs),
         |g8 AS (SELECT DISTINCT doc_id,
         |    (${Text.h32Sql("CAST(doc_id AS VARCHAR)")}) % 20 = 0 AS is_eval,
         |    ${Text.h32Sql("gm")} AS g
         |  FROM (SELECT doc_id,
         |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         |      toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
         |      toks[i+6] || ' ' || toks[i+7] AS gm
         |    FROM toks, UNNEST(range(1, len(toks) - 6)) AS t(i)
         |    WHERE len(toks) >= 8)),
         |tr AS (SELECT g, count(*) AS df FROM g8
         |       WHERE NOT is_eval GROUP BY g),
         |pd AS (SELECT g8.doc_id, count(*) AS n_grams,
         |    count(*) FILTER (WHERE tr.df <= 1) AS h1,
         |    count(*) FILTER (WHERE tr.df <= 10) AS h10,
         |    count(*) FILTER (WHERE tr.df <= 100) AS h100
         |  FROM g8 LEFT JOIN tr ON tr.g = g8.g
         |  WHERE g8.is_eval GROUP BY g8.doc_id)
         |SELECT 1 AS df_cap,
         |  CAST(sum(CASE WHEN h1 * 5 >= n_grams THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_flagged,
         |  CAST(sum(h1) AS BIGINT) AS n_informative_hits
         |FROM pd
         |UNION ALL SELECT 10,
         |  CAST(sum(CASE WHEN h10 * 5 >= n_grams THEN 1 ELSE 0 END)
         |    AS BIGINT),
         |  CAST(sum(h10) AS BIGINT) FROM pd
         |UNION ALL SELECT 100,
         |  CAST(sum(CASE WHEN h100 * 5 >= n_grams THEN 1 ELSE 0 END)
         |    AS BIGINT),
         |  CAST(sum(h100) AS BIGINT) FROM pd
         |ORDER BY df_cap""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val isEval = pmod(graft.cdc.GraftFunctions.md5_h32(
        col("doc_id").cast("string")), lit(20L)) === 0L
      val g = Text.gram8Hashes(s, d)
        .unionAll(Text.gram8Of(boilFixDocs(s)))
        .withColumn("is_eval", isEval)
      val tr = g.filter(!col("is_eval"))
        .groupBy(col("g")).agg(count(lit(1)).as("df"))
      val pd = g.filter(col("is_eval")).select(col("doc_id"), col("g"))
        .join(tr, Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("df") <= 1, 1)).as("h1"),
          count(when(col("df") <= 10, 1)).as("h10"),
          count(when(col("df") <= 100, 1)).as("h100"))
        .tcache()
      def arm(cap: Int, h: String) = pd.agg(
          sum(when(col(h) * 5 >= col("n_grams"), 1L).otherwise(0L))
            .as("n_flagged"),
          sum(col(h)).as("n_informative_hits"))
        .select(lit(cap).as("df_cap"), col("n_flagged"),
          col("n_informative_hits"))
      arm(1, "h1").unionAll(arm(10, "h10")).unionAll(arm(100, "h100"))
        .orderBy(col("df_cap"))
    },

    // ---- q275: contamination attribution --------------------------
    // The verdict's follow-up question: WHICH train document leaked
    // into each flagged eval doc — the row an operator acts on
    // (delete/fix that train doc, re-run the probe). Attribution
    // joins eval hit-grams back to doc-level train postings, and
    // q273's informative-gram cap is what makes that TRACTABLE: a
    // boilerplate gram (df > 10) would fan every eval doc out to
    // thousands of train docs, so restricting postings to df <= cap
    // bounds the (eval, train) pair volume by rare-gram mass — the
    // planted 12-doc boilerplate run contributes ZERO pairs here.
    // Per eval doc the best source = argmax shared informative grams
    // (lowest-doc_id tie-break); top-20 report with the share in
    // milli of the doc's total grams. Shuffles keyed on gram then
    // (eval, train); the window partitions per eval doc.
    QueryDef(
      "q275_contamination_attribution",
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $boilFixValuesSql)
         |    f(doc_id, text)),
         |toks AS (SELECT doc_id, ${Text.toksSql} AS toks
         |             FROM docs),
         |g8 AS (SELECT DISTINCT doc_id,
         |    (${Text.h32Sql("CAST(doc_id AS VARCHAR)")}) % 20 = 0 AS is_eval,
         |    ${Text.h32Sql("gm")} AS g
         |  FROM (SELECT doc_id,
         |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         |      toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
         |      toks[i+6] || ' ' || toks[i+7] AS gm
         |    FROM toks, UNNEST(range(1, len(toks) - 6)) AS t(i)
         |    WHERE len(toks) >= 8)),
         |tr AS (SELECT g, count(*) AS df FROM g8
         |       WHERE NOT is_eval GROUP BY g),
         |post AS (SELECT g8.g, g8.doc_id AS tdoc FROM g8
         |         JOIN tr ON tr.g = g8.g
         |         WHERE NOT g8.is_eval AND tr.df <= 10),
         |ev AS (SELECT doc_id, g FROM g8 WHERE is_eval),
         |pd AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY 1),
         |pairs AS (SELECT ev.doc_id AS edoc, p.tdoc,
         |            count(*) AS n_shared
         |          FROM ev JOIN post p ON p.g = ev.g GROUP BY 1, 2),
         |best AS (SELECT edoc, tdoc, n_shared FROM (
         |           SELECT edoc, tdoc, n_shared, row_number() OVER (
         |             PARTITION BY edoc
         |             ORDER BY n_shared DESC, tdoc) AS rn
         |           FROM pairs) WHERE rn = 1)
         |SELECT b.edoc AS eval_doc, b.tdoc AS src_doc,
         |  CAST(b.n_shared AS BIGINT) AS n_shared,
         |  CAST(b.n_shared * 1000 // pd.n_grams AS BIGINT)
         |    AS share_milli
         |FROM best b JOIN pd ON pd.doc_id = b.edoc
         |ORDER BY n_shared DESC, eval_doc, src_doc
         |LIMIT 20""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val isEval = pmod(graft.cdc.GraftFunctions.md5_h32(
        col("doc_id").cast("string")), lit(20L)) === 0L
      val g = Text.gram8Hashes(s, d)
        .unionAll(Text.gram8Of(boilFixDocs(s)))
        .withColumn("is_eval", isEval)
      val trainG = g.filter(!col("is_eval")).select(col("doc_id"), col("g"))
      val tr = trainG.groupBy(col("g")).agg(count(lit(1)).as("df"))
      val post = trainG.join(tr.filter(col("df") <= 10).select(col("g")),
          Seq("g"))
        .select(col("g"), col("doc_id").as("tdoc"))
      val ev = g.filter(col("is_eval")).select(col("doc_id"), col("g"))
      val pd = ev.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      val pairs = ev.join(post, Seq("g"))
        .groupBy(col("doc_id").as("edoc"), col("tdoc"))
        .agg(count(lit(1)).as("n_shared"))
      val w = Window.partitionBy(col("edoc"))
        .orderBy(col("n_shared").desc, col("tdoc"))
      pairs.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(pd.withColumnRenamed("doc_id", "edoc"), Seq("edoc"))
        .select(col("edoc").as("eval_doc"), col("tdoc").as("src_doc"),
          col("n_shared"),
          expr("n_shared * 1000 DIV n_grams").cast("long")
            .as("share_milli"))
        .orderBy(col("n_shared").desc, col("eval_doc"), col("src_doc"))
        .limit(20)
    },

    // ---- q276: near-dup contamination attribution -----------------
    // q275's question asked of the OTHER detector: for each eval doc
    // with a J >= 0.6 train partner (q262's neardup arm), which train
    // doc is the strongest match — the exact-integer Jaccard in milli
    // plus the shared-shingle count, argmax per eval doc (J, then
    // inter, then lowest doc id). Together with q275 every flagged
    // eval doc now carries an ACTIONABLE source under both detection
    // regimes. Rides the memoized pair graph — attribution adds one
    // split-straddle filter and a per-eval-doc window to work q25
    // already did; no new corpus pass. Includes q262's seed fixture,
    // so the J = 1.0 exemplar pair exists at any SF.
    QueryDef(
      "q276_neardup_contamination_attribution",
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES
         |    (900000001, '$fixA'), (900000020, '$fixA'),
         |    (900000002, '$fixBt'), (900000021, '$fixBe'),
         |    (900000003, '$fixCt'), (900000031, '$fixCt'),
         |    (900000140, '$fixDe')) f(doc_id, text)),
         |ev0 AS (SELECT doc_id,
         |    (${Text.h32Sql("CAST(doc_id AS VARCHAR)")}) % 20 = 0
         |      AS is_eval FROM docs),
         |shingles AS (${Text.shinglesSqlFrom("docs")}),
         |${Text.jaccardPairsSql},
         |sides AS (SELECT d1 AS e, d2 AS o, na, nb, inter FROM jpairs
         |          UNION ALL SELECT d2, d1, na, nb, inter FROM jpairs),
         |str AS (SELECT p.e AS edoc, p.o AS tdoc, p.inter,
         |          p.inter * 1000 // (p.na + p.nb - p.inter) AS j_milli
         |        FROM sides p
         |        JOIN ev0 a ON a.doc_id = p.e AND a.is_eval
         |        JOIN ev0 b ON b.doc_id = p.o AND NOT b.is_eval),
         |best AS (SELECT edoc, tdoc, inter, j_milli FROM (
         |           SELECT edoc, tdoc, inter, j_milli, row_number()
         |             OVER (PARTITION BY edoc
         |               ORDER BY j_milli DESC, inter DESC, tdoc) AS rn
         |           FROM str) WHERE rn = 1)
         |SELECT edoc AS eval_doc, tdoc AS src_doc,
         |  CAST(inter AS BIGINT) AS n_shared_shingles,
         |  CAST(j_milli AS BIGINT) AS j_milli
         |FROM best
         |ORDER BY j_milli DESC, eval_doc, src_doc
         |LIMIT 20""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val evalOf = (c: org.apache.spark.sql.Column) =>
        pmod(graft.cdc.GraftFunctions.md5_h32(c.cast("string")),
          lit(20L)) === 0L
      val fix = fixDocs(s)
      val jp = Text.jaccardPairs(s, d)
        .select(col("d1"), col("d2"), col("na"), col("nb"), col("inter"))
        .unionAll(Text.jaccardPairsOfShingles(Text.shinglesOf(fix))
          .select(col("d1"), col("d2"), col("na"), col("nb"),
            col("inter")))
      val sides = jp.select(col("d1").as("e"), col("d2").as("o"),
          col("na"), col("nb"), col("inter"))
        .unionAll(jp.select(col("d2").as("e"), col("d1").as("o"),
          col("na"), col("nb"), col("inter")))
      val str = sides.filter(evalOf(col("e")) && !evalOf(col("o")))
        .select(col("e").as("edoc"), col("o").as("tdoc"), col("inter"),
          expr("inter * 1000 DIV (na + nb - inter)").as("j_milli"))
      val w = Window.partitionBy(col("edoc"))
        .orderBy(col("j_milli").desc, col("inter").desc, col("tdoc"))
      str.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("edoc").as("eval_doc"), col("tdoc").as("src_doc"),
          col("inter").cast("long").as("n_shared_shingles"),
          col("j_milli").cast("long").as("j_milli"))
        .orderBy(col("j_milli").desc, col("eval_doc"), col("src_doc"))
        .limit(20)
    },

    // ---- q195: multi-origin CDC merge (last-writer-wins) ----------
    // The reference surfaces replication origins (msgOrigin, A18;
    // filter-origins, B5 — reference: pgoutput-parser.ts origin
    // message) precisely so consumers can merge streams from several
    // upstream clusters. This is that consumer: two origin streams
    // (events hash-split into 'east'/'west') merged per key by
    // last-writer-wins — winner = lexicographic max of (ts_sec,
    // origin priority, change id), one keyed max_by struct, no
    // window. The audit also counts per-key contributing origins:
    // keys with 2 origins are the conflict surface a DBA monitors
    // after adding a bidirectional route. One aggregation per key at
    // any scale.
    QueryDef(
      "q195_lww_origin_merge",
      s"""WITH c AS (SELECT user_id, event_id,
         |    $tsSecSql AS ts_sec,
         |    CAST(round(value * 100) AS BIGINT) AS value_c,
         |    CASE WHEN event_id % 2 = 0 THEN 'east' ELSE 'west' END
         |      AS origin
         |  FROM events),
         |rk AS (SELECT user_id, origin, value_c,
         |    row_number() OVER (PARTITION BY user_id ORDER BY
         |      ts_sec DESC,
         |      CASE origin WHEN 'east' THEN 1 ELSE 0 END DESC,
         |      event_id DESC) AS rn
         |  FROM c),
         |org AS (SELECT user_id, count(DISTINCT origin) AS n_origins,
         |               count(*) AS n_changes
         |        FROM c GROUP BY user_id)
         |SELECT r.user_id, r.origin AS win_origin,
         |       r.value_c AS win_value_c, o.n_changes, o.n_origins
         |FROM rk r JOIN org o ON o.user_id = r.user_id
         |WHERE r.rn = 1 ORDER BY r.user_id""".stripMargin) { (s, d) =>
      val c = ev(s, d).select(col("user_id"), col("event_id"),
        col("ts_sec"), col("value_c"),
        when(col("event_id") % 2 === 0, "east").otherwise("west")
          .as("origin"))
      c.groupBy(col("user_id"))
        .agg(max_by(struct(col("origin"), col("value_c")),
            struct(col("ts_sec"),
              when(col("origin") === "east", 1).otherwise(0),
              col("event_id"))).as("win"),
          count(lit(1)).as("n_changes"),
          countDistinct(col("origin")).as("n_origins"))
        .select(col("user_id"), col("win.origin").as("win_origin"),
          col("win.value_c").as("win_value_c"), col("n_changes"),
          col("n_origins"))
        .orderBy(col("user_id"))
    },

    // ---- q196: integer EWMA over daily series ---------------------
    // Exponential smoothing is RECURSIVE (e_t depends on e_{t-1}) —
    // no window frame expresses it. The engine shape: per-series
    // ordered array fold — collect the (bounded: one row per day)
    // series into a sorted array and run `aggregate()` left-to-right,
    // e_t = (200·x_t + 800·e_{t-1}) DIV 1000 in exact integers, so
    // the fold is bit-identical to the oracle's recursive CTE. At
    // 100 TB: state per group = series length (days), not corpus
    // rows; 10^6 series fold in parallel after one keyed daily
    // aggregation, and nothing recursive ever crosses a shuffle.
    // The same fold template serves CUSUM, Kalman-style filters, and
    // any per-key linear recurrence.
    QueryDef(
      "q196_ewma_daily",
      s"""WITH RECURSIVE e AS (SELECT event_type,
         |    $tsSecSql // 86400 AS day,
         |    CAST(round(value * 100) AS BIGINT) AS value_c
         |  FROM events WHERE event_type IN ('purchase', 'view')),
         |daily AS (SELECT event_type, day,
         |    CAST(sum(value_c) AS BIGINT) AS x
         |  FROM e GROUP BY event_type, day),
         |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
         |spine AS (SELECT t.event_type, u.dd AS day
         |  FROM (SELECT DISTINCT event_type FROM e) t, b,
         |       UNNEST(range(b.d0, b.d1 + 1)) AS u(dd)),
         |ser AS (SELECT s.event_type, s.day, coalesce(d.x, 0) AS x,
         |    row_number() OVER (PARTITION BY s.event_type
         |                       ORDER BY s.day) AS rn
         |  FROM spine s LEFT JOIN daily d
         |    ON d.event_type = s.event_type AND d.day = s.day),
         |ew AS (SELECT event_type, day, x, rn, x AS ewma
         |       FROM ser WHERE rn = 1
         |       UNION ALL
         |       SELECT s.event_type, s.day, s.x, s.rn,
         |         (200 * s.x + 800 * w.ewma) // 1000
         |       FROM ser s JOIN ew w ON w.event_type = s.event_type
         |        AND s.rn = w.rn + 1)
         |SELECT event_type, day, x AS total_c,
         |       CAST(ewma AS BIGINT) AS ewma_c
         |FROM ew ORDER BY event_type, day""".stripMargin) { (s, d) =>
      val e = ev(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(col("event_type"), expr("ts_sec DIV 86400").as("day"),
          col("value_c"))
      val daily = e.groupBy(col("event_type"), col("day"))
        .agg(sum(col("value_c")).as("x"))
      val bounds = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val spine = e.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      spine.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("x"), lit(0L)).as("x"))
        .groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("day"), col("x"))))
          .as("arr"))
        .select(col("event_type"), explode(expr(
          """aggregate(arr,
            |  cast(array() as array<struct<day:bigint,x:bigint,ewma:bigint>>),
            |  (acc, s) -> acc || array(struct(s.day AS day, s.x AS x,
            |    IF(size(acc) = 0, s.x,
            |       (200 * s.x + 800 * element_at(acc, -1).ewma) DIV 1000)
            |      AS ewma)))""".stripMargin)).as("r"))
        .select(col("event_type"), col("r.day").as("day"),
          col("r.x").as("total_c"), col("r.ewma").as("ewma_c"))
        .orderBy(col("event_type"), col("day"))
    },

    // ---- q197: sequential pattern mining (top event 3-paths) ------
    // The 3-gram extension of q173's transition matrix: consecutive
    // event triples per user path, the frequent-sequence report
    // behind funnel discovery. Triples assemble map-side from
    // user-partitioned lead() windows (no join against the stream),
    // then one keyed count. Support = distinct users, frequency =
    // occurrences — both in the same aggregation.
    QueryDef(
      "q197_event_paths",
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |    $tsSecSql AS ts_sec FROM events),
         |w AS (SELECT user_id, event_type,
         |    lead(event_type, 1) OVER win AS e2,
         |    lead(event_type, 2) OVER win AS e3
         |  FROM e WINDOW win AS (PARTITION BY user_id
         |                        ORDER BY ts_sec, event_id)),
         |p AS (SELECT user_id,
         |    event_type || '>' || e2 || '>' || e3 AS path
         |  FROM w WHERE e2 IS NOT NULL AND e3 IS NOT NULL)
         |SELECT path, count(*) AS n, count(DISTINCT user_id) AS n_users
         |FROM p GROUP BY path
         |ORDER BY n DESC, path LIMIT 20""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_sec"), col("event_id"))
      ev(s, d)
        .select(col("user_id"), col("event_type"), col("ts_sec"),
          col("event_id"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .select(col("user_id"), concat_ws(">", col("event_type"),
          col("e2"), col("e3")).as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    },

    // ---- q198: MMR diverse top-k re-ranking -----------------------
    // Maximal Marginal Relevance (Carbonell/Goldstein, SIGIR'98):
    // re-rank each query's top-10 cosine pool to 5 results trading
    // relevance against redundancy — mmr = 0.7·rel − 0.3·max sim to
    // the already-selected set, greedily for 5 rounds. Scoring is
    // exact integer micro-units (cosines rounded to 6 places then
    // fixed), so the greedy argmax is bit-deterministic. Scale shape:
    // the pool is queries×10 rows and the pairwise sim relation
    // queries×90 — BOTH bounded by the query set, not the corpus;
    // the corpus is touched only by the arm that builds the pool
    // (q29 brute force here; q116's trained IVF at scale). Each
    // greedy round is a keyed anti-join + keyed max + WindowGroupLimit
    // argmax on those tiny relations. The oracle replays the same
    // five rounds as chained CTEs.
    QueryDef(
      "q198_mmr_rerank",
      { val round = (r: Int) =>
          s"""mx$r AS (SELECT s.qid, s.c1 AS cid, max(s.sim) AS ms
             |  FROM sims s JOIN selu${r - 1} u
             |    ON u.qid = s.qid AND u.cid = s.c2
             |  GROUP BY s.qid, s.c1),
             |rem$r AS (SELECT p.* FROM pool p LEFT JOIN selu${r - 1} u
             |  ON u.qid = p.qid AND u.cid = p.cid WHERE u.cid IS NULL),
             |sel$r AS (SELECT qid, cid, mmr FROM (
             |  SELECT sc.qid, sc.cid, sc.mmr, row_number() OVER (
             |    PARTITION BY sc.qid ORDER BY sc.mmr DESC, sc.cid) AS rn
             |  FROM (SELECT m.qid, m.cid,
             |      700 * m.rel - 300 * coalesce(x.ms, 0) AS mmr
             |    FROM rem$r m LEFT JOIN mx$r x
             |      ON x.qid = m.qid AND x.cid = m.cid) sc) WHERE rn = 1),
             |selu$r AS (SELECT * FROM selu${r - 1}
             |           UNION ALL SELECT qid, cid FROM sel$r)"""
            .stripMargin
        s"""WITH e AS (SELECT vec_id,
           |    list_transform(embedding, x -> x::DOUBLE) AS v
           |  FROM embeddings),
           |nn AS (SELECT vec_id, v, ${Vectors.dotSql("v", "v")} AS nrm
           |       FROM e),
           |qv AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM nn
           |       WHERE vec_id < 20),
           |semp AS (SELECT qid, c.vec_id AS cid,
           |    round(${Vectors.dotSql("qv", "c.v")} /
           |          (sqrt(qn) * sqrt(c.nrm)), 6) AS score
           |  FROM qv JOIN nn c ON c.vec_id <> qid),
           |pool AS (SELECT qid, cid,
           |    CAST(round(score * 1000000) AS BIGINT) AS rel
           |  FROM (SELECT qid, cid, score, row_number() OVER (
           |          PARTITION BY qid ORDER BY score DESC, cid) AS ra
           |        FROM semp) WHERE ra <= 10),
           |sims AS (SELECT p1.qid, p1.cid AS c1, p2.cid AS c2,
           |    CAST(round(round(${Vectors.dotSql("v1.v", "v2.v")} /
           |      (sqrt(v1.nrm) * sqrt(v2.nrm)), 6) * 1000000) AS BIGINT)
           |      AS sim
           |  FROM pool p1 JOIN pool p2
           |    ON p2.qid = p1.qid AND p2.cid <> p1.cid
           |  JOIN nn v1 ON v1.vec_id = p1.cid
           |  JOIN nn v2 ON v2.vec_id = p2.cid),
           |sel1 AS (SELECT qid, cid, 700 * rel AS mmr FROM (
           |  SELECT qid, cid, rel, row_number() OVER (PARTITION BY qid
           |    ORDER BY 700 * rel DESC, cid) AS rn FROM pool)
           |  WHERE rn = 1),
           |selu1 AS (SELECT qid, cid FROM sel1),
           |${round(2)},
           |${round(3)},
           |${round(4)},
           |${round(5)}
           |SELECT qid, rank, cid, CAST(mmr AS BIGINT) AS mmr FROM (
           |  SELECT qid, cid, mmr, 1 AS rank FROM sel1
           |  UNION ALL SELECT qid, cid, mmr, 2 FROM sel2
           |  UNION ALL SELECT qid, cid, mmr, 3 FROM sel3
           |  UNION ALL SELECT qid, cid, mmr, 4 FROM sel4
           |  UNION ALL SELECT qid, cid, mmr, 5 FROM sel5)
           |ORDER BY qid, rank""".stripMargin
      }) { (s, d) =>
      val nn = Vectors.prepared(s, d)
      val qv = nn.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"))
      val wSem = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("cid"))
      val pool = nn.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid"),
          round(Vectors.dot(col("qv"), col("v")) /
            (sqrt(col("qn")) * sqrt(col("nrm"))), 6).as("score"))
        .withColumn("ra", row_number().over(wSem))
        .filter(col("ra") <= 10)
        .select(col("qid"), col("cid"),
          round(col("score") * 1000000).cast("long").as("rel"))
        .tcache()
      val vecs = nn.select(col("vec_id"), col("v"), col("nrm"))
      val sims = pool.select(col("qid"), col("cid").as("c1"))
        .join(pool.select(col("qid"), col("cid").as("c2")), Seq("qid"))
        .filter(col("c1") =!= col("c2"))
        .join(vecs.select(col("vec_id").as("c1"), col("v").as("v1"),
          col("nrm").as("n1")), Seq("c1"))
        .join(vecs.select(col("vec_id").as("c2"), col("v").as("v2"),
          col("nrm").as("n2")), Seq("c2"))
        .select(col("qid"), col("c1"), col("c2"),
          round(round(Vectors.dot(col("v1"), col("v2")) /
            (sqrt(col("n1")) * sqrt(col("n2"))), 6) * 1000000)
            .cast("long").as("sim"))
        .tcache()
      // The greedy rounds run DRIVER-SIDE on the two collected
      // relations: pool is queries×10 and sims queries×90 rows —
      // both bounded by the QUERY SET, never the corpus, so this is
      // the same class of driver-bounded iterative state as the
      // q153/q157 scalar probes (boundedCollect documents the
      // bound). The distributed work is exactly the corpus-touching
      // pool build above; five argmaxes over ≤200 in-memory integer
      // rows replace ~15 scheduled-but-tiny Spark jobs. All
      // arithmetic is the oracle's exact integer recurrence, so the
      // result is bit-identical.
      import s.implicits._
      val poolRows = Tables.boundedCollect(pool, 4096,
        "q198 MMR pool (queries x 10)")
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val simOf = Tables.boundedCollect(sims, 65536,
        "q198 MMR pairwise sims (queries x 90)")
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
          r.getLong(3))).toMap
      val sel = poolRows.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
        case (qid, cands) =>
          var rem = cands.map(c => (c._2, c._3)).sortBy(_._1)
          var picked = List.empty[Long]
          (1 to 5).flatMap { r =>
            if (rem.isEmpty) Nil
            else {
              val scored = rem.map { case (cid, rel) =>
                // max sim to the selected set — sims may be NEGATIVE
                // (cosine), so the max is over the real values; the
                // 0 fallback mirrors the oracle's coalesce for the
                // (structurally impossible) no-entry case only
                val ms = picked.flatMap(p => simOf.get((qid, cid, p)))
                (cid, if (picked.isEmpty) rel * 700
                      else rel * 700 -
                        (if (ms.isEmpty) 0L else ms.max) * 300)
              }
              val (cid, mmr) = scored.minBy { case (c, m) => (-m, c) }
              picked ::= cid
              rem = rem.filterNot(_._1 == cid)
              Seq((qid, r, cid, mmr))
            }
          }
      }
      sel.toDF("qid", "rank", "cid", "mmr")
        .orderBy(col("qid"), col("rank"))
    },

    // ---- q202: deterministic hash-bootstrap confidence interval ---
    // The Poisson bootstrap (Chamandy et al., the map-reduce
    // bootstrap): resample weights ~ Poisson(1) per (row, resample),
    // approximated by its inverse CDF on a 32-bit hash of (key, b) —
    // fully deterministic, no RNG state, identical in both engines.
    // Each row folds its B=100 resample weights straight into a
    // long[2B] typed-aggregator buffer (Aggregators.BootstrapFold),
    // so the resample matrix is never materialized as rows and the
    // network carries one 2B-long buffer per partition. The ≤100
    // resample means rank via a broadcast theta count (no global
    // window) to pick the 5th/95th percentile bounds. This is how
    // you put an error bar on any 100 TB aggregate in one pass.
    QueryDef(
      "q202_bootstrap_ci",
      { // one md5 per ORDER, then an fmix32-style integer finalizer
        // per (order, resample): the naive per-(order,b) md5 costs
        // rows×B hash evaluations — the finalizer keeps deterministic
        // per-resample decorrelation at ~100× less CPU (measured:
        // q202 6.6 s → the explode side drops to arithmetic only).
        // Shape = murmur3 fmix: xor-shift, multiply, xor-shift,
        // multiply, xor-shift — two multiplies + three folds give
        // full-width avalanche (a single multiply mod 2^32 leaves
        // top-bit differences of h0 linearly correlated across all b
        // — the r8 advisor finding). Multipliers are xxhash32's
        // PRIME32_4/PRIME32_5, both < 2^30, so every product stays
        // < 2^62 in signed-64 arithmetic; shifts are `DIV 2^k` on
        // non-negative values, identical in both engines.
        val h = Text.h32Sql("CAST(o_orderkey AS VARCHAR)")
        s"""WITH c AS (SELECT o_orderkey,
           |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           |    ($h) AS h0
           |  FROM orders),
           |pt AS (SELECT count(*) AS n_orders,
           |    CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents
           |  FROM c),
           |m0 AS (SELECT c.cents, b,
           |    xor(c.h0, (b + 1) * 2654435761) % 4294967296 AS x0
           |  FROM c, UNNEST(range(0, 100)) AS t(b)),
           |m1 AS (SELECT cents, b,
           |    (xor(x0, x0 // 65536) * 668265263) % 4294967296 AS x2
           |  FROM m0),
           |m2 AS (SELECT cents, b,
           |    (xor(x2, x2 // 8192) * 374761393) % 4294967296 AS x4
           |  FROM m1),
           |re AS (SELECT cents, b,
           |    xor(x4, x4 // 65536) % 10000 AS hh
           |  FROM m2),
           |w AS (SELECT cents, b, CASE WHEN hh < 3679 THEN 0
           |    WHEN hh < 7358 THEN 1 WHEN hh < 9197 THEN 2
           |    WHEN hh < 9810 THEN 3 ELSE 4 END AS k FROM re),
           |means AS (SELECT b,
           |    CAST(sum(k * cents) // sum(k) AS BIGINT) AS m
           |  FROM w GROUP BY b HAVING sum(k) > 0),
           |ranked AS (SELECT a.b, a.m,
           |    (SELECT count(*) FROM means o
           |     WHERE o.m < a.m OR (o.m = a.m AND o.b < a.b)) + 1 AS rk,
           |    (SELECT count(*) FROM means) AS nb
           |  FROM means a)
           |SELECT pt.n_orders, pt.mean_cents,
           |  max(CASE WHEN rk = (5 * nb + 99) // 100 THEN m END)
           |    AS ci_lo_cents,
           |  max(CASE WHEN rk = (95 * nb + 99) // 100 THEN m END)
           |    AS ci_hi_cents,
           |  max(nb) AS n_resamples
           |FROM ranked, pt
           |GROUP BY pt.n_orders, pt.mean_cents""".stripMargin
      }) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val c = orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        expr("md5_h32(CAST(o_orderkey AS STRING))").as("h0"))
      // the whole resample matrix folds inside [[Aggregators
      // .BootstrapFold]] — one long[200] buffer per map partition,
      // never rows×B exploded rows (the oracle keeps the explicit
      // UNNEST form; the fold's fmix recurrence is bit-identical)
      val fold = udaf(new Aggregators.BootstrapFold(100))
      val folded = c
        .agg(count(lit(1)).as("n_orders"),
          expr("sum(cents) DIV count(1)").as("mean_cents"),
          fold(col("h0"), col("cents")).as("arr"))
        .tcache()
      val pt = folded.select(col("n_orders"), col("mean_cents"))
      val means = folded
        .select(posexplode(col("arr")).as(Seq("b", "p")))
        .select(col("b").cast("long").as("b"),
          col("p")("_1").as("skc"), col("p")("_2").as("sk"))
        .filter(col("sk") > 0)
        .select(col("b"), expr("skc DIV sk").as("m"))
        .tcache()
      val nb = means.agg(count(lit(1)).as("nb"))
      val ranked = means.as("a")
        .join(broadcast(means.as("o")),
          col("o.m") < col("a.m") ||
            (col("o.m") === col("a.m") && col("o.b") < col("a.b")),
          "left")
        .groupBy(col("a.b").as("b"), col("a.m").as("m"))
        .agg((count(col("o.b")) + 1).as("rk"))
        .crossJoin(broadcast(nb))
      ranked
        .crossJoin(broadcast(pt))
        .groupBy(col("n_orders"), col("mean_cents"))
        .agg(
          max(when(col("rk") === expr("(5 * nb + 99) DIV 100"),
            col("m"))).as("ci_lo_cents"),
          max(when(col("rk") === expr("(95 * nb + 99) DIV 100"),
            col("m"))).as("ci_hi_cents"),
          max(col("nb")).as("n_resamples"))
        .select(col("n_orders"), col("mean_cents"), col("ci_lo_cents"),
          col("ci_hi_cents"), col("n_resamples"))
    },

    // ---- q203: data-contract expectations audit -------------------
    // The Deequ-style contract check a pipeline gates ingestion on
    // (q169 profiles; this ASSERTS): key uniqueness, domain bounds,
    // null-freedom, and referential integrity, each evaluated as one
    // keyed aggregate or anti-join and reported as (check, violations,
    // passed) rows. All checks over one table share a single scan
    // (conditional counts); the referential check is the only join —
    // an anti-join on the key. The report is what lands in the data
    // catalog next to the snapshot.
    QueryDef(
      "q203_expectations_audit",
      """WITH li AS (SELECT
        |    count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
        |      AS qty_dom,
        |    count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1)
        |      AS disc_dom,
        |    count(*) FILTER (WHERE l_extendedprice IS NULL
        |      OR l_orderkey IS NULL) AS li_nulls
        |  FROM lineitem),
        |o AS (SELECT count(*) - count(DISTINCT o_orderkey) AS key_dups,
        |    count(*) FILTER (WHERE o_totalprice <= 0) AS price_dom
        |  FROM orders),
        |orph AS (SELECT count(*) AS n FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o2
        |    WHERE o2.o_orderkey = l.l_orderkey))
        |SELECT chk, violations, violations = 0 AS passed FROM (
        |  SELECT 'lineitem_quantity_in_1_50' AS chk,
        |    CAST(li.qty_dom AS BIGINT) AS violations FROM li
        |  UNION ALL SELECT 'lineitem_discount_in_0_0.1',
        |    CAST(li.disc_dom AS BIGINT) FROM li
        |  UNION ALL SELECT 'lineitem_no_nulls',
        |    CAST(li.li_nulls AS BIGINT) FROM li
        |  UNION ALL SELECT 'orders_key_unique',
        |    CAST(o.key_dups AS BIGINT) FROM o
        |  UNION ALL SELECT 'orders_price_positive',
        |    CAST(o.price_dom AS BIGINT) FROM o
        |  UNION ALL SELECT 'lineitem_fk_orders',
        |    CAST(orph.n AS BIGINT) FROM orph)
        |ORDER BY chk""".stripMargin) { (s, d) =>
      val li = lineitem(s, d).agg(
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("qty_dom"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("disc_dom"),
        sum(when(col("l_extendedprice").isNull ||
          col("l_orderkey").isNull, 1L).otherwise(0L)).as("li_nulls"))
      val o = orders(s, d).agg(
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("key_dups"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
          .as("price_dom"))
      val orph = lineitem(s, d).select(col("l_orderkey"))
        .join(orders(s, d).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
      val rows = li.select(lit("lineitem_quantity_in_1_50").as("chk"),
          col("qty_dom").as("violations"))
        .unionAll(li.select(lit("lineitem_discount_in_0_0.1"),
          col("disc_dom")))
        .unionAll(li.select(lit("lineitem_no_nulls"), col("li_nulls")))
        .unionAll(o.select(lit("orders_key_unique"), col("key_dups")))
        .unionAll(o.select(lit("orders_price_positive"),
          col("price_dom")))
        .unionAll(orph.select(lit("lineitem_fk_orders"), col("n")))
      rows.select(col("chk"), col("violations"),
          (col("violations") === 0).as("passed"))
        .orderBy(col("chk"))
    },

    // ---- q204: KMV sketch set-similarity between sources ----------
    // The k-minimum-values sketch (Bar-Yossef et al.): each source's
    // doc-fingerprint set compresses to its k=16 smallest hashes;
    // the Jaccard between two sources is estimated as the shared
    // fraction of the k smallest of the UNION of their sketches.
    // Like q193's HLL this is the MERGEABLE path — at 100 TB each
    // ingest batch ships a 16-value sketch per source and pairwise
    // similarity costs sketch×sketch, never set×set; unlike minhash
    // (q140) the same sketch also serves distinct-count estimation.
    // The estimator is hash-deterministic, so the oracle recomputes
    // it EXACTLY (no error envelope needed) next to the exact-set
    // Jaccard it approximates — the driver hash-pins both.
    QueryDef(
      "q204_kmv_source_similarity",
      { val h = Text.h32Sql("text")
        s"""WITH f AS (SELECT DISTINCT source, $h AS h FROM documents),
           |km AS (SELECT source, h FROM (
           |    SELECT source, h, row_number() OVER (
           |      PARTITION BY source ORDER BY h) AS rn FROM f)
           |  WHERE rn <= 16),
           |pairs AS (SELECT a.source AS sa, b.source AS sb
           |  FROM (SELECT DISTINCT source FROM f) a
           |  JOIN (SELECT DISTINCT source FROM f) b
           |    ON a.source < b.source),
           |u AS (SELECT p.sa, p.sb, k.h,
           |    max(CASE WHEN k.source = p.sa THEN 1 ELSE 0 END) AS ina,
           |    max(CASE WHEN k.source = p.sb THEN 1 ELSE 0 END) AS inb
           |  FROM pairs p JOIN km k ON k.source IN (p.sa, p.sb)
           |  GROUP BY p.sa, p.sb, k.h),
           |topu AS (SELECT sa, sb, ina, inb FROM (
           |    SELECT sa, sb, h, ina, inb, row_number() OVER (
           |      PARTITION BY sa, sb ORDER BY h) AS rn FROM u)
           |  WHERE rn <= 16),
           |est AS (SELECT sa, sb,
           |    CAST(sum(ina * inb) * 1000 // count(*) AS BIGINT)
           |      AS est_milli
           |  FROM topu GROUP BY sa, sb),
           |ex AS (SELECT p.sa, p.sb,
           |    CAST(sum(CASE WHEN fa.h IS NOT NULL
           |          AND fb.h IS NOT NULL THEN 1 ELSE 0 END) * 1000 //
           |      count(*) AS BIGINT) AS exact_milli
           |  FROM pairs p
           |  JOIN (SELECT sa2.sa, sa2.sb, k.h FROM pairs sa2
           |        JOIN f k ON k.source IN (sa2.sa, sa2.sb)
           |        GROUP BY sa2.sa, sa2.sb, k.h) uu
           |    ON uu.sa = p.sa AND uu.sb = p.sb
           |  LEFT JOIN f fa ON fa.source = p.sa AND fa.h = uu.h
           |  LEFT JOIN f fb ON fb.source = p.sb AND fb.h = uu.h
           |  GROUP BY p.sa, p.sb)
           |SELECT e.sa, e.sb, e.est_milli, x.exact_milli
           |FROM est e JOIN ex x ON x.sa = e.sa AND x.sb = e.sb
           |ORDER BY e.est_milli DESC, e.sa, e.sb
           |LIMIT 25""".stripMargin
      }) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val f = documents(s, d)
        .select(col("source"), expr("md5_h32(text)").as("h"))
        .distinct()
      // per-source sketch AND full set as sorted arrays — the full
      // set is the exact-audit arm only; the sketch is the product
      val sets = f.groupBy(col("source"))
        .agg(sort_array(collect_set(col("h"))).as("all"))
        .select(col("source"), col("all"),
          slice(col("all"), 1, 16).as("km"))
        .tcache()
      sets.select(col("source").as("sa"), col("all").as("fa"),
          col("km").as("ka"))
        .join(broadcast(sets.select(col("source").as("sb"),
          col("all").as("fb"), col("km").as("kb"))),
          col("sa") < col("sb"))
        .select(col("sa"), col("sb"),
          expr("""CAST(aggregate(slice(array_sort(
            |  array_union(ka, kb)), 1, 16), 0L, (acc, x) ->
            |  acc + IF(array_contains(ka, x)
            |           AND array_contains(kb, x), 1L, 0L)) * 1000
            |  DIV size(slice(array_sort(array_union(ka, kb)), 1, 16))
            |  AS BIGINT)""".stripMargin).as("est_milli"),
          expr("""CAST(aggregate(fa, 0L, (acc, x) ->
            |  acc + IF(array_contains(fb, x), 1L, 0L)) * 1000
            |  DIV size(array_union(fa, fb)) AS BIGINT)"""
            .stripMargin).as("exact_milli"))
        .orderBy(col("est_milli").desc, col("sa"), col("sb"))
        .limit(25)
    },

    // ---- q205: market-basket 2-itemsets (a-priori) ----------------
    // Frequent part pairs across orders, with lift: the pair fanout
    // is generated MAP-SIDE inside each order (combinations of the
    // per-order item array, bounded by basket size — the same
    // in-row expansion as q148's fingerprint buckets), so the only
    // shuffles are the per-order collect and the pair count. The
    // naive self-join the oracle states would shuffle the lineitem
    // table against itself; at 100 TB the in-basket expansion is
    // rows×(basket choose 2) map-side rows, collapsed by partial
    // aggregation. Lift in exact milli from the part frequencies.
    QueryDef(
      "q205_basket_pairs",
      """WITH p AS (SELECT DISTINCT l_orderkey, l_partkey
        |           FROM lineitem),
        |n AS (SELECT count(DISTINCT l_orderkey) AS total FROM p),
        |pf AS (SELECT l_partkey, count(*) AS df FROM p
        |       GROUP BY l_partkey),
        |pr AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |    count(*) AS support
        |  FROM p a JOIN p b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pr.p1, pr.p2, pr.support,
        |  CAST(pr.support * n.total * 1000 // (fa.df * fb.df)
        |    AS BIGINT) AS lift_milli
        |FROM pr, n
        |JOIN pf fa ON fa.l_partkey = pr.p1
        |JOIN pf fb ON fb.l_partkey = pr.p2
        |ORDER BY pr.support DESC, lift_milli DESC, pr.p1, pr.p2
        |LIMIT 25""".stripMargin) { (s, d) =>
      // ONE shuffle of lineitem: the per-order item set collapses
      // order-key-partitioned (collect_set dedups inline — no
      // separate DISTINCT pre-shuffle), and every other relation
      // (order count, part document frequency, in-basket pairs)
      // derives from the cached basket table, which holds one
      // basket-bounded row per order.
      graft.cdc.GraftFunctions.register(s)
      val items = lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("items"))
        .tcache()
      val total = items.agg(count(lit(1)).as("total"))
      val pf = items
        .select(explode(col("items")).as("l_partkey"))
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("df"))
      // pairs ride a single packed int64 key (p1·2^32 + p2 — part
      // keys are int32-bounded at any TPC-H scale) through the
      // explode + count; the fanout itself is the native pair_pack
      // kernel (r17): the former flatten(transform(transform(...)))
      // chain evaluated INTERPRETED — lambda closures plus one
      // allocated sub-array per item plus the flatten copy, measured
      // 9.1 task-sec on this stage — where pair_pack is one codegen'd
      // loop into a primitive long[], bit-identical packing.
      val pairs = items
        .select(explode(
          graft.cdc.GraftFunctions.pair_pack(col("items"))).as("pk"))
        .groupBy(col("pk"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .select(expr("pk DIV 4294967296L").as("p1"),
          expr("pk % 4294967296L").as("p2"), col("support"))
      pairs
        .join(pf.select(col("l_partkey").as("p1"), col("df").as("dfa")),
          Seq("p1"))
        .join(pf.select(col("l_partkey").as("p2"), col("df").as("dfb")),
          Seq("p2"))
        .crossJoin(broadcast(total))
        .select(col("p1"), col("p2"), col("support"),
          expr("support * total * 1000 DIV (dfa * dfb)")
            .as("lift_milli"))
        .orderBy(col("support").desc, col("lift_milli").desc,
          col("p1"), col("p2"))
        .limit(25)
    },

    // ---- q206: the SQL entry point, one text for both engines -----
    // A user of this library can stay entirely in SQL: register the
    // tables as views and run ANSI text through spark.sql — the
    // EXACT same string this QueryDef hands DuckDB as its oracle
    // (one constant, zero translation; integer-cents arithmetic and
    // CASTs keep the dialects byte-compatible). Catalyst plans it
    // like any DataFrame query: joins broadcast, the window
    // partitions by region, the rank prunes. Proof that the SQL
    // surface and the DataFrame surface are the same engine.
    QueryDef("q206_sql_entry", sqlEntryText) { (s, d) =>
      Seq("lineitem", "orders", "customer", "nation", "region")
        .foreach(n => t(s, d, n).createOrReplaceTempView(n))
      s.sql(sqlEntryText)
    },

    // ---- q207: k-anonymity audit ----------------------------------
    // The privacy gate before a data release: quasi-identifier
    // combinations (status, priority, order month) whose group size
    // is below k=5 re-identify their members. One keyed count + one
    // scalar rollup — auditing 10^11 rows costs one aggregation, and
    // the violating-combo list (not emitted here) is the same
    // relation pre-rollup.
    QueryDef(
      "q207_k_anonymity",
      """WITH q AS (SELECT o_orderstatus AS st, o_orderpriority AS pr,
        |    year(o_orderdate) * 100 + month(o_orderdate) AS ym
        |  FROM orders),
        |g AS (SELECT st, pr, ym, count(*) AS n FROM q
        |      GROUP BY st, pr, ym)
        |SELECT count(*) AS n_groups,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  CAST(min(n) AS BIGINT) AS min_group_size
        |FROM g""".stripMargin) { (s, d) =>
      orders(s, d)
        .select(col("o_orderstatus").as("st"),
          col("o_orderpriority").as("pr"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .as("ym"))
        .groupBy(col("st"), col("pr"), col("ym"))
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_violating"),
          sum(when(col("n") < 5, col("n")).otherwise(0L))
            .as("rows_at_risk"),
          min(col("n")).as("min_group_size"))
    },

    // ---- q208: bitmap-index retention (roaring-style words) -------
    // Day-over-day retention WITHOUT a distinct-pair shuffle: each
    // day's active-user set packs into 32-bit presence words
    // (word = user DIV 32, mask = 1 << (user % 32), one bit_or
    // aggregation per (day, word)), and retention is popcount of the
    // word-wise AND of consecutive days — a keyed equi-join on
    // (word index) over relations whose size is users/32, not
    // events. The bitmap is the mergeable artifact (bit_or is
    // associative/commutative); at 10^9 users a day's bitmap is
    // ~125 MB spread across word-keyed partitions, and every set
    // operation (AND/OR/ANDNOT for churn) stays integer-exact.
    QueryDef(
      "q208_bitmap_retention",
      s"""WITH a AS (SELECT DISTINCT ($tsSecSql // 86400) AS day,
         |    user_id FROM events),
         |w AS (SELECT day, user_id // 32 AS wi,
         |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT))
         |      AS bits
         |  FROM a GROUP BY day, (user_id // 32)),
         |j AS (SELECT c.day, c.wi, c.bits AS cb, n.bits AS nb
         |  FROM w c JOIN w n ON n.day = c.day + 1 AND n.wi = c.wi)
         |SELECT c2.day,
         |  CAST(sum(bit_count(c2.bits)) AS BIGINT) AS actives,
         |  CAST(coalesce((SELECT sum(bit_count(j.cb & j.nb))
         |    FROM j WHERE j.day = c2.day), 0) AS BIGINT) AS retained
         |FROM w c2 GROUP BY c2.day ORDER BY c2.day""".stripMargin) {
      (s, d) =>
        val a = ev(s, d)
          .select(expr("ts_sec DIV 86400").as("day"), col("user_id"))
          .distinct()
        val w = a
          .groupBy(col("day"), expr("user_id DIV 32").as("wi"))
          .agg(expr("bit_or(shiftleft(1L, CAST(user_id % 32 AS INT)))")
            .as("bits"))
          .tcache()
        val ret = w.select((col("day") - 1).as("day"), col("wi"),
            col("bits").as("nb"))
          .join(w.select(col("day"), col("wi"), col("bits").as("cb")),
            Seq("day", "wi"))
          .groupBy(col("day"))
          .agg(sum(expr("bit_count(cb & nb)")).as("retained"))
        w.groupBy(col("day"))
          .agg(sum(expr("bit_count(bits)")).as("actives"))
          .join(ret, Seq("day"), "left")
          .select(col("day"), col("actives"),
            coalesce(col("retained"), lit(0L)).as("retained"))
          .orderBy(col("day"))
    },

    // ---- q209: join-size audit from frequency vectors -------------
    // |A ⋈ B| on a key equals Σ_k cnt_A(k)·cnt_B(k) — computable
    // from the two per-key count relations WITHOUT executing the
    // join, the estimate a cost-based planner needs and the skew
    // diagnosis a engineer needs (the top key's share of the join
    // output predicts stragglers). Two keyed counts + one keyed
    // join of count relations (key-cardinality-sized, not
    // row-sized) + a broadcast total; the audit also verifies the
    // prediction against the executed join's count(*).
    QueryDef(
      "q209_join_size_audit",
      """WITH ca AS (SELECT o_custkey AS k, count(*) AS na
        |            FROM orders GROUP BY o_custkey),
        |cb AS (SELECT c_custkey AS k, count(*) AS nb
        |       FROM customer GROUP BY c_custkey),
        |contrib AS (SELECT ca.k, ca.na * cb.nb AS c
        |            FROM ca JOIN cb ON cb.k = ca.k),
        |pred AS (SELECT CAST(sum(c) AS BIGINT) AS predicted,
        |                CAST(max(c) AS BIGINT) AS top_key
        |         FROM contrib),
        |act AS (SELECT count(*) AS actual FROM orders o
        |        JOIN customer c ON c.c_custkey = o.o_custkey)
        |SELECT p.predicted, a.actual, p.predicted = a.actual AS exact,
        |  CAST(p.top_key * 1000 // p.predicted AS BIGINT)
        |    AS top_key_permille
        |FROM pred p, act a""".stripMargin) { (s, d) =>
      val ca = orders(s, d).groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("na"))
      val cb = customer(s, d).groupBy(col("c_custkey").as("k"))
        .agg(count(lit(1)).as("nb"))
      val pred = ca.join(cb, Seq("k"))
        .select((col("na") * col("nb")).as("c"))
        .agg(sum(col("c")).as("predicted"), max(col("c")).as("top_key"))
      val act = orders(s, d).select(col("o_custkey"))
        .join(customer(s, d).select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("actual"))
      pred.crossJoin(broadcast(act))
        .select(col("predicted"), col("actual"),
          (col("predicted") === col("actual")).as("exact"),
          expr("top_key * 1000 DIV predicted").as("top_key_permille"))
    },

    // ---- q199: cross-source quantile normalization ----------------
    // Mixing corpora whose length/quality distributions differ
    // skews mixture weights; quantile normalization maps each doc's
    // WITHIN-SOURCE rank onto the GLOBAL distribution (the
    // bioinformatics/LTR recipe). The oracle states it with global
    // row_numbers; the engine never sorts globally: the global CDF
    // over DISTINCT values builds as a two-level prefix sum (per-
    // bucket totals broadcast theta-summed across buckets + a
    // bucket-partitioned running sum within), and the rank→value
    // lookup is a broadcast interval join against that value-bounded
    // CDF — rank intervals [cum-cnt+1, cum] partition the rank space,
    // so each doc matches exactly one value. Everything corpus-sized
    // moves through keyed windows (per source / per bucket) only.
    QueryDef(
      "q199_quantile_normalization",
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |t AS (SELECT count(*) AS n FROM d),
        |sr AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars, doc_id) AS r,
        |    count(*) OVER (PARTITION BY source) AS ns FROM d),
        |g AS (SELECT doc_id, source, n_chars, (r * t.n) // ns AS gr
        |      FROM sr, t),
        |go AS (SELECT n_chars AS v, row_number() OVER (
        |         ORDER BY n_chars, doc_id) AS rn FROM d),
        |norm AS (SELECT g.doc_id, g.source, g.n_chars, go.v AS nv
        |         FROM g JOIN go ON go.rn = g.gr)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(nv) // count(*) AS BIGINT) AS mean_norm,
        |  CAST(sum(abs(nv - n_chars)) // count(*) AS BIGINT)
        |    AS mean_shift
        |FROM norm GROUP BY source ORDER BY source""".stripMargin) {
      (s, d) =>
        val docs = documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val total = docs.agg(count(lit(1)).as("n"))
        val wSrc = Window.partitionBy(col("source"))
          .orderBy(col("n_chars"), col("doc_id"))
        val g = docs
          .withColumn("r", row_number().over(wSrc))
          .withColumn("ns", count(lit(1))
            .over(Window.partitionBy(col("source"))))
          .crossJoin(broadcast(total))
          .select(col("doc_id"), col("source"), col("n_chars"),
            expr("(r * n) DIV ns").as("gr"))
        // global CDF over distinct values, two-level (no global sort)
        val vc = docs.groupBy(col("n_chars").as("v"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("bucket", expr("v DIV 256"))
        val bt = vc.groupBy(col("bucket")).agg(sum(col("cnt")).as("bc"))
        val bprefix = bt.as("b")
          .join(broadcast(bt.as("lo")), col("lo.bucket") < col("b.bucket"),
            "left")
          .groupBy(col("b.bucket").as("bucket"))
          .agg(coalesce(sum(col("lo.bc")), lit(0L)).as("pfx"))
        val wBk = Window.partitionBy(col("bucket")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cdf = vc
          .withColumn("cumIn", sum(col("cnt")).over(wBk))
          .join(broadcast(bprefix), Seq("bucket"))
          .select(col("v"), col("cnt"),
            (col("pfx") + col("cumIn")).as("cum"))
        val norm = g.join(broadcast(cdf),
          col("gr") >= col("cum") - col("cnt") + 1 &&
            col("gr") <= col("cum"))
        norm.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            expr("sum(v) DIV count(1)").as("mean_norm"),
            expr("sum(abs(v - n_chars)) DIV count(1)").as("mean_shift"))
          .orderBy(col("source"))
    },

    // ---- q200: multi-point time-travel snapshot -------------------
    // The consumer-side "AS OF" query the reference's change stream
    // exists to answer (q16 = AS OF now; q120 = the full history):
    // materialize the keyed snapshot at the 25% / 50% / 75% LSN
    // marks in ONE scan — each change row fans out to the thresholds
    // at-or-after it (bounded ×3), then one keyed max_by per
    // (threshold, key). The growth curve across marks is the replay
    // -progress audit a backfill operator watches.
    QueryDef(
      "q200_snapshot_asof",
      s"""WITH c AS (SELECT user_id, event_id,
         |    CAST(round(value * 100) AS BIGINT) AS value_c,
         |    CASE event_type WHEN 'signup' THEN 'insert'
         |      WHEN 'error' THEN 'delete' ELSE 'update' END AS op
         |  FROM events),
         |m AS (SELECT max(event_id) AS mx FROM c),
         |thr AS (SELECT p, (m.mx * p) // 100 AS lim FROM m,
         |        UNNEST([25, 50, 75]) AS t(p)),
         |last AS (SELECT t.p, c.user_id, max(c.event_id) AS last_id
         |  FROM c JOIN thr t ON c.event_id <= t.lim
         |  GROUP BY t.p, c.user_id),
         |snap AS (SELECT l.p, l.user_id, c.op, c.value_c
         |  FROM last l JOIN c ON c.user_id = l.user_id
         |   AND c.event_id = l.last_id)
         |SELECT p AS pct, count(*) AS live_users,
         |  CAST(sum(value_c) AS BIGINT) AS total_value_c
         |FROM snap WHERE op <> 'delete'
         |GROUP BY p ORDER BY p""".stripMargin) { (s, d) =>
      val c = ev(s, d).select(col("user_id"), col("event_id"),
        col("value_c"),
        when(col("event_type") === "signup", "insert")
          .when(col("event_type") === "error", "delete")
          .otherwise("update").as("op"))
      val thr = c.agg(max(col("event_id")).as("mx"))
        .select(explode(array(lit(25L), lit(50L), lit(75L))).as("p"),
          col("mx"))
        .select(col("p"), expr("(mx * p) DIV 100").as("lim"))
      c.join(broadcast(thr), col("event_id") <= col("lim"))
        .groupBy(col("p"), col("user_id"))
        .agg(max_by(struct(col("op"), col("value_c")), col("event_id"))
          .as("last"))
        .filter(col("last.op") =!= "delete")
        .groupBy(col("p").as("pct"))
        .agg(count(lit(1)).as("live_users"),
          sum(col("last.value_c")).as("total_value_c"))
        .orderBy(col("pct"))
    },

    // ---- q201: record-linkage scoring (Fellegi-Sunter) ------------
    // Entity-resolution scoring on the near-dup candidate pairs:
    // per-field agreement log-odds weights (fixed integer milli-ban
    // parameters — agreement adds the match weight, disagreement
    // subtracts the non-match weight; Fellegi-Sunter 1969) summed
    // into a pair score. The candidates come from the shared keyed
    // pair graph — the scoring pass itself is two keyed joins to the
    // doc attributes plus map-side arithmetic, so linkage scoring
    // costs candidates×O(1) at any corpus size.
    QueryDef(
      "q201_linkage_scores",
      s"""WITH shingles AS (${Text.shinglesSql}),
         |${Text.jaccardPairsSql},
         |attrs AS (SELECT doc_id, lang, source, n_chars
         |          FROM documents)
         |SELECT p.d1, p.d2,
         |  CAST(CASE WHEN a.lang = b.lang THEN 850 ELSE -520 END +
         |       CASE WHEN a.source = b.source THEN 1320 ELSE -180 END +
         |       CASE WHEN 10 * abs(a.n_chars - b.n_chars) <=
         |            a.n_chars + b.n_chars THEN 640 ELSE -410 END +
         |       (p.inter * 1000 // (p.na + p.nb - p.inter))
         |    AS BIGINT) AS score_milli,
         |  (a.lang = b.lang) AS lang_agree,
         |  (a.source = b.source) AS source_agree
         |FROM jpairs p JOIN attrs a ON a.doc_id = p.d1
         |JOIN attrs b ON b.doc_id = p.d2
         |ORDER BY score_milli DESC, p.d1, p.d2 LIMIT 50""".stripMargin) {
      (s, d) =>
        val attrs = documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"))
        Text.jaccardPairs(s, d)
          .join(attrs.select(col("doc_id").as("d1"),
            col("lang").as("la"), col("source").as("sa"),
            col("n_chars").as("ca")), Seq("d1"))
          .join(attrs.select(col("doc_id").as("d2"),
            col("lang").as("lb"), col("source").as("sb"),
            col("n_chars").as("cb")), Seq("d2"))
          .select(col("d1"), col("d2"),
            (when(col("la") === col("lb"), 850L).otherwise(-520L) +
              when(col("sa") === col("sb"), 1320L).otherwise(-180L) +
              when(abs(col("ca") - col("cb")) * 10 <=
                col("ca") + col("cb"), 640L).otherwise(-410L) +
              expr("inter * 1000 DIV (na + nb - inter)"))
              .as("score_milli"),
            (col("la") === col("lb")).as("lang_agree"),
            (col("sa") === col("sb")).as("source_agree"))
          .orderBy(col("score_milli").desc, col("d1"), col("d2"))
          .limit(50)
    })
}
