package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over `documents`: duplicate-cluster
  * assignment (connected components over the near-dup graph),
  * deterministic hash-based dataset splits, document-frequency-weighted
  * term scoring, and exact rank-based percentiles.
  *
  * Cross-engine determinism: all scores are integer arithmetic
  * (`DIV` ≡ DuckDB `//`); the split hash is the md5-derived 32-bit
  * integer both engines compute identically; the median is the mean of
  * at most two integers (exact 0.5-lattice double).
  *
  * Scale notes (100 TB):
  *  - q45's component search is iterative min-label propagation —
  *    every iteration is one keyed join + one keyed aggregation, both
  *    partitioned by node id, with `localCheckpoint` truncating the
  *    lineage so the plan does not grow with iteration count.
  *    Convergence is O(graph diameter); near-dup clusters are shallow
  *    (size 2–4 here), and a skew-prone giant component calls for the
  *    large-star/small-star variant — implemented as q102
  *    ([[starContraction]], O(log n) rounds on any topology) and
  *    hash-matched against the same oracle. The driver-side loop only
  *    ever inspects a scalar label sum, never row data.
  *  - q46's split is a pure map-side hash + one partial+final agg —
  *    the canonical shuffle-free way to split 100 TB reproducibly
  *    (no sampling, no global sort, stable under re-runs and
  *    repartitioning).
  *  - q47 is two keyed aggregations (term×lang tf, term df) joined on
  *    term; df for common terms is bounded by |docs| so no key is
  *    hotter than the corpus itself.
  *  - q48 ranks within language partitions only (no global sort) and
  *    reduces each to a 3-number summary.
  */
object Pipeline {
  import Tables._
  import Text.{h32Sql, jaccardPairs, jaccardPairsSql, qualityScores,
    qualityScoresSql, shinglesSql, toksSql, withToks}

  /** (node, label) connected-component assignment over the Jaccard
    * near-dup graph — min-label propagation to a fixpoint, memoized
    * per (session, dataset) like the pair graph it derives from. */
  private val labelCache = new Tables.DfMemo("labels")

  private[ops] def clusterLabels(s: SparkSession, d: String): DataFrame =
    labelCache.getOrElseUpdate((s, d)) {
      // r16 fast path: fixpoint min-label components ARE the
      // union-find component minima — below the edge bound the memo
      // builds from the single-task kernel (cached: session memo, the
      // distributed loop's checkpoint pinned blocks the same way) and
      // the convergence loop below stays the scale path.
      val localMax = graft.GraftConf.GraphLocalEdgeMax.get(s)
      val pairs0 = jaccardPairs(s, d).select(col("d1"), col("d2"))
      if (Tables.fitsLocal(pairs0, localMax)) {
        val ss = s; import ss.implicits._
        pairs0.select(col("d1").cast("long"), col("d2").cast("long"))
          .as[(Long, Long)].repartition(1)
          .mapPartitions(GraphKernel.components)
          .toDF("node", "label")
          .cache()
      } else clusterLabelsDistributed(s, d)
    }

  /** The distributed convergence loop — the scale path. */
  private def clusterLabelsDistributed(s: SparkSession,
      d: String): DataFrame = {
      val pairs = jaccardPairs(s, d).select(col("d1"), col("d2"))
      val edges = pairs
        .union(pairs.select(col("d2"), col("d1")))
        .toDF("a", "b")
        .localCheckpoint()
      var labels = edges.select(col("a").as("node")).distinct()
        .withColumn("label", col("node"))
        .localCheckpoint()
      // Convergence probe: min-label propagation can only DECREASE a
      // node's label, so the global label sum strictly decreases until
      // the fixpoint — comparing this round's sum to last round's
      // detects convergence with one scalar aggregate instead of a
      // per-iteration next⋈prev join (half the per-round work, and the
      // sum is a decimal(38,0) so billion-node × 64-bit-id graphs
      // cannot overflow it).
      def labelSum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
      var prevSum = labelSum(labels)
      var converged = false
      var iter = 0
      while (!converged && iter < 50) {
        val msgs = edges
          .join(labels.withColumnRenamed("node", "a"), "a")
          .select(col("b").as("node"), col("label"))
        val next = labels.union(msgs)
          .groupBy(col("node")).agg(min(col("label")).as("label"))
          .localCheckpoint()
        val nextSum = labelSum(next)
        labels = next
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        iter += 1
      }
      if (!converged) throw new IllegalStateException(
        s"connected components did not converge within $iter rounds " +
          "(component diameter exceeds the cap); raise the cap or switch " +
          "to the large-star/small-star variant for this graph")
      labels
    }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q45_dedup_clusters",
      s"""WITH RECURSIVE shingles AS ($shinglesSql),
         |$jaccardPairsSql,
         |edges AS (SELECT d1 AS a, d2 AS b FROM jpairs
         |          UNION SELECT d2, d1 FROM jpairs),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach AS (
         |  SELECT n AS a, n AS b FROM nodes
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
         |),
         |root AS (SELECT a AS doc_id, min(b) AS root FROM reach GROUP BY a)
         |SELECT root, count(*) AS cluster_size, max(doc_id) AS max_doc
         |FROM root GROUP BY root ORDER BY root""".stripMargin) { (s, d) =>
      // Connected components over the Jaccard>=0.6 near-dup graph:
      // min-label propagation to a fixpoint ([[clusterLabels]]). The
      // oracle computes the same components via a recursive transitive
      // closure (fine at oracle scale; quadratic in component size,
      // which is why the engine side propagates labels instead).
      clusterLabels(s, d)
        .groupBy(col("label").as("root"))
        .agg(count(lit(1)).as("cluster_size"), max(col("node")).as("max_doc"))
        .orderBy(col("root"))
    },

    QueryDef(
      "q257_cluster_size_census",
      s"""WITH RECURSIVE shingles AS ($shinglesSql),
         |$jaccardPairsSql,
         |edges AS (SELECT d1 AS a, d2 AS b FROM jpairs
         |          UNION SELECT d2, d1 FROM jpairs),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach AS (
         |  SELECT n AS a, n AS b FROM nodes
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
         |),
         |root AS (SELECT a AS doc_id, min(b) AS root FROM reach GROUP BY a),
         |cs AS (SELECT root, count(*) AS k FROM root GROUP BY root),
         |hist AS (SELECT k AS cluster_size, count(*) AS n_clusters,
         |         CAST(k * count(*) AS BIGINT) AS n_docs FROM cs GROUP BY k),
         |nd AS (SELECT count(*) AS nd FROM documents),
         |ncl AS (SELECT count(*) AS nc FROM root),
         |single AS (SELECT CAST(1 AS BIGINT) AS cluster_size,
         |  CAST(nd.nd - ncl.nc AS BIGINT) AS n_clusters,
         |  CAST(nd.nd - ncl.nc AS BIGINT) AS n_docs FROM nd, ncl),
         |u AS (SELECT * FROM hist UNION ALL SELECT * FROM single)
         |SELECT cluster_size, CAST(n_clusters AS BIGINT) AS n_clusters,
         |  CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_docs * 1000 // (SELECT nd FROM nd) AS BIGINT)
         |    AS docs_milli
         |FROM u ORDER BY cluster_size""".stripMargin) { (s, d) =>
      // The dup-mass profile — the cluster-SIZE distribution of the
      // near-dup graph (how many pairs, triples, ... giant
      // components, plus the singleton mass), per-mille of corpus
      // docs. This is the audit that catches transitive-closure
      // blow-up before q55 deletes by it: a healthy corpus shows a
      // fast-decaying histogram; a fat tail (one giant component
      // swallowing percent-level doc mass) means the J >= 0.6
      // threshold is chaining through hubs and the dedup policy
      // needs q135's chain audit before committing deletes. Rides
      // the memoized component labels; the census itself is two
      // keyed counts over label rows plus one corpus count — nothing
      // corpus-quadratic, nothing resorted.
      val lbl = clusterLabels(s, d)
      val cs = lbl.groupBy(col("label")).agg(count(lit(1)).as("k"))
      val hist = cs.groupBy(col("k")).agg(count(lit(1)).as("n_clusters"))
        .select(col("k").as("cluster_size"), col("n_clusters"),
          (col("k") * col("n_clusters")).as("n_docs"))
      val nd = documents(s, d).agg(count(lit(1)).as("nd"))
      val ncl = lbl.agg(count(lit(1)).as("nc"))
      val single = nd.crossJoin(ncl)
        .select(lit(1L).as("cluster_size"),
          (col("nd") - col("nc")).as("n_clusters"),
          (col("nd") - col("nc")).as("n_docs"))
      hist.unionAll(single).crossJoin(broadcast(nd))
        .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
          expr("n_docs * 1000 DIV nd").as("docs_milli"))
        .orderBy(col("cluster_size"))
    },

    QueryDef(
      "q55_canonical_docs",
      s"""WITH RECURSIVE shingles AS ($shinglesSql),
         |$jaccardPairsSql,
         |edges AS (SELECT d1 AS a, d2 AS b FROM jpairs
         |          UNION SELECT d2, d1 FROM jpairs),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach AS (
         |  SELECT n AS a, n AS b FROM nodes
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
         |),
         |root AS (SELECT a AS doc_id, min(b) AS root FROM reach GROUP BY a),
         |$qualityScoresSql,
         |ranked AS (SELECT root.root, root.doc_id, qual.q,
         |    row_number() OVER (PARTITION BY root.root
         |                       ORDER BY qual.q DESC, root.doc_id) AS rn
         |  FROM root JOIN qual ON qual.doc_id = root.doc_id)
         |SELECT root, doc_id AS keep_doc_id, q AS keep_quality_4,
         |  (SELECT count(*) FROM root r2 WHERE r2.root = ranked.root)
         |    AS cluster_size
         |FROM ranked WHERE rn = 1 ORDER BY root""".stripMargin) { (s, d) =>
      // The dedup pipeline end-product: for every near-dup cluster,
      // keep the highest-quality member (q22 score, doc_id tiebreak) —
      // cluster assignment and quality compose as two keyed joins.
      import org.apache.spark.sql.expressions.Window
      val labels = clusterLabels(s, d)
      val sizes = labels.groupBy(col("label"))
        .agg(count(lit(1)).as("cluster_size"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("q").desc, col("node"))
      labels
        .join(qualityScores(s, d), labels("node") === col("doc_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(sizes, "label")
        .select(col("label").as("root"), col("doc_id").as("keep_doc_id"),
          col("q").as("keep_quality_4"), col("cluster_size"))
        .orderBy(col("root"))
    },

    QueryDef(
      "q60_decontamination",
      s"""WITH RECURSIVE shingles AS ($shinglesSql),
         |$jaccardPairsSql,
         |bk AS (SELECT doc_id,
         |    (${h32Sql("CAST(doc_id AS VARCHAR)")}) % 100 < 80 AS is_train
         |  FROM documents)
         |SELECT CASE WHEN a.is_train THEN d2 ELSE d1 END AS eval_doc,
         |       CASE WHEN a.is_train THEN d1 ELSE d2 END AS train_doc,
         |       CAST(floor(inter * 10000.0 / (na + nb - inter)) AS BIGINT)
         |         AS jaccard_4
         |FROM jpairs JOIN bk a ON a.doc_id = d1 JOIN bk b ON b.doc_id = d2
         |WHERE a.is_train <> b.is_train
         |ORDER BY eval_doc, train_doc""".stripMargin) { (s, d) =>
      // eval-set decontamination: a near-dup pair that straddles the
      // q46 train/eval split boundary means the eval doc leaks
      // training data — the canonical pre-training hygiene check,
      // expressed as the memoized pair graph joined twice against the
      // (broadcastable) per-doc split assignment
      graft.cdc.GraftFunctions.register(s)
      // materialized once: both broadcast sides read the same cached
      // split assignment instead of re-scanning + re-hashing documents
      val bk = documents(s, d).select(col("doc_id"),
        (graft.cdc.GraftFunctions.md5_h32(col("doc_id").cast("string"))
          % 100 < 80).as("is_train")).tcache()
      jaccardPairs(s, d)
        .join(broadcast(bk.select(col("doc_id").as("d1"),
          col("is_train").as("t1"))), "d1")
        .join(broadcast(bk.select(col("doc_id").as("d2"),
          col("is_train").as("t2"))), "d2")
        .filter(col("t1") =!= col("t2"))
        .select(
          when(col("t1"), col("d2")).otherwise(col("d1")).as("eval_doc"),
          when(col("t1"), col("d1")).otherwise(col("d2")).as("train_doc"),
          floor(col("inter") * 10000.0 / (col("na") + col("nb") - col("inter")))
            .cast("long").as("jaccard_4"))
        .orderBy(col("eval_doc"), col("train_doc"))
    },

    QueryDef(
      "q62_stratified_sample",
      s"""WITH cnt AS (SELECT lang, count(*) AS n_total
         |             FROM documents GROUP BY lang),
         |rates AS (SELECT lang, n_total,
         |    (SELECT min(n_total) FROM cnt) * 1000 // n_total AS rate_milli
         |  FROM cnt),
         |hashed AS (SELECT lang,
         |    (${h32Sql("CAST(doc_id AS VARCHAR)")}) % 1000 AS h
         |  FROM documents)
         |SELECT r.lang, r.n_total, r.rate_milli,
         |  count(*) FILTER (h.h < r.rate_milli) AS n_sampled
         |FROM rates r JOIN hashed h ON h.lang = r.lang
         |GROUP BY r.lang, r.n_total, r.rate_milli
         |ORDER BY r.lang""".stripMargin) { (s, d) =>
      // deterministic stratified downsampling: each stratum keeps docs
      // whose doc_id hash falls under a per-stratum rate targeting the
      // smallest stratum's size — balanced classes with no RNG, no
      // global sort, stable under re-runs/repartitioning. Two keyed
      // aggregations + a broadcast of the per-stratum rates; the
      // hash gate itself is a pure map-side filter at any scale.
      graft.cdc.GraftFunctions.register(s)
      val cnt = documents(s, d).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"))
      // scalar min via a 1-row broadcast cross join, not min() OVER ():
      // an unpartitioned window collapses the rates table to a single
      // partition (WindowExec warns) — harmless on one row per stratum,
      // wrong shape on a wide stratum space
      val minTotal = cnt.agg(min(col("n_total")).as("min_total"))
      val rates = cnt.crossJoin(broadcast(minTotal))
        .withColumn("rate_milli", expr("min_total * 1000 DIV n_total"))
        .drop("min_total")
      val hashed = documents(s, d).select(col("lang"),
        (graft.cdc.GraftFunctions.md5_h32(col("doc_id").cast("string"))
          % 1000).as("h"))
      hashed.join(broadcast(rates), "lang")
        .groupBy(col("lang"), col("n_total"), col("rate_milli"))
        .agg(count(when(col("h") < col("rate_milli"), 1)).as("n_sampled"))
        .orderBy(col("lang"))
    },

    QueryDef(
      "q66_sequence_packing",
      s"""WITH base AS (SELECT lang, doc_id, len($toksSql) AS n_toks
         |              FROM documents),
         |cum AS (SELECT lang, doc_id, n_toks,
         |    coalesce(sum(n_toks) OVER (PARTITION BY lang
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS before
         |  FROM base WHERE n_toks > 0)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         |  (CAST(sum(n_toks) AS BIGINT) + 2047) // 2048 AS n_blocks,
         |  CAST(sum(CASE WHEN before // 2048 <>
         |        (before + n_toks - 1) // 2048 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_straddling
         |FROM cum GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      // sequence-packing layout (LM pretraining style): per-language
      // token streams concatenated in doc_id order and sliced into
      // 2048-token blocks; a doc straddles when its span crosses a
      // block boundary. One window cumsum per language partition plus
      // a keyed aggregation — integer arithmetic end to end.
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      withToks(s, d)
        .select(col("lang"), col("doc_id"),
          size(col("toks")).cast("long").as("n_toks"))
        .filter(col("n_toks") > 0)
        .withColumn("before", coalesce(sum(col("n_toks")).over(w), lit(0L)))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          expr("(sum(n_toks) + 2047) DIV 2048").as("n_blocks"),
          sum(when(expr("before DIV 2048") =!=
            expr("(before + n_toks - 1) DIV 2048"), 1L).otherwise(0L))
            .as("n_straddling"))
        .orderBy(col("lang"))
    },

    QueryDef(
      "q56_retention_cohorts",
      """WITH uw AS (SELECT DISTINCT user_id,
        |    epoch(date_trunc('second', ts))::BIGINT // 604800 AS week
        |  FROM events),
        |first AS (SELECT user_id, min(week) AS cohort_week
        |          FROM uw GROUP BY user_id)
        |SELECT f.cohort_week, uw.week - f.cohort_week AS week_offset,
        |  count(DISTINCT uw.user_id) AS n_users
        |FROM uw JOIN first f ON f.user_id = uw.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // classic cohort retention: users bucketed by first-seen week,
      // activity counted per week offset — two keyed aggregations and
      // one equi-join, all integer arithmetic (epoch weeks)
      val uw = events(s, d)
        .select(col("user_id"), expr("ts_sec DIV 604800").as("week"))
        .distinct()
      val first = uw.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      uw.join(first, "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },

    QueryDef(
      "q46_hash_split",
      s"""SELECT CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         |  count(DISTINCT lang) AS n_langs
         |FROM (SELECT lang, len($toksSql) AS n_toks,
         |        (${h32Sql("CAST(doc_id AS VARCHAR)")}) % 100 AS bucket
         |      FROM documents)
         |GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      documents(s, d)
        .select(col("lang"),
          size(Text.toksCol).cast("long").as("n_toks"),
          (graft.cdc.GraftFunctions.md5_h32(col("doc_id").cast("string"))
            % 100).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy(col("split"))
    },

    QueryDef(
      "q47_top_terms_per_lang",
      s"""WITH tok AS (SELECT lang, doc_id, unnest($toksSql) AS term
         |             FROM documents),
         |tf AS (SELECT lang, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |n AS (SELECT count(*) AS n_total FROM documents),
         |scored AS (SELECT lang, term, tf, df,
         |    tf * n_total * 1000000 // df AS score
         |  FROM tf JOIN df USING (term) CROSS JOIN n)
         |SELECT lang, rn, term, tf, df, score FROM (
         |  SELECT lang, term, tf, df, score, row_number() OVER (
         |    PARTITION BY lang ORDER BY score DESC, term) AS rn FROM scored)
         |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin) { (s, d) =>
      // Integer-scaled tf-idf surrogate tf·N·10^6 ÷ df: rare terms with
      // high in-language frequency rank first, with no transcendental
      // function in the score (ln() is not bit-identical across
      // engines; an integer ratio is).
      // both aggregations re-shape the shared term-frequency index:
      // per-(lang, term) totals sum the per-doc tfs, and df counts the
      // index's keys (one row per doc containing the term)
      val idx = Text.docTermFreq(s, d)
      val tf = idx.groupBy(col("lang"), col("tok").as("term"))
        .agg(sum(col("tf")).as("tf"))
      val dfreq = idx.groupBy(col("tok").as("term"))
        .agg(count(lit(1)).as("df"))
      val nTotal = documents(s, d).agg(count(lit(1)).as("n_total"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("score").desc, col("term"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(nTotal))
        .withColumn("score", expr("tf * n_total * 1000000 DIV df"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("rn"), col("term"), col("tf"), col("df"),
          col("score"))
        .orderBy(col("lang"), col("rn"))
    },

    QueryDef(
      "q48_token_percentiles",
      s"""WITH base AS (SELECT lang, doc_id, len($toksSql) AS n_toks
         |              FROM documents),
         |ranked AS (SELECT lang, n_toks,
         |    row_number() OVER (PARTITION BY lang
         |                       ORDER BY n_toks, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM base)
         |SELECT lang, count(*) AS n_docs,
         |  avg(CASE WHEN rn = (n + 1) // 2 OR rn = (n + 2) // 2
         |           THEN n_toks END) AS median_tokens,
         |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN n_toks END)
         |    AS p90_tokens
         |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      // Exact discrete percentiles from the rank formula — the mean of
      // the one or two middle integers (an exact 0.5-lattice double)
      // and the ceil(0.9·n)-th value; no interpolation semantics to
      // disagree on.
      val base = withToks(s, d)
        .select(col("lang"), col("doc_id"),
          size(col("toks")).cast("long").as("n_toks"))
      val w = Window.partitionBy(col("lang")).orderBy(col("n_toks"), col("doc_id"))
      val wn = Window.partitionBy(col("lang"))
      base
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          avg(when(col("rn") === expr("(n + 1) DIV 2") ||
            col("rn") === expr("(n + 2) DIV 2"), col("n_toks")))
            .as("median_tokens"),
          max(when(col("rn") === expr("(9 * n + 9) DIV 10"), col("n_toks")))
            .as("p90_tokens"))
        .orderBy(col("lang"))
    },

    QueryDef(
      "q113_weighted_percentiles",
      s"""WITH base AS (SELECT lang, doc_id, len($toksSql) AS n_toks
         |              FROM documents),
         |c AS (SELECT lang, n_toks,
         |    sum(n_toks) OVER (PARTITION BY lang
         |      ORDER BY n_toks, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum,
         |    sum(n_toks) OVER (PARTITION BY lang) AS total
         |  FROM base)
         |SELECT lang, CAST(max(total) AS BIGINT) AS total_tokens,
         |  min(CASE WHEN 2 * cum >= total THEN n_toks END)
         |    AS wmedian_tokens,
         |  min(CASE WHEN 10 * cum >= 9 * total THEN n_toks END)
         |    AS wp90_tokens
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      // TOKEN-weighted percentiles — the batch-packing planner's
      // view of length: the doc length below which half (90%) of the
      // corpus TOKENS sit, not half the documents (q48's unweighted
      // median ignores that a 4096-token doc costs 100x a 40-token
      // one). Exact integer definition: the smallest length whose
      // cumulative token mass reaches the threshold, over the total
      // order (n_toks, doc_id) — no interpolation, engine-identical.
      // The cumsum window partitions by lang (PlanGuard: never
      // unpartitioned) and each partition reduces to 3 numbers.
      val base = withToks(s, d)
        .select(col("lang"), col("doc_id"),
          size(col("toks")).cast("long").as("n_toks"))
      val wc = Window.partitionBy(col("lang"))
        .orderBy(col("n_toks"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy(col("lang"))
      base
        .withColumn("cum", sum(col("n_toks")).over(wc))
        .withColumn("total", sum(col("n_toks")).over(wt))
        .groupBy(col("lang"))
        .agg(max(col("total")).cast("long").as("total_tokens"),
          min(when(col("cum") * 2 >= col("total"), col("n_toks")))
            .as("wmedian_tokens"),
          min(when(col("cum") * 10 >= col("total") * 9, col("n_toks")))
            .as("wp90_tokens"))
        .orderBy(col("lang"))
    },

    QueryDef(
      "q102_cc_star",
      s"""WITH RECURSIVE shingles AS ($shinglesSql),
         |$jaccardPairsSql,
         |edges AS (SELECT d1 AS a, d2 AS b FROM jpairs
         |          UNION SELECT d2, d1 FROM jpairs),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach AS (
         |  SELECT n AS a, n AS b FROM nodes
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
         |),
         |root AS (SELECT a AS doc_id, min(b) AS root FROM reach GROUP BY a)
         |SELECT root, count(*) AS cluster_size, max(doc_id) AS max_doc
         |FROM root GROUP BY root ORDER BY root""".stripMargin) { (s, d) =>
      // Connected components via alternating large-star/small-star
      // contraction (Kiveris et al., "Connected Components in
      // MapReduce and Beyond") — the 100 TB-scale path q45's comments
      // point at. Min-label propagation (q45) needs O(diameter)
      // rounds, which a chain-shaped giant component turns into
      // hundreds of shuffles; star contraction halves component
      // height per round (O(log n) rounds on ANY topology) and every
      // round is two keyed join+agg passes — no per-node neighbor
      // lists materialized, so a 10^9-degree hub never concentrates
      // on one task beyond its own edge partition. Both algorithms
      // converge to the same min-rooted stars, so this query shares
      // q45's recursive-closure oracle verbatim: the driver
      // hash-matching BOTH queries proves the scale algorithm is
      // output-identical to the simple one.
      starComponents(s, d)
        .groupBy(col("label").as("root"))
        .agg(count(lit(1)).as("cluster_size"), max(col("node")).as("max_doc"))
        .orderBy(col("root"))
    },

    QueryDef(
      "q164_incremental_components",
      s"""WITH RECURSIVE shingles AS ($shinglesSql),
         |$jaccardPairsSql,
         |edges AS (SELECT d1 AS a, d2 AS b FROM jpairs
         |          UNION SELECT d2, d1 FROM jpairs),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach AS (
         |  SELECT n AS a, n AS b FROM nodes
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
         |),
         |root AS (SELECT a AS doc_id, min(b) AS root FROM reach GROUP BY a)
         |SELECT root, count(*) AS cluster_size, max(doc_id) AS max_doc
         |FROM root GROUP BY root ORDER BY root""".stripMargin) { (s, d) =>
      // INCREMENTAL component maintenance — the production shape:
      // a standing corpus already has its components; a new ingest
      // batch (hash-split 20% here, same lattice as q131/q144) must
      // merge in WITHOUT recomputing the full graph. The standing
      // subgraph collapses to its contracted star edges (node→label:
      // one edge per non-root member — the component STRUCTURE in
      // O(nodes), not O(edges)); the second contraction runs over
      // those stars plus only the batch-touching edges. At 100 TB
      // the standing near-dup graph's edges never re-enter the
      // shuffle — work scales with the batch and the component
      // count. The oracle is q102's full-graph recursive closure
      // VERBATIM: the driver hash-matching both queries proves
      // incremental merge ≡ batch recompute.
      graft.cdc.GraftFunctions.register(s)
      val h1 = graft.cdc.GraftFunctions.md5_h32(col("d1").cast("string"))
      val h2 = graft.cdc.GraftFunctions.md5_h32(col("d2").cast("string"))
      val batch = jaccardPairs(s, d)
        .filter(!(h1 % 100 < 80 && h2 % 100 < 80))
        .select(col("d1"), col("d2"))
      // the standing subgraph's labels are the memoized standing
      // state (production maintains them at ingest, not per query)
      val labels0 = standingComponents80(s, d)
      val labelEdges = labels0.filter(col("node") =!= col("label"))
        .select(col("node").as("d1"), col("label").as("d2"))
      starContraction(labelEdges.union(batch))
        .groupBy(col("label").as("root"))
        .agg(count(lit(1)).as("cluster_size"), max(col("node")).as("max_doc"))
        .orderBy(col("root"))
    },

    QueryDef(
      "q133_filter_funnel",
      s"""WITH RECURSIVE shingles AS ($shinglesSql),
         |$jaccardPairsSql,
         |edges AS (SELECT d1 AS a, d2 AS b FROM jpairs
         |          UNION SELECT d2, d1 FROM jpairs),
         |fnodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach AS (
         |  SELECT n AS a, n AS b FROM fnodes
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
         |),
         |root AS (SELECT a AS doc_id, min(b) AS root FROM reach GROUP BY a),
         |t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |base AS (SELECT doc_id, lang, len(toks) AS n_toks, toks FROM t),
         |segs AS (SELECT doc_id,
         |    array_to_string(list_slice(toks, i * 10 + 1, i * 10 + 10), ' ')
         |      AS seg
         |  FROM base, UNNEST(range(0, n_toks // 10)) AS u(i)
         |  WHERE n_toks >= 10),
         |sh10 AS (SELECT DISTINCT doc_id, ${h32Sql("seg")} AS h FROM segs),
         |df10 AS (SELECT h, count(*) AS df FROM sh10 GROUP BY h),
         |pd AS (SELECT doc_id, count(*) AS n_segs,
         |    sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup
         |  FROM sh10 JOIN df10 USING (h) GROUP BY doc_id),
         |split AS (SELECT doc_id,
         |    (${h32Sql("CAST(doc_id AS VARCHAR)")}) % 100 < 80 AS is_train
         |  FROM documents),
         |ev_sh AS (SELECT DISTINCT h FROM shingles
         |  JOIN split USING (doc_id) WHERE NOT is_train),
         |cont AS (SELECT s.doc_id, count(*) AS n_sh,
         |    sum(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END) AS n_cont
         |  FROM shingles s LEFT JOIN ev_sh e ON e.h = s.h
         |  GROUP BY s.doc_id),
         |flags AS (SELECT b.doc_id, b.n_toks,
         |    b.lang = 'en' AS s1,
         |    b.n_toks >= 30 AS s2,
         |    (root.root IS NULL OR root.root = b.doc_id) AS s3,
         |    NOT (2 * coalesce(pd.n_dup, 0) > coalesce(pd.n_segs, 0)) AS s4,
         |    coalesce(c.n_cont, 0) * 2 < coalesce(c.n_sh, 1) AS s5
         |  FROM base b
         |  LEFT JOIN pd ON pd.doc_id = b.doc_id
         |  LEFT JOIN root ON root.doc_id = b.doc_id
         |  LEFT JOIN cont c ON c.doc_id = b.doc_id),
         |agg AS (SELECT
         |    count(*) AS d0, sum(n_toks) AS t0,
         |    sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS d1,
         |    sum(CASE WHEN s1 THEN n_toks ELSE 0 END) AS t1,
         |    sum(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) AS d2,
         |    sum(CASE WHEN s1 AND s2 THEN n_toks ELSE 0 END) AS t2,
         |    sum(CASE WHEN s1 AND s2 AND s3 THEN 1 ELSE 0 END) AS d3,
         |    sum(CASE WHEN s1 AND s2 AND s3 THEN n_toks ELSE 0 END) AS t3,
         |    sum(CASE WHEN s1 AND s2 AND s3 AND s4 THEN 1 ELSE 0 END)
         |      AS d4,
         |    sum(CASE WHEN s1 AND s2 AND s3 AND s4 THEN n_toks ELSE 0 END)
         |      AS t4,
         |    sum(CASE WHEN s1 AND s2 AND s3 AND s4 AND s5
         |      THEN 1 ELSE 0 END) AS d5,
         |    sum(CASE WHEN s1 AND s2 AND s3 AND s4 AND s5
         |      THEN n_toks ELSE 0 END) AS t5
         |  FROM flags)
         |SELECT stage, stage_name,
         |  CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_toks AS BIGINT) AS n_toks,
         |  CAST(n_toks * 1000 // t0 AS BIGINT) AS retained_milli
         |FROM (
         |  SELECT 0 AS stage, 'all' AS stage_name, d0 AS n_docs,
         |    t0 AS n_toks, t0 FROM agg
         |  UNION ALL SELECT 1, 'lang_id', d1, t1, t0 FROM agg
         |  UNION ALL SELECT 2, 'quality', d2, t2, t0 FROM agg
         |  UNION ALL SELECT 3, 'near_dedup', d3, t3, t0 FROM agg
         |  UNION ALL SELECT 4, 'seg_dedup', d4, t4, t0 FROM agg
         |  UNION ALL SELECT 5, 'decontam', d5, t5, t0 FROM agg)
         |ORDER BY stage""".stripMargin) { (s, d) =>
      // The pipeline funnel — the flagship filter families composed
      // into the survival report a curator reads before committing a
      // training snapshot: language ID → quality length gate →
      // near-dup canonicalization (keep each Jaccard cluster's
      // minimum member, q45's components) → cross-doc segment dedup
      // (q110/q125's majority-duplicated rule) → eval-set
      // decontamination (drop the held-out split AND any training
      // doc whose shingles are >= 50% contained in it — "don't train
      // on the benchmark", q82's direction reversed to the train
      // side). Per stage: docs/tokens surviving the cumulative AND
      // and tokens retained per mille. Proves the operators compose
      // in ONE plan: the segment-df, cluster-label, and containment
      // tables are the memoized keyed-agg shapes the standalone
      // queries use, joined back per doc; the funnel reduces to a
      // single 1-row aggregate and the 6-stage report is a
      // constant-width stack — at 100 TB one corpus pass, keyed
      // shuffles only, one scalar row out.
      graft.cdc.GraftFunctions.register(s)
      val base = withToks(s, d)
        .select(col("doc_id"), col("lang"), col("toks"),
          size(col("toks")).cast("long").as("n_toks"))
      val sh10 = base.filter(col("n_toks") >= 10)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(toks) DIV 10 - 1), " +
            "i -> md5_h32(concat_ws(' ', slice(toks, i * 10 + 1, 10))))")))
          .as("h"))
      val pd = sh10
        .join(sh10.groupBy(col("h")).agg(count(lit(1)).as("df")), "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_segs"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      val roots = clusterLabels(s, d)
        .select(col("node").as("doc_id"), col("label").as("root"))
      val sh3 = Text.shingleHashes(s, d).select(col("doc_id"), col("h"))
      val isTrain = pmod(graft.cdc.GraftFunctions.md5_h32(
        col("doc_id").cast("string")), lit(100L)) < 80
      val evSh = sh3.filter(!isTrain).select(col("h")).distinct()
      val cont = sh3.join(evSh.withColumn("hit", lit(1L)), Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"),
          sum(coalesce(col("hit"), lit(0L))).as("n_cont"))
      val flags = base
        .join(pd, Seq("doc_id"), "left")
        .join(roots, Seq("doc_id"), "left")
        .join(cont, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_toks"),
          (col("lang") === "en").as("s1"),
          (col("n_toks") >= 30).as("s2"),
          (col("root").isNull || col("root") === col("doc_id")).as("s3"),
          (!(lit(2L) * coalesce(col("n_dup"), lit(0L)) >
            coalesce(col("n_segs"), lit(0L)))).as("s4"),
          (coalesce(col("n_cont"), lit(0L)) * 2L <
            coalesce(col("n_sh"), lit(1L))).as("s5"))
      def cum(k: Int): Column =
        Seq("s1", "s2", "s3", "s4", "s5").take(k)
          .map(col).foldLeft(lit(true))(_ && _)
      val agg = flags.agg(
        count(lit(1)).as("d0"), sum(col("n_toks")).as("t0"),
        sum(when(cum(1), 1L).otherwise(0L)).as("d1"),
        sum(when(cum(1), col("n_toks")).otherwise(0L)).as("t1"),
        sum(when(cum(2), 1L).otherwise(0L)).as("d2"),
        sum(when(cum(2), col("n_toks")).otherwise(0L)).as("t2"),
        sum(when(cum(3), 1L).otherwise(0L)).as("d3"),
        sum(when(cum(3), col("n_toks")).otherwise(0L)).as("t3"),
        sum(when(cum(4), 1L).otherwise(0L)).as("d4"),
        sum(when(cum(4), col("n_toks")).otherwise(0L)).as("t4"),
        sum(when(cum(5), 1L).otherwise(0L)).as("d5"),
        sum(when(cum(5), col("n_toks")).otherwise(0L)).as("t5"))
      agg.select(expr(
          "stack(6, " +
            "0L, 'all', d0, t0, " +
            "1L, 'lang_id', d1, t1, " +
            "2L, 'quality', d2, t2, " +
            "3L, 'near_dedup', d3, t3, " +
            "4L, 'seg_dedup', d4, t4, " +
            "5L, 'decontam', d5, t5) " +
            "AS (stage, stage_name, n_docs, n_toks)"),
          col("t0"))
        .select(col("stage"), col("stage_name"),
          col("n_docs").cast("long").as("n_docs"),
          col("n_toks").cast("long").as("n_toks"),
          expr("n_toks * 1000 DIV t0").as("retained_milli"))
        .orderBy(col("stage"))
    },

    QueryDef(
      "q135_cluster_chain_audit",
      s"""WITH RECURSIVE shingles AS ($shinglesSql),
         |$jaccardPairsSql,
         |edges AS (SELECT d1 AS a, d2 AS b FROM jpairs
         |          UNION SELECT d2, d1 FROM jpairs),
         |cnodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach AS (
         |  SELECT n AS a, n AS b FROM cnodes
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
         |),
         |root AS (SELECT a AS doc_id, min(b) AS root FROM reach GROUP BY a),
         |szs AS (SELECT root, count(*) AS csize FROM root GROUP BY root),
         |mpairs AS (SELECT a.root, a.doc_id AS d1, b.doc_id AS d2
         |  FROM root a JOIN root b
         |    ON a.root = b.root AND a.doc_id < b.doc_id),
         |pint AS (SELECT p.root, p.d1, p.d2, sa.n AS na, sb.n AS nb,
         |    count(*) AS inter
         |  FROM mpairs p
         |  JOIN sn sa ON sa.doc_id = p.d1
         |  JOIN sn sb ON sb.doc_id = p.d2 AND sb.h = sa.h
         |  GROUP BY 1, 2, 3, 4, 5),
         |pj AS (SELECT p.root,
         |    coalesce(CAST(floor(i.inter * 10000.0
         |      / (i.na + i.nb - i.inter)) AS BIGINT), 0) AS j4
         |  FROM mpairs p LEFT JOIN pint i
         |    ON i.root = p.root AND i.d1 = p.d1 AND i.d2 = p.d2),
         |agg AS (SELECT root, count(*) AS n_pairs, min(j4) AS min_pair_j4
         |  FROM pj GROUP BY root)
         |SELECT s.root, CAST(s.csize AS BIGINT) AS cluster_size,
         |  CAST(a.n_pairs AS BIGINT) AS n_pairs,
         |  CAST(a.min_pair_j4 AS BIGINT) AS min_pair_j4,
         |  a.min_pair_j4 < 6000 AS chained
         |FROM szs s JOIN agg a ON a.root = s.root
         |ORDER BY s.root""".stripMargin) { (s, d) =>
      // Transitive-closure chaining audit — the known dedup-cluster
      // pathology: components are built from pairwise J >= 0.6 edges,
      // but A~B~C chains can pull in member pairs with Jaccard far
      // below the threshold, silently over-merging (and q55 then
      // deletes docs that are NOT near-dups of the kept canonical).
      // For every cluster: all member pairs' exact Jaccard (pairs
      // with no shared shingle score 0 via the left join), the
      // minimum, and a chained flag when it undercuts the edge
      // threshold. Pair fan-out is size²/2 per cluster — near-dup
      // clusters are shallow (2-4 members); at corpus scale cap the
      // audit to clusters under a size bound and sample the giants
      // (the giants are precisely the chained ones). All joins keyed
      // on root / doc / shingle hash; the intersection count is the
      // same two-keyed-join shape as q131's probe.
      val roots = clusterLabels(s, d)
        .select(col("node").as("doc_id"), col("label").as("root"))
      val szs = roots.groupBy(col("root")).agg(count(lit(1)).as("csize"))
      val a = roots.select(col("root"), col("doc_id").as("d1"))
      val b = roots.select(col("root"), col("doc_id").as("d2"))
      val mpairs = a.join(b, Seq("root"))
        .filter(col("d1") < col("d2"))
      val sh = Text.shingleHashes(s, d)
      val sa = sh.select(col("doc_id").as("d1"), col("h"), col("n").as("na"))
      val sb = sh.select(col("doc_id").as("d2"), col("h"), col("n").as("nb"))
      val pint = mpairs.join(sa, "d1").join(sb, Seq("d2", "h"))
        .groupBy(col("root"), col("d1"), col("d2"), col("na"), col("nb"))
        .agg(count(lit(1)).as("inter"))
        .select(col("root"), col("d1"), col("d2"),
          floor(col("inter") * 10000.0 /
            (col("na") + col("nb") - col("inter")))
            .cast("long").as("j4"))
      val agg = mpairs.join(pint, Seq("root", "d1", "d2"), "left")
        .select(col("root"), coalesce(col("j4"), lit(0L)).as("j4"))
        .groupBy(col("root"))
        .agg(count(lit(1)).as("n_pairs"), min(col("j4")).as("min_pair_j4"))
      szs.join(agg, "root")
        .select(col("root"), col("csize").cast("long").as("cluster_size"),
          col("n_pairs").cast("long").as("n_pairs"),
          col("min_pair_j4"),
          (col("min_pair_j4") < 6000L).as("chained"))
        .orderBy(col("root"))
    },

    QueryDef(
      "q138_source_quota",
      s"""WITH ${Text.qualityScoresSql},
         |toks AS (SELECT doc_id, CAST(len(${Text.toksSql}) AS BIGINT)
         |           AS n_toks FROM documents),
         |ranked AS (SELECT d.source, t.n_toks,
         |    row_number() OVER (PARTITION BY d.source
         |      ORDER BY q.q DESC, d.doc_id) AS rk
         |  FROM documents d
         |  JOIN qual q ON q.doc_id = d.doc_id
         |  JOIN toks t ON t.doc_id = d.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN rk <= 15 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(sum(CASE WHEN rk <= 15 THEN n_toks ELSE 0 END) AS BIGINT)
         |    AS kept_tokens,
         |  CAST(sum(CASE WHEN rk > 15 THEN n_toks ELSE 0 END) AS BIGINT)
         |    AS dropped_tokens
         |FROM ranked GROUP BY source ORDER BY source""".stripMargin) {
      (s, d) =>
      // Per-source quota capping — the domain-cap pass of a web-scale
      // pipeline (keep the best K documents per source/domain so no
      // single crawl host dominates the mixture). Rank docs by the
      // shared q22 quality score WITHIN each source — a partitioned
      // window (source is the partition key, so no single-task
      // bottleneck; skewed mega-domains stay one partition each,
      // which is exactly the cardinality a rank-then-cap needs) —
      // then aggregate kept/dropped token mass per source. At 100 TB
      // the rank+filter half is eligible for WindowGroupLimit
      // pushdown when only kept rows are needed; here both sides of
      // the cap feed the report, so the full rank is the work item.
      val w = Window.partitionBy(col("source"))
        .orderBy(col("q").desc, col("doc_id"))
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(Text.qualityScores(s, d), "doc_id")
        .join(Text.withToks(s, d).select(col("doc_id"),
          size(col("toks")).cast("long").as("n_toks")), "doc_id")
        .withColumn("rk", row_number().over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rk") <= 15, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rk") <= 15, col("n_toks")).otherwise(0L))
            .as("kept_tokens"),
          sum(when(col("rk") > 15, col("n_toks")).otherwise(0L))
            .as("dropped_tokens"))
        .orderBy(col("source"))
    },

    QueryDef(
      "q139_overlap_chunking",
      s"""WITH t AS (SELECT doc_id, lang,
         |    CAST(len(${Text.toksSql}) AS BIGINT) AS n FROM documents),
         |c AS (SELECT lang, n,
         |    CASE WHEN n <= 64 THEN 1
         |         ELSE 1 + (n - 64 + 47) // 48 END AS n_chunks
         |  FROM t WHERE n > 0),
         |e AS (SELECT lang, n,
         |    unnest(generate_series(0, n_chunks - 1)) AS i FROM c)
         |SELECT lang,
         |  CAST(sum(CASE WHEN i = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs,
         |  count(*) AS n_chunks,
         |  CAST(sum(least(64, n - i * 48)) AS BIGINT) AS chunk_tokens,
         |  CAST(sum(least(64, n - i * 48))
         |    - sum(CASE WHEN i = 0 THEN n ELSE 0 END) AS BIGINT)
         |    AS overlap_tokens
         |FROM e GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      // Sliding-window chunking — the context-length segmentation pass
      // (RAG indexing / long-doc training): windows of 64 tokens at
      // stride 48 (16-token overlap), final partial window kept. The
      // chunk COUNT is closed-form per doc, so the explode is a
      // map-side sequence() over an integer range — no window
      // function, no shuffle until the per-lang rollup; chunk row
      // volume is ~n/48 per doc, the same linear blow-up the real
      // chunk materialization would pay. Per-doc totals ride along on
      // the i=0 row instead of a second aggregation pass.
      Text.withToks(s, d)
        .select(col("lang"), size(col("toks")).cast("long").as("n"))
        .filter(col("n") > 0)
        .withColumn("n_chunks", when(col("n") <= 64, 1L)
          .otherwise(expr("1 + (n - 64 + 47) DIV 48")))
        .select(col("lang"), col("n"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("i"))
        .groupBy(col("lang"))
        .agg(sum(when(col("i") === 0L, 1L).otherwise(0L)).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(least(lit(64L), col("n") - col("i") * 48L))
            .as("chunk_tokens"),
          (sum(least(lit(64L), col("n") - col("i") * 48L))
            - sum(when(col("i") === 0L, col("n")).otherwise(0L)))
            .as("overlap_tokens"))
        .orderBy(col("lang"))
    },

    QueryDef(
      "q143_quality_dup_calibration",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |fp AS (SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp
         |  FROM t WHERE len(toks) > 0),
         |dup AS (SELECT fp, count(*) AS n FROM fp GROUP BY fp),
         |$qualityScoresSql,
         |j AS (SELECT qual.q // 1000 AS bucket,
         |    CASE WHEN dup.n > 1 THEN 1 ELSE 0 END AS is_dup
         |  FROM qual JOIN fp ON fp.doc_id = qual.doc_id
         |  JOIN dup ON dup.fp = fp.fp)
         |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
         |  CAST(sum(is_dup) AS BIGINT) AS n_dups,
         |  CAST(sum(is_dup) * 1000000 // count(*) AS BIGINT) AS dup_ppm
         |FROM j GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      // Calibration audit for the dedup↔quality interaction: does the
      // quality filter already remove the duplicated mass, or do the
      // two passes prune disjoint sets? Buckets are FIXED-WIDTH slices
      // of the q22 score (q DIV 1000 over the 0..10000 lattice), not
      // ntile deciles — deciles need a global sort rank; fixed cutoffs
      // are a map-side projection, identical on any cluster size, and
      // comparable across corpus snapshots (a decile edge moves when
      // the distribution does). Dup flags come from the exact-dedup
      // fingerprint: one keyed count per fingerprint joined back —
      // both joins keyed, nothing broadcast-sized required, the
      // output is ≤ 11 rows regardless of corpus size.
      val fp = withToks(s, d).filter(size(col("toks")) > 0)
        .select(col("doc_id"),
          md5(array_join(col("toks"), " ")).as("fp"))
      val dup = fp.groupBy(col("fp")).agg(count(lit(1)).as("n"))
      qualityScores(s, d)
        .select(col("doc_id"), expr("q DIV 1000").as("bucket"))
        .join(fp, "doc_id")
        .join(dup, "fp")
        .select(col("bucket"),
          when(col("n") > 1, 1L).otherwise(0L).as("is_dup"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("is_dup")).cast("long").as("n_dups"),
          expr("sum(is_dup) * 1000000 DIV count(*)").as("dup_ppm"))
        .orderBy(col("bucket"))
    },

    QueryDef(
      "q144_split_leakage",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |fp AS (SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp
         |  FROM t WHERE len(toks) > 0),
         |sp AS (SELECT doc_id,
         |    CASE WHEN b < 80 THEN 'train'
         |         WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |          (${h32Sql("CAST(doc_id AS VARCHAR)")}) % 100 AS b
         |        FROM documents)),
         |j AS (SELECT sp.split, fp.fp FROM fp JOIN sp USING (doc_id)),
         |g AS (SELECT fp, count(*) AS n, count(DISTINCT split) AS ns
         |  FROM j GROUP BY fp)
         |SELECT split, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN g.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS dup_docs,
         |  CAST(sum(CASE WHEN g.ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS leaked_docs,
         |  CAST(sum(CASE WHEN g.ns > 1 THEN 1 ELSE 0 END) * 1000000
         |    // count(*) AS BIGINT) AS leak_ppm
         |FROM j JOIN g USING (fp) GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
      // Split-contamination audit: exact duplicates that straddle the
      // q46 train/val/test hash split leak training text into eval —
      // the failure n-gram decontamination (q60/q82) checks for EVAL
      // SETS but nobody re-checks for the corpus's own held-out split.
      // Dedup-by-fingerprint then split-by-doc_id-hash are independent
      // functions, so duplicate groups scatter across splits unless a
      // canonical pass (q55) ran first; this measures how much. Shape:
      // one keyed fingerprint agg (count + distinct-split count, both
      // in the same pass), one keyed join back, 3 output rows. The
      // split assignment is the same md5_h32 lattice as q46 — pure
      // map-side, no sampling, stable under repartitioning.
      graft.cdc.GraftFunctions.register(s)
      val fp = withToks(s, d).filter(size(col("toks")) > 0)
        .select(col("doc_id"),
          md5(array_join(col("toks"), " ")).as("fp"))
      val sp = documents(s, d).select(col("doc_id"),
        (graft.cdc.GraftFunctions.md5_h32(col("doc_id").cast("string"))
          % 100).as("b"))
        .select(col("doc_id"),
          when(col("b") < 80, "train").when(col("b") < 90, "val")
            .otherwise("test").as("split"))
      val j = fp.join(sp, "doc_id").select(col("split"), col("fp"))
      val g = j.groupBy(col("fp"))
        .agg(count(lit(1)).as("n"), countDistinct(col("split")).as("ns"))
      j.join(g, "fp")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n") > 1, 1L).otherwise(0L)).cast("long")
            .as("dup_docs"),
          sum(when(col("ns") > 1, 1L).otherwise(0L)).cast("long")
            .as("leaked_docs"),
          expr("sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) * 1000000" +
            " DIV count(*)").as("leak_ppm"))
        .orderBy(col("split"))
    },

    QueryDef(
      "q160_triangle_census",
      s"""WITH shingles AS ($shinglesSql),
         |$jaccardPairsSql,
         |e AS (SELECT d1, d2 FROM jpairs),
         |deg AS (SELECT n, count(*) AS deg FROM
         |    (SELECT d1 AS n FROM e UNION ALL SELECT d2 FROM e)
         |  GROUP BY n),
         |o AS (SELECT
         |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.d1 < e.d2)
         |         THEN e.d1 ELSE e.d2 END AS src,
         |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.d1 < e.d2)
         |         THEN e.d2 ELSE e.d1 END AS dst
         |  FROM e JOIN deg da ON da.n = e.d1 JOIN deg db ON db.n = e.d2),
         |od AS (SELECT o.src, o.dst, dd.deg AS ddeg
         |  FROM o JOIN deg dd ON dd.n = o.dst),
         |w AS (SELECT a.dst AS b, bb.dst AS c
         |  FROM od a JOIN od bb ON bb.src = a.src
         |   AND (a.ddeg < bb.ddeg OR (a.ddeg = bb.ddeg AND a.dst < bb.dst))),
         |tri AS (SELECT count(*) AS n_triangles
         |  FROM w JOIN od t ON t.src = w.b AND t.dst = w.c),
         |wed AS (SELECT CAST(coalesce(sum(deg * (deg - 1) // 2), 0)
         |    AS BIGINT) AS n_wedges FROM deg)
         |SELECT (SELECT count(*) FROM deg) AS n_nodes,
         |  (SELECT count(*) FROM e) AS n_edges,
         |  n_wedges, n_triangles,
         |  CAST(3000 * n_triangles // greatest(n_wedges, 1) AS BIGINT)
         |    AS transitivity_milli
         |FROM wed, tri""".stripMargin) { (s, d) =>
      // Triangle census of the near-dup graph — the structural audit
      // beside component size (q45/q102) and chain shape (q135): a
      // high transitivity says near-dup clusters are tight copy
      // families (cliques from mirrored documents); a low one with
      // long chains says drift-by-transitivity is gluing unrelated
      // docs. Degree-oriented node-iterator counting (each edge points
      // low-(deg,id) -> high): every triangle is counted exactly once,
      // from its lowest-ordered vertex, and each node's wedge work is
      // C(out-deg, 2) where out-degree is bounded by O(sqrt(edges)) on
      // any graph (arboricity bound) — the property that keeps a 10^9
      // -follower hub from exploding the wedge join at 100 TB. Three
      // keyed joins + one count; no per-node adjacency list ever
      // materializes.
      triangleCensus(jaccardPairs(s, d).select(col("d1"), col("d2")))
    },

    // ---- q235: canonical-document election per near-dup cluster ---
    // The step AFTER clustering that every dedup pipeline runs: each
    // near-dup cluster keeps ONE canonical document (highest q22
    // quality score, lowest doc_id on ties) and drops the rest. The
    // report — cluster root, size, elected doc, its quality, and the
    // drop count — is the curation audit trail for what dedup
    // removed. Scale shape: the memoized component labels join the
    // quality dimension once (both keyed on doc_id), and the election
    // is a rank-1 window per cluster (WindowGroupLimit) — no pass
    // re-touches text or shingles. Oracle: the same recursive-closure
    // clusters + quality CTE, so the driver hash-matching this query
    // proves contraction labels, quality scoring, and the election
    // rule agree end-to-end.
    QueryDef(
      "q235_canonical_doc_election",
      s"""WITH RECURSIVE shingles AS ($shinglesSql),
         |$jaccardPairsSql,
         |edges AS (SELECT d1 AS a, d2 AS b FROM jpairs
         |          UNION SELECT d2, d1 FROM jpairs),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach AS (
         |  SELECT n AS a, n AS b FROM nodes
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
         |),
         |root AS (SELECT a AS doc_id, min(b) AS root FROM reach GROUP BY a),
         |$qualityScoresSql,
         |j AS (SELECT root.root, root.doc_id, qual.q
         |      FROM root JOIN qual ON qual.doc_id = root.doc_id),
         |elect AS (SELECT root, doc_id, q,
         |    row_number() OVER (PARTITION BY root
         |      ORDER BY q DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY root) AS sz
         |  FROM j)
         |SELECT root, CAST(sz AS BIGINT) AS cluster_size,
         |  doc_id AS kept_doc, q AS kept_quality,
         |  CAST(sz - 1 AS BIGINT) AS n_dropped
         |FROM elect WHERE rn = 1 AND sz > 1
         |ORDER BY root""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("root"))
        .orderBy(col("q").desc, col("doc_id"))
      val sz = Window.partitionBy(col("root"))
      clusterLabels(s, d)
        .select(col("node").as("doc_id"), col("label").as("root"))
        .join(qualityScores(s, d), "doc_id")
        .withColumn("rn", row_number().over(w))
        .withColumn("sz", count(lit(1)).over(sz))
        .filter(col("rn") === 1 && col("sz") > 1)
        .select(col("root"), col("sz").cast("long").as("cluster_size"),
          col("doc_id").as("kept_doc"), col("q").as("kept_quality"),
          (col("sz") - 1).cast("long").as("n_dropped"))
        .orderBy(col("root"))
    },

    // ---- q237: leakage-safe split assignment ----------------------
    // q144 MEASURES near-dup leakage across a naive per-doc hash
    // split; this FIXES it: every doc inherits its near-dup cluster
    // ROOT's split (cluster-coherent assignment), so no near-dup
    // pair can ever straddle train/eval. The report proves the
    // invariant in the oracle itself: cross_safe is hash-checked to
    // equal 0 while cross_naive counts the pairs the naive split
    // leaks, plus how many docs moved and the resulting train size.
    // Scale shape: split assignment is one keyed join against the
    // memoized component labels + map-side hash arithmetic; the
    // leakage audit joins the pair graph to the tiny per-doc split
    // table twice — everything keyed on doc_id, outputs one row.
    QueryDef(
      "q237_leakage_safe_splits",
      s"""WITH RECURSIVE shingles AS ($shinglesSql),
         |$jaccardPairsSql,
         |edges AS (SELECT d1 AS a, d2 AS b FROM jpairs
         |          UNION SELECT d2, d1 FROM jpairs),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach AS (
         |  SELECT n AS a, n AS b FROM nodes
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
         |),
         |root AS (SELECT a AS doc_id, min(b) AS root FROM reach GROUP BY a),
         |lab AS (SELECT d.doc_id, coalesce(r.root, d.doc_id) AS root
         |        FROM documents d LEFT JOIN root r ON r.doc_id = d.doc_id),
         |sp AS (SELECT doc_id, root,
         |    (${h32Sql("CAST(doc_id AS VARCHAR)")}) % 10 < 8 AS naive_t,
         |    (${h32Sql("CAST(root AS VARCHAR)")}) % 10 < 8 AS safe_t
         |  FROM lab),
         |px AS (SELECT a.naive_t AS na, b.naive_t AS nb,
         |    a.safe_t AS sa, b.safe_t AS sb
         |  FROM jpairs jp JOIN sp a ON a.doc_id = jp.d1
         |                 JOIN sp b ON b.doc_id = jp.d2)
         |SELECT CAST((SELECT count(*) FROM sp) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN na <> nb THEN 1 ELSE 0 END) AS BIGINT)
         |    AS cross_naive,
         |  CAST(sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT)
         |    AS cross_safe,
         |  CAST((SELECT sum(CASE WHEN naive_t <> safe_t THEN 1 ELSE 0 END)
         |        FROM sp) AS BIGINT) AS n_moved,
         |  CAST((SELECT sum(CASE WHEN safe_t THEN 1 ELSE 0 END) FROM sp)
         |    AS BIGINT) AS n_train_safe
         |FROM px""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      def trainSide(c: org.apache.spark.sql.Column) =
        pmod(graft.cdc.GraftFunctions.md5_h32(c.cast("string")),
          lit(10L)) < 8
      val labels = clusterLabels(s, d)
        .select(col("node").as("doc_id"), col("label"))
      val sp = Tables.documents(s, d).select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("root"))
        .select(col("doc_id"),
          trainSide(col("doc_id")).as("naive_t"),
          trainSide(col("root")).as("safe_t"))
        .tcache() // pair audit reads it twice, doc audit once
      val jp = jaccardPairs(s, d).select(col("d1"), col("d2"))
      val px = jp
        .join(sp.select(col("doc_id").as("d1"), col("naive_t").as("na"),
          col("safe_t").as("sa")), "d1")
        .join(sp.select(col("doc_id").as("d2"), col("naive_t").as("nb"),
          col("safe_t").as("sb")), "d2")
      val pairAgg = px.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("na") =!= col("nb"), 1L).otherwise(0L))
          .as("cross_naive"),
        sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
          .as("cross_safe"))
      val docAgg = sp.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("naive_t") =!= col("safe_t"), 1L).otherwise(0L))
          .as("n_moved"),
        sum(when(col("safe_t"), 1L).otherwise(0L)).as("n_train_safe"))
      pairAgg.crossJoin(broadcast(docAgg))
        .select(col("n_docs"), col("n_pairs"), col("cross_naive"),
          col("cross_safe"), col("n_moved"), col("n_train_safe"))
    },

    // ---- q240: concat-and-chunk sequence packing ------------------
    // THE packing regime LLM pre-training actually uses: concatenate
    // the corpus in a deterministic order and cut fixed
    // C = 512-token context windows at running-offset boundaries;
    // a doc whose [cum−n, cum) span crosses a boundary straddles
    // chunks (its loss window sees a document break). The oracle
    // states the textbook GLOBAL running sum; the engine never sorts
    // or windows globally (PlanGuard): doc offsets build as the q199
    // two-level prefix sum — doc_id-range buckets, a
    // bucket-partitioned cumsum within, bucket totals broadcast
    // theta-summed across — then chunk spans are pure per-row
    // integer math and the report is one keyed agg per source.
    // At 100 TB this is the manifest writer's audit: offsets come
    // from a distributed prefix sum, nothing corpus-sized crosses
    // the driver.
    QueryDef(
      "q241_sequence_packing",
      s"""WITH t AS (SELECT doc_id, source,
         |    len(${Text.toksSql}) AS n
         |  FROM documents),
         |c AS (SELECT doc_id, source, n,
         |    sum(n) OVER (ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t WHERE n >= 1),
         |sp AS (SELECT source, n, (cum - n) // 512 AS fc,
         |              (cum - 1) // 512 AS lc
         |       FROM c)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS toks,
         |  CAST(sum(CASE WHEN lc > fc THEN 1 ELSE 0 END) AS BIGINT)
         |    AS split_docs,
         |  CAST(max(lc - fc + 1) AS BIGINT) AS max_spans,
         |  CAST(sum(CASE WHEN lc > fc THEN 1 ELSE 0 END) * 1000000
         |    // count(*) AS BIGINT) AS split_ppm
         |FROM sp GROUP BY source ORDER BY source""".stripMargin) {
      (s, d) =>
        val t = Text.withToks(s, d)
          .select(col("doc_id"), col("source"),
            size(col("toks")).cast("long").as("n"))
          .filter(col("n") >= 1)
          .withColumn("bucket", expr("doc_id DIV 4096"))
        val wB = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val bt = t.groupBy(col("bucket")).agg(sum(col("n")).as("bc"))
        val bprefix = bt.as("b")
          .join(broadcast(bt.as("lo")),
            col("lo.bucket") < col("b.bucket"), "left")
          .groupBy(col("b.bucket").as("bucket"))
          .agg(coalesce(sum(col("lo.bc")), lit(0L)).as("pfx"))
        t.withColumn("cumIn", sum(col("n")).over(wB))
          .join(broadcast(bprefix), Seq("bucket"))
          .select(col("source"), col("n"),
            (col("pfx") + col("cumIn")).as("cum"))
          .select(col("source"), col("n"),
            expr("(cum - n) DIV 512").as("fc"),
            expr("(cum - 1) DIV 512").as("lc"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n")).as("toks"),
            sum(when(col("lc") > col("fc"), 1L).otherwise(0L))
              .as("split_docs"),
            max(col("lc") - col("fc") + 1).as("max_spans"))
          .select(col("source"), col("n_docs"), col("toks"),
            col("split_docs"), col("max_spans"),
            expr("split_docs * 1000000 DIV n_docs").as("split_ppm"))
          .orderBy(col("source"))
    },

    // ---- q241: padding-waste audit (pad-to-multiple vs packing) ---
    // The counterfactual that justifies q240's packing: batching
    // UNCONCATENATED docs pads each to the next multiple of 64 (the
    // tensor-alignment bucket), wasting pad tokens; packing wastes
    // only the final partial chunk. Per source: real vs padded
    // token mass and waste in ppm — the one-agg audit a pipeline
    // publishes when choosing its batching regime. Pure map-side
    // arithmetic + one keyed agg; exact integers end to end.
    QueryDef(
      "q242_padding_waste",
      s"""WITH t AS (SELECT source, len(${Text.toksSql}) AS n
         |  FROM documents),
         |p AS (SELECT source, n,
         |    ((n + 63) // 64) * 64 AS padded
         |  FROM t WHERE n >= 1)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS toks,
         |  CAST(sum(padded) AS BIGINT) AS padded_toks,
         |  CAST((sum(padded) - sum(n)) * 1000000 // sum(padded)
         |    AS BIGINT) AS waste_ppm
         |FROM p GROUP BY source ORDER BY source""".stripMargin) {
      (s, d) =>
        Text.withToks(s, d)
          .select(col("source"), size(col("toks")).cast("long").as("n"))
          .filter(col("n") >= 1)
          .select(col("source"), col("n"),
            expr("((n + 63) DIV 64) * 64").as("padded"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n")).as("toks"),
            sum(col("padded")).as("padded_toks"))
          .select(col("source"), col("n_docs"), col("toks"),
            col("padded_toks"),
            expr("(padded_toks - toks) * 1000000 DIV padded_toks")
              .as("waste_ppm"))
          .orderBy(col("source"))
    },

    // ---- q243: packing-order sensitivity ablation -----------------
    // Does sorting by length before concat-and-chunk reduce
    // boundary-straddling? The ablation a pipeline runs before
    // pinning its packing order: the same C = 512 chunking under
    // (a) arrival order (doc_id) and (b) length-sorted order
    // (n, doc_id) — short docs pack densely, so (b) usually cuts
    // split docs at the cost of length-correlated batches. One row
    // per strategy. Each arm is the q241 two-level prefix sum; the
    // length arm's buckets are n-ranges (n DIV 64) — a monotone
    // PREFIX of its (n, doc_id) sort order, so bucket order is
    // global order and no global window exists in either arm.
    QueryDef(
      "q243_pack_order_ablation",
      { def arm(name: String, ord: String) =
          s"""SELECT '$name' AS strategy, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN (cum - 1) // 512 > (cum - n) // 512
             |    THEN 1 ELSE 0 END) AS BIGINT) AS split_docs,
             |  CAST(max((cum - 1) // 512 - (cum - n) // 512 + 1)
             |    AS BIGINT) AS max_spans
             |FROM (SELECT n, sum(n) OVER (ORDER BY $ord
             |        ROWS UNBOUNDED PRECEDING) AS cum FROM t)"""
            .stripMargin
        s"""WITH t AS (SELECT doc_id, len(${Text.toksSql}) AS n
           |  FROM documents WHERE len(${Text.toksSql}) >= 1)
           |SELECT * FROM (
           |${arm("arrival", "doc_id")}
           |UNION ALL
           |${arm("length", "n, doc_id")})
           |ORDER BY strategy""".stripMargin
      }) { (s, d) =>
      val t = Text.withToks(s, d)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n"))
        .filter(col("n") >= 1)
      def arm(name: String, bucket: Column, ord: Seq[Column]) = {
        val b = t.withColumn("bucket", bucket)
        val wB = Window.partitionBy(col("bucket")).orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val bt = b.groupBy(col("bucket")).agg(sum(col("n")).as("bc"))
        val bprefix = bt.as("b")
          .join(broadcast(bt.as("lo")),
            col("lo.bucket") < col("b.bucket"), "left")
          .groupBy(col("b.bucket").as("bucket"))
          .agg(coalesce(sum(col("lo.bc")), lit(0L)).as("pfx"))
        b.withColumn("cumIn", sum(col("n")).over(wB))
          .join(broadcast(bprefix), Seq("bucket"))
          .select(col("n"), (col("pfx") + col("cumIn")).as("cum"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(expr("(cum - 1) DIV 512 > (cum - n) DIV 512"),
              1L).otherwise(0L)).as("split_docs"),
            max(expr("(cum - 1) DIV 512 - (cum - n) DIV 512 + 1"))
              .as("max_spans"))
          .select(lit(name).as("strategy"), col("n_docs"),
            col("split_docs"), col("max_spans"))
      }
      arm("arrival", expr("doc_id DIV 4096"), Seq(col("doc_id")))
        .unionAll(arm("length", expr("n DIV 64"),
          Seq(col("n"), col("doc_id"))))
        .orderBy(col("strategy"))
    },

    // ---- q259: per-source dup-inflation census --------------------
    // The budgeting number dedup methodology ends at: per SOURCE, how
    // much of its character mass is redundant — i.e. what the source
    // costs before vs after canonical election (q235's quality-ranked
    // keep). inflation_ppm = 1e6·mass/kept_mass tells a data buyer
    // which feeds are mostly re-prints; dup_mass_ppm is the share of
    // the source's bytes that election drops. A cross-source cluster
    // charges its dropped members to THEIR source while only the
    // canonical's source keeps mass — exactly how the cost lands in
    // training. Plan: memoized component labels + quality join, one
    // per-root WindowGroupLimit election, two keyed aggs by source.
    // Nothing scales past the corpus scan; output is #sources rows.
    QueryDef(
      "q259_dedup_mass_census",
      s"""WITH RECURSIVE shingles AS ($shinglesSql),
         |$jaccardPairsSql,
         |edges AS (SELECT d1 AS a, d2 AS b FROM jpairs
         |          UNION SELECT d2, d1 FROM jpairs),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach AS (
         |  SELECT n AS a, n AS b FROM nodes
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
         |),
         |root AS (SELECT a AS doc_id, min(b) AS root FROM reach GROUP BY a),
         |$qualityScoresSql,
         |lab AS (SELECT d.doc_id, d.source, d.n_chars,
         |    coalesce(r.root, d.doc_id) AS root,
         |    coalesce(q.q, 0) AS q
         |  FROM documents d LEFT JOIN root r ON r.doc_id = d.doc_id
         |                   LEFT JOIN qual q ON q.doc_id = d.doc_id),
         |keep AS (SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (PARTITION BY root
         |      ORDER BY q DESC, doc_id) AS rn FROM lab) WHERE rn = 1)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept,
         |  CAST(sum(n_chars) AS BIGINT) AS mass_chars,
         |  CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN n_chars
         |    ELSE 0 END) AS BIGINT) AS kept_chars,
         |  CAST(1000000 * sum(n_chars)
         |    // greatest(1, sum(CASE WHEN k.doc_id IS NOT NULL
         |      THEN n_chars ELSE 0 END)) AS BIGINT) AS inflation_ppm,
         |  CAST(1000000 * sum(CASE WHEN k.doc_id IS NULL THEN n_chars
         |    ELSE 0 END) // greatest(1, sum(n_chars)) AS BIGINT)
         |    AS dup_mass_ppm
         |FROM lab LEFT JOIN keep k ON k.doc_id = lab.doc_id
         |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val labels = clusterLabels(s, d)
        .select(col("node").as("doc_id"), col("label").as("croot"))
      val lab = documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .join(labels, Seq("doc_id"), "left")
        .join(qualityScores(s, d), Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("n_chars"),
          coalesce(col("croot"), col("doc_id")).as("root"),
          coalesce(col("q"), lit(0L)).as("q"))
        .tcache() // election + census read it
      val keep = lab
        .withColumn("rn", row_number().over(Window.partitionBy(col("root"))
          .orderBy(col("q").desc, col("doc_id"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), lit(1).as("kept"))
      lab.join(keep, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept").isNotNull, 1L).otherwise(0L)).as("n_kept"),
          sum(col("n_chars")).as("mass_chars"),
          sum(when(col("kept").isNotNull, col("n_chars")).otherwise(0L))
            .as("kept_chars"),
          expr("CAST(1000000 * sum(n_chars) DIV greatest(1," +
            " sum(CASE WHEN kept IS NOT NULL THEN n_chars ELSE 0 END))" +
            " AS BIGINT)").as("inflation_ppm"),
          expr("CAST(1000000 * sum(CASE WHEN kept IS NULL THEN n_chars" +
            " ELSE 0 END) DIV greatest(1, sum(n_chars)) AS BIGINT)")
            .as("dup_mass_ppm"))
        .orderBy(col("source"))
    },

    // ---- q284: dup-cluster label consistency census -----------------
    // The batch rationale behind q282's propagation audit: label
    // inheritance over near-dup clusters is only as good as the
    // clusters' internal label agreement. Per cluster SIZE: how many
    // clusters, how many are scorable (>= 2 members carry a trusted
    // label — at sf0.1 the embeddings table covers 2000 of 5000
    // docs), how many scorable clusters are label-UNANIMOUS, and the
    // average majority share in milli (majority count over labeled
    // members, summed then divided — exact integers). Rides the
    // memoized component labels; everything after is keyed counts on
    // cluster-sized relations, never a corpus rescan.
    QueryDef(
      "q284_cluster_label_consistency",
      s"""WITH RECURSIVE shingles AS ($shinglesSql),
         |$jaccardPairsSql,
         |edges AS (SELECT d1 AS a, d2 AS b FROM jpairs
         |          UNION SELECT d2, d1 FROM jpairs),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach AS (
         |  SELECT n AS a, n AS b FROM nodes
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
         |),
         |root AS (SELECT a AS doc_id, min(b) AS root FROM reach GROUP BY a),
         |cs AS (SELECT root, count(*) AS k FROM root GROUP BY root),
         |lbl AS (SELECT r.root, e.label, count(*) AS c
         |  FROM root r JOIN embeddings e ON e.vec_id = r.doc_id
         |  GROUP BY r.root, e.label),
         |agg AS (SELECT root, sum(c) AS n_l, count(*) AS k_labels,
         |          max(c) AS m
         |        FROM lbl GROUP BY root),
         |j AS (SELECT cs.root, cs.k, coalesce(agg.n_l, 0) AS n_l,
         |        coalesce(agg.k_labels, 0) AS k_labels,
         |        coalesce(agg.m, 0) AS m
         |      FROM cs LEFT JOIN agg ON agg.root = cs.root)
         |SELECT CAST(k AS BIGINT) AS cluster_size,
         |  count(*) AS n_clusters,
         |  CAST(sum(CASE WHEN n_l >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_scorable,
         |  CAST(sum(CASE WHEN n_l >= 2 AND k_labels = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_unanimous,
         |  CAST(sum(CASE WHEN n_l >= 2 THEN m * 1000 // n_l ELSE 0 END)
         |    // greatest(1, sum(CASE WHEN n_l >= 2 THEN 1 ELSE 0 END))
         |    AS BIGINT) AS maj_milli_avg
         |FROM j GROUP BY k ORDER BY cluster_size""".stripMargin) { (s, d) =>
      val lbl = clusterLabels(s, d)
        .select(col("node").as("doc_id"), col("label").as("root"))
        .tcache() // sizes + label rollup share it
      val cs = lbl.groupBy(col("root")).agg(count(lit(1)).as("k"))
      val byLabel = lbl
        .join(Tables.embeddings(s, d)
          .select(col("vec_id").as("doc_id"), col("label")), "doc_id")
        .groupBy(col("root"), col("label")).agg(count(lit(1)).as("c"))
      val agg = byLabel.groupBy(col("root"))
        .agg(sum(col("c")).as("n_l"), count(lit(1)).as("k_labels"),
          max(col("c")).as("m"))
      cs.join(agg, Seq("root"), "left")
        .select(col("k"),
          coalesce(col("n_l"), lit(0L)).as("n_l"),
          coalesce(col("k_labels"), lit(0L)).as("k_labels"),
          coalesce(col("m"), lit(0L)).as("m"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(when(col("n_l") >= 2, 1L).otherwise(0L)).as("n_scorable"),
          sum(when(col("n_l") >= 2 && col("k_labels") === 1, 1L)
            .otherwise(0L)).as("n_unanimous"),
          expr("CAST(sum(CASE WHEN n_l >= 2 THEN m * 1000 DIV n_l" +
            " ELSE 0 END) DIV greatest(1, sum(CASE WHEN n_l >= 2" +
            " THEN 1 ELSE 0 END)) AS BIGINT)").as("maj_milli_avg"))
        .select(col("k").as("cluster_size"), col("n_clusters"),
          col("n_scorable"), col("n_unanimous"), col("maj_milli_avg"))
        .orderBy(col("cluster_size"))
    },

    // ---- q291: split-conformal quality-gate calibration ---------------
    // The quality filter's threshold (q133's funnel, q143's
    // calibration) is a guess unless it carries a guarantee. Split
    // conformal prediction (Vovk et al.; Papadopoulos 2002) gives a
    // distribution-free one: hold out a calibration split, take the
    // k-th smallest quality score with k = floor(alpha*(n_cal+1)) as
    // the floor, and P(new doc scores below the floor) <= alpha with
    // NO distributional assumption — exchangeability only. Per
    // (lang, alpha): the calibration size, the order-statistic index
    // k (k = 0 => no rejection, floor sentinel -1), the chosen floor,
    // and the holdout pass rate (which should sit >= 1000 - alpha in
    // milli — the audit of the guarantee). Exact integers end to end:
    // the "quantile" is a rank, never an interpolation. Scale shape:
    // one window over the calibration split (lang-partitioned), a
    // k*4-row broadcast threshold relation streamed against the
    // holdout, and the q288-style left-join resurrection of
    // zero-coverage cells — never corpus x alphas.
    QueryDef(
      "q291_conformal_quality_gate",
      s"""WITH $qualityScoresSql,
         |dq AS (SELECT d.doc_id, d.lang, qual.q,
         |    (${h32Sql("CAST(d.doc_id AS VARCHAR)")}) % 5 = 0 AS cal
         |  FROM documents d JOIN qual ON qual.doc_id = d.doc_id),
         |c AS (SELECT lang, doc_id, q, row_number() OVER (
         |    PARTITION BY lang ORDER BY q, doc_id) AS rn
         |  FROM dq WHERE cal),
         |n AS (SELECT lang, count(*) AS n_cal FROM dq WHERE cal
         |      GROUP BY lang),
         |spine AS (SELECT * FROM (VALUES (50), (100), (200), (333))
         |          a(alpha_milli)),
         |ks AS (SELECT n.lang, s.alpha_milli, n.n_cal,
         |    s.alpha_milli * (n.n_cal + 1) // 1000 AS k
         |  FROM n CROSS JOIN spine s),
         |thr AS (SELECT ks.lang, ks.alpha_milli, ks.n_cal, ks.k,
         |    coalesce(max(c.q), -1) AS thr_q
         |  FROM ks LEFT JOIN c ON c.lang = ks.lang AND c.rn = ks.k
         |  GROUP BY 1, 2, 3, 4),
         |hold AS (SELECT lang, q FROM dq WHERE NOT cal),
         |per AS (SELECT t.lang, t.alpha_milli,
         |    count(*) AS n_hold,
         |    sum(CASE WHEN h.q >= t.thr_q THEN 1 ELSE 0 END) AS n_pass
         |  FROM hold h JOIN thr t ON t.lang = h.lang
         |  GROUP BY 1, 2)
         |SELECT t.lang, CAST(t.alpha_milli AS BIGINT) AS alpha_milli,
         |  CAST(t.n_cal AS BIGINT) AS n_cal, CAST(t.k AS BIGINT) AS k,
         |  CAST(t.thr_q AS BIGINT) AS thr_q,
         |  CAST(coalesce(p.n_hold, 0) AS BIGINT) AS n_hold,
         |  CAST(coalesce(p.n_pass, 0) AS BIGINT) AS n_pass,
         |  CAST(coalesce(p.n_pass, 0) * 1000
         |    // greatest(1, coalesce(p.n_hold, 0)) AS BIGINT) AS pass_milli
         |FROM thr t LEFT JOIN per p
         |  ON p.lang = t.lang AND p.alpha_milli = t.alpha_milli
         |ORDER BY t.lang, alpha_milli""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val dq = documents(s, d).select(col("doc_id"), col("lang"))
        .join(qualityScores(s, d), "doc_id")
        .withColumn("cal", pmod(graft.cdc.GraftFunctions.md5_h32(
          col("doc_id").cast("string")), lit(5L)) === 0L)
        .tcache() // calibration ranks and the holdout scan share it
      val c = dq.filter(col("cal"))
      val wc = Window.partitionBy(col("lang"))
        .orderBy(col("q"), col("doc_id"))
      val ranked = c.withColumn("rn", row_number().over(wc))
        .select(col("lang").as("rlang"), col("q").as("rq"), col("rn"))
      val n = c.groupBy(col("lang")).agg(count(lit(1)).as("n_cal"))
      val spine = {
        val ss = s; import ss.implicits._
        Seq(50L, 100L, 200L, 333L).toDF("alpha_milli")
      }
      val ks = n.crossJoin(broadcast(spine))
        .withColumn("k", expr("alpha_milli * (n_cal + 1) DIV 1000"))
      val thr = ks.join(ranked,
          ks("lang") === col("rlang") && col("rn") === ks("k"), "left")
        .select(col("lang"), col("alpha_milli"), col("n_cal"), col("k"),
          coalesce(col("rq"), lit(-1L)).as("thr_q"))
      val per = dq.filter(!col("cal")).select(col("lang"), col("q"))
        .join(broadcast(thr), Seq("lang"))
        .groupBy(col("lang"), col("alpha_milli"))
        .agg(count(lit(1)).as("n_hold"),
          sum(when(col("q") >= col("thr_q"), 1L).otherwise(0L))
            .as("n_pass"))
      thr.join(per, Seq("lang", "alpha_milli"), "left")
        .select(col("lang"), col("alpha_milli"), col("n_cal"), col("k"),
          col("thr_q"),
          coalesce(col("n_hold"), lit(0L)).as("n_hold"),
          coalesce(col("n_pass"), lit(0L)).as("n_pass"))
        .withColumn("pass_milli",
          expr("n_pass * 1000 DIV greatest(1, n_hold)"))
        .orderBy(col("lang"), col("alpha_milli"))
    },

    // ---- q296: dedup discovery curve (coupon collector) ---------------
    // Does deduplicating MORE data still pay? Per corpus decile (in
    // arrival = doc_id order): docs seen, fingerprints first seen
    // there, duplicate hits (docs whose fingerprint arrived earlier —
    // including earlier in the SAME decile, which a min-bucket
    // formulation would miss), the decile's marginal duplication
    // rate, and the cumulative rate — the curve an operator reads to
    // decide whether the next 10% of corpus is worth another dedup
    // pass (coupon-collector saturation: marginal rate rising =>
    // keep going). Buckets are the q248 fixed-width doc_id slices
    // (no global sort). Scale shape: one keyed count + min per
    // fingerprint, two ≤10-row rollups; the cumulative fold is a
    // broadcast theta self-join over the 10-row census (q202's
    // recipe — a global window would serialize on one task).
    QueryDef(
      "q296_dedup_discovery_curve",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |fp AS (SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp
         |  FROM t WHERE len(toks) > 0),
         |mom AS (SELECT min(doc_id) AS lo,
         |    max(doc_id) - min(doc_id) + 1 AS w FROM documents),
         |fb AS (SELECT f.doc_id, f.fp,
         |    least(9, (f.doc_id - mom.lo) * 10 // mom.w) AS b
         |  FROM fp f CROSS JOIN mom),
         |fpa AS (SELECT fp, min(doc_id) AS fdoc FROM fb GROUP BY fp),
         |nb AS (SELECT least(9, (fdoc - mom.lo) * 10 // mom.w) AS b,
         |    count(*) AS n_new
         |  FROM fpa CROSS JOIN mom GROUP BY 1),
         |db AS (SELECT b, count(*) AS n_docs FROM fb GROUP BY b),
         |j AS (SELECT db.b, db.n_docs, coalesce(nb.n_new, 0) AS n_new
         |  FROM db LEFT JOIN nb ON nb.b = db.b),
         |c AS (SELECT b, n_docs, n_new, n_docs - n_new AS n_dup,
         |    CAST(sum(n_docs) OVER (ORDER BY b) AS BIGINT) AS cum_docs,
         |    CAST(sum(n_new) OVER (ORDER BY b) AS BIGINT) AS cum_new
         |  FROM j)
         |SELECT CAST(b AS BIGINT) AS bucket,
         |  CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_new AS BIGINT) AS n_new_fps,
         |  CAST(n_dup AS BIGINT) AS n_dups,
         |  CAST(n_dup * 1000 // n_docs AS BIGINT) AS marginal_dup_milli,
         |  CAST((cum_docs - cum_new) * 1000 // cum_docs AS BIGINT)
         |    AS cum_dup_milli
         |FROM c ORDER BY bucket""".stripMargin) { (s, d) =>
      val fp = withToks(s, d).filter(size(col("toks")) > 0)
        .select(col("doc_id"), md5(array_join(col("toks"), " ")).as("fp"))
      val mom = documents(s, d)
        .agg(min(col("doc_id")).as("lo"),
          (max(col("doc_id")) - min(col("doc_id")) + 1).as("w"))
      val fb = fp.crossJoin(broadcast(mom))
        .withColumn("b", least(lit(9L),
          expr("(doc_id - lo) * 10 DIV w")))
        .tcache() // per-decile census + first-occurrence agg share it
      val nb = fb.groupBy(col("fp")).agg(min(col("doc_id")).as("fdoc"))
        .crossJoin(broadcast(mom))
        .select(least(lit(9L), expr("(fdoc - lo) * 10 DIV w")).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("n_new"))
      val db = fb.groupBy(col("b")).agg(count(lit(1)).as("n_docs"))
      val j = db.join(nb, Seq("b"), "left")
        .select(col("b"), col("n_docs"),
          coalesce(col("n_new"), lit(0L)).as("n_new"))
        .tcache() // both sides of the cumulative theta join
      j.as("a")
        .join(broadcast(j.as("o")), col("o.b") <= col("a.b"))
        .groupBy(col("a.b").as("bucket"), col("a.n_docs").as("n_docs"),
          col("a.n_new").as("n_new"))
        .agg(sum(col("o.n_docs")).as("cum_docs"),
          sum(col("o.n_new")).as("cum_new"))
        .select(col("bucket"), col("n_docs"),
          col("n_new").as("n_new_fps"),
          (col("n_docs") - col("n_new")).as("n_dups"),
          expr("(n_docs - n_new) * 1000 DIV n_docs")
            .as("marginal_dup_milli"),
          expr("(cum_docs - cum_new) * 1000 DIV cum_docs")
            .as("cum_dup_milli"))
        .orderBy(col("bucket"))
    },

    // ---- q301: quality-score reliability (ECE) -------------------------
    // q143 shows the quality↔duplication relationship; this measures
    // whether the score is CALIBRATED as a uniqueness predictor —
    // the check before anyone treats q/10000 as a probability in a
    // filtering policy. Per fixed-width score bucket: docs, the mean
    // claimed uniqueness (score in milli), the observed unique rate,
    // the signed gap, and the bucket's weighted contribution to the
    // expected calibration error in micro (summing the column = ECE).
    // Exact integers throughout — no float reliability curve to
    // diverge between engines. Scale shape: one keyed count per
    // fingerprint joined back (the q143 plan) + an 11-row census; the
    // ECE weighting joins a 1-row broadcast total.
    QueryDef(
      "q301_quality_dup_reliability",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |fp AS (SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp
         |  FROM t WHERE len(toks) > 0),
         |dup AS (SELECT fp, count(*) AS n FROM fp GROUP BY fp),
         |$qualityScoresSql,
         |j AS (SELECT qual.q // 1000 AS bucket, qual.q,
         |    CASE WHEN dup.n = 1 THEN 1 ELSE 0 END AS uniq
         |  FROM qual JOIN fp ON fp.doc_id = qual.doc_id
         |  JOIN dup ON dup.fp = fp.fp),
         |tot AS (SELECT count(*) AS nt FROM j),
         |b AS (SELECT bucket, count(*) AS n_docs,
         |    CAST(sum(q) // (10 * count(*)) AS BIGINT) AS conf_milli,
         |    CAST(sum(uniq) * 1000 // count(*) AS BIGINT) AS obs_milli
         |  FROM j GROUP BY bucket)
         |SELECT CAST(b.bucket AS BIGINT) AS bucket, b.n_docs,
         |  b.conf_milli, b.obs_milli,
         |  CAST(b.obs_milli - b.conf_milli AS BIGINT) AS gap_milli,
         |  CAST(abs(b.obs_milli - b.conf_milli) * b.n_docs * 1000
         |    // tot.nt AS BIGINT) AS ece_contrib_micro
         |FROM b CROSS JOIN tot ORDER BY bucket""".stripMargin) { (s, d) =>
      val fp = withToks(s, d).filter(size(col("toks")) > 0)
        .select(col("doc_id"), md5(array_join(col("toks"), " ")).as("fp"))
      val dup = fp.groupBy(col("fp")).agg(count(lit(1)).as("n"))
      val j = qualityScores(s, d)
        .join(fp, "doc_id").join(dup, "fp")
        .select(expr("q DIV 1000").as("bucket"), col("q"),
          when(col("n") === 1, 1L).otherwise(0L).as("uniq"))
        .tcache() // bucket census + the 1-row total share it
      val tot = j.agg(count(lit(1)).as("nt"))
      j.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(q) DIV (10 * count(1))").cast("long")
            .as("conf_milli"),
          expr("sum(uniq) * 1000 DIV count(1)").cast("long")
            .as("obs_milli"))
        .crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_docs"), col("conf_milli"),
          col("obs_milli"),
          (col("obs_milli") - col("conf_milli")).as("gap_milli"),
          expr("abs(obs_milli - conf_milli) * n_docs * 1000 DIV nt")
            .as("ece_contrib_micro"))
        .orderBy(col("bucket"))
    },

    // ---- q302: context-length pricing sweep ----------------------------
    // The max-sequence-length knob, priced from the corpus's own
    // length distribution BEFORE anyone runs a packer: per candidate
    // context length, the token mass a truncate-to-L policy keeps,
    // the fill factor of the naive one-doc-per-sequence layout (its
    // complement is padding waste — q154's number, now as a curve),
    // and the bin-packing lower bound on sequence count
    // (ceil(kept/L) — what q241's packer is judged against). All
    // closed forms over the per-doc length relation — the sweep
    // never re-packs. Scale shape: one map-side length projection,
    // a 4-row broadcast spine, one keyed agg.
    QueryDef(
      "q302_context_length_sweep",
      s"""WITH lens AS (SELECT len($toksSql) AS l FROM documents
         |  WHERE len($toksSql) > 0),
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
         |GROUP BY c.ctx_len ORDER BY ctx_len""".stripMargin) { (s, d) =>
      val lens = withToks(s, d)
        .select(size(col("toks")).cast("long").as("l"))
        .filter(col("l") > 0)
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
    }
  )

  /** Degree-oriented triangle census over an undirected edge list
    * (d1 < d2, one row per edge). Returns one row: n_nodes, n_edges,
    * n_wedges, n_triangles, transitivity_milli. */
  private[graft] def triangleCensus(pairs: DataFrame): DataFrame = {
    val e = pairs.toDF("d1", "d2")
    val deg = e.select(explode(array(col("d1"), col("d2"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val withDegs = e
      .join(deg.select(col("n").as("d1"), col("deg").as("dga")), "d1")
      .join(deg.select(col("n").as("d2"), col("deg").as("dgb")), "d2")
    val aFirst = col("dga") < col("dgb") ||
      (col("dga") === col("dgb") && col("d1") < col("d2"))
    val o = withDegs.select(
      when(aFirst, col("d1")).otherwise(col("d2")).as("src"),
      when(aFirst, col("d2")).otherwise(col("d1")).as("dst"))
    val od = o.join(deg.select(col("n").as("dst"),
      col("deg").as("ddeg")), "dst")
    val a = od.select(col("src"), col("dst").as("b"),
      col("ddeg").as("bdeg"))
    val bb = od.select(col("src"), col("dst").as("c"),
      col("ddeg").as("cdeg"))
    val wedges = a.join(bb, Seq("src"))
      .filter(col("bdeg") < col("cdeg") ||
        (col("bdeg") === col("cdeg") && col("b") < col("c")))
      .select(col("b"), col("c"))
    val nTri = wedges.join(od.select(col("src").as("b"),
        col("dst").as("c")), Seq("b", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    val nWed = deg.agg(coalesce(sum(expr("deg * (deg - 1) DIV 2")),
      lit(0L)).cast("long").as("n_wedges"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    nNodes.crossJoin(nEdges).crossJoin(nWed).crossJoin(nTri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("3000 * n_triangles DIV greatest(n_wedges, 1L)")
          .as("transitivity_milli"))
  }

  /** (node, label) component assignment via alternating large-star /
    * small-star edge contraction to a fixpoint — O(log n) rounds on
    * any topology. Each round is: per-node min over current
    * neighbors+self (one keyed agg), then an edge rewrite through one
    * equi-join. Convergence probe: one scalar agg per round — a
    * commutative (count, sum-of-xxhash64) digest of the edge set,
    * equal to the previous round's iff the set is unchanged (up to a
    * 2^-64 sum collision; GraphSpec cross-checks the labels against
    * union-find). Replaces the count + exceptAll probe whose anti-join
    * cost exceeded the contraction itself. */
  private[ops] def starComponents(s: SparkSession, d: String): DataFrame = {
    val pairs = jaccardPairs(s, d).select(col("d1"), col("d2"))
    starContraction(pairs)
  }

  private val standingCompCache = new Tables.DfMemo("standing80")

  /** q164's STANDING-subgraph component labels (the hash-split 80%
    * near-dup graph contracted to min-rooted stars) — memoized:
    * this relation IS the precomputed production state the query's
    * incremental-merge narrative assumes ("a standing corpus already
    * has its components"); only the batch-merge contraction is live
    * per-query work. O(nodes) rows, ScalingSpec-bounded. */
  private[ops] def standingComponents80(s: SparkSession,
      d: String): DataFrame =
    standingCompCache.getOrElseUpdate((s, d)) {
      graft.cdc.GraftFunctions.register(s)
      val h1 = graft.cdc.GraftFunctions.md5_h32(col("d1").cast("string"))
      val h2 = graft.cdc.GraftFunctions.md5_h32(col("d2").cast("string"))
      val standing = jaccardPairs(s, d)
        .filter(h1 % 100 < 80 && h2 % 100 < 80)
        .select(col("d1"), col("d2"))
      starContraction(standing).cache()
    }

  /** Core star-contraction over an arbitrary undirected edge list
    * (two columns, one row per edge in either orientation). Returns
    * (node, label) with label = the component's minimum node id.
    *
    * r16 fast path: below `spark.graft.graph.localEdgeMax` edges the
    * component labels come from a single-task union-find kernel
    * ([[GraphKernel.components]]) — the star-contraction loop's 2
    * keyed passes × O(log n) rounds are pure AQE stage-cycle overhead
    * on a pair-graph-bounded edge list, and both algorithms provably
    * converge to the same min-rooted labels (the oracle's recursive
    * closure pins it at both SFs). Past the bound the contraction
    * below remains the 100 TB path. */
  private[graft] def starContraction(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    val localMax = graft.GraftConf.GraphLocalEdgeMax.get(s)
    val p2 = pairs.toDF("d1", "d2")
    if (Tables.fitsLocal(p2, localMax)) {
      val ss = s; import ss.implicits._
      return p2.select(col("d1").cast("long"), col("d2").cast("long"))
        .as[(Long, Long)].repartition(1)
        .mapPartitions(GraphKernel.components)
        .toDF("node", "label")
    }
    starContractionDistributed(p2)
  }

  /** The distributed large-star/small-star loop — the scale path. */
  private[graft] def starContractionDistributed(pairs: DataFrame)
      : DataFrame = {
    var edges = pairs.toDF("d1", "d2")
      .union(pairs.toDF("d1", "d2").select(col("d2"), col("d1")))
      .toDF("u", "v").filter(col("u") =!= col("v"))
      .distinct().localCheckpoint(eager = false)

    // per-u min over neighbors and self: m = min(min(v), u)
    def mins(e: DataFrame): DataFrame =
      e.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("m"))

    // large-star: every neighbor v > u re-points to u's local min m;
    // keeps both directions of surviving edges (input is symmetric).
    // Both directions explode from ONE join pass — a unionAll of two
    // selects over the same join would execute the join twice. No
    // distinct here: smallStar's own distinct dedups one stage later,
    // so a shuffle per round is saved and the digest's distinct-set
    // precondition is still met (it hashes smallStar output only).
    def largeStar(e: DataFrame): DataFrame = {
      val m = mins(e)
      e.filter(col("v") > col("u")).join(m, "u")
        .select(explode(array(
          struct(col("v").as("x"), col("m").as("y")),
          struct(col("m").as("x"), col("v").as("y")))).as("p"))
        .select(col("p.x").as("u"), col("p.y").as("v"))
        .filter(col("u") =!= col("v"))
    }

    // small-star: orient edges larger-first, then every node in
    // N(u) ∪ {u} except the min re-points to the min. Same
    // single-join explode trick for the (neighbor, self) pair and
    // again for the symmetric output (the two output directions
    // cannot collide: m is the strict min, so re always has a > m).
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.filter(col("v") < col("u"))
      val m = mins(oriented)
      val re = oriented.join(m, "u")
        .select(explode(array(col("v"), col("u"))).as("a"), col("m"))
        .filter(col("a") =!= col("m"))
        .distinct()
      re.select(explode(array(
          struct(col("a").as("x"), col("m").as("y")),
          struct(col("m").as("x"), col("a").as("y")))).as("p"))
        .select(col("p.x").as("u"), col("p.y").as("v"))
    }

    // edge-set digest: count + XOR of per-edge hashes. Commutative and
    // overflow-free under ANSI mode (sum of hashes would throw on long
    // overflow), one job; equal digests across rounds mean the deduped
    // edge set reached the smallStar∘largeStar fixpoint. XOR is a
    // sound set digest here because the edge set is distinct — no
    // duplicate elements to self-cancel.
    def digest(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var prev = digest(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < 30) {
      // lazy checkpoint: the digest job both materializes the round's
      // edge set and measures it — one Spark job per round, not two
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = false)
      val cur = digest(next)
      converged = cur == prev
      prev = cur
      edges = next
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"star contraction did not converge within $iter rounds")
    // at the fixpoint edges are min-rooted stars (child > root, both
    // directions present): child labels from the larger-first half,
    // roots label themselves
    val stars = edges.filter(col("v") < col("u"))
    stars.select(col("u").as("node"), col("v").as("label"))
      .unionAll(stars.select(col("v")).distinct()
        .select(col("v").as("node"), col("v").as("label")))
  }
}
