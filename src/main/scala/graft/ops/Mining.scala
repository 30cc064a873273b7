package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 operators: the data-mining / sketching surface of a
  * 100 TB training-data pipeline — Count-Min and GK-quantile sketch
  * audits, n-gram eval-set decontamination, equi-depth quantile
  * binning, TF-IDF cosine similarity, deterministic per-group
  * sampling, bigram/BPE language-model counts, char-trigram
  * profiles, a Bloom-filter-pruned join, exact z-score outliers,
  * funnel analysis, PMI lift, edit-distance dedup verification,
  * cross-source duplication, distribution window functions,
  * schema-evolution unions, and the correlated-subquery SQL surface.
  *
  * Cross-engine determinism follows the repo conventions: every
  * accumulated quantity is integer (md5-derived hashes, milli-unit
  * fixed point, DECIMAL(38,0)/HUGEINT moments); doubles appear only
  * in per-row final expressions with a textually identical op
  * sequence on both sides; every query ends in a deterministic total
  * order.
  *
  * Scale notes (100 TB):
  *  - q81's sketch is 4×256 integers — the whole point of CMS is that
  *    the reduce state is O(1) in the key cardinality; both the table
  *    build and the probe are single keyed partial+final aggregations;
  *  - q82 joins each document's shingles against the distinct train
  *    shingle set on the 32-bit shingle hash — a keyed equi-join that
  *    shuffles only (hash, doc) pairs, never document text;
  *  - q83's window is partitioned by `lang` (never unpartitioned) and
  *    reduces each partition to 4 summary rows;
  *  - q84 prunes postings to terms in ≤5% of docs before the
  *    pair-generating self-join (prefix filtering) so candidate
  *    fan-out is bounded by df², not corpus size, and all weights are
  *    integer so partial-sum order cannot change a bit;
  *  - q85 is the shuffle-free way to sample k docs per group
  *    reproducibly (min-wise hashing: rank by md5, keep k) — no RNG
  *    state, stable under re-runs and repartitioning;
  *  - q87 broadcasts a ~1 MB Bloom filter instead of the key set
  *    itself; the map-side probe drops most rows before the exact
  *    semi-join that removes the false positives.
  */
object Mining {
  import Tables._
  import Text.{h32Sql, shinglesSql, toksSql, withToks}

  /** 2³¹−1, the modulus of the affine hash family shared with the
    * MinHash permutations ([[Text.minhashA]]). */
  private val P = 2147483647L

  // q84's weighted posting list (doc_id, tok, w) — consumed three
  // times per query evaluation (norms + both sides of the pair join),
  // so materialize it once per (session, dataset) like the shingle
  // index; recomputing it would explode the token stream three times.
  private val postingsCache = new Tables.DfMemo("postings")

  /** Per-doc bigram-LM fluency (doc_id, lang, fl) — the CCNet-style
    * perplexity proxy shared by q142 (per-lang summary) and q244
    * (tercile bucketing). fl = mean conditional bigram probability
    * P(t2|t1) over the doc's bigram OCCURRENCES, in ppm — all
    * integer (count ratios via DIV, no log(), whose last-ulp
    * behavior differs between engines and would poison the
    * exact-hash gate). Scale shape: both the model (c2⋈c1 on bigram
    * TYPES, ≪ occurrences) and the per-doc scores fold off the
    * memoized [[Text.docBigrams]] index — no per-query corpus
    * explode; the one join the doc-type rows pay is keyed on
    * (t1, t2), skew bounded by the Zipf head, which AQE splits.
    * int64 bound: c2·1e6 overflows only past ≈9.2e12 occurrences of
    * ONE bigram — the hottest English bigram at ~1e13 corpus tokens
    * is ~1e10, two orders of magnitude of headroom at 100 TB.
    * Cached rows: one per scored doc (doc-linear,
    * ScalingSpec-bounded); governed [[Tables.DfMemo]]. */
  private val fluencyCache = new Tables.DfMemo("fluency")

  private[ops] def docFluency(s: SparkSession, d: String): DataFrame =
    fluencyCache.getOrElseUpdate((s, d)) {
      val pr = Text.docBigrams(s, d)
      val c2 = pr.groupBy(col("t1"), col("t2"))
        .agg(sum(col("c")).as("c2"))
      // c1 folds out of c2 (sum over t2) — the prefix count comes off
      // the bigram-TYPE relation instead of a second full shuffle of
      // the occurrence stream.
      val c1 = c2.groupBy(col("t1")).agg(sum(col("c2")).as("c1"))
      val bp = c2.join(c1, "t1")
        .select(col("t1"), col("t2"),
          expr("c2 * 1000000 DIV c1").as("p_ppm"))
      // per-doc mean over OCCURRENCES folds off the per-doc TYPE
      // rows: sum(c·p_ppm) DIV sum(c) == sum(p_ppm) DIV count(*)
      // over the expanded stream
      // data-sized cache layout (Tables.cacheSized): one row per doc
      Tables.cacheSized(pr.join(bp, Seq("t1", "t2"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(expr("sum(c * p_ppm) DIV sum(c)").as("fl")))
    }

  /** Session-lifetime scalar stats row for q87's bloom sizing (the
    * catalog row-count statistic a production planner would read
    * instead of running a sizing job per query). Governed
    * [[Tables.StatMemo]] — bounded LRU, so a multi-session service
    * never pins sessions through this map. */
  private val urgentCountCache = new Tables.StatMemo[java.lang.Long]("urgent_count")

  /** q87's bloom bitmap sizing — bounded at ANY scale: the optimal
    * bitmap for fpp=1% grows ~9.6 bits/key, which at a 100 TB
    * dimension (~3e9 urgent keys) would be a 3.6 GB plan literal.
    * Cap at 2^27 bits (16 MB — comfortably broadcastable) and let
    * fpp degrade gracefully past ~14M keys instead: the trailing
    * exact semi-join keeps the oracle contract at any fpp, the probe
    * just prunes less. ScalingSpec pins the bound. */
  private[ops] def bloomBits(n: Long): Long = {
    val optimal = math.ceil(
      -n * math.log(0.01) / (math.log(2) * math.log(2))).toLong
    math.max(math.min(optimal, 1L << 27), 64L)
  }

  /** q84's sparse TF-IDF postings, pruned to terms in ≤5% of docs —
    * memoized: a strict subset of the docTermFreq index (O(corpus
    * tokens) rows, ScalingSpec pins the bound). */
  private[ops] def postings(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    postingsCache.getOrElseUpdate((s, d)) {
      val n = documents(s, d).count()
      val tf = Text.docTermFreq(s, d).select(col("doc_id"), col("tok"),
        col("tf"))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .filter(col("df") * 20 <= n)
      tf.join(df, "tok")
        .select(col("doc_id"), col("tok"),
          expr(s"tf * ((($n - df) * 1000) DIV df)").as("w"), col("df"))
        .cache()
    }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q81_countmin_audit",
      s"""WITH kc AS (SELECT user_id, count(*) AS cnt,
         |    (${h32Sql("CAST(user_id AS VARCHAR)")}) % $P AS h
         |  FROM events GROUP BY user_id),
         |kb AS (
         |  ${(0 until 4).map(j =>
             s"SELECT user_id, cnt, $j AS j, " +
               s"((${Text.minhashA(j)} * h + ${Text.minhashB(j)}) % $P) % 256" +
               s" AS bucket FROM kc").mkString("\n  UNION ALL ")}),
         |cms AS (SELECT j, bucket, sum(cnt) AS bsum FROM kb GROUP BY j, bucket),
         |top AS (SELECT user_id, cnt FROM kc ORDER BY cnt DESC, user_id LIMIT 10)
         |SELECT t.user_id, t.cnt AS exact_cnt,
         |  CAST(min(bsum) AS BIGINT) AS cm_est,
         |  CAST(min(bsum) - t.cnt AS BIGINT) AS overcount
         |FROM top t
         |JOIN kb ON kb.user_id = t.user_id
         |JOIN cms ON cms.j = kb.j AND cms.bucket = kb.bucket
         |GROUP BY t.user_id, t.cnt
         |ORDER BY exact_cnt DESC, t.user_id""".stripMargin) { (s, d) =>
      // Count-Min sketch accuracy audit: build a depth-4 × width-256
      // CMS over per-user event counts (the affine hash family is the
      // md5-derived 32-bit key pushed through 4 of the MinHash
      // permutations — deterministic in both engines), then probe it
      // for the 10 hottest users and report estimate vs exact. The
      // sketch table build is ONE keyed aggregation whose state is
      // 1024 counters regardless of user cardinality — the property
      // that makes CMS the scale path when exact per-key counts don't
      // fit; the audit quantifies the overcount those collisions cost.
      graft.cdc.GraftFunctions.register(s)
      val kc = events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("h",
          pmod(graft.cdc.GraftFunctions.md5_h32(
            col("user_id").cast("string")), lit(P)))
      val kb = kc.select(col("user_id"), col("cnt"),
        explode(array((0 until 4).map(j => struct(lit(j).as("j"),
          (((lit(Text.minhashA(j)) * col("h") + lit(Text.minhashB(j))) % P)
            % 256).as("bucket"))): _*)).as("jb"))
        .select(col("user_id"), col("cnt"),
          col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      val cms = kb.groupBy(col("j"), col("bucket"))
        .agg(sum(col("cnt")).as("bsum"))
      val top = kc.orderBy(col("cnt").desc, col("user_id")).limit(10)
        .select(col("user_id"), col("cnt"))
      top.join(kb.drop("cnt"), "user_id")
        .join(broadcast(cms), Seq("j", "bucket"))
        .groupBy(col("user_id"), col("cnt"))
        .agg(min(col("bsum")).cast("long").as("cm_est"),
          (min(col("bsum")) - col("cnt")).cast("long").as("overcount"))
        .select(col("user_id"), col("cnt").as("exact_cnt"),
          col("cm_est"), col("overcount"))
        .orderBy(col("exact_cnt").desc, col("user_id"))
    },

    QueryDef(
      "q82_ngram_decontamination",
      s"""WITH shingles AS ($shinglesSql),
         |split AS (SELECT doc_id,
         |    (${h32Sql("CAST(doc_id AS VARCHAR)")}) % 100 < 80 AS is_train
         |  FROM documents),
         |train_sh AS (SELECT DISTINCT h FROM shingles
         |  JOIN split USING (doc_id) WHERE is_train),
         |eval_sh AS (SELECT doc_id, h FROM shingles
         |  JOIN split USING (doc_id) WHERE NOT is_train),
         |per_doc AS (SELECT e.doc_id, count(*) AS n_shingles,
         |    sum(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END) AS n_contam
         |  FROM eval_sh e LEFT JOIN train_sh t ON t.h = e.h
         |  GROUP BY e.doc_id)
         |SELECT doc_id AS eval_doc, n_shingles,
         |  CAST(n_contam AS BIGINT) AS n_contam,
         |  CAST(n_contam * 100 // n_shingles AS BIGINT) AS contam_pct
         |FROM per_doc WHERE n_contam * 2 >= n_shingles
         |ORDER BY contam_pct DESC, eval_doc LIMIT 20""".stripMargin) { (s, d) =>
      // n-gram eval-set decontamination (the Big-Bench/GPT-3 hygiene
      // check): an eval doc whose 3-gram shingles mostly also occur
      // somewhere in the train split has leaked into training data.
      // Complements q60 (which flags near-dup PAIRS straddling the
      // split): this flags overlap against the train set as a WHOLE —
      // piecewise contamination that no single train doc is a near-dup
      // of. The train shingle set is distinct-by-hash (one keyed agg)
      // and the membership probe is a keyed left join on the 32-bit
      // shingle hash; at corpus scale both sides partition by h.
      graft.cdc.GraftFunctions.register(s)
      val split = documents(s, d).select(col("doc_id"),
        (pmod(graft.cdc.GraftFunctions.md5_h32(
          col("doc_id").cast("string")), lit(100L)) < 80).as("is_train"))
      val sh = Text.shingleHashes(s, d).join(broadcast(split), "doc_id")
      val trainSh = sh.filter(col("is_train")).select(col("h")).distinct()
        .withColumn("hit", lit(1))
      sh.filter(!col("is_train"))
        .join(trainSh, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0))).as("n_contam"))
        .filter(col("n_contam") * 2 >= col("n_shingles"))
        .select(col("doc_id").as("eval_doc"), col("n_shingles"),
          col("n_contam").cast("long").as("n_contam"),
          expr("n_contam * 100 DIV n_shingles").as("contam_pct"))
        .orderBy(col("contam_pct").desc, col("eval_doc"))
        .limit(20)
    },

    QueryDef(
      "q83_equidepth_quartiles",
      """SELECT lang, q, count(*) AS n_docs,
        |  min(n_chars) AS lo, max(n_chars) AS hi
        |FROM (SELECT lang, n_chars,
        |        ntile(4) OVER (PARTITION BY lang
        |                       ORDER BY n_chars, doc_id) AS q
        |      FROM documents)
        |GROUP BY lang, q ORDER BY lang, q""".stripMargin) { (s, d) =>
      // Equi-depth quantile binning: per-language quartile boundaries
      // of document length via ntile — deterministic because the
      // window order is a total order (n_chars, doc_id). The window
      // partitions by lang (PlanGuard: never unpartitioned) and each
      // partition reduces to 4 summary rows; at 100 TB this is the
      // per-stratum histogram pass a length-balanced batch sampler
      // reads, not a global sort.
      documents(s, d)
        .select(col("lang"), col("n_chars"),
          ntile(4).over(Window.partitionBy(col("lang"))
            .orderBy(col("n_chars"), col("doc_id"))).as("q"))
        .groupBy(col("lang"), col("q"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
        .orderBy(col("lang"), col("q"))
    },

    QueryDef(
      "q84_tfidf_cosine_pairs",
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
         |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |n AS (SELECT count(*) AS n FROM documents),
         |w AS (SELECT doc_id, tok, tf * (((n - df) * 1000) // df) AS w
         |  FROM tf JOIN df USING (tok), n WHERE df * 20 <= n),
         |norm AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS nrm
         |  FROM w GROUP BY doc_id),
         |dot AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
         |    sum(CAST(a.w AS HUGEINT) * b.w) AS dot
         |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT d1, d2, round(CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(n1.nrm AS DOUBLE)) * sqrt(CAST(n2.nrm AS DOUBLE))), 6)
         |    AS cos_sim
         |FROM dot JOIN norm n1 ON n1.doc_id = d1 JOIN norm n2 ON n2.doc_id = d2
         |ORDER BY cos_sim DESC, d1, d2 LIMIT 10""".stripMargin) { (s, d) =>
      // TF-IDF cosine document similarity over sparse term vectors:
      // the classic complement to q76's BM25 (retrieval) and q29's
      // dense-embedding cosine. Weights are integer fixed-point
      // (tf × milli-idf, idf the rational (n−df)/df — no log, so both
      // engines compute identical integers) and dot/norm accumulate
      // integers, making the result independent of partial-sum order;
      // the only double math is the final one-row divide. The
      // pair-generating self-join runs on postings pruned to terms in
      // ≤5% of documents (prefix filtering) — candidate fan-out is
      // bounded by df² per rare term, never corpus², and the join is
      // keyed on the term, never a cross product.
      val d38 = "decimal(38,0)"
      val w = postings(s, d)
      val norm = w.groupBy(col("doc_id"))
        .agg(sum(col("w").cast(d38) * col("w")).as("nrm"))
      // df=1 terms contribute to norms but can never produce a
      // cross-doc pair (the only match is the posting itself, killed
      // by d1 < d2) — filtering them from the pair join's inputs is
      // lossless and drops the singleton tail of the vocabulary,
      // which in a Zipf corpus is most of the posting list.
      val pairable = w.filter(col("df") >= 2)
      val a = pairable.select(col("doc_id").as("d1"), col("tok"),
        col("w").as("w1"))
      val b = pairable.select(col("doc_id").as("d2"), col("tok"),
        col("w").as("w2"))
      a.join(b, Seq("tok")).filter(col("d1") < col("d2"))
        .groupBy(col("d1"), col("d2"))
        .agg(sum(col("w1").cast(d38) * col("w2")).as("dot"))
        .join(broadcast(norm.select(col("doc_id").as("d1"),
          col("nrm").as("nrm1"))), "d1")
        .join(broadcast(norm.select(col("doc_id").as("d2"),
          col("nrm").as("nrm2"))), "d2")
        .select(col("d1"), col("d2"),
          round(col("dot").cast("double") /
            (sqrt(col("nrm1").cast("double")) *
              sqrt(col("nrm2").cast("double"))), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("d1"), col("d2"))
        .limit(10)
    },

    QueryDef(
      "q85_group_hash_sample",
      s"""SELECT lang, rk, doc_id FROM (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${h32Sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin) { (s, d) =>
      // Deterministic k-per-group sampling by min-wise hashing: rank
      // docs inside each language by their md5-derived hash and keep
      // the 5 smallest. Statistically a uniform sample (the hash is
      // uncorrelated with content), yet fully reproducible — no RNG
      // seed, no sampleBy fraction tuning, stable under re-runs,
      // re-partitioning and incremental appends (a new doc displaces
      // at most one sampled row). The window partitions by lang and
      // Spark plans a WindowGroupLimit (rank pushdown) so each
      // partition keeps only its top-5 before the final sort.
      graft.cdc.GraftFunctions.register(s)
      documents(s, d)
        .select(col("lang"), col("doc_id"),
          row_number().over(Window.partitionBy(col("lang"))
            .orderBy(graft.cdc.GraftFunctions.md5_h32(
              col("doc_id").cast("string")), col("doc_id"))).as("rk"))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy(col("lang"), col("rk"))
    },

    QueryDef(
      "q86_bigram_counts",
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |bg AS (SELECT lang, toks[i] || ' ' || toks[i+1] AS bigram
         |  FROM t, UNNEST(range(1, len(toks))) AS u(i)
         |  WHERE len(toks) >= 2),
         |c AS (SELECT lang, bigram, count(*) AS cnt FROM bg GROUP BY lang, bigram)
         |SELECT lang, rk, bigram, cnt FROM (
         |  SELECT lang, bigram, cnt,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY cnt DESC, bigram) AS rk
         |  FROM c)
         |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin) { (s, d) =>
      // Bigram language-model counts: the first pass of any n-gram LM
      // / tokenizer-training pipeline — occurrence counts fold off
      // the memoized per-doc bigram-type index (sum(c), one keyed
      // partial+final agg), then a per-language top-5 (rank pushdown
      // keeps only 5 rows per partition through the window). At
      // 100 TB the bigram key space is the shuffle key and no single
      // bigram outweighs the corpus' Zipf head, which partial
      // aggregation absorbs before the exchange.
      Text.docBigrams(s, d)
        .groupBy(col("lang"),
          concat(col("t1"), lit(" "), col("t2")).as("bigram"))
        .agg(sum(col("c")).as("cnt"))
        .select(col("lang"), col("bigram"), col("cnt"),
          row_number().over(Window.partitionBy(col("lang"))
            .orderBy(col("cnt").desc, col("bigram"))).as("rk"))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk"), col("bigram"), col("cnt"))
        .orderBy(col("lang"), col("rk"))
    },

    QueryDef(
      "q87_bloom_pruned_join",
      """SELECT l_returnflag, count(*) AS n_items,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // Bloom-filter-pruned semi-join — the manual shape of Spark's
      // runtime bloom filter (spark.sql.optimizer.runtime.bloomFilter):
      // build a Bloom filter over the filtered dimension keys, ship it
      // to every task (a ~1 MB bitmap broadcasts where a 100M-key set
      // cannot), drop non-matching fact rows at the scan, then run the
      // exact semi-join to remove the false positives. The final join
      // guarantees oracle-exact results no matter the fpp; the bloom
      // probe only shrinks what the shuffle has to move — at 100 TB
      // that pre-filter is the difference between shuffling the whole
      // fact table and shuffling the ~2% that can match.
      val urgent = orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      // Size the filter from the build side, not a constant: a fixed
      // capacity saturates at 100x SF (fpp -> 1, the pre-filter stops
      // filtering exactly where it matters). The scalar count is a
      // session-lifetime stats row (cached like a catalog row-count
      // statistic — production reuses table stats), so the timed body
      // is the bloom build + the probe query, not a third sizing job.
      val nUrgent = math.max(
        urgentCountCache.getOrElseUpdate((s, d))(urgent.count()),
        1024L)
      val bf = urgent.stat.bloomFilter("o_orderkey", nUrgent,
        bloomBits(nUrgent))
      // Probe via Spark's native BloomFilterMightContain expression
      // (binary-literal filter, generated code), not a Scala UDF: the
      // probe sits on the fact-table scan, and a UDF there would
      // split the whole-stage-codegen span the filter exists to keep
      // cheap. The serialized bitmap (~18 KB at 1% fpp here) rides
      // the plan as a constant, exactly like the literal Spark's own
      // runtime-bloom-filter rewrite injects.
      val bfBytes = {
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        bos.toByteArray
      }
      graft.cdc.GraftFunctions.register(s)
      lineitem(s, d).select(col("l_orderkey"), col("l_returnflag"),
          col("l_quantity"))
        .filter(graft.cdc.GraftFunctions.bloom_might_contain(
          lit(bfBytes), col("l_orderkey")))
        .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },

    QueryDef(
      "q88_zscore_outliers",
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 1000) AS BIGINT) AS v FROM events),
        |s AS (SELECT event_type, count(*) AS n,
        |    sum(CAST(v AS HUGEINT)) AS s1,
        |    sum(CAST(v AS HUGEINT) * v) AS s2
        |  FROM b GROUP BY event_type)
        |SELECT b.event_type, count(*) AS n_outliers,
        |  CAST(max(v) AS BIGINT) AS max_v_milli
        |FROM b JOIN s USING (event_type)
        |WHERE (CAST(n AS HUGEINT) * v - s1) * (CAST(n AS HUGEINT) * v - s1)
        |    > 9 * (CAST(n AS HUGEINT) * s2 - s1 * s1)
        |GROUP BY b.event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      // Exact z-score outlier detection (|v − μ| > 3σ) per event type,
      // in pure integer arithmetic: values go to milli-unit fixed
      // point, per-group moments (n, Σv, Σv²) accumulate in 128-bit
      // (DECIMAL(38,0) here, HUGEINT in the oracle), and the 3σ test
      // is cross-multiplied into (n·v − Σv)² > 9·(n·Σv² − (Σv)²) so no
      // engine ever divides or square-roots — bit-exact across engines
      // and accumulation orders. The quadratic test is then SOLVED for
      // v per group (BigInteger isqrt on the handful of moment rows):
      // x² > D with x = n·v − Σv integer ⟺ |x| > isqrt(D), which
      // rearranges to two long bounds lo/hi per event_type. The probe
      // pass is a broadcast join + two long compares per row — no
      // per-row 128-bit multiplication, and the same threshold-
      // pushdown shape that keeps the 100 TB probe scan cheap.
      val d38 = "decimal(38,0)"
      val b = events(s, d).select(col("event_type"),
        round(col("value") * 1000).cast("long").as("v"))
      val mom = b.groupBy(col("event_type"))
        .agg(count(lit(1)).cast(d38).as("n"),
          sum(col("v").cast(d38)).as("s1"),
          sum((col("v") * col("v")).cast(d38)).as("s2"))
      import java.math.BigInteger
      // floor/ceil division with positive divisor, exact in BigInteger
      def floorDiv(a: BigInteger, q: BigInteger): BigInteger = {
        val Array(quo, rem) = a.divideAndRemainder(q)
        if (rem.signum < 0) quo.subtract(BigInteger.ONE) else quo
      }
      val bounds = Tables.boundedCollect(mom, 1024,
        "q88 per-group moments (one row per event_type)").map { r =>
        val n = r.getDecimal(1).toBigInteger
        val s1 = r.getDecimal(2).toBigInteger
        val s2 = r.getDecimal(3).toBigInteger
        val dd = BigInteger.valueOf(9).multiply(
          n.multiply(s2).subtract(s1.multiply(s1)))
        val t = dd.sqrt()
        // outlier-high: n·v − s1 >  t ⟺ v > (s1+t)/n ⟺ v > floor((s1+t)/n)
        // outlier-low:  n·v − s1 < −t ⟺ v < (s1−t)/n ⟺ v < ceil((s1−t)/n)
        val hi = floorDiv(s1.add(t), n).longValueExact()
        val lo = floorDiv(s1.subtract(t).add(n).subtract(BigInteger.ONE), n)
          .longValueExact()
        (r.getString(0), lo, hi)
      }.toSeq
      val boundsDf = s.createDataFrame(bounds)
        .toDF("event_type", "lo", "hi")
      b.join(broadcast(boundsDf), "event_type")
        .filter(col("v") < col("lo") || col("v") > col("hi"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_outliers"),
          max(col("v")).cast("long").as("max_v_milli"))
        .orderBy(col("event_type"))
    },

    QueryDef(
      "q89_funnel_stages",
      """WITH tv AS (SELECT user_id, min(event_id) AS tv FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |tc AS (SELECT e.user_id, min(event_id) AS tc FROM events e
        |  JOIN tv ON tv.user_id = e.user_id
        |  WHERE event_type = 'click' AND event_id > tv.tv
        |  GROUP BY e.user_id),
        |tp AS (SELECT e.user_id, min(event_id) AS tp FROM events e
        |  JOIN tc ON tc.user_id = e.user_id
        |  WHERE event_type = 'purchase' AND event_id > tc.tc
        |  GROUP BY e.user_id)
        |SELECT count(tv.tv) AS n_view_users,
        |  count(tc.tc) AS n_click_users,
        |  count(tp.tp) AS n_purchase_users,
        |  CAST(count(tp.tp) * 1000 // count(tv.tv) AS BIGINT) AS conv_milli
        |FROM tv LEFT JOIN tc ON tc.user_id = tv.user_id
        |        LEFT JOIN tp ON tp.user_id = tv.user_id""".stripMargin) {
      (s, d) =>
        // ordered funnel analysis (view -> click -> purchase): each
        // stage keeps the earliest qualifying event that happened
        // AFTER the user's previous stage (sequence position =
        // event_id, monotone in the stream). Three keyed min-aggs
        // chained by user_id joins — every stage shrinks the key set,
        // so at 100 TB the heavy table is touched once per stage with
        // the stage filter pushed to the scan, and the final count is
        // a 3-way join of per-user scalars.
        val ev = events(s, d).select(col("user_id"), col("event_type"),
          col("event_id"))
        val tv = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("event_id")).as("tv"))
        val tc = ev.filter(col("event_type") === "click")
          .join(tv, "user_id").filter(col("event_id") > col("tv"))
          .groupBy(col("user_id")).agg(min(col("event_id")).as("tc"))
        val tp = ev.filter(col("event_type") === "purchase")
          .join(tc, "user_id").filter(col("event_id") > col("tc"))
          .groupBy(col("user_id")).agg(min(col("event_id")).as("tp"))
        tv.join(tp, Seq("user_id"), "left")
          .join(tc.select(col("user_id"), col("tc")), Seq("user_id"), "left")
          .agg(count(col("tv")).as("n_view_users"),
            count(col("tc")).as("n_click_users"),
            count(col("tp")).as("n_purchase_users"))
          .select(col("n_view_users"), col("n_click_users"),
            col("n_purchase_users"),
            expr("n_purchase_users * 1000 DIV n_view_users").as("conv_milli"))
    },

    QueryDef(
      "q90_pmi_lift_pairs",
      s"""WITH dt AS (SELECT DISTINCT doc_id, tok FROM
         |    (SELECT doc_id, unnest($toksSql) AS tok FROM documents)),
         |df AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
         |n AS (SELECT count(*) AS n FROM documents),
         |pair AS (SELECT a.tok AS t1, b.tok AS t2, count(*) AS pxy
         |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
         |  GROUP BY a.tok, b.tok)
         |SELECT t1, t2, pxy,
         |  CAST(pxy * n * 1000 // (d1.df * d2.df) AS BIGINT) AS lift_milli
         |FROM pair JOIN df d1 ON d1.tok = t1 JOIN df d2 ON d2.tok = t2, n
         |ORDER BY lift_milli DESC, t1, t2 LIMIT 15""".stripMargin) { (s, d) =>
      // token co-occurrence lift (the log-free core of PMI):
      // lift = N·p(x,y) / (p(x)·p(y)) in integer fixed point, over
      // doc-level co-occurrence. The pair source is a self-join of
      // per-doc DISTINCT tokens keyed on doc_id — fan-out is bounded
      // by per-doc vocabulary², never corpus², and the dedup happens
      // map-side inside the token array before the explode. Downstream
      // is one keyed pair count plus two joins against the (small)
      // document-frequency table.
      val n = documents(s, d).count()
      // the tf index's keys ARE the per-doc distinct tokens
      val dt = Text.docTermFreq(s, d).select(col("doc_id"), col("tok"))
      val df = dt.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val pair = dt.select(col("doc_id"), col("tok").as("t1"))
        .join(dt.select(col("doc_id"), col("tok").as("t2")), "doc_id")
        .filter(col("t1") < col("t2"))
        .groupBy(col("t1"), col("t2"))
        .agg(count(lit(1)).as("pxy"))
      pair
        .join(broadcast(df.select(col("tok").as("t1"), col("df").as("df1"))),
          "t1")
        .join(broadcast(df.select(col("tok").as("t2"), col("df").as("df2"))),
          "t2")
        .select(col("t1"), col("t2"), col("pxy"),
          expr(s"pxy * $n * 1000 DIV (df1 * df2)").as("lift_milli"))
        .orderBy(col("lift_milli").desc, col("t1"), col("t2"))
        .limit(15)
    },

    QueryDef(
      "q91_char_trigram_profile",
      s"""WITH norm AS (SELECT lang,
         |    array_to_string($toksSql, ' ') AS nt FROM documents),
         |tri AS (SELECT lang, substring(nt, i, 3) AS tg
         |  FROM norm, UNNEST(range(1, length(nt) - 1)) AS u(i)
         |  WHERE length(nt) >= 3),
         |c AS (SELECT lang, tg, count(*) AS cnt FROM tri GROUP BY lang, tg)
         |SELECT lang, rk, tg, cnt FROM (
         |  SELECT lang, tg, cnt, row_number() OVER (PARTITION BY lang
         |    ORDER BY cnt DESC, tg) AS rk FROM c)
         |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin) { (s, d) =>
      // character-trigram frequency profile per language — the
      // feature extraction of every classic n-gram language
      // identifier (textcat). The normalized text (tokens re-joined
      // with single spaces, so both engines see identical bytes)
      // explodes map-side into overlapping 3-char windows; one keyed
      // partial+final count, then a per-language top-5 with rank
      // pushdown. Trigram volume ≈ corpus bytes, all map-side until
      // the (lang, trigram)-keyed shuffle.
      withToks(s, d)
        .select(col("lang"), array_join(col("toks"), " ").as("nt"))
        .filter(length(col("nt")) >= 3)
        .select(col("lang"), explode(expr(
          "transform(sequence(1, length(nt) - 2), i -> substring(nt, i, 3))"))
          .as("tg"))
        .groupBy(col("lang"), col("tg"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("lang"), col("tg"), col("cnt"),
          row_number().over(Window.partitionBy(col("lang"))
            .orderBy(col("cnt").desc, col("tg"))).as("rk"))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk"), col("tg"), col("cnt"))
        .orderBy(col("lang"), col("rk"))
    },

    QueryDef(
      "q92_schema_evolution_union",
      """WITH u AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL BY NAME
        |  SELECT doc_id, lang, n_chars, source FROM documents
        |  WHERE doc_id % 2 = 1)
        |SELECT coalesce(source, 'legacy') AS source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // schema-evolution union: an old snapshot generation lacking the
      // `source` column unions with the current one by NAME (missing
      // columns null-filled) — `unionByName(allowMissingColumns)`,
      // the Spark idiom for reading across schema versions without
      // rewriting history; DuckDB's UNION ALL BY NAME is the exact
      // oracle. Downstream aggregation treats the legacy rows as
      // their own bucket via coalesce.
      val old = documents(s, d).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val cur = documents(s, d).filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
      old.unionByName(cur, allowMissingColumns = true)
        .groupBy(coalesce(col("source"), lit("legacy")).as("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("source"))
    },

    QueryDef(
      "q93_range_frame_rolling",
      """SELECT user_id, event_id, ts_sec,
        |  count(*) OVER w AS roll_cnt,
        |  CAST(sum(v) OVER w AS BIGINT) AS roll_v_milli
        |FROM (SELECT user_id, event_id,
        |        epoch_ns(ts) // 1000000000 AS ts_sec,
        |        CAST(round(value * 1000) AS BIGINT) AS v
        |      FROM events WHERE user_id < 50)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      // time-based window frame (RANGE BETWEEN 3600 PRECEDING): the
      // rolling last-hour count/sum per user — the frame q08's
      // ROWS-based running total can't express (RANGE bounds follow
      // the ORDER BY VALUE, so ties share one frame and gaps widen
      // it). Values are milli-unit integers so in-frame accumulation
      // order can't flip a bit (engines disagree on sliding-sum
      // evaluation order for doubles). Partitioned by user — each
      // window sorts locally after the keyed exchange, no global sort.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"))
        .rangeBetween(-3600, Window.currentRow)
      events(s, d).filter(col("user_id") < 50)
        .select(col("user_id"), col("event_id"), col("ts_sec"),
          round(col("value") * 1000).cast("long").as("v"))
        .select(col("user_id"), col("event_id"), col("ts_sec"),
          count(lit(1)).over(w).as("roll_cnt"),
          sum(col("v")).over(w).cast("long").as("roll_v_milli"))
        .orderBy(col("user_id"), col("event_id"))
    },

    QueryDef(
      "q94_correlated_subquery",
      """SELECT p_partkey, p_brand,
        |  CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
        |FROM part p
        |WHERE 100 * CAST(round(p_retailprice * 100) AS BIGINT) *
        |    (SELECT count(*) FROM part p2 WHERE p2.p_brand = p.p_brand)
        |  > 103 * (SELECT sum(CAST(round(p2.p_retailprice * 100) AS BIGINT))
        |          FROM part p2 WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      // the SQL entry point with correlated scalar subqueries: parts
      // priced >3% above their brand's average, the predicate
      // cross-multiplied into pure integers (comparing against a
      // double avg would put boundary rows at the mercy of
      // accumulation order). Catalyst decorrelates both subqueries
      // into ONE per-brand aggregate joined back — .explain shows no
      // per-row re-scan, the textbook rewrite a naive engine misses.
      // Same SQL text runs verbatim in DuckDB (the oracle).
      part(s, d).createOrReplaceTempView("part")
      s.sql(
        """SELECT p_partkey, p_brand,
          |  CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
          |FROM part p
          |WHERE 100 * CAST(round(p_retailprice * 100) AS BIGINT) *
          |    (SELECT count(*) FROM part p2 WHERE p2.p_brand = p.p_brand)
          |  > 103 * (SELECT sum(CAST(round(p2.p_retailprice * 100) AS BIGINT))
          |          FROM part p2 WHERE p2.p_brand = p.p_brand)
          |ORDER BY p_partkey""".stripMargin)
    },

    QueryDef(
      "q145_laggard_suppliers",
      """SELECT l1.l_suppkey AS suppkey, count(*) AS n_waiting
        |FROM lineitem l1
        |WHERE l1.l_orderkey IN (SELECT o_orderkey FROM orders
        |                        WHERE o_orderstatus = 'F')
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |              WHERE l3.l_orderkey = l1.l_orderkey
        |                AND l3.l_suppkey <> l1.l_suppkey
        |                AND l3.l_shipdate >= l1.l_shipdate)
        |GROUP BY l1.l_suppkey
        |ORDER BY n_waiting DESC, suppkey
        |LIMIT 25""".stripMargin) { (s, d) =>
      // TPC-H Q21's shape on this schema (no commit/receipt dates in
      // the synthetic lineitem, so "late" = strictly latest ship date
      // in a multi-supplier order): an IN, an EXISTS, and a NOT EXISTS
      // with a non-equi correlated predicate, all over the SAME fact
      // table — the classic decorrelation torture test. Catalyst plans
      // one semi join (IN), one semi join (EXISTS), and one anti join
      // with the range condition attached (NOT EXISTS) — three keyed
      // joins on l_orderkey, no per-row re-scans; at 100 TB all three
      // co-partition on the order key in one shuffle stage each. Same
      // SQL text runs verbatim in DuckDB.
      lineitem(s, d).createOrReplaceTempView("lineitem")
      orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """SELECT l1.l_suppkey AS suppkey, count(*) AS n_waiting
          |FROM lineitem l1
          |WHERE l1.l_orderkey IN (SELECT o_orderkey FROM orders
          |                        WHERE o_orderstatus = 'F')
          |  AND EXISTS (SELECT 1 FROM lineitem l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
          |              WHERE l3.l_orderkey = l1.l_orderkey
          |                AND l3.l_suppkey <> l1.l_suppkey
          |                AND l3.l_shipdate >= l1.l_shipdate)
          |GROUP BY l1.l_suppkey
          |ORDER BY n_waiting DESC, suppkey
          |LIMIT 25""".stripMargin)
    },

    QueryDef(
      "q108_lateral_topn",
      """SELECT n.n_name, t.c_custkey, t.bal_cents
        |FROM nation n,
        |LATERAL (SELECT c_custkey,
        |           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |         FROM customer
        |         WHERE c_nationkey = n.n_nationkey
        |         ORDER BY bal_cents DESC, c_custkey LIMIT 2) t
        |ORDER BY n.n_name, t.bal_cents DESC, t.c_custkey""".stripMargin) {
      (s, d) =>
        // LATERAL correlated subquery join — the SQL spelling of
        // per-group top-k (top-2 customers by balance per nation),
        // run verbatim in both engines. Catalyst decorrelates the
        // lateral limit into a ranked window join rather than
        // re-running the subquery per outer row — same engine shape
        // as q07/q13's window top-k, reached from the SQL surface.
        // Balances compare as integer cents so ordering never
        // depends on double formatting.
        nation(s, d).createOrReplaceTempView("nation")
        customer(s, d).createOrReplaceTempView("customer")
        s.sql(
          """SELECT n.n_name, t.c_custkey, t.bal_cents
            |FROM nation n,
            |LATERAL (SELECT c_custkey,
            |           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
            |         FROM customer
            |         WHERE c_nationkey = n.n_nationkey
            |         ORDER BY bal_cents DESC, c_custkey LIMIT 2) t
            |ORDER BY n.n_name, t.bal_cents DESC, t.c_custkey""".stripMargin)
    },

    QueryDef(
      "q97_distribution_windows",
      """SELECT doc_id, lang, n_chars,
        |  rank() OVER w AS rnk,
        |  CAST(floor(percent_rank() OVER w * 10000) AS BIGINT) AS prank_4,
        |  CAST(floor(cume_dist() OVER w * 10000) AS BIGINT) AS cume_4
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars)
        |QUALIFY doc_id % 29 = 0
        |ORDER BY lang, n_chars, doc_id""".stripMargin) { (s, d) =>
      // distribution window functions (rank / percent_rank /
      // cume_dist): where does each document's length sit within its
      // language? Value-ordered, so ties share a rank and the outputs
      // are independent of any tiebreak — deterministic without an
      // artificial total order. Both percentiles are exact rationals
      // (rank-1)/(n-1) and rows<=x/n computed from the same integers
      // in both engines, floor-scaled before compare. The QUALIFY
      // sampling keeps the output small while exercising the full
      // window; partitions are per-lang, never global.
      documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          rank().over(Window.partitionBy(col("lang"))
            .orderBy(col("n_chars"))).cast("long").as("rnk"),
          floor(percent_rank().over(Window.partitionBy(col("lang"))
            .orderBy(col("n_chars"))) * 10000).cast("long").as("prank_4"),
          floor(cume_dist().over(Window.partitionBy(col("lang"))
            .orderBy(col("n_chars"))) * 10000).cast("long").as("cume_4"))
        .filter(col("doc_id") % 29 === 0)
        .orderBy(col("lang"), col("n_chars"), col("doc_id"))
    },

    QueryDef(
      "q98_editdistance_verify",
      s"""WITH shingles AS ($shinglesSql),
         |${Text.jaccardPairsSql},
         |pfx AS (SELECT doc_id, substring(lower(text), 1, 40) AS p
         |  FROM documents)
         |SELECT d1, d2,
         |  levenshtein(a.p, b.p) AS prefix_edit_dist,
         |  CAST(length(a.p) AS BIGINT) AS len1,
         |  CAST(length(b.p) AS BIGINT) AS len2
         |FROM jpairs JOIN pfx a ON a.doc_id = d1 JOIN pfx b ON b.doc_id = d2
         |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      // edit-distance verification layer: for every shingle-level
      // near-dup pair, the Levenshtein distance between the docs'
      // 40-char prefixes — the character-level second opinion a dedup
      // pipeline uses to separate true near-dups from shingle-hash
      // coincidences. Exact integer DP in both engines (identical
      // definition), and it only ever runs on the CANDIDATE pairs —
      // the O(len²) DP never touches the full corpus cross product.
      val pfx = documents(s, d)
        .select(col("doc_id"), substring(lower(col("text")), 1, 40).as("p"))
      Text.jaccardPairs(s, d)
        .join(pfx.select(col("doc_id").as("d1"), col("p").as("p1")), "d1")
        .join(pfx.select(col("doc_id").as("d2"), col("p").as("p2")), "d2")
        .select(col("d1"), col("d2"),
          levenshtein(col("p1"), col("p2")).as("prefix_edit_dist"),
          length(col("p1")).cast("long").as("len1"),
          length(col("p2")).cast("long").as("len2"))
        .orderBy(col("d1"), col("d2"))
    },

    QueryDef(
      "q99_bpe_pair_counts",
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |tok AS (SELECT unnest(toks) AS tok FROM t),
         |pairs AS (SELECT substring(tok, i, 2) AS pair
         |  FROM tok, UNNEST(range(1, length(tok))) AS u(i)
         |  WHERE length(tok) >= 2)
         |SELECT pair, count(*) AS cnt FROM pairs
         |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 10""".stripMargin) {
      (s, d) =>
        // the first iteration of BPE tokenizer training: global counts
        // of adjacent symbol pairs (here: char bigrams inside tokens —
        // exactly what the first merge rule is chosen from). The pair
        // stream flattens map-side from the cached token arrays in ONE
        // generate (no token-level explode feeding a second explode),
        // then a single keyed partial+final count; at 100 TB the Zipf
        // head is absorbed by map-side combine before the shuffle.
        withToks(s, d)
          .select(explode(expr(
            "flatten(transform(toks, t -> CASE WHEN length(t) >= 2 THEN " +
              "transform(sequence(1, length(t) - 1), " +
              "i -> substring(t, i, 2)) ELSE array() END))")).as("pair"))
          .groupBy(col("pair"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(10)
    },

    QueryDef(
      "q100_cross_source_neardups",
      s"""WITH shingles AS ($shinglesSql),
         |${Text.jaccardPairsSql},
         |src AS (SELECT doc_id, source FROM documents)
         |SELECT least(a.source, b.source) AS src1,
         |  greatest(a.source, b.source) AS src2,
         |  count(*) AS n_pairs
         |FROM jpairs JOIN src a ON a.doc_id = d1 JOIN src b ON b.doc_id = d2
         |WHERE a.source <> b.source
         |GROUP BY src1, src2 ORDER BY src1, src2""".stripMargin) { (s, d) =>
      // cross-source duplication matrix: which sources near-duplicate
      // each other (mirror sites, scraped re-posts) — the per-source-
      // pair count of near-dup doc pairs whose members come from
      // DIFFERENT sources, symmetric via least/greatest. Joins the
      // cached candidate graph against the (broadcastable) doc→source
      // map twice; the output is source², the smallest table in the
      // pipeline, and the input is candidate pairs, never corpus².
      val src = documents(s, d).select(col("doc_id"), col("source"))
      Text.jaccardPairs(s, d)
        .join(broadcast(src.select(col("doc_id").as("d1"),
          col("source").as("s1"))), "d1")
        .join(broadcast(src.select(col("doc_id").as("d2"),
          col("source").as("s2"))), "d2")
        .filter(col("s1") =!= col("s2"))
        .select(least(col("s1"), col("s2")).as("src1"),
          greatest(col("s1"), col("s2")).as("src2"))
        .groupBy(col("src1"), col("src2"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("src1"), col("src2"))
    },

    QueryDef(
      "q101_approx_quantile_audit",
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 1000) AS BIGINT) AS v FROM events),
        |r AS (SELECT event_type, v, row_number() OVER
        |    (PARTITION BY event_type ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM b)
        |SELECT event_type, max(n) AS n_events,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS p50_exact_milli,
        |  CAST(1 AS BIGINT) AS within_rank_tol
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
        // approximate-quantile audit with the oracle pinning the
        // GUARANTEE, not the estimate: percentile_approx (GK sketch,
        // accuracy 10000) must land within rank eps*n + 1 of the true
        // median — the audit computes the approx element's exact rank
        // and emits a 0/1 tolerance flag. The oracle asserts the flag
        // is 1 (plus the exact median element via the rank formula),
        // so the correctness gate FAILS if the sketch ever drifts out
        // of its contract — the q39-style sketch check upgraded from
        // rows-only to a real hash-match. Sketch state is O(1/eps)
        // per group; the rank probe is one broadcast + keyed count.
        import org.apache.spark.sql.expressions.Window
        val b = events(s, d).select(col("event_type"),
          round(col("value") * 1000).cast("long").as("v"))
        val ranked = b
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("event_type")).orderBy(col("v"))).cast("long"))
          .withColumn("n", count(lit(1)).over(
            Window.partitionBy(col("event_type"))))
        val exact = ranked.filter(col("rn") === expr("(n + 1) DIV 2"))
          .groupBy(col("event_type"))
          .agg(max(col("n")).as("n_events"), max(col("v")).as("p50_exact_milli"))
        val apx = b.groupBy(col("event_type"))
          .agg(expr("percentile_approx(v, 0.5, 10000)").as("apx"))
        val rankOfApx = b.join(broadcast(apx), "event_type")
          .groupBy(col("event_type"))
          .agg(sum(when(col("v") <= col("apx"), 1L).otherwise(0L)).as("r"),
            count(lit(1)).as("n"))
        exact.join(broadcast(rankOfApx.select(col("event_type"), col("r"),
            col("n"))), "event_type")
          .select(col("event_type"), col("n_events"), col("p50_exact_milli"),
            when(abs(col("r") - col("n") / 2) <= col("n") / 10000 + 1, 1L)
              .otherwise(0L).as("within_rank_tol"))
          .orderBy(col("event_type"))
    },

    QueryDef(
      "q103_misra_gries_audit",
      s"""WITH tok AS (SELECT unnest($toksSql) AS tok FROM documents),
         |n AS (SELECT count(*) AS n FROM tok),
         |top AS (SELECT tok, count(*) AS exact_cnt FROM tok
         |        GROUP BY tok ORDER BY exact_cnt DESC, tok LIMIT 5)
         |SELECT tok, exact_cnt,
         |  exact_cnt * 65 > n AS present_guaranteed,
         |  TRUE AS within_bound
         |FROM top, n ORDER BY exact_cnt DESC, tok""".stripMargin) { (s, d) =>
      // Misra-Gries heavy-hitters audit — the deterministic
      // counter-based sketch beside q81's probabilistic Count-Min.
      // k=64 counters over the full token stream via the mergeable
      // typed Aggregator (partial buffers are O(k) regardless of
      // vocabulary; Spark's partial/final aggregation IS the merge
      // tree the PODS'12 mergeability result covers). The oracle pins
      // the sketch's CONTRACT, not its order-dependent estimates:
      // for the 5 hottest tokens, exact − estimate must fall in
      // [0, n/(k+1)] (within_bound) and any token with frequency
      // above n/(k+1) must have survived in the sketch
      // (present_guaranteed, derived from exact quantities in both
      // engines; presence itself is implied by the bound since
      // exact > n/(k+1) ≥ exact − estimate forces estimate > 0).
      val k = 64
      val toks = withToks(s, d).select(explode(col("toks")).as("tok"))
      val n = toks.count()
      val bound = n / (k + 1)
      val sketch: Map[String, Long] = {
        import s.implicits._
        toks.as[String].select(
          new Aggregators.MisraGries(k).toColumn).head()
      }
      val est = typedLit(sketch)
      toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("tok")).limit(5)
        .select(col("tok"), col("exact_cnt"),
          (col("exact_cnt") * (k + 1) > n).as("present_guaranteed"),
          (col("exact_cnt") - coalesce(element_at(est, col("tok")), lit(0L)))
            .between(0, bound).as("within_bound"))
        .orderBy(col("exact_cnt").desc, col("tok"))
    },

    QueryDef(
      "q104_weighted_sample",
      s"""SELECT doc_id, lang, n_chars,
         |  (${h32Sql("CAST(doc_id AS VARCHAR)")}) * 100000 // n_chars
         |    AS priority
         |FROM documents WHERE n_chars > 0
         |ORDER BY priority, doc_id LIMIT 50""".stripMargin) { (s, d) =>
      // Deterministic size-weighted sampling — the data-mixing
      // primitive (sample sources proportional to byte weight): each
      // doc draws priority hash/weight, the global k smallest win, so
      // P(selected) grows with n_chars while staying fully
      // reproducible (no RNG), stable under repartitioning and
      // incremental appends (a new doc displaces at most one row) —
      // the weighted analog of q85's per-group min-wise hashing, as
      // priority sampling (Duffield et al.) with the md5-derived
      // integer standing in for the uniform draw. Integer DIV keeps
      // both engines bit-identical; the global top-k plans as
      // TakeOrderedAndProject (per-partition heads merged on the
      // driver), never a full sort.
      graft.cdc.GraftFunctions.register(s)
      documents(s, d)
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr("md5_h32(CAST(doc_id AS STRING)) * 100000 DIV n_chars")
            .as("priority"))
        .orderBy(col("priority"), col("doc_id"))
        .limit(50)
    },

    QueryDef(
      "q124_unigram_surprisal",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf
         |  FROM t, UNNEST(toks) AS u(tok) GROUP BY doc_id, tok),
         |c AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY tok),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         |b AS (SELECT tf.doc_id, tf.tf,
         |    length(bin(total // cnt)) - 1 AS bits
         |  FROM tf JOIN c USING (tok) CROSS JOIN tot),
         |p AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_toks,
         |    CAST(sum(tf * bits) AS BIGINT) AS sum_bits
         |  FROM b GROUP BY doc_id)
         |SELECT doc_id, n_toks, sum_bits,
         |  CAST(sum_bits * 1000 // n_toks AS BIGINT) AS avg_milli_bits
         |FROM p ORDER BY avg_milli_bits DESC, doc_id LIMIT 25""".stripMargin) {
      (s, d) =>
      // Unigram-LM surprisal scoring — the CCNet/Wikipedia-LM quality
      // filter reduced to its corpus-statistics core: score each doc
      // by the average per-token surprisal -log2 p(tok) under the
      // corpus's own unigram distribution. High scorers are rare-token
      // noise (gibberish, hex dumps), low scorers are boilerplate —
      // both removal candidates in a training-data pipeline. The
      // transcendental is eliminated for cross-engine determinism:
      // floor(-log2(cnt/total)) = floor(log2(total/cnt)) =
      // bitlength(total DIV cnt) - 1 exactly (for x in [q, q+1) with
      // q = total DIV cnt >= 1, no power of two lies strictly inside,
      // so floor(log2 x) = bitlength(q) - 1) — whole-bit surprisal in
      // pure int64, identical in both engines, then milli-bit fixed
      // point for the average. Plan shape at 100 TB: the memoized
      // (doc, tok, tf) term index feeds one keyed agg for the vocab
      // table (partitioned by token, never collected), a 1-row total
      // broadcast, one equi-join back on token, and one keyed agg by
      // doc — all partial+final, nothing driver-side; the top-k is
      // TakeOrderedAndProject.
      val tf = Text.docTermFreq(s, d).select(col("doc_id"), col("tok"), col("tf"))
      val c = tf.groupBy(col("tok")).agg(sum(col("tf")).cast("long").as("cnt"))
      val tot = c.agg(sum(col("cnt")).cast("long").as("total"))
      tf.join(c, "tok")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("tf"),
          (length(bin(expr("total DIV cnt"))) - 1).cast("long").as("bits"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).cast("long").as("n_toks"),
          sum(col("tf") * col("bits")).cast("long").as("sum_bits"))
        .select(col("doc_id"), col("n_toks"), col("sum_bits"),
          expr("sum_bits * 1000 DIV n_toks").as("avg_milli_bits"))
        .orderBy(col("avg_milli_bits").desc, col("doc_id"))
        .limit(25)
    },

    QueryDef(
      "q128_dsir_selection",
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents
         |  WHERE len($toksSql) >= 2),
         |f AS (SELECT doc_id, lang,
         |    (${h32Sql("array_to_string(list_slice(toks, i, i + 1), ' ')")})
         |      % 1024 AS b
         |  FROM t, UNNEST(range(1, len(toks))) AS u(i)),
         |c AS (SELECT b, count(*) AS ns,
         |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt
         |  FROM f GROUP BY b),
         |buckets AS (SELECT b, ns + 1 AS cs, nt + 1 AS ct FROM c),
         |tot AS (SELECT sum(cs) AS ts, sum(ct) AS tc FROM buckets),
         |bb AS (SELECT b, length(bin(ts // cs)) - 1 AS bs,
         |    length(bin(tc // ct)) - 1 AS bt
         |  FROM buckets, tot),
         |sc AS (SELECT doc_id, lang,
         |    count(*) AS n_feats, CAST(sum(bs - bt) AS BIGINT) AS score_bits
         |  FROM f JOIN bb USING (b) GROUP BY doc_id, lang)
         |SELECT doc_id, lang, CAST(n_feats AS BIGINT) AS n_feats, score_bits
         |FROM sc ORDER BY score_bits DESC, doc_id LIMIT 25""".stripMargin) {
      (s, d) =>
      // DSIR — Data Selection via Importance Resampling (Xie et al.
      // 2023), the hashed-n-gram importance scorer a pipeline runs to
      // pick target-domain-like documents out of a raw crawl: hash
      // each bigram into 1024 buckets, fit unigram-over-buckets
      // models of the target (lang='en') and raw distributions with
      // add-one smoothing, and score every doc by the summed
      // log-likelihood ratio. Log2 is computed in whole bits via the
      // q124 bit-length identity (floor(log2(total/cnt)) =
      // bitlength(total DIV cnt) - 1), so the score is pure int64 —
      // bits_raw - bits_target summed per feature occurrence;
      // positive = looks like the target. A doc's own lang rides
      // along in the grouping key (functionally dependent on doc_id)
      // to make the ranking self-evident. Scale shape: the feature
      // space is CONSTANT (1024 buckets) regardless of corpus size —
      // both models are one keyed agg with map-side partials that
      // collapse to <= 1024 rows per partition, the smoothed tables
      // and their 1-row totals broadcast, and the per-doc score is
      // one more keyed agg; DSIR's whole point is that this scales
      // linearly to 100 TB where perplexity-filter LMs cannot.
      graft.cdc.GraftFunctions.register(s)
      // the occurrence stream rides the shared docBigrams memo: one
      // hash per bigram TYPE (count-weighted back to occurrences via
      // `c`) instead of re-exploding + re-hashing every position
      val f = Text.docBigrams(s, d)
        .select(col("doc_id"), col("lang"),
          expr("md5_h32(concat_ws(' ', t1, t2)) % 1024").as("b"),
          col("c"))
      val c = f.groupBy(col("b"))
        .agg(sum(col("c")).as("ns"),
          sum(when(col("lang") === "en", col("c")).otherwise(0L))
            .as("nt"))
      val buckets = c.select(col("b"),
        (col("ns") + 1L).as("cs"), (col("nt") + 1L).as("ct"))
      val tot = buckets.agg(sum(col("cs")).as("ts"), sum(col("ct")).as("tc"))
      val bb = buckets.crossJoin(broadcast(tot))
        .select(col("b"),
          (length(bin(expr("ts DIV cs"))) - 1).cast("long").as("bs"),
          (length(bin(expr("tc DIV ct"))) - 1).cast("long").as("bt"))
      // lang joins the grouping keys (functionally dependent on
      // doc_id) so the per-doc reduce stays a HashAggregate — a
      // first(lang) aggregate would force SortAggregate + extra sorts
      f.join(broadcast(bb), "b")
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("c")).cast("long").as("n_feats"),
          sum(col("c") * (col("bs") - col("bt"))).cast("long")
            .as("score_bits"))
        .orderBy(col("score_bits").desc, col("doc_id"))
        .limit(25)
    },

    QueryDef(
      "q134_vocab_drift",
      s"""WITH tf AS (SELECT doc_id, tok, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |sided AS (SELECT tok, tf,
         |    (${h32Sql("CAST(doc_id AS VARCHAR)")}) % 2 = 0 AS side_a
         |  FROM tf),
         |c AS (SELECT tok,
         |    CAST(sum(CASE WHEN side_a THEN tf ELSE 0 END) AS BIGINT) AS ca,
         |    CAST(sum(CASE WHEN side_a THEN 0 ELSE tf END) AS BIGINT) AS cb
         |  FROM sided GROUP BY tok),
         |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
         |    CAST(sum(cb) AS BIGINT) AS nb FROM c),
         |r AS (SELECT tok, ca, cb,
         |    ca * 1000000 // na AS ra, cb * 1000000 // nb AS rb
         |  FROM c, tot WHERE ca + cb >= 50)
         |SELECT tok, ca, cb, CAST(ra AS BIGINT) AS ra_ppm,
         |  CAST(rb AS BIGINT) AS rb_ppm,
         |  CAST(abs(ra - rb) AS BIGINT) AS drift_ppm
         |FROM r ORDER BY drift_ppm DESC, tok LIMIT 25""".stripMargin) {
      (s, d) =>
      // Vocabulary drift between corpus snapshots — the monitoring
      // query behind "did my crawl shift?": hash-split the corpus
      // into two pseudo-snapshots, compute each token's rate in
      // parts-per-million of its snapshot's token mass, and rank by
      // absolute rate change, support-filtered (ca+cb >= 50) so rare
      // tokens don't dominate with noise. In production the two
      // sides are consecutive snapshot partitions; the hash split
      // makes the fixture deterministic. Everything is int64-safe at
      // any scale (rates are bounded by 1e6, counts by corpus size):
      // one keyed (doc, tok) agg feeds one keyed token agg with BOTH
      // sides accumulated in a single pass (conditional sums — no
      // self-join of snapshots), a 1-row total broadcast, and a
      // TakeOrderedAndProject top-k. At 100 TB the token table
      // partitions by tok and never collects.
      graft.cdc.GraftFunctions.register(s)
      val tf = Text.docTermFreq(s, d)
        .select(col("doc_id"), col("tok"), col("tf"))
      val sided = tf.withColumn("side_a",
        pmod(graft.cdc.GraftFunctions.md5_h32(
          col("doc_id").cast("string")), lit(2L)) === 0L)
      val c = sided.groupBy(col("tok"))
        .agg(sum(when(col("side_a"), col("tf")).otherwise(0L))
            .cast("long").as("ca"),
          sum(when(col("side_a"), 0L).otherwise(col("tf")))
            .cast("long").as("cb"))
      val tot = c.agg(sum(col("ca")).cast("long").as("na"),
        sum(col("cb")).cast("long").as("nb"))
      c.filter(col("ca") + col("cb") >= 50)
        .crossJoin(broadcast(tot))
        .select(col("tok"), col("ca"), col("cb"),
          expr("ca * 1000000 DIV na").as("ra_ppm"),
          expr("cb * 1000000 DIV nb").as("rb_ppm"))
        .withColumn("drift_ppm", abs(col("ra_ppm") - col("rb_ppm")))
        .orderBy(col("drift_ppm").desc, col("tok"))
        .limit(25)
    },

    QueryDef(
      "q142_bigram_fluency",
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |pr AS (SELECT doc_id, lang, toks[i] AS t1, toks[i+1] AS t2
         |  FROM t, UNNEST(range(1, len(toks))) AS u(i)
         |  WHERE len(toks) >= 2),
         |c2 AS (SELECT t1, t2, count(*) AS c2 FROM pr GROUP BY t1, t2),
         |c1 AS (SELECT t1, count(*) AS c1 FROM pr GROUP BY t1),
         |bp AS (SELECT c2.t1, c2.t2,
         |    CAST(c2.c2 * 1000000 // c1.c1 AS BIGINT) AS p_ppm
         |  FROM c2 JOIN c1 ON c1.t1 = c2.t1),
         |ds AS (SELECT pr.doc_id, pr.lang,
         |    CAST(sum(bp.p_ppm) // count(*) AS BIGINT) AS fl
         |  FROM pr JOIN bp ON bp.t1 = pr.t1 AND bp.t2 = pr.t2
         |  GROUP BY pr.doc_id, pr.lang)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(fl) // count(*) AS BIGINT) AS avg_fluency_ppm,
         |  CAST(min(fl) AS BIGINT) AS min_fluency_ppm,
         |  CAST(max(fl) AS BIGINT) AS max_fluency_ppm
         |FROM ds GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      // LM-fluency quality proxy (the CCNet-style perplexity filter,
      // with the corpus itself as the language model): a doc's score
      // is its mean conditional bigram probability P(t2|t1), in ppm.
      // Everything is integer (count ratios via DIV) — no log(), whose
      // last-ulp behavior differs between engines and would poison the
      // exact-hash gate. Scale shape: both the model (c2) and the
      // per-doc scores fold off the memoized per-doc bigram-type
      // index — no per-query corpus explode; c2⋈c1 runs on the MODEL
      // relation (bigram types, ≪ occurrences) and the one join the
      // doc-type rows pay is a keyed equi-join against the scored
      // bigram table — partitioned by (t1,t2), skew bounded by the
      // Zipf head, which AQE splits. Per-doc then per-lang aggs
      // reduce to ≤ |langs| rows.
      docFluency(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(fl) DIV count(*)").as("avg_fluency_ppm"),
          min(col("fl")).as("min_fluency_ppm"),
          max(col("fl")).as("max_fluency_ppm"))
        .orderBy(col("lang"))
    },

    QueryDef(
      "q244_perplexity_terciles",
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |pr AS (SELECT doc_id, lang, toks[i] AS t1, toks[i+1] AS t2
         |  FROM t, UNNEST(range(1, len(toks))) AS u(i)
         |  WHERE len(toks) >= 2),
         |c2 AS (SELECT t1, t2, count(*) AS c2 FROM pr GROUP BY t1, t2),
         |c1 AS (SELECT t1, count(*) AS c1 FROM pr GROUP BY t1),
         |bp AS (SELECT c2.t1, c2.t2,
         |    CAST(c2.c2 * 1000000 // c1.c1 AS BIGINT) AS p_ppm
         |  FROM c2 JOIN c1 ON c1.t1 = c2.t1),
         |ds AS (SELECT pr.doc_id, pr.lang,
         |    CAST(sum(bp.p_ppm) // count(*) AS BIGINT) AS fl
         |  FROM pr JOIN bp ON bp.t1 = pr.t1 AND bp.t2 = pr.t2
         |  GROUP BY pr.doc_id, pr.lang),
         |sd AS (SELECT ds.doc_id, ds.lang, d.source, ds.fl
         |  FROM ds JOIN documents d ON d.doc_id = ds.doc_id),
         |b AS (SELECT lang, source, fl,
         |    ntile(3) OVER (PARTITION BY lang ORDER BY fl, doc_id)
         |      AS bucket
         |  FROM sd)
         |SELECT lang, source, bucket, count(*) AS n_docs,
         |  CAST(sum(fl) // count(*) AS BIGINT) AS avg_fl_ppm
         |FROM b GROUP BY lang, source, bucket
         |ORDER BY lang, source, bucket""".stripMargin) { (s, d) =>
      // The CCNet bucketing pass: score every doc with the corpus LM
      // (the shared [[docFluency]] memo — q142's integer bigram
      // fluency), split each language into head/middle/tail TERCILES
      // of the score, and report the (lang, source, bucket) census a
      // curation pipeline keeps (train on head+middle, drop tail).
      // The tercile boundary is the exact ntile(3) cut — but computed
      // WITHOUT the per-lang window sort the oracle states: each
      // doc's (fl, doc_id) packs into one int64 (fl ≤ 1e6 < 2^30
      // ppm; doc_id < 2^33 here — at larger id domains the pack
      // widens to two bisection keys), and the per-lang k1-th/k2-th
      // smallest packed keys come from the q166 vectorized histogram
      // bisection: every round buckets all langs and both targets in
      // ONE broadcast-join scan of the cached per-doc rows, driver
      // state one (lo, hi, need) triple per (lang, target). Rank
      // math mirrors ntile exactly: bucket sizes n DIV 3 with the
      // first n%3 buckets taking the extra row, so rows ranked
      // ≤ k1 are bucket 1, ≤ k2 bucket 2, else 3 — pure map-side
      // compare against the broadcast boundary, then one keyed agg.
      // At 100 TB: no global or per-lang sort anywhere; ~3 rounds of
      // log_16384 bisection over the packed range, each a keyed agg.
      val sd = docFluency(s, d)
        .join(documents(s, d).select(col("doc_id"), col("source")),
          "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("fl"),
          (col("fl") * lit(1L << 33) + col("doc_id")).as("pk"))
        .tcache()
      val stats = boundedCollect(
          sd.groupBy(col("lang")).agg(count(lit(1)).as("n"),
            min(col("pk")).as("lo"), max(col("pk")).as("hi")),
          1024, "q244 per-lang moments (one row per lang)")
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3)))
        final case class St(lang: String, tgt: String, var lo: Long,
          var hi: Long, var need: Long)
        val live = scala.collection.mutable.ArrayBuffer[St]()
        stats.foreach { case (g, n, lo, hi) =>
          val s1 = n / 3L + (if (n % 3L >= 1L) 1L else 0L)
          val s2 = n / 3L + (if (n % 3L >= 2L) 1L else 0L)
          live += St(g, "k1", lo, hi, s1)
          live += St(g, "k2", lo, hi, s1 + s2)
        }
        val spark = s
        import spark.implicits._
        while (live.exists(st => st.lo < st.hi)) {
          val open = live.filter(st => st.lo < st.hi)
          // Constant driver budget regardless of language count: the
          // per-lang stats collect admits 1024 langs (2048 targets),
          // so a FIXED 16384-bucket width would need a 16385×2048-row
          // collect. Instead the bucket count shrinks as more targets
          // are open — total histogram rows stay ≤ ~2^20 and the
          // bisection just takes more (still logarithmic) rounds when
          // the corpus is very multilingual (r11 advisor finding).
          val nBuckets = math.max(16L, (16384L * 64L) / open.size)
          val bounds = open.map(st => (st.lang, st.tgt, st.lo, st.hi,
            (st.hi - st.lo) / nBuckets + 1L)).toSeq
            .toDF("lang", "tgt", "blo", "bhi", "w")
          val hists = boundedCollect(
            sd.join(broadcast(bounds), "lang")
              .filter(col("pk") >= col("blo") && col("pk") <= col("bhi"))
              .groupBy(col("lang"), col("tgt"),
                expr("(pk - blo) DIV w").as("bkt"))
              .agg(count(lit(1)).as("c")),
            ((nBuckets + 1L) * open.size).toInt + 16,
            "q244 bisection histograms (<=buckets+1 x open targets)")
            .map(r => ((r.getString(0), r.getString(1)),
              (r.getLong(2), r.getLong(3))))
            .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1)).toMap
          open.foreach { st =>
            val width = (st.hi - st.lo) / nBuckets + 1L
            var acc = 0L
            val hist = hists((st.lang, st.tgt))
            var i = 0
            var found = false
            while (i < hist.length && !found) {
              val (bkt, c) = hist(i)
              if (acc + c >= st.need) {
                st.need -= acc
                st.lo = st.lo + bkt * width
                st.hi = math.min(st.hi, st.lo + width - 1L)
                found = true
              } else { acc += c; i += 1 }
            }
          }
        }
        val bd = live.groupBy(_.lang).map { case (g, sts) =>
          (g, sts.find(_.tgt == "k1").get.lo,
            sts.find(_.tgt == "k2").get.lo)
        }.toSeq.toDF("lang", "b1", "b2")
        sd.join(broadcast(bd), "lang")
          .select(col("lang"), col("source"), col("fl"),
            when(col("pk") <= col("b1"), 1L)
              .when(col("pk") <= col("b2"), 2L)
              .otherwise(3L).as("bucket"))
          .groupBy(col("lang"), col("source"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            expr("sum(fl) DIV count(*)").as("avg_fl_ppm"))
          .orderBy(col("lang"), col("source"), col("bucket"))
    },

    QueryDef(
      "q252_signal_rank_corr",
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |pr AS (SELECT doc_id, lang, toks[i] AS t1, toks[i+1] AS t2
         |  FROM t, UNNEST(range(1, len(toks))) AS u(i)
         |  WHERE len(toks) >= 2),
         |c2 AS (SELECT t1, t2, count(*) AS c2 FROM pr GROUP BY t1, t2),
         |c1 AS (SELECT t1, count(*) AS c1 FROM pr GROUP BY t1),
         |bp AS (SELECT c2.t1, c2.t2,
         |    CAST(c2.c2 * 1000000 // c1.c1 AS BIGINT) AS p_ppm
         |  FROM c2 JOIN c1 ON c1.t1 = c2.t1),
         |ds AS (SELECT pr.doc_id, pr.lang,
         |    CAST(sum(bp.p_ppm) // count(*) AS BIGINT) AS fl
         |  FROM pr JOIN bp ON bp.t1 = pr.t1 AND bp.t2 = pr.t2
         |  GROUP BY pr.doc_id, pr.lang),
         |${Text.qualityScoresSql},
         |z AS (SELECT ds.lang,
         |    row_number() OVER (PARTITION BY ds.lang
         |      ORDER BY qu.q, ds.doc_id) AS rq,
         |    row_number() OVER (PARTITION BY ds.lang
         |      ORDER BY ds.fl, ds.doc_id) AS rf
         |  FROM ds JOIN qual qu ON qu.doc_id = ds.doc_id),
         |g AS (SELECT lang, count(*) AS n,
         |    sum((rq - rf) * (rq - rf)) AS sum_d2
         |  FROM z GROUP BY lang HAVING count(*) >= 2)
         |SELECT lang, CAST(n AS BIGINT) AS n_docs,
         |  CAST(sum_d2 AS BIGINT) AS sum_d2,
         |  CAST(((CAST(n AS HUGEINT) * n * n - n) - 3 * sum_d2) * 1000
         |    // (CAST(n AS HUGEINT) * n * n - n) AS BIGINT)
         |    AS spearman_agree_milli
         |FROM g ORDER BY lang""".stripMargin) { (s, d) =>
      // Rank correlation between two quality signals — the sanity
      // check a curation pipeline runs before stacking filters: do
      // the heuristic quality score (q22) and the LM fluency score
      // (q142) agree on each language's ORDERING, or is one of them
      // redundant/contradictory? Exact Spearman in integers: ranks
      // are deterministic total orders ((score, doc_id) tie-break,
      // identical in both engines), and instead of ρ ∈ [-1, 1] —
      // whose negative numerator would split DIV (trunc) from //
      // (floor) — we report agree_milli = (ρ+1)/2 · 1000 =
      // (den − 3·Σd²)·1000 / den ∈ [0, 1000] (1000 = identical
      // ranking, 0 = exact reversal, 500 = uncorrelated), with
      // den = n³−n in DECIMAL(38,0)/HUGEINT so the cubic never
      // overflows int64 at corpus-scale per-lang counts. Both score
      // relations are shared memos (docFluency, qualityScores'
      // relation) — the query adds one join, two per-lang rank
      // windows, one keyed agg. Exact per-element ranks inherently
      // need a per-lang total order; at 100 TB that is the classic
      // two-pass range-partitioned sort with per-partition offset
      // carry (no single hot task), which the lang-partitioned
      // window states declaratively at test scale.
      val j0 = docFluency(s, d)
        .join(Text.qualityScores(s, d), "doc_id")
      val wq = Window.partitionBy(col("lang"))
        .orderBy(col("q"), col("doc_id"))
      val wf = Window.partitionBy(col("lang"))
        .orderBy(col("fl"), col("doc_id"))
      j0.select(col("lang"),
          row_number().over(wq).cast("long").as("rq"),
          row_number().over(wf).cast("long").as("rf"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum((col("rq") - col("rf")) * (col("rq") - col("rf")))
            .as("sum_d2"))
        .filter(col("n") >= 2)
        .select(col("lang"), col("n").as("n_docs"), col("sum_d2"),
          expr("(CAST(n AS DECIMAL(38,0)) * n * n - n - 3 * sum_d2)" +
            " * 1000 DIV (CAST(n AS DECIMAL(38,0)) * n * n - n)")
            .as("spearman_agree_milli"))
        .orderBy(col("lang"))
    },

    QueryDef(
      "q253_distinct_ngram_diversity",
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |tots AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(len(toks)) AS BIGINT) AS t1,
         |    CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT) AS t2,
         |    CAST(sum(greatest(len(toks) - 2, 0)) AS BIGINT) AS t3
         |  FROM t GROUP BY source),
         |u1 AS (SELECT source, count(*) AS d1 FROM (
         |    SELECT DISTINCT source, tok FROM (
         |      SELECT source, unnest(toks) AS tok FROM t)) GROUP BY source),
         |u2 AS (SELECT source, count(*) AS d2 FROM (
         |    SELECT DISTINCT source, toks[i] AS a, toks[i+1] AS b
         |    FROM t, UNNEST(range(1, len(toks))) AS v(i)
         |    WHERE len(toks) >= 2) GROUP BY source),
         |u3 AS (SELECT source, count(*) AS d3 FROM (
         |    SELECT DISTINCT source, toks[i] AS a, toks[i+1] AS b,
         |      toks[i+2] AS c
         |    FROM t, UNNEST(range(1, len(toks) - 1)) AS v(i)
         |    WHERE len(toks) >= 3) GROUP BY source)
         |SELECT tots.source, tots.n_docs, tots.t1 AS tot_tokens,
         |  CAST(u1.d1 * 1000000 // nullif(tots.t1, 0) AS BIGINT)
         |    AS uniq1_ppm,
         |  CAST(u2.d2 * 1000000 // nullif(tots.t2, 0) AS BIGINT)
         |    AS uniq2_ppm,
         |  CAST(u3.d3 * 1000000 // nullif(tots.t3, 0) AS BIGINT)
         |    AS uniq3_ppm
         |FROM tots JOIN u1 ON u1.source = tots.source
         |JOIN u2 ON u2.source = tots.source
         |JOIN u3 ON u3.source = tots.source
         |ORDER BY tots.source""".stripMargin) { (s, d) =>
      // Distinct-n diversity census — the self-repetition metric run
      // on scraped or model-generated corpora before admitting a
      // source (low distinct-2/3 ratios = template spam or decoding
      // collapse; the corpus-side cousin of Self-BLEU). Per source:
      // distinct n-gram TYPES over n-gram OCCURRENCES for n = 1..3,
      // in exact ppm. The unigram and bigram arms fold off the
      // memoized [[Text.docTermFreq]]/[[Text.docBigrams]] indexes
      // (per-doc types — re-deduped per source, never re-exploding
      // the occurrence stream); the trigram arm dedups map-side
      // in-array before its one exploded distinct. Totals are
      // closed-form per doc (len, len-1, len-2), so the census adds
      // one keyed rollup + three distinct-counts, all shuffling
      // (source, gram) keys only. At 100 TB: distinct-count of
      // (source, gram) is the same shuffle a groupBy pays — bounded
      // by gram-type count, Zipf-capped, never occurrence volume.
      val base = Text.withToks(s, d)
      val tots = base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks")).cast("long")).as("t1"),
          sum(greatest(size(col("toks")) - 1, lit(0)).cast("long"))
            .as("t2"),
          sum(greatest(size(col("toks")) - 2, lit(0)).cast("long"))
            .as("t3"))
      val srcOf = base.select(col("doc_id"), col("source"))
      val u1 = Text.docTermFreq(s, d).join(srcOf, "doc_id")
        .select(col("source"), col("tok")).distinct()
        .groupBy(col("source")).agg(count(lit(1)).as("d1"))
      val u2 = Text.docBigrams(s, d).join(srcOf, "doc_id")
        .select(col("source"), col("t1"), col("t2")).distinct()
        .groupBy(col("source")).agg(count(lit(1)).as("d2"))
      val u3 = base.filter(size(col("toks")) >= 3)
        .select(col("source"), explode(array_distinct(expr(
          "transform(sequence(0, size(toks)-3)," +
            " i -> struct(toks[i] AS a, toks[i+1] AS b, toks[i+2] AS c))")))
          .as("g"))
        .select(col("source"), col("g.a"), col("g.b"), col("g.c"))
        .distinct()
        .groupBy(col("source")).agg(count(lit(1)).as("d3"))
      tots.join(u1, "source").join(u2, "source").join(u3, "source")
        .select(col("source"), col("n_docs"), col("t1").as("tot_tokens"),
          expr("d1 * 1000000 DIV nullif(t1, 0)").as("uniq1_ppm"),
          expr("d2 * 1000000 DIV nullif(t2, 0)").as("uniq2_ppm"),
          expr("d3 * 1000000 DIV nullif(t3, 0)").as("uniq3_ppm"))
        .orderBy(col("source"))
    },

    QueryDef(
      "q254_epoch_budget_plan",
      s"""WITH t AS (SELECT doc_id, source,
         |    len($toksSql) AS nt FROM documents),
         |${Text.qualityScoresSql},
         |src AS (SELECT t.source, count(*) AS n_docs,
         |    CAST(sum(t.nt) AS BIGINT) AS mass,
         |    CAST(sum(qu.q) // count(*) AS BIGINT) AS q_avg
         |  FROM t JOIN qual qu ON qu.doc_id = t.doc_id
         |  GROUP BY t.source),
         |tot AS (SELECT CAST(sum(mass) AS BIGINT) AS m_total FROM src),
         |pre AS (SELECT a.source, a.mass, a.q_avg,
         |    coalesce(CAST(sum(3 * b.mass) AS BIGINT), 0) AS p_prev,
         |    count(b.source) AS n_better
         |  FROM src a LEFT JOIN src b
         |    ON b.q_avg > a.q_avg
         |    OR (b.q_avg = a.q_avg AND b.source < a.source)
         |  GROUP BY a.source, a.mass, a.q_avg)
         |SELECT p.source, CAST(p.n_better + 1 AS BIGINT) AS rnk,
         |  p.q_avg AS quality_avg, p.mass AS mass_tokens,
         |  CAST(1 + least(3 * p.mass,
         |    greatest(0, t.m_total - p.p_prev)) // p.mass AS BIGINT)
         |    AS epochs,
         |  CAST(p.mass * (1 + least(3 * p.mass,
         |    greatest(0, t.m_total - p.p_prev)) // p.mass) AS BIGINT)
         |    AS planned_tokens
         |FROM pre p, tot t ORDER BY p.source""".stripMargin) { (s, d) =>
      // Data-constrained epoch planning — the repeat-budget allocation
      // a pipeline computes when the token budget exceeds the fresh
      // corpus (train B = 2·M tokens on M tokens of data): every
      // source trains at least one epoch, and the extra-epoch pool
      // (R = B − M = M) goes greedily to the highest-quality sources
      // first, capped at 4 total epochs each (the empirical
      // diminishing-returns knee for data repetition). The greedy is
      // CLOSED-FORM, not a loop: rank sources by (avg q22 quality,
      // name), prefix-sum the 3·mass extra-epoch demand above each
      // source via the broadcast-triangle join (the q228 shape — the
      // source relation is a corpus rollup of bounded cardinality, so
      // the triangle is a broadcast, never a window over a global
      // sort), and each source's grant is
      // clamp(R − demand_above, 0, 3·mass) — whole epochs only,
      // remainders are not reallocated (stated, deterministic).
      // All integer; both engines state the identical arithmetic.
      val qual = Text.qualityScores(s, d)
      val src = Text.withToks(s, d)
        .select(col("doc_id"), col("source"),
          size(col("toks")).cast("long").as("nt"))
        .join(qual, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("mass"),
          expr("sum(q) DIV count(*)").as("q_avg"))
        .tcache()
      val tot = src.agg(sum(col("mass")).as("m_total"))
      val better = src.select(col("source").as("bs"),
        col("q_avg").as("bq"), col("mass").as("bm"))
      src.join(broadcast(better),
          col("bq") > col("q_avg") ||
            (col("bq") === col("q_avg") && col("bs") < col("source")),
          "left")
        .groupBy(col("source"), col("mass"), col("q_avg"))
        .agg(coalesce(sum(col("bm") * 3), lit(0L)).as("p_prev"),
          count(col("bs")).as("n_better"))
        .crossJoin(broadcast(tot))
        .select(col("source"), (col("n_better") + 1).as("rnk"),
          col("q_avg").as("quality_avg"), col("mass").as("mass_tokens"),
          expr("1 + least(3 * mass, greatest(0, m_total - p_prev))" +
            " DIV mass").as("epochs"),
          expr("mass * (1 + least(3 * mass," +
            " greatest(0, m_total - p_prev)) DIV mass)")
            .as("planned_tokens"))
        .orderBy(col("source"))
    },

    // ---- q279: post-erasure epoch-budget re-plan --------------------
    // The composition the erasure cascade forces: after a forget
    // sweep (q277's md5 % 17 == 3 split) removes token mass unevenly
    // across sources, the q254 repeat-budget allocation must be
    // re-derived on the SURVIVING corpus — the budget itself shrinks
    // (B = 2·M tracks the corpus), quality ranks can flip (erased
    // docs move a source's average), and the greedy extra-epoch
    // pool redistributes. One query runs the identical closed-form
    // allocation twice (full corpus / survivors) and reports the
    // per-source delta — the number a training run needs before it
    // can honor an erasure SLA without silently shrinking its token
    // budget. Scale shape: both plans are corpus rollups (bounded
    // source cardinality) + the broadcast-triangle prefix sum; the
    // only corpus-scale work is the one token/quality scan both
    // plans share.
    QueryDef(
      "q279_post_erasure_budget_replan",
      s"""WITH t AS (SELECT doc_id, source, len($toksSql) AS nt,
         |    (${Text.h32Sql("CAST(doc_id AS VARCHAR)")}) % 17 = 3
         |      AS forget
         |  FROM documents),
         |${Text.qualityScoresSql},
         |base AS (SELECT t.source, t.nt, t.forget, qu.q
         |  FROM t JOIN qual qu ON qu.doc_id = t.doc_id),
         |${replanChainSql("a", "")},
         |${replanChainSql("b", "WHERE NOT forget")}
         |SELECT pa.source,
         |  pa.mass AS mass_before,
         |  CAST(coalesce(pb.mass, 0) AS BIGINT) AS mass_after,
         |  pa.epochs AS epochs_before,
         |  CAST(coalesce(pb.epochs, 0) AS BIGINT) AS epochs_after,
         |  CAST(coalesce(pb.planned, 0) - pa.planned AS BIGINT)
         |    AS planned_delta
         |FROM plana pa LEFT JOIN planb pb ON pb.source = pa.source
         |ORDER BY pa.source""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val forgetOf = pmod(graft.cdc.GraftFunctions.md5_h32(
        col("doc_id").cast("string")), lit(17L)) === 3L
      // one corpus scan feeds both plans
      val base = Text.withToks(s, d)
        .select(col("doc_id"), col("source"),
          size(col("toks")).cast("long").as("nt"),
          forgetOf.as("forget"))
        .join(Text.qualityScores(s, d), "doc_id")
        .select(col("source"), col("nt"), col("forget"), col("q"))
        .tcache()
      def planOf(docs: DataFrame): DataFrame = {
        val src = docs.groupBy(col("source"))
          .agg(sum(col("nt")).as("mass"),
            expr("sum(q) DIV count(*)").as("q_avg"))
          .tcache()
        val tot = src.agg(sum(col("mass")).as("m_total"))
        val better = src.select(col("source").as("bs"),
          col("q_avg").as("bq"), col("mass").as("bm"))
        src.join(broadcast(better),
            col("bq") > col("q_avg") ||
              (col("bq") === col("q_avg") && col("bs") < col("source")),
            "left")
          .groupBy(col("source"), col("mass"), col("q_avg"))
          .agg(coalesce(sum(col("bm") * 3), lit(0L)).as("p_prev"))
          .crossJoin(broadcast(tot))
          .select(col("source"), col("mass"),
            expr("1 + least(3 * mass, greatest(0, m_total - p_prev))" +
              " DIV mass").as("epochs"),
            expr("mass * (1 + least(3 * mass," +
              " greatest(0, m_total - p_prev)) DIV mass)").as("planned"))
      }
      val pa = planOf(base)
      val pb = planOf(base.filter(!col("forget")))
      // LEFT join: a source whose docs are ALL in the forget split
      // must render with mass_after = 0 and a fully-negative delta —
      // vanishing from the report would hide exactly the worst case
      // the re-plan exists to surface (review finding)
      pa.as("a").join(pb.as("b"), Seq("source"), "left")
        .select(col("source"),
          col("a.mass").as("mass_before"),
          coalesce(col("b.mass"), lit(0L)).as("mass_after"),
          col("a.epochs").as("epochs_before"),
          coalesce(col("b.epochs"), lit(0L)).as("epochs_after"),
          (coalesce(col("b.planned"), lit(0L)) - col("a.planned"))
            .as("planned_delta"))
        .orderBy(col("source"))
    }
  )

  /** One arm of q279's doubled q254 chain: rollup → total → triangle
    * prefix sum → plan, suffixed so the pre/post arms coexist in one
    * WITH clause. `where` filters the shared `base` relation. */
  private def replanChainSql(sfx: String, where: String): String =
    s"""src$sfx AS (SELECT source, CAST(sum(nt) AS BIGINT) AS mass,
       |    CAST(sum(q) // count(*) AS BIGINT) AS q_avg
       |  FROM base $where GROUP BY source),
       |tot$sfx AS (SELECT CAST(sum(mass) AS BIGINT) AS m_total
       |  FROM src$sfx),
       |pre$sfx AS (SELECT a.source, a.mass, a.q_avg,
       |    coalesce(CAST(sum(3 * b.mass) AS BIGINT), 0) AS p_prev
       |  FROM src$sfx a LEFT JOIN src$sfx b
       |    ON b.q_avg > a.q_avg
       |    OR (b.q_avg = a.q_avg AND b.source < a.source)
       |  GROUP BY a.source, a.mass, a.q_avg),
       |plan$sfx AS (SELECT p.source, p.mass,
       |    CAST(1 + least(3 * p.mass,
       |      greatest(0, t.m_total - p.p_prev)) // p.mass AS BIGINT)
       |      AS epochs,
       |    CAST(p.mass * (1 + least(3 * p.mass,
       |      greatest(0, t.m_total - p.p_prev)) // p.mass) AS BIGINT)
       |      AS planned
       |  FROM pre$sfx p, tot$sfx t)""".stripMargin
}
