package graft.ops

import org.apache.spark.sql.functions._

/** Round-5 operators: the scale-oriented surface a 100 TB deployment
  * leans on daily — CDC time travel (snapshot diff between two LSN
  * watermarks in ONE shuffle), hot-key detection, BM25 ranked
  * retrieval, the salted-replicate skew join, partial-aggregate state
  * merge (the incremental-view-maintenance shape), vocabulary growth,
  * and a sketch-accuracy audit (MinHash estimate vs exact Jaccard).
  *
  * Cross-engine determinism follows the repo conventions: integer
  * arithmetic (`DIV` ≡ DuckDB `//`) wherever accumulation order could
  * matter; double math only in per-row expressions with a textually
  * identical operation sequence on both sides; every query ends in a
  * deterministic total order.
  */
object Scale {
  import Tables._

  /** events.event_id doubles as the LSN in the synthetic CDC mapping
    * (same convention as q16/q38). */
  private val opSql =
    """CASE event_type WHEN 'signup' THEN 'insert'
      |  WHEN 'error' THEN 'delete' ELSE 'update' END""".stripMargin

  private val opCol =
    when(col("event_type") === "signup", "insert")
      .when(col("event_type") === "error", "delete")
      .otherwise("update")

  /** BM25 term weight, ONE string used verbatim by both the Spark
    * `expr` and the DuckDB oracle — every integer input is CAST to
    * DOUBLE at the leaves so both engines run the identical IEEE
    * double op sequence (a bare `0.5` literal would otherwise pull
    * the whole formula into engine-specific DECIMAL arithmetic). */
  private def bm25W(k: String): String =
    s"((CAST(n AS DOUBLE) - CAST(df_$k AS DOUBLE) + 0.5)" +
      s" / (CAST(df_$k AS DOUBLE) + 0.5)) * (CAST(tf_$k AS DOUBLE) * 2.2)" +
      s" / (CAST(tf_$k AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)" +
      s" / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))"

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q74_time_travel_diff",
      s"""WITH l AS (SELECT max(event_id) // 2 AS l1 FROM events),
         |ev AS (SELECT user_id, event_id, value, $opSql AS op FROM events),
         |s1 AS (SELECT user_id, arg_max(op, event_id) AS op1,
         |         arg_max(value, event_id) AS v1
         |       FROM ev, l WHERE event_id <= l.l1 GROUP BY user_id),
         |s2 AS (SELECT user_id, arg_max(op, event_id) AS op2,
         |         arg_max(value, event_id) AS v2
         |       FROM ev GROUP BY user_id),
         |j AS (SELECT s2.user_id, op1, v1, op2, v2
         |      FROM s2 LEFT JOIN s1 ON s1.user_id = s2.user_id),
         |c AS (SELECT CASE
         |    WHEN (op1 IS NULL OR op1 = 'delete') AND op2 <> 'delete'
         |      THEN 'added'
         |    WHEN op1 IS NOT NULL AND op1 <> 'delete' AND op2 = 'delete'
         |      THEN 'removed'
         |    WHEN op1 IS NOT NULL AND op1 <> 'delete' AND op2 <> 'delete'
         |         AND v1 <> v2 THEN 'changed'
         |    WHEN op1 IS NOT NULL AND op1 <> 'delete' AND op2 <> 'delete'
         |      THEN 'unchanged'
         |    ELSE NULL END AS status FROM j)
         |SELECT status, count(*) AS n_keys FROM c
         |WHERE status IS NOT NULL GROUP BY status ORDER BY status""".stripMargin) {
      (s, d) =>
        // CDC time travel: reconstruct the keyed snapshot at TWO LSN
        // watermarks (half-way and head) and diff them — added /
        // removed / changed / unchanged keys. The engine does it in a
        // SINGLE keyed shuffle: both snapshots come out of one groupBy
        // via max_by over a conditionally-nulled ordering key (rows
        // past the watermark contribute a NULL ordering value, which
        // max_by ignores) — at 100 TB that halves the passes of the
        // oracle's two-aggregation + join shape. The watermark itself
        // is a 1-row broadcast, not a driver-side collect.
        val ev = events(s, d).withColumn("op", opCol)
          .select(col("user_id"), col("event_id"), col("value"), col("op"))
        val l1 = ev.agg(expr("max(event_id) DIV 2").as("l1"))
        ev.crossJoin(broadcast(l1))
          .groupBy(col("user_id"))
          .agg(
            expr("max_by(op, CASE WHEN event_id <= l1 THEN event_id END)")
              .as("op1"),
            expr("max_by(value, CASE WHEN event_id <= l1 THEN event_id END)")
              .as("v1"),
            expr("max_by(op, event_id)").as("op2"),
            expr("max_by(value, event_id)").as("v2"))
          .select(
            when((col("op1").isNull || col("op1") === "delete") &&
              col("op2") =!= "delete", "added")
              .when(col("op1").isNotNull && col("op1") =!= "delete" &&
                col("op2") === "delete", "removed")
              .when(col("op1").isNotNull && col("op1") =!= "delete" &&
                col("op2") =!= "delete" && col("v1") =!= col("v2"), "changed")
              .when(col("op1").isNotNull && col("op1") =!= "delete" &&
                col("op2") =!= "delete", "unchanged")
              .as("status"))
          .filter(col("status").isNotNull)
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n_keys"))
          .orderBy(col("status"))
    },

    QueryDef(
      "q75_hot_keys",
      s"""SELECT user_id, count(*) AS n_changes,
         |  CAST(sum(CASE WHEN op = 'insert' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_inserts,
         |  CAST(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_deletes,
         |  max(event_id) AS last_lsn
         |FROM (SELECT user_id, event_id, $opSql AS op FROM events)
         |GROUP BY user_id ORDER BY n_changes DESC, user_id
         |LIMIT 10""".stripMargin) { (s, d) =>
      // hot-key detection — the skew diagnostic run before choosing a
      // salting strategy: per-key change frequency with op mix and the
      // key's latest LSN. One partial+final keyed agg, then a global
      // top-10 (TakeOrderedAndProject: per-partition heaps, no global
      // sort materialization).
      events(s, d).withColumn("op", opCol)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_changes"),
          sum(when(col("op") === "insert", 1L).otherwise(0L)).as("n_inserts"),
          sum(when(col("op") === "delete", 1L).otherwise(0L)).as("n_deletes"),
          max(col("event_id")).as("last_lsn"))
        .orderBy(col("n_changes").desc, col("user_id"))
        .limit(10)
    },

    QueryDef(
      "q76_bm25_search",
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS dl,
         |    CAST(len(list_filter(toks, x -> x = 'spark')) AS BIGINT) AS tf_a,
         |    CAST(len(list_filter(toks, x -> x = 'join')) AS BIGINT) AS tf_b,
         |    CAST(len(list_filter(toks, x -> x = 'merge')) AS BIGINT) AS tf_c
         |  FROM (SELECT doc_id, ${Text.toksSql} AS toks FROM documents)),
         |c AS (SELECT count(*) AS n, sum(dl) AS sumdl,
         |    sum(CASE WHEN tf_a > 0 THEN 1 ELSE 0 END) AS df_a,
         |    sum(CASE WHEN tf_b > 0 THEN 1 ELSE 0 END) AS df_b,
         |    sum(CASE WHEN tf_c > 0 THEN 1 ELSE 0 END) AS df_c
         |  FROM t)
         |SELECT doc_id,
         |  CAST(tf_a + tf_b + tf_c AS BIGINT) AS total_tf,
         |  CAST(floor(10000.0 * (${bm25W("a")} + ${bm25W("b")} + ${bm25W("c")}))
         |    AS BIGINT) AS score_4
         |FROM t, c WHERE tf_a + tf_b + tf_c > 0
         |ORDER BY score_4 DESC, doc_id LIMIT 15""".stripMargin) { (s, d) =>
      // BM25 ranked retrieval (k1=1.2, b=0.75) with a rational idf
      // surrogate (N-df+0.5)/(df+0.5) — no log, so both engines compute
      // bit-identical doubles in a fixed per-row op sequence (the three
      // term weights add left-to-right; nothing is accumulated in
      // engine-dependent order; every integer input is CAST to DOUBLE
      // up front so neither engine silently plans the formula in
      // decimal arithmetic — Spark parses bare 0.5 as DECIMAL(1,1)).
      // Per-doc tf comes from map-side array scans (no explode/shuffle
      // of the token stream); corpus stats (N, Σdl, df per term)
      // reduce to ONE broadcast row.
      val terms = Seq("a" -> "spark", "b" -> "join", "c" -> "merge")
      val t = Text.withToks(s, d).select(
        col("doc_id") +: size(col("toks")).cast("long").as("dl") +:
          terms.map { case (k, w) =>
            size(filter(col("toks"), x => x === w)).cast("long").as(s"tf_$k")
          }: _*)
      val c = t.agg(
        count(lit(1)).as("n"), sum(col("dl")).as("sumdl"),
        sum(when(col("tf_a") > 0, 1L).otherwise(0L)).as("df_a"),
        sum(when(col("tf_b") > 0, 1L).otherwise(0L)).as("df_b"),
        sum(when(col("tf_c") > 0, 1L).otherwise(0L)).as("df_c"))
      t.crossJoin(broadcast(c))
        .filter(col("tf_a") + col("tf_b") + col("tf_c") > 0)
        .select(col("doc_id"),
          (col("tf_a") + col("tf_b") + col("tf_c")).cast("long").as("total_tf"),
          expr("CAST(floor(10000.0 * " +
            s"(${bm25W("a")} + ${bm25W("b")} + ${bm25W("c")})) AS BIGINT)")
            .as("score_4"))
        .orderBy(col("score_4").desc, col("doc_id"))
        .limit(15)
    },

    QueryDef(
      "q77_salted_skew_join",
      """SELECT o_orderpriority,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
      (s, d) =>
        // salted-replicate skew join: the fact side tags each row with
        // an 8-way deterministic salt; the dimension side is exploded
        // ×8 so every (key, salt) shard finds its match. The shuffle
        // then keys on (orderkey, salt) — a hot orderkey spreads over
        // 8 reducers instead of melting one. Results are identical to
        // the plain join (the oracle) because salting only re-routes
        // rows; sums stay integer-exact. This is the manual shape of
        // what AQE skew-join does adaptively — expressed as an
        // operator so it composes with any downstream agg. The salt
        // factor prices the tradeoff: dim bytes shuffled scale ×salts,
        // so it should match the reducer spread a hot key needs, not
        // default to "more" (q96 is the selective variant that salts
        // only the measured-hot keys).
        val salts = 8
        val fact = lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
          .withColumn("salt",
            pmod(hash(col("l_orderkey"), col("l_quantity")), lit(salts)))
        val dim = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
          .withColumn("salt",
            explode(array((0 until salts).map(lit(_)): _*)))
        fact.join(dim,
            fact("l_orderkey") === dim("o_orderkey") &&
              fact("salt") === dim("salt"))
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
            count(lit(1)).as("n_items"))
          .orderBy(col("o_orderpriority"))
    },

    QueryDef(
      "q78_partial_merge",
      """SELECT l_returnflag,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  count(*) AS n,
        |  CAST(min(l_quantity) AS BIGINT) AS min_qty,
        |  CAST(max(l_quantity) AS BIGINT) AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, d) =>
        // partial-aggregate state merge — the algebraic core of
        // incremental view maintenance: two disjoint "micro-batches"
        // (split by orderkey parity) each reduce to per-group partial
        // states (sum/count/min/max are commutative monoids), and the
        // states merge into exactly the full-scan answer (the oracle).
        // At scale this is how a streaming materialized view absorbs
        // each epoch: merge new partials into stored state — never
        // re-scan history. Integer-valued quantities make the sums
        // association-order-exact.
        def half(p: Int) = lineitem(s, d)
          .filter(pmod(col("l_orderkey"), lit(2)) === p)
          .groupBy(col("l_returnflag"))
          .agg(sum(col("l_quantity")).as("p_sum"), count(lit(1)).as("p_n"),
            min(col("l_quantity")).as("p_min"), max(col("l_quantity")).as("p_max"))
        half(0).unionAll(half(1))
          .groupBy(col("l_returnflag"))
          .agg(sum(col("p_sum")).cast("long").as("sum_qty"),
            sum(col("p_n")).as("n"),
            min(col("p_min")).cast("long").as("min_qty"),
            max(col("p_max")).cast("long").as("max_qty"))
          .orderBy(col("l_returnflag"))
    },

    QueryDef(
      "q79_vocab_growth",
      s"""SELECT source,
         |  CAST(count(*) AS BIGINT) AS total_tokens,
         |  CAST(count(DISTINCT tok) AS BIGINT) AS distinct_tokens,
         |  CAST(count(DISTINCT tok) * 10000 // count(*) AS BIGINT)
         |    AS ttr_4
         |FROM (SELECT source, unnest(${Text.toksSql}) AS tok FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      // vocabulary growth (Heaps'-law inputs) per source: token volume
      // vs distinct vocabulary and the type-token ratio. countDistinct
      // plans as a two-phase (source, tok) pre-dedup then per-source
      // count — both shuffles are keyed, no global collect; at corpus
      // scale substitute q39's HLL sketch for the exact distinct.
      Text.withToks(s, d)
        .select(col("source"), explode(col("toks")).as("tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("total_tokens"),
          countDistinct(col("tok")).as("distinct_tokens"))
        .select(col("source"), col("total_tokens"), col("distinct_tokens"),
          expr("distinct_tokens * 10000 DIV total_tokens").as("ttr_4"))
        .orderBy(col("source"))
    },

    QueryDef(
      "q111_mixture_rates",
      s"""WITH tok AS (SELECT source, count(*) AS actual_tokens
         |  FROM (SELECT source, unnest(${Text.toksSql}) AS tok FROM documents)
         |  GROUP BY source),
         |w AS (SELECT source, actual_tokens,
         |    (${Text.h32Sql("source")}) % 5 + 1 AS weight FROM tok),
         |tot AS (SELECT sum(actual_tokens) AS corpus,
         |    sum(weight) AS wsum FROM w)
         |SELECT source, actual_tokens, weight,
         |  CAST(corpus * 5 * weight // (wsum * 10) AS BIGINT)
         |    AS target_tokens,
         |  CAST(least(corpus * 5 * weight // (wsum * 10) * 1000
         |      // actual_tokens, 3000) AS BIGINT) AS rate_milli,
         |  CAST((corpus * 5 * weight // (wsum * 10) + actual_tokens - 1)
         |      // actual_tokens AS BIGINT) AS n_epochs
         |FROM w, tot ORDER BY source""".stripMargin) { (s, d) =>
      // Data-mixture planner — the sampling-rate computation a
      // Pile/Dolma-style mixing step runs before training: given a
      // target weight per source (here hash-derived so both engines
      // agree) and a token budget (50% of the corpus), emit each
      // source's target token count, its sampling rate in
      // milli-units (capped at 3 epochs of oversampling), and the
      // epoch count needed. Pure integer arithmetic over one
      // per-source aggregate plus a 1-row broadcast total — the
      // whole plan is two keyed aggs regardless of corpus size; the
      // rates then drive q104-style weighted selection shard-local.
      graft.cdc.GraftFunctions.register(s)
      val tok = Text.withToks(s, d)
        .select(col("source"), explode(col("toks")).as("tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("actual_tokens"))
      val w = tok.withColumn("weight",
        pmod(graft.cdc.GraftFunctions.md5_h32(col("source")), lit(5L)) + 1L)
      val tot = w.agg(sum(col("actual_tokens")).as("corpus"),
        sum(col("weight")).as("wsum"))
      w.crossJoin(broadcast(tot))
        .select(col("source"), col("actual_tokens"), col("weight"),
          expr("corpus * 5 * weight DIV (wsum * 10)").as("target_tokens"),
          expr("least(corpus * 5 * weight DIV (wsum * 10) * 1000 " +
            "DIV actual_tokens, 3000)").as("rate_milli"),
          expr("(corpus * 5 * weight DIV (wsum * 10) + actual_tokens - 1) " +
            "DIV actual_tokens").as("n_epochs"))
        .orderBy(col("source"))
    },

    QueryDef(
      "q80_minhash_accuracy",
      s"""WITH shingles AS (${Text.shinglesSql}),
         |${Text.jaccardPairsSql},
         |${Text.sigSql}
         |SELECT d1, d2,
         |  CAST(floor(inter * 10000.0 / (na + nb - inter)) AS BIGINT)
         |    AS jaccard_4,
         |  CAST((${(0 until 16).map(j =>
             s"(CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END)")
             .mkString(" + ")}) * 625 AS BIGINT) AS est_4,
         |  CAST(abs(CAST(floor(inter * 10000.0 / (na + nb - inter)) AS BIGINT)
         |    - (${(0 until 16).map(j =>
             s"(CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END)")
             .mkString(" + ")}) * 625) AS BIGINT) AS err_4
         |FROM jpairs JOIN sig a ON a.doc_id = d1 JOIN sig b ON b.doc_id = d2
         |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      // sketch-accuracy audit: for every exact near-dup pair, compare
      // the 16-permutation MinHash agreement estimate (matches/16,
      // integer-scaled ×10000 = matches×625) against exact Jaccard —
      // the measurement that justifies replacing the quadratic exact
      // join with the LSH path at scale. Signatures are fixed-width
      // (16 longs/doc), so the audit joins are key-sized.
      val sig = Text.minhashSig(s, d)
      val a = sig.toDF(sig.columns.toIndexedSeq.map {
        case "doc_id" => "d1"; case c => s"a_$c" }: _*)
      val b = sig.toDF(sig.columns.toIndexedSeq.map {
        case "doc_id" => "d2"; case c => s"b_$c" }: _*)
      val matches = (0 until 16)
        .map(j => when(col(s"a_h$j") === col(s"b_h$j"), 1L).otherwise(0L))
        .reduce(_ + _)
      Text.jaccardPairs(s, d)
        .join(a, "d1").join(b, "d2")
        .select(col("d1"), col("d2"),
          floor(col("inter") * 10000.0 / (col("na") + col("nb") - col("inter")))
            .cast("long").as("jaccard_4"),
          (matches * 625).cast("long").as("est_4"))
        .withColumn("err_4", abs(col("jaccard_4") - col("est_4")).cast("long"))
        .orderBy(col("d1"), col("d2"))
    },

    QueryDef(
      "q95_retraction_ivm",
      s"""WITH ev AS (SELECT user_id, event_id, $opSql AS op,
         |    CAST(round(value * 1000) AS BIGINT) AS v
         |  FROM events WHERE user_id < 100),
         |st AS (SELECT user_id, event_id, op, v,
         |    CASE WHEN op = 'delete' THEN NULL ELSE v END AS state_v,
         |    coalesce(lag(CASE WHEN op = 'delete' THEN NULL ELSE v END)
         |      OVER (PARTITION BY user_id ORDER BY event_id), 0) AS prev_v
         |  FROM ev),
         |d AS (SELECT user_id, event_id,
         |    coalesce(state_v, 0) - prev_v AS delta
         |  FROM st)
         |SELECT user_id, count(*) AS n_ops,
         |  CAST(sum(delta) AS BIGINT) AS maintained_milli
         |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      // incremental view maintenance WITH RETRACTIONS — the delta
      // algebra a CDC-fed materialized sum needs: every op emits
      // delta = new_state − old_state (update: new−old; delete:
      // 0−old; insert/upsert: new−old with absent = 0), so the
      // per-key delta stream telescopes EXACTLY to the current state
      // and the maintained aggregate never rescans history — q78's
      // append-only merge extended to updates/deletes. lag()
      // reconstructs each event's pre-image per user partition (at
      // 100 TB: the stateful-snapshot join), and all deltas are
      // milli-unit integers.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      events(s, d).filter(col("user_id") < 100)
        .select(col("user_id"), col("event_id"), opCol.as("op"),
          round(col("value") * 1000).cast("long").as("v"))
        .withColumn("state_v",
          when(col("op") === "delete", lit(null).cast("long"))
            .otherwise(col("v")))
        .withColumn("prev_v", coalesce(lag(col("state_v"), 1).over(w), lit(0L)))
        .select(col("user_id"),
          (coalesce(col("state_v"), lit(0L)) - col("prev_v")).as("delta"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_ops"),
          sum(col("delta")).cast("long").as("maintained_milli"))
        .orderBy(col("user_id"))
    },

    QueryDef(
      "q96_selective_salted_join",
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
      (s, d) =>
        // selective salting — the production refinement of q77's
        // blanket salt: ONLY keys above a frequency threshold get
        // salted (their dim rows replicated), everything else takes
        // the plain keyed join. One cheap keyed count finds the hot
        // set (broadcast, it's tiny by definition of "hot"); the dim
        // side replicates ×8 only for those keys, so replication cost
        // scales with the number of hot keys, not the dimension table.
        // This is what AQE skew-join does adaptively, expressed as a
        // composable operator with the same oracle as the plain join.
        val salts = 8
        val fact = lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
        val dim = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
        val hot = fact.groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n")).filter(col("n") >= 8)
          .select(col("l_orderkey").as("hot_key"))
        val factH = fact.join(broadcast(hot),
            col("l_orderkey") === col("hot_key"), "left_semi")
          .withColumn("salt",
            pmod(hash(col("l_orderkey"), col("l_quantity")), lit(salts)))
        val factC = fact.join(broadcast(hot),
          col("l_orderkey") === col("hot_key"), "left_anti")
        val dimH = dim.join(broadcast(hot),
            col("o_orderkey") === col("hot_key"), "left_semi")
          .withColumn("salt", explode(array((0 until salts).map(lit(_)): _*)))
        val joinedH = factH.join(dimH,
          factH("l_orderkey") === dimH("o_orderkey") &&
            factH("salt") === dimH("salt"))
          .select(col("o_orderpriority"), col("l_quantity"))
        val joinedC = factC.join(dim, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderpriority"), col("l_quantity"))
        joinedH.unionAll(joinedC)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity")).cast("long").as("sum_qty"))
          .orderBy(col("o_orderpriority"))
    },

    QueryDef(
      "q137_budget_mixing",
      s"""WITH ${Text.qualityScoresSql},
         |src AS (SELECT d.source,
         |    CAST(sum(q.q) // count(*) AS BIGINT) AS src_q4,
         |    CAST(sum(len(${Text.toksSql})) AS BIGINT) AS tokens
         |  FROM documents d JOIN qual q ON q.doc_id = d.doc_id
         |  GROUP BY d.source),
         |tot AS (SELECT sum(tokens) AS corpus FROM src),
         |cum AS (SELECT a.source, a.src_q4, a.tokens,
         |    CAST(sum(b.tokens) AS BIGINT) AS cum_tokens
         |  FROM src a JOIN src b
         |    ON b.src_q4 > a.src_q4
         |    OR (b.src_q4 = a.src_q4 AND b.source <= a.source)
         |  GROUP BY a.source, a.src_q4, a.tokens)
         |SELECT c.source, c.src_q4, c.tokens, c.cum_tokens,
         |  c.cum_tokens * 2 <= t.corpus AS included
         |FROM cum c, tot t
         |ORDER BY c.src_q4 DESC, c.source""".stripMargin) { (s, d) =>
      // Quality-ordered budget mixing — the greedy source-selection
      // step of a mixture planner: rank sources by mean document
      // quality (q22's integer score), then admit whole sources in
      // rank order until the token budget (50% of the corpus) is
      // spent. The greedy prefix is sequential by nature, but over
      // SOURCES (a tiny relation), so the cumulative sum is a
      // triangle self-join on the broadcast per-source table —
      // #sources² rows, constant at any corpus size — instead of an
      // unpartitioned window, which PlanGuard forbids because on a
      // ROW-scale relation it is the classic single-task bottleneck.
      // Everything upstream is keyed partial+final aggs over the
      // memoized quality/token indexes; q111's rate planner consumes
      // the complement of this report (sources to downsample rather
      // than drop).
      val src = Text.qualityScores(s, d)
        .join(documents(s, d).select(col("doc_id"), col("source")),
          "doc_id")
        .join(Text.withToks(s, d).select(col("doc_id"),
          size(col("toks")).cast("long").as("n_toks")), "doc_id")
        .groupBy(col("source"))
        .agg(expr("sum(q) DIV count(1)").as("src_q4"),
          sum(col("n_toks")).cast("long").as("tokens"))
      val tot = src.agg(sum(col("tokens")).as("corpus"))
      val a = src.select(col("source"), col("src_q4"), col("tokens"))
      val b = src.select(col("source").as("b_source"),
        col("src_q4").as("b_q4"), col("tokens").as("b_tokens"))
      a.join(broadcast(b),
          b("b_q4") > a("src_q4") ||
            (b("b_q4") === a("src_q4") && b("b_source") <= a("source")))
        .groupBy(col("source"), col("src_q4"), col("tokens"))
        .agg(sum(col("b_tokens")).cast("long").as("cum_tokens"))
        .crossJoin(broadcast(tot))
        .select(col("source"), col("src_q4"), col("tokens"),
          col("cum_tokens"),
          (col("cum_tokens") * 2 <= col("corpus")).as("included"))
        .orderBy(col("src_q4").desc, col("source"))
    },

    QueryDef(
      "q161_jump_reshard",
      s"""WITH RECURSIVE docs AS (SELECT doc_id,
         |    (${Text.h32Sql("CAST(doc_id AS VARCHAR)")}) AS k
         |  FROM documents),
         |seed AS (SELECT doc_id, k, n FROM docs
         |  CROSS JOIN (VALUES (32), (48)) v(n)),
         |r AS (
         |  SELECT doc_id, n, k::HUGEINT AS key, -1::BIGINT AS b,
         |    0::BIGINT AS j
         |  FROM seed
         |  UNION ALL
         |  SELECT doc_id, n,
         |    (key * 2862933555777941757 + 1) % 18446744073709551616 AS k2,
         |    j AS b,
         |    CAST(floor((j + 1) * (2147483648.0 /
         |      CAST(((key * 2862933555777941757 + 1)
         |          % 18446744073709551616)
         |        // 8589934592 + 1 AS DOUBLE))) AS BIGINT) AS j2
         |  FROM r WHERE j < n),
         |fin AS (SELECT doc_id, n, b FROM r WHERE j >= n),
         |sh AS (SELECT d.doc_id, d.k,
         |    max(CASE WHEN f.n = 32 THEN f.b END) AS old_jump,
         |    max(CASE WHEN f.n = 48 THEN f.b END) AS new_jump
         |  FROM docs d JOIN fin f USING (doc_id) GROUP BY d.doc_id, d.k)
         |SELECT old_jump AS shard, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN old_jump <> new_jump THEN 1 ELSE 0 END)
         |    AS BIGINT) AS moved_jump,
         |  CAST(sum(CASE WHEN k % 32 <> k % 48 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS moved_mod
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
      // Resharding audit via jump consistent hash (arXiv:1406.2294):
      // growing a 100 TB corpus's shard count 32 -> 48 should move
      // only 16/48 = a third of the documents; naive key-mod-N moves
      // nearly all of them (every doc whose key differs mod 32 vs 48
      // relocates, ~97%). Per current shard: doc count, docs the jump
      // scheme moves, docs mod-N would have moved — the before/after
      // plan a storage migration reviews. The assignment is the
      // native jump_shard codegen expression (O(log n) LCG loop per
      // row, no table), so the whole audit is one map-side pass plus
      // a 32-group agg; the oracle replays the identical LCG +
      // double-jump arithmetic as a recursive CTE in HUGEINT
      // mod-2^64 space.
      graft.cdc.GraftFunctions.register(s)
      val k = graft.cdc.GraftFunctions.md5_h32(
        col("doc_id").cast("string"))
      documents(s, d)
        .select(col("doc_id"), k.as("k"))
        .select(col("k"),
          graft.cdc.GraftFunctions.jump_shard(col("k"), lit(32))
            .as("old_jump"),
          graft.cdc.GraftFunctions.jump_shard(col("k"), lit(48))
            .as("new_jump"))
        .groupBy(col("old_jump").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("old_jump") =!= col("new_jump"), 1L)
            .otherwise(0L)).cast("long").as("moved_jump"),
          sum(when(col("k") % 32 =!= col("k") % 48, 1L)
            .otherwise(0L)).cast("long").as("moved_mod"))
        .orderBy(col("shard"))
    },

    QueryDef(
      "q163_median_bisect",
      """WITH b AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
        |    AS v FROM lineitem),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |        count(*) OVER () AS n FROM b)
        |SELECT max(n) AS n_rows,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS median_cents,
        |  max(CASE WHEN rn = (n * 9 + 9) // 10 THEN v END) AS p90_cents
        |FROM r""".stripMargin) { (s, d) =>
      // EXACT global order statistics WITHOUT a global sort — the
      // distributed selection algorithm a 100 TB column needs where
      // q48's window/rank formulation (a total sort, one unpartitioned
      // ordering) cannot run: histogram bisection. Each round buckets
      // the remaining value range into 2^16 equal slices and counts
      // them in ONE keyed aggregation (the histogram stays a bounded
      // driver-side constant — 64Ki longs); the driver walks the tiny
      // prefix sum to find the slice holding the target rank and
      // recurses into it. log_65536(range) = 2 rounds for cents-scale
      // domains, each a full scan (pruned to one column) + a
      // bounded-width shuffle — no sort, no window, no skew
      // sensitivity (a hot value concentrates its COUNT, not its
      // rows). The oracle computes the same ranks via row_number at
      // test scale; both sides agree exactly because selection is
      // rank-arithmetic, not interpolation.
      val base = lineitem(s, d)
        .select(round(col("l_extendedprice") * 100).cast("long").as("v"))
        .cache()
      try {
        val mm = base.agg(count(lit(1)), min(col("v")), max(col("v"))).head()
        val n = mm.getLong(0)
        // k-th smallest (1-based): smallest v with count(<= v) >= k.
        // MULTI-RANK: all requested ranks walk the bisection
        // together, and every round builds ONE histogram per DISTINCT
        // open (lo, hi) range — round 1 is always fully shared (both
        // ranks start on the full range), so at 100 TB each shared
        // round saves a complete data pass vs selecting ranks
        // one-by-one. Per-rank arithmetic is unchanged, so results
        // are bit-identical to independent selection.
        final case class St(var lo: Long, var hi: Long, var need: Long)
        def selectMany(ks: Seq[Long]): Seq[Long] = {
          val sts = ks.map(k => St(mm.getLong(1), mm.getLong(2), k))
          while (sts.exists(st => st.lo < st.hi)) {
            val open = sts.filter(st => st.lo < st.hi)
            open.groupBy(st => (st.lo, st.hi)).foreach {
              case ((lo, hi), grp) =>
                val width = (hi - lo) / 65536L + 1L // ceil: cover [lo, hi]
                val hist = boundedCollect(base
                  .filter(col("v") >= lo && col("v") <= hi)
                  .groupBy(expr(s"(v - $lo) DIV $width").as("bkt"))
                  .agg(count(lit(1)).as("c")),
                  65537, "q163 bisection histogram (<=65537 buckets)")
                  .map(r => r.getLong(0) -> r.getLong(1))
                  .sortBy(_._1)
                grp.foreach { st =>
                  var acc = 0L
                  var i = 0
                  var found = false
                  while (i < hist.length && !found) {
                    val (bkt, c) = hist(i)
                    if (acc + c >= st.need) {
                      st.need -= acc
                      st.lo = lo + bkt * width
                      st.hi = math.min(hi, st.lo + width - 1)
                      found = true
                    } else { acc += c; i += 1 }
                  }
                }
            }
          }
          sts.map(_.lo)
        }
        val Seq(median, p90) =
          selectMany(Seq((n + 1L) / 2L, (n * 9L + 9L) / 10L))
        import s.implicits._
        Seq((n, median, p90)).toDF("n_rows", "median_cents", "p90_cents")
      } finally base.unpersist()
    },

    QueryDef(
      "q165_epoch_shuffle",
      """WITH x AS (SELECT doc_id, doc_id % 1048576 AS v FROM documents),
        |s AS (SELECT doc_id, v // 1024 AS l0, v % 1024 AS r0 FROM x),
        |f1 AS (SELECT doc_id, r0 AS l1,
        |  (l0 + ((r0 * 2654435761 + 101) // 64) % 1024) % 1024 AS r1 FROM s),
        |f2 AS (SELECT doc_id, r1 AS l2,
        |  (l1 + ((r1 * 2654435761 + 211) // 64) % 1024) % 1024 AS r2 FROM f1),
        |f3 AS (SELECT doc_id, r2 AS l3,
        |  (l2 + ((r2 * 2654435761 + 307) // 64) % 1024) % 1024 AS r3 FROM f2),
        |f4 AS (SELECT doc_id, r3 AS l4,
        |  (l3 + ((r3 * 2654435761 + 401) // 64) % 1024) % 1024 AS r4 FROM f3),
        |p AS (SELECT doc_id, l4 * 1024 + r4 AS perm FROM f4)
        |SELECT perm % 8 AS shard, count(*) AS n_docs,
        |  count(DISTINCT perm) AS n_perms,
        |  min(perm) AS min_perm, max(perm) AS max_perm
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
      // Deterministic epoch shuffle — the trick that reshuffles a
      // 100 TB corpus per training epoch WITHOUT a shuffle: a 4-round
      // Feistel network over a 2^20 domain is a BIJECTION for any
      // round function (here an add-mod variant: L'=R,
      // R'=(L+F(R)) mod 1024 inverts exactly; xor is avoided only
      // because DuckDB spells it differently and the two engines must
      // run textually parallel integer ops). perm(doc_id) is pure
      // map-side arithmetic: epoch k's read order is just ORDER BY
      // perm within each shard — no materialized permutation table,
      // no RNG state, reproducible forever from the round constants
      // (vary them per epoch). The audit: per target shard, doc count
      // vs DISTINCT perm count (equal ⇒ injective on the live ids),
      // plus the perm range. FeistelSpec proves bijectivity over the
      // ENTIRE 2^20 domain, not just the sample.
      val x = documents(s, d)
        .select(col("doc_id"), (col("doc_id") % 1048576L).as("v"))
        .select(col("doc_id"),
          expr("v DIV 1024").as("l"), (col("v") % 1024).as("r"))
      val rounds = Seq(101L, 211L, 307L, 401L)
      val after = rounds.foldLeft(x) { (df, c) =>
        df.select(col("doc_id"), col("r").as("l"),
          expr(s"(l + ((r * 2654435761 + $c) DIV 64) % 1024) % 1024")
            .as("r"))
      }
      after.select(col("doc_id"),
          (col("l") * 1024L + col("r")).as("perm"))
        .groupBy((col("perm") % 8).as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("perm")).as("n_perms"),
          min(col("perm")).as("min_perm"), max(col("perm")).as("max_perm"))
        .orderBy(col("shard"))
    },

    QueryDef(
      "q166_grouped_median_bisect",
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 1000) AS BIGINT) AS v FROM events),
        |r AS (SELECT event_type, v,
        |        row_number() OVER (PARTITION BY event_type ORDER BY v)
        |          AS rn,
        |        count(*) OVER (PARTITION BY event_type) AS n FROM b)
        |SELECT event_type, max(n) AS n_events,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS p50_milli,
        |  max(CASE WHEN rn = (n * 9 + 9) // 10 THEN v END) AS p90_milli
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
      // q163's histogram bisection VECTORIZED across groups — exact
      // per-group medians/p90s with no per-group window sort: every
      // round broadcasts the per-(group, target) live [lo, hi]
      // bounds, buckets each row against ITS group's range map-side,
      // and counts (group, target, bucket) in one keyed agg; the
      // driver walks each tiny histogram and narrows. All groups and
      // both targets advance in the SAME scan, so total rounds =
      // log4096(widest range), not groups × rounds. Driver state is
      // one (lo, hi, need) triple per (group, target) — fine to
      // millions of groups; past that, the histogram walk itself
      // moves into a join (the bounds table is already a DataFrame).
      // Oracle: the per-group rank formula — exact, the q48 shape —
      // viable at test scale, single-task-per-group at 100 TB.
      val base = events(s, d)
        .select(col("event_type").as("g"),
          round(col("value") * 1000).cast("long").as("v"))
        .cache()
      try {
        val stats = boundedCollect(base.groupBy(col("g"))
          .agg(count(lit(1)).as("n"), min(col("v")).as("lo"),
            max(col("v")).as("hi")),
          1024, "q166 per-group moments (one row per event_type)")
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        // live state per (group, target-rank): group -> (lo, hi, need)
        final case class St(g: String, tgt: String, var lo: Long,
          var hi: Long, var need: Long)
        val live = scala.collection.mutable.ArrayBuffer[St]()
        stats.foreach { case (g, n, lo, hi) =>
          live += St(g, "p50", lo, hi, (n + 1L) / 2L)
          live += St(g, "p90", lo, hi, (n * 9L + 9L) / 10L)
        }
        val spark = s
        import spark.implicits._
        while (live.exists(st => st.lo < st.hi)) {
          val open = live.filter(st => st.lo < st.hi)
          val bounds = open.map(st =>
            (st.g, st.tgt, st.lo, st.hi, (st.hi - st.lo) / 4096L + 1L))
            .toSeq.toDF("g", "tgt", "blo", "bhi", "w")
          val hists = boundedCollect(base.join(broadcast(bounds), "g")
            .filter(col("v") >= col("blo") && col("v") <= col("bhi"))
            .groupBy(col("g"), col("tgt"),
              expr("(v - blo) DIV w").as("bkt"))
            .agg(count(lit(1)).as("c")),
            4097 * 2048, "q166 bisection histograms (<=4097 x open targets)")
            .map(r => ((r.getString(0), r.getString(1)),
              (r.getLong(2), r.getLong(3))))
            .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1)).toMap
          open.foreach { st =>
            val width = (st.hi - st.lo) / 4096L + 1L
            var acc = 0L
            val hist = hists((st.g, st.tgt))
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
        val res = live.groupBy(_.g).map { case (g, sts) =>
          val n = stats.find(_._1 == g).get._2
          (g, n, sts.find(_.tgt == "p50").get.lo,
            sts.find(_.tgt == "p90").get.lo)
        }.toSeq.sortBy(_._1)
        res.toDF("event_type", "n_events", "p50_milli", "p90_milli")
          .orderBy(col("event_type"))
      } finally base.unpersist()
    },

    // ---- q170: small-file compaction planner ----------------------
    // The table-maintenance pass every 100 TB lakehouse runs nightly
    // (Delta OPTIMIZE / Iceberg rewriteDataFiles): plan which small
    // files merge into which target-sized output file. Files (here:
    // documents standing in for data files, n_chars for bytes) are
    // packed per partition (source) largest-first by cumulative size —
    // bin = floor(prefix_sum_before / target) — the contiguous-fill
    // scheme Spark's own file coalescing uses. Deterministic: the
    // (size DESC, doc_id) pack order is total, assignment is pure
    // integer arithmetic on a window prefix sum. Scale shape: one
    // window partitioned BY SOURCE (thousands of independent
    // partitions at 100 TB — no global sort), then two keyed aggs;
    // the plan output is bins-per-partition rows, tiny. fill_pct is
    // the audit number: how close planned bins sit to the target.
    QueryDef(
      "q170_compaction_bins",
      """WITH f AS (SELECT doc_id, source, n_chars,
        |    COALESCE(sum(n_chars) OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pre
        |  FROM documents),
        |b AS (SELECT source, doc_id, n_chars, pre // 2000 AS bin FROM f),
        |bins AS (SELECT source, bin, count(*) AS n_files,
        |    sum(n_chars) AS bin_chars
        |  FROM b GROUP BY source, bin)
        |SELECT source, count(*) AS n_bins,
        |  CAST(sum(n_files) AS BIGINT) AS n_files,
        |  CAST(sum(bin_chars) AS BIGINT) AS total_chars,
        |  CAST(max(bin_chars) AS BIGINT) AS max_bin_chars,
        |  CAST(sum(bin_chars) * 100 // (count(*) * 2000) AS BIGINT)
        |    AS fill_pct
        |FROM bins GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"),
          coalesce(sum(col("n_chars")).over(w), lit(0L)).as("pre"))
        .select(col("source"), col("n_chars"),
          expr("pre DIV 2000").as("bin"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_files"), sum(col("n_chars")).as("bin_chars"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_bins"),
          sum(col("n_files")).as("n_files"),
          sum(col("bin_chars")).as("total_chars"),
          max(col("bin_chars")).as("max_bin_chars"),
          expr("sum(bin_chars) * 100 DIV (count(1) * 2000)")
            .cast("long").as("fill_pct"))
        .orderBy(col("source"))
    },

    // ---- q236: temperature-sampled mixture weights ----------------
    // The T5/ROOTS mixing rule: sample sources proportional to
    // n^T (T = 1/2 here) so big sources stop dominating without
    // dropping small ones, then apportion an integer document budget
    // by the largest-remainder method — the deterministic allocation
    // a sharded sampler can follow exactly. All integer: n^(1/2) is
    // an EXACT isqrt via a self-correcting floor(sqrt) (one double
    // sqrt ±1-ulp, then two integer comparisons pin the true floor —
    // identical in both engines for n < 2^52), and largest-remainder
    // is rank arithmetic on #sources rows. Scale shape: one keyed
    // count per source, then everything lives on #sources rows —
    // the corpus cost is the count, as it must be.
    QueryDef(
      "q236_temperature_mixture",
      """WITH src AS (SELECT source, count(*) AS n FROM documents
        |             GROUP BY source),
        |w AS (SELECT source, n, s0
        |    - (CASE WHEN s0 * s0 > n THEN 1 ELSE 0 END)
        |    + (CASE WHEN (s0 + 1) * (s0 + 1) <= n THEN 1 ELSE 0 END)
        |      AS w
        |  FROM (SELECT source, n,
        |          CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s0
        |        FROM src)),
        |tot AS (SELECT sum(w) AS tw FROM w),
        |base AS (SELECT w.source, w.n, w.w,
        |    10000 * w.w // tot.tw AS floor_alloc,
        |    10000 * w.w % tot.tw AS rem
        |  FROM w, tot),
        |short AS (SELECT 10000 - sum(floor_alloc) AS k FROM base),
        |rk AS (SELECT a.source, a.n, a.w, a.floor_alloc,
        |    (SELECT count(*) FROM base o
        |     WHERE o.rem > a.rem
        |        OR (o.rem = a.rem AND o.source < a.source)) + 1 AS r
        |  FROM base a)
        |SELECT rk.source, CAST(rk.n AS BIGINT) AS n_docs,
        |  CAST(rk.w AS BIGINT) AS weight,
        |  CAST(rk.floor_alloc
        |    + CASE WHEN rk.r <= short.k THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc
        |FROM rk, short ORDER BY rk.source""".stripMargin) { (s, d) =>
      val src = documents(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
      val w = src
        .withColumn("s0", expr(
          "CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)"))
        .withColumn("w", expr(
          "s0 - (CASE WHEN s0 * s0 > n THEN 1 ELSE 0 END) " +
            "+ (CASE WHEN (s0 + 1) * (s0 + 1) <= n THEN 1 ELSE 0 END)"))
      val tot = w.agg(sum(col("w")).as("tw"))
      val base = w.crossJoin(broadcast(tot))
        .select(col("source"), col("n"), col("w"),
          expr("10000 * w DIV tw").as("floor_alloc"),
          expr("10000 * w % tw").as("rem"))
        .tcache() // both the rank self-join and the shortfall read it
      val short = base.agg((lit(10000L) - sum(col("floor_alloc"))).as("k"))
      // rank the remainders via a broadcast theta count (#sources
      // rows) — q202's recipe; a global window would serialize on one
      // task and trip PlanGuardSpec
      base.as("a")
        .join(broadcast(base.as("o")),
          col("o.rem") > col("a.rem") ||
            (col("o.rem") === col("a.rem") &&
              col("o.source") < col("a.source")), "left")
        .groupBy(col("a.source").as("source"), col("a.n").as("n"),
          col("a.w").as("w"), col("a.floor_alloc").as("floor_alloc"))
        .agg((count(col("o.source")) + 1).as("r"))
        .crossJoin(broadcast(short))
        .select(col("source"), col("n").cast("long").as("n_docs"),
          col("w").cast("long").as("weight"),
          (col("floor_alloc") +
            when(col("r") <= col("k"), 1L).otherwise(0L))
            .cast("long").as("alloc"))
        .orderBy(col("source"))
    },

    // ---- q292: skew salting plan --------------------------------------
    // q75 detects hot keys; this PLANS around them — the engine
    // computing its own AQE-style skew mitigation from data
    // statistics. Against a 32-task budget (locally the shuffle
    // parallelism; on a cluster, spark.sql.shuffle.partitions): per
    // key, its row count and corpus share, the salt factor that
    // splits it to fit the per-task target (ceil(cnt/target), the
    // fan-out a salted repartition would use), the resulting
    // per-subtask row count, and that subtask's load relative to the
    // uniform target in milli — the residual imbalance AFTER the
    // plan, which is the number an operator reviews before accepting
    // it. Exact integers: ceil(a/b) = (a+b-1) DIV b throughout.
    // Scale shape: one partial+final keyed agg for the histogram,
    // then a 1-row broadcast total; the plan itself is O(keys).
    QueryDef(
      "q292_skew_salting_plan",
      """WITH k AS (SELECT event_type, count(*) AS cnt FROM events
        |          GROUP BY event_type),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM k),
        |p AS (SELECT k.event_type, k.cnt, t.n, (t.n + 31) // 32 AS target
        |      FROM k CROSS JOIN t),
        |p2 AS (SELECT event_type, cnt, n, target,
        |        (cnt + target - 1) // target AS salt FROM p)
        |SELECT event_type, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(cnt * 1000 // n AS BIGINT) AS share_milli,
        |  CAST(salt AS BIGINT) AS salt,
        |  CAST((cnt + salt - 1) // salt AS BIGINT) AS subtask_rows,
        |  CAST(((cnt + salt - 1) // salt) * 1000 // target AS BIGINT)
        |    AS load_milli
        |FROM p2 ORDER BY cnt DESC, event_type""".stripMargin) { (s, d) =>
      val k = events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .tcache() // the per-key plan + the 1-row total share the scan
      val t = k.agg(sum(col("cnt")).as("n"))
      k.crossJoin(broadcast(t))
        .withColumn("target", expr("(n + 31) DIV 32"))
        .withColumn("salt", expr("(cnt + target - 1) DIV target"))
        .select(col("event_type"), col("cnt"),
          expr("cnt * 1000 DIV n").as("share_milli"),
          col("salt"),
          expr("(cnt + salt - 1) DIV salt").as("subtask_rows"),
          expr("((cnt + salt - 1) DIV salt) * 1000 DIV target")
            .as("load_milli"))
        .orderBy(col("cnt").desc, col("event_type"))
    },

    // ---- q300: LSH S-curve calibration ---------------------------------
    // q26 runs the 8-band × 2-row MinHash LSH; q80 audits signature
    // accuracy on the high-J pairs; this audits the INDEX ITSELF
    // against its theory across the whole Jaccard spectrum: the
    // banding scheme's fire probability should follow
    // 1 − (1 − s²)^8. Three pair arms probe the curve where the
    // corpus can't on its own: (a) a deterministic stratified sample
    // of real pairs (consecutive docs within md5-hash strata — the
    // J ≈ 0 mass), (b) the memoized J ≥ 0.6 graph (the high tail),
    // and (c) CONTROLLED mid-J pairs — each sampled doc against its
    // own shingle subset at keep-rate k/8 (subset ⇒ J = |sub|/|full|
    // exactly, and minhash theory applies unchanged), which sweeps
    // deciles 1-8 that real pairs never populate. Per exact-J
    // decile: pairs, observed band-fire rate, theoretical rate
    // (integer milli powers, identical truncation in both engines),
    // and the gap — calibration drift here means the hash family or
    // banding broke, BEFORE recall regresses. Scale shape: pair list
    // is O(docs) + O(memo); the controlled arm re-mins shingles of a
    // 1-in-16 doc sample × 7 keep-rates (bounded audit arm); exact J
    // per real pair via keyed shingle joins; signatures key-sized.
    QueryDef(
      "q300_lsh_scurve_calibration",
      s"""WITH shingles AS (${Text.shinglesSql}),
         |${Text.jaccardPairsSql},
         |${Text.sigSql},
         |ds AS (SELECT DISTINCT doc_id FROM shingles),
         |st AS (SELECT doc_id,
         |    (${Text.h32Sql("CAST(doc_id AS VARCHAR)")}) % 64 AS g
         |  FROM ds),
         |r AS (SELECT doc_id, g, row_number() OVER (
         |    PARTITION BY g ORDER BY doc_id) AS rn FROM st),
         |sp AS (SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM r a JOIN r b ON b.g = a.g AND b.rn = a.rn + 1
         |  WHERE a.rn % 2 = 1),
         |pl AS (SELECT DISTINCT d1, d2 FROM
         |  (SELECT d1, d2 FROM sp UNION ALL SELECT d1, d2 FROM jpairs)),
         |iv AS (SELECT p.d1, p.d2, count(*) AS i
         |  FROM pl p JOIN shingles a ON a.doc_id = p.d1
         |  JOIN shingles b ON b.doc_id = p.d2 AND b.h = a.h
         |  GROUP BY 1, 2),
         |jm AS (SELECT p.d1, p.d2,
         |    coalesce(iv.i, 0) * 1000
         |      // (ca.n + cb.n - coalesce(iv.i, 0)) AS s_m
         |  FROM pl p LEFT JOIN iv ON iv.d1 = p.d1 AND iv.d2 = p.d2
         |  JOIN cnt ca ON ca.doc_id = p.d1
         |  JOIN cnt cb ON cb.doc_id = p.d2),
         |rarm AS (SELECT jm.s_m,
         |    CASE WHEN ${(0 until 8).map(k =>
                s"(sa.h${2 * k} = sb.h${2 * k} AND sa.h${2 * k + 1} = sb.h${2 * k + 1})")
                .mkString(" OR ")}
         |      THEN 1 ELSE 0 END AS fired
         |  FROM jm JOIN sig sa ON sa.doc_id = jm.d1
         |  JOIN sig sb ON sb.doc_id = jm.d2),
         |ks AS (SELECT * FROM (VALUES (1), (2), (3), (4), (5), (6), (7))
         |       kk(k)),
         |sd AS (SELECT doc_id FROM ds
         |  WHERE (${Text.h32Sql("CAST(doc_id AS VARCHAR)")}) % 16 = 0),
         |vsig AS (SELECT s.doc_id, kk.k, count(*) AS nsub,
         |    ${(0 until 16).map(j =>
                s"min((${Text.minhashA(j)} * s.h + ${Text.minhashB(j)}) % 2147483647) AS v$j")
                .mkString(", ")}
         |  FROM shingles s JOIN sd ON sd.doc_id = s.doc_id
         |  CROSS JOIN ks kk WHERE s.h % 8 < kk.k
         |  GROUP BY s.doc_id, kk.k),
         |carm AS (SELECT v.nsub * 1000 // c.n AS s_m,
         |    CASE WHEN ${(0 until 8).map(k =>
                s"(sg.h${2 * k} = v.v${2 * k} AND sg.h${2 * k + 1} = v.v${2 * k + 1})")
                .mkString(" OR ")}
         |      THEN 1 ELSE 0 END AS fired
         |  FROM vsig v JOIN sig sg ON sg.doc_id = v.doc_id
         |  JOIN cnt c ON c.doc_id = v.doc_id),
         |fx AS (SELECT * FROM rarm UNION ALL SELECT * FROM carm),
         |t2 AS (SELECT s_m, fired,
         |    1000 - s_m * s_m // 1000 AS q1 FROM fx),
         |t4 AS (SELECT s_m, fired, q1 * q1 // 1000 AS q2 FROM t2),
         |t8 AS (SELECT s_m, fired, q2 * q2 // 1000 AS q4 FROM t4),
         |tt AS (SELECT s_m, fired, 1000 - q4 * q4 // 1000 AS theo
         |       FROM t8)
         |SELECT CAST(least(9, s_m // 100) AS BIGINT) AS decile,
         |  count(*) AS n_pairs,
         |  CAST(sum(fired) * 1000 // count(*) AS BIGINT) AS obs_milli,
         |  CAST(sum(theo) // count(*) AS BIGINT) AS theo_milli,
         |  CAST(sum(fired) * 1000 // count(*)
         |    - sum(theo) // count(*) AS BIGINT) AS gap_milli
         |FROM tt GROUP BY 1 ORDER BY decile""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      graft.cdc.GraftFunctions.register(s)
      val sh = Text.shingleHashes(s, d)
      val ds = sh.select(col("doc_id")).distinct().tcache()
      val st = ds.withColumn("g", pmod(graft.cdc.GraftFunctions.md5_h32(
        col("doc_id").cast("string")), lit(64L)))
      val wg = Window.partitionBy(col("g")).orderBy(col("doc_id"))
      val r = st.withColumn("rn", row_number().over(wg))
      val sp = r.as("ra").join(r.as("rb"),
          col("ra.g") === col("rb.g") &&
            col("rb.rn") === col("ra.rn") + 1)
        .filter(col("ra.rn") % 2 === 1)
        .select(col("ra.doc_id").as("d1"), col("rb.doc_id").as("d2"))
      val pl = sp
        .unionAll(Text.jaccardPairs(s, d).select(col("d1"), col("d2")))
        .distinct()
        .tcache() // intersection join + size joins share the list
      // Exact-J per pair by record fetch (r17, q130's verify recipe):
      // the former shape joined every pair against d1's FULL shingle
      // postings and then d2's — a pairs×postings row expansion whose
      // pipeline read ~30 task-sec (`Probe metrics`). Fetch both docs'
      // sorted shingle arrays instead (two keyed joins, no expansion)
      // and count the intersection natively; i = 0 pairs fall out of
      // the two-pointer count exactly like the old left join's
      // coalesce(i, 0), so s_m is value-identical.
      val sets = sh.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("h"))).as("hs"),
          max(col("n")).as("n"))
        .tcache()
      val jm = pl
        .join(sets.select(col("doc_id").as("d1"), col("hs").as("h1"),
          col("n").as("na")), "d1")
        .join(sets.select(col("doc_id").as("d2"), col("hs").as("h2"),
          col("n").as("nb")), "d2")
        .select(col("d1"), col("d2"),
          graft.cdc.GraftFunctions.sorted_inter_count(col("h1"),
            col("h2")).as("i"), col("na"), col("nb"))
        .select(col("d1"), col("d2"),
          expr("i * 1000 DIV (na + nb - i)").as("s_m"))
      val sig = Text.minhashSig(s, d)
      val sa = sig.toDF(sig.columns.toIndexedSeq.map {
        case "doc_id" => "d1"; case c => s"a_$c" }: _*)
      val sb = sig.toDF(sig.columns.toIndexedSeq.map {
        case "doc_id" => "d2"; case c => s"b_$c" }: _*)
      def bands(l: Int => org.apache.spark.sql.Column,
          rr: Int => org.apache.spark.sql.Column) = (0 until 8).map(k =>
        l(2 * k) === rr(2 * k) && l(2 * k + 1) === rr(2 * k + 1))
        .reduce(_ || _)
      val rarm = jm.join(sa, "d1").join(sb, "d2")
        .select(col("s_m"),
          when(bands(j => col(s"a_h$j"), j => col(s"b_h$j")), 1L)
            .otherwise(0L).as("fired"))
      // controlled mid-J arm: each sampled doc vs its own h%8<k
      // shingle subset — J = nsub/n exactly, minhash theory unchanged
      val sd = ds.filter(pmod(graft.cdc.GraftFunctions.md5_h32(
        col("doc_id").cast("string")), lit(16L)) === 0L)
      val ks = {
        val ss = s; import ss.implicits._
        (1L to 7L).toDF("k")
      }
      val vsig = sh.join(sd, "doc_id").crossJoin(broadcast(ks))
        .filter(pmod(col("h"), lit(8L)) < col("k"))
        .groupBy(col("doc_id"), col("k"))
        .agg(count(lit(1)).as("nsub"),
          (0 until 16).map(j =>
            min((lit(Text.minhashA(j)) * col("h") + lit(Text.minhashB(j)))
              % 2147483647L).as(s"v$j")): _*)
      val carm = vsig.join(sig, "doc_id")
        .select(expr("nsub * 1000 DIV n").as("s_m"),
          when(bands(j => col(s"h$j"), j => col(s"v$j")), 1L)
            .otherwise(0L).as("fired"))
      rarm.unionAll(carm)
        .withColumn("q1", expr("1000 - s_m * s_m DIV 1000"))
        .withColumn("q2", expr("q1 * q1 DIV 1000"))
        .withColumn("q4", expr("q2 * q2 DIV 1000"))
        .withColumn("theo", expr("1000 - q4 * q4 DIV 1000"))
        .groupBy(least(lit(9L), expr("s_m DIV 100")).as("decile"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(fired) * 1000 DIV count(1)").as("obs_milli"),
          expr("sum(theo) DIV count(1)").as("theo_milli"))
        .withColumn("gap_milli", col("obs_milli") - col("theo_milli"))
        .orderBy(col("decile"))
    }
  )
}
