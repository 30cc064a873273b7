package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators over `documents` — the
  * LLM-data-pipeline surface (BASELINE.json north star): token stats,
  * quality scoring, language ID, fingerprinting, exact dedup, n-gram
  * Jaccard near-dup, MinHash+LSH, and SimHash with banded Hamming
  * join.
  *
  * Cross-engine determinism: `md5` is the one hash both Spark and
  * DuckDB compute identically, so every hash-derived quantity
  * (minhash signatures, LSH band keys, simhash bit weights,
  * fingerprints) is built from md5 hex text. Tokenization is
  * `lower → split [^a-z]+ → drop empties` on both sides.
  *
  * Scale notes (100 TB):
  *  - token/shingle explosion is map-side only; every aggregate is
  *    partial+final keyed on doc_id (one shuffle);
  *  - exact pairwise Jaccard (q25) joins on shared shingles — the
  *    quadratic baseline; MinHash banding (q26) is the scale path:
  *    candidates come from equi-joins on 8 constant-width band keys,
  *    so the shuffle is keyed and bounded, never a cross join;
  *  - SimHash (q27) avoids the all-pairs Hamming scan with a 4×8-bit
  *    band join that is *exact* for distance ≤ 3 (pigeonhole: 3 bit
  *    errors cannot touch all 4 bands).
  */
object Text {
  import Tables._

  // ---- shared tokenization (identical in oracle SQL) ----

  private[graft] def toksCol: Column =
    filter(split(lower(col("text")), "[^a-z]+"), x => x =!= "")

  private[ops] val toksSql =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')"

  // tokenized documents memoized per (session, dataset): every text /
  // dedup / pipeline operator starts from the same tokenization, so
  // materialize it once per session (one entry per (session, sf-dir))
  private val toksCache = new Tables.DfMemo("toks")

  // the cache keeps only the columns downstream operators read
  // (doc_id, lang, source, toks) — persisting the raw text alongside
  // its token array would double the cached bytes for nothing.
  // fanOut first: the test corpus is ONE parquet split, which would
  // run the regex tokenization single-threaded AND pin every cached
  // downstream map stage to one partition; the round-robin shuffle of
  // raw rows is far cheaper than serializing tokenization.
  private[ops] def withToks(s: SparkSession, d: String): DataFrame =
    toksCache.getOrElseUpdate((s, d))(
      fanOut(documents(s, d).select(col("doc_id"), col("lang"),
          col("source"), col("text")))
        .select(col("doc_id"), col("lang"), col("source"),
          toksCol.as("toks"))
        .cache())

  /** Per-doc term-frequency index (doc_id, lang, tok, tf) — the third
    * memoized corpus dimension beside the token arrays and the shingle
    * index. The explode keeps each doc's tokens in one partition, so
    * the (doc, tok) groupBy collapses occurrences map-side and the
    * cache holds doc-vocab rows (≈⅓ of the occurrence stream at
    * typical tf). Consumers: q27 simhash (tf-weighted bit sums), q84
    * postings, q90 co-occurrence (the tf keys ARE the per-doc distinct
    * tokens), q47 term scores (re-aggregates by lang/term — lang rides
    * along functionally dependent on doc_id). At 100 TB this is the
    * persisted term index a pipeline materializes once per corpus
    * snapshot. */
  private val tfCache = new Tables.DfMemo("tf")

  private[ops] def docTermFreq(s: SparkSession, d: String): DataFrame =
    tfCache.getOrElseUpdate((s, d))(
      withToks(s, d)
        .select(col("doc_id"), col("lang"), explode(col("toks")).as("tok"))
        .groupBy(col("doc_id"), col("lang"), col("tok"))
        .agg(count(lit(1)).as("tf"))
        .cache())

  /** Per-doc adjacent-token bigram TYPE counts
    * (doc_id, lang, t1, t2, c) — the bigram sibling of [[docTermFreq]].
    * One map-side in-array pair expansion + one keyed agg, memoized
    * once per (session, dataset); consumers re-aggregate
    * (q86 per-lang bigram counts, q142 bigram-LM fluency) instead of
    * re-exploding the occurrence stream per query. Cached rows are
    * per-doc bigram TYPES (≤ occurrence stream, token-linear —
    * ScalingSpec-bounded); occurrence counts fold back via `c`. */
  private val bgCache = new Tables.DfMemo("bigrams")

  private[ops] def docBigrams(s: SparkSession, d: String): DataFrame =
    bgCache.getOrElseUpdate((s, d))(
      withToks(s, d)
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(0, size(toks)-2)," +
            " i -> struct(toks[i] AS t1, toks[i+1] AS t2))")).as("p"))
        .groupBy(col("doc_id"), col("lang"),
          col("p.t1").as("t1"), col("p.t2").as("t2"))
        .agg(count(lit(1)).as("c"))
        .cache())

  /** Exact-integer OLS of y on x per lang over a tiny band relation
    * `(lang, x, y)` — the shared fold behind the corpus-law fits
    * (q290 Zipf, q294 Heaps): slope and intercept in milli (DIV
    * truncates toward zero, matching DuckDB `//` — verified on
    * negatives), plus the mean squared residual in micro as the
    * goodness-of-fit tell. Callers guarantee O(log corpus) rows per
    * lang with distinct x (dyadic bands), so the relation is
    * broadcast back for residuals and the denominator n·Σx²−(Σx)²
    * is nonzero whenever n ≥ 2. */
  private[ops] def integerOlsFit(b: DataFrame, nName: String): DataFrame = {
    val fit = b.groupBy(col("lang"))
      .agg(count(lit(1)).as(nName),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
      .filter(col(nName) >= 2)
      .select(col("lang"), col(nName),
        expr(s"($nName * sxy - sx * sy) * 1000" +
          s" DIV ($nName * sxx - sx * sx)").cast("long")
          .as("slope_milli"),
        expr(s"(sy * sxx - sx * sxy) * 1000" +
          s" DIV ($nName * sxx - sx * sx)").cast("long")
          .as("icept_milli"))
    b.join(broadcast(fit), "lang")
      .groupBy(col("lang"), col(nName), col("slope_milli"),
        col("icept_milli"))
      .agg(expr(s"sum((1000 * y - slope_milli * x - icept_milli)" +
        s" * (1000 * y - slope_milli * x - icept_milli))" +
        s" DIV $nName").cast("long").as("mse_micro"))
      .orderBy(col("lang"))
  }

  /** DuckDB SQL for the first-8-hex-digits md5 hash as a 32-bit int —
    * the engine side is `conv(substring(md5(e), 1, 8), 16, 10)`. */
  private[ops] def h32Sql(e: String): String =
    (0 until 8)
      .map(i => s"(strpos('0123456789abcdef', substr(md5($e), ${i + 1}, 1)) - 1)" +
        s" * ${1L << (4 * (7 - i))}")
      .mkString(" + ")

  /** word 3-gram shingles hashed to 32-bit md5-derived ints, distinct
    * per doc (engine side). Joining/minhashing on the int instead of
    * the shingle string shrinks the shuffle (8 bytes vs ~20-char
    * strings) and makes key compares branchless; the dedup happens
    * map-side inside the array (`array_distinct` before the explode) —
    * a post-explode `.distinct()` would shuffle the full shingle
    * stream just to dedupe within each document. At corpus scales
    * where 32-bit birthday collisions bite, widen to the first 15 hex
    * digits (60 bits) — same construction in both engines. */
  // corpus-level indexes memoized per (session, dataset): the shingle
  // set and the near-dup pair graph are shared dimensions that several
  // operators consume (q25/q26/q45) — materialize each once per
  // session instead of once per query, like a persisted shingle index
  // would be at scale. Bounded: one entry per (session, sf-dir).
  private val shCache = new Tables.DfMemo("shingles")
  private val pairCache = new Tables.DfMemo("pairs")

  /** THE shingle construction — one builder for the standing corpus
    * index (below) and the streaming ingest path
    * (`StreamOps.dedupIngestBatch`): distinct 3-gram md5_h32
    * shingles over a (doc_id, toks) frame, per-doc count `n` riding
    * along map-side. Stream-vs-corpus matching is only correct while
    * BOTH sides hash bit-identically, so neither may fork its own
    * copy of this transform. */
  private[graft] def shinglesOfToks(toks: DataFrame): DataFrame =
    toks
      .filter(size(col("toks")) >= 3)
      // the CASE guard looks redundant next to the filter, but is
      // LOAD-BEARING: InferFiltersFromGenerate can copy the transform
      // into an inferred `size(...) > 0` predicate and merge it into
      // the same Filter as the size guard, where conjunct evaluation
      // order is not guaranteed — under ANSI mode a sub-3-token doc
      // then throws INVALID_ARRAY_INDEX instead of filtering away.
      // CASE WHEN evaluates its branch lazily, making the lambda
      // total. (Same hazard + fix in gram8OfToks.)
      .select(col("doc_id"), array_distinct(expr(
        "CASE WHEN size(toks) >= 3 THEN " +
          "transform(sequence(0, size(toks)-3), i -> " +
          "md5_h32(concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) " +
          "ELSE CAST(array() AS ARRAY<BIGINT>) END"))
        .as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n"),
        explode(col("hs")).as("h"))

  /** [[shinglesOfToks]] over raw (doc_id, text) — tokenization
    * included (lower, `[^a-z]+` splits), for callers outside the
    * memoized corpus path (the streaming ingest probe). */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    shinglesOfToks(docs.select(col("doc_id"), toksCol.as("toks")))

  /** THE 8-gram construction — one builder for the batch
    * contamination checks (q231/q234) and the streaming probe
    * (`StreamOps.contaminationProbeBatch`): distinct hashed 8-grams
    * `(doc_id, g)` over a (doc_id, toks) frame, deduped map-side
    * inside the array before the explode. Stream-vs-train matching
    * is only correct while both sides hash bit-identically, so
    * neither may fork its own copy (same contract as
    * [[shinglesOfToks]]). */
  private[graft] def gram8OfToks(toks: DataFrame): DataFrame =
    toks
      .filter(size(col("toks")) >= 8)
      // CASE guard load-bearing — see shinglesOfToks
      .select(col("doc_id"), array_distinct(expr(
        "CASE WHEN size(toks) >= 8 THEN " +
          "transform(sequence(0, size(toks) - 8), i -> " +
          "md5_h32(concat_ws(' ', toks[i], toks[i+1], toks[i+2], " +
          "toks[i+3], toks[i+4], toks[i+5], toks[i+6], toks[i+7]))) " +
          "ELSE CAST(array() AS ARRAY<BIGINT>) END"))
        .as("gs"))
      .select(col("doc_id"), explode(col("gs")).as("g"))

  /** [[gram8OfToks]] over raw (doc_id, text). */
  private[graft] def gram8Of(docs: DataFrame): DataFrame =
    gram8OfToks(docs.select(col("doc_id"), toksCol.as("toks")))

  private val gram8Cache = new Tables.DfMemo("gram8")

  /** The corpus's distinct hashed 8-grams per doc, memoized — the
    * shared base of the contamination family (q231 verdicts, q262
    * method-agreement census). Token-linear (ScalingSpec-bounded);
    * session cache like the shingle index it parallels.
    *
    * r17 fusion (guide §1.2 "don't compute things twice"): the
    * positional index [[posIndex]] already md5-hashes EVERY 8-gram
    * position of the corpus — `concat_ws(' ', slice(toks, i, 8))` is
    * character-identical to gram8OfToks's 8-argument concat_ws, so
    * `md5_h32` values agree bit-for-bit — and the session memo for
    * gram8 is exactly its per-doc distinct projection. Deriving it
    * from the cached positional index replaces a second full md5 pass
    * over every position with one keyed dedup of cached rows. The
    * SHARED builder [[gram8OfToks]] stays the single source of truth
    * for fixtures and the streaming probe (their inputs are not the
    * session corpus), and Gram8FusionSpec pins the set equality. */
  private[ops] def gram8Hashes(s: SparkSession, d: String): DataFrame =
    gram8Cache.getOrElseUpdate((s, d)) {
      graft.cdc.GraftFunctions.register(s)
      posIndex(s, d).select(col("doc_id"), col("h").as("g"))
        .distinct().cache()
    }

  private[ops] def shingleHashes(s: SparkSession, d: String): DataFrame =
    shCache.getOrElseUpdate((s, d)) {
      // md5_h32 is the native digest-bytes expression — value-identical
      // to conv(substring(md5(x),1,8),16,10) without the hex round-trip.
      // The per-doc distinct-shingle count n rides along from the
      // array the explode flattens — map-side and free, so consumers
      // (jaccard ratio bound, q26 union sizing) never re-aggregate +
      // broadcast-join a separate per-doc count.
      graft.cdc.GraftFunctions.register(s)
      shinglesOfToks(withToks(s, d).select(col("doc_id"), col("toks")))
        .cache()
    }

  private val prefCache = new Tables.DfMemo("prefix")

  /** q130's PPJoin prefix index, memoized like the shingle index it
    * derives from: every doc's rarest-first (global df, then h)
    * prefix of length n - ceil(0.6n) + 1, singleton (df = 1) shingles
    * dropped after rank assignment (join-inert), prefix RANK kept for
    * the positional filter. Strict subset of shingleHashes — the
    * ScalingSpec token-linear bound applies; at 100 TB this is the
    * standing prefix table an SSJoin deployment maintains next to its
    * inverted index. */
  private[ops] def prefixIndex(s: SparkSession, d: String): DataFrame =
    prefCache.getOrElseUpdate((s, d)) {
      import org.apache.spark.sql.expressions.Window
      val sh = shingleHashes(s, d)
      val dfh = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
      sh.join(dfh, "h")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= col("n") - expr("(3 * n + 4) DIV 5") + 1)
        .filter(col("df") >= 2)
        .select(col("doc_id"), col("h"), col("n"), col("rn"))
        .cache()
    }

  private val posIdxCache = new Tables.DfMemo("pos8_idx")
  private val posDfCache = new Tables.DfMemo("pos8_df")

  /** The positional 8-gram extraction over ANY (doc_id, toks)
    * relation — one builder for the session memo below and for
    * fixture corpora (ExactSubstrSpec's planted clones), so a
    * fixture span is attributed by exactly the production index. */
  private[graft] def posIndexOfToks(toks: DataFrame): DataFrame =
    toks.filter(size(col("toks")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 7), " +
          "i -> struct(i AS i, " +
          "md5_h32(concat_ws(' ', slice(toks, i, 8))) AS h))")).as("p"))
      .select(col("doc_id"), col("p.i").as("i"), col("p.h").as("h"))

  /** The sliding 8-token POSITIONAL hash index `(doc_id, i, h)` —
    * the span-attribution analogue of the shingle index, shared by
    * the duplicated-span family (q127 in-doc spans, q125-style span
    * removal, q155 cross-doc attribution, q303 maximal shared
    * spans). One row per token position (token-linear,
    * ScalingSpec-bounded); memoized so the explode runs once per
    * session, not once per query — at 100 TB this is the standing
    * positional index a span-dedup deployment maintains, the
    * suffix-array equivalent without a global sort. */
  private[ops] def posIndex(s: SparkSession, d: String): DataFrame =
    posIdxCache.getOrElseUpdate((s, d)) {
      graft.cdc.GraftFunctions.register(s)
      posIndexOfToks(withToks(s, d)).cache()
    }

  /** Per-hash document frequency over [[posIndex]] (`h`, `df` =
    * distinct docs) — the rarity side every span query filters on
    * (df >= 2 = duplicated somewhere; BETWEEN 2 AND 10 = capped
    * non-boilerplate buckets). Distinct-count-bounded, memoized. */
  private[ops] def posDf(s: SparkSession, d: String): DataFrame =
    posDfCache.getOrElseUpdate((s, d)) {
      posIndex(s, d).groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .cache()
    }

  /** identical hashed-shingle extraction for the DuckDB oracle
    * (1-based); CTE shape `shingles(doc_id, h)`. `rel` is the
    * (doc_id, text) relation — `documents` for the corpus queries, a
    * fixture-widened CTE for q262. */
  private[ops] def shinglesSqlFrom(rel: String): String =
    s"""SELECT DISTINCT doc_id, ${h32Sql("sh")} AS h
       |FROM (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
       |      FROM (SELECT doc_id, $toksSql AS toks FROM $rel),
       |           UNNEST(range(1, len(toks) - 1)) AS t(i))""".stripMargin

  private[ops] val shinglesSql = shinglesSqlFrom("documents")

  /** Exact n-gram-Jaccard near-dup pairs (d1 < d2, J >= 0.6), with the
    * size-ratio bound pushed into the shared-shingle join — the core of
    * q25, reused by q45's duplicate-cluster graph. Columns:
    * d1, d2, na, nb, inter. */
  private[ops] def jaccardPairs(s: SparkSession, d: String): DataFrame =
    pairCache.getOrElseUpdate((s, d)) {
      // data-sized cache layout (see Tables.cacheSized): the pair
      // graph is near-dup-bounded — KB-scale next to the corpus — and
      // its ~24 consumers each paid 32 fixed-overhead tasks per map
      // stage under the static layout (q160 1.58 → 0.86 s from this
      // alone). Bound = the kernel edge bound: past it the build's
      // layout and parallelism stand.
      Tables.cacheSized(buildJaccardPairs(s, d),
        maxLocal = graft.GraftConf.GraphLocalEdgeMax.get(s))
    }

  private def buildJaccardPairs(s: SparkSession, d: String): DataFrame =
    // per-doc shingle counts ride on the cached index (map-side from
    // the pre-explode array) — no count aggregation, no broadcast join
    jaccardPairsOfShingles(shingleHashes(s, d))

  /** The J ≥ 0.6 pair join over ANY (doc_id, h, n) shingle relation —
    * one shape for the memoized corpus graph (above) and for
    * self-contained fixture corpora (q262's Venn-cell seeds), so a
    * fixture pair is decided by exactly the production join. */
  private[ops] def jaccardPairsOfShingles(sh: DataFrame): DataFrame = {
    val a = sh.select(col("doc_id").as("d1"), col("h"), col("n").as("na"))
    val b = sh.select(col("doc_id").as("d2"), col("h"), col("n").as("nb"))
    val jac = col("inter") * 1.0 / (col("na") + col("nb") - col("inter"))
    // One equi-join on the hashed shingle with the size-ratio bound
    // pushed inside, then a keyed count — measured faster here than a
    // PPJoin prefix-filter variant (the extra df join + per-doc window
    // sort + candidate-verify passes cost more than the candidate
    // explosion they avoid at this corpus size). At corpora where the
    // co-occurrence pair space outgrows memory, layer the prefix
    // filter on top: order shingles by (df, h), join only the
    // (n - ceil(0.6·n) + 1)-element rarest-first prefixes (lossless
    // for J >= 0.6), and verify candidates with this same join shape
    // — implemented as q130, oracle-proven output-identical to q25.
    a.join(b,
        a("h") === b("h") && col("d1") < col("d2") &&
          col("na") * 5 >= col("nb") * 3 && col("nb") * 5 >= col("na") * 3)
      .groupBy(col("d1"), col("d2"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      .filter(jac >= 0.6)
  }

  /** Oracle mirror of [[jaccardPairs]] as CTE bodies; prepend
    * `WITH [RECURSIVE] shingles AS (shinglesSql), ...` and select from
    * `jpairs(d1, d2)`. */
  private[ops] val jaccardPairsSql =
    """cnt AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
      |sn AS (SELECT s.doc_id, s.h, c.n FROM shingles s
      |       JOIN cnt c ON c.doc_id = s.doc_id),
      |jp AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
      |    a.n AS na, b.n AS nb, count(*) AS inter
      |  FROM sn a JOIN sn b
      |    ON a.h = b.h AND a.doc_id < b.doc_id
      |   AND a.n * 5 >= b.n * 3 AND b.n * 5 >= a.n * 3
      |  GROUP BY 1, 2, 3, 4),
      |jpairs AS (SELECT d1, d2, na, nb, inter FROM jp
      |  WHERE inter * 1.0 / (na + nb - inter) >= 0.6)""".stripMargin

  /** Distributed interval merge: collapse possibly-overlapping
    * half-open [s, e) intervals into maximal disjoint spans, per
    * partition key. Classic single-sort shape: the running max of
    * prior ends detects gap starts, the running sum of gap flags
    * numbers the islands, one keyed agg yields exact extents — both
    * window functions ride ONE (part, s) sort (PlanEvidenceSpec
    * pins it for q127). Input columns `part`, `s`, `e`; output
    * (part, ss, se) with ss/se the merged span bounds. */
  private[graft] def mergeIntervals(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("part")).orderBy(col("s"))
    df.withColumn("cme",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ng",
        when(col("cme").isNull || col("s") > col("cme"), 1L).otherwise(0L))
      .withColumn("grp",
        sum(col("ng")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col("part"), col("grp"))
      .agg(min(col("s")).as("ss"), max(col("e")).as("se"))
      .select(col("part"), col("ss"), col("se"))
  }

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** (doc_id, q) — the q22 quality score, reusable by downstream
    * selection operators (q55 canonical-doc choice). */
  private def scoreToks(withToksDf: DataFrame): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    withToksDf
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(filter(col("toks"), x => array_contains(stopArr, x)))
          .cast("long").as("n_stop"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"),
        floor(lit(10000.0) * (lit(0.4) * least(lit(1.0), col("n_tokens") / 100.0)
          + lit(0.3) * (lit(1.0) - col("n_stop") * 1.0 / col("n_tokens"))
          + lit(0.3) * (col("n_uniq") * 1.0 / col("n_tokens")))).cast("long")
          .as("q"))
  }

  private[ops] def qualityScores(s: SparkSession, d: String): DataFrame =
    scoreToks(withToks(s, d))

  /** [[qualityScores]] for an arbitrary `(doc_id, text)` relation —
    * the LIVE-ingest entry point ([[graft.streaming.StreamOps
    * .qualityGateIngestBatch]]): same tokenizer, same 0..10000
    * lattice, so a floor calibrated on the standing store gates
    * arrivals on exactly the score the batch queries audit. */
  private[graft] def qualityScoresOf(docs: DataFrame): DataFrame =
    scoreToks(docs.select(col("doc_id"), toksCol.as("toks")))

  /** Oracle mirror of [[qualityScores]]: CTE `qual(doc_id, q)`. */
  private[ops] val qualityScoresSql =
    s"""qual AS (SELECT doc_id,
       |  CAST(floor(10000.0 * (0.4 * least(1.0, n_tokens / 100.0)
       |    + 0.3 * (1.0 - n_stop * 1.0 / n_tokens)
       |    + 0.3 * (n_uniq * 1.0 / n_tokens))) AS BIGINT) AS q
       |FROM (SELECT doc_id,
       |        CAST(len(toks) AS BIGINT) AS n_tokens,
       |        CAST(len(list_filter(toks, x ->
       |          list_contains(['the','a','of','and','to','in','is','it'], x)))
       |          AS BIGINT) AS n_stop,
       |        CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq
       |      FROM (SELECT doc_id, $toksSql AS toks FROM documents))
       |WHERE n_tokens > 0)""".stripMargin

  /** Affine minhash family h_j(x) = (a_j·x + b_j) mod 2³¹−1 — the one
    * source of truth for both the Spark plan and the oracle SQL. */
  private[graft] val minhashA: Seq[Long] =
    (0 until 16).map(j => (1099087573L * (j + 1)) % 2147483647L)
  private[graft] val minhashB: Seq[Long] =
    (0 until 16).map(j => (2654435761L * (j + 7)) % 2147483647L)

  /** 16-permutation minhash signature per doc (doc_id, h0..h15, n —
    * the doc's distinct-shingle count, folded into the same keyed
    * partial+final aggregation for free), built from the memoized
    * hashed-shingle index. Shared by q26 (LSH banding) and q80
    * (sketch-accuracy audit) — and memoized itself: q26's band
    * SELF-join otherwise re-runs the 16-way min aggregation once per
    * join side, and q80 a third time. One signature row per doc, so
    * the cache is tiny (docs × 18 longs) while the recompute it
    * saves is a full pass over the shingle index. */
  private val sigCache = new Tables.DfMemo("minhash")

  private[ops] def minhashSig(s: SparkSession, d: String): DataFrame =
    sigCache.getOrElseUpdate((s, d))(
      // data-sized cache layout (Tables.cacheSized): one signature row
      // per doc — the LSH band joins' map stages over it were 32
      // fixed-overhead tasks for KB of data
      Tables.cacheSized(
        shingleHashes(s, d).groupBy(col("doc_id")).agg(
          min((lit(minhashA(0)) * col("h") + lit(minhashB(0))) % 2147483647L)
            .as("h0"),
          (1 until 16).map(j =>
            min((lit(minhashA(j)) * col("h") + lit(minhashB(j))) % 2147483647L)
              .as(s"h$j")) :+ max(col("n")).as("n"): _*)))

  private val simCache = new Tables.DfMemo("simhash")

  /** Per-doc 32-bit SimHash signature `(doc_id, simhash)` — the
    * fingerprint table next to [[minhashSig]]: tf-weighted ±1 bit
    * sums over the shared term-frequency index, sign-collapsed to one
    * long per doc. One row per doc (tiny cache), while the recompute
    * it saves is the 32-way sum aggregation over the whole tf index
    * — at 100 TB a standing column maintained at ingest, exactly like
    * the MinHash signatures. */
  private[ops] def simhashSig(s: SparkSession, d: String): DataFrame =
    simCache.getOrElseUpdate((s, d)) {
      graft.cdc.GraftFunctions.register(s)
      val th = docTermFreq(s, d)
        .select(col("doc_id"), col("tf"),
          graft.cdc.GraftFunctions.md5_h32(col("tok")).as("h32"))
      th.groupBy(col("doc_id")).agg(
        expr("CAST(sum(tf * (2 * ((h32 >> 0) & 1) - 1)) AS BIGINT)")
          .as("s0"),
        (1 until 32).map(i =>
          expr(s"CAST(sum(tf * (2 * ((h32 >> $i) & 1) - 1)) AS BIGINT)")
            .as(s"s$i")): _*)
        .select(col("doc_id"),
          (0 until 32).map(i =>
            when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
            .reduce(_ + _).as("simhash"))
        .cache()
    }

  /** Oracle mirror of [[minhashSig]]: CTE body `sig(doc_id, h0..h15)`,
    * assuming a `shingles(doc_id, h)` CTE is in scope. */
  private[ops] val sigSql: String =
    s"""sig AS (SELECT doc_id,
       |  ${(0 until 16).map(j =>
          s"min((${minhashA(j)} * h + ${minhashB(j)}) % 2147483647) AS h$j")
          .mkString(", ")}
       |  FROM shingles GROUP BY doc_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q21_token_stats_per_lang",
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         |  CAST(floor(sum(n_toks) * 10000.0 / count(*)) AS BIGINT)
         |    AS avg_tokens_4,
         |  max(n_toks) AS max_tokens
         |FROM (SELECT lang, len($toksSql) AS n_toks FROM documents)
         |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      withToks(s, d)
        .select(col("lang"), size(col("toks")).cast("long").as("n_toks"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_toks")).as("total_tokens"),
             floor(sum(col("n_toks")) * 10000.0 / count(lit(1))).cast("long")
               .as("avg_tokens_4"),
             max(col("n_toks")).as("max_tokens"))
        .orderBy(col("lang"))
    },

    QueryDef(
      "q22_doc_quality",
      s"""SELECT doc_id, n_tokens,
         |  CAST(floor(sum_len * 10000.0 / n_tokens) AS BIGINT) AS avg_token_len_4,
         |  CAST(floor(n_stop * 10000.0 / n_tokens) AS BIGINT) AS stopword_ratio_4,
         |  CAST(floor(n_uniq * 10000.0 / n_tokens) AS BIGINT) AS uniq_ratio_4,
         |  CAST(floor(10000.0 * (0.4 * least(1.0, n_tokens / 100.0)
         |    + 0.3 * (1.0 - n_stop * 1.0 / n_tokens)
         |    + 0.3 * (n_uniq * 1.0 / n_tokens))) AS BIGINT) AS quality_score_4
         |FROM (SELECT doc_id,
         |        CAST(len(toks) AS BIGINT) AS n_tokens,
         |        CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
         |          AS sum_len,
         |        CAST(len(list_filter(toks, x ->
         |          list_contains(['the','a','of','and','to','in','is','it'], x)))
         |          AS BIGINT) AS n_stop,
         |        CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq
         |      FROM (SELECT doc_id, $toksSql AS toks FROM documents))
         |WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val stopArr = array(stopwords.map(lit): _*)
      withToks(s, d)
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          aggregate(transform(col("toks"), x => length(x)), lit(0),
            (acc, x) => acc + x).cast("long").as("sum_len"),
          size(filter(col("toks"), x => array_contains(stopArr, x)))
            .cast("long").as("n_stop"),
          size(array_distinct(col("toks"))).cast("long").as("n_uniq"))
        .filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("n_tokens"),
          floor(col("sum_len") * 10000.0 / col("n_tokens")).cast("long")
            .as("avg_token_len_4"),
          floor(col("n_stop") * 10000.0 / col("n_tokens")).cast("long")
            .as("stopword_ratio_4"),
          floor(col("n_uniq") * 10000.0 / col("n_tokens")).cast("long")
            .as("uniq_ratio_4"),
          floor(lit(10000.0) * (lit(0.4) * least(lit(1.0), col("n_tokens") / 100.0)
            + lit(0.3) * (lit(1.0) - col("n_stop") * 1.0 / col("n_tokens"))
            + lit(0.3) * (col("n_uniq") * 1.0 / col("n_tokens")))).cast("long")
            .as("quality_score_4"))
        .orderBy(col("doc_id"))
    },

    QueryDef(
      "q23_langid_confusion",
      s"""WITH scored AS (SELECT lang,
         |  len(list_filter(toks, x -> list_contains(['the','a','is','of'], x))) AS s_en,
         |  len(list_filter(toks, x -> list_contains(['der','die','das','und'], x))) AS s_de,
         |  len(list_filter(toks, x -> list_contains(['le','et','les','une'], x))) AS s_fr,
         |  len(list_filter(toks, x -> list_contains(['el','y','los','una'], x))) AS s_es
         |  FROM (SELECT lang, $toksSql AS toks FROM documents))
         |SELECT lang,
         |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS guess,
         |  count(*) AS n
         |FROM scored GROUP BY lang, guess ORDER BY lang, guess""".stripMargin) {
      (s, d) =>
        def hits(words: Seq[String]): Column =
          size(filter(col("toks"), x => array_contains(
            array(words.map(lit): _*), x)))
        withToks(s, d)
          .select(col("lang"),
            hits(Seq("the", "a", "is", "of")).as("s_en"),
            hits(Seq("der", "die", "das", "und")).as("s_de"),
            hits(Seq("le", "et", "les", "une")).as("s_fr"),
            hits(Seq("el", "y", "los", "una")).as("s_es"))
          .withColumn("guess",
            when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
              col("s_en") >= col("s_es"), "en")
              .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), "de")
              .when(col("s_fr") >= col("s_es"), "fr")
              .otherwise("es"))
          .groupBy(col("lang"), col("guess"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("guess"))
    },

    QueryDef(
      "q24_doc_fingerprints",
      s"""WITH fp AS (SELECT doc_id,
         |    md5(array_to_string($toksSql, ' ')) AS fingerprint
         |  FROM documents)
         |SELECT doc_id, fingerprint,
         |  min(doc_id) OVER (PARTITION BY fingerprint) AS first_doc_id
         |FROM fp ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      withToks(s, d)
        .select(col("doc_id"),
          md5(array_join(col("toks"), " ")).as("fingerprint"))
        .withColumn("first_doc_id",
          min(col("doc_id")).over(Window.partitionBy(col("fingerprint"))))
        .orderBy(col("doc_id"))
    },

    QueryDef(
      "q28_exact_dedup_summary",
      s"""SELECT source, count(*) AS n_docs,
         |  count(DISTINCT md5(array_to_string($toksSql, ' ')))
         |    AS n_distinct,
         |  count(*) - count(DISTINCT md5(array_to_string($toksSql, ' ')))
         |    AS n_dups
         |FROM documents GROUP BY source ORDER BY source""".stripMargin) {
      (s, d) =>
        withToks(s, d)
          .select(col("source"), md5(array_join(col("toks"), " ")).as("fp"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
               countDistinct(col("fp")).as("n_distinct"),
               (count(lit(1)) - countDistinct(col("fp"))).as("n_dups"))
          .orderBy(col("source"))
    },

    QueryDef(
      "q64_repetition_ratio",
      s"""SELECT doc_id, n_shingles,
         |  CAST(floor((n_shingles - n_uniq) * 10000.0 / n_shingles)
         |       AS BIGINT) AS rep_ratio_4,
         |  CASE WHEN (n_shingles - n_uniq) * 10.0 / n_shingles > 3.0
         |       THEN 1 ELSE 0 END AS flagged
         |FROM (SELECT doc_id,
         |        CAST(len(sh) AS BIGINT) AS n_shingles,
         |        CAST(len(list_distinct(sh)) AS BIGINT) AS n_uniq
         |      FROM (SELECT doc_id, list_transform(
         |              range(1, len(toks) - 1),
         |              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         |              AS sh
         |            FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |            WHERE len(toks) >= 3))
         |WHERE n_shingles > 0 ORDER BY doc_id""".stripMargin) { (s, d) =>
      // intra-document repetition (the Gopher-style duplicate-ngram
      // quality gate): duplicated 3-gram mass within a doc — pure
      // map-side array arithmetic, integer-scaled for the oracle;
      // docs over the 30% threshold are flagged for removal
      withToks(s, d)
        .filter(size(col("toks")) >= 3)
        .withColumn("sh", expr(
          "transform(sequence(0, size(toks)-3), i -> " +
            "concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .select(col("doc_id"),
          size(col("sh")).cast("long").as("n_shingles"),
          size(array_distinct(col("sh"))).cast("long").as("n_uniq"))
        .filter(col("n_shingles") > 0)
        .select(col("doc_id"), col("n_shingles"),
          floor((col("n_shingles") - col("n_uniq")) * 10000.0
            / col("n_shingles")).cast("long").as("rep_ratio_4"),
          when((col("n_shingles") - col("n_uniq")) * 10.0
            / col("n_shingles") > 3.0, 1L).otherwise(0L).as("flagged"))
        .orderBy(col("doc_id"))
    },

    QueryDef(
      "q65_pattern_counts",
      """SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN regexp_matches(text, '[0-9]{6,}')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_long_digits,
        |  CAST(sum(CASE WHEN regexp_matches(text, 'http')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_urlish,
        |  CAST(sum(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT)
        |    AS total_number_runs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      // pattern-based noise/PII screening counts (long digit runs,
      // URL-ish markers, numeric-run density) — the regex subset here
      // ([0-9]{6,}, literal substrings, [0-9]+) evaluates identically
      // under Java regex and DuckDB's RE2
      fanOut(documents(s, d).select(col("source"), col("text")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("text").rlike("[0-9]{6,}"), 1).otherwise(0))
            .cast("long").as("n_long_digits"),
          sum(when(col("text").rlike("http"), 1).otherwise(0))
            .cast("long").as("n_urlish"),
          sum(size(expr("regexp_extract_all(text, '[0-9]+', 0)")))
            .cast("long").as("total_number_runs"))
        .orderBy(col("source"))
    },

    // ---- q266: PII/noise scrub census ------------------------------
    // q65 DETECTS pattern-noise; this runs the actual SCRUB transform
    // a training pipeline applies before tokenization — digit runs of
    // 6+ (account numbers, phone-ish strings) masked to a fixed token
    // — and reports the per-source acceptance accounting a data-prep
    // run signs off on: docs touched, masks inserted, characters
    // removed, and a residual audit proving the scrubbed text carries
    // NO remaining matches (the transform is total, not best-effort).
    // The regex subset ([0-9]{6,}) evaluates identically under Java
    // regex and DuckDB RE2; Spark regexp_replace is replace-all by
    // default, the oracle passes the 'g' flag. Scale: one map-side
    // pass + a sources-cardinality aggregation — the census IS the
    // transform's own output statistics, nothing extra.
    QueryDef(
      "q266_pii_scrub_census",
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN masks > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_scrubbed,
        |  CAST(sum(masks) AS BIGINT) AS masks_inserted,
        |  CAST(sum(len_before - len_after) AS BIGINT) AS chars_removed,
        |  CAST(sum(CASE WHEN regexp_matches(scrubbed, '[0-9]{6,}')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS residual_docs
        |FROM (SELECT source, length(text) AS len_before,
        |        regexp_replace(text, '[0-9]{6,}', '<num>', 'g') AS scrubbed,
        |        length(regexp_replace(text, '[0-9]{6,}', '<num>', 'g'))
        |          AS len_after,
        |        len(regexp_extract_all(text, '[0-9]{6,}')) AS masks
        |      FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val scrubbed = regexp_replace(col("text"), "[0-9]{6,}", "<num>")
      fanOut(documents(s, d).select(col("source"), col("text")))
        .select(col("source"),
          length(col("text")).cast("long").as("len_before"),
          scrubbed.as("scrubbed"),
          length(scrubbed).cast("long").as("len_after"),
          size(expr("regexp_extract_all(text, '[0-9]{6,}', 0)"))
            .cast("long").as("masks"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("masks") > 0, 1L).otherwise(0L)).as("n_scrubbed"),
          sum(col("masks")).as("masks_inserted"),
          sum(col("len_before") - col("len_after")).as("chars_removed"),
          sum(when(col("scrubbed").rlike("[0-9]{6,}"), 1L).otherwise(0L))
            .as("residual_docs"))
        .orderBy(col("source"))
    },

    QueryDef(
      "q25_ngram_jaccard_pairs",
      s"""WITH shingles AS ($shinglesSql),
         |$jaccardPairsSql
         |SELECT d1, d2,
         |  CAST(floor(inter * 10000.0 / (na + nb - inter)) AS BIGINT)
         |    AS jaccard_4
         |FROM jpairs
         |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      // Exact size-ratio pruning: J(A,B) >= 0.6 forces
      // min(|A|,|B|)/max(|A|,|B|) >= 0.6, so pairs violating
      // 5*min >= 3*max can be dropped inside the shingle join itself
      // (before the count aggregation) without losing any result —
      // the quadratic baseline then only aggregates plausible pairs.
      jaccardPairs(s, d)
        .select(col("d1"), col("d2"),
          floor(col("inter") * 10000.0 / (col("na") + col("nb") - col("inter")))
            .cast("long").as("jaccard_4"))
        .orderBy(col("d1"), col("d2"))
    },

    QueryDef(
      "q26_minhash_lsh_pairs",
      s"""WITH shingles AS ($shinglesSql),
         |$sigSql,
         |bands AS (
         |  ${(0 until 8).map(b =>
             s"SELECT doc_id, $b AS band, h${2 * b} * 2147483648 + h${2 * b + 1} AS bkey FROM sig")
             .mkString("\n  UNION ALL\n  ")}),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |cnt AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
         |  FROM shingles a JOIN shingles b ON a.h = b.h AND a.doc_id < b.doc_id
         |  JOIN cand c ON c.d1 = a.doc_id AND c.d2 = b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2,
         |  CAST(floor(i * 10000.0 / (ca.n + cb.n - i)) AS BIGINT) AS jaccard_4
         |FROM inter JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
         |WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.6
         |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      val sh = shingleHashes(s, d)
      // minhash family: the shingle's 32-bit md5-derived hash feeds 16
      // affine permutations (a*h+b mod 2^31-1) — integer ops are
      // engine-identical and ~16x cheaper than per-permutation md5
      val sig = minhashSig(s, d)
      // one pass over sig: all 8 band keys exploded from an array;
      // bkey pairs two 31-bit minhashes into one 62-bit integer. The
      // doc's shingle count rides along, so the candidate pairs come
      // out of the band join already carrying (na, nb) — no per-doc
      // count re-aggregation or join afterwards.
      val bands = sig.select(col("doc_id"), col("n"),
        posexplode(array((0 until 8).map(b =>
          col(s"h${2 * b}") * 2147483648L + col(s"h${2 * b + 1}")): _*))
          .as(Seq("band", "bkey")))
      val ba = bands.select(col("doc_id").as("d1"), col("n").as("na"),
        col("band"), col("bkey"))
      val bb = bands.select(col("doc_id").as("d2"), col("n").as("nb"),
        col("band"), col("bkey"))
      val cand = ba.join(bb, Seq("band", "bkey"))
        .filter(col("d1") < col("d2"))
        .select(col("d1"), col("d2"), col("na"), col("nb")).distinct()
      val a = sh.select(col("doc_id").as("d1"), col("h"))
      val b = sh.select(col("doc_id").as("d2"), col("h"))
      // candidate-bounded intersection: expand candidates by d1's
      // shingles, then equi-join (d2, sh) — never the full pairwise
      // shingle join
      val inter = cand.join(a, Seq("d1"))
        .join(b, Seq("d2", "h"))
        .groupBy(col("d1"), col("d2"), col("na"), col("nb"))
        .agg(count(lit(1)).as("i"))
      val jac = col("i") * 1.0 / (col("na") + col("nb") - col("i"))
      inter
        .filter(jac >= 0.6)
        .select(col("d1"), col("d2"),
          floor(col("i") * 10000.0 / (col("na") + col("nb") - col("i")))
            .cast("long").as("jaccard_4"))
        .orderBy(col("d1"), col("d2"))
    },

    QueryDef(
      "q27_simhash_hamming_pairs",
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |th AS (SELECT doc_id,
         |  (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 268435456
         |  + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 16777216
         |  + (strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) * 1048576
         |  + (strpos('0123456789abcdef', substr(md5(tok), 4, 1)) - 1) * 65536
         |  + (strpos('0123456789abcdef', substr(md5(tok), 5, 1)) - 1) * 4096
         |  + (strpos('0123456789abcdef', substr(md5(tok), 6, 1)) - 1) * 256
         |  + (strpos('0123456789abcdef', substr(md5(tok), 7, 1)) - 1) * 16
         |  + (strpos('0123456789abcdef', substr(md5(tok), 8, 1)) - 1) AS h32
         |  FROM tok),
         |sums AS (SELECT doc_id,
         |  ${(0 until 32).map(i =>
             s"CAST(sum(2 * ((h32 >> $i) & 1) - 1) AS BIGINT) AS s$i")
             .mkString(", ")}
         |  FROM th GROUP BY doc_id),
         |sim AS (SELECT doc_id,
         |  ${(0 until 32).map(i =>
             s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)")
             .mkString(" + ")} AS simhash
         |  FROM sums),
         |bands AS (
         |  ${(0 until 4).map(b =>
             s"SELECT doc_id, simhash, $b AS band, (simhash >> ${8 * b}) & 255 AS bkey FROM sim")
             .mkString("\n  UNION ALL\n  ")}),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, a.simhash AS sh1,
         |    b.doc_id AS d2, b.simhash AS sh2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT d1, d2, bit_count(xor(sh1, sh2)) AS hamming
         |FROM cand WHERE bit_count(xor(sh1, sh2)) <= 3
         |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      // tf-grouped over the shared term-frequency index: md5 + the 32
      // bit-extractions run once per DISTINCT doc-token (each
      // occurrence's ±1 contribution just scales by tf — identical
      // arithmetic, ~3x fewer hashes at typical tf); the signature
      // relation itself is the memoized [[simhashSig]] standing table
      val sim = simhashSig(s, d)
      // one pass over sim: 4 byte-band keys exploded from an array
      val bands = sim.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("simhash"), 8 * b).bitwiseAND(255)): _*))
          .as(Seq("band", "bkey")))
      val ba = bands.select(col("doc_id").as("d1"), col("simhash").as("sh1"),
        col("band"), col("bkey"))
      val bb = bands.select(col("doc_id").as("d2"), col("simhash").as("sh2"),
        col("band"), col("bkey"))
      // hamming is a pure function of the pair, so the <=3 cut runs
      // BEFORE the dedup across bands: the distinct then only sees
      // the surviving near-dup pairs, not every band collision (the
      // band join emits ~30x more collisions than survivors here,
      // and the ratio only grows with corpus homogeneity)
      ba.join(bb, Seq("band", "bkey"))
        .filter(col("d1") < col("d2"))
        .select(col("d1"), col("d2"),
          expr("bit_count(sh1 ^ sh2)").as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
        .orderBy(col("d1"), col("d2"))
    },

    QueryDef(
      "q71_term_search",
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |hits AS (SELECT doc_id, tok, count(*) AS tf FROM tok
         |  WHERE tok IN ('spark', 'join', 'merge') GROUP BY doc_id, tok)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
         |FROM hits GROUP BY doc_id HAVING count(*) = 3
         |ORDER BY total_tf DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      // conjunctive inverted-index search: AND-match docs containing
      // every query term, ranked by summed term frequency. The term
      // filter sits before the shuffle, so only postings for the query
      // terms move — the distributed shape of an index probe (posting
      // fetch → doc-grouped AND + rank), never a scan-side regex.
      val terms = Seq("spark", "join", "merge")
      withToks(s, d)
        .select(col("doc_id"), explode(col("toks")).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("total_tf"))
        .filter(col("n_terms") === terms.size)
        .select(col("doc_id"), col("total_tf"))
        .orderBy(col("total_tf").desc, col("doc_id"))
        .limit(10)
    },

    QueryDef(
      "q72_length_buckets",
      """SELECT lang,
        |  CAST(length(bin(n_chars)) AS BIGINT) AS bits,
        |  count(*) AS n_docs,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY lang, bits
        |ORDER BY lang, bits""".stripMargin) { (s, d) =>
      // power-of-two length histogram: the bucket is the integer bit
      // length of n_chars (length of its binary rendering — exact in
      // both engines, unlike floor(log2(x)) whose float rounding can
      // misbucket exact powers of two). One keyed partial+final agg.
      documents(s, d)
        .select(col("lang"), col("n_chars"),
          length(bin(col("n_chars"))).cast("long").as("bits"))
        .groupBy(col("lang"), col("bits"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).cast("long").as("min_chars"),
          max(col("n_chars")).cast("long").as("max_chars"))
        .orderBy(col("lang"), col("bits"))
    },

    QueryDef(
      "q110_segment_dedup",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |segs AS (SELECT doc_id,
         |    array_to_string(list_slice(toks, i * 10 + 1, i * 10 + 10), ' ')
         |      AS seg
         |  FROM t, UNNEST(range(0, len(toks) // 10)) AS u(i)
         |  WHERE len(toks) >= 10),
         |sh AS (SELECT DISTINCT doc_id, ${h32Sql("seg")} AS h FROM segs),
         |df AS (SELECT h, count(*) AS df FROM sh GROUP BY h),
         |per_doc AS (SELECT doc_id, count(*) AS n_segs,
         |    sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup
         |  FROM sh JOIN df USING (h) GROUP BY doc_id)
         |SELECT doc_id, n_segs, CAST(n_dup AS BIGINT) AS n_dup_segs,
         |  CAST(n_dup * 100 // n_segs AS BIGINT) AS dup_pct
         |FROM per_doc
         |ORDER BY dup_pct DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      // Sub-document (line-level) dedup — the RefinedWeb/C4 pass that
      // document-level dedup (q24-q28) cannot do: segment each doc
      // into non-overlapping 10-token runs, hash them, and score each
      // doc by the fraction of its segments appearing in OTHER docs
      // too (df >= 2) — the removal criterion for boilerplate and
      // partially-copied text. Segmentation, hashing, and the per-doc
      // dedup of repeated segments all happen map-side inside the
      // token array; the only shuffles are the two keyed aggs (df by
      // hash, score by doc). At 100 TB the segment-hash df table is
      // the corpus's line index — partitioned by hash, never
      // collected.
      graft.cdc.GraftFunctions.register(s)
      val sh = withToks(s, d)
        .filter(size(col("toks")) >= 10)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(toks) DIV 10 - 1), " +
            "i -> md5_h32(concat_ws(' ', slice(toks, i * 10 + 1, 10))))")))
          .as("h"))
      val df = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      sh.join(df, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_segs"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_segs"),
          col("n_dup").cast("long").as("n_dup_segs"),
          expr("n_dup * 100 DIV n_segs").as("dup_pct"))
        .orderBy(col("dup_pct").desc, col("doc_id"))
        .limit(20)
    },

    QueryDef(
      "q125_dedup_removal_manifest",
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |base AS (SELECT doc_id, source, len(toks) AS n_toks, toks FROM t),
         |segs AS (SELECT doc_id,
         |    array_to_string(list_slice(toks, i * 10 + 1, i * 10 + 10), ' ')
         |      AS seg
         |  FROM base, UNNEST(range(0, n_toks // 10)) AS u(i)
         |  WHERE n_toks >= 10),
         |sh AS (SELECT DISTINCT doc_id, ${h32Sql("seg")} AS h FROM segs),
         |dfh AS (SELECT h, count(*) AS df FROM sh GROUP BY h),
         |per_doc AS (SELECT doc_id, count(*) AS n_segs,
         |    sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup
         |  FROM sh JOIN dfh USING (h) GROUP BY doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN 2 * coalesce(n_dup, 0) > coalesce(n_segs, 0)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_dropped,
         |  CAST(sum(n_toks) AS BIGINT) AS toks_total,
         |  CAST(sum(CASE WHEN 2 * coalesce(n_dup, 0) > coalesce(n_segs, 0)
         |    THEN n_toks ELSE 0 END) AS BIGINT) AS toks_dropped,
         |  CAST((sum(n_toks)
         |      - sum(CASE WHEN 2 * coalesce(n_dup, 0) > coalesce(n_segs, 0)
         |        THEN n_toks ELSE 0 END)) * 1000 // sum(n_toks) AS BIGINT)
         |    AS retained_milli
         |FROM base LEFT JOIN per_doc USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      // The APPLY side of q110's segment-dedup score: turn the
      // per-doc duplicate-segment fraction into the actual C4/
      // RefinedWeb removal decision (drop docs whose segments are
      // majority-duplicated, dup_pct > 50%) and report the corpus
      // impact per source — docs dropped, tokens dropped, tokens
      // retained per mille. This is the manifest a pipeline operator
      // emits before committing a filtered snapshot: which sources
      // lose how much. Same machinery as q110 (segment → hash →
      // corpus df → per-doc dup count), then one left join back to
      // the full doc list (short docs with <10 tokens have no
      // segments and are always kept — coalesce(0)) and a tiny
      // per-source rollup. Shuffles at 100 TB: the df agg and the
      // doc agg are keyed partial+final on hash/doc_id; the doc_id
      // left join is keyed; the source rollup reduces to one row per
      // source map-side. Nothing driver-side, no text shuffled —
      // only (doc, hash) and (doc, counts) pairs.
      graft.cdc.GraftFunctions.register(s)
      val base = withToks(s, d).select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_toks"), col("toks"))
      val sh = base
        .filter(col("n_toks") >= 10)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(toks) DIV 10 - 1), " +
            "i -> md5_h32(concat_ws(' ', slice(toks, i * 10 + 1, 10))))")))
          .as("h"))
      val dfh = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val perDoc = sh.join(dfh, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_segs"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      val dropped =
        lit(2L) * coalesce(col("n_dup"), lit(0L)) >
          coalesce(col("n_segs"), lit(0L))
      base.select(col("doc_id"), col("source"), col("n_toks"))
        .join(perDoc, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(dropped, 1L).otherwise(0L)).as("n_docs_dropped"),
          sum(col("n_toks")).as("toks_total"),
          sum(when(dropped, col("n_toks")).otherwise(0L)).as("toks_dropped"))
        .select(col("source"), col("n_docs"), col("n_docs_dropped"),
          col("toks_total").cast("long").as("toks_total"),
          col("toks_dropped").cast("long").as("toks_dropped"),
          expr("(toks_total - toks_dropped) * 1000 DIV toks_total")
            .as("retained_milli"))
        .orderBy(col("source"))
    },

    QueryDef(
      "q126_doc_repetition",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE len($toksSql) >= 10),
         |base AS (SELECT doc_id, len(toks) AS n FROM t),
         |b2 AS (SELECT doc_id,
         |    array_to_string(list_slice(toks, i, i + 1), ' ') AS g
         |  FROM t, UNNEST(range(1, len(toks))) AS u(i)),
         |c2 AS (SELECT doc_id, max(c) AS m FROM
         |  (SELECT doc_id, g, count(*) AS c FROM b2 GROUP BY doc_id, g)
         |  GROUP BY doc_id),
         |b5 AS (SELECT doc_id,
         |    array_to_string(list_slice(toks, i, i + 4), ' ') AS g
         |  FROM t, UNNEST(range(1, len(toks) - 3)) AS u(i)),
         |c5 AS (SELECT doc_id,
         |    sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_pos
         |  FROM (SELECT doc_id, g, count(*) AS c FROM b5 GROUP BY doc_id, g)
         |  GROUP BY doc_id)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_toks,
         |  CAST(m * 1000 // (n - 1) AS BIGINT) AS top2_milli,
         |  CAST(dup_pos * 1000 // (n - 4) AS BIGINT) AS dup5_milli,
         |  (m * 1000 // (n - 1) > 180 OR dup_pos * 1000 // (n - 4) > 300)
         |    AS flagged
         |FROM base JOIN c2 USING (doc_id) JOIN c5 USING (doc_id)
         |ORDER BY dup5_milli DESC, top2_milli DESC, doc_id
         |LIMIT 25""".stripMargin) { (s, d) =>
      // Within-document repetition filters — the Gopher/MassiveText
      // quality rules that cross-doc dedup (q110/q125) cannot see:
      // a doc whose text loops on itself (scraper artifacts, chat
      // spam, keyword stuffing) duplicates its OWN n-grams. Two
      // classic scores per doc, adapted to token counts and fixed
      // point: top2_milli = occurrences of the doc's most frequent
      // bigram per mille of bigram positions; dup5_milli = fraction
      // of 5-gram positions whose 5-gram repeats within the doc.
      // Thresholds (180/300) are the Gopher-style knobs, documented
      // constants here so the flag column exercises the full rule.
      // Scale shape: gram explosion is map-side; the (doc, gram)
      // partial counts combine BEFORE the shuffle (in-doc repeats
      // collapse map-side — the whole point of the metric), and the
      // per-doc reduce is a second keyed partial+final agg. Nothing
      // crosses partitions except (doc, gram, count) and the per-doc
      // scalar rows; top-k is TakeOrderedAndProject on the driver's
      // 25 rows only.
      val t = withToks(s, d).filter(size(col("toks")) >= 10)
        .select(col("doc_id"), col("toks"),
          size(col("toks")).cast("long").as("n"))
      // the bigram arm rides the shared docBigrams memo (adjacent-pair
      // TYPE counts are exactly the (doc, g, c) relation the max needs;
      // the >= 10-token filter re-applies via the final join on t)
      val c2 = docBigrams(s, d)
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("m"))
      val c5 = t.select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks) - 4), " +
            "i -> concat_ws(' ', slice(toks, i, 5)))")).as("g"))
        .groupBy(col("doc_id"), col("g"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_pos"))
      t.select(col("doc_id"), col("n"))
        .join(c2, "doc_id").join(c5, "doc_id")
        .select(col("doc_id"), col("n").as("n_toks"),
          expr("m * 1000 DIV (n - 1)").as("top2_milli"),
          expr("dup_pos * 1000 DIV (n - 4)").as("dup5_milli"))
        .withColumn("flagged",
          col("top2_milli") > 180 || col("dup5_milli") > 300)
        .orderBy(col("dup5_milli").desc, col("top2_milli").desc,
          col("doc_id"))
        .limit(25)
    },

    QueryDef(
      "q127_dup_span_merge",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE len($toksSql) >= 8),
         |base AS (SELECT doc_id, len(toks) AS n FROM t),
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
         |per AS (SELECT doc_id, count(*) AS n_spans,
         |    sum(se - ss) AS covered, max(se - ss) AS longest
         |  FROM sp GROUP BY doc_id)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_toks,
         |  CAST(n_spans AS BIGINT) AS n_spans,
         |  CAST(covered AS BIGINT) AS covered_toks,
         |  CAST(longest AS BIGINT) AS longest_span,
         |  CAST(covered * 1000 // n AS BIGINT) AS covered_milli
         |FROM per JOIN base USING (doc_id)
         |ORDER BY covered_milli DESC, doc_id LIMIT 25""".stripMargin) {
      (s, d) =>
      // Exact duplicated-SUBSTRING spans — the Lee et al. 2022
      // ("Deduplicating Training Data Makes LMs Better") suffix-array
      // pass re-expressed for a distributed engine: q110 scores fixed
      // disjoint segments, but real copied text starts anywhere. Here
      // every sliding 8-token window is hashed, windows appearing in
      // >= 2 documents mark their positions as duplicated, and each
      // doc's marked [i, i+8) intervals are merged into maximal
      // spans — a distributed interval-merge: running max(end) over
      // the PRECEDING frame detects gap starts, the running sum of
      // gap flags numbers the islands, one keyed agg per island
      // yields exact span extents with zero double-counting of
      // overlapping windows. That is the remove-list an exact
      // substring dedup emits. Scale shape: the sliding-window hash
      // explosion is map-side (int64 hashes, never the text); df is
      // one keyed agg on hash; the position join is keyed on hash;
      // both window functions share ONE sort, partitioned by doc_id
      // (PlanGuard: no unpartitioned window); per-island and per-doc
      // reduces are keyed partial+final. A 100 TB corpus shuffles
      // only (hash, doc, pos) tuples — the suffix-array equivalent
      // without a global sort.
      graft.cdc.GraftFunctions.register(s)
      val t = withToks(s, d).filter(size(col("toks")) >= 8)
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n"))
      // shared session memos: positional 8-gram index + its df side
      val dup = posIndex(s, d)
        .join(posDf(s, d), "h").filter(col("df") >= 2)
        .select(col("doc_id").as("part"), col("i").cast("long").as("s"),
          (col("i") + 8).cast("long").as("e"))
      val sp = mergeIntervals(dup).withColumnRenamed("part", "doc_id")
      sp.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("se") - col("ss")).as("covered"),
          max(col("se") - col("ss")).as("longest"))
        .join(t.select(col("doc_id"), col("n")), "doc_id")
        .select(col("doc_id"), col("n").as("n_toks"),
          col("n_spans"), col("covered").cast("long").as("covered_toks"),
          col("longest").cast("long").as("longest_span"),
          expr("covered * 1000 DIV n").as("covered_milli"))
        .orderBy(col("covered_milli").desc, col("doc_id"))
        .limit(25)
    },

    QueryDef(
      "q129_containment_dedup",
      s"""WITH shingles AS ($shinglesSql),
         |cnt AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
         |sn AS (SELECT s.doc_id, s.h, c.n FROM shingles s
         |       JOIN cnt c ON c.doc_id = s.doc_id),
         |cp AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
         |    a.n AS na, b.n AS nb, count(*) AS inter
         |  FROM sn a JOIN sn b
         |    ON a.h = b.h AND a.doc_id <> b.doc_id
         |   AND (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))
         |  GROUP BY 1, 2, 3, 4)
         |SELECT d1, d2, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
         |  CAST(inter AS BIGINT) AS inter,
         |  CAST(inter * 1000 // na AS BIGINT) AS cont_milli,
         |  CAST(inter * 1000 // (na + nb - inter) AS BIGINT) AS jac_milli
         |FROM cp WHERE inter * 5 >= na * 4
         |ORDER BY cont_milli DESC, d1, d2 LIMIT 25""".stripMargin) { (s, d) =>
      // Asymmetric CONTAINMENT dedup — |A∩B| / |A| with A the smaller
      // shingle set: catches a document embedded inside a larger one
      // (quote farms, boilerplate wrappers, aggregator pages), the
      // case Jaccard-based passes are structurally blind to — q25's
      // size-ratio prune (3/5 <= na/nb <= 5/3) deliberately DROPS
      // exactly these pairs, and their Jaccard is low (jac_milli
      // rides along to show it). Same cached shingle index and
      // equi-join-on-hash shape as q25, directed small→big so each
      // unordered pair appears once; threshold C >= 0.8. Scale path
      // at 100 TB mirrors q25's documented prefix-filter upgrade,
      // with the containment-specific bound: A's rarest-first prefix
      // of size na - ceil(0.8·na) + 1 is lossless for C >= 0.8, and
      // because only the SMALL side explodes candidates, fan-out is
      // bounded by the small doc's prefix, not the container's size.
      val sh = shingleHashes(s, d)
      val a = sh.select(col("doc_id").as("d1"), col("h"), col("n").as("na"))
      val b = sh.select(col("doc_id").as("d2"), col("h"), col("n").as("nb"))
      a.join(b,
          a("h") === b("h") && col("d1") =!= col("d2") &&
            (col("na") < col("nb") ||
              (col("na") === col("nb") && col("d1") < col("d2"))))
        .groupBy(col("d1"), col("d2"), col("na"), col("nb"))
        .agg(count(lit(1)).as("inter"))
        .filter(col("inter") * 5 >= col("na") * 4)
        .select(col("d1"), col("d2"),
          col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
          col("inter").cast("long").as("inter"),
          expr("inter * 1000 DIV na").as("cont_milli"),
          expr("inter * 1000 DIV (na + nb - inter)").as("jac_milli"))
        .orderBy(col("cont_milli").desc, col("d1"), col("d2"))
        .limit(25)
    },

    QueryDef(
      "q130_prefix_jaccard_scale",
      s"""WITH shingles AS ($shinglesSql),
         |cnt AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
         |dfh AS (SELECT h, count(*) AS df FROM shingles GROUP BY h),
         |rk AS (SELECT s.doc_id, s.h, c.n,
         |    row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.h)
         |      AS rn
         |  FROM shingles s JOIN cnt c ON c.doc_id = s.doc_id
         |  JOIN dfh d ON d.h = s.h),
         |pref AS (SELECT doc_id, h, n FROM rk
         |  WHERE rn <= n - (3 * n + 4) // 5 + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM pref a JOIN pref b ON a.h = b.h AND a.doc_id < b.doc_id
         |   AND a.n * 5 >= b.n * 3 AND b.n * 5 >= a.n * 3),
         |sn AS (SELECT s.doc_id, s.h, c.n FROM shingles s
         |       JOIN cnt c ON c.doc_id = s.doc_id),
         |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
         |    a.n AS na, b.n AS nb, count(*) AS inter
         |  FROM sn a JOIN sn b ON a.h = b.h AND a.doc_id < b.doc_id
         |  JOIN cand ON cand.d1 = a.doc_id AND cand.d2 = b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT d1, d2,
         |  CAST(floor(inter * 10000.0 / (na + nb - inter)) AS BIGINT)
         |    AS jaccard_4
         |FROM inter WHERE inter * 1.0 / (na + nb - inter) >= 0.6
         |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      // The PPJoin-style prefix-filtered Jaccard join — the corpus-
      // scale path q25's comment documents, implemented and proven
      // OUTPUT-IDENTICAL to q25 by the oracle gate (same rows, same
      // jaccard_4). Principle (Chaudhuri/Xiao prefix filtering):
      // J >= 0.6 forces |A∩B| >= ceil(0.6·|A|) and >= ceil(0.6·|B|),
      // so under ANY global shingle order a qualifying pair shares an
      // element inside each doc's first n - ceil(0.6·n) + 1 shingles;
      // ordering rarest-first (df, then h — a total order: h is
      // distinct within doc) makes those prefix elements the least
      // common shingles, so the candidate join fans out by df of RARE
      // keys only. The pair space is then bounded by prefix
      // co-occurrence, not full shingle co-occurrence — the property
      // that survives a 100× corpus where q25's full join explodes on
      // boilerplate shingles. Verification counts intersections only
      // for candidates: two keyed joins (candidates × small side's
      // full set on d1, then (d2, h) equi-join), one partial+final
      // agg. Every stage is keyed on doc_id or h; the ranking window
      // is partitioned by doc_id.
      val sh = shingleHashes(s, d)
      // The ranked, singleton-pruned prefix is the MEMOIZED
      // [[prefixIndex]] (df=1 prefix elements are join-inert — the
      // shingle exists in ONE doc and d1 < d2 kills the self-match;
      // dropping them after rank assignment is lossless, q84's
      // rare-term pruning applied to PPJoin). Standing-table shape:
      // at scale the prefix index lives next to the inverted index
      // and is maintained by ingest, not rebuilt per query.
      val pref = prefixIndex(s, d)
      val pa = pref.select(col("doc_id").as("d1"), col("h"),
        col("n").as("na"), col("rn").as("ra"))
      val pb = pref.select(col("doc_id").as("d2"), col("h"),
        col("n").as("nb"), col("rn").as("rb"))
      // PPJoin's POSITIONAL filter (r10 verdict ask 3): a prefix match
      // at ranks (ra, rb) caps the total overlap at
      // 1 + min(na - ra, nb - rb) — everything else in common must
      // lie AFTER both positions. J >= 0.6 needs overlap >=
      // ceil(0.6/1.6 · (na+nb)) = (3(na+nb)+7) DIV 8, so a match
      // whose cap misses that dies HERE, before the distinct and the
      // verify joins. Lossless: a qualifying pair's FIRST common
      // element (which prefix filtering guarantees lies in both
      // prefixes) always satisfies the cap, and the pair survives if
      // ANY of its matches does.
      val cand = pa.join(pb,
          pa("h") === pb("h") && col("d1") < col("d2") &&
            col("na") * 5 >= col("nb") * 3 && col("nb") * 5 >= col("na") * 3)
        .filter(lit(1) +
          least(col("na") - col("ra"), col("nb") - col("rb")) >=
          expr("(3 * (na + nb) + 7) DIV 8"))
        .select(col("d1"), col("d2")).distinct()
      // Candidate VERIFY by record fetch (r17): the former shape
      // joined every candidate pair against d1's FULL shingle set and
      // then d2's — a 9.8M-row intermediate for 137k candidates whose
      // pipeline read 38 task-sec (`Probe metrics`). The SSJoin-canonical
      // verify instead fetches both docs' sorted shingle arrays (two
      // keyed joins, no row expansion — arrays are doc-bounded,
      // ScalingSpec territory) and counts the intersection with the
      // native two-pointer sorted_inter_count kernel; inter/na/nb are
      // value-identical (shingles are distinct per doc), so the
      // jaccard_4 output and the oracle hash are unchanged.
      val sets = sh.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("h"))).as("hs"),
          max(col("n")).as("n"))
        .tcache()
      val jac = col("inter") * 1.0 / (col("na") + col("nb") - col("inter"))
      cand
        .join(sets.select(col("doc_id").as("d1"), col("hs").as("h1"),
          col("n").as("na")), "d1")
        .join(sets.select(col("doc_id").as("d2"), col("hs").as("h2"),
          col("n").as("nb")), "d2")
        .select(col("d1"), col("d2"), col("na"), col("nb"),
          graft.cdc.GraftFunctions.sorted_inter_count(col("h1"),
            col("h2")).as("inter"))
        .filter(jac >= 0.6)
        .select(col("d1"), col("d2"),
          floor(col("inter") * 10000.0 /
            (col("na") + col("nb") - col("inter")))
            .cast("long").as("jaccard_4"))
        .orderBy(col("d1"), col("d2"))
    },

    QueryDef(
      "q131_incremental_dedup_probe",
      s"""WITH shingles AS ($shinglesSql),
         |cnt AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
         |sn AS (SELECT s.doc_id, s.h, c.n,
         |    (${h32Sql("CAST(s.doc_id AS VARCHAR)")}) % 10 = 0 AS is_new
         |  FROM shingles s JOIN cnt c ON c.doc_id = s.doc_id),
         |pairs AS (SELECT a.doc_id AS new_doc, b.doc_id AS old_doc,
         |    a.n AS na, b.n AS nb, count(*) AS inter
         |  FROM sn a JOIN sn b ON a.h = b.h
         |  WHERE a.is_new AND NOT b.is_new
         |  GROUP BY 1, 2, 3, 4),
         |scored AS (SELECT new_doc, old_doc,
         |    CAST(floor(inter * 10000.0 / (na + nb - inter)) AS BIGINT)
         |      AS jaccard_4,
         |    row_number() OVER (PARTITION BY new_doc
         |      ORDER BY floor(inter * 10000.0 / (na + nb - inter)) DESC,
         |        old_doc) AS rn
         |  FROM pairs),
         |newdocs AS (SELECT DISTINCT doc_id AS new_doc FROM sn WHERE is_new)
         |SELECT n.new_doc, s.old_doc AS best_match,
         |  coalesce(s.jaccard_4, 0) AS jaccard_4,
         |  coalesce(s.jaccard_4, 0) >= 6000 AS is_dup
         |FROM newdocs n LEFT JOIN scored s
         |  ON s.new_doc = n.new_doc AND s.rn = 1
         |ORDER BY jaccard_4 DESC, n.new_doc LIMIT 25""".stripMargin) {
      (s, d) =>
      // Incremental dedup-on-ingest — the operational shape of
      // continuous ingestion at 100 TB: the corpus's shingle index is
      // standing state (here the memoized index filtered to the 90%
      // "existing" split; in production a bucketed table maintained
      // per batch), and each arriving batch (hash-split 10% "new")
      // probes it WITHOUT touching existing-vs-existing pairs — the
      // join is new×existing only, so work scales with the batch,
      // not the corpus². Each new doc reports its best existing
      // match (rank-1 by jaccard then lowest doc id — a
      // WindowGroupLimit, partitioned by the probe doc) and an
      // is_dup verdict at J >= 0.6; docs with no shared shingle
      // survive the left join with jaccard 0. StreamStaticDedupSpec
      // proves the same shape as a live stream against static state;
      // this is its oracle-checked batch form.
      graft.cdc.GraftFunctions.register(s)
      import org.apache.spark.sql.expressions.Window
      val sn = shingleHashes(s, d).withColumn("is_new",
        pmod(graft.cdc.GraftFunctions.md5_h32(
          col("doc_id").cast("string")), lit(10L)) === 0L)
      val a = sn.filter(col("is_new"))
        .select(col("doc_id").as("new_doc"), col("h"), col("n").as("na"))
      val b = sn.filter(!col("is_new"))
        .select(col("doc_id").as("old_doc"), col("h"), col("n").as("nb"))
      val pairs = a.join(b, "h")
        .groupBy(col("new_doc"), col("old_doc"), col("na"), col("nb"))
        .agg(count(lit(1)).as("inter"))
      val jac4 = floor(col("inter") * 10000.0 /
        (col("na") + col("nb") - col("inter"))).cast("long")
      val w = Window.partitionBy(col("new_doc"))
        .orderBy(col("jaccard_4").desc, col("old_doc"))
      val scored = pairs.select(col("new_doc"), col("old_doc"),
          jac4.as("jaccard_4"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      a.select(col("new_doc")).distinct()
        .join(scored, Seq("new_doc"), "left")
        .select(col("new_doc"), col("old_doc").as("best_match"),
          coalesce(col("jaccard_4"), lit(0L)).as("jaccard_4"),
          (coalesce(col("jaccard_4"), lit(0L)) >= 6000L).as("is_dup"))
        .orderBy(col("jaccard_4").desc, col("new_doc"))
        .limit(25)
    },

    QueryDef(
      "q136_boilerplate_segments",
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks
         |  FROM documents),
         |segs AS (SELECT doc_id, source,
         |    array_to_string(list_slice(toks, i * 10 + 1, i * 10 + 10), ' ')
         |      AS seg
         |  FROM t, UNNEST(range(0, len(toks) // 10)) AS u(i)
         |  WHERE len(toks) >= 10),
         |g AS (SELECT ${h32Sql("seg")} AS h, min(seg) AS seg,
         |    count(*) AS occurrences,
         |    count(DISTINCT doc_id) AS n_docs,
         |    count(DISTINCT source) AS n_sources
         |  FROM segs GROUP BY ${h32Sql("seg")})
         |SELECT seg, CAST(occurrences AS BIGINT) AS occurrences,
         |  CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_sources AS BIGINT) AS n_sources
         |FROM g WHERE n_docs >= 2
         |ORDER BY n_docs DESC, occurrences DESC, seg
         |LIMIT 25""".stripMargin) { (s, d) =>
      // The boilerplate report — which exact 10-token segments repeat
      // across the most documents, and how many sources they span:
      // the list a curator reads to write targeted line-removal rules
      // (cookie banners, navigation chrome, license footers) before
      // rerunning q110/q125. Grouping is keyed on the segment's
      // 32-bit hash, NOT the string — only int64 keys shuffle, with
      // min(seg) carrying one representative text per group map-side
      // (all equal absent a hash collision, so min is deterministic
      // either way) — and the distinct doc/source counts are Spark's
      // expand-based distinct aggs over that same keyed shuffle. The
      // 25-row report is TakeOrderedAndProject.
      graft.cdc.GraftFunctions.register(s)
      withToks(s, d)
        .filter(size(col("toks")) >= 10)
        .select(col("doc_id"), col("source"), explode(expr(
          "transform(sequence(0, size(toks) DIV 10 - 1), " +
            "i -> concat_ws(' ', slice(toks, i * 10 + 1, 10)))")).as("seg"))
        .groupBy(graft.cdc.GraftFunctions.md5_h32(col("seg")).as("h"))
        .agg(min(col("seg")).as("seg"),
          count(lit(1)).as("occurrences"),
          countDistinct(col("doc_id")).as("n_docs"),
          countDistinct(col("source")).as("n_sources"))
        .filter(col("n_docs") >= 2)
        .select(col("seg"), col("occurrences"),
          col("n_docs").cast("long").as("n_docs"),
          col("n_sources").cast("long").as("n_sources"))
        .orderBy(col("n_docs").desc, col("occurrences").desc, col("seg"))
        .limit(25)
    },

    QueryDef(
      "q140_source_similarity",
      s"""WITH shingles AS ($shinglesSql),
         |ssh AS (SELECT d.source, s.h FROM shingles s
         |        JOIN documents d ON d.doc_id = s.doc_id),
         |ssig AS (SELECT source,
         |  ${(0 until 16).map(j =>
             s"min((${minhashA(j)} * h + ${minhashB(j)}) % 2147483647) AS h$j")
             .mkString(",\n  ")}
         |  FROM ssh GROUP BY source),
         |pairs AS (SELECT a.source AS s1, b.source AS s2,
         |    ${(0 until 16).map(j =>
               s"(CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END)")
               .mkString(" + ")} AS agree
         |  FROM ssig a JOIN ssig b ON a.source < b.source)
         |SELECT s1, s2, CAST(agree AS BIGINT) AS agree,
         |  CAST(agree * 625 AS BIGINT) AS est_j4
         |FROM pairs ORDER BY s1, s2""".stripMargin) { (s, d) =>
      // Corpus-level source-pair similarity via minhash sketch UNION:
      // min over a source's docs of each permutation's min is exactly
      // the minhash of the union of its shingle sets (mergeability —
      // the property that lets per-partition sketches reduce without
      // ever shuffling shingles). One keyed agg collapses the corpus
      // to #sources sketch rows of 16 ints; the pair matrix is a
      // broadcast triangle join over that tiny relation (#sources²
      // rows, constant in corpus size). The estimate: J(A,B) ≈
      // agreeing permutations / 16, scaled to basis points.
      val ssh = shingleHashes(s, d)
        .join(documents(s, d).select(col("doc_id"), col("source")),
          "doc_id")
        .select(col("source"), col("h"))
      val perm = (0 until 16).map(j =>
        min((lit(minhashA(j)) * col("h") + lit(minhashB(j))) % 2147483647L)
          .as(s"h$j"))
      // localCheckpoint: both triangle arms read this #sources-row
      // relation; without it each arm re-runs the corpus-wide sketch
      // aggregation — the dominant cost at scale — from the cached
      // shingle index.
      val ssig = ssh.groupBy(col("source"))
        .agg(perm.head, perm.tail: _*)
        .localCheckpoint()
      val a = ssig.select(col("source").as("s1") +:
        (0 until 16).map(j => col(s"h$j").as(s"a$j")): _*)
      val b = ssig.select(col("source").as("s2") +:
        (0 until 16).map(j => col(s"h$j").as(s"b$j")): _*)
      val agree = (0 until 16).map(j =>
        when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
        .reduce(_ + _)
      a.join(broadcast(b), col("s1") < col("s2"))
        .select(col("s1"), col("s2"), agree.as("agree"))
        .select(col("s1"), col("s2"), col("agree"),
          (col("agree") * 625L).as("est_j4"))
        .orderBy(col("s1"), col("s2"))
    },

    QueryDef(
      "q141_vocab_oov",
      s"""WITH toks AS (SELECT lang, unnest($toksSql) AS tok
         |             FROM documents),
         |cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
         |vocab AS (SELECT tok FROM cnt ORDER BY c DESC, tok LIMIT 256)
         |SELECT t.lang, count(*) AS total_toks,
         |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS oov_toks,
         |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1000000
         |    // count(*) AS BIGINT) AS oov_ppm
         |FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
         |GROUP BY t.lang ORDER BY t.lang""".stripMargin) { (s, d) =>
      // Tokenizer-coverage audit: fix the vocabulary to the corpus's
      // top-256 tokens (count desc, token asc — a total order, so the
      // LIMIT is deterministic and TakeOrderedAndProject-shaped), then
      // measure each language's out-of-vocabulary occurrence rate in
      // ppm. The vocab is broadcast — the token stream is scanned
      // once, never shuffled by token for the membership test; only
      // the per-lang partial aggregates move. The high-OOV language
      // is the one a shared tokenizer underserves (fertility risk).
      val toks = withToks(s, d)
        .select(col("lang"), explode(col("toks")).as("tok"))
      val vocab = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok"))
        .limit(256)
        .select(col("tok"), lit(1).as("in_v"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("total_toks"),
          sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("oov_toks"))
        .select(col("lang"), col("total_toks"), col("oov_toks"),
          expr("oov_toks * 1000000 DIV total_toks").as("oov_ppm"))
        .orderBy(col("lang"))
    },

    QueryDef(
      "q146_dedup_threshold_sweep",
      s"""WITH shingles AS ($shinglesSql),
         |$jaccardPairsSql,
         |p4 AS (SELECT d1, d2,
         |    CAST(inter * 10000 // (na + nb - inter) AS BIGINT) AS j4
         |  FROM jpairs),
         |thr AS (SELECT unnest([6000, 6500, 7000, 7500, 8000, 8500,
         |                       9000]) AS thr),
         |pc AS (SELECT thr,
         |    CAST(count(CASE WHEN j4 >= thr THEN 1 END) AS BIGINT)
         |      AS n_pairs
         |  FROM thr LEFT JOIN p4 ON TRUE GROUP BY thr),
         |dm AS (SELECT doc_id, max(j4) AS m FROM (
         |    SELECT d1 AS doc_id, j4 FROM p4
         |    UNION ALL SELECT d2 AS doc_id, j4 FROM p4)
         |  GROUP BY doc_id),
         |dc AS (SELECT thr,
         |    CAST(count(CASE WHEN m >= thr THEN 1 END) AS BIGINT)
         |      AS n_docs
         |  FROM thr LEFT JOIN dm ON TRUE GROUP BY thr)
         |SELECT pc.thr AS thr_4, pc.n_pairs, dc.n_docs
         |FROM pc JOIN dc ON dc.thr = pc.thr
         |ORDER BY thr_4""".stripMargin) { (s, d) =>
      // Threshold response curve — the tuning audit run before
      // committing to a dedup cutoff: how many near-dup pairs and how
      // many affected docs at each Jaccard threshold from 0.60 to
      // 0.90. Reuses the memoized 0.6-pruned pair graph (the sweep's
      // floor equals the graph's prune bound, so it is lossless); the
      // 7-row threshold relation broadcasts against the pair list and
      // the per-doc max — a bounded 7x pass over the PAIR graph
      // (already ≪ corpus), never over the corpus itself.
      val p4 = jaccardPairs(s, d)
        .select(col("d1"), col("d2"),
          expr("inter * 10000 DIV (na + nb - inter)").as("j4"))
      val thr = s.createDataFrame(
        Seq(6000L, 6500L, 7000L, 7500L, 8000L, 8500L, 9000L)
          .map(Tuple1(_))).toDF("thr")
      // the PAIR side streams and the 7-row threshold side broadcasts
      // (never the reverse); empty-graph thresholds are restored by
      // the final left join against thr with coalesce(0)
      val pc = p4.crossJoin(broadcast(thr))
        .groupBy(col("thr"))
        .agg(count(when(col("j4") >= col("thr"), 1)).as("n_pairs"))
      val dm = p4.select(col("d1").as("doc_id"), col("j4"))
        .unionAll(p4.select(col("d2").as("doc_id"), col("j4")))
        .groupBy(col("doc_id")).agg(max(col("j4")).as("m"))
      val dc = dm.crossJoin(broadcast(thr))
        .groupBy(col("thr"))
        .agg(count(when(col("m") >= col("thr"), 1)).as("n_docs"))
      thr.join(pc, Seq("thr"), "left").join(dc, Seq("thr"), "left")
        .select(col("thr").as("thr_4"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .orderBy(col("thr_4"))
    },

    QueryDef(
      "q162_longest_selfrepeat",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |b AS (SELECT doc_id, toks, len(toks) AS n FROM t
         |      WHERE len(toks) >= 2),
         |w AS (SELECT doc_id, k,
         |        array_to_string(list_slice(toks, i, i + k - 1), ' ') AS g
         |      FROM b,
         |        UNNEST(range(1, n)) AS kk(k),
         |        UNNEST(range(1, n - k + 2)) AS ii(i)),
         |dup AS (SELECT doc_id, k FROM w
         |        GROUP BY doc_id, k, g HAVING count(*) >= 2),
         |lr AS (SELECT doc_id, max(k) AS max_rep FROM dup GROUP BY doc_id)
         |SELECT b.doc_id, CAST(n AS BIGINT) AS n_toks,
         |  CAST(coalesce(max_rep, 0) AS BIGINT) AS max_rep,
         |  coalesce(max_rep, 0) * 4 >= n AS flagged
         |FROM b LEFT JOIN lr USING (doc_id)
         |ORDER BY max_rep DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      // Longest intra-document repeated token window — the sharpest
      // self-repetition signal beside q126's duplicated-n-gram
      // fractions: a doc whose longest repeat spans >= a quarter of
      // its length is a loop artifact (scraper echo, template spam)
      // even when its 2/5-gram ratios look tame. Runs as the native
      // longest_repeat codegen expression: token-interning + binary
      // search on the window length (duplicate windows are downward-
      // closed in k) with rolling-hash buckets and an exact in-bucket
      // verify — expected O(n log n) per doc, map-side, zero shuffle
      // until the final top-k (TakeOrderedAndProject). The oracle
      // brute-forces all O(n^2) windows in SQL — same answer, only
      // viable at test scale; the expression is the 100 TB path.
      graft.cdc.GraftFunctions.register(s)
      withToks(s, d).filter(size(col("toks")) >= 2)
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_toks"),
          graft.cdc.GraftFunctions.longest_repeat(col("toks"))
            .as("max_rep"))
        .select(col("doc_id"), col("n_toks"), col("max_rep"),
          (col("max_rep") * 4 >= col("n_toks")).as("flagged"))
        .orderBy(col("max_rep").desc, col("doc_id"))
        .limit(25)
    },

    // ---- q171: segment-level language mixing ----------------------
    // Per-SEGMENT language ID (q23's stopword scorer applied to each
    // non-overlapping 10-token run, q110's segmentation) surfaces the
    // docs document-level langid gets wrong on purpose: pages that
    // interleave two languages (boilerplate in one, content in
    // another). mix_pct = share of segments disagreeing with the
    // doc's majority-guess segment language. Scale shape: segmenting
    // and scoring are map-side inside the token array; the shuffles
    // are a (doc, guess) count and a per-doc majority window over
    // <= 4 rows per doc — both keyed on doc_id, no corpus-wide state.
    QueryDef(
      "q171_segment_langmix",
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |segs AS (SELECT doc_id, lang,
         |    list_slice(toks, i * 10 + 1, i * 10 + 10) AS seg
         |  FROM t, UNNEST(range(0, len(toks) // 10)) AS u(i)
         |  WHERE len(toks) >= 10),
         |scored AS (SELECT doc_id, lang,
         |  len(list_filter(seg, x -> list_contains(['the','a','is','of'], x))) AS s_en,
         |  len(list_filter(seg, x -> list_contains(['der','die','das','und'], x))) AS s_de,
         |  len(list_filter(seg, x -> list_contains(['le','et','les','une'], x))) AS s_fr,
         |  len(list_filter(seg, x -> list_contains(['el','y','los','una'], x))) AS s_es
         |  FROM segs),
         |g AS (SELECT doc_id, lang,
         |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS guess
         |  FROM scored),
         |cnt AS (SELECT doc_id, lang, guess, count(*) AS c
         |        FROM g GROUP BY doc_id, lang, guess),
         |top AS (SELECT doc_id, lang, guess AS top_guess, c AS top_c,
         |    sum(c) OVER (PARTITION BY doc_id) AS n_segs,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY c DESC, guess) AS rn
         |  FROM cnt)
         |SELECT doc_id, lang, top_guess, CAST(n_segs AS BIGINT) AS n_segs,
         |  CAST((n_segs - top_c) * 100 // n_segs AS BIGINT) AS mix_pct
         |FROM top WHERE rn = 1
         |ORDER BY mix_pct DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      def hits(words: Seq[String]): Column =
        size(filter(col("seg"), x => array_contains(
          array(words.map(lit): _*), x)))
      val segs = withToks(s, d)
        .filter(size(col("toks")) >= 10)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(0, size(toks) DIV 10 - 1), " +
            "i -> slice(toks, i * 10 + 1, 10))")).as("seg"))
      val cnt = segs
        .select(col("doc_id"), col("lang"),
          hits(Seq("the", "a", "is", "of")).as("s_en"),
          hits(Seq("der", "die", "das", "und")).as("s_de"),
          hits(Seq("le", "et", "les", "une")).as("s_fr"),
          hits(Seq("el", "y", "los", "una")).as("s_es"))
        .withColumn("guess",
          when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
            col("s_en") >= col("s_es"), "en")
            .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), "de")
            .when(col("s_fr") >= col("s_es"), "fr")
            .otherwise("es"))
        .groupBy(col("doc_id"), col("lang"), col("guess"))
        .agg(count(lit(1)).as("c"))
      val wd = Window.partitionBy(col("doc_id"))
      cnt
        .withColumn("n_segs", sum(col("c")).over(wd))
        .withColumn("rn", row_number().over(
          wd.orderBy(col("c").desc, col("guess"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"),
          col("guess").as("top_guess"),
          col("n_segs").cast("long").as("n_segs"),
          expr("(n_segs - c) * 100 DIV n_segs").cast("long").as("mix_pct"))
        .orderBy(col("mix_pct").desc, col("doc_id"))
        .limit(25)
    },

    // ---- q174: marginal n-gram novelty per source -----------------
    // The acquisition-ordering question data sourcing teams actually
    // ask: processing sources in a fixed order (lexicographic here —
    // any total order works), how many NEW shingle types does each
    // source contribute beyond everything before it? The classic
    // "novelty curve" that decides whether source #19 is worth
    // licensing. First-seen attribution is min(source) per gram —
    // ONE keyed agg over the shingle index, no per-prefix rescans
    // (the naive curve recomputes 20 growing distincts; this computes
    // all 20 marginals in a single pass). Scale shape: both aggs key
    // on the 32-bit gram hash / source — map-side combinable,
    // output is #sources rows.
    QueryDef(
      "q174_source_novelty",
      s"""WITH shingles AS ($shinglesSql),
         |ds AS (SELECT DISTINCT s.source, sh.h
         |       FROM shingles sh JOIN documents s USING (doc_id)),
         |tot AS (SELECT source, count(*) AS n_grams FROM ds GROUP BY source),
         |fst AS (SELECT h, min(source) AS fsrc FROM ds GROUP BY h),
         |nw AS (SELECT fsrc AS source, count(*) AS n_new
         |       FROM fst GROUP BY fsrc)
         |SELECT source, n_grams, COALESCE(n_new, 0) AS n_new,
         |  CAST(COALESCE(n_new, 0) * 1000 // n_grams AS BIGINT)
         |    AS new_pct_milli
         |FROM tot LEFT JOIN nw USING (source)
         |ORDER BY source""".stripMargin) { (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val ds = shingleHashes(s, d)
        .join(documents(s, d).select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("h")).distinct()
      val tot = ds.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
      val nw = ds.groupBy(col("h")).agg(min(col("source")).as("source"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_new"))
      tot.join(nw, Seq("source"), "left")
        .select(col("source"), col("n_grams"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          expr("COALESCE(n_new, 0) * 1000 DIV n_grams").cast("long")
            .as("new_pct_milli"))
        .orderBy(col("source"))
    },

    // ---- q175: LSH banding design sweep ---------------------------
    // The LSH tuning decision made before any 100 TB dedup run: with
    // the SAME 16-permutation signature, compare candidate volume and
    // recall of 8 bands x 2 rows (q26's config: recall-heavy, S-curve
    // threshold ~ (1/8)^(1/2) = 0.35) against 4 bands x 4 rows
    // (precision-heavy, threshold ~ (1/4)^(1/4) = 0.71). Ground truth
    // is the exact-Jaccard pair graph (q25's memoized index). The
    // numbers quantify the tradeoff the S-curve only sketches:
    // candidate-verify cost (precision) vs missed near-dups (recall).
    // Scale shape: band buckets are equi-join keys exactly as in q26;
    // the sweep adds one band relation per config, each a map-side
    // projection of the cached signature — the signature build is
    // not repeated.
    QueryDef(
      "q175_lsh_band_sweep",
      s"""WITH shingles AS ($shinglesSql),
         |$sigSql,
         |$jaccardPairsSql,
         |tp AS (SELECT d1, d2 FROM jpairs),
         |tot AS (SELECT count(*) AS n_true_total FROM tp),
         |bA AS (
         |  ${(0 until 8).map(b =>
             s"SELECT doc_id, $b AS band, concat_ws(' ', h${2 * b}, h${2 * b + 1}) AS bkey FROM sig")
             .mkString("\n  UNION ALL\n  ")}),
         |bB AS (
         |  ${(0 until 4).map(b =>
             s"SELECT doc_id, $b AS band, concat_ws(' ', h${4 * b}, h${4 * b + 1}, h${4 * b + 2}, h${4 * b + 3}) AS bkey FROM sig")
             .mkString("\n  UNION ALL\n  ")}),
         |cA AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bA a JOIN bA b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |cB AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bB a JOIN bB b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sA AS (SELECT 'b8r2' AS config, count(*) AS n_cand,
         |    CAST(sum(CASE WHEN t.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_true_cand
         |  FROM cA LEFT JOIN tp t ON t.d1 = cA.d1 AND t.d2 = cA.d2),
         |sB AS (SELECT 'b4r4' AS config, count(*) AS n_cand,
         |    CAST(sum(CASE WHEN t.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_true_cand
         |  FROM cB LEFT JOIN tp t ON t.d1 = cB.d1 AND t.d2 = cB.d2)
         |SELECT config, n_cand, n_true_cand, n_true_total,
         |  CAST(CASE WHEN n_cand > 0
         |    THEN n_true_cand * 1000 // n_cand END AS BIGINT)
         |    AS precision_milli,
         |  CAST(CASE WHEN n_true_total > 0
         |    THEN n_true_cand * 1000 // n_true_total END AS BIGINT)
         |    AS recall_milli
         |FROM (SELECT * FROM sA UNION ALL SELECT * FROM sB)
         |CROSS JOIN tot ORDER BY config""".stripMargin) { (s, d) =>
      val sig = minhashSig(s, d)
      val tp = jaccardPairs(s, d).select(col("d1"), col("d2"))
        .withColumn("t", lit(1))
      val tot = tp.agg(count(lit(1)).as("n_true_total"))
      def bands(rows: Int): DataFrame =
        (0 until 16 / rows).map { b =>
          sig.select(col("doc_id"), lit(b).as("band"),
            concat_ws(" ",
              (0 until rows).map(j => col(s"h${rows * b + j}")): _*)
              .as("bkey"))
        }.reduce(_ unionAll _)
      def sweep(config: String, rows: Int): DataFrame = {
        val bd = bands(rows)
        val cand = bd.as("a").join(bd.as("b"),
            col("a.band") === col("b.band") &&
              col("a.bkey") === col("b.bkey") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .distinct()
        cand.join(tp, Seq("d1", "d2"), "left")
          .agg(count(lit(1)).as("n_cand"),
            sum(coalesce(col("t"), lit(0))).cast("long").as("n_true_cand"))
          .withColumn("config", lit(config))
      }
      sweep("b8r2", 2).unionAll(sweep("b4r4", 4))
        .crossJoin(broadcast(tot))
        .select(col("config"), col("n_cand"), col("n_true_cand"),
          col("n_true_total"),
          expr("CASE WHEN n_cand > 0 THEN n_true_cand * 1000 DIV n_cand END")
            .cast("long").as("precision_milli"),
          expr("CASE WHEN n_true_total > 0 " +
            "THEN n_true_cand * 1000 DIV n_true_total END")
            .cast("long").as("recall_milli"))
        .orderBy(col("config"))
    },

    // ---- q231: train/eval n-gram contamination check --------------
    // The benchmark-decontamination pass (GPT-3 appendix C / Lee et
    // al.): before trusting an eval score, measure how much of each
    // eval document's 8-gram set leaks from the training split. The
    // corpus hash-splits 5% eval / 95% train on doc_id; each eval
    // doc reports its distinct-8-gram count, how many of those occur
    // ANYWHERE in train, the contamination rate in milli-units, and
    // a >= 20% verdict (the rate GPT-3 used per-example at n = 13;
    // 8 here fits the synthetic docs' length). Scale shape: grams
    // dedupe map-side per doc (array_distinct before the explode),
    // the train gram set is distinct-by-key, and the probe is one
    // equi-join keyed on the 32-bit gram hash — eval-side work scales
    // with the eval split, train-side with its distinct gram count;
    // never a doc x doc comparison. The 50-row report is the audit
    // artifact that ships with the eval run.
    QueryDef(
      "q231_contamination_check",
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g8 AS (SELECT DISTINCT doc_id,
         |    (${h32Sql("CAST(doc_id AS VARCHAR)")}) % 20 = 0 AS is_eval,
         |    ${h32Sql("gm")} AS g
         |  FROM (SELECT doc_id,
         |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         |      toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
         |      toks[i+6] || ' ' || toks[i+7] AS gm
         |    FROM toks, UNNEST(range(1, len(toks) - 6)) AS t(i)
         |    WHERE len(toks) >= 8)),
         |tr AS (SELECT DISTINCT g FROM g8 WHERE NOT is_eval),
         |ev AS (SELECT doc_id, g FROM g8 WHERE is_eval),
         |pd AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY doc_id),
         |ht AS (SELECT ev.doc_id, count(*) AS n_hit
         |  FROM ev JOIN tr ON tr.g = ev.g GROUP BY ev.doc_id)
         |SELECT pd.doc_id, CAST(pd.n_grams AS BIGINT) AS n_grams,
         |  CAST(coalesce(ht.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(coalesce(ht.n_hit, 0) * 1000 // pd.n_grams AS BIGINT)
         |    AS contam_milli,
         |  coalesce(ht.n_hit, 0) * 5 >= pd.n_grams AS is_contaminated
         |FROM pd LEFT JOIN ht ON ht.doc_id = pd.doc_id
         |ORDER BY contam_milli DESC, pd.doc_id LIMIT 50""".stripMargin) {
      (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val grams = gram8Hashes(s, d)
        .withColumn("is_eval", pmod(graft.cdc.GraftFunctions.md5_h32(
          col("doc_id").cast("string")), lit(20L)) === 0L)
      val tr = grams.filter(!col("is_eval")).select(col("g")).distinct()
      val ev = grams.filter(col("is_eval")).select(col("doc_id"), col("g"))
      val pd = ev.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      val ht = ev.join(tr, "g")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      pd.join(ht, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          expr("coalesce(n_hit, 0) * 1000 DIV n_grams").cast("long")
            .as("contam_milli"),
          (coalesce(col("n_hit"), lit(0L)) * 5 >= col("n_grams"))
            .as("is_contaminated"))
        .orderBy(col("contam_milli").desc, col("doc_id"))
        .limit(50)
    },

    // ---- q233: annotator agreement (P/R/F1 + Cohen's kappa) -------
    // The label-quality audit a curation pipeline runs when two
    // labelers (here: the stored `lang` column vs the q23 stopword
    // classifier) disagree: per-class precision/recall/F1 and the
    // chance-corrected overall agreement, Cohen's kappa — all exact
    // integers from the confusion counts. kappa = (N·agree − Σ
    // row·col) / (N² − Σ row·col), cross-multiplied so neither
    // engine divides until the final milli fixed-point DIV. Scale
    // shape: ONE pass builds the k×k confusion matrix (map-side
    // classify + keyed count); every metric then lives on k² ≤ 16
    // rows — the 100 TB cost is the one classify-scan, as it must be.
    QueryDef(
      "q233_annotator_agreement",
      s"""WITH scored AS (SELECT lang,
         |  len(list_filter(toks, x -> list_contains(['the','a','is','of'], x))) AS s_en,
         |  len(list_filter(toks, x -> list_contains(['der','die','das','und'], x))) AS s_de,
         |  len(list_filter(toks, x -> list_contains(['le','et','les','une'], x))) AS s_fr,
         |  len(list_filter(toks, x -> list_contains(['el','y','los','una'], x))) AS s_es
         |  FROM (SELECT lang, $toksSql AS toks FROM documents)),
         |conf AS (SELECT lang,
         |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS guess,
         |  count(*) AS n
         |  FROM scored GROUP BY 1, 2),
         |cls(c) AS (VALUES ('de'), ('en'), ('es'), ('fr')),
         |t AS (SELECT lang AS c, sum(n) AS n_true FROM conf GROUP BY 1),
         |p AS (SELECT guess AS c, sum(n) AS n_pred FROM conf GROUP BY 1),
         |dg AS (SELECT lang AS c, sum(n) AS n_corr FROM conf
         |       WHERE lang = guess GROUP BY 1),
         |tot AS (SELECT sum(n) AS nn,
         |    sum(CASE WHEN lang = guess THEN n ELSE 0 END) AS agree
         |  FROM conf),
         |pe AS (SELECT sum(coalesce(t.n_true, 0) * coalesce(p.n_pred, 0))
         |    AS pe_num
         |  FROM cls LEFT JOIN t ON t.c = cls.c LEFT JOIN p ON p.c = cls.c)
         |SELECT cls.c AS class,
         |  CAST(coalesce(t.n_true, 0) AS BIGINT) AS n_true,
         |  CAST(coalesce(p.n_pred, 0) AS BIGINT) AS n_pred,
         |  CAST(coalesce(dg.n_corr, 0) AS BIGINT) AS n_correct,
         |  CAST(CASE WHEN coalesce(p.n_pred, 0) > 0
         |    THEN 1000 * coalesce(dg.n_corr, 0) // p.n_pred
         |    ELSE 0 END AS BIGINT) AS prec_milli,
         |  CAST(CASE WHEN coalesce(t.n_true, 0) > 0
         |    THEN 1000 * coalesce(dg.n_corr, 0) // t.n_true
         |    ELSE 0 END AS BIGINT) AS rec_milli,
         |  CAST(CASE WHEN coalesce(p.n_pred, 0) + coalesce(t.n_true, 0) > 0
         |    THEN 2000 * coalesce(dg.n_corr, 0)
         |      // (coalesce(p.n_pred, 0) + coalesce(t.n_true, 0))
         |    ELSE 0 END AS BIGINT) AS f1_milli,
         |  CAST(1000 * (tot.nn * tot.agree - pe.pe_num)
         |    // (tot.nn * tot.nn - pe.pe_num) AS BIGINT) AS kappa_milli
         |FROM cls LEFT JOIN t ON t.c = cls.c
         |  LEFT JOIN p ON p.c = cls.c
         |  LEFT JOIN dg ON dg.c = cls.c, tot, pe
         |ORDER BY class""".stripMargin) { (s, d) =>
      val sp = s; import sp.implicits._
      def hits(words: Seq[String]): Column =
        size(filter(col("toks"), x => array_contains(
          array(words.map(lit): _*), x)))
      val conf = withToks(s, d)
        .select(col("lang"),
          hits(Seq("the", "a", "is", "of")).as("s_en"),
          hits(Seq("der", "die", "das", "und")).as("s_de"),
          hits(Seq("le", "et", "les", "une")).as("s_fr"),
          hits(Seq("el", "y", "los", "una")).as("s_es"))
        .withColumn("guess",
          when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
            col("s_en") >= col("s_es"), "en")
            .when(col("s_de") >= col("s_fr") &&
              col("s_de") >= col("s_es"), "de")
            .when(col("s_fr") >= col("s_es"), "fr")
            .otherwise("es"))
        .groupBy(col("lang"), col("guess"))
        .agg(count(lit(1)).as("n"))
      val cls = Seq("de", "en", "es", "fr").toDF("class")
      val t = conf.groupBy(col("lang").as("class"))
        .agg(sum(col("n")).as("n_true"))
      val p = conf.groupBy(col("guess").as("class"))
        .agg(sum(col("n")).as("n_pred"))
      val dg = conf.filter(col("lang") === col("guess"))
        .groupBy(col("lang").as("class")).agg(sum(col("n")).as("n_corr"))
      val tot = conf.agg(sum(col("n")).as("nn"),
        sum(when(col("lang") === col("guess"), col("n"))
          .otherwise(lit(0L))).as("agree"))
      val pe = cls.join(t, Seq("class"), "left")
        .join(p, Seq("class"), "left")
        .agg(sum(coalesce(col("n_true"), lit(0L)) *
          coalesce(col("n_pred"), lit(0L))).as("pe_num"))
      cls.join(t, Seq("class"), "left")
        .join(p, Seq("class"), "left")
        .join(dg, Seq("class"), "left")
        .crossJoin(broadcast(tot))
        .crossJoin(broadcast(pe))
        .select(col("class"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("n_corr"), lit(0L)).as("n_correct"),
          expr("CASE WHEN coalesce(n_pred, 0) > 0 THEN " +
            "1000 * coalesce(n_corr, 0) DIV n_pred ELSE 0 END")
            .cast("long").as("prec_milli"),
          expr("CASE WHEN coalesce(n_true, 0) > 0 THEN " +
            "1000 * coalesce(n_corr, 0) DIV n_true ELSE 0 END")
            .cast("long").as("rec_milli"),
          expr("CASE WHEN coalesce(n_pred, 0) + coalesce(n_true, 0) > 0 " +
            "THEN 2000 * coalesce(n_corr, 0) " +
            "DIV (coalesce(n_pred, 0) + coalesce(n_true, 0)) " +
            "ELSE 0 END").cast("long").as("f1_milli"),
          expr("1000 * (nn * agree - pe_num) DIV (nn * nn - pe_num)")
            .cast("long").as("kappa_milli"))
        .orderBy(col("class"))
    },

    // ---- q234: contamination probe, per micro-batch ---------------
    // q231's check in its STREAMING operational shape (closing the
    // r9 numbering gap with the probe's batch-form oracle): arriving
    // eval docs probe the standing train-gram index in micro-batches,
    // and each trigger emits ONE monitoring row — docs probed, grams
    // probed, grams leaked, aggregate contamination rate, docs over
    // the 20% verdict line. Here the eval split is assigned to 4
    // deterministic "micro-batches" by an independent hash of doc_id
    // (independent of the eval-selection hash, or bucket 0 would be
    // exactly the eval docs); StreamOps.contaminationProbeBatch runs
    // the same probe live per foreachBatch trigger against the same
    // index (StreamStaticContamSpec pins builder identity + batch-id
    // idempotency). Scale shape: identical to q231 — the probe is
    // one equi-join keyed on the 32-bit gram hash, eval-side work
    // scales with the batch, train-side with distinct gram count;
    // the per-batch rollup adds one O(eval-docs) keyed count.
    QueryDef(
      "q234_contamination_probe_batches",
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g8 AS (SELECT DISTINCT doc_id,
         |    (${h32Sql("CAST(doc_id AS VARCHAR)")}) % 20 = 0 AS is_eval,
         |    ${h32Sql("gm")} AS g
         |  FROM (SELECT doc_id,
         |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         |      toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
         |      toks[i+6] || ' ' || toks[i+7] AS gm
         |    FROM toks, UNNEST(range(1, len(toks) - 6)) AS t(i)
         |    WHERE len(toks) >= 8)),
         |tr AS (SELECT DISTINCT g FROM g8 WHERE NOT is_eval),
         |ev AS (SELECT doc_id, g FROM g8 WHERE is_eval),
         |pd AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY doc_id),
         |ht AS (SELECT ev.doc_id, count(*) AS n_hit
         |  FROM ev JOIN tr ON tr.g = ev.g GROUP BY ev.doc_id),
         |docs AS (SELECT pd.doc_id,
         |    (${h32Sql("'b' || CAST(pd.doc_id AS VARCHAR)")}) % 4
         |      AS batch_id,
         |    pd.n_grams, coalesce(ht.n_hit, 0) AS n_hit
         |  FROM pd LEFT JOIN ht ON ht.doc_id = pd.doc_id)
         |SELECT batch_id, count(*) AS n_docs,
         |  CAST(sum(n_grams) AS BIGINT) AS n_grams,
         |  CAST(sum(n_hit) AS BIGINT) AS n_hit,
         |  CAST(sum(n_hit) * 1000 // sum(n_grams) AS BIGINT)
         |    AS contam_milli,
         |  CAST(count(*) FILTER (WHERE n_hit * 5 >= n_grams) AS BIGINT)
         |    AS n_contaminated
         |FROM docs GROUP BY batch_id ORDER BY batch_id""".stripMargin) {
      (s, d) =>
      graft.cdc.GraftFunctions.register(s)
      val grams = gram8Hashes(s, d)
        .withColumn("is_eval", pmod(graft.cdc.GraftFunctions.md5_h32(
          col("doc_id").cast("string")), lit(20L)) === 0L)
      val tr = grams.filter(!col("is_eval")).select(col("g")).distinct()
      val ev = grams.filter(col("is_eval")).select(col("doc_id"), col("g"))
      val pd = ev.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      val ht = ev.join(tr, "g")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      pd.join(ht, Seq("doc_id"), "left")
        .select(
          pmod(graft.cdc.GraftFunctions.md5_h32(
            concat(lit("b"), col("doc_id").cast("string"))), lit(4L))
            .as("batch_id"),
          col("n_grams"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_grams")).as("n_grams"),
          sum(col("n_hit")).as("n_hit"),
          expr("sum(n_hit) * 1000 DIV sum(n_grams)").cast("long")
            .as("contam_milli"),
          sum(when(col("n_hit") * 5 >= col("n_grams"), 1L)
            .otherwise(0L)).as("n_contaminated"))
        .orderBy(col("batch_id"))
    },

    QueryDef(
      "q247_lsh_band_sweep",
      s"""WITH shingles AS ($shinglesSql),
         |$jaccardPairsSql,
         |$sigSql,
         |bands AS (
         |  ${(for (r <- Seq(2, 4, 8); b <- 0 until 16 / r) yield {
              val key = h32Sql("concat_ws(','," +
                s" ${(0 until r).map(i => s"h${r * b + i}").mkString(", ")})")
              s"SELECT $r AS r, doc_id, $b AS band, $key AS bkey FROM sig"
            }).mkString("\n  UNION ALL\n  ")}),
         |cand AS (SELECT DISTINCT a.r, a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b ON a.r = b.r AND a.band = b.band
         |    AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |truth AS (SELECT d1, d2 FROM jpairs),
         |tc AS (SELECT count(*) AS n_true FROM truth),
         |cc AS (SELECT r, count(*) AS n_cand FROM cand GROUP BY r),
         |hits AS (SELECT c.r, count(*) AS n_hit FROM cand c
         |  JOIN truth t ON t.d1 = c.d1 AND t.d2 = c.d2 GROUP BY c.r)
         |SELECT CAST(cc.r AS BIGINT) AS rows_per_band,
         |  CAST(16 // cc.r AS BIGINT) AS n_bands,
         |  cc.n_cand, coalesce(hits.n_hit, 0) AS n_hit, tc.n_true,
         |  CAST(coalesce(hits.n_hit, 0) * 1000 // tc.n_true AS BIGINT)
         |    AS recall_milli
         |FROM cc LEFT JOIN hits ON hits.r = cc.r CROSS JOIN tc
         |ORDER BY rows_per_band""".stripMargin) { (s, d) =>
      // The LSH band-configuration TUNING TABLE — the dedup twin of
      // q246's nprobe sweep: for rows-per-band r ∈ {2, 4, 8} over the
      // SAME memoized 16-permutation signature q26 banded at 8×2,
      // report the candidate-pair volume (the verify-join cost a
      // deployment pays) and the measured recall against the exact
      // J ≥ 0.6 ground truth (the shared q25 pair memo). r is the one
      // knob a MinHash-LSH deployment turns: smaller r → collision
      // P ≈ J^r rises → recall up, candidates up. Band keys for every
      // arm ride ONE pass over the signature memo (docs × 28 key rows,
      // md5 of the joined minhash run — engine-identical on both
      // sides); the self-join is keyed on (r, band, bkey), so each
      // arm's candidate space is exactly its bucket structure — never
      // doc×doc. At 100 TB the same sweep runs on a doc SAMPLE to
      // pick r before committing the full-corpus banding run.
      graft.cdc.GraftFunctions.register(s)
      val sig = minhashSig(s, d)
      val bands = Seq(2, 4, 8).map { r =>
        sig.select(lit(r.toLong).as("r"), col("doc_id"),
          posexplode(array((0 until 16 / r).map(b =>
            graft.cdc.GraftFunctions.md5_h32(
              concat_ws(",", (0 until r).map(i =>
                col(s"h${r * b + i}").cast("string")): _*))): _*))
            .as(Seq("band", "bkey")))
      }.reduce(_ unionAll _)
      val ca = bands.select(col("r"), col("band"), col("bkey"),
        col("doc_id").as("d1"))
      val cb = bands.select(col("r"), col("band"), col("bkey"),
        col("doc_id").as("d2"))
      val cand = ca.join(cb, Seq("r", "band", "bkey"))
        .filter(col("d1") < col("d2"))
        .select(col("r"), col("d1"), col("d2")).distinct()
      val truth = jaccardPairs(s, d).select(col("d1"), col("d2"))
      val tc = truth.agg(count(lit(1)).as("n_true"))
      val cc = cand.groupBy(col("r")).agg(count(lit(1)).as("n_cand"))
      val hits = cand.join(truth, Seq("d1", "d2"))
        .groupBy(col("r")).agg(count(lit(1)).as("n_hit"))
      cc.join(hits, Seq("r"), "left").crossJoin(broadcast(tc))
        .select(col("r").as("rows_per_band"),
          expr("16 DIV r").as("n_bands"),
          col("n_cand"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          col("n_true"),
          expr("coalesce(n_hit, 0) * 1000 DIV n_true").as("recall_milli"))
        .orderBy(col("rows_per_band"))
    },

    QueryDef(
      "q248_vocab_growth",
      s"""WITH mom AS (SELECT min(doc_id) AS lo,
         |    max(doc_id) - min(doc_id) + 1 AS w FROM documents),
         |db AS (SELECT doc_id,
         |    least(9, (doc_id - mom.lo) * 10 // mom.w) AS bucket
         |  FROM documents CROSS JOIN mom),
         |tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
         |tb AS (SELECT tf.doc_id, db.bucket, tf.tok, tf.tf
         |  FROM tf JOIN db ON db.doc_id = tf.doc_id),
         |dc AS (SELECT bucket, count(*) AS n_docs FROM db GROUP BY bucket),
         |oc AS (SELECT bucket, CAST(sum(tf) AS BIGINT) AS n_occ
         |  FROM tb GROUP BY bucket),
         |nt AS (SELECT bucket, count(*) AS new_types FROM
         |  (SELECT tok, min(bucket) AS bucket FROM tb GROUP BY tok)
         |  GROUP BY bucket),
         |ntf AS (SELECT dc.bucket, coalesce(nt.new_types, 0) AS new_types
         |  FROM dc LEFT JOIN nt ON nt.bucket = dc.bucket),
         |cum AS (SELECT a.bucket, CAST(sum(b.new_types) AS BIGINT)
         |    AS cum_types
         |  FROM ntf a JOIN ntf b ON b.bucket <= a.bucket GROUP BY a.bucket)
         |SELECT dc.bucket, dc.n_docs, coalesce(oc.n_occ, 0) AS n_occ,
         |  ntf.new_types, cum.cum_types
         |FROM dc LEFT JOIN oc ON oc.bucket = dc.bucket
         |  JOIN ntf ON ntf.bucket = dc.bucket
         |  JOIN cum ON cum.bucket = dc.bucket
         |ORDER BY dc.bucket""".stripMargin) { (s, d) =>
      // Vocabulary-growth (Heaps-law) audit: bucket the corpus into 10
      // equal-width doc_id ranges (the ingest-order proxy — at 100 TB
      // the bucket key is the snapshot/crawl-date partition the data
      // already carries) and report, per bucket, document and token
      // mass plus NEW token types (types whose first occurrence falls
      // in the bucket) and the cumulative vocabulary. A flattening
      // new-types curve is the data-scaling signal a pretraining
      // curator reads before buying more of the same source — dedup'd
      // corpora stop paying for themselves when novelty dries up.
      // Scale shape: rides the memoized per-doc term-frequency index
      // (one keyed join against the 10-bucket map — map-side after
      // AQE broadcasts it is wrong: db is doc-count-sized, so the
      // join is a keyed equi-join on doc_id); first-occurrence is one
      // (tok → min bucket) agg with map-side partial min; everything
      // after is ≤10-row relations (cumulative = broadcast triangle
      // join, the q228 shape — no window over an unpartitioned frame).
      val docs = documents(s, d).select(col("doc_id"))
      val mom = docs.agg(min(col("doc_id")).as("lo"),
        (max(col("doc_id")) - min(col("doc_id")) + lit(1L)).as("w"))
      val db = docs.crossJoin(broadcast(mom))
        .select(col("doc_id"),
          least(lit(9L), expr("(doc_id - lo) * 10 DIV w")).as("bucket"))
      val tb = docTermFreq(s, d).select(col("doc_id"), col("tok"), col("tf"))
        .join(db, "doc_id")
      val dc = db.groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
      val oc = tb.groupBy(col("bucket")).agg(sum(col("tf")).as("n_occ"))
      val nt = tb.groupBy(col("tok")).agg(min(col("bucket")).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
      val ntf = dc.select(col("bucket")).join(nt, Seq("bucket"), "left")
        .select(col("bucket"),
          coalesce(col("new_types"), lit(0L)).as("new_types"))
      val cum = ntf.as("a").join(broadcast(ntf.as("b")),
          col("b.bucket") <= col("a.bucket"))
        .groupBy(col("a.bucket"))
        .agg(sum(col("b.new_types")).as("cum_types"))
      dc.join(oc, Seq("bucket"), "left")
        .join(ntf, Seq("bucket")).join(cum, Seq("bucket"))
        .select(col("bucket"), col("n_docs"),
          coalesce(col("n_occ"), lit(0L)).as("n_occ"),
          col("new_types"), col("cum_types"))
        .orderBy(col("bucket"))
    },

    QueryDef(
      "q249_dedup_threshold_sweep",
      s"""WITH shingles AS ($shinglesSql),
         |$jaccardPairsSql,
         |arms AS (SELECT unnest([6000, 7000, 8000, 9000]) AS tau4),
         |ap AS (SELECT arms.tau4, jp.d1, jp.d2 FROM jpairs jp
         |  CROSS JOIN arms
         |  WHERE jp.inter * 10000 >= arms.tau4 * (jp.na + jp.nb - jp.inter)),
         |tot AS (SELECT count(*) AS n_docs FROM documents),
         |pc AS (SELECT tau4, count(*) AS n_pairs FROM ap GROUP BY tau4),
         |dr AS (SELECT tau4, count(DISTINCT d2) AS n_dropped
         |  FROM ap GROUP BY tau4)
         |SELECT CAST(arms.tau4 AS BIGINT) AS tau4,
         |  coalesce(pc.n_pairs, 0) AS n_pairs,
         |  coalesce(dr.n_dropped, 0) AS n_dropped,
         |  tot.n_docs - coalesce(dr.n_dropped, 0) AS n_kept
         |FROM arms LEFT JOIN pc ON pc.tau4 = arms.tau4
         |  LEFT JOIN dr ON dr.tau4 = arms.tau4 CROSS JOIN tot
         |ORDER BY tau4""".stripMargin) { (s, d) =>
      // Dedup threshold-sensitivity sweep: how much of the corpus does
      // the near-dup filter remove at each Jaccard cutoff τ ∈ {0.60,
      // 0.70, 0.80, 0.90}? Every arm is a FILTER over the one memoized
      // exact pair relation (the q25 memo, already thresholded at the
      // loosest arm τ=0.6 — tighter arms are subsets, so one pair pass
      // serves all four), fanned out by a broadcast 4-row arm table.
      // "Dropped" is the greedy keep-lowest rule: a doc leaves when it
      // has ANY near-dup partner with a smaller id (distinct d2 side)
      // — the same rule q28/q235's canonical election applies. The
      // curve (pairs, dropped, kept vs τ) is what a curator reads to
      // set the dedup knob: a cliff between two arms means the corpus
      // has a near-dup mass right at that similarity — pick the side
      // of the cliff that matches the contamination budget. Cost at
      // any scale: one broadcast fan-out + two keyed aggs over an
      // already-materialized pair table; never recomputes pairs.
      val armDf = s.range(1).select(explode(array(
        Seq(6000L, 7000L, 8000L, 9000L).map(lit): _*)).as("tau4"))
      val ap = jaccardPairs(s, d).crossJoin(broadcast(armDf))
        .filter(col("inter") * lit(10000L) >=
          col("tau4") * (col("na") + col("nb") - col("inter")))
        .select(col("tau4"), col("d1"), col("d2"))
      val tot = documents(s, d).agg(count(lit(1)).as("n_docs"))
      val pc = ap.groupBy(col("tau4")).agg(count(lit(1)).as("n_pairs"))
      val dr = ap.groupBy(col("tau4"))
        .agg(countDistinct(col("d2")).as("n_dropped"))
      armDf.join(pc, Seq("tau4"), "left").join(dr, Seq("tau4"), "left")
        .crossJoin(broadcast(tot))
        .select(col("tau4"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          (col("n_docs") - coalesce(col("n_dropped"), lit(0L)))
            .as("n_kept"))
        .orderBy(col("tau4"))
    },

    // ---- q285: Zipf rank-band census --------------------------------
    // Natural language's rank-frequency curve is close to Zipfian;
    // machine-generated, boilerplate-heavy, or garbled text deviates
    // — so the DYADIC RANK BAND profile (frequency mass in ranks
    // [2^b, 2^(b+1))) per language is a cheap corpus-naturalness
    // fingerprint (the integer-exact stand-in for a fitted Zipf
    // slope: under s = 1 every band carries roughly equal mass, and
    // the band-over-band decay reads the slope directly). Band =
    // length(bin(rank)) - 1 — a pure integer/string computation,
    // bit-identical in both engines, no log2 libm at band
    // boundaries. Scale shape: corpus term frequencies ride the
    // memoized per-doc tf relation re-aggregated by (lang, tok); the
    // rank window partitions by lang over the VOCABULARY (Heaps'-law
    // bounded, never corpus rows); the census is one keyed count per
    // band.
    QueryDef(
      "q285_zipf_band_census",
      s"""WITH tf AS (SELECT lang, tok, count(*) AS freq
         |  FROM (SELECT lang, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY lang, tok),
         |r AS (SELECT lang, tok, freq, row_number() OVER (
         |    PARTITION BY lang ORDER BY freq DESC, tok) AS rank
         |  FROM tf),
         |b AS (SELECT lang, length(bin(rank)) - 1 AS band,
         |    count(*) AS n_types, CAST(sum(freq) AS BIGINT) AS mass
         |  FROM r GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(mass) AS BIGINT) AS m FROM b
         |        GROUP BY lang)
         |SELECT b.lang, CAST(band AS BIGINT) AS band,
         |  CAST(n_types AS BIGINT) AS n_types, mass,
         |  CAST(mass * 1000 // tot.m AS BIGINT) AS mass_milli
         |FROM b JOIN tot ON tot.lang = b.lang
         |ORDER BY b.lang, band""".stripMargin) { (s, d) =>
      val tf = docTermFreq(s, d)
        .groupBy(col("lang"), col("tok"))
        .agg(sum(col("tf")).as("freq"))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("freq").desc, col("tok"))
      val bands = tf.withColumn("rank", row_number().over(wr))
        .withColumn("band", (length(bin(col("rank"))) - 1).cast("long"))
        .groupBy(col("lang"), col("band"))
        .agg(count(lit(1)).as("n_types"), sum(col("freq")).as("mass"))
        .tcache() // band rows + per-lang totals share it
      val tot = bands.groupBy(col("lang")).agg(sum(col("mass")).as("m"))
      bands.join(tot, "lang")
        .select(col("lang"), col("band"), col("n_types"), col("mass"),
          expr("mass * 1000 DIV m").as("mass_milli"))
        .orderBy(col("lang"), col("band"))
    },

    // ---- q286: positional vocabulary-novelty profile ----------------
    // How fast does a document stop introducing new words? Natural
    // prose front-loads vocabulary and decays smoothly; templated or
    // loop-generated text goes flat (everything new arrives in the
    // first slots) or spikes (boilerplate blocks). Per (lang, decile
    // of position within the doc): tokens seen, tokens that are their
    // doc's FIRST occurrence of that type, and the first-occurrence
    // rate in milli. Scale shape: novelty is computed RELATIONALLY —
    // one (doc_id, tok) keyed min-position aggregation joined back to
    // the position stream — linear in tokens, never the O(len²)
    // per-token prefix scan the naive array formulation costs; the
    // census is one keyed count over (lang, decile).
    QueryDef(
      "q286_positional_novelty",
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks
         |           FROM documents),
         |p AS (SELECT doc_id, lang, len(toks) AS n, i, toks[i] AS tok
         |      FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)
         |      WHERE len(toks) > 0),
         |f AS (SELECT doc_id, tok, min(i) AS mp FROM p
         |      GROUP BY doc_id, tok),
         |g AS (SELECT p.lang, CAST((p.i - 1) * 10 // p.n AS BIGINT)
         |        AS decile,
         |        CASE WHEN p.i = f.mp THEN 1 ELSE 0 END AS novel
         |      FROM p JOIN f ON f.doc_id = p.doc_id AND f.tok = p.tok)
         |SELECT lang, decile, count(*) AS n_tokens,
         |  CAST(sum(novel) AS BIGINT) AS n_first,
         |  CAST(sum(novel) * 1000 // count(*) AS BIGINT) AS first_milli
         |FROM g GROUP BY lang, decile ORDER BY lang, decile""".stripMargin) {
      (s, d) =>
      val p = withToks(s, d)
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), col("lang"), size(col("toks")).as("n"),
          posexplode(col("toks")).as(Seq("i0", "tok")))
        .select(col("doc_id"), col("lang"), col("n"),
          (col("i0") + 1).as("i"), col("tok"))
        .tcache() // first-occurrence agg + position stream share it
      val f = p.groupBy(col("doc_id"), col("tok"))
        .agg(min(col("i")).as("mp"))
      p.join(f, Seq("doc_id", "tok"))
        .select(col("lang"),
          expr("(i - 1) * 10 DIV n").cast("long").as("decile"),
          when(col("i") === col("mp"), 1L).otherwise(0L).as("novel"))
        .groupBy(col("lang"), col("decile"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("novel")).as("n_first"))
        .select(col("lang"), col("decile"), col("n_tokens"),
          col("n_first"),
          expr("n_first * 1000 DIV n_tokens").as("first_milli"))
        .orderBy(col("lang"), col("decile"))
    },

    // ---- q287: term burstiness census --------------------------------
    // Church & Gale: content words are BURSTY (a doc that mentions a
    // term once tends to repeat it), function words approach Poisson
    // — so the variance-to-mean ratio (Fano factor) of per-doc term
    // frequency separates them, and a corpus whose "content" terms
    // are NOT bursty is a machine-generation tell. Per language, over
    // terms with corpus frequency >= 8: the term count, the average
    // and maximum per-term VMR in milli, and how many terms are
    // bursty (VMR > 2x Poisson). Exact integers throughout: VMR =
    // (n_d·Σtf² − (Σtf)²) / (n_d·Σtf) with zero-docs included via
    // the n_d factor — in milli as 1000·(n_d·Q − S²) DIV (n_d·S).
    // Scale shape: per-term S and Q come off the memoized per-doc tf
    // relation in one keyed agg; per-lang doc counts are a k-row
    // broadcast; the census is one more keyed agg on the vocabulary.
    QueryDef(
      "q287_term_burstiness",
      s"""WITH tf AS (SELECT doc_id, lang, tok, count(*) AS tf
         |  FROM (SELECT doc_id, lang, unnest($toksSql) AS tok
         |        FROM documents)
         |  GROUP BY doc_id, lang, tok),
         |nd AS (SELECT lang, count(*) AS n_d FROM documents GROUP BY lang),
         |term AS (SELECT lang, tok, CAST(sum(tf) AS BIGINT) AS s,
         |    CAST(sum(tf * tf) AS BIGINT) AS q
         |  FROM tf GROUP BY lang, tok),
         |v AS (SELECT t.lang, t.tok,
         |    CAST(1000 * (nd.n_d * t.q - t.s * t.s)
         |      // (nd.n_d * t.s) AS BIGINT) AS vmr_milli
         |  FROM term t JOIN nd ON nd.lang = t.lang
         |  WHERE t.s >= 8)
         |SELECT lang, count(*) AS n_terms,
         |  CAST(sum(vmr_milli) // count(*) AS BIGINT) AS vmr_milli_avg,
         |  CAST(max(vmr_milli) AS BIGINT) AS vmr_milli_max,
         |  CAST(sum(CASE WHEN vmr_milli > 2000 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_bursty
         |FROM v GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val nd = documents(s, d).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_d"))
      val term = docTermFreq(s, d)
        .groupBy(col("lang"), col("tok"))
        .agg(sum(col("tf")).as("s"),
          sum(col("tf") * col("tf")).as("q"))
        .filter(col("s") >= 8)
      term.join(broadcast(nd), "lang")
        .select(col("lang"),
          expr("1000 * (n_d * q - s * s) DIV (n_d * s)").cast("long")
            .as("vmr_milli"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_terms"),
          expr("sum(vmr_milli) DIV count(*)").cast("long")
            .as("vmr_milli_avg"),
          max(col("vmr_milli")).as("vmr_milli_max"),
          sum(when(col("vmr_milli") > 2000, 1L).otherwise(0L))
            .as("n_bursty"))
        .orderBy(col("lang"))
    },

    // ---- q290: Zipf slope fit (exact-integer OLS) --------------------
    // q285's dyadic rank-band census shows the curve; this fits it.
    // Natural language runs a rank-frequency slope near -1 in log-log
    // (Zipf 1949); templated/machine text flattens or steepens it.
    // Both axes are made EXACT integers so the regression is pure
    // integer arithmetic shared verbatim with the oracle: x = dyadic
    // rank band (floor(log2 rank) via bit length), y = floor(log2 of
    // the band's mean frequency) the same way. Per language with >= 2
    // bands: OLS slope and intercept in milli (numerators can be
    // negative — Spark DIV and DuckDB // both truncate toward zero,
    // verified), plus the mean squared residual in micro (milli^2)
    // as the goodness-of-fit tell. Scale shape: one keyed agg off the
    // memoized tf relation, a lang-partitioned rank window (q285's),
    // then everything downstream of the band relation is k*17 rows —
    // the fit itself is a per-lang fold plus one broadcast join back
    // for residuals.
    QueryDef(
      "q290_zipf_slope_fit",
      s"""WITH tf AS (SELECT lang, tok, count(*) AS freq
         |  FROM (SELECT lang, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY lang, tok),
         |r AS (SELECT lang, tok, freq, row_number() OVER (
         |    PARTITION BY lang ORDER BY freq DESC, tok) AS rank
         |  FROM tf),
         |b AS (SELECT lang, CAST(length(bin(rank)) - 1 AS BIGINT) AS x,
         |    CAST(length(bin(CAST(sum(freq) // count(*) AS BIGINT))) - 1
         |      AS BIGINT) AS y
         |  FROM r GROUP BY lang, length(bin(rank)) - 1),
         |st AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_bands,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(x * y) AS BIGINT) AS sxy
         |  FROM b GROUP BY lang HAVING count(*) >= 2),
         |f AS (SELECT lang, n_bands,
         |    CAST((n_bands * sxy - sx * sy) * 1000
         |      // (n_bands * sxx - sx * sx) AS BIGINT) AS slope_milli,
         |    CAST((sy * sxx - sx * sxy) * 1000
         |      // (n_bands * sxx - sx * sx) AS BIGINT) AS icept_milli
         |  FROM st)
         |SELECT f.lang, f.n_bands, f.slope_milli, f.icept_milli,
         |  CAST(sum((1000 * b.y - f.slope_milli * b.x - f.icept_milli)
         |         * (1000 * b.y - f.slope_milli * b.x - f.icept_milli))
         |    // f.n_bands AS BIGINT) AS mse_micro
         |FROM f JOIN b ON b.lang = f.lang
         |GROUP BY 1, 2, 3, 4 ORDER BY f.lang""".stripMargin) { (s, d) =>
      val tf = docTermFreq(s, d)
        .groupBy(col("lang"), col("tok"))
        .agg(sum(col("tf")).as("freq"))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("freq").desc, col("tok"))
      val b = tf.withColumn("rank", row_number().over(wr))
        .groupBy(col("lang"),
          (length(bin(col("rank"))) - 1).cast("long").as("x"))
        .agg((length(bin(expr("sum(freq) DIV count(*)"))) - 1)
          .cast("long").as("y"))
        .tcache() // the per-lang fold and the residual join share it
      integerOlsFit(b, "n_bands")
    },

    // ---- q294: Heaps'-law fit (exact-integer OLS) ---------------------
    // q248 tabulates vocabulary growth; this fits its law. Heaps
    // (1978): distinct types grow as tokens^beta with beta ≈ 0.4-0.6
    // for natural text — templated/looping corpora sag toward 0 and
    // random-ish streams push toward 1, so the fitted exponent is a
    // third corpus-naturalness tell beside q290's Zipf slope and
    // q287's burstiness. Checkpoints are dyadic token-volume bands
    // over a per-lang position stream (doc_id order): x = band j
    // (tokens ≤ 2^(j+1)-1), y = floor(log2 of types first seen by
    // that checkpoint) — both exact via bit length, fed to the same
    // integer OLS as q290 (slope_milli ≈ beta·1000). Scale shape:
    // first-occurrence positions are RELATIONAL (one keyed min per
    // (lang, tok), the q286 recipe — never a per-token prefix scan);
    // the doc-offset window and the band cumsum are lang-partitioned;
    // everything after the min-position agg is O(vocab) then
    // O(log corpus) rows.
    QueryDef(
      "q294_heaps_law_fit",
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks
         |           FROM documents),
         |sz AS (SELECT doc_id, lang, len(toks) AS nt FROM t),
         |off AS (SELECT doc_id, CAST(coalesce(sum(nt) OVER (
         |      PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS off
         |  FROM sz),
         |tj AS (SELECT t.lang, t.toks, o.off FROM t
         |  JOIN off o ON o.doc_id = t.doc_id WHERE len(t.toks) > 0),
         |p AS (SELECT lang, toks[i] AS tok, off + i AS pos
         |  FROM tj, UNNEST(range(1, len(toks) + 1)) AS u(i)),
         |fp AS (SELECT lang, tok, CAST(min(pos) AS BIGINT) AS fp
         |  FROM p GROUP BY lang, tok),
         |pb AS (SELECT lang, length(bin(fp)) - 1 AS band,
         |    count(*) AS cnt
         |  FROM fp GROUP BY 1, 2),
         |b AS (SELECT lang, CAST(band AS BIGINT) AS x,
         |    CAST(length(bin(CAST(sum(cnt) OVER (PARTITION BY lang
         |      ORDER BY band) AS BIGINT))) - 1 AS BIGINT) AS y
         |  FROM pb),
         |st AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_pts,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(x * y) AS BIGINT) AS sxy
         |  FROM b GROUP BY lang HAVING count(*) >= 2),
         |f AS (SELECT lang, n_pts,
         |    CAST((n_pts * sxy - sx * sy) * 1000
         |      // (n_pts * sxx - sx * sx) AS BIGINT) AS slope_milli,
         |    CAST((sy * sxx - sx * sxy) * 1000
         |      // (n_pts * sxx - sx * sx) AS BIGINT) AS icept_milli
         |  FROM st)
         |SELECT f.lang, f.n_pts, f.slope_milli, f.icept_milli,
         |  CAST(sum((1000 * b.y - f.slope_milli * b.x - f.icept_milli)
         |         * (1000 * b.y - f.slope_milli * b.x - f.icept_milli))
         |    // f.n_pts AS BIGINT) AS mse_micro
         |FROM f JOIN b ON b.lang = f.lang
         |GROUP BY 1, 2, 3, 4 ORDER BY f.lang""".stripMargin) { (s, d) =>
      val base = withToks(s, d)
        .select(col("doc_id"), col("lang"), col("toks"))
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      val off = base
        .select(col("doc_id"), col("lang"),
          size(col("toks")).cast("long").as("nt"))
        .withColumn("off", coalesce(sum(col("nt")).over(wl), lit(0L)))
        .select(col("doc_id"), col("off"))
      val p = base.filter(size(col("toks")) > 0)
        .join(off, "doc_id")
        .select(col("lang"), col("off"),
          posexplode(col("toks")).as(Seq("i0", "tok")))
        .select(col("lang"), col("tok"),
          (col("off") + col("i0") + 1).as("pos"))
      val pb = p.groupBy(col("lang"), col("tok"))
        .agg(min(col("pos")).as("fp"))
        .groupBy(col("lang"),
          (length(bin(col("fp"))) - 1).cast("long").as("band"))
        .agg(count(lit(1)).as("cnt"))
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("band"))
      val b = pb
        .select(col("lang"), col("band").as("x"),
          (length(bin(sum(col("cnt")).over(wb))) - 1).cast("long")
            .as("y"))
        .tcache() // the per-lang fold and the residual join share it
      integerOlsFit(b, "n_pts")
    }
  )
}
