package graft.ops

import org.apache.spark.sql.SparkSession

/** Materializes every SHARED session-lifetime memo index
  * (tokenization, tf, shingles, candidate pairs, minhash signatures,
  * winnowing prints, cluster labels, quantized vectors + Lloyd
  * assignments + PQ codebooks) in one deterministic pass.
  * Single-consumer memos are deliberately absent — see [[lazyMemos]]
  * (r14 verdict ask 3): they build on first touch inside their one
  * consumer's own timing.
  *
  * Why: the memos are lazy, so whichever query FIRST touches one pays
  * its build cost — in a timed bench that makes per-query numbers
  * depend on suite composition and run order (the r8 q105–q117
  * "regression" was exactly this attribution noise plus driver-side
  * contention, not a plan change). Bench calls this before timing and
  * reports the build as its own `memo_build` entry, so per-query times
  * measure marginal work and stay comparable round-over-round.
  *
  * This mirrors production at 100 TB, where these indexes are standing
  * tables maintained by ingest (see `StreamOps.dedupIngestBatch`), not
  * rebuilt inside a query.
  */
object Prewarm {
  /** Build the memos along their dependency chains, independent
    * chains concurrently but BOUNDED to `maxChains` in flight:
    * tokenization is the root of every text chain and builds first;
    * then the shingle→pair→label chain, the curation chain, the
    * vector-grid chain etc. proceed on a small fixed pool. Safe:
    * each DfMemo is synchronized, so racing chains block on a shared
    * dependency instead of double-building it.
    *
    * Why bounded (r11 verdict ask 1a): an unbounded 9-way fan-out
    * *amplifies* external CPU contention — on a busy box the r11
    * driver measured 69.6 s for a build that reproduces at 16.3 s on
    * the same machine, while individual queries only degraded
    * ~10%. Three chains keep local[32] busy (each build's stages
    * serialize internally) without oversubscribing a contended host.
    *
    * Returns per-memo wall seconds in completion order so the bench
    * can attribute the memo_build total memo-by-memo
    * (r11 verdict ask 1b). */
  def run(s: SparkSession, d: String, maxChains: Int = 3)
      : Seq[(String, Double)] = {
    graft.cdc.GraftFunctions.register(s)
    // Lane count stays at 3 (r17 re-measured): a 6-lane variant at
    // local[32] read memo_build 15.0 s vs 13.0 s — the extra chains
    // contend on the same cores and every chain's wall inflates
    // (snm 1.7 → 8.8 s), exactly the r11 amplification the bound was
    // introduced for. Examined and reverted.
    val lanes = maxChains
    val times = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]
    // each step tags its jobs with a `memo:<name>` job group so the
    // bench's TaskTimeProbe can attribute executor task-time per memo
    // even though the chains interleave (r13 verdict ask 2: memo_build
    // inflation gets the same wall-vs-task treatment as queries).
    // setJobGroup is thread-local and AQE stage materialization
    // inherits captured local properties, so concurrent chains don't
    // cross-contaminate each other's groups.
    def step(name: String)(f: => Any): Unit = {
      s.sparkContext.setJobGroup(s"memo:$name", s"prewarm $name",
        interruptOnCancel = false)
      val t0 = System.nanoTime()
      try f finally s.sparkContext.clearJobGroup()
      times.add(name -> (System.nanoTime() - t0) / 1e9); ()
    }
    // the root of every text chain builds alone, before the fan-out
    step("toks") { Text.withToks(s, d).count() }
    val chains: Seq[() => Unit] = Seq(
      // vector-grid chain: the Lloyd/PQ family gets its OWN timed
      // entries (r12 verdict ask 1a) so a driver artifact can tell a
      // dropped-memo rebuild (missing/zero entry + Bench's memo_health
      // showing cached=false) from a contended box (entries present,
      // per-query loadavg elevated).
      () => {
        step("quant") { Vectors.prewarmQuantized(s, d) }
        step("lloyd") { Vectors.prewarmKmeans(s, d) }
        step("pq") { Vectors.prewarmPq(s, d) }
      },
      // shingle chain: pairs/labels/components + the signature memos
      () => {
        step("shingles") { Text.shingleHashes(s, d).count() }
        step("pairs") { Text.jaccardPairs(s, d).count() }
        step("labels") { Pipeline.clusterLabels(s, d).count() }
        step("minhash") { Text.minhashSig(s, d).count() }
      },
      // positional span indexes (q127/q155/q156/q303) + the
      // contamination gram base (q231/q262)
      () => {
        step("pos8") { Text.posDf(s, d).count() }
        step("gram8") { Text.gram8Hashes(s, d).count() }
      },
      // BPE training chains off the term index (q153/q159 share it)
      () => {
        step("tf") { Text.docTermFreq(s, d).count() }
        step("bpe") { Curation.bpeSharedMerges(s, d)._1.count() }
        step("winnow") { Curation.winnowPrints(s, d).count() }
      },
      // fluency chains off the bigram memo (q142/q244/q252 share it)
      () => {
        step("bigrams") { Text.docBigrams(s, d).count() }
        step("fluency") { Mining.docFluency(s, d).count() }
      },
      // SNM candidate pairs chain off the token memo (q194 + q256)
      () => step("snm") { Analytics.snmCandidatePairs(s, d).count() })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, lanes))
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      // each chain isolates its own failure: one broken memo must
      // neither abandon the other chains' timings NOR leave the pool
      // building in the background while the bench's pass 1 is
      // already timing queries (Await would return on first failure
      // but shutdown() lets queued chains keep running — the exact
      // attribution race the bounded prewarm exists to prevent). The
      // failed memo stays lazily-built and visibly absent from
      // memo_detail.
      // NonFatal ONLY: an OutOfMemoryError / InterruptedException must
      // propagate and abort the bench — downgrading a fatal throwable
      // to a WARN line would let timing proceed on a corrupted JVM
      // (r12 advisor finding).
      Await.result(Future.sequence(chains.map(c => Future {
        try c() catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"WARN: prewarm chain failed: $e")
        }
      })), Duration.Inf)
    } finally pool.shutdown()
    import scala.jdk.CollectionConverters._
    times.asScala.toSeq
  }

  /** Memos deliberately NOT prewarmed — the laziness contract (r14
    * verdict ask 3): a memo with a single consumer (or a
    * self-contained consumer trio like the BPE trainer) taxes every
    * OTHER query's shared memo_build for nothing, so it builds
    * on first touch inside its own consumer's timing instead —
    * honest attribution, deterministic under the bench's name-sorted
    * pass order. Consumers here are the measured census
    * (`graft.Probe memo`, 2026-08-16, sf0.001 — re-run it when a new
    * query adopts one of these memos: a second consumer is the
    * signal to move the memo back into a chain). MemoRegistrySpec
    * enforces the dichotomy: every registered memo is either built
    * by a Prewarm chain or declared here. */
  val lazyMemos: Map[String, Seq[String]] = Map(
    "postings" -> Seq("q84_tfidf_cosine_pairs"),
    "prefix" -> Seq("q130_prefix_jaccard_scale"),
    "simhash" -> Seq("q27_simhash_hamming_pairs"),
    "standing80" -> Seq("q164_incremental_components"),
    "trgraph" -> Seq("q210_textrank_keywords"),
    "tredges" -> Seq("q210_textrank_keywords"),
    "urgent_count" -> Seq("q87_bloom_pruned_join"),
    "bpe256" -> Seq("q304_bpe_train32", "q305_bpe_train256",
      "q306_bpe64_fertility", "q307_bpe_compression_census",
      "q309_context_pieces_sweep", "q310_bpe_vocab_utilization"))

  /** Explicit build trigger for the bpe256 training memo (r15 verdict
    * ask 2): Bench calls this BEFORE pass 1, under its own
    * `memo:bpe256` job group, so the ~30 s one-time training cost is
    * its own timed, PINNED artifact line (`bpe256_build`) instead of
    * hiding behind q304's 0.1 s warm-replay pin — a 5× regression in
    * training cost is now gate-visible. The memo stays OUT of the
    * [[run]] chains (its consumers are only the tokenizer family, so
    * it must not tax the shared memo_build), and MemoRegistrySpec's
    * lazy-dichotomy leg still holds because `Prewarm.run` alone does
    * not build it. */
  def buildBpe256(s: SparkSession, d: String): Unit = {
    graft.cdc.GraftFunctions.register(s)
    Curation.bpe256Merges(s, d); ()
  }

  /** Per-memo build seconds, in build order (`graft.Probe memo` prints
    * them; Bench reports only the total). */
  def timed(s: SparkSession, d: String): Seq[(String, Double)] = {
    graft.cdc.GraftFunctions.register(s)
    def t(name: String)(f: => Any): (String, Double) = {
      val t0 = System.nanoTime()
      f
      name -> (System.nanoTime() - t0) / 1e9
    }
    Seq(
      t("toks") { Text.withToks(s, d).count() },
      t("tf") { Text.docTermFreq(s, d).count() },
      t("postings") { Mining.postings(s, d).count() },
      t("bigrams") { Text.docBigrams(s, d).count() },
      t("fluency") { Mining.docFluency(s, d).count() },
      t("bpe") { Curation.bpeSharedMerges(s, d)._1.count() },
      t("snm") { Analytics.snmCandidatePairs(s, d).count() },
      t("trgraph") { Signals.textrankPrepared(s, d).count() },
      t("shingles") { Text.shingleHashes(s, d).count() },
      t("gram8") { Text.gram8Hashes(s, d).count() },
      t("pairs") { Text.jaccardPairs(s, d).count() },
      t("prefix") { Text.prefixIndex(s, d).count() },
      t("pos8") { Text.posIndex(s, d).count(); Text.posDf(s, d).count() },
      t("simhash") { Text.simhashSig(s, d).count() },
      t("minhash") { Text.minhashSig(s, d).count() },
      t("winnow") { Curation.winnowPrints(s, d).count() },
      t("labels") { Pipeline.clusterLabels(s, d).count() },
      t("standing80") { Pipeline.standingComponents80(s, d).count() },
      t("quant") { Vectors.prewarmQuantized(s, d) },
      t("lloyd") { Vectors.prewarmKmeans(s, d) },
      t("pq") { Vectors.prewarmPq(s, d) })
  }
}
