package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Memo-registry completeness (r12 verdict ask 7).
  *
  * The gap behind r12's one open flag generalizes: a session memo
  * ([[Tables.DfMemo]] / [[Tables.StatMemo]]) that no Prewarm chain
  * builds is untimed (absent from `memo_detail`), unbudgeted (outside
  * ScalingSpec's total-storage sum, which measures what Prewarm
  * materializes), and invisible to the bench's memo-health probe until
  * whichever query first touches it absorbs its build cost. This spec
  * closes the gap structurally:
  *
  *   1. SOURCE enumeration — every `new Tables.DfMemo(`/`StatMemo`
  *      constructor call in `src/main` must carry an explicit name
  *      literal (the registry key memo_health and this spec key on);
  *   2. REGISTRY enumeration — after one `Prewarm.run`, every name
  *      extracted from source is present in the runtime registry
  *      (no memo hides in a never-loaded object);
  *   3. COVERAGE — every registered DfMemo entry for this session is
  *      CACHED after Prewarm (built by a chain, directly or
  *      transitively), and its health re-count is warm.
  *
  * A future memo added without a Prewarm step fails (2)/(3); one added
  * without a name fails (1) at compile time (no default) and its
  * constructor-call shape is also pinned here.
  */
class MemoRegistrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-memo-registry-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Constructor-call names extracted from main source: find each
    * `new [Tables.]<kind>` occurrence, skip a balanced type-parameter
    * list (nesting-aware — regex can't), then read the first argument
    * if it is a string literal (possibly on the next line). */
  private def sourceNames(kind: String): (Set[String], Int) = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val marker = ("""new\s+(?:Tables\.)?""" + kind + """\b""").r
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    var calls = 0
    val names = files.flatMap { f =>
      val txt = java.nio.file.Files.readString(f)
      marker.findAllMatchIn(txt).flatMap { m =>
        calls += 1
        var i = m.end
        def skipWs(): Unit = while (i < txt.length && txt(i).isWhitespace) i += 1
        skipWs()
        if (i < txt.length && txt(i) == '[') { // balanced type params
          var depth = 0
          while (i < txt.length && { val c = txt(i)
            if (c == '[') depth += 1 else if (c == ']') depth -= 1
            depth > 0 || c != ']' }) i += 1
          i += 1
        }
        skipWs()
        if (i < txt.length && txt(i) == '(') {
          i += 1; skipWs()
          if (i < txt.length && txt(i) == '"') {
            val close = txt.indexOf('"', i + 1)
            if (close > i) Some(txt.substring(i + 1, close)) else None
          } else None
        } else None
      }.toSeq
    }
    (names.toSet, calls)
  }

  test("every DfMemo/StatMemo in main source is named, registered, " +
      "and Prewarm-covered") {
    val (dfNames, dfCalls) = sourceNames("DfMemo")
    val (statNames, statCalls) = sourceNames("StatMemo")
    // (1) every constructor call carries a name literal
    assert(dfNames.size == dfCalls,
      s"$dfCalls DfMemo constructor calls but only ${dfNames.size} " +
        "distinct name literals — an unnamed or duplicate-named memo " +
        "is invisible to memo_health")
    assert(statNames.size == statCalls,
      s"$statCalls StatMemo constructor calls but only " +
        s"${statNames.size} distinct name literals")
    assert(dfNames.nonEmpty && statNames.nonEmpty)

    // (2) after one Prewarm pass, every source-named memo is in the
    // runtime registry. Laziness contract (r14 verdict ask 3):
    // Prewarm no longer loads every ops object (single-consumer
    // memos moved out of the chains), so force registration the way
    // the harness does — SparkEntry.allDefs touches every module.
    graft.SparkEntry.allDefs
    Prewarm.run(spark, sfDir)
    import scala.jdk.CollectionConverters._
    val registered = Tables.dfMemos.keySet().asScala.toSet
    val missing = dfNames -- registered
    assert(missing.isEmpty,
      s"DfMemos named in source but never registered at runtime " +
        s"(owning object not loaded): $missing")
    val statRegistered = Tables.statMemoNames.asScala.toSet
    val statMissing = statNames -- statRegistered
    assert(statMissing.isEmpty,
      s"StatMemos named in source but never registered: $statMissing")

    // Laziness contract (r14 verdict ask 3): Prewarm.lazyMemos is the
    // DECLARED exemption list — each entry names a registered memo
    // and the measured consumers that justify keeping it out of the
    // shared memo_build. Everything else must be chain-built.
    val lazyNames = Prewarm.lazyMemos.keySet
    val bogus = lazyNames -- (registered ++ statRegistered)
    assert(bogus.isEmpty,
      s"lazyMemos declares names that are not registered memos: $bogus")
    val queries = graft.SparkEntry.queries.keySet
    Prewarm.lazyMemos.foreach { case (m, consumers) =>
      assert(consumers.nonEmpty, s"lazy memo $m declares no consumer")
      val ghost = consumers.filterNot(queries.contains)
      assert(ghost.isEmpty,
        s"lazy memo $m declares consumers that are not registered " +
          s"queries: $ghost — re-run `graft.Probe memo` and update")
    }

    // (3) ... every registered DfMemo entry for THIS session is
    // cached (Prewarm built it, directly or transitively) with a
    // warm re-count — EXCEPT the declared-lazy ones, which must NOT
    // have been built (a chain sneaking a lazy memo back in would
    // silently re-tax every query's prewarm). Only main-source names
    // are held to the bar — specs may construct throwaway memos
    // (e.g. TablesSpec's LRU probe).
    val eager = dfNames -- lazyNames
    val health = Tables.memoHealth(spark)
      .filter { case (n, dir, _, _) => dfNames.contains(n) && dir == sfDir }
    assert(health.map(_._1).toSet == eager,
      "after Prewarm, exactly the non-lazy DfMemos must have a " +
        s"session entry; missing eager: ${eager -- health.map(_._1).toSet}" +
        s"; lazily-declared yet built: ${
          health.map(_._1).toSet.intersect(lazyNames)}")
    val uncached = health.collect { case (n, _, cached, _) if !cached => n }
    assert(uncached.isEmpty,
      s"session memos NOT cached after Prewarm.run: $uncached — add " +
        "them to a Prewarm chain (r12 verdict ask 7)")
  }

  test("every DECLARED lazy-memo consumer measurably touches its memo") {
    // The census-staleness leg (r15 verdict ask 3). Two directions
    // keep Prewarm.lazyMemos honest:
    //  - STALE declared consumer (listed but no longer touching):
    //    caught HERE — each declared consumer runs under the same
    //    touch attribution the census tool uses, and the (memo,
    //    consumer) pair must land in Tables.memoConsumers();
    //  - UNDECLARED adopter (q307's r15 slip — touching without being
    //    listed): caught by Bench itself, whose post-pass census
    //    check fails the regression gate loudly with the memo and
    //    query named (running all 300+ queries here would cost
    //    minutes per sbt test for the same evidence the per-round
    //    bench already produces).
    graft.SparkEntry.allDefs
    val queries = graft.SparkEntry.queries
    Prewarm.lazyMemos.foreach { case (memo, consumers) =>
      consumers.foreach { qn =>
        Tables.withConsumer(qn) { queries(qn)(spark, sfDir).count() }
        Tables.dropTransientCaches()
        val touched = Tables.memoConsumers().getOrElse(memo, Seq.empty)
        assert(touched.contains(qn),
          s"declared consumer $qn of lazy memo $memo never touched " +
            "it — the census is stale; re-run `graft.Probe memo` and " +
            "prune Prewarm.lazyMemos")
      }
    }
  }
}
