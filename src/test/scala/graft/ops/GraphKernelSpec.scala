package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The r16 single-task graph kernels vs their distributed twins:
  * identical output on fixture graphs chosen to stress the exact
  * semantics — mid-convergence label prop on a chain (fixed rounds,
  * NOT the fixpoint), k-core peel ordering, star-contraction label
  * minimality across multiple components, and the integer PageRank
  * recurrence with truncating division. */
class GraphKernelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-graph-kernel-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** chain 1-2-3-...-8, a triangle 20-21-22 with tail 23, and an
    * isolated pair (30, 31) — multiple components, a long diameter */
  private def fixtureEdges = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L),
    (7L, 8L), (20L, 21L), (21L, 22L), (20L, 22L), (22L, 23L),
    (30L, 31L))

  private def bothDirs(ps: Seq[(Long, Long)]) = {
    val ss = spark; import ss.implicits._
    (ps ++ ps.map(p => (p._2, p._1))).toDF("a", "b")
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("components: union-find kernel == star contraction") {
    val ss = spark; import ss.implicits._
    val pairs = fixtureEdges.toDF("d1", "d2")
    val fast = sortedRows(Pipeline.starContraction(pairs))
    val dist = sortedRows(Pipeline.starContractionDistributed(pairs))
    assert(fast == dist, s"\n got $fast\n exp $dist")
    // labels are component minima
    assert(fast.filter(_._1 <= 8L).forall(_._2 == 1L))
    assert(fast.filter(r => r._1 >= 20L && r._1 <= 23L)
      .forall(_._2 == 20L))
    Tables.dropTransientCaches()
  }

  test("minLabelProp: kernel == distributed loop mid-convergence " +
      "(rounds < diameter) and at the fixpoint") {
    val ed = bothDirs(fixtureEdges)
    for (rounds <- Seq(1, 2, 3, 6)) {
      val fast = sortedRows(Signals.minLabelProp(ed, rounds))
      val dist = sortedRows(Signals.minLabelPropDistributed(ed, rounds))
      assert(fast == dist, s"rounds=$rounds\n got $fast\n exp $dist")
    }
    Tables.dropTransientCaches()
  }

  test("kcore: kernel == distributed peel") {
    val ed = bothDirs(fixtureEdges)
    for ((k, rounds) <- Seq((2, 1), (2, 3), (2, 6), (3, 4))) {
      val fast = sortedRows(Signals.kcoreSurvivors(ed, k, rounds))
      val dist =
        sortedRows(Signals.kcoreSurvivorsDistributed(ed, k, rounds))
      assert(fast == dist, s"k=$k rounds=$rounds\n got $fast\n exp $dist")
    }
    Tables.dropTransientCaches()
  }

  test("pageRank: kernel == distributed integer recurrence") {
    val ss = spark; import ss.implicits._
    // weighted undirected graph, both directions, wdeg = sum(w) per src
    val ew = Seq(("a", "b", 3L), ("b", "c", 1L), ("a", "c", 2L),
      ("c", "d", 5L))
    val ed = (ew ++ ew.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "w")
    val dg = ed.groupBy(col("src")).agg(sum(col("w")).as("wdeg"))
    val edd = ed.join(dg, "src").cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    for (iters <- Seq(1, 3)) {
      val fast = rows(Signals.weightedPageRankPrepared(edd, iters))
      val dist =
        rows(Signals.weightedPageRankPreparedDistributed(edd, iters))
      assert(fast == dist, s"iters=$iters\n got $fast\n exp $dist")
    }
    edd.unpersist()
    Tables.dropTransientCaches()
  }

  test("pageRankLong: kernel == q187's distributed recurrence " +
      "(unweighted, all-docs universe with isolated nodes)") {
    val ss = spark; import ss.implicits._
    val jp = Seq((1L, 2L), (2L, 3L), (1L, 3L), (5L, 6L))
    val ed = (jp ++ jp.map(p => (p._2, p._1))).toDF("src", "dst")
    val dg = ed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edd = ed.join(dg, "src").cache()
    val docs = (1L to 9L).toDF("doc_id") // 4, 7, 8, 9 are isolated
    // reference: the distributed loop's exact integer recurrence
    var rr = docs.select(col("doc_id"), lit(1000L).as("pr"))
    for (_ <- 1 to 3) {
      val inflow = edd.join(rr, edd("src") === rr("doc_id"))
        .select(col("dst"), expr("pr DIV deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      rr = docs.join(inflow, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"),
          (lit(150L) + expr("(850 * coalesce(s, 0L)) DIV 1000")).as("pr"))
        .localCheckpoint(true)
    }
    val exp = rr.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    // kernel + isolated-node closed form (150 after any round >= 1)
    val ranked = edd.select(col("src"), col("dst"), lit(1L),
        col("deg")).as[(Long, Long, Long, Long)].repartition(1)
      .mapPartitions(it => GraphKernel.pageRankLong(it, 3))
      .toDF("doc_id", "kpr", "deg").select(col("doc_id"), col("kpr"))
    val got = docs.join(ranked, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("kpr"), lit(150L)).as("pr"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == exp, s"\n got $got\n exp $exp")
    edd.unpersist()
    Tables.dropTransientCaches()
  }

  test("dispatch: a tiny localEdgeMax routes to the distributed path") {
    val ed = bothDirs(fixtureEdges)
    spark.conf.set(graft.GraftConf.GraphLocalEdgeMax.key, "1")
    try {
      val dist = sortedRows(Signals.minLabelProp(ed, 2))
      val ref = sortedRows(Signals.minLabelPropDistributed(ed, 2))
      assert(dist == ref)
    } finally spark.conf.unset(graft.GraftConf.GraphLocalEdgeMax.key)
    Tables.dropTransientCaches()
  }
}
