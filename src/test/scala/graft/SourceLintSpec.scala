package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level rules for `src/main/scala`: one way to build a
  * session, no environment knobs beyond the four keys the mains
  * document (cores, dataset, bench output dir, bench passes), no
  * one-off mains in the library packages — and the one session's
  * settings pinned, so a drift from the benchmark's copy fails here
  * instead of silently timing a different plan. */
class SourceLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, String)] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))

  private val contractKeys = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_BENCH_PASSES")

  test("SparkSession.builder appears only in GraftSession") {
    val sites = sources.filter(_._2.contains("SparkSession.builder")).map(_._1)
    assert(sites == Seq("graft/GraftSession.scala"))
  }

  test("the environment is read only for the four contract keys") {
    val allowed = ("""sys\.env\.(get|getOrElse|contains)\("(""" +
      contractKeys.mkString("|") + """)"""").r
    val bad = sources.flatMap { case (f, text) =>
      val envReads = """sys\.env|System\.getenv""".r.findAllMatchIn(text)
      envReads.filterNot(m => allowed.findPrefixOf(text.substring(m.start))
        .isDefined).map(m => s"$f: ${text.substring(m.start).take(60)}")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("no main in graft/ops, graft/cdc or graft/streaming") {
    val bad = sources.collect {
      case (f, text) if Seq("graft/ops/", "graft/cdc/", "graft/streaming/")
          .exists(f.startsWith) && """def\s+main\s*\(""".r
          .findFirstIn(text).isDefined => f
    }
    assert(bad.isEmpty, bad.mkString(", "))
  }

  private val tuned = Map(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m",
    "spark.sql.codegen.aggregate.map.twolevel.enabled" -> "false",
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  test("GraftSession's conf is the ten tuned settings") {
    val conf = GraftSession.conf(8)
    assert(conf.map(_._1).distinct.size == conf.size, "duplicate key")
    assert(conf.toMap == tuned)
  }

  test("the benchmark's session copies GraftSession's conf") {
    val main = Files.readString(
      Paths.get("perfbench/scala/perfbench/Main.scala"))
    val body = main.substring(main.indexOf("def session("))
    val copied = """\.config\("([^"]+)",\s*(?:"([^"]*)"|(\w+))\)""".r
      .findAllMatchIn(body.substring(0, body.indexOf(".getOrCreate()")))
      .map(m => m.group(1) -> Option(m.group(2)).getOrElse(m.group(3)))
      .toMap
    assert(copied == GraftSession.conf(8).toMap
      .updated("spark.sql.shuffle.partitions", "cpus"))
  }
}
