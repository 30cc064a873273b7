package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level rules for `src/main/scala`: one way to build a
  * session, no environment knobs beyond the four keys the mains
  * document (cores, dataset, bench output dir, bench passes), no
  * one-off mains in the library packages, no unbuffered frame-log
  * reads in the streaming package, one ack-state file per log dir, one
  * crash protocol, one batch-commit protocol and one "empty store"
  * reading in the streaming package, one place that installs Spark settings on a user's
  * session, one table of native SQL functions — and the one session's
  * settings pinned, so a drift from the benchmark's copy fails here
  * instead of silently timing a different plan. */
class SourceLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, String)] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))

  /** A top-level member of an object or class; the last one before a
    * match encloses it. */
  private val member = """\n  (?:private(?:\[\w+\])? )?def\s+(\w+)""".r

  /** (file, enclosing member) of every match of `re` in graft/streaming. */
  private def streamingSites(re: scala.util.matching.Regex)
      : Seq[(String, String)] =
    sources.filter(_._1.startsWith("graft/streaming/")).flatMap {
      case (f, text) => re.findAllMatchIn(text).map { m =>
        f -> member.findAllMatchIn(text.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("<none>")
      }
    }

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

  test("streaming opens a raw FileInputStream only in the two bounded readers") {
    // every frame-log read goes through openLines (buffered, bounded at
    // the open-time length) or readPrefix (one positioned read); an
    // unbuffered stream read byte by byte is one syscall per byte
    val sites = sources.filter(_._1.startsWith("graft/streaming/"))
      .flatMap { case (f, text) =>
        """new\s+(java\.io\.)?FileInputStream\(""".r.findAllMatchIn(text)
          .map { m =>
            val encl = """def\s+(\w+)""".r
              .findAllMatchIn(text.substring(0, m.start)).map(_.group(1))
              .toSeq.lastOption.getOrElse("<none>")
            s"$f:$encl"
          }
      }
    assert(sites.sorted == Seq("graft/streaming/CdcReplaySource.scala:openLines",
      "graft/streaming/CdcReplaySource.scala:readPrefix"), sites.mkString("\n"))
  }

  test("ack-state file names appear only in the ack-record code") {
    // one ack record per log dir: a new "_ack…" file elsewhere would be
    // a second ack state; the names of the sidecars that preceded the
    // record belong to its one migration read
    val sites = sources.flatMap { case (f, text) =>
      "\"_ack[^\"]*\"".r.findAllMatchIn(text).map { m =>
        val encl = member.findAllMatchIn(text.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("<none>")
        (f, encl, m.matched)
      }
    }
    val legacy = Seq("\"_acked_lsn", "\"_acked_offsets", "\"_ack_lag")
    val bad = sites.filterNot { case (f, encl, lit) =>
      f == "graft/streaming/CdcReplaySource.scala" && (encl == "legacyAcks" ||
        Set("ackFile", "withDirLock", "updateAcks")(encl) &&
          !legacy.exists(lit.startsWith))
    }
    assert(bad.isEmpty, bad.mkString("\n"))
    assert(sites.count(_._2 == "legacyAcks") == 4, sites.mkString("\n"))
  }

  test("streaming renames and makes scratch files only in Durable") {
    // every publish goes through Durable's replaceFile / replaceDir /
    // publish, so a durability change (an fsync, a rename retry) is one edit
    val bad = streamingSites(
      """ATOMIC_MOVE|renameTo\(|createTempFile\(|createLink\(""".r)
      .filterNot(_._1 == "graft/streaming/Durable.scala")
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("streaming appends and marks batch commits only in Durable") {
    // every foreachBatch store commits through Durable.commitBatch: an
    // append elsewhere skips the sweep a crashed attempt needs, and a
    // commit check by rows or by a marker name elsewhere is a second
    // commit protocol
    val bad = streamingSites(
      """mode\("append"\)|_batch-|hasRow\("batch_id"""".r)
      .filterNot(_._1 == "graft/streaming/Durable.scala")
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  /** Each Spark key ReplicationSession installs on a user's session,
    * with the fragment no other source may name. */
  private val installedKeys = Map(
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "checkpointFileManagerClass",
    "spark.sql.artifact.isolation.enabled" -> "artifact.isolation")

  test("only ReplicationSession names the Spark keys it installs") {
    // one place installs the library's defaults on a user's session;
    // Spark's keys stay the user's override, and no second default may
    // creep in elsewhere
    assert(streaming.ReplicationSession.sessionDefaults.map(_._1).toSet ==
      installedKeys.keySet)
    installedKeys.values.foreach { fragment =>
      val sites = sources.collect {
        case (f, text) if text.contains(fragment) => f
      }
      assert(sites == Seq("graft/streaming/ReplicationSession.scala"),
        s"$fragment: ${sites.mkString("\n")}")
    }
    // and no other library code writes a setting on the session it is
    // handed (the mains configure their own session through GraftSession)
    val writers = sources.collect {
      case (f, text) if Seq("graft/ops/", "graft/cdc/", "graft/streaming/")
          .exists(f.startsWith) && text.contains("conf.set(") => f
    }
    assert(writers == Seq("graft/streaming/ReplicationSession.scala"),
      writers.mkString("\n"))
  }

  test("streaming reads a failed store read as empty only in " +
      "readParquetOpt") {
    val sites = streamingSites("\"(PATH_NOT_FOUND|UNABLE_TO_INFER_SCHEMA)\"".r)
    assert(sites == Seq.fill(2)(
      "graft/streaming/Durable.scala" -> "readParquetOpt"), sites.mkString("\n"))
  }

  test("streaming swallows any exception only in lastEntryIntact") {
    // there `false` is the safe answer: it forces a full re-parse
    val sites = streamingSites("""case\s+_\s*:\s*(Exception|Throwable)\b""".r)
    assert(sites == Seq(
      "graft/streaming/CdcReplaySource.scala" -> "lastEntryIntact"),
      sites.mkString("\n"))
  }

  test("Catalyst expressions and function registration live only in " +
      "NativeFunctions") {
    // one table of native SQL functions: an expression class or a
    // registration list elsewhere would be a second, unchecked registry
    val re = ("""doGenCode|(extends|with)\s+([\w.]+\.)?""" +
      """(Unary|Binary)?Expression\b|injectFunction|""" +
      """createOrReplaceTempFunction""").r
    val sites = sources.collect {
      case (f, text) if re.findFirstIn(text).isDefined => f
    }
    assert(sites == Seq("graft/cdc/NativeFunctions.scala"), sites.mkString("\n"))
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
