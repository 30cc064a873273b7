package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong,
  AtomicReference}

import scala.util.control.NonFatal

import org.apache.spark.graft.TaskTimeProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.debug._
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.{Prewarm, Tables}

/** The one diagnostic entry point, on the same [[GraftSession]] that
  * Bench times and Verify checks:
  *
  * {{{
  * graft.Probe <mode> [query ...]      (default: every query, by name)
  * }}}
  *
  * on the dataset dir `SPARK_GRAFT_SF_DIR` (required) at
  * `SPARK_GRAFT_CPUS` cores. Modes:
  *  - `time`: memos prewarmed once, then a cold and a warm run per
  *    query, each a full-output `noop` write with transient caches
  *    dropped after it — the marginal per-query cost in isolation;
  *  - `metrics`: memos prewarmed, then per query a warm run and one
  *    measured `noop` write: wall, DataFrame build seconds, jobs /
  *    stages / tasks, summed job span, driver gap (wall - job span),
  *    executor task-sec, then the final (post-AQE) physical plan with
  *    per-operator metrics;
  *  - `plan`: the formatted physical plan;
  *  - `show`: the first 50 result rows, untruncated;
  *  - `codegen`: runs each query with `spark.sql.codegen.fallback`
  *    off, so Java that does not compile fails loudly and named
  *    instead of dropping the stage to the interpreted path; with
  *    named queries it also prints their whole-stage-codegen source;
  *  - `memo`: per-memo build seconds (the parts of Bench's
  *    `memo_build`), then which queries read which memo — the census
  *    behind `Prewarm.lazyMemos`.
  *
  * A failing query prints `FAIL <name> :: <root cause>` and the rest
  * still run; the exit status is 1 when any failed.
  */
object Probe {
  private val modes =
    Seq("time", "metrics", "plan", "show", "codegen", "memo")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "")
    if (!modes.contains(mode) || sfDir.isEmpty) {
      System.err.println("usage: SPARK_GRAFT_SF_DIR=<dataset dir> " +
        s"graft.Probe <${modes.mkString("|")}> [query ...]")
      sys.exit(2)
    }
    val spark = GraftSession()
    val names =
      if (args.length > 1) args.toSeq.tail
      else SparkEntry.queries.keys.toSeq.sorted
    def df(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
    val ok = mode match {
      case "time" =>
        Prewarm.run(spark, sfDir)
        each(names) { n =>
          val cold = timedNoop(df(n))
          val warm = timedNoop(df(n))
          println(f"TIME $n%-40s cold=$cold%7.3f warm=$warm%7.3f")
        }
      case "metrics" => metrics(spark, sfDir, names, df)
      case "plan" =>
        each(names) { n => println(s"==== $n"); df(n).explain("formatted") }
      case "show" =>
        each(names) { n =>
          println(s"==== $n @ $sfDir")
          df(n).show(50, truncate = false)
        }
      case "codegen" =>
        spark.conf.set("spark.sql.codegen.fallback", "false")
        each(names) { n =>
          val d = df(n)
          if (args.length > 1) d.debugCodegen()
          noop(d)
          println(s"OK   $n")
        }
      case "memo" =>
        Prewarm.timed(spark, sfDir).foreach { case (m, s) =>
          println(f"MEMO $m%-10s $s%.2f s")
        }
        val allRan = each(names)(n => Tables.withConsumer(n)(noop(df(n))))
        Tables.memoConsumers().toSeq.sortBy(_._1).foreach { case (m, qs) =>
          println(s"CONSUMERS $m (${qs.size}): ${qs.mkString(" ")}")
        }
        allRan
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Runs `f` per query, dropping transient caches after each; a
    * failure prints its root cause, named, and the rest still run.
    * False when any query failed. */
  private def each(names: Seq[String])(f: String => Unit): Boolean =
    names.count { name =>
      try { f(name); false }
      catch { case NonFatal(e) =>
        var root = e
        while (root.getCause != null && root.getCause != root)
          root = root.getCause
        println(s"FAIL $name :: ${root.getClass.getSimpleName}: " +
          String.valueOf(root.getMessage).linesIterator.take(3)
            .mkString(" | "))
        true
      } finally Tables.dropTransientCaches()
    } == 0

  /** The full-output action: executes the plan Verify writes, where
    * `count()` would let Catalyst prune it. */
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timedNoop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    noop(df)
    val sec = secs(t0)
    Tables.dropTransientCaches()
    sec
  }

  /** Jobs, stages, tasks and summed job span since the last reset. */
  private final class Census extends SparkListener {
    val jobs, stages, tasks = new AtomicInteger
    val jobSpanMs = new AtomicLong
    private val starts = new ConcurrentHashMap[Int, Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); starts.put(e.jobId, e.time); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(starts.remove(e.jobId)).foreach { t0 =>
        jobSpanMs.addAndGet(e.time - t0); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet(); ()
    }
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); jobSpanMs.set(0)
      starts.clear()
    }
  }

  private def metrics(spark: SparkSession, sfDir: String,
      names: Seq[String], df: String => DataFrame): Boolean = {
    val census = new Census
    spark.sparkContext.addSparkListener(census)
    val taskTime = TaskTimeProbe.install(spark.sparkContext)
    // the noop write runs under its OWN QueryExecution: take it from
    // the listener so the dumped nodes carry the executed metrics
    val lastQe = new AtomicReference[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = lastQe.set(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    def dump(p: SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.map { case (k, m) => s"$k=${m.value}" }
        .filter(s => !s.endsWith("=0") && !s.endsWith("=-1"))
      println(("  " * depth) + p.nodeName + "  " + ms.mkString(" "))
      p.children.foreach(dump(_, depth + 1))
      // adaptive/stage/reuse wrappers hold their plan outside `children`
      p match {
        case a: AdaptiveSparkPlanExec => dump(a.executedPlan, depth + 1)
        case q: QueryStageExec => dump(q.plan, depth + 1)
        case r: ReusedExchangeExec => dump(r.child, depth + 1)
        case _ => ()
      }
    }
    Prewarm.run(spark, sfDir)
    println("PROF name wall_s build_s jobs stages tasks jobspan_s gap_s " +
      "task_s")
    each(names) { name =>
      timedNoop(df(name)) // warm run: the metrics read steady state
      val k0 = taskTime.taskSec(spark.sparkContext)
      census.reset()
      lastQe.set(null)
      val t0 = System.nanoTime()
      val d = df(name)
      val build = secs(t0)
      noop(d)
      val wall = secs(t0)
      // taskSec drains the listener bus: the census and lastQe are final
      val task = taskTime.taskSec(spark.sparkContext) - k0
      val span = census.jobSpanMs.get / 1e3
      println(f"PROF $name%-40s $wall%7.3f $build%7.3f " +
        f"${census.jobs.get}%4d ${census.stages.get}%5d " +
        f"${census.tasks.get}%6d $span%8.3f ${wall - span}%7.3f $task%8.3f")
      Option(lastQe.get()) match {
        case Some(qe) => dump(qe.executedPlan, 1)
        case None => println("  (no QueryExecution captured)")
      }
    }
  }
}
