package graft

/** The bench regression-gate DECISION, extracted pure so it is
  * spec-pinned (BenchGateSpec) instead of living untestable inside
  * `Bench.main` — three rounds (r13 q03/q07, r14 q29, r15 q262)
  * closed on driver artifacts whose only fails were environmental
  * windows, so the gate's excuse/downgrade semantics are exactly the
  * code that must never regress silently.
  *
  * Inputs: the two passes' per-query quintuples
  * `(name, wallSec, gcMs, loadavg, taskSec, stealMs)`, the errored
  * query names, the pin lookup, the bench's local[N] slot count, and
  * the host CPU count. Rules (each documented at its site):
  *  - steady state = per-query MIN over the passes the entry appears
  *    in (a steal burst hits ONE pass; a plan regression inflates
  *    both). Entries present in only one pass — the one-time
  *    `bpe256_build` training line runs in pass 1 only — are graded
  *    on that pass alone;
  *  - pin schema v2/v3: a [min, median(, task_median)] pin gates at
  *    2 x MEDIAN, a bare v1 scalar at 3 x min; unpinned and
  *    sub-0.15 s queries and errored queries are not gradable here
  *    (errors fail the gate via their own channel);
  *  - a fail downgrades to `suspect` + an `adjudication` entry when
  *    EVERY over-threshold pass is excused: burst-shaped steal
  *    (>= 30% of the query's wall AND >= 10 x the pass's per-query
  *    median steal — uniform background steal excuses nothing) or
  *    task-flat work WITH an environmental co-witness (see
  *    [[decide]]'s excuse());
  *  - a pass-2-only slowdown whose min stayed under threshold is a
  *    `suspect` unless its steal clears the CPU-NORMALIZED bar
  *    (>= 20% of wall x ncpu — a fifth of the machine stolen);
  *  - an in-artifact ISOLATION RERUN ([[applyRerun]], r15 verdict
  *    ask 1) is the last-resort adjudicator for contention the steal
  *    counter cannot see: each remaining fail re-runs once after the
  *    passes; landing under threshold downgrades it with the rerun
  *    as evidence, staying over CONFIRMS the regression in-artifact.
  */
object BenchGate {
  /** (name, wallSec, gcMs, loadavg, taskSec, stealMs). */
  type Quint = (String, Double, Long, Double, Double, Long)

  /** (reported pin sec, wall gate threshold sec, task-sec pin) —
    * taskPin is -1 when the pin predates schema v3. */
  type Pin = (Double, Double, Double)

  final case class Verdict(
      regressed: Seq[(String, Double, Double)],
      suspect: Seq[(String, Double, Double)],
      adjudication: Seq[(String, String)])

  /** Minimum gradable wall time — below it scheduler noise dominates. */
  val FloorSec = 0.15

  def decide(
      /** name -> (pin, threshold, taskPin); (-1, -1, -1) when
        * unpinned. Bench derives this from BASELINE_QUERIES.json
        * (v3 triple -> (median, 2 x median, task_median); v2 pair ->
        * (median, 2 x median, -1); v1 scalar -> (min, 3 x min, -1)). */
      pinThr: String => Pin,
      pass1: Seq[Quint], pass2: Seq[Quint],
      errors: Set[String], slots: Int, ncpu: Int): Verdict = {
    val adjudication =
      scala.collection.mutable.LinkedHashMap[String, String]()
    // steady state = the per-query MIN over the passes the entry
    // appears in: a hypervisor steal burst (visible in the steal_ms
    // column) hits whatever queries run inside its window in ONE
    // pass — measured r14: q260 at 44.1 s wall carrying 28.7 s of
    // steal in pass 2 while pass 1 ran 14.3 s — whereas a genuine
    // plan regression inflates BOTH passes. The UNION (not pass 2's
    // key set) matters since r16: the one-time bpe256_build line is
    // measured in pass 1 only and must still be graded.
    val p1m = pass1.map { case (n, sec, _, _, _, _) => n -> sec }.toMap
    val p2m = pass2.map { case (n, sec, _, _, _, _) => n -> sec }.toMap
    val steady: Seq[(String, Double)] =
      (pass1.map(_._1) ++ pass2.map(_._1).filterNot(p1m.contains))
        .map { n =>
          n -> math.min(p1m.getOrElse(n, Double.MaxValue),
            p2m.getOrElse(n, Double.MaxValue))
        }
    // Steal-aware adjudication (r14 verdict ask 1) — see excuse().
    def medSteal(p: Seq[Quint]): Double = {
      val ss = p.map(_._6).filter(_ >= 0).sorted
      if (ss.isEmpty) 0.0 else ss(ss.length / 2).toDouble
    }
    val med1 = medSteal(pass1)
    val med2 = medSteal(pass2)
    // steal — machine-wide steal >= 30% of the query's wall AND
    //   >= 10x the pass's per-query MEDIAN steal: burst-shaped only
    //   (this host: near-zero background with episodic 1-28 s bursts
    //   that serialize stages on stalled stragglers); on a host with
    //   UNIFORM background steal the median is itself high, nothing
    //   clears 10x it, and a genuine regression cannot launder
    //   itself through ambient steal.
    // task-flat — the work didn't grow, only the waiting. Bounded by
    //   the PINNED task-seconds when the pin carries one (schema v3:
    //   1.5x task_median — far tighter than any wall-derived budget),
    //   else by wall x BENCH-PARALLELISM (local[N] slots, NOT host
    //   cores: at local[4] on a 32-core host a pin x 32 budget would
    //   excuse any real regression, since task_sec is bounded by
    //   ~4x wall anyway). AND (r15 advisor): a task-flat shape alone
    //   is NOT proof of environment — a plan regression that adds
    //   waiting without work (lost parallelism, a new exchange
    //   barrier, a driver-side blocking collect) is exactly
    //   task-flat — so the leg now requires an environmental
    //   CO-WITNESS in the same pass: non-trivial steal (>= 5% of the
    //   query's wall) or a loadavg above the bench's own parallelism
    //   (>= slots + 4: more runnable threads machine-wide than this
    //   bench can account for). A waiting-grew regression with a
    //   quiet machine now stays failed — and reaches the isolation
    //   rerun, which a genuine plan change cannot pass.
    def excuse(sec: Double, task: Double, st: Long, load: Double,
        pin: Pin, passMed: Double): Option[String] = {
      val (pinSec, _, taskPin) = pin
      if (st >= 0 && st.toDouble >= 0.3 * sec * 1000.0 &&
          st.toDouble >= 10.0 * passMed)
        Some(f"steal ${st}ms >= 30%% of ${sec}%.2fs wall and >= " +
          f"10x pass median ${passMed}%.0fms")
      else {
        val taskFlat =
          if (taskPin > 0) task <= 1.5 * taskPin
          else task <= pinSec * slots
        val witness =
          if (st >= 0 && st.toDouble >= 0.05 * sec * 1000.0)
            Some(f"steal ${st}ms >= 5%% of wall")
          else if (load >= slots + 4)
            Some(f"loadavg $load%.1f >= slots+4")
          else None
        if (taskFlat && witness.isDefined) {
          val bound =
            if (taskPin > 0) f"1.5 x task pin $taskPin%.1f"
            else f"pin $pinSec%.3f x $slots slots"
          Some(f"task_sec $task%.1f flat vs $bound with " +
            s"co-witness ${witness.get}")
        } else None
      }
    }
    val overThr = steady.collect {
      case (n, sec)
          if !errors.contains(n) && sec >= FloorSec &&
            pinThr(n)._2 > 0 && sec > pinThr(n)._2 =>
        (n, pinThr(n)._1, sec)
    }
    // a fail downgrades ONLY when every over-threshold pass is
    // excused — and it stays visible in suspect + adjudication,
    // never silent
    val (excused, reg) = overThr.partition { case (n, _, _) =>
      val pin = pinThr(n)
      def flagged(p: Seq[Quint], med: Double) = p.collect {
        case (`n`, sec, _, load, task, st) if sec > pin._2 =>
          excuse(sec, task, st, load, pin, med)
      }
      val verdicts = flagged(pass1, med1) ++ flagged(pass2, med2)
      val ok = verdicts.nonEmpty && verdicts.forall(_.isDefined)
      if (ok) adjudication(n) =
        "downgraded: " + verdicts.flatten.mkString("; ")
      ok
    }
    // Non-fatal visibility: the min rule immunizes the gate against
    // single-window bursts but must not make an IN-JVM pass-2-only
    // degradation (code-cache recurrence, lost memo) invisible. A
    // query whose SLOWER pass exceeded the threshold while the min
    // stayed under is a `suspect` UNLESS that pass clears the
    // CPU-NORMALIZED steal bar (>= 20% of wall x ncpu — r14 advisor:
    // the un-normalized bar let modest background steal on a 32-core
    // host excuse genuine degradations out of BOTH lists).
    val regNames = overThr.map(_._1).toSet
    def quint(p: Seq[Quint], n: String) = p.find(_._1 == n)
    val sus = (if (pass2.nonEmpty) pass2 else Seq.empty).collect {
      case (n, sec, _, _, _, st)
          if !errors.contains(n) && !regNames.contains(n) &&
            sec >= FloorSec && pinThr(n)._2 > 0 && sec > pinThr(n)._2 &&
            (st < 0 || st.toDouble < 0.2 * sec * 1000.0 * ncpu) &&
            quint(pass1, n).exists(_._2 <= pinThr(n)._2) =>
        (n, pinThr(n)._1, sec)
    }
    Verdict(reg, excused ++ sus, adjudication.toSeq)
  }

  /** In-artifact isolation-rerun adjudication (r15 verdict ask 1):
    * the one contention class the steal counter cannot witness is
    * same-host/cgroup CPU competition that inflates executorRunTime
    * itself (r15's q262: task-sec 4x its clean value with near-zero
    * recorded steal), so when [[decide]] leaves fails standing, Bench
    * re-runs each flagged query ONCE — same JVM, memos warm,
    * transients dropped, the exact conditions a pass-2 measurement
    * sees — and this pure step folds the evidence in:
    *  - rerun wall at-or-under the gate threshold -> the pass-time
    *    measurement was environmental; downgrade to `suspect` with
    *    the rerun figures in the adjudication (never silent);
    *  - rerun still over threshold -> the fail STANDS and the
    *    artifact carries its own confirmation (a reader no longer
    *    needs a manual `graft.Probe time` run to adjudicate);
    *  - no rerun measured (rerun itself errored) -> the fail stands
    *    unchanged.
    * A genuine plan regression cannot pass this gate: it reproduces
    * in isolation by definition. `rerun`: name -> (wallSec, taskSec). */
  def applyRerun(v: Verdict, pinThr: String => Pin,
      rerun: Map[String, (Double, Double)]): Verdict = {
    if (v.regressed.isEmpty || rerun.isEmpty) v
    else {
      val (cleared, still) = v.regressed.partition { case (n, _, _) =>
        rerun.get(n).exists(_._1 <= pinThr(n)._2)
      }
      val adj = v.adjudication ++
        cleared.map { case (n, _, sec) =>
          val (rs, rt) = rerun(n)
          n -> (f"downgraded: isolation rerun $rs%.2fs (task " +
            f"$rt%.1fs) under threshold ${pinThr(n)._2}%.2fs vs " +
            f"in-pass $sec%.2fs — environmental")
        } ++
        still.collect { case (n, _, sec) if rerun.contains(n) =>
          val (rs, rt) = rerun(n)
          n -> (f"confirmed: isolation rerun $rs%.2fs (task $rt%.1fs) " +
            f"still over threshold ${pinThr(n)._2}%.2fs — regression " +
            f"reproduces outside the pass (in-pass $sec%.2fs)")
        }
      Verdict(still, v.suspect ++ cleared, adj)
    }
  }
}
