package graft.ops

/** In-memory kernels for the iterative graph operators (r16
  * optimization round) — the single-task fast paths of
  * [[Pipeline.starContraction]], [[Signals.minLabelProp]],
  * [[Signals.kcoreSurvivors]] and [[Signals.weightedPageRankPrepared]].
  *
  * Why: the distributed loops are the right 100 TB shape (keyed joins
  * + aggregations per round, lazy lineage cuts), but at bench scale
  * every round's 2–3 exchanges cost an AQE stage cycle each — q218's
  * six label-prop rounds ran 38 jobs for 0.4 task-seconds of actual
  * arithmetic (`Probe metrics`, OPTIMIZATION_r16.md). Below a
  * configured edge bound the whole fixed-round recurrence runs inside
  * ONE executor task over the (pair-graph-bounded, NOT corpus-bounded)
  * edge list; past the bound the unchanged distributed loop remains
  * the scale path. Nothing is collected to the driver — the kernel
  * runs in a `mapPartitions` over a single-partition repartition of
  * the edge relation.
  *
  * Exactness: every kernel replicates its distributed twin's
  * semantics bit-for-bit (synchronous rounds, Long arithmetic with
  * truncating DIV, min/count/sum only — order-insensitive), and each
  * consumer query's DuckDB oracle row pins the output at both SFs.
  * GraphKernelSpec additionally diffs kernel vs distributed loop on
  * fixture graphs.
  */
private[ops] object GraphKernel extends Serializable {

  /** Connected components by union-find over an undirected edge list
    * (both orientations or either — orientation-insensitive). Output:
    * one (node, label) row per distinct endpoint with label = the
    * component's minimum node id — exactly the star-contraction
    * fixpoint (children + self-labelled roots).
    *
    * Self-loop rows (u == v) register the endpoint but perform no
    * union — matching clusterLabelsDistributed, which keeps a
    * self-loop node as its own labelled singleton. NB
    * starContractionDistributed instead FILTERS u =!= v first and
    * drops self-loop-only nodes entirely (r16 advisor finding); no
    * live caller can produce one (jaccardPairs enforces d1 < d2,
    * q164 filters node =!= label), so the kernel sides with the
    * keep-the-node semantics should that ever change. */
  def components(edges: Iterator[(Long, Long)])
      : Iterator[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.get(x)
      while (p != x) { // path-halve
        val gp = parent.get(p)
        parent.put(x, gp)
        x = gp
        p = parent.get(x)
      }
      x
    }
    edges.foreach { case (u, v) =>
      if (!parent.containsKey(u)) parent.put(u, u)
      if (!parent.containsKey(v)) parent.put(v, v)
      if (u != v) {
        val (ru, rv) = (find(u), find(v))
        // union by min id so the root IS the component minimum
        if (ru < rv) parent.put(rv, ru)
        else if (rv < ru) parent.put(ru, rv)
      }
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.iterator.map(n => (n, find(n)))
  }

  /** `rounds` SYNCHRONOUS min-label-propagation rounds over a
    * both-directions edge list (a, b): each round every node takes
    * min(own label, min over neighbours' previous-round labels).
    * Nodes = distinct `a` (the input is symmetric). Output:
    * (node, lbl) after exactly `rounds` rounds — NOT the fixpoint. */
  def minLabelProp(edges: Iterator[(Long, Long)], rounds: Int)
      : Iterator[(Long, Long)] = {
    val es = edges.toArray
    val lbl = new java.util.HashMap[Long, Long]()
    es.foreach { case (a, _) => lbl.put(a, a); () }
    var r = 0
    while (r < rounds) {
      val mn = new java.util.HashMap[Long, Long]()
      es.foreach { case (a, b) =>
        // symmetric input: b is always a node. On a VIOLATED symmetry
        // precondition (b never seen as a source) the distributed
        // twin's inner join on b drops the edge — match that instead
        // of letting the boxed get's null unbox to 0L and propagate a
        // phantom label-0 minimum (r16 advisor finding).
        if (lbl.containsKey(b)) {
          val xb = lbl.get(b)
          val cur = mn.get(a)
          if (!mn.containsKey(a) || xb < cur) mn.put(a, xb)
        }
        ()
      }
      val it = mn.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val old = lbl.get(e.getKey)
        if (e.getValue < old) lbl.put(e.getKey, e.getValue)
        ()
      }
      r += 1
    }
    import scala.jdk.CollectionConverters._
    lbl.entrySet().asScala.iterator
      .map(e => (e.getKey.longValue, e.getValue.longValue))
  }

  /** `rounds` k-core peels over a both-directions edge list (a, b):
    * per round, deg(a) = #edges with both endpoints surviving, then
    * survivors = {deg >= k}. Output: the LAST round's (n, deg) rows
    * with deg >= k — the survivors joined back to their final
    * degree, exactly the distributed loop's `surv.join(deg)`. */
  def kcore(edges: Iterator[(Long, Long)], k: Int, rounds: Int)
      : Iterator[(Long, Long)] = {
    val es = edges.toArray
    val surv = new java.util.HashSet[Long]()
    es.foreach { case (a, _) => surv.add(a); () }
    var deg = new java.util.HashMap[Long, Long]()
    var r = 0
    while (r < rounds) {
      deg = new java.util.HashMap[Long, Long]()
      es.foreach { case (a, b) =>
        if (surv.contains(a) && surv.contains(b)) {
          deg.merge(a, 1L, (x, y) => x + y)
          ()
        }
      }
      surv.clear()
      val it = deg.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue >= k) { surv.add(e.getKey); () }
      }
      r += 1
    }
    import scala.jdk.CollectionConverters._
    deg.entrySet().asScala.iterator
      .filter(e => e.getValue >= k)
      .map(e => (e.getKey.longValue, e.getValue.longValue))
  }

  /** `iters` integer weighted-PageRank rounds over a prepared
    * (src, dst, w, wdeg) relation (both directions, wdeg functionally
    * dependent on src): inflow(dst) = Σ (pr(src)·w) DIV wdeg(src),
    * then pr = 150 + 850·inflow DIV 1000 (missing inflow = 0).
    * Output: (tok, pr, wdeg) for every node. */
  /** [[pageRank]] over Long node ids (q187's unweighted variant
    * passes w = 1, wdeg = deg). Only edge-endpoint nodes are
    * returned; a caller whose node universe is wider (q187 ranks ALL
    * docs) re-attaches isolated nodes outside — their rank is the
    * closed form 150 after any round ≥ 1 (1000 enters round 1 with
    * zero inflow). */
  def pageRankLong(edges: Iterator[(Long, Long, Long, Long)],
      iters: Int): Iterator[(Long, Long, Long)] = {
    val es = edges.toArray
    val wdeg = new java.util.HashMap[Long, Long]()
    es.foreach { case (src, _, _, wd) => wdeg.put(src, wd); () }
    var pr = new java.util.HashMap[Long, Long]()
    val it0 = wdeg.keySet().iterator()
    while (it0.hasNext) { pr.put(it0.next(), 1000L); () }
    var i = 0
    while (i < iters) {
      val inflow = new java.util.HashMap[Long, Long]()
      es.foreach { case (src, dst, w, wd) =>
        inflow.merge(dst, pr.get(src) * w / wd, (x, y) => x + y)
        ()
      }
      val next = new java.util.HashMap[Long, Long]()
      val nodes = wdeg.keySet().iterator()
      while (nodes.hasNext) {
        val n = nodes.next()
        val in = inflow.getOrDefault(n, 0L)
        next.put(n, 150L + 850L * in / 1000L)
        ()
      }
      pr = next
      i += 1
    }
    import scala.jdk.CollectionConverters._
    pr.entrySet().asScala.iterator
      .map(e => (e.getKey.longValue, e.getValue.longValue,
        wdeg.get(e.getKey).longValue))
  }

  def pageRank(edges: Iterator[(String, String, Long, Long)],
      iters: Int): Iterator[(String, Long, Long)] = {
    val es = edges.toArray
    val wdeg = new java.util.HashMap[String, Long]()
    es.foreach { case (src, _, _, wd) => wdeg.put(src, wd); () }
    var pr = new java.util.HashMap[String, Long]()
    val it0 = wdeg.keySet().iterator()
    while (it0.hasNext) { pr.put(it0.next(), 1000L); () }
    var i = 0
    while (i < iters) {
      val inflow = new java.util.HashMap[String, Long]()
      es.foreach { case (src, dst, w, wd) =>
        inflow.merge(dst, pr.get(src) * w / wd, (x, y) => x + y)
        ()
      }
      val next = new java.util.HashMap[String, Long]()
      val nodes = wdeg.keySet().iterator()
      while (nodes.hasNext) {
        val n = nodes.next()
        val in = inflow.getOrDefault(n, 0L)
        next.put(n, 150L + 850L * in / 1000L)
        ()
      }
      pr = next
      i += 1
    }
    import scala.jdk.CollectionConverters._
    pr.entrySet().asScala.iterator
      .map(e => (e.getKey, e.getValue.longValue, wdeg.get(e.getKey)))
  }
}
