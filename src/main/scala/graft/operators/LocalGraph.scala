package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A small graph held on the driver as a primitive CSR, plus the exact
  * driver-side replays of the graph operators' distributed loops.
  *
  * `ids` is sorted and distinct, so node index order IS id order: the
  * smallest index of any node set holds its smallest id. `offsets` has
  * n+1 entries and node u's out-neighbors are `nbrs(offsets(u) until
  * offsets(u + 1))` (node indices). Every algorithm below is exact
  * integer arithmetic or a unique fixed point, so its output equals the
  * distributed loop it replaces (GraphsSpec checks both paths on
  * generated graphs).
  */
private[operators] final class LocalGraph private (
    spark: SparkSession,
    ids: Array[Long],
    from: Array[Int],
    to: Array[Int]) {

  private val n = ids.length
  private val offsets = new Array[Int](n + 1)
  private val nbrs = new Array[Int](from.length)
  locally {
    from.foreach(u => offsets(u + 1) += 1)
    for (u <- 0 until n) offsets(u + 1) += offsets(u)
    val fill = java.util.Arrays.copyOf(offsets, n)
    for (e <- from.indices) {
      nbrs(fill(from(e))) = to(e)
      fill(from(e)) += 1
    }
  }

  private def degree(u: Int): Int = offsets(u + 1) - offsets(u)

  private def foreachNbr(u: Int)(f: Int => Unit): Unit = {
    var p = offsets(u)
    while (p < offsets(u + 1)) { f(nbrs(p)); p += 1 }
  }

  /** The edges (u, v) that `keep` admits, over the same node indexing. */
  private def subgraph(keep: (Int, Int) => Boolean): LocalGraph = {
    val f = Array.newBuilder[Int]
    val t = Array.newBuilder[Int]
    for (u <- 0 until n) foreachNbr(u) { v =>
      if (keep(u, v)) { f += u; t += v }
    }
    new LocalGraph(spark, ids, f.result(), t.result())
  }

  /** (id, `valueCol`) rows for the nodes `keep` admits. A LocalRelation,
    * so the callers' rejoins broadcast it and this path shuffles nothing.
    */
  def frame(valueCol: String, values: Array[Long],
      keep: Int => Boolean = _ => true): DataFrame =
    spark.createDataFrame(
      (0 until n).filter(keep).map(u => (ids(u), values(u))))
      .toDF("id", valueCol)

  /** Connected components: each node's label is the min id of its
    * component. Union-find whose root is always the smaller index, so
    * every root is its component's min index, i.e. its min id.
    */
  def minLabels(): Array[Long] = {
    val parent = Array.range(0, n)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (u <- 0 until n) foreachNbr(u) { v =>
      val a = find(u)
      val b = find(v)
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    Array.tabulate(n)(u => ids(find(u)))
  }

  /** `iters` steps of [[Graphs.pagerankRun]]'s fixed-point recurrence
    * over the out-edges (ranks at 1e4 scale, floor divisions, integer
    * sums). Every node needs out-degree >= 1, as on symmetric edges.
    */
  def pagerank10k(iters: Int, d100: Int, base10k: Long): Array[Long] = {
    var r10k = Array.fill(n)(10000L)
    for (_ <- 1 to iters) {
      val inflow = new Array[Long](n)
      for (u <- 0 until n) {
        val contrib = r10k(u) * 10000L / degree(u)
        foreachNbr(u)(v => inflow(v) += contrib)
      }
      r10k = inflow.map(f => base10k + (d100 * f + 500000L) / 1000000L)
    }
    r10k
  }

  /** `rounds` synchronous label-propagation steps over the out-edges:
    * a node takes its neighbors' most frequent label (count desc, label
    * asc); a node without out-edges keeps its own id.
    */
  def labelPropagation(rounds: Int): Array[Long] = {
    val buf = new Array[Long]((0 until n).map(degree).maxOption.getOrElse(0))
    var labels = ids
    for (_ <- 1 to rounds) {
      val prev = labels
      labels = Array.tabulate(n) { u =>
        var d = 0
        foreachNbr(u) { v => buf(d) = prev(v); d += 1 }
        java.util.Arrays.sort(buf, 0, d)
        // longest run of equal labels; strict > keeps the smallest on ties
        var best = ids(u)
        var bestRun = 0
        var i = 0
        while (i < d) {
          var j = i
          while (j < d && buf(j) == buf(i)) j += 1
          if (j - i > bestRun) { bestRun = j - i; best = buf(i) }
          i = j
        }
        best
      }
    }
    labels
  }

  /** k-core peel over undirected edges: each node's degree inside the
    * k-core, or -1 if it was peeled. The k-core is unique, so the peel
    * order cannot change the result.
    */
  def coreDegrees(k: Int): Array[Int] = {
    val deg = Array.tabulate(n)(degree)
    val stack = new Array[Int](n)
    var top = 0
    def peel(u: Int): Unit = { deg(u) = -1; stack(top) = u; top += 1 }
    for (u <- 0 until n if deg(u) < k) peel(u)
    while (top > 0) {
      top -= 1
      foreachNbr(stack(top)) { v =>
        if (deg(v) >= 0) {
          deg(v) -= 1
          if (deg(v) < k) peel(v)
        }
      }
    }
    deg
  }

  /** (total wedges Σ deg·(deg−1)/2, triangles) over undirected edges.
    * Edges point from their (degree, id)-lower endpoint, so each
    * triangle is counted once, at its lowest apex, and an apex scans at
    * most the graph's degeneracy of out-neighbors.
    */
  def triangleCensus(): (Long, Long) = {
    val deg = Array.tabulate(n)(degree)
    val dag =
      subgraph((u, v) => deg(u) < deg(v) || (deg(u) == deg(v) && u < v))
    val mark = Array.fill(n)(-1)
    var wedges = 0L
    var triangles = 0L
    for (u <- 0 until n) {
      wedges += deg(u).toLong * (deg(u) - 1) / 2
      dag.foreachNbr(u)(v => mark(v) = u)
      dag.foreachNbr(u) { v =>
        dag.foreachNbr(v)(w => if (mark(w) == u) triangles += 1)
      }
    }
    (wedges, triangles)
  }
}

/** The driver-local decision shared by the adaptive graph operators
  * ([[Dedup.clustersFromPairs]] and [[Graphs]]' PageRank, triangle
  * census, k-core and label propagation).
  *
  * Their distributed loops cost rounds × fixed job latency, whatever
  * the data size: measured 12 s of q141's 14.5 s warm over 1,173 pairs
  * at sf0.1. Pair graphs are a detector's OUTPUT, orders of magnitude
  * under the corpus, so a tiny graph is the common case even at 100 TB.
  * Under `spark.graft.cc.localEdgeMax` (default 2M) edge rows the
  * operator's edge frame is collected once and replayed here.
  *
  * DRIVER MEMORY: at the 2M default the collect holds ~2M rows (~100 MB)
  * transiently, sized for the default 8g driver. Deployments with small
  * drivers should lower the gate.
  */
private[operators] object LocalGraph {

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[LocalGraph])

  /** Collects `edges` — (src, dst) as its first two long columns — into
    * a [[LocalGraph]] when `edgeCount`, the count the caller gates on,
    * is at most the gate; None sends the caller down its distributed
    * loop. `undirected` also adds every edge reversed. Logs the path
    * taken and why.
    */
  def load(op: String, edges: DataFrame, edgeCount: Long,
      undirected: Boolean = false): Option[LocalGraph] = {
    val spark = edges.sparkSession
    val gate = spark.conf.getOption("spark.graft.cc.localEdgeMax")
      .map(_.toLong).getOrElse(2000000L)
    if (edgeCount > gate) {
      log.info(s"$op: distributed, $edgeCount edges > $gate gate")
      return None
    }
    log.info(s"$op: local, $edgeCount edges <= $gate gate")
    // collect(), not toLocalIterator(): the iterator fetches ONE
    // partition per sequential Spark job — measured 5-6.6 s to drain a
    // 3.9k-row cached edge list across 32 partitions vs 0.3 s for the
    // single collect job.
    val rows = edges.collect()
    val src = rows.map(_.getLong(0))
    val dst = rows.map(_.getLong(1))
    val all = src ++ dst
    java.util.Arrays.sort(all)
    val distinct = Array.newBuilder[Long]
    for (i <- all.indices if i == 0 || all(i) != all(i - 1))
      distinct += all(i)
    val ids = distinct.result()
    val s = src.map(java.util.Arrays.binarySearch(ids, _))
    val d = dst.map(java.util.Arrays.binarySearch(ids, _))
    Some(if (undirected) new LocalGraph(spark, ids, s ++ d, d ++ s)
      else new LocalGraph(spark, ids, s, d))
  }
}
