package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over a pair/edge list — the structural companion to
  * [[Dedup.clustersFromPairs]]: connected components say WHICH docs
  * group together; triangle density says how CLIQUE-LIKE the groups
  * are (true duplicate clusters are near-cliques, chains of borderline
  * matches are not).
  */
object Graphs {

  /** A triangle census plus the handle releasing the internally cached
    * edge list (see [[Funnel.FunnelRun]] for the same pattern).
    */
  final class TriangleRun private[operators] (
      val result: DataFrame,
      edges: DataFrame) {
    /** Unpersist the cached edge list (call after materializing). */
    def release(): Unit = { edges.unpersist(): Unit }
  }

  /** [[pagerank]] plus the handle releasing the internally cached
    * degree-annotated edge list.
    */
  final class PagerankRun private[operators] (
      val result: DataFrame,
      edges: DataFrame) {
    /** Unpersist the cached edge list (call after materializing). */
    def release(): Unit = { edges.unpersist(): Unit }
  }

  /** PageRank over an undirected simple graph given as (a, b) pairs —
    * the centrality readout of the near-dup graph (a high-rank doc is
    * the "canonical" member of a big duplicate neighborhood). Fixed
    * `iters` power iterations, damping 0.85.
    *
    * Exactness discipline (tightened round 12 after an sf0.1 boundary
    * flip): the whole recurrence is FIXED-POINT INTEGER arithmetic —
    * ranks live at 1e4 scale (BIGINT), each in-edge contributes
    * `(r·10⁴) DIV outdeg` (scale 1e8), and the damped update is
    * `(100−d)·100 + (d·Σcontrib + 5·10⁵) DIV 10⁶` with the damping as
    * an integer percent. Integer sums are ORDER-INDEPENDENT, so the
    * result is bit-identical across engines, partitionings and scale —
    * the earlier fix4-per-iteration float form still summed doubles
    * inside each iteration, and at sf0.1 one node in 5000 landed on a
    * rounding half-boundary and flipped by 1e-4 between engines. The
    * floor in the contribution costs < 1e-8 per edge — far below the
    * 1e-4 output grain, and identical everywhere. In the SYMMETRIZED
    * graph every edge-set node has degree ≥ 1, so there is no dangling
    * mass anywhere; nodes absent from the edge set take the
    * teleport-only fixed point (1 − damping).
    *
    * Scale shape: degree-annotated edges persist once (released via the
    * run handle); each iteration is ONE hash join (edges ⋈ ranks on
    * src) + one dst-keyed sum — the ranks table is referenced exactly
    * once per iteration, so the logical plan grows linearly in `iters`
    * (see [[graft.operators.Dedup.clustersFromPairs]] for why that
    * matters). Output: (idCol, rank) for EVERY id in `allIds`.
    */
  def pagerank(
      allIds: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    val run = pagerankRun(allIds, idCol, pairs, aCol, bCol, iters, damping)
    run.result
  }

  /** [[pagerank]] with the cache-release handle. */
  def pagerankRun(
      allIds: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      iters: Int = 3,
      damping: Double = 0.85): PagerankRun = {
    require(iters >= 1, "iters must be >= 1")
    val d100 = math.round(damping * 100).toInt
    require(d100 >= 1 && d100 <= 99,
      s"damping must round to an integer percent in [0.01, 0.99], got $damping")
    val base10k = ((100 - d100) * 100).toLong // (1 - d) at 1e4 scale
    val e = graft.SparkUtil.ensureParallelism(pairs)
      .select(col(aCol).cast("long").as("a0"), col(bCol).cast("long").as("b0"))
      .select(least(col("a0"), col("b0")).as("a"),
        greatest(col("a0"), col("b0")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val edges = sym.join(deg, "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ADAPTIVE small-graph path (LocalGraph): iters × (join + agg) of
    // fixed job latency dominates on a pair-graph of a few thousand
    // edges. The recurrence is fixed-point integer arithmetic
    // throughout (order-independent sums, floor divisions), so the
    // driver replay is bit-identical to the distributed loop. The
    // edges.count() gate also materializes the persisted edge list the
    // distributed loop re-references every round.
    val local = LocalGraph.load("pagerank",
      edges.select(col("src"), col("dst")), edges.count())
    val ranks = local match {
      case Some(g) => g.frame("r10k", g.pagerank10k(iters, d100, base10k))
      case None =>
        var ranks = edges.select(col("src").as("id")).distinct()
          .select(col("id"), lit(10000L).as("r10k"))
        (1 to iters).foreach { _ =>
          ranks = edges
            .join(ranks.select(col("id").as("src"), col("r10k")), "src")
            .groupBy(col("dst"))
            .agg(sum(expr("(r10k * 10000) DIV outdeg")).as("inflow"))
            .select(col("dst").as("id"),
              (lit(base10k) +
                expr(s"($d100 * inflow + 500000) DIV 1000000")).as("r10k"))
        }
        ranks
    }
    val result = allIds.select(col(idCol).cast("long").as(idCol))
      .join(ranks.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        (coalesce(col("r10k"), lit(base10k)).cast("double") / 10000.0)
          .as("rank"))
    new PagerankRun(result, edges)
  }

  /** Exact triangle census (edge count, total length-2 path count, and
    * triangle count — the global clustering coefficient is
    * 3·n_triangles/n_wedges) over an undirected simple graph given as
    * (id_a, id_b) pairs.
    *
    * The deduped edge list is PERSISTED inside the operator: the plan
    * references it six times (degrees, orientation, both wedge legs,
    * closure, counts), and each reference would otherwise re-execute
    * the caller's whole pair-generation lineage — measured 4.9 s → 1 s
    * on the near-dup graph at sf0.1. Edges are one row per pair
    * (tiny); sessions running many censuses use [[triangleRun]] and
    * `release()` after materializing.
    *
    * Scale shape — the classic degree-oriented algorithm: orient every
    * edge from its (degree, id)-smaller endpoint to the larger, so
    * wedges are enumerated at each triangle's UNIQUE lowest-degree
    * apex. That caps per-node wedge fan-out at the graph's degeneracy
    * (out-degree ≤ O(√edges) on any graph), the bound that makes
    * hub-heavy graphs tractable — an id-oriented join would enumerate
    * deg² wedges at every hub. Three equi-joins, all hash-partitioned;
    * the final counts are 1-row aggregates.
    * Output: one row (n_edges, n_wedges, n_triangles).
    */
  def triangleStats(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    triangleRun(pairs, aCol, bCol).result

  /** [[triangleStats]] with the cache-release handle. */
  def triangleRun(
      pairs: DataFrame, aCol: String, bCol: String): TriangleRun = {
    // Normalize orientation BEFORE distinct: the graph is undirected, so
    // an input carrying both (a,b) and (b,a) is ONE edge — without the
    // least/greatest fold it would survive distinct() twice, doubling
    // degrees and corrupting every count downstream.
    val e = graft.SparkUtil.ensureParallelism(pairs)
      .select(col(aCol).cast("long").as("a0"), col(bCol).cast("long").as("b0"))
      .select(least(col("a0"), col("b0")).as("a"),
        greatest(col("a0"), col("b0")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ADAPTIVE local path (LocalGraph): the distributed census is ~10
    // fixed-latency jobs (degree agg, two orientation joins, wedge
    // self-join, closing join, three aggregates) regardless of size —
    // measured 2.9 s warm on a 3.9k-edge near-dup graph at sf0.1. The
    // local census counts the same exact integers with the same
    // degree-ordered orientation, so the two paths are output-identical.
    val edgeCount = e.count()
    LocalGraph.load("triangleStats", e, edgeCount, undirected = true) match {
      case Some(g) =>
        val (wedges, triangles) = g.triangleCensus()
        // nullability mirrors the distributed shape exactly: counts are
        // non-null, the wedge SUM aggregate is nullable — and on an
        // EMPTY edge set the distributed sum-over-nothing is NULL, so
        // the local value is too
        return new TriangleRun(pairs.sparkSession.range(1).select(
          lit(edgeCount).as("n_edges"),
          when(lit(edgeCount > 0), lit(wedges)).as("n_wedges"),
          lit(triangles).as("n_triangles")), e)
      case None =>
    }
    val deg = e.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val oriented = e
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // oriented wedges: both legs point OUT of the apex — each triangle
    // closes exactly ONE of these (at its unique (deg,id)-lowest apex)
    val wedges = oriented.select(col("u"), col("v").as("x"))
      .join(oriented.select(col("u"), col("v").as("y")), "u")
      .where(col("x") < col("y"))
      .select("x", "y")
    val closing = oriented.select(
      least(col("u"), col("v")).as("x"), greatest(col("u"), col("v")).as("y"))
    val tri = wedges.join(closing, Seq("x", "y"))
      .agg(count(lit(1)).as("n_triangles"))
    // n_wedges is the TOTAL length-2 path count Σ deg·(deg−1)/2 (the
    // clustering-coefficient denominator), straight off the degree
    // table — not the (smaller) oriented wedge set above
    val wedgeTotal = deg.agg(
      sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges")) // exact longs
    val result = e.agg(count(lit(1)).as("n_edges"))
      .join(broadcast(wedgeTotal))
      .join(broadcast(tri))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"))
    new TriangleRun(result, e)
  }

  /** [[kcoreDegrees]] plus the handle releasing the internally cached
    * final edge set.
    */
  final class KcoreRun private[operators] (
      val result: DataFrame,
      cleanup: () => Unit) {
    /** Release the run's scratch edge state (call after materializing
      * `result` — the result reads from it).
      */
    def release(): Unit = cleanup()
  }

  /** k-core decomposition — the maximal subgraph in which every node
    * has degree ≥ k, found by iterated peeling of sub-k nodes. On a
    * near-dup graph the k-core separates DENSE duplication (template
    * families, boilerplate farms — what you delete wholesale) from
    * incidental pairwise matches; it is also the standard first cut
    * for community cores and spam-cluster mining.
    *
    * Iteration state is the SYMMETRIC alive-edge set with TRUNCATED
    * lineage every round: a reliable `checkpoint()` when the context
    * has a checkpoint dir, else a scratch-parquet round-trip. Round 8's
    * window-based loop relied on `persist()` alone — each round's plan
    * still chained on the previous round's, and the measured round cost
    * climbed 0.9 s → 28.7 s by round 11 (driver-side plan/GC growth;
    * ~369 s total at sf0.1, enough to heartbeat-kill a bench JVM). A
    * flat file-scan plan per round makes round cost constant.
    *
    * Each round peels the currently-sub-k nodes: one partial-agg degree
    * count over the symmetric edges (src-count = node degree), filter
    * `deg < k` — a tiny, shrinking node set — then two anti-joins
    * remove their edges. The sub-k set is an aggregate output, so AQE
    * sizes it at runtime and broadcasts the anti-joins; the edge set
    * itself is never shuffled. The k-core fixpoint is unique regardless
    * of peeling order; convergence = no sub-k nodes remain. Rounds are
    * bounded by the peel depth (~10-20 on real near-dup graphs);
    * `maxIter` guards pathological chains and THROWS rather than
    * returning a non-core.
    *
    * Output: (idCol, core_degree) for every surviving node.
    */
  def kcoreDegrees(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      k: Int,
      maxIter: Int = 50): DataFrame = {
    val run = kcoreDegreesRun(pairs, aCol, bCol, k, maxIter)
    run.result
  }

  def kcoreDegreesRun(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      k: Int,
      maxIter: Int = 50): KcoreRun = {
    require(k >= 1, "k must be >= 1")
    val spark = pairs.sparkSession
    // same undirected-simple-graph hygiene as triangleRun: normalize
    // orientation, drop self-loops, dedup, THEN symmetrize
    val e = graft.SparkUtil.ensureParallelism(pairs)
      .select(col(aCol).cast("long").as("a0"), col(bCol).cast("long").as("b0"))
      .select(least(col("a0"), col("b0")).as("a"),
        greatest(col("a0"), col("b0")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    // ADAPTIVE local path (LocalGraph): the distributed peel costs
    // rounds × fixed job latency (degree agg + anti-joins + a scratch
    // round-trip per round — q125 measured 12.5 s over a graph of a few
    // thousand edges). The local peel's output is IDENTICAL: the k-core
    // is unique, so removal order cannot change the fixed point, and
    // survivor degrees are alive-neighbor counts either way.
    val eMat = e.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    LocalGraph.load("kcoreDegrees", eMat, eMat.count(),
        undirected = true) match {
      case Some(g) =>
        eMat.unpersist()
        val deg = g.coreDegrees(k)
        val result = g.frame("core_degree", deg.map(_.toLong), deg(_) >= 0)
          .withColumnRenamed("id", "node")
        return new KcoreRun(result, () => ())
      case None =>
    }
    // Round files under ScratchSpace (conf'd URI → checkpoint dir →
    // per-JVM local temp with one shutdown hook): cluster-safe when
    // spark.graft.scratch.dir points at shared storage, and callers
    // using kcoreDegrees() without release() no longer stack hooks.
    val rounds = new graft.ScratchSpace.Rounds(spark, "kcore_")
    var alive = rounds.materialize(
      eMat.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(eMat.select(col("b").as("src"), col("a").as("dst"))))
    eMat.unpersist()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // persisted so its two anti-join references don't recount degrees
      val bad = alive.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .where(col("deg") < k)
        .select(col("src").as("node"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (bad.count() == 0L) converged = true
      else alive = rounds.materialize(
        alive.join(bad, col("src") === col("node"), "left_anti")
          .join(bad, col("dst") === col("node"), "left_anti"))
      bad.unpersist()
      iter += 1
    }
    if (!converged) {
      rounds.cleanup()
      throw new IllegalStateException(
        s"kcoreDegrees did not converge in $maxIter rounds — peel depth " +
          "exceeds maxIter; raise maxIter")
    }
    val result = alive.groupBy(col("src"))
      .agg(count(lit(1)).as("core_degree"))
      .select(col("src").as("node"), col("core_degree"))
    new KcoreRun(result, () => rounds.cleanup())
  }
  /** Synchronous label propagation (community detection, fixed
    * `rounds`): labels start as node ids; each round every node takes
    * the most frequent label among its NEIGHBORS (count desc, label
    * asc on ties — a total order, so the update is deterministic and
    * both engines replay it exactly); isolated nodes keep their own
    * label. Unlike min-label connected components (q41), LPA splits a
    * weakly-bridged graph into dense communities — the "which docs
    * cluster around which template" readout over the near-dup graph,
    * where CC would glue everything reachable together.
    *
    * Scale shape: per round, one join of the symmetric edge list to
    * the label table (both keyed by node id) + one (node, label)
    * count aggregate + one max-of-struct argmax per node — all hash
    * shuffles at node/edge grain, no windows over the corpus. A fixed
    * small round count keeps plans linear (the q111/q115 unrolled-
    * iteration discipline); long-loop callers should file-truncate
    * like [[kcoreDegreesRun]].
    */
  /** [[labelPropagation]]'s result plus the handle releasing the
    * cached symmetric edge list (each round's join references it, so
    * without the persist every round would re-run the caller's whole
    * pair pipeline — measured 2x on the LSH near-dup graph).
    */
  final class LpaRun private[operators] (
      val result: DataFrame,
      edges: DataFrame,
      ids: DataFrame) {
    def release(): Unit = { edges.unpersist(); ids.unpersist(): Unit }
  }

  /** Convenience form: materializes the labels via a scratch-parquet
    * round-trip and releases the cached edge/id sets immediately,
    * so repeated calls cannot accumulate executor cache (the round-12
    * footgun). The file round-trip survives executor loss — the
    * repo's no-localCheckpoint rule (SURVEY §4) is unconditional.
    * Loops that want to keep the lineage should use
    * [[labelPropagationRun]] and `release()` after materializing.
    */
  def labelPropagation(
      allIds: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      rounds: Int = 2): DataFrame = {
    val run = labelPropagationRun(allIds, idCol, pairs, aCol, bCol, rounds)
    val out = graft.ScratchSpace.materialize(run.result, "lpa_labels_")
    run.release()
    out
  }

  /** [[labelPropagation]] with the cache-release handle. */
  def labelPropagationRun(
      allIds: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      rounds: Int = 2): LpaRun = {
    require(rounds >= 1 && rounds <= 10,
      "rounds must be 1..10 (unrolled plans; file-truncate longer loops)")
    // ids is PERSISTED like the edge list: the round rebase below
    // references it once per round (+ the init), and an unpersisted
    // reference re-executes the caller's whole id-derivation subtree
    // each round — measured 4.2 -> 11.2 s on q176, whose ids come
    // through the digest-collapse join. Node-id grain: tiny.
    val ids = graft.SparkUtil.ensureParallelism(allIds)
      .select(col(idCol).cast("long").as("id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = graft.SparkUtil.ensureParallelism(pairs)
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .unionByName(pairs.select(col(bCol).cast("long").as("src"),
        col(aCol).cast("long").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ADAPTIVE small-graph path (LocalGraph): the distributed loop
    // costs rounds × ~1 s fixed job latency regardless of data size —
    // measured ~5 s of q176's 6.3 s over a graph of a few thousand
    // edges. The local loop replays the EXACT same synchronous update
    // (argmax by count desc, label asc — a total order). The
    // distributed neigh join sources labels from the ids-rebased label
    // table, so a dst OUTSIDE allIds never contributes a label: the
    // left-semi filter on ids drops those edge rows before the collect,
    // or the two paths diverge on pair endpoints that escape the id set.
    val localEdges = edges
      .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
    val local =
      LocalGraph.load("labelPropagation", localEdges, edges.count())
    val labels = local match {
      case Some(g) =>
        // isolated ids keep their own label via the same left-join rebase
        val found = g.frame("label", g.labelPropagation(rounds))
        ids.join(found, Seq("id"), "left")
          .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      case None =>
        var labels = ids.select(col("id"), col("id").as("label"))
        for (_ <- 1 to rounds) {
          val neigh = edges
            .join(labels.select(col("id").as("dst"), col("label")), "dst")
            .groupBy(col("src"), col("label"))
            .agg(count(lit(1)).as("c"))
          // argmax by (count desc, label asc): max of (c, -label)
          val winner = neigh.groupBy(col("src"))
            .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("w"))
            .select(col("src").as("id"), (-col("w.nl")).as("label"))
          // Rebase each round on the CONSTANT id set, not the previous
          // labels: a node either has a winner row (it has neighbors —
          // every round) or never does (isolated — keeps its own id), so
          // ids.join(winner) is output-identical to labels.join(winner)
          // while referencing the previous round's labels exactly ONCE
          // (via neigh). Two references per round would DOUBLE the
          // unrolled plan each round — the exponential-lineage class
          // LoopLineageSpec guards (it asserts linear growth at rounds=8).
          labels = ids
            .join(winner, Seq("id"), "left")
            .select(col("id"),
              coalesce(col("label"), col("id")).as("label"))
        }
        labels
    }
    new LpaRun(
      labels.select(col("id").as(idCol), col("label").as("community")),
      edges, ids)
  }
  /** Newman modularity audit of a community assignment — the quality
    * readout that justifies (or indicts) a clustering: per community,
    * Q_c = intra_c/m − (d_c/2m)², where intra_c counts undirected
    * edges with both endpoints inside, d_c sums member degrees, and m
    * is the total undirected edge count. Σ Q_c near 0 means the
    * partition is no better than random wiring; a label-propagation
    * or CC output that scores ~0 should not drive curation decisions.
    *
    * Exactness: every input to Q_c is an exact integer (edge and
    * degree counts); the one float expression per community makes the
    * readout engine-identical. Scale shape: edge normalization +
    * degree/intra aggregates are hash shuffles at edge grain; the
    * single driver scalar is m (one count — the same bounded hop as
    * Baskets' guard). Output: (community, n_nodes, intra_edges,
    * degree_sum, contribution).
    */
  /** [[modularity]]'s result plus the handle releasing the cached
    * normalized edge list (referenced by m, degrees and intra counts).
    */
  final class ModularityRun private[operators] (
      val result: DataFrame,
      und: DataFrame) {
    def release(): Unit = { und.unpersist(): Unit }
  }

  /** Convenience form: materializes the (single-row) score via a
    * scratch-parquet round-trip (executor-loss-safe, unlike
    * localCheckpoint) and releases the cached edge list immediately —
    * repeated audits cannot accumulate executor cache.
    * Use [[modularityRun]] + `release()` to keep the lineage instead.
    */
  def modularity(
      labels: DataFrame,
      idCol: String,
      communityCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val run = modularityRun(labels, idCol, communityCol, pairs, aCol, bCol)
    val out = graft.ScratchSpace.materialize(run.result, "modularity_")
    run.release()
    out
  }

  /** [[modularity]] with the cache-release handle. */
  def modularityRun(
      labels: DataFrame,
      idCol: String,
      communityCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String): ModularityRun = {
    val und = graft.SparkUtil.ensureParallelism(pairs)
      .select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("u"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = und.count()
    val lab = labels.select(col(idCol).cast("long").as("id"),
      col(communityCol).cast("long").as("c"))
    val deg = und.select(col("u").as("id"))
      .unionByName(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val intra = und
      .join(lab.select(col("id").as("u"), col("c").as("cu")), "u")
      .join(lab.select(col("id").as("v"), col("c").as("cv")), "v")
      .where(col("cu") === col("cv"))
      .groupBy(col("cu").as("c"))
      .agg(count(lit(1)).as("intra_edges"))
    val out = lab.join(deg, Seq("id"), "left")
      .groupBy("c")
      .agg(
        count(lit(1)).as("n_nodes"),
        sum(coalesce(col("deg"), lit(0L))).as("degree_sum"))
      .join(intra, Seq("c"), "left")
      .select(
        col("c").as(communityCol),
        col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        (if (m == 0) lit(0.0) else graft.functions.Numerics.fix4(
          coalesce(col("intra_edges"), lit(0L)).cast("double") / m.toDouble -
            (col("degree_sum").cast("double") / (2.0 * m)) *
              (col("degree_sum").cast("double") / (2.0 * m))))
          .as("contribution"))
    new ModularityRun(out, und)
  }
}
