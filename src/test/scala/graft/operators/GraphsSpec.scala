package graft.operators

import graft.SparkTestBase
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class GraphsSpec extends SparkTestBase {

  /** A generated input: the id set and the raw (id_a, id_b) pair rows. */
  private case class TestGraph(ids: Seq[Long], pairs: Seq[(Long, Long)])

  private def shape(name: String, v: IndexedSeq[Long]): Seq[(Long, Long)] =
    name match {
      case "star" => v.tail.map(v.head -> _)
      case "clique" =>
        for (i <- v.indices; j <- v.indices if i < j) yield (v(i), v(j))
      case "chain" => v.indices.tail.map(i => (v(i - 1), v(i)))
      case "mixed" => // star, clique and chain, bridged into one graph
        val (a, rest) = v.splitAt(v.size / 3)
        val (b, c) = rest.splitAt(rest.size / 2)
        shape("star", a) ++ shape("clique", b) ++ shape("chain", c) ++
          Seq(a.last -> b.head, b.last -> c.head)
      case _ => Nil
    }

  /** One graph of at most 40 nodes drawn from a sparse id range. On top
    * of the base shape: duplicate and reversed pair rows, self-loops,
    * pair endpoints dropped from the id set, and isolated ids. "empty"
    * has no pair rows at all; "loops" has self-loops only.
    */
  private def graphGen(name: String): Gen[TestGraph] = for {
    n <- Gen.choose(6, 40)
    v <- Gen.pick(n, 1L to 500L).map(_.toIndexedSeq)
    random <- Gen.listOfN(2 * n, Gen.zip(Gen.oneOf(v), Gen.oneOf(v)))
    base = if (name == "random") random else shape(name, v)
    dups <- Gen.someOf(base)
    reversed <- Gen.someOf(base)
    loops <- Gen.someOf(v)
    outside <- Gen.someOf(v).map(_.take(3))
    isolated <- Gen.listOfN(2, Gen.choose(1000L, 1100L))
  } yield {
    val ids = (v.filterNot(outside.contains) ++ isolated).distinct
    name match {
      case "empty" => TestGraph(ids, Nil)
      case "loops" => TestGraph(ids, loops.map(x => (x, x)).toSeq)
      case _ => TestGraph(ids, base ++ dups.take(3) ++
        reversed.take(3).map(_.swap) ++ loops.take(2).map(x => (x, x)))
    }
  }

  private lazy val graphs: Seq[TestGraph] =
    Seq("empty", "loops", "star", "clique", "chain", "mixed", "random",
      "random", "mixed", "chain").zipWithIndex.map { case (name, i) =>
      graphGen(name).pureApply(Gen.Parameters.default, Seed(i.toLong))
    }

  /** Property: on every generated graph the driver-local path returns
    * exactly what the distributed loop (localEdgeMax=0) returns.
    */
  private def localEqualsDistributed[T](run: TestGraph => T): Unit =
    graphs.zipWithIndex.foreach { case (g, i) =>
      val local = run(g)
      spark.conf.set("spark.graft.cc.localEdgeMax", "0")
      val dist =
        try run(g)
        finally spark.conf.unset("spark.graft.cc.localEdgeMax")
      assert(local == dist, s"graph $i: $g")
    }

  private def frames(g: TestGraph) = {
    val ss = spark
    import ss.implicits._
    (g.ids.toDF("id"), g.pairs.toDF("id_a", "id_b"))
  }

  test("generated graphs cover the edge cases of the differential tests") {
    assert(graphs.exists(_.pairs.isEmpty))
    assert(graphs.exists(_.pairs.exists { case (a, b) => a == b }))
    assert(graphs.exists(g => g.pairs.distinct.size < g.pairs.size))
    assert(graphs.exists(g =>
      g.pairs.exists { case (a, b) => a != b && g.pairs.contains((b, a)) }))
    assert(graphs.exists(g =>
      g.pairs.exists(p => !g.ids.contains(p._1) || !g.ids.contains(p._2))))
    assert(graphs.forall(g => (g.ids ++ g.pairs.flatMap(p => Seq(p._1, p._2)))
      .distinct.size <= 42)) // <= 40 shape nodes + 2 isolated ids
  }

  test("property: clustersFromPairs local == distributed on generated graphs") {
    localEqualsDistributed { g =>
      val (ids, pairs) = frames(g)
      Dedup.clustersFromPairs(ids, "id", pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
  }

  test("property: pagerank local == distributed on generated graphs") {
    localEqualsDistributed { g =>
      val (ids, pairs) = frames(g)
      val run = Graphs.pagerankRun(ids, "id", pairs, "id_a", "id_b")
      try run.result.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      finally run.release()
    }
  }

  test("property: triangleStats local == distributed on generated graphs") {
    localEqualsDistributed { g =>
      val run = Graphs.triangleRun(frames(g)._2, "id_a", "id_b")
      try run.result.collect().head.toSeq
      finally run.release()
    }
  }

  test("property: kcoreDegrees local == distributed on generated graphs") {
    localEqualsDistributed { g =>
      (1 to 3).map { k =>
        val run = Graphs.kcoreDegreesRun(frames(g)._2, "id_a", "id_b", k)
        try run.result.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        finally run.release()
      }
    }
  }

  test("property: labelPropagation local == distributed on generated graphs") {
    localEqualsDistributed { g =>
      val (ids, pairs) = frames(g)
      val run = Graphs.labelPropagationRun(ids, "id", pairs, "id_a", "id_b",
        rounds = 3)
      try run.result.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally run.release()
    }
  }

  test("triangleStats: K4 has 6 edges, 12 wedges, 4 triangles") {
    val ss = spark
    import ss.implicits._
    val k4 = (for {
      a <- 1 to 4; b <- 1 to 4 if a < b
    } yield (a.toLong, b.toLong)).toDF("id_a", "id_b")
    val out = Graphs.triangleStats(k4, "id_a", "id_b").collect().head
    // every node has degree 3 -> wedges = 4 * C(3,2) = 12; K4 holds 4 triangles
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) == ((6L, 12L, 4L)))
  }

  test("triangleStats: a path has a wedge but no triangle; dups/self-loops drop") {
    val ss = spark
    import ss.implicits._
    val path = Seq(
      (1L, 2L), (2L, 3L),
      (2L, 3L), // duplicate edge must not double-count
      (3L, 3L)  // self loop must be ignored
    ).toDF("id_a", "id_b")
    val out = Graphs.triangleStats(path, "id_a", "id_b").collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) == ((2L, 1L, 0L)))
  }

  test("triangleStats: reversed duplicates (a,b)+(b,a) count as one edge") {
    val ss = spark
    import ss.implicits._
    // a triangle listed in BOTH orientations: still 3 edges, 3 wedges,
    // 1 triangle — without least/greatest normalization distinct() would
    // keep 6 rows and double every degree
    val both = Seq(
      (1L, 2L), (2L, 1L),
      (2L, 3L), (3L, 2L),
      (1L, 3L), (3L, 1L)).toDF("id_a", "id_b")
    val out = Graphs.triangleStats(both, "id_a", "id_b").collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) == ((3L, 3L, 1L)))
  }

  test("triangleRun.release drops the cached edge list") {
    val ss = spark
    import ss.implicits._
    val edges = Seq((11L, 12L), (12L, 13L), (11L, 13L)).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val run = Graphs.triangleRun(edges, "id_a", "id_b")
    val r = run.result.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 3L, 1L)))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size == 1)
    run.release()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("triangleStats: distributed census (localEdgeMax=0) matches the " +
    "driver-local path exactly") {
    val ss = spark
    import ss.implicits._
    // K4 + pendant chain + separate triangle sharing a node id ordering
    // that exercises the degree-orientation tie-break
    val edges = ((for {
      a <- 1L to 4L; b <- (a + 1) to 4L
    } yield (a, b)) ++ Seq((4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (12L, 10L) // reversed duplicate: one edge
    )).toDF("id_a", "id_b")
    def run(): (Long, Long, Long) = {
      val r = Graphs.triangleStats(edges, "id_a", "id_b").collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val local = run()
    spark.conf.set("spark.graft.cc.localEdgeMax", "0")
    val dist =
      try run()
      finally spark.conf.unset("spark.graft.cc.localEdgeMax")
    assert(dist == local)
    // K4: 6 edges 4 triangles; chain adds 2 edges; triangle adds 3/1.
    // wedges: K4 degs (3,3,3,4? -> 1..3 deg3, 4 deg4 with pendant) =
    // 3*C(3,2)+C(4,2)+C(2,2)... assert vs the distributed value only.
    assert(local._1 == 11L && local._3 == 5L)
  }

  test("kcoreDegrees: pendant chain peels in cascade, triangle survives") {
    val ss = spark
    import ss.implicits._
    // triangle {1,2,3} + chain 3-4-5: round 1 peels 5 (deg 1), round 2
    // peels 4 (its degree DROPS to 1 only after 5 dies) — the cascade
    // a one-shot degree filter would miss
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val out = Graphs.kcoreDegrees(edges, "id_a", "id_b", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("kcoreDegrees: K4 is its own 3-core; path's 2-core is empty") {
    val ss = spark
    import ss.implicits._
    val k4 = (for {
      a <- 1L to 4L; b <- (a + 1) to 4L
    } yield (a, b)).toDF("id_a", "id_b")
    val core3 = Graphs.kcoreDegrees(k4, "id_a", "id_b", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(core3 == (1L to 4L).map((_, 3L)).toSet)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    assert(Graphs.kcoreDegrees(path, "id_a", "id_b", k = 2).count() == 0L)
  }

  test("kcoreDegrees: reversed duplicate edges count once; release cleans") {
    val ss = spark
    import ss.implicits._
    // (21,22)+(22,21) is ONE edge: with double-counting node 21/22
    // would fake degree 2 and the pair would survive k=2
    val edges = Seq((21L, 22L), (22L, 21L), (22L, 23L))
      .toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val run = Graphs.kcoreDegreesRun(edges, "id_a", "id_b", k = 2)
    assert(run.result.count() == 0L)
    run.release()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }
  test("kcoreDegrees: distributed peel (localEdgeMax=0) matches the " +
    "local path exactly") {
    val ss = spark
    import ss.implicits._
    // triangle + pendant chain: cascade peel, survivors {1,2,3}@2
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val local = Graphs.kcoreDegrees(edges, "id_a", "id_b", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.graft.cc.localEdgeMax", "0")
    try {
      val dist = Graphs.kcoreDegrees(edges, "id_a", "id_b", k = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(dist == local)
      assert(local == Set((1L, 2L), (2L, 2L), (3L, 2L)))
    } finally spark.conf.unset("spark.graft.cc.localEdgeMax")
  }

  test("labelPropagation: bridged triangles split where CC would merge") {
    val ss = spark
    import ss.implicits._
    // two triangles {1,2,3} and {10,11,12} joined by one bridge 3-10,
    // plus isolate 99. CC gives ONE component for the bridged graph;
    // LPA's density argmax keeps each triangle its own community.
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (3L, 10L)).toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L).toDF("id")
    val out = Graphs.labelPropagation(ids, "id", pairs, "id_a", "id_b",
        rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // triangle one converges to min label 1
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
    // triangle two keeps its own community, not label 1
    assert(Set(out(10L), out(11L), out(12L)).size == 1)
    assert(out(10L) != out(1L))
    // the isolate keeps itself
    assert(out(99L) == 99L)
    // and min-label CC on the same graph WOULD merge the triangles
    val cc = Dedup.clustersFromPairs(ids, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(12L) == 1L)
  }
  test("labelPropagation: distributed loop (localEdgeMax=0) matches the " +
    "driver-local path exactly, incl. endpoints outside the id set") {
    val ss = spark
    import ss.implicits._
    // bridged triangles + isolate 99, plus edge (3,50) whose endpoint
    // 50 ESCAPES the id set: the distributed neigh join sources labels
    // from the ids-rebased table so 50 never contributes a label — the
    // local path's left-semi edge filter must reproduce exactly that.
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (3L, 10L),
      (3L, 50L)).toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L).toDF("id")
    def run(): Map[Long, Long] =
      Graphs.labelPropagation(ids, "id", pairs, "id_a", "id_b", rounds = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run()
    spark.conf.set("spark.graft.cc.localEdgeMax", "0")
    val dist =
      try run()
      finally spark.conf.unset("spark.graft.cc.localEdgeMax")
    assert(dist == local)
    assert(local.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L, 99L))
    assert(local(99L) == 99L) // isolate keeps itself on both paths
  }

  test("pagerank: distributed loop (localEdgeMax=0) matches the " +
    "driver-local path exactly, incl. endpoints outside the id set") {
    val ss = spark
    import ss.implicits._
    // cycle + chord + pendant, plus edge (60,1) whose endpoint 60
    // escapes the id set (it still donates rank flow on BOTH paths —
    // pagerank does not rebase edges on ids), and isolate 99 (default
    // rank via the left-join coalesce on both paths).
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (5L, 1L), (60L, 1L)).toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 99L).toDF("id")
    def run(): Map[Long, Double] =
      Graphs.pagerank(ids, "id", pairs, "id_a", "id_b", iters = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val local = run()
    spark.conf.set("spark.graft.cc.localEdgeMax", "0")
    val dist =
      try run()
      finally spark.conf.unset("spark.graft.cc.localEdgeMax")
    assert(dist == local) // fixed-point integer recurrence: bit-exact
    assert(local.keySet == Set(1L, 2L, 3L, 4L, 5L, 99L))
    assert(local(99L) == 0.15) // isolate: (1 - d) default on both paths
  }

  test("modularity: two cliques score high; random-ish mixing scores ~0") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // two 4-cliques, no bridge: the 2-community partition is ideal
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val pairs = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L))).toDF("id_a", "id_b")
    val goodLabels = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L).toDF("id", "c")
    val good = Graphs.modularity(goodLabels, "id", "c", pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(_._1)
    // m = 12, each community: intra 6, degree_sum 18 (6 edges x 2 ends
    // x ... each of 4 nodes has degree 3 -> 12): 6/12 - (12/24)^2 = 0.25
    assert(good.toSeq == Seq(
      (1L, 4L, 6L, 12L, 0.25), (10L, 4L, 6L, 12L, 0.25)))
    // the everything-in-one-community partition scores exactly 0
    val oneLabels = goodLabels.select(col("id"), lit(1L).as("c"))
    val one = Graphs.modularity(oneLabels, "id", "c", pairs, "id_a", "id_b")
      .collect()
    assert(one.length == 1 && one.head.getDouble(4) == 0.0)
    // duplicate/reversed pair rows don't double-count edges
    val dup = pairs.unionByName(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val good2 = Graphs.modularity(goodLabels, "id", "c", dup, "id_a", "id_b")
      .collect().map(_.getDouble(4)).sorted
    assert(good2.toSeq == Seq(0.25, 0.25))
  }
}
