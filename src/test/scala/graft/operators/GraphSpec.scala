package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Graph.pageRankInt]]: hand-replayed integer power iteration,
  * determinism across physical partitioning, dangling/isolated node
  * handling, and [[Graph.degrees]]. */
class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("earliestArrival: time-increasing paths only; static reach is a lie here") {
    // a -(t5)-> b -(t3)-> c : statically a reaches c, temporally NOT
    // (b→c fired before you could be at b); a -(t1)-> d -(t3)-> c works
    val edges = Seq(
      (1L, 2L, 5L), (2L, 3L, 3L), (1L, 4L, 1L), (4L, 3L, 3L),
      (3L, 5L, 2L)) // c→e at t2 < arrival(c)=3: never usable
      .toDF("src", "dst", "t")
    val seeds = Seq(1L).toDF("n")
    val got = Graph.earliestArrival(edges, "src", "dst", "t",
        seeds, "n", seedTs = 0L, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 5L, 4L -> 1L, 3L -> 3L))
    assert(!got.contains(5L))
    // one round reaches only direct neighbors
    val one = Graph.earliestArrival(edges, "src", "dst", "t",
        seeds, "n", 0L, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 0L, 2L -> 5L, 4L -> 1L))
  }

  /** driver-side replay of the exact integer recurrence */
  private def replay(edges: Seq[(Long, Long)], iters: Int, scale: Long,
                     dn: Long = 85L, dd: Long = 100L): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.length
    val deg = e.groupBy(_._1).map { case (s, xs) => s -> xs.length.toLong }
    val teleport = scale * (dd - dn) / dd
    var pr = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).map { case (d, xs) =>
        d -> xs.map { case (s, _) => pr(s) / deg(s) }.sum
      }
      pr = nodes.map(v => v -> (teleport / n + dn * in.getOrElse(v, 0L) / dd)).toMap
    }
    pr
  }

  test("pageRankInt matches the hand-replayed integer recurrence") {
    // A→B, A→C, B→C, C→A plus dangling sink D (B→D): D absorbs but
    // never emits; C collects from two sources and must outrank B
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (2L, 4L))
    for (iters <- Seq(1, 3, 7)) {
      val got = Graph.pageRankInt(edges.toDF("s", "d"), "s", "d",
          iterations = iters, scale = 1000000L)
        .as[(Long, Long)].collect().toMap
      assert(got == replay(edges, iters, 1000000L), s"iters=$iters")
    }
    val three = Graph.pageRankInt(edges.toDF("s", "d"), "s", "d", 3, 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(three(3L) > three(2L), "two-source node must outrank one-source node")
  }

  test("pageRankInt: duplicate edges collapse; partitioning cannot change ranks") {
    val edges = Seq((1L, 2L), (1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L))
    val a = Graph.pageRankInt(edges.toDF("s", "d"), "s", "d", 4, 1000000L)
      .as[(Long, Long)].collect().toMap
    val b = Graph.pageRankInt(edges.toDF("s", "d").repartition(7), "s", "d",
        4, 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(a == b, "physical partitioning leaked into the ranks")
    assert(a == replay(edges, 4, 1000000L))
  }

  test("degrees: sources, sinks, and both-siders all appear with exact counts") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val got = Graph.degrees(edges.toDF("s", "d"), "s", "d")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(1L -> ((2L, 0L)), 2L -> ((1L, 1L)), 3L -> ((0L, 2L))))
  }

  test("pageRankInt guards: iterations, damping, and overflow-safe scale") {
    val e = Seq((1L, 2L)).toDF("s", "d")
    intercept[IllegalArgumentException] { Graph.pageRankInt(e, "s", "d", 0) }
    intercept[IllegalArgumentException] {
      Graph.pageRankInt(e, "s", "d", 1, dampNum = 100L)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRankInt(e, "s", "d", 1, scale = Long.MaxValue)
    }
  }

  test("triangleCounts: K4 counts; direction, duplicates, self-loops ignored") {
    import spark.implicits._
    // K4 on {1,2,3,4} with noisy input: reversed duplicates and a
    // self loop must not change anything
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 3L), (2L, 2L)
    ).toDF("src", "dst")
    val got = Graph.triangleCounts(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4 has 4 triangles; every node sits in exactly 3
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: triangle-free nodes appear with zero") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.triangleCounts(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("pageRankWeightedInt: equal weights reduce to the unweighted ranks") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
    val unweighted = Graph.pageRankInt(pairs.toDF("src", "dst"),
        "src", "dst", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every edge at weight 7: (pr*7) div (7*deg) == pr div deg
    val w7 = Graph.pageRankWeightedInt(
        pairs.map { case (a, b) => (a, b, 7L) }.toDF("src", "dst", "w"),
        "src", "dst", "w", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w7 == unweighted)
  }

  test("pageRankWeightedInt: heavier edges carry more rank; duplicates sum") {
    import spark.implicits._
    // hub 1 links 2 (weight 9) and 3 (weight 1): node 2 must outrank 3
    val e = Seq((1L, 2L, 8L), (1L, 2L, 1L), (1L, 3L, 1L),
      (2L, 1L, 1L), (3L, 1L, 1L)).toDF("src", "dst", "w")
    val got = Graph.pageRankWeightedInt(e, "src", "dst", "w", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(2L) > got(3L),
      s"weight-9 target must outrank weight-1 target: $got")
    // and the duplicate (1,2) rows summed to 9: replay one iteration
    val scale = 1000000000000L
    val pr0 = scale / 3
    val c2 = (pr0 * 9L) / 10L   // node 2's inflow from the hub
    val c3 = (pr0 * 1L) / 10L
    val expected2 = (scale * 15L / 100L) / 3L + (85L * c2) / 100L
    val expected3 = (scale * 15L / 100L) / 3L + (85L * c3) / 100L
    val oneIter = Graph.pageRankWeightedInt(e, "src", "dst", "w", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oneIter(2L) == expected2 && oneIter(3L) == expected3,
      s"hand-replayed first iteration: $oneIter vs ($expected2, $expected3)")
  }

  test("pageRankWeightedInt: guards — empty edges, overflow, non-positive weights dropped") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Graph.pageRankWeightedInt(
        Seq((1L, 2L, 0L)).toDF("src", "dst", "w"), "src", "dst", "w", 1)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRankWeightedInt(
        Seq((1L, 2L, Long.MaxValue / 2)).toDF("src", "dst", "w"),
        "src", "dst", "w", 1)
    }
    // zero/negative-weight edges vanish; the rest still rank
    val got = Graph.pageRankWeightedInt(
      Seq((1L, 2L, 1L), (1L, 3L, 0L), (1L, 4L, -5L)).toDF("src", "dst", "w"),
      "src", "dst", "w", 1)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L))
  }

  test("personalizedPageRankInt: teleport stays on the seeds; hand-replayed chain") {
    import spark.implicits._
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val scale = 1000000000000L
    val one = Graph.personalizedPageRankInt(e, "src", "dst", "w", seeds,
        iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // pr0 = (scale, 0, 0); contrib: 2 <- scale, others 0
    assert(one(1L) == scale * 15L / 100L)
    assert(one(2L) == 85L * scale / 100L)
    assert(one(3L) == 0L)
  }

  test("personalizedPageRankInt: seeds outside the graph are ignored; none inside fails") {
    import spark.implicits._
    val e = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val got = Graph.personalizedPageRankInt(e, "src", "dst", "w",
        Seq(1L, 99L).map(Tuple1(_)).toDF("node"), iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // |S| = 1 (99 is not a node): seed teleport undiluted
    assert(got(1L) == 1000000000000L * 15L / 100L)
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRankInt(e, "src", "dst", "w",
        Seq(Tuple1(99L)).toDF("node"), iterations = 1)
    }
  }

  /** driver-side replay of hitsInt's exact integer recurrence */
  private def hitsReplay(edges: Seq[(Long, Long)], iters: Int,
                         scale: Long): Map[Long, (Long, Long)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    var hub = nodes.map(_ -> scale / nodes.length).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val rawA = e.groupBy(_._2).map { case (d, xs) =>
        d -> xs.map { case (s, _) => hub(s) }.sum }
      val tA = rawA.values.sum
      auth = nodes.map(v => v -> scale * rawA.getOrElse(v, 0L) / tA).toMap
      val rawH = e.groupBy(_._1).map { case (s, xs) =>
        s -> xs.map { case (_, d) => auth(d) }.sum }
      val tH = rawH.values.sum
      hub = nodes.map(v => v -> scale * rawH.getOrElse(v, 0L) / tH).toMap
    }
    nodes.map(v => v -> ((auth(v), hub(v)))).toMap
  }

  test("hitsInt matches the hand-replayed integer recurrence") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (2L, 4L), (4L, 3L))
    for (iters <- Seq(1, 2, 5)) {
      val got = Graph.hitsInt(edges.toDF("s", "d"), "s", "d",
          iterations = iters, scale = 1000000L)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == hitsReplay(edges, iters, 1000000L), s"iters=$iters")
    }
  }

  test("hitsInt: star graph separates hubs from authorities") {
    import spark.implicits._
    // 0 -> {1..5} and 9 -> 1: node 0 is the pure hub (auth 0), the
    // leaves are pure authorities (hub 0), and 1 (two in-links)
    // outranks its siblings as an authority
    val edges = (1L to 5L).map(v => (0L, v)) :+ (9L, 1L)
    val got = Graph.hitsInt(edges.toDF("s", "d"), "s", "d", iterations = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(0L)._1 == 0L && got(0L)._2 > 0L, s"0 must be a pure hub: $got")
    assert(got(1L)._2 == 0L && got(1L)._1 > got(2L)._1,
      s"1 must be the strongest pure authority: $got")
    assert((2L to 5L).map(got(_)._1).toSet.size == 1,
      "symmetric leaves must tie exactly")
  }

  test("hitsInt: partitioning invariance, duplicate edges collapse, guards") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L))
    val a = Graph.hitsInt(edges.toDF("s", "d"), "s", "d", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Graph.hitsInt(edges.toDF("s", "d").repartition(7), "s", "d", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b, "physical partitioning leaked into the scores")
    val e = Seq((1L, 2L)).toDF("s", "d")
    intercept[IllegalArgumentException] { Graph.hitsInt(e, "s", "d", 0) }
    intercept[IllegalArgumentException] {
      Graph.hitsInt(e, "s", "d", 1, scale = 2000000000L)
    }
    intercept[IllegalArgumentException] {
      Graph.hitsInt(e, "s", "d", 1, scale = 3L) // < 2|V|
    }
  }

  test("connectedComponentsStar: labels equal min-label propagation on varied graphs") {
    import spark.implicits._
    // deterministic pseudo-random multigraphs of several densities,
    // plus planted structure: triangle, pair, isolated self-loop node
    for (density <- Seq(1, 2, 3)) {
      val edges = (0L until 120L).map(i =>
        (i % 40, (i * (7 + density) + density) % 40)) ++
        Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L),
          (300L, 300L))
      val star = Graph.connectedComponentsStar(edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      val label = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      // min-label omits nothing the star path keeps: same node set,
      // same min-id labels
      assert(star == label, s"density=$density")
      assert(star(300L) == 300L, "self-loop-only node labels itself")
    }
  }

  test("kCore: periphery peels away, the core survives with inside degrees") {
    // ring(0..19) is the 2-core; a 5-node tail hangs off node 0 and a
    // 9-node star sits apart — tail and star have plenty of degree-2
    // nodes but NO node keeps 2 neighbors inside any surviving set,
    // so peeling eats them end-first (5 rounds: 104,103,102,101,100;
    // star leaves round 1, its then-isolated center round 2)
    val ring = (0L until 20L).map(i => (i, (i + 1) % 20))
    val tail = (0L until 4L).map(j => (100L + j, 101L + j)) :+ ((100L, 0L))
    val star = (0L until 8L).map(j => (200L, 201L + j))
    val edges = (ring ++ tail ++ star).toDF("s", "d")
    val got = Graph.kCore(edges, "s", "d", k = 2, rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L until 20L).map(_ -> 2L).toMap,
      s"2-core must be exactly the ring at degree 2: $got")
    // idempotence at the fixed point: extra rounds change nothing
    val more = Graph.kCore(edges, "s", "d", k = 2, rounds = 9)
      .as[(Long, Long)].collect().toMap
    assert(more == got, "rounds past the fixed point must be no-ops")
    // k=3 on the same graph: the ring is only a 2-core — everything peels
    assert(Graph.kCore(edges, "s", "d", k = 3, rounds = 9).isEmpty)
  }

  test("kCore: cliques resist, direction/multiplicity/self-loops are dropped") {
    // 4-clique (a 3-core) + a doubled/self-loop-noised bridge to a path
    val clique = for (a <- 0L until 4L; b <- (a + 1) until 4L) yield (a, b)
    val noise = Seq((0L, 0L), (1L, 0L), (1L, 0L), (3L, 10L), (10L, 11L))
    val df = (clique ++ noise).toDF("s", "d")
    val got = Graph.kCore(df, "s", "d", k = 3, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L until 4L).map(_ -> 3L).toMap, s"3-core must be the clique: $got")
    val part = Graph.kCore(df.repartition(7), "s", "d", k = 3, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(part == got, "physical partitioning leaked into the core")
    intercept[IllegalArgumentException] { Graph.kCore(df, "s", "d", 0, 4) }
    intercept[IllegalArgumentException] { Graph.kCore(df, "s", "d", 2, 0) }
  }

  test("kTruss: the K4 survives at k=4, attached triangle and pendant peel away") {
    val k4 = for (a <- 0L until 4L; b <- (a + 1) until 4L) yield (a, b)
    val tri = Seq((3L, 10L), (3L, 11L), (10L, 11L))
    val pendant = Seq((11L, 20L))
    val edges = (k4 ++ tri ++ pendant).toDF("s", "d")
    val got = Graph.kTruss(edges, "s", "d", k = 4, rounds = 3)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == k4.map(_ -> 2L).toMap,
      s"4-truss must be exactly the K4 with support 2: $got")
    // idempotence past the fixed point + partition invariance
    val more = Graph.kTruss(edges.repartition(7), "s", "d", 4, 6)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(more == got)
    // k=3 keeps every triangle (support >= 1): the pendant alone dies
    val k3 = Graph.kTruss(edges, "s", "d", 3, 3)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(k3 == (k4 ++ tri).toSet, s"3-truss: $k3")
  }

  test("kTruss: peeling cascades through a triangle strip; guards") {
    // triangles (0,1,2),(1,2,3),(2,3,4) share edges: the shared edges
    // have support 2, the rim support 1 — at k=4 the rim dies round 1,
    // which orphans the shared edges (support drops to 0) round 2
    val strip = Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 3L),
      (2L, 4L), (3L, 4L)).toDF("s", "d")
    assert(Graph.kTruss(strip, "s", "d", k = 4, rounds = 3).isEmpty,
      "the strip has no 4-truss — peeling must cascade to empty")
    val one = Graph.kTruss(strip, "s", "d", k = 4, rounds = 1)
      .as[(Long, Long, Long)].collect()
    assert(one.map(r => (r._1, r._2)).toSet == Set((1L, 2L), (2L, 3L)),
      "after ONE round only the shared edges remain (their support was 2)")
    intercept[IllegalArgumentException] { Graph.kTruss(strip, "s", "d", 1, 3) }
    intercept[IllegalArgumentException] { Graph.kTruss(strip, "s", "d", 4, 0) }
  }

  /** driver-side replay of synchronous most-frequent-min-tie LPA */
  private def lpaReplay(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (n, es) => n -> es.map(_._2) }
    var lab = nbrs.keys.map(n => n -> n).toMap
    (1 to rounds).foreach { _ =>
      lab = nbrs.map { case (n, ns) =>
        val byLabel = ns.map(lab).groupBy(identity).map { case (l, xs) => l -> xs.size }
        val mc = byLabel.values.max
        n -> byLabel.collect { case (l, c) if c == mc => l }.min
      }
    }
    lab
  }

  test("labelPropagation: bridged cliques settle into two communities") {
    val k4a = for (a <- 0L until 4L; b <- (a + 1) until 4L) yield (a, b)
    val k4b = k4a.map { case (a, b) => (a + 10, b + 10) }
    val edges = (k4a ++ k4b :+ ((3L, 10L))).toDF("s", "d")
    val got = Graph.labelPropagation(edges, "s", "d", rounds = 3)
      .as[(Long, Long)].collect().toMap
    val want = ((0L until 4L).map(_ -> 0L) ++ (10L until 14L).map(_ -> 10L)).toMap
    assert(got == want, s"communities: $got")
    // one component, two communities — the structure CC cannot see
    val cc = Graph.connectedComponentsStar(edges, "s", "d")
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet.size == 1 && got.values.toSet.size == 2)
  }

  test("labelPropagation: matches the synchronous replay on random graphs") {
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(40)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
        .filter(e => e._1 != e._2)
      for (rounds <- Seq(1, 2, 4)) {
        val got = Graph.labelPropagation(edges.toDF("s", "d"), "s", "d", rounds)
          .as[(Long, Long)].collect().toMap
        assert(got == lpaReplay(edges, rounds), s"trial=$trial rounds=$rounds")
      }
      val re = Graph.labelPropagation(edges.toDF("s", "d").repartition(7),
          "s", "d", 2).as[(Long, Long)].collect().toMap
      assert(re == lpaReplay(edges, 2), s"partitioning leaked, trial=$trial")
    }
    intercept[IllegalArgumentException] {
      Graph.labelPropagation(Seq((1L, 2L)).toDF("s", "d"), "s", "d", 0)
    }
  }

  test("connectedComponentsStar: a 200-link chain converges in logarithmic rounds") {
    import spark.implicits._
    // diameter 200 — min-label propagation would need 200 rounds; the
    // star alternation must finish inside its default 50 (in practice
    // ~10). The exact-label assertion proves it actually converged to
    // the component minimum, not just stopped.
    val chain = (0L until 200L).map(i => (i, i + 1))
    val got = Graph.connectedComponentsStar(chain.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got.size == 201 && got.values.forall(_ == 0L),
      s"chain must collapse to root 0: ${got.filter(_._2 != 0L).take(5)}")
  }

  test("bfsLevels: multi-source min levels, depth cap, cycle termination") {
    import spark.implicits._
    def run(es: Seq[(Long, Long)], seeds: Seq[Long], d: Int) =
      Graph.bfsLevels(es.toDF("s", "t"), "s", "t",
          seeds.toDF("n"), "n", d)
        .as[(Long, Long)].collect().toMap
    // directed path 1→2→3→4
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(run(path, Seq(1L), 3) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    assert(run(path, Seq(1L), 2) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L),
      "depth cap truncates reachability")
    // multi-source takes the MINIMUM: 3 is 2 hops from 1 but 1 from 4
    assert(run(path :+ ((4L, 3L)), Seq(1L, 4L), 3) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
    // cycle: frontier empties, loop stops early (well before maxDepth)
    assert(run(Seq((1L, 2L), (2L, 1L)), Seq(1L), 50) ==
      Map(1L -> 0L, 2L -> 1L))
    // a seed absent from the edge set still reports level 0
    assert(run(path, Seq(99L), 3) == Map(99L -> 0L))
    // undirected reachability via symmetrized edges
    val sym = path ++ path.map(_.swap)
    assert(run(sym, Seq(4L), 3) == Map(4L -> 0L, 3L -> 1L, 2L -> 2L, 1L -> 3L))
  }

  /** driver-side multi-source BFS: min hop level per reached node */
  private def bfsRef(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxDepth: Int): Map[Long, Long] = {
    val adj = edges.groupMap(_._1)(_._2)
    var level = seeds.map(_ -> 0L).toMap
    var frontier = seeds.distinct
    var d = 0
    while (d < maxDepth && frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).distinct
        .filterNot(level.contains)
      level ++= frontier.map(_ -> d.toLong)
    }
    level
  }

  test("bfsLevels equals a driver-side BFS on random graphs at 1, 4 and 7 partitions") {
    import org.apache.spark.sql.types._
    val key = "spark.sql.shuffle.partitions"
    val rnd = new scala.util.Random(208)
    // ids in [-6, 10): negative ids, self-loops and repeated edges
    // occur; seeds up to 12 are often absent from the graph
    val cases = Seq.fill(20) {
      val es = Seq.fill(rnd.nextInt(30))((rnd.nextInt(16) - 6L, rnd.nextInt(16) - 6L))
      val dup = es.take(rnd.nextInt(4))
      val seeds = Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(19) - 6L)
      (es ++ dup, seeds, Seq(1, 2, 3, 50)(rnd.nextInt(4)))
    } ++ Seq(
      // a 6-cycle: done after 6 rounds whatever maxDepth allows
      ((0L until 6L).map(i => (i, (i + 1) % 6)), Seq(0L), 50),
      // a self-loop and a duplicated edge under a depth cap
      (Seq((3L, 3L), (3L, -4L), (3L, -4L), (-4L, 5L), (5L, 6L)), Seq(3L), 2))
    val old = spark.conf.get(key)
    try for (p <- Seq(1, 4, 7)) {
      spark.conf.set(key, p.toString)
      cases.foreach { case (es, seeds, d) =>
        val df = Graph.bfsLevels(es.toDF("s", "t"), "s", "t", seeds.toDF("n"), "n", d)
        assert(df.schema == StructType(Seq(StructField("node", LongType),
          StructField("level", LongType, nullable = false))))
        // one row per reached node
        assert(df.as[(Long, Long)].collect().sorted.toSeq ==
          bfsRef(es, seeds, d).toSeq.sorted,
          s"partitions=$p depth=$d seeds=$seeds edges=$es")
      }
    } finally spark.conf.set(key, old)
  }

  test("bfsLevels: null seeds and edges with a null endpoint are not nodes") {
    val edges = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)),
      (Some(2L), None), (None, Some(3L)), (Some(2L), Some(4L))).toDF("s", "t")
    val seeds = Seq(Some(1L), None).toDF("n")
    val got = Graph.bfsLevels(edges, "s", "t", seeds, "n", 4).collect()
      .map(r => (Option(r.get(0)), r.getLong(1))).toSeq
    assert(got.sortBy(_._2) == Seq((Some(1L), 0L), (Some(2L), 1L), (Some(4L), 2L)))
  }

  test("ssspBellmanFord: relaxation beats direct edge, round cap binds, negatives ok") {
    import spark.implicits._
    val e = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L), (3L, 4L, -2L))
      .toDF("s", "t", "w")
    val seeds = Seq(1L).toDF("n")
    def run(r: Int) = Graph.ssspBellmanFord(e, "s", "t", "w", seeds, "n", r)
      .as[(Long, Long)].collect().toMap
    // two hops beat the direct w=10 edge; negative edge extends to 4
    assert(run(3) == Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 4L))
    // one round: only direct edges; 4 unreached (absent, not infinite)
    assert(run(1) == Map(1L -> 0L, 2L -> 5L, 3L -> 10L))
  }

  test("scc: cycles, tails, cross-SCC edges, multi-round peeling") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), // 3-cycle -> SCC {1,2,3}
      (4L, 1L),                      // tail INTO the cycle -> singleton
      (5L, 6L), (6L, 5L), (2L, 5L),  // 2-cycle + cross-SCC edge
      (7L, 8L),                      // acyclic pair -> two singletons
      // colored together in round 1 but peeled in round 2: 12<->13 is
      // downstream of root 10's class and cannot reach 10 back
      (10L, 11L), (11L, 10L), (10L, 12L), (12L, 13L), (13L, 12L))
      .toDF("s", "t")
    val got = Graph.stronglyConnectedComponents(edges, "s", "t")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L,
      10L -> 10L, 11L -> 10L, 12L -> 12L, 13L -> 12L))
  }

  test("dbscanGrid: core/border/noise classes, two clusters, min labels") {
    import spark.implicits._
    val pts = Seq(
      // unit square -> 4 mutual neighbors at eps=2, all core, cluster 1
      (1L, 0L, 0L), (2L, 0L, 1L), (3L, 1L, 0L), (4L, 1L, 1L),
      // within eps of core 4 only -> border attached to cluster 1
      (5L, 3L, 1L),
      // far away alone -> noise
      (6L, 10L, 10L),
      // second square -> separate cluster labeled 7
      (7L, 20L, 20L), (8L, 20L, 21L), (9L, 21L, 20L), (10L, 21L, 21L))
      .toDF("id", "x", "y")
    val got = Graph.dbscanGrid(pts, "id", "x", "y", eps = 2L, minPts = 4L)
      .select("id", "n_neighbors", "kind", "cluster")
      .as[(Long, Long, String, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((4L, "core", Some(1L))))
    assert(got(2L) == ((4L, "core", Some(1L))))
    assert(got(3L) == ((4L, "core", Some(1L))))
    assert(got(4L) == ((5L, "core", Some(1L))))
    assert(got(5L) == ((2L, "border", Some(1L))))
    assert(got(6L) == ((1L, "noise", None)))
    assert(got(7L) == ((4L, "core", Some(7L))))
    assert(got(10L) == ((4L, "core", Some(7L))))
  }

  test("commonNeighborScores: wedge candidates, existing edges out, exact jaccard") {
    import spark.implicits._
    // square 1-2-3-4-1 plus chord 1-3: candidates are distance-2
    // non-edges; only (2,4) remains (1-3 exists)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("s", "t")
    val got = Graph.commonNeighborScores(e, "s", "t", minCommon = 1L)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // (2,4): common {1,3}, deg 2 and 2 → jaccard 2/(2+2−2) = 1e6
    assert(got.keySet == Set((2L, 4L)))
    assert(got((2L, 4L)) == ((2L, 4L, 2L, 2L, 2L, 1000000L)))
    // minCommon trims: a path a-b-c gives (a,c) one common neighbor
    val path = Seq((10L, 11L), (11L, 12L)).toDF("s", "t")
    assert(Graph.commonNeighborScores(path, "s", "t", 1L).count() == 1)
    assert(Graph.commonNeighborScores(path, "s", "t", 2L).count() == 0)
  }

  test("clusteringCoefficient: clique 1e6, star 0, path ends null, dedup") {
    import spark.implicits._
    // triangle {1,2,3} (a clique) + pendant 4 off node 1 + isolatedish
    // star center 5 with leaves 6,7 (no leaf-leaf edge)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L),
        (5L, 6L), (5L, 7L), (6L, 5L)) // duplicate direction dedups
      .toDF("s", "t")
    val got = Graph.clusteringCoefficient(e, "s", "t")
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(2L) == ((2L, 2L, 1L, Some(1000000L)))) // pure triangle
    assert(got(3L) == ((3L, 2L, 1L, Some(1000000L))))
    // node 1: degree 3, one triangle → 2·1e6/(3·2) = 333333
    assert(got(1L) == ((1L, 3L, 1L, Some(333333L))))
    assert(got(4L) == ((4L, 1L, 0L, None)))       // degree 1: undefined
    assert(got(5L) == ((5L, 2L, 0L, Some(0L))))   // open star center
  }

  test("longestPathDag: critical path, max weights, diamond, cycle fails loudly") {
    import spark.implicits._
    // diamond: 0→1(w3), 0→2(w1), 1→3(w1), 2→3(w10): dist(3) = 11
    val e = Seq((0L, 1L, 3L), (0L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 10L))
      .toDF("s", "t", "w")
    val got = Graph.longestPathDag(e, "s", "t", "w")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 3L, 2L -> 1L, 3L -> 11L))
    // parallel edges keep the MAX weight (the pessimistic CPM read)
    val par = Seq((0L, 1L, 2L), (0L, 1L, 7L)).toDF("s", "t", "w")
    assert(Graph.longestPathDag(par, "s", "t", "w")
      .as[(Long, Long)].collect().toMap == Map(0L -> 0L, 1L -> 7L))
    // a cycle must fail loudly, never return a partial schedule
    val cyc = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 1L, 1L))
      .toDF("s", "t", "w")
    val err = intercept[IllegalArgumentException] {
      Graph.longestPathDag(cyc, "s", "t", "w", maxRounds = 6)
    }
    assert(err.getMessage.contains("cycle"), err.getMessage)
  }

  test("hierarchyFlatten: roots, depths, paths; doubling matches a deep chain") {
    import spark.implicits._
    // forest: 0 ← {1, 2}, 1 ← {3}, plus a second tree 10 ← {11}
    val e = Seq((1L, 0L), (2L, 0L), (3L, 1L), (11L, 10L)).toDF("c", "p")
    val got = Graph.hierarchyFlatten(e, "c", "p")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(0L) == ((0L, 0L, 0L, "/0")))
    assert(got(1L) == ((1L, 0L, 1L, "/0/1")))
    assert(got(3L) == ((3L, 0L, 2L, "/0/1/3")))
    assert(got(11L) == ((11L, 10L, 1L, "/10/11")))
    assert(got.size == 6)
    // a depth-20 chain resolves (pointer doubling: ~5 rounds)
    val chain = (1L to 20L).map(i => (i, i - 1)).toDF("c", "p")
    val deep = Graph.hierarchyFlatten(chain, "c", "p")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(deep(20L)._2 == 0L && deep(20L)._3 == 20L)
    assert(deep(20L)._4 == (0L to 20L).mkString("/", "/", ""))
    // a cycle fails loudly instead of spinning
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("c", "p")
    val err = intercept[IllegalArgumentException] {
      Graph.hierarchyFlatten(cyc, "c", "p", maxDepth = 8)
    }
    assert(err.getMessage.contains("cyclic"), err.getMessage)
    // multi-parent rejected
    val multi = Seq((1L, 2L), (1L, 3L)).toDF("c", "p")
    val err2 = intercept[IllegalArgumentException] {
      Graph.hierarchyFlatten(multi, "c", "p")
    }
    assert(err2.getMessage.contains("multiple parents"), err2.getMessage)
  }

  test("subtreeRollup: per-node counts and sums off the materialized paths") {
    import spark.implicits._
    val e = Seq((1L, 0L), (2L, 0L), (3L, 1L)).toDF("c", "p")
    val flat = Graph.hierarchyFlatten(e, "c", "p")
    val m = Seq((0L, 10L), (1L, 1L), (2L, 2L), (3L, 100L)).toDF("n", "v")
    val got = Graph.subtreeRollup(flat, m, "n", "v")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("0") == ((4L, 113L)))
    assert(got("1") == ((2L, 101L)))
    assert(got("2") == ((1L, 2L)))
    assert(got("3") == ((1L, 100L)))
    // measureless nodes roll up as zero, not null
    val sparse = Seq((3L, 100L)).toDF("n", "v")
    val g2 = Graph.subtreeRollup(flat, sparse, "n", "v")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(g2("0") == ((4L, 100L)) && g2("2") == ((1L, 0L)))
  }

  test("assortativity: star -> -1, K4-minus-edge hand case, regular -> null") {
    import spark.implicits._
    def r(edges: Seq[(Long, Long)]) =
      Graph.assortativity(edges.toDF("s", "t"), "s", "t").collect().head
    // star K1,3: hubs wire only to leaves — perfectly disassortative
    val star = r(Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    assert(star.getAs[Long]("m2") == 6L)
    assert(math.abs(star.getAs[Double]("r") + 1.0) < 1e-12)
    // K4 minus edge 2-3: degrees (3,3,2,2); by hand
    // m2=10 sj=26 sj2=70 sjk=66 -> r = (660-676)/(700-676) = -2/3
    val k4 = r(Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L)))
    assert((k4.getAs[Long]("m2"),
      k4.getAs[java.math.BigDecimal]("sjk").longValue,
      k4.getAs[java.math.BigDecimal]("sj").longValue,
      k4.getAs[java.math.BigDecimal]("sj2").longValue) ==
      ((10L, 66L, 26L, 70L)))
    assert(math.abs(k4.getAs[Double]("r") + 2.0 / 3) < 1e-12)
    // exact micro lanes: star rn = -rd -> -1000000;
    // K4-e |rn|/rd = 16/24 -> floor(1e6*16/24) = 666666, negative
    assert(star.getAs[Long]("r_micro") == -1000000L)
    assert(k4.getAs[Long]("r_micro") == -666666L)
    // triangle: every degree equal -> zero variance -> undefined
    assert(r(Seq((0L, 1L), (1L, 2L), (2L, 0L))).isNullAt(
      r(Seq((0L, 1L), (1L, 2L), (2L, 0L))).fieldIndex("r")))
    assert(r(Seq((0L, 1L), (1L, 2L), (2L, 0L))).isNullAt(
      r(Seq((0L, 1L), (1L, 2L), (2L, 0L))).fieldIndex("r_micro")))
    // duplicate + self edges ignored
    val dup = r(Seq((0L, 1L), (1L, 0L), (0L, 1L), (2L, 2L),
      (0L, 2L), (0L, 3L)))
    assert(dup.getAs[Long]("m2") == 6L)
  }

  test("labelPropagation: path spread, clamped seeds, smallest-label tie") {
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "t")
    val seeds = Seq((1L, "x"), (5L, "y")).toDF("id", "lab")
    def run(rounds: Int) =
      Graph.labelPropagation(path, "s", "t", seeds, "id", "lab", rounds)
        .collect().map(r => r.getAs[Long]("id") ->
          ((Option(r.getAs[String]("label")), r.getAs[Boolean]("is_seed"))))
        .toMap
    // one round: only direct neighbors of seeds labeled
    val r1 = run(1)
    assert(r1(1L) == ((Some("x"), true)) && r1(5L) == ((Some("y"), true)))
    assert(r1(2L) == ((Some("x"), false)) && r1(4L) == ((Some("y"), false)))
    assert(r1(3L)._1.isEmpty)
    // two rounds: node 3 sees x (from 2) and y (from 4) -> tie ->
    // the SMALLEST label wins
    val r2 = run(2)
    assert(r2(3L) == ((Some("x"), false)))
    // seeds never flip, whatever their neighborhood says
    val hostile = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("s", "t")
    val s2 = Seq((1L, "x"), (2L, "y"), (3L, "y"), (4L, "y"))
      .toDF("id", "lab")
    val h = Graph.labelPropagation(hostile, "s", "t", s2, "id", "lab", 3)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[String]("label")).toMap
    assert(h(1L) == "x")
    // duplicate seeds for one id: the smallest label is the clamp
    val dupSeed = Seq((1L, "z"), (1L, "a")).toDF("id", "lab")
    val d = Graph.labelPropagation(path, "s", "t", dupSeed, "id", "lab", 1)
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[String]("label"))).toMap
    assert(d(1L) == Some("a") && d(2L) == Some("a"))
  }

  test("resourceAllocationScores: square and hub-discounted star") {
    // square 1-2-3-4: non-edges (1,3),(2,4) share two deg-2 centers
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("s", "d")
    val got = Graph.resourceAllocationScores(sq, "s", "d", minCommon = 2L)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("c")) ->
        ((r.getAs[Long]("common"), r.getAs[Long]("ra_micro")))).toMap
    assert(got == Map((1L, 3L) -> ((2L, 1000000L)),
      (2L, 4L) -> ((2L, 1000000L))))
    // star 0-{1,2,3} + edge 1-2: hub center deg 3 discounts to 333333;
    // the existing edge (1,2) never appears
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L)).toDF("s", "d")
    val g2 = Graph.resourceAllocationScores(star, "s", "d", minCommon = 1L)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("c")) ->
        r.getAs[Long]("ra_micro")).toMap
    assert(g2 == Map((1L, 3L) -> 333333L, (2L, 3L) -> 333333L))
  }

  test("richClub: K4 plus pendant — exact curve, max threshold n_k=0") {
    // K4 on 1..4 (deg 3) + pendant 5 on node 1 (deg(1)=4, deg(5)=1)
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L)).toDF("s", "d")
    val got = Graph.richClub(e, "s", "d").collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[Long]("n_k"), r.getAs[Long]("e_k"),
          if (r.isNullAt(r.fieldIndex("phi_micro"))) -1L
          else r.getAs[Long]("phi_micro")))).toMap
    // k=1: the 4 core nodes form a complete subgraph -> phi = 1
    assert(got(1L) == ((4L, 6L, 1000000L)))
    // k=3: only the hub remains -> density undefined
    assert(got(3L) == ((1L, 0L, -1L)))
    // k = max degree has nothing above it: the row STAYS on the
    // degree-spectrum grain with n_k = 0 (r14 advice — a consumer
    // plotting the curve sees every distinct degree)
    assert(got(4L) == ((0L, 0L, -1L)) && got.size == 3)
  }

  test("partitionQuality: two triangles + bridge, singletons, exact Q") {
    // textbook: Q = 2*(3/7 - 1/4) = 0.357142...
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("s", "d")
    val lab = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"),
      (5L, "B"), (6L, "B")).toDF("id", "c")
    val got = Graph.partitionQuality(e, "s", "d", lab, "id", "c")
      .collect().map(r => r.getAs[String]("community") ->
        ((r.getAs[Long]("internal"), r.getAs[Long]("volume"),
          r.getAs[Long]("cut"), r.getAs[Long]("conductance_micro"),
          r.getAs[Long]("q_micro")))).toMap
    assert(got("A") == ((3L, 7L, 1L, 142857L, 357142L)))
    assert(got("B") == ((3L, 7L, 1L, 142857L, 357142L)))
    // unlabeled endpoints become singletons; all-singletons on one
    // edge scores the textbook Q = -1/2
    val solo = Graph.partitionQuality(
      Seq((7L, 8L)).toDF("s", "d"), "s", "d",
      Seq.empty[(Long, String)].toDF("id", "c"), "id", "c")
      .collect()
    assert(solo.length == 2 &&
      solo.forall(_.getAs[Long]("q_micro") == -500000L) &&
      solo.forall(_.getAs[Long]("conductance_micro") == 1000000L))
  }

  test("twoHopCensus: path graph reach, self excluded") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val got = Graph.twoHopCensus(path, "s", "d").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("deg"), r.getAs[Long]("n_within_2")))).toMap
    assert(got == Map(1L -> ((1L, 2L)), 2L -> ((2L, 3L)),
      3L -> ((2L, 4L)), 4L -> ((2L, 3L)), 5L -> ((1L, 2L))))
  }

  test("upsertComponents: identity vs from-scratch — chain merges, " +
    "new-node bridge, purely-new pairs, no-op delta (r16)") {
    import spark.implicits._
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Long]("cluster")).toMap
    // base: components {1,2,3} (label 1), {10,11} (10), {20} (20),
    // {30,31} (30)
    val baseEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (30L, 31L),
      (20L, 20L)).toDF("a", "b")
    val base = Graph.connectedComponentsStar(baseEdges, "a", "b")
    // delta: 11-20 and 20-31 CHAIN three old components; a NEW node
    // 99 bridges old {1..} to old {10..} transitively via 100<->99,
    // 99<->3, 100<->10; purely-new pair 200<->201
    val delta = Seq((11L, 20L), (20L, 31L), (100L, 99L), (99L, 3L),
      (100L, 10L), (200L, 201L)).toDF("a", "b")
    val got = labelsOf(Graph.upsertComponents(base, "id", "cluster",
      delta, "a", "b"))
    val want = labelsOf(Graph.connectedComponentsStar(
      baseEdges.unionByName(delta), "a", "b"))
    assert(got == want, s"$got != $want")
    // the chain collapsed {10,11,20,30,31} and the bridge pulled
    // {1,2,3,99,100} and {10..} together: everything except the
    // purely-new pair has min-id label 1
    assert(got(31L) == 1L && got(99L) == 1L && got(100L) == 1L)
    assert(got(200L) == 200L && got(201L) == 200L)
    // a delta INSIDE one existing component changes nothing
    val noop = labelsOf(Graph.upsertComponents(base, "id", "cluster",
      Seq((1L, 3L)).toDF("a", "b"), "a", "b"))
    assert(noop == labelsOf(base))
    // the distributed fallback path (cap = 0 forces it) produces the
    // SAME labels as the driver union-find default
    val viaStar = labelsOf(Graph.upsertComponents(base, "id", "cluster",
      delta, "a", "b", driverMaxEdges = 0L))
    assert(viaStar == got)
  }

  test("deleteEdges: split case == from-scratch CC over A∖D with " +
    "singleton keep; reversed + nonexistent deletes; untouched " +
    "labels pass through; induced slice is touched-sized (r17)") {
    import spark.implicits._
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Long]("cluster")).toMap
    // chains 1-2-3-4-5 and 10-11-12, plus an untouched pair 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (20L, 21L)).toDF("a", "b")
    val labels = Graph.connectedComponentsStar(edges, "a", "b")
    // delete (3,4) -> split {1,2,3}/{4,5}; (11,10) REVERSED -> node
    // 10 loses its last edge (singleton); (50,51) does not exist
    val deleted = Seq((3L, 4L), (11L, 10L), (50L, 51L)).toDF("a", "b")
    val got = labelsOf(Graph.deleteEdges(labels, "id", "cluster",
      edges, "a", "b", deleted, "a", "b"))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      10L -> 10L, 11L -> 11L, 12L -> 11L, 20L -> 20L, 21L -> 20L),
      s"$got")
    // the fixpoint input: ONLY surviving edges of the two touched
    // components, canonical (greatest, least) — 20-21 never enters
    val induced = Graph.deleteEdgesInduced(labels, "id", "cluster",
        edges, "a", "b", deleted, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(induced == Set((2L, 1L), (3L, 2L), (5L, 4L), (12L, 11L)),
      s"$induced")
    // zero deletions: labels unchanged, induced EMPTY (no fixpoint
    // work at all)
    val noDel = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(labelsOf(Graph.deleteEdges(labels, "id", "cluster",
      edges, "a", "b", noDel, "a", "b")) == labelsOf(labels))
    assert(Graph.deleteEdgesInduced(labels, "id", "cluster",
      edges, "a", "b", noDel, "a", "b").isEmpty)
    // deleting EVERY edge of a component: all nodes become singletons
    val all = labelsOf(Graph.deleteEdges(labels, "id", "cluster",
      edges, "a", "b",
      Seq((10L, 11L), (11L, 12L)).toDF("a", "b"), "a", "b"))
    assert(all(10L) == 10L && all(11L) == 11L && all(12L) == 12L &&
      all(1L) == 1L && all(5L) == 1L)
  }

  test("r17 bounded-collect fast paths: SCC and ccStar label-identical to the forced distributed paths, cap crossing included") {
    import spark.implicits._
    // SCC: cycles, nested peels, tails, a long cycle, isolated via
    // self-loop only — a shape with multi-round peel depth
    val scc = (Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 6L),
      (6L, 5L), (2L, 5L), (10L, 11L), (11L, 10L), (10L, 12L),
      (12L, 13L), (13L, 12L), (40L, 40L)) ++
      (20L until 30L).map(i => (i, if (i == 29L) 20L else i + 1)))
      .toDF("s", "t")
    def labs(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sccFast = labs(Graph.stronglyConnectedComponents(scc, "s", "t"))
    val sccDist = labs(Graph.stronglyConnectedComponents(scc, "s", "t",
      driverCap = 0))
    assert(sccFast == sccDist, s"fast=$sccFast dist=$sccDist")
    assert(sccFast(29L) == 20L && sccFast(40L) == 40L)
    // ccStar: chain + merged pair + isolated self-pair
    val cc = ((0L until 50L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (200L, 200L))).toDF("a", "b")
    val ccFast = labs(Graph.connectedComponentsStar(cc, "a", "b"))
    val ccDist = labs(Graph.connectedComponentsStar(cc, "a", "b",
      driverCap = 0))
    assert(ccFast == ccDist, s"fast=$ccFast dist=$ccDist")
    assert(ccFast(50L) == 0L && ccFast(102L) == 100L && ccFast(200L) == 200L)
    // cap crossing: a cap of exactly |E| takes the driver path, one
    // below forces distributed — both identical (the loud boundary
    // behaves, no off-by-one double-path divergence)
    val atCap = labs(Graph.stronglyConnectedComponents(
      scc.filter(col("s") < 20), "s", "t", driverCap = 13))
    val below = labs(Graph.stronglyConnectedComponents(
      scc.filter(col("s") < 20), "s", "t", driverCap = 11))
    assert(atCap == below, s"cap boundary diverged: $atCap vs $below")
  }

  test("pageRankInt: an empty edge set gives an empty (node, pr) frame") {
    val pr = Graph.pageRankInt(Seq.empty[(Long, Long)].toDF("s", "t"), "s", "t",
      iterations = 4)
    assert(pr.columns.toSeq == Seq("node", "pr"))
    assert(pr.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType))
    assert(pr.collect().isEmpty)
  }

  test("personalizedPageRankInt over distinct unit-weight edges with every node a seed equals pageRankInt") {
    val rnd = new scala.util.Random(7)
    for (g <- 0 until 8) {
      // duplicates and self-loops included: pageRankInt reads the
      // distinct (src, dst) pairs, so the unit-weight side does too
      val nodes = 3 + rnd.nextInt(25)
      val raw = Seq.fill(1 + rnd.nextInt(3 * nodes))(
        (rnd.nextInt(nodes).toLong - 5, rnd.nextInt(nodes).toLong - 5))
      val edges = raw.toDF("s", "t")
      val unit = raw.distinct.map { case (a, b) => (a, b, 1L) }.toDF("s", "t", "w")
      val seeds = raw.flatMap { case (a, b) => Seq(a, b) }.distinct.toDF("n")
      val iterations = 1 + rnd.nextInt(7)
      val scale = if (g % 2 == 0) 1000000000000L else 1000L + rnd.nextInt(100000)
      def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
      val base = rows(Graph.pageRankInt(edges, "s", "t", iterations, scale))
      val ppr = rows(Graph.personalizedPageRankInt(unit, "s", "t", "w", seeds,
        iterations, scale))
      assert(base.nonEmpty && base == ppr,
        s"graph $g ($iterations iterations, scale $scale): $base vs $ppr")
    }
  }

  /** The iterative kernels, each on a fixture that rolls its state
    * past at least one periodic checkpoint, by name. */
  private def iterativeKernels: Seq[(String, () => DataFrame)] = {
    val chain = (0L until 6L).map(i => (i, i + 1, i + 1)).toDF("s", "t", "w")
    val seeds = Seq(0L).toDF("n")
    val cycles = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 4L), (5L, 6L)).toDF("s", "t")
    val pts = Seq.tabulate(12)(i =>
      (i.toLong, Seq((i % 3) * 2.0f + i * 0.01f, (i % 2).toFloat)))
      .toDF("vec_id", "embedding")
    val text = Seq("hug hug pug bug hugs pugs bugs hugging").toDF("text")
    val games = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 1L)).toDF("w", "l")
    val track = Seq.tabulate(40)(i =>
      (1L, i.toLong, i.toLong, (i * i * 7 % 23).toLong)).toDF("k", "o", "x", "y")
    Seq(
      "earliestArrival" -> (() => Graph.earliestArrival(chain, "s", "t", "w",
        seeds, "n", seedTs = 0L, rounds = 6)),
      "ssspBellmanFord" -> (() => Graph.ssspBellmanFord(chain, "s", "t", "w",
        seeds, "n", rounds = 6)),
      "longestPathDag" -> (() => Graph.longestPathDag(chain, "s", "t", "w")),
      "stronglyConnectedComponents" -> (() => Graph.stronglyConnectedComponents(
        cycles, "s", "t", driverCap = 0)),
      "kmeansInt" -> (() => Similarity.kmeansInt(pts, "vec_id", "embedding",
        pts.filter(col("vec_id") < 3), "vec_id", "embedding", rounds = 3)),
      "topEigenInt" -> (() => Similarity.topEigenInt(pts, "vec_id",
        "embedding", rounds = 3)),
      "bpeTrain" -> (() => TextOps.bpeTrain(text, "text", numMerges = 8,
        minPairCount = 1L, batchMerges = 1)),
      "wordPieceTrain" -> (() => TextOps.wordPieceTrain(text, "text",
        numMerges = 6)),
      "bradleyTerry" -> (() => Learn.bradleyTerry(games, "w", "l", rounds = 3)),
      "Dedup.connectedComponents" -> (() =>
        Dedup.connectedComponents(chain, "s", "t")),
      "douglasPeucker" -> (() => Layout.douglasPeucker(track, "k", Seq("o"),
        "x", "y", eps = 0L)))
  }

  test("checkpoint hygiene: the iterative kernels leave only their result's own blocks pinned") {
    import org.apache.spark.rdd.RDD
    val sc = spark.sparkContext
    // every RDD the frame's plan reads, down its whole lineage
    def lineage(df: DataFrame): Set[Int] = {
      def walk(r: RDD[_]): Set[Int] =
        r.dependencies.map(d => walk(d.rdd)).foldLeft(Set(r.id))(_ ++ _)
      df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => walk(l.rdd)
      }.flatten.toSet
    }
    // measured right after the call: a driver GC can only hide a leak
    iterativeKernels.foreach { case (name, call) =>
      val before = sc.getPersistentRDDs.keySet
      val out = call()
      val pinned = sc.getPersistentRDDs.keySet -- before
      assert(pinned.size <= 1 && pinned.subsetOf(lineage(out)),
        s"$name left ${pinned.size} pinned RDDs beyond its result's own: $pinned")
      assert(out.collect().nonEmpty, s"$name result no longer reads")
    }
  }

  test("reliable checkpoints: with a checkpoint dir the iterative kernels write checkpoint files and return the same rows") {
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def partFiles(dir: java.io.File): Long = {
      val walk = java.nio.file.Files.walk(dir.toPath)
      try walk.filter(_.getFileName.toString.startsWith("part-")).count()
      finally walk.close()
    }
    // a permutation of 0..49 over three input partitions, so the row
    // numbers cross range-partition boundaries
    val rowNumbers = "globalRowNumber" -> (() => Relational.globalRowNumber(
      spark.range(0, 50, 1, 3).select((col("id") * 7 % 50).as("k")),
      Seq(col("k"))))
    (iterativeKernels :+ rowNumbers).foreach { case (name, call) =>
      val local = rows(call())
      val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toFile
      val reliable = org.apache.spark.CheckpointDirAccess.withCheckpointDir(
        spark.sparkContext, dir.getPath)(rows(call()))
      assert(spark.sparkContext.getCheckpointDir.isEmpty,
        "the checkpoint dir outlived the block")
      assert(reliable == local, s"$name: reliable checkpoints changed the rows")
      assert(partFiles(dir) > 0, s"$name wrote no checkpoint files under $dir")
    }
  }
}
