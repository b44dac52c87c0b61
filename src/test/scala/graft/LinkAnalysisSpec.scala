package graft

import graft.ops.LinkAnalysis

/** ops.LinkAnalysis: fixed-point integer PageRank (q123). */
class LinkAnalysisSpec extends SparkTestBase {
  import spark.implicits._

  test("hand-computed two-round ranks on a path graph") {
    // 1 - 2 - 3: deg 1,2,1
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    // round 1: r(1) = r(3) = 150000 + 85*(1000000 div 2) div 100 = 575000
    //          r(2) = 150000 + 85*(1000000 + 1000000) div 100 = 1850000
    val r1 = LinkAnalysis.pageRankFixed(pairs, rounds = 1)
      .as[(Long, Long)].collect().toSet
    assert(r1 == Set((1L, 575000L), (2L, 1850000L), (3L, 575000L)))
    // round 2: r(2) = 150000 + 85*(575000 + 575000) div 100 = 1127500
    //          r(1) = r(3) = 150000 + 85*(1850000 div 2) div 100 = 936250
    val r2 = LinkAnalysis.pageRankFixed(pairs, rounds = 2)
      .as[(Long, Long)].collect().toSet
    assert(r2 == Set((1L, 936250L), (2L, 1127500L), (3L, 936250L)))
  }

  test("rank is partition-independent and hub-dominant") {
    // star: hub 0 linked to 1..5 plus an isolated pair 8-9
    val pairs = ((1L to 5L).map(i => (0L, i)) :+ (8L, 9L))
      .toDF("id_a", "id_b")
    val base = LinkAnalysis.pageRankFixed(pairs, rounds = 3)
      .as[(Long, Long)].collect().toMap
    val rep = LinkAnalysis.pageRankFixed(pairs.repartition(7), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(base == rep)
    assert((1L to 5L).forall(i => base(0L) > base(i)))
    assert(base(8L) == base(9L))
  }

  test("triangles: one per mutual triple, sorted ids, stars are triangle-free") {
    // triangle 1-2-3 with a pendant 3-4, plus a hub star 10-(11..15)
    val pairs = (Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      ++ (11L to 15L).map(i => (10L, i))).toDF("id_a", "id_b")
    val t = LinkAnalysis.triangles(pairs)
      .as[(Long, Long, Long)].collect().toSeq
    assert(t == Seq((1L, 2L, 3L)))
  }

  test("triangles: K4 yields its four triangles exactly once each") {
    val nodes = Seq(1L, 2L, 3L, 4L)
    val pairs = (for { a <- nodes; b <- nodes if a < b } yield (a, b))
      .toDF("id_a", "id_b")
    val t = LinkAnalysis.triangles(pairs)
      .as[(Long, Long, Long)].collect().toSet
    assert(t == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
  }

  test("triangles equals the naive id-ordered three-way join on a random graph") {
    // deterministic pseudo-random graph on 40 nodes
    val pairs = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L
      if ((a * 31 + b * 17 + a * b) % 7) == 0
    } yield (a, b)).toDF("id_a", "id_b")
    val fast = LinkAnalysis.triangles(pairs)
      .as[(Long, Long, Long)].collect().toSet
    val e = pairs.as[(Long, Long)].collect().toSet
    val naive = (for {
      (a, b) <- e; c <- (b + 1) until 40L
      if e.contains((b, c)) && e.contains((a, c))
    } yield (a, b, c)).toSet
    assert(fast == naive && naive.nonEmpty)
  }

  test("labelPropagation: barbell splits into its two dense cores") {
    // two triangles {1,2,3} {4,5,6} joined by the bridge 3-4: ONE
    // connected component, but LPA's dense-core vote separates them.
    // Hand-simulated 3 synchronous rounds (ties -> smallest label):
    //   l1 = (1->2, 2->1, 3->1, 4->3, 5->4, 6->4)
    //   l2 = (1->1, 2->1, 3->1, 4->4, 5->3, 6->3)
    //   l3 = (1->1, 2->1, 3->1, 4->3, 5->3, 6->3)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val got = LinkAnalysis.labelPropagation(pairs, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    // intermediate rounds match the hand simulation too
    val g1 = LinkAnalysis.labelPropagation(pairs, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(g1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 4L, 6L -> 4L))
  }

  test("labelPropagation: clique collapses to one label; deterministic") {
    val k3 = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val a = LinkAnalysis.labelPropagation(k3, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(a == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val b = LinkAnalysis.labelPropagation(k3, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
    // every node labeled exactly once, labels drawn from node ids
    val nodes = Set(1L, 2L, 3L)
    assert(a.keySet == nodes && a.values.toSet.subsetOf(nodes))
  }

  test("modularity: hand-computed barbell contributions; trivial partition scores 0") {
    val barbell = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val labels = LinkAnalysis.labelPropagation(barbell, rounds = 3)
    val r = LinkAnalysis.modularity(barbell, labels)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    // m=7. community 1 = {1,2,3}: e_in=3, deg_sum=2+2+3=7 →
    // q_num = 4·7·3 − 49 = 35; community 3 = {4,5,6} mirrors it.
    // global Q = (35+35)/(4·49) = 0.357 — the textbook barbell value.
    assert(r == Map(1L -> ((3L, 3L, 7L, 35L)), 3L -> ((3L, 3L, 7L, 35L))))
    // one-community partition of a clique: Q exactly 0 (4·3·3 − 6²)
    val k3 = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val one = LinkAnalysis.modularity(k3,
      LinkAnalysis.labelPropagation(k3, rounds = 3))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(one.toSeq == Seq((1L, 3L, 3L, 6L, 0L)))
    // singleton partition (each node its own label): every community
    // has e_in=0, q_num = −deg_sum² < 0 — worse than random, loudly
    import org.apache.spark.sql.functions.col
    val singletons = k3.select(col("id_a")).union(k3.select(col("id_b")))
      .distinct().select(col("id_a").as("id"), col("id_a").as("label"))
    val bad = LinkAnalysis.modularity(k3, singletons)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(bad.forall(t => t._3 == 0L && t._5 == -(t._4 * t._4)))
  }

  test("kCore: pendant chain peels one node per round into the triangle core") {
    // triangle {1,2,3} + chain 3-4-5: the 2-core is the triangle, and
    // the chain peels exactly one node per round (5 first, then 4)
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val r2 = LinkAnalysis.kCore(g, k = 2, rounds = 2)
      .as[(Long, Long)].collect().toMap
    // after 2 rounds node 4 is gone but convergence is complete
    assert(r2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // ONE round leaves node 4 with deg 1 < k — the non-convergence tell
    val r1 = LinkAnalysis.kCore(g, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
    // k above the max degree empties the graph
    assert(LinkAnalysis.kCore(g, k = 4, rounds = 1).count() == 0)
    // a clique at k=2 survives untouched with full degrees
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("id_a", "id_b")
    val rc = LinkAnalysis.kCore(k4, k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(rc == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("personalizedPageRank: hand-computed diffusion from one seed") {
    // path 1-2-3 plus a seed-free island 5-6; seed = {1}
    val g = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val seeds = Seq(1L).toDF("id")
    // round 1: r=(150000, 850000, 0); round 2 (div floors):
    //   r(1)=150000+85·425000 div 100=511250, r(2)=85·150000 div
    //   100=127500, r(3)=85·425000 div 100=361250
    val r2 = LinkAnalysis.personalizedPageRank(g, seeds, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 511250L, 2L -> 127500L, 3L -> 361250L,
      5L -> 0L, 6L -> 0L))
    // the island never receives mass at any round count
    val r3 = LinkAnalysis.personalizedPageRank(g, seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(r3(5L) == 0L && r3(6L) == 0L && r3(3L) > 0L)
    // duplicate seed rows don't double the teleport
    val dup = LinkAnalysis.personalizedPageRank(g,
      seeds.union(seeds), rounds = 2).as[(Long, Long)].collect().toMap
    assert(dup == r2)
  }

  test("assortativityFixed: star reads exactly -1, path -1/2, clique 0") {
    def code(pairs: Seq[(Long, Long)]): (Long, Long) = {
      val r = LinkAnalysis.assortativityFixed(
        pairs.toDF("id_a", "id_b")).head()
      (r.getLong(0), r.getLong(1))
    }
    // star K1,3: every mirrored edge pairs degree 3 with degree 1 —
    // x + y is constant, r = -1 exactly
    assert(code(Seq((9L, 1L), (9L, 2L), (9L, 3L))) == ((6L, -16384L)))
    // path 1-2-3-4: hand moments give r = -4/8 = -1/2 exactly
    assert(code(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == ((6L, -8192L)))
    // a clique is regular: zero degree variance -> code 0
    assert(code(Seq((1L, 2L), (1L, 3L), (2L, 3L))) == ((6L, 0L)))
  }
}
