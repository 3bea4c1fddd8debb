package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** operators.Graph: degrees / PageRank / triangles / common neighbors on
  * hand graphs with known answers, plus invariants on the co-purchase
  * fixture graph. */
class GraphAnalyticsSpec extends SparkTestBase {
  import spark.implicits._

  /** The Pin gate's row bound at 0: every operator stays distributed. */
  private val distributed = "spark.graft.maxLocalEdges" -> "0"

  // a house graph: square 1-2-3-4 plus roof edge set {1-2 diagonal}:
  //   edges: 1-2, 2-3, 3-4, 4-1, 1-3  → two triangles (1,2,3), (1,3,4)
  private lazy val house = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)
  ).toDF("src", "dst")

  test("canonicalEdges: dedups reversed duplicates and drops self-loops") {
    val raw = Seq((2L, 1L), (1L, 2L), (3L, 3L), (2L, 3L)).toDF("src", "dst")
    val e = Graph.canonicalEdges(raw).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((1L, 2L), (2L, 3L)))
  }

  test("degrees and histogram on the house graph") {
    val d = Graph.degrees(house).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 3L, 2L -> 2L, 3L -> 3L, 4L -> 2L))
    val h = Graph.degreeHistogram(house).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h == Map(3L -> 2L, 2L -> 2L))
  }

  test("triangleCount: house graph has exactly 2; K4 has 4") {
    assert(Graph.triangleCount(house).head().getLong(0) == 2L)
    val k4 = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)).toDF("src", "dst")
    assert(Graph.triangleCount(k4).head().getLong(0) == 4L)
    // orientation-independence: shuffled/reversed input counts the same
    val reversed = house.select(col("dst").as("src"), col("src").as("dst"))
    assert(Graph.triangleCount(reversed).head().getLong(0) == 2L)
  }

  test("pageRank: ranks sum to ~1 and favor the high-degree nodes") {
    val pr = Graph.pageRank(house, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    // nodes 1 and 3 (degree 3) outrank nodes 2 and 4 (degree 2)
    assert(pr(1L) > pr(2L) && pr(3L) > pr(4L))
    // symmetry: 1 and 3 are automorphic, as are 2 and 4
    assert(math.abs(pr(1L) - pr(3L)) < 1e-12)
    assert(math.abs(pr(2L) - pr(4L)) < 1e-12)
  }

  test("pageRankPersonalized: mass conserved, seed-localized, off-graph seeds ignored") {
    // path graph 1-2-3-4-5 with seed {1}: rank decays with distance
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val ppr = Graph.pageRankPersonalized(path, Seq(1L, 99L).toDF("node"), iters = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // symmetrized graph has no dangling, so mass is conserved exactly
    assert(math.abs(ppr.values.sum - 1.0) < 1e-9)
    // a path is bipartite, so rank oscillates between the parity classes
    // per iteration — compare within a parity class, where distance decay
    // holds, plus the seed dominating everything
    assert(ppr(1L) == ppr.values.max)
    assert(ppr(2L) > ppr(4L)) // odd-distance class
    assert(ppr(3L) > ppr(5L)) // even-distance class
    // node 5 is 4 hops out but reachable -> positive after enough iters
    assert(ppr(5L) > 0.0)
    // automorphic seeds split the mass symmetrically
    val sym = Graph.pageRankPersonalized(house, Seq(2L, 4L).toDF("node"), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(sym(2L) - sym(4L)) < 1e-12)
    assert(math.abs(sym(1L) - sym(3L)) < 1e-12)
    // no seeds present in the graph -> empty result, not a crash
    assert(Graph.pageRankPersonalized(house, Seq(99L).toDF("node")).count() == 0)
  }

  test("localClusteringCoefficient: clique nodes score 1, bridge nodes between") {
    // house: node 2 has N={1,3} which are adjacent -> lcc 1.0;
    // node 1 has N={2,3,4}, edges among them: (2,3),(3,4) -> 2/3
    val lcc = Graph.localClusteringCoefficient(house).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(lcc(2L) == ((1L, 1.0)))
    assert(lcc(4L) == ((1L, 1.0)))
    assert(lcc(1L)._1 == 2L && math.abs(lcc(1L)._2 - 0.666667) < 1e-9)
    assert(lcc(3L)._1 == 2L && math.abs(lcc(3L)._2 - 0.666667) < 1e-9)
    // a degree-1 node participates in no wedge -> lcc 0, triangles 0
    val star = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val s = Graph.localClusteringCoefficient(star).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(s(2L) == ((0L, 0.0)) && s(3L) == ((0L, 0.0)) && s(1L) == ((0L, 0.0)))
    // the wedge guard trips on a hub past the bound
    val hub = (2L to 12L).map(i => (1L, i)).toDF("src", "dst")
    val ex = intercept[Exception](
      Graph.localClusteringCoefficient(hub, maxDegree = 5).count())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("localClusteringCoefficient")))
  }

  test("commonNeighborsTopK: predicts the missing diagonal") {
    // in the house graph the only non-adjacent pair is (2,4), sharing
    // neighbors 1 and 3
    val top = Graph.commonNeighborsTopK(house, k = 5).collect()
    assert(top.length == 1)
    assert((top(0).getLong(0), top(0).getLong(1), top(0).getLong(2)) == (2L, 4L, 2L))
  }

  test("nodeSimilarityTopK: neighbor-set Jaccard, identical hoods score 1.0") {
    // house: N(2) = N(4) = {1,3} → sim(2,4) = 1.0 though not adjacent;
    // N(1)∩N(3) = {2,4} of union 4 → 0.5; all other pairs 0.25
    val top = Graph.nodeSimilarityTopK(house, k = 10).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(top.head == ((2L, 4L), 1.0))
    assert(top(1) == ((1L, 3L), 0.5))
    assert(top.drop(2).forall(_._2 == 0.25) && top.length == 6)
  }

  test("connectedComponents: min-id labels per component") {
    val e = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val cc = Graph.connectedComponents(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("commonNeighborsTopK: a hub past maxDegree triggers the wedge guard") {
    // star: center 0 with 8 leaves — degree 8 > maxDegree 5. The wedge
    // self-join would fan out deg² pairs; the contract guard must kill
    // the query with an actionable message instead.
    val star = (1L to 8L).map(i => (0L, i)).toDF("src", "dst")
    val err = intercept[Exception] {
      Graph.commonNeighborsTopK(star, k = 3, maxDegree = 5).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(m =>
      m.contains("commonNeighborsTopK") && m.contains("maxDegree")))
    // the same graph passes when the bound admits the hub
    assert(Graph.commonNeighborsTopK(star, k = 100, maxDegree = 8).count() == 28)
  }

  test("pageRankDirected: dangling mass is redistributed, total rank = 1") {
    // chain 1→2→3: node 3 is dangling. After one iteration:
    //   dm = 1/3;  r(1) = 0.05 + 0.85·(0 + 1/9)
    //   r(2) = r(3) = 0.05 + 0.85·(1/3 + 1/9)
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val pr = Graph.pageRankDirected(chain, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr(1L) - (0.05 + 0.85 / 9.0)) < 1e-12)
    assert(math.abs(pr(2L) - (0.05 + 0.85 * (1.0 / 3.0 + 1.0 / 9.0))) < 1e-12)
    assert(math.abs(pr(2L) - pr(3L)) < 1e-15)
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    // mass stays conserved across more iterations (the dangling term is
    // what prevents the leak)
    val pr3 = Graph.pageRankDirected(chain, iters = 3)
    assert(math.abs(pr3.agg(sum(col("rank"))).head().getDouble(0) - 1.0) < 1e-9)
    // a source node keeps the teleport floor, a sink accumulates more
    assert(pr(3L) > pr(1L))
  }

  test("pageRankDirected weighted: surfer follows edge weights proportionally") {
    // 1→2 (w=3), 1→3 (w=1): strength(1)=4; 2 and 3 dangle (dm = 2/3).
    //   r1(2) = 0.05 + 0.85·(1/3·3/4 + 2/9); r1(3) = 0.05 + 0.85·(1/3·1/4 + 2/9)
    val e = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val pr = Graph.pageRankDirected(e, iters = 1, weightCol = Some("w")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dm9 = (2.0 / 3.0) / 3.0
    assert(math.abs(pr(2L) - (0.05 + 0.85 * (1.0 / 3.0 * 3.0 / 4.0 + dm9))) < 1e-12)
    assert(math.abs(pr(3L) - (0.05 + 0.85 * (1.0 / 3.0 * 1.0 / 4.0 + dm9))) < 1e-12)
    assert(pr(2L) > pr(3L)) // the heavier edge carries more rank
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    // weight 1 on every edge reproduces the unweighted ranks exactly
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val unw = Graph.pageRankDirected(chain, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val w1 = Graph.pageRankDirected(chain.withColumn("w", lit(1L)), iters = 2,
      weightCol = Some("w")).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(unw == w1)
  }

  test("pageRankDirected: empty input returns empty") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.pageRankDirected(empty, iters = 2).count() == 0)
  }

  test("coOccurrenceEdges: groups of 1 emit nothing; pairs are canonical") {
    val df = Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 7L)).toDF("g", "item")
    val e = Graph.coOccurrenceEdges(df, "g", "item").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("kCore: peels the tail chain, keeps the clique, cascades removals") {
    // K4 on {1,2,3,4} with a pendant chain 4-5-6: the 2-core must peel
    // 6 (degree 1), THEN 5 (degree drops to 1) — the cascade — and keep
    // exactly the K4 with its internal degrees.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val core2 = Graph.kCore(k4, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // the 4-core of K4 is empty (max internal degree is 3)
    assert(Graph.kCore(k4, k = 4).count() == 0)
    // k=1 keeps everything
    assert(Graph.kCore(k4, k = 1).count() == 6)
  }

  test("shortestPaths: hop-bounded weighted distances from the source set") {
    // path 1 -2- 2 -3- 3 -1- 4 plus direct 1 -10- 3: shortest to 3 is
    // 2+3=5 via node 2, not the direct weight-10 edge; node 4 at 5+1=6
    val e = Seq((1L, 2L, 2.0), (2L, 3L, 3.0), (3L, 4L, 1.0), (1L, 3L, 10.0))
      .toDF("src", "dst", "w")
    val src = Seq(Tuple1(1L)).toDF("node")
    val d = Graph.shortestPaths(e, src, maxHops = 4, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d == Map(1L -> 0.0, 2L -> 2.0, 3L -> 5.0, 4L -> 6.0))
    // ONE hop only reaches direct neighbors: 3 via the weight-10 edge
    val d1 = Graph.shortestPaths(e, src, maxHops = 1, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d1 == Map(1L -> 0.0, 2L -> 2.0, 3L -> 10.0))
  }

  test("labelPropagation: disjoint triangles converge to per-community min labels") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("src", "dst")
    val out = Graph.labelPropagation(e, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("labelPropagation: weighted votes override neighbor counts") {
    // node 4 has TWO unit-weight neighbors labeled {1, 2} and ONE
    // heavy (w=5) neighbor labeled 9: unweighted vote is a 1-1-1 tie
    // -> min label 1; weighted vote picks 9.
    val e = Seq((1L, 4L, 1.0), (2L, 4L, 1.0), (9L, 4L, 5.0)).toDF("src", "dst", "w")
    val unweighted = Graph.labelPropagation(e, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unweighted(4L) == 1L)
    val weighted = Graph.labelPropagation(e, rounds = 1, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weighted(4L) == 9L)
    // leaves adopt their sole neighbor's label either way
    assert(weighted(1L) == 4L && weighted(9L) == 4L)
  }

  test("labelPropagation: ties break to the smallest label, deterministically") {
    // path 1-2-3 after ONE round: N(2) = {1, 3} labels {1, 3} tie → 1;
    // endpoints adopt their sole neighbor's label
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = Graph.labelPropagation(path, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
  }

  test("coOccurrenceEdges: a mega-group past maxGroupRows trips the guard") {
    // one 9-member group against maxGroupRows=5: the self-join would
    // mint |group|² pairs; the contract guard must fail fast with the
    // operator name and the escape route, in BOTH variants.
    val mega = (1L to 9L).map(i => (42L, i)).toDF("g", "item")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    val err = intercept[Exception] {
      Graph.coOccurrenceEdges(mega, "g", "item", maxGroupRows = 5).collect()
    }
    assert(messages(err).exists(m =>
      m.contains("coOccurrenceEdges") && m.contains("maxGroupRows")))
    val errW = intercept[Exception] {
      Graph.coOccurrenceWeightedEdges(mega, "g", "item", maxGroupRows = 5).collect()
    }
    assert(messages(errW).exists(m => m.contains("coOccurrenceWeightedEdges")))
    // the same data passes when the bound admits the group
    assert(Graph.coOccurrenceEdges(mega, "g", "item", maxGroupRows = 9).count() == 36)
    assert(Graph.coOccurrenceWeightedEdges(mega, "g", "item", maxGroupRows = 9)
      .agg(sum(col("weight"))).head().getLong(0) == 36L)
  }

  test("empty input: all operators return empty, not crash") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.degrees(empty).count() == 0)
    assert(Graph.degreeHistogram(empty).count() == 0)
    assert(Graph.triangleCount(empty).head().getLong(0) == 0L)
    assert(Graph.commonNeighborsTopK(empty).count() == 0)
    assert(Graph.pageRank(empty, iters = 2).count() == 0)
    assert(Graph.adamicAdarTopK(empty).count() == 0)
    assert(Graph.harmonicCentrality(empty).count() == 0)
    assert(Graph.randomWalks(empty).count() == 0)
    assert(Graph.eigenvectorCentrality(empty, iters = 2).count() == 0)
    assert(Graph.articleRank(empty, iters = 2).count() == 0)
    assert(Graph.hits(empty, iters = 2).count() == 0)
    assert(Graph.distanceDistribution(empty).count() == 0)
    assert(Graph.kTruss(empty, k = 3).count() == 0)
    assert(Graph.conductance(empty,
      Seq.empty[(Long, Long)].toDF("node", "label")).count() == 0)
    assert(Graph.modularity(empty,
      Seq.empty[(Long, Long)].toDF("node", "label")).count() == 0)
    val ea = Graph.degreeAssortativity(empty).head()
    assert(ea.getLong(0) == 0L && ea.isNullAt(1))
  }

  test("nodeSimilarityTopK metrics: overlap and cosine rescale the same wedge counts") {
    // N(1)={2,3}, N(4)={2}: pair (1,4) shares {2} -> jaccard 1/2,
    // overlap 1/min(2,1)=1, cosine 1/sqrt(2)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    def sim(metric: String): Map[(Long, Long), Double] =
      Graph.nodeSimilarityTopK(e, k = 10, metric = metric).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sim("jaccard")((1L, 4L)) == 0.5)
    assert(sim("overlap")((1L, 4L)) == 1.0)
    assert(math.abs(sim("cosine")((1L, 4L)) - 0.707107) < 1e-9)
    intercept[IllegalArgumentException](Graph.nodeSimilarityTopK(e, metric = "dice"))
  }

  test("adamicAdarTopK: 1/ln(deg) wedge weights, existing edges excluded") {
    // square 1-2-3-4-1: non-edge diagonals (1,3) and (2,4) each share
    // two degree-2 neighbors -> score = 2/ln(2); edges themselves share
    // none here and never appear in the output anyway
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val out = Graph.adamicAdarTopK(e, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.keySet == Set((1L, 3L), (2L, 4L)))
    val expect = 2.0 * math.round(1e9 / math.log(2.0)) / 1e9
    out.values.foreach(v => assert(math.abs(v - expect) < 1e-12))
    // a hub devalues: star center 10 with leaves 1,2,3 plus square
    // pair (1,2) -> leaves share the deg-3 hub, score 1/ln(3) < 1/ln(2)
    val star = Seq((10L, 1L), (10L, 2L), (10L, 3L)).toDF("src", "dst")
    val s = Graph.adamicAdarTopK(star, k = 1).head()
    assert(math.abs(s.getDouble(2) - math.round(1e9 / math.log(3.0)) / 1e9) < 1e-12)
  }

  test("harmonicCentrality: path graph, hop bound truncates the sum") {
    // path 1-2-3-4: full harmonic of node 1 is 1 + 1/2 + 1/3
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val full = Graph.harmonicCentrality(e, maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(full(1L) - (1.0 + 0.5 + 0.333333333)) < 1e-9)
    assert(math.abs(full(2L) - (1.0 + 1.0 + 0.5)) < 1e-9)
    // hop bound 1: everyone scores exactly their degree
    val h1 = Graph.harmonicCentrality(e, maxHops = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(h1 == Map(1L -> 1.0, 2L -> 2.0, 3L -> 2.0, 4L -> 1.0))
    // landmark sampling scores ONLY the sampled sources, exactly;
    // source ids absent from the graph are ignored
    val lm = Graph.harmonicCentrality(e, maxHops = 3,
      sources = Some(Seq(1L, 99L).toDF("node"))).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(lm == Map(1L -> full(1L)))
  }

  test("closenessCentrality: path-graph values, landmark dial") {
    // path 1-2-3: from 2 both ends are 1 hop -> closeness 2/2 = 1;
    // from 1: dists {1:to 2, 2:to 3} -> 2/3
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val c = Graph.closenessCentrality(path, maxHops = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(c(2L) == ((2L, 1.0)))
    assert(c(1L)._1 == 2L && math.abs(c(1L)._2 - 0.666667) < 1e-9)
    assert(c(3L)._1 == 2L && math.abs(c(3L)._2 - 0.666667) < 1e-9)
    // landmark restriction scores only the sampled source
    val lm = Graph.closenessCentrality(path, maxHops = 3,
      sources = Some(Seq(2L).toDF("node"))).collect()
    assert(lm.map(_.getLong(0)).toSet == Set(2L))
  }

  test("betweennessCentrality: path center carries all traffic, clique carries none") {
    // path 1-2-3: only node 2 lies between others. From s=1: δ(2) gets
    // the σ-ratio term for 3 (1/1·(1+0)=1); from s=3 symmetric; from
    // s=2 nothing. Score(2) = 2 (the unordered pair counted from both
    // endpoints — the raw undirected form).
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val b = Graph.betweennessCentrality(path, maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(b(2L) == 2.0)
    assert(b.getOrElse(1L, 0.0) == 0.0 && b.getOrElse(3L, 0.0) == 0.0)
    // K3: every pair is adjacent, no node is between any other pair
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val bk = Graph.betweennessCentrality(k3, maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bk.values.forall(_ == 0.0))
    // square 1-2-3-4-1: two shortest paths between each diagonal pair,
    // each middle node carries half per direction -> score 1.0 each
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val bs = Graph.betweennessCentrality(sq, maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bs.values.forall(v => math.abs(v - 1.0) < 1e-9))
    // sampled sources: only s=1's dependencies accumulate
    val b1 = Graph.betweennessCentrality(path, maxHops = 3,
      sources = Some(Seq(1L).toDF("node"))).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(b1(2L) == 1.0)
  }

  test("kTruss: K4 is a 4-truss, pendant edges peel, cascade removes the bridge triangle") {
    // K4 + pendant (4,5): every K4 edge sits in 2 triangles, the
    // pendant in none
    val k4p = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val t4 = Graph.kTruss(k4p, k = 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(t4.keySet == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)))
    assert(t4.values.forall(_ == 2L))
    // k=5 demands 3 triangles per edge: K4 dies entirely
    assert(Graph.kTruss(k4p, k = 5).count() == 0)
    // cascade: a triangle hanging off K4 by one shared edge survives
    // k=3 (1 triangle each) but peels at k=4 while K4 survives
    val hang = k4p.union(Seq((3L, 6L), (4L, 6L)).toDF("src", "dst"))
    val t3 = Graph.kTruss(hang, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!t3.exists(e => e._1 == 6L || e._2 == 6L), "hanging triangle peeled")
    assert(t3.size == 6, "K4 intact")
  }

  test("articleRank: average-degree damping pulls low-degree neighbors below pageRank") {
    // star 1-2,1-3,1-4 (+avgDeg = 6/4 = 1.5). One iteration from uniform
    // 1/4: leaf rank = 0.0375 + 0.85·(0.25/(3+1.5)); hub rank =
    // 0.0375 + 0.85·3·(0.25/(1+1.5))
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val r = Graph.articleRank(star, iters = 1).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(1L) - (0.0375 + 0.85 * 3 * (0.25 / 2.5))) < 1e-12)
    assert(math.abs(r(2L) - (0.0375 + 0.85 * (0.25 / 4.5))) < 1e-12)
    // damped: every rank sits below its pageRank counterpart
    val pr = Graph.pageRank(star, iters = 1).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.forall { case (n, v) => v < pr(n) })
  }

  test("distanceDistribution: path-graph hop histogram, landmark dial") {
    // path 1-2-3-4, all sources: six ordered pairs at dist 1, four at
    // dist 2, two at dist 3
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val h = Graph.distanceDistribution(path, maxHops = 3).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(h == Map(1 -> 6L, 2 -> 4L, 3 -> 2L))
    // single landmark: one ball only
    val one = Graph.distanceDistribution(path, maxHops = 3,
      sources = Some(Seq(1L).toDF("node"))).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(one == Map(1 -> 1L, 2 -> 1L, 3 -> 1L))
  }

  test("hits: hubs point at authorities; L1-normalized rounds") {
    // 1->3, 2->3, 3->4: auth raw (3:2, 4:1) -> a=(2/3, 1/3);
    // hub raw (1: 2/3, 2: 2/3, 3: 1/3) -> h=(0.4, 0.4, 0.2)
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = Graph.hits(e, iters = 1).collect()
      .map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2)))).toMap
    assert(math.abs(r(3L)._2 - 0.666666667) < 1e-9)
    assert(math.abs(r(4L)._2 - 0.333333333) < 1e-9)
    assert(math.abs(r(1L)._1 - 0.4) < 1e-9 && math.abs(r(2L)._1 - 0.4) < 1e-9)
    assert(math.abs(r(3L)._1 - 0.2) < 1e-9)
    // sources have no authority; sinks have no hub score
    assert(r(1L)._2 == 0.0 && r(2L)._2 == 0.0 && r(4L)._1 == 0.0)
  }

  test("eigenvectorCentrality: round 1 is degree centrality, converges on the path") {
    // path 1-2-3, 1 iter: contribs = degrees (1,2,1), L1 total 4
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r1 = Graph.eigenvectorCentrality(path, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r1 == Map(1L -> 0.25, 2L -> 0.5, 3L -> 0.25))
    // 2 iters: contribs (0.5, 0.25+0.25, 0.5) -> uniform 1/3 (9-dp)
    val r2 = Graph.eigenvectorCentrality(path, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r2.values.forall(v => math.abs(v - 0.333333333) < 1e-12))
  }

  test("modularity: two triangles with a bridge; contributions sum to Q") {
    // K3 {1,2,3} + K3 {4,5,6} + bridge (3,4): m=7, each community has 3
    // intra edges; deg sums 7 and 7 -> contribution 3/7 - (7/14)^2 each
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("node", "label")
    val q = Graph.modularity(e, labels).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    val expect = 3.0 / 7.0 - 0.25
    assert(q(1L)._1 == 3L && q(1L)._2 == 3L && q(1L)._3 == 7L)
    assert(math.abs(q(1L)._4 - expect) < 1e-8)
    assert(math.abs(q(4L)._4 - expect) < 1e-8)
    // a community of isolated labeled nodes contributes 0
    val extra = labels.union(Seq((9L, 9L)).toDF("node", "label"))
    val q2 = Graph.modularity(e, extra).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(q2(9L) == 0.0)
  }

  test("conductance: bridge cuts both communities; partial labeling audits against outside") {
    // two K3s + bridge (3,4), labels = the two triangles: each side's
    // cut is the one bridge edge, vol 7, min(7, 14-7)=7 -> 1/7
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("node", "label")
    val c = Graph.conductance(e, labels).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(c(1L)._1 == 3L && c(1L)._2 == 1L && c(1L)._3 == 7L)
    assert(math.abs(c(1L)._4 - 1.0 / 7.0) < 1e-8)
    assert(math.abs(c(4L)._4 - 1.0 / 7.0) < 1e-8)
    // partial labeling: only the first triangle labeled — the bridge
    // endpoint's edge to UNLABELED 4 still cuts
    val part = Graph.conductance(e,
      Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("node", "label")).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(part == Map(1L -> 1L))
    // labeled isolated node: zero volume -> NULL conductance
    val iso = Graph.conductance(e,
      labels.union(Seq((9L, 9L)).toDF("node", "label"))).collect()
      .filter(_.getLong(0) == 9L).head
    assert(iso.getLong(3) == 0L && iso.isNullAt(4))
  }

  test("degreeAssortativity: star is perfectly disassortative, cycle is degenerate") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val s = Graph.degreeAssortativity(star).head()
    assert(s.getLong(0) == 6L && s.getDouble(1) == -1.0)
    // 4-cycle: degree-regular -> zero variance -> NULL coefficient
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val c = Graph.degreeAssortativity(cyc).head()
    assert(c.getLong(0) == 8L && c.isNullAt(1))
  }

  test("fastRP: shape, unit norms, determinism, salt sensitivity") {
    val r = Graph.fastRP(house, dims = 8, iterations = 1,
      iterationWeights = Seq(1.0)).collect()
    // one row per (node, dim)
    assert(r.length == 4 * 8)
    // with one iteration and weight 1 the output IS the normalized
    // round: per-node L2 norm is 1 (up to the 9/6-dp rounds) unless the
    // neighbor-average was all-zero for that node
    val byNode = r.groupBy(_.getLong(0)).map { case (n, rows) =>
      n -> math.sqrt(rows.map(x => x.getDouble(2) * x.getDouble(2)).sum)
    }
    byNode.values.foreach(nrm => assert(nrm == 0.0 || math.abs(nrm - 1.0) < 1e-5))
    assert(byNode.values.exists(_ > 0.0)) // not degenerate
    // deterministic across runs; different salt -> different embedding
    val r2 = Graph.fastRP(house, dims = 8, iterations = 1,
      iterationWeights = Seq(1.0)).collect()
    assert(r.map(_.toString).sorted.sameElements(r2.map(_.toString).sorted))
    val rs = Graph.fastRP(house, dims = 8, iterations = 1,
      iterationWeights = Seq(1.0), salt = "other").collect()
    assert(!r.map(_.toString).sorted.sameElements(rs.map(_.toString).sorted))
    // weights must match iterations; empty input stays empty
    intercept[IllegalArgumentException](
      Graph.fastRP(house, iterations = 3, iterationWeights = Seq(1.0)))
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.fastRP(empty).count() == 0)
  }

  test("randomWalks: valid edges every hop, deterministic, salt-sensitive") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)).toDF("src", "dst")
    val w = Graph.randomWalks(e, steps = 3)
    // 4 walks x 4 positions, and every consecutive hop is a real edge
    assert(w.count() == 16)
    val byWalk = w.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val edgeSet = Set((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
    for ((walk, path) <- byWalk) {
      assert(path.head == walk) // step 0 is the start node
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(edgeSet(math.min(a, b) -> math.max(a, b)))
      }
    }
    // deterministic across runs; a different salt changes some choice
    assert(Graph.randomWalks(e, steps = 3).collect().toSet ==
      w.collect().toSet)
    assert(Graph.randomWalks(e, steps = 3, salt = "other").collect().toSet !=
      w.collect().toSet)
    // a pendant's walker bounces: path 1-2 alternates 1,2,1,2
    val pendant = Graph.randomWalks(Seq((1L, 2L)).toDF("src", "dst"), steps = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(pendant == Map((1L, 0) -> 1L, (1L, 1) -> 2L, (1L, 2) -> 1L, (1L, 3) -> 2L,
      (2L, 0) -> 2L, (2L, 1) -> 1L, (2L, 2) -> 2L, (2L, 3) -> 1L))
  }

  test("node2vecWalks: valid walks, deterministic, bias is load-bearing") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (2L, 5L))
      .toDF("src", "dst")
    val edgeSet = Set((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L), (2L, 5L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val w = Graph.node2vecWalks(e, steps = 3)
    val rows = w.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // every walk starts at its id and every consecutive pair is an edge
    val walks = rows.keys.map(_._1).toSet
    assert(walks == Set(1L, 2L, 3L, 4L, 5L))
    walks.foreach { wk =>
      assert(rows((wk, 0)) == wk)
      (0 to 2).foreach { s =>
        assert(edgeSet((rows((wk, s)), rows((wk, s + 1)))))
      }
    }
    // deterministic across runs; salt changes some choice
    assert(Graph.node2vecWalks(e, steps = 3).collect().toSet == w.collect().toSet)
    assert(Graph.node2vecWalks(e, steps = 3, salt = "other").collect().toSet !=
      w.collect().toSet)
    // the bias is load-bearing: an overwhelming RETURN weight forces the
    // pendant bounce on every walk (step2 returns to the start node)
    val bounce = Graph.node2vecWalks(e, steps = 2,
      returnWeight = 1L << 30, commonWeight = 1L, farWeight = 1L)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    walks.foreach(wk => assert(bounce((wk, 2)) == wk))
    // and the default far-leaning weights differ from uniform weights
    assert(Graph.node2vecWalks(e, steps = 3, returnWeight = 1L,
      commonWeight = 1L, farWeight = 1L).collect().toSet != w.collect().toSet)
  }

  test("louvain: two triangles on a bridge resolve; modularity never decreases") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("src", "dst")
    val com = Graph.louvain(e, maxRounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the two triangles are the modularity-optimal communities
    assert(com(1L) == com(2L) && com(2L) == com(3L))
    assert(com(4L) == com(5L) && com(5L) == com(6L))
    assert(com(1L) != com(4L))
    // accepted assignment's modularity strictly beats the singleton start
    def q(assign: Seq[(Long, Long)]): Double =
      Graph.modularity(e, assign.toDF("node", "label"))
        .agg(sum(col("q_contrib"))).head().getDouble(0)
    val qFinal = q(com.toSeq)
    val qSingleton = q((1L to 6L).map(n => n -> n))
    assert(qFinal > qSingleton)
    // and each intermediate bound is monotone: maxRounds=1 sits between
    val q1 = q(Graph.louvain(e, maxRounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq)
    assert(q1 >= qSingleton && qFinal >= q1)
    // deterministic across runs
    assert(Graph.louvain(e, maxRounds = 4).collect().toSet ==
      Graph.louvain(e, maxRounds = 4).collect().toSet)
    // empty input: empty result, not a crash
    assert(Graph.louvain(e.filter(lit(false))).count() == 0)
    // MULTI-LEVEL: one round alone leaves the merge unfinished; the
    // contraction level completes it (intra mass rides as self-loops)
    val one = Graph.louvain(e, maxRounds = 1, levels = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one.values.toSet.size > 2) // level 1 alone: not yet the triangles
    val two = Graph.louvain(e, maxRounds = 1, levels = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two(1L) == two(2L) && two(2L) == two(3L))
    assert(two(4L) == two(5L) && two(5L) == two(6L))
    assert(two(1L) != two(4L))
    // hierarchy never lowers modularity: q(levels=2) >= q(levels=1)
    assert(q(two.toSeq) >= q(one.toSeq))
    // already-optimal assignments are stable under an extra level
    val stable = Graph.louvain(e, maxRounds = 4, levels = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stable(1L) == stable(2L) && stable(2L) == stable(3L) &&
      stable(4L) == stable(5L) && stable(5L) == stable(6L) &&
      stable(1L) != stable(4L))
  }

  test("louvain: gated local phase equals the distributed scratch loop") {
    // the same fixture the gated queries run: weighted co-purchase
    // edges, single- and multi-level, local fast path (default gate)
    // vs the distributed loop (the gate conf at 0) — exact
    // value equality, the union-find-fast-path differential discipline
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
      .filter(col("l_partkey") % 4 === 0)
    val e = Graph.coOccurrenceWeightedEdges(li, "l_orderkey", "l_partkey")
    for (lv <- Seq(1, 2)) {
      val local = Graph.louvain(e, maxRounds = 2,
        weightCol = Some("weight"), levels = lv).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      val dist = withConf(distributed)(Graph.louvain(e, maxRounds = 2,
        weightCol = Some("weight"), levels = lv)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet)
      assert(local == dist, s"local/distributed divergence at levels=$lv")
    }
    // unweighted hand graph with a self-mass level: bridge triangles
    val hand = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("src", "dst")
    assert(
      Graph.louvain(hand, maxRounds = 1, levels = 2).collect().toSet ==
      withConf(distributed)(Graph.louvain(hand, maxRounds = 1, levels = 2)
        .collect().toSet))
  }

  test("peel-loop local fast paths equal the distributed loops " +
      "(scc / topo / coloring / matching)") {
    // the gated-query fixtures: co-purchase edges, and the parity-
    // directed rendition for SCC; local (default gate) vs distributed
    // (the gate conf at 0) — exact set equality, the louvain discipline
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
      .filter(col("l_partkey") % 4 === 0)
    val e = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    val even = (col("src") + col("dst")) % 2 === 0
    val directed = e.select(
      when(even, col("src")).otherwise(col("dst")).as("src"),
      when(even, col("dst")).otherwise(col("src")).as("dst"))
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq).toSet
    assert(sets(Graph.stronglyConnectedComponents(directed)) ==
      withConf(distributed)(sets(Graph.stronglyConnectedComponents(directed))),
      "scc local/distributed divergence")
    assert(sets(Graph.topoLayers(e, maxRounds = 8)) ==
      withConf(distributed)(sets(Graph.topoLayers(e, maxRounds = 8))),
      "topo local/distributed divergence")
    assert(sets(Graph.greedyColoring(e, maxRounds = 8)) ==
      withConf(distributed)(sets(Graph.greedyColoring(e, maxRounds = 8))),
      "coloring local/distributed divergence")
    assert(sets(Graph.maximalMatching(e, maxRounds = 8)) ==
      withConf(distributed)(sets(Graph.maximalMatching(e, maxRounds = 8))),
      "matching local/distributed divergence")
    assert(sets(Graph.kCore(e, k = 3, maxRounds = 30)) ==
      withConf(distributed)(sets(Graph.kCore(e, k = 3, maxRounds = 30))),
      "kcore local/distributed divergence")
    assert(sets(Graph.kTruss(e, k = 3, maxRounds = 30)) ==
      withConf(distributed)(sets(Graph.kTruss(e, k = 3, maxRounds = 30))),
      "ktruss local/distributed divergence")
    // a tight round cap exercises the unconverged residual identically
    assert(sets(Graph.kCore(e, k = 3, maxRounds = 1)) ==
      withConf(distributed)(sets(Graph.kCore(e, k = 3, maxRounds = 1))),
      "kcore capped-rounds local/distributed divergence")
    assert(sets(Graph.kTruss(e, k = 4, maxRounds = 1)) ==
      withConf(distributed)(sets(Graph.kTruss(e, k = 4, maxRounds = 1))),
      "ktruss capped-rounds local/distributed divergence")
    // a low maxRounds exercises the unresolved/null-residual contract
    // on both paths identically
    assert(sets(Graph.topoLayers(e, maxRounds = 2)) ==
      withConf(distributed)(sets(Graph.topoLayers(e, maxRounds = 2))))
    assert(sets(Graph.maximalMatching(e, maxRounds = 1)) ==
      withConf(distributed)(sets(Graph.maximalMatching(e, maxRounds = 1))))
  }

  test("landmark-ball local fast paths equal the distributed BFS loops " +
      "(harmonic / closeness / distance-distribution / betweenness)") {
    // the gated-query fixture: co-purchase edges + the mod-50 landmark
    // sample; local (default gate, accumulate-per-source — never a
    // ball table, the r10 revert's failure mode) vs distributed
    // (the gate conf at 0) — exact value equality including the 9-dp
    // decimal-sum and 6-dp division replays
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
      .filter(col("l_partkey") % 4 === 0)
    val e = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    val marks = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .filter(pmod(col("node"), lit(50)) === 0).distinct()
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq).toSet
    assert(sets(Graph.harmonicCentrality(e, 3, Some(marks))) ==
      withConf(distributed)(sets(Graph.harmonicCentrality(e, 3, Some(marks)))),
      "harmonic local/distributed divergence")
    assert(sets(Graph.closenessCentrality(e, 3, Some(marks))) ==
      withConf(distributed)(sets(Graph.closenessCentrality(e, 3, Some(marks)))),
      "closeness local/distributed divergence")
    assert(sets(Graph.distanceDistribution(e, 3, Some(marks))) ==
      withConf(distributed)(sets(Graph.distanceDistribution(e, 3, Some(marks)))),
      "distance-distribution local/distributed divergence")
    assert(sets(Graph.betweennessCentrality(e, 3, Some(marks))) ==
      withConf(distributed)(sets(Graph.betweennessCentrality(e, 3, Some(marks)))),
      "betweenness local/distributed divergence")
    // sources = None keeps the distributed loop (the documented
    // all-sources Θ(V·V) regime is an executor problem either way)
    val ddAll = Graph.distanceDistribution(e, maxHops = 1)
    assert(!ddAll.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
  }

  test("power-iteration local replays equal the distributed loops " +
      "(eigenvector / hits / katz)") {
    // same fixture as the gated queries; exact value equality — the
    // decimal contribution sums are order-free, so the replay must be
    // bit-identical, not approximately equal
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
      .filter(col("l_partkey") % 4 === 0)
    val e = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    val even = (col("src") + col("dst")) % 2 === 0
    val directed = e.select(
      when(even, col("src")).otherwise(col("dst")).as("src"),
      when(even, col("dst")).otherwise(col("src")).as("dst"))
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq).toSet
    assert(sets(Graph.eigenvectorCentrality(e, iters = 3)) ==
      withConf(distributed)(sets(Graph.eigenvectorCentrality(e, iters = 3))),
      "eigenvector local/distributed divergence")
    assert(sets(Graph.hits(directed, iters = 3)) ==
      withConf(distributed)(sets(Graph.hits(directed, iters = 3))),
      "hits local/distributed divergence")
    assert(sets(Graph.katzCentrality(e, iters = 3)) ==
      withConf(distributed)(sets(Graph.katzCentrality(e, iters = 3))),
      "katz local/distributed divergence")
    // LPA: Long-tally replay is gated on integer-valued weights (w≡1
    // here and summed co-occurrence counts both qualify)
    assert(sets(Graph.labelPropagation(e, rounds = 3)) ==
      withConf(distributed)(sets(Graph.labelPropagation(e, rounds = 3))),
      "lpa local/distributed divergence")
    val we = Graph.coOccurrenceWeightedEdges(li, "l_orderkey", "l_partkey")
    assert(sets(Graph.labelPropagation(we, rounds = 3,
        weightCol = Some("weight"))) ==
      withConf(distributed)(sets(Graph.labelPropagation(we, rounds = 3,
        weightCol = Some("weight")))),
      "weighted lpa local/distributed divergence")
    // fractional weights must refuse the local path (double vote sums
    // are order-dependent there)
    val frac = we.withColumn("weight", col("weight") + lit(0.25d))
    assert(!Graph.labelPropagation(frac, rounds = 1,
        weightCol = Some("weight"))
      .queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    // fastRP: md5-coin init + decimal rounds replay bit-exactly
    assert(sets(Graph.fastRP(e, dims = 8, iterations = 2,
        iterationWeights = Seq(1.0, 1.0))) ==
      withConf(distributed)(sets(Graph.fastRP(e, dims = 8, iterations = 2,
        iterationWeights = Seq(1.0, 1.0)))),
      "fastrp local/distributed divergence")
  }

  test("spark.graft.maxLocalEdges conf globally disables the local fast paths") {
    // the deployment dial: a small-driver-heap deployment turns every
    // driver-local fast path off in ONE place, the Pin gate's conf pair
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val docs = Seq((1L, "low lower lowest"), (2L, "new newer")).toDF("doc_id", "text")
    def isDriverLocal(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    def cc() = graft.operators.Corpus.connectedComponents(e, aCol = "src", bCol = "dst")
    def bpe() = graft.operators.TextAnalysis.bpeEncodeCounts(docs, rounds = 2)
    assert(isDriverLocal(Graph.stronglyConnectedComponents(e)) &&
      isDriverLocal(cc()) && isDriverLocal(bpe()),
      "tiny inputs must take the driver-local paths by default")
    withConf(distributed) {
      assert(!isDriverLocal(Graph.stronglyConnectedComponents(e)),
        "conf = 0 must force the distributed loop")
      assert(!isDriverLocal(Graph.topoLayers(e)) &&
        !isDriverLocal(Graph.greedyColoring(e)) &&
        !isDriverLocal(Graph.maximalMatching(e)) &&
        !isDriverLocal(cc()) && !isDriverLocal(bpe()),
        "conf = 0 must cover every fast-path operator")
    }
  }

  test("pageRank conserves mass on the fixture co-purchase graph") {
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
      .filter(col("l_partkey") % 4 === 0)
    val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    val pr = Graph.pageRank(edges, iters = 2)
    val total = pr.agg(sum(col("rank"))).head().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-6)
  }
}
