package graft

import graft.operators.Graph
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based laws of the iterative graph operators, each checked
  * against an in-memory brute-force reference on small random graphs.
  * Every operator under test is deterministic, so passes are stable;
  * each property runs real Spark jobs, so iteration counts stay small
  * (the SamplerLawsSpec discipline). */
class GraphLawsSpec extends SparkTestBase {
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), p)
    assert(r.passed, r.status.toString)
  }

  /** Random simple undirected graph on <= n nodes as canonical pairs. */
  private val graphGen: Gen[Set[(Long, Long)]] = for {
    n <- Gen.choose(4, 10)
    density <- Gen.choose(0.2, 0.7)
    all = (1L to n).flatMap(a => (a + 1 to n).map(b => (a, b)))
    picks <- Gen.listOfN(all.size, Gen.choose(0.0, 1.0))
  } yield all.zip(picks).filter(_._2 < density).map(_._1).toSet

  private def adjacency(es: Set[(Long, Long)]): Map[Long, Set[Long]] = {
    val sym = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
  }

  test("property: kCore matches brute-force peeling and all core degrees >= k") {
    check(Prop.forAll(graphGen, Gen.choose(2, 4)) { (es, k) =>
      es.isEmpty || {
        // reference: peel in-memory until fixpoint
        var adj = adjacency(es)
        var changed = true
        while (changed) {
          val bad = adj.collect { case (v, ns) if ns.size < k => v }.toSet
          changed = bad.nonEmpty
          adj = (adj -- bad).map { case (v, ns) => v -> (ns -- bad) }
            .filter(_._2.nonEmpty)
        }
        val expected = adj.map { case (v, ns) => v -> ns.size.toLong }
        val got = Graph.kCore(es.toSeq.toDF("src", "dst"), k).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == expected && got.values.forall(_ >= k)
      }
    })
  }

  test("property: shortestPaths with enough hops matches Dijkstra; monotone in maxHops") {
    check(Prop.forAll(graphGen) { es =>
      es.isEmpty || {
        val adj = adjacency(es)
        val src = es.flatMap(e => Seq(e._1, e._2)).min
        // reference: unit-weight Dijkstra (= BFS) from src
        val dist = scala.collection.mutable.Map(src -> 0.0)
        var frontier = Set(src)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
            .filter(v => !dist.contains(v))
          val d = dist.values.max + 1.0
          frontier.foreach(v => dist(v) = d)
        }
        val edgesDf = es.toSeq.toDF("src", "dst")
        val srcDf = Seq(Tuple1(src)).toDF("node")
        def run(h: Int) = Graph.shortestPaths(edgesDf, srcDf, maxHops = h)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val full = run(12) // diameter of a 10-node graph is < 12
        // enough hops: exact distances; fewer hops: superset-safe
        // (every reported distance is >= the true one, reached set grows)
        val h1 = run(1)
        full == dist.toMap &&
          h1.forall { case (v, d) => d >= dist(v) } &&
          h1.keySet.subsetOf(full.keySet)
      }
    })
  }

  test("property: labelPropagation labels come from the node's own component") {
    check(Prop.forAll(graphGen, Gen.choose(1, 3)) { (es, rounds) =>
      es.isEmpty || {
        val edgesDf = es.toSeq.toDF("src", "dst")
        val comp = Graph.connectedComponents(edgesDf).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val lpa = Graph.labelPropagation(edgesDf, rounds).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        // every node is labeled, and with a label from ITS component —
        // propagation can never cross a component boundary
        lpa.keySet == comp.keySet &&
          lpa.forall { case (v, l) => comp(l) == comp(v) }
      }
    })
  }

  test("property: kTruss matches brute-force support peeling; truss nodes sit in the (k-1)-core") {
    check(Prop.forAll(graphGen, Gen.choose(3, 4)) { (es, k) =>
      es.isEmpty || {
        def support(e: Set[(Long, Long)]): Map[(Long, Long), Long] = {
          val adj = adjacency(e.map(p => p))
          e.map { case (a, b) =>
            (a, b) -> (adj.getOrElse(a, Set.empty) &
              adj.getOrElse(b, Set.empty)).size.toLong
          }.toMap
        }
        var cur = es
        var changed = true
        while (changed) {
          val sup = support(cur)
          val keep = cur.filter(sup(_) >= (k - 2).toLong)
          changed = keep != cur
          cur = keep
        }
        val expected = support(cur)
        val got = Graph.kTruss(es.toSeq.toDF("src", "dst"), k).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val trussNodes = got.keySet.flatMap(e => Set(e._1, e._2))
        val core = if (k >= 3)
          Graph.kCore(es.toSeq.toDF("src", "dst"), k - 1).collect()
            .map(_.getLong(0)).toSet
        else trussNodes
        got == expected && trussNodes.subsetOf(core)
      }
    })
  }

  test("property: betweennessCentrality matches brute-force Brandes on small graphs") {
    check(Prop.forAll(graphGen) { es =>
      es.isEmpty || {
        val adj = adjacency(es)
        val score = scala.collection.mutable.Map.empty[Long, Double]
          .withDefaultValue(0.0)
        for (s <- adj.keys) {
          val dist = scala.collection.mutable.Map(s -> 0)
          val sigma = scala.collection.mutable.Map(s -> 1.0)
          var frontier = List(s)
          var d = 0
          while (frontier.nonEmpty) {
            d += 1
            val next = frontier.flatMap(u => adj(u).filter(v =>
              !dist.contains(v)).map(v => v -> sigma(u)))
            frontier = next.map(_._1).distinct
            frontier.foreach(v => dist(v) = d)
            next.groupBy(_._1).foreach { case (v, ps) =>
              sigma(v) = ps.map(_._2).sum }
          }
          val delta = scala.collection.mutable.Map.empty[Long, Double]
            .withDefaultValue(0.0)
          dist.toSeq.sortBy(-_._2).foreach { case (v, dv) =>
            adj(v).filter(w => dist.get(w).contains(dv + 1)).foreach { w =>
              delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
            }
            if (v != s) score(v) += delta(v)
          }
        }
        // maxHops 12 >= any <=10-node diameter -> exact Brandes
        val got = Graph.betweennessCentrality(es.toSeq.toDF("src", "dst"),
          maxHops = 12).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        adj.keys.forall(v =>
          math.abs(got.getOrElse(v, 0.0) - score(v)) < 1e-5)
      }
    })
  }

  test("property: eigenvector scores are an L1-normalized nonnegative vector") {
    check(Prop.forAll(graphGen, Gen.choose(1, 3)) { (es, iters) =>
      es.isEmpty || {
        val got = Graph.eigenvectorCentrality(es.toSeq.toDF("src", "dst"),
          iters).collect().map(_.getDouble(1))
        got.forall(_ >= 0.0) && math.abs(got.sum - 1.0) < 1e-6
      }
    })
  }

  test("property: modularity and conductance cut/degree identities on a full labeling") {
    check(Prop.forAll(graphGen) { es =>
      es.isEmpty || {
        val nodes = es.flatMap(e => Seq(e._1, e._2))
        val labels = nodes.map(v => (v, v % 3)).toSeq.toDF("node", "label")
        val m = es.size.toLong
        val inter = es.count { case (a, b) => a % 3 != b % 3 }.toLong
        val q = Graph.modularity(es.toSeq.toDF("src", "dst"), labels).collect()
        val c = Graph.conductance(es.toSeq.toDF("src", "dst"), labels).collect()
        val qSum = q.map(_.getDouble(4)).sum
        // intra edges partition m; degree mass sums to 2m; each boundary
        // edge cuts exactly its two sides; Q bounded; conductance in [0,1]
        q.map(_.getLong(2)).sum == m - inter &&
          q.map(_.getLong(3)).sum == 2 * m &&
          c.map(_.getLong(2)).sum == 2 * inter &&
          qSum > -1.0 - 1e-9 && qSum < 1.0 + 1e-9 &&
          c.forall(r => r.isNullAt(4) ||
            (r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0))
      }
    })
  }

  test("property: local fast paths equal the distributed loops under " +
      "randomized TRUNCATED round budgets") {
    // the differential specs pin fixed maxRounds; this pins the
    // TRUNCATION contract itself — at every (graph, budget) the local
    // replay must leave exactly the rows the distributed loop leaves
    // unresolved (null layer/round residuals included), not merely
    // agree at convergence. Parity-oriented edges put cycles in the
    // topo input so truncation actually bites.
    check(Prop.forAll(graphGen, Gen.choose(1, 3)) { (es, rounds) =>
      es.isEmpty || {
        val e = es.toSeq.toDF("src", "dst")
        val directed = es.toSeq.map { case (a, b) =>
          if ((a + b) % 2 == 0) (a, b) else (b, a)
        }.toDF("src", "dst")
        def sets(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toSeq).toSet
        sets(Graph.topoLayers(directed, maxRounds = rounds)) ==
          withConf("spark.graft.maxLocalEdges" -> "0")(
            sets(Graph.topoLayers(directed, maxRounds = rounds))) &&
        sets(Graph.greedyColoring(e, maxRounds = rounds)) ==
          withConf("spark.graft.maxLocalEdges" -> "0")(
            sets(Graph.greedyColoring(e, maxRounds = rounds))) &&
        sets(Graph.maximalMatching(e, maxRounds = rounds)) ==
          withConf("spark.graft.maxLocalEdges" -> "0")(
            sets(Graph.maximalMatching(e, maxRounds = rounds))) &&
        sets(Graph.louvain(e, maxRounds = rounds.min(2))) ==
          withConf("spark.graft.maxLocalEdges" -> "0")(
            sets(Graph.louvain(e, maxRounds = rounds.min(2))))
      }
    })
  }

  test("property: weighted and unweighted LPA and weighted louvain replay " +
      "the distributed loops on random weighted graphs") {
    // the replays reuse per-label tallies across vertex visits, so a
    // label a vertex tallied last in one round must count afresh in
    // the next; rounds 1-4 let a stale tally carry over
    def same(df: => org.apache.spark.sql.DataFrame) = {
      val local = df.collect().map(_.toSeq).toSet
      local == withConf("spark.graft.maxLocalEdges" -> "0")(df.collect().map(_.toSeq).toSet)
    }
    def agree(e: org.apache.spark.sql.DataFrame, rounds: Int): Boolean =
      same(Graph.labelPropagation(e, rounds)) &&
        same(Graph.labelPropagation(e, rounds, weightCol = Some("w"))) &&
        same(Graph.louvain(e, maxRounds = rounds, weightCol = Some("w")))
    // a weighted graph on which a stale tally changed the LPA replay's
    // labels (vertex 6 sees labels 1 and 5 tie at weight 2 in round 3)
    val fixed = Seq((1L, 2L, 3L), (1L, 4L, 10L), (4L, 5L, 20L), (3L, 6L, 2L),
      (1L, 6L, 2L), (2L, 6L, 1L)).toDF("src", "dst", "w")
    assert((1 to 4).forall(agree(fixed, _)))
    val weighted = for {
      es <- graphGen
      ws <- Gen.listOfN(es.size, Gen.choose(1L, 4L))
    } yield es.toSeq.zip(ws).map { case ((a, b), w) => (a, b, w) }
    check(Prop.forAll(weighted, Gen.choose(1, 4)) { (es, rounds) =>
      es.isEmpty || agree(es.toDF("src", "dst", "w"), rounds)
    })
  }

  test("property: each Superstep program gives the same states on the " +
      "driver and the distributed executor") {
    // the engine's differential: every ported program, on random
    // parity-directed graphs (cycles, so topo truncation bites) and
    // round caps from 1 up to past convergence, must leave the same
    // (id, state) on both executors — the per-operator readouts are
    // plain projections of these states
    def isLocal(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    def same(p: graft.ops.Superstep[_], e: org.apache.spark.sql.DataFrame,
        rounds: Int): Boolean = {
      val local = p.run(e, rounds, "laws")
      val dist = withConf("spark.graft.maxLocalEdges" -> "0")(p.run(e, rounds, "laws"))
      assert(isLocal(local) && !isLocal(dist))
      local.collect().map(_.toSeq).toSet == dist.collect().map(_.toSeq).toSet
    }
    def programs(k: Int) =
      Seq(Graph.kCoreProgram(k), Graph.topoProgram, Graph.coloringProgram)
    check(Prop.forAll(graphGen, Gen.oneOf(1, 2, 3, 30), Gen.choose(1, 4)) {
      (es, rounds, k) =>
        val e = es.toSeq.map { case (a, b) =>
          if ((a + b) % 2 == 0) (a, b) else (b, a)
        }.toDF("src", "dst")
        programs(k).forall(same(_, e, rounds))
    })
    // degenerate inputs: no edges, only self-loops, one edge, edges
    // with a null end (dropped, so the single edge's states), and a k
    // above every degree (every node peels in the first round)
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")
    val single = Seq((1L, 2L)).toDF("src", "dst")
    val nulls = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, null), (null, 3L), (null, null)).toDF("src", "dst")
    for (e <- Seq(empty, loops, single, nulls); p <- programs(1))
      assert(same(p, e, 30), s"$p on ${e.collect().toSeq}")
    for (p <- programs(1))
      assert(p.run(nulls, 30, "laws").collect().toSet == p.run(single, 30, "laws").collect().toSet)
    val clique = (for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)).toDF("src", "dst")
    assert(same(Graph.kCoreProgram(5), clique, 30))
    assert(Graph.kCore(clique, k = 5).count() == 0L)
    // Int.MaxValue rounds means "to the fixpoint"
    assert(Graph.kCore(clique, k = 4, maxRounds = Int.MaxValue).count() == 5L)
  }

  test("property: assortativity is a correlation (|r| <= 1); distance histogram is consistent with closeness") {
    check(Prop.forAll(graphGen) { es =>
      es.isEmpty || {
        val df = es.toSeq.toDF("src", "dst")
        val a = Graph.degreeAssortativity(df).head()
        val okA = a.isNullAt(1) || math.abs(a.getDouble(1)) <= 1.0 + 1e-9
        // both read the same landmark balls: Σ n_pairs == Σ reached
        val dd = Graph.distanceDistribution(df, maxHops = 3).collect()
          .map(_.getLong(1)).sum
        val reached = Graph.closenessCentrality(df, maxHops = 3).collect()
          .map(_.getLong(1)).sum
        okA && dd == reached
      }
    })
  }
}
