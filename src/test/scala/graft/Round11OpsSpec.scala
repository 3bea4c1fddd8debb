package graft

import graft.operators.Corpus
import org.apache.spark.sql.functions._

/** Round-11 operators: per-domain curation rollup and friends. */
class Round11OpsSpec extends SparkTestBase {
  import spark.implicits._

  test("domainReport: host keying, exact dup fraction, token + quality mass") {
    val docs = Seq(
      (1L, "the quick brown fox jumps", "https://a.example.com/x/1"),
      (2L, "the quick brown fox jumps", "https://a.example.com/y/2"),
      (3L, "completely different text here", "https://a.example.com/z/3"),
      (4L, "another domain text", "https://b.example.org/1")
    ).toDF("doc_id", "text", "url")
      .withColumn("n_chars", length(col("text")))
    val r = Corpus.domainReport(docs).collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r.keySet == Set("a.example.com", "b.example.org"))
    val a = r("a.example.com")
    assert(a.getLong(1) == 3L && a.getLong(2) == 2L) // n_docs, n_unique
    assert(math.abs(a.getDouble(3) - 0.333333) < 1e-9) // dup_frac
    assert(a.getLong(4) == 5L + 5L + 4L) // ws-token mass
    val b = r("b.example.org")
    assert(b.getLong(1) == 1L && b.getDouble(3) == 0.0)
    // quality mass is the 6-dp per-doc score summed exactly
    assert(b.getDouble(5) == b.getDouble(6)) // one doc: sum == mean
  }

  test("unigramLmVocab: expectations conserve char mass, chars kept, prune bound") {
    import graft.operators.TextAnalysis
    val docs = (0L until 50L).map(i => (i, "abab abc cab")).toDF("doc_id", "text")
    val v = TextAnalysis.unigramLmVocab(docs, seedMulti = 20, keepMulti = 5,
      emRounds = 2, maxPieceLen = 3, maxWordLen = 12)
    val rows = v.collect().map(r =>
      r.getString(0) -> (r.getInt(1), r.getDouble(2), r.getDouble(3))).toMap
    // every single char survives pruning, with a positive prob
    assert(Set("a", "b", "c").subsetOf(rows.keySet))
    assert(rows.values.forall(_._2 >= 1e-12))
    // multi-char pieces pruned to keepMulti
    assert(rows.count(_._1.length > 1) <= 5)
    // forward-backward consistency: expected counts weighted by piece
    // length recover the corpus char mass (50 × (4 + 3 + 3) = 500)
    val mass = rows.map { case (p, (len, _, ec)) => len * ec }.sum
    assert(math.abs(mass - 500.0) < 1e-3, s"char mass $mass")
    // the dominant bigram "ab" (appears in abab ×2 and abc) outweighs "ca"
    assert(rows.contains("ab"))
    assert(!rows.contains("zz"))
    // deterministic across runs
    val v2 = TextAnalysis.unigramLmVocab(docs, seedMulti = 20, keepMulti = 5,
      emRounds = 2, maxPieceLen = 3, maxWordLen = 12)
    assert(v2.collect().toSet == v.collect().toSet)
  }

  test("unigramLmVocab: superseded scratch tables are retired eagerly") {
    import graft.operators.TextAnalysis
    val root = graft.ops.Scratch.localRoot.toFile
    def scratchDirs() = Option(root.listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.startsWith("ulm_"))
    val docs = (0L until 50L).map(i => (i, "abab abc cab")).toDF("doc_id", "text")
    def vocab() = TextAnalysis.unigramLmVocab(docs, seedMulti = 20,
      keepMulti = 5, emRounds = 3, maxPieceLen = 3, maxWordLen = 12)
    val pinned = vocab().collect().toSet
    val before = scratchDirs()
    // the gate conf at 0 forces every state to a scratch table
    val dist = withConf("spark.graft.maxLocalEdges" -> "0")(vocab())
    // only the returned vocabulary's table may remain: the seed counts,
    // each round's expectations and every superseded vocabulary are gone
    assert(scratchDirs() - before <= 1)
    assert(dist.collect().toSet == pinned)
  }

  test("weightedRandomWalks: heavy edges dominate, walks stay on edges") {
    import graft.operators.Graph
    // node 2's neighbors: 1 (weight 1) vs 3 (weight 2^30) — every
    // visit to 2 steps to 3 for any realistic coin
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L << 30), (3L, 4L, 1L))
      .toDF("src", "dst", "weight")
    val w = Graph.weightedRandomWalks(e, steps = 3)
    val rows = w.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(rows((2L, 1)) == 3L) // walk from 2, step 1 → heavy edge
    // valid walk: consecutive nodes are adjacent
    val edgeSet = Set((1L, 2L), (2L, 3L), (3L, 4L)).flatMap {
      case (a, b) => Seq((a, b), (b, a)) }
    rows.keys.map(_._1).toSet.foreach { (wk: Long) =>
      (0 to 2).foreach(s => assert(edgeSet((rows((wk, s)), rows((wk, s + 1))))))
    }
    // deterministic
    assert(Graph.weightedRandomWalks(e, steps = 3).collect().toSet ==
      w.collect().toSet)
  }

  test("shortestPathTree: reconstructs cheapest route, lexicographic ties") {
    import graft.operators.Graph
    val e = Seq((1L, 2L, 5.0), (2L, 3L, 5.0), (1L, 3L, 20.0))
      .toDF("src", "dst", "w")
    val t = Graph.shortestPathTree(e, Seq(1L).toDF("node"), maxHops = 4,
      weightCol = Some("w")).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(t(3L) == ((10.0, "1->2->3"))) // two hops beat the direct edge
    assert(t(2L) == ((5.0, "1->2")))
    assert(t(1L) == ((0.0, "1")))
    // equal-cost diamond: the lexicographically smaller route wins
    val d = Seq((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 4L, 1.0), (3L, 4L, 1.0))
      .toDF("src", "dst", "w")
    val td = Graph.shortestPathTree(d, Seq(1L).toDF("node"), maxHops = 3,
      weightCol = Some("w")).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(td(4L) == "1->2->4")
  }

  test("ksTest: identical samples score 0, disjoint ranges score 1") {
    import graft.operators.Quality
    val a = Seq(1.0, 2.0, 3.0, 4.0).toDF("m")
    val same = Quality.ksTest(a, a, "m").collect().head
    assert(same.getLong(0) == 4L && same.getLong(1) == 4L)
    assert(same.getDouble(2) == 0.0)
    val b = Seq(10.0, 11.0, 12.0).toDF("m")
    val disj = Quality.ksTest(a, b, "m").collect().head
    assert(disj.getDouble(2) == 1.0)
    // half-shifted: a={1..4}, c={3,4,5,6} → max gap at v=2: |2/4 - 0| = 0.5
    val c = Seq(3.0, 4.0, 5.0, 6.0).toDF("m")
    assert(Quality.ksTest(a, c, "m").collect().head.getDouble(2) == 0.5)
  }

  test("lineDedup: first occurrence survives corpus-wide, docs rebuild in order") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "keep me\nboilerplate footer\nunique one"),
      (2L, "boilerplate footer\nfresh line"),
      (3L, "boilerplate footer") // fully duplicate doc → empty rebuild
    ).toDF("doc_id", "text")
    val r = TextAnalysis.lineDedup(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getString(3)))
      .toMap
    assert(r(1L) == ((3L, 3L, "keep me\nboilerplate footer\nunique one")))
    assert(r(2L) == ((2L, 1L, "fresh line")))
    assert(r(3L) == ((1L, 0L, "")))
  }

  test("unigramEncodeCounts: Viterbi segmentation follows the probabilities") {
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "abab ab")).toDF("doc_id", "text")
    def enc(pAb: Double): (Long, Long) = {
      val vocab = Seq(("a", 0.1), ("b", 0.1), ("ab", pAb))
        .toDF("piece", "prob")
      val r = TextAnalysis.unigramEncodeCounts(docs, vocab, maxPieceLen = 2)
        .collect().head
      (r.getLong(1), r.getLong(2))
    }
    // strong "ab": abab → ab·ab (2 pieces), ab → ab (1) ⇒ 3 total
    assert(enc(0.5) == ((2L, 3L)))
    // weak "ab": char paths win — abab → 4, ab → 2 ⇒ 6 total
    assert(enc(0.005) == ((2L, 6L)))
    // a vocab-less char yields a null count, not a fabricated one
    val bad = Seq(("a", 0.5)).toDF("piece", "prob")
    val r = TextAnalysis.unigramEncodeCounts(docs, bad, maxPieceLen = 2)
      .collect().head
    assert(r.isNullAt(2))
  }

  test("maximalMatching: round-bound residual surfaces as null-round rows") {
    import graft.operators.Graph
    // path 1..6: round 1 matches only (1,2) (the global minimum chains);
    // with maxRounds = 1 the remaining pairable edges must ride along
    // with round = NULL instead of silently vanishing
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val m = Graph.maximalMatching(e, maxRounds = 1).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(m((1L, 2L)) == Some(0L))
    assert(Set((3L, 4L), (4L, 5L), (5L, 6L)).forall(p => m(p).isEmpty))
    assert(m.size == 4)
    // enough rounds: converged, no null rows
    val full = Graph.maximalMatching(e, maxRounds = 8).collect()
    assert(full.forall(!_.isNullAt(2)))
  }

  test("shortestPaths directed: one-way relaxation, parallel edges sum") {
    import graft.operators.Graph
    // 1 →(2.0) 2 →(3.0) 3, plus a cheap BACKWARD edge 3→1 the forward
    // run must ignore; parallel 1→2 edges sum (2.0 + 1.0 = 3.0)
    val e = Seq((1L, 2L, 2.0), (1L, 2L, 1.0), (2L, 3L, 3.0), (3L, 1L, 0.5))
      .toDF("src", "dst", "w")
    val src = Seq(1L).toDF("node")
    val d = Graph.shortestPaths(e, src, maxHops = 4, weightCol = Some("w"),
      directed = true).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d == Map(1L -> 0.0, 2L -> 3.0, 3L -> 6.0))
    // from node 3, only the backward edge leads anywhere
    val d3 = Graph.shortestPaths(e, Seq(3L).toDF("node"), maxHops = 4,
      weightCol = Some("w"), directed = true).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d3 == Map(3L -> 0.0, 1L -> 0.5, 2L -> 3.5))
    // the undirected run reaches 3 more cheaply via the back edge
    val du = Graph.shortestPaths(e, src, maxHops = 4, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(du(3L) == 0.5)
  }
}
