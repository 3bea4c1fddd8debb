package graft

import graft.operators.Corpus
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkTestBase {
  import spark.implicits._

  test("connected components: chains collapse to min-id clusters") {
    // 1-2, 2-3 chain + separate 10-11 pair: transitivity must fire
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val cc = Corpus.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: distributed loop agrees with union-find") {
    // a 40-link chain + random extra pairs; the gate conf at 0 forces
    // the scratch-table loop, default takes the driver fast path
    val rng = new scala.util.Random(11)
    val chain = (0 until 40).map(i => (100L + i, 101L + i))
    val extra = (0 until 30).map(_ => (rng.nextInt(50).toLong, rng.nextInt(50).toLong))
      .filter(p => p._1 != p._2)
    val pairs = (chain ++ extra).toDF("a", "b")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = asMap(
      withConf("spark.graft.maxLocalEdges" -> "0")(Corpus.connectedComponents(pairs)))
    val viaUf = asMap(Corpus.connectedComponents(pairs))
    assert(viaLoop == viaUf && viaUf.nonEmpty)
  }

  test("connected components: string ids keep their type on BOTH paths") {
    // the driver fast path must not coerce ids to long (it used to cast →
    // null → NPE) and must label by the same lexicographic min the
    // distributed path's min/least aggregates use
    val pairs = Seq(("docB", "docA"), ("docB", "docC"), ("zz", "zy")).toDF("a", "b")
    def asMap(df: org.apache.spark.sql.DataFrame) = {
      assert(df.schema.fields.map(_.dataType).toSeq ==
        Seq(org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    val expected = Map("docA" -> "docA", "docB" -> "docA", "docC" -> "docA",
      "zy" -> "zy", "zz" -> "zy")
    assert(asMap(Corpus.connectedComponents(pairs)) == expected)
    assert(asMap(withConf("spark.graft.maxLocalEdges" -> "0")(
      Corpus.connectedComponents(pairs))) == expected)
  }

  test("connected components: superseded scratch tables are retired eagerly") {
    val root = graft.ops.Scratch.localRoot.toFile
    def scratchDirs() = Option(root.listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.startsWith("cc_"))
    val before = scratchDirs()
    // force the distributed loop (several iterations on a chain)
    val pairs = (0 until 25).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    withConf("spark.graft.maxLocalEdges" -> "0")(Corpus.connectedComponents(pairs))
      .collect()
    // only the FINAL labels table may remain; pairs + per-iteration
    // labels tables must be gone
    assert(scratchDirs() - before <= 1)
  }

  test("dupClusters: singletons label themselves; nothing stays persisted") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = Seq((1L, "x"), (2L, "x"), (5L, "y")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val out = Corpus.dupClusters(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
    val leaked = spark.sparkContext.getPersistentRDDs.filterNot(kv => before(kv._1))
    assert(leaked.isEmpty)
  }

  test("mixtureSample: deterministic and nested across rates") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    def ids(rate: Double) = Corpus.mixtureSample(docs, Map.empty, rate)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val half = ids(0.5)
    assert(ids(0.5) == half) // reproducible
    assert(half.subsetOf(ids(0.75))) // nested samples
    assert(ids(1.0).size == docs.count()) // rate 1 keeps everything
    val n = docs.count().toDouble
    assert(math.abs(half.size / n - 0.5) < 0.15) // roughly the rate
  }

  test("sampleFixedPerGroup: exact size, nested in k, deterministic") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    def ids(k: Int) = Corpus.sampleFixedPerGroup(docs, k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sizes = Corpus.sampleFixedPerGroup(docs, 10).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val groupSizes = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    groupSizes.foreach { case (g, n) => assert(sizes(g) == math.min(10L, n)) }
    assert(ids(10).subsetOf(ids(20))) // nested samples
    assert(ids(10) == ids(10)) // reproducible
  }

  test("salted coins compose: splits of a sampled corpus stay proportional") {
    // with ONE unsalted coin, every survivor of a 50% sample would have
    // coin < 2^31 and a downstream 80/20 split would put them ALL in
    // train — the per-purpose salts make the draws independent
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val sampled = Corpus.mixtureSample(docs, Map.empty, defaultRate = 0.5)
    val counts = Corpus.assignSplits(sampled, Seq("train" -> 0.8, "valid" -> 0.2))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "valid")) // valid must be non-empty
    val n = counts.values.sum.toDouble
    assert(math.abs(counts("valid") / n - 0.2) < 0.12)
  }

  test("assignSplits: total, disjoint, deterministic, ~proportional") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val splits = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val out = Corpus.assignSplits(docs, splits)
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count()
    assert(counts.values.sum == n) // total: every doc in exactly one split
    assert(counts.keySet == Set("train", "valid", "test"))
    assert(math.abs(counts("train").toDouble / n - 0.8) < 0.1)
    // deterministic across invocations
    val again = Corpus.assignSplits(docs, splits).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == counts)
  }

  test("packChunks: chunk ids are the greedy token-budget assignment") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val out = Corpus.packChunks(docs, targetTokens = 512)
    val rows = out.filter(col("part") === "en").orderBy("doc_id").collect()
    assume(rows.length > 2)
    var cum = 0L
    rows.foreach { r =>
      assert(r.getLong(3) == cum / 512) // chunk_id = start div target
      cum += r.getLong(2)
    }
  }

  test("prepareTrainingSet: dedups, decontaminates, splits, shards") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    // every 50th doc is "the benchmark"
    val bench = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    val out = java.nio.file.Files.createTempDirectory("graft_train_").toString
    try {
      val kept = Corpus.prepareTrainingSet(docs, bench, out,
        splits = Seq("train" -> 0.8, "valid" -> 0.2), nShards = 2)
      val back = spark.read.parquet(out)
      assert(back.count() == kept.count() && kept.count() > 0)
      assert(kept.count() < docs.count()) // something was dropped
      // benchmark members flag themselves (full self-overlap) -> absent
      val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
      val benchIds = bench.collect().map(_.getLong(0)).toSet
      assert(benchIds.intersect(keptIds).isEmpty)
      // kept set is dup-free: any two cluster representatives that were
      // near-dups would have been one cluster, so re-running the
      // verifier over survivors must find zero pairs
      assert(graft.operators.Dedup.lshJaccard(
        docs.join(kept.select("doc_id"), "doc_id"), minJaccard = 0.2).count() == 0)
      assert(back.select("split").distinct().count() == 2)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("writeShards: one file per leaf dir, deterministic, lossless") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val withSplit = Corpus.assignSplits(docs, Seq("train" -> 0.9, "test" -> 0.1))
    val out = java.nio.file.Files.createTempDirectory("graft_shards_").toString
    try {
      Corpus.writeShards(withSplit, out, nShards = 4)
      val back = spark.read.parquet(out)
      assert(back.count() == docs.count())
      assert(back.select("doc_id").distinct().count() == docs.count())
      // one data file per split=/shard= leaf directory
      val leaves = new java.io.File(out).listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles().filter(_.isDirectory))
      assert(leaves.nonEmpty)
      leaves.foreach { d =>
        assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1, d.toString)
      }
      // shard assignment is a pure function of doc_id: rewriting yields
      // identical (doc_id, split, shard) triples
      val a = back.select("doc_id", "split", "shard").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      Corpus.writeShards(withSplit, out, nShards = 4)
      val b = spark.read.parquet(out).select("doc_id", "split", "shard").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(a == b)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("decontaminate: shared token n-grams flag docs; clean docs pass") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog sat down"))
      .toDF("bench_id", "text")
    val docs = Seq(
      (1L, "totally unrelated content with no overlap at all here today"),
      (2L, "so the quick brown fox jumps over the lazy dog again"), // shares an 8-token gram
      (3L, "short")).toDF("doc_id", "text")
    val out = Corpus.decontaminate(docs, bench, nTokens = 8)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(3))).toMap
    assert(out(1L)._2 == false && out(1L)._1 == 0)
    assert(out(2L)._2 == true && out(2L)._1 > 0)
    assert(out(3L)._2 == false)
    assert(out.size == 3) // closure over ALL docs, not just hits
  }

  test("decontaminateBloom: pre-gated path reproduces the exact verdicts (no false negatives)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val bench = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getBoolean(3))).toSet
    val exact = rows(Corpus.decontaminate(docs, bench))
    // the Bloom sketch admits every benchmark gram (no false negatives)
    // and the exact join re-verifies survivors, so the output is
    // bit-identical to the exact path — even at a sloppy 20% fpp
    assert(rows(Corpus.decontaminateBloom(docs, bench)) == exact)
    assert(rows(Corpus.decontaminateBloom(docs, bench, fpp = 0.2)) == exact)
    // empty benchmark: an empty sketch admits nothing; all docs clean
    val none = Corpus.decontaminateBloom(docs,
      bench.filter(lit(false)), fpp = 0.01)
    assert(none.filter(col("contaminated")).count() == 0)
  }

  test("prepareTrainingSet: fuzzy decontamination drops the paraphrased leak exact misses") {
    // the leak: one typo in the MIDDLE token of a 15-token benchmark
    // doc. Every 8-token gram spans the changed token → ZERO exact
    // overlap; but only ~9 of ~95 char-5-shingles change → Jaccard
    // ≈0.85, well past the 0.5 fuzzy threshold.
    val benchText = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliett kilo lima mike november oscar"
    val leakText = benchText.replace("hotel", "hotle")
    val docs = Seq(
      (1L, leakText, "web"),
      (2L, "completely different content about quantum flux capacitors and travel mechanics", "web"),
      (3L, "another unrelated document describing ocean currents and marine biology topics", "web"))
      .toDF("doc_id", "text", "source")
    val bench = Seq((100L, benchText)).toDF("bench_id", "text")
    def run(out: String, fuzzy: Option[Double]) =
      Corpus.prepareTrainingSet(docs, bench, out, splits = Seq("train" -> 1.0),
          nShards = 1, fuzzyDecontaminate = fuzzy)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val outE = java.nio.file.Files.createTempDirectory("graft_fz_e").toString + "/s"
    val outF = java.nio.file.Files.createTempDirectory("graft_fz_f").toString + "/s"
    assert(run(outE, None) == Set(1L, 2L, 3L)) // exact pass misses the leak
    assert(run(outF, Some(0.5)) == Set(2L, 3L)) // fuzzy pass catches it
  }

  test("decontaminate: benchmark broadcast is gated by observed gram count") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog sat down"))
      .toDF("bench_id", "text")
    val docs = Seq(
      (1L, "totally unrelated content with no overlap at all here today"),
      (2L, "so the quick brown fox jumps over the lazy dog again"))
      .toDF("doc_id", "text")
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def broadcastJoins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: Join if j.hint.leftHint.exists(_.strategy.isDefined) ||
          j.hint.rightHint.exists(_.strategy.isDefined) => j
      }.size
    // under the bound: the gram probe carries the broadcast hint
    val hinted = Corpus.decontaminate(docs, bench)
    assert(broadcastJoins(hinted) == 1)
    // over the bound (forced with maxBroadcastGrams=0): graceful
    // degradation to an UNHINTED join — AQE/stats pick the strategy,
    // nothing force-broadcasts a measured-large relation
    val unhinted = Corpus.decontaminate(docs, bench, maxBroadcastGrams = 0)
    assert(broadcastJoins(unhinted) == 0)
    // identical verdicts on both paths
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(3))).toSet
    assert(rows(hinted) == rows(unhinted))
  }

  test("tfidf: rare terms outrank ubiquitous ones") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "banana banana banana")).toDF("doc_id", "text")
    val out = Corpus.tfidfTopTerms(docs, k = 2).collect()
    val top1 = out.filter(r => r.getLong(0) == 1L && r.getInt(5) == 1).head
    assert(top1.getString(1) == "apple") // df=1, tf=2 beats banana (df=3 -> idf 0)
    assert(out.forall(_.getInt(5) <= 2))
    // banana appears in every doc: idf = ln(1) = 0 everywhere
    assert(out.filter(_.getString(1) == "banana").forall(_.getDouble(4) == 0.0))
  }
}
