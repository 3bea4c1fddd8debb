package graft

import graft.operators.{Events, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-8 operators: BM25 retrieval scoring, lexical diversity,
  * SemDeDup, per-type z-score anomalies. Laws, not golden values — the
  * value-level gate is the DuckDB oracle (text_bm25 / text_ttr /
  * dedup_semantic / ev_anomaly / stats_corr / sketch_merge). */
class Round8OpsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(s"${sf()}/documents.parquet")
  private lazy val emb =
    spark.read.parquet(s"${sf()}/embeddings.parquet")
  private lazy val events =
    Events.normalizeEventTs(spark.read.parquet(s"${sf()}/events.parquet"))

  test("bm25: scored docs are exactly those containing a query term") {
    val terms = Seq("join", "vector")
    val scored = TextAnalysis.bm25Scores(docs, terms)
    val expected = docs
      .filter(arrays_overlap(graft.functions.TextFunctions.tokens(col("text")),
        array(terms.map(lit(_)): _*)))
      .count()
    assert(scored.count() == expected)
    // scores strictly positive: idf = ln(1 + x) with x > 0 and tf >= 1
    assert(scored.filter(col("bm25") <= 0d).count() == 0)
  }

  test("bm25: a doc repeating a rare term outranks one mentioning it once") {
    val tiny = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha alpha alpha beta"),
      (3L, "beta gamma delta")).toDF("doc_id", "text")
    val m = TextAnalysis.bm25Scores(tiny, Seq("alpha"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(m.keySet == Set(1L, 2L))
    assert(m(2L) > m(1L))
  }

  test("lexicalDiversity: ttr in (0,1], types <= tokens") {
    val d = TextAnalysis.lexicalDiversity(docs)
    assert(d.count() == docs.count())
    assert(d.filter(col("n_types") > col("n_tokens")).count() == 0)
    assert(d.filter(col("ttr") <= 0d || col("ttr") > 1d).count() == 0)
  }

  test("semanticDedup: one row per vector; the smallest id always survives") {
    val v = Similarity.semanticDedup(emb, threshold = 0.40)
    assert(v.count() == emb.count())
    val minId = emb.agg(min(col("vec_id"))).head().getLong(0)
    assert(v.filter(col("vec_id") === minId).head().getBoolean(2))
    // verdicts partition the corpus: kept + dropped = all
    val kept = v.filter(col("kept")).count()
    val dropped = v.filter(!col("kept")).count()
    assert(kept + dropped == emb.count() && kept >= 1)
  }

  test("semanticDedup: exact duplicate vectors collapse to the min id") {
    val base = Seq.tabulate(6)(i =>
      (i.toLong, Seq.tabulate(4)(j => (i * 4 + j + 1).toFloat)))
    val dup = (100L, base.head._2) // identical to vec 0
    val df = (base :+ dup).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, threshold = 0.999999, cells = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(0L) && !out(100L))
  }

  test("anomalies: every flagged event is past the threshold, and joins back") {
    val a = Events.anomalies(events, zThreshold = 2.5)
    assert(a.filter(abs(col("z")) <= 2.5).count() == 0)
    assert(a.count() < events.count())
    // event ids exist in the source
    assert(a.join(events, Seq("event_id"), "left_anti").count() == 0)
  }

  test("anomalies: zero-variance types are skipped, not NaN") {
    val flat = Seq((1L, "a", 5.0), (2L, "a", 5.0), (3L, "b", 1.0),
      (4L, "b", 100.0), (5L, "b", 1.0), (6L, "b", 1.0))
      .toDF("event_id", "event_type", "value")
    val out = Events.anomalies(flat, zThreshold = 1.0)
    assert(out.filter(col("event_type") === "a").count() == 0)
    assert(out.filter(isnan(col("z"))).count() == 0)
  }

  test("normalizeEventTs: long nanos and ntz micros converge to the same micros") {
    val micros = 1700000000123456L
    val fromLong = Events.normalizeEventTs(
      Seq(micros * 1000L).toDF("ts"))
    val fromNtz = Events.normalizeEventTs(
      Seq(micros).toDF("us").select(
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")))
    val a = fromLong.select(unix_micros(col("ts"))).head().getLong(0)
    val b = fromNtz.select(unix_micros(col("ts"))).head().getLong(0)
    assert(a == micros && b == micros)
  }

  test("anomalies with a static reference runs unchanged over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val fixture = Seq(
      (1L, "click", 10.0), (2L, "click", 11.0), (3L, "click", 9.0),
      (4L, "click", 10.5), (5L, "click", 95.0), (6L, "view", 2.0))
    val reference = fixture.toDF("event_id", "event_type", "value")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val q = Events.anomalies(
      input.toDS().toDF("event_id", "event_type", "value"),
      zThreshold = 1.5, reference = Some(reference))
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("anomaly_stream").start()
    try {
      input.addData(fixture.take(3): _*)
      q.processAllAvailable()
      input.addData(fixture.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT event_id FROM anomaly_stream")
        .collect().map(_.getLong(0)).toSet
      val batch = Events.anomalies(reference, zThreshold = 1.5,
        reference = Some(reference)).collect().map(_.getLong(0)).toSet
      assert(streamed == batch && streamed.contains(5L))
    } finally q.stop()
  }

  test("scc: cycles collapse, one-way bridges don't, singletons stay") {
    val g = graft.operators.Graph
    // 1->2->3->1 (cycle), 3->4 (bridge), 4->5->4 (cycle), 6->7 (chain)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 4L), (6L, 7L)).toDF("src", "dst")
    val scc = g.stronglyConnectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 6L, 7L -> 7L))
  }

  test("scc: a singleton-SCC chain needs partition refinement, not peeling") {
    val g = graft.operators.Graph
    // a descending chain 10->9->...->1: every SCC is a singleton and f
    // (min reacher) differs from b (min reachable) for every interior
    // node — the shape that took 20+ rounds under pure min-basin peeling
    val chain = (1L until 10L).map(i => (i + 1, i)).toDF("src", "dst")
    val scc = g.stronglyConnectedComponents(chain, maxOuterRounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc == (1L to 10L).map(i => i -> i).toMap)
  }

  test("scc: empty edges give an empty result") {
    val noEdges = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
    assert(graft.operators.Graph.stronglyConnectedComponents(noEdges).count() == 0)
  }

  test("transitionMatrix: probabilities partition each current type, steps = N - U") {
    val m = Events.transitionMatrix(events).collect()
    // per current type, P(next | current) sums to 1 (6-dp rounded terms)
    m.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    }
    // every user contributes (its events - 1) steps
    val n = events.count()
    val u = events.select("user_id").distinct().count()
    assert(m.map(_.getLong(2)).sum == n - u)
  }

  test("pcaTopComponent: unit-L1 component, deterministic, empty-safe") {
    val pc = Similarity.pcaTopComponent(emb, iters = 2).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1)
    assert(pc.length == 64 && pc.map(_._1).toSeq == (0 until 64))
    // L1-normalized up to the 9-dp rounding of each loading
    assert(math.abs(pc.map(x => math.abs(x._2)).sum - 1.0) < 1e-6)
    // a dominant direction exists (not the degenerate uniform vector)
    assert(pc.map(x => math.abs(x._2)).max > 1.5 / 64)
    val again = Similarity.pcaTopComponent(emb, iters = 2).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1)
    assert(pc.toSeq == again.toSeq)
    val noVecs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    assert(Similarity.pcaTopComponent(noVecs).count() == 0)
    // projection: one coordinate per vector, not all identical (the
    // component separates the corpus), zero-shuffle map-side plan
    val proj = Similarity.pcaProject(emb,
      Similarity.pcaTopComponent(emb, iters = 2))
    val physical = proj.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange hashpartitioning"),
      s"projection must not shuffle the corpus:\n$physical")
    val coords = proj.collect().map(_.getDouble(1))
    assert(coords.length == emb.count().toInt && coords.distinct.length > 1)
  }

  test("pcaTopComponent: a zero-length vector adds no cells") {
    // sequence(0, -1) descends: without a guard, one empty row fails
    // the whole job instead of emitting no covariance cells
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val withEmpty = vecs.unionByName(
      Seq((-1L, Array.empty[Float])).toDF("vec_id", "embedding"))
    def component(df: org.apache.spark.sql.DataFrame) =
      Similarity.pcaTopComponent(df, iters = 2).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1).toSeq
    assert(component(withEmpty) == component(vecs))
  }

  test("empty inputs: round-8 operators degrade to empty, not throw") {
    val noDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    assert(TextAnalysis.bm25Scores(noDocs, Seq("x")).count() == 0)
    assert(TextAnalysis.lexicalDiversity(noDocs).count() == 0)
    val noEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType))))
    assert(Events.anomalies(noEvents).count() == 0)
    val noVecs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    assert(Similarity.semanticDedup(noVecs).count() == 0)
  }
}
