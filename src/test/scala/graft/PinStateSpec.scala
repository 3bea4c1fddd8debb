package graft

import org.apache.spark.sql.functions._
import graft.ops.Pin

/** The driver-pinned iteration-state gate (graft.ops.Pin): value
  * identity, the local-relation fast path, and the ENFORCED byte-aware
  * fallback (round-13 advisory: a row bound alone admits multi-GB
  * collects when state rows carry embedding vectors). */
class PinStateSpec extends SparkTestBase {

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().forall {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _ => false
    }

  /** Run `body` with `listener` on the bus, every event drained. */
  private def listening[A](listener: org.apache.spark.scheduler.SparkListener)(
      body: => A): A = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Task-result bytes the driver received from the first job `body`
    * ran (the collect, not the spill write that may follow it). */
  private def collectResultBytes(body: => Unit): Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.atomic.AtomicReference[Set[Int]]()
    listening(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        stages.compareAndSet(null, e.stageIds.toSet)
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && stages.get.contains(e.stageId))
          bytes.addAndGet(e.taskMetrics.resultSize)
    })(body)
    bytes.get
  }

  test("small fixed-width state pins to a local relation, values exact") {
    import spark.implicits._
    val df = Seq((1L, 0, 7L), (2L, 0, 9L)).toDF("walk", "step", "node")
      .withColumn("node", col("node") * 2L)
    val pinned = Pin.state(df, "pin_test")
    assert(isLocal(pinned), "expected a driver-pinned local relation")
    assert(pinned.schema == df.schema)
    assert(pinned.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(_._1).toSeq == Seq((1L, 0, 14L), (2L, 0, 18L)))
  }

  test("wide-vector state over the byte bound takes the distributed path") {
    import spark.implicits._
    // 200 rows x 512-dim double vectors ~ 820 KB of payload: over a
    // 64 KB byte bound even though far under any row bound
    val df = spark.range(200).select(col("id").as("query_id"),
      transform(sequence(lit(1), lit(512)),
        i => i.cast("double") / 7.0d).as("qv"))
    withConf("spark.graft.maxLocalStateBytes" -> (64L * 1024).toString) {
      val pinned = Pin.state(df, "pin_wide")
      assert(!isLocal(pinned),
        "a frontier past the byte bound must fall back to scratch parquet")
      assert(pinned.count() == 200L)
    }
  }

  test("a high-dimensional frame after a low-dimensional one of the same " +
      "schema is bounded in bytes while it is collected") {
    // both frames share one StructType (long, array<double>); a width
    // learned from the 4-dim frame must not size the 512-dim collect
    def vecs(n: Long, dim: Int) = spark.range(0, n, 1, 4).select(
      col("id").as("query_id"),
      transform(sequence(lit(1), lit(dim)),
        i => sin(i.cast("double") + col("id") * 1000.0d)).as("qv"))
    val low = vecs(100, 4)
    val high = vecs(2000, 512) // ~4.1 KB per row, ~8 MB in all
    assert(low.schema == high.schema)
    val bound = 64L * 1024
    withConf("spark.graft.maxLocalStateBytes" -> bound.toString) {
      assert(isLocal(Pin.state(low, "pin_low")), "the 4-dim frame fits")
      val resultBytes = collectResultBytes(
        assert(Pin.place(high, "pin_high_place").rows.isEmpty))
      // each of the 4 partitions stops once past the bound: at most one
      // bound plus one row each, plus task-result framing
      assert(resultBytes < 4L * (bound + 8L * 1024) + 64L * 1024,
        s"$resultBytes bytes reached the driver")
      val pinned = Pin.state(high, "pin_high")
      assert(!isLocal(pinned) && pinned.count() == 2000L)
    }
  }

  test("concurrent pins on one session leave the session conf unchanged") {
    val key = "spark.sql.limit.initialNumPartitions"
    withConf(key -> "7") {
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      @volatile var watching = true
      val watcher = new Thread(() =>
        while (watching) { seen.add(spark.conf.get(key)); Thread.onSpinWait() })
      watcher.start()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val runs = (0 until 4).map { t =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = (1 to 3).map { i =>
              Pin.state(spark.range(10L * t + i).toDF("id"), "pin_conc").count()
            }.sum
          })
        }
        assert(runs.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS)) ==
          (0 until 4).map(t => (1 to 3).map(i => 10L * t + i).sum))
      } finally {
        watching = false
        watcher.join()
        pool.shutdown()
      }
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSet == Set("7"), s"conf values seen: $seen")
      assert(spark.conf.get(key) == "7")
    }
  }

  test("pinned loops equal the distributed loops (bpe / walks / pagerank)") {
    import spark.implicits._
    // pinned fast path (default gate) vs forced-distributed
    // (maxLocalEdges = 0) — exact value equality, the louvain-style
    // differential discipline, on the gated-query fixtures
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .limit(120).select(col("doc_id"), col("text"))
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
      .filter(col("l_partkey") % 4 === 0)
    val e = graft.operators.Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val bpeLocal = sets(graft.operators.TextAnalysis.bpeMerges(docs, rounds = 4))
    val bpeDist = withConf("spark.graft.maxLocalEdges" -> "0")(
      sets(graft.operators.TextAnalysis.bpeMerges(docs, rounds = 4)))
    assert(bpeLocal == bpeDist, "bpe local/distributed divergence")
    val encLocal = sets(graft.operators.TextAnalysis.bpeEncodeCounts(docs, rounds = 4))
    val encDist = withConf("spark.graft.maxLocalEdges" -> "0")(
      sets(graft.operators.TextAnalysis.bpeEncodeCounts(docs, rounds = 4)))
    assert(encLocal == encDist, "bpe-encode local/distributed divergence")
    val rwPinned = sets(graft.operators.Graph.randomWalks(e, steps = 3))
    val rwDist = withConf("spark.graft.maxLocalEdges" -> "0")(
      sets(graft.operators.Graph.randomWalks(e, steps = 3)))
    assert(rwPinned == rwDist, "random-walk pinned/distributed divergence")
    val prPinned = graft.operators.Graph.pageRank(e, iters = 3)
      .select(col("node"), round(col("rank"), 9).as("r"))
    val prDist = withConf("spark.graft.maxLocalEdges" -> "0") {
      sets(graft.operators.Graph.pageRank(e, iters = 3)
        .select(col("node"), round(col("rank"), 9).as("r")))
    }
    assert(sets(prPinned) == prDist, "pagerank pinned/distributed divergence")
  }

  test("state over the row bound takes the distributed path") {
    val df = spark.range(1000).select(col("id").as("walk"),
      lit(0).as("step"), (col("id") * 3L).as("node"))
    withConf("spark.graft.maxLocalEdges" -> "100") {
      val pinned = Pin.state(df, "pin_rows")
      assert(!isLocal(pinned),
        "state past the row bound must fall back to scratch parquet")
      assert(pinned.count() == 1000L)
    }
  }

  test("a compressible frame pins and ships fewer task-result bytes than " +
      "its exact row bytes") {
    // 50 k rows of two longs: 24 exact UnsafeRow bytes each, one
    // repeating value pattern that the io codec squeezes
    val df = spark.range(0, 50000, 1, 4)
      .select((col("id") % 10).as("a"), lit(7L).as("b"))
    val exact = 50000L * 24
    val shipped = collectResultBytes {
      val pinned = Pin.state(df, "pin_codec")
      assert(isLocal(pinned))
      assert(pinned.agg(sum(col("a"))).head().getLong(0) == 5000L * 45)
    }
    assert(shipped < exact, s"$shipped task-result bytes for $exact row bytes")
  }

  test("a frame over the byte bound in many small partitions ships about " +
      "one bound to the driver") {
    // 64 partitions of 1000 (long, hash) rows: 24 KB exact each, far
    // under the 128 KB bound, 1.5 MB in all
    val df = spark.range(0, 64000, 1, 64)
      .select(col("id"), xxhash64(col("id")).as("h"))
    val bound = 128L * 1024
    val part = 1000L * (24 + 4)
    withConf("spark.graft.maxLocalStateBytes" -> bound.toString) {
      val shipped = collectResultBytes {
        val pinned = Pin.state(df, "pin_many")
        assert(!isLocal(pinned) && pinned.count() == 64000L)
      }
      assert(shipped < bound + 4L * part + 64L * 1024,
        s"$shipped task-result bytes for a $bound-byte bound")
    }
  }

  test("an over-bound producer runs its shuffle map stage once across " +
      "collect and spill") {
    val df = spark.range(0, 20000, 1, 4)
      .groupBy((col("id") % 5000).as("k")).agg(count(lit(1)).as("n"))
    withConf("spark.graft.maxLocalEdges" -> "100") {
      // a skipped stage never completes, so only map stages that ran count
      val mapStages = new java.util.concurrent.atomic.AtomicInteger()
      val pinned = listening(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          if (org.apache.spark.StageShuffle.depId(e.stageInfo).isDefined)
            mapStages.incrementAndGet()
      })(Pin.state(df, "pin_once"))
      assert(!isLocal(pinned) && pinned.count() == 5000L)
      assert(mapStages.get == 1, s"${mapStages.get} shuffle map stages ran")
    }
  }

  test("a pinned kCore and a pinned decontaminate write no parquet") {
    import spark.implicits._
    val writes = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (qe.analyzed.exists(_.isInstanceOf[org.apache.spark.sql.execution
            .datasources.InsertIntoHadoopFsRelationCommand])) writes.incrementAndGet()
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val edges = spark.range(0, 300).select(col("id").as("src"),
      ((col("id") * 7 + 3) % 300).as("dst"))
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, "k l m n o p q r s t"))
      .toDF("doc_id", "text")
    val bench = Seq((9L, "a b c d e f g h i")).toDF("bench_id", "text")
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      assert(graft.operators.Graph.kCore(edges, 2).count() > 0L)
      assert(graft.operators.Corpus.decontaminate(docs, bench, nTokens = 4)
        .filter(col("contaminated")).count() == 1L)
    } finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    assert(writes.get == 0, s"${writes.get} parquet writes")
  }
}
