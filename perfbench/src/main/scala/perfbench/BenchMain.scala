package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import graft.SparkEntry
import graft.model.{EdgeSpec, GraphModel, NodeSpec}
import graft.ops.GraphOps
import graft.pipeline.GraphProjection
import graft.sink.FlightSink
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, GraftArrow, SparkSession}

/** JVM side of the benchmark (perfbench/run.py drives it). One process
  * runs one workload as a closed loop with a single client: the next
  * iteration starts when the previous one has finished.
  *
  *   --mode oracle  write the workload's DuckDB oracle SQL and exit
  *   --mode run     start the session and run one cold iteration that
  *                  writes its outputs (`setup_s` is the time from main()
  *                  to its end); unless --seconds is 0, warm up, run warm
  *                  iterations for --seconds, then the untimed
  *                  verification work
  *
  * With --trace 1, iterations alternate untraced / traced; a traced one
  * records spans and registers a [[JobProbe]] listener. Results go to
  * `<out>/result.json` (and the spans to `<out>/spans.json`). */
object BenchMain {
  /** The query workloads' passes, in run order. `graph_curate` is sized
    * so that two cold set-ups and a measured pass fit one benchmark run;
    * `graph_large` takes minutes per pass and is run by hand (see README).
    * perfbench/run.py keeps the same lists. */
  val Queries: Map[String, Seq[String]] = Map(
    "graph_curate" -> Seq("graph_kcore", "text_bpe_encode", "sample_weighted",
      "dedup_simhash", "sim_cosine_topk"),
    "graph_large" -> Seq("graph_kcore", "graph_pagerank", "graph_wsp"))

  val WarmupSeconds = 4.0
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  type Rec = Map[String, Any]

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (workload, mode, out) = (o("workload"), o("mode"), o("out"))
    new File(out).mkdirs()
    if (mode == "oracle") {
      write(s"$out/oracle.json", Queries(workload).map(q => q -> SparkEntry.oracleSql(q)).toMap)
      return
    }
    val cores = o("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o("local-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.init(spark.sparkContext)
    val w: Workload =
      if (workload == "gds_load") new GdsLoad(spark, o("data"))
      else new QueryPass(spark, o("data"), Queries(workload))

    val result = mutable.LinkedHashMap[String, Any]()
    // the cold iteration writes its outputs, as a one-shot user's run does;
    // they are checked after the clock stops
    result("setup_iteration") = w.iteration(Some(s"$out/outputs"))
    result("setup_s") = (System.nanoTime() - t0) / 1e9
    val traced = o("trace") == "1"
    val seconds = o("seconds").toDouble
    // --seconds 0: a set-up sample only
    if (seconds > 0) {
      // unmeasured warm-up: JIT-compiled code and codegen caches keep
      // improving for several iterations after the cold one
      val warm = System.nanoTime()
      while ((System.nanoTime() - warm) / 1e9 < WarmupSeconds) w.iteration(None)
      val heap = new HeapWatch
      val iters = mutable.ArrayBuffer.empty[Rec]
      val start = System.nanoTime()
      // traced runs measure untraced/traced pairs, so the overhead of
      // tracing is taken under the same conditions
      while ((System.nanoTime() - start) / 1e9 < seconds || (traced && iters.size % 2 == 1)) {
        iters += (if (traced && iters.size % 2 == 1) tracedIteration(spark, w)
                  else w.iteration(None) + ("traced" -> false))
      }
      heap.stop()
      result("iterations") = iters.toSeq
      result("heap_peak_mb") = heap.peakMb
      if (traced) {
        write(s"$out/spans.json", Trace.all.map(s => Map("id" -> s.id, "trace" -> s.trace,
          "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs, "self_s" -> Trace.selfSeconds(s))))
      }
      result("verify") = w.verify(s"$out/outputs")
    }
    write(s"$out/result.json", result)
    spark.stop()
  }

  private def tracedIteration(spark: SparkSession, w: Workload): Rec = {
    val sc = spark.sparkContext
    val probe = new JobProbe
    sc.addSparkListener(probe)
    val before = ScratchDirs.count()
    Trace.enabled = true
    val rec = try Trace.root("iteration")(w.iteration(None))
    finally {
      Bus.drain(sc)
      sc.removeSparkListener(probe)
    }
    val trace = Trace.lastTrace
    val layers = Layers.summarize(probe, Trace.of(trace)) +
      ("ops.Scratch.tables_left" -> (ScratchDirs.count() - before))
    val probes = try w.probes() finally Trace.enabled = false
    rec ++ Map("traced" -> true, "layers" -> layers, "probes" -> probes)
  }

  def write(path: String, v: Any): Unit = {
    val tmp = new File(path + ".tmp")
    json.writeValue(tmp, v)
    tmp.renameTo(new File(path))
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

trait Workload {
  /** One iteration: one load, or one pass over the queries. Query outputs
    * go to the `noop` sink, or to parquet under `outputs` when given. */
  def iteration(outputs: Option[String]): BenchMain.Rec
  /** Untimed work that yields what run.py checks: a decoding load for the
    * pipeline, the written outputs' Arrow size for query passes. */
  def verify(outputs: String): BenchMain.Rec
  /** Partial-pipeline probes that split a traced iteration by layer. */
  def probes(): BenchMain.Rec = Map.empty
}

/** The paper's pipeline: route node and edge files through a graph model
  * into the Flight sink, with the in-memory [[CountingTransport]]. */
final class GdsLoad(spark: SparkSession, data: String) extends Workload {
  // Routing matches the FULL file path and every file is named
  // part-NNNNN.parquet, so each regex is anchored on its table directory.
  private def in(t: String) = s".*/$t/[^/]+\\.parquet$$"
  private val model = GraphModel(
    name = "perfbench",
    nodes = Seq(
      NodeSpec(in("customer"), labelField = Some("c_mktsegment"), keyField = Some("c_custkey"),
        properties = Map("c_acctbal" -> "acctbal", "c_nationkey" -> "nation")),
      NodeSpec(in("part"), keyField = Some("p_partkey"),
        properties = Map("p_retailprice" -> "price", "p_size" -> "size")),
      NodeSpec(in("supplier"), keyField = Some("s_suppkey"),
        properties = Map("s_acctbal" -> "acctbal")),
      NodeSpec(in("orders"), keyField = Some("o_orderkey"),
        properties = Map("o_totalprice" -> "totalprice", "o_orderdate" -> "date"))),
    edges = Seq(
      EdgeSpec(in("orders"), sourceField = Some("o_custkey"), targetField = Some("o_orderkey"),
        properties = Map("o_orderpriority" -> "priority")),
      EdgeSpec(in("lineitem"), sourceField = Some("l_orderkey"), targetField = Some("l_partkey"),
        properties = Map("l_quantity" -> "quantity", "l_extendedprice" -> "price"))))
  private val nodeTables = Seq("customer", "part", "supplier", "orders")
  private val edgeTables = Seq("orders", "lineitem")

  private def load(decode: Boolean) = {
    CountingTransport.reset(decode)
    val sink = new TimedSink(new FlightSink(CountingTransport.config, CountingTransport.factory))
    val r = Trace.span("pipeline.GraphProjection.run") {
      GraphProjection.run(spark, model, nodeTables.map(t => s"$data/$t"),
        edgeTables.map(t => s"$data/$t"), sink)
    }
    (r, sink)
  }

  override def iteration(outputs: Option[String]): BenchMain.Rec = {
    val ((r, sink), wall) = BenchMain.timed(load(decode = false))
    val (n, e) = (CountingTransport.stream("nodes"), CountingTransport.stream("edges"))
    Map("wall_s" -> wall,
      "ops" -> Seq(
        Map("name" -> "nodes_phase", "s" -> sink.nodesPhaseSeconds, "ok" -> true),
        Map("name" -> "edges_phase", "s" -> sink.edgesPhaseSeconds, "ok" -> true)),
      "rows" -> r.finalStats.count, "bytes" -> r.finalStats.nbytes,
      "node_rows" -> sink.nodeResults.map(_.count).toSeq,
      "edge_rows" -> sink.edgeResults.map(_.count).toSeq,
      "transport_bytes" -> (n.bytes.sum() + e.bytes.sum()),
      "puts" -> (n.puts.sum() + e.puts.sum()),
      "order_ok" -> CountingTransport.orderOk,
      "control_s" -> CountingTransport.controlSeconds,
      "busy_s" -> CountingTransport.busySeconds)
  }

  override def verify(outputs: String): BenchMain.Rec = {
    val (r, _) = load(decode = true)
    def st(d: String) = {
      val s = CountingTransport.stream(d)
      Map("rows" -> s.rows.sum(), "puts" -> s.puts.sum(),
        "max_rows_per_put" -> s.maxRowsPerPut.get,
        "checksum" -> java.lang.Long.toUnsignedString(s.checksum.sum()))
    }
    Map("rows" -> r.finalStats.count, "bytes" -> r.finalStats.nbytes,
      "nodes" -> st("nodes"), "edges" -> st("edges"), "order_ok" -> CountingTransport.orderOk)
  }

  /** The three probes re-run the load's node and edge reads up to one
    * layer each: the pruned scan, + projection, + Arrow IPC encode
    * (payloads counted, not shipped). Each later probe includes the earlier
    * ones' work, so a layer's self time is the difference of adjacent
    * probes. */
  override def probes(): BenchMain.Rec = {
    val specs: Seq[(DataFrame, Option[Seq[String]], DataFrame => DataFrame)] =
      model.nodes.zip(nodeTables).map { case (spec, t) =>
        (scan(t), spec.neededColumns, (df: DataFrame) => GraphOps.projectNode(df, spec))
      } ++ model.edges.zip(edgeTables).map { case (spec, t) =>
        (scan(t), spec.neededColumns, (df: DataFrame) => GraphOps.projectEdge(df, spec))
      }
    val reads = specs.map { case (df, needed, project) =>
      val pruned = GraphOps.pruneFor(df, needed)
      (pruned.drop(GraphOps.SrcCol), project(pruned))
    }
    // drain rows the way the encoder consumes them (`toRdd`), so the three
    // probes differ only by the layer each adds
    def drain(df: DataFrame): Unit = df.queryExecution.toRdd.foreachPartition(_.foreach(_ => ()))
    val probes: Seq[(String, ((DataFrame, DataFrame)) => Unit)] = Seq(
      "sources.scan" -> (r => drain(r._1)),
      "ops.GraphOps.project" -> (r => drain(r._2)),
      "GraftArrow.encode" -> (r => GraftArrow.sendIpcStream(r._2)((_, _) => ())))
    // three interleaved rounds, median per probe: one round is too noisy
    // for the differences between probes to mean anything
    val rounds = Seq.fill(3)(probes.map { case (name, f) =>
      name -> Trace.root(name)(BenchMain.timed(reads.foreach(f))._2)
    })
    probes.map { case (name, _) =>
      s"${name}_s" -> rounds.map(_.toMap.apply(name)).sorted.apply(1)
    }.toMap
  }

  private def scan(t: String): DataFrame = {
    val dir = new File(data, t)
    val files = dir.listFiles().filter(_.getName.endsWith(".parquet")).map(_.toURI.toString).sorted
    GraphOps.tagProvenance(spark.read.option("mergeSchema", "true").parquet(files.toIndexedSeq: _*))
  }
}

/** One pass over registered `SparkEntry.queries`, each forced through the
  * `noop` sink (every output row computed, nothing collected). */
final class QueryPass(spark: SparkSession, data: String, queries: Seq[String]) extends Workload {
  override def iteration(outputs: Option[String]): BenchMain.Rec = {
    val t0 = System.nanoTime()
    val ops = queries.map { q =>
      val s = System.nanoTime()
      val err = try {
        Trace.span(s"query.$q") {
          val w = SparkEntry.queries(q)(spark, data).write.mode("overwrite")
          outputs.fold(w.format("noop").save())(d => w.parquet(s"$d/$q"))
        }
        None
      } catch { case NonFatal(e) => Some(e.toString.take(300)) }
      Map("name" -> q, "s" -> (System.nanoTime() - s) / 1e9, "ok" -> err.isEmpty) ++
        err.map("error" -> _)
    }
    Map("wall_s" -> (System.nanoTime() - t0) / 1e9, "ops" -> ops)
  }

  /** Rows and Arrow IPC bytes of each written output (run.py compares the
    * outputs themselves with the DuckDB oracle). */
  override def verify(outputs: String): BenchMain.Rec = queries.map { q =>
    val path = s"$outputs/$q"
    val rec: BenchMain.Rec = try {
      val (rows, bytes) = GraftArrow.sendIpcStream(spark.read.parquet(path))((_, _) => ())
      Map("ok" -> true, "rows" -> rows, "wire_bytes" -> bytes, "path" -> path)
    } catch { case NonFatal(e) => Map("ok" -> false, "error" -> e.toString.take(300)) }
    q -> rec
  }.toMap
}

/** Per-layer metrics of one traced iteration, from its spans and the
  * jobs the listener attributed to them. */
object Layers {
  def summarize(p: JobProbe, spans: Seq[Span]): BenchMain.Rec = {
    val ids = spans.map(_.id).toSet
    val root = spans.find(_.parent == -1).get
    val jobs = p.jobs.filter(j => ids(j.span)).sortBy(_.id)
    // a stage shared by several jobs (reused shuffle) counts once, for
    // the first job that lists it; only stages that ran have metrics
    val stageJob = mutable.LinkedHashMap.empty[Int, p.Job]
    jobs.foreach(j => j.stages.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j))
    val ran = stageJob.keys.filter(p.stageSpan.contains).toSeq
    def work(js: Set[Int]): Work = {
      val w = new Work
      ran.filter(s => js(stageJob(s).id)).foreach(s => p.stageWork.get(s).foreach(w.add))
      w
    }
    val all = work(jobs.map(_.id).toSet)
    val busy = Intervals.unionLength(ran.map { s =>
      val (a, b) = p.stageSpan(s)
      (math.max(a, root.startMs), math.min(b, root.endMs))
    }) / 1e3
    val wall = root.seconds
    val gap = math.max(0.0, wall - busy)
    val byModule = JobProbe.Reported.flatMap { m =>
      val js = jobs.filter(_.module == m)
      val w = work(js.map(_.id).toSet)
      Seq(s"$m.jobs" -> js.size.toLong) ++
        (if (m == "ops.Pin") Seq("ops.Pin.result_bytes" -> w.resultBytes) else Nil) ++
        (if (m == "ops.Scratch") Seq("ops.Scratch.output_bytes" -> w.outputBytes) else Nil)
    }
    val querySpans = spans.filter(s => s.parent == root.id && s.name.startsWith("query."))
    // jobs per module inside each query's span (and its child spans)
    val queryOf = querySpans.flatMap(q => spans.filter(s => within(s, q, spans)).map(_.id -> q.name)).toMap
    val jobsByQuery = jobs.filter(j => queryOf.contains(j.span)).groupBy(j => queryOf(j.span))
      .map { case (q, js) => q -> js.groupBy(_.module).map { case (m, g) => m -> g.size } }
    val selfTimes = spans.groupBy(_.name).map { case (n, ss) =>
      s"span_self.$n" -> ss.map(Trace.selfSeconds).sum }
    Map("spark.jobs" -> jobs.size.toLong, "spark.stages" -> ran.size.toLong,
      "spark.tasks" -> all.tasks,
      "spark.executor_run_s" -> all.runMs / 1e3, "spark.executor_cpu_s" -> all.cpuNs / 1e9,
      "spark.driver_gap_s" -> gap, "spark.driver_gap_share" -> gap / wall,
      "spark.input_bytes" -> all.inputBytes, "spark.shuffle_read_bytes" -> all.shuffleRead,
      "spark.shuffle_write_bytes" -> all.shuffleWrite, "spark.spill_bytes" -> all.spill,
      "spark.output_bytes" -> all.outputBytes, "spark.result_bytes" -> all.resultBytes,
      "jobs_by_module" -> jobs.groupBy(_.module).map { case (m, js) => m -> js.size },
      "jobs_by_query" -> jobsByQuery) ++
      byModule ++ querySpans.map(s => s"${s.name}_s" -> s.seconds) ++ selfTimes
  }

  /** `s` is `q` or one of its descendants. */
  private def within(s: Span, q: Span, spans: Seq[Span]): Boolean = {
    val byId = spans.map(x => x.id -> x).toMap
    Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent))).takeWhile(_.isDefined)
      .exists(_.get.id == q.id)
  }
}

/** Scratch tables (`graft.ops.Scratch`) live under a per-JVM temp root;
  * the count of its entries shows tables a pass leaves behind. */
object ScratchDirs {
  def count(): Long =
    Option(graft.ops.Scratch.localRoot.toFile.listFiles()).fold(0L)(_.length.toLong)
}

/** Driver heap high-water mark from GC notifications: the largest heap
  * still in use right after a collection (the retained set). Local mode
  * runs tasks in this JVM too. */
final class HeapWatch extends NotificationListener {
  @volatile private var after = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case b: NotificationEmitter => b
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  beans.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      def used(m: java.util.Map[String, java.lang.management.MemoryUsage]) =
        m.asScala.collect { case (k, u) if heapPools(k) => u.getUsed }.sum
      synchronized { after = math.max(after, used(info.getGcInfo.getMemoryUsageAfterGc)) }
    }

  def stop(): Unit = beans.foreach(b => scala.util.Try(b.removeNotificationListener(this)))
  def peakMb: Double = after / 1048576.0
}
