package graft

import java.nio.file.{Files, Paths}

import graft.model.{EdgeSpec, GraphModel, NodeSpec}
import graft.ops.GraphOps
import graft.pipeline.{GraphProjection, Main}
import graft.sink.{FlightConfig, FlightSink, FlightTransport, ParquetWireSink}
import org.apache.spark.{ListenerBusDrain, SparkException}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The load's resolve phase: routing plus one footer job that merges every
  * routed spec's schema before the sink starts. */
class GraphProjectionResolveSpec extends SparkTestBase {
  import spark.implicits._

  private def recordingSink(host: String): FlightSink = {
    RecordingFlightTransport.reset()
    FlightTransport.resetCacheForTests()
    new FlightSink(FlightConfig(host = host), _ => new RecordingFlightTransport)
  }

  test("routing skips hidden files: _SUCCESS, _common_metadata and .crc") {
    val dir = Files.createTempDirectory("graft_hidden").toString
    spark.read.parquet(s"${sf()}/customer.parquet").repartition(2)
      .write.parquet(s"$dir/customer") // Spark writes _SUCCESS and .crc files
    Files.write(Paths.get(dir, "customer", "_common_metadata"), "not parquet".getBytes)
    val names = Files.list(Paths.get(dir, "customer")).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))

    val routed = GraphProjection.expandGlob(spark, s"$dir/customer").map(_.getPath.getName)
    assert(routed.nonEmpty)
    assert(routed.forall(n => n.startsWith("part-") && n.endsWith(".parquet")), routed)
    assert(routed.toSet == names.filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSet)

    val model = GraphModel(name = "hidden",
      nodes = Seq(NodeSpec(".*customer.*", keyField = Some("c_custkey"))))
    val res = GraphProjection.run(spark, model, Seq(s"$dir/customer"), Seq.empty,
      new ParquetWireSink(Files.createTempDirectory("graft_hidden_out").toString))
    assert(res.finalStats.count == 150)
  }

  test("each spec's scan reads exactly its routed files, hidden files excluded") {
    val dir = Files.createTempDirectory("graft_routed").toString
    for (t <- Seq("customer", "orders")) // Spark writes _SUCCESS and .crc files
      spark.read.parquet(s"${sf()}/$t.parquet").repartition(3).write.parquet(s"$dir/$t")
    val customer = GraphProjection.expandGlob(spark, s"$dir/customer")
    val orders = GraphProjection.expandGlob(spark, s"$dir/orders")
    assert(customer.size == 3 && orders.size == 3)
    // a spec can own part of a directory: the second spec routes 2 of 3 files
    val routed = Seq("customer" -> customer, "orders" -> orders.take(2))
    val reads = GraphProjection.routedReads(spark,
      routed.zipWithIndex.map { case ((t, fs), i) => (s"node spec $i ($t)", i, fs) })
    assert(reads.map(_._1) == Seq(0, 1))
    for (((t, fs), (_, df)) <- routed.zip(reads)) {
      val paths = fs.map(_.getPath.toUri.toString)
      assert(df.inputFiles.toSet == paths.toSet, t)
      assert(df.inputFiles.forall(_.split('/').last.startsWith("part-")), df.inputFiles.toSeq)
      val expected = spark.read.parquet(paths: _*)
      assert(df.drop(GraphOps.SrcCol).schema == expected.schema, t)
      assert(df.count() == expected.count(), t)
      assert(df.select(GraphOps.SrcCol).distinct().as[String].collect().toSet == paths.toSet, t)
    }
  }

  test("one load submits one footer job plus one job per routed spec") {
    val model = GraphModel(name = "jobs",
      nodes = Seq(
        NodeSpec(".*customer.*", keyField = Some("c_custkey"),
          properties = Map("c_acctbal" -> "acctbal")),
        NodeSpec(".*orders.*", keyField = Some("o_orderkey"),
          properties = Map("o_totalprice" -> "price"))),
      edges = Seq(
        EdgeSpec(".*orders.*", sourceField = Some("o_custkey"), targetField = Some("o_orderkey")),
        EdgeSpec(".*lineitem.*", sourceField = Some("l_orderkey"),
          targetField = Some("l_partkey"))))
    val sink = recordingSink("jobs")
    val group = "graft-resolve-jobs"
    val jobs = mutable.ArrayBuffer.empty[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) jobs.synchronized(jobs += e)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job-count guard")
    val res = try GraphProjection.run(spark, model,
        Seq(s"${sf()}/customer.parquet", s"${sf()}/orders.parquet"),
        Seq(s"${sf()}/orders.parquet", s"${sf()}/lineitem.parquet"), sink)
      finally {
        sc.clearJobGroup()
        ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      }
    assert(res.nodeStats.size == 2 && res.edgeStats.size == 2)
    assert(jobs.size == 2 + 2 + 1, jobs.map(_.jobId))
    // the footer job runs first, one task per DISTINCT file: orders feeds a
    // node and an edge spec but its footer is read once
    val footerJob = jobs.minBy(_.jobId)
    assert(footerJob.stageInfos.map(_.numTasks).sum == 3)
  }

  test("a column type conflict under one spec fails before CREATE_GRAPH") {
    val dir = Files.createTempDirectory("graft_conflict").toString
    Seq((1L, 2L, 3L)).toDF("src", "dst", "weight").write.parquet(s"$dir/a.parquet")
    Seq((4L, 5L, "heavy")).toDF("src", "dst", "weight").write.parquet(s"$dir/b.parquet")
    val model = GraphModel(name = "conflict",
      nodes = Seq(NodeSpec(".*customer.*", keyField = Some("c_custkey"))),
      edges = Seq(EdgeSpec(".*/[ab]\\.parquet", sourceField = Some("src"),
        targetField = Some("dst"))))
    val sink = recordingSink("conflict")
    val err = intercept[SparkException] {
      GraphProjection.run(spark, model, Seq(s"${sf()}/customer.parquet"),
        Seq(s"$dir/a.parquet", s"$dir/b.parquet"), sink)
    }
    assert(err.getMessage.contains("`weight`"), err.getMessage)
    assert(err.getMessage.contains("edge spec 0"), err.getMessage)
    assert(RecordingFlightTransport.events.isEmpty) // no CREATE_GRAPH, no put
  }

  test("phase times are non-negative, fit the wall time, and feed the run report") {
    val model = GraphModel(name = "phases",
      nodes = Seq(NodeSpec(".*customer.*", keyField = Some("c_custkey"))),
      edges = Seq(EdgeSpec(".*orders.*", sourceField = Some("o_custkey"),
        targetField = Some("o_orderkey"))))
    val sink = recordingSink("phases")
    val t0 = System.nanoTime()
    val res = GraphProjection.run(spark, model, Seq(s"${sf()}/customer.parquet"),
      Seq(s"${sf()}/orders.parquet"), sink)
    val wall = (System.nanoTime() - t0) / 1e9
    val phases = Seq(res.resolveSeconds, res.nodesSeconds, res.edgesSeconds)
    assert(phases.forall(_ >= 0), phases)
    assert(phases.sum <= wall, (phases, wall))

    val line = Main.phasesLine(res)
    assert(line.startsWith("[graft] phases: resolve "), line)
    val nodeBytes = res.nodeStats.map(_.nbytes).sum
    val edgeBytes = res.edgeStats.map(_.nbytes).sum
    assert(line.contains(s"nodes 150 rows, $nodeBytes B, "), line)
    assert(line.contains(s"edges 1500 rows, $edgeBytes B, "), line)
  }
}
