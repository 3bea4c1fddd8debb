package graft.pipeline

import graft.model.GraphModel
import graft.ops.{GraphOps, LoadResult, Stats}
import graft.sink.GdsSink
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooters

/**
 * End-to-end graph projection — the Spark rendering of the reference's
 * pipeline lifecycle (pipeline.py:57-95 GCS mode; SURVEY.md §3):
 *
 *   resolve: route node- and edge-source FILES to specs → one footer
 *            job merges every routed spec's schema
 *   sink.start()                     (CREATE_GRAPH)
 *   nodes:   scan per spec → canonical node projection → sink.writeNodes
 *   barrier: sink.nodesDone()        (reference Signal DoFn, _dofn.py:50-77)
 *   edges:   same for edges → sink.writeEdges
 *   sink.edgesDone(); fold stats → final LoadResult
 *
 * Routing happens at FILE granularity in the driver — exactly the
 * reference's semantics (provenance is the file path; every row of a file
 * shares it, pipeline.py:108,118) and the scale-correct plan: each spec's
 * scan touches ONLY its matching files (no full-corpus scan per spec, no
 * per-row regex filter), and model-driven column pruning reaches the
 * reader. Unmatched files are skipped, like batches with no matching
 * spec in the reference.
 *
 * Before anything ships, a resolve phase routes both globs and merges
 * every routed spec's Parquet schema in ONE footer-reading Spark job
 * (`GraftFooters.mergeSchemas`), so an unreadable file or a column type
 * conflict fails the load before CREATE_GRAPH, not after the nodes.
 *
 * The reference's data-driven barrier (edge pattern emitted as data after
 * the node combine) becomes sequential driver code: Spark actions are
 * synchronous, so "all nodes before any edges" is just program order.
 */
object GraphProjection {

  /** Per-spec stats plus the wall seconds of the load's three phases:
    * resolve (routing, schema merge, read planning — before `start`),
    * nodes (`start` through `nodesDone`) and edges (through `edgesDone`). */
  final case class Result(
      nodeStats: Seq[LoadResult],
      edgeStats: Seq[LoadResult],
      finalStats: LoadResult,
      resolveSeconds: Double = 0.0,
      nodesSeconds: Double = 0.0,
      edgesSeconds: Double = 0.0)

  /** Run a full projection of parquet sources through a model into a sink.
    * `nodePattern` / `edgePattern` are parquet path globs (the reference's
    * `--gcs_node_pattern` / `--gcs_edge_pattern`, pipeline.py:60,74). */
  def run(
      spark: SparkSession,
      model: GraphModel,
      nodePattern: Seq[String],
      edgePattern: Seq[String],
      sink: GdsSink): Result = {
    val t0 = System.nanoTime()
    val nodeFiles = route(spark, nodePattern, model.nodes.map(_.source))
    val edgeFiles = route(spark, edgePattern, model.edges.map(_.source))
    val reads = routedReads(spark,
      nodeFiles.map { case (i, fs) => (s"node spec $i (${model.nodes(i).source})", i, fs) } ++
        edgeFiles.map { case (i, fs) => (s"edge spec $i (${model.edges(i).source})", i, fs) })
    val (nodeReads, edgeReads) = reads.splitAt(nodeFiles.size)
    val t1 = System.nanoTime()

    sink.start()
    val nodeStats = nodeReads.map { case (specIdx, df) =>
      val spec = model.nodes(specIdx)
      sink.writeNodes(GraphOps.projectNode(GraphOps.pruneFor(df, spec.neededColumns), spec))
    }
    sink.nodesDone() // barrier: all nodes are loaded before any edge ships
    val t2 = System.nanoTime()

    val edgeStats = edgeReads.map { case (specIdx, df) =>
      val spec = model.edges(specIdx)
      sink.writeEdges(GraphOps.projectEdge(GraphOps.pruneFor(df, spec.neededColumns), spec))
    }
    sink.edgesDone()
    val t3 = System.nanoTime()

    val folded = Stats.fold(nodeStats, "node") |+| Stats.fold(edgeStats, "edge")
    Result(nodeStats, edgeStats, folded.copy(kind = "final"),
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
  }

  /** Table mode — the Spark rendering of the reference's BigQuery
    * pipeline (run_bigquery_pipeline + get_streams, pipeline.py:100-178):
    * provenance is the TABLE NAME, routed through the model's spec
    * regexes; each matched table reads through the catalog with
    * model-driven column pruning (≙ ReadSession `selected_fields`,
    * _client.py:55-56), and scan parallelism is capped at `maxStreams`
    * (≙ `bq_max_stream_count` / the ReadSession 1000-stream cap,
    * pipeline.py:264-269, _client.py:30,46-54). Unmatched tables are
    * skipped like unmatched batches in the reference. */
  def runTables(
      spark: SparkSession,
      model: GraphModel,
      catalog: graft.sources.TableCatalog,
      nodeTables: Seq[String],
      edgeTables: Seq[String],
      sink: GdsSink,
      maxStreams: Int = 16384): Result = {
    val t1 = System.nanoTime() // tables resolve as they load: no resolve phase
    sink.start()
    val nodeStats = nodeTables.flatMap { tbl =>
      model.nodeForSrc(tbl).map { spec =>
        val df = capStreams(catalog.readForNode(tbl, spec), maxStreams)
        sink.writeNodes(GraphOps.projectNode(df, spec))
      }
    }
    sink.nodesDone()
    val t2 = System.nanoTime()
    val edgeStats = edgeTables.flatMap { tbl =>
      model.edgeForSrc(tbl).map { spec =>
        val df = capStreams(catalog.readForEdge(tbl, spec), maxStreams)
        sink.writeEdges(GraphOps.projectEdge(df, spec))
      }
    }
    sink.edgesDone()
    val t3 = System.nanoTime()
    val folded = Stats.fold(nodeStats, "node") |+| Stats.fold(edgeStats, "edge")
    Result(nodeStats, edgeStats, folded.copy(kind = "final"),
      nodesSeconds = (t2 - t1) / 1e9, edgesSeconds = (t3 - t2) / 1e9)
  }

  /** Cap scan parallelism without a shuffle (coalesce merges splits).
    * Applied unconditionally: `coalesce(n)` never INCREASES partition
    * count, so when the scan is already under the cap it is a runtime
    * no-op — which retires the `df.rdd.getNumPartitions` probe this
    * method used to run (an RDD probe physical-plans the whole frame on
    * the driver per table read; the same cost `Par.fanOut` eliminated
    * with its file-index estimate, and here no estimate is needed). */
  private def capStreams(df: DataFrame, maxStreams: Int): DataFrame =
    df.coalesce(maxStreams)

  /** Expand the globs and route each file to its FIRST matching spec
    * regex (anchored, re.match semantics — same as GraphModel routing):
    * the routed specs in spec order, each with its files in glob order. */
  private def route(
      spark: SparkSession,
      patterns: Seq[String],
      specSources: Seq[String]): Seq[(Int, Seq[FileStatus])] = {
    val compiled = specSources.map(s => java.util.regex.Pattern.compile(s))
    patterns.flatMap(expandGlob(spark, _))
      .flatMap { f =>
        compiled.indexWhere(_.matcher(f.getPath.toString).lookingAt()) match {
          case -1 => None // no matching spec: skipped, like the reference
          case i  => Some(i -> f)
        }
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (specIdx, fs) => specIdx -> fs.map(_._2) }
  }

  /** One tagged DataFrame per routed spec over only that spec's files.
    * The reference tolerates per-file dynamic schemas under one spec
    * (SURVEY §1.3): each spec reads with the merged schema of its files,
    * and every spec's schema comes from one footer job for the whole
    * load — a file named by a node and an edge spec is read once. Each
    * scan is built from the routed statuses, so no file is globbed or
    * listed again. */
  private[graft] def routedReads(
      spark: SparkSession,
      specs: Seq[(String, Int, Seq[FileStatus])]): Seq[(Int, DataFrame)] = {
    val schemas = GraftFooters.mergeSchemas(spark, specs.map { case (l, _, fs) => l -> fs })
    specs.zip(schemas).map { case ((_, specIdx, fs), schema) =>
      specIdx -> GraphOps.tagProvenance(
        GraftFooters.read(spark, schema, fs))
    }
  }

  /** The data files a glob names: matched files, and the files directly
    * inside matched directories. Hidden files (`_SUCCESS`,
    * `_common_metadata`, `.crc`, ...) are dropped, as Spark's file index
    * drops them. */
  private[graft] def expandGlob(spark: SparkSession, pattern: String): Seq[FileStatus] = {
    val path = new Path(pattern)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(path)).toSeq.flatten
      .flatMap(st => if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile) else Seq(st))
      .filterNot { st =>
        val name = st.getPath.getName
        name.startsWith("_") || name.startsWith(".")
      }
  }
}
