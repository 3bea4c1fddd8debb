package graft.pipeline

import graft.model.GraphModel
import graft.ops.Stats
import graft.sink.{ArrowIpcSink, FlightConfig, FlightSink, GdsSink, ParquetWireSink}
import graft.sources.TableCatalog
import org.apache.spark.sql.SparkSession

/**
 * CLI entry point — the Spark rendering of the reference's
 * `python pipeline.py` argument surface (pipeline.py:185-291):
 *
 *   --graph_json <path>        model JSON, any Hadoop-FS scheme; ≤64 KiB
 *                              read cap like the reference's GCS load
 *   --mode gcs|bigquery        file-glob mode vs named-table mode
 *                              (default gcs, pipeline.py:196-202)
 *   --node_pattern <globs>     comma-separated parquet globs
 *                              (alias --gcs_node_pattern)
 *   --edge_pattern <globs>     comma-separated parquet globs
 *                              (alias --gcs_edge_pattern)
 *   --node_tables a,b          table mode: node table names (pipeline.py:245-252)
 *   --edge_tables c            table mode: edge table names
 *   --table_dir <dir>          table mode: catalog directory (≙ bq_project/
 *                              bq_dataset addressing, pipeline.py:263-268)
 *   --bq_max_stream_count N    table mode: scan-parallelism cap
 *                              (pipeline.py:264-269, default 16384)
 *   --sink parquet:<dir>       wire-schema parquet sink (default)
 *   --sink arrow:<dir>         Arrow IPC stream files (the do_put payload)
 *   --sink flight[:host[:port]]  live GDS Arrow Flight (FlightSink; the
 *                              gRPC binding needs the arrow-flight jars)
 *   --neo4j_host / --neo4j_port / --neo4j_use_tls (strtobool) /
 *   --neo4j_user / --neo4j_password / --neo4j_concurrency /
 *   --neo4j_graph / --neo4j_database     (≙ pipeline.py:204-241)
 *   --debug                    bare flag (argparse store_true, pipeline.py:272-276)
 *   --master <spark master>    default local[*]
 *
 * Example:
 *   runMain graft.pipeline.Main --graph_json model.json \
 *     --node_pattern '/data/customer.parquet' \
 *     --edge_pattern '/data/orders.parquet' --sink parquet:/tmp/out
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = Cli.parseArgs(args)
    def req(k: String): String = opts.getOrElse(k,
      sys.error(s"missing required flag --$k"))
    def flag(k: String, default: Boolean): Boolean =
      opts.get(k).map(Cli.strtobool).getOrElse(default)

    val spark = SparkSession.builder()
      .master(opts.getOrElse("master", "local[*]"))
      .appName("graft")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel(if (flag("debug", default = false)) "INFO" else "WARN")

    val model = GraphModel.fromPath(req("graph_json"),
      spark.sparkContext.hadoopConfiguration)

    val sink: GdsSink = opts.getOrElse("sink", "parquet:/tmp/graft_out") match {
      case s if s.startsWith("parquet:") => new ParquetWireSink(s.stripPrefix("parquet:"))
      case s if s.startsWith("arrow:") => new ArrowIpcSink(s.stripPrefix("arrow:"))
      case s if s == "flight" || s.startsWith("flight:") =>
        new FlightSink(flightConfig(opts, model, s.stripPrefix("flight").stripPrefix(":")))
      case other => sys.error(s"unknown sink '$other'")
    }

    val res = opts.getOrElse("mode", "gcs").toLowerCase match {
      case "gcs" =>
        val nodePatterns = Cli.splitList(
          opts.getOrElse("node_pattern", opts.getOrElse("gcs_node_pattern",
            sys.error("missing --node_pattern (or --gcs_node_pattern)"))))
        val edgePatterns = (opts.get("edge_pattern") orElse opts.get("gcs_edge_pattern"))
          .toSeq.flatMap(Cli.splitList)
        GraphProjection.run(spark, model, nodePatterns, edgePatterns, sink)
      case "bigquery" =>
        val catalog = new TableCatalog(spark, req("table_dir"))
        GraphProjection.runTables(spark, model, catalog,
          nodeTables = opts.get("node_tables").toSeq.flatMap(Cli.splitList),
          edgeTables = opts.get("edge_tables").toSeq.flatMap(Cli.splitList),
          sink = sink,
          maxStreams = opts.get("bq_max_stream_count").map(_.toInt).getOrElse(16384))
      case other => sys.error(s"unknown mode '$other' (gcs|bigquery)")
    }

    // P6 Echo: the reference logs each combined stat (pipeline.py:70,85,94)
    res.nodeStats.foreach(r => println(s"[graft] node stats: $r"))
    res.edgeStats.foreach(r => println(s"[graft] edge stats: $r"))
    println(s"[graft] final: ${res.finalStats}")
    println(phasesLine(res))
    spark.stop()
  }

  /** The run report: rows, wire bytes and wall seconds per phase. */
  private[graft] def phasesLine(res: GraphProjection.Result): String = {
    def s(x: Double) = "%.3f s".formatLocal(java.util.Locale.ROOT, x)
    val (n, e) = (Stats.fold(res.nodeStats, "node"), Stats.fold(res.edgeStats, "edge"))
    s"[graft] phases: resolve ${s(res.resolveSeconds)}; " +
      s"nodes ${n.count} rows, ${n.nbytes} B, ${s(res.nodesSeconds)}; " +
      s"edges ${e.count} rows, ${e.nbytes} B, ${s(res.edgesSeconds)}"
  }

  /** FlightConfig from the CLI flags (reference client ctor,
    * pipeline.py:304-308, flag defaults pipeline.py:204-241). A
    * `flight:host:port` sink target overrides --neo4j_host/--neo4j_port. */
  private[pipeline] def flightConfig(
      opts: Map[String, String],
      model: GraphModel,
      hostPort: String): FlightConfig = {
    val hp = hostPort.split(':').filter(_.nonEmpty)
    FlightConfig(
      host = if (hp.nonEmpty) hp(0) else opts.getOrElse("neo4j_host", "localhost"),
      port = if (hp.length > 1) hp(1).toInt
        else opts.get("neo4j_port").map(_.toInt).getOrElse(8491),
      useTls = opts.get("neo4j_use_tls").map(Cli.strtobool).getOrElse(true),
      graphName = opts.getOrElse("neo4j_graph", model.name),
      database = opts.getOrElse("neo4j_database", model.db),
      user = opts.getOrElse("neo4j_user", "neo4j"),
      password = opts.getOrElse("neo4j_password", ""),
      concurrency = opts.get("neo4j_concurrency").map(_.toInt).getOrElse(4))
  }
}
