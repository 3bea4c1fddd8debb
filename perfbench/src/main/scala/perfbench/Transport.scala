package perfbench

import java.io.ByteArrayInputStream
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.util.chaining._

import graft.ops.LoadResult
import graft.sink.{FlightConfig, FlightTransport, GdsSink}
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.BigIntVector
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.DataFrame

/** splitmix64 finalizer — the order-independent key checksum's hash
  * (perfbench/datagen.py computes the same function on the inputs). */
object Mix64 {
  def apply(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** In-memory stand-in for the GDS Arrow Flight endpoint: it accepts every
  * `do_put` payload and counts puts, bytes and the time spent receiving.
  * Every call draws a number from one sequence, so the nodes-before-edges
  * barrier can be checked from outside the program. In `decode` mode (the
  * verification pass, never timed) it also decodes each payload and folds
  * the key columns into order-independent checksums.
  *
  * Local mode runs executors in the driver JVM, so one object sees every
  * put; `FlightTransport.cached` hands the same instance to every task. */
object CountingTransport extends FlightTransport {
  final class Stream {
    val puts = new LongAdder
    val bytes = new LongAdder
    val firstSeq = new AtomicLong(Long.MaxValue)
    val lastSeq = new AtomicLong(Long.MinValue)
    val rows = new LongAdder
    val checksum = new LongAdder
    val maxRowsPerPut = new AtomicLong
  }

  private val seq = new AtomicLong
  private val busyNanos = new LongAdder
  private val controlNanos = new LongAdder
  @volatile var decode = false
  @volatile private var streams = Map.empty[String, Stream]
  private val actions = mutable.ArrayBuffer.empty[(String, Long)]

  val config: FlightConfig = FlightConfig(host = "in-memory", useTls = false,
    graphName = "perfbench")
  val factory: FlightTransport.Factory = _ => CountingTransport

  def reset(decodePayloads: Boolean): Unit = synchronized {
    streams = Map("nodes" -> new Stream, "edges" -> new Stream)
    actions.clear()
    busyNanos.reset(); controlNanos.reset()
    decode = decodePayloads
  }

  override def action(name: String, bodyJson: String): Unit = {
    val t0 = System.nanoTime()
    synchronized { actions += name -> seq.incrementAndGet() }
    controlNanos.add(System.nanoTime() - t0)
  }

  override def putStream(descriptor: String, ipcStream: Array[Byte]): Unit = {
    val t0 = System.nanoTime()
    val n = seq.incrementAndGet()
    val s = streams(descriptor)
    s.puts.increment()
    s.bytes.add(ipcStream.length.toLong)
    s.firstSeq.accumulateAndGet(n, math.min)
    s.lastSeq.accumulateAndGet(n, math.max)
    if (decode) decodeInto(descriptor, ipcStream, s)
    busyNanos.add(System.nanoTime() - t0)
  }

  private def decodeInto(descriptor: String, ipc: Array[Byte], s: Stream): Unit = {
    val alloc = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(new ByteArrayInputStream(ipc), alloc)
    try {
      while (reader.loadNextBatch()) {
        val root = reader.getVectorSchemaRoot
        val n = root.getRowCount
        var sum = 0L
        if (descriptor == "nodes") {
          val k = root.getVector("nodeId").asInstanceOf[BigIntVector]
          var i = 0
          while (i < n) { sum += Mix64(k.get(i)); i += 1 }
        } else {
          val a = root.getVector("sourceNodeId").asInstanceOf[BigIntVector]
          val b = root.getVector("targetNodeId").asInstanceOf[BigIntVector]
          var i = 0
          while (i < n) { sum += Mix64(Mix64(a.get(i)) ^ b.get(i)); i += 1 }
        }
        s.rows.add(n.toLong)
        s.checksum.add(sum)
        s.maxRowsPerPut.accumulateAndGet(n.toLong, math.max)
      }
    } finally { reader.close(); alloc.close() }
  }

  def stream(d: String): Stream = streams(d)
  def busySeconds: Double = busyNanos.sum() / 1e9
  def controlSeconds: Double = controlNanos.sum() / 1e9

  /** The control/data ordering the reference client requires:
    * CREATE_GRAPH, node puts, NODE_LOAD_DONE, edge puts,
    * RELATIONSHIP_LOAD_DONE. */
  def orderOk: Boolean = synchronized {
    val at = actions.toMap
    val names = actions.map(_._1).toSeq
    val (nodes, edges) = (streams("nodes"), streams("edges"))
    names == Seq("CREATE_GRAPH", "NODE_LOAD_DONE", "RELATIONSHIP_LOAD_DONE") &&
      nodes.puts.sum() > 0 && edges.puts.sum() > 0 &&
      at("CREATE_GRAPH") < nodes.firstSeq.get &&
      nodes.lastSeq.get < at("NODE_LOAD_DONE") &&
      at("NODE_LOAD_DONE") < edges.firstSeq.get &&
      edges.lastSeq.get < at("RELATIONSHIP_LOAD_DONE")
  }
}

/** `GdsSink` decorator that times the load's two phases and keeps each
  * write's `LoadResult`, with a trace span around every lifecycle call. */
final class TimedSink(inner: GdsSink) extends GdsSink {
  private var t0, tNodes, tEdges = 0L
  val nodeResults = mutable.ArrayBuffer.empty[LoadResult]
  val edgeResults = mutable.ArrayBuffer.empty[LoadResult]

  override def start(): Unit = {
    t0 = System.nanoTime()
    Trace.span("sink.start")(inner.start())
  }
  override def writeNodes(nodes: DataFrame): LoadResult =
    Trace.span("sink.writeNodes")(inner.writeNodes(nodes)).tap(nodeResults += _)
  override def nodesDone(): Unit = {
    Trace.span("sink.nodesDone")(inner.nodesDone())
    tNodes = System.nanoTime()
  }
  override def writeEdges(edges: DataFrame): LoadResult =
    Trace.span("sink.writeEdges")(inner.writeEdges(edges)).tap(edgeResults += _)
  override def edgesDone(): Unit = {
    Trace.span("sink.edgesDone")(inner.edgesDone())
    tEdges = System.nanoTime()
  }

  def nodesPhaseSeconds: Double = (tNodes - t0) / 1e9
  def edgesPhaseSeconds: Double = (tEdges - tNodes) / 1e9
}
