package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.{array_sort, coalesce, col, collect_set, count, lit, max,
  monotonically_increasing_id, sum, when}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}

/**
 * A synchronous vertex program over Long ids: Pregel's superstep, run
 * the way Pregelix (VLDB 2014) runs it, as a join of the edges with a
 * vertex table, a grouped combine of the messages and a new vertex
 * table, with the physical plan chosen apart from the program.
 *
 * Every endpoint of an edge is a vertex and starts at `init`. In round
 * r (from 1) each vertex sends `send(state, true)` along its out edges
 * (to each edge's dst) and, when `direction` is [[Superstep.Both]],
 * `send(state, false)` along its in edges (to each edge's src); a send
 * of [[Superstep.Silent]] sends nothing. A vertex's messages reduce
 * through `combine` (its zero when none arrive) and
 * `update(state, combined, r)` is its next state, all computed from the
 * states the round started with. The program halts when a round changes
 * no vertex, or after `maxRounds` rounds.
 *
 * [[run]] places the edge frame with [[Pin.place]], and the placement
 * picks the executor. Pinned edges run on the driver over their
 * [[LocalGraph]]; the result is a local relation. Spilled edges run Pregelix's full-round plan: per
 * round, the edges ⋈ the senders' messages, unioned with the vertex
 * table into one grouped aggregate (one shuffle), and a new vertex
 * table, holding each vertex's next sends, written to scratch with the
 * changed-vertex count observed on that write; round 1 needs no join,
 * since every vertex sends init's messages. Both executors compute
 * the same states: the combiners are exact and order-free, and
 * send/update are the same Scala functions (typed Dataset ops run them
 * on the executors).
 */
final case class Superstep[M](
    direction: Superstep.Direction,
    init: Long,
    send: (Long, Boolean) => Long,
    combine: Superstep.Combine[M],
    update: (Long, M, Int) => Long) {
  import Superstep._

  /** The final (id, state) of every endpoint of `edges`, ids in
    * `src`'s type; an edge with a null endpoint is dropped. Integral ids
    * run as longs; other ids are numbered first, by a placed table of
    * (key, id) that is joined in and back. Scratch tables written on the
    * way are dropped, except those the result reads. */
  def run(edges: DataFrame, maxRounds: Int, tag: String): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val idType = e.schema("src").dataType
    if (Seq(LongType, IntegerType, ShortType, ByteType).contains(idType)) {
      val states = runLongs(e.select(col("src").cast(LongType).as("src"),
        col("dst").cast(LongType).as("dst")), maxRounds, tag)
      if (idType == LongType) states
      else states.select(col("id").cast(idType).as("id"), col("state"))
    } else {
      val keys = Pin.place(e.select(col("src").as("key")).union(e.select(col("dst").as("key")))
        .distinct().withColumn("id", monotonically_increasing_id()), s"${tag}_ids").df
      def number(end: String) = keys.select(col("key").as(end), col("id").as(s"${end}_id"))
      runLongs(e.join(number("src"), "src").join(number("dst"), "dst")
        .select(col("src_id").as("src"), col("dst_id").as("dst")), maxRounds, tag)
        .join(keys, "id").select(col("key").as("id"), col("state"))
    }
  }

  private def runLongs(edges: DataFrame, maxRounds: Int, tag: String): DataFrame = {
    val placed = Pin.place(edges, s"${tag}_edges")
    LocalGraph.of(placed) match {
      case Some(g) => onDriver(placed.df.sparkSession, g, maxRounds)
      case None =>
        try distributed(placed.df, maxRounds, tag)
        finally Scratch.drop(placed.df.sparkSession, placed.path)
    }
  }

  private def onDriver(spark: SparkSession, g: LocalGraph, maxRounds: Int): DataFrame = {
    // senders per receiver: along out edges a dst hears its srcs, along
    // in edges a src hears its dsts
    val fromOut = g.in
    val fromIn = if (direction == Both) g.out else null
    val buf = new Array[Long](fromOut.maxDegree + (if (fromIn == null) 0 else fromIn.maxDegree))
    var state = Array.fill(g.n)(init)
    var round = 1
    var changed = true
    while (changed && round <= maxRounds) {
      val out = state.map(send(_, true))
      val in = if (fromIn == null) null else state.map(send(_, false))
      val next = new Array[Long](g.n)
      changed = false
      var v = 0
      while (v < g.n) {
        var len = gather(fromOut, v, out, buf, 0)
        if (fromIn != null) len = gather(fromIn, v, in, buf, len)
        next(v) = update(state(v), combine.reduce(buf, len), round)
        changed ||= next(v) != state(v)
        v += 1
      }
      state = next
      round += 1
    }
    LocalGraph.frame(spark, schema, g.n) { (w, v) => w.write(0, g.ids(v)); w.write(1, state(v)) }
  }

  private def distributed(edges: DataFrame, maxRounds: Int, tag: String): DataFrame = {
    val spark = edges.sparkSession
    val (snd, upd) = (send, update)
    // each edge once per direction it carries messages in, flagged with
    // which of the sender's two messages it carries
    val arcs = {
      val out = edges.select(col("src"), col("dst"), lit(true).as("fwd"))
      if (direction == Out) out
      else out.union(edges.select(col("dst").as("src"), col("src").as("dst"), lit(false).as("fwd")))
    }
    val sends = if (direction == Out) col("out") =!= Silent
      else col("out") =!= Silent || col("in") =!= Silent
    // round 1: every endpoint holds `init` (the grouping below folds the
    // repeats) and sends init's messages, which need no join; later
    // rounds join the sends each vertex row carries from its update
    var v = edges.select(col("src").as("id")).union(edges.select(col("dst").as("id")))
      .select(col("id"), lit(init).as("state"))
    var msgs = arcs.select(col("dst").as("id"),
      when(col("fwd"), lit(snd(init, true))).otherwise(lit(snd(init, false))).as("msg"))
    var path: String = null
    var round = 1
    var changed = true
    while (changed && round <= maxRounds) {
      val r = round
      if (r > 1) msgs = arcs
        .join(v.filter(sends).select(col("id").as("src"), col("out"), col("in")), "src")
        .select(col("dst").as("id"), when(col("fwd"), col("out")).otherwise(col("in")).as("msg"))
      // one shuffle: the vertex rows and their messages group together
      val next = v.select(col("id"), col("state"), lit(null).cast(LongType).as("msg"))
        .union(msgs.filter(col("msg") =!= Silent)
          .select(col("id"), lit(null).cast(LongType).as("state"), col("msg")))
        .groupBy(col("id")).agg(max(col("state")).as("state"), combine.agg(col("msg")).as("msg"))
        .select(col("id"), col("state"), coalesce(col("msg"), lit(combine.zero)).as("msg"))
        .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, combine.encoder))
        .map { case (id, s, m) =>
          val t = upd(s, m, r)
          (id, t, s, snd(t, true), snd(t, false))
        }(longs5)
        .toDF("id", "state", "prev", "out", "in")
      val (scan, observed, p) = Scratch.materializeObservedAt(next, s"${tag}_vertices",
        count(when(col("state") =!= col("prev"), 1)).as("changed"))
      val n = observed("changed").asInstanceOf[Long]
      Scratch.drop(spark, path)
      v = scan
      path = p
      changed = n > 0L
      round += 1
    }
    v.select(col("id"), col("state"))
  }
}

object Superstep {

  /** The message that is not sent. */
  val Silent: Long = Long.MinValue

  sealed trait Direction
  case object Out extends Direction
  case object Both extends Direction

  /** A combiner: one Catalyst aggregate on the distributed executor,
    * the same reduction over a message buffer on the driver. */
  sealed abstract class Combine[M](val zero: M, val encoder: Encoder[M]) {
    def agg(msg: Column): Column
    def reduce(msgs: Array[Long], n: Int): M
  }

  object Sum extends Combine[Long](0L, Encoders.scalaLong) {
    def agg(msg: Column): Column = sum(msg)
    def reduce(msgs: Array[Long], n: Int): Long = {
      var acc = 0L
      var i = 0
      while (i < n) { acc += msgs(i); i += 1 }
      acc
    }
  }

  /** The sorted distinct set of the messages. */
  object Distinct
      extends Combine[Array[Long]](Array.emptyLongArray, ExpressionEncoder[Array[Long]]()) {
    def agg(msg: Column): Column = array_sort(collect_set(msg))
    def reduce(msgs: Array[Long], n: Int): Array[Long] =
      java.util.Arrays.stream(msgs, 0, n).sorted().distinct().toArray
  }

  private val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("state", LongType, nullable = false)))
  private val longs5 = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong,
    Encoders.scalaLong, Encoders.scalaLong)

  /** Append the non-silent messages `v` hears over `senders` to `buf`
    * from `len`; the new length. */
  private def gather(senders: LocalGraph.Csr, v: Int, sent: Array[Long], buf: Array[Long],
      len: Int): Int = {
    var n = len
    var i = senders.offsets(v)
    while (i < senders.offsets(v + 1)) {
      val m = sent(senders.targets(i))
      if (m != Silent) { buf(n) = m; n += 1 }
      i += 1
    }
    n
  }
}
