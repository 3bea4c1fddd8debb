package graft.ops

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftPlanApi, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.{LongType, StructType}

/**
 * A pinned edge frame as a graph on the driver: the one in-memory graph
 * format of every driver replay. Read straight from the UnsafeRows that
 * [[Pin.place]] pinned, as primitive longs: the edge frame's first two
 * columns are each edge's (src, dst) ids, and its other columns stay
 * readable per edge ([[long]], [[double]]).
 *
 * A vertex is the index of its id in first-seen order (the endpoints
 * row by row, then the ids of the optional vertex frame), which a
 * `LongMap` finds faster than a sort plus binary search. Index order is
 * therefore arbitrary: every minimum or tie-break over vertices must
 * compare [[ids]], not indices.
 */
final class LocalGraph private (rows: Array[InternalRow], vertexRows: Array[InternalRow]) {
  private val index = new mutable.LongMap[Int]()

  /** Each edge's endpoints as vertex indices, in row order. */
  val src, dst: Array[Int] = new Array[Int](rows.length)

  /** Vertex index → id. */
  val ids: Array[Long] = {
    val idList = new mutable.ArrayBuilder.ofLong
    def vertex(id: Long): Int = index.getOrElseUpdate(id, { idList += id; index.size })
    var e = 0
    while (e < rows.length) {
      src(e) = vertex(rows(e).getLong(0))
      dst(e) = vertex(rows(e).getLong(1))
      e += 1
    }
    vertexRows.foreach(r => vertex(r.getLong(0)))
    idList.result()
  }

  /** The vertex and edge counts. */
  def n: Int = ids.length
  def m: Int = rows.length

  /** The index of vertex `id`, or -1 when it is not a vertex. */
  def indexOf(id: Long): Int = index.getOrElse(id, -1)

  /** `field` of edge `e`'s row. */
  def long(e: Int, field: Int): Long = rows(e).getLong(field)
  def double(e: Int, field: Int): Double = rows(e).getDouble(field)

  /** Per vertex, `field` of its row in the vertex frame (0 when none). */
  def vertexLongs(field: Int): Array[Long] = {
    val out = new Array[Long](n)
    vertexRows.foreach(r => out(index(r.getLong(0))) = r.getLong(field))
    out
  }

  /** Each vertex's out-neighbours (its edges' dsts). */
  lazy val out: LocalGraph.Csr = LocalGraph.Csr(src, dst, n, m)
  /** Each vertex's in-neighbours (its edges' srcs). */
  lazy val in: LocalGraph.Csr = LocalGraph.Csr(dst, src, n, m)
  /** Each vertex's neighbours along either direction. */
  lazy val both: LocalGraph.Csr = LocalGraph.Csr(src ++ dst, dst ++ src, n, m)
}

object LocalGraph {

  /** The graph of a placed edge frame, its vertices extended by the
    * first column of a placed vertex frame when one is given; None when
    * either frame spilled or an id column is not Long. Ids must not be
    * null. */
  def of(edges: Pin.Placed, vertices: Option[Pin.Placed] = None): Option[LocalGraph] = {
    def longIds(p: Pin.Placed, cols: Int) =
      p.pinned != null && p.df.schema.fields.take(cols).forall(_.dataType == LongType)
    if (longIds(edges, 2) && vertices.forall(longIds(_, 1)))
      Some(new LocalGraph(edges.pinned, vertices.fold(Array.empty[InternalRow])(_.pinned)))
    else None
  }

  /** A local relation of `n` rows of `schema`, row `i` written by
    * `write(writer, i)` onto a reset writer with every field non-null. */
  def frame(spark: SparkSession, schema: StructType, n: Int)(
      write: (UnsafeRowWriter, Int) => Unit): DataFrame = {
    val writer = new UnsafeRowWriter(schema.length)
    val rows = Array.tabulate[InternalRow](n) { i =>
      writer.reset()
      writer.zeroOutNullBytes()
      write(writer, i)
      writer.getRow.copy()
    }
    GraftPlanApi.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema),
      ArraySeq.unsafeWrapArray(rows)))
  }

  /** Compressed rows: vertex v's neighbours are `targets(i)` for `i`
    * from `offsets(v)` until `offsets(v + 1)`, in row order, each
    * reached over edge `edges(i)`. */
  final class Csr private (val offsets: Array[Int], val targets: Array[Int],
      val edges: Array[Int]) {
    def maxDegree: Int = {
      var max, v = 0
      while (v + 1 < offsets.length) { max = math.max(max, offsets(v + 1) - offsets(v)); v += 1 }
      max
    }
  }

  private object Csr {
    /** The rows `from(i) → to(i)` over `n` vertices, row i carrying
      * edge `i % m`. */
    def apply(from: Array[Int], to: Array[Int], n: Int, m: Int): Csr = {
      val offsets = new Array[Int](n + 1)
      from.foreach(v => offsets(v + 1) += 1)
      var v = 0
      while (v < n) { offsets(v + 1) += offsets(v); v += 1 }
      val fill = offsets.clone()
      val targets, edges = new Array[Int](from.length)
      var i = 0
      while (i < from.length) {
        targets(fill(from(i))) = to(i)
        edges(fill(from(i))) = i % m
        fill(from(i)) += 1
        i += 1
      }
      new Csr(offsets, targets, edges)
    }
  }
}
