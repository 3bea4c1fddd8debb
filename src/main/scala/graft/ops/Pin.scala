package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{DataFrame, GraftPlanApi, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LocalTableScanExec, SQLExecution}
import org.apache.spark.sql.types.StructType

/**
 * The one driver-placement gate: whether a frame lives on the driver
 * (a local relation, or rows for a driver-local replay) or stays
 * distributed (a scratch table, or the caller's distributed loop).
 *
 * Iterative operators keep per-round state that is small by
 * construction (one row per query/walk/piece), and the graph
 * operators replay small graphs on the driver. Pinning such state is
 * one bounded collect instead of a scratch parquet write + read-back;
 * values stay exact, because the collected UnsafeRows become the local
 * relation's rows as they are.
 *
 * The bound is one conf pair, read per call:
 *
 *  - rows: `spark.graft.maxLocalEdges` (default 1M);
 *  - bytes: `spark.graft.maxLocalStateBytes` (default 64 MB), the exact
 *    sum of the collected rows' UnsafeRow sizes.
 *
 * `0` in either one keeps every frame distributed. The collect is one
 * job over the executed plan. Each partition copies its UnsafeRows and
 * stops as soon as it passes either bound, so the driver receives at
 * most one bound's worth of rows (plus one row) per partition; it
 * admits the result only when the totals fit both bounds. Pin writes
 * no session conf.
 */
object Pin {

  val DefaultMaxRows: Long = 1000000L
  val DefaultMaxBytes: Long = 64L * 1024 * 1024

  def state(df: DataFrame, tag: String): DataFrame = stateAt(df, tag)._1

  /** [[state]] that also hands back the fallback scratch path (null
    * when the state was pinned — [[Scratch.drop]] treats null as a
    * no-op), for iterative loops that retire superseded fallback
    * tables eagerly: at the scale where the fallback fires, the
    * per-round state is exactly the table one must not leak
    * O(iterations) copies of. */
  def stateAt(df: DataFrame, tag: String): (DataFrame, String) =
    collectRows(df) match {
      case Some(rows) =>
        val local = LocalRelation(DataTypeUtils.toAttributes(df.schema),
          ArraySeq.unsafeWrapArray(rows))
        (GraftPlanApi.ofRows(df.sparkSession, local), null)
      case None => Scratch.materializeAt(df, s"${tag}_state")
    }

  /** The bounded collect for driver-local replays that want the rows
    * themselves: Some(rows) when the frame fits both bounds, None when
    * the caller must stay distributed. */
  def collectBounded(df: DataFrame): Option[Array[Row]] =
    collectRows(df).map { rows =>
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      rows.map(r => toRow(r).asInstanceOf[Row])
    }

  /** [[collectBounded]] for a frame whose row count the caller already
    * observed (on its scratch write): a frame over the row bound is
    * never collected. */
  def collectObserved(df: DataFrame, observedRows: Long): Option[Array[Row]] =
    if (observedRows <= bounds(df.sparkSession)._1) collectBounded(df) else None

  private def bounds(spark: SparkSession): (Long, Long) = (
    spark.conf.getOption("spark.graft.maxLocalEdges")
      .map(_.toLong).getOrElse(DefaultMaxRows),
    spark.conf.getOption("spark.graft.maxLocalStateBytes")
      .map(_.toLong).getOrElse(DefaultMaxBytes))

  /** The frame's UnsafeRows when their count and exact byte sum fit
    * both bounds, else None. A local relation's rows are already on the
    * driver and need no job. */
  private def collectRows(df: DataFrame): Option[Array[InternalRow]] = {
    val (rowBound, byteBound) = bounds(df.sparkSession)
    if (rowBound <= 0L || byteBound <= 0L) return None
    val schema = df.schema
    val qe = df.queryExecution
    val parts = qe.executedPlan match {
      case local: LocalTableScanExec =>
        Array(encode(local.executeCollect().iterator, schema, rowBound, byteBound))
      case _ =>
        SQLExecution.withNewExecutionId(qe, Some("pin")) {
          val rdd = qe.toRdd
          if (rdd.partitions.isEmpty) Array.empty[(Long, Long, Array[Byte])]
          else rdd.sparkContext.runJob(rdd,
            (it: Iterator[InternalRow]) => encode(it, schema, rowBound, byteBound))
        }
    }
    if (parts.map(_._1).sum > rowBound || parts.map(_._2).sum > byteBound) None
    else Some(parts.flatMap { case (n, _, bytes) => decode(bytes, n, schema.length) })
  }

  /** One partition's rows as (rows, exact bytes, size-prefixed
    * UnsafeRow payload), stopping as soon as either bound is passed. */
  private def encode(it: Iterator[InternalRow], schema: StructType,
      rowBound: Long, byteBound: Long): (Long, Long, Array[Byte]) = {
    lazy val toUnsafe = UnsafeProjection.create(schema)
    val buf = new ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    val scratch = new Array[Byte](4096)
    var rows = 0L
    var bytes = 0L
    while (rows <= rowBound && bytes <= byteBound && it.hasNext) {
      val row = it.next() match {
        case u: UnsafeRow => u
        case r => toUnsafe(r)
      }
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, scratch)
      rows += 1L
      bytes += row.getSizeInBytes
    }
    out.flush()
    (rows, bytes, buf.toByteArray)
  }

  private def decode(bytes: Array[Byte], rows: Long, fields: Int): Array[InternalRow] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    Array.fill[InternalRow](rows.toInt) {
      val size = in.readInt()
      val b = new Array[Byte](size)
      in.readFully(b)
      val row = new UnsafeRow(fields)
      row.pointTo(b, size)
      row
    }
  }
}
