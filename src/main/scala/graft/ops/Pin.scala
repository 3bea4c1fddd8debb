package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.immutable.ArraySeq
import scala.concurrent.{Await, ExecutionContext, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{Column, DataFrame, GraftPlanApi, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, SQLExecution}
import org.apache.spark.sql.functions.{count, lit}
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
 * `0` in either one keeps every frame distributed. [[place]] is the
 * entry point: it runs the frame's executed plan once, as one collect
 * job, and either pins the rows or writes that same RDD to scratch.
 * Each partition copies its UnsafeRows into a payload compressed with
 * the session's io codec and stops as soon as it passes either bound
 * (shipping its counts only, then); the driver admits partition
 * results as they arrive and cancels the job once the running totals
 * pass either bound, so a frame spread over many small partitions
 * ships about one bound to the driver, not all of its rows. On a miss the producer's shuffle map stages are
 * already materialized, so the scratch write skips them and runs only
 * the final stage again. Pin writes no session conf.
 */
object Pin {

  val DefaultMaxRows: Long = 1000000L
  val DefaultMaxBytes: Long = 64L * 1024 * 1024

  /** Where [[place]] put a frame: `df` (a local relation when pinned,
    * a scan of the scratch table at `path` when spilled; null path
    * when pinned — [[Scratch.drop]] treats null as a no-op), its exact
    * row `count`, and the caller's `metrics` observed on the spill
    * write (empty when pinned: read them off [[rows]] instead).
    * `pinned` holds the collected UnsafeRows (null when spilled), which
    * [[LocalGraph]] reads as primitive longs. */
  final case class Placed(df: DataFrame, count: Long, path: String,
      metrics: Map[String, Any])(private[ops] val pinned: Array[InternalRow]) {
    /** The pinned rows, or None when the frame spilled. */
    lazy val rows: Option[Array[Row]] = Option(pinned).map(external(_, df.schema))
  }

  def state(df: DataFrame, tag: String): DataFrame = stateAt(df, tag)._1

  /** [[state]] that also hands back the fallback scratch path (null
    * when the state was pinned), for iterative loops that retire
    * superseded fallback tables eagerly: at the scale where the
    * fallback fires, the per-round state is exactly the table one must
    * not leak O(iterations) copies of. */
  def stateAt(df: DataFrame, tag: String): (DataFrame, String) = {
    val p = place(df, s"${tag}_state")
    (p.df, p.path)
  }

  /** Pin `df` when it fits both bounds, else write it to a scratch
    * table prefixed `tag` with its row count and `metrics` observed on
    * that write. Either way the producer runs once: the spill writes
    * the collect job's own RDD. */
  def place(df: DataFrame, tag: String, metrics: Column*): Placed = {
    val (rowBound, byteBound) = bounds(df.sparkSession)
    val qe = df.queryExecution
    val spill =
      if (rowBound <= 0L || byteBound <= 0L) df
      else collect(qe, df.schema, rowBound, byteBound) match {
        case Some(rows) =>
          val local = LocalRelation(DataTypeUtils.toAttributes(df.schema),
            ArraySeq.unsafeWrapArray(rows))
          return Placed(GraftPlanApi.ofRows(df.sparkSession, local),
            rows.length.toLong, null, Map.empty)(rows)
        case None => GraftPlanApi.ofRdd(df, qe.toRdd)
      }
    val (scan, m, path) = Scratch.materializeObservedAt(
      spill, tag, count(lit(1)).as("pin_rows"), metrics: _*)
    Placed(scan, m("pin_rows").asInstanceOf[Long], path, m)(null)
  }

  private def external(rows: Array[InternalRow], schema: StructType): Array[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    rows.map(r => toRow(r).asInstanceOf[Row])
  }

  private def bounds(spark: SparkSession): (Long, Long) = (
    spark.conf.getOption("spark.graft.maxLocalEdges")
      .map(_.toLong).getOrElse(DefaultMaxRows),
    spark.conf.getOption("spark.graft.maxLocalStateBytes")
      .map(_.toLong).getOrElse(DefaultMaxBytes))

  /** The plan's UnsafeRows when their count and exact byte sum fit
    * both bounds, else None. A local relation's rows are already on the
    * driver and need no job; any other plan runs as one job whose
    * partition results are admitted as they arrive, cancelled once the
    * running totals pass either bound. */
  private def collect(qe: QueryExecution, schema: StructType,
      rowBound: Long, byteBound: Long): Option[Array[InternalRow]] = {
    val parts = qe.executedPlan match {
      case local: LocalTableScanExec =>
        Some(Array(encode(local.executeCollect().iterator, schema, rowBound, byteBound)))
      case _ => SQLExecution.withNewExecutionId(qe, Some("pin")) {
        val rdd = qe.toRdd
        val parts = new Array[(Long, Long, Array[Byte])](rdd.partitions.length)
        var rows, bytes = 0L
        val over = Promise[Unit]()
        if (parts.nonEmpty) {
          val job = rdd.sparkContext.submitJob(rdd,
            (it: Iterator[InternalRow]) => encode(it, schema, rowBound, byteBound),
            parts.indices,
            (i: Int, part: (Long, Long, Array[Byte])) => if (!over.isCompleted) {
              parts(i) = part
              rows += part._1
              bytes += part._2
              if (rows > rowBound || bytes > byteBound) over.trySuccess(())
            },
            ())
          over.future.foreach(_ => job.cancel())(ExecutionContext.parasitic)
          Await.ready(job, Duration.Inf)
          if (!over.isCompleted) job.value.get.get
        }
        if (over.isCompleted) None else Some(parts)
      }
    }
    parts.filter(ps => ps.map(_._1).sum <= rowBound && ps.map(_._2).sum <= byteBound)
      .map(_.flatMap { case (n, _, bytes) => decode(bytes, n, schema.length) })
  }

  /** One partition's rows as (rows, exact bytes, compressed
    * size-prefixed UnsafeRow payload), stopping as soon as either bound
    * is passed. A partition over a bound on its own ships its counts
    * only: the driver cannot admit its rows. */
  private def encode(it: Iterator[InternalRow], schema: StructType,
      rowBound: Long, byteBound: Long): (Long, Long, Array[Byte]) = {
    lazy val toUnsafe = UnsafeProjection.create(schema)
    val buf = new ByteArrayOutputStream()
    val out = new DataOutputStream(
      GraftPlanApi.ioCodec(SparkEnv.get.conf).compressedOutputStream(buf))
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
    out.close()
    (rows, bytes, if (rows > rowBound || bytes > byteBound) Array.emptyByteArray
      else buf.toByteArray)
  }

  private def decode(bytes: Array[Byte], rows: Long, fields: Int): Array[InternalRow] = {
    val in = new DataInputStream(GraftPlanApi.ioCodec(SparkEnv.get.conf)
      .compressedInputStream(new ByteArrayInputStream(bytes)))
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
