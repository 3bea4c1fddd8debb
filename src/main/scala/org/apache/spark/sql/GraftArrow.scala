package org.apache.spark.sql

import java.io.OutputStream
import java.nio.ByteBuffer
import java.nio.channels.{Channels, WritableByteChannel}
import java.util.Arrays

import scala.jdk.CollectionConverters._

import org.apache.arrow.vector.{BitVectorHelper, FieldVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Expression}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.arrow.ArrowWriter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.ArrowUtils
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.util.{LongAccumulator, SerializableConfiguration}

/**
 * Distributed Arrow IPC stream writer — the data plane of an Arrow
 * Flight `do_put` with a pluggable byte destination: a filesystem
 * (`writeIpcStream`, one stream file per partition through the Hadoop
 * FileSystem API, so any configured scheme works from executors) or a
 * transport callback (`sendIpcStream`, one self-contained IPC stream per
 * row batch — the exact per-batch `write_nodes`/`write_edges` unit the
 * reference ships over Flight, _dofn.py:96-141, with executor memory
 * bounded by the batch size).
 *
 * Both run one encode loop per task: fill the task's Arrow vectors with
 * the next `batchSize` rows of the partition, hand the batch to the
 * destination, repeat. The rows come from one of two sources:
 *
 *  - '''Columnar.''' When the write's executed plan is a columnar file
 *    scan (the vectorized Parquet or ORC reader) under a pure column
 *    projection — `Project(list, ColumnarToRow(scan))` or a bare
 *    `ColumnarToRow(scan)`, each output column an attribute, an alias of
 *    one, or an int → long widening cast (the key cast of
 *    `GraphOps.projectNode`/`projectEdge`), every type one of long, int,
 *    short, byte, boolean, double, float, string, date, timestamp or
 *    timestamp_ntz — the task copies the scan's column vectors straight
 *    into its Arrow vectors, one typed loop per column, into vectors
 *    allocated once with room for `batchSize` rows. No row is built.
 *  - '''Rows.''' Every other plan (array columns such as multi-label
 *    `labels`, computed columns, non-file sources) drains
 *    `queryExecution.toRdd` through Spark's `ArrowWriter`, for the whole
 *    write.
 *
 * The payloads do not depend on the source: a batch holds the next
 * `batchSize` rows of the partition wherever the scan's own batches end,
 * so puts, their order and their bytes are the same either way.
 *
 * Lives in org.apache.spark.sql to reach the private[sql] Arrow
 * conversion machinery (ArrowUtils / ArrowWriter) — the same classes
 * Spark's own Arrow collect path uses. Row/byte counts come back through
 * accumulators, so the stats are EXACT wire bytes (unlike schema-based
 * estimates) and cost no second pass.
 */
object GraftArrow {

  /** One Arrow IPC stream file per non-empty partition under `dir`,
    * written through the partition-resolved Hadoop FileSystem (works on
    * any scheme the cluster has configured, not just local disk). */
  def writeIpcStream(df: DataFrame, dir: String, batchSize: Int = 4096): (Long, Long) = {
    val conf = new SerializableConfiguration(df.sparkSession.sparkContext.hadoopConfiguration)
    encode(df, batchSize, "graft-ipc") { pid =>
      new BatchOut {
        private var out: OutputStream = _
        private var ipc: ArrowStreamWriter = _
        // the file opens with the first batch: an empty partition writes none
        def put(root: VectorSchemaRoot): Unit = {
          if (ipc == null) {
            val path = new Path(dir, f"part-$pid%05d.arrow")
            out = path.getFileSystem(conf.value).create(path, true)
            ipc = new ArrowStreamWriter(root, null, Channels.newChannel(out))
            ipc.start()
          }
          ipc.writeBatch()
        }
        def end(): Long = if (ipc == null) 0L else { ipc.end(); ipc.bytesWritten() }
        override def close(): Unit =
          try if (ipc != null) ipc.close() finally if (out != null) out.close()
      }
    }
  }

  /** Serialize every `batchSize` rows of each partition as ONE
    * self-contained Arrow IPC stream and hand the bytes to
    * `send(partitionId, bytes)` executor-side — the per-batch do_put
    * payload unit. `send` must be serializable; it typically resolves a
    * per-executor cached client.
    *
    * Delivery contract: AT-LEAST-ONCE, whichever row source encodes.
    * `send` runs inside the task, so a task retry or a speculative
    * duplicate re-sends batches that already reached the endpoint, while
    * the accumulators count each SUCCESSFUL task once — delivered
    * rows/bytes can exceed the reported stats. The reference's Beam DoFn
    * has the same contract (_dofn.py:96-141; Beam bundles retry whole).
    * Run sink jobs with speculation off, or key batches idempotently
    * server-side if exactly-once matters. */
  def sendIpcStream(
      df: DataFrame,
      batchSize: Int = 4096)(send: (Int, Array[Byte]) => Unit): (Long, Long) =
    encode(df, batchSize, "graft-put") { pid =>
      new BatchOut {
        private val payload = new PayloadChannel
        private var bytes = 0L
        def put(root: VectorSchemaRoot): Unit = {
          payload.clear()
          val ipc = new ArrowStreamWriter(root, null, payload)
          try { ipc.start(); ipc.writeBatch(); ipc.end() } finally ipc.close()
          send(pid, payload.toByteArray)
          bytes += payload.size
        }
        def end(): Long = bytes
      }
    }

  /** The bytes of one IPC payload, in a buffer a task reuses. A plain
    * channel: the IPC writer makes many small writes per batch, and
    * `Channels.newChannel` pays interruptible-channel bookkeeping on each. */
  private final class PayloadChannel extends WritableByteChannel {
    private var buf = new Array[Byte](1 << 16)
    private var used = 0

    def write(src: ByteBuffer): Int = {
      val n = src.remaining()
      if (used + n > buf.length) buf = Arrays.copyOf(buf, math.max(2 * buf.length, used + n))
      src.get(buf, used, n)
      used += n
      n
    }
    def size: Int = used
    def clear(): Unit = used = 0
    def toByteArray: Array[Byte] = Arrays.copyOf(buf, used)
    def isOpen: Boolean = true
    def close(): Unit = ()
  }

  /** Whether a write of `df` encodes from its scan's column vectors
    * rather than from rows. */
  private[sql] def encodesColumnar(df: DataFrame): Boolean =
    columnarPlan(df.queryExecution.executedPlan).isDefined

  /** Where one task's record batches go. */
  private trait BatchOut {
    /** Ship the batch the root holds now. */
    def put(root: VectorSchemaRoot): Unit
    /** Finish the task's output; the wire bytes it carried. */
    def end(): Long
    /** Release the output, after `end` or a failure. */
    def close(): Unit = ()
  }

  /** Run one write: each task encodes its partition in batches of
    * `batchSize` rows into `open(partitionId)`. (rows, wire bytes). */
  private def encode(df: DataFrame, batchSize: Int, name: String)(
      open: Int => BatchOut): (Long, Long) = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val schema = df.schema
    val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    val sc = df.sparkSession.sparkContext
    val rowsAcc = sc.longAccumulator("graft_arrow_rows")
    val bytesAcc = sc.longAccumulator("graft_arrow_bytes")
    columnarPlan(df.queryExecution.executedPlan) match {
      case Some(ColumnarPlan(scan, columns, copies)) =>
        scan.executeColumnar().foreachPartition { batches =>
          encodeTask(schema, tz, name, open, rowsAcc, bytesAcc)(
            new ColumnarSource(_, batches, columns, copies, batchSize))
        }
      case None =>
        df.queryExecution.toRdd.foreachPartition { rows =>
          encodeTask(schema, tz, name, open, rowsAcc, bytesAcc)(
            new RowWriterSource(_, rows, batchSize))
        }
    }
    (rowsAcc.value, bytesAcc.value)
  }

  /** The encode loop of one task; always releases the Arrow allocations. */
  private def encodeTask(
      schema: StructType,
      tz: String,
      name: String,
      open: Int => BatchOut,
      rowsAcc: LongAccumulator,
      bytesAcc: LongAccumulator)(source: VectorSchemaRoot => RowSource): Unit = {
    val pid = TaskContext.getPartitionId()
    val arrowSchema = ArrowUtils.toArrowSchema(
      schema, tz, errorOnDuplicatedFieldNames = true, largeVarTypes = false)
    val alloc = ArrowUtils.rootAllocator.newChildAllocator(s"$name-$pid", 0, Long.MaxValue)
    val root = VectorSchemaRoot.create(arrowSchema, alloc)
    val out = open(pid)
    try {
      val rows = source(root)
      var total = 0L
      var n = rows.load()
      while (n > 0) {
        out.put(root)
        total += n
        n = rows.load()
      }
      val bytes = out.end()
      rowsAcc.add(total)
      bytesAcc.add(bytes)
    } finally {
      try out.close() finally { root.close(); alloc.close() }
    }
  }

  /** A task's rows, loaded into its Arrow vectors one batch at a time. */
  private trait RowSource {
    /** Replace the root's contents with the next rows of the partition,
      * at most `batchSize`; their count, 0 once the partition is done. */
    def load(): Int
  }

  /** Rows through Spark's `ArrowWriter`: every plan shape, every type. */
  private final class RowWriterSource(
      root: VectorSchemaRoot,
      rows: Iterator[InternalRow],
      batchSize: Int) extends RowSource {
    private val writer = ArrowWriter.create(root)

    def load(): Int = {
      writer.reset()
      var n = 0
      while (n < batchSize && rows.hasNext) {
        writer.write(rows.next())
        n += 1
      }
      writer.finish()
      n
    }
  }

  /** Column vectors of a columnar scan, copied column by column; a
    * loaded batch may span several scan batches. */
  private final class ColumnarSource(
      root: VectorSchemaRoot,
      batches: Iterator[ColumnarBatch],
      columns: Array[Int],
      copies: Array[ColumnCopy],
      batchSize: Int) extends RowSource {
    private val vectors = root.getFieldVectors.asScala.toArray
    vectors.foreach { v => v.setInitialCapacity(batchSize); v.allocateNew() }
    private var batch: ColumnarBatch = _
    private var pos = 0 // next unread row of `batch`

    private def advance(): Boolean = {
      while (batches.hasNext) {
        batch = batches.next()
        pos = 0
        if (batch.numRows > 0) return true
      }
      false
    }

    def load(): Int = {
      vectors.foreach(_.reset())
      var n = 0
      while (n < batchSize && ((batch != null && pos < batch.numRows) || advance())) {
        val k = math.min(batchSize - n, batch.numRows - pos)
        var c = 0
        while (c < copies.length) {
          copies(c).copy(batch.column(columns(c)), pos, vectors(c), n, k)
          c += 1
        }
        pos += k
        n += k
      }
      root.setRowCount(n)
      n
    }
  }

  /** A write whose rows can come from `scan`'s column vectors: output
    * column `i` copies scan column `columns(i)` with `copies(i)`. */
  private final case class ColumnarPlan(
      scan: SparkPlan,
      columns: Array[Int],
      copies: Array[ColumnCopy])

  private def columnarPlan(plan: SparkPlan): Option[ColumnarPlan] = {
    val body = plan match {
      case w: WholeStageCodegenExec => w.child
      case p => p
    }
    val projected = body match {
      case ProjectExec(list, c: ColumnarToRowExec) => Some((list, c.child))
      case c: ColumnarToRowExec => Some((c.output, c.child))
      case _ => None
    }
    projected.flatMap {
      case (list, InputAdapter(scan: FileSourceScanExec)) => columnsOf(list, scan)
      case (list, scan: FileSourceScanExec) => columnsOf(list, scan)
      case _ => None
    }
  }

  private def columnsOf(list: Seq[Expression], scan: FileSourceScanExec): Option[ColumnarPlan] = {
    def ordinal(a: Attribute) = Some(scan.output.indexWhere(_.exprId == a.exprId)).filter(_ >= 0)
    def column(e: Expression): Option[(Int, ColumnCopy)] = e match {
      case Alias(child, _) => column(child)
      case a: Attribute => for (i <- ordinal(a); c <- ColumnCopy.of(a.dataType)) yield (i, c)
      case c: Cast if c.dataType == LongType && c.child.dataType == IntegerType =>
        c.child match {
          case a: Attribute => ordinal(a).map(_ -> IntAsLongCopy)
          case _ => None
        }
      case _ => None
    }
    val picked = list.map(column)
    if (!scan.supportsColumnar || picked.exists(_.isEmpty)) None
    else Some(ColumnarPlan(scan, picked.map(_.get._1).toArray, picked.map(_.get._2).toArray))
  }

  /** Copies rows [from, from + n) of a Spark column vector into slots
    * [to, to + n) of an Arrow vector that has room for them. A null row
    * is skipped: a reset vector reads null and zero there, as Spark's
    * `ArrowWriter` leaves it. The values are written as the
    * `ArrowWriter` field writers write them. */
  private sealed trait ColumnCopy extends Serializable {
    def copy(c: ColumnVector, from: Int, v: FieldVector, to: Int, n: Int): Unit
  }

  private object ColumnCopy {
    def of(t: DataType): Option[ColumnCopy] = t match {
      case LongType | TimestampType | TimestampNTZType => Some(LongCopy)
      case IntegerType | DateType => Some(IntCopy)
      case ShortType => Some(ShortCopy)
      case ByteType => Some(ByteCopy)
      case BooleanType => Some(BooleanCopy)
      case DoubleType => Some(DoubleCopy)
      case FloatType => Some(FloatCopy)
      case _: StringType => Some(StringCopy)
      case _ => None
    }
  }

  private object LongCopy extends ColumnCopy {
    def copy(c: ColumnVector, from: Int, v: FieldVector, to: Int, n: Int): Unit = {
      val (valid, data) = (v.getValidityBuffer, v.getDataBuffer)
      var i = 0
      while (i < n) {
        if (!c.isNullAt(from + i)) {
          BitVectorHelper.setBit(valid, to + i)
          data.setLong((to + i) * 8L, c.getLong(from + i))
        }
        i += 1
      }
    }
  }

  private object IntAsLongCopy extends ColumnCopy {
    def copy(c: ColumnVector, from: Int, v: FieldVector, to: Int, n: Int): Unit = {
      val (valid, data) = (v.getValidityBuffer, v.getDataBuffer)
      var i = 0
      while (i < n) {
        if (!c.isNullAt(from + i)) {
          BitVectorHelper.setBit(valid, to + i)
          data.setLong((to + i) * 8L, c.getInt(from + i).toLong)
        }
        i += 1
      }
    }
  }

  private object IntCopy extends ColumnCopy {
    def copy(c: ColumnVector, from: Int, v: FieldVector, to: Int, n: Int): Unit = {
      val (valid, data) = (v.getValidityBuffer, v.getDataBuffer)
      var i = 0
      while (i < n) {
        if (!c.isNullAt(from + i)) {
          BitVectorHelper.setBit(valid, to + i)
          data.setInt((to + i) * 4L, c.getInt(from + i))
        }
        i += 1
      }
    }
  }

  private object ShortCopy extends ColumnCopy {
    def copy(c: ColumnVector, from: Int, v: FieldVector, to: Int, n: Int): Unit = {
      val (valid, data) = (v.getValidityBuffer, v.getDataBuffer)
      var i = 0
      while (i < n) {
        if (!c.isNullAt(from + i)) {
          BitVectorHelper.setBit(valid, to + i)
          data.setShort((to + i) * 2L, c.getShort(from + i))
        }
        i += 1
      }
    }
  }

  private object ByteCopy extends ColumnCopy {
    def copy(c: ColumnVector, from: Int, v: FieldVector, to: Int, n: Int): Unit = {
      val (valid, data) = (v.getValidityBuffer, v.getDataBuffer)
      var i = 0
      while (i < n) {
        if (!c.isNullAt(from + i)) {
          BitVectorHelper.setBit(valid, to + i)
          data.setByte((to + i).toLong, c.getByte(from + i))
        }
        i += 1
      }
    }
  }

  private object BooleanCopy extends ColumnCopy { // bit-packed values
    def copy(c: ColumnVector, from: Int, v: FieldVector, to: Int, n: Int): Unit = {
      val (valid, data) = (v.getValidityBuffer, v.getDataBuffer)
      var i = 0
      while (i < n) {
        if (!c.isNullAt(from + i)) {
          BitVectorHelper.setBit(valid, to + i)
          if (c.getBoolean(from + i)) BitVectorHelper.setBit(data, to + i)
        }
        i += 1
      }
    }
  }

  private object DoubleCopy extends ColumnCopy {
    def copy(c: ColumnVector, from: Int, v: FieldVector, to: Int, n: Int): Unit = {
      val (valid, data) = (v.getValidityBuffer, v.getDataBuffer)
      var i = 0
      while (i < n) {
        if (!c.isNullAt(from + i)) {
          BitVectorHelper.setBit(valid, to + i)
          data.setDouble((to + i) * 8L, c.getDouble(from + i))
        }
        i += 1
      }
    }
  }

  private object FloatCopy extends ColumnCopy {
    def copy(c: ColumnVector, from: Int, v: FieldVector, to: Int, n: Int): Unit = {
      val (valid, data) = (v.getValidityBuffer, v.getDataBuffer)
      var i = 0
      while (i < n) {
        if (!c.isNullAt(from + i)) {
          BitVectorHelper.setBit(valid, to + i)
          data.setFloat((to + i) * 4L, c.getFloat(from + i))
        }
        i += 1
      }
    }
  }

  private object StringCopy extends ColumnCopy { // as Spark's StringWriter
    def copy(c: ColumnVector, from: Int, v: FieldVector, to: Int, n: Int): Unit = {
      val out = v.asInstanceOf[VarCharVector]
      var i = 0
      while (i < n) {
        if (!c.isNullAt(from + i)) {
          val s = c.getUTF8String(from + i)
          val bytes = s.getByteBuffer
          out.setSafe(to + i, bytes, bytes.position(), s.numBytes())
        }
        i += 1
      }
    }
  }
}
