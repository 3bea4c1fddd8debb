package org.apache.spark.sql

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Paths}
import java.util.Arrays
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.functions.col

/** The encoder's columnar path against its row path: the same payloads,
  * byte for byte, and the row path for every plan the columnar path does
  * not cover. */
class GraftArrowColumnarSpec extends SparkTestBase {

  private val PerFile = 10000 // > the reader's 4096-row batches, not a multiple

  /** Two parquet files of every supported type, nulls in each column;
    * dictionary-encoded and plain strings, multibyte and empty ones. */
  private lazy val typed: String = {
    val dir = Files.createTempDirectory("graft_columnar").resolve("typed").toString
    spark.range(0, 2L * PerFile, 1, 2).selectExpr(
      "IF(id % 7 = 0, NULL, id * 1000003) AS l",
      "IF(id % 5 = 1, NULL, CAST(id % 100000 AS INT) - 50000) AS i",
      "IF(id % 6 = 2, NULL, CAST(id % 30000 AS SMALLINT)) AS s",
      "IF(id % 4 = 3, NULL, CAST(id % 200 - 100 AS TINYINT)) AS b",
      "IF(id % 9 = 4, NULL, id % 3 = 0) AS z",
      """IF(id % 8 = 5, NULL, CASE WHEN id % 1000 = 0 THEN CAST('NaN' AS DOUBLE)
        |  WHEN id % 1000 = 1 THEN -0.0D ELSE id / 7.0D END) AS d""".stripMargin,
      "IF(id % 10 = 6, NULL, CAST(id AS FLOAT) / 3) AS f",
      """IF(id % 11 = 7, NULL, CASE id % 4 WHEN 0 THEN '' WHEN 1 THEN concat('ключ-', id)
        |  WHEN 2 THEN concat('键', id, '🙂') ELSE concat('k', id) END) AS str""".stripMargin,
      """IF(id % 12 = 8, NULL, element_at(array('AUTOMOBILE', 'МЕБЕЛЬ', '', '家具'),
        |  CAST(id % 4 + 1 AS INT))) AS seg""".stripMargin,
      "IF(id % 13 = 9, NULL, date_add(DATE'1992-01-01', CAST(id % 2500 AS INT))) AS dt",
      "IF(id % 14 = 10, NULL, timestamp_micros(800000000000000 + id * 37000001)) AS ts",
      """IF(id % 15 = 11, NULL,
        |  CAST(timestamp_micros(700000000000000 + id * 1000003) AS TIMESTAMP_NTZ)) AS ntz"""
        .stripMargin)
      .write.parquet(dir)
    dir
  }

  /** Every payload a write sends, per partition in send order, plus the
    * (rows, bytes) it reports. */
  private def payloads(df: DataFrame, batchSize: Int): (Map[Int, Seq[Array[Byte]]], (Long, Long)) = {
    GraftArrowColumnarSpec.sent.clear()
    val stats = GraftArrow.sendIpcStream(df, batchSize) { (pid, ipc) =>
      GraftArrowColumnarSpec.sent.add(pid -> ipc); ()
    }
    val byPartition = GraftArrowColumnarSpec.sent.asScala.toSeq
      .groupBy(_._1).map { case (pid, ps) => pid -> ps.map(_._2) }
    (byPartition, stats)
  }

  /** Fails naming the first byte where two payloads differ. */
  private def assertSameBytes(actual: Array[Byte], expected: Array[Byte], what: String): Unit = {
    val at = Arrays.mismatch(actual, expected)
    assert(at == -1, s"$what: lengths ${actual.length} vs ${expected.length}, first difference at byte $at")
  }

  /** Rows decoded from every payload of a write. */
  private def decodedRows(df: DataFrame, batchSize: Int): Long = {
    val (sent, (rows, _)) = payloads(df, batchSize)
    val alloc = new RootAllocator()
    var decoded = 0L
    try sent.values.flatten.foreach { ipc =>
      val reader = new ArrowStreamReader(new ByteArrayInputStream(ipc), alloc)
      try while (reader.loadNextBatch()) decoded += reader.getVectorSchemaRoot.getRowCount
      finally reader.close()
    } finally alloc.close()
    assert(decoded == rows)
    decoded
  }

  private val shapes: Seq[(String, DataFrame => DataFrame)] = Seq(
    "bare scan" -> identity,
    "projection with an int -> long key cast" -> (df => df.select(
      col("i").cast("long").as("nodeId"), col("seg").as("labels"), col("l"), col("s"),
      col("b"), col("z"), col("d"), col("f"), col("str"), col("dt"), col("ts"), col("ntz"),
      col("i").as("i_again"))))

  private val layouts: Seq[(String, Seq[(String, String)])] = Seq(
    "one partition over two files" -> Seq("spark.sql.files.minPartitionNum" -> "1"),
    "a partition per file" -> Nil)

  for ((shape, select) <- shapes; (layout, conf) <- layouts; batchSize <- Seq(64, 4096, 5000)) {
    test(s"columnar payloads equal row-path payloads: $shape, $layout, batchSize $batchSize") {
      val (rowPath, rowStats) = withConf(
        conf :+ ("spark.sql.parquet.enableVectorizedReader" -> "false"): _*) {
        val df = select(spark.read.parquet(typed))
        assert(!GraftArrow.encodesColumnar(df))
        payloads(df, batchSize)
      }
      val (columnar, colStats) = withConf(conf: _*) {
        val df = select(spark.read.parquet(typed))
        assert(GraftArrow.encodesColumnar(df))
        if (conf.nonEmpty) {
          assert(df.inputFiles.length == 2)
          assert(df.queryExecution.toRdd.getNumPartitions == 1)
        }
        payloads(df, batchSize)
      }
      assert(colStats == rowStats)
      assert(rowStats._1 == 2L * PerFile)
      assert(columnar.keySet == rowPath.keySet)
      for (pid <- rowPath.keys) {
        assert(columnar(pid).size == rowPath(pid).size, s"partition $pid")
        columnar(pid).zip(rowPath(pid)).zipWithIndex.foreach { case ((c, r), k) =>
          assertSameBytes(c, r, s"partition $pid, payload $k")
        }
      }
    }
  }

  test("columnar stream files equal row-path stream files") {
    def write(vectorized: Boolean): (Map[String, Array[Byte]], (Long, Long)) =
      withConf("spark.sql.parquet.enableVectorizedReader" -> vectorized.toString) {
        val out = Files.createTempDirectory("graft_columnar_ipc").toString
        val df = spark.read.parquet(typed).select(col("i").cast("long").as("nodeId"), col("str"))
        assert(GraftArrow.encodesColumnar(df) == vectorized)
        val stats = GraftArrow.writeIpcStream(df, out, batchSize = 5000)
        val files = Files.list(Paths.get(out)).iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".arrow"))
        (files.map(f => f.getFileName.toString -> Files.readAllBytes(f)).toMap, stats)
      }
    val (rowFiles, rowStats) = write(vectorized = false)
    val (colFiles, colStats) = write(vectorized = true)
    assert(colStats == rowStats)
    assert(rowFiles.nonEmpty && rowFiles.values.map(_.length.toLong).sum == rowStats._2)
    assert(colFiles.keySet == rowFiles.keySet)
    for ((name, bytes) <- rowFiles) assertSameBytes(colFiles(name), bytes, name)
  }

  test("array<string> labels take the row path and round-trip") {
    val dir = Files.createTempDirectory("graft_multilabel").resolve("nodes").toString
    spark.range(0, 3000).selectExpr("id AS k",
      "IF(id % 5 = 0, NULL, array('Person', IF(id % 2 = 0, 'Buyer', NULL))) AS labels")
      .write.parquet(dir)
    val df = spark.read.parquet(dir).select(col("k").as("nodeId"), col("labels"))
    assert(!GraftArrow.encodesColumnar(df))
    assert(decodedRows(df, 64) == 3000)
  }

  test("a computed column takes the row path and round-trips") {
    val df = spark.read.parquet(typed).select(col("l").as("nodeId"), (col("i") + 1).as("x"))
    assert(!GraftArrow.encodesColumnar(df))
    assert(decodedRows(df, 4096) == 2L * PerFile)
  }

  test("a non-file source takes the row path and round-trips") {
    val df = spark.range(0, 5000, 1, 3).toDF("nodeId")
    assert(!GraftArrow.encodesColumnar(df))
    assert(decodedRows(df, 1000) == 5000)
  }
}

object GraftArrowColumnarSpec {
  /** Payloads sent by executor tasks (local mode: the same JVM). */
  val sent = new ConcurrentLinkedQueue[(Int, Array[Byte])]()
}
