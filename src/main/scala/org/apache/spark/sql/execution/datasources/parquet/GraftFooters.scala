package org.apache.spark.sql.execution.datasources.parquet

import scala.collection.mutable
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{caseInsensitiveResolution, caseSensitiveResolution}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/**
 * Merged Parquet schemas for several file groups from ONE footer-reading
 * Spark job — the algorithm of `ParquetFileFormat.mergeSchemasInParallel`
 * (what `spark.read.option("mergeSchema", "true")` runs), keyed by group.
 * Each distinct file's footer is read once even when several groups name
 * it; each task folds its files' schemas per group, and the driver folds
 * the partial schemas per group in file order. The job has
 * min(#files, defaultParallelism) tasks, so it scales with file count
 * like the per-read inference job it replaces.
 *
 * Lives in Spark's parquet package to reach the footer helpers
 * (`readParquetFootersInParallel`, `readSchemaFromFooter`) and
 * `StructType.merge`, as GraftArrow reaches Spark's Arrow writer.
 */
object GraftFooters {

  /** The schema converter's SQLConf flags, captured on the driver:
    * SQLConf does not travel with a task, and the Configuration-based
    * converter constructor fails on keys the Hadoop conf does not set. */
  private final case class ConverterFlags(
      binaryAsString: Boolean,
      int96AsTimestamp: Boolean,
      caseSensitive: Boolean,
      inferTimestampNTZ: Boolean,
      nanosAsLong: Boolean,
      useFieldId: Boolean,
      ignoreVariantAnnotation: Boolean,
      respectUnknownTypeAnnotation: Boolean) {
    def converter: ParquetToSparkSchemaConverter = new ParquetToSparkSchemaConverter(
      binaryAsString, int96AsTimestamp, caseSensitive, inferTimestampNTZ,
      nanosAsLong, useFieldId, ignoreVariantAnnotation, respectUnknownTypeAnnotation)
  }

  private object ConverterFlags {
    def apply(c: SQLConf): ConverterFlags = ConverterFlags(
      c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp, c.caseSensitiveAnalysis,
      c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong,
      c.parquetFieldIdReadEnabled, c.parquetIgnoreVariantAnnotation,
      c.parquetReaderRespectUnknownTypeAnnotation)
  }

  /** One merged schema per group, in `groups` order; every group names at
    * least one file. A group's label names it in errors: a type conflict
    * fails with an error that names the label and the column. */
  def mergeSchemas(
      spark: SparkSession,
      groups: Seq[(String, Seq[FileStatus])]): Seq[StructType] = {
    if (groups.isEmpty) return Nil
    // distinct files in first-appearance order, with the groups reading each
    val readers = mutable.LinkedHashMap.empty[String, (Long, mutable.ArrayBuffer[Int])]
    for (((_, files), g) <- groups.zipWithIndex; f <- files) {
      val (_, gs) = readers.getOrElseUpdate(
        f.getPath.toString, (f.getLen, mutable.ArrayBuffer.empty[Int]))
      if (!gs.contains(g)) gs += g
    }

    val conf = spark.sessionState.conf
    val flags = ConverterFlags(conf)
    val caseSensitive = flags.caseSensitive
    val ignoreCorrupt = conf.ignoreCorruptFiles
    val hadoopConf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val labels = groups.map(_._1)
    val work = readers.toSeq.map { case (p, (len, gs)) => (p, len, gs.toSeq) }

    val partials = spark.sparkContext
      .parallelize(work, math.min(work.size, spark.sparkContext.defaultParallelism))
      .mapPartitions { part =>
        val files = part.toSeq
        // Parquet needs only path and length; FileStatus is not serializable
        val statuses = files.map { case (p, len, _) =>
          new FileStatus(len, false, 0, 0, 0, 0, null, null, null, new Path(p))
        }
        val converter = flags.converter
        val schemaOf = ParquetFileFormat
          .readParquetFootersInParallel(hadoopConf.value, statuses, ignoreCorrupt)
          .map(f => f.getFile -> ParquetFileFormat.readSchemaFromFooter(f, converter))
          .toMap
        val merged = mutable.LinkedHashMap.empty[Int, StructType]
        for ((p, _, gs) <- files; s <- schemaOf.get(new Path(p)); g <- gs)
          merged(g) = merged.get(g).fold(s)(merge(_, s, caseSensitive, labels(g)))
        merged.iterator
      }
      .collect()

    val merged = mutable.Map.empty[Int, StructType]
    for ((g, s) <- partials)
      merged(g) = merged.get(g).fold(s)(merge(_, s, caseSensitive, labels(g)))
    labels.indices.map { g =>
      merged.getOrElse(g, throw new SparkException(
        s"no readable parquet footer among the files of ${labels(g)}"))
    }
  }

  private def merge(
      left: StructType,
      right: StructType,
      caseSensitive: Boolean,
      label: String): StructType =
    try left.merge(right, caseSensitive)
    catch {
      case NonFatal(e) =>
        val same = if (caseSensitive) caseSensitiveResolution else caseInsensitiveResolution
        val clash = right.fields.iterator.flatMap { r =>
          left.fields.find(l => same(l.name, r.name))
            .filter(l => Try(StructType(Seq(l)).merge(StructType(Seq(r)), caseSensitive)).isFailure)
            .map(l => s"column `${r.name}` (${l.dataType.sql} vs ${r.dataType.sql})")
        }
        val what = clash.nextOption().getOrElse("their schemas")
        throw new SparkException(s"parquet files of $label disagree on $what", e)
    }
}
