package org.apache.spark.sql.execution.datasources.parquet

import scala.collection.mutable
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path}
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{caseInsensitiveResolution, caseSensitiveResolution}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/**
 * The routed Parquet reads of a graph load: merged schemas for several
 * file groups from ONE footer-reading Spark job (`mergeSchemas`), then a
 * scan over each group's files from the statuses routing already holds
 * (`read`).
 *
 * `mergeSchemas` is the algorithm of
 * `ParquetFileFormat.mergeSchemasInParallel` (what
 * `spark.read.option("mergeSchema", "true")` runs), keyed by group.
 * Each distinct file's footer is read once even when several groups name
 * it; each task folds its files' schemas per group, and the driver folds
 * the partial schemas per group in file order. The job has
 * min(#files, defaultParallelism) tasks, so it scales with file count
 * like the per-read inference job it replaces.
 *
 * `read` builds the relation `spark.read.schema(s).parquet(files)` would,
 * without its glob and listing of files routing has just listed.
 *
 * Lives in Spark's parquet package to reach the footer helpers
 * (`readParquetFootersInParallel`, `readSchemaFromFooter`),
 * `StructType.merge` and the file index, as GraftArrow reaches Spark's
 * Arrow writer.
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

  /** A Parquet scan of `files` with data schema `schema` — the relation
    * `spark.read.schema(schema).parquet(paths)` resolves to, over an
    * `InMemoryFileIndex` whose status cache answers with `files`, so the
    * read neither globs nor lists them again. */
  def read(spark: SparkSession, schema: StructType, files: Seq[FileStatus]): DataFrame = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val byPath = files.map(f => f.getPath -> located(f, hadoopConf)).toMap
    val routed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        byPath.get(path).map(Array(_))
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, files.map(_.getPath), Map.empty, Some(schema), routed)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      schema.asNullable, bucketSpec = None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** `f` with its block locations, as Spark's file listing returns it, so
    * scan tasks prefer the hosts that hold their blocks. (The short
    * `LocatedFileStatus` constructor would read permissions, which is
    * slow on the local file system.) */
  private def located(f: FileStatus, conf: Configuration): FileStatus = f match {
    case l: LocatedFileStatus => l
    case _ =>
      val blocks = f.getPath.getFileSystem(conf).getFileBlockLocations(f, 0, f.getLen)
      new LocatedFileStatus(f.getLen, f.isDirectory, f.getReplication, f.getBlockSize,
        f.getModificationTime, 0, null, null, null, null, f.getPath, blocks)
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
