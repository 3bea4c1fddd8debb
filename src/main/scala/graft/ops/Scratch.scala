package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}

/**
 * Scratch-table materialization for multi-consumer intermediates.
 *
 * `materialize(df)` writes the frame once as parquet and returns a fresh
 * scan of it — the "signature table between two jobs" pattern: every
 * downstream consumer re-reads the computed columns instead of
 * re-executing the producing plan. Unlike `persist()` (which a function
 * returning a lazy plan can never safely `unpersist` — the round-2 cache
 * leak), a scratch table needs no lifecycle hand-off: nothing is pinned
 * in executor storage memory, and the files are reclaimed when the
 * session ends.
 *
 * Placement:
 *  - `spark.graft.scratchDir` set → subdirs under it (a cluster would
 *    point this at a shared filesystem; the caller owns that dir's
 *    retention).
 *  - unset → a per-JVM local temp root, deleted recursively by a
 *    shutdown hook.
 */
object Scratch {

  /** Eagerly write `df` to a fresh scratch path, return a scan of it. */
  def materialize(df: DataFrame, prefix: String): DataFrame =
    materializeAt(df, prefix)._1

  /** `materialize` that also hands back the written path for callers
    * that retire the table eagerly once its last reader finishes. */
  def materializeAt(df: DataFrame, prefix: String): (DataFrame, String) = {
    val spark = df.sparkSession
    val path = dir(spark.conf.getOption("spark.graft.scratchDir"), prefix)
    df.write.mode("overwrite").parquet(path)
    (scan(df, path), path)
  }

  /** Like `materialize`, but also computes aggregate `metrics` over the
    * written rows DURING the write job (via `Dataset.observe`) — an
    * iterative driver loop gets its convergence witness for free instead
    * of scheduling a second scan per iteration. */
  def materializeObserved(
      df: DataFrame,
      prefix: String,
      metric: Column,
      metrics: Column*): (DataFrame, Map[String, Any]) = {
    val (scan, m, _) = materializeObservedAt(df, prefix, metric, metrics: _*)
    (scan, m)
  }

  /** Marker file dropped into every observed-write scratch directory —
    * the machine-readable record that this table's row count was
    * MEASURED on the write (the decontaminate / quantileNormalize gate
    * discipline). `BnljBoundedSpec` reads it to accept a broadcast of
    * the table without a per-prefix whitelist: any future
    * `materializeObserved` site is covered automatically, and a scratch
    * table written WITHOUT observation never picks up the marker. */
  val observedMarker = "_GRAFT_OBSERVED"

  /** Marker file recording that a scratch table's observed row count
    * was CHECKED against an enforced bound — the only marker the
    * broadcast-hygiene spec (`BnljBoundedSpec`) accepts. The
    * `_GRAFT_OBSERVED` marker alone proves the count was MEASURED;
    * iterative loops observe corpus-scale tables (louvain_edges,
    * scc_edges, ...) for their convergence witnesses without any size
    * enforcement, so "observed" must not read as "broadcast bounded".
    * Only [[markBounded]] drops this marker, and it requires the bound
    * to actually hold first — a site cannot claim enforcement without
    * performing it. */
  val boundedMarker = "_GRAFT_BOUNDED"

  /** Enforce `observed <= bound` for a scratch table written at `path`
    * (failing with the caller's message — name the escape route), then
    * drop the [[boundedMarker]] that makes the table broadcast-eligible
    * under `BnljBoundedSpec`. The require and the marker are one
    * operation by design: the marker physically cannot appear on a
    * table whose bound was not checked. */
  def markBounded(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      observed: Long,
      bound: Long,
      message: => String): Unit = {
    require(observed <= bound, message)
    val marker = new org.apache.hadoop.fs.Path(path, boundedMarker)
    marker.getFileSystem(spark.sessionState.newHadoopConf())
      .create(marker, true).close()
    ()
  }

  /** `materializeObserved` that also hands back the written path, for
    * iterative callers that retire superseded scratch tables themselves
    * (see `drop`) instead of leaving them to the JVM shutdown hook — a
    * long-lived session running many iterative jobs would otherwise
    * accumulate O(iterations) dead parquet directories. */
  def materializeObservedAt(
      df: DataFrame,
      prefix: String,
      metric: Column,
      metrics: Column*): (DataFrame, Map[String, Any], String) = {
    val spark = df.sparkSession
    val path = dir(spark.conf.getOption("spark.graft.scratchDir"), prefix)
    val obs = Observation()
    df.observe(obs, metric, metrics: _*)
      .write.mode("overwrite").parquet(path)
    val marker = new org.apache.hadoop.fs.Path(path, observedMarker)
    marker.getFileSystem(spark.sessionState.newHadoopConf())
      .create(marker, true).close()
    (scan(df, path), obs.get, path)
  }

  /** A scan of the table `df` was written to. The written schema is
    * known, so the read skips parquet's schema inference (one job). */
  private def scan(df: DataFrame, path: String): DataFrame =
    df.sparkSession.read.schema(df.schema).parquet(path)

  /** Delete a scratch table eagerly (any Hadoop-FS scheme). Callers must
    * only drop paths whose LAST reader has finished — a dropped table's
    * returned scan is a dangling plan. A null path is a no-op: driver-
    * local fast paths hand back plans with no backing scratch table. */
  def drop(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    if (path != null) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      ()
    }

  /** A fresh scratch directory path (created only for the local default
    * root; configured roots get a unique child path, not pre-created). */
  def dir(base: Option[String], prefix: String): String = base match {
    case Some(b) =>
      s"${b.stripSuffix("/")}/${prefix}_${java.util.UUID.randomUUID().toString.take(12)}"
    case None =>
      java.nio.file.Files.createTempDirectory(localRoot, prefix).toString
  }

  /** Per-JVM local scratch root, removed on JVM exit. */
  lazy val localRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_scratch_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(p.toFile)))
    p
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }
}
