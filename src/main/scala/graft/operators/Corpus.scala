package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus-assembly operators: the steps a training-data pipeline runs
 * AFTER dedup/scoring to turn a scored document pool into a training
 * mixture — cluster resolution for near-dup pairs, deterministic
 * mixture sampling, token-budget sequence packing, and tf-idf term
 * scoring. (Extension surface beyond the reference, like Dedup/
 * Similarity/TextAnalysis; the reference itself stops at graph
 * projection — README.md:1-40.)
 *
 * All operators are deterministic and built from codegen'd built-ins —
 * no UDFs, no unbounded driver-side data handling: the CC driver loop
 * iterates O(graph diameter) times over AGGREGATES, and the only
 * row-level collect is the union-find fast path, gated on an OBSERVED
 * edge count under an explicit byte-bounded threshold.
 */
object Corpus {

  /** The deterministic coin every stochastic-looking operator draws
    * from: first 4 md5 bytes of `salt + id` as an unsigned 32-bit
    * integer. The per-PURPOSE salt is load-bearing: with one unsalted
    * coin, composing operators degenerates (a 50% `mixtureSample`
    * keeps exactly the docs with coin < 2^31, and a downstream
    * `assignSplits` over the survivors would put every one of them in
    * the first split — valid/test would be EMPTY). Distinct salts make
    * the draws independent while keeping every operator reproducible
    * and nested in its own parameter. */
  private[operators] def coin(idCol: String, salt: String) =
    conv(substring(md5(concat(lit(salt), col(idCol).cast("string"))), 1, 8), 16, 10)
      .cast("long")

  /**
   * Connected components over an undirected pair list — resolves dup
   * PAIRS (LSH/exact verify output) into dup CLUSTERS, each labeled by
   * its minimum member id: the "keep one representative per cluster"
   * step that pair output alone cannot answer (a~b, b~c must collapse
   * to ONE cluster {a,b,c}).
   *
   * Algorithm: min-label propagation WITH pointer jumping —
   *
   *   label_i(v) = min( label_{i-1}(v),                 // self
   *                     min over neighbors u of label_{i-1}(u),  // propagate
   *                     label_{i-1}(label_{i-1}(v)) )   // pointer jump
   *
   * The neighbor step alone needs O(diameter) rounds (a 1000-link chain
   * of near-dups would need 1000 shuffles); the pointer-jump term
   * (labels joined with labels on label = id) halves remaining chain
   * length every round, so convergence is O(log diameter) — the same
   * round bound as the large-star/small-star formulation (Kiveris et
   * al., "Connected Components in MapReduce and Beyond", SoCC'14),
   * with two keyed joins + one min-agg per round.
   *
   * Every iteration writes its (id, label) frame as a scratch table and
   * computes from the previous iteration's TABLE, not its lineage — the
   * plan is constant-size regardless of round count (a persist-based
   * loop doubles the logical plan every round: the round-3 OOM) and no
   * executor storage is pinned. The driver-side fixpoint check on
   * sum(label) (labels only decrease ⇒ the sum is a monotone convergence
   * witness) rides on the write job itself via `Dataset.observe` — ONE
   * job per iteration, no second scan. A pair table that fits the
   * [[graft.ops.Pin]] gate skips the loop: one bounded collect, then a
   * driver union-find.
   */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "a",
      bCol: String = "b",
      maxIters: Int = 30): DataFrame = {
    import graft.ops.Scratch
    // Small-graph fast path FIRST, as one bounded collect of the pair
    // producer under the Pin gate (rows AND bytes): a near-dup pair list
    // is usually TINY relative to its corpus (it already survived LSH +
    // verification), and the union-find replaces O(diameter)
    // distributed rounds — the same switchover production CC
    // implementations use. Past the gate, the scratch-table loop below
    // is the scale path, over the pair table the same collect spilled.
    val p0 = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
    val placed = graft.ops.Pin.place(p0, "cc_pairs")
    placed.rows.foreach(rows =>
      return unionFindLabels(pairs.sparkSession, rows, p0.schema))
    val (p, pPath) = (placed.df, placed.path)
    val edges = p.select(col("a").as("s"), col("b").as("d"))
      .union(p.select(col("b").as("s"), col("a").as("d")))
    // Convergence witness, generic over the id type: labels only ever
    // DECREASE under min-propagation, so for numeric ids an unchanged
    // label sum is an exact no-change proof. Non-numeric orderable ids
    // (strings, timestamps) sum xxhash64(label) instead — equality still
    // implies no change up to a 2^-64 per-round collision, and the
    // decimal(38,0) cast keeps both sums overflow-exact under ANSI at
    // any row count.
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val labelStat = p.schema.fields(0).dataType match {
      case _: org.apache.spark.sql.types.NumericType => col("label")
      case _ => xxhash64(col("label"))
    }
    val witness = coalesce(sum(labelStat.cast(dec)), lit(0L).cast(dec)).as("label_sum")
    // initial labels fold in the first propagation round: label(v) =
    // min(v, min neighbor) in a single groupBy, no distinct+join
    var (labels, m0, labelsPath) = Scratch.materializeObservedAt(
      edges.groupBy(col("s").as("id"))
        .agg(least(col("s"), min(col("d"))).as("label")),
      "cc_labels", witness)
    var prevSum: Any = m0("label_sum")
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val nbrMin = labels
        .join(edges, col("id") === col("s"))
        .select(col("d").as("id"), col("label"))
      // one composed jump per round: guards the O(log diameter) bound on
      // adversarial chains. (Measured on the sf0.1 LSH pair graph:
      // labels mostly point at roots already, so deeper compositions
      // (label³) cost two extra joins and cut ZERO rounds — convergence
      // there is neighbor-propagation-limited by true graph diameter.)
      val jump = labels.select(col("id"), col("label").as("l0"))
        .join(labels.select(col("id").as("l0"), col("label")), Seq("l0"))
        .select(col("id"), col("label"))
      val (next, m, nextPath) = Scratch.materializeObservedAt(
        nbrMin.union(labels).union(jump)
          .groupBy(col("id"))
          .agg(min(col("label")).as("label")),
        "cc_labels", witness)
      val s = m("label_sum")
      // the superseded labels table was fully consumed by the write job
      // that just finished — retire its files now, not at JVM exit
      Scratch.drop(pairs.sparkSession, labelsPath)
      labels = next
      labelsPath = nextPath
      converged = s == prevSum
      prevSum = s
      it += 1
    }
    // the edge table fed its last propagation round; only the final
    // labels table (the returned scan) outlives the call
    Scratch.drop(pairs.sparkSession, pPath)
    labels
  }

  /** Union-find with path compression over a collected pair table,
    * labels = min member id per component — value- AND type-identical to
    * the distributed loop: ids are handled generically (union-find runs
    * over dense first-seen indices; the component minimum uses the id
    * type's natural order, which is what Spark's `min`/`least` compute
    * for every orderable atomic type), and the returned (id, label)
    * columns carry the INPUT id type, never a coerced long. A non-numeric
    * id corpus therefore takes the same semantics on both sides of the
    * Pin gate. */
  private def unionFindLabels(
      spark: org.apache.spark.sql.SparkSession,
      raw: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val dt = schema.fields(0).dataType
    // boxed external row values (Long, String, Timestamp, BigDecimal, …)
    // are Comparable with exactly the ordering Spark's min aggregates use
    val ord: Ordering[Any] = new Ordering[Any] {
      def compare(x: Any, y: Any): Int =
        x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
    val index = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
    def idOf(v: Any): Int = index.getOrElseUpdate(v, index.size)
    val edges = raw.map(r => (idOf(r.get(0)), idOf(r.get(1))))
    val parent = Array.tabulate(index.size)(identity)
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val values = index.keys.toArray
    val minOfRoot = scala.collection.mutable.Map.empty[Int, Any]
    values.indices.foreach { i =>
      val r = find(i)
      minOfRoot.get(r) match {
        case Some(m) if ord.compare(m, values(i)) <= 0 => ()
        case _ => minOfRoot(r) = values(i)
      }
    }
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(values.indices.sortBy(i => values(i))(ord).map(i =>
        org.apache.spark.sql.Row(values(i), minOfRoot(find(i)))): _*)
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", dt, nullable = false),
      org.apache.spark.sql.types.StructField("label", dt, nullable = false))))
  }

  /** connectedComponents over dup pairs, closed over the corpus: every
    * document gets a cluster id (its component's min doc id; singletons
    * map to themselves). Downstream keep-one dedup is then
    * `filter(doc_id === cluster_id)`. */
  def dupClusters(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    // connectedComponents scratch-materializes the pair list up front,
    // so the (possibly expensive) LSH+verify producer runs exactly once
    // and every CC iteration re-reads a cheap 2-column table — the
    // warehouse shape: dup pairs are a produced artifact, clustering
    // consumes it.
    val cc = connectedComponents(pairs)
    docs.select(col(idCol).as("doc_id"))
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
  }

  /** Deterministic per-source mixture sampling: keep a document iff its
    * `mix:`-salted [[coin]] falls under the source's rate threshold.
    * The comparison is INTEGER (thresholds precomputed as ⌊rate·2^32⌋),
    * so there is no float-boundary hazard, the sample is reproducible
    * across engines/runs, and resampling with a higher rate yields a
    * superset (nested samples — the property mixture tuning needs).
    * Pure map-side filter: scan-speed at any scale. */
  def mixtureSample(
      docs: DataFrame,
      rates: Map[String, Double],
      defaultRate: Double,
      sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val c = coin(idCol, "mix:")
    val threshold = rates.foldLeft(lit((defaultRate * 4294967296L).toLong)) {
      case (acc, (src, rate)) =>
        when(col(sourceCol) === src, lit((rate * 4294967296L).toLong)).otherwise(acc)
    }
    docs.filter(c < threshold)
  }

  /**
   * Deterministic epoch shuffle — the global training-order
   * randomization a data loader consumes: each document draws an
   * `epoch`-salted [[coin]] as its `order_key` and lands in shard
   * `order_key mod nShards`; the realized order is (shard, order_key).
   * Properties the md5 coin buys: reproducible across runs/engines/
   * partitionings, a DIFFERENT pseudo-random permutation per epoch
   * (the salt), and independence from the samplers' coins (per-purpose
   * salts). Zero windows, zero shuffles in THIS plan — a writer
   * realizes the order with `repartition(shard)` +
   * `sortWithinPartitions(order_key)`, which is the one unavoidable
   * exchange a global shuffle needs, sized by `nShards`.
   */
  def epochShuffle(
      docs: DataFrame,
      epoch: Int,
      nShards: Int = 1024,
      idCol: String = "doc_id"): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    val c = coin(idCol, s"epoch$epoch:")
    docs.select(col(idCol), pmod(c, lit(nShards.toLong)).as("shard"),
      c.as("order_key"))
  }

  /**
   * Quantile normalization across groups — the batch-effect correction
   * a mixture designer runs before a GLOBAL quality threshold: one
   * source's scorer may be systematically harsher, so each group's
   * value maps to the POOLED distribution's value at the same
   * within-group rank (the microarray-normalization classic, applied
   * to per-source quality scores). After normalization a single
   * corpus-wide cut treats every source fairly.
   *
   * Entirely INTEGER comparisons: a group value with before-count c₀,
   * tie-count t and group size n sits at plotting fraction
   * (2c₀+t+1)/(2n); its normalized value is the smallest pooled value
   * whose cumulative count C satisfies 2·C·n ≥ N·(2c₀+t+1) — the
   * cross-multiplied form needs no float anywhere (DECIMAL(38,0)
   * products), so the mapping is bit-identical across engines and
   * partitionings.
   *
   * Scale contract: both sides are VALUE HISTOGRAMS (the
   * [[Quality.ksTest]] discipline — normalize 6-dp-bucketed scores,
   * not raw floats), so the ordering windows and the theta join run
   * over distinct-value counts, never rows. The join fanout is
   * |group-histogram| × |pooled-histogram| before the min-aggregate.
   * Unlike a [0,1] score (where 6-dp rounding bounds distinct values
   * at ~1e6), a wide-range double column makes that fanout UNBOUNDED —
   * so the contract is ENFORCED, not assumed (the [[decontaminate]]
   * observed-count discipline): the group histogram is materialized
   * once with its exact row count riding the write job, the pooled
   * histogram (derived FROM it — the input is scanned exactly once)
   * likewise, and the call fails fast with the measured sizes when
   * `|pooled| > maxPooledRows` (the broadcast bound) or
   * `|group-hist| × |pooled| > maxJoinFanout` (the comparison bound).
   * The escape route is coarser bucketing: pre-round/bin `valueCol`
   * before the call. As a bonus the global row total rides the same
   * observation and embeds as a literal — the old plan scanned the
   * input three times (group hist, pooled hist, totals) and
   * cross-joined a 1-row frame; this one scans it once.
   */
  def quantileNormalize(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      maxPooledRows: Long = 4000000L,
      maxJoinFanout: Long = 2000000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPooledRows > 0, "maxPooledRows must be positive")
    require(maxJoinFanout > 0, "maxJoinFanout must be positive")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val rows = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"),
        round(col(valueCol).cast("double"), 6).as("v"))
    val (gh, ghMeta) = graft.ops.Scratch.materializeObserved(
      rows.groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt")),
      "qnorm_gh", count(lit(1)).as("n_hist"), sum(col("cnt")).as("nn"))
    val nGh = ghMeta("n_hist").asInstanceOf[Long]
    if (nGh == 0L) // empty input: no rows to normalize, and the window/
      // join below would otherwise see a null nn literal
      return gh.select(col("g").as(groupCol), col("v").as(valueCol),
        col("cnt").as("n"), col("v").as("v_norm"))
    val nn = ghMeta("nn").asInstanceOf[Long]
    val (p0, phMeta, phPath) = graft.ops.Scratch.materializeObservedAt(
      gh.groupBy(col("v").as("pv")).agg(sum(col("cnt")).as("pcnt")),
      "qnorm_ph", count(lit(1)).as("n_hist"))
    val nPh = phMeta("n_hist").asInstanceOf[Long]
    // enforce the broadcast bound AND record it: markBounded performs
    // the require and only then drops the _GRAFT_BOUNDED marker that
    // makes this table's broadcast acceptable to BnljBoundedSpec
    graft.ops.Scratch.markBounded(df.sparkSession, phPath, nPh, maxPooledRows,
      s"quantileNormalize: pooled value histogram has $nPh rows > " +
        s"maxPooledRows=$maxPooledRows - the 6-dp bucketing does not " +
        s"bound this column; pre-round/bin '$valueCol' coarser")
    require(BigInt(nGh) * BigInt(nPh) <= BigInt(maxJoinFanout),
      s"quantileNormalize: histogram join fanout $nGh x $nPh > " +
        s"maxJoinFanout=$maxJoinFanout - pre-round/bin '$valueCol' " +
        "coarser or normalize per-partition")
    val wg = Window.partitionBy(col("g")).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val g = gh
      .withColumn("c0", coalesce(sum(col("cnt")).over(wg), lit(0L)))
      .withColumn("ng", sum(col("cnt")).over(Window.partitionBy(col("g"))))
      .withColumn("a", lit(2L) * col("c0") + col("cnt") + 1L)
    val wp = Window.orderBy(col("pv").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = p0.withColumn("pc", sum(col("pcnt")).over(wp))
    g.join(broadcast(p), // histogram-sized, gate-measured — BNLJ
        lit(2L).cast(dec) * col("pc") * col("ng") >=
          lit(nn).cast(dec) * col("a"))
      .groupBy(col("g").as(groupCol), col("v").as(valueCol),
        col("cnt").as("n"))
      .agg(min(col("pv")).as("v_norm"))
  }

  /** Quality-weighted mixture sampling — the mixture-TUNING form a
    * training-data pipeline actually runs: keep probability = source
    * rate × per-document weight (clamped to [0,1]), so within one
    * source, higher-quality documents survive proportionally more
    * often. Same integer-coin determinism as [[mixtureSample]] (salt
    * `qmix:`): the threshold is ⌊rate·w·2^32⌋, one double multiply +
    * floor — engine-reproducible when `weightCol` is itself
    * deterministic (pass a 6-dp-rounded score such as
    * TextFunctions.qualityScore, not a raw float race). Pure map-side
    * filter: scan-speed at any scale, and nested in rate (raising a
    * source's rate yields a superset). */
  def weightedMixtureSample(
      docs: DataFrame,
      rates: Map[String, Double],
      defaultRate: Double,
      weightCol: String,
      sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val c = coin(idCol, "qmix:")
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (src, r)) =>
      when(col(sourceCol) === src, lit(r)).otherwise(acc)
    }
    val p = least(greatest(rate * col(weightCol).cast("double"), lit(0.0)), lit(1.0))
    docs.filter(c < floor(p * lit(4294967296.0)).cast("long"))
  }

  /** Neyman-allocation stratified sampling: spend a global sample
    * `budget` across strata proportionally to n_h·σ_h (the
    * variance-optimal allocation for estimating a mean — Neyman 1934),
    * realized as a per-stratum deterministic coin rate.
    *
    * Why a pipeline wants it: fixed-rate sampling over-spends budget on
    * huge homogeneous strata; Neyman shifts it to the strata whose
    * `valueCol` (quality score, length, loss) actually varies.
    *
    * Shape: ONE tiny per-stratum aggregate (n, decimal-exact moment
    * sums of the 6-dp-rounded value — the dimStats discipline, so σ_h
    * is bit-stable under any partitioning), allocation arithmetic on
    * that few-row frame, then the broadcast-joined integer-coin filter
    * (salt `ney:`) — the whole sampler is one scan + one broadcast
    * join, map-side at any scale. Weights w_h = round(n_h·σ_h, 6) are
    * summed as decimal (order-exact) before the double division, so
    * the realized rates — and therefore membership — are reproducible
    * across engines; rates clamp to 1 (a stratum can't give more than
    * it has; the residual budget is NOT redistributed — allocation is
    * one closed-form pass, not an iterative solver). */
  def neymanSample(
      docs: DataFrame,
      budget: Long,
      valueCol: String,
      sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    require(budget > 0, "budget must be positive")
    val vr = round(col(valueCol).cast("double"), 6)
    val strata = docs
      .select(col(sourceCol), vr.as("vr"))
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_h"),
        sum(col("vr").cast("decimal(28,6)")).cast("double").as("s1"),
        sum((col("vr") * col("vr")).cast("decimal(38,12)")).cast("double").as("s2"))
      .select(col(sourceCol), col("n_h"),
        // the variance clamps at 0: a constant-valued stratum can land
        // an ulp below zero from double rounding, and sqrt(-eps) = NaN
        // would poison w_tot → every rate least(1, NaN) = 1, silently
        // ignoring the budget
        round(col("n_h") * sqrt(greatest(
          (col("s2") - col("s1") * col("s1") / col("n_h")) / col("n_h"),
          lit(0.0d))), 6)
          .as("w_h"))
    val totalW = strata.agg(
      sum(col("w_h").cast("decimal(28,6)")).cast("double").as("w_tot"))
    val rates = strata.crossJoin(totalW)
      .select(col(sourceCol),
        // all-zero-variance corpora have no Neyman signal: w_tot = 0
        // would make every rate 0/0 = NaN (kept as 1) — rate 0 instead
        when(col("w_tot") > 0.0d,
          least(lit(1.0d),
            lit(budget.toDouble) * col("w_h") / col("w_tot") / col("n_h")))
          .otherwise(lit(0.0d))
          .as("rate"))
      .select(col(sourceCol), col("rate"),
        floor(col("rate") * lit(4294967296.0d)).cast("long").as("thr"))
    docs.join(broadcast(rates), sourceCol)
      .filter(coin(idCol, "ney:") < col("thr"))
      .select(col(idCol), col(sourceCol), round(col("rate"), 6).as("rate"))
  }

  /** Temperature-flattened mixture sampling (multilingual-corpus
    * balancing): with source shares p_i, sample with probability
    * q_i ∝ p_i^(1/T), which a per-document keep-rate of
    * (n_min/n_i)^(1−1/T) realizes without up-sampling — the smallest
    * source keeps everything, larger sources are downweighted toward
    * balance; T=1 keeps the natural mixture, T→∞ equalizes sources.
    *
    * Determinism: the rate table is one tiny groupBy (AQE broadcasts
    * the join back); for the DEFAULT T=2 the exponent is 0.5, computed
    * via `sqrt` — correctly rounded under IEEE 754, hence bit-identical
    * across engines. Other temperatures go through `pow`, which libms
    * round differently in the last ulp; fine for production sampling,
    * but cross-engine verification pins T=2. The coin (salt `tmix:`)
    * keeps membership reproducible and independent of the other
    * samplers. */
  def temperatureMixtureSample(
      docs: DataFrame,
      temperature: Double = 2.0,
      sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    require(temperature >= 1.0, "temperature must be >= 1")
    val counts = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("src_n"))
    val minN = counts.agg(min(col("src_n")).as("min_n"))
    val ratio = col("min_n").cast("double") / col("src_n").cast("double")
    val rateExpr =
      if (temperature == 2.0) sqrt(ratio)
      else pow(ratio, lit(1.0 - 1.0 / temperature))
    val rates = counts.crossJoin(minN)
      .select(col(sourceCol), rateExpr.as("keep_rate"))
    docs.join(rates, Seq(sourceCol))
      .filter(coin(idCol, "tmix:") <
        floor(col("keep_rate") * lit(4294967296.0)).cast("long"))
  }

  /** Mixture BUDGET PLAN: the per-source allocation sheet a mixture
    * designer reads before launching the samplers — for a target token
    * budget, how many tokens each source gets under temperature-
    * flattened (T=2) weighting, single-pass proportional with a
    * per-source availability cap (a capped source is flagged rather
    * than waterfill-redistributed; iterate with the flag if exact
    * budget fill matters).
    *
    * Everything is one tiny per-source aggregate plus two 1-row
    * broadcast cross joins: token totals are integer-exact sums, the
    * T=2 weight is one IEEE sqrt (engine-exact), desired masses round
    * to 6 dp before the order-free DECIMAL total, and the final
    * allocation arithmetic is a fixed double expression — the whole
    * plan is engine-reproducible. */
  def mixturePlan(
      docs: DataFrame,
      budgetTokens: Long,
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val dec6 = org.apache.spark.sql.types.DecimalType(28, 6)
    val bySrc = docs.groupBy(col(sourceCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(graft.functions.TextFunctions.tokenCountWs(col(textCol)).cast("long"))
        .as("total_tokens"))
    val minTok = bySrc.agg(min(col("total_tokens")).as("min_tok"))
    val rated = bySrc.crossJoin(broadcast(minTok))
      .withColumn("kr",
        sqrt(col("min_tok").cast("double") / col("total_tokens").cast("double")))
      .withColumn("desired",
        round(col("total_tokens").cast("double") * col("kr"), 6))
    val totDesired = rated.agg(
      sum(col("desired").cast(dec6)).cast("double").as("td"))
    val rawAlloc = floor(
      lit(budgetTokens).cast("double") * col("desired") / col("td")).cast("long")
    rated.crossJoin(broadcast(totDesired))
      .select(col(sourceCol), col("n_docs"), col("total_tokens"),
        round(col("kr"), 6).as("keep_rate"),
        least(rawAlloc, col("total_tokens")).as("alloc_tokens"),
        (rawAlloc > col("total_tokens")).as("capped"))
  }

  /** Keep the top `keepFraction` of each group by score — the
    * percentile-style quality filter ("keep the best 70% per source"),
    * in a shape that survives 100 TB. A per-source `percent_rank`
    * window would put EVERY document of a source in one task (the
    * window-skew hazard); instead the threshold comes from the score
    * HISTOGRAM: group by (group, score) — at most ~10^6 distinct 6-dp
    * score values per group regardless of corpus size — run the
    * cumulative count over that bounded table, and join the surviving
    * score values back (a keyed shuffle AQE can broadcast: the kept-
    * values table is tiny). Ties share a fate: every document at a kept
    * score value is kept, so the realized fraction rounds UP to the
    * tie-group boundary — deterministic, engine-reproducible, no
    * coin. `scoreCol` must be a deterministic bounded-cardinality score
    * (e.g. the 6-dp TextFunctions.qualityScore). */
  def qualityThresholdFilter(
      docs: DataFrame,
      keepFraction: Double,
      scoreCol: String = "quality",
      groupCol: String = "source"): DataFrame = {
    require(keepFraction > 0.0 && keepFraction <= 1.0,
      "keepFraction must be in (0, 1]")
    val byVal = docs.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("nv"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(col(groupCol))
    val kept = byVal
      .withColumn("cum_before", coalesce(sum(col("nv")).over(wCum), lit(0L)))
      .withColumn("tot", sum(col("nv")).over(wTot))
      .filter(col("cum_before").cast("double")
        < lit(keepFraction) * col("tot").cast("double"))
      .select(col(groupCol), col(scoreCol))
    docs.join(kept, Seq(groupCol, scoreCol))
  }

  /** Token-budget trim per source: keep the highest-quality documents
    * of each group until the group's TOKEN budget is spent — the
    * realization step for a [[mixturePlan]]-style allocation sheet
    * (the plan says how many tokens each source may contribute; this
    * picks which documents those tokens come from). Selection works on
    * the (group, distinct score) HISTOGRAM exactly like
    * [[qualityThresholdFilter]] — cumulative TOKEN mass ordered by
    * score descending, a score value is kept while the mass of
    * strictly-better values is under the budget — so there is never a
    * per-document window over a source partition, and equal-score
    * documents share a fate (the boundary value may overshoot the
    * budget by its own mass; the documented tie contract). */
  def tokenBudgetTrim(
      docs: DataFrame,
      budgetTokens: Long,
      scoreCol: String = "quality",
      groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val withToks = docs.withColumn("n_tokens",
      graft.functions.TextFunctions.tokenCountWs(col(textCol)).cast("long"))
    val byVal = withToks.groupBy(col(groupCol), col(scoreCol))
      .agg(sum(col("n_tokens")).as("tv"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val kept = byVal
      .withColumn("cum_before", coalesce(sum(col("tv")).over(wCum), lit(0L)))
      .filter(col("cum_before") < budgetTokens)
      .select(col(groupCol), col(scoreCol))
    withToks.join(kept, Seq(groupCol, scoreCol))
  }

  /** Deterministic fixed-size sample: exactly `k` documents per group
    * (fewer when the group is smaller), chosen as the k smallest
    * `fixk:`-salted md5 coins — a reproducible reservoir. Unlike
    * rate-based [[mixtureSample]], the output SIZE is exact; like it,
    * membership is stable across runs/engines and nested in k (the
    * k=100 sample contains the k=50 sample). One keyed shuffle (window
    * top-k, no global sort). */
  def sampleFixedPerGroup(
      docs: DataFrame,
      k: Int,
      groupCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "k must be positive")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(coin(idCol, "fixk:").asc, col(idCol).asc)
    docs.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
      .drop("sample_rank")
  }

  /** Deterministic train/validation/test assignment: the `split:`-salted
    * [[coin]] partitioned by cumulative weight thresholds — every
    * document lands in exactly one split, assignment is reproducible
    * across engines/runs, and reweighting keeps documents in the same
    * relative coin order (a doc can only move to an ADJACENT split when
    * boundaries shift). Pure map-side projection.
    *
    * `splits` maps name → weight (weights need not sum to 1; they are
    * normalized). Order of assignment follows the Seq order. */
  def assignSplits(
      docs: DataFrame,
      splits: Seq[(String, Double)],
      idCol: String = "doc_id"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), "weights must be positive")
    val total = splits.map(_._2).sum
    val c = coin(idCol, "split:")
    // cumulative integer thresholds over the same 2^32 coin space
    val bounds = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w }.tail
      .map(b => ((b / total) * 4294967296L).toLong)
    val expr = splits.map(_._1).zip(bounds).init.reverse
      .foldLeft(lit(splits.last._1)) { case (acc, (name, bound)) =>
        when(c < bound, name).otherwise(acc)
      }
    docs.withColumn("split", expr)
  }

  /** LEAKAGE-SAFE split assignment: [[assignSplits]] keyed by the
    * near-dup CLUSTER instead of the document — every member of a dup
    * cluster inherits the split of its cluster id (the component's min
    * member), so a train/test boundary can never run THROUGH a
    * duplicate group. With per-document coins, a corpus with 1%
    * near-dup pairs leaks ~2·p_test·p_train of them across the
    * boundary — exactly the contamination the decontamination stage
    * exists to prevent, self-inflicted at split time. Shape: the
    * cluster resolution is [[dupClusters]] (gated CC engine); the coin
    * is a map-side projection over the DISTINCT cluster ids joined
    * back on the cluster key. Cluster ids live in the same id space as
    * documents (min member), so the same `split:` coin applies. */
  def assignSplitsClustered(
      docs: DataFrame,
      pairs: DataFrame,
      splits: Seq[(String, Double)],
      idCol: String = "doc_id"): DataFrame = {
    val clusters = dupClusters(docs, pairs, idCol)
    val assigned = assignSplits(
      clusters.select(col("cluster_id").as(idCol)).distinct(), splits, idCol)
      .select(col(idCol).as("cluster_id"), col("split"))
    clusters.join(assigned, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("split"))
  }

  /** T5/UL2-style SPAN-CORRUPTION plan (Raffel et al. 2020 §3.1.4):
    * the deterministic mask layout a denoising-objective batch builder
    * consumes — which token spans of each document get replaced by
    * sentinel tokens. Spans are BLOCK-ALIGNED: each `blockTokens`-token
    * block carries at most one candidate span, fully inside the block,
    * so spans can never overlap BY CONSTRUCTION — no sequential
    * conflict resolution, no window, and the whole plan is one
    * map-side block explode replayable in SQL. ONE md5 per block
    * supplies all three coins as integer fields of the 60-bit hash
    * (mask? = h mod 1000, length = h÷1000, offset = h÷100000 — the
    * retry-safe salted-coin discipline). Masked-block rate is
    * maskPermille/1000; expected masked-token fraction ≈ that times
    * E[len]/blockTokens. */
  def spanCorruptionPlan(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      blockTokens: Int = 8,
      maxSpan: Int = 3,
      maskPermille: Int = 150): DataFrame = {
    require(blockTokens >= 1 && maxSpan >= 1 && maxSpan <= blockTokens,
      "need 1 <= maxSpan <= blockTokens")
    require(maskPermille >= 0 && maskPermille <= 1000,
      "maskPermille must be in [0, 1000]")
    val blocks = graft.ops.Par
      .fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), size(tokens(col(textCol))).as("n"))
      .select(col(idCol), col("n"),
        explode(sequence(lit(0),
          ((col("n") - 1) / blockTokens).cast("int"))).as("b"))
      .withColumn("bl", least(lit(blockTokens), col("n") - col("b") * blockTokens))
      .withColumn("h", conv(substring(md5(concat(
        lit("span:"), col(idCol).cast("string"), lit(":"),
        col("b").cast("string"))), 1, 15), 16, 10).cast("long"))
    blocks
      .filter(pmod(col("h"), lit(1000)) < maskPermille)
      .withColumn("len_tok",
        (expr("(h div 1000)") % least(lit(maxSpan), col("bl")) + 1).cast("int"))
      .withColumn("start_tok",
        (col("b") * blockTokens +
          expr("(h div 100000)") % (col("bl") - col("len_tok") + 1)).cast("int"))
      .select(col(idCol), col("b").cast("int").as("block"),
        col("start_tok"), col("len_tok"))
  }

  /** RENDEZVOUS (highest-random-weight) shard assignment (Thaler &
    * Ravishankar 1998): every (doc, shard) pair gets a deterministic
    * md5 weight and the document goes to the argmax shard. The
    * property fixed-bucket mod hashing lacks — removing a shard remaps
    * ONLY that shard's documents (spec-pinned) — which is what lets a
    * shard count change without a full-corpus reshuffle. Map-side
    * only: the weight list is a per-row higher-order array op over a
    * literal shard sequence, and the argmax rides one string key
    * (weight-hex ++ shard id), so there is no shuffle anywhere. */
  def rendezvousShards(
      docs: DataFrame,
      idCol: String = "doc_id",
      nShards: Int = 16): DataFrame = {
    require(nShards >= 1 && nShards <= 9999, "nShards must be in [1, 9999]")
    val keys = transform(sequence(lit(0), lit(nShards - 1)), s =>
      concat(substring(md5(concat(lit("hrw:"), s.cast("string"), lit(":"),
        col(idCol).cast("string"))), 1, 15),
        lpad(s.cast("string"), 4, "0")))
    graft.ops.Par.fanOut(docs.select(col(idCol)))
      .select(col(idCol),
        substring(array_max(keys), 16, 4).cast("int").as("shard"))
  }

  /** FILL-IN-THE-MIDDLE transform plan (Bavarian et al. 2022): per
    * document, the deterministic (prefix, middle, suffix) token split
    * whose pieces the FIM objective rearranges to (prefix, suffix,
    * middle). ONE md5 per document supplies all three coins as integer
    * fields of the 60-bit hash (apply? = h mod 1000 vs `fimPermille`,
    * cut a = h÷1000 mod (n+1), cut b = a + h÷10⁶ mod (n−a+1), so
    * 0 ≤ a ≤ b ≤ n always). Map-side only — the batch builder joins
    * this plan to the tokenized text by id. */
  def fimPlan(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      fimPermille: Int = 900): DataFrame = {
    require(fimPermille >= 0 && fimPermille <= 1000,
      "fimPermille must be in [0, 1000]")
    graft.ops.Par.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), size(tokens(col(textCol))).as("n"),
        conv(substring(md5(concat(lit("fim:"), col(idCol).cast("string"))),
          1, 15), 16, 10).cast("long").as("h"))
      .filter(pmod(col("h"), lit(1000)) < fimPermille)
      .withColumn("a", (expr("(h div 1000)") % (col("n") + 1)).cast("int"))
      .withColumn("b", (col("a") +
        expr("(h div 1000000)") % (col("n") - col("a") + 1)).cast("int"))
      .select(col(idCol), col("a").as("prefix_len"),
        (col("b") - col("a")).cast("int").as("middle_len"),
        (col("n") - col("b")).cast("int").as("suffix_len"))
  }

  /** Greedy token-budget packing: within each `partCol` stream (ordered
    * by id), documents are concatenated and split into chunks of
    * ~`targetTokens` — chunk k holds the docs whose cumulative token
    * START offset falls in [k·target, (k+1)·target). One window over one
    * keyed shuffle; deterministic integer arithmetic. The sequence-
    * packing step before tokenized training shards are written. */
  def packChunks(
      docs: DataFrame,
      targetTokens: Int,
      partCol: String = "lang",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("part")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(partCol).as("part"), col(idCol).as("doc_id"),
        tokenCountBpe(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("chunk_id", expr(s"start_tok div ${targetTokens.toLong}"))
      .select("part", "doc_id", "n_tokens", "chunk_id")
  }

  /** TWO-PHASE (anneal / midtraining) mixture plan — the allocation
    * sheet behind the now-standard practice of spending the FINAL
    * fraction of the token budget on a quality-upweighted mix (the
    * "annealing" phase reported for several frontier recipes): phase 1
    * samples sources in NATURAL proportion (their token mass), phase 2
    * reweights each source by the SQUARE of its mean quality — an
    * integer exponent, so the boost is one exact double multiply (no
    * pow/exp at query time, the engine-exactness discipline
    * [[mixturePlan]] set with its single IEEE sqrt). Per source: the
    * document/token mass, the 6-dp decimal-exact mean quality, both
    * phase shares, the anneal boost ratio share₂/share₁, the token
    * allocations under (budgetTokens, phase2Permille) — the per-phase
    * budgets are INTEGER Scala-side constants, so only one rounded
    * double multiply separates a share from its allocation — and an
    * `oversampled` flag marking sources phase 2 wants more tokens from
    * than they own (an epoch-1 anneal would repeat them).
    *
    * Plan shape (the [[mixturePlan]] discipline): ONE tiny per-source
    * aggregate off one corpus scan, totals as a 1-row broadcast cross
    * join; everything downstream is |sources|-row arithmetic. */
  def annealPlan(
      docs: DataFrame,
      budgetTokens: Long,
      phase2Permille: Int = 100,
      sourceCol: String = "source",
      textCol: String = "text",
      qualityCol: String = "quality"): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(phase2Permille >= 0 && phase2Permille <= 1000,
      "phase2Permille must be in [0, 1000]")
    val p1Budget = budgetTokens * (1000L - phase2Permille) / 1000L
    val p2Budget = budgetTokens * phase2Permille / 1000L
    val per = docs
      .select(col(sourceCol).as("source"),
        tokenCountWs(col(textCol)).cast("long").as("nt"),
        round(col(qualityCol).cast("double"), 6).as("q"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        round(sum(col("q").cast("decimal(28,6)")).cast("double") /
          count(lit(1)), 6).as("q_mean"))
      .withColumn("w", round(col("n_tokens") * col("q_mean") * col("q_mean"), 6))
    val tot = per.agg(
      sum(col("n_tokens")).as("tot_tokens"),
      sum(col("w").cast("decimal(28,6)")).cast("double").as("tot_w"))
    // null-guarded divisions: an all-zero-quality corpus (tot_w = 0) or
    // an all-empty source (share_phase1 rounds to 0) must yield NULL in
    // BOTH engines — unguarded, Spark (non-ANSI) yields NULL while
    // DuckDB under ieee_floating_point_ops yields inf, a silent
    // cross-engine divergence outside the fixture
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("q_mean"),
        round(col("n_tokens").cast("double") / col("tot_tokens"), 6)
          .as("share_phase1"),
        when(col("tot_w") > 0, round(col("w") / col("tot_w"), 6))
          .as("share_phase2"))
      .withColumn("anneal_boost",
        when(col("share_phase1") > 0,
          round(col("share_phase2") / col("share_phase1"), 6)))
      .withColumn("tokens_phase1",
        round(lit(p1Budget) * col("share_phase1"), 0).cast("long"))
      .withColumn("tokens_phase2",
        round(lit(p2Budget) * col("share_phase2"), 0).cast("long"))
      .withColumn("oversampled", col("tokens_phase2") > col("n_tokens"))
  }

  /** END-TO-END training-shard production plan — the one chained flow
    * the curation compositors stop short of (the LLM-data analogue of
    * the reference's single end-to-end pipeline: its whole 722-line
    * flow is one source→transform→sink chain, `pipeline.py`): pack
    * documents into token-budget chunks ([[packChunks]]), place each
    * CHUNK on a shard by rendezvous hashing ([[rendezvousShards]] —
    * shard-count changes remap only the removed shard's chunks), and
    * give each chunk its epoch-salted training order
    * ([[epochShuffle]]'s coin — a different pseudo-random order per
    * epoch, reproducible across engines/runs). One row per document:
    * (shard, order_key, part, chunk_id, doc_seq, doc_id, n_tokens,
    * chunk_tokens, n_docs) — a writer realizes the shards with
    * `repartition(shard)` + `sortWithinPartitions(order_key, doc_seq)`.
    *
    * Plan shape: packChunks carries the one corpus-scale keyed window;
    * everything downstream runs on the CHUNK table (|chunks| ≈
    * Σtokens/targetTokens, ~1/100th of the docs at 512-token budgets) —
    * the HRW argmax and the epoch coin are map-side over it, the two
    * chunk-key joins and the doc_seq window ride the (part, chunk_id)
    * partitioning AQE sizes off the tiny side. Nothing here rescans
    * text: the token counts computed by packChunks flow through. */
  def shardPlan(
      docs: DataFrame,
      targetTokens: Int = 512,
      nShards: Int = 16,
      epoch: Int = 1,
      partCol: String = "lang",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val packed = packChunks(docs, targetTokens, partCol, idCol, textCol)
    val chunks = packed.groupBy(col("part"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("chunk_tokens"))
      .withColumn("ck", concat(col("part"), lit(":"), col("chunk_id").cast("string")))
    val placed = rendezvousShards(chunks, idCol = "ck", nShards = nShards)
    val ordered = epochShuffle(chunks, epoch, nShards = nShards, idCol = "ck")
      .select(col("ck"), col("order_key"))
    val meta = chunks.join(placed, Seq("ck")).join(ordered, Seq("ck"))
    val w = Window.partitionBy(col("part"), col("chunk_id"))
      .orderBy(col("doc_id"))
    packed
      .join(meta.select(col("part"), col("chunk_id"), col("shard"),
        col("order_key"), col("chunk_tokens"), col("n_docs")),
        Seq("part", "chunk_id"))
      .withColumn("doc_seq", row_number().over(w).cast("int"))
      .select(col("shard"), col("order_key"), col("part"), col("chunk_id"),
        col("doc_seq"), col("doc_id"), col("n_tokens"), col("chunk_tokens"),
        col("n_docs"))
  }

  /** Sliding-window chunking with overlap: each document becomes
    * ceil(n_tokens / (chunk - overlap)) windows of up to `chunkTokens`
    * whitespace tokens, consecutive windows sharing `overlapTokens` —
    * the context-window preparation step (packChunks packs whole docs
    * into budgets; this SPLITS long docs). Pure map-side sequence +
    * explode + slice, no shuffle, no UDF; output size is a fixed
    * ~1/(1-overlap/chunk) multiple of the token volume. Spark's
    * `sequence` caps at 10000 elements, so a document longer than
    * 10000·step tokens fails fast with an actionable message instead of
    * the opaque internal error (same contract as RangeJoin). */
  def chunkWithOverlap(
      docs: DataFrame,
      chunkTokens: Int,
      overlapTokens: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      "overlapTokens must be in [0, chunkTokens)")
    val step = chunkTokens - overlapTokens
    val nWin = (col("n") + lit(step - 1)).cast("long") / lit(step)
    // windows start at 0, step, … while they still cover NEW tokens:
    // start < n - overlap (a final window made entirely of the previous
    // window's tail would be pure duplication)
    docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      // empty/whitespace-only text tokenizes to the single empty token
      // ([""], n=1); without this filter such documents would emit one
      // degenerate chunk (empty chunk_text) that downstream consumers
      // then have to special-case
      .filter(col("n") > 1 || element_at(col("toks"), 1) =!= "")
      .withColumn("start",
        explode(when(nWin <= lit(10000L),
          sequence(lit(0),
            greatest(col("n") - lit(overlapTokens) - 1, lit(0)), lit(step)))
          .otherwise(raise_error(concat(
            lit(s"chunkWithOverlap: document "), col(idCol).cast("string"),
            lit(" has "), col("n").cast("string"),
            lit(s" tokens > 10000 windows at step $step - raise chunkTokens"
              + " or pre-split the document"))))))
      .select(
        col(idCol),
        expr(s"start div $step").as("chunk_idx"),
        least(lit(chunkTokens), col("n") - col("start")).cast("int").as("n_chunk_tokens"),
        array_join(slice(col("toks"), col("start") + 1, lit(chunkTokens)), " ").as("chunk_text"))
  }

  /** Weighted sampling without replacement: per group, keep the `k`
    * rows with the largest priority weight/u (Duffield–Lund–Thorup
    * priority sampling), u a salted md5 coin. Weight and coin are both
    * integers, so the priority is ONE IEEE-754 division — bit-identical
    * on every engine, reproducible, and nested in k like the unweighted
    * sampler. One keyed shuffle (window top-k, no global sort). */
  def prioritySample(
      docs: DataFrame,
      k: Int,
      weightCol: String = "n_chars",
      groupCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val u = (coin(idCol, "wsamp:") + lit(1L)).cast("double") // 1..2^32, never 0
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("priority").desc, col(idCol))
    docs
      .select(col(idCol), col(groupCol),
        (col(weightCol).cast("double") / u).as("priority"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(idCol), col(groupCol), col("priority"))
  }

  /** 60-bit md5-derived gram hash: grams travel as fixed-width longs,
    * not k-char strings — the (possibly broadcast) gram table, the
    * probe compares, and the count-distinct Expand all operate on
    * integers (same hash family as the minhash signatures; collision
    * odds at 2^-60 are immaterial to a contamination VERDICT and
    * identical on the oracle side). */
  private def gramHash60(gram: org.apache.spark.sql.Column) =
    conv(substring(md5(gram), 1, 15), 16, 10).cast("long")

  /** Benchmark decontamination: flag training documents that share at
    * least `minHits` distinct `nTokens`-token n-grams with any
    * benchmark/eval document — the leakage check a training pipeline
    * runs before a corpus ships. 8-token grams over normalized text are
    * the published convention (long enough for a low false-positive
    * rate, ~wordcount grams per document); `minHits` dials strictness.
    *
    * Scale shape: the benchmark side is usually small (eval sets are
    * thousands of documents), and when it is, its distinct gram table
    * is broadcast and the corpus-side probe is map-side — the only
    * shuffle is the per-doc hit count; the flag left-join back onto
    * the corpus is AQE's choice (broadcast when contamination is
    * sparse). "Small" is MEASURED, not assumed: the gram table is
    * materialized as a scratch table whose write job carries the exact
    * gram count (`Scratch.materializeObservedAt` — the
    * connectedComponents witness pattern), and the broadcast hint is
    * applied only under `maxBroadcastGrams`; past it (every eval set +
    * canaries, millions of grams) the probe degrades gracefully to an
    * unhinted join — AQE/stats pick the strategy — instead of hitting
    * the broadcast ceiling or the driver's memory at exactly the 100×
    * moment. The default bound (2M grams ≈ 32 MB of fixed-width pairs
    * before hashing) keeps the built relation within a deliberate
    * small multiple of Spark's default broadcast budget. The corpus is
    * scanned twice (probe + closure); at warehouse scale the hits
    * frame is the artifact to persist between the two.
    *
    * Output: every corpus document with `n_gram_hits` (distinct
    * contaminated grams), `n_bench_docs` (distinct benchmark documents
    * hit), and the `contaminated` verdict. */
  def decontaminate(
      docs: DataFrame,
      benchmark: DataFrame,
      nTokens: Int = 8,
      minHits: Int = 1,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchIdCol: String = "bench_id",
      maxBroadcastGrams: Long = 2000000L): DataFrame = {
    def gramHash(gram: org.apache.spark.sql.Column) = gramHash60(gram)
    // empty grams (empty/whitespace-only text shingles to [""]) carry no
    // content and must not match: one blank benchmark row would
    // otherwise flag EVERY blank corpus doc as contaminated
    // observed-size gate on the benchmark gram table: the count rides
    // the scratch write, the broadcast hint is applied only under the
    // measured bound (see scaladoc) — the one contract here that has a
    // graceful degradation (shuffle join), not a fail-fast guard
    val bgPlan = benchmark
      .select(col(benchIdCol).as("bench_id"),
        explode(tokenShingles(col(textCol), nTokens)).as("g"))
      .filter(length(col("g")) > 0)
      .select(col("bench_id"), gramHash(col("g")).as("gram"))
      .distinct()
    // gram table placed by the Pin gate: driver-pinned when it fits,
    // else an observed scratch write of the same collect
    val graft.ops.Pin.Placed(bg, nGrams, _, _) = graft.ops.Pin.place(bgPlan, "decon_bg")
    val bgSide = if (nGrams <= maxBroadcastGrams) broadcast(bg) else bg
    // fanOut: the per-row token-shingle explode + gram hashing is the
    // corpus-side hot map stage (single-split scans would serialize it)
    val dg = graft.ops.Par.fanOut(docs.select(col(idCol).as("doc_id"),
        col(textCol).as("__t")))
      .select(col("doc_id"),
        explode(tokenShingles(col("__t"), nTokens)).as("g"))
      .filter(length(col("g")) > 0)
      .select(col("doc_id"), gramHash(col("g")).as("gram"))
    val hits = dg.join(bgSide, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).cast("int").as("n_gram_hits"),
        countDistinct(col("bench_id")).cast("int").as("n_bench_docs"))
    docs.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_gram_hits"), lit(0)).as("n_gram_hits"),
        coalesce(col("n_bench_docs"), lit(0)).as("n_bench_docs"),
        (coalesce(col("n_gram_hits"), lit(0)) >= minHits).as("contaminated"))
  }

  /** [[decontaminate]] with a Bloom-filter pre-pass — the scan-speed
    * first gate a 100 TB pipeline runs BEFORE the exact verify join:
    * the benchmark gram table (built once, same scratch as the exact
    * path) aggregates into a Bloom sketch (`df.stat.bloomFilter`, the
    * `spark-sketch` `putLong`/`mightContainLong` family Catalyst's own
    * runtime filters use), and the corpus gram stream is filtered
    * map-side by `BloomFilterMightContain` before any shuffle — only
    * grams the sketch admits (true hits + an `fpp` fraction of false
    * positives) reach the exact join. A Bloom filter has NO false
    * negatives, so the exact verify on the survivors reproduces
    * [[decontaminate]]'s output bit-for-bit — the oracle for this path
    * is full value equality against the exact re-derivation, stronger
    * than an error-contract boolean.
    *
    * Driver-side state is the SKETCH ONLY (`optimalNumBits(n_grams,
    * fpp)` ≈ 1.2 MB per million grams at 1% — the bounded-collect
    * discipline of the k×dim centroid pins), embedded as a binary
    * literal so the map-side test ships with the task binary exactly
    * like an injected runtime filter's scalar-subquery result. The
    * sketch is sized from the OBSERVED gram count riding the scratch
    * write, never a guess — and the count is ENFORCED under
    * `maxSketchGrams` (the quantileNormalize contract style): a
    * benchmark side past the bound would allocate an unbounded driver
    * sketch (~1.2 GB at 1e9 grams) and bloat every task binary with
    * it, so it fails fast with the measured count and the escape
    * routes (raise the bound, raise `fpp`, or run the plain exact
    * [[decontaminate]] whose join side never lands on the driver).
    */
  def decontaminateBloom(
      docs: DataFrame,
      benchmark: DataFrame,
      nTokens: Int = 8,
      minHits: Int = 1,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchIdCol: String = "bench_id",
      fpp: Double = 0.01,
      maxBroadcastGrams: Long = 2000000L,
      maxSketchGrams: Long = 50000000L): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, "fpp must be in (0,1)")
    def gramHash(gram: Column) = gramHash60(gram)
    val bgPlan = benchmark
      .select(col(benchIdCol).as("bench_id"),
        explode(tokenShingles(col(textCol), nTokens)).as("g"))
      .filter(length(col("g")) > 0)
      .select(col("bench_id"), gramHash(col("g")).as("gram"))
      .distinct()
    // gram table placed by the Pin gate (the sketch path is already
    // driver-bounded by maxSketchGrams)
    val graft.ops.Pin.Placed(bg, nGrams, _, _) = graft.ops.Pin.place(bgPlan, "deconb_bg")
    require(nGrams <= maxSketchGrams,
      s"decontaminateBloom: observed $nGrams benchmark grams exceeds " +
        s"maxSketchGrams=$maxSketchGrams — the Bloom sketch would cost " +
        s"~${nGrams * 10 / 8 / (1 << 20)} MiB of driver heap AND ride " +
        "every task binary. Raise the bound, raise fpp, or use the " +
        "exact decontaminate() whose join side never lands on the driver.")
    if (nGrams == 0L) // no benchmark grams: nothing can match (and the
      // bloom aggregate has no zero-item serialization) — all docs clean
      return docs.select(col(idCol).as("doc_id"),
        lit(0).as("n_gram_hits"), lit(0).as("n_bench_docs"),
        lit(0 >= minHits).as("contaminated"))
    val bloomLit: Column = {
      val bf = bg.stat.bloomFilter("gram", math.max(nGrams, 1L), fpp)
      val os = new java.io.ByteArrayOutputStream()
      bf.writeTo(os)
      lit(os.toByteArray)
    }
    def mightContain(gram: Column): Column =
      org.apache.spark.sql.GraftExpr.column(
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          org.apache.spark.sql.GraftExpr.expression(bloomLit),
          org.apache.spark.sql.GraftExpr.expression(gram)))
    val bgSide =
      if (nGrams <= maxBroadcastGrams) broadcast(bg) else bg
    // fanOut: same hot-map-stage rationale as the exact path above
    val dg = graft.ops.Par.fanOut(docs.select(col(idCol).as("doc_id"),
        col(textCol).as("__t")))
      .select(col("doc_id"),
        explode(tokenShingles(col("__t"), nTokens)).as("g"))
      .filter(length(col("g")) > 0)
      .select(col("doc_id"), gramHash(col("g")).as("gram"))
      .filter(mightContain(col("gram"))) // scan-speed pre-gate
    val hits = dg.join(bgSide, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).cast("int").as("n_gram_hits"),
        countDistinct(col("bench_id")).cast("int").as("n_bench_docs"))
    docs.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_gram_hits"), lit(0)).as("n_gram_hits"),
        coalesce(col("n_bench_docs"), lit(0)).as("n_bench_docs"),
        (coalesce(col("n_gram_hits"), lit(0)) >= minHits).as("contaminated"))
  }

  /** Per-BENCHMARK-document contamination audit — the flip side of
    * [[decontaminate]]: for each eval document, how many corpus
    * documents leak it (share >= `minHits` distinct `nTokens`-token
    * grams) and how many of its grams appear anywhere in the corpus.
    * This is the report an eval owner reads to decide which test items
    * are burned. Closure over EVERY benchmark doc (clean ones report
    * zeros). Same gram machinery and scale shape as decontaminate,
    * aggregated per (doc, bench) pair first — the pair table is
    * bounded by actual overlap, not |corpus|×|bench|. The corpus-side
    * gram table is the big side here, so nothing is broadcast-hinted;
    * AQE decides from observed sizes. */
  def decontaminationReport(
      docs: DataFrame,
      benchmark: DataFrame,
      nTokens: Int = 8,
      minHits: Int = 1,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchIdCol: String = "bench_id"): DataFrame = {
    val bg = benchmark
      .select(col(benchIdCol).as("bench_id"),
        explode(tokenShingles(col(textCol), nTokens)).as("g"))
      .filter(length(col("g")) > 0)
      .select(col("bench_id"), gramHash60(col("g")).as("gram"))
      .distinct()
    val dg = docs
      .select(col(idCol).as("doc_id"),
        explode(tokenShingles(col(textCol), nTokens)).as("g"))
      .filter(length(col("g")) > 0)
      .select(col("doc_id"), gramHash60(col("g")).as("gram"))
    val pairHits = dg.join(bg, Seq("gram"))
      .groupBy(col("bench_id"), col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared"))
    // pairHits rows are unique per (bench, doc), so the leaking-doc
    // count is a plain conditional sum — no second distinct pass
    val perBench = pairHits
      .groupBy(col("bench_id"))
      .agg(sum(when(col("n_shared") >= minHits, 1L).otherwise(0L)).cast("int")
        .as("n_leaking_docs"))
    benchmark.select(col(benchIdCol).as("bench_id"))
      .join(perBench, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_leaking_docs"), lit(0)).as("n_leaking_docs"),
        (coalesce(col("n_leaking_docs"), lit(0)) > 0).as("burned"))
  }

  /** Write the corpus as deterministic training shards:
    * `outDir/split=<s>/shard=<k>/part-*.parquet`, where shard k is the
    * md5-coin mod `nShards` — stable across runs AND across cluster
    * layout (executor count never changes which shard a document lands
    * in, unlike round-robin). One shuffle keyed exactly by the output
    * layout: `repartition(split, shard)` routes each directory's rows to
    * one task, `sortWithinPartitions` fixes the in-file order, so each
    * leaf directory holds ONE reproducible file. Size shards via
    * `nShards` (≈ corpus size / target shard size); at warehouse scale
    * add `spark.sql.files.maxRecordsPerFile` as the per-file backstop. */
  def writeShards(
      docs: DataFrame,
      outDir: String,
      nShards: Int,
      splitCol: String = "split",
      idCol: String = "doc_id"): Unit = {
    require(nShards > 0, "nShards must be positive")
    docs
      .withColumn("shard",
        pmod(coin(idCol, "shard:"), lit(nShards.toLong)).cast("int"))
      .repartition(col(splitCol), col("shard"))
      .sortWithinPartitions(col(idCol))
      .write.partitionBy(splitCol, "shard").mode("overwrite").parquet(outDir)
  }

  /** End-to-end corpus assembly — the full pre-training data path in one
    * call, each stage consuming the previous stage's produced artifact:
    *
    *   0. (optional) per-source quality gate: keep the top
    *      `keepFraction` by a precomputed score column
    *      (`qualityFilter = Some(scoreCol -> fraction)`);
    *   1. near-dup clustering over LSH-verified pairs; keep one
    *      representative (the min-id member) per cluster;
    *   2. benchmark decontamination; drop flagged documents. With
    *      `fuzzyDecontaminate = Some(minJ)` the exact 8-gram check is
    *      UNIONED with a fuzzy pass ([[Dedup.crossLshJaccard]]): a
    *      document is dropped when it shares exact grams OR clears
    *      shingle-Jaccard `minJ` against any benchmark doc — the
    *      paraphrased-eval-set leak the exact check misses. With
    *      `semanticDedup = Some(embeddings -> threshold)` an
    *      embedding-level SemDeDup pass ([[Similarity.semanticDedup]])
    *      additionally drops every doc whose vector has a smaller-id
    *      within-cell twin at `threshold` cosine — the paraphrase-level
    *      duplicate no lexical stage can pair;
    *   3. (optional) mixture balancing over the clean corpus: EITHER
    *      temperature-flattened source shares (`temperature = Some(T)`,
    *      [[temperatureMixtureSample]] — rates from the post-decon
    *      counts, so the balance reflects what actually survived) OR
    *      explicit per-source rates (`mixtureRates = Some(rates ->
    *      default)`, [[mixtureSample]]); at most one of the two;
    *   4. deterministic split assignment;
    *   5. deterministic sharded write to `outDir`.
    *
    * Returns the kept (doc_id, split) frame. Stage boundaries run
    * through the operators' own scratch/shuffle shapes — nothing here
    * adds driver-side materialization beyond the CC fixpoint witness.
    * When a mixture stage is enabled the clean corpus becomes one more
    * stage artifact (the temperature sampler's rate table and the keep
    * filter both read it; left lazy, the whole decontamination subtree
    * would execute twice). */
  def prepareTrainingSet(
      docs: DataFrame,
      benchmark: DataFrame,
      outDir: String,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.98, "valid" -> 0.01, "test" -> 0.01),
      minJaccard: Double = 0.2,
      nShards: Int = 64,
      idCol: String = "doc_id",
      qualityFilter: Option[(String, Double)] = None,
      temperature: Option[Double] = None,
      mixtureRates: Option[(Map[String, Double], Double)] = None,
      sourceCol: String = "source",
      fuzzyDecontaminate: Option[Double] = None,
      spanDedup: Option[(Int, Double)] = None,
      semanticDedup: Option[(DataFrame, Double)] = None): DataFrame = {
    require(temperature.isEmpty || mixtureRates.isEmpty,
      "set at most one of temperature / mixtureRates")
    spanDedup.foreach { case (n, frac) =>
      require(n >= 1 && frac >= 0.0 && frac <= 1.0,
        "spanDedup wants (spanTokens >= 1, maxDupFraction in [0,1])")
    }
    // optional stage 0 — quality gate FIRST (cheapest stage, biggest
    // cut, and it shrinks everything downstream): keep the top fraction
    // per source by the given precomputed score column
    // (qualityThresholdFilter semantics: histogram threshold, ties
    // share a fate). TWO stage artifacts here: the scored corpus (the
    // regex-heavy score computes in exactly ONE pass) and the filtered
    // base (the three downstream consumers — LSH signature build,
    // cluster closure, keep-one join — scan plain parquet instead of
    // re-planning the filter's histogram/join subtree per job). Left
    // lazy, the score alone measured ~2× on the whole compositor.
    // The score column is stage metadata, dropped from the kept frame.
    val (base, basePath) = qualityFilter match {
      case Some((scoreCol, keepFraction)) =>
        val (scored, scoredPath) =
          graft.ops.Scratch.materializeAt(docs, "corpus_scored")
        val (b, p) = graft.ops.Scratch.materializeAt(
          qualityThresholdFilter(scored, keepFraction, scoreCol).drop(scoreCol),
          "corpus_base")
        // the base write was the only reader of the scored table
        graft.ops.Scratch.drop(docs.sparkSession, scoredPath)
        (b, Some(p))
      case None => (docs, None)
    }
    // optional span-level boilerplate cut (Lee et al. 2021 ExactSubstr
    // reading at document granularity): documents whose distinct
    // span-window set is >= maxDupFraction duplicated SOMEWHERE in the
    // (quality-filtered, pre-dedup) corpus are dropped entirely — span
    // sharing at this rate is boilerplate/syndication, and unlike the
    // near-dup stage (which keeps one representative per cluster) the
    // point here is to remove the content itself. The flagged-id table
    // materializes NOW because the base artifact it reads retires as
    // soon as the dedup reps are written; the ids are consumed by the
    // kept chain during the shard write.
    val spanBad = spanDedup.map { case (n, frac) =>
      graft.ops.Pin.stateAt(
        Dedup.spanDuplicates(base, spanTokens = n, idCol = idCol)
          // span-less (empty-text) docs carry no duplication signal —
          // 0 >= frac·0 would flag them all
          .filter(col("n_spans") > 0 && col("n_dup_spans").cast("double")
            >= lit(frac) * col("n_spans").cast("double"))
          .select(col("doc_id").as(idCol)),
        "corpus_spanbad")
    }
    // optional SEMANTIC dedup flags (Similarity.semanticDedup over the
    // quality-filtered corpus's embeddings): paraphrase-level duplicates
    // whose text the lexical stages can't pair. The embeddings frame is
    // keyed (vec_id, embedding) with vec_id == the corpus id; restrict
    // to ids still present in the base via one semi-join so the k-means
    // geometry reflects what the pipeline actually carries. Flagged-id
    // table materializes now for the same artifact-lifetime reason as
    // the span cut above.
    val semBad = semanticDedup.map { case (embeddings, thr) =>
      graft.ops.Pin.stateAt(
        graft.operators.Similarity.semanticDedup(
          embeddings.join(base.select(col(idCol).as("vec_id")),
            Seq("vec_id"), "left_semi"),
          threshold = thr)
          .filter(!col("kept"))
          .select(col("vec_id").as(idCol)),
        "corpus_sembad")
    }
    val pairs = Dedup.lshJaccard(base, minJaccard = minJaccard)
    // the post-dedup corpus is a STAGE ARTIFACT: decontaminate scans it
    // twice (gram probe + flag join-back) and the keep join once more —
    // left lazy, each scan would re-run the keep-one join against the
    // source; materialized, every consumer re-reads the (smaller)
    // deduped table. At warehouse scale this is the table you'd persist
    // between the dedup job and the decontamination job anyway.
    //
    // Keep-one is an ANTI-join against the NON-representative members
    // (cluster label smaller than own id) — set-identical to joining
    // the `cluster_id === doc_id` closure of dupClusters, but the probe
    // side is |duplicate members| instead of |kept corpus|, and base is
    // scanned once here instead of twice (the dupClusters closure
    // re-scans base for its id spine).
    val (reps, repsPath) = graft.ops.Scratch.materializeAt(
      base.join(
        connectedComponents(pairs)
          .filter(col("id") =!= col("label"))
          .select(col("id").as(idCol)),
        Seq(idCol), "left_anti"),
      "corpus_reps")
    // the reps write was the last reader of the quality-filtered base
    basePath.foreach(graft.ops.Scratch.drop(docs.sparkSession, _))
    // Bloom pre-filtered exact decontamination: bit-identical output to
    // the plain exact path (a Bloom filter has no false negatives and
    // the exact join re-verifies every survivor — the decontaminate_bloom
    // gate proves full value equality), but the corpus gram stream is
    // cut map-side BEFORE the shuffle, which at 100 TB is the difference
    // between shuffling every gram and shuffling the ~fpp tail.
    //
    // Drop-the-flagged is likewise an ANTI-join against the CONTAMINATED
    // ids (under the `contaminated` filter Catalyst rewrites
    // decontaminateBloom's per-doc left-join closure to an inner join —
    // null-extended rows can't satisfy it), so the join probe is
    // |contaminated|, not |clean|.
    val clean0 = reps.join(
      decontaminateBloom(reps, benchmark, idCol = idCol)
        .filter(col("contaminated"))
        .select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")
    // optional fuzzy pass: anti-join the near-dup-contaminated ids out.
    // Same machinery as decontaminate_fuzzy's standalone query; both
    // sides of the bipartite LSH scan once into scratch signature
    // tables, so this adds one candidate join, not a corpus rescan.
    val clean1 = fuzzyDecontaminate match {
      case None => clean0
      case Some(minJ) =>
        clean0.join(
          Dedup.crossLshJaccard(reps, benchmark, leftIdCol = idCol,
            rightIdCol = "bench_id", minJaccard = minJ)
            .select(col("a").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
    }
    val clean2 = spanBad match {
      case None => clean1
      case Some((bad, _)) => clean1.join(bad, Seq(idCol), "left_anti")
    }
    val clean = semBad match {
      case None => clean2
      case Some((bad, _)) => clean2.join(bad, Seq(idCol), "left_anti")
    }
    // optional mixture balancing (stage 3) — see scaladoc for why the
    // clean corpus is materialized first
    val (balanced, cleanPath) = (temperature, mixtureRates) match {
      case (None, None) => (clean, None)
      case _ =>
        val (c, p) = graft.ops.Scratch.materializeAt(clean, "corpus_clean")
        // the clean write was the last reader of the reps artifact
        graft.ops.Scratch.drop(docs.sparkSession, repsPath)
        val sampled = (temperature, mixtureRates) match {
          case (Some(t), _) => temperatureMixtureSample(c, t, sourceCol, idCol)
          case (_, Some((rates, dflt))) => mixtureSample(c, rates, dflt, sourceCol, idCol)
          case _ => c
        }
        (sampled, Some(p))
    }
    val withSplit = assignSplits(balanced, splits, idCol)
    writeShards(withSplit, outDir, nShards, idCol = idCol)
    // the shard write was the last reader of the remaining stage artifacts
    cleanPath match {
      case Some(p) => graft.ops.Scratch.drop(docs.sparkSession, p)
      case None => graft.ops.Scratch.drop(docs.sparkSession, repsPath)
    }
    spanBad.foreach { case (_, p) => graft.ops.Scratch.drop(docs.sparkSession, p) }
    semBad.foreach { case (_, p) => graft.ops.Scratch.drop(docs.sparkSession, p) }
    // hand back a scan of the JUST-WRITTEN shards, not the producing
    // plan — a caller action on the lazy plan would re-run the whole
    // dedup + decontaminate pipeline a second time
    docs.sparkSession.read.parquet(outDir)
  }

  /** Per-document top-k terms by tf-idf (whitespace tokens of the
    * normalized text): tf = in-doc occurrences, idf = ln(N/df), score
    * rounded to 6 dp BEFORE ranking so the ordering is reproducible
    * across engines (ties then break on the term). Two keyed shuffles
    * (per-(doc,term) tf, per-term df); the tf⋈df join is left UNHINTED —
    * the document-frequency table is O(distinct tokens of the corpus),
    * which at web scale is billions of rows (URLs, typos, numbers all
    * mint terms), so a forced broadcast would be a driver OOM. AQE picks
    * broadcast when the vocab really is small; otherwise the join key
    * (`term`) is the key tf is already shuffled by. */
  def tfidfTopTerms(
      docs: DataFrame,
      k: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      dfSaltBuckets: Int = 0): DataFrame = {
    // N rides in as a broadcast 1-row frame — no driver action, the
    // whole operator stays one lazy plan
    val nDf = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val terms = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = terms.select(col("term"), col("doc_id")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // The tf ⨝ df join key is the TERM — the textbook skewed key: a
    // stopword's tf rows number n_docs, and a web-scale vocabulary is
    // past broadcasting, so the hot term funnels to ONE reducer.
    // dfSaltBuckets > 0 routes the join through SkewAgg.saltedJoin
    // (dim replicated buckets×, each tf row picks a deterministic salt
    // from its doc id) — result PROVABLY identical to the plain join
    // (each row meets exactly its salt's replica; the tfidf_terms and
    // tfidf_terms_salted gates share one oracle), hot terms spread
    // over buckets reducers. The bench's skew probe measures the win
    // on a hot-key fixture where AQE's skew split is unavailable.
    val joined =
      if (dfSaltBuckets > 0)
        graft.ops.SkewAgg.saltedJoin(tf, df, "term",
          saltFrom = col("doc_id"), saltBuckets = dfSaltBuckets)
      else tf.join(df, Seq("term"))
    val scored = joined
      .crossJoin(broadcast(nDf))
      .withColumn("tfidf",
        round(col("tf").cast("double") *
          log(col("n_docs") / col("df").cast("double")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rank"))
  }

  /**
   * Per-DOMAIN curation report card (the FineWeb-style rollup mixture
   * designers actually read): the URL host becomes a first-class
   * curation key, and each domain gets the ingest-health numbers that
   * decide its fate in one row — document count, EXACT duplicate
   * fraction (the [[Dedup.dupRateReport]] shape), whitespace-token
   * mass, and 6-dp quality mass / mean (the
   * [[TextAnalysis.corpusReport]] shape) — from ONE scan and ONE
   * domain-keyed aggregate.
   *
   * Host extraction is Spark's codegen'd `parse_url(url, 'HOST')` —
   * no UDF, no backtracking-regex hazard. Determinism: quality terms
   * are the 6-dp [[graft.functions.TextFunctions.qualityScore]]
   * summed as DECIMAL(18,6) (summation-order-exact); dup fraction and
   * mean quality are single final double divisions of exact operands.
   *
   * Scale shape: fingerprint, token count and quality are per-row
   * map work feeding a two-phase keyed aggregate — one shuffle of
   * partial aggregates, no windows. The exact `count_distinct` rides
   * the same aggregate (one Expand); `approx_count_distinct` is the
   * drop-in at extreme per-domain cardinality, the `sketch_merge`
   * error-contract pattern.
   */
  def domainReport(
      docs: DataFrame,
      urlCol: String = "url",
      textCol: String = "text",
      nCharsCol: String = "n_chars"): DataFrame = {
    import graft.functions.TextFunctions
    val t = col(textCol)
    docs
      .select(
        parse_url(col(urlCol), lit("HOST")).as("domain"),
        md5(t).as("fp"),
        TextFunctions.tokenCountWs(t).as("toks"),
        TextFunctions.qualityScore(t, col(nCharsCol)).as("q"))
      .groupBy(col("domain"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("fp")).as("n_unique"),
        sum(col("toks").cast("long")).as("total_tokens_ws"),
        sum(col("q").cast("decimal(18,6)")).as("qmass"))
      .select(col("domain"), col("n_docs"), col("n_unique"),
        round(lit(1.0d) - col("n_unique").cast("double")
          / col("n_docs").cast("double"), 6).as("dup_frac"),
        col("total_tokens_ws"),
        round(col("qmass").cast("double"), 6).as("sum_quality"),
        round(col("qmass").cast("double") / col("n_docs").cast("double"), 6)
          .as("mean_quality"))
  }

  /**
   * URL canonicalization (the FineWeb/CCNet URL-dedup key). Rules, in
   * order — each is a pure string transform so the whole thing is one
   * codegen'd projection, no UDF, no network:
   *
   *   1. strip the fragment (`#…`);
   *   2. lowercase scheme + authority (the RFC 3986 case-insensitive
   *      parts; path and query keep their case) and drop an explicit
   *      default port (`:80`/`:443`);
   *   3. strip ONE trailing slash from the path (`…/docs/` ≡ `…/docs`;
   *      a bare `scheme://host/` canonicalizes to no-slash);
   *   4. drop tracking query params (utm_*, fbclid, gclid, msclkid,
   *      ref, mc_cid, mc_eid — case-insensitive), sort the survivors
   *      bytewise, rejoin; an emptied query drops its `?`.
   *
   * A URL with no `scheme://` head passes through steps 1/3/4 with the
   * head treated as empty (relative refs canonicalize by path+query
   * only). Deterministic, engine-reproducible, scan-speed.
   */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val head = regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    val tail = noFrag.substr(length(head) + 1, length(noFrag))
    canonicalizeUrlParts(lower(head), tail)
  }

  private def canonicalizeUrlParts(headLower: Column, tail: Column): Column = {
    val headNoPort = regexp_replace(headLower, ":(80|443)$", "")
    val path = regexp_replace(regexp_extract(tail, "^([^?]*)", 1), "/$", "")
    val q = regexp_extract(tail, "^[^?]*\\?(.*)$", 1)
    val kept = array_join(
      array_sort(filter(split(q, "&"), p =>
        p =!= lit("") && !p.rlike(
          "(?i)^(utm_[^=]*|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)(=.*)?$"))),
      "&")
    concat(headNoPort, path,
      when(kept === lit(""), lit("")).otherwise(concat(lit("?"), kept)))
  }

  /**
   * URL-level exact dedup over the canonical key: one keyed shuffle,
   * keeper = the minimum id per canonical URL (deterministic). The
   * FineWeb pipeline's first dedup stage — at 100 TB this is the cheap
   * pass that runs before any content hashing, and it composes with
   * [[Dedup.exact]] downstream (same keep-min contract).
   *
   * Returns (canonical_url, keep_id, n_docs).
   */
  def urlDedup(
      docs: DataFrame,
      urlCol: String = "url",
      idCol: String = "doc_id"): DataFrame =
    docs
      .select(canonicalizeUrl(col(urlCol)).as("canonical_url"),
        col(idCol).as("id"))
      .groupBy(col("canonical_url"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_docs"))

  /**
   * Greedy DOC-BOUNDARY bin packing (next-fit): within each
   * (`groupCol`, shard) stream ordered by id, each document goes into
   * the current bin unless it would overflow `budgetTokens`, which
   * opens the next bin — documents are never split (the padding-paying
   * alternative to [[packChunks]], which splits documents at exact
   * budget boundaries; training stacks pick one per Raffel et al. 2020
   * §2.2's packing discussion).
   *
   * Greedy packing is inherently SEQUENTIAL — bin k's boundary depends
   * on every placement before it — so it cannot be a window function.
   * The scale contract makes it parallel anyway: real packers pack per
   * OUTPUT SHARD, and the shard is the deterministic `idCol div
   * shardRows` — each (group, shard) is a bounded unit (≤ `shardRows`
   * docs) packed independently by one in-memory fold (`aggregate`
   * higher-order function over the sorted struct array; the fold's
   * array append is quadratic in COPIES, which the shard bound turns
   * into a constant ~shardRows² per task — the knob is a packing/
   * parallelism dial, not a correctness one). No collect, no UDF; one
   * keyed shuffle.
   *
   * A document with more tokens than `budgetTokens` still gets its own
   * bin (flagged `oversize`) — next-fit never splits, so the bin
   * overflows rather than the document disappearing.
   *
   * Returns (group, shard, doc_id, n_tokens, bin, oversize): `bin` is
   * 0-based within its (group, shard).
   */
  def packGreedyBins(
      docs: DataFrame,
      budgetTokens: Long,
      shardRows: Long = 1024L,
      groupCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(shardRows > 0, "shardRows must be positive")
    val sorted = docs
      .select(col(groupCol).as("group"),
        expr(s"$idCol div ${shardRows}L").as("shard"),
        struct(col(idCol).cast("long").as("doc_id"),
          tokenCountBpe(col(textCol)).cast("long").as("n_tokens")).as("d"))
      .groupBy(col("group"), col("shard"))
      .agg(sort_array(collect_list(col("d"))).as("ds"))
    // fold state: (bin, fill, out); newBin fires only when the bin is
    // non-empty AND the doc would overflow — zero-token docs leave fill
    // untouched, an oversize FIRST doc stays in bin 0 (both mirrored
    // exactly by the oracle's recursive step)
    val packed = sorted.withColumn("out",
      aggregate(
        col("ds"),
        struct(lit(0L).as("bin"), lit(0L).as("fill"),
          expr("CAST(array() AS ARRAY<STRUCT<doc_id: BIGINT, n_tokens: BIGINT, bin: BIGINT>>)").as("out")),
        (acc, d) => {
          val n = d.getField("n_tokens")
          val newBin = acc.getField("fill") > 0L &&
            acc.getField("fill") + n > budgetTokens
          val bin = when(newBin, acc.getField("bin") + 1L)
            .otherwise(acc.getField("bin"))
          val fill = when(newBin, n).otherwise(acc.getField("fill") + n)
          struct(bin.as("bin"), fill.as("fill"),
            concat(acc.getField("out"), array(struct(
              d.getField("doc_id").as("doc_id"), n.as("n_tokens"),
              bin.as("bin")))).as("out"))
        },
        acc => acc.getField("out")))
    packed
      .select(col("group"), col("shard"), explode(col("out")).as("p"))
      .select(col("group"), col("shard"),
        col("p.doc_id").as("doc_id"), col("p.n_tokens").as("n_tokens"),
        col("p.bin").as("bin"),
        (col("p.n_tokens") > budgetTokens).as("oversize"))
  }

  /**
   * Packing-efficiency audit over [[packGreedyBins]] output: per group,
   * how many bins the greedy pack used and how much of the token budget
   * went to padding — the number a pipeline watches when tuning
   * `budgetTokens` (utilization near 1 = dense batches; low utilization
   * = wasted FLOPs at training time). Waste counts only UNDER-full bins
   * (an oversize bin pads nothing); two keyed aggregations, both on
   * keys the input already carries.
   */
  def packEfficiency(packed: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    packed
      .groupBy(col("group"), col("shard"), col("bin"))
      .agg(sum(col("n_tokens")).as("fill"), count(lit(1)).as("n_docs"))
      .groupBy(col("group"))
      .agg(
        sum(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_bins"),
        sum(col("fill")).as("total_tokens"),
        sum(greatest(lit(budgetTokens) - col("fill"), lit(0L)))
          .as("padding_waste"))
      .select(col("group"), col("n_docs"), col("n_bins"),
        col("total_tokens"), col("padding_waste"),
        round(col("total_tokens").cast("double") /
          (col("n_bins") * budgetTokens).cast("double"), 6)
          .as("utilization"))
  }
}
