package graft.operators

import graft.functions.TextFunctions._
import graft.ops.Par
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Document-level text analysis for training-data curation: token counts,
 * quality scores, language ID, fingerprints. One narrow projection per
 * document — no shuffle at all; at 100 TB this runs scan-speed.
 */
object TextAnalysis {

  /** Per-document stats: whitespace + BPE-ish token counts, punctuation /
    * stopword ratios, average token length, composite quality score. */
  def textStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    Par.fanOut(docs).select(
      col(idCol),
      length(t).as("n_chars_actual"),
      tokenCountWs(t).as("n_tokens_ws"),
      tokenCountBpe(t).as("n_tokens_bpe"),
      round(punctRatio(t), 6).as("punct_ratio"),
      round(stopwordRatio(t), 6).as("stopword_ratio"),
      round(avgTokenLen(t), 6).as("avg_token_len"),
      qualityScore(t, col("n_chars")).as("quality"))
  }

  /** Language-ID by marker-word overlap, with per-language hit counts. */
  def languageId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val hitCols = LangMarkers.map { case (lang, ms) =>
      langMarkerHits(t, ms).as(s"hits_$lang")
    }
    Par.fanOut(docs).select((col(idCol) +: hitCols :+ langId(t).as("lang_pred")): _*)
  }

  /** Within-document repetition ratio: the fraction of n-token windows
    * that are repeats of an earlier window (1 − distinct/total). The
    * standard corpus-filtering signal for boilerplate and degenerate
    * generation (navigation chrome, keyword stuffing, copy-paste spam
    * score high; clean prose scores near 0). Map-side only — the token
    * windows are computed once per row and never leave the projection. */
  def repetitionRatio(
      docs: DataFrame,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    Par.fanOut(docs)
      .select(
        col(idCol),
        greatest(tokenCountWs(t) - lit(n - 1), lit(1)).cast("int").as("n_windows"),
        size(tokenShingles(t, n)).as("n_distinct"))
      .withColumn("rep_ratio",
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_windows").cast("double"), 6))
  }

  /** Gopher-style n-gram repetition profile (Rae et al. 2021, Table A1
    * — the published repetitious-text filters beyond the single
    * [[repetitionRatio]] number): per document,
    *
    *  - `top{n}gram_char_frac` (n = 2, 3, 4): the fraction of window
    *    characters covered by the single most frequent token n-gram —
    *    keyword stuffing and chant-like degenerate generations score
    *    high;
    *  - `dup{n}gram_char_frac` (n = 5, 10): the fraction of window
    *    characters sitting inside n-grams that occur MORE THAN ONCE —
    *    copy-pasted boilerplate blocks score high while a single
    *    repeated bigram no longer trips it.
    *
    * Character accounting is over the space-rejoined window strings
    * (every window weighted by its own length), so both numerator and
    * denominator are integer sums — cross-engine exact before the one
    * 6-dp rounded division. Map-side only; the per-row lambda work is
    * O(windows²) in the occurrence count, bounded in a real pipeline by
    * the upstream token cap (chunking caps documents at a few thousand
    * tokens long before quality filtering runs). */
  def repetitionProfile(
      docs: DataFrame,
      topNs: Seq[Int] = Seq(2, 3, 4),
      dupNs: Seq[Int] = Seq(5, 10),
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val ns = (topNs ++ dupNs).distinct.sorted
    val base = Par.fanOut(docs).select(
      col(idCol) +: ns.map(n => tokenWindows(col(textCol), n).as(s"_ws$n")): _*)
    def totalChars(ws: org.apache.spark.sql.Column) =
      greatest(aggregate(ws, lit(0), (acc, w) => acc + length(w)), lit(1))
    val metrics = topNs.map { n =>
      val ws = col(s"_ws$n")
      val top = array_max(transform(array_distinct(ws),
        g => size(filter(ws, x => x === g)) * length(g)))
      round(top.cast("double") / totalChars(ws).cast("double"), 6)
        .as(s"top${n}gram_char_frac")
    } ++ dupNs.map { n =>
      val ws = col(s"_ws$n")
      val dup = aggregate(
        filter(ws, w => size(filter(ws, x => x === w)) > 1),
        lit(0), (acc, w) => acc + length(w))
      round(dup.cast("double") / totalChars(ws).cast("double"), 6)
        .as(s"dup${n}gram_char_frac")
    }
    base.select(col(idCol) +: metrics: _*)
  }

  /** Corpus report card: per-(grouping) document counts, token totals,
    * quality mass and length extremes — the composition summary a
    * mixture designer reads before weighting sources. One keyed shuffle
    * with map-side partial aggregation; quality sums go through
    * DECIMAL(18,6) so the total is summation-order-exact (and therefore
    * engine-reproducible), not a float race.
    *
    * Length quantiles ride a percentile sketch (`percentile_approx`,
    * accuracy 1000 → ≤0.1% rank error), not an exact sort — O(1) state
    * per group at 100 TB. With `quantileProbe` on, the report also
    * carries the sketch's error-contract boolean (the `sketch_approx`
    * pattern): the approx p50 must land between the EXACT discrete
    * 45%/55% quantiles. Discrete (`percentile_disc`) anchors are
    * load-bearing: the sketch returns an ELEMENT, and for a small
    * even-sized group the median element legitimately sits below the
    * INTERPOLATED p45 — discrete anchors bound rank, which is what the
    * sketch guarantees. The probe's exact anchors cost a sort-based agg,
    * so it defaults off in production and on in the correctness gate. */
  def corpusReport(
      docs: DataFrame,
      groupCols: Seq[String] = Seq("lang", "source"),
      textCol: String = "text",
      nCharsCol: String = "n_chars",
      quantileProbe: Boolean = false): DataFrame = {
    val t = col(textCol)
    val baseAggs = Seq(
      count(lit(1)).as("n_docs"),
      sum(tokenCountWs(t).cast("long")).as("total_tokens_ws"),
      round(sum(qualityScore(t, col(nCharsCol))
        .cast(org.apache.spark.sql.types.DecimalType(18, 6))).cast("double"), 6)
        .as("sum_quality"),
      min(length(t)).as("min_chars"),
      max(length(t)).as("max_chars"))
    if (!quantileProbe)
      docs.groupBy(groupCols.map(col): _*)
        .agg(baseAggs.head, baseAggs.tail :+
          percentile_approx(length(t), lit(0.5), lit(1000)).as("p50_chars"): _*)
    else
      docs.groupBy(groupCols.map(col): _*)
        .agg(baseAggs.head, baseAggs.tail ++ Seq(
          percentile_approx(length(t), lit(0.5), lit(1000)).as("_ap50"),
          expr(s"percentile_disc(0.45) WITHIN GROUP (ORDER BY length($textCol))").as("_lo"),
          expr(s"percentile_disc(0.55) WITHIN GROUP (ORDER BY length($textCol))").as("_hi")): _*)
        .withColumn("approx_p50_chars_ok",
          col("_ap50").between(col("_lo"), col("_hi")))
        .drop("_ap50", "_lo", "_hi")
  }

  /** PII patterns, written to the common RE2-compatible subset so Java
    * regex (Spark) and RE2 (DuckDB, and most scale-out regex engines)
    * match identically: no backreferences, no lookaround.
    *
    * Supported formats (documented contract):
    *  - email: local@domain.tld (the pragmatic single-line form);
    *  - phone: 10-digit NANP numbers with `-`/`.`/space separators and
    *    an optional `+CC` prefix or `(area)` grouping — e.g.
    *    +1-555-123-4567, (555) 123-4567, 555.123.4567 — plus the short
    *    international `+CC-NNN-NNNN` form;
    *  - IPv4: dotted quads with VALID octets only (0–255 — `999.0.0.1`
    *    is not an address and is left alone). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "(\\+[0-9]{1,2}[-. ])?(\\([0-9]{3}\\) ?|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}" +
    "|\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
  private val Ipv4Octet = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
  val Ipv4Re = s"\\b$Ipv4Octet\\.$Ipv4Octet\\.$Ipv4Octet\\.$Ipv4Octet\\b"

  /** PII redaction: emails, phone numbers and IPv4 addresses replaced by
    * typed placeholder tokens, with per-document match counts.
    * Replacement order (email → phone → ip) is part of the contract:
    * each later pattern scans the earlier passes' output — and each
    * count is taken on the text that pass actually scanned, so the
    * counts are a faithful audit of what was removed (a phone-shaped
    * substring inside an email local-part is consumed by the email pass
    * and correctly NOT counted as a phone). Map-side only — codegen'd
    * regexp expressions, no UDF, no shuffle. */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val afterEmail = regexp_replace(t, EmailRe, "<EMAIL>")
    val afterPhone = regexp_replace(afterEmail, PhoneRe, "<PHONE>")
    val afterIp = regexp_replace(afterPhone, Ipv4Re, "<IP>")
    docs
      .withColumn("n_emails", regexp_count(t, lit(EmailRe)).cast("int"))
      .withColumn("n_phones", regexp_count(afterEmail, lit(PhoneRe)).cast("int"))
      .withColumn("n_ips", regexp_count(afterPhone, lit(Ipv4Re)).cast("int"))
      .withColumn(textCol, afterIp)
  }

  /** Gopher-style hard quality rules (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * App. A1.1 — the de-facto standard web-corpus rule filter): token
    * count in bounds, mean token length in bounds, punctuation ratio
    * capped, minimum stopword hits. Emits one boolean per rule plus the
    * conjunctive verdict, so a pipeline can both FILTER on `pass` and
    * REPORT per-rule rejection rates from the same scan. Map-side only:
    * codegen'd projections, no shuffle — scan-speed at 100 TB. */
  def gopherRules(
      docs: DataFrame,
      minTokens: Int = 50,
      maxTokens: Int = 100000,
      minAvgTokenLen: Double = 3.0,
      maxAvgTokenLen: Double = 10.0,
      maxPunctRatio: Double = 0.2,
      minStopwordHits: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    Par.fanOut(docs)
      .select(col(idCol),
        tokenCountWs(t).as("n_tokens_ws"),
        avgTokenLen(t).as("_avg_len"),
        punctRatio(t).as("_pr"),
        stopwordCount(t).as("_stop_hits"))
      .select(col(idCol), col("n_tokens_ws"),
        col("n_tokens_ws").between(minTokens, maxTokens).as("ok_token_count"),
        col("_avg_len").between(minAvgTokenLen, maxAvgTokenLen).as("ok_avg_token_len"),
        (col("_pr") <= maxPunctRatio).as("ok_punct_ratio"),
        (col("_stop_hits") >= minStopwordHits).as("ok_stopwords"))
      .withColumn("pass",
        col("ok_token_count") && col("ok_avg_token_len")
          && col("ok_punct_ratio") && col("ok_stopwords"))
  }

  /** C4-style heuristic cleanup rules (Raffel et al. 2020, "Exploring
    * the Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", §2.2 — the other de-facto web-corpus rule set next
    * to [[gopherRules]]): text ends in terminal punctuation, has at
    * least `minWords` words, and contains none of the template-spam
    * markers (the "lorem ipsum" placeholder, a curly brace — leaked
    * code/JSON — or the word "javascript" — script-soup extraction
    * failures). The published method applies these per LINE; the
    * corpus's documents are single-line, so the per-document form is
    * the same predicate. Emits one boolean per rule plus the
    * conjunctive verdict (filter on `pass`, report per-rule rates from
    * the same scan). Map-side only: codegen'd string predicates, no
    * regex backtracking, no shuffle — scan-speed at 100 TB. */
  def c4Rules(
      docs: DataFrame,
      minWords: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val lowered = lower(t)
    Par.fanOut(docs)
      .select(col(idCol),
        substring(rtrim(t), -1, 1).isin(".", "!", "?", "\"").as("ok_terminal_punct"),
        (tokenCountWs(t) >= minWords).as("ok_min_words"),
        (!lowered.contains("lorem ipsum")).as("ok_no_lorem"),
        (!t.contains("{")).as("ok_no_brace"),
        (!lowered.contains("javascript")).as("ok_no_javascript"))
      .withColumn("pass",
        col("ok_terminal_punct") && col("ok_min_words") && col("ok_no_lorem")
          && col("ok_no_brace") && col("ok_no_javascript"))
  }

  /** Corpus vocabulary: whitespace tokens ranked by frequency — the
    * tokenizer-training / stopword-mining primitive. One explode + one
    * keyed count with map-side partial aggregation; `minCount` prunes
    * the hapax tail BEFORE the rank so the window input stays small. */
  def vocabulary(
      docs: DataFrame,
      minCount: Long = 1L,
      textCol: String = "text"): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  // NOTE deliberately returns UNRANKED counts: a global dense rank over
  // a web-scale vocab is a single-partition window. Rank downstream with
  // orderBy(...).limit(k) (TakeOrderedAndProject) for top-k use.

  /** BPE merge-rule learning (Sennrich, Haddow & Birch 2016 — the
    * tokenizer-training step of a pre-training pipeline): start from
    * character symbols over the corpus WORD table, and for each round
    * pick the most frequent adjacent symbol pair (weighted by word
    * count) and merge it greedily left-to-right in every word. Returns
    * the learned merge table `(round, left, right, merged, pair_count)`
    * — the `merges.txt` a BPE tokenizer ships.
    *
    * Shape: the corpus is scanned ONCE into the (token, count) word
    * table — every round thereafter works on the VOCABULARY, not the
    * corpus (at 100 TB: ~1e8 distinct words vs 1e11 documents; this is
    * why classic BPE trains on word counts). Each round is one
    * pair-explode + keyed count, a 1-row driver argmax (the
    * IVF-centroid "pin" discipline: ties break count DESC then pair
    * ASC, so the rule sequence is deterministic and cross-engine
    * reproducible), and one map-side greedy-merge fold; the symbol
    * table is scratch-materialized per round and the previous round's
    * table retired eagerly (the connectedComponents loop discipline —
    * round N never re-executes rounds 0..N-1's lineage). No word-end
    * marker symbol is used (a simplification over Sennrich's `</w>`;
    * merges therefore never distinguish word-final pairs — documented
    * contract, not an accident). */
  def bpeMerges(
      docs: DataFrame,
      rounds: Int,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val (merges, _, statePath) = bpeLearn(docs, rounds, textCol)
    graft.ops.Scratch.drop(spark, statePath)
    import spark.implicits._
    merges.toDF("round", "left", "right", "pair_count")
      .select(col("round"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("pair_count"))
  }

  /** Encode the corpus with the vocabulary [[bpeMerges]] learns: per
    * document, the whitespace token count and the BPE symbol count
    * after `rounds` merges — the token-budget arithmetic a training
    * pipeline runs with its REAL tokenizer (vs the `tokenCountBpe`
    * regex proxy). The per-word symbol counts come off the learning
    * loop's FINAL state table (vocabulary-sized), joined back to the
    * per-document word stream — the corpus is scanned twice total
    * (once into the word table, once for the join), never per round. */
  def bpeEncodeCounts(
      docs: DataFrame,
      rounds: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (_, state, _) = bpeLearn(docs, rounds, textCol)
    val wordSyms = state.select(col("word"), size(col("sym")).as("n_sym"))
    graft.ops.Par.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .join(wordSyms, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens_ws"),
        sum(col("n_sym")).as("n_tokens_bpe"))
  }

  /** The shared BPE learning loop: returns the merge list, the FINAL
    * `(word, cnt, sym)` state frame (a scratch table the caller may
    * join against — per-JVM scratch cleanup retires it at exit), and
    * its path (for eager retirement when the state is not needed). */
  private def bpeLearn(
      docs: DataFrame,
      rounds: Int,
      textCol: String): (Seq[(Int, String, String, Long)], DataFrame, String) = {
    require(rounds >= 1, "rounds must be positive")
    val spark = docs.sparkSession
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val words = graft.ops.Par.fanOut(docs.select(col(textCol)))
      .select(explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    // Driver-local replay gate (the connected-components union-find /
    // fastRpLocal switchover): classic BPE training is vocabulary-sized,
    // not corpus-sized — under the shared Pin row/byte gate the whole merge
    // loop runs on the collected (word, cnt) table in exact long
    // arithmetic with Spark's own orderings replicated (UTF-8 byte
    // order for the pair tie-break, code-point symbol splitting), so
    // the merge sequence and final state are value-identical to the
    // scratch-table loop below; rounds cost zero jobs instead of two
    // (pair argmax + state write) each. Past the gate — the 100 TB
    // vocabulary — the distributed loop starts from the word table the
    // same collect spilled.
    val placed = graft.ops.Pin.place(words, "bpe_words")
    placed.rows.foreach(rows =>
      return bpeLearnLocal(spark, rows.map(r => (r.getString(0), r.getLong(1))), rounds))
    val sym0 = placed.df.select(col("word"), col("cnt"),
      transform(sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1))).as("sym"))
    var (state, statePath) = graft.ops.Scratch.materializeAt(sym0, "bpe_sym")
    graft.ops.Scratch.drop(spark, placed.path)
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    for (round <- 1 to rounds) {
      val pairs = state
        .filter(size(col("sym")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(1), size(col("sym")) - 1),
          i => struct(element_at(col("sym"), i).as("l"),
            element_at(col("sym"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
      val best = pairs.orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.nonEmpty) {
        val (l, r, n) = (best.head.getString(0), best.head.getString(1),
          best.head.getLong(2))
        merges += ((round, l, r, n))
        // greedy left-to-right merge: after a merge the new symbol is
        // `l+r`, never `l`, so overlapping occurrences skip naturally
        val merged = state.select(col("word"), col("cnt"),
          aggregate(col("sym"),
            lit(Array.empty[String]).cast(ArrayType(StringType)),
            (acc, x) =>
              when(size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
                .otherwise(concat(acc, array(x)))).as("sym"))
        val (next, nextPath) = graft.ops.Scratch.materializeAt(merged, "bpe_sym")
        graft.ops.Scratch.drop(spark, statePath)
        state = next
        statePath = nextPath
      }
    }
    (merges.toSeq, state, statePath)
  }

  /** Spark's string sort order is unsigned UTF-8 byte order — Java's
    * String.compareTo (UTF-16 units) differs above the BMP, so the
    * driver-local tie-break compares encoded bytes. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-local BPE merge loop over the collected word table —
    * value-identical to the distributed scratch loop: exact long pair
    * counts, argmax by (count desc, left asc, right asc) in UTF-8 byte
    * order (Spark's string order), symbols split per CODE POINT
    * (Spark's substr/length unit), and the same greedy left-to-right
    * merge fold. Returns the final state as a local relation (its join
    * consumers broadcast it) and a null path (nothing to retire). */
  private def bpeLearnLocal(
      spark: org.apache.spark.sql.SparkSession,
      words: Array[(String, Long)],
      rounds: Int): (Seq[(Int, String, String, Long)], DataFrame, String) = {
    def charSyms(w: String): Array[String] =
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    var state: Array[(String, Long, Array[String])] =
      words.map { case (w, c) => (w, c, charSyms(w)) }
    val merges = scala.collection.mutable.ListBuffer
      .empty[(Int, String, String, Long)]
    for (round <- 1 to rounds) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      state.foreach { case (_, c, sym) =>
        var i = 0
        while (i < sym.length - 1) {
          val k = (sym(i), sym(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (counts.nonEmpty) {
        val ((l, r), n) = counts.reduceLeft { (a, b) =>
          val cmp =
            if (a._2 != b._2) a._2 > b._2
            else if (a._1._1 != b._1._1) utf8Lt(a._1._1, b._1._1)
            else utf8Lt(a._1._2, b._1._2)
          if (cmp) a else b
        }
        merges += ((round, l, r, n))
        val lr = l + r
        state = state.map { case (w, c, sym) =>
          val acc = scala.collection.mutable.ArrayBuffer.empty[String]
          sym.foreach { x =>
            if (acc.nonEmpty && acc.last == l && x == r) {
              acc.remove(acc.size - 1); acc += lr
            } else acc += x
          }
          (w, c, acc.toArray)
        }
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("word",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("sym",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false),
        nullable = false)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(state.map { case (w, c, s) =>
        org.apache.spark.sql.Row(w, c, s.toSeq)
      }: _*)
    (merges.toSeq, spark.createDataFrame(rows, schema), null)
  }

  /** Out-of-vocabulary rate per source against the corpus's own top-N
    * vocabulary — the tokenizer-coverage check a training pipeline runs
    * before committing to a vocab size (and per-ingest thereafter, to
    * catch domain drift: a source whose OOV rate jumps is shifting
    * vocabulary). The top-N is `orderBy(count).limit(N)`
    * (TakeOrderedAndProject — partial top-N per partition, never a
    * vocab-wide window; count-desc then token-asc makes the boundary
    * tie deterministic), broadcast back as a membership flag; the rate
    * divides exact longs. Two aggregates over one token explode. */
  def oovRate(
      docs: DataFrame,
      vocabSize: Int = 500,
      sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val tok = graft.ops.Par.fanOut(docs.select(col(sourceCol), col(textCol)))
      .select(col(sourceCol), explode(tokens(col(textCol))).as("token"))
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(vocabSize)
      .select(col("token"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
  }

  /** Zipf fit of the corpus vocabulary: least-squares slope/intercept
    * of ln(frequency) against ln(rank) — the power-law health check
    * (clean natural-language corpora fit slope ≈ −1; template spam,
    * tag soup and synthetic word salad bend it). One diagnostic row.
    *
    * Rank WITHOUT a vocab-wide window: ties share their MIN rank
    * (1 + count of strictly-more-frequent types), computed from the
    * count-value HISTOGRAM — the cumulative runs over distinct count
    * VALUES (≲10⁵ even for web-scale corpora, vs 10⁸ vocab rows), the
    * [[graft.operators.Corpus.qualityThresholdFilter]] discipline.
    * Regression moments are DECIMAL(28,12) sums of 9-dp-rounded
    * per-count-value terms — order-free, engine-exact; the final
    * slope/intercept arithmetic is one fixed double expression. A
    * degenerate single-count-value vocabulary has no defined slope →
    * NULL (documented), not a division error. */
  def zipfFit(
      docs: DataFrame,
      minCount: Long = 1L,
      textCol: String = "text"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val hist = vocabulary(docs, minCount, textCol)
      .groupBy(col("n")).agg(count(lit(1)).as("nv"))
    val wCum = Window.orderBy(col("n").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = hist
      .withColumn("rank", coalesce(sum(col("nv")).over(wCum), lit(0L)) + 1L)
    val terms = ranked.select(
      col("nv"),
      round(log(col("rank").cast("double")), 9).as("x"),
      round(log(col("n").cast("double")), 9).as("y"))
    val m = terms.agg(
      sum(col("nv")).as("nt"),
      sum(round(col("x") * col("nv").cast("double"), 9).cast(dec)).as("sx"),
      sum(round(col("y") * col("nv").cast("double"), 9).cast(dec)).as("sy"),
      sum(round(col("x") * col("y") * col("nv").cast("double"), 9).cast(dec)).as("sxy"),
      sum(round(col("x") * col("x") * col("nv").cast("double"), 9).cast(dec)).as("sxx"))
    val n = col("nt").cast("double")
    val (sx, sy, sxy, sxx) = (col("sx").cast("double"), col("sy").cast("double"),
      col("sxy").cast("double"), col("sxx").cast("double"))
    val slope = round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, lit(0.0d)), 6)
    m.select(
      col("nt").as("n_types"),
      slope.as("zipf_slope"),
      round((sy - slope * sx) / n, 6).as("zipf_intercept"))
  }

  /** Boilerplate n-gram mining: corpus-wide DOCUMENT frequency of
    * n-token grams (per-doc distinct, so a gram repeated inside one doc
    * counts once) — the "what phrase appears in half the corpus" signal
    * that surfaces navigation chrome, license headers and template spam
    * before a removal rule is written. One explode + one keyed count
    * with map-side partials; like [[vocabulary]], the result is
    * UNRANKED (rank downstream with orderBy().limit() —
    * TakeOrderedAndProject — never a global window). `minDf` prunes the
    * long singleton tail before it ships. */
  def topNgrams(
      docs: DataFrame,
      n: Int = 5,
      minDf: Long = 2L,
      textCol: String = "text"): DataFrame =
    docs
      .select(explode(tokenShingles(col(textCol), n)).as("gram"))
      .filter(length(col("gram")) > 0)
      .groupBy("gram")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)

  /** Per-document unigram cross-entropy against the corpus's own unigram
    * model: score(d) = mean over tokens of ln P(token), P = count/total.
    * Low (very negative) scores flag documents dominated by corpus-rare
    * tokens — a cheap, training-free fluency/outlier signal (the
    * KenLM-style filter's first rung). Two scans: one to build the
    * model, one to score; the token→logp join is left to AQE (broadcast
    * when the vocab is small, shuffle otherwise — a web-scale vocab must
    * NOT be forced broadcast). Per-token logs are rounded to 9 dp and
    * summed as DECIMAL, so the mean is summation-order-exact and
    * engine-reproducible. */
  /** Bigram-LM perplexity scoring with stupid backoff — the CCNet
    * quality-gate shape one rung up from [[unigramLogProb]]: Wenzek et
    * al. 2020 score documents with an n-gram LM and keep the
    * low-perplexity head/middle of each language; Brants et al. 2007
    * ("stupid backoff") is the published score this mirrors:
    * S(w|v) = c(v,w)/c(v) when the bigram was seen, else α·c(w)/N with
    * α = 0.4. The model is trained on the corpus itself in one pass —
    * a real deployment would swap the two count tables for its KenLM
    * dump; the scoring plumbing is identical.
    *
    * Determinism: every probability is a single IEEE division (or one
    * multiply by the 0.4 literal) of exact integer counts; ln rounds
    * to 9 dp and sums under DECIMAL(28,12) (the [[unigramLogProb]] /
    * [[Quality.psi]] discipline); perplexity exponentiates the
    * 9-dp-rounded negative mean so both engines call exp on the SAME
    * argument, and the result rounds to 6 dp. A document's first token
    * has no context and scores as the unigram c(w)/N (no backoff
    * penalty — there is nothing to back off FROM).
    *
    * Scale shape: the positioned token table materializes once (its
    * lag window is per-document, never global) and feeds the two count
    * aggregates and the scoring joins; both model joins are keyed and
    * left to AQE — a web-scale bigram table must NOT be forced
    * broadcast. N rides a 1-row broadcast frame. */
  def ngramLmPerplexity(
      docs: DataFrame,
      model: Option[DataFrame] = None,
      alpha: Double = 0.4,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0,1]")
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    def positioned(d: DataFrame, prefix: String) =
      graft.ops.Scratch.materialize(
        d.select(col(idCol).as("doc_id"),
            posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
          .withColumn("prev", lag(col("token"), 1).over(
            Window.partitionBy(col("doc_id")).orderBy(col("pos")))),
        prefix)
    val tok = positioned(docs, "nglm_tok")
    // model trained on `model` when given (the KenLM-dump stand-in),
    // else on the scored corpus itself (CCNet's self-trained gate)
    val mtok = model.map(positioned(_, "nglm_model")).getOrElse(tok)
    val total = mtok.agg(count(lit(1)).as("total"))
    val uni = mtok.groupBy(col("token")).agg(count(lit(1)).as("n_w"))
    val bi = mtok.filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("token")).agg(count(lit(1)).as("n_vw"))
    // OOV floor: an unseen token scores as count 1 (only reachable with
    // an external model — the self-trained gate has no OOV)
    val u = coalesce(col("n_w"), lit(1L)).cast("double") /
      col("total").cast("double")
    val p =
      when(col("prev").isNull, u)
        .when(col("n_vw").isNotNull,
          col("n_vw").cast("double") / col("n_v").cast("double"))
        .otherwise(lit(alpha) * u)
    val scored = tok
      .join(uni, Seq("token"), "left")
      .join(uni.select(col("token").as("prev"), col("n_w").as("n_v")),
        Seq("prev"), "left")
      .join(bi, Seq("prev", "token"), "left")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(round(log(p), 9).cast(dec)).as("s"))
    scored.select(col("doc_id"), col("n_tokens"),
      round(col("s").cast("double") / col("n_tokens"), 6).as("avg_logp"),
      round(exp(round(-col("s").cast("double") / col("n_tokens"), 9)), 6)
        .as("perplexity"))
  }

  def unigramLogProb(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    // total token count as a 1-row broadcast frame (a global window here
    // would single-partition the vocab)
    val total = toks.agg(count(lit(1)).as("total"))
    val model = toks.groupBy("token").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(col("token"),
        round(log(col("n").cast("double") / col("total").cast("double")), 9)
          .cast(dec).as("logp"))
    toks.join(model, "token")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(sum(col("logp")).cast("double") / count(lit(1)), 6).as("avg_logp"))
  }

  /** Deterministic per-bucket weights standing in for a TRAINED hashed
    * linear model (the container ships no trainer): bucket b →
    * (first-4-md5-bytes("salt"+b) mod 2001) − 1000 milli-units, i.e.
    * uniform-ish integer weights in [−1000, 1000]. A real deployment
    * loads its fastText/logistic weights as the same (bucket, w_milli)
    * table — the scoring plumbing in [[hashedLinearScores]] is
    * model-agnostic. */
  def syntheticHashedWeights(
      spark: org.apache.spark.sql.SparkSession,
      dims: Int = 4096,
      salt: String = "qw:"): DataFrame =
    spark.range(dims).select(
      col("id").cast("int").as("bucket"),
      (conv(substring(md5(concat(lit(salt), col("id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 2001L - 1000L).cast("int").as("w_milli"))

  /** MODEL-BASED quality filtering: score every document with a hashed
    * linear text classifier (the fastText / CCNet-filter shape —
    * Joulin et al. 2016: tokens → feature-hash buckets → mean bucket
    * weight → threshold). The weights frame IS the model: one integer
    * milli-weight per bucket 0..dims−1, trained offline and loaded as a
    * table ([[syntheticHashedWeights]] supplies the deterministic
    * stand-in).
    *
    * Scale shape: the model collapses to ONE row carrying the dense
    * bucket-ordered weight array (a few KB for classifier-sized dims),
    * broadcast-cross-joined; scoring is then a pure per-row lambda —
    * tokens hash to buckets, `element_at` reads the weight — so the
    * whole operator is map-side scan-speed with ZERO shuffles (the
    * per-token explode+join+regroup alternative shuffles every token).
    * A malformed model (missing/duplicate bucket) fails fast via the
    * per-row array-size contract, not silently as nulls.
    *
    * Exactness: integer weight sums and an integer threshold
    * cross-multiplication (keep ⇔ Σw ≥ θ·n) — no float path; the
    * reported mean-weight score rounds one double division to 6 dp.
    * Sigmoid is monotone, so thresholding the logit ≡ thresholding the
    * probability a downstream consumer would compute. */
  def hashedLinearScores(
      docs: DataFrame,
      weights: DataFrame,
      dims: Int = 4096,
      thresholdMilliPerToken: Long = 0L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val wRow = broadcast(
      weights.select(col("bucket"), col("w_milli"))
        .groupBy()
        .agg(sort_array(collect_list(struct(col("bucket"), col("w_milli")))).as("bw"))
        .select(transform(col("bw"), s => s.getField("w_milli")).as("warr")))
    val guardedW = when(size(col("warr")) === dims, col("warr"))
      .otherwise(raise_error(concat(
        lit(s"hashedLinearScores: weights table must carry exactly one "
          + s"w_milli per bucket 0..${dims - 1} ("), size(col("warr")).cast("string"),
        lit(" entries found)"))))
    val bucketOf = (t: Column) =>
      (pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), lit(dims.toLong)) + 1L)
        .cast("int")
    Par.fanOut(docs.select(col(idCol), col(textCol))).crossJoin(wRow)
      .select(
        col(idCol),
        tokens(col(textCol)).as("_tk"),
        guardedW.as("_w"))
      .select(
        col(idCol),
        size(col("_tk")).as("n_tokens"),
        aggregate(col("_tk"), lit(0L),
          (acc, t) => acc + element_at(col("_w"), bucketOf(t)).cast("long"))
          .as("_s"))
      .select(
        col(idCol),
        col("n_tokens"),
        round(col("_s").cast("double") / (lit(1000.0) * col("n_tokens").cast("double")), 6)
          .as("score"),
        (col("_s") >= lit(thresholdMilliPerToken) * col("n_tokens").cast("long")).as("keep"))
  }

  /** DSIR-style importance scores (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-document log
    * importance weight log w(d) = Σ over tokens of
    * ln p_target(t) − ln p_raw(t), with add-1-smoothed unigram LMs over
    * the union vocabulary — documents whose token distribution looks
    * like the TARGET domain (the eval suite, a high-quality seed corpus)
    * score high; selection is a downstream orderBy/limit or threshold.
    * The published method hashes n-grams into buckets; raw unigrams are
    * the deterministic, oracle-able rendition of the same estimator.
    *
    * Scale shape: one scan of each corpus into token counts, a
    * full-outer count merge materialized ONCE as a scratch table (read
    * by the totals probe and the weight projection), totals + vocab
    * size as a 1-row broadcast — never a collect. The token→weight
    * scoring join is left to AQE (broadcast when the vocab is small,
    * shuffle otherwise — a web-scale vocab must NOT be forced
    * broadcast). Determinism: per-token weights rounded to 9 dp and
    * summed as DECIMAL(28,12) — summation-order-exact — then one 6-dp
    * output round.
    */
  def dsirScores(
      corpus: DataFrame,
      target: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      targetTextCol: String = "text"): DataFrame = {
    import graft.ops.Scratch
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val toksC = corpus.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val toksT = target.select(explode(tokens(col(targetTextCol))).as("token"))
    val counts = Scratch.materialize(
      toksC.groupBy("token").agg(count(lit(1)).as("nr"))
        .join(toksT.groupBy("token").agg(count(lit(1)).as("nt")),
          Seq("token"), "full_outer")
        .select(col("token"),
          coalesce(col("nr"), lit(0L)).as("nr"),
          coalesce(col("nt"), lit(0L)).as("nt")),
      "dsir_counts")
    val tot = counts.agg(sum(col("nr")).as("totr"), sum(col("nt")).as("tott"),
      count(lit(1)).as("v"))
    val weights = counts.crossJoin(broadcast(tot))
      .select(col("token"),
        round(
          log((col("nt") + 1).cast("double") /
            (col("tott") + col("v")).cast("double")) -
          log((col("nr") + 1).cast("double") /
            (col("totr") + col("v")).cast("double")), 9)
          .cast(dec).as("lw"))
    toksC.join(weights, Seq("token"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("lw")).cast("double"), 6).as("dsir_score"))
  }

  /** CCNet-style LM-quality bucketing: assign each document to the
    * head / middle / tail TERCILE of the unigram-LM score within its
    * language — the published corpus-stratification scheme (Wenzek et
    * al., CCNet: head = most-fluent third, typically kept; tail =
    * least-fluent, dropped or down-weighted). "Within its language"
    * matters: absolute cross-entropy is not comparable across
    * languages.
    *
    * Scale shape: the tercile thresholds come from the per-language
    * HISTOGRAM of distinct 6-dp scores ([[Corpus.qualityThresholdFilter]]'s
    * no-window-skew pattern — a `percent_rank` over documents would
    * put a whole language in one task), and the bucket decision is the
    * INTEGER comparison 3·cum_before < tot (no fraction boundary to
    * disagree on); ties share their value's bucket, so the realized
    * split rounds to tie-group boundaries — deterministic and
    * engine-reproducible. */
  def lmQualityBuckets(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    val scored = unigramLogProb(docs, idCol, textCol)
      .join(docs.select(col(idCol), col(langCol).as("lang")), Seq(idCol))
    val byVal = scored.groupBy(col("lang"), col("avg_logp"))
      .agg(count(lit(1)).as("nv"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("avg_logp").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(col("lang"))
    val buckets = byVal
      .withColumn("cum_before", coalesce(sum(col("nv")).over(wCum), lit(0L)))
      .withColumn("tot", sum(col("nv")).over(wTot))
      .select(col("lang"), col("avg_logp"),
        when(col("cum_before") * 3 < col("tot"), lit("head"))
          .when(col("cum_before") * 3 < col("tot") * 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
    scored.join(buckets, Seq("lang", "avg_logp"))
      .select(col(idCol), col("lang"), col("avg_logp"), col("bucket"))
  }

  /** Okapi BM25 relevance of every document to a fixed query-term set —
    * the retrieval scorer a RAG-style eval or a query-targeted corpus
    * selection runs over the training store (Robertson & Zaragoza 2009).
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl)),
    * idf(t) = ln(1 + (N−df+0.5)/(df+0.5)).
    *
    * Scale shape: the query set is a literal handful of terms, so the
    * token explode is FILTERED to the query terms before any shuffle —
    * the per-(doc,term) tf agg only ever sees matching tokens. N and
    * avgdl ride in as one broadcast 1-row frame (avgdl is an exact
    * long-sum ratio, not a float avg — summation-order-independent);
    * df is |queryTerms| rows, broadcast. Determinism: per-term scores
    * rounded to 9 dp and summed as DECIMAL — order-exact — then one
    * 6-dp output round. */
  /** Term-blocklist safety filter — the keyword gate (NSFW lists,
    * boilerplate markers, policy terms) a training-data pipeline runs
    * at scan time, before anything expensive: per document the token
    * hit count against a literal blocklist, the distinct terms hit,
    * and a keep verdict under `maxHitFrac` (hits/tokens ≤ frac,
    * compared as the exact integer cross-product n_hits·10⁶ ≤
    * ⌊frac·10⁶⌋·n_tokens — no float boundary). Map-side ONLY: the
    * blocklist rides the plan as a literal array, the scan is one
    * codegen'd filter per row, ZERO shuffles (the hashedLinearScores
    * shape) — at 100 TB this is scan-speed work. A 10⁵+-term list
    * outgrows a plan literal; the swap is [[bm25Scores]]' token-explode
    * + broadcast-join shape. */
  def blocklistFilter(
      docs: DataFrame,
      blocklist: Seq[String],
      maxHitFrac: Double = 0.0,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(blocklist.nonEmpty, "blocklistFilter needs at least one term")
    require(maxHitFrac >= 0.0 && maxHitFrac <= 1.0,
      "maxHitFrac must be in [0,1]")
    val fracMicro = math.round(maxHitFrac * 1e6)
    val bl = array(blocklist.map(lit(_)): _*)
    docs
      .select(col(idCol),
        graft.functions.TextFunctions.tokens(col(textCol)).as("tk"))
      .select(col(idCol), size(col("tk")).cast("long").as("n_tokens"),
        filter(col("tk"), t => array_contains(bl, t)).as("h"))
      .select(col(idCol), col("n_tokens"),
        size(col("h")).cast("long").as("n_hits"),
        size(array_distinct(col("h"))).cast("long").as("n_terms_hit"),
        (size(col("h")).cast("long") * lit(1000000L) <=
          lit(fracMicro) * col("n_tokens")).as("pass"))
  }

  def bm25Scores(
      docs: DataFrame,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Scores needs at least one query term")
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val lens = docs.select(col(idCol),
      tokenCountWs(col(textCol)).cast("long").as("dl"))
    // exact integer sums -> the double division is engine-reproducible
    val stats = lens.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val hits = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term").isInCollection(queryTerms))
    val tf = hits.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = hits.select(col("term"), col(idCol)).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val perTerm = tf
      .join(broadcast(df), Seq("term"))
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1d) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("score",
        round(col("idf") * col("tf") * lit(k1 + 1d) /
          (col("tf") + lit(k1) * (lit(1d - b) + lit(b) * col("dl") / col("avgdl"))), 9)
          .cast(dec))
    perTerm.groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_terms_matched"),
        round(sum(col("score")).cast("double"), 6).as("bm25"))
  }

  /** Lexical diversity: per-document type-token ratio (distinct tokens /
    * total tokens) — the cheapest template-spam and babble detector
    * (near-0 TTR = one phrase repeated; near-1 on long docs = word-salad).
    * Pure integer projection per document, no shuffle, exact. */
  def lexicalDiversity(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    Par.fanOut(docs.select(col(idCol), col(textCol))).select(
      col(idCol),
      tokenCountWs(col(textCol)).cast("long").as("n_tokens"),
      size(array_distinct(tokens(col(textCol)))).cast("long").as("n_types"),
      round(size(array_distinct(tokens(col(textCol)))).cast("double") /
        tokenCountWs(col(textCol)).cast("double"), 6).as("ttr"))

  /** Lexical (token-distribution Shannon) ENTROPY per document — the
    * graded companion to [[lexicalDiversity]]'s type-token ratio: TTR
    * ignores HOW unevenly tokens repeat, entropy reads it (a doc that
    * is 95% one token and a doc with a flat vocabulary can share a
    * TTR; their entropies differ by bits). Low entropy flags
    * template/boilerplate/degenerate-generation text; the normalized
    * form (entropy / ln(types)) is corpus-length-comparable in [0,1].
    *
    * Determinism: per-type terms p·ln(p) are 9-dp-rounded and summed
    * under a DECIMAL(28,12) `aggregate` fold — decimal addition is
    * associative-exact, so the type ORDER (array_distinct's
    * first-occurrence order vs any other) cannot move the sum; ln at
    * 9 dp is the [[adamicAdarTopK]] cross-libm precedent. Scale
    * shape: the token array binds ONCE as a column (the per-element
    * lambda re-evaluation pitfall), everything is one map-side
    * projection — zero shuffles, scan-speed at any corpus size. */
  def lexicalEntropy(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    Par.fanOut(docs.select(col(idCol), col(textCol)))
      .withColumn("tk", graft.functions.TextFunctions.tokens(col(textCol)))
      .withColumn("n", size(col("tk")).cast("double"))
      .withColumn("types", array_distinct(col("tk")))
      .withColumn("ent", (-aggregate(
        transform(col("types"), t => {
          val p = size(filter(col("tk"), x => x === t)).cast("double") / col("n")
          round(p * log(p), 9).cast(dec)
        }),
        lit(0).cast(dec), (acc, x) => (acc + x).cast(dec)).cast("double")).as("ent"))
      .select(
        col(idCol),
        size(col("tk")).cast("long").as("n_tokens"),
        size(col("types")).cast("long").as("n_types"),
        round(col("ent"), 6).as("entropy"),
        when(size(col("types")) > 1,
          round(col("ent") / log(size(col("types")).cast("double")), 6))
          .otherwise(lit(null).cast("double")).as("norm_entropy"))
  }

  /** Document fingerprints: exact (md5 of normalized text) and
    * rolling-hash (min shingle hash, winnowing-style) via the native
    * one-pass MinShingleMd5 expression — no explode, no shuffle; both
    * fingerprints come out of a single map-side projection. */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 8): DataFrame =
    Par.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        md5Fingerprint(col(textCol)).as("fp_exact"),
        graft.functions.MinShingleMd5.minShingleMd5(col(textCol), shingleK).as("fp_rolling"))

  /** Interpolated KNESER-NEY bigram language model (Kneser & Ney 1995;
    * the fixed-discount form of Chen & Goodman 1999, D = 0.75) — the
    * standard n-gram smoothing, and the classic demonstration of why:
    * the continuation probability P_cont(w₂) = N₁₊(·w₂)/N₁₊(··) counts
    * how many DISTINCT contexts precede w₂, so "Francisco" (frequent
    * but only ever after "San") scores low where raw unigram backoff
    * would score it high. P_kn(w₂|w₁) = max(c−D,0)/c(w₁·) +
    * D·N₁₊(w₁·)/c(w₁·) · P_cont(w₂).
    *
    * Scale shape: one bigram explode → the observed-bigram count table
    * (≤ corpus token count rows); every KN statistic is a keyed
    * aggregate OF that table (c(w₁·) and N₁₊(w₁·) by w₁, N₁₊(·w₂) by
    * w₂, N₁₊(··) one row) — the corpus is scanned once. The gated
    * output is the top-`topN` bigrams (count desc, then lexicographic
    * — a deterministic total order) with their integer counts and the
    * 6-dp-rounded fixed-order-double P_kn; the tiny top-N side is what
    * broadcasts into the statistic joins. */
  def knBigramLm(
      docs: DataFrame,
      textCol: String = "text",
      topN: Int = 50,
      discountCenti: Int = 75): DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    require(discountCenti >= 0 && discountCenti <= 100,
      "discountCenti must be in [0, 100]")
    val d = discountCenti.toDouble / 100.0
    val g = Par.fanOut(docs.select(col(textCol)))
      .select(explode(tokenWindows(col(textCol), 2)).as("g"))
      .filter(col("g").contains(" ")) // drop the 1-token-doc truncated gram
      .select(substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"))
    val c = g.groupBy("w1", "w2").agg(count(lit(1)).as("c_big"))
    val cw1 = c.groupBy("w1")
      .agg(sum(col("c_big")).as("c_w1"), count(lit(1)).as("n1p_w1"))
    val cw2 = c.groupBy("w2").agg(count(lit(1)).as("n1p_w2"))
    val tot = c.agg(count(lit(1)).as("n1p_all"))
    val top = c.orderBy(col("c_big").desc, col("w1").asc, col("w2").asc)
      .limit(topN)
    cw2.join(broadcast(cw1.join(broadcast(top), "w1")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c_big"), col("c_w1"),
        round(
          greatest(col("c_big") - lit(d), lit(0.0d)) / col("c_w1") +
            lit(d) * col("n1p_w1") / col("c_w1") *
              (col("n1p_w2").cast("double") / col("n1p_all")), 6).as("p_kn"))
  }

  /** WINNOWING fingerprints (Schleimer–Wilkerson–Aiken 2003, the MOSS
    * algorithm): per document, the positional k-token gram hashes, a
    * sliding window of `w` consecutive hashes, and from each window
    * the minimum hash (rightmost on ties — the original paper's rule,
    * which maximizes fingerprint reuse across overlapping windows);
    * the distinct selected (position, hash) pairs are the document's
    * fingerprints. Winnowing's guarantee — any shared run of
    * w + k − 1 tokens between two documents yields at least one
    * SHARED fingerprint — is what makes it the standard local
    * plagiarism/overlap sketch, denser than one global min
    * ([[fingerprints]]'s fp_rolling) but far sparser than all grams.
    *
    * Scale shape: winnowing is per-document LOCAL, and the plan says
    * so — the gram keys, the per-window minima, and the distinct
    * selection are all higher-order array functions inside one
    * map-side projection (grams bind once per row via
    * [[graft.functions.TextFunctions.tokenWindows]]); the only
    * exchange in the plan is whatever consumes the output. The
    * min-with-rightmost-tie selection rides a single string key
    * (15-hex-char 60-bit md5 gram hash ++ zero-padded DESCENDING
    * position), so one `array_min` per window implements the full tie
    * rule; documents shorter than w grams contribute their single
    * truncated window (pos 0).
    *
    * Bound contract: the combined key encodes the position as
    * lpad(9999999 − i, 7), so a document past 10⁷ grams would produce
    * negative, misordered suffixes and a downstream cast error — the
    * guard FAILS FAST at size(grams) ≥ 10⁷ with the pre-split escape
    * route (the [[graft.operators.Corpus.rendezvousShards]]
    * nShards ≤ 9999 contract style). 10⁷ whitespace tokens is a
    * ≥ 50 MB single document — over any sane per-doc size cap. */
  def winnowing(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 5,
      w: Int = 4): DataFrame = {
    val arr = Par.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        graft.functions.TextFunctions.tokenWindows(col(textCol), k).as("gs"))
    val keyed = arr.select(col(idCol),
      transform(col("gs"), (g, i) =>
        concat(substring(md5(g), 1, 15),
          lpad((lit(9999999) - i).cast("string"), 7, "0"))).as("keys"))
    // bind the key array ONCE via the single-element outer transform
    // (the shingles trick): projection collapse would otherwise inline
    // `keys` into every window's slice — O(grams²) md5 re-evaluation
    // fence: Generate's implicit non-empty pre-filter would otherwise
    // inline this whole md5 pipeline and evaluate it twice per row
    val sel = keyed.select(col(idCol),
      graft.functions.OptimizerFence.fence(
        array_distinct(transform(array(col("keys")), ks =>
          when(size(ks) < lit(10000000),
            transform(
              sequence(lit(0), greatest(size(ks) - w, lit(0))),
              s => array_min(slice(ks, s + 1, lit(w)))))
            .otherwise(raise_error(concat(
              lit("winnowing: document "), col(idCol).cast("string"),
              lit(" has "), size(ks).cast("string"),
              lit(" grams >= 1e7 - the 7-digit positional key pad would" +
                " misorder; pre-split the document"))))).getItem(0))).as("fps"))
    sel.select(col(idCol), explode(col("fps")).as("wk"))
      .select(col(idCol),
        (lit(9999999) - substring(col("wk"), 16, 7).cast("int"))
          .cast("int").as("fp_pos"),
        substring(col("wk"), 1, 15).as("fp"))
  }

  /** Flesch-style readability profile per document (the grade-level
    * curation dial: training mixes tune on it, and it flags both
    * word-salad and legalese): whitespace words, sentence count
    * (terminal-punctuation runs, floored at 1), syllable estimate
    * (vowel-group runs per word — the standard cheap proxy), and the
    * Flesch reading-ease score 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words). All three counts are integers from RE2
    * regex scans (cross-engine exact); the score is fixed-order double
    * arithmetic rounded to 4 dp. Map-side only — scan-speed, like
    * every scorer here. */
  def readability(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val words = size(tokens(t))
    val sentences = greatest(
      size(regexp_extract_all(t, lit("[.!?]+"), lit(0))), lit(1))
    // vowel-group runs over the lower-cased text ≈ syllables; every
    // word contributes at least the one syllable `greatest` enforces
    // at the aggregate level via the word floor
    val syllables = greatest(
      size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0))), words)
    val score = lit(206.835d) -
      lit(1.015d) * (words.cast("double") / sentences.cast("double")) -
      lit(84.6d) * (syllables.cast("double") / words.cast("double"))
    Par.fanOut(docs.select(col(idCol), col(textCol)))
      .filter(words > 0)
      .select(col(idCol),
        words.cast("int").as("n_words"),
        sentences.cast("int").as("n_sentences"),
        syllables.cast("int").as("n_syllables"),
        round(score, 4).as("flesch"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): corpus-level
    * top-`k` keywords by PageRank over the word co-occurrence graph —
    * content tokens (≥ `minTokenLen` chars, non-stopword) co-occurring
    * within `window` original token positions, edge weight = corpus
    * co-occurrence count, ranks from the weighted PageRank engine.
    *
    * Pure composition: the token stream explodes ONCE; the window join
    * is an equi-join on (doc, pos+offset) — `window` constant fanout,
    * never a per-document quadratic; the aggregated word graph (≤
    * vocab² but sparse in practice) symmetrizes into
    * [[Graph.pageRankDirected]], whose scratch-loop/dangling-mass
    * discipline carries over unchanged — words are just another node
    * type (ids stay STRINGS end-to-end; nothing in the rank loop needs
    * numeric ids). This is the warehouse-native form of the reference
    * destination's project-then-rank round trip, on a derived graph. */
  def textRankKeywords(
      docs: DataFrame,
      window: Int = 2,
      minTokenLen: Int = 3,
      iters: Int = 3,
      damping: Double = 0.85,
      k: Int = 30,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val tk = docs
      .select(col(idCol).as("doc"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .filter(length(col("tok")) >= minTokenLen &&
        !col("tok").isin(Stopwords: _*))
    val offsets = array((1 to window).map(lit): _*)
    val a = tk.select(col("doc"), col("pos"), col("tok").as("ta"),
      explode(offsets).as("o"))
      .withColumn("ppos", col("pos") + col("o"))
    val b = tk.select(col("doc"), col("pos").as("ppos"), col("tok").as("tb"))
    val edges = a.join(b, Seq("doc", "ppos"))
      .filter(col("ta") =!= col("tb"))
      .select(least(col("ta"), col("tb")).as("src"),
        greatest(col("ta"), col("tb")).as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("double").as("weight"))
    val sym = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
    Graph.pageRankDirected(sym, iters = iters, damping = damping,
        weightCol = Some("weight"))
      .orderBy(round(col("rank"), 6).desc, col("node"))
      .select(col("node").as("token"), round(col("rank"), 6).as("rank"))
      .limit(k)
  }

  /**
   * Unigram-LM (SentencePiece-style) tokenizer vocabulary learning
   * (Kudo 2018, "Subword Regularization") — the second of the two
   * tokenizers real pipelines train, next to [[bpeMerges]]: seed a
   * candidate vocabulary with corpus substrings, then run EM rounds
   * where the E-step computes each piece's EXPECTED count over ALL
   * segmentations of every word (forward-backward, not Viterbi — no
   * argmax path ever materializes) and the M-step renormalizes, with
   * the vocabulary pruned to the `keepMulti` highest-expectation
   * multi-char pieces after each round (single chars are never pruned,
   * so every word stays segmentable).
   *
   * Determinism discipline: the α/β dynamic programs are per-row
   * `aggregate` folds over word positions — FIXED evaluation order, so
   * both engines chain the identical IEEE multiply/adds bit-for-bit;
   * probabilities are 12-dp-rounded ratios of exact aggregates with a
   * 1e-12 floor (a piece can never round to an unsegmentable 0);
   * per-occurrence expectations are 12-dp terms summed as
   * DECIMAL(38,12) (summation-order-exact), and pruning compares those
   * exact decimals with a piece-id tie-break. Words longer than
   * `maxWordLen` are excluded from training (the standard rare-long-
   * word trimming; bounds the DP arrays).
   *
   * Scale shape per EM round: one (word-substring × vocab) equi-join
   * collapsed to a per-word piece→prob MAP (word-length×L entries —
   * bounded), the DP as pure map-side lambdas, one occurrence explode
   * (≤ n·L rows per word) into a piece-keyed aggregate, one 1-row
   * total, one vocab-sized top-k. The corpus is scanned ONCE into the
   * word table; rounds cost vocabulary+word-table size, never corpus
   * size (the [[bpeMerges]] property).
   */
  def unigramLmVocab(
      docs: DataFrame,
      seedMulti: Int = 150,
      keepMulti: Int = 100,
      emRounds: Int = 2,
      maxPieceLen: Int = 4,
      maxWordLen: Int = 12,
      textCol: String = "text"): DataFrame = {
    import graft.ops.Scratch
    require(emRounds >= 1, "emRounds must be >= 1")
    require(seedMulti >= keepMulti && keepMulti >= 1,
      "need seedMulti >= keepMulti >= 1")
    require(maxPieceLen >= 2 && maxWordLen >= maxPieceLen,
      "need maxWordLen >= maxPieceLen >= 2")
    val spark = docs.sparkSession
    val L = maxPieceLen
    val (words, wordsPath) = Scratch.materializeAt(
      Par.fanOut(docs.select(col(textCol)))
        .select(explode(tokens(col(textCol))).as("word"))
        .filter(length(col("word")) >= 1 && length(col("word")) <= maxWordLen)
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .withColumn("n", length(col("word")).cast("int")),
      "ulm_words")
    // every (start, len) substring occurrence, one explode
    def withOcc(df: DataFrame): DataFrame = df.select(df.columns.map(col) :+
      explode(flatten(transform(
        sequence(lit(1), col("n")),
        j => transform(sequence(lit(1), least(lit(L), col("n") - j + 1)),
          k => struct(j.as("s"), k.as("k")))))).as("o"): _*)
    val occ = withOcc(words)
      .select(col("word"), col("cnt"), col("n"), col("o.s").as("s"),
        col("o.k").as("k"),
        col("word").substr(col("o.s"), col("o.k")).as("piece"))
    // integer-exact occurrence-weighted seed counts. Pinned (or scratch
    // past the Pin gate) BEFORE the single-char/top-k union: left lazy,
    // both union branches re-run the occurrence explode + aggregate —
    // one full pass wasted (§1.2). Same below for each round's ec.
    val (seedCounts, seedPath) = graft.ops.Pin.stateAt(
      occ.groupBy(col("piece")).agg(sum(col("cnt")).as("c0")), "ulm_seed")
    val seed = seedCounts.filter(length(col("piece")) === 1)
      .unionByName(seedCounts.filter(length(col("piece")) > 1)
        .orderBy(col("c0").desc, col("piece").asc).limit(seedMulti))
    // the vocabulary state is keepMulti + |chars| rows — driver-pinned
    // per round (enforced row/byte gate). Past the gate each round's
    // scratch tables are dropped as soon as the next state is written,
    // so only the returned vocabulary's table outlives the call.
    var (vocab, vocabPath) = graft.ops.Pin.stateAt(
      seed.crossJoin(broadcast(seed.agg(sum(col("c0")).as("tot"))))
        .select(col("piece"),
          greatest(
            round(col("c0").cast("double") / col("tot").cast("double"), 12),
            lit(1e-12d)).as("p"),
          lit(null).cast("decimal(38,12)").as("ec")),
      "ulm_vocab")
    Scratch.drop(spark, seedPath)
    for (_ <- 1 to emRounds) {
      // per-word piece→prob map (word-length×L entries, bounded)
      val pm = occ.select(col("word"), col("piece")).distinct()
        .join(vocab.select(col("piece"), col("p")), Seq("piece"))
        .groupBy(col("word"))
        .agg(map_from_entries(collect_list(struct(col("piece"), col("p"))))
          .as("pm"))
      def pOf(pc: Column) =
        coalesce(try_element_at(col("pm"), pc), lit(0.0d))
      // α[i] = P(prefix of length i); array element m holds α[m−1]
      val alpha = aggregate(
        sequence(lit(1), col("n")),
        array(lit(1.0d)),
        (acc, i) => concat(acc, array(
          (1 to L).map(k =>
            when(i >= k,
              element_at(acc, (i - k + 1).cast("int")) *
                pOf(col("word").substr(i - k + 1, lit(k))))
              .otherwise(lit(0.0d))).reduce(_ + _))))
      // β[i] = P(suffix from i), folded n−1 → 0; element m holds β[n−m+1]
      val brev = aggregate(
        sequence(col("n") - 1, lit(0), lit(-1)),
        array(lit(1.0d)),
        (acc, i) => concat(acc, array(
          (1 to L).map(k =>
            when(i + lit(k) <= col("n"),
              pOf(col("word").substr(i + 1, lit(k))) *
                element_at(acc, (col("n") - i - k + 1).cast("int")))
              .otherwise(lit(0.0d))).reduce(_ + _))))
      val st = words.join(pm, Seq("word"))
        .select(col("word"), col("cnt"), col("n"), col("pm"),
          alpha.as("alpha"), brev.as("brev"))
      val terms = withOcc(st)
        .select(col("cnt"), col("n"), col("pm"), col("alpha"), col("brev"),
          col("o.s").as("s"), col("o.k").as("k"),
          col("word").substr(col("o.s"), col("o.k")).as("piece"))
        .select(col("piece"),
          pOf(col("piece")).as("p"),
          round(col("cnt").cast("double") *
            element_at(col("alpha"), col("s").cast("int")) *
            pOf(col("piece")) *
            element_at(col("brev"),
              (col("n") - col("s") - col("k") + 2).cast("int")) /
            element_at(col("alpha"), (col("n") + 1).cast("int")), 12)
            .as("term"))
        .filter(col("p") > 0.0d)
      // ec pinned FIRST: the total, both keep branches, and the next
      // vocab state all read the (vocab-sized) expectation table — left
      // lazy, each reader re-runs the forward-backward explode over the
      // whole word table (the expensive subtree of the round)
      val (ec, ecPath) = graft.ops.Pin.stateAt(
        terms.groupBy(col("piece"))
          .agg(sum(col("term").cast("decimal(38,12)")).as("ec")), "ulm_ec")
      val scored = ec
        .crossJoin(broadcast(ec.agg(sum(col("ec")).as("tot"))))
        .select(col("piece"), col("ec"),
          greatest(
            round(col("ec").cast("double") / col("tot").cast("double"), 12),
            lit(1e-12d)).as("p"))
      val kept = scored.filter(length(col("piece")) === 1)
        .unionByName(scored.filter(length(col("piece")) > 1)
          .orderBy(col("ec").desc, col("piece").asc).limit(keepMulti))
      val (next, nextPath) = graft.ops.Pin.stateAt(
        kept.select(col("piece"), col("p"), col("ec")), "ulm_vocab")
      Scratch.drop(spark, ecPath)
      Scratch.drop(spark, vocabPath)
      vocab = next; vocabPath = nextPath
    }
    Scratch.drop(spark, wordsPath)
    vocab.select(col("piece"), length(col("piece")).cast("int").as("piece_len"),
      col("p").as("prob"), round(col("ec").cast("double"), 6).as("expected_count"))
  }

  /**
   * Encode the corpus with a learned unigram-LM vocabulary
   * ([[unigramLmVocab]]'s output, or any `(piece, prob)` frame): per
   * document, the whitespace token count and the piece count of each
   * word's VITERBI (max-probability) segmentation — the token-budget
   * arithmetic a pipeline runs with its real SentencePiece model (the
   * [[bpeEncodeCounts]] companion for the other tokenizer family).
   *
   * The Viterbi DP is a per-row `aggregate` fold over word positions
   * carrying (best score, piece count) pairs; candidates are compared
   * by (score desc, count asc, shorter-last-piece first) with EXACT
   * double equality on ties — both engines chain identical IEEE
   * multiplies in the same order, so the chosen segmentation is
   * bit-reproducible (the [[unigramLmVocab]] discipline). A word
   * containing a piece-less span (no vocab char — cannot happen when
   * encoding the training corpus) yields a null count rather than a
   * fabricated one.
   *
   * Scale shape: vocabulary joined to the distinct word table once
   * (piece→prob maps bounded by word length × `maxPieceLen`), DP as
   * map-side lambdas, one join back to the per-document word stream —
   * corpus scanned twice total, never per piece.
   */
  def unigramEncodeCounts(
      docs: DataFrame,
      vocab: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxPieceLen: Int = 4): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType,
      StructField, StructType}
    val L = maxPieceLen
    val words = graft.ops.Par.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
    val distinctWords = words.select(col("word")).distinct()
      .withColumn("n", length(col("word")).cast("int"))
    // per-word piece→prob map from the word's own substrings
    val wordPieces = distinctWords.select(col("word"), col("n"),
      explode(flatten(transform(
        sequence(lit(1), col("n")),
        j => transform(sequence(lit(1), least(lit(L), col("n") - j + 1)),
          k => struct(j.as("s"), k.as("k")))))).as("o"))
      .select(col("word"),
        col("word").substr(col("o.s"), col("o.k")).as("piece"))
      .distinct()
    val pm = wordPieces
      .join(vocab.select(col("piece"), col("prob").as("p")), Seq("piece"))
      .groupBy(col("word"))
      .agg(map_from_entries(collect_list(struct(col("piece"), col("p"))))
        .as("pm"))
    def pOf(pc: Column) =
      coalesce(try_element_at(col("pm"), pc), lit(0.0d))
    val cellType = StructType(Seq(
      StructField("sc", DoubleType), StructField("ct", LongType)))
    def cell(sc: Column, ct: Column) = struct(sc.as("sc"), ct.as("ct"))
    // better(a, b): higher score wins; exact ties prefer fewer pieces,
    // then the earlier candidate (shorter last piece — fold order)
    def better(a: Column, b: Column): Column =
      when(b.getField("sc") > a.getField("sc") ||
        (b.getField("sc") === a.getField("sc") &&
          b.getField("ct") < a.getField("ct")), b).otherwise(a)
    val dp = aggregate(
      sequence(lit(1), col("n")),
      array(cell(lit(1.0d), lit(0L))).cast(ArrayType(cellType)),
      (acc, i) => concat(acc, array(
        (1 to L).map { k =>
          when(i >= k,
            cell(
              element_at(acc, (i - k + 1).cast("int")).getField("sc") *
                pOf(col("word").substr(i - k + 1, lit(k))),
              element_at(acc, (i - k + 1).cast("int")).getField("ct") + 1L))
            .otherwise(cell(lit(-1.0d), lit(0L)))
        }.reduce(better))))
    val counted = distinctWords.join(pm, Seq("word"))
      .select(col("word"),
        element_at(dp, (col("n") + 1).cast("int")).as("best"))
      .select(col("word"),
        when(col("best.sc") > 0.0d, col("best.ct")).as("n_pieces"))
    words.join(counted, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens_ws"),
        sum(col("n_pieces")).as("n_tokens_unigram"))
  }

  /**
   * Corpus-wide LINE-level deduplication (the CCNet §4.1 paragraph-
   * dedup stage, FineWeb's line-wise filter): boilerplate lines —
   * navigation, cookie banners, license headers — repeat across
   * thousands of pages; each distinct (normalized) line keeps exactly
   * ONE occurrence corpus-wide, the minimum (doc, line-index) under
   * the total order, and every other copy is dropped from its
   * document. The dedup grain between whole-document exact dedup and
   * token-window span flags ([[Dedup.spanDuplicates]]).
   *
   * Per document: surviving text (original line order), line counts
   * kept/total. Determinism: first-occurrence selection is a pure
   * (doc_id, idx) struct-min — no timestamps, no partition order.
   *
   * Scale shape: one line explode, ONE hash-keyed min aggregate
   * (two-phase, map-side partials), one join back on the hash, one
   * doc-keyed rebuild aggregate — two keyed shuffles total, no
   * windows. The rebuild collects only each doc's OWN lines
   * (document-sized arrays, the same bound as the text itself).
   */
  /**
   * Reciprocal-rank fusion (Cormack et al. 2009) — the standard hybrid-
   * retrieval combiner: given ranked candidate lists from heterogeneous
   * retrievers (BM25 lexical, embedding-cosine semantic, …), score each
   * id Σ 1/(kRrf + rank_i) over the lists it appears in and keep the
   * fused top-k. Rank-space fusion needs no score calibration across
   * retrievers — exactly why it's the production default for
   * lexical+vector search.
   *
   * Inputs are (id, rank) frames — each already truncated to its own
   * top-N, so every frame is N rows and the whole fusion is
   * constant-sized regardless of corpus scale. Determinism: each
   * 1/(kRrf+rank) term is one IEEE division rounded to 12 dp and
   * summed under DECIMAL(28,12) (order-exact), final order
   * (rrf DESC, id ASC).
   */
  def rrfFuse(
      lists: Seq[DataFrame],
      kRrf: Int = 60,
      topK: Int = 20): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val u = lists.map(df =>
        df.select(col("id"),
          round(lit(1.0d) / (lit(kRrf) + col("rank")), 12).cast(dec).as("c")))
      .reduce(_ unionByName _)
    u.groupBy(col("id"))
      .agg(count(lit(1)).as("n_lists"), sum(col("c")).as("rrf"))
      .orderBy(col("rrf").desc, col("id").asc)
      .limit(topK)
      .select(col("id"), col("n_lists"),
        round(col("rrf").cast("double"), 9).as("rrf"))
  }

  /**
   * Boilerplate LINE stripping by document frequency — the companion
   * policy to [[lineDedup]]: where line-dedup keeps the FIRST copy of
   * every repeated line, boilerplate-strip removes ALL copies of any
   * (normalized) line appearing in at least `minDf` distinct documents
   * — navigation chrome, cookie banners and license headers are noise
   * in every document they touch, including the first (the CCNet/
   * RefinedWeb line-filter distinction). Lines under the threshold
   * keep every occurrence.
   *
   * Same shape as [[lineDedup]]: one line explode, one hash-keyed
   * distinct-doc count (two-phase), one join back, one doc-keyed
   * rebuild — two keyed shuffles, no windows.
   */
  def boilerplateStrip(
      docs: DataFrame,
      minDf: Long = 3L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minDf >= 2L, "minDf must be >= 2 (1 would strip everything)")
    val lines = Par.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "line")))
      .withColumn("h", md5(trim(lower(col("line")))))
    val df = lines.groupBy(col("h"))
      .agg(count_distinct(col("id")).as("df"))
    lines.join(df, Seq("h"))
      .withColumn("keep", col("df") < minDf)
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("idx"), col("line"))))),
            x => x.getField("line")),
          "\n").as("text_clean"))
  }

  def lineDedup(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lines = Par.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "line")))
      .withColumn("h", md5(trim(lower(col("line")))))
    val first = lines.groupBy(col("h"))
      .agg(min(struct(col("id"), col("idx"))).as("f"))
    lines.join(first, Seq("h"))
      .withColumn("keep",
        col("f.id") === col("id") && col("f.idx") === col("idx"))
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("idx"), col("line"))))),
            x => x.getField("line")),
          "\n").as("text_clean"))
  }

  /**
   * Calibration report between a [0,1] quality score and a boolean
   * outcome — the reliability-diagram table every model-based filter
   * ([[hashedLinearScores]], the heuristic `quality` in [[textStats]])
   * gets checked against before its threshold is trusted: rows land in
   * ten fixed score bins, each bin emits its size, mean score
   * (predicted rate) and empirical positive rate. A calibrated scorer
   * tracks the diagonal; the gap per bin is the actionable readout.
   *
   * Determinism: bin = floor(score·10) clamped to 9 (scores are
   * 6-dp-rounded upstream, the multiply/floor are single IEEE ops);
   * mean score is an exact DECIMAL(28,6) sum over 6-dp values divided
   * once; the rate is one integer division. ONE keyed aggregate.
   */
  def calibrationReport(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String): DataFrame =
    scored
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(
        greatest(least(floor(col(scoreCol).cast("double") * 10.0d),
          lit(9.0d)), lit(0.0d)).cast("long").as("bin"),
        col(scoreCol).cast("double").as("score"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("y")).as("n_pass"),
        sum(round(col("score"), 6)
          .cast(org.apache.spark.sql.types.DecimalType(28, 6))).as("ssum"))
      .select(col("bin"), col("n"), col("n_pass"),
        round(col("ssum").cast("double") / col("n").cast("double"), 6)
          .as("mean_score"),
        round(col("n_pass").cast("double") / col("n").cast("double"), 6)
          .as("pass_rate"))

  /**
   * Vocabulary-coverage estimators over the token count-of-counts —
   * the "how much vocabulary have we NOT seen yet" readout a tokenizer
   * training run checks before freezing its vocab:
   *
   *  - Good–Turing unseen mass N₁/N (Good 1953): the probability the
   *    NEXT token drawn is a previously-unseen type — the leave-one-out
   *    estimate from the singleton count;
   *  - coverage = 1 − N₁/N, the mass the current vocab explains;
   *  - Chao1 richness D + N₁(N₁−1)/(2(N₂+1)) (Chao 1984,
   *    bias-corrected form — defined even when no doubletons exist):
   *    a lower bound on the TRUE type count including unseen types.
   *
   * One token explode + one keyed count + one global aggregate; every
   * input to the three estimates is an exact integer, the divisions
   * are single IEEE double ops on bit-identical operands, 6-dp-rounded.
   */
  def vocabCoverage(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("c"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("n_tokens"), col("n_distinct"), col("n1"), col("n2"),
        round(col("n1").cast("double") / col("n_tokens").cast("double"), 6)
          .as("gt_unseen_mass"),
        round(lit(1.0d) -
          col("n1").cast("double") / col("n_tokens").cast("double"), 6)
          .as("coverage"),
        round(col("n_distinct").cast("double") +
          (col("n1").cast("double") * (col("n1") - 1L).cast("double")) /
            (lit(2.0d) * (col("n2") + 1L).cast("double")), 6)
          .as("chao1"))
}
