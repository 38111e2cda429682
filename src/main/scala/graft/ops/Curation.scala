package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for LLM training-data pipelines:
  *
  *  - DSIR-style hashed n-gram importance resampling (Xie et al. 2023,
  *    "Data Selection for Language Models via Importance Resampling"):
  *    score every raw-pool document by how target-like its hashed
  *    unigram+bigram feature distribution is, select the top scorers.
  *  - BPE merge-rule training (Sennrich et al. 2016) over the corpus
  *    word-frequency dictionary.
  *  - DoReMi-flavoured domain mixture reweighting (sqrt-tempered target
  *    share) with a deterministic content-hash stratified sampler.
  *
  * Cross-engine determinism (the repo-wide rule): all hashing is
  * polynomial arithmetic mod 2^31-1, all counts are integer aggregates
  * (order-free), and every float reduction is an explicit left-fold in
  * array order so the DuckDB oracle replays bit-identical arithmetic.
  * DSIR log-ratios are quantized to integer 2^-14-nat units
  * (`floor(16384*ln r)` as BIGINT) so per-document weights are exact
  * integer sums — same theme as [[Similarity.quantizedKmeans]]: the one
  * non-correctly-rounded primitive (ln) is fenced behind a single
  * per-bucket quantization instead of appearing in every per-doc sum.
  *
  * Scale notes:
  *  - DSIR: two corpus passes (bucket histograms = one integer
  *    hash-aggregate each), then a per-row fold against a broadcast
  *    2^b-entry log-ratio array — no shuffle on the scoring pass, and
  *    the selection is a top-k (partial per partition, final k on one
  *    node), never a full sort.
  *  - BPE: the corpus collapses to its word dictionary in ONE
  *    hash-aggregate (the only corpus-sized shuffle); every merge
  *    iteration then runs on the dictionary (|vocab| rows, ~millions at
  *    100 TB — trivially small next to the corpus), checkpointed per
  *    step so lineage stays flat.
  *  - domainMixture: per-source integer token totals (one aggregate);
  *    the float normalization folds a sorted per-source array on one
  *    row — 20 sources or 20k, never corpus-sized.
  */
object Curation {
  /** Hashed n-gram feature buckets of a document: unigrams then bigrams,
    * in text order (the fold order every weight sum uses), polynomial
    * hash mod `numBuckets`. Native one-pass kernel
    * ([[graft.functions.FeatureBucketsExpr]]); [[featureBucketsHof]] is
    * the HOF reference formulation it is cross-validated against. */
  def featureBuckets(text: Column, numBuckets: Int): Column =
    graft.functions.F.featureBuckets(text, numBuckets)

  /** HOF reference formulation of [[featureBuckets]] — same values, kept
    * for NativeExprSpec cross-validation (the DuckDB oracle replays this
    * form). */
  def featureBucketsHof(text: Column, numBuckets: Int): Column = {
    val toks = TextOps.tokens(text)
    val bigrams = when(size(toks) < 2, typedLit(Array.empty[String]))
      .otherwise(transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
    transform(concat(toks, bigrams), g => TextOps.polyHash(g) % numBuckets)
  }

  /** STANDING DSIR index: dense per-bucket target/raw feature counts
    * `(b, tc, rc)` for b in 0..numBuckets-1. Pure integer histograms,
    * so the fold ([[refreshDsirIndex]]) is exact addition — index built
    * batch-by-batch equals index built at once, under the differential
    * oracle (q107). This is the artifact a fleet persists between
    * crawl batches; corpus text is never re-read to score new docs. */
  def dsirIndex(target: DataFrame, raw: DataFrame, textCol: String,
      numBuckets: Int = 512): DataFrame = {
    val spark = target.sparkSession
    def counts(df: DataFrame, as: String) = df
      .select(explode(featureBuckets(col(textCol), numBuckets)).as("b"))
      .groupBy("b").agg(count(lit(1)).as(as))
    spark.range(numBuckets).select(col("id").as("b"))
      .join(counts(target, "tc"), Seq("b"), "left")
      .join(counts(raw, "rc"), Seq("b"), "left")
      .select(col("b"), coalesce(col("tc"), lit(0L)).as("tc"),
        coalesce(col("rc"), lit(0L)).as("rc"))
  }

  /** Bucket width recorded in a standing DSIR index (dense by
    * construction — one small probe job over numBuckets rows). */
  def numBucketsOf(index: DataFrame): Int =
    index.agg(max(col("b"))).head().getLong(0).toInt + 1

  /** Fold new target/raw batches into a standing DSIR index: compute
    * the batches' histograms at the index's own width and ADD. Integer
    * sums — any fold order yields the identical artifact. */
  def refreshDsirIndex(index: DataFrame, targetBatch: DataFrame,
      rawBatch: DataFrame, textCol: String): DataFrame = {
    val delta = dsirIndex(targetBatch, rawBatch, textCol, numBucketsOf(index))
    index.unionByName(delta).groupBy("b")
      .agg(sum(col("tc")).as("tc"), sum(col("rc")).as("rc"))
  }

  /** Per-bucket quantized log importance ratios from a standing index:
    * `floor(16384 * ln( p_target(b) / p_raw(b) ))` with add-one
    * smoothing, one row per bucket (`b`, `w`). Totals are derived
    * in-plan from the index itself (dense zeros add nothing). */
  def dsirLogRatios(index: DataFrame): DataFrame = {
    val tots = index.agg(sum(col("tc")).as("tn"), sum(col("rc")).as("rn"),
      (max(col("b")) + 1).as("nb"))
    index.crossJoin(broadcast(tots))
      .select(col("b"), expr(
        """cast(floor(16384.0 * ln(
          |  (cast(tc + 1 as double) / (tn + nb)) /
          |  (cast(rc + 1 as double) / (rn + nb))
          |)) as bigint)""".stripMargin).as("w"))
  }

  /** Score `docs` against a standing DSIR index and keep the `topK`
    * most target-like: integer sum of each doc's features' quantized
    * log-ratios. Output `(rank, <idCol>, weight_q)` — weight_q in
    * 2^-14-nat units. The log-ratio array rides to executors as ONE
    * broadcast row; the scoring pass is shuffle-free and the selection
    * is a top-k (partial per partition), never a full sort. */
  def dsirScoreFromIndex(index: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, topK: Int = 100): DataFrame =
    scoreWith(index, numBucketsOf(index), docs, textCol, idCol, topK)

  /** Every `docs` row with its quantized DSIR weight appended
    * (`weight_q`, 2^-14-nat units) — the threshold form an ingest gate
    * filters on, as opposed to the top-k selection. Shuffle-free: one
    * broadcast log-ratio row, one map pass. */
  def dsirScores(index: DataFrame, docs: DataFrame, textCol: String,
      idCol: String): DataFrame =
    scoredPool(index, numBucketsOf(index), docs, textCol)
      .drop("fs")

  /** Scoring body with the width already known — [[dsirSelect]] passes
    * the width it just built with instead of probing the in-memory fold
    * chain (a numBucketsOf probe would recompute BOTH corpus
    * histograms; see the q100 lesson in PERF.md). */
  private def scoreWith(index: DataFrame, nb: Int, docs: DataFrame,
      textCol: String, idCol: String, topK: Int): DataFrame =
    scoredPool(index, nb, docs, textCol)
      .orderBy(col("weight_q").desc, col(idCol))
      .limit(topK)
      // single-partition window BOUNDED BY THE limit ABOVE (<= topK
      // rows reach it). Spark 4 folds any constant partitionBy key
      // back to an empty partition spec, so WindowExec's warning
      // cannot be silenced at the site — Verify/Bench demote that
      // logger instead, with this audit note
      .select(row_number().over(
          Window.orderBy(col("weight_q").desc, col(idCol))).as("rank"),
        col(idCol), col("weight_q"))

  /** Pool with `weight_q` (and the transient `fs` feature column)
    * appended — shared body of the top-k and threshold scoring forms. */
  private def scoredPool(index: DataFrame, nb: Int, docs: DataFrame,
      textCol: String): DataFrame = {
    val lrArr = dsirLogRatios(index)
      .agg(transform(array_sort(collect_list(struct(col("b"), col("w")))),
        p => p("w")).as("ws"))
    docs.crossJoin(broadcast(lrArr))
      .withColumn("fs", featureBuckets(col(textCol), nb))
      .withColumn("weight_q", expr(
        "aggregate(fs, cast(0 as bigint), (a, f) -> a + element_at(ws, cast(f + 1 as int)))"))
      .drop("ws")
  }

  /** One-shot DSIR selection (Xie et al. 2023): build the target/raw
    * histogram index and score the whole `raw` pool against it. */
  def dsirSelect(target: DataFrame, raw: DataFrame, textCol: String,
      idCol: String, numBuckets: Int = 512, topK: Int = 100): DataFrame =
    scoreWith(dsirIndex(target, raw, textCol, numBuckets), numBuckets,
      raw, textCol, idCol, topK)

  /** Train `k` BPE merge rules over the corpus word-frequency dict.
    * Symbols are sentinel-prefixed (`|`) inside a joined string so a
    * pair pattern can only match at symbol boundaries; merge application
    * is left-to-right non-overlapping `replace` — standard greedy BPE.
    * Pair counts are exact integer sums weighted by word frequency
    * (overlapping occurrences all counted, as in reference BPE
    * implementations); ties break lexicographically.
    *
    * Output: one row per merge step — `(step, pair, merged, pair_count)`
    * with `pair` displayed as `left~right`.
    *
    * Scale boundary: the corpus→word-dict collapse is the ONE
    * Spark-sized shuffle; after it the dict is a bounded model artifact
    * (the vocabulary — like the merge list [[bpeEncode]] broadcasts).
    * The merge loop itself is inherently sequential (each rule changes
    * the pair counts the next rule is chosen from), so for k above
    * `sparkLoopMaxK` it runs over the COLLECTED dict on the driver —
    * a real 32k-merge vocab as k in-memory rounds, not k driver-
    * coordinated Spark jobs. Both paths compute identical rules (exact
    * weighted pair counts, UTF-8-binary lexicographic tie-break, same
    * left-to-right non-overlapping replace). */
  def bpeMerges(docs: DataFrame, textCol: String, k: Int,
      sparkLoopMaxK: Int = 16): DataFrame = {
    require(k >= 1, s"bpeMerges needs k >= 1 merges, got $k")
    val words = docs
      .select(explode(TextOps.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    if (k > sparkLoopMaxK) return bpeMergesOnDict(words, k)
    var cur = words
      .select(concat(lit("|"), array_join(split(col("word"), ""), "|"))
        .as("seq"), col("cnt"))
      .localCheckpoint()
    val steps = (1 to k).map { step =>
      val best = pairCounts(cur)
        .orderBy(col("pc").desc, col("pair"))
        .limit(1)
        .localCheckpoint()
      cur = cur.crossJoin(broadcast(best))
        .select(expr(
            "replace(seq, pair, concat('|', replace(substring(pair, 2), '|', '')))")
          .as("seq"), col("cnt"))
        .localCheckpoint()
      best.select(lit(step).as("step"),
        expr("replace(substring(pair, 2), '|', '~')").as("pair"),
        expr("replace(pair, '|', '')").as("merged"),
        col("pc").as("pair_count"))
    }
    steps.reduce(_ unionAll _)
  }

  /** Large-k BPE training over the collected word dict (see
    * [[bpeMerges]] scale boundary). The dict is the trainer's entire
    * working set — k rounds of pair-count + argmax + replace touch
    * nothing corpus-sized, so they run where a bounded artifact
    * belongs: in one JVM, not as 10^5 sequential Spark jobs. */
  private def bpeMergesOnDict(words: DataFrame, k: Int): DataFrame = {
    val spark = words.sparkSession
    // unsigned UTF-8 byte comparison — matches Spark's string ordering
    // (UTF8String binary compare), NOT Java's UTF-16 compareTo
    def utf8Less(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    var dict = words.collect().map { r =>
      ("|" + r.getString(0).split("").filter(_.nonEmpty).mkString("|"),
        r.getLong(1))
    }
    val steps = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val pc = scala.collection.mutable.HashMap.empty[String, Long]
      dict.foreach { case (seq, cnt) =>
        val toks = seq.substring(1).split("\\|", -1)
        var i = 1
        while (i < toks.length) {
          val p = "|" + toks(i - 1) + "|" + toks(i)
          pc.update(p, pc.getOrElse(p, 0L) + cnt)
          i += 1
        }
      }
      if (pc.isEmpty) exhausted = true // mirrors the empty limit(1)
      else {
        val (pair, n) = pc.foldLeft(("", -1L)) { case (b @ (bp, bn), c @ (cp, cn)) =>
          if (cn > bn || (cn == bn && utf8Less(cp, bp))) c else b
        }
        val merged = "|" + pair.substring(1).replace("|", "")
        dict = dict.map { case (s, c) => (s.replace(pair, merged), c) }
        steps += ((step, pair.substring(1).replace("|", "~"),
          pair.replace("|", ""), n))
        step += 1
      }
    }
    import spark.implicits._
    steps.result().toDF("step", "pair", "merged", "pair_count")
  }

  /** Encode documents with trained BPE merge rules ([[bpeMerges]]
    * output): per doc, whitespace-token count and the BPE symbol count
    * after applying every merge in training order. The ordered merge
    * list rides to executors as ONE broadcast row (a model artifact is
    * data, not driver state — no collect); each merge is its `|a|b`
    * pattern, the replacement re-derived as `|ab`. Output
    * `(<idCol>, n_tok, n_sym)`.
    *
    * Scale: per-row fold over k merges — embarrassingly parallel, zero
    * shuffle; the broadcast is k short strings. */
  def bpeEncode(docs: DataFrame, merges: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val marr = merges
      .agg(transform(array_sort(collect_list(struct(col("step"),
          concat(lit("|"), regexp_replace(col("pair"), "~", "\\|"))
            .as("pat")))),
        p => p("pat")).as("ms"))
    val toks = TextOps.tokens(col(textCol))
    docs.crossJoin(broadcast(marr))
      .select(col(idCol), size(toks).cast("long").as("n_tok"),
        expr(
          s"""aggregate(
            |  transform(filter(split($textCol, ' '), t -> t != ''),
            |    w -> aggregate(ms,
            |      concat('|', array_join(split(w, ''), '|')),
            |      (acc, m) -> replace(acc, m,
            |        concat('|', replace(substring(m, 2), '|', ''))))),
            |  cast(0 as bigint),
            |  (a, s) -> a + size(split(s, '\\\\|')) - 1)""".stripMargin)
          .as("n_sym"))
  }

  /** Adjacent-symbol pair counts over the sentinel-joined dict,
    * frequency-weighted. Pairs carry their sentinels (`|a|b`) so they
    * are directly usable as replace patterns. */
  private def pairCounts(dict: DataFrame): DataFrame =
    dict
      .withColumn("toks", expr("split(substring(seq, 2), '\\\\|')"))
      .withColumn("pairs", when(size(col("toks")) < 2,
          typedLit(Array.empty[String]))
        .otherwise(expr(
          """transform(sequence(1, size(toks) - 1),
            |  i -> concat('|', element_at(toks, i), '|', element_at(toks, i + 1)))"""
            .stripMargin)))
      .select(explode(col("pairs")).as("pair"), col("cnt"))
      .groupBy("pair").agg(sum(col("cnt")).as("pc"))

  /** Bigram-LM quality scoring (the CCNet-style perplexity filter):
    * train add-one-smoothed bigram conditionals on the corpus itself,
    * score every doc by its mean quantized SURPRISAL
    * `-floor(16384 * ln((c(w1,w2)+1)/(c(w1)+V)))` (positive — ratio is
    * strictly < 1 under add-one smoothing), and surface the `topK`
    * least predictable docs (quality outliers). Output
    * `(rank, <idCol>, n_big, score_q)` — score_q = integer-div mean in
    * 2^-14-nat units (exact under any partial-agg order; kept positive
    * so Spark's truncating `div` and DuckDB's flooring `//` agree).
    *
    * Scale: bigram counts are corpus-wide hash-aggregates; scoring is
    * an equi-join of doc bigrams against them (shuffle on the bigram
    * key — NOT broadcast; the bigram table grows with the corpus) and
    * one per-doc regroup. All integer sums after the fenced per-bigram
    * quantization. */
  def lmQuality(docs: DataFrame, textCol: String, idCol: String,
      topK: Int = 25): DataFrame =
    lmScores(docs, textCol, idCol)
      .orderBy(col("score_q").desc, col(idCol))
      .limit(topK)
      // single-partition window bounded by the limit above (<= topK
      // rows) — see the scoreWith audit note on why the WindowExec
      // warning is demoted in the mains rather than silenced here
      .select(row_number().over(
          Window.orderBy(col("score_q").desc, col(idCol))).as("rank"),
        col(idCol), col("n_big"), col("score_q"))

  /** Per-doc bigram-LM surprisal scores `(<idCol>, n_big, score_q)` for
    * every doc with >= 1 bigram — the threshold form a cleaning stage
    * filters on ([[lmQuality]] adds the top-k ranking). Same integer
    * discipline and plan shape as the ranked form. */
  def lmScores(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val docBig = docs
      .select(col(idCol), toks.as("ts"))
      .select(col(idCol), explode(when(size(col("ts")) < 2,
          typedLit(Array.empty[Array[String]]))
        .otherwise(transform(sequence(lit(1), size(col("ts")) - 1),
          i => array(element_at(col("ts"), i),
            element_at(col("ts"), i + 1))))).as("bg"))
      .select(col(idCol), col("bg")(0).as("w1"), col("bg")(1).as("w2"))
    val uni = docs.select(explode(toks).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val big = docBig.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    docBig
      .join(big, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol), expr(
        "-cast(floor(16384.0 * ln(cast(c2 + 1 as double) / (c1 + v))) as bigint)")
        .as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_big"),
        expr("sum(lp) div count(1)").as("score_q"))
  }

  /** DoReMi-flavoured domain mixture: per-source token totals, a
    * sqrt-tempered target share, and the per-source sampling rate (basis
    * points, capped at 10000) that realizes it under a global budget;
    * plus the deterministic content-hash sample actually drawn at that
    * rate. Output per source:
    * `(source, n_docs, tokens, rate_bp, n_sampled)`.
    *
    * The only float reduction (share normalization) folds a
    * source-sorted array on one row — exact-order deterministic. */
  def domainMixture(docs: DataFrame, textCol: String, idCol: String,
      srcCol: String, budgetBp: Int = 6000): DataFrame = {
    val tok = docs.select(col(srcCol).as("source"), col(idCol).as("id"),
      col(textCol).as("text"),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tok"))
    val wts = domainRates(docs, textCol, srcCol, budgetBp)
    val sel = tok.join(wts, Seq("source"))
      .filter(TextOps.polyHash(
          concat(col("text"), lit("|"), col("id").cast("string"))) % 10000
        < least(col("rate_bp"), lit(10000L)))
      .groupBy("source").agg(count(lit(1)).as("n_sampled"))
    wts.join(sel, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("tokens"), col("rate_bp"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
  }

  /** The per-source rate table `(source, n_docs, tokens, rate_bp)` of
    * [[domainMixture]] — the sampling-policy artifact a cleaning stage
    * joins (broadcast: one row per source) to draw the mixture with the
    * deterministic content-hash sampler. The only float reduction
    * (share normalization) folds a source-sorted array on one row —
    * exact-order deterministic. */
  def domainRates(docs: DataFrame, textCol: String, srcCol: String,
      budgetBp: Int = 6000): DataFrame = {
    val src = docs
      .select(col(srcCol).as("source"),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
    val tot = src.agg(sum(col("tokens")).as("tt"))
    val tempered = src.crossJoin(broadcast(tot))
      .withColumn("r", expr("sqrt(cast(tokens as double) / tt)"))
    val norm = tempered
      .agg(expr("""aggregate(
        |  transform(array_sort(collect_list(struct(source, r))), p -> p.r),
        |  cast(0.0 as double), (a, x) -> a + x)""".stripMargin).as("rs"))
    tempered.crossJoin(broadcast(norm))
      .withColumn("rate_bp", expr(
        s"cast(floor($budgetBp.0 * (r / rs) / (cast(tokens as double) / tt)) as bigint)"))
      .select(col("source"), col("n_docs"), col("tokens"), col("rate_bp"))
  }

  /** Cluster-balanced corpus sampling (the diversity-balancing
    * counterpart of SemDeDup — cap every semantic cluster's
    * contribution instead of dropping near-dups): given per-vector
    * cell assignments `(id, cell)` (e.g. the coarse quantizer of the
    * PQ family, `Similarity.pqEncode(…, numSub = 1)`, or IVF cells),
    * keep at most `quota` members per cell, chosen by a DETERMINISTIC
    * integer hash rank (never rand() — replayable cross-engine and
    * stable across runs/partitionings). Returns (cell, rank, id),
    * rank 1..min(|cell|, quota).
    *
    * Scale shape: ONE shuffle on the cell key; the rank window's
    * `rank <= quota` filter is a WindowGroupLimit, so each partition
    * keeps only quota rows per cell before any downstream exchange —
    * output is O(cells × quota) regardless of corpus size. */
  def clusterBalance(cells: DataFrame, quota: Int): DataFrame = {
    require(quota >= 1, "quota must be >= 1")
    cells.select(col("id"), col("cell"),
        ((col("id") * lit(1103515245L) + lit(12345L))
          % lit(2147483647L)).as("h"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
          .orderBy(col("h"), col("id"))))
      .filter(col("rank") <= quota)
      .select(col("cell"), col("rank"), col("id"))
  }

  // =====================================================================
  // Weighted sampling without replacement (Efraimidis & Spirakis 2006,
  // "Weighted random sampling with a reservoir"): item i with weight w_i
  // gets key u_i^(1/w_i), u_i ~ U(0,1]; the k largest keys are an exact
  // weighted sample without replacement. Equivalently (and monotonically)
  // the k SMALLEST of e_i = -ln(u_i)/w_i — the exponential race, which is
  // the form used here because it quantizes cleanly.
  // =====================================================================

  /** The exponential-race key numerator as ONE expression text shared
    * verbatim with the DuckDB oracle (the [[nbLp]] ln discipline):
    * u = (h+1)/2^31 from an avalanched 31-bit content hash `h`, and the
    * single `ln` lands on the 2^-20 integer lattice. The full key is
    * then `(elnq * 10^6) div w` — pure int64, so ranking and tie-break
    * (key, id) replay bit-identically in both engines. */
  private[ops] val esElnqSql: String =
    "cast(floor(-ln((h + 1) / 2147483648.0) * 1048576) as bigint)"

  /** Inverse-frequency source weights `(source, w = 10^9 div n_docs)`:
    * equal total weight mass per source, so [[weightedSample]] draws a
    * source-FLAT sample from an arbitrarily skewed pool (until a small
    * source exhausts). One tiny aggregate — broadcast by the sampler. */
  def flatteningWeights(docs: DataFrame, srcCol: String): DataFrame =
    docs.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("c"))
      .select(col("source"), expr("1000000000 div c").as("w"))

  /** Deterministic Efraimidis–Spirakis weighted sample without
    * replacement: k docs drawn by the exponential race over CONTENT-hash
    * uniforms (stable under re-sharding and id reassignment — the q106
    * sampler's discipline) with per-source weights `weights` (source, w
    * > 0; broadcast — one row per source). Returns (id, source, w,
    * skey) for the k smallest keys, ascending.
    *
    * Scale shape: weights are a broadcast join, the key is a map-only
    * expression, and the selection is a global top-k —
    * TakeOrderedAndProject (per-partition heads, driver merge of k
    * rows), never a full sort. Zero corpus-sized shuffles. */
  def weightedSample(docs: DataFrame, textCol: String, idCol: String,
      srcCol: String, weights: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    docs.select(col(idCol).as("id"), col(srcCol).as("source"),
        Sketches.avalanche31(TextOps.polyHash(col(textCol))).as("h"))
      .join(broadcast(weights), Seq("source"))
      .withColumn("elnq", expr(esElnqSql))
      .withColumn("skey", expr("(elnq * 1000000) div w"))
      .orderBy(col("skey"), col("id"))
      .limit(k)
      .select(col("id"), col("source"), col("w"), col("skey"))
  }

  // =====================================================================
  // Multinomial Naive Bayes text classifier (the fastText-style
  // supervised filter of production curation stacks — CCNet / GPT-3
  // quality classifiers, Wenzek et al. 2020 §4.3): train per-class
  // token counts on a labeled seed set, score unlabeled docs by
  // argmax_c [ log P(c) + Σ_w log P(w|c) ] with add-one smoothing.
  // =====================================================================

  /** Quantized add-one-smoothed class-conditional token log-prob —
    * ONE expression text shared verbatim with the DuckDB oracle (the
    * [[Retrieval.bm25Contrib]] discipline): the single `ln` lands on
    * the 2^-14 integer lattice, so per-doc class scores are exact
    * int64 sums, order-independent under any partial aggregation. */
  private[ops] def nbLp(c: String, tot: String, v: String): String =
    s"cast(floor(16384.0 * ln(cast($c + 1 as double) / ($tot + $v))) as bigint)"

  /** Quantized class log-prior, same lattice/sharing contract. */
  private[ops] def nbPrior(dc: String, n: String): String =
    s"cast(floor(16384.0 * ln(cast($dc as double) / $n)) as bigint)"

  /** STANDING Naive-Bayes count artifact over a labeled training set —
    * one role-tagged frame (the [[dsirIndex]] / postings-index
    * discipline, so the whole artifact commits through a single
    * IndexStore version):
    *  - role="wc": (label, w, c) — per-(class, token) occurrence counts
    *  - role="dc": (label, null, c) — per-class document counts
    * Pure integer histograms: the fold ([[refreshNbCounts]]) is exact
    * addition, so index built batch-by-batch equals index built at
    * once. Smoothed log-probs are derived at CLASSIFY time from the
    * counts — refreshing never has to rescale the model.
    *
    * Scale shape: ONE corpus-sized hash-aggregate on (label, token);
    * the artifact is vocab-sized (Σ_c |vocab_c| rows), never
    * corpus-sized. */
  def nbCounts(train: DataFrame, textCol: String,
      labelCol: String): DataFrame = {
    val wc = train
      .select(col(labelCol).as("label"),
        explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("label", "w").agg(count(lit(1)).as("c"))
      .select(lit("wc").as("role"), col("label"), col("w"), col("c"))
    val dc = train
      .groupBy(col(labelCol).as("label")).agg(count(lit(1)).as("c"))
      .select(lit("dc").as("role"), col("label"),
        lit(null).cast("string").as("w"), col("c"))
    wc.unionByName(dc)
  }

  /** Fold a labeled batch into a standing NB count artifact: compute
    * the batch's counts and ADD (integer sums — any fold order yields
    * the identical artifact; q131 proves fold == rebuild under the
    * differential oracle). */
  def refreshNbCounts(index: DataFrame, batch: DataFrame,
      textCol: String, labelCol: String): DataFrame =
    index.unionByName(nbCounts(batch, textCol, labelCol))
      .groupBy("role", "label", "w").agg(sum(col("c")).as("c"))

  /** Classify `docs` against a standing NB count artifact: per doc, the
    * argmax-class of `prior(c) + Σ_{tokens w in training vocab} lp(w,c)`
    * (quantized lattice units, exact int64 sums). Returns
    * `(<idCol>, n_tok, pred_label, score_q)` — `n_tok` = in-vocab token
    * instances; docs with zero in-vocab tokens yield no row (no
    * evidence either way — both engines drop them identically).
    *
    * Model derivation (all artifact-sized): the DENSE (vocab × classes)
    * smoothed log-prob table — unseen (w, c) pairs get the add-one
    * default — so the scoring join on the token key alone yields every
    * class's contribution per token with no per-class default
    * bookkeeping. At 10M vocab × 10 classes that is 100M short rows:
    * shuffle-joinable, deliberately NOT broadcast (AQE may still choose
    * to). Scoring pass: ONE shuffle (tokens join model on `w`), one
    * (id, label) partial-agg, then a per-id argmin aggregate
    * `min(struct(-score, label))` — max score, ties to the smallest
    * label, no window, fully map-side-combining. */
  def nbClassify(counts: DataFrame, docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val wc = counts.filter(col("role") === "wc")
      .select(col("label"), col("w"), col("c"))
    val dc = counts.filter(col("role") === "dc")
      .select(col("label"), col("c").as("dc"))
    val labels = wc.groupBy("label").agg(sum(col("c")).as("tot"))
      .join(dc, Seq("label"))
    val nv = dc.agg(sum(col("dc")).as("n"))
      .crossJoin(wc.agg(countDistinct(col("w")).as("v")))
    val model = wc.select(col("w")).distinct()
      .crossJoin(broadcast(labels))
      .join(wc, Seq("w", "label"), "left")
      .crossJoin(broadcast(nv))
      .select(col("w"), col("label"),
        expr(nbLp("coalesce(c, 0)", "tot", "v")).as("lp"))
    val pri = broadcast(dc.crossJoin(broadcast(nv))
      .select(col("label"), expr(nbPrior("dc", "n")).as("pq")))
    docs
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("w"))
      .join(model, Seq("w"))
      .groupBy(col(idCol), col("label"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lp")).as("s"))
      .join(pri, Seq("label"))
      .select(col(idCol), col("n_tok"), col("label"),
        (col("s") + col("pq")).as("score_q"))
      .groupBy(idCol)
      .agg(max(col("n_tok")).as("n_tok"),
        min(struct((-col("score_q")).as("ns"), col("label").as("l")))
          .as("m"))
      .select(col(idCol), col("n_tok"), col("m.l").as("pred_label"),
        (-col("m.ns")).as("score_q"))
  }

  // =====================================================================
  // Stupid-backoff trigram LM (Brants et al. 2007, "Large Language
  // Models in Machine Translation" §4 — the web-scale LM scoring rule:
  // no discounting, a fixed 0.4 backoff weight per level, counts only).
  // =====================================================================

  /** Quantized stupid-backoff trigram score — ONE expression text
    * shared verbatim with the DuckDB oracle. The backoff chain:
    * c3/c2 if the trigram survived count pruning, else 0.4 * cb/cu2
    * (bigram), else 0.4^2 * (cu3+1)/(N+V) (add-one unigram floor, so
    * fully-unseen words still score). All case guards are integer
    * comparisons; the constants are integer-derived doubles (the
    * [[Retrieval.k1Lit]] discipline — no decimal-literal parsing
    * differences); the single `ln` lands on the 2^-14 lattice. */
  private[ops] def sbLp(c3: String, c2: String, cb: String, cu2: String,
      cu3: String, n: String, v: String): String = {
    val a = "(cast(2 as double) / 5.0)"
    s"cast(-floor(16384.0 * ln(case when $c3 > 0 " +
      s"then cast($c3 as double) / $c2 " +
      s"when $cb > 0 then $a * cast($cb as double) / $cu2 " +
      s"else ($a * $a) * cast($cu3 + 1 as double) / ($n + $v) end)) " +
      s"as bigint)"
  }

  /** Per-doc mean trigram surprisal `(<idCol>, n_tri, score_q)` of
    * `docs` under a stupid-backoff trigram LM trained on `train` —
    * the held-out-perplexity quality filter at web scale (train on a
    * trusted corpus, score the crawl; high score_q = unpredictable).
    * Docs with < 3 tokens yield no row (no trigram evidence — both
    * engines drop them identically).
    *
    * `minCount` prunes the trigram table to counts >= minCount (the
    * production move: Zipf means singleton trigrams are most of the
    * table but carry no reusable signal — pruning shrinks the big
    * join side by ~5-10× and the scorer backs off exactly as it would
    * for an unseen trigram). Bigram/unigram tables stay unpruned (they
    * are the backoff floor).
    *
    * Scale shape: count tables are hash-aggregates of the training
    * corpus (the pruned trigram table is the only near-corpus-sized
    * artifact); scoring is 5 equi-joins of the doc-trigram frame
    * against them (trigram join shuffles on the 3-gram key, the
    * bigram/unigram joins are vocab-sized and broadcast-eligible under
    * AQE), then one (id) partial-aggregate. No windows, no collects. */
  def backoffScores(train: DataFrame, docs: DataFrame, textCol: String,
      idCol: String, minCount: Int = 2): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val toks = TextOps.tokens(col(textCol))
    def ngrams(df: DataFrame, n: Int, keep: Seq[String]): DataFrame = {
      val ks = keep.map(col)
      df.select(ks :+ toks.as("ts"): _*)
        .select(ks :+ explode(when(size(col("ts")) < n,
            typedLit(Array.empty[Array[String]]))
          .otherwise(transform(sequence(lit(1), size(col("ts")) - (n - 1)),
            i => array((0 until n).map(j =>
              element_at(col("ts"), i + j)): _*)))).as("g"): _*)
    }
    val uni = train.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val big = ngrams(train, 2, Nil)
      .select(col("g")(0).as("w1"), col("g")(1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val tri = ngrams(train, 3, Nil)
      .select(col("g")(0).as("w1"), col("g")(1).as("w2"),
        col("g")(2).as("w3"))
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
      .filter(col("c3") >= minCount)
    val nv = uni.agg(sum(col("cu")).as("n"),
      count(lit(1)).as("v"))
    ngrams(docs, 3, Seq(idCol))
      .select(col(idCol), col("g")(0).as("w1"), col("g")(1).as("w2"),
        col("g")(2).as("w3"))
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(big.withColumnRenamed("cb", "c2"), Seq("w1", "w2"), "left")
      .join(big.select(col("w1").as("w2"), col("w2").as("w3"),
        col("cb")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("cu").as("cu2")),
        Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("cu").as("cu3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(nv))
      .select(col(idCol), expr(sbLp("coalesce(c3, 0)", "coalesce(c2, 0)",
        "coalesce(cb, 0)", "coalesce(cu2, 0)", "coalesce(cu3, 0)",
        "n", "v")).as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tri"),
        expr("sum(lp) div count(1)").as("score_q"))
  }

  /** Gopher-style per-doc REPETITION signals (Rae et al. 2021,
    * arXiv:2112.11446 Appendix A1.1 — the "repetitious text" family
    * every pretraining pipeline filters on): for n-gram widths 2 and
    * 3, the fraction of n-gram OCCURRENCES belonging to the single
    * most frequent n-gram (top-n-gram fraction) and to any n-gram
    * that repeats within the doc (duplicate-n-gram fraction).
    *
    * All-integer outputs — ppm on the occurrence lattice, BIGINT
    * end-to-end — so the DuckDB differential oracle hash-matches
    * without float drift (the q154 representation rule). Docs shorter
    * than n tokens read 0 ppm (no occurrences to be repetitious in).
    *
    * Scale shape: per width, ONE explode of the native token-spans
    * kernel and two hash aggregates keyed by doc — partial/final
    * combine, no window, no join wider than (doc, distinct n-grams
    * of that doc). State per doc is bounded by doc length; nothing
    * is corpus-global, so the pass is embarrassingly parallel at any
    * corpus size. */
  def repetitionSignals(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    def forN(n: Int): DataFrame =
      docs.select(col(idCol).as("id"),
          explode(graft.functions.F.tokenSpans(col(textCol), n)).as("g"))
        .groupBy(col("id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("id")).agg(
          sum(col("c")).as("tot"),
          max(col("c")).as("top"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup"))
        .select(col("id"),
          expr("top * CAST(1000000 AS BIGINT) div tot")
            .as(s"top${n}_ppm"),
          expr("dup * CAST(1000000 AS BIGINT) div tot")
            .as(s"dup${n}_ppm"))
    val base = docs.select(col(idCol).as("id"),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tok"))
    base.join(forN(2), Seq("id"), "left")
      .join(forN(3), Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tok"),
        coalesce(col("top2_ppm"), lit(0L)).as("top2_ppm"),
        coalesce(col("dup2_ppm"), lit(0L)).as("dup2_ppm"),
        coalesce(col("top3_ppm"), lit(0L)).as("top3_ppm"),
        coalesce(col("dup3_ppm"), lit(0L)).as("dup3_ppm"))
  }
}
