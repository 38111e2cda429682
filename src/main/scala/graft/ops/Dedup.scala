package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.F

/** Public dedup API — the library surface a training-data pipeline calls
  * (the oracle-checked q27-q31 queries exercise the same machinery; these
  * entry points are the reusable form).
  *
  * All candidate generation is signature-per-row (no shuffle) followed by
  * ONE shuffle on the candidate key — the only shapes that survive 100 TB.
  *
  * Cosine caveat (all vector entry points here and in [[Similarity]]):
  * a ZERO-NORM vector yields NaN cosine; Java comparisons make every
  * `NaN >= t` false, so zero vectors are never near-dups / dropped /
  * ranked — while SQL engines that order NaN above all values (DuckDB)
  * would treat them as similar-to-everything. Filter zero vectors at
  * ingest if your corpus can contain them.
  */
object Dedup {

  /** Hyperplane-LSH signature width for a corpus of `n` vectors: enough
    * sign bits that EXPECTED bucket occupancy is ~`targetRows`
    * (bits = ceil(log2(n / targetRows))), floored at 4 (16 buckets) and
    * capped at 20 (1M buckets). The within-bucket join is quadratic in
    * bucket size, so a FIXED bucket count is O(N^2/buckets) at scale —
    * deriving from N keeps the per-bucket work constant as the corpus
    * grows. */
  def deriveBits(n: Long, targetRows: Long = 1024L): Int = {
    val buckets = math.max(1L, (n + targetRows - 1) / targetRows)
    val b = if (buckets <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    math.min(20, math.max(4, b))
  }

  /** SemDeDup cell count for `n` vectors: ~`targetRows` per cell,
    * floored at 16, capped at 16384 (centroids must stay broadcast-able
    * — beyond that pass k-means centroids explicitly). */
  def deriveCells(n: Long, targetRows: Long = 1024L): Int =
    math.min(16384L, math.max(16L, (n + targetRows - 1) / targetRows)).toInt

  /** Number of INDEPENDENT hyperplane tables (OR-amplification) needed
    * so a pair at cosine `atCosine` shares >= 1 bucket with probability
    * >= `targetRecall`. Per Charikar STOC'02, one hyperplane agrees on
    * such a pair with p = 1 - acos(c)/pi, a whole `bits`-bit signature
    * with p^bits, and ANY of L signatures with 1 - (1 - p^bits)^L —
    * so L = ceil(ln(1-R) / ln(1-p^bits)), exactly how
    * [[minhashCandidates]] bands MinHash. Without this, single-table
    * recall DECAYS as [[deriveBits]] grows with the corpus: at the
    * 20-bit cap a cosine-0.9 pair shares the one bucket only ~4% of
    * the time (~0.86^20); at the derived L = 50 tables it is found
    * with >= 90% probability at ANY corpus size — candidate cost stays
    * bounded because each table keeps ~`targetRows` expected occupancy.
    * `maxTables` caps runaway asks (recall targets near 1 at low
    * cosine); hitting the cap means the realized recall is below
    * target — raise bits' targetRows instead. */
  def deriveTables(bits: Int, targetRecall: Double = 0.9,
      atCosine: Double = 0.9, maxTables: Int = 64): Int = {
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall must be in (0,1), got $targetRecall")
    require(atCosine > -1 && atCosine < 1,
      s"atCosine must be in (-1,1), got $atCosine")
    val p = 1.0 - math.acos(atCosine) / math.Pi
    val hit = math.pow(p, bits)
    if (hit >= 1.0 - 1e-12) 1
    else math.min(maxTables, math.max(1,
      math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - hit)).toInt))
  }

  /** L independent `bits`-wide signatures of a vector column as one
    * array (element t = table t's bucket). */
  private[ops] def lshSigs(v: Column, bits: Int, tables: Int): Column =
    array((0 until tables).map(t => F.vecLshT(v, bits, t)): _*)

  /** Resolve the (bits, tables) pair for a vector corpus: both pinned ->
    * as given; bits pinned alone -> single table (the historical
    * behavior every oracled query relies on); neither -> both derived
    * from one corpus count (occupancy-bounded bits, recall-calibrated
    * tables). */
  private def lshParams(df: DataFrame, bits: Int, tables: Int): (Int, Int) =
    if (bits > 0) (bits, math.max(1, tables))
    else {
      val b = deriveBits(df.count())
      (b, if (tables > 0) tables else deriveTables(b))
    }

  /** Exact dedup: one representative (min of `idCol`) per distinct value
    * of `keyExpr` (e.g. `md5(col("text"))`). */
  def exact(df: DataFrame, keyExpr: Column, idCol: String): DataFrame =
    df.groupBy(keyExpr.as("__key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))
      .drop("__key")

  /** MinHash-LSH candidate pairs over a text column: (id_a, id_b,
    * est_sim) for pairs sharing >= 1 of `bands` signature bands. */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    val sig = df.select(col(idCol).as("id"),
      F.minhashSig(F.shingleHashes(col(textCol), shingleN), k).as("sig"))
    val banded = sig.select(col("id"), col("sig"),
      explode(TextOps.lshBands(col("sig"), bands, r)).as("bk"))
    val b2 = banded.toDF("id2", "sig2", "bk2")
    banded.join(b2, col("bk") === col("bk2") && col("id") < col("id2"))
      .select(col("id").as("id_a"), col("id2").as("id_b"),
        col("sig").as("sa"), col("sig2").as("sb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        expr(s"CAST(size(filter(sequence(0, ${k - 1}), i -> sa[i] = sb[i])) AS DOUBLE) / $k.0")
          .as("est_sim"))
  }

  /** SimHash clusters: docs sharing an identical 32-bit signature, with
    * the min-id representative (linear output — never pairwise). */
  def simhashClusters(df: DataFrame, textCol: String, idCol: String)
      : DataFrame =
    df.select(col(idCol).as("id"), F.simhash32(col(textCol)).as("sig"))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("keep_id"))
      .filter(col("n_docs") > 1)

  /** EXACT Hamming-radius pairs over 64-bit SimHash signatures via
    * pigeonhole bands (multi-index Hamming — Norouzi et al. CVPR
    * 2012): any pair within distance `radius` agrees on at least one
    * of the `64 / bandBits` disjoint bands (requires radius <
    * #bands), so candidates come from ONE equi-join on the (band,
    * bits) key and an exact popcount verifies. This is the PRODUCTION
    * geometry q165's pinned sig32/8-bit oracle demo points at:
    * bandBits = 16 gives 65536 values per band, so band occupancy —
    * and with it the quadratic within-band candidate term — stays
    * ~corpus/65536 per value. Returns (id_a, id_b, hamming),
    * id_a < id_b, each true pair exactly once. */
  def hammingPairs(df: DataFrame, textCol: String, idCol: String,
      radius: Int = 3, bandBits: Int = 16): DataFrame = {
    require(64 % bandBits == 0, "bandBits must divide 64")
    val nBands = 64 / bandBits
    require(radius >= 0 && radius < nBands,
      s"pigeonhole needs radius < $nBands bands (got $radius)")
    val mask = (1L << bandBits) - 1
    val sigs = df.select(col(idCol).as("id"),
      F.simhash64(col(textCol)).as("sig"))
    val banded = sigs.select(col("id"), col("sig"),
      explode(array((0 until nBands).map(k =>
        struct(lit(k).as("band"),
          expr(s"(sig >> ${bandBits * k}) & $mask").as("bits"))): _*))
        .as("bb"))
      .select(col("id"), col("sig"), col("bb.band").as("band"),
        col("bb.bits").as("bits"))
    val b2 = banded.toDF("id_b", "sig_b", "band", "bits")
    banded.join(b2, Seq("band", "bits"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"),
        expr("bit_count(sig ^ sig_b)").as("hamming"))
      // verify BEFORE dedup (StringSim.verifyDedup discipline): the
      // popcount filter is row-local and free; the distinct shuffle
      // then moves true pairs only, not the band-candidate volume
      .filter(col("hamming") <= radius)
      .distinct()
  }

  /** Build the STANDING SimHash index a Hamming-radius dedup gate
    * carries across batches: one (id, sig) row per doc, sig =
    * [[graft.functions.F.simhash64]] of the text. Unlike the shingle
    * index there is NO derived global state (no df, no ranks) and no
    * recorded geometry — the 64-bit signature is geometry-free; band
    * width is a QUERY-TIME choice ([[hammingPairs]],
    * [[incrementalHamming]]) — so fold == rebuild is trivial
    * per-row equality (q179 pins it under the oracle) and the
    * artifact is the cheapest standing index in the system: 16 bytes
    * a doc. */
  def simhashIndex(docs: DataFrame, textCol: String,
      idCol: String): DataFrame =
    docs.select(col(idCol).as("id"), F.simhash64(col(textCol)).as("sig"))

  /** Fold a batch into the standing SimHash index: rows carrying the
    * batch's own ids are replaced (replay-idempotent, the
    * [[Similarity.refreshPqIndex]] contract), new sigs append. */
  def refreshSimhashIndex(index: DataFrame, newDocs: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val fresh = simhashIndex(newDocs, textCol, idCol)
    index.join(fresh.select(col("id").as("__bid")),
        col("id") === col("__bid"), "left_anti")
      .unionByName(fresh)
  }

  /** DELETE doc ids from the standing SimHash index — a pure anti-join
    * (every row is per-doc; nothing derived to re-enrich). */
  def deleteFromSimhashIndex(index: DataFrame,
      deleteIds: DataFrame): DataFrame =
    index.join(deleteIds.select(col(deleteIds.columns.head).as("__did"))
        .distinct(),
      col("id") === col("__did"), "left_anti")

  /** Incremental Hamming-radius dedup: test a NEW batch against the
    * STANDING SimHash index without re-pairing the corpus with itself
    * — the [[hammingPairs]] pigeonhole band join run batch × index
    * instead of self × self (the [[incrementalJaccard]] shape). Both
    * sides band-explode on the same query-time geometry; candidates
    * share a (band, bits) key; the exact popcount verifies BEFORE the
    * output-sized distinct. Returns (new_id, corpus_id, hamming) for
    * every batch doc within `radius` of a corpus doc. */
  def incrementalHamming(newDocs: DataFrame, corpusIndex: DataFrame,
      textCol: String, idCol: String, radius: Int = 3,
      bandBits: Int = 16): DataFrame = {
    require(64 % bandBits == 0, "bandBits must divide 64")
    val nBands = 64 / bandBits
    require(radius >= 0 && radius < nBands,
      s"pigeonhole needs radius < $nBands bands (got $radius)")
    val mask = (1L << bandBits) - 1
    def banded(sigs: DataFrame, idOut: String, sigOut: String) =
      sigs.select(col("id").as(idOut), col("sig").as(sigOut),
        explode(array((0 until nBands).map(k =>
          struct(lit(k).as("band"),
            expr(s"(sig >> ${bandBits * k}) & $mask").as("bits"))): _*))
          .as("bb"))
        .select(col(idOut), col(sigOut), col("bb.band").as("band"),
          col("bb.bits").as("bits"))
    val b = banded(simhashIndex(newDocs, textCol, idCol), "new_id", "sig_n")
    val c = banded(corpusIndex.select(col("id"), col("sig")),
      "corpus_id", "sig_c")
    b.join(c, Seq("band", "bits"))
      .select(col("new_id"), col("corpus_id"),
        expr("bit_count(sig_n ^ sig_c)").as("hamming"))
      .filter(col("hamming") <= radius)
      .distinct()
  }

  /** Exact n-gram Jaccard pairs >= `threshold` via PREFIX FILTERING
    * (AllPairs / PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    * WWW'08) instead of a raw inverted-index self-join.
    *
    * Tokens get ONE global total order: document frequency ascending,
    * hash ascending as tiebreak. Each doc keeps only its first
    * p = n - ceil(t*n) + 1 ordered tokens as its prefix; candidate pairs
    * come from a self-join on PREFIX tokens only, then are verified
    * exactly against the full hash sets.
    *
    * COMPLETENESS (why no qualifying pair is missed): let w be the
    * globally-smallest token of A∩B. J(A,B) >= t forces
    * |A∩B| >= ceil(t*max(|A|,|B|)). If w were outside prefix(A), the
    * whole intersection would sit in A's suffix, so
    * |A∩B| <= |A| - p_A = ceil(t*|A|) - 1 — contradiction; symmetrically
    * for B. So w is in BOTH prefixes and the prefix join generates the
    * pair. Hot shingles ("of the and...") have maximal df, sort LAST,
    * and fall out of every prefix — the quadratic hot-token blowup of
    * the raw inverted index (measured 589M join rows at sf0.1 uncut)
    * cannot happen. */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      explode(F.shingleHashes(col(textCol), shingleN)).as("h"))
    // global order key: (df asc, h asc) — one aggregate on the hash
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    // per-doc prefix rows straight from a window rank — no per-doc array
    // build, no materialization: rank tokens within each doc by the
    // global order, keep rank <= p = n - ceil(t*n) + 1. Slim 4-column
    // rows; at 100 TB an array-carrying variant would shuffle O(n^2)
    // bytes per long doc.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("h"))
    val prefix = sh.join(dfreq, "h")
      .select(col("id"), col("h"),
        row_number().over(w).as("rank1"),
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("id")).as("n"))
      .filter(col("rank1") <=
        col("n") - ceil(col("n") * threshold).cast("int") + 1)
      .select(col("id"), col("n"), (col("rank1") - 1).as("pos"),
        col("h").as("ph"))
    // candidate pairs: self-join on prefix tokens ONLY. The positional
    // filter (PPJoin, Xiao et al.): at the globally-first common token,
    // every remaining intersection token sits at or after that position
    // in BOTH docs, so min(n - pos, n2 - pos2) upper-bounds |A∩B|;
    // J >= t needs |A∩B| >= t/(1+t)*(n+n2) — pairs that cannot reach it
    // never leave the join (measured 409k -> 125k candidates at sf0.1
    // for 256 true pairs).
    val minOverlapFrac = threshold / (1.0 + threshold)
    val cand = prefix.join(prefix.toDF("id2", "n2", "pos2", "ph2"),
        col("ph") === col("ph2") && col("id") < col("id2") &&
        least(col("n") - col("pos"), col("n2") - col("pos2")) >=
          (col("n") + col("n2")) * minOverlapFrac)
      .select(col("id").as("id_a"), col("id2").as("id_b")).distinct()
    // exact verify: full hash sets are a PURE MAP over the input (only
    // prefixes need the frequency order), recomputed map-side per probe
    // join — cheaper than materializing at any scale. Native merge-walk
    // intersect over hash-sorted arrays (size(array_intersect) builds a
    // hash set per row — measured 10x slower on the candidate volume).
    val sets = df.select(col(idCol).as("id"),
      sort_array(F.shingleHashes(col(textCol), shingleN)).as("srt"))
      .select(col("id"), col("srt"), size(col("srt")).as("n"))
    cand.join(sets.toDF("id_a", "ha", "na"), "id_a")
      .join(sets.toDF("id_b", "hb", "nb"), "id_b")
      .withColumn("inter", F.sortedIntersectSize(col("ha"), col("hb")))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Containment pairs — the ASYMMETRIC overlap |A∩B| / |A| >= t:
    * excerpt/quote detection (a short doc living inside a long one
    * scores near 1.0 even when Jaccard is tiny). Directional output
    * (id_a contained in id_b, both orientations possible).
    *
    * Prefix filtering adapts: only the CONTAINED side can be prefixed
    * (p = n - ceil(t*n) + 1 rarest tokens — if no intersection token
    * sat in A's prefix the whole intersection would fit in the
    * ceil(t*n) - 1 suffix, contradicting |A∩B| >= ceil(t*n)); the index
    * side must keep ALL tokens, since containment puts no lower bound
    * on B's share. A's prefix tokens are its globally RAREST, which is
    * what bounds the join fan-out at scale. Verify is the same native
    * merge-walk intersect as jaccardPairs. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      explode(F.shingleHashes(col(textCol), shingleN)).as("h"))
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("h"))
    // every token ranked within its doc by the global (df, h) order —
    // the prefix cut needs it for the contained side, and keeping it on
    // the index side too feeds the positional bound below
    val ranked = sh.join(dfreq, "h")
      .select(col("id"), col("h"),
        (row_number().over(w) - 1).as("pos"),
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("id")).as("n"))
    val prefix = ranked
      .filter(col("pos") <= col("n") - ceil(col("n") * threshold))
      .select(col("id").as("id_a"), col("h"), col("n").as("n_a"))
    // positional bound on the INDEX side (exactness-preserving): at the
    // globally-FIRST common token w, every intersection member ranks at
    // or after w in B's order too, so |A∩B| <= n_b - pos_b(w);
    // containment >= t needs |A∩B| >= ceil(t*n_a). A qualifying pair
    // always survives at its first common token, so candidates whose
    // shared token sits too deep in B never reach the verify join.
    // (A bound from A's own pos would be redundant — pos <= n_a -
    // ceil(t*n_a) IS the prefix cut.)
    val cand = prefix.join(ranked.toDF("id_b", "h2", "pos_b", "n_b"),
        col("h") === col("h2") && col("id_a") =!= col("id_b") &&
        col("n_b") - col("pos_b") >= ceil(col("n_a") * threshold))
      .select(col("id_a"), col("id_b")).distinct()
    val sets = df.select(col(idCol).as("id"),
      sort_array(F.shingleHashes(col(textCol), shingleN)).as("srt"))
      .select(col("id"), col("srt"), size(col("srt")).as("n"))
    cand.join(sets.toDF("id_a", "ha", "na"), "id_a")
      .join(sets.toDF("id_b", "hb", "nb"), "id_b")
      .withColumn("inter", F.sortedIntersectSize(col("ha"), col("hb")))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / col("na")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Incremental near-dup: test a NEW batch against an EXISTING corpus
    * without re-pairing the corpus with itself — the daily-ingest pattern
    * at scale (the corpus side ships as the precomputed [[shingleIndex]]
    * parquet table maintained across batches). Returns (new_id,
    * corpus_id, jaccard) pairs >= threshold.
    *
    * Candidate generation is PREFIX-FILTERED on both sides, exactly the
    * [[jaccardPairs]] machinery: the global token order is the CORPUS
    * document frequency (ascending, hash tiebreak; a batch-only token
    * gets df 0 and sorts first — it is maximally rare). Prefix filtering
    * is exact under ANY single total order applied to both sides, so
    * using the standing corpus order keeps the index batch-independent.
    * A boilerplate shingle present in most corpus docs has maximal df,
    * sorts last, and falls out of every prefix — the hot-token blowup
    * (one shared header pairing each new doc with most of the corpus;
    * the q68 hot-gram incident, 248k -> 123M join rows) cannot happen.
    * Verify is the native merge-walk intersect over full sorted sets;
    * the corpus side rebuilds sets from index rows of CANDIDATE ids
    * only, so no corpus text is ever needed. */
  def incrementalJaccard(newDocs: DataFrame, corpusIndex: DataFrame,
      textCol: String, idCol: String, shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // accept both the enriched (id, h, df, pos, n) index and the legacy
    // bare (id, h) form (enriched on the fly — one extra aggregate)
    val idx = if (corpusIndex.columns.contains("pos")) corpusIndex
      else enrichShingleIndex(corpusIndex.select(col("id"), col("h")))
    // corpus prefix rows: rank1 <= n - ceil(t*n) + 1  <=>  pos <= n - ceil(t*n)
    val cPrefix = idx
      .filter(col("pos") <=
        col("n") - ceil(col("n") * threshold).cast("int"))
      .select(col("id").as("corpus_id"), col("h"),
        col("pos").as("cpos"), col("n").as("n_corpus"))
    // the corpus token order, joined onto the batch (absent token -> df 0)
    val dfTab = idx.select(col("h"), col("df")).distinct()
    val newSh = newDocs.select(col(idCol).as("new_id"),
      explode(F.shingleHashes(col(textCol), shingleN)).as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("new_id").orderBy(col("df"), col("h"))
    val bPrefix = newSh.join(dfTab, Seq("h"), "left")
      .na.fill(0L, Seq("df"))
      .select(col("new_id"), col("h"),
        row_number().over(w).as("rank1"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("new_id")).as("n_new"))
      .filter(col("rank1") <=
        col("n_new") - ceil(col("n_new") * threshold).cast("int") + 1)
      .select(col("new_id"), col("h"), (col("rank1") - 1).as("bpos"),
        col("n_new"))
    // candidates on prefix tokens only, with the PPJoin positional bound
    // (see jaccardPairs: min remaining tokens from the first common
    // token upper-bounds the intersection)
    val minOverlapFrac = threshold / (1.0 + threshold)
    val cand = bPrefix.join(cPrefix, "h")
      .filter(least(col("n_new") - col("bpos"),
          col("n_corpus") - col("cpos")) >=
        (col("n_new") + col("n_corpus")) * minOverlapFrac)
      .select(col("new_id"), col("corpus_id")).distinct()
    // exact verify: batch sets are a pure map over the batch text;
    // corpus sets rebuild from index rows of candidate ids only
    val bSets = newDocs.select(col(idCol).as("new_id"),
      sort_array(F.shingleHashes(col(textCol), shingleN)).as("hb"))
      .select(col("new_id"), col("hb"), size(col("hb")).as("n_new"))
    val cSets = idx.join(cand.select("corpus_id").distinct(),
        idx("id") === col("corpus_id"))
      .groupBy(col("corpus_id"))
      .agg(sort_array(collect_list(col("h"))).as("hc"),
        count(lit(1)).as("n_corpus"))
    cand.join(bSets, "new_id").join(cSets, "corpus_id")
      .withColumn("inter", F.sortedIntersectSize(col("hb"), col("hc")))
      .select(col("new_id"), col("corpus_id"),
        (col("inter").cast("double") /
          (col("n_new") + col("n_corpus") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Build/refresh the shingle index a corpus carries across batches:
    * (id, h, df, pos, n) — h = distinct shingle hashes per doc, df =
    * corpus document frequency of h, pos = h's 0-based rank within the
    * doc under the global (df asc, h asc) order, n = doc set size. The
    * df/pos columns are what lets [[incrementalJaccard]] prefix-filter
    * without touching corpus text; refresh the index when the corpus
    * grows enough to shift frequencies (stale df only degrades pruning,
    * never correctness — the order just stops being optimal). */
  def shingleIndex(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3): DataFrame =
    enrichShingleIndex(docs.select(col(idCol).as("id"),
      explode(F.shingleHashes(col(textCol), shingleN)).as("h")))

  /** Fold an ACCEPTED batch into the standing shingle index (call after
    * [[incrementalJaccard]] decides what to keep): re-derives df and
    * per-doc ranks over corpus ∪ batch WITHOUT touching corpus text —
    * the standing index already carries every (id, h), so the corpus
    * side of the refresh is a projection of the index, and only the new
    * batch pays tokenize+shingle+hash. One df aggregate + one per-doc
    * window over the union, same cost shape as building the index from
    * an (id, h) list. */
  def refreshShingleIndex(index: DataFrame, newDocs: DataFrame,
      textCol: String, idCol: String, shingleN: Int = 3): DataFrame =
    enrichShingleIndex(index.select(col("id"), col("h"))
      .union(newDocs.select(col(idCol).as("id"),
        explode(F.shingleHashes(col(textCol), shingleN)).as("h"))))

  /** DELETE a set of doc ids from the standing shingle index
    * (tombstones — retention windows, right-to-be-forgotten: `drop
    * partition` forgets the base rows, this forgets their index
    * residue). The ids' (id, h) rows anti-join away, then df /
    * per-doc rank / doc size re-derive over the SURVIVORS — the same
    * enrichment pass refresh runs, so delete == rebuild-over-survivors
    * EXACTLY (q174's oracle is the from-scratch build over the
    * surviving corpus). Cost: one df aggregate + one per-doc window
    * over surviving index rows; corpus text is never touched.
    * `deleteIds`: any one-column frame of doc ids. */
  def deleteFromShingleIndex(index: DataFrame,
      deleteIds: DataFrame): DataFrame =
    enrichShingleIndex(index.select(col("id"), col("h"))
      .join(deleteIds.select(
          col(deleteIds.columns.head).as("id")).distinct(),
        Seq("id"), "left_anti"))

  /** (id, h) -> (id, h, df, pos, n): attach corpus df and the per-doc
    * rank under the global (df asc, h asc) order. */
  private def enrichShingleIndex(sh: DataFrame): DataFrame = {
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("h"))
    sh.join(dfreq, "h")
      .select(col("id"), col("h"), col("df"),
        (row_number().over(w) - 1).as("pos"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("id")).as("n"))
  }

  /** Incremental EMBEDDING dedup: test a NEW batch of vectors against an
    * EXISTING corpus index without re-pairing the corpus with itself —
    * the vector twin of [[incrementalJaccard]]. `corpusIndex` is the
    * standing (id, v, nrm, bucket) table maintained by
    * [[embeddingIndex]]; candidates come from the shared LSH bucket,
    * verified by exact cosine >= `threshold`. Returns (new_id,
    * corpus_id, cos_sim). */
  def incrementalEmbeddingDedup(newVecs: DataFrame, corpusIndex: DataFrame,
      vecCol: String, idCol: String, bits: Int = 0,
      threshold: Double = 0.35): DataFrame = {
    // the batch MUST hash with the same signature geometry the index
    // was built with, or buckets silently stop aligning: the index's
    // recorded (bits, tables) wins; `bits` only sizes a LEGACY index
    // without metadata, and conflicts fail loudly (a mixed-width index
    // would silently mis-bucket — see indexLshMeta)
    val (b, l) = indexLshMeta(corpusIndex, bits)
    val n = newVecs.select(col(idCol).as("new_id"), col(vecCol).as("nv"),
      sqrt(F.dotF(col(vecCol), col(vecCol))).as("nnrm"),
      posexplode(lshSigs(col(vecCol), b, l)).as(Seq("t", "sig")))
    val idx =
      if (corpusIndex.columns.contains("sigs"))
        corpusIndex.select(col("id").as("corpus_id"), col("v"),
          col("nrm"), posexplode(col("sigs")).as(Seq("t", "sig")))
      else // legacy single-bucket layout
        corpusIndex.select(col("id").as("corpus_id"), col("v"),
          col("nrm"), lit(0).as("t"), col("bucket").as("sig"))
    val joined = n.join(idx, Seq("t", "sig"))
      .select(col("new_id"), col("corpus_id"),
        (F.dotF(col("nv"), col("v")) / (col("nnrm") * col("nrm")))
          .as("cos_sim"))
    // a pair can collide in several tables — exactly once in the output
    (if (l == 1) joined else joined.distinct())
      .filter(col("cos_sim") >= threshold)
  }

  /** Read (bits, tables) off a standing embedding index, failing loudly
    * on a MIXED-geometry index (e.g. a union of indexes built at
    * different corpus sizes) — trusting an arbitrary row would silently
    * mis-bucket every differing row and drop true near-dups. An empty
    * index has no geometry to read: any width yields the same empty
    * join, so the caller's `bits` (or the historical 4) is used. */
  private def indexLshMeta(index: DataFrame, bits: Int): (Int, Int) = {
    val hasTables = index.columns.contains("tables")
    if (index.columns.contains("bits")) {
      val metaCols =
        if (hasTables) index.select(col("bits"), col("tables"))
        else index.select(col("bits"), lit(1).as("tables"))
      val distinctMeta = metaCols.distinct().take(2)
      require(distinctMeta.length <= 1,
        "mixed-geometry embedding index: " + distinctMeta.map(r =>
          s"(bits=${r.getInt(0)}, tables=${r.getInt(1)})").mkString(", ") +
          " — rebuild the union with one embeddingIndex call")
      distinctMeta.headOption
        .map { r =>
          require(bits == 0 || bits == r.getInt(0),
            s"bits=$bits conflicts with the index's recorded " +
              s"bits=${r.getInt(0)} — the index geometry wins; drop the " +
              "parameter or rebuild the index")
          (r.getInt(0), r.getInt(1))
        }
        .getOrElse((if (bits > 0) bits else 4, 1))
    } else {
      require(bits == 0 || !index.columns.contains("sigs"),
        "bits parameter conflicts with a sigs index lacking a bits column")
      (if (bits > 0) bits else 4, 1)
    }
  }

  /** Build/refresh the embedding index a corpus carries across batches
    * (persist this as a parquet table through [[IndexStore]]; one row
    * per vector — ~40 bytes + vector + 8L signature bytes).
    * `bits <= 0` derives the signature width from the corpus size
    * ([[deriveBits]]) AND the table count from the recall target
    * ([[deriveTables]] — OR-amplification; pinned bits stay
    * single-table unless `tables` is passed). The geometry used is
    * recorded in the `bits`/`tables` columns so
    * [[incrementalEmbeddingDedup]] hashes new batches identically;
    * `sigs(t)` is table t's bucket. */
  def embeddingIndex(corpus: DataFrame, vecCol: String, idCol: String,
      bits: Int = 0, tables: Int = 0): DataFrame = {
    val (b, l) = lshParams(corpus, bits, tables)
    corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(F.dotF(col(vecCol), col(vecCol))).as("nrm"),
      lshSigs(col(vecCol), b, l).as("sigs"),
      lit(b).as("bits"), lit(l).as("tables"))
  }

  /** Fold an accepted batch into the standing embedding index: truly
    * incremental — new rows hash with the WIDTH THE INDEX RECORDS (so
    * buckets keep aligning) and append; corpus rows are untouched.
    * Re-derive the width with a fresh [[embeddingIndex]] build when the
    * corpus outgrows its bucket count (expected occupancy is the `bits`
    * scaladoc's target). PERSISTENCE: commit the result through
    * [[IndexStore.write]] (immutable version + atomic marker), never
    * `mode("overwrite")` on the live path — a crash mid-overwrite
    * destroys the standing index. */
  def refreshEmbeddingIndex(index: DataFrame, newVecs: DataFrame,
      vecCol: String, idCol: String): DataFrame = {
    require(index.columns.contains("bits"),
      "index lacks a bits column — rebuild it with embeddingIndex first")
    // recorded geometry wins (mixed-geometry fails loudly); an empty
    // index records none — derive fresh from the batch
    val (b, l) = indexLshMeta(index, 0) match {
      case (4, 1) if index.isEmpty => (0, 0) // fresh derive
      case meta => meta
    }
    val upgraded =
      if (index.columns.contains("sigs")) index
      else index.select(col("id"), col("v"), col("nrm"),
        array(col("bucket")).as("sigs"), col("bits"),
        lit(1).as("tables"))
    upgraded.unionByName(
      embeddingIndex(newVecs, vecCol, idCol, b, l))
  }

  /** DELETE vector ids from the standing LSH embedding index
    * (tombstones): every row is per-vector — (id, v, nrm, sigs) with
    * the geometry (bits, tables) recorded as columns ON each row — so
    * deletion is a pure anti-join; the surviving rows still carry the
    * geometry and [[incrementalEmbeddingDedup]] /
    * [[refreshEmbeddingIndex]] keep reading it unchanged. A deleted
    * vector's twin gates as NEW again (right-to-be-forgotten). */
  def deleteFromEmbeddingIndex(index: DataFrame,
      deleteIds: DataFrame): DataFrame =
    index.join(deleteIds.select(col(deleteIds.columns.head).as("__did"))
        .distinct(),
      col("id") === col("__did"), "left_anti")

  /** Consolidate near-dup PAIRS into clusters via iterative min-label
    * propagation (connected components): every doc gets the smallest id
    * reachable through the pair graph — the step that turns pairwise
    * similarity into an actionable keep/drop decision. Each round does
    * a neighbor-min step PLUS a pointer-jumping hop (adopt the label's
    * own label), so convergence is O(log diameter) rounds, not
    * O(diameter) — maxIter=10 covers any component a dedup graph can
    * produce (diameter ~2^10). A non-converged exit THROWS instead of
    * returning silently-partial labels. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 10): DataFrame = {
    // materialize the edge list once — every round joins against it
    val edges = pairs.select(col(aCol).as("x"), col(bCol).as("y"))
      .union(pairs.select(col(bCol).as("x"), col(aCol).as("y")))
      .localCheckpoint()
    var labels = edges.select(col("x").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels, edges("y") === labels("id"))
        .groupBy(col("x").as("id")).agg(min(col("label")).as("nbr"))
      // materialize: `stepped` feeds `next` twice (directly and as
      // `ptr`) — without the checkpoint the edges-join + aggregation
      // subtree would be replayed for each occurrence unless exchange
      // reuse happens to dedupe it (measured: dropping this checkpoint
      // does NOT speed the q72 bench — reuse is not reliable here)
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
        .localCheckpoint()
      // pointer jumping: labels are node ids, so every label row has a
      // row of its own — adopting label(label) halves the remaining
      // path each round (the classic Shiloach-Vishkin shortcut)
      val ptr = stepped.toDF("pid", "plabel")
      // localCheckpoint truncates lineage: round k's plan starts from
      // round k-1's MATERIALIZED labels instead of replaying every prior
      // round (plan depth O(1), and the convergence isEmpty below reads
      // the checkpoint instead of recomputing history)
      val next = stepped.join(ptr, stepped("label") === ptr("pid"), "left")
        .select(stepped("id"),
          least(stepped("label"),
            coalesce(col("plabel"), stepped("label"))).as("label"))
        .localCheckpoint()
      converged = next.join(labels.toDF("id", "old"), "id")
        .filter(col("label") =!= col("old")).isEmpty
      labels = next
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        "raise maxIter (each extra round doubles the reachable diameter)")
    labels
  }

  /** Fold NEW pairs into a standing component labeling WITHOUT
    * re-running over the full pair history: previous labels become star
    * edges (node → its label — every old component is a star, so all
    * prior connectivity survives compression), and components run over
    * star ∪ newPairs only. Exact: the compressed graph's components
    * equal the full history's (same node set — every labeled node
    * appears in its star edge — and min-label is over the same
    * members), the classic union-find fold. Cost per batch is
    * O(|labels| + |newPairs|), never O(|pair history|) — the standing
    * counterpart of [[incrementalJaccard]]: the batch's cross/internal
    * pairs fold into the labeling the keep-list serves from. */
  def refreshComponents(prevLabels: DataFrame, newPairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 10): DataFrame =
    connectedComponents(
      prevLabels.select(col("id").as(aCol), col("label").as(bCol))
        .unionByName(newPairs.select(col(aCol), col(bCol))),
      aCol, bCol, maxIter)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup via
    * clustering — every vector is assigned to its nearest centroid
    * (broadcast, map-side), pairwise cosine runs ONLY within a cell, and
    * any vector with a lower-id cell-mate at cosine >= `threshold` is
    * marked dropped. The cells bound the pair join exactly like IVF
    * bounds ANN search: at 100 TB the shuffle key is the cell id and the
    * quadratic term is (cell size)^2, never N^2. Centroids are the
    * `numCells` smallest ids' vectors (the deterministic IVF seeding);
    * for k-means-refined cells use the overload taking a centroids
    * frame (e.g. `Similarity.kmeansCentroids` output).
    * Returns (id, cell_id, keep 1/0) for every input row. */
  def semdedup(df: DataFrame, vecCol: String, idCol: String,
      numCells: Int = 0, threshold: Double = 0.35): DataFrame = {
    // numCells <= 0 derives ~1024-row cells from the corpus size
    // (deriveCells; one count job) — the within-cell join is quadratic
    // in cell size, so a fixed cell count is O(N^2/cells) at scale
    val cells = if (numCells > 0) numCells else deriveCells(df.count())
    val e = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      F.dotF(col(vecCol), col(vecCol)).as("n2"))
    // seed = the numCells SMALLEST ids (TakeOrdered, not `id < n` — the
    // latter silently returns an empty frame when ids are not 0-based)
    val cents = e.orderBy(col("id")).limit(cells)
      .select(col("id").as("cent_id"), col("v").as("cv"), col("n2").as("cn2"))
    semdedup(df, vecCol, idCol, cents, threshold)
  }

  /** SemDeDup against caller-provided centroids — `centroids` must have
    * (cent_id, cv[, cn2]) columns, e.g. `Similarity.kmeansCentroids`
    * output (tiny: it broadcasts). */
  def semdedup(df: DataFrame, vecCol: String, idCol: String,
      centroids: DataFrame, threshold: Double): DataFrame = {
    val e = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      F.dotF(col(vecCol), col(vecCol)).as("n2"))
    val cents =
      if (centroids.columns.contains("cn2")) centroids
      else centroids.withColumn("cn2", F.dotF(col("cv"), col("cv")))
    val assigned = Similarity.assign(e, cents)
      .select(col("id"), col("v"), col("n2"), col("cent_id"))
    val mate = assigned.toDF("id2", "v2", "n22", "cent_id2")
    val dropped = assigned.join(mate,
        col("cent_id") === col("cent_id2") && col("id") < col("id2") &&
        F.dotF(col("v"), col("v2")) / (sqrt(col("n2")) * sqrt(col("n22")))
          >= threshold)
      .select(col("id2").as("id")).distinct()
      .withColumn("dropped", lit(1))
    assigned.join(dropped, Seq("id"), "left")
      .select(col("id"), col("cent_id").as("cell_id"),
        when(col("dropped").isNull, 1).otherwise(0).as("keep"))
  }

  /** The full near-dup dedup DECISION in one call: jaccardPairs →
    * connectedComponents → quality-aware representative (longest doc,
    * id tie-break). Returns one row per doc that belongs to a near-dup
    * component: (id, label, keep_id, is_kept 1/0) — the drop-list a
    * cleaning stage applies (docs with no near-dup partner never appear
    * and are implicitly kept). Inherits every stage's scale shape:
    * prefix-filtered pair join, O(log d) label rounds, one aggregate
    * for the representative. */
  def nearDupKeepList(df: DataFrame, textCol: String, idCol: String,
      qualityCol: String, shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val labels = connectedComponents(
      jaccardPairs(df, textCol, idCol, shingleN, threshold))
    val q = df.select(col(idCol).as("id"), col(qualityCol).as("__q"))
    val labeled = labels.join(q, "id")
    val reps = labeled.groupBy(col("label"))
      .agg(max(struct(col("__q"), col("id"))).getField("id").as("keep_id"))
    labeled.join(reps, "label")
      .select(col("id"), col("label"), col("keep_id"),
        when(col("id") === col("keep_id"), 1).otherwise(0).as("is_kept"))
  }

  /** Cross-label duplication matrix: near-dup pairs (jaccardPairs)
    * rolled up by UNORDERED label pair (e.g. source/vendor) — which
    * label pairs share content, the pay-twice audit. One broadcast-able
    * (id -> label) projection joined per side, |labels|^2 output. */
  def crossSourceMatrix(df: DataFrame, textCol: String, idCol: String,
      labelCol: String, shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val lab = df.select(col(idCol).as("id"), col(labelCol).as("lab"))
    jaccardPairs(df, textCol, idCol, shingleN, threshold)
      .join(lab.toDF("id_a", "lab_a"), "id_a")
      .join(lab.toDF("id_b", "lab_b"), "id_b")
      .groupBy(least(col("lab_a"), col("lab_b")).as("label_x"),
        greatest(col("lab_a"), col("lab_b")).as("label_y"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id_a")).as("n_docs_a"),
        countDistinct(col("id_b")).as("n_docs_b"))
  }

  /** Exact duplicate-SPAN statistics — the substring-duplication signal
    * of Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499) at fixed span granularity: for
    * every rolling `spanTokens`-token span, how many DISTINCT docs
    * contain it verbatim; per doc, how many of its spans also appear
    * elsewhere. Unlike the Jaccard/shingle family this is exact
    * (grouping on the span text itself — no hash, no collision), and
    * unlike q81's per-source boilerplate df it is corpus-wide and
    * positional (every occurrence counts).
    *
    * Scale shape: one groupBy on the span string (two-phase agg; a
    * corpus-wide hot span is bounded by the distinct-doc count inside
    * countDistinct) + one join back (AQE skew-join handles the hot-span
    * fan-out). Span strings shuffle ~spanTokens x corpus bytes — linear
    * but heavy; `hashFirst = true` (see [[duplicateSpansHashFirst]]) is
    * the 100 TB form: the position pass shuffles one long per span and
    * only spans whose HASH repeats are re-materialized as strings for
    * exact verification — output is identical by construction (a true
    * duplicate span always has a repeated hash, so it always reaches
    * the exact re-check; a hash collision is corrected there). NB the
    * measured crossover: at sf0.1 the exact-string path is FASTER
    * (2.6 s vs 15 s — see [[duplicateSpansHashFirst]]); hashFirst wins
    * only when span-string shuffle volume binds. Docs shorter than
    * `spanTokens` contribute no spans.
    *
    * `variant` defaults to [[SpanAuto]]: one tiny agg job estimates the
    * exact path's span-string shuffle volume (avg(len(text)) x rows x
    * spanTokens — every token lands in ~spanTokens span strings) and
    * flips to hash-first above [[SpanHashFirstThresholdBytes]]. Both
    * variants return IDENTICAL rows, so the choice never changes a
    * result hash — pass [[SpanExact]] / [[SpanHashFirst]] to pin the
    * physical form explicitly (e.g. benchmarking either side). */
  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
      spanTokens: Int = 8, variant: SpanVariant = SpanAuto): DataFrame = {
    val v = variant match {
      case SpanAuto =>
        val r = df.agg(avg(length(col(textCol))).as("a"),
          count(lit(1)).as("n")).head()
        val avgLen = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
        selectSpanVariant(avgLen, r.getLong(1), spanTokens)
      case pinned => pinned
    }
    if (v == SpanHashFirst)
      duplicateSpansHashFirst(df, textCol, idCol, spanTokens)
    else duplicateSpansExactStrings(df, textCol, idCol, spanTokens)
  }

  /** Physical form of [[duplicateSpans]] — the logical result is the
    * same for all three. */
  sealed trait SpanVariant
  /** Estimate shuffle volume, pick the measured winner. */
  case object SpanAuto extends SpanVariant
  /** Group on span strings directly (wins while strings fit the wire). */
  case object SpanExact extends SpanVariant
  /** Hash positions first, re-materialize only repeated hashes (the
    * 100 TB form). */
  case object SpanHashFirst extends SpanVariant

  /** Exact-path span-string shuffle estimate in bytes: each of the
    * ~`avgTextBytes x rows` corpus bytes appears in ~`spanTokens`
    * rolling span strings. */
  def spanShuffleEstimate(avgTextBytes: Double, rows: Long,
      spanTokens: Int): Double = avgTextBytes * rows * spanTokens

  /** Crossover above which [[SpanAuto]] picks the hash-first form. The
    * local measurement (sf0.1: exact 2.6 s vs hashFirst 15 s at ~140 MB
    * estimated span shuffle — PERF lesson 15) shows the exact path wins
    * while span strings fit comfortably in one shuffle; 4 GiB is where
    * the string shuffle starts to bind on a network-bound cluster while
    * the hash pass still moves 8 bytes/span. */
  val SpanHashFirstThresholdBytes: Double = 4.0 * (1L << 30).toDouble

  /** Pure selection rule behind [[SpanAuto]] (unit-testable). */
  def selectSpanVariant(avgTextBytes: Double, rows: Long,
      spanTokens: Int): SpanVariant =
    if (spanShuffleEstimate(avgTextBytes, rows, spanTokens)
        >= SpanHashFirstThresholdBytes) SpanHashFirst
    else SpanExact

  private def duplicateSpansExactStrings(df: DataFrame, textCol: String,
      idCol: String, spanTokens: Int): DataFrame = {
    // native one-pass span kernel (cross-validated against the HOF
    // formulation in NativeExprSpec); interpreted transform/slice/
    // array_join lambdas measured ~3x slower on this volume
    val sp = df.select(col(idCol).as("id"),
      explode(F.tokenSpans(col(textCol), spanTokens)).as("s"))
    // pre-aggregate per (doc, span): the distinct-doc count becomes a
    // plain row count (no countDistinct expand) and the join back runs
    // on the DISTINCT (doc, span) rows, not every position (with the
    // native span kernel: 7.4 -> 2.6 s measured at sf0.1)
    val spc = sp.groupBy(col("id"), col("s"))
      .agg(count(lit(1)).as("c"))
    val dfs = spc.groupBy("s").agg(count(lit(1)).as("span_df"))
    spc.join(dfs, "s").groupBy(col("id"))
      .agg(sum(col("c")).as("n_spans"),
        sum(when(col("span_df") >= 2, col("c")).otherwise(0L))
          .as("n_dup_spans"),
        max(col("span_df")).as("max_span_df"))
  }

  /** The shuffle-optimal form of [[duplicateSpans]]: pass 1 shuffles
    * (id, hash) per span position (one long, no string build — the
    * native span_hashes kernel, a rolling char-polynomial; the hash
    * CHOICE is free because a true duplicate span repeats any hash and
    * collisions are corrected by the exact regroup); pass 2
    * re-materializes span STRINGS only for positions whose hash occurs
    * in >= 2 docs — in an organic corpus a sliver of the input — and
    * regroups them exactly.
    *
    * MEASURED: round 5's interpreted-lambda form lost 15 s to 2.6 s
    * at sf0.1; the native kernels close the gap entirely (2.2 s vs
    * 2.3 s — the hash pass is no longer paying the HOF constant, PERF
    * lesson 3). Locally the two forms now tie, so [[SpanAuto]]'s
    * threshold only matters where it should: span-string shuffle
    * VOLUME (wide spans, long docs, network-bound clusters), where
    * pass 1's 8-byte rows win by construction. */
  private def duplicateSpansHashFirst(df: DataFrame, textCol: String,
      idCol: String, spanTokens: Int): DataFrame = {
    // pass 1: slim (id, hh) position rows
    val sp1 = df.select(col(idCol).as("id"),
      explode(F.spanHashes(col(textCol), spanTokens)).as("hh"))
    val spc1 = sp1.groupBy(col("id"), col("hh")).agg(count(lit(1)).as("c"))
    val dfs1 = spc1.groupBy("hh").agg(count(lit(1)).as("hash_df"))
    val nSpans = spc1.groupBy(col("id")).agg(sum(col("c")).as("n_spans"))
    // pass 2: exact string regroup of the hot-hash positions only
    // (span_hashes[i] == char_poly_hash(token_spans[i]) by construction,
    // property-tested in NativeExprSpec)
    val hot = dfs1.filter(col("hash_df") >= 2).select(col("hh"))
    val sp2 = df.select(col(idCol).as("id"),
        explode(F.tokenSpans(col(textCol), spanTokens)).as("s"))
      .select(col("id"), F.charPolyHash(col("s")).as("hh"), col("s"))
      // deliberately UNHINTED: on an organic corpus the hot set
      // (hashes seen in >= 2 docs) is a sliver and AQE broadcasts it
      // at runtime from the measured shuffle stats, so cold-span
      // strings never shuffle; on a duplication-heavy web corpus the
      // distinct duplicated spans run to billions, and a FORCED
      // broadcast would materialize them on the driver and die at the
      // broadcast ceiling — exactly the regime SpanAuto picks this
      // kernel for. AQE keeps the shuffle join there; the plan flips
      // with the data (asserted both ways in PlanSpec).
      .join(hot, "hh")
    val spc2 = sp2.groupBy(col("id"), col("s")).agg(count(lit(1)).as("c"))
    val dfs2 = spc2.groupBy("s").agg(count(lit(1)).as("span_df"))
    val verified = spc2.join(dfs2, "s").groupBy(col("id"))
      .agg(sum(when(col("span_df") >= 2, col("c")).otherwise(0L))
          .as("__dup"),
        max(col("span_df")).as("__max"))
    nSpans.join(verified, Seq("id"), "left")
      .select(col("id"), col("n_spans"),
        coalesce(col("__dup"), lit(0L)).as("n_dup_spans"),
        greatest(coalesce(col("__max"), lit(1L)), lit(1L))
          .as("max_span_df"))
  }

  /** Duplicated rolling-span START positions (id, pos) — the shared
    * candidate kernel of [[spanCoverage]] and [[exactSubstrDedup]].
    * Duplicate rule: the span's TEXT occurs >= 2 times corpus-wide,
    * same-doc repeats included (the suffix-array semantics). Exact path
    * groups span strings directly; the hash-first 100 TB path shuffles
    * (id, pos, hash) longs, keeps only positions whose hash repeats
    * (hot-set join — UNHINTED so AQE broadcasts it only when its
    * measured size is small; cold-span strings never shuffle), and
    * regroups those few exactly — identical output by construction: a
    * true duplicate span always repeats its hash, and a hash collision
    * is corrected by the exact regroup. [[SpanAuto]] picks by the same
    * estimated span-string shuffle volume as [[duplicateSpans]]. */
  private def duplicatedStarts(df: DataFrame, textCol: String,
      idCol: String, k: Int, variant: SpanVariant): DataFrame = {
    val v = variant match {
      case SpanAuto =>
        val r = df.agg(avg(length(col(textCol))).as("a"),
          count(lit(1)).as("n")).head()
        val avgLen = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
        selectSpanVariant(avgLen, r.getLong(1), k)
      case pinned => pinned
    }
    val sp = if (v == SpanHashFirst) {
      val hot = df.select(
          explode(F.spanHashes(col(textCol), k)).as("hh"))
        .groupBy("hh").agg(count(lit(1)).as("occ"))
        .filter(col("occ") >= 2).select("hh")
      df.select(col(idCol).as("id"),
          posexplode(F.tokenSpans(col(textCol), k)).as(Seq("pos", "s")))
        .withColumn("hh", F.charPolyHash(col("s")))
        // unhinted on purpose — see duplicateSpansHashFirst: AQE
        // broadcasts the hot set when small, keeps the shuffle join
        // when a duplication-heavy corpus makes it billions of rows
        .join(hot, "hh")
        .select(col("id"), col("pos"), col("s"))
    } else df.select(col(idCol).as("id"),
      posexplode(F.tokenSpans(col(textCol), k)).as(Seq("pos", "s")))
    sp.join(
      sp.groupBy("s").agg(count(lit(1)).as("occ"))
        .filter(col("occ") >= 2).select("s"),
      "s").select(col("id"), col("pos"))
  }

  /** Merged-interval duplicate-span COVERAGE — the removal-decision
    * metric behind Lee et al. 2021's ExactSubstr dedup (arXiv:2107.06499
    * §4.1; the released suffix-array tool cuts every repeated span): per
    * doc, how many TOKENS fall inside at least one duplicated span, with
    * overlapping rolling spans merged so a 10-token repeat counts 10,
    * not 3 spans x 8 tokens. A span is "duplicated" when its text occurs
    * >= 2 times corpus-wide (any doc, including the same doc at another
    * position — the suffix-array semantics, unlike [[duplicateSpans]]'s
    * distinct-doc df).
    *
    * Returns (id, n_tokens, covered_tokens, n_intervals) — all BIGINT so
    * the differential oracle hash-matches without float drift;
    * `covered_tokens / n_tokens` is the paper's coverage ratio,
    * computable downstream at whatever precision the caller wants.
    *
    * Scale shape: the duplicated-start kernel ([[duplicatedStarts]] —
    * exact span-string groupBy, or the hash-first 100 TB form under
    * the same [[SpanAuto]] volume rule as [[duplicateSpans]]), then
    * ONE window sorted by position WITHIN each doc — per-partition
    * state is one doc's duplicated starts, so the sort is bounded by
    * doc length, never by corpus size. Interval merging exploits the
    * fixed span width: with starts sorted, covered =
    * sum(min(k, next_start - start)) and a new merged interval begins
    * exactly when start - prev_start > k. */
  def spanCoverage(df: DataFrame, textCol: String, idCol: String,
      spanTokens: Int = 8, variant: SpanVariant = SpanAuto): DataFrame = {
    val k = spanTokens
    val dup = duplicatedStarts(df, textCol, idCol, k, variant)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    val cov = dup
      .withColumn("nxt", lead(col("pos"), 1).over(w))
      .withColumn("prv", lag(col("pos"), 1).over(w))
      .groupBy("id")
      .agg(
        sum(least(lit(k.toLong),
          coalesce(col("nxt") - col("pos"), lit(k.toLong)).cast("long")))
          .as("covered_tokens"),
        sum(when(col("prv").isNull || col("pos") - col("prv") > k, 1L)
          .otherwise(0L)).as("n_intervals"))
    df.select(col(idCol).as("id"),
        size(filter(split(col(textCol), " "), t => t =!= ""))
          .cast("long").as("n_tokens"))
      .join(cov, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        coalesce(col("n_intervals"), lit(0L)).as("n_intervals"))
  }

  /** The ExactSubstr REMOVAL transform itself — the pipeline stage that
    * consumes [[spanCoverage]]'s decision: every token covered by a
    * duplicated span (same corpus-wide >= 2-occurrence rule) is dropped
    * and the survivors re-join in original order. This matches the
    * released Lee et al. tool's behavior of cutting EVERY occurrence of
    * a repeated span (the paper discusses keeping one copy; the code
    * cuts all — we implement the code's semantics because it is
    * deterministic without a global occurrence ordering).
    *
    * Returns (id, n_tokens, kept_tokens, clean_text); a fully-duplicated
    * doc survives with kept_tokens = 0 and clean_text = '' (the caller
    * decides whether to drop empties — that's a filter, not this op's
    * job).
    *
    * Scale shape: duplicated starts ([[duplicatedStarts]], exact or
    * hash-first under the [[SpanAuto]] volume rule) fan out x spanTokens
    * into covered token indices (bounded small-constant explode),
    * distinct once, then a LEFT ANTI join against (id, position, token)
    * rows — all equi-joins on (id, j). Reassembly is a per-doc sort
    * inside an aggregate (array_sort over structs), bounded by doc
    * length. No driver-side anything. */
  def exactSubstrDedup(df: DataFrame, textCol: String, idCol: String,
      spanTokens: Int = 8, variant: SpanVariant = SpanAuto): DataFrame = {
    val k = spanTokens
    val dup = duplicatedStarts(df, textCol, idCol, k, variant)
    val covered = dup
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("j"))
      .distinct()
    val toks = df.select(col(idCol).as("id"),
      posexplode(filter(split(col(textCol), " "), t => t =!= ""))
        .as(Seq("j", "tok")))
    val kept = toks.join(covered, Seq("id", "j"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("j"), col("tok")))),
            x => x.getField("tok")), " ").as("clean_text"))
    df.select(col(idCol).as("id"),
        size(filter(split(col(textCol), " "), t => t =!= ""))
          .cast("long").as("n_tokens"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Embedding near-dup pairs: LSH bucket candidates verified by exact
    * cosine >= `threshold`. `bits <= 0` (the default) derives the
    * signature width from the corpus size ([[deriveBits]]; costs one
    * count job) — pass it explicitly to pin bucket boundaries across
    * runs or match a standing index.
    *
    * OR-amplification: with derived bits, `tables` also derives
    * ([[deriveTables]]) and candidates come from ANY of the L
    * independent tables — single-table recall would otherwise decay as
    * the corpus (hence bits) grows. Pinned `bits` with default `tables`
    * stays single-table (the historical, oracle-pinned behavior).
    * Multi-table plan shape: the self-join runs on SLIM (id, table,
    * sig) rows, pairs are deduped BEFORE vectors are fetched, and the
    * two vector join-backs are hash joins on id — so the L-fold row
    * multiplication never shuffles a vector, only 20-byte sig rows. */
  def embeddingNearDups(df: DataFrame, vecCol: String, idCol: String,
      bits: Int = 0, threshold: Double = 0.35, tables: Int = 0)
      : DataFrame = {
    val (b, l) = lshParams(df, bits, tables)
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(F.dotF(col(vecCol), col(vecCol))).as("nrm"))
    if (l == 1) {
      // single-table: one shuffle join carrying vectors (cheapest form,
      // and byte-compatible with every pinned-bits caller)
      val vb = v.withColumn("bucket", F.vecLsh(col("v"), b))
      val v2 = vb.toDF("id2", "v2", "nrm2", "bucket2")
      vb.join(v2, col("bucket") === col("bucket2") && col("id") < col("id2"))
        .select(col("id").as("id_a"), col("id2").as("id_b"),
          (F.dotF(col("v"), col("v2")) / (col("nrm") * col("nrm2")))
            .as("cos_sim"))
        .filter(col("cos_sim") >= threshold)
    } else {
      val slim = df.select(col(idCol).as("id"),
          posexplode(lshSigs(col(vecCol), b, l)).as(Seq("t", "sig")))
      val cand = slim.join(slim.toDF("id2", "t2", "sig2"),
          col("t") === col("t2") && col("sig") === col("sig2") &&
            col("id") < col("id2"))
        .select(col("id").as("id_a"), col("id2").as("id_b"))
        .distinct()
      cand
        .join(v.toDF("id_a", "va", "nrm_a"), "id_a")
        .join(v.toDF("id_b", "vb", "nrm_b"), "id_b")
        .select(col("id_a"), col("id_b"),
          (F.dotF(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")))
            .as("cos_sim"))
        .filter(col("cos_sim") >= threshold)
    }
  }

  // -------------------------------------------------------------------
  // Bloom-filter exact-dedup gate
  // -------------------------------------------------------------------

  /** Per-shard Bloom width for `n` corpus keys across `shards` shards at
    * `bitsPerKey` bits each: the next power of two >= bitsPerKey*n/shards
    * (floor 64, cap 2^30 = 128 MB/shard). Power-of-two `m` keeps the
    * Kirsch–Mitzenmacher probe sequence full-period; deriving from N is
    * the same discipline as [[deriveBits]] — a pinned width saturates as
    * the corpus grows (false-positive rate -> 1) exactly like a pinned
    * bucket count degenerates to quadratic verify. */
  def deriveBloomBits(n: Long, bitsPerKey: Int = 16, shards: Int = 1): Int = {
    require(bitsPerKey >= 1 && shards >= 1)
    val want = math.min(1L << 30,
      math.max(64L, bitsPerKey.toLong * n / shards))
    if ((want & (want - 1)) == 0L) want.toInt
    else (java.lang.Long.highestOneBit(want) << 1).toInt
  }

  /** Build a sharded Bloom index over a LONG hash column: one row per
    * shard (`shard = hash mod shards`) with the m-bit bitmap as an
    * `array<bigint>` words column, plus the recorded geometry
    * (`m_bits`, `k_hashes`, `shards` — the [[embeddingIndex]]
    * discipline: the artifact carries its own parameters and
    * [[bloomGate]] refuses a mixed-geometry union).
    *
    * Scale: the build is ONE aggregate whose map-side partials are
    * m/8-byte bitmaps ORed together ([[graft.functions.BloomBuildAgg]])
    * — over 10^10 corpus hashes the exchange moves
    * `#partitions * shards * m/8` bytes, never the hashes. A single
    * 2^30-bit shard holds ~10^8 keys at 10 bits/key; shard to grow
    * beyond that (and to spread the probe-side broadcast). */
  def bloomIndex(corpus: DataFrame, hashCol: String, shards: Int = 1,
      bitsPerKey: Int = 16, k: Int = 4, mBits: Int = 0): DataFrame = {
    val s = math.max(1, shards)
    val m = if (mBits > 0) mBits
      else deriveBloomBits(corpus.count(), bitsPerKey, s)
    corpus.groupBy(pmod(col(hashCol), lit(s.toLong)).as("shard"))
      .agg(F.bloomAgg(col(hashCol), m, k).as("words"))
      .withColumn("m_bits", lit(m))
      .withColumn("k_hashes", lit(k))
      .withColumn("shards", lit(s))
  }

  /** Content-hash rows of an EXACT-dedup standing index: one (id, h)
    * row per doc, h = the char-polynomial hash of the text — the state
    * the exact-dup ingest gate joins against. Registered through the
    * engine (`dedup index create type=exact`) it joins the managed
    * fleet: ingest auto-fold appends, delete/drop-partition tombstone
    * (so RETENTION can forget content — a dropped doc's text becomes
    * re-ingestable instead of being refused forever by a corpse hash),
    * and the Bloom PREFILTER rides as a rebuilt sidecar (extra bits
    * only cost false-positive probes and the rebuild keeps the fp rate
    * honest as the corpus shrinks/grows; MISSING bits would let
    * duplicates through, since a Bloom miss skips the exact join). */
  def exactHashIndex(corpus: DataFrame, textCol: String,
      idCol: String): DataFrame =
    corpus.select(col(idCol).as("id"),
      F.charPolyHash(col(textCol)).as("h"))

  /** Tombstone doc ids out of an exact-hash index (pure anti-join). */
  def deleteFromExactIndex(index: DataFrame, ids: DataFrame): DataFrame =
    index.join(ids.toDF("__del"), col("id") === col("__del"), "left_anti")

  /** Gate a batch against an exact-hash index: adds `is_dup` (1 when
    * the batch text's hash exists in the index under a DIFFERENT id).
    * `bloom`: optional prefilter sidecar ([[bloomIndex]] over the same
    * hashes) — misses skip the index join entirely (the 100 TB fast
    * path); hits fall through to the exact join, so an absent sidecar
    * or one with extra bits never changes the answer. One that lacks
    * the bits of some indexed hashes does: a miss is taken as "new". */
  def exactGate(batch: DataFrame, index: DataFrame,
      bloom: Option[DataFrame], textCol: String, idCol: String)
      : DataFrame = {
    val hb = batch.select(col(idCol).as("__bid"),
      F.charPolyHash(col(textCol)).as("__h"))
    val maybes = bloom match {
      case Some(bl) => bloomGate(hb, bl, "__h")
        .filter(col("bloom_hit")).drop("bloom_hit")
      case None => hb
    }
    val dups = maybes.join(index,
        col("__h") === col("h") && col("__bid") =!= col("id"), "left_semi")
      .select(col("__bid"), lit(1).as("is_dup"))
    batch.select(col(idCol).as("__bid"))
      .join(dups, Seq("__bid"), "left")
      .select(col("__bid").as(idCol),
        coalesce(col("is_dup"), lit(0)).as("is_dup"))
  }

  /** Recorded (m, k, shards) of a Bloom index; loud on mixed geometry. */
  def bloomMeta(index: DataFrame): (Int, Int, Int) = {
    val metas = index.select(col("m_bits"), col("k_hashes"), col("shards"))
      .distinct().take(2)
    require(metas.length == 1, "mixed-geometry bloom index: " +
      metas.map(r => s"(m=${r.getInt(0)}, k=${r.getInt(1)}, " +
        s"shards=${r.getInt(2)})").mkString(", "))
    val r = metas.head
    (r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** Probe a batch against a Bloom index: adds `hitName` (boolean) —
    * false means DEFINITELY not in the corpus (the gate's fast path:
    * those rows skip the exact-verify join entirely), true means "maybe"
    * at the index's false-positive rate. The index is broadcast (shards
    * * m/8 bytes) so the probe is map-side — zero shuffle of the batch;
    * pass `broadcastIndex = false` once the total bitmap outgrows the
    * broadcast budget and the join shuffles ONLY the batch by shard. */
  def bloomGate(batch: DataFrame, index: DataFrame, hashCol: String,
      hitName: String = "bloom_hit",
      broadcastIndex: Boolean = true): DataFrame = {
    val (m, k, s) = bloomMeta(index)
    val slim = index.select(col("shard"), col("words"))
    val idx = if (broadcastIndex) broadcast(slim) else slim
    batch
      .join(idx, pmod(col(hashCol), lit(s.toLong)) === col("shard"), "left")
      .withColumn(hitName,
        coalesce(F.bloomMaybe(col("words"), col(hashCol), m, k), lit(false)))
      .drop("shard", "words")
  }

  /** OR-merge two Bloom indexes of identical geometry (the incremental
    * refresh path: standing ∨ batch — set-union semantics, exact). */
  def mergeBloomIndexes(a: DataFrame, b: DataFrame): DataFrame = {
    val (ma, ka, sa) = bloomMeta(a)
    val (mb, kb, sb) = bloomMeta(b)
    require((ma, ka, sa) == (mb, kb, sb),
      s"bloom geometry mismatch: ($ma,$ka,$sa) vs ($mb,$kb,$sb)")
    a.unionByName(b)
      .groupBy(col("shard"))
      .agg(reduce(collect_list(col("words")),
          lit(null).cast("array<bigint>"),
          (acc, w) => when(acc.isNull, w)
            .otherwise(zip_with(acc, w, (x, y) => x.bitwiseOR(y))))
        .as("words"))
      .withColumn("m_bits", lit(ma))
      .withColumn("k_hashes", lit(ka))
      .withColumn("shards", lit(sa))
  }
}

/** Public similarity-search API (brute-force and bucketed ANN). */
object Similarity {

  /** Exact top-k cosine neighbors of each probe row against `corpus`.
    * Probes are broadcast — keep the probe set bounded. */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
      idCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(F.dotF(col(vecCol), col(vecCol))).as("nrm"))
    val p = probes.select(col(idCol).as("q_id"), col(vecCol).as("q_v"),
      sqrt(F.dotF(col(vecCol), col(vecCol))).as("q_nrm"))
    broadcast(p).join(c, col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"),
        (F.dotF(col("q_v"), col("v")) / (col("q_nrm") * col("nrm")))
          .as("cos_sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("id"))))
      .filter(col("rank") <= k)
  }

  /** Nearest-centroid assignment (squared-L2 argmin, ties to the lowest
    * centroid id) — the shared kernel of IVF search, k-means, and
    * SemDeDup cell formation. */
  private[ops] def assign(e: DataFrame, cents: DataFrame): DataFrame =
    e.join(broadcast(cents))
      .select(col("id"), col("v"), col("n2"), col("cent_id"),
        (col("n2") - lit(2.0) * F.dotF(col("v"), col("cv")) + col("cn2"))
          .as("dist2"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("dist2"), col("cent_id"))))
      .filter(col("rn") === 1)
      .select(col("id"), col("v"), col("n2"), col("cent_id"), col("dist2"))

  /** Lloyd's k-means refinement of the IVF seed centroids: `iters`
    * rounds of assign (broadcast centroids, map-side) + recenter (one
    * aggregate per round over (cell, dimension)). Each round's centroid
    * table is tiny (k rows) and localCheckpoint'd so iteration lineage
    * stays O(1) — the same discipline as Dedup.connectedComponents.
    * Float means use double accumulation; partial-agg order makes the
    * low bits nondeterministic, which is inherent to distributed k-means
    * and harmless to search quality (cells shift by ULPs, not members).
    */
  def kmeansCentroids(corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int = 3): DataFrame = {
    val e = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      F.dotF(col(vecCol), col(vecCol)).as("n2"))
    // seed centroids are consumed only inside round 1 — their
    // truncation folds into round 1's checkpoint job (one eager action
    // per ROUND, not per round + seed; see pqTrainSubs)
    var cents = e.orderBy(col("id")).limit(k)
      .select(col("id").as("cent_id"), col("v").as("cv"), col("n2").as("cn2"))
    if (iters == 0) cents = cents.localCheckpoint()
    for (_ <- 1 to iters) {
      val recentered = assign(e, cents)
        .select(col("cent_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cent_id"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("cent_id"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), " +
          "s -> cast(s.m as float))").as("cv"))
        .select(col("cent_id"), col("cv"), F.dotF(col("cv"), col("cv")).as("cn2"))
      // a cell that lost all members keeps its previous centroid
      cents = cents.select(col("cent_id"), col("cv").as("old_cv"),
          col("cn2").as("old_cn2"))
        .join(recentered.toDF("cent_id", "new_cv", "new_cn2"),
          Seq("cent_id"), "left")
        .select(col("cent_id"),
          coalesce(col("new_cv"), col("old_cv")).as("cv"),
          coalesce(col("new_cn2"), col("old_cn2")).as("cn2"))
        .localCheckpoint()
    }
    cents
  }

  /** Integer-quantized Lloyd refinement with EXACTLY reproducible
    * arithmetic, returning the final per-vector assignment
    * (id, cell_id, cell_size). Vectors quantize to `floor(x * scale)`
    * longs; a centroid is kept as its (sum-vector, member-count) pair so
    * recentering is an integer sum (exact under ANY partial-aggregation
    * order) and the assignment argmin compares
    * `(m^2*|x|^2 - 2m*(x.s) + |s|^2) / m^2` where the numerator and
    * divisor are exact int64 — the double division of two identical
    * longs is IEEE-deterministic on every engine. [[kmeansCentroids]]
    * (float means) is ULP-nondeterministic across reduction orders:
    * fine for search quality, wrong for a differentially-tested /
    * CI-pinned curation pipeline — this is the reproducible variant
    * (oracle-checked end-to-end as q94).
    *
    * Overflow guard: pick `scale` so that
    * dims * (maxRowsPerCell * scale * max|x|)^2 < 2^62. The defaults
    * (scale 1000, 64 dims, |x| <= ~1) hold to ~65k rows per cell; at
    * larger cells lower `scale`. */
  def quantizedKmeans(corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int = 1, scale: Int = 1000): DataFrame = {
    require(k > 0 && iters >= 0 && scale > 0, "k, iters, scale must be positive")
    def dotq(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), " +
        s"cast(0 as bigint), (acc, v) -> acc + v)"
    val e = corpus.select(col(idCol).as("id"),
      expr(s"transform($vecCol, x -> cast(floor(x * $scale) as bigint))")
        .as("vq"))
    // seed checkpoint folded into round 1 (one action per round — see
    // pqTrainSubs); iters == 0 keeps it: the seeds are the result
    var cents = e.orderBy(col("id")).limit(k)
      .select(col("id").as("cent_id"), col("vq").as("s"), lit(1L).as("m"))
    if (iters == 0) cents = cents.localCheckpoint()
    def assignQ(cs: DataFrame): DataFrame =
      e.join(broadcast(cs))
        .withColumn("num",
          col("m") * col("m") * expr(dotq("vq", "vq"))
            - lit(2L) * col("m") * expr(dotq("vq", "s"))
            + expr(dotq("s", "s")))
        .withColumn("dist", col("num").cast("double")
          / (col("m") * col("m")).cast("double"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
            .orderBy(col("dist"), col("cent_id"))))
        .filter(col("rn") === 1)
        .select(col("id"), col("cent_id"))
    for (_ <- 1 to iters) {
      val re = assignQ(cents).join(e, "id")
        .select(col("cent_id"), posexplode(col("vq")).as(Seq("pos", "x")))
        .groupBy(col("cent_id"), col("pos"))
        .agg(sum(col("x")).as("sv"), count(lit(1)).as("cm"))
        .groupBy(col("cent_id"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, sv))), " +
          "p -> p.sv)").as("s"), max(col("cm")).as("m"))
      // a cell that lost all members keeps its previous (sum, count)
      cents = cents.select(col("cent_id"), col("s").as("os"),
          col("m").as("om"))
        .join(re.toDF("cent_id", "ns", "nm"), Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("ns"), col("os")).as("s"),
          coalesce(col("nm"), col("om")).as("m"))
        .localCheckpoint()
    }
    val fin = assignQ(cents)
    fin.join(fin.groupBy("cent_id").agg(count(lit(1)).as("cell_size")),
        "cent_id")
      .select(col("id"), col("cent_id").as("cell_id"), col("cell_size"))
  }

  /** Total within-cluster squared distance — the k-means objective, for
    * measuring refinement quality. */
  def inertia(corpus: DataFrame, cents: DataFrame, vecCol: String,
      idCol: String): Double = {
    val e = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      F.dotF(col(vecCol), col(vecCol)).as("n2"))
    assign(e, cents).agg(sum(col("dist2"))).head().getDouble(0)
  }

  /** IVF-style top-k: vectors assigned to their nearest centroid, probes
    * search only their own cell. Centroids are the first `numCentroids`
    * ids' vectors, optionally refined by `kmeansIters` Lloyd rounds
    * (`centroids` stay small — broadcast). */
  def ivfTopK(corpus: DataFrame, probeFilter: Column, vecCol: String,
      idCol: String, k: Int, numCentroids: Int,
      kmeansIters: Int = 0): DataFrame = {
    val e = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      F.dotF(col(vecCol), col(vecCol)).as("n2"))
    val cents =
      if (kmeansIters > 0)
        kmeansCentroids(corpus, vecCol, idCol, numCentroids, kmeansIters)
      else e.orderBy(col("id")).limit(numCentroids)
        .select(col("id").as("cent_id"), col("v").as("cv"), col("n2").as("cn2"))
    val assigned = e.join(broadcast(cents))
      .select(col("id"), col("v"), col("n2"), col("cent_id"),
        (col("n2") - lit(2.0) * F.dotF(col("v"), col("cv")) + col("cn2"))
          .as("dist2"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("dist2"), col("cent_id"))))
      .filter(col("rn") === 1)
      .select(col("id"), col("v"), col("n2"), col("cent_id"))
    val probes = assigned.filter(probeFilter)
      .select(col("id").as("q_id"), col("v").as("q_v"),
        col("n2").as("q_n2"), col("cent_id").as("q_cell"))
    broadcast(probes)
      .join(assigned,
        col("q_cell") === col("cent_id") && col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"),
        (F.dotF(col("q_v"), col("v")) / (sqrt(col("q_n2")) * sqrt(col("n2"))))
          .as("cos_sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("id"))))
      .filter(col("rank") <= k)
  }

  /** Approximate top-k: probes search only their hyperplane-LSH bucket. */
  /** Sign bits lo..lo+31 of a float-array column packed into one long
    * (two 32-bit halves per 64-dim vector — checked BIGINT engines
    * reject a 64-bit pack's sign bit). */
  private def signBits(v: Column, lo: Int): Column =
    aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, j) =>
      acc + when(element_at(v, j + lit(lo + 1)) > lit(0f),
        call_function("shiftleft", lit(1L), j)).otherwise(lit(0L)))

  /** Binary-quantized ANN: 1 sign bit per dimension, integer hamming
    * pre-rank to `preK` candidates per probe, exact-cosine re-rank to
    * top `k`. The memory-bandwidth variant for 64-dim vectors: the
    * scan side touches 8 bytes per vector, the pre-rank window carries
    * slim (q_id, id, hamming) rows only, and full vectors are fetched
    * by joining the <=preK survivors back. Deterministic (id
    * tie-breaks on both ranks). NB: rows where the probe id equals the
    * corpus id are EXCLUDED (self-match suppression, like
    * bruteForceTopK/lshTopK) — probes and corpus must share an id
    * namespace, or a corpus row that coincidentally reuses a probe id
    * is silently dropped from that probe's candidates. */
  def binaryQuantTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
      idCol: String, k: Int, preK: Int = 20): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(F.dotF(col(vecCol), col(vecCol))).as("nrm"),
      signBits(col(vecCol), 0).as("s1"), signBits(col(vecCol), 32).as("s2"))
    val p = probes.select(col(idCol).as("q_id"), col(vecCol).as("q_v"),
      sqrt(F.dotF(col(vecCol), col(vecCol))).as("q_nrm"),
      signBits(col(vecCol), 0).as("q_s1"),
      signBits(col(vecCol), 32).as("q_s2"))
    val slim = broadcast(p.select(col("q_id"), col("q_s1"), col("q_s2")))
      .join(c.select(col("id"), col("s1"), col("s2")),
        col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"),
        (bit_count(col("q_s1").bitwiseXOR(col("s1"))) +
          bit_count(col("q_s2").bitwiseXOR(col("s2")))).as("hamming"))
      .withColumn("pre_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("hamming"), col("id"))))
      .filter(col("pre_rank") <= preK)
    slim
      .join(broadcast(p.select(col("q_id"), col("q_v"), col("q_nrm"))),
        "q_id")
      .join(c.select(col("id"), col("v"), col("nrm")), "id")
      .withColumn("cos_sim",
        F.dotF(col("q_v"), col("v")) / (col("q_nrm") * col("nrm")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("id"), col("hamming"),
        col("cos_sim"))
  }

  /** Hard-negative mining for contrastive training: per probe, the
    * `k` most-similar in-bucket vectors whose cosine is still BELOW
    * `maxSim` — near in LSH space, dissimilar in embedding space, the
    * negatives that actually move a contrastive loss. Same bucket-join
    * shape as `lshTopK` (bucket key bounds the join; probes broadcast),
    * with the similarity ceiling applied before the rank. */
  def hardNegatives(corpus: DataFrame, probes: DataFrame, vecCol: String,
      idCol: String, k: Int, maxSim: Double, bits: Int = 0,
      tables: Int = 0): DataFrame =
    lshCandidates(corpus, probes, vecCol, idCol, bits, tables)
      .filter(col("cos_sim") < maxSim)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("id"))))
      .filter(col("rank") <= k)

  /** Approximate top-k via shared hyperplane-LSH bucket. `bits <= 0`
    * derives the signature width from the corpus size AND the table
    * count from the recall target (OR-amplification — candidates come
    * from ANY of the L independent tables; pinned bits stay
    * single-table unless `tables` is passed). One count job when
    * deriving. */
  def lshTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
      idCol: String, k: Int, bits: Int = 0, tables: Int = 0): DataFrame =
    lshCandidates(corpus, probes, vecCol, idCol, bits, tables)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("id"))))
      .filter(col("rank") <= k)

  /** Shared candidate kernel of [[lshTopK]] / [[hardNegatives]]:
    * (q_id, id, cos_sim) for every probe/corpus pair sharing >= 1 LSH
    * bucket. Probes broadcast, so the table explosion multiplies only
    * MAP-SIDE rows (no shuffle); with L > 1 a pair seen in several
    * tables is reduced to one row by a slim (q_id, id) aggregate before
    * any window. */
  private def lshCandidates(corpus: DataFrame, probes: DataFrame,
      vecCol: String, idCol: String, bits: Int, tables: Int): DataFrame = {
    val (b, l) =
      if (bits > 0) (bits, math.max(1, tables))
      else {
        val bb = Dedup.deriveBits(corpus.count())
        (bb, if (tables > 0) tables else Dedup.deriveTables(bb))
      }
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(F.dotF(col(vecCol), col(vecCol))).as("nrm"),
      posexplode(Dedup.lshSigs(col(vecCol), b, l)).as(Seq("t", "sig")))
    val p = probes.select(col(idCol).as("q_id"), col(vecCol).as("q_v"),
      sqrt(F.dotF(col(vecCol), col(vecCol))).as("q_nrm"),
      posexplode(Dedup.lshSigs(col(vecCol), b, l)).as(Seq("t", "sig")))
    val joined = broadcast(p).join(c,
        p("t") === c("t") && p("sig") === c("sig") &&
          col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"),
        (F.dotF(col("q_v"), col("v")) / (col("q_nrm") * col("nrm")))
          .as("cos_sim"))
    if (l == 1) joined
    else joined.groupBy(col("q_id"), col("id"))
      .agg(max(col("cos_sim")).as("cos_sim"))
  }

  // -------------------------------------------------------------------
  // Standing IVF index — ANN serving from a persisted artifact
  // -------------------------------------------------------------------

  /** Build a STANDING IVF index: every corpus vector with its nearest
    * centroid, plus the centroid table itself, in ONE frame (`role` =
    * "row" | "cent") so the whole artifact commits through a single
    * [[IndexStore]] dir. The centroids travel WITH the index (the
    * geometry discipline): [[refreshIvfIndex]] assigns new vectors to
    * the RECORDED centroids — classic IVF add, no re-clustering, cells
    * stay aligned across batches — and [[ivfSearchIndex]] reads them
    * for probe routing. `numCentroids = 0` derives
    * [[Dedup.deriveCells]](corpus count): ~targetRows vectors per cell,
    * so within-cell search cost stays constant as the corpus grows. */
  def ivfIndex(corpus: DataFrame, vecCol: String, idCol: String,
      numCentroids: Int = 0, kmeansIters: Int = 0): DataFrame = {
    val e = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      F.dotF(col(vecCol), col(vecCol)).as("n2"))
    val nc = if (numCentroids > 0) numCentroids
      else Dedup.deriveCells(corpus.count())
    val cents =
      if (kmeansIters > 0)
        kmeansCentroids(corpus, vecCol, idCol, nc, kmeansIters)
      else e.orderBy(col("id")).limit(nc)
        .select(col("id").as("cent_id"), col("v").as("cv"),
          col("n2").as("cn2"))
    assign(e, cents).drop("dist2")
      .withColumn("role", lit("row"))
      .unionByName(cents
        .select(col("cent_id").as("id"), col("cv").as("v"),
          col("cn2").as("n2"), col("cent_id"))
        .withColumn("role", lit("cent")))
  }

  /** The centroid table recorded inside a standing IVF index. */
  def ivfCentroids(index: DataFrame): DataFrame =
    index.filter(col("role") === "cent")
      .select(col("cent_id"), col("v").as("cv"), col("n2").as("cn2"))

  /** Fold new vectors into the standing index: assign to the RECORDED
    * centroids and append — the corpus is never re-read, and existing
    * cell boundaries never move (rebuild with [[ivfIndex]] when mean
    * cell occupancy outgrows the [[Dedup.deriveCells]] target).
    * Replay-safe the ingest-gate way: rows carrying the batch's own ids
    * are dropped before the fold. */
  def refreshIvfIndex(index: DataFrame, newVecs: DataFrame,
      vecCol: String, idCol: String): DataFrame = {
    val e = newVecs.select(col(idCol).as("id"), col(vecCol).as("v"),
      F.dotF(col(vecCol), col(vecCol)).as("n2"))
    index
      .join(e.select(col("id")).withColumnRenamed("id", "__bid"),
        col("id") === col("__bid") && col("role") === "row", "left_anti")
      .unionByName(assign(e, ivfCentroids(index)).drop("dist2")
        .withColumn("role", lit("row")))
  }

  /** Serve top-k cosine neighbors for `queries` from the standing
    * index. Probes route to their `nprobe` nearest centroids (nprobe >
    * 1 recovers neighbors that fell across a cell boundary — the
    * standard IVF recall lever) and search ONLY those cells: broadcast
    * probes against cell-pruned corpus rows, one window for the top-k.
    * Self-matches (same id) are excluded like bruteForceTopK. */
  def ivfSearchIndex(index: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int, nprobe: Int = 1): DataFrame = {
    require(k >= 1 && nprobe >= 1)
    val cents = ivfCentroids(index)
    val rows = index.filter(col("role") === "row")
      .select(col("id"), col("v"), col("n2"), col("cent_id"))
    val probes = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_v"),
        F.dotF(col(vecCol), col(vecCol)).as("q_n2"))
      .join(broadcast(cents))
      .select(col("q_id"), col("q_v"), col("q_n2"), col("cent_id"),
        (col("q_n2") - lit(2.0) * F.dotF(col("q_v"), col("cv"))
          + col("cn2")).as("dist2"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("dist2"), col("cent_id"))))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("q_v"), col("q_n2"), col("cent_id"))
    broadcast(probes)
      .join(rows, Seq("cent_id"))
      .filter(col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"),
        (F.dotF(col("q_v"), col("v"))
          / (sqrt(col("q_n2")) * sqrt(col("n2")))).as("cos_sim"))
      // nprobe > 1 can reach the same corpus row via two cells? No —
      // every row lives in exactly ONE cell, so (q_id, id) pairs are
      // unique and no dedup aggregate is needed before the rank.
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("id"))))
      .filter(col("rank") <= k)
  }

  // ------------------------------------------------------------------
  // Product quantization (Jegou, Douze & Schmid, "Product quantization
  // for nearest neighbor search", TPAMI 2011) — the vector-COMPRESSION
  // leg of a billion-vector ANN stack: a 64-dim float vector (256 bytes)
  // becomes numSub small codes (numSub bytes at ksub <= 256), and probes
  // search the codes through a per-probe lookup table without ever
  // touching the original floats. At 100 TB of embeddings this is the
  // difference between "the index fits in cluster memory" and "it
  // doesn't".
  //
  // Reproducibility discipline (same family as quantizedKmeans, one step
  // further): vectors quantize to floor(x*scale) longs, and every
  // centroid is RE-FLOORED onto the same integer lattice after each
  // Lloyd recenter (floor(sum/count) per coordinate). quantizedKmeans
  // keeps exact (sum,count) fractions and compares fractions through one
  // IEEE division; here the lattice round-off (<= 1/scale per
  // coordinate, noise relative to the scale-1000 input quantization)
  // buys PURE-integer distances everywhere — train, encode and ADC are
  // all exact int64 sums of squared integer differences, order-
  // independent under any partial aggregation, so the whole family sits
  // under the differential oracle (q110/q111).
  // ------------------------------------------------------------------

  /** Exact int64 squared L2 distance between two long-array columns. */
  private def sqDistQ(a: String, b: String) =
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
      s"cast(0 as bigint), (acc, v) -> acc + v)"

  /** (sub, id, sv) subvector rows of a lattice-quantized vector corpus:
    * one row per (vector, subspace), subspace width = dims/numSub.
    * Signature-per-row — embarrassingly parallel, no shuffle. Vectors
    * whose dimension count does not divide evenly by numSub fail loudly
    * (a silent `div` would drop the trailing dims — data loss). */
  private def pqSubRows(corpus: DataFrame, vecCol: String, idCol: String,
      numSub: Int, scale: Int): DataFrame =
    pqSliceRows(corpus.select(col(idCol).as("id"),
      expr(s"transform($vecCol, x -> cast(floor(x * $scale) as bigint))")
        .as("vq")), numSub)

  /** Subvector rows of an ALREADY-lattice-quantized (id, vq) frame —
    * the residual-encoding entry point ([[pqResiduals]] output is on
    * the same lattice, so no re-quantization happens). */
  private def pqSliceRows(quant: DataFrame, numSub: Int): DataFrame =
    quant
      .filter(assert_true(size(col("vq")) % numSub === 0 &&
          size(col("vq")) >= numSub,
        lit(s"PQ: vector dims must be a positive multiple of numSub=" +
          s"$numSub")).isNull)
      .select(col("id"), posexplode(expr(
        s"transform(sequence(0, ${numSub - 1}), " +
          s"j -> slice(vq, j * (size(vq) div $numSub) + 1, " +
          s"size(vq) div $numSub))")).as(Seq("sub", "sv")))

  /** Codes are dense smallints, so (d2, code) packs into ONE bigint with
    * a 16-bit shift and the lexicographic argmin becomes `min(packed)`. */
  private val PqCodeBits = 16
  private val PqPackBound = (Long.MaxValue - ((1L << PqCodeBits) - 1)) >>
    PqCodeBits

  /** Nearest-codeword assignment per (vector, subspace): broadcast the
    * codebooks (numSub*ksub rows, tiny), argmin exact int64 distance,
    * ties to the lowest code. ALL subspaces assign in one plan, and the
    * argmin is a map-side partial HashAggregate over
    * `min(d2 << 16 | code)` — the ×ksub broadcast-join expansion
    * collapses BEFORE the exchange, so the shuffle carries one row per
    * (sub, id) instead of ksub (a row_number window here would sort-
    * shuffle all expanded rows). Packing preserves the exact (d2, code)
    * ordering because codes are dense ints < 2^16 by construction; d2 is
    * guarded against the 2^47 packing bound (lattice distances at sane
    * scales sit many orders of magnitude below it — 64-dim floats in
    * [-4, 4] at scale=1000 give d2 <= ~4*10^9). */
  private def pqAssign(subs: DataFrame, books: DataFrame): DataFrame =
    subs.join(broadcast(books), "sub")
      .select(col("sub"), col("id"),
        expr(sqDistQ("sv", "cq")).as("d2"), col("code"))
      .filter(assert_true(col("d2") <= PqPackBound,
        lit(s"PQ: squared distance exceeds the $PqPackBound packing " +
          "bound — lower `scale`")).isNull)
      .groupBy(col("sub"), col("id"))
      .agg(min(shiftleft(col("d2"), PqCodeBits) + col("code"))
        .as("packed"))
      .select(col("sub"), col("id"),
        (col("packed") % (1L << PqCodeBits)).cast("int").as("code"))

  /** Train the per-subspace codebooks: seeds are the `ksub` smallest
    * ids' subvectors relabeled to dense codes 0..ksub-1 (codes must be
    * dense smallints — they ARE the compressed representation), then
    * `iters` Lloyd rounds of assign + integer recenter. A codeword that
    * loses all members keeps its previous coordinates. Returns
    * (sub, code, cq) — numSub*ksub rows, broadcast by every consumer. */
  def pqCodebooks(corpus: DataFrame, vecCol: String, idCol: String,
      numSub: Int, ksub: Int, iters: Int = 1, scale: Int = 1000): DataFrame = {
    require(numSub > 0 && ksub > 0 && iters >= 0 && scale > 0,
      "numSub, ksub, scale must be positive; iters non-negative")
    pqTrainSubs(pqSubRows(corpus, vecCol, idCol, numSub, scale),
      corpus.select(col(idCol).as("id")), ksub, iters)
  }

  /** The Lloyd loop of [[pqCodebooks]] over pre-built (sub, id, sv)
    * rows; `ids` supplies the seed ordering (ksub smallest ids).
    *
    * Eager-action budget (optimization r16, guide §2.6/§5): ONE
    * localCheckpoint per ROUND, none for the seeds — the seed frame is
    * consumed only inside round 1, so its truncation point is folded
    * into round 1's checkpoint job (the seed subtree is re-derived
    * twice inside that one job — assign's broadcast side + the
    * lost-codeword oq side — a sample-sized scan, where the extra
    * serialized ACTION was a measured fixed cost on every PQ/IVF build:
    * q127 ran 55 dribble jobs at sf0.1). Each round still truncates:
    * books appears twice per round, so unbounded lineage would
    * recompute 2^iters-fold. iters == 0 keeps the seed checkpoint —
    * the seeds ARE the returned books, consumed by many downstream
    * plans. */
  private def pqTrainSubs(subs: DataFrame, ids: DataFrame, ksub: Int,
      iters: Int): DataFrame = {
    // the rank window runs on <= ksub rows; partitionBy(lit) keeps the
    // planner from warning about a global window on the tiny seed set
    val seedIds = ids
      .orderBy(col("id")).limit(ksub)
      .withColumn("code", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0)).orderBy(col("id"))) - 1)
    var books = subs.join(broadcast(seedIds), "id")
      .select(col("sub"), col("code"), col("sv").as("cq"))
    if (iters == 0) books = books.localCheckpoint()
    for (_ <- 1 to iters) {
      val re = pqAssign(subs, books).join(subs, Seq("sub", "id"))
        .select(col("sub"), col("code"),
          posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("cm"))
        // re-floor the centroid onto the integer lattice: long/long
        // division is exact in double (|sx| << 2^53), floor matches the
        // oracle's CAST(floor(CAST(s AS DOUBLE)/m) AS BIGINT)
        .withColumn("cx", floor(col("sx") / col("cm")))
        .groupBy(col("sub"), col("code"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cx))), " +
          "p -> p.cx)").as("cq"))
      books = books.select(col("sub"), col("code"), col("cq").as("oq"))
        .join(re.toDF("sub", "code", "nq"), Seq("sub", "code"), "left")
        .select(col("sub"), col("code"),
          coalesce(col("nq"), col("oq")).as("cq"))
        .localCheckpoint()
    }
    books
  }

  /** PQ-encode a corpus: (id, sub, code) rows — the compressed form a
    * serving fleet stores instead of raw floats. Map + broadcast join +
    * one partial-aggregated argmin; the only corpus shuffle carries one
    * row per (vector, subspace). `numSub` is explicit (the caller
    * trained the books and always knows it) so plan construction stays
    * lazy — inferring it from `books` would launch an eager Spark job
    * mid-build and die unhelpfully on an empty codebook. */
  def pqEncode(corpus: DataFrame, books: DataFrame, vecCol: String,
      idCol: String, numSub: Int, scale: Int = 1000): DataFrame = {
    require(numSub > 0, "numSub must be positive")
    pqAssign(pqSubRows(corpus, vecCol, idCol, numSub, scale), books)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each probe keeps its
    * EXACT quantized subvectors and builds a (sub, code) -> partial-d2
    * lookup table against the codebooks (numSub*ksub longs per probe,
    * broadcast); a coded vector's distance is the sum of its numSub
    * table entries — exact int64, order-independent. The scan is the
    * broadcast-LUT join + one partial-aggregated sum per (probe, id),
    * then a per-probe top-k window: the same plan shape as
    * [[bruteForceTopK]] but over codes, never the original floats.
    * Returns (q_id, rank, id, adc_d2); ties rank by id.
    *
    * Scale bounds a caller must respect: (1) the broadcast LUT is
    * numProbes × numSub × ksub rows and grows LINEARLY with the probe
    * batch — at numSub=8/ksub=256 each probe adds 2048 rows (~32 KB), so
    * keep a batch under ~10^4 probes (≈320 MB) or split it; past the
    * broadcast threshold Spark silently falls back to a shuffle join and
    * the "never shuffle the codes" property is lost. (2) The family
    * inherits [[quantizedKmeans]]'s int64 discipline: per-coordinate
    * quantized values must satisfy dims·(2·scale·|x|max)² < 2^47 (the
    * argmin packing bound, checked at runtime) — scale=1000 on
    * unit-normalized embeddings is orders of magnitude inside it. */
  def pqAdcTopK(codes: DataFrame, books: DataFrame, probes: DataFrame,
      vecCol: String, idCol: String, k: Int, numSub: Int,
      scale: Int = 1000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(numSub > 0, "numSub must be positive")
    val lut = pqSubRows(probes, vecCol, idCol, numSub, scale)
      .withColumnRenamed("id", "q_id")
      .join(broadcast(books), "sub")
      .select(col("q_id"), col("sub"), col("code"),
        expr(sqDistQ("sv", "cq")).as("pd2"))
    codes.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("id") =!= col("q_id"))
      .groupBy(col("q_id"), col("id"))
      .agg(sum(col("pd2")).as("adc_d2"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("adc_d2"), col("id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("id"), col("adc_d2"))
  }

  /** Build a STANDING PQ index: the coded corpus plus the trained
    * codebooks in ONE frame (`role` = "code" | "book"), so the whole
    * artifact commits through a single [[IndexStore]] dir — the same
    * geometry discipline as [[ivfIndex]]: the books travel WITH the
    * codes, [[refreshPqIndex]] encodes new vectors against the RECORDED
    * books (classic PQ add — codewords never move, codes stay
    * comparable across batches), and [[pqSearchIndex]] reads them for
    * the ADC lookup tables. Rebuild with a fresh [[pqIndex]] when the
    * corpus distribution drifts far from the trained codewords
    * (reconstruction error is the drift gauge — tools/pq_recall_probe
    * measures it). */
  def pqIndex(corpus: DataFrame, vecCol: String, idCol: String,
      numSub: Int, ksub: Int, iters: Int = 1, scale: Int = 1000): DataFrame = {
    val books = pqCodebooks(corpus, vecCol, idCol, numSub, ksub, iters,
      scale)
    pqEncode(corpus, books, vecCol, idCol, numSub, scale)
      .select(lit("code").as("role"), col("id"), col("sub"), col("code"),
        lit(null).cast("array<bigint>").as("cq"))
      .unionByName(books.select(lit("book").as("role"),
        lit(null).cast("bigint").as("id"), col("sub"), col("code"),
        col("cq")))
  }

  /** The codebooks recorded inside a standing PQ index. */
  def pqIndexBooks(index: DataFrame): DataFrame =
    index.filter(col("role") === "book")
      .select(col("sub"), col("code"), col("cq"))

  /** Fold new vectors into the standing PQ index: encode against the
    * RECORDED codebooks and append — the corpus is never re-read and
    * no codeword moves, so the fold provably equals encoding the whole
    * corpus with the original books (codes are pure per-row functions
    * of (vector, books) — order-free by construction). Replay-safe the
    * ingest-gate way: code rows carrying the batch's own ids are
    * dropped before the fold. */
  def refreshPqIndex(index: DataFrame, newVecs: DataFrame,
      vecCol: String, idCol: String, numSub: Int,
      scale: Int = 1000): DataFrame = {
    val fresh = pqEncode(newVecs, pqIndexBooks(index), vecCol, idCol,
      numSub, scale)
    index
      .join(fresh.select(col("id")).withColumnRenamed("id", "__bid"),
        col("id") === col("__bid") && col("role") === "code", "left_anti")
      .unionByName(fresh.select(lit("code").as("role"), col("id"),
        col("sub"), col("code"), lit(null).cast("array<bigint>").as("cq")))
  }

  /** Serve ADC top-k from the standing PQ index: [[pqAdcTopK]] over
    * the recorded codes and books — probes never touch corpus floats,
    * and the scan cost is the coded rows (numSub small ints per
    * vector), not the raw vectors. */
  def pqSearchIndex(index: DataFrame, probes: DataFrame, vecCol: String,
      idCol: String, k: Int, numSub: Int, scale: Int = 1000): DataFrame =
    pqAdcTopK(index.filter(col("role") === "code")
        .select(col("id"), col("sub"), col("code")),
      pqIndexBooks(index), probes, vecCol, idCol, k, numSub, scale)

  /** ADC shortlist + EXACT re-rank (the "+R" of IVFADC+R, Jégou et al.
    * §VII): rank the whole coded corpus by asymmetric distance, keep a
    * `shortlist`-sized candidate set per probe, then re-rank ONLY those
    * candidates by exact lattice L2 against the raw vectors and return
    * the top `k`. The expensive exact distance touches shortlist-many
    * vectors per probe instead of the corpus; the shortlist pairs are
    * probes×shortlist rows — broadcast against the corpus, so the raw-
    * vector fetch is a broadcast join, never a corpus shuffle. Exact
    * int64 end to end (same lattice as the codes), so the full
    * shortlist→re-rank path sits under the differential oracle.
    * Returns (q_id, rank, id, d2); ties rank by id. */
  def pqAdcRerank(codes: DataFrame, books: DataFrame, corpus: DataFrame,
      probes: DataFrame, vecCol: String, idCol: String, k: Int,
      shortlist: Int, numSub: Int, scale: Int = 1000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(shortlist >= k, "shortlist must be >= k")
    def quant(df: DataFrame, out: String) =
      df.select(col(idCol).as(out),
        expr(s"transform($vecCol, x -> cast(floor(x * $scale) as bigint))")
          .as(out + "_vq"))
    val short = pqAdcTopK(codes, books, probes, vecCol, idCol,
      shortlist, numSub, scale).select(col("q_id"), col("id"))
    broadcast(short)
      .join(quant(corpus, "id"), "id")
      .join(broadcast(quant(probes, "q_id")), "q_id")
      .select(col("q_id"), col("id"),
        expr(sqDistQ("id_vq", "q_id_vq")).as("d2"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("d2"), col("id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("id"), col("d2"))
  }

  /** IVFADC serving (Jégou, Douze & Schmid, TPAMI 2011 §V — the
    * standard billion-vector stack): probes route to their `nprobe`
    * nearest COARSE cells, and ADC ranks over PQ codes ONLY inside
    * those cells — the corpus is never scanned, cell pruning happens
    * BEFORE any code row meets a lookup table.
    *
    * The coarse quantizer is this family's own machinery at numSub=1:
    * `cells` = [[pqEncode]](corpus, coarseBooks, numSub=1) — one code
    * per vector, the cell id — and `coarseBooks` =
    * [[pqCodebooks]](corpus, numSub=1, ksub=ncells). Keeping the coarse
    * leg on the same integer lattice puts the WHOLE route→prune→rank
    * path under the differential oracle (q112). This variant PQ-encodes
    * RAW vectors (one shared LUT per probe, smallest broadcast); the
    * production form that encodes residuals is [[ivfAdcResidualTopK]]
    * (q115) — same lattice, per-(probe, cell) LUTs, better recall per
    * code bit.
    *
    * Plan shape at scale: routing is a probeCount×ncells broadcast join
    * (window bounded by the probe batch); candidate ids come from the
    * tiny routed table broadcast AGAINST the cell assignments (a
    * filtered standing artifact); the ADC join then touches only
    * candidate code rows. Shuffle volume is candidates, not corpus. */
  def ivfAdcTopK(cells: DataFrame, codes: DataFrame,
      coarseBooks: DataFrame, books: DataFrame, probes: DataFrame,
      vecCol: String, idCol: String, k: Int, nprobe: Int, numSub: Int,
      scale: Int = 1000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(nprobe >= 1, "nprobe must be >= 1")
    require(numSub > 0, "numSub must be positive")
    val routed = pqSubRows(probes, vecCol, idCol, 1, scale)
      .withColumnRenamed("id", "q_id")
      .join(broadcast(coarseBooks), "sub")
      .select(col("q_id"), col("code").as("cell"),
        expr(sqDistQ("sv", "cq")).as("cd2"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cd2"), col("cell"))))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("cell"))
    val lut = pqSubRows(probes, vecCol, idCol, numSub, scale)
      .withColumnRenamed("id", "q_id")
      .join(broadcast(books), "sub")
      .select(col("q_id"), col("sub"), col("code"),
        expr(sqDistQ("sv", "cq")).as("pd2"))
    // cell pruning FIRST: candidate (q_id, id) pairs from routed cells
    val cand = cells.select(col("id"), col("code").as("cell"))
      .join(broadcast(routed), "cell")
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id"))
    cand.join(codes, "id")
      .join(broadcast(lut), Seq("q_id", "sub", "code"))
      .groupBy(col("q_id"), col("id"))
      .agg(sum(col("pd2")).as("adc_d2"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("adc_d2"), col("id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("id"), col("adc_d2"))
  }

  // ------------------------------------------------------------------
  // Residual IVFADC (Jégou, Douze & Schmid, TPAMI 2011 §V eq. 15-17):
  // the PRODUCTION form of the billion-vector stack. The fine quantizer
  // encodes the residual r(x) = x − µ_cell(x) instead of x itself —
  // residuals are centered near zero, so the same code budget spends
  // its codewords on a much smaller ball and quantization error drops
  // (tools/pq_recall_probe.py measures the gap vs raw-vector IVF-PQ).
  // Residuals stay EXACTLY on the integer lattice (vq and µ are both
  // lattice longs; r = vq − µ is an exact int64 difference), so the
  // whole train→encode→route→rank path remains under the differential
  // oracle (q115) — the "documented trade-off" of [[ivfAdcTopK]]
  // dissolves once the subtraction happens post-quantization.
  // ------------------------------------------------------------------

  /** Residual vectors of a coarse-quantized corpus: (id, cell, vq)
    * with vq = lattice(x) − µ_cell, an exact int64 array. `cells` =
    * [[pqEncode]](corpus, coarseBooks, numSub = 1) rows (id, sub,
    * code); `coarseBooks` the matching (sub = 0, code, cq). Map-only:
    * one broadcast join against the ncells-row codebook. */
  def pqResiduals(corpus: DataFrame, cells: DataFrame,
      coarseBooks: DataFrame, vecCol: String, idCol: String,
      scale: Int = 1000): DataFrame =
    corpus.select(col(idCol).as("id"),
        expr(s"transform($vecCol, x -> cast(floor(x * $scale) as bigint))")
          .as("xq"))
      .join(cells.select(col("id"), col("code").as("cell")), "id")
      .join(broadcast(coarseBooks.select(col("code").as("cell"),
        col("cq"))), "cell")
      .select(col("id"), col("cell"),
        expr("zip_with(xq, cq, (x, y) -> x - y)").as("vq"))

  /** Train fine codebooks ON RESIDUALS (the [[pqCodebooks]] Lloyd loop
    * over [[pqResiduals]] output — already lattice longs, no
    * re-quantization). Same contract: (sub, code, cq), codes dense. */
  def pqResidualBooks(residuals: DataFrame, numSub: Int, ksub: Int,
      iters: Int = 1): DataFrame = {
    require(numSub > 0 && ksub > 0 && iters >= 0,
      "numSub, ksub must be positive; iters non-negative")
    pqTrainSubs(pqSliceRows(residuals.select(col("id"), col("vq")),
      numSub), residuals.select(col("id")), ksub, iters)
  }

  /** PQ-encode residuals against trained residual books: (id, sub,
    * code) — same map + broadcast + packed-min argmin as [[pqEncode]]. */
  def pqResidualEncode(residuals: DataFrame, books: DataFrame,
      numSub: Int): DataFrame = {
    require(numSub > 0, "numSub must be positive")
    pqAssign(pqSliceRows(residuals.select(col("id"), col("vq")), numSub),
      books)
  }

  /** Residual-encoded IVFADC serving: probes route to `nprobe` coarse
    * cells, then ADC ranks residual codes inside those cells using a
    * PER-(probe, cell) lookup table — the probe's OWN residual against
    * that cell, d(p, x) ≈ ‖(p − µ_c) − r̂(x)‖², Jégou §V eq. 17.
    *
    * Plan shape: routing is the probes×ncells broadcast join of
    * [[ivfAdcTopK]]; the LUT is probes × nprobe × numSub × ksub rows
    * (nprobe× larger than the raw-vector LUT — the price of residual
    * accuracy; bound the probe batch accordingly, e.g. ≤10^3 probes at
    * nprobe=8/numSub=8/ksub=256 ≈ 130 MB broadcast); candidates come
    * from the routed cells only, so shuffle volume stays candidates,
    * not corpus. Exact int64 end to end. Returns (q_id, rank, id,
    * adc_d2); ties rank by id. */
  def ivfAdcResidualTopK(cells: DataFrame, rcodes: DataFrame,
      coarseBooks: DataFrame, books: DataFrame, probes: DataFrame,
      vecCol: String, idCol: String, k: Int, nprobe: Int, numSub: Int,
      scale: Int = 1000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(nprobe >= 1, "nprobe must be >= 1")
    require(numSub > 0, "numSub must be positive")
    val pq = probes.select(col(idCol).as("q_id"),
      expr(s"transform($vecCol, x -> cast(floor(x * $scale) as bigint))")
        .as("pq_vq"))
    val routed = pqSubRows(probes, vecCol, idCol, 1, scale)
      .withColumnRenamed("id", "q_id")
      .join(broadcast(coarseBooks), "sub")
      .select(col("q_id"), col("code").as("cell"),
        expr(sqDistQ("sv", "cq")).as("cd2"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cd2"), col("cell"))))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("cell"))
    // probe residual per routed cell -> subvectors -> LUT vs fine books
    val lut = pqSliceRows(
      routed.join(pq, "q_id")
        .join(broadcast(coarseBooks.select(col("code").as("cell"),
          col("cq").as("ccq"))), "cell")
        .select(struct(col("q_id"), col("cell")).as("id"),
          expr("zip_with(pq_vq, ccq, (x, y) -> x - y)").as("vq")),
      numSub)
      .join(broadcast(books), "sub")
      .select(col("id.q_id").as("q_id"), col("id.cell").as("cell"),
        col("sub"), col("code"), expr(sqDistQ("sv", "cq")).as("pd2"))
    val cand = cells.select(col("id"), col("code").as("cell"))
      .join(broadcast(routed), "cell")
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("cell"), col("id"))
    cand.join(rcodes, "id")
      .join(broadcast(lut), Seq("q_id", "cell", "sub", "code"))
      .groupBy(col("q_id"), col("id"))
      .agg(sum(col("pd2")).as("adc_d2"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("adc_d2"), col("id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("id"), col("adc_d2"))
  }

  /** Build a STANDING residual-IVFADC index: coarse assignments,
    * residual codes and BOTH codebook levels in ONE role-tagged frame
    * ("cell" | "rcode" | "cbook" | "fbook"), so the whole production
    * serving artifact (Jégou §V) commits through a single
    * [[IndexStore]] dir — the [[pqIndex]] discipline, two quantizer
    * levels deep. [[refreshResidualIvfIndex]] encodes new vectors
    * against the FROZEN books (coarse assignment, residual, fine code —
    * no codeword ever moves, so fold == rebuild exactly and codes stay
    * comparable across batches); [[searchResidualIndex]] unpacks the
    * roles for [[ivfAdcResidualTopK]]. */
  def residualIvfIndex(corpus: DataFrame, vecCol: String, idCol: String,
      ncells: Int, numSub: Int, ksub: Int, iters: Int = 1,
      scale: Int = 1000): DataFrame = {
    val coarse = pqCodebooks(corpus, vecCol, idCol, 1, ncells, iters,
      scale)
    // cells and residuals each feed TWO consumers (artifact rows +
    // fine-book training / encode); materialize ONCE, as ONE action:
    // the residual frame (id, cell, vq) already carries the coarse
    // assignment, so the cell rows are a free projection of the
    // checkpointed residuals instead of a second checkpoint job
    // (optimization r16 — one truncation point per build artifact,
    // guide §2.6/§5; result rows identical by construction)
    val res = pqResiduals(corpus,
        pqEncode(corpus, coarse, vecCol, idCol, 1, scale),
        coarse, vecCol, idCol, scale)
      .localCheckpoint()
    val cells = res.select(col("id"), lit(0).as("sub"),
      col("cell").as("code"))
    val fine = pqResidualBooks(res, numSub, ksub, iters)
    residualRows(cells, pqResidualEncode(res, fine, numSub))
      .unionByName(residualBookRows(coarse, fine))
  }

  private def residualRows(cells: DataFrame,
      rcodes: DataFrame): DataFrame =
    cells.select(lit("cell").as("role"), col("id"), col("sub"),
        col("code"), lit(null).cast("array<bigint>").as("cq"))
      .unionByName(rcodes.select(lit("rcode").as("role"), col("id"),
        col("sub"), col("code"), lit(null).cast("array<bigint>").as("cq")))

  private def residualBookRows(coarse: DataFrame,
      fine: DataFrame): DataFrame =
    coarse.select(lit("cbook").as("role"),
        lit(null).cast("bigint").as("id"), col("sub"), col("code"),
        col("cq"))
      .unionByName(fine.select(lit("fbook").as("role"),
        lit(null).cast("bigint").as("id"), col("sub"), col("code"),
        col("cq")))

  /** Fold NEW vectors into the standing residual index against the
    * RECORDED books; already-present ids are replaced (the
    * [[refreshPqIndex]] contract). */
  def refreshResidualIvfIndex(index: DataFrame, newVecs: DataFrame,
      vecCol: String, idCol: String, numSub: Int,
      scale: Int = 1000): DataFrame = {
    val coarse = index.filter(col("role") === "cbook")
      .select(col("sub"), col("code"), col("cq"))
    val fine = index.filter(col("role") === "fbook")
      .select(col("sub"), col("code"), col("cq"))
    val cells = pqEncode(newVecs, coarse, vecCol, idCol, 1, scale)
    val res = pqResiduals(newVecs, cells, coarse, vecCol, idCol, scale)
    val fresh = residualRows(cells, pqResidualEncode(res, fine, numSub))
    index
      .join(fresh.select(col("id").as("__bid")).distinct(),
        col("id") === col("__bid") &&
          col("role").isin("cell", "rcode"), "left_anti")
      .unionByName(fresh)
  }

  /** Serve residual-ADC top-k from the standing artifact. */
  def searchResidualIndex(index: DataFrame, probes: DataFrame,
      vecCol: String, idCol: String, k: Int, nprobe: Int, numSub: Int,
      scale: Int = 1000): DataFrame =
    ivfAdcResidualTopK(
      index.filter(col("role") === "cell")
        .select(col("id"), col("sub"), col("code")),
      index.filter(col("role") === "rcode")
        .select(col("id"), col("sub"), col("code")),
      index.filter(col("role") === "cbook")
        .select(col("sub"), col("code"), col("cq")),
      index.filter(col("role") === "fbook")
        .select(col("sub"), col("code"), col("cq")),
      probes, vecCol, idCol, k, nprobe, numSub, scale)

  // ------------------------------------------------------------------
  // Scalar quantization (SQ8): per-dimension affine 8-bit codes — the
  // memory-bandwidth compression tier between raw floats and PQ
  // (FAISS's ScalarQuantizer family). Each dimension is min/max-scaled
  // onto 0..255 over the integer lattice (floor(x*scale) first, so the
  // whole train->encode->search path is exact int64 arithmetic under
  // the differential oracle). A served corpus stores 1 byte/dim vs 4
  // (float) — a 4x scan-bandwidth reduction with far better recall
  // than PQ at the same k, and it composes with IVF cell routing the
  // same way ivfAdcTopK does.
  // ------------------------------------------------------------------

  /** Per-dimension SQ8 stats over the corpus, as ONE broadcastable row
    * `(mns, spans)`: `mns[j]` = lattice min of dimension j, `spans[j]`
    * = max(latticeMax - latticeMin, 1). Two map-side aggregates over
    * (dim, value) rows — dims*2 longs of state, no corpus shuffle
    * beyond the partial-agg exchange. */
  def sq8Stats(corpus: DataFrame, vecCol: String,
      scale: Int = 1000): DataFrame =
    corpus
      .select(posexplode(expr(
        s"transform($vecCol, x -> cast(floor(x * $scale) as bigint))"))
        .as(Seq("j", "x")))
      .groupBy(col("j"))
      .agg(min(col("x")).as("mn"),
        greatest(max(col("x")) - min(col("x")), lit(1L)).as("span"))
      .agg(expr("transform(array_sort(collect_list(struct(j, mn))), " +
          "p -> p.mn)").as("mns"),
        expr("transform(array_sort(collect_list(struct(j, span))), " +
          "p -> p.span)").as("spans"))

  /** SQ8-encode: `(id, codes)` with `codes[j] = clamp(((xq_j - mn_j) *
    * 255) div span_j, 0, 255)` — pure map over the broadcast stats row.
    * Vectors inside the trained range hit 0..255 exactly; out-of-range
    * NEW vectors (post-training drift) clamp to the boundary code, the
    * standard SQ saturation behavior. */
  def sq8Encode(corpus: DataFrame, stats: DataFrame, vecCol: String,
      idCol: String, scale: Int = 1000): DataFrame =
    corpus
      .select(col(idCol).as("id"), expr(
        s"transform($vecCol, x -> cast(floor(x * $scale) as bigint))")
        .as("vq"))
      .crossJoin(broadcast(stats))
      .select(col("id"), expr(
        "transform(sequence(0, size(vq) - 1), j -> " +
          "least(cast(255 as bigint), greatest(cast(0 as bigint), " +
          "((element_at(vq, j + 1) - element_at(mns, j + 1)) * 255) " +
          "div element_at(spans, j + 1))))").as("codes"))

  /** Asymmetric SQ8 top-k: probes keep EXACT lattice coordinates, coded
    * vectors reconstruct per-dim as `mn_j + code_j * span_j / 255`; the
    * comparison happens in the x255 integer space (`p255_j = (pq_j -
    * mn_j) * 255` vs `code_j * span_j`) so every distance is an exact
    * int64 sum of squares. Same plan shape as [[bruteForceTopK]]:
    * broadcast probes, one map pass over the coded corpus, per-probe
    * top-k window. Ties rank by id; self-matches excluded.
    *
    * Overflow bound: |p255 - code*span| <= 255 * span <= 255 * 2 *
    * scale * |x|max per dim; at 64 dims, scale=1000, |x| <= 4 that is
    * 64 * (2.04e6)^2 ~ 2.7e14 << 2^63. */
  def sq8TopK(codes: DataFrame, stats: DataFrame, probes: DataFrame,
      vecCol: String, idCol: String, k: Int,
      scale: Int = 1000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    sq8Recon(codes, stats)
      .join(broadcast(sq8Probes(probes, stats, vecCol, idCol, scale)),
        col("id") =!= col("q_id"))
      .select(col("q_id"), col("id"),
        expr(sqDistQ("p255", "rec")).as("sq_d2"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("sq_d2"), col("id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("id"), col("sq_d2"))
  }

  /** Probe rows in the x255 comparison space: (q_id, p255). */
  private def sq8Probes(probes: DataFrame, stats: DataFrame,
      vecCol: String, idCol: String, scale: Int): DataFrame =
    probes
      .select(col(idCol).as("q_id"), expr(
        s"transform($vecCol, x -> cast(floor(x * $scale) as bigint))")
        .as("pq"))
      .crossJoin(broadcast(stats))
      .select(col("q_id"), expr(
        "zip_with(pq, mns, (x, m) -> (x - m) * 255)").as("p255"))

  /** Each coded row reconstructed ONCE (codes[j]*spans[j], the x255
    * decode) so the per-pair distance is a single zip_with fold — not
    * a recompute of the decode under every probe. */
  private def sq8Recon(codes: DataFrame, stats: DataFrame): DataFrame =
    codes
      .crossJoin(broadcast(stats))
      .select(col("id"), expr(
        "zip_with(codes, spans, (c, s) -> c * s)").as("rec"))

  /** Build a STANDING SQ8 index: the coded corpus plus the per-dim
    * stats row in ONE role-tagged frame ("code" | "stat"), committing
    * through a single [[IndexStore]] dir. [[refreshSq8Index]] encodes
    * new vectors against the RECORDED stats (classic SQ add — the
    * min/span grid never moves, codes stay comparable across batches;
    * out-of-range drift saturates at the boundary codes, and the
    * reconstruction-error probe is the rebuild gauge);
    * [[sq8SearchIndex]] serves asymmetric top-k from the artifact. */
  def sq8Index(corpus: DataFrame, vecCol: String, idCol: String,
      scale: Int = 1000): DataFrame = {
    val stats = sq8Stats(corpus, vecCol, scale)
    sq8IndexRows(sq8Encode(corpus, stats, vecCol, idCol, scale), stats)
  }

  private def sq8IndexRows(codes: DataFrame,
      stats: DataFrame): DataFrame =
    codes.select(lit("code").as("role"), col("id"), col("codes"),
        lit(null).cast("array<bigint>").as("mns"),
        lit(null).cast("array<bigint>").as("spans"))
      .unionByName(stats.select(lit("stat").as("role"),
        lit(null).cast("bigint").as("id"),
        lit(null).cast("array<bigint>").as("codes"),
        col("mns"), col("spans")))

  private def sq8IndexStats(index: DataFrame): DataFrame =
    index.filter(col("role") === "stat").select(col("mns"), col("spans"))

  /** Fold NEW vectors against the RECORDED per-dim grid;
    * already-present ids are replaced ([[refreshPqIndex]] contract). */
  def refreshSq8Index(index: DataFrame, newVecs: DataFrame,
      vecCol: String, idCol: String, scale: Int = 1000): DataFrame = {
    val fresh = sq8Encode(newVecs, sq8IndexStats(index), vecCol, idCol,
      scale)
    index
      .join(fresh.select(col("id").as("__bid")),
        col("id") === col("__bid") && col("role") === "code",
        "left_anti")
      .unionByName(fresh.select(lit("code").as("role"), col("id"),
        col("codes"), lit(null).cast("array<bigint>").as("mns"),
        lit(null).cast("array<bigint>").as("spans")))
  }

  /** Roles that record the index GEOMETRY rather than corpus rows:
    * PQ codebooks, SQ8 grid stats, IVF centroids, residual-PQ coarse +
    * fine books. A delete never touches them — geometry is frozen by
    * the same discipline refresh relies on (codes stay comparable
    * because codewords / grids / cells never move). */
  private val GeometryRoles = Seq("book", "stat", "cent", "cbook",
    "fbook")

  /** DELETE a set of vector ids from ANY standing role-tagged vector
    * index (pq / sq8 / ivf / rpq — tombstones: retention or
    * right-to-be-forgotten on the corpus must also forget its coded
    * rows, or a `vindex search` keeps surfacing deleted vectors).
    * Corpus-row roles anti-join away on id; the recorded geometry
    * rows survive (see [[GeometryRoles]] — IVF "cent" rows carry the
    * seeding vector's id, so the role guard is what keeps a deleted
    * vector's FROZEN centroid copy routable). Serve-after-delete ==
    * serve-over-survivors with the recorded geometry EXACTLY (q175's
    * oracle); a full rebuild additionally retrains the geometry —
    * that remains the drift remedy, not the delete path.
    * `deleteIds`: any one-column frame of ids. */
  def deleteFromIndex(index: DataFrame, deleteIds: DataFrame): DataFrame =
    index.join(
      deleteIds.select(col(deleteIds.columns.head).as("__did"))
        .distinct(),
      col("id") === col("__did") &&
        !col("role").isin(GeometryRoles: _*),
      "left_anti")

  /** Serve asymmetric SQ8 top-k from the standing artifact. */
  def sq8SearchIndex(index: DataFrame, probes: DataFrame,
      vecCol: String, idCol: String, k: Int,
      scale: Int = 1000): DataFrame =
    sq8TopK(index.filter(col("role") === "code")
        .select(col("id"), col("codes")),
      sq8IndexStats(index), probes, vecCol, idCol, k, scale)

  /** IVF × SQ8 serving: probes route to their `nprobe` nearest COARSE
    * cells (the [[ivfAdcTopK]] routing leg — same integer-lattice
    * coarse quantizer at numSub=1), then the asymmetric SQ8 distance
    * ranks ONLY the routed cells' coded rows. The high-fidelity twin
    * of IVFADC: candidates shrink to nprobe/ncells of the corpus, the
    * scan reads 1-byte-per-dim codes, and recall stays near-exact
    * within the routed cells (tools/sq8_recall_probe.py). Whole path
    * on the lattice — oracled (q122). */
  def ivfSq8TopK(cells: DataFrame, codes: DataFrame,
      coarseBooks: DataFrame, stats: DataFrame, probes: DataFrame,
      vecCol: String, idCol: String, k: Int, nprobe: Int,
      scale: Int = 1000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(nprobe >= 1, "nprobe must be >= 1")
    val routed = pqSubRows(probes, vecCol, idCol, 1, scale)
      .withColumnRenamed("id", "q_id")
      .join(broadcast(coarseBooks), "sub")
      .select(col("q_id"), col("code").as("cell"),
        expr(sqDistQ("sv", "cq")).as("cd2"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cd2"), col("cell"))))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("cell"))
    // cell pruning FIRST: candidate pairs from routed cells only
    val cand = cells.select(col("id"), col("code").as("cell"))
      .join(broadcast(routed), "cell")
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id"))
    cand.join(sq8Recon(codes, stats), "id")
      .join(broadcast(sq8Probes(probes, stats, vecCol, idCol, scale)),
        "q_id")
      .select(col("q_id"), col("id"),
        expr(sqDistQ("p255", "rec")).as("sq_d2"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("sq_d2"), col("id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("id"), col("sq_d2"))
  }

  // -------------------------------------------------------------------
  // Random-projection ANN (Johnson–Lindenstrauss / Achlioptas 2003)
  // -------------------------------------------------------------------

  /** Signed random projection of a lattice-quantized vector to
    * `projDims` int64 components: proj[j] = Σ_i sign(j,i)·vq[i], with
    * sign(j,i) = ±1 from the parity of the quadratic congruential mix
    * of x = i + j·100003 (y = x·2654435761 mod P; parity of
    * (y² mod P + x) — the [[VectorOps.lshSignature]] plane family,
    * which breaks the plain-LCG lattice). PURE integer arithmetic,
    * every intermediate < 2^63: both engines replay it exactly, and
    * unlike a float Gaussian matrix the projection commutes with any
    * partial-aggregation order. Per-row map — no shuffle, no stored
    * projection matrix (the hash IS the matrix, the same trick that
    * keeps [[Dedup.lshSigs]] stateless across a fleet). */
  private[ops] def rpProjExpr(vq: String, projDims: Int): String =
    s"transform(sequence(0, ${projDims - 1}), j -> " +
      s"aggregate(zip_with($vq, sequence(0, size($vq) - 1), " +
      s"(xv, i) -> xv * (case when " +
      s"((((i + j * 100003L) * 2654435761L % ${TextOps.P}) * " +
      s"((i + j * 100003L) * 2654435761L % ${TextOps.P}) % ${TextOps.P}) " +
      s"+ (i + j * 100003L)) % 2 = 0 then 1L else -1L end)), " +
      s"cast(0 as bigint), (acc, v) -> acc + v))"

  /** ANN via random-projection shortlist + exact re-rank: vectors
    * lattice-quantize (floor(x·scale)), project to `projDims` signed
    * sums ([[rpProjExpr]]), probes pre-rank the corpus by projected
    * int64 L2 (`projDims` longs per comparison instead of `dims` — the
    * JL distance-preservation play, ~dims/projDims less scan
    * bandwidth), and the `shortlist` survivors re-rank by exact
    * full-dimension lattice L2. Returns
    * (q_id, rank, id, pd2, d2), rank 1..k by (d2, id).
    *
    * Scale shape: the projection is map-only on both sides; the
    * pre-rank is a broadcast (probes) nested-loop over the SLIM
    * projected corpus — `WindowGroupLimit` caps each partition at
    * `shortlist` rows per probe before the exchange; only
    * O(probes × shortlist) full vectors are ever fetched for the exact
    * pass (the [[binaryQuantTopK]] shape with JL sums instead of sign
    * bits — 8·projDims bytes per vector vs dims/8, trading memory for
    * a distance-faithful pre-rank).
    *
    * Quality (tools/rp_recall_probe.py, uniform-random 64-dim corpora —
    * the JL ADVERSARIAL case: pairwise distances concentrate, so the
    * pre-rank must separate margins smaller than the ~1/sqrt(projDims)
    * relative distortion): recall@3 ≈ 0.2 at projDims=16/shortlist=20
    * but 0.81–0.83 at projDims=32/shortlist=100 (spec-gated ≥ 0.6).
    * On real embedding manifolds (intrinsic dim ≪ 64) the same tiers
    * sit far higher; size shortlist ≈ 30·k for random-like data. */
  def rpTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
      idCol: String, k: Int, projDims: Int = 16, shortlist: Int = 20,
      scale: Int = 1000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(shortlist >= k, "shortlist must be >= k")
    require(projDims >= 1, "projDims must be >= 1")
    def quant(df: DataFrame, id: String) = df
      .select(col(idCol).as(id),
        expr(s"transform($vecCol, x -> cast(floor(x * $scale) as bigint))")
          .as("vq"))
      .select(col(id), col("vq"),
        expr(rpProjExpr("vq", projDims)).as("pj"))
    val c = quant(corpus, "id")
    val p = quant(probes, "q_id")
      .select(col("q_id"), col("vq").as("q_vq"), col("pj").as("q_pj"))
    val slim = broadcast(p.select(col("q_id"), col("q_pj")))
      .join(c.select(col("id"), col("pj")), col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"),
        expr(sqDistQ("q_pj", "pj")).as("pd2"))
      .withColumn("pre_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("pd2"), col("id"))))
      .filter(col("pre_rank") <= shortlist)
    slim
      .join(broadcast(p.select(col("q_id"), col("q_vq"))), "q_id")
      .join(c.select(col("id"), col("vq")), "id")
      .select(col("q_id"), col("id"), col("pd2"),
        expr(sqDistQ("q_vq", "vq")).as("d2"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("d2"), col("id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("id"), col("pd2"), col("d2"))
  }
}
