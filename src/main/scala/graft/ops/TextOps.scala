package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic text primitives for the training-data pipeline operators
  * (dedup, language-ID, quality scoring, token counting, fingerprinting).
  *
  * Everything here is built from Spark SQL higher-order functions over
  * integer arithmetic mod p = 2^31-1, chosen so the DuckDB oracle can
  * compute bit-identical values with `list_reduce`/`list_transform`
  * lambdas: no engine-private hash (xxhash64/murmur differ across
  * engines), no float nondeterminism in group-sums.
  *
  * Scale note: every helper is a per-row Column expression — embarrassingly
  * parallel, no shuffle, no driver collect. The shuffle (if any) happens in
  * the query that consumes these (e.g. the LSH band join), on keys these
  * helpers produce.
  */
object TextOps {
  /** Modulus for all polynomial hashing: 2^31-1 (Mersenne prime). Keeps
    * every intermediate product below 2^63 (operands < 2^31 and
    * multipliers < 2^32), so 64-bit arithmetic never overflows in either
    * engine (DuckDB raises on BIGINT overflow). */
  val P: Long = 2147483647L

  /** Whitespace tokens, empty strings dropped. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Fixed-token CHUNK WINDOWS with stride — the RAG/embedding prep
    * every retrieval pipeline runs before indexing: each document
    * splits into windows of `windowTokens` whitespace tokens starting
    * every `strideTokens` (overlap = window − stride carries context
    * across boundaries), with a doc-local chunk index and exact token
    * offsets so a hit maps back into the source. Pure column algebra —
    * split/filter/sequence/slice/array_join, all inside whole-stage
    * codegen, ONE map-only pass, no shuffle and no UDF: at 100 TB the
    * chunker is embarrassingly parallel and reads each document once.
    * Output rows: (id, c_idx, start_tok, n_tok, chunk_text); documents
    * with zero tokens produce no chunks; the tail window is the
    * remainder (n_tok < windowTokens), never padded, never dropped.
    * The downstream embed/index steps are the existing vindex family;
    * boundary-snapping beyond whitespace (sentences) composes by
    * pre-replacing the delimiter. */
  def chunkWindows(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, windowTokens: Int, strideTokens: Int)
      : org.apache.spark.sql.DataFrame = {
    require(windowTokens >= 1 && strideTokens >= 1 &&
      strideTokens <= windowTokens,
      s"need 1 <= stride ($strideTokens) <= window ($windowTokens)")
    df.select(col(idCol), tokens(col(textCol)).as("tk"))
      .withColumn("n", size(col("tk")))
      .filter(col("n") > 0)
      .select(col(idCol), col("tk"), col("n"),
        explode(expr(s"sequence(0, n - 1, $strideTokens)")).as("start"))
      .select(col(idCol),
        expr(s"cast(start div $strideTokens as bigint)").as("c_idx"),
        col("start").cast("long").as("start_tok"),
        least(lit(windowTokens), col("n") - col("start"))
          .cast("long").as("n_tok"),
        expr(s"array_join(slice(tk, start + 1, " +
          s"least($windowTokens, n - start)), ' ')").as("chunk_text"))
  }

  /** Polynomial rolling hash of a string: fold(h*31 + codepoint) mod P.
    * Matches java.lang.String.hashCode for short ASCII strings (same
    * recurrence) but stays positive and overflow-free. */
  def polyHash(s: Column): Column =
    aggregate(
      transform(split(s, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => (acc * 31L + c) % P)

  /** Word n-gram shingles: array of space-joined n-token windows.
    * Documents shorter than n tokens yield a single whole-doc shingle so
    * every doc has a non-empty signature. */
  def wordShingles(text: Column, n: Int): Column = {
    val ts = tokens(text)
    when(size(ts) < n, array(concat_ws(" ", ts)))
      .otherwise(transform(sequence(lit(0), size(ts) - n),
        i => concat_ws(" ", slice(ts, i + 1, lit(n)))))
  }

  /** Distinct hashes of word n-gram shingles (the MinHash/Jaccard input
    * set). */
  def shingleHashes(text: Column, n: Int): Column =
    array_distinct(transform(wordShingles(text, n), s => polyHash(s)))

  /** MinHash signature: array of k minima of permuted shingle hashes,
    * permutation i = universal hash h -> (a_i*h + b_i) mod P with small
    * deterministic multipliers (a_i < 2^32 keeps products < 2^63). */
  def minHash(hashes: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(hashes, h => (h * (lit(1L) + lit(7919L) * i)
        + (lit(1L) + lit(104729L) * i)) % P)))

  /** LSH band keys: hash of each band's r signature components, band index
    * baked in so different bands never collide into one bucket. */
  def lshBands(sig: Column, bands: Int, r: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => aggregate(slice(sig, b * r + lit(1), lit(r)), b.cast("long"),
        (acc, v) => (acc * 1000003L + v) % P))

  /** 32-bit SimHash over the token multiset: bit j of the signature is 1
    * iff sum over tokens of (+1 if bit j of polyHash(token) else -1) > 0. */
  def simHash(text: Column): Column = {
    val hs = transform(tokens(text), t => polyHash(t))
    aggregate(
      sequence(lit(0), lit(31)),
      lit(0L),
      (acc, j) => {
        val votes = aggregate(hs, lit(0L),
          (a, h) => a + when(call_function("shiftright", h, j) % 2 === 1, 1L).otherwise(-1L))
        acc + when(votes > 0, call_function("shiftleft", lit(1L), j)).otherwise(0L)
      })
  }

  /** Hamming distance between two small (<=32-bit) signatures. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  // -------------------------------------------------------------------
  // Language ID / quality / token counting
  // -------------------------------------------------------------------

  /** Tiny per-language stopword lists (public common function words). */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "des"),
    "zh" -> Seq("de", "le", "he", "shi", "zai", "you", "wo", "ta"))

  /** Count of tokens present in a fixed word list (with multiplicity). */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(
      array(words.map(lit): _*), t)))

  /** Predicted language = argmax stopword-hit count, ties broken by
    * language-code order (deterministic). */
  def langId(text: Column): Column = {
    val ts = tokens(text)
    // build array<struct<score,neglang>>, take max, unwrap
    val scored = array(stopwords.sortBy(_._1).map { case (lang, words) =>
      struct(stopwordHits(ts, words).as("score"), lit(lang).as("lang"))
    }: _*)
    // max on struct compares score first then lang; we want ties ->
    // lexicographically FIRST lang, so compare (score, reversed-rank)
    val best = aggregate(scored, struct(lit(-1).as("score"), lit("zz").as("lang")),
      (acc, s) => when(s.getField("score") > acc.getField("score"), s)
        .otherwise(acc))
    best.getField("lang")
  }

  /** BPE-ish token pattern: letter runs, digit runs, single punctuation. */
  val bpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** Winnowing fingerprints (MOSS-style local document fingerprint):
    * hash every char k-gram, take the min of each w-window of those
    * hashes, dedup. Robust to local edits — the standard near-dup
    * fingerprint for code/text corpora. */
  def winnow(text: Column, k: Int, w: Int): Column = {
    val grams = transform(sequence(lit(0), greatest(length(text) - k, lit(0))),
      i => polyHash(text.substr(i + 1, lit(k))))
    val mins = when(size(grams) < w, array(array_min(grams)))
      .otherwise(transform(sequence(lit(0), size(grams) - w),
        j => array_min(slice(grams, j + 1, lit(w)))))
    array_distinct(mins)
  }
}
