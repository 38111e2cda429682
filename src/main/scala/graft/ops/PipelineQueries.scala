package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.F

/** Training-data pipeline operators over the `documents` and `embeddings`
  * tables (q27-q38, q47-q50, q57-q65, q68-q74, q78, q80-q86):
  * deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash, SemDeDup),
  * embedding similarity search (brute-force, LSH-bucketed, IVF and
  * binary-quantized ANN, hard-negative mining), text analysis
  * (language-ID, quality scoring, token counting, winnowing
  * fingerprints, boilerplate detection, vocabulary), train/test split
  * assignment, and binary-column plumbing.
  *
  * These go beyond the reference's surface (EdgeLake has no document/
  * vector operators) but are first-class here: a 100 TB training-data
  * lake needs them, and every one is expressed as a declarative Spark
  * plan — per-row signature computation (embarrassingly parallel, no
  * shuffle), then at most ONE shuffle on a candidate key (shingle hash /
  * LSH band / block id), never an O(N^2) cross join.
  *
  * Cross-engine determinism: all hashing is polynomial arithmetic mod
  * 2^31-1 over codepoints (TextOps), all float reductions are explicit
  * left-folds in array order (VectorOps) — the DuckDB oracles replay the
  * identical operation sequence with list_reduce/list_transform lambdas
  * and hash-match bit-for-bit.
  */
object PipelineQueries {
  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Documents/embeddings widened to the cluster's parallelism ONLY when
    * the scan yields fewer splits than cores (the testdata tables are
    * single small parquet files -> one input split, which would serialize
    * the CPU-bound signature computation onto one core). On a real
    * 100 TB layout the files themselves provide >= parallelism splits and
    * this is the identity — no extra exchange in the plan. */
  private[ops] def wide(s: SparkSession, dir: String, n: String, key: String): DataFrame = {
    val df = t(s, dir, n)
    val cores = s.sparkContext.defaultParallelism
    // EXPLICIT-N repartition (REPARTITION_BY_NUM), not repartition(col):
    // AQE coalesces a keyed-only repartition back down by INPUT bytes
    // (advisory/minPartitionSize), and a small parquet table is far
    // below one minPartitionSize — so every downstream per-row kernel
    // (shingle/simhash/variant explodes) ran on ONE core, exactly the
    // serialization this helper exists to prevent (PERF lesson 1). A
    // user-specified partition count is AQE-exempt by contract. On a
    // real layout the file splits already exceed `cores` and this
    // branch never fires.
    if (df.rdd.getNumPartitions < cores) df.repartition(cores, col(key))
    else df
  }

  // =====================================================================
  // Shared Spark-SQL / DuckDB-SQL fragment pairs. The two dialects differ
  // only in: function names (transform/list_transform, ascii/unicode),
  // array indexing base (0-based a[i] vs 1-based a[i+1]), sequence(0,n-1)
  // vs range(n), and aggregate-with-init vs list_reduce(list_prepend...).
  // =====================================================================

  private val P = "2147483647"

  /** Whitespace tokens of `x`, empties dropped. */
  private def sToks(x: String) = s"filter(split($x, ' '), t -> t != '')"
  private def dToks(x: String) =
    s"list_filter(string_split($x, ' '), t -> t != '')"

  /** Polynomial hash: fold codepoints, h = (h*31 + c) mod P. */
  private def sPoly(x: String) =
    s"aggregate(filter(split($x, ''), c -> c != ''), cast(0 as bigint), " +
      s"(a, c) -> (a*31 + cast(ascii(c) as bigint)) % $P)"
  private def dPoly(x: String) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($x, ''), c -> CAST(unicode(c) AS BIGINT))), " +
      s"(a, c) -> (a*31 + c) % $P)"

  /** Word 3-gram shingles (short docs collapse to one whole-doc shingle). */
  private def dShingles(toks: String) = dShinglesN(toks, 3)
  private def dShinglesN(toks: String, n: Int) =
    s"CASE WHEN len($toks) < $n THEN [array_to_string($toks, ' ')] " +
      s"ELSE list_transform(range(len($toks) - ${n - 1}), " +
      s"i -> array_to_string(($toks)[i+1:i+$n], ' ')) END"

  /** Distinct shingle hashes — the Jaccard/MinHash input set. */
  private def dShingleHashes =
    s"list_distinct(list_transform(${dShingles(dToks("text"))}, s -> ${dPoly("s")}))"

  /** MinHash signature, k=16: sig_i = min over hashes of
    * (h*(1+7919*i) + (1+104729*i)) mod P. */
  private def dMinhash(hs: String) =
    s"list_transform(range(16), i -> list_min(list_transform($hs, " +
      s"h -> (h*(1 + 7919*i) + (1 + 104729*i)) % $P)))"

  /** LSH band keys (4 bands x 4 rows): fold band slice from init=band. */
  private def sBands(sig: String) =
    s"transform(sequence(0, 3), b -> aggregate(slice($sig, b*4 + 1, 4), " +
      s"cast(b as bigint), (a, v) -> (a*1000003 + v) % $P))"
  private def dBands(sig: String) =
    s"list_transform(range(4), b -> list_reduce(" +
      s"list_prepend(CAST(b AS BIGINT), ($sig)[b*4+1:b*4+4]), " +
      s"(a, v) -> (a*1000003 + v) % $P))"

  /** 32-bit SimHash over a precomputed token-hash array column. */
  private def dSimhash(th: String) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), range(32)), (acc, j) -> acc + " +
      s"CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), $th), (a, h) -> a + " +
      s"CASE WHEN (h >> j) % 2 = 1 THEN 1 ELSE -1 END) > 0 " +
      s"THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)"

  /** Left-fold dot product of two float-array columns, double accumulator. */
  private def dDot(a: String, b: String) =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len($a)), " +
      s"i -> CAST(($a)[i+1] AS DOUBLE) * CAST(($b)[i+1] AS DOUBLE))), (s, v) -> s + v)"

  /** 4-bit random-hyperplane LSH signature: bit j = 1 iff
    * dot(v, plane_j) > 0; plane component = quadratic congruential mix
    * of x = i + j*64 (y = x*2654435761 mod P;
    * (y^2 mod P + x)*2654435761 mod P mod 2001 - 1000, over 1000.0) —
    * every intermediate < 2^63 so checked-BIGINT engines accept it; the
    * squaring breaks the LCG plane-lattice (see VecLshExpr). */
  private def planeInt(x: String) = {
    val y = s"($x * 2654435761 % $P)"
    s"(($y * $y % $P + $x) * 2654435761 % $P % 2001 - 1000)"
  }
  private def dVecLsh(v: String) = dVecLshT(v, 0)
  /** Table `t`'s 4-bit signature (plane index J = t*4 + j — the same
    * independent-family offset vec_lsh uses for OR-amplification). */
  private def dVecLshT(v: String, t: Int) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), range(4)), (acc, j) -> acc + " +
      s"CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(len($v)), i -> CAST(($v)[i+1] AS DOUBLE) * " +
      s"CAST(${planeInt(s"(i + (j + ${t * 4})*64)")} AS DOUBLE) / 1000.0)), " +
      s"(s, p) -> s + p) > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)"

  // =====================================================================
  // Dedup
  // =====================================================================

  /** q27 — exact dedup stats per language: md5 content identity plus a
    * 40-char-prefix "near-exact" grouping (hash-groupBy; one shuffle). */
  private val q27: QFn = (s, d) =>
    t(s, d, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"),
        countDistinct(substring(col("text"), 1, 40)).as("n_unique_prefix"))
      .withColumn("n_exact_dups", col("n_docs") - col("n_unique"))
      .orderBy(col("lang"))
  private val q27Sql = """
    SELECT lang, count(*) AS n_docs,
      count(DISTINCT md5(text)) AS n_unique,
      count(DISTINCT substr(text, 1, 40)) AS n_unique_prefix,
      count(*) - count(DISTINCT md5(text)) AS n_exact_dups
    FROM documents GROUP BY lang ORDER BY lang"""

  /** q28 — exact n-gram Jaccard near-dup pairs (threshold 0.5) via
    * PREFIX-FILTERED candidate generation (Dedup.jaccardPairs: df-ordered
    * prefixes, exactness-preserving — see the completeness argument
    * there). The DuckDB oracle keeps the plain inverted-index join as
    * the SPEC: identical result set, since prefix filtering only prunes
    * pairs that cannot reach the threshold. */
  private val q28: QFn = (s, d) =>
    Dedup.jaccardPairs(wide(s, d, "documents", "doc_id"),
        "text", "doc_id", shingleN = 3, threshold = 0.5)
      .toDF("doc_a", "doc_b", "jaccard")
      .orderBy(col("doc_a"), col("doc_b"))
  private val q28Sql = s"""
    WITH sh AS (SELECT doc_id, unnest($dShingleHashes) AS h FROM documents),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT doc_a, doc_b,
      CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
    FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5
    ORDER BY doc_a, doc_b"""

  /** q29 — MinHash + LSH candidate pairs: k=16 signature, 4 bands x 4
    * rows, candidates = pairs sharing >= 1 band bucket (shuffle on band
    * key only — never all-pairs), estimated similarity = fraction of
    * equal signature components. */
  private val q29: QFn = (s, d) => {
    val base = wide(s, d, "documents", "doc_id")
      .select(col("doc_id"),
        F.minhashSig(F.shingleHashes(col("text"), 3), 16).as("sig"))
    val banded = base.select(col("doc_id"), col("sig"),
      explode(expr(sBands("sig"))).as("bk"))
    val b2 = banded.toDF("doc_id2", "sig2", "bk2")
    banded.join(b2, col("bk") === col("bk2") && col("doc_id") < col("doc_id2"))
      .select(col("doc_id").as("doc_a"), col("doc_id2").as("doc_b"),
        col("sig").as("sa"), col("sig2").as("sb"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(size(filter(sequence(0, 15), i -> sa[i] = sb[i])) AS DOUBLE) / 16.0")
          .as("est_sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
  private val q29Sql = s"""
    WITH base AS (SELECT doc_id,
        ${dMinhash(dShingleHashes)} AS sig FROM documents),
    banded AS (SELECT doc_id, sig, unnest(${dBands("sig")}) AS bk FROM base),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.sig AS sa, b.sig AS sb
      FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
      CAST(len(list_filter(range(16), i -> sa[i+1] = sb[i+1])) AS DOUBLE) / 16.0
        AS est_sim
    FROM cand ORDER BY doc_a, doc_b"""

  /** q30 — SimHash dedup clusters: 32-bit signature over the token
    * multiset, group docs by identical signature, keep the min doc_id as
    * the cluster representative. ONE hash-aggregate shuffle on the
    * signature, linear output — the plan that survives 100 TB (pairwise
    * hamming joins explode quadratically on low-entropy corpora; measured
    * 2.5M candidate pairs at sf0.1 for a 2x16-bit block join, vs 703
    * clusters for signature-identity grouping). */
  private val q30: QFn = (s, d) =>
    wide(s, d, "documents", "doc_id")
      .select(col("doc_id"), F.simhash32(col("text")).as("sig"))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"),
        max(col("doc_id")).as("max_id"))
      .filter(col("n_docs") > 1)
      .orderBy(col("sig"))
  private val q30Sql = s"""
    WITH sd AS (SELECT doc_id,
        ${dSimhash(s"list_transform(${dToks("text")}, t -> ${dPoly("t")})")} AS sig
      FROM documents)
    SELECT sig, count(*) AS n_docs, min(doc_id) AS keep_id,
      max(doc_id) AS max_id
    FROM sd GROUP BY sig HAVING count(*) > 1 ORDER BY sig"""

  /** q165 — EXACT Hamming-radius SimHash near-dup via pigeonhole bands
    * (multi-index Hamming search — Norouzi, Punjani & Fleet CVPR 2012;
    * the band trick itself is the classic pigeonhole argument): every
    * pair of 32-bit signatures within Hamming distance 3 must agree on
    * at least one of 4 disjoint 8-bit bands, so candidates come from
    * FOUR band-equality equi-joins (4 rows/doc, one shuffle on the
    * (band, bits) key), each candidate verified by an exact popcount —
    * never an all-pairs XOR scan, and EXACT by construction (q30's
    * identity clusters find distance 0 only; this finds every pair to
    * radius 3). Geometry honesty: 8-bit bands over sig32 are pinned
    * for oracle comparability; at corpus scale the production shape is
    * simhash64 with 16-bit bands so band-value collisions stay
    * occupancy-bounded (the q31/q99 pinned-geometry precedent). */
  private val q165: QFn = (s, d) => {
    val docs = wide(s, d, "documents", "doc_id")
      .select(col("doc_id"), F.simhash32(col("text")).as("sig"))
    // SALTED band join (guide §2.5): the dense sig32/8-bit demo
    // geometry has only 1024 (band, bits) values, so buckets are hot
    // by construction — at bench scale AQE's byte-sized coalesce ran
    // the ~3M candidate popcounts on ONE core (measured 6.5 s), and a
    // fixed-N pin fixed that but disabled AQE's skew split, which the
    // 10x probe punished 4.4x (233 s vs 53 s unpinned: sig-identical
    // replicas pile into single band values). The salt splits every
    // bucket S ways DETERMINISTICALLY (pmod of the doc id — never
    // rand(), SPARK-38388): side A carries its own salt, side B
    // explodes to all S, so each ordered pair meets exactly once at
    // salt(A); bytes cost is S x one slim side, quadratic bucket work
    // divides by S, and the exchange stays AQE-sized at every scale.
    // S is CAPPED (r15 verdict item 1): side B replicates xS, so an
    // uncapped S = defaultParallelism would blow the banded frame up
    // 2000x on a 2000-core cluster for no skew benefit beyond a modest
    // split — a bounded constant keeps replication cost flat while
    // still dividing the quadratic bucket work.
    val saltS = math.min(s.sparkContext.defaultParallelism, 16)
    val banded = docs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(k =>
        struct(lit(k).as("band"),
          expr(s"(sig >> ${8 * k}) & 255").as("bits"))): _*)).as("bb"))
      .select(col("doc_id"), col("sig"),
        col("bb.band").as("band"), col("bb.bits").as("bits"))
    val bA = banded.withColumn("salt",
      pmod(xxhash64(col("doc_id")), lit(saltS.toLong)))
    val bB = banded.toDF("doc_b", "sig_b", "band", "bits")
      .withColumn("salt",
        explode(array((0 until saltS).map(i => lit(i.toLong)): _*)))
    bA.join(bB, Seq("band", "bits", "salt"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"),
        expr("bit_count(sig ^ sig_b)").as("hamming"))
      // verify-then-dedup: the free popcount filter runs first so the
      // distinct shuffle carries true pairs, not band candidates (a
      // close pair can still agree on several bands — hence distinct)
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }
  private val q165Sql = s"""
    WITH sd AS (SELECT doc_id,
        ${dSimhash(s"list_transform(${dToks("text")}, t -> ${dPoly("t")})")} AS sig
      FROM documents),
    banded AS (SELECT doc_id, sig, k AS band, (sig >> (8 * k)) & 255 AS bits
      FROM sd, (SELECT unnest([0, 1, 2, 3]) AS k)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        bit_count(xor(a.sig, b.sig)) AS hamming
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
    ORDER BY doc_a, doc_b"""

  /** q171 — the PRODUCTION Hamming geometry under the gate: q165's
    * radius search re-run over 64-bit signatures with 16-bit bands
    * ([[Dedup.hammingPairs]] — band occupancy ~corpus/65536 per value,
    * so the within-band quadratic term vanishes at scale). The oracle
    * rebuilds simhash64 compositionally: the lower 32 bits are
    * [[dSimhash]] over the token polyHashes, the upper 32 the same
    * vote fold over the avalanche31-mixed hashes (five chained
    * list_transform steps — integer ops, bit-exact cross-engine). At
    * this radius over decorrelated 64-bit signatures only genuinely
    * near-identical token multisets pair — the output is the TRUE
    * near-dup set, orders of magnitude sparser than q165's dense
    * sig32 demo. */
  private val q171: QFn = (s, d) => {
    Dedup.hammingPairs(wide(s, d, "documents", "doc_id"), "text",
        "doc_id", radius = 3, bandBits = 16)
      .orderBy(col("id_a"), col("id_b"))
  }
  private val q171Sql = {
    val av = Seq(
      "x -> xor(x, x >> 15)",
      "x -> (x * 739982445) & 2147483647",
      "x -> xor(x, x >> 12)",
      "x -> (x * 695872825) & 2147483647",
      "x -> xor(x, x >> 15)")
      .foldLeft("hl")((acc, f) => s"list_transform($acc, $f)")
    s"""
    WITH sd0 AS (SELECT doc_id,
        list_transform(${dToks("text")}, t -> ${dPoly("t")}) AS hl
      FROM documents),
    sd AS (SELECT doc_id,
        ${dSimhash("hl")} | (${dSimhash(av)} << 32) AS sig
      FROM sd0),
    banded AS (SELECT doc_id, sig, k AS band,
        (sig >> (16 * k)) & 65535 AS bits
      FROM sd, (SELECT unnest([0, 1, 2, 3]) AS k)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        bit_count(xor(a.sig, b.sig)) AS hamming
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
    ORDER BY id_a, id_b"""
  }

  /** q172 — EXACT edit-distance similarity join over the customer
    * names, threshold d=1, via the deletion-neighborhood geometry
    * ([[StringSim.deletionJoin]] — FastSS, Bocek et al. 2007). The
    * corpus is adversarial for every gram-frequency scheme: all names
    * share "Customer#0000…", and the digit-gram space (10^3 trigrams)
    * SATURATES as the corpus grows, so even rarity-ordered Ed-Join
    * prefix buckets grow with N (measured: the q173 geometry times out
    * on the 10x name probe where this one holds — SCALING.md). Deletion
    * variants key on all-but-one character, so a bucket is an ed-2
    * near-clique and candidates track the true-pair volume. The oracle
    * is the definitionally-exact all-pairs levenshtein scan (length-
    * banded) — the hash gate proves the variant join admits no false
    * negatives; `StringSimSpec` property-tests the equivalence on
    * random perturbed strings. Levenshtein is the classic unit-cost
    * DP — engine-independent integers. */
  private val q172: QFn = (s, d) => {
    StringSim.deletionJoin(wide(s, d, "customer", "c_custkey"), "c_name",
        d = 1)
      .select(col("s_a").as("nm_a"), col("s_b").as("nm_b"), col("lev"))
      .orderBy(col("nm_a"), col("nm_b"))
  }
  private val q172Sql = """
    WITH n AS (SELECT DISTINCT c_name AS nm FROM customer)
    SELECT a.nm AS nm_a, b.nm AS nm_b, levenshtein(a.nm, b.nm) AS lev
    FROM n a JOIN n b ON a.nm < b.nm
      AND abs(length(a.nm) - length(b.nm)) <= 1
      AND levenshtein(a.nm, b.nm) <= 1
    ORDER BY nm_a, nm_b"""

  /** q173 — the rare-gram prefix geometry ([[StringSim.editJoin]] —
    * Ed-Join, Xiao et al. VLDB 2008) under the same oracle, on the
    * part names at d=2: a natural-text key where gram RARITY (not
    * whole-string identity) is the right candidate key, and where the
    * radius-2 deletion fan-out (C(L,2) variants/string) would be the
    * wasteful shape. Short names below the count-filter floor
    * q*(d+1)=9 route through the length-banded short pool — both
    * filter paths sit under the hash gate. */
  private val q173: QFn = (s, d) => {
    StringSim.editJoin(wide(s, d, "part", "p_partkey"), "p_name", d = 2)
      .select(col("s_a").as("nm_a"), col("s_b").as("nm_b"), col("lev"))
      .orderBy(col("nm_a"), col("nm_b"))
  }
  private val q173Sql = """
    WITH n AS (SELECT DISTINCT p_name AS nm FROM part)
    SELECT a.nm AS nm_a, b.nm AS nm_b, levenshtein(a.nm, b.nm) AS lev
    FROM n a JOIN n b ON a.nm < b.nm
      AND abs(length(a.nm) - length(b.nm)) <= 2
      AND levenshtein(a.nm, b.nm) <= 2
    ORDER BY nm_a, nm_b"""

  /** q179 — standing SIMHASH index fold under the oracle: the (id,
    * sig64) artifact the production Hamming gate carries
    * ([[Dedup.simhashIndex]], `StreamOps.hammingIngestBatch`,
    * CleanPipeline `incremental_hamming`) built on doc_id < 400, the
    * rest folded via [[Dedup.refreshSimhashIndex]]. Every row is a
    * pure per-doc function of text (no df, no ranks, no geometry), so
    * fold == rebuild is per-row equality — the oracle recomputes
    * simhash64 compositionally for the WHOLE corpus (the q171
    * five-step avalanche fold), pinning the signature arithmetic the
    * gate and q171's pair search both stand on. */
  private val q179: QFn = (s, d) => {
    val docs = wide(s, d, "documents", "doc_id")
    Dedup.refreshSimhashIndex(
        Dedup.simhashIndex(docs.filter(col("doc_id") < 400),
          "text", "doc_id"),
        docs.filter(col("doc_id") >= 400), "text", "doc_id")
      .orderBy(col("id"))
  }
  private val q179Sql = {
    val av = Seq(
      "x -> xor(x, x >> 15)",
      "x -> (x * 739982445) & 2147483647",
      "x -> xor(x, x >> 12)",
      "x -> (x * 695872825) & 2147483647",
      "x -> xor(x, x >> 15)")
      .foldLeft("hl")((acc, f) => s"list_transform($acc, $f)")
    s"""
    WITH sd0 AS (SELECT doc_id AS id,
        list_transform(${dToks("text")}, t -> ${dPoly("t")}) AS hl
      FROM documents)
    SELECT id, ${dSimhash("hl")} | (${dSimhash(av)} << 32) AS sig
    FROM sd0 ORDER BY id"""
  }

  /** q174 — standing shingle-index DELETE (tombstones): the index
    * built over the whole documents corpus forgets every doc_id
    * divisible by 5 via [[Dedup.deleteFromShingleIndex]] — (id, h)
    * rows drop, then df / per-doc rank / size re-derive over the
    * survivors. The oracle builds the index FROM SCRATCH over the
    * surviving corpus, so hash equality IS the delete == rebuild
    * proof for every column the near-dup gate's prefix filter stands
    * on. Corpus text is never re-read on the Spark side — the delete
    * is index-rows-only work. */
  private val q174: QFn = (s, d) => {
    val docs = wide(s, d, "documents", "doc_id")
    Dedup.deleteFromShingleIndex(
        Dedup.shingleIndex(docs, "text", "doc_id"),
        docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
      .orderBy(col("id"), col("pos"))
  }
  private val q174Sql = s"""
    WITH sh AS (SELECT doc_id AS id, unnest($dShingleHashes) AS h
      FROM documents WHERE doc_id % 5 != 0),
    dfq AS (SELECT h, count(*) AS df FROM sh GROUP BY h)
    SELECT id, h, df,
      row_number() OVER (PARTITION BY id ORDER BY df, h) - 1 AS pos,
      count(*) OVER (PARTITION BY id) AS n
    FROM sh JOIN dfq USING (h) ORDER BY id, pos"""

  // =====================================================================
  // Embedding similarity
  // =====================================================================

  /** q31 — LSH-bucketed embedding near-dup: 4-bit hyperplane signature
    * (16 buckets), candidate pairs share a bucket, verify exact cosine
    * >= 0.35. The scale path for vector dedup: signature is per-row, the
    * join shuffles on the bucket id. */
  private val q31: QFn = (s, d) => {
    val v = wide(s, d, "embeddings", "vec_id")
      .select(col("vec_id"), col("embedding"),
        sqrt(F.dotF(col("embedding"), col("embedding"))).as("nrm"),
        F.vecLsh(col("embedding"), 4).as("bucket"))
    val v2 = v.toDF("vec_id2", "embedding2", "nrm2", "bucket2")
    v.join(v2, col("bucket") === col("bucket2") && col("vec_id") < col("vec_id2"))
      .select(col("vec_id").as("vec_a"), col("vec_id2").as("vec_b"),
        (F.dotF(col("embedding"), col("embedding2")) / (col("nrm") * col("nrm2")))
          .as("cos_sim"))
      .filter(col("cos_sim") >= 0.35)
      .orderBy(col("vec_a"), col("vec_b"))
  }
  private val q31Sql = s"""
    WITH v AS (SELECT vec_id, embedding,
        sqrt(${dDot("embedding", "embedding")}) AS nrm,
        ${dVecLsh("embedding")} AS bucket
      FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      ${dDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos_sim
    FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE ${dDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.35
    ORDER BY vec_a, vec_b"""

  /** q32 — brute-force cosine top-k (k=5) for 20 probe vectors against
    * the full table: the exact-ANN baseline. Probe side is tiny ->
    * broadcast; ranking is a per-probe window. */
  private val q32: QFn = (s, d) => {
    val all = wide(s, d, "embeddings", "vec_id")
      .withColumn("nrm", sqrt(F.dotF(col("embedding"), col("embedding"))))
    val probes = all.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    broadcast(probes)
      .join(all, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        (F.dotF(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
          .as("cos_sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos_sim"))
      .orderBy(col("q_id"), col("rank"))
  }
  private val q32Sql = s"""
    WITH e AS (SELECT vec_id, embedding,
        sqrt(${dDot("embedding", "embedding")}) AS nrm FROM embeddings),
    scored AS (SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
        ${dDot("q.embedding", "v.embedding")} / (q.nrm * v.nrm) AS cos_sim
      FROM e q JOIN e v ON q.vec_id < 20
        AND q.vec_id != v.vec_id),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
        ORDER BY cos_sim DESC, vec_id) AS rank FROM scored)
    SELECT q_id, rank, vec_id, cos_sim FROM ranked WHERE rank <= 5
    ORDER BY q_id, rank"""

  /** q160 — contrastive hard-negative mining: for each probe vector,
    * the top-3 most-similar vectors with a DIFFERENT label — the
    * "hardest negatives" a contrastive trainer wants next to each
    * anchor (Robinson et al. ICLR 2021 motivates the selection; the
    * operator is the selection itself, embedding-agnostic). q32's
    * exact broadcast-probe shape with a label guard in the join; the
    * 100 TB path swaps the full scan for IVF candidates (q47/q112)
    * exactly as for plain ANN — mining composes with every index
    * family in this repo because it is just a candidate filter. */
  private val q160: QFn = (s, d) => {
    val all = wide(s, d, "embeddings", "vec_id")
      .withColumn("nrm", sqrt(F.dotF(col("embedding"), col("embedding"))))
    val probes = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    broadcast(probes)
      .join(all, col("q_label") =!= col("label"))
      .select(col("q_id"), col("vec_id"), col("label").as("neg_label"),
        (F.dotF(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
          .as("cos_sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("neg_label"),
        col("cos_sim"))
      .orderBy(col("q_id"), col("rank"))
  }
  private val q160Sql = s"""
    WITH e AS (SELECT vec_id, label, embedding,
        sqrt(${dDot("embedding", "embedding")}) AS nrm FROM embeddings),
    scored AS (SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
        v.label AS neg_label,
        ${dDot("q.embedding", "v.embedding")} / (q.nrm * v.nrm) AS cos_sim
      FROM e q JOIN e v ON q.vec_id < 10 AND q.label != v.label),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
        ORDER BY cos_sim DESC, vec_id) AS rank FROM scored)
    SELECT q_id, rank, vec_id, neg_label, cos_sim FROM ranked
    WHERE rank <= 3 ORDER BY q_id, rank"""

  /** q161 — kNN label-disagreement audit (mislabel detection): for
    * each audited vector, the majority label among its 5 nearest
    * neighbors (self excluded); rows whose own label loses the vote
    * are the mislabel suspects every labeled-corpus curation pass
    * hunts (confident-learning flavor — Northcutt et al. JAIR 2021 —
    * with kNN votes instead of model probabilities, so it runs
    * before ANY model exists). Vote counts are integers; the argmax
    * is the windowless min(struct) house pattern with smaller-label
    * tie break; cos ranking reuses q32's pinned left-fold dot. */
  private val q161: QFn = (s, d) => {
    val all = wide(s, d, "embeddings", "vec_id")
      .withColumn("nrm", sqrt(F.dotF(col("embedding"), col("embedding"))))
    val probes = all.filter(col("vec_id") < 60)
      .select(col("vec_id").as("q_id"), col("label").as("own_label"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val top5 = broadcast(probes)
      .join(all, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("own_label"), col("label"),
        (F.dotF(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
          .as("cos_sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("label"))))
      .filter(col("rank") <= 5)
    top5.groupBy("q_id", "own_label", "label")
      .agg(count(lit(1)).as("votes"))
      .groupBy("q_id", "own_label")
      .agg(min(struct((-col("votes")).as("nv"), col("label").as("l")))
        .as("top"))
      .select(col("q_id"), col("own_label"),
        col("top.l").as("pred_label"), (-col("top.nv")).as("votes"),
        (col("top.l") =!= col("own_label")).as("disagree"))
      .orderBy(col("q_id"))
  }
  private val q161Sql = s"""
    WITH e AS (SELECT vec_id, label, embedding,
        sqrt(${dDot("embedding", "embedding")}) AS nrm FROM embeddings),
    scored AS (SELECT q.vec_id AS q_id, q.label AS own_label,
        v.label AS label,
        ${dDot("q.embedding", "v.embedding")} / (q.nrm * v.nrm) AS cos_sim
      FROM e q JOIN e v ON q.vec_id < 60 AND q.vec_id != v.vec_id),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
        ORDER BY cos_sim DESC, label) AS rank FROM scored),
    votes AS (SELECT q_id, own_label, label,
        CAST(count(*) AS BIGINT) AS votes
      FROM ranked WHERE rank <= 5 GROUP BY 1, 2, 3),
    top AS (SELECT q_id, own_label, label AS pred_label, votes,
        row_number() OVER (PARTITION BY q_id
          ORDER BY votes DESC, label) AS rn FROM votes)
    SELECT q_id, own_label, pred_label, votes,
      pred_label != own_label AS disagree
    FROM top WHERE rn = 1 ORDER BY q_id"""

  /** q33 — LSH-bucketed ANN top-k (k=3): probes only search their own
    * hyperplane bucket — the approximate scale path (documented recall
    * tradeoff vs q32's exact scan). */
  private val q33: QFn = (s, d) => {
    val v = wide(s, d, "embeddings", "vec_id")
      .select(col("vec_id"), col("embedding"),
        sqrt(F.dotF(col("embedding"), col("embedding"))).as("nrm"),
        F.vecLsh(col("embedding"), 4).as("bucket"))
    val probes = v.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
    broadcast(probes)
      .join(v, col("q_bucket") === col("bucket") && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        (F.dotF(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
          .as("cos_sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos_sim"))
      .orderBy(col("q_id"), col("rank"))
  }
  private val q33Sql = s"""
    WITH v AS (SELECT vec_id, embedding,
        sqrt(${dDot("embedding", "embedding")}) AS nrm,
        ${dVecLsh("embedding")} AS bucket
      FROM embeddings),
    scored AS (SELECT q.vec_id AS q_id, b.vec_id AS vec_id,
        ${dDot("q.embedding", "b.embedding")} / (q.nrm * b.nrm) AS cos_sim
      FROM v q JOIN v b ON q.vec_id < 20 AND q.bucket = b.bucket
        AND q.vec_id != b.vec_id),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
        ORDER BY cos_sim DESC, vec_id) AS rank FROM scored)
    SELECT q_id, rank, vec_id, cos_sim FROM ranked WHERE rank <= 3
    ORDER BY q_id, rank"""

  /** q47 — IVF-style ANN: 16 deterministic seed centroids (vec_id < 16 —
    * one k-means assignment pass with seed init), every vector assigned
    * to its nearest centroid (squared-L2 argmin, ties to the lowest
    * centroid id), probes search ONLY their own cell. The inverted-file
    * scale path: assignment is a broadcast nested-loop over C centroids
    * (C tiny), search shuffles on cell id — never all-pairs. */
  private val q47: QFn = (s, d) => {
    val emb = wide(s, d, "embeddings", "vec_id")
      .withColumn("n2", F.dotF(col("embedding"), col("embedding")))
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"),
        col("n2").as("cn2"))
    // dist^2 = |v|^2 - 2 v.c + |c|^2 — identical arithmetic in the oracle
    val scored = emb.join(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("n2"), col("cent_id"),
        (col("n2") - lit(2.0) * F.dotF(col("embedding"), col("cemb"))
          + col("cn2")).as("dist2"))
    val assigned = scored
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
          .orderBy(col("dist2"), col("cent_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("n2"), col("cent_id"))
    val probes = assigned.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("n2").as("q_n2"), col("cent_id").as("q_cell"))
    broadcast(probes)
      .join(assigned,
        col("q_cell") === col("cent_id") && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        (F.dotF(col("q_emb"), col("embedding"))
          / (sqrt(col("q_n2")) * sqrt(col("n2")))).as("cos_sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos_sim"))
      .orderBy(col("q_id"), col("rank"))
  }
  private val q47Sql = s"""
    WITH e AS (SELECT vec_id, embedding,
        ${dDot("embedding", "embedding")} AS n2 FROM embeddings),
    c AS (SELECT vec_id AS cent_id, embedding AS cemb, n2 AS cn2
      FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)),
    scored AS (SELECT e.vec_id, e.embedding, e.n2, c.cent_id,
        e.n2 - 2.0 * ${dDot("e.embedding", "c.cemb")} + c.cn2 AS dist2
      FROM e, c),
    assigned AS (SELECT vec_id, embedding, n2, cent_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY dist2, cent_id) AS rn FROM scored) WHERE rn = 1),
    srch AS (SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
        ${dDot("q.embedding", "v.embedding")} / (sqrt(q.n2) * sqrt(v.n2))
          AS cos_sim
      FROM assigned q JOIN assigned v ON q.vec_id < 20
        AND q.cent_id = v.cent_id AND q.vec_id != v.vec_id),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
        ORDER BY cos_sim DESC, vec_id) AS rank FROM srch)
    SELECT q_id, rank, vec_id, cos_sim FROM ranked WHERE rank <= 3
    ORDER BY q_id, rank"""

  /** q48 — vocabulary building: global token counts, top 50 by
    * (count desc, token) — map-side partial counts then one shuffle on
    * the token (the canonical word-count plan). */
  private val q48: QFn = (s, d) =>
    wide(s, d, "documents", "doc_id")
      .select(explode(expr(sToks("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)
  private val q48Sql = s"""
    SELECT token, count(*) AS n
    FROM (SELECT unnest(${dToks("text")}) AS token FROM documents)
    GROUP BY token ORDER BY n DESC, token LIMIT 50"""

  /** q49 — deterministic train/valid/test split assignment: bucket =
    * polyhash(md5(doc_id || text)) mod 100 -> 80/10/10. Content-hash
    * based (stable under re-ingest and re-partitioning — row order never
    * matters), pure map, no shuffle except the audit count. */
  private val q49: QFn = (s, d) =>
    wide(s, d, "documents", "doc_id")
      .withColumn("bucket", expr(s"${sPoly("md5(text)")} % 100"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "valid").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"), col("split"))
  private val q49Sql = s"""
    WITH b AS (SELECT doc_id, lang, ${dPoly("md5(text)")} % 100 AS bucket
      FROM documents)
    SELECT lang,
      CASE WHEN bucket < 80 THEN 'train'
           WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split,
      count(*) AS n, min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM b GROUP BY 1, 2 ORDER BY lang, split"""

  /** q50 — PII-style redaction pass: mask digit runs and long tokens,
    * report per-doc redaction counts — the text-cleaning map stage of a
    * training pipeline (pure map, regexp engines agree on these simple
    * patterns). */
  private val q50: QFn = (s, d) =>
    wide(s, d, "documents", "doc_id")
      .select(col("doc_id"),
        expr("regexp_replace(text, '[0-9]+', '<NUM>')").as("redacted"),
        expr("size(regexp_extract_all(text, '[0-9]+', 0))").as("n_num"),
        expr("size(regexp_extract_all(text, '[A-Za-z]{10,}', 0))")
          .as("n_long_tokens"))
      .select(col("doc_id"), md5(col("redacted")).as("redacted_md5"),
        col("n_num"), col("n_long_tokens"))
      .orderBy(col("doc_id"))
  private val q50Sql = """
    SELECT doc_id,
      md5(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS redacted_md5,
      len(regexp_extract_all(text, '[0-9]+')) AS n_num,
      len(regexp_extract_all(text, '[A-Za-z]{10,}')) AS n_long_tokens
    FROM documents ORDER BY doc_id"""

  /** q57 — the full corpus-cleaning pipeline as ONE declarative plan:
    * (1) exact dedup keeps the min-doc_id per md5;
    * (2) near-dup removal drops the doc_b side of every Jaccard>=0.5 pair
    *     (inverted-index join);
    * (3) quality gate: >= 20 tokens;
    * (4) content-hash train/valid/test split;
    * output = per-(lang, split) survivor counts. Catalyst fuses the
    * whole chain — scan once, two candidate-key shuffles, one final agg. */
  private val q57: QFn = (s, d) => {
    val docs = wide(s, d, "documents", "doc_id")
      .withColumn("h", md5(col("text")))
    // rename the aggregated side's key: joining docs("h") === keep("h")
    // would resolve both sides to the SAME attribute (a trivially-true
    // predicate) and silently rely on keep_id uniqueness alone
    val keep = docs.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
      .withColumnRenamed("h", "kh")
    // materialize once: jaccardPairs consumes its input FOUR times
    // (shingle explode, df join, and two verify probes) — without the
    // checkpoint the dedup groupBy+join replays per consumer (PERF.md
    // lesson 8: materialize shuffled intermediates, recompute pure maps).
    // NOT pinned: AQE coalesces this join's output to 1-3 partitions
    // and the checkpoint freezes that, but a Par.pin here measured NET
    // WORSE (solo A/B 2.03 -> 2.91 s, r16) — the jaccard pipeline is
    // many small exchanges where AQE's coalescing is right (the r15
    // jaccard-family lesson; pin only measured multi-second single-task
    // expansions).
    val exactKept = docs.join(keep,
      docs("h") === keep("kh") && docs("doc_id") === keep("keep_id"))
      .select(docs("doc_id"), col("lang"), col("text"))
      .localCheckpoint()
    // near-dup removal via the prefix-filtered exact-Jaccard join
    // (Dedup.jaccardPairs) — same result set as the oracle's plain
    // inverted-index formulation, scale-safe candidate generation
    val nearDupIds = Dedup.jaccardPairs(exactKept, "text", "doc_id",
        shingleN = 3, threshold = 0.5)
      .select(col("id_b").as("doc_id")).distinct()
    exactKept.join(nearDupIds, Seq("doc_id"), "left_anti")
      .filter(expr(s"size(${sToks("text")}) >= 20"))
      .withColumn("bucket", expr(s"${sPoly("md5(text)")} % 100"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "valid").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("split"))
  }
  private val q57Sql = s"""
    WITH docs AS (SELECT doc_id, lang, text, md5(text) AS h FROM documents),
    keep AS (SELECT h, min(doc_id) AS keep_id FROM docs GROUP BY h),
    exact_kept AS (SELECT d.doc_id, d.lang, d.text FROM docs d
      JOIN keep k ON d.h = k.h AND d.doc_id = k.keep_id),
    sh AS (SELECT doc_id, unnest($dShingleHashes) AS sh
      FROM exact_kept AS documents),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    neardup AS (SELECT DISTINCT p.b AS doc_id FROM pairs p
      JOIN sz x ON x.doc_id = p.a JOIN sz y ON y.doc_id = p.b
      WHERE CAST(p.inter AS DOUBLE) / (x.n + y.n - p.inter) >= 0.5),
    cleaned AS (SELECT e.doc_id, e.lang, e.text FROM exact_kept e
      WHERE e.doc_id NOT IN (SELECT doc_id FROM neardup)
        AND len(list_filter(string_split(e.text, ' '), t -> t != '')) >= 20),
    split AS (SELECT lang, CASE
        WHEN ${dPoly("md5(text)")} % 100 < 80 THEN 'train'
        WHEN ${dPoly("md5(text)")} % 100 < 90 THEN 'valid'
        ELSE 'test' END AS split
      FROM cleaned AS documents)
    SELECT lang, split, count(*) AS n_docs
    FROM split GROUP BY lang, split ORDER BY lang, split"""

  /** q58 — multimodal feature extraction end-to-end: utf-8 payloads as
    * binary, per-partition batch decode (`Multimodal.decodeFeatures`,
    * the mapPartitions path), per-modality feature stats. The decode is
    * a mapPartitions operator — not SQL-expressible, so this entry has
    * NO oracle (the driver records a rows-only check; the exact decode
    * values are unit-tested in MultimodalSpec). */
  private val q58: QFn = (s, d) => {
    val bin = wide(s, d, "documents", "doc_id")
      .select(col("doc_id").as("id"),
        when(col("doc_id") % 2 === 0, "text_a").otherwise("text_b")
          .as("modality"),
        expr("cast(text as binary)").as("payload"))
    graft.ops.Multimodal.decodeFeatures(bin)
      .groupBy(col("modality"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_bytes")).as("total_bytes"),
        min(col("checksum")).as("min_checksum"),
        max(col("checksum")).as("max_checksum"))
      .orderBy(col("modality"))
  }
  /** The stub decode IS SQL-expressible: payload = utf-8 bytes of `text`
    * (a pure-ASCII corpus, verified octet_length == length for every
    * row), so checksum = the byte-fold polyhash = dPoly over codepoints
    * and n_bytes = length(text). The q58 aggregate only consumes
    * (n_bytes, checksum), so the oracle closes the loop on the
    * mapPartitions decode path without needing float features in SQL. */
  private val q58Sql = s"""
    WITH f AS (SELECT doc_id,
        CASE WHEN doc_id % 2 = 0 THEN 'text_a' ELSE 'text_b' END AS modality,
        length(text) AS n_bytes, ${dPoly("text")} AS checksum
      FROM documents)
    SELECT modality, count(*) AS n,
      CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      min(checksum) AS min_checksum, max(checksum) AS max_checksum
    FROM f GROUP BY modality ORDER BY modality"""

  /** q59 — char 5-gram Jaccard near-dup over the first 128 chars: the
    * tokenless-script variant of q28 (CJK and code have no whitespace
    * words). Hot grams are removed with a document-frequency cut
    * (df <= 20) BEFORE the inverted-index join — the standard stop-gram
    * technique and a hard scale requirement: on this corpus the uncut
    * index joins 589M rows, the cut one 23.5k (measured at sf0.1).
    * Jaccard is then over each doc's rare-gram set. */
  private val q59: QFn = (s, d) => {
    // native char-gram kernel (CharGramHashesExpr) — same values as the
    // HOF `transform(sequence(...), i -> poly(substring(...)))` spec the
    // oracle keeps, in one compiled pass instead of an interpreted
    // lambda per gram position
    val sh = wide(s, d, "documents", "doc_id")
      .withColumn("head", expr("substring(text, 1, 128)"))
      .select(col("doc_id"), explode(F.charGramHashes(col("head"), 5)).as("g"))
    val rare = sh.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 20).select("g")
    val kept = sh.join(rare, "g")
    val sz = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val kept2 = kept.toDF("g2", "doc_id2")
    kept.join(kept2, col("g") === col("g2") && col("doc_id") < col("doc_id2"))
      .groupBy(col("doc_id").as("doc_a"), col("doc_id2").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.toDF("doc_a", "na"), "doc_a")
      .join(sz.toDF("doc_b", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }
  private val q59Sql = s"""
    WITH base AS (SELECT doc_id, substr(text, 1, 128) AS head FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        range(greatest(length(head) - 5, 0) + 1),
        i -> ${dPoly("substr(head, i + 1, 5)")}))) AS g FROM base),
    rare AS (SELECT g FROM (SELECT g, count(*) AS df FROM sh GROUP BY g)
      WHERE df <= 20),
    kept AS (SELECT sh.doc_id, sh.g FROM sh JOIN rare ON sh.g = rare.g),
    sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
      CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
    FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5
    ORDER BY doc_a, doc_b"""

  /** q60 — feature-hashing vectorizer: 16-dim token-count vector per doc
    * (dim = polyhash(token) mod 16) — the deterministic text-to-vector
    * op of a featurization stage; output = order-independent vector
    * stats. Pure map + one final sort. */
  private val q60: QFn = (s, d) =>
    // native one-pass vectorizer (FeatureHashCountsExpr) replaces 16
    // interpreted filter scans over interpreted per-token hashes; the
    // repartition doubles as widen AND CollapseProject barrier, and now
    // ships only 16 longs per row (not the full token-hash array)
    t(s, d, "documents")
      .select(col("doc_id"), F.featureHashCounts(col("text"), 16).as("vec"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        expr("size(filter(vec, v -> v > 0))").as("nnz"),
        expr("array_max(vec)").as("max_count"),
        expr(s"aggregate(vec, cast(0 as bigint), (a, v) -> (a*31 + v) % $P)")
          .as("vec_hash"))
      .orderBy(col("doc_id"))
  private val q60Sql = s"""
    WITH th AS (SELECT doc_id, list_transform(${dToks("text")},
        t -> ${dPoly("t")}) AS th FROM documents),
    v AS (SELECT doc_id, list_transform(range(16),
        i -> CAST(len(list_filter(th, h -> h % 16 = i)) AS BIGINT)) AS vec
      FROM th)
    SELECT doc_id,
      len(list_filter(vec, x -> x > 0)) AS nnz,
      list_max(vec) AS max_count,
      list_reduce(list_prepend(CAST(0 AS BIGINT), vec),
        (a, x) -> (a*31 + x) % $P) AS vec_hash
    FROM v ORDER BY doc_id"""

  /** q61 — stratified sampling: at most 30 docs per language, selected
    * deterministically by content-hash rank (stable under re-ingest and
    * re-partitioning — never `rand()`). One window shuffle on the
    * stratum key. */
  private val q61: QFn = (s, d) =>
    wide(s, d, "documents", "doc_id")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
          .orderBy(md5(col("text")), col("doc_id"))))
      .filter(col("rk") <= 30)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"))
  private val q61Sql = """
    WITH ranked AS (SELECT lang, doc_id, row_number() OVER (
        PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
      FROM documents)
    SELECT lang, count(*) AS n, min(doc_id) AS min_doc,
      max(doc_id) AS max_doc
    FROM ranked WHERE rk <= 30 GROUP BY lang ORDER BY lang"""

  // =====================================================================
  // Text analysis
  // =====================================================================

  private val langs: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "que", "y", "en", "un", "es", "los"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "des"),
    "zh" -> Seq("shi", "de", "le", "zai", "you", "wo", "ta", "he"))

  /** q34 — n-gram-heuristic language ID: per-language stopword-hit
    * scores, predicted = first language (code order) achieving the max
    * score; output = confusion counts vs the labeled lang column. */
  private val q34: QFn = (s, d) => {
    val base0 = wide(s, d, "documents", "doc_id")
      .withColumn("toks", expr(sToks("text")))
    val scored = langs.foldLeft(base0) { case (df, (code, words)) =>
      df.withColumn(s"s_$code",
        expr(s"size(filter(toks, t -> t IN (${words.map("'" + _ + "'").mkString(",")})))"))
    }
    val m = greatest(langs.map(l => col(s"s_${l._1}")): _*)
    val pred = langs.foldRight(lit("??")) { case ((code, _), acc) =>
      when(col(s"s_$code") === m, lit(code)).otherwise(acc)
    }
    // foldRight gives the FIRST matching lang priority (de < en < ...)
    scored.withColumn("predicted", pred)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }
  private val q34Sql = {
    val scores = langs.map { case (code, words) =>
      s"len(list_filter(${dToks("text")}, t -> t IN (${words.map("'" + _ + "'").mkString(",")}))) AS s_$code"
    }.mkString(", ")
    val m = s"greatest(${langs.map("s_" + _._1).mkString(", ")})"
    val pred = langs.map { case (code, _) =>
      s"WHEN s_$code = $m THEN '$code'"
    }.mkString("CASE ", " ", " ELSE '??' END")
    s"""
    WITH scored AS (SELECT lang, $scores FROM documents)
    SELECT lang, $pred AS predicted, count(*) AS n
    FROM scored GROUP BY 1, 2 ORDER BY lang, predicted"""
  }

  /** q35 — document quality scoring: token count, mean token length,
    * stopword ratio, digit ratio, composite score. Per-doc (no shuffle at
    * all — pure map), top 200 by (score, doc_id) for a bounded result. */
  private val q35: QFn = (s, d) => {
    val sw = langs.flatMap(_._2).distinct.map("'" + _ + "'").mkString(",")
    wide(s, d, "documents", "doc_id")
      .withColumn("toks", expr(sToks("text")))
      .select(
        col("doc_id"),
        col("n_chars"),
        size(col("toks")).as("n_tokens"),
        expr("cast(aggregate(toks, 0, (a, t) -> a + length(t)) as double) / size(toks)")
          .as("mean_tok_len"),
        expr(s"cast(size(filter(toks, t -> t IN ($sw))) as double) / size(toks)")
          .as("stopword_ratio"),
        (expr("cast(length(regexp_replace(text, '[^0-9]', '')) as double)")
          / col("n_chars")).as("digit_ratio"))
      .withColumn("quality",
        col("stopword_ratio") * 0.4
          + least(col("n_tokens").cast("double"), lit(100.0)) / 100.0 * 0.4
          + (lit(1.0) - col("digit_ratio")) * 0.2)
      .orderBy(col("quality").desc, col("doc_id"))
      .limit(200)
  }
  private val q35Sql = {
    val sw = langs.flatMap(_._2).distinct.map("'" + _ + "'").mkString(",")
    s"""
    WITH base AS (SELECT doc_id, n_chars, ${dToks("text")} AS toks,
        CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_dig
      FROM documents),
    m AS (SELECT doc_id, n_chars, len(toks) AS n_tokens,
        CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))),
          (a, t) -> a + t) AS DOUBLE) / len(toks) AS mean_tok_len,
        CAST(len(list_filter(toks, t -> t IN ($sw))) AS DOUBLE) / len(toks)
          AS stopword_ratio,
        n_dig / n_chars AS digit_ratio
      FROM base)
    SELECT doc_id, n_chars, n_tokens, mean_tok_len, stopword_ratio,
      digit_ratio,
      stopword_ratio * 0.4 + least(CAST(n_tokens AS DOUBLE), 100.0) / 100.0 * 0.4
        + (1.0 - digit_ratio) * 0.2 AS quality
    FROM m ORDER BY quality DESC, doc_id LIMIT 200"""
  }

  /** q36 — token counting per language: whitespace tokens, BPE-ish regex
    * tokens (letter runs | digit runs | single punctuation), distinct
    * tokens. Integer sums only — order-independent. */
  private val q36: QFn = (s, d) =>
    wide(s, d, "documents", "doc_id")
      .withColumn("toks", expr(sToks("text")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("toks"))).as("ws_tokens"),
        sum(expr("size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))"))
          .as("bpe_tokens"),
        sum(size(array_distinct(col("toks")))).as("distinct_tokens"))
      .orderBy(col("lang"))
  private val q36Sql = s"""
    SELECT lang, count(*) AS n_docs,
      CAST(sum(len(${dToks("text")})) AS BIGINT) AS ws_tokens,
      CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS bpe_tokens,
      CAST(sum(len(list_distinct(${dToks("text")}))) AS BIGINT) AS distinct_tokens
    FROM documents GROUP BY lang ORDER BY lang"""

  /** q37 — winnowing document fingerprints (MOSS-style): char 8-gram
    * rolling hashes over the first 256 chars, min of each 4-window,
    * distinct; emit per-doc fingerprint-set stats (order-independent:
    * size / min / max / sum mod P). */
  private val q37: QFn = (s, d) => {
    wide(s, d, "documents", "doc_id")
      .select(col("doc_id"),
        F.winnowFp(expr("substring(text, 1, 256)"), 8, 4).as("fp"))
      .select(col("doc_id"), size(col("fp")).as("n_fp"),
        expr("array_min(fp)").as("fp_min"), expr("array_max(fp)").as("fp_max"),
        expr(s"aggregate(fp, cast(0 as bigint), (a, v) -> (a + v) % $P)").as("fp_sum"))
      .orderBy(col("doc_id"))
  }
  private val q37Sql = s"""
    WITH base AS (SELECT doc_id, substr(text, 1, 256) AS head FROM documents),
    g AS (SELECT doc_id, list_transform(range(greatest(length(head) - 8, 0) + 1),
        i -> ${dPoly("substr(head, i + 1, 8)")}) AS g FROM base),
    fp AS (SELECT doc_id, list_distinct(CASE WHEN len(g) < 4 THEN [list_min(g)]
        ELSE list_transform(range(len(g) - 3), j -> list_min(g[j+1:j+4])) END) AS fp
      FROM g)
    SELECT doc_id, len(fp) AS n_fp, list_min(fp) AS fp_min,
      list_max(fp) AS fp_max,
      list_reduce(list_prepend(CAST(0 AS BIGINT), fp), (a, v) -> (a + v) % $P)
        AS fp_sum
    FROM fp ORDER BY doc_id"""

  /** q38 — binary (multimodal) column plumbing: utf-8 payload as an
    * opaque blob with typed metadata (byte length, head bytes hex,
    * content hash). The decode step for real image/audio lives in
    * graft.ops.Multimodal (stubbed deterministic featureizer); this query
    * proves the schema + scan path end-to-end against the oracle. */
  private val q38: QFn = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        expr("cast(text as binary)").as("payload"))
      .select(col("doc_id"),
        expr("length(payload)").as("n_bytes"),
        expr("hex(cast(substring(payload, 1, 8) as binary))").as("head_hex"))
      .orderBy(col("doc_id"))
      .limit(300)
  private val q38Sql = """
    SELECT doc_id, octet_length(encode(text)) AS n_bytes,
      hex(encode(substr(text, 1, 8))) AS head_hex
    FROM documents ORDER BY doc_id LIMIT 300"""

  /** q63 — bigram-rarity fluency gate: per-doc distinct word-bigram
    * hashes joined with their corpus document frequency; n_rare (df<=2)
    * and min_df flag template/gibberish text (all-common bigrams) vs
    * unique prose — the cheap LM-free fluency signal of a data-quality
    * stage. Deliberately INTEGER-only outputs (counts and df minima):
    * a log-prob formulation would sum doubles in nondeterministic
    * partial-agg order and break the cross-engine hash. Plan: per-row
    * signature, ONE df aggregate, one join back — same scale shape as
    * the dedup family. */
  private val q63: QFn = (s, d) => {
    val sh = wide(s, d, "documents", "doc_id")
      .select(col("doc_id"), explode(F.shingleHashes(col("text"), 2)).as("h"))
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("df") <= 2, 1).otherwise(0)).as("n_rare"),
        min(col("df")).as("min_df"))
      .orderBy(col("doc_id")).limit(300)
  }
  private val q63Sql = s"""
    WITH toks AS (SELECT doc_id, ${dToks("text")} AS tk FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
        ELSE list_transform(range(len(tk) - 1),
          i -> array_to_string((tk)[i+1:i+2], ' ')) END,
        s -> ${dPoly("s")}))) AS h FROM toks),
    df AS (SELECT h, count(*) AS df FROM sh GROUP BY h)
    SELECT doc_id, count(*) AS n_bigrams,
      CAST(sum(CASE WHEN df.df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
      min(df.df) AS min_df
    FROM sh JOIN df USING (h)
    GROUP BY doc_id ORDER BY doc_id LIMIT 300"""

  /** q64 — incremental near-dup through the driver gate: a NEW batch
    * (doc_id >= 400) tested against the STANDING corpus index
    * (doc_id < 400) without re-pairing the corpus with itself — the
    * daily-ingest shape (Dedup.incrementalJaccard + shingleIndex). The
    * corpus side is exactly what a fleet persists between batches. */
  private val q64: QFn = (s, d) => {
    val docs = wide(s, d, "documents", "doc_id")
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    // the standing index is MATERIALIZED in production (a parquet table
    // carried across batches); localCheckpoint reproduces that here —
    // incrementalJaccard reads it three ways (prefix rows, token order,
    // verify sets), and an unmaterialized index replays its window
    // subtree per consumer (measured 16 Window nodes -> 4)
    val idx = Dedup.shingleIndex(corpus, "text", "doc_id").localCheckpoint()
    Dedup.incrementalJaccard(batch, idx, "text", "doc_id",
        shingleN = 3, threshold = 0.5)
      .orderBy(col("new_id"), col("corpus_id"))
  }
  private val q64Sql = s"""
    WITH sh AS (SELECT doc_id, unnest($dShingleHashes) AS h FROM documents),
    csh AS (SELECT doc_id AS corpus_id, h FROM sh WHERE doc_id < 400),
    bsh AS (SELECT doc_id AS new_id, h FROM sh WHERE doc_id >= 400),
    cs AS (SELECT corpus_id, count(*) AS n_corpus FROM csh GROUP BY 1),
    bs AS (SELECT new_id, count(*) AS n_new FROM bsh GROUP BY 1),
    inter AS (SELECT new_id, corpus_id, count(*) AS inter
      FROM bsh JOIN csh USING (h) GROUP BY 1, 2)
    SELECT new_id, corpus_id,
      CAST(inter AS DOUBLE) / (n_new + n_corpus - inter) AS jaccard
    FROM inter JOIN bs USING (new_id) JOIN cs USING (corpus_id)
    WHERE CAST(inter AS DOUBLE) / (n_new + n_corpus - inter) >= 0.5
    ORDER BY new_id, corpus_id"""

  /** q65 — length-distribution cut points per language: exact
    * interpolated quartiles of n_chars (the percentile thresholds a
    * data-quality stage derives its keep/trim rules from). Exact
    * `percentile` (sort-based) == DuckDB `quantile_cont`; quarters over
    * INTEGER inputs interpolate as a + (b-a)*{.25,.5,.75} — exact binary
    * fractions times integers, so both engines produce bit-identical
    * doubles. Spark's plan is a partial/final ObjectHashAggregate —
    * no global sort. */
  private val q65: QFn = (s, d) =>
    t(s, d, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        // ONE array-percentile aggregate shares one value->count map per
        // group; three scalar percentile() calls would build and merge
        // three independent maps over the same column
        expr("percentile(n_chars, array(0.25D, 0.5D, 0.75D))").as("qs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .select(col("lang"), col("n_docs"),
        col("qs").getItem(0).as("p25"),
        col("qs").getItem(1).as("median"),
        col("qs").getItem(2).as("p75"),
        col("min_chars"), col("max_chars"))
      .orderBy(col("lang"))
  private val q65Sql = """
    WITH g AS (SELECT lang, count(*) AS n_docs,
        quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS qs,
        min(n_chars) AS min_chars, max(n_chars) AS max_chars
      FROM documents GROUP BY lang)
    SELECT lang, n_docs, qs[1] AS p25, qs[2] AS median, qs[3] AS p75,
      min_chars, max_chars
    FROM g ORDER BY lang"""

  /** q68 — test-set decontamination: flag training docs sharing any
    * distinct word 5-gram with the benchmark partition (doc_id % 10 = 7
    * stands in for a held-out eval set). The benchmark side of the
    * inverted-index join is BROADCAST: on a real lake the eval sets are
    * KBs against 100 TB of training text, so the contamination scan is
    * one broadcast-hash pass over the corpus — no shuffle at all.
    *
    * Scale caveat (measured, tools/make_probe.py): a 5-gram that is hot
    * on BOTH sides multiplies — a degenerate probe whose permutation
    * grouped duplicate tokens into runs pushed this join from 248k to
    * 123M rows. Real pipelines cap the gram's corpus doc-frequency
    * before joining (boilerplate grams carry no contamination signal) —
    * the same df-cut q28/q59/q82 apply; the oracle here keeps the
    * uncapped spec because the eval-set grams of the driver corpus are
    * cold. */
  private val q68: QFn = (s, d) => {
    val sh = wide(s, d, "documents", "doc_id")
      .select(col("doc_id"), explode(F.shingleHashes(col("text"), 5)).as("h"))
    val bench = sh.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id").as("bench_id"), col("h"))
    sh.filter(col("doc_id") % 10 =!= 7)
      .join(broadcast(bench), "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .orderBy(col("doc_id"))
  }
  private val q68Sql = s"""
    WITH toks AS (SELECT doc_id, ${dToks("text")} AS tk FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        ${dShinglesN("tk", 5)}, s -> ${dPoly("s")}))) AS h FROM toks),
    bench AS (SELECT doc_id AS bench_id, h FROM sh WHERE doc_id % 10 = 7),
    train AS (SELECT doc_id, h FROM sh WHERE doc_id % 10 != 7)
    SELECT doc_id, count(DISTINCT h) AS n_shared_grams,
      count(DISTINCT bench_id) AS n_bench_docs
    FROM train JOIN bench USING (h)
    GROUP BY doc_id ORDER BY doc_id"""

  /** q69 — repetition signals (the Gopher-rule family adapted to
    * single-line docs): token total/distinct counts, the most-repeated
    * token and bigram counts, and the duplicate-token fraction.
    * Repetition is a PER-DOCUMENT signal, so this is a map-only plan:
    * one native hash-map pass per row (NgramRepeatStatsExpr) for tokens
    * and one for bigrams — ZERO shuffles at any scale, vs the two
    * corpus-wide explode+groupBy exchanges of the naive formulation
    * (which the DuckDB oracle retains as the independent spec). Counts
    * stay integers; the one fraction is a single int/int double division
    * both engines execute identically. */
  private val q69: QFn = (s, d) =>
    wide(s, d, "documents", "doc_id")
      // zero-token docs: the oracle's unnest produces no rows for them
      // (inner join drops the doc); mirror that membership with a CHEAP
      // scan-level predicate — tokens are space-split, so zero tokens
      // iff the text is all spaces. Filtering on n_tokens AFTER the
      // stats projection would be pushed below the exchange and re-run
      // the full tokenize pass per row (seen in the query's plan).
      .filter(expr("trim(BOTH ' ' FROM text) != ''"))
      .select(col("doc_id"),
        F.ngramRepeatStats(col("text"), 1).as("ts"),
        F.ngramRepeatStats(col("text"), 2).as("bs"))
      .select(col("doc_id"),
        col("ts").getField("n_grams").as("n_tokens"),
        col("ts").getField("n_distinct").as("n_distinct_tokens"),
        col("ts").getField("top_n").as("top_token_n"),
        col("bs").getField("top_n").as("top_bigram_n"))
      .withColumn("dup_token_frac",
        (col("n_tokens") - col("n_distinct_tokens")).cast("double") /
          col("n_tokens"))
      .orderBy(col("doc_id")).limit(300)
  private val q69Sql = s"""
    WITH toks AS (SELECT doc_id, ${dToks("text")} AS tk FROM documents),
    t AS (SELECT doc_id, unnest(tk) AS t FROM toks),
    tc AS (SELECT doc_id, t, count(*) AS c FROM t GROUP BY 1, 2),
    ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        count(*) AS n_distinct_tokens, max(c) AS top_token_n
      FROM tc GROUP BY 1),
    bg AS (SELECT doc_id, unnest(${dShinglesN("tk", 2)}) AS g FROM toks),
    bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
    bs AS (SELECT doc_id, max(c) AS top_bigram_n FROM bc GROUP BY 1)
    SELECT doc_id, n_tokens, n_distinct_tokens, top_token_n, top_bigram_n,
      CAST(n_tokens - n_distinct_tokens AS DOUBLE) / n_tokens
        AS dup_token_frac
    FROM ts JOIN bs USING (doc_id) ORDER BY doc_id LIMIT 300"""

  /** q70 — rarity-weighted top terms per doc (tf-idf ranking without the
    * float idf): rank tokens by (tf DESC, df ASC, token ASC) and keep
    * the top 3. The integer-lexicographic rank IS the tf-idf order for
    * fixed N — log(N/df) is monotone in -df — while keeping the output
    * hash-stable across engines (no transcendental floats). Plan:
    * per-row native tf map (token_tf — NO shuffle of raw token
    * occurrences; only one row per DISTINCT token per doc leaves the
    * scan), df aggregate, join back, window top-k; the oracle keeps the
    * explode+groupBy shape as the independent spec. */
  private val q70: QFn = (s, d) => {
    val tf = wide(s, d, "documents", "doc_id")
      .select(col("doc_id"), explode(F.tokenTf(col("text"))).as("e"))
      .select(col("doc_id"), col("e.t").as("t"), col("e.tf").as("tf"))
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("t").asc)
    tf.join(dfreq, "t")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("t"), col("tf"), col("df"))
      .orderBy(col("doc_id"), col("rank"))
  }
  private val q70Sql = s"""
    WITH toks AS (SELECT doc_id, ${dToks("text")} AS tk FROM documents),
    t AS (SELECT doc_id, unnest(tk) AS t FROM toks),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM t GROUP BY 1, 2),
    df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
    r AS (SELECT doc_id, t, tf, df, row_number() OVER (
        PARTITION BY doc_id ORDER BY tf DESC, df ASC, t ASC) AS rank
      FROM tf JOIN df USING (t))
    SELECT doc_id, rank, t, tf, df FROM r WHERE rank <= 3
    ORDER BY doc_id, rank"""

  /** q72 — near-dup cluster consolidation: the q28 Jaccard pairs
    * (threshold 0.5) collapsed into connected components, each doc
    * labeled with its component's minimum id (the canonical
    * representative a dedup stage keeps). Spark side is the iterative
    * min-label propagation (Dedup.connectedComponents — localCheckpoint
    * per round, O(1) plan depth); the oracle computes the same fixpoint
    * as a DuckDB RECURSIVE transitive closure — two independent
    * algorithms, one answer. */
  private val q72: QFn = (s, d) => {
    val pairs = Dedup.jaccardPairs(wide(s, d, "documents", "doc_id"),
      "text", "doc_id", shingleN = 3, threshold = 0.5)
    Dedup.connectedComponents(pairs).orderBy(col("id"))
  }
  /** q143 — STANDING components through a batch fold: components of
    * batch 1's pairs become star edges; batch 2 contributes its
    * internal pairs ([[Dedup.jaccardPairs]]) plus its cross pairs
    * against batch 1's standing shingle index
    * ([[Dedup.incrementalJaccard]] — the q64 serving path), and
    * [[Dedup.refreshComponents]] folds them. The oracle computes the
    * one-shot full-corpus closure (q72's): fold == rebuild,
    * differentially — the union-find compression loses nothing. */
  private val q143: QFn = (s, d) => {
    val docs = wide(s, d, "documents", "doc_id")
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250)
    val prev = Dedup.connectedComponents(
      Dedup.jaccardPairs(b1, "text", "doc_id", 3, 0.5))
    val idx = Dedup.shingleIndex(b1, "text", "doc_id").localCheckpoint()
    val cross = Dedup.incrementalJaccard(b2, idx, "text", "doc_id",
        shingleN = 3, threshold = 0.5)
      .select(col("new_id").as("id_a"), col("corpus_id").as("id_b"))
    val internal = Dedup.jaccardPairs(b2, "text", "doc_id", 3, 0.5)
      .select(col("id_a"), col("id_b"))
    Dedup.refreshComponents(prev, cross.unionByName(internal))
      .orderBy(col("id"))
  }

  /** q145 — sorted-neighborhood blocking (Hernández & Stolfo 1995):
    * candidate pairs within w=5 positions of the corpus sorted by a
    * text-prefix key, verified by exact shingle Jaccard >= 0.3 — the
    * ER-style complement of LSH blocking with an exactly-n*w pair
    * budget (no hot-bucket blowup). The global position comes from
    * [[Blocking.globalRank]] (range exchange + per-partition ranks +
    * a #partitions-row offset join — never a single-partition window);
    * the oracle ranks with one window (oracle-side only). */
  private val q145: QFn = (s, d) => {
    val docs = wide(s, d, "documents", "doc_id")
      .withColumn("__k", expr("substring(lower(text), 1, 24)"))
    val cand = Blocking.sortedNeighborhoodPairs(docs, "__k", "doc_id",
      w = 5)
    val sets = docs.select(col("doc_id"),
      sort_array(F.shingleHashes(col("text"), 3)).as("hs"))
      .select(col("doc_id"), col("hs"), size(col("hs")).as("n"))
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("hs").as("ha"),
        col("n").as("na")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("hs").as("hb"),
        col("n").as("nb")), "id_b")
      .withColumn("inter", F.sortedIntersectSize(col("ha"), col("hb")))
      .withColumn("jacc_ppm",
        expr("(inter * 1000000) div (na + nb - inter)"))
      .filter(col("jacc_ppm") >= 300000)
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"),
        col("gap"), col("jacc_ppm"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val q145Sql = s"""
    WITH dd AS (SELECT doc_id, substr(lower(text), 1, 24) AS k
      FROM documents),
    r AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) - 1
        AS pos FROM dd),
    cand AS (SELECT a.doc_id AS ia, b.doc_id AS ib, b.pos - a.pos AS gap
      FROM r a JOIN r b ON b.pos > a.pos AND b.pos - a.pos <= 5),
    sh AS (SELECT DISTINCT doc_id, h FROM (SELECT doc_id,
      unnest($dShingleHashes) AS h FROM documents)),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    xi AS (SELECT c.ia, c.ib, c.gap, count(s2.h) AS inter
      FROM cand c
      LEFT JOIN sh s1 ON s1.doc_id = c.ia
      LEFT JOIN sh s2 ON s2.doc_id = c.ib AND s2.h = s1.h
      GROUP BY 1, 2, 3)
    SELECT least(x.ia, x.ib) AS doc_a, greatest(x.ia, x.ib) AS doc_b,
      x.gap, (x.inter * 1000000) // (na.n + nb.n - x.inter) AS jacc_ppm
    FROM xi x JOIN sz na ON na.doc_id = x.ia
    JOIN sz nb ON nb.doc_id = x.ib
    WHERE (x.inter * 1000000) // (na.n + nb.n - x.inter) >= 300000
    ORDER BY 1, 2"""

  private val q72Sql = s"""
    WITH RECURSIVE
    sh AS (SELECT doc_id, unnest($dShingleHashes) AS h FROM documents),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
    pairs AS (SELECT doc_a, doc_b
      FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5),
    edges AS (SELECT doc_a AS x, doc_b AS y FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (SELECT x AS id, y AS r FROM edges
      UNION
      SELECT e.x AS id, reach.r FROM edges e JOIN reach ON reach.id = e.y)
    SELECT id, least(id, min(r)) AS label
    FROM reach GROUP BY id ORDER BY id"""

  /** q73 — dedup representative selection: per duplicate cluster
    * (identical SimHash signature), KEEP the longest member — the
    * quality-aware canonical-choice policy a real dedup stage applies
    * (min-id keeps arbitrary docs; longest keeps the most complete).
    * Deterministic argmax via a lexicographic struct max on
    * (n_chars, doc_id) — no packed integer key, so no doc_id range
    * assumption at any scale (ties impossible: doc_id unique). ONE
    * aggregate after the per-row signature, like q30; the oracle uses
    * an equivalent per-cluster window rank. */
  private val q73: QFn = (s, d) =>
    wide(s, d, "documents", "doc_id")
      .select(col("doc_id"), col("n_chars"), F.simhash32(col("text")).as("sig"))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col("n_chars"), col("doc_id")))
          .getField("doc_id").as("keep_id"),
        max(col("n_chars")).as("keep_chars"),
        sum(col("n_chars")).as("cluster_chars"))
      .filter(col("n_docs") > 1)
      .orderBy(col("sig"))
  private val q73Sql = s"""
    WITH sd AS (SELECT doc_id, n_chars,
        ${dSimhash(s"list_transform(${dToks("text")}, t -> ${dPoly("t")})")} AS sig
      FROM documents),
    g AS (SELECT sig, count(*) AS n_docs, max(n_chars) AS keep_chars,
        CAST(sum(n_chars) AS BIGINT) AS cluster_chars
      FROM sd GROUP BY sig HAVING count(*) > 1),
    r AS (SELECT sig, doc_id, row_number() OVER (PARTITION BY sig
        ORDER BY n_chars DESC, doc_id DESC) AS rn FROM sd)
    SELECT g.sig, n_docs, r.doc_id AS keep_id, keep_chars, cluster_chars
    FROM g JOIN r ON g.sig = r.sig AND r.rn = 1 ORDER BY g.sig"""

  /** Sign-bit halves of a 64-dim embedding: bits lo..lo+31 packed into
    * one BIGINT (two halves avoid the sign bit of a single 64-bit
    * pack, which DuckDB's checked BIGINT arithmetic rejects). The
    * Spark side lives in Similarity.binaryQuantTopK. */
  private def dSignBits(v: String, lo: Int) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), range(32)), " +
      s"(acc, j) -> acc + CASE WHEN ($v)[j + $lo + 1] > 0 " +
      s"THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)"

  /** q74 — binary-quantized ANN: 1 bit per dimension (sign), hamming
    * pre-rank to 20 candidates, exact-cosine re-rank to top 3. THE
    * memory-bandwidth play at 100 TB: the scan side touches 8 bytes per
    * vector instead of 256, and only ~20 full vectors per probe are
    * ever fetched for the exact pass. Integer hamming with id
    * tie-breaks keeps the candidate set hash-stable cross-engine. */
  private val q74: QFn = (s, d) => {
    val all = wide(s, d, "embeddings", "vec_id")
    Similarity.binaryQuantTopK(all, all.filter(col("vec_id") < 20),
        "embedding", "vec_id", k = 3, preK = 20)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("q_id"), col("rank"))
  }
  private val q74Sql = s"""
    WITH e AS (SELECT vec_id, embedding,
        sqrt(${dDot("embedding", "embedding")}) AS nrm,
        ${dSignBits("embedding", 0)} AS s1,
        ${dSignBits("embedding", 32)} AS s2
      FROM embeddings),
    ham AS (SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
        q.embedding AS q_emb, q.nrm AS q_nrm, v.embedding, v.nrm,
        bit_count(xor(q.s1, v.s1)) + bit_count(xor(q.s2, v.s2)) AS hamming
      FROM e q JOIN e v ON q.vec_id < 20 AND q.vec_id != v.vec_id),
    pre AS (SELECT *, row_number() OVER (PARTITION BY q_id
        ORDER BY hamming, vec_id) AS pre_rank FROM ham),
    scored AS (SELECT q_id, vec_id, hamming,
        ${dDot("q_emb", "embedding")} / (q_nrm * nrm) AS cos_sim
      FROM pre WHERE pre_rank <= 20),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
        ORDER BY cos_sim DESC, vec_id) AS rank FROM scored)
    SELECT q_id, rank, vec_id, hamming, cos_sim FROM ranked
    WHERE rank <= 3 ORDER BY q_id, rank"""

  /** q78 — per-source data scorecard: the vendor-quality rollup a
    * curation stage reviews before admitting a source — volume, exact
    * duplication, language mix, and length spread per source. One
    * hash-groupBy; only int/int divisions reach doubles. */
  private val q78: QFn = (s, d) =>
    t(s, d, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .withColumn("dup_rate",
        (col("n_docs") - col("n_unique")).cast("double") / col("n_docs"))
      .orderBy(col("source"))
  private val q78Sql = """
    SELECT source, count(*) AS n_docs,
      count(DISTINCT md5(text)) AS n_unique,
      CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
      count(DISTINCT lang) AS n_langs,
      min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE) / count(*)
        AS dup_rate
    FROM documents GROUP BY source ORDER BY source"""

  /** q80 — SemDeDup (Abbas et al. 2023): semantic dedup via cluster
    * cells — nearest-centroid assignment (16 deterministic seed
    * centroids, the q47 IVF seeding), pairwise cosine ONLY within a
    * cell, drop any vector with a lower-id cell-mate at cosine >= 0.35.
    * The cells bound the pair join the way IVF bounds ANN search: the
    * shuffle key is the cell id and the quadratic term is (cell size)^2,
    * never N^2. Spark side is Dedup.semdedup. */
  private val q80: QFn = (s, d) =>
    Dedup.semdedup(wide(s, d, "embeddings", "vec_id"), "embedding",
        "vec_id", numCells = 16, threshold = 0.35)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("vec_id"))
  private val q80Sql = s"""
    WITH e AS (SELECT vec_id, embedding,
        ${dDot("embedding", "embedding")} AS n2 FROM embeddings),
    c AS (SELECT vec_id AS cent_id, embedding AS cemb, n2 AS cn2
      FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)),
    scored AS (SELECT e.vec_id, e.embedding, e.n2, c.cent_id,
        e.n2 - 2.0 * ${dDot("e.embedding", "c.cemb")} + c.cn2 AS dist2
      FROM e, c),
    assigned AS (SELECT vec_id, embedding, n2, cent_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY dist2, cent_id) AS rn FROM scored) WHERE rn = 1),
    drops AS (SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b ON a.cent_id = b.cent_id
        AND a.vec_id < b.vec_id
      WHERE ${dDot("a.embedding", "b.embedding")}
        / (sqrt(a.n2) * sqrt(b.n2)) >= 0.35)
    SELECT a.vec_id, a.cent_id AS cell_id,
      CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
    FROM assigned a LEFT JOIN drops d ON a.vec_id = d.vec_id
    ORDER BY a.vec_id"""

  /** q81 — boilerplate-shingle detection (the CCNet/RefinedWeb repeated-
    * span signal): per source, a shingle present in >= 5% of that
    * source's docs is boilerplate (headers, nav bars, license blurbs);
    * each doc reports how much of it is boilerplate. Doc-frequency agg
    * on (source, shingle), flags joined back on the same key (only the
    * tiny per-source doc counts broadcast) — shuffles stay on bounded
    * keys, all-integer output. */
  private val q81: QFn = (s, d) => {
    val docs = wide(s, d, "documents", "doc_id")
    val sh = docs.select(col("doc_id"), col("source"),
      explode(F.shingleHashes(col("text"), 3)).as("h"))
    val nd = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val flagged = sh.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("df"))
      .join(broadcast(nd), "source")
      .select(col("source"), col("h"),
        (col("df") * 20 >= col("n_docs")).as("boiler"))
    sh.join(flagged, Seq("source", "h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"))
      .orderBy(col("doc_id"))
  }
  private val q81Sql = s"""
    WITH sh AS (SELECT doc_id, source, unnest($dShingleHashes) AS h
      FROM documents),
    nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    f AS (SELECT df.source, h, (df * 20 >= n_docs) AS boiler
      FROM (SELECT source, h, count(*) AS df FROM sh GROUP BY source, h) df
      JOIN nd ON df.source = nd.source)
    SELECT doc_id, count(*) AS n_shingles,
      CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
    FROM sh JOIN f ON sh.source = f.source AND sh.h = f.h
    GROUP BY doc_id ORDER BY doc_id"""

  /** q82 — winnowing-fingerprint overlap pairs (MOSS-style plagiarism /
    * near-copy detection): docs sharing >= 2 RARE winnow fingerprints
    * (df <= 5 — common fingerprints are boilerplate and would pair
    * quadratically; the df-cut is the same scale valve as q59, and
    * winnowing itself has already compressed the index ~4x vs raw
    * 8-grams). Join key is the fingerprint, never all-pairs. */
  private val q82: QFn = (s, d) => {
    val fp = wide(s, d, "documents", "doc_id")
      .select(col("doc_id"),
        explode(F.winnowFp(expr("substring(text, 1, 256)"), 8, 4)).as("f"))
    val rare = fp.join(
        fp.groupBy("f").agg(count(lit(1)).as("df")).filter(col("df") <= 5),
        "f")
      .select(col("doc_id"), col("f"))
    rare.toDF("doc_a", "f").join(rare.toDF("doc_b", "f2"),
        col("f") === col("f2") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy(col("doc_a"), col("doc_b"))
  }
  private val q82Sql = s"""
    WITH base AS (SELECT doc_id, substr(text, 1, 256) AS head FROM documents),
    g AS (SELECT doc_id, list_transform(range(greatest(length(head) - 8, 0) + 1),
        i -> ${dPoly("substr(head, i + 1, 8)")}) AS g FROM base),
    fp AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(g) < 4
        THEN [list_min(g)]
        ELSE list_transform(range(len(g) - 3), j -> list_min(g[j+1:j+4]))
        END)) AS f FROM g),
    rare AS (SELECT doc_id, fp.f FROM fp
      JOIN (SELECT f, count(*) AS df FROM fp GROUP BY f) d ON fp.f = d.f
      WHERE df <= 5)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM rare a JOIN rare b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY doc_a, doc_b"""

  /** q83 — duplicate-cluster size histogram: the dedup audit view —
    * how many SimHash clusters of each size exist and how many docs
    * they hold (cluster size 1 = unique). Two cheap aggregates after
    * the per-row signature; output is O(max cluster size). */
  private val q83: QFn = (s, d) =>
    wide(s, d, "documents", "doc_id")
      .select(F.simhash32(col("text")).as("sig"))
      .groupBy(col("sig")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy(col("cluster_size"))
  private val q83Sql = s"""
    WITH sd AS (SELECT doc_id,
        ${dSimhash(s"list_transform(${dToks("text")}, t -> ${dPoly("t")})")} AS sig
      FROM documents),
    c AS (SELECT sig, count(*) AS cluster_size FROM sd GROUP BY sig)
    SELECT cluster_size, count(*) AS n_clusters,
      CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM c GROUP BY cluster_size ORDER BY cluster_size"""

  /** q84 — vocabulary coverage curve: what fraction of all token
    * occurrences the top-5/10/20 vocabulary entries cover (the
    * tokenizer-budget question). Token counts shuffle once on the
    * token; the top-20 come from a distributed TakeOrdered (limit
    * after sort — never a global window over the full vocabulary),
    * then two single-row aggregates cross-join. All-integer. */
  private val q84: QFn = (s, d) => {
    // token counts feed BOTH the top-20 and the total — materialize once
    // (|V| rows, tiny) so the corpus-wide explode+agg runs a single time
    val cnt = wide(s, d, "documents", "doc_id")
      .select(explode(expr(sToks("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    // the top-20 come from a distributed TakeOrdered (limit after sort);
    // prefix sums over the <=20 survivors via ONE collect_list aggregate
    // sorted by struct(-n, token) = (count desc, token asc) — no global
    // window anywhere in the plan
    val top = cnt.orderBy(col("n").desc, col("token")).limit(20)
    val tot = cnt.agg(count(lit(1)).as("n_vocab"),
      sum(col("n")).as("n_total"))
    val covs = top
      .agg(expr("array_sort(collect_list(struct(-n AS neg, n, token)))")
        .as("a"))
      .select(
        expr("aggregate(slice(a, 1, 5), cast(0 as bigint), (s, x) -> s + x.n)")
          .as("cov_5"),
        expr("aggregate(slice(a, 1, 10), cast(0 as bigint), (s, x) -> s + x.n)")
          .as("cov_10"),
        expr("aggregate(a, cast(0 as bigint), (s, x) -> s + x.n)")
          .as("cov_20"))
    tot.crossJoin(covs)
  }
  private val q84Sql = s"""
    WITH cnt AS (SELECT token, count(*) AS n
      FROM (SELECT unnest(${dToks("text")}) AS token FROM documents)
      GROUP BY token),
    r AS (SELECT *, row_number() OVER (ORDER BY n DESC, token) AS rank
      FROM cnt)
    SELECT CAST(count(*) AS BIGINT) AS n_vocab,
      CAST(sum(n) AS BIGINT) AS n_total,
      CAST(sum(CASE WHEN rank <= 5 THEN n ELSE 0 END) AS BIGINT) AS cov_5,
      CAST(sum(CASE WHEN rank <= 10 THEN n ELSE 0 END) AS BIGINT) AS cov_10,
      CAST(sum(CASE WHEN rank <= 20 THEN n ELSE 0 END) AS BIGINT) AS cov_20
    FROM r"""

  /** q85 — hard-negative mining (contrastive training): per probe, the
    * 3 most-similar same-LSH-bucket vectors with cosine still < 0.3 —
    * near in hash space, dissimilar in embedding space. Same bounded
    * bucket join as q33 with a similarity ceiling before the rank
    * (Similarity.hardNegatives). */
  private val q85: QFn = (s, d) => {
    val all = wide(s, d, "embeddings", "vec_id")
    Similarity.hardNegatives(all, all.filter(col("vec_id") < 20),
        "embedding", "vec_id", k = 3, maxSim = 0.3, bits = 4)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("q_id"), col("rank"))
  }
  private val q85Sql = s"""
    WITH e AS (SELECT vec_id, embedding,
        sqrt(${dDot("embedding", "embedding")}) AS nrm,
        ${dVecLsh("embedding")} AS bucket FROM embeddings),
    cand AS (SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
        ${dDot("q.embedding", "v.embedding")} / (q.nrm * v.nrm) AS cos_sim
      FROM e q JOIN e v ON q.vec_id < 20 AND q.bucket = v.bucket
        AND q.vec_id != v.vec_id),
    neg AS (SELECT *, row_number() OVER (PARTITION BY q_id
        ORDER BY cos_sim DESC, vec_id) AS rank
      FROM cand WHERE cos_sim < 0.3)
    SELECT q_id, vec_id, cos_sim, rank FROM neg WHERE rank <= 3
    ORDER BY q_id, rank"""

  /** q86 — training-sequence packing (GPT-style concat-and-chop): docs
    * are concatenated in a deterministic order and chopped into
    * fixed-length (512-token) sequences; each doc is attributed to the
    * sequence holding its FIRST token. Packing is SHARDED (content-hash
    * mod 8): each shard packs independently — a running token sum over
    * a per-shard window, parallel across shards — so no global
    * single-partition window exists at any scale; cross-shard waste is
    * bounded by one partial sequence per shard. At 100 TB you raise the
    * shard count to the cluster's parallelism; the per-shard running sum
    * stays a single exchange + sort. All-integer output. */
  private val q86: QFn = (s, d) => {
    val seqLen = 512
    val docs = wide(s, d, "documents", "doc_id")
      .select(col("doc_id"),
        expr(s"size(${sToks("text")})").as("n_tok"),
        expr(s"${sPoly("md5(text)")} % 8").as("shard"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
    docs
      .withColumn("cum", sum(col("n_tok")).over(w))
      // integer `div`, not float `/` + cast: exact for any long cum, and
      // type-identical to the oracle's CAST(... AS BIGINT) (r4 hash red)
      .withColumn("seq_id", expr(s"(cum - n_tok) div $seqLen"))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard"), col("seq_id"))
  }
  private val q86Sql = s"""
    WITH t AS (SELECT doc_id, len(${dToks("text")}) AS n_tok,
        ${dPoly("md5(text)")} % 8 AS shard FROM documents),
    c AS (SELECT *, sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id)
        AS cum FROM t)
    SELECT shard, CAST((cum - n_tok) // 512 AS BIGINT) AS seq_id,
      count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c GROUP BY 1, 2 ORDER BY shard, seq_id"""

  /** q87 — cross-source duplication matrix: the q28 near-dup pairs
    * rolled up by UNORDERED source pair (least/greatest normalization
    * keeps one matrix cell per pair) — the "which vendors resell each
    * other's data" audit a curation team reviews before paying twice.
    * Adds one broadcast-able (doc_id -> source) join per side and one
    * bounded-key aggregate on top of the prefix-filtered pair machinery;
    * at 100 TB the doc->source map is a projection of the scan, the
    * matrix is |sources|^2 rows. */
  private val q87: QFn = (s, d) => {
    val src = t(s, d, "documents")
      .select(col("doc_id"), col("source"))
    Dedup.jaccardPairs(wide(s, d, "documents", "doc_id"),
        "text", "doc_id", shingleN = 3, threshold = 0.5)
      .join(src.toDF("id_a", "src_a"), "id_a")
      .join(src.toDF("id_b", "src_b"), "id_b")
      .groupBy(least(col("src_a"), col("src_b")).as("source_x"),
        greatest(col("src_a"), col("src_b")).as("source_y"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id_a")).as("n_docs_a"),
        countDistinct(col("id_b")).as("n_docs_b"))
      .orderBy(col("source_x"), col("source_y"))
  }
  private val q87Sql = s"""
    WITH sh AS (SELECT doc_id, unnest($dShingleHashes) AS h FROM documents),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
    pairs AS (SELECT doc_a, doc_b
      FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5),
    lab AS (SELECT p.doc_a, p.doc_b, da.source AS src_a, db.source AS src_b
      FROM pairs p JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b)
    SELECT least(src_a, src_b) AS source_x,
      greatest(src_a, src_b) AS source_y,
      count(*) AS n_pairs,
      count(DISTINCT doc_a) AS n_docs_a,
      count(DISTINCT doc_b) AS n_docs_b
    FROM lab GROUP BY 1, 2 ORDER BY source_x, source_y"""

  /** q88 — the composed near-dup dedup decision (Dedup.nearDupKeepList):
    * Jaccard pairs → connected components → keep the LONGEST member per
    * component (doc_id tie-break). One row per doc in a near-dup
    * component with its keep/drop verdict — what a cleaning stage
    * actually applies. The oracle recomputes the same fixpoint as a
    * DuckDB RECURSIVE closure plus a window representative — two
    * independent algorithms, one answer (the q72 discipline extended
    * through representative selection). */
  private val q88: QFn = (s, d) =>
    Dedup.nearDupKeepList(wide(s, d, "documents", "doc_id"),
        "text", "doc_id", "n_chars", shingleN = 3, threshold = 0.5)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  private val q88Sql = s"""
    WITH RECURSIVE
    sh AS (SELECT doc_id, unnest($dShingleHashes) AS h FROM documents),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
    pairs AS (SELECT doc_a, doc_b
      FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5),
    edges AS (SELECT doc_a AS x, doc_b AS y FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (SELECT x AS id, y AS r FROM edges
      UNION
      SELECT e.x AS id, reach.r FROM edges e JOIN reach ON reach.id = e.y),
    lbl AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id),
    rep AS (SELECT label, doc_id AS keep_id FROM (
        SELECT l.label, d.doc_id, row_number() OVER (PARTITION BY l.label
          ORDER BY d.n_chars DESC, d.doc_id DESC) AS rn
        FROM lbl l JOIN documents d ON d.doc_id = l.id) WHERE rn = 1)
    SELECT l.id AS doc_id, l.label, r.keep_id,
      CASE WHEN l.id = r.keep_id THEN 1 ELSE 0 END AS is_kept
    FROM lbl l JOIN rep r ON l.label = r.label
    ORDER BY doc_id"""

  /** q89 — containment (excerpt/quote) pairs: directional overlap
    * |A∩B| / |A| >= 0.8 via Dedup.containmentPairs — the asymmetric
    * complement of q28 (a short excerpt inside a long doc scores ~1.0
    * where Jaccard stays tiny). Prefix filter on the contained side
    * only; the oracle keeps the raw inverted-index formulation as the
    * independent spec. */
  private val q89: QFn = (s, d) =>
    Dedup.containmentPairs(wide(s, d, "documents", "doc_id"),
        "text", "doc_id", shingleN = 3, threshold = 0.8)
      .toDF("doc_a", "doc_b", "containment")
      .orderBy(col("doc_a"), col("doc_b"))
  private val q89Sql = s"""
    WITH sh AS (SELECT doc_id, unnest($dShingleHashes) AS h FROM documents),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id != b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / x.n AS containment
    FROM inter JOIN sz x ON x.doc_id = doc_a
    WHERE CAST(inter AS DOUBLE) / x.n >= 0.8
    ORDER BY doc_a, doc_b"""

  /** q90 — directional excerpt-flow matrix: q89's containment pairs
    * rolled up by ORDERED (source of contained, source of container) —
    * who borrows from whom, the provenance question q87's symmetric
    * matrix cannot answer. Same shape: two broadcast-able doc->source
    * joins over the bounded pair set, |sources|^2 output. */
  private val q90: QFn = (s, d) => {
    val src = t(s, d, "documents")
      .select(col("doc_id"), col("source"))
    Dedup.containmentPairs(wide(s, d, "documents", "doc_id"),
        "text", "doc_id", shingleN = 3, threshold = 0.8)
      .join(src.toDF("id_a", "src_from"), "id_a")
      .join(src.toDF("id_b", "src_into"), "id_b")
      .groupBy(col("src_from"), col("src_into"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id_a")).as("n_excerpts"))
      .orderBy(col("src_from"), col("src_into"))
  }
  private val q90Sql = s"""
    WITH sh AS (SELECT doc_id, unnest($dShingleHashes) AS h FROM documents),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id != b.doc_id
      GROUP BY 1, 2),
    pairs AS (SELECT doc_a, doc_b FROM inter JOIN sz x ON x.doc_id = doc_a
      WHERE CAST(inter AS DOUBLE) / x.n >= 0.8)
    SELECT da.source AS src_from, db.source AS src_into,
      count(*) AS n_pairs, count(DISTINCT doc_a) AS n_excerpts
    FROM pairs JOIN documents da ON da.doc_id = doc_a
    JOIN documents db ON db.doc_id = doc_b
    GROUP BY 1, 2 ORDER BY src_from, src_into"""

  /** q91 — MinHash calibration audit: for every q29 LSH candidate pair,
    * the error between the 16-component signature ESTIMATE and the
    * EXACT shingle Jaccard, histogrammed — the "are my sketch
    * parameters good enough" ops question answered from the data.
    * The error bucket is computed in PURE INTEGER arithmetic
    * (|c*u - 16*i| div u, with c = matching components, i = |A∩B|,
    * u = |A∪B|) = floor(16*|est - exact|) with no double rounding to
    * drift cross-engine. One extra map-side array-intersect per
    * candidate pair on top of q29's band join. */
  private val q91: QFn = (s, d) => {
    val base = wide(s, d, "documents", "doc_id")
      .select(col("doc_id"),
        F.minhashSig(F.shingleHashes(col("text"), 3), 16).as("sig"),
        sort_array(F.shingleHashes(col("text"), 3)).as("srt"))
    val banded = base.select(col("doc_id"), col("sig"), col("srt"),
      explode(expr(sBands("sig"))).as("bk"))
    val b2 = banded.toDF("doc_id2", "sig2", "srt2", "bk2")
    banded.join(b2,
        col("bk") === col("bk2") && col("doc_id") < col("doc_id2"))
      .select(col("doc_id").as("doc_a"), col("doc_id2").as("doc_b"),
        col("sig").as("sa"), col("sig2").as("sb"),
        col("srt").as("ha"), col("srt2").as("hb"))
      .distinct()
      .withColumn("c",
        expr("size(filter(sequence(0, 15), i -> sa[i] = sb[i]))").cast("long"))
      .withColumn("i", F.sortedIntersectSize(col("ha"), col("hb")))
      .withColumn("u", size(col("ha")) + size(col("hb")) - col("i"))
      .withColumn("bucket",
        expr("CAST(abs(c * u - 16 * i) DIV u AS BIGINT)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("bucket"))
  }
  private val q91Sql = s"""
    WITH base AS (SELECT doc_id,
        ${dMinhash(dShingleHashes)} AS sig,
        list_sort($dShingleHashes) AS srt FROM documents),
    banded AS (SELECT doc_id, sig, srt, unnest(${dBands("sig")}) AS bk
      FROM base),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.sig AS sa, b.sig AS sb, a.srt AS ha, b.srt AS hb
      FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id),
    m AS (SELECT doc_a, doc_b,
        CAST(len(list_filter(range(16), i -> sa[i+1] = sb[i+1])) AS BIGINT)
          AS c,
        CAST(len(list_filter(ha, x -> list_contains(hb, x))) AS BIGINT) AS i,
        CAST(len(ha) + len(hb) AS BIGINT) AS nn
      FROM cand)
    SELECT abs(c * (nn - i) - 16 * i) // (nn - i) AS bucket,
      count(*) AS n_pairs
    FROM m GROUP BY 1 ORDER BY bucket"""

  /** q92 — effective-data accounting: after the q88 keep-list, how many
    * docs/tokens each SOURCE actually contributes once near-dups
    * collapse — the what-am-I-paying-for rollup (a vendor whose corpus
    * is 40% duplicates of another's contributes far less than its raw
    * volume). Docs outside any near-dup component count as kept. One
    * source join + one aggregate on top of the keep-list; all-integer. */
  private val q92: QFn = (s, d) => {
    val docs = wide(s, d, "documents", "doc_id")
    val toks = docs.select(col("doc_id"), col("source"),
      expr(s"size(${sToks("text")})").cast("long").as("n_tok"))
    val verdicts = Dedup.nearDupKeepList(docs, "text", "doc_id", "n_chars")
      .select(col("id").as("doc_id"), col("is_kept"))
    toks.join(verdicts, Seq("doc_id"), "left")
      .withColumn("kept", coalesce(col("is_kept"), lit(1)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        sum(col("n_tok") * col("kept")).as("tokens_kept"),
        sum(col("n_tok") * (lit(1) - col("kept"))).as("tokens_dropped"))
      .orderBy(col("source"))
  }
  private val q92Sql = s"""
    WITH RECURSIVE
    sh AS (SELECT doc_id, unnest($dShingleHashes) AS h FROM documents),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
    prs AS (SELECT doc_a, doc_b
      FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5),
    edges AS (SELECT doc_a AS x, doc_b AS y FROM prs
      UNION ALL SELECT doc_b, doc_a FROM prs),
    reach AS (SELECT x AS id, y AS r FROM edges
      UNION
      SELECT e.x AS id, reach.r FROM edges e JOIN reach ON reach.id = e.y),
    lbl AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id),
    rep AS (SELECT label, doc_id AS keep_id FROM (
        SELECT l.label, d.doc_id, row_number() OVER (PARTITION BY l.label
          ORDER BY d.n_chars DESC, d.doc_id DESC) AS rn
        FROM lbl l JOIN documents d ON d.doc_id = l.id) WHERE rn = 1),
    verdict AS (SELECT l.id AS doc_id,
        CASE WHEN l.id = r.keep_id THEN 1 ELSE 0 END AS is_kept
      FROM lbl l JOIN rep r ON l.label = r.label),
    t AS (SELECT d.doc_id, d.source,
        CAST(len(${dToks("d.text")}) AS BIGINT) AS n_tok,
        COALESCE(v.is_kept, 1) AS kept
      FROM documents d LEFT JOIN verdict v ON v.doc_id = d.doc_id)
    SELECT source, count(*) AS n_docs,
      CAST(sum(kept) AS BIGINT) AS n_kept,
      CAST(sum(n_tok * kept) AS BIGINT) AS tokens_kept,
      CAST(sum(n_tok * (1 - kept)) AS BIGINT) AS tokens_dropped
    FROM t GROUP BY source ORDER BY source"""

  /** q93 — split-leakage audit: near-dup pairs (q28, threshold 0.5)
    * whose members land in DIFFERENT q49 splits — the classic
    * eval-inflation hazard. Content-hash assignment pins EXACT
    * duplicates to one split by construction (identical text, identical
    * bucket — the reason q49 hashes content, not ids); near-duplicates
    * can still straddle the boundary, and every straddling pair leaks
    * training signal into eval. Output: the full (split, split) pair
    * matrix with a leak flag — rows where leak=1 are the pairs a
    * pipeline must re-unify (e.g. via q88's components) before
    * training. */
  private val q93: QFn = (s, d) => {
    val split = t(s, d, "documents")
      .withColumn("bucket", expr(s"${sPoly("md5(text)")} % 100"))
      .select(col("doc_id"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "valid").otherwise("test").as("split"))
    Dedup.jaccardPairs(wide(s, d, "documents", "doc_id"),
        "text", "doc_id", shingleN = 3, threshold = 0.5)
      .join(split.toDF("id_a", "split_a"), "id_a")
      .join(split.toDF("id_b", "split_b"), "id_b")
      .groupBy(least(col("split_a"), col("split_b")).as("split_x"),
        greatest(col("split_a"), col("split_b")).as("split_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leak",
        when(col("split_x") === col("split_y"), 0).otherwise(1))
      .orderBy(col("split_x"), col("split_y"))
  }
  private val q93Sql = s"""
    WITH sh AS (SELECT doc_id, unnest($dShingleHashes) AS h FROM documents),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
    prs AS (SELECT doc_a, doc_b
      FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5),
    sp AS (SELECT doc_id, CASE WHEN b < 80 THEN 'train'
        WHEN b < 90 THEN 'valid' ELSE 'test' END AS split
      FROM (SELECT doc_id, ${dPoly("md5(text)")} % 100 AS b FROM documents)),
    lab AS (SELECT least(sa.split, sb.split) AS split_x,
        greatest(sa.split, sb.split) AS split_y
      FROM prs JOIN sp sa ON sa.doc_id = doc_a
      JOIN sp sb ON sb.doc_id = doc_b)
    SELECT split_x, split_y, count(*) AS n_pairs,
      CASE WHEN split_x = split_y THEN 0 ELSE 1 END AS leak
    FROM lab GROUP BY 1, 2 ORDER BY split_x, split_y"""

  /** q94 — reproducible k-means refinement under the differential gate:
    * one full Lloyd iteration (assign -> integer recenter -> reassign)
    * over integer-quantized embeddings, 16 smallest-id seeds — the
    * Similarity.quantizedKmeans path. Float-mean k-means cannot be
    * differentially tested (partial-agg order shifts centroid ULPs and
    * can flip boundary assignments); quantized sums are exact under any
    * reduction order, so BOTH engines must produce the identical
    * assignment — which puts the refinement LOOP itself (not just the
    * seed path q47 exercises) under the oracle. All-integer output. */
  private val q94: QFn = (s, d) =>
    Similarity.quantizedKmeans(wide(s, d, "embeddings", "vec_id"),
        "embedding", "vec_id", k = 16, iters = 1, scale = 1000)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("vec_id"))
  private def dDotQ(a: String, b: String) =
    s"CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(len($a)), i -> ($a)[i+1] * ($b)[i+1])), " +
      s"(acc, v) -> acc + v) AS BIGINT)"
  private def dAssignQ(cents: String) = s"""
    SELECT vec_id, cent_id FROM (
      SELECT e.vec_id, c.cent_id, row_number() OVER (PARTITION BY e.vec_id
        ORDER BY CAST(c.m*c.m*${dDotQ("e.vq", "e.vq")}
            - 2*c.m*${dDotQ("e.vq", "c.s")}
            + ${dDotQ("c.s", "c.s")} AS DOUBLE)
          / CAST(c.m*c.m AS DOUBLE), c.cent_id) AS rn
      FROM e, $cents c) WHERE rn = 1"""
  private val q94Sql = s"""
    WITH e AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(floor(x*1000) AS BIGINT)) AS vq
      FROM embeddings),
    seeds AS (SELECT vec_id AS cent_id, vq AS s, CAST(1 AS BIGINT) AS m
      FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)),
    a1 AS (${dAssignQ("seeds")}),
    re AS (SELECT cent_id, list(sv ORDER BY i) AS s, max(m) AS m FROM (
        SELECT a1.cent_id, t.i, CAST(sum(e.vq[t.i + 1]) AS BIGINT) AS sv,
          count(*) AS m
        FROM a1 JOIN e USING (vec_id), range(64) t(i)
        GROUP BY 1, 2) GROUP BY cent_id),
    c1 AS (SELECT seeds.cent_id, coalesce(re.s, seeds.s) AS s,
        coalesce(re.m, seeds.m) AS m
      FROM seeds LEFT JOIN re USING (cent_id)),
    a2 AS (${dAssignQ("c1")}),
    sizes AS (SELECT cent_id, count(*) AS cell_size FROM a2 GROUP BY 1)
    SELECT vec_id, a2.cent_id AS cell_id, cell_size
    FROM a2 JOIN sizes ON a2.cent_id = sizes.cent_id ORDER BY vec_id"""

  /** q95 — incremental EMBEDDING dedup through the driver gate: a NEW
    * vector batch (vec_id >= 400) tested against the STANDING embedding
    * index (vec_id < 400) — the vector twin of q64's daily-ingest
    * shape (Dedup.incrementalEmbeddingDedup + embeddingIndex). The
    * index records its signature width; the batch hashes with the
    * recorded width (4 here, pinned to match the oracle's fixed-width
    * LSH macro), so buckets align by construction. */
  private val q95: QFn = (s, d) => {
    val vecs = wide(s, d, "embeddings", "vec_id")
    val idx = Dedup.embeddingIndex(vecs.filter(col("vec_id") < 400),
      "embedding", "vec_id", bits = 4)
    Dedup.incrementalEmbeddingDedup(vecs.filter(col("vec_id") >= 400),
        idx, "embedding", "vec_id", threshold = 0.35)
      .orderBy(col("new_id"), col("corpus_id"))
  }
  private val q95Sql = s"""
    WITH v AS (SELECT vec_id, embedding,
        sqrt(${dDot("embedding", "embedding")}) AS nrm,
        ${dVecLsh("embedding")} AS bucket FROM embeddings)
    SELECT b.vec_id AS new_id, c.vec_id AS corpus_id,
      ${dDot("b.embedding", "c.embedding")} / (b.nrm * c.nrm) AS cos_sim
    FROM v b JOIN v c ON b.bucket = c.bucket
      AND b.vec_id >= 400 AND c.vec_id < 400
    WHERE ${dDot("b.embedding", "c.embedding")} / (b.nrm * c.nrm) >= 0.35
    ORDER BY new_id, corpus_id"""

  /** q96 — standing shingle-index REFRESH through the driver gate: the
    * corpus index (doc_id < 400) folds in a new batch (doc_id >= 400)
    * via Dedup.refreshShingleIndex — corpus text is never re-read; the
    * oracle independently builds the index over the full corpus with
    * its own window arithmetic, so the df / per-doc-rank / size columns
    * every prefix filter stands on are themselves cross-engine checked.
    * This is the artifact a fleet persists between daily batches. */
  private val q96: QFn = (s, d) => {
    val docs = wide(s, d, "documents", "doc_id")
    Dedup.refreshShingleIndex(
        Dedup.shingleIndex(docs.filter(col("doc_id") < 400),
          "text", "doc_id"),
        docs.filter(col("doc_id") >= 400), "text", "doc_id")
      .orderBy(col("id"), col("pos"))
  }
  private val q96Sql = s"""
    WITH sh AS (SELECT doc_id AS id, unnest($dShingleHashes) AS h
      FROM documents),
    dfq AS (SELECT h, count(*) AS df FROM sh GROUP BY h)
    SELECT id, h, df,
      row_number() OVER (PARTITION BY id ORDER BY df, h) - 1 AS pos,
      count(*) OVER (PARTITION BY id) AS n
    FROM sh JOIN dfq USING (h) ORDER BY id, pos"""

  /** q192 — the standing DEDUP index through the ENGINE lifecycle:
    * `dedup index create` registers the shingle artifact, the late
    * batch arrives over REST PUT while auto refresh is OFF (the
    * crash/off window), and `dedup index sync` replays exactly the
    * rows above the artifact's wm_ lineage tag — then the served
    * artifact rows ARE the output. Oracle: q96's whole-corpus
    * enrichment SQL — hash equality proves create + PUT + sync left
    * the index exactly equal to a rebuild (df / per-doc rank / size
    * all re-derived), closing the near-dup ingest gate's lifecycle
    * the way q190/q191 closed the tindex's. */
  private val q192: QFn = (s, d) => {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val docs = wide(s, d, "documents", "doc_id")
      .select(col("doc_id"), col("text"))
    def nd(df: DataFrame): String =
      df.collect().map { r =>
        JsonMethods.compact(JsonMethods.render(
          ("doc_id" -> r.getLong(0)) ~ ("text" -> r.getString(1))))
      }.mkString("\n")
    val tmp = java.nio.file.Files.createTempDirectory("q192")
    val cat = new graft.engine.Catalog(s)
    val engine = new graft.engine.Engine(s, cat)
    engine.dataDir = Some(tmp.resolve("data").toString)
    engine.ingest("docs192", nd(docs.filter(col("doc_id") < 400)))
    val dx = tmp.resolve("dx").toString
    engine.execute(s"dedup index create where table = docs192 and " +
      s"path = $dx and type = shingle and id = doc_id and text = text")
    engine.execute("set view auto refresh = off")
    engine.ingest("docs192", nd(docs.filter(col("doc_id") >= 400)))
    val msg = engine.execute("dedup index sync where table = docs192")
    require(msg.contains("synced"), s"q192 sync folded nothing: $msg")
    require(engine.execute("dedup index sync where table = docs192")
      .contains("in sync"), "q192 second sync must be a no-op")
    graft.ops.IndexStore.read(s, dx).getOrElse(
        throw new IllegalStateException("q192: no dedup index artifact"))
      .select(col("id"), col("h"), col("df"), col("pos"), col("n"))
      .orderBy(col("id"), col("pos"))
  }
  private val q192Sql = q96Sql

  /** q97 — exact duplicate-span audit (Lee et al. 2021's substring
    * signal at 8-token spans): per doc, total rolling spans, spans that
    * appear VERBATIM in another doc, and the widest span spread.
    * Grouping is on the span text itself — exact, no hash — with the
    * hash-first variant noted for 100 TB in the Dedup.duplicateSpans
    * scaladoc. */
  private val q97: QFn = (s, d) =>
    Dedup.duplicateSpans(wide(s, d, "documents", "doc_id"),
        "text", "doc_id", spanTokens = 8, variant = Dedup.SpanExact)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** q98 — the SAME duplicate-span audit through the 100 TB physical
    * form: positions shuffle as 8-byte hashes and only repeated hashes
    * re-materialize as strings (Dedup.duplicateSpansHashFirst). The
    * oracle is IDENTICAL to q97's — the differential gate proves the
    * two physical plans compute one logical result, which is what lets
    * SpanAuto flip between them on estimated shuffle volume without
    * ever changing an answer. */
  private val q98: QFn = (s, d) =>
    Dedup.duplicateSpans(wide(s, d, "documents", "doc_id"),
        "text", "doc_id", spanTokens = 8, variant = Dedup.SpanHashFirst)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** q99 — OR-AMPLIFIED embedding near-dup under the differential
    * oracle: candidates from EITHER of 2 independent 4-bit hyperplane
    * tables (pinned geometry so both engines agree on buckets), pairs
    * deduped before the exact-cosine verify — the multi-table plan
    * shape Dedup.embeddingNearDups uses whenever geometry is derived
    * (slim (id, table, sig) self-join; vectors fetched once per
    * surviving pair). The oracle builds both signature tables with the
    * same plane-family offset and ORs the bucket matches. */
  private val q99: QFn = (s, d) =>
    Dedup.embeddingNearDups(wide(s, d, "embeddings", "vec_id"),
        "embedding", "vec_id", bits = 4, threshold = 0.35, tables = 2)
      .withColumnRenamed("id_a", "vec_a")
      .withColumnRenamed("id_b", "vec_b")
      .orderBy(col("vec_a"), col("vec_b"))
  private val q99Sql = s"""
    WITH v AS (SELECT vec_id, embedding,
        sqrt(${dDot("embedding", "embedding")}) AS nrm,
        ${dVecLshT("embedding", 0)} AS b0,
        ${dVecLshT("embedding", 1)} AS b1
      FROM embeddings),
    p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM v a JOIN v b ON a.vec_id < b.vec_id
        AND (a.b0 = b.b0 OR a.b1 = b.b1))
    SELECT p.vec_a, p.vec_b,
      ${dDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos_sim
    FROM p JOIN v a ON a.vec_id = p.vec_a JOIN v b ON b.vec_id = p.vec_b
    WHERE ${dDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.35
    ORDER BY vec_a, vec_b"""
  private val q97Sql = s"""
    WITH toks AS (SELECT doc_id, ${dToks("text")} AS tk FROM documents),
    sp AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 8
          THEN CAST([] AS VARCHAR[])
          ELSE list_transform(range(len(tk)-7),
            i -> array_to_string(tk[i+1:i+8], ' ')) END) AS s
      FROM toks),
    dfs AS (SELECT s, count(DISTINCT doc_id) AS span_df FROM sp GROUP BY s)
    SELECT doc_id, count(*) AS n_spans,
      CAST(sum(CASE WHEN span_df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_dup_spans,
      max(span_df) AS max_span_df
    FROM sp JOIN dfs USING (s) GROUP BY doc_id ORDER BY doc_id"""

  /** q196 — ExactSubstr COVERAGE (the removal-decision metric of Lee et
    * al. 2021 §4.1): per doc, tokens inside at least one duplicated
    * 8-token span, with overlapping spans MERGED into intervals (a
    * 10-token verbatim repeat covers 10 tokens, not 3 spans x 8). The
    * duplicate rule is the suffix-array one — >= 2 occurrences
    * corpus-wide, same-doc repeats included — deliberately different
    * from q97's distinct-doc df. All-integer output so the differential
    * gate hash-matches exactly. */
  private val q196: QFn = (s, d) =>
    Dedup.spanCoverage(wide(s, d, "documents", "doc_id"),
        "text", "doc_id", spanTokens = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  /** Shared positional-span CTEs: (doc_id, pos, s) rolling spans and the
    * duplicated starts (span text occurring >= 2 times corpus-wide). */
  private val dupSpanCtes = s"""
    WITH toks AS (SELECT doc_id, ${dToks("text")} AS tk FROM documents),
    sp0 AS (SELECT doc_id, tk, unnest(CASE WHEN len(tk) < 8
          THEN CAST([] AS BIGINT[]) ELSE range(len(tk)-7) END) AS pos
      FROM toks),
    sp AS (SELECT doc_id, pos,
        array_to_string(tk[pos+1:pos+8], ' ') AS s FROM sp0),
    occ AS (SELECT s FROM sp GROUP BY s HAVING count(*) >= 2),
    dup AS (SELECT doc_id, pos FROM sp JOIN occ USING (s))"""
  private val q196Sql = s"""$dupSpanCtes,
    win AS (SELECT doc_id, pos,
        lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
        lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prv FROM dup),
    cov AS (SELECT doc_id,
        CAST(sum(LEAST(8, COALESCE(nxt - pos, 8))) AS BIGINT)
          AS covered_tokens,
        CAST(sum(CASE WHEN prv IS NULL OR pos - prv > 8 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_intervals
      FROM win GROUP BY doc_id)
    SELECT t.doc_id, len(tk) AS n_tokens,
      COALESCE(covered_tokens, 0) AS covered_tokens,
      COALESCE(n_intervals, 0) AS n_intervals
    FROM toks t LEFT JOIN cov USING (doc_id) ORDER BY doc_id"""

  /** q197 — the ExactSubstr removal STAGE: drop every token covered by a
    * duplicated span (the released Lee et al. tool cuts every occurrence
    * of a repeated span; we implement the tool's semantics because they
    * are deterministic without a global occurrence order) and re-join
    * the survivors in original order. clean_text itself is under the
    * hash — the oracle rebuilds the exact surviving string. */
  private val q197: QFn = (s, d) =>
    Dedup.exactSubstrDedup(wide(s, d, "documents", "doc_id"),
        "text", "doc_id", spanTokens = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  private val q197Sql = s"""$dupSpanCtes,
    covered AS (SELECT DISTINCT doc_id, pos + o AS j
      FROM dup, range(8) r(o)),
    tk0 AS (SELECT doc_id, tk, unnest(CASE WHEN len(tk) = 0
          THEN CAST([] AS BIGINT[]) ELSE range(len(tk)) END) AS j
      FROM toks),
    tok AS (SELECT doc_id, j, tk[j+1] AS tok FROM tk0),
    kept AS (SELECT t.doc_id, t.j, t.tok FROM tok t
      LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.j = c.j
      WHERE c.doc_id IS NULL),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
        string_agg(tok, ' ' ORDER BY j) AS clean_text
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id, len(tk) AS n_tokens,
      COALESCE(kept_tokens, 0) AS kept_tokens,
      COALESCE(clean_text, '') AS clean_text
    FROM toks t LEFT JOIN agg USING (doc_id) ORDER BY doc_id"""

  /** q199 — registered EXACT dedup index with RETENTION SYMMETRY: the
    * content-hash ingest-gate state joins the managed fleet (`dedup
    * index create type=exact`), a retention pass tombstones every 7th
    * corpus doc (`dedup index delete`), and a new batch gates against
    * the SURVIVORS — deleted content must read is_dup=0 (re-ingestable
    * again), surviving duplicates is_dup=1. Before this kind existed
    * the exact-dedup state was pipeline-owned only: a partition drop
    * left corpse hashes that refused re-ingest of dropped content
    * forever. The Bloom prefilter sidecar REBUILDS on every fold/
    * delete (never OR-folds), and the QFn requires gate-with-sidecar
    * == gate-without — the sidecar buys probe skips, never answers.
    * The oracle replays hash membership over the surviving corpus in
    * pure BIGINT arithmetic. */
  private val q199: QFn = (s, d) => {
    val tmp = java.nio.file.Files.createTempDirectory("q199")
    val docs = t(s, d, "documents")
    val n = docs.count()
    val corpusDir = tmp.resolve("xd.parquet").toString
    docs.filter(col("doc_id") < lit(4 * n / 5)).write.parquet(corpusDir)
    val cat = new graft.engine.Catalog(s)
    cat.registerTable("xd", corpusDir)
    val eng = new graft.engine.Engine(s, cat)
    val idx = tmp.resolve("idx").toString
    eng.execute(s"dedup index create where table = xd and path = $idx " +
      "and type = exact and id = doc_id and text = text")
    val delDir = tmp.resolve("del.parquet").toString
    cat.table("xd").filter(pmod(col("doc_id"), lit(7)) === 0)
      .select(col("doc_id")).write.parquet(delDir)
    eng.execute(s"dedup index delete where path = $idx and " +
      s"source = $delDir and id = doc_id")
    val batch = docs.filter(col("doc_id") >= lit(3 * n / 5))
    val hashes = graft.ops.IndexStore.read(s, idx).getOrElse(
      throw new IllegalStateException("q199: no exact-hash artifact"))
    val bloom = graft.ops.IndexStore.read(s, s"$idx-bloom")
    require(bloom.isDefined, "q199: bloom sidecar missing after delete")
    val gated = Dedup.exactGate(batch, hashes, bloom, "text", "doc_id")
    val plain = Dedup.exactGate(batch, hashes, None, "text", "doc_id")
    require(gated.exceptAll(plain).count() == 0 &&
      plain.exceptAll(gated).count() == 0,
      "q199: the bloom prefilter changed the gate's answer")
    gated.orderBy(col("doc_id"))
  }
  private val q199Sql = s"""
    WITH n AS (SELECT count(*) AS cnt FROM documents),
    corpus AS (SELECT doc_id, ${dPoly("text")} AS h FROM documents, n
      WHERE doc_id < 4*cnt/5 AND doc_id % 7 <> 0),
    batch AS (SELECT doc_id, ${dPoly("text")} AS h FROM documents, n
      WHERE doc_id >= 3*cnt/5)
    SELECT b.doc_id, CASE WHEN EXISTS (SELECT 1 FROM corpus c
        WHERE c.h = b.h AND c.doc_id <> b.doc_id) THEN 1 ELSE 0 END
      AS is_dup
    FROM batch b ORDER BY doc_id"""

  /** q200 — Unicode NFC normalization under the differential oracle:
    * every doc gains a deterministic NON-NFC tail (a decomposed
    * e + combining acute and A + combining ring), the native
    * NormalizeTextExpr composes it, and the oracle replays through
    * DuckDB's `nfc_normalize` — the normalized STRING itself is under
    * the hash, so this is a byte-parity proof between
    * java.text.Normalizer and utf8proc NFC on this corpus. The
    * canonicalization matters to dedup correctness: the decomposed and
    * composed forms are different byte strings for the same text, so
    * non-NFC twins defeat every content-hash gate (the `normalize`
    * CleanPipeline stage exists for exactly that, spec-proven). */
  private val q200: QFn = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" e\u0301 A\u030A")).as("raw"))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("n_raw"),
        F.normalizeText(col("raw"), "NFC").as("norm_text"))
      .withColumn("n_nfc", length(col("norm_text")).cast("long"))
      .select(col("doc_id"), col("n_raw"), col("n_nfc"), col("norm_text"))
      .orderBy(col("doc_id"))
  private val q200Sql = s"""
    WITH r AS (SELECT doc_id,
        text || ' e' || chr(769) || ' A' || chr(778) AS raw
      FROM documents)
    SELECT doc_id, CAST(len(raw) AS BIGINT) AS n_raw,
      CAST(len(nfc_normalize(raw)) AS BIGINT) AS n_nfc,
      nfc_normalize(raw) AS norm_text
    FROM r ORDER BY doc_id"""

  /** q202 — HTML → text extraction under the differential oracle: every
    * doc is wrapped in deterministic markup (title/style/comment/script
    * blocks, attributes, the six core entities — all built with plain
    * SQL string ops so DuckDB constructs the IDENTICAL raw bytes), the
    * native single-pass [[graft.functions.HtmlExtractExpr]] state
    * machine extracts the text, and the oracle replays with a
    * regexp_replace + replace chain — two INDEPENDENT implementations,
    * and the extracted STRING itself is under the hash. This is the
    * WET-style content pull a crawl pipeline runs before any
    * quality/dedup stage; the `html_extract` CleanPipeline stage
    * applies the same expression in place. */
  private val q202: QFn = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        concat(
          lit("<html><head><title>Doc "), col("doc_id"),
          lit(" &amp; co</title><style>p { color: red; }</style>" +
            "</head><body><h1>"),
          substring(col("text"), 1, 20),
          lit("</h1><!-- id "), col("doc_id"), lit(" --><p>"),
          expr("replace(text, ' data ', ' &quot;data&#39; ')"),
          lit("</p><script type=\"text/js\">var x = "), col("doc_id"),
          lit(";</script><p>tail &lt;end&gt; &nbsp;ok</p></body></html>"))
          .as("raw"))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("n_raw"),
        F.htmlExtract(col("raw")).as("clean"))
      .select(col("doc_id"), col("n_raw"),
        length(col("clean")).cast("long").as("n_clean"), col("clean"))
      .orderBy(col("doc_id"))
  private val q202Sql = """
    WITH r AS (SELECT doc_id,
        '<html><head><title>Doc ' || doc_id ||
        ' &amp; co</title><style>p { color: red; }</style></head><body><h1>' ||
        substr(text, 1, 20) || '</h1><!-- id ' || doc_id || ' --><p>' ||
        replace(text, ' data ', ' &quot;data&#39; ') ||
        '</p><script type="text/js">var x = ' || doc_id ||
        ';</script><p>tail &lt;end&gt; &nbsp;ok</p></body></html>' AS raw
      FROM documents),
    x AS (SELECT doc_id, CAST(len(raw) AS BIGINT) AS n_raw,
        trim(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(raw,
                    '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                  '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
                '(?s)<!--.*?-->', ' ', 'g'),
              '<[^>]*>', ' ', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
            '&#39;', CHR(39)), '&nbsp;', ' '), '&amp;', '&'),
          '[ \t\n\r]+', ' ', 'g')) AS clean
      FROM r)
    SELECT doc_id, n_raw, CAST(len(clean) AS BIGINT) AS n_clean, clean
    FROM x ORDER BY doc_id"""

  /** q203 — PII redaction beyond digit runs (the `redact_pii` stage):
    * every doc gains a deterministic synthetic email, phone, and
    * dotted-quad IP (plain SQL string construction — DuckDB builds the
    * identical raw bytes), and the email → IP → phone regexp_replace
    * chain masks them with class tags. The regex TEXTS are single
    * definitions in [[CleanPipeline]] shared verbatim by the stage,
    * this query, and the oracle, in the Java∩RE2 regex subset; the
    * redacted STRING is under the hash. Email runs first because the
    * other classes' patterns overlap its local-part/domain bytes. */
  private val q203: QFn = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"),
          lit("@mail-example.org or "),
          lit("+1-555-01"), pmod(col("doc_id"), lit(97)),
          lit(" node 10."), pmod(col("doc_id"), lit(256)),
          lit(".0."), pmod(col("doc_id"), lit(100)),
          lit(" end")).as("raw"))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("n_raw"),
        regexp_replace(regexp_replace(regexp_replace(col("raw"),
          CleanPipeline.piiEmail, "<EMAIL>"),
          CleanPipeline.piiIp, "<IP>"),
          CleanPipeline.piiPhone, "<PHONE>").as("red"))
      .select(col("doc_id"), col("n_raw"),
        length(col("red")).cast("long").as("n_red"), col("red"))
      .orderBy(col("doc_id"))
  private val q203Sql = {
    val (em, ip, ph) = (CleanPipeline.piiEmail, CleanPipeline.piiIp,
      CleanPipeline.piiPhone)
    s"""
    WITH r AS (SELECT doc_id,
        text || ' contact user' || doc_id || '@mail-example.org or ' ||
        '+1-555-01' || (doc_id % 97) ||
        ' node 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) ||
        ' end' AS raw
      FROM documents),
    x AS (SELECT doc_id, CAST(len(raw) AS BIGINT) AS n_raw,
        regexp_replace(regexp_replace(regexp_replace(raw,
          '$em', '<EMAIL>', 'g'),
          '$ip', '<IP>', 'g'),
          '$ph', '<PHONE>', 'g') AS red
      FROM r)
    SELECT doc_id, n_raw, CAST(len(red) AS BIGINT) AS n_red, red
    FROM x ORDER BY doc_id"""
  }

  /** q101 — Bloom-filter exact-dedup gate under the differential oracle:
    * the bottom 80% of docs are the standing corpus, the top 40% are a
    * RE-INGESTED batch (the overlap is the replayed-crawl scenario —
    * 50% of the batch is already present). The sharded Bloom
    * (Dedup.bloomIndex: 2 shards, derived power-of-two width at 8
    * bits/key, Kirsch–Mitzenmacher probes — native BloomBuildAgg whose
    * map-side partials OR into m/8-byte bitmaps) gates the batch; each
    * batch doc reports its Bloom verdict, the exact verdict, and the
    * false-positive flag. The oracle replays the identical probe
    * positions in pure BIGINT arithmetic INCLUDING the derived width —
    * a deliberately tight filter so false positives are nonzero at
    * every SF (the fp path is exercised, not just asserted about).
    * Structurally zero false NEGATIVES (Bloom never misses) — that's
    * the property that lets the gate's miss side skip the verify join
    * at scale. */
  private val q101: QFn = (s, d) => {
    val docs = wide(s, d, "documents", "doc_id")
      .select(col("doc_id"), F.charPolyHash(col("text")).as("h"))
    val n = docs.count()
    val (cCut, bCut) = (4 * n / 5, 3 * n / 5)
    val corpus = docs.filter(col("doc_id") < cCut)
    val batch = docs.filter(col("doc_id") >= bCut)
    val idx = Dedup.bloomIndex(corpus, "h", shards = 2, bitsPerKey = 8,
      k = 4)
    Dedup.bloomGate(batch, idx, "h")
      .join(corpus.select(col("h")).distinct().withColumn("__dup", lit(1)),
        Seq("h"), "left")
      .select(col("doc_id"),
        col("bloom_hit").cast("int").as("bloom_hit"),
        coalesce(col("__dup"), lit(0)).as("exact_dup"))
      .withColumn("false_pos",
        when(col("bloom_hit") === 1 && col("exact_dup") === 0, 1)
          .otherwise(0))
      .orderBy(col("doc_id"))
  }
  private val q101Sql = s"""
    WITH dh AS (SELECT doc_id, ${dPoly("text")} AS h FROM documents),
    cuts AS (SELECT 4*count(*)/5 AS cc, 3*count(*)/5 AS bc FROM dh),
    mw AS (SELECT CAST(power(2, ceil(log2(8 * count(*) / 2))) AS BIGINT)
        AS m FROM dh, cuts WHERE doc_id < cc),
    pos AS (SELECT doc_id, h, h % 2 AS shard,
        ((h*2654435761)%$P + t.i*(2*((h*2246822519)%1073741823)+1))
          % (SELECT m FROM mw) AS p
      FROM dh, range(4) t(i)),
    cset AS (SELECT DISTINCT shard, p FROM pos, cuts WHERE doc_id < cc),
    hit AS (SELECT doc_id,
        CASE WHEN count(cset.p) = 4 THEN 1 ELSE 0 END AS bloom_hit
      FROM pos LEFT JOIN cset USING (shard, p), cuts WHERE doc_id >= bc
      GROUP BY doc_id),
    ex AS (SELECT b.doc_id,
        max(CASE WHEN cx.h IS NOT NULL THEN 1 ELSE 0 END) AS exact_dup
      FROM dh b LEFT JOIN (SELECT DISTINCT h FROM dh, cuts
          WHERE doc_id < cc) cx USING (h), cuts
      WHERE b.doc_id >= bc GROUP BY b.doc_id)
    SELECT doc_id, bloom_hit, exact_dup,
      CASE WHEN bloom_hit = 1 AND exact_dup = 0 THEN 1 ELSE 0 END
        AS false_pos
    FROM hit JOIN ex USING (doc_id) ORDER BY doc_id"""

  /** q103 — STANDING IVF index: built over the corpus (vec_id < 400,
    * 8 seed centroids), incrementally refreshed with the new batch
    * (vec_id >= 400 assigns to the RECORDED centroids — cells never
    * move), then served at nprobe=2 (each probe searches its two
    * nearest cells — the IVF recall lever). The oracle recomputes the
    * whole chain from scratch; equality holds because the fold's
    * centroid set IS the from-scratch seed set (8 smallest corpus ids)
    * and assignment arithmetic is the identical |v|^2 - 2v.c + |c|^2
    * left-fold — the incremental path provably converges to the batch
    * rebuild (Similarity.{ivfIndex, refreshIvfIndex, ivfSearchIndex}). */
  private val q103: QFn = (s, d) => {
    val vecs = wide(s, d, "embeddings", "vec_id")
    val idx = Similarity.refreshIvfIndex(
      Similarity.ivfIndex(vecs.filter(col("vec_id") < 400),
        "embedding", "vec_id", numCentroids = 8),
      vecs.filter(col("vec_id") >= 400), "embedding", "vec_id")
    Similarity.ivfSearchIndex(idx, vecs.filter(col("vec_id") < 20),
        "embedding", "vec_id", k = 3, nprobe = 2)
      .withColumnRenamed("id", "vec_id")
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos_sim"))
      .orderBy(col("q_id"), col("rank"))
  }
  private val q103Sql = s"""
    WITH e AS (SELECT vec_id, embedding,
        ${dDot("embedding", "embedding")} AS n2 FROM embeddings),
    c AS (SELECT vec_id AS cent_id, embedding AS cemb, n2 AS cn2
      FROM (SELECT * FROM e WHERE vec_id < 400 ORDER BY vec_id LIMIT 8)),
    scored AS (SELECT e.vec_id, e.embedding, e.n2, c.cent_id,
        e.n2 - 2.0 * ${dDot("e.embedding", "c.cemb")} + c.cn2 AS dist2
      FROM e, c),
    assigned AS (SELECT vec_id, embedding, n2, cent_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY dist2, cent_id) AS rn FROM scored) WHERE rn = 1),
    pcells AS (SELECT vec_id AS q_id, embedding AS q_emb, n2 AS q_n2,
        cent_id AS q_cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY dist2, cent_id) AS rn FROM scored WHERE vec_id < 20)
      WHERE rn <= 2),
    srch AS (SELECT p.q_id, v.vec_id,
        ${dDot("p.q_emb", "v.embedding")} / (sqrt(p.q_n2) * sqrt(v.n2))
          AS cos_sim
      FROM pcells p JOIN assigned v ON v.cent_id = p.q_cell
        AND p.q_id != v.vec_id)
    SELECT q_id, rank, vec_id, cos_sim FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        ORDER BY cos_sim DESC, vec_id) AS INT) AS rank FROM srch)
    WHERE rank <= 3 ORDER BY q_id, rank"""

  // =====================================================================

  /** q185 — fixed-token CHUNK WINDOWS with stride
    * ([[TextOps.chunkWindows]]): the RAG/embedding prep step — every
    * document splits into 64-token windows starting every 48 tokens
    * (16-token overlap carries context across boundaries), with a
    * doc-local chunk index and exact token offsets so a retrieval hit
    * maps back into its source span. ONE map-only codegen pass
    * (split/sequence/slice/array_join — no UDF, no shuffle); the tail
    * window is the remainder, never padded, never dropped; zero-token
    * docs produce no chunks. The oracle replays the identical slicing
    * in DuckDB list algebra — chunk TEXT equality (not just counts)
    * pins tokenization, stride arithmetic and joins across engines.
    * Downstream embed/index is the existing vindex family; this is
    * the missing front half of that pipeline. */
  private val q185: QFn = (s, d) => {
    TextOps.chunkWindows(t(s, d, "documents"), "doc_id", "text", 64, 48)
      .orderBy(col("doc_id"), col("c_idx"))
  }
  private val q185Sql = """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '),
        x -> x <> '') AS tk
      FROM documents
    ), nn AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0)
    SELECT doc_id, CAST(t.s // 48 AS BIGINT) AS c_idx,
      CAST(t.s AS BIGINT) AS start_tok,
      CAST(least(64, n - t.s) AS BIGINT) AS n_tok,
      array_to_string(list_slice(tk, t.s + 1,
        t.s + least(64, n - t.s)), ' ') AS chunk_text
    FROM nn, UNNEST(range(0, n, 48)) AS t(s)
    ORDER BY doc_id, c_idx"""

  val queries: Map[String, QFn] = Map(
    "q103_ivf_standing_index" -> q103,
    "q101_bloom_gate" -> q101,
    "q99_neardup_multitable" -> q99,
    "q98_duplicate_spans_hashfirst" -> q98,
    "q97_duplicate_spans" -> q97,
    "q196_exact_substr_coverage" -> q196,
    "q197_exact_substr_stage" -> q197,
    "q199_exact_index_retention" -> q199,
    "q200_normalize_nfc" -> q200,
    "q202_html_extract" -> q202,
    "q203_redact_pii" -> q203,
    "q96_index_refresh" -> q96,
    "q192_dindex_lifecycle" -> q192,
    "q95_incremental_embedding" -> q95,
    "q94_kmeans_refine" -> q94,
    "q93_split_leakage" -> q93,
    "q92_effective_data" -> q92,
    "q91_minhash_calibration" -> q91,
    "q90_excerpt_flow" -> q90,
    "q89_containment_pairs" -> q89,
    "q88_dedup_keeplist" -> q88,
    "q87_cross_source_dups" -> q87,
    "q86_sequence_packing" -> q86,
    "q80_semdedup" -> q80,
    "q81_boilerplate_shingles" -> q81,
    "q82_winnow_overlap" -> q82,
    "q83_dup_cluster_histogram" -> q83,
    "q84_vocab_coverage" -> q84,
    "q85_hard_negatives" -> q85,
    "q78_source_scorecard" -> q78,
    "q74_ann_binary_quantized" -> q74,
    "q73_dedup_keep_longest" -> q73,
    "q72_neardup_components" -> q72,
    "q143_components_standing_fold" -> q143,
    "q145_sorted_neighborhood" -> q145,
    "q68_decontaminate" -> q68,
    "q69_repetition_signals" -> q69,
    "q70_tfidf_topk" -> q70,
    "q65_length_quartiles" -> q65,
    "q64_incremental_jaccard" -> q64,
    "q63_bigram_rarity" -> q63,
    "q27_dedup_exact" -> q27,
    "q28_dedup_jaccard_pairs" -> q28,
    "q29_dedup_minhash_lsh" -> q29,
    "q30_dedup_simhash" -> q30,
    "q165_simhash_hamming" -> q165,
    "q171_simhash64_hamming" -> q171,
    "q172_edit_distance_join" -> q172,
    "q173_editjoin_prefix" -> q173,
    "q174_shingle_index_delete" -> q174,
    "q179_simhash_index_fold" -> q179,
    "q185_chunk_windows" -> q185,
    "q31_neardup_embedding_lsh" -> q31,
    "q32_ann_bruteforce_topk" -> q32,
    "q160_hard_negatives" -> q160,
    "q161_knn_disagreement" -> q161,
    "q33_ann_lsh_topk" -> q33,
    "q34_lang_id" -> q34,
    "q47_ann_ivf_topk" -> q47,
    "q49_split_assign" -> q49,
    "q57_clean_pipeline" -> q57,
    "q59_dedup_chargram_jaccard" -> q59,
    "q61_stratified_sample" -> q61,
    "q60_feature_hashing" -> q60,
    "q58_multimodal_features" -> q58,
    "q50_redact" -> q50,
    "q48_vocab_topk" -> q48,
    "q35_quality_score" -> q35,
    "q36_token_stats" -> q36,
    "q37_fingerprint_winnow" -> q37,
    "q38_binary_columns" -> q38)

  val oracles: Map[String, String] = Map(
    "q103_ivf_standing_index" -> q103Sql,
    "q101_bloom_gate" -> q101Sql,
    "q99_neardup_multitable" -> q99Sql,
    "q98_duplicate_spans_hashfirst" -> q97Sql,
    "q97_duplicate_spans" -> q97Sql,
    "q196_exact_substr_coverage" -> q196Sql,
    "q197_exact_substr_stage" -> q197Sql,
    "q199_exact_index_retention" -> q199Sql,
    "q200_normalize_nfc" -> q200Sql,
    "q202_html_extract" -> q202Sql,
    "q203_redact_pii" -> q203Sql,
    "q96_index_refresh" -> q96Sql,
    "q192_dindex_lifecycle" -> q192Sql,
    "q95_incremental_embedding" -> q95Sql,
    "q94_kmeans_refine" -> q94Sql,
    "q93_split_leakage" -> q93Sql,
    "q92_effective_data" -> q92Sql,
    "q91_minhash_calibration" -> q91Sql,
    "q90_excerpt_flow" -> q90Sql,
    "q89_containment_pairs" -> q89Sql,
    "q88_dedup_keeplist" -> q88Sql,
    "q87_cross_source_dups" -> q87Sql,
    "q86_sequence_packing" -> q86Sql,
    "q80_semdedup" -> q80Sql,
    "q81_boilerplate_shingles" -> q81Sql,
    "q82_winnow_overlap" -> q82Sql,
    "q83_dup_cluster_histogram" -> q83Sql,
    "q84_vocab_coverage" -> q84Sql,
    "q85_hard_negatives" -> q85Sql,
    "q78_source_scorecard" -> q78Sql,
    "q74_ann_binary_quantized" -> q74Sql,
    "q73_dedup_keep_longest" -> q73Sql,
    "q72_neardup_components" -> q72Sql,
    "q143_components_standing_fold" -> q72Sql,
    "q145_sorted_neighborhood" -> q145Sql,
    "q68_decontaminate" -> q68Sql,
    "q69_repetition_signals" -> q69Sql,
    "q70_tfidf_topk" -> q70Sql,
    "q65_length_quartiles" -> q65Sql,
    "q64_incremental_jaccard" -> q64Sql,
    "q63_bigram_rarity" -> q63Sql,
    "q27_dedup_exact" -> q27Sql,
    "q28_dedup_jaccard_pairs" -> q28Sql,
    "q29_dedup_minhash_lsh" -> q29Sql,
    "q30_dedup_simhash" -> q30Sql,
    "q165_simhash_hamming" -> q165Sql,
    "q171_simhash64_hamming" -> q171Sql,
    "q172_edit_distance_join" -> q172Sql,
    "q173_editjoin_prefix" -> q173Sql,
    "q174_shingle_index_delete" -> q174Sql,
    "q179_simhash_index_fold" -> q179Sql,
    "q185_chunk_windows" -> q185Sql,
    "q31_neardup_embedding_lsh" -> q31Sql,
    "q32_ann_bruteforce_topk" -> q32Sql,
    "q160_hard_negatives" -> q160Sql,
    "q161_knn_disagreement" -> q161Sql,
    "q33_ann_lsh_topk" -> q33Sql,
    "q34_lang_id" -> q34Sql,
    "q47_ann_ivf_topk" -> q47Sql,
    "q49_split_assign" -> q49Sql,
    "q57_clean_pipeline" -> q57Sql,
    "q59_dedup_chargram_jaccard" -> q59Sql,
    "q61_stratified_sample" -> q61Sql,
    "q60_feature_hashing" -> q60Sql,
    "q50_redact" -> q50Sql,
    "q48_vocab_topk" -> q48Sql,
    "q35_quality_score" -> q35Sql,
    "q36_token_stats" -> q36Sql,
    "q37_fingerprint_winnow" -> q37Sql,
    "q38_binary_columns" -> q38Sql,
    "q58_multimodal_features" -> q58Sql)
}
