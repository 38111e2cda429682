package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact edit-distance similarity self-join via rare-gram prefix
  * filtering — the Ed-Join family (Xiao, Wang & Lin VLDB 2008; count
  * filtering: Gravano et al. VLDB 2001; prefix filtering: Chaudhuri,
  * Ganti & Kaushik ICDE 2006).
  *
  * Why the naive shapes die at scale: an all-pairs `levenshtein` scan
  * is O(N²·L²); a plain positional q-gram equi-join explodes on any
  * shared-prefix corpus (every "Customer#0000…" name shares its first
  * dozen grams, so the gram buckets are the whole corpus and the join
  * IS the cross join). The fix is the prefix-filter principle: order
  * all gram OCCURRENCES by global rarity; if ed(a,b) <= d then a and b
  * must share at least one element among each one's (q·d+1) RAREST
  * elements. Candidates therefore come from an equi-join on rare
  * elements only — bucket sizes are bounded by construction (an
  * element kept in prefixes is one the corpus rarely contains), and
  * the ubiquitous prefix grams never reach the join.
  *
  * Exactness: grams are counted as multiset ELEMENTS (value,
  * occurrence-index) so duplicate grams within one string are distinct
  * join keys; the count-filter bound t = maxLen − q + 1 − q·d >= 1
  * holds whenever the longer string has length >= q·(d+1), and the
  * prefix length q·d+1 = |G| − t + 1 is exactly the classic
  * prefix-principle length for the worst case, so no qualifying pair
  * can have disjoint prefixes. Pairs where BOTH strings are shorter
  * than q·(d+1) carry no count-filter guarantee at all — they are
  * routed through a short-string pool joined by a length band
  * (|len_a − len_b| <= d, itself a necessary condition), which is an
  * all-pairs only WITHIN the sub-q·(d+1)-length stratum. Every
  * candidate is then verified with the threshold-bounded O(d·L)
  * `levenshtein(a, b, d)` kernel, so the output is EXACT — identical
  * to the all-pairs scan, at a fraction of the pairs.
  */
object StringSim {
  /** All unordered pairs of distinct `strCol` values within Levenshtein
    * distance `d`: `(s_a, s_b, lev)` with `s_a < s_b` lexicographically
    * and `lev` the exact distance. `q` is the gram width (default 3).
    *
    * Plan shape: one distinct on the string column; one window per
    * string for occurrence numbering + prefix ranking (both shuffle on
    * the string key, reusing the partitioning); one global (gram, occ)
    * frequency aggregate; one equi-join on rare elements; one bounded
    * levenshtein verify. Never an unstratified cross join.
    */
  def editJoin(df: DataFrame, strCol: String, d: Int, q: Int = 3): DataFrame = {
    require(d >= 1, "edit-distance threshold d must be >= 1")
    require(q >= 2, "gram width q must be >= 2")
    val p = q * d + 1        // prefix length (rarest elements kept)
    val shortLen = q * (d + 1) // below this, the count filter is void

    val strs = df.select(col(strCol).as("s")).filter(col("s").isNotNull)
      .distinct().withColumn("len", length(col("s")))

    // Positional q-grams -> multiset elements (g, occ): occ numbers the
    // occurrences of each gram VALUE within the string, so duplicate
    // grams are distinct elements and set-overlap == multiset-overlap.
    // Strings with len < q have NO q-gram: they must not enter the
    // pipeline at all — sequence(1, 0) materializes the DESCENDING
    // array [1, 0], which would fabricate two whole-string "grams"
    // that pollute the rarity table. All such strings sit below the
    // shortLen floor, so the short-string pool already pairs them.
    val grams = strs.filter(col("len") >= q)
      .select(col("s"),
        explode(expr(s"transform(sequence(1, greatest(len - ${q - 1}, 0)), " +
          s"i -> struct(i AS gpos, substring(s, i, $q) AS g))")).as("e"))
      .select(col("s"), col("e.gpos").as("gpos"), col("e.g").as("g"))
    val elems = grams.withColumn("occ",
      row_number().over(Window.partitionBy("s", "g").orderBy("gpos")))

    // Global element rarity, then each string keeps its p rarest
    // elements under the shared total order (freq, g, occ).
    val freq = elems.groupBy("g", "occ").agg(count(lit(1)).as("ef"))
    // localCheckpoint pins the prefix for the self-join below — without
    // it Spark recomputes the distinct+window+freq pipeline once per
    // join side (the Blocking.globalRank precedent). Bounded state:
    // #strings x (q*d+1) rows.
    val prefix = elems.join(freq, Seq("g", "occ"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("s").orderBy(col("ef"), col("g"), col("occ"))))
      .filter(col("rk") <= p)
      .select(col("s"), col("g"), col("occ"))
      .localCheckpoint()

    val longCand = prefix.join(prefix.toDF("s2", "g", "occ"), Seq("g", "occ"))
      .filter(col("s") < col("s2"))
      .select(col("s").as("s_a"), col("s2").as("s_b"))

    // Short-string pool: both sides below the count-filter floor. The
    // shorter side explodes to every admissible partner length, so the
    // length band is an equi-join, not a cross join.
    val shortStrs = strs.filter(col("len") < shortLen)
    val shortCand = shortStrs
      .select(col("s").as("x"), explode(expr(s"sequence(len, len + $d)")).as("lb"))
      .join(shortStrs.select(col("s").as("y"), col("len").as("lb")), Seq("lb"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("s_a"),
        greatest(col("x"), col("y")).as("s_b"))

    // Verify BEFORE deduplicating: a candidate pair surfaces once per
    // shared prefix element (<= q*d+1 dups), and the threshold-bounded
    // O(d*L) levenshtein kernel is far cheaper per row than shuffling
    // the wide string-pair rows through a pre-verify distinct — the
    // distinct then runs over true pairs only (output-sized).
    verifyDedup(longCand.union(shortCand), d)
  }

  /** The same exact join through the DELETION-neighborHOOD geometry
    * (FastSS — Bocek, Hunt & Stiller 2007; industrialized as SymSpell):
    * candidates share a member of V_d(s), the set of strings reachable
    * by deleting up to `d` characters. If ed(a,b) <= d the two
    * variant sets intersect (each edit op is absorbed by one deletion
    * on the appropriate side), so the equi-join on variants misses no
    * pair; the bounded levenshtein verify removes the false positives
    * (sharing a deletion variant does NOT imply ed <= d: "ab"/"ba"
    * share "a" at distance 2).
    *
    * When to prefer which geometry: [[editJoin]]'s rare-gram prefix
    * buckets are bounded by gram FREQUENCY — ideal for natural-text
    * keys with a rich gram space, but on ID-dense corpora (millions of
    * "Customer#000014237") the q-gram space saturates and bucket sizes
    * grow with the corpus, degrading toward quadratic. Deletion
    * variants key on (almost) the WHOLE string, so a bucket holds only
    * strings within an ed-2d near-clique — candidate volume tracks the
    * TRUE-PAIR volume at any corpus size. The price is the fan-out:
    * |V_d| ~ C(L,d) keys per string (19 for L=18, d=1), so the shuffle
    * is L^d/d! rows per string — the standard trade for small d, and
    * why spell-correction engines ship exactly this shape. */
  def deletionJoin(df: DataFrame, strCol: String, d: Int): DataFrame = {
    require(d >= 1, "edit-distance threshold d must be >= 1")
    // pinned on the string key so the distinct's output stage — where
    // the variant fan-out below is computed — runs at cluster
    // parallelism; a distinct-names frame is KBs at any corpus size the
    // names deduplicate to, and AQE's byte-sized coalesce was running
    // the whole L^d/d! expansion on one core (Par doc)
    val strs = Par.pin(df.select(col(strCol).as("s"))
      .filter(col("s").isNotNull), col("s")).distinct()
    // V_d(s) built by d rounds of "keep + all single deletions".
    var vexpr = "array(s)"
    for (_ <- 1 to d) vexpr =
      s"array_distinct(flatten(transform($vexpr, v -> " +
        "CASE WHEN char_length(v) = 0 THEN array(v) ELSE " +
        "array_union(array(v), transform(sequence(1, char_length(v)), " +
        "i -> concat(substring(v, 1, i - 1), " +
        "substring(v, i + 1, char_length(v))))) END)))"
    // pinned on the variant key: the bucket near-clique pair expansion
    // and the bounded-levenshtein verify run in this exchange's output
    // stage (same Par rationale)
    val vars = Par.pin(strs.select(col("s"), explode(expr(vexpr)).as("u")),
      col("u"))
    val cand = vars.join(vars.toDF("s2", "u"), Seq("u"))
      .filter(col("s") < col("s2"))
      .select(col("s").as("s_a"), col("s2").as("s_b"))
    verifyDedup(cand, d)
  }

  /** Shared tail: exact bounded verify first (cheap per row), then a
    * distinct over true pairs only (output-sized). */
  private def verifyDedup(cand: DataFrame, d: Int): DataFrame =
    cand
      .withColumn("lev", expr(s"levenshtein(s_a, s_b, $d)"))
      .filter(col("lev") >= 0) // bounded kernel returns -1 above d
      .select(col("s_a"), col("s_b"), col("lev"))
      .distinct()
}
