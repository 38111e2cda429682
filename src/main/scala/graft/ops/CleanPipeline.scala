package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.F

/** Declarative corpus-cleaning pipeline: a JSON spec names the stages,
  * the compiler folds them into ONE DataFrame plan (the composition the
  * oracle-checked q57 hand-writes). Mirrors the mapping-policy
  * philosophy on the query side: configuration -> Catalyst expressions,
  * no per-row interpreter, every stage a documented scale shape.
  *
  * Spec shape:
  * {"pipeline": {
  *    "id": "doc_id", "text": "text",
  *    "stages": [
  *      {"op": "normalize", "form": "NFC"},
  *      {"op": "dedup_exact"},
  *      {"op": "hamming_dedup", "radius": 3, "band_bits": 16},
  *      {"op": "incremental_hamming", "index": "/idx/sims", "radius": 3},
  *      {"op": "neardup_jaccard", "threshold": 0.5, "shingle_n": 3},
  *      {"op": "exact_substr", "span_tokens": 8, "drop_empty": true},
  *      {"op": "quality_min_tokens", "min": 20},
  *      {"op": "lang_keep", "langs": ["en", "de"], "column": "lang"},
  *      {"op": "redact_numbers"},
  *      {"op": "dsir_gate", "index": "/idx/dsir", "min_weight_q": 0},
  *      {"op": "bm25_gate", "index": "/idx/seeds", "min_score_q": 8192},
  *      {"op": "blocklist", "patterns": "/lists/banned.parquet"},
  *      {"op": "domain_mixture", "source": "source", "budget_bp": 6000},
  *      {"op": "lm_quality_max", "max_score_q": 200000},
  *      {"op": "cluster_balance", "vec": "embedding", "quota": 1000},
  *      {"op": "weighted_sample", "source": "source", "k": 1000},
  *      {"op": "length_pct_gate", "index": "/idx/qh", "pct": 10,
  *       "source": "source"},
  *      {"op": "split", "train": 80, "valid": 10},
  *      {"op": "chunk", "window": 64, "stride": 48}
  *    ]}}
  */
object CleanPipeline {

  /** The PII regex texts — ONE definition shared by the RedactPii
    * stage, the q203 query, and (verbatim) the q203 DuckDB oracle, so
    * both engines run the identical pattern. The subset used is valid
    * in BOTH Java regex and RE2 (no lookaround, no backrefs). */
  val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIp = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val piiPhone = "\\+\\d[\\d-]{6,}\\d"

  sealed trait Stage
  final case class DedupExact() extends Stage
  /** Unicode-normalize the text column in place
    * ([[graft.functions.TextExpressions]] NormalizeTextExpr — NFC by
    * default). The canonicalization that belongs BEFORE any exact/hash
    * dedup stage: a decomposed combining sequence and its composed
    * form are different byte strings for the same text, so non-NFC
    * twins silently defeat content-hash gates. */
  final case class NormalizeStage(form: String) extends Stage
  final case class NeardupJaccard(threshold: Double, shingleN: Int) extends Stage
  final case class SimhashDedup() extends Stage
  /** EXACT Hamming-radius near-dup on the PRODUCTION geometry
    * (simhash64 + pigeonhole bands, [[Dedup.hammingPairs]] — q171's
    * measured 10.7× valve over the q165 demo geometry): every doc
    * within `radius` bits of a lower-id doc drops. The cheap
    * first-line dedup stage: 4 rows/doc band explode, one equi-join,
    * popcount verify before the output-sized distinct. */
  final case class HammingDedup(radius: Int, bandBits: Int) extends Stage
  /** Gate a crawl on a STANDING SimHash index (parquet path of a
    * [[Dedup.simhashIndex]] (id, sig) table): docs within `radius`
    * bits of a corpus doc drop, without re-pairing the corpus.
    * Read-only over the index; the ingest fold is
    * `StreamOps.hammingIngestBatch`. */
  final case class IncrementalHamming(indexPath: String, radius: Int,
      bandBits: Int) extends Stage
  final case class MinhashDedup(estSim: Double) extends Stage
  final case class QualityMinTokens(min: Int) extends Stage
  final case class LangKeep(langs: Seq[String], column: String) extends Stage
  final case class RedactNumbers() extends Stage
  /** HTML → text extraction ([[graft.functions.HtmlExtractExpr]]):
    * drop script/style/comment blocks with their content, strip the
    * remaining tags to spaces, decode the core entities, collapse
    * whitespace. The WET-style content pull that belongs FIRST in a
    * web-crawl pipeline — every downstream signal (quality, dedup,
    * lang-ID) is markup-blind only after this stage. Map-only. */
  final case class HtmlExtract() extends Stage
  /** PII masking beyond digit runs: emails → `<EMAIL>`, dotted-quad
    * IPs → `<IP>`, +-prefixed phone runs → `<PHONE>` (one shared
    * regex text per class — the q203 DuckDB oracle replays the same
    * chain). Email first: the later classes' patterns overlap its
    * local-part. Map-only. */
  final case class RedactPii() extends Stage
  final case class Split(train: Int, valid: Int) extends Stage
  /** Drop docs whose boilerplate-shingle share exceeds `maxPct` percent;
    * a shingle is boilerplate when present in >= `dfPct` percent of its
    * `sourceCol` group's docs (the q81 signal as a filter). */
  final case class BoilerplateMax(maxPct: Int, dfPct: Int, sourceCol: String)
      extends Stage
  /** SemDeDup over a vector column carried alongside the text (the q80
    * stage as a filter): keep only vectors with no lower-id similar
    * cell-mate. */
  final case class SemDedup(vecCol: String, cells: Int, threshold: Double)
      extends Stage
  /** Near-dup components keep their HIGHEST-`qualityCol` member instead
    * of the lowest id (Dedup.nearDupKeepList — the q88 decision as a
    * filter). */
  final case class NeardupKeepBest(qualityCol: String, threshold: Double,
      shingleN: Int) extends Stage
  /** Drop docs that near-dup a STANDING corpus index (parquet path of a
    * `Dedup.shingleIndex` table) — clean a new crawl against the corpus
    * you already own without re-pairing the corpus (q64's shape as a
    * stage). Read-only over the index; folding accepted docs back in is
    * the ingest step (`StreamOps.nearDupIngestBatch`). */
  final case class IncrementalNeardup(indexPath: String, threshold: Double,
      shingleN: Int) extends Stage
  /** The VECTOR twin of [[IncrementalNeardup]]: drop docs whose
    * embedding near-dups a STANDING embedding index (parquet path of a
    * `Dedup.embeddingIndex` table; the index's recorded (bits, tables)
    * geometry governs bucketing). Read-only over the index; the ingest
    * step is `StreamOps.embeddingIngestBatch`. */
  final case class IncrementalEmbDedup(indexPath: String, vecCol: String,
      threshold: Double) extends Stage

  /** Gate a crawl on a STANDING exact-dedup state (the
    * `StreamOps.exactDedupIngestBatch` artifact pair: `<path>/hashes`
    * content-hash index + `<path>/bloom` derived Bloom filter): docs
    * whose text already exists in the corpus are dropped. The Bloom
    * probe rules out almost the whole batch map-side; only maybe-dups
    * reach the hash-index join. Read-only over the state. */
  final case class IncrementalExactDedup(statePath: String) extends Stage
  /** ExactSubstr REMOVAL over the current pipeline frame (the Lee et
    * al. 2021 transform, [[Dedup.exactSubstrDedup]]): every token
    * covered by a `spanTokens`-token span occurring >= 2 times in the
    * frame is cut and the text column is REPLACED by the surviving
    * tokens. `dropEmpty` (default) also drops docs the cut emptied.
    * Unlike the doc-level dedup stages this REWRITES text, so place it
    * BEFORE quality/length gates (they should judge the post-cut
    * text) and before `chunk`. */
  final case class ExactSubstrStage(spanTokens: Int, dropEmpty: Boolean)
      extends Stage

  /** Drop docs whose text CONTAINS any blocklisted phrase (parquet
    * path with a `pat` string column — contaminant markers, banned
    * boilerplate, eval-set canaries). Trigram pruning
    * ([[Retrieval.likeSearch]]) keeps the scan map-only: only docs
    * holding every trigram of some pattern reach the exact contains()
    * verify, so a selective blocklist never LIKE-scans the corpus. */
  final case class Blocklist(patternsPath: String) extends Stage

  /** Gate a crawl on a STANDING SEED postings index (parquet path of a
    * [[Retrieval.postingsIndex]] artifact, IndexStore-committed): keep
    * only docs whose quantized BM25 score (2^-14 units, see
    * [[Retrieval.bm25ScoresVsSeedIndex]]) against at least one seed doc
    * is >= `minScoreQ` — targeted curation by full-text relevance to a
    * seed set. Read-only over the index; the seed postings broadcast,
    * the crawl is never shuffled before its per-doc aggregate. */
  final case class Bm25Gate(indexPath: String, minScoreQ: Long)
      extends Stage

  /** Gate a crawl on a STANDING DSIR index (parquet path of a
    * `Curation.dsirIndex` artifact, IndexStore-committed): keep only
    * docs whose quantized DSIR weight (2^-14-nat units, see
    * `Curation.dsirScores`) is >= `minWeightQ` — the threshold twin of
    * the q104 top-k selection. Read-only over the index; scoring is one
    * broadcast log-ratio row + a map pass, shuffle-free. */
  final case class DsirGate(indexPath: String, minWeightQ: Long)
      extends Stage
  /** Draw the DoReMi-flavoured domain mixture (q106): per-source
    * sqrt-tempered sampling rates under `budgetBp`, docs kept by the
    * deterministic content-hash sampler — the corpus-rebalancing stage.
    * The rate table is one broadcast row per source. */
  final case class DomainMixtureStage(sourceCol: String, budgetBp: Int)
      extends Stage
  /** Drop docs whose mean quantized bigram surprisal
    * (`Curation.lmScores`, the CCNet-style signal q109 ranks by)
    * exceeds `maxScoreQ` — the "too unpredictable to be language"
    * filter. Docs with no bigram evidence (< 2 tokens) pass. */
  final case class LmQualityMax(maxScoreQ: Long) extends Stage

  /** Drop repetitious docs (the Gopher rules, Rae et al. 2021 A1.1,
    * as a stage over [[Curation.repetitionSignals]]): duplicate-2-gram
    * and/or top-3-gram occurrence fractions above the given ppm
    * ceilings (pass Long.MaxValue / omit in JSON to leave one
    * unconstrained). Docs too short to have n-grams read 0 ppm and
    * pass. */
  final case class RepetitionMax(maxDup2Ppm: Long, maxTop3Ppm: Long)
      extends Stage

  /** Cap every semantic cluster's contribution at `quota` docs
    * (`Curation.clusterBalance` over SemDeDup-style nearest-centroid
    * cells on `vecCol`) — diversity balancing instead of near-dup
    * dropping. cells <= 0 derives the cell count from corpus size. */
  final case class ClusterBalanceStage(vecCol: String, cells: Int,
      quota: Int) extends Stage

  /** Drop docs whose token count falls below their source's p`pct`
    * length, served from a STANDING quantile-histogram artifact
    * (IndexStore path of a [[Sketches.quantileHistogram]] table, the
    * q151 family): the "too short for its source" cut without ever
    * scanning history — thresholds are one broadcast row per source.
    * Sources absent from the artifact pass (no evidence, no cut). */
  final case class LengthPctGate(indexPath: String, pct: Int,
      sourceCol: String) extends Stage

  /** Keep the `k` docs drawn by deterministic Efraimidis–Spirakis
    * weighted sampling without replacement with inverse-frequency
    * source weights ([[Curation.weightedSample]] +
    * [[Curation.flatteningWeights]]) — a source-FLAT subcorpus from a
    * skewed pool, selected by TakeOrdered (never a full sort). */
  final case class WeightedSampleStage(sourceCol: String, k: Int)
      extends Stage

  /** TRANSFORM stage (changes row granularity): split each surviving
    * document into `window`-token chunks every `stride` tokens
    * ([[TextOps.chunkWindows]] semantics, inlined so every carried
    * column — source, embedding, quality — rides along onto its
    * chunks). The text column is REPLACED by the chunk text and
    * `c_idx`/`start_tok`/`n_tok` columns are appended; the id column
    * keeps the DOCUMENT id, so place `chunk` AFTER the per-doc
    * filter/dedup stages (the normal clean → chunk → embed order) —
    * a later doc-id-keyed dedup would treat all of a doc's chunks as
    * one unit. */
  final case class Chunk(window: Int, stride: Int) extends Stage

  final case class Spec(idCol: String, textCol: String, stages: Seq[Stage])

  def fromJson(json: String): Spec = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val p = JsonMethods.parse(json) \ "pipeline"
    val stages = (p \ "stages") match {
      case JArray(xs) => xs.map { st =>
        (st \ "op").extract[String] match {
          case "dedup_exact" => DedupExact()
          case "normalize" => NormalizeStage(
            (st \ "form").extractOpt[String].getOrElse("NFC"))
          case "chunk" => Chunk(
            (st \ "window").extractOpt[Int].getOrElse(64),
            (st \ "stride").extractOpt[Int].getOrElse(48))
          case "neardup_jaccard" => NeardupJaccard(
            (st \ "threshold").extractOpt[Double].getOrElse(0.5),
            (st \ "shingle_n").extractOpt[Int].getOrElse(3))
          case "simhash_dedup" => SimhashDedup()
          case "hamming_dedup" => HammingDedup(
            (st \ "radius").extractOpt[Int].getOrElse(3),
            (st \ "band_bits").extractOpt[Int].getOrElse(16))
          case "incremental_hamming" => IncrementalHamming(
            (st \ "index").extract[String],
            (st \ "radius").extractOpt[Int].getOrElse(3),
            (st \ "band_bits").extractOpt[Int].getOrElse(16))
          case "minhash_dedup" => MinhashDedup(
            (st \ "est_sim").extractOpt[Double].getOrElse(0.8))
          case "quality_min_tokens" =>
            QualityMinTokens((st \ "min").extractOpt[Int].getOrElse(1))
          case "lang_keep" => LangKeep(
            (st \ "langs").extract[Seq[String]],
            (st \ "column").extractOpt[String].getOrElse("lang"))
          case "redact_numbers" => RedactNumbers()
          case "html_extract" => HtmlExtract()
          case "redact_pii" => RedactPii()
          case "boilerplate_max" => BoilerplateMax(
            (st \ "max_pct").extractOpt[Int].getOrElse(30),
            (st \ "df_pct").extractOpt[Int].getOrElse(5),
            (st \ "source").extractOpt[String].getOrElse("source"))
          case "neardup_keep_best" => NeardupKeepBest(
            (st \ "quality").extractOpt[String].getOrElse("n_chars"),
            (st \ "threshold").extractOpt[Double].getOrElse(0.5),
            (st \ "shingle_n").extractOpt[Int].getOrElse(3))
          case "incremental_neardup" => IncrementalNeardup(
            (st \ "index").extract[String],
            (st \ "threshold").extractOpt[Double].getOrElse(0.5),
            (st \ "shingle_n").extractOpt[Int].getOrElse(3))
          case "incremental_embdedup" => IncrementalEmbDedup(
            (st \ "index").extract[String],
            (st \ "vec").extractOpt[String].getOrElse("embedding"),
            (st \ "threshold").extractOpt[Double].getOrElse(0.35))
          case "exact_substr" => ExactSubstrStage(
            (st \ "span_tokens").extractOpt[Int].getOrElse(8),
            (st \ "drop_empty").extractOpt[Boolean].getOrElse(true))
          case "incremental_exactdedup" => IncrementalExactDedup(
            (st \ "state").extract[String])
          case "blocklist" => Blocklist((st \ "patterns").extract[String])
          case "bm25_gate" => Bm25Gate(
            (st \ "index").extract[String],
            (st \ "min_score_q").extractOpt[Long].getOrElse(0L))
          case "dsir_gate" => DsirGate(
            (st \ "index").extract[String],
            (st \ "min_weight_q").extractOpt[Long].getOrElse(0L))
          case "domain_mixture" => DomainMixtureStage(
            (st \ "source").extractOpt[String].getOrElse("source"),
            (st \ "budget_bp").extractOpt[Int].getOrElse(6000))
          case "lm_quality_max" => LmQualityMax(
            (st \ "max_score_q").extract[Long])
          case "repetition_max" => RepetitionMax(
            (st \ "max_dup2_ppm").extractOpt[Long]
              .getOrElse(Long.MaxValue),
            (st \ "max_top3_ppm").extractOpt[Long]
              .getOrElse(Long.MaxValue))
          case "length_pct_gate" => LengthPctGate(
            (st \ "index").extract[String], (st \ "pct").extract[Int],
            (st \ "source").extract[String])
          case "weighted_sample" => WeightedSampleStage(
            (st \ "source").extract[String], (st \ "k").extract[Int])
          case "cluster_balance" => ClusterBalanceStage(
            (st \ "vec").extractOpt[String].getOrElse("embedding"),
            (st \ "cells").extractOpt[Int].getOrElse(0),
            (st \ "quota").extractOpt[Int].getOrElse(1000))
          case "semdedup" => SemDedup(
            (st \ "vec").extractOpt[String].getOrElse("embedding"),
            // 0 = derive cell count from corpus size (Dedup.semdedup)
            (st \ "cells").extractOpt[Int].getOrElse(0),
            (st \ "threshold").extractOpt[Double].getOrElse(0.35))
          case "split" => Split(
            (st \ "train").extractOpt[Int].getOrElse(80),
            (st \ "valid").extractOpt[Int].getOrElse(10))
          case other =>
            throw new IllegalArgumentException(s"unknown stage op: $other")
        }
      }
      case _ => Nil
    }
    Spec(
      (p \ "id").extractOpt[String].getOrElse("doc_id"),
      (p \ "text").extractOpt[String].getOrElse("text"),
      stages)
  }

  /** Compile the spec over a document frame. Output keeps the input
    * columns (text possibly redacted) plus a `split` column when a Split
    * stage is present. */
  def compile(spec: Spec, df: DataFrame): DataFrame = {
    val id = spec.idCol
    val txt = spec.textCol
    spec.stages.foldLeft(df) { (cur, stage) =>
      stage match {
        case DedupExact() =>
          val keep = cur.groupBy(md5(col(txt)).as("__h"))
            .agg(min(col(id)).as("__keep"))
          cur.join(keep, md5(cur(txt)) === keep("__h") &&
            cur(id) === keep("__keep"))
            .drop("__h", "__keep")
        case Chunk(w, stride) =>
          require(stride >= 1 && stride <= w,
            s"chunk: need 1 <= stride ($stride) <= window ($w)")
          cur.withColumn("__tk", TextOps.tokens(col(txt)))
            .withColumn("__n", size(col("__tk")))
            .filter(col("__n") > 0)
            .withColumn("__start",
              explode(expr(s"sequence(0, __n - 1, $stride)")))
            .withColumn("c_idx",
              expr(s"cast(__start div $stride as bigint)"))
            .withColumn("start_tok", col("__start").cast("long"))
            .withColumn("n_tok",
              least(lit(w), col("__n") - col("__start")).cast("long"))
            .withColumn(txt, expr(s"array_join(slice(__tk, " +
              s"__start + 1, least($w, __n - __start)), ' ')"))
            .drop("__tk", "__n", "__start")
        case NeardupJaccard(threshold, n) =>
          val drop = Dedup.jaccardPairs(cur, txt, id, n, threshold)
            .select(col("id_b").as(id)).distinct()
          cur.join(drop, Seq(id), "left_anti")
        case SimhashDedup() =>
          // keep only each signature cluster's representative
          val sig = cur.select(col(id), F.simhash32(col(txt)).as("__sig"))
          val keep = sig.groupBy(col("__sig"))
            .agg(min(col(id)).as(id)).select(id)
          cur.join(keep, Seq(id), "left_semi")
        case MinhashDedup(estSim) =>
          val drop = Dedup.minhashCandidates(cur, txt, id)
            .filter(col("est_sim") >= estSim)
            .select(col("id_b").as(id)).distinct()
          cur.join(drop, Seq(id), "left_anti")
        case QualityMinTokens(min) =>
          cur.filter(size(TextOps.tokens(col(txt))) >= min)
        case LangKeep(langs, column) =>
          cur.filter(col(column).isin(langs: _*))
        case NormalizeStage(form) =>
          cur.withColumn(txt, F.normalizeText(col(txt), form))
        case RedactNumbers() =>
          cur.withColumn(txt, regexp_replace(col(txt), "[0-9]+", "<NUM>"))
        case HtmlExtract() =>
          cur.withColumn(txt, F.htmlExtract(col(txt)))
        case RedactPii() =>
          cur.withColumn(txt,
            regexp_replace(regexp_replace(regexp_replace(col(txt),
              CleanPipeline.piiEmail, "<EMAIL>"),
              CleanPipeline.piiIp, "<IP>"),
              CleanPipeline.piiPhone, "<PHONE>"))
        case BoilerplateMax(maxPct, dfPct, sourceCol) =>
          // q81's shape: shingle doc-frequency per source group, flags
          // joined back on (source, shingle) — bounded keys, no N^2
          val sh = cur.select(col(id), col(sourceCol).as("__src"),
            explode(F.shingleHashes(col(txt), 3)).as("__h"))
          val nd = cur.groupBy(col(sourceCol).as("__src"))
            .agg(count(lit(1)).as("__nd"))
          val flagged = sh.groupBy(col("__src"), col("__h"))
            .agg(count(lit(1)).as("__df"))
            .join(broadcast(nd), "__src")
            .select(col("__src"), col("__h"),
              (col("__df") * 100 >= col("__nd") * dfPct).as("__boiler"))
          val keep = sh.join(flagged, Seq("__src", "__h"))
            .groupBy(col(id))
            .agg(count(lit(1)).as("__n"),
              sum(when(col("__boiler"), 1L).otherwise(0L)).as("__nb"))
            .filter(col("__nb") * 100 <= col("__n") * maxPct)
            .select(id)
          cur.join(keep, Seq(id), "left_semi")
        case NeardupKeepBest(qualityCol, threshold, n) =>
          val dropped = Dedup.nearDupKeepList(cur, txt, id, qualityCol,
              n, threshold)
            .filter(col("is_kept") === 0)
            .select(col("id").as(id))
          cur.join(dropped, Seq(id), "left_anti")
        case HammingDedup(radius, bandBits) =>
          val drop = Dedup.hammingPairs(cur, txt, id, radius, bandBits)
            .select(col("id_b").as(id)).distinct()
          cur.join(drop, Seq(id), "left_anti")
        case IncrementalHamming(path, radius, bandBits) =>
          val idx = IndexStore.read(cur.sparkSession, path).getOrElse(
            throw new IllegalArgumentException(
              s"incremental_hamming: no index at $path"))
          val drop = Dedup.incrementalHamming(cur, idx, txt, id, radius,
              bandBits)
            .select(col("new_id").as(id)).distinct()
          cur.join(drop, Seq(id), "left_anti")
        case IncrementalNeardup(path, threshold, n) =>
          // IndexStore resolves the live committed version (and still
          // reads the legacy flat-parquet layout)
          val idx = IndexStore.read(cur.sparkSession, path).getOrElse(
            throw new IllegalArgumentException(
              s"incremental_neardup: no index at $path"))
          val drop = Dedup.incrementalJaccard(cur, idx, txt, id, n,
              threshold)
            .select(col("new_id").as(id)).distinct()
          cur.join(drop, Seq(id), "left_anti")
        case IncrementalEmbDedup(path, vecCol, threshold) =>
          val idx = IndexStore.read(cur.sparkSession, path).getOrElse(
            throw new IllegalArgumentException(
              s"incremental_embdedup: no index at $path"))
          val drop = Dedup.incrementalEmbeddingDedup(cur, idx, vecCol,
              id, threshold = threshold)
            .select(col("new_id").as(id)).distinct()
          cur.join(drop, Seq(id), "left_anti")
        case ExactSubstrStage(k, dropEmpty) =>
          val cleaned = Dedup.exactSubstrDedup(cur, txt, id, k)
            .select(col("id").as("__esid"),
              col("clean_text").as("__clean"),
              col("kept_tokens").as("__kept"))
          val out = cur.join(cleaned, cur(id) === col("__esid"))
            .withColumn(txt, col("__clean"))
          (if (dropEmpty) out.filter(col("__kept") > 0L) else out)
            .drop("__esid", "__clean", "__kept")
        case IncrementalExactDedup(path) =>
          // two state layouts resolve: the StreamOps pair
          // (`<path>/hashes` + `<path>/bloom`) and the REGISTERED
          // exact dedup-index layout (hashes at `<path>`, rebuilt
          // Bloom sidecar at `<path>-bloom`)
          val hashes = IndexStore.read(cur.sparkSession, s"$path/hashes")
            .orElse(IndexStore.read(cur.sparkSession, path))
            .getOrElse(throw new IllegalArgumentException(
              s"incremental_exactdedup: no hash index at $path/hashes " +
                s"or $path"))
            .select(col("h"), col("id").as("__corpus_id"))
          val hb = cur.withColumn("__h",
            graft.functions.F.charPolyHash(col(txt)))
          // Bloom prefilter when the state carries one: misses are
          // definitely new and skip the hash-index join
          val maybes = IndexStore.read(cur.sparkSession, s"$path/bloom")
            .orElse(IndexStore.read(cur.sparkSession, s"$path-bloom"))
            .map(bl => Dedup.bloomGate(hb, bl, "__h")
              .filter(col("bloom_hit")).drop("bloom_hit"))
            .getOrElse(hb)
          val drop = maybes.join(hashes,
              col("__h") === col("h") && col(id) =!= col("__corpus_id"),
              "left_semi")
            .select(col(id)).distinct()
          cur.join(drop, Seq(id), "left_anti")
        case Blocklist(path) =>
          val pats = cur.sparkSession.read.parquet(path)
          val hit = Retrieval.likeSearch(
              Retrieval.trigramIndex(cur, txt, id), cur, pats, txt, id)
            .select(col("id").as(id)).distinct()
          cur.join(hit, Seq(id), "left_anti")
        case Bm25Gate(path, minScoreQ) =>
          val idx = IndexStore.read(cur.sparkSession, path).getOrElse(
            throw new IllegalArgumentException(
              s"bm25_gate: no index at $path"))
          val keep = Retrieval.bm25ScoresVsSeedIndex(idx, cur, txt, id)
            .filter(col("score_q") >= minScoreQ)
            .select(col("q_id").as(id))
          cur.join(keep, Seq(id), "left_semi")
        case DsirGate(path, minWeightQ) =>
          val idx = IndexStore.read(cur.sparkSession, path).getOrElse(
            throw new IllegalArgumentException(
              s"dsir_gate: no index at $path"))
          Curation.dsirScores(idx, cur, txt, id)
            .filter(col("weight_q") >= minWeightQ)
            .drop("weight_q")
        case DomainMixtureStage(sourceCol, budgetBp) =>
          val rates = Curation.domainRates(cur, txt, sourceCol, budgetBp)
            .select(col("source").as("__src"), col("rate_bp"))
          // same deterministic content-hash sampler as q106: a doc is
          // in the mixture iff hash(text|id) mod 10000 < rate_bp
          cur.join(broadcast(rates), cur(sourceCol) === col("__src"))
            .filter(TextOps.polyHash(
                concat(col(txt), lit("|"), col(id).cast("string")))
              % 10000 < least(col("rate_bp"), lit(10000L)))
            .drop("__src", "rate_bp")
        case LmQualityMax(maxScoreQ) =>
          val bad = Curation.lmScores(cur, txt, id)
            .filter(col("score_q") > maxScoreQ)
            .select(col(id))
          cur.join(bad, Seq(id), "left_anti")
        case RepetitionMax(maxDup2, maxTop3) =>
          val bad = Curation.repetitionSignals(cur, txt, id)
            .filter(col("dup2_ppm") > maxDup2 ||
              col("top3_ppm") > maxTop3)
            .select(col(id))
          cur.join(bad, Seq(id), "left_anti")
        case ClusterBalanceStage(vecCol, ncells, quota) =>
          val cells = if (ncells > 0) ncells
            else Dedup.deriveCells(cur.count())
          val e = cur.select(col(id).as("id"), col(vecCol).as("v"),
            F.dotF(col(vecCol), col(vecCol)).as("n2"))
          val cents = e.orderBy(col("id")).limit(cells)
            .select(col("id").as("cent_id"), col("v").as("cv"),
              col("n2").as("cn2"))
          val assigned = Similarity.assign(e, cents)
            .select(col("id"), col("cent_id").as("cell"))
          val keep = Curation.clusterBalance(assigned, quota)
            .select(col("id").as(id))
          cur.join(keep, Seq(id), "left_semi")
        case LengthPctGate(indexPath, pct, sourceCol) =>
          val hist = IndexStore.read(cur.sparkSession, indexPath)
            .getOrElse(throw new IllegalStateException(
              s"no quantile-histogram artifact at $indexPath"))
          val thr = Sketches.quantileEst(hist, Seq(pct))
            .select(col("key").as("__src"), col("est").as("__thr"))
          cur.join(broadcast(thr), cur(sourceCol) === col("__src"),
              "left")
            .filter(col("__thr").isNull ||
              size(TextOps.tokens(col(txt))).cast("long") >= col("__thr"))
            .drop("__src", "__thr")
        case WeightedSampleStage(sourceCol, k) =>
          val keep = Curation.weightedSample(cur, txt, id, sourceCol,
              Curation.flatteningWeights(cur, sourceCol), k)
            .select(col("id").as(id))
          cur.join(keep, Seq(id), "left_semi")
        case SemDedup(vecCol, cells, threshold) =>
          val keep = Dedup.semdedup(cur, vecCol, id, cells, threshold)
            .filter(col("keep") === 1)
            .select(col("id").as(id))
          cur.join(keep, Seq(id), "left_semi")
        case Split(train, valid) =>
          cur.withColumn("__b",
            expr(s"aggregate(filter(split(md5($txt), ''), c -> c != ''), " +
              s"cast(0 as bigint), (a, c) -> (a*31 + cast(ascii(c) as bigint)) " +
              s"% ${TextOps.P}) % 100"))
            .withColumn("split",
              when(col("__b") < train, "train")
                .when(col("__b") < train + valid, "valid")
                .otherwise("test"))
            .drop("__b")
      }
    }
  }

  /** Parse + compile in one call. */
  def run(json: String, df: DataFrame): DataFrame =
    compile(fromJson(json), df)
}
