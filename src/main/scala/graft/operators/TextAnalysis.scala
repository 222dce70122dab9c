package graft.operators

import graft.Tables
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents fixture (SURVEY §2.2 P10
  * [EXT]): token counting, quality scoring, language ID, fingerprinting,
  * explode-based token stats. All per-row or single-shuffle aggregations —
  * the shapes that stream through a 100 TB corpus scan.
  */
object TextAnalysis {

  /** Per-document metrics: whitespace tokens, BPE-ish subword tokens,
    * characters, quality score, stopword/alpha ratios. Every column reads
    * the same [[graft.functions.TextStatsExpr]] node, so each row's text is
    * scanned once, inside whole-stage codegen (one scan, no shuffle). */
  def docMetrics(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TF.nTokens(col("text")).cast("long").as("n_tokens"),
      TF.nSubwords(col("text")).cast("long").as("n_subwords"),
      TF.nChars(col("text")).cast("long").as("n_chars_c"),
      round(TF.stopwordRatio(col("text")), 6).as("stopword_ratio"),
      round(TF.alphaRatio(col("text")), 6).as("alpha_ratio"),
      TF.qualityScore(col("text")).as("quality"))

  /** Language ID vs the labeled lang column; also reports agreement so the
    * heuristic's hit-rate is visible in the result. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      col("lang").as("labeled_lang"),
      TF.langId(col("text")).as("predicted_lang"))

  /** Content fingerprints: exact hash, canonical (order-insensitive)
    * fingerprint, and a 64-bit doc signature from the canonical md5. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TF.contentHash(col("text")).as("content_sha256"),
      TF.canonicalFingerprint(col("text")).as("canonical_md5"))

  /** G1/P3 — split → explode → re-aggregate (reference shape:
    * /root/reference/src/preprocessing_pipeline.py:145-151). Global token
    * frequency: the explode fans out ~n_tokens× rows, then a hash agg on
    * the token collapses them; partial aggregation keeps the shuffle at
    * |vocab| per partition.
    */
  def tokenFrequency(spark: SparkSession, dir: String, minCount: Long = 100): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** q83 — heavy-hitter tokens via SKETCH PREFILTER + EXACT VERIFY: the
    * fixed-memory alternative to [[tokenFrequency]]'s full vocabulary
    * aggregate. Pass 1 runs Misra–Gries (`stat.freqItems`) over the
    * exploded tokens — per-partition state is a bounded 1/support-entry
    * map regardless of vocabulary size, and the guarantee is one-sided:
    * every token with relative frequency > support IS in the candidate
    * set (false positives possible, false negatives not). Pass 2 counts
    * ONLY the ≤1/support candidates exactly (a broadcast semi-filter
    * before the aggregate, so the shuffle carries candidate tokens, not
    * the vocabulary) and keeps those truly above the threshold. The
    * composition is therefore EXACT — deterministic rows under a plain
    * HAVING oracle — while the full-vocab hash agg it replaces carries
    * |vocab| state per partition, the thing that breaks first on a
    * 100 TB corpus with billion-token vocabularies.
    *
    * Each pass RE-SCANS the documents table rather than materializing the
    * exploded token relation: tokenize is a cheap per-row expression and
    * the scan prunes to the one `text` column, while a checkpoint of the
    * corpus × tokens rows (the round-8 form) was a multi-hundred-TB
    * executor-disk footprint at the 100 TB target — the opposite of the
    * fixed-memory pitch. Three column-pruned scans beat one corpus-sized
    * spill; PlanSpec pins the no-checkpoint shape.
    */
  def heavyHitterTokens(spark: SparkSession, dir: String,
                        support: Double = 0.001): DataFrame = {
    def toks = Tables.documents(spark, dir)
      .select(explode(TF.tokens(col("text"))).as("token"))
    val n = toks.count()
    // Misra-Gries candidates: bounded driver result (≤ ~1/support items)
    val candidates = toks.stat.freqItems(Seq("token"), support)
      .head().getSeq[String](0)
    val threshold = (support * n).toLong // keep tokens with cnt > support·N
    toks.filter(col("token").isin(candidates: _*))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > threshold)
  }

  /** Per-language rollup joining metrics: lang → docs, tokens, mean
    * quality. One scan + one shuffle on the (tiny) lang key. */
  def langRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TF.nTokens(col("text")).cast("long")).as("n_tokens"),
        round(avg(length(col("text"))), 6).as("avg_chars"))

  /** q44 — the composed training-data curation pass every LLM corpus goes
    * through: per-row quality score → threshold filter → exact content
    * dedup (keep lowest doc_id) → per-language survivor counts. Pure
    * expressions + two hash aggregations: quality filtering streams through
    * the scan (pushdown-friendly), dedup shuffles once on the content hash,
    * the rollup once on the tiny lang key — the whole pass is one linear
    * pipeline at 100 TB.
    */
  def corpusCuration(spark: SparkSession, dir: String, minQuality: Double = 0.5): DataFrame =
    Tables.documents(spark, dir)
      .filter(TF.qualityScore(col("text")) >= minQuality)
      .select(col("doc_id"), col("lang"), TF.contentHash(col("text")).as("h"))
      .groupBy(col("h"))
      .agg(min_by(col("lang"), col("doc_id")).as("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"))

  /** [[corpusCuration]] with OBSERVED pipeline metrics: `observe()`
    * attaches `CollectMetrics` aggregates to the flowing rows, so the
    * counters a production curation job reports — rows scanned, rows past
    * the quality gate, distinct languages, mean quality of survivors —
    * are computed DURING the one pass the query already makes. At 100 TB
    * the alternative is a second full scan per counter; observe costs one
    * accumulator merge per task. Returns (result, observation handle);
    * metrics materialize when the result is acted on (spec-pinned equal
    * to independently-computed values).
    */
  def corpusCurationObserved(spark: SparkSession, dir: String,
                             minQuality: Double = 0.5)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("curation_metrics")
    val gated = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"),
        TF.qualityScore(col("text")).as("quality"))
      .observe(obs,
        count(lit(1)).as("rows_scanned"),
        sum((col("quality") >= minQuality).cast("long")).as("rows_kept"),
        approx_count_distinct(col("lang")).as("langs_seen"),
        round(avg(when(col("quality") >= minQuality, col("quality"))), 6)
          .as("mean_kept_quality"))
      .filter(col("quality") >= minQuality)
    val result = gated
      .select(col("doc_id"), col("lang"), TF.contentHash(col("text")).as("h"))
      .groupBy(col("h"))
      .agg(min_by(col("lang"), col("doc_id")).as("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"))
    (result, obs)
  }

  /** q55 — the full curation pipeline with NEAR-dup (not just exact-hash)
    * dedup: quality-gate the corpus, resolve near-duplicate clusters over
    * the survivors ([[Dedup.dedupCorpusFor]]: MinHash-LSH pairs →
    * connected components → keep-lowest), and roll up what remains per
    * language. This is the composed operation a training-data pipeline
    * runs end to end; every stage is the oracle-checked operator it reuses
    * (q44's quality gate, q52's cluster resolution, q29's rollup shape).
    */
  def corpusCurationNearDup(spark: SparkSession, dir: String,
                            minQuality: Double = 0.5, threshold: Double = 0.5): DataFrame = {
    val qualityDocs = Tables.documents(spark, dir)
      .filter(TF.qualityScore(col("text")) >= minQuality)
    // shingles for the quality subset are an exact id-slice of the
    // session shingle leaf (per-row function of text) — one semi-join
    // instead of re-tokenizing the survivors
    val sh = Dedup.ensureDocShingles(spark, dir)
      .join(qualityDocs.select(col("doc_id")), Seq("doc_id"), "left_semi")
    // signatures are per-row too: the quality subset's signatures are an
    // exact id-slice of the session signature leaf
    val sigs = Dedup.ensureMinhashSigs(spark, dir)
      .join(qualityDocs.select(col("doc_id")), Seq("doc_id"), "left_semi")
    Dedup.dedupCorpusFor(qualityDocs, threshold, shOpt = Some(sh),
      sigOpt = Some(sigs))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"))
  }

  /** q57 — order statistics over the quality score, exact + approx side by
    * side (the q10 pattern for quantiles): the exact quantile is defined
    * by RANK — the value at row ceil(p·n) under the total order
    * (quality, doc_id) — which both engines reproduce bit-exactly, unlike
    * interpolated percentiles whose `(1-f)a + fb` arithmetic differs in
    * the last ulp across engines. percentile_approx (the one-pass
    * KLL-style sketch) rides along with a within-tolerance boolean. This
    * is the operator that picks a corpus quality threshold ("keep the top
    * decile") from the score distribution.
    *
    * The exact side is DISTRIBUTED SELECTION, not a sort: the rank-r
    * value under (quality, doc_id) depends only on the quality marginal —
    * value(r) = min{v : #rows with quality ≤ v ≥ r}, doc_id ties can
    * never change which VALUE sits at a rank — so it reads off a
    * per-(lang, quality) histogram (one map-side-combined shuffle on the
    * well-spread composite key) with a cumulative sum over the HISTOGRAM.
    * The window's partition is bounded by the distinct rounded quality
    * values per language (≤ 1e6 + 1 at 6dp), independent of corpus size;
    * the earlier row_number form shuffled every corpus row into one task
    * per language — ~5 tasks sorting ~20 TB each at the 100 TB target.
    */
  /** The exact-selection core shared by q57 and q102: rank-r quantile
    * VALUES per language read off the (lang, quality) histogram — the
    * bounded-window form documented on [[qualityQuantiles]]. Returns
    * (lang, p, value), one row per language × requested quantile. */
  private[graft] def exactQuantileThresholds(q: DataFrame,
                                             ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = q.groupBy(col("lang"), col("quality")).agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("lang"))))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("lang")).orderBy(col("quality"))))
    // all requested ranks in ONE pass over the cumulative histogram:
    // min over the filtered rows ≡ min(when(filter, value)) per p — the
    // former per-p filter+agg union re-executed the histogram window
    // once per quantile
    val aggs = ps.zipWithIndex.map { case (p, i) =>
      min(when(col("cum") >= ceil(col("n") * p), col("quality"))).as(s"v_$i")
    }
    cum.groupBy(col("lang"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("lang"), explode(array(ps.zipWithIndex.map { case (p, i) =>
        struct(lit(p).as("p"), col(s"v_$i").as("value"))
      }: _*)).as("s"))
      .select(col("lang"), col("s.p"), col("s.value"))
  }

  /** q102 — QUANTILE DIFFICULTY BINNING (curriculum bucketing): per-language
    * quantile thresholds from the q57 exact-selection machinery, then every
    * doc labeled with its tier — the count of its language's thresholds
    * strictly below its quality score — and rolled up per (lang, tier).
    * The thresholds relation is langs × |ps| rows (broadcast); docs compare
    * against it in one fan-out join + two hash aggs — no global sort, no
    * per-language corpus window, the same scale posture as q57. Quality is
    * 6dp-rounded at the source, so the strict compare is engine-stable.
    */
  def difficultyBinning(spark: SparkSession, dir: String,
                        ps: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame =
    perDocTiers(spark, dir, ps)
      .groupBy(col("lang"), col("tier"))
      .agg(count(lit(1)).as("n_docs"))

  /** The q102 intermediate, shared with q119: each doc's curriculum tier =
    * number of its language's quantile thresholds strictly below its
    * quality score. Thresholds broadcast; the count is an in-row-ish
    * aggregation over |ps| joined rows per doc. */
  private[graft] def perDocTiers(spark: SparkSession, dir: String,
                                 ps: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    val q = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), TF.qualityScore(col("text")).as("quality"))
    val thr = exactQuantileThresholds(q, ps)
    q.join(broadcast(thr), Seq("lang"))
      .groupBy(col("lang"), col("doc_id"))
      .agg(sum((col("quality") > col("value")).cast("long")).as("tier"))
  }

  /** q119 — CURRICULUM ORDER MANIFEST: the global training order a
    * curriculum-learning loader consumes — highest-quality tier first,
    * uniform seeded shuffle WITHIN each tier (so an epoch is reproducible
    * yet unordered inside a difficulty band). Composes q102's per-doc
    * tiers with the q86 two-level rank: global position = tier-major
    * prefix + in-(tier, bucket) row_number, where the (tier, bucket)
    * count relation (|tiers|·16^prefixChars rows) broadcasts and the only
    * unpartitioned window runs over it — never a one-partition global
    * sort. The bucket is a prefix of the shuffle key, so bucket-major +
    * in-bucket key order IS the per-tier key order.
    */
  def curriculumOrder(spark: SparkSession, dir: String,
                      ps: Seq[Double] = Seq(0.25, 0.5, 0.75),
                      seed: Long = 42L, prefixChars: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(prefixChars >= 1 && prefixChars <= 8, s"prefixChars out of range: $prefixChars")
    val keyed = perDocTiers(spark, dir, ps)
      .select(col("doc_id"), col("tier"))
      .withColumn("key", md5(concat(col("doc_id").cast("string"), lit(":" + seed))))
      .withColumn("bucket", substring(col("key"), 1, prefixChars))
    val prefix = keyed.groupBy(col("tier"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("prefix", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("tier").desc, col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("tier"), col("bucket"), col("prefix"))
    val inBucket = Window.partitionBy(col("tier"), col("bucket"))
      .orderBy(col("key"), col("doc_id"))
    keyed.withColumn("rn", row_number().over(inBucket).cast("long"))
      .join(broadcast(prefix), Seq("tier", "bucket"))
      .select(col("doc_id"), col("tier"), (col("prefix") + col("rn") - 1).as("pos"))
  }

  def qualityQuantiles(spark: SparkSession, dir: String,
                       ps: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    val q = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), TF.qualityScore(col("text")).as("quality"))
    val exact = exactQuantileThresholds(q, ps)
    val approx = q.groupBy(col("lang"))
      .agg(percentile_approx(col("quality"),
        array(ps.map(lit): _*), lit(10000)).as("ap"))
      .select(col("lang"), posexplode(col("ap")))
      .select(col("lang"), element_at(array(ps.map(lit): _*), col("pos") + 1).as("p"),
        col("col").as("approx_value"))
    exact.join(approx, Seq("lang", "p"))
      .withColumn("approx_within_tol", abs(col("approx_value") - col("value")) <= 0.05)
      .select(col("lang"), col("p"), col("value"), col("approx_within_tol"))
  }

  /** q84 — SEQUENCE PACKING (concat-and-chunk): the step that turns a
    * curated corpus into fixed-length training contexts. Every document's
    * tokens are laid end to end in doc_id order and the stream is cut into
    * contexts of `contextLen` tokens; each doc reports the chunk span it
    * lands in — (first_chunk, last_chunk, n_chunks) — which is exactly the
    * shard manifest a training loader consumes.
    *
    * The global token offset is a prefix sum, and a single
    * `sum over (order by doc_id)` window is a ONE-PARTITION sort at 100 TB.
    * This runs the distributed two-level form instead: docs group into
    * blocks (doc_id div blockSize), per-block token totals aggregate to a
    * table with corpus/blockSize rows, the exclusive cumulative over THAT
    * tiny relation is the only unpartitioned window (bounded rows by
    * construction — ~1e5 at 100 TB), and each doc's offset is its block's
    * prefix plus an in-block window partitioned by block — every heavy
    * stage hash-partitions. Chunk arithmetic is integer `div` (`/`
    * promotes to double and misplaces boundary offsets).
    */
  def sequencePacking(spark: SparkSession, dir: String,
                      contextLen: Long = 256L, blockSize: Long = 64L): DataFrame =
    packManifest(
      Tables.documents(spark, dir)
        .select(col("doc_id"), TF.nTokens(col("text")).cast("long").as("n_tokens")),
      contextLen, blockSize)

  /** The packing core over any (doc_id, n_tokens) slice: two-level prefix
    * sum in doc_id order starting from `baseOffset` (the running token
    * total of everything already packed — 0 for a whole-corpus batch pass;
    * the cross-batch state of the q93 streaming form). */
  private[graft] def packManifest(docs0: DataFrame, contextLen: Long = 256L,
                                  blockSize: Long = 64L,
                                  baseOffset: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def idiv(c: org.apache.spark.sql.Column, d: Long) =
      call_function("div", c, lit(d))
    val docs = docs0.withColumn("block", idiv(col("doc_id"), blockSize))
    // tiny relation: one row per block; the unpartitioned window is bounded
    val blockPrefix = docs.groupBy(col("block"))
      .agg(sum(col("n_tokens")).as("block_total"))
      .withColumn("block_prefix",
        coalesce(sum(col("block_total")).over(
          Window.orderBy(col("block")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("block"), col("block_prefix"))
    val inBlock = Window.partitionBy(col("block")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("within", coalesce(sum(col("n_tokens")).over(inBlock), lit(0L)))
      .join(broadcast(blockPrefix), "block")
      .withColumn("offset", lit(baseOffset) + col("block_prefix") + col("within"))
      .select(col("doc_id"), col("n_tokens"),
        idiv(col("offset"), contextLen).as("first_chunk"),
        idiv(col("offset") + col("n_tokens") - 1, contextLen).as("last_chunk"),
        (idiv(col("offset") + col("n_tokens") - 1, contextLen)
          - idiv(col("offset"), contextLen) + 1).as("n_chunks"))
  }

  /** PII pattern table: (class, placeholder, regex) drives BOTH the
    * per-class counts and the replacement chain, in table order. Adding a
    * class is one row here (+ its fixture plant + oracle clause) — the
    * reference's single literal replace
    * (/root/reference/src/federated_learning_pipeline.py:31) promoted to a
    * declarative table. Patterns are RE2-compatible (no backrefs or
    * lookaround) so the DuckDB oracle runs the SAME pattern text. Order
    * matters for the chain: card before ssn/phone so the longest digit
    * shapes are consumed first.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "<EMAIL>", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
    ("card",  "<CARD>",  "[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}"),
    ("ssn",   "<SSN>",   "[0-9]{3}-[0-9]{2}-[0-9]{4}"),
    ("ip",    "<IP>",    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"),
    ("phone", "<PHONE>", "555-[0-9]{4}"))
  val emailPattern: String = piiPatterns.head._3
  val phonePattern: String = piiPatterns.last._3

  /** q85 — PII REDACTION: the scrubbing pass a training corpus makes before
    * anything else sees it — match each [[piiPatterns]] class, count it,
    * replace with its typed placeholder token, and emit the redacted
    * content hash (the downstream exact-dedup key). Pure per-row regexp
    * expressions: one scan, no shuffle, pushdown-safe at 100 TB.
    *
    * The fixture corpus is synthetic and contains no PII, so one planted
    * snippet per class is derived deterministically from doc_id (the q82
    * fixture discipline: damage derived from the source table so the
    * oracle can re-derive it): ip every 5th doc, email every 7th, phone
    * every 11th, ssn every 13th, card every 17th. Planted values are
    * chosen so no class's snippet matches another class's pattern (ssn
    * area 100–499 ≠ 555; card groups never end in 555; dash classes are
    * disjoint from the dotted ip).
    */
  /** The fixture plant: one snippet per [[piiPatterns]] class appended to
    * `text`, each derived from doc_id so spec and oracle re-derive it. */
  private[graft] def plantedPiiText: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    concat(col("text"),
      when(id % 5 === 0,
        concat(lit(" from 10.0."), (id % 256).cast("string"), lit(".1")))
        .otherwise(lit("")),
      when(id % 7 === 0,
        concat(lit(" reach me at user"), id.cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(id % 11 === 0,
        concat(lit(" or call 555-"), lpad((id % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(id % 13 === 0,
        concat(lit(" ssn "), ((id % 400) + 100).cast("string"), lit("-"),
          ((id % 89) + 10).cast("string"), lit("-"),
          lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
      when(id % 17 === 0,
        concat(lit(" card 4111-1111-1111-"), lpad((id % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")))
  }

  /** The redaction chain: [[piiPatterns]] applied in table order. */
  private[graft] def redactPii(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    piiPatterns.foldLeft(c) {
      case (acc, (_, placeholder, pattern)) => regexp_replace(acc, pattern, placeholder)
    }

  def piiRedaction(spark: SparkSession, dir: String): DataFrame = {
    val planted = plantedPiiText
    val countCols = piiPatterns.map { case (cls, _, pattern) =>
      size(regexp_extract_all(planted, lit(pattern), lit(0))).cast("long")
        .as(s"n_${cls}s")
    }
    Tables.documents(spark, dir).select(
      col("doc_id") +: countCols :+ sha2(redactPii(planted), 256).as("redacted_sha256"): _*)
  }

  /** q89 — REPETITION QUALITY METRICS (the Gopher-rule family): per-doc
    * duplicate-shingle fraction (how much of the doc is self-repeated
    * 3-gram mass) and top-token fraction (how much a single token
    * dominates), plus the keep verdict a curation pass would gate on.
    *
    * dup_frac is per-row array arithmetic (no shuffle). top_frac is the
    * max per-(doc, token) count — computed by explode + two hash
    * aggregations, LINEAR in document length; the per-row alternative
    * (`transform` + `filter` over the token array per distinct token) is
    * quadratic in doc length and blows up exactly on the pathological
    * repetitive documents this operator exists to catch.
    */
  def repetitionMetrics(spark: SparkSession, dir: String,
                        maxDupFrac: Double = 0.1, maxTopFrac: Double = 0.1): DataFrame = {
    // materialize the shingle array ONCE per row: the expression references
    // it three times, higher-order functions evaluate interpreted (no
    // whole-stage CSE), and CollapseProject will not re-inline a non-cheap
    // alias used more than once — so the lower projection is load-bearing,
    // not cosmetic (measured ~3x on this branch at sf0.1)
    val perRow = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), TF.shingles(col("text"), 3).as("sh"))
      .select(
        col("doc_id"),
        when(size(col("sh")) > 0,
          round((size(col("sh")) - size(array_distinct(col("sh")))).cast("double")
            / size(col("sh")).cast("double"), 6)).otherwise(lit(0.0)).as("dup_shingle_frac"),
        TF.nTokens(col("text")).cast("long").as("n_tokens"))
    val topTok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("cnt")).as("top_cnt"))
    perRow.join(topTok, "doc_id")
      .withColumn("top_token_frac",
        round(col("top_cnt").cast("double") / col("n_tokens").cast("double"), 6))
      .withColumn("keep",
        col("dup_shingle_frac") <= maxDupFrac && col("top_token_frac") <= maxTopFrac)
      .select(col("doc_id"), col("dup_shingle_frac"), col("top_token_frac"), col("keep"))
  }

  /** q88 — TF-IDF COSINE SIMILARITY PAIRS: the sparse-vector twin of the
    * dense embedding near-dup (q20) — document pairs whose tf-idf weighted
    * token vectors exceed a cosine threshold. Candidate generation is the
    * inverted-index equi-join on the token (never all-pairs): only docs
    * sharing a surviving token ever meet, the same skeleton as q17's
    * shingle join.
    *
    * `maxDf` is sklearn-style max_df pruning — tokens in more than maxDf
    * docs are dropped from every vector (they carry the lowest idf AND
    * create the largest join buckets, so the semantic knob is also the
    * skew guard: each token's bucket is ≤ maxDf² pairs). Norms are
    * computed over the PRUNED vectors, so the cosine is exact for the
    * declared vector space — the oracle replays the identical pruning.
    * Scores round at 4dp and the threshold compares the rounded value
    * (both engines gate the same decimal).
    *
    * Cross-engine tolerance, stated honestly: the dot/norm sums are float
    * accumulations whose order differs between engines, so the raw cosines
    * can differ in the last ulp. The 4dp round runs in DECIMAL on both
    * engines (cast the double to DECIMAL(38,18) — deterministic for
    * identical bits — then decimal HALF_UP round, which DuckDB's decimal
    * round matches), so the rounding step itself can never diverge for the
    * same input double; the residual knife edge is only the sum-order ulp
    * landing within an ulp of a .00005 boundary, which no decimal pipeline
    * can remove and is declared here.
    */
  def tfidfSimilarityPairs(spark: SparkSession, dir: String,
                           threshold: Double = 0.3, maxDf: Long = 100L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = Tables.rowCount(spark, dir, "documents") // the idf's N
    val tf = docs
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    // The weight relation feeds the norm aggregate AND both sides of the
    // pair join, but it is corpus-token-sized: pinning it in executor
    // storage (localCheckpoint) is an executor-memory-shaped footprint
    // with lost-executor recompute risk at 100 TB. The D9 discipline
    // instead: spill it once to a scratch parquet sink and let all three
    // consumers re-read the compact columnar spill — durable, splittable,
    // and recoverable on executor loss.
    val wPath = graft.sources.Sources.scratchDir(spark,
      "tfidf_w_" + graft.sources.Sources.dirTag(dir))
    tf.join(df, "token")
      .select(col("doc_id"), col("token"),
        (col("tf").cast("double") * log(lit(nDocs.toDouble) / col("df"))).as("w"))
      .write.mode("overwrite").parquet(wPath)
    val w = spark.read.parquet(wPath)
    val norms = w.groupBy(col("doc_id")).agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val a = w.select(col("doc_id").as("doc_a"), col("token"), col("w").as("wa"))
    val b = w.select(col("doc_id").as("doc_b"), col("token"), col("w").as("wb"))
    a.join(b, "token")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round((col("dot") / (col("na") * col("nb")))
            .cast(org.apache.spark.sql.types.DecimalType(38, 18)), 4)
          .cast("double").as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** q92 — TEMPERATURE-SCALED MIXTURE WEIGHTS: the data-mixing computation
    * that decides how much of each source a training epoch samples.
    * Per-source doc counts n_s are temperature-adjusted — w_s = n_s^alpha,
    * p_s = w_s / Σw — so low-resource sources are upsampled relative to
    * their raw share (alpha < 1 flattens the distribution; the standard
    * multilingual-corpus trick — and the fixture's lang marginal IS skewed,
    * en ≈ 3× fr, so the flattening is visible, not vacuous). One hash
    * aggregate on the tiny lang key plus a broadcast of the 1-row totals;
    * expected_docs floors the ROUNDED probability so both engines truncate
    * the same 6dp decimal.
    *
    * Cross-engine tolerance: pow() is a libm call whose last ulp can
    * differ between engines, so p_temp's raw DOUBLE may differ by an ulp.
    * Everything downstream of that double is DECIMAL on both engines:
    * the double casts to DECIMAL(38,18) (deterministic nearest-decimal of
    * the identical bits), the 6dp round is decimal HALF_UP on both (DuckDB
    * decimal round verified half-up), and expected_docs floors the EXACT
    * decimal product p6·budget — no double multiply whose last ulp could
    * straddle an integer. The only residual divergence is the libm ulp
    * itself landing within an ulp of a .0000005 boundary, which no cast
    * can remove and the scaladoc declares.
    */
  def mixtureWeights(spark: SparkSession, dir: String,
                     alpha: Double = 0.7, epochBudget: Long = 100000L): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val counts = Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", pow(col("n_docs").cast("double"), alpha))
    val totals = counts.agg(
      sum(col("n_docs")).as("total_docs"), sum(col("w")).as("total_w"))
    val pTemp6 = round((col("w") / col("total_w")).cast(dec), 6)
    counts.crossJoin(broadcast(totals))
      .select(col("lang"), col("n_docs"),
        round((col("n_docs").cast("double") / col("total_docs")).cast(dec), 6)
          .cast("double").as("p_raw"),
        pTemp6.cast("double").as("p_temp"),
        floor(pTemp6 * epochBudget).cast("long").as("expected_docs"))
  }

  /** q95 — UNIGRAM LM QUALITY SCORE: the cheap LM-based quality filter
    * (public pipelines run a KenLM pass; reduced here to its order-0 form
    * so the oracle can replay it token for token). The corpus trains its
    * own unigram model — token → ln(count/total) — and each doc scores as
    * the tf-weighted mean log-prob of its tokens; the curation gate keeps
    * docs above `minLogProb`. Gibberish and ultra-rare-token docs score
    * low; boilerplate scores high — the two tails a quality pass trims.
    *
    * Scale shape: two linear passes. The vocab aggregate is map-side
    * combined (shuffle carries |vocab| partials); scoring joins per-doc tf
    * against the vocab ON TOKEN (inverted-index style, never a doc×vocab
    * cross) and re-aggregates per doc. The 1-row totals broadcast. The
    * keep gate compares the 6dp-ROUNDED score, so both engines gate the
    * same decimal (ulp caveat as q88/q92, documented there).
    */
  def unigramLmScore(spark: SparkSession, dir: String,
                     minLogProb: Double = -3.402): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
    val totals = vocab.agg(sum(col("cnt")).as("total"))
    val logp = vocab.crossJoin(broadcast(totals))
      .select(col("token"),
        log(col("cnt").cast("double") / col("total")).as("lp"))
    tf.join(logp, "token")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        round(sum(col("tf") * col("lp")) / sum(col("tf")), 6).as("mean_logp"))
      .withColumn("keep", col("mean_logp") >= minLogProb)
  }

  /** q96 — BM25 RETRIEVAL TOP-K: the sparse-retrieval verb a training
    * pipeline runs for decontamination lookups and hard-negative mining —
    * score candidate docs against query docs with Okapi BM25 and keep each
    * query's top k. Candidates come from the inverted-index equi-join on
    * the token (docs sharing no surviving token never meet), the q88
    * skeleton with BM25's saturating tf in place of tf-idf's linear one.
    *
    * `maxDf` prunes tokens in more than maxDf docs from BOTH sides — the
    * skew guard (bounds every join bucket at maxDf · nQueries) that BM25's
    * own idf discount makes nearly free semantically, since the dropped
    * tokens carry the lowest idf. The default leaves it off: the fixture
    * vocabulary is CLOSED (≈31 tokens, every one in most docs), so any
    * meaningful cap would empty the query — at a real corpus's Zipfian
    * vocabulary, set maxDf to the stopword knee exactly as q88 does.
    * Scores round at 4dp; ranks break ties by cand_id — the bit-stable
    * total order every top-k in the engine uses.
    */
  def bm25TopK(spark: SparkSession, dir: String, nQueries: Int = 5,
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
               maxDf: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val nDocs = Tables.rowCount(spark, dir, "documents") // the idf's N
    val tf = docs
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val lens = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
    val avgLen = lens.agg(avg(col("len")).as("avg_len"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val idf = df.select(col("token"),
      log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5)).as("idf"))
    val cand = tf.join(idf, "token")
      .join(lens, "doc_id").crossJoin(broadcast(avgLen))
      .select(col("doc_id").as("cand_id"), col("token"),
        (col("idf") * col("tf") * (lit(k1) + 1.0)
          / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("len") / col("avg_len"))))
          .as("w"))
    val qTokens = tf.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("token"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id"))
    cand.join(qTokens, "token")
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(round(sum(col("w")), 4).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("score"))
  }

  /** q130 — HARD-NEGATIVE MINING with false-negative filtering: for each
    * query doc, the top BM25 candidates that are NOT near-duplicates of
    * the query — the manifest a contrastive/embedding training pipeline
    * feeds as negatives. Mining negatives from a retriever's top ranks is
    * standard (they are the "hard" part); the classic trap is that the
    * very top of the ranking is contaminated with unlabeled POSITIVES —
    * near-duplicates and exact copies of the query — which, trained on as
    * negatives, poison the embedding space. The filter is the dedup
    * surface re-used as a mining guard: a candidate is excluded iff its
    * exact-Jaccard against the query reaches `falseNegTau` (4dp-rounded,
    * the q17 arithmetic) or its text hash-matches exactly (the q59
    * exact-arm discipline — shingle-blind short docs are still caught).
    *
    * Scale shape: the BM25 side is the audited q96 inverted-index
    * retrieval; the fuzzy gate runs QUERY-side-vs-corpus through
    * [[Dedup.jaccardPairsAcross]] (the q59 cross-sides discipline — the
    * dominant corpus×corpus quadrant is never enumerated; candidates are
    * bounded by the tiny query shingle side); the shingle relation is
    * re-derived per consumer (the q83 re-scan discipline — scans are
    * cheap, corpus-sized executor pins are not). The final anti-join and
    * re-rank touch only the (nQueries × depth)-row candidate relation.
    * Hot shingles (df > dfCap) are skipped in candidate generation with
    * the exact correction join restoring their counts — at fixture scale
    * (max df ≈ 25) a no-op, so the uncapped DuckDB oracle agrees exactly;
    * the bound is the same declared divergence q126 documents.
    */
  def hardNegatives(spark: SparkSession, dir: String, nQueries: Int = 5,
                    depth: Int = 20, kNeg: Int = 10,
                    falseNegTau: Double = 0.8, dfCap: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val isQ = col("doc_id") < nQueries
    val cands = bm25TopK(spark, dir, nQueries, depth)
    def shAll = Dedup.docShingles(docs)
    val hot = shAll.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("shingle"))
    val fuzzy = Dedup.jaccardPairsAcross(shAll.filter(isQ), shAll, hot,
        col("doc_a") =!= col("doc_b"), falseNegTau)
      .select(col("doc_a").as("query_id"), col("doc_b").as("cand_id"))
    val hashed = docs.select(col("doc_id"), TF.contentHash(col("text")).as("h"))
    val exact = hashed.filter(isQ)
      .select(col("doc_id").as("query_id"), col("h"))
      .join(hashed.select(col("doc_id").as("cand_id"), col("h")), "h")
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"))
    val falseNegs = fuzzy.unionByName(exact).distinct()
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    cands.join(falseNegs, Seq("query_id", "cand_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= kNeg)
      .select(col("query_id"), col("neg_rank"), col("cand_id"),
        col("rank").as("bm25_rank"), col("score"))
  }

  /** q99 — CORPUS DIVERSITY STATS (the data card): one row summarizing
    * what a dataset release publishes — doc/token/vocab counts plus the
    * Shannon entropies of the token and language marginals (nats, 6dp).
    * Token entropy is the corpus's unigram compressibility floor; language
    * entropy is the mixture-balance number q92's weighting moves.
    *
    * Entropy folds into ONE aggregate per marginal via the identity
    * −Σ(c/T)·ln(c/T) = ln T − (Σ c·ln c)/T: the per-token c·ln c term
    * rides the same pass that counts the vocabulary, so the whole data
    * card is one corpus explode pass + one lang pass, each ending in a
    * single-row aggregate — no second pass to divide by the total. The
    * oracle computes the IDENTICAL formula (same float path, 6dp round).
    */
  def corpusDiversityStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val vocabStats = docs.select(explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt")).as("n_tokens"), count(lit(1)).as("vocab_size"),
        sum(col("cnt") * log(col("cnt"))).as("s"))
      .select(col("n_tokens"), col("vocab_size"),
        round(log(col("n_tokens").cast("double")) - col("s") / col("n_tokens"), 6)
          .as("token_entropy"))
    val langStats = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("n_docs"), sum(col("n") * log(col("n"))).as("s2"))
      .select(col("n_docs"),
        round(log(col("n_docs").cast("double")) - col("s2") / col("n_docs"), 6)
          .as("lang_entropy"))
    langStats.crossJoin(vocabStats)
      .select(col("n_docs"), col("n_tokens"), col("vocab_size"),
        col("token_entropy"), col("lang_entropy"))
  }

  /** The q103 cascade's stage names, in gate order (also the funnel's row
    * order). Declared once so engine, oracle, and spec agree on the
    * stage → index mapping. */
  val cascadeStages: Seq[String] =
    Seq("min_tokens", "alpha_ratio", "quality", "lang_agree", "repetition")

  /** q103 — FILTER-CASCADE ATTRITION FUNNEL: the report every curation
    * pipeline publishes — an ordered chain of quality gates, with per-stage
    * docs-in / docs-kept / docs-dropped counts showing where the corpus
    * attrites. Stages ([[cascadeStages]]): token-count floor, alpha-ratio
    * floor, composite quality floor, language-ID agreement, repetition cap
    * — each an oracle-proven per-row predicate (q25/q44/q26/q89 gates),
    * each compared on the 6dp-ROUNDED value where floats are involved so
    * both engines gate the same decimal.
    *
    * One corpus scan computes every doc's FIRST FAILING stage index (n if
    * it survives all gates) — evaluating all predicates per row costs the
    * same scan the first gate alone would — then a ≤(n+1)-row count
    * relation fans out against the n-row stage table to produce the
    * funnel. No second pass per stage: at 100 TB the naive
    * "count after each filter" is n full scans; this is one.
    */
  /** The cascade's gate predicates over a (doc_id, lang, text, sh)
    * projection — declared ONCE and shared by the attrition funnel (q103)
    * and the corpus-release pipeline (q179), so the two can never drift
    * on what "passes curation" means. Ordered like [[cascadeStages]]. */
  private[graft] def cascadePreds: Seq[(String, org.apache.spark.sql.Column)] = {
    val dupFrac = when(size(col("sh")) > 0,
      round((size(col("sh")) - size(array_distinct(col("sh")))).cast("double")
        / size(col("sh")).cast("double"), 6)).otherwise(lit(0.0))
    Seq(
      "min_tokens" -> (TF.nTokens(col("text")) >= 5),
      "alpha_ratio" -> (round(TF.alphaRatio(col("text")), 6) >= 0.5),
      "quality" -> (TF.qualityScore(col("text")) >= 0.5),
      "lang_agree" -> (TF.langId(col("text")) === col("lang")),
      "repetition" -> (dupFrac <= 0.2))
  }

  /** The (doc_id, lang, text, sh) projection [[cascadePreds]] evaluates
    * over — the shingle array materialized once (q89 discipline). */
  private[graft] def cascadeBase(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"),
        TF.shingles(col("text"), 3).as("sh"))

  def filterCascade(spark: SparkSession, dir: String): DataFrame = {
    val base = cascadeBase(spark, dir)
    val preds = cascadePreds
    require(preds.map(_._1) == cascadeStages, "stage table drifted from predicates")
    val n = preds.size
    val firstFail = preds.zipWithIndex.foldRight(lit(n)) {
      case (((_, p), i), acc) => when(!p, lit(i)).otherwise(acc)
    }
    val ffCounts = base.select(firstFail.as("ff"))
      .groupBy(col("ff")).agg(count(lit(1)).as("cnt"))
    import spark.implicits._
    val stages = cascadeStages.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("stage_idx", "stage")
    stages.crossJoin(ffCounts)
      .groupBy(col("stage_idx"), col("stage"))
      .agg(
        sum(when(col("ff") >= col("stage_idx"), col("cnt")).otherwise(lit(0L))).as("n_in"),
        sum(when(col("ff") > col("stage_idx"), col("cnt")).otherwise(lit(0L))).as("n_kept"))
      .withColumn("n_dropped", col("n_in") - col("n_kept"))
  }

  /** P22 [EXT] — GATE ABLATION TABLE: q103's funnel charges each dropped
    * doc to its FIRST failing gate, which understates every later gate
    * (a doc failing min_tokens AND quality counts only against
    * min_tokens). This is the order-free attribution: per gate, the docs
    * failing it AT ALL (marginal — what you'd lose if it were the only
    * gate) and the docs failing ONLY it (unique contribution — what
    * relaxing just that gate would recover). Marginal ≥ funnel-attributed
    * always; unique ≤ both. The two tables together are how a curation
    * team actually tunes a cascade. Predicates are [[cascadePreds]]
    * VERBATIM (the q179 sharing), so the three consumers cannot drift.
    *
    * Scale: ONE corpus scan evaluates all five predicates per row (the
    * q103 argument); the rollup is a 5-row fan-out of per-row booleans —
    * no second pass per gate.
    */
  def gateAblation(spark: SparkSession, dir: String): DataFrame = {
    val base = cascadeBase(spark, dir)
    val preds = cascadePreds
    val flags = base.select(preds.zipWithIndex.map {
      case ((_, p), i) => (!p).cast("long").as(s"f$i")
    }: _*)
    val nFails = preds.indices.map(i => col(s"f$i")).reduce(_ + _)
    val counts = flags.withColumn("nf", nFails).agg(
      count(lit(1)).as("n_docs"),
      (preds.indices.map { i =>
        Seq(sum(col(s"f$i")).as(s"m$i"),
          sum(when(col(s"f$i") === 1 && col("nf") === 1, 1L).otherwise(0L))
            .as(s"u$i"))
      }.flatten :+ sum(when(col("nf") > 0, 1L).otherwise(0L)).as("any_fail")): _*)
    // one row per gate EXPLODED from the single aggregate row — the
    // former per-gate `counts.select(...)` union re-executed the full
    // five-predicate corpus aggregate once per gate (no exchange reuse
    // across Union branches; measured 5 scan+aggregate subtrees)
    counts.select(explode(array(preds.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(i.toLong).as("stage_idx"), lit(name).as("stage"),
        col("n_docs"), col("any_fail").as("n_fail_any"),
        col(s"m$i").as("n_fail_marginal"), col(s"u$i").as("n_fail_only"))
    }: _*)).as("s")).select(col("s.*"))
  }

  /** q106 — BPE MERGE CANDIDATES: the first step of byte-pair-encoding
    * tokenizer training — count every adjacent token pair in the corpus and
    * rank the top merge candidates — plus each pair's PMI (pointwise mutual
    * information, ln(p(ab) / p(a)p(b))), the collocation score that
    * separates genuinely associated pairs from pairs that are frequent only
    * because their parts are. Adjacent pairs are 2-shingles, so the
    * candidate relation is the same explode + map-side-combined hash agg as
    * q28, bounded by the PAIR vocabulary (≪ corpus size); the top-k cut is
    * a TakeOrdered (k rows per partition, k at the driver — no global
    * sort), and unigram counts join the k survivors by token. Counts are
    * exact; PMI rounds at 6dp (ln is the q92 libm-ulp caveat).
    */
  def bpeMergeCandidates(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val uni = docs.select(explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val pairCnt = docs.select(explode(TF.shingles(col("text"), 2)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
    val totals = uni.agg(sum(col("c")).as("n_tok"))
      .crossJoin(pairCnt.agg(sum(col("cnt")).as("n_pairs")))
    val top = pairCnt.orderBy(col("cnt").desc, col("pair")).limit(k)
    top
      // tokens are whitespace-split, so the pair splits back unambiguously
      .withColumn("a", element_at(split(col("pair"), " "), 1))
      .withColumn("b", element_at(split(col("pair"), " "), 2))
      .join(uni.select(col("token").as("a"), col("c").as("ca")), "a")
      .join(uni.select(col("token").as("b"), col("c").as("cb")), "b")
      .crossJoin(broadcast(totals))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("pair"))).cast("long"))
      .select(col("rank"), col("pair"), col("cnt"),
        round(log((col("cnt").cast("double") / col("n_pairs"))
          / ((col("ca").cast("double") / col("n_tok"))
            * (col("cb").cast("double") / col("n_tok")))), 6).as("pmi"))
  }

  /** q132 — BPE MERGE APPLICATION (segmentation): close q106's train→apply
    * loop by applying the learned top-k merge table to the corpus — one
    * greedy round in merge-rank order, the standard BPE-encode discipline
    * at the trainer's own granularity (q106 ranks ADJACENT-TOKEN pairs, so
    * application merges adjacent tokens into pieces): for each rank, every
    * left-to-right adjacent occurrence of that pair whose BOTH positions
    * are still unclaimed becomes one piece; lower rank wins overlaps
    * ("a b" at rank 1 beats "b c" at rank 2 on "a b c" — the exact
    * priority rule BPE encoders implement). Merged pieces cannot chain
    * because the single-shot table keys only original-token pairs — the
    * apply round mirrors what the trainer actually learned.
    *
    * Per-row imperative logic with no Catalyst equivalent, so this is the
    * documented escape hatch (SURVEY §2 map: typed map > UDF): a typed
    * Dataset map over (doc_id, text) with the k-row merge table collected
    * once (bounded driver state, the J4 codebook discipline) and broadcast.
    * Scale: one corpus scan, zero shuffles, output partitioning inherits
    * the scan's; the greedy loop is O(k · tokens) per row with k fixed.
    *
    * Conservation is structural: every piece covers ≥1 token, every token
    * lands in exactly one piece, so n_pieces + n_applied = n_tokens —
    * the registered invariant aggregate (q34 discipline) pins it corpus-
    * wide alongside DuckDB-recomputed doc/token totals; the spec pins the
    * greedy semantics on planted overlap cases and a fixture recompute. */
  def bpeApplySegments(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val merges = bpeMergeCandidates(spark, dir, k)
      .select(col("pair"), col("rank"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    bpeApplySegmentsFor(spark, Tables.documents(spark, dir), merges)
  }

  /** q132's registered invariant row (q34 discipline): DuckDB-recomputable
    * doc/token totals plus the conservation counter pinned at zero. */
  def bpeApplyInvariant(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    bpeApplySegments(spark, dir, k).agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(col("n_tokens")).as("total_tokens"),
      sum(when(col("n_pieces") + col("n_applied") =!= col("n_tokens"), 1L)
        .otherwise(0L)).as("conservation_violations"))

  /** The apply core against an explicit ranked merge table (rank 1 =
    * highest priority). Returns (doc_id, n_tokens, n_pieces, n_applied). */
  def bpeApplySegmentsFor(spark: SparkSession, docs: DataFrame,
                          merges: Array[(String, Long)]): DataFrame = {
    import spark.implicits._
    val ranked = merges.sortBy(_._2).map { case (p, _) =>
      // split at the FIRST space: either side may legitimately be the
      // empty string (split(' ', -1) keeps empties, so the trainer's
      // 2-shingles can carry them); only a spaceless pair is malformed
      val i = p.indexOf(' ')
      require(i >= 0, s"merge pair must be space-joined tokens: '$p'")
      (p.substring(0, i), p.substring(i + 1))
    }
    val bc = spark.sparkContext.broadcast(ranked)
    val segmented = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val toks = text.split(" ", -1)
        val claimed = new Array[Boolean](toks.length)
        var applied = 0
        for ((a, b) <- bc.value) {
          var i = 0
          while (i < toks.length - 1) {
            if (!claimed(i) && !claimed(i + 1) && toks(i) == a && toks(i + 1) == b) {
              claimed(i) = true; claimed(i + 1) = true; applied += 1
              i += 2 // left-to-right, non-overlapping within the rank
            } else i += 1
          }
        }
        (id, toks.length.toLong, (toks.length - applied).toLong, applied.toLong)
      }
      .toDF("doc_id", "n_tokens", "n_pieces", "n_applied")
    // materialize through the scratch spill so the broadcast's lifetime
    // is THIS call, not the returned plan's: a lazily-returned map over
    // `bc` would pin the merge table on every executor until the plan is
    // GC'd (the ContextCleaner's best-effort schedule). The spill is the
    // narrow per-doc profile — one write, and the destroy is deterministic.
    val out = graft.sources.Sources.spillScratch(segmented, "bpe_apply")
    bc.destroy()
    out
  }

  /** q107 — DOCUMENT CHUNKING: split every document's token stream into
    * overlapping fixed-width windows (size `window`, step `stride`) — the
    * step that turns curated documents into model-ready training sequences
    * when packing (q84) isn't wanted because each example must stay
    * self-contained. Chunk starts are 0, stride, 2·stride, … while the
    * start is inside the doc; the final chunk is allowed to be short.
    *
    * Pure map-side fan-out: one `sequence` + `posexplode` per row, the
    * chunk text an in-row `slice`/`array_join` — no shuffle anywhere, so
    * at 100 TB this streams through the corpus scan at I/O speed and the
    * output partitioning inherits the input's.
    */
  def docChunking(spark: SparkSession, dir: String,
                  window: Int = 32, stride: Int = 24): DataFrame = {
    require(window >= 1 && stride >= 1, s"bad chunk geometry: $window/$stride")
    Tables.documents(spark, dir)
      .select(col("doc_id"), TF.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"), col("t"),
        posexplode(sequence(lit(0), size(col("t")) - 1, lit(stride))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        array_join(slice(col("t"), col("col") + 1, lit(window)), " ")
          .as("chunk_text"),
        least(lit(window), size(col("t")) - col("col")).cast("long")
          .as("n_chunk_tokens"))
  }

  /** q138 — PER-SOURCE SCORECARD: the one-table answer to "which ingest
    * source is hurting the corpus" — per source: volume (docs, tokens,
    * mean tokens/doc), exact-duplication exposure (fraction of the
    * source's docs whose text also appears elsewhere in the CORPUS — a
    * corpus-wide hash count, not per-source, so a source that mirrors
    * another's content scores high even if internally unique), and
    * language balance (Shannon entropy of the source's lang marginal,
    * the q99 identity per source). The artifact a curation run publishes
    * next to the data card; sources rank by it for exclusion or
    * re-weighting decisions.
    *
    * Scale shape: one corpus pass builds the (hash → count) relation
    * (map-side-combined, joined back on its own key — the q16 exact-dedup
    * shape); tokens come from one in-row size(); the lang-entropy agg
    * runs over the |source × lang| relation; everything downstream of
    * the scans keys on the tiny source key. Deterministic double math,
    * 6dp rounds — fully oracle-checked. */
  def sourceScorecard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        TF.contentHash(col("text")).as("h"),
        size(TF.tokens(col("text"))).cast("long").as("n_tokens"))
    val hashCounts = docs.groupBy(col("h")).agg(count(lit(1)).as("hc"))
    val flagged = docs.join(hashCounts, "h")
      .withColumn("dup", (col("hc") > 1L).cast("long"))
    val volume = flagged.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("total_tokens"),
      round(avg(col("n_tokens")), 6).as("avg_tokens"),
      round(avg(col("dup").cast("double")), 6).as("dup_frac"))
    // −Σ(c/T)·ln(c/T) = ln T − (Σ c·ln c)/T — the q99 one-pass identity,
    // per source
    val langEntropy = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(round(log(sum(col("c")).cast("double"))
        - sum(col("c") * log(col("c"))) / sum(col("c")), 6).as("lang_entropy"))
    volume.join(langEntropy, "source")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("avg_tokens"), col("dup_frac"), col("lang_entropy"))
  }

  /** q135 — TOKEN-DISTRIBUTION DRIFT between corpus snapshots: the
    * distribution-level sibling of q100's row-level snapshot diff — when
    * an ingest version lands, the question is not only WHICH docs changed
    * but whether the TOKEN MARGINAL the model trains on moved. Reports
    * the Jensen–Shannon divergence between the two snapshots' unigram
    * distributions (symmetric, bounded by ln 2, defined even where one
    * side has zero mass — the reason it, not KL, is the drift monitor's
    * metric) and the top-k tokens by absolute probability delta: the
    * "what drove the drift" list a pipeline alert attaches. Snapshot
    * membership is the q91/q100 modulo discipline (v1 = doc_id % 5 ≠ 0,
    * v2 = doc_id % 3 ≠ 0 — overlapping but different corpora).
    *
    * JS(p,q) = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m), m = (p+q)/2, with the
    * 0·ln 0 = 0 convention carried by a full-outer join + coalesce(0) —
    * every arithmetic step is deterministic double math both engines
    * replicate; ranks order by the 6dp-ROUNDED delta then token (the
    * bit-stable total order), so the oracle compares exactly.
    *
    * Scale shape: each marginal is one explode + map-side-combined hash
    * agg into a vocab-sized relation; the join/divergence/top-k all run
    * over vocab rows, never corpus rows; the two scalar totals broadcast.
    * The JS scalar rides every output row (a 1-row cross join) so the
    * report is one self-contained relation. */
  def tokenDriftReport(spark: SparkSession, dir: String,
                       k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    def marginal(pred: org.apache.spark.sql.Column) = docs.filter(pred)
      .select(explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val v1 = marginal(col("doc_id") % 5 =!= 0)
    val v2 = marginal(col("doc_id") % 3 =!= 0)
    val t1 = v1.agg(sum(col("c")).as("n1"))
    val t2 = v2.agg(sum(col("c")).as("n2"))
    val joined = v1.withColumnRenamed("c", "c1")
      .join(v2.withColumnRenamed("c", "c2"), Seq("token"), "full_outer")
      .crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
      .select(col("token"),
        (coalesce(col("c1"), lit(0L)).cast("double") / col("n1")).as("p1"),
        (coalesce(col("c2"), lit(0L)).cast("double") / col("n2")).as("p2"))
      .withColumn("m", (col("p1") + col("p2")) / 2.0)
    val js = joined.agg(
      TF.jsDivergenceAgg(col("p1"), col("p2"), col("m")).as("js_divergence"))
    val w = Window.orderBy(col("abs_delta").desc, col("token"))
    joined
      .withColumn("abs_delta", round(abs(col("p1") - col("p2")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .crossJoin(broadcast(js))
      .select(col("rank"), col("token"), round(col("p1"), 6).as("p1"),
        round(col("p2"), 6).as("p2"), col("abs_delta"), col("js_divergence"))
  }

  /** A35 [EXT] — POPULATION STABILITY INDEX (PSI) DRIFT AUDIT: the scalar
    * production-monitoring gate — PSI = Σ (pᵢ − qᵢ)·ln(pᵢ/qᵢ) over a
    * feature's buckets between a reference and a current snapshot, with
    * the industry decision bands (< 0.1 stable, < 0.25 moderate, else
    * major). Complements the drift family at its third grain: A18 (q135)
    * watches the TOKEN distribution, A21 (q143) the embedding GEOMETRY;
    * PSI is the one-number-per-feature answer "can the serving/mix config
    * stay" that a pipeline pages on. Two features audited here: the lang
    * mix and the length profile (fixed 100-char buckets capped at 10 —
    * deterministic, engine-identical integer arithmetic). Snapshots are
    * the q135 overlapping modulo splits (ref = doc_id % 5 ≠ 0, cur =
    * doc_id % 3 ≠ 0). Laplace (+1 per bucket) smoothing keeps ln finite
    * on one-sided buckets — the standard PSI practice, and deterministic.
    * ln carries the documented q92 libm-ulp caveat; 6dp rounding absorbs
    * hash-agg term order (≤ 21 terms).
    *
    * Scale: ONE corpus scan (both features explode from the same
    * projection, both snapshot counts are conditional sums in the same
    * map-side-combined agg — overlapping splits never scan twice); PSI
    * and bands compute on the \|feature × bucket\|-sized relation.
    */
  def psiDriftAudit(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), explode(array(
      struct(lit("lang").as("feature"), col("lang").as("bucket")),
      struct(lit("len_bucket").as("feature"),
        least(floor(length(col("text")) / 100.0), lit(10.0))
          .cast("long").cast("string").as("bucket")))).as("fb"))
      .select(col("doc_id"), col("fb.feature"), col("fb.bucket"))
    val counts = d.groupBy(col("feature"), col("bucket")).agg(
      sum(when(col("doc_id") % 5 =!= 0, 1L).otherwise(0L)).as("ca"),
      sum(when(col("doc_id") % 3 =!= 0, 1L).otherwise(0L)).as("cb"))
    val totals = counts.groupBy(col("feature")).agg(
      sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      count(lit(1)).as("n_buckets"))
    counts.join(totals, "feature")
      .withColumn("pa", (col("ca") + 1.0) / (col("na") + col("n_buckets")))
      .withColumn("pb", (col("cb") + 1.0) / (col("nb") + col("n_buckets")))
      .groupBy(col("feature"))
      .agg(first(col("n_buckets")).as("n_buckets"),
        first(col("na")).as("n_ref"), first(col("nb")).as("n_cur"),
        round(sum((col("pa") - col("pb")) * log(col("pa") / col("pb"))), 6).as("psi"))
      .withColumn("band",
        when(col("psi") < 0.1, "stable")
          .when(col("psi") < 0.25, "moderate").otherwise("major"))
      .select(col("feature"), col("n_buckets"), col("n_ref"), col("n_cur"),
        col("psi"), col("band"))
  }

  /** q134 — CONTENT-DEFINED CHUNKING: split each doc at token positions
    * chosen by the TOKEN CONTENT itself — a cut after every token whose
    * seeded hash lands in a 1/16 band (first md5 hex digit '0'), giving
    * ~16-token expected chunks — the Karp–Rabin/CDC discipline backup
    * systems (LBFS, FastCDC) use for shift-robust dedup. q107's fixed
    * windows misalign wholesale after one inserted token (every later
    * chunk's content shifts by one), so chunk-level dedup misses every
    * repeated passage that doesn't share the window phase; content-defined
    * boundaries re-synchronize within one expected chunk length, so a
    * passage pasted into a different position of a different doc yields
    * IDENTICAL chunk hashes after the first resynchronizing cut — the
    * property that makes chunk-hash dedup (D17's passage dedup at
    * variable grain) work on edited text. Spec pins exactly this:
    * prepending one token changes only the first chunk region's hashes.
    *
    * Entirely in-row (the q107 discipline): cut positions via a
    * filter(sequence) over the token array, chunk geometry via zip_with,
    * one posexplode — no shuffle, no window; the corpus streams through
    * the scan at I/O speed and output partitioning inherits the input's.
    * The hash band is compared on the md5 HEX PREFIX (no integer
    * conversion), the same engine-independent trick the D11 rank uses —
    * DuckDB computes the identical cut set, so the full per-chunk
    * relation (ids, sizes, content hashes) is oracle-checked exactly. */
  def contentDefinedChunks(spark: SparkSession, dir: String,
                           seed: Long = 42L): DataFrame =
    contentDefinedChunksFor(Tables.documents(spark, dir), seed)

  /** The chunking core over any (doc_id, text) relation. */
  def contentDefinedChunksFor(docs: DataFrame, seed: Long = 42L): DataFrame = {
    val toks = TF.tokens(col("text"))
    val isCut = (t: org.apache.spark.sql.Column) =>
      substring(md5(concat(t, lit(s":$seed"))), 1, 1) === "0"
    // The cut set (an md5 per token — the dominant cost) is referenced
    // twice by the geometry (starts and ends); written as a plain column,
    // CollapseProject inlines the expression per reference and the md5
    // pass runs ~3x per row. Wrapping it as the 1-element array argument
    // of a transform makes every use a LAMBDA-VARIABLE reference, so the
    // hash pass is evaluated exactly once per row.
    docs
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 1)
      .withColumn("geom",
        flatten(transform(
          array(filter(sequence(lit(1), size(col("t"))),
            i => isCut(element_at(col("t"), i)))),
          cuts => filter(
            zip_with(
              concat(array(lit(1)), transform(cuts, c => c + 1)),
              concat(cuts, array(size(col("t")))),
              (s, e) => struct(s.as("s"), e.as("e"))),
            p => p("s") <= p("e")))))
      // posexplode_outer: the non-outer Generate plants a pre-filter
      // (size > 0 AND isnotnull) that re-evaluates the whole geometry —
      // and with it the hash pass — per conjunct; geom is never
      // empty/null for a non-empty token array, so outer is row-for-row
      // identical and the plan keeps exactly ONE geometry evaluation
      .select(col("doc_id"), col("t"), posexplode_outer(col("geom")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        (col("col")("e") - col("col")("s") + 1).cast("long").as("n_tokens"),
        md5(array_join(
          slice(col("t"), col("col")("s"), col("col")("e") - col("col")("s") + 1),
          " ")).as("chunk_hash"))
  }

  /** q144 — PACKING-EFFICIENCY AUDIT: the decision table for how to lay
    * documents into fixed-length training sequences — for a given context
    * length, the capacity/used/waste numbers of the three layouts the
    * engine implements, computed on the ACTUAL corpus:
    *   - `truncate`: one doc per sequence, overflow cut (the simplest
    *     loader) — capacity = n_docs·ctx, used = Σ min(n_tokens, ctx);
    *     waste counts BOTH padding and the truncated-away overflow;
    *   - `pack` (q84's concat-and-chunk): every token placed, capacity =
    *     ⌈Σ n_tokens / ctx⌉·ctx — waste is only the final partial block;
    *   - `chunk` (q107 at stride = window = ctx): docs split to
    *     self-contained sequences, capacity = Σ ⌈n_tokens / ctx⌉·ctx —
    *     waste is each doc's final short chunk.
    * waste_frac = 1 − used/capacity, 6dp. The table quantifies the real
    * trade (pack wastes ~0, chunk pays per-doc tails for self-
    * containment, truncate pays both tails and lost text) so the choice
    * is made on corpus numbers, not folklore.
    *
    * Scale shape: ONE corpus pass computes per-doc token counts; each
    * strategy row is an aggregate over that tiny projection (integer
    * arithmetic until the final division) — three rows out. */
  def packingEfficiencyAudit(spark: SparkSession, dir: String,
                             contextLen: Long = 256L): DataFrame =
    packingEfficiencyFor(
      Tables.documents(spark, dir)
        .select(TF.nTokens(col("text")).cast("long").as("n")),
      contextLen)

  /** The three-strategy capacity/waste table over a (n) token-count
    * relation — shared by q144 (one context length) and the q188 sweep
    * (many lengths over one spilled relation). */
  private[graft] def packingEfficiencyFor(n: DataFrame,
                                          contextLen: Long): DataFrame = {
    def idiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("div", a, b)
    def ceilDiv(a: org.apache.spark.sql.Column, b: Long) =
      idiv(a + (b - 1), lit(b))
    val ctx = lit(contextLen)
    def row(strategy: String, nSeq: org.apache.spark.sql.Column,
            used: org.apache.spark.sql.Column) =
      n.agg(nSeq.as("n_sequences"), used.as("used_tokens"))
        .select(lit(strategy).as("strategy"), col("n_sequences"),
          (col("n_sequences") * contextLen).as("capacity_tokens"),
          col("used_tokens"),
          round(lit(1.0) - col("used_tokens").cast("double")
            / (col("n_sequences") * contextLen).cast("double"), 6)
            .as("waste_frac"))
    row("truncate", count(lit(1)), sum(least(col("n"), ctx)))
      .unionByName(row("pack", ceilDiv(sum(col("n")), contextLen), sum(col("n"))))
      .unionByName(row("chunk", sum(ceilDiv(col("n"), contextLen)), sum(col("n"))))
  }

  /** G7 [EXT] — CONTEXT-LENGTH PACKING SWEEP: q144's decision table swept
    * over candidate context lengths — the "which context length do we
    * train at" knob priced on the actual corpus, the packing-side
    * companion of the q181 threshold curve and the q165/q178/q180
    * governance sweeps: one pass computes the per-doc token counts, every
    * (context, strategy) cell is an aggregate over that spilled
    * projection. Truncate's lost-text waste FALLS with context while pack
    * and chunk's tail waste RISES — the crossover this table locates is
    * exactly the number folklore guesses.
    */
  def packingContextSweep(spark: SparkSession, dir: String,
                          ctxs: Seq[Long] = Seq(128L, 256L, 512L, 1024L)): DataFrame = {
    require(ctxs.nonEmpty && ctxs.forall(_ >= 1), s"need ctxs >= 1; got $ctxs")
    val n = graft.sources.Sources.spillScratch(
      Tables.documents(spark, dir)
        .select(TF.nTokens(col("text")).cast("long").as("n")),
      "ctx_sweep_n")
    ctxs.sorted.map { c =>
      packingEfficiencyFor(n, c)
        .select(lit(c).as("context_len"), col("strategy"), col("n_sequences"),
          col("capacity_tokens"), col("used_tokens"), col("waste_frac"))
    }.reduce(_.unionByName(_))
  }

  /** q108 — VOCABULARY COVERAGE / OOV RATE: fix the tokenizer's
    * vocabulary to the corpus's top-`vocabSize` tokens (count desc, token
    * asc — the deterministic cut), then report, per language, how much of
    * the text falls outside it: the per-doc average OOV fraction and the
    * pooled token-level OOV rate. The coverage audit run before committing
    * to a tokenizer.
    *
    * The vocab cut is a TakeOrdered (k per partition, k at the driver —
    * no global sort) and joins back BROADCAST, so the corpus-side pass is
    * one explode + two hash aggs; tokenize is recomputed rather than
    * pinned (the q83 footprint discipline).
    */
  def oovRate(spark: SparkSession, dir: String, vocabSize: Int = 10): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(TF.tokens(col("text"))).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(vocabSize)
      .select(col("token"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_oov").cast("double") / col("n_tokens")), 6)
          .as("avg_doc_oov"),
        round(sum(col("n_oov")).cast("double") / sum(col("n_tokens")), 6)
          .as("token_oov_rate"))
  }

  /** q109 — TOKEN-BUDGET CORPUS SELECTION: the greedy "best docs first"
    * cut — order the corpus by (quality desc, doc_id), take documents
    * while the running token total stays within `budget`. The selection
    * verb behind "train on the best N-token subset of the crawl".
    *
    * The running total is the q84/q86 two-level prefix sum, but ordered
    * by VALUE, so the blocks are value ranges: block = floor(quality·1e3)
    * (quality is 6dp-rounded in [0,1], so ≤1001 blocks — a broadcast-able
    * relation whose prefix sums give each block's starting offset), and
    * the in-block window partitions by block. No single-task global
    * window; the block key is a prefix of the sort key, so block-major +
    * in-block order IS the global (quality desc, doc_id) order.
    */
  def tokenBudgetSelection(spark: SparkSession, dir: String,
                           budget: Long = 8000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TF.qualityScore(col("text")).as("quality"),
        TF.nTokens(col("text")).cast("long").as("n_tokens"))
      .withColumn("block", floor(col("quality") * 1000).cast("long"))
    // tiny relation: ≤1001 rows, one per occupied quality block
    val blockPrefix = docs.groupBy(col("block"))
      .agg(sum(col("n_tokens")).as("block_total"))
      .withColumn("block_prefix",
        coalesce(sum(col("block_total")).over(
          Window.orderBy(col("block").desc).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("block"), col("block_prefix"))
    val inBlock = Window.partitionBy(col("block"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    docs
      .withColumn("within", sum(col("n_tokens")).over(inBlock))
      .join(broadcast(blockPrefix), "block")
      .withColumn("cum_tokens", col("block_prefix") + col("within"))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("quality"), col("n_tokens"), col("cum_tokens"))
  }

  /** q110 — BIGRAM LM SCORING: per-document mean log conditional
    * probability under an add-k-smoothed bigram model fit on the corpus
    * itself — ln((c(ab)+k) / (c(a)+k·|V|)) averaged over the doc's
    * adjacent pairs. The sequel to q95's unigram score: fluency rather
    * than vocabulary typicality, the cheap stand-in for the perplexity
    * filter a curation pipeline runs with a real LM.
    *
    * Pair counts are the q106 relation (explode + map-side-combined hash
    * agg, bounded by the pair vocabulary); the per-pair log-prob relation
    * is vocabulary-sized and joins the per-doc pair counts on the pair
    * key. Docs with fewer than two tokens have no bigrams and drop out.
    * 6dp round; ln carries the documented q92 libm-ulp caveat.
    */
  def bigramLmScore(spark: SparkSession, dir: String, k: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val docPairs = docs
      .select(col("doc_id"), explode(TF.shingles(col("text"), 2)).as("pair"))
      .groupBy(col("doc_id"), col("pair")).agg(count(lit(1)).as("n"))
    val uni = docs.select(explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("ca"))
    val pairCnt = docPairs.groupBy(col("pair")).agg(sum(col("n")).as("cab"))
    val vSize = uni.agg(count(lit(1)).as("v"))
    // tokens never contain spaces, so the pair splits back unambiguously
    val logp = pairCnt
      .withColumn("token", element_at(split(col("pair"), " "), 1))
      .join(uni, "token")
      .crossJoin(broadcast(vSize))
      .select(col("pair"),
        log((col("cab") + k) / (col("ca") + col("v") * k)).as("lp"))
    docPairs.join(logp, "pair")
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_pairs"),
        round(sum(col("n") * col("lp")) / sum(col("n")), 6).as("mean_logp"))
  }

  /** q112 — N-GRAM NOVELTY SCORING: score each candidate document by how
    * much of it is NOT already in a reference corpus — the per-doc
    * continuous form of decontamination (D8 filters; this reports). The
    * reference slice here is the even-doc_id half (a deterministic stand-in
    * for "the previous crawl"); a candidate's novelty is the fraction of
    * its DISTINCT n-gram shingles absent from the reference's shingle set.
    *
    * Candidates meet the reference through a shingle EQUI-JOIN against the
    * distinct reference shingles (inverted-index style — the reference set
    * is never broadcast or collected, so a 100 TB reference corpus works),
    * then one hash agg per doc. Docs with fewer than n tokens have no
    * shingles and drop out.
    */
  def ngramNovelty(spark: SparkSession, dir: String, n: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ref = docs.filter(col("doc_id") % 2 === 0)
      .select(explode(TF.shingles(col("text"), n)).as("sh"))
      .distinct()
      .withColumn("seen", lit(1))
    val cand = docs.filter(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"), explode(TF.shingles(col("text"), n)).as("sh"))
      .distinct()
    cand.join(ref, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 0L).otherwise(1L)).as("n_seen"))
      .withColumn("novelty",
        round(lit(1.0) - col("n_seen").cast("double") / col("n_shingles"), 6))
  }

  /** q114 — PER-SOURCE BOILERPLATE DETECTION: surface the shingles that
    * repeat across many documents OF THE SAME SOURCE — navigation chrome,
    * license headers, template text — the candidates a C4-style cleaning
    * pass strips before near-dup analysis (cross-doc repetition inside a
    * source is boilerplate; across sources it's just language). A shingle
    * qualifies when its within-source document frequency fraction clears
    * `minFrac`; each source reports its top-`k` by (df desc, shingle).
    *
    * One distinct (source, doc, shingle) explode → a (source, shingle)
    * hash agg bounded by the per-source shingle vocabulary → broadcast of
    * the |sources|-row doc-count relation → a window partitioned by
    * source over only the QUALIFYING shingles (the minFrac filter runs
    * before the rank, so the window never sees the full vocabulary).
    */
  def boilerplateShingles(spark: SparkSession, dir: String, n: Int = 3,
                          minFrac: Double = 0.08, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(TF.shingles(col("text"), n)).as("sh"))
      .distinct()
    val nd = sh.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    val df = sh.groupBy(col("source"), col("sh")).agg(count(lit(1)).as("df"))
    df.join(broadcast(nd), "source")
      .withColumn("df_frac", round(col("df").cast("double") / col("n_docs"), 6))
      .filter(col("df_frac") >= minFrac && col("df") >= 2)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("df").desc, col("sh"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("source"), col("rank"), col("sh"), col("df"), col("df_frac"))
  }

  /** The q120 fixture plant: the corpus is ASCII, so denormalized unicode
    * is planted per doc_id (the q85 discipline — a deterministic
    * expression both engines evaluate): NFD café (e + combining acute) on
    * doc_id % 3, NFD Å (A + combining ring) on doc_id % 5. */
  val plantedDenormText: org.apache.spark.sql.Column =
    concat(col("text"),
      when(col("doc_id") % 3 === 0, lit(" cafe\u0301")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit(" A\u030A")).otherwise(lit("")))

  /** q120 — UNICODE NFC NORMALIZATION: the first cleaning pass a
    * multilingual pipeline runs — decomposed accents and compatibility
    * forms collapse to one canonical byte sequence, so exact dedup
    * (sha-256 of text) and shingle hashing see ONE representation of the
    * same string. Runs through the native `nfc_normalize` expression
    * (one codegen node, isNormalized fast path — an already-clean row
    * costs a scan and zero allocation); DuckDB's function of the same
    * name replays the identical computation, so the oracle compares the
    * normalized TEXT byte for byte, not just counts. Emits per-doc
    * before/after codepoint counts and the changed flag.
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), plantedDenormText.as("raw"))
      .select(col("doc_id"), col("raw"),
        length(col("raw")).cast("long").as("n_chars_raw"),
        TF.nfcNormalize(col("raw")).as("text_nfc"))
      .select(col("doc_id"), col("n_chars_raw"), col("text_nfc"),
        length(col("text_nfc")).cast("long").as("n_chars_nfc"),
        (col("text_nfc") =!= col("raw")).as("changed"))

  /** q45 — J2 label-vector assembly (reference: the 5-column label matrix
    * bolted onto image paths, /root/reference/src/federated_learning_pipeline.py:29-33,
    * 61-68): an in-row array() projection, no join needed, emitted in
    * exploded (doc_id, dim, label) form so the oracle comparison is
    * layout-independent.
    */
  def labelVectors(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(array(
          (col("lang") === "en").cast("double"),
          (col("source") === "web").cast("double"),
          (TF.nTokens(col("text")) > 100).cast("double"),
          (TF.qualityScore(col("text")) >= 0.5).cast("double"),
          (col("doc_id") % 2 === 0).cast("double"))))
      .toDF("doc_id", "dim", "label")
      .select(col("doc_id"), col("dim").cast("long").as("dim"), col("label"))

  /** q122 — PMI COLLOCATIONS: the top-`topK` adjacent token pairs by
    * pointwise mutual information, the classic collocation detector — the
    * pairs that co-occur far above chance are the corpus's multi-word
    * units ("new york"), and a PMI table is the standard first step of a
    * phrase-merging tokenizer pass. PMI is computed over the bigram
    * relation itself: p(a,b) = c(ab)/N against the bigram-table marginals
    * c(a·) (a as left) and c(·b) (b as right), so
    * pmi = ln(c(ab)·N / (c(a·)·c(·b))); pairs below `minCount` are noise
    * and cut before scoring.
    *
    * Scale shape: ONE corpus pass builds the pair-count relation (the q106
    * explode + map-side-combined hash agg, bounded by pair vocabulary);
    * both marginals and N are re-aggregations of THAT relation, never a
    * second corpus scan. The numerator product is computed in double —
    * c(ab)·N overflows long at corpus scale (1e13 bigrams squared). The
    * final cut is a TakeOrdered (k per partition, k at the driver), not a
    * global sort; ln carries the documented q92 libm-ulp caveat.
    */
  def pmiCollocations(spark: SparkSession, dir: String,
                      minCount: Long = 5L, topK: Int = 50): DataFrame = {
    // pair-vocabulary relation feeds FOUR consumers (left/right marginals,
    // N, the scored join) — scratch-parquet spill, not executor pinning:
    // the bigram vocabulary is corpus-shaped (the largest "bounded"
    // relation here), and the q88/q123 spill discipline applies.
    val pairs = graft.sources.Sources.spillScratch(
      Tables.documents(spark, dir)
        .select(explode(TF.shingles(col("text"), 2)).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cab")),
      "pmi_pairs")
    // tokens never contain spaces (q110 precedent): the pair key splits
    // back losslessly into its two tokens.
    val left = pairs
      .select(element_at(split(col("pair"), " "), 1).as("a"), col("cab"))
      .groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    val right = pairs
      .select(element_at(split(col("pair"), " "), 2).as("b"), col("cab"))
      .groupBy(col("b")).agg(sum(col("cab")).as("cb"))
    val n = pairs.agg(sum(col("cab")).as("n"))
    pairs.filter(col("cab") >= minCount)
      .withColumn("a", element_at(split(col("pair"), " "), 1))
      .withColumn("b", element_at(split(col("pair"), " "), 2))
      .join(left, "a").join(right, "b")
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("cab").as("n_ab"),
        round(log((col("cab").cast("double") * col("n")) /
          (col("ca").cast("double") * col("cb"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** q123 — DSIR IMPORTANCE WEIGHTS (Xie et al. 2023 shape): score every
    * document by how much its hashed-unigram profile looks like a TARGET
    * distribution versus the RAW corpus — the importance-resampling signal
    * behind "select pretraining data that resembles the high-quality
    * target". Features are hashed n-gram buckets: bucket(token) = first
    * two hex chars of md5 (256 buckets — engine-independent, no vocab to
    * ship). Target = the `lang = 'en'` slice; both distributions are
    * add-one smoothed, a doc's weight is Σ_tokens ln(p_t(b)/p_r(b)),
    * and the output is the top-`topN` docs by (weight desc, doc_id).
    *
    * Scale shape: the corpus tokenizes ONCE into a per-(doc, bucket)
    * count relation (map-side combinable, ≤256 rows per doc); both
    * distributions are 256-row re-aggregations of that relation, and the
    * log-ratio table joins back BROADCAST (256 rows at any corpus size —
    * the entire "model" is smaller than a parquet footer). Per-doc
    * weights sum ≤256 terms; the cut is a TakeOrdered, no global sort.
    */
  def dsirWeights(spark: SparkSession, dir: String, topN: Int = 100): DataFrame = {
    // O(docs·256) rows feeding three consumers — the same executor-pin
    // concern as q88's weight relation, resolved the same way: one scratch
    // parquet spill re-read per consumer (the D9 discipline), never an
    // executor-storage materialization of a corpus-shaped relation.
    val dbPath = graft.sources.Sources.scratchDir(spark,
      "dsir_docbucket_" + graft.sources.Sources.dirTag(dir))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(TF.tokens(col("text"))).as("token"))
      .select(col("doc_id"), col("lang"),
        substring(md5(col("token")), 1, 2).as("bucket"))
      .groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(dbPath)
    val docBucket = spark.read.parquet(dbPath)
    val raw = docBucket.groupBy(col("bucket")).agg(sum(col("n")).as("cr"))
    val tgt = docBucket.filter(col("lang") === "en")
      .groupBy(col("bucket")).agg(sum(col("n")).as("ct"))
    val ratio = raw.join(tgt, Seq("bucket"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .crossJoin(broadcast(raw.agg(sum(col("cr")).as("nr"))))
      .crossJoin(broadcast(tgt.agg(sum(col("ct")).as("nt"))))
      .select(col("bucket"),
        log(((col("ct") + 1).cast("double") / (col("nt") + 256)) /
            ((col("cr") + 1).cast("double") / (col("nr") + 256))).as("lr"))
    docBucket.join(broadcast(ratio), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"),
        round(sum(col("n") * col("lr")), 6).as("weight"))
      .orderBy(col("weight").desc, col("doc_id"))
      .limit(topN)
  }

  /** q147 — ZIPF RANK-FREQUENCY FIT: the corpus-health number next to
    * q99's entropies — least-squares slope/intercept/R² of ln(freq) on
    * ln(rank) over the token unigram distribution. Natural text sits near
    * slope −1; a scraped corpus drifting toward template boilerplate
    * (slope steepens) or toward ID-like noise tokens (slope flattens,
    * vocab explodes) moves this number before any downstream eval does —
    * the cheap tripwire a 100 TB ingest runs per snapshot.
    *
    * Scale shape: the only corpus-sized pass is the unigram count (one
    * map-side-combined hash agg, exactly q28's). Ranking does NOT use a
    * global single-partition window (the q86 lesson — a total sort of a
    * 10⁸-token vocab on one task): rank = (#tokens with strictly higher
    * count) + (tie position among equals). The first term joins each
    * token's count against the cumulative count HISTOGRAM — a relation
    * bounded by the number of DISTINCT frequencies, O(√total) by
    * Zipf's own law — and the tie position is a row_number PARTITIONED BY
    * count (parallel, hot only for the long singleton tail, where AQE
    * skew-split applies). The fit itself is five commutative sums and a
    * closed form on one row, 6dp-rounded (the q99 double discipline). */
  def zipfAudit(spark: SparkSession, dir: String): DataFrame =
    zipfAuditFor(Tables.documents(spark, dir))

  /** The fit core over any (doc_id, text) relation. */
  def zipfAuditFor(docs: DataFrame): DataFrame = {
    val counts = docs.select(explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    // histogram of frequencies: one row per DISTINCT count value
    val hist = counts.groupBy(col("c")).agg(count(lit(1)).as("nc"))
    val wDesc = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val higher = hist
      .withColumn("higher", coalesce(sum(col("nc")).over(wDesc), lit(0L)))
      .select(col("c"), col("higher"))
    val wTie = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c")).orderBy(col("token"))
    val ranked = counts.join(broadcast(higher), "c")
      .withColumn("rank", col("higher") + row_number().over(wTie))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
    ranked.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").cast("long").as("vocab_size"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")), 6)
          .as("zipf_slope"),
        round((col("sy") - col("sx") *
                ((col("n") * col("sxy") - col("sx") * col("sy")) /
                 (col("n") * col("sxx") - col("sx") * col("sx")))) / col("n"), 6)
          .as("zipf_intercept"),
        round(pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
              ((col("n") * col("sxx") - col("sx") * col("sx")) *
               (col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("r_squared"))
  }

  /** A36 [EXT] — HEAPS-LAW VOCABULARY-GROWTH AUDIT: A23's companion on
    * the other axis — Zipf fits the rank–frequency law at one corpus
    * size; Heaps fits vocabulary GROWTH V(n) ≈ K·n^β across corpus
    * prefixes, the curve that answers the planning questions a tokenizer
    * team actually asks ("how much new vocabulary does the next 10×
    * of data buy", "is this source's vocab saturating — β → 0 — or
    * open-ended"). Checkpoints are doc_id-value deciles (thr_k =
    * ⌊max_id·k/10⌋ — integer arithmetic both engines share); per
    * checkpoint, cumulative token count and cumulative DISTINCT
    * vocabulary, then the log–log OLS fit (β, ln K, R²) rides every row
    * (the q112 one-relation report shape).
    *
    * The key scale trick: cumulative distinct at K checkpoints is NOT K
    * distinct-counts — each token contributes its FIRST-occurrence
    * doc_id (one map-side-combined min per token), and v_k is a count
    * of firsts ≤ thr_k: one corpus pass total, vocab-sized thereafter.
    * The token relation feeds that pass and the per-doc totals —
    * spilled once (the q88/q123 leaf discipline).
    */
  def heapsAudit(spark: SparkSession, dir: String,
                 nCheckpoints: Int = 10): DataFrame =
    heapsAuditFor(Tables.documents(spark, dir), nCheckpoints)

  def heapsAuditFor(docs: DataFrame, nCheckpoints: Int = 10): DataFrame = {
    require(nCheckpoints >= 3, s"a fit needs >= 3 checkpoints; got $nCheckpoints")
    val spark = docs.sparkSession
    val tok = graft.sources.Sources.spillScratch(
      docs.select(col("doc_id"), explode(TF.tokens(col("text"))).as("token")),
      "heaps_tok")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cks = spark.createDataFrame(
      (1 to nCheckpoints).map(k => (k, maxId * k / nCheckpoints)))
      .toDF("k", "thr")
    val firsts = tok.groupBy(col("token")).agg(min(col("doc_id")).as("first_doc"))
    val docTok = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
    val nK = docTok.join(broadcast(cks), col("doc_id") <= col("thr"))
      .groupBy(col("k"), col("thr")).agg(sum(col("nt")).as("n_tokens"))
    val vK = firsts.join(broadcast(cks), col("first_doc") <= col("thr"))
      .groupBy(col("k")).agg(count(lit(1)).as("vocab"))
    val pts = nK.join(vK, "k").filter(col("n_tokens") > 0)
      .withColumn("x", log(col("n_tokens").cast("double")))
      .withColumn("y", log(col("vocab").cast("double")))
    // + 0.0 normalizes IEEE negative zero: a saturated vocabulary (the
    // closed sf0.1 fixture vocab) fits beta = 0, which one engine rounds
    // to -0.0 and the other to 0.0
    val fit = pts.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(
        (round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")), 6) + 0.0)
          .as("heaps_beta"),
        (round((col("sy") - col("sx") *
                ((col("n") * col("sxy") - col("sx") * col("sy")) /
                 (col("n") * col("sxx") - col("sx") * col("sx")))) / col("n"), 6) + 0.0)
          .as("heaps_logk"),
        (round(pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
              ((col("n") * col("sxx") - col("sx") * col("sx")) *
               (col("n") * col("syy") - col("sy") * col("sy"))), 6) + 0.0)
          .as("r_squared"))
    pts.crossJoin(broadcast(fit))
      .select(col("k"), col("thr"), col("n_tokens"), col("vocab"),
        col("heaps_beta"), col("heaps_logk"), col("r_squared"))
  }

  /** A47 [EXT] — CORPUS DATA CARD: the "Datasheets for Datasets" summary
    * (Gebru et al. 2021) every release publishes, as ONE query — the
    * composition proof for the audit family the way q179 is for the
    * pipeline family. Metrics, every one a number an existing audited
    * operator owns: corpus size (docs/tokens/chars), language and source
    * breadth, language entropy (q99's formula), mean quality (q25's
    * scorer), exact-duplicate groups (q16's hash grain — honestly 0 on a
    * synthetic fixture with no planted exact dups), near-dup pairs and
    * the docs they touch (the q17 exact-Jaccard contract), and the
    * held-out-split contamination count (q59's cross-split grain).
    * Output (metric, value) rows, values double for one uniform schema.
    *
    * Scale: one corpus scan feeds all the scalar stats (single agg);
    * the pair relation — the expensive part — is the session-shared
    * [[Dedup.ensureJaccardPairs]] leaf, consumed here for the pair
    * count, the touched-doc count, and the cross-split contamination
    * count (the q181/q187 discipline).
    */
  def corpusDataCard(spark: SparkSession, dir: String,
                     threshold: Double = 0.5): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val docs = Tables.documents(spark, dir)
    val scalars = docs
      .select(col("doc_id"), col("lang"), col("source"),
        TF.nTokens(col("text")).cast("long").as("nt"),
        length(col("text")).cast("long").as("nc"),
        TF.qualityScore(col("text")).as("q"),
        TF.contentHash(col("text")).as("h"))
    val base = scalars.agg(
      count(lit(1)).as("n_docs"),
      sum(col("nt")).as("n_tokens"),
      sum(col("nc")).as("n_chars"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      round(avg(col("q")).cast(dec), 6).cast("double").as("mean_quality"))
    val dupGroups = scalars.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .agg(sum(when(col("c") > 1, 1L).otherwise(0L)).as("exact_dup_groups"))
    // q99's language entropy: ln(N) - sum(n ln n)/N over lang counts
    val langEnt = scalars.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("nn"), sum(col("n") * log(col("n"))).as("s2"))
      .select(round((log(col("nn").cast("double")) - col("s2") / col("nn"))
        .cast(dec), 6).cast("double").as("lang_entropy"))
    val pairs = Dedup.ensureJaccardPairs(spark, dir, threshold)
      .select(col("doc_a"), col("doc_b"))
    val pairStats = pairs.agg(count(lit(1)).as("neardup_pairs"))
      .crossJoin(pairs.select(col("doc_a").as("id"))
        .unionByName(pairs.select(col("doc_b").as("id")))
        .agg(countDistinct(col("id")).as("neardup_docs")))
    // q59's two-arm contract: shingle-visible cross-split pairs PLUS the
    // exact-hash arm (empty on a hash-unique fixture, kept for contract)
    val contam = pairs
      .filter(Dedup.evalSplit(col("doc_a")) =!= Dedup.evalSplit(col("doc_b")))
      .select(when(Dedup.evalSplit(col("doc_a")), col("doc_b"))
        .otherwise(col("doc_a")).as("id"))
      .unionByName(scalars.filter(!Dedup.evalSplit(col("doc_id")))
        .select(col("doc_id").as("id"), col("h"))
        .join(broadcast(scalars.filter(Dedup.evalSplit(col("doc_id")))
            .select(col("h")).distinct()), Seq("h"), "left_semi")
        .select(col("id")))
      .agg(countDistinct(col("id")).as("eval_contaminated"))
    val wide = base.crossJoin(dupGroups).crossJoin(langEnt)
      .crossJoin(pairStats).crossJoin(contam)
    val metrics = Seq("n_docs", "n_tokens", "n_chars", "n_langs",
      "n_sources", "mean_quality", "lang_entropy", "exact_dup_groups",
      "neardup_pairs", "neardup_docs", "eval_contaminated")
    // one row per metric EXPLODED from the single wide row — the former
    // per-metric `wide.select(...)` union re-executed the whole
    // five-aggregate crossJoin tree once per metric (11×)
    wide.select(explode(array(metrics.map { m =>
      struct(lit(m).as("metric"), col(m).cast("double").as("value"))
    }: _*)).as("s")).select(col("s.*"))
  }

  /** A43 [EXT] — UNIMAX BUDGET ALLOCATION (Chung et al. 2023): the third
    * mixture planner next to one-shot temperature scaling (A10/q92) and
    * the iterated DoReMi update (A38/q174) — waterfilling: distribute the
    * epoch budget EQUALLY across languages, except that no language may
    * exceed its capacity (corpus size × the epoch cap); capped languages
    * take their capacity and the freed budget re-levels among the rest.
    * Output per language: corpus size, capacity, the capped flag, the
    * allocated docs, and the implied epochs.
    *
    * The waterline is found EXACTLY: with languages sorted by ascending
    * capacity, language i is capped iff cᵢ·(L−i+1) ≤ B−prefixᵢ₋₁ — an
    * ALL-INTEGER comparison, so both engines select the identical capped
    * prefix (the theory guarantees the capped set is a prefix of the
    * ascending order); only the final waterline division
    * (B−Σ_capped c)/(L−k) touches floating point — one IEEE division,
    * 6dp-DECIMAL-rounded (the q92 discipline).
    *
    * Scale: one map-side-combined count on the lang key; everything
    * after runs on the \|langs\|-row relation — the unpartitioned sort
    * window is bounded by language count, never corpus size.
    */
  def unimaxAllocation(spark: SparkSession, dir: String,
                       budget: Long = 400L, maxEpochs: Long = 1L): DataFrame = {
    require(budget >= 1 && maxEpochs >= 1,
      s"need budget >= 1, maxEpochs >= 1; got $budget, $maxEpochs")
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val counts = Tables.documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("capacity", col("n_docs") * maxEpochs)
    val asc = Window.orderBy(col("capacity"), col("lang"))
    val full = Window.partitionBy()
    val flagged = counts
      .withColumn("idx", row_number().over(asc).cast("long"))
      .withColumn("l_total", count(lit(1)).over(full))
      .withColumn("prefix_before",
        coalesce(sum(col("capacity")).over(
          asc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("capped",
        col("capacity") * (col("l_total") - col("idx") + 1)
          <= lit(budget) - col("prefix_before"))
    val water = flagged.agg(
      sum(when(col("capped"), col("capacity")).otherwise(0L)).as("capped_cap"),
      sum(when(col("capped"), 1L).otherwise(0L)).as("k"))
    flagged.crossJoin(broadcast(water))
      .withColumn("alloc_raw",
        when(col("capped"), col("capacity").cast("double"))
          .otherwise((lit(budget) - col("capped_cap")).cast("double")
            / (col("l_total") - col("k")).cast("double")))
      .select(col("lang"), col("n_docs"), col("capacity"), col("capped"),
        round(col("alloc_raw").cast(dec), 6).cast("double").as("allocation"),
        round((col("alloc_raw") / col("n_docs").cast("double")).cast(dec), 6)
          .cast("double").as("epochs"))
  }

  /** A38 [EXT] — EXPONENTIATED-GRADIENT MIXTURE REWEIGHTING
    * (DoReMi-style, Xie et al. 2023): the iterative optimizer behind
    * domain reweighting expressed as a relational verb. Starting from
    * uniform weights, each round multiplies every source's weight by
    * exp(η · excess_s) and renormalizes — sources with the largest
    * "excess loss" gain mix share round over round, the multiplicative-
    * weights update DoReMi runs with a proxy model in the loop. The loss
    * proxy here is deterministic and oracle-recomputable: the quality
    * DEFICIT against a target (max(0, target − mean quality_s)) — the
    * relational stand-in for per-domain excess loss, per the A16/DSIR
    * precedent of replacing the trained model with a fixed scorer.
    * Output: the full (iteration, source, weight) trajectory, so a mix
    * planner can see convergence, not just the endpoint. A10 (q92) is
    * one-shot temperature scaling; this is the ITERATED update.
    *
    * Every step is 6dp-DECIMAL-pinned (exp under the q92 libm-ulp
    * discipline; each round's weights are rounded before the next round
    * reads them), so the whole trajectory is bit-replayable in DuckDB —
    * an iterated float recurrence would otherwise compound ulps past any
    * tolerance. Normalized weights are 6dp values that sum to 1 ± 5e-6
    * by construction; the trajectory is the contract, not exact unity.
    *
    * Scale: ONE corpus scan (per-source quality means through an exact
    * DECIMAL sum); every iteration is an agg + broadcast join over the
    * \|sources\|-row relation — iteration cost is independent of corpus
    * size, exactly like the real DoReMi reference run.
    */
  def doremiMixtureWeights(spark: SparkSession, dir: String, eta: Double = 1.0,
                           iters: Int = 5, targetQ: Double = 0.6): DataFrame = {
    require(iters >= 1 && iters <= 50 && eta > 0.0,
      s"need 1 <= iters <= 50, eta > 0; got $iters, $eta")
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    def r6(c: Column): Column = round(c.cast(dec), 6).cast("double")
    val base = Tables.documents(spark, dir)
      .select(col("source"), TF.qualityScore(col("text")).as("q"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("q").cast(dec)).as("qsum"))
      .withColumn("mean_q", r6(col("qsum").cast("double") / col("n_docs")))
      .withColumn("excess", r6(greatest(lit(0.0), lit(targetQ) - col("mean_q"))))
      .withColumn("boost", r6(exp(lit(eta) * col("excess"))))
      .select(col("source"), col("n_docs"), col("mean_q"), col("excess"),
        col("boost"))
      .localCheckpoint(true) // |sources| rows — bounded
    val nSources = base.count()
    var w = base.withColumn("weight", r6(lit(1.0) / nSources))
    val trajectory = Seq.newBuilder[DataFrame]
    trajectory += w.withColumn("iteration", lit(0))
    for (t <- 1 to iters) {
      val u = w.withColumn("u", r6(col("weight") * col("boost")))
      val tot = u.agg(sum(col("u").cast(dec)).as("tot"))
      w = u.crossJoin(broadcast(tot))
        .withColumn("weight", r6(col("u") / col("tot").cast("double")))
        .select(col("source"), col("n_docs"), col("mean_q"), col("excess"),
          col("boost"), col("weight"))
      trajectory += w.withColumn("iteration", lit(t))
    }
    trajectory.result().reduce(_.unionByName(_))
      .select(col("iteration"), col("source"), col("n_docs"), col("mean_q"),
        col("excess"), col("weight"))
  }

  /** q148 — DUAL-GATE AGREEMENT (Cohen's κ): when a curation pipeline
    * swaps or adds a quality scorer, the first question is how much the
    * new gate AGREES with the incumbent beyond chance — raw overlap
    * percent is inflated by whatever both gates trivially pass. κ
    * corrects for chance agreement from the marginals; the 2×2 confusion
    * table ships alongside so the report is auditable. Gates here are two
    * oracle-provable predicates on independent doc features: the q103
    * token-count floor vs a type-token-ratio floor (lexical-diversity
    * gate), each compared on the 6dp DECIMAL-rounded ratio (the q92 tie
    * discipline — both engines gate the same decimal).
    *
    * Scale shape: one corpus scan computing both per-doc predicates
    * (integer counts + one exact division), one 4-cell map-side-combined
    * aggregate; κ is closed-form arithmetic on that single row. */
  def scorerAgreement(spark: SparkSession, dir: String,
                      minTokens: Int = 20, minTtr: Double = 0.5): DataFrame = {
    val d6 = org.apache.spark.sql.types.DecimalType(38, 18)
    val gated = Tables.documents(spark, dir)
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .select(
        (size(col("toks")) >= minTokens).as("ga"),
        (round((size(array_distinct(col("toks"))).cast("double") /
                size(col("toks")).cast("double")).cast(d6), 6).cast("double")
          >= minTtr).as("gb"))
    gated.agg(
        sum(when(!col("ga") && !col("gb"), 1L).otherwise(0L)).as("n00"),
        sum(when(!col("ga") && col("gb"), 1L).otherwise(0L)).as("n01"),
        sum(when(col("ga") && !col("gb"), 1L).otherwise(0L)).as("n10"),
        sum(when(col("ga") && col("gb"), 1L).otherwise(0L)).as("n11"))
      .withColumn("n", (col("n00") + col("n01") + col("n10") + col("n11"))
        .cast("double"))
      .withColumn("po", (col("n00") + col("n11")) / col("n"))
      .withColumn("pe",
        ((col("n10") + col("n11")) * (col("n01") + col("n11")) +
         (col("n00") + col("n01")) * (col("n00") + col("n10"))) /
          (col("n") * col("n")))
      .select(col("n00"), col("n01"), col("n10"), col("n11"),
        round(col("po"), 6).as("observed_agreement"),
        round(col("pe"), 6).as("chance_agreement"),
        round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6).as("kappa"))
  }

  /** q149 — CALIBRATION / ECE AUDIT: treats a deterministic quality score
    * as a CONFIDENCE that a doc passes the curation gate and reports how
    * calibrated that confidence is — per-decile reliability (avg
    * confidence vs empirical pass rate) reduced to the expected
    * calibration error, max gap, and occupied-bin count. This is the
    * audit run before trusting any model-scored quality column to route
    * 100 TB of data: a scorer can rank well and still be badly
    * calibrated, and a threshold chosen on miscalibrated scores silently
    * shifts the kept-token budget. Confidence = type-token ratio (exact
    * integer division, IEEE-identical on both engines, so decile
    * assignment needs no rounding escape); outcome = the q103 token-count
    * gate.
    *
    * Scale shape: one corpus scan → per-doc (bin, conf, pass) → a ≤10-row
    * bin aggregate → one row. Nothing corpus-sized survives the first
    * map-side combine. */
  def calibrationAudit(spark: SparkSession, dir: String,
                       minTokens: Int = 20): DataFrame = {
    val binned = Tables.documents(spark, dir)
      .select(TF.tokens(col("text")).as("toks"))
      .select(
        (size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")).cast("double")).as("conf"),
        (size(col("toks")) >= minTokens).as("pass"))
      .select(least(floor(col("conf") * 10), lit(9L)).as("bin"),
        col("conf"), col("pass"))
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("nb"), avg(col("conf")).as("cb"),
        avg(when(col("pass"), 1.0).otherwise(0.0)).as("ab"))
      .agg(sum(col("nb")).as("n_docs"),
        count(lit(1)).as("bins_occupied"),
        sum(col("nb") * abs(col("ab") - col("cb"))).as("wgap"),
        max(abs(col("ab") - col("cb"))).as("mgap"))
      .select(col("n_docs"), col("bins_occupied"),
        round(col("wgap") / col("n_docs"), 6).as("ece"),
        round(col("mgap"), 6).as("max_gap"))
  }

  /** A27 [EXT] — TOKENIZER FERTILITY AUDIT: per language, how expensive
    * the corpus is in tokens — subwords per whitespace word (fertility,
    * the number tokenizer papers report per language) and characters per
    * subword (compression rate). The number that sizes a training run's
    * token budget per language BEFORE tokenizing 100 TB, and the tripwire
    * for a pre-tokenizer change silently exploding a language's cost (the
    * classic failure: a regex tweak doubles zh fertility and nobody
    * notices until the budget is spent). Subwords are P10's deterministic
    * pre-tokenizer (letter runs / digit runs / single punctuation — the
    * q25 column, so doc grain and corpus grain can never disagree).
    *
    * Scale: one scan, the three counts read off one in-row
    * [[graft.functions.TextStatsExpr]] pass over each document, one
    * map-side-combined hash agg on the ≤|langs| key. Ratios through
    * DECIMAL (q92 discipline). Fully oracle-checked.
    */
  def tokenizerFertilityAudit(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    Tables.documents(spark, dir)
      .select(col("lang"),
        TF.nTokens(col("text")).cast("long").as("w"),
        TF.nSubwords(col("text")).cast("long").as("s"),
        TF.nChars(col("text")).cast("long").as("c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("s")).as("n_subwords"), sum(col("c")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subwords"),
        col("n_chars"),
        round((col("n_subwords").cast("double") / col("n_words")).cast(dec), 6)
          .cast("double").as("fertility"),
        round((col("n_chars").cast("double") / col("n_subwords")).cast(dec), 6)
          .cast("double").as("chars_per_subword"))
  }

  /** A30 [EXT] — EFFECTIVE-TOKEN BUDGET under epoch decay: the
    * data-constrained-scaling planner (Muennighoff et al. 2023: repeated
    * epochs of the same data are worth geometrically less). Each source
    * gets an equal target slice of the total token budget; the report
    * says how many FULL epochs of the source that slice forces, what the
    * slice is worth in effective tokens when epoch e is discounted by
    * decay^(e−1) — n·(1−r^E)/(1−r) for the full epochs plus the partial
    * epoch's remainder at r^E — and the utilization ratio that tells a
    * mix planner which sources are exhausted (repeating heavily, low
    * utilization → get more of this data or shift budget to A10's
    * temperature weights).
    *
    * decay = 0.5 by default ON PURPOSE: powers of ½ are exact in IEEE
    * doubles, so the closed form is bit-identical across engines and the
    * row oracle-checks without a tolerance escape (any decay works
    * operationally; exactness is a fixture property). Scale: one scan,
    * one agg on the \|sources\| key, closed-form arithmetic on the tiny
    * rollup. Ratios round through DECIMAL.
    */
  def effectiveTokenBudget(spark: SparkSession, dir: String,
                           totalBudget: Long = 1000000L,
                           decay: Double = 0.5): DataFrame = {
    require(totalBudget >= 1L && decay > 0.0 && decay < 1.0,
      s"need totalBudget>=1, 0<decay<1; got $totalBudget/$decay")
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    def idiv(c: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column) =
      call_function("div", c, d)
    val s = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(TF.nTokens(col("text")).cast("long")).as("n_tokens"))
    val nSrc = s.agg(count(lit(1)).as("ns"))
    val e = s.crossJoin(broadcast(nSrc))
      .withColumn("target_tokens", idiv(lit(totalBudget), col("ns")))
      .withColumn("full_epochs", idiv(col("target_tokens"), col("n_tokens")))
      .withColumn("rem",
        col("target_tokens") - col("full_epochs") * col("n_tokens"))
      .withColumn("p", pow(lit(decay), col("full_epochs")))
      .withColumn("eff",
        col("n_tokens") * lit(1.0 / (1.0 - decay)) * (lit(1.0) - col("p"))
          + col("rem") * col("p"))
    // floor-form 6dp rounding in DOUBLE space: the double→decimal cast
    // takes the shortest string repr in Spark but the true binary value
    // in DuckDB, flipping the rounded last digit on boundary values
    // (found by the r18 full-registry check at sf0.1); floor(x·10⁶+0.5)
    // is the same IEEE arithmetic in both engines
    def r6d(c: Column): Column =
      floor(c * lit(1000000.0) + lit(0.5)).cast("double") / lit(1000000.0)
    e.select(col("source"), col("n_tokens"), col("target_tokens"),
      col("full_epochs"),
      r6d(col("eff")).as("effective_tokens"),
      r6d(col("eff") / col("target_tokens")).as("utilization"))
  }

  /** Per-doc DEFLATE profile: (doc_id, source, n_chars, n_bytes,
    * deflate_bytes). One `Deflater` per PARTITION, reset per row — the
    * allocation-heavy native handle is exactly the state `mapPartitions`
    * exists for (no expression can host it; the house UDF-avoidance
    * hierarchy bottoms out here). Level 6, nowrap: deterministic for a
    * fixed JDK zlib, which is all the signal needs — the ratio is
    * consumed relative to the corpus, never compared across JVMs. */
  private[graft] def compressionRatiosFor(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6, true)
        val buf = new Array[Byte](1 << 16)
        val mapped = it.map { case (id, src, text) =>
          val in = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(in)
          deflater.finish()
          var out = 0L
          while (!deflater.finished()) out += deflater.deflate(buf)
          // n_chars = code points, matching SQL length() (oracle parity
          // on supplementary-plane text), not UTF-16 code units
          (id, src, text.codePointCount(0, text.length).toLong, in.length.toLong, out)
        }
        // free the native zlib handle when the partition is exhausted —
        // long-lived executors run many partitions and finalization is
        // too late for off-heap buffers
        new Iterator[(Long, String, Long, Long, Long)] {
          def hasNext: Boolean = {
            val h = mapped.hasNext
            if (!h) deflater.end()
            h
          }
          def next(): (Long, String, Long, Long, Long) = mapped.next()
        }
      }.toDF("doc_id", "source", "n_chars", "n_bytes", "deflate_bytes")
  }

  /** P20 [EXT] — COMPRESSION-RATIO QUALITY SIGNAL: deflate bytes per
    * input byte, the Gopher/RefinedWeb-class filter that catches what
    * token-level heuristics miss — near-random ID soup refuses to
    * compress (ratio → 1+), template/boilerplate soup compresses absurdly
    * well (ratio → 0) — rolled up per source with a sanity-band violation
    * counter PINNED at zero (q34 invariant discipline: the ratio itself
    * is zlib-implementation-defined, so the oracle recomputes the COUNTS
    * and the band is wide enough that any violation means a broken
    * deflate path, not an interesting document; the per-doc ratios and
    * their discrimination power are spec-pinned driver-side). Empty
    * documents are exempt from the band (deflate's fixed header makes
    * their ratio meaningless).
    *
    * Scale: one scan; the deflate pass is per-row in-partition work with
    * zero shuffle; the rollup is one map-side-combined agg on the
    * \|sources\| key.
    */
  def compressionSignal(spark: SparkSession, dir: String, lo: Double = 0.05,
                        hi: Double = 1.2): DataFrame = {
    require(lo > 0.0 && hi > lo, s"need 0<lo<hi; got $lo/$hi")
    compressionRatiosFor(Tables.documents(spark, dir))
      .withColumn("viol", when(col("n_bytes") > 0 &&
        (col("deflate_bytes").cast("double") / col("n_bytes") < lo ||
          col("deflate_bytes").cast("double") / col("n_bytes") > hi),
        1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        sum(col("viol")).as("n_ratio_violations"))
  }

  /** P21 [EXT] — PII RISK SCORECARD: q85's per-document redaction counts
    * rolled up to the grain a data-governance review actually reads —
    * per source: docs scanned, matches per PII class, documents carrying
    * ANY match, and the hit rate. The number that decides whether a
    * source needs a redaction pass before release, where q85 decides
    * what to redact. Same planted fixture (the q82 damage-derived-from-
    * doc_id discipline) so the oracle re-derives every count; the hit
    * rate rounds through DECIMAL.
    *
    * Scale: q85's pure per-row regexp expressions (one scan, no shuffle,
    * pushdown-safe) followed by one map-side-combined agg on the
    * \|sources\| key.
    */
  def piiSourceScorecard(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val planted = plantedPiiText
    val countCols = piiPatterns.map { case (cls, _, pattern) =>
      size(regexp_extract_all(planted, lit(pattern), lit(0))).cast("long")
        .as(s"n_${cls}s")
    }
    val perDoc = Tables.documents(spark, dir)
      .select(col("source") +: countCols: _*)
    val classCols = piiPatterns.map { case (cls, _, _) => col(s"n_${cls}s") }
    perDoc
      .withColumn("has_pii",
        when(classCols.reduce(_ + _) > 0L, 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        (piiPatterns.map { case (cls, _, _) =>
          sum(col(s"n_${cls}s")).as(s"n_${cls}s")
        } :+ sum(col("has_pii")).as("docs_with_pii")): _*)
      .withColumn("pii_rate",
        round((col("docs_with_pii").cast("double") / col("n_docs")).cast(dec), 6)
          .cast("double"))
  }
}
