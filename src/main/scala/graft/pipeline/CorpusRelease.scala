package graft.pipeline

import graft.Tables
import graft.functions.{TextFunctions => TF}
import graft.operators.{Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** q179 — THE CORPUS-RELEASE PIPELINE (capstone): the reference's one
  * program (/root/reference/src/preprocessing_pipeline.py:244-330 runs
  * ingest → dedup gate → normalize → augment → split → sinks as a single
  * pass) re-expressed over this engine's audited stages, chained as ONE
  * registered query:
  *
  *   quality gates (q103's cascade, all five predicates)
  *   → exact content dedup, keep lowest doc_id  (q16/q44 rule)
  *   → near-dup cluster resolution, keep exemplar (q52)
  *   → decontamination vs the held-out split     (q59; eval = id%10=0)
  *   → temperature-scaled mixture resample       (q104; α=0.7, budget 1000)
  *   → epoch expansion + sequence-packing spans  (q84; ctx 256)
  *   → byte-sharded JSONL export                 (q155; 16 KiB shards)
  *
  * and the registered result is the release MANIFEST computed from the
  * exported files READ BACK (the q155 round-trip contract): per shard,
  * epoch rows, distinct docs, bytes, tokens (recomputed from the
  * read-back text), the packed-chunk span (carried as loader metadata in
  * the JSONL rows), and the doc_id span. Every stage is the
  * oracle-checked operator it reuses — the predicates are
  * [[TextAnalysis.cascadePreds]] verbatim, the pair machinery is
  * [[Dedup.nearDupClustersFor]]/[[Dedup.decontaminationReportFor]], the
  * copy arithmetic is q104's decimal discipline, the prefix sums are the
  * q84/q155 two-level form — so the oracle replays the whole chain as
  * chained CTEs over one shared exact-Jaccard pair relation.
  *
  * observe(): each stage boundary carries a named [[Observation]]
  * (the q80 discipline) — rows scanned / gated, exact-dedup survivors,
  * near-dup exemplars, released (decontaminated) docs, and epoch
  * rows/tokens/bytes — computed DURING the pass the stage already makes
  * (each stage output spills exactly once for its multiple consumers, and
  * the observation materializes on that spill write). At 100 TB the
  * alternative is a second full scan per counter.
  *
  * Scale shape: stages 1–2 are one linear scan + one hash-key shuffle;
  * stage 3–4 reuse the inverted-index candidate machinery (df-capped,
  * never all-pairs) over the already-shrunk survivor set; stage 5 is a
  * broadcast of a \|langs\|-row target table; stage 6's only
  * unpartitioned window is the \|blocks\|-sized prefix relation; the
  * export shuffles once on the shard key. Nothing re-reads raw documents
  * after stage 1: every later stage reads the previous stage's columnar
  * spill.
  */
object CorpusRelease {

  private def idiv(c: Column, d: Long): Column =
    call_function("div", c, lit(d))

  def corpusRelease(spark: SparkSession, dir: String): DataFrame =
    corpusReleaseObserved(spark, dir)._1

  def corpusReleaseObserved(spark: SparkSession, dir: String,
                            threshold: Double = 0.5,
                            alpha: Double = 0.7,
                            epochBudget: Long = 1000L,
                            seed: Long = 42L,
                            contextLen: Long = 256L,
                            targetBytes: Long = 16384L,
                            blockSize: Long = 64L)
      : (DataFrame, Seq[(String, Observation)]) = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val spill = graft.sources.Sources.spillScratch _

    // --- stage 1+2: quality gates, then exact content dedup ------------
    val pass = TextAnalysis.cascadePreds.map(_._2).reduce(_ && _)
    val obsGate = Observation("release_gate")
    val gated = spill(
      TextAnalysis.cascadeBase(spark, dir)
        .observe(obsGate,
          count(lit(1)).as("rows_scanned"),
          sum(pass.cast("long")).as("rows_gated"))
        .filter(pass)
        .select(col("doc_id"), col("lang"), col("text")),
      "release_gated")
    val exactKeep = gated
      .groupBy(TF.contentHash(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val obsExact = Observation("release_exact")
    val deduped = spill(
      gated.join(exactKeep, Seq("doc_id"), "left_semi")
        .observe(obsExact, count(lit(1)).as("rows_exact_kept")),
      "release_deduped")

    // --- stages 3+4 share ONE pair relation ----------------------------
    // Jaccard between two documents is relation-independent, so the
    // exact-verified pair set over the exact-dedup survivors serves BOTH
    // the cluster edges (stage 3) and, keeper-restricted, the cross-split
    // contamination filter (stage 4) — the same reuse the oracle's single
    // `pairs` CTE makes. One level up, the SESSION already holds the
    // exact pair relation over the whole corpus (the jacpairs leaf, df-
    // capped candidates + exact hot correction = exact output), and the
    // survivors are an id-subset, so the stage's pair set is EXACTLY the
    // leaf restricted to survivor endpoints — the LSH candidate route
    // stays separately owned (and oracle-proven) by q18/q52.
    val dedupedIds = deduped.select(col("doc_id"))
    val pairs = spill(
      Dedup.ensureJaccardPairs(spark, dir, threshold)
        .join(dedupedIds.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
        .join(dedupedIds.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
        .select(col("doc_a"), col("doc_b")),
      "release_pairs")
    val keepers = Dedup.connectedComponents(
        deduped.select(col("doc_id").as("id")),
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .filter(col("lbl") === col("id")).select(col("id").as("doc_id"))
    val obsNd = Observation("release_neardup")
    val nd = spill(
      deduped.join(keepers, Seq("doc_id"), "left_semi")
        .observe(obsNd, count(lit(1)).as("rows_neardup_kept")),
      "release_nd")

    // --- stage 4: decontamination against the held-out split -----------
    val isEval = Dedup.evalSplit(col("doc_id"))
    val ndIds = nd.select(col("doc_id"))
    val fuzzyContam = pairs
      .join(ndIds.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(ndIds.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
      .filter(Dedup.evalSplit(col("doc_a")) =!= Dedup.evalSplit(col("doc_b")))
      .select(when(Dedup.evalSplit(col("doc_a")), col("doc_b"))
        .otherwise(col("doc_a")).as("doc_id"))
    // exact-text arm (the q59 contract): identical train/eval text is
    // contamination even when shingling can't see it. Within THIS chain
    // stage 2 already collapsed identical texts globally, so the arm is
    // provably empty — kept because the oracle replays it and because the
    // stage contract (not this chain's happenstance) is what's exported.
    val exactContam = nd.filter(!isEval)
      .select(col("doc_id"), TF.contentHash(col("text")).as("h"))
      .join(broadcast(nd.filter(isEval)
          .select(TF.contentHash(col("text")).as("h")).distinct()),
        Seq("h"), "left_semi")
      .select(col("doc_id"))
    val contam = fuzzyContam.unionByName(exactContam).distinct()
    val obsRel = Observation("release_decon")
    val released = spill(
      nd.filter(!isEval).join(contam, Seq("doc_id"), "left_anti")
        .observe(obsRel, count(lit(1)).as("rows_released")),
      "release_released")

    // --- stage 5: mixture resample over the released corpus (q104) -----
    val counts = released.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", pow(col("n_docs").cast("double"), alpha))
    val totals = counts.agg(sum(col("w")).as("total_w"))
    val targets = counts.crossJoin(broadcast(totals))
      .select(col("lang"), col("n_docs"),
        floor(round((col("w") / col("total_w")).cast(dec), 6) * epochBudget)
          .cast("long").as("target"))
    val copies = Sampling
      .hashRankWithin(released.select(col("doc_id"), col("lang")),
        "lang", "doc_id", seed, prefixChars = 2)
      .join(broadcast(targets), "lang")
      .withColumn("n_copies",
        call_function("div", col("target"), col("n_docs"))
          + when(col("pos") <= col("target") % col("n_docs"), 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("n_copies"))

    // --- stage 6: epoch expansion, packing spans, shard assignment -----
    val obsEpoch = Observation("release_epoch")
    val epoch = spill(
      released.join(copies, "doc_id")
        .withColumn("copy", explode(sequence(lit(1L), col("n_copies"))))
        .select(col("doc_id"), col("copy"), col("lang"), col("text"),
          TF.nTokens(col("text")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("b"))
        .observe(obsEpoch,
          count(lit(1)).as("epoch_rows"),
          sum(col("n_tokens")).as("epoch_tokens"),
          sum(col("b")).as("epoch_bytes")),
      "release_epoch")
    // the q84/q155 two-level prefix sum over (doc_id, copy) order, token
    // and byte streams in one pass; the only unpartitioned window is the
    // |blocks|-sized prefix relation
    import org.apache.spark.sql.expressions.Window
    val blocked = epoch.withColumn("block", idiv(col("doc_id"), blockSize))
    val blockPrefix = blocked.groupBy(col("block"))
      .agg(sum(col("n_tokens")).as("bt"), sum(col("b")).as("bb"))
      .withColumn("tok_bp", coalesce(sum(col("bt")).over(
        Window.orderBy(col("block"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("byte_bp", coalesce(sum(col("bb")).over(
        Window.orderBy(col("block"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("block"), col("tok_bp"), col("byte_bp"))
    val inBlock = Window.partitionBy(col("block"))
      .orderBy(col("doc_id"), col("copy"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val assigned = blocked
      .withColumn("tok_w", coalesce(sum(col("n_tokens")).over(inBlock), lit(0L)))
      .withColumn("byte_w", coalesce(sum(col("b")).over(inBlock), lit(0L)))
      .join(broadcast(blockPrefix), "block")
      .withColumn("tok_off", col("tok_bp") + col("tok_w"))
      .withColumn("byte_off", col("byte_bp") + col("byte_w"))
      .select(col("doc_id"), col("copy"), col("lang"), col("text"),
        idiv(col("byte_off"), targetBytes).as("shard"),
        idiv(col("tok_off"), contextLen).as("first_chunk"),
        idiv(col("tok_off") + col("n_tokens") - 1, contextLen).as("last_chunk"))

    // --- export + manifest from the files read back --------------------
    val out = graft.sources.Sources.scratchDir(spark,
      s"corpus_release_${java.util.UUID.randomUUID.toString.take(8)}")
    assigned.repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").json(out)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, copy BIGINT, lang STRING, text STRING, " +
        "first_chunk BIGINT, last_chunk BIGINT")
    val manifest = spark.read.schema(schema).json(out)
      .withColumn("shard",
        regexp_extract(input_file_name(), "shard=(\\d+)", 1).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(length(col("text"))).cast("long").as("shard_bytes"),
        sum(TF.nTokens(col("text")).cast("long")).as("n_tokens"),
        min(col("first_chunk")).as("first_chunk"),
        max(col("last_chunk")).as("last_chunk"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
    (manifest, Seq(
      "release_gate" -> obsGate, "release_exact" -> obsExact,
      "release_neardup" -> obsNd, "release_decon" -> obsRel,
      "release_epoch" -> obsEpoch))
  }
}
