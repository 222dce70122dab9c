package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Incremental dedup against a PERSISTED index — the dedup family
  * (SURVEY §2.5 D6/D8) promoted to the loop a continuously-ingesting
  * pipeline actually runs. Production curation is not a one-shot batch: new
  * shards arrive every hour and must dedup against the EXISTING corpus.
  * Re-shingling 100 TB of settled text per arriving shard is the wrong
  * plan; the right one keeps the (doc_id, shingle) index in a durable
  * parquet sink and joins each shard against the SINK. The reference's
  * incremental set-disjointness intent
  * (/root/reference/utils/preprocessing_testing_utils.py:60-80) is this
  * check run per-ingest instead of per-experiment.
  *
  * Scale shape:
  *   - the index sink IS the materialization: every plan branch that needs
  *     it (candidate join, hot-shingle df, per-doc sizes) re-reads the
  *     compact columnar parquet — column-pruned, splittable, and orders of
  *     magnitude smaller than re-tokenizing raw text — so the settled
  *     corpus is never re-shingled;
  *   - only the arriving shard (tiny by comparison) pays shingling, and
  *     its fingerprints are localCheckpointed once for the multi-branch
  *     plan;
  *   - candidate generation is the same cross-side inverted-index
  *     equi-join as the batch core ([[Dedup.jaccardPairsAcross]]) — the
  *     settled×settled quadrant is never enumerated, exactly as
  *     decontamination never enumerates train×train;
  *   - admitted docs APPEND their shingles to the sink (parquet append =
  *     new files, no rewrite), so the index stays current at the cost of
  *     the shard, not the corpus.
  */
object IncrementalDedup {

  /** Build and persist the shingle index of `docs` (overwrite). Run once
    * at corpus bootstrap; thereafter [[appendShingleIndex]] keeps it
    * current. `n` is the shingle width the index is built at — every
    * reader and appender of the same sink must use the same width (a
    * 2-shingle probe against a 3-shingle index matches nothing and reads
    * as near-100% novelty). The width is RECORDED in the sink's parameter
    * sidecar at write time; appends and width-aware probes `require` a
    * match, so a mismatch fails loudly instead of silently returning
    * garbage. */
  def writeShingleIndex(docs: DataFrame, path: String,
                        n: Int = Dedup.DefaultShingleN,
                        shOpt: Option[DataFrame] = None): Unit = {
    // shOpt: the docs' (doc_id, shingle) relation already materialized at
    // width n — e.g. an id-filter of the session shingle leaf
    // ([[Dedup.ensureDocShingles]]); shingles are per-row, so the slice is
    // exact and the corpus is not re-tokenized per index bootstrap
    shOpt.getOrElse(Dedup.docShingles(docs, n))
      .write.mode("overwrite").parquet(path)
    graft.sources.Sources.writeIndexMeta(docs.sparkSession, path, shingleMeta(n))
  }

  private def shingleMeta(n: Int) = Map("n" -> n.toString)
  private def fpMeta(k: Int, w: Int) =
    Map("winnow_k" -> k.toString, "winnow_w" -> w.toString)

  /** Append `docs`' shingles to an existing index sink — the per-ingest
    * index maintenance step (parquet append writes new files only).
    * `n` must match the width the sink was written at (sidecar-enforced,
    * see [[writeShingleIndex]]). */
  def appendShingleIndex(docs: DataFrame, path: String,
                         n: Int = Dedup.DefaultShingleN,
                         shOpt: Option[DataFrame] = None): Unit = {
    // shOpt: the docs' (doc_id, shingle) relation already materialized at
    // width n (a leaf slice) — same contract as [[writeShingleIndex]]
    graft.sources.Sources.requireIndexMeta(docs.sparkSession, path, shingleMeta(n))
    shOpt.getOrElse(Dedup.docShingles(docs, n)).write.mode("append").parquet(path)
  }

  def readShingleIndex(spark: SparkSession, path: String): DataFrame =
    Tables.parquet(spark, path)

  /** D30 [EXT] — PERSISTED-INDEX STALENESS AUDIT: before trusting an
    * incremental probe (q64–q78), measure how much of the CURRENT corpus
    * the index actually covers — per source: corpus docs, docs whose
    * shingles are present in the index (distinct doc_ids READ BACK from
    * the parquet sink, so a green row proves the write+read round-trip
    * at the doc grain, not the modulo arithmetic), uncovered docs, and
    * the coverage fraction. Uncovered = the ingest split that arrived
    * since the bootstrap PLUS any settled doc too short to shingle
    * (< n tokens yields no rows — the subtle class a naive "count the
    * splits" staleness check misses, and the reason the audit reads the
    * index instead of re-deriving it). The registered q168 form
    * bootstraps from the q64 house split (settled = doc_id % 7 ≠ 0) into
    * a scratch sink and audits against the full corpus, so the oracle
    * re-derives every count from the split + the ≥ n-token rule.
    *
    * Scale: the index side prunes to ONE column (doc_id) before the
    * distinct — shingle rows collapse map-side; the corpus join is a
    * broadcast-friendly |docs|-sized left join; the rollup is one agg on
    * the \|sources\| key.
    */
  def indexStalenessAudit(spark: SparkSession, dir: String,
                          n: Int = Dedup.DefaultShingleN): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isNew = col("doc_id") % 7 === 0
    // read-only sink, deterministic content: build once per session (and
    // from the session shingle leaf at the default width) — the audit's
    // contract is READING the index back, not re-writing it per run
    val path = graft.sources.Sources.ensureStore(spark, "staleidx",
        s"$dir|$n") { p =>
      writeShingleIndex(docs.filter(!isNew), p, n,
        shOpt = if (n == Dedup.DefaultShingleN)
          Some(Dedup.ensureDocShingles(spark, dir, n).filter(!isNew))
        else None)
    }
    val indexedIds = readShingleIndex(spark, path)
      .select(col("doc_id")).distinct()
      .withColumn("indexed", lit(1L))
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    docs.select(col("doc_id"), col("source"))
      .join(indexedIds, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_corpus"),
        sum(coalesce(col("indexed"), lit(0L))).as("n_indexed"),
        sum(lit(1L) - coalesce(col("indexed"), lit(0L))).as("n_uncovered"))
      .withColumn("coverage",
        round((col("n_indexed").cast(dec) / col("n_corpus").cast(dec)).cast(dec), 6)
          .cast("double"))
  }

  /** Near-dup pairs of an already-shingled new side against the persisted
    * index: (doc_a = new doc, doc_b = indexed doc, jaccard ≥ threshold).
    * Hotness (the df cap that bounds the one quadratic bucket) is
    * corpus-wide — df over index ∪ shard — computed as one map-side-
    * combined aggregate over the single pruned `shingle` column of the
    * sink; at a scale where even that is too hot per-ingest, the df table
    * becomes its own maintained sidecar sink. Exposed shingled (rather
    * than as raw docs) so the same verb serves a winnowed-fingerprint
    * index: [[Dedup.jaccardPairsAcross]] keys on the `shingle` column
    * whatever its type.
    */
  def pairsAgainstIndex(shNew: DataFrame, index: DataFrame,
                        threshold: Double = 0.5, dfCap: Int = 1000): DataFrame = {
    val hot = shNew.unionByName(index)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("shingle"))
    // shard and settled id spaces are disjoint in normal operation, so the
    // same-id exclusion is a no-op — it exists for at-least-once REPLAY
    // ([[streamingIngest]]): a re-delivered batch whose shingles were
    // already appended must not reject every doc against its own index
    // entry
    Dedup.jaccardPairsAcross(shNew, index, hot,
      col("doc_a") =!= col("doc_b"), threshold)
  }

  /** The per-shard dedup report: one row per NEW doc that near-duplicates
    * ANY indexed doc — its max Jaccard and how many settled docs it
    * collides with. Anti-joining the shard against these doc_ids is the
    * admission decision ([[admitFor]]). */
  def reportFor(newDocs: DataFrame, index: DataFrame,
                threshold: Double = 0.5, dfCap: Int = 1000,
                shNewOpt: Option[DataFrame] = None): DataFrame =
    // a leaf-sliced shard relation is parquet-backed (cheap per-branch
    // re-read) and needs no executor-storage pin; the generic path keeps
    // the eager checkpoint for its multi-branch plan
    pairsAgainstIndex(shNewOpt.getOrElse(
        Dedup.docShingles(newDocs).localCheckpoint(true)),
        index, threshold, dfCap)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(max(col("jaccard")).as("max_jaccard"),
        count(lit(1)).as("n_matches"))

  /** The admitted slice of an arriving shard: docs NOT near-duplicating
    * the settled corpus — what the pipeline appends to training data. */
  def admitFor(newDocs: DataFrame, index: DataFrame,
               threshold: Double = 0.5): DataFrame =
    newDocs.join(reportFor(newDocs, index, threshold).select(col("doc_id")),
      Seq("doc_id"), "left_anti")

  /** One full ingest tick: dedup the shard against the index, admit the
    * survivors, append their shingles to the index, return the admitted
    * docs. The admitted set is eagerly pinned (localCheckpoint) BEFORE the
    * append so the lazy plan cannot observe the index files it is about to
    * write — and intra-shard duplicates of an admitted doc are caught on
    * the NEXT tick's index, matching the settled-corpus-first contract.
    */
  def ingestShard(newDocs: DataFrame, indexPath: String,
                  threshold: Double = 0.5): DataFrame = {
    val spark = newDocs.sparkSession
    // the report shingles the shard at the DEFAULT width; the sidecar
    // check makes probing a non-default-width index fail loudly
    graft.sources.Sources.requireIndexMeta(spark, indexPath,
      shingleMeta(Dedup.DefaultShingleN))
    val admitted =
      admitFor(newDocs, readShingleIndex(spark, indexPath), threshold)
        .localCheckpoint(true)
    appendShingleIndex(admitted, indexPath)
    admitted
  }

  /** The ingest loop as a STREAM — the complete online curation pipeline:
    * each arriving micro-batch dedups against the persisted index
    * ([[ingestShard]]: report → admit → append), and the admitted docs
    * land in their own parquet sink. foreachBatch is the right harness:
    * the per-batch verbs are bounded batch computations, and the index
    * must RE-LIST its files per batch so batch t sees the fingerprints
    * batch t−1 admitted — a stream-static join would pin the listing at
    * query start. The stream carries ZERO Spark state (all state is the
    * durable index), so checkpointing makes the loop restartable. The
    * at-least-once caveat of plain parquet appends: a replayed batch can
    * duplicate admitted rows, and a doc admitted ALONGSIDE an intra-batch
    * near-dup can flip to rejected on replay (its twin is now in the
    * index — semantically consistent with settled-corpus-first, but not a
    * byte-identical replay). The same-id exclusion in
    * [[pairsAgainstIndex]] removes the worst artifact — a replayed doc
    * rejecting against its OWN index entry; an exactly-once sink would
    * close the rest.
    */
  def streamingIngest(docsStream: DataFrame, indexPath: String, admittedPath: String,
                      threshold: Double = 0.5): DataStreamWriter[Row] =
    docsStream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      ingestShard(batch, indexPath, threshold)
        .write.mode("append").parquet(admittedPath): Unit
    }

  // --- Bucketed index: the 100 TB form of the sink ---------------------
  //
  // The plain parquet index makes every per-ingest join on `shingle`
  // shuffle the INDEX side — the settled corpus — into the join's
  // partitioning, so ingest cost grows with the corpus, not the shard.
  // Writing the index BUCKETED (and sorted) by `shingle` inverts that:
  // the shard side shuffles into the index's bucketing and the index
  // streams bucket-aligned from disk — per-ingest shuffle is O(shard),
  // never O(corpus). A (doc_id, n_shingles) sizes sidecar is maintained
  // alongside so the report's size join reads one row per settled doc
  // instead of re-aggregating the shingle relation; the hot-shingle df is
  // likewise a bucket-local aggregate on the index side. (q46's bucketed
  // fact-fact join is the same layout argument applied to a query; this
  // is it applied to a MAINTAINED index.)

  private def shinglesTable(table: String) = table + "_shingles"
  private def sizesTable(table: String) = table + "_sizes"

  /** A managed table's directory — where its parameter sidecar lives
    * (Spark's readers ignore `_`-prefixed files inside table dirs, so the
    * sidecar rides along with the bucketed layout; compactions re-stamp
    * it because the staged-table rename moves the directory). */
  private def tableLocation(spark: SparkSession, tableName: String): String =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tableName)).location.toString

  /** Build and persist the bucketed index + sizes sidecar (overwrite). */
  def writeShingleIndexBucketed(docs: DataFrame, table: String,
                                nBuckets: Int = 32,
                                shOpt: Option[DataFrame] = None): Unit = {
    val spark = docs.sparkSession
    // the settled-corpus shingle relation feeds TWO writes (index +
    // sizes sidecar) — scratch-parquet spill, not a corpus-sized
    // executor-storage pin (the q88/q123 discipline); a leaf slice is
    // already parquet-backed, so it skips the spill outright
    val sh = shOpt.getOrElse(graft.sources.Sources.spillScratch(
      Dedup.docShingles(docs), "shidx_bootstrap"))
    graft.sources.Sources.resetWarehouseTable(spark, shinglesTable(table))
    graft.sources.Sources.resetWarehouseTable(spark, sizesTable(table))
    sh.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, "shingle").sortBy("shingle")
      .saveAsTable(shinglesTable(table))
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      .write.mode("overwrite").format("parquet").saveAsTable(sizesTable(table))
    graft.sources.Sources.writeIndexMeta(spark,
      tableLocation(spark, shinglesTable(table)),
      shingleMeta(Dedup.DefaultShingleN))
  }

  /** Append a shard's shingles + sizes to the bucketed index. The append
    * must restate the bucket spec (Spark validates it against the table);
    * each append adds one file set per bucket — compaction cadence is the
    * operator's call, the join stays bucket-aligned regardless. */
  def appendShingleIndexBucketed(docs: DataFrame, table: String,
                                 nBuckets: Int = 32): Unit = {
    graft.sources.Sources.requireIndexMeta(docs.sparkSession,
      tableLocation(docs.sparkSession, shinglesTable(table)),
      shingleMeta(Dedup.DefaultShingleN))
    val sh = Dedup.docShingles(docs).localCheckpoint(true)
    sh.write.mode("append").format("parquet")
      .bucketBy(nBuckets, "shingle").sortBy("shingle")
      .saveAsTable(shinglesTable(table))
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      .write.mode("append").format("parquet").saveAsTable(sizesTable(table))
  }

  /** Compact the bucketed index in place: rewrite the shingle table with
    * ONE file per bucket and re-derive the sizes sidecar from the rewritten
    * relation. [[appendShingleIndexBucketed]] adds a file set per bucket
    * per ingest, so after K ticks every candidate SMJ opens K files per
    * bucket and small-file overhead compounds — a continuously-ingesting
    * pipeline hits this within days; this is the maintenance verb that
    * resets it. Row-preserving by contract: compaction changes LAYOUT
    * (file count, intra-bucket sort), never content, so the next report is
    * bit-identical (the spec pins it).
    *
    * Mechanics: the explicit `repartition(nBuckets, shingle)` uses the
    * SAME murmur3-pmod hash family as the bucketBy writer, so each output
    * task holds exactly one bucket's rows and writes exactly one file —
    * without it every task writes a sliver of every bucket and the rewrite
    * re-creates the small-file problem it exists to fix. The compacted
    * relation is staged under a scratch table name, then swapped in by
    * catalog rename (the staged table keeps its bucket spec through the
    * rename, so the Exchange-free join shape survives — pinned by spec).
    * The swap is rename-aside + rename-in ([[graft.sources.Sources
    * .swapTableIn]], r15): the live table is never dropped before its
    * replacement is published, so a crash at any instant leaves the full
    * store under the live name or the _retiring name — the verb rolls a
    * torn attempt back on entry (spec-pinned), and the only residual
    * window is name-visibility between two atomic catalog ops. A
    * transactional metastore would close even that.
    *
    * Scope: this verb targets the UNPARTITIONED bucketed index
    * ([[writeShingleIndexBucketed]]). The exactly-once table
    * ([[writeShingleIndexBucketedXO]]) additionally partitions by
    * ingest_batch, and compacting it correctly must fold only batches the
    * streaming checkpoint has COMMITTED into the settled partition
    * (batch −1) while leaving later partitions intact — a replayable
    * in-flight batch whose partition was folded away would re-admit
    * against a corpus that silently absorbed it. That fold needs the
    * checkpoint's committed-offset knowledge, which lives with the
    * operator of the stream, not this library verb.
    */
  def compactShingleIndexBucketed(spark: SparkSession, table: String,
                                  nBuckets: Int = 32): Unit = {
    val shT = shinglesTable(table)
    val szT = sizesTable(table)
    // a prior attempt may have crashed between its two renames: the live
    // name missing, the full store under _retiring — roll it back first
    graft.sources.Sources.recoverTableSwap(spark, shT)
    graft.sources.Sources.recoverTableSwap(spark, szT)
    val stagedSh = shT + "_compacting"
    val stagedSz = szT + "_compacting"
    graft.sources.Sources.resetWarehouseTable(spark, stagedSh)
    graft.sources.Sources.resetWarehouseTable(spark, stagedSz)
    // read the table's FILES, not the table: the catalog's bucket metadata
    // makes the planner treat repartition-by-shingle as already satisfied
    // and drop the shuffle, while the actual scan packs small files into
    // partitions that MIX buckets — the rewrite would then re-emit one
    // file set per task per bucket (measured: 4 tasks × 4 buckets from a
    // 4-bucket source). A plain parquet scan carries no partitioning
    // claim, so the aligning shuffle stays in the plan.
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(shT))
    spark.read.schema(spark.table(shT).schema).parquet(meta.location.toString)
      .repartition(nBuckets, col("shingle"))
      .write.format("parquet")
      .bucketBy(nBuckets, "shingle").sortBy("shingle")
      .saveAsTable(stagedSh)
    // sizes re-derived from the staged relation (not merged from the K
    // per-tick appends): count-per-doc over what was ACTUALLY rewritten,
    // so the sidecar can never drift from the table it describes
    spark.table(stagedSh)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      .write.format("parquet").saveAsTable(stagedSz)
    for ((staged, dst) <- Seq(stagedSh -> shT, stagedSz -> szT))
      graft.sources.Sources.swapTableIn(spark, staged, dst)
    // the rename moved the table to a fresh directory — re-stamp the
    // parameter sidecar the compaction's layout rewrite did not carry
    graft.sources.Sources.writeIndexMeta(spark, tableLocation(spark, shT),
      shingleMeta(Dedup.DefaultShingleN))
  }

  /** The per-shard report against the BUCKETED index — identical contract
    * to [[reportFor]], different physics: candidate generation sort-merge
    * joins against the bucketed shingle table with no index-side
    * Exchange; per-doc sizes come from the sidecar; corpus-wide hotness
    * is the sum of a bucket-local index aggregate and the shard's own df
    * (doc ids are disjoint across sides, so the two counts add exactly
    * like the union-aggregate of the plain path). */
  def reportForBucketed(newDocs: DataFrame, table: String,
                        threshold: Double = 0.5, dfCap: Int = 1000,
                        shNewOpt: Option[DataFrame] = None): DataFrame = {
    val spark = newDocs.sparkSession
    graft.sources.Sources.requireIndexMeta(spark,
      tableLocation(spark, shinglesTable(table)),
      shingleMeta(Dedup.DefaultShingleN))
    val index = spark.table(shinglesTable(table))
    val shN = shNewOpt.getOrElse(
      Dedup.docShingles(newDocs).localCheckpoint(true))
    val dfI = index.groupBy(col("shingle")).agg(count(lit(1)).as("dfi"))
    val dfN = shN.groupBy(col("shingle")).agg(count(lit(1)).as("dfn"))
    val hot = dfI.join(dfN, Seq("shingle"), "full_outer")
      .filter(coalesce(col("dfi"), lit(0L)) + coalesce(col("dfn"), lit(0L)) > dfCap)
      .select(col("shingle"))
    Dedup.jaccardPairsAcross(shN, index, hot,
        col("doc_a") =!= col("doc_b"), threshold,
        sizesBOpt = Some(spark.table(sizesTable(table))))
      .groupBy(col("doc_a").as("doc_id"))
      .agg(max(col("jaccard")).as("max_jaccard"),
        count(lit(1)).as("n_matches"))
  }

  /** One full ingest tick against the BUCKETED index — [[ingestShard]]
    * with the O(shard) shuffle profile; the [[streamingIngest]]
    * foreachBatch shape applies to this verb unchanged. */
  def ingestShardBucketed(newDocs: DataFrame, table: String,
                          threshold: Double = 0.5, nBuckets: Int = 32): DataFrame = {
    val admitted = newDocs.join(
        reportForBucketed(newDocs, table, threshold).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    appendShingleIndexBucketed(admitted, table, nBuckets)
    admitted
  }

  // --- Winnowed fingerprint index: the >1M-doc form of the sink ---------
  //
  // D9 persists full shingles; past [[Dedup.MaxFullIndexDocs]] the router
  // (D10) generates candidates from winnowed fingerprints instead — so the
  // INCREMENTAL index at that scale should be the fingerprint index: the
  // same 8-byte-key inverted index the batch route builds per run, kept
  // in a durable sink — fixed-width long keys (cheaper join hashing, ~2×
  // narrower rows than shingle strings), row count ∝ 1/(w+1) and tunable
  // by w, candidate sets bounded by the ≥2-shared-fp rule (Dedup.winnow
  // documents the honest size relation vs the token-shingle index).
  // Scoring stays EXACT full-shingle Jaccard: fingerprints
  // nominate candidates, then the few candidate settled docs are looked up
  // in the corpus store and re-shingled — the corpus-sized shingle
  // relation is never materialized, only the candidate slice.

  /** Build and persist the fingerprint index of `docs` (overwrite); the
    * winnowing geometry (k, w) lands in the sink's parameter sidecar. */
  def writeFpIndex(docs: DataFrame, path: String,
                   k: Int = 16, w: Int = 8,
                   fpOpt: Option[DataFrame] = None): Unit = {
    // fpOpt: the docs' (doc_id, fp) relation already materialized at
    // (k, w) — e.g. an id-slice of the session winnow leaf
    fpOpt.getOrElse(Dedup.winnowingFingerprints(docs, k, w))
      .write.mode("overwrite").parquet(path)
    graft.sources.Sources.writeIndexMeta(docs.sparkSession, path, fpMeta(k, w))
  }

  /** Append a shard's fingerprints to the index sink (sidecar-checked:
    * a different (k, w) than the sink was written with fails loudly). */
  def appendFpIndex(docs: DataFrame, path: String,
                    k: Int = 16, w: Int = 8): Unit = {
    graft.sources.Sources.requireIndexMeta(docs.sparkSession, path, fpMeta(k, w))
    Dedup.winnowingFingerprints(docs, k, w).write.mode("append").parquet(path)
  }

  private def fpsTable(table: String) = table + "_fps"

  /** Bootstrap the BUCKETED fingerprint index — the >1M-doc sink at the
    * O(shard) shuffle profile: bucketed + sorted by `fp`, so the candidate
    * equi-join streams the index side with no Exchange and the corpus-wide
    * hotness df aggregates bucket-locally, exactly the
    * [[writeShingleIndexBucketed]] layout argument applied to the
    * fingerprint keyspace (8-byte fixed-width keys make the bucket hash
    * and the SMJ compare cheaper still). */
  def writeFpIndexBucketed(docs: DataFrame, table: String,
                           nBuckets: Int = 32, k: Int = 16, w: Int = 8,
                           fpOpt: Option[DataFrame] = None): Unit = {
    val spark = docs.sparkSession
    graft.sources.Sources.resetWarehouseTable(spark, fpsTable(table))
    fpOpt.getOrElse(Dedup.winnowingFingerprints(docs, k, w))
      .write.format("parquet").bucketBy(nBuckets, "fp").sortBy("fp")
      .saveAsTable(fpsTable(table))
    graft.sources.Sources.writeIndexMeta(spark,
      tableLocation(spark, fpsTable(table)), fpMeta(k, w))
  }

  /** Append a shard's fingerprints to the bucketed index (one file set per
    * bucket per ingest — [[compactFpIndexBucketed]] is the reset). */
  def appendFpIndexBucketed(docs: DataFrame, table: String,
                            nBuckets: Int = 32, k: Int = 16, w: Int = 8): Unit = {
    graft.sources.Sources.requireIndexMeta(docs.sparkSession,
      tableLocation(docs.sparkSession, fpsTable(table)), fpMeta(k, w))
    Dedup.winnowingFingerprints(docs, k, w)
      .write.mode("append").format("parquet")
      .bucketBy(nBuckets, "fp").sortBy("fp")
      .saveAsTable(fpsTable(table))
  }

  /** [[compactShingleIndexBucketed]] for the fingerprint table: rewrite to
    * one file per bucket, content-preserving (no sizes sidecar here — the
    * fp report derives sizes from the corpus store's candidate slice). */
  def compactFpIndexBucketed(spark: SparkSession, table: String,
                             nBuckets: Int = 32): Unit = {
    val fpT = fpsTable(table)
    graft.sources.Sources.recoverTableSwap(spark, fpT)
    val staged = fpT + "_compacting"
    graft.sources.Sources.resetWarehouseTable(spark, staged)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(fpT))
    spark.read.schema(spark.table(fpT).schema).parquet(meta.location.toString)
      .repartition(nBuckets, col("fp"))
      .write.format("parquet").bucketBy(nBuckets, "fp").sortBy("fp")
      .saveAsTable(staged)
    val params = graft.sources.Sources.readIndexMeta(spark,
      meta.location.toString)
    graft.sources.Sources.swapTableIn(spark, staged, fpT)
    // carry the (k, w) stamp across the directory move — layout changed,
    // geometry didn't
    if (params.nonEmpty)
      graft.sources.Sources.writeIndexMeta(spark,
        tableLocation(spark, fpT), params)
  }

  /** [[reportForFpIndex]] against the BUCKETED fingerprint table: same
    * contract, O(shard) shuffle — the index-side df aggregate and the
    * candidate join both run bucket-aligned (plan-pinned by spec), and
    * hotness is the sum of the bucket-local index df and the shard's own
    * df (doc ids are disjoint across sides, as in [[reportForBucketed]]).
    */
  def reportForFpIndexBucketed(newDocs: DataFrame, table: String,
                               settledDocs: DataFrame, threshold: Double = 0.5,
                               k: Int = 16, w: Int = 8, minSharedFp: Int = 2,
                               dfCap: Int = 1000,
                               shOpt: Option[DataFrame] = None,
                               fpOpt: Option[DataFrame] = None): DataFrame =
    fpScoreCandidates(newDocs,
      fpCandidatesBucketed(newDocs, table, k, w, minSharedFp, dfCap, fpOpt)
        .localCheckpoint(true),
      settledDocs, threshold, shOpt)

  /** The bucketed report's candidate stage, visible pre-checkpoint so the
    * layout spec can pin its plan (the report eagerly materializes it —
    * the executed report plan only shows the scoring tail). */
  private[graft] def fpCandidatesBucketed(newDocs: DataFrame, table: String,
                                          k: Int = 16, w: Int = 8,
                                          minSharedFp: Int = 2,
                                          dfCap: Int = 1000,
                                          fpOpt: Option[DataFrame] = None): DataFrame = {
    val spark = newDocs.sparkSession
    graft.sources.Sources.requireIndexMeta(spark,
      tableLocation(spark, fpsTable(table)), fpMeta(k, w))
    val fpIndex = spark.table(fpsTable(table))
    // a leaf slice is parquet-backed — no executor-storage pin needed
    val fpN = fpOpt.getOrElse(
      Dedup.winnowingFingerprints(newDocs, k, w).localCheckpoint(true))
    val dfI = fpIndex.groupBy(col("fp")).agg(count(lit(1)).as("dfi"))
    val dfN = fpN.groupBy(col("fp")).agg(count(lit(1)).as("dfn"))
    val hot = dfI.join(dfN, Seq("fp"), "full_outer")
      .filter(coalesce(col("dfi"), lit(0L)) + coalesce(col("dfn"), lit(0L)) > dfCap)
      .select(col("fp"))
    fpCandidatesWithHot(fpN, fpIndex, hot, minSharedFp)
  }

  /** One ingest tick against the bucketed fingerprint index —
    * [[ingestShardWinnowed]] at the O(shard) shuffle profile. */
  def ingestShardWinnowedBucketed(newDocs: DataFrame, table: String,
                                  corpusPath: String, threshold: Double = 0.5,
                                  nBuckets: Int = 32,
                                  k: Int = 16, w: Int = 8): DataFrame = {
    val rep = reportForFpIndexBucketed(newDocs, table,
      newDocs.sparkSession.read.parquet(corpusPath), threshold, k, w)
    val admitted = newDocs
      .join(rep.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    appendFpIndexBucketed(admitted, table, nBuckets, k, w)
    admitted.write.mode("append").parquet(corpusPath)
    admitted
  }

  /** Cross-side candidate pairs from the fingerprint index: (doc_a = new
    * doc, doc_b = indexed doc) sharing ≥ `minShared` non-hot fingerprints.
    * Hotness is corpus-wide (index ∪ shard df), mirroring
    * [[pairsAgainstIndex]]; `minShared` = 2 rejects single-coincidence
    * pairs — the dominant candidate mass on a common-vocabulary corpus —
    * exactly as the batch route does (Dedup.winnowCandidateJaccardPairsFor).
    */
  private[operators] def fpCandidatesAgainstIndex(
      fpNew: DataFrame, fpIndex: DataFrame,
      dfCap: Int = 1000, minShared: Int = 2): DataFrame = {
    val hot = fpNew.unionByName(fpIndex)
      .groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("fp"))
    fpCandidatesWithHot(fpNew, fpIndex, hot, minShared)
  }

  /** Candidate core shared by the plain and bucketed fp reports; `hot`
    * computation differs (the union-aggregate above would shuffle a
    * bucketed index — the bucketed report sums two side-local dfs
    * instead, exactly as [[reportForBucketed]] does for shingles). */
  private def fpCandidatesWithHot(fpNew: DataFrame, fpIndex: DataFrame,
                                  hot: DataFrame, minShared: Int): DataFrame = {
    val rareN = fpNew.join(broadcast(hot), Seq("fp"), "left_anti")
    val rareI = fpIndex.join(broadcast(hot), Seq("fp"), "left_anti")
    rareN.select(col("doc_id").as("doc_a"), col("fp"))
      .join(rareI.select(col("doc_id").as("doc_b"), col("fp")), Seq("fp"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_a"), col("doc_b"))
  }

  /** The per-shard report against the FINGERPRINT index — [[reportFor]]'s
    * contract with D10's candidate generation: fingerprints nominate, the
    * candidate settled docs are fetched from `settledDocs` (the corpus
    * store — in a real pipeline, the training-data sink itself) by
    * semi-join, and ONLY those docs are re-shingled for the exact Jaccard.
    * The corpus store is read but never corpus-shingled: per ingest the
    * shingling cost is O(shard + candidates), the join cost O(shard-fp ×
    * index-fp on shared keys) — both independent of corpus text volume.
    */
  def reportForFpIndex(newDocs: DataFrame, fpIndex: DataFrame,
                       settledDocs: DataFrame, threshold: Double = 0.5,
                       k: Int = 16, w: Int = 8, minSharedFp: Int = 2,
                       dfCap: Int = 1000,
                       shOpt: Option[DataFrame] = None,
                       fpOpt: Option[DataFrame] = None): DataFrame = {
    val fpN = fpOpt.getOrElse(
      Dedup.winnowingFingerprints(newDocs, k, w).localCheckpoint(true))
    // eagerly pinned: the candidate set feeds both the corpus semi-join
    // and the scoring join
    val cand = fpCandidatesAgainstIndex(fpN, fpIndex, dfCap, minSharedFp)
      .localCheckpoint(true)
    fpScoreCandidates(newDocs, cand, settledDocs, threshold, shOpt)
  }

  /** Exact-scoring tail shared by the plain and bucketed fp reports: fetch
    * ONLY the candidate settled docs from the corpus store, re-shingle
    * that slice, score exact full-shingle Jaccard. */
  private def fpScoreCandidates(newDocs: DataFrame, cand: DataFrame,
                                settledDocs: DataFrame,
                                threshold: Double,
                                shOpt: Option[DataFrame] = None): DataFrame = {
    // shOpt: the WHOLE corpus's shingle relation (the session leaf) — the
    // candidate-slice and shard shingles are exact id-slices of it, so
    // neither side is re-tokenized; the fallback tokenizes only the
    // candidate slice and the shard, exactly as before
    val candIds = cand.select(col("doc_b").as("doc_id")).distinct()
    val shCand = shOpt.map(_.join(candIds, Seq("doc_id"), "left_semi"))
      .getOrElse(Dedup.docShingles(
        settledDocs.join(candIds, Seq("doc_id"), "left_semi")))
    val shNew = shOpt.map(_.join(newDocs.select(col("doc_id")),
        Seq("doc_id"), "left_semi"))
      .getOrElse(Dedup.docShingles(newDocs))
    Dedup.jaccardForCandidates(
        cand, shNew.unionByName(shCand), threshold)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(max(col("jaccard")).as("max_jaccard"),
        count(lit(1)).as("n_matches"))
  }

  /** One ingest tick against the fingerprint index: report → admit →
    * append fingerprints to the index AND text to the corpus store (the
    * same sink [[reportForFpIndex]] re-scores from — admitted docs must
    * land there or the next tick's candidates have nothing to score
    * against). */
  def ingestShardWinnowed(newDocs: DataFrame, fpIndexPath: String,
                          corpusPath: String, threshold: Double = 0.5,
                          k: Int = 16, w: Int = 8): DataFrame = {
    val spark = newDocs.sparkSession
    graft.sources.Sources.requireIndexMeta(spark, fpIndexPath, fpMeta(k, w))
    val rep = reportForFpIndex(newDocs, readShingleIndex(spark, fpIndexPath),
      spark.read.parquet(corpusPath), threshold, k, w)
    val admitted = newDocs
      .join(rep.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    appendFpIndex(admitted, fpIndexPath, k, w)
    admitted.write.mode("append").parquet(corpusPath)
    admitted
  }

  // --- Exactly-once ingest: idempotent replay --------------------------
  //
  // [[streamingIngest]]'s plain appends are at-least-once: a replayed
  // batch duplicates admitted rows, and a doc admitted alongside an
  // intra-batch near-dup flips to rejected on replay (its twin is now
  // indexed). The exactly-once form removes both by construction:
  //   - both sinks are PARTITIONED by ingest_batch, and each batch
  //     OVERWRITES its own partition (dynamic partition overwrite) — a
  //     replay rewrites the same files instead of appending beside them;
  //   - the index read EXCLUDES the current batch's own partition, so the
  //     report is computed against exactly the pre-batch index whether or
  //     not a prior attempt got as far as appending — the recompute is
  //     deterministic, hence the overwrite is byte-identical.
  // No manifest is needed: idempotence comes from deterministic recompute
  // + self-partition overwrite, the same idea as Spark's own
  // FileStreamSink log but expressed in the table layout.

  /** Bootstrap the batch-partitioned shingle index (batch −1 = the settled
    * corpus). */
  def writeShingleIndexPartitioned(docs: DataFrame, path: String): Unit = {
    Dedup.docShingles(docs).withColumn("ingest_batch", lit(-1L))
      .write.partitionBy("ingest_batch").mode("overwrite").parquet(path)
    graft.sources.Sources.writeIndexMeta(docs.sparkSession, path,
      shingleMeta(Dedup.DefaultShingleN))
  }

  /** One idempotent ingest tick: report against every OTHER batch's index
    * partitions, admit, overwrite this batch's own partition in both
    * sinks. Safe to re-run with the same `batchId` any number of times —
    * each run recomputes the same admitted set and rewrites the same
    * partition directories. */
  def ingestShardIdempotent(batch: DataFrame, batchId: Long, indexPath: String,
                            admittedPath: String, threshold: Double = 0.5): DataFrame = {
    val spark = batch.sparkSession
    graft.sources.Sources.requireIndexMeta(spark, indexPath,
      shingleMeta(Dedup.DefaultShingleN))
    val index = spark.read.parquet(indexPath)
      .filter(col("ingest_batch") =!= batchId)
      .select(col("doc_id"), col("shingle"))
    val admitted = batch
      .join(reportFor(batch, index, threshold).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .localCheckpoint(true) // pinned BEFORE the writes below
    def overwriteOwnPartition(df: DataFrame, path: String): Unit =
      df.withColumn("ingest_batch", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch").parquet(path)
    overwriteOwnPartition(Dedup.docShingles(admitted), indexPath)
    overwriteOwnPartition(admitted, admittedPath)
    admitted
  }

  /** [[streamingIngest]] with exactly-once replay semantics: the
    * foreachBatch body is [[ingestShardIdempotent]] keyed by Spark's own
    * batchId, so a batch replayed after a crash — whatever it managed to
    * persist before dying — reproduces the no-failure sinks byte for
    * byte (kill-and-replay pinned by spec). */
  def streamingIngestExactlyOnce(docsStream: DataFrame, indexPath: String,
                                 admittedPath: String,
                                 threshold: Double = 0.5): DataStreamWriter[Row] =
    docsStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ingestShardIdempotent(batch, batchId, indexPath, admittedPath, threshold): Unit
    }

  // --- Exactly-once × bucketed: the 100 TB ingest loop ------------------
  //
  // The two scale properties composed: the index table is PARTITIONED by
  // ingest_batch AND BUCKETED by shingle, so per-ingest the candidate SMJ
  // still streams the index bucket-aligned (O(shard) shuffle), and replay
  // is idempotent by COMPENSATION — each attempt first deletes its own
  // batch's partition directories (deterministically named by batch id),
  // so however far a crashed attempt got, the recompute runs against
  // exactly the pre-batch index and the re-append rebuilds the same
  // partition. The admitted sink overwrites its own partition as in
  // [[ingestShardIdempotent]]. Unlike the plain exactly-once form (which
  // filters its own partition out at read), the bucketed form compensates
  // up front because a bucketed table append cannot be partition-
  // overwritten through the writer API — deleting the deterministic
  // partition dir is the transactionally-equivalent move.

  /** Bootstrap the batch-partitioned bucketed index (+sizes sidecar);
    * batch −1 = the settled corpus. */
  def writeShingleIndexBucketedXO(docs: DataFrame, table: String,
                                  nBuckets: Int = 32,
                                  shOpt: Option[DataFrame] = None): Unit = {
    val spark = docs.sparkSession
    // corpus-sized bootstrap relation, two consumers: spill, don't pin
    // (see writeShingleIndexBucketed); leaf slices skip the spill
    val sh = shOpt.getOrElse(graft.sources.Sources.spillScratch(
      Dedup.docShingles(docs), "shidx_xo_bootstrap"))
    graft.sources.Sources.resetWarehouseTable(spark, shinglesTable(table))
    graft.sources.Sources.resetWarehouseTable(spark, sizesTable(table))
    sh.withColumn("ingest_batch", lit(-1L))
      .write.format("parquet").partitionBy("ingest_batch")
      .bucketBy(nBuckets, "shingle").sortBy("shingle")
      .saveAsTable(shinglesTable(table))
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      .withColumn("ingest_batch", lit(-1L))
      .write.format("parquet").partitionBy("ingest_batch")
      .saveAsTable(sizesTable(table))
    graft.sources.Sources.writeIndexMeta(spark,
      tableLocation(spark, shinglesTable(table)),
      shingleMeta(Dedup.DefaultShingleN))
  }

  /** Delete one batch's partition directory of a managed table and refresh
    * the table's file listing — the compensation step of the bucketed
    * exactly-once tick. */
  private def dropBatchPartition(spark: SparkSession, tableName: String,
                                 batchId: Long): Unit = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tableName)).location)
    val dir = new org.apache.hadoop.fs.Path(loc, s"ingest_batch=$batchId")
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
    spark.catalog.refreshTable(tableName)
  }

  /** One idempotent ingest tick against the BUCKETED index: compensate
    * (drop own partitions) → report (bucket-aligned SMJ, O(shard)
    * shuffle) → admit → append own partition to index + sizes → overwrite
    * own partition of the admitted sink. Safe to re-run with the same
    * `batchId` any number of times. */
  def ingestShardBucketedXO(batch: DataFrame, batchId: Long, table: String,
                            admittedPath: String, threshold: Double = 0.5,
                            nBuckets: Int = 32,
                            shOpt: Option[DataFrame] = None): DataFrame = {
    val spark = batch.sparkSession
    if (batchId <= settledWatermark(spark, table)) {
      // replay of a batch already FOLDED into the settled partition: its
      // partition dirs no longer exist to compensate, and recomputing
      // would score the batch against its own now-settled rows — flagging
      // intra-batch near-dup co-admissions against each other — then
      // append a duplicate row set. The watermark is the caller's promise
      // the batch was committed, so the no-failure outcome already stands:
      // return the persisted admitted partition unchanged.
      return spark.read.parquet(admittedPath)
        .filter(col("ingest_batch") === batchId).drop("ingest_batch")
    }
    for (t <- Seq(shinglesTable(table), sizesTable(table)))
      dropBatchPartition(spark, t, batchId)
    val rep = reportForBucketed(batch, table, threshold, shNewOpt = shOpt)
    val admitted = batch
      .join(rep.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint(true) // pinned BEFORE the writes below
    // admitted ⊆ batch, so its shingles are an id-slice of the shard's
    // relation when one was supplied (semi-join against the PINNED
    // admitted ids — the leaf is parquet-backed, no self-observation)
    val sh = shOpt.map(_.join(admitted.select(col("doc_id")),
        Seq("doc_id"), "left_semi"))
      .getOrElse(Dedup.docShingles(admitted).localCheckpoint(true))
    sh.withColumn("ingest_batch", lit(batchId))
      .write.mode("append").format("parquet").partitionBy("ingest_batch")
      .bucketBy(nBuckets, "shingle").sortBy("shingle")
      .saveAsTable(shinglesTable(table))
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      .withColumn("ingest_batch", lit(batchId))
      .write.mode("append").format("parquet").partitionBy("ingest_batch")
      .saveAsTable(sizesTable(table))
    admitted.withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch").parquet(admittedPath)
    admitted
  }

  private def watermarkTable(table: String) = table + "_watermark"

  /** Highest batch id folded into the settled partition by
    * [[compactShingleIndexBucketedXO]]; −1 until a compaction has run
    * (the bootstrap partition is batch −1 by construction). */
  def settledWatermark(spark: SparkSession, table: String): Long =
    if (spark.catalog.tableExists(watermarkTable(table)))
      spark.table(watermarkTable(table))
        .agg(max(col("settled_through"))).head().getLong(0)
    else -1L

  /** Compact the exactly-once bucketed index: fold every batch partition
    * with `ingest_batch <= settledThrough` into the settled partition
    * (batch −1) at one file per bucket, leave later partitions intact, and
    * record `settledThrough` in a watermark sidecar. The caller supplies
    * the watermark because COMMITTED-ness is checkpoint knowledge the
    * library doesn't hold (see [[compactShingleIndexBucketed]]'s scope
    * note): fold only batches the streaming checkpoint has committed —
    * [[ingestShardBucketedXO]] then treats a replay at or below the
    * watermark as a no-op, because its partition dirs no longer exist to
    * compensate and its rows already stand as settled corpus. Folding an
    * UNcommitted batch would therefore freeze a possibly-partial attempt
    * into the corpus — the watermark is the caller's promise that can't
    * happen. Content contract matches the plain compaction: layout and
    * batch attribution change, the (doc_id, shingle) row set doesn't, so
    * the next report is bit-identical (spec-pinned).
    */
  def compactShingleIndexBucketedXO(spark: SparkSession, table: String,
                                    settledThrough: Long,
                                    nBuckets: Int = 32): Unit = {
    val prior = settledWatermark(spark, table)
    require(settledThrough >= prior,
      s"watermark must be monotonic: $settledThrough < committed $prior")
    val shT = shinglesTable(table)
    val szT = sizesTable(table)
    graft.sources.Sources.recoverTableSwap(spark, shT)
    graft.sources.Sources.recoverTableSwap(spark, szT)
    val stagedSh = shT + "_compacting"
    val stagedSz = szT + "_compacting"
    graft.sources.Sources.resetWarehouseTable(spark, stagedSh)
    graft.sources.Sources.resetWarehouseTable(spark, stagedSz)
    // file-level read for the same reason as the plain compaction: the
    // catalog's bucket claim would elide the aligning shuffle. Partition
    // discovery re-derives ingest_batch from the dir names; the explicit
    // schema keeps its type LONG (discovery would infer int).
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(shT))
    val folded = spark.read.schema(spark.table(shT).schema)
      .parquet(meta.location.toString)
      .withColumn("ingest_batch",
        when(col("ingest_batch") <= settledThrough, lit(-1L))
          .otherwise(col("ingest_batch")))
    folded.repartition(nBuckets, col("shingle"))
      .write.format("parquet").partitionBy("ingest_batch")
      .bucketBy(nBuckets, "shingle").sortBy("shingle")
      .saveAsTable(stagedSh)
    // sizes folded from the EXISTING sidecar by pure aggregation — the
    // q211 zone-compaction discipline: per-doc counts are an algebraic
    // monoid over the batch remap (each doc's shingles live in exactly
    // one batch, so the fold only re-attributes ingest_batch), which
    // keeps the compactor's sizes leg O(docs) metadata instead of a
    // second O(corpus) scan of the staged shingle relation. Content is
    // identical (the compaction test pins report equality through it).
    val szMeta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(szT))
    spark.read.schema(spark.table(szT).schema)
      .parquet(szMeta.location.toString)
      .withColumn("ingest_batch",
        when(col("ingest_batch") <= settledThrough, lit(-1L))
          .otherwise(col("ingest_batch")))
      .groupBy(col("doc_id"), col("ingest_batch"))
      .agg(sum(col("n_shingles")).as("n_shingles"))
      .select(col("doc_id"), col("n_shingles"), col("ingest_batch"))
      .write.format("parquet").partitionBy("ingest_batch")
      .saveAsTable(stagedSz)
    for ((staged, dst) <- Seq(stagedSh -> shT, stagedSz -> szT)) {
      graft.sources.Sources.swapTableIn(spark, staged, dst)
      // the rename moves the DIRECTORY but the catalog's partition
      // entries still point at the staged location — recover them from
      // the moved dir or the table reads as empty
      spark.catalog.recoverPartitions(dst)
    }
    graft.sources.Sources.writeIndexMeta(spark, tableLocation(spark, shT),
      shingleMeta(Dedup.DefaultShingleN))
    graft.sources.Sources.resetWarehouseTable(spark, watermarkTable(table))
    spark.range(1).select(lit(settledThrough).as("settled_through"))
      .write.format("parquet").saveAsTable(watermarkTable(table))
  }

  /** The streaming form: [[streamingIngestExactlyOnce]]'s replay contract
    * at [[ingestShardBucketedXO]]'s shuffle profile. */
  def streamingIngestBucketedXO(docsStream: DataFrame, table: String,
                                admittedPath: String, threshold: Double = 0.5,
                                nBuckets: Int = 32): DataStreamWriter[Row] =
    docsStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ingestShardBucketedXO(batch, batchId, table, admittedPath,
        threshold, nBuckets): Unit
    }

  /** q66 fixture entry: q64's split and oracle, forced through the
    * bucketed index — the layout's shuffle inversion is re-proven against
    * the same batch oracle every harness run. */
  def incrementalDedupReportBucketed(spark: SparkSession, dir: String,
                                     threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isNew = col("doc_id") % 7 === 0
    val leaf = Dedup.ensureDocShingles(spark, dir)
    // bootstrap once per session (read-only sink, deterministic content —
    // the q64 ensure-once discipline applied to the bucketed table)
    val table = graft.sources.Sources.ensureTable(spark, "shidxb", dir) {
      t => writeShingleIndexBucketed(docs.filter(!isNew), t,
        shOpt = Some(leaf.filter(!isNew)))
    }
    // the shard's probe relation is an id-slice of the same leaf — the
    // shard is not re-tokenized either (q64 discipline)
    reportForBucketed(docs.filter(isNew), table, threshold,
      shNewOpt = Some(leaf.filter(isNew)))
  }

  /** q64 fixture entry: settled corpus = doc_id % 7 ≠ 0, arriving shard =
    * the rest (~14%). The index is written once to a session scratch sink
    * and the shard dedups against the SINK — the corpus text is never
    * re-tokenized here at all: both the index bootstrap and the shard's
    * probe relation are id-slices of the session shingle leaf
    * ([[Dedup.ensureDocShingles]]). IncrementalDedupSpec pins the generic
    * [[reportFor]] path's only file scans to the index sink; the fixture
    * entry additionally reads the leaf store. */
  def incrementalDedupReport(spark: SparkSession, dir: String,
                             threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isNew = col("doc_id") % 7 === 0
    val leaf = Dedup.ensureDocShingles(spark, dir)
    // bootstrap once per session: the report never mutates the sink and
    // its content is a pure function of (dir, split) — re-writing the
    // identical index per invocation was pure fixture cost (r22)
    val path = graft.sources.Sources.ensureStore(spark, "shidx64", dir) {
      root => writeShingleIndex(docs.filter(!isNew), root,
        shOpt = Some(leaf.filter(!isNew)))
    }
    reportFor(docs.filter(isNew), readShingleIndex(spark, path), threshold,
      shNewOpt = Some(leaf.filter(isNew)))
  }

  /** q67 fixture entry: q64's split and oracle, with the FINGERPRINT index
    * as the persisted sink (the D9×D10 composition — what the incremental
    * loop runs past [[Dedup.MaxFullIndexDocs]] docs). Candidate recall of
    * the winnowed index is re-proven against the exact cross-split oracle
    * on every harness run, exactly as q65 re-proves the batch route. */
  def incrementalDedupReportWinnowed(spark: SparkSession, dir: String,
                                     threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isNew = col("doc_id") % 7 === 0
    // bootstrap + probe fingerprints are id-slices of the session winnow
    // leaf; the exact-scoring tail slices the shingle leaf (q64 discipline)
    val fpLeaf = Dedup.ensureWinnowFps(spark, dir)
    val path = graft.sources.Sources.ensureStore(spark, "fpidx67", dir) {
      root => writeFpIndex(docs.filter(!isNew), root,
        fpOpt = Some(fpLeaf.filter(!isNew)))
    }
    reportForFpIndex(docs.filter(isNew), readShingleIndex(spark, path),
      docs.filter(!isNew), threshold,
      shOpt = Some(Dedup.ensureDocShingles(spark, dir)),
      fpOpt = Some(fpLeaf.filter(isNew)))
  }

  /** q70 fixture entry: the bucketed exactly-once tick REPLAYED under the
    * oracle. The shard is ingested twice with the same batch id — attempt
    * then replay — and the ADMITTED SINK is returned: the oracle (shard
    * docs minus the cross-split report's flagged ids) is an exact row-set
    * compare, so a duplicated admitted row or a replay-flipped admission
    * fails the harness, not just a spec. */
  def incrementalDedupXOReplay(spark: SparkSession, dir: String,
                               threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isNew = col("doc_id") % 7 === 0
    val hex = graft.sources.Sources.dirTag(dir)
    val table = "graft_shidx_xo_" + hex + "_" +
      graft.sources.Sources.sessionTag(spark)
    val leaf = Dedup.ensureDocShingles(spark, dir)
    // the ticks mutate the table (partition drop + bucketed appends), so
    // the bootstrap builds ONCE per session into a _boot table pair and
    // each invocation clones files + catalog metadata onto its working
    // tables (deterministic content; the clone carries the bucket spec
    // and the parameter sidecar — the r21 lifecycle-clone pattern)
    val boot = graft.sources.Sources.ensureTable(spark, "xoboot", dir) {
      t => writeShingleIndexBucketedXO(docs.filter(!isNew), t,
        shOpt = Some(leaf.filter(!isNew)))
    }
    graft.sources.Sources.cloneTableOver(spark, shinglesTable(boot),
      shinglesTable(table))
    graft.sources.Sources.cloneTableOver(spark, sizesTable(boot),
      sizesTable(table))
    val admPath = graft.sources.Sources.scratchDirUnique(spark,
      "xo_admitted_" + hex)
    val shard = docs.filter(isNew)
    // the tick's probe + append shingles are id-slices of the same leaf
    val shardSh = Some(leaf.filter(isNew))
    ingestShardBucketedXO(shard, 0L, table, admPath, threshold, shOpt = shardSh)
    ingestShardBucketedXO(shard, 0L, table, admPath, threshold, shOpt = shardSh) // replay
    spark.read.parquet(admPath).select(col("doc_id"))
  }

  /** q78 fixture entry: q64's split and oracle through the BUCKETED
    * fingerprint index — D9×D10 with BOTH scale paths composed: the
    * >1M-doc fingerprint keyspace and the Exchange-free bucketed index
    * side. Same report contract, re-proven against the exact cross-split
    * oracle every harness run. */
  def incrementalDedupReportWinnowedBucketed(spark: SparkSession, dir: String,
                                             threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isNew = col("doc_id") % 7 === 0
    val fpLeaf = Dedup.ensureWinnowFps(spark, dir)
    val table = graft.sources.Sources.ensureTable(spark, "fpidxb", dir) {
      t => writeFpIndexBucketed(docs.filter(!isNew), t,
        fpOpt = Some(fpLeaf.filter(!isNew)))
    }
    reportForFpIndexBucketed(docs.filter(isNew), table, docs.filter(!isNew),
      threshold,
      shOpt = Some(Dedup.ensureDocShingles(spark, dir)),
      fpOpt = Some(fpLeaf.filter(isNew)))
  }

  /** q75 fixture entry: the exactly-once bucketed loop with a COMPACTION
    * folding tick 0 into the settled partition before tick 1, plus a
    * replay of the folded tick (a watermark-guard no-op). Settled corpus
    * = doc_id % 7 ≥ 2; tick 0 = doc_id % 7 = 0; tick 1 = doc_id % 7 = 1.
    * Returns the admitted sink across both ticks. The oracle replays the
    * cumulative loop in SQL, so a fold that changed a report, a replay
    * that re-admitted against its own folded rows, or a duplicate append
    * each fail the exact row-set compare — the compaction's "layout, not
    * content" contract is re-proven against the oracle every harness run.
    */
  def incrementalDedupXOCompacted(spark: SparkSession, dir: String,
                                  threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mod = col("doc_id") % 7
    val hex = graft.sources.Sources.dirTag(dir)
    val table = "graft_shidx_xoc_" + hex + "_" +
      graft.sources.Sources.sessionTag(spark)
    val leaf = Dedup.ensureDocShingles(spark, dir)
    // bootstrap once per session, clone per invocation (q70 pattern); the
    // watermark table resets too so EVERY invocation replays the full
    // lifecycle — bootstrap → tick 0 → compact → no-op replay → tick 1 —
    // instead of a second run short-circuiting on the first run's
    // watermark against a freshly reset index
    val boot = graft.sources.Sources.ensureTable(spark, "xocboot", dir) {
      t => writeShingleIndexBucketedXO(docs.filter(mod >= 2), t,
        shOpt = Some(leaf.filter(col("doc_id") % 7 >= 2)))
    }
    graft.sources.Sources.cloneTableOver(spark, shinglesTable(boot),
      shinglesTable(table))
    graft.sources.Sources.cloneTableOver(spark, sizesTable(boot),
      sizesTable(table))
    graft.sources.Sources.resetWarehouseTable(spark, watermarkTable(table))
    val admPath = graft.sources.Sources.scratchDirUnique(spark,
      "xoc_admitted_" + hex)
    val sh0 = Some(leaf.filter(col("doc_id") % 7 === 0))
    ingestShardBucketedXO(docs.filter(mod === 0), 0L, table, admPath, threshold,
      shOpt = sh0)
    compactShingleIndexBucketedXO(spark, table, settledThrough = 0L)
    // replay of the now-folded tick: the watermark guard makes it a no-op
    ingestShardBucketedXO(docs.filter(mod === 0), 0L, table, admPath, threshold,
      shOpt = sh0)
    ingestShardBucketedXO(docs.filter(mod === 1), 1L, table, admPath, threshold,
      shOpt = Some(leaf.filter(col("doc_id") % 7 === 1)))
    spark.read.parquet(admPath).select(col("doc_id"))
  }

  /** q69 fixture entry: THREE ingest ticks under the oracle — shards
    * doc_id % 7 ∈ {0, 1, 2} arrive in order against a settled corpus of
    * the rest, each tick's report is computed BEFORE its admissions extend
    * the index, and the union of per-tick reports is checked against a
    * DuckDB replay of the same cumulative loop. q64 proves one tick;
    * this row proves the APPEND feeds tick t+1 (a doc near-duplicating a
    * tick-0 admission must be flagged at tick 1 with the oracle agreeing).
    */
  def incrementalDedupMultiTick(spark: SparkSession, dir: String,
                                threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mod = col("doc_id") % 7
    val leaf = Dedup.ensureDocShingles(spark, dir)
    // the ticks APPEND to the index, so the session-shared bootstrap is a
    // read-only leaf and each invocation runs its ticks on a private file
    // clone (the r21 ANN-lifecycle pattern): bootstrap content is a pure
    // function of (dir, split), the clone is byte-identical state
    val boot = graft.sources.Sources.ensureStore(spark, "mtboot", dir) { p =>
      writeShingleIndex(docs.filter(mod >= 3), p,
        shOpt = Some(leaf.filter(col("doc_id") % 7 >= 3)))
    }
    val path = graft.sources.Sources.scratchDirUnique(spark, "shingle_index_mt")
    graft.sources.Sources.cloneStoreDir(spark, boot, path)
    multiTickReport((0 to 2).map(t => docs.filter(mod === t)), path, threshold,
      shSlices = Some((0 to 2).map(t => leaf.filter(col("doc_id") % 7 === t))))
  }

  /** The cumulative ingest loop over an ordered shard sequence: per tick,
    * report against the CURRENT index, admit the unflagged docs, append
    * their shingles — so tick t+1's index carries tick t's admissions.
    * Returns the union of per-tick reports with a `tick` column. Each
    * tick's report and admitted set are eagerly pinned before the append:
    * their lazy plans read the very index files the append extends. */
  def multiTickReport(shards: Seq[DataFrame], indexPath: String,
                      threshold: Double = 0.5, dfCap: Int = 1000,
                      shSlices: Option[Seq[DataFrame]] = None): DataFrame =
    shards.zipWithIndex.map { case (shard, t) =>
      val spark = shard.sparkSession
      graft.sources.Sources.requireIndexMeta(spark, indexPath,
        shingleMeta(Dedup.DefaultShingleN))
      val rep = reportFor(shard, readShingleIndex(spark, indexPath),
        threshold, dfCap,
        shNewOpt = shSlices.map(_(t))).localCheckpoint(true)
      val admitted = shard
        .join(rep.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      // admitted ⊆ shard: its shingles are the id-slice of the tick's
      // leaf slice (semi-join on the PINNED admitted ids — the leaf is
      // parquet-backed, no self-observation of the appended files)
      appendShingleIndex(admitted, indexPath,
        shOpt = shSlices.map(_(t).join(admitted.select(col("doc_id")),
          Seq("doc_id"), "left_semi")))
      rep.withColumn("tick", lit(t))
    }.reduce(_.unionByName(_))

  /** q117 — INCREMENTAL NOVELTY vs THE PERSISTED INDEX: q112's per-doc
    * novelty score with the reference corpus behind the D9 persisted
    * shingle index instead of an in-session relation — the "score the new
    * crawl against the settled corpus" tick a curation pipeline runs
    * before deciding what to keep. The settled docs persist ONCE
    * ([[writeShingleIndex]]); the arriving shard's distinct shingles
    * LEFT-join the index's pruned, distinct `shingle` column (the settled
    * corpus is never re-shingled — the one-sided-scan discipline of q64),
    * then one hash agg per shard doc. Novelty = fraction of the shard
    * doc's distinct shingles absent from the index.
    */
  def incrementalNoveltyReport(spark: SparkSession, dir: String,
                               n: Int = Dedup.DefaultShingleN): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isNew = col("doc_id") % 7 === 0
    val leafOpt = if (n == Dedup.DefaultShingleN)
        Some(Dedup.ensureDocShingles(spark, dir, n)) else None
    // read-only sink, deterministic content: build once per session
    val path = graft.sources.Sources.ensureStore(spark, "novidx",
        s"$dir|$n") { p =>
      writeShingleIndex(docs.filter(!isNew), p, n,
        shOpt = leafOpt.map(_.filter(!isNew)))
    }
    noveltyAgainstIndex(docs.filter(isNew), path, n)
  }

  /** The novelty PROBE against an existing shingle index — exposed
    * separately from the fixture entry so the probe-side width check has
    * a public surface: a probe whose `n` contradicts the index's sidecar
    * fails loudly here instead of reading as ~100% bogus novelty. */
  def noveltyAgainstIndex(newDocs: DataFrame, indexPath: String,
                          n: Int = Dedup.DefaultShingleN,
                          shNewOpt: Option[DataFrame] = None): DataFrame = {
    val spark = newDocs.sparkSession
    graft.sources.Sources.requireIndexMeta(spark, indexPath, shingleMeta(n))
    val ref = readShingleIndex(spark, indexPath)
      .select(col("shingle")).distinct().withColumn("seen", lit(1))
    shNewOpt.getOrElse(Dedup.docShingles(newDocs, n))
      .join(ref, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 0L).otherwise(1L)).as("n_seen"))
      .withColumn("novelty",
        round(lit(1.0) - col("n_seen").cast("double") / col("n_shingles"), 6))
  }

  /** q142 — INCREMENTAL CDC DEDUP: the D9 persisted-index discipline at
    * D23's content-defined-chunk grain — the tick that catches EDITED
    * boilerplate arriving against a settled corpus, which whole-doc
    * near-dup (q64's shingle Jaccard) under-weights and fixed blocks
    * miss after one inserted token. The settled corpus chunks ONCE into
    * a single-column distinct chunk-hash sink; each arriving shard
    * chunks in-row (the G5 pass), semi-joins the index on the 32-byte
    * hash, and rolls up per doc the settled-owned token fraction; the
    * DECIMAL-rounded gate (q92/q126 discipline) is the admission
    * verdict. `seed` is the chunking seed and must match between index
    * build and probe — the [[writeShingleIndex]] width lesson: a probe
    * at a different seed matches nothing and reads as fully novel, so
    * both verbs take it and the fixture entry threads one value through.
    *
    * Scale shape: index = ONE pruned column, distinct (map-side
    * combined); per tick the join shuffles the shard's chunk hashes and
    * only matching index hashes (semi-join shape); the bucketed layouts
    * of the shingle/fp family apply verbatim to this sink (same key
    * discipline, smaller rows). */
  def writeChunkHashIndex(docs: DataFrame, path: String,
                          seed: Long = 42L): Unit = {
    graft.operators.TextAnalysis.contentDefinedChunksFor(docs, seed)
      .select(col("chunk_hash")).distinct()
      .write.mode("overwrite").parquet(path)
    graft.sources.Sources.writeIndexMeta(docs.sparkSession, path,
      Map("cdc_seed" -> seed.toString))
  }

  /** Per-shard report against the persisted chunk-hash index: one row
    * per arriving doc with its chunk/token totals, the settled-owned
    * share, and the admission verdict. */
  def chunkDedupReportFor(newDocs: DataFrame, index: DataFrame,
                          tau: Double = 0.5, seed: Long = 42L): DataFrame =
    graft.operators.TextAnalysis.contentDefinedChunksFor(newDocs, seed)
      .join(index.select(col("chunk_hash")).distinct()
        .withColumn("settled", lit(true)), Seq("chunk_hash"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("settled"), 1L).otherwise(0L)).as("n_settled_chunks"),
        sum(when(col("settled"), col("n_tokens")).otherwise(0L))
          .as("settled_tokens"),
        sum(col("n_tokens")).as("total_tokens"))
      .withColumn("dropped",
        round((col("settled_tokens").cast("double") / col("total_tokens"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 18)), 6)
          .cast("double") >= tau)

  /** The D24 ingest loop (the [[ingestShard]] contract at chunk grain):
    * dedup the shard against the persisted chunk-hash index, admit the
    * docs below the gate, append ONLY the admitted docs' novel hashes to
    * the sink, return the admitted docs. The admitted set pins eagerly
    * (localCheckpoint — shard-bounded) before the append so the lazy
    * plan cannot observe the files it is about to write; intra-shard
    * duplicates of an admitted doc are caught on the next tick, the
    * settled-corpus-first contract [[ingestShard]] documents. */
  def chunkIngestShard(newDocs: DataFrame, indexPath: String,
                       tau: Double = 0.5, seed: Long = 42L): DataFrame = {
    val spark = newDocs.sparkSession
    graft.sources.Sources.requireIndexMeta(spark, indexPath,
      Map("cdc_seed" -> seed.toString))
    val index = spark.read.parquet(indexPath)
    val admitted = newDocs.join(
        chunkDedupReportFor(newDocs, index, tau, seed)
          .filter(col("dropped")).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    graft.operators.TextAnalysis.contentDefinedChunksFor(admitted, seed)
      .select(col("chunk_hash")).distinct()
      .join(index.select(col("chunk_hash")), Seq("chunk_hash"), "left_anti")
      .write.mode("append").parquet(indexPath)
    admitted
  }

  /** q142 fixture entry: q64's split (settled = doc_id % 7 ≠ 0, shard =
    * the rest), one seed threaded through index build and probe. */
  def chunkIncrementalDedupReport(spark: SparkSession, dir: String,
                                  tau: Double = 0.5,
                                  seed: Long = 42L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isNew = col("doc_id") % 7 === 0
    val path = graft.sources.Sources.scratchDir(spark,
      "chunk_index_" + graft.sources.Sources.dirTag(dir))
    writeChunkHashIndex(docs.filter(!isNew), path, seed)
    graft.sources.Sources.requireIndexMeta(spark, path,
      Map("cdc_seed" -> seed.toString))
    chunkDedupReportFor(docs.filter(isNew),
      spark.read.parquet(path), tau, seed)
  }
}
