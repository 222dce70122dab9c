package graft.streaming

import graft.functions.{TextFunctions => TF}
import graft.operators.{Dedup, IncrementalDedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q183 — STREAMING CORPUS RELEASE: the q179 capstone kept live while
  * ingest runs — the online form of the release pipeline (gates → exact
  * dedup → decontamination → near-dup vs the settled corpus → sharded
  * JSONL export), with each stage's state persisted so ticks are
  * restartable and exactly-once:
  *
  *   - GATES are per-row predicates ([[TextAnalysis.cascadePreds]]
  *     verbatim) — stateless.
  *   - EXACT dedup carries a content-hash index: a tick keeps its
  *     within-tick first occurrence (min doc_id per hash) of hashes not
  *     yet indexed, then lands ALL its first-seen hashes under its own
  *     tick partition (a doc dropped downstream still blocks future
  *     identical text, matching the batch keep-min semantics under
  *     doc_id-contiguous ticks).
  *   - DECONTAMINATION checks against a STATIC eval index (shingles +
  *     hashes built once, up front — a benchmark suite is fixed before
  *     ingest starts, which is what makes this stage batch-equivalent).
  *   - NEAR-DUP is settled-corpus-first (the q69 contract): tick
  *     candidates reject against the shingle index of previously ADMITTED
  *     docs; within-tick near-dups are both admitted and caught from the
  *     next tick on — streaming ≠ batch CC here BY DESIGN, and the oracle
  *     replays the incremental semantics tick by tick (the q69 rep/idx
  *     CTE discipline), never pretends batch equality.
  *   - EXPORT reuses the q161 exactly-once layout: byte offsets continue
  *     from `bytesBefore`, payloads land under (ingest_batch, shard).
  *
  * Every piece of state (hash index, shingle index, byte totals, shard
  * payloads) lives under per-tick partitions written with dynamic
  * partition overwrite, and every cross-tick index read filters to
  * `ingest_batch < batchId` (partition pruning), so a checkpoint-recovery
  * replay of a tick — even one that crashed BETWEEN store writes —
  * recomputes from exactly the pre-tick state and rewrites identical
  * files (the predicates are deterministic); the cumulative result never
  * double-counts and never self-shadows — the q93/q161/q170/q182
  * exactly-once discipline, here composed across four state stores.
  *
  * Scale: per tick, gates are one scan of the batch; the hash probe is a
  * broadcast-able semi-join; decon + near-dup ride the inverted-index
  * equi-joins (df-capped, never all-pairs) against indexes that are
  * shingle-grain but settled-corpus-bounded; export shuffles once on the
  * shard key. Nothing ever re-reads prior batches' raw documents — all
  * cross-tick coordination flows through the four columnar indexes.
  */
object ReleaseStream {

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** Build the static eval-side indexes once: the benchmark's shingles
    * and content hashes. `shOpt`: the eval docs' (doc_id, shingle)
    * relation already materialized (an id-slice of the session shingle
    * leaf) — the eval split is not re-tokenized per index build. */
  def buildEvalIndex(evalDocs: DataFrame, root: String,
                     shOpt: Option[DataFrame] = None): Unit = {
    shOpt.getOrElse(Dedup.docShingles(evalDocs))
      .write.mode("overwrite").parquet(s"$root/eval_shingles")
    evalDocs.select(TF.contentHash(col("text")).as("h")).distinct()
      .write.mode("overwrite").parquet(s"$root/eval_hashes")
  }

  /** One exactly-once release tick. Returns nothing — the audit reads
    * the stores back ([[currentManifest]]). */
  def releaseTickXO(batch: DataFrame, batchId: Long, root: String,
                    threshold: Double = 0.5,
                    targetBytes: Long = 16384L,
                    shOpt: Option[DataFrame] = None,
                    evalRootOpt: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    // the static eval index may live outside the tick root (a session
    // leaf — the benchmark suite is fixed before ingest starts, so its
    // index is read-only state shared across lifecycles)
    val evalRoot = evalRootOpt.getOrElse(root)
    // --- gates (stateless, the q179 predicates verbatim) ---------------
    val pass = TextAnalysis.cascadePreds.map(_._2).reduce(_ && _)
    val gated = batch
      .select(col("doc_id"), col("lang"), col("text"),
        TF.shingles(col("text"), 3).as("sh"))
      .filter(pass)
      .select(col("doc_id"), col("lang"), col("text"),
        TF.contentHash(col("text")).as("h"))
      .localCheckpoint(true)
    // --- exact dedup vs the hash index + within-tick first occurrence --
    val tickFirst = gated.join(
      gated.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
    val hashesPath = s"$root/hashes"
    // PRE-TICK state only (ingest_batch < batchId — the bytesBefore
    // discipline): a checkpoint replay of tick r must not anti-join the
    // batch against hashes its own first run already landed, or the
    // replay admits nothing and the tick's docs are silently lost. The
    // predicate is partition pruning on the store's layout.
    val exactNew = (if (exists(spark, hashesPath))
        tickFirst.join(
          broadcast(spark.read.parquet(hashesPath)
            .filter(col("ingest_batch") < batchId).select(col("h"))),
          Seq("h"), "left_anti")
      else tickFirst).localCheckpoint(true)
    // ALL first-seen hashes land under this tick's partition BEFORE any
    // downstream drop: identical future text must block either way
    exactNew.select(col("h")).withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch").parquet(hashesPath)
    // --- decontamination vs the static eval index ----------------------
    // the tick's docs are tokenized ONCE: candSh serves the decon pair
    // join, the admission pair join (id-restricted), and the index append.
    // With shOpt (the batch's slice of the session shingle leaf) the tick
    // is not tokenized at all — the slice is exact (shingles are per-row)
    // and parquet-backed, so no executor-storage pin is needed; the
    // PINNED exactNew ids keep the semi-join free of self-observation.
    val candSh = shOpt
      .map(_.join(exactNew.select(col("doc_id")), Seq("doc_id"), "left_semi"))
      .getOrElse(Dedup.docShingles(exactNew).localCheckpoint(true))
    val evalSh = spark.read.parquet(s"$evalRoot/eval_shingles")
      .select(col("doc_id"), col("shingle"))
    val fuzzyContam = IncrementalDedup
      .pairsAgainstIndex(candSh, evalSh, threshold)
      .select(col("doc_a").as("doc_id"))
    val exactContam = exactNew
      .join(broadcast(spark.read.parquet(s"$evalRoot/eval_hashes")), Seq("h"), "left_semi")
      .select(col("doc_id"))
    val clean = exactNew
      .join(fuzzyContam.unionByName(exactContam).distinct(),
        Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    // --- near-dup vs the settled (admitted) corpus ---------------------
    val indexPath = s"$root/shingle_index"
    // same pre-tick filter: replayed ticks must reject only against docs
    // admitted by EARLIER ticks, never their own first run's admissions
    val idx = if (exists(spark, indexPath))
        spark.read.parquet(indexPath).filter(col("ingest_batch") < batchId)
          .select(col("doc_id"), col("shingle"))
      else candSh.limit(0)
    val cleanSh = candSh.join(clean.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val rejected = IncrementalDedup.pairsAgainstIndex(cleanSh, idx, threshold)
      .select(col("doc_a").as("doc_id")).distinct()
    val admitted = clean.join(rejected, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    candSh.join(admitted.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch").parquet(indexPath)
    // --- exactly-once export (the q161 layout, byte base continued) ----
    ShardExportStream.exportTickXO(
      admitted.select(col("doc_id"), col("lang"), col("text")),
      batchId, s"$root/shards", s"$root/totals", targetBytes)
  }

  /** The release manifest over everything exported so far, from the
    * files READ BACK (q155 round-trip contract). */
  def currentManifest(spark: SparkSession, root: String): DataFrame =
    graft.sources.Sources.shardManifest(spark, s"$root/shards")

  /** The registry fixture form: the train split (all but
    * [[graft.operators.Dedup.evalSplit]], the static benchmark) as three
    * doc_id-contiguous ticks, then the cumulative manifest. The oracle
    * replays gates, first-occurrence hash dedup, static-eval decon, and
    * the tick-by-tick index admission (q69 discipline) in chained CTEs. */
  def releaseTicks(spark: SparkSession, dir: String,
                   threshold: Double = 0.5,
                   targetBytes: Long = 16384L): DataFrame = {
    // persisted once: the eval-index build + three tick filters would
    // otherwise re-scan the raw table five times (ticks are inherently
    // sequential — each reads the previous tick's indexes — so the
    // corpus read is the one shareable cost)
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text")).persist()
    try {
      val isEval = Dedup.evalSplit(col("doc_id"))
      val root = graft.sources.Sources.scratchDir(spark,
        s"release_stream_${java.util.UUID.randomUUID.toString.take(8)}")
      // the static eval index is a SESSION leaf (r22): it's read-only
      // state fixed before ingest starts (the stage's own batch-
      // equivalence argument), a pure function of (dir, split), so
      // rebuilding it per lifecycle was fixture cost. Built from an
      // id-slice of the session shingle leaf; the per-tick candidate
      // shingles deliberately stay LIVE tokenizations — a tick is ~30%
      // of the corpus and its in-row tokenization is cheaper than the 3×
      // leaf-scan + semi-join each slice use would pay (measured: slices
      // pushed q183 12.6 → 15.5 s at sf0.1, reverted)
      val leaf = Dedup.ensureDocShingles(spark, dir)
      val evalRoot = graft.sources.Sources.ensureStore(spark, "releval",
          dir) { p =>
        buildEvalIndex(docs.filter(isEval), p,
          shOpt = Some(leaf.filter(isEval)))
      }
      val arriving = docs.filter(!isEval)
      val maxId = arriving.agg(max(col("doc_id"))).head().getLong(0)
      val (t1, t2) = (maxId / 3, 2L * maxId / 3)
      releaseTickXO(arriving.filter(col("doc_id") <= t1), 0L, root,
        threshold, targetBytes, evalRootOpt = Some(evalRoot))
      releaseTickXO(arriving.filter(col("doc_id") > t1 && col("doc_id") <= t2),
        1L, root, threshold, targetBytes, evalRootOpt = Some(evalRoot))
      releaseTickXO(arriving.filter(col("doc_id") > t2), 2L, root,
        threshold, targetBytes, evalRootOpt = Some(evalRoot))
      currentManifest(spark, root)
    } finally { docs.unpersist(); () }
  }
}
