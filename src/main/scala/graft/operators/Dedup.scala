package graft.operators

import graft.Tables
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Deduplication family (SURVEY §2.5 D1/D6, §2.3 J3): exact key dedup,
  * content-hash dedup, n-gram Jaccard near-dup, MinHash+LSH near-dup,
  * SimHash near-dup.
  *
  * Scale design: every variant is candidate-generation-by-equi-join —
  * shingle match, LSH band bucket, or SimHash band bucket — never an O(n²)
  * cross join. The quadratic step only runs inside a candidate bucket,
  * which is the standard way these stay tractable at 100 TB.
  */
object Dedup {

  /** D1 — dropDuplicates on a projection (≡ SELECT DISTINCT; reference
    * /root/reference/src/preprocessing_pipeline.py:279-283). Restricted to
    * the projected key so the kept-row is well-defined (full-row
    * dropDuplicates with a key subset keeps an arbitrary row — not
    * oracle-comparable).
    */
  def dropDuplicatesProjected(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderstatus"))
      .dropDuplicates(Seq("o_custkey", "o_orderstatus"))

  /** Exact content-hash dedup over a (synthetically doubled) corpus:
    * sha-256 the text, group, report dup groups. The doubling
    * (unionByName) plants exact duplicates so the operator has work to do
    * — the fixture corpus itself has none.
    */
  def exactContentDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.unionByName(docs)
      .select(col("doc_id"), TF.contentHash(col("text")).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keep_doc_id"))
      .filter(col("cnt") > 1)
  }

  /** Distinct (doc_id, shingle) pairs — the shared leaf of the near-dup
    * operators. Cached by callers when fanned out.
    *
    * Built with a typed flatMap rather than the expression-level
    * `explode(TF.shingles(...))`: the shingle lambda (slice + concat_ws
    * per element) evaluates through Catalyst's interpreted higher-order
    * path at ~11 µs per shingle, which made this leaf alone cost ~6 s at
    * sf0.1; the compiled sliding-window closure is ~100× cheaper and
    * byte-identical in output (split keeps trailing empties, exactly like
    * Spark's `split(text, " ", -1)` and DuckDB's string_split).
    * TF.shingles remains the expression-level API for SQL composition.
    */
  /** The library-wide default shingle width — the value every
    * non-width-parameterized index layout is built and probed at, and the
    * value their parameter sidecars record. */
  val DefaultShingleN: Int = 3

  def docShingles(docs: DataFrame, n: Int = DefaultShingleN): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) => shingleSetOf(text, n).map(s => (id, s)) }
      .toDF("doc_id", "shingle")
  }

  /** One document's distinct shingle iterator — the SINGLE tokenization
    * shared by the distributed leaf above and the driver-built eval index
    * of [[streamingDecontaminationFor]], so the two paths cannot drift.
    * "distinct (doc_id, shingle)" is per-document by construction, so the
    * dedup is a doc-bounded HashSet inside the row — a DataFrame-level
    * distinct() would shuffle the full shingle table to deduplicate what
    * never crosses rows. */
  private[operators] def shingleSetOf(text: String, n: Int = 3): Iterator[String] = {
    val toks = text.split(" ", -1)
    if (toks.length < n) Iterator.empty
    else {
      val seen = scala.collection.mutable.HashSet.empty[String]
      toks.sliding(n).flatMap { w =>
        val s = w.mkString(" ")
        if (seen.add(s)) Iterator.single(s) else Iterator.empty
      }
    }
  }

  /** Candidate (doc_a, doc_b) pairs sharing ≥1 non-hot shingle — the
    * inverted-index equi-join, never a cross join. `dfCap` drops shingles
    * whose document frequency exceeds the cap from CANDIDATE GENERATION
    * only (exact Jaccard is still computed over full shingle sets by
    * [[jaccardForCandidates]]): one stop-shingle bucket ("of the and") is
    * quadratic in its df, so at 100 TB the cap bounds every bucket at
    * O(cap²) while near-dup pairs above any useful threshold keep their
    * candidacy through rarer shared shingles. The default cap (1000) is a
    * no-op at fixture scale (max observed df: 25 at sf0.1) so the oracle
    * comparison stays exact.
    */
  def candidatePairs(sh: DataFrame, dfCap: Int = 1000, minShared: Int = 1): DataFrame = {
    val rare =
      if (dfCap > 0) {
        val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .filter(col("df") > dfCap).select(col("shingle"))
        // hot set is tiny by construction (few shingles exceed the cap)
        sh.join(broadcast(hot), Seq("shingle"), "left_anti")
      } else sh
    val co = rare.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(rare.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
    // minShared > 1 trades the count aggregate (same shuffle as distinct)
    // for a candidate set free of single-coincidence pairs — the dominant
    // mass when the key is a dense sample like winnowed fingerprints
    if (minShared <= 1) co.select(col("doc_a"), col("doc_b")).distinct()
    else co.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_a"), col("doc_b"))
  }

  /** Exact Jaccard restricted to the given candidate pairs: join the pair
    * list back to per-doc shingle sets — |A∩B| counts the shingles shared
    * along each candidate pair, |A|/|B| come from per-doc sizes. Cost is
    * O(|candidates| × avg shingles/doc), linear in the candidate set, so
    * whatever generated the candidates (inverted index, MinHash bands)
    * bounds the whole verification. All-integer until the final division —
    * oracle-exact.
    */
  def jaccardForCandidates(cand: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
      .filter(col("inter").cast("double") >= col("na") * threshold) // J ≥ t ⟹ inter ≥ t·na
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
      .filter(col("inter").cast("double") >= col("nb") * threshold)
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Brute-force n-gram Jaccard near-dup, computed in ONE pass over the
    * inverted-index self-join: |A∩B| per pair falls directly out of
    * groupBy(pair).count() on the co-occurrence rows — no candidate
    * materialization and no re-join against per-doc shingle sets (at sf0.1
    * the corpus has 1.13M candidate pairs sharing ≥1 shingle; routing them
    * through [[jaccardForCandidates]] would build a ~59M-row verification
    * join for pairs that overwhelmingly share exactly one shingle).
    *
    * The hot-shingle cap excludes shingles with df > dfCap from the
    * self-join (the skew guard: one stop-shingle bucket is df²-quadratic);
    * their contribution to |A∩B| is then restored EXACTLY by a correction
    * join of the surviving pairs against only the hot rows — cheap because
    * few shingles are hot by definition. Net semantics: a pair must share
    * ≥1 non-hot shingle to be found (documented cap trade-off; a no-op at
    * fixture scale where max df = 25), and every found pair's Jaccard is
    * exact over the FULL shingle sets.
    *
    * The shingle table feeds four plan branches — spilled ONCE to scratch
    * parquet and re-read per consumer (the q88/q123 discipline): it is
    * corpus-shaped, so an executor-storage pin (`localCheckpoint`) would
    * hold the whole relation in executor memory/disk blocks AND truncate
    * lineage — at 100 TB an executor loss mid-job is then unrecoverable,
    * while every consumer of a columnar spill recovers from the file like
    * any other scan. The durable long-lived form of the same idea is the
    * persisted shingle index — [[writeShingleIndex]] is that verb.
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    ensureJaccardPairs(spark, dir, threshold)

  /** Session-shared exact-pair leaf: the q17-contract pair relation
    * (doc_a, doc_b, jaccard) at `threshold` over the documents table,
    * built ONCE per (session, dir, threshold) through
    * [[graft.sources.Sources.ensureStore]] and read back from its parquet
    * spill by every consumer — q17's contract row, the q181 threshold
    * curve (whose loosest-threshold pass IS this relation), the q187
    * split-leakage audit, the q191 data card, the q192 severity
    * histogram, and the q98 cross-source matrix. Pair content is a pure
    * function of (dir, threshold): the inverted-index candidate join is
    * deterministic and the Jaccard is 4dp-rounded, so sharing changes
    * COST, never results (the r15 lifecycle-store discipline applied to
    * the bench's dearest family — each consumer previously re-derived
    * the identical relation per run). Read-back declares the schema so
    * an empty pair set (zero part files) still yields a typed relation.
    */
  def ensureJaccardPairs(spark: SparkSession, dir: String,
                         threshold: Double = 0.5): DataFrame = {
    val idType = Tables.documents(spark, dir).schema("doc_id").dataType
    val root = graft.sources.Sources.ensureStore(spark, "jacpairs",
        s"$dir|$threshold") { p =>
      // tokenization comes from the session-shared shingle leaf — the
      // corpus is shingled once per session, not once per pair store
      ngramJaccardPairsFor(Tables.documents(spark, dir), threshold,
          shOpt = Some(ensureDocShingles(spark, dir)))
        .write.mode("overwrite").parquet(p)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_a", idType),
      org.apache.spark.sql.types.StructField("doc_b", idType),
      org.apache.spark.sql.types.StructField("jaccard",
        org.apache.spark.sql.types.DoubleType)))
    spark.read.schema(schema).parquet(root)
  }

  def ngramJaccardPairsFor(docs: DataFrame, threshold: Double = 0.5,
                           dfCap: Int = 1000,
                           shOpt: Option[DataFrame] = None): DataFrame = {
    val sh = shOpt.getOrElse(
      graft.sources.Sources.spillScratch(docShingles(docs), "jaccard_sh"))
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("shingle"))
    jaccardPairsAcross(sh, sh, hot, col("doc_a") < col("doc_b"), threshold)
  }

  /** Session-shared shingle leaf: the distinct (doc_id, shingle) relation
    * of the WHOLE documents table, tokenized once per (session, dir, n)
    * and read back from its parquet store by every corpus-grain consumer
    * (the jacpairs build, the LSH/winnow/containment pair routes, the
    * estimator audits, decontamination). Shingles are a pure per-row
    * function of (doc_id, text), so any id-subset consumer derives its
    * slice EXACTLY by filter/semi-join on doc_id — sharing changes COST,
    * never content (the jacpairs-leaf discipline one level down: stop
    * re-tokenizing the corpus once per consumer). At 100 TB this is the
    * in-session twin of the persisted shingle index (D9): tokenize once,
    * every probe reads the columnar store. */
  def ensureDocShingles(spark: SparkSession, dir: String,
                        n: Int = DefaultShingleN): DataFrame = {
    val idType = Tables.documents(spark, dir).schema("doc_id").dataType
    val root = graft.sources.Sources.ensureStore(spark, "shingles",
        s"$dir|$n") { p =>
      docShingles(Tables.documents(spark, dir), n)
        .write.mode("overwrite").parquet(p)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", idType),
      org.apache.spark.sql.types.StructField("shingle",
        org.apache.spark.sql.types.StringType)))
    spark.read.schema(schema).parquet(root)
  }

  /** Session-shared winnowed-fingerprint leaf — [[ensureDocShingles]] for
    * the fingerprint keyspace: the (doc_id, fp) relation of the WHOLE
    * documents table at geometry (k, w), computed once per (session, dir,
    * k, w) and read back by every winnow consumer (the q63 pair route, the
    * q65 candidate generator, the q67/q78 fp-index bootstraps + probes,
    * the q164 audit's fp side). Fingerprints are a pure per-row function
    * of (doc_id, text), so id-subset consumers slice exactly by
    * filter/semi-join — sharing changes COST, never content. */
  def ensureWinnowFps(spark: SparkSession, dir: String,
                      k: Int = 16, w: Int = 8): DataFrame = {
    val idType = Tables.documents(spark, dir).schema("doc_id").dataType
    val root = graft.sources.Sources.ensureStore(spark, "winfps",
        s"$dir|$k|$w") { p =>
      winnowingFingerprints(Tables.documents(spark, dir), k, w)
        .write.mode("overwrite").parquet(p)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", idType),
      org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType)))
    spark.read.schema(schema).parquet(root)
  }

  /** The shared exact-Jaccard core over two shingle relations: inverted-
    * index equi-join of the rare (df ≤ cap) shingles with `pairFilter`
    * pruning the candidate space (a < b for the self-join; cross-split
    * sides need no filter), the EXACT hot-shingle correction join, and the
    * "J ≥ t ⟹ inter ≥ t·n" pushdown right after the FIRST size join —
    * the dominant inter=1 mass (1.13M candidate pairs at sf0.1) collapses
    * to the few hundred that can clear the threshold before the second
    * size join runs. `hot` is caller-supplied because hotness is a
    * property of the caller's corpus (whole corpus for the self-join,
    * train ∪ eval for decontamination), not of either side alone.
    * `sizesBOpt` lets a persisted-index caller supply the b side's
    * per-doc sizes from a maintained sidecar instead of re-aggregating
    * the (possibly corpus-sized) shingle relation.
    */
  private[operators] def jaccardPairsAcross(shA: DataFrame, shB: DataFrame, hot: DataFrame,
                                            pairFilter: Column, threshold: Double,
                                            sizesBOpt: Option[DataFrame] = None): DataFrame = {
    val rareA = shA.join(broadcast(hot), Seq("shingle"), "left_anti")
    val rareB = shB.join(broadcast(hot), Seq("shingle"), "left_anti")
    val interRare = rareA.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(rareB.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(pairFilter)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter_rare"))
    val hotA = shA.join(broadcast(hot), Seq("shingle"), "left_semi")
    val hotB = shB.join(broadcast(hot), Seq("shingle"), "left_semi")
    val interHot = interRare.select(col("doc_a"), col("doc_b"))
      .join(hotA.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(hotB.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter_hot"))
    val sizesA = shA.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val sizesB = sizesBOpt.getOrElse(
      shB.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles")))
    interRare
      .join(interHot, Seq("doc_a", "doc_b"), "left")
      .withColumn("inter", col("inter_rare") + coalesce(col("inter_hot"), lit(0L)))
      .join(sizesA.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
      .filter(col("inter").cast("double") >= col("na") * threshold)
      .join(sizesB.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
      .filter(col("inter").cast("double") >= col("nb") * threshold)
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Benchmark decontamination (q59) — the curation verb that purges train
    * documents overlapping an eval split: the reference's J1 set-
    * disjointness check (/root/reference/utils/preprocessing_testing_utils.py:60-80,
    * intersection at :69) promoted from exact key equality to the fuzzy
    * domain. A train doc is CONTAMINATED iff its text exactly hash-matches
    * ANY eval doc, or its shingle-Jaccard against SOME eval doc reaches
    * the threshold. Output: one row per contaminated train doc with the
    * max cross-split Jaccard and the exact-hit flag; anti-joining the
    * train split against these doc_ids IS the decontaminated corpus.
    *
    * Scale shape: candidate generation is the CROSS-SPLIT inverted-index
    * equi-join only (train shingles ⋈ eval shingles on the shingle key) —
    * strictly cheaper than full near-dup: the dominant train×train
    * quadrant is never enumerated, and the eval split is typically orders
    * of magnitude smaller than train, so the join's build side is small.
    * The hot-shingle df-cap + exact correction join and the
    * threshold-before-second-size-join pushdown from
    * [[ngramJaccardPairsFor]] apply unchanged; the exact-hash arm is one
    * hash + a broadcast-able semi-join on the (tiny) eval hash set.
    */
  def decontaminationReportFor(docs: DataFrame, isEval: Column,
                               threshold: Double = 0.5, dfCap: Int = 1000,
                               shOpt: Option[DataFrame] = None): DataFrame = {
    val train = docs.filter(!isEval)
    val eval_ = docs.filter(isEval)
    // spilled once like ngramJaccardPairsFor's shingle leaf: the train
    // side is corpus-shaped, so an executor-storage pin is the footprint
    // (and lineage truncation) the q88/q123 discipline exists to avoid.
    // A caller holding the session shingle leaf passes it whole via shOpt
    // with an isEval predicate expressible on doc_id: the two sides are
    // then exact filters of the one store (shingles are per-row).
    val shT = shOpt.map(_.filter(!isEval))
      .getOrElse(graft.sources.Sources.spillScratch(docShingles(train), "decon_sh_train"))
    val shE = shOpt.map(_.filter(isEval))
      .getOrElse(graft.sources.Sources.spillScratch(docShingles(eval_), "decon_sh_eval"))
    // df (and so hotness) is a corpus-wide property: a template shingle is
    // quadratic in the cross join whichever split its occurrences fall in
    val hot = shT.unionByName(shE)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("shingle"))
    // the shared Jaccard core with train on the a side, eval on the b
    // side, and no pair filter (the sides are disjoint by construction)
    val fuzzy = jaccardPairsAcross(shT, shE, hot, lit(true), threshold)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(max(col("jaccard")).as("mj"))
    // exact-hash arm catches what shingling can't see (docs shorter than
    // the shingle width); identical text has Jaccard 1 by definition
    val exactHits = train
      .select(col("doc_id"), TF.contentHash(col("text")).as("h"))
      .join(broadcast(eval_.select(TF.contentHash(col("text")).as("h")).distinct()),
        Seq("h"), "left_semi")
      .select(col("doc_id"), lit(true).as("eh"))
    // identical text has Jaccard 1 by definition, UNCONDITIONALLY: an exact
    // hit whose only shared shingles are hot (df > dfCap) is invisible to
    // the capped fuzzy arm, which could then surface a smaller mj from some
    // other ≥-threshold pair — so the exact-hit flag forces 1.0 rather than
    // trusting the fuzzy maximum (the uncapped oracle always reports 1.0)
    fuzzy.join(exactHits, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(coalesce(col("eh"), lit(false)), lit(1.0))
          .otherwise(coalesce(col("mj"), lit(1.0))).as("max_jaccard"),
        coalesce(col("eh"), lit(false)).as("exact_hit"))
  }

  /** The held-out eval split every train/eval consumer shares (q59, q62,
    * q156, the release pipeline and its session eval index): a 10% slice,
    * id ≡ 0 mod 10; train is the rest. */
  def evalSplit(id: Column): Column = id % 10 === 0

  /** q59 over the documents fixture: eval split = [[evalSplit]] of doc_id,
    * train = the rest. */
  def decontaminationReport(spark: SparkSession, dir: String,
                            threshold: Double = 0.5): DataFrame =
    decontaminationReportFor(Tables.documents(spark, dir),
      evalSplit(col("doc_id")), threshold,
      shOpt = Some(ensureDocShingles(spark, dir)))

  /** The decontaminated train corpus itself: the train split anti-joined
    * against the contamination report — what a pipeline actually ships to
    * training after the purge. */
  def decontaminatedCorpusFor(docs: DataFrame, isEval: Column,
                              threshold: Double = 0.5): DataFrame =
    docs.filter(!isEval).join(
      decontaminationReportFor(docs, isEval, threshold).select(col("doc_id")),
      Seq("doc_id"), "left_anti")

  /** [[decontaminationReportFor]] as an ONLINE ingest filter — the
    * streaming twin: arriving train docs stream in; the eval split (small
    * by construction — it is a benchmark) is built into an in-memory
    * inverted index ONCE, driver-side, and shipped as one broadcast — the
    * static side. Each streaming doc computes its own exact max-Jaccard
    * and exact-text hit IN-ROW against the broadcast (stateless
    * mapPartitions → filter), so the query carries no streaming
    * aggregation, no watermark, and ZERO state: contaminated ids emit in
    * append mode as fast as shards arrive. The per-row compute is the
    * same inverted-index lookup the batch join performs, just evaluated
    * against a broadcast copy — and the tokenization is [[shingleSetOf]],
    * shared with [[docShingles]], so the two paths cannot drift. An eval
    * split too large for one broadcast runs the batch report per
    * micro-batch via foreachBatch instead (same contract, join shape).
    */
  def streamingDecontaminationFor(trainStream: DataFrame, evalDocs: DataFrame,
                                  threshold: Double = 0.5): DataFrame = {
    val spark = evalDocs.sparkSession
    import spark.implicits._
    val evalRows = evalDocs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val sizes = scala.collection.mutable.HashMap.empty[Long, Int]
    val inverted =
      scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    val texts = scala.collection.mutable.HashSet.empty[String]
    evalRows.foreach { case (id, text) =>
      texts += text
      var n = 0
      shingleSetOf(text).foreach { sh =>
        n += 1
        inverted.getOrElseUpdate(sh, scala.collection.mutable.ArrayBuffer.empty[Long]) += id
      }
      sizes(id) = n
    }
    val index = spark.sparkContext.broadcast(
      (inverted.map { case (k, v) => (k, v.toArray) }.toMap, sizes.toMap, texts.toSet))
    trainStream.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val (inv, szs, txts) = index.value
        it.flatMap { case (id, text) =>
          val exact = txts.contains(text)
          val mine = shingleSetOf(text).toArray
          val inter = scala.collection.mutable.HashMap.empty[Long, Int]
          mine.foreach(sh => inv.get(sh)
            .foreach(_.foreach(e => inter.update(e, inter.getOrElse(e, 0) + 1))))
          var mj = 0.0
          inter.foreach { case (e, i) =>
            val j = i.toDouble / (mine.length + szs(e) - i)
            if (j > mj) mj = j
          }
          // HALF_UP to 4dp like the batch core's round(j, 4); rounding is
          // monotone, so round(max) == max(round) and the threshold test
          // agrees with the batch pair-level filter
          val mjR = BigDecimal(mj).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          if (exact) Iterator.single((id, 1.0, true))
          else if (mjR >= threshold) Iterator.single((id, mjR, false))
          else Iterator.empty
        }
      }
      .toDF("doc_id", "max_jaccard", "exact_hit")
  }

  /** The streaming twin over the fixture, same split as
    * [[decontaminationReport]] ([[evalSplit]] of doc_id): the documents
    * file streamed as the arriving train side, the eval slice read as the
    * static batch side. */
  def streamingDecontamination(spark: SparkSession, dir: String,
                               threshold: Double = 0.5): DataFrame = {
    val schema = Tables.documents(spark, dir).schema
    val isEval = evalSplit(col("doc_id"))
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .filter(!isEval)
    streamingDecontaminationFor(stream,
      Tables.documents(spark, dir).filter(isEval), threshold)
  }

  /** q62 — the EMBEDDING-space twin of [[decontaminationReportFor]]
    * (SemDeDup-style): flag train vectors whose cosine against ANY eval
    * vector reaches the threshold — paraphrase contamination that text
    * shingles can't see. The eval split is small by construction (it's a
    * benchmark), so the scale shape is a broadcast of the eval side with
    * the threshold in the join condition: each train row streams through
    * the scan once, only passing pairs materialize, and nothing shuffles.
    * An eval side too large to broadcast would reuse the circulant grid of
    * [[embeddingNearDupPairsBlockedFor]] restricted to train×eval cells.
    */
  def embeddingDecontaminationFor(e: DataFrame, isEval: Column,
                                  threshold: Double): DataFrame = {
    import graft.functions.VectorOps
    val train = e.filter(!isEval)
      .select(col("vec_id").as("train_id"), col("embedding").as("tv"))
    val eval_ = e.filter(isEval)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ev"))
    // the threshold is stated once, as a filter on the projected score;
    // Catalyst pushes it back into the (broadcast) cross join's condition,
    // so only passing pairs leave the join and the duplicate kernel call
    // applies to those survivors alone — see embeddingNearDupPairsExactFor
    train.crossJoin(broadcast(eval_))
      .select(col("train_id"),
        round(VectorOps.cosineFast(col("tv"), col("ev")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("train_id").as("vec_id"))
      .agg(max(col("cos")).as("max_cos"))
  }

  /** q62 over the embeddings fixture: eval = [[evalSplit]] of vec_id, threshold
    * matching q20's loose default. */
  def embeddingDecontamination(spark: SparkSession, dir: String,
                               threshold: Double = 0.4): DataFrame =
    embeddingDecontaminationFor(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      evalSplit(col("vec_id")), threshold)

  /** Winnowed fingerprint set of one document (Schleimer/Wilkerson/Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03
    * — the MOSS fingerprint): a rolling polynomial hash over character
    * k-grams, then the minimum hash of every window of w consecutive
    * k-gram hashes, rightmost minimum on ties (the canonical rule, §4 of
    * the paper; implemented with the O(n) sliding-minimum recurrence —
    * a still-valid minimum index survives the window shift, so only the
    * entering element is compared). Guarantee: any shared substring of
    * length ≥ k + w − 1 characters yields ≥ 1 shared fingerprint;
    * expected density is 2/(w+1) of the CHARACTER k-gram count — the
    * (w+1)/2× size reduction winnowing guarantees is vs the full k-gram
    * index it samples. Vs the 3-TOKEN shingle index the ratio is
    * ~2·c̄/(w+1) rows per shingle row (c̄ = chars per token incl.
    * separator): measured 1.19× MORE rows at k=16/w=8 on the ~5.5-char-
    * token fixture (309k fp vs 260k shingle rows at sf0.1) — the earlier
    * "~4.5× smaller than the shingle table" claim here was wrong. The
    * fp key is a fixed 8-byte long vs a ~16-char string, so join hashing
    * is cheaper and per-row shuffle width ~2× narrower; a genuinely
    * smaller index needs larger w (rows ∝ 1/(w+1)) at a proportionally
    * higher detection floor k+w−1.
    */
  def winnow(text: String, k: Int = 16, w: Int = 8): Array[Long] = {
    require(k >= 2 && w >= 1, s"need k=$k >= 2 and w=$w >= 1")
    val n = text.length - k + 1
    if (n <= 0) return Array.empty
    val B = 1000003L
    var bk = 1L // B^(k-1), wrapping 64-bit arithmetic (deterministic)
    var i = 1
    while (i < k) { bk *= B; i += 1 }
    val hs = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + text.charAt(i); i += 1 }
    hs(0) = h
    i = 1
    while (i < n) {
      h = (h - text.charAt(i - 1) * bk) * B + text.charAt(i + k - 1)
      hs(i) = h
      i += 1
    }
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    if (n <= w) { out += hs.min }
    else {
      var j = 0
      var minIdx = -1
      while (j + w <= n) {
        if (minIdx < j) {
          minIdx = j
          var m = j + 1
          while (m < j + w) { if (hs(m) <= hs(minIdx)) minIdx = m; m += 1 }
          out += hs(minIdx)
        } else {
          val entering = j + w - 1
          if (hs(entering) <= hs(minIdx)) { minIdx = entering; out += hs(entering) }
        }
        j += 1
      }
    }
    out.toArray
  }

  /** Distinct (doc_id, fingerprint) pairs — the winnowed analog of
    * [[docShingles]]. Pure per-row compute, zero shuffle. */
  def winnowingFingerprints(docs: DataFrame, k: Int = 16, w: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) => winnow(text, k, w).map(fp => (id, fp)) }
      .toDF("doc_id", "fp")
  }

  /** MOSS-style fingerprint-Jaccard pairs: near-dup candidates scored by
    * exact Jaccard over the WINNOWED fingerprint sets — the same
    * inverted-index → hot-correction → threshold-pushdown core as the
    * shingle pipeline ([[jaccardPairsAcross]]), but run over the
    * 2/(w+1)-density fingerprint sample of the character k-grams instead
    * of the full shingle table — fixed-width 8-byte keys, ~2× narrower
    * shuffle rows, row count ~2·c̄/(w+1) per shingle row (see [[winnow]];
    * ≈ 1.2× at k=16/w=8 on this fixture, shrinking ∝ 1/(w+1)) at
    * detection floor k+w−1 chars (any shared run that long fingerprints).
    * A raw
    * shared-count contract is useless on a common-vocabulary corpus —
    * every doc pair shares boilerplate k-grams — which is why the score
    * is Jaccard over fingerprint sets, thresholded like the shingle
    * form. Engine-specific rolling hashes → no DuckDB oracle; the
    * planted spec pins detection, exact-copy containment, the density
    * band, and the sliding-min recurrence (q63).
    */
  def winnowingPairsFor(docs: DataFrame, k: Int = 16, w: Int = 8,
                        threshold: Double = 0.5, dfCap: Int = 1000,
                        fpOpt: Option[DataFrame] = None): DataFrame = {
    // fpOpt: the docs' (doc_id, fp) relation already materialized at
    // (k, w) — e.g. the session winnow leaf; parquet-backed, so no spill
    val sh = fpOpt.map(_.withColumnRenamed("fp", "shingle"))
      .getOrElse(graft.sources.Sources.spillScratch(
        winnowingFingerprints(docs, k, w).withColumnRenamed("fp", "shingle"),
        "winnow_fp"))
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("shingle"))
    jaccardPairsAcross(sh, sh, hot, col("doc_a") < col("doc_b"), threshold)
      .withColumnRenamed("jaccard", "fp_jaccard")
  }

  def winnowingPairs(spark: SparkSession, dir: String,
                     threshold: Double = 0.5): DataFrame =
    winnowingPairsFor(Tables.documents(spark, dir), threshold = threshold,
      fpOpt = Some(ensureWinnowFps(spark, dir)))

  /** Exact near-dup pairs with WINNOWED candidate generation — the
    * >[[MaxFullIndexDocs]] route: candidates share ≥ `minSharedFp` non-hot
    * winnowed fingerprints (the 2/(w+1)-density sample of character
    * k-grams: fixed 8-byte keys and ~2× narrower rows than shingle
    * strings, though ~1.2× MORE rows at k=16/w=8 on this fixture — see
    * [[winnow]] for the honest size relation), and the score is the SAME
    * exact Jaccard over FULL shingle sets as the LSH route
    * ([[jaccardForCandidates]]) — only candidate generation differs, so
    * every emitted pair keeps the exact contract. Candidate recall rests
    * on the winnowing guarantee (a shared run ≥ k+w−1 chars ⟹ a shared
    * fingerprint): near-dup pairs above a useful Jaccard threshold share
    * most of their shingles and with them long unchanged token runs.
    * That is a property of real near-dups, not a theorem about all pair
    * sets — which is why the forced q65 row re-proves candidate recall
    * against the exact transitive-closure oracle on every harness run
    * instead of assuming it.
    */
  def winnowCandidateJaccardPairsFor(docs: DataFrame, threshold: Double = 0.5,
                                     k: Int = 16, w: Int = 8, minSharedFp: Int = 2,
                                     dfCap: Int = 1000,
                                     shOpt: Option[DataFrame] = None,
                                     fpOpt: Option[DataFrame] = None): DataFrame = {
    val sh = shOpt.getOrElse(
      graft.sources.Sources.spillScratch(docShingles(docs), "winnow_verify_sh"))
    val fps = fpOpt.getOrElse(winnowingFingerprints(docs, k, w))
      .withColumnRenamed("fp", "shingle")
    // ≥ 2 shared fingerprints: one shared 16-char gram between unrelated
    // docs is common vocabulary, and those single-coincidence pairs are
    // the bulk of the ≥1 candidate set, flooding the exact verification
    // join (measured 8.7s → the dominant q65 cost at sf0.1). Two shared
    // fingerprints raise the detection floor from one ≥ k+w−1 = 23-char
    // shared run to ≥ k+2w−1 = 31 chars (or two separate runs) — still
    // far below the shared-run mass of any pair at J ≥ 0.5 over 3-token
    // shingles; the forced q65 oracle row re-proves recall per run.
    jaccardForCandidates(candidatePairs(fps, dfCap, minSharedFp), sh, threshold)
  }

  /** D6 — MinHash signatures: per-doc element-wise min over the k hash
    * values of its shingles (map-side-combined scalar min aggregates; the
    * shuffle carries one k-long buffer per doc per partition).
    */
  def minhashSignatures(docs: DataFrame, k: Int = 128): DataFrame =
    minhashSignaturesFromShingles(docShingles(docs), k)

  /** Per-shingle hash family: the variable-length shingle string is hashed
    * ONCE to a 64-bit base value, and the k family members are xxhash64
    * over the fixed-width (seed_i, base) pair — k cheap 12-byte hashes
    * instead of k full string hashes over the hottest column in the dedup
    * family. (The h1 + i·h2 linear construction would be cheaper still but
    * wraps 64-bit arithmetic, which ANSI mode — on by default in Spark 4 —
    * rejects as overflow.)
    *
    * The k-wide element-wise min runs as k scalar `min` aggregates — fully
    * inside whole-stage codegen with map-side partials, no per-row array
    * allocation — and the signature array is assembled once per GROUP
    * afterwards. Shuffle volume is identical to the ArrayMinAgg form (one
    * k-wide buffer per doc per partition); the saving is the per-ROW cost
    * on the 50×-larger input side. ArrayMinAgg remains the general
    * combiner for data whose width is not a compile-time constant.
    */
  def minhashSignaturesFromShingles(sh: DataFrame, k: Int): DataFrame = {
    val base = sh.select(col("doc_id"), xxhash64(col("shingle")).as("h1"))
    val minCols = (0 until k).map(i => min(xxhash64(lit(i), col("h1"))).as(s"m$i"))
    base.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"m$i")): _*).as("signature"))
  }

  /** Session-shared MinHash signature leaf — the [[ensureWinnowFps]]
    * discipline for the LSH route's per-doc signatures: a signature is a
    * pure per-row function of (doc_id, shingles, k), so the k-wide min
    * aggregation runs once per session and every LSH consumer (q18's
    * pair route, q52/q55's cluster routes, the q154 estimator audit)
    * reads or id-slices the leaf. Banding, the candidate equi-join, and
    * exact verification — the route under audit — stay live per query.
    */
  def ensureMinhashSigs(spark: SparkSession, dir: String,
                        k: Int = 128): DataFrame = {
    val root = graft.sources.Sources.ensureStore(spark, "mhsigs",
        s"$dir|$k") { p =>
      minhashSignaturesFromShingles(ensureDocShingles(spark, dir), k)
        .write.mode("overwrite").parquet(p)
    }
    spark.read.schema("doc_id BIGINT, signature ARRAY<BIGINT>").parquet(root)
  }

  /** D6/J3 — full MinHash-LSH near-dup pipeline:
    * shingle → minhash(k=128) → band (32 bands × 4 rows) → band-hash
    * equi-join → exact-Jaccard verification of ONLY the candidate pairs
    * (via [[jaccardForCandidates]] — the brute-force all-pairs Jaccard is
    * never computed, which is the entire point of LSH).
    *
    * Banding: P(pair lands in ≥1 band) = 1-(1-s⁴)³² — ≈1 for s≥0.8
    * (miss ≈ 1e-9 at s=0.8), ≈0.03 for s≤0.5, so the output matches the
    * exact-Jaccard oracle for well-separated corpora (the fixture's
    * near-dups all have s≥0.8) while candidate generation stays
    * near-linear: the shuffle carries one 128-long signature per doc, and
    * the band self-join only explodes within equal-band buckets.
    */
  def minhashLshPairs(spark: SparkSession, dir: String,
                      k: Int = 128, bands: Int = 32, threshold: Double = 0.5): DataFrame =
    minhashLshPairsFor(Tables.documents(spark, dir), k, bands, threshold,
      shOpt = Some(ensureDocShingles(spark, dir)),
      sigOpt = Some(ensureMinhashSigs(spark, dir, k)))

  def minhashLshPairsFor(docs: DataFrame,
                         k: Int = 128, bands: Int = 32, threshold: Double = 0.5,
                         shOpt: Option[DataFrame] = None,
                         sigOpt: Option[DataFrame] = None): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"signature width k=$k must be a positive multiple of bands=$bands")
    val rows = k / bands
    // shared by the signature path and both verification sides — spilled
    // once to scratch parquet (see ngramJaccardPairs for the rationale);
    // the former `.cache()` here needed a side-channel handle so the
    // cluster path could unpersist it, and still leaked from the
    // plain-pairs form. Callers holding the session shingle leaf pass it
    // via shOpt (an id-subset caller passes the leaf SEMI-JOINED to its
    // doc ids — shingles are per-row, so the slice is exact).
    val sh = shOpt.getOrElse(
      graft.sources.Sources.spillScratch(docShingles(docs), "lsh_sh"))
    // sigOpt: the session signature leaf (or an id-slice of it)
    val sigs = sigOpt.getOrElse(minhashSignaturesFromShingles(sh, k))
    val banded = sigs.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("signature"), b * rows + 1, lit(rows))))))
      .toDF("doc_id", "band_id", "band_hash")
    val cand = banded.as("x").join(banded.as("y"), Seq("band_id", "band_hash"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    jaccardForCandidates(cand, sh, threshold)
  }

  /** The 64-bit SimHash of one document: token-frequency-weighted ±1 votes
    * per bit of each token's xxhash64 (seed 42, byte-identical to Spark's
    * `xxhash64(tok)`), sign-packed. Pure per-document function — SimHash
    * needs no cross-row state, so computing it inside the row is the
    * scale-optimal form: ZERO shuffle until the (tiny) band join.
    */
  def simhash64(text: String): Long = {
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    text.split(" ", -1).foreach(t => counts.update(t, counts.getOrElse(t, 0) + 1))
    val votes = new Array[Long](64)
    counts.foreach { case (tok, w) =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(tok)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      var j = 0
      while (j < 64) { if (((h >>> j) & 1L) == 1L) votes(j) += w else votes(j) -= w; j += 1 }
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= 1L << j; j += 1 }
    sig
  }

  /** SimHash near-dup signatures: one typed map over the corpus (see
    * [[simhash64]]) — the earlier explode → groupBy(doc, tok) → 64-vote
    * aggregation form shuffled the full token table for a quantity that is
    * per-document by definition. Candidates come from 4×16-bit band
    * buckets — pigeonhole guarantees exact recall for hamming ≤ 3 — then
    * verified by bit_count(xor) ≤ maxHamming.
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => (id, simhash64(text)) }
      .toDF("doc_id", "simhash")
  }

  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    simhashPairsFor(Tables.documents(spark, dir), maxHamming)

  /** SimHash near-dup over an arbitrary (doc_id, text) frame — the form the
    * planted-near-dup recall spec drives. */
  def simhashPairsFor(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = simhashSignatures(docs)
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("simhash"), b.cast("int") * 16)
          .bitwiseAND(lit(0xffffL)))))
      .toDF("doc_id", "simhash", "band_id", "band_val")
    banded.as("x").join(banded.as("y"), Seq("band_id", "band_val"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-dup, EXACT all-pairs form, with the codegen'd
    * cosine kernel (graft.functions.CosineSimilarityExpr). O(n²) pair
    * enumeration with one side broadcast — correct and compute-bound for
    * corpora small enough to broadcast, a scale-killer beyond that; the
    * router [[embeddingNearDupPairs]] owns the decision.
    */
  def embeddingNearDupPairsExactFor(e: DataFrame, threshold: Double): DataFrame = {
    import graft.functions.VectorOps
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    // the threshold is stated ONCE, as a filter on the projected score.
    // Catalyst then pushes the predicate (alias-substituted) back into the
    // join condition — the plan you want: the nested-loop join emits only
    // passing pairs (~0.01% here) instead of materializing n²/2 rows
    // carrying two embedding arrays each. The optimized plan therefore
    // still evaluates the kernel in the condition plus once more per
    // SURVIVING pair; that duplicate is proportional to the pass rate
    // (noise), and suppressing it would need a pushdown barrier that
    // forfeits the early prune — measured and documented, not an oversight
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorOps.cosineFast(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Embedding-cosine near-dup via hyperplane-LSH banded candidates + exact
    * re-score — the sub-quadratic route for HIGH thresholds: signatures
    * are one codegen'd expression per row, candidate generation is a band
    * equi-join (never a cross join), and only candidate pairs pay the
    * exact kernel.
    *
    * Band width is where this route lives or dies, and the round-12
    * crossover measurement (BENCH_NOTES.md) rewrote it: the
    * original 16×4-bit default had per-band random collision 2⁻⁴, so
    * expected candidate mass was 16·(n²/2)/16 = n²/2 — NO pruning, and
    * measured wall 295 s vs 72.5 s for plain exact broadcast at n = 40k.
    * An LSH layer that generates the full quadratic pair set is strictly
    * worse than not having it. The default is now 8×8-bit bands: random
    * collision 2⁻⁸ per band → candidate mass ≈ n²/64 (measured 64×
    * candidate reduction, sub-exact wall from ~20k rows up), at the cost
    * of an honest recall trade — per-pair miss (1 − p⁸)⁸ at bit-agreement
    * p = 1 − acos(cos)/π: ≈ 6.5e-2 at cos 0.90, 1.2e-2 at cos 0.95,
    * 8e-5 at cos 0.99, → 0 for near-identical pairs (the spec-pinned
    * class). That miss curve is why the router only takes this route at
    * threshold ≥ [[BandedSafeThreshold]] = 0.9 — at looser thresholds no
    * 64-bit banding both prunes and recalls (at cos 0.7, p ≈ 0.75:
    * detection 0.56 — a coin flip), so the router pays the distributed
    * exact path instead. The trade is inherent to sign-LSH: callers who
    * need recall ≥ 0.999 at cos ∈ [0.9, 0.95) at scale should use the
    * blocked exact path and pay the quadratic.
    */
  def embeddingNearDupPairsBandedFor(e: DataFrame, threshold: Double,
                                     nBits: Int = 64, bandBits: Int = 8): DataFrame = {
    import graft.functions.VectorOps
    require(nBits >= 1 && nBits <= 64 && bandBits > 0 && nBits % bandBits == 0,
      s"need 1 <= nBits <= 64 and nBits=$nBits divisible by bandBits=$bandBits")
    val nBands = nBits / bandBits
    val mask = (1L << bandBits) - 1
    def bandOf(sig: org.apache.spark.sql.Column,
               b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      call_function("shiftright", sig, b.cast("int") * bandBits)
        .bitwiseAND(lit(mask))
    // band table carries ids + the 8-byte signature; candidates dedup by
    // FIRST-MATCHING-BAND emission, vectors re-attach afterwards (never
    // shuffle arrays as grouping keys)
    val banded = e
      .select(col("vec_id"), VectorOps.hyperplaneSignature(col("embedding"), nBits).as("sig"))
      .select(col("vec_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(nBands - 1)),
          b => bandOf(col("sig"), b))))
      .toDF("vec_id", "sig", "band_id", "band_val")
    // A pair colliding in k bands appears k times in the band join; the
    // round-12 form deduplicated with a pair-grain `distinct()`, whose
    // hash-agg sort-spill was the measured 160k memory/disk wall
    // (round-13 crossover run: SPILL_OUT_OF_MEMORY, BENCH_NOTES.md) —
    // the candidate relation is the n²/64 mass and must never be
    // SHUFFLED whole. The standard LSH fix makes dedup a PER-ROW
    // filter instead: both sides carry their 8-byte signature, and a
    // candidate is emitted only from
    // the lowest band the two signatures agree on (for every b' < band_id
    // the bands must differ) — exactly one emission per colliding pair,
    // zero pair-grain state. The verification joins are hinted
    // shuffle-hash (the build side is the |corpus| id→vector table; the
    // probe side is the candidate stream) so no operator ever sorts or
    // aggregates the candidate mass.
    val firstMatch = when(col("band_id") === 0, lit(true)).otherwise(
      forall(sequence(lit(0), col("band_id") - 1),
        b => bandOf(col("x.sig"), b) =!= bandOf(col("y.sig"), b)))
    val cand = banded.as("x").join(banded.as("y"), Seq("band_id", "band_val"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .filter(firstMatch)
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
    cand
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
        .hint("shuffle_hash"), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
        .hint("shuffle_hash"), "id_b")
      .withColumn("cos", round(VectorOps.cosineFast(col("va"), col("vb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Grid-blocked exact all-pairs cosine near-dup — the distributed exact
    * path for corpora too large to broadcast. The corpus is hashed into
    * nBlocks blocks; a circulant block-pair grid (cell (i, (i+d) mod B) for
    * d ≤ B/2, de-duplicated at d = B/2) covers every unordered block pair
    * exactly once. BOTH sides replicate through the (broadcast) grid — a
    * rows into every cell of grid row gi = blk, b rows into every cell of
    * grid column gj = blk, ~B/2+1 copies each, no block hotter than another
    * — and the pair join keys on the COMPOSITE cell coordinate (gi, gj):
    * B(B/2+1) distinct keys, so each cell is an independent task buffering
    * two ~n/B-row blocks. (Keying on gj alone would collapse parallelism to
    * B panel-tasks of n²/2B work each.) The cosine threshold lives in the
    * join condition, so only passing pairs materialize.
    *
    * This keeps the exact contract (every pair with cos ≥ threshold) at
    * ANY corpus size: shuffle is O(B·n) rows, per-task memory is two
    * ~n/B-row blocks, and the O(n²) kernel work — unavoidable for exact
    * all-pairs — distributes over B(B/2+1) independent cells instead of
    * hitting a broadcast/driver wall. Quadratic compute is the documented
    * cost of exactness at loose thresholds, where banding cannot prune
    * without losing recall (P(bit agree) = 1 − acos(cos)/π ≈ 0.63 at
    * cos 0.4).
    */
  def embeddingNearDupPairsBlockedFor(e: DataFrame, threshold: Double,
                                      nBlocks: Int = 16): DataFrame = {
    import graft.functions.VectorOps
    require(nBlocks >= 2, s"need nBlocks=$nBlocks >= 2")
    val spark = e.sparkSession
    import spark.implicits._
    val B = nBlocks
    val grid = (for {
      i <- 0 until B
      d <- 0 to B / 2
      if !(B % 2 == 0 && d == B / 2 && i >= B / 2) // d=B/2 cells appear twice; keep one
    } yield (i, (i + d) % B)).toDF("gi", "gj")
    val blocked = e.select(col("vec_id"), col("embedding"),
      pmod(xxhash64(col("vec_id")), lit(B.toLong)).cast("int").as("blk"))
    val a = blocked
      .join(broadcast(grid), col("blk") === col("gi"))
      .select(col("gi"), col("gj"), col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = blocked
      .join(broadcast(grid), col("blk") === col("gj"))
      .select(col("gi").as("hi"), col("gj").as("hj"),
        col("vec_id").as("id_b"), col("embedding").as("vb"))
    // cell equi-keys + id-order pruning in the join condition; the cosine
    // threshold is stated once as a filter on the projected score, which
    // Catalyst pushes back into the SMJ's post-match condition — see
    // embeddingNearDupPairsExactFor for the single-statement rationale
    a.join(b, col("gi") === col("hi") && col("gj") === col("hj")
        && (col("gi") =!= col("gj") || col("id_a") < col("id_b"))
        && col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(VectorOps.cosineFast(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Cosine threshold at and above which the router may swap the exact
    * contract for banded candidates. 0.9 is set by the 8×8-band miss
    * curve (see [[embeddingNearDupPairsBandedFor]]): at the 0.9 edge the
    * per-pair miss is ≈ 6.5e-2 falling fast with cos (1.2e-2 at 0.95,
    * 8e-5 at 0.99) — the SemDeDup-class regime where banding is actually
    * used — while below 0.9 detection decays toward a coin flip and the
    * trade stops being a trade. The round-12 measurement that moved this
    * from 0.7: at 0.7 the only banding with usable recall (4-bit bands)
    * generates the full quadratic candidate mass — measured SLOWER than
    * plain exact broadcast at every n — so "banded at 0.7" was a recall
    * cost with a negative pruning payoff. The spec pins banded ≡ exact
    * for near-identical planted pairs; callers needing full recall above
    * maxExactRows below this threshold use
    * [[embeddingNearDupPairsBlockedFor]] (exact contract, distributed
    * quadratic), which the router takes for them.
    */
  val BandedSafeThreshold: Double = 0.9

  /** Embedding-cosine near-dup with an explicit scale router:
    *
    *   - n ≤ maxExactRows → the exact all-pairs kernel with one side
    *     broadcast (every pair with cos ≥ threshold, the operator's
    *     strongest contract) — O(n²) pairs is affordable and the
    *     broadcast side fits;
    *   - n > maxExactRows AND threshold ≥ [[BandedSafeThreshold]] → banded
    *     candidates + exact re-score ([[embeddingNearDupPairsBandedFor]])
    *     — ~64×-pruned candidate generation, recall bounded as documented
    *     there;
    *   - n > maxExactRows at a LOOSER threshold → the grid-blocked exact
    *     path ([[embeddingNearDupPairsBlockedFor]]): banding at loose
    *     thresholds under-recalls by construction, so the router keeps the
    *     exact contract and pays the (distributed, memory-bounded)
    *     quadratic compute instead — never a silent recall downgrade. The
    *     block count scales with n so each cell stays ~100k×100k.
    *
    * The routing count is [[Tables.rowCount]], memoized per (session,
    * leaf-file listing), so a rewritten fixture routes on its new size.
    *
    * maxExactRows = 50k is MEASURED, not guessed (round-12 crossover
    * measurement, BENCH_NOTES.md): the exact broadcast kernel walls
    * 3.4 / 9.5 / 34.8 s at n = 10k / 20k / 40k on local[32] (clean quadratic, ≈ 22 s per
    * (10 k)² beyond JVM floor), putting the 50k boundary at ≈ 55 s —
    * the single-JVM minute-class budget (the knnEdgesRouted cap
    * discipline; its 10k cap guards a heavier |V|²·d re-scoring pass,
    * hence the lower bar). The round-11 default of 200k extrapolates to
    * ≈ 15 min single-node — an hour-class query the router would
    * happily choose. Above the cap both fallbacks are memory-bounded:
    * blocked replicates O(B·n) rows with flat per-task memory; banded
    * prunes ~64×. On a real cluster the exact-broadcast route also caps
    * the BROADCAST at ~13 MB (50k × 64 f32) — comfortably under default
    * driver/executor budgets, where 200k × wider embeddings would not be.
    */
  def embeddingNearDupPairs(spark: SparkSession, dir: String, threshold: Double = 0.4,
                            maxExactRows: Long = 50000L): DataFrame =
    ensureEmbedPairs(spark, dir, threshold, maxExactRows)

  private def embeddingNearDupPairsRouted(spark: SparkSession, dir: String,
                                          threshold: Double,
                                          maxExactRows: Long): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val n = Tables.rowCount(spark, dir, "embeddings")
    if (n <= maxExactRows)
      embeddingNearDupPairsExactFor(e, threshold)
    else if (threshold >= BandedSafeThreshold)
      embeddingNearDupPairsBandedFor(e, threshold)
    else
      embeddingNearDupPairsBlockedFor(e, threshold,
        nBlocks = math.min(1024L, n / 100000L + 2L).toInt)
  }

  /** Session-shared embedding-pair leaf — [[ensureJaccardPairs]]'s
    * discipline on the embedding side: the routed near-dup pair relation
    * (id_a, id_b, cos) at (threshold, maxExactRows) is a pure function
    * of its key (the route is count-deterministic, the kernel 6dp-
    * rounded), re-derived per run by q20 (the router contract row), q58
    * (clusters = CC over these edges), and q169 (cohesion over those
    * clusters) until r16. Built once per (session, dir, threshold,
    * maxExactRows); every consumer reads the spill back with a declared
    * schema. */
  def ensureEmbedPairs(spark: SparkSession, dir: String,
                       threshold: Double = 0.4,
                       maxExactRows: Long = 50000L): DataFrame = {
    val idType = Tables.embeddings(spark, dir).schema("vec_id").dataType
    val root = graft.sources.Sources.ensureStore(spark, "embpairs",
        s"$dir|$threshold|$maxExactRows") { p =>
      embeddingNearDupPairsRouted(spark, dir, threshold, maxExactRows)
        .write.mode("overwrite").parquet(p)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_a", idType),
      org.apache.spark.sql.types.StructField("id_b", idType),
      org.apache.spark.sql.types.StructField("cos",
        org.apache.spark.sql.types.DoubleType)))
    spark.read.schema(schema).parquet(root)
  }

  /** Session-shared embedding-cluster leaf: the CC resolution over
    * [[ensureEmbedPairs]] — q58's whole output and q169's label input,
    * each of which re-ran the O(log² n)-round CC alternation per query
    * until r16. Content is deterministic (min-label CC over a
    * deterministic edge set). */
  def ensureEmbedClusters(spark: SparkSession, dir: String,
                          threshold: Double = 0.4): DataFrame = {
    val idType = Tables.embeddings(spark, dir).schema("vec_id").dataType
    val root = graft.sources.Sources.ensureStore(spark, "embclusters",
        s"$dir|$threshold") { p =>
      val pairs = ensureEmbedPairs(spark, dir, threshold)
      val vertices = Tables.embeddings(spark, dir).select(col("vec_id").as("id"))
      connectedComponents(vertices,
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
        .select(col("id").as("vec_id"), col("lbl").as("cluster_id"),
          (col("lbl") === col("id")).as("keep"))
        .write.mode("overwrite").parquet(p)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", idType),
      org.apache.spark.sql.types.StructField("cluster_id", idType),
      org.apache.spark.sql.types.StructField("keep",
        org.apache.spark.sql.types.BooleanType)))
    spark.read.schema(schema).parquet(root)
  }

  /** Connected components over an undirected edge set, as
    * `(id, lbl)` with `lbl` the minimum id of `id`'s component (isolated
    * vertices label themselves). The edges are canonicalized to (hi > lo),
    * deduplicated and checkpointed once; then one of two routes finishes:
    *
    *   - LOCAL, for graphs that fit under
    *     `spark.sql.autoBroadcastJoinThreshold` at [[LocalFinishEdgeBytes]]
    *     per edge (about 650k edges at the 10 MB default) with integral
    *     ids: ONE bounded collect both decides the route and ships the
    *     edges to the driver, a min-label union-find resolves them, and the
    *     star map goes back as a broadcast relation. Near-dup graphs are
    *     this size at any corpus scale the fixtures reach, and the
    *     distributed fixpoint spends ~40 fixed-cost jobs on them.
    *   - DISTRIBUTED, over the bound, when the threshold is ≤ 0, or for
    *     non-integral ids: [[starLabelsByAlternation]].
    *
    * Either route's star map `(id → component min, non-minimum ids only)`
    * is left-joined to `vertices`, and the labeling is VALIDATED: every
    * original edge must connect identically-labeled vertices, else throw.
    * An unconverged or inconsistent label table silently mislabels
    * clusters, which a dedup pipeline must never ship.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = 25): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .distinct().localCheckpoint(true)
    val spark = e0.sparkSession
    val idType = e0.schema("hi").dataType
    val bound = idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        math.min(spark.sessionState.conf.autoBroadcastJoinThreshold /
          LocalFinishEdgeBytes, Int.MaxValue - 1L).toInt
      case _ => 0
    }
    // coalesce(1): the bounded take is one single-task job, not a scan
    // that widens over the partitions job by job
    val small = if (bound <= 0) None
      else Some(e0.coalesce(1).limit(bound + 1).collect()).filter(_.length <= bound)
    val starLabels = small match {
      case Some(rows) => broadcast(localStarLabels(spark, rows)
        .select(col("id").cast(idType), col("lbl").cast(idType)))
      case None => starLabelsByAlternation(e0, maxIter)
    }
    val labels = vertices.select(col("id"))
      .join(starLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
      .localCheckpoint(true)
    // soundness gate on both routes: a split component always leaves some
    // original edge whose endpoints carry two labels. Each edge is keyed by
    // both endpoints so ONE join over the labels finds both; the count runs
    // per partition on the RDD, without the exchange Dataset.count adds
    val endpoints = e0.select(col("hi").as("id"), col("hi"), col("lo"))
      .union(e0.select(col("lo").as("id"), col("hi"), col("lo")))
    val inconsistent = labels.join(endpoints, "id")
      .groupBy(col("hi"), col("lo"))
      .agg(min(col("lbl")).as("la"), max(col("lbl")).as("lb"))
      .filter(col("la") =!= col("lb")).rdd.count()
    if (inconsistent > 0)
      throw new IllegalStateException(
        s"connectedComponents converged to an inconsistent labeling ($inconsistent crossing edges)")
    labels
  }

  /** Bytes one canonical (hi, lo) edge is charged against
    * `spark.sql.autoBroadcastJoinThreshold` when [[connectedComponents]]
    * picks its route: two 8-byte ids. */
  private val LocalFinishEdgeBytes: Long = 16L

  /** Min-label union-find over collected (hi, lo) integral edges, on the
    * driver. Every union hangs the larger root under the smaller, so each
    * root is its component's minimum; the result is the star map
    * `(id, lbl)` of the non-root ids, as Longs. */
  private def localStarLabels(spark: SparkSession,
                              rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val slot = new scala.collection.mutable.LongMap[Int](2 * rows.length)
    val ids = new Array[Long](2 * rows.length)
    val parent = Array.range(0, 2 * rows.length)
    var n = 0
    def slotOf(v: Long): Int = slot.getOrElseUpdate(v, { ids(n) = v; n += 1; n - 1 })
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    rows.foreach { r =>
      val a = find(slotOf(r.getAs[Number](0).longValue))
      val b = find(slotOf(r.getAs[Number](1).longValue))
      if (a != b) { if (ids(a) < ids(b)) parent(b) = a else parent(a) = b }
    }
    import spark.implicits._
    (0 until n).flatMap { i =>
      val root = find(i)
      if (root == i) None else Some(ids(i) -> ids(root))
    }.toDF("id", "lbl")
  }

  /** The distributed finish of [[connectedComponents]]: the
    * large-star/small-star alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the O(log² n)-round
    * algorithm, vs graph-diameter rounds for plain min-label propagation.
    * Near-dup graphs are usually unions of near-cliques (diameter 1-2,
    * where either algorithm takes a couple of rounds), but chain-shaped dup
    * graphs — template drift, quote chains — have O(n) diameter, and label
    * propagation on them either runs n rounds or gives up; the alternation
    * converges in a handful of rounds regardless of shape.
    *
    * Each alternation is two equi-joins + two min-aggregates, all shuffled
    * on a vertex id with map-side combine — the same per-round shape and
    * cost class as one propagation round. Edges keep the canonical
    * orientation (hi > lo):
    *
    *   - large-star: every vertex v > u in u's neighborhood attaches to
    *     m = min(N(u) ∪ {u});
    *   - small-star: u and all its smaller neighbors attach to the minimum
    *     of u's closed smaller-neighborhood.
    *
    * At the fixpoint the edge set is a disjoint union of stars whose
    * centers are the component minima, so labels read off as
    * min-lo-per-hi. Convergence is detected by EXACT set equality across
    * one full alternation, decided by ONE action per round (a left-join
    * aggregate over the checkpointed, distinct edge relations yields
    * |new| and |new ∖ old| together; with the previous count remembered,
    * both equality conditions read off one row). Throws when `maxIter`
    * rounds do not converge. Per-round localCheckpoints keep lineage
    * flat; on a real cluster these become checkpoints to durable storage.
    */
  private def starLabelsByAlternation(e0: DataFrame, maxIter: Int): DataFrame = {
    // exact fixpoint test: both edge sets are distinct, localCheckpointed
    // relations, so a count gate (previous round's count is remembered,
    // not recomputed) + one-direction containment decides set equality
    // soundly — same cost class as the former (count, Σhi, Σlo) stats
    // compare, without its theoretical stats-collision false positive
    var e = e0
    var eCount = e0.count()
    var converged = eCount == 0L // no edges: every vertex is its own star
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: attach each larger neighbor to the neighborhood min
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct().localCheckpoint(true)
      // small-star: attach u and its smaller neighbors to their minimum
      val sMins = ls.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val ss = ls.join(sMins, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(sMins.select(col("hi"), col("m").as("lo")))
        .distinct().localCheckpoint(true)
      // ONE action decides set equality (was count + exceptAll, two): ss
      // and e are distinct checkpointed relations, so |ss| = |e| together
      // with ss ∖ e = ∅ is equality, and both quantities fall out of a
      // single left-join aggregate over the checkpointed blocks
      val row = ss
        .join(e.select(col("hi"), col("lo"), lit(1).as("in_prev")),
          Seq("hi", "lo"), "left")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(when(col("in_prev").isNull, 1L).otherwise(0L)), lit(0L))
            .as("novel"))
        .head()
      val ssCount = row.getLong(0)
      converged = ssCount == eCount && row.getLong(1) == 0L
      e = ss
      eCount = ssCount
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    e.groupBy(col("hi").as("id")).agg(min(col("lo")).as("lbl"))
  }

  /** D31 [EXT] — DEDUP THRESHOLD SENSITIVITY CURVE: the knob-tuning query
    * a curation team runs BEFORE shipping a dedup pass — "at which
    * Jaccard threshold do we dedup, and what does each choice cost?" Per
    * threshold in the sweep: the near-dup pair count, the documents
    * touched by any pair, the exact connected-component cluster count
    * over that edge set, the documents a keep-one dedup would DROP
    * (touched − clusters — exact, not the docs-with-lower-neighbor
    * proxy, which undercounts chains), and the mean pair Jaccard.
    *
    * Scale: candidate generation — the expensive part — runs ONCE at the
    * loosest threshold (pairs at tighter thresholds are a subset by
    * monotonicity of ≥) on the session-shared [[ensureJaccardPairs]]
    * leaf; each threshold then pays only a filter over the pair-bounded
    * edge relation plus a CC whose input is near-dup-bounded, orders of
    * magnitude below corpus size. The same one-pass-many-gates shape as
    * the q165/q178/q180 sweeps. The per-threshold legs are INDEPENDENT
    * (each filters its own edge set and runs its own CC), so they run
    * on concurrent driver threads over the persisted pair leaf. A leg is
    * a short chain of small jobs even when its CC takes the local finish
    * (edge checkpoint, bounded collect, label join, validation gate,
    * stats), each too small to fill the cores, so interleaving the legs
    * fills the cores one leg leaves idle; an over-bound edge set runs
    * the alternation's many barrier-synchronized rounds, where the
    * interleaving matters most. */
  def dedupThresholdCurve(spark: SparkSession, dir: String,
                          ts: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)): DataFrame = {
    require(ts.nonEmpty && ts.forall(t => t > 0 && t <= 1), s"need 0<t<=1; got $ts")
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val pairs = ensureJaccardPairs(spark, dir, ts.min).persist()
    try {
      graft.DriverLegs.map(spark, ts.sorted) { t =>
        val pt = pairs.filter(col("jaccard") >= t)
        val touched = pt.select(col("doc_a").as("id"))
          .unionByName(pt.select(col("doc_b").as("id"))).distinct()
        val cc = connectedComponents(touched,
          pt.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        val stats = pt.agg(
          count(lit(1)).as("n_pairs"),
          round(avg(col("jaccard")).cast(dec), 6).cast("double")
            .as("mean_jaccard"))
        val clusters = cc.agg(
          count(lit(1)).as("n_docs_in_pairs"),
          countDistinct(col("lbl")).as("n_clusters"))
        stats.crossJoin(clusters)
          .select(lit(t).as("threshold"), col("n_pairs"),
            col("n_docs_in_pairs"), col("n_clusters"),
            (col("n_docs_in_pairs") - col("n_clusters"))
              .as("n_docs_dropped"),
            col("mean_jaccard"))
          .localCheckpoint(true) // 1 row — materialized in the leg
      }.reduce(_.unionByName(_))
    } finally { pairs.unpersist(); () }
  }

  /** D33 [EXT] — DUPLICATION SEVERITY HISTOGRAM: how bad is the
    * duplication, by cluster size — the one-table answer to "are we
    * dealing with pairs or with a mega-cluster": per near-dup cluster
    * size (singletons included as size 1), the cluster count, the doc
    * mass, and the docs a keep-one dedup would drop from that size class
    * ((size−1)·n_clusters). The q181 curve sweeps the threshold; this
    * slices the SHAPE at the shipped threshold — a corpus of pairs and a
    * corpus with one 10k-doc template cluster dedup identically by rate
    * but need completely different df-caps and routers.
    *
    * Scale: the edge set is the session-shared [[ensureJaccardPairs]]
    * leaf (the q17 exact-Jaccard contract — the same relation the LSH
    * route verifies down to, so the cluster machinery is unchanged);
    * the histogram adds two map-side-combined aggs on cluster_id then
    * size — both bounded by cluster count.
    */
  def dupClusterHistogram(spark: SparkSession, dir: String,
                          threshold: Double = 0.5): DataFrame = {
    val clusters = clustersFromPairs(Tables.documents(spark, dir),
      ensureJaccardPairs(spark, dir, threshold))
    clusters.groupBy(col("cluster_id")).agg(count(lit(1)).as("size"))
      .groupBy(col("size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("size"), col("n_clusters"),
        (col("size") * col("n_clusters")).as("n_docs"),
        ((col("size") - 1) * col("n_clusters")).as("n_docs_dropped"))
  }

  /** The dedup verb a training-data pipeline actually runs: resolve
    * near-dup PAIRS into clusters and a keep/drop decision per document.
    * Edges are the MinHash-LSH pairs (exact-Jaccard-verified, so the edge
    * set is engine-independent and oracle-reproducible); clusters come
    * from [[connectedComponents]]; the keep rule is lowest doc_id per
    * cluster — deterministic, and the same rule the exact-hash dedup
    * (q16) uses. Output: one row per document with its cluster and the
    * keep verdict; filtering keep=true IS the deduplicated corpus
    * ([[dedupCorpusFor]]). The reference drops duplicate rows at
    * /root/reference/src/preprocessing_pipeline.py:279-283; this is that
    * operation generalized from exact-key equality to near-duplicate
    * clusters.
    */
  def nearDupClustersFor(docs: DataFrame, threshold: Double = 0.5,
                         shOpt: Option[DataFrame] = None,
                         sigOpt: Option[DataFrame] = None): DataFrame =
    clustersFromPairs(docs,
      minhashLshPairsFor(docs, threshold = threshold, shOpt = shOpt,
        sigOpt = sigOpt))

  /** Cluster resolution with the winnowed candidate route
    * ([[winnowCandidateJaccardPairsFor]]) — what [[nearDupClusters]] picks
    * above [[MaxFullIndexDocs]], exposed directly so the forced q65 row
    * exercises it at fixture scale. */
  def nearDupClustersWinnowedFor(docs: DataFrame, threshold: Double = 0.5,
                                 shOpt: Option[DataFrame] = None,
                                 fpOpt: Option[DataFrame] = None): DataFrame =
    clustersFromPairs(docs,
      winnowCandidateJaccardPairsFor(docs, threshold, shOpt = shOpt,
        fpOpt = fpOpt))

  /** Shared pairs → connected components → keep-rule tail. The shingle
    * leaf is localCheckpointed inside the pair verbs, so nothing here
    * needs an unpersist hand-off: connectedComponents checkpoints the edge
    * set up front and the shingle blocks are reclaimed once the pair plan
    * is garbage-collected. */
  private def clustersFromPairs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val vertices = docs.select(col("doc_id").as("id"))
    connectedComponents(vertices, edges)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
        (col("lbl") === col("id")).as("keep"))
  }

  /** Doc count at and below which [[nearDupClusters]] keeps the
    * full-shingle MinHash-LSH candidate route. Above it the corpus pays
    * for its index size, and candidate generation moves to the winnowed
    * fingerprint index — fixed 8-byte keys, ~2× narrower rows, count
    * tunable ∝ 1/(w+1) (see [[winnow]]) — while scoring stays exact
    * full-shingle Jaccard either way. At the
    * default the fixture corpora (≤ ~60k docs) always take the LSH route,
    * so q52/q55 pin it while the forced q65 row pins the winnowed one.
    */
  val MaxFullIndexDocs: Long = 1000000L

  /** q98 — CROSS-SOURCE DUPLICATION MATRIX: where do the near-dups come
    * from? The contamination report a multi-source corpus publishes —
    * near-dup pairs (the q17 exact-Jaccard contract) rolled up by
    * UNORDERED source pair, so web↔web self-duplication and web↔wiki
    * cross-pollution land in distinct, directionless cells. Pair
    * generation is the audited inverted-index machinery; the rollup adds
    * two id-only joins to attach sources (the doc relation never rides
    * the pair join) and one hash agg on the tiny (source, source) key.
    */
  def crossSourceDupMatrix(spark: SparkSession, dir: String,
                           threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = ensureJaccardPairs(spark, dir, threshold)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .groupBy(
        least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      // avg via the EXACT e4 integer sum (each jaccard is already a
      // 4dp value, so round(j·10⁴) recovers its integer exactly), then
      // one floor-form rounding in double space — a plain double avg
      // is summation-order-sensitive and its last ulp flips the 4dp
      // rounding between engines on boundary values (found by the r18
      // full-registry check at sf0.1)
      .agg(count(lit(1)).as("n_pairs"),
        (floor(sum(round(col("jaccard") * 10000).cast("long"))
            .cast("double") / count(lit(1)) + 0.5) / 10000.0)
          .as("avg_jaccard"))
  }

  /** Text near-dup cluster resolution with a corpus-size router over the
    * candidate generator (the [[embeddingNearDupPairs]] pattern brought to
    * the text side): same exact-Jaccard scoring and CC tail on both
    * routes, so the contract never weakens — only the candidate index
    * shrinks. The routing count is [[Tables.rowCount]]. */
  def nearDupClusters(spark: SparkSession, dir: String, threshold: Double = 0.5,
                      maxFullIndexDocs: Long = MaxFullIndexDocs): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = Tables.rowCount(spark, dir, "documents")
    val sh = Some(ensureDocShingles(spark, dir))
    if (n <= maxFullIndexDocs) nearDupClustersFor(docs, threshold, sh,
      sigOpt = Some(ensureMinhashSigs(spark, dir)))
    else nearDupClustersWinnowedFor(docs, threshold, sh)
  }

  /** The deduplicated corpus itself: keep one representative (lowest
    * doc_id) per near-dup cluster, drop the rest. */
  def dedupCorpusFor(docs: DataFrame, threshold: Double = 0.5,
                     shOpt: Option[DataFrame] = None,
                     sigOpt: Option[DataFrame] = None): DataFrame =
    docs.join(
      nearDupClustersFor(docs, threshold, shOpt, sigOpt)
        .filter(col("keep")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Semantic (embedding-space) near-dup cluster resolution — the same
    * pairs → connected components → keep rule as [[nearDupClusters]], with
    * cosine pairs as the edge set instead of Jaccard pairs. This is the
    * dedup modern LLM curation runs on embedding similarity (SemDeDup-
    * style): text-level hashing misses paraphrases that embed together.
    * Edges come from the routed [[embeddingNearDupPairs]], so the operator
    * inherits its contract: exact under maxExactRows, banded above only at
    * thresholds where banding's miss bound is documented-tight, and
    * grid-blocked exact at loose thresholds — never a silent recall
    * downgrade (a lossy edge set would under-merge clusters).
    */
  def embeddingNearDupClusters(spark: SparkSession, dir: String,
                               threshold: Double = 0.4): DataFrame =
    ensureEmbedClusters(spark, dir, threshold)

  /** D29 [EXT] — CLUSTER COHESION AUDIT: connected components over-merge
    * by construction — a near-dup CHAIN (a~b ≥ t, b~c ≥ t, a~c < t) lands
    * in one cluster whose keep-one step then drops documents that are NOT
    * near-dups of the kept exemplar. This audit measures that: per
    * multi-member cluster of [[embeddingNearDupClusters]], the full
    * within-cluster pairwise cosine stats (pair count, min, mean — per-
    * pair cos rounded 6dp BEFORE aggregating, the q20 discipline) and the
    * `chained` flag (min_cos < threshold ⟹ transitivity, not similarity,
    * built this cluster). The number that decides between keep-one and a
    * medoid/re-cluster pass before a dedup ships.
    *
    * Skew guard: the within-cluster self-join is cluster-size²; a
    * template mega-cluster would make one key quadratic-hot, so clusters
    * larger than `maxClusterSize` are EXCLUDED from the pair join (filter
    * before the shuffle) and still reported with audited = false and
    * null stats — deterministic, never silently truncated. Fixture
    * clusters sit far under the default cap, so the q169 oracle
    * exercises the audited arm; the spec plants an over-cap cluster to
    * pin the excluded arm.
    *
    * Scale: labels are D7's output; sizes and membership are
    * \|V\|-sized; the pair join shuffles on cluster_id with both sides
    * capped at maxClusterSize members per key.
    */
  def clusterCohesionAudit(spark: SparkSession, dir: String,
                           threshold: Double = 0.4,
                           maxClusterSize: Long = 1000L): DataFrame =
    clusterCohesionAuditFor(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      embeddingNearDupClusters(spark, dir, threshold)
        .select(col("vec_id"), col("cluster_id")),
      threshold, maxClusterSize)

  private[graft] def clusterCohesionAuditFor(e: DataFrame, labels: DataFrame,
                                             threshold: Double,
                                             maxClusterSize: Long): DataFrame = {
    import graft.functions.VectorOps
    require(maxClusterSize >= 2, s"need maxClusterSize >= 2; got $maxClusterSize")
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("size"))
      .filter(col("size") >= 2)
    val members = labels.join(sizes, "cluster_id")
      .filter(col("size") <= maxClusterSize)
      .join(e, "vec_id")
      .select(col("cluster_id"), col("vec_id"), col("embedding"))
    val pairs = members.as("x").join(members.as("y"), Seq("cluster_id"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("cluster_id"),
        round(VectorOps.cosineFast(col("x.embedding"), col("y.embedding")), 6).as("cos"))
    // mean through an exact DECIMAL sum (order-free), then one double
    // division — a double avg() can land a sum-order ulp exactly on the
    // 6dp rounding boundary (seen once at sf0.1); the q92 discipline
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val stats = pairs.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_pairs"), min(col("cos")).as("min_cos"),
        round(sum(col("cos").cast(dec)).cast("double") / count(lit(1)), 6)
          .as("mean_cos"))
    sizes.join(stats, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("size"),
        (col("size") <= maxClusterSize).as("audited"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("min_cos"), col("mean_cos"),
        when(col("size") <= maxClusterSize, col("min_cos") < threshold).as("chained"))
  }

  /** q121 — PASSAGE-LEVEL DEDUP: deduplicate at sub-document granularity.
    * Whole-document dedup (q15/q16) misses the dominant duplication mode in
    * a web crawl — the same boilerplate passage pasted into thousands of
    * otherwise-distinct pages — so production curation dedups PASSAGES:
    * split every doc into consecutive `passage`-token blocks, keep each
    * distinct passage text exactly once corpus-wide (first occurrence in
    * (doc_id, passage_idx) order wins), and report per doc how much of it
    * survived. The per-doc (kept, dropped) profile is the curation signal:
    * a doc whose passages are all owned elsewhere is pure boilerplate.
    *
    * Scale shape: the passage split is the q107 map-side fan-out (no
    * shuffle); ownership is ONE hash aggregation on passage text —
    * `min(struct(doc_id, passage_idx))` is map-side combinable, so a
    * passage repeated a billion times (hot boilerplate) still reduces to
    * one row per partition before the shuffle, where a `row_number` window
    * would sort the whole billion-row group in one task. The owner relation
    * joins back on the same key (co-partitioned by the agg — no extra
    * exchange), and AQE's skew-join split covers the join-side hot keys.
    */
  def passageDedup(spark: SparkSession, dir: String, passage: Int = 16): DataFrame = {
    require(passage >= 1, s"bad passage width: $passage")
    val p = Tables.documents(spark, dir)
      .select(col("doc_id"), TF.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"), col("t"),
        posexplode(sequence(lit(0), size(col("t")) - 1, lit(passage))))
      .select(col("doc_id"), col("pos").cast("long").as("passage_idx"),
        array_join(slice(col("t"), col("col") + 1, lit(passage)), " ")
          .as("passage_text"),
        least(lit(passage), size(col("t")) - col("col")).cast("long")
          .as("n_tokens"))
    val owners = p.groupBy(col("passage_text"))
      .agg(min(struct(col("doc_id"), col("passage_idx"))).as("o"))
      .select(col("passage_text"), col("o.doc_id").as("o_doc"),
        col("o.passage_idx").as("o_idx"))
    p.join(owners, "passage_text")
      .withColumn("kept",
        col("doc_id") === col("o_doc") && col("passage_idx") === col("o_idx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("kept_tokens"),
        sum(col("n_tokens")).as("total_tokens"))
  }

  /** q136 — CDC-GRAIN PASSAGE DEDUP + boilerplate gate: q121's ownership
    * discipline applied to CONTENT-DEFINED chunks (q134) instead of fixed
    * 16-token blocks — the combination that actually catches edited
    * boilerplate: fixed blocks lose alignment after one inserted token,
    * CDC boundaries re-synchronize, so the same passage pasted at any
    * offset of any doc still collides on its chunk hashes. Per doc, the
    * survival profile (chunks kept/owned-elsewhere, token counts) plus
    * the REMOVAL VERDICT: `dropped` iff the duplicated-token fraction
    * reaches `tau` — the "this page is mostly someone else's text"
    * curation gate. The fraction gate rounds through DECIMAL on both
    * engines (the q92/q126 tie discipline).
    *
    * Scale shape: chunking is the q134 in-row pass (no shuffle);
    * ownership is ONE hash agg keyed on the 32-byte chunk HASH —
    * `min(struct(doc_id, chunk_idx))` map-side combines, so a
    * billion-occurrence boilerplate chunk reduces to one row per
    * partition before the exchange (never a row_number sort of the hot
    * group); the owner relation joins back on the agg's own key
    * (co-partitioned, AQE skew-split covers hot hashes); the rollup keys
    * on doc_id. Joining on the fixed-width hash rather than passage TEXT
    * also bounds shuffle row width — the q121 shape with a smaller key. */
  def cdcPassageDedup(spark: SparkSession, dir: String, tau: Double = 0.5,
                      seed: Long = 42L): DataFrame =
    cdcPassageDedupFor(Tables.documents(spark, dir), tau, seed)

  /** The CDC-dedup core over any (doc_id, text) relation. */
  def cdcPassageDedupFor(docs: DataFrame, tau: Double = 0.5,
                         seed: Long = 42L): DataFrame = {
    // The chunk relation feeds ownership AND the join-back side, and its
    // dominant cost is the interpreted md5-per-token pass — recomputing
    // it per consumer doubles that, and pinning it in executor storage
    // (localCheckpoint) is the footprint q88/q123 were moved off. The
    // D9 discipline: spill once to scratch parquet, let both consumers
    // re-read the compact columnar spill. spillScratch's per-call path
    // makes concurrent invocations collision-free by construction (the
    // old caller-supplied tag only promised it).
    val chunks = graft.sources.Sources.spillScratch(
      graft.operators.TextAnalysis.contentDefinedChunksFor(docs, seed),
      "cdc_chunks")
    val owners = chunks.groupBy(col("chunk_hash"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("o"))
      .select(col("chunk_hash"), col("o.doc_id").as("o_doc"),
        col("o.chunk_idx").as("o_idx"))
    chunks.join(owners, "chunk_hash")
      .withColumn("kept",
        col("doc_id") === col("o_doc") && col("chunk_idx") === col("o_idx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("kept_tokens"),
        sum(col("n_tokens")).as("total_tokens"))
      .withColumn("dropped",
        round(((col("total_tokens") - col("kept_tokens")).cast("double")
            / col("total_tokens"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 18)), 6)
          .cast("double") >= tau)
  }

  /** q124 — SEMANTIC DEDUP (SemDeDup shape): drop embeddings that are
    * semantically redundant with an earlier-id neighbor INSIDE the same
    * coarse semantic bucket — the Abbas et al. 2023 recipe (cluster, then
    * prune within-cluster cosine-near pairs) with the cluster step made
    * deterministic and engine-independent: the bucket is the sign pattern
    * of the first `signBits` embedding dimensions (a fixed hyperplane-LSH
    * code, no trained centroids). A vector is DROPPED iff some lower-id
    * vector in its bucket has cosine ≥ `tau` with it (one-hop dominance by
    * the stable minimum, NOT transitive chaining — the kept set is
    * well-defined without iteration). Output: the survivors with their
    * bucket and, for audit, how many bucket-mates each survivor dominated.
    *
    * Scale shape: the bucket code is one in-row projection; the quadratic
    * step is confined to a bucket equi-join (the q20-family discipline —
    * never a corpus cross join), and 2^signBits buckets at 100 TB are
    * sized by raising signBits, which shrinks per-bucket pair counts
    * geometrically while keeping near-identical pairs co-bucketed (their
    * sign patterns agree with probability 1 − acos(cos)/π per bit).
    */
  def semanticDedupSurvivors(spark: SparkSession, dir: String,
                             tau: Double = 0.4, signBits: Int = 4): DataFrame = {
    import graft.functions.VectorOps
    require(signBits >= 1 && signBits <= 16, s"signBits out of range: $signBits")
    val src = Tables.embeddings(spark, dir)
    // non-ANSI element_at past the end yields null > 0f -> bit silently 0,
    // which would quietly collapse buckets; sight the dim once (the
    // trainPqBooks discipline — one-row action) and fail loudly instead.
    val dim = src.select(size(col("embedding"))).head().getInt(0)
    require(signBits <= dim,
      s"signBits=$signBits exceeds embedding dimension $dim")
    val code = (0 until signBits).map { i =>
      when(element_at(col("embedding"), i + 1) > 0f, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val e = src.select(col("vec_id"), col("embedding"), code.as("bucket"))
    val a = e.select(col("bucket"), col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("bucket"), col("vec_id").as("id_b"), col("embedding").as("vb"))
    // q20 discipline: state the threshold once on the projected score and
    // let Catalyst push it into the join condition.
    val dominated = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorOps.cosineFast(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= tau)
    val dropIds = dominated.select(col("id_b").as("vec_id")).distinct()
    val domCounts = dominated
      .join(dropIds.select(col("vec_id").as("id_a")), Seq("id_a"), "left_anti")
      .groupBy(col("id_a")).agg(count(lit(1)).as("n_dominated"))
      .withColumnRenamed("id_a", "vec_id")
    e.select(col("vec_id"), col("bucket"))
      .join(dropIds, Seq("vec_id"), "left_anti")
      .join(domCounts, Seq("vec_id"), "left")
      .select(col("vec_id"), col("bucket"),
        coalesce(col("n_dominated"), lit(0L)).as("n_dominated"))
  }

  /** q126 — CONTAINMENT PAIRS: find document pairs where the SMALLER
    * document's shingle set is mostly inside the larger's — the
    * sub-document duplication that Jaccard misses by construction (a 40-
    * token doc fully pasted into a 400-token doc has J ≈ 0.1 but
    * containment 1.0). Containment here is |A∩B| / min(|A|,|B|): the
    * symmetric max over both directed containments, reported for pairs
    * reaching `threshold`. The companion verb to q121: q121 removes the
    * repeated passages, this one FINDS the doc pairs in a wrap/quote/
    * boilerplate relationship.
    *
    * Scale shape: candidates come from the q17 inverted-index equi-join on
    * rare shingles with the same df-cap + exact hot-correction join, so
    * the candidate space is identical to near-dup's. The one structural
    * difference: a min()-denominator threshold cannot push down after the
    * FIRST size join (the min may be the other side), so the prune applies
    * only after both sizes are known — the candidate bound, not the
    * threshold, is what contains the pair count. Output keeps both
    * directed containments so a consumer can distinguish "a inside b"
    * from "b inside a".
    *
    * ORACLE CONTRACT / KNOWN CANDIDATE BOUND: a pair must share at least
    * one RARE (df ≤ dfCap) shingle to be emitted — the q126 DuckDB oracle
    * joins on ALL shingles, so a small doc composed ENTIRELY of hot
    * boilerplate shingles (every shingle above dfCap) is invisible to the
    * engine but visible to the oracle. The fixture's dfCap=1000 exceeds
    * every shingle's df, so the two agree there; on data with genuinely
    * hot shingles the engine's answer is the df-capped candidate set by
    * design (the same bound every inverted-index dedup in this repo
    * accepts — enumerating a df>dfCap posting list is the quadratic blowup
    * the cap exists to prevent). Consumers needing the all-hot-doc case
    * should route those docs (cheaply identifiable: max per-doc shingle
    * df-floor) through [[passageDedup]]'s exact ownership instead.
    */
  def containmentPairs(spark: SparkSession, dir: String,
                       threshold: Double = 0.8, dfCap: Int = 1000): DataFrame =
    containmentPairsFor(Tables.documents(spark, dir), threshold, dfCap,
      shOpt = Some(ensureDocShingles(spark, dir)))

  def containmentPairsFor(docs: DataFrame, threshold: Double = 0.8,
                          dfCap: Int = 1000,
                          shOpt: Option[DataFrame] = None): DataFrame = {
    // the shingle leaf feeds FOUR consumers (hot df, the rare self-join's
    // both sides, the hot-correction semi-join, sizes) — spilled once to
    // scratch parquet, never pinned corpus-sized in executor storage
    // (the q88/q123 discipline; lineage stays recoverable from the file);
    // the fixture entry reads the session-shared shingle leaf instead
    val sh = shOpt.getOrElse(graft.sources.Sources.spillScratch(
      docShingles(docs), "containment_sh"))
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("shingle"))
    val rare = sh.join(broadcast(hot), Seq("shingle"), "left_anti")
    val interRare = rare.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(rare.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter_rare"))
    val hotSh = sh.join(broadcast(hot), Seq("shingle"), "left_semi")
    val interHot = interRare.select(col("doc_a"), col("doc_b"))
      .join(hotSh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(hotSh.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter_hot"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    interRare
      .join(interHot, Seq("doc_a", "doc_b"), "left")
      .withColumn("inter", col("inter_rare") + coalesce(col("inter_hot"), lit(0L)))
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "nb"), "doc_b")
      // the 4dp rounds run in DECIMAL on both engines (the q88 discipline):
      // the long/long division is the only double step, identical bits on
      // both sides, so the rounded gate can never diverge
      .withColumn("containment",
        round((col("inter").cast("double") / least(col("na"), col("nb")))
            .cast(org.apache.spark.sql.types.DecimalType(38, 18)), 4)
          .cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round((col("inter").cast("double") / col("na"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 18)), 4)
          .cast("double").as("containment_a"),
        round((col("inter").cast("double") / col("nb"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 18)), 4)
          .cast("double").as("containment_b"),
        col("containment"))
  }

  /** D25 [EXT] — EXACT SHARED-SUBSTRING RUNS between document pairs: for
    * every pair sharing at least one verbatim run of ≥ `minRun` tokens,
    * the longest run, the run count, and the total run mass. This is the
    * substring-grain dedup of Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better") re-expressed for Spark: their
    * single-machine suffix array becomes a bounded gram-diagonal join,
    * because a shared run of ≥ minRun tokens is exactly a maximal chain
    * of consecutive n-token grams agreeing on one (doc_a, doc_b,
    * pos_a − pos_b) alignment diagonal — no global suffix sort needed.
    *
    * Shape: md5 n-token grams WITH POSITIONS (one in-row pass, the q134
    * discipline); a corpus-frequency cap `dfCap` drops grams whose join
    * fan-out would be quadratic in their df (true boilerplate — q114's
    * business, not a pair candidate); candidates are an equi-join on the
    * gram hash (never a cross join); runs are gaps-and-islands per
    * diagonal — island = pos_a − row_number() over (pair, diagonal) — and
    * an m-gram island is a run of m + n − 1 tokens. The windows partition
    * on (doc_a, doc_b, diag), each ≤ one document's grams, so no window
    * partition is ever corpus-hot (the q121 concern doesn't apply). A
    * phrase repeated at several offsets aligns on several diagonals and
    * is counted once per alignment — the mass is per-alignment by design.
    * The gram leaf feeds the df aggregate and both join sides: spilled
    * once to scratch parquet (the q88/q123 discipline). Fully
    * oracle-checked — md5, row_number, and integer arithmetic are
    * engine-identical.
    */
  /** Session-shared positional gram leaf: the (doc_id, pos, md5-gram)
    * relation at width n — the shared input of the substring-run pair
    * machinery (q150) and its cross-split contamination form (q156),
    * each of which previously re-tokenized and re-hashed the corpus into
    * its own scratch spill per invocation. Grams are a pure per-row
    * function of (doc_id, text, n), so the leaf changes cost, never
    * results (the ensureDocShingles discipline). */
  def ensureDocGrams(spark: SparkSession, dir: String,
                     n: Int = 8): DataFrame = {
    val root = graft.sources.Sources.ensureStore(spark, "grams",
        s"$dir|$n") { p =>
      Tables.documents(spark, dir).select(col("doc_id"),
          posexplode(TF.shingles(col("text"), n)).as(Seq("pos", "gram")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          md5(col("gram")).as("g"))
        .write.mode("overwrite").parquet(p)
    }
    spark.read.schema("doc_id BIGINT, pos BIGINT, g STRING").parquet(root)
  }

  def substringRunPairs(spark: SparkSession, dir: String, n: Int = 8,
                        dfCap: Int = 50, minRun: Int = 20): DataFrame =
    substringRunPairsFor(Tables.documents(spark, dir), n, dfCap, minRun,
      gOpt = Some(ensureDocGrams(spark, dir, n)))

  def substringRunPairsFor(docs: DataFrame, n: Int = 8, dfCap: Int = 50,
                           minRun: Int = 20,
                           gOpt: Option[DataFrame] = None): DataFrame = {
    require(n >= 2 && dfCap >= 2 && minRun >= n,
      s"need n>=2, dfCap>=2, minRun>=n; got n=$n dfCap=$dfCap minRun=$minRun")
    // gOpt: the positional gram relation already materialized at width n
    // (the session leaf) — parquet-backed, so no per-query spill either
    val g = gOpt.getOrElse(graft.sources.Sources.spillScratch(
      docs.select(col("doc_id"),
          posexplode(TF.shingles(col("text"), n)).as(Seq("pos", "gram")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          md5(col("gram")).as("g")),
      "substring_grams"))
    // boilerplate grams: df > dfCap occurrences corpus-wide. The hot set
    // is small by Zipf (q147's own evidence) — broadcast the anti side.
    val hot = g.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("g"))
    val rare = g.join(broadcast(hot), Seq("g"), "left_anti")
    val pairs = rare.select(col("doc_id").as("doc_a"), col("pos").as("pos_a"), col("g"))
      .join(rare.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"), col("g")),
        Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pos_a"),
        (col("pos_a") - col("pos_b")).as("diag"))
    runsFromPositionPairs(pairs, n)
      .filter(col("run_tokens") >= minRun)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("run_tokens")).as("max_run_tokens"),
        count(lit(1)).as("n_runs"),
        sum(col("run_tokens")).as("sum_run_tokens"))
  }

  /** The shared gaps-and-islands core of D25/D27: gram position matches
    * (doc_a, doc_b, pos_a, diag = pos_a − pos_b) → one row per MAXIMAL
    * run with its token length (an m-gram island ≡ m + n − 1 tokens).
    * Window partitions on (pair, diagonal) — ≤ one document's grams. */
  private def runsFromPositionPairs(pairs: DataFrame, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pos_a"))
    pairs
      .withColumn("island", col("pos_a") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(count(lit(1)).as("len"))
      .select(col("doc_a"), col("doc_b"),
        (col("len") + lit((n - 1).toLong)).as("run_tokens"))
  }

  /** D27 [EXT] — SUBSTRING CONTAMINATION REPORT: D25's exact-run machinery
    * pointed across the train/eval boundary — for each eval document, the
    * longest verbatim run any training document shares with it, how many
    * training documents contaminate it, and the run count. This is the
    * question benchmark-contamination forensics actually asks ("is this
    * eval item IN the training set, verbatim, and where") at the grain
    * D8's whole-doc Jaccard can't answer: a 30-token eval question pasted
    * into a 400-token training doc has J ≈ 0.07 and is invisible to q59,
    * but is a single 30-token diagonal run here. Split convention = q59's
    * ([[evalSplit]] of doc_id).
    *
    * Scale: gram leaf spilled once; hotness is CORPUS-wide df (q59's
    * discipline — a template gram is quadratic whichever split its
    * occurrences land in); candidates are the train×eval equi-join on the
    * gram hash (never all-pairs); the rollup is per eval doc. Fully
    * oracle-checked.
    */
  def substringContamination(spark: SparkSession, dir: String, n: Int = 8,
                             dfCap: Int = 50, minRun: Int = 20): DataFrame =
    substringContaminationFor(Tables.documents(spark, dir),
      evalSplit(col("doc_id")), n, dfCap, minRun,
      // the split predicate is a pure function of doc_id, so the session
      // gram leaf serves this consumer too (is_eval re-derived in-row)
      gOpt = Some(ensureDocGrams(spark, dir, n)
        .withColumn("is_eval", evalSplit(col("doc_id")))))

  def substringContaminationFor(docs: DataFrame, isEval: Column, n: Int = 8,
                                dfCap: Int = 50, minRun: Int = 20,
                                gOpt: Option[DataFrame] = None): DataFrame = {
    require(n >= 2 && dfCap >= 2 && minRun >= n,
      s"need n>=2, dfCap>=2, minRun>=n; got n=$n dfCap=$dfCap minRun=$minRun")
    val g = gOpt.getOrElse(graft.sources.Sources.spillScratch(
      docs.select(col("doc_id"), isEval.as("is_eval"),
          posexplode(TF.shingles(col("text"), n)).as(Seq("pos", "gram")))
        .select(col("doc_id"), col("is_eval"),
          col("pos").cast("long").as("pos"), md5(col("gram")).as("g")),
      "contam_grams"))
    val hot = g.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("g"))
    val rare = g.join(broadcast(hot), Seq("g"), "left_anti")
    val pairs = rare.filter(!col("is_eval"))
      .select(col("doc_id").as("doc_a"), col("pos").as("pos_a"), col("g"))
      .join(rare.filter(col("is_eval"))
        .select(col("doc_id").as("doc_b"), col("pos").as("pos_b"), col("g")),
        Seq("g"))
      .select(col("doc_a"), col("doc_b"), col("pos_a"),
        (col("pos_a") - col("pos_b")).as("diag"))
    runsFromPositionPairs(pairs, n)
      .filter(col("run_tokens") >= minRun)
      .groupBy(col("doc_b"))
      .agg(max(col("run_tokens")).as("max_run_tokens"),
        countDistinct(col("doc_a")).as("n_train_docs"),
        count(lit(1)).as("n_runs"))
      .withColumnRenamed("doc_b", "doc_id")
  }

  /** A28 [EXT] — MINHASH ESTIMATOR AUDIT: for every exact near-dup pair
    * (the q17 inverted-index route — oracle-recomputable), the k-wide
    * signature-agreement estimate of Jaccard checked against the exact
    * value, with the violation flag PINNED false. The audit a pipeline
    * runs before trusting D6's sketch parameters on a new corpus shape:
    * the LSH route's recall is spec-measured, but the ESTIMATOR's bias on
    * real pairs is what this row watches (k = 128 puts one σ at
    * √(J(1−J)/k) ≤ 0.045, so tol = 0.2 is a ≥4σ band — a violation means
    * the sketch is broken, not unlucky; and the hashes are deterministic,
    * so a green row is stable, not probabilistic). The q145/q34 invariant
    * discipline: every emitted column is DuckDB-recomputable (exact pairs
    * + a constant-true flag); the engine side recomputes the flag from
    * its own xxhash64 signatures.
    *
    * Scale: the shingle leaf is spilled once and shared by the pair route
    * and the signature aggregate (one corpus pass); signatures join the
    * pair list on doc_id — |pairs|-sized, never corpus². The agreement
    * count is one in-row `zip_with`/`filter` over two k-arrays.
    */
  def minhashEstimatorAudit(spark: SparkSession, dir: String, k: Int = 128,
                            threshold: Double = 0.5,
                            tol: Double = 0.2): DataFrame = {
    require(k >= 16 && tol > 0.0, s"need k>=16, tol>0; got k=$k tol=$tol")
    // the exact pair relation and the tokenization both come from the
    // session-shared leaves (q17's jacpairs store, the shingle store) —
    // the audit itself only pays the |pairs|-bounded signature compare
    minhashEstimatorAuditCore(ensureJaccardPairs(spark, dir, threshold),
      ensureDocShingles(spark, dir), k, tol,
      sigsOpt = Some(ensureMinhashSigs(spark, dir, k)))
  }

  def minhashEstimatorAuditFor(docs: DataFrame, k: Int = 128,
                               threshold: Double = 0.5, tol: Double = 0.2,
                               dfCap: Int = 1000): DataFrame = {
    require(k >= 16 && tol > 0.0, s"need k>=16, tol>0; got k=$k tol=$tol")
    val sh = graft.sources.Sources.spillScratch(docShingles(docs), "mh_audit_sh")
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("shingle"))
    val pairs = jaccardPairsAcross(sh, sh, hot, col("doc_a") < col("doc_b"), threshold)
    minhashEstimatorAuditCore(pairs, sh, k, tol)
  }

  /** The signature-compare tail shared by the leaf-fed fixture entry and
    * the generic For-form. Signatures are computed ONLY for docs named by
    * some audited pair (semi-join first): each doc's signature is a pure
    * function of its own shingles, and the pair join is inner on both
    * sides, so the restriction is output-invariant while the k-wide min
    * aggregation runs over the |pair docs| slice instead of the corpus. */
  private def minhashEstimatorAuditCore(pairs: DataFrame, sh: DataFrame,
                                        k: Int, tol: Double,
                                        sigsOpt: Option[DataFrame] = None)
      : DataFrame = {
    val auditDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // sigsOpt: the session signature leaf — the audited docs' signatures
    // are an exact id-slice (per-row function of each doc's shingles)
    val sigs = sigsOpt
      .map(_.join(auditDocs, Seq("doc_id"), "left_semi"))
      .getOrElse(minhashSignaturesFromShingles(
        sh.join(auditDocs, Seq("doc_id"), "left_semi"), k))
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("signature").as("sa")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("signature").as("sb")), "doc_b")
      .withColumn("agree",
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), b => b)))
      .withColumn("est_ok",
        abs(col("agree").cast("double") / k - col("jaccard")) <= tol)
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("est_ok"))
  }

  /** A32 [EXT] — SIMHASH ESTIMATOR AUDIT: the q154 discipline applied to
    * the SimHash sketch (D6's hamming route, spec-gated since round 1):
    * for every EXACT near-dup pair (full-shingle Jaccard ≥ `threshold`,
    * DuckDB-recomputable), the 64-bit signatures must agree on all but
    * ≤ `maxDisagreeBits` bits, flag PINNED true. Band choice is the q154
    * 4σ argument: unrelated docs disagree on E = 32 bits with σ = 4
    * (64 fair coin flips), so a 16-bit band sits 4σ below noise — a
    * violation means the vote kernel is broken, not an unlucky pair —
    * while measured fixture margins (max disagreement 12 bits across
    * sf0.001/0.01/0.1 for J ≥ 0.5 pairs, BENCH_NOTES.md) keep real pairs
    * clear of it. Deterministic hashes → a green row is stable. What
    * this row does NOT claim: detection at the q19 production radius
    * (hamming ≤ 3 recalls only ~75% of J ≥ 0.9 pairs on this fixture —
    * 64-bit SimHash is a coarse sketch; that recall trade stays
    * spec-measured on the planted fixture, q19's declared gate).
    *
    * Scale: exact pairs via the inverted-index core (one spilled shingle
    * leaf); signatures are one typed map over the corpus; the hamming
    * check joins |pairs|-sized relations — never corpus².
    */
  def simhashEstimatorAudit(spark: SparkSession, dir: String,
                            threshold: Double = 0.5,
                            maxDisagreeBits: Int = 16): DataFrame =
    // pairs from the session-shared jacpairs leaf (identical construction);
    // the audit pays only the |pairs|-bounded signature compare
    simhashEstimatorAuditCore(ensureJaccardPairs(spark, dir, threshold),
      Tables.documents(spark, dir), maxDisagreeBits)

  def simhashEstimatorAuditFor(docs: DataFrame, threshold: Double = 0.5,
                               maxDisagreeBits: Int = 16,
                               dfCap: Int = 1000): DataFrame = {
    val sh = graft.sources.Sources.spillScratch(docShingles(docs), "sim_audit_sh")
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("shingle"))
    val pairs = jaccardPairsAcross(sh, sh, hot, col("doc_a") < col("doc_b"), threshold)
    simhashEstimatorAuditCore(pairs, docs, maxDisagreeBits)
  }

  /** Signature-compare tail: SimHash is a pure per-document function, so
    * restricting the signature scan to docs named by some audited pair
    * (semi-join; the pair join is inner both sides) is output-invariant
    * and keeps the per-row hashing |pair docs|-bounded. */
  private def simhashEstimatorAuditCore(pairs: DataFrame, docs: DataFrame,
                                        maxDisagreeBits: Int): DataFrame = {
    require(maxDisagreeBits > 0 && maxDisagreeBits < 32,
      s"band must sit below the 32-bit noise mean; got $maxDisagreeBits")
    val auditDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val sigs = simhashSignatures(
      docs.join(auditDocs, Seq("doc_id"), "left_semi"))
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("simhash").as("ha")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("simhash").as("hb")), "doc_b")
      .withColumn("est_ok",
        bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxDisagreeBits)
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("est_ok"))
  }

  /** D28 [EXT] — WINNOWING CANDIDATE AUDIT: the q154 discipline applied
    * to the winnowed candidate generator (D6/D10's fingerprint route,
    * spec-gated since round 2): every EXACT near-dup pair (full-shingle
    * Jaccard ≥ `threshold`) must share ≥ `minSharedFp` non-hot winnowed
    * fingerprints — i.e. the q65 candidate generator at its production
    * parameters (k=16, w=8, minShared=2, dfCap) SURFACES the pair — flag
    * PINNED true. Backing: the winnowing guarantee (a shared character
    * run ≥ k+w−1 = 23 chars ⟹ a shared fingerprint; ≥ 2 fps ⟹ a
    * ≥ k+2w−1 = 31-char run or two separate runs), and J ≥ 0.5 over
    * 3-token shingles implies far more shared-run mass than that —
    * measured fixture margin: min shared-fp count 5 across
    * sf0.001/0.01/0.1 (BENCH_NOTES.md) vs the pinned 2. Deterministic
    * rolling hashes → green rows are stable. The fp-JACCARD score's
    * correlation with shingle Jaccard stays spec-measured (q63's
    * declared gate); this row pins the candidate-recall half of the
    * contract against the exact oracle.
    *
    * Scale: same leaf discipline as the MinHash audit — the shingle and
    * fingerprint leaves spill once; the shared-fp count joins the
    * |pairs|-bounded exact pair list against the fingerprint inverted
    * index restricted to those docs (semi-join first), never corpus².
    */
  def winnowingCandidateAudit(spark: SparkSession, dir: String,
                              threshold: Double = 0.5, k: Int = 16, w: Int = 8,
                              minSharedFp: Int = 2): DataFrame = {
    require(minSharedFp >= 1, s"need minSharedFp >= 1; got $minSharedFp")
    // the exact pair relation comes from the session-shared jacpairs leaf
    // (identical construction: shingle inverted index, df-capped, 4dp) —
    // the audit pays only the fingerprint side + the pair-bounded compare
    winnowingCandidateAuditCore(Tables.documents(spark, dir),
      ensureJaccardPairs(spark, dir, threshold), k, w, minSharedFp, 1000,
      fpOpt = Some(ensureWinnowFps(spark, dir, k, w)))
  }

  def winnowingCandidateAuditFor(docs: DataFrame, threshold: Double = 0.5,
                                 k: Int = 16, w: Int = 8, minSharedFp: Int = 2,
                                 dfCap: Int = 1000): DataFrame = {
    require(minSharedFp >= 1, s"need minSharedFp >= 1; got $minSharedFp")
    val sh = graft.sources.Sources.spillScratch(docShingles(docs), "win_audit_sh")
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("shingle"))
    val pairs = graft.sources.Sources.spillScratch(
      jaccardPairsAcross(sh, sh, hot, col("doc_a") < col("doc_b"), threshold),
      "win_audit_pairs")
    winnowingCandidateAuditCore(docs, pairs, k, w, minSharedFp, dfCap)
  }

  /** Fingerprint-side audit tail shared by the leaf-fed fixture entry and
    * the generic For-form. Corpus-wide fp hotness (df over ALL docs) is
    * kept in both paths — hotness is a property of the corpus, and
    * restricting it would change which fingerprints count as cool. */
  private def winnowingCandidateAuditCore(docs: DataFrame, pairs: DataFrame,
                                          k: Int, w: Int, minSharedFp: Int,
                                          dfCap: Int,
                                          fpOpt: Option[DataFrame] = None): DataFrame = {
    val fps = fpOpt.getOrElse(winnowingFingerprints(docs, k, w))
      .withColumnRenamed("fp", "shingle")
    val fpHot = fps.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("shingle"))
    // restrict the fp inverted index to docs appearing in the audited
    // pair list before self-joining: |pairs| is tiny relative to the
    // corpus, so the semi-join keeps the shared-fp count pair-bounded
    val auditDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val cool = fps.join(broadcast(fpHot), Seq("shingle"), "left_anti")
      .join(auditDocs, Seq("doc_id"), "left_semi")
    val shared = cool.as("x").join(cool.as("y"), Seq("shingle"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs.join(shared, Seq("doc_a", "doc_b"), "left")
      .withColumn("est_ok",
        coalesce(col("n_shared"), lit(0L)) >= minSharedFp)
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("est_ok"))
  }

  /** D26 [EXT] — REPEATED-SPAN SCRUB: the C4 span-level cleanup (Raffel
    * et al. 2020 discard repeated three-sentence spans; the fixture corpus
    * has no sentence boundaries, so the span is a fixed `w`-token window,
    * stride w) as a corpus-rewriting verb: every occurrence of any span
    * whose corpus frequency exceeds `maxDf` is dropped and the document is
    * RECONSTRUCTED from its surviving spans in order. Differs from q121/
    * q136 ownership dedup on purpose: those keep one canonical occurrence;
    * this treats df > maxDf spans as template boilerplate and scrubs every
    * copy — the C4 semantics. Output per doc: span counts, drop count, and
    * the md5 of the rebuilt text (the narrow proof of the rewrite — the
    * rebuilt corpus itself would be written to a sink, not returned).
    *
    * Shape: span extraction is one in-row pass (posexplode over shifted
    * slices); corpus frequency is ONE map-side-combined hash agg on the
    * 32-byte span hash; the repeated-span set (small by construction —
    * df > maxDf spans are the template tail) broadcasts into a left-anti
    * join; reconstruction is a per-doc sort of ≤ n_spans struct elements
    * inside `array_sort` (doc-bounded, never a corpus window). The span
    * leaf feeds the frequency aggregate and the scrub side: spilled once
    * to scratch parquet. Fully oracle-checked (md5 + string_agg order are
    * engine-identical).
    */
  def repeatedSpanScrub(spark: SparkSession, dir: String, w: Int = 5,
                        maxDf: Int = 1): DataFrame =
    repeatedSpanScrubFor(Tables.documents(spark, dir), w, maxDf)

  def repeatedSpanScrubFor(docs: DataFrame, w: Int = 5,
                           maxDf: Int = 1): DataFrame = {
    require(w >= 1 && maxDf >= 1, s"need w>=1, maxDf>=1; got w=$w maxDf=$maxDf")
    val t = TF.tokens(col("text"))
    val nSpans = floor((size(t).cast("double") + (w - 1)) / w).cast("long")
    // the per-doc span array, derived IN-ROW (never shuffled): every
    // shuffle in this operator moves 16-byte hashes + integer positions,
    // never span text — the guide-§8 rule (decide with small rows, touch
    // the heavy bytes in place). The pre-r22 form spilled the exploded
    // (doc_id, idx, span) TEXT relation and rebuilt clean_text through a
    // corpus-sized collect_list shuffle.
    def spans: Column = transform(sequence(lit(0L), nSpans - 1),
      i => concat_ws(" ", slice(t, (i * w + 1).cast("int"), lit(w))))
    // narrow hash relation, spilled once for its two consumers
    val hashes = graft.sources.Sources.spillScratch(
      docs.select(col("doc_id"),
        posexplode(transform(spans, s => md5(s))).as(Seq("idx", "h"))),
      "c4_span_hashes")
    val repeated = hashes.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("h"))
    // per doc: WHICH positions drop (ints only), then rebuild the clean
    // text in-row with an index-aware array filter over the spans array.
    // n_rows is carried separately from n_spans: a 0-token doc's
    // sequence(0, -1) yields TWO phantom spans while n_spans = 0, and the
    // historical n_dropped arithmetic (n_spans - kept rows) must be
    // reproduced exactly, not re-derived from |drop_idx|
    val dropIdx = hashes
      .join(broadcast(repeated.withColumn("rep", lit(1))), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_rows"),
        collect_set(when(col("rep").isNotNull, col("idx"))).as("drop_idx"))
    val kept = filter(spans,
      (_, i) => !coalesce(array_contains(col("drop_idx"), i), lit(false)))
    docs.join(dropIdx, Seq("doc_id"), "left")
      .select(col("doc_id"), nSpans.as("n_spans"),
        (nSpans - (coalesce(col("n_rows"), lit(0L)) -
          coalesce(size(col("drop_idx")), lit(0)).cast("long"))).as("n_dropped"),
        md5(concat_ws(" ", kept)).as("clean_hash"))
  }
}
