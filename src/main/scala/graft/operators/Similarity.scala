package graft.operators

import graft.Tables
import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings fixture (SURVEY §2.3 J3, §2.8
  * top-k [EXT]): brute-force cosine top-k as the exact baseline, and a
  * hyperplane-LSH bucketed variant as the scale path.
  */
object Similarity {

  /** Multiset symmetric-difference count — |a ∖ b| + |b ∖ a| with bag
    * semantics, computed in ONE job: per-side multiplicity aggregates
    * joined full-outer on the row value, then Σ|ca − cb|. Replaces the
    * `a.exceptAll(b).count() + b.exceptAll(a).count()` idiom of the
    * lifecycle invariants, which scanned and shuffled BOTH inputs twice
    * (two independent actions, each re-running non-trivial inputs such as
    * a corpus-wide re-encode); identical value by the exceptAll
    * definition (count of A∖B = Σ max(ca−cb, 0); summed directions =
    * Σ|ca−cb|), including NULL/NaN grouping, which set ops and groupBy
    * share. At 100 TB this halves the audit's dominant cost. */
  private[graft] def symmetricDiffCount(a: DataFrame, b: DataFrame): Long = {
    require(a.columns.sameElements(b.columns),
      s"schema mismatch: ${a.columns.mkString(",")} vs ${b.columns.mkString(",")}")
    val keys = a.columns.toSeq.map(col)
    val ca = a.groupBy(keys: _*).agg(count(lit(1)).as("__ca"))
    val cb = b.groupBy(keys: _*).agg(count(lit(1)).as("__cb"))
    ca.join(cb, a.columns.toSeq, "full_outer")
      .agg(coalesce(sum(abs(coalesce(col("__ca"), lit(0L))
        - coalesce(col("__cb"), lit(0L)))), lit(0L)))
      .head().getLong(0)
  }

  /** Exact top-k: queries × corpus scored with the codegen'd cosine
    * expression, ranked per query by a window with a total order (rounded
    * score desc, then vec_id — the rounding makes rank assignment
    * bit-stable across engines).
    *
    * Scale shape: the query side is small and broadcast; the corpus scan
    * is embarrassingly parallel; per-query top-k is a window over a
    * shuffle keyed by query_id. For large k·|queries| a per-partition
    * top-k (mapPartitions heap) before the shuffle would cut the exchange,
    * but the window form keeps the whole plan in Catalyst.
    */
  def cosineTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val corpus = e.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id"))
    corpus.join(broadcast(queries), col("query_id") =!= col("cand_id"))
      .withColumn("score", round(VectorOps.cosineFast(col("qv"), col("cv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("score"))
  }

  /** q79 — [[cosineTopK]] expressed entirely through the SQL front door:
    * a registered temp view, the `cosine_f32` native expression injected
    * by GraftExtensions, the broadcast hint as a SQL hint, and the window
    * in SQL text. Same single implementation serving both surfaces — the
    * expression codegen, the plan class, and q21's oracle are all shared,
    * so this row proves `spark.sql(...)` is a first-class front door of
    * the engine, not a parallel code path.
    */
  def cosineTopKViaSql(spark: SparkSession, dir: String,
                       nQueries: Int = 10, k: Int = 5): DataFrame = {
    Tables.embeddings(spark, dir).createOrReplaceTempView("graft_embeddings")
    spark.sql(
      s"""WITH queries AS (
         |  SELECT vec_id AS query_id, embedding AS qv
         |  FROM graft_embeddings WHERE vec_id < $nQueries),
         |corpus AS (SELECT vec_id AS cand_id, embedding AS cv
         |           FROM graft_embeddings),
         |scored AS (
         |  SELECT /*+ BROADCAST(queries) */ query_id, cand_id,
         |         round(cosine_f32(qv, cv), 6) AS score
         |  FROM corpus JOIN queries ON query_id <> cand_id),
         |ranked AS (
         |  SELECT query_id, cand_id, score, row_number() OVER
         |    (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, cand_id, score FROM ranked
         |WHERE rank <= $k""".stripMargin)
  }

  /** Exact top-k with per-partition reduction — the 100 TB form of
    * [[cosineTopK]]: each partition keeps only its k best candidates per
    * query (a bounded nQueries×k buffer) BEFORE the shuffle, so the
    * exchange carries ≤ partitions×queries×k rows instead of every scored
    * (query, candidate) pair. Top-k of per-partition top-ks is exactly the
    * global top-k (same total order: score desc, cand_id asc), so the
    * result is identical to the window form and shares its DuckDB oracle.
    */
  def cosineTopKPartitioned(spark: SparkSession, dir: String,
                            nQueries: Int = 10, k: Int = 5): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val corpus = e.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(VectorOps.cosineFast(col("qv"), col("cv")), 6).as("score"))
      .as[(Long, Long, Double)]
    // "a beats b" in the final ranking: higher score, then smaller cand_id
    def beats(a: (Long, Long, Double), b: (Long, Long, Double)): Boolean =
      a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)
    val reduced = scored.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap.empty[Long,
        scala.collection.mutable.PriorityQueue[(Long, Long, Double)]]
      // reversed best-first ordering puts the WORST element on top of the
      // queue, so exceeding k pops the loser
      val bestFirst = new Ordering[(Long, Long, Double)] {
        def compare(a: (Long, Long, Double), b: (Long, Long, Double)): Int =
          if (beats(a, b)) 1 else if (beats(b, a)) -1 else 0
      }
      it.foreach { r =>
        val h = heaps.getOrElseUpdate(r._1,
          scala.collection.mutable.PriorityQueue.empty(bestFirst.reverse))
        h.enqueue(r)
        if (h.size > k) h.dequeue()
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id"))
    reduced.toDF("query_id", "cand_id", "score")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("score"))
  }

  /** Approximate NN via random-hyperplane LSH: both sides get an nBits
    * sign-signature; candidates are pairs agreeing on ≥1 of the bandBits-
    * wide bands (equi-join on band value — never a cross join), then exact
    * cosine re-ranks the candidates. Recall < 1 by construction; the spec
    * checks recall against cosineTopK rather than an oracle.
    *
    * Defaults (64 bits, 16×4-bit bands) measure 0.90 top-5 recall on the
    * fixtures vs 0.45 at 16 bits, at the same per-row cost now that the
    * signature is a single codegen'd expression. More bands trade pruning
    * for recall (P[candidate] = 1-(1-2^-bandBits·…)^nBands); tune bandBits
    * up / bands down when the corpus is huge and recall demands are loose.
    */
  def annCosineTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
                    nBits: Int = 64, bandBits: Int = 4): DataFrame = {
    require(nBits >= 1 && nBits <= 64 && bandBits > 0 && nBits % bandBits == 0,
      s"need 1 <= nBits <= 64 (long-packed) and nBits=$nBits divisible by bandBits=$bandBits")
    val nBands = nBits / bandBits
    val mask = (1L << bandBits) - 1
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // band table carries ids only — the candidate distinct below must never
    // shuffle full embedding arrays as grouping keys
    val banded = e
      .select(col("vec_id"), VectorOps.hyperplaneSignature(col("embedding"), nBits).as("sig"))
      .select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(nBands - 1)),
          b => call_function("shiftright", col("sig"), b.cast("int") * bandBits)
            .bitwiseAND(lit(mask)))))
      .toDF("vec_id", "band_id", "band_val")
    val qb = banded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("band_id"), col("band_val"))
    val cand = banded.join(broadcast(qb), Seq("band_id", "band_val"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"))
      .distinct()
    // re-attach vectors after the id-level dedup: corpus side by equi-join,
    // query side broadcast (it is nQueries rows by construction)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id"))
    cand
      .join(e.select(col("vec_id").as("cand_id"), col("embedding").as("cv")), "cand_id")
      .join(broadcast(queries), "query_id")
      .withColumn("score", round(VectorOps.cosineFast(col("qv"), col("cv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("score"))
  }

  /** Per-row similarity of `vec` against every centroid, as one array
    * column of nLists codegen'd cosine kernels over LITERAL centroid
    * arrays. The codebook lives in the plan itself — each executor holds it
    * exactly like a broadcast, but the argmax/top-nProbe over it never
    * leaves the row, so assignment needs no join, no window, no Exchange.
    */
  private def listSims(vec: Column, cents: Array[Array[Float]]): Column =
    array(cents.map(c => VectorOps.cosineFast(vec, typedLit(c.toSeq))): _*)

  /** In-row argmax over the codebook: first index of the max similarity —
    * ties break to the smaller list_id, same total order as (sim desc,
    * list_id asc). */
  def nearestListId(vec: Column, cents: Array[Array[Float]]): Column = {
    val sims = listSims(vec, cents)
    (array_position(sims, array_max(sims)) - 1).cast("long")
  }

  /** In-row top-nProbe list ids (sim desc, list_id asc): sort the
    * (sim, list_id) pairs with an array_sort comparator and slice. Only
    * ever evaluated on the nQueries-bounded probe side. */
  private def probeListIds(vec: Column, cents: Array[Array[Float]], nProbe: Int): Column = {
    val sims = listSims(vec, cents)
    val pairs = transform(sequence(lit(0), lit(cents.length - 1)),
      i => struct(get(sims, i).as("sim"), i.as("lid")))
    val sorted = array_sort(pairs, (l, r) =>
      when(l.getField("sim") > r.getField("sim"), -1)
        .when(l.getField("sim") < r.getField("sim"), 1)
        .otherwise(when(l.getField("lid") < r.getField("lid"), -1).otherwise(1)))
    transform(slice(sorted, 1, nProbe), p => p.getField("lid").cast("long"))
  }

  /** Codebook size at and below which assignment embeds the centroids as
    * plan LITERALS ([[listSims]]: zero join, fully codegen'd — the
    * fastest form). Above it the literal plan hits a real wall — nLists ×
    * dim literals blow up analysis time and split codegen past JVM method
    * limits at the 4k–64k lists a production vector store runs — so
    * assignment switches to [[ivfAssignBroadcast]]: the codebook becomes
    * DATA on the build side of a broadcast join and the plan stays O(1).
    */
  val LiteralCodebookMaxLists: Int = 256

  /** The codebook as a DataFrame — the persisted-codebook schema
    * ([[saveCentroids]]) built in memory. */
  def centroidsToDF(spark: SparkSession, cents: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.toSeq.map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("list_id", "centroid")
  }

  /** One-row relation holding the whole codebook as an array of
    * (list_id, centroid) structs — the broadcast build side of the
    * large-codebook path. */
  private def packedCodebook(cents: DataFrame): DataFrame =
    cents.agg(collect_list(struct(col("list_id"), col("centroid"))).as("codebook"))

  /** (sim, lid) structs of `vec` against every codebook entry. The cosine
    * runs ONCE per entry via the kernel's compiled nullSafeEval — only the
    * per-entry dispatch is interpreted (higher-order functions don't
    * codegen), which is the documented price of keeping the codebook out
    * of the plan text. */
  private def scoredLists(vec: Column, codebook: Column): Column =
    transform(codebook, c =>
      struct(VectorOps.cosineFast(vec, c.getField("centroid")).as("sim"),
        c.getField("list_id").cast("long").as("lid")))

  /** In-row argmax over the scored structs — same total order as the
    * literal path's array_position(max) (sim desc, list_id asc). */
  private def bestOfScored(scored: Column): Column =
    aggregate(scored,
      struct(lit(Double.NegativeInfinity).as("sim"), lit(Long.MaxValue).as("lid")),
      (acc, s) => when(s.getField("sim") > acc.getField("sim")
          || (s.getField("sim") === acc.getField("sim")
            && s.getField("lid") < acc.getField("lid")), s)
        .otherwise(acc))
      .getField("lid")

  /** In-row top-nProbe of the scored structs (sim desc, lid asc) — the
    * broadcast twin of [[probeListIds]]. */
  private def probeOfScored(scored: Column, nProbe: Int): Column =
    transform(slice(array_sort(scored, (l, r) =>
      when(l.getField("sim") > r.getField("sim"), -1)
        .when(l.getField("sim") < r.getField("sim"), 1)
        .otherwise(when(l.getField("lid") < r.getField("lid"), -1).otherwise(1))),
      1, nProbe), p => p.getField("lid"))

  /** Large-codebook assignment: the packed codebook rides a broadcast
    * (single-row build side) join onto every partition and the argmax
    * stays in-row — the corpus still never shuffles, and the codebook can
    * come straight from the persisted parquet ([[saveCentroids]]) without
    * ever collecting to the driver. */
  def ivfAssignBroadcast(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(packedCodebook(cents)))
      .select(col("vec_id"), col("embedding"),
        bestOfScored(scoredLists(col("embedding"), col("codebook"))).as("list_id"))

  /** Coarse-quantizer assignment: one narrow projection over the corpus —
    * scan → in-row argmax → (vec_id, embedding, list_id). ZERO Exchange
    * (pinned by PlanSpec); the earlier form shuffled every full embedding
    * through a per-vec_id window for an argmax that was computable inside
    * the row. Routes to the broadcast-codebook form past
    * [[LiteralCodebookMaxLists]]. */
  def ivfAssign(e: DataFrame, cents: Array[Array[Float]]): DataFrame =
    if (cents.length <= LiteralCodebookMaxLists)
      e.select(col("vec_id"), col("embedding"),
        nearestListId(col("embedding"), cents).as("list_id"))
    else
      ivfAssignBroadcast(e, centroidsToDF(e.sparkSession, cents))

  /** Lloyd's-trained IVF codebook, DataFrames only. Seeded deterministically
    * with the first nLists corpus vectors, then `iters` rounds of:
    * assign every vector in-row (no shuffle) → per-(list, dim) mean via a
    * map-side-combined aggregation (the shuffle carries ≤ nLists×dim
    * partials per partition, not embeddings) → collect the nLists×dim
    * codebook to the driver — the same bounded state any IVF trainer must
    * hold, and all an executor needs shipped back as literals. Means are
    * rounded so partition-order float drift can't wobble the codebook
    * between runs; empty lists keep their previous centroid.
    */
  def trainCentroids(e: DataFrame, nLists: Int, iters: Int): Array[Array[Float]] = {
    // seed = the nLists lowest-id vectors (orderBy+limit plans as a
    // TakeOrdered, no full sort) — NOT `vec_id < nLists`, which assumes
    // dense 0-based ids and under-fills the codebook on sparse/offset id
    // spaces, silently corrupting every downstream assignment
    var cents: Array[Array[Float]] = e.orderBy(col("vec_id")).limit(nLists)
      .select(col("embedding"))
      .collect().map(_.getSeq[Float](0).toArray)
    require(cents.length == nLists,
      s"corpus has only ${cents.length} vectors; cannot seed nLists=$nLists centroids")
    for (_ <- 0 until iters) {
      val means = ivfAssign(e, cents)
        .select(col("list_id"), posexplode(col("embedding")))
        .toDF("list_id", "dim", "x")
        .groupBy(col("list_id"), col("dim"))
        .agg(round(avg(col("x")), 4).as("m"))
        .collect()
      val next = cents.map(_.clone)
      means.foreach(r => next(r.getLong(0).toInt)(r.getInt(1)) = r.getDouble(2).toFloat)
      cents = next
    }
    cents
  }

  /** IVF (inverted-file) approximate NN — the second scale path next to
    * hyperplane LSH, and the one real vector stores default to:
    *
    *   1. coarse quantizer: an nLists-centroid codebook, Lloyd's-trained by
    *      [[trainCentroids]] (trainIters = 0 degrades to the deterministic
    *      first-nLists-vectors seed);
    *   2. assignment: one linear in-row pass — O(n · nLists) codegen'd
    *      cosines, no shuffle at all ([[ivfAssign]]);
    *   3. probe: each query searches only its nProbe nearest lists via an
    *      equi-join on list_id — ~nProbe/nLists of the corpus per query
    *      instead of all of it, which is the entire IVF trade.
    *
    * Recall < 1 by construction (a true neighbor may live in an unprobed
    * list); spec-measured against cosineTopK like the LSH variant —
    * 0.90-0.94 top-5 recall at both fixture scales with the defaults.
    * Honest finding on the fixtures: their embeddings are near-uniform, so
    * training balances list occupancy (max/mean 1.34 → 1.18 after one
    * iteration — bounded probe cost) but leaves recall flat; the recall win
    * of a trained codebook only materializes on corpora with real cluster
    * structure. Default is therefore one cheap iteration.
    */
  def ivfCosineTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
                    nLists: Int = 16, nProbe: Int = 4, trainIters: Int = 1): DataFrame = {
    // validate BEFORE training: an argument error decidable from two ints
    // must never cost `trainIters` corpus scans first
    require(nLists > 0 && nProbe > 0 && nProbe <= nLists,
      s"need 0 < nProbe=$nProbe <= nLists=$nLists")
    require(trainIters >= 0, s"need trainIters=$trainIters >= 0")
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cents = trainCentroids(e, nLists, trainIters)
    ivfCosineTopKWith(spark, dir, cents, nQueries, k, nProbe)
  }

  /** Codebook persistence — train once, query many (the lifecycle a real
    * vector store runs): the trained centroids land in a plain parquet
    * table (list_id, centroid), columnar, engine-neutral, and versionable
    * next to the corpus it quantizes. A query session [[loadCentroids]]
    * and probes via [[ivfCosineTopKWith]] without re-paying the `iters`
    * corpus scans of Lloyd's training — at 100 TB the difference between
    * an ingest-time cost and a per-query cost.
    */
  def saveCentroids(spark: SparkSession, cents: Array[Array[Float]], path: String): Unit =
    centroidsToDF(spark, cents)
      .coalesce(1) // a codebook is nLists×dim floats — one footer, not 32
      .write.mode("overwrite").parquet(path)

  def loadCentroids(spark: SparkSession, path: String): Array[Array[Float]] = {
    val rows = spark.read.parquet(path).select(col("list_id"), col("centroid")).collect()
    require(rows.nonEmpty, s"empty codebook at $path")
    val cents = new Array[Array[Float]](rows.length)
    rows.foreach { r =>
      val i = r.getLong(0).toInt
      require(i >= 0 && i < cents.length && cents(i) == null,
        s"codebook at $path has gaps or duplicates in list_id")
      cents(i) = r.getSeq[Float](1).toArray
    }
    cents
  }

  /** IVF probe against an externally supplied codebook (trained this
    * session or [[loadCentroids]]-ed from a persisted one). Assignment and
    * probe both route on the codebook size: literals below
    * [[LiteralCodebookMaxLists]], the broadcast-codebook form above. */
  def ivfCosineTopKWith(spark: SparkSession, dir: String, cents: Array[Array[Float]],
                        nQueries: Int = 10, k: Int = 5, nProbe: Int = 4): DataFrame =
    ivfCosineTopKOver(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      cents, nQueries, k, nProbe,
      broadcastCodebook = cents.length > LiteralCodebookMaxLists)

  /** The probe side — each query's top-nProbe list ids — routed on codebook
    * size like assignment (literals vs broadcast). `queries` carries
    * (vec_id, embedding); nQueries-bounded by the caller. */
  private[graft] def probesFor(queries: DataFrame, cents: Array[Array[Float]],
                               nProbe: Int, broadcastCodebook: Boolean): DataFrame =
    if (!broadcastCodebook)
      queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(probeListIds(col("embedding"), cents, nProbe)).as("list_id"))
    else {
      val centsDf = centroidsToDF(queries.sparkSession, cents)
      queries.crossJoin(broadcast(packedCodebook(centsDf)))
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          explode(probeOfScored(
            scoredLists(col("embedding"), col("codebook")), nProbe)).as("list_id"))
    }

  /** The probe tail shared by the in-memory and persisted-index paths:
    * equi-join candidates to probed lists, exact cosine, per-query top-k
    * under the (score desc, vec_id) total order. */
  private def probeTail(assigned: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id"))
    assigned.join(probes, Seq("list_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("score", round(VectorOps.cosineFast(col("qv"), col("embedding")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("cand_id"), col("score"))
  }

  /** The probe pipeline with the codebook form made explicit — the spec
    * drives both forms on one corpus and pins their equality. */
  private[graft] def ivfCosineTopKOver(e: DataFrame, cents: Array[Array[Float]],
                                       nQueries: Int, k: Int, nProbe: Int,
                                       broadcastCodebook: Boolean): DataFrame = {
    val nLists = cents.length
    require(nLists > 0 && nProbe > 0 && nProbe <= nLists,
      s"need 0 < nProbe=$nProbe <= nLists=$nLists")
    val assigned =
      if (!broadcastCodebook)
        e.select(col("vec_id"), col("embedding"),
          nearestListId(col("embedding"), cents).as("list_id"))
      else ivfAssignBroadcast(e, centroidsToDF(e.sparkSession, cents))
    probeTail(assigned,
      probesFor(e.filter(col("vec_id") < nQueries), cents, nProbe, broadcastCodebook), k)
  }

  // --- Persisted IVF index + incremental assignment (q94) ---------------
  //
  // The vector-store lifecycle the in-memory forms above skip: train ONCE
  // on the settled corpus, persist codebook + assignments, then let every
  // later ingest tick assign ONLY its new vectors against the persisted
  // codebook — O(shard · nLists) per tick, the settled rows never touched,
  // never re-scored, never shuffled (the q64 incremental-dedup discipline
  // applied to the similarity index). Queries probe the persisted layout:
  // assignments are PARTITIONED by list_id, so a probe reads the nProbe
  // probed lists' files and skips the rest — at 100 TB the difference
  // between scanning ~nProbe/nLists of the corpus and all of it, enforced
  // by the file index rather than a filter.

  /** Bootstrap: train on the settled corpus, persist the codebook
    * ([[saveCentroids]]) and the assignment table partitioned by
    * (ingest_batch, list_id) — the settled corpus under batch −1, each
    * later tick under its own batch id, so replay is an overwrite of the
    * tick's own partition (the q70/q93 exactly-once discipline) and
    * list_id stays a partition column for probe-side file pruning. */
  def writeIvfIndex(e: DataFrame, codebookPath: String, indexPath: String,
                    nLists: Int = 16, trainIters: Int = 1,
                    trainOn: Option[DataFrame] = None): Unit = {
    val spark = e.sparkSession
    // bootstrap claims the raw path as the live generation (a prior
    // same-session compaction may have flipped the pointer elsewhere)
    graft.sources.Sources.resetLivePointer(spark, indexPath)
    // trainOn: an optional (smaller) training corpus — the codebook is a
    // frozen coordinate system, so training on a sample changes quality
    // (q43's row), never correctness of the assign/ingest lifecycle
    val cents = trainCentroids(trainOn.getOrElse(e), nLists, trainIters)
    saveCentroids(spark, cents, codebookPath)
    ivfAssign(e, cents)
      .withColumn("ingest_batch", lit(-1L))
      .write.mode("overwrite")
      .partitionBy("ingest_batch", "list_id").parquet(indexPath)
  }

  /** One ingest tick: assign the new vectors against the PERSISTED
    * codebook and OVERWRITE the tick's own ingest_batch partition — a
    * replayed tick (stream restart, bench best-of-N) rewrites identical
    * files instead of double-appending, the q93 replay discipline. No
    * retraining — the codebook is the index's frozen coordinate system;
    * drift is a rebuild decision, not an ingest side effect. */
  def ivfIngestTick(newVecs: DataFrame, codebookPath: String,
                    indexPath: String, batchId: Long = 0L): DataFrame = {
    val spark = newVecs.sparkSession
    val assigned = ivfAssign(newVecs, loadCentroids(spark, codebookPath))
    assigned.withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch", "list_id")
      .parquet(graft.sources.Sources.livePath(spark, indexPath))
    assigned
  }

  /** Probe the persisted index: load the codebook, pick each query's
    * nProbe lists, and join against the partitioned assignment table —
    * only the probed list partitions are read. */
  def ivfProbeIndex(spark: SparkSession, codebookPath: String, indexPath: String,
                    queries: DataFrame, k: Int = 5, nProbe: Int = 4): DataFrame = {
    val cents = loadCentroids(spark, codebookPath)
    require(nProbe > 0 && nProbe <= cents.length,
      s"need 0 < nProbe=$nProbe <= nLists=${cents.length}")
    probeTail(
      spark.read.parquet(graft.sources.Sources.livePath(spark, indexPath)),
      probesFor(queries, cents, nProbe, cents.length > LiteralCodebookMaxLists), k)
  }

  /** q139 — IVF INDEX COMPACTION: the maintenance verb the persisted IVF
    * lifecycle (q94) was missing and the shingle/fp indexes already have
    * (D9's compaction): after K ingest ticks the assignment table is
    * K+1 ingest_batch partitions of tick-sized files, every probe pays a
    * K+1-partition listing, and the small-file count grows without
    * bound. Compaction folds ALL batches into the settled partition
    * (ingest_batch = −1), aligned one-task-per-list so each list lands
    * contiguous — row-preserving by contract: LAYOUT changes, the
    * (vec_id, list_id) relation does not (q139's invariant pins both
    * directions of that contract, plus probe-result identity).
    *
    * Blue/green versioned swap (r15 — the old stagedSwap's declared
    * delete-to-rename crash window no longer exists): the folded layout
    * lands at the next generation path and an atomic pointer flip
    * publishes it; readers resolve `livePath` and see the old store in
    * full before the flip, the new in full after. */
  def ivfCompact(spark: SparkSession, indexPath: String,
                 nLists: Int = 16): Unit =
    graft.sources.Sources.versionedSwap(spark, indexPath) { (live, staged) =>
      spark.read.parquet(live)
        .withColumn("ingest_batch", lit(-1L))
        .repartition(nLists, col("list_id"))
        .write.mode("overwrite")
        .partitionBy("ingest_batch", "list_id")
        .parquet(staged)
    }

  /** q139's invariant row (q34 discipline): settled bootstrap + three
    * ingest ticks, then compaction; DuckDB recounts n_vecs and pins
    * batches 4 → 1, persisted-vs-fresh assignment mismatches 0, and
    * pre-vs-post-compaction probe mismatches 0. The pre-probe snapshot
    * is query-bounded (nQueries × k rows), eagerly checkpointed so the
    * compare survives the swap. */
  def ivfCompactionInvariant(spark: SparkSession, dir: String,
                             nLists: Int = 16, nProbe: Int = 4,
                             nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // the PRE-compaction store (bootstrap + 3 ingest ticks) is a pure
    // function of (dir, nLists): build it once per session, clone the
    // index per invocation (the compaction under audit mutates it via the
    // pointer flip — the q239 clone discipline); the codebook is
    // read-only, so it reads straight from the leaf. The tick verbs
    // themselves stay audited by q94's live lifecycle.
    val preRoot = graft.sources.Sources.ensureStore(spark, "ivfcpre",
        s"$dir|$nLists") { root =>
      writeIvfIndex(e.filter(col("vec_id") % 4 === 0), s"$root/cb",
        s"$root/idx", nLists)
      ivfIngestTick(e.filter(col("vec_id") % 4 === 1), s"$root/cb", s"$root/idx", 0L)
      ivfIngestTick(e.filter(col("vec_id") % 4 === 2), s"$root/cb", s"$root/idx", 1L)
      ivfIngestTick(e.filter(col("vec_id") % 4 === 3), s"$root/cb", s"$root/idx", 2L)
    }
    val cbPath = s"$preRoot/cb"
    // session-stable clone destination: the spec pins the compacted
    // layout at this path (one file per list, generations flipped)
    val idxPath = graft.sources.Sources.scratchDir(spark,
      "ivfc_index_" + graft.sources.Sources.dirTag(dir))
    graft.sources.Sources.cloneStoreDirOver(spark, s"$preRoot/idx", idxPath)
    val queries = e.filter(col("vec_id") < nQueries)
    val batchesBefore = spark.read
      .parquet(graft.sources.Sources.livePath(spark, idxPath))
      .select(col("ingest_batch")).distinct().count()
    val preProbe = ivfProbeIndex(spark, cbPath, idxPath, queries, k, nProbe)
      .localCheckpoint(true) // nQueries·k rows — bounded
    ivfCompact(spark, idxPath, nLists)
    val batchesAfter = spark.read
      .parquet(graft.sources.Sources.livePath(spark, idxPath))
      .select(col("ingest_batch")).distinct().count()
    val persisted = spark.read
      .parquet(graft.sources.Sources.livePath(spark, idxPath))
      .select(col("vec_id"), col("list_id"))
    val full = ivfAssign(e, loadCentroids(spark, cbPath))
      .select(col("vec_id"), col("list_id"))
    val assignMismatches = symmetricDiffCount(persisted, full)
    val postProbe = ivfProbeIndex(spark, cbPath, idxPath, queries, k, nProbe)
    val probeMismatches = symmetricDiffCount(preProbe, postProbe)
    import spark.implicits._
    Seq((e.count(), batchesBefore, batchesAfter,
      assignMismatches, probeMismatches)).toDF(
      "n_vecs", "batches_before", "batches_after",
      "assign_mismatches", "probe_mismatches")
  }

  /** q94's settled bootstrap: the persisted codebook (`cb`) and index
    * (`idx`) of the settled corpus (vec_id % 5 ≠ 0), built ONCE per
    * session under a root keyed on (dir, nLists) (deterministic content:
    * codebook seeds and assignment are seeded/exact). Re-bootstrapping
    * per invocation was pure fixture cost. */
  private[graft] def ivfBootRoot(spark: SparkSession, dir: String,
                                 nLists: Int): String =
    graft.sources.Sources.ensureStore(spark, "ivfboot94", s"$dir|$nLists") {
      root =>
        writeIvfIndex(Tables.embeddings(spark, dir)
            .select(col("vec_id"), col("embedding")).filter(col("vec_id") % 5 =!= 0),
          s"$root/cb", s"$root/idx", nLists)
    }

  /** q94 fixture entry — the invariant row (q34 discipline: the RNG-free
    * facts DuckDB can recount plus violation counters that must be zero):
    * settled corpus (vec_id % 5 ≠ 0) bootstraps the persisted index, the
    * new tick (vec_id % 5 = 0) ingests against the persisted codebook, and
    * the query asserts (a) the persisted assignments equal a single-pass
    * assignment of the union under the same codebook — incremental ==
    * batch — and (b) probing the persisted layout returns exactly the
    * in-memory probe of the union. Both comparisons are exact row-set
    * equality; the spec separately re-runs the q43 recall bar over the
    * union. */
  def ivfIncrementalInvariant(spark: SparkSession, dir: String,
                              nLists: Int = 16, nProbe: Int = 4,
                              nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val isNew = col("vec_id") % 5 === 0
    val root = ivfBootRoot(spark, dir, nLists)
    val (cbPath, idxPath) = (s"$root/cb", s"$root/idx")
    // the tick owns its batch partition and OVERWRITES it (dynamic
    // partition overwrite), so a same-session re-run (bench best-of-N)
    // replays the tick onto the converged store and rewrites identical
    // files
    ivfIngestTick(e.filter(isNew), cbPath, idxPath)
    val cents = loadCentroids(spark, cbPath)
    val persisted = spark.read
      .parquet(graft.sources.Sources.livePath(spark, idxPath))
      .select(col("vec_id"), col("list_id"))
    val full = ivfAssign(e, cents).select(col("vec_id"), col("list_id"))
    val assignMismatches = symmetricDiffCount(persisted, full)
    val fromIndex = ivfProbeIndex(spark, cbPath, idxPath,
      e.filter(col("vec_id") < nQueries), k, nProbe)
    val inMemory = ivfCosineTopKOver(e, cents, nQueries, k, nProbe,
      cents.length > LiteralCodebookMaxLists)
    val probeMismatches = symmetricDiffCount(fromIndex, inMemory)
    import spark.implicits._
    // one aggregate for both split sizes (was two separate count() jobs)
    val cnts = e.agg(count(when(!isNew, 1)).as("n_settled"),
      count(when(isNew, 1)).as("n_new")).head()
    Seq((assignMismatches, probeMismatches)).toDF(
      "assign_mismatches", "probe_mismatches")
      .select(
        lit(cnts.getLong(0)).as("n_settled"),
        lit(cnts.getLong(1)).as("n_new"),
        col("assign_mismatches"), col("probe_mismatches"))
  }

  // --- Product quantization (q116): embedding compression + ADC search --
  //
  // The 100 TB vector-store memory lever IVF doesn't give: IVF prunes
  // which vectors a query SCORES, PQ shrinks what each vector COSTS —
  // d float32s become m one-byte codes (64·4 B → 8 B here, 32×), and
  // queries score candidates from the codes alone via an
  // asymmetric-distance (ADC) lookup table, never touching the original
  // floats until a bounded exact re-rank. Jégou et al., "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011.

  /** In-row PQ encoding: the m-element code array, as ONE native
    * expression node ([[graft.functions.PqEncodeExpr]], codegen'd tight
    * loop, books attached as a codegen reference object). The composed
    * Column-tree predecessors — HOF zip_with/aggregate, then flat
    * element_at arithmetic — were m·kSub·subDim plan nodes whose ANALYSIS
    * cost alone dominated the query (~28 s of planning per train pass at
    * the 8×16×8 default); as a single node the plan is O(1) and encoding
    * a 100 TB corpus is one shuffle-free projection pass. */
  def pqEncode(vec: Column, books: Array[Array[Array[Float]]], subDim: Int): Column = {
    require(books.forall(_.forall(_.length == subDim)),
      s"codebook sub-dim mismatch: expected $subDim")
    org.apache.spark.sql.GraftSql.column(
      graft.functions.PqEncodeExpr(
        org.apache.spark.sql.GraftSql.expression(vec), books))
  }

  /** FUSED Lloyd training of all m sub-codebooks: every iteration is ONE
    * corpus scan — in-row codes for all subspaces against the literal
    * books, then a single (sub, code, dim) mean aggregation whose shuffle
    * carries ≤ m·kSub·dim partials per partition, never embeddings. The
    * driver holds m·kSub·subDim floats (= one codebook) — the same bounded
    * state any PQ trainer needs. Seeds = each subspace's slice of the
    * kSub lowest-id vectors (deterministic, the trainCentroids rule);
    * means round at 4dp so partition order can't wobble the books; empty
    * cells keep their previous centroid.
    */
  def trainPqBooks(e: DataFrame, m: Int = 8, kSub: Int = 16,
                   iters: Int = 1): Array[Array[Array[Float]]] = {
    require(m > 0 && kSub > 0 && iters >= 0, s"bad PQ geometry: m=$m k=$kSub iters=$iters")
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim=$dim not divisible into m=$m subspaces")
    val subDim = dim / m
    val seeds = e.orderBy(col("vec_id")).limit(kSub)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
    require(seeds.length == kSub,
      s"corpus has only ${seeds.length} vectors; cannot seed kSub=$kSub")
    var books: Array[Array[Array[Float]]] =
      Array.tabulate(m, kSub)((mi, ki) => seeds(ki).slice(mi * subDim, (mi + 1) * subDim))
    for (_ <- 0 until iters) {
      val sub = (col("dim") / subDim).cast("int")
      val means = e
        .select(pqEncode(col("embedding"), books, subDim).as("codes"),
          posexplode(col("embedding")))
        .toDF("codes", "dim", "x")
        .select(sub.as("sub"), element_at(col("codes"), sub + 1).as("code"),
          col("dim"), col("x"))
        .groupBy(col("sub"), col("code"), col("dim"))
        .agg(round(avg(col("x")), 4).as("mean"))
        .collect()
      val next = books.map(_.map(_.clone))
      means.foreach { r =>
        val (mi, ki, d) = (r.getInt(0), r.getInt(1), r.getInt(2))
        next(mi)(ki)(d - mi * subDim) = r.getDouble(3).toFloat
      }
      books = next
    }
    books
  }

  /** q116 — PQ-ADC TOP-K: approximate cosine top-k where candidates are
    * scored from their PQ CODES alone. Each query carries an in-row
    * lookup table (m × kSub squared sub-distances against the literal
    * books); a candidate's approximate distance is m table lookups summed
    * — `zip_with(codes, lut)` + `aggregate`, no float vectors on the
    * scoring path. Per-query top-`rerank` by (adist asc, cand_id) then an
    * EXACT cosine re-rank of only that bounded slice (candidate ids ride
    * a broadcast back onto the corpus — the corpus never shuffles).
    * Unit-norm vectors make min-L2 = max-cosine, so the ADC order targets
    * the exact order. Output matches q21's (query_id, rank, cand_id,
    * score) contract; spec-gated on recall vs exact (no oracle — Lloyd's
    * in SQL is impractical, the q43 precedent). Measured recall@5 with
    * the defaults: 0.88 at both fixture scales (rerank=150/iters=2
    * reaches 1.0 at sf0.01; rerank is a CONSTANT re-rank budget, not a
    * corpus fraction, so the knob survives scale).
    */
  def pqCosineTopK(spark: SparkSession, dir: String, nQueries: Int = 10,
                   k: Int = 5, m: Int = 8, kSub: Int = 16,
                   trainIters: Int = 2, rerank: Int = 100): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val subDim = dim / m
    val books = trainPqBooks(e, m, kSub, trainIters)
    val encoded = e.select(col("vec_id").as("cand_id"),
      pqEncode(col("embedding"), books, subDim).as("codes"))
    pqTopKOver(e, encoded, books, subDim, nQueries, k, rerank)
  }

  /** The ADC probe tail over any (cand_id, codes) relation — in-session
    * encode (q116) or the persisted codes table (q118) — against `e` for
    * queries and the exact re-rank. */
  private[graft] def pqTopKOver(e: DataFrame, encoded: DataFrame,
                                books: Array[Array[Array[Float]]], subDim: Int,
                                nQueries: Int, k: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must cover k=$k")
    val spark = e.sparkSession
    import spark.implicits._
    // ADC lookup tables computed at the driver over the nQueries-bounded
    // query slice (the codebook-collect discipline): m·kSub squared
    // sub-distances per query, double accumulation in index order —
    // identical numerics to an in-plan expression without shipping a
    // thousand-node column tree through the analyzer
    val lutRows = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"))
      .collect().map { r =>
        val qid = r.getLong(0)
        val qv = r.getSeq[Float](1)
        val lut = books.zipWithIndex.map { case (book, mi) =>
          book.map { cent =>
            var d = 0.0
            var i = 0
            while (i < subDim) {
              val t = qv(mi * subDim + i).toDouble - cent(i).toDouble
              d += t * t
              i += 1
            }
            d
          }.toSeq
        }.toSeq
        (qid, qv, lut)
      }.toSeq
    val queries = lutRows.toDF("query_id", "qv", "lut")
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("cand_id"))
    val cand = encoded.join(broadcast(queries), col("query_id") =!= col("cand_id"))
      .withColumn("adist",
        round(aggregate(
          zip_with(col("codes"), col("lut"), (c, row) => element_at(row, c + 1)),
          lit(0.0), (acc, x) => acc + x), 6))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= rerank)
      .select(col("query_id"), col("qv"), col("cand_id"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id"))
    e.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
      .join(broadcast(cand), "cand_id")
      .withColumn("score", round(VectorOps.cosineFast(col("qv"), col("cv")), 6))
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("score"))
  }

  // --- Persisted PQ index + incremental encode (q118) -------------------
  //
  // The q94 lifecycle applied to the compressed store: train ONCE on the
  // settled corpus, persist sub-codebooks + codes; every ingest tick
  // encodes ONLY its new vectors against the persisted books (one
  // shuffle-free projection over the shard) and appends their codes —
  // settled vectors are never re-read, never re-encoded. Queries probe
  // the persisted codes table without the original floats until re-rank.

  /** Sub-codebooks as a plain parquet table (sub, code, centroid) —
    * engine-neutral, versionable next to the codes it explains. */
  def savePqBooks(spark: SparkSession, books: Array[Array[Array[Float]]],
                  path: String): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, mi) =>
      book.zipWithIndex.map { case (c, ki) => (mi, ki, c.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")
      .coalesce(1) // m·kSub·subDim floats — one footer
      .write.mode("overwrite").parquet(path)
  }

  def loadPqBooks(spark: SparkSession, path: String): Array[Array[Array[Float]]] = {
    val rows = spark.read.parquet(path)
      .select(col("sub"), col("code"), col("centroid")).collect()
    require(rows.nonEmpty, s"empty PQ codebook at $path")
    val m = rows.map(_.getInt(0)).max + 1
    val kSub = rows.map(_.getInt(1)).max + 1
    val books = Array.ofDim[Array[Float]](m, kSub)
    rows.foreach { r =>
      val (mi, ki) = (r.getInt(0), r.getInt(1))
      require(books(mi)(ki) == null, s"duplicate (sub=$mi, code=$ki) at $path")
      books(mi)(ki) = r.getSeq[Float](2).toArray
    }
    require(books.forall(_.forall(_ != null)), s"PQ codebook at $path has gaps")
    books
  }

  /** Bootstrap: train on the settled corpus, persist books + codes, the
    * codes partitioned by ingest_batch (settled = batch −1) so each later
    * tick owns a partition and replay is idempotent (q70/q93 discipline). */
  def writePqIndex(e: DataFrame, booksPath: String, codesPath: String,
                   m: Int = 8, kSub: Int = 16, trainIters: Int = 2,
                   trainOn: Option[DataFrame] = None): Unit = {
    val spark = e.sparkSession
    // bootstrap claims the raw path as the live generation (a prior
    // same-session compaction may have flipped the pointer elsewhere)
    graft.sources.Sources.resetLivePointer(spark, codesPath)
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    // trainOn: see writeIvfIndex — frozen books, quality is q118's row
    val books = trainPqBooks(trainOn.getOrElse(e), m, kSub, trainIters)
    savePqBooks(spark, books, booksPath)
    e.select(col("vec_id"), pqEncode(col("embedding"), books, dim / m).as("codes"))
      .withColumn("ingest_batch", lit(-1L))
      .write.mode("overwrite").partitionBy("ingest_batch").parquet(codesPath)
  }

  /** One ingest tick: encode the new vectors against the PERSISTED books
    * and OVERWRITE the tick's own ingest_batch partition — a replayed
    * tick rewrites identical files instead of double-appending. No
    * retraining, no settled rows touched. */
  def pqIngestTick(newVecs: DataFrame, booksPath: String, codesPath: String,
                   batchId: Long = 0L): Unit = {
    val spark = newVecs.sparkSession
    val books = loadPqBooks(spark, booksPath)
    val subDim = books(0)(0).length
    newVecs.select(col("vec_id"),
      pqEncode(col("embedding"), books, subDim).as("codes"))
      .withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch")
      .parquet(graft.sources.Sources.livePath(spark, codesPath))
  }

  /** q118 fixture entry — the invariant row (q94 discipline): settled
    * vectors bootstrap the persisted index, vec_id % 5 == 0 arrives as
    * the tick, then (a) the persisted codes must equal a from-scratch
    * encode of the whole corpus under the persisted books, and (b) the
    * ADC probe over the persisted codes must equal the in-memory probe
    * with the same books. Zero mismatches = the compressed store's
    * incremental path loses nothing.
    */
  def pqIncrementalInvariant(spark: SparkSession, dir: String,
                             nQueries: Int = 10, k: Int = 5,
                             rerank: Int = 100): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val isNew = col("vec_id") % 5 === 0
    // bootstrap ONCE per session; the tick owns its batch partition and
    // overwrites it, so a same-session re-run replays the tick onto the
    // converged store and rewrites identical files (the q94 discipline)
    val root = graft.sources.Sources.ensureStore(spark, "pqboot118", dir) {
      root => writePqIndex(e.filter(!isNew), s"$root/books", s"$root/codes")
    }
    val (booksPath, codesPath) = (s"$root/books", s"$root/codes")
    pqIngestTick(e.filter(isNew), booksPath, codesPath)
    val books = loadPqBooks(spark, booksPath)
    val subDim = books(0)(0).length
    val persisted = spark.read
      .parquet(graft.sources.Sources.livePath(spark, codesPath))
      .select(col("vec_id"), col("codes"))
    val full = e.select(col("vec_id"), pqEncode(col("embedding"), books, subDim).as("codes"))
    val codeMismatches = symmetricDiffCount(persisted, full)
    val fromIndex = pqTopKOver(e,
      persisted.select(col("vec_id").as("cand_id"), col("codes")),
      books, subDim, nQueries, k, rerank)
    val inMemory = pqTopKOver(e,
      full.select(col("vec_id").as("cand_id"), col("codes")),
      books, subDim, nQueries, k, rerank)
    val probeMismatches = symmetricDiffCount(fromIndex, inMemory)
    import spark.implicits._
    // one aggregate for both split sizes (was two separate count() jobs)
    val cnts = e.agg(count(when(!isNew, 1)).as("n_settled"),
      count(when(isNew, 1)).as("n_new")).head()
    Seq((codeMismatches, probeMismatches)).toDF(
      "code_mismatches", "probe_mismatches")
      .select(
        lit(cnts.getLong(0)).as("n_settled"),
        lit(cnts.getLong(1)).as("n_new"),
        col("code_mismatches"), col("probe_mismatches"))
  }

  /** q141 — PQ CODES COMPACTION: q139's maintenance verb for the
    * COMPRESSED store — after K encode ticks the codes table is K+1
    * ingest_batch partitions; fold them into the settled partition
    * (ingest_batch = −1). Row-preserving by contract (codes are already
    * frozen against the persisted books — compaction is pure layout);
    * blue/green versioned swap — no crash window (see ivfCompact). */
  def pqCompact(spark: SparkSession, codesPath: String): Unit =
    graft.sources.Sources.versionedSwap(spark, codesPath) { (live, staged) =>
      spark.read.parquet(live)
        .withColumn("ingest_batch", lit(-1L))
        .write.mode("overwrite").partitionBy("ingest_batch")
        .parquet(staged)
    }

  /** q141's invariant row (the q139 shape for the PQ store): settled
    * bootstrap + three encode ticks, compact, then pin batches 4 → 1,
    * persisted-codes-vs-fresh-encode equality, and pre-vs-post probe
    * identity (pre-probe snapshot query-bounded, checkpointed across
    * the swap). */
  def pqCompactionInvariant(spark: SparkSession, dir: String,
                            nQueries: Int = 10, k: Int = 5,
                            rerank: Int = 100): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // pre-compaction store shared per session, codes cloned per
    // invocation — the q139 clone discipline for the compressed store
    val preRoot = graft.sources.Sources.ensureStore(spark, "pqcpre", dir) {
      root =>
        writePqIndex(e.filter(col("vec_id") % 4 === 0), s"$root/books",
          s"$root/codes")
        pqIngestTick(e.filter(col("vec_id") % 4 === 1), s"$root/books", s"$root/codes", 0L)
        pqIngestTick(e.filter(col("vec_id") % 4 === 2), s"$root/books", s"$root/codes", 1L)
        pqIngestTick(e.filter(col("vec_id") % 4 === 3), s"$root/books", s"$root/codes", 2L)
    }
    val booksPath = s"$preRoot/books"
    // session-stable clone destination (spec pins the folded layout here)
    val codesPath = graft.sources.Sources.scratchDir(spark,
      "pqc_codes_" + graft.sources.Sources.dirTag(dir))
    graft.sources.Sources.cloneStoreDirOver(spark, s"$preRoot/codes", codesPath)
    val books = loadPqBooks(spark, booksPath)
    val subDim = books(0)(0).length
    val batchesBefore = spark.read
      .parquet(graft.sources.Sources.livePath(spark, codesPath))
      .select(col("ingest_batch")).distinct().count()
    def probeOf(codes: DataFrame) = pqTopKOver(e,
      codes.select(col("vec_id").as("cand_id"), col("codes")),
      books, subDim, nQueries, k, rerank)
    val preProbe = probeOf(spark.read
      .parquet(graft.sources.Sources.livePath(spark, codesPath)))
      .localCheckpoint(true)
    pqCompact(spark, codesPath)
    val batchesAfter = spark.read
      .parquet(graft.sources.Sources.livePath(spark, codesPath))
      .select(col("ingest_batch")).distinct().count()
    val persisted = spark.read
      .parquet(graft.sources.Sources.livePath(spark, codesPath))
      .select(col("vec_id"), col("codes"))
    val full = e.select(col("vec_id"),
      pqEncode(col("embedding"), books, subDim).as("codes"))
    val codeMismatches = symmetricDiffCount(persisted, full)
    val postProbe = probeOf(persisted)
    val probeMismatches = symmetricDiffCount(preProbe, postProbe)
    import spark.implicits._
    Seq((e.count(), batchesBefore, batchesAfter,
      codeMismatches, probeMismatches)).toDF(
      "n_vecs", "batches_before", "batches_after",
      "code_mismatches", "probe_mismatches")
  }

  /** q143 — EMBEDDING SNAPSHOT DRIFT: the vector-modality twin of q135's
    * token drift — when an embedding model is upgraded or a re-embedding
    * job lands, the question is whether the GEOMETRY the indexes and
    * similarity thresholds were tuned on moved. Per dimension, the mean
    * shift between the two snapshots (the translation component — a
    * biased dim breaks cosine thresholds), the spread ratio (a variance
    * collapse flattens similarity scores), and the 6dp-rounded absolute
    * mean delta the alert ranks by. Snapshot membership is the q135
    * modulo discipline (v1 = vec_id % 5 ≠ 0, v2 = vec_id % 3 ≠ 0).
    *
    * Deterministic arithmetic parity with DuckDB: means are SUM/COUNT in
    * double over f32-widened values (hash-agg order noise absorbed by
    * the 6dp round, the q113/q131 precedent); spread uses the population
    * form E[x²]−E[x]² computed identically on both engines.
    *
    * Scale shape: one posexplode pass per snapshot, map-side combined
    * into dims-row aggregates; the join and report are dims-row. */
  def embeddingDriftReport(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    def stats(pred: org.apache.spark.sql.Column) = e.filter(pred)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"), col("x").cast("double").as("x"))
      .groupBy(col("dim"))
      .agg((sum(col("x")) / count(lit(1))).as("mean"),
        (sum(col("x") * col("x")) / count(lit(1))).as("m2"))
    val v1 = stats(col("vec_id") % 5 =!= 0)
      .select(col("dim"), col("mean").as("mean1"),
        (col("m2") - col("mean") * col("mean")).as("var1"))
    val v2 = stats(col("vec_id") % 3 =!= 0)
      .select(col("dim"), col("mean").as("mean2"),
        (col("m2") - col("mean") * col("mean")).as("var2"))
    v1.join(v2, "dim")
      .select(col("dim"),
        round(col("mean1"), 6).as("mean1"),
        round(col("mean2"), 6).as("mean2"),
        round(abs(col("mean1") - col("mean2")), 6).as("abs_mean_delta"),
        round(sqrt(col("var2")) / sqrt(col("var1")), 6).as("spread_ratio"))
  }

  /** q115 — EMBEDDING TABLE AUDIT: the data-quality report a vector
    * pipeline runs before indexing — per label: vector count, dimension
    * agreement (an ANN index dies on ragged dims), and the L2-norm
    * envelope (min/avg/max) that tells you whether the table is
    * unit-normalized, which decides cosine-vs-dot downstream.
    *
    * Norms accumulate in DOUBLE over the array IN ORDER (`aggregate` with
    * a double accumulator — both engines fold the same 64 elements
    * left-to-right, so the per-row norm is bit-identical); the per-label
    * avg rounds at 4dp to absorb hash-agg accumulation order. One scan,
    * one hash agg on the tiny label key.
    */
  def embeddingAudit(spark: SparkSession, dir: String): DataFrame = {
    val norm = sqrt(aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"),
        size(col("embedding")).cast("long").as("n_dims"), norm.as("norm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("n_dims")).as("n_distinct_dims"),
        min(col("n_dims")).as("min_dims"),
        round(min(col("norm")), 4).as("min_norm"),
        round(avg(col("norm")), 4).as("avg_norm"),
        round(max(col("norm")), 4).as("max_norm"))
  }

  // --- ANN router -------------------------------------------------------

  /** Route decision, factored out pure so the spec can pin it without
    * running an index build: a compressed store demands PQ regardless of
    * size (it is the memory-budget lever, not a speed route); otherwise
    * LSH banding up to `lshMaxRows` (zero training passes — the cheapest
    * correct-recall path while the band join is comfortable) and IVF
    * above it (one training pass buys a scored fraction of ~nProbe/
    * nLists, which is what survives when the corpus outgrows banding). */
  private[graft] def annRoute(nRows: Long, lshMaxRows: Long,
                              compressedStore: Boolean): String =
    if (compressedStore) "pq"
    else if (nRows <= lshMaxRows) "lsh"
    else "ivf"

  /** ANN TOP-K ROUTER — the D10 routing discipline applied to similarity
    * search: ONE entry point that picks the index family from what the
    * caller can actually state — corpus size ([[Tables.rowCount]]) and
    * whether the store must be compressed — instead of
    * forcing an algorithm choice. Routes to q22's hyperplane-LSH banding,
    * q43's IVF probe, or q116's PQ-ADC with exact re-rank; every route
    * returns the same (query_id, rank, cand_id, score) contract with
    * rank as long, so a consumer swaps scale paths without a schema
    * change — exactly how [[Dedup.nearDupClusters]] routes candidate
    * generation while keeping one cluster contract.
    */
  def annTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
              lshMaxRows: Long = 1000000L,
              compressedStore: Boolean = false): DataFrame = {
    val nRows = Tables.rowCount(spark, dir, "embeddings")
    val routed = annRoute(nRows, lshMaxRows, compressedStore) match {
      case "pq"  => pqCosineTopK(spark, dir, nQueries, k)
      case "lsh" => annCosineTopK(spark, dir, nQueries, k)
      case _     => ivfCosineTopK(spark, dir, nQueries, k)
    }
    routed.select(col("query_id"), col("rank").cast("long").as("rank"),
      col("cand_id"), col("score"))
  }

  /** q145 — ANN ROUTER INVARIANT (q34 discipline): the router's decision
    * is a pure function of (corpus count, compressed flag, lshMaxRows) —
    * so the DECISION itself is oracle-able even though two of the three
    * underlying routes are engine-RNG. One row per routing scenario:
    * the DuckDB-recomputable corpus count, the route [[annRoute]] picks,
    * and a dispatch-violations counter pinned at 0. The oracle recomputes
    * every route from the count with the same CASE rule; `violations`
    * additionally proves the front door's dispatch WIRING on the scenario
    * the fixture actually exercises (the default → LSH): [[annTopK]]'s
    * routed output must equal the direct route's output row for row
    * (both relations are nQueries·k — bounded driver compare).
    */
  def annRouteInvariant(spark: SparkSession, dir: String,
                        nQueries: Int = 10, k: Int = 5): DataFrame = {
    import spark.implicits._
    val nRows = Tables.rowCount(spark, dir, "embeddings")
    def keyRows(df: DataFrame): Set[(Long, Long, Long)] =
      df.select(col("query_id").cast("long"), col("rank").cast("long"),
          col("cand_id").cast("long"))
        .as[(Long, Long, Long)].collect().toSet
    val routed = keyRows(annTopK(spark, dir, nQueries, k))
    val direct = keyRows(annCosineTopK(spark, dir, nQueries, k))
    val dispatchViolations =
      if (routed == direct && routed.nonEmpty) 0L else 1L
    val scenarios = Seq(
      // (scenario, lshMaxRows, compressedStore); the default cap routes
      // the fixture to LSH, a tiny cap forces the IVF arm, and the
      // compressed flag forces PQ regardless of size
      ("default", 1000000L, false),
      ("small_cap", 10L, false),
      ("compressed", 1000000L, true))
    scenarios.map { case (name, cap, comp) =>
      (name, cap, comp, nRows, annRoute(nRows, cap, comp),
        if (name == "default") dispatchViolations else 0L)
    }.toDF("scenario", "lsh_max_rows", "compressed", "n_vectors", "route",
      "violations")
  }

  /** q128 — HYBRID RETRIEVAL: BM25 lexical ranks fused with exact dense-
    * cosine ranks via Reciprocal Rank Fusion (Cormack, Clarke & Büttcher,
    * SIGIR 2009: rrf(d) = Σ 1/(K + rank_i(d))). The standard first stage
    * of a RAG / hard-negative-mining pipeline: lexical recall catches the
    * rare-term matches dense misses, dense catches the paraphrases lexical
    * misses, and RRF needs no score calibration because it consumes only
    * RANKS — which is also what makes it oracle-able: both input rankings
    * are already hash-pinned (q96, q21), so the fused ranking is a
    * deterministic function of agreed integers.
    *
    * Scale shape: each side is its own audited top-`depth` retrieval
    * (inverted-index BM25, broadcast-query cosine — at corpus scale the
    * caller swaps in [[annTopK]] for the dense side, same rank contract);
    * the fusion itself joins two (nQueries × depth)-row relations — query-
    * bounded, corpus-independent, trivially broadcastable. Candidates
    * found by only one retriever keep a null rank on the other side and
    * contribute a single RRF term, the paper's union semantics. */
  def hybridRrfTopK(spark: SparkSession, dir: String, nQueries: Int = 5,
                    depth: Int = 20, k: Int = 10, rrfK: Int = 60): DataFrame = {
    val lex = TextAnalysis.bm25TopK(spark, dir, nQueries, depth)
      .select(col("query_id"), col("cand_id"), col("rank").as("lex_rank"))
    val dense = cosineTopK(spark, dir, nQueries, depth)
      .select(col("query_id"), col("cand_id"),
        col("rank").cast("long").as("vec_rank"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("cand_id"))
    lex.join(dense, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("rrf"),
        col("lex_rank"), col("vec_rank"))
  }

  /** q137 — MATRYOSHKA PREFIX-DIMENSION AUDIT: before serving truncated
    * embeddings (the MRL deployment trick — store/search the first m dims
    * as a cheap prefilter, Kusupati et al., NeurIPS 2022), measure what
    * truncation does to the similarities that MATTER: over the exact
    * top-`depth` retrieval pairs (q21's audited, hash-pinned set — not
    * random pairs), the mean/max absolute cosine delta between the
    * m-dim-prefix cosine and the full-dimension cosine, one row per
    * candidate prefix width. A prefix whose max delta is far under the
    * retrieval score gaps can serve as the first stage; one near the gaps
    * cannot. Complements A17: SQ8 audits per-DIM quantization error,
    * this audits per-PREFIX truncation error.
    *
    * Oracle-able like q131 (trainless, deterministic double arithmetic);
    * zero-norm prefixes guard to cosine 0 in both engines. Scale: the
    * pair set is (nQueries × depth) rows; the two embedding joins are
    * id-keyed lookups; every per-m relation is pair-set-sized — corpus
    * cost is q21's retrieval, already audited. */
  def matryoshkaAudit(spark: SparkSession, dir: String, nQueries: Int = 5,
                      depth: Int = 20,
                      prefixes: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // eagerly pinned: the relation is only (nQueries × depth) rows, but
    // each union branch below would otherwise re-run the whole q21
    // retrieval and both embedding joins — once per prefix width
    val joined = cosineTopK(spark, dir, nQueries, depth)
      .select(col("query_id"), col("cand_id"))
      .join(e.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        "query_id")
      .join(e.select(col("vec_id").as("cand_id"), col("embedding").as("cv")),
        "cand_id")
      .localCheckpoint(true)
    val full = VectorOps.cosineFast(col("qv"), col("cv"))
    prefixes.map { m =>
      val qp = slice(col("qv"), 1, m)
      val cp = slice(col("cv"), 1, m)
      val cosM = when(VectorOps.norm(qp) === 0.0 || VectorOps.norm(cp) === 0.0,
        lit(0.0)).otherwise(VectorOps.cosineFast(qp, cp))
      joined.select(lit(m).cast("long").as("m"), abs(full - cosM).as("d"))
    }.reduce(_ unionByName _)
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("d")), 6).as("mean_abs_delta"),
        round(max(col("d")), 6).as("max_abs_delta"))
  }

  /** q131 — SQ8 SCALAR-QUANTIZATION AUDIT: the report a pipeline runs
    * before committing an embedding table to int8 storage (the 4×-smaller
    * store FAISS calls SQ8): per dimension, the corpus [min, max] range
    * that defines the affine uint8 grid, and the mean/max absolute
    * reconstruction error of midpoint dequantization over the actual
    * data. code = floor((x − lo) · 255/(hi − lo) + ½) — round to the
    * nearest of the 256 levels lo + c·(hi − lo)/255 — so max_abs_err is
    * bounded by half a level step, and a dimension whose error approaches
    * that bound is uniformly spread while one far under it is
    * concentrated (quantization is nearly free there). Complements J9: PQ compresses
    * by codebook (needs training), SQ8 by per-dim affine grid (needs only
    * min/max) — the audit says whether the trainless route suffices.
    *
    * Fully oracle-able BECAUSE trainless: the grid is a deterministic
    * function of per-dim min/max, and every arithmetic step (f32→double
    * widening, IEEE subtract/multiply/divide, floor) is bit-identical in
    * DuckDB — no engine RNG, no iterative training, no tie-breaking.
    *
    * Scale shape: one posexplode pass (rows × dim, map-side combined into
    * the per-dim min/max agg — `dims`-row driver-free relation), then the
    * same pass re-derived (q83 re-scan discipline) joins the broadcast
    * stats to score errors — two corpus scans, zero corpus shuffles: both
    * aggregations key on `dim` (64 groups), partial-agg'd to nothing
    * before the exchange. Constant-size output (dims rows). */
  def sq8QuantizationAudit(spark: SparkSession, dir: String): DataFrame = {
    def ex = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"), col("x").cast("double").as("x"))
    val stats = ex.groupBy(col("dim"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val code = when(col("hi") === col("lo"), lit(0.0))
      .otherwise(least(lit(255.0),
        floor((col("x") - col("lo")) * 255.0 / (col("hi") - col("lo")) + 0.5)))
    val err = abs(col("x") -
      (col("lo") + code * (col("hi") - col("lo")) / 255.0))
    ex.join(broadcast(stats), "dim")
      .groupBy(col("dim"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"),
        round(avg(err), 6).as("mean_abs_err"),
        round(max(err), 6).as("max_abs_err"))
      .select(col("dim"), round(col("lo"), 6).as("lo"),
        round(col("hi"), 6).as("hi"), col("mean_abs_err"), col("max_abs_err"))
  }

  /** A31 [EXT] — RANKING AGREEMENT AUDIT: the q128 hybrid's two legs
    * (BM25 lexical, exact dense cosine — both independently hash-pinned)
    * compared per query BEFORE fusing: top-depth overlap count and
    * fraction, Spearman's footrule (Σ|lex_rank − vec_rank| over the
    * overlap — the rank-displacement mass), and the dense reciprocal rank
    * of the lexical top-1. These are the numbers that justify (or kill)
    * hybrid retrieval on a corpus: near-total overlap → one retriever is
    * redundant; near-zero → RRF fuses noise; the footrule says whether
    * the shared candidates even agree on ORDER. All integers and exact
    * divisions over two query-bounded rank lists — fully oracle-checked.
    *
    * Scale: each leg is its own audited top-depth retrieval (q96/q21
    * scale notes apply; swap [[annTopK]] in for the dense leg past the
    * exact cap — same rank contract); the audit joins two
    * nQueries×depth-row relations, corpus-independent.
    */
  def rankingAgreementAudit(spark: SparkSession, dir: String,
                            nQueries: Int = 5, depth: Int = 20): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val lex = TextAnalysis.bm25TopK(spark, dir, nQueries, depth)
      .select(col("query_id"), col("cand_id"), col("rank").as("lex_rank"))
    val dense = cosineTopK(spark, dir, nQueries, depth)
      .select(col("query_id"), col("cand_id"),
        col("rank").cast("long").as("vec_rank"))
    val overlap = lex.join(dense, Seq("query_id", "cand_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_overlap"),
        sum(abs(col("lex_rank") - col("vec_rank"))).as("footrule"))
    val top1rr = lex.filter(col("lex_rank") === 1)
      .join(dense, Seq("query_id", "cand_id"), "left")
      .select(col("query_id"),
        coalesce(lit(1.0) / col("vec_rank"), lit(0.0)).as("rr"))
    lex.select(col("query_id")).distinct()
      .join(overlap, Seq("query_id"), "left")
      .join(top1rr, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round((coalesce(col("n_overlap"), lit(0L)).cast("double") / depth)
          .cast(dec), 6).cast("double").as("overlap_frac"),
        coalesce(col("footrule"), lit(0L)).as("footrule"),
        round(coalesce(col("rr"), lit(0.0)).cast(dec), 6)
          .cast("double").as("rr_lex_top1"))
  }

  /** A26 [EXT] — kNN-GRAPH LABEL AUDIT: build the exact self-kNN graph
    * over the embedding table (every vector is a query; k nearest by
    * cosine, self excluded) and reduce it to the two numbers an embedding
    * space is trusted on before it routes data: per-label NEIGHBOR PURITY
    * (fraction of edges whose endpoint shares the query's label — the
    * label-noise / cluster-coherence signal that SemDeDup-style semantic
    * curation silently assumes) and RECIPROCITY (fraction of edges whose
    * reverse edge also made top-k — asymmetric hub-dominated graphs are
    * the classic symptom of un-normalized or collapsed spaces).
    *
    * Shape: edges from [[knnEdgesRouted]] — exact all-pairs under
    * `exactCap` (the q21 broadcast-scored plan class), IVF-probed
    * neighborhoods above it (the sf1 measurement that forced the router:
    * 20k vectors ran the exact route at 23× the 2k wall). The audit
    * itself is two hash joins on the edge list (edges = |V|·k rows, never
    * |V|²) plus a self-join for reciprocity on the (cand, query) key.
    * Ranking reuses the q21 total order (rounded score desc, vec_id asc)
    * so the oracle's row_number agrees bit-for-bit at fixture scale
    * (under the cap → exact route). Ratios round through DECIMAL (the
    * q92 tie discipline). Fully oracle-checked.
    */
  def knnLabelAudit(spark: SparkSession, dir: String, k: Int = 5,
                    exactCap: Long = 10000L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    knnLabelAuditOver(ensureKnnEdges(spark, dir, k, exactCap),
      e.select(col("vec_id"), col("label")))
  }

  /** Session-shared kNN edge leaf — the pair-leaf discipline
    * (`Dedup.ensureJaccardPairs`) on the audit graph: q152 and q157 each
    * re-ran [[knnEdgesRouted]]'s \|V\|²-scoring pass (the audits'
    * dominant cost) on the identical (dir, k, exactCap) key until r16.
    * Edge content is deterministic — the exact route's rounded total
    * order and the routed route's seeded codebook both replay
    * bit-for-bit — so sharing changes cost, never results. */
  private[graft] def ensureKnnEdges(spark: SparkSession, dir: String,
                                    k: Int, exactCap: Long,
                                    nProbe: Int = 32): DataFrame = {
    val idType = Tables.embeddings(spark, dir).schema("vec_id").dataType
    val root = graft.sources.Sources.ensureStore(spark, "knnedges",
        s"$dir|$k|$exactCap|$nProbe") { p =>
      knnEdgesRouted(Tables.embeddings(spark, dir), k, exactCap, nProbe)
        .write.mode("overwrite").parquet(p)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", idType),
      org.apache.spark.sql.types.StructField("cand_id", idType)))
    spark.read.schema(schema).parquet(root)
  }

  /** Audit edge-build router: exact all-pairs under `exactCap` corpus
    * rows, IVF-probed neighborhoods above it. The |V|² scoring pass is
    * the audit's dominant cost — measured on the 10× fixture: 20k vectors
    * ran the exact route at 23–24× the 2k wall (100× pairs), which is the
    * wall every exact audit hits, so past the cap the graph is built from
    * probed lists and purity/reciprocity become estimates — the
    * documented trade every SemDeDup-scale audit makes. Fixture scales
    * sit under the cap, so the q152/q157 oracles stay exact.
    *
    * nProbe = 32 is MEASURED, not guessed (round-12 k-NN recall measurement,
    * BENCH_NOTES.md): on a 20k rotation-decorrelated tiled corpus — the
    * WORST case for IVF, no cluster structure at all — edge recall vs
    * exact is 0.20 / 0.46 / 0.65 / 0.86 at nProbe 4 / 16 / 32 / 64,
    * while wall is FLAT until ~64 (12→18→18→24 s vs 58 s exact): the
    * probed fraction nProbe·128/n shrinks as the corpus grows (nLists
    * tracks n), so candidate volume stays ≈ n·nProbe·128 — linear — and
    * the fixed per-pass costs dominate at these sizes. 32 buys the 0.6+
    * recall the audit's estimates need at the old nProbe=4 price; real
    * embedding corpora cluster (IVF's operating assumption), so 0.65 is
    * the measured floor, not the expectation. When nProbe ≥ nLists
    * (small corpora just over the cap) every list is probed and the
    * edge set equals the exact graph — spec-pinned. */
  private[graft] def knnEdgesRouted(e: DataFrame, k: Int, exactCap: Long,
                                        nProbe: Int = 32): DataFrame = {
    val n = e.count()
    if (n <= exactCap) exactKnnEdges(e, k)
    else {
      // nLists tracks the corpus (~128 vectors per list, capped at the
      // literal-codebook limit): a FIXED nLists leaves the probed
      // fraction nProbe/nLists constant and the audit quadratic — the
      // first sf1 routed run still ground through n²/4 pairs. Scaling
      // nLists makes probed pairs ≈ n · (nProbe · 128), i.e. linear.
      val ev = e.select(col("vec_id"), col("embedding"))
      val nLists = math.min(LiteralCodebookMaxLists.toLong,
        math.max(16L, n / 128L)).toInt
      // iters = 0: the deterministic first-nLists seed. The audit pays a
      // full extra assignment pass per Lloyd's round, and the fixture
      // measurement behind ivfCosineTopK's scaladoc shows training buys
      // list BALANCE, not recall — the spec'd recall floor holds at 0
      // iterations, so the audit takes the cheaper codebook.
      val cents = trainCentroids(ev, nLists, 0)
      // repartition BOTH join legs on list_id: the probe×list join's
      // output parallelism follows its stream side, and a 5 MB corpus
      // parquet arrives as ONE input split — without the fan-out the
      // 10M-pair scoring loop runs on a single task
      val assigned = ivfAssign(ev, cents).repartition(col("list_id"))
      val probes = probesFor(ev, cents, nProbe,
        broadcastCodebook = nLists > LiteralCodebookMaxLists)
        .repartition(col("list_id"))
      graft.sources.Sources.spillScratch(
        probeTail(assigned, probes, k)
          .select(col("query_id"), col("cand_id")),
        "knn_edges_ivf")
    }
  }

  /** The exact self-kNN edge list (every vector a query; k nearest by
    * cosine under q21's rounded total order, self excluded). The edge
    * list feeds multiple consumers in every caller (the reciprocity
    * self-join, the neighbor-histogram joins); without a spill Catalyst
    * evaluates the |V|²-scoring subtree once PER consumer — spill the
    * |V|·k edges once (the q88/q123 multi-consumer discipline) so the
    * quadratic pass runs once. */
  private[graft] def exactKnnEdges(e: DataFrame, k: Int): DataFrame = {
    val queries = e.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val corpus = e.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id"))
    graft.sources.Sources.spillScratch(
      corpus.join(broadcast(queries), col("query_id") =!= col("cand_id"))
        .withColumn("score", round(VectorOps.cosineFast(col("qv"), col("cv")), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("cand_id")),
      "knn_edges")
  }

  /** A29 [EXT] — kNN MISLABEL CANDIDATES: A26's graph made actionable at
    * the item grain — per vector, its neighbors' majority label (ties
    * broken by count desc, label asc — a total order both engines rank
    * identically) and the flag `flagged` = the STRICT majority of its k
    * neighbors carries a different label than its own. The per-item verb
    * of confident-learning-style label cleaning: the flagged set is the
    * relabel/review queue a curation pipeline actually consumes, where
    * A26 only says how bad the space is in aggregate.
    *
    * Scale: edges from [[knnEdgesRouted]] (exact under `exactCap`,
    * IVF-probed above — the same router the sf1 quadratic-wall
    * measurement forced on A26); the histogram is one hash agg on
    * (query, neighbor-label) ≤ |V|·k rows; majority is a row_number
    * window over ≤ |labels| rows per vector. Fully oracle-checked (the
    * fixture sits under the cap → exact route).
    */
  def knnMislabelCandidates(spark: SparkSession, dir: String,
                            k: Int = 5, exactCap: Long = 10000L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val lab = e.select(col("vec_id"), col("label"))
    val hist = ensureKnnEdges(spark, dir, k, exactCap)
      .join(lab.select(col("vec_id").as("cand_id"),
        col("label").as("nb_label")), "cand_id")
      .groupBy(col("query_id"), col("nb_label"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n").desc, col("nb_label"))
    hist.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .join(lab.select(col("vec_id").as("query_id"), col("label")), "query_id")
      .select(col("query_id").as("vec_id"), col("label"),
        col("nb_label").as("majority_label"), col("n").as("n_majority"),
        (col("n") * 2 > k && col("nb_label") =!= col("label")).as("flagged"))
  }

  /** The audit reduction over any (query_id, cand_id) edge list — shared
    * by the exact builder above and any ANN-built graph. */
  def knnLabelAuditOver(edges: DataFrame, labels: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val rev = edges.select(col("cand_id").as("query_id"),
      col("query_id").as("cand_id"), lit(1).as("has_rev"))
    val nVecs = labels.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    edges
      .join(rev, Seq("query_id", "cand_id"), "left")
      .join(labels.select(col("vec_id").as("query_id"),
        col("label")), "query_id")
      .join(labels.select(col("vec_id").as("cand_id"),
        col("label").as("cand_label")), "cand_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_edges"),
        sum(coalesce(col("has_rev"), lit(0))).as("n_reciprocal"),
        sum(when(col("label") === col("cand_label"), 1L).otherwise(0L))
          .as("n_same_label"))
      .join(nVecs, "label")
      .select(col("label"), col("n_vecs"), col("n_edges"),
        col("n_reciprocal"), col("n_same_label"),
        round((col("n_reciprocal").cast("double") / col("n_edges")).cast(dec), 6)
          .cast("double").as("reciprocity"),
        round((col("n_same_label").cast("double") / col("n_edges")).cast(dec), 6)
          .cast("double").as("purity"))
  }

  /** Session-shared exact cosine top-k baseline — the ground truth every
    * routed-recall audit (q198–q204) compares against. [[cosineTopK]] is a
    * pure function of (dir, nQueries, k) (scores 6dp-rounded, ranks under
    * a total order), so the seven audits share ONE store instead of each
    * re-running the exact queries×corpus scoring pass; q21 itself stays a
    * live computation (it IS the declared operator). */
  private[graft] def ensureExactTopK(spark: SparkSession, dir: String,
                                     nQueries: Int, k: Int): DataFrame = {
    val schema = cosineTopK(spark, dir, nQueries, k).schema
    val root = graft.sources.Sources.ensureStore(spark, "exacttopk",
        s"$dir|$nQueries|$k") { p =>
      cosineTopK(spark, dir, nQueries, k).write.mode("overwrite").parquet(p)
    }
    spark.read.schema(schema).parquet(root)
  }

  // --- Routed-recall audits (q198–q200) ---------------------------------
  //
  // The q154/q163/q164 estimator-audit discipline applied to the
  // trained-float retrieval routes: the EXACT top-k side is DuckDB-
  // recomputable (the q21 oracle chain), so each routed engine (IVF
  // probe, PQ-ADC, hyperplane LSH) gets an oracle-green registry row
  // that re-derives the exact neighbor sets and PINS the routed route's
  // per-query recall floor — `recall_ok` demanded TRUE on every query.
  // The routes themselves stay engine-internal (Lloyd's / codebooks /
  // hyperplanes are impractical in SQL — the q43 precedent); what the
  // oracle certifies is that the route the engine SHIPS clears its
  // declared floor against the ground truth the oracle CAN recompute.
  // Floors are per-query (strictly harder than the specs' pooled
  // recall): set from the measured fixture minima with margin, asserted
  // at both fixture scales by the specs.

  /** Per-query recall decision of a routed top-k against the exact
    * top-k: for every query in `exact`, the exact neighbor count and
    * whether the routed overlap clears `floor`. Columns are exactly the
    * oracle-derivable pair (n_exact from the q21 chain, recall_ok
    * pinned TRUE); the routed overlap feeds the flag without being
    * emitted. Both inputs are nQueries·k-bounded relations, so the
    * audit reduction is driver-trivial at any corpus scale — the cost
    * is the two retrievals, each already scale-shaped. */
  private[graft] def recallAuditOver(exact: DataFrame, routed: DataFrame,
                                     floor: Double): DataFrame = {
    val hits = exact.select(col("query_id"), col("cand_id"))
      .join(routed.select(col("query_id"), col("cand_id")),
        Seq("query_id", "cand_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") >=
          col("n_exact").cast("double") * floor).as("recall_ok"))
  }

  /** q198 — IVF ROUTED-RECALL AUDIT: q43's probe vs q21's exact top-k,
    * per-query floor pinned. Measured per-query minima (BENCH_NOTES.md)
    * with the defaults: 4/5 (sf0.001), 3/5 (sf0.01), 5/5 (sf0.1) —
    * floor 0.4 sits one missed neighbor below the worst measured query. */
  def ivfRecallAudit(spark: SparkSession, dir: String,
                     nQueries: Int = 10, k: Int = 5, nLists: Int = 16,
                     nProbe: Int = 4, trainIters: Int = 1,
                     floor: Double = 0.4): DataFrame =
    recallAuditOver(ensureExactTopK(spark, dir, nQueries, k),
      ivfCosineTopK(spark, dir, nQueries, k, nLists, nProbe, trainIters),
      floor)

  /** q199 — PQ-ADC ROUTED-RECALL AUDIT: q116's ADC + exact re-rank vs
    * q21's exact top-k, per-query floor pinned. Measured per-query
    * minima with the defaults: 4/5 (sf0.001), 4/5 (sf0.01), 3/5
    * (sf0.1) — floor 0.4 is one missed neighbor below the worst. */
  def pqRecallAudit(spark: SparkSession, dir: String,
                    nQueries: Int = 10, k: Int = 5, m: Int = 8,
                    kSub: Int = 16, trainIters: Int = 2, rerank: Int = 100,
                    floor: Double = 0.4): DataFrame =
    recallAuditOver(ensureExactTopK(spark, dir, nQueries, k),
      pqCosineTopK(spark, dir, nQueries, k, m, kSub, trainIters, rerank),
      floor)

  /** q200 — LSH ROUTED-RECALL AUDIT: q22's hyperplane banding vs q21's
    * exact top-k, per-query floor pinned (and, through q145's dispatch
    * invariant, the floor the q127 router's default arm ships).
    * Measured per-query minimum with the defaults: 4/5 at ALL THREE
    * fixture scales — floor 0.6 is one missed neighbor below that. */
  def annRecallAudit(spark: SparkSession, dir: String,
                     nQueries: Int = 10, k: Int = 5,
                     floor: Double = 0.6): DataFrame =
    recallAuditOver(ensureExactTopK(spark, dir, nQueries, k),
      annCosineTopK(spark, dir, nQueries, k), floor)

  // --- Persisted-lifecycle recall audits (q201–q202) --------------------
  //
  // q198/q199 audit the FRESH routes (train + probe in one query); the
  // production shape is the persisted one — codebook trained once on a
  // settled fraction, ticks encoded/assigned against the frozen
  // coordinate system, layout folded by compaction, queries probing the
  // persisted table. The existing invariants (q94/q118/q139/q141) pin
  // that the persisted path equals the in-memory path; what they do NOT
  // pin is recall against ground truth when the codebook never saw 3/4
  // of the corpus — the real question at 100 TB, where retraining per
  // tick is impossible and "assign new data against last year's
  // centroids" is the standing operating mode. These rows close that:
  // the full q139/q141 lifecycle (bootstrap on the vec_id%4==0 quarter,
  // three ticks, compact) runs INSIDE the audited query, then the
  // persisted-index probe is floored against the oracle-recomputable
  // exact top-k over the whole corpus — recall_ok pinned TRUE per query.

  /** q201 — PERSISTED-IVF LIFECYCLE RECALL AUDIT: q139's
    * bootstrap→3-ticks→compact lifecycle, probed via the partitioned
    * on-disk index, floored against q21's exact top-k. Centroids train
    * ONLY on the settled quarter, so this measures the frozen-codebook
    * operating mode, not q198's train-on-everything best case — and pays
    * for it with a WIDER probe (nProbe 8 vs q198's 4: at nProbe=4 a
    * stale-codebook query measured 0/5 at sf0.01; doubling the probed
    * lists is exactly the operational lever a frozen index has, and costs
    * 8/16 instead of 4/16 of the partitioned files per query). Measured
    * per-query minima with these defaults (recall-floor sweep, BENCH_NOTES.md):
    * 2/5 (sf0.001), 2/5 (sf0.01), 4/5 (sf0.1) — floor 0.4 equals the
    * worst measured query; the route is deterministic per fixture, so
    * the audited scales need no margin, and the sf1 row records the
    * scaled-fixture minimum alongside its timing. */
  /** The aged frozen-codebook store both q201 and q203 start from:
    * bootstrap on the vec_id%4==0 quarter, three ingest ticks against the
    * frozen centroids, compact. */
  private[graft] def buildAgedIvfStore(e: DataFrame, cbPath: String,
                                       idxPath: String, nLists: Int): Unit = {
    writeIvfIndex(e.filter(col("vec_id") % 4 === 0), cbPath, idxPath, nLists)
    ivfIngestTick(e.filter(col("vec_id") % 4 === 1), cbPath, idxPath, 0L)
    ivfIngestTick(e.filter(col("vec_id") % 4 === 2), cbPath, idxPath, 1L)
    ivfIngestTick(e.filter(col("vec_id") % 4 === 3), cbPath, idxPath, 2L)
    ivfCompact(e.sparkSession, idxPath, nLists)
  }

  /** Build-once aged IVF store shared by q201 (lifecycle probe) and
    * q203 (rebuild source) — the bootstrap→ticks→compact fixture is
    * deterministic in (dir, nLists), so sharing its ingest cost across
    * the sibling audits changes nothing but the bench (r14 verdict #1).
    * Returns (codebookPath, indexPath). */
  private[graft] def ensureAgedIvfStore(spark: SparkSession, dir: String,
                                        nLists: Int): (String, String) = {
    val root = graft.sources.Sources.ensureStore(spark, "agedivf",
        s"$dir|$nLists") { r =>
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      buildAgedIvfStore(e, s"$r/codebook", s"$r/index", nLists)
    }
    (s"$root/codebook", s"$root/index")
  }

  def ivfLifecycleRecallAudit(spark: SparkSession, dir: String,
                              nQueries: Int = 10, k: Int = 5,
                              nLists: Int = 16, nProbe: Int = 8,
                              floor: Double = 0.4): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (cbPath, idxPath) = ensureAgedIvfStore(spark, dir, nLists)
    val routed = ivfProbeIndex(spark, cbPath, idxPath,
      e.filter(col("vec_id") < nQueries), k, nProbe)
    recallAuditOver(ensureExactTopK(spark, dir, nQueries, k), routed, floor)
  }

  /** q202 — PERSISTED-PQ LIFECYCLE RECALL AUDIT: q141's lifecycle for
    * the compressed store (books trained on the settled quarter, three
    * encode ticks, compact), ADC+rerank probe over the persisted codes,
    * floored against q21's exact top-k. Books trained on the settled
    * quarter distort ADC ordering for the unseen 3/4, so the rerank
    * window widens (200 vs q199's 100 — the rerank depth is the
    * compressed store's stale-codebook lever; still a constant-bounded
    * exact pass per query). Measured per-query minima with these
    * defaults (recall-floor sweep, BENCH_NOTES.md): 3/5 (sf0.001), 3/5 (sf0.01),
    * 2/5 (sf0.1) — floor 0.4 equals the worst measured query; route
    * deterministic per fixture, sf1 minimum recorded with its row.
    * Scale note, MEASURED at sf1 (decorrelated 10× corpus): the binding
    * lever there is code RESOLUTION, not rerank depth — rerank 200 →
    * 2000 (1% of corpus) left the same 2 queries under 0.4, while
    * m 8 → 16 (subDim 4) cleared floor 0.6 on every query. When the
    * corpus outgrows the frozen books, widen m at the next rebuild;
    * deepening rerank only re-ranks the same mis-ordered candidates. */
  /** The aged frozen-books compressed store both q202 and q204 start
    * from: books trained on the vec_id%4==0 quarter, three encode ticks,
    * compact. */
  private[graft] def buildAgedPqStore(e: DataFrame, booksPath: String,
                                      codesPath: String, m: Int, kSub: Int,
                                      trainIters: Int): Unit = {
    writePqIndex(e.filter(col("vec_id") % 4 === 0), booksPath, codesPath,
      m, kSub, trainIters)
    pqIngestTick(e.filter(col("vec_id") % 4 === 1), booksPath, codesPath, 0L)
    pqIngestTick(e.filter(col("vec_id") % 4 === 2), booksPath, codesPath, 1L)
    pqIngestTick(e.filter(col("vec_id") % 4 === 3), booksPath, codesPath, 2L)
    pqCompact(e.sparkSession, codesPath)
  }

  /** Build-once aged PQ store shared by q202 (lifecycle probe) and
    * q204 (rebuild source) — the ensureAgedIvfStore discipline for the
    * compressed store. Returns (booksPath, codesPath). */
  private[graft] def ensureAgedPqStore(spark: SparkSession, dir: String,
                                       m: Int, kSub: Int,
                                       trainIters: Int): (String, String) = {
    val root = graft.sources.Sources.ensureStore(spark, "agedpq",
        s"$dir|$m|$kSub|$trainIters") { r =>
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      buildAgedPqStore(e, s"$r/books", s"$r/codes", m, kSub, trainIters)
    }
    (s"$root/books", s"$root/codes")
  }

  def pqLifecycleRecallAudit(spark: SparkSession, dir: String,
                             nQueries: Int = 10, k: Int = 5, m: Int = 8,
                             kSub: Int = 16, trainIters: Int = 2,
                             rerank: Int = 200,
                             floor: Double = 0.4): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (booksPath, codesPath) = ensureAgedPqStore(spark, dir, m, kSub, trainIters)
    val books = loadPqBooks(spark, booksPath)
    val subDim = books(0)(0).length
    val routed = pqTopKOver(e,
      spark.read.parquet(graft.sources.Sources.livePath(spark, codesPath))
        .select(col("vec_id").as("cand_id"), col("codes")),
      books, subDim, nQueries, k, rerank)
    recallAuditOver(ensureExactTopK(spark, dir, nQueries, k), routed, floor)
  }

  // --- Index REBUILD: the capacity-migration verb (q203–q204) -----------
  //
  // q202's measured finding names the remediation — "when the corpus
  // outgrows the frozen books, widen m at the next rebuild" — and the
  // q197 lesson is that a documented mitigation must be CODE, not a
  // comment. Rebuild is that verb: retrain the coordinate system at new
  // capacity over the vectors the old index actually holds (membership
  // comes from the INDEX, not from whatever the vector table has grown
  // to — the index's row set is its contract), re-encode/re-assign every
  // member, and land books+codes at NEW paths. BLUE/GREEN by design:
  // the old index is never touched, so there is no crash window in which
  // probes could mix new books with old codes (the stagedSwap family's
  // one declared window does not exist here) — cutover is the caller
  // flipping a path pointer, rollback is not flipping it. Cost at
  // 100 TB: one bounded retrain + ONE shuffle-free re-encode pass over
  // the corpus — paid per rebuild decision (quarterly, say), not per
  // tick, which is exactly why the lifecycle can afford to keep its
  // codebook frozen the rest of the time.

  private val rebuildSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Rebuild the persisted IVF index at new capacity: retrain on the old
    * index's MEMBER vectors (left-semi against the index's vec_id set),
    * reassign all members, write codebook+index at the new paths. */
  def ivfRebuild(spark: SparkSession, vectors: DataFrame,
                 oldIndexPath: String, newCodebookPath: String,
                 newIndexPath: String, nLists: Int,
                 trainIters: Int = 1): Unit = {
    val members = vectors.join(
      spark.read.parquet(graft.sources.Sources.livePath(spark, oldIndexPath))
        .select(col("vec_id")),
      Seq("vec_id"), "left_semi")
    writeIvfIndex(members, newCodebookPath, newIndexPath, nLists, trainIters)
  }

  /** Rebuild the persisted PQ store at new code resolution: retrain
    * books on the old store's MEMBER vectors, re-encode all members,
    * write books+codes at the new paths. */
  def pqRebuild(spark: SparkSession, vectors: DataFrame,
                oldCodesPath: String, newBooksPath: String,
                newCodesPath: String, m: Int, kSub: Int = 16,
                trainIters: Int = 2): Unit = {
    val members = vectors.join(
      spark.read.parquet(graft.sources.Sources.livePath(spark, oldCodesPath))
        .select(col("vec_id")),
      Seq("vec_id"), "left_semi")
    writePqIndex(members, newBooksPath, newCodesPath, m, kSub, trainIters)
  }

  /** q203 — IVF REBUILD RECALL AUDIT: the aged quarter-trained store
    * (q201's fixture) rebuilt with centroids retrained on the FULL
    * member corpus at DOUBLE the list count (nLists 16→32, the capacity
    * rule nLists ~ sqrt(n)), probed through the REBUILT persisted index
    * at q201's own probe FRACTION (nProbe 16/32 = 8/16 = half the lists,
    * so the recall delta is the rebuild's alone) — floored against q21's
    * exact top-k at 0.6, RAISED from q201's 0.4. What doubling nLists
    * buys at 100 TB is bounded per-list size: list files halve, so probe
    * tasks stay memory-bounded as the corpus grows — the fraction is the
    * knob that stays put, the list count is the one that scales. On the
    * near-uniform fixtures the quarter-fraction probe (nProbe 8/32) was
    * measured UNDER the lifecycle floor (2/5 at sf0.01) — these fixtures
    * have no cluster structure to concentrate neighbors, so reading a
    * smaller fraction costs recall; the honest default keeps the
    * fraction. Measured per-query minima with these defaults
    * (recall-floor sweep, BENCH_NOTES.md): 5/5 (sf0.001), 3/5 (sf0.01), 5/5
    * (sf0.1), 5/5 (sf1 — the rebuilt index is PERFECT on the 10×
    * corpus) — floor 0.6 equals the worst measured query; route
    * deterministic per fixture. */
  def ivfRebuildRecallAudit(spark: SparkSession, dir: String,
                            nQueries: Int = 10, k: Int = 5,
                            oldNLists: Int = 16, newNLists: Int = 32,
                            nProbe: Int = 16,
                            floor: Double = 0.6): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (_, idxPath) = ensureAgedIvfStore(spark, dir, oldNLists)
    // the rebuild itself is the audited verb — per-call paths, in-query
    val seq = rebuildSeq.incrementAndGet()
    val cbPath2 = graft.sources.Sources.scratchDir(spark, s"ivfb_codebook2_$seq")
    val idxPath2 = graft.sources.Sources.scratchDir(spark, s"ivfb_index2_$seq")
    ivfRebuild(spark, e, idxPath, cbPath2, idxPath2, newNLists)
    val routed = ivfProbeIndex(spark, cbPath2, idxPath2,
      e.filter(col("vec_id") < nQueries), k, nProbe)
    recallAuditOver(ensureExactTopK(spark, dir, nQueries, k), routed, floor)
  }

  /** q204 — PQ REBUILD RECALL AUDIT: the aged quarter-trained compressed
    * store (q202's fixture) rebuilt with books retrained on the FULL
    * member corpus at DOUBLE the code resolution (m 8→16 — the lever
    * q202's sf1 measurement identified as binding), ADC+rerank probe
    * through the REBUILT persisted codes with q202's own rerank budget
    * (200 — unchanged, so the recall delta is attributable to the
    * rebuild alone), floored against q21's exact top-k at 0.6 (q202
    * pins 0.4). Measured per-query minima with these defaults
    * (recall-floor sweep, BENCH_NOTES.md): 5/5 (sf0.001), 5/5 (sf0.01), 4/5
    * (sf0.1), 4/5 (sf1 — where the aged books' lifecycle route
    * measured 2/5: the full-corpus m16 retrain is worth two recovered
    * neighbors on the worst query of the 10× corpus) — floor 0.6 sits
    * one missed neighbor below the worst measured query. */
  def pqRebuildRecallAudit(spark: SparkSession, dir: String,
                           nQueries: Int = 10, k: Int = 5,
                           oldM: Int = 8, newM: Int = 16, kSub: Int = 16,
                           trainIters: Int = 2, rerank: Int = 200,
                           floor: Double = 0.6): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (_, codesPath) = ensureAgedPqStore(spark, dir, oldM, kSub, trainIters)
    // the rebuild itself is the audited verb — per-call paths, in-query
    val seq = rebuildSeq.incrementAndGet()
    val booksPath2 = graft.sources.Sources.scratchDir(spark, s"pqb_books2_$seq")
    val codesPath2 = graft.sources.Sources.scratchDir(spark, s"pqb_codes2_$seq")
    pqRebuild(spark, e, codesPath, booksPath2, codesPath2, newM, kSub, trainIters)
    val books = loadPqBooks(spark, booksPath2)
    val subDim = books(0)(0).length
    val routed = pqTopKOver(e,
      spark.read.parquet(codesPath2)
        .select(col("vec_id").as("cand_id"), col("codes")),
      books, subDim, nQueries, k, rerank)
    recallAuditOver(ensureExactTopK(spark, dir, nQueries, k), routed, floor)
  }

  // --- Streaming maintenance for the persisted ANN stores (r17) ---------
  //
  // The streaming-twin discipline already covers the three statistics
  // stores (zone maps, Bloom filters, NDV sketches); these are the same
  // shape for the ANN indexes: each micro-batch is ONE ingest tick keyed
  // by Spark's own batchId, so checkpoint recovery replays a crashed
  // batch into its own ingest_batch partition via dynamic overwrite —
  // identical store state, never a double-append. The codebook/books
  // stay FROZEN (drift is a rebuild decision, q203/q204 — never an
  // ingest side effect), which is what makes the tick replay-idempotent:
  // the same rows always encode to the same codes.

  /** J4 kept live — the streamingNdvMaintenance story for the persisted
    * IVF index: per micro-batch, assign against the persisted codebook
    * and land the batch under `ingest_batch = batchId` (one
    * [[ivfIngestTick]]). The MemoryStream spec pins stream ≡ the batch
    * tick loop and the replay no-op; q228 audits both families
    * end-to-end over a file-source stream. */
  def streamingIvfMaintenance(newVecs: DataFrame, codebookPath: String,
                              indexPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    newVecs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        ivfIngestTick(batch, codebookPath, indexPath, batchId); ()
    }

  /** J9 kept live — the PQ analog: per micro-batch, encode against the
    * persisted books and land under the batch's own partition (one
    * [[pqIngestTick]]). */
  def streamingPqMaintenance(newVecs: DataFrame, booksPath: String,
                             codesPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    newVecs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        pqIngestTick(batch, booksPath, codesPath, batchId)
    }

  /** q228 — STREAMING ANN MAINTENANCE AUDIT: the q94/q118 incremental
    * invariants re-proven with the ticks arriving as a REAL stream (a
    * file source, maxFilesPerTrigger=1 — the micro-batch shape a 100 TB
    * ingest feed has; no driver round-trip of vectors). Per family
    * (IVF, PQ): bootstrap on the settled corpus, stream the new vectors
    * in `nBatches` micro-batches through the maintenance sink, then pin
    *  (a) store ≡ a from-scratch derivation of the whole corpus under
    *      the frozen codebook/books (assign/encode loses nothing), and
    *  (b) REPLAYING a middle micro-batch — same batchId, same rows, the
    *      checkpoint-recovery shape — is a store no-op (the batchId-
    *      keyed dynamic overwrite rewrites, never appends). The replay
    *      rows are recovered from the store itself (IVF keeps the
    *      vectors; PQ joins its batch ids back to the corpus), so the
    *      proof replays exactly what the stream landed, whatever the
    *      file→batch assignment was.
    * The oracle re-derives the settled/new counts and pins the batch
    * count and both zero mismatch counters. PROBE identity is
    * deliberately NOT re-proven here: store row-set equality subsumes it
    * (a probe is a function of the store rows), and the layout-probing
    * story — persisted partitions vs in-memory — is q94/q118's own row;
    * repeating their pqTopKOver legs measured as half this audit's cost
    * for no new claim.
    *
    * Scale: each tick costs O(batch) encode/assign work against a
    * metadata-sized frozen codebook — shuffle-free; the store listing
    * grows one partition per batch until q139/q141 compaction folds it.
    * The exact-compare legs run in the q235/q246 SAMPLED form (the 1/8
    * vec_id key partition — arithmetic, closed under the per-row
    * assign/encode, so every sampled row is oracle-exact; this is the
    * shape the scaladoc always declared for 100 TB, adopted r18), with
    * the replay leg additionally cross-checked by a FULL store row
    * count so a partition-clobbering replay cannot hide outside the
    * sample. */
  def annStreamingMaintenanceAudit(spark: SparkSession, dir: String,
                                   nBatches: Int = 3): DataFrame = {
    require(nBatches >= 2, s"need nBatches >= 2 (a middle batch is replayed); got $nBatches")
    import graft.sources.Sources
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).persist()
    try {
      val isNew = col("vec_id") % 5 === 0
      val settled = e.filter(!isNew)
      // the audit sample: deterministic 1/8 key partition (q235 form) —
      // assign/encode are per-row, so the sampled compare is exact on
      // its subset
      val inSample = pmod(col("vec_id"), lit(8L)) === 0L

      // the two families are fully independent (own stores, own
      // streams, own compare legs), so every family-local phase runs on
      // its own driver thread — concurrent Spark jobs sharing the
      // local[n] cores, the same wall-clock shape a real cluster gives
      // two independent maintenance pipelines

      // the STREAM-INDEPENDENT fixture state — the spooled feed files and
      // both families' bootstrap stores — is a pure function of
      // (dir, nBatches): built once per session; the stores the streams
      // MUTATE (assignments, codes) are cloned per invocation (q239
      // discipline), the read-only halves (feed, codebook, books) read
      // straight from the leaf. Bootstrap training corpora are the 1/8
      // sample (the codebook/books are frozen fixtures here; index
      // QUALITY is q43/q118's row, and the lifecycle claims below are
      // exact under any frozen codebook). Bootstrap verbs stay
      // live-audited by q94/q118; this audit's subject is the STREAMS
      // and replay.
      val boot = Sources.ensureStore(spark, "annboot", s"$dir|$nBatches") {
        root =>
          // one parquet file per tick: the micro-batch grain under
          // maxFilesPerTrigger=1
          for (b <- 0 until nBatches)
            e.filter(pmod(col("vec_id"), lit(5L * nBatches)) === 5L * b)
              .coalesce(1)
              .write.mode(if (b == 0) "overwrite" else "append")
              .parquet(s"$root/feed")
          val trainSet = Some(e.filter(!isNew).filter(inSample))
          graft.DriverLegs.both(spark)(
            writeIvfIndex(e.filter(!isNew), s"$root/ivf_cb", s"$root/ivf_idx",
              trainOn = trainSet),
            writePqIndex(e.filter(!isNew), s"$root/pq_books", s"$root/pq_codes",
              trainIters = 1, trainOn = trainSet))
          ()
      }
      val feed = s"$boot/feed"
      def startStream(writer: DataFrame =>
          org.apache.spark.sql.streaming.DataStreamWriter[
            org.apache.spark.sql.Row])
          : org.apache.spark.sql.streaming.StreamingQuery = {
        val src = spark.readStream.schema(e.schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
        writer(src)
          .option("checkpointLocation", Sources.scratchDirUnique(spark, "annstream_ck"))
          .start()
      }
      def mismatches(a: DataFrame, b: DataFrame): Long =
        symmetricDiffCount(a, b)

      // private working copies of the two MUTATED stores (cloned files,
      // byte-identical bootstrap state); codebook/books read from the leaf
      val cbPath = s"$boot/ivf_cb"
      val booksPath = s"$boot/pq_books"
      val idxPath = Sources.scratchDirUnique(spark, "annstream_ivf") + "/idx"
      val codesPath = Sources.scratchDirUnique(spark, "annstream_pq") + "/codes"
      graft.DriverLegs.both(spark)(
        Sources.cloneStoreDir(spark, s"$boot/ivf_idx", idxPath),
        Sources.cloneStoreDir(spark, s"$boot/pq_codes", codesPath))
      // both maintenance streams run CONCURRENTLY — independent stores,
      // and each stream's micro-batch barriers leave cores idle that
      // the other family's ticks can use
      val qIvf = startStream(streamingIvfMaintenance(_, cbPath, idxPath))
      val qPq = startStream(streamingPqMaintenance(_, booksPath, codesPath))
      try {
        qIvf.processAllAvailable(); qPq.processAllAvailable()
      } finally { qIvf.stop(); qPq.stop() }

      // per-family audit leg: one persisted post-stream read (a
      // partitioned store pays its file listing once, not per action),
      // sampled store-compare, replay of batch 1 from the store's own
      // rows, convergence = sampled row-set + FULL count + a full-store
      // CONTENT aggregate (sum of per-row xxhash64 over batch + key
      // columns, in decimal so warehouse-scale sums can't overflow an
      // ANSI Long): the sample catches in-sample rewrites, the count
      // catches volume changes, and the content sum catches a replay
      // that rewrites rows OUTSIDE the sample while preserving the row
      // count — the gap the r18 advice note flagged
      def familyLeg(storePath: String, cols: Seq[String],
                    derive: DataFrame => DataFrame,
                    replay: DataFrame => Unit): (Long, Long, Long) = {
        def store() = spark.read.parquet(Sources.livePath(spark, storePath))
        def contentSum(df: DataFrame): java.math.BigDecimal = {
          val r = df.agg(coalesce(
            sum(xxhash64((col("ingest_batch") +: cols.map(col)): _*)
              .cast("decimal(38,0)")),
            lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).head()
          r.getDecimal(0)
        }
        val after = store().persist()
        try {
          val batches = after.filter(col("ingest_batch") >= 0L)
            .select(col("ingest_batch")).distinct().count()
          val keyCols = cols.map(col)
          val storeMis = mismatches(
            after.filter(inSample).select(keyCols: _*),
            derive(e.filter(inSample)))
          val rowsPre = after.count()
          val contentPre = contentSum(after)
          val pre = after.filter(inSample)
            .select(col("ingest_batch") +: keyCols: _*)
            .localCheckpoint(true) // sample-sized
          replay(after.filter(col("ingest_batch") === 1L))
          val post = store()
          val replayMis = mismatches(post.filter(inSample)
              .select(col("ingest_batch") +: keyCols: _*), pre) +
            math.abs(post.count() - rowsPre) +
            (if (contentSum(post).compareTo(contentPre) == 0) 0L else 1L)
          (batches, storeMis, replayMis)
        } finally { after.unpersist(); () }
      }
      val cents = loadCentroids(spark, cbPath)
      val books = loadPqBooks(spark, booksPath)
      val subDim = books(0)(0).length
      val (ivfLeg, pqLeg) = graft.DriverLegs.both(spark)(
        familyLeg(idxPath, Seq("vec_id", "list_id"),
          s => ivfAssign(s, cents).select(col("vec_id"), col("list_id")),
          batch1 => { ivfIngestTick(batch1
            .select(col("vec_id"), col("embedding")), cbPath, idxPath, 1L)
            () }),
        // PQ: trainIters=1 — the books are this audit's private
        // fixture; q118 owns the trained-quality story
        familyLeg(codesPath, Seq("vec_id", "codes"),
          s => s.select(col("vec_id"),
            pqEncode(col("embedding"), books, subDim).as("codes")),
          batch1 => pqIngestTick(
            e.join(batch1.select(col("vec_id")), Seq("vec_id"),
              "left_semi"), booksPath, codesPath, 1L)))

      val (nSettled, nNew) = (settled.count(), e.filter(isNew).count())
      import spark.implicits._
      Seq(
        ("ivf", nSettled, nNew, ivfLeg._1, ivfLeg._2, ivfLeg._3),
        ("pq", nSettled, nNew, pqLeg._1, pqLeg._2, pqLeg._3))
        .toDF("family", "n_settled", "n_new", "n_stream_batches",
          "store_mismatches", "replay_mismatches")
    } finally { e.unpersist(); () }
  }
}
