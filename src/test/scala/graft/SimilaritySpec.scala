package graft

import graft.functions.VectorOps
import graft.operators.{Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("codegen'd cosine expression is numerically identical to the HOF form") {
    val e = Tables.embeddings(spark, TestSpark.Sf0001).limit(30)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val diffs = a.join(b, col("id_a") < col("id_b"))
      .select(abs(VectorOps.cosineFast(col("va"), col("vb"))
        - VectorOps.cosine(col("va"), col("vb"))).as("d"))
      .agg(max(col("d"))).as[Double].head()
    assert(diffs == 0.0, s"max |cosineFast - cosine| = $diffs")
  }

  test("cosine expression survives interpreted (non-codegen) evaluation too") {
    // identical vectors → cosine exactly 1 (also exercises nullSafeEval via
    // a literal-only projection the optimizer constant-folds)
    val v = Array(1.0f, 2.0f, 3.0f)
    val d = Seq((v, v)).toDF("a", "b")
      .select(VectorOps.cosineFast(col("a"), col("b")).as("c")).as[Double].head()
    assert(math.abs(d - 1.0) < 1e-15)
  }

  /** ANN recall against the exact top-k — the spec q22 is verified by
    * (banded hyperplane LSH is unreproducible in the DuckDB oracle). The
    * floor is deliberate: 16-bit/4-band LSH trades recall for pruning; the
    * spec pins the trade-off so a regression (e.g. a broken band join)
    * fails loudly while normal hash drift does not.
    */
  test("ANN top-k recall vs exact cosine top-k") {
    val exact = Similarity.cosineTopK(spark, TestSpark.Sf0001)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annCosineTopK(spark, TestSpark.Sf0001)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.7, s"ANN recall $recall below floor 0.7 (|exact|=${exact.size})")
  }

  test("cosine_f32 and hyperplane_sig are registered as SQL functions via GraftExtensions") {
    Tables.embeddings(spark, TestSpark.Sf0001).createOrReplaceTempView("emb_ext_test")
    val d = spark.sql(
      "SELECT cosine_f32(embedding, embedding) AS c FROM emb_ext_test ORDER BY vec_id LIMIT 1")
      .as[Double].head()
    assert(math.abs(d - 1.0) < 1e-12)
    val (sqlSig, dfSig) = spark.sql(
      "SELECT hyperplane_sig(embedding, 16) AS s FROM emb_ext_test ORDER BY vec_id LIMIT 1")
      .as[Long].head() ->
      Tables.embeddings(spark, TestSpark.Sf0001).orderBy(col("vec_id")).limit(1)
        .select(VectorOps.hyperplaneSignature(col("embedding"), 16)).as[Long].head()
    assert(sqlSig == dfSig, "SQL and DataFrame front doors must share one implementation")
  }

  test("q79 SQL-expressed top-k equals the Column form row for row") {
    val viaSql = Similarity.cosineTopKViaSql(spark, TestSpark.Sf0001)
      .as[(Long, Int, Long, Double)].collect().toSet
    val viaCols = Similarity.cosineTopK(spark, TestSpark.Sf0001)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(viaSql == viaCols)
    // the SQL text must reach the same native kernel, not a fallback —
    // read the FINAL adaptive plan (pre-materialization the join subtree
    // hides inside unresolved AQE stages)
    val df = Similarity.cosineTopKViaSql(spark, TestSpark.Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    assert(plan.contains("cosine_f32"), s"native expression missing:\n$plan")
    // the <> condition is non-equi, so the broadcast is a BNLJ — the same
    // shape as the Column form's broadcast(queries)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"SQL hint must broadcast the query side:\n$plan")
  }

  test("invalid LSH/IVF parameters fail fast with a clear message") {
    val e1 = intercept[IllegalArgumentException] {
      Similarity.annCosineTopK(spark, TestSpark.Sf0001, nBits = 65)
    }
    assert(e1.getMessage.contains("nBits"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfCosineTopK(spark, TestSpark.Sf0001, nLists = 4, nProbe = 8)
    }
    assert(e2.getMessage.contains("nProbe"))
    val e3 = intercept[IllegalArgumentException] {
      graft.operators.Dedup.minhashLshPairsFor(
        Tables.documents(spark, TestSpark.Sf0001), k = 100, bands = 32)
    }
    assert(e3.getMessage.contains("bands"))
  }

  test("IVF top-k recall vs exact cosine top-k") {
    val exact = Similarity.cosineTopK(spark, TestSpark.Sf0001)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfCosineTopK(spark, TestSpark.Sf0001)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    // measured 0.90-0.94 at both fixture scales with the default
    // 16-list/4-probe/1-train-iter config; the floor leaves headroom for
    // centroid drift
    assert(recall >= 0.8, s"IVF recall $recall below floor 0.8 (|exact|=${exact.size})")
  }

  test("Lloyd's training keeps every list nonempty and bounds occupancy skew") {
    val e = Tables.embeddings(spark, TestSpark.Sf0001)
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.trainCentroids(e, nLists = 16, iters = 1)
    assert(cents.length == 16 && cents.forall(_.nonEmpty))
    val sizes = Similarity.ivfAssign(e, cents)
      .groupBy(col("list_id")).count()
      .select(col("count")).as[Long].collect()
    assert(sizes.length == 16, s"expected 16 nonempty lists, got ${sizes.length}")
    val meanSz = sizes.sum.toDouble / sizes.length
    // trained codebook on the fixtures measures max/mean ≈ 1.18-1.28; the
    // bound catches a broken trainer (collapsed lists → unbounded probes)
    assert(sizes.max / meanSz <= 2.0,
      s"list occupancy skew ${sizes.max / meanSz} exceeds 2.0 (sizes=${sizes.sorted.mkString(",")})")
  }

  test("trainCentroids seeds deterministically on sparse/offset id spaces") {
    val dense = Tables.embeddings(spark, TestSpark.Sf0001)
      .select(col("vec_id"), col("embedding"))
    // same vectors under a sparse, offset id space (order-preserving map):
    // the seed contract is "the nLists lowest-id vectors", not "ids 0..n"
    val sparse = Tables.embeddings(spark, TestSpark.Sf0001)
      .select((col("vec_id") * 1000 + 5000).as("vec_id"), col("embedding"))
    val fromDense = Similarity.trainCentroids(dense, nLists = 8, iters = 0)
    val fromSparse = Similarity.trainCentroids(sparse, nLists = 8, iters = 0)
    assert(fromSparse.length == 8)
    assert(fromSparse.map(_.toVector).toVector == fromDense.map(_.toVector).toVector,
      "offset ids must seed the same codebook as dense ids")
    // a corpus smaller than nLists must fail fast, not yield a short
    // codebook that corrupts every downstream assignment
    val err = intercept[IllegalArgumentException] {
      Similarity.trainCentroids(dense.limit(3), nLists = 8, iters = 0)
    }
    assert(err.getMessage.contains("nLists"))
  }

  test("IVF codebook persists: save/load round-trips exactly and serves queries unretrained") {
    val e = Tables.embeddings(spark, TestSpark.Sf0001)
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.trainCentroids(e, nLists = 16, iters = 1)
    val path = graft.sources.Sources.scratchDir(spark, "ivf_codebook")
    Similarity.saveCentroids(spark, cents, path)
    val loaded = Similarity.loadCentroids(spark, path)
    assert(loaded.length == cents.length
      && loaded.zip(cents).forall { case (a, b) => a.sameElements(b) },
      "centroids must round-trip bit-exactly (float parquet is lossless)")
    // a query session holding only the persisted codebook must produce the
    // same ranking as one that trained it (training is deterministic, so
    // ivfCosineTopK's own codebook is the same one)
    val viaLoaded = Similarity.ivfCosineTopKWith(spark, TestSpark.Sf0001, loaded)
    val viaTrained = Similarity.ivfCosineTopK(spark, TestSpark.Sf0001)
    assert(viaLoaded.exceptAll(viaTrained).count() == 0)
    assert(viaTrained.exceptAll(viaLoaded).count() == 0)
  }

  test("q94 incremental IVF: persisted-index probe over the union keeps the q43 recall bar") {
    val e = Tables.embeddings(spark, TestSpark.Sf0001)
      .select(col("vec_id"), col("embedding"))
    val isNew = col("vec_id") % 5 === 0
    val cbPath = graft.sources.Sources.scratchDir(spark, "spec_ivf_cb")
    val idxPath = graft.sources.Sources.scratchDir(spark, "spec_ivf_idx")
    Similarity.writeIvfIndex(e.filter(!isNew), cbPath, idxPath, nLists = 16)
    Similarity.ivfIngestTick(e.filter(isNew), cbPath, idxPath)
    // the persisted index now covers the UNION; its probe must keep the
    // same recall bar the in-memory form is held to (q43's spec), even
    // though the codebook saw only the settled 80% at training time
    val exact = Similarity.cosineTopK(spark, TestSpark.Sf0001)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val fromIndex = Similarity.ivfProbeIndex(spark, cbPath, idxPath,
      e.filter(col("vec_id") < 10), k = 5, nProbe = 4)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = (exact & fromIndex).size.toDouble / exact.size
    assert(recall >= 0.8, s"persisted-index recall $recall below floor 0.8")
    // the tick appended exactly the new vectors, each to exactly one list
    val counts = spark.read.parquet(idxPath).groupBy(col("vec_id")).count()
      .select(col("count")).as[Long].collect()
    assert(counts.length == e.count() && counts.forall(_ == 1L),
      "every union vector must sit in exactly one list partition")
  }

  test("q94 bootstrap: nLists A, then B, then A leaves an A-list codebook for the third call") {
    val (a, b) = (8, 4)
    Seq(a, b, a).foreach { nLists =>
      val r = Similarity.ivfIncrementalInvariant(spark, TestSpark.Sf0001, nLists = nLists).head()
      assert(r.getAs[Long]("assign_mismatches") == 0L && r.getAs[Long]("probe_mismatches") == 0L,
        s"nLists=$nLists: $r")
    }
    // the third call's memo hit vouches for the A build: its codebook must
    // still hold A lists, not the B codebook the second call wrote
    val root = Similarity.ivfBootRoot(spark, TestSpark.Sf0001, a)
    assert(Similarity.loadCentroids(spark, s"$root/cb").length == a)
  }

  test("IVF partitions the corpus: every vector lands in exactly one list") {
    // k > corpus size forces every probed vector to surface, so a vector
    // assigned to 0 or 2 lists would show up as a missing/duplicate cand
    val full = Similarity.ivfCosineTopK(spark, TestSpark.Sf0001,
      nQueries = 1, k = Int.MaxValue, nLists = 8, nProbe = 8)
    val cands = full.select("cand_id").as[Long].collect()
    assert(cands.length == cands.distinct.length)
    val n = Tables.embeddings(spark, TestSpark.Sf0001).count()
    assert(cands.length == n - 1) // everything except the query itself
  }

  test("broadcast-codebook IVF equals the literal form and routes past the threshold") {
    val rnd = new scala.util.Random(5)
    val dim = 8
    def vec() = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
    val e = (0L until 200L).map(i => (i, vec().toSeq)).toDF("vec_id", "embedding")
    val big = Array.fill(300)(vec()) // past LiteralCodebookMaxLists
    val small = big.take(40)
    // the two assignment forms agree exactly (same kernel, same argmax
    // total order) on a codebook both can express
    val viaLiteral = Similarity.ivfAssign(e, small)
      .select("vec_id", "list_id").as[(Long, Long)].collect().toMap
    val viaBroadcast = Similarity
      .ivfAssignBroadcast(e, Similarity.centroidsToDF(spark, small))
      .select("vec_id", "list_id").as[(Long, Long)].collect().toMap
    assert(viaBroadcast == viaLiteral)
    // ...and so does the full probe pipeline, forced into either form
    val topLit = Similarity
      .ivfCosineTopKOver(e, small, nQueries = 10, k = 5, nProbe = 4,
        broadcastCodebook = false).collect().toSet
    val topBc = Similarity
      .ivfCosineTopKOver(e, small, nQueries = 10, k = 5, nProbe = 4,
        broadcastCodebook = true).collect().toSet
    assert(topBc == topLit)
    // route pin: past the threshold the codebook is DATA behind a
    // broadcast join; at or below it the plan is a joinless projection
    val bigPlan = Similarity.ivfAssign(e, big)
      .queryExecution.executedPlan.toString
    assert(bigPlan.contains("BroadcastNestedLoopJoin"), bigPlan.take(500))
    val smallPlan = Similarity.ivfAssign(e, small)
      .queryExecution.executedPlan.toString
    assert(!smallPlan.contains("Join"), smallPlan.take(500))
    // the routed large-codebook path executes end to end
    assert(Similarity.ivfAssign(e, big).count() == 200)
  }

  test("ANN candidate scores match exact scores for returned pairs") {
    val exact = Similarity.cosineTopK(spark, TestSpark.Sf0001, nQueries = 5, k = 10)
      .select(col("query_id"), col("cand_id"), col("score"))
      .withColumnRenamed("score", "exact_score")
    val ann = Similarity.annCosineTopK(spark, TestSpark.Sf0001, nQueries = 5, k = 10)
    val bad = ann.join(exact, Seq("query_id", "cand_id"))
      .filter(col("score") =!= col("exact_score")).count()
    assert(bad == 0)
  }

  test("q116 PQ-ADC top-k recall vs exact; codes are well-formed; scores exact") {
    val exact = Similarity.cosineTopK(spark, TestSpark.Sf0001)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val pqDf = Similarity.pqCosineTopK(spark, TestSpark.Sf0001)
    val pq = pqDf.select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.8, s"PQ recall $recall below floor 0.8 (|exact|=${exact.size})")
    // survivors' scores are the EXACT cosine (the re-rank contract): any
    // returned (query, cand) pair agrees with the exact scorer to the digit
    val exactScores = Similarity.cosineTopK(spark, TestSpark.Sf0001, k = 499)
      .select(col("query_id"), col("cand_id"), col("score").as("exact_score"))
    val bad = pqDf.join(exactScores, Seq("query_id", "cand_id"))
      .filter(col("score") =!= col("exact_score")).count()
    assert(bad == 0, "re-ranked scores must be exact cosines")
    // encoding: m codes per vector, every code in [0, kSub)
    val e = Tables.embeddings(spark, TestSpark.Sf0001)
      .select(col("vec_id"), col("embedding"))
    val books = Similarity.trainPqBooks(e, m = 8, kSub = 16, iters = 1)
    assert(books.length == 8 && books.forall(_.length == 16)
      && books.forall(_.forall(_.length == 8)))
    val codes = e.select(Similarity.pqEncode(col("embedding"), books, 8).as("c"))
      .as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    // the compression claim: ≥2 distinct codes per subspace at fixture
    // scale (a collapsed book would make ADC vacuous)
    (0 until 8).foreach { mi =>
      assert(codes.map(_(mi)).distinct.length >= 2, s"subspace $mi collapsed")
    }
  }

  test("q118 persisted PQ index: books round-trip; tick codes and probes lose nothing") {
    val row = Similarity.pqIncrementalInvariant(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Long)].head()
    val (nSettled, nNew, codeMm, probeMm) = row
    assert(nSettled > 0 && nNew > 0, s"fixture split degenerate: $row")
    assert(codeMm == 0, s"persisted codes diverge from from-scratch encode: $codeMm")
    assert(probeMm == 0, s"persisted-codes probe diverges from in-memory: $probeMm")
    // save/load round-trips the books bit for bit
    val e = Tables.embeddings(spark, TestSpark.Sf0001)
      .select(col("vec_id"), col("embedding"))
    val books = Similarity.trainPqBooks(e, m = 8, kSub = 16, iters = 1)
    val path = graft.sources.Sources.scratchDir(spark, "pq_books_roundtrip")
    Similarity.savePqBooks(spark, books, path)
    val loaded = Similarity.loadPqBooks(spark, path)
    assert(loaded.map(_.map(_.toVector).toVector).toVector ==
      books.map(_.map(_.toVector).toVector).toVector)
  }

  test("ANN router: route choice is pinned and every route keeps one output contract") {
    // the route decision, pinned pure (no index build): compressed store
    // always wins; otherwise the size threshold splits lsh/ivf
    assert(Similarity.annRoute(100L, 1000L, compressedStore = false) == "lsh")
    assert(Similarity.annRoute(1000L, 1000L, compressedStore = false) == "lsh")
    assert(Similarity.annRoute(1001L, 1000L, compressedStore = false) == "ivf")
    assert(Similarity.annRoute(100L, 1000L, compressedStore = true) == "pq")
    assert(Similarity.annRoute(1L << 40, 1000L, compressedStore = true) == "pq")
    // drive all three routes on the fixture (forcing ivf via a tiny
    // threshold) and pin the shared contract: same schema, k rows per
    // query, rank a 1..k permutation, scores nonincreasing in rank
    val routes = Seq(
      Similarity.annTopK(spark, TestSpark.Sf0001),                      // lsh
      Similarity.annTopK(spark, TestSpark.Sf0001, lshMaxRows = 1L),     // ivf
      Similarity.annTopK(spark, TestSpark.Sf0001, compressedStore = true)) // pq
    routes.foreach { df =>
      assert(df.columns.toSeq == Seq("query_id", "rank", "cand_id", "score"))
      val rows = df.as[(Long, Long, Long, Double)].collect()
      val byQuery = rows.groupBy(_._1)
      assert(byQuery.size == 10)
      byQuery.foreach { case (q, rs) =>
        assert(rs.map(_._2).sorted.toSeq == (1L to 5L), s"query $q ranks")
        val inRank = rs.sortBy(_._2).map(_._4)
        assert(inRank.zip(inRank.tail).forall { case (a, b) => a >= b },
          s"query $q scores not nonincreasing in rank")
      }
    }
  }

  test("q145 route invariant: decision rows recomputable, dispatch violations 0") {
    val rows = Similarity.annRouteInvariant(spark, TestSpark.Sf0001)
      .as[(String, Long, Boolean, Long, String, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows.keySet == Set("default", "small_cap", "compressed"))
    val n = rows("default")._4
    assert(n > 0 && rows.values.forall(_._4 == n), "one corpus count")
    assert(rows("default")._5 == (if (n <= 1000000L) "lsh" else "ivf"))
    assert(rows("small_cap")._5 == (if (n <= 10L) "lsh" else "ivf"))
    assert(rows("compressed")._5 == "pq")
    assert(rows.values.forall(_._6 == 0L),
      "router dispatch must return exactly the direct route's rows")
  }

  test("q128 hybrid RRF equals a driver-side fusion of the two pinned rankings") {
    val dir = TestSpark.Sf0001
    val (nQ, depth, k, rrfK) = (5, 20, 10, 60)
    val lex = TextAnalysis.bm25TopK(spark, dir, nQ, depth)
      .select(col("query_id"), col("cand_id"), col("rank"))
      .as[(Long, Long, Long)].collect()
      .map { case (q, c, r) => (q, c) -> r }.toMap
    val dense = Similarity.cosineTopK(spark, dir, nQ, depth)
      .select(col("query_id"), col("cand_id"), col("rank").cast("long"))
      .as[(Long, Long, Long)].collect()
      .map { case (q, c, r) => (q, c) -> r }.toMap
    assert(lex.nonEmpty && dense.nonEmpty)
    // union semantics: every candidate either retriever surfaced, one RRF
    // term per side it appears on, HALF_UP 6dp like the engine's round
    val expected = (lex.keySet ++ dense.keySet).groupBy(_._1).flatMap {
      case (q, keys) =>
        keys.toSeq.map { key =>
          val rrf = lex.get(key).map(r => 1.0 / (rrfK + r)).getOrElse(0.0) +
            dense.get(key).map(r => 1.0 / (rrfK + r)).getOrElse(0.0)
          (key._2, BigDecimal(rrf).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.sortBy { case (c, s) => (-s, c) }.take(k).zipWithIndex.map {
          case ((c, s), i) => (q, (i + 1).toLong, c, s)
        }
    }.toSet
    val got = Similarity.hybridRrfTopK(spark, dir, nQ, depth, k, rrfK)
      .select(col("query_id"), col("rank"), col("cand_id"), col("rrf"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == expected)
    // a candidate surfaced by both retrievers carries both source ranks
    val both = Similarity.hybridRrfTopK(spark, dir, nQ, depth, k, rrfK)
      .filter(col("lex_rank").isNotNull && col("vec_rank").isNotNull)
    assert(both.count() > 0, "fixture should fuse at least one overlap")
  }

  test("q139 IVF compaction: invariant row green; one file per list after the fold") {
    val dir = TestSpark.Sf0001
    val inv = Similarity.ivfCompactionInvariant(spark, dir)
      .as[(Long, Long, Long, Long, Long)].head()
    val nVecs = graft.Tables.embeddings(spark, dir).count()
    assert(inv == ((nVecs, 4L, 1L, 0L, 0L)))
    // layout claim: the fold leaves one data file per list partition —
    // at the LIVE generation (the blue/green swap moved the store)
    val rawPath = graft.sources.Sources.scratchDir(spark,
      "ivfc_index_" + graft.sources.Sources.dirTag(dir))
    val live = graft.sources.Sources.livePath(spark, rawPath)
    assert(live != rawPath, "compaction must flip the generation pointer")
    val idxPath = new java.io.File(live)
    val settled = new java.io.File(idxPath, "ingest_batch=-1")
    assert(settled.isDirectory, "settled partition must exist after compaction")
    val listDirs = settled.listFiles().filter(_.isDirectory)
    assert(listDirs.nonEmpty)
    listDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName} should hold one file, has ${files.length}")
    }
    // no stray per-tick partitions survive
    assert(idxPath.listFiles().filter(_.isDirectory).map(_.getName).toSet
      == Set("ingest_batch=-1"))
  }

  test("q143 embedding drift matches a driver-side recompute; overlap keeps drift small") {
    val dir = TestSpark.Sf0001
    val vecs = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dims = vecs.head._2.length
    def stats(pred: Long => Boolean) = (0 until dims).map { d =>
      val xs = vecs.filter(v => pred(v._1)).map(_._2(d))
      val mean = xs.sum / xs.length
      val m2 = xs.map(x => x * x).sum / xs.length
      (mean, m2 - mean * mean)
    }
    val s1 = stats(_ % 5 != 0); val s2 = stats(_ % 3 != 0)
    val got = Similarity.embeddingDriftReport(spark, dir)
      .as[(Long, Double, Double, Double, Double)].collect().sortBy(_._1)
    assert(got.length == dims)
    got.foreach { g =>
      val d = g._1.toInt
      assert(math.abs(g._2 - r6(s1(d)._1)) <= 1e-6, s"dim $d mean1")
      assert(math.abs(g._3 - r6(s2(d)._1)) <= 1e-6, s"dim $d mean2")
      assert(math.abs(g._4 - r6(math.abs(s1(d)._1 - s2(d)._1))) <= 1e-6, s"dim $d delta")
      assert(math.abs(g._5 - r6(math.sqrt(s2(d)._2) / math.sqrt(s1(d)._2))) <= 1e-6,
        s"dim $d spread")
      // the snapshots share ~70% of rows, so drift must be small but real
      assert(g._5 > 0.5 && g._5 < 2.0, s"dim $d spread sanity")
    }
    assert(got.exists(_._4 > 0.0), "some dimension should show nonzero drift")
  }

  test("q141 PQ codes compaction: invariant green; store folds to the settled partition") {
    val dir = TestSpark.Sf0001
    val inv = Similarity.pqCompactionInvariant(spark, dir)
      .as[(Long, Long, Long, Long, Long)].head()
    val nVecs = graft.Tables.embeddings(spark, dir).count()
    assert(inv == ((nVecs, 4L, 1L, 0L, 0L)))
    val codesPath = new java.io.File(graft.sources.Sources.livePath(spark,
      graft.sources.Sources.scratchDir(spark,
        "pqc_codes_" + graft.sources.Sources.dirTag(dir))))
    assert(codesPath.listFiles().filter(_.isDirectory).map(_.getName).toSet
      == Set("ingest_batch=-1"))
  }

  test("q137 matryoshka audit matches a driver-side truncated-cosine recompute") {
    val dir = TestSpark.Sf0001
    val (nQ, depth) = (5, 20)
    val vecs = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    def cos(a: Array[Double], b: Array[Double], m: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < m) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val pairs = Similarity.cosineTopK(spark, dir, nQ, depth)
      .select(col("query_id"), col("cand_id")).as[(Long, Long)].collect()
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dims = vecs.head._2.length
    val want = Seq(8, 16, 32).map { m =>
      val ds = pairs.map { case (q, c) =>
        math.abs(cos(vecs(q), vecs(c), dims) - cos(vecs(q), vecs(c), m))
      }
      (m.toLong, pairs.length.toLong, r6(ds.sum / ds.length), r6(ds.max))
    }
    val got = Similarity.matryoshkaAudit(spark, dir, nQ, depth)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2, s"m=${w._1} shape")
      assert(math.abs(g._3 - w._3) <= 1e-6, s"m=${w._1} mean")
      assert(math.abs(g._4 - w._4) <= 1e-6, s"m=${w._1} max")
      assert(g._4 > 0.0, s"m=${w._1} truncation must be lossy on real data")
    }
  }

  test("q131 SQ8 audit matches a driver-side quantizer; error bounded by half a step") {
    val dir = TestSpark.Sf0001
    val vecs = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val dims = vecs.head._2.length
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = (0 until dims).map { d =>
      val xs = vecs.map(_._2(d).toDouble)
      val (lo, hi) = (xs.min, xs.max)
      val errs = xs.map { x =>
        val code = if (hi == lo) 0.0
          else math.min(255.0, math.floor((x - lo) * 255.0 / (hi - lo) + 0.5))
        math.abs(x - (lo + code * (hi - lo) / 255.0))
      }
      (d.toLong, r6(lo), r6(hi), r6(errs.sum / errs.length), r6(errs.max))
    }
    val got = Similarity.sq8QuantizationAudit(spark, dir)
      .as[(Long, Double, Double, Double, Double)].collect().sortBy(_._1)
    assert(got.length == dims)
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2 && g._3 == w._3, s"dim ${w._1} range")
      // the means may differ by summation order at the last ulp
      assert(math.abs(g._4 - w._4) <= 1e-6, s"dim ${w._1} mean err")
      assert(g._5 == w._5, s"dim ${w._1} max err")
      // round-to-nearest-level error is bounded by half a level step
      val halfStep = (g._3 - g._2) / 255.0 / 2.0
      assert(g._5 <= halfStep + 1e-6, s"dim ${w._1} bound")
      assert(g._5 > 0.0, s"dim ${w._1} should quantize lossily on real data")
    }
  }

  test("q152 knn label audit: reduction matches hand counts; clustered space is pure and reciprocal") {
    // reduction contract on a hand-built edge list:
    // label 0 owns queries 1,2 — edges (1→2) recip, (1→3) not, (2→1) recip;
    // same-label hits are (1→2) and (2→1)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L)).toDF("query_id", "cand_id")
    val labels = Seq((1L, 0), (2L, 0), (3L, 1)).toDF("vec_id", "label")
    val red = Similarity.knnLabelAuditOver(edges, labels)
      .as[(Int, Long, Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, (r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    assert(red.keySet == Set(0), "labels with no outgoing edges emit no row")
    assert(red(0) == ((2L, 3L, 2L, 2L, 0.666667, 0.666667)), s"got ${red(0)}")

    // two orthogonal 6-vector clusters, label == cluster: with k=5 every
    // neighbor list is exactly the rest of the OWN cluster, so purity and
    // reciprocity must both be 1.0 for both labels
    val dim = 64
    def vec(axis: Int, jitterDim: Int, eps: Float): Array[Float] = {
      val a = Array.fill(dim)(0.0f); a(axis) = 1.0f; a(jitterDim) = eps; a
    }
    val vecs = (0 until 6).map(i => (i.toLong, vec(0, 10 + i, 0.01f * (i + 1)), 7)) ++
      (0 until 6).map(i => (100L + i, vec(2, 20 + i, 0.01f * (i + 1)), 9))
    val dir = java.nio.file.Files.createTempDirectory("graft_knn_audit").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val audit = Similarity.knnLabelAudit(spark, dir, k = 5)
      .as[(Int, Long, Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, (r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    assert(audit.keySet == Set(7, 9))
    Seq(7, 9).foreach { lbl =>
      assert(audit(lbl) == ((6L, 30L, 30L, 30L, 1.0, 1.0)), s"label $lbl: ${audit(lbl)}")
    }
  }

  test("q157 mislabel candidates: the one flipped label is flagged, its cluster-mates are not") {
    val dim = 64
    def vec(axis: Int, jitterDim: Int, eps: Float): Array[Float] = {
      val a = Array.fill(dim)(0.0f); a(axis) = 1.0f; a(jitterDim) = eps; a
    }
    // two orthogonal 6-vector clusters; vec 3 carries the WRONG label 9 —
    // its 5 neighbors (own cluster) all vote 7, a strict majority against
    val vecs = (0 until 6).map { i =>
      (i.toLong, vec(0, 10 + i, 0.01f * (i + 1)), if (i == 3) 9 else 7)
    } ++ (0 until 6).map(i => (100L + i, vec(2, 20 + i, 0.01f * (i + 1)), 9))
    val dir = java.nio.file.Files.createTempDirectory("graft_knn_mislabel").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.knnMislabelCandidates(spark, dir, k = 5)
      .as[(Long, Int, Int, Long, Boolean)].collect()
      .map(r => (r._1, (r._2, r._3, r._4, r._5))).toMap
    assert(got.size == 12)
    assert(got(3L) == ((9, 7, 5L, true)), s"flipped vec: ${got(3L)}")
    got.filter(_._1 != 3L).foreach { case (id, (lbl, maj, _, fl)) =>
      assert(!fl, s"vec $id wrongly flagged")
      assert(maj == lbl || id < 100L,
        s"vec $id majority $maj vs label $lbl") // cluster A voters see one 9
    }
  }

  test("knn edge router: above the cap the IVF route keeps the contract and measured recall") {
    val e = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val exact = Similarity.knnEdgesRouted(e, k = 5, exactCap = 100000L)
      .as[(Long, Long)].collect().toSet
    // default nProbe = 32 ≥ the fixture's 16 lists → every list probed →
    // the routed edge set EQUALS the exact graph (the small-corpus
    // degenerate case the scaladoc promises)
    val routedFull = Similarity.knnEdgesRouted(e, k = 5, exactCap = 100L)
      .as[(Long, Long)].collect()
    val byQuery = routedFull.groupBy(_._1)
    assert(byQuery.size == e.count())
    assert(byQuery.values.forall(_.length <= 5))
    assert(routedFull.forall { case (q, c) => q != c })
    assert(routedFull.toSet == exact,
      s"nProbe >= nLists must reproduce the exact edge set; " +
        s"missing=${(exact -- routedFull).size} extra=${(routedFull.toSet -- exact).size}")
    // partial probing (8 of the fixture's 16 lists): recall floor from
    // the round-12 k-NN recall measurement (BENCH_NOTES.md) — 0.74 measured on this
    // corpus, 0.65 at the production nProbe=32 on a worst-case
    // (clusterless) 20k corpus; 0.6 is the audit-semantics floor with
    // measured margin on both
    val routedHalf = Similarity.knnEdgesRouted(e, k = 5, exactCap = 100L, nProbe = 8)
      .as[(Long, Long)].collect()
    val recall = routedHalf.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.6, s"IVF edge recall $recall at nProbe=8/16 lists")
  }

  test("shared kNN edge leaf equals the direct routed derivation (pure function of its key)") {
    val direct = Similarity.knnEdgesRouted(
      graft.Tables.embeddings(spark, TestSpark.Sf0001), k = 5,
      exactCap = 10000L).as[(Long, Long)].collect().toSet
    val leaf = Similarity.ensureKnnEdges(spark, TestSpark.Sf0001,
      k = 5, exactCap = 10000L).as[(Long, Long)].collect().toSet
    assert(leaf == direct && leaf.nonEmpty,
      s"kNN edge leaf diverged: ${leaf.size} vs ${direct.size}")
  }

  test("q159 ranking agreement matches a driver-side recompute from the two legs") {
    val depth = 20
    val lex = TextAnalysis.bm25TopK(spark, TestSpark.Sf0001, 5, depth)
      .select(col("query_id"), col("cand_id"), col("rank"))
      .as[(Long, Long, Long)].collect()
    val dense = Similarity.cosineTopK(spark, TestSpark.Sf0001, 5, depth)
      .select(col("query_id"), col("cand_id"), col("rank").cast("long"))
      .as[(Long, Long, Long)].collect()
    val denseRank = dense.map(r => ((r._1, r._2), r._3)).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Similarity.rankingAgreementAudit(spark, TestSpark.Sf0001)
      .as[(Long, Long, Double, Long, Double)].collect()
      .map(r => (r._1, (r._2, r._3, r._4, r._5))).toMap
    val queries = lex.map(_._1).distinct
    assert(got.keySet == queries.toSet)
    queries.foreach { q =>
      val mine = lex.filter(_._1 == q)
      val ov = mine.flatMap(l => denseRank.get((q, l._2)).map(v => (l._3, v)))
      val top1 = mine.find(_._3 == 1L).get
      val rr = denseRank.get((q, top1._2)).map(1.0 / _).getOrElse(0.0)
      assert(got(q) == ((ov.length.toLong, r6(ov.length.toDouble / depth),
        ov.map(p => math.abs(p._1 - p._2)).sum, r6(rr))), s"query $q: ${got(q)}")
    }
  }

  test("q198-q200 routed-recall audits: every query clears its floor at both fixture scales") {
    for (dir <- Seq(TestSpark.Sf0001, "/root/testdata/sf0.01");
         (name, audit) <- Seq[(String, String => org.apache.spark.sql.DataFrame)](
           ("ivf", d => Similarity.ivfRecallAudit(spark, d)),
           ("pq", d => Similarity.pqRecallAudit(spark, d)),
           ("lsh", d => Similarity.annRecallAudit(spark, d)))) {
      val rows = audit(dir).as[(Long, Long, Boolean)].collect()
      assert(rows.length == 10, s"$name@$dir: ${rows.length} queries")
      assert(rows.forall(_._2 == 5L), s"$name@$dir: n_exact != k")
      val bad = rows.filterNot(_._3)
      assert(bad.isEmpty, s"$name@$dir floor violations: ${bad.mkString(",")}")
    }
  }

  test("q201-q202 lifecycle recall audits: every query clears its floor at both fixture scales") {
    for (dir <- Seq(TestSpark.Sf0001, "/root/testdata/sf0.01");
         (name, audit) <- Seq[(String, String => org.apache.spark.sql.DataFrame)](
           ("ivf-lifecycle", d => Similarity.ivfLifecycleRecallAudit(spark, d)),
           ("pq-lifecycle", d => Similarity.pqLifecycleRecallAudit(spark, d)))) {
      val rows = audit(dir).as[(Long, Long, Boolean)].collect()
      assert(rows.length == 10, s"$name@$dir: ${rows.length} queries")
      assert(rows.forall(_._2 == 5L), s"$name@$dir: n_exact != k")
      val bad = rows.filterNot(_._3)
      assert(bad.isEmpty, s"$name@$dir floor violations: ${bad.mkString(",")}")
    }
  }

  test("lifecycle recall audit is computed, not vacuous: an unreachable floor flips it false") {
    val rows = Similarity.ivfLifecycleRecallAudit(spark, TestSpark.Sf0001, floor = 1.0)
      .as[(Long, Long, Boolean)].collect()
    assert(rows.exists(!_._3),
      s"floor=1.0 produced no violations — flag looks vacuous: ${rows.mkString(",")}")
  }

  test("q203-q204 rebuild recall audits: every query clears the RAISED floor at both fixture scales") {
    for (dir <- Seq(TestSpark.Sf0001, "/root/testdata/sf0.01");
         (name, audit) <- Seq[(String, String => org.apache.spark.sql.DataFrame)](
           ("ivf-rebuild", d => Similarity.ivfRebuildRecallAudit(spark, d)),
           ("pq-rebuild", d => Similarity.pqRebuildRecallAudit(spark, d)))) {
      val rows = audit(dir).as[(Long, Long, Boolean)].collect()
      assert(rows.length == 10, s"$name@$dir: ${rows.length} queries")
      assert(rows.forall(_._2 == 5L), s"$name@$dir: n_exact != k")
      val bad = rows.filterNot(_._3)
      assert(bad.isEmpty, s"$name@$dir floor violations: ${bad.mkString(",")}")
    }
  }

  test("rebuild is blue/green and member-scoped: old store untouched, extra vectors excluded") {
    import org.apache.spark.sql.functions._
    val dir = TestSpark.Sf0001
    val e = graft.Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val hex = graft.sources.Sources.dirTag(dir)
    val cbOld = graft.sources.Sources.scratchDir(spark, "rbspec_cb_" + hex)
    val idxOld = graft.sources.Sources.scratchDir(spark, "rbspec_idx_" + hex)
    val cbNew = graft.sources.Sources.scratchDir(spark, "rbspec_cb2_" + hex)
    val idxNew = graft.sources.Sources.scratchDir(spark, "rbspec_idx2_" + hex)
    Similarity.buildAgedIvfStore(e, cbOld, idxOld, 16)
    // the aged store's compaction flipped it to a generation dir —
    // blue/green claims are about the LIVE store's bytes
    val idxOldLive = graft.sources.Sources.livePath(spark, idxOld)
    def listing(p: String) = {
      val root = new java.io.File(p)
      def walk(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
        else Seq(f.getPath -> f.length())
      walk(root)
    }
    val before = listing(idxOldLive) ++ listing(cbOld)
    // the vector table has OUTGROWN the index: 50 extra vectors the old
    // index never held — rebuild's membership contract must exclude them
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val extras = spark.range(1000000, 1000050)
      .select(col("id").as("vec_id"),
        array((0 until dim).map(i => lit(0.1f * (i % 7))): _*).as("embedding"))
    Similarity.ivfRebuild(spark, e.unionByName(extras), idxOld, cbNew, idxNew, 32)
    // blue/green: the old store's files are byte-for-byte what they were
    assert(listing(idxOldLive) ++ listing(cbOld) == before, "rebuild touched the old store")
    // membership: the rebuilt index holds exactly the old index's vec_ids
    val oldIds = spark.read.parquet(idxOldLive).select("vec_id")
    val newIds = spark.read.parquet(idxNew).select("vec_id")
    assert(newIds.exceptAll(oldIds).count() == 0 && oldIds.exceptAll(newIds).count() == 0,
      "rebuilt membership != old index membership")
    // and the new capacity is real: 32 lists in the rebuilt codebook
    assert(spark.read.parquet(cbNew).count() == 32)
  }

  test("rebuild recall audit is computed, not vacuous: an unreachable floor flips it false") {
    val rows = Similarity.pqRebuildRecallAudit(spark, TestSpark.Sf0001, floor = 1.01)
      .as[(Long, Long, Boolean)].collect()
    assert(rows.exists(!_._3),
      s"floor=1.01 produced no violations — flag looks vacuous: ${rows.mkString(",")}")
  }

  test("recall audit flag is computed, not vacuous: an unreachable floor flips it false") {
    // measured fixture minimum is 4/5 for IVF at sf0.001 — demanding
    // perfect recall must surface real violations, proving recall_ok
    // reflects the routed overlap rather than defaulting TRUE
    val rows = Similarity.ivfRecallAudit(spark, TestSpark.Sf0001, floor = 1.0)
      .as[(Long, Long, Boolean)].collect()
    assert(rows.exists(!_._3),
      s"floor=1.0 produced no violations — flag looks vacuous: ${rows.mkString(",")}")
    // and a routed side with zero overlap (empty routed relation) is a
    // violation on every query, exercising the left-join null path
    val exact = Similarity.cosineTopK(spark, TestSpark.Sf0001)
    val none = Similarity.recallAuditOver(exact, exact.limit(0), floor = 0.2)
      .as[(Long, Long, Boolean)].collect()
    assert(none.length == 10 && none.forall(!_._3), s"empty routed: ${none.mkString(",")}")
  }

  test("q228 streaming twins: MemoryStream ticks reproduce the batch tick loop; replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val e = Tables.embeddings(spark, TestSpark.Sf0001)
      .select(col("vec_id"), col("embedding"))
    val isNew = col("vec_id") % 5 === 0
    val newRows = e.filter(isNew).as[(Long, Seq[Float])].collect()
    def tickOf(t: Int) = newRows.filter(r => (r._1 / 5) % 3 == t).toIndexedSeq
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def tmp(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft_annstream_$tag").toString + "/p"

    // --- IVF: stream ≡ the ivfIngestTick loop, tick replay converges ---
    val (cbS, idxS) = (tmp("ivf_cb_s"), tmp("ivf_idx_s"))
    Similarity.writeIvfIndex(e.filter(!isNew), cbS, idxS)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Similarity.streamingIvfMaintenance(
        in.toDF().toDF("vec_id", "embedding"), cbS, idxS)
      .option("checkpointLocation", tmp("ivf_ck")).start()
    try {
      (0 until 3).foreach { t => in.addData(tickOf(t)); q.processAllAvailable() }
    } finally q.stop()
    val (cbB, idxB) = (tmp("ivf_cb_b"), tmp("ivf_idx_b"))
    Similarity.writeIvfIndex(e.filter(!isNew), cbB, idxB)
    (0 until 3).foreach { t =>
      Similarity.ivfIngestTick(
        spark.createDataset(tickOf(t)).toDF("vec_id", "embedding"),
        cbB, idxB, t.toLong)
    }
    // NOTE: the two codebooks are trained by the same deterministic
    // kmeans over the same settled rows, so assignments are comparable
    def ivfState(idx: String) = spark.read
      .parquet(graft.sources.Sources.livePath(spark, idx))
      .select(col("ingest_batch"), col("vec_id"), col("list_id"))
      .as[(Long, Long, Long)].collect().toSet
    val streamed = ivfState(idxS)
    assert(streamed == ivfState(idxB), "stream state != batch tick-loop state")
    // out-of-band replay of the MIDDLE tick: identical content, same
    // batch id -> the dynamic overwrite rewrites, never double-appends
    Similarity.ivfIngestTick(
      spark.createDataset(tickOf(1)).toDF("vec_id", "embedding"), cbS, idxS, 1L)
    assert(ivfState(idxS) == streamed, "replaying tick 1 changed the IVF store")

    // --- PQ: same contract for the encode path ---
    val (bkS, cdS) = (tmp("pq_books_s"), tmp("pq_codes_s"))
    Similarity.writePqIndex(e.filter(!isNew), bkS, cdS)
    val inPq = MemoryStream[(Long, Seq[Float])]
    val qPq = Similarity.streamingPqMaintenance(
        inPq.toDF().toDF("vec_id", "embedding"), bkS, cdS)
      .option("checkpointLocation", tmp("pq_ck")).start()
    try {
      (0 until 3).foreach { t => inPq.addData(tickOf(t)); qPq.processAllAvailable() }
    } finally qPq.stop()
    def pqState() = spark.read
      .parquet(graft.sources.Sources.livePath(spark, cdS))
      .select(col("ingest_batch"), col("vec_id"), col("codes"))
      .as[(Long, Long, Seq[Int])].collect().toSet
    val pqStreamed = pqState()
    // stream ticks must equal a direct encode of the same rows under the
    // persisted books, partition-for-partition
    val books = Similarity.loadPqBooks(spark, bkS)
    val subDim = books(0)(0).length
    val want = (0 until 3).flatMap { t =>
      spark.createDataset(tickOf(t)).toDF("vec_id", "embedding")
        .select(lit(t.toLong).as("ingest_batch"), col("vec_id"),
          Similarity.pqEncode(col("embedding"), books, subDim).as("codes"))
        .as[(Long, Long, Seq[Int])].collect()
    }.toSet
    assert(pqStreamed.filter(_._1 >= 0L) == want,
      "streamed PQ partitions != direct encode of the same ticks")
    Similarity.pqIngestTick(
      spark.createDataset(tickOf(1)).toDF("vec_id", "embedding"), bkS, cdS, 1L)
    assert(pqState() == pqStreamed, "replaying tick 1 changed the PQ store")
  }
}
