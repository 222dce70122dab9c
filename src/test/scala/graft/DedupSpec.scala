package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-near-dup recall for the hash-family dedup operators (the specs
  * the q18/q19 operators are verified by, alongside / instead of the
  * DuckDB oracle — SimHash is keyed on Spark's xxhash64, which the oracle
  * cannot reproduce).
  */
class DedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** 40 base docs of 60 pseudo-words + a near-dup of each (one token
    * swapped → Jaccard ≈ 0.9, SimHash hamming small) + 10 exact copies.
    * Pair (i, i+1000) is the planted near-dup of base doc i.
    */
  private lazy val planted = {
    val rnd = new scala.util.Random(42)
    def word() = (0 until 5).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val vocab = Vector.fill(400)(word())
    val base = (0L until 40L).map { i =>
      i -> (0 until 60).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val nearDups = base.map { case (i, text) =>
      val toks = text.split(" ")
      toks(30) = "zzzzz" // one swapped token mid-document
      (i + 1000L) -> toks.mkString(" ")
    }
    val exactCopies = base.take(10).map { case (i, text) => (i + 2000L) -> text }
    (base ++ nearDups ++ exactCopies).toDF("doc_id", "text")
  }

  test("minhash-LSH finds every planted near-dup pair and matches brute force exactly") {
    val got = Dedup.minhashLshPairsFor(planted, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val wanted = (0L until 40L).map(i => (i, i + 1000L)).toSet ++
      (0L until 10L).map(i => (i, i + 2000L)).toSet
    assert(wanted.subsetOf(got), s"missed: ${wanted -- got}")
    // LSH + exact verification ≡ brute force on a well-separated corpus
    val brute = Dedup.ngramJaccardPairsFor(planted)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == brute)
    // the inverted-index candidate generator must cover every true pair
    // (it is the recall-1 superset both exact paths rely on)
    val sh = Dedup.docShingles(planted)
    val cand = Dedup.candidatePairs(sh)
      .as[(Long, Long)].collect().toSet
    assert(brute.subsetOf(cand))
    val verified = Dedup.jaccardForCandidates(cand.toSeq.toDF("doc_a", "doc_b"), sh, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(verified == brute)
  }

  test("simhash finds planted near-dups with high recall and all exact copies") {
    val got = Dedup.simhashPairsFor(planted, maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exactPairs = (0L until 10L).map(i => (i, i + 2000L)).toSet
    assert(exactPairs.subsetOf(got), s"missed exact-copy pairs: ${exactPairs -- got}")
    // One token swapped in 60 gives E[hamming] ≈ 3 at 64 bits, right at the
    // maxHamming=3 boundary, so per-pair recall is ~0.7-0.8 by design; the
    // corpus/seed is fixed so the observed value (0.75) is deterministic.
    // The floor catches regressions (a broken band join or vote transform
    // collapses recall to ~0), not hash drift.
    val nearPairs = (0L until 40L).map(i => (i, i + 1000L)).toSet
    val recall = (nearPairs & got).size.toDouble / nearPairs.size
    assert(recall >= 0.7, s"near-dup recall $recall < 0.7 (found ${(nearPairs & got).size}/40)")
  }

  test("hot-shingle cap: correction join restores exact Jaccard through hot shingles") {
    // a template block shared by many docs (high df → hot under dfCap=5)
    // plus one near-dup pair that shares the block AND rare shingles: the
    // pair must survive via its rare shingles, and its Jaccard must still
    // count the hot shingles in the intersection
    val common = "alpha beta gamma delta epsilon zeta"
    val filler = (0L until 10L).map(i => i -> s"$common filler$i pad$i tail$i more$i")
    val pair = Seq(
      100L -> s"$common shared one two three four x",
      101L -> s"$common shared one two three four y")
    val docs = (filler ++ pair).toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairsFor(docs, threshold = 0.5, dfCap = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = Dedup.ngramJaccardPairsFor(docs, threshold = 0.5, dfCap = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped.exists { case (a, b, _) => a == 100L && b == 101L })
    assert(capped == uncapped, "cap must not change values for pairs sharing rare shingles")
  }

  test("docShingles (compiled flatMap) is byte-identical to the TF.shingles expression form") {
    import graft.functions.{TextFunctions => TF}
    val viaFlatMap = Dedup.docShingles(planted)
    val viaExpr = planted
      .select(col("doc_id"), explode(TF.shingles(col("text"), 3)).as("shingle"))
      .distinct()
    assert(viaFlatMap.exceptAll(viaExpr).count() == 0)
    assert(viaExpr.exceptAll(viaFlatMap).count() == 0)
  }

  test("degenerate corpora: empty and too-short docs produce empty results, no crash") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairsFor(empty).count() == 0)
    assert(Dedup.minhashLshPairsFor(empty).count() == 0)
    assert(Dedup.simhashPairsFor(empty).count() == 0)
    // docs shorter than the shingle width contribute no shingles
    val short = Seq((1L, "only two"), (2L, "only two"), (3L, "a")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairsFor(short).count() == 0)
    // ...but identical short docs are still exact-dup detectable by simhash
    val shortPairs = Dedup.simhashPairsFor(short)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(shortPairs.contains((1L, 2L)))
  }

  test("exact content dedup reports each doubled doc exactly once") {
    val df = Dedup.exactContentDedup(spark, TestSpark.Sf0001)
    val nDocs = Tables.documents(spark, TestSpark.Sf0001).count()
    assert(df.count() == nDocs) // every doc is planted twice by the union
    assert(df.filter(col("cnt") =!= 2).count() == 0)
  }

  test("connectedComponents refuses to return unconverged labels") {
    // a 6-hop path needs ~5 rounds; maxIter=2 must throw, not silently
    // mislabel — an unconverged label table shipped to a dedup pipeline
    // would drop the wrong documents. The local finish never iterates, so
    // the distributed route is forced to reach the round limit.
    val vertices = (1L to 7L).toDF("id")
    val edges = (1L to 6L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      TestSpark.withBroadcastThreshold("-1")(
        Dedup.connectedComponents(vertices, edges, maxIter = 2))
    }
    assert(e.getMessage.contains("converge"))
  }

  test("connectedComponents: local finish and distributed alternation return identical labels") {
    def labels(vertices: DataFrame, edges: DataFrame): Map[Long, Long] =
      Dedup.connectedComponents(vertices, edges).as[(Long, Long)].collect().toMap
    def sameOnBothRoutes(what: String, vertices: DataFrame,
                         edges: DataFrame): Map[Long, Long] = {
      val local = labels(vertices, edges)
      val distributed = TestSpark.withBroadcastThreshold("-1")(labels(vertices, edges))
      assert(local == distributed, s"$what: routes disagree")
      local
    }
    val chain = sameOnBothRoutes("chain", Seq(1L, 2L, 3L, 4L).toDF("id"),
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst"))
    assert(chain == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    val n = 200L
    val pathVertices = (1L to n).toDF("id")
    val pathEdges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val path = sameOnBothRoutes("200-vertex path", pathVertices, pathEdges)
    assert(path.size == n && path.values.forall(_ == 1L))
    val isolated = sameOnBothRoutes("isolated vertices", (1L to 6L).toDF("id"),
      Seq((5L, 3L)).toDF("src", "dst"))
    assert(isolated == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 3L, 6L -> 6L))
    val loops = sameOnBothRoutes("self-loops", (1L to 4L).toDF("id"),
      Seq((1L, 1L), (2L, 2L), (2L, 4L), (4L, 4L)).toDF("src", "dst"))
    assert(loops == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L))
    val dupRev = sameOnBothRoutes("duplicate and reversed edges", (1L to 5L).toDF("id"),
      Seq((1L, 2L), (2L, 1L), (1L, 2L), (5L, 4L), (4L, 5L), (3L, 5L)).toDF("src", "dst"))
    assert(dupRev == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 3L))
    val empty = sameOnBothRoutes("empty edge set", (1L to 3L).toDF("id"),
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(empty == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    val emb = sameOnBothRoutes("sf0.001 embedding pairs",
      Tables.embeddings(spark, TestSpark.Sf0001).select(col("vec_id").as("id")),
      Dedup.ensureEmbedPairs(spark, TestSpark.Sf0001, 0.4)
        .select(col("id_a").as("src"), col("id_b").as("dst")))
    assert(emb.exists { case (id, lbl) => id != lbl }, "embedding graph has no edges")
    // the point of the local finish: a fixed handful of jobs, not a chain
    // of per-round ones (the call runs every job, as it returns
    // checkpointed labels). An 80-byte threshold bounds the local finish
    // at 5 edges, so the 199-edge path is over the bound and alternates.
    val localJobs = TestSpark.jobsStartedBy(Dedup.connectedComponents(pathVertices, pathEdges))
    assert(localJobs <= 8, s"local route started $localJobs jobs")
    TestSpark.withBroadcastThreshold("80") {
      assert(labels(pathVertices, pathEdges) == path, "over-bound labels differ")
      val overBoundJobs =
        TestSpark.jobsStartedBy(Dedup.connectedComponents(pathVertices, pathEdges))
      assert(overBoundJobs > 2 * localJobs,
        s"over the bound: $overBoundJobs jobs vs $localJobs on the local route")
    }
  }

  test("connectedComponents: labels propagate transitively along chains") {
    // path 1-2-3-4 (no direct 1-4 edge) + isolated vertex 5: min-label
    // propagation must carry 1 across three hops, and leave 5 alone
    val vertices = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Dedup.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L))
  }

  test("near-dup clusters: transitive closure over pairs, keep-lowest per cluster") {
    // planted corpus: base i (i<40), near-dup i+1000, exact copy i+2000
    // (i<10) — docs i, i+1000, i+2000 must form ONE cluster labeled i even
    // where a pairwise edge is missing (connectivity via the base doc)
    val clusters = Dedup.nearDupClustersFor(planted)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(clusters.size == 90)
    (0L until 40L).foreach { i =>
      assert(clusters(i) == (i, true), s"base doc $i must keep itself")
      assert(clusters(i + 1000L) == (i, false), s"near-dup of $i must join cluster $i")
    }
    (0L until 10L).foreach { i =>
      assert(clusters(i + 2000L) == (i, false), s"exact copy of $i must join cluster $i")
    }
    // the deduplicated corpus is exactly the 40 cluster representatives
    val kept = Dedup.dedupCorpusFor(planted).select("doc_id").as[Long].collect().toSet
    assert(kept == (0L until 40L).toSet)
  }

  /** 50 deterministic random 64-dim vectors + 20 planted near-identical
    * copies (tiny perturbation → cos ≈ 0.9999). Random 64-dim pairs
    * concentrate around cos 0 (σ ≈ 1/8), so at threshold 0.7 the true
    * pair set is exactly the planted one.
    */
  private lazy val plantedVecs = {
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0L until 50L).map(i => i -> vec())
    val dups = base.take(20).map { case (i, v) =>
      (i + 1000L) -> v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    }
    (base ++ dups).toDF("vec_id", "embedding")
  }

  test("embedding near-dup: banded path equals the exact path for planted near-identical pairs") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 0.9 = BandedSafeThreshold: the lowest threshold the router ever
    // hands this path; planted pairs sit at cos ≈ 0.9999 (8×8-band miss
    // ≈ 2e-12, deterministic hyperplanes → stable)
    val exact = rows(Dedup.embeddingNearDupPairsExactFor(plantedVecs, 0.9))
    val banded = rows(Dedup.embeddingNearDupPairsBandedFor(plantedVecs, 0.9))
    val wanted = (0L until 20L).map(i => (i, i + 1000L)).toSet
    assert(wanted == exact.map(t => (t._1, t._2)),
      s"exact path should find exactly the planted pairs, got ${exact.size}")
    assert(banded == exact, // same pairs AND same cos values
      s"banded≠exact: only-banded=${banded -- exact}, only-exact=${exact -- banded}")
  }

  test("embedding near-dup router: small corpus exact, large corpus banded/blocked by threshold") {
    // fixture-sized → exact path (same rows as calling the exact form,
    // checked BOTH ways so an empty/truncated routed result fails)
    val routed = Dedup.embeddingNearDupPairs(spark, TestSpark.Sf0001)
    val e = Tables.embeddings(spark, TestSpark.Sf0001)
      .select(col("vec_id"), col("embedding"))
    val exact = Dedup.embeddingNearDupPairsExactFor(e, 0.4)
    assert(routed.exceptAll(exact).count() == 0)
    assert(exact.exceptAll(routed).count() == 0)
    // forced over the cap at threshold ≥ BandedSafeThreshold → banded
    // plan: no nested-loop/cartesian join anywhere
    val bandedPlan = Dedup.embeddingNearDupPairs(spark, TestSpark.Sf0001,
      threshold = 0.95, maxExactRows = 0L)
      .queryExecution.executedPlan.toString
    assert(!bandedPlan.contains("NestedLoop") && !bandedPlan.contains("CartesianProduct"),
      s"router above maxExactRows at t>=0.9 must take the banded path:\n$bandedPlan")
    // below BandedSafeThreshold the banded miss rate is order-1, so the
    // router must keep the exact contract via the blocked path — pinned
    // by result equality, not just plan shape (0.7 was the OLD banded
    // boundary; the round-12 crossover measurement moved it)
    val routedMid = Dedup.embeddingNearDupPairs(spark, TestSpark.Sf0001,
      threshold = 0.7, maxExactRows = 0L)
    val exactMid = Dedup.embeddingNearDupPairsExactFor(e, 0.7)
    assert(routedMid.exceptAll(exactMid).count() == 0)
    assert(exactMid.exceptAll(routedMid).count() == 0)
  }

  test("embedding near-dup: grid-blocked exact path equals the broadcast exact path") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = rows(Dedup.embeddingNearDupPairsExactFor(plantedVecs, 0.4))
    assert(exact.nonEmpty, "fixture must plant pairs above the loose threshold")
    // odd/even block counts exercise both circulant-grid dedup branches,
    // and B > nRows exercises cells holding 0-1 rows
    for (b <- Seq(2, 3, 16, 17, 128)) {
      val blocked = rows(Dedup.embeddingNearDupPairsBlockedFor(plantedVecs, 0.4, nBlocks = b))
      assert(blocked == exact,
        s"nBlocks=$b: only-blocked=${blocked -- exact}, only-exact=${exact -- blocked}")
    }
    // routed form: past maxExactRows at a loose threshold the router must
    // take the blocked path and STILL honor the exact contract (both-ways
    // exceptAll so an empty/truncated routed result fails)
    val routed = Dedup.embeddingNearDupPairs(spark, TestSpark.Sf0001,
      threshold = 0.4, maxExactRows = 0L)
    val e = Tables.embeddings(spark, TestSpark.Sf0001)
      .select(col("vec_id"), col("embedding"))
    val exactFixture = Dedup.embeddingNearDupPairsExactFor(e, 0.4)
    assert(routed.exceptAll(exactFixture).count() == 0)
    assert(exactFixture.exceptAll(routed).count() == 0)
  }

  test("blocked path plan: cell-parallel equi-join on BOTH grid coordinates, corpus never broadcast") {
    // disable auto-broadcast so the fixture-sized corpus can't collapse the
    // shape this spec pins — at 100 TB the corpus side could never
    // broadcast, and the whole point of the blocked path is surviving that
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Dedup.embeddingNearDupPairsBlockedFor(plantedVecs, 0.4, nBlocks = 4)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        s"blocked path must never cross-join:\n$plan")
      // the pair join must key on the composite (gi, gj) cell — B(B/2+1)
      // distinct keys (cell-level parallelism), not gj alone (B keys)
      val cellJoin = plan.linesIterator.exists(l =>
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
          && l.contains("gi#") && l.contains("gj#"))
      assert(cellJoin, s"pair join must be an equi-join on both grid coordinates:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("Jaccard core equals driver-side brute force on random dense-overlap corpora") {
    // guards the shared jaccardPairsAcross core (q17/q18/q52/q55/q59/q63
    // all route through it): a tiny vocabulary forces heavy shingle
    // sharing, exercising the hot/rare split, correction join, and
    // pushdown filters against a plain Scala mirror — including the
    // post-rounding threshold semantics
    val rnd = new scala.util.Random(5)
    def rnd4(x: Double) =
      BigDecimal.decimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    (0 until 3).foreach { trial =>
      val vocab = Vector.fill(12)((0 until 4).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
      val docs = (0L until 25L).map(i =>
        i -> (0 until (5 + rnd.nextInt(20))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val got = Dedup.ngramJaccardPairsFor(docs.toDF("doc_id", "text"),
          threshold = 0.3, dfCap = 7) // low cap so the correction join has real work
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      def shingles(t: String) = {
        val toks = t.split(" ", -1)
        if (toks.length < 3) Set.empty[String] else toks.sliding(3).map(_.mkString(" ")).toSet
      }
      val sets = docs.map { case (i, t) => i -> shingles(t) }.toMap
      val hotSh = sets.values.flatten.groupBy(identity)
        .collect { case (s, os) if os.size > 7 => s }.toSet
      val want = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        sa = sets(a); sb = sets(b)
        if ((sa & sb) -- hotSh).nonEmpty // candidacy needs >=1 non-hot shared shingle
        inter = (sa & sb).size // Jaccard itself counts hot shingles too
        if inter >= 0.3 * sa.size && inter >= 0.3 * sb.size
        j = rnd4(inter.toDouble / (sa.size + sb.size - inter)) if j >= 0.3
      } yield (a, b) -> j).toMap
      assert(got == want, s"trial $trial: only-got=${got.keySet -- want.keySet}, " +
        s"only-want=${want.keySet -- got.keySet}, " +
        s"value-diffs=${want.keySet.intersect(got.keySet).filter(k => got(k) != want(k))}")
    }
  }

  test("winnowing: detection guarantee, exact-copy containment, density band, sliding-min correctness") {
    // the O(n) sliding-minimum recurrence must equal the brute-force
    // "min of every window" definition (rightmost tie-break irrelevant to
    // the fingerprint SET)
    val rnd = new scala.util.Random(11)
    (0 until 20).foreach { _ =>
      val s = (0 until (12 + rnd.nextInt(60))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      val k = 4; val w = 3
      val n = s.length - k + 1
      val hs = (0 until n).map(i => Dedup.winnow(s.substring(i, i + k), k, 1).head)
      val brute = (0 to n - w).map(j => (j until j + w).map(hs).min).toSet
      assert(Dedup.winnow(s, k, w).toSet == brute, s"sliding-min diverges on '$s'")
    }
    // planted corpus: every near-dup/exact-copy pair shares nearly all
    // fingerprints (one swapped token perturbs a ~(k+w)·2-char region of
    // a ~360-char doc, and both intact halves dwarf the k+w-1 = 23-char
    // detection floor) → fp-Jaccard well above 0.5; random-vocab pairs
    // share only boilerplate k-grams → far below. Found pairs must be
    // exactly within the planted families (a ≡ b mod 1000).
    val pairs = Dedup.winnowingPairsFor(planted)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    (0L until 40L).foreach { i =>
      assert(pairs.contains((i, i + 1000L)), s"near-dup pair ($i, ${i + 1000L}) undetected")
    }
    (0L until 10L).foreach { i =>
      assert(pairs.get((i, i + 2000L)).contains(1.0),
        s"exact-copy pair ($i, ${i + 2000L}) must score fp-Jaccard 1.0")
    }
    assert(pairs.keys.forall { case (a, b) => a % 1000L == b % 1000L },
      s"spurious cross-family pair: ${pairs.keys.filter { case (a, b) => a % 1000L != b % 1000L }}")
    // an exact copy shares EVERY fingerprint of its original
    val fps = Dedup.winnowingFingerprints(planted)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    (0L until 10L).foreach { i =>
      assert(fps(i) == fps(i + 2000L), s"exact copy ${i + 2000L} must fingerprint identically")
    }
    // density: expected 2/(w+1) = 2/9 ≈ 0.22 of the k-gram count at the
    // default w=8; pin a generous band so a broken window (w=1 → 1.0,
    // w→n → ~0) fails loudly
    val doc0 = planted.filter(col("doc_id") === 0L).select("text").as[String].head()
    val kgrams = doc0.length - 16 + 1
    val density = fps(0L).size.toDouble / kgrams
    assert(density > 0.1 && density < 0.4, s"winnowing density $density outside [0.1, 0.4]")
  }

  test("decontamination flags planted cross-split overlap and ignores train-only dups") {
    val tmpl = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val docs = Seq(
      20L -> tmpl,                                  // eval
      13L -> tmpl.replace("foxtrot", "zulu"),       // train near-dup of eval 20
      30L -> "mike november oscar papa quebec romeo sierra tango uniform victor", // eval
      7L  -> "mike november oscar papa quebec romeo sierra tango uniform victor", // train EXACT copy of eval 30
      1L  -> "one two three four five six seven eight nine ten",
      2L  -> "one two three four five six seven eight nine eleven", // train-train near-dup: NOT contamination
      40L -> "whiskey xray yankee zebra apple banana cherry"        // unrelated eval
    ).toDF("doc_id", "text")
    val report = Dedup.decontaminationReportFor(docs, col("doc_id") % 10 === 0, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    // one token swapped in 12: 7 of 10 shingles shared each side,
    // J = 7/13 = 0.5385; the exact copy reports J = 1.0 with the hash flag
    assert(report == Map(13L -> (0.5385, false), 7L -> (1.0, true)),
      s"report must flag exactly the planted cross-split hits, got $report")
    // the decontaminated corpus = train minus the flagged docs, eval untouched
    val kept = Dedup.decontaminatedCorpusFor(docs, col("doc_id") % 10 === 0)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L), s"purged corpus must keep the clean train docs only, got $kept")
  }

  test("embedding decontamination equals the exact pair set restricted to cross-split pairs") {
    val isEval = col("vec_id") >= 1000L // the planted dups play the eval split
    val report = Dedup.embeddingDecontaminationFor(plantedVecs, isEval, threshold = 0.7)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // ground truth from the all-pairs exact path: keep only cross-split
    // pairs, take max cos per train vector
    val wanted = Dedup.embeddingNearDupPairsExactFor(plantedVecs, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a >= 1000L) != (b >= 1000L) }
      .groupBy { case (a, b, _) => if (a >= 1000L) b else a }
      .map { case (id, ps) => id -> ps.map(_._3).max }
    assert(report == wanted, s"got $report, want $wanted")
    assert(report.size == 20, "every planted base vector is contaminated by its eval copy")
  }

  test("winnowed-candidate route == brute force: pairs, scores, and clusters") {
    // the >MaxFullIndexDocs candidate generator must lose nothing the
    // exact oracle finds: same pair set, same (exact, full-shingle)
    // Jaccard scores, and therefore identical cluster resolution
    val winnowed = Dedup.winnowCandidateJaccardPairsFor(planted)
      .as[(Long, Long, Double)].collect().toSet
    val brute = Dedup.ngramJaccardPairsFor(planted)
      .as[(Long, Long, Double)].collect().toSet
    assert(winnowed == brute,
      s"only-winnowed: ${winnowed -- brute}; missed: ${brute -- winnowed}")
    val viaLsh = Dedup.nearDupClustersFor(planted)
      .as[(Long, Long, Boolean)].collect().toSet
    val viaWinnow = Dedup.nearDupClustersWinnowedFor(planted)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(viaLsh == viaWinnow)
  }

  test("q124 semantic dedup: raising signBits only splits buckets — survivors grow monotonically") {
    // the q86 two-width precedent applied to D18's fan-out knob: a pair
    // co-bucketed at 6 sign bits agrees on its first 4 bits, so it is
    // co-bucketed at 4 bits too — the width-6 dominated set is a subset of
    // width-4's, hence width-4 survivors ⊆ width-6 survivors. This is the
    // invariant that makes "raise signBits at scale" safe: a wider code
    // never drops a vector the narrow code kept.
    val s4 = Dedup.semanticDedupSurvivors(spark, TestSpark.Sf0001, signBits = 4)
      .select("vec_id").as[Long].collect().toSet
    val s6 = Dedup.semanticDedupSurvivors(spark, TestSpark.Sf0001, signBits = 6)
      .select("vec_id").as[Long].collect().toSet
    assert(s4.nonEmpty)
    assert(s4.subsetOf(s6),
      s"width-4 survivors must survive width-6; lost ${(s4 -- s6).take(5)}")
    // and the split is real on this fixture, not vacuous
    assert(s6.size >= s4.size)
  }

  test("q126 containment: an exact sub-document plant scores containment 1.0") {
    // doc B = a verbatim 20-token slice of doc A wrapped in fresh tokens
    // on one side only, so B's shingles ⊂ A's: directed containment of
    // the smaller side is 1.0 while Jaccard stays far below the near-dup
    // bar — the case the operator exists to catch
    val rnd = new scala.util.Random(7)
    def word() = (0 until 5).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val big = (0 until 80).map(_ => word())
    val small = big.slice(20, 40)
    val docs = Seq(
      1L -> big.mkString(" "),
      2L -> small.mkString(" "),
      3L -> (0 until 60).map(_ => word()).mkString(" ")).toDF("doc_id", "text")
    val got = Dedup.containmentPairsFor(docs, threshold = 0.8)
      .select("doc_a", "doc_b", "containment")
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0)),
      s"expected exactly the planted (1,2) pair at 1.0, got ${got.toSeq}")
  }

  test("connectedComponents: 200-vertex path graph converges (chain-shaped dup graphs)") {
    // the shape that breaks min-label propagation: a single path has O(n)
    // diameter, so propagation needs ~n rounds; the large-star/small-star
    // alternation must converge in O(log² n) — well under the default
    // maxIter=25 — and still label every vertex with the path's minimum
    val n = 200L
    val vertices = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Dedup.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(got.size == n)
    assert(got.values.forall(_ == 1L),
      s"all path vertices must label 1, got ${got.filter(_._2 != 1L).take(5)}")
  }

  test("q136 CDC dedup: unique ownership; exact AND shifted copies dropped") {
    val base = graft.Tables.documents(spark, TestSpark.Sf0001)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .maxBy(_._2.split(" ").length)._2
    val unique = (1 to 30).map(i => s"uniq$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base), (3L, "zzz " + base), (4L, unique))
      .toDF("doc_id", "text")
    val prof = Dedup.cdcPassageDedupFor(docs)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // doc 1 owns everything it has; doc 2 is an exact copy — fully owned
    // elsewhere; doc 3 is the SHIFTED copy fixed windows would miss: CDC
    // re-syncs, so all chunks after its head region are doc 1's
    assert(prof(1L)._3 == prof(1L)._2 && !prof(1L)._6, "owner doc keeps all")
    assert(prof(2L)._3 == 0L && prof(2L)._6, "exact copy fully deduped")
    assert(prof(3L)._6, "shifted copy must be dropped (dup fraction >= tau)")
    assert(prof(3L)._3 < prof(3L)._2, "shifted copy keeps only its head region")
    assert(prof(4L)._3 == prof(4L)._2 && !prof(4L)._6, "unique doc untouched")
    // corpus-wide conservation: each distinct chunk hash is kept exactly once
    val distinctHashes = graft.operators.TextAnalysis.contentDefinedChunksFor(docs)
      .select(col("chunk_hash")).distinct().count()
    assert(prof.values.map(_._3).sum == distinctHashes)
    // fixture smoke: token totals conserved, gate consistent with the profile
    val fx = Dedup.cdcPassageDedup(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
    assert(fx.nonEmpty)
    fx.foreach { r =>
      val frac = BigDecimal((r._5 - r._4).toDouble / r._5)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r._6 == (frac >= 0.5), s"doc ${r._1} gate")
    }
  }

  test("q150 substring runs: planted run found at exact length, short runs invisible, boilerplate capped") {
    val rnd = new scala.util.Random(7)
    def word(): String = (0 until 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    def filler(n: Int): Seq[String] = (0 until n).map(_ => word())
    val run = filler(25)   // planted 25-token verbatim run
    val short = filler(12) // below the 20-token floor
    val docs = Seq(
      0L -> (filler(20) ++ run ++ filler(20)).mkString(" "),
      1L -> (filler(20) ++ run ++ filler(20)).mkString(" "),
      2L -> (filler(25) ++ short ++ filler(25)).mkString(" "),
      3L -> (filler(25) ++ short ++ filler(25)).mkString(" ")
    ).toDF("doc_id", "text")
    val got = Dedup.substringRunPairsFor(docs, n = 8, dfCap = 50, minRun = 20)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4, r._5))).toMap
    // the random fillers are pairwise-distinct words, so the shared run is
    // EXACTLY the plant: the islands arithmetic must recover its length
    assert(got.keySet == Set((0L, 1L)), s"pairs: ${got.keySet}")
    assert(got((0L, 1L)) == ((25L, 1L, 25L)), s"run profile: ${got((0L, 1L))}")
    // df-cap: a 60-doc boilerplate block exceeds dfCap=50 — every gram of
    // the block is dropped as hot, so no pair survives (q114's business)
    val bp = filler(30)
    val many = (10L until 70L)
      .map(i => i -> (filler(5) ++ bp ++ filler(5)).mkString(" "))
      .toDF("doc_id", "text")
    assert(Dedup.substringRunPairsFor(many, n = 8, dfCap = 50, minRun = 20)
      .count() == 0L)
  }

  test("q151 repeated-span scrub: df>1 spans scrubbed everywhere, unique docs byte-identical, full dups empty out") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val rnd = new scala.util.Random(11)
    def word(): String = (0 until 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    def filler(n: Int): Seq[String] = (0 until n).map(_ => word())
    val shared = filler(5) // one aligned 5-token span shared by docs 0 and 1
    val tailA = filler(10); val tailB = filler(10)
    val unique = filler(12); val dup = filler(10)
    val docs = Seq(
      0L -> (shared ++ tailA).mkString(" "),
      1L -> (shared ++ tailB).mkString(" "),
      2L -> unique.mkString(" "),
      3L -> dup.mkString(" "),
      4L -> dup.mkString(" ")
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpanScrubFor(docs, w = 5, maxDf = 1)
      .as[(Long, Long, Long, String)].collect()
      .map(r => (r._1, (r._2, r._3, r._4))).toMap
    assert(got(0L) == ((3L, 1L, md5hex(tailA.mkString(" ")))))
    assert(got(1L) == ((3L, 1L, md5hex(tailB.mkString(" ")))))
    assert(got(2L) == ((3L, 0L, md5hex(unique.mkString(" ")))), "unique doc untouched")
    assert(got(3L) == ((2L, 2L, md5hex(""))), "full dup fully scrubbed")
    assert(got(4L) == ((2L, 2L, md5hex(""))))
  }

  test("q154 minhash estimator audit: every planted pair in-band, and the sketch is actually close") {
    val rows = Dedup.minhashEstimatorAuditFor(planted)
      .as[(Long, Long, Double, Boolean)].collect()
    // the audited pair set IS the exact near-dup set: 40 base↔near-dup,
    // 10 base↔exact-copy, 10 exact-copy↔near-dup
    assert(rows.length == 60, s"expected the 60 planted pairs, got ${rows.length}")
    assert(rows.forall(_._4), "an estimator violation at 4 sigma means a broken sketch")
    // stronger than the pinned flag: recompute the estimate driver-side
    // and check the k=128 sketch tracks exact Jaccard well inside tol
    val sigs = Dedup.minhashSignatures(planted)
      .as[(Long, Seq[Long])].collect().toMap
    val errs = rows.map { case (a, b, j, _) =>
      val est = sigs(a).zip(sigs(b)).count { case (x, y) => x == y } / 128.0
      math.abs(est - j)
    }
    assert(errs.max <= 0.15, s"max |est - exact| = ${errs.max}")
  }

  test("q163 simhash estimator audit: every planted pair in-band, unrelated docs far outside it") {
    val rows = Dedup.simhashEstimatorAuditFor(planted)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(rows.length == 60, s"expected the 60 planted pairs, got ${rows.length}")
    assert(rows.forall(_._4), "a 16-bit disagreement on a J>=0.5 pair means a broken vote kernel")
    // the band's discrimination: recompute hamming driver-side — planted
    // pairs sit well inside 16 bits, unrelated base pairs around the
    // 32-bit noise mean (the 4-sigma separation the audit banks on)
    val sigs = Dedup.simhashSignatures(planted).as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    val pairHams = rows.map { case (a, b, _, _) => ham(a, b) }
    assert(pairHams.max <= 10, s"planted pairs should clear the band with margin; max=${pairHams.max}")
    val unrelated = for (a <- 0L until 10L; b <- 20L until 30L) yield ham(a, b)
    assert(unrelated.min > 16,
      s"unrelated docs must sit outside the band; min=${unrelated.min}")
    // the band must stay below the noise mean by construction
    intercept[IllegalArgumentException] {
      Dedup.simhashEstimatorAuditFor(planted, maxDisagreeBits = 32)
    }
  }

  test("q164 winnowing candidate audit: every planted pair surfaced by the q65 generator") {
    val rows = Dedup.winnowingCandidateAuditFor(planted)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(rows.length == 60, s"expected the 60 planted pairs, got ${rows.length}")
    assert(rows.forall(_._4),
      "an exact near-dup pair the winnowed candidate generator misses breaks q65's recall contract")
    // margin check: planted pairs share far more than the pinned 2 fps
    val fps = Dedup.winnowingFingerprints(planted)
      .as[(Long, Long)].collect().groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val minShared = rows.map { case (a, b, _, _) => (fps(a) & fps(b)).size }.min
    assert(minShared >= 5, s"expected >=5 shared fps on planted pairs, got $minShared")
  }

  test("q156 substring contamination: cross-boundary plant found; same-side runs invisible") {
    val rnd = new scala.util.Random(13)
    def word(): String = (0 until 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    def filler(n: Int): Seq[String] = (0 until n).map(_ => word())
    val plant = filler(25)     // pasted from train doc 1 into eval doc 100
    val trainRun = filler(30)  // shared by train docs 2 and 3 only
    val evalRun = filler(30)   // shared by eval docs 101 and 102 only
    val docs = Seq(
      1L -> (filler(15) ++ plant ++ filler(15)).mkString(" "),
      2L -> (filler(10) ++ trainRun ++ filler(10)).mkString(" "),
      3L -> (filler(10) ++ trainRun ++ filler(10)).mkString(" "),
      100L -> (filler(20) ++ plant ++ filler(20)).mkString(" "),
      101L -> (filler(10) ++ evalRun ++ filler(10)).mkString(" "),
      102L -> (filler(10) ++ evalRun ++ filler(10)).mkString(" ")
    ).toDF("doc_id", "text")
    val got = Dedup.substringContaminationFor(docs, col("doc_id") >= 100L)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, (r._2, r._3, r._4))).toMap
    // only the planted cross-boundary run surfaces, at its exact length;
    // train↔train and eval↔eval runs never cross the boundary join
    assert(got.keySet == Set(100L), s"contaminated eval docs: ${got.keySet}")
    assert(got(100L) == ((25L, 1L, 1L)), s"profile: ${got(100L)}")
  }

  test("q169 cluster cohesion: planted chain flagged, tight cluster clean, over-cap excluded") {
    // chain: a~b and b~c clear 0.4, a~c does not -> one 3-cluster built by
    // transitivity; tight: two near-identical copies
    def v(xs: Double*): Array[Float] = xs.toArray.map(_.toFloat)
    val dim = 8
    def unit(i: Int): Array[Float] = Array.tabulate(dim)(j => if (j == i) 1f else 0f)
    val a = unit(0)
    val c = unit(1)
    val b = Array.tabulate(dim)(j => (0.8f * a(j) + 0.8f * c(j)))  // cos(a,b)=cos(b,c)~0.707
    val t1 = unit(2)
    val t2 = Array.tabulate(dim)(j => if (j == 2) 1f else if (j == 3) 0.01f else 0f)
    val e = Seq(1L -> a, 2L -> b, 3L -> c, 10L -> t1, 11L -> t2)
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairsExactFor(e, 0.4)
    val labels = Dedup.connectedComponents(
      e.select(col("vec_id").as("id")),
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .select(col("id").as("vec_id"), col("lbl").as("cluster_id"))
    val got = Dedup.clusterCohesionAuditFor(e, labels, 0.4, 1000L)
      .as[(Long, Long, Boolean, Long, Option[Double], Option[Double], Option[Boolean])]
      .collect().map(r => (r._1, r)).toMap
    assert(got.size == 2, s"expected 2 multi-clusters, got ${got.keySet}")
    val chain = got(1L)
    assert(chain._2 == 3 && chain._3 && chain._4 == 3)
    assert(chain._7.contains(true), s"chain must flag chained: $chain")
    assert(chain._5.get < 0.4 && chain._6.get > chain._5.get)
    val tight = got(10L)
    assert(tight._2 == 2 && tight._7.contains(false), s"tight cluster clean: $tight")
    // over-cap: the 3-cluster is excluded from the pair join but reported
    val capped = Dedup.clusterCohesionAuditFor(e, labels, 0.4, 2L)
      .as[(Long, Long, Boolean, Long, Option[Double], Option[Double], Option[Boolean])]
      .collect().map(r => (r._1, r)).toMap
    assert(!capped(1L)._3 && capped(1L)._4 == 0 && capped(1L)._5.isEmpty
      && capped(1L)._7.isEmpty, s"over-cap cluster must be excluded: ${capped(1L)}")
    assert(capped(10L)._3, "under-cap cluster still audited")
  }

  test("q192 dup cluster histogram: mass conserved, consistent with q52's clusters") {
    val hist = Dedup.dupClusterHistogram(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Long)].collect()
    val docs = Tables.documents(spark, TestSpark.Sf0001).count()
    // every doc sits in exactly one cluster: the doc mass sums to the corpus
    assert(hist.map(_._3).sum == docs)
    // dropped mass = docs - clusters, per size class and in total
    hist.foreach { case (s, nc, nd, dropped) =>
      assert(nd == s * nc && dropped == (s - 1) * nc)
    }
    assert(hist.map(_._4).sum ==
      docs - Dedup.nearDupClusters(spark, TestSpark.Sf0001)
        .filter(col("keep")).count())
    // the fixture plants real near-dups: at least one size >= 2 class
    assert(hist.exists(_._1 >= 2), "no multi-doc cluster on the fixture")
  }

  test("near-dup router: a documents table rewritten in the session routes on its new count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_route").toString
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    docs.write.parquet(s"$dir/documents.parquet")
    val before = Tables.rowCount(spark, dir, "documents")
    assert(before == docs.count())
    // the MinHash signature leaf is scanned on the full-index route only
    def fullIndexRoute(): Boolean =
      TestSpark.pathsScannedBy(
        Dedup.nearDupClusters(spark, dir, maxFullIndexDocs = before).collect())
        .exists(_.contains("graft_ens_mhsigs_"))
    assert(fullIndexRoute(), "at the cap the router must keep the full index")
    // twice the rows: every document again under a fresh id
    docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000L))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Tables.rowCount(spark, dir, "documents") == 2 * before,
      "the count must follow the rewrite")
    assert(!fullIndexRoute(), "past the cap the router must take the winnowed route")
  }

  test("q181 dedup threshold curve: planted chain drops exactly per-threshold; curve is monotone") {
    // 3-shingle Jaccards by construction: J(1,2) = 7/9 -> 0.7778,
    // J(2,3) = 6/10 = 0.6, J(1,3) = 5/11 -> 0.4545 (below every gate).
    // The 1-2-3 CHAIN at t <= 0.6 is the case the exact CC accounting
    // exists for: keep-one drops TWO docs while the docs-with-a-lower-
    // neighbor proxy would count one.
    val rows = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i k"),
      (3L, "c d e f g h i k l m"),
      (50L, "p q r s t u v w x y"),   // pairless filler: touched != corpus
      (51L, "z1 z2 z3 z4 z5 z6 z7 z8"))
    val dir = java.nio.file.Files.createTempDirectory("graft_curve").toString
    rows.map { case (id, t) => (id, t, "en", "s0") }
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.dedupThresholdCurve(spark, dir)
      .as[(Double, Long, Long, Long, Long, Option[Double])].collect()
      .map(r => (r._1, (r._2, r._3, r._4, r._5, r._6))).toMap
    val mean50 = BigDecimal((0.7778 + 0.6) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0.5) == ((2L, 3L, 1L, 2L, Some(mean50))))
    assert(got(0.6) == ((2L, 3L, 1L, 2L, Some(mean50))))
    assert(got(0.7) == ((1L, 2L, 1L, 1L, Some(0.7778))))
    assert(got(0.8) == ((0L, 0L, 0L, 0L, None)))
    assert(got(0.9) == ((0L, 0L, 0L, 0L, None)))
    // fixture: every count is non-increasing in the threshold
    val fix = Dedup.dedupThresholdCurve(spark, TestSpark.Sf0001)
      .as[(Double, Long, Long, Long, Long, Option[Double])].collect()
      .sortBy(_._1)
    assert(fix.head._2 > 0, "fixture has no near-dup pairs at 0.5")
    fix.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo._2 >= hi._2 && lo._3 >= hi._3 && lo._5 >= hi._5,
          s"curve not monotone: $lo -> $hi")
      case _ =>
    }
  }

  test("shared leaves equal their direct derivations (the pure-function-of-key contract)") {
    import spark.implicits._
    // text pairs: the session-shared leaf IS the direct inverted-index verb
    val direct = Dedup.ngramJaccardPairsFor(
      Tables.documents(spark, TestSpark.Sf0001), 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val leaf = Dedup.ensureJaccardPairs(spark, TestSpark.Sf0001, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(leaf == direct && leaf.nonEmpty,
      s"text pair leaf diverged: ${leaf.size} vs ${direct.size}")
    // embedding pairs: fixture under the cap -> leaf == the exact kernel
    val e = Tables.embeddings(spark, TestSpark.Sf0001)
      .select(col("vec_id"), col("embedding"))
    val exactE = Dedup.embeddingNearDupPairsExactFor(e, 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val leafE = Dedup.ensureEmbedPairs(spark, TestSpark.Sf0001, 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(leafE == exactE && leafE.nonEmpty,
      s"embed pair leaf diverged: ${leafE.size} vs ${exactE.size}")
    // clusters: leaf == CC re-run over the same edges
    val cc = Dedup.connectedComponents(
      e.select(col("vec_id").as("id")),
      Dedup.ensureEmbedPairs(spark, TestSpark.Sf0001, 0.4)
        .select(col("id_a").as("src"), col("id_b").as("dst")))
      .select(col("id"), col("lbl")).as[(Long, Long)].collect().toSet
    val leafC = Dedup.ensureEmbedClusters(spark, TestSpark.Sf0001, 0.4)
      .select(col("vec_id"), col("cluster_id"))
      .as[(Long, Long)].collect().toSet
    assert(leafC == cc, s"cluster leaf diverged: ${leafC.size} vs ${cc.size}")
  }
}