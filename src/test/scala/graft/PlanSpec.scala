package graft

import graft.operators.{Relational, Similarity, TextAnalysis}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the scale posture depends on specific
  * optimizer outcomes (pushdown, pruning, broadcast, codegen), and a
  * refactor can silently lose them while staying value-correct. These
  * specs pin the plan properties, not the values.
  */
class PlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q13 projection: filters reach the parquet scan and columns are pruned") {
    val plan = planOf(Relational.projectScalar(spark, TestSpark.Sf0001))
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity)"),
      s"filter not pushed to scan:\n$plan")
    assert(!plan.contains("l_shipdate"), "untouched columns must be pruned from the scan")
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      "projection should run inside whole-stage codegen")
  }

  test("q25/q26 text metrics: one compiled projection, no lambda or regex") {
    Seq("q25" -> TextAnalysis.docMetrics _, "q26" -> TextAnalysis.langId _).foreach {
      case (q, build) =>
        val plan = planOf(build(spark, TestSpark.Sf0001))
        assert(!plan.contains("lambdafunction") && !plan.contains("regexp_"),
          s"$q: per-row lambda or regex left in the plan:\n$plan")
        assert(plan.contains("text_stats"), s"$q: native text-stats node missing:\n$plan")
        assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined,
          s"$q: Project must run inside whole-stage codegen:\n$plan")
    }
  }

  test("q03 join: all three dimension sides broadcast") {
    val plan = planOf(Relational.joinRevenueByNation(spark, TestSpark.Sf0001))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts:\n$plan")
  }

  /** The physical plan as planned, before AQE re-optimizes any stage. */
  private def physicalOf(df: org.apache.spark.sql.DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** The operators between the lineitem scan and the first exchange above
    * it (the scan's own stage), bottom-up. */
  private def lineitemStage(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] = {
    def pathTo(p: SparkPlan): Option[List[SparkPlan]] = p match {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(
          _.getName == "lineitem.parquet") => Some(List(s))
      case _ => p.children.iterator.map(pathTo).collectFirst { case Some(t) => t }
          .map(p :: _)
    }
    val plan = physicalOf(df)
    val up = pathTo(plan).getOrElse(fail(s"no lineitem scan in:\n$plan")).reverse
    up.takeWhile(!_.isInstanceOf[Exchange])
  }

  test("q03 join: lineitem makes one broadcast probe, the aggregate keys on n_nationkey") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = Relational.joinRevenueByNation(spark, TestSpark.Sf0001)
    val stage = lineitemStage(df)
    val probes = stage.count(_.isInstanceOf[BroadcastHashJoinExec])
    assert(probes == 1, s"lineitem must feed exactly one broadcast join, got $probes:\n" +
      stage.map(_.nodeName).mkString(" <- "))
    val keys = physicalOf(df).collect {
      case h: HashAggregateExec => h.groupingExpressions.map(_.name)
    }
    assert(keys.nonEmpty && keys.forall(_ == Seq("n_nationkey")),
      s"the revenue aggregate must key on n_nationkey alone, got $keys")
  }

  test("q03 switch: the shuffle route returns the broadcast route's rows at sf0.01") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val dir = "/root/testdata/sf0.01"
    // revenue is a double sum whose order follows the plan, so it may
    // differ in the last bit before rounding: compare within one cent
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sortBy(_._1).toSeq
    val bcast = Relational.joinRevenueByNation(spark, dir)
    assert(lineitemStage(bcast).exists(_.isInstanceOf[BroadcastHashJoinExec]))
    val bcastRows = rows(bcast)
    val shuffleRows = TestSpark.withBroadcastThreshold("-1") {
      val shuffled = Relational.joinRevenueByNation(spark, dir)
      assert(!lineitemStage(shuffled).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "with broadcast off, lineitem must not probe a broadcast relation")
      assert(physicalOf(shuffled).exists(_.isInstanceOf[SortMergeJoinExec]),
        "expected the sort-merge route")
      rows(shuffled)
    }
    assert(bcastRows.nonEmpty)
    assert(shuffleRows.map(r => (r._1, r._3)) == bcastRows.map(r => (r._1, r._3)))
    shuffleRows.zip(bcastRows).foreach { case (s, b) =>
      assert(math.abs(s._2 - b._2) <= 0.01 + 1e-9, s"${s._1}: revenue ${s._2} vs ${b._2}")
    }
  }

  test("cosine top-k: query side broadcast, cosine inside codegen") {
    val plan = planOf(Similarity.cosineTopK(spark, TestSpark.Sf0001))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n$plan")
    assert(plan.contains("cosine_f32"), "native cosine expression should appear in the plan")
  }

  test("ANN banding: candidate generation is an equi-join, never a cross join") {
    val plan = planOf(Similarity.annCosineTopK(spark, TestSpark.Sf0001))
    assert(!plan.contains("CartesianProduct"), s"cross join in ANN plan:\n$plan")
  }

  test("interval join: bucketing turns the range predicate into an equi-join") {
    val plan = planOf(Relational.intervalJoinCounts(spark, TestSpark.Sf0001))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"range join must not plan as a nested loop:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"expected an equi-join on (user_id, bucket):\n$plan")
  }

  test("q68 analytic windows: one exchange feeds both window specs") {
    val df = Relational.analyticEventWindows(spark, TestSpark.Sf0001)
    val plan = planOf(df)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"both window specs share user_id partitioning — expected exactly 1 exchange, got $exchanges:\n$plan")
    val windows = "Window".r.findAllIn(plan).length
    assert(windows >= 2, s"expected two Window operators:\n$plan")
  }

  test("q71 frame windows: both frames fold into one Window, one exchange, one sort") {
    val df = Relational.frameEventWindows(spark, TestSpark.Sf0001)
    val plan = planOf(df)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly 1 exchange:\n$plan")
    assert("Window".r.findAllIn(plan).length == 1,
      s"same partitioning+ordering must fold into ONE Window operator:\n$plan")
    assert("Sort ".r.findAllIn(plan).length == 1,
      s"expected exactly 1 sort:\n$plan")
  }

  test("q74 as-of join: one exchange + one window, never an inequality nested loop") {
    val plan = planOf(Relational.asOfPurchaseViews(spark, TestSpark.Sf0001))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"as-of must not plan as an inequality join:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"union-tag form needs exactly 1 exchange (user_id):\n$plan")
    assert("Window".r.findAllIn(plan).length == 1,
      s"expected exactly one Window operator:\n$plan")
  }

  test("q76/q77 cube + grouping sets: one Expand, one aggregation exchange") {
    for (df <- Seq(Relational.cubeOrderStats(spark, TestSpark.Sf0001),
        Relational.groupingSetsOrderStats(spark, TestSpark.Sf0001))) {
      val plan = planOf(df)
      assert("Expand".r.findAllIn(plan).length == 1,
        s"all grouping levels must come from ONE Expand:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
        s"expected the single aggregation exchange:\n$plan")
    }
  }

  test("q57 exact quantiles: selection over the histogram, never a per-language corpus sort") {
    val plan = planOf(graft.operators.TextAnalysis.qualityQuantiles(spark, TestSpark.Sf0001))
    assert(!plan.contains("row_number"),
      s"no rank window over raw corpus rows (5-value lang key = per-language total sort):\n$plan")
    // the cumulative window must consume the (lang, quality) HISTOGRAM —
    // a hash aggregate keyed on both columns — whose per-lang partitions
    // are bounded by distinct 6dp quality values, not corpus rows
    val histAgg = "HashAggregate\\(keys=\\[lang#\\d+, quality#\\d+".r.findFirstIn(plan)
    assert(histAgg.isDefined, s"expected a (lang, quality) histogram aggregate:\n$plan")
  }

  test("partitioned sink re-read: a client filter prunes partitions at the file index") {
    val out = graft.sources.Sources.scratchDir(spark, "plan_partition_prune")
    graft.pipeline.Preprocess.run(spark, TestSpark.Sf0001, out, nClients = 4)
    val plan = planOf(spark.read.parquet(out)
      .filter(org.apache.spark.sql.functions.col("client_id") === 1))
    val pruned = "PartitionFilters: \\[[^\\]]*client_id".r.findFirstIn(plan)
    assert(pruned.isDefined,
      s"client_id filter must land in PartitionFilters (pruned at the file index, " +
        s"before any bytes move), not in the row-level scan:\n$plan")
  }

  test("q59 decontamination: candidate generation is a shingle equi-join, never a cross join") {
    val plan = planOf(graft.operators.Dedup.decontaminationReport(spark, TestSpark.Sf0001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"cross-split candidates must come from the inverted index:\n$plan")
  }

  test("q83 heavy hitters: the verify pass re-scans parquet, never a corpus-sized checkpoint") {
    val plan = planOf(graft.operators.TextAnalysis.heavyHitterTokens(spark, TestSpark.Sf0001, 0.002))
    assert(!plan.contains("ExistingRDD"),
      s"no materialized exploded-token relation may feed the verify pass:\n$plan")
    assert(plan.contains("Scan parquet") || plan.contains("FileScan"),
      s"verify pass should read the column-pruned documents scan directly:\n$plan")
  }

  test("q126 containment: consumers read the shingle spill from parquet, never a corpus-sized checkpoint") {
    // the q83 discipline extended to q126: the shingle leaf fans out to
    // four consumers through a scratch-parquet spill — an ExistingRDD in
    // the plan would mean a corpus-sized executor-storage pin is back
    val plan = planOf(graft.operators.Dedup.containmentPairs(spark, TestSpark.Sf0001))
    assert(!plan.contains("ExistingRDD"),
      s"no materialized shingle relation may feed the containment join:\n$plan")
    assert(plan.contains("Scan parquet") || plan.contains("FileScan"),
      s"consumers should re-read the columnar spill:\n$plan")
  }

  test("IVF assignment is a single shuffle-free projection (no Exchange)") {
    val e = Tables.embeddings(spark, TestSpark.Sf0001)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val cents = Similarity.trainCentroids(e, nLists = 8, iters = 1)
    val plan = planOf(Similarity.ivfAssign(e, cents))
    assert(!plan.contains("Exchange"),
      s"coarse-quantizer assignment must not shuffle:\n$plan")
  }

  test("q205 z-order audit: the probe side broadcasts, zone maps come from ONE scan pass per layout") {
    val plan = planOf(
      graft.sources.Sources.zorderSkippingAudit(spark, TestSpark.Sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      s"the |probes|-row side must broadcast, never shuffle the zones:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"probe matching is an equi-join on dim:\n$plan")
    // two layouts -> two read-back aggregations of the written store, no more
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 2, s"zone maps must come from one read-back per layout, got $scans scans:\n$plan")
  }

  test("q208 join-cardinality: key-grain aggregates with map-side partials, never a row-grain join") {
    val plan = planOf(Relational.joinCardinalityAudit(spark, TestSpark.Sf0001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"cardinality must come from key-grain equi-joins:\n$plan")
    // per audited join: one Exchange per side's groupBy + one for the
    // final scalar agg = 3; four joins = 12. More means a lost partial.
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 12, s"expected <=3 exchanges per audited join, got $exchanges:\n$plan")
    // the exact side reduces BEFORE joining: the join inputs are
    // aggregates (SMJ at scale; Spark may pick ShuffledHashJoin on the
    // tiny fixture — either way it must be the FullOuter fuse)
    assert(plan.contains("FullOuter"),
      s"stats+truth must fuse into ONE full-outer key-grain join:\n$plan")
  }
}
