package graft

import graft.operators.Relational
import graft.optimizer.{JoinEnumeration, JoinGraph}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RelationalSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** The C_out tree DP on the path graph t0–t1–…: connected subsets are
    * the intervals, keyed here by (first, last) table, and edge k (the
    * k-th divisor) joins tables k and k + 1. */
  private def chainDp(rows: Seq[(String, Long)], divisors: Seq[Long])
      : Map[(Int, Int), JoinEnumeration.PhysDpCell] =
    JoinEnumeration.selingerPhysicalDp(JoinGraph(rows,
      divisors.zipWithIndex.map { case (d, k) => (k, k + 1, d) }), betaE2 = 0L)
      .map { case (m, c) =>
        (java.lang.Integer.numberOfTrailingZeros(m),
          31 - java.lang.Integer.numberOfLeadingZeros(m)) -> c
      }

  test("ensureLiExprHist: one name over two expressions builds two histograms") {
    def hist(e: org.apache.spark.sql.Column) =
      Relational.ensureLiExprHist(spark, TestSpark.Sf0001, "spec_same_name", e)
        .orderBy("bucket").as[(Long, Long, Long, Long)].collect().toSeq
    val qty = hist(floor(col("l_quantity")).cast("long"))
    val part = hist(floor(col("l_partkey")).cast("long"))
    assert(qty != part, "the second expression must not reuse the first's histogram")
    assert(qty.map(_._3).max <= 50L && part.map(_._3).max > 50L,
      s"bucket bounds must follow each expression's domain: $qty vs $part")
  }

  test("A6: approx_count_distinct within tolerance of the exact count") {
    // the raw estimate, range-checked (the query itself only exposes the
    // boolean; this pins the underlying HLL++ accuracy)
    val rows = Tables.lineitem(spark, TestSpark.Sf0001)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact"),
        approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx"))
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (flag, exact, approx) =>
      val err = math.abs(approx - exact).toDouble / exact
      assert(err <= 0.1, s"flag $flag: approx $approx vs exact $exact (err $err)")
    }
    val flags = Relational.distinctStats(spark, TestSpark.Sf0001)
      .filter(!col("approx_within_tol")).count()
    assert(flags == 0L)
  }

  test("q13 money rounding is exact decimal (half-cent case)") {
    // 19570.815 stored as a double is 19570.81499…; decimal-operand
    // arithmetic must land on .82 via exact decimal rounding, matching any
    // engine that does money math in decimal
    val df = Seq((170.181, 0.05, 0.01)).toDF("l_extendedprice", "l_discount", "l_tax")
    val charged = df.select(
      round(col("l_extendedprice").cast("decimal(12,2)")
        * (lit(1) - col("l_discount").cast("decimal(12,2)"))
        * (lit(1) + col("l_tax").cast("decimal(12,2)")), 2)
        .cast("double").as("charged")).as[Double].head()
    // 170.18 * 0.95 * 1.01 = 163.294171 → 163.29
    assert(charged == 163.29)
  }

  test("bucketed join plans with exactly one Exchange (the aggregation's, not the join's)") {
    // disable auto-broadcast: at fixture scale AQE would broadcast the
    // orders side, which is the right call for small dims but hides the
    // property under test — that two co-bucketed fact tables sort-merge
    // join with no shuffle on either input
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Relational.bucketedJoinRevenue(spark, TestSpark.Sf0001)
      df.collect() // materialize so AQE finalizes the executed plan
      val exec = df.queryExecution.executedPlan
      val finalPlan = exec match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
      val exchanges = "(?m)Exchange hashpartitioning".r.findAllIn(finalPlan).length
      assert(exchanges == 1, s"expected 1 exchange (final agg), got $exchanges in:\n$finalPlan")
      assert(finalPlan.contains("SortMergeJoin"), "bucketed join should be a sort-merge join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("q74 as-of join matches the brute-force latest-prior match") {
    val ev = Tables.events(spark, TestSpark.Sf0001)
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)].collect()
    val views = ev.filter(_._4 == "view")
    val expected = ev.filter(_._4 == "purchase").map { case (pid, uid, pms, _, pv) =>
      // latest view strictly before the purchase in (ts, event_id) order
      val prior = views.filter(v => v._2 == uid
        && (v._3 < pms || (v._3 == pms && v._1 < pid)))
      val m = if (prior.isEmpty) None
        else Some(prior.maxBy(v => (v._3, v._1)))
      (pid, uid, pv, m.map(_._1), m.map(_._5), m.map(pms - _._3))
    }.toSet
    val got = Relational.asOfPurchaseViews(spark, TestSpark.Sf0001)
      .as[(Long, Long, Double, Option[Long], Option[Double], Option[Long])]
      .collect().toSet
    assert(got == expected)
    // the no-prior-view case must be present and carried as nulls, or the
    // fixture isn't exercising the left-outer arm
    assert(expected.exists(_._4.isEmpty), "fixture has no null-match purchase")
  }

  test("q165 k-anonymity audit matches a hand-computed planted table") {
    // 3 QI classes: (0,A,bucket0) x 12 rows, (1,B,bucket1) x 4, (2,C,bucket2) x 1
    val rows = (0 until 12).map(i => (i.toLong, "c", 0, 500.0, "A")) ++
      (0 until 4).map(i => (100L + i, "c", 1, 1500.0, "B")) ++
      Seq((200L, "c", 2, 2500.0, "C"))
    val dir = java.nio.file.Files.createTempDirectory("graft_kanon").toString
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = Relational.kAnonymityAudit(spark, dir, ks = Seq(2, 5, 13))
      .as[(Int, Long, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, (r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    // k=2: only the singleton class is small -> 1 risk row of 17
    assert(got(2) == ((17L, 3L, 1L, 1L, 1L, 0.058824)))
    // k=5: the 4-row and 1-row classes are small -> 5 risk rows
    assert(got(5) == ((17L, 3L, 1L, 2L, 5L, 0.294118)))
    // k=13: every class is small -> the whole table is at risk
    assert(got(13) == ((17L, 3L, 1L, 3L, 17L, 1.0)))
  }

  test("q178 l-diversity audit matches a hand-computed planted table; entropy strictly stronger than distinct") {
    // sensitive value = last digit of c_custkey
    // class A: 8 rows, 4 sensitive digits x2 -> H = ln 4 = 1.386294
    // class B: 6 rows, one digit             -> H = 0 (fully disclosed)
    // class C: 9 rows, digits 7+1+1          -> H = ln 9 - 7 ln 7 / 9 =
    //   0.683739 < ln 2: distinct-2-diverse (3 values) but NOT
    //   entropy-2-diverse — the case the entropy audit exists to catch
    val keysA = Seq(1L, 11L, 2L, 12L, 3L, 13L, 4L, 14L)
    val keysB = Seq(5L, 15L, 25L, 35L, 45L, 55L)
    val keysC = Seq(6L, 16L, 26L, 36L, 46L, 56L, 66L, 7L, 8L)
    val rows =
      keysA.map(k => (k, "c", 0, 500.0, "A")) ++
      keysB.map(k => (k, "c", 1, 1500.0, "B")) ++
      keysC.map(k => (k, "c", 2, 2500.0, "C"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ldiv").toString
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = Relational.lDiversityAudit(spark, dir, ls = Seq(2, 3, 5))
      .as[(Int, Long, Long, Long, Long, Long, Double, Long)].collect()
      .map(r => (r._1, (r._2, r._3, r._4, r._5, r._6, r._7, r._8))).toMap
    assert(got(2) == ((23L, 3L, 1L, 1L, 6L, 0.0, 2L)))
    assert(got(3) == ((23L, 3L, 1L, 1L, 6L, 0.0, 2L)))
    assert(got(5) == ((23L, 3L, 1L, 3L, 23L, 0.0, 3L)))
    // invariant (H <= ln n_distinct): entropy violations can never
    // undercount distinct violations — on the fixture corpus too
    val fix = Relational.lDiversityAudit(spark, TestSpark.Sf0001)
      .as[(Int, Long, Long, Long, Long, Long, Double, Long)].collect()
    assert(fix.nonEmpty)
    fix.foreach { r =>
      assert(r._8 >= r._5, s"l=${r._1}: entropy violations ${r._8} < distinct ${r._5}")
      assert(r._7 >= 0.0)
    }
    // the QI classes are q165's: same class count on the fixture
    val kClasses = Relational
      .kAnonymityClassCounts(Tables.customer(spark, TestSpark.Sf0001)).count()
    assert(fix.head._3 == kClasses, "q178 QI classes drifted from q165's")
  }

  test("q180 t-closeness audit matches a hand-computed planted table, absent mass folded in") {
    // sensitive value = last custkey digit; two UNEQUAL classes so the
    // TVDs differ (equal-size classes are TVD-symmetric by construction):
    // class A: 4 rows {1,1,2,2}; class B: 12 rows all {3}
    // global q = (2/16, 2/16, 12/16) = (.125, .125, .75)
    // TVD_A = (|.5-.125|*2 + .75)/2 = 0.75  (v3 absent from A)
    // TVD_B = (.125 + .125 + |1-.75|)/2 = 0.25
    val keysA = Seq(1L, 11L, 2L, 12L)
    val keysB = (0 until 12).map(i => 3L + 10L * i)
    val rows = keysA.map(k => (k, "c", 0, 500.0, "A")) ++
      keysB.map(k => (k, "c", 1, 1500.0, "B"))
    val dir = java.nio.file.Files.createTempDirectory("graft_tclose").toString
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = Relational.tClosenessAudit(spark, dir, ts = Seq(0.2, 0.3, 0.5))
      .as[(Double, Long, Long, Double, Long, Long)].collect()
      .map(r => (r._1, (r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got(0.2) == ((16L, 2L, 0.75, 2L, 16L)))
    assert(got(0.3) == ((16L, 2L, 0.75, 1L, 4L)))
    assert(got(0.5) == ((16L, 2L, 0.75, 1L, 4L)))
    // fixture invariants: TVD in [0, 1]; same QI classes as q165/q178
    val fix = Relational.tClosenessAudit(spark, TestSpark.Sf0001)
      .as[(Double, Long, Long, Double, Long, Long)].collect()
    assert(fix.nonEmpty)
    fix.foreach { r => assert(r._4 >= 0.0 && r._4 <= 1.0, s"tvd ${r._4}") }
    val kClasses = Relational
      .kAnonymityClassCounts(Tables.customer(spark, TestSpark.Sf0001)).count()
    assert(fix.head._3 == kClasses, "q180 QI classes drifted from q165's")
  }

  test("q186 join advisor: planted sides produce the hand-computed decision row") {
    // left: keys 1..5 x2 + hot key 6 x10 -> 20 rows, 6 keys, max 10
    // right: keys 1..4 + unmatched 7 -> 5 rows, 5 keys
    val left = ((1 to 5).flatMap(k => Seq(k, k)) ++ Seq.fill(10)(6))
      .map(k => (k.toLong, "x")).toDF("lk", "pad")
    val right = (Seq(1, 2, 3, 4, 7)).map(k => (k.toLong, "y")).toDF("rk", "pad")
    val got = Relational.adviseJoin("t", left, "lk", right, "rk", 10000L)
      .as[(String, Long, Long, Long, Long, Long, Long, String, String, Double)]
      .collect()
    assert(got.length == 1)
    // matched keys 1..4, matched left rows 8; build right (5 <= 20);
    // broadcast (5 <= 10k); probe-side skew = 10 * 6 / 20 = 3.0
    assert(got.head == (("t", 20L, 5L, 6L, 5L, 4L, 8L, "right", "broadcast", 3.0)))
    // a tiny threshold flips the call to shuffle, nothing else moves
    val shuffled = Relational.adviseJoin("t", left, "lk", right, "rk", 2L)
      .as[(String, Long, Long, Long, Long, Long, Long, String, String, Double)]
      .collect().head
    assert(shuffled._9 == "shuffle" && shuffled._8 == "right"
      && shuffled._10 == 3.0)
  }

  test("q189 table stats: nulls excluded from ndv/width, min/max typed not lexicographic") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stats").toString
    Seq((Some(9L), Some("A")), (Some(9L), Some("B")),
        (Some(10L), None), (None, Some("B")))
      .toDF("o_custkey", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Relational.tableStats(spark, dir,
        Seq("orders" -> Seq("o_custkey", "o_orderstatus")))
      .as[(String, String, Long, Long, Long, String, String, Double)]
      .collect().map(r => r._2 -> r).toMap
    // typed min/max: 9 < 10 numerically ("10" < "9" lexicographically —
    // the bug this assertion exists to catch)
    val w = BigDecimal(4.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("o_custkey") ==
      (("orders", "o_custkey", 4L, 1L, 2L, "9", "10", w)))
    assert(got("o_orderstatus") ==
      (("orders", "o_orderstatus", 4L, 1L, 2L, "A", "B", 1.0)))
  }

  test("q190 column histograms: rank-selected boundaries match a driver sort, ties collapse correctly") {
    val got = Relational.columnHistograms(spark, TestSpark.Sf0001)
      .as[(String, String, Double, Double)].collect()
      .map(r => (r._1, r._3) -> r._4).toMap
    // driver recompute: value at rank ceil(p*n) in the sorted column
    def expect(vals: Array[Double], p: Double): Double =
      if (p == 0.0) vals.min
      else if (p == 1.0) vals.max
      else vals.sorted.apply(math.ceil(p * vals.length).toInt - 1)
    val cols = Seq(
      ("orders", Tables.orders(spark, TestSpark.Sf0001), "o_totalprice"),
      ("lineitem", Tables.lineitem(spark, TestSpark.Sf0001), "l_quantity"),
      ("customer", Tables.customer(spark, TestSpark.Sf0001), "c_acctbal"))
    cols.foreach { case (t, df, c) =>
      val vals = df.select(col(c).cast("double")).as[Double].collect()
      Seq(0.0, 0.25, 0.5, 0.75, 1.0).foreach { p =>
        assert(got((t, p)) == expect(vals, p), s"$t.$c p=$p")
      }
    }
    // l_quantity is heavily tied (integral 1..50): the distinct-value
    // histogram path must still select the exact rank value
    val q = Tables.lineitem(spark, TestSpark.Sf0001)
      .select(col("l_quantity").cast("double")).as[Double].collect()
    assert(q.distinct.length < q.length, "tie fixture assumption broken")
  }

  test("q166 quantile sketch audit: flags pinned true and exact quantiles match a driver recompute") {
    val got = Relational.quantileSketchAudit(spark, TestSpark.Sf0001)
      .as[(String, Long, Double, Double, Boolean, Boolean)].collect()
    assert(got.nonEmpty)
    got.foreach { case (src, _, _, _, ok50, ok95) =>
      assert(ok50 && ok95, s"source $src: GK rank guarantee violated — broken sketch")
    }
    // exact percentiles vs a driver-side recompute of the (n-1)*q
    // interpolation on the raw lengths
    val lens = Tables.documents(spark, TestSpark.Sf0001)
      .select(col("source"), length(col("text")).cast("long"))
      .as[(String, Long)].collect().groupBy(_._1).map { case (s0, xs) =>
        s0 -> xs.map(_._2).sorted
      }
    def interp(xs: Array[Long], q: Double): Double = {
      val pos = q * (xs.length - 1)
      val lo = pos.toInt
      val frac = pos - lo
      val v = if (lo + 1 < xs.length) xs(lo) + frac * (xs(lo + 1) - xs(lo))
              else xs(lo).toDouble
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    got.foreach { case (src, n, p50, p95, _, _) =>
      assert(n == lens(src).length)
      assert(p50 == interp(lens(src), 0.5), s"$src p50")
      assert(p95 == interp(lens(src), 0.95), s"$src p95")
    }
    // tie-torture: constant column — the answer's rank range spans the
    // whole table and must still satisfy (and not trip) the rank check
    val dirT = java.nio.file.Files.createTempDirectory("graft_qsk").toString
    (0 until 100).map(i => (i.toLong, "x" * 7, "en", "s0", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dirT/documents.parquet")
    val tied = Relational.quantileSketchAudit(spark, dirT)
      .as[(String, Long, Double, Double, Boolean, Boolean)].head()
    assert(tied == (("s0", 100L, 7.0, 7.0, true, true)))
  }

  test("q173 shuffle skew audit: planted hot key flagged, uniform key clean, fixture replays") {
    // hot: one key carries 900 of 1000 rows over 101 keys -> ratio ~90.9
    val hot = ((0 until 900).map(_ => 7L) ++ (0 until 100).map(i => 100L + i))
      .toDF("k")
    val hs = Relational.shuffleSkewStatsFor(hot, "k", "hot")
      .as[(String, Long, Long, Long, Double, Double, Boolean)].head()
    assert(hs == (("hot", 1000L, 101L, 900L, 0.9, 90.9, true)), s"hot: $hs")
    // uniform: every key exactly twice -> ratio exactly 1, no salt
    val uni = (0 until 1000).flatMap(i => Seq(i.toLong, i.toLong)).toDF("k")
    val us = Relational.shuffleSkewStatsFor(uni, "k", "uni")
      .as[(String, Long, Long, Long, Double, Double, Boolean)].head()
    assert(us == (("uni", 2000L, 1000L, 2L, 0.001, 1.0, false)), s"uni: $us")
    // fixture: replay one key's stats driver-side
    val orders = Tables.orders(spark, TestSpark.Sf0001)
      .select(col("o_custkey")).as[Long].collect()
    val counts = orders.groupBy(identity).map(_._2.length)
    val got = Relational.shuffleSkewAudit(spark, TestSpark.Sf0001)
      .filter(col("shuffle_key") === "orders.o_custkey")
      .as[(String, Long, Long, Long, Double, Double, Boolean)].head()
    assert(got._2 == orders.length && got._3 == counts.size
      && got._4 == counts.max, s"fixture replay: $got")
  }

  test("q175 retention cohorts: week-0 retention is 1.0 and the matrix replays driver-side") {
    val got = graft.streaming.EventWindows.retentionCohorts(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.filter(_._2 == 0L).foreach { r =>
      assert(r._3 == r._4 && r._5 == 1.0, s"week-0 row must be full retention: $r")
    }
    // driver replay from raw events
    val ev = Tables.events(spark, TestSpark.Sf0001)
      .select(col("user_id"), to_date(col("ts"))).as[(Long, java.sql.Date)].collect()
    val anchorD = ev.map(_._2.toLocalDate).min(Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
    val uw = ev.map { case (u, d) =>
      (u, Math.floorDiv(java.time.temporal.ChronoUnit.DAYS.between(anchorD, d.toLocalDate), 7L))
    }.distinct
    val cohort = uw.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).min }
    val sizes = cohort.groupBy(_._2).map { case (c, xs) => c -> xs.size.toLong }
    val cells = uw.groupBy(x => (cohort(x._1), x._2 - cohort(x._1)))
      .map { case (k, xs) => k -> xs.map(_._1).distinct.size.toLong }
    val gotMap = got.map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(gotMap.keySet == cells.keySet)
    cells.foreach { case (k, active) =>
      assert(gotMap(k) == ((sizes(k._1), active)), s"cell $k: ${gotMap(k)}")
    }
  }

  test("q176 basket lift: planted baskets give exact support/confidence/lift, mega-basket excluded") {
    // baskets: o1={10,20,30}, o2={10,20}, o3={10}, o4={20,30}, o5=mega (dupe rows prove dedup)
    val rows = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L), (1L, 10L),
      (2L, 10L), (2L, 20L),
      (3L, 10L),
      (4L, 20L), (4L, 30L)) ++ (0 until 150).map(i => (5L, 1000L + i))
    val dir = java.nio.file.Files.createTempDirectory("graft_basket").toString
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Relational.basketLift(spark, dir, minSupport = 2L, maxBasket = 100)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    // mega-basket o5 excluded -> N = 4 kept orders; pairs >= 2: (10,20)=2, (20,30)=2
    assert(got.keySet == Set((10L, 20L), (20L, 30L)), s"pairs: ${got.keySet}")
    // (10,20): n_a=3 (o1,o2,o3), n_b=3 (o1,o2,o4): conf 2/3 -> 0.666667 (half-up),
    // lift 2*4/(3*3) = 0.888889
    assert(got((10L, 20L)) == ((2L, 3L, 3L, 0.666667, 0.888889)), s"${got((10L, 20L))}")
    // (20,30): n_a=3, n_b=2: conf 0.666667, lift 2*4/6 = 1.333333
    assert(got((20L, 30L)) == ((2L, 3L, 2L, 0.666667, 1.333333)), s"${got((20L, 30L))}")
  }

  test("dupGate finds only keys with multiple lineitems") {
    val df = Relational.dupGate(spark, TestSpark.Sf0001)
    assert(df.filter(col("cnt") <= 1).count() == 0)
    assert(df.count() > 0)
  }

  test("q196 sessionization: planted gaps split sessions exactly; ties share a session") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1: 10-min gap keeps a session, 40-min gap splits; u2: singleton;
    // u3: tied timestamps share a session, 31-min gap splits
    val rows = Seq(
      (1L, ts("2024-03-01 00:00:00")), (1L, ts("2024-03-01 00:10:00")),
      (1L, ts("2024-03-01 00:50:00")),
      (2L, ts("2024-03-01 01:00:00")),
      (3L, ts("2024-03-01 02:00:00")), (3L, ts("2024-03-01 02:00:00")),
      (3L, ts("2024-03-01 02:31:00")))
    val dir = java.nio.file.Files.createTempDirectory("graft_sess").toString
    rows.toDF("user_id", "ts").write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.streaming.EventWindows.sessionizationAudit(spark, dir)
      .as[(Long, Long, Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got.keySet == Set(1L, 2L), s"session sizes: ${got.keySet}")
    // singletons: u1's third event, u2, u3's post-gap event — all dur 0
    assert(got(1L) == ((3L, 3L, 0.0, 0L)), s"size-1 row: ${got(1L)}")
    // pairs: u1's first two (10 min = 6e8 us), u3's tied two (dur 0)
    assert(got(2L) == ((2L, 2L, 3.0e8, 600000000L)), s"size-2 row: ${got(2L)}")
  }

  test("q197 RFM: planted quartile spread scores each customer into its own diagonal cell") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // recency 9/6/3/0 days, frequency 1/2/3/4, monetary 1000/2000/3000/4000c:
    // every measure's quartile cuts interleave the four customers
    val rows =
      Seq((1L, ts("2024-03-01"), 10.0)) ++
      (0 until 2).map(i => (2L, ts("2024-03-04"), 10.0)) ++
      (0 until 3).map(i => (3L, ts("2024-03-07"), 10.0)) ++
      (0 until 4).map(i => (4L, ts("2024-03-10"), 10.0))
    val dir = java.nio.file.Files.createTempDirectory("graft_rfm").toString
    rows.toDF("o_custkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Relational.rfmSegments(spark, dir)
      .as[(Long, Long, Long, Long, Double, Double, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> ((r._4, r._5, r._6, r._7))).toMap
    assert(got.keySet == Set((1L, 1L, 1L), (2L, 2L, 2L), (3L, 3L, 3L), (4L, 4L, 4L)),
      s"cells: ${got.keySet}")
    assert(got((1L, 1L, 1L)) == ((1L, 9.0, 1.0, 1000L)))
    assert(got((4L, 4L, 4L)) == ((1L, 0.0, 4.0, 4000L)))
    // cell counts cover every customer exactly once
    assert(got.values.map(_._1).sum == 4L)
  }

  test("q197 RFM: approx_percentile scale route ≡ exact route on integral-rank quartiles") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // 5 customers → (n-1)·q ∈ {1,2,3} for q ∈ {.25,.5,.75}: every
    // quartile cut lands ON an order statistic, where the exact
    // interpolating percentile and the sketch's returned data value
    // coincide — the regime the approx route is declared for
    val rows = (1 to 5).flatMap { c =>
      (0 until c).map(_ => (c.toLong, ts(f"2024-03-${3 * c}%02d"), 10.0 * c))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_rfm_ax").toString
    rows.toDF("o_custkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Double, Double, Long)].collect().toSet
    val exact = canon(Relational.rfmSegments(spark, dir, exactQuartiles = true))
    val approx = canon(Relational.rfmSegments(spark, dir, exactQuartiles = false))
    assert(exact.nonEmpty && exact.toSeq.map(_._4).sum == 5L, s"exact cells: $exact")
    assert(approx == exact, s"approx route diverged:\n  exact=$exact\n  approx=$approx")
  }

  test("q207 selectivity estimation: internally consistent, bounded error on uniform columns") {
    val rows = Relational.selectivityEstimationAudit(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length == 12, s"want 2 cols x 6 preds, got ${rows.length}")
    rows.foreach { case (c, p, plo, phi, actual, estE6, errPpm) =>
      assert(plo <= phi && actual > 0 && estE6 > 0, s"($c,$p) degenerate")
      val want = math.abs(estE6 - actual * 1000000L) / actual
      assert(errPpm == want, s"($c,$p) err_ppm $errPpm != recomputed $want")
      // both audited columns are near-uniform: a 16-bucket equi-depth
      // histogram must estimate quarter-domain ranges within 15%
      assert(errPpm <= 150000L, s"($c,$p) err ${errPpm} ppm > 15%")
    }
  }

  test("q207 estimate sums approximately preserve total mass across the stride sweep") {
    // predicates tile the domain at 1/8 strides with 1/4 widths — each
    // point is covered ~2x, so Σ actual over the sweep ≈ 2 · |table|
    // minus edge loss; pin the estimator tracks the SAME sum shape
    val rows = Relational.selectivityEstimationAudit(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (c, rs) =>
      val sumActual = rs.map(_._5).sum
      val sumEstE6 = rs.map(_._6).sum
      val ratio = sumEstE6.toDouble / (sumActual * 1000000L)
      assert(ratio > 0.9 && ratio < 1.1, s"$c sweep mass ratio $ratio")
    }
  }

  test("q208 join cardinality: exact on PK-FK joins, underestimates the skewed self-join") {
    val rows = Relational.joinCardinalityAudit(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows.size == 4, s"want 4 joins, got ${rows.keySet}")
    // PK-FK: one side's key is unique, ndv(fk) <= ndv(pk), so
    // |A|·|B|/max(ndv) = |A| — the formula is exact here by construction
    Seq("lineitem*orders", "orders*customer", "lineitem*part").foreach { j =>
      val (_, _, _, _, _, est, actual, err) = rows(j)
      assert(est == actual && err == 0L, s"$j: est=$est actual=$actual err=$err")
    }
    // non-unique both sides: Σ cnt(u)² > n²/ndv whenever counts vary
    // (Cauchy–Schwarz) — the audit must SHOW the underestimate
    val (_, _, _, _, _, estS, actualS, errS) = rows("events*events")
    assert(estS < actualS && errS > 0L,
      s"events self-join: est=$estS actual=$actualS — uniformity failure not visible")
    // and err_ppm is the recomputable definition
    assert(errS == math.abs(estS - actualS) * 1000000L / actualS)
  }

  test("q212 stale stats: accurate below the cutoff, collapsed on the appended tail, fresh tracks everywhere") {
    val rows = Relational.staleStatsAudit(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._1)
    assert(rows.length == 8)
    val li = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
    val b = li.agg(min(col("l_orderkey")), max(col("l_orderkey"))).head()
    val cutoff = b.getLong(0) + 4L * (b.getLong(1) - b.getLong(0) + 1L) / 5L
    rows.foreach { case (p, plo, phi, actual, estStale, estFresh, errS, errF) =>
      assert(actual > 0, s"pred $p matched nothing")
      // fresh stats track everywhere the in-range sweep goes
      assert(errF <= 150000L, s"pred $p fresh err $errF ppm")
      if (phi <= cutoff) {
        // nothing below the cutoff changed: the stale histogram is as
        // good as the fresh one there (boundaries differ — both small)
        assert(errS <= 150000L,
          s"pred $p fully-settled range must stay accurate: stale err $errS")
      }
      if (plo > cutoff) {
        // fully in the appended range: the stale histogram never saw it
        assert(estStale == 0L && errS == 1000000L,
          s"pred $p beyond stale range: est=$estStale err=$errS")
      }
    }
    // the sweep must actually exercise both regimes
    assert(rows.exists(_._3 <= cutoff) && rows.exists(_._2 > cutoff),
      s"sweep must cross the cutoff $cutoff: ${rows.map(r => (r._2, r._3)).toSeq}")
  }

  test("q207 equi-depth buckets: partition invariants and exact mass conservation") {
    val li = Tables.lineitem(spark, TestSpark.Sf0001)
      .select(col("l_partkey").cast("long").as("v"))
    val n = li.count()
    val buckets = Relational.equiDepthBuckets(li, 16, "props")
      .orderBy(col("bucket"))
      .as[(Long, Long, Long, Long)].collect()
    // counts sum to n; ranges well-formed, ordered, non-overlapping
    assert(buckets.map(_._4).sum == n)
    buckets.foreach { case (b, lo, hi, cnt) =>
      assert(lo <= hi && cnt > 0, s"bucket $b degenerate: [$lo,$hi] cnt=$cnt")
    }
    buckets.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._3 < b._2, s"buckets overlap: ${a._1}..hi=${a._3} vs ${b._1}..lo=${b._2}")
      case _ =>
    }
    // the estimator is EXACTLY mass-conserving on a full-domain predicate:
    // every bucket's overlap equals its span, so part_e6 = cnt * 1e6
    val domain = spark.range(1).select(lit(0L).as("pred_id"),
      lit(buckets.map(_._2).min).as("p_lo"), lit(buckets.map(_._3).max).as("p_hi"))
    val est = Relational.estimateRanges(domain,
        Relational.equiDepthBuckets(li, 16, "props2"), "est_e6")
      .as[(Long, Long, Long, Long)].head()._4
    assert(est == n * 1000000L, s"full-domain estimate $est != ${n * 1000000L}")
  }

  test("q215 skew audit: plain equi-depth fails on the hot key, the heavy-hitter hybrid holds") {
    val rows = Relational.selectivitySkewAudit(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._2)
    assert(rows.length == 6, s"want 6 preds, got ${rows.length}")
    // exactly one planted heavy hitter; errors recomputable from columns
    rows.foreach { case (_, p, plo, phi, actual, plainE6, hybE6, errP, errH, nh) =>
      assert(nh == 1L, s"pred $p: n_heavy $nh != 1")
      assert(plo <= phi && actual > 0, s"pred $p degenerate")
      assert(errP == math.abs(plainE6 - actual * 1000000L) / actual,
        s"pred $p err_plain_ppm not recomputable")
      assert(errH == math.abs(hybE6 - actual * 1000000L) / actual,
        s"pred $p err_hybrid_ppm not recomputable")
      // the mitigation holds everywhere: singleton-exact + tail
      // interpolation stays within 5% on every window
      assert(errH <= 50000L, s"pred $p hybrid err $errH ppm > 5%")
    }
    // the honest negative is real and the fix is an order of magnitude:
    // uniform-within-bucket smears the hot mass across half the domain
    val worstPlain = rows.map(_._8).max
    val worstHybrid = rows.map(_._9).max
    assert(worstPlain >= 500000L,
      s"plain worst $worstPlain ppm — the skew failure did not materialize")
    assert(worstPlain >= 10L * worstHybrid,
      s"plain worst $worstPlain < 10x hybrid worst $worstHybrid")
    // and the failure has the overestimate shape: some window MISSING
    // the hot key (tiny actual) gets >= 5x its true mass from plain's
    // smear of the hot bucket across its value span
    val missHot = rows.filter(r => r._5 < 10000L)
    assert(missHot.nonEmpty && missHot.exists(r => r._6 >= r._5 * 5000000L),
      "no miss-hot window shows the smeared-mass overestimate")
  }

  test("q217 DPP join: fact scan carries a dynamic pruning subquery; result equals the unpartitioned join; layout prunes") {
    val got = Relational.dppPrunedJoin(spark, TestSpark.Sf0001)
    // the physical claim: Spark planned a DynamicPruningExpression on
    // the fact's partition column, fed by the dim side at runtime
    val plan = got.queryExecution.executedPlan.toString()
    assert(plan.contains("dynamicpruning"),
      s"fact scan must carry a dynamic pruning partition filter:\n${plan.take(3000)}")
    val (tot, dimM, n, sumQty, rev) =
      got.as[(Long, Long, Long, Double, Double)].head()
    assert(dimM > 0 && dimM < tot,
      s"the quarter must survive AND prune: $dimM of $tot months")
    assert(dimM <= 3, s"one quarter is at most 3 months, got $dimM")
    // semantic claim: equals the plain unpartitioned join/filter
    val li = graft.Tables.lineitem(spark, TestSpark.Sf0001)
      .withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
      .filter(substring(col("m"), 1, 4).cast("int") === 1998 &&
        floor((substring(col("m"), 6, 2).cast("int") - 1) / 3).cast("int") + 1 === 2)
    val want = li.agg(count(lit(1)), sum(col("l_quantity")),
        round(sum(col("l_extendedprice")), 2))
      .as[(Long, Double, Double)].head()
    assert((n, sumQty, rev) == want, s"DPP join ${(n, sumQty, rev)} != $want")
    // physical claim two: the month layout genuinely bounds the read —
    // the static equivalent of the runtime filter opens strictly fewer
    // files (every month dir holds rows, so input_file_name is exact)
    val root = graft.sources.Sources.ensureStore(spark, "dppfact",
      TestSpark.Sf0001)(_ => fail("store must already be memoized"))
    val fact = spark.read.parquet(root)
    val months = li.select(col("m")).distinct().as[String].collect().toSeq
    val prunedFiles = fact.filter(col("ship_month").isin(months: _*))
      .select(input_file_name()).distinct().count()
    val allFiles = fact.select(input_file_name()).distinct().count()
    assert(prunedFiles < allFiles,
      s"month layout must prune: $prunedFiles of $allFiles files")
  }

  test("q218 runtime bloom join: filter planned, flag computed (off-switch flips it), aggregate exact") {
    val got = Relational.runtimeBloomJoin(spark, TestSpark.Sf0001)
      .as[(Boolean, Long, Double, Double)].head()
    val (planned, n, sumQty, rev) = got
    assert(planned, "InjectRuntimeFilter must plant a might_contain filter")
    assert(n > 0, "the Brand#13 slice must join some lineitems")
    // exact aggregate against the plain join
    val want = graft.Tables.lineitem(spark, TestSpark.Sf0001)
      .join(graft.Tables.part(spark, TestSpark.Sf0001)
        .filter(col("p_brand") === "Brand#13" && col("p_size") <= 25)
        .select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .agg(count(lit(1)), sum(col("l_quantity")),
        round(sum(col("l_extendedprice")), 2))
      .as[(Long, Double, Double)].head()
    assert((n, sumQty, rev) == want, s"runtime-bloom join $got != $want")
    // the flag is computed, not constant: with the rule disabled the
    // same shuffle join plans WITHOUT a runtime filter
    val conf = spark.conf
    val saved = Seq("spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val off = graft.Tables.lineitem(spark, TestSpark.Sf0001)
        .select(col("l_partkey"), col("l_quantity"))
        .join(graft.Tables.part(spark, TestSpark.Sf0001)
          .filter(col("p_brand") === "Brand#13" && col("p_size") <= 25)
          .select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
      assert(!off.queryExecution.executedPlan.toString().contains("might_contain"),
        "rule disabled must mean no runtime filter in the plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q219 AQE skew join: hot partition split at runtime, flag computed, aggregate exact") {
    val rows = Relational.aqeSkewJoin(spark, TestSpark.Sf0001)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
    assert(rows.nonEmpty && rows.forall(_._4),
      s"AQE must mark the skewed join split: ${rows.filterNot(_._4).toSeq}")
    // exact per-group aggregate against the plain (non-AQE-tuned) join
    val li = graft.Tables.lineitem(spark, TestSpark.Sf0001)
      .select(when(pmod(col("l_orderkey"), lit(10L)) =!= 0L, lit(1L))
        .otherwise(col("l_partkey")).as("k"), col("l_quantity"))
    val dim = graft.Tables.part(spark, TestSpark.Sf0001)
      .select(col("p_partkey").as("k"))
      .withColumn("grp", pmod(col("k"), lit(7L)))
    val want = li.join(dim, Seq("k")).groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("s"))
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(rows.map(r => (r._1, r._2, r._3)).toSeq == want,
      s"skew-split join disagrees with the plain join")
    // the hot key dominates: group (1 % 7) carries most of the mass
    val hot = rows.find(_._1 == 1L % 7L).get
    assert(hot._2 > rows.map(_._2).sum / 2, "planted skew missing")
    // flag computed, not constant: same join with skew handling OFF
    // finalizes without a skew split
    val conf = spark.conf
    val saved = Seq("spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val off = li.join(dim, Seq("k")).groupBy(col("grp"))
        .agg(count(lit(1)).as("n"))
      off.collect()
      assert(!off.queryExecution.executedPlan.toString().contains("skew=true"),
        "skew handling disabled must mean no skew split in the final plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q221 CBO plan flip: advice executed (shape pinned both ways), arms result-identical, decision threshold-driven") {
    val rows = Relational.cboPlanFlipAudit(spark, TestSpark.Sf0001)
      .as[(String, String, String, String, Boolean, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(rows.length == 4, s"want 2 joins x 2 arms, got ${rows.length}")
    val byJoin = rows.groupBy(_._1)
    byJoin.foreach { case (label, arms) =>
      val followed = arms.find(_._2 == "followed").get
      val inverted = arms.find(_._2 == "inverted").get
      def shapeOf(strategy: String) =
        if (strategy == "broadcast") "BroadcastHashJoin" else "SortMergeJoin"
      // the physical claim: the engine EXECUTED the advised shape, and
      // the inverted arm executed the other one (the flip proves the
      // decision reaches the planner — neither arm is a constant)
      assert(followed._4 == shapeOf(followed._3),
        s"$label followed arm ran ${followed._4}, advice ${followed._3}")
      val flipped = if (followed._3 == "broadcast") "shuffle" else "broadcast"
      assert(inverted._4 == shapeOf(flipped),
        s"$label inverted arm ran ${inverted._4}, want ${shapeOf(flipped)}")
      assert(followed._4 != inverted._4, s"$label arms ran the same shape")
      assert(followed._5 && !inverted._5, s"$label followed flags wrong")
      // the semantic claim: strategy changes cost, never answers
      assert((followed._9, followed._10) == (inverted._9, inverted._10),
        s"$label arms disagree: ${(followed._9, followed._10)} vs " +
          s"${(inverted._9, inverted._10)}")
      // the decision is the threshold rule over the emitted stats, not
      // a hard-coded string
      val want = if (math.min(followed._6, followed._7) <= followed._8)
        "broadcast" else "shuffle"
      assert(followed._3 == want,
        s"$label advice ${followed._3} != threshold rule $want " +
          s"(n_left=${followed._6} n_right=${followed._7})")
    }
    // aggregate exact against the plain join (one join suffices — the
    // oracle pins both at verify time)
    val cn = byJoin("customer*nation").head
    val want = graft.Tables.customer(spark, TestSpark.Sf0001)
      .join(graft.Tables.nation(spark, TestSpark.Sf0001),
        col("c_nationkey") === col("n_nationkey"))
      .agg(count(lit(1)), sum(col("c_custkey").cast("long")))
      .as[(Long, Long)].head()
    assert((cn._9, cn._10) == want, s"customer*nation ${(cn._9, cn._10)} != $want")
    // the threshold KNOB drives the plan: at broadcastRows=1 every
    // advice turns shuffle and the followed arms all run SortMergeJoin
    val tight = Relational.cboPlanFlipAudit(spark, TestSpark.Sf0001,
        broadcastRows = 1L)
      .as[(String, String, String, String, Boolean, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(tight.filter(_._2 == "followed")
        .forall(r => r._3 == "shuffle" && r._4 == "SortMergeJoin"),
      s"broadcastRows=1 must shuffle-advise every join: $tight")
    // and arms stay result-identical under the flipped advice too
    tight.groupBy(_._1).foreach { case (label, arms) =>
      assert(arms.map(r => (r._9, r._10)).distinct.size == 1,
        s"$label arms disagree under broadcastRows=1")
    }
  }

  test("q225 incremental ndv: store fold within 3-sigma, flags recomputable, exact legs match") {
    val rows = Relational.incrementalNdvMaintenance(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, Boolean, Boolean)].collect().toSeq
    assert(rows.map(_._1).sorted == Seq("l_partkey", "l_suppkey"))
    val li = graft.Tables.lineitem(spark, TestSpark.Sf0001)
    val n = li.count()
    rows.foreach { r =>
      assert(r._2 == 4 && r._3 == n, s"${r._1}: ticks/rows ${(r._2, r._3)}")
      val ex = li.agg(countDistinct(col(r._1))).head().getLong(0)
      assert(r._4 == ex, s"${r._1}: exact ndv ${r._4} != $ex")
      assert(r._5, s"${r._1}: union estimate outside 3-sigma")
      assert(r._6, s"${r._1}: re-fold of the stored sketches diverged")
    }
    // the 3-sigma flag is the recomputable Datasketches arithmetic: a
    // 4-way split sketched per group then union-folded lands within
    // 3 * 1.04/sqrt(2^12) of exact (the same fold the store performs)
    val est = li
      .groupBy(pmod(col("l_orderkey"), lit(4L)).as("g"))
      .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))))
      .head().getLong(0)
    val ex = li.agg(countDistinct(col("l_partkey"))).head().getLong(0)
    val rsd = 1.04 / math.sqrt(1 << 12)
    assert(math.abs(est - ex).toDouble <= 3.0 * rsd * ex,
      s"recomputed union estimate $est vs exact $ex outside 3-sigma")
  }

  test("q225 streaming twin: MemoryStream commits reproduce the tick-loop ndv store; replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val cols = Seq("pk", "sk")
    val li = graft.Tables.lineitem(spark, TestSpark.Sf0001)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
        col("l_suppkey").as("sk"))
    val rows = li.as[(Long, Long, Long)].collect()
    val sroot = java.nio.file.Files
      .createTempDirectory("graft_ndv_stream").toString + "/store"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long)]
    val q = Relational.streamingNdvMaintenance(
      input.toDF().toDF("ok", "pk", "sk"), sroot, cols).start()
    try {
      (0 until 4).foreach { t =>
        input.addData(rows.filter(_._1 % 4 == t).toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val broot = java.nio.file.Files
      .createTempDirectory("graft_ndv_batch").toString + "/store"
    (0 until 4).foreach(t => Relational.ndvCommit(
      li.filter(pmod(col("ok"), lit(4L)) === t.toLong), t.toLong, broot, cols))
    def fold(root: String): (Long, Long, Long) =
      spark.read.parquet(root).agg(
        sum(col("n_rows")),
        hll_sketch_estimate(hll_union_agg(col("sk_pk"))),
        hll_sketch_estimate(hll_union_agg(col("sk_sk"))))
        .as[(Long, Long, Long)].head()
    val streamed = fold(sroot)
    assert(streamed == fold(broot), "stream fold != batch tick-loop fold")
    assert(streamed._1 == rows.length, s"row count ${streamed._1}")
    // out-of-band replay of the MIDDLE commit (same tick id): converges —
    // the per-tick dynamic overwrite makes n_rows double-count impossible
    Relational.ndvCommit(
      li.filter(pmod(col("ok"), lit(4L)) === 1L), 1L, sroot, cols)
    assert(fold(sroot) == streamed, "replaying commit 1 changed the store")
  }

  test("q224 CBO from ANALYZE: decision inputs read from the persisted store, advised shape executed, knob-sensitive") {
    val rows = Relational.cboFromAnalyzeAudit(spark, TestSpark.Sf0001)
      .as[(String, String, Long, Long, Long, String, String, Long, Long)]
      .collect().toSeq
    assert(rows.length == 2 && rows.forall(_._2 == "analyze_store"))
    rows.foreach { r =>
      // the advice is the threshold rule over the STORE's counts, and
      // the executed operator is the advice-mapped shape
      val want = if (math.min(r._3, r._4) <= r._5) "broadcast" else "shuffle"
      assert(r._6 == want, s"${r._1} advice ${r._6} != rule $want")
      val shape = if (want == "broadcast") "BroadcastHashJoin"
        else "SortMergeJoin"
      assert(r._7 == shape, s"${r._1} ran ${r._7}, want $shape")
    }
    // the store's counts are the live counts (freshly ANALYZEd in this
    // session; q212 owns the stale case)
    val lo = rows.find(_._1 == "lineitem*orders").get
    val nLi = graft.Tables.lineitem(spark, TestSpark.Sf0001).count()
    val nOrd = graft.Tables.orders(spark, TestSpark.Sf0001).count()
    assert((lo._3, lo._4) == (nLi, nOrd),
      s"store counts ${(lo._3, lo._4)} != live ${(nLi, nOrd)}")
    // the threshold knob flips the stats-driven plan too
    val tight = Relational.cboFromAnalyzeAudit(spark, TestSpark.Sf0001,
        broadcastRows = 1L)
      .as[(String, String, Long, Long, Long, String, String, Long, Long)]
      .collect().toSeq
    assert(tight.forall(r => r._6 == "shuffle" && r._7 == "SortMergeJoin"),
      s"broadcastRows=1 must shuffle every join: $tight")
    // answers invariant under the flipped strategy
    assert(tight.map(r => (r._1, r._8, r._9)).toSet ==
      rows.map(r => (r._1, r._8, r._9)).toSet,
      "strategy changed the answer")
  }

  test("q216 ndv sketch: every (column, rsd) within 3-sigma; flag recomputable from the engine's own sketch") {
    val rows = Relational.ndvSketchAudit(spark, TestSpark.Sf0001)
      .as[(String, String, Long, Long, Long, Boolean)].collect()
    assert(rows.length == 7,
      s"want 3 default-tier + 2x2 precision-tier rows, got ${rows.length}")
    assert(rows.forall(_._6), s"bound violations: ${rows.filterNot(_._6).toSeq}")
    // the flag is computed, not constant: recompute |approx-exact| from
    // the same sketch the engine ran and check the 3-sigma arithmetic
    rows.foreach { case (t, c, rsdPpm, n, exact, flag) =>
      assert(n > 0 && exact > 0 && exact <= n)
      val rsd = rsdPpm / 1000000.0
      val df = t match {
        case "lineitem" => graft.Tables.lineitem(spark, TestSpark.Sf0001)
        case "events" => graft.Tables.events(spark, TestSpark.Sf0001)
        case _ => graft.Tables.documents(spark, TestSpark.Sf0001)
      }
      val approx = df.agg(approx_count_distinct(col(c), rsd)).head().getLong(0)
      assert(flag == (math.abs(approx - exact) <= 3.0 * rsd * exact),
        s"($t.$c rsd=$rsd) flag not the 3-sigma recomputation " +
          s"(approx=$approx exact=$exact)")
      // and the tighter sketch really is tighter than its own bound says:
      // measured error stays under 2x rsd on every fixture column
      assert(math.abs(approx - exact) <= math.max(2.0 * rsd * exact, 1.0),
        s"($t.$c rsd=$rsd) err ${math.abs(approx - exact)} > 2*rsd*exact")
    }
  }

  test("equiDepthBucketsApprox guards: nBuckets=1 rejected, empty input yields no buckets") {
    val e = intercept[IllegalArgumentException] {
      Relational.equiDepthBucketsApprox(
        spark.range(10).select(col("id").as("v")), 1)
    }
    assert(e.getMessage.contains("buckets"))
    // empty relation: approx_percentile returns NULL — must not NPE
    val empty = Relational.equiDepthBucketsApprox(
      spark.range(10).filter(col("id") < 0L).select(col("id").as("v")), 4)
    assert(empty.count() == 0L)
  }

  test("q207/q212 approx-histogram route: sketch boundaries keep the estimator within tolerance") {
    // the 100 TB route (approx_percentile boundaries, no global window):
    // bucket stats stay exact, so only boundary placement moves the
    // estimate — pin the same error bounds the exact route clears
    val sel = Relational
      .selectivityEstimationAudit(spark, TestSpark.Sf0001, exactHistogram = false)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(sel.length == 12)
    sel.foreach { case (c, p, _, _, actual, _, errPpm) =>
      assert(actual > 0 && errPpm <= 150000L, s"approx ($c,$p) err $errPpm ppm")
    }
    val stale = Relational
      .staleStatsAudit(spark, TestSpark.Sf0001, exactHistogram = false)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(stale.length == 8)
    stale.foreach { case (p, _, _, _, _, _, _, errF) =>
      assert(errF <= 150000L, s"approx fresh pred $p err $errF ppm")
    }
    // the canary still fires on the appended tail through the sketch
    assert(stale.exists(r => r._7 >= 500000L),
      "stale error must still collapse beyond the cutoff on the approx route")
  }

  test("q226 decision core: planted stats flip the join order") {
    // PK-FK both ways: est(li⋈ord) = n_li, est(ord⋈cust) = n_ord — a
    // bigger fact side picks the right-deep order...
    assert(Relational.estimateJoinRows(60000L, 15000L, 15000L, 15000L) == 60000L)
    assert(Relational.chooseJoinOrder(60000L, 15000L) == "orders_customer_first")
    // ...and PLANTED stats (a selective mid⋈dim ndv collapse inflating
    // the dim-side estimate) flip the choice — the decision is computed
    // from the statistics, not hard-coded
    assert(Relational.chooseJoinOrder(5000L, 90000L) == "lineitem_orders_first")
    // ties break right-deep; BigInt product survives warehouse counts
    assert(Relational.chooseJoinOrder(7L, 7L) == "orders_customer_first")
    assert(Relational.estimateJoinRows(3000000000L, 1000L,
      2000000000L, 2000000000L) == 3000000000L)
    intercept[IllegalArgumentException] {
      Relational.estimateJoinRows(10L, 0L, 10L, 5L)
    }
  }

  test("q226 CBO join order: estimates from the persisted store, both orders executed, answers identical") {
    val rows = Relational.cboJoinOrderAudit(spark, TestSpark.Sf0001)
      .as[(String, Boolean, Long, Long, String, String, Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(rows.length == 2)
    val Array(liFirst, ocFirst) = rows
    assert(liFirst._1 == "lineitem_orders_first" &&
      ocFirst._1 == "orders_customer_first")
    // exactly one order is chosen, and it is the smaller-estimate one
    assert(liFirst._2 != ocFirst._2, "exactly one order must be chosen")
    val wantChoice = Relational.chooseJoinOrder(liFirst._3, ocFirst._3)
    assert((if (ocFirst._2) "orders_customer_first"
            else "lineitem_orders_first") == wantChoice)
    // PK-FK estimates are exact here: est == actual intermediate
    assert(liFirst._3 == liFirst._4,
      s"li⋈ord est ${liFirst._3} != actual ${liFirst._4} on a PK-FK join")
    assert(ocFirst._3 == ocFirst._4,
      s"ord⋈cust est ${ocFirst._3} != actual ${ocFirst._4} on a PK-FK join")
    // the order-invariant aggregate: both arms return the same answer
    assert((liFirst._7, liFirst._8, liFirst._9) ==
      (ocFirst._7, ocFirst._8, ocFirst._9),
      "join order changed the answer")
    // executed operators follow the row-threshold rule (sf0.001: all
    // sides and both estimated intermediates sit under 10000 rows)
    rows.foreach { r =>
      assert(r._5 == "BroadcastHashJoin" && r._6 == "BroadcastHashJoin",
        s"${r._1} ran (${r._5}, ${r._6}) at sf0.001, want broadcast/broadcast")
    }
    // and the aggregate matches a hint-free Spark run of the same join
    val free = Tables.lineitem(spark, TestSpark.Sf0001)
      .join(Tables.orders(spark, TestSpark.Sf0001),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, TestSpark.Sf0001),
        col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)), sum(col("l_quantity").cast("long")),
        sum(col("c_custkey").cast("long")))
      .as[(Long, Long, Long)].head()
    assert((liFirst._7, liFirst._8, liFirst._9) == free)
  }

  test("q227 sketch-fed estimates: 3-sigma holds through the consumer, sketch choice = exact choice") {
    val rows = Relational.cboNdvSketchEstimates(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, Long, Long, Boolean, Boolean, Boolean,
        String, String, Boolean)].collect().sortBy(_._1)
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r._7, s"${r._1}: a sketch ndv fell outside 3σ of exact")
      assert(r._8, s"${r._1}: sketch-fed estimate outside the propagated band")
      assert(r._12 && r._10 == r._11,
        s"${r._1}: sketch choice ${r._10} != exact choice ${r._11}")
    }
    // the margin between the two exact estimates is what licenses the
    // sketch route here — and the exact estimates match the formula on
    // live stats
    val Array(a, b) = rows
    assert(a._9 && b._9, "fixture margin must be robust to the 3σ band")
    assert(a._6 == Relational.estimateJoinRows(a._2, a._4, a._3, a._5))
    assert(b._6 == Relational.estimateJoinRows(b._2, b._4, b._3, b._5))
    assert(a._11 == Relational.chooseJoinOrder(a._6, b._6))
    // replaying a commit tick out-of-band cannot change a fold: covered
    // by the q225 streaming-twin spec; here the consumer's inputs are a
    // fresh per-run store (scratchDirUnique), so best-of-N re-runs of
    // the query rebuild rather than double-count
    val again = Relational.cboNdvSketchEstimates(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, Long, Long, Boolean, Boolean, Boolean,
        String, String, Boolean)].collect().sortBy(_._1)
    assert(again.map(r => (r._1, r._6, r._11)).toSeq ==
      rows.map(r => (r._1, r._6, r._11)).toSeq)
  }

  test("q230 Selinger DP core: costs compose, ties break to the first split, planted stats flip the tree") {
    // the fact-dim chain (fixture shape): right-deep wins
    val chain = Seq(("a", 60000L), ("b", 15000L), ("c", 1500L), ("d", 25L))
    val dp = chainDp(chain, Seq(15000L, 1500L, 25L))
    assert(dp((0, 3)).plan == "(a*(b*(c*d)))", dp((0, 3)).plan)
    // est chains single-division: 60000*15000*1500*25/(15000*1500*25)
    assert(dp((0, 3)).est == 60000L)
    // C_out composes: est(full) + cost(best split) = 60000 + (15000+1500)
    assert(dp((0, 3)).cost == 76500L, s"cost ${dp((0, 3)).cost}")
    // PLANTED stats — a tiny fact side — flip the whole tree to left-deep
    val flipped = chainDp(
      Seq(("a", 10L), ("b", 15000L), ("c", 90000L), ("d", 80000L)),
      Seq(15000L, 90000L, 80000L))
    assert(flipped((0, 3)).plan == "(((a*b)*c)*d)",
      s"tiny fact must join first: ${flipped((0, 3)).plan}")
    // ties break to the FIRST minimal split (the oracle's CASE order)
    val tied = chainDp(
      Seq(("a", 100L), ("b", 100L), ("c", 100L)), Seq(100L, 100L))
    assert(tied((0, 2)).plan == "(a*(b*c))", tied((0, 2)).plan)
    // BigInt products survive warehouse-scale counts
    val big = chainDp(
      Seq(("a", 3000000000L), ("b", 2000000000L)), Seq(2000000000L))
    assert(big((0, 1)).est == 3000000000L)
  }

  test("q230 enumeration audit: DP inputs from the persisted store, chosen tree executed, answers tree-invariant") {
    val rows = Relational.cboJoinEnumerationAudit(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, String, Long, Long, Long)]
      .collect()
    assert(rows.length == 10, s"10 intervals of a 4-chain, got ${rows.length}")
    val byName = rows.map(r => r._1 -> r).toMap
    // the fixture's fact-dim chain picks the fully right-deep tree
    val full = byName("lineitem,orders,customer,nation")
    assert(full._5 == "(lineitem*(orders*(customer*nation)))", full._5)
    assert(full._2 == 4)
    // leaves carry zero cost and their own row counts as estimates
    val nLi = Tables.lineitem(spark, TestSpark.Sf0001).count()
    assert(byName("lineitem")._3 == nLi && byName("lineitem")._4 == 0L)
    // PK-FK chain: every multi-table estimate equals the fact-side size
    // of its interval, and the executed aggregate matches a plain run
    assert(byName("lineitem,orders")._3 == nLi)
    val free = Tables.lineitem(spark, TestSpark.Sf0001)
      .join(Tables.orders(spark, TestSpark.Sf0001),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, TestSpark.Sf0001),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, TestSpark.Sf0001),
        col("c_nationkey") === col("n_nationkey"))
      .agg(count(lit(1)), sum(col("l_quantity").cast("long")),
        sum(col("n_nationkey").cast("long")))
      .as[(Long, Long, Long)].head()
    assert((full._6, full._7, full._8) == free)
    // every row repeats the same executed aggregate (uniform schema)
    assert(rows.forall(r => (r._6, r._7, r._8) == free))
  }

  test("q232 filtered join order: the histogram flips the choice inside one query") {
    val rows = Relational.cboFilteredJoinOrderAudit(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, String, Boolean, Long, Long, Long,
        Long, Long, Boolean)].collect()
    assert(rows.length == 4, s"2 preds x 2 orders, got ${rows.length}")
    // cross-order identity on the sampled arm — emitted, not required
    assert(rows.forall(_._12), "orders_identical")
    def chosenOf(pred: String): String =
      rows.filter(r => r._1 == pred && r._6).map(_._5).toSeq match {
        case Seq(one) => one
        case other => fail(s"$pred chose $other")
      }
    // THE FLIP: the narrow filter makes the filtered fact join cheaper
    // than the dim-side join; the wide one doesn't
    assert(chosenOf("narrow") == "lineitem_orders_first")
    assert(chosenOf("wide") == "orders_customer_first")
    // within a predicate, both orders return the identical aggregate
    for (pred <- Seq("narrow", "wide")) {
      val p = rows.filter(_._1 == pred)
      assert(p.map(r => (r._9, r._10, r._11)).distinct.length == 1,
        s"$pred: order changed the answer")
    }
    // the filtered estimate prices the li-first intermediate:
    // est = (est_e6 / 1e6) * n_ord / ndv_oo, and the narrow one is small
    val narrowLi = rows.find(r => r._1 == "narrow"
      && r._5 == "lineitem_orders_first").get
    val nOrd = Tables.orders(spark, TestSpark.Sf0001).count()
    assert(narrowLi._7 < nOrd,
      s"narrow filtered estimate ${narrowLi._7} must undercut n_ord $nOrd")
    // and the estimate tracks the actual filtered intermediate within
    // the histogram's interpolation error (generous 3x band — the q207
    // audit owns the tight ppm contract)
    assert(narrowLi._8 > 0 &&
      narrowLi._7 <= 3 * narrowLi._8 && narrowLi._8 <= 3 * narrowLi._7,
      s"estimate ${narrowLi._7} vs actual ${narrowLi._8} diverged wildly")
  }

  test("q231 AQE coalesce: marker flips with the knob, answers arm-identical, conf restored") {
    val before = spark.conf
      .getOption("spark.sql.adaptive.coalescePartitions.enabled")
    val rows = Relational.aqeCoalesceAudit(spark, TestSpark.Sf0001)
      .as[(String, Boolean, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length == 2)
    val Array(dis, en) = rows
    assert(en._1 == "enabled" && en._2,
      "enabled arm must observe AQEShuffleRead coalesced in its own plan")
    assert(dis._1 == "disabled" && !dis._2,
      "disabled twin must NOT observe a coalesced read")
    assert((en._3, en._4, en._5) == (dis._3, dis._4, dis._5),
      "re-planning changed the answer")
    assert(spark.conf
      .getOption("spark.sql.adaptive.coalescePartitions.enabled") == before,
      "conf scope must restore")
  }
  test("q235 sampled arm: flip proven on a 1/8 key partition, scaled cardinality tracks the full join, answer proof full-size") {
    val before = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val rows = Relational.cboSampledArmAudit(spark, TestSpark.Sf0001)
      .as[(String, String, String, String, Boolean, Long, Long, Long,
        Long, Long, Long)].collect().toSeq
    assert(rows.length == 4, s"want 2 joins x 2 arms, got ${rows.length}")
    rows.groupBy(_._1).foreach { case (label, arms) =>
      val followed = arms.find(_._2 == "followed").get
      val inverted = arms.find(_._2 == "inverted").get
      def shapeOf(strategy: String) =
        if (strategy == "broadcast") "BroadcastHashJoin" else "SortMergeJoin"
      // the flip is proven on the SAMPLED arm's executed plan shape
      assert(followed._4 == shapeOf(followed._3),
        s"$label followed ran ${followed._4}, advice ${followed._3}")
      assert(followed._4 != inverted._4, s"$label arms ran the same shape")
      assert(followed._6 == 1L && inverted._6 == 8L,
        s"$label sample_mod wrong: ${(followed._6, inverted._6)}")
      // the sample is real: strictly fewer rows through the inverted arm
      assert(inverted._9 < followed._9,
        s"$label sampled rows ${inverted._9} !< full ${followed._9}")
      // scaled cardinality tracks the full join within 2x (the audit's
      // cross-check; FK keys carry their fact rows, so the 1/8 key
      // partition scales back near-exactly on lineitem*orders)
      assert(inverted._10 > 0L && followed._9 > 0L, s"$label empty arm")
      val ratio = inverted._10.toDouble / followed._9.toDouble
      assert(ratio > 0.5 && ratio < 2.0,
        s"$label scaled ${inverted._10} vs actual ${followed._9} ($ratio)")
      // followed arm keeps the exact answer (scaled_rows == n_rows)
      assert(followed._10 == followed._9, s"$label followed scaled_rows")
    }
    // the sampled numbers are the restricted join, exactly
    val li = graft.Tables.lineitem(spark, TestSpark.Sf0001)
    val ord = graft.Tables.orders(spark, TestSpark.Sf0001)
    val want = li.filter(pmod(col("l_orderkey"), lit(8L)) === 0L)
      .join(ord.filter(pmod(col("o_orderkey"), lit(8L)) === 0L),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)), sum(col("l_quantity").cast("long")))
      .as[(Long, Long)].head()
    val lo = rows.find(r => r._1 == "lineitem*orders" && r._2 == "inverted").get
    assert((lo._9, lo._11) == want,
      s"sampled lineitem*orders ${(lo._9, lo._11)} != restricted join $want")
    assert(spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      == before, "conf scope must restore")
  }
  test("q236 column-group stats: group estimate exact on aligned rects, independence collapses on the correlated pair, occupancy near-diagonal") {
    val rows = Relational.columnGroupStatsAudit(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long,
        Long, Boolean, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows.keySet ==
      Set("corr_corner", "corr_half", "anti_diag", "full"))
    // the group stat answers every aligned rectangle EXACTLY
    rows.values.foreach { r =>
      assert(r._12, s"${r._1}: group estimate ${r._11} != actual ${r._9}")
      assert(r._11 == r._9, s"${r._1}: est_group column inconsistent")
    }
    // independence is badly low on the correlated corner (ids are
    // assigned in arrival order: the id-vs-created_at dependence)
    val corner = rows("corr_corner")
    assert(corner._13 > 500000L,
      s"corner err ${corner._13} ppm — fixture should be correlated")
    assert(corner._10 < corner._9,
      s"corner indep ${corner._10} must UNDERestimate actual ${corner._9}")
    // ...and phantoms rows onto the (empty) anti-diagonal
    val anti = rows("anti_diag")
    assert(anti._10 > anti._9,
      s"anti-diag indep ${anti._10} must overestimate actual ${anti._9}")
    // the full rectangle is exact for BOTH estimators (marginals = N)
    val full = rows("full")
    assert(full._7 == full._6 && full._8 == full._6 &&
      full._10 == full._6 && full._9 == full._6, s"full rect: $full")
    assert(full._13 == 0L)
    // the detection signal: near-diagonal occupancy, not a full cross
    assert(full._15 == 8L && full._16 == 8L,
      s"marginal bucket counts ${(full._15, full._16)}")
    assert(full._14 * 4L <= full._15 * full._16,
      s"occupied ${full._14} of ${full._15 * full._16} — not correlated?")
    // the store's marginals agree with direct single-column counts
    // (the 2-D histogram subsumes its own 1-D stats by folding)
    val ev = graft.Tables.events(spark, TestSpark.Sf0001)
    val b = ev.agg(min(col("event_id")), max(col("event_id"))).head()
    val (idMin, idMax) = (b.getLong(0), b.getLong(1))
    val directA = ev.filter(
      expr(s"(event_id - $idMin) * 8 div ${idMax - idMin + 1L} < 2")).count()
    assert(rows("corr_corner")._7 == directA,
      s"store marginal ${rows("corr_corner")._7} != direct $directA")
  }
  test("q237 group-stat consumer: estimates straddle the threshold, group advice correct and executed, wrong plan proven in sampled form") {
    val before = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val r = Relational.cboGroupStatJoinAudit(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, Long, Long, Long, String, String,
        Long, Boolean, Boolean, String, Long, Long, String, Long, Long,
        Long)].collect()
    assert(r.length == 1)
    val a = r.head
    // the two estimators straddle the threshold on the correlated
    // fixture: independence low side, group stat high side
    assert(a._5 <= a._7 && a._6 > a._7,
      s"estimates ${(a._5, a._6)} must straddle threshold ${a._7}")
    assert(a._8 == "broadcast" && a._9 == "shuffle",
      s"advices ${(a._8, a._9)}")
    // correctness flags are derived and land the expected way
    assert(a._11, "group advice must match the actual cardinality side")
    assert(!a._12, "independence advice must be wrong on this fixture")
    // the engine executed each advice's shape; the arms differ
    assert(a._13 == "SortMergeJoin" && a._16 == "BroadcastHashJoin",
      s"shapes ${(a._13, a._16)}")
    // group estimate is exact; join rows equal the filtered rows
    // (every event joins exactly one customer)
    assert(a._6 == a._10 && a._14 == a._10,
      s"est_group ${a._6}, actual ${a._10}, join rows ${a._14}")
    // the sampled arm scales back within 2x of the full join
    val ratio = a._18.toDouble / a._14.toDouble
    assert(ratio > 0.5 && ratio < 2.0,
      s"scaled ${a._18} vs full ${a._14} ($ratio)")
    assert(spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      == before, "conf scope must restore")
  }
  test("q238 incremental group stats: partials exact per tick, fold equals the build-once store, replay no-op, stream equals ticks") {
    val dir = TestSpark.Sf0001
    val store = Relational.incrementalGroupStatMaintenance(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(store.nonEmpty)
    // fold over ticks == the build-once q236 store (the monoid story)
    // fold over a Seq, not the Set — equal per-tick counts must not
    // deduplicate before summing
    val fold = store.toSeq.groupBy(r => (r._2, r._3))
      .view.mapValues(_.map(_._4).sum).toMap
    val full = spark.read
      .parquet(Relational.ensureColumnGroupStats(spark, dir))
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(fold == full, s"tick fold != build-once store")
    // out-of-band replay of a middle commit converges (XO contract)
    val root = Relational.ensureIncrementalGroupStats(spark, dir, 4)
    val b = Relational.cgrpBounds(spark, dir)
    Relational.cgrpTickAt(spark, dir, root, 1, 4, b)
    val replayed = Relational.incrementalGroupStatMaintenance(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(replayed == store, "replaying commit 1 changed the store")
    // streaming twin: MemoryStream commits reproduce the tick loop
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val streamRoot = java.nio.file.Files
      .createTempDirectory("graft_cgrp_stream").toString
    val rows = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)].collect()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = Relational.streamingGroupStatMaintenance(
      input.toDF().toDF("event_id", "ts"), streamRoot, b).start()
    try {
      (0 until 4).foreach { t =>
        input.addData(rows.filter(_._1 % 4 == t).toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.read.parquet(s"$streamRoot/cgrp")
      .select(col("ingest_batch").cast("long"), col("b_id"), col("b_ts"),
        col("n_rows"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == store, "stream != tick loop")
  }
  test("q240 FK join elimination: clean FK eliminates (1 scan, answers identical), planted violation refuses and keeps the join") {
    val clean = Relational.fkJoinEliminationAudit(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Boolean, Long, Long, Long, Long, Long, Long,
        Boolean)].collect().head
    assert(clean._2 == clean._1 && clean._3 == 0L,
      s"fixture FK should be clean: ${(clean._1, clean._2, clean._3)}")
    assert(clean._4, "clean FK must eliminate")
    assert(clean._7 == 1L && clean._10 == 2L,
      s"scan counts ${(clean._7, clean._10)} — the eliminated plan " +
        "must never touch orders")
    assert(clean._11 && clean._5 == clean._8 && clean._6 == clean._9,
      "eliminated answer must equal the joined answer under FK")
    // the refusal path: half the PK side removed — conditions read
    // false, the join is KEPT, and the (now different) joined answer
    // is the one returned
    val bad = Relational.fkJoinEliminationAudit(spark, TestSpark.Sf0001,
        fkViolation = true)
      .as[(Long, Long, Long, Boolean, Long, Long, Long, Long, Long, Long,
        Boolean)].collect().head
    assert(bad._3 > 0L, "planted violation must orphan rows")
    assert(!bad._4, "violated FK must refuse elimination")
    assert(bad._7 == 2L, "refused plan must keep both scans")
    assert(bad._5 == bad._8 && bad._6 == bad._9,
      "refusal must return the joined answer")
    // the joined answer under the violation differs from the
    // lineitem-only aggregate — the wrong elimination this row prevents
    val liOnly = graft.Tables.lineitem(spark, TestSpark.Sf0001).count()
    assert(bad._5 < liOnly,
      s"violated join ${bad._5} must drop rows vs lineitem $liOnly")
  }
  test("q241 FK integrity stats: per-tick counts exact, clean fold zero, planted PK deletion detected per tick, replay no-op, stream equals ticks") {
    val dir = TestSpark.Sf0001
    val store = Relational.incrementalFkIntegrityMaintenance(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(store.size == 4, s"want 4 tick rows, got ${store.size}")
    val li = graft.Tables.lineitem(spark, dir)
    val direct = li
      .groupBy(pmod(col("l_orderkey"), lit(4L)).as("t"))
      .agg(count(lit(1))).as[(Long, Long)].collect().toMap
    store.foreach { case (t, n, orph) =>
      assert(n == direct(t), s"tick $t rows $n != ${direct(t)}")
      assert(orph == 0L, s"clean fixture tick $t orphans $orph")
    }
    // replay of a middle commit converges
    val root = Relational.ensureFkIntegrityStats(spark, dir, 4)
    Relational.fkTickAt(spark, dir, root, 1, 4,
      graft.Tables.orders(spark, dir))
    val replayed = Relational.incrementalFkIntegrityMaintenance(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(replayed == store, "replaying commit 1 changed the store")
    // planted PK deletion on a PRIVATE root: orders halved — every odd
    // l_orderkey orphans, counted exactly per tick (odd ticks 1,3 are
    // all-orphan; even ticks 0,2 clean — tick = l_orderkey % 4)
    val badRoot = java.nio.file.Files
      .createTempDirectory("graft_fkint_bad").toString
    val halfPk = graft.Tables.orders(spark, dir)
      .filter(pmod(col("o_orderkey"), lit(2L)) === 0L)
    (0 until 4).foreach(t =>
      Relational.fkTickAt(spark, dir, badRoot, t, 4, halfPk))
    val bad = spark.read.parquet(s"$badRoot/fkint")
      .select(col("ingest_batch").cast("long"), col("n_rows"),
        col("n_orphans"))
      .as[(Long, Long, Long)].collect()
      .map { case (t, n, o) => t -> (n, o) }.toMap
    (0 until 4).foreach { t =>
      val (n, o) = bad(t.toLong)
      if (t % 2 == 0) assert(o == 0L, s"even tick $t should be clean: $o")
      else assert(o == n && n > 0L,
        s"odd tick $t should be all-orphan: $o of $n")
    }
    // streaming twin reproduces the tick loop
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val streamRoot = java.nio.file.Files
      .createTempDirectory("graft_fkint_stream").toString
    val rows = li.select(col("l_orderkey")).as[Long].collect()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Long]
    val q = Relational.streamingFkIntegrityMaintenance(
      input.toDF().toDF("l_orderkey"),
      graft.Tables.orders(spark, dir), streamRoot).start()
    try {
      (0 until 4).foreach { t =>
        input.addData(rows.filter(_ % 4 == t).toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.read.parquet(s"$streamRoot/fkint")
      .select(col("ingest_batch").cast("long"), col("n_rows"),
        col("n_orphans"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == store, "stream != tick loop")
  }
  test("q242 sampled ANALYZE: sufficient stats exact, Chao beats naive scale-up on the dense FK columns, exact leg from the store") {
    val rows = Relational.sampledAnalyzeAudit(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long,
        Long)].collect()
    assert(rows.map(_._1).sorted.toSeq == Seq("l_partkey", "l_suppkey"))
    val li = graft.Tables.lineitem(spark, TestSpark.Sf0001)
    val samp = li.filter(pmod(col("l_orderkey"), lit(8L)) === 0L)
    rows.foreach { r =>
      val (c, nRows, nS, dS, f1, f2, naive, chao, dEx, errN, errC) = r
      // sufficient statistics replayed directly
      assert(nS == samp.count(), s"$c n_sample")
      assert(dS == samp.select(col(c)).distinct().count(), s"$c d_sample")
      assert(dEx == li.select(col(c)).distinct().count(), s"$c exact ndv")
      assert(nRows == li.count())
      // the lesson: naive scale-up misses badly on dense columns, the
      // Chao lower bound lands close
      assert(errC < errN,
        s"$c: chao err $errC must beat naive err $errN")
      assert(errN > 1000000L,
        s"$c: naive should be >2x off on a dense column ($errN ppm)")
      assert(errC < 200000L,
        s"$c: chao should land within 20% ($errC ppm)")
      // estimator formulas replayed
      assert(naive == dS * 8L)
      if (f2 > 0L) assert(chao == dS + (f1 * f1) / (2L * f2))
      else assert(chao == dS + (f1 * (f1 - 1L)) / 2L)
    }
  }
  test("q243 feedback loop: correction learned on A transfers to B, errors derived, store round-trip real") {
    val r = Relational.cboFeedbackLoopAudit(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long,
        Boolean)].collect()
    assert(r.length == 1)
    val a = r.head
    // the raw estimate is badly off on the correlated class, the
    // transferred correction repairs it by an order of magnitude
    assert(a._9 > 500000L, s"raw err ${a._9} — fixture should mis-price")
    assert(a._10 < a._9 / 10L,
      s"corrected err ${a._10} should cut raw ${a._9} by >10x")
    assert(a._11, "improved flag must derive from the two errors")
    // formulas replayed: correction and its application are integer ops
    assert(a._5 == a._4 * 1000000L / a._3, "correction formula")
    assert(a._7 == a._6 * a._5 / 1000000L, "application formula")
    // the correction is learned on A, scored on B — different rects
    assert(a._3 != a._6 || a._4 != a._8, "A and B must differ")
  }
  test("feedbackCorrected: identity correction is a no-op, products run in BigInt") {
    assert(Relational.feedbackCorrected(1234L, 1000000L) == 1234L)
    assert(Relational.feedbackCorrected(60L, 500000000L) == 30000L)
    assert(Relational.feedbackCorrected(0L, 7000000L) == 0L)
    // a product that wraps a Long multiply must still divide exactly
    val big = Long.MaxValue / 4L
    assert(Relational.feedbackCorrected(big, 2000000L) == big * 2L)
  }
  test("q244 feedback-aware ordering: the persisted correction ALONE flips the enumerator's choice") {
    val rows = Relational.cboFeedbackOrderAudit(spark, TestSpark.Sf0001)
      .as[(String, String, Boolean, Boolean, Boolean, Long, Long, Long,
        Long, Long, Long, Long, Long, Long, Boolean)].collect()
    assert(rows.length == 2)
    val byOrder = rows.map(r => r._2 -> r).toMap
    val liArm = byOrder("lineitem_orders_first")
    val ocArm = byOrder("orders_customer_first")
    // exactly one chosen per pricing mode, and the two modes disagree
    assert(rows.count(_._3) == 1, "one raw choice")
    assert(rows.count(_._4) == 1, "one fb choice")
    assert(rows.forall(_._5), "flipped flag on both rows")
    assert(liArm._3 && !liArm._4,
      "raw default guess must pick lineitem-first; feedback must not")
    assert(ocArm._4 && !ocArm._3,
      "feedback must pick customer-first")
    // the flip is caused by the feedback row alone: identity correction
    // keeps the raw choice (replayed through the same pure pricing)
    val estIdentity = Relational.feedbackCorrected(liArm._6, 1000000L)
    assert(estIdentity == liArm._6, "identity correction is a no-op")
    // correction + application formulas replayed
    assert(liArm._8 == liArm._7 * 1000000L / math.max(1L, liArm._6),
      "correction formula")
    val estFb = Relational.feedbackCorrected(liArm._6, liArm._8)
    assert(liArm._10 == Relational.estimateJoinRows(estFb,
      math.max(1L, math.min(estFb, 1500L)), 1500L, 1500L) ||
      liArm._10 > liArm._9,
      "fb estimate must come from the corrected cardinality")
    // the corrected estimate prices the filtered intermediate well
    // (within 2x of actual) while the default guess is >10x off
    assert(math.abs(liArm._10 - liArm._11) * 2L <= liArm._11,
      s"fb est ${liArm._10} should land near actual ${liArm._11}")
    assert(liArm._9 * 10L < liArm._11,
      s"raw est ${liArm._9} should be >10x under actual ${liArm._11}")
    // cross-order identity on the sampled arm, emitted not required
    assert(rows.forall(_._15), "orders_identical")
    // the answer is the filtered 3-table join (replayed directly)
    val li = graft.Tables.lineitem(spark, TestSpark.Sf0001)
      .filter(pmod(col("l_orderkey").cast("long"), lit(2L)) === 1L)
    val ord = graft.Tables.orders(spark, TestSpark.Sf0001)
    val cust = graft.Tables.customer(spark, TestSpark.Sf0001)
    val want = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey")).count()
    assert(rows.forall(_._12 == want), "answer row count")
  }
  test("selingerGraphDp: reduces to the chain DP on a path graph") {
    val rows = Seq(("a", 600L), ("b", 150L), ("c", 15L), ("d", 3L))
    val divs = Seq(150L, 15L, 3L)
    // the chain DP (a reference in JoinEnumerationSpec) against the
    // C_out tree DP on the path graph
    val chain = JoinEnumerationReference.selingerChainDp(rows, divs)
    val graph = JoinEnumeration.selingerPhysicalDp(JoinGraph(rows,
      Seq((0, 1, divs(0)), (1, 2, divs(1)), (2, 3, divs(2)))), betaE2 = 0L)
    for (i <- 0 until 4; j <- i until 4) {
      val mask = (i to j).map(1 << _).sum
      val (c, g) = (chain((i, j)), graph(mask))
      assert(c.est == g.est && c.cost == g.cost && c.plan == g.plan,
        s"[$i,$j]: chain $c vs graph $g")
    }
    // a path's connected subsets are exactly the intervals
    assert(graph.size == 10)
  }
  test("selingerGraphDp: star shape, planted flip, disconnected subsets absent, cycles rejected") {
    // the q245 shape: fact f joined to dims o (chaining to c), p, s
    val tables = Seq(("f", 6000L), ("o", 1500L), ("c", 150L),
      ("p", 200L), ("s", 10L))
    val edges = Seq((0, 1, 1500L), (1, 2, 150L), (0, 3, 200L), (0, 4, 10L))
    def treeDp(t: Seq[(String, Long)], e: Seq[(Int, Int, Long)]) =
      JoinEnumeration.selingerPhysicalDp(JoinGraph(t, e), betaE2 = 0L)
    val dp = treeDp(tables, edges)
    // 17 connected subsets of the 31 non-empty ones
    assert(dp.size == 17)
    assert(!dp.contains((1 << 1) | (1 << 3)), "o,p is disconnected")
    assert(!dp.contains((1 << 2) | (1 << 4)), "c,s is disconnected")
    val full = dp((1 << 5) - 1)
    assert(full.plan == "(((f*s)*p)*(o*c))", s"bushy winner: ${full.plan}")
    assert(full.cost == 6000L + 12000L + 1500L, s"C_out: ${full.cost}")
    // planted stats: a worthless (o*c) arm (cross-product-like divisor)
    // must push the winner off the bushy shape — the flip is computed
    val planted = treeDp(
      Seq(("f", 100L), ("o", 50L), ("c", 50L), ("p", 10L), ("s", 10L)),
      Seq((0, 1, 50L), (1, 2, 1L), (0, 3, 10L), (0, 4, 10L)))
    val pf = planted((1 << 5) - 1)
    assert(!pf.plan.contains("(o*c)"), s"planted flip: ${pf.plan}")
    // a cycle must be rejected loudly, never mis-enumerated
    intercept[IllegalArgumentException] {
      treeDp(tables, edges :+ ((2, 4, 5L)))
    }
  }
  test("q245 graph enumeration: full DP table from the store, bushy winner, executed trees identical") {
    val df = Relational.cboGraphEnumerationAudit(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, String, Long, Long, Long, Boolean)]
      .collect()
    assert(df.length == 17)
    val full = df.find(_._2 == 5L).get
    assert(full._5 == "(((lineitem*supplier)*part)*(orders*customer))",
      s"winner: ${full._5}")
    assert(df.forall(_._9), "trees_identical on every row")
    // the executed aggregate replayed directly from the raw 5-way join
    val d = TestSpark.Sf0001
    val want = graft.Tables.lineitem(spark, d)
      .join(graft.Tables.orders(spark, d),
        col("l_orderkey") === col("o_orderkey"))
      .join(graft.Tables.customer(spark, d),
        col("o_custkey") === col("c_custkey"))
      .join(graft.Tables.part(spark, d),
        col("l_partkey") === col("p_partkey"))
      .join(graft.Tables.supplier(spark, d),
        col("l_suppkey") === col("s_suppkey")).count()
    assert(df.forall(_._6 == want), "answer row count")
    // every composite's cost = est + min over its cut alternatives —
    // spot-check the bushy 4-subsets straddle the 3-subsets
    val est = df.map(r => r._1 -> r._3).toMap
    val cost = df.map(r => r._1 -> r._4).toMap
    assert(cost("lineitem,orders,customer,part") ==
      est("lineitem,orders,customer,part") +
        math.min(est("lineitem,part") + est("orders,customer"),
          math.min(cost("lineitem,orders,part"),
            cost("lineitem,orders,customer"))))
  }
  test("sampledMarginRobust: wide margins clear the band, near-margin and thin samples fall back") {
    // margin 4x the estimate with real support: safe
    assert(Relational.sampledMarginRobust(1000L, 5000L, 100L))
    // 3% margin inside the 3/sqrt(1) = 300% band: fall back
    assert(!Relational.sampledMarginRobust(1000L, 1030L, 1L))
    // the SAME margin becomes safe once the sample is big enough:
    // need (30)^2 c > 9*10^6 => c > 10000
    assert(!Relational.sampledMarginRobust(1000L, 1030L, 10000L))
    assert(Relational.sampledMarginRobust(1000L, 1030L, 10001L))
    // warehouse-scale estimates must not wrap a Long
    assert(Relational.sampledMarginRobust(3_000_000_000L, 9_000_000_000L,
      1000L))
    intercept[IllegalArgumentException] {
      Relational.sampledMarginRobust(10L, 20L, 0L)
    }
  }
  test("q246 sampled histogram route: scaled-sample estimates, band-guarded consumer, flip preserved") {
    val rows = Relational.sampledHistogramRouteAudit(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, String, Long, Long, Long, String, Boolean,
        String, Boolean, Long, Long, Long)].collect()
    assert(rows.length == 4)
    val byKey = rows.map(r => (r._1, r._4) -> r).toMap
    // the sampled estimate stays inside 2x of actual on both predicates
    // (err_ppm < 1e6) — boundary placement degrades, count mass doesn't
    rows.filter(_._4 == "sampled").foreach { r =>
      assert(r._6 < 1000000L, s"${r._1} sampled err ${r._6} ppm")
    }
    // the q232 within-query flip survives the sampled route
    assert(byKey(("narrow", "sampled"))._8 == "lineitem_orders_first")
    assert(byKey(("wide", "sampled"))._8 == "orders_customer_first")
    // on this fixture the margins clear the band: the sampled route is
    // used and agrees with the exact one (both flags DERIVED)
    assert(rows.forall(_._9), "margin_robust")
    assert(rows.forall(_._10 == "sampled"), "route_used")
    assert(rows.forall(_._11), "choice_agrees")
    // the routed answer is the filtered 3-table join, replayed
    val d = TestSpark.Sf0001
    val li = graft.Tables.lineitem(spark, d)
    val keyB = li.agg(min(col("l_orderkey").cast("long")),
      max(col("l_orderkey").cast("long"))).head()
    val (lo, hi) = (keyB.getLong(0), keyB.getLong(1))
    val span = hi - lo + 1L
    val want = li
      .filter(col("l_orderkey").cast("long")
        .between(lo, lo + span / 50L - 1L))
      .join(graft.Tables.orders(spark, d),
        col("l_orderkey") === col("o_orderkey"))
      .join(graft.Tables.customer(spark, d),
        col("o_custkey") === col("c_custkey")).count()
    assert(byKey(("narrow", "sampled"))._12 == want, "narrow answer")
    // sampled support replayed: cs = est_s6 / 8e6 floors to the
    // unscaled sampled mass the band formula needs
    val sN = byKey(("narrow", "sampled"))
    assert(sN._5 / 8000000L >= 1L || sN._5 < 8000000L)
  }
  test("q247 optimizer capstone: five decisions, each consuming a persisted statistic, trace coherent") {
    val rows = Relational.optimizerCapstoneAudit(spark, TestSpark.Sf0001)
      .as[(String, String, String, Long, Long, Long, Boolean, Long, Long,
        Long)].collect()
    assert(rows.length == 5)
    val byStep = rows.map(r => r._1 -> r).toMap
    val hist = byStep("hist_route")
    val order = byStep("join_order")
    val fk = byStep("fk_elim")
    val grp = byStep("group_stat")
    val fb = byStep("feedback")
    // the routed estimate feeds the join-order row unchanged — the
    // stack is wired, not five separate queries
    assert(hist._6 == order._4, "hist output must be join_order's input")
    // route ≡ the band check (fallback honest: at this fixture the thin
    // sample's margin does not clear the band and the exact histogram
    // is used — the fallback path exercised live)
    assert(hist._3 == (if (hist._7) "sampled" else "exact_fallback"))
    // the chosen order's estimate is within 2x of the exact intermediate
    assert(math.abs(order._4 - order._6) * 2L <= order._6,
      s"est ${order._4} vs actual ${order._6}")
    // FK elimination fired on the clean fixture: 1 scan, orphans 0
    assert(fk._3 == "eliminated" && fk._7 && fk._5 == 0L && fk._6 == 1L)
    // the count leg's answer equals the report's lineitem mass
    assert(fk._8 == order._8 && fk._9 == order._9)
    // group stat: the exact grid fold sits on the other side of the
    // threshold from independence, and the advice flag is derived
    assert(grp._4 < grp._6 && grp._5 > grp._6,
      s"straddle: indep ${grp._4}, group ${grp._5}, threshold ${grp._6}")
    assert(grp._3 == "shuffle" && grp._7)
    // feedback: correction learned on A lands B within 5% while raw
    // independence is >50% off (measured fixture claims)
    assert(fb._7, "improved")
    assert(math.abs(fb._5 - fb._8) * 20L <= fb._8,
      s"corrected ${fb._5} vs actual ${fb._8}")
    assert(math.abs(fb._4 - fb._8) * 2L >= fb._8,
      s"raw ${fb._4} should be far from actual ${fb._8}")
    // the report answer replayed directly
    val d = TestSpark.Sf0001
    val li = graft.Tables.lineitem(spark, d)
    val b = li.agg(min(col("l_orderkey").cast("long")),
      max(col("l_orderkey").cast("long"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val want = li.filter(col("l_orderkey").cast("long")
        .between(lo, lo + (hi - lo + 1L) / 5L - 1L))
      .join(graft.Tables.orders(spark, d),
        col("l_orderkey") === col("o_orderkey"))
      .join(graft.Tables.customer(spark, d),
        col("o_custkey") === col("c_custkey")).count()
    assert(hist._8 == want, "report row count")
  }
  test("q248 feedback-aware graph enumeration: the correction alone flips the chosen tree") {
    val r = Relational.cboFeedbackGraphAudit(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, Long, String, Long, String, Long,
        Boolean, Long, Long, Long, Boolean)].collect()
    assert(r.length == 1)
    val a = r.head
    assert(a._10, "flipped")
    assert(a._14, "trees_identical")
    // the raw default guess makes every fact subset price tiny and the
    // winner goes DEEP (customer joins last, outside any (o*c) arm);
    // the corrected estimate makes the cheap dim arm pay and the
    // winner goes BUSHY
    assert(!a._6.contains("(orders*customer)"),
      s"raw winner should avoid the dim arm: ${a._6}")
    assert(a._8.contains("(orders*customer)"),
      s"fb winner should be bushy through the dim arm: ${a._8}")
    // correction + application formulas replayed (integer math)
    assert(a._4 == a._3 * 1000000L / math.max(1L, a._2), "correction")
    assert(a._5 == Relational.feedbackCorrected(a._2, a._4), "application")
    // the corrected estimate lands near the true filtered cardinality
    val liOdd = graft.Tables.lineitem(spark, TestSpark.Sf0001)
      .filter(pmod(col("l_orderkey").cast("long"), lit(2L)) === 1L)
    val actual = liOdd.count()
    assert(math.abs(a._5 - actual) * 10L <= actual,
      s"est_fb ${a._5} vs actual $actual")
    // the answer is the filtered 5-way star, replayed directly
    val want = liOdd
      .join(graft.Tables.orders(spark, TestSpark.Sf0001),
        col("l_orderkey") === col("o_orderkey"))
      .join(graft.Tables.customer(spark, TestSpark.Sf0001),
        col("o_custkey") === col("c_custkey"))
      .join(graft.Tables.part(spark, TestSpark.Sf0001),
        col("l_partkey") === col("p_partkey"))
      .join(graft.Tables.supplier(spark, TestSpark.Sf0001),
        col("l_suppkey") === col("s_suppkey")).count()
    assert(a._11 == want, "answer row count")
    // the identity-correction counterfactual: pricing with q = 1e6
    // reproduces the raw tree — the flip is caused by the feedback row
    val est1 = Relational.feedbackCorrected(a._2, 1000000L)
    assert(est1 == a._2, "identity correction is a no-op")
  }
  test("dpCcp: cycles enumerated, multi-cross-edge splits carried, planted flip, arcs only") {
    // the q249 shape at sf0.001's stats
    val tables = Seq(("l", 6000L), ("o", 1500L), ("c", 150L),
      ("n", 25L), ("s", 10L))
    val edges = Seq((0, 1, 1500L), (1, 2, 150L), (2, 3, 25L),
      (3, 4, 25L), (4, 0, 10L))
    val dp = JoinEnumeration.dpCcp(JoinGraph(tables, edges))
    // connected subsets of a 5-cycle are its 21 arcs
    assert(dp.size == 21)
    assert(!dp.contains((1 << 1) | (1 << 3)), "o,n is disconnected")
    val full = dp((1 << 5) - 1)
    // the cycle-closing predicate divides ALL FIVE divisors in
    assert(full.est == 6000L * 1500L * 150L * 25L * 10L /
      (1500L * 150L * 25L * 25L * 10L), s"est ${full.est}")
    assert(full.est == 240L)
    assert(full.plan == "(l*(o*(c*(n*s))))", s"winner ${full.plan}")
    assert(full.cost == 910L, s"cost ${full.cost}")
    // the winning split crosses BOTH the L–O and S–L edges — the
    // executed join must apply both predicates
    assert(full.crossEdges == Seq(0, 4), s"cross ${full.crossEdges}")
    // planted stats: a huge nation side makes the dim chain worthless
    // and the winner re-routes through the orders arm
    val planted = JoinEnumeration.dpCcp(JoinGraph(
      Seq(("l", 6000L), ("o", 1500L), ("c", 150L), ("n", 100000L),
        ("s", 10L)), edges))
    assert(planted((1 << 5) - 1).plan != full.plan, "planted flip")
  }
  test("dpCcp cross-validates the tree DP: identical estimates and costs on acyclic graphs") {
    // the q245 star — the general enumerator must find exactly the
    // tree-specialized answers (est and COST per connected subset;
    // plans may differ only when costs tie, since the tie orders differ
    // by construction: cut-edge index vs ascending submask)
    val tables = Seq(("lineitem", 6000L), ("orders", 1500L),
      ("customer", 150L), ("part", 200L), ("supplier", 10L))
    val edges = Seq((0, 1, 1500L), (1, 2, 150L), (0, 3, 200L),
      (0, 4, 10L))
    val tree = JoinEnumeration.selingerPhysicalDp(JoinGraph(tables, edges),
      betaE2 = 0L)
    val gen = JoinEnumeration.dpCcp(JoinGraph(tables, edges))
    assert(tree.keySet == gen.keySet, "same connected subsets")
    tree.keySet.foreach { m =>
      assert(tree(m).est == gen(m).est, s"est differs at $m")
      assert(tree(m).cost == gen(m).cost, s"cost differs at $m")
    }
    // and on a plain chain both reduce to the interval DP's costs
    val chainRows = Seq(("a", 600L), ("b", 150L), ("c", 15L), ("d", 3L))
    val chain = chainDp(chainRows, Seq(150L, 15L, 3L))
    val genChain = JoinEnumeration.dpCcp(JoinGraph(chainRows,
      Seq((0, 1, 150L), (1, 2, 15L), (2, 3, 3L))))
    for (i <- 0 until 4; j <- i until 4) {
      val mask = (i to j).map(1 << _).sum
      assert(chain((i, j)).cost == genChain(mask).cost, s"[$i,$j]")
    }
  }
  test("dpCcp proper-submask walk: cell-for-cell equal to the r18 every-integer enumeration") {
    // the r19 rewrite replaced the O(4ⁿ) `(1 until mask)` filter with
    // the s1 = (s1−1) & mask proper-submask walk; this reference model
    // IS the old enumeration, and every cell (est, cost, components,
    // cross edges, plan — including tie-breaks) must agree exactly
    def reference(tables: Seq[(String, Long)], edges: Seq[(Int, Int, Long)])
        : Map[Int, (Long, Long, Int, Int, Seq[Int], String)] = {
      val n = tables.length
      def inM(i: Int, m: Int) = (m & (1 << i)) != 0
      def induced(m: Int) = edges.indices.filter { e =>
        inM(edges(e)._1, m) && inM(edges(e)._2, m)
      }
      def connected(m: Int): Boolean = {
        if (m == 0) return false
        val seed = java.lang.Integer.numberOfTrailingZeros(m)
        var comp = 1 << seed
        var frontier = List(seed)
        while (frontier.nonEmpty) {
          val v = frontier.head; frontier = frontier.tail
          edges.foreach { case (a, b, _) =>
            val next = if (a == v) b else if (b == v) a else -1
            if (next >= 0 && inM(next, m) && !inM(next, comp)) {
              comp |= 1 << next; frontier = next :: frontier
            }
          }
        }
        comp == m
      }
      def est(m: Int): Long = {
        val num = tables.indices.filter(inM(_, m))
          .map(i => BigInt(tables(i)._2)).product
        (num / induced(m).map(e => BigInt(edges(e)._3)).product).toLong
      }
      val memo = scala.collection.mutable
        .Map.empty[Int, (Long, Long, Int, Int, Seq[Int], String)]
      tables.indices.foreach { i =>
        memo(1 << i) = (tables(i)._2, 0L, 0, 0, Nil, tables(i)._1)
      }
      (3 to (1 << n) - 1).foreach { mask =>
        if (java.lang.Integer.bitCount(mask) >= 2 && connected(mask)) {
          val low = 1 << java.lang.Integer.numberOfTrailingZeros(mask)
          val cands = (1 until mask).flatMap { s1 =>
            val s2 = mask & ~s1
            if ((s1 & mask) == s1 && (s1 & low) != 0 && s2 != 0 &&
                memo.contains(s1) && memo.contains(s2)) {
              val cross = edges.indices.filter { e =>
                val (a, b, _) = edges(e)
                (inM(a, s1) && inM(b, s2)) || (inM(a, s2) && inM(b, s1))
              }
              if (cross.nonEmpty)
                Some((memo(s1)._2 + memo(s2)._2, s1, s2, cross,
                  s"(${memo(s1)._6}*${memo(s2)._6})"))
              else None
            } else None
          }
          val (cost, s1, s2, cross, plan) = cands.minBy(_._1)
          val e = est(mask)
          memo(mask) = (e, cost + e, s1, s2, cross, plan)
        }
      }
      memo.toMap
    }
    def check(tables: Seq[(String, Long)],
              edges: Seq[(Int, Int, Long)]): Unit = {
      val got = JoinEnumeration.dpCcp(JoinGraph(tables, edges))
      val want = reference(tables, edges)
      assert(got.keySet == want.keySet, "same connected subsets")
      got.foreach { case (m, cell) =>
        val w = want(m)
        assert(cell.est == w._1 && cell.cost == w._2 &&
          cell.leftMask == w._3 && cell.rightMask == w._4 &&
          cell.crossEdges == w._5 && cell.plan == w._6,
          s"cell $m: $cell vs $w")
      }
    }
    // the q249 fixture (Q5 5-cycle at sf0.001's stats)
    check(Seq(("l", 6000L), ("o", 1500L), ("c", 150L), ("n", 25L),
      ("s", 10L)),
      Seq((0, 1, 1500L), (1, 2, 150L), (2, 3, 25L), (3, 4, 25L),
        (4, 0, 10L)))
    // a planted 7-table CYCLIC graph: a 6-cycle with a chord (1–4) and
    // a pendant dim (6 off table 2) — cost ties and multi-cross-edge
    // splits abound, so the tie-break order is genuinely exercised
    check(Seq(("t0", 5000L), ("t1", 900L), ("t2", 400L), ("t3", 80L),
      ("t4", 80L), ("t5", 12L), ("t6", 7L)),
      Seq((0, 1, 900L), (1, 2, 400L), (2, 3, 80L), (3, 4, 40L),
        (4, 5, 12L), (5, 0, 12L), (1, 4, 80L), (2, 6, 7L)))
  }
  test("q249 cyclic enumeration: 21-row DP table, Q5 winner, executed trees identical") {
    val df = Relational.cboCyclicEnumerationAudit(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, String, Long, Long, Long, Boolean)]
      .collect()
    assert(df.length == 21)
    val full = df.find(_._2 == 5L).get
    assert(full._5 ==
      "(lineitem*(orders*(customer*(nation*supplier))))",
      s"winner: ${full._5}")
    assert(df.forall(_._9), "trees_identical on every row")
    // the answer replayed directly from the raw CYCLIC join — both the
    // N–S and S–L predicates applied
    val d = TestSpark.Sf0001
    val want = graft.Tables.lineitem(spark, d)
      .join(graft.Tables.orders(spark, d),
        col("l_orderkey") === col("o_orderkey"))
      .join(graft.Tables.customer(spark, d),
        col("o_custkey") === col("c_custkey"))
      .join(graft.Tables.nation(spark, d),
        col("c_nationkey") === col("n_nationkey"))
      .join(graft.Tables.supplier(spark, d),
        col("n_nationkey") === col("s_nationkey") &&
          col("s_suppkey") === col("l_suppkey")).count()
    assert(df.forall(_._6 == want), "answer row count")
    // the full set prices BELOW the fact count — the cycle's estimate
    // win this row exists to show
    val nLi = graft.Tables.lineitem(spark, d).count()
    assert(full._3 < nLi, s"cyclic est ${full._3} vs fact $nLi")
  }
  test("q250 incremental feedback: pooled fold transfers to the held-out rectangle, replay converges") {
    val rows = Relational.incrementalFeedbackMaintenance(spark, TestSpark.Sf0001)
      .as[(Long, String, Long, Long, Long, Long, Long, Long, Long, Long,
        Long, Long, Boolean)].collect().sortBy(_._1)
    assert(rows.length == 4, "one observation row per tick, both classes")
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(rows.take(3).forall(_._2 == "id_ts_diag"))
    assert(rows(3)._2 == "l_orderkey_mod2_eq",
      "tick 3 carries the enumerators' derived-predicate class")
    // the fold IS the diag ticks' sums (monoid) and the correction is
    // the pooled ratio
    val estSum = rows.take(3).map(_._3).sum
    val actualSum = rows.take(3).map(_._4).sum
    assert(rows.forall(r => r._5 == estSum && r._6 == actualSum))
    assert(rows.head._7 ==
      actualSum * 1000000L / math.max(1L, estSum), "pooled ratio")
    // the transfer: held-out B repaired by an order of magnitude
    val a = rows.head
    assert(a._11 > 500000L, s"raw err ${a._11}")
    assert(a._12 < a._11 / 10L, s"corrected err ${a._12}")
    assert(a._13, "improved")
    assert(a._9 == Relational.feedbackCorrected(a._8, a._7), "application")
    // out-of-band replay of a middle tick converges (the audit already
    // replays tick 1 before reading; a second replay must be a no-op)
    val root = Relational.ensureFeedbackStats(spark, TestSpark.Sf0001)
    Relational.fbObsTickAt(spark, TestSpark.Sf0001, root, 1)
    val again = spark.read.parquet(s"$root/fbobs")
      .select(col("ingest_batch").cast("long"), col("pred_class"),
        col("est"), col("actual"))
      .as[(Long, String, Long, Long)].collect().toSet
    assert(again == rows.map(r => (r._1, r._2, r._3, r._4)).toSet,
      "replaying tick 1 changed the store")
  }
  test("q250 streaming twin: MemoryStream observation commits reproduce the tick loop; replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = java.nio.file.Files
      .createTempDirectory("graft_fb_stream").toString
    // deterministic observation rows — the twin's claim is stream ≡
    // commit for the SAME rows, not the observation derivation (the
    // batch audit owns that)
    val ticks = Seq(("id_ts_diag", 66L, 250L, 0),
      ("id_ts_diag", 64L, 230L, 1), ("id_ts_diag", 55L, 221L, 2))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val q = Relational.streamingFeedbackMaintenance(
      input.toDF().toDF("pred_class", "est", "actual"), root).start()
    try {
      ticks.foreach { case (c, e, a, _) =>
        input.addData(Seq((c, e, a)))
        q.processAllAvailable()
      }
    } finally q.stop()
    def store() = spark.read.parquet(s"$root/fbobs")
      .select(col("ingest_batch").cast("long"), col("pred_class"),
        col("est"), col("actual"))
      .as[(Long, String, Long, Long)].collect().toSet
    val streamed = store()
    assert(streamed == ticks.map { case (c, e, a, t) =>
      (t.toLong, c, e, a)
    }.toSet, "stream != expected commits")
    // same-batchId replay converges
    import spark.implicits._
    Relational.fbObsCommit(Seq(ticks(1)).map { case (c, e, a, _) =>
      (c, e, a)
    }.toDF("pred_class", "est", "actual"), 1L, root)
    assert(store() == streamed, "replaying commit 1 changed the store")
  }

  test("selingerPhysicalDp: beta=0 reduces to the tree DP; threshold operator model; planted operator flip") {
    // 1) with the exchange term off, the operator-aware DP IS the q245
    // tree DP — cell for cell, including tie-breaks
    val tables = Seq(("lineitem", 6000L), ("orders", 1500L),
      ("customer", 150L), ("part", 200L), ("supplier", 10L))
    val edges = Seq((0, 1, 1500L), (1, 2, 150L), (0, 3, 200L),
      (0, 4, 10L))
    val tree = JoinEnumerationReference.selingerGraphDp(tables, edges)
    val zero = JoinEnumeration.selingerPhysicalDp(JoinGraph(tables, edges),
      betaE2 = 0L)
    assert(tree.keySet == zero.keySet, "same connected subsets")
    tree.keySet.foreach { m =>
      assert(tree(m).est == zero(m).est && tree(m).cost == zero(m).cost &&
        tree(m).plan == zero(m).plan &&
        tree(m).cutEdge == zero(m).cutEdge, s"cell $m differs at beta=0")
    }
    // 2) the operator annotation follows the q221 threshold rule
    val phys = JoinEnumeration.selingerPhysicalDp(JoinGraph(tables, edges),
      bcastLimit = 100L)
    val ls = phys((1 << 0) | (1 << 4)) // lineitem ⋈ supplier
    assert(ls.op == "broadcast" && ls.exchanged == 10L,
      s"supplier side (10 ≤ 100) should broadcast: $ls")
    val lo = phys((1 << 0) | (1 << 1)) // lineitem ⋈ orders
    assert(lo.op == "shuffle" && lo.exchanged == 7500L,
      s"both sides > 100 should shuffle est_l+est_r: $lo")
    // 3) the planted flip: C_out appends the 200-row part before the
    // 10-row supplier (est(locp) 4 < est(locs) 10), but shipping part
    // costs a 100-row broadcast vs supplier's 10 — the operator-aware
    // DP sacrifices 6 rows of C_out to save 96 exchanged rows, the
    // System-R coupling no post-hoc operator pass can reproduce
    val pTables = Seq(("l", 60000L), ("o", 500L), ("c", 150L),
      ("p", 200L), ("s", 10L))
    val pEdges = Seq((0, 1, 30000L), (1, 2, 1500L), (0, 3, 5000L),
      (0, 4, 100L))
    val cout = JoinEnumeration.selingerPhysicalDp(JoinGraph(pTables, pEdges),
      bcastLimit = 5000L, betaE2 = 0L)
    val opAware = JoinEnumeration.selingerPhysicalDp(JoinGraph(pTables, pEdges),
      bcastLimit = 5000L, betaE2 = 100L)
    val full = 31
    assert(cout(full).plan == "(((l*(o*c))*p)*s)", cout(full).plan)
    assert(opAware(full).plan == "(((l*(o*c))*s)*p)", opAware(full).plan)
    assert(cout(full).cost == 154L, s"C_out winner ${cout(full).cost}")
    assert(opAware(full).cost == 380L,
      s"operator-aware winner ${opAware(full).cost}")
    // the C_out winner re-priced WITH exchanges costs more (462 > 380):
    // the flip is a genuine preference reversal, not a tie-break
    assert(opAware(full).plan != cout(full).plan, "winners differ")
  }

  test("q251 physical enumeration: 17 rows, beta=0 columns equal q245's DP, executed identity") {
    val d = TestSpark.Sf0001
    val rows = Relational.cboPhysicalEnumerationAudit(spark, d)
      .as[(String, Long, Long, Long, String, Long, String, String, Long,
        Boolean, Long, Long, Long, Boolean)].collect()
    assert(rows.length == 17, s"${rows.length} connected subsets")
    assert(rows.forall(_._14), "trees_identical on every row")
    // the beta=0 columns reproduce q245's tree DP exactly
    val q245 = Relational.cboGraphEnumerationAudit(spark, d)
      .as[(String, Long, Long, Long, String, Long, Long, Long, Boolean)]
      .collect().map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    rows.foreach { r =>
      val (est, cost, plan) = q245(r._1)
      assert(r._3 == est && r._4 == cost && r._5 == plan,
        s"${r._1}: beta=0 columns diverge from q245")
    }
    // leaves are annotated as leaves; composite ops obey the threshold
    rows.filter(_._2 == 1L).foreach { r =>
      assert(r._8 == "leaf" && r._9 == 0L && r._4 == 0L && r._6 == 0L)
    }
    rows.filter(_._2 > 1L).foreach { r =>
      assert(r._8 == "broadcast" || r._8 == "shuffle", r._8)
      assert(r._9 > 0L, s"${r._1}: exchanged rows must be positive")
    }
    // the executed answer is the raw star join
    val want = Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.part(spark, d), col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, d), col("l_suppkey") === col("s_suppkey"))
      .count()
    assert(rows.head._11 == want, "answer row count")
  }

  test("feedbackFreshness: single tick fresh, planted drift stale, shared store passes the gate") {
    import spark.implicits._
    val root = graft.sources.Sources.scratchDirUnique(spark, "fbfrspec")
    Relational.fbObsCommit(Seq(("cls", 100L, 400L))
      .toDF("pred_class", "est", "actual"), 0L, root)
    val one = Relational.feedbackFreshness(spark, root, "cls")
    assert(one.nTicks == 1L && !one.stale && one.driftPpm == 0L &&
      one.pooledE6 == 4000000L, s"single tick: $one")
    // consistent second tick: still fresh, pooled over both
    Relational.fbObsCommit(Seq(("cls", 100L, 410L))
      .toDF("pred_class", "est", "actual"), 1L, root)
    val two = Relational.feedbackFreshness(spark, root, "cls")
    assert(two.nTicks == 2L && !two.stale &&
      two.priorE6 == 4000000L && two.latestE6 == 4100000L &&
      two.driftPpm == 25000L, s"consistent ticks: $two")
    // regime change: the newest tick's ratio collapses → stale
    Relational.fbObsCommit(Seq(("cls", 100L, 30L))
      .toDF("pred_class", "est", "actual"), 2L, root)
    val drifted = Relational.feedbackFreshness(spark, root, "cls")
    assert(drifted.stale && drifted.latestE6 == 300000L &&
      drifted.driftPpm > Relational.FbDriftBandPpm, s"drift: $drifted")
    // the MAINTAINED store's classes pass the gate with margin — the
    // consumer read (q244/q247/q248's path) is gated but never refused
    // on production data
    val shared = Relational.feedbackFreshness(spark,
      Relational.ensureFeedbackStats(spark, TestSpark.Sf0001),
      "id_ts_diag")
    assert(!shared.stale &&
      shared.driftPpm < Relational.FbDriftBandPpm / 2L,
      s"shared store must be fresh with ≥2x margin: $shared")
    assert(Relational.feedbackCorrectionFor(spark, TestSpark.Sf0001,
      "id_ts_diag") == shared.pooledE6,
      "gate must pass the pooled correction through on fresh data")
  }

  test("q252 staleness audit: fresh leg applies, drifted leg refuses, decisions derived right") {
    val rows = Relational.feedbackStalenessAudit(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long,
        Boolean, Long, Long, Long, Long, Long, Long, Long, Long,
        Boolean)].collect()
    assert(rows.length == 7, s"3 fresh + 4 drifted ticks: ${rows.length}")
    val fresh = rows.filter(_._1 == "fresh")
    val drifted = rows.filter(_._1 == "drifted")
    assert(fresh.length == 3 && drifted.length == 4)
    // fresh: gate passes, the pooled correction is used and improves
    fresh.foreach { r =>
      assert(!r._10, "fresh store must not be stale")
      assert(r._11 == r._6, "used correction = pooled")
      assert(r._13 == r._14, "est_b_used = est_b_corrected")
      assert(r._18 < r._16, "corrected beats raw on the fresh regime")
      assert(r._19, "decision_right")
    }
    // drifted: the planted regime change trips the gate; the consumer
    // keeps the raw estimate, which beats the stale correction
    drifted.foreach { r =>
      assert(r._10, "drifted store must be stale")
      assert(r._9 > Relational.FbDriftBandPpm, s"drift ${r._9}")
      assert(r._11 == 1000000L, "refusal = identity correction")
      assert(r._14 == r._12, "est_b_used = est_b_raw (fallback)")
      assert(r._18 <= r._16 && r._18 <= r._17, "fallback no worse")
      assert(r._19, "decision_right")
    }
    // the drifted store's newest tick is the shift tick
    assert(drifted.map(_._2).sorted.toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("q253 exchange probe: cyclic chosen arm reuses the nationkey partitioning, saving a shuffle AND a sort") {
    case class Arm(graph: String, arm: String, cout: Long, plan: String,
                   predSh: Long, predSo: Long, sh: Long, bc: Long,
                   so: Long, nRows: Long, sumQty: Long)
    val rows = Relational.cboExchangeProbeAudit(spark, TestSpark.Sf0001)
      .as[(String, String, Long, String, Long, Long, Long, Long, Long,
           Long, Long)]
      .collect().map((Arm.apply _).tupled)
    assert(rows.length == 5, s"${rows.length} arms")
    val byKey = rows.map(r => (r.graph, r.arm) -> r).toMap
    val smj = rows.filter(_.arm != "chosen_bcast")
    val cc = byKey(("cycle", "chosen"))
    val cl = byKey(("cycle", "left_deep"))
    // the measurement this probe exists for: the chosen dim chain
    // joins supplier and then customer on the SAME nationkey, so the
    // second join reuses the first's partitioning — one fewer
    // Exchange than the key-switching left-deep order (7 vs 8), a
    // difference C_out (910 vs 18 240) cannot see or price
    assert(cc.sh < cl.sh,
      s"chosen ${cc.sh} vs left-deep ${cl.sh} shuffle exchanges")
    // the r20 interesting-ORDERS measurement: the same chain reuses
    // the SORT exactly where it reuses the partitioning — the chosen
    // arm saves ≥1 Sort node vs left-deep
    assert(cc.so < cl.so,
      s"chosen ${cc.so} vs left-deep ${cl.so} sort nodes")
    assert(cc.nRows == cl.nRows && cc.sumQty == cl.sumQty,
      "cycle arms agree")
    val sc = byKey(("star", "chosen"))
    val sl = byKey(("star", "left_deep"))
    assert(sc.nRows == sl.nRows && sc.sumQty == sl.sumQty,
      "star arms agree")
    // the pure model's prediction matches the MEASURED count on every
    // SMJ arm — the evidence that q254's exchange term prices what
    // Spark's EnsureRequirements actually does; the SORT prediction
    // (same recursion: the reuse condition is attribute-identical for
    // ordering and partitioning) matches too, which is the measured
    // proof that interesting orders coincide with interesting
    // partitionings on an equi-join SMJ tree — J32's states carry the
    // sort dimension for free
    smj.foreach { r =>
      assert(r.predSh == r.sh,
        s"${r.graph}/${r.arm}: predicted ${r.predSh} vs measured ${r.sh}")
      assert(r.predSo == r.so,
        s"${r.graph}/${r.arm}: sort predicted ${r.predSo} vs measured ${r.so}")
      assert(r.so == r.sh,
        s"${r.graph}/${r.arm}: sorts ${r.so} == shuffles ${r.sh}")
    }
    // broadcast scoped off on the SMJ arms: the counts measure
    // exchange STRUCTURE
    assert(smj.forall(_.bc == 0L), "no broadcast exchanges on SMJ arms")
    assert(smj.forall(_.sh > 0L), "every SMJ arm shuffles")
    // the broadcast arm: same tree, default thresholds — operator
    // choice ELIMINATES shuffles the SMJ twin pays (the unified
    // operator+partitioning DP's payoff, declared unmodeled: pred −1)
    // AND every sort (a broadcast hash join has no ordering
    // requirement — the second thing the SMJ arms pay that the
    // operator dimension erases)
    val bc = byKey(("star", "chosen_bcast"))
    assert(bc.predSh == -1L && bc.predSo == -1L,
      "bcast arm is declared unmodeled")
    assert(bc.bc > 0L, "broadcast exchanges appear")
    assert(bc.sh < sc.sh,
      s"broadcast ${bc.sh} shuffles vs SMJ twin ${sc.sh}")
    assert(bc.so == 0L, s"broadcast arm sorts: ${bc.so}")
    assert(bc.nRows == sc.nRows && bc.sumQty == sc.sumQty,
      "bcast arm answers agree")
  }

  test("dpCcpExchange: natural Q5 keeps the nationkey reuse; gamma=0 collapses to C_out; planted flip") {
    val tables = Seq(("l", 6000L), ("o", 1500L), ("c", 150L),
      ("n", 25L), ("s", 10L))
    val edges = Seq((0, 1, 1500L), (1, 2, 150L), (2, 3, 25L),
      (3, 4, 25L), (4, 0, 10L))
    val classes = Relational.CycleKeyClasses
    val full = 31
    // the exchange-aware DP: the unified DP with broadcast off, minus its
    // sentinel-cost (broadcast-only) states
    def exchangeDp(t: Seq[(String, Long)], e: Seq[(Int, Int, Long)],
                   gammaE2: Long = 100L) =
      JoinEnumeration.dpCcpUnified(JoinGraph(t, e), classes,
        bcastLimit = -1L, deltaE2 = gammaE2)
        .filter(_._2.cost != JoinEnumeration.UniSentinelCost)
    def winner(dp: Map[(Int, Seq[Int]), JoinEnumeration.UniDpCell]) =
      JoinEnumeration.unifiedWinner(dp, full)
    val dp = exchangeDp(tables, edges)
    val win = winner(dp)
    // the Q5 right-deep dim chain, with its nationkey reuse priced:
    // 7 exchanges, not 8
    assert(win.plan == "(l*(o*(c*(n*s))))", win.plan)
    assert(win.nShuffleExch == 7L && win.part == Seq(0, 3) &&
      win.cost == 9255L, s"$win")
    // the full-mask state table carries every interesting
    // partitioning (7 states on this graph)
    val states = dp.collect { case ((m, p), c) if m == full => p -> c }
    assert(states.size == 7, s"${states.size} states")
    // gamma=0 collapses the winner cost to the pure C_out optimum
    val z = exchangeDp(tables, edges, gammaE2 = 0L)
    assert(winner(z).cost ==
      JoinEnumeration.dpCcp(JoinGraph(tables, edges))(full).cost)
    // planted flip: C_out breaks the (customer*nation)*supplier
    // nationkey reuse for 6 fewer estimated rows; the exchange term
    // keeps it and the winners genuinely differ
    val pT = Seq(("l", 60000L), ("o", 500L), ("c", 150L),
      ("n", 250L), ("s", 10L))
    val pE = Seq((0, 1, 5000L), (1, 2, 1500L), (2, 3, 2500L),
      (3, 4, 25L), (4, 0, 10L))
    val pWin = winner(exchangeDp(pT, pE))
    val pCout = JoinEnumeration.dpCcp(JoinGraph(pT, pE))(full)
    assert(pWin.plan != pCout.plan, s"${pWin.plan} vs ${pCout.plan}")
    assert(pWin.plan == "(l*(o*((c*n)*s)))" && pWin.nShuffleExch == 7L,
      s"$pWin")
    assert(pCout.plan == "(l*((o*(c*n))*s))", pCout.plan)
  }

  test("dpCcpUnified: broadcast preserves the stream partitioning; limit<0 reduces to the exchange DP; planted order flip") {
    val tables = Seq(("l", 6000L), ("o", 1500L), ("c", 150L),
      ("n", 25L), ("s", 10L))
    val edges = Seq((0, 1, 1500L), (1, 2, 150L), (2, 3, 25L),
      (3, 4, 25L), (4, 0, 10L))
    val classes = Relational.CycleKeyClasses
    val full = 31
    def winner(dp: Map[(Int, Seq[Int]), JoinEnumeration.UniDpCell]) =
      dp.collect { case ((m, _), c) if m == full => c }
        .minBy(c => (c.cost, c.part.mkString(",")))
    // natural Q5 at the broadcast threshold: the same right-deep tree
    // wins but runs ALL-BROADCAST — every dim ships, nothing shuffles
    val u = winner(JoinEnumeration.dpCcpUnified(JoinGraph(tables, edges), classes))
    assert(u.plan == "(l*(o*(c*(n*s))))", u.plan)
    assert(u.cost == 1590L && u.nShuffleExch == 0L &&
      u.nBcastExch == 4L && u.part.isEmpty, s"$u")
    // broadcast disabled: the winner reduces to the J32 exchange DP's
    val v = winner(JoinEnumeration.dpCcpUnified(JoinGraph(tables, edges), classes,
      bcastLimit = -1L))
    val x = JoinEnumerationReference.dpCcpExchange(tables, edges, classes)
      .collect { case ((m, _), c) if m == full => c }
      .minBy(c => (c.cost, c.part.mkString(",")))
    assert(v.cost == x.cost && v.plan == x.plan &&
      v.nShuffleExch == x.nExchanges, s"$v vs $x")
    // an over-threshold ship side prices at the declared sentinel —
    // physically unavailable, never the winner
    assert(u.cost < JoinEnumeration.UniSentinelCost)
    // planted flip: with a 20k-row supplier the exchange-only DP
    // hangs supplier last on a shuffle; broadcast-awareness reorders
    // the TREE (nation+supplier ship; the join order itself changes)
    val pT = Seq(("l", 60000L), ("o", 30000L), ("c", 1500L),
      ("n", 25L), ("s", 20000L))
    val pE = Seq((0, 1, 30000L), (1, 2, 1500L), (2, 3, 25L),
      (3, 4, 250L), (4, 0, 1000L))
    val pU = winner(JoinEnumeration.dpCcpUnified(JoinGraph(pT, pE), classes))
    val pX = winner(JoinEnumeration.dpCcpUnified(JoinGraph(pT, pE), classes,
      bcastLimit = -1L))
    assert(pU.plan != pX.plan, s"${pU.plan} vs ${pX.plan}")
    assert(pU.plan == "((l*(o*c))*(n*s))" && pU.nBcastExch == 3L,
      s"$pU")
    assert(pX.plan == "((l*(o*(c*n)))*s)", pX.plan)
  }

  test("q255 unified enumeration: state table, all-broadcast Q5 winner, executed identity") {
    val d = TestSpark.Sf0001
    val rows = Relational.cboUnifiedEnumerationAudit(spark, d)
      .as[(String, String, Long, Long, Long, String, Long, Long, String,
        String, Long, String, Long, Long, String, Long, String, Boolean,
        Long, Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._22), "trees_identical on every row")
    val r0 = rows.head
    assert(r0._15 == "(lineitem*(orders*(customer*(nation*supplier))))",
      s"winner ${r0._15}")
    assert(r0._11 == 1590L && r0._13 == 0L && r0._14 == 4L,
      s"winner cost/exchanges ${(r0._11, r0._13, r0._14)}")
    assert(r0._10 == "none", s"winner part ${r0._10}")
    // the broadcast-disabled winner is q254's (9255 / the SMJ tree)
    assert(r0._16 == 9255L, s"exch winner cost ${r0._16}")
    assert(!r0._18, "winners agree on the TREE at natural stats")
    // leaves + composite states all present; sentinel rows (if any)
    // carry the declared constant
    assert(rows.count(_._6 == "leaf") == 5)
    rows.filter(_._5 >= JoinEnumeration.UniSentinelCost).foreach { r =>
      assert(r._5 == JoinEnumeration.UniSentinelCost, s"sentinel row $r")
    }
    val want = Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, d), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.supplier(spark, d),
        col("n_nationkey") === col("s_nationkey") &&
          col("s_suppkey") === col("l_suppkey"))
      .count()
    assert(r0._19 == want, "answer row count")
  }

  test("q256 planned query: estimate->enumerate->execute trace, correction beats the raw guess") {
    val d = TestSpark.Sf0001
    val rows = Relational.plannedStarQuery(spark, d).collect()
    assert(rows.nonEmpty)
    def g[T](r: org.apache.spark.sql.Row, c: String): T =
      r.getAs[T](c)
    // every row: fresh store (one tick for the class), gate passes,
    // correction applied, identity proven
    rows.foreach { r =>
      assert(!g[Boolean](r, "stale") && g[Long](r, "n_ticks") == 1L &&
        g[Long](r, "drift_ppm") == 0L, s"freshness: $r")
      assert(g[Long](r, "corr_used_e6") == g[Long](r, "correction_e6"),
        "gate passes -> pooled correction used")
      assert(g[Boolean](r, "trees_identical"), "executed identity")
    }
    val preds = rows.map(g[String](_, "pred_label")).distinct.sorted
    assert(preds.toSeq == Seq("narrow", "wide"), preds.mkString(","))
    preds.foreach { p =>
      val r = rows.find(g[String](_, "pred_label") == p).get
      val (raw, fb, actual) = (g[Long](r, "est_fact_raw"),
        g[Long](r, "est_fact_fb"), g[Long](r, "actual_fact"))
      // the ~50%-selective mod-2 predicate: the raw 1/1000 guess is
      // badly low; the correction repairs it — strictly closer to the
      // executed cardinality (the LEO claim, measured end to end)
      assert(fb > raw, s"$p: correction raises the estimate ($raw -> $fb)")
      assert(math.abs(fb - actual) < math.abs(raw - actual),
        s"$p: corrected $fb vs raw $raw vs actual $actual")
      // the estimate chain re-derives: default guess = hist/1000 (e6
      // fixed point), corrected = default × pooled/1e6
      val defE6 = g[Long](r, "hist_est_e6") /
        Relational.DefaultExprSelectivityDenom
      assert(g[Long](r, "est_default_e6") == defE6)
      assert(raw == math.max(1L, defE6 / 1000000L))
      assert(fb == math.max(1L,
        Relational.feedbackCorrected(defE6,
          g[Long](r, "corr_used_e6")) / 1000000L))
      // the executed answer is the real filtered 5-way join
      val nr = g[Long](r, "n_rows")
      assert(nr > 0L, s"$p: executed rows $nr")
      // the fb state table carries 5 leaves; the lineitem leaf's
      // estimate IS the corrected fact cardinality the DP consumed
      val leaves = rows.filter(x => g[String](x, "pred_label") == p &&
        g[String](x, "op") == "leaf")
      assert(leaves.length == 5)
      val liLeaf = leaves.find(g[String](_, "subset") == "lineitem").get
      assert(g[Long](liLeaf, "est_rows") == fb, "DP consumed the corrected est")
    }
  }

  test("q256 planted flip: the correction alone changes the unified winner (operator family)") {
    // sf0.01-shaped stats: the raw 1/1000 guess prices the filtered
    // fact at 48 rows (broadcast-eligible everywhere); the corrected
    // estimate (~24k) crosses the 10k broadcast threshold and the
    // winner changes operator family and order — the q237 OOM hazard,
    // priced before execution
    val edges = Seq((0, 1, 15000L), (1, 2, 1500L), (2, 3, 25L),
      (3, 4, 25L), (4, 0, 100L))
    val classes = Relational.CycleKeyClasses
    val full = 31
    def winner(dp: Map[(Int, Seq[Int]), JoinEnumeration.UniDpCell]) =
      dp.collect { case ((m, _), c) if m == full => c }
        .minBy(c => (c.cost, c.part.mkString(",")))
    def t(li: Long) = Seq(("l", li), ("o", 15000L), ("c", 1500L),
      ("n", 25L), ("s", 100L))
    val wr = winner(JoinEnumeration.dpCcpUnified(JoinGraph(t(48L), edges), classes))
    val wf = winner(JoinEnumeration.dpCcpUnified(JoinGraph(t(24163L), edges), classes))
    assert((wr.plan, wr.part, wr.op, wr.nShuffleExch, wr.nBcastExch) !=
      (wf.plan, wf.part, wf.op, wf.nShuffleExch, wf.nBcastExch),
      s"$wr vs $wf")
    // raw: the 48-row "fact" ships itself down an all-broadcast
    // left-deep chain (4 broadcasts, 0 shuffles)
    assert(wr.plan == "((((l*o)*c)*n)*s)" && wr.op == "broadcast_left"
      && wr.nShuffleExch == 0L && wr.nBcastExch == 4L, s"raw $wr")
    // corrected: the 24k-row fact can no longer ship — it shuffles
    // with orders on orderkey (keeping that partitioning) while the
    // dim chain broadcasts INTO it; order AND operator both changed
    assert(wf.plan == "((l*o)*(c*(n*s)))" && wf.op == "broadcast_right"
      && wf.nShuffleExch == 2L && wf.nBcastExch == 3L &&
      wf.part == Seq(0), s"fb $wf")
    assert(wr.cost < JoinEnumeration.UniSentinelCost &&
      wf.cost < JoinEnumeration.UniSentinelCost)
  }

  test("q256 stale fallback: a drifted class keeps the raw guess through the same verb") {
    val d = TestSpark.Sf0001
    // a private store whose l_orderkey_mod2_eq class drifts 90%
    // between ticks (ratio 500e6 -> 50e6): the A66 gate must refuse
    import spark.implicits._
    val root = graft.sources.Sources.scratchDirUnique(spark, "q256stale")
    Relational.fbObsCommit(
      Seq(("l_orderkey_mod2_eq", 60L, 30000L))
        .toDF("pred_class", "est", "actual"), 0L, root)
    Relational.fbObsCommit(
      Seq(("l_orderkey_mod2_eq", 60L, 3000L))
        .toDF("pred_class", "est", "actual"), 1L, root)
    val rows = Relational.plannedStarQuery(spark, d, Some(root)).collect()
    def g[T](r: org.apache.spark.sql.Row, c: String): T = r.getAs[T](c)
    rows.foreach { r =>
      assert(g[Boolean](r, "stale"), "class declared stale")
      assert(g[Long](r, "corr_used_e6") == 1000000L,
        "correction refused -> identity")
      assert(g[Long](r, "est_fact_fb") == g[Long](r, "est_fact_raw"),
        "fallback prices from the raw guess")
      assert(!g[Boolean](r, "winners_differ"),
        "identical stats -> identical winners")
    }
    // an ABSENT class is also a refusal (0 ticks would fold to a x0
    // correction — a new wrong estimate, not a fallback)
    val empty = graft.sources.Sources.scratchDirUnique(spark, "q256none")
    Relational.fbObsCommit(
      Seq(("some_other_class", 10L, 10L))
        .toDF("pred_class", "est", "actual"), 0L, empty)
    val r2 = Relational.plannedStarQuery(spark, d, Some(empty)).collect()
    r2.foreach { r =>
      assert(g[Long](r, "n_ticks") == 0L &&
        g[Long](r, "corr_used_e6") == 1000000L, s"absent class: $r")
    }
    // the SHARED consumer refuses an absent class too (its pooled
    // ratio folds to 0/1 = 0 — a x0 correction would collapse every
    // estimate, the exact hazard the gate exists to prevent)
    assert(Relational.feedbackCorrectionFor(spark, d,
      "no_such_class") == 1000000L)
  }

  test("q258 model predictions: the probe's model half, oracle-shaped — cycle reuse saves one predicted exchange AND sort") {
    val rows = Relational.cboModelPredictionsAudit(spark, TestSpark.Sf0001)
      .as[(String, String, Long, String, Long, Long)].collect()
    assert(rows.length == 4)
    val byKey = rows.map(r => (r._1, r._2) -> r).toMap
    // sort predictions equal shuffle predictions on every arm (the
    // q253 coincidence measurement, here as the model's own claim)
    rows.foreach(r => assert(r._5 == r._6, s"$r"))
    val cc = byKey(("cycle", "chosen"))
    val cl = byKey(("cycle", "left_deep"))
    // the nationkey-chain reuse: one fewer predicted exchange than the
    // key-switching left-deep order — and q253's spec pins these very
    // predictions equal to the MEASURED node counts
    assert(cc._5 == 7L && cl._5 == 8L, s"${cc._5} vs ${cl._5}")
    assert(cc._3 < cl._3, "the DP tree also wins on C_out")
    val sc = byKey(("star", "chosen"))
    val sl = byKey(("star", "left_deep"))
    // the pure-FK star honestly ties: every tree pays 8
    assert(sc._5 == 8L && sl._5 == 8L)
    assert(cc._4 == "(lineitem*(orders*(customer*(nation*supplier))))",
      cc._4)
  }

  test("dpCcpUnified byte gate: uniform widths reduce to the row form; a wide dim flips the ship side") {
    val tables = Seq(("l", 6000L), ("o", 1500L), ("c", 150L),
      ("n", 25L), ("s", 10L))
    val edges = Seq((0, 1, 1500L), (1, 2, 150L), (2, 3, 25L),
      (3, 4, 25L), (4, 0, 10L))
    val classes = Relational.CycleKeyClasses
    // REDUCTION: uniform widths w with limit = rowLimit × w give the
    // row-form DP cell for cell (max-width model: width(S) = w)
    val rowDp = JoinEnumeration.dpCcpUnified(JoinGraph(tables, edges), classes)
    val w = 7L * 1000000L
    val uniDp = JoinEnumeration.dpCcpUnified(JoinGraph(tables, edges), classes,
      widthsE6 = Seq.fill(5)(w),
      bcastLimitBytesE6 = JoinEnumeration.PhysBroadcastLimitRows * w)
    assert(uniDp == rowDp, "uniform byte gate == row gate, cell for cell")
    // PLANTED wide dim: customer at 2500 B/row — under the row gate
    // the winner ships the customer-carrying dim chain; under the
    // byte gate that ship (and every superset of customer) is
    // ineligible and the SAME TREE flips its ship side
    val store = Seq(7L, 7L, 7L, 2L, 4L).map(_ * 1000000L)
    val wide = store.updated(2, Relational.ByteGatePlantedWidthE6)
    val full = 31
    def winner(dp: Map[(Int, Seq[Int]), JoinEnumeration.UniDpCell]) =
      dp.collect { case ((m, _), c) if m == full => c }
        .minBy(c => (c.cost, c.part.mkString(",")))
    val lim = JoinEnumeration.PhysBroadcastLimitRows * store.head
    val wS = winner(JoinEnumeration.dpCcpUnified(JoinGraph(tables, edges), classes,
      widthsE6 = store, bcastLimitBytesE6 = lim))
    val wW = winner(JoinEnumeration.dpCcpUnified(JoinGraph(tables, edges), classes,
      widthsE6 = wide, bcastLimitBytesE6 = lim))
    assert(wS.plan == "(l*(o*(c*(n*s))))" && wS.op == "broadcast_right",
      s"store widths keep the q255 winner: $wS")
    assert(wW.plan == wS.plan && wW.op == "broadcast_left",
      s"wide dim flips the ship side at constant rows: $wW")
    assert(wW.cost > wS.cost, "the flip is priced, not free")
  }

  test("q257 byte broadcast audit: reduction equal, store widths honest, planted wide dim flips") {
    val d = TestSpark.Sf0001
    val rows = Relational.cboByteBroadcastAudit(spark, d).collect()
    def g[T](r: org.apache.spark.sql.Row, c: String): T = r.getAs[T](c)
    val arms = rows.groupBy(g[String](_, "arm"))
    assert(arms.keySet == Set("rows", "bytes_uniform", "bytes_store",
      "bytes_wide"), arms.keySet.toString)
    assert(arms.values.forall(_.length == rows.length / 4),
      "full state table per arm")
    rows.foreach { r =>
      assert(g[Boolean](r, "reduction_equal"),
        "uniform-width winner == row winner")
      assert(g[Boolean](r, "trees_identical"))
      // dominant-column model: gate width ≤ Σ width, both emitted
      assert(g[Long](r, "width_e6") <= g[Long](r, "width_sum_e6"),
        s"max<=sum: $r")
    }
    assert(arms("rows").forall(r => !g[Boolean](r, "differs_vs_rows")))
    assert(arms("bytes_uniform")
      .forall(r => !g[Boolean](r, "differs_vs_rows")))
    // the planted 2500-byte customer flips the winner at constant
    // rows: same tree, the ship side reverses (the customer-carrying
    // chain can no longer broadcast; the fact side ships instead)
    val ww = arms("bytes_wide").head
    assert(g[Boolean](ww, "differs_vs_rows"), "wide arm flips")
    assert(g[String](ww, "winner_plan") == g[String](ww, "rows_winner_plan"),
      "same join tree")
    assert(g[String](ww, "winner_op") == "broadcast_left" &&
      g[String](ww, "rows_winner_op") == "broadcast_right",
      s"ship side reversed: ${g[String](ww, "winner_op")}")
    assert(g[Long](ww, "winner_cost") > g[Long](ww, "rows_winner_cost"),
      "the width hazard costs real movement")
    // the planted width lands verbatim on the customer leaf and
    // poisons its supersets' gate width
    val custLeaf = arms("bytes_wide").find(r =>
      g[String](r, "subset") == "customer" &&
        g[String](r, "op") == "leaf").get
    assert(g[Long](custLeaf, "width_e6") ==
      Relational.ByteGatePlantedWidthE6)
    assert(g[Long](custLeaf, "bytes_e6") ==
      g[Long](custLeaf, "est_rows") * Relational.ByteGatePlantedWidthE6)
    arms("bytes_wide").filter(r =>
      g[String](r, "subset").contains("customer")).foreach { r =>
      assert(g[Long](r, "width_e6") == Relational.ByteGatePlantedWidthE6,
        s"superset inherits the wide width: $r")
    }
  }

  test("q259 planned query x byte gate: corrected cardinality decides movement, widths decide fit") {
    val rows = Relational.plannedStarQueryBytes(spark, TestSpark.Sf0001)
      .collect()
    def g[T](r: org.apache.spark.sql.Row, c: String): T = r.getAs[T](c)
    val preds = rows.groupBy(g[String](_, "pred_label"))
    assert(preds.keySet == Set("narrow", "wide"))
    rows.foreach { r =>
      assert(g[Boolean](r, "trees_identical"))
      // the estimate chain is q256's corrected path verbatim
      val defE6 = g[Long](r, "hist_est_e6") /
        Relational.DefaultExprSelectivityDenom
      assert(g[Long](r, "est_default_e6") == defE6)
      assert(g[Long](r, "est_fact_fb") == math.max(1L,
        Relational.feedbackCorrected(defE6,
          g[Long](r, "corr_used_e6")) / 1000000L))
      // the planted 2500-byte customer flips the ship side on BOTH
      // predicates at this scale — the composition's point: the byte
      // gate binds at the CORRECTED cardinality, on the planned path
      assert(g[Boolean](r, "winners_differ"), s"$r")
      assert(g[String](r, "store_winner_op") == "broadcast_right" &&
        g[String](r, "wide_winner_op") == "broadcast_left",
        s"ship side reversed: $r")
      assert(g[Long](r, "wide_winner_cost") >
        g[Long](r, "store_winner_cost"),
        "the width hazard is priced, not free")
      // the gate: the limit is 10000 fact rows' worth of store bytes
      assert(g[Long](r, "lim_bytes_e6") > 0L)
    }
    // full store-arm state table per predicate (the q255/q256 form)
    assert(preds.values.forall(_.length == rows.length / 2))
    preds.values.foreach { rs =>
      assert(rs.count(g[String](_, "op") == "leaf") == 5)
    }
  }

  test("q254 exchange enumeration: state table, Q5 winner at 7 exchanges, executed identity") {
    val d = TestSpark.Sf0001
    val rows = Relational.cboExchangeEnumerationAudit(spark, d)
      .as[(String, String, Long, Long, Long, Long, String, String, Long,
        Long, String, Long, String, Boolean, Long, Long, Long, Boolean)]
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._18), "trees_identical on every row")
    val r0 = rows.head
    assert(r0._8 == "orderkey+suppkey", s"winner part ${r0._8}")
    assert(r0._11 == "(lineitem*(orders*(customer*(nation*supplier))))",
      s"winner ${r0._11}")
    assert(r0._10 == 7L, s"winner exchanges ${r0._10}")
    // gamma=0 winner cost equals q249's pure C_out optimum (910 at
    // sf0.001 stats), and on the natural fixture the winners agree
    assert(r0._12 == 910L, s"cout winner cost ${r0._12}")
    assert(!r0._14, "winners_differ false on the natural fixture")
    // every full-set state prices >= the winner, and the state keyed
    // by the winner's partitioning IS the winner
    val fullRows = rows.filter(_._3 == 5L)
    assert(fullRows.length == 7, s"${fullRows.length} full-set states")
    assert(fullRows.forall(_._5 >= r0._9), "winner is minimal")
    val winState = fullRows.find(_._2 == r0._8).get
    assert(winState._5 == r0._9 && winState._7 == r0._11)
    // the answer is the raw cyclic join
    val want = Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, d), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.supplier(spark, d),
        col("n_nationkey") === col("s_nationkey") &&
          col("s_suppkey") === col("l_suppkey"))
      .count()
    assert(r0._15 == want, "answer row count")
  }
}
