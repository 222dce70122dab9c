package graft.tools

import graft.GraftSession
import graft.operators.Relational
import graft.optimizer.{JoinGraph, JoinTree}
import graft.optimizer.JoinEnumeration._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Calibrates the enumerator's movement coefficients from MEASURED
  * wall-times — the r19 verdict's task 4: β (q251), γ (q254) and δ
  * (q255) shipped as unit guesses; this probe regresses the q253 arm
  * family's measured seconds onto the model's own features and records
  * what the hardware actually charges per moved row, relative to what
  * it charges per C_out row.
  *
  * Per SF dir (args, default sf0.01 + sf0.1) it executes the five
  * q253 arms full-size — star/cycle × DP-chosen/left-deep with
  * broadcast scoped off (SMJ — movement is shuffle), plus the star
  * chosen tree under default thresholds (movement is broadcast) — and
  * times each (best of `runs`, default 2, to shave ambient noise).
  * Features come from the same model the DPs price with:
  *
  *  - `cout`   = Selinger C_out (Σ est over internal join nodes);
  *  - `shuf`   = Σ est over sides that take a fresh Exchange under
  *               the [[graft.optimizer.JoinEnumeration.joinExch]]
  *               partitioning-reuse rule
  *               (q253 spec-pinned ≡ Spark's EnsureRequirements);
  *  - `bcast`  = Σ est over shipped sides (per join the smaller-est
  *               side, Spark's own pick at default thresholds), 0
  *               shuffles on this fixture's all-FK star.
  *
  * The raw fit solves least squares sec ≈ a·cout + b·shuf + c·bcast
  * + d by 4×4 normal equations — and the probe's FIRST finding is that
  * this regression is structurally ill-conditioned on any SMJ arm
  * family: an SMJ tree's shuffled rows are AFFINELY DEPENDENT on its
  * C_out (shuf = cout − est(root) + Σ leaf rows absent reuse — every
  * non-root node is exchanged once, the root output never is; reuse
  * shifts the constant, never the slope), and all features scale ∝
  * SF, so a and
  * b are never separately identifiable from tree-shape contrasts
  * (measured: the raw fit's signs flip between SF subsets). The raw
  * coefficients are printed for the record; the CONSUMABLE estimates
  * come from the two contrasts the family does identify, each exact
  * algebra on paired arms (intercept and shared terms cancel):
  *
  *  - `combined_rate` (a+b): from left_deep−chosen pairs, where
  *    Δcout = Δshuf exactly, Δsec = (a+b)·Δcout — slope by
  *    est-weighted LS across graphs × SFs;
  *  - `shuffle_rate_ub` (b, upper bound at c→0): from the same-tree
  *    SMJ-vs-broadcast pairs, Δsec = b·shuf − c·bcast ≤ b·shuf;
  *  - `delta_shuffle_e2` = round(100·b_ub/(a+b)): what the DPs'
  *    γ/δ should charge per moved row if a C_out row is worth 100.
  *
  * The closing check re-runs the exchange-aware DP
  * ([[graft.optimizer.JoinEnumeration.dpCcpUnified]] with broadcast off,
  * fitted γ) and the unified DP (fitted δ) on the measured stats
  * and reports whether the fitted winners still match the
  * unit-coefficient winners — agreement or flip is the finding either
  * way, recorded in BENCH_NOTES and pinned by CostFitSpec at the
  * recorded coefficients.
  *
  * Measurement probe by nature (wall clock is the dependent variable),
  * so a tools/ main like XoProbe, not a registry query. */
object CostFitProbe {
  /** (partitioning classes, C_out, shuffled rows) of a tree run as
    * sort-merge joins, each join requiring its edges' key classes. */
  private[graft] def smjFeatures(g: JoinGraph, t: JoinTree,
                                 classes: Seq[Int]): (Seq[Int], Long, Long) =
    t match {
      case JoinTree.Scan(_) => (Seq.empty, 0L, 0L)
      case JoinTree.Join(l, r, es, _) =>
        val k = es.map(classes).distinct.sorted
        val (lp, lc, lm) = smjFeatures(g, l, classes)
        val (rp, rc, rm) = smjFeatures(g, r, classes)
        val movedL = if (lp == k) 0L else g.est(l.mask)
        val movedR = if (rp == k) 0L else g.est(r.mask)
        (k, lc + rc + g.est(t.mask), lm + rm + movedL + movedR)
    }

  /** (C_out, broadcast rows) of the same tree run all-broadcast:
    * every join ships its smaller-est side. */
  private[graft] def bcastFeatures(g: JoinGraph, t: JoinTree): (Long, Long) =
    t match {
      case JoinTree.Scan(_) => (0L, 0L)
      case JoinTree.Join(l, r, _, _) =>
        val (lc, lb) = bcastFeatures(g, l)
        val (rc, rb) = bcastFeatures(g, r)
        (lc + rc + g.est(t.mask), lb + rb + math.min(g.est(l.mask), g.est(r.mask)))
    }

  def main(args: Array[String]): Unit = {
    val sfs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_COSTFIT_RUNS", "2").toInt
    val spark = GraftSession.local("costfit",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    val conf = spark.conf
    val points = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, Long, Long, Long, Double)]
    var lastCyc: JoinGraph = null
    for (dir <- sfs) {
      val fx = new Relational.EnumFixture(spark, dir)
      lastCyc = fx.cycle
      val cycTree = ccpTree(dpCcp(fx.cycle), fx.cycle.fullMask)
      val starTree = physTree(selingerPhysicalDp(fx.star, betaE2 = 0L),
        fx.star.fullMask, hinted = false)
      val (cycLd, starLd) =
        (JoinTree.leftDeep(fx.cycle), JoinTree.leftDeep(fx.star))
      def time(df: => DataFrame): Double =
        (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          df.agg(count(lit(1)),
            coalesce(sum(col("l_quantity").cast("long")), lit(0L)))
            .collect()
          (System.nanoTime() - t0) / 1e9
        }.min
      val scoped = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      val saved = scoped.map { case (k, _) => k -> conf.getOption(k) }
      scoped.foreach { case (k, v) => conf.set(k, v) }
      val smjArms = try {
        Seq(
          ("star", "chosen", fx.star, fx.starClasses, starTree,
            () => fx.runStar(starTree)),
          ("star", "left_deep", fx.star, fx.starClasses, starLd,
            () => fx.runStar(starLd)),
          ("cycle", "chosen", fx.cycle, Relational.CycleKeyClasses, cycTree,
            () => fx.runCycle(cycTree)),
          ("cycle", "left_deep", fx.cycle, Relational.CycleKeyClasses, cycLd,
            () => fx.runCycle(cycLd))
        ).map { case (g, a, graph, classes, tree, mk) =>
          val (_, cout, shuf) = smjFeatures(graph, tree, classes)
          val sec = time(mk())
          (dir, g, a, cout, shuf, 0L, sec)
        }
      } finally saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
      val (bcCout, bcRows) = bcastFeatures(fx.star, starTree)
      val bcSec = time(fx.runStar(starTree))
      points ++= smjArms
      points += ((dir, "star", "chosen_bcast", bcCout, 0L, bcRows, bcSec))
    }
    points.foreach { case (sf, g, a, cout, shuf, bc, sec) =>
      println(f"""{"sf":"$sf","graph":"$g","arm":"$a","cout":$cout,"shuf":$shuf,"bcast":$bc,"sec":$sec%.4f}""")
    }
    // least squares: sec ~ a*cout + b*shuf + c*bcast + d
    val xs = points.map(p =>
      Array(p._4.toDouble, p._5.toDouble, p._6.toDouble, 1.0)).toArray
    val ys = points.map(_._7).toArray
    val k = 4
    val ata = Array.ofDim[Double](k, k)
    val aty = Array.ofDim[Double](k)
    for (r <- xs.indices; i <- 0 until k) {
      aty(i) += xs(r)(i) * ys(r)
      for (j <- 0 until k) ata(i)(j) += xs(r)(i) * xs(r)(j)
    }
    // gaussian elimination with partial pivoting
    val m = Array.tabulate(k)(i => ata(i) :+ aty(i))
    for (c0 <- 0 until k) {
      val piv = (c0 until k).maxBy(r => math.abs(m(r)(c0)))
      val t = m(c0); m(c0) = m(piv); m(piv) = t
      require(math.abs(m(c0)(c0)) > 1e-18, "singular normal equations")
      for (r <- 0 until k if r != c0) {
        val f = m(r)(c0) / m(c0)(c0)
        for (j <- c0 to k) m(r)(j) -= f * m(c0)(j)
      }
    }
    val beta = (0 until k).map(i => m(i)(k) / m(i)(i))
    val (a, b, c, d0) = (beta(0), beta(1), beta(2), beta(3))
    // the identifiable contrasts (see Scaladoc): paired differences,
    // est-weighted LS slope through the origin
    val byKey = points.map(p => (p._1, p._2, p._3) -> p).toMap
    val ldPairs = for {
      sf <- sfs; g <- Seq("star", "cycle")
      ch <- byKey.get((sf, g, "chosen"))
      ld <- byKey.get((sf, g, "left_deep"))
    } yield ((ld._4 - ch._4).toDouble, ld._7 - ch._7)
    val combinedRate = ldPairs.map { case (x, y) => x * y }.sum /
      ldPairs.map { case (x, _) => x * x }.sum
    val bcPairs = for {
      sf <- sfs
      smj <- byKey.get((sf, "star", "chosen"))
      bcA <- byKey.get((sf, "star", "chosen_bcast"))
    } yield (smj._5.toDouble, smj._7 - bcA._7)
    val shuffleRateUb = bcPairs.map { case (x, y) => x * y }.sum /
      bcPairs.map { case (x, _) => x * x }.sum
    val dShufE2 =
      if (combinedRate > 0)
        math.max(0L, math.round(100.0 * shuffleRateUb / combinedRate))
      else -1L
    val dBcastE2 = dShufE2
    // winner stability at the fitted coefficients, on the last SF's
    // measured stats
    // (the exchange-aware DP is the unified DP with broadcast off; its
    // sentinel-cost states never win)
    val classes = Relational.CycleKeyClasses
    def exchWinner(g: Long) = unifiedWinner(dpCcpUnified(lastCyc, classes,
      bcastLimit = -1L, deltaE2 = math.max(0L, g)), lastCyc.fullMask)
    def uniWinner(dd: Long) = unifiedWinner(dpCcpUnified(lastCyc, classes,
      deltaE2 = math.max(0L, dd)), lastCyc.fullMask)
    val exFit = exchWinner(dShufE2)
    val exUnit = exchWinner(100L)
    val unFit = uniWinner(dBcastE2)
    val unUnit = uniWinner(100L)
    // fastest cycle arm PER SF (a global min would always land on the
    // smallest SF's point and say nothing about the others)
    val fastestPerSf = points.filter(_._2 == "cycle").groupBy(_._1)
      .map { case (sf, ps) => sf -> ps.minBy(_._7)._3 }
    val chosenFastestAllSfs = fastestPerSf.values.forall(_ == "chosen")
    println(
      f"""{"raw_fit_ill_conditioned":{"alpha_cout":$a%.3e,"beta_shuffle":$b%.3e,"gamma_bcast":$c%.3e,"intercept":$d0%.3e},""" +
      f""""combined_rate_sec_per_row":$combinedRate%.3e,"shuffle_rate_ub_sec_per_row":$shuffleRateUb%.3e,""" +
      f""""delta_shuffle_e2":$dShufE2,"delta_bcast_e2":$dBcastE2,""" +
      s""""exch_fitted_plan":"${exFit.plan}","exch_unit_plan":"${exUnit.plan}",""" +
      s""""exch_stable":${exFit.plan == exUnit.plan},""" +
      s""""uni_fitted_plan":"${unFit.plan}","uni_unit_plan":"${unUnit.plan}",""" +
      s""""uni_stable":${unFit.plan == unUnit.plan},""" +
      s""""cycle_fastest_arm_per_sf":{${fastestPerSf.map {
        case (sf, a) => s""""$sf":"$a""""
      }.mkString(",")}},""" +
      s""""cycle_chosen_fastest_all_sfs":$chosenFastestAllSfs}""")
    spark.stop()
  }
}
