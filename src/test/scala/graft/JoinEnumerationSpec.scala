package graft

import graft.optimizer.{JoinEnumeration, JoinGraph}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The three dynamic-programming enumerators the engine no longer ships,
  * kept verbatim as references: each is an exact reduction of a surviving
  * enumerator, which [[JoinEnumerationSpec]] pins cell for cell.
  *
  *  - `selingerChainDp` (interval DP over a join chain) ≡
  *    `selingerPhysicalDp(betaE2 = 0)` on the path graph;
  *  - `selingerGraphDp` (cut-edge DP over an acyclic graph) ≡
  *    `selingerPhysicalDp(betaE2 = 0)`;
  *  - `dpCcpExchange(γ)` (csg-cmp with interesting partitionings) ≡
  *    `dpCcpUnified(bcastLimit = -1, deltaE2 = γ)` without its
  *    sentinel-cost states.
  */
object JoinEnumerationReference {

  case class DpCell(est: Long, cost: Long, split: Int, plan: String)

  def selingerChainDp(rows: Seq[(String, Long)], edgeDivisors: Seq[Long])
      : Map[(Int, Int), DpCell] = {
    val n = rows.length
    require(n >= 2 && edgeDivisors.length == n - 1,
      s"need a chain: ${rows.length} tables, ${edgeDivisors.length} edges")
    require(edgeDivisors.forall(_ > 0), s"need positive divisors")
    val memo = scala.collection.mutable.Map.empty[(Int, Int), DpCell]
    def est(i: Int, j: Int): Long =
      ((i to j).map(k => BigInt(rows(k)._2)).product /
        (i until j).map(k => BigInt(edgeDivisors(k))).product).toLong
    for (i <- 0 until n)
      memo((i, i)) = DpCell(rows(i)._2, 0L, -1, rows(i)._1)
    for (len <- 2 to n; i <- 0 to n - len) {
      val j = i + len - 1
      val e = est(i, j)
      val (cost, split, plan) = (i until j).map { s =>
        val (l, r) = (memo((i, s)), memo((s + 1, j)))
        (l.cost + r.cost, s, s"(${l.plan}*${r.plan})")
      }.minBy(_._1) // minBy keeps the FIRST minimum — the tie-break
      memo((i, j)) = DpCell(e, cost + e, split, plan)
    }
    memo.toMap
  }

  case class GraphDpCell(est: Long, cost: Long, cutEdge: Int,
                         leftMask: Int, rightMask: Int, plan: String)

  def selingerGraphDp(tables: Seq[(String, Long)],
                      edges: Seq[(Int, Int, Long)])
      : Map[Int, GraphDpCell] = {
    val n = tables.length
    require(n >= 2 && n <= 20, s"need 2..20 tables; got $n")
    require(edges.nonEmpty && edges.forall { case (a, b, d) =>
      a >= 0 && a < n && b >= 0 && b < n && a != b && d > 0
    }, s"edges must connect distinct in-range tables with positive divisors")
    // acyclicity: union-find over the edge list
    val uf = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (uf(x) == x) x else { uf(x) = find(uf(x)); uf(x) }
    edges.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      require(ra != rb, s"join graph must be acyclic (tree/forest); " +
        s"edge ($a,$b) closes a cycle")
      uf(ra) = rb
    }
    def inMask(i: Int, mask: Int): Boolean = (mask & (1 << i)) != 0
    def induced(mask: Int): Seq[Int] = edges.indices.filter { e =>
      inMask(edges(e)._1, mask) && inMask(edges(e)._2, mask)
    }
    // component of `from` inside `mask` with edge `cut` removed
    def component(from: Int, mask: Int, cut: Int): Int = {
      var comp = 1 << from
      var frontier = List(from)
      while (frontier.nonEmpty) {
        val v = frontier.head; frontier = frontier.tail
        edges.indices.foreach { e =>
          if (e != cut) {
            val (a, b, _) = edges(e)
            val next = if (a == v) b else if (b == v) a else -1
            if (next >= 0 && inMask(next, mask) && !inMask(next, comp)) {
              comp |= 1 << next
              frontier = next :: frontier
            }
          }
        }
      }
      comp
    }
    def est(mask: Int): Long = {
      val num = tables.indices.filter(inMask(_, mask))
        .map(i => BigInt(tables(i)._2)).product
      val den = induced(mask).map(e => BigInt(edges(e)._3)).product
      (num / den).toLong
    }
    val memo = scala.collection.mutable.Map.empty[Int, GraphDpCell]
    tables.indices.foreach { i =>
      memo(1 << i) = GraphDpCell(tables(i)._2, 0L, -1, 0, 0, tables(i)._1)
    }
    // ascending mask order: every proper submask is numerically smaller,
    // so component cells always exist when a composite is reached
    (3 to (1 << n) - 1).foreach { mask =>
      if (java.lang.Integer.bitCount(mask) >= 2) {
        val cuts = induced(mask)
        // connected ⇔ the induced tree has |S|−1 edges
        if (cuts.length == java.lang.Integer.bitCount(mask) - 1) {
          val candidates = cuts.map { e =>
            val compA = component(edges(e)._1, mask, e)
            val compB = mask & ~compA
            val (l, r) =
              if (java.lang.Integer.numberOfTrailingZeros(compA) <
                  java.lang.Integer.numberOfTrailingZeros(compB))
                (compA, compB)
              else (compB, compA)
            (memo(l).cost + memo(r).cost, e, l, r,
              s"(${memo(l).plan}*${memo(r).plan})")
          }
          val (cost, e, l, r, plan) = candidates.minBy(_._1) // first min
          val eMask = est(mask)
          memo(mask) = GraphDpCell(eMask, cost + eMask, e, l, r, plan)
        }
      }
    }
    memo.toMap
  }

  case class ExchDpCell(est: Long, cost: Long, leftMask: Int, rightMask: Int,
                        leftPart: Seq[Int], rightPart: Seq[Int],
                        crossEdges: Seq[Int], part: Seq[Int],
                        nExchanges: Long, plan: String)

  def dpCcpExchange(tables: Seq[(String, Long)],
                    edges: Seq[(Int, Int, Long)],
                    keyClasses: Seq[Int],
                    gammaE2: Long = 100L)
      : Map[(Int, Seq[Int]), ExchDpCell] = {
    val n = tables.length
    require(n >= 2 && n <= 12, s"need 2..12 tables; got $n")
    require(keyClasses.length == edges.length && gammaE2 >= 0L,
      s"need one key class per edge and non-negative gamma")
    require(edges.nonEmpty && edges.forall { case (a, b, d) =>
      a >= 0 && a < n && b >= 0 && b < n && a != b && d > 0
    }, s"edges must connect distinct in-range tables with positive divisors")
    def inMask(i: Int, mask: Int): Boolean = (mask & (1 << i)) != 0
    def induced(mask: Int): Seq[Int] = edges.indices.filter { e =>
      inMask(edges(e)._1, mask) && inMask(edges(e)._2, mask)
    }
    def connected(mask: Int): Boolean = {
      if (mask == 0) return false
      val seed = java.lang.Integer.numberOfTrailingZeros(mask)
      var comp = 1 << seed
      var frontier = List(seed)
      while (frontier.nonEmpty) {
        val v = frontier.head; frontier = frontier.tail
        edges.foreach { case (a, b, _) =>
          val next = if (a == v) b else if (b == v) a else -1
          if (next >= 0 && inMask(next, mask) && !inMask(next, comp)) {
            comp |= 1 << next
            frontier = next :: frontier
          }
        }
      }
      comp == mask
    }
    def est(mask: Int): Long = {
      val num = tables.indices.filter(inMask(_, mask))
        .map(i => BigInt(tables(i)._2)).product
      val den = induced(mask).map(e => BigInt(edges(e)._3)).product
      (num / den).toLong
    }
    def gammaCost(rows: Long): Long =
      (BigInt(rows) * BigInt(gammaE2) / BigInt(100L)).toLong
    val byMask = scala.collection.mutable
      .Map.empty[Int, scala.collection.mutable.LinkedHashMap[Seq[Int], ExchDpCell]]
    tables.indices.foreach { i =>
      val st = scala.collection.mutable.LinkedHashMap[Seq[Int], ExchDpCell](
        (Seq.empty[Int]: Seq[Int]) -> ExchDpCell(tables(i)._2, 0L, 0, 0,
          Nil, Nil, Nil, Nil, 0L, tables(i)._1))
      byMask(1 << i) = st
    }
    // one side of a candidate: (cost incl. any exchange, the state's
    // partitioning consumed, cumulative exchange count, plan)
    def pick(s: Int, k: Seq[Int]): (Long, Seq[Int], Long, String) = {
      val states = byMask(s)
      val (minP, minC) = states.minBy { case (p, c) =>
        (c.cost, p.mkString(","))
      }
      val fresh = (minC.cost + gammaCost(minC.est), minP,
        minC.nExchanges + 1L, minC.plan)
      states.get(k) match {
        case Some(r) if r.cost <= fresh._1 =>
          (r.cost, k, r.nExchanges, r.plan)
        case _ => fresh
      }
    }
    (3 to (1 << n) - 1).foreach { mask =>
      if (java.lang.Integer.bitCount(mask) >= 2 && connected(mask)) {
        val low = 1 << java.lang.Integer.numberOfTrailingZeros(mask)
        val eMask = est(mask)
        val subs = scala.collection.mutable.ArrayBuffer.empty[Int]
        var sub = (mask - 1) & mask
        while (sub != 0) { subs += sub; sub = (sub - 1) & mask }
        val cell = scala.collection.mutable
          .LinkedHashMap.empty[Seq[Int], ExchDpCell]
        subs.reverseIterator.foreach { s1 =>
          val s2 = mask & ~s1
          if ((s1 & low) != 0 && byMask.contains(s1) &&
              byMask.contains(s2)) {
            val cross = edges.indices.filter { e =>
              val (a, b, _) = edges(e)
              (inMask(a, s1) && inMask(b, s2)) ||
                (inMask(a, s2) && inMask(b, s1))
            }
            if (cross.nonEmpty) {
              val k = cross.map(keyClasses).distinct.sorted
              val (lc, lp, ln, lplan) = pick(s1, k)
              val (rc, rp, rn, rplan) = pick(s2, k)
              val cost = lc + rc + eMask
              val existing = cell.get(k)
              if (existing.forall(cost < _.cost))
                cell(k) = ExchDpCell(eMask, cost, s1, s2, lp, rp, cross,
                  k, ln + rn, s"($lplan*$rplan)")
            }
          }
        }
        require(cell.nonEmpty, s"connected subset $mask has no split")
        byMask(mask) = cell
      }
    }
    byMask.toMap.flatMap { case (m, states) =>
      states.map { case (p, c) => (m, p) -> c }
    }
  }
}

/** Cell-for-cell equality of the deleted enumerators (kept above as
  * references) with the surviving enumerators they reduce to, over random
  * tie-heavy join graphs: 3–7 tables, row counts and edge divisors drawn
  * from {10, 100, 1000, 10000}, edges listed in random order. Graphs whose
  * estimates could push a plan cost near the unified DP's sentinel (or
  * past a Long) are discarded and counted.
  */
class JoinEnumerationSpec extends AnyFunSuite {
  import JoinEnumerationReference._

  private type Tables = Seq[(String, Long)]
  private type Edges = Seq[(Int, Int, Long)]

  private def physical(t: Tables, e: Edges): Map[Int, JoinEnumeration.PhysDpCell] =
    JoinEnumeration.selingerPhysicalDp(JoinGraph(t, e), betaE2 = 0L)
  private def unified(t: Tables, e: Edges, classes: Seq[Int], gammaE2: Long)
      : Map[(Int, Seq[Int]), JoinEnumeration.UniDpCell] =
    JoinEnumeration.dpCcpUnified(JoinGraph(t, e), classes, bcastLimit = -1L,
      deltaE2 = gammaE2)
  private val sentinel = JoinEnumeration.UniSentinelCost

  private val value: Gen[Long] = Gen.oneOf(10L, 100L, 1000L, 10000L)

  private def tablesOf(n: Int): Gen[Tables] =
    Gen.listOfN(n, value).map(_.zipWithIndex.map { case (r, i) => (s"t$i", r) })

  /** A random spanning tree on `n` tables, random edge orientation. */
  private def treeEdges(n: Int): Gen[Edges] =
    Gen.sequence[List[(Int, Int, Long)], (Int, Int, Long)]((1 until n).map { v =>
      for {
        p <- Gen.choose(0, v - 1)
        flip <- Gen.oneOf(true, false)
        d <- value
      } yield if (flip) (v, p, d) else (p, v, d)
    })

  /** Path graphs keep their edges in chain order: edge k joins tables k
    * and k + 1, so its index is the chain DP's split point. */
  private val path: Gen[(Tables, Edges)] = for {
    n <- Gen.choose(3, 7)
    t <- tablesOf(n)
    d <- Gen.listOfN(n - 1, value)
  } yield (t, d.zipWithIndex.map { case (x, k) => (k, k + 1, x) })

  private def shuffled[A](xs: Seq[A]): Gen[Seq[A]] =
    Gen.long.map(s => new scala.util.Random(s).shuffle(xs))

  private val tree: Gen[(Tables, Edges)] = for {
    n <- Gen.choose(3, 7)
    t <- tablesOf(n)
    e <- treeEdges(n).flatMap(shuffled(_))
  } yield (t, e)

  private val cyclic: Gen[(Tables, Edges, Seq[Int])] = for {
    n <- Gen.choose(3, 7)
    t <- tablesOf(n)
    e <- treeEdges(n)
    nChords <- Gen.choose(0, 3)
    chords <- Gen.listOfN(nChords, for {
      a <- Gen.choose(0, n - 1)
      step <- Gen.choose(1, n - 1)
      d <- value
    } yield (a, (a + step) % n, d))
    all <- shuffled(e ++ chords)
    nClasses <- Gen.choose(1, all.length)
    classes <- Gen.listOfN(all.length, Gen.choose(0, nClasses - 1))
  } yield (t, all, classes)

  /** Whether every plan cost stays well below the sentinel: any tree's
    * cost is at most three times the sum of the connected-subset
    * estimates (each node's own estimate plus at most one re-exchange of
    * each child at γ ≤ 1). */
  private def inRange(t: Tables, e: Edges): Boolean = {
    val n = t.length
    def in(i: Int, m: Int) = (m & (1 << i)) != 0
    val sum = (1 until (1 << n)).map { m =>
      val num = t.indices.filter(in(_, m)).map(i => BigInt(t(i)._2)).product
      val den = e.filter { case (a, b, _) => in(a, m) && in(b, m) }
        .map(x => BigInt(x._3)).product
      num / den
    }.sum
    sum * 3 < BigInt(sentinel)
  }

  /** Runs `check` over `gen` with a fixed seed; `check` returns the
    * mismatches of one graph, `None` when the graph is discarded. */
  private def property[G](gen: Gen[G], seed: Long)(check: G => Option[Seq[String]]): Unit = {
    var firstFailure = Seq.empty[String]
    var discarded = 0
    val prop = Prop.forAllNoShrink(gen) { g =>
      check(g) match {
        case None => discarded += 1; Prop.undecided
        case Some(diffs) =>
          if (diffs.nonEmpty && firstFailure.isEmpty)
            firstFailure = s"graph $g" +: diffs.take(10)
          Prop(diffs.isEmpty)
      }
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(1000)
        .withInitialSeed(Seed(seed)).withWorkers(1),
      prop)
    assert(result.passed,
      if (firstFailure.nonEmpty) firstFailure.mkString("\n") else result.status.toString)
    assert(discarded * 20 < result.succeeded, s"$discarded graphs discarded")
  }

  private def diff[A](where: String, got: A, want: A): Seq[String] =
    if (got == want) Nil else Seq(s"$where: $got vs reference $want")

  test("chain DP = selingerPhysicalDp(betaE2 = 0) on the path graph, cell for cell") {
    property(path, 20261019L) { case (t, e) =>
      if (!inRange(t, e)) None
      else {
        val chain = selingerChainDp(t, e.map(_._3))
        val phys = physical(t, e)
        val n = t.length
        val intervals = for (i <- 0 until n; j <- i until n) yield (i, j)
        Some(diff("cells", phys.size, intervals.length) ++ intervals.flatMap {
          case (i, j) =>
            val c = chain((i, j))
            val p = phys((i to j).map(1 << _).sum)
            diff(s"[$i,$j]", (p.est, p.cost, p.cutEdge, p.plan),
              (c.est, c.cost, c.split, c.plan))
        })
      }
    }
  }

  test("selingerGraphDp = selingerPhysicalDp(betaE2 = 0) on acyclic graphs, cell for cell") {
    property(tree, 20261020L) { case (t, e) =>
      if (!inRange(t, e)) None
      else {
        val graph = selingerGraphDp(t, e)
        val phys = physical(t, e)
        Some(diff("subsets", phys.keySet, graph.keySet) ++
          graph.toSeq.flatMap { case (m, g) =>
            phys.get(m).toSeq.flatMap { p =>
              diff(s"mask $m",
                GraphDpCell(p.est, p.cost, p.cutEdge, p.leftMask, p.rightMask, p.plan), g)
            }
          })
      }
    }
  }

  test("dpCcpExchange(gamma) = dpCcpUnified(bcastLimit = -1, deltaE2 = gamma) minus sentinel states") {
    property(cyclic, 20261021L) { case (t, e, classes) =>
      if (!inRange(t, e)) None
      else Some(Seq(0L, 37L, 100L).flatMap { g =>
        val exch = dpCcpExchange(t, e, classes, gammaE2 = g)
        val uni = unified(t, e, classes, g).filter(_._2.cost != sentinel)
        diff(s"gamma $g states", uni.keySet, exch.keySet) ++
          exch.toSeq.flatMap { case (k, x) =>
            uni.get(k).toSeq.flatMap { u =>
              diff(s"gamma $g state $k", u.nBcastExch, 0L) ++
                diff(s"gamma $g state $k op", Set("shuffle", "leaf").contains(u.op), true) ++
                diff(s"gamma $g state $k",
                  ExchDpCell(u.est, u.cost, u.leftMask, u.rightMask, u.leftPart,
                    u.rightPart, u.crossEdges, u.part, u.nShuffleExch, u.plan), x)
            }
          }
      })
    }
  }
}
