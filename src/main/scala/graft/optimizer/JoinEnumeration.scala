package graft.optimizer

import scala.collection.mutable

/** A join graph as the enumerators see it: tables are nodes carrying a
  * row count, equi-join edges `(a, b, divisor)` carry the q208
  * independence divisor (the larger of the two join keys' ndv). Subsets
  * of tables are bitmasks (bit i = table i), which caps every enumerator
  * at 31 tables; each enumerator states its own, smaller bound. */
final case class JoinGraph(tables: Seq[(String, Long)],
                           edges: Seq[(Int, Int, Long)]) {
  val n: Int = tables.length
  require(n >= 2, s"need at least 2 tables; got $n")
  require(edges.nonEmpty && edges.forall { case (a, b, d) =>
    a >= 0 && a < n && b >= 0 && b < n && a != b && d > 0
  }, s"edges must connect distinct in-range tables with positive divisors")

  def fullMask: Int = (1 << n) - 1

  /** The names of the tables in `mask`, comma-joined in index order. */
  def subsetLabel(mask: Int): String =
    tables.indices.filter(inMask(_, mask)).map(tables(_)._1).mkString(",")

  def inMask(i: Int, mask: Int): Boolean = (mask & (1 << i)) != 0

  /** Edges with both ends inside `mask`, ascending. */
  def induced(mask: Int): Seq[Int] = edges.indices.filter { e =>
    inMask(edges(e)._1, mask) && inMask(edges(e)._2, mask)
  }

  /** Edges with one end in `s1` and the other in `s2`, ascending. */
  def crossEdges(s1: Int, s2: Int): Seq[Int] = edges.indices.filter { e =>
    val (a, b, _) = edges(e)
    (inMask(a, s1) && inMask(b, s2)) || (inMask(a, s2) && inMask(b, s1))
  }

  /** The tables of `mask` reachable from `from` without edge `cut`
    * (`cut` = −1 removes nothing). */
  def component(from: Int, mask: Int, cut: Int = -1): Int = {
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

  def connected(mask: Int): Boolean =
    mask != 0 &&
      component(java.lang.Integer.numberOfTrailingZeros(mask), mask) == mask

  /** est(S) = Π rows / Π induced-edge divisors, as one BigInt product
    * divided ONCE: staged integer division truncates differently, and the
    * oracles divide full products. */
  def est(mask: Int): Long = {
    val num = tables.indices.filter(inMask(_, mask))
      .map(i => BigInt(tables(i)._2)).product
    val den = induced(mask).map(e => BigInt(edges(e)._3)).product
    (num / den).toLong
  }

  /** Rejects a graph with a cycle (union-find over the edge list). */
  def requireAcyclic(): Unit = {
    val uf = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (uf(x) == x) x else { uf(x) = find(uf(x)); uf(x) }
    edges.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      require(ra != rb, s"join graph must be acyclic (tree/forest); " +
        s"edge ($a,$b) closes a cycle")
      uf(ra) = rb
    }
  }

  /** The csg-cmp splits of a connected subset: every (S1, S2, cross
    * edges) with S1 ∪ S2 = `mask`, S1 holding the mask's lowest table
    * (each split once), both sides `solved` (connected), and at least
    * one cross edge — by ASCENDING S1 bitmask, the order whose
    * first-minimal ties the oracles replay. Proper submasks are walked
    * with s1 = (s1 − 1) & mask (total work O(3ⁿ), not the O(4ⁿ) of
    * filtering every integer below the mask); that walk descends, so the
    * buffer is reversed. */
  def splits(mask: Int, solved: Int => Boolean): Iterator[(Int, Int, Seq[Int])] = {
    val low = 1 << java.lang.Integer.numberOfTrailingZeros(mask)
    val subs = mutable.ArrayBuffer.empty[Int]
    var sub = (mask - 1) & mask
    while (sub != 0) { subs += sub; sub = (sub - 1) & mask }
    subs.reverseIterator.flatMap { s1 =>
      val s2 = mask & ~s1
      if ((s1 & low) != 0 && solved(s1) && solved(s2)) {
        val cross = crossEdges(s1, s2)
        if (cross.nonEmpty) Some((s1, s2, cross)) else None
      } else None
    }
  }
}

/** A join tree ready to execute: a table scan, or a join of two subtrees
  * on every edge crossing between them, with the physical hint its DP
  * cell chose. */
sealed trait JoinTree {
  /** The tables this (sub)tree joins. */
  def mask: Int = this match {
    case JoinTree.Scan(i) => 1 << i
    case JoinTree.Join(l, r, _, _) => l.mask | r.mask
  }
}
object JoinTree {
  final case class Scan(table: Int) extends JoinTree
  final case class Join(left: JoinTree, right: JoinTree, edges: Seq[Int],
                        hint: Hint) extends JoinTree

  sealed trait Hint
  case object NoHint extends Hint
  case object BroadcastLeft extends Hint
  case object BroadcastRight extends Hint
  case object Merge extends Hint

  /** The canonical left-deep tree: tables joined in index order, each
    * step applying EVERY edge that becomes internal (on a cycle a step
    * can close two predicates at once). */
  def leftDeep(g: JoinGraph): JoinTree =
    (1 until g.n).foldLeft(Scan(0): JoinTree) { (acc, k) =>
      val prior = (1 << k) - 1
      val cs = g.edges.indices.filter { e =>
        val (a, b, _) = g.edges(e)
        (a == k && (prior & (1 << b)) != 0) ||
          (b == k && (prior & (1 << a)) != 0)
      }
      Join(acc, Scan(k), cs, NoHint)
    }
}

/** The three join enumerators over one [[JoinGraph]] model:
  *
  *  - [[selingerPhysicalDp]] — the tree DP over an acyclic graph (splits
  *    by cut edge), with the physical operator priced per cell; at
  *    betaE2 = 0 it is the pure C_out Selinger DP, and on a path graph
  *    the interval DP of a join chain;
  *  - [[dpCcp]] — the general csg-cmp DP, cyclic graphs included;
  *  - [[dpCcpUnified]] — csg-cmp with operators AND partitionings as DP
  *    states; at bcastLimit < 0 (minus its sentinel states) it is the
  *    shuffle-only exchange-aware DP.
  *
  * They are three, not one, because their tie-breaks differ and the
  * registry oracles replay each: the tree DP orders candidate splits by
  * cut-edge index, csg-cmp by ascending S1 bitmask, so on equal-cost
  * splits they pick different plans. */
object JoinEnumeration {
  import JoinTree._

  /** One cell of the OPERATOR-AWARE enumeration: estimated cardinality,
    * best total cost (C_out + β·exchanged), the winning cut edge, the
    * two component bitmasks, the PHYSICAL operator the winning join
    * runs ("broadcast"/"shuffle"; "leaf" for singles), the rows that
    * join exchanges under its operator, and the plan string. */
  final case class PhysDpCell(est: Long, cost: Long, cutEdge: Int,
                              leftMask: Int, rightMask: Int,
                              op: String, exchanged: Long,
                              plan: String)

  /** The default physical-operator parameters for
    * [[selingerPhysicalDp]]: a join whose smaller side is estimated at
    * ≤ `PhysBroadcastLimitRows` broadcasts (the q221/q224 row-threshold
    * rule as the enumerator's operator model), and exchanged rows are
    * charged at β = `PhysBetaE2`/100 of a produced row (β = 1: moving
    * a row across the cluster priced like materializing one — the
    * deliberately simple first form; the honest coupling is the
    * STRUCTURE, not the coefficient). */
  val PhysBroadcastLimitRows = 10000L
  val PhysBetaE2 = 100L

  /** Selinger DP over an acyclic join graph WITH the physical-operator
    * dimension priced inside the cells — the System-R access-path
    * coupling (Selinger et al., "Access Path Selection in a Relational
    * DBMS", SIGMOD 1979, priced access paths per DP cell; C_out alone
    * cannot see that a tree keeping one side under the broadcast
    * threshold avoids an exchange). The DP runs over every CONNECTED
    * subset, by ascending bitmask so sub-results always exist. For a
    * tree, the csg-cmp pairs of a connected subset are exactly its
    * induced-edge cuts: removing edge e splits the subset into the two
    * components around e's endpoints — so candidate splits go by
    * ascending CUT-EDGE index, first-minimal ties (the oracle's
    * CASE-chain order), and the component holding the smaller table
    * index is the left side. Each candidate is costed
    *
    *   cost(L) + cost(R) + est(S) + β·exchanged(L, R)
    *
    * where the operator follows the threshold rule: min(est_L, est_R)
    * ≤ `bcastLimit` → broadcast, exchanged = the smaller side (the
    * build side ships; the big side stays in place); otherwise →
    * shuffle, exchanged = est_L + est_R (both sides repartition on the
    * join key). β = `betaE2`/100, applied as a single BigInt
    * product-and-divide so the oracle's HUGEINT `//` reproduces every
    * truncation. With betaE2 = 0 the cost is pure Selinger C_out and the
    * plan a C_out-only enumerator picks, which is exactly the point: the
    * operator term is the only new force, so a plan difference between
    * the two pricings is ATTRIBUTABLE. On a path graph (edge k joining
    * tables k and k + 1) the connected subsets are the intervals and the
    * cut edge is the chain's split point. The acyclicity is `require`d,
    * never assumed. Exposed for the planted-flip specs. */
  def selingerPhysicalDp(g: JoinGraph,
                         bcastLimit: Long = PhysBroadcastLimitRows,
                         betaE2: Long = PhysBetaE2): Map[Int, PhysDpCell] = {
    import g.{tables, edges}
    require(g.n <= 20, s"need 2..20 tables; got ${g.n}")
    require(bcastLimit >= 0L && betaE2 >= 0L,
      s"need non-negative limit/beta; got ($bcastLimit, $betaE2)")
    g.requireAcyclic()
    val memo = mutable.Map.empty[Int, PhysDpCell]
    tables.indices.foreach { i =>
      memo(1 << i) = PhysDpCell(tables(i)._2, 0L, -1, 0, 0, "leaf", 0L,
        tables(i)._1)
    }
    (3 to g.fullMask).foreach { mask =>
      if (java.lang.Integer.bitCount(mask) >= 2) {
        val cuts = g.induced(mask)
        // connected ⇔ the induced tree has |S|−1 edges
        if (cuts.length == java.lang.Integer.bitCount(mask) - 1) {
          val candidates = cuts.map { e =>
            val compA = g.component(edges(e)._1, mask, e)
            val compB = mask & ~compA
            val (l, r) =
              if (java.lang.Integer.numberOfTrailingZeros(compA) <
                  java.lang.Integer.numberOfTrailingZeros(compB))
                (compA, compB)
              else (compB, compA)
            val (estL, estR) = (memo(l).est, memo(r).est)
            val small = math.min(estL, estR)
            val (op, exchanged) =
              if (small <= bcastLimit) ("broadcast", small)
              else ("shuffle", estL + estR)
            val exCost =
              (BigInt(exchanged) * BigInt(betaE2) / BigInt(100L)).toLong
            (memo(l).cost + memo(r).cost + exCost, e, l, r, op, exchanged,
              s"(${memo(l).plan}*${memo(r).plan})")
          }
          val (cost, e, l, r, op, exchanged, plan) =
            candidates.minBy(_._1) // first min — the oracle's tie order
          val eMask = g.est(mask)
          memo(mask) = PhysDpCell(eMask, cost + eMask, e, l, r, op,
            exchanged, plan)
        }
      }
    }
    memo.toMap
  }

  /** The tree of a [[selingerPhysicalDp]] cell. `hinted` carries each
    * cell's operator onto its join — broadcast() on the smaller-ESTIMATE
    * side, the side the cell priced as shipping; unhinted, the engine
    * picks operators itself. */
  def physTree(dp: Map[Int, PhysDpCell], mask: Int, hinted: Boolean): JoinTree = {
    val c = dp(mask)
    if (c.cutEdge < 0) Scan(java.lang.Integer.numberOfTrailingZeros(mask))
    else Join(physTree(dp, c.leftMask, hinted), physTree(dp, c.rightMask, hinted),
      Seq(c.cutEdge),
      if (!hinted || c.op != "broadcast") NoHint
      else if (dp(c.leftMask).est <= dp(c.rightMask).est) BroadcastLeft
      else BroadcastRight)
  }

  /** One cell of the GENERAL csg-cmp enumeration: estimated
    * cardinality, best C_out cost, the winning components, EVERY cross
    * edge between them (a cyclic graph's split can cross several — the
    * executed join must apply them all), and the plan string. */
  final case class CcpCell(est: Long, cost: Long, leftMask: Int,
                           rightMask: Int, crossEdges: Seq[Int],
                           plan: String)

  /** The full Moerkotte–Neumann csg-cmp DP ("Analysis of Two Existing
    * and One New Dynamic Programming Algorithm for the Generation of
    * Optimal Bushy Join Trees without Cross Products", VLDB 2006) —
    * the tree DP without the acyclicity restriction: candidate splits
    * are [[JoinGraph.splits]] (ascending S1, first-minimal ties — the
    * deterministic order the oracle's CASE chain replays). est(S)
    * divides by ALL induced-edge divisors (cycle-closing predicates
    * multiply in — the textbook independence model a production CBO
    * applies). Plan strings put S1 (which holds the globally smallest
    * index) left. The total work is the textbook O(3ⁿ) — ~43e6
    * iterations at the admitted n = 16 bound, driver-affordable
    * metadata work. */
  def dpCcp(g: JoinGraph): Map[Int, CcpCell] = {
    import g.tables
    require(g.n <= 16, s"need 2..16 tables; got ${g.n}")
    val memo = mutable.Map.empty[Int, CcpCell]
    tables.indices.foreach { i =>
      memo(1 << i) = CcpCell(tables(i)._2, 0L, 0, 0, Nil, tables(i)._1)
    }
    (3 to g.fullMask).foreach { mask =>
      if (java.lang.Integer.bitCount(mask) >= 2 && g.connected(mask)) {
        // memo membership ⇔ the side is connected (singles + composites)
        val candidates = g.splits(mask, memo.contains).map { case (s1, s2, cross) =>
          (memo(s1).cost + memo(s2).cost, s1, s2, cross,
            s"(${memo(s1).plan}*${memo(s2).plan})")
        }.toVector
        require(candidates.nonEmpty, s"connected subset $mask has no split")
        val (cost, s1, s2, cross, plan) = candidates.minBy(_._1) // first min
        val eMask = g.est(mask)
        memo(mask) = CcpCell(eMask, cost + eMask, s1, s2, cross, plan)
      }
    }
    memo.toMap
  }

  /** The tree of a [[dpCcp]] cell (no operator hints). */
  def ccpTree(dp: Map[Int, CcpCell], mask: Int): JoinTree = {
    val c = dp(mask)
    if (c.crossEdges.isEmpty) Scan(java.lang.Integer.numberOfTrailingZeros(mask))
    else Join(ccpTree(dp, c.leftMask), ccpTree(dp, c.rightMask), c.crossEdges, NoHint)
  }

  /** The pure exchange model shared by the q253 predictions, the
    * exchange-aware DP and their specs — exactly Spark's
    * EnsureRequirements as measured by q253: a sort-merge join
    * requires both sides hash-partitioned on EXACTLY its join-key
    * class set; a leaf scan is unpartitioned; each side whose current
    * partitioning differs inserts one Exchange. Input/output
    * partitionings are sorted distinct key-class seqs (Nil =
    * unpartitioned). Returns the join's (output partitioning,
    * cumulative exchange count). */
  def joinExch(l: (Seq[Int], Long), r: (Seq[Int], Long),
               k: Seq[Int]): (Seq[Int], Long) =
    (k, l._2 + r._2 + (if (l._1 == k) 0L else 1L) +
      (if (r._1 == k) 0L else 1L))

  /** Selinger C_out of a tree: Σ est over its join nodes. */
  def coutOf(t: JoinTree, g: JoinGraph): Long = t match {
    case Scan(_) => 0L
    case Join(l, r, _, _) => coutOf(l, g) + coutOf(r, g) + g.est(t.mask)
  }

  /** [[joinExch]] over a whole tree run as sort-merge joins: (output
    * partitioning, Exchange count), each join requiring its edges'
    * distinct sorted key classes. */
  def predictExchanges(t: JoinTree, keyClasses: Seq[Int]): (Seq[Int], Long) =
    t match {
      case Scan(_) => (Seq.empty[Int], 0L)
      case Join(l, r, es, _) =>
        joinExch(predictExchanges(l, keyClasses), predictExchanges(r, keyClasses),
          es.map(keyClasses).distinct.sorted)
    }

  /** One state of the UNIFIED physical enumeration (operators AND
    * partitionings in one DP), keyed by (subset, output partitioning):
    * estimate, best total cost, the winning split's components and the
    * partitioning STATE each side was consumed in, the join operator
    * ("shuffle" | "broadcast_left" | "broadcast_right" — the named
    * side SHIPS; "leaf" for singles), every cross edge, the output
    * partitioning, the shuffle- and broadcast-Exchange counts of the
    * priced tree, and the plan string. */
  final case class UniDpCell(est: Long, cost: Long,
                             leftMask: Int, rightMask: Int,
                             leftPart: Seq[Int],
                             rightPart: Seq[Int], op: String,
                             crossEdges: Seq[Int],
                             part: Seq[Int], nShuffleExch: Long,
                             nBcastExch: Long, plan: String)

  /** The sentinel cost of a physically unavailable candidate (a
    * broadcast whose ship side exceeds the threshold): large enough to
    * never win, small enough that sums of a few never overflow — and a
    * plain literal the oracle replays. */
  val UniSentinelCost = 1000000000000000L

  /** The UNIFIED physical Selinger enumeration — the operator dimension
    * and the partitioning dimension priced in ONE DP (a broadcast join
    * both skips the shuffle AND PRESERVES its stream side's
    * partitioning, a term neither dimension alone can express). States
    * are (connected subset, output partitioning); per candidate split
    * ([[JoinGraph.splits]], ascending S1) THREE operator families are
    * enumerated, in this pinned order:
    *
    *  1. SHUFFLE: both sides re-partition on K = the cross edges'
    *     distinct classes. Each side is consumed EITHER in its (side, K)
    *     state (reuse: no exchange) OR in its cheapest state
    *     re-exchanged (+δ·est(side) cost, +1 shuffle Exchange) — any
    *     other state pays the same exchange as the cheapest, so two
    *     options suffice; ties prefer reuse, cheapest-state ties break
    *     on the partitioning label (the oracle's deterministic order).
    *     Output partitioning K.
    *  2. BROADCAST-RIGHT (ship S2, stream S1): one candidate per S1
    *     state P (label order) — S2 consumed in its cheapest state
    *     and shipped (δ·est(S2), +1 broadcast Exchange), output
    *     partitioning P (the stream side's, PRESERVED); available only
    *     when S2 is eligible, else the candidate costs
    *     [[UniSentinelCost]].
    *  3. BROADCAST-LEFT: symmetric.
    *
    * First-minimal ties across candidates per output state; the winner
    * ([[unifiedWinner]]) is the min cost across the full set's states,
    * ties on the label. δ = `deltaE2`/100 with the single-BigInt-division
    * discipline; δ = 0 makes every state's cost collapse to C_out.
    *
    * With bcastLimit < 0 (and no widths) every broadcast candidate is
    * sentinel-priced: dropping the states that cost exactly the
    * sentinel leaves the shuffle-only exchange-aware DP (q254), whose
    * reuse the tree q249 chooses on the Q5 cycle shows (supplier and
    * customer both join on nationkey, 7 exchanges vs left-deep's 8,
    * measured). Exposed for the planted-flip specs. */
  def dpCcpUnified(g: JoinGraph,
                   keyClasses: Seq[Int],
                   bcastLimit: Long = PhysBroadcastLimitRows,
                   deltaE2: Long = 100L,
                   widthsE6: Seq[Long] = Nil,
                   bcastLimitBytesE6: Long = -1L)
      : Map[(Int, Seq[Int]), UniDpCell] = {
    import g.{tables, edges}
    val n = g.n
    require(n <= 10, s"need 2..10 tables; got $n")
    require(keyClasses.length == edges.length && deltaE2 >= 0L,
      s"need one key class per edge and non-negative delta")
    // BYTE-form gate (J35/q257): when per-table row widths are given
    // (bytes in millionths — the ANALYZE store's Σ avg_width), a ship
    // side is eligible iff est_rows × width(bytes) ≤ the byte limit —
    // rows are what the estimator knows, bytes are what OOM the build
    // side. A SUBSET's width is the MAX of its members' — the
    // dominant-column model: one wide dimension still poisons every
    // superset that carries its columns (the q237 hazard, priced),
    // and uniform widths w with limitBytes = rowLimit × w reduce
    // EXACTLY to the row form cell for cell (Σ would be marginally
    // more precise on composite ships but gates a k-way uniform join
    // k× tighter than the row form it generalizes — the audit emits
    // the Σ next to the max for the record).
    require(widthsE6.isEmpty ||
      (widthsE6.length == n && widthsE6.forall(_ > 0L)),
      s"need one positive width per table; got $widthsE6")
    def move(rows: Long): Long =
      (BigInt(rows) * BigInt(deltaE2) / BigInt(100L)).toLong
    def widthE6(mask: Int): Long =
      widthsE6.indices.filter(g.inMask(_, mask)).map(widthsE6).max
    def eligible(mask: Int, est: Long): Boolean =
      if (widthsE6.nonEmpty)
        BigInt(est) * BigInt(widthE6(mask)) <= BigInt(bcastLimitBytesE6)
      else est <= bcastLimit
    val byMask = mutable.Map.empty[Int, mutable.LinkedHashMap[Seq[Int], UniDpCell]]
    tables.indices.foreach { i =>
      byMask(1 << i) = mutable.LinkedHashMap(
        (Seq.empty[Int]: Seq[Int]) -> UniDpCell(tables(i)._2, 0L, 0, 0,
          Nil, Nil, "leaf", Nil, Nil, 0L, 0L, tables(i)._1))
    }
    def statesSorted(s: Int): Seq[(Seq[Int], UniDpCell)] =
      byMask(s).toSeq.sortBy(_._1.mkString(","))
    def minState(s: Int): (Seq[Int], UniDpCell) =
      byMask(s).minBy { case (p, c) => (c.cost, p.mkString(",")) }
    // one shuffled side: (cost incl. exchange, consumed part, sh, bc, plan)
    def pick(s: Int, k: Seq[Int]): (Long, Seq[Int], Long, Long, String) = {
      val (minP, minC) = minState(s)
      val fresh = (minC.cost + move(minC.est), minP,
        minC.nShuffleExch + 1L, minC.nBcastExch, minC.plan)
      byMask(s).get(k) match {
        case Some(r) if r.cost <= fresh._1 =>
          (r.cost, k, r.nShuffleExch, r.nBcastExch, r.plan)
        case _ => fresh
      }
    }
    (3 to g.fullMask).foreach { mask =>
      if (java.lang.Integer.bitCount(mask) >= 2 && g.connected(mask)) {
        val eMask = g.est(mask)
        val cell = mutable.LinkedHashMap.empty[Seq[Int], UniDpCell]
        def upd(c: UniDpCell): Unit =
          if (cell.get(c.part).forall(c.cost < _.cost)) cell(c.part) = c
        g.splits(mask, byMask.contains).foreach { case (s1, s2, cross) =>
          val k = cross.map(keyClasses).distinct.sorted
          val (lc, lp, lsh, lbc, lplan) = pick(s1, k)
          val (rc, rp, rsh, rbc, rplan) = pick(s2, k)
          upd(UniDpCell(eMask, lc + rc + eMask, s1, s2, lp, rp,
            "shuffle", cross, k, lsh + rsh, lbc + rbc,
            s"($lplan*$rplan)"))
          val (e1, e2) = (byMask(s1).head._2.est, byMask(s2).head._2.est)
          val (m1p, m1c) = minState(s1)
          val (m2p, m2c) = minState(s2)
          // ship S2, stream S1 in each of its states
          statesSorted(s1).foreach { case (p1, c1) =>
            val cost =
              if (eligible(s2, e2)) c1.cost + m2c.cost + eMask + move(e2)
              else UniSentinelCost
            upd(UniDpCell(eMask, cost, s1, s2, p1, m2p,
              "broadcast_right", cross, p1,
              c1.nShuffleExch + m2c.nShuffleExch,
              c1.nBcastExch + m2c.nBcastExch + 1L,
              s"(${c1.plan}*${m2c.plan})"))
          }
          // ship S1, stream S2 in each of its states
          statesSorted(s2).foreach { case (p2, c2) =>
            val cost =
              if (eligible(s1, e1)) m1c.cost + c2.cost + eMask + move(e1)
              else UniSentinelCost
            upd(UniDpCell(eMask, cost, s1, s2, m1p, p2,
              "broadcast_left", cross, p2,
              m1c.nShuffleExch + c2.nShuffleExch,
              m1c.nBcastExch + c2.nBcastExch + 1L,
              s"(${m1c.plan}*${c2.plan})"))
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

  /** The winning state of `mask`: min cost, ties on the partitioning
    * label. */
  def unifiedWinner(dp: Map[(Int, Seq[Int]), UniDpCell], mask: Int): UniDpCell =
    dp.collect { case ((m, _), c) if m == mask => c }
      .minBy(c => (c.cost, c.part.mkString(",")))

  /** The tree of a [[dpCcpUnified]] state. `hinted` carries each cell's
    * operator onto its join: broadcast() on the shipped side, a merge
    * hint on both sides of a shuffle. */
  def uniTree(dp: Map[(Int, Seq[Int]), UniDpCell], mask: Int, part: Seq[Int],
              hinted: Boolean): JoinTree = {
    val c = dp((mask, part))
    if (c.op == "leaf") Scan(java.lang.Integer.numberOfTrailingZeros(mask))
    else Join(uniTree(dp, c.leftMask, c.leftPart, hinted),
      uniTree(dp, c.rightMask, c.rightPart, hinted), c.crossEdges,
      if (!hinted) NoHint
      else c.op match {
        case "broadcast_right" => BroadcastRight
        case "broadcast_left" => BroadcastLeft
        case _ => Merge
      })
  }
}
