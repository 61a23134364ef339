package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.model.{Datom, Value}

/** Input generators and reference results, one per workload. Each model
  * draws every input from its seed and keeps the live facts it has
  * generated, so the expected result of every rule is a fold over the
  * model's own state — no engine code is involved. Tuples use plain
  * `Long` values, the form the embedded engine drains and the form wire
  * values are normalised to. */
object Models {
  type Result = Map[Seq[Any], Long]

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Distinct picks of `n` values below `bound`. */
  def pick(r: SplittableRandom, n: Int, bound: Int): Seq[Int] = {
    val seen = mutable.LinkedHashSet.empty[Int]
    while (seen.size < n) seen += r.nextInt(bound)
    seen.toSeq
  }

  /** Compare an accumulated diff multiset with the expected result. */
  def compare(name: String, got: collection.Map[Seq[Any], Long],
      want: Result): Option[String] =
    if (got == want) None
    else {
      val missing = want.keySet.diff(got.keySet).size
      val extra = got.keySet.diff(want.keySet).size
      val wrong = want.count { case (k, w) => got.get(k).exists(_ != w) }
      val example = (want.keySet.diff(got.keySet).headOption.map(k => s"missing $k") ++
        got.keySet.diff(want.keySet).headOption.map(k => s"extra $k -> ${got(k)}"))
        .mkString(", ")
      Some(s"$name: ${got.size} rows vs ${want.size} expected " +
        s"($missing missing, $extra extra, $wrong wrong weight; $example)")
    }

  def render(d: Datom): String =
    s"${d.e} ${d.a} ${d.v} ${d.t.getOrElse(-1L)} ${d.diff}"
}

/** `small-deltas`: accounts owned by 500 owners, owner regions, and LWW
  * account balances. */
final class SmallDeltasModel(seed: Long) {
  import SmallDeltasModel._
  private val r = Models.rng(seed, 1L)
  private val live = mutable.Queue.empty[Long]
  private val owner = mutable.HashMap.empty[Long, Long]
  private val bal = mutable.HashMap.empty[Long, Long]
  private val region = Array.fill(Owners)(r.nextInt(Regions).toLong)
  private var nextAcct = AcctBase

  private def ownerEid(i: Int): Long = OwnerBase + i

  private def newAccount(out: mutable.ArrayBuffer[Datom]): Unit = {
    val a = nextAcct
    nextAcct += 1
    val o = ownerEid(r.nextInt(Owners))
    live += a
    owner(a) = o
    out += Datom.add(a, ":acct/owner", Value.eid(o))
  }

  /** The live window, filled at once so every step sees full state. */
  def initial(): Seq[Datom] = {
    val out = mutable.ArrayBuffer.empty[Datom]
    for (i <- 0 until Owners)
      out += Datom.add(ownerEid(i), ":owner/region", Value.num(region(i)))
    for (_ <- 0 until LiveCap) newAccount(out)
    for (a <- live.iterator.filter(_ => r.nextInt(2) == 0)) {
      bal(a) = r.nextInt(1000000).toLong
      out += Datom.add(a, ":acct/bal", Value.num(bal(a)))
    }
    out.toSeq
  }

  /** 128 new accounts, the oldest retired once the window is full, 96
    * balance writes and 16 region moves. */
  def step(): Seq[Datom] = {
    val out = mutable.ArrayBuffer.empty[Datom]
    for (_ <- 0 until NewPerStep) newAccount(out)
    while (live.size > LiveCap) {
      val a = live.dequeue()
      out += Datom.retract(a, ":acct/owner", Value.eid(owner.remove(a).get))
      bal.remove(a).foreach(b => out += Datom.retract(a, ":acct/bal", Value.num(b)))
    }
    // Balance writes go to accounts that were live before this step, so
    // no entity is written twice in one transaction.
    val older = live.size - NewPerStep
    for (i <- Models.pick(r, BalWrites, older)) {
      val a = live(i)
      val b = r.nextInt(1000000).toLong
      bal(a) = b
      out += Datom.add(a, ":acct/bal", Value.num(b))
    }
    for (i <- Models.pick(r, RegionWrites, Owners)) {
      val next = (region(i) + 1 + r.nextInt(Regions - 1)) % Regions
      out += Datom.retract(ownerEid(i), ":owner/region", Value.num(region(i)))
      out += Datom.add(ownerEid(i), ":owner/region", Value.num(next))
      region(i) = next
    }
    out.toSeq
  }

  def expected(rule: String): Models.Result = rule match {
    case "per_owner" =>
      owner.values.groupBy(identity).map { case (o, as) =>
        Seq[Any](o, as.size.toLong) -> 1L
      }
    case "acct_region" =>
      owner.map { case (a, o) =>
        Seq[Any](a, region((o - OwnerBase).toInt)) -> 1L
      }.toMap
    case "bal" => bal.map { case (a, b) => Seq[Any](a, b) -> 1L }.toMap
  }
}

object SmallDeltasModel {
  val Owners = 500
  val Regions = 12
  val LiveCap = 8192
  val NewPerStep = 128
  val BalWrites = 96
  val RegionWrites = 16
  val OwnerBase = 1000000L
  val AcctBase = 2000000L
}

/** `recursion`: label propagation over 64 chains × 24 nodes with random
  * cross edges, and the transitive closure of 24 chains × 16 nodes with
  * forward-only cross links. Chain edges and seeds are static; cross
  * edges and links churn under fixed live caps. */
final class RecursionModel(seed: Long) {
  import RecursionModel._
  private val r = Models.rng(seed, 2L)
  private val chainEdges = (for (c <- 0 until Chains; p <- 0 until Len - 1)
    yield (node(c, p), node(c, p + 1))).toSet
  private val chainLinks = (for (c <- 0 until TChains; p <- 0 until TLen - 1)
    yield (tnode(c, p), tnode(c, p + 1))).toSet
  private val cross = mutable.Queue.empty[(Long, Long)]
  private val links = mutable.Queue.empty[(Long, Long)]

  private def newEdge(): (Long, Long) = {
    var e = (0L, 0L)
    while ({
      e = (node(r.nextInt(Chains), r.nextInt(Len)), node(r.nextInt(Chains), r.nextInt(Len)))
      e._1 == e._2 || chainEdges(e) || cross.contains(e)
    }) ()
    e
  }

  private def newLink(): (Long, Long) = {
    var l = (0L, 0L)
    while ({
      val c1 = r.nextInt(TChains)
      val c2 = (c1 + 1 + r.nextInt(TChains - 1)) % TChains
      val p1 = r.nextInt(TLen - 1)
      val p2 = p1 + 1 + r.nextInt(TLen - 1 - p1)
      l = (tnode(c1, p1), tnode(c2, p2))
      links.contains(l)
    }) ()
    l
  }

  private def edge(e: (Long, Long), d: Long) =
    Datom(e._1, ":g/edge", Value.eid(e._2), None, d)
  private def link(l: (Long, Long), d: Long) =
    Datom(l._1, ":g/link", Value.eid(l._2), None, d)

  def initial(): Seq[Datom] = {
    val out = mutable.ArrayBuffer.empty[Datom]
    for (c <- 0 until Chains) out += Datom.add(node(c, 0), ":g/seed", Value.num(c.toLong))
    chainEdges.toSeq.sorted.foreach(e => out += edge(e, 1L))
    chainLinks.toSeq.sorted.foreach(l => out += link(l, 1L))
    for (_ <- 0 until EdgeCap) { val e = newEdge(); cross += e; out += edge(e, 1L) }
    for (_ <- 0 until LinkCap) { val l = newLink(); links += l; out += link(l, 1L) }
    out.toSeq
  }

  /** 4 new cross edges and 2 new links; the oldest beyond the caps are
    * retracted, so every step inserts and deletes in both closures. */
  def step(): Seq[Datom] = {
    val out = mutable.ArrayBuffer.empty[Datom]
    for (_ <- 0 until EdgesPerStep) { val e = newEdge(); cross += e; out += edge(e, 1L) }
    for (_ <- 0 until LinksPerStep) { val l = newLink(); links += l; out += link(l, 1L) }
    while (cross.size > EdgeCap) out += edge(cross.dequeue(), -1L)
    while (links.size > LinkCap) out += link(links.dequeue(), -1L)
    out.toSeq
  }

  private def closure(edges: Iterable[(Long, Long)], from: Long): Set[Long] = {
    val adj = edges.groupMap(_._1)(_._2)
    val seen = mutable.HashSet.empty[Long]
    val todo = mutable.Stack(from)
    while (todo.nonEmpty)
      adj.getOrElse(todo.pop(), Nil).foreach(n => if (seen.add(n)) todo.push(n))
    seen.toSet
  }

  /** Breadth-first fixpoints of `reach` (node, label) and `tc` (x, z). */
  def expected(rule: String): Models.Result = rule match {
    case "reach" =>
      val edges = chainEdges ++ cross
      (0 until Chains).iterator.flatMap { c =>
        (closure(edges, node(c, 0)) + node(c, 0)).iterator.map(n => Seq[Any](n, c.toLong) -> 1L)
      }.toMap
    case "tc" =>
      val ls = chainLinks ++ links
      ls.iterator.map(_._1).toSet.iterator.flatMap { (x: Long) =>
        closure(ls, x).iterator.map(z => Seq[Any](x, z) -> 1L)
      }.toMap
  }
}

object RecursionModel {
  val Chains = 64
  val Len = 24
  val TChains = 24
  val TLen = 16
  val EdgeCap = 32
  val LinkCap = 16
  val EdgesPerStep = 4
  val LinksPerStep = 2
  def node(c: Int, p: Int): Long = 1L + c * Len + p
  def tnode(c: Int, p: Int): Long = 100000L + c * TLen + p
}

/** `bulk-late-query`: an orders table and a customers table, loaded as
  * parquet sources, plus an LWW order status written by transactions.
  * Update steps re-assign orders to other customers and write statuses. */
final class BulkModel(seed: Long) {
  import BulkModel._
  private val r = Models.rng(seed, 3L)
  val nation: Array[Long] = Array.fill(Customers)(r.nextInt(Nations).toLong)
  val cust: Array[Long] = Array.fill(Orders)(custEid(r.nextInt(Customers)))
  val amount: Array[Long] = Array.fill(Orders)(1L + r.nextInt(10000))
  private val status = Array.fill(Orders)(r.nextInt(Statuses).toLong)

  def initialStatus(): Seq[Datom] =
    (0 until Orders).map(i => Datom.add(orderEid(i), ":o/status", Value.num(status(i))))

  /** Re-assign 10k orders (retract the old customer, assert a new one)
    * and write 10k statuses: 30k datoms. */
  def step(): Seq[Datom] = {
    val out = mutable.ArrayBuffer.empty[Datom]
    for (i <- Models.pick(r, Reassign, Orders)) {
      val next = custEid((cust(i) - CustBase + 1 + r.nextInt(Customers - 1)).toInt % Customers)
      out += Datom.retract(orderEid(i), ":o/cust", Value.eid(cust(i)))
      out += Datom.add(orderEid(i), ":o/cust", Value.eid(next))
      cust(i) = next
    }
    for (i <- Models.pick(r, StatusWrites, Orders)) {
      status(i) = (status(i) + 1 + r.nextInt(Statuses - 1)) % Statuses
      out += Datom.add(orderEid(i), ":o/status", Value.num(status(i)))
    }
    out.toSeq
  }

  def expected(rule: String): Models.Result = rule match {
    case "orders_per_nation" =>
      cust.groupBy(c => nation((c - CustBase).toInt)).map { case (n, os) =>
        Seq[Any](n, os.length.toLong) -> 1L
      }
    case "revenue_per_cust" =>
      cust.indices.groupMapReduce(cust(_))(amount(_))(_ + _).map { case (c, s) =>
        Seq[Any](c, s) -> 1L
      }
    case "status" =>
      status.indices.map(i => Seq[Any](orderEid(i), status(i)) -> 1L).toMap
  }
}

object BulkModel {
  val Orders = 100000
  val Customers = 5000
  val Nations = 25
  val Statuses = 5
  val Reassign = 10000
  val StatusWrites = 10000
  val OrderBase = 10000000L
  val CustBase = 1000000L
  def orderEid(i: Int): Long = OrderBase + i
  def custEid(i: Int): Long = CustBase + i
}

/** `bitemporal`: owner facts over a live window of accounts and LWW
  * balances of a fixed account pool, written at system time `s` with
  * event times drawn from the last 8 event units. */
final class BiModel(seed: Long) {
  import BiModel._
  private val r = Models.rng(seed, 4L)
  // (account, owner, event of the assertion)
  private val live = mutable.Queue.empty[(Long, Long, Long)]
  private val bal = mutable.HashMap.empty[Long, Long]
  private val balEvent = mutable.HashMap.empty[Long, Long]
  private var nextAcct = AcctBase

  /** (e, attribute, value, (sys, event), diff) */
  type D = (Long, String, Long, (Long, Long), Long)

  def initial(): Seq[D] = {
    val out = mutable.ArrayBuffer.empty[D]
    for (_ <- 0 until Window) {
      val o = OwnerBase + r.nextInt(Owners)
      live += ((nextAcct, o, 0L))
      out += ((nextAcct, "b_owner", o, (0L, 0L), 1L))
      nextAcct += 1
    }
    for (a <- 0 until BalPool) {
      bal(BalBase + a) = r.nextInt(1000000).toLong
      balEvent(BalBase + a) = 0L
      out += ((BalBase + a, "b_bal", bal(BalBase + a), (0L, 0L), 1L))
    }
    out.toSeq
  }

  /** Step at system time `s` (≥ FirstStep): 64 new owner facts, the 64 oldest
    * retracted, 64 balance writes. Events lie in [s-8, s-1]; a
    * balance's events only grow, so its last write is unambiguous. */
  def step(s: Long): Seq[D] = {
    val lo = math.max(0L, s - Lateness)
    def ev(from: Long): Long = from + r.nextLong(s - from)
    val out = mutable.ArrayBuffer.empty[D]
    for (_ <- 0 until PerStep) {
      val o = OwnerBase + r.nextInt(Owners)
      val e = ev(lo)
      live += ((nextAcct, o, e))
      out += ((nextAcct, "b_owner", o, (s, e), 1L))
      nextAcct += 1
    }
    for (_ <- 0 until PerStep) {
      val (a, o, e0) = live.dequeue()
      out += ((a, "b_owner", o, (s, ev(math.max(lo, e0))), -1L))
    }
    var written = 0
    while (written < PerStep) {
      val a = BalBase + r.nextInt(BalPool)
      val from = math.max(lo, balEvent(a) + 1)
      if (from < s && !out.exists(d => d._1 == a)) {
        val b = r.nextInt(1000000).toLong
        bal(a) = b
        balEvent(a) = ev(from)
        out += ((a, "b_bal", b, (s, balEvent(a)), 1L))
        written += 1
      }
    }
    out.toSeq
  }

  /** The accumulated result at the last completed time. */
  def expected(rule: String): Models.Result = rule match {
    case "bcount" | "bcount_coarse" =>
      live.groupBy(_._2).map { case (o, as) => Seq[Any](o, as.size.toLong) -> 1L }
    case "bbal" => bal.map { case (a, b) => Seq[Any](a, b) -> 1L }.toMap
  }
}

object BiModel {
  val Owners = 200
  val Window = 2048
  val BalPool = 1024
  val PerStep = 64
  val Lateness = 8L
  /** The initial load sits at (0, 0); the first step's events then
    * already span the full lateness range. */
  val FirstStep = Lateness + 1
  val OwnerBase = 1000000L
  val AcctBase = 2000000L
  val BalBase = 3000000L
}
