package perfbench

import java.net.URI
import java.net.http.{HttpClient, WebSocket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CompletionStage, LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.model._
import graft.model.Plan._
import graft.server.{Output, Request, Wire, WsServer}
import graft.sources.FileSources.ParquetFile
import graft.streaming.BiMaintained

/** One standing-query workload. `setup` builds fresh program state and
  * runs the warm-up steps; the timed phase then runs `registrations`
  * late registrations followed by update steps, each followed by one
  * more registration when `registersEachStep`. Every step and
  * registration is followed by `check`, which compares what the
  * program delivered with the model's reference result. */
trait Workload {
  def setup(): Unit
  /** Late registrations before the first update step. */
  def registrations: Int
  /** One more late registration follows every update step; `register(k)`
    * then works for every k. */
  def registersEachStep: Boolean = false
  def register(k: Int): Unit
  /** Generate the next update step's inputs; not timed. */
  def prepare(): Unit
  /** Write the prepared inputs and wait for the step's results. */
  def step(): Unit
  /** Datoms written by the last step. */
  def stepDatoms: Int
  /** Per-layer counters of the last step or registration. */
  def stepStats: Map[String, Double]
  /** Mismatches between delivered results and the reference. */
  def check(): Seq[String]
  /** Check every rule, including lanes that deliver late. */
  def finalCheck(): Seq[String] = check()
  def close(): Unit
}

object Workload {
  val names = Seq("small-deltas", "recursion", "bulk-late-query", "bitemporal")

  def apply(name: String, spark: SparkSession, tr: Tracer, seed: Long,
      work: String): Workload = name match {
    case "small-deltas"    => new SmallDeltas(spark, tr, seed)
    case "recursion"       => new Recursion(spark, tr, seed)
    case "bulk-late-query" => new BulkLateQuery(spark, tr, seed, work)
    case "bitemporal"      => new Bitemporal(spark, tr, seed)
  }

  /** Write the inputs a workload generates from `seed`, set-up and
    * `steps` update steps, as text. */
  def dumpInputs(name: String, seed: Long, steps: Int, out: java.io.PrintWriter): Unit =
    name match {
      case "small-deltas" =>
        val m = new SmallDeltasModel(seed)
        m.initial().foreach(d => out.println(Models.render(d)))
        for (_ <- 0 until steps) m.step().foreach(d => out.println(Models.render(d)))
      case "recursion" =>
        val m = new RecursionModel(seed)
        m.initial().foreach(d => out.println(Models.render(d)))
        for (_ <- 0 until steps) m.step().foreach(d => out.println(Models.render(d)))
      case "bulk-late-query" =>
        val m = new BulkModel(seed)
        m.nation.foreach(n => out.println(n))
        m.cust.indices.foreach(i => out.println(s"${m.cust(i)} ${m.amount(i)}"))
        m.initialStatus().foreach(d => out.println(Models.render(d)))
        for (_ <- 0 until steps) m.step().foreach(d => out.println(Models.render(d)))
      case "bitemporal" =>
        val m = new BiModel(seed)
        m.initial().foreach(d => out.println(d))
        for (s <- 0 until steps) m.step(BiModel.FirstStep + s).foreach(d => out.println(d))
    }
}

/** Accumulated diffs of one rule: tuple -> summed weight. */
final class Acc {
  val m = mutable.HashMap.empty[Seq[Any], Long]
  def add(t: Seq[Any], w: Long): Unit = {
    val n = m.getOrElse(t, 0L) + w
    if (n == 0L) m.remove(t) else m(t) = n
  }
}

object Acc {
  /** Compare what `name` accumulated (nothing when absent) with `want`. */
  def check(name: String, acc: Option[Acc], want: Models.Result): Option[String] =
    Models.compare(name, acc.map(_.m).getOrElse(Map.empty[Seq[Any], Long]), want)
}

object Rules {
  private val COUNT = AggregationFn.COUNT
  private val SUM = AggregationFn.SUM

  // small-deltas: 0 acct, 1 owner, 2 region, 3 balance
  val perOwner: Plan = Aggregate(Seq(1, 0), MatchA(0, ":acct/owner", 1),
    Seq(COUNT), Seq(1), Seq(0), Seq.empty)
  val acctRegion: Plan = Project(Seq(0, 2), Join(Seq(1),
    MatchA(0, ":acct/owner", 1), MatchA(1, ":owner/region", 2)))
  val bal: Plan = MatchA(0, ":acct/bal", 3)

  // recursion: label propagation from seeds, and a transitive closure
  val reach: Plan = Union(Seq(0, 1), Seq(
    MatchA(0, ":g/seed", 1),
    Project(Seq(0, 1), Join(Seq(2),
      MatchA(2, ":g/edge", 0), NameExpr(Seq(2, 1), "reach")))))
  val tc: Plan = Union(Seq(0, 1), Seq(
    MatchA(0, ":g/link", 1),
    Project(Seq(0, 1), Join(Seq(2),
      MatchA(0, ":g/link", 2), NameExpr(Seq(2, 1), "tc")))))

  // bulk-late-query: 0 order, 1 customer, 2 nation, 3 amount, 4 status
  val ordersPerNation: Plan = Aggregate(Seq(2, 0), Join(Seq(1),
    MatchA(0, ":o/cust", 1), MatchA(1, ":c/nation", 2)),
    Seq(COUNT), Seq(2), Seq(0), Seq.empty)
  val revenuePerCust: Plan = Aggregate(Seq(1, 3), Join(Seq(0),
    MatchA(0, ":o/cust", 1), MatchA(0, ":o/amount", 3)),
    Seq(SUM), Seq(1), Seq(3), Seq.empty)
  val status: Plan = MatchA(0, ":o/status", 4)

  // bitemporal: 0 acct, 1 owner, 2 balance
  val bcount: Plan = Aggregate(Seq(1, 0), MatchA(0, "b_owner", 1),
    Seq(COUNT), Seq(1), Seq(0), Seq.empty)
  val bbal: Plan = MatchA(0, "b_bal", 2)
}

/** Blocking text client over the JDK WebSocket API. */
final class WireClient(port: Int) {
  private val inbox = new LinkedBlockingQueue[String]()
  private val partial = new java.lang.StringBuilder
  var bytesSent = 0L

  private val listener = new WebSocket.Listener {
    override def onText(ws: WebSocket, data: CharSequence,
        last: Boolean): CompletionStage[_] = {
      partial.append(data)
      if (last) { inbox.put(partial.toString); partial.setLength(0) }
      ws.request(1)
      null
    }
  }
  private val http = HttpClient.newHttpClient()
  private val ws = http.newWebSocketBuilder()
    .buildAsync(URI.create(s"ws://127.0.0.1:$port/"), listener)
    .get(30, TimeUnit.SECONDS)

  def send(r: Request): Unit = {
    val text = Wire.renderRequest(r)
    bytesSent += text.getBytes(UTF_8).length
    ws.sendText(text, true).get(60, TimeUnit.SECONDS)
  }

  /** The next server message, or None after `timeoutS` seconds. */
  def next(timeoutS: Long): Option[String] =
    Option(inbox.poll(timeoutS, TimeUnit.SECONDS))

  def close(): Unit =
    try ws.sendClose(WebSocket.NORMAL_CLOSURE, "done").get(10, TimeUnit.SECONDS)
    catch { case _: Exception => ws.abort() }
}

/** `small-deltas`: one WebSocket client against `WsServer(Engine)`. A
  * step is one Transact, one AdvanceDomain and one Status; it ends when
  * the Status reply arrives, after every QueryDiff of the advance. */
final class SmallDeltas(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  private val model = new SmallDeltasModel(seed)
  private val engine = new TracedEngine(spark, tr)
  private val server = new WsServer(engine).start()
  private val client = new WireClient(server.boundPort)
  private val rules = Seq("per_owner" -> Rules.perOwner,
    "acct_region" -> Rules.acctRegion, "bal" -> Rules.bal)
  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  private var t = 0L
  private var datoms = 0
  private var stats = Map.empty[String, Double]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var late: Option[String] = None

  private def norm(v: Value): Any = v match {
    case Value.VEid(e)    => e
    case Value.VNumber(n) => n
    case other            => other.native
  }

  /** Send `reqs` and a Status, then read until the Status reply. */
  private def roundTrip(reqs: Seq[Request]): Unit = {
    val sent0 = client.bytesSent
    (reqs :+ Request.Status).foreach(client.send)
    var msgs = 0
    var bytes = 0L
    var rows = 0
    var done = false
    while (!done) client.next(120L) match {
      case None =>
        errors += "no Status reply within 120 s"
        done = true
      case Some(text) =>
        msgs += 1
        bytes += text.getBytes(UTF_8).length
        Wire.parseOutput(text) match {
          case Output.QueryDiff(name, batch) =>
            val acc = accs.getOrElseUpdate(name, new Acc)
            batch.foreach { case (tuple, _, w) => acc.add(tuple.map(norm), w) }
            rows += batch.size
          case Output.Error(_, category, message, _) =>
            errors += s"server error $category: $message"
          case Output.Message(_, json) => done = json.contains("df/status")
          case other => errors += s"unexpected output $other"
        }
    }
    stats = Map("server_msgs_out" -> msgs, "server_bytes_out" -> bytes.toDouble,
      "server_bytes_in" -> (client.bytesSent - sent0).toDouble, "diff_rows" -> rows)
  }

  def setup(): Unit = {
    roundTrip(Seq(
      Request.CreateAttribute(":acct/owner", AttributeConfig(InputSemantics.Distinct)),
      Request.CreateAttribute(":owner/region", AttributeConfig(InputSemantics.Distinct)),
      Request.CreateAttribute(":acct/bal", AttributeConfig(InputSemantics.LastWriteWins)),
      Request.Register(rules.map { case (n, p) => Rule(n, p) }, Seq.empty)) ++
      rules.map { case (n, _) => Request.Interest(n) } ++ Seq(
      Request.Transact(model.initial()),
      Request.AdvanceDomain(None, 1L)))
    t = 1L
    for (_ <- 0 until Main.WarmupSteps) { prepare(); step() }
  }

  private var next = Seq.empty[Datom]
  def prepare(): Unit = next = model.step()

  def step(): Unit = {
    datoms = next.size
    t += 1
    roundTrip(Seq(Request.Transact(next), Request.AdvanceDomain(None, t)))
  }

  def registrations: Int = 0
  override def registersEachStep: Boolean = true

  /** A copy of `per_owner` registered under a fresh name; delivered in
    * full by the next advance, then withdrawn. */
  def register(k: Int): Unit = {
    val name = s"per_owner_late$k"
    late = Some(name)
    t += 1
    roundTrip(Seq(Request.Register(Seq(Rule(name, Rules.perOwner)), Seq.empty),
      Request.Interest(name), Request.AdvanceDomain(None, t)))
  }

  def stepDatoms: Int = datoms
  def stepStats: Map[String, Double] = stats

  def check(): Seq[String] = {
    val lateMismatch = late.toSeq.flatMap { name =>
      client.send(Request.Uninterest(name))
      Acc.check(name, accs.remove(name), model.expected("per_owner"))
    }
    late = None
    val out = errors.toSeq ++ lateMismatch ++ rules.flatMap { case (n, _) =>
      Acc.check(n, accs.get(n), model.expected(n))
    }
    errors.clear()
    out
  }

  def close(): Unit = { client.close(); server.stop() }
}

/** Shared driving of an embedded `Engine`: transact, advance, drain. */
abstract class EmbeddedWorkload(spark: SparkSession, tr: Tracer) extends Workload {
  protected val engine = new TracedEngine(spark, tr)
  protected val accs = mutable.LinkedHashMap.empty[String, Acc]
  protected var t = 0L
  private var datoms = 0
  private var rows = 0
  private var next = Seq.empty[Datom]

  /** The model's next update step. */
  protected def generate(): Seq[Datom]

  def prepare(): Unit = next = generate()

  def step(): Unit = {
    datoms = next.size
    advanceAndDrain(next)
  }

  /** Advance one time and drain every interested rule. */
  protected def advanceAndDrain(ds: Seq[Datom]): Unit = {
    if (ds.nonEmpty) engine.transact(ds)
    t += 1
    engine.advance(t)
    rows = 0
    for (name <- engine.interestNames) {
      val acc = accs.getOrElseUpdate(name, new Acc)
      val batch = engine.drain(name)
      batch.foreach { case (tuple, _, w) => acc.add(tuple, w) }
      rows += batch.size
    }
  }

  /** Register `plan` as `name` and wait for its replayed result. */
  protected def registerLate(name: String, plan: Plan): Unit = {
    engine.register(Rule(name, plan))
    engine.interestIncremental(name)
    advanceAndDrain(Seq.empty)
  }

  def stepDatoms: Int = datoms
  def stepStats: Map[String, Double] = Map("diff_rows" -> rows)
  protected def compareAll(expected: String => Models.Result,
      names: Seq[String]): Seq[String] =
    names.flatMap(n => Acc.check(n, accs.get(n), expected(n)))
  def close(): Unit = ()
}

/** `recursion`: `reach` (general recursion node) and `tc` (closure
  * node) maintained under cross-edge churn. */
final class Recursion(spark: SparkSession, tr: Tracer, seed: Long)
    extends EmbeddedWorkload(spark, tr) {
  private val model = new RecursionModel(seed)
  private var late = Seq.empty[(String, String)]

  def setup(): Unit = {
    Seq(":g/edge", ":g/seed", ":g/link").foreach(a =>
      engine.createAttribute(a, AttributeConfig(InputSemantics.Distinct)))
    engine.register(Rule("reach", Rules.reach))
    engine.register(Rule("tc", Rules.tc))
    engine.interestIncremental("reach")
    engine.interestIncremental("tc")
    advanceAndDrain(model.initial())
    for (_ <- 0 until Main.WarmupSteps) { prepare(); step() }
  }

  protected def generate(): Seq[Datom] = model.step()

  def registrations: Int = 0
  override def registersEachStep: Boolean = true

  /** Late readers of `reach` and of `tc`, registered together and
    * delivered by one advance, so every registration does the same work. */
  def register(k: Int): Unit = {
    late = Seq("reach", "tc").map(base => (s"${base}_late$k", base))
    for ((name, base) <- late) {
      engine.register(Rule(name, NameExpr(Seq(0, 1), base)))
      engine.interestIncremental(name)
    }
    advanceAndDrain(Seq.empty)
  }

  def check(): Seq[String] = {
    val lateMismatch = late.flatMap { case (name, base) =>
      engine.uninterest(name)
      Acc.check(name, accs.remove(name), model.expected(base))
    }
    late = Seq.empty
    lateMismatch ++ compareAll(model.expected, Seq("reach", "tc"))
  }
}

/** `bulk-late-query`: orders and customers registered as parquet
  * sources; three rules registered late against the loaded data, then
  * data-sized update steps. */
final class BulkLateQuery(spark: SparkSession, tr: Tracer, seed: Long, work: String)
    extends EmbeddedWorkload(spark, tr) {
  import BulkModel._
  private val model = new BulkModel(seed)
  private val ordersPath = s"$work/orders.parquet"
  private val custPath = s"$work/customers.parquet"
  private val late = Seq("orders_per_nation" -> Rules.ordersPerNation,
    "revenue_per_cust" -> Rules.revenuePerCust, "status" -> Rules.status)
  private var registered = Seq.empty[String]

  /** Generated tables, written once per run (the same seed gives the
    * same rows for every set-up). */
  private def writeTables(): Unit = {
    import spark.implicits._
    if (!new java.io.File(ordersPath).exists()) {
      model.cust.indices.map(i => (orderEid(i), model.cust(i), model.amount(i)))
        .toDF("o_id", "o_cust", "o_amount").write.parquet(ordersPath)
      model.nation.indices.map(i => (custEid(i), model.nation(i)))
        .toDF("c_id", "c_nation").write.parquet(custPath)
    }
  }

  def setup(): Unit = {
    writeTables()
    engine.createAttribute(":o/status", AttributeConfig(InputSemantics.LastWriteWins))
    engine.handle(Request.RegisterSource(ParquetFile(ordersPath, "o_id", Seq(
      ":o/cust" -> ("o_cust", ValueKind.KEid), ":o/amount" -> ("o_amount", ValueKind.KNumber)))))
    engine.handle(Request.RegisterSource(ParquetFile(custPath, "c_id", Seq(
      ":c/nation" -> ("c_nation", ValueKind.KNumber)))))
    advanceAndDrain(model.initialStatus())
    // Warm-up: one registration and one update step, on a rule that the
    // timed phase does not use.
    registerLate("warm_per_nation", Rules.ordersPerNation)
    prepare()
    step()
    engine.uninterest("warm_per_nation")
    accs.remove("warm_per_nation")
  }

  def registrations: Int = late.size

  def register(k: Int): Unit = {
    val (name, plan) = late(k)
    registered :+= name
    registerLate(name, plan)
  }

  protected def generate(): Seq[Datom] = model.step()

  def check(): Seq[String] = compareAll(model.expected, registered)
}

/** `bitemporal`: `BiMaintained` with a fine lane (COUNT and LWW view)
  * and a coarsened lane (a second COUNT at granularity (2, 2)). */
final class Bitemporal(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  private val model = new BiModel(seed)
  private val bm = new BiMaintained(spark, partitions = Main.cpus)
  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  private var datoms = 0
  private var rows = 0
  private var late: Option[String] = None
  private val fine = Seq("bcount", "bbal")
  private val coarse = (2L, 2L)

  private def write(ds: Seq[model.D]): Unit = tr.span("bi.transact") {
    bm.transact(ds.map { case (e, a, v, time, d) =>
      bm.BiDatom(Value.eid(e), a, if (a == "b_owner") Value.eid(v) else Value.num(v), time, d)
    })
  }

  private def advanceAndDrain(next: Long): Unit = {
    tr.span("bi.advance")(bm.advance(next))
    rows = 0
    for (name <- bm.interestNames) {
      val acc = accs.getOrElseUpdate(name, new Acc)
      val batch = tr.span("bi.drain")(bm.drain(name))
      batch.foreach { case (tuple, _, w) => acc.add(tuple, w) }
      rows += batch.size
    }
  }

  def setup(): Unit = {
    bm.createAttribute("b_owner", AttributeConfig(InputSemantics.Distinct))
    bm.createAttribute("b_bal", AttributeConfig(InputSemantics.LastWriteWins))
    bm.register(Rule("bcount", Rules.bcount))
    bm.register(Rule("bbal", Rules.bbal))
    bm.register(Rule("bcount_coarse", Rules.bcount))
    bm.interest("bcount", None)
    bm.interest("bbal", None)
    bm.interest("bcount_coarse", Some(coarse))
    write(model.initial())
    advanceAndDrain(BiModel.FirstStep)
    for (_ <- 0 until Main.WarmupSteps) { prepare(); step() }
  }

  private var next = Seq.empty[model.D]
  def prepare(): Unit = next = model.step(bm.frontier)

  def step(): Unit = {
    val s = bm.frontier
    datoms = next.size
    write(next)
    bm.advanceEvent(math.max(0L, s - BiModel.Lateness))
    advanceAndDrain(s + 1)
  }

  def registrations: Int = 0
  override def registersEachStep: Boolean = true

  /** A copy of `bcount` joining the live fine lane under a fresh name.
    * A standing that joins a lane already in use is first delivered at
    * the lane's next processed time (an advance without new times
    * delivers nothing to it), so the registration runs one update step
    * and ends when that step's drain has delivered the full result. */
  def register(k: Int): Unit = {
    val name = s"bcount_late$k"
    late = Some(name)
    bm.register(Rule(name, Rules.bcount))
    bm.interest(name, None)
    prepare()
    step()
  }

  def stepDatoms: Int = datoms

  def stepStats: Map[String, Double] = {
    val cp = bm.controlPlaneStats
    Map("diff_rows" -> rows, "bi_ledger_entries" -> cp("ledgerEntries").toDouble,
      "bi_pending_times" -> cp("pendingTimes").toDouble,
      "bi_result_rows" -> cp("resultRows").toDouble)
  }

  private def compare(names: Seq[String]): Seq[String] =
    names.flatMap(n => Acc.check(n, accs.get(n), model.expected(n)))

  def check(): Seq[String] = {
    val lateMismatch = late.toSeq.flatMap { name =>
      bm.uninterest(name)
      Acc.check(name, accs.remove(name), model.expected("bcount"))
    }
    late = None
    lateMismatch ++ compare(fine)
  }

  /** Close the coarse windows with empty advances, then check every lane. */
  override def finalCheck(): Seq[String] = {
    advanceAndDrain(bm.frontier + 2 * coarse._1)
    compare(fine :+ "bcount_coarse")
  }

  def close(): Unit = ()
}
