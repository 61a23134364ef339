package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import graft.GraftSession

/** One benchmark run of one workload in this JVM.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --out DIR
  *   perfbench.Main --dump-inputs FILE --workload W --seed N --steps K
  *
  * Sets the workload up `Setups` times (fresh program state each time;
  * the first set-up is timed from JVM start), then runs the timed phase
  * on the last set-up: the late registrations, then update steps until
  * `S` seconds have passed (at least `MinSteps`). A workload whose
  * registrations repeat runs one more after every update step, so they
  * sample the same warm, steady state as the steps. Every step and
  * registration is checked against the workload's reference. Writes
  * `DIR/result.json`, and with tracing `DIR/trace.jsonl`. In a traced
  * run, update steps alternate between traced and untraced, so one run
  * gives both the per-layer split and the tracing overhead. */
object Main {
  val Setups = 3
  val WarmupSteps = 1
  /** Extra warm-up cycles (an update step, and a registration where they
    * repeat) run in the first set-up only. They warm the JVM's compiled
    * code once per run; the later set-ups start on a warm JVM. */
  val JvmWarmupCycles = 2
  val MinSteps = 7
  lazy val cpus: Int = Runtime.getRuntime.availableProcessors()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workload.names.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    opts.get("dump-inputs") match {
      case Some(path) =>
        val out = new java.io.PrintWriter(path, "UTF-8")
        try Workload.dumpInputs(workload, seed, opts.getOrElse("steps", "8").toInt, out)
        finally out.close()
      case None =>
        run(workload, seed, opts("seconds").toDouble, opts("trace") == "1", opts("out"))
    }
  }

  private def secondsSince(startNs: Long): Double = (System.nanoTime() - startNs) / 1e9

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
      out: String): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.builder(cpus.toString, "perfbench")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark)
    val work = s"$out/data"

    var attempted = 0
    var failedOp = false
    val errors = mutable.ArrayBuffer.empty[String]
    def checked(what: String)(mismatches: => Seq[String]): Unit = {
      attempted += 1
      val found =
        try mismatches
        catch { case e: Exception => Seq(s"check raised $e") }
      if (found.nonEmpty) errors += s"$what: ${found.mkString("; ")}"
    }

    // Set-ups. Warm-up steps run inside `setup`; their checks count.
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var w: Workload = null
    for (k <- 0 until Setups) {
      // A set-up starts from an empty block store: the blocks of the
      // previous set-up's engine would otherwise linger until a GC lets
      // Spark's cleaner find them.
      if (w != null) {
        w.close()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
      val t0 = System.nanoTime()
      val root = if (traced) Some(tr.beginStep(-(k + 1), "setup")) else None
      w = Workload(workload, spark, tr, seed, work)
      if (!failedOp) checked(s"setup $k") {
        try w.setup()
        catch { case e: Exception => failedOp = true; throw e }
        w.check()
      }
      if (k == 0) for (c <- 0 until JvmWarmupCycles if !failedOp) {
        w.prepare()
        checked(s"warm-up step $c") { w.step(); w.check() }
        if (w.registersEachStep)
          checked(s"warm-up registration $c") { w.register(w.registrations + c); w.check() }
      }
      val took = secondsSince(t0)
      root.foreach(r => tr.endStep("setup", r, took * 1e3, w.stepStats))
      setupTimes += (if (k == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else took)
    }
    val calibStart = Calib.spinMs()

    // Timed phase.
    val phaseStart = System.nanoTime()
    val registrations = mutable.ArrayBuffer.empty[Double]
    val steps = mutable.ArrayBuffer.empty[(Double, Int)]
    var id = 0
    def timed(kind: String, trace: Boolean)(body: => Unit): Option[Double] = {
      id += 1
      val root = if (trace) Some(tr.beginStep(id, kind)) else None
      val t0 = System.nanoTime()
      val ok =
        try { body; true }
        catch { case e: Exception =>
          errors += s"$kind $id raised ${e.toString.take(2000)}"; false }
      val ms = secondsSince(t0) * 1e3
      root match {
        case Some(r) => tr.endStep(kind, r, ms, w.stepStats)
        case None    => if (traced) tr.untracedStep(id, kind, ms)
      }
      if (ok) Some(ms) else { attempted += 1; failedOp = true; None }
    }
    var registered = 0
    def register(): Unit = {
      val k = registered
      registered += 1
      timed("register", traced)(w.register(k)).foreach { ms =>
        registrations += ms / 1e3
        checked(s"registration $k")(w.check())
      }
    }
    while (!failedOp && registered < w.registrations) register()
    var updates = 0
    while (!failedOp && (secondsSince(phaseStart) < seconds || steps.size < MinSteps)) {
      w.prepare()
      updates += 1
      timed("update", traced && updates % 2 == 1)(w.step()).foreach { ms =>
        steps += ((ms, w.stepDatoms))
        checked(s"step $id")(w.check())
      }
      if (w.registersEachStep && !failedOp) register()
    }
    val phaseSeconds = secondsSince(phaseStart)
    if (!failedOp) checked("final")(w.finalCheck())
    val calibEnd = Calib.spinMs()

    // A GC makes state no engine holds unreachable; Spark's cleaner then
    // drops its blocks asynchronously, so collect again after a pause.
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

    if (traced) {
      tr.note("calib_start_ms", calibStart)
      tr.note("calib_end_ms", calibEnd)
      tr.write(s"$out/trace.jsonl")
    }
    val res = new StringBuilder
    res ++= s"""{"workload":${Json.str(workload)},"seed":$seed,"traced":$traced,"""
    res ++= s""""cpus":$cpus,"setups_s":[${setupTimes.map(Json.num).mkString(",")}],"""
    res ++= s""""registrations_s":[${registrations.map(Json.num).mkString(",")}],"""
    res ++= s""""steps_ms":[${steps.map(s => Json.num(s._1)).mkString(",")}],"""
    res ++= s""""steps_datoms":[${steps.map(_._2).mkString(",")}],"""
    res ++= s""""phase_s":${Json.num(phaseSeconds)},"attempted":$attempted,"""
    res ++= s""""failed":${errors.size},"heap_mb":${Json.num(heapMb)},"""
    res ++= s""""calib_ms":[${Json.num(calibStart)},${Json.num(calibEnd)}],"""
    res ++= s""""errors":[${errors.map(e => Json.str(e.take(4000))).mkString(",")}]}"""
    val f = new java.io.PrintWriter(s"$out/result.json", "UTF-8")
    try f.println(res.toString) finally f.close()
    w.close()
    spark.stop()
  }
}

/** A fixed amount of CPU work, timed: slower readings at a run's start
  * or end show a host window that was stalled or shared. */
object Calib {
  def spinMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  }
}
