package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.Ckpt
import graft.engine.{Engine, PropertyGraph}
import graft.lang.{Lexer, Normalize, Params, Parser, Typing}
import graft.operators.GraphAlgos
import graft.sources.GraphLoader

/** Benchmark harness: one seeded workload, closed loop, one client thread.
  *
  * Usage: perfbench.Main --workload <read_mix|graph_analytics>
  *   --seed <n> --seconds <s> --trace <0|1> --data <dir> --out <dir>
  *   --master <url> --shuffle-partitions <n> --aqe <true|false>
  *   perfbench.Main --setup-only 1 --data <dir> --out <dir> ...
  *
  * A set-up-only run builds the session, loads the graph, warms up and
  * exits; the first one in a checkout builds the lineitem id store.
  *
  * A pass is the workload's fixed seeded sequence of operations; a run
  * makes untimed warm-up passes, then as many measured passes as fit
  * `--seconds` on a 4-core host. graph_analytics runs each pass in a fresh
  * session. With `--trace 1` passes alternate traced and untraced, the
  * per-layer figures come from the traced ones and their wall-time
  * difference is the tracing overhead.
  *
  * Writes to `--out`: report.json (metrics and per-operation records),
  * results/<i>.json (the first collected result of each distinct
  * operation), oracle_sql.json, and trace.jsonl when tracing. */
object Main {
  def main(argv: Array[String]): Unit = {
    val start = System.nanoTime()
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val bench = new Bench(args, start)
    try bench.run() finally bench.stop()
  }
}

/** Front-end phase boundaries (System.nanoTime): lex, parse, normalize,
  * params, typecheck. `Parser.parse` tokenizes again, so the parse phase
  * is reported with the lexing time subtracted. */
final case class FrontEnd(marks: Vector[Long], irInstrs: Int) {
  private def ms(i: Int): Double = (marks(i + 1) - marks(i)) / 1e6
  def lexMs: Double = ms(0)
  def parseMs: Double = math.max(0.0, ms(1) - ms(0))
  def normalizeMs: Double = ms(2)
  def paramsMs: Double = ms(3)
  def typecheckMs: Double = ms(4)
  def totalMs: Double = (marks(5) - marks(0)) / 1e6 - ms(0)
}

final case class OpRec(id: Int, pass: Int, name: String, traced: Boolean,
    latencyMs: Double, runMs: Double, actionMs: Double, drainMs: Double, jobs: Int, runJobs: Int,
    rowCount: Int, result: Int, consistent: Boolean, error: Option[String], fe: Option[FrontEnd],
    spark: Option[SparkCounts])

/** The JVM's cold set-up, timed from its main entry. */
final case class SetupRec(totalS: Double, loadMs: Double, warmupMs: Double, lidStoresBuilt: Int)

final class Bench(args: Map[String, String], mainStart: Long) {
  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
  private def arg(k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  private val workload = args.getOrElse("workload", "")
  private val seed = args.getOrElse("seed", "0").toLong
  private val seconds = args.getOrElse("seconds", "10").toDouble
  private val tracing = args.getOrElse("trace", "0") == "1"
  private val dataDir = arg("data")
  private val out = Paths.get(args.getOrElse("out", "."))
  private val cores = """local\[(\d+)\]""".r.findFirstMatchIn(arg("master"))
    .map(_.group(1).toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  // Untimed warm-up passes bring the JIT closer to steady state. In a new
  // JVM graph_analytics' first pass took 1.4 times as long as its second,
  // and read_mix's first pass took about twice as long as later ones, its
  // second 30% longer.
  private val warmupPasses = if (workload == "read_mix") 2 else 1
  /** graph_analytics runs every pass in a fresh session, so that no
    * session memo of an earlier pass turns an operation into a cache hit. */
  private val freshSessions = workload == "graph_analytics"
  /** A pass's duration on a 4-core host, which turns --seconds into a
    * pass count. */
  private val nominalPassS = if (workload == "read_mix") 4.0 else 13.0

  private val cfg = Engine.Config(strict = false)
  private val header = GraphLoader.headerGql
  private val epoch0Ms = System.currentTimeMillis() - (System.nanoTime() - mainStart) / 1e6
  private def epochMs(t: Long): Double = epoch0Ms + (t - mainStart) / 1e6

  private var spark: SparkSession = _
  private var graph: PropertyGraph = _
  private var nextId = 0L
  private val probe = new Probe
  private var probeOn = false

  private var coldSetup: Option[SetupRec] = None
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val passes = mutable.ArrayBuffer.empty[(Boolean, Double)] // (traced, wall s)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val distinct = mutable.LinkedHashMap.empty[String, (Int, Op, StructType, Array[Row], Int)]
  private var retainedFirstPassMb = Double.NaN
  private var opSeq = 0
  private val timeline = mutable.ArrayBuffer.empty[(String, Double)]
  private def mark(what: String): Unit =
    timeline += what -> (System.nanoTime() - mainStart) / 1e9

  // ---- session set-up ---------------------------------------------------

  private def lidStores(): Set[String] = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    if (!Files.isDirectory(tmp)) Set.empty
    else {
      val s = Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("graft_lids_") && !n.contains("_tmp_")).toSet
      finally s.close()
    }
  }

  def stop(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** Build a session, load the graph and warm up. Only the JVM's first
    * set-up is recorded, timed from its main entry; later ones rebuild the
    * session in a warm JVM. */
  private def setup(): Unit = {
    stop()
    mark("setup")
    val t0 = if (coldSetup.isDefined) System.nanoTime() else mainStart
    val local = Paths.get(sys.props("java.io.tmpdir"), "spark-local")
    spark = SparkSession.builder()
      .master(arg("master"))
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", arg("shuffle-partitions"))
      .config("spark.sql.adaptive.enabled", arg("aqe"))
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", Paths.get(sys.props("java.io.tmpdir"), "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val before = lidStores()
    val t1 = System.nanoTime()
    val (g, nid) = GraphLoader.load(spark, dataDir)
    val t2 = System.nanoTime()
    val built = (lidStores() -- before).size
    graph = g; nextId = nid
    Workloads.warmup.foreach {
      case q: Gql => Engine.runSourceOn(spark, header + q.body, graph, nextId, cfg, q.params)
        .bindings.collect()
      case _ => ()
    }
    Ckpt.drain()
    val t3 = System.nanoTime()
    if (coldSetup.isEmpty) coldSetup = Some(SetupRec((t3 - t0) / 1e9, ms(t1, t2), ms(t2, t3), built))
    spans += Span("setup", epochMs(t0), epochMs(t3), "run", -1)
    spans += Span("loader.load", epochMs(t1), epochMs(t2), "setup", -1)
    spans += Span("loader.warmup", epochMs(t2), epochMs(t3), "setup", -1)
    probeOn = false
  }

  private def traceOn(on: Boolean): Unit = if (on != probeOn) {
    if (on) spark.sparkContext.addSparkListener(probe)
    else spark.sparkContext.removeSparkListener(probe)
    probeOn = on
  }

  /** Storage the block manager still holds, in MB, and how many RDDs. */
  private def retained(): (Double, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(i => i.memSize + i.diskSize > 0)
    (infos.map(i => i.memSize + i.diskSize).sum / 1e6, infos.length)
  }

  // ---- one operation ----------------------------------------------------

  private def frontEnd(src: String, q: Gql): FrontEnd = {
    val t0 = System.nanoTime()
    Lexer.tokenize(src)
    val t1 = System.nanoTime()
    val prog = Parser.parse(src)
    val t2 = System.nanoTime()
    val np = Normalize.normalize(prog)
    val t3 = System.nanoTime()
    val instrs = Params.subst(np.instrs, q.params)
    val t4 = System.nanoTime()
    Typing.typecheck(np.copy(instrs = instrs))
    FrontEnd(Vector(t0, t1, t2, t3, t4, System.nanoTime()), instrs.size)
  }

  private def canonical(rows: Array[Row]): Int = rows.map(_.toString).sorted.toSeq.hashCode

  private def runOp(op: Op, pass: Int, traced: Boolean): OpRec = {
    val id = opSeq; opSeq += 1
    val sc = spark.sparkContext
    // one job group per phase, so that the jobs started before the
    // collect can be counted without the listener
    val runGroup = s"perfbench-$id-run"
    val actionGroup = s"perfbench-$id-action"
    sc.setJobGroup(runGroup, op.name)
    sc.setLocalProperty(Probe.OpKey, id.toString)
    sc.setLocalProperty(Probe.PhaseKey, "run")
    probe.current = id
    val t0 = System.nanoTime()
    var fe: Option[FrontEnd] = None
    var tRun = t0
    var tFe = t0
    var error: Option[String] = None
    var rows: Array[Row] = Array.empty
    var schema = new StructType()
    try {
      val df = op match {
        case q: Gql =>
          val src = header + q.body
          if (traced) { fe = Some(frontEnd(src, q)); tFe = System.nanoTime() }
          Engine.runSourceOn(spark, src, graph, nextId, cfg, q.params).bindings
        case l: Lib =>
          GraphAlgos.all.find(_.name == l.name).get.run(spark, dataDir)
      }
      tRun = System.nanoTime()
      sc.setJobGroup(actionGroup, op.name)
      sc.setLocalProperty(Probe.PhaseKey, "action")
      rows = df.collect()
      schema = df.schema
    } catch {
      case e: Throwable =>
        error = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .linesIterator.next().take(300))
    }
    if (tRun == t0) tRun = System.nanoTime()
    val t2 = System.nanoTime()
    Ckpt.drain()
    val t3 = System.nanoTime()
    sc.setLocalProperty(Probe.OpKey, null)
    sc.setLocalProperty(Probe.PhaseKey, null)
    sc.clearJobGroup()
    PerfbenchBus.drain(sc)
    val runJobs = sc.statusTracker.getJobIdsForGroup(runGroup).length
    val jobs = runJobs + sc.statusTracker.getJobIdsForGroup(actionGroup).length

    val h = canonical(rows)
    val (idx, consistent) =
      if (error.isDefined) (-1, true)
      else distinct.get(op.key) match {
        case Some((i, _, _, _, h0)) => (i, h0 == h)
        case None =>
          val i = distinct.size
          distinct(op.key) = (i, op, schema, rows, h)
          (i, true)
      }
    val feMs = fe.map(_.totalMs).getOrElse(0.0)
    val rec = OpRec(id, pass, op.name, traced, ms(t0, t2), ms(tFe, tRun) - feMs,
      ms(tRun, t2), ms(t2, t3), jobs, runJobs, rows.length, idx, consistent, error, fe,
      if (traced) Some(probe.counts(id)) else None)
    if (traced) {
      val c = probe.counts(id)
      spans += Span(op.name, epochMs(t0), epochMs(t3), s"pass.$pass", id, Map(
        "spark.jobs" -> c.jobs, "engine.run_jobs" -> c.runJobs,
        "exec.action_jobs" -> c.actionJobs, "spark.stages" -> c.stages,
        "spark.tasks" -> c.tasks, "spark.exchanges" -> c.exchanges,
        "spark.task_run_ms" -> c.taskRunMs, "spark.shuffle_read_bytes" -> c.shuffleReadBytes,
        "spark.shuffle_write_bytes" -> c.shuffleWriteBytes, "spark.spill_bytes" -> c.spillBytes,
        "lang.ir_instrs" -> fe.map(_.irInstrs).getOrElse(0), "error" -> error.orNull))
      fe.foreach { f =>
        Seq("lang.lex", "lang.parse", "lang.normalize", "lang.params", "lang.typecheck")
          .zip(f.marks.zip(f.marks.tail))
          .foreach { case (n, (a, b)) => spans += Span(n, epochMs(a), epochMs(b), "op", id) }
      }
      spans += Span("engine.run", epochMs(tFe), epochMs(tRun), "op", id)
      spans += Span("exec.action", epochMs(tRun), epochMs(t2), "op", id)
      spans += Span("ckpt.drain", epochMs(t2), epochMs(t3), "op", id)
    }
    ops += rec
    rec
  }

  // ---- workloads --------------------------------------------------------

  private def pass(p: Int, traced: Boolean): Unit = {
    traceOn(traced)
    val t0 = System.nanoTime()
    /** Runs `op`, failing it when `bad` holds for an error-free run. */
    def checked(op: Op)(bad: OpRec => Option[String]): OpRec = {
      val r = runOp(op, p, traced)
      val why = if (r.error.isEmpty) bad(r) else None
      if (why.isEmpty) r else { val f = r.copy(error = why); ops(ops.size - 1) = f; f }
    }
    val recs = workload match {
      case "read_mix" =>
        // an empty result matches an empty oracle, so its check could not fail
        Workloads.readMix(seed, p).map(checked(_) { r =>
          if (r.rowCount == 0) Some("returned no rows") else None
        })
      case "graph_analytics" =>
        // A miss runs the loops and eager checkpoints before the collect; a
        // memo hit would time a cache lookup plus the collect's own job.
        Workloads.analytics(seed).map(checked(_) { r =>
          if (r.runJobs == 0) Some("started no Spark job before its collect (memo hit)") else None
        })
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val wall = ops.takeRight(recs.size).map(r => r.latencyMs + r.drainMs).sum / 1e3
    if (p >= 0) passes += ((traced, wall))
    spans += Span("pass", epochMs(t0), epochMs(System.nanoTime()), "run", -1)
    if (p == 0) retainedFirstPassMb = retained()._1
  }

  def run(): Unit = {
    Files.createDirectories(out.resolve("results"))
    setup()
    if (args.contains("setup-only")) return
    // A run makes a fixed number of passes for a given --seconds, whatever
    // the host's speed: a time-bounded loop let a slow run stop earlier on
    // the JIT's warm-up curve, which doubled the spread between runs.
    // Traced runs alternate traced and untraced passes, traced first.
    val passCount = math.max(if (tracing) 2 else 1, math.ceil(seconds / nominalPassS).toInt)
    // passes numbered below 0 are the warm-up passes
    val passIds = (-warmupPasses until 0) ++ (0 until passCount)
    for (p <- passIds) {
      if (freshSessions && p > passIds.head) setup()
      mark(if (p < 0) "warmup" else "measure")
      pass(p, traced = tracing && p >= 0 && p % 2 == 0)
    }
    Ckpt.drain()
    mark("report")
    write()
  }

  // ---- report -------------------------------------------------------------

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def metric(v: Double, unit: String, n: Int): Map[String, Any] =
    Map("value" -> v, "unit" -> unit, "n" -> n)

  private def endToEnd: Map[String, Map[String, Any]] = {
    val plain = ops.filter(o => !o.traced && o.pass >= 0)
    // Each of a pass's operations at its fastest over the measured passes:
    // other load on the host only ever adds time, so a burst of it slows
    // some passes and leaves the best one as it was.
    val best = plain.groupBy(_.pass).values.toSeq.flatMap { recs =>
      recs.groupBy(_.name).toSeq.flatMap { case (n, rs) => rs.zipWithIndex.map { case (r, i) =>
        (n, i) -> r } }
    }.groupMap(_._1)(_._2).values.map(_.minBy(r => r.latencyMs + r.drainMs)).toSeq
    val wall = best.map(r => r.latencyMs + r.drainMs).sum / 1e3
    // Percentiles over every measured operation: over read_mix's 13
    // per-operation bests, op_p90 would rest on its two slowest operations.
    val lat = plain.map(_.latencyMs).toSeq
    Map(
      "setup_s" -> metric(coldSetup.get.totalS, "s", 1),
      "wall_s" -> metric(wall, "s", passes.size),
      "op_p50_ms" -> metric(quantile(lat, 0.5), "ms", lat.size),
      "op_p90_ms" -> metric(quantile(lat, 0.9), "ms", lat.size),
      "retained_storage_mb" -> metric(retainedFirstPassMb, "MB", 1))
  }

  private def perLayer: Map[String, Map[String, Any]] = {
    val traced = ops.filter(o => o.traced && o.error.isEmpty).toSeq
    val gq = traced.filter(_.fe.isDefined)
    val fes = gq.flatMap(_.fe)
    val sparks = traced.flatMap(_.spark)
    def feMean(f: FrontEnd => Double) = metric(mean(fes.map(f)), "ms", fes.size)
    def sMean(f: SparkCounts => Double, unit: String) = metric(mean(sparks.map(f)), unit, sparks.size)
    val latSum = traced.map(_.latencyMs).sum
    val algo = Workloads.twins.flatMap { case (c, g) => Seq(c, g) }.map { n =>
      val xs = traced.filter(_.name == n).map(_.latencyMs / 1e3)
      s"algo.${n.replace("connected_components", "cc")}_s" ->
        metric(mean(xs), "s", xs.size)
    }.toMap
    val ratios = Workloads.twins.flatMap { case (c, g) =>
      val a = traced.filter(_.name == c).map(_.latencyMs)
      val b = traced.filter(_.name == g).map(_.latencyMs)
      if (a.nonEmpty && b.nonEmpty) Some(mean(a) / mean(b)) else None
    }
    val geo = if (ratios.isEmpty) 0.0 else math.exp(ratios.map(math.log).sum / ratios.size)
    val retRdds = retained()._2
    val tWalls = passes.collect { case (true, w) => w }.toSeq
    val uWalls = passes.collect { case (false, w) => w }.toSeq
    val drains = traced.map(_.drainMs)
    Map(
      "lang.lex_ms" -> feMean(_.lexMs),
      "lang.parse_ms" -> feMean(_.parseMs),
      "lang.normalize_ms" -> feMean(_.normalizeMs),
      "lang.params_ms" -> feMean(_.paramsMs),
      "lang.typecheck_ms" -> feMean(_.typecheckMs),
      "lang.ir_instrs" -> metric(mean(fes.map(_.irInstrs.toDouble)), "count", fes.size),
      "lang.frontend_share" -> metric({
        val f = fes.map(_.totalMs).sum
        val rest = gq.map(_.latencyMs).sum - f
        if (rest > 0) f / rest else 0.0
      }, "ratio", gq.size),
      "loader.load_ms" -> metric(coldSetup.get.loadMs, "ms", 1),
      "loader.warmup_ms" -> metric(coldSetup.get.warmupMs, "ms", 1),
      "loader.lid_store_built" -> metric(coldSetup.get.lidStoresBuilt.toDouble, "count", 1),
      "engine.run_ms" -> metric(mean(gq.map(_.runMs)), "ms", gq.size),
      "engine.run_jobs" -> metric(mean(gq.flatMap(_.spark).map(_.runJobs.toDouble)), "count", gq.size),
      "exec.action_ms" -> metric(mean(traced.map(_.actionMs)), "ms", traced.size),
      "exec.action_jobs" -> sMean(_.actionJobs.toDouble, "count"),
      "spark.jobs" -> sMean(_.jobs.toDouble, "count"),
      "spark.stages" -> sMean(_.stages.toDouble, "count"),
      "spark.tasks" -> sMean(_.tasks.toDouble, "count"),
      "spark.exchanges" -> sMean(_.exchanges.toDouble, "count"),
      "spark.shuffle_read_mb" -> sMean(_.shuffleReadBytes / 1e6, "MB"),
      "spark.shuffle_write_mb" -> sMean(_.shuffleWriteBytes / 1e6, "MB"),
      "spark.spill_mb" -> sMean(_.spillBytes / 1e6, "MB"),
      "spark.busy_ratio" -> metric(
        if (latSum > 0) sparks.map(_.taskRunMs.toDouble).sum / (latSum * cores) else 0.0,
        "ratio", sparks.size),
      "bridge.call_to_library_ratio" -> metric(geo, "ratio", ratios.size),
      "ckpt.drain_ms" -> metric(mean(drains), "ms", drains.size),
      "ckpt.retained_rdds" -> metric(retRdds.toDouble, "count", 1),
      "trace.overhead_pct" -> metric(
        if (uWalls.nonEmpty && tWalls.nonEmpty) (median(tWalls) / median(uWalls) - 1) * 100
        else 0.0, "%", tWalls.size + uWalls.size),
    ) ++ algo
  }

  private def spanJson(s: Span): String =
    Json.value(Map("name" -> s.name, "start" -> s.startMs, "end" -> s.endMs,
      "parent" -> s.parent, "op" -> s.op) ++ s.attrs)

  private def write(): Unit = {
    distinct.values.foreach { case (i, _, schema, rows, _) =>
      Files.write(out.resolve("results").resolve(s"$i.json"), Json.result(schema, rows).getBytes(UTF_8))
    }
    val oracles = distinct.values.map { case (i, op, _, _, _) => s"op$i" -> op.oracle }.toMap
    Files.write(out.resolve("oracle_sql.json"), Json.value(oracles).getBytes(UTF_8))
    val opsJson = ops.map(o => Map("id" -> o.id, "pass" -> o.pass, "name" -> o.name,
      "traced" -> o.traced, "latency_ms" -> o.latencyMs, "jobs" -> o.jobs, "run_jobs" -> o.runJobs,
      "result" -> o.result, "consistent" -> o.consistent, "error" -> o.error.orNull))
    val metrics = if (tracing) perLayer else endToEnd
    val report = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> tracing,
      "passes" -> passes.size,
      "timeline_s" -> timeline.toSeq.map { case (k, v) => Seq(k, v) },
      "metrics" -> metrics, "ops" -> opsJson)
    Files.write(out.resolve("report.json"), Json.value(report).getBytes(UTF_8))
    if (tracing) {
      val run = Span("run", epochMs(mainStart), epochMs(System.nanoTime()), null, -1,
        metrics.map { case (k, m) => k -> m("value") })
      val lines = (spans ++ probe.spans :+ run).map(spanJson)
      Files.write(out.resolve("trace.jsonl"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }
}
