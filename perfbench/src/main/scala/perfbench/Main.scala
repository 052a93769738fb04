package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark driver. One process, one Spark session on local[nproc].
  *
  * Untraced (`--trace 0`): set up the named workload several times
  * (median reported), warm it up with untimed passes, then run passes
  * back to back for `--seconds` of pass time, checking outputs between
  * passes. Prints the end-to-end metrics.
  *
  * Traced (`--trace 1`): every workload, each warmed up as above and
  * then run for a third of `--seconds`, alternating untraced and traced
  * passes. Prints the per-layer metrics of all workloads and writes the
  * spans to a file.
  *
  * The last stdout line is the JSON result; lines before it are the
  * human-readable report. */
object Main {
  val Workloads = Seq("chess_batch", "chess_live", "corpus_dedup")
  /** Seed kept out of tuning: a performance claim must also hold on it. */
  val HeldOutSeed = 7919L
  private val Setups = 3

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, tiny: Boolean, out: Path)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val o = Opts(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1",
      m.get("--scale").contains("tiny"), Paths.get(need("--out")))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds > 0, "--seconds must be positive")
    o
  }

  private def make(name: String, ctx: Ctx): Workload = name match {
    case "chess_batch" => new ChessBatch(ctx)
    case "chess_live" => new ChessLive(ctx)
    case "corpus_dedup" => new CorpusDedup(ctx)
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = osBean.getProcessCpuTime
  private val jitBean = ManagementFactory.getCompilationMXBean
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  /** Milliseconds the JIT compilers and the collectors have spent so far:
    * both count into process CPU, so they tell whether a slow run was
    * still compiling or collecting. */
  private def jitMs(): Long = jitBean.getTotalCompilationTime
  private def gcMs(): Long = {
    var t = 0L
    gcBeans.forEach(b => t += math.max(b.getCollectionTime, 0L))
    t
  }

  /** (steal, total) jiffies of the machine from /proc/stat; zeros where
    * the file does not exist. Steal is time the hypervisor gave this
    * machine's CPUs to someone else. */
  private def machineJiffies(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) (0L, 0L)
    else {
      val v = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    }
  }

  /** What one workload's measured passes produced. */
  final class Run(val w: Workload) {
    var setupS = 0.0
    var prepS = Seq.empty[Double]
    var warmS = 0.0
    var checkS = 0.0
    var attempted = 0L
    var failed = 0L
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    var cpuS = 0.0
    var wallS = 0.0
    var jitS = 0.0
    var gcS = 0.0
    /** Process CPU seconds of each untraced timed pass. */
    val untracedCpu = mutable.ArrayBuffer.empty[Double]
    var lastCpuS = 0.0
    var stealJ = 0L
    var totalJ = 0L
    def stealFrac: Double = if (totalJ > 0) stealJ.toDouble / totalJ else 0.0
    var tracer: Tracer = _
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val failures = mutable.ArrayBuffer.empty[String]
  }

  def main(args: Array[String]): Unit = {
    val opts = try parse(args) catch {
      case e: Exception =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors
    val master = s"local[$nproc]"
    val work = opts.out.resolve(s"work-${ProcessHandle.current.pid}")
    Fs.rm(work)
    Files.createDirectories(work)
    // the session the repository's own bench and verify mains build
    val spark = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = Ctx(spark, opts.seed, opts.tiny, nproc, work)
    val names = if (opts.trace) Workloads else Seq(opts.workload)
    val share = opts.seconds / names.size
    try {
      val runs = names.map(n => runWorkload(make(n, ctx), ctx, opts.trace, share))
      val env = Seq("nproc" -> nproc, "master" -> master, "seed" -> opts.seed,
        "held_out_seed" -> HeldOutSeed, "scale" -> (if (opts.tiny) "tiny" else "default"),
        "seconds" -> opts.seconds, "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "session_start_s" -> sessionS)
      val (metrics, doc) =
        if (opts.trace) traceResult(runs)
        else endToEnd(runs.head, sessionS)
      val attempted = runs.map(_.attempted).sum
      val failed = runs.map(_.failed).sum
      val file = opts.out.resolve(
        s"${if (opts.trace) "trace" else "result"}-${opts.workload}-seed${opts.seed}.json")
      Files.writeString(file, Json.write(Map(
        "env" -> Json.obj(env),
        "workloads" -> runs.map(r => Json.obj(Seq(
          "name" -> r.w.name, "sizes" -> Json.obj(r.w.sizes),
          "attempted" -> r.attempted, "failed" -> r.failed,
          "failures" -> r.failures.toSeq,
          "untraced_pass_s" -> r.untraced.toSeq, "traced_pass_s" -> r.traced.toSeq,
          "prepare_s" -> r.prepS, "warmup_s" -> r.warmS, "check_s" -> r.checkS,
          "cpu_per_wall" -> r.cpuS / r.wallS, "steal_frac" -> r.stealFrac,
          "jit_s" -> r.jitS, "gc_s" -> r.gcS))),
        "wall_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3,
        "metrics" -> metricsJson(metrics)) ++ doc) + "\n")

      println(s"perfbench ${env.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
      runs.foreach { r =>
        println(s"${r.w.name} sizes: ${r.w.sizes.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
        println(f"${r.w.name}.cpu_per_wall = ${r.cpuS / r.wallS}%.3f (process CPU s per wall s over passes)")
        println(f"${r.w.name}.steal_frac = ${r.stealFrac}%.4f (machine CPU time stolen by the hypervisor over passes)")
        println(f"${r.w.name}.jit_s = ${r.jitS}%.3f, gc_s = ${r.gcS}%.3f (JIT compilation and GC time over passes)")
        println(f"${r.w.name}.failed_frac = ${r.failed.toDouble / r.attempted}%.4f " +
          s"(${r.failed} of ${r.attempted} operations) " +
          s"output checks: ${if (r.failed == 0) "PASS" else "FAIL"}")
        r.failures.take(10).foreach(f => println(s"${r.w.name} check failed: $f"))
      }
      metrics.foreach { case (k, (v, u)) => println(s"$k = $v $u") }
      println(s"details: ${opts.out.getFileName}/${file.getFileName}")
      println(Json.write(Json.obj(Seq(
        "correct" -> (failed == 0),
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> metricsJson(metrics)))))
    } finally {
      spark.stop()
      Fs.rm(work)
    }
  }

  private def runWorkload(w: Workload, ctx: Ctx, trace: Boolean,
      seconds: Double): Run = {
    val r = new Run(w)
    val spark = ctx.spark
    val base = ctx.work.resolve(w.name)
    def prepare(i: Int): Double = {
      if (i > 1) Fs.rm(base.resolve(s"setup-${i - 1}"))
      val t0 = System.nanoTime()
      w.prepare(base.resolve(s"setup-$i"))
      (System.nanoTime() - t0) / 1e9
    }
    val off = new Tracer(spark, enabled = false)
    def checked(t: Tracer): Double = {
      val c0 = cpuNs()
      val j0 = jitMs()
      val g0 = gcMs()
      val (st0, tot0) = machineJiffies()
      val t0 = System.nanoTime()
      w.pass(t)
      val s = (System.nanoTime() - t0) / 1e9
      r.lastCpuS = (cpuNs() - c0) / 1e9
      r.cpuS += r.lastCpuS
      r.jitS += (jitMs() - j0) / 1e3
      r.gcS += (gcMs() - g0) / 1e3
      val (st1, tot1) = machineJiffies()
      r.stealJ += st1 - st0
      r.totalJ += tot1 - tot0
      r.wallS += s
      val c1 = System.nanoTime()
      val (f, msgs) = w.check()
      t.release()
      r.checkS += (System.nanoTime() - c1) / 1e9
      r.attempted += w.opsPerPass
      r.failed += f
      r.failures ++= msgs
      s
    }
    // the warm-up runs on the first set-up's inputs, so the later
    // set-ups run warm too
    val first = prepare(1)
    val w0 = System.nanoTime()
    (1 to w.warmups).foreach(_ => checked(off))
    r.warmS = (System.nanoTime() - w0) / 1e9
    r.prepS = first +: (2 to (if (trace) 1 else Setups)).map(prepare)
    r.setupS = Stats.median(r.prepS) + r.warmS
    r.cpuS = 0; r.wallS = 0; r.checkS = 0; r.stealJ = 0; r.totalJ = 0
    r.jitS = 0; r.gcS = 0

    if (!trace) {
      var used = 0.0
      while (r.untraced.isEmpty || used < seconds) {
        val s = checked(off)
        r.untraced += s
        r.untracedCpu += r.lastCpuS
        used += s
      }
    } else {
      r.tracer = new Tracer(spark, enabled = true)
      var used = 0.0
      while (r.traced.isEmpty || used < seconds) {
        val u = checked(off)
        r.untraced += u
        val s = checked(r.tracer)
        r.traced += s
        r.tracer.collectCounters()
        val root = r.tracer.spans.filter(s => s.name == "pass" && s.parent < 0).last
        r.layers += spanMetrics(r.tracer, root, w) ++ w.layerMetrics(r.tracer, root)
        used += u + s
      }
      r.tracer.stop()
    }
    r
  }

  /** Self time and Spark counters of each of the workload's spans, summed
    * over the span's occurrences directly under `root`. */
  private def spanMetrics(t: Tracer, root: Span, w: Workload): Map[String, Double] =
    w.spanNames.flatMap { n =>
      val ss = t.spans.filter(s => s.parent == root.id && s.name == n)
      val c = new Counters
      ss.foreach(s => c.add(s.counters))
      Seq(s"${n}_s" -> ss.map(t.selfSeconds).sum,
        s"$n.jobs" -> c.jobs.toDouble,
        s"$n.cpu_s" -> c.cpuNs / 1e9,
        s"$n.shuffle_bytes" -> c.shuffleBytes.toDouble,
        s"$n.spill_bytes" -> c.spillBytes.toDouble)
    }.toMap

  type Metrics = Seq[(String, (Double, String))]

  private def metricsJson(m: Metrics): Json.Obj =
    Json.obj(m.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> v, "unit" -> u)) })

  private def endToEnd(r: Run, sessionS: Double): (Metrics, Map[String, Any]) = {
    val p50 = Stats.median(r.untraced.toSeq)
    // one client in a closed loop: throughput is one pass's items over the
    // median pass, which a single pass slowed by other load does not move
    val perSecond = r.w.itemsPerPass / p50
    val metrics: Metrics = Seq(
      "setup_s" -> (sessionS + r.setupS, "s"),
      "items_per_s" -> (perSecond, "1/s"),
      "cpu_ms_per_item" ->
        (Stats.median(r.untracedCpu.toSeq) * 1e3 / r.w.itemsPerPass, "ms"))
    val perItem = if (r.w.name == "corpus_dedup") "docs_per_s" else "games_per_s"
    val named = Seq(perItem -> (perSecond, "1/s"), "pass_p50_s" -> (p50, "s")) ++
      r.w.report().map { case (k, v, u) => k -> (v, u) }
    named.foreach { case (k, (v, u)) => println(s"${r.w.name}.$k = $v $u") }
    (metrics, Map("passes" -> r.untraced.size,
      "report" -> metricsJson(named.map { case (k, vu) => s"${r.w.name}.$k" -> vu })))
  }

  private def traceResult(runs: Seq[Run]): (Metrics, Map[String, Any]) = {
    val metrics: Metrics = runs.flatMap { r =>
      val keys = r.layers.head.keys.toSeq.sorted
      val layer = keys.map(k => s"${r.w.name}.$k" ->
        (Stats.median(r.layers.map(_(k)).toSeq), unitOf(k)))
      val roots = r.tracer.spans.filter(s => s.name == "pass" && s.parent < 0)
      val unattributed = roots.map(s => r.tracer.selfSeconds(s) / s.seconds)
      layer ++ Seq(
        s"${r.w.name}.trace.overhead_s" ->
          (Stats.median(r.traced.toSeq) - Stats.median(r.untraced.toSeq), "s"),
        s"${r.w.name}.trace.unattributed_frac" ->
          (Stats.median(unattributed.toSeq), "ratio"),
        s"${r.w.name}.trace.cpu_per_wall" -> (r.cpuS / r.wallS, "ratio"))
    }
    // informational: a "no" is reported, not counted as a failed operation
    val coverage = runs.map { r =>
      val tu = Stats.median(r.untraced.toSeq)
      val tt = Stats.median(r.traced.toSeq)
      val roots = r.tracer.spans.filter(s => s.name == "pass" && s.parent < 0)
      val covered = Stats.median(roots.map(s => s.seconds - r.tracer.selfSeconds(s)).toSeq)
      val within = math.abs(covered - tu) <= math.abs(tt - tu)
      println(f"${r.w.name}: layer spans' self times cover $covered%.3f s of the " +
        f"traced pass ($tt%.3f s); untraced pass $tu%.3f s; tracing overhead " +
        f"${tt - tu}%.3f s; covered within the overhead of untraced: " +
        (if (within) "yes" else "no") + " (informational)")
      r.w.name -> Json.obj(Seq("covered_s" -> covered, "traced_pass_s" -> tt,
        "untraced_pass_s" -> tu, "within_overhead" -> within))
    }
    val spans = runs.map { r =>
      val t0 = r.tracer.spans.headOption.map(_.startNs).getOrElse(0L)
      r.w.name -> r.tracer.spans.toSeq.map { s =>
        Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
          "self_s" -> r.tracer.selfSeconds(s), "jobs" -> s.counters.jobs,
          "cpu_s" -> s.counters.cpuNs / 1e9,
          "shuffle_bytes" -> s.counters.shuffleBytes,
          "spill_bytes" -> s.counters.spillBytes,
          "output_bytes" -> s.counters.outputBytes, "rows" -> s.rows.toSeq))
      }
    }.toMap
    (metrics, Map("spans" -> spans, "coverage" -> Json.obj(coverage)))
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_ms")) "ms" else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_bytes") || k.endsWith("bytes_per_game")) "B"
    else if (k.endsWith(".jobs")) "count"
    else "ratio"
}

/** Minimal JSON writer (maps keep insertion order when given a Seq). */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: Seq[(String, Any)]): Obj = Obj(fields)

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case Obj(fs) => fs.map { case (k, x) => s"${str(k)}: ${write(x)}" }.mkString("{", ", ", "}")
    case m: Map[_, _] => write(Obj(m.toSeq.map { case (k, x) => k.toString -> x }))
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "non-finite number in JSON output")
      d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(write).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
