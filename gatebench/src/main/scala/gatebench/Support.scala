package gatebench

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.metrics.source.CodegenMetrics

import Main.Pass

/** Per-layer metrics of a traced run. Times are means per traced pass
  * unless the name says otherwise; a span that never opened reads 0.
  */
object Layers {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Length of the union of intervals. */
  def union(ivs: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var (cs, ce) = (0.0, 0.0)
    var first = true
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (first) { cs = a; ce = b; first = false }
      else if (a > ce) { covered += ce - cs; cs = a; ce = b }
      else if (b > ce) ce = b
    }
    if (first) 0.0 else covered + ce - cs
  }

  def metrics(trace: Trace, passes: Seq[Pass], storage: Seq[(Int, Double)],
              codegenCompiles: Long, cores: Int, inputMbPerPass: Double): Map[String, Double] = {
    val all = trace.snapshot
    val roots = all.filter(s => s.kind == "pass" && s.end > 0)
    val n = math.max(1, roots.size).toDouble
    val byId = all.map(s => s.id -> s).toMap
    def rootOf(s: Span): Option[Span] =
      if (s.kind == "pass") Some(s) else byId.get(s.parent).flatMap(rootOf)
    val under = all.filter(s => s.kind != "pass" && rootOf(s).exists(r => roots.contains(r)))
    val wallMs = roots.map(s => s.end - s.start).sum
    val self = Trace.selfTimes(all, roots)
    def selfOf(kind: String) = all.filter(_.kind == kind).map(s => self.getOrElse(s.id, 0.0)).sum

    val jobs = under.filter(_.kind == "job")
    val jobWindow = roots.map { r =>
      union(jobs.filter(j => rootOf(j).contains(r)).map(j => (math.max(j.start, r.start),
        math.min(if (j.end < 0) r.end else j.end, r.end))).filter(iv => iv._2 > iv._1))
    }.sum
    val stages = trace.stagesUnder(all, roots.map(_.id).toSet)
    def sum(f: StageStats => Double) = stages.map(f).sum
    val runMs = sum(_.runMs.toDouble)
    val cpuS = sum(_.cpuNs / 1e9)
    val inMb = sum(_.inputBytes / 1e6)
    val outMb = sum(_.outputBytes / 1e6)
    val shufW = sum(_.shuffleWriteBytes / 1e6)

    // calls: mean duration per occurrence, whether inside a pass or not
    val calls = all.filter(s => s.kind == "call" && s.end > 0).groupBy(_.name).map {
      case (name, ss) => s"${name}_s" -> ss.map(s => s.end - s.start).sum / ss.size / 1e3
    }
    // pipeline pins, grouped by their job description
    val pins = jobs.filter(_.name.startsWith("pipeline pin: ")).groupBy(_.name.stripPrefix("pipeline pin: "))
      .flatMap { case (label, js) => Seq(
        s"jobs.TrainingPipeline.$label.jobs" -> js.size / n,
        s"jobs.TrainingPipeline.$label.wall_s" -> js.map(j => j.end - j.start).sum / n / 1e3)
      }
    // tracing overhead: per label, median traced wall vs median untraced
    val labels = passes.map(_.label).distinct
    def medOf(l: String, t: Boolean) = median(passes.filter(p => p.label == l && p.traced == t && p.ok).map(_.wallS))
    val pairs = labels.map(l => (medOf(l, true), medOf(l, false))).filter { case (a, b) => !a.isNaN && !b.isNaN }
    val overhead = 100.0 * (pairs.map(_._1).sum / pairs.map(_._2).sum - 1.0)
    // layer self times of each traced pass (roots are opened in pass
    // order), per label at their median, against the median untraced
    // wall: the self times account for a whole pass of the untraced
    // workload only if no layer is missed and tracing costs little
    val selfByRoot = all.groupBy(s => rootOf(s).map(_.id)).collect {
      case (Some(r), ss) => r -> ss.map(s => self.getOrElse(s.id, 0.0)).sum / 1e3
    }
    val selfByLabel = roots.zip(passes.filter(_.traced)).collect {
      case (r, p) if p.ok => p.label -> selfByRoot.getOrElse(r.id, 0.0)
    }.groupMap(_._1)(_._2)
    val selfPairs = selfByLabel.toSeq.map { case (l, xs) => (median(xs), medOf(l, false)) }
      .filter { case (a, b) => !a.isNaN && !b.isNaN }
    val selfSumPct = 100.0 * selfPairs.map(_._1).sum / selfPairs.map(_._2).sum
    val compileMeanMs = Try(CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean).getOrElse(0.0)

    calls ++ pins ++ Map(
      "trace.wall_s" -> wallMs / n / 1e3,
      "trace.passes" -> roots.size.toDouble,
      "trace.overhead_pct" -> overhead,
      "trace.self_sum_pct" -> selfSumPct,
      "self.harness_s" -> selfOf("pass") / n / 1e3,
      "self.driver_s" -> selfOf("call") / n / 1e3,
      "self.scheduler_s" -> selfOf("job") / n / 1e3,
      "self.executor_s" -> selfOf("stage") / n / 1e3,
      "spark.driver.gap_s" -> (wallMs - jobWindow) / n / 1e3,
      "spark.driver.jobs" -> jobs.size / n,
      "spark.driver.stages" -> stages.size / n,
      "spark.driver.tasks" -> sum(_.tasks.toDouble) / n,
      "spark.driver.untagged_jobs" -> trace.untaggedJobs / n,
      "spark.sched.delay_s" -> trace.schedDelayMs(stages.map(_.stageId).toSet) / n / 1e3,
      "spark.exec.run_s" -> runMs / n / 1e3,
      "spark.exec.cpu_s" -> cpuS / n,
      "spark.exec.gc_s" -> sum(_.gcMs.toDouble) / n / 1e3,
      "spark.exec.deser_s" -> sum(_.deserMs.toDouble) / n / 1e3,
      "spark.exec.failed_tasks" -> trace.failedTasks(stages.map(_.stageId).toSet).toDouble,
      "spark.exec.busy_ratio" -> runMs / (wallMs * cores),
      "spark.exec.cpu_per_run" -> (if (runMs > 0) cpuS * 1e3 / runMs else 0.0),
      "spark.shuffle.write_mb" -> shufW / n,
      "spark.shuffle.write_s" -> sum(_.shuffleWriteNs / 1e9) / n,
      "spark.shuffle.read_mb" -> sum(_.shuffleReadBytes / 1e6) / n,
      "spark.shuffle.fetch_wait_s" -> sum(_.fetchWaitMs.toDouble) / n / 1e3,
      "spark.shuffle.spill_mb" -> sum(_.spillBytes / 1e6) / n,
      "spark.shuffle.write_per_input" -> (if (inputMbPerPass > 0) shufW / n / inputMbPerPass else 0.0),
      "spark.codegen.compiles" -> codegenCompiles / n,
      "spark.codegen.compile_s" -> codegenCompiles * compileMeanMs / n / 1e3,
      "spark.storage.leftover_rdds" -> storage.map(_._1.toDouble).sum / n,
      "spark.storage.leftover_mb" -> storage.map(_._2).sum / n,
      "sources.input_mb" -> inMb / n,
      "sources.output_mb" -> outMb / n,
      "sources.output_per_input" -> (if (inMb > 0) outMb / inMb else 0.0))
  }
}

/** Host contention evidence from /proc, sampled around the timed loop.
  * It explains a stalled run; it never discards one. */
object Host {
  final case class Sample(ms: Long, busyJiffies: Long, selfJiffies: Long,
                          ioTicks: Map[String, Long], probeMs: Double)

  @volatile private var probeSink = 0L

  /** Median time of a fixed single-thread integer loop. It moves when
    * the host runs this process's threads slower (a busy sibling
    * hyperthread, CPU throttling), which steal and load do not show. */
  def cpuProbeMs(): Double = Layers.median((1 to 5).map { _ =>
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    probeSink += x
    (System.nanoTime() - t0) / 1e6
  })

  private def read(p: String): String = Try(Files.readString(Paths.get(p))).getOrElse("")

  def sample(): Sample = {
    val cpu = read("/proc/stat").linesIterator.nextOption().getOrElse("")
      .split("\\s+").drop(1).flatMap(s => Try(s.toLong).toOption)
    // user nice system idle iowait irq softirq steal: busy = all - idle - iowait
    val busy = if (cpu.length >= 8) cpu.take(8).sum - cpu(3) - cpu(4) else 0L
    val self = read("/proc/self/stat").split("\\) ").lift(1).map(_.split(" "))
      .map(f => Try(f(11).toLong + f(12).toLong).getOrElse(0L)).getOrElse(0L)
    val io = read("/proc/diskstats").linesIterator.map(_.trim.split("\\s+")).collect {
      case f if f.length > 12 && !f(2).startsWith("loop") && !f(2).startsWith("ram") =>
        f(2) -> Try(f(12).toLong).getOrElse(0L)
    }.toMap
    Sample(System.currentTimeMillis(), busy, self, io, cpuProbeMs())
  }

  def delta(a: Sample, b: Sample, clkTck: Double): Map[String, Double] = {
    val dtS = math.max(1L, b.ms - a.ms) / 1e3
    val other = ((b.busyJiffies - a.busyJiffies) - (b.selfJiffies - a.selfJiffies)) / clkTck / dtS
    val disk = (b.ioTicks.keySet intersect a.ioTicks.keySet).toSeq
      .map(d => (b.ioTicks(d) - a.ioTicks(d)) / (dtS * 1e3)).maxOption.getOrElse(0.0)
    val load = read("/proc/loadavg").split(" ").headOption.flatMap(s => Try(s.toDouble).toOption)
    Map("host.loadavg" -> load.getOrElse(0.0), "host.other_cores" -> math.max(0.0, other),
      "host.disk_util" -> math.min(1.0, disk), "host.cpu_probe_ms" -> (a.probeMs + b.probeMs) / 2)
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .flatMap(l => Try(l.split("\\s+")(1).toDouble / 1024).toOption).getOrElse(0.0)
}

/** A minimal JSON writer for the run record. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = kv.toMap

  private def str(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } match { case q => "\"" + q + "\"" }

  def render(v: Any): String = v match {
    case null              => "null"
    case s: String         => str(s)
    case b: Boolean        => b.toString
    case d: Double         => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int            => n.toString
    case n: Long           => n.toString
    case m: Map[_, _]      => m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]   => xs.map(render).mkString("[", ",", "]")
    case other             => str(other.toString)
  }
}
