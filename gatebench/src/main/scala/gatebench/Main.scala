package gatebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.functions.expr

import graft.{GraftSession, SparkEntry}
import graft.jobs.TeraSort
import graft.sources.TeraIO

/** The gate benchmark's JVM side: one process, one `local[cores]`
  * session, one client thread. It sets the workload up, times passes
  * for `--seconds`, checks every pass outside the timer and writes one
  * JSON record for `run.py`, which adds the DuckDB oracle replay and
  * prints the result line.
  *
  * Usage: Main --workload terasort|query_mix --seed N
  *   --seconds S --trace 0|1 --data DIR --work DIR --record FILE
  *   --cores N --clk-tck HZ [--rows N --parts N] [--lanes a,b,c]
  */
object Main {

  final case class Pass(label: String, wallS: Double, traced: Boolean, inputMb: Double,
                        var ok: Boolean = true, var error: String = "")

  final class Args(a: Array[String]) {
    private val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  def main(argv: Array[String]): Unit = {
    val args = new Args(argv)
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val data = args("data")
    val work = args("work")
    val cores = args("cores").toInt

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.build(cores.toString, Map(
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse"))
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val trace = new Trace(spark.sparkContext, s"$workload-$seed")
    if (traced) spark.sparkContext.addSparkListener(trace.listener)

    val w: Workload = workload match {
      case "terasort"  => new TeraSortWorkload(spark, work, seed, args("rows").toLong,
        args("parts").toInt)
      case "query_mix" => new QueryMixWorkload(spark, data, work, seed,
        args("lanes").split(",").toSeq, reps = if (traced) 2 else 1)
      case other       => sys.error(s"unknown workload $other")
    }
    val stageS = w.stage()
    val t0 = System.nanoTime()
    w.warmUp()
    val warmupS = (System.nanoTime() - t0) / 1e9

    val host0 = Host.sample()
    val passes = mutable.ArrayBuffer[Pass]()
    val storage = mutable.ArrayBuffer[(Int, Double)]()
    val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var codegenTraced = 0L
    val start = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - start) / 1e9 < seconds || !w.atBoundary(i)) {
      // the traced run interleaves untraced and traced passes, so the
      // tracing overhead compares like with like
      val tracedPass = traced && w.tracedSlot(i)
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val p = w.pass(i, if (tracedPass) Some(trace) else None)
      if (tracedPass) {
        codegenTraced += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
        // what the pass left persisted, before this loop's clearCache
        val rdds = spark.sparkContext.getPersistentRDDs.size
        val mb = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
        storage += ((rdds, mb))
      }
      spark.catalog.clearCache()
      passes += p
      i += 1
    }
    val measuredS = (System.nanoTime() - start) / 1e9
    // live heap after full collections once the timed loop is over: what
    // the engine retains across passes, unlike the GC-timing-dependent
    // resident peak. The second collection runs after the ContextCleaner
    // has dropped the broadcast and shuffle blocks the first one freed
    // the references to.
    System.gc()
    Thread.sleep(300)
    System.gc()
    val heapLiveMb = {
      val rt = Runtime.getRuntime
      (rt.totalMemory - rt.freeMemory) / 1e6
    }
    val host1 = Host.sample()
    val codegenAll = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0

    val layer: Map[String, Double] =
      if (traced) {
        val deadline = System.nanoTime() + 10L * 1000000000L
        while (!trace.drained && System.nanoTime() < deadline) Thread.sleep(20)
        val tp = passes.filter(_.traced)
        Layers.metrics(trace, passes.toSeq, storage.toSeq, codegenTraced, cores,
          tp.map(_.inputMb).sum / math.max(1, tp.size))
      } else Map.empty

    val rec = Json.obj(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "trace" -> traced,
      "session_s" -> sessionS, "stage_s" -> stageS, "warmup_s" -> warmupS,
      "measured_s" -> measuredS,
      "checks" -> w.checks.toSeq.map { case (k, v) =>
        Json.obj("name" -> k, "dir" -> v, "sql" -> SparkEntry.oracleSql.getOrElse(k, null)) },
      "passes" -> passes.toSeq.map(p => Json.obj("label" -> p.label, "wall_s" -> p.wallS,
        "traced" -> p.traced, "input_mb" -> p.inputMb, "ok" -> p.ok, "error" -> p.error)),
      "codegen_compiles" -> codegenAll,
      "host" -> Host.delta(host0, host1, args("clk-tck").toDouble),
      "peak_rss_mb" -> Host.peakRssMb, "heap_live_mb" -> heapLiveMb,
      "layer" -> layer,
      "spans" -> (if (traced) trace.snapshot.map(s => Json.obj("id" -> s.id, "name" -> s.name,
        "kind" -> s.kind, "parent" -> s.parent, "run" -> s.run, "start_ms" -> s.start,
        "end_ms" -> s.end)) else Seq.empty))
    Files.writeString(Paths.get(args("record")), Json.render(rec))
    spark.stop()
  }

  /** Order-independent checksum of a frame's rows, computed as the
    * frame's sink: every row is projected to its UnsafeRow bytes and
    * hashed, and the hashes are summed. Like the `noop` sink it consumes
    * every row without writing anything; unlike it, it leaves a value
    * the pass can be checked against outside the timer.
    */
  def rowChecksum(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      it.foreach { r => h += rowHash(proj(r)); n += 1 }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
  }

  def rowHash(u: UnsafeRow): Long =
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}"
}

/** One workload: staged inputs, a warm-up, and a unit of timed work. */
trait Workload {
  import Main.Pass

  /** Generates and stages inputs; returns the seconds of each attempt. */
  def stage(): Seq[Double]
  def warmUp(): Unit
  def pass(i: Int, trace: Option[Trace]): Pass
  /** The timed loop may stop before pass `i` (query_mix stops only on
    * whole sweeps, so every run times the same multiset of lanes). */
  def atBoundary(i: Int): Boolean = i > 0
  /** In a traced run, whether pass `i` is a traced one. */
  def tracedSlot(i: Int): Boolean = i % 2 == 1
  /** Reference outputs (name -> parquet dir) for the oracle replay. */
  def checks: Map[String, String] = Map.empty

  /** Span around `body` when the pass is traced, plain call otherwise. */
  protected def in[T](trace: Option[Trace], name: String, kind: String = "call")(body: => T): T =
    trace match {
      case Some(t) => t.span(name, kind)(body)
      case None    => body
    }
}

/** 100-byte records sorted disk to disk: TeraIO.read -> TeraSort.teraSort
  * -> TeraIO.write per pass, TeraValidate after the timer.
  */
final class TeraSortWorkload(spark: SparkSession, work: String, seed: Long,
                             rows: Long, parts: Int) extends Workload {
  import Main.{Pass, describe}
  private val inDir = s"$work/tera-in"
  private val outDir = s"$work/tera-out"
  private val inputMb = rows * TeraIO.RecordLength / 1e6
  private var inputChecksum = 0L

  def stage(): Seq[Double] = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    TeraIO.delete(spark, inDir)
    // TeraGen's record law over a seed-chosen id range: the seed picks
    // which keys exist, the md5 law keeps them uniform
    val base = (seed & 0xffffffL) * rows
    val gen = spark.range(base, base + rows, 1, parts).select(
      expr("substring(unhex(md5(cast(id as string))), 1, 10)").as("key"),
      expr("unhex(substring(repeat(md5(concat('v:', cast(id as string))), 6), 1, 180))")
        .as("value"))
    TeraIO.write(gen, inDir)
    inputChecksum = TeraSort.teraChecksum(TeraIO.read(spark, inDir))
    (System.nanoTime() - t0) / 1e9
  }

  private def sortOnce(trace: Option[Trace]): Unit = {
    TeraIO.delete(spark, outDir)
    val records = in(trace, "sources.TeraIO.read")(TeraIO.read(spark, inDir))
    val sorted = in(trace, "jobs.TeraSort.sort")(TeraSort.teraSort(records, parts))
    in(trace, "sources.TeraIO.write")(TeraIO.write(sorted, outDir))
  }

  // two untimed sorts: pass times keep falling through the first few
  // as the JIT warms
  def warmUp(): Unit = (1 to 2).foreach { _ => sortOnce(None); check(None) }

  /** TeraValidate's law: global order, row count, bytes = rows x 100 and
    * the output XOR checksum equal to the input's. */
  private def check(trace: Option[Trace]): Option[String] = {
    val (ordered, count, cs) = in(trace, "jobs.TeraSort.validate")(
      TeraSort.teraValidateChecksum(TeraIO.read(spark, outDir)))
    val bytes = TeraIO.dataBytes(spark, outDir)
    TeraIO.delete(spark, outDir)
    if (ordered && count == rows && bytes == rows * TeraIO.RecordLength && cs == inputChecksum) None
    else Some(s"TeraValidate: ordered=$ordered rows=$count/$rows bytes=$bytes " +
      s"checksum=$cs/$inputChecksum")
  }

  def pass(i: Int, trace: Option[Trace]): Pass = {
    var p: Pass = null
    try {
      val t0 = System.nanoTime()
      in(trace, "pass", "pass")(sortOnce(trace))
      p = Pass("terasort", (System.nanoTime() - t0) / 1e9, trace.isDefined, inputMb)
      check(trace).foreach { err => p.ok = false; p.error = err }
    } catch {
      case NonFatal(e) =>
        if (p == null) p = Pass("terasort", Double.NaN, trace.isDefined, inputMb)
        p.ok = false; p.error = describe(e)
    }
    p
  }
}

/** Closed loop, one client: canned engine jobs in a seeded order, whole
  * sweeps. Each job is checked against a reference output that
  * `run.py` replays against the lane's DuckDB oracle. With `reps` = 2
  * (the traced run) each job runs twice in a row, once untraced and
  * once traced, so the tracing overhead is paired by lane; which of the
  * two goes first alternates from job to job, so neither side always
  * gets the warmer second slot.
  */
final class QueryMixWorkload(spark: SparkSession, data: String, work: String,
                             seed: Long, lanes: Seq[String], reps: Int) extends Workload {
  import Main.{Pass, describe, rowChecksum, rowHash}
  private val reference = mutable.LinkedHashMap[String, (Long, Long)]()
  private val refDirs = mutable.LinkedHashMap[String, String]()
  private val laneInputMb = mutable.HashMap[String, Double]()
  private val warmErrors = mutable.HashMap[String, String]()
  private val rng = new scala.util.Random(seed)
  private var order: Seq[String] = Seq.empty
  private val sweep = lanes.size * reps

  private def spanNames(lane: String): (String, String) =
    if (lane == "pipeline_e2e") ("jobs.TrainingPipeline.run", "jobs.TrainingPipeline.sink")
    else (s"queries.$lane.build", s"queries.$lane.action")

  def stage(): Seq[Double] = Seq.empty

  // each lane twice: its second run is still ~20% slower than later ones
  def warmUp(): Unit = lanes.foreach { l => warmLane(l); runLane(l, None) }

  override def atBoundary(i: Int): Boolean = i > 0 && i % sweep == 0
  override def tracedSlot(i: Int): Boolean = (i / reps + i) % 2 == 1

  def pass(i: Int, trace: Option[Trace]): Pass = {
    if (i % sweep == 0) order = rng.shuffle(lanes)
    runLane(order((i % sweep) / reps), trace)
  }

  override def checks: Map[String, String] = refDirs.toMap

  /** Untimed first run of a lane, through the same sink the timed
    * passes use: it warms the lane's plans, records the reference
    * checksum and writes the rows the oracle replay reads. */
  private def warmLane(lane: String): Unit = {
    laneInputMb(lane) = 0.0
    try {
      val df = SparkEntry.queries(lane)(spark, data)
      // bytes of the files the plan scans (a pinned plan scans none)
      laneInputMb(lane) = df.inputFiles.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum / 1e6
      val schema = df.schema
      val rows = df.queryExecution.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        it.map(r => proj(r).copy())
      }.collect()
      reference(lane) = (rows.length.toLong, rows.map(rowHash).sum)
      val toRow = ExpressionEncoder(RowEncoder.encoderFor(schema)).resolveAndBind().createDeserializer()
      val dir = s"$work/check/$lane"
      spark.createDataFrame(rows.toSeq.map(toRow).asJava, schema).write.parquet(dir)
      refDirs(lane) = dir
    } catch {
      // the lane's timed passes then fail with this message
      case NonFatal(e) => warmErrors(lane) = s"warm-up: ${describe(e)}"
    }
    spark.catalog.clearCache()
  }

  private def runLane(lane: String, trace: Option[Trace]): Pass = {
    val (build, action) = spanNames(lane)
    var p: Pass = null
    try {
      val t0 = System.nanoTime()
      val cs = in(trace, "pass", "pass") {
        val df = in(trace, build)(SparkEntry.queries(lane)(spark, data))
        in(trace, action)(rowChecksum(df))
      }
      p = Pass(lane, (System.nanoTime() - t0) / 1e9, trace.isDefined, laneInputMb(lane))
      if (warmErrors.contains(lane)) {
        p.ok = false
        p.error = warmErrors(lane)
      } else if (cs != reference(lane)) {
        p.ok = false
        p.error = s"checksum (rows, hash) $cs != reference ${reference(lane)}"
      }
    } catch {
      case NonFatal(e) =>
        if (p == null) p = Pass(lane, Double.NaN, trace.isDefined, laneInputMb(lane))
        p.ok = false; p.error = describe(e)
    }
    p
  }
}
