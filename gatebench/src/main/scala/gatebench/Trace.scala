package gatebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `kind` is the layer it belongs to: "pass" (the
  * harness loop), "call" (a call into a public engine function), "job"
  * and "stage" (Spark, from the listener). Times are epoch milliseconds
  * as doubles, the clock Spark's listener events use.
  */
final case class Span(id: Long, name: String, kind: String, parent: Long,
                      run: String, start: Double, var end: Double = -1.0)

/** Per-stage counters taken from the stage's aggregated task metrics. */
final case class StageStats(stageId: Int, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                            deserMs: Long, shuffleWriteBytes: Long,
                            shuffleWriteNs: Long, shuffleReadBytes: Long,
                            fetchWaitMs: Long, spillBytes: Long,
                            inputBytes: Long, outputBytes: Long)

/** Spans kept in memory and written once at the end of the run.
  *
  * Benchmark spans are opened around calls into the engine; Spark jobs
  * are tied to the open span through the `gatebench.span` local
  * property, so a job's parent is the call that issued it. Jobs started
  * on other threads (which do not inherit the property) are parented to
  * the pass whose window holds their start.
  */
final class Trace(sc: SparkContext, val run: String) {
  val SpanProp = "gatebench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private val passes = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private val stack = mutable.Stack[Span]()

  val stageStats = mutable.HashMap[Int, StageStats]()
  private val stageParent = mutable.HashMap[Int, Long]()
  private val jobSpans = mutable.HashMap[Int, Span]()
  private val stageSchedMs = mutable.HashMap[Int, Long]().withDefaultValue(0L)
  private val stageFailed = mutable.HashMap[Int, Long]().withDefaultValue(0L)
  var untaggedJobs = 0L

  def schedDelayMs(stages: Set[Int]): Long = synchronized(stages.toSeq.map(stageSchedMs).sum)
  def failedTasks(stages: Set[Int]): Long = synchronized(stages.toSeq.map(stageFailed).sum)

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  /** Runs `body` inside a span named `name`; while it runs, jobs it
    * submits on this thread carry the span id.
    */
  def span[T](name: String, kind: String = "call")(body: => T): T = {
    val s = synchronized {
      val parent = stack.headOption.map(_.id).getOrElse(0L)
      val sp = Span(nextId, name, kind, parent, run, nowMs)
      nextId += 1
      spans += sp
      if (kind == "pass") passes += sp
      sp
    }
    stack.push(s)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = nowMs
      stack.pop()
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
    }
  }

  private def addSpan(name: String, kind: String, parent: Long, start: Double): Span =
    synchronized {
      val sp = Span(nextId, name, kind, parent, run, start)
      nextId += 1
      spans += sp
      sp
    }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      val parent = tag.map(_.toLong).getOrElse {
        // not issued from the tracing thread: parent it to the pass
        // whose window holds the job start, if a traced pass is open
        synchronized {
          passes.reverseIterator.find(s => s.start <= e.time &&
            (s.end < 0 || s.end >= e.time)).map(_.id).getOrElse(-1L)
        }
      }
      if (parent >= 0) synchronized {
        if (tag.isEmpty) untaggedJobs += 1
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val js = addSpan(desc, "job", parent, e.time.toDouble)
        jobSpans(e.jobId) = js
        e.stageIds.foreach(id => stageParent(id) = js.id)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpans.remove(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      stageParent.get(si.stageId).foreach { parent =>
        for (a <- si.submissionTime; b <- si.completionTime) {
          val st = addSpan(si.name.linesIterator.nextOption().getOrElse(""), "stage",
            parent, a.toDouble)
          st.end = b.toDouble
        }
        val m = si.taskMetrics
        if (m != null) stageStats(si.stageId) = StageStats(si.stageId, si.numTasks,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.executorDeserializeTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.writeTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stageParent.contains(e.stageId)) {
        val ti = e.taskInfo
        if (!ti.successful) stageFailed(e.stageId) += 1
        val m = e.taskMetrics
        if (m != null) {
          // the Spark UI's scheduler delay: task wall minus the parts
          // the executor accounts for
          val gettingResult =
            if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
          stageSchedMs(e.stageId) += math.max(0L, ti.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        }
      }
    }
  }

  /** True once every job the listener saw start has also ended. */
  def drained: Boolean = synchronized(jobSpans.isEmpty)

  def snapshot: Vector[Span] = synchronized(spans.toVector)

  /** Stage ids whose parent job hangs under `passIds`. */
  def stagesUnder(all: Vector[Span], passIds: Set[Long]): Seq[StageStats] = synchronized {
    val byId = all.map(s => s.id -> s).toMap
    def rootOf(s: Span): Long =
      if (s.kind == "pass" || !byId.contains(s.parent)) s.id else rootOf(byId(s.parent))
    val jobsIn = all.filter(s => s.kind == "job" && passIds.contains(rootOf(s))).map(_.id).toSet
    stageParent.collect { case (stage, job) if jobsIn.contains(job) => stage }
      .flatMap(stageStats.get).toSeq
  }
}

object Trace {

  /** Self time of every span under each root, in ms: at each instant
    * of a root's window the innermost open spans share the instant
    * equally, so the self times under a root sum to its duration
    * exactly, even where stages or jobs overlap.
    */
  def selfTimes(all: Vector[Span], roots: Seq[Span]): Map[Long, Double] = {
    val children = all.groupBy(_.parent)
    val out = mutable.HashMap[Long, Double]().withDefaultValue(0.0)
    roots.foreach { root =>
      // clip every descendant into its parent's window
      val clipped = mutable.ArrayBuffer[(Span, Double, Double)]()
      def walk(s: Span, lo: Double, hi: Double): Unit = {
        val a = math.max(s.start, lo)
        val b = math.min(if (s.end < 0) hi else s.end, hi)
        if (b > a) {
          clipped += ((s, a, b))
          children.getOrElse(s.id, Vector.empty).foreach(c => walk(c, a, b))
        }
      }
      walk(root, root.start, root.end)
      val cuts = clipped.flatMap { case (_, a, b) => Seq(a, b) }.distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val open = clipped.filter { case (_, s, e) => s <= a && e >= b }
        val parents = open.map(_._1.parent).toSet
        val leaves = open.filterNot { case (s, _, _) => parents.contains(s.id) }
        leaves.foreach { case (s, _, _) => out(s.id) += (b - a) / leaves.size }
      }
    }
    out.toMap
  }
}
