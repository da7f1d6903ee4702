package graft.perfbench

import org.apache.spark.{PerfbenchAccess, SparkContext}
import org.apache.spark.scheduler._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** One call into a layer. `name` is `<layer>.<call>`; `run` identifies the
  * workload repetition the call belongs to. Times are epoch milliseconds
  * (sub-ms precision) so they line up with Spark's stage timestamps. */
final case class SpanRec(id: Int, parent: Int, run: String, name: String,
    startMs: Double, endMs: Double) {
  def layer: String   = name.takeWhile(_ != '.')
  def seconds: Double = (endMs - startMs) / 1e3
}

/** One completed stage attempt, tagged with the span whose job ran it. */
final case class StageRec(stageId: Int, attempt: Int, span: Int, name: String,
    submitMs: Long, completeMs: Long, numTasks: Int, shuffleMap: Boolean,
    cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
    inputBytes: Long, outputBytes: Long, spillBytes: Long, taskMs: Vector[Long])

final case class JobRec(jobId: Int, span: Int, startMs: Long, endMs: Long)

/** Records every job and stage attempt with its job group (the span id the
  * tracer set on the submitting thread). Installed only for traced runs. */
final class StageListener extends SparkListener {
  private val jobStarts  = mutable.Map.empty[Int, (Int, Long)]
  private val stageSpan  = mutable.Map.empty[Int, Int]
  private val taskMs     = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val jobsDone   = mutable.ArrayBuffer.empty[JobRec]
  private val stagesDone = mutable.ArrayBuffer.empty[StageRec]

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith(Tracer.GroupPrefix) => g.stripPrefix(Tracer.GroupPrefix).toInt }
      .getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    jobStarts(e.jobId) = (span, e.time)
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (span, t0) => jobsDone += JobRec(e.jobId, span, t0, e.time) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stagesDone += StageRec(i.stageId, i.attemptNumber(), stageSpan.getOrElse(i.stageId, 0), i.name,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      PerfbenchAccess.isShuffleMapStage(i),
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten, m.diskBytesSpilled,
      taskMs.remove((i.stageId, i.attemptNumber())).map(_.toVector).getOrElse(Vector.empty))
  }

  def jobs: Vector[JobRec]     = synchronized(jobsDone.toVector)
  def stages: Vector[StageRec] = synchronized(stagesDone.toVector)
}

/** Spans around the benchmark's calls into each layer, plus the stage
  * counters of the jobs each call ran. Both stay in memory and are written
  * as JSON lines at the end. While inactive a span is a plain call and no
  * listener is installed. */
final class Tracer(sc: SparkContext) {
  private val nanos0   = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val recorded = mutable.ArrayBuffer.empty[SpanRec]
  private val listener = new StageListener
  private var stack    = List.empty[Int]
  private var nextId   = 1
  private var active   = false
  var run              = ""

  def on: Boolean = active

  def setActive(a: Boolean): Unit = {
    if (a && !active) sc.addSparkListener(listener)
    if (!a && active) { PerfbenchAccess.drainListenerBus(sc); sc.removeSparkListener(listener) }
    active = a
  }

  def nowMs: Double = epochMs0 + (System.nanoTime() - nanos0) / 1e6

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val id     = nextId
      val parent = stack.headOption.getOrElse(0)
      nextId += 1
      stack = id :: stack
      sc.setJobGroup(Tracer.GroupPrefix + id, name)
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p, "")
          case None    => sc.clearJobGroup()
        }
        recorded += SpanRec(id, parent, run, name, t0, t1)
      }
    }

  /** Spans, jobs and stages recorded so far (listener events drained). */
  def snapshot(): (Vector[SpanRec], Vector[JobRec], Vector[StageRec]) = {
    if (active) PerfbenchAccess.drainListenerBus(sc)
    (recorded.toVector, listener.jobs, listener.stages)
  }

  def writeJsonl(path: Path): Unit = {
    val (spans, jobs, stages) = snapshot()
    val self = Rollup.selfSeconds(spans)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines =
      spans.map(s => s"""{"type":"span","id":${s.id},"parent":${s.parent},"run":${q(s.run)},""" +
        s""""name":${q(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},"self_s":${self(s.id)}}""") ++
      jobs.map(j => s"""{"type":"job","job":${j.jobId},"span":${j.span},"start_ms":${j.startMs},"end_ms":${j.endMs}}""") ++
      stages.map(s => s"""{"type":"stage","stage":${s.stageId},"attempt":${s.attempt},"span":${s.span},""" +
        s""""name":${q(s.name)},"submit_ms":${s.submitMs},"complete_ms":${s.completeMs},""" +
        s""""tasks":${s.numTasks},"shuffle_map":${s.shuffleMap},"cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs},""" +
        s""""shuffle_write_bytes":${s.shuffleWriteBytes},"shuffle_read_bytes":${s.shuffleReadBytes},""" +
        s""""input_bytes":${s.inputBytes},"output_bytes":${s.outputBytes},"spill_bytes":${s.spillBytes},""" +
        s""""max_task_ms":${if (s.taskMs.isEmpty) 0 else s.taskMs.max}}""")
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
}

/** Roll-ups over one repetition's spans and stages. */
object Rollup {

  /** Total length of the union of [start, end) intervals. */
  def unionSeconds(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS  = Double.NaN
    var curE  = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total / 1e3
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(spans: Seq[SpanRec]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.seconds - unionSeconds(children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))))
    }.toMap
  }

  /** Ids of `roots` and every span below them. */
  def subtree(spans: Seq[SpanRec], roots: Set[Int]): Set[Int] = {
    val children = spans.groupBy(_.parent)
    def walk(id: Int): Set[Int] = children.getOrElse(id, Nil).map(_.id).toSet.flatMap(walk) + id
    roots.flatMap(walk)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Max ÷ median task time over the tasks of `stages`. */
  def taskSkew(stages: Seq[StageRec]): Double = {
    val t = stages.flatMap(_.taskMs).map(_.toDouble)
    val m = median(t)
    if (t.isEmpty || m <= 0) 0.0 else t.max / m
  }
}
