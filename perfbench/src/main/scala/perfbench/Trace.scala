package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call the benchmark makes into a layer. */
final case class Span(id: Int, parent: Int, name: String, label: String,
                      startNs: Long, endNs: Long, startMs: Long,
                      endMs: Long)

/** Spans around the benchmark's calls into the program, kept in memory
  * and written out when the run ends. When tracing is off, `span` only
  * runs its body. Spans are opened by the single client thread. */
final class Tracer(val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1

  def span[A](name: String, label: String = "")(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      val s0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, label, s0, System.nanoTime(), m0,
          System.currentTimeMillis())
      }
    }

  def all: Seq[Span] = spans.toSeq
}

/** Stage-level totals of the task metrics Spark reports. */
final case class StageTotals(tasks: Long, runMs: Long, cpuNs: Long,
                             gcMs: Long, shuffleRead: Long,
                             shuffleWrite: Long, spill: Long)

/** Counts jobs, stages and tasks (SparkListener) and planning phases
  * (QueryExecutionListener, which fires for every action a query
  * runs, the program's own eager jobs included). Registered only in
  * traced runs. */
final class Counters extends SparkListener with QueryExecutionListener {
  /** job id -> (submission time ms, stage ids) */
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int,
    (Long, Seq[Int])]
  val stages = new java.util.concurrent.ConcurrentHashMap[Int,
    StageTotals]
  /** per planned query: (analysis start ms, analysis, optimization,
    * planning ms, executed-plan chars) */
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[
    (Long, Long, Long, Long, Long)]

  override def onJobStart(js: SparkListenerJobStart): Unit =
    jobs.put(js.jobId, (js.time, js.stageIds))

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val m = si.taskMetrics
    if (m != null) stages.merge(si.stageId,
      StageTotals(si.numTasks.toLong, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled),
      (a, b) => StageTotals(a.tasks + b.tasks, a.runMs + b.runMs,
        a.cpuNs + b.cpuNs, a.gcMs + b.gcMs,
        a.shuffleRead + b.shuffleRead, a.shuffleWrite + b.shuffleWrite,
        a.spill + b.spill))
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.get("analysis").map(_.startTimeMs)
      .orElse(ph.values.map(_.startTimeMs).minOption)
      .getOrElse(System.currentTimeMillis())
    val chars = try qe.executedPlan.toString.length.toLong
      catch { case _: Throwable => 0L }
    plans.add((start, ms("analysis"), ms("optimization"), ms("planning"),
      chars))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)
}
