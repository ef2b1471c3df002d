package perfbench

import scala.jdk.CollectionConverters._

/** Attributes the traced run's Spark jobs and planned queries to the
  * phase span (construct / plan / execute) they started in, over the
  * timed phase. Checks and set-up are outside every phase. */
object Layers {
  private val phases = Set("construct", "plan", "execute")

  def summarize(run: Run, c: Counters, fromMs: Long, toMs: Long): Json.Raw = {
    val spans = run.tracer.all.filter(s => phases(s.name) &&
      s.startMs >= fromMs && s.endMs <= toMs)
    /** the phase span a millisecond timestamp falls in */
    def at(ms: Long): Option[Span] =
      spans.find(s => s.startMs <= ms && ms <= s.endMs)
    val jobsByPhase = collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    val jobsByOp = collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    val execStages = collection.mutable.Set.empty[Int]
    c.jobs.asScala.foreach { case (_, (ms, stageIds)) =>
      at(ms).foreach { s =>
        jobsByPhase(s.name) += 1
        jobsByOp(s.label) += 1
        if (s.name == "execute") execStages ++= stageIds
      }
    }
    val st = execStages.toSeq.flatMap(id => Option(c.stages.get(id)))
    val plans = c.plans.asScala.toSeq.filter(p => at(p._1).isDefined)
    Json.obj(
      "jobs_by_phase" -> jobsByPhase.toMap,
      "jobs_by_op" -> jobsByOp.toMap,
      "exec_stages" -> st.size,
      "exec_tasks" -> st.map(_.tasks).sum,
      "exec_run_ms" -> st.map(_.runMs).sum,
      "exec_cpu_ns" -> st.map(_.cpuNs).sum,
      "exec_gc_ms" -> st.map(_.gcMs).sum,
      "exec_shuffle_read_bytes" -> st.map(_.shuffleRead).sum,
      "exec_shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
      "exec_spill_bytes" -> st.map(_.spill).sum,
      "plan_queries" -> plans.size,
      "plan_analysis_ms" -> plans.map(_._2).sum,
      "plan_optimization_ms" -> plans.map(_._3).sum,
      "plan_planning_ms" -> plans.map(_._4).sum,
      "plan_chars" -> plans.map(_._5).sum)
  }
}
