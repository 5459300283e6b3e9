package perfbench

import scala.collection.mutable

/** Span tree of one traced pass: query -> build/plan/exec phase -> Spark
  * job -> stage. All spans of one query carry that query's id as their
  * `trace`; self time is a span's duration minus the time its children
  * cover. Times are seconds from the start of the measured passes. */
object Trace {
  def spans(pass: Int, queries: Seq[(String, Harness.Outcome)], jobs: Seq[JobRec],
      stages: Seq[StageRec], relS: Long => Double, relMs: Long => Double): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    val jobsBySpan = jobs.groupBy(_.span)
    val stagesByJob = stages.groupBy(_.job)
    def emit(trace: String, id: String, parent: String, kind: String, name: String,
        start: Double, end: Double, children: Seq[(Double, Double)],
        extra: Seq[(String, Any)] = Nil): Unit = {
      val self = (end - start) - Intervals.coveredS(children, Seq((start, end)))
      out += Json.render(mutable.LinkedHashMap[String, Any](
        "trace" -> trace, "id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "start_s" -> start, "dur_s" -> (end - start),
        "self_s" -> self) ++ extra)
    }
    def emitJob(trace: String, parent: String, j: JobRec): Unit = {
      val st = stagesByJob.getOrElse(j.id, Nil).filter(_.endMs >= 0)
      val jid = s"job${j.id}"
      emit(trace, jid, parent, "job", jid, relMs(j.startMs), relMs(j.endMs),
        st.map(s => (relMs(s.startMs), relMs(s.endMs))),
        Seq("tasks" -> j.counters.tasks, "cpu_s" -> j.counters.cpuNs / 1e9))
      st.foreach(s => emit(trace, s"stage${s.id}", jid, "stage", s"stage${s.id}",
        relMs(s.startMs), relMs(s.endMs), Nil))
    }
    queries.foreach { case (qid, o) =>
      val s0 = relS(o.startNs)
      val b = s0 + o.buildNs / 1e9
      val p = b + o.planNs / 1e9
      val e = p + o.execNs / 1e9
      val phases = Seq(("build", s0, b), ("plan", b, p), ("exec", p, e))
      emit(qid, qid, s"pass$pass", "query", o.name, s0, e,
        phases.map(x => (x._2, x._3)),
        Seq("module" -> o.module, "ok" -> o.error.isEmpty))
      phases.foreach { case (ph, a, z) =>
        val pid = s"$qid/$ph"
        val js = jobsBySpan.getOrElse(pid, Nil)
        emit(qid, pid, qid, "phase", ph, a, z,
          js.map(j => (relMs(j.startMs), relMs(j.endMs))))
        js.foreach(emitJob(qid, pid, _))
      }
    }
    // Jobs started outside every query (none expected) hang off the pass.
    jobsBySpan.getOrElse("", Nil).foreach(emitJob(s"pass$pass", s"pass$pass", _))
    out.toSeq
  }
}
