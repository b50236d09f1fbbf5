package graftbench

/** Per-layer numbers of a traced run, computed from the recorded spans
  * and the listener's job, stage and task tallies. Layers a workload does
  * not exercise are left out here and read as 0 in the printed result. */
object Layers {

  val Ops: Seq[String] = Seq("SnapshotDiff", "Cdc", "Pipeline", "DbExport",
    "MasterUpsert", "AnnIndex", "InvertedIndex", "Dedup")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Main.median(xs)
  private val MB = 1048576.0

  def fill(rec: Recorder, report: Report, spansFile: String): Unit = {
    val spans = rec.spans
    val cost = rec.costs()
    val self = rec.selfMs()
    val kids = spans.groupBy(_.parent)
    val layers = report.layers

    val qs = spans.filter(_.name == "query")
    def phase(n: String) = qs.flatMap(q =>
      kids.getOrElse(q.id, Nil).filter(_.name == n).map(_.wallMs.toDouble))
    layers("queries.construct_ms") = med(phase("construct"))
    layers("queries.plan_ms") = med(phase("plan"))
    layers("queries.exec_ms") = med(phase("exec"))
    def perQuery(f: SpanCost => Double) = med(qs.map(q => f(cost(q.id))))
    layers("queries.jobs") = perQuery(_.jobs.toDouble)
    layers("queries.stages") = perQuery(_.stages.toDouble)
    layers("queries.sched_delay_ms") = perQuery(_.tally.schedDelayMs.toDouble)
    layers("queries.driver_gap_ms") = perQuery(_.gapMs.toDouble)
    layers("queries.task_cpu_ms") = perQuery(_.tally.cpuNs / 1e6)
    layers("queries.task_run_ms") = perQuery(_.tally.runMs.toDouble)
    layers("queries.shuffle_mb") = perQuery(_.tally.shuffleBytes / MB)

    // ops spans of the incremental cycles (the builds show in the table)
    val cycleIds = spans.filter(_.name == "cycle").map(_.id).toSet
    Ops.foreach { op =>
      val xs = spans.filter(s => s.name == s"ops.$op" && cycleIds(s.parent))
      def m(f: Span => Double) = med(xs.map(f))
      layers(s"ops.$op.wall_ms") = m(_.wallMs.toDouble)
      layers(s"ops.$op.jobs") = m(s => cost(s.id).jobs.toDouble)
      layers(s"ops.$op.task_cpu_ms") = m(s => cost(s.id).tally.cpuNs / 1e6)
      layers(s"ops.$op.shuffle_mb") = m(s => cost(s.id).tally.shuffleBytes / MB)
      layers(s"ops.$op.spill_mb") = m(s => cost(s.id).tally.spillBytes / MB)
    }
    val dedupIds = spans.filter(s => s.name == "ops.Dedup" && cycleIds(s.parent))
      .map(_.id).toSet
    layers("ops.Dedup.components_jobs") = med(spans
      .filter(s => s.name == "components" && dedupIds(s.parent))
      .map(s => cost(s.id).jobs.toDouble))

    // one cycle (refresh_cycle) or the steady pass (query_mix)
    val rounds = spans.filter(s => s.name == "cycle" || s.name == "pass.steady")
    layers("spark.driver_gap_ms") = med(rounds.map(s => cost(s.id).gapMs.toDouble))
    layers("Tables.input_mb") = med(rounds.map(s => cost(s.id).tally.inputBytes / MB))

    report.samples.keys.filter(_.startsWith("layer:")).toSeq.foreach { k =>
      layers(k.stripPrefix("layer:")) = med(report.samples(k).toSeq)
      report.samples.remove(k)
    }

    spans.groupBy(_.name).toSeq.sortBy(-_._2.map(_.wallMs).sum).foreach {
      case (name, ss) => report.table += ((name, ss.size,
        ss.map(_.wallMs).sum.toDouble, ss.map(s => self(s.id)).sum.toDouble))
    }

    val w = new java.io.PrintWriter(spansFile, "UTF-8")
    try spans.foreach { s =>
      val c = cost(s.id)
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""trace":${s.trace},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""self_ms":${self(s.id)},"jobs":${c.jobs},"stages":${c.stages},""" +
        s""""tasks":${c.tally.tasks},"gap_ms":${c.gapMs}}""")
    } finally w.close()
  }
}
