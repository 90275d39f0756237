package perfbench

import perfbench.Harness.{Exec, Pass}

/** Per-layer metrics of a traced run: each is computed per traced pass from
  * the recorder's events inside that pass and reported as the median over
  * traced passes (latency percentiles pool every traced pass instead).
  */
object Layers {

  private val MB = 1048576.0

  /** Total length of the union of [start, end] intervals clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    clipped.foreach { case (s, e) =>
      if (!open || s > curE) { if (open) total += curE - curS; curS = s; curE = e; open = true }
      else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  def metrics(probe: Probe, passes: Seq[Pass], cores: Int): Seq[(String, Double, String)] =
    probe.snapshot {
      val traced = passes.filter(_.traced)
      val untraced = passes.filterNot(_.traced)
      def in(p: Pass, t: Long) = t >= p.startMs && t <= p.endMs
      def jobsOf(p: Pass) = probe.jobs.filter(j =>
        if (j.tag.nonEmpty) j.tag.startsWith(s"p${p.idx}/") else in(p, j.start)).toSeq
      def stagesOf(p: Pass) = probe.stages.values.filter(s => in(p, s.submitted)).toSeq
      def batchesOf(p: Pass) = probe.batches.filter(b => in(p, b.start)).toSeq

      val perPass: Seq[Seq[(String, Double, String)]] = traced.map { p =>
        val jobs = jobsOf(p)
        val st = stagesOf(p)
        val execs = probe.execs.filter(e => in(p, e.start)).toSeq
        val batches = batchesOf(p)
        val streams = probe.streams.filter(s => in(p, s.start)).toSeq
        val inJobS = covered(jobs.map(j => (j.start, j.end)), p.startMs, p.endMs) / 1e3
        val runS = st.map(_.runMs).sum / 1e3
        def sumL(f: StageAgg => Long) = st.map(f).sum.toDouble
        val startup = streams.map { s =>
          (s.end - s.start - probe.batches.filter(_.runId == s.runId).map(_.triggerMs).sum) / 1e3
        }.sum
        val stateRows = batches.groupBy(_.runId).values.map(_.maxBy(_.batchId).stateRows).sum
        Seq(
          ("driver.jobs", jobs.size.toDouble, "count"),
          ("driver.stages", st.size.toDouble, "count"),
          ("driver.tasks", sumL(_.tasks), "count"),
          ("driver.in_job_s", inJobS, "s"),
          ("driver.gap_s", (p.endMs - p.startMs) / 1e3 - inJobS, "s"),
          ("plan.analysis_s", execs.map(_.analysisMs).sum / 1e3, "s"),
          ("plan.optimization_s", execs.map(_.optimizationMs).sum / 1e3, "s"),
          ("plan.planning_s", execs.map(_.planningMs).sum / 1e3, "s"),
          ("plan.executions", execs.size.toDouble, "count"),
          ("task.run_s", runS, "s"),
          ("task.cpu_s", sumL(_.cpuNs) / 1e9, "s"),
          ("task.gc_s", sumL(_.gcMs) / 1e3, "s"),
          ("task.deser_s", sumL(_.deserMs) / 1e3, "s"),
          ("task.busy_ratio", runS / (p.wallS * cores), "ratio"),
          ("shuffle.write_mb", sumL(_.shuffleWrite) / MB, "MB"),
          ("shuffle.read_mb", sumL(_.shuffleRead) / MB, "MB"),
          ("shuffle.fetch_wait_s", sumL(_.fetchWaitMs) / 1e3, "s"),
          ("shuffle.spill_mb", sumL(_.spill) / MB, "MB"),
          ("scan.input_mb", sumL(_.inBytes) / MB, "MB"),
          ("scan.records", sumL(_.inRecords), "count"),
          ("sink.output_mb", sumL(_.outBytes) / MB, "MB"),
          ("tables.load_s", p.loadS, "s"),
          ("gold.run_s", p.goldRunS, "s"),
          ("gold.ctas_s", p.goldCtasS, "s"),
          ("stream.batches", batches.size.toDouble, "count"),
          ("stream.trigger_s", batches.map(_.triggerMs).sum / 1e3, "s"),
          ("stream.add_batch_s", batches.map(_.addBatchMs).sum / 1e3, "s"),
          ("stream.query_planning_s", batches.map(_.planningMs).sum / 1e3, "s"),
          ("stream.wal_commit_s", batches.map(_.walMs).sum / 1e3, "s"),
          ("stream.startup_s", startup, "s"),
          ("stream.input_rows", batches.map(_.inputRows).sum.toDouble, "count"),
          ("stream.state_rows", stateRows.toDouble, "count"),
          ("stream.state_commit_s", batches.map(_.stateCommitMs).sum / 1e3, "s"),
          ("cache.stored_mb", p.storedMb, "MB"),
          ("host.probe_s", p.hostProbeS, "s"))
      }
      val medians = perPass.head.indices.map { i =>
        val (name, _, unit) = perPass.head(i)
        (name, Stats.median(perPass.map(_(i)._2)), unit)
      }
      val jobS = traced.flatMap(jobsOf).map(j => (j.end - j.start) / 1e3)
      val trig = traced.flatMap(batchesOf).map(_.triggerMs / 1e3)
      medians ++ Seq(
        ("driver.job_s.p50", Stats.median(jobS), "s"),
        ("stream.microbatch_s.p50", Stats.quantile(trig, 0.5), "s"),
        ("stream.microbatch_s.p90", Stats.quantile(trig, 0.9), "s"),
        ("trace_overhead", Stats.median(traced.map(_.wallS)) /
          Stats.median(untraced.map(_.wallS)), "ratio"))
    }
}

/** The traced run's spans, one JSON object per line: workload → pass → query
  * → SQL execution / job → stage, and query → streaming query → micro-batch.
  * Times are epoch milliseconds; every span names its parent.
  */
object Spans {

  def render(workload: String, probe: Probe, passes: Seq[Pass], execs: Seq[Exec]): String =
    probe.snapshot {
      val out = new StringBuilder
      def span(id: String, parent: String, kind: String, name: String, start: Long,
          end: Long, extra: (String, String)*): Unit =
        out.append(Json.obj(Seq("id" -> Json.str(id),
          "parent" -> (if (parent == null) "null" else Json.str(parent)),
          "kind" -> Json.str(kind), "name" -> Json.str(name),
          "start" -> start.toString, "end" -> end.toString) ++ extra: _*)).append('\n')
      val traced = passes.filter(_.traced)
      span("w", null, "workload", workload, passes.head.startMs, passes.last.endMs)
      val queries = traced.flatMap { p =>
        span(s"p${p.idx}", "w", "pass", s"pass ${p.idx}", p.startMs, p.endMs)
        execs.filter(_.pass == p.idx).zipWithIndex.map { case (e, i) =>
          val id = s"p${p.idx}/q$i"
          span(id, s"p${p.idx}", "query", e.query, e.startMs, e.endMs, "ok" -> e.ok.toString)
          (id, e.startMs, e.endMs)
        }
      }
      def queryAt(t: Long): String =
        queries.find { case (_, s, e) => t >= s && t <= e }.map(_._1).orNull
      val stageParent = scala.collection.mutable.Map.empty[Int, String]
      probe.jobs.foreach { j =>
        val parent = if (j.tag.nonEmpty) j.tag else queryAt(j.start)
        if (parent != null) {
          span(s"j${j.id}", parent, "job", s"job ${j.id}", j.start, j.end)
          j.stageIds.foreach(s => stageParent.getOrElseUpdate(s, s"j${j.id}"))
        }
      }
      probe.stages.toSeq.sortBy(_._1).foreach { case (id, s) =>
        stageParent.get(id).foreach(parent => span(s"s$id", parent, "stage", s"stage $id",
          s.submitted, s.completed, "tasks" -> s.tasks.toString, "run_ms" -> s.runMs.toString))
      }
      probe.execs.zipWithIndex.foreach { case (e, i) =>
        Option(queryAt(e.start)).foreach(parent =>
          span(s"e$i", parent, "execution", s"execution $i", e.start, e.end, "ok" -> e.ok.toString))
      }
      probe.streams.foreach { s =>
        Option(queryAt(s.start)).foreach { parent =>
          span(s"st${s.runId}", parent, "stream", s.name, s.start, s.end)
          probe.batches.filter(_.runId == s.runId).foreach(b =>
            span(s"b${s.runId}/${b.batchId}", s"st${s.runId}", "microbatch",
              s"batch ${b.batchId}", b.start, b.start + b.triggerMs,
              "input_rows" -> b.inputRows.toString))
        }
      }
      out.toString
    }
}
