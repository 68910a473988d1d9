package perfbench

import org.apache.spark.sql.streaming.StreamingQuery

/** Per-layer metrics of the traced run, read from outside the engine: the
  * spans around calls into each layer, the benchmark's Spark listener,
  * the block manager's storage info and `StreamingQueryProgress`.
  * Per-unit figures are means over the traced units (a unit is a pass or
  * a round).
  */
object Layers {
  private def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Persisted RDDs and their bytes, read after set-up. */
  def memoStorage(r: Run): Unit = {
    val infos = r.sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    r.layers("memo.resident_bytes") = infos.map(i => i.memSize + i.diskSize).sum.toDouble
    r.layers("memo.persisted_rdds") = infos.length.toDouble
  }

  /** Streaming progress of the triggers that carried data, set-up's two
    * warm-up triggers per lane excluded.
    */
  def streamProgress(r: Run, queries: Seq[(String, StreamingQuery)]): Unit = {
    val progress = queries.map { case (name, q) =>
      name -> q.recentProgress.filter(_.numInputRows > 0).drop(2).toSeq }
    val all = progress.flatMap(_._2)
    def dur(key: String) = median(all.map(p =>
      Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))
    progress.foreach { case (name, ps) =>
      val ms = ps.map(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue)
        .getOrElse(0.0)).sum
      r.layers(s"stream.$name.rows_per_s") = if (ms > 0) ps.map(_.numInputRows).sum / (ms / 1000) else 0
    }
    r.layers("stream.add_batch_ms") = dur("addBatch")
    r.layers("stream.query_planning_ms") = dur("queryPlanning")
    r.layers("stream.wal_commit_ms") = dur("walCommit")
    val last = progress.flatMap(_._2.lastOption)
    r.layers("stream.state_rows") = last.flatMap(_.stateOperators).map(_.numRowsTotal).sum.toDouble
    r.layers("stream.state_bytes") = last.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum.toDouble
  }

  /** Per-layer metrics from the traced units' spans and jobs. */
  def fill(r: Run): Unit = {
    val t = r.trace
    val units = r.units.filter(_.attrs("traced") == true)
    val n = math.max(1, units.size).toDouble
    def within(kind: String, u: Trace.Span): Seq[Trace.Span] =
      t.of(kind).filter(s => s.startMs >= u.startMs && s.endMs <= u.endMs)
    val timed = units.flatMap(u => within("phase", u))
    def phase(name: String) = timed.filter(_.name == name).map(_.ms).sum / n
    r.layers("query.construct_ms") = phase("construct")
    r.layers("query.plan_ms") = phase("plan")
    r.layers("query.exec_ms") = phase("exec")
    val callName = t.of("call").map(c => c.id -> c.name).toMap
    if (r.workload == "research") new Research(r).queries.foreach { case (q, p) =>
      r.layers(s"pack.$p.exec_ms") = timed.filter(s => s.name == "exec" &&
        callName.get(s.parent).contains(q)).map(_.ms).sum / n
    }

    val l = t.exec.get
    val jobs = units.flatMap(u => l.jobsIn(u.startMs, u.endMs + 1))
    def sum(f: l.Job => Long) = jobs.map(f).sum / n
    r.layers("exec.jobs") = jobs.size / n
    r.layers("exec.stages") = sum(_.stages)
    r.layers("exec.tasks") = sum(_.tasks)
    r.layers("exec.task_run_ms") = sum(_.runMs)
    r.layers("exec.task_cpu_ms") = sum(_.cpuNs) / 1e6
    r.layers("exec.task_gc_ms") = sum(_.gcMs)
    r.layers("exec.failed_tasks") = sum(_.failedTasks)
    r.layers("exec.shuffle_write_bytes") = sum(_.shuffleWrite)
    r.layers("exec.shuffle_read_bytes") = sum(_.shuffleRead)
    r.layers("exec.spill_bytes") = sum(_.spill)
    // Execution spans: the exec phase where calls have one, else the call.
    val execSpans = units.flatMap { u =>
      val ph = within("phase", u).filter(_.name == "exec")
      if (ph.nonEmpty) ph else within("call", u)
    }
    val tasks = l.tasks
    val execMs = execSpans.map(s => (s.endMs - s.startMs).toDouble).sum
    r.layers("exec.idle_ms") = execSpans.map(s =>
      (s.endMs - s.startMs) - Trace.union(tasks, s.startMs, s.endMs)).sum / n
    r.layers("exec.busy_ratio") =
      if (execMs > 0) jobs.map(_.runMs).sum / (execMs * r.cores) else 0.0

    // Memo fill: each query's first call minus the median of its warm calls.
    if (r.workload == "research") r.layers("memo.fill_ms") =
      r.calls.groupBy(_.name).values.map { cs =>
        cs.find(_.phase == "prime").map(_.ms - median(cs.filter(_.phase == "timed").map(_.ms)))
          .getOrElse(0.0) }.sum
    // Composed-job stages, split in set-up.
    t.of("stage").foreach(s => r.layers(s"${s.name}_ms") = s.ms)
    r.setupMs.foreach { case (k, v) => r.layers(s"setup.$k") = v }

    val (traced, untraced) = r.units.partition(_.attrs("traced") == true)
    r.layers("trace.overhead_pct") =
      if (untraced.isEmpty) 0.0 else (median(traced.map(_.ms)) / median(untraced.map(_.ms)) - 1) * 100
  }
}
