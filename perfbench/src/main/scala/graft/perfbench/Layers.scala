package graft.perfbench

/** The per-layer metrics of a traced run. Layer names are the engine's
  * module names. Every metric is printed for every workload: a layer the
  * workload never calls reads 0. Latencies (`_s`) are mean seconds per
  * call of the span of the same name; counts are per timed operation
  * unless their name says otherwise. */
object Layers {
  /** Metrics that are the mean duration of the span named by dropping `_s`. */
  private val SpanMeans = Seq(
    "stages.stage_s", "stages.load_s", "stages.derive_s", "stages.publish_s",
    "stages.merge_s",
    "snapshot.commit_s", "snapshot.merge_cow_s", "snapshot.delete_dv_s",
    "snapshot.update_dv_s", "snapshot.compact_s", "snapshot.read_pruned_s",
    "snapshot.read_points_s", "snapshot.time_travel_s", "snapshot.change_feed_s",
    "plans.meta_agg_s", "plans.sip_join_s",
    "dedup.exact_s", "dedup.prefix_jaccard_s",
    "similarity.srp_join_s", "similarity.adc_topk_s",
    "text.bpe_s", "text.pack_s")

  /** Rows per second of a span whose rows the workload counted as
    * `<span>.rows`. */
  private val RowRates = Seq(
    "expressions.srp_sign_rows_per_s", "expressions.sorted_inter_count_rows_per_s",
    "multimodal.decode_rows_per_s")

  /** Values the workload measures itself (tracer counters, divided by the
    * number of traced operations unless noted). */
  private val Counted = Seq(
    "stages.bytes_written" -> "bytes/op",
    "snapshot.files_rewritten_per_write" -> "files",
    "snapshot.bytes_written_per_user_byte" -> "ratio",
    "snapshot.manifest_parses" -> "count/op",
    "snapshot.files_opened_per_read" -> "files",
    "snapshot.space_amp" -> "ratio",
    "plans.planning_s" -> "s/query",
    "plans.rows_scanned_per_result" -> "ratio",
    "plans.files_pruned_share" -> "ratio",
    "dedup.pairs_out" -> "count/op",
    "similarity.recall_at_10" -> "ratio")

  def names: Seq[(String, String)] =
    Seq("runtime.jobs" -> "count/op", "runtime.stages" -> "count/op",
      "runtime.tasks" -> "count/op", "runtime.task_run_s" -> "s/op",
      "runtime.task_gc_s" -> "s/op", "runtime.scheduler_delay_s" -> "s/op",
      "runtime.shuffle_write_bytes" -> "bytes/op",
      "runtime.shuffle_read_bytes" -> "bytes/op", "runtime.spill_bytes" -> "bytes/op",
      "runtime.core_busy_share" -> "ratio") ++
    SpanMeans.map(_ -> "s") ++
    Seq("stages.driver_s" -> "s/op", "snapshot.driver_s" -> "s/op",
      "dedup.shuffle_bytes" -> "bytes/op") ++
    Counted ++
    Seq("streamops.triggers" -> "count/op", "streamops.trigger_s" -> "s",
      "streamops.add_batch_s" -> "s", "streamops.wal_commit_s" -> "s",
      "streamops.query_planning_s" -> "s", "streamops.latest_offset_s" -> "s",
      "sources.graft_sink_batch_s" -> "s") ++
    RowRates.map(_ -> "1/s") ++
    Seq("bench.op_p50_ms" -> "ms", "bench.ops_per_s" -> "1/s",
      "bench.unattributed_s" -> "s/op", "bench.trace_overhead" -> "ratio")

  def metrics(w: Workload, c: Ctx, rt: RuntimeListener, sl: StreamListener,
              traced: Seq[Op], untraced: Seq[Op], tracedWallS: Double)
      : Seq[(String, (Double, String))] = {
    val t = c.tracer
    // per operation: a pass where the pass is the operation
    val n = traced.size.toDouble / (if (w.passIsOp) w.passSteps else 1)
    val cores = Runtime.getRuntime.availableProcessors
    def mean(span: String): Double = {
      val k = t.spanCount(span)
      if (k == 0) 0.0 else t.spanSeconds(span) / k
    }
    val own = w.layerMetrics(c, traced)
    val v = scala.collection.mutable.Map.empty[String, Double]
    v("runtime.jobs") = rt.sum(None)(_.jobs) / n
    v("runtime.stages") = rt.sum(None)(_.stages) / n
    v("runtime.tasks") = rt.sum(None)(_.tasks) / n
    v("runtime.task_run_s") = rt.sum(None)(_.runS) / n
    v("runtime.task_gc_s") = rt.sum(None)(_.gcS) / n
    v("runtime.scheduler_delay_s") = rt.sum(None)(_.schedS) / n
    v("runtime.shuffle_write_bytes") = rt.sum(None)(_.shufW) / n
    v("runtime.shuffle_read_bytes") = rt.sum(None)(_.shufR) / n
    v("runtime.spill_bytes") = rt.sum(None)(_.spill) / n
    v("runtime.core_busy_share") = rt.sum(None)(_.runS) / (tracedWallS * cores)
    SpanMeans.foreach(m => v(m) = mean(m.stripSuffix("_s")))
    v("stages.driver_s") = rt.driverSeconds("stages", t.spans.toSeq) / n
    v("snapshot.driver_s") = rt.driverSeconds("snapshot", t.spans.toSeq) / n
    v("dedup.shuffle_bytes") = rt.sum(Some("dedup"))(_.shufW) / n
    Counted.foreach { case (m, _) => v(m) = own.getOrElse(m, 0.0) }
    val accs = sl.all
    val trig = accs.map(_.triggers).sum.toDouble
    def phase(p: String, as: Seq[sl.Acc]): Double = {
      val k = as.map(_.triggers).sum
      if (k == 0) 0.0 else as.map(_.phaseMs(p)).sum / 1e3 / k
    }
    v("streamops.triggers") = trig / n
    v("streamops.trigger_s") = phase("triggerExecution", accs)
    v("streamops.add_batch_s") = phase("addBatch", accs)
    v("streamops.wal_commit_s") = phase("walCommit", accs)
    v("streamops.query_planning_s") = phase("queryPlanning", accs)
    v("streamops.latest_offset_s") = phase("latestOffset", accs)
    v("sources.graft_sink_batch_s") = phase("addBatch", sl.get(TableServing.GraftSinkQuery).toSeq)
    RowRates.foreach { m =>
      val span = m.stripSuffix("_rows_per_s")
      val s = t.spanSeconds(span)
      v(m) = if (s == 0) 0.0 else t.counts.getOrElse(s"$span.rows", 0.0) / s
    }
    // wall-clock latency and throughput of the untraced half
    v("bench.op_p50_ms") = Main.median(w.latencies(untraced)) * 1e3
    v("bench.ops_per_s") =
      untraced.size / (if (w.passIsOp) w.passSteps else 1) / untraced.map(_.seconds).sum
    val self = t.selfSeconds
    v("bench.unattributed_s") = self.getOrElse("bench", 0.0) / n
    // per operation kind, traced over untraced median; geometric mean
    val ratios = traced.groupBy(_.kind).toSeq.flatMap { case (k, t) =>
      val u = untraced.filter(_.kind == k)
      if (u.isEmpty) None else Some(math.log(Main.median(t.map(_.seconds)) / Main.median(u.map(_.seconds))))
    }
    v("bench.trace_overhead") =
      if (ratios.isEmpty) 0.0 else math.exp(ratios.sum / ratios.size)
    names.map { case (m, unit) => m -> (v(m), unit) }
  }

  /** The traced half as one table: each layer's self time, call count
    * and share of the traced wall. Self times plus the benchmark's own
    * (`bench`, the unattributed rest) add up to the wall exactly. */
  def rollup(t: Tracer): String = {
    val wall = t.spanSeconds("bench.wall")
    val self = t.selfSeconds
    val calls = t.spans.groupBy(_.layer).view.mapValues(_.size).toMap
    val rows = self.toSeq.sortBy(-_._2).map { case (l, s) =>
      f"$l%-14s ${s}%12.4f ${calls(l)}%8d ${if (wall > 0) s / wall else 0.0}%8.3f"
    }
    val total = self.values.sum
    (f"${"layer"}%-14s ${"self_s"}%12s ${"calls"}%8s ${"share"}%8s" +: rows :+
      f"${"sum"}%-14s $total%12.4f   (traced wall $wall%.4f s)").mkString("", "\n", "\n")
  }
}
