package perfbench

/** Turns one run into the JSON record `run.py` reads: the end-to-end
  * metrics, the workload-specific extras, and (traced runs) the per-layer
  * metrics, layer self times and the span tree. */
object Report {

  /** Per-layer metrics, the same list for every workload (a layer a
    * workload never calls reads 0). Time metrics are the inclusive wall
    * time of the layer's call spans; counts and times are means per op of
    * the measured window. */
  private val spanMs: Seq[(String, String)] = Seq(
    "catalyst.analysis_ms" -> "catalyst.analysis",
    "catalyst.optimization_ms" -> "catalyst.optimization",
    "catalyst.planning_ms" -> "catalyst.planning",
    "format.metadata.load_ms" -> "format.metadata.load",
    "format.plan.ms" -> "format.plan",
    "format.write.ms" -> "format.write",
    "format.commit.ms" -> "format.commit",
    "format.deletes.stage_ms" -> "format.deletes.stage",
    "connector.merge_ms" -> "connector.merge",
    "connector.delete_ms" -> "connector.delete",
    "connector.read_ms" -> "connector.read",
    "format.actions.rewrite_data_ms" -> "format.actions.rewrite_data",
    "format.actions.rewrite_deletes_ms" -> "format.actions.rewrite_deletes",
    "format.actions.expire_ms" -> "format.actions.expire",
    "ops.dedup.sign_ms" -> "ops.dedup.sign",
    "ops.dedup.pairs_ms" -> "ops.dedup.pairs",
    "ops.dedup.keep_ms" -> "ops.dedup.keep",
    "ops.dedup.store_append_ms" -> "ops.dedup.store_append")

  private val perOpCounters: Seq[(String, String)] = Seq(
    "format.metadata.bytes" -> "B",
    "format.plan.manifests_total" -> "count",
    "format.plan.manifests_scanned" -> "count",
    "format.plan.files_total" -> "count",
    "format.plan.files_scanned" -> "count",
    "format.plan.delete_files" -> "count",
    "exec.tasks" -> "count",
    "exec.run_ms" -> "ms",
    "exec.cpu_ms" -> "ms",
    "exec.input_bytes" -> "B",
    "exec.shuffle_read_bytes" -> "B",
    "exec.shuffle_write_bytes" -> "B",
    "exec.spill_bytes" -> "B",
    "format.write.files" -> "count",
    "format.write.bytes" -> "B",
    "format.commit.snapshots" -> "count",
    "format.commit.metadata_bytes" -> "B",
    "format.commit.failures" -> "count",
    "format.actions.files_rewritten" -> "count",
    "format.actions.bytes_rewritten" -> "B",
    "format.actions.files_deleted" -> "count",
    "ops.dedup.pairs" -> "count")

  private val gaugeNames: Seq[(String, String)] = Seq(
    "format.deletes.live_delete_files" -> "count",
    "format.deletes.live_delete_bytes" -> "B")

  def perLayer(rec: Main.RunRecord, tr: Tracer, spans: Seq[Span]): Seq[Metric] = {
    val ops = math.max(1, rec.samples.size).toDouble
    val byName = spans.filter(_.id >= 0).groupBy(_.name)
    def spanTotalMs(n: String) = byName.getOrElse(n, Nil).map(s => s.end - s.start).sum / 1000.0
    // execution wall time: the union of the op's Spark job intervals
    val execWallMs = spans.filter(_.name == "exec.job").groupBy(_.op).values.map { js =>
      var covered = 0L; var reach = Long.MinValue
      js.sortBy(_.start).foreach { j =>
        val s = math.max(j.start, reach)
        if (j.end > s) covered += j.end - s
        reach = math.max(reach, j.end)
      }
      covered
    }.sum / 1000.0
    def ratio(scanned: String, total: String): Double = {
      val t = tr.counter(total)
      if (t <= 0) 0.0 else 1.0 - tr.counter(scanned) / t
    }
    val returned = tr.counter("exec.rows_returned")
    spanMs.map { case (m, s) => Metric(m, spanTotalMs(s) / ops, "ms") } ++
      perOpCounters.map { case (m, u) => Metric(m, tr.counter(m) / ops, u) } ++
      gaugeNames.map { case (m, u) => Metric(m, tr.gaugeMean(m), u) } ++ Seq(
        Metric("format.plan.manifest_skip_ratio",
          ratio("format.plan.manifests_scanned", "format.plan.manifests_total"), "ratio"),
        Metric("format.plan.file_skip_ratio",
          ratio("format.plan.files_scanned", "format.plan.files_total"), "ratio"),
        Metric("exec.wall_ms", execWallMs / ops, "ms"),
        Metric("exec.rows_read_per_row_returned",
          if (returned <= 0) 0.0 else tr.counter("exec.input_rows") / returned, "ratio"),
        Metric("jvm.gc_ms", rec.gcMs / ops, "ms"),
        Metric("jvm.gc_count", rec.gcCount / ops, "count"))
  }

  def endToEnd(rec: Main.RunRecord): Seq[Metric] = {
    val timed = rec.samples.filterNot(s => rec.untimed.contains(s.kind)).map(_.ms)
    Seq(
      Metric("setup_s", Sample.median(rec.setupSecs), "s"),
      Metric("throughput_ops_s", timed.size / rec.windowSecs, "1/s"),
      Metric("latency_p50_ms", Sample.quantile(timed, 0.5), "ms"),
      Metric("heap_retained_mb", rec.heapMb, "MB"))
  }

  /** The tail: p90, and the highest percentile that leaves at least ten
    * timed samples beyond it. */
  def tail(rec: Main.RunRecord): Seq[Metric] = {
    val timed = rec.samples.filterNot(s => rec.untimed.contains(s.kind)).map(_.ms)
    val pct = math.floor(100.0 * (timed.size - 10) / timed.size).max(0.0)
    Seq(
      Metric("latency_p90_ms", Sample.quantile(timed, 0.9), "ms"),
      Metric("latency_tail_pct", pct, "%"),
      Metric("latency_tail_ms", Sample.quantile(timed, pct / 100.0), "ms"))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def metrics(ms: Seq[Metric]): String =
    ms.map(m => s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}")
      .mkString("{", ", ", "}")

  def json(args: Main.Args, rec: Main.RunRecord, tr: Tracer): String = {
    val failed = rec.samples.count(!_.ok)
    val timed = rec.samples.filterNot(s => rec.untimed.contains(s.kind))
    val kinds = rec.samples.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
      s"${str(k)}: {\"n\": ${ss.size}, \"p50_ms\": ${num(Sample.median(ss.map(_.ms)))}}"
    }.mkString("{", ", ", "}")
    val extra = tail(rec) ++ rec.extra :+ Metric("failed_ratio",
      if (rec.samples.isEmpty) 0.0 else failed.toDouble / rec.samples.size, "ratio")
    val traced = if (!tr.on) "" else {
      val spans = tr.allSpans
      val (self, perOp) = Tracer.selfTimes(spans)
      val selfJson = self.toSeq.sortBy(-_._2)
        .map { case (n, us) => s"${str(n)}: ${num(us / 1000.0 / math.max(1, rec.samples.size))}" }
        .mkString("{", ", ", "}")
      val worstGap = perOp.map { case (_, wall, acc) => math.abs(wall - acc) }.maxOption.getOrElse(0L)
      val spanJson = spans.map(s =>
        s"[${s.id}, ${s.parent}, ${s.op}, ${str(s.name)}, ${s.start}, ${s.end}]").mkString("[", ",\n", "]")
      s""", "per_layer": ${metrics(perLayer(rec, tr, spans))},
         | "self_ms_per_op": $selfJson,
         | "self_time_gap_us_max": $worstGap,
         | "span_fields": ["id", "parent", "op", "name", "start_us", "end_us"],
         | "spans": $spanJson""".stripMargin
    }
    s"""{"workload": ${str(args.workload)}, "seed": ${args.seed}, "trace": ${if (tr.on) 1 else 0},
       | "seconds": ${args.seconds}, "cores": ${args.cores},
       | "correct": ${failed == 0}, "attempted": ${rec.samples.size}, "failed": $failed,
       | "timed_samples": ${timed.size},
       | "setup_s_reps": ${rec.setupSecs.map(num).mkString("[", ", ", "]")},
       | "kinds": $kinds,
       | "ops": ${rec.samples.map(x => s"[${str(x.kind)}, ${num(x.ms)}, ${x.ok}]").mkString("[", ", ", "]")},
       | "end_to_end": ${metrics(endToEnd(rec))},
       | "extra": ${metrics(extra)}$traced}
       |""".stripMargin
  }
}
