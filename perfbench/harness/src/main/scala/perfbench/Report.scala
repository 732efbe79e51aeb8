package perfbench

/** Metrics of one run, the readable report and the final JSON line. */
final case class Report(
    header: String,
    endToEnd: Seq[(String, Double, String)],
    perLayer: Seq[(String, Double, String)],
    notes: Seq[String],
    trace: Boolean,
    correct: Boolean,
    attempted: Int,
    failed: Int) {

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""
  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString("{", ", ", "}")

  def json: String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${
      metricsJson(if (trace) perLayer else endToEnd)}}"""

  def print(): Unit = {
    println(header)
    endToEnd.foreach { case (k, v, u) => println(f"end_to_end $k%-24s $v%14.4f $u") }
    if (trace) perLayer.foreach { case (k, v, u) => println(f"per_layer  $k%-24s $v%14.4f $u") }
    notes.foreach(n => println(s"note $n"))
    println(json)
  }
}

object Report {
  /** End-to-end metrics in the final JSON of an untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s_p50" -> "s", "ops_per_s" -> "1/s", "rss_peak_mb" -> "MB")

  /** Per-layer metrics in the final JSON of a traced run: means per timed
    * op (`mr.*` times per façade job), except ratios and rates.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "entry.build_ms" -> "ms/op",
    "driver.analysis_ms" -> "ms/op", "driver.optimization_ms" -> "ms/op",
    "driver.planning_ms" -> "ms/op",
    "codegen.units" -> "count/op", "codegen.compile_ms" -> "ms/op",
    "sched.jobs" -> "count/op", "sched.stages" -> "count/op", "sched.tasks" -> "count/op",
    "sched.driver_gap_ms" -> "ms/op",
    "task.run_ms" -> "ms/op", "task.cpu_ms" -> "ms/op", "task.gc_ms" -> "ms/op",
    "task.deser_ms" -> "ms/op",
    "shuffle.write_bytes" -> "B/op", "shuffle.write_records" -> "count/op",
    "shuffle.write_ms" -> "ms/op", "shuffle.fetch_wait_ms" -> "ms/op",
    "shuffle.spill_bytes" -> "B/op",
    "scan.bytes" -> "B/op", "scan.records" -> "count/op",
    "mr.map_ms" -> "ms/job", "mr.shuffle_ms" -> "ms/job", "mr.reduce_ms" -> "ms/job",
    "mr.combine_ratio" -> "ratio", "mr.shuffle_bytes_per_pair" -> "B/pair",
    "mr.pairs_per_s" -> "1/s",
    "mr.combiner.combine_ratio" -> "ratio", "mr.combiner.pairs_per_s" -> "1/s",
    "mr.no_combiner.combine_ratio" -> "ratio", "mr.no_combiner.pairs_per_s" -> "1/s",
    "stream.batches" -> "count/op", "stream.planning_ms" -> "ms/op",
    "stream.add_batch_ms" -> "ms/op", "stream.commit_ms" -> "ms/op",
    "stream.state_commit_ms" -> "ms/op", "stream.state_rows" -> "count/op",
    "sources.fs_write_ops" -> "count/op", "sources.fs_read_ops" -> "count/op",
    "sources.fs_bytes_written" -> "B/op",
    "jvm.gc_ms" -> "ms/op", "jvm.process_cpu_ms" -> "ms/op",
    "host.steal_frac" -> "ratio", "host.iowait_frac" -> "ratio",
    "self.entry_ms" -> "ms/op", "self.stream_ms" -> "ms/op", "self.driver_ms" -> "ms/op",
    "self.sched_ms" -> "ms/op", "self.task_ms" -> "ms/op", "self.unattributed_ms" -> "ms/op",
    "trace.op_s_p50" -> "s", "trace.ops_per_s" -> "1/s")

  def build(a: Main.Args, ops: Seq[Op], records: Seq[OpRecord], warm: Seq[OpRecord],
      sessionS: Double, setupS: Double, windowS: Double, amb: Stats.Ambient, wrong: Map[String, String],
      complete: Boolean, tracer: Option[Tracer]): Report = {
    val ok = records.filter(_.ok)
    val times = ok.map(_.seconds)
    val p50 = if (times.isEmpty) 0.0 else Stats.median(times)
    val opsPerS = ok.size / math.max(windowS, 1e-9)
    val byName = ops.map(o => o.name -> o).toMap
    val gen = ok.filter(r => byName(r.name).pairs > 0)
    def pairsPerS(rs: Seq[OpRecord]): Double =
      rs.map(r => byName(r.name).pairs).sum / rs.map(_.seconds).sum
    val genByKind = gen.groupBy(r => MrJob.kind(byName(r.name)).getOrElse("other"))
    val warmFailed = warm.filter(!_.ok)
    val failed = records.count(!_.ok)
    val values = Map(
      "setup_s" -> setupS, "op_s_p50" -> p50, "ops_per_s" -> opsPerS,
      "rss_peak_mb" -> Stats.rssPeakMb())
    val n = math.max(1, records.size).toDouble
    val ambient = Map(
      "jvm.gc_ms" -> amb.gcMs / n, "jvm.process_cpu_ms" -> amb.cpuMs / n,
      "host.steal_frac" -> amb.stealFrac, "host.iowait_frac" -> amb.iowaitFrac,
      "trace.op_s_p50" -> p50, "trace.ops_per_s" -> opsPerS)
    val layers = tracer.map(_.report(records, ops)).getOrElse(Map.empty) ++ ambient

    val tail = Stats.tailPercentile(times.size).filter(_ > 50).map { p =>
      f"op_s_p$p%d ${Stats.percentile(times, p / 100.0)}%.4f s (n=${times.size}%d)"
    }.getOrElse(s"no percentile above p50 has 10 samples beyond it (n=${times.size})")
    val notes =
      Seq(f"op_s_p50 ${p50}%.4f s (n=${times.size}%d)", tail,
        f"failed_frac ${failed / n}%.4f ($failed%d of ${records.size}%d)") ++
        (if (gen.isEmpty) Nil
        else Seq(f"mr_pairs_per_s ${pairsPerS(gen)}%.1f 1/s (" + genByKind.toSeq.sortBy(_._1)
          .map { case (k, rs) => f"$k ${pairsPerS(rs)}%.1f" }.mkString(", ") + ")")) ++
        ok.groupBy(_.name).toSeq.sortBy(_._1).map { case (k, rs) =>
          f"op $k median ${Stats.median(rs.map(_.seconds))}%.4f s (n=${rs.size}%d)"
        } ++
        Seq(f"ambient steal_frac ${amb.stealFrac}%.4f iowait_frac ${amb.iowaitFrac}%.4f gc_ms ${amb.gcMs}%d jit_ms ${amb.jitMs}%d",
          f"session ${sessionS}%.2f s, warm-up ${setupS - sessionS}%.2f s (${warm.size}%d ops), " +
            f"window ${windowS}%.2f s (${records.map(_.pass).distinct.size}%d passes)",
          s"output check ${if (wrong.isEmpty) "passed" else "FAILED"} on ${warm.size} ops") ++
        wrong.toSeq.sorted.map { case (k, v) => s"wrong $k: $v" } ++
        warmFailed.map(r => s"warm-up run failed ${r.name}: ${r.error.get}") ++
        records.filter(!_.ok).groupBy(r => (r.name, r.error.get)).toSeq.sortBy(_._1)
          .map { case ((k, e), rs) => s"failed $k ${rs.size}x $e" } ++
        (if (complete) Nil else Seq("INCOMPLETE: the run hit its deadline"))
    Report(
      s"perfbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0} cpus=${a.cpus}",
      EndToEnd.map { case (k, u) => (k, values(k), u) },
      PerLayer.map { case (k, u) => (k, layers.getOrElse(k, 0.0), u) },
      notes, a.trace,
      correct = complete && failed == 0 && warmFailed.isEmpty,
      attempted = math.max(1, records.size), failed = failed)
  }
}
