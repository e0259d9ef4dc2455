package perfbench

/** Per-layer metrics of one traced op. Layers are the engine's modules:
  * `engine` (orchestration and Catalyst planning), `pit` (the as-of kernel),
  * `skew` (hot-key spread), `feat` (window features), `sources` (scan and
  * write) and `exec` (the executor pool every layer shares).
  */
object Layers {
  val Names: Seq[String] = Seq(
    "engine.call_s", "engine.plan_s", "engine.jobs",
    "engine.partition_s_p50", "engine.partition_s_max",
    "pit.exchanges", "pit.sort_s", "pit.probe_rows", "pit.output_rows", "pit.match_ratio",
    "skew.task_max_over_median", "skew.straggler_s",
    "feat.window_task_s",
    "sources.scan_s", "sources.scan_mb", "sources.files_read",
    "sources.write_s", "sources.write_mb", "sources.files_written",
    "exec.task_s", "exec.cpu_s", "exec.gc_s", "exec.tasks", "exec.idle_core_s",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.fetch_wait_s", "exec.spill_mb",
    "exec.failed_tasks")

  def unit(name: String): String =
    if (name.endsWith("_s") || name.endsWith("_p50") || name.endsWith("_max")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_ratio") || name.endsWith("_over_median")) "ratio"
    else "count"

  private val MB = 1048576.0

  /** The retrieval's forced query is the one the `force.noop` span caused. */
  private val PitCause = "force.noop"

  def metrics(op: OpTrace, out: OpOut, wallS: Double, cores: Int): Map[String, Double] = {
    val q = op.queries
    def qsum(pred: String => Boolean, qs: Seq[QueryRec] = q): Double =
      qs.flatMap(_.metrics.collect { case (k, v) if pred(k) => v }).sum
    val pit = q.filter(_.cause == PitCause)
    val tasks = op.tasks.filter(_.ok)
    // skew numbers come from the post-shuffle stage (where a hot key lands in
    // one task) that loses the most time to its slowest task (largest max −
    // median task time)
    def spread(st: StageRec): (Seq[Double], Double) = {
      val r = st.tasks.map(_.runS).sorted
      (r, r.last - Main.median(r))
    }
    val runs = op.stages.filter(s => s.tasks.size > 1 && s.tasks.forall(_.shuffleReadB > 0))
      .map(spread).sortBy(-_._2).headOption.map(_._1).getOrElse(Nil)
    val taskMed = Main.median(runs)
    val parts = out.partitionS.sorted
    val scan = (k: String) => k.startsWith("Scan ")
    val write = (k: String) => k.startsWith("Execute InsertIntoHadoopFsRelationCommand.")
    val taskS = tasks.map(_.runS).sum
    Map(
      "engine.call_s" -> out.callS,
      "engine.plan_s" -> q.map(_.planS).sum,
      "engine.jobs" -> op.jobs.toDouble,
      "engine.partition_s_p50" -> Main.median(parts),
      "engine.partition_s_max" -> parts.lastOption.getOrElse(0.0),
      "pit.exchanges" -> pit.map(_.shuffles).sum.toDouble,
      "pit.sort_s" -> qsum(_ == "Sort.sortTime", pit) / 1e3,
      "skew.task_max_over_median" -> (if (taskMed > 0) runs.last / taskMed else 0.0),
      "skew.straggler_s" -> (if (runs.isEmpty) 0.0 else runs.last - taskMed),
      "feat.window_task_s" -> op.stages
        .filter(s => s.cause == "engine.Backfill.run" && s.scopes.contains("Window"))
        .flatMap(_.tasks.map(_.runS)).sum,
      "sources.scan_s" -> qsum(k => scan(k) && k.endsWith(".scanTime")) / 1e3,
      "sources.scan_mb" -> qsum(k => scan(k) && k.endsWith(".filesSize")) / MB,
      "sources.files_read" -> qsum(k => scan(k) && k.endsWith(".numFiles")),
      "sources.write_s" -> qsum(k => write(k) && k.endsWith("CommitTime")) / 1e3,
      "sources.write_mb" -> qsum(k => write(k) && k.endsWith(".numOutputBytes")) / MB,
      "sources.files_written" -> qsum(k => write(k) && k.endsWith(".numFiles")),
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> tasks.map(_.cpuS).sum,
      "exec.gc_s" -> tasks.map(_.gcS).sum,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.idle_core_s" -> (cores * wallS - taskS),
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWriteB).sum / MB,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleReadB).sum / MB,
      "exec.fetch_wait_s" -> tasks.map(_.fetchWaitS).sum,
      "exec.spill_mb" -> tasks.map(_.spillB).sum / MB,
      "exec.failed_tasks" -> op.tasks.count(!_.ok).toDouble)
  }
}
