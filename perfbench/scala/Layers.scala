package perfbench

import scala.jdk.CollectionConverters._

/** The per-layer metrics of a traced run. Every workload reports the full
  * list; a layer the workload bypasses reads 0. */
object Layers {
  private val catalogOps =
    for (f <- Seq("delta", "iceberg"); k <- Seq("insert", "update", "delete", "merge"))
      yield s"catalog.$f.${k}_ms"

  val names: Seq[String] = Seq(
    "sqlapi.dispatch_ms",
    "engine.catalyst_ms", "engine.actions", "engine.jobs", "engine.tasks", "engine.job_ms",
    "engine.task_ms", "engine.core_util", "engine.shuffle_mb", "engine.driver_gap_ms",
    "engine.unattributed_jobs") ++ catalogOps ++ Seq(
    "catalog.files_added", "catalog.files_removed", "catalog.live_files",
    "sources.delta_snapshot_ms", "sources.iceberg_snapshot_ms", "sources.log_version",
    "fs.list_calls", "fs.open_calls", "fs.create_calls", "fs.rename_calls", "fs.read_mb",
    "fs.write_mb", "fs.driver_ms",
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.fixed_ms",
    "streaming.rows_per_batch", "streaming.batches", "streaming.backlog_batches") ++
    CorpusPrep.names.map(n => s"operators.${n}_ms") ++ Seq(
    "operators.job_ms", "operators.gap_ms",
    "client.op_p50_ms", "client.op_p90_ms", "client.op_cpu_ms", "client.read_p50_ms", "client.read_tail_ms", "client.write_p50_ms", "client.write_tail_ms",
    "client.lag_p50_ms", "client.lag_tail_ms", "client.drain_rows_per_s", "client.gen_late_ms",
    "client.write_mb", "client.table_mb_end", "client.heap_retained_mb", "client.fail_ratio",
    "trace.wall_s", "trace.split_residual_pct", "trace.snapshot_share", "trace.fs_driver_share")

  /** Splits every window into job / Catalyst / driver-gap self time and
    * fills the engine, sqlapi and fs metrics from the listener spans. */
  def common(a: Args, o: Outcome): Unit = if (a.trace) {
    val m = o.layer
    val jobs = Trace.jobs.asScala.toSeq.sortBy(_.start)
    val wins = o.windows.toSeq.sortBy(_.lo)
    // a job belongs to the window it starts in when it carries that
    // window's job group; jobs on pool threads carry no group or a stale
    // one inherited when the thread was created, and stay unattributed
    def owner(j: Trace.Job): Option[Win] =
      wins.find(w => j.start >= w.lo && j.start <= w.hi).filter(_.group == j.group)
    val owned = jobs.flatMap(j => owner(j).map(w => (w, j))).groupBy(_._1).map {
      case (w, js) => w -> js.map(_._2)
    }
    val phaseIvs = Trace.actions.asScala.toSeq.flatMap(_.phases.map(p => (p._2, p._3)))
    val actionStarts = Trace.actions.asScala.toSeq.filter(_.phases.nonEmpty).map(_.phases.map(_._2).min)
    val stages = Trace.stages.asScala
    final case class Per(w: Win, s: Trace.Split, jobs: Int, tasks: Int, taskMs: Long,
        shuffle: Long, actions: Int)
    val per = o.windows.toSeq.map { w =>
      val js = owned.getOrElse(w, Nil)
      val s = Trace.split(w.lo, w.hi, js.map(j => (j.start, Trace.jobEnd(j))), phaseIvs)
      val st = js.flatMap(_.stages).distinct.flatMap(stages.get)
      Per(w, s, js.size, st.map(_.tasks).sum, st.map(_.taskMs).sum, st.map(_.shuffleBytes).sum,
        actionStarts.count(t => t >= w.lo && t < w.hi))
    }
    // the span tree, written once at the end: window -> Spark job -> stage,
    // each window with its self-time split
    Json.write(new java.io.File(a.run, "spans.json").getPath, per.map { p =>
      Json.map("id" -> p.w.group, "name" -> p.w.name, "kind" -> p.w.kind, "fmt" -> p.w.fmt,
        "start_ms" -> p.w.lo, "end_ms" -> p.w.hi, "wall_ms" -> p.w.ms,
        "sqlapi_ms" -> p.w.dispatchMs, "job_ms" -> p.s.job, "catalyst_ms" -> p.s.catalyst,
        "gap_ms" -> p.s.gap, "actions" -> p.actions, "cpu_ms" -> p.w.cpuMs,
        "fs" -> p.w.fs.map(f => Json.map("list" -> f.lists, "open" -> f.opens,
          "create" -> f.creates, "rename" -> f.renames, "read_bytes" -> f.read,
          "write_bytes" -> f.written)).orNull,
        "jobs" -> owned.getOrElse(p.w, Nil).map(j => Json.map("id" -> j.id,
          "start_ms" -> j.start, "end_ms" -> Trace.jobEnd(j),
          "stages" -> j.stages.flatMap(stages.get).map(st => Json.map("id" -> st.id,
            "tasks" -> st.tasks, "task_ms" -> st.taskMs))))) 
    }.asJava)
    def mean(f: Per => Double) = Stats.mean(per.map(f))
    m("sqlapi.dispatch_ms") = mean(_.w.dispatchMs)
    m("client.op_cpu_ms") = mean(_.w.cpuMs)
    m("engine.catalyst_ms") = mean(_.s.catalyst.toDouble)
    m("engine.actions") = mean(_.actions.toDouble)
    m("engine.jobs") = mean(_.jobs.toDouble)
    m("engine.tasks") = mean(_.tasks.toDouble)
    m("engine.job_ms") = mean(_.s.job.toDouble)
    m("engine.task_ms") = mean(_.taskMs.toDouble)
    m("engine.core_util") = per.map(_.taskMs).sum.toDouble /
      math.max(1.0, per.map(_.s.job).sum.toDouble * a.cores)
    m("engine.shuffle_mb") = mean(_.shuffle / 1048576.0)
    m("engine.driver_gap_ms") = mean(_.s.gap.toDouble)
    m("engine.unattributed_jobs") = jobs.count(j =>
      j.start >= o.measureStart && j.start <= o.measureEnd && owner(j).isEmpty) /
      math.max(1, per.size).toDouble
    // the split's parts sum to the epoch-ms window exactly; the residual is
    // how far that window is from the op's own nanosecond wall
    m("trace.split_residual_pct") = per.filter(_.w.ms >= 20).map { p =>
      100.0 * math.abs(p.s.job + p.s.catalyst + p.s.gap - p.w.ms) / p.w.ms
    }.maxOption.getOrElse(0.0)
    if (o.workload == "corpus_prep") {
      m("operators.job_ms") = m("engine.job_ms")
      m("operators.gap_ms") = m("engine.driver_gap_ms")
    }
    val n = math.max(1, o.windows.size).toDouble
    val fs = o.fsTotal
    m("fs.list_calls") = fs.lists / n
    m("fs.open_calls") = fs.opens / n
    m("fs.create_calls") = fs.creates / n
    m("fs.rename_calls") = fs.renames / n
    m("fs.read_mb") = fs.read / 1048576.0 / n
    m("fs.write_mb") = fs.written / 1048576.0 / n
    m("fs.driver_ms") = fs.driverNs / 1e6 / n
    val opMs = math.max(1e-9, Stats.mean(o.windows.map(_.ms).toSeq))
    m("trace.fs_driver_share") = m("fs.driver_ms") / opMs
    m("trace.wall_s") = o.e2e.getOrElse("wall_s", 0.0)
    names.foreach(k => if (!m.contains(k)) m(k) = 0.0)
  }
}
