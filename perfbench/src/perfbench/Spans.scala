package perfbench

/** Turns the traced run's operations and Spark events into spans and
  * per-round layer figures. A job belongs to the operation phase whose
  * time window contains its submission; spans of one operation share
  * the operation's id. */
object Spans {
  def attribute(ops: Seq[Op], l: Listener, rounds: Seq[(Int, Long, Long)])
      : (Map[String, Double], Seq[Map[String, Any]]) = {
    val jobs = l.synchronized(l.jobs.values.toSeq)
    val stageAcc = l.synchronized(l.stages.toMap)
    val completed = l.synchronized(l.completedStages.toSet)
    def phaseOf(o: Op, t: Long): String = {
      val b = o.startMs + math.round(o.build * 1000)
      val p = b + math.round(o.plan * 1000)
      if (t <= b) "build" else if (t <= p) "plan" else "exec"
    }
    def opOf(t: Long): Option[Op] = ops.find(o => t >= o.startMs && t <= o.endMs + 1)

    val spans = Seq.newBuilder[Map[String, Any]]
    ops.foreach { o =>
      val b = o.startMs + math.round(o.build * 1000)
      val p = b + math.round(o.plan * 1000)
      spans += Map("id" -> o.id, "name" -> s"${o.kind}:${o.name}", "start" -> o.startMs,
        "end" -> o.endMs, "parent" -> null, "round" -> o.round)
      spans += Map("id" -> o.id, "name" -> "build", "start" -> o.startMs, "end" -> b,
        "parent" -> s"${o.kind}:${o.name}")
      spans += Map("id" -> o.id, "name" -> "plan", "start" -> b, "end" -> p,
        "parent" -> s"${o.kind}:${o.name}")
      spans += Map("id" -> o.id, "name" -> "exec", "start" -> p, "end" -> o.endMs,
        "parent" -> s"${o.kind}:${o.name}")
    }
    jobs.foreach { j =>
      opOf(j.startMs).foreach { o =>
        spans += Map("id" -> o.id, "name" -> s"job:${j.id}", "start" -> j.startMs,
          "end" -> j.endMs, "parent" -> phaseOf(o, j.startMs),
          "stages" -> j.stages.count(completed), "tasks" -> j.stages.flatMap(stageAcc.get).map(_.tasks).sum)
      }
    }

    val perRound = rounds.map { case (i, s, e) =>
      val rOps = ops.filter(_.round == i)
      val rJobs = jobs.filter(j => j.startMs >= s && j.startMs <= e)
      val accs = rJobs.flatMap(_.stages).distinct.flatMap(stageAcc.get)
      val buildJobs = rJobs.count(j => opOf(j.startMs).exists(o => phaseOf(o, j.startMs) == "build"))
      val mb = 1048576.0
      Map(
        "operators.build_s" -> rOps.map(_.build).sum,
        "operators.build_jobs" -> buildJobs.toDouble,
        "planning.plan_s" -> rOps.map(_.plan).sum,
        "planning.exchanges" -> rOps.map(_.exchanges).sum.toDouble,
        "planning.reused_exchanges" -> rOps.map(_.reused).sum.toDouble,
        "exec.exec_s" -> rOps.map(_.exec).sum,
        "exec.jobs" -> rJobs.size.toDouble,
        "exec.stages" -> rJobs.flatMap(_.stages).distinct.count(completed).toDouble,
        "exec.tasks" -> accs.map(_.tasks).sum.toDouble,
        "exec.task_s" -> accs.map(_.runMs).sum / 1e3,
        "exec.task_cpu_s" -> accs.map(_.cpuNs).sum / 1e9,
        "exec.shuffle_read_mb" -> accs.map(_.shuffleRead).sum / mb,
        "exec.shuffle_write_mb" -> accs.map(_.shuffleWrite).sum / mb,
        "exec.spill_mb" -> accs.map(_.spill).sum / mb,
        "trace.overhead_s" -> ((e - s) / 1e3 - rOps.map(_.wall).sum),
        "trace.coverage_min" -> rOps.map(o =>
          if (o.wall <= 0) 1.0 else (o.build + o.plan + o.exec) / o.wall).minOption.getOrElse(1.0))
    }
    val merged = Stats.medians(perRound).map { case (k, v) =>
      if (k == "trace.coverage_min") k -> perRound.map(_(k)).min else k -> v
    }
    (merged, spans.result())
  }
}
