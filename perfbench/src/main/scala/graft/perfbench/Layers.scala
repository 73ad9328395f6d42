package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Turns what a traced run recorded into the per-layer metrics. Counts and
  * times are per traced pass (totals divided by the number of traced
  * passes), so `scheduler.job_busy_s + scheduler.driver_gap_s` equals
  * `trace.wall_s`, and `queries.construct_s + queries.execute_s` plus the
  * cache clearing between queries makes up `trace.wall_s`. */
object Layers {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def compute(p: Probe, s: Samples, passes: Seq[Runner.Pass], cores: Int,
      coldSetupS: Double, warmPassS: Double,
      artifactDirs: Seq[Path]): Seq[(String, Double)] = p.synchronized {
    val traced = passes.filter(_.traced)
    val untraced = passes.filterNot(_.traced)
    val n = traced.size.toDouble
    val wall = traced.map(_.wallS).sum / n
    val tq = traced.flatMap(_.queries)
    val constructJobs = p.jobs.count { j =>
      s.queries.exists(q => q.group == j.group && j.startMs <= q.builtMs)
    }
    // union of job intervals inside the traced passes: time in which the
    // scheduler had at least one job running
    val busyMs = s.passWalls.map { case (a, b) =>
      val iv = p.jobs.map(j => (math.max(a, j.startMs.toDouble), math.min(b, j.endMs.toDouble)))
        .filter { case (x, y) => y > x }.sortBy(_._1)
      var total = 0.0
      var end = a
      iv.foreach { case (x, y) =>
        val from = math.max(x, end)
        if (y > from) { total += y - from; end = y }
      }
      total
    }.sum
    val busy = busyMs / 1000 / n
    val writes = p.execs.filter(_.graftWrite)
    val files = artifactDirs.flatMap { d =>
      val st = Files.walk(d)
      try st.iterator().asScala.filter(f => Files.isRegularFile(f)).map(Files.size).toSeq
      finally st.close()
    }
    val runS = p.runMs / 1000.0 / n
    Seq(
      "queries.construct_s" -> tq.map(_.constructS).sum / n,
      "queries.execute_s" -> tq.map(_.executeS).sum / n,
      "queries.construct_jobs" -> constructJobs / n,
      "catalyst.analysis_s" -> p.execs.map(_.analysis).sum / 1000.0 / n,
      "catalyst.optimization_s" -> p.execs.map(_.optimization).sum / 1000.0 / n,
      "catalyst.planning_s" -> p.execs.map(_.planning).sum / 1000.0 / n,
      "catalyst.query_executions" -> (p.execs.size + p.failedExecs) / n,
      "scheduler.jobs" -> p.jobs.size / n,
      "scheduler.stages" -> p.stages / n,
      "scheduler.tasks" -> p.tasks / n,
      "scheduler.job_busy_s" -> busy,
      "scheduler.driver_gap_s" -> (wall - busy),
      "executor.run_s" -> runS,
      "executor.cpu_s" -> p.cpuNs / 1e9 / n,
      "executor.gc_s" -> p.gcMs / 1000.0 / n,
      "executor.deserialize_s" -> p.deserMs / 1000.0 / n,
      "executor.busy_frac" -> runS / (wall * cores),
      "shuffle.write_bytes" -> p.shuffleWrite / n,
      "shuffle.read_bytes" -> p.shuffleRead / n,
      "shuffle.fetch_wait_s" -> p.fetchWaitMs / 1000.0 / n,
      "shuffle.spill_bytes" -> p.spill / n,
      "sources.scan_bytes" -> p.execs.map(_.scanBytes).sum / n,
      "sources.scan_rows" -> p.execs.map(_.scanRows).sum / n,
      "graftshard.write_cmds" -> writes.size / n,
      "graftshard.write_s" -> writes.map(_.actionMs).sum / 1000.0 / n,
      "graftshard.files_on_disk" -> files.size.toDouble,
      "graftshard.disk_bytes" -> files.sum.toDouble,
      "cache.persisted_frames" -> s.persistedFrames / n,
      "cache.peak_cached_bytes" -> s.peakCachedBytes.toDouble,
      "jvm.heap_used_peak_bytes" -> s.peakHeapUsed.toDouble,
      "trace.wall_s" -> wall,
      "trace.overhead_frac" -> (median(traced.map(_.wallS)) / median(untraced.map(_.wallS)) - 1),
      "steady.drift_frac" -> (untraced.head.wallS / median(untraced.map(_.wallS)) - 1),
      "setup.cold_s" -> coldSetupS,
      "setup.warm_pass_s" -> warmPassS)
  }

  /** The scan-byte metric must come from the scan nodes: q1 reads lineitem
    * once, so its bytes per pass are above 0 and at most the table's size. */
  def selfCheck(p: Probe, s: Samples, queries: Seq[String], dir: String): Option[String] =
    if (!queries.contains("q1_flagship")) None
    else p.synchronized {
      val q1 = s.queries.filter(_.name == "q1_flagship")
      val bytes = p.execs.filter(e =>
        q1.exists(q => e.startMs >= q.startMs && e.startMs <= q.endMs)).map(_.scanBytes).sum
      val perPass = bytes.toDouble / q1.size
      val st = Files.walk(java.nio.file.Paths.get(dir, "lineitem.parquet"))
      val size = try st.iterator().asScala.filter(f => Files.isRegularFile(f))
        .map(Files.size).sum finally st.close()
      if (perPass > 0 && perPass <= size) None
      else Some(s"q1 scan bytes per pass $perPass outside (0, $size]")
    }

  /** Job and QueryExecution spans; a job's parent is its job group (the
    * query span), a QueryExecution's the query whose window it started in. */
  def jobSpans(p: Probe, s: Samples): Seq[Span] = p.synchronized {
    p.jobs.toSeq.map(j => Span(s"job-${j.id}", j.group, "job", s"job ${j.id}",
      j.startMs.toDouble, j.endMs.toDouble)) ++
      p.execs.zipWithIndex.map { case (e, i) =>
        val parent = s.queries.find(q => e.startMs >= q.startMs && e.startMs <= q.endMs)
        Span(s"qe-$i", parent.map(_.group).getOrElse(""), "query_execution",
          s"analysis=${e.analysis}ms optimization=${e.optimization}ms planning=${e.planning}ms",
          e.startMs.toDouble, e.endMs.toDouble)
      }
  }
}
