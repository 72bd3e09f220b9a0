package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer numbers of the traced ops of a run. Listener events are
  * attributed to the timed op whose span contains them. Every value is a
  * mean per traced op except: ratios and shares; `exec.busy_cores` (task
  * time / op wall); `exec.task_wait_s` (mean per task); `kv.write_job_ms`
  * and `kv.commit_ms` (mean per upsert); `kv.hosts_touched` (mean per KV
  * scan); `stream.*_ms` (mean per micro-batch); `stream.state_rows` (mean
  * over streaming ops of their peak); and the run totals
  * `exec.tasks_failed`, `kv.nonreplica_splits` and `trace.spans`. */
object Layers {
  private val Slack = 1.0 // listener clocks have millisecond resolution

  def compute(run: Run): (Map[String, Metric], Seq[Span]) = {
    val t = run.tracer
    val bench = t.spans.toIndexedSeq
    val ops = bench.filter(_.parent < 0)
    val n = math.max(1, ops.length)
    val starts = ops.map(_.start).toArray
    /** the traced op running at wall time `x`, if any */
    def opAt(x: Double): Option[Span] = {
      val i = java.util.Arrays.binarySearch(starts, x + Slack) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i >= 0 && x <= ops(i).end + Slack) Some(ops(i)) else None
    }
    def inOps(x: Double): Boolean = opAt(x).nonEmpty
    def within(s: Span, x: Double): Boolean = x >= s.start - Slack && x <= s.end + Slack
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    val MB = 1024.0 * 1024.0

    val jobs = t.jobs.asScala.toSeq.filter(j => inOps(j._2.toDouble))
    val constructs = bench.filter(_.name == "construct")
    val constructJobs = jobs.count(j => constructs.exists(within(_, j._2.toDouble)))
    val tasks = t.tasks.asScala.toSeq.filter(k => inOps(k.launch.toDouble))
    val stages = t.stagesDone.asScala.toSeq.filter(s => inOps(s._2.toDouble))
    def qeAt(q: QeStat): Double =
      q.phases.values.map(_._2).maxOption.getOrElse(q.endMs)
    val qes = t.qes.asScala.toSeq.filter(q => inOps(qeAt(q)))
    val progress = t.progress.asScala.toSeq.filter(p => inOps(p.atMs))
    val opMs = ops.map(_.dur).sum
    def phase(name: String) = qes.flatMap(_.phases.get(name)).map(p => p._2 - p._1).sum / n

    val m = mutable.LinkedHashMap[String, Metric]()
    def put(name: String, v: Double, unit: String, samples: Int = n): Unit =
      m(name) = Metric(v, unit, samples)

    put("construct.s", constructs.map(_.dur).sum / 1e3 / n, "s")
    put("construct.jobs", constructJobs.toDouble / n, "count")
    put("construct.share", ratio(constructs.map(_.dur).sum, opMs), "ratio")
    put("catalyst.analysis_ms", phase("analysis"), "ms")
    put("catalyst.optimizer_ms", phase("optimization"), "ms")
    put("catalyst.planning_ms", phase("planning"), "ms")

    put("exec.jobs", jobs.length.toDouble / n, "count")
    put("exec.stages", stages.length.toDouble / n, "count")
    put("exec.tasks", tasks.length.toDouble / n, "count")
    put("exec.tasks_failed", tasks.count(_.failed).toDouble, "count")
    put("exec.task_s", tasks.map(_.runMs).sum / 1e3 / n, "s")
    put("exec.cpu_s", tasks.map(_.cpuNs).sum / 1e9 / n, "s")
    put("exec.gc_s", tasks.map(_.gcMs).sum / 1e3 / n, "s")
    put("exec.busy_cores", ratio(tasks.map(_.runMs).sum.toDouble, opMs), "cores")
    // the mean wait of a task between its stage's submission and its launch
    put("exec.task_wait_s", ratio(tasks.map { k =>
      Option(t.stageSubmit.get(k.stage)).map(s => math.max(0L, k.launch - s)).getOrElse(0L)
    }.sum / 1e3, tasks.length), "s", tasks.length)
    put("exec.shuffle_read_mb", tasks.map(_.shuffleReadB).sum / MB / n, "MB")
    put("exec.shuffle_write_mb", tasks.map(_.shuffleWriteB).sum / MB / n, "MB")
    put("exec.fetch_wait_s", tasks.map(_.fetchWaitMs).sum / 1e3 / n, "s")
    put("exec.spill_mb", tasks.map(_.spillB).sum / MB / n, "MB")

    val rowsOut = ops.map(o => run.opRows.getOrElse(o.op, 0L)).sum.toDouble
    val fileRows = qes.map(_.fileRows).sum.toDouble
    put("tables.files", qes.map(_.files).sum.toDouble / n, "count")
    put("tables.rows_scanned", fileRows / n, "rows")
    put("tables.rows_per_result", ratio(fileRows, rowsOut), "ratio")
    put("tables.scan_ms", qes.map(_.fileScanMs).sum / n, "ms")

    val kvQes = qes.filter(_.kvSplits > 0)
    val kvRows = qes.map(_.kvRows).sum.toDouble
    val kvOpRows = ops.filter(o => kvQes.exists(q => within(o, qeAt(q))))
      .map(o => run.opRows.getOrElse(o.op, 0L)).sum.toDouble
    put("kv.splits_planned", qes.map(_.kvSplits).sum.toDouble / n, "count")
    put("kv.splits_per_read", ratio(qes.map(_.kvSplits).sum.toDouble,
      qes.map(_.kvNonEmpty).sum.toDouble), "ratio")
    put("kv.rows_served", kvRows / n, "rows")
    put("kv.rows_per_result", ratio(kvRows, kvOpRows), "ratio")
    // an upsert's write jobs, and the time from its last job's end until
    // the write call returns (the commit into the store)
    val upserts = ops.filter(_.name == "upsert")
    val upsertJobs = upserts.map(o => o -> jobs.filter(j => within(o, j._2.toDouble)))
    put("kv.write_job_ms", ratio(upsertJobs.map(_._2.map(j => j._3 - j._2).sum).sum.toDouble,
      upserts.length), "ms", upserts.length)
    put("kv.commit_ms", ratio(upsertJobs.collect { case (o, js) if js.nonEmpty =>
      o.end - js.map(_._3).max }.sum, upsertJobs.count(_._2.nonEmpty)), "ms", upserts.length)
    put("kv.nonreplica_splits", qes.map(_.kvNonReplica).sum.toDouble, "count")
    put("kv.hosts_touched", ratio(kvQes.map(_.kvHosts.size).sum.toDouble, kvQes.length),
      "count", kvQes.length)

    val catWrites = qes.filter(_.catalogWrite)
    put("catalog.writes", catWrites.length.toDouble / n, "count")
    put("catalog.write_ms", catWrites.map(_.durMs).sum / n, "ms")
    put("catalog.rows_served", qes.map(_.catRows).sum.toDouble / n, "rows")

    def perBatch(k: String) = ratio(progress.map(_.durations.getOrElse(k, 0L)).sum.toDouble,
      progress.length)
    val streamOps = progress.groupBy(p => opAt(p.atMs).map(_.op))
    put("stream.batches", progress.length.toDouble / n, "count")
    put("stream.trigger_ms", perBatch("triggerExecution"), "ms", progress.length)
    put("stream.addbatch_ms", perBatch("addBatch"), "ms", progress.length)
    put("stream.planning_ms", perBatch("queryPlanning"), "ms", progress.length)
    put("stream.walcommit_ms", perBatch("walCommit"), "ms", progress.length)
    put("stream.state_rows", ratio(streamOps.values.map(_.map(_.stateRows).max).sum.toDouble,
      streamOps.size), "rows", streamOps.size)

    // listener-side spans join the benchmark's: each under the innermost
    // benchmark span or micro-batch trigger that contains its start
    def canParent(s: Span) = s.name != "job" && !s.name.startsWith("catalyst.")
    val extra = mutable.ArrayBuffer.empty[(String, Double, Double)]
    progress.foreach(p => extra += (("stream.trigger",
      p.atMs, p.atMs + p.durations.getOrElse("triggerExecution", 0L))))
    jobs.foreach(j => extra += (("job", j._2.toDouble, j._3.toDouble)))
    qes.foreach(_.phases.foreach { case (k, (s, e)) => extra += ((s"catalyst.$k", s, e)) })
    val all = mutable.ArrayBuffer.from(bench)
    extra.sortBy(x => (x._2, -x._3)).foreach { case (name, s, e) =>
      val parent = all.indices
        .filter(i => canParent(all(i)) && all(i).name != name && within(all(i), s))
        .minByOption(i => all(i).dur).getOrElse(-1)
      all += Span(name, s, e, if (parent >= 0) all(parent).op else -1, parent)
    }
    val children = all.indices.groupBy(all(_).parent)
    def self(i: Int): Double = {
      val p = all(i)
      val kids = children.getOrElse(i, Nil).map(all(_))
        .map(c => (math.max(c.start, p.start), math.min(c.end, p.end)))
        .filter(c => c._2 > c._1).sortBy(_._1)
      var covered = 0.0
      var (from, to) = (Double.NaN, Double.NaN)
      kids.foreach { case (s, e) =>
        if (from.isNaN || s > to) {
          if (!from.isNaN) covered += to - from
          from = s; to = e
        } else to = math.max(to, e)
      }
      if (!from.isNaN) covered += to - from
      p.dur - covered
    }
    def layerOf(s: Span): String =
      if (s.parent < 0) "op"
      else if (s.name.startsWith("catalyst.")) "catalyst"
      else if (s.name == "stream.trigger") "stream"
      else if (s.name == "job") "jobs"
      else s.name
    val selfBy = all.indices.groupBy(i => layerOf(all(i)))
      .map { case (k, is) => k -> is.map(self).sum }
    Seq("op", "construct", "execute", "catalyst", "stream", "jobs").foreach { k =>
      put(s"self.${k}_ms", selfBy.getOrElse(k, 0.0) / n, "ms")
    }

    // tracing overhead: traced vs untraced median latency of each op kind,
    // leaving out the settling window
    val byKind = run.samples.filter(_.window > 0).groupBy(_.kind)
    val ratios = byKind.values.flatMap { s =>
      val (on, off) = s.partition(_.traced)
      if (on.isEmpty || off.isEmpty) None
      else Some(Stats.median(on.map(_.ms).toSeq) / Stats.median(off.map(_.ms).toSeq))
    }.toSeq
    put("trace.overhead_share",
      if (ratios.isEmpty) 0.0 else Stats.geomean(ratios) - 1, "ratio", ratios.length)
    put("trace.spans", all.length.toDouble, "count")
    (scala.collection.immutable.ListMap.from(m), all.toSeq)
  }
}
