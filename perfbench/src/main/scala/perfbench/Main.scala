package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** One timed operation: its kind (a query name, or a KV request class), its
  * latency, whether listeners were attached while it ran, and the window
  * of a traced run it ran in (0 in an untraced run). */
final case class Sample(kind: String, ms: Double, traced: Boolean, window: Int)

/** The benchmark's JVM side. Runs one workload against the engine's public
  * API, times it, checks its outputs, and writes `<out>/result.json`:
  *
  * {{{
  * perfbench.Main --workload kv_oltp --seed 1 --seconds 10 --trace 0 \
  *   --data <tables dir> --out <result dir>
  * }}}
  *
  * `perfbench/run.py` builds this, generates the tables, runs it and
  * finishes the correctness check against the DuckDB oracle. */
object Main {
  /** Query workloads: their queries, and the nominal wall of one warm pass
    * on a 4-core host, which sets how many passes a window of `--seconds`
    * holds (a fixed count for a given window, so that runs differ only in
    * what they measure, not in how many passes they average). */
  val Workloads: Map[String, (Seq[String], Double)] = Map(
    "iterative_cdc" -> ((Seq("q_connected_components", "q_stream_kv_cdc",
      "q_stream_catalog_cdc"), 6.5)))

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors
    // the session the engine's own correctness and bench harnesses use
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val run = new Run(spark, o("workload"), o("seed").toLong,
      o("seconds").toDouble, o("trace") == "1", o("data"), o("out"), sessionS)
    val result =
      try run.execute()
      finally spark.stop()
    Files.writeString(Paths.get(o("out"), "result.json"), Stats.json(result))
  }
}

final class Run(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, val trace: Boolean, data: String, out: String,
    sessionS: Double) {
  val tracer = new Tracer
  val samples = mutable.ArrayBuffer.empty[Sample]
  /** wall of each complete pass (`kv_oltp`: deck), seconds */
  val passes = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** result rows of each query (from the check pass), and of each timed op */
  val resultRows = mutable.HashMap.empty[String, Long]
  val opRows = mutable.HashMap.empty[Long, Long]
  /** each query's wall in the warm-up (check) pass */
  val warmMs = mutable.LinkedHashMap.empty[String, Double]
  private var nextOp = 0L
  private var currentOp = -1L
  private var window = 0
  def tracing: Boolean = tracer.on

  /** Records how many rows the current timed op returned. */
  def returned(n: Long): Unit = if (currentOp >= 0) opRows(currentOp) = n

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    failures += s"$what: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
  }

  /** Runs `body` as one timed op: a top-level span, a latency sample. */
  def timedOp[T](kind: String)(body: => T): T = {
    val id = nextOp
    nextOp += 1
    currentOp = id
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(kind, id)(body)
      samples += Sample(kind, (System.nanoTime() - t0) / 1e6, tracing, window)
      r
    } finally currentOp = -1
  }

  /** The live set: heap in use right after a full collection. Spark drops
    * the blocks of checkpointed and cached data only after a collection has
    * found them unreachable, on a thread of its own; so this collects three
    * times, a quarter second apart, and keeps the least, which does not
    * count blocks whose release was already under way. */
  def liveHeapMb(): Double = (1 to 3).map { i =>
    if (i > 1) Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def execute(): Map[String, Any] = {
    val w: Workload =
      if (workload == "kv_oltp") new KvOltp(this, spark, seed, data)
      else {
        val (names, nominalPassS) = Main.Workloads.getOrElse(workload,
          sys.error(s"unknown workload $workload"))
        new QueryList(this, spark, names, nominalPassS, data, out)
      }
    // set-up: the session (once per JVM), then the workload's staging three
    // times (median), then one warm-up that also checks every output
    val stageS = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      w.stage(i)
      (System.nanoTime() - t0) / 1e9
    }
    val tw = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Stats.median(stageS) + warmS
    var heapPeak = liveHeapMb()

    val t0 = System.nanoTime()
    if (!trace) w.measure(seconds)
    else {
      // quarter windows: one untraced to let the JIT settle, then traced,
      // untraced, untraced, traced, so that traced and untraced ops sit at
      // the same mean point of the JVM's warm-up; the difference between
      // them is the tracing overhead
      Seq(false, true, false, false, true).zipWithIndex.foreach { case (on, i) =>
        window = i
        if (on) tracer.attach(spark)
        w.measure(seconds / 4)
        if (on) tracer.detach(spark)
      }
      tracer.drain()
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    heapPeak = math.max(heapPeak, liveHeapMb())

    val e2e = mutable.LinkedHashMap[String, Metric]()
    val timed = samples.toSeq
    val byClass = w.classes
    def pct(cls: String, p: Double): Metric = {
      val xs = timed.filter(s => byClass(s.kind) contains cls).map(_.ms)
      Metric(Stats.percentile(xs, p), "ms", xs.length)
    }
    val passWalls = passes.toSeq
    val perKind = timed.groupBy(_.kind).values.map(s => Stats.median(s.map(_.ms)) / 1e3)
    e2e("setup_s") = Metric(setupS, "s", 3)
    e2e("pass_s") = Metric(Stats.median(passWalls), "s", passWalls.length)
    e2e("query_geomean_s") = Metric(Stats.geomean(perKind.toSeq), "s", perKind.size)
    e2e("read_p50_ms") = pct("read", 0.50)
    e2e("read_p95_ms") = pct("read", 0.95)
    e2e("write_p50_ms") = pct("write", 0.50)
    e2e("write_p90_ms") = pct("write", 0.90)
    e2e("scan_p50_ms") = pct("scan", 0.50)
    e2e("ops_per_s") = Metric(timed.length / wallS, "1/s", timed.length)
    e2e("heap_live_peak_mb") = Metric(heapPeak, "MB", 2)

    val layers =
      if (!trace) Map.empty[String, Metric]
      else {
        val (metrics, spans) = Layers.compute(this)
        val lines = spans.map(s => Stats.json(mutable.LinkedHashMap(
          "name" -> s.name, "start" -> s.start, "end" -> s.end,
          "parent" -> s.parent, "op" -> s.op)))
        Files.writeString(Paths.get(out, "spans.jsonl"), lines.mkString("", "\n", "\n"))
        metrics
      }
    Map(
      "workload" -> workload, "seed" -> seed, "attempted" -> attempted,
      "failed" -> failed, "failures" -> failures.toSeq,
      "checked" -> w.checked, "setup" -> Map("session_s" -> sessionS,
        "stage_s" -> stageS, "warmup_s" -> warmS, "warmup_ms" -> warmMs),
      "end_to_end" -> e2e, "per_layer" -> layers,
      "passes_s" -> passWalls,
      "per_kind" -> timed.groupBy(_.kind).map { case (k, s) =>
        k -> Metric(Stats.median(s.map(_.ms)), "ms", s.length) },
      "oracle" -> w.checked.map(q => q -> SparkEntry.oracleSql(q)).toMap)
  }
}

/** A workload: staging (repeatable), a warm-up that checks outputs, and a
  * closed-loop timed window. `classes` maps an op kind to the op classes
  * (read / write / scan) its latency counts under. */
trait Workload {
  def stage(i: Int): Unit
  def warmUp(): Unit
  def measure(seconds: Double): Unit
  def classes: String => Set[String]
  /** queries whose results the DuckDB oracle checks after the run */
  def checked: Seq[String] = Nil
}

/** A batch workload: a fixed list of `SparkEntry.queries`, run in passes.
  * Every op is one query run, so every op class is the whole list. */
final class QueryList(run: Run, spark: SparkSession, names: Seq[String],
    nominalPassS: Double, data: String, out: String) extends Workload {
  private val queries = SparkEntry.queries

  def stage(i: Int): Unit = () // the queries read the parquet tables directly

  /** The checked pass, each result to parquet for the oracle check, then
    * one untimed pass, so that the timed passes run on a JIT-warm JVM. */
  def warmUp(): Unit = {
    names.foreach { q =>
      run.attempted += 1
      val t0 = System.nanoTime()
      try {
        val dir = s"$out/results/$q"
        queries(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(dir)
        run.warmMs(q) = (System.nanoTime() - t0) / 1e6
        if (run.trace) run.resultRows(q) = spark.read.parquet(dir).count()
      } catch { case e: Throwable => run.fail(s"$q (check pass)", e) }
      finally spark.sharedState.cacheManager.clearCache()
    }
    names.foreach(execute(_, timed = false))
  }

  def measure(seconds: Double): Unit =
    (1 to math.max(1, math.round(seconds / nominalPassS).toInt)).foreach { _ =>
      val p0 = System.nanoTime()
      names.foreach(execute(_, timed = true))
      run.passes += (System.nanoTime() - p0) / 1e9
    }

  /** One run of query `q` into the `noop` sink. */
  private def execute(q: String, timed: Boolean): Unit = {
    run.attempted += 1
    def call(body: => Unit): Unit = if (timed) run.timedOp(q)(body) else body
    try call {
      val df: DataFrame = run.tracer.span("construct", -1)(queries(q)(spark, data))
      run.tracer.span("execute", -1)(
        df.write.format("noop").mode("overwrite").save())
      run.returned(run.resultRows.getOrElse(q, 0L))
    } catch { case e: Throwable => run.fail(q, e) }
    finally spark.sharedState.cacheManager.clearCache()
  }

  val classes: String => Set[String] = _ => Set("read", "write", "scan")
  override def checked: Seq[String] = names
}
