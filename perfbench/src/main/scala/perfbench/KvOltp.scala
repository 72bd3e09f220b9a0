package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.KeyGroupedRegistry

/** The paper's read path as a closed loop with one client: the `orders`
  * table staged in the KV store as `((o_custkey), o_orderkey)` and driven
  * only through `spark.read/write.format("graft.sources.KVDataSource")`.
  *
  * Ops come in decks (one deck = one pass) shuffled from a fixed mix:
  * partition reads, clustering-slice reads, 1k-row upserts that mostly
  * overwrite existing rows, and token-arc scans over 1/24 of the key ring.
  * Every read is checked against a copy of the table the benchmark keeps
  * itself and updates after each acknowledged upsert. */
final class KvOltp(run: Run, spark: SparkSession, seed: Long, data: String)
    extends Workload {
  private val Format = "graft.sources.KVDataSource"
  private val Deck = Seq.fill(10)("read.partition") ++ Seq.fill(3)("read.slice") ++
    Seq.fill(3)("upsert") ++ Seq("scan.arc")
  private val UpsertRows = 1000
  private val NewRowShare = 0.05
  private val rng = new scala.util.Random(seed)

  private val source = spark.read.parquet(s"$data/orders.parquet").select(
    "o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
  private val schema = source.schema
  private var table = ""

  private type Key = (Long, Long)
  private type Cells = (String, Double, String)
  // the benchmark's own copy of the table: custkey -> orderkey -> cells
  private val mirror = mutable.HashMap.empty[Long, mutable.TreeMap[Long, Cells]]
  private val orderKeys = mutable.ArrayBuffer.empty[Key]
  private val custKeys = mutable.ArrayBuffer.empty[Long]
  source.collect().foreach(r => put(r.getLong(0), r.getLong(1),
    (r.getString(2), r.getDouble(3), r.getString(4))))
  private val ring = custKeys.max + 1
  private var nextOrder = orderKeys.map(_._2).max + 1

  private def put(ck: Long, ok: Long, cells: Cells): Unit = {
    val part = mirror.getOrElseUpdate(ck, { custKeys += ck; mutable.TreeMap.empty })
    if (!part.contains(ok)) orderKeys += ((ck, ok))
    part(ok) = cells
  }

  /** Stages a fresh copy of the table (the registry keeps earlier copies). */
  def stage(i: Int): Unit = {
    table = s"perfbench_orders_${seed}_$i"
    KeyGroupedRegistry.stageMulti(table, source, Seq("o_custkey"), Seq("o_orderkey"))
  }

  /** Four checked decks: the first op of each kind compiles its code paths,
    * the later decks let the JIT settle before the window opens. */
  def warmUp(): Unit = Seq.fill(4)(Deck).flatten.foreach(op(_, timed = false))

  def measure(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var first = true
    while (first || elapsed < seconds) {
      first = false
      val p0 = System.nanoTime()
      val deck = rng.shuffle(Deck)
      // the first deck always completes; later ones stop at the deadline
      val done = deck.iterator.takeWhile(_ => run.passes.isEmpty || elapsed < seconds)
        .map(op(_, timed = true)).length
      if (done == deck.length)
        run.passes += (System.nanoTime() - p0) / 1e9
    }
  }

  val classes: String => Set[String] = {
    case "read.partition" | "read.slice" => Set("read")
    case "upsert" => Set("write")
    case _ => Set("scan")
  }

  private def kv: DataFrame = spark.read.format(Format).option("table", table).load()

  private def expected(cks: Iterator[Long], keep: Long => Boolean): Seq[Row] =
    cks.flatMap(ck => mirror.get(ck).iterator.flatMap(_.iterator.collect {
      case (ok, (s, p, o)) if keep(ok) => Row(ck, ok, s, p, o)
    })).toSeq

  private def op(kind: String, timed: Boolean): Unit = {
    run.attempted += 1
    def call[T](body: => T): T = if (timed) run.timedOp(kind)(body) else body
    try kind match {
      case "read.partition" =>
        val ck = custKeys(rng.nextInt(custKeys.length))
        check(kind, call(read(col("o_custkey") === ck)),
          expected(Iterator(ck), _ => true))
      case "read.slice" =>
        var ck = custKeys(rng.nextInt(custKeys.length))
        while (mirror(ck).size < 2) ck = custKeys(rng.nextInt(custKeys.length))
        val oks = mirror(ck).keys.toIndexedSeq
        val i = rng.nextInt(oks.length - 1)
        val (lo, hi) = (oks(i), oks(i + 1 + rng.nextInt(oks.length - i - 1)))
        check(kind, call(read(col("o_custkey") === ck &&
          col("o_orderkey") >= lo && col("o_orderkey") < hi)),
          expected(Iterator(ck), ok => ok >= lo && ok < hi))
      case "scan.arc" =>
        val width = math.max(1L, ring / 24)
        val lo = (rng.nextDouble() * (ring - width)).toLong
        check(kind, call(read(col("o_custkey") >= lo && col("o_custkey") < lo + width)),
          expected(Iterator.range(0, width.toInt).map(lo + _), _ => true))
      case "upsert" =>
        val rows = upsertBatch()
        call {
          val df = run.tracer.span("construct", -1)(
            spark.createDataFrame(rows.asJava, schema))
          run.tracer.span("execute", -1)(
            df.write.format(Format).option("table", table).mode("append").save())
          run.returned(rows.length)
        }
        rows.foreach(r => put(r.getLong(0), r.getLong(1),
          (r.getString(2), r.getDouble(3), r.getString(4))))
    } catch { case e: Throwable => run.fail(kind, e) }
  }

  private def read(pred: Column): Array[Row] = {
    val df = run.tracer.span("construct", -1)(kv.filter(pred))
    val rows = run.tracer.span("execute", -1)(df.collect())
    run.returned(rows.length)
    rows
  }

  private def check(kind: String, got: Array[Row], want: Seq[Row]): Unit = {
    def key(r: Row): Key = (r.getLong(0), r.getLong(1))
    if (got.sortBy(key).toSeq != want.sortBy(key)) {
      run.failed += 1
      run.failures += s"$kind: ${got.length} rows read, ${want.length} expected " +
        s"(first read ${got.sortBy(key).headOption}, expected ${want.sortBy(key).headOption})"
    }
  }

  /** 1k rows keyed on existing (pk, ck) pairs, plus a few new orders. */
  private def upsertBatch(): Seq[Row] = {
    val fresh = (UpsertRows * NewRowShare).toInt
    val keys = mutable.LinkedHashSet.empty[Key]
    while (keys.size < UpsertRows - fresh) keys += orderKeys(rng.nextInt(orderKeys.length))
    (1 to fresh).foreach { _ =>
      keys += ((custKeys(rng.nextInt(custKeys.length)), nextOrder))
      nextOrder += 1
    }
    keys.toSeq.map { case (ck, ok) =>
      Row(ck, ok, Seq("F", "O", "P")(rng.nextInt(3)),
        math.round(rng.nextDouble() * 500000.0) / 100.0,
        s"${1 + rng.nextInt(5)}-UPSERTED")
    }
  }
}
