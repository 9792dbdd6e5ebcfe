package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.extract.{Extractor, FileWatermarkStore, Pipeline, WatermarkStore}
import graft.model._

/** One op of a workload as the client saw it. `rows` is the rows the op
  * delivered: input rows loaded (replicate) or result rows materialized
  * (graph_loops).
  */
final case class Op(name: String, startNs: Long, endNs: Long, ok: Boolean, rows: Long,
    traced: Boolean, cold: Boolean, span: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

final case class Args(workload: String, seed: Int, seconds: Int, trace: Boolean,
    base: String, inputs: String, work: String, out: String, expected: String,
    record: Option[String], cds: Boolean)

/** The benchmark driver: a closed loop with one client over one of two
  * workloads, in one JVM running Spark `local[N]`.
  *
  * Run:   java ... perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --base DIR --inputs DIR --work DIR --out FILE
  * Record the graph_loops fingerprints (run once, on the seed code):
  *        java ... perfbench.Main --record FILE --base DIR
  * Start and stop one session, for the class-data archive of the build:
  *        java ... perfbench.Main --cds 1 --base DIR
  */
object Main {
  /** Task slots: one core is left to the driver, JIT and GC threads. */
  val Cores = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors() - 1))
  val GraphQueries = for (q <- Seq("components", "label_prop", "bfs", "pagerank");
                          v <- Seq("", "_bucketed")) yield s"graph_$q$v"

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "0").toInt,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1",
      m("base"), m.getOrElse("inputs", ""), m.getOrElse("work", ""), m.getOrElse("out", ""),
      m.getOrElse("expected", ""), m.get("record"), m.contains("cds"))
  }

  def session(workload: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", sys.props.getOrElse("perfbench.localDir", sys.props("java.io.tmpdir")))
    // replicate: a storage pool smaller than the first load, so the
    // Extractor's MEMORY_AND_DISK batch spills (sizes in BENCHMARK.md).
    if (workload == "replicate") b.config("spark.memory.fraction", "0.02")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session start plus a warm-up through the program: one table read and
    * one aggregate over it.
    */
  def setUp(workload: String, base: String): SparkSession = {
    val s = session(workload)
    Tables.t(s, base, "customer").groupBy("c_mktsegment").count().collect()
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.record match {
      case Some(path) => Fingerprint.record(a, path); return
      case None =>
    }
    if (a.cds) { setUp("replicate", a.base).stop(); return }
    // setup_s: five set-ups, the last one kept; the median is reported.
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until 5) {
      val t0 = System.nanoTime()
      spark = setUp(a.workload, a.base)
      setups += (System.nanoTime() - t0) / 1e9
      if (i < 4) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
    }
    val trace = new Trace(a.trace)
    trace.attach(spark)
    val w: Workload = a.workload match {
      case "replicate"   => new Replicate(spark, trace, a)
      case "graph_loops" => new GraphLoops(spark, trace, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val firstLoadS = w.prepare()
    val ops = mutable.ArrayBuffer.empty[Op]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = 0
    // The window closes on a block boundary after at least `minBlocks`
    // blocks, so every run measures whole blocks of the seeded schedule.
    while ((System.nanoTime() < deadline || !w.atBoundary(i) || i < w.minBlocks * w.blockSize) && w.hasOp(i)) {
      // Traced runs alternate traced and untraced ops so that the tracing
      // overhead is measured inside one run.
      val traced = a.trace && i % 2 == 0
      trace.active = traced
      val t0 = trace.nowNs()
      val res = Try(trace.span("op") { w.op(i) })
      val t1 = trace.nowNs()
      val opSpan = if (traced) trace.spans.lastOption.filter(_.name == "op").map(_.id).getOrElse(0L) else 0L
      val (ok, rows) = res match {
        case Success(r) => (r.ok, r.rows)
        case Failure(e) =>
          System.err.println(s"[perfbench] op $i failed: $e"); (false, 0L)
      }
      ops += Op(w.opName(i), t0, t1, ok, rows, traced, w.isCold(i), opSpan)
      i += 1
    }
    trace.active = a.trace
    val finalOk = Try(w.finish()).recover { case e =>
      System.err.println(s"[perfbench] final check failed: $e"); false }.get
    trace.drain()
    val extra = if (a.trace) Try(w.layerExtras()).getOrElse(Map.empty[String, Double]) else Map.empty[String, Double]
    spark.stop()

    val failed = ops.count(!_.ok)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Metrics.endToEnd(ops.toSeq, setups.toSeq)
      else Metrics.perLayer(ops.toSeq, trace, firstLoadS, extra, w)
    val summary = Metrics.summary(a.workload, ops.toSeq, firstLoadS, setups.toSeq)
    summary.foreach(println)
    val dir = Paths.get(a.out).getParent
    Files.writeString(dir.resolve(s"ops-${a.workload}-${a.seed}-${if (a.trace) 1 else 0}.tsv"),
      ops.map(o => f"${o.name}\t${o.ms}%.1f\t${o.ok}").mkString("", "\n", "\n"))
    if (a.trace) {
      Trace.writeSpans(trace.spans.toSeq, dir.resolve(s"spans-${a.workload}-${a.seed}.jsonl"))
      Files.writeString(dir.resolve(s"ledger-${a.workload}-${a.seed}.tsv"),
        Metrics.ledger(ops.toSeq, trace).mkString("", "\n", "\n"))
    }
    val json = Metrics.resultJson(finalOk && failed == 0, ops.size, failed, metrics)
    Files.writeString(Paths.get(a.out), json + "\n")
    println(json)
  }

  def lines(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty).map(_.split(" "))

  def move(from: String, toDir: String): Unit = {
    Files.createDirectories(Paths.get(toDir))
    val src = Paths.get(from)
    Files.move(src, Paths.get(toDir).resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Bytes of the data files under a directory (hidden and marker files excluded). */
  def dataBytes(dir: String): Long =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
      .filter { f => val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
      .map(Files.size).sum
}

final case class OpResult(ok: Boolean, rows: Long)

/** A workload: inputs prepared, ops issued one at a time, outputs checked. */
abstract class Workload(val spark: SparkSession, val trace: Trace, val a: Args) {
  /** Untimed preparation before the window; returns the first-load seconds
    * (0 where the workload has no first load).
    */
  def prepare(): Double
  def hasOp(i: Int): Boolean
  def op(i: Int): OpResult
  def opName(i: Int): String
  def isCold(i: Int): Boolean = false
  /** Ops per block of the seeded schedule; every block holds the same mix. */
  def blockSize: Int
  /** Blocks every run measures, however short `--seconds` is. */
  def minBlocks: Int
  def atBoundary(i: Int): Boolean = i % blockSize == 0
  /** Where the workload's landed inputs live (per-layer scan ratios). */
  def landingDir: String = ""
  /** Final output checks after the window. */
  def finish(): Boolean
  /** Per-layer values only the workload can compute (traced runs only). */
  def layerExtras(): Map[String, Double] = Map.empty

  /** The tables the program reads, through the Tables layer. */
  def readTables(dir: String, names: Seq[String]): Unit =
    trace.span("tables.read") { names.foreach(n => Tables.t(spark, dir, n)) }
}

/** A watermark store wrapper: spans around the program's store calls, and the
  * end of the last `get`, which starts the extract phase of a table run.
  */
final class TimedStore(inner: WatermarkStore, trace: Trace) extends WatermarkStore {
  @volatile var lastGetEndNs = 0L
  def get(table: String): Option[String] = {
    val r = trace.span("extract.get")(inner.get(table))
    lastGetEndNs = trace.nowNs()
    r
  }
  def put(table: String, value: String): Unit = trace.span("extract.watermark_put")(inner.put(table, value))
}

/** Extract-side wrappers: the Extractor's `source` hook (reads through the
  * Tables layer, as the default does) and a timing loader around the
  * default load.
  */
final class ExtractHooks(spark: SparkSession, trace: Trace, landing: String, wmPath: Path) {
  val store = new TimedStore(new FileWatermarkStore(wmPath), trace)
  val extractor = new Extractor(landing,
    source = Some((s: SparkSession, n: String) => trace.span("tables.read")(Tables.t(s, landing, n))))

  val loader: Option[(ExtractResult, TableConfig, String) => Unit] =
    Some { (r: ExtractResult, t: TableConfig, out: String) =>
      trace.record("extract.extract", trace.current, store.lastGetEndNs, trace.nowNs())
      trace.span("extract.load")(extractor.load(r, t, out))
    }
}

class Replicate(spark: SparkSession, trace: Trace, a: Args) extends Workload(spark, trace, a) {
  val landing = s"${a.work}/landing"
  val sink = s"${a.work}/sink"
  val wmPath = Paths.get(s"${a.work}/watermarks.properties")
  val hooks = new ExtractHooks(spark, trace, landing, wmPath)
  override def landingDir: String = landing
  val dims = Seq("region", "nation", "supplier")
  val eventsQuery =
    """SELECT event_id, ts, user_id, event_type, value, props, toYYYYMM(ts) AS ym
      |FROM events PREWHERE value > 1 {query_filter}""".stripMargin
  val tables: Seq[TableConfig] = dims.map(TableConfig(_)) ++ Seq(
    TableConfig("lineitem", replicationMethod = ReplicationMethod.Incremental,
      iterateColumn = Some("l_orderkey"), iterateColumnType = IterateType.IntCol,
      partitionsCount = 4),
    TableConfig("events", replicationMethod = ReplicationMethod.Incremental,
      iterateColumn = Some("ts"), iterateColumnType = IterateType.DatetimeCol,
      customQuery = Some(eventsQuery)))
  val pipeline = new Pipeline(hooks.extractor, hooks.store, hooks.loader)
  val manifest = Main.lines(s"${a.inputs}/manifest.txt")
  val first = manifest.head
  val warm = manifest.filter(_(0) == "warm")
  val cycles = manifest.filter(_(0) == "cycle")
  val dimRows = mutable.Map.empty[String, Long]
  var expectLi = first(1).toLong
  var expectEv = first(2).toLong
  var wmOk = true

  def prepare(): Double = {
    // The landing directory: one directory per table holding the base file;
    // deltas land beside it.
    for (t <- dims ++ Seq("lineitem", "events")) {
      Files.createDirectories(Paths.get(s"$landing/$t.parquet"))
      Files.createLink(Paths.get(s"$landing/$t.parquet/part-0.parquet"), Paths.get(s"${a.base}/$t.parquet"))
    }
    dims.foreach { d =>
      dimRows(d) = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        new org.apache.hadoop.conf.Configuration(), new org.apache.hadoop.fs.Path(s"${a.base}/$d.parquet"))
        .getBlocks.asScala.map(_.getRowCount).sum
    }
    val t0 = System.nanoTime()
    val res = pipeline.run(spark, tables, sink)
    val s = (System.nanoTime() - t0) / 1e9
    require(res.forall(_._2.isSuccess), s"first load failed: ${res.filter(_._2.isFailure)}")
    checkWatermarks(first(3), first.drop(4).mkString(" "))
    warm.foreach(c => require(cycle(c).ok, s"warm-up cycle ${c(1)} failed"))
    s
  }

  def hasOp(i: Int): Boolean = i < cycles.size
  def opName(i: Int): String = "cycle"
  def blockSize: Int = 8
  def minBlocks: Int = 2

  def op(i: Int): OpResult = cycle(cycles(i))

  def cycle(c: Array[String]): OpResult = {
    Main.move(s"${a.inputs}/${c(2)}", s"$landing/lineitem.parquet")
    Main.move(s"${a.inputs}/${c(3)}", s"$landing/events.parquet")
    trace.span("tables.invalidate")(Tables.invalidate(spark, landing))
    val res = pipeline.run(spark, tables, sink)
    val liRows = c(4).toLong + c(5).toLong
    val evRows = c(6).toLong + c(7).toLong
    expectLi += liRows
    expectEv += evRows
    val ok = res.forall(_._2.isSuccess) && checkWatermarks(c(8), c.drop(9).mkString(" "))
    OpResult(ok, dimRows.values.sum + liRows + evRows)
  }

  /** Watermarks read back through a fresh store equal the maximum landed
    * iterate values.
    */
  def checkWatermarks(li: String, ev: String): Boolean = {
    val fresh = new FileWatermarkStore(wmPath)
    val ok = fresh.get("lineitem").contains(li) && fresh.get("events").contains(ev)
    if (!ok) {
      System.err.println(s"[perfbench] watermark mismatch: ${fresh.get("lineitem")} vs $li, ${fresh.get("events")} vs $ev")
      wmOk = false
    }
    ok
  }

  /** Sink rows match the landed rows plus the inclusive boundary re-reads. */
  def finish(): Boolean = {
    val li = spark.read.parquet(s"$sink/lineitem").count()
    val ev = spark.read.parquet(s"$sink/events").count()
    val dimsOk = dims.forall(d => spark.read.parquet(s"$sink/$d").count() == dimRows(d))
    if (li != expectLi || ev != expectEv || !dimsOk)
      System.err.println(s"[perfbench] sink rows: lineitem $li vs $expectLi, events $ev vs $expectEv, dims $dimsOk")
    li == expectLi && ev == expectEv && dimsOk && wmOk
  }

  override def layerExtras(): Map[String, Double] =
    Map("sink.bytes_per_row" -> Main.dataBytes(sink).toDouble / (expectLi + expectEv + dimRows.values.sum))
}

class GraphLoops(spark: SparkSession, trace: Trace, a: Args) extends Workload(spark, trace, a) {
  val expected: Map[String, (Long, String)] = Fingerprint.expected(a.expected)
  val order = Main.lines(s"${a.inputs}/manifest.txt").flatMap(_.drop(1))
  def hasOp(i: Int): Boolean = i < order.size
  def opName(i: Int): String = order(i)
  /** A block is a pair of repetitions, the second in reverse order. */
  def blockSize: Int = 2 * Main.GraphQueries.size
  def minBlocks: Int = 1
  override def isCold(i: Int): Boolean = i % Main.GraphQueries.size == 0

  def prepare(): Double = 0.0

  def op(i: Int): OpResult = {
    // Each repetition starts from evicted memos, so its first op rebuilds
    // the shared edge and node tables.
    if (isCold(i)) trace.span("tables.invalidate")(Tables.invalidate(spark, a.base))
    query(order(i))
  }

  def query(name: String): OpResult = {
    readTables(a.base, Seq("lineitem", "orders", "customer", "supplier", "nation", "part"))
    val df = trace.span("ops.build")(graft.SparkEntry.queries(name)(spark, a.base))
    val (rows, hash) = trace.span("ops.materialize")(Fingerprint.of(df))
    val ok = expected.get(name).contains((rows, hash))
    if (!ok) System.err.println(s"[perfbench] $name: got $rows/$hash, expected ${expected.get(name)}")
    OpResult(ok, rows)
  }
  def finish(): Boolean = true
}
