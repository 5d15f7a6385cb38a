package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark workload.
  *  - `prepare` writes the seeded inputs (untimed, once per run);
  *  - `setup` brings a fresh session to ready-to-serve; it is repeated,
  *    and the last repetition's session serves the window;
  *  - `warmup` runs ops on warm-up inputs before the window (untimed);
  *  - `beforeOp` is an optional write ahead of op `i`, inside the window
  *    but timed on its own (true if it wrote);
  *  - `op` is one timed op and returns the items it answered;
  *  - `check` runs untimed after the window and returns its failures,
  *    each tied to the op index it fails, or to none. */
trait Workload {
  def setupReps: Int
  def minOps: Int
  def prepare(spark: SparkSession): Unit
  def setup(spark: SparkSession): Unit
  def warmup(spark: SparkSession): Unit
  def beforeOp(spark: SparkSession, i: Int): Boolean = false
  def op(spark: SparkSession, i: Int): Long
  def check(spark: SparkSession): Seq[(Option[Int], String)]
  def digest: String
  def work: Map[String, Seq[Double]]
}

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, workDir: String, result: String)

object Main {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", new File(req("work")).getAbsolutePath, req("result"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = try new Harness(a).run() catch {
      case e: Throwable =>
        System.err.println(s"[graftbench] aborted: $e"); e.printStackTrace(); 2
    }
    System.exit(code)
  }
}

final class Harness(a: Args) {
  private val cores = Runtime.getRuntime.availableProcessors
  private val tracer = new Tracer
  private var listener: JobListener = null
  private val orphans = new OrphanLog(tracer)
  private var spark: SparkSession = null

  /** Stops the current session, if any. Harness work: never timed. */
  private def stopSession(): Unit = {
    if (spark != null) spark.stop()
    spark = null
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  /** Starts a fresh session; the previous one must be stopped. */
  private def startSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.workDir}/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (a.trace) {
      listener = new JobListener
      s.sparkContext.addSparkListener(listener)
      tracer.spans.clear()
    }
    tracer.attach(s.sparkContext)
    spark = s
    s
  }

  def run(): Int = {
    val w: Workload = a.workload match {
      case "serve_single" => new ServeSingle(a, tracer)
      case "serve_stream" => new ServeStream(a, tracer)
      case "curate_dedup" => new CurateDedup(a, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // inputs are generated in a session of their own: each set-up starts
    // at a session start and excludes generation
    val g0 = System.nanoTime()
    val prep = startSession()
    if (a.trace) orphans.install()
    w.prepare(prep)
    val prepSec = (System.nanoTime() - g0) / 1e9
    // set-up, repeated in fresh sessions; the last one serves the window
    tracer.active = a.trace
    tracer.setOp(-1)
    val setups = (1 to w.setupReps).map { _ =>
      stopSession()
      val t0 = System.nanoTime()
      w.setup(startSession())
      (System.nanoTime() - t0) / 1e9
    }
    tracer.active = false
    val w0 = System.nanoTime()
    w.warmup(spark)
    val warmSec = (System.nanoTime() - w0) / 1e9

    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val lat = mutable.ArrayBuffer.empty[Double]
    val writes = mutable.ArrayBuffer.empty[Double]
    val opCpu = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Boolean]
    val failedOps = mutable.Set.empty[Int]
    val errors = mutable.ArrayBuffer.empty[String]
    var items = 0L
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a traced run needs a traced op and an untraced one after op 0
    val minOps = if (a.trace) math.max(3, w.minOps) else w.minOps
    while (elapsed < a.seconds || i < minOps) {
      tracer.setOp(i)
      tracer.active = a.trace
      val s = System.nanoTime()
      try {
        if (w.beforeOp(spark, i)) writes += (System.nanoTime() - s) / 1e6
      } catch {
        case e: Throwable =>
          failedOps += i; errors += s"write before op $i threw: $e"
          e.printStackTrace()
      }
      // traced runs alternate untraced and traced ops, so the tracing
      // overhead is measured in one window on one warm session
      tracer.active = a.trace && i % 2 == 1
      traced += tracer.active
      val c1 = cpu.getProcessCpuTime
      val s1 = System.nanoTime()
      try items += w.op(spark, i)
      catch {
        case e: Throwable =>
          failedOps += i; errors += s"op $i threw: $e"
          e.printStackTrace()
      }
      lat += (System.nanoTime() - s1) / 1e6
      opCpu += (cpu.getProcessCpuTime - c1) / 1e6
      i += 1
    }
    val windowSec = elapsed
    tracer.active = false
    val heapMb = liveHeapMb()

    // untimed correctness checks over the window's outputs
    val c0 = System.nanoTime()
    val checked =
      try w.check(spark)
      catch { case e: Throwable => e.printStackTrace(); Seq((None, s"check threw: $e")) }
    val checkSec = (System.nanoTime() - c0) / 1e9
    failedOps ++= checked.flatMap(_._1)
    errors ++= checked.map(_._2)
    val global = checked.exists(_._1.isEmpty)
    // a failure tied to no op fails the run and counts as one failed op
    val failed = math.min(i, failedOps.size + (if (global) 1 else 0))
    val ok = failed == 0
    val digest = if (ok) w.digest else "unavailable"
    spark.stop() // drains the listener bus before the trace is read
    errors.take(20).foreach(e => System.err.println(s"[graftbench] FAILED $e"))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("p50_ms", Stats.median(lat.toSeq), "ms"),
        ("items_per_s", items / windowSec, "1/s"),
        ("cpu_ms_per_op", Stats.median(opCpu.toSeq), "ms"),
        ("heap_live_mb", heapMb, "MB"))
      else {
        val spans = tracer.spans.toSeq
        writeSpans(spans)
        // op 0 is the window's first op in its session: left out of both
        val on = lat.zip(traced).drop(1).collect { case (l, true) => l }.toSeq
        val off = lat.zip(traced).drop(1).collect { case (l, false) => l }.toSeq
        val units = Layers.metricUnits.toMap
        Layers.metrics(spans, listener, orphans, cores, w.work).map { case (k, v) => (k, v, units(k)) } ++ Seq(
          ("trace.p50_ms_traced", Stats.median(on), "ms"),
          ("trace.p50_ms_untraced", Stats.median(off), "ms"),
          ("trace.overhead", if (off.isEmpty) 0.0 else Stats.median(on) / Stats.median(off) - 1.0, "ratio"))
      }
    val info = Seq(
      "workload" -> a.workload, "seed" -> a.seed.toString, "ops" -> i.toString,
      "prepare_s" -> fmt(prepSec), "warmup_s" -> fmt(warmSec), "check_s" -> fmt(checkSec),
      "window_s" -> fmt(windowSec), "setup_reps_s" -> setups.map(fmt).mkString(","),
      // a 90th percentile with at least ten ops beyond it
      "p90_ms" -> (if (lat.size >= 100) fmt(lat.sorted.apply((lat.size * 9 + 9) / 10 - 1)) else "n/a"),
      "op_ms" -> lat.map(fmt).mkString(","), "write_ms" -> writes.map(fmt).mkString(","),
      "cores" -> cores.toString, "digest" -> digest,
      "loadavg" -> Stats.loadavg())
    val json = Stats.resultJson(ok, i, failed, metrics, info)
    Files.write(Paths.get(a.result), (json + "\n").getBytes(StandardCharsets.UTF_8))
    if (ok) 0 else 1
  }

  private def fmt(x: Double) = "%.4f".formatLocal(Locale.ROOT, x)

  /** Live heap after the window: heap in use after full collections
    * once the window has closed (never between timed ops) — what the
    * window's caches, persisted blocks and leaks left behind. The pause
    * lets Spark's cleaner drop what the first collection freed. */
  private def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Spans are kept in memory during the run and written once here, one
    * JSON object per line, with each span's self time. */
  private def writeSpans(spans: Seq[SpanRec]): Unit = {
    val self = Layers.selfMs(spans)
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${fmt(s.durNs / 1e6)},""" +
        s""""self_ms":${fmt(self(s.id))}}"""
    }
    val out = Paths.get(a.result + ".spans.jsonl")
    Files.write(out, lines.asJava, StandardCharsets.UTF_8)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "unknown" }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, Double, String)], info: Seq[(String, String)]): String = {
    val ms = metrics.map { case (k, v, u) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
    val in = info.map { case (k, v) => s"${str(k)}:${str(v)}" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}},"info":{${in.mkString(",")}}}"""
  }
}
