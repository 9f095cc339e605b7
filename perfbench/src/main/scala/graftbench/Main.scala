package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** What a workload measured in its timed section. Wall latencies and
  * engine CPU seconds (see [[EngineCpu]]) are kept per operation kind;
  * `work` counts the records the section completed.
  */
final class Recorder {
  val latencies: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap()
  val cpu: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap()
  var work = 0.0

  /** Time one unit of work under `kind`, by the wall clock and by engine CPU. */
  def time[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val c0 = EngineCpu.nanos()
    val r = body
    latencies.getOrElseUpdate(kind, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e9
    cpu.getOrElseUpdate(kind, mutable.ArrayBuffer()) += (EngineCpu.nanos() - c0) / 1e9
    r
  }

  def of(kind: String): Seq[Double] = latencies.get(kind).map(_.toSeq).getOrElse(Seq.empty)
  def cpuOf(kind: String): Seq[Double] = cpu.get(kind).map(_.toSeq).getOrElse(Seq.empty)
}

/** CPU time the engine spends: every thread of this JVM (driver, executor
  * tasks, GC, Spark's event loops), including threads that have ended,
  * less the JIT compiler threads. The kernel counts a thread's CPU only
  * while it runs, so time spent waiting for a CPU held by another process
  * or by the host (steal) is left out, and wall-clock noise from a shared
  * host mostly with it. The JIT compiler threads are left out because how
  * much they compile, and when, follows the tiered policy's feedback on
  * its own queue length, which moves with that same noise. Linux only:
  * the compiler threads are found by name under /proc/self/task, and
  * `run.py` keeps them alive for the whole run.
  */
object EngineCpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val tasks = new File("/proc/self/task")

  private def read(f: File): String = new String(Files.readAllBytes(f.toPath)).trim

  /** CPU nanoseconds of the JIT compiler threads so far. */
  private def compilerNanos(): Long =
    Option(tasks.listFiles()).map(_.toSeq).getOrElse(Nil).map { t =>
      try {
        if (read(new File(t, "comm")).matches("C[12] CompilerThre.*"))
          read(new File(t, "schedstat")).split(" ")(0).toLong
        else 0L
      } catch { case _: java.io.IOException => 0L } // a thread that just ended
    }.sum

  def nanos(): Long = os.getProcessCpuTime - compilerNanos()
}

/** One benchmark workload. `setup` builds the state the timed section
  * runs against; it may run several times, each in a fresh directory, and
  * only the last state is used. `run` closes its loop on `deadline`
  * (System.nanoTime), and `verify` returns the mismatches between the
  * engine's outputs and an independent oracle; `corrupt` alters an output
  * before the comparison, to show the gate can fail.
  */
trait Workload {
  type State
  /** The unit operation whose median CPU time is `op_cpu_s`. */
  def opKind: String
  def setup(dir: String): State
  def run(st: State, deadline: Long, tr: Tracer, rec: Recorder): Unit
  /** Untimed work between set-up and the timed section, so that JIT and
    * plan-code compilation are done before timing: one unit by default. */
  def warmup(st: State, tr: Tracer): Unit = run(st, System.nanoTime(), tr, new Recorder)
  /** Calls made only in the traced run, outside the timed section. */
  def probes(st: State, tr: Tracer): Unit = ()
  /** Names of the correctness gates `verify` applies to this state. */
  def gates(st: State): Seq[String]
  /** Mismatches between the outputs and their oracles; with `corrupt`
    * naming a gate, that gate's output is altered first. */
  def verify(st: State, corrupt: Option[String]): Seq[String]
  /** Workload-specific figures printed for reading, not compared. */
  def named(st: State, rec: Recorder, wallS: Double): Seq[(String, Double, String)] = Seq.empty
}

object Main {
  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10,
                        trace: Boolean = false, smoke: Boolean = false,
                        work: String = "perfbench/work/run", spans: String = "",
                        corrupt: Boolean = false)

  private def parse(a: List[String], acc: Args): Args = a match {
    case Nil => acc
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--size" :: v :: t =>
      require(v == "full" || v == "smoke", s"--size is full or smoke, not $v")
      parse(t, acc.copy(smoke = v == "smoke"))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case "--spans" :: v :: t => parse(t, acc.copy(spans = v))
    case "--corrupt" :: v :: t => parse(t, acc.copy(corrupt = v == "1"))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  val Workloads: Seq[String] = Seq("trickle_views", "curate_corpus")

  /** Set-ups per untraced run; `setup_s` is their median. */
  private val Setups = 3

  def workload(name: String, spark: SparkSession, seed: Long, smoke: Boolean): Workload =
    name match {
      case "trickle_views" => new TrickleViews(spark, seed, smoke)
      case "curate_corpus" => new CurateCorpus(spark, seed, smoke)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other (have: ${Workloads.mkString(", ")})")
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it, with
    * its sample count; None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val q = 1.0 - 10.0 / xs.size
      Some((q * 100, quantile(xs, q)))
    }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }

  private val mapper = new ObjectMapper()

  private def metric(o: ObjectNode, name: String, value: Double, unit: String): Unit = {
    val m = o.putObject(name)
    m.put("value", value)
    m.put("unit", unit)
  }

  private val started = System.nanoTime()

  /** Progress line on stderr with the seconds since start. */
  def phase(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - started) / 1e9}%7.2f s $what")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList, Args())
    require(Workloads.contains(args.workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    val work = new File(args.work).getAbsoluteFile
    deleteRecursively(work.toPath)
    Files.createDirectories(work.toPath)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session up")
    var exit = 0
    try {
      val w = workload(args.workload, spark, args.seed, args.smoke)
      val out = mapper.createObjectNode()
      val metrics = mapper.createObjectNode()
      var failed = 0L
      var attempted = 0L
      var correct = true
      try {
        // set-up: several fresh repetitions, the last one is kept
        val setups = if (args.trace) 1 else Setups
        val setupWall = mutable.ArrayBuffer[Double]()
        val setupCpu = mutable.ArrayBuffer[Double]()
        var st: w.State = null.asInstanceOf[w.State]
        (0 until setups).foreach { i =>
          if (i > 0) deleteRecursively(Paths.get(s"$work/setup-${i - 1}"))
          val t0 = System.nanoTime()
          val c0 = EngineCpu.nanos()
          st = w.setup(s"$work/setup-$i")
          setupWall += (System.nanoTime() - t0) / 1e9
          setupCpu += (EngineCpu.nanos() - c0) / 1e9
          phase(s"set-up $i")
        }
        System.err.println(s"perfbench: set-up wall ${setupWall.map(x => f"$x%.3f").mkString(" ")}" +
          s", engine CPU ${setupCpu.map(x => f"$x%.3f").mkString(" ")}")
        val rec = new Recorder
        val off = new Tracer(spark.sparkContext, enabled = false)
        w.warmup(st, off)
        phase("warm-up")
        val t0 = System.nanoTime()
        val c0 = EngineCpu.nanos()
        w.run(st, t0 + (args.seconds * 1e9).toLong, off, rec)
        val wallS = (System.nanoTime() - t0) / 1e9
        val cpuS = (EngineCpu.nanos() - c0) / 1e9
        val rss = peakRssMb()
        phase("timed section")
        attempted = off.calls
        val opLat = rec.of(w.opKind)
        w.named(st, rec, wallS).foreach { case (n, v, u) =>
          println(f"$n%-24s $v%.6g $u")
        }
        rec.latencies.foreach { case (k, buf) =>
          val xs = buf.toSeq
          val tl = tail(xs).map { case (p, v) => f", p$p%.0f $v%.4f s" }.getOrElse("")
          println(f"latency $k%-18s n=${xs.size}%d p50 ${median(xs)}%.4f s$tl")
          System.err.println(s"perfbench: latency $k ${xs.map(x => f"$x%.3f").mkString(" ")}")
          val cs = rec.cpuOf(k)
          println(f"cpu     $k%-18s n=${cs.size}%d p50 ${median(cs)}%.4f s")
          System.err.println(s"perfbench: cpu $k ${cs.map(x => f"$x%.3f").mkString(" ")}")
        }
        println(f"wall: setup p50 ${median(setupWall.toSeq)}%.4f s, ${w.opKind} p50 " +
          f"${median(opLat)}%.4f s, ${rec.work / wallS}%.6g work/s over $wallS%.3f s; " +
          f"engine CPU $cpuS%.3f s")
        if (!args.trace) {
          metric(metrics, "setup_s", median(setupCpu.toSeq), "s")
          metric(metrics, "op_cpu_s", median(rec.cpuOf(w.opKind)), "s")
          metric(metrics, "work_per_cpu_s", rec.work / cpuS, "1/s")
          metric(metrics, "peak_rss_mb", rss, "MB")
        } else {
          val traced = new Recorder
          val tr = new Tracer(spark.sparkContext, enabled = true)
          val t1 = System.nanoTime()
          tr.call("bench." + args.workload, "bench") {
            w.run(st, t1 + (args.seconds * 1e9).toLong, tr, traced)
          }
          val tracedWall = (System.nanoTime() - t1) / 1e9
          w.probes(st, tr)
          val calls = tr.resolve()
          tr.close()
          attempted += tr.calls
          val report = TraceReport(args.workload, args.seed, calls, tracedWall,
            median(traced.of(w.opKind)) / median(opLat))
          report.metrics.foreach { case (n, (v, u)) => metric(metrics, n, v, u) }
          println(f"trace coverage ${report.coverage}%.4f of ${tracedWall}%.3f s traced wall")
          if (math.abs(report.coverage - 1.0) > 0.05) {
            correct = false
            failed += 1
            System.err.println(s"trace: per-layer self time covers ${report.coverage} of wall")
          }
          if (args.spans.nonEmpty) report.write(args.spans)
        }
        phase("reports")
        val errs = w.verify(st, None)
        phase("verified")
        if (errs.nonEmpty) {
          correct = false
          failed += errs.size
          errs.take(10).foreach(e => System.err.println(s"gate: $e"))
          System.err.println(s"gate: ${errs.size} mismatches")
        }
        // each gate must reject an output altered on purpose
        if (args.corrupt) w.gates(st).foreach { g =>
          val caught = w.verify(st, Some(g))
          println(s"gate $g on a corrupted output: ${if (caught.nonEmpty) "caught" else "MISSED"}")
          if (caught.isEmpty) { correct = false; failed += 1 }
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          correct = false
          failed += 1
          attempted = math.max(attempted, failed)
          exit = 1
      }
      out.put("correct", correct)
      out.put("attempted", math.max(1L, attempted))
      out.put("failed", failed)
      out.set[ObjectNode]("metrics", metrics)
      println(mapper.writeValueAsString(out))
    } finally {
      spark.stop()
      deleteRecursively(work.toPath)
    }
    System.exit(exit)
  }
}
