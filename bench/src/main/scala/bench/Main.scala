package bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

object Stats {
  /** Linearly interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Benchmark main: one JVM, one local Spark session, one closed-loop
  * client. Untraced it runs one workload and prints the end-to-end
  * metrics; traced it runs every workload with spans and a listener and
  * prints the per-layer metrics. The last stdout line is the result.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, traceFile: String)

  /** Repetitions of the set-up; `setup_s` takes their median. */
  val SetupReps = 3

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", get("--work"), m.getOrElse("--trace-file", ""))
  }

  private def nowMs: Double = System.nanoTime() / 1e6

  private def timedMs[A](f: => A): (A, Double) = {
    val t0 = nowMs
    val a = f
    (a, nowMs - t0)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Runs ops of `w` in a closed loop. Op times include failed ops. */
  final class Client(w: Workload, ph: Phases) {
    var next = 0
    var failed = 0
    def runOne(measured: Boolean): Double = {
      val i = next
      next += 1
      val (res, ms) = timedMs {
        try ph.op(measured)(w.op(i))
        catch { case NonFatal(e) => Some(s"threw ${e.getClass.getName}: ${e.getMessage}") }
      }
      res.foreach { msg =>
        failed += 1
        System.err.println(s"[bench] ${w.name} op $i failed: $msg")
      }
      System.err.println(f"[bench] ${w.name} ${if (measured) "op" else "warm-up op"} $i: $ms%.1f ms")
      ms
    }

    /** Warm-up: the workload's `warmWindows` whole windows of ops.
      * Returns (ops, seconds).
      */
    def warmUp(): (Int, Double) = {
      val t0 = nowMs
      val ops = w.warmWindows * w.window
      (0 until ops).foreach(_ => runOne(measured = false))
      (ops, (nowMs - t0) / 1000)
    }

    /** Whole windows of ops, so a mixed request stream keeps its
      * exact mix, for at least `seconds` and at least `minWindows`
      * windows. Returns op times (ms).
      */
    def measure(seconds: Double, minWindows: Int): Seq[Double] = {
      val times = ArrayBuffer.empty[Double]
      val t0 = nowMs
      while (times.length < minWindows * w.window || nowMs - t0 < seconds * 1000)
        (0 until w.window).foreach(_ => times += runOne(measured = true))
      times.toSeq
    }
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }

  private def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"metric value $x")
    java.lang.Double.toString(x)
  }

  private def resultLine(correct: Boolean, attempted: Int, failed: Int,
                         metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  /** Same seed, same bytes: every repetition's inputs must match the
    * first's.
    */
  private def sameInputs(dirs: Seq[String]): Boolean = {
    val ds = dirs.map(d => Gen.digests(s"$d/in"))
    ds.forall(_ == ds.head) && ds.head.nonEmpty
  }

  def untraced(spark: SparkSession, a: Args, bootS: Double): String = {
    val ph = new Phases(a.workload, None)
    val w = Workloads(a.workload, spark, a.seed, ph)
    val dirs = (0 until SetupReps).map(r => s"${a.work}/${a.workload}-${a.seed}/rep$r")
    val prepS = dirs.map { d =>
      deleteTree(new File(d))
      timedMs(w.prepare(d))._2 / 1000
    }
    val deterministic = sameInputs(dirs)
    val checkS = timedMs(w.setupCheck())._2 / 1000
    val client = new Client(w, ph)
    val (warmOps, warmS) = client.warmUp()
    val warmFailed = client.failed
    client.failed = 0
    val times = client.measure(a.seconds, w.minWindows)
    val p50 = Stats.median(times)
    val setupS = bootS + Stats.median(prepS) + checkS + warmS
    System.err.println(f"[bench] ${a.workload} seed=${a.seed}: ${times.length} ops measured " +
      f"(p50 $p50%.1f ms), warm-up $warmOps ops in $warmS%.1f s, " +
      f"set-up reps ${prepS.map(s => f"$s%.2f").mkString("/")} s, check $checkS%.2f s, boot $bootS%.2f s, " +
      s"inputs deterministic=$deterministic, warm-up failures=$warmFailed")
    resultLine(
      correct = client.failed == 0 && warmFailed == 0 && deterministic,
      attempted = times.length, failed = client.failed,
      metrics = Seq(
        ("setup_s", setupS, "s"),
        ("docs_per_s", w.docsPerOp / (p50 / 1000), "docs/s"),
        ("op_p50_ms", p50, "ms"),
        ("op_p90_ms", Stats.quantile(times, 0.9), "ms"),
        ("peak_rss_mb", peakRssMb(), "MB"),
        ("quality", w.quality, "ratio"),
        ("ok_ratio", (times.length - client.failed).toDouble / times.length, "ratio")))
  }

  val TracedWorkloads = Seq("tweets", "lookup")

  /** Every workload, traced, each measured for an equal share of
    * `--seconds` (at least two windows). The per-layer names carry the
    * workload, so one traced run reports the whole per-layer set.
    */
  def traced(spark: SparkSession, a: Args): String = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val listener = new GroupListener
    sc.addSparkListener(listener)
    var attempted = 0
    var failed = 0
    var warmFailed = 0
    val done = TracedWorkloads.map { name =>
      val ph = new Phases(name, Some(tracer))
      val w = Workloads(name, spark, a.seed, ph)
      val dir = s"${a.work}/trace-$name-${a.seed}"
      deleteTree(new File(dir))
      w.prepare(dir)
      w.setupCheck()
      val client = new Client(w, ph)
      client.warmUp()
      warmFailed += client.failed
      client.failed = 0
      val times = client.measure(a.seconds / TracedWorkloads.size, minWindows = 2)
      attempted += times.length
      failed += client.failed
      (w, ph)
    }
    org.apache.spark.BenchBridge.drainListeners(sc)
    val spans = tracer.all
    val metrics = done.flatMap { case (w, ph) =>
      val wl = w.name
      val ops = spans.filter(_.name == s"$wl.op")
      val opIds = ops.map(_.id).toSet
      def instance(s: Span): Instance = {
        val c = listener.group(s.group)
        val busy = Intervals.unionWithin(c.jobSpans.toSeq, s.startMs, s.endMs)
        Instance(s.durMs, s.durMs - busy, c.jobs, c.tasks, c.cpuNs / 1e6,
          c.shuffleBytes / 1e6, c.gcMs, c.recordsRead,
          ph.notes.get(s.group).map(_.toMap).getOrElse(Map.empty))
      }
      def inst(phase: String): Seq[Instance] =
        spans.filter(s => s.name == s"$wl.$phase" && opIds(s.parent)).map(instance)
      val perPhase = w.phases.flatMap { p =>
        val xs = inst(p)
        def m(counter: String, unit: String, f: Instance => Double) =
          (s"$wl.$p.$counter", Stats.median(xs.map(f)), unit)
        Seq(m("wall_ms", "ms", _.wallMs), m("driver_ms", "ms", _.driverMs),
          m("jobs", "count", _.jobs), m("tasks", "count", _.tasks),
          m("cpu_ms", "ms", _.cpuMs), m("shuffle_mb", "MB", _.shuffleMb),
          m("gc_ms", "ms", _.gcMs))
      }
      val setup = w.setupPhases.map { p =>
        (s"$wl.$p.wall_ms",
          Stats.median(spans.filter(s => s.name == s"$wl.$p" && s.parent < 0).map(_.durMs)), "ms")
      }
      val selfMs = Stats.median(ops.map(o =>
        Intervals.selfTime(o, spans.filter(_.parent == o.id))))
      perPhase ++ setup ++ w.ratios(inst) ++ Seq(
        (s"$wl.op.self_ms", selfMs, "ms"),
        (s"$wl.traced.op_p50_ms", Stats.median(ops.map(_.durMs)), "ms"))
    }
    if (a.traceFile.nonEmpty) writeTrace(a.traceFile, spans, listener)
    resultLine(failed == 0 && warmFailed == 0, attempted, failed, metrics)
  }

  /** All spans and per-group job counters, as one JSON document. */
  private def writeTrace(path: String, spans: Seq[Span],
                         listener: GroupListener): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val ss = spans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${q(s.name)}, "group": ${q(s.group)}, "start_ms": ${num(s.startMs)}, "end_ms": ${num(s.endMs)}}""")
    val gs = listener.groups.toSeq.sortBy(_._1).map { case (g, c) =>
      val jobs = c.jobSpans.map { case (s, e) => s"[${num(s)}, ${num(e)}]" }.mkString(", ")
      s"""${q(g)}: {"jobs": ${c.jobs}, "tasks": ${c.tasks}, "cpu_ns": ${c.cpuNs}, "gc_ms": ${c.gcMs}, "shuffle_bytes": ${c.shuffleBytes}, "records_read": ${c.recordsRead}, "job_spans": [$jobs]}"""
    }
    val f = new File(path)
    f.getParentFile.mkdirs()
    Files.write(f.toPath,
      s"""{"spans": [\n${ss.mkString(",\n")}\n], "groups": {\n${gs.mkString(",\n")}\n}}\n"""
        .getBytes(StandardCharsets.UTF_8))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(a.trace || TracedWorkloads.contains(a.workload),
      s"unknown workload ${a.workload}")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.core.Sessions.local("bench",
      cores = Runtime.getRuntime.availableProcessors().toString)
    val bootS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val line =
      try if (a.trace) traced(spark, a) else untraced(spark, a, bootS)
      finally {
        spark.stop()
        deleteTree(new File(a.work))
      }
    println(line)
  }
}
