package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark program. One process, one local SparkSession, one client
  * thread in a closed loop.
  *
  *   --workload geo_etl|text_dedup|index_rw  --seed N  --seconds S
  *   --trace 0|1  --scratch DIR  --spans FILE  [--inject]
  *
  * With --trace 0 it generates the workload's inputs, sets up, runs the
  * workload's checked warm-up passes, then passes for S seconds (at least
  * [[MinPasses]]), and prints the end-to-end metrics. With --trace 1 it
  * prints the per-layer metrics instead (see [[traced]]). The last stdout line is always one
  * JSON object: correct, attempted, failed, metrics.
  */
object Main {
  val Geo = Gen.GeoSizes(points = 100000, polygons = 1000, rects = 50, facilities = 5000,
    knnQueries = 1000, bufferPoints = 24)
  val Text = Gen.TextSizes(docs = 1500, minWords = 60, maxWords = 120, vocab = 4000,
    chainNodes = 32, smallComponents = 150)
  val Index = Gen.IndexSizes(docs = 1000, words = 20, vocab = 4000, dim = 32, clusters = 16,
    ingestDocs = 10)
  val Workloads = Seq("geo_etl", "text_dedup", "index_rw")
  val SetupReps = 3
  /** Measured passes per run, at least: `pass_s` is their median. */
  val MinPasses = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      scratch: Path, spans: Path, inject: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--inject" => m("inject") = "1"; i += 1
        case k if k.startsWith("--") && i + 1 < argv.length => m(k.drop(2)) = argv(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument '$other'")
      }
    }
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (${Workloads.mkString("|")})")
    val a = Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("scratch")).toAbsolutePath, Paths.get(need("spans")).toAbsolutePath, m.contains("inject"))
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  private def session(scratch: Path): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("graftbench")
    graft.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    b.config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def make(name: String, ctx: Ctx): Workload = name match {
    case "geo_etl" => new GeoEtl(ctx, Geo)
    case "text_dedup" => new TextDedup(ctx, Text)
    case "index_rw" => new IndexRw(ctx, Index)
  }

  private def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Metric name → (value, unit), in print order. */
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(a.scratch)
    val spark = session(a.scratch)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val rec = new Recorder(a.inject)
    val code =
      try {
        val metrics = if (a.trace) traced(spark, a, rec) else untraced(spark, a, rec, sessionS)
        report(a, rec, metrics)
        0
      } catch {
        case e: SetupFailure =>
          System.err.println(s"graftbench: set-up or warm-up failed: ${e.getMessage}")
          Option(e.getCause).foreach(_.printStackTrace())
          1
        case e: Exception =>
          System.err.println(s"graftbench: run failed: $e")
          e.printStackTrace()
          1
      } finally spark.stop()
    sys.exit(code)
  }

  /** Generates and sets up the workload (median of `reps` set-ups), then
    * runs its warm-up passes; returns the set-up time and the warm-up pass
    * times. A failed warm-up operation ends the run.
    */
  private def ready(w: Workload, reps: Int): (Double, Seq[Double]) = {
    val genS = secs(w.generate())._2
    val prepS = Stats.median((1 to reps).map(r => secs(w.prepare(r))._2))
    System.err.println(f"graftbench: ${w.name}%s inputs generated in $genS%.3f s, set-up $prepS%.3f s")
    val warm = (0 until w.warmPasses).map { i =>
      val (ok, s) = secs(w.pass(i))
      if (!ok) throw new SetupFailure(s"${w.name} warm-up pass failed")
      s
    }
    (prepS, warm)
  }

  /** Runs passes until `seconds` have passed and at least `minPasses`
    * passes succeeded; returns the time of every pass whose operations all
    * succeeded, and the next pass number.
    */
  private def loop(w: Workload, rec: Recorder, seconds: Double, minPasses: Int, first: Int,
      wrap: (Int, => Boolean) => Boolean): (Seq[Double], Int) = {
    val passes = ArrayBuffer.empty[Double]
    val jit = ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = first
    while ((System.nanoTime() < deadline || passes.length < minPasses) && i - first < 100) {
      val k = rec.latencies.length
      val jit0 = jitMs()
      if (wrap(i, w.pass(i))) passes += rec.latencies.drop(k).map(_._2).sum
      jit += jitMs() - jit0
      i += 1
    }
    println(s"# JIT compile ms per pass: ${jit.map(j => f"$j%.0f").mkString(" ")}")
    (passes.toSeq, i)
  }

  private def untraced(spark: SparkSession, a: Args, rec: Recorder, sessionS: Double): Metrics = {
    val ctx = new Ctx(spark, a.scratch.resolve(a.workload), new Tracer(spark, false), rec, a.seed)
    val w = make(a.workload, ctx)
    val (prepS, warm) = ready(w, SetupReps)
    rec.strict = false
    val gc0 = gcMs()
    val (passes, _) = loop(w, rec, a.seconds, MinPasses, w.warmPasses, (_, p) => p)
    val gc = gcMs() - gc0
    w.finish()
    if (passes.isEmpty) throw new IllegalStateException("no pass succeeded")
    val steps = rec.latencies.map(_._2).toSeq
    val m: Metrics = mutable.LinkedHashMap(
      "setup_s" -> (sessionS + prepS, "s"),
      "pass_s" -> (Stats.median(passes), "s"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
    println(f"# setup_s = session $sessionS%.3f s + prepare $prepS%.3f s (median of $SetupReps)")
    println(s"# warm-up pass times (s), not in setup_s: ${warm.map(p => f"$p%.3f").mkString(" ")}")
    println(f"# pass_s is the median of ${passes.length} passes; median step ${Stats.median(steps)}%.4f s of ${steps.length} steps")
    println(s"# pass times (s): ${passes.map(p => f"$p%.3f").mkString(" ")}")
    println(f"# GC during the measured passes: $gc%.0f ms")
    if (steps.length >= 11) {
      val (tail, pct, n) = Stats.tail(steps)
      println(f"# step tail: p$pct%.1f of $n steps = $tail%.4f s")
    }
    rec.latencies.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, v) =>
      val xs = v.map(_._2).toSeq
      println(f"#   $k%-34s p50 ${Stats.median(xs)}%.4f s  max ${xs.max}%.4f s  n ${xs.length}")
    }
    m
  }

  /** The traced run: the kernel microbenchmark, then the workload's set-up
    * and warm-up passes, an untraced phase and a traced phase of
    * `seconds / 2` each (at least one pass each). The traced phase records spans and
    * engine events; the ratio of the phases' median pass times is the
    * tracing overhead. Layers the workload does not call report 0.
    */
  private def traced(spark: SparkSession, a: Args, rec: Recorder): Metrics = {
    val kernels = Kernels.run(a.seed, Geo, Text, Index)
    val probe = EngineProbe.install(spark.sparkContext)
    val tracer = new Tracer(spark, false)
    val ctx = new Ctx(spark, a.scratch.resolve(a.workload), tracer, rec, a.seed)
    val w = make(a.workload, ctx)
    ready(w, 1)
    rec.strict = false
    val batch = a.workload != "index_rw"
    val wrap: (Int, => Boolean) => Boolean = (i, p) => if (batch) tracer.span("pass", "pass", i)(p) else p
    val (plain, next) = loop(w, rec, a.seconds / 2.0, 1, w.warmPasses, wrap)
    tracer.enabled = true; probe.active = true
    val root = tracer.spans.length
    val (withTrace, _) = tracer.span(a.workload, "workload")(loop(w, rec, a.seconds / 2.0, 1, next, wrap))
    w.finish()
    tracer.enabled = false; probe.active = false
    probe.settle()
    if (plain.isEmpty || withTrace.isEmpty) throw new IllegalStateException("no pass succeeded")
    val m: Metrics = mutable.LinkedHashMap.empty
    Layers.workload(m, tracer, probe, root, w.opLayers, cores)
    m("trace.overhead_frac") = (Stats.median(withTrace) / Stats.median(plain) - 1, "ratio")
    Layers.operators(m, tracer, probe, ctx)
    kernels.toSeq.sortBy(_._1).foreach { case (k, v) => m(k) = (v, "ns") }
    tracer.write(a.spans, id => Layers.spanEngine(probe, id))
    println(s"# ${tracer.spans.length} spans written to ${a.spans}; " +
      s"untraced passes ${plain.length}, traced passes ${withTrace.length}")
    m.foreach { case (k, (v, u)) => if (v.isNaN) m(k) = (0.0, u) }
    m
  }

  private def jitMs(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  private def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def report(a: Args, rec: Recorder, m: Metrics): Unit = {
    println(s"# graftbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} cores=$cores")
    m.foreach { case (k, (v, u)) => println(f"# $k%-40s $v%14.6f $u") }
    println(f"# failed_frac = ${rec.failed}/${rec.attempted} = ${rec.failed.toDouble / math.max(1, rec.attempted)}%.4f")
    rec.errors.foreach(e => println(s"# error: $e"))
    val ms = m.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    println(s"""{"correct":${rec.failed == 0},"attempted":${rec.attempted},"failed":${rec.failed},""" +
      s""""metrics":{${ms.mkString(",")}}}""")
  }
}
