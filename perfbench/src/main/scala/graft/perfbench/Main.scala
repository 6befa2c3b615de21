package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What a workload sees of one run: the live session, the tracer, its
  * generated inputs and planted truth, and a work dir of its own. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val input: String,
                val truth: Map[String, String], val work: Path, seed: Long) {
  val rnd = new java.util.Random(seed * 31 + 7)
  def span[A](name: String)(body: => A): A = tracer.span(name)(body)
  def truthLong(k: String): Long = truth(k).toLong
}

/** One closed-loop operation as the client saw it. `written` and `user`
  * are the bytes it wrote under the workload's data dirs and the bytes of
  * user data it took in; `failed` names a wrong output, if any. */
final case class Op(kind: String, seconds: Double, written: Long, user: Long,
                    failed: Option[String] = None, cpuSeconds: Double = 0.0)

trait Workload {
  def name: String
  /** Inputs for `seed` under `root`, cached; returns (input dir, truth). */
  def generate(spark: SparkSession, root: Path, seed: Long, scale: Double)
      : (String, Map[String, String])
  /** Initialisation on a fresh session and work dir: run once per
    * set-up repetition. */
  def setup(c: Ctx): Unit
  /** First use after the last set-up, until caches are filled. */
  def warmup(c: Ctx): Unit
  /** Calls of [[op]] per pass. The timed region runs whole passes, so
    * every run measures the same mix. */
  def passSteps: Int
  /** Whether the operation a user waits for is the whole pass (a batch
    * job) rather than each call of [[op]]. */
  def passIsOp: Boolean
  /** The latencies whose median is `bench.op_p50_ms`. */
  def latencies(ops: Seq[Op]): Seq[Double] =
    ops.map(_.seconds).grouped(passSteps).map(_.sum).toSeq
  def op(c: Ctx): Op
  /** Output checks after the timed region; returns failures. */
  def finish(c: Ctx): Seq[String]
  /** Workload-specific per-layer values of the traced half. */
  def layerMetrics(c: Ctx, ops: Seq[Op]): Map[String, Double]
}

/** The benchmark's entry point.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> [--scale <x>]
  * }}}
  *
  * Runs from the checkout root and keeps every file it writes under
  * `.perfbench_work/`. Prints one JSON object as its last stdout line; the
  * line before it holds the run conditions. Exit code 1 when any output
  * check failed. */
object Main {
  val Workloads: Map[String, Workload] = Seq[Workload](
    EtlClaims, CorpusCuration, TableServing).map(w => w.name -> w).toMap

  private val SetupReps = 3

  def session(dir: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", dir.resolve("wh").toString)
      .config("spark.local.dir", dir.resolve("local").toString)
      .config("spark.sql.streaming.checkpointLocation", dir.resolve("ckpt").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.getOrElse(a.getOrElse("workload", ""),
      sys.error(s"unknown workload; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val scale = a.getOrElse("scale", "1").toDouble
    val root = Paths.get(a.getOrElse("root", ".perfbench_work")).toAbsolutePath
    val runDir = root.resolve(s"run-${ProcessHandle.current.pid}")
    Fs.deleteTree(runDir)
    val load0 = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

    // ---- set-up: session start plus initialisation, SetupReps times on
    // fresh sessions (their median), plus one warm-up on the last.
    // Input generation is done once, untimed, inside the first rep.
    var spark: SparkSession = null
    var input: (String, Map[String, String]) = null
    var genS = 0.0
    val setupS = (1 to SetupReps).map { rep =>
      if (spark != null) { spark.streams.active.foreach(_.stop()); spark.stop() }
      val repDir = runDir.resolve(s"rep$rep")
      val t0 = System.nanoTime()
      spark = session(repDir)
      var genNs = 0L
      if (input == null) {
        val g0 = System.nanoTime()
        input = w.generate(spark, root.resolve("gen"), seed, scale)
        genNs = System.nanoTime() - g0
        genS = genNs / 1e9
      }
      val c = new Ctx(spark, new Tracer(spark), input._1, input._2,
        repDir.resolve("work"), seed)
      Files.createDirectories(c.work)
      w.setup(c)
      (System.nanoTime() - t0 - genNs) / 1e9
    }
    val ctx = new Ctx(spark, new Tracer(spark), input._1, input._2,
      runDir.resolve(s"rep$SetupReps").resolve("work"), seed)
    val w0 = System.nanoTime()
    w.warmup(ctx)
    val warmupS = (System.nanoTime() - w0) / 1e9

    // ---- timed region: a closed loop, one client thread. A traced run
    // measures its first half untraced and its second half traced, so it
    // reports its own tracing overhead.
    val heap = new HeapMonitor
    val rt = new RuntimeListener
    val sl = new StreamListener
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val ops = mutable.ArrayBuffer.empty[Op]
    val tracedOps = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var tracedFrom = -1.0
    // whole passes, at least one in each half
    def run(buf: mutable.ArrayBuffer[Op], until: Double): Unit =
      while (elapsed < until || buf.isEmpty || buf.size % w.passSteps != 0) {
        val cpu0 = os.getProcessCpuTime
        val op = if (ctx.tracer.on) ctx.span("bench.wall")(w.op(ctx)) else w.op(ctx)
        buf += op.copy(cpuSeconds = (os.getProcessCpuTime - cpu0) / 1e9)
        if (buf.size % w.passSteps == 0) heap.sample()
      }
    run(ops, if (traced) seconds / 2 else seconds)
    if (traced) {
      spark.sparkContext.addSparkListener(rt)
      spark.streams.addListener(sl)
      ctx.tracer.on = true
      tracedFrom = elapsed
      run(tracedOps, seconds)
    }
    val wallS = elapsed
    ctx.tracer.on = false
    spark.streams.active.foreach(_.stop())
    val f0 = System.nanoTime()
    val finishFailures = w.finish(ctx)
    val finishS = (System.nanoTime() - f0) / 1e9
    val peakHeapMb = heap.peakMb
    val load1 = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

    val allOps = ops ++ tracedOps
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      metrics("setup_s") = (median(setupS) + warmupS, "s")
      // wall-clock latency and throughput are reported per layer (bench.*):
      // on a shared machine their run-to-run spread exceeds any usable bound
      val n = if (w.passIsOp) ops.size / w.passSteps else ops.size
      metrics("cpu_s_per_op") = (ops.map(_.cpuSeconds).sum / n, "s")
      metrics("write_amp") = (ops.map(_.written).sum.toDouble /
        math.max(1L, ops.map(_.user).sum), "ratio")
      metrics("peak_heap_mb") = (peakHeapMb, "MB")
    } else {
      rt.settle()
      Layers.metrics(w, ctx, rt, sl, tracedOps.toSeq, ops.toSeq, wallS - tracedFrom)
        .foreach { case (k, v) => metrics(k) = v }
    }
    // layer self times must account for the traced wall exactly
    val selfSum = ctx.tracer.selfSeconds.values.sum
    val rollupFailure = Option.when(
      math.abs(selfSum - ctx.tracer.spanSeconds("bench.wall")) > 1e-6)(
      s"layer self times sum to $selfSum s, not the traced wall")
    // the after-loop checks count as one more attempted operation
    val lateFailures = finishFailures ++ rollupFailure
    val failures = allOps.flatMap(_.failed) ++ lateFailures

    // ---- run conditions and artifacts
    val cond = Seq(
      "workload" -> s""""${w.name}"""", "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> (if (traced) "1" else "0"),
      "scale" -> scale.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "load_avg_start" -> f"$load0%.2f", "load_avg_end" -> f"$load1%.2f",
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "jdk" -> s""""${System.getProperty("java.version")}"""",
      "spark" -> s""""${spark.version}"""",
      "source" -> s""""${sys.env.getOrElse("PERFBENCH_SOURCE_ID", "unknown")}"""",
      "ops" -> allOps.size.toString,
      "op_kinds" -> allOps.groupBy(_.kind).map { case (k, v) => s""""$k":${v.size}""" }
        .mkString("{", ",", "}"),
      "setup_reps_s" -> setupS.map(x => f"$x%.4f").mkString("[", ",", "]"),
      "warmup_s" -> f"$warmupS%.4f", "gen_s" -> f"$genS%.4f",
      "timed_s" -> f"$wallS%.4f", "finish_s" -> f"$finishS%.4f",
      "failures" -> failures.map(f => "\"" + f.replace("\"", "'") + "\"").mkString("[", ",", "]"))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val metricsJson = metrics.map { case (k, (v, unit)) =>
      s""""$k":{"value":${num(v)},"unit":"$unit"}""" }.mkString("{", ",", "}")
    val result = s"""{"correct":${failures.isEmpty},"attempted":${allOps.size + 1},""" +
      s""""failed":${allOps.count(_.failed.nonEmpty) + lateFailures.size.min(1)},""" +
      s""""metrics":$metricsJson}"""
    val results = root.resolve("results")
    Files.createDirectories(results)
    val tag = s"${w.name}-s$seed-t${if (traced) 1 else 0}-${System.currentTimeMillis}"
    Files.writeString(results.resolve(s"$tag.json"),
      s"""{"conditions":$cond,"result":$result}""" + "\n")
    if (traced) {
      Files.writeString(results.resolve(s"$tag.spans.json"), ctx.tracer.toJson(tag) + "\n")
      Files.writeString(results.resolve(s"$tag.rollup.txt"), Layers.rollup(ctx.tracer))
    }
    spark.stop()
    Fs.deleteTree(runDir)
    failures.foreach(f => System.err.println(s"CHECK FAILED: $f"))
    println(s"""{"conditions":$cond}""")
    println(result)
    System.out.flush()
    sys.exit(if (failures.isEmpty) 0 else 1)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
