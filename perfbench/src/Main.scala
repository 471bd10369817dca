package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** A workload: inputs, set-up, the ops of each pass, and output checks. */
trait Workload {
  def name: String
  /** Write this run's inputs. Not part of set-up time. */
  def prepare(): Unit = ()
  /** Session-side registration the ops rely on. Part of set-up time. */
  def register(spark: SparkSession): Unit
  /** Op names of one pass, in run order. */
  def passOps(pass: Int): Seq[String]
  /** Run one op. This is the timed call; `spans` is off unless traced. */
  def run(spark: SparkSession, op: String, opId: String, spans: Spans): Any
  /** Verify one op's output (outside the timed window); None when it holds. */
  def check(spark: SparkSession, op: String, value: Any): Option[String]
  /** Work items one op produces, for throughput metrics (e.g. examples). */
  def items(value: Any): Long
  /** Extra traced-run work outside the passes (per-call timings). */
  def probe(spark: SparkSession, spans: Spans): Map[String, Double] = Map.empty
}

/** One run of the benchmark: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --data <dir> [--prior-setups <s,s,..>]
  * [--setup-only 1]`.
  *
  * Closed loop, one client: each op starts after the previous one ended.
  * Set-up is timed from JVM start to the first op (session build and
  * registration, not input generation). With `--setup-only 1` the JVM only
  * sets up, prints `{"setup_s": ..}` and exits; `setup_s` is the median of
  * this JVM's set-up and the `--prior-setups` of such JVMs. After set-up the
  * run does a cold pass, one warm pass to let JIT settle, and measured warm
  * passes until `--seconds` have passed since the cold pass began.
  * With `--trace 1`, measured passes alternate between untraced and traced,
  * and the per-layer metrics come from the traced ones (codegen from the
  * traced cold pass). The last stdout line is the result JSON. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, data: Path, priorSetups: Seq[Double], setupOnly: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("data")).toAbsolutePath,
      m.get("prior-setups").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).map(_.toDouble),
      m.get("setup-only").contains("1"))
  }

  val slots: Int = math.min(Runtime.getRuntime.availableProcessors, 4)

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(o: Opts): Workload = o.workload match {
    case "rsna_pipeline" => new RsnaWorkload(o.seed, o.work)
    case "corpus" => new CorpusWorkload(o.seed, o.data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    Files.createDirectories(o.work)
    val w = workload(o)
    val g0 = System.nanoTime()
    w.prepare()
    val prepareS = (System.nanoTime() - g0) / 1e9

    // Set-up: JVM start to the first op, less input generation.
    val spark = session(o.work)
    w.register(spark)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - prepareS
    if (o.setupOnly) {
      spark.stop()
      println(s"""{"setup_s":$setupS}""")
      return
    }
    val setups = o.priorSetups :+ setupS
    val sc = spark.sparkContext

    val spans = new Spans
    val listener = new OpListener(sc)

    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    // pass, traced, seconds, items
    val passWall = mutable.ArrayBuffer.empty[(Int, Boolean, Double, Long)]
    val warmOpS = mutable.ArrayBuffer.empty[Double]
    val liveMb = mutable.ArrayBuffer.empty[Double]
    val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def addLayer(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    var coldCompileS = 0.0; var coldCompiles = 0L

    def runPass(pass: Int, traced: Boolean): Unit = {
      val cold = pass == 0
      val measured = pass >= 2
      spans.enabled = traced
      if (traced) { sc.addSparkListener(listener); spark.listenerManager.register(listener) }
      val cg0 = CodeGenerator.compileTime; val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      var wall = 0.0; var items = 0L
      val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      var skew = 1.0
      val ops = w.passOps(pass)
      ops.foreach { op =>
        val opId = s"${w.name}#$op#$pass"
        attempted += 1
        sc.setJobGroup(opId, opId, interruptOnCancel = false)
        listener.currentOp = opId
        val wallMs0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val out = Try(spans("op", opId)(w.run(spark, op, opId, spans)))
        val dt = (System.nanoTime() - t0) / 1e9
        val wallMs1 = System.currentTimeMillis()
        sc.clearJobGroup()
        System.err.println(f"[perfbench] $opId%s $dt%.3f s")
        wall += dt
        if (measured && !traced) warmOpS += dt

        // ---- outside the timed window ----
        if (traced) {
          listener.await(opId)
          val g = listener.group(opId)
          acc("exec.jobs") += g.jobs; acc("exec.stages") += g.stages; acc("exec.tasks") += g.tasks
          acc("exec.task_s") += g.taskMs / 1e3; acc("exec.task_cpu_s") += g.taskCpuNs / 1e9
          acc("exec.gc_s") += g.gcMs / 1e3
          acc("exec.shuffle_write_mb") += g.shuffleWrite / 1048576.0
          acc("exec.shuffle_read_mb") += g.shuffleRead / 1048576.0
          acc("exec.spill_mb") += g.spill / 1048576.0
          acc("scan.input_mb") += g.inputBytes / 1048576.0
          acc("scan.rows") += g.inputRows
          acc("exec.driver_gap_s") += driverGapS(wallMs0, wallMs1, g.jobSpans.toSeq)
          skew = math.max(skew, g.skewMax)
          val ph = listener.planner(opId)
          acc("catalyst.analysis_s") += ph(0); acc("catalyst.optimization_s") += ph(1)
          acc("catalyst.planning_s") += ph(2)
          val persistent = sc.getPersistentRDDs.keySet.toSet
          acc("pins.rdds") += persistent.size
          acc("pins.mb") += listener.pinnedBytes(persistent) / 1048576.0
        }
        out match {
          case Failure(e) =>
            failures += s"$opId threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          case Success(value) =>
            items += w.items(value)
            val err = try w.check(spark, op, value)
              catch { case NonFatal(e) => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
            err.foreach(m => failures += s"$opId: $m")
        }
        // Unpersist first and blocking: clearCache alone releases the cached
        // blocks asynchronously, and the heap reading below would race it.
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
      }
      // The heap the driver retains between passes, read after the cleanup
      // (what ops pin is pins.mb). Not an end-to-end metric: on this JVM it
      // reads one of two levels about 130 MB apart from run to run.
      if (o.trace) liveMb += Heap.liveOldGenMb()
      if (traced) { sc.removeSparkListener(listener); spark.listenerManager.unregister(listener) }
      passWall += ((pass, traced, wall, items))
      if (cold) {
        coldCompileS = (CodeGenerator.compileTime - cg0) / 1e9
        coldCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
      }
      if (traced && measured) {
        acc.foreach { case (k, v) => addLayer(k, v) }
        addLayer("exec.skew_max", skew)
        addLayer("exec.busy_frac", acc("exec.task_s") / (wall * slots))
        // per-layer self time from this pass's spans
        val passSpans = spans.all.filter(_.op.endsWith(s"#$pass"))
        val byName = passSpans.groupBy(_.name).map { case (n, ss) => n -> ss.map(spans.selfNs).sum / 1e9 }
        Seq("build", "dicom.decode", "pipeline.maps", "augment.passes",
          "pipeline.json_sinks", "tfrecord.sink").foreach { n =>
          addLayer(s"$n${if (n == "build") ".s" else "_s"}", byName.getOrElse(n, 0.0))
        }
      }
    }

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // Pass 0 is the cold pass and pass 1 lets JIT settle; warm statistics
    // come from passes 2 and later. Traced runs order those untraced,
    // traced, traced, untraced, ... so warm-up drift cancels out of
    // trace.overhead_frac.
    runPass(0, o.trace)
    runPass(1, traced = false)
    def tracedPass(pass: Int) = o.trace && Set(1, 2)((pass - 2) % 4)
    var pass = 2
    def measuredDone = pass - 2
    while (elapsed < o.seconds || measuredDone < 2 || (o.trace && measuredDone % 4 != 0)) {
      runPass(pass, tracedPass(pass))
      pass += 1
    }

    val probe = if (o.trace) { spans.enabled = true; w.probe(spark, spans) } else Map.empty[String, Double]
    if (o.trace) spans.writeJsonLines(o.work.resolve("spans.jsonl"))
    spark.stop()

    val cold = passWall.head
    val warmUntraced = passWall.filter(p => p._1 >= 2 && !p._2)
    val warmS = median(warmUntraced.map(_._3).toSeq)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!o.trace) {
      metrics("setup_s") = (median(setups), "s")
      metrics("cold_s") = (cold._3, "s")
      metrics("warm_s") = (warmS, "s")
      metrics("op_p50_s") = (quantile(warmOpS.toSeq, 0.5), "s")
      metrics("op_p90_s") = (quantile(warmOpS.toSeq, 0.9), "s")
      metrics("items_per_s") = (median(warmUntraced.map(p => p._4 / p._3).toSeq), "1/s")
    } else {
      val traced = passWall.filter(p => p._1 >= 2 && p._2).map(_._3).toSeq
      layer.foreach { case (k, vs) => metrics(k) = (median(vs.toSeq), unitOf(k)) }
      metrics("codegen.compile_s") = (coldCompileS, "s")
      metrics("codegen.compiles") = (coldCompiles.toDouble, "count")
      probe.foreach { case (k, v) => metrics(k) = (v, unitOf(k)) }
      metrics("heap.live_mb") = (median(liveMb.toSeq), "MB")
      metrics("trace.overhead_frac") = (median(traced) / warmS - 1, "ratio")
      // layers this workload does not reach read 0
      PerLayer.foreach(k => if (!metrics.contains(k)) metrics(k) = (0.0, unitOf(k)))
    }
    val errorRate = failures.size.toDouble / attempted
    // Human-readable detail first; the result is the last line.
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    println(s"""{"detail":{"workload":"${w.name}","seed":${o.seed},"trace":${o.trace},"passes":${passWall.size},""" +
      s""""warm_op_samples":${warmOpS.size},"error_rate":$errorRate,"setups_s":${setups.mkString("[", ",", "]")},""" +
      s""""prepare_s":$prepareS,"pass_s":${passWall.map(p => p._3).mkString("[", ",", "]")},""" +
      s""""live_heap_mb":${liveMb.mkString("[", ",", "]")}}}""")
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failures.isEmpty},"attempted":$attempted,"failed":${failures.size},"metrics":{$ms}}""")
  }

  /** Every per-layer metric a traced run reports, on every workload. */
  val PerLayer: Seq[String] = Seq(
    "build.s", "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "codegen.compile_s", "codegen.compiles", "exec.driver_gap_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.busy_frac", "exec.skew_max", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
    "exec.spill_mb", "scan.input_mb", "scan.rows", "pins.rdds", "pins.mb",
    "dicom.decode_s", "dicom.decode_ms", "pipeline.maps_s", "augment.passes_s",
    "augment.rows_out", "kernels.shift_image_ms", "kernels.shift_bbox_ms",
    "kernels.scale_bbox_ms", "kernels.scale_image_ms", "kernels.flip_ms",
    "png.encode_ms", "png.kb", "sha256.ms", "pipeline.json_sinks_s",
    "tfrecord.encode_ms", "tfrecord.crc_ms", "tfrecord.sink_s", "tfrecord.mb",
    "tfrecord.skipped_boxes", "heap.live_mb", "trace.overhead_frac")

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  /** Part of the op's wall covered by no job (epoch ms). */
  def driverGapS(startMs: Long, endMs: Long, jobs: Seq[(Long, Long)]): Double = {
    var covered = 0L; var curS = -1L; var curE = -1L
    jobs.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    covered += curE - curS
    (endMs - startMs - covered) / 1e3
  }

  def unitOf(k: String): String =
    if (k.endsWith("_ms") || k.endsWith(".ms")) "ms"
    else if (k.endsWith("_s") || k.endsWith(".s")) "s"
    else if (k.endsWith("_mb") || k.endsWith(".mb")) "MB"
    else if (k.endsWith(".kb")) "KB"
    else if (k.endsWith("_frac") || k.endsWith("_max")) "ratio"
    else "count"
}
