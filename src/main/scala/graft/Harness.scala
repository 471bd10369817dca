package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every driver entrypoint shares: how a session is configured and
  * how one registry query is run and attributed.
  *
  *  - [[Harness.session]] is the only session factory in the program;
  *  - [[Recorder]] tags each run with its own job group and collects that
  *    group's jobs and stages from the scheduler's listener events;
  *  - [[Recorder.noop]] is the bench methodology on top of it (noop sink,
  *    then drop every cache and pin the query left behind).
  */
object Harness {
  /** Local session on `local[$SPARK_GRAFT_CPUS]` (`defaultCpus` when the
    * variable is unset), shuffle partitions equal to the CPU count, UTC,
    * no UI. */
  def session(defaultCpus: Int, logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Codegen class cache sized to the workload (round 17, guide §1.2
      // "fixed per-query overhead"): the static default (100 entries)
      // holds ~10 queries' worth of WholeStageCodegen units, so a
      // 392-query pass evicts EVERYTHING between a query's pass-1 and
      // pass-2 reps and every rep re-compiles every stage (Janino,
      // ~20-80 ms per unit, driver-side serial). Production multi-query
      // drivers size this cache to their live query set for exactly this
      // reason; scale-independent (it caches compiled classes keyed by
      // generated source, never data or results).
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}

final case class StageRecord(name: String, tasks: Int, taskMs: Long,
    inputMB: Double, shuffleReadMB: Double, shuffleWriteMB: Double)

/** One Spark job of a run; times are epoch ms from the scheduler. */
final case class JobRecord(id: Int, startMs: Long, endMs: Long, stages: Seq[StageRecord])

/** One run: its wall time, its jobs in start order, and the failure its
  * body threw, if any. */
final case class RunRecord(name: String, wallS: Double, jobs: Seq[JobRecord],
    failure: Option[Throwable]) {
  def stages: Seq[StageRecord] = jobs.flatMap(_.stages)
  def taskSec: Double = stages.map(_.taskMs).sum / 1e3

  /** Wall covered by at least one job span (overlapping `Par` jobs count
    * once); `wallS - jobWallS` is driver-side work: plan building, codegen
    * compile, result fetch. */
  def jobWallS: Double = {
    var covered = 0L; var curS = 0L; var curE = 0L
    jobs.map(j => (j.startMs, j.endMs)).sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    (covered + curE - curS) / 1e3
  }
}

/** The session's run recorder. [[run]] sets a job group unique to the run;
  * the group travels in every job's properties, also into `Par` pool
  * threads (they inherit the caller's local properties) and broadcast
  * builds, so a job belongs to the run exactly when it carries the group
  * — timing plays no part. Jobs outside any run are ignored, and so are a
  * started streaming query's micro-batches: Spark gives those a job group
  * of their own (no registry query starts a stream).
  *
  * The listener bus is asynchronous but delivers in posting order, so
  * after the body [[run]] submits a one-task fence job in a group of its
  * own and waits for that job's end to be delivered: by then every event
  * the run's jobs posted has been delivered too. */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private final class Job(val group: String, val startMs: Long, var endMs: Long,
      val stageIds: Seq[Int], val stages: mutable.ArrayBuffer[StageRecord])
  private val open = mutable.Set.empty[String]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var runs = 0
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(open).foreach { g =>
        jobs(e.jobId) = new Job(g, e.time, -1L, e.stageIds, mutable.ArrayBuffer.empty)
        e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j => j.endMs = e.time; notifyAll() }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
      val m = si.taskMetrics
      j.stages += StageRecord(si.name.take(90), si.numTasks, m.executorRunTime,
        m.inputMetrics.bytesRead / 1e6, m.shuffleReadMetrics.totalBytesRead / 1e6,
        m.shuffleWriteMetrics.bytesWritten / 1e6)
    }
  }

  /** Runs `body` as one attributed run. A non-fatal failure is recorded,
    * not thrown. */
  def run(name: String)(body: => Unit): RunRecord = {
    val group = synchronized { runs += 1; s"$name#$runs" }
    val fence = s"$group#fence"
    synchronized { open += group; open += fence }
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val failure =
      try { body; None }
      catch { case NonFatal(e) => Some(e) }
      finally sc.clearJobGroup()
    val wallS = (System.nanoTime() - t0) / 1e9
    sc.setJobGroup(fence, fence, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    RunRecord(name, wallS, take(group, fence), failure)
  }

  /** [[run]] for one registry query under the bench methodology: the
    * result is fully materialized through the `noop` sink (`count()` would
    * let column pruning skip projection work). Afterwards, outside the
    * timed window, everything the query left resident is dropped: caches
    * built inside one query (the augmentation pipelines pin ~GBs of pixel
    * rows) must not GC-pressure whatever runs next — measured 0.8 s -> 12 s
    * on the last bench query before this was added. `clearCache` misses
    * `localCheckpoint` blocks (iterative ops), so those are unpersisted
    * too. */
  def noop(name: String)(build: => DataFrame): RunRecord =
    try run(name)(build.write.format("noop").mode("overwrite").save())
    finally {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

  /** Waits for the fence's end, then removes and returns the group's jobs. */
  private def take(group: String, fence: String): Seq[JobRecord] = synchronized {
    val deadline = System.nanoTime() + 30L * 1000000000L
    def fenced = jobs.valuesIterator.exists(j => j.group == fence && j.endMs >= 0)
    while (!fenced && System.nanoTime() < deadline) wait(1000)
    if (!fenced) System.err.println(s"[harness] events for $group incomplete after 30 s")
    open -= group; open -= fence
    val mine = jobs.filter { case (_, j) => j.group == group || j.group == fence }
    mine.foreach { case (id, j) => jobs -= id; j.stageIds.foreach(stageJob -= _) }
    mine.collect { case (id, j) if j.group == group =>
      JobRecord(id, j.startMs, j.endMs, j.stages.toSeq)
    }.toSeq
  }
}
