package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One timed interval of the traced run. `parent` is the enclosing span's
  * id (-1 at the top); `op` is `workload#op#pass`. Times are nanoseconds
  * from the JVM's monotonic clock. */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span log. Spans are recorded around the benchmark's calls into
  * the program; nothing inside the program is instrumented. */
final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0
  var enabled = false

  def apply[A](name: String, op: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = next; next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        done += Span(id, parent, name, op, t0, System.nanoTime())
      }
    }

  def all: Seq[Span] = done.toSeq

  /** Duration minus the part of it that child spans cover. */
  def selfNs(s: Span): Long = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    s.durNs - covered
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    done.sortBy(_.id).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${s.op}","start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)}}""" += '\n'
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Per-op (job group) totals from the scheduler's public listener events. */
final class GroupStats {
  var jobs = 0; var stages = 0; var tasks = 0
  var taskMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L; var inputRows = 0L
  var skewMax = 1.0
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

/** Scheduler and SQL observers keyed by job group. The benchmark tags each
  * op with `setJobGroup(opId)`; the group id travels in the job-start
  * properties (and into `Par` pool threads, which inherit local
  * properties), so attribution is exact and needs no sleeps: before an
  * op's record is read, [[await]] blocks until every job the status
  * tracker lists for the group has ended.
  *
  * Execution-listener callbacks carry no job group; they are credited to
  * the op the driver is running (`currentOp`). Both listeners sit on the
  * listener bus's shared queue, which delivers in order, so [[await]] also
  * runs a one-task fence job and waits for its end: every event the op
  * posted has been delivered by then, and the next op has not begun. */
final class OpListener(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private val lock = new Object
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val endedJobs = mutable.Set.empty[Int]
  @volatile var currentOp = ""
  private var fences = 0
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val phases = mutable.HashMap.empty[String, Array[Double]] // group -> a,o,p (s)
  private val blockBytes = new ConcurrentHashMap[RDDBlockId, java.lang.Long]()

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      val st = stats(g)
      st.jobs += 1
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobGroup.get(e.jobId).foreach { g =>
      stats(g).jobSpans += ((jobStart(e.jobId), e.time))
    }
    endedJobs += e.jobId
    lock.notifyAll()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val st = stats(g)
      st.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        st.taskMs += m.executorRunTime
        st.taskCpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.diskBytesSpilled
        st.inputBytes += m.inputMetrics.bytesRead
        st.inputRows += m.inputMetrics.recordsRead
      }
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val id = e.stageInfo.stageId
    stageGroup.get(id).foreach { g =>
      val st = stats(g)
      st.stages += 1
      stageTaskMs.remove(id).filter(_.size >= 2).foreach { ds =>
        val sorted = ds.sorted
        val median = sorted(sorted.size / 2).max(1L)
        st.skewMax = math.max(st.skewMax, sorted.last.toDouble / median)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case b: RDDBlockId =>
        val bytes = info.memSize + info.diskSize
        if (bytes > 0) blockBytes.put(b, bytes) else blockBytes.remove(b)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)

  private def recordPhases(qe: QueryExecution): Unit = lock.synchronized {
    val p = phases.getOrElseUpdate(currentOp, new Array[Double](3))
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").zipWithIndex.foreach { case (k, i) =>
      ph.get(k).foreach(s => p(i) += (s.endTimeMs - s.startTimeMs) / 1e3)
    }
  }

  private def awaitJobs(ids: Seq[Int], what: String): Unit = lock.synchronized {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!ids.forall(endedJobs.contains) && System.nanoTime() < deadline) lock.wait(1000)
    if (!ids.forall(endedJobs.contains))
      System.err.println(s"[perfbench] job events for $what incomplete after 30 s")
  }

  /** Block until the group's jobs have ended and everything the op posted
    * has been delivered (see the class comment). Runs on the driver thread
    * after the op, outside the timed window. */
  def await(group: String): Unit = {
    awaitJobs(sc.statusTracker.getJobIdsForGroup(group).toSeq, group)
    fences += 1
    val fence = s"perfbench-fence#$fences"
    sc.setJobGroup(fence, fence, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    awaitJobs(sc.statusTracker.getJobIdsForGroup(fence).toSeq, fence)
  }

  def group(g: String): GroupStats = lock.synchronized(groups.getOrElse(g, new GroupStats))
  def planner(g: String): Array[Double] = lock.synchronized(phases.getOrElse(g, new Array[Double](3)).clone())

  /** Bytes held by blocks of the RDDs currently marked persistent. */
  def pinnedBytes(rddIds: Set[Int]): Long =
    blockBytes.asScala.iterator.collect { case (b, n) if rddIds(b.rddId) => n.longValue }.sum
}

/** Old-generation occupancy after each full collection the benchmark forces
  * (read from the GC MXBeans' collection usage). */
object Heap {
  private def oldPool = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == java.lang.management.MemoryType.HEAP &&
      p.isCollectionUsageThresholdSupported &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))

  /** Forces a full GC and returns the old generation's size after it, MB. */
  def liveOldGenMb(): Double = {
    System.gc()
    oldPool.map(_.getCollectionUsage.getUsed / 1048576.0).getOrElse(Double.NaN)
  }
}
