package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval: workload -> phase -> layer call -> Spark job ->
  * stage. Times are on the System.nanoTime clock; Spark's epoch-millisecond
  * event times are shifted onto it by [[Tracer.fromEpochMs]]. */
final case class Span(
    id: Int,
    parent: Int,
    name: String,
    kind: String,
    startNs: Long,
    endNs: Long,
    attrs: Map[String, Double])

/** Per-task facts the listener keeps for one traced call. */
final case class TaskRec(
    stageId: Int,
    shuffleMap: Boolean,
    launchMs: Long,
    durationMs: Long,
    runMs: Long,
    cpuNs: Long,
    gcMs: Long,
    shuffleWriteBytes: Long,
    diskSpillBytes: Long,
    outputBytes: Long,
    inputBytes: Long,
    failed: Boolean)

final case class JobRec(jobId: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

/** What the listener saw for one traced call: its jobs and their tasks. */
final case class CallStats(jobs: Seq[JobRec], tasks: Seq[TaskRec]) {
  def sum(f: TaskRec => Long): Long = tasks.map(f).sum
}

/** Records spans in memory and attributes Spark jobs to the call that
  * launched them through a local property. Disabled, it only runs the
  * wrapped code, so untraced runs carry no listener and no fence jobs. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)
  private var nextId = 1
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val listener = if (enabled) new CallListener else null
  if (enabled) sc.addSparkListener(listener)

  /** Wall time the tracer itself added to the traced code: the fence
    * jobs and the waits for the listener bus. */
  var ownNs = 0L

  def fromEpochMs(ms: Long): Long = ms * 1000000L + nanoOffset

  /** A workload or phase span: no Spark attribution of its own. */
  def span[A](name: String, kind: String)(f: => A): A = call(name, kind, attribute = false)(f)._1

  /** A layer call: Spark jobs started inside it are its children. Returns
    * the result and what the listener saw (empty when tracing is off). */
  def call[A](name: String, kind: String, attribute: Boolean = true)(f: => A): (A, CallStats) = {
    if (!enabled) return (f, CallStats(Nil, Nil))
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val prevTag = sc.getLocalProperty(TagKey)
    if (attribute) sc.setLocalProperty(TagKey, id.toString)
    val t0 = System.nanoTime()
    try {
      val r = f
      val t1 = System.nanoTime()
      sc.setLocalProperty(TagKey, prevTag)
      val stats = if (attribute) collect(id) else CallStats(Nil, Nil)
      spans += Span(id, parent, name, kind, t0, t1, Map.empty)
      if (attribute) addSparkSpans(id, stats)
      (r, stats)
    } finally {
      sc.setLocalProperty(TagKey, prevTag)
      stack = stack.tail
    }
  }

  /** Waits until the listener bus has delivered every event of the call:
    * a fence job posted after it is seen only once everything before it
    * was, because one listener queue delivers events in order. */
  private def collect(id: Int): CallStats = {
    val t0 = System.nanoTime()
    val fence = s"fence-$id"
    sc.setLocalProperty(TagKey, fence)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(TagKey, null)
    val deadline = System.nanoTime() + 10000000000L
    while (!listener.ended.contains(fence) && System.nanoTime() < deadline) Thread.sleep(1)
    listener.ended.remove(fence)
    listener.take(fence)
    val stats = listener.take(id.toString)
    ownNs += System.nanoTime() - t0
    stats
  }

  private def addSparkSpans(callId: Int, stats: CallStats): Unit = {
    stats.jobs.foreach { j =>
      val jid = nextId
      nextId += 1
      val tasks = stats.tasks.filter(t => j.stageIds.contains(t.stageId))
      spans += Span(jid, callId, s"job ${j.jobId}", "spark-job",
        fromEpochMs(j.startMs), fromEpochMs(j.endMs),
        Map("tasks" -> tasks.size.toDouble, "task_s" -> tasks.map(_.runMs).sum / 1e3))
      j.stageIds.foreach { sid =>
        val st = tasks.filter(_.stageId == sid)
        listener.stageTimes.get(sid).foreach { case (s0, s1) =>
          spans += Span(nextId, jid, s"stage $sid", "spark-stage", fromEpochMs(s0), fromEpochMs(s1),
            Map("tasks" -> st.size.toDouble, "task_s" -> st.map(_.runMs).sum / 1e3,
              "shuffle_map" -> (if (st.exists(_.shuffleMap)) 1.0 else 0.0)))
          nextId += 1
        }
      }
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Self time per span: its duration minus the union of its children's
    * intervals, clipped to the span itself. */
  def selfTimes: Map[Int, Long] = {
    val byParent = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a
          curE = b
        } else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> math.max(0L, s.endNs - s.startNs - covered)
    }.toMap
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  val TagKey = "perfbench.call"

  private final class CallListener extends SparkListener {
    val ended: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
    val stageTimes = new ConcurrentHashMap[Int, (Long, Long)]().asScala
    private val jobTag = new ConcurrentHashMap[Int, String]().asScala
    private val stageTag = new ConcurrentHashMap[Int, String]().asScala
    private val jobs = mutable.Map.empty[String, mutable.ArrayBuffer[JobRec]]
    private val jobStarts = new ConcurrentHashMap[Int, (Long, Seq[Int])]().asScala
    private val tasks = mutable.Map.empty[String, mutable.ArrayBuffer[TaskRec]]

    private def tagOf(props: java.util.Properties): String =
      if (props == null) null else props.getProperty(TagKey)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = tagOf(e.properties)
      if (tag != null) {
        jobTag(e.jobId) = tag
        val ids = e.stageInfos.map(_.stageId)
        ids.foreach(stageTag(_) = tag)
        jobStarts(e.jobId) = (e.time, ids)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobTag.remove(e.jobId).foreach { tag =>
        if (tag.startsWith("fence-")) ended.add(tag)
        else jobStarts.remove(e.jobId).foreach { case (t0, ids) =>
          jobs.getOrElseUpdate(tag, mutable.ArrayBuffer.empty) += JobRec(e.jobId, t0, e.time, ids)
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      for (s0 <- si.submissionTime; s1 <- si.completionTime) stageTimes(si.stageId) = (s0, s1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageTag.get(e.stageId).foreach { tag =>
        val m = e.taskMetrics
        val failed = e.reason != org.apache.spark.Success
        val shuffleMap = e.taskType == "ShuffleMapTask"
        val rec =
          if (m == null) TaskRec(e.stageId, shuffleMap, e.taskInfo.launchTime,
            e.taskInfo.duration, 0L, 0L, 0L, 0L, 0L, 0L, 0L, failed)
          else TaskRec(e.stageId, shuffleMap, e.taskInfo.launchTime, e.taskInfo.duration,
            m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
            m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
            m.outputMetrics.bytesWritten, m.inputMetrics.bytesRead, failed)
        tasks.getOrElseUpdate(tag, mutable.ArrayBuffer.empty) += rec
      }
    }

    def take(tag: String): CallStats = synchronized {
      CallStats(jobs.remove(tag).map(_.toSeq).getOrElse(Nil).sortBy(_.jobId),
        tasks.remove(tag).map(_.toSeq).getOrElse(Nil))
    }
  }
}
