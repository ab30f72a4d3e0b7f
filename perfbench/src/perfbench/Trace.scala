package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. `op` is the id of the
  * operation (lookup, commit, read or TD build) it belongs to, -1 outside
  * any operation; `parent` is the id of the enclosing span, -1 at the root.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, op: Int) {
  def durNs: Long = endNs - startNs
}

/** One operation of the closed loop: its kind, wall interval and whether
  * it was traced (spans + job group) or ran bare.
  */
final case class OpRecord(id: Int, kind: String, startNs: Long, endNs: Long,
                          traced: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder for the single caller thread. Spans stay in memory and
  * are written out once the run ends. With tracing off, `span` only runs
  * its body and `op` only reads the clock, so the untraced run pays no
  * recording cost.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  val ops = ArrayBuffer.empty[OpRecord]
  private var nextSpan = 0
  private var stack: List[Int] = Nil
  private var currentOp = -1
  private var opCount = 0
  private val kindCount = scala.collection.mutable.HashMap.empty[String, Int]
  private var tracingThisOp = false
  /** epoch-ms = (nanoTime + offset) / 1e6, to line spans up with
    * listener timestamps (which are epoch millis)
    */
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private def recording = enabled && (tracingThisOp || currentOp < 0)

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, name, t0, t1, parent, currentOp)
      }
    }

  /** Run one operation of the closed loop and return its result and wall
    * milliseconds. With tracing on, every second operation of each kind
    * runs bare, so the run also measures what tracing costs; traced
    * operations tag their Spark jobs with a job group named after the
    * operation id.
    */
  def op[T](kind: String)(body: => T): (T, Double) = {
    val id = opCount
    opCount += 1
    val nth = kindCount.getOrElse(kind, 0)
    kindCount(kind) = nth + 1
    tracingThisOp = enabled && nth % 2 == 0
    currentOp = id
    if (tracingThisOp) sc.setJobGroup(Tracer.group(id), kind, false)
    val t0 = System.nanoTime()
    try {
      val r = span(s"op.$kind")(body)
      val t1 = System.nanoTime()
      ops += OpRecord(id, kind, t0, t1, tracingThisOp)
      (r, (t1 - t0) / 1e6)
    } finally {
      if (tracingThisOp) sc.clearJobGroup()
      currentOp = -1
      tracingThisOp = false
    }
  }

  /** Id of the first operation after warm-up. */
  var firstMeasuredOp = 0
  def markMeasureStart(): Unit = firstMeasuredOp = opCount

  /** Whether the operation running now is traced (for probes that only
    * traced operations pay for, such as counting a table's files).
    */
  def tracingNow: Boolean = enabled && tracingThisOp
}

object Tracer {
  val GroupPrefix = "perfbench-op-"
  def group(op: Int): String = s"$GroupPrefix$op"
}

/** Spark-listener counts, tagged per operation through job groups.
  * Registered through the public `SparkContext.addSparkListener`.
  */
final class CountingListener extends SparkListener {
  final case class Job(op: Int, submitMs: Long, stageIds: Seq[Int],
                       var endMs: Long = -1L)
  final case class Task(stageId: Int, launchMs: Long, runMs: Long, gcMs: Long,
                        inputBytes: Long, outputBytes: Long,
                        outputRecords: Long, shuffleReadBytes: Long,
                        shuffleWriteBytes: Long, spillBytes: Long)

  val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  val stageSubmitMs = scala.collection.mutable.HashMap.empty[Int, Long]
  val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val op =
      if (g.startsWith(Tracer.GroupPrefix))
        g.stripPrefix(Tracer.GroupPrefix).toInt
      else -1
    jobs(e.jobId) = Job(op, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val info = e.stageInfo
      stageSubmitMs(info.stageId) =
        info.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null)
      tasks += Task(e.stageId, info.launchTime, m.executorRunTime,
        m.jvmGCTime, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }
}

/** Bytes of cached RDD blocks (memory plus disk), now and at their peak,
  * and the end of the run's marker job. Registered in every run, traced or
  * not, on the same listener queue as [[CountingListener]]: the queue
  * delivers events in order, so once the marker job's end arrives, every
  * earlier event has reached both listeners.
  */
final class CacheListener extends SparkListener {
  private val cached = scala.collection.mutable.HashMap.empty[String, Long]
  private var now = 0L
  private var peak = 0L
  private var markerJob = -1
  private var markerDone = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id", ""))
    if (g.contains(CacheListener.Marker)) markerJob = e.jobId
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == markerJob) markerDone = true
  }

  def drained: Boolean = synchronized(markerDone)

  // blocks dropped by an unpersist are not reported one by one
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    synchronized {
      val prefix = s"rdd_${e.rddId}_"
      cached.keys.filter(_.startsWith(prefix)).toSeq.foreach { k =>
        now -= cached.remove(k).get
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = b.memSize + b.diskSize
        now += size - cached.getOrElse(b.blockId.name, 0L)
        if (size == 0L) cached.remove(b.blockId.name)
        else cached(b.blockId.name) = size
        peak = math.max(peak, now)
      }
    }

  def cachedBytes: Long = synchronized(now)
  def peakBytes: Long = synchronized(peak)
}

object CacheListener {
  /** Job group of the run's last job. */
  val Marker = "perfbench-marker"
}
