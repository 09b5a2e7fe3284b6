package perfbench

import scala.collection.mutable.{ArrayBuffer, HashMap}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Process-wide Hadoop filesystem byte counters. In `local[N]` the
  * executors share the driver JVM, so these count every byte the
  * program moved through Hadoop filesystems: table and segment files,
  * manifests, checkpoints. Shuffle files bypass Hadoop and are not in
  * them. */
object FsBytes {
  def read: Long = sum(_.getBytesRead)
  def written: Long = sum(_.getBytesWritten)
  private def sum(f: FileSystem.Statistics => Long): Long = {
    val it = FileSystem.getAllStatistics.iterator()
    var n = 0L
    while (it.hasNext) n += f(it.next())
    n
  }
}

/** One call the benchmark made into a layer. `op` is the id of the
  * top-level operation every span under it shares; times are seconds
  * since the run's clock origin. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    t0: Double, t1: Double, fsRead: Long, fsWritten: Long)

/** Spans around the benchmark's own calls into the program. Kept in
  * memory and written out when the run ends. A disabled tracer runs
  * the body and records nothing; `paused` skips recording (warm-up). */
final class Tracer(enabled: Boolean, clock: Clock) {
  val spans = ArrayBuffer.empty[Span]
  var paused = false
  private var open = List.empty[Int]
  private var opOf = 0
  private var next = 1

  /** A top-level operation: the root span every child span of this
    * call shares its op id with. */
  def op[A](name: String)(body: => A): A = {
    if (open.isEmpty) opOf = next
    span(name)(body)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled || paused) body
    else {
      val id = next
      next += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val (r0, w0, t0) = (FsBytes.read, FsBytes.written, clock.now)
      try body
      finally {
        open = open.tail
        spans += Span(id, parent, opOf, name, t0, clock.now,
          FsBytes.read - r0, FsBytes.written - w0)
      }
    }
}

/** Monotonic seconds since the run began, plus the conversion for
  * listener events, which carry wall-clock milliseconds. */
final class Clock {
  private val origin = System.nanoTime()
  private val wallOrigin = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - origin) / 1e9
  def ofWallMs(ms: Long): Double = (ms - wallOrigin) / 1e3
}

/** Scheduler counts per job, from a listener the benchmark registers.
  * Task metrics reach their job through the stage → job map. */
final class JobLog(clock: Clock) extends SparkListener {
  final class Job(val id: Int, val t0: Double) {
    var t1: Double = Double.NaN
    var inputBytes, inputRecords, outputBytes, shuffleBytes, cpuNs = 0L
  }
  val jobs = ArrayBuffer.empty[Job]
  /** (start time, root execution id) of every SQL execution. */
  val sqlStarts = ArrayBuffer.empty[(Double, Long)]
  private val byId = HashMap.empty[Int, Job]
  private val stageJob = HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.jobId, clock.ofWallMs(e.time))
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.t1 = clock.ofWallMs(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
      j.outputBytes += m.outputMetrics.bytesWritten
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      j.cpuNs += m.executorCpuTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlStarts += ((clock.ofWallMs(s.time), s.rootExecutionId.getOrElse(s.executionId)))
    }
    case _ =>
  }
}
