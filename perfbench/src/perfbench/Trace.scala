package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Interval arithmetic for self time: every "time not covered by X"
  * figure is taken against the UNION of X's intervals, so overlapping
  * jobs (a broadcast build running beside the probe-side scan) are
  * counted once, never subtracted twice. */
object Intervals {

  /** Length covered by the union of half-open intervals [start, end). */
  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** `ivs` clipped to the window [lo, hi). */
  def clip(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }

  /** Time in [lo, hi) covered by none of `ivs`. */
  def uncovered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long =
    (hi - lo) - unionLength(clip(ivs, lo, hi))
}

/** Hadoop `file:` filesystem that counts the calls made from driver
  * threads (Spark's local-mode executor threads are left out, so the
  * count is planning, listing and commit metadata work). Registered with
  * `spark.hadoop.fs.file.impl` in the traced run only. Filesystem work
  * done outside Hadoop — `graft.util.AtomicFlip`'s `link(2)` pointer
  * flip — is not seen here. */
class CountingFs extends LocalFileSystem {
  import CountingFs._
  private def op(list: Boolean): Unit =
    if (!Thread.currentThread.getName.startsWith("Executor task launch")) {
      ops.incrementAndGet()
      if (list) lists.incrementAndGet()
    }
  override def listStatus(f: Path): Array[FileStatus] = { op(true); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    op(true); super.listLocatedStatus(f)
  }
  override def listFiles(f: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] = {
    op(true); super.listFiles(f, recursive)
  }
  override def getFileStatus(f: Path): FileStatus = { op(false); super.getFileStatus(f) }
  override def exists(f: Path): Boolean = { op(false); super.exists(f) }
  override def open(f: Path, bufferSize: Int) = { op(false); super.open(f, bufferSize) }
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
                      overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: org.apache.hadoop.util.Progressable) = {
    op(false); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { op(false); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { op(false); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission): Boolean = {
    op(false); super.mkdirs(f, permission)
  }
}

object CountingFs {
  val ops = new AtomicLong
  val lists = new AtomicLong
}

/** Per-layer tracer. `span(name)` wraps one call into a layer: it keeps
  * the span's interval in memory, tags every Spark job submitted inside
  * it (a thread-local job property), and a listener folds each job's
  * interval, task count, executor CPU, shuffle and output bytes into the
  * span that submitted it. Counters are summed per span name and read
  * out at the end of the run. With `enabled = false` a span is a plain
  * call and nothing is recorded. */
final class Tracer(sc: SparkContext, val enabled: Boolean) extends SparkListener {
  import Tracer._

  private final case class Job(span: Int, start: Long, var end: Long = -1L)
  private final case class Rec(name: String, parent: Int, start: Long, startNs: Long,
                               fs0: (Long, Long), var end: Long = -1L, var wallNs: Long = 0L,
                               var fs: (Long, Long) = (0L, 0L))
  private final class Acc { var tasks, cpuNs, shuffleB, writtenB = 0L }

  private val spans = mutable.ArrayBuffer.empty[Rec]
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val acc = mutable.Map.empty[Int, Acc]
  private var stack = List.empty[Int]

  if (enabled) sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized {
        spans += Rec(name, stack.headOption.getOrElse(-1), System.currentTimeMillis,
          System.nanoTime, (CountingFs.ops.get, CountingFs.lists.get))
        spans.size - 1
      }
      val outer = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        sc.setLocalProperty(SpanProp, outer)
        synchronized {
          val r = spans(id)
          r.wallNs = System.nanoTime - r.startNs
          r.end = System.currentTimeMillis
          r.fs = (CountingFs.ops.get - r.fs0._1, CountingFs.lists.get - r.fs0._2)
        }
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt)
    s.foreach { id =>
      jobs(e.jobId) = Job(id, e.time)
      e.stageIds.foreach(st => stageSpan(st) = id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val a = acc.getOrElseUpdate(id, new Acc)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs += m.executorCpuTime
        a.shuffleB += m.shuffleWriteMetrics.bytesWritten
        a.writtenB += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Counters per span name, summed over its calls. Waits for the
    * listener bus first, so every event of a finished job is in. */
  def totals(): Map[String, Counters] = {
    if (!enabled) return Map.empty
    org.apache.spark.perfbenchbus.Bus.drain(sc)
    synchronized {
      val jobsBySpan = jobs.values.filter(_.end >= 0).groupBy(_.span)
      val children = spans.indices.groupBy(i => spans(i).parent)
      spans.indices.groupBy(i => spans(i).name).map { case (name, ids) =>
        val c = new Counters
        ids.foreach { id =>
          val r = spans(id)
          val kids = children.getOrElse(id, Nil).map(spans(_))
          val kidIvs = kids.map(k => (k.start, k.end))
          val own = jobsBySpan.getOrElse(id, Nil)
          c.calls += 1
          c.wallS += r.wallNs / 1e9
          // wall time (ms-resolution listener clock) left over once own
          // jobs and child spans are taken out, by interval union
          c.driverS += Intervals.uncovered(r.start, r.end,
            own.map(j => (j.start, j.end)).toSeq ++ kidIvs) / 1e3
          c.jobs += own.size
          acc.get(id).foreach { a =>
            c.tasks += a.tasks; c.cpuS += a.cpuNs / 1e9
            c.shuffleMb += a.shuffleB / 1e6; c.writtenMb += a.writtenB / 1e6
          }
          c.fsOps += r.fs._1 - kids.map(_.fs._1).sum
          c.fsLists += r.fs._2 - kids.map(_.fs._2).sum
        }
        name -> c
      }
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final class Counters {
    var calls = 0L
    var wallS, driverS, cpuS, shuffleMb, writtenMb = 0.0
    var jobs, tasks, fsOps, fsLists = 0L

    def get(counter: String): Double = counter match {
      case "calls" => calls.toDouble
      case "wall_s" => wallS
      case "driver_s" => driverS
      case "jobs" => jobs.toDouble
      case "tasks" => tasks.toDouble
      case "cpu_s" => cpuS
      case "shuffle_mb" => shuffleMb
      case "written_mb" => writtenMb
      case "fs_ops" => fsOps.toDouble
      case "fs_lists" => fsLists.toDouble
    }
  }
}
