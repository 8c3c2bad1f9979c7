package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Driver-side `listStatus` calls, and driver-side `open`s and
  * `mkdirs` by path, counted; executor tasks are left out. `mkdirs` is
  * counted on the raw filesystem underneath, which sees the calls
  * writers make through [[graft.util.AtomicFlip.raw]] and each
  * `create`'s own parent `mkdirs`. */
class ListingCountingFs extends LocalFileSystem(new ListingCountingFs.Raw) {
  import ListingCountingFs.onDriver

  override def listStatus(f: Path): Array[FileStatus] = {
    if (onDriver) ListingCountingFs.lists.incrementAndGet()
    super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    ListingCountingFs.count(ListingCountingFs.opened, f)
    super.open(f, bufferSize)
  }
}

object ListingCountingFs {
  val lists = new AtomicLong
  private val opened = new ConcurrentHashMap[String, AtomicLong]
  private val made = new ConcurrentHashMap[String, AtomicLong]

  private def onDriver = !Thread.currentThread.getName.startsWith("Executor task launch")

  private def count(byPath: ConcurrentHashMap[String, AtomicLong], f: Path): Unit =
    if (onDriver) byPath.computeIfAbsent(f.toUri.getPath, _ => new AtomicLong).incrementAndGet()

  private def countOf(byPath: ConcurrentHashMap[String, AtomicLong], path: String): Long =
    Option(byPath.get(new Path(path).toUri.getPath)).fold(0L)(_.get)

  class Raw extends RawLocalFileSystem {
    override def mkdirs(f: Path): Boolean = { count(made, f); super.mkdirs(f) }
    override def mkdirs(f: Path, p: FsPermission): Boolean = { count(made, f); super.mkdirs(f, p) }
  }

  /** Driver-side opens of the file at `path` so far. */
  def opens(path: String): Long = countOf(opened, path)

  /** Driver-side `mkdirs` of the directory at `path` so far. */
  def mkdirs(path: String): Long = countOf(made, path)

  /** `body` run while every `file:` filesystem the session's Hadoop
    * configuration hands out is a fresh counting one (the FileSystem
    * cache is off, so a handle made inside `body` keeps counting after
    * it). */
  def installed[T](spark: SparkSession)(body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl", classOf[ListingCountingFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally {
      hc.unset("fs.file.impl")
      hc.unset("fs.file.impl.disable.cache")
    }
  }

  /** `body`'s result and the driver listings it made. */
  def listings[T](spark: SparkSession)(body: => T): (T, Long) = installed(spark) {
    val before = lists.get
    val out = body
    (out, lists.get - before)
  }
}
