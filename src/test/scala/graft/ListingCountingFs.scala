package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Driver-side `listStatus` calls, and driver-side `open`s by path,
  * counted; executor tasks are left out. */
class ListingCountingFs extends LocalFileSystem {
  private def onDriver = !Thread.currentThread.getName.startsWith("Executor task launch")

  override def listStatus(f: Path): Array[FileStatus] = {
    if (onDriver) ListingCountingFs.lists.incrementAndGet()
    super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (onDriver) ListingCountingFs.opened
      .computeIfAbsent(f.toUri.getPath, _ => new AtomicLong).incrementAndGet()
    super.open(f, bufferSize)
  }
}

object ListingCountingFs {
  val lists = new AtomicLong
  private val opened = new ConcurrentHashMap[String, AtomicLong]

  /** Driver-side opens of the file at `path` so far. */
  def opens(path: String): Long =
    Option(opened.get(new Path(path).toUri.getPath)).fold(0L)(_.get)

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
