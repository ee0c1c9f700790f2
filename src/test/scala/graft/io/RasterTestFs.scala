package graft.io

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under its own scheme, so a test can tell reads
  * through the Hadoop FileSystem from reads that strip the scheme and
  * open the path with java.io. It counts its calls by method, and can
  * fail once at the n-th create, rename or delete. */
class RasterTestFs extends RawLocalFileSystem {
  import RasterTestFs.{count, mutate}
  override def getUri: URI = URI.create(s"${RasterTestFs.Scheme}:///")
  override def getScheme: String = RasterTestFs.Scheme

  // a listed status keeps its length, kind, times and path but not its
  // permission, so that `listFiles` works: a RawLocalFileSystem status
  // reads its permission through java.io.File, which refuses any scheme
  // but file:
  override def listStatus(f: Path): Array[FileStatus] = {
    count("listStatus")
    super.listStatus(f).map(s => new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getPath))
  }
  override def globStatus(p: Path): Array[FileStatus] = { count("globStatus"); super.globStatus(p) }
  override def globStatus(p: Path, filter: PathFilter): Array[FileStatus] = {
    count("globStatus"); super.globStatus(p, filter)
  }
  override def getFileStatus(f: Path): FileStatus = { count("getFileStatus"); super.getFileStatus(f) }
  // RawLocalFileSystem answers exists through java.io.File, not through
  // getFileStatus, so the probe is counted on its own
  override def exists(f: Path): Boolean = { count("exists"); super.exists(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { count("open"); super.open(f, bufferSize) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { count("mkdirs"); super.mkdirs(f, permission) }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    mutate("create", f); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutate("create", f); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { mutate("rename", src); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { mutate("delete", p); super.delete(p, recursive) }
}

object RasterTestFs {
  val Scheme = "graftrastertest"

  // every instance shares these: the scheme's cache is disabled, so each
  // getFileSystem call, on the driver or in a task, makes a new instance
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val mutations = new AtomicLong
  @volatile private var failAt = 0L

  private def count(method: String): Unit = counts.computeIfAbsent(method, _ => new AtomicLong).incrementAndGet()

  private def mutate(method: String, p: Path): Unit = {
    count(method)
    val n = mutations.incrementAndGet()
    if (n == failAt) throw new java.io.IOException(s"injected failure at mutating call $n: $method $p")
  }

  /** Calls of `method` since the last [[resetCalls]]. */
  def calls(method: String): Long = Option(counts.get(method)).fold(0L)(_.get)

  /** Creates, renames and deletes since the last [[resetCalls]]. */
  def mutatingCalls: Long = mutations.get

  /** Zeroes every count and disarms the failure. */
  def resetCalls(): Unit = { counts.clear(); mutations.set(0); failAt = 0 }

  /** Zeroes the counts; the n-th create, rename or delete from now on
    * throws an `IOException`, once. */
  def failOnce(n: Long): Unit = { resetCalls(); failAt = n }

  /** Runs `f` with the scheme registered on the session's Hadoop conf. */
  def withScheme[T](spark: org.apache.spark.sql.SparkSession)(f: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val implKey = s"fs.$Scheme.impl"
    conf.set(implKey, classOf[RasterTestFs].getName)
    conf.setBoolean(s"$implKey.disable.cache", true)
    try f
    finally {
      conf.unset(implKey)
      conf.unset(s"$implKey.disable.cache")
    }
  }
}
