package graft

import graft.util.SparkUtil
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session (one JVM for the whole forked test run). Its
  * signature-store root is one directory per run, removed at JVM exit,
  * so store bases that a spec does not place itself do not pile up in
  * `java.io.tmpdir`. */
object TestSpark {
  val StoreRootKey = "spark.graft.sigstore.root"

  // a short name: plan assertions find a store face by its directory
  // name in the scan location Spark prints, which it cuts at 100
  // characters, so the root may add only a few characters to tmpdir
  lazy val storeRoot: String = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val root = Iterator.continually(tmp.resolve("g" +
        Integer.toString(java.util.concurrent.ThreadLocalRandom.current.nextInt(1 << 25), 36)))
      .flatMap(p => try Some(java.nio.file.Files.createDirectory(p))
        catch { case _: java.nio.file.FileAlreadyExistsException => None })
      .next()
    sys.addShutdownHook(TmpDirs.delete(root))
    root.toString
  }

  lazy val spark: SparkSession = {
    val s = SparkUtil.local("graft-test")
    s.conf.set(StoreRootKey, storeRoot)
    s
  }
}

/** Temporary directories that are deleted, with their contents, after
  * the suite. */
trait TmpDirs extends BeforeAndAfterAll { this: Suite =>
  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  def tmpDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.add(dir)
    dir.toString
  }

  override def afterAll(): Unit =
    try tmpDirs.forEach(d => TmpDirs.delete(d))
    finally super.afterAll()
}

object TmpDirs {
  /** Deletes `root` and everything under it; a missing path is a no-op. */
  def delete(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      val paths = java.nio.file.Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally paths.close()
    }
}

abstract class SparkFunSuite extends AnyFunSuite with TmpDirs {
  lazy val spark: SparkSession = TestSpark.spark

  /** Runs `f` with the signature-store root at `root`, then restores the
    * shared session's root. */
  def withStoreRoot[T](root: String)(f: => T): T = {
    spark.conf.set(TestSpark.StoreRootKey, root)
    try f finally spark.conf.set(TestSpark.StoreRootKey, TestSpark.storeRoot)
  }
}

/** Deterministic xorshift-based pseudo-gaussian for planted-fixture
  * specs (shared by the LSH/IVF recall suites). */
final class TestRng(seed0: Long) {
  private var s = seed0
  def nextLong(): Long = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s }
  def uniform(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def gaussian(): Double = (uniform() + uniform() + uniform() + uniform() - 2.0) * 1.732
}
