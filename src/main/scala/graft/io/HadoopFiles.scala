package graft.io

import java.io.FileNotFoundException

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** Reads of product, config and labels files through the Hadoop
  * FileSystem of each path's scheme: one listing, one positional open
  * and one JSON read, so a build works on any registered scheme. */
object HadoopFiles {

  /** The active session's Hadoop configuration; Hadoop's own defaults
    * when no session exists, so a listing or a config read needs none. */
  def conf: Configuration = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    .fold(new Configuration())(_.sparkContext.hadoopConfiguration)

  /** The lower-cased extension of a path's file name, "" when it has
    * none. */
  def extension(path: String): String = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    val dot = name.lastIndexOf('.')
    if (dot < 0) "" else name.substring(dot + 1).toLowerCase
  }

  /** The files under `dir` with one of `exts`, sorted by path
    * (common_utils.py:20-41): its children, or with `recursive` its
    * whole subtree. A directory that does not exist holds none. Paths
    * are qualified. Driver-side: a listing is file-cardinality, never
    * pixel-cardinality. */
  def list(dir: String, exts: Set[String], recursive: Boolean): Seq[FileStatus] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def walk(d: Path): Seq[FileStatus] = {
      val children = try fs.listStatus(d).toSeq catch { case _: FileNotFoundException => Nil }
      children.filter(_.isFile) ++
        (if (recursive) children.filter(_.isDirectory).flatMap(c => walk(c.getPath)) else Nil)
    }
    walk(fs.makeQualified(root))
      .filter(f => exts.contains(extension(f.getPath.getName)))
      .sortBy(_.getPath.toString)
  }

  /** Files up to this size are read whole at the first read of a
    * payload open: one filesystem read serves the header walk and the
    * payload. */
  private val WholeFile = 1 << 20

  /** In larger files, reads shorter than this come from one window of
    * this size read ahead from the first miss, so a header walk (dozens
    * of small reads) costs about one filesystem read; longer reads
    * (payloads, chunks) go straight to the stream. */
  private val Window = 64 * 1024

  /** Open one file, run `body` on a positional reader over it and its
    * length, close it. Reads are clipped at EOF; every read happens
    * inside `body`. `payload` = `body` decodes pixels; a header-only
    * open (a crawl, stats, dims, dtype) never reads a file whole, only
    * the windows its header walk touches. */
  def withFile[T](file: String, conf: Configuration, payload: Boolean)(
      body: (Tiff.ReadAt, Long) => T): T = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      def direct(off: Long, n: Int): Array[Byte] = {
        val buf = new Array[Byte](math.max(math.min(n.toLong, len - off), 0L).toInt)
        if (buf.nonEmpty) { in.seek(off); in.readFully(buf) }
        buf
      }
      val whole = payload && len <= WholeFile
      var winOff = 0L
      var win = Array.emptyByteArray
      val read: Tiff.ReadAt = (off, n) => {
        val hit = off >= winOff && (off + n <= winOff + win.length || winOff + win.length == len)
        if (!hit && !whole && n >= Window) direct(off, n)
        else {
          if (!hit) {
            winOff = if (whole) 0L else off
            win = direct(winOff, if (whole) len.toInt else Window)
          }
          val from = math.min(off - winOff, win.length.toLong).toInt
          java.util.Arrays.copyOfRange(win, from, math.min(from.toLong + n, win.length.toLong).toInt)
        }
      }
      body(read, len)
    } finally in.close()
  }

  private val json = new ObjectMapper()

  /** A JSON file bound to `cls`. */
  def readJson[T](path: String, cls: Class[T]): T = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    try json.readValue(in: java.io.InputStream, cls) finally in.close()
  }
}
