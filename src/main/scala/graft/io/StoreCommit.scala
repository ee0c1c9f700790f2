package graft.io

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}

/** The one commit protocol of graft's on-disk stores: the cube store
  * ([[CubeWriter]]) and every face of the signature store
  * ([[graft.operators.SignatureStore]]).
  *
  * ```
  * root/_manifest.json        the commit point
  * root/<kind>-<id>/...       the files of one write (a stage)
  * ```
  *
  * A stage may also keep files under sibling roots, in a directory of
  * the same name.
  *
  * A write puts its files under a fresh stage ([[stage]]), then
  * [[commit]]s: the manifest goes into the stage and is renamed over
  * `root/_manifest.json`, the one step that publishes the write. A crash
  * before the rename leaves the old state; after it, the new one. Only
  * then are the other stages of the same kind deleted, superseded or
  * never published. Readers resolve the stage through the manifest, so
  * a published stage never changes under them.
  *
  * One writer per store at a time: the clean-up of one write removes
  * another's unpublished stage. The commit needs a file system whose
  * rename replaces an existing file atomically (POSIX local file systems
  * do); where rename refuses to replace, the write fails and the old
  * state stays.
  */
private[graft] object StoreCommit {
  val ManifestFile = "_manifest.json"

  /** The file system of `path`, without a checksum layer: a checksummed
    * file system renames a file and its `.crc` in two steps, and a crash
    * between them would leave a manifest that fails its checksum. */
  def fileSystem(path: Path, conf: Configuration): FileSystem = path.getFileSystem(conf) match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case fs => fs
  }

  private val IdLength = UUID.randomUUID.toString.length

  /** Spark's convention: names starting with `_` or `.` are not data. */
  def isData(name: String): Boolean = !name.startsWith("_") && !name.startsWith(".")

  /** A fresh stage of `kind` under `root`: `root/<kind>-<id>`. */
  def stage(root: Path, kind: String): Path = new Path(root, s"$kind-${UUID.randomUUID}")

  /** Writes the manifest into the stage, renames it over the store's
    * manifest (the one step that publishes a write), then deletes every
    * other stage of the same kind, superseded or never published, under
    * `root` and under each of `siblings`. */
  def commit(fs: FileSystem, root: Path, stage: Path, manifest: Array[Byte], siblings: Seq[Path] = Nil): Unit = {
    val staged = new Path(stage, ManifestFile)
    val out = fs.create(staged, false)
    try out.write(manifest) finally out.close()
    val published = new Path(root, ManifestFile)
    if (!fs.rename(staged, published)) throw new IOException(
      s"could not publish $staged as $published: the file system's rename did not replace it")
    val kind = stage.getName.dropRight(IdLength) // "<kind>-"
    (root +: siblings).flatMap(fs.listStatus(_)).map(_.getPath)
      .filter(p => p.getName.startsWith(kind) && p.getName != stage.getName)
      .foreach(fs.delete(_, true))
  }
}
