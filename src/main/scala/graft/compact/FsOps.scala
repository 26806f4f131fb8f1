package graft.compact

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Thin FileSystem wrapper — the rebuild of the reference's
  * HadoopFileSystemOperation + HDFSAvroOperations pair
  * (HadoopFileSystemOperation.scala:19-197,
  * HDFSAvroOperations.scala:19-136), format-generalized: the
  * data-file predicate takes the extension as a parameter instead of
  * hard-coding `.avro`.
  *
  * Every call is a driver→NameNode metadata RPC; the recursive listing
  * is the reference's own known hot spot ("can be very slow",
  * HDFSAvroOperations.scala:18) — at 100 TB the listing is one RPC per
  * directory page, still cheap relative to the data move it plans.
  */
final class FsOps(conf: Configuration) {
  val fs: FileSystem = FileSystem.get(conf)

  /** Hadoop metadata convention: dot/underscore-prefixed entries are
    * not data (reference: HadoopFileSystemOperation.scala:157-164). */
  def isIgnoreFile(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  def isDataFile(name: String, ext: String): Boolean =
    !isIgnoreFile(name) && name.endsWith(ext)

  /** Non-ignored entries of a folder. */
  def listEntries(dir: String): Array[FileStatus] =
    fs.listStatus(new Path(dir)).filterNot(s => isIgnoreFile(s.getPath.getName))

  /** Data files of a single folder (non-recursive). */
  def listDataFiles(dir: String, ext: String): Array[FileStatus] =
    fs.listStatus(new Path(dir))
      .filter(s => s.isFile && isDataFile(s.getPath.getName, ext))

  /** All leaf folders under root that directly contain ≥1 data file —
    * partition discovery (reference: HDFSAvroOperations.scala:19-33).
    * Depth-first in listing order, each leaf at its first data file —
    * a recursive `listFiles`' order — walked with one `listStatus` per
    * directory: `listFiles` builds a `LocatedFileStatus` per file (block
    * locations on HDFS, a permission `stat` per file on the local FS).
    * On S3A the trade-off flips: `listFiles` is one flat paged LIST and
    * the walk one LIST per directory, next to the ~six `listStatus`
    * calls `Compactor.compactLeaf` already makes per leaf. */
  def listLeafFolders(root: String, ext: String): List[String] = {
    val leaves = scala.collection.mutable.LinkedHashSet[String]()
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { s =>
      if (s.isDirectory) walk(s.getPath)
      else if (s.isFile && isDataFile(s.getPath.getName, ext))
        leaves += s.getPath.getParent.toString
    }
    walk(new Path(root))
    leaves.toList
  }

  /** Partition suffix of a leaf relative to the root (reference:
    * HadoopFileSystemOperation.scala:167-169). Empty for the root
    * itself. */
  def partitionPath(root: String, leaf: String): String = {
    val r = removeLastSlash(fs.makeQualified(new Path(root)).toString)
    val l = removeLastSlash(fs.makeQualified(new Path(leaf)).toString)
    if (l == r) "" else l.stripPrefix(r)
  }

  /** Total bytes of data files in a folder — input to dynamic output
    * sizing (reference: HDFSAvroOperations.scala:101-111). */
  def dataSize(dir: String, ext: String): Long =
    listDataFiles(dir, ext).map(_.getLen).sum

  def defaultBlockSize(dir: String): Long =
    fs.getDefaultBlockSize(new Path(dir))

  /** Optimistic-concurrency snapshot (reference:
    * DefragmentAvroFolder.scala:276,301;
    * HadoopFileSystemOperation.scala:59-79). */
  def snapshot(dir: String, ext: String): Array[FileStatus] =
    listDataFiles(dir, ext).sortBy(_.getPath.toString)

  /** Compare explicit (path, length, mtime) tuples: FileStatus.equals
    * compares only the path, so `sameElements` would miss in-place
    * modifications (e.g. an append changes length/mtime but not the
    * path) and commit stale output over a concurrently-written source.
    * (The reference's equalsFileStatistics has exactly that flaw —
    * semantics here are deliberately stricter than parity.) */
  def unchanged(a: Array[FileStatus], b: Array[FileStatus]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.getPath == y.getPath && x.getLen == y.getLen &&
        x.getModificationTime == y.getModificationTime
    }

  def exists(path: String): Boolean = fs.exists(new Path(path))

  def mkdirs(path: String): Boolean = fs.mkdirs(new Path(path))

  /** Directory rename — atomic on HDFS, the commit primitive
    * (reference: HadoopFileSystemOperation.scala:39-45). */
  def rename(src: String, dst: String): Boolean = {
    val dstPath = new Path(dst)
    val parent = dstPath.getParent
    if (parent != null && !fs.exists(parent)) fs.mkdirs(parent)
    fs.rename(new Path(src), dstPath)
  }

  def delete(path: String): Boolean = fs.delete(new Path(path), true)

  // ---- misc single-file utilities (reference:
  // HadoopFileSystemOperation.scala:95-155), completing the wrapper's
  // surface beyond what the compactor itself calls

  /** Copy a local file into a directory (reference `copyFromLocal`:
    * no-op unless src is a file and dst an existing directory —
    * existence-checked, so missing paths no-op rather than throw).
    * The source check runs against the LOCAL filesystem, matching
    * `copyFromLocalFile`'s own source semantics — checking it on a
    * remote `fs` would silently skip every copy. */
  def copyFromLocal(srcFile: String, targetFolder: String,
                    overwrite: Boolean): Unit = {
    if (new java.io.File(srcFile).isFile && isDirectory(targetFolder))
      fs.copyFromLocalFile(false, overwrite,
        new Path(srcFile), new Path(targetFolder))
  }

  /** Delete a single file — never a directory (reference `delete`). */
  def deleteFile(path: String): Boolean = {
    val p = new Path(path)
    fs.exists(p) && fs.getFileStatus(p).isFile && fs.delete(p, false)
  }

  /** Open a file as a stream (reference `getFile`) — caller closes. */
  def openStream(path: String): java.io.InputStream = fs.open(new Path(path))

  def isFile(path: String): Boolean = {
    val p = new Path(path)
    fs.exists(p) && fs.getFileStatus(p).isFile
  }

  def isDirectory(path: String): Boolean = {
    val p = new Path(path)
    fs.exists(p) && fs.getFileStatus(p).isDirectory
  }

  def removeLastSlash(p: String): String =
    if (p.length > 1 && p.endsWith("/")) p.dropRight(1) else p
}

object FsOps {
  /** Sortable-by-time unique session id (reference:
    * HDFSStringUtil.scala:22-28). */
  def sessionId(): String = {
    val now = System.currentTimeMillis()
    s"${now}_${now.hashCode()}_${scala.util.Random.nextInt(Int.MaxValue)}"
  }
}
