package graft.core

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Staged-fixture lifecycle: some queries read a rewritten copy of a
  * source table (partitioned, bucketed, JSON/CSV, cluster labels) that
  * is expensive to produce, so it is written once to a deterministic
  * tmp path and reused — within a session via the caller's memo map and
  * across JVM runs via an on-disk marker.
  *
  * ADVICE r3: keying that path by 32-bit `String.hashCode` let two
  * distinct source dirs collide, and a bare `_SUCCESS` marker let a
  * REGENERATED source dir silently reuse the stale fixture — the query
  * then read old data while the oracle read the current table. Fixed
  * here: the path key is the md5 of the absolute source path
  * (collision-resistant), and the marker records a fingerprint of the
  * source files ((path, length, mtime) per file) so a changed source
  * re-stages.
  */
object Fixtures {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  /** Collision-resistant tag for a source path: md5 hex of its absolute
    * form. Safe for tmp-dir names and catalog table names. */
  def pathTag(path: String): String = md5Hex(new File(path).getAbsolutePath)

  /** Name-safe tag of THIS session's Spark application id — per-process
    * transient scratch embeds it so a litter detector (and a human
    * reading /tmp) can tell which graft process owns a dir; two graft
    * JVMs running concurrently on one machine must never assert on
    * each other's in-flight scratch (the r13 flake class). */
  def appTag(spark: org.apache.spark.sql.SparkSession): String =
    spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "")

  /** Recursive delete — THE shared copy (the r8 self-review found four
    * divergence-prone inline clones of this 3-liner). */
  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** Digest of the source's file census — (absolute path, length,
    * mtime) per regular file, sorted — so any regeneration (new files,
    * rewritten bytes, touched timestamps) changes the fingerprint. */
  def sourceFingerprint(path: String): String = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    md5Hex(walk(new File(path))
      .map(f => s"${f.getAbsolutePath}|${f.length}|${f.lastModified}")
      .mkString("\n"))
  }

  /** Stage a fixture once per source CONTENT at
    * `tmpdir/graft_<kind>_<pathTag(source)>_<fingerprint>` — the
    * fingerprint is part of the NAME, so a staged dir is immutable:
    * same name ⟺ same bytes, and a pre-existing copy (even from
    * another session or a concurrently-running JVM) is safe to reuse
    * by construction.
    *
    * Concurrency (ADVICE r4): the old protocol rewrote a shared
    * stable path in place, so two JVMs on the same source (SKILL.md
    * notes concurrent Bench/Verify runs happen) could overwrite the
    * parquet while the other was mid-read. Now the callback writes
    * into a JVM-unique `<final name>.<appTag>.<uuid>.tmp` dir
    * which is atomically RENAMED to the final name: a reader can
    * never observe a partial fixture, and when two JVMs race, the
    * rename loser just deletes its tmp copy
    * and reads the winner's — identical content, deterministic write.
    *
    * `codeTag`: extra salt folded into the fingerprint for fixtures
    * whose CONTENT also depends on code constants (a split boundary,
    * a layout shape) — encode those constants here so a code change
    * re-stages instead of silently reusing a stale copy whose source
    * fingerprint still matches.
    *
    * Superseded versions (same kind+source, different fingerprint)
    * are purged best-effort once they are an hour old — old enough
    * that no concurrent local run still holds them — so tmp
    * accumulation stays bounded at ~one live dir per source. */
  /** In-JVM memo over [[staged]] (ADVICE r5): a memoized path can
    * dangle — if the source content changes, another JVM stages the
    * new fingerprint and, an hour later, purges this one while this
    * JVM still holds its path. A memo hit therefore re-validates that
    * the directory still exists and falls back to a fresh [[staged]]
    * call (idempotent; cheap when the fixture is current) when it
    * does not. All long-lived fixture memos must route through this
    * instead of a bare `getOrElseUpdate`. */
  def memo[K](m: scala.collection.concurrent.TrieMap[K, String], key: K)
             (stage: => String): String = {
    val p = m.getOrElseUpdate(key, stage)
    if (new File(p).isDirectory) p
    else {
      val fresh = stage
      m.update(key, fresh)
      fresh
    }
  }

  def staged(sourcePath: String, kind: String, codeTag: String = "")
            (write: String => Unit): String = {
    val prefix = s"graft_${kind}_" + pathTag(sourcePath) + "_"
    val fp = md5Hex(sourceFingerprint(sourcePath) + "|" + codeTag)
    val tmpRoot = new File(sys.props("java.io.tmpdir"))
    val target = new File(tmpRoot, prefix + fp)
    if (!target.isDirectory) {
      // the staging session's tag (active, else default): a litter
      // detector tells its own in-flight staging from another JVM's
      import org.apache.spark.sql.SparkSession
      val owner = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession).map(appTag)
        .getOrElse("nosession")
      val tmp = new File(tmpRoot, prefix + fp + "." + owner + "." +
        java.util.UUID.randomUUID() + ".tmp")
      try write(tmp.toString)
      catch { case e: Throwable => deleteRecursively(tmp); throw e }
      try Files.move(tmp.toPath, target.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { // lost the staging race — the winner's copy is identical
        case _: java.nio.file.FileSystemException if target.isDirectory =>
          deleteRecursively(tmp)
      }
    }
    // Purge superseded versions. Fingerprint-named dirs are immutable
    // and safe to reclaim after an hour; old-scheme dirs
    // (`graft_<kind>_<tag>`, no fingerprint — pre-upgrade protocol)
    // get a 24 h grace instead, because a still-running pre-upgrade
    // checkout may be mid-read and directory mtime is not refreshed
    // by reads — after a day no such process survives, and without
    // this clause they leak forever.
    val now = System.currentTimeMillis
    Option(tmpRoot.listFiles()).toSeq.flatten
      .filter { f =>
        val n = f.getName
        (n.startsWith(prefix) && n != prefix + fp &&
          now - f.lastModified > 3600 * 1000L) ||
        (n == prefix.dropRight(1) &&
          now - f.lastModified > 24 * 3600 * 1000L)
      }
      .foreach(deleteRecursively)
    target.toString
  }
}
