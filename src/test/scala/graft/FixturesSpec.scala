package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Fixtures

/** Staged-fixture lifecycle: collision-resistant keys and re-staging on
  * source change (ADVICE r3: hashCode keys could collide; a bare
  * _SUCCESS marker reused stale fixtures after the source regenerated). */
class FixturesSpec extends AnyFunSuite with ScratchDirs {

  private val sources =
    new java.util.concurrent.ConcurrentLinkedQueue[String]

  private def tmpSource(): File = {
    val d = new File(scratchDir("graft_fixsrc_"))
    Files.write(new File(d, "data.txt").toPath,
      "v1".getBytes(StandardCharsets.UTF_8))
    sources.add(Fixtures.pathTag(d.toString))
    d
  }

  /** The fixtures staged from this suite's sources carry their path
    * tags in their names; they go with the sources. */
  override def afterAll(): Unit = {
    val tags = sources.toArray.toSeq.map(_.toString)
    try Option(new File(sys.props("java.io.tmpdir")).listFiles()).toSeq
      .flatten.filter(f => tags.exists(f.getName.contains))
      .foreach(Fixtures.deleteRecursively)
    finally super.afterAll()
  }

  test("distinct source paths get distinct fixture paths") {
    val a = tmpSource()
    val b = tmpSource()
    assert(Fixtures.pathTag(a.toString) != Fixtures.pathTag(b.toString))
  }

  test("staged writes once, reuses while unchanged, re-stages on source change") {
    val src = tmpSource()
    var writes = 0
    def stage(): String = Fixtures.staged(src.toString, "spec") { target =>
      writes += 1
      new File(target).mkdirs()
      Files.write(new File(target, "copy.txt").toPath,
        Files.readAllBytes(new File(src, "data.txt").toPath))
    }
    val t1 = stage()
    assert(writes == 1)
    val t2 = stage()
    assert(writes == 1 && t1 == t2, "unchanged source must reuse the fixture")

    // regenerate the source: new content + bumped mtime
    val f = new File(src, "data.txt")
    Files.write(f.toPath, "v2".getBytes(StandardCharsets.UTF_8))
    f.setLastModified(f.lastModified() + 5000)
    val t3 = stage()
    assert(writes == 2, "changed source must re-stage")
    assert(t3 != t1, "changed source must stage under a NEW versioned path")
    assert(new String(Files.readAllBytes(
      new File(t3, "copy.txt").toPath), StandardCharsets.UTF_8) == "v2")
    // the superseded version stays immutable (a concurrent reader of
    // t1 is unaffected; purge happens only after an hour)
    assert(new String(Files.readAllBytes(
      new File(t1, "copy.txt").toPath), StandardCharsets.UTF_8) == "v1")
  }

  test("a pre-existing versioned dir is reused without re-writing (race loser path)") {
    val src = tmpSource()
    var writes = 0
    val t1 = Fixtures.staged(src.toString, "specrace") { target =>
      writes += 1
      new File(target).mkdirs()
    }
    // simulate a second JVM: same source content ⇒ same versioned
    // name ⇒ the callback must not run at all
    val t2 = Fixtures.staged(src.toString, "specrace") { target =>
      writes += 1
      new File(target).mkdirs()
    }
    assert(t1 == t2 && writes == 1)
  }

  test("memo hit re-validates the cached path and re-stages a purged dir") {
    // ADVICE r5: a JVM-lifetime memo can outlive its fixture dir when
    // another JVM re-stages a changed source and later purges this
    // fingerprint — Fixtures.memo must notice and re-stage
    val src = tmpSource()
    val memo = scala.collection.concurrent.TrieMap.empty[String, String]
    var writes = 0
    def stage() = Fixtures.staged(src.toString, "specmemo") { target =>
      writes += 1
      new File(target).mkdirs()
    }
    val p1 = Fixtures.memo(memo, "k")(stage())
    assert(writes == 1)
    assert(Fixtures.memo(memo, "k")(stage()) == p1 && writes == 1) // pure hit
    def rm(f: File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete()
    }
    rm(new File(p1)) // simulate the cross-JVM purge
    val p2 = Fixtures.memo(memo, "k")(stage())
    assert(new File(p2).isDirectory, "dangling memo must re-stage")
    assert(writes == 2)
  }

  test("a failed write leaves no visible fixture (atomic rename)") {
    val src = tmpSource()
    intercept[RuntimeException] {
      Fixtures.staged(src.toString, "specfail") { target =>
        new File(target).mkdirs()
        Files.write(new File(target, "partial.txt").toPath,
          "x".getBytes(StandardCharsets.UTF_8))
        throw new RuntimeException("simulated write failure")
      }
    }
    var ok = true
    val staged = Fixtures.staged(src.toString, "specfail") { target =>
      // re-invocation must stage cleanly — the partial copy was never
      // renamed into place, so this callback runs on a fresh tmp dir
      ok = !new File(target, "partial.txt").exists()
      new File(target).mkdirs()
    }
    assert(ok && new File(staged).isDirectory)
  }
}
