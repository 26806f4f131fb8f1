package graft

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Operators release exactly the checkpoints they pin: a checkpointed
  * frame that another caller holds in the same session survives every
  * staged iterative query, and those queries leave nothing pinned.
  * `getPersistentRDDs` holds its RDDs weakly, so the pinned-set check
  * sees pins something still references (a memo, a returned frame); a
  * round frame that went unreachable may already be gone by GC. */
class ReleaseSpec extends AnyFunSuite with SparkSpec {

  /** The registry queries whose staged bodies pin per-round
    * checkpoints (graph fixpoints, MMR rounds, PQ training, the dedup
    * label fixpoint). */
  private val stagingQueries = Seq("graph_components", "graph_ppr",
    "graph_kcore", "graph_pagerank", "graph_bfs", "graph_sssp",
    "llm_mmr_diversify", "llm_sim_search_pq_trained", "llm_dedup_clusters")

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator.asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    }

  test("staged iterative queries keep a foreign checkpoint and leave only it pinned") {
    graft.core.Caches.drain(spark) // isolate from earlier suites' pins
    // A copy at a fresh path: Fixtures.memo and Fixtures.staged both key
    // on the source path, so every query below stages in this session.
    val copy = Files.createTempDirectory("release-sf")
    copyTree(new File(sfDir).toPath, copy)
    val tags = Files.walk(copy).iterator.asScala
      .map(p => graft.core.Fixtures.pathTag(p.toString)).toSet
    val held = spark.range(0, 1000).selectExpr("id", "id % 7 AS k")
      .localCheckpoint(true)
    val heldIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    assert(heldIds.size == 1, heldIds)
    try {
      for (name <- stagingQueries) {
        assert(SparkEntry.queries(name)(spark, copy.toString).count() > 0,
          s"$name returned no rows")
        assert(held.count() == 1000 && held.where("k = 0").count() == 143,
          s"$name broke the held frame")
        val pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
        assert(pinned == heldIds,
          s"$name left ${(pinned -- heldIds).size} pinned RDDs of its own")
      }
    } finally {
      graft.core.Caches.drain(spark)
      graft.core.Fixtures.deleteRecursively(copy.toFile)
      Option(new File(sys.props("java.io.tmpdir")).listFiles()).toSeq.flatten
        .filter(f => tags.exists(f.getName.contains))
        .foreach(graft.core.Fixtures.deleteRecursively)
    }
  }
}
