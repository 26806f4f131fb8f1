package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Caches, Tables}
import graft.llm.Dedup

/** The dedup ladder's rung paths agree: each case runs a rung (the
  * candidates, the verify, the components, the embedding search) once
  * held on the driver (the default threshold, [[graft.core.Held]]) and
  * once distributed (auto-broadcast off), and both must return the same
  * rows under the same schema. A held result is a local relation; a
  * distributed one plans an aggregate or a join, or reads a checkpoint. */
class LadderPathSpec extends AnyFunSuite with SparkSpec {

  private def held(df: DataFrame): Boolean =
    df.queryExecution.analyzed.find(p => p.isInstanceOf[Join] || p.isInstanceOf[Aggregate] ||
      p.isInstanceOf[Generate] || p.isInstanceOf[LogicalRDD]).isEmpty

  /** Runs `rung` on both paths, requiring the same rows (as strings, so
    * NaN compares equal) and the same schema; returns the rows. */
  private def bothPaths(rung: => DataFrame, sorted: Boolean): Seq[String] = {
    def run(onDriver: Boolean): (Seq[String], StructType) = {
      val df = rung
      assert(held(df) == onDriver, df.queryExecution.analyzed.treeString)
      val rows = df.collect().map(_.toString).toSeq
      Caches.unpin(df)
      (if (sorted) rows else rows.sorted, df.schema)
    }
    val onDriver = run(onDriver = true)
    val distributed = withThreshold(-1L)(run(onDriver = false))
    assert(onDriver == distributed)
    onDriver._1
  }

  // ---- candidates and verify ----

  private def corpus[K: scala.reflect.runtime.universe.TypeTag](docs: (K, String)*): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  private def candidates(docs: => DataFrame): Seq[String] =
    bothPaths(Dedup.candidatePlan(Dedup.signaturesNative(docs, "doc_id", "text")), sorted = false)

  /** The verify rung over the corpus's own candidates (both computed on
    * the path under test), or over the given pairs. */
  private def verify(docs: => DataFrame, pairs: => Option[DataFrame] = None): Seq[String] =
    bothPaths(Dedup.exactJaccard(docs, pairs.getOrElse(
      Dedup.candidatePlan(Dedup.signaturesNative(docs, "doc_id", "text")))), sorted = false)

  private def words(tag: String, n: Int = 30): String = (0 until n).map(i => s"$tag$i").mkString(" ")

  test("candidates and verify: a bucket of maxBucket members, one of maxBucket + 1") {
    val full = Dedup.maxBucket
    def docs = corpus((0 until full).map(i => (1000L + i, words("a"))) ++
      (0 until full + 1).map(i => (2000L + i, words("b"))): _*)
    val pairs = candidates(docs)
    assert(pairs.size == full * (full - 1) / 2)
    assert(pairs.forall(_.startsWith("[10")))
    assert(verify(docs).size == full * (full - 1) / 2)
  }

  test("candidates and verify: duplicated doc_id rows, short docs, pairs with no common trigram") {
    import spark.implicits._
    val nearC = words("c").replace("c29", "other")
    def docs = corpus(3000L -> words("c"), 3000L -> words("c"), 3001L -> words("c"),
      3000L -> nearC, 3002L -> nearC, 3003L -> words("c", 2), 3004L -> words("c", 2),
      3005L -> words("c", 3), 3006L -> "", 3007L -> words("d"))
    val pairs = candidates(docs)
    assert(pairs.contains("[3000,3001,8]") && pairs.contains("[3000,3002,8]"))
    // under 3 tokens: a null signature, in no bucket
    assert(!pairs.exists(p => Seq("3003", "3004", "3006").exists(p.contains)))
    // 3000's set is the union of its rows': c's 28 grams and nearC's one more
    assert(verify(docs).exists(_.startsWith("[3000,3001,8,28,29,28,")))
    // absent docs, short docs and disjoint sets verify to nothing
    def given = Seq(1L -> 2L, 3003L -> 3004L, 3005L -> 3007L, 3000L -> 3007L,
      3000L -> 9999L, 3001L -> 3005L).toDF("doc_a", "doc_b")
    assert(verify(docs, Some(given)) == Seq("[3001,3005,1,28,1,0.03571428571428571]"))
  }

  test("candidates and verify: an empty corpus") {
    def docs = corpus[Long]()
    assert(candidates(docs).isEmpty)
    assert(verify(docs).isEmpty)
  }

  test("candidates and verify: Int and String ids") {
    val texts = Seq(words("e"), words("e"), words("e").replace("e7", "x"))
    def ints = corpus(texts.indices.map(i => (i + 1, texts(i))): _*)
    assert(candidates(ints).contains("[1,2,8]"))
    assert(verify(ints).exists(_.startsWith("[1,2,8,28,28,28,1.0]")))
    // binary order: "B" < "a" < "é"
    def strs = corpus("a" -> texts(0), "B" -> texts(1), "é" -> texts(2))
    assert(candidates(strs).contains("[B,a,8]"))
    assert(verify(strs).exists(_.startsWith("[B,a,8,28,28,28,1.0]")))
  }

  test("candidates and verify: a DoubleType doc_id stays distributed") {
    val docs = corpus(1.0 -> words("f"), 2.0 -> words("f"))
    val cand = Dedup.candidatePlan(Dedup.signaturesNative(docs, "doc_id", "text"))
    val verified = Dedup.exactJaccard(docs, cand)
    assert(!held(cand) && !held(verified))
    assert(verified.collect().map(_.toString).toSeq == Seq("[1.0,2.0,8,28,28,28,1.0]"))
  }

  test("candidates and verify: the fixture corpus, n_agree and jaccard bit for bit") {
    def docs = Tables.documents(spark, sfDir)
    assert(candidates(docs).nonEmpty)
    assert(verify(docs).nonEmpty)
    assert(bothPaths(Dedup.dedupJaccard(spark, sfDir), sorted = true).nonEmpty)
    assert(bothPaths(Dedup.dedupJaccardEst(spark, sfDir), sorted = true).nonEmpty)
    // the rows compare as strings above; here each jaccard's raw bits
    def bits = Dedup.exactJaccard(docs,
        Dedup.candidatePlan(Dedup.signaturesNative(docs, "doc_id", "text")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(6)))).toSeq.sorted
    assert(bits == withThreshold(-1L)(bits))
  }

  // ---- connected components ----

  private def components(pairs: => DataFrame): Seq[String] =
    bothPaths(Dedup.connectedComponents(spark, pairs), sorted = false)

  private def longPairs(ps: (Long, Long)*): DataFrame = {
    import spark.implicits._
    ps.toDF("doc_a", "doc_b")
  }

  private def labelled(ls: (Any, Any)*): Seq[String] =
    ls.map { case (n, l) => Row(n, l).toString }.sorted

  test("components: a path, a star, pairs, a self-pair and duplicated pairs") {
    assert(components(longPairs((17, 12), (12, 19), (19, 11), (11, 15), (15, 14))) ==
      labelled(Seq(17L, 12L, 19L, 11L, 15L, 14L).map(_ -> 11L): _*))
    assert(components(longPairs((5, 9), (5, 3), (5, 8), (5, 7))) ==
      labelled(Seq(3L, 5L, 7L, 8L, 9L).map(_ -> 3L): _*))
    assert(components(longPairs((1, 2), (4, 3), (10, 6), (6, 10), (1, 2), (7, 7))) ==
      labelled(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 6L -> 6L, 10L -> 6L, 7L -> 7L))
  }

  test("components: null endpoints add their other endpoint, no edge") {
    import spark.implicits._
    val pairs = Seq[(Option[Long], Option[Long])]((Some(4), None), (None, Some(2)),
      (Some(9), Some(8)), (None, None), (Some(8), None))
      .toDF("doc_a", "doc_b")
    assert(components(pairs) == labelled(4L -> 4L, 2L -> 2L, 8L -> 8L, 9L -> 8L))
  }

  test("components: an empty frame, Int and String keys") {
    import spark.implicits._
    assert(components(longPairs()).isEmpty)
    assert(components(Seq((3, 1), (1, 2), (7, 8)).toDF("doc_a", "doc_b")) ==
      labelled(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 8 -> 7))
    // binary order: "B" < "a" < "ab" < "é"
    assert(components(Seq(("ab", "é"), ("a", "ab"), ("z", "B")).toDF("doc_a", "doc_b")) ==
      labelled("a" -> "a", "ab" -> "a", "é" -> "a", "B" -> "B", "z" -> "B"))
  }

  test("components: the candidate pairs of the fixture corpus") {
    val labels = components(Dedup.minhashCandidates(
      Tables.documents(spark, sfDir), "doc_id", "text"))
    assert(labels.nonEmpty)
  }

  test("components: a path deeper than 20 rounds is labelled only when held") {
    // the least node at one end: the fixpoint needs a round per hop
    val path = (40L to 10L by -1L).sliding(2).map(p => (p(0), p(1))).toSeq
    val labels = Dedup.connectedComponents(spark, longPairs(path: _*))
    assert(held(labels))
    assert(labels.collect().map(_.toString).sorted.toSeq ==
      labelled((10L to 40L).map(_ -> 10L): _*))
    val e = intercept[IllegalArgumentException](withThreshold(-1L)(
      Dedup.connectedComponents(spark, longPairs(path: _*))))
    assert(e.getMessage.contains("did not converge"))
    Caches.drain(spark)
  }

  // ---- embedding nearest neighbour ----

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("label", IntegerType),
    StructField("embedding", ArrayType(FloatType))))

  private def vecs(rows: (java.lang.Long, Integer, Seq[java.lang.Float])*): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map { case (id, l, v) => Row(id, l, v) }.asJava, vecSchema)
  }

  private def f(xs: Double*): Seq[java.lang.Float] = xs.map(x => java.lang.Float.valueOf(x.toFloat))

  private def embed(e: => DataFrame, cap: Int = Dedup.DedupEmbedCellCap): Seq[String] =
    bothPaths(Dedup.dedupEmbedOn(e, cap), sorted = true)

  test("embed: duplicated vec_id rows merge; a vector never pairs with its id") {
    val got = embed(vecs(
      (1L, 0, f(1, 0, 0)), (1L, 0, f(0, 1, 0)), (2L, 0, f(0.9, 0.1, 0)),
      (3L, 0, f(0, 1, 0.1))))
    assert(got.size == 3)
    assert(got.head.startsWith("[1,"))
  }

  test("embed: a null label or id yields nothing; a single-member cell has no pair") {
    val got = embed(vecs(
      (1L, null, f(1, 0)), (2L, 0, f(1, 0)), (3L, 0, f(1, 0.1)),
      (null, 0, f(1, 0.05)), (4L, 5, f(0, 1))))
    assert(got.map(_.takeWhile(_ != ',')) == Seq("[2", "[3"))
  }

  test("embed: zero and null vectors, cosine ties go to the lower nn_id") {
    val got = embed(vecs(
      (1L, 0, f(1, 1)), (2L, 0, f(2, 2)), (3L, 0, f(3, 3)),
      (4L, 1, f(0, 0)), (5L, 1, f(1, 0)), (6L, 1, null),
      (7L, 2, f(1, 0)), (8L, 2, null), (9L, 2, f(0, 1)),
      (10L, 3, Seq(java.lang.Float.valueOf(1f), null)), (11L, 3, f(1, 0))))
    assert(got.size == 11)
  }

  test("embed: a cell above the cap keeps the window's candidates") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 40L).map(i => (java.lang.Long.valueOf(i), Integer.valueOf((i % 2).toInt),
      f(Seq.fill(4)(rnd.nextGaussian()): _*)))
    assert(embed(vecs(rows: _*), cap = 5).size == 40)
  }

  test("embed: the fixture embeddings") {
    assert(embed(Tables.embeddings(spark, sfDir)).nonEmpty)
  }
}
