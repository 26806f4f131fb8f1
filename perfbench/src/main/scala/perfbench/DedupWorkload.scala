package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{CosineSimilarity, MinHash8, SimHash16}
import graft.llm.Dedup

/** `llm_dedup`: a corpus with a planted share of near-duplicate and
  * exact-duplicate documents, run through the dedup ladder once per
  * pass: MinHash candidates, exact-Jaccard verify, connected
  * components, apply, and embedding near-dup search. */
final class DedupWorkload(ctx: Ctx) extends Workload {
  import DedupWorkload._
  private val spark = ctx.spark

  private var dir = ""
  private var texts: Array[String] = Array.empty
  private var planted: Seq[(Long, Long, Double)] = Nil // (a < b, true Jaccard)
  private var exact: Set[(Long, Long)] = Set.empty
  private val grams = mutable.HashMap[Long, Set[String]]()
  private val recalls = mutable.ArrayBuffer[Double]()
  private val counts = mutable.ArrayBuffer[Map[String, Long]]()
  private var firstFound: Option[Set[(Long, Long)]] = None

  def generate(out: File): Unit = {
    val rnd = new SplittableRandom(ctx.seed)
    val vocab = {
      val s = mutable.LinkedHashSet[String]()
      while (s.size < VocabSize)
        s += (0 until 3 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      s.toArray
    }
    val nNear = (Docs * NearShare).toInt
    val nExact = (Docs * ExactShare).toInt
    val nBase = Docs - nNear - nExact
    val words = mutable.ArrayBuffer[Array[String]]()
    val vecs = mutable.ArrayBuffer[Array[Float]]()
    // coarse cell of each vector; a copy shares its base's cell, as a
    // quantizer would place a near-identical vector
    val cells = mutable.ArrayBuffer[Int]()
    (0 until nBase).foreach { _ =>
      words += Array.fill(MinWords + rnd.nextInt(MaxWords - MinWords))(vocab(rnd.nextInt(VocabSize)))
      vecs += Array.fill(Dim)(rnd.nextGaussian().toFloat)
      cells += rnd.nextInt(Cells)
    }
    // each base gets at most one copy, so every planted component is a
    // pair and the component fixpoint does the same rounds on every seed
    val bases = (0 until nBase).toArray
    (nBase - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1); val t = bases(i); bases(i) = bases(j); bases(j) = t
    }
    val copyOf = mutable.ArrayBuffer[Int]()
    (0 until nNear + nExact).foreach { k =>
      val b = bases(k)
      copyOf += b
      cells += cells(b)
      if (k < nNear) {
        val rate = 0.02 + rnd.nextDouble() * 0.14
        words += words(b).map(w => if (rnd.nextDouble() < rate) vocab(rnd.nextInt(VocabSize)) else w)
        vecs += vecs(b).map(x => (x + rnd.nextGaussian() * 0.3).toFloat)
      } else {
        words += words(b).clone()
        vecs += vecs(b).clone()
      }
    }
    // doc ids are a seeded permutation, so copies sit among the bases
    val ids = (0 until Docs).map(_.toLong).toArray
    (Docs - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    texts = Array.fill(Docs)("")
    words.indices.foreach(i => texts(ids(i).toInt) = words(i).mkString(" "))
    grams.clear()
    planted = copyOf.indices.map { k =>
      val (x, y) = (ids(copyOf(k)), ids(nBase + k))
      val (a, b) = (math.min(x, y), math.max(x, y))
      (a, b, jaccard(a, b))
    }
    exact = planted.drop(nNear).map(p => (p._1, p._2)).toSet
    val docRows = (0 until Docs).map(i =>
      Row(i.toLong, texts(i), "en", s"src${i % 7}", texts(i).length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, ctx.cores), DocSchema)
      .write.parquet(new File(out, "documents.parquet").toString)
    val vecRows = words.indices.map(i =>
      Row(ids(i), vecs(i).toSeq, cells(i))).sortBy(_.getLong(0))
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, ctx.cores), VecSchema)
      .write.parquet(new File(out, "embeddings.parquet").toString)
  }

  /** Word-trigram set of a document, as the ladder's verify rung sees it. */
  private def gramsOf(id: Long): Set[String] = grams.getOrElseUpdate(id, {
    val t = texts(id.toInt).toLowerCase.split(" ", -1)
    (0 to math.max(t.length - 3, 0)).flatMap(i =>
      if (i + 2 < t.length) Some(s"${t(i)} ${t(i + 1)} ${t(i + 2)}") else None).toSet
  })

  private def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (gramsOf(a), gramsOf(b))
    val common = x.count(y.contains)
    common.toDouble / (x.size + y.size - common)
  }

  def prepare(in: File): Unit = {
    dir = in.toString
    pass(record = false)
  }

  def measure(deadlineNs: Long): Unit = {
    while (System.nanoTime() < deadlineNs) pass(record = true)
    if (ctx.tracer.enabled) kernels()
  }

  private def pass(record: Boolean): Unit = {
    var c = Map.empty[String, Long]
    var verified = Seq.empty[(Long, Long, Double)]
    var candidates = Seq.empty[(Long, Long)]
    var labels = Map.empty[Long, Long]
    var nearest = Map.empty[Long, (Long, Boolean)]
    val op = ctx.op("ladder", record) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val cand = ctx.span("llm", "Dedup.minhashCandidates", "build")(
        Dedup.minhashCandidates(docs, "doc_id", "text"))
      candidates = ctx.span("llm", "candidates.collect", "action")(
        cand.select(col("doc_a"), col("doc_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
      val ver = ctx.span("llm", "Dedup.dedupJaccard", "build")(Dedup.dedupJaccard(spark, dir))
      verified = ctx.span("llm", "verify.collect", "action")(
        ver.select(col("doc_a"), col("doc_b"), col("jaccard")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
      val cc = ctx.span("llm", "Dedup.connectedComponents", "build")(
        Dedup.connectedComponents(spark, cand))
      labels = ctx.span("llm", "components.collect", "action")(
        cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      val app = ctx.span("llm", "Dedup.dedupApply", "build")(Dedup.dedupApply(spark, dir))
      val kept = ctx.span("llm", "apply.collect", "action")(
        app.groupBy(col("kept")).count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap)
      val emb = ctx.span("llm", "Dedup.dedupEmbed", "build")(Dedup.dedupEmbed(spark, dir))
      nearest = ctx.span("llm", "embed.collect", "action")(
        emb.select(col("vec_id"), col("nn_id"), col("is_near_dup")).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap)
      c = Map("candidates" -> candidates.size.toLong, "verified" -> verified.size.toLong,
        "components" -> labels.values.toSet.size.toLong,
        "kept" -> kept.getOrElse(true, 0L), "dropped" -> kept.getOrElse(false, 0L))
      true
    }
    if (op.ok) {
      val found = verified.map(v => (v._1, v._2)).toSet
      verified.find(v => v._3 < 0.5 || math.abs(v._3 - jaccard(v._1, v._2)) > 1e-9)
        .foreach(v => op.fail(s"verify rung reported jaccard ${v._3} for $v"))
      if (!exact.subsetOf(found)) op.fail("an exact duplicate pair was not verified")
      if (c("kept") + c("dropped") != Docs) op.fail(s"kept + dropped = ${c("kept") + c("dropped")}")
      if (nearest.size != Docs) op.fail(s"embedding rung returned ${nearest.size} rows")
      exact.find { case (a, b) =>
        !nearest.get(a).contains((b, true)) || !nearest.get(b).contains((a, true))
      }.foreach(p => op.fail(s"embedding rung did not flag exact duplicate pair $p"))
      candidates.find { case (a, b) => !labels.get(a).exists(l => labels.get(b).contains(l)) }
        .foreach(p => op.fail(s"candidate pair $p split across components"))
      labels.find { case (d, l) => l > d }.foreach(p => op.fail(s"component label above member: $p"))
      // the ladder is deterministic: every pass must find what the
      // warm-up pass found, and recall must stay above its floor
      val positives = planted.filter(_._3 >= 0.5)
      val recall = Stats.ratio(positives.count(p => found((p._1, p._2))).toDouble, positives.size.toDouble)
      if (recall < RecallFloor) op.fail(f"recall $recall%.3f below the floor $RecallFloor")
      firstFound match {
        case None => firstFound = Some(found)
        case Some(f) => if (f != found) op.fail("verified pairs differ from the warm-up pass")
      }
      if (record) {
        recalls += recall
        counts += c
      }
    }
    graft.core.Caches.drain(spark)
    graft.core.Caches.release(spark)
  }

  private var kernelNs = Map.empty[String, Double]

  /** Traced run only: single-thread direct `eval` of the native
    * kernels on the generated corpus. */
  private def kernels(): Unit = {
    val docs = texts.map(t => UTF8String.fromString(t.toLowerCase))
    val kb = docs.map(_.numBytes).sum / 1024.0
    def perCall(minSeconds: Double)(body: => Unit): Double = {
      body // warm
      var n = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < minSeconds * 1e9) { body; n += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    val mh = perCall(0.3)(docs.foreach(MinHash8.eval))
    val sh = perCall(0.3)(docs.foreach(SimHash16.eval))
    val rnd = new SplittableRandom(ctx.seed)
    val vecs = Array.fill(512)(UnsafeArrayData.fromPrimitiveArray(
      Array.fill(Dim)(rnd.nextGaussian().toFloat)))
    val nul = Literal.create(null, ArrayType(FloatType))
    val cos = CosineSimilarity(nul, nul)
    val pairs = vecs.length * (vecs.length - 1)
    val cs = perCall(0.3) {
      var i = 0
      while (i < vecs.length) {
        var j = 0
        while (j < vecs.length) { if (i != j) cos.nullSafeEval(vecs(i), vecs(j)); j += 1 }
        i += 1
      }
    }
    kernelNs = Map("kernel.minhash8_ns_per_kb" -> mh / kb,
      "kernel.simhash16_ns_per_kb" -> sh / kb, "kernel.cosine_ns_per_pair" -> cs / pairs)
  }

  def verify(): Unit = ()

  private def timed = ctx.timedOps("ladder").filter(_.ok)

  /** Corpus documents deduplicated per second over all measured passes
    * (a failed pass processed none). */
  def workPerS: Double =
    Stats.ratio(Docs.toDouble * timed.size, ctx.timedOps("ladder").map(_.seconds).sum)

  def report: Seq[(String, Double, String)] = Seq(
    ("dedup.recall", Stats.mean(recalls.toSeq), "ratio"),
    ("dedup.corpus_docs", Docs.toDouble, "count"),
    ("dedup.planted_pairs", planted.size.toDouble, "count"),
    ("dedup.planted_positive", planted.count(_._3 >= 0.5).toDouble, "count"))

  def layerMetrics(spans: Seq[Span], jobs: Seq[SparkCounts#Job]): Map[String, Double] = {
    val n = math.max(ctx.timedOps("ladder").size, 1).toDouble
    def per(names: String*) = spans.filter(s => names.contains(s.name)).map(_.seconds).sum / n
    def avg(k: String) = Stats.mean(counts.map(_(k).toDouble).toSeq)
    val rungs = Seq("Dedup.minhashCandidates", "candidates.collect", "Dedup.dedupJaccard",
      "verify.collect", "Dedup.connectedComponents", "components.collect",
      "Dedup.dedupApply", "apply.collect", "Dedup.dedupEmbed", "embed.collect")
    val rungSpans = spans.filter(s => rungs.contains(s.name))
    val off = ctx.tracer.wallOffsetNs
    val inRungs = jobs.count { j =>
      val t = j.startMs * 1000000L - off
      rungSpans.exists(s => s.startNs - 1000000L <= t && t <= s.endNs)
    }
    kernelNs ++ Map(
      "dedup.candidates_s" -> per("Dedup.minhashCandidates", "candidates.collect"),
      "dedup.candidates" -> avg("candidates"),
      "dedup.verify_s" -> per("Dedup.dedupJaccard", "verify.collect"),
      "dedup.verified" -> avg("verified"),
      "dedup.precision" -> Stats.ratio(avg("verified"), avg("candidates")),
      "dedup.components_s" -> per("Dedup.connectedComponents", "components.collect"),
      "dedup.components" -> avg("components"),
      "dedup.apply_s" -> per("Dedup.dedupApply", "apply.collect"),
      "dedup.kept" -> avg("kept"),
      "dedup.embed_s" -> per("Dedup.dedupEmbed", "embed.collect"),
      "dedup.jobs_per_rung" -> inRungs / n / 5)
  }
}

object DedupWorkload {
  val Docs = 1200
  val NearShare = 0.12
  val ExactShare = 0.04
  val VocabSize = 4000
  val MinWords = 40
  val MaxWords = 120
  val Dim = 64
  /** Coarse cells of the embedding rung (its `label` column). */
  val Cells = 8
  /** Least recall of planted pairs with true Jaccard >= 0.5; the
    * baseline runs stayed at 0.87 or more on every seed. */
  val RecallFloor = 0.85

  val DocSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))
}
