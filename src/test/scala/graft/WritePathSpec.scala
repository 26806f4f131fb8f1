package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxnLog
import graft.sources.TxnLog.{CommitInfo, Entry}

/** The two txn-log write paths agree: each writer runs once with its
  * frame held on the driver (the default threshold: one file written
  * through Spark's parquet writer factory, no commit protocol) and once
  * through a write job (auto-broadcast off), and both must leave the
  * same rows, commit the same entries (the adds with their bounds,
  * partition tuples and row counts) and write files with the same
  * parquet schema, Spark row metadata and codec. */
class WritePathSpec extends AnyFunSuite with SparkSpec with ScratchDirs {

  /** What a write left: the table's rows, the entries committed since
    * the set-up (commit times left out), and each written file's parquet
    * schema, key-value metadata and column codecs. */
  private case class Outcome(rows: Seq[String], entries: Seq[Entry],
                             footers: Set[(String, Map[String, String], Set[String])])

  /** The dirs `entries` publish: added data dirs and deletion-vector
    * sidecars. */
  private def outputs(entries: Seq[Entry]): Seq[String] = entries.collect {
    case a: TxnLog.AddFile => a.file
    case TxnLog.Action("add", f) => f
    case d: TxnLog.SetDV => d.dv
  }.distinct

  private def parts(root: String, out: String): Seq[File] =
    new File(root, out).listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).toSeq.sortBy(_.getName)

  private def footer(f: File) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(f.toString), spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  /** `setup` a fresh table, then run `write` at the default threshold
    * (`held`) or with auto-broadcast off. When `heldWrites`, a held
    * output dir must hold one part file and no `_SUCCESS`, and a write
    * job's must hold its `_SUCCESS`. */
  private def outcome(setup: String => Unit, held: Boolean, heldWrites: Boolean)
                     (write: String => Any): Outcome = {
    val root = scratchDir("graft_writepath_")
    setup(root)
    val before = TxnLog.latestVersion(root)
    if (held) write(root) else withThreshold(-1L)(write(root))
    val entries = (before + 1 to TxnLog.latestVersion(root))
      .flatMap(TxnLog.entriesAt(root, _)).filterNot(_.isInstanceOf[CommitInfo])
    val outs = outputs(entries)
    assert(outs.nonEmpty, s"the write added no file: $entries")
    if (heldWrites) for (o <- outs) {
      assert(new File(s"$root/$o/_SUCCESS").exists == !held, s"$o, held $held")
      if (held) assert(parts(root, o).size == 1, s"$o: ${parts(root, o)}")
    }
    Outcome(TxnLog.read(spark, root).collect().map(_.toString).sorted.toSeq,
      entries,
      outs.flatMap(parts(root, _)).map(footer).map { ft =>
        (ft.getFileMetaData.getSchema.toString,
          ft.getFileMetaData.getKeyValueMetaData.asScala.toMap,
          ft.getBlocks.asScala.flatMap(_.getColumns.asScala
            .map(_.getCodec.toString)).toSet)
      }.toSet)
  }

  /** Run `write` on both paths over a fresh `setup` table; returns the
    * (shared) outcome. */
  private def bothPaths(setup: String => Unit, heldWrites: Boolean = true)
                       (write: String => Any): Outcome = {
    val held = outcome(setup, held = true, heldWrites)(write)
    val job = outcome(setup, held = false, heldWrites)(write)
    assert(held == job)
    held
  }

  private val edgeSchema = StructType.fromDDL("k BIGINT, i INT, d DOUBLE, " +
    "zero DOUBLE, dec DECIMAL(12,2), dt DATE, ts TIMESTAMP, s STRING, z BIGINT")

  /** Keys `lo until lo + n` with the edge values: nulls, an
    * all-null column `z`, NaN (Spark's greatest double), -0.0 before 0.0
    * in `zero`'s only values (Spark's ordering has them equal, so the
    * first seen bounds both ends), decimals, dates, timestamps, and
    * strings whose UTF-8 byte order differs from their UTF-16 order. */
  private def edge(lo: Long, n: Int): DataFrame = {
    val strs = Seq("Zürich", "日本", "😀", "é", "abc", null, "ß", "z")
    val ds = Seq[java.lang.Double](Double.NaN, -0.0, 0.0, null, 1.5, -2.25,
      Double.PositiveInfinity, 3.0)
    val rows = (0 until n).map { j =>
      val k = lo + j
      Row(k, (k * 7 % 23).toInt, ds(j % ds.size),
        if (j == 0) -0.0 else if (j == 1) 0.0 else null,
        BigDecimal(k) * BigDecimal("1.25") - BigDecimal(3),
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 2, 27).plusDays(k)),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + k * 3607)),
        strs(j % strs.size), null)
    }
    spark.createDataFrame(rows.asJava, edgeSchema)
  }

  private def append(root: String, tag: String, df: DataFrame): Unit = {
    TxnLog.writeAppend(spark, root, df, "s", tag); ()
  }

  /** Runs `body` under session time zone `tz`. */
  private def inZone[T](tz: String)(body: => T): T = {
    val key = "spark.sql.session.timeZone"
    val old = spark.conf.get(key)
    spark.conf.set(key, tz)
    try body finally spark.conf.set(key, old)
  }

  test("appends, a stream batch and a partitioned append write alike, " +
    "edge values included, in a non-UTC session zone") {
    inZone("Asia/Kolkata") {
      val first = bothPaths(_ => ())(append(_, "a", edge(0, 16)))
      // the bounds are rendered with Spark's ordering and the session zone
      val bounds = first.entries.collect { case a: TxnLog.AddFile => a.cols }
        .flatten.map(s => s.col -> (s.min, s.max)).toMap
      assert(bounds("d") == (("-2.25", "NaN")), bounds)
      assert(bounds("zero") == (("-0.0", "-0.0")), bounds)
      assert(bounds("s") == (("Zürich", "😀")), bounds)
      assert(bounds("ts")._1 == "2023-11-15 03:43:20", bounds)
      assert(!bounds.contains("z"), bounds)
      bothPaths(append(_, "a", edge(0, 16)))(append(_, "b", edge(100, 8)))
      bothPaths(append(_, "a", edge(0, 16)))(root =>
        assert(TxnLog.writeStreamBatch(spark, root, edge(200, 12), "app", 0L,
          "s").nonEmpty))
      val sliced = bothPaths(_ => ())(root =>
        TxnLog.commitPartitionedAppend(spark, root,
          edge(0, 16).withColumn("p", col("k") % 2), Seq("p"),
          Seq("d", "s", "ts", "z"), "p"))
      assert(sliced.entries.collect { case a: TxnLog.AddFile => a.part }
        == Seq(Seq("p" -> "0"), Seq("p" -> "1")))
    }
  }

  test("MERGE, DELETE, UPDATE and OPTIMIZE rewrites write alike") {
    inZone("America/Los_Angeles") {
      def table(root: String): Unit = {
        append(root, "a", edge(0, 16))
        append(root, "b", edge(16, 16))
      }
      val merged = bothPaths(table)(root =>
        assert(TxnLog.mergeUpsert(spark, root,
          edge(14, 4).withColumn("i", col("i") + 100)
            .unionByName(edge(500, 8)), "k", "m").nonEmpty))
      assert(outputs(merged.entries).exists(_.endsWith("_ins")))
      assert(outputs(merged.entries).exists(_.endsWith("_u0001")))
      val deleted = bothPaths(table)(root =>
        assert(TxnLog.deleteRange(spark, root, "k", "3", "20", "d").nonEmpty))
      assert(outputs(deleted.entries) == Seq("d00000003_d_k0000", "d00000003_d_k0001"))
      bothPaths(table)(root =>
        assert(TxnLog.deletePredicate(spark, root, "s = '日本' OR d IS NULL",
          "d").nonEmpty))
      // merge-on-read: the second delete carries the first's vector
      val vectored = bothPaths(table) { root =>
        assert(TxnLog.deleteRangeDV(spark, root, "k", "3", "20", "v").nonEmpty)
        assert(TxnLog.deleteRangeDV(spark, root, "k", "0", "1", "v").nonEmpty)
      }
      assert(outputs(vectored.entries) == Seq("dv00000003_v", "dv00000004_v"))
      assert(vectored.rows.size == 32 - 20)
      bothPaths(table)(root =>
        assert(TxnLog.deletePredicateDV(spark, root,
          "s = '日本' OR d IS NULL", "v").nonEmpty))
      val replaced = bothPaths(table)(root =>
        assert(TxnLog.writeReplaceWhere(spark, root,
          edge(3, 18).withColumn("i", col("i") + 100),
          Array(GreaterThanOrEqual("k", 3L), LessThanOrEqual("k", 20L)),
          "r", "rw").nonEmpty))
      assert(outputs(replaced.entries) ==
        Seq("rw00000003_r_k0000", "rw00000003_r_k0001", "w_rw"))
      bothPaths(table)(root =>
        assert(TxnLog.update(spark, root, Seq("dec" -> "dec * 2"),
          Some("k BETWEEN 5 AND 9"), "u").nonEmpty))
      bothPaths(table)(root =>
        assert(TxnLog.compact(spark, root, "o").nonEmpty))
      // z-order bins keep their staged dynamic-partition write on both
      bothPaths(table, heldWrites = false)(root =>
        assert(TxnLog.compactZorder(spark, root, Seq("k", "i"), "z",
          zBuckets = 4).nonEmpty))
    }
  }

  test("a zero-row write leaves no dir; a CHECK violation is refused " +
    "with no dir left") {
    for (held <- Seq(true, false)) {
      val root = scratchDir("graft_writepath_")
      def onPath[T](body: => T): T = if (held) body else withThreshold(-1L)(body)
      append(root, "a", edge(0, 8))
      onPath {
        assert(TxnLog.writeAppend(spark, root, edge(0, 8).limit(0), "s", "e0") == -1)
        assert(TxnLog.writeStreamBatch(spark, root, edge(0, 8).limit(0), "app",
          0L, "s").nonEmpty)
      }
      assert(TxnLog.addConstraint(spark, root, "k_pos", "k >= 0", "s") == 3)
      val e = intercept[IllegalArgumentException](onPath(
        TxnLog.writeAppend(spark, root, edge(-2, 8), "s", "bad")))
      assert(e.getMessage.contains("k_pos"), e.getMessage)
      val dirs = new File(root).list().toSeq
      assert(!dirs.exists(d => d.startsWith("w_e0") || d.startsWith("w_app") ||
        d.startsWith("w_bad")), s"held $held: $dirs")
      assert(TxnLog.read(spark, root).count() == 8)
    }
  }

  test("a failed OPTIMIZE bin leaves no output of its wave") {
    // four files in two bins of two; the second bin's last input is
    // gone from disk, so its write fails while the first bin's succeeds
    val root = scratchDir("graft_writepath_")
    for (i <- 0 until 4) append(root, s"t$i", edge(i * 8L, 8))
    val bytes = (0 until 4).map(i =>
      new File(root, s"w_t$i").listFiles().map(_.length).sum)
    val cap = math.max(bytes(0) + bytes(1), bytes(2) + bytes(3))
    graft.core.Fixtures.deleteRecursively(new File(root, "w_t3"))
    val out = f"c${TxnLog.latestVersion(root) + 1}%08d_o"
    intercept[Exception](TxnLog.compact(spark, root, "o", targetBytes = cap))
    val left = new File(root).list().toSeq.filter(_.startsWith(out))
    assert(left.isEmpty, left)
  }

  test("spark.sql.files.maxRecordsPerFile keeps the write job and its limit") {
    val key = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(key, "3")
    try {
      val o = bothPaths(_ => (), heldWrites = false) { root =>
        append(root, "a", edge(0, 16))
        val files = parts(root, "w_a")
        assert(files.size >= 6 &&
          files.forall(f => footer(f).getBlocks.asScala.map(_.getRowCount).sum <= 3),
          files)
      }
      assert(o.rows.size == 16)
    } finally spark.conf.unset(key)
  }
}
