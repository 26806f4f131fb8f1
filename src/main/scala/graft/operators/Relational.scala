package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Det, DetSql, Tables}
import graft.sources.TxnLog

/** Relational operator inventory (SURVEY.md §2B).
  *
  * The reference exposes its analytic surface as an open ETL hook on the
  * loaded table (DefragmentAvroFolder.scala:280-282) plus full SparkSQL
  * (TemplateApp.scala:52); this module makes that surface concrete as
  * declarative DataFrame pipelines. Everything here is plain Catalyst —
  * pushdown, pruning, join strategy selection, AQE — so the same code
  * scales from the sf0.01 oracle runs to a 1000-executor cluster.
  *
  * Scale notes are attached per operator; the common rules:
  *   - dimensions (region/nation/customer/supplier/part at TPC-H ratios)
  *     are broadcast; only fact-fact joins shuffle, on their join key.
  *   - aggregations rely on partial (map-side) aggregation, so shuffle
  *     volume is O(groups × partitions), not O(rows).
  *   - every query ends in a total-order sort only because the oracle
  *     hash-compare is order-sensitive; at production scale the sort is
  *     the consumer's choice and everything upstream is order-agnostic.
  */
object Relational {

  private def rev: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  // ---------------------------------------------------------------- scans

  /** Full scan: parquet → DataFrame, vectorized reader, no shuffle
    * except the oracle-mandated final sort. */
  // NOTE on lineitem row-dump ordering (this and the other three
  // row-level lineitem queries): (l_orderkey, l_linenumber) is NOT
  // unique in the synthetic data, and engines order ties by scan
  // order — stable at one scale by luck, divergent at another. Every
  // row dump therefore sorts by ENOUGH columns that tied sort keys
  // imply identical output rows (a total order over the output).
  def scanParquet(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.orderBy(li.columns.toSeq.map(col): _*)
  }

  val scanParquetSql: String =
    "SELECT * FROM lineitem ORDER BY ALL"

  /** Scan with column pruning + predicate pushdown: only 4 columns leave
    * the parquet reader and the shipdate/quantity predicates reach
    * PushedFilters (verified in PlanSpec). */
  def scanFilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") < lit("2000-01-01").cast("timestamp") &&
             col("l_quantity") > 30.0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
              col("l_shipdate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_shipdate"))

  val scanFilterProjectSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '2000-01-01' AND l_quantity > 30.0
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate""".stripMargin

  /** Hive-style partition pruning (reference §1.1 partitioned-folder
    * model): lineitem written partitioned by l_returnflag, then read
    * with a partition predicate — the scan's PartitionFilters prune to
    * one directory and never list the others' files (PlanSpec asserts
    * this). At 100 TB partition pruning is the first and cheapest
    * cardinality cut — metadata-only, before any IO. */
  def scanPartitionPruned(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(partitionedLineitem(spark, dir))
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_returnflag"))
  }

  /** Stage the partitioned lineitem copy once per source dir at a
    * deterministic path and reuse it — both within a session (memo map)
    * and across JVM runs ([[graft.core.Fixtures]] fingerprint marker,
    * which also re-stages when the source regenerates). Repeated
    * Bench/Verify invocations then measure the partition-pruned *read*,
    * not the fixture write, and no temp directories accumulate
    * (VERDICT r2 #5). */
  private val partFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  private def partitionedLineitem(spark: SparkSession, dir: String): String =
    graft.core.Fixtures.memo(partFixtures, dir)(
      graft.core.Fixtures.staged(s"$dir/lineitem.parquet", "part") { target =>
        Tables.lineitem(spark, dir).write.mode("overwrite")
          .partitionBy("l_returnflag").parquet(target)
      })

  val scanPartitionPrunedSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
      |FROM lineitem
      |WHERE l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin

  /** JSON source scan with an explicit schema (reference D8: the
    * TemplateApp JSON lift, TemplateApp.scala:62, made a first-class
    * source): nation staged once as JSON lines, read back typed. An
    * explicit schema matters at scale — inference reads the data
    * twice. */
  def scanJson(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .json(stagedTextCopy(spark, dir, "json"))
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))

  /** Gzip-compressed JSONL scan — the format crawl dumps actually
    * arrive in (CommonCrawl-style *.jsonl.gz): nation staged once as
    * gzipped JSON lines, read back typed through the same explicit-
    * schema path as [[scanJson]] (Hadoop's codec layer decompresses
    * transparently by extension). The 100 TB caveat this row pins:
    * gzip is NOT splittable, so parallelism = file count, one task per
    * .gz member — a pipeline must shard the archive into many files
    * (as here, one per staging partition) or recompress to a
    * splittable codec before the heavy transforms. */
  def scanJsonGz(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .json(stagedJsonGzCopy(spark, dir))
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))

  private def stagedJsonGzCopy(spark: SparkSession, dir: String): String =
    graft.core.Fixtures.memo(textFixtures, (dir, "jsongz"))(
      graft.core.Fixtures.staged(s"$dir/nation.parquet", "jsongz") { target =>
        Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .write.mode("overwrite").option("compression", "gzip")
          .json(target)
      })

  /** CSV source scan: header + explicit schema (no inference pass). */
  def scanCsv(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .option("header", "true")
      .csv(stagedTextCopy(spark, dir, "csv"))
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))

  /** ORC source scan — the second columnar container format (reference
    * D1 generalized: its Avro reader is one container format among
    * several; a Spark-native engine reads parquet/ORC/Avro through one
    * `spark.read` surface). ORC brings its own stripe statistics and
    * predicate pushdown, so the 100 TB posture matches parquet's:
    * column-pruned, filter-pushed vectorized scans. Staged once from
    * nation via [[graft.core.Fixtures]]. */
  def scanOrc(spark: SparkSession, dir: String): DataFrame =
    spark.read.orc(stagedOrcCopy(spark, dir))
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))

  private def stagedOrcCopy(spark: SparkSession, dir: String): String =
    graft.core.Fixtures.memo(textFixtures, (dir, "orc"))(
      graft.core.Fixtures.staged(s"$dir/nation.parquet", "orc") { target =>
        Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .write.mode("overwrite").orc(target)
      })

  /** XML source scan — Spark 4's NATIVE xml data source (the spark-xml
    * donation), completing the self-describing-text side of the source
    * matrix next to JSON: nation staged once as one `<row>` element
    * per record, read back with an explicit schema (rowTag = "row").
    * XML scans parse row-wise like JSON — no pushdown, no column
    * skipping — so the 100 TB posture is the same as
    * [[scanJson]]: an ingest/landing format to convert to parquet at
    * the first opportunity, not a query substrate. */
  def scanXml(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .option("rowTag", "row")
      .format("xml").load(stagedXmlCopy(spark, dir))
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))

  private def stagedXmlCopy(spark: SparkSession, dir: String): String =
    graft.core.Fixtures.memo(textFixtures, (dir, "xml"))(
      graft.core.Fixtures.staged(s"$dir/nation.parquet", "xml") { target =>
        Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .write.mode("overwrite").option("rowTag", "row")
          .format("xml").save(target)
      })

  /** Avro source scan — the reference's own container format (D1),
    * oracle-facing: nation staged to snappy Avro through
    * [[graft.sources.AvroSource.write]] (the D5 sink on the DataFrame
    * surface) and read back through the Hadoop-RDD bridge the
    * reference uses. Closes the round-trip: every container format
    * the engine reads (parquet/ORC/JSON/CSV/Avro) now has a
    * hash-exact oracle entry. */
  def scanAvro(spark: SparkSession, dir: String): DataFrame =
    graft.sources.AvroSource.read(spark, stagedAvroCopy(spark, dir))
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))

  private def stagedAvroCopy(spark: SparkSession, dir: String): String =
    graft.core.Fixtures.memo(textFixtures, (dir, "avro"))(
      graft.core.Fixtures.staged(s"$dir/nation.parquet", "avro") { target =>
        graft.sources.AvroSource.write(
          Tables.nation(spark, dir)
            .select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
          target)
      })

  /** Shared date/timestamp/decimal projection for the logical-type Avro
    * round-trip — ONE string used by both the Spark fixture writer and
    * the DuckDB oracle so the formula cannot drift. The decimal is
    * built from exact integer cents (`floor(x*100+0.5)` quantization,
    * the codebase's standard) times a decimal literal, never a direct
    * double→decimal cast, whose half-up tie-breaks differ per engine. */
  private val avroLogicalColsSql: Seq[String] = Seq(
    "o_orderkey",
    "CAST(o_orderdate AS DATE) AS o_date",
    "o_orderdate AS o_ts",
    "CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS DECIMAL(18,0))" +
      " * CAST(0.01 AS DECIMAL(3,2)) AS o_price")

  /** Avro scan with LOGICAL types (VERDICT r5 gap #1) — a slice of
    * orders carrying a date, a timestamp, and a decimal price staged
    * through [[graft.sources.AvroSource.write]] and read back: proves
    * `date`/`timestamp-micros`/`decimal` annotations survive the full
    * write→read round-trip with hash-exact fidelity, the mapping the
    * reference never needed because its GenericRecords stay opaque
    * (ref DefragmentAvroFolder.scala:267-271). The parquet timestamp
    * is NTZ; Avro's timestamp-micros is instant-based, so the fixture
    * writes the UTC-session instant and the query casts back — at the
    * engine's pinned UTC session the composition is the identity. */
  def scanAvroLogical(spark: SparkSession, dir: String): DataFrame =
    graft.sources.AvroSource.read(spark, stagedAvroLogicalCopy(spark, dir))
      .select(col("o_orderkey"), col("o_date"),
        col("o_ts").cast("timestamp_ntz").as("o_ts"),
        // The decimal logical type is round-tripped through Avro above;
        // the EMITTED column converts it cents→BIGINT→DOUBLE (every
        // step exact) because the driver's raw-value hash is
        // representation-sensitive on DECIMAL output columns (round-1
        // lesson in [[graft.core.Det]]; CORRECTNESS_r06 hash-missed
        // this query's decimal while rows+schema matched). Corruption
        // anywhere in the Avro decimal encode/decode still flips the
        // cents and fails the hash.
        ((col("o_price") * lit(100)).cast("long").cast("double") /
          lit(100.0)).as("o_price"))
      .orderBy(col("o_orderkey"))

  val scanAvroLogicalSql: String =
    s"""SELECT o_orderkey, o_date, o_ts,
       |  CAST(CAST(o_price * 100 AS BIGINT) AS DOUBLE) / 100.0 AS o_price
       |FROM (SELECT ${avroLogicalColsSql.mkString(", ")}
       |      FROM orders
       |      WHERE o_orderkey % 20 = 0)
       |ORDER BY o_orderkey""".stripMargin

  private def stagedAvroLogicalCopy(spark: SparkSession, dir: String): String =
    graft.core.Fixtures.memo(textFixtures, (dir, "avrologic"))(
      graft.core.Fixtures.staged(s"$dir/orders.parquet", "avrologic",
        // fixture bytes depend on the projection formula, not just the
        // source parquet — fold it into the fingerprint so a formula
        // edit re-stages (Fixtures scaladoc, codeTag contract)
        codeTag = avroLogicalColsSql.mkString(";")) { target =>
        graft.sources.AvroSource.write(
          Tables.orders(spark, dir)
            .where(expr("o_orderkey % 20 = 0"))
            .selectExpr(avroLogicalColsSql: _*)
            .withColumn("o_ts", col("o_ts").cast("timestamp")),
          target)
      })

  /** The text scans and the ORC scan share one oracle: the staged
    * copies carry exactly the parquet table's rows, so DuckDB reads
    * the original. */
  val scanTextSql: String =
    """SELECT n_nationkey, n_name, n_regionkey
      |FROM nation
      |ORDER BY n_nationkey""".stripMargin

  private val textFixtures =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  private def stagedTextCopy(spark: SparkSession, dir: String,
                             fmt: String): String =
    graft.core.Fixtures.memo(textFixtures, (dir, fmt))(
      graft.core.Fixtures.staged(s"$dir/nation.parquet", fmt) { target =>
        Tables.nation(spark, dir).write.mode("overwrite")
          .option("header", "true").format(fmt).save(target)
      })

  /** Plain-text-lines source (`spark.read.text`) — the rawest ingest
    * format a crawl/log pipeline starts from: one string column per
    * line, structure recovered by expression (here a pipe-delimited
    * record parsed with split_part + try-casts). Staged once from
    * nation; the oracle reads the TABLE, so equality proves the
    * format→parse roundtrip, the same contract as the JSON/CSV scans.
    * At 100 TB text splits by line ranges exactly like CSV — fully
    * parallel scan, no footer metadata to read. */
  def scanText(spark: SparkSession, dir: String): DataFrame =
    spark.read.text(stagedLinesCopy(spark, dir))
      .select(
        split_part(col("value"), lit("|"), lit(1)).cast("int").as("n_nationkey"),
        split_part(col("value"), lit("|"), lit(2)).as("n_name"),
        split_part(col("value"), lit("|"), lit(3)).cast("int").as("n_regionkey"))
      .orderBy(col("n_nationkey"))

  private def stagedLinesCopy(spark: SparkSession, dir: String): String =
    graft.core.Fixtures.memo(textFixtures, (dir, "lines"))(
      graft.core.Fixtures.staged(s"$dir/nation.parquet", "lines") { target =>
        Tables.nation(spark, dir)
          .select(concat_ws("|", col("n_nationkey"), col("n_name"),
            col("n_regionkey")).as("value"))
          .write.mode("overwrite").text(target)
      })

  /** Schema-evolved scan: two parquet batches of one logical table,
    * written before and after a column was added (the drift a 100 TB
    * table accumulates over years of writers), read back as one frame
    * via `mergeSchema` — old rows surface the new column as NULL. The
    * parquet-side twin of the reference's Avro reader-schema
    * resolution (HDFSAvroOperations.scala schema extraction / D9).
    * mergeSchema costs a footer read per file at planning time — at
    * scale you pin the merged schema in a catalog instead; the READ
    * semantics are what this query pins. */
  def scanMergedSchema(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(stagedEvolvedCopy(spark, dir))
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))

  /** The fixture's shape depends on this boundary as well as the
    * source table, so it rides in the staging marker's codeTag —
    * changing it re-stages instead of reusing a stale layout. */
  private val EvolvedSplitKey = 10

  private def stagedEvolvedCopy(spark: SparkSession, dir: String): String =
    graft.core.Fixtures.memo(textFixtures, (dir, "evolved"))(
      graft.core.Fixtures.staged(s"$dir/nation.parquet", "evolved",
          codeTag = s"split$EvolvedSplitKey") { target =>
        val n = Tables.nation(spark, dir)
        n.where(col("n_nationkey") < EvolvedSplitKey)
          .select(col("n_nationkey"), col("n_name")) // pre-evolution schema
          .write.mode("overwrite").parquet(s"$target/batch=0")
        n.where(col("n_nationkey") >= EvolvedSplitKey)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .write.mode("overwrite").parquet(s"$target/batch=1")
      })

  lazy val scanMergedSchemaSql: String =
    s"""SELECT n_nationkey, n_name, CAST(NULL AS INT) AS n_regionkey
       |FROM nation WHERE n_nationkey < $EvolvedSplitKey
       |UNION ALL
       |SELECT n_nationkey, n_name, n_regionkey
       |FROM nation WHERE n_nationkey >= $EvolvedSplitKey
       |ORDER BY n_nationkey""".stripMargin

  /** MERGE-style upsert without a table format: apply a change batch
    * (updates + inserts, derived deterministically from orders itself)
    * to the target via one full-outer join keyed on orderkey — the
    * plan shape a MERGE compiles to. At 100 TB this is a single
    * key-shuffled join (or broadcast, when the change batch is small);
    * change capture then rewrites only matched files, but the join
    * semantics are exactly these. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val updates = t.where(col("o_orderkey") % 100 < 5)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"))
    // insert keys are the source key negated (minus one for key 0):
    // disjoint from the positive key space at ANY scale factor, where
    // a fixed additive offset would collide once real keys pass it
    val inserts = t.where((col("o_orderkey") % 100).isin(5, 6))
      .select((-col("o_orderkey") - 1L).as("o_orderkey"),
        col("o_custkey"), lit("N").as("o_orderstatus"), col("o_totalprice"))
    val c = updates.union(inserts)
      .select(col("o_orderkey").as("c_key"), col("o_custkey").as("c_cust"),
        col("o_orderstatus").as("c_status"), col("o_totalprice").as("c_price"))
    t.join(c, col("o_orderkey") === col("c_key"), "full_outer")
      .select(
        coalesce(col("o_orderkey"), col("c_key")).as("key"),
        coalesce(col("c_cust"), col("o_custkey")).as("custkey"),
        coalesce(col("c_status"), col("o_orderstatus")).as("status"),
        coalesce(col("c_price"), col("o_totalprice")).as("totalprice"),
        when(col("o_orderkey").isNull, "insert")
          .when(col("c_key").isNull, "keep").otherwise("update").as("op"))
      .orderBy(col("key"))
  }

  val mergeUpsertSql: String =
    """WITH t AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
      |c AS (
      |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
      |    o_totalprice + 1000.0 AS o_totalprice
      |  FROM t WHERE o_orderkey % 100 < 5
      |  UNION ALL
      |  SELECT -o_orderkey - 1, o_custkey, 'N', o_totalprice
      |  FROM t WHERE o_orderkey % 100 IN (5, 6))
      |SELECT
      |  COALESCE(t.o_orderkey, c.o_orderkey) AS key,
      |  COALESCE(c.o_custkey, t.o_custkey) AS custkey,
      |  COALESCE(c.o_orderstatus, t.o_orderstatus) AS status,
      |  COALESCE(c.o_totalprice, t.o_totalprice) AS totalprice,
      |  CASE WHEN t.o_orderkey IS NULL THEN 'insert'
      |       WHEN c.o_orderkey IS NULL THEN 'keep'
      |       ELSE 'update' END AS op
      |FROM t FULL OUTER JOIN c ON t.o_orderkey = c.o_orderkey
      |ORDER BY key""".stripMargin

  /** SCD Type-2 dimension build — the other half of the MERGE family:
    * turn a change stream (each customer's orders, ordered by time)
    * into validity intervals. Consecutive rows with an UNCHANGED
    * tracked attribute (order status) are collapsed (lag-compare
    * change detection), survivors get [valid_from, valid_to) from
    * lead(), the open row is flagged current. At 100 TB this is one
    * shuffle on the dimension key; both windows share the partitioning
    * so the change filter and the interval build ride the same
    * exchange. */
  def dimScd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderstatus"))
      .withColumn("prev", lag(col("o_orderstatus"), 1).over(w))
      .where(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
      .select(col("o_custkey"), col("o_orderstatus"),
        col("o_orderdate").as("valid_from"),
        lead(col("o_orderdate"), 1).over(w).as("valid_to"),
        row_number().over(w).as("version"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy(col("o_custkey"), col("version"))
  }

  val dimScd2Sql: String =
    """WITH seq AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
      |    LAG(o_orderstatus) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders),
      |chg AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
      |  FROM seq WHERE prev IS NULL OR prev <> o_orderstatus)
      |SELECT o_custkey, o_orderstatus,
      |  o_orderdate AS valid_from,
      |  LEAD(o_orderdate) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey) AS valid_to,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey) AS INT) AS version,
      |  (LEAD(o_orderdate) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey)) IS NULL AS is_current
      |FROM chg
      |ORDER BY o_custkey, version""".stripMargin

  /** Shuffle-free co-located join via bucketing — the 100 TB answer to
    * a fact↔fact join that recurs on the same key: both tables stored
    * bucketed (8 buckets on orderkey) so the sort-merge join reads
    * bucket i against bucket i with NO shuffle exchange on either side
    * (PlanSpec asserts no hashpartitioning Exchange; the only exchange
    * left is the oracle-mandated output sort). The bucketed copies are
    * staged once per (session, dir), exactly like the partition-pruning
    * fixture; `hint("merge")` pins SMJ so a small scale factor doesn't
    * flip to broadcast and mask the property under test. */
  def joinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val (ot, ltab) = stagedBucketed(spark, dir)
    spark.table(ot).hint("merge")
      .join(spark.table(ltab).hint("merge"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("l_linenumber"), col("o_totalprice"),
        col("l_quantity"))
      // (o_orderkey, l_linenumber) is NOT unique in this synthetic
      // lineitem (unlike real TPC-H) — the r8 x5 oracle gate caught
      // the tie luck; l_quantity completes a total VALUE order (rows
      // still tied after it are full duplicates, order-indifferent)
      .orderBy(col("o_orderkey"), col("l_linenumber"), col("l_quantity"))
  }

  private val bucketFixtures =
    scala.collection.concurrent.TrieMap.empty[(String, String), (String, String)]

  private def stagedBucketed(spark: SparkSession, dir: String): (String, String) =
    bucketFixtures.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      // md5 of the absolute dir — two distinct source dirs can no longer
      // collide onto one catalog table name (ADVICE r3)
      val tag = graft.core.Fixtures.pathTag(dir)
      val (ot, ltab) = (s"graft_bkt_orders_$tag", s"graft_bkt_lineitem_$tag")
      // a previous JVM's warehouse dir survives while the in-memory
      // catalog does not — clear the stale location before re-staging
      def dropStale(table: String): Unit = {
        val p = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      if (!spark.catalog.tableExists(ot)) {
        dropStale(ot)
        Tables.orders(spark, dir).write
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
      }
      if (!spark.catalog.tableExists(ltab)) {
        dropStale(ltab)
        Tables.lineitem(spark, dir).write
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(ltab)
      }
      (ot, ltab)
    })

  val joinBucketedSql: String =
    """SELECT o_orderkey, l_linenumber, o_totalprice, l_quantity
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |ORDER BY o_orderkey, l_linenumber, l_quantity""".stripMargin

  // ------------------------------------------------- filters / projections

  /** Conjunctive/disjunctive predicates, IN, BETWEEN, LIKE, null-safe
    * equality — all codegen'd comparisons, all pushdown-eligible. */
  def filterPred(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .where(
        (col("o_orderstatus") === "F" || col("o_totalprice").between(50000.0, 150000.0)) &&
        col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
        col("o_orderpriority").like("%H%") &&
        col("o_custkey") <=> col("o_custkey") &&
        !col("o_orderkey").isNull)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
              col("o_totalprice"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))

  val filterPredSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE (o_orderstatus = 'F' OR o_totalprice BETWEEN 50000.0 AND 150000.0)
      |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      |  AND o_orderpriority LIKE '%H%'
      |  AND o_custkey IS NOT DISTINCT FROM o_custkey
      |  AND o_orderkey IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin

  /** Arithmetic + conditional projection. Per-row double arithmetic is
    * IEEE-deterministic, so no Det wrapping is needed (no aggregation). */
  def projectExpr(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (rev).as("revenue"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("charge"),
        when(col("l_quantity") >= 40.0, "bulk")
          .when(col("l_quantity") >= 15.0, "mid")
          .otherwise("small").as("qty_band"))
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("revenue"), col("charge"), col("qty_band"))

  val projectExprSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1.0 - l_discount) AS revenue,
      |  l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge,
      |  CASE WHEN l_quantity >= 40.0 THEN 'bulk'
      |       WHEN l_quantity >= 15.0 THEN 'mid'
      |       ELSE 'small' END AS qty_band
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, revenue, charge,
      |  qty_band""".stripMargin

  // ---------------------------------------------------------------- joins

  /** Equi-join orders⋈customer. customer is the small side → explicit
    * broadcast; at 100 TB the orders side streams through the broadcast
    * hash join with zero shuffle. */
  def joinInnerHash(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
              col("c_mktsegment"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val joinInnerHashSql: String =
    """SELECT o_orderkey, c_custkey, c_name, c_mktsegment, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** Left outer join with null preservation on the probe side. */
  def joinOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).where(col("o_totalprice") > 300000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
              col("o_totalprice"))
      .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
  }

  val joinOuterSql: String =
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice
      |FROM customer LEFT OUTER JOIN
      |  (SELECT * FROM orders WHERE o_totalprice > 300000.0) o
      |  ON c_custkey = o_custkey
      |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin

  /** Semi/anti join: customers with vs without high-value orders,
    * tagged and unioned. Both rewrite to broadcast/shuffled hash
    * semi-joins — no row multiplication on the big side. */
  def joinSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).where(col("o_totalprice") > 200000.0)
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_big_order").as("tag"))
    val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_big_order").as("tag"))
    semi.unionByName(anti).orderBy(col("c_custkey"), col("tag"))
  }

  val joinSemiAntiSql: String =
    """SELECT c_custkey, 'has_big_order' AS tag FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
      |UNION ALL
      |SELECT c_custkey, 'no_big_order' AS tag FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
      |ORDER BY c_custkey, tag""".stripMargin

  /** Recursive CTE (Spark 4's WITH RECURSIVE, UNION ALL semantics):
    * a yearly calendar spine derived by recursion from the data's own
    * bounds, left-joined to per-year order counts. The SQL body is
    * ANSI and identical on both engines modulo relation names — D10
    * parity at the string level. Two recursion-cost lessons encoded
    * here: (a) each recursion level re-evaluates every relation the
    * step references, so the bounds aggregate is precomputed into a
    * cached one-row view (a monthly spine over inline bounds measured
    * 11 s — 84 levels × a full orders scan); (b) levels are Spark jobs,
    * so the spine recursion is yearly (≈7 levels), not monthly. Cyclic
    * closure (connected components) deliberately stays on the
    * driver-loop fixpoint: UNION-distinct recursion is not yet
    * supported and UNION ALL would cycle forever. */
  def sqlRecursive(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    orders.createOrReplaceTempView("orders_v")
    orders.agg(
        min(year(col("o_orderdate"))).as("lo"),
        max(year(col("o_orderdate"))).as("hi"))
      .cache().createOrReplaceTempView("year_bounds_v")
    spark.sql(sqlRecursiveBody("orders_v", "year_bounds_v"))
  }

  private def sqlRecursiveBody(ordersTable: String, bounds: String): String =
    s"""WITH RECURSIVE years(y) AS (
       |  SELECT lo AS y FROM $bounds
       |  UNION ALL
       |  SELECT y + 1 AS y FROM years, $bounds WHERE y < hi),
       |rev AS (
       |  SELECT CAST(YEAR(o_orderdate) AS INT) AS y, COUNT(*) AS n_orders
       |  FROM $ordersTable GROUP BY 1)
       |SELECT years.y AS y, COALESCE(rev.n_orders, 0) AS n_orders
       |FROM years LEFT OUTER JOIN rev ON years.y = rev.y
       |ORDER BY 1""".stripMargin

  val sqlRecursiveSql: String = {
    val boundsCte = "(SELECT CAST(MIN(YEAR(o_orderdate)) AS INT) AS lo, " +
      "CAST(MAX(YEAR(o_orderdate)) AS INT) AS hi FROM orders) b"
    sqlRecursiveBody("orders", boundsCte)
  }

  /** Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
    * top-k-per-key shape written the SQL way (Catalyst decorrelates it
    * to the same windowed plan `topk_per_group` builds by hand). The
    * body is ANSI and runs verbatim on both engines modulo table
    * names; customers without orders drop (cross lateral). */
  def joinLateral(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    spark.sql(joinLateralBody("customer_v", "orders_v"))
  }

  private def joinLateralBody(customer: String, orders: String): String =
    s"""SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
       |FROM $customer c, LATERAL (
       |  SELECT o_orderkey, o_totalprice FROM $orders o
       |  WHERE o.o_custkey = c.c_custkey
       |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
       |ORDER BY c.c_custkey, l.o_totalprice DESC, l.o_orderkey""".stripMargin

  val joinLateralSql: String = joinLateralBody("customer", "orders")

  /** 5-way star join: fact (lineitem⋈orders shuffles on orderkey) plus
    * three broadcast dimensions, aggregated to revenue per region. */
  def joinMultiway(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(Det.dsum(rev).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("r_name"))
  }

  val joinMultiwaySql: String =
    s"""SELECT r_name,
       |  ${DetSql.dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |GROUP BY r_name
       |ORDER BY r_name""".stripMargin

  /** Theta/range self-join: pairs of events of the same user within a
    * 5-minute forward window. The user_id equi-key keeps it a hash join
    * with a range residual — never a cartesian — so it shuffles by user
    * and scales with per-user event counts, not total rows. */
  def joinThetaRange(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val a = e.select(col("event_id").as("id_a"), col("user_id").as("u_a"),
                     col("ts").as("ts_a"))
    val b = e.select(col("event_id").as("id_b"), col("user_id").as("u_b"),
                     col("ts").as("ts_b"))
    a.join(b, col("u_a") === col("u_b") &&
              col("ts_b") > col("ts_a") &&
              col("ts_b") <= col("ts_a") + expr("INTERVAL 5 MINUTES"))
      .select(col("id_a"), col("id_b"), col("u_a").as("user_id"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val joinThetaRangeSql: String =
    """SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id AS user_id
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND b.ts > a.ts
      | AND b.ts <= a.ts + INTERVAL 5 MINUTE
      |ORDER BY id_a, id_b""".stripMargin

  /** As-of join: for each event, the user's latest order at-or-before
    * the event timestamp. Batch Spark has no native as-of operator, so:
    * equi-join on the key, then keep row_number()=1 over (event,
    * order_ts desc). Shuffles once on user_id; the window is per-event
    * so state stays bounded. Tie-break on o_orderkey desc for a total
    * order. */
  def joinAsof(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val o = Tables.orders(spark, dir)
    val joined = e.join(o, e("user_id") === o("o_custkey") &&
                           o("o_orderdate") <= e("ts"), "left_outer")
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("o_orderdate").desc_nulls_last, col("o_orderkey").desc_nulls_last)
    joined.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("ts"),
              col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("event_id"))
  }

  val joinAsofSql: String =
    """SELECT event_id, user_id, ts, o_orderkey, o_orderdate FROM (
      |  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
      |         ROW_NUMBER() OVER (PARTITION BY e.event_id
      |           ORDER BY o.o_orderdate DESC NULLS LAST,
      |                    o.o_orderkey DESC NULLS LAST) AS rn
      |  FROM events e LEFT OUTER JOIN orders o
      |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
      |) WHERE rn = 1
      |ORDER BY event_id""".stripMargin

  /** [[joinAsof]] on the native sort-merge as-of operator
    * (org.apache.spark.sql.graft.AsofJoinExec — custom LogicalPlan +
    * Strategy + SparkPlan): one shuffle per side on the key, one sort,
    * one streaming merge holding a single retained right row — no
    * (event × order-history) intermediate, which is what makes as-of
    * viable against deep per-key history at 100 TB. Same oracle as the
    * window emulation. */
  def joinAsofNative(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    org.apache.spark.sql.graft.AsofJoinApi.join(
        e, o, Seq("user_id" -> "o_custkey"), "ts", "o_orderdate",
        rightTieBreakCols = Seq("o_orderkey"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("event_id"))
  }

  /** Forward as-of with tolerance on the native operator: for each
    * event, the user's *next* order within 7 days (earliest
    * at-or-after; ties → smallest orderkey). Same merge pass and state
    * bound as the backward mode — direction only flips which side of
    * the time comparison is retained. */
  def joinAsofFwd(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    org.apache.spark.sql.graft.AsofJoinApi.join(
        e, o, Seq("user_id" -> "o_custkey"), "ts", "o_orderdate",
        rightTieBreakCols = Seq("o_orderkey"),
        forward = true, tolerance = 7L * 24 * 3600 * 1000000) // 7 days in µs
      .select(col("event_id"), col("user_id"), col("ts"),
        col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("event_id"))
  }

  /** Point-in-time join against the SCD2-versioned dimension — the
    * feature-store lookup: for each event, the dimension version that
    * was VALID at the event's timestamp (not the nearest event, which
    * is [[joinAsof]]'s different contract). Versions come from the
    * same change-capture [[dimScd2]] builds; since a key's half-open
    * validity intervals partition its timeline, each event matches at
    * most one version, and events before a key's first version keep a
    * NULL attribution through the left join. Planned as an equi-join
    * on the key with the validity range as a post-join filter — per-key
    * version counts are small (status changes, not events), so the
    * filter touches a handful of rows per event at any scale. */
  def joinPointInTime(spark: SparkSession, dir: String): DataFrame = {
    val v = dimScd2(spark, dir).select(col("o_custkey"),
      col("o_orderstatus"), col("valid_from"), col("valid_to"),
      col("version"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
      .join(v, col("user_id") === col("o_custkey") &&
        col("valid_from") <= col("ts") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")),
        "left_outer")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("o_orderstatus").as("status_at_event"), col("version"))
      .orderBy(col("event_id"))
  }

  val joinPointInTimeSql: String =
    """WITH seq AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
      |    LAG(o_orderstatus) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders),
      |chg AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
      |  FROM seq WHERE prev IS NULL OR prev <> o_orderstatus),
      |ver AS (
      |  SELECT o_custkey, o_orderstatus,
      |    o_orderdate AS valid_from,
      |    LEAD(o_orderdate) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS valid_to,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS INT) AS version
      |  FROM chg)
      |SELECT e.event_id, e.user_id, e.ts,
      |  v.o_orderstatus AS status_at_event, v.version
      |FROM events e LEFT OUTER JOIN ver v
      |  ON e.user_id = v.o_custkey AND v.valid_from <= e.ts
      | AND (v.valid_to IS NULL OR e.ts < v.valid_to)
      |ORDER BY e.event_id""".stripMargin

  /** Semi-join via broadcast BITMAP membership — the dense-keyspace
    * refinement of a broadcast semi join. The build side (urgent
    * orders) compresses to bucket→word rows (bucket = key DIV 64,
    * word = bit_or of key bits): 64 keys per 8-byte word, so a
    * billion-key filter broadcasts as ~2 GB of hash-set entries OR
    * ~125 MB of words — and unlike a Bloom prefilter the bitmap is
    * EXACT, no false positives and no rescue pass. Probe: broadcast
    * equi-join on bucket + a codegen'd bit test. Oracle: the plain
    * EXISTS semi join it must equal row-for-row. */
  def joinBitmapSemi(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(expr("o_orderkey DIV 64").as("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(o_orderkey % 64 AS INT))")
          .as("bit"))
      .groupBy(col("bucket")).agg(expr("bit_or(bit)").as("word"))
    // (orderkey, linenumber) is NOT unique in this synthetic lineitem
    // (up to 6 dups); the 6-column tuple below is, making the output
    // order total — required for the driver's ordered row compare.
    Tables.lineitem(spark, dir)
      .join(broadcast(urgent), expr("l_orderkey DIV 64") === col("bucket"))
      .where(expr(
        "(word & shiftleft(CAST(1 AS BIGINT), CAST(l_orderkey % 64 AS INT))) != 0"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"))
  }

  val joinBitmapSemiSql: String =
    """SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
      |  l.l_quantity, l.l_extendedprice
      |FROM lineitem l
      |WHERE EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_orderkey = l.l_orderkey
      |    AND o.o_orderpriority = '1-URGENT')
      |ORDER BY l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
      |  l.l_quantity, l.l_extendedprice""".stripMargin

  /** Backward as-of with a tolerance bound on the native operator: per
    * event, the user's latest order at-or-before the event but no older
    * than 30 days (pandas `merge_asof(tolerance=...)`). Exercises the
    * backward+tolerance combination of the single-merge operator —
    * [[joinAsofFwd]] pins forward+tolerance — with the same retained-
    * one-row state bound: at 100 TB the tolerance additionally lets the
    * merge DROP right rows older than the bound instead of carrying one
    * per key forever. */
  def joinAsofTol(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    org.apache.spark.sql.graft.AsofJoinApi.join(
        e, o, Seq("user_id" -> "o_custkey"), "ts", "o_orderdate",
        rightTieBreakCols = Seq("o_orderkey"),
        tolerance = 30L * 24 * 3600 * 1000000) // 30 days in µs
      .select(col("event_id"), col("user_id"), col("ts"),
        col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("event_id"))
  }

  val joinAsofTolSql: String =
    """SELECT event_id, user_id, ts, o_orderkey, o_orderdate FROM (
      |  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
      |         ROW_NUMBER() OVER (PARTITION BY e.event_id
      |           ORDER BY o.o_orderdate DESC NULLS LAST,
      |                    o.o_orderkey DESC NULLS LAST) AS rn
      |  FROM events e LEFT OUTER JOIN orders o
      |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
      |   AND o.o_orderdate >= e.ts - INTERVAL 30 DAY
      |) WHERE rn = 1
      |ORDER BY event_id""".stripMargin

  val joinAsofFwdSql: String =
    """SELECT event_id, user_id, ts, o_orderkey, o_orderdate FROM (
      |  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
      |         ROW_NUMBER() OVER (PARTITION BY e.event_id
      |           ORDER BY o.o_orderdate ASC NULLS LAST,
      |                    o.o_orderkey ASC NULLS LAST) AS rn
      |  FROM events e LEFT OUTER JOIN orders o
      |    ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts
      |   AND o.o_orderdate <= e.ts + INTERVAL 7 DAY
      |) WHERE rn = 1
      |ORDER BY event_id""".stripMargin

  /** Nearest as-of (pandas `merge_asof direction='nearest'`) — the
    * third as-of semantics: per event, the user's closest order in
    * EITHER time direction, ties broken toward the backward match and
    * then by each direction's own native tie-break (backward retains
    * the max orderkey on equal dates, forward the min — the same
    * contracts [[joinAsof]]/[[joinAsofFwd]] pin). Composed from two
    * native single-merge passes plus one event-keyed join of the two
    * event-sized results: each pass holds one retained row per key, so
    * the deep-history blow-up a windowed emulation would pay never
    * materializes, and the composition reuses the operator whose
    * semantics are already oracle-verified per direction. At scale: 2
    * key shuffles + sorts (the merges) + 1 event-id shuffle (the zip). */
  def joinAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    val back = org.apache.spark.sql.graft.AsofJoinApi.join(
        e, o, Seq("user_id" -> "o_custkey"), "ts", "o_orderdate",
        rightTieBreakCols = Seq("o_orderkey"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("o_orderkey").as("bk_key"), col("o_orderdate").as("bk_date"))
    val fwd = org.apache.spark.sql.graft.AsofJoinApi.join(
        e, o, Seq("user_id" -> "o_custkey"), "ts", "o_orderdate",
        rightTieBreakCols = Seq("o_orderkey"), forward = true)
      .select(col("event_id"),
        col("o_orderkey").as("fw_key"), col("o_orderdate").as("fw_date"))
    // o_orderdate is parquet-NTZ; at the pinned UTC session the LTZ
    // cast is value-identity, and unix_micros needs TIMESTAMP
    val bkDist = Det.epochUs(col("ts")) -
      unix_micros(col("bk_date").cast("timestamp"))
    val fwDist = unix_micros(col("fw_date").cast("timestamp")) -
      Det.epochUs(col("ts"))
    val pickBack = col("fw_date").isNull ||
      (col("bk_date").isNotNull && bkDist <= fwDist)
    back.join(fwd, "event_id")
      .select(col("event_id"), col("user_id"), col("ts"),
        when(pickBack, col("bk_key")).otherwise(col("fw_key")).as("o_orderkey"),
        when(pickBack, col("bk_date")).otherwise(col("fw_date")).as("o_orderdate"),
        when(col("bk_date").isNull && col("fw_date").isNull, lit(null).cast("string"))
          .when(pickBack, lit("back")).otherwise(lit("fwd")).as("direction"))
      .orderBy(col("event_id"))
  }

  val joinAsofNearestSql: String =
    """SELECT event_id, user_id, ts, o_orderkey, o_orderdate, direction FROM (
      |  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
      |    CASE WHEN o.o_orderdate IS NULL THEN NULL
      |         WHEN o.o_orderdate <= e.ts THEN 'back' ELSE 'fwd' END AS direction,
      |    ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY
      |      abs(epoch_us(o.o_orderdate) - epoch_us(e.ts)) ASC NULLS LAST,
      |      CASE WHEN o.o_orderdate <= e.ts THEN 0 ELSE 1 END ASC NULLS LAST,
      |      CASE WHEN o.o_orderdate <= e.ts THEN -o.o_orderkey
      |           ELSE o.o_orderkey END ASC NULLS LAST) AS rn
      |  FROM events e LEFT OUTER JOIN orders o ON e.user_id = o.o_custkey
      |) WHERE rn = 1
      |ORDER BY event_id""".stripMargin

  // ----------------------------------------------------------- aggregates

  /** Global (grand-total) aggregate: one partial agg per partition, one
    * exchange of a single row each. */
  def aggGlobal(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        Det.dsum(col("l_quantity")).as("sum_qty"),
        Det.davg(col("l_extendedprice")).as("avg_price"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"))

  val aggGlobalSql: String =
    s"""SELECT COUNT(*) AS n_rows,
       |  ${DetSql.dsum("l_quantity")} AS sum_qty,
       |  ${DetSql.davg("l_extendedprice")} AS avg_price,
       |  MIN(l_extendedprice) AS min_price,
       |  MAX(l_extendedprice) AS max_price,
       |  MIN(l_shipdate) AS min_ship,
       |  MAX(l_shipdate) AS max_ship
       |FROM lineitem""".stripMargin

  /** TPC-H-Q1-style aggregation over lineitem: hash partial+final agg,
    * map-side combine; shuffles only |groups| rows per partition. */
  def aggGroupBy(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Det.dsum(col("l_quantity")).as("sum_qty"),
        Det.dsum(col("l_extendedprice")).as("sum_base_price"),
        Det.dsum(rev).as("sum_disc_price"),
        Det.davg(col("l_quantity")).as("avg_qty"),
        Det.davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val aggGroupBySql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${DetSql.dsum("l_quantity")} AS sum_qty,
       |  ${DetSql.dsum("l_extendedprice")} AS sum_base_price,
       |  ${DetSql.dsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ${DetSql.davg("l_quantity")} AS avg_qty,
       |  ${DetSql.davg("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Ordered string aggregation (LISTAGG/STRING_AGG): per nation, the
    * sorted distinct market segments of its customers as one CSV plus
    * their count. `collect_set` is partial-aggregating but returns an
    * UNORDERED set — `array_sort` before the join is what makes the
    * string deterministic (and hashable) on any partitioning; the
    * oracle's `ORDER BY` inside STRING_AGG is the same pin. State per
    * group is the distinct-segment set, bounded by the domain, not the
    * row count. */
  def aggListagg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(array_sort(collect_set(col("c_mktsegment"))).as("segs"),
        count(lit(1)).as("n_cust"))
      .select(col("n_name"),
        array_join(col("segs"), ",").as("segments_csv"),
        size(col("segs")).as("n_segments"),
        col("n_cust"))
      .orderBy(col("n_name"))
  }

  val aggListaggSql: String =
    """SELECT n_name,
      |  STRING_AGG(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment)
      |    AS segments_csv,
      |  CAST(COUNT(DISTINCT c_mktsegment) AS INT) AS n_segments,
      |  COUNT(*) AS n_cust
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** Conditional (filtered) aggregation — several differently-filtered
    * measures from ONE scan and one shuffle, where naive per-measure
    * subqueries would scan the fact table once per measure. Spark's
    * `count(when(cond, 1))` / conditional sum are the FILTER (WHERE)
    * clause's plan shape; all stay inside the same partial+final hash
    * aggregate. */
  def aggFiltered(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(when(col("l_quantity") > 30.0, 1)).as("n_heavy"),
        count(when(col("l_discount") > 0.05, 1)).as("n_discounted"),
        Det.dsum(when(col("l_tax") > 0.04, col("l_extendedprice"))
          .otherwise(0.0)).as("taxed_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  val aggFilteredSql: String =
    s"""SELECT l_returnflag,
       |  COUNT(*) FILTER (WHERE l_quantity > 30.0) AS n_heavy,
       |  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
       |  ${DetSql.dsum(
      "CASE WHEN l_tax > 0.04 THEN l_extendedprice ELSE 0.0 END")} AS taxed_price,
       |  COUNT(*) AS n
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  /** Exact distinct: dropDuplicates on the pair + count(distinct).
    * Both are shuffle-by-key exact dedups; count(distinct) expands to
    * a two-phase aggregate under Catalyst. */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.agg(
      countDistinct(col("l_partkey")).as("nd_part"),
      countDistinct(col("l_suppkey")).as("nd_supp"),
      countDistinct(col("l_returnflag"), col("l_linestatus")).as("nd_flag_status"))
  }

  val aggDistinctSql: String =
    """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_part,
      |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supp,
      |  CAST(COUNT(DISTINCT (l_returnflag, l_linestatus))
      |    FILTER (WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL)
      |    AS BIGINT) AS nd_flag_status
      |FROM lineitem""".stripMargin

  /** Top-k with rolled-up remainder — the pivot-table "top 10 customers
    * + OTHER" report. Per-customer revenue stays in exact BIGINT cents
    * until the final render, so the OTHER row (grand total − top-10
    * sum) is integer arithmetic, not a float residue. Shapes chosen for
    * scale: the top-10 is a TakeOrdered (no global sort), the rank
    * window runs AFTER the limit over 10 rows, and the grand total is
    * one scalar aggregate crossJoined back — nothing materializes the
    * full customer list beyond its one keyed aggregate. */
  def aggTopkOthers(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(Det.cents(col("o_totalprice"))).as("cents"))
    val top = per.orderBy(col("cents").desc, col("o_custkey")).limit(10)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cents").desc, col("o_custkey"))))
      .select(col("o_custkey").cast("string").as("label"),
        col("cents"), col("rk"))
    val other = per.agg(sum(col("cents")).as("tot"))
      .crossJoin(broadcast(top.agg(sum(col("cents")).as("tcents"))))
      .select(lit("OTHER").as("label"),
        (col("tot") - col("tcents")).as("cents"), lit(11).as("rk"))
    top.unionAll(other)
      .select(col("label"),
        (col("cents").cast("double") / lit(100.0)).as("revenue"), col("rk"))
      .orderBy(col("rk"))
  }

  val aggTopkOthersSql: String =
    s"""WITH per AS (
       |  SELECT o_custkey,
       |    CAST(SUM(${graft.core.DetSql.cents("o_totalprice")}) AS BIGINT)
       |      AS cents
       |  FROM orders GROUP BY 1),
       |top AS (
       |  SELECT o_custkey, cents,
       |    CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS INT)
       |      AS rk
       |  FROM per ORDER BY cents DESC, o_custkey LIMIT 10),
       |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM per),
       |ts AS (SELECT CAST(SUM(cents) AS BIGINT) AS s FROM top)
       |SELECT CAST(o_custkey AS VARCHAR) AS label,
       |  CAST(cents AS DOUBLE) / 100.0 AS revenue, rk FROM top
       |UNION ALL
       |SELECT 'OTHER', CAST(t - s AS DOUBLE) / 100.0, 11 FROM tot, ts
       |ORDER BY rk""".stripMargin

  /** Exact per-group COUNT(DISTINCT) via bitmap partial aggregation —
    * the roaring-bitmap scale pattern for high-cardinality distinct
    * counts over a dense non-negative integer key. Keys pack into
    * 64-bit words (bucket = key DIV 64, bit = key MOD 64); the
    * pre-shuffle partial per (group, bucket) is a single BIGINT
    * `bit_or`, which combines map-side, so the shuffle carries at most
    * groups × ⌈keyspace/64⌉ words REGARDLESS of row count — versus
    * count_distinct's two-phase plan whose first shuffle carries every
    * distinct (group, key) pair. The final count is an exact
    * Σ bit_count(word). Oracle: plain COUNT(DISTINCT), same numbers by
    * construction. */
  def aggBitmapDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), expr("user_id DIV 64").as("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))")
          .as("bit"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(expr("bit_or(bit)").as("word"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bit_count(word)")).cast("long").as("ndv"))
      .orderBy(col("event_type"))

  val aggBitmapDistinctSql: String =
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ndv
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  private val txnLogFixtures =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), String]

  /** Stage the shared txn-log fixture: three mod-3 orders slices as
    * immutable parquet, v1 and v2 committed through the OPTIMISTIC
    * [[graft.sources.TxnLog]] protocol (check-then-link — the
    * compactor's M8/M9 commit gate wired into the table format,
    * VERDICT r7 #4). `extra` runs additional commits (compaction)
    * inside the same staging, so the fixture is immutable afterwards
    * and the queries stay pure reads.
    *
    * `kind` must be DISTINCT per fixture variant: `Fixtures.staged`
    * purges same-kind dirs with a different fingerprint as
    * superseded, so the scan/compact/vacuum fixtures — siblings that
    * are all live at once — each need their own purge namespace or a
    * concurrent JVM staging one would reap the other two mid-read
    * (r8 self-review finding). */
  private def txnLogFixture(spark: SparkSession, dir: String,
                            kind: String, codeTag: String)
                           (extra: String => Unit): String =
    graft.core.Fixtures.memo(txnLogFixtures,
      (spark.sparkContext.applicationId, dir, s"$kind|$codeTag")) {
        graft.core.Fixtures.staged(s"$dir/orders.parquet", kind,
            codeTag = codeTag) { target =>
          val o = Tables.orders(spark, dir)
            .select(col("o_orderkey"), col("o_totalprice"))
          new java.io.File(target).mkdirs()
          o.where(col("o_orderkey") % 3 === 0)
            .coalesce(1).write.parquet(s"$target/f0")
          o.where(col("o_orderkey") % 3 === 1)
            .coalesce(1).write.parquet(s"$target/f1")
          o.where(col("o_orderkey") % 3 === 2)
            .coalesce(1).write.parquet(s"$target/f2")
          val session = "stage"
          assert(TxnLog.commitNext(target,
            Seq(TxnLog.add("f0"), TxnLog.add("f1")), session) == 1)
          assert(TxnLog.commitNext(target,
            Seq(TxnLog.remove("f0"), TxnLog.add("f2")), session) == 2)
          extra(target)
        }
      }

  /** Minimal transaction-log table format with TIME TRAVEL — the
    * lakehouse mechanic (Delta/Iceberg's core idea) on the same
    * staged-fixture discipline as the Avro round-trip: data files are
    * immutable parquet, a `_log/` of per-version JSONL files records
    * add/remove actions, and a reader resolves any version's LIVE
    * file set from the log alone (no listing). Commits go through
    * [[graft.sources.TxnLog]]'s optimistic check-then-link protocol —
    * the reference compactor's M8/M9 commit gate as the table
    * format's concurrency story (two writers racing a version slot:
    * exactly one wins, spec-raced in MaintenanceSpec). The fixture
    * commits two versions over orders slices (v1 adds two files; v2
    * removes one and adds another); the query reads EVERY version and
    * emits its (files, rows, exact-cents sum) rollup — the
    * time-travel audit. The oracle re-derives each version's content
    * from the shared mod rules, so log resolution itself is what the
    * hash gate checks.
    *
    * Scale shape: the log is METADATA (driver-side, like every table
    * format's); data reads are parquet scans of only the live files —
    * version resolution never touches data. */
  def scanTxnLog(spark: SparkSession, dir: String): DataFrame = {
    val root = txnLogFixture(spark, dir, "txnscan", "mod3_v3_cinfo")(_ => ())
    TxnLog.versionsRollup(spark, root, "o_totalprice")
  }

  val scanTxnLogSql: String =
    """WITH v1 AS (
      |  SELECT 1 AS version, 2 AS n_files,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2)
      |      * 100 AS BIGINT)) AS BIGINT) AS sum_cents
      |  FROM orders WHERE o_orderkey % 3 IN (0, 1)),
      |v2 AS (
      |  SELECT 2 AS version, 2 AS n_files,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2)
      |      * 100 AS BIGINT)) AS BIGINT) AS sum_cents
      |  FROM orders WHERE o_orderkey % 3 IN (1, 2))
      |SELECT * FROM v1 UNION ALL SELECT * FROM v2
      |ORDER BY version""".stripMargin

  /** OPTIMIZE on the txn-log table — the reference's defrag semantics
    * expressed in the table format (VERDICT r7 #4): the v2 tip (two
    * live files, f1+f2) is rewritten into one parquet and the swap is
    * committed OPTIMISTICALLY as v3 through [[graft.sources.TxnLog
    * .compact]] — snapshot base version, rewrite, then win-or-abort
    * the version slot exactly like the compactor's source-changed
    * rename gate (M8/M9). The compaction runs once inside the staged
    * fixture; the query is then the same time-travel rollup as
    * [[scanTxnLog]] over all THREE versions, so the oracle's v3 row
    * (identical rows/cents to v2, n_files 1) checks that compaction
    * preserved content exactly while halving the file count — the
    * whole point of OPTIMIZE. The racing-writers path (two appends
    * contending one slot, compaction losing to a concurrent commit
    * and aborting) is spec-raced in MaintenanceSpec.
    *
    * Scale shape: identical to [[scanTxnLog]] plus one bounded
    * rewrite of the live set (the compactor's own cost model) at
    * staging time. */
  /** The v1/v2/v3 fixture shared by the post-OPTIMIZE queries:
    * the two append commits plus one compaction, all through the
    * optimistic protocol, staged once. */
  private def compactedTxnFixture(spark: SparkSession, dir: String): String =
    txnLogFixture(spark, dir, "txncompact", "v3_ndc_r12") { target =>
      val v = TxnLog.compact(spark, target, "stage")
      assert(v.contains(3), s"compaction did not commit v3: $v")
    }

  def txnLogCompact(spark: SparkSession, dir: String): DataFrame =
    TxnLog.versionsRollup(spark,
      compactedTxnFixture(spark, dir), "o_totalprice")

  val txnLogCompactSql: String =
    """WITH v1 AS (
      |  SELECT 1 AS version, 2 AS n_files,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2)
      |      * 100 AS BIGINT)) AS BIGINT) AS sum_cents
      |  FROM orders WHERE o_orderkey % 3 IN (0, 1)),
      |v23 AS (
      |  SELECT v.version, v.n_files,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2)
      |      * 100 AS BIGINT)) AS BIGINT) AS sum_cents
      |  FROM orders CROSS JOIN (VALUES (2, 2), (3, 1)) AS v(version, n_files)
      |  WHERE o_orderkey % 3 IN (1, 2)
      |  GROUP BY v.version, v.n_files)
      |SELECT * FROM v1 UNION ALL SELECT * FROM v23
      |ORDER BY version""".stripMargin

  /** CHANGE DATA FEED on the txn-log table (r11 headline — VERDICT
    * r10 top_next): [[graft.sources.TxnLog.readChanges]] derives
    * row-level changes from the JOURNAL alone — per version, the
    * multiset diff between the rows of its added and removed files.
    * The fixture's history exercises all three shapes: v1 is a pure
    * append (inserts, shuffle-free fast path), v2 swaps f0 out and f2
    * in (its diff splits into exact deletes + inserts), and v3 is the
    * OPTIMIZE rewrite — whose added rows equal its removed rows, so
    * the diff cancels COMPLETELY and v3 contributes NO change rows:
    * the property that makes CDF consumable (a re-layout is not a
    * data change). The query aggregates the feed per (version,
    * change_type); the oracle re-derives every row from the mod
    * rules — including v3's absence — so the cancellation algebra
    * itself is inside the hash gate. The same readChanges powers the
    * streaming source's readChangeFeed mode (StreamingSpec tails it
    * across a restart).
    *
    * Scale shape: versions resolve from the log; the plan touches
    * only the files the range's commits name; the diff's exchange
    * exists only for rewrite commits — append tails stream with zero
    * shuffle. */
  def txnLogCdf(spark: SparkSession, dir: String): DataFrame = {
    val root = compactedTxnFixture(spark, dir)
    TxnLog.readChanges(spark, root, 0)
      .groupBy(col("_commit_version").as("version"),
        col("_change_type").as("change"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"))
      .orderBy(col("version"), col("change"))
  }

  val txnLogCdfSql: String =
    """WITH c AS (
      |  SELECT o_orderkey AS k,
      |    CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2) * 100
      |      AS BIGINT) AS cents
      |  FROM orders)
      |SELECT 1 AS version, 'insert' AS change,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM c WHERE k % 3 IN (0, 1)
      |UNION ALL
      |SELECT 2, 'delete', CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(cents) AS BIGINT)
      |FROM c WHERE k % 3 = 0
      |UNION ALL
      |SELECT 2, 'insert', CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(cents) AS BIGINT)
      |FROM c WHERE k % 3 = 2
      |ORDER BY version, change""".stripMargin

  /** DESCRIBE HISTORY for the txn-log table: per committed version,
    * the action census (adds/removes), the post-replay live count,
    * and the DATA each commit brought in (rows + exact cents of the
    * files ADDED at that version) — the audit a lakehouse operator
    * reads before trusting time travel. Action/live counts are log
    * replay (metadata, [[graft.sources.TxnLog]]); the added-data
    * columns scan exactly the files each version added, so the oracle
    * (re-deriving them from the shared mod rules) checks that the log
    * attributes the right DATA to the right commit — including v3's
    * rewrite, whose added rows must equal the v2 tip it compacted.
    *
    * Scale shape: ONE multi-path parquet scan over the distinct added
    * files (input_file_name attribution, per-file exact subtotals, a
    * broadcast membership join) — plan size O(1) in history depth;
    * nothing global-sorts beyond the ≤versions-row output. */
  def txnLogHistory(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val root = compactedTxnFixture(spark, dir)
    val liveCounts = TxnLog.liveSets(root).map { case (v, fs) => v -> fs.size }
      .toMap
    val meta = TxnLog.versions(root).map { v =>
      val acts = TxnLog.actionsAt(root, v)
      (v, acts.collect { case TxnLog.Action("add", f) => f },
        acts.count(_.action == "remove"))
    }
    // action/live censuses are log replay (driver metadata); the data
    // plan is ONE multi-path scan over the distinct added files with
    // input_file_name attribution — same O(1)-in-history shape as
    // [[graft.sources.TxnLog.versionsRollup]], instead of one plan
    // branch per version's add set
    val metaDf = spark.createDataFrame(
      meta.map { case (v, adds, nr) =>
        Row(v, adds.size, nr, liveCounts(v)) }.asJava,
      StructType.fromDDL(
        "version INT, n_adds INT, n_removes INT, n_live INT"))
    val addMembership = spark.createDataFrame(
      meta.flatMap { case (v, adds, _) => adds.map(f => Row(v, f)) }.asJava,
      StructType.fromDDL("version INT, file STRING"))
    val added = meta.flatMap(_._2).distinct.sorted
    val perFile = spark.read.parquet(added.map(f => s"$root/$f"): _*)
      .select(regexp_extract(input_file_name(), "/([^/]+)/[^/]+$", 1)
        .as("file"), Det.cents(col("o_totalprice")).as("cents"))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("f_rows"), sum(col("cents")).as("f_cents"))
    val perVersion = addMembership.join(perFile, "file")
      .groupBy(col("version"))
      .agg(sum(col("f_rows")).as("rows_added"),
        sum(col("f_cents")).as("cents_added"))
    metaDf.join(perVersion, Seq("version"), "left")
      .select(col("version"), col("n_adds"), col("n_removes"),
        col("n_live"),
        coalesce(col("rows_added"), lit(0L)).as("rows_added"),
        coalesce(col("cents_added"), lit(0L)).as("cents_added"))
      .orderBy(col("version"))
  }

  val txnLogHistorySql: String =
    """SELECT 1 AS version, 2 AS n_adds, 0 AS n_removes, 2 AS n_live,
      |  CAST(COUNT(*) AS BIGINT) AS rows_added,
      |  CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2)
      |    * 100 AS BIGINT)) AS BIGINT) AS cents_added
      |FROM orders WHERE o_orderkey % 3 IN (0, 1)
      |UNION ALL
      |SELECT 2, 1, 1, 2, CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2)
      |    * 100 AS BIGINT)) AS BIGINT)
      |FROM orders WHERE o_orderkey % 3 IN (2)
      |UNION ALL
      |SELECT 3, 1, 2, 1, CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2)
      |    * 100 AS BIGINT)) AS BIGINT)
      |FROM orders WHERE o_orderkey % 3 IN (1, 2)
      |ORDER BY version""".stripMargin

  /** VACUUM on the txn-log table — the storage-reclaim lifecycle with
    * a RETENTION HORIZON (Delta semantics, VERDICT r8 #6): after the
    * OPTIMIZE of [[txnLogCompact]], `vacuum(retainVersions = 2)`
    * deletes only the files not live in either of the two newest
    * versions — so v2 and v3 stay fully readable and only v1 (whose
    * live set needed the retired f0) drops out of its time-travel
    * window. Log metadata survives, so history still RESOLVES — it
    * just cannot be read. The query reports, per version, the live
    * count, how many of those files still exist, whether the version
    * is readable, and the data rollup for readable versions (−1
    * sentinels otherwise — the unreadable row is the point of the
    * audit). The oracle re-derives all three rows from the shared mod
    * rules, v2 and v3 both readable with identical data — proving the
    * horizon kept exactly the versions it promised.
    *
    * Scale shape: presence checks are driver metadata (one stat per
    * live file — the table-format planner's job); only readable
    * versions scan, and only their live parquet. */
  def txnLogVacuum(spark: SparkSession, dir: String): DataFrame = {
    val root = txnLogFixture(spark, dir, "txnvacuum", "retain2_r12") { target =>
      val v = TxnLog.compact(spark, target, "stage")
      assert(v.contains(3), s"compaction did not commit v3: $v")
      val gone = TxnLog.vacuum(target, retainVersions = 2)
      assert(gone == Seq("f0"), s"unexpected vacuum set: $gone")
    }
    TxnLog.versions(root).map { v =>
      val live = TxnLog.liveFiles(root, v)
      val present = live.count(f => new java.io.File(root, f).isDirectory)
      val meta = (df: DataFrame) => df.select(
        lit(v).as("version"), lit(live.size).as("n_live"),
        lit(present).as("n_present"),
        lit(present == live.size).as("readable"),
        col("n_rows"), col("sum_cents"))
      // an empty live set is vacuously readable but has nothing to
      // scan (reduce over zero frames would throw) — zero row
      if (present == live.size && live.nonEmpty)
        meta(live.map(f => spark.read.parquet(s"$root/$f"))
          .reduce(_ unionAll _)
          .agg(count(lit(1)).as("n_rows"),
            sum(Det.cents(col("o_totalprice"))).as("sum_cents")))
      else if (live.isEmpty)
        meta(spark.range(1).select(lit(0L).as("n_rows"),
          lit(0L).as("sum_cents")))
      else
        meta(spark.range(1).select(lit(-1L).as("n_rows"),
          lit(-1L).as("sum_cents")))
    }.reduce(_ unionAll _).orderBy(col("version"))
  }

  val txnLogVacuumSql: String =
    """WITH tip AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2)
      |      * 100 AS BIGINT)) AS BIGINT) AS sum_cents
      |  FROM orders WHERE o_orderkey % 3 IN (1, 2))
      |SELECT 1 AS version, 2 AS n_live, 1 AS n_present, FALSE AS readable,
      |  CAST(-1 AS BIGINT) AS n_rows, CAST(-1 AS BIGINT) AS sum_cents
      |UNION ALL
      |SELECT 2, 2, 2, TRUE, n_rows, sum_cents FROM tip
      |UNION ALL
      |SELECT 3, 1, 1, TRUE, n_rows, sum_cents FROM tip
      |ORDER BY version""".stripMargin

  /** TIMESTAMP AS OF on the txn-log table — the other half of time
    * travel (r9; version-number resolution is [[scanTxnLog]]): every
    * commit carries a monotonic commitInfo timestamp, and
    * [[graft.sources.TxnLog.versionAsOf]] binary-searches them. The
    * fixture pins the commit clocks (v1@1000ms, v2@2000ms — injected,
    * so the artifact is content-deterministic and the oracle can
    * re-derive it), and the query probes five instants: before the
    * table existed (resolves to version 0 — an empty, zero-row read),
    * exactly at each commit, between commits (floor semantics: the
    * greatest version ≤ t), and far future (the tip). Per probe it
    * emits the resolved version and that snapshot's rollup — so the
    * hash gate checks the resolution RULE, not just replay.
    *
    * Scale shape: resolution is O(log V) metadata reads; the data
    * plan is the same single multi-path scan + membership join as
    * [[scanTxnLog]], joined to the 5-row probe frame. */
  def txnLogTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val root = graft.core.Fixtures.memo(txnLogFixtures,
      (spark.sparkContext.applicationId, dir, "txntt|pinned_ts_v1")) {
        graft.core.Fixtures.staged(s"$dir/orders.parquet", "txntt",
            codeTag = "pinned_ts_v1") { target =>
          val o = Tables.orders(spark, dir)
            .select(col("o_orderkey"), col("o_totalprice"))
          new java.io.File(target).mkdirs()
          o.where(col("o_orderkey") % 3 === 0)
            .coalesce(1).write.parquet(s"$target/f0")
          o.where(col("o_orderkey") % 3 === 1)
            .coalesce(1).write.parquet(s"$target/f1")
          o.where(col("o_orderkey") % 3 === 2)
            .coalesce(1).write.parquet(s"$target/f2")
          assert(TxnLog.tryCommit(target, 1,
            Seq(TxnLog.add("f0"), TxnLog.add("f1")), "stage", nowMs = 1000L))
          assert(TxnLog.tryCommit(target, 2,
            Seq(TxnLog.remove("f0"), TxnLog.add("f2")), "stage",
            nowMs = 2000L))
        }
      }
    val probes = Seq(999L, 1000L, 1500L, 2000L, 9999999L)
    val probeDf = spark.createDataFrame(
      probes.map(t => Row(t, TxnLog.versionAsOf(root, t))).asJava,
      StructType.fromDDL("probe_ts BIGINT, version INT"))
    probeDf.join(TxnLog.versionsRollup(spark, root, "o_totalprice"),
        Seq("version"), "left")
      .select(col("probe_ts"), col("version"),
        coalesce(col("n_files"), lit(0)).as("n_files"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("sum_cents"), lit(0L)).as("sum_cents"))
      .orderBy(col("probe_ts"))
  }

  val txnLogTimeTravelSql: String =
    """WITH v1 AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2)
      |      * 100 AS BIGINT)) AS BIGINT) AS sum_cents
      |  FROM orders WHERE o_orderkey % 3 IN (0, 1)),
      |v2 AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2)
      |      * 100 AS BIGINT)) AS BIGINT) AS sum_cents
      |  FROM orders WHERE o_orderkey % 3 IN (1, 2))
      |SELECT CAST(999 AS BIGINT) AS probe_ts, 0 AS version, 0 AS n_files,
      |  CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS sum_cents
      |UNION ALL
      |SELECT 1000, 1, 2, n_rows, sum_cents FROM v1
      |UNION ALL
      |SELECT 1500, 1, 2, n_rows, sum_cents FROM v1
      |UNION ALL
      |SELECT 2000, 2, 2, n_rows, sum_cents FROM v2
      |UNION ALL
      |SELECT 9999999, 2, 2, n_rows, sum_cents FROM v2
      |ORDER BY probe_ts""".stripMargin

  /** SCHEMA EVOLUTION through the txn-log's metaData actions (VERDICT
    * r8 #3) — the reference compactor's whole raison d'être (§1.2,
    * `DefragmentAvroFolder.scala:17-20,83-107`: resolve the latest
    * schema, read old files under it) expressed at the table-format
    * layer: v1 appends a 2-column slice through
    * [[graft.sources.TxnLog.commitAppend]], PUBLISHING its schema as
    * the log's first metaData action; v2 appends a 3-column slice
    * (adds o_custkey) with `evolve = true`, so the commit carries the
    * MERGED metaData. The writer-side gate is real: an append whose
    * shared column changes type is rejected (spec-proven in
    * MaintenanceSpec), and a widening append without `evolve` is
    * rejected too. The query reads the TIP under parquet mergeSchema
    * algebra — old files null-pad the new column — and emits the
    * census that proves attribution: total rows/cents across both
    * schema generations, plus count/sum of the evolved column (only
    * v2's rows have it), plus the resolved tip schema DDL itself, so
    * the oracle hash pins the metaData plumbing, not just the data.
    *
    * Scale shape: two parquet scans (one per generation) + one scalar
    * agg; schema resolution is log metadata. */
  def txnLogSchemaEvo(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.core.Fixtures.memo(txnLogFixtures,
      (spark.sparkContext.applicationId, dir, "txnschema|evo_v1")) {
        graft.core.Fixtures.staged(s"$dir/orders.parquet", "txnschema",
            codeTag = "evo_v1") { target =>
          val o = Tables.orders(spark, dir)
          new java.io.File(target).mkdirs()
          val gen1 = o.where(col("o_orderkey") % 3 === 0)
            .select(col("o_orderkey"), col("o_totalprice"))
          val gen2 = o.where(col("o_orderkey") % 3 === 1)
            .select(col("o_orderkey"), col("o_totalprice"),
              col("o_custkey"))
          gen1.coalesce(1).write.parquet(s"$target/f0")
          gen2.coalesce(1).write.parquet(s"$target/f1")
          assert(TxnLog.commitAppend(target, Seq("f0"),
            gen1.schema.toDDL, "stage") == 1)
          assert(TxnLog.commitAppend(target, Seq("f1"),
            gen2.schema.toDDL, "stage", evolve = true) == 2)
        }
      }
    val tip = TxnLog.latestVersion(root)
    val ddl = TxnLog.schemaAt(root, tip)
      .getOrElse(sys.error(s"no metaData in $root")).toDDL
    // the reader-side API under test: resolves live set + schema from
    // the log, one mergeSchema read projected to the metaData columns
    TxnLog.read(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"),
        count(col("o_custkey")).as("n_custkey"),
        sum(col("o_custkey")).as("sum_custkey"))
      .select(col("n_rows"), col("sum_cents"), col("n_custkey"),
        col("sum_custkey"), lit(ddl).as("schema_ddl"))
  }

  val txnLogSchemaEvoSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2)
      |    * 100 AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(COUNT(CASE WHEN o_orderkey % 3 = 1 THEN 1 END) AS BIGINT)
      |    AS n_custkey,
      |  CAST(SUM(CASE WHEN o_orderkey % 3 = 1 THEN o_custkey END)
      |    AS BIGINT) AS sum_custkey,
      |  'o_orderkey BIGINT,o_totalprice DOUBLE,o_custkey BIGINT'
      |    AS schema_ddl
      |FROM orders WHERE o_orderkey % 3 IN (0, 1)""".stripMargin

  /** DATA SKIPPING from the txn log's per-file stats (r9) — the other
    * half of why table formats keep metadata at all: each add action
    * carries its file's stats-column bounds ([[graft.sources.TxnLog
    * .AddStats]] — Delta's per-file `stats` JSON, Iceberg's manifest
    * bounds), and a reader planning `k BETWEEN lo AND hi` drops every
    * file whose [min,max] provably misses the range from the LOG
    * ALONE — no listing, no footer reads. At 100 TB that is the
    * difference between scanning 3 files and 3000: partition pruning
    * for unpartitioned data.
    *
    * Fixture: orders sliced into 8 equal key-RANGE files (bucket =
    * (o_orderkey*8) div (max+1), integer arithmetic so both engines
    * agree exactly), committed as ONE version whose adds carry
    * min/max/rows computed at write time. The query plans the range
    * [max/4, max/2], emits the prune census (files total / scanned /
    * pruned — the oracle RE-DERIVES the expected census from each
    * bucket's true min/max, so the pruning rule itself is hashed) and
    * the content rollup of the skipping read, which must equal a full
    * scan's filter — the "skipping may never change results"
    * invariant.
    *
    * Scale shape: pruning is driver metadata (O(live files) compare);
    * the data plan scans only surviving files. */
  def txnLogDataSkipping(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.core.Fixtures.memo(txnLogFixtures,
      (spark.sparkContext.applicationId, dir, "txnskip|range8_stats_v1")) {
        graft.core.Fixtures.staged(s"$dir/orders.parquet", "txnskip",
            codeTag = "range8_stats_v1") { target =>
          val o = Tables.orders(spark, dir)
            .select(col("o_orderkey"), col("o_totalprice"))
          val mx = o.agg(max(col("o_orderkey"))).head().getLong(0)
          new java.io.File(target).mkdirs()
          val adds = (0 until 8).flatMap { b =>
            // `div`, not `/`: Spark's `/` is always fractional — the
            // SQL `div` keeps the bucket rule in exact BIGINT
            // arithmetic, matching DuckDB's `//` on positive keys
            val slice = o.where(
              expr(s"(o_orderkey * 8L) div ${mx + 1}L") === b)
            val name = s"b$b"
            slice.coalesce(1).write.parquet(s"$target/$name")
            val st = TxnLog.statsFor(spark, target, name, "o_orderkey")
            if (st.rows == 0L) { // empty bucket: not a table file
              graft.core.Fixtures.deleteRecursively(
                new java.io.File(target, name)); None
            } else Some(TxnLog.AddStats(name, st))
          }
          assert(TxnLog.tryCommit(target, 1, adds, "stage"))
        }
      }
    val o = Tables.orders(spark, dir)
    val mx = o.agg(max(col("o_orderkey"))).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 2)
    val (df, scanned, pruned) =
      TxnLog.readPruned(spark, root, "o_orderkey", lo.toString, hi.toString)
    df.where(col("o_orderkey").between(lo, hi))
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"))
      .select(lit(scanned.size + pruned.size).cast("int").as("n_files"),
        lit(scanned.size).cast("int").as("n_scanned"),
        lit(pruned.size).cast("int").as("n_pruned"),
        col("n_rows"), col("sum_cents"))
  }

  val txnLogDataSkippingSql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
      |b AS (SELECT o_orderkey, o_totalprice,
      |        (o_orderkey * 8) // (m + 1) AS bucket
      |      FROM orders, mx),
      |fs AS (SELECT bucket, MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mxk
      |       FROM b GROUP BY bucket),
      |bounds AS (SELECT m // 4 AS lo, m // 2 AS hi FROM mx)
      |SELECT
      |  CAST((SELECT COUNT(*) FROM fs) AS INT) AS n_files,
      |  CAST((SELECT COUNT(*) FROM fs, bounds
      |        WHERE NOT (mxk < lo OR mn > hi)) AS INT) AS n_scanned,
      |  CAST((SELECT COUNT(*) FROM fs, bounds
      |        WHERE mxk < lo OR mn > hi) AS INT) AS n_pruned,
      |  CAST((SELECT COUNT(*) FROM b, bounds
      |        WHERE o_orderkey BETWEEN lo AND hi) AS BIGINT) AS n_rows,
      |  CAST((SELECT SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)),
      |          2) * 100 AS BIGINT))
      |        FROM b, bounds
      |        WHERE o_orderkey BETWEEN lo AND hi) AS BIGINT) AS sum_cents
      |""".stripMargin

  /** PARTITION PRUNING + MULTI-COLUMN DATA SKIPPING from the txn
    * log's rich add actions (r10) — the reference's own partitioned
    * layout (§1.1) expressed as table-format metadata: each add
    * carries a Hive-style partition tuple AND a LIST of per-column
    * bounds ([[graft.sources.TxnLog.AddFile]] — Delta's
    * partitionValues + stats, Iceberg's partition tuple + manifest
    * bounds), and a reader planning `pri = '3' AND cents BETWEEN lo
    * AND hi AND key BETWEEN 1 AND max` drops files on partition
    * EQUALITY first, then conjunctive stats — all from the log alone.
    * At 100 TB this is the planner's first and cheapest cut: a
    * 10-partition × 2-bucket layout scans 1 file in 10.
    *
    * Fixture: orders sliced into (priority digit × cents-half)
    * files — partition value `pri` ∈ 1..5, bucket rule
    * `2·cents ≤ min+max` in exact BIGINT so both engines agree —
    * committed as ONE version of rich adds carrying o_orderkey AND
    * o_cents bounds. The query prunes on pri='3' plus BOTH ranges,
    * emits the census (the oracle RE-DERIVES it from each group's
    * true bounds, so the pruning rule itself is hashed) and the
    * rollup of the skipping read under the row-level predicate,
    * which must equal a full scan's filter — pruning may never
    * change results.
    *
    * Scale shape: pruning is driver metadata (O(live files)
    * compares); the data plan scans only surviving files. */
  def txnLogPartitionPrune(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.core.Fixtures.memo(txnLogFixtures,
      (spark.sparkContext.applicationId, dir, "txnpart|pri_cents2_v2")) {
        graft.core.Fixtures.staged(s"$dir/orders.parquet", "txnpart",
            codeTag = "pri_cents2_v2") { target =>
          val o = Tables.orders(spark, dir).select(col("o_orderkey"),
            col("o_totalprice"),
            Det.cents(col("o_totalprice")).as("o_cents"),
            substring(col("o_orderpriority"), 1, 1).as("pri"))
          val mm = o.agg(min(col("o_cents")), max(col("o_cents"))).head()
          val (mn, mx) = (mm.getLong(0), mm.getLong(1))
          new java.io.File(target).mkdirs()
          // the writer-side API under test: one narrow slice per
          // (pri, bkt) tuple, rich adds with both columns' bounds
          val v = TxnLog.commitPartitionedAppend(spark, target,
            o.withColumn("bkt", when(col("o_cents") * 2 <= mn + mx,
              "lo").otherwise("hi")),
            partCols = Seq("pri", "bkt"),
            statsCols = Seq("o_orderkey", "o_cents"),
            session = "stage")
          assert(v == 1, s"partitioned append did not commit v1: $v")
        }
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), Det.cents(col("o_totalprice")).as("c"))
    val mm = o.agg(min(col("c")), max(col("c")),
      max(col("o_orderkey"))).head()
    val (mn, mx, mxk) = (mm.getLong(0), mm.getLong(1), mm.getLong(2))
    val (loC, hiC) = (mn, (mn + mx) / 4)
    val (df, scanned, pruned) = TxnLog.readPrunedWhere(spark, root,
      Seq("pri" -> "3"),
      Seq(("o_cents", loC.toString, hiC.toString),
        ("o_orderkey", "1", mxk.toString)))
    df.where(col("pri") === "3" && col("o_cents").between(loC, hiC) &&
        col("o_orderkey").between(1, mxk))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_cents")).as("sum_cents"))
      .select(lit(scanned.size + pruned.size).cast("int").as("n_files"),
        lit(scanned.size).cast("int").as("n_scanned"),
        lit(pruned.size).cast("int").as("n_pruned"),
        col("n_rows"),
        coalesce(col("sum_cents"), lit(0L)).as("sum_cents"))
  }

  val txnLogPartitionPruneSql: String =
    """WITH c AS (
      |  SELECT o_orderkey AS k,
      |    CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2) * 100
      |      AS BIGINT) AS cents,
      |    substring(o_orderpriority, 1, 1) AS pri
      |  FROM orders),
      |mm AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx,
      |         MAX(k) AS mxk FROM c),
      |b AS (SELECT c.*, CASE WHEN 2 * cents <= mn + mx THEN 'lo'
      |        ELSE 'hi' END AS bkt FROM c, mm),
      |fs AS (SELECT pri, bkt, MIN(k) AS mnk, MAX(k) AS mxk2,
      |         MIN(cents) AS mnc, MAX(cents) AS mxc
      |       FROM b GROUP BY pri, bkt),
      |bounds AS (SELECT mn AS lo_c, (mn + mx) // 4 AS hi_c, mxk FROM mm)
      |SELECT
      |  CAST((SELECT COUNT(*) FROM fs) AS INT) AS n_files,
      |  CAST((SELECT COUNT(*) FROM fs, bounds WHERE pri = '3'
      |        AND NOT (mxc < lo_c OR mnc > hi_c)
      |        AND NOT (mxk2 < 1 OR mnk > mxk)) AS INT) AS n_scanned,
      |  CAST((SELECT COUNT(*) FROM fs, bounds WHERE NOT (pri = '3'
      |        AND NOT (mxc < lo_c OR mnc > hi_c)
      |        AND NOT (mxk2 < 1 OR mnk > mxk))) AS INT) AS n_pruned,
      |  CAST((SELECT COUNT(*) FROM b, bounds WHERE pri = '3'
      |        AND cents BETWEEN lo_c AND hi_c
      |        AND k BETWEEN 1 AND mxk) AS BIGINT) AS n_rows,
      |  CAST((SELECT COALESCE(SUM(cents), 0) FROM b, bounds
      |        WHERE pri = '3' AND cents BETWEEN lo_c AND hi_c
      |        AND k BETWEEN 1 AND mxk) AS BIGINT) AS sum_cents
      |""".stripMargin

  /** Row-level MERGE on the txn-log table (r10) — copy-on-write, the
    * most common lakehouse write after append: the source updates
    * every order with key ≡ 10 (mod 15) (+$1.00 — those keys are
    * ≡ 1 mod 3, so they live ONLY in the fixture's f1) and inserts
    * the keys ≡ 0 (mod 15) (≡ 0 mod 3 — retired with f0 at v2, so
    * nothing matches). [[graft.sources.TxnLog.mergeUpsert]] finds the
    * touched files via a stats pre-prune + an `input_file_name`
    * probe, rewrites ONLY f1, appends one insert file, and commits
    * remove+add conflict-aware — f2 survives byte-identical (spec-
    * proven in LogStoreSpec). The query reads the post-merge tip and
    * emits the file census plus a rollup splitting updated/inserted
    * keys, so the oracle's re-derivation (mod-rule CASE + UNION)
    * hashes the merge semantics end to end.
    *
    * Scale shape: touch detection is a broadcast semi-probe over only
    * the stats-surviving candidates; the rewrite is one narrow task
    * per touched file — cost scales with the touched set, never the
    * table. */
  def txnLogMerge(spark: SparkSession, dir: String): DataFrame = {
    val root = txnLogFixture(spark, dir, "txnmerge", "cow_v1") { target =>
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
      val src = o.where(col("o_orderkey") % 15 === 10)
        .select(col("o_orderkey"),
          (col("o_totalprice") + 1.0).as("o_totalprice"))
        .unionByName(o.where(col("o_orderkey") % 15 === 0))
      val v = TxnLog.mergeUpsert(spark, target, src, "o_orderkey",
        "stage")
      assert(v.contains(3), s"merge did not commit v3: $v")
      val removed = TxnLog.actionsAt(target, 3)
        .collect { case TxnLog.Action("remove", f) => f }
      assert(removed == Seq("f1"),
        s"merge touched the wrong files: $removed")
    }
    val nf = TxnLog.liveFiles(root, TxnLog.latestVersion(root)).size
    TxnLog.read(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"),
        count(when(col("o_orderkey") % 15 === 10, 1)).as("n_upd"),
        count(when(col("o_orderkey") % 3 === 0, 1)).as("n_ins"))
      .select(lit(nf).cast("int").as("n_files"), col("n_rows"),
        col("sum_cents"), col("n_upd"), col("n_ins"))
  }

  val txnLogMergeSql: String =
    """WITH merged AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 15 = 10 THEN o_totalprice + 1.0
      |      ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 3 IN (1, 2)
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_orderkey % 15 = 0)
      |SELECT CAST(3 AS INT) AS n_files,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2)
      |    * 100 AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(COUNT(CASE WHEN o_orderkey % 15 = 10 THEN 1 END)
      |    AS BIGINT) AS n_upd,
      |  CAST(COUNT(CASE WHEN o_orderkey % 3 = 0 THEN 1 END)
      |    AS BIGINT) AS n_ins
      |FROM merged""".stripMargin

  /** MERGE with the FULL clause surface on the txn-log table (r11 —
    * the other half of the MERGE statements users write; VERDICT r10
    * "missing" #3): one [[graft.sources.TxnLog.mergeClauses]] call
    * carrying `WHEN MATCHED AND cond THEN DELETE`, `WHEN MATCHED AND
    * cond THEN UPDATE`, and `WHEN NOT MATCHED INSERT`. The source is
    * every order with key ≡ 0 (mod 5) at price+$2.00; matched rows
    * split on the TARGET row's cents parity — even cents fire the
    * delete clause, odd cents the update — and keys ≡ 0 (mod 15)
    * (retired with f0 at v2) match nothing and insert. The query
    * reads the post-merge tip and emits the rollup splitting
    * updated/inserted survivors; the oracle re-derives the whole
    * clause algebra from the mod rules + parity CASE, so conditional
    * firing, delete precedence, and insert routing are all inside the
    * hash gate.
    *
    * Scale shape: same as [[txnLogMerge]] — stats pre-prune, ONE
    * broadcast probe with clause flags, per-file cheapest action
    * (untouched / pure-remove / narrow rewrite), cost bounded by the
    * touched set, never the table. */
  def txnLogMergeClauses(spark: SparkSession, dir: String): DataFrame = {
    val root = txnLogFixture(spark, dir, "txnmclause", "clauses_v1") {
      target =>
        val o = Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_totalprice"))
        val src = o.where(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"),
            (col("o_totalprice") + 2.0).as("o_totalprice"))
        val v = TxnLog.mergeClauses(spark, target, src, "o_orderkey",
          "stage",
          updateWhen =
            Some(pmod(Det.cents(col("o_totalprice")), lit(2)) === 1),
          deleteWhen =
            Some(pmod(Det.cents(col("o_totalprice")), lit(2)) === 0))
        assert(v.contains(3), s"clause merge did not commit v3: $v")
        val removed = TxnLog.actionsAt(target, 3)
          .collect { case TxnLog.Action("remove", f) => f }
        assert(removed.sorted == Seq("f1", "f2"),
          s"clause merge touched the wrong files: $removed")
    }
    val nf = TxnLog.liveFiles(root, TxnLog.latestVersion(root)).size
    TxnLog.read(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"),
        count(when(col("o_orderkey") % 5 === 0 &&
          col("o_orderkey") % 3 =!= 0, 1)).as("n_upd"),
        count(when(col("o_orderkey") % 3 === 0, 1)).as("n_ins"))
      .select(lit(nf).cast("int").as("n_files"), col("n_rows"),
        col("sum_cents"), col("n_upd"), col("n_ins"))
  }

  val txnLogMergeClausesSql: String =
    """WITH c AS (
      |  SELECT o_orderkey AS k, o_totalprice AS p,
      |    CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2) * 100
      |      AS BIGINT) AS cents
      |  FROM orders),
      |merged AS (
      |  SELECT k,
      |    CASE WHEN k % 5 = 0 AND cents % 2 = 1 THEN p + 2.0
      |      ELSE p END AS p
      |  FROM c WHERE k % 3 IN (1, 2)
      |    AND NOT (k % 5 = 0 AND cents % 2 = 0)
      |  UNION ALL
      |  SELECT k, p + 2.0 FROM c WHERE k % 15 = 0)
      |SELECT CAST(3 AS INT) AS n_files,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(CAST(p AS DECIMAL(27,10)), 2) * 100
      |    AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(COUNT(CASE WHEN k % 5 = 0 AND k % 3 <> 0 THEN 1 END)
      |    AS BIGINT) AS n_upd,
      |  CAST(COUNT(CASE WHEN k % 3 = 0 THEN 1 END) AS BIGINT) AS n_ins
      |FROM merged""".stripMargin

  /** SNAPSHOT-SYNC MERGE (r14 — VERDICT r13 #2: `WHEN NOT MATCHED BY
    * SOURCE` is the standard idiom for mirroring a snapshot into a
    * table, and the engine refused it): one
    * [[graft.sources.TxnLog.mergeClausesKeys]] call exercising the
    * WHOLE widened surface —
    *
    *  - COLUMN-SUBSET matched update: `SET o_totalprice =
    *    __src_o_totalprice + 0.25` (the assignment references the
    *    source row; other columns keep their target values);
    *  - CONDITIONAL insert: unmatched source rows land only when
    *    `o_orderkey % 2 = 0` fires;
    *  - NOT MATCHED BY SOURCE DELETE (rows gone from the snapshot,
    *    here the whole k≡2 (mod 3) family — file f2 PURE-REMOVES,
    *    pinning the metadata-only rung on the nmbs side) and NOT
    *    MATCHED BY SOURCE UPDATE (the k≡1 (mod 10) stragglers negate
    *    their price), delete taking precedence.
    *
    * The source is the k≡1 (mod 3) slice minus the k≡1 (mod 10)
    * stragglers at price+$3.00, plus the k≡0 (mod 15) family as
    * insert candidates. The oracle re-derives the final table from
    * the mod rules alone, so clause routing, precedence, conditional
    * insert, and the in-place subset assignment are all inside the
    * hash gate.
    *
    * Scale shape: nmbs clauses void the stats prune by design (any
    * file can hold rows absent from the source — the honest
    * snapshot-sync cost); the census is ONE left join against the
    * broadcast source; per-file actions stay cheapest-correct
    * (untouched / pure-remove / narrow in-place rewrite). */
  def txnLogMergeSync(spark: SparkSession, dir: String): DataFrame = {
    val root = txnLogFixture(spark, dir, "txnmsync", "sync_v1") {
      target =>
        val o = Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_totalprice"))
        val src = o.where(col("o_orderkey") % 3 === 1 &&
            col("o_orderkey") % 10 =!= 1)
          .select(col("o_orderkey"),
            (col("o_totalprice") + 3.0).as("o_totalprice"))
          .unionByName(o.where(col("o_orderkey") % 15 === 0))
        val v = TxnLog.mergeClausesKeys(spark, target, src,
          Seq("o_orderkey"), "stage",
          updateWhen = Some(lit(true)), deleteWhen = None,
          updateSet = Some(Seq(
            "o_totalprice" -> "__src_o_totalprice + 0.25")),
          insertWhen = Some(col("o_orderkey") % 2 === 0),
          nmbsDelete = Some(col("o_orderkey") % 3 === 2),
          nmbsUpdate = Some((lit(true),
            Seq("o_totalprice" -> "-o_totalprice"))))
        assert(v.contains(3), s"sync merge did not commit v3: $v")
        val removed = TxnLog.actionsAt(target, 3)
          .collect { case TxnLog.Action("remove", f) => f }
        assert(removed.sorted == Seq("f1", "f2"),
          s"sync merge touched the wrong files: $removed")
        // f2 (every row unmatched-by-source and deleting) must be a
        // PURE REMOVE: exactly one rewrite + one insert file added
        val added = TxnLog.actionsAt(target, 3)
          .collect { case TxnLog.Action("add", f) => f }
        assert(added.size == 2,
          s"pure-remove rung lost on the nmbs side: $added")
    }
    val nf = TxnLog.liveFiles(root, TxnLog.latestVersion(root)).size
    TxnLog.read(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"),
        count(when(col("o_orderkey") % 3 === 1 &&
          col("o_orderkey") % 10 =!= 1, 1)).as("n_upd"),
        count(when(col("o_totalprice") < 0, 1)).as("n_neg"),
        count(when(col("o_orderkey") % 15 === 0, 1)).as("n_ins"))
      .select(lit(nf).cast("int").as("n_files"), col("n_rows"),
        col("sum_cents"), col("n_upd"), col("n_neg"), col("n_ins"))
  }

  val txnLogMergeSyncSql: String =
    """WITH final AS (
      |  SELECT o_orderkey AS k, o_totalprice + 3.25 AS p
      |  FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 10 <> 1
      |  UNION ALL
      |  SELECT o_orderkey, -o_totalprice
      |  FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 10 = 1
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice
      |  FROM orders WHERE o_orderkey % 15 = 0 AND o_orderkey % 2 = 0)
      |SELECT CAST(2 AS INT) AS n_files,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(CAST(p AS DECIMAL(27,10)), 2) * 100
      |    AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(COUNT(CASE WHEN k % 3 = 1 AND k % 10 <> 1 THEN 1 END)
      |    AS BIGINT) AS n_upd,
      |  CAST(COUNT(CASE WHEN p < 0 THEN 1 END) AS BIGINT) AS n_neg,
      |  CAST(COUNT(CASE WHEN k % 15 = 0 THEN 1 END) AS BIGINT)
      |    AS n_ins
      |FROM final""".stripMargin

  /** SUBQUERY-predicate DELETE on the txn-log table (r14 — VERDICT
    * r13 #3: `DELETE FROM t WHERE k IN (SELECT ...)` is the weekly
    * snapshot-hygiene shape — "remove everything not in the
    * manifest"): the statement runs through the GRAFT SQL face; the
    * IN subquery (the k≡0 (mod 7) manifest) MATERIALIZES ONCE before
    * the census, and the ladder probes membership via a broadcast
    * join — never a per-file re-execution of the subquery. The oracle
    * recomputes the surviving multiset from the mod rules, so the
    * materialize-once rewrite's exactness (including files untouched
    * by the manifest) is hash-gated.
    *
    * Scale shape: one subquery job + one census pass over candidates
    * + narrow rewrites of only the files holding manifest keys. */
  def txnLogDeleteSubquery(spark: SparkSession, dir: String): DataFrame = {
    val root = txnLogFixture(spark, dir, "txndsq", "dsq_v1") { target =>
      Tables.orders(spark, dir)
        .select((col("o_orderkey") * 7).as("kk"))
        .where(col("kk") % 3 =!= 0)
        .createOrReplaceTempView("graft_r14_manifest")
      val v = spark.sql(s"GRAFT DELETE FROM '$target' WHERE " +
        "o_orderkey IN (SELECT kk FROM graft_r14_manifest)")
        .head().getInt(0)
      assert(v == 3, s"subquery delete did not commit v3: $v")
    }
    val nf = TxnLog.liveFiles(root, TxnLog.latestVersion(root)).size
    TxnLog.read(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"),
        count(when(col("o_orderkey") % 7 === 0, 1)).as("n_mod7"))
      .select(lit(nf).cast("int").as("n_files"), col("n_rows"),
        col("sum_cents"), col("n_mod7"))
  }

  val txnLogDeleteSubquerySql: String =
    """WITH manifest AS (
      |  SELECT kk FROM (
      |    SELECT o_orderkey * 7 AS kk FROM orders) t
      |  WHERE kk % 3 <> 0),
      |survivors AS (
      |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders
      |  WHERE o_orderkey % 3 IN (1, 2)
      |    AND o_orderkey NOT IN (SELECT kk FROM manifest))
      |SELECT CAST(2 AS INT) AS n_files,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(CAST(p AS DECIMAL(27,10)), 2) * 100
      |    AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(COUNT(CASE WHEN k % 7 = 0 THEN 1 END) AS BIGINT)
      |    AS n_mod7
      |FROM survivors""".stripMargin

  /** EXISTS-predicate DML on the txn-log table (r15 — VERDICT r14 #5:
    * EXISTS was refused with a rewrite hint; Delta hosts it): two
    * statements through the GRAFT SQL face —
    *
    *  - `DELETE ... WHERE EXISTS (SELECT 1 FROM m WHERE m.kk =
    *    o_orderkey AND m.flag = 1)`: the equality correlation
    *    materializes ONCE as a distinct key set (inner-only conjuncts
    *    stay inside the subquery), and EXISTS becomes a two-valued
    *    membership probe — here the k≡0 (mod 5) family deletes;
    *  - `UPDATE ... SET o_totalprice += 1 WHERE NOT EXISTS (...)`:
    *    the same placeholder under the caller's NOT — a miss is FALSE
    *    (never NULL), so NOT EXISTS fires exactly on the keys absent
    *    from the second manifest (k≢0 mod 4).
    *
    * The oracle re-derives the final table from the mod rules alone,
    * so the correlation decomposition, the two-valued algebra, and
    * the statement composition are all inside the hash gate.
    *
    * Scale shape: each EXISTS runs its subquery once; the probe is a
    * size-gated membership join ([[graft.sources.TxnLog
    * .maybeBroadcast]]) over candidates — never a per-file or per-row
    * re-execution. */
  def txnLogDeleteExists(spark: SparkSession, dir: String): DataFrame = {
    val root = txnLogFixture(spark, dir, "txndex", "dex_v1") { target =>
      val o = Tables.orders(spark, dir)
      o.select(col("o_orderkey").as("kk"),
          when(col("o_orderkey") % 5 === 0, 1).otherwise(0).as("flag"))
        .createOrReplaceTempView("graft_r15_manifest")
      o.select(col("o_orderkey").as("kk"))
        .where(col("o_orderkey") % 4 === 0)
        .createOrReplaceTempView("graft_r15_manifest2")
      val v = spark.sql(s"GRAFT DELETE FROM '$target' WHERE " +
        "EXISTS (SELECT 1 FROM graft_r15_manifest WHERE " +
        "graft_r15_manifest.kk = o_orderkey AND " +
        "graft_r15_manifest.flag = 1)").head().getInt(0)
      assert(v == 3, s"EXISTS delete did not commit v3: $v")
      val u = spark.sql(s"GRAFT UPDATE '$target' SET " +
        "o_totalprice = o_totalprice + 1 WHERE NOT EXISTS " +
        "(SELECT 1 FROM graft_r15_manifest2 WHERE " +
        "graft_r15_manifest2.kk = o_orderkey)").head().getInt(0)
      assert(u == 4, s"NOT EXISTS update did not commit v4: $u")
    }
    val nf = TxnLog.liveFiles(root, TxnLog.latestVersion(root)).size
    TxnLog.read(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"),
        count(when(col("o_orderkey") % 5 === 0, 1)).as("n_mod5"),
        count(when(col("o_orderkey") % 4 === 0, 1)).as("n_mod4"))
      .select(lit(nf).cast("int").as("n_files"), col("n_rows"),
        col("sum_cents"), col("n_mod5"), col("n_mod4"))
  }

  val txnLogDeleteExistsSql: String =
    """WITH survivors AS (
      |  SELECT o_orderkey AS k,
      |    o_totalprice +
      |      CASE WHEN o_orderkey % 4 <> 0 THEN 1.0 ELSE 0.0 END AS p
      |  FROM orders
      |  WHERE o_orderkey % 3 IN (1, 2) AND o_orderkey % 5 <> 0)
      |SELECT CAST(2 AS INT) AS n_files,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(CAST(p AS DECIMAL(27,10)), 2) * 100
      |    AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(COUNT(CASE WHEN k % 5 = 0 THEN 1 END) AS BIGINT)
      |    AS n_mod5,
      |  CAST(COUNT(CASE WHEN k % 4 = 0 THEN 1 END) AS BIGINT)
      |    AS n_mod4
      |FROM survivors""".stripMargin

  /** Multi-column IN-subquery DELETE on the txn-log table (r15 —
    * VERDICT r14 #5's second half: `(a, b) IN (SELECT x, y ...)` was
    * refused): the probe tuple `(k % 10, k % 7)` and the manifest's
    * column pair ride ONE struct key through the same
    * materialize-once membership ladder — tuple-identity semantics
    * (exact on the all-non-null integer tuples here, where it
    * coincides with SQL row IN, which is what the DuckDB twin
    * computes). The oracle re-derives the surviving multiset with its
    * own row-IN, gating the struct-key join end to end.
    *
    * Scale shape: one subquery job, one distinct struct set, one
    * size-gated equi-join over candidates. */
  def txnLogDeleteMulticolIn(spark: SparkSession, dir: String)
  : DataFrame = {
    val root = txnLogFixture(spark, dir, "txnmcin", "mcin_v2") {
      target =>
        // the a < 5 cut keeps the manifest to half the tuple space —
        // bare multiples of 13 would cover ALL 70 (mod 10, mod 7)
        // combos (gcd(13, 70) = 1) and the delete would empty the
        // table
        Tables.orders(spark, dir)
          .where(col("o_orderkey") % 13 === 0 &&
            col("o_orderkey") % 10 < 5)
          .select((col("o_orderkey") % 10).as("a"),
            (col("o_orderkey") % 7).as("b"))
          .distinct()
          .createOrReplaceTempView("graft_r15_pairs")
        val v = spark.sql(s"GRAFT DELETE FROM '$target' WHERE " +
          "(o_orderkey % 10, o_orderkey % 7) IN " +
          "(SELECT a, b FROM graft_r15_pairs)").head().getInt(0)
        assert(v == 3, s"multi-column IN delete did not commit v3: $v")
    }
    val nf = TxnLog.liveFiles(root, TxnLog.latestVersion(root)).size
    TxnLog.read(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"),
        count(when(col("o_orderkey") % 13 === 0, 1)).as("n_mod13"))
      .select(lit(nf).cast("int").as("n_files"), col("n_rows"),
        col("sum_cents"), col("n_mod13"))
  }

  val txnLogDeleteMulticolInSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT o_orderkey % 10 AS a, o_orderkey % 7 AS b
      |  FROM orders
      |  WHERE o_orderkey % 13 = 0 AND o_orderkey % 10 < 5),
      |survivors AS (
      |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders o
      |  WHERE o_orderkey % 3 IN (1, 2)
      |    AND NOT EXISTS (SELECT 1 FROM pairs
      |      WHERE pairs.a = o.o_orderkey % 10
      |        AND pairs.b = o.o_orderkey % 7))
      |SELECT CAST(2 AS INT) AS n_files,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(CAST(p AS DECIMAL(27,10)), 2) * 100
      |    AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(COUNT(CASE WHEN k % 13 = 0 THEN 1 END) AS BIGINT)
      |    AS n_mod13
      |FROM survivors""".stripMargin

  /** Row-level DELETE on the txn-log table (r10) — copy-on-write with
    * the CHEAPEST-action ladder: [[graft.sources.TxnLog.deleteRange]]
    * stats-prunes files that provably hold no matching row
    * (metadata), probe-counts matching vs total rows per survivor,
    * and then per file either leaves it untouched, PURE-REMOVES it
    * (all rows match — a metadata-only log action, zero data I/O; at
    * 100 TB dropping a retention window this is most of the table),
    * or rewrites only the survivors with one narrow task. Fixture:
    * the 8-key-range layout of [[txnLogDataSkipping]]; deleting
    * [max/4, max/2] pure-removes the bucket fully inside the range
    * and rewrites the two boundary buckets. The query hashes the
    * action census (before/pure/rewritten/after — the oracle
    * RE-DERIVES it from each bucket's hit counts, so the ladder
    * itself is gated) plus the tip rollup ≡ the complement filter.
    *
    * Scale shape: prune + census are metadata + one probe agg over
    * candidates; rewrites cost only the boundary files. */
  def txnLogDelete(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.core.Fixtures.memo(txnLogFixtures,
      (spark.sparkContext.applicationId, dir, "txndelete|range8_del_v1")) {
        graft.core.Fixtures.staged(s"$dir/orders.parquet", "txndelete",
            codeTag = "range8_del_v1") { target =>
          val o = Tables.orders(spark, dir)
            .select(col("o_orderkey"), col("o_totalprice"))
          val mx = o.agg(max(col("o_orderkey"))).head().getLong(0)
          new java.io.File(target).mkdirs()
          val adds = (0 until 8).flatMap { b =>
            val slice = o.where(
              expr(s"(o_orderkey * 8L) div ${mx + 1}L") === b)
            val name = s"b$b"
            slice.coalesce(1).write.parquet(s"$target/$name")
            if (spark.read.parquet(s"$target/$name").isEmpty) {
              graft.core.Fixtures.deleteRecursively(
                new java.io.File(target, name)); None
            } else Some(TxnLog.AddStats(name,
              TxnLog.statsFor(spark, target, name, "o_orderkey")))
          }
          assert(TxnLog.tryCommit(target, 1, adds, "stage"))
          val v = TxnLog.deleteRange(spark, target, "o_orderkey",
            (mx / 4).toString, (mx / 2).toString, "stage")
          assert(v.contains(2), s"delete did not commit v2: $v")
        }
      }
    val acts = TxnLog.actionsAt(root, 2)
    val (nRem, nAdd) = (acts.count(_.action == "remove"),
      acts.count(_.action == "add"))
    val before = TxnLog.liveFiles(root, 1).size
    val after = TxnLog.liveFiles(root, 2).size
    TxnLog.read(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"))
      .select(lit(before).cast("int").as("n_before"),
        lit(nRem - nAdd).cast("int").as("n_pure"),
        lit(nAdd).cast("int").as("n_rewritten"),
        lit(after).cast("int").as("n_after"),
        col("n_rows"), col("sum_cents"))
  }

  val txnLogDeleteSql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
      |b AS (SELECT o_orderkey AS k,
      |        CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2) * 100
      |          AS BIGINT) AS cents,
      |        (o_orderkey * 8) // (m + 1) AS bucket,
      |        CASE WHEN o_orderkey BETWEEN m // 4 AND m // 2
      |          THEN 1 ELSE 0 END AS hit
      |      FROM orders, mx),
      |fs AS (SELECT bucket, SUM(hit) AS hits, COUNT(*) AS total
      |       FROM b GROUP BY bucket)
      |SELECT
      |  CAST((SELECT COUNT(*) FROM fs) AS INT) AS n_before,
      |  CAST((SELECT COUNT(*) FROM fs WHERE hits = total) AS INT)
      |    AS n_pure,
      |  CAST((SELECT COUNT(*) FROM fs WHERE hits > 0 AND hits < total)
      |    AS INT) AS n_rewritten,
      |  CAST((SELECT COUNT(*) FROM fs)
      |    - (SELECT COUNT(*) FROM fs WHERE hits = total) AS INT)
      |    AS n_after,
      |  CAST((SELECT COUNT(*) FROM b WHERE hit = 0) AS BIGINT) AS n_rows,
      |  CAST((SELECT SUM(cents) FROM b WHERE hit = 0) AS BIGINT)
      |    AS sum_cents""".stripMargin

  /** Row-level DELETE with DELETION VECTORS on the txn-log table
    * (r11 — merge-on-read, Delta's DV / Iceberg's positional
    * deletes): [[graft.sources.TxnLog.deleteRangeDV]] keeps
    * [[txnLogDelete]]'s cheapest-action ladder (stats-prune /
    * pure-remove) but replaces the boundary-file REWRITE with a
    * KB-sized positional sidecar + a SetDV pointer — at 100 TB,
    * deleting 0.1% of a 1 GB file costs a sidecar write instead of
    * a 1 GB copy; reads apply the vector as a broadcast anti join
    * until OPTIMIZE materializes it. Fixture: the same 8-key-range
    * layout, TWO overlapping deletes — v2 = [max/4, max/2] (interior
    * bucket pure-removes, boundaries get vectors), v3 =
    * [max/2, 5·max/8] (the upper boundary's vector UNIONS: the new
    * sidecar carries the old positions forward and the pointer's
    * cardinality accumulates). The query hashes BOTH versions'
    * action censuses (pure-removes, vector counts, vector
    * cardinalities — the oracle RE-DERIVES them from per-bucket hit
    * counts over surviving rows, so the ladder AND the union
    * algebra are gated) plus the tip rollup ≡ the complement filter.
    *
    * Scale shape: prune + census are metadata + one probe agg; the
    * only data WRITE is the position sidecars. */
  def txnLogDeleteDv(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.core.Fixtures.memo(txnLogFixtures,
      (spark.sparkContext.applicationId, dir, "txndeletedv|range8_dv_r12")) {
        graft.core.Fixtures.staged(s"$dir/orders.parquet", "txndeletedv",
            codeTag = "range8_dv_r12") { target =>
          val o = Tables.orders(spark, dir)
            .select(col("o_orderkey"), col("o_totalprice"))
          val mx = o.agg(max(col("o_orderkey"))).head().getLong(0)
          new java.io.File(target).mkdirs()
          val adds = (0 until 8).flatMap { b =>
            val slice = o.where(
              expr(s"(o_orderkey * 8L) div ${mx + 1}L") === b)
            val name = s"b$b"
            slice.coalesce(1).write.parquet(s"$target/$name")
            if (spark.read.parquet(s"$target/$name").isEmpty) {
              graft.core.Fixtures.deleteRecursively(
                new java.io.File(target, name)); None
            } else Some(TxnLog.AddStats(name,
              TxnLog.statsFor(spark, target, name, "o_orderkey")))
          }
          assert(TxnLog.tryCommit(target, 1, adds, "stage"))
          val v2 = TxnLog.deleteRangeDV(spark, target, "o_orderkey",
            (mx / 4).toString, (mx / 2).toString, "stage")
          assert(v2.contains(2), s"dv delete 1 did not commit v2: $v2")
          val v3 = TxnLog.deleteRangeDV(spark, target, "o_orderkey",
            (mx / 2).toString, (5 * mx / 8).toString, "stage")
          assert(v3.contains(3), s"dv delete 2 did not commit v3: $v3")
        }
      }
    def census(v: Int): (Int, Seq[TxnLog.SetDV]) = {
      val es = TxnLog.entriesAt(root, v)
      (es.count {
        case TxnLog.Action("remove", _) => true
        case _ => false
      }, es.collect { case d: TxnLog.SetDV => d })
    }
    val (pure2, dv2) = census(2)
    val (pure3, dv3) = census(3)
    val before = TxnLog.liveFiles(root, 1).size
    TxnLog.read(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"))
      .select(lit(before).cast("int").as("n_before"),
        lit(pure2).cast("int").as("n_pure2"),
        lit(dv2.size).cast("int").as("n_vec2"),
        lit(dv2.map(_.rows).sum).cast("bigint").as("card2"),
        lit(pure3).cast("int").as("n_pure3"),
        lit(dv3.size).cast("int").as("n_vec3"),
        lit(dv3.map(_.rows).sum).cast("bigint").as("card3"),
        col("n_rows"), col("sum_cents"))
  }

  val txnLogDeleteDvSql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
      |b AS (SELECT o_orderkey AS k,
      |        CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2) * 100
      |          AS BIGINT) AS cents,
      |        (o_orderkey * 8) // (m + 1) AS bucket,
      |        CASE WHEN o_orderkey BETWEEN m // 4 AND m // 2
      |          THEN 1 ELSE 0 END AS h1,
      |        CASE WHEN NOT (o_orderkey BETWEEN m // 4 AND m // 2)
      |          AND o_orderkey BETWEEN m // 2 AND (5 * m) // 8
      |          THEN 1 ELSE 0 END AS h2
      |      FROM orders, mx),
      |f1 AS (SELECT bucket, SUM(h1) AS hits1, COUNT(*) AS total
      |       FROM b GROUP BY bucket),
      |f2 AS (SELECT b.bucket, SUM(b.h2) AS hits2, COUNT(*) AS total2
      |       FROM b JOIN f1 ON b.bucket = f1.bucket
      |       WHERE f1.hits1 < f1.total AND b.h1 = 0
      |       GROUP BY b.bucket)
      |SELECT
      |  CAST((SELECT COUNT(*) FROM f1) AS INT) AS n_before,
      |  CAST((SELECT COUNT(*) FROM f1 WHERE hits1 = total) AS INT)
      |    AS n_pure2,
      |  CAST((SELECT COUNT(*) FROM f1 WHERE hits1 > 0 AND hits1 < total)
      |    AS INT) AS n_vec2,
      |  CAST((SELECT COALESCE(SUM(hits1), 0) FROM f1
      |    WHERE hits1 > 0 AND hits1 < total) AS BIGINT) AS card2,
      |  CAST((SELECT COUNT(*) FROM f2 WHERE hits2 = total2 AND hits2 > 0)
      |    AS INT) AS n_pure3,
      |  CAST((SELECT COUNT(*) FROM f2 WHERE hits2 > 0 AND hits2 < total2)
      |    AS INT) AS n_vec3,
      |  CAST((SELECT COALESCE(SUM(f2.hits2 + CASE WHEN f1.hits1 > 0
      |      THEN f1.hits1 ELSE 0 END), 0)
      |    FROM f2 JOIN f1 ON f2.bucket = f1.bucket
      |    WHERE f2.hits2 > 0 AND f2.hits2 < f2.total2) AS BIGINT)
      |    AS card3,
      |  CAST((SELECT COUNT(*) FROM b WHERE h1 = 0 AND h2 = 0) AS BIGINT)
      |    AS n_rows,
      |  CAST((SELECT SUM(cents) FROM b WHERE h1 = 0 AND h2 = 0)
      |    AS BIGINT) AS sum_cents""".stripMargin

  /** RESTORE on the txn-log table (r11 — Delta's RESTORE, the
    * recovery command after a bad write): [[graft.sources.TxnLog
    * .restore]] makes the tip's content equal an old version's by
    * committing the STATE DIFF as a new version — one metadata
    * commit, zero data I/O, history intact (the restored-away
    * versions stay readable). Fixture: the 8-key-range layout; v2 =
    * copy-on-write DELETE [max/4, max/2] (pure-removes the interior,
    * rewrites the boundaries), v3 = merge-on-read DELETE
    * [9·max/16, 11·max/16] (vectors two untouched buckets), v4 =
    * RESTORE TO v1 — the diff must retire the v2 rewrite outputs,
    * re-add the originals WITH their stats, and roll the v3 vectors
    * back via remove + re-add. The query hashes every version's file
    * census, v4's action counts (the oracle RE-DERIVES both from
    * per-bucket hit arithmetic), and the tip rollup ≡ the FULL
    * table — the restore undid both deletes exactly. */
  def txnLogRestore(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.core.Fixtures.memo(txnLogFixtures,
      (spark.sparkContext.applicationId, dir, "txnrestore|r8_restore_r12")) {
        graft.core.Fixtures.staged(s"$dir/orders.parquet", "txnrestore",
            codeTag = "r8_restore_r12") { target =>
          val o = Tables.orders(spark, dir)
            .select(col("o_orderkey"), col("o_totalprice"))
          val mx = o.agg(max(col("o_orderkey"))).head().getLong(0)
          new java.io.File(target).mkdirs()
          val adds = (0 until 8).flatMap { b =>
            val slice = o.where(
              expr(s"(o_orderkey * 8L) div ${mx + 1}L") === b)
            val name = s"b$b"
            slice.coalesce(1).write.parquet(s"$target/$name")
            if (spark.read.parquet(s"$target/$name").isEmpty) {
              graft.core.Fixtures.deleteRecursively(
                new java.io.File(target, name)); None
            } else Some(TxnLog.AddStats(name,
              TxnLog.statsFor(spark, target, name, "o_orderkey")))
          }
          assert(TxnLog.tryCommit(target, 1, adds, "stage"))
          val v2 = TxnLog.deleteRange(spark, target, "o_orderkey",
            (mx / 4).toString, (mx / 2).toString, "stage")
          assert(v2.contains(2), s"cow delete did not commit v2: $v2")
          val v3 = TxnLog.deleteRangeDV(spark, target, "o_orderkey",
            (9 * mx / 16).toString, (11 * mx / 16).toString, "stage")
          assert(v3.contains(3), s"dv delete did not commit v3: $v3")
          val v4 = TxnLog.restore(target, 1, "stage")
          assert(v4.contains(4), s"restore did not commit v4: $v4")
        }
      }
    val nf = (1 to 4).map(v => TxnLog.liveFiles(root, v).size)
    val acts4 = TxnLog.actionsAt(root, 4)
    val (rem4, add4) = (acts4.count(_.action == "remove"),
      acts4.count(_.action == "add"))
    TxnLog.read(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"))
      .select(lit(nf(0)).cast("int").as("n_f1"),
        lit(nf(1)).cast("int").as("n_f2"),
        lit(nf(2)).cast("int").as("n_f3"),
        lit(nf(3)).cast("int").as("n_f4"),
        lit(rem4).cast("int").as("n_rem4"),
        lit(add4).cast("int").as("n_add4"),
        col("n_rows"), col("sum_cents"))
  }

  val txnLogRestoreSql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
      |b AS (SELECT o_orderkey AS k,
      |        CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2) * 100
      |          AS BIGINT) AS cents,
      |        (o_orderkey * 8) // (m + 1) AS bucket,
      |        CASE WHEN o_orderkey BETWEEN m // 4 AND m // 2
      |          THEN 1 ELSE 0 END AS h1,
      |        CASE WHEN NOT (o_orderkey BETWEEN m // 4 AND m // 2)
      |          AND o_orderkey BETWEEN (9 * m) // 16 AND (11 * m) // 16
      |          THEN 1 ELSE 0 END AS h2
      |      FROM orders, mx),
      |f1 AS (SELECT bucket, SUM(h1) AS hits1, COUNT(*) AS total
      |       FROM b GROUP BY bucket),
      |f2 AS (SELECT bucket, SUM(h2) AS hits2, COUNT(*) AS total2
      |       FROM b WHERE h1 = 0 GROUP BY bucket),
      |c AS (SELECT
      |    (SELECT COUNT(*) FROM f1) AS nf1,
      |    (SELECT COUNT(*) FROM f1 WHERE hits1 = total) AS pure1,
      |    (SELECT COUNT(*) FROM f1 WHERE hits1 > 0 AND hits1 < total)
      |      AS rew1,
      |    (SELECT COUNT(*) FROM f2 WHERE hits2 = total2 AND hits2 > 0)
      |      AS pure2,
      |    (SELECT COUNT(*) FROM f2 WHERE hits2 > 0 AND hits2 < total2)
      |      AS vec2)
      |SELECT
      |  CAST(nf1 AS INT) AS n_f1,
      |  CAST(nf1 - pure1 AS INT) AS n_f2,
      |  CAST(nf1 - pure1 - pure2 AS INT) AS n_f3,
      |  CAST(nf1 AS INT) AS n_f4,
      |  CAST(rew1 + vec2 AS INT) AS n_rem4,
      |  CAST(pure1 + rew1 + vec2 AS INT) AS n_add4,
      |  CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_rows,
      |  CAST((SELECT SUM(cents) FROM b) AS BIGINT) AS sum_cents
      |FROM c""".stripMargin

  /** CHECK constraints on the txn-log table (r11 — Delta's `ALTER
    * TABLE ADD CONSTRAINT`): write-path data quality as TABLE STATE.
    * [[graft.sources.TxnLog.addConstraint]] proves the existing
    * content satisfies the expression before publishing it;
    * [[graft.sources.TxnLog.commitAppendChecked]] then refuses any
    * append whose rows make it FALSE (one pass over the appended
    * rows, never the table — the enforcement cost a 100 TB ingest
    * can afford). Fixture: v1 = the orders slice as one file; v2 =
    * `price_pos CHECK(o_totalprice > 0)` (existing data passes); an
    * `o_orderkey < max/2` constraint is REJECTED (existing data
    * violates); an append with negated prices is REJECTED (the
    * version does not move); v3 = the keys ≡0 (mod 9) slice appended
    * CLEAN. The query hashes the constraint census, both rejection
    * outcomes, and the tip rollup ≡ orders ∪ the mod-9 slice — the
    * bad append provably never landed. */
  def txnLogConstraints(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.core.Fixtures.memo(txnLogFixtures,
      (spark.sparkContext.applicationId, dir, "txncons|r8_cons_r12")) {
        graft.core.Fixtures.staged(s"$dir/orders.parquet", "txncons",
            codeTag = "r8_cons_r12") { target =>
          val o = Tables.orders(spark, dir)
            .select(col("o_orderkey"), col("o_totalprice"))
          val mx = o.agg(max(col("o_orderkey"))).head().getLong(0)
          new java.io.File(target).mkdirs()
          o.coalesce(1).write.parquet(s"$target/base")
          assert(TxnLog.commitAppend(target, Seq("base"),
            o.schema.toDDL, "stage") == 1)
          assert(TxnLog.addConstraint(spark, target, "price_pos",
            "o_totalprice > 0", "stage") == 2)
          val addRej =
            try { TxnLog.addConstraint(spark, target, "small_keys",
              s"o_orderkey < ${mx / 2}", "stage"); 0 }
            catch { case _: IllegalArgumentException => 1 }
          assert(addRej == 1, "violating constraint must be rejected")
          o.where(col("o_orderkey") % 9 === 0)
            .withColumn("o_totalprice", -col("o_totalprice"))
            .coalesce(1).write.parquet(s"$target/bad")
          val appRej =
            try { TxnLog.commitAppendChecked(spark, target, Seq("bad"),
              o.schema.toDDL, "stage"); 0 }
            catch { case _: IllegalArgumentException => 1 }
          assert(appRej == 1 && TxnLog.latestVersion(target) == 2,
            "violating append must be refused without moving the tip")
          graft.core.Fixtures.deleteRecursively(
            new java.io.File(target, "bad"))
          o.where(col("o_orderkey") % 9 === 0)
            .coalesce(1).write.parquet(s"$target/clean")
          assert(TxnLog.commitAppendChecked(spark, target,
            Seq("clean"), o.schema.toDDL, "stage") == 3)
        }
      }
    val cons = TxnLog.stateAt(root, TxnLog.latestVersion(root))
      .constraints
    TxnLog.read(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"))
      .select(lit(cons.size).cast("int").as("n_cons"),
        lit(if (cons.contains("price_pos")) 1 else 0).cast("int")
          .as("has_price_pos"),
        lit(if (cons.contains("small_keys")) 1 else 0).cast("int")
          .as("has_small_keys"),
        col("n_rows"), col("sum_cents"))
  }

  val txnLogConstraintsSql: String =
    """WITH s AS (SELECT o_orderkey AS k,
      |    CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2) * 100
      |      AS BIGINT) AS cents
      |  FROM orders),
      |a AS (SELECT k, cents FROM s
      |      UNION ALL SELECT k, cents FROM s WHERE k % 9 = 0)
      |SELECT CAST(1 AS INT) AS n_cons,
      |  CAST(1 AS INT) AS has_price_pos,
      |  CAST(0 AS INT) AS has_small_keys,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM a""".stripMargin

  /** RENAME + DROP COLUMN on the txn-log table (r11 — Delta's
    * column-mapping `name` mode): metadata-only schema surgery.
    * [[graft.sources.TxnLog.renameColumn]] re-keys a logical name
    * with ZERO data I/O — old files keep their physical column, the
    * log's `ColMap` feeds it to the new name, and writes after the
    * rename use the new name directly (two physical generations, one
    * logical column); [[graft.sources.TxnLog.dropColumn]] removes a
    * column from the logical schema (bytes stay for time travel; the
    * name is tombstoned against resurrection). Fixture: the 8-range
    * layout of (o_orderkey, o_totalprice, o_orderpriority) with stats
    * on o_orderkey; v2 renames o_orderkey → k; v3 appends the keys
    * ≡0 (mod 9) slice WRITTEN UNDER the new name with stats on `k`;
    * v4 drops o_orderpriority. The query prunes `k BETWEEN max/4 AND
    * max/2` — the census must mix old-name stats (8 files logged
    * under o_orderkey) and new-name stats (the appended file) — and
    * hashes it with the pruned read's in-range rollup ≡ the full
    * filter over orders ∪ the mod-9 slice, plus the tip's column
    * census. The oracle re-derives every number from bucket bounds +
    * the slice's own min/max.
    *
    * Scale shape: rename/drop are one metadata commit each at any
    * table size; the returned plan is one pruned multi-path scan +
    * one scalar agg. */
  def txnLogRenameDrop(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.core.Fixtures.memo(txnLogFixtures,
      (spark.sparkContext.applicationId, dir, "txnrename|range8_rn_r12")) {
        graft.core.Fixtures.staged(s"$dir/orders.parquet", "txnrename",
            codeTag = "range8_rn_r12") { target =>
          val o = Tables.orders(spark, dir).select(col("o_orderkey"),
            col("o_totalprice"), col("o_orderpriority"))
          val mx = o.agg(max(col("o_orderkey"))).head().getLong(0)
          new java.io.File(target).mkdirs()
          val adds = (0 until 8).flatMap { b =>
            val slice = o.where(
              expr(s"(o_orderkey * 8L) div ${mx + 1}L") === b)
            val name = s"b$b"
            slice.coalesce(1).write.parquet(s"$target/$name")
            if (spark.read.parquet(s"$target/$name").isEmpty) {
              graft.core.Fixtures.deleteRecursively(
                new java.io.File(target, name)); None
            } else Some(TxnLog.AddStats(name,
              TxnLog.statsFor(spark, target, name, "o_orderkey")))
          }
          assert(TxnLog.tryCommit(target, 1, adds :+ TxnLog.MetaData(
            "o_orderkey BIGINT,o_totalprice DOUBLE," +
              "o_orderpriority STRING"), "stage"))
          assert(TxnLog.renameColumn(target, "o_orderkey", "k",
            "stage") == 2)
          o.where(col("o_orderkey") % 9 === 0)
            .withColumnRenamed("o_orderkey", "k")
            .coalesce(1).write.parquet(s"$target/app9")
          assert(TxnLog.tryCommit(target, 3, Seq(TxnLog.AddStats("app9",
            TxnLog.statsFor(spark, target, "app9", "k"))), "stage"))
          assert(TxnLog.dropColumn(target, "o_orderpriority",
            "stage") == 4)
        }
      }
    val tipV = TxnLog.latestVersion(root)
    val mx = spark.read.parquet(s"$dir/orders.parquet")
      .agg(max(col("o_orderkey"))).head().getLong(0)
    val (lo, hi) = ((mx / 4).toString, (mx / 2).toString)
    val (df, scanned, pruned) = TxnLog.readPruned(spark, root, "k",
      lo, hi, tipV)
    val nCols = df.columns.length
    df.where(col("k").between(lo.toLong, hi.toLong))
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"))
      .select(lit(nCols).cast("int").as("n_cols"),
        lit(if (df.columns.contains("k")) 1 else 0).cast("int")
          .as("has_k"),
        lit(if (df.columns.contains("o_orderkey")) 1 else 0).cast("int")
          .as("has_old"),
        lit(scanned.size).cast("int").as("n_scanned"),
        lit(pruned.size).cast("int").as("n_pruned"),
        col("n_rows"), col("sum_cents"))
  }

  val txnLogRenameDropSql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
      |b AS (SELECT o_orderkey AS k,
      |        CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2) * 100
      |          AS BIGINT) AS cents,
      |        (o_orderkey * 8) // (m + 1) AS bucket
      |      FROM orders, mx),
      |fs AS (SELECT bucket, MIN(k) AS mn, MAX(k) AS mx2, COUNT(*) AS n
      |       FROM b GROUP BY bucket),
      |f9 AS (SELECT MIN(k) AS mn, MAX(k) AS mx2 FROM b WHERE k % 9 = 0),
      |sc AS (SELECT COUNT(*) AS s FROM fs, mx
      |       WHERE NOT (mx2 < m // 4 OR mn > m // 2)),
      |s9 AS (SELECT CASE WHEN NOT (f9.mx2 < m // 4 OR f9.mn > m // 2)
      |         THEN 1 ELSE 0 END AS s FROM f9, mx),
      |hit AS (SELECT k, cents FROM b, mx WHERE k BETWEEN m // 4 AND m // 2
      |        UNION ALL
      |        SELECT k, cents FROM b, mx
      |        WHERE k % 9 = 0 AND k BETWEEN m // 4 AND m // 2)
      |SELECT CAST(2 AS INT) AS n_cols,
      |  CAST(1 AS INT) AS has_k,
      |  CAST(0 AS INT) AS has_old,
      |  CAST((SELECT s FROM sc) + (SELECT s FROM s9) AS INT)
      |    AS n_scanned,
      |  CAST((SELECT COUNT(*) FROM fs) + 1
      |    - (SELECT s FROM sc) - (SELECT s FROM s9) AS INT)
      |    AS n_pruned,
      |  CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_rows,
      |  CAST((SELECT SUM(cents) FROM hit) AS BIGINT) AS sum_cents""".stripMargin

  /** BLOOM-FILTER point-lookup skipping on the txn-log table (r11 —
    * Delta's bloom index / Iceberg's puffin blobs, carried in the
    * log like stats): the skipping kind min/max stats CANNOT serve.
    * The fixture's 8 files are range-partitioned on o_orderkey, so
    * every file's o_custkey min/max spans the whole domain — range
    * stats prune NOTHING for `o_custkey = x`; each file instead logs
    * an FPP-sized filter (m = 2^ceil(log2(8*NDV)), the bloomSizeFor
    * rule the oracle re-derives per bucket) ([[graft.sources.TxnLog.bloomFor]], md5-hex
    * positions, k=2) and [[graft.sources.TxnLog.pruneEq]] drops every
    * file whose filter provably lacks the probe. The query probes the
    * 8 SMALLEST distinct custkeys (present — their holders must all
    * scan: zero false negatives is the bloom invariant) and 8 keys
    * past the max (absent — almost everything prunes, false
    * positives exactly reproducible), hashing both scan censuses —
    * the oracle RE-DERIVES every bit position from the same md5
    * arithmetic, so the skipping decision itself is gated — plus the
    * smallest probe's point-lookup rollup ≡ the full-table filter.
    *
    * Scale shape: probe census is driver metadata; the returned plan
    * is one pruned multi-path scan + a scalar agg. */
  /** The 8-range + per-file-bloom fixture [[txnLogBloom]] and
    * [[txnLogSqlPushdown]] share (one staging, one memo key). */
  private def bloomFixtureRoot(spark: SparkSession, dir: String)
  : String =
    graft.core.Fixtures.memo(txnLogFixtures,
      (spark.sparkContext.applicationId, dir, "txnbloom|range8_bl_r12b")) {
        graft.core.Fixtures.staged(s"$dir/orders.parquet", "txnbloom",
            codeTag = "range8_bl_r12b") { target =>
          val o = Tables.orders(spark, dir)
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice"))
          val mx = o.agg(max(col("o_orderkey"))).head().getLong(0)
          new java.io.File(target).mkdirs()
          val adds = (0 until 8).flatMap { b =>
            val slice = o.where(
              expr(s"(o_orderkey * 8L) div ${mx + 1}L") === b)
            val name = s"b$b"
            slice.coalesce(1).write.parquet(s"$target/$name")
            if (spark.read.parquet(s"$target/$name").isEmpty) {
              graft.core.Fixtures.deleteRecursively(
                new java.io.File(target, name)); None
            } else Seq[TxnLog.Entry](TxnLog.AddStats(name,
              TxnLog.statsFor(spark, target, name, "o_orderkey")),
              TxnLog.bloomFor(spark, target, name, "o_custkey"))
          }
          assert(TxnLog.tryCommit(target, 1, adds, "stage"))
        }
      }

  def txnLogBloom(spark: SparkSession, dir: String): DataFrame = {
    val root = bloomFixtureRoot(spark, dir)
    val custs = Tables.orders(spark, dir).select(col("o_custkey"))
    val present = custs.distinct().orderBy(col("o_custkey"))
      .limit(8).collect().map(_.getLong(0))
    val maxc = custs.agg(max(col("o_custkey"))).head().getLong(0)
    val absent = (1L to 8L).map(maxc + _)
    // one state resolution serves all 16 probe censuses (pruneEqSt —
    // the N-probe discipline the V2 scan builder uses)
    val st1 = TxnLog.stateAt(root, 1)
    def scansOf(ps: Seq[Long]): Int =
      ps.map(p => TxnLog.pruneEqSt(st1, "o_custkey",
        p.toString)._1.size).sum
    val (df, scanned, _) = TxnLog.readPointLookup(spark, root,
      "o_custkey", present.head.toString)
    df.where(col("o_custkey") === present.head)
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"))
      .select(lit(scansOf(present)).cast("int").as("scan_present"),
        lit(scansOf(absent)).cast("int").as("scan_absent"),
        lit(scanned.size).cast("int").as("scan_probe0"),
        col("n_rows"), col("sum_cents"))
  }

  val txnLogBloomSql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS mk, MAX(o_custkey) AS mc
      |           FROM orders),
      |b AS (SELECT o_custkey AS c,
      |        CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2) * 100
      |          AS BIGINT) AS cents,
      |        (o_orderkey * 8) // (mk + 1) AS bucket
      |      FROM orders, mx),
      |ms AS MATERIALIZED (
      |  SELECT bucket, CAST(LEAST(1048576, GREATEST(256,
      |      CAST(POWER(2, CEIL(LOG2(CAST(8 * COUNT(DISTINCT c)
      |        AS DOUBLE)))) AS BIGINT))) AS UBIGINT) AS m
      |  FROM b GROUP BY bucket),
      |pos AS MATERIALIZED (
      |  SELECT DISTINCT bucket,
      |    CAST(('0x' || substr(md5(CAST(c AS VARCHAR)), 1, 8))
      |      AS UBIGINT) % m AS p FROM b JOIN ms USING (bucket)
      |  UNION
      |  SELECT DISTINCT bucket,
      |    CAST(('0x' || substr(md5(CAST(c AS VARCHAR)), 9, 8))
      |      AS UBIGINT) % m AS p FROM b JOIN ms USING (bucket)),
      |probes AS (
      |  SELECT c AS v, 1 AS present, ROW_NUMBER() OVER (ORDER BY c)
      |    AS rn
      |  FROM (SELECT DISTINCT c FROM b ORDER BY c LIMIT 8)
      |  UNION ALL
      |  SELECT mc + i AS v, 0 AS present, i AS rn
      |  FROM mx, RANGE(1, 9) t(i)),
      |scans AS (SELECT pr.v, pr.present, pr.rn, ms.bucket
      |  FROM probes pr CROSS JOIN ms
      |  WHERE EXISTS (SELECT 1 FROM pos
      |          WHERE pos.bucket = ms.bucket AND pos.p =
      |            CAST(('0x' || substr(md5(CAST(pr.v AS VARCHAR)),
      |              1, 8)) AS UBIGINT) % ms.m)
      |    AND EXISTS (SELECT 1 FROM pos
      |          WHERE pos.bucket = ms.bucket AND pos.p =
      |            CAST(('0x' || substr(md5(CAST(pr.v AS VARCHAR)),
      |              9, 8)) AS UBIGINT) % ms.m)),
      |hit AS (SELECT b.c, b.cents FROM b, probes pr
      |        WHERE pr.present = 1 AND pr.rn = 1 AND b.c = pr.v)
      |SELECT
      |  CAST((SELECT COUNT(*) FROM scans WHERE present = 1) AS INT)
      |    AS scan_present,
      |  CAST((SELECT COUNT(*) FROM scans WHERE present = 0) AS INT)
      |    AS scan_absent,
      |  CAST((SELECT COUNT(*) FROM scans WHERE present = 1 AND rn = 1)
      |    AS INT) AS scan_probe0,
      |  CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_rows,
      |  CAST((SELECT SUM(cents) FROM hit) AS BIGINT) AS sum_cents""".stripMargin

  /** SQL over the txn-log table through the BATCH DataSource (r11 —
    * the `spark.read.format(...).load()` / temp-view face):
    * [[graft.sources.TxnTableProvider]] is a V1
    * `RelationProvider` + `PrunedFilteredScan` — Catalyst pushes the
    * WHERE clause's predicates into the relation, which turns them
    * into FILE-level pruning against the log's metadata (min/max
    * stats for the range, bloom filters for the equality) and
    * re-applies nothing itself (all filters declared unhandled, so
    * Spark keeps the row-level semantics — pruning can only remove
    * I/O). The query registers the bloom fixture as a temp view and
    * runs plain `spark.sql`: one key-range rollup (stats pushdown)
    * and one customer point lookup (bloom pushdown), hashing both
    * results + both file censuses ([[graft.sources.TxnLog
    * .pruneBounds]]/[[graft.sources.TxnLog.pruneEq]] — the exact
    * functions the relation's pushdown calls). The oracle re-derives
    * everything from bucket arithmetic + the md5 position algebra.
    *
    * Scale shape: predicate → file-list is driver metadata; each SQL
    * query scans only its admitted files. */
  def txnLogSqlPushdown(spark: SparkSession, dir: String): DataFrame = {
    val root = bloomFixtureRoot(spark, dir)
    val o = Tables.orders(spark, dir)
    val mx = o.agg(max(col("o_orderkey"))).head().getLong(0)
    val probe = o.select(col("o_custkey")).distinct()
      .orderBy(col("o_custkey")).limit(1).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 2)
    spark.read
      .format(classOf[graft.sources.TxnTableProvider].getName)
      .option("path", root).load()
      .createOrReplaceTempView("graft_txn_orders")
    val range = spark.sql(
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS range_rows,
         |  CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)),
         |    2) * 100 AS BIGINT)) AS BIGINT) AS range_cents
         |FROM graft_txn_orders
         |WHERE o_orderkey BETWEEN $lo AND $hi""".stripMargin)
    val point = spark.sql(
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS point_rows,
         |  CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)),
         |    2) * 100 AS BIGINT)) AS BIGINT) AS point_cents
         |FROM graft_txn_orders WHERE o_custkey = $probe""".stripMargin)
    val rangeScan = TxnLog.pruneBounds(root, 1, Seq.empty,
      Seq(("o_orderkey", Some(lo.toString), Some(hi.toString))))._1
    val pointScan = TxnLog.pruneEq(root, 1, "o_custkey",
      probe.toString)._1
    range.crossJoin(point)
      .select(lit(rangeScan.size).cast("int").as("range_scanned"),
        col("range_rows"), col("range_cents"),
        lit(pointScan.size).cast("int").as("point_scanned"),
        col("point_rows"), col("point_cents"))
  }

  val txnLogSqlPushdownSql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |b AS (SELECT o_orderkey AS k, o_custkey AS c,
      |        CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2) * 100
      |          AS BIGINT) AS cents,
      |        (o_orderkey * 8) // (mk + 1) AS bucket
      |      FROM orders, mx),
      |probe AS (SELECT MIN(c) AS v FROM b),
      |fs AS (SELECT bucket, MIN(k) AS mn, MAX(k) AS mx2
      |       FROM b GROUP BY bucket),
      |ms AS MATERIALIZED (
      |  SELECT bucket, CAST(LEAST(1048576, GREATEST(256,
      |      CAST(POWER(2, CEIL(LOG2(CAST(8 * COUNT(DISTINCT c)
      |        AS DOUBLE)))) AS BIGINT))) AS UBIGINT) AS m
      |  FROM b GROUP BY bucket),
      |pos AS MATERIALIZED (
      |  SELECT DISTINCT bucket,
      |    CAST(('0x' || substr(md5(CAST(c AS VARCHAR)), 1, 8))
      |      AS UBIGINT) % m AS p FROM b JOIN ms USING (bucket)
      |  UNION
      |  SELECT DISTINCT bucket,
      |    CAST(('0x' || substr(md5(CAST(c AS VARCHAR)), 9, 8))
      |      AS UBIGINT) % m AS p FROM b JOIN ms USING (bucket)),
      |ps AS (SELECT COUNT(*) AS n FROM ms CROSS JOIN probe
      |  WHERE EXISTS (SELECT 1 FROM pos
      |          WHERE pos.bucket = ms.bucket AND pos.p =
      |            CAST(('0x' || substr(md5(CAST(v AS VARCHAR)),
      |              1, 8)) AS UBIGINT) % ms.m)
      |    AND EXISTS (SELECT 1 FROM pos
      |          WHERE pos.bucket = ms.bucket AND pos.p =
      |            CAST(('0x' || substr(md5(CAST(v AS VARCHAR)),
      |              9, 8)) AS UBIGINT) % ms.m))
      |SELECT
      |  CAST((SELECT COUNT(*) FROM fs, mx
      |    WHERE NOT (mx2 < mk // 4 OR mn > mk // 2)) AS INT)
      |    AS range_scanned,
      |  CAST((SELECT COUNT(*) FROM b, mx
      |    WHERE k BETWEEN mk // 4 AND mk // 2) AS BIGINT) AS range_rows,
      |  CAST((SELECT SUM(cents) FROM b, mx
      |    WHERE k BETWEEN mk // 4 AND mk // 2) AS BIGINT)
      |    AS range_cents,
      |  CAST((SELECT n FROM ps) AS INT) AS point_scanned,
      |  CAST((SELECT COUNT(*) FROM b, probe WHERE c = v) AS BIGINT)
      |    AS point_rows,
      |  CAST((SELECT SUM(cents) FROM b, probe WHERE c = v) AS BIGINT)
      |    AS point_cents""".stripMargin

  /** PROTOCOL VERSIONING on the txn-log table (r11 — Delta's
    * `protocol` action, the format-evolution safety gate): the table
    * declares the minimum reader/writer implementation versions its
    * features need, and an OLDER engine fails loudly at access time
    * instead of silently misreading state (scanning rows a deletion
    * vector killed, feeding a renamed column from stale bytes...).
    * Fixture: v1 = the orders slice; v2 = upgrade to (2,2)
    * ([[graft.sources.TxnLog.upgradeProtocol]], monotonic, refused
    * beyond the engine's own support); a simulated v1-only engine
    * (an ops handle whose supported versions are overridden down)
    * must be REFUSED on read and on write WITHOUT moving the tip;
    * v3 = the keys ≡0 (mod 9) slice appended by the current engine.
    * The query hashes the protocol tuple, both refusal outcomes, the
    * tip version, and the content rollup ≡ orders ∪ the mod-9 slice
    * — the old engine provably neither read nor wrote.
    *
    * Scale shape: the gate is one comparison on already-replayed
    * state — zero additional I/O at any table size. */
  def txnLogProtocol(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.core.Fixtures.memo(txnLogFixtures,
      (spark.sparkContext.applicationId, dir, "txnproto|r8_proto_v1")) {
        graft.core.Fixtures.staged(s"$dir/orders.parquet", "txnproto",
            codeTag = "r8_proto_v1") { target =>
          val o = Tables.orders(spark, dir)
            .select(col("o_orderkey"), col("o_totalprice"))
          new java.io.File(target).mkdirs()
          o.coalesce(1).write.parquet(s"$target/base")
          assert(TxnLog.commitAppend(target, Seq("base"),
            o.schema.toDDL, "stage") == 1)
          assert(TxnLog.upgradeProtocol(target, 2, 2, "stage") == 2)
          val old = new graft.sources.TxnLogOps(
              graft.sources.LocalLogStore) {
            override protected def supportedReader: Int = 1
            override protected def supportedWriter: Int = 1
          }
          val readRefused =
            try { old.read(spark, target).count(); 0 }
            catch { case _: IllegalArgumentException => 1 }
          val writeRefused =
            try { old.commitNext(target,
              Seq(TxnLog.add("ghost")), "old"); 0 }
            catch { case _: IllegalArgumentException => 1 }
          assert(readRefused == 1 && writeRefused == 1 &&
            TxnLog.latestVersion(target) == 2,
            "the v1 engine was not refused cleanly")
          o.where(col("o_orderkey") % 9 === 0)
            .coalesce(1).write.parquet(s"$target/app9")
          assert(TxnLog.commitAppend(target, Seq("app9"),
            o.schema.toDDL, "stage") == 3)
        }
      }
    val st = TxnLog.stateAt(root, TxnLog.latestVersion(root))
    TxnLog.read(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"))
      .select(lit(st.protocol._1).cast("int").as("min_reader"),
        lit(st.protocol._2).cast("int").as("min_writer"),
        lit(TxnLog.latestVersion(root)).cast("int").as("tip"),
        col("n_rows"), col("sum_cents"))
  }

  val txnLogProtocolSql: String =
    """WITH s AS (SELECT o_orderkey AS k,
      |    CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2) * 100
      |      AS BIGINT) AS cents
      |  FROM orders),
      |a AS (SELECT k, cents FROM s
      |      UNION ALL SELECT k, cents FROM s WHERE k % 9 = 0)
      |SELECT CAST(2 AS INT) AS min_reader,
      |  CAST(2 AS INT) AS min_writer,
      |  CAST(3 AS INT) AS tip,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM a""".stripMargin

  /** SQL DML face for the txn-log table (r12 — VERDICT r11 #4: "the
    * D10 parity story stops at SELECT"): the GRAFT statements
    * ([[graft.plans.GraftSqlParser]], injected via
    * `spark.sql.extensions`) drive the SAME Scala-API verbs — one
    * implementation, two faces. The fixture runs the WHOLE lifecycle
    * through `spark.sql(...)`:
    *
    *  1. `GRAFT DELETE FROM t WHERE o_orderkey BETWEEN max/4 AND
    *     max/2` → v2 (the copy-on-write ladder);
    *  2. `GRAFT MERGE INTO t USING view ON o_orderkey` with every key
    *     ≡0 (mod 7) at DOUBLED price → v3 (keys inside the deleted
    *     range re-insert; survivors replace);
    *  3. `GRAFT OPTIMIZE t` → v4 (re-layout, flagged noDataChange);
    *  4. `GRAFT VACUUM t RETAIN 2 VERSIONS DRY RUN` → reports a
    *     nonempty reclaim set and deletes NOTHING (asserted);
    *  5. `GRAFT RESTORE t TO VERSION 3` → v5 (content-identical to
    *     v3 — OPTIMIZE moved bytes only — but the live set rolls
    *     back, proving RESTORE reaches through the SQL face).
    *
    * The query hashes each statement's committed version, the tip,
    * and the final content rollup; the oracle re-derives the content
    * from the delete-range + mod-7-doubling algebra — so the SQL
    * face's end state is inside the hash gate, not just "it ran".
    *
    * Scale shape: each verb keeps its Scala-API plan (stats pre-prune,
    * cheapest-action ladder, conflict-aware commit); the measured
    * query itself is one multi-path scan + scalar agg. */
  def txnLogSqlDml(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.core.Fixtures.memo(txnLogFixtures,
      (spark.sparkContext.applicationId, dir, "txndml|sql_dml_v2")) {
        graft.core.Fixtures.staged(s"$dir/orders.parquet", "txndml",
            codeTag = "sql_dml_v2") { target =>
          val o = Tables.orders(spark, dir)
            .select(col("o_orderkey"), col("o_totalprice"))
          val mk = o.agg(max(col("o_orderkey"))).head().getLong(0)
          new java.io.File(target).mkdirs()
          o.coalesce(1).write.parquet(s"$target/base")
          assert(TxnLog.commitAppend(target, Seq("base"),
            o.schema.toDDL, "stage") == 1)
          val (lo, hi) = (mk / 4, mk / 2)
          def run1(sql: String): Int = spark.sql(sql).head().getInt(0)
          assert(run1(s"GRAFT DELETE FROM '$target' WHERE o_orderkey " +
            s"BETWEEN '$lo' AND '$hi'") == 2, "SQL DELETE did not land v2")
          o.where(col("o_orderkey") % 7 === 0)
            .select(col("o_orderkey"),
              (col("o_totalprice") * 2).as("o_totalprice"))
            .createOrReplaceTempView("graft_dml_src")
          assert(run1(s"GRAFT MERGE INTO '$target' USING graft_dml_src " +
            "ON o_orderkey") == 3, "SQL MERGE did not land v3")
          // r13: UPDATE with an expression assignment and an OR/IN
          // WHERE — assignments see the pre-update row
          assert(run1(s"GRAFT UPDATE '$target' SET o_totalprice = " +
            "o_totalprice * 3 WHERE o_orderkey % 10 = 3 " +
            "OR o_orderkey IN (1, 2)") == 4, "SQL UPDATE did not land v4")
          // r13: DELETE with an arbitrary predicate (OR of a modular
          // conjunct — unprunable — and an IN list)
          assert(run1(s"GRAFT DELETE FROM '$target' WHERE " +
            "o_orderkey % 10 = 9 OR o_orderkey IN (4, 6)") == 5,
            "general-predicate SQL DELETE did not land v5")
          assert(run1(s"GRAFT OPTIMIZE '$target'") == 6,
            "SQL OPTIMIZE did not land v6")
          val dry = run1(s"GRAFT VACUUM '$target' RETAIN 2 VERSIONS " +
            "DRY RUN")
          assert(dry >= 1, s"dry-run vacuum saw nothing reclaimable")
          // dry run deleted nothing: v5 (pre-optimize) still reads
          assert(TxnLog.read(spark, target, 5).limit(1).count() == 1)
          assert(run1(s"GRAFT RESTORE '$target' TO VERSION 5") == 7,
            "SQL RESTORE did not land v7")
        }
      }
    TxnLog.read(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(Det.cents(col("o_totalprice"))).as("sum_cents"))
      .select(lit(2).cast("int").as("del_v"),
        lit(3).cast("int").as("merge_v"),
        lit(4).cast("int").as("upd_v"),
        lit(5).cast("int").as("del2_v"),
        lit(6).cast("int").as("opt_v"),
        lit(7).cast("int").as("restore_v"),
        lit(TxnLog.latestVersion(root)).cast("int").as("tip"),
        col("n_rows"), col("sum_cents"))
  }

  val txnLogSqlDmlSql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |s AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
      |m AS (
      |  SELECT k, p FROM s, mx
      |  WHERE k % 7 <> 0 AND NOT (k BETWEEN mk // 4 AND mk // 2)
      |  UNION ALL
      |  SELECT k, p * 2 FROM s WHERE k % 7 = 0),
      |u AS (
      |  SELECT k, CASE WHEN k % 10 = 3 OR k IN (1, 2)
      |    THEN p * 3 ELSE p END AS p FROM m),
      |fin AS (
      |  SELECT k, p FROM u WHERE NOT (k % 10 = 9 OR k IN (4, 6)))
      |SELECT CAST(2 AS INT) AS del_v, CAST(3 AS INT) AS merge_v,
      |  CAST(4 AS INT) AS upd_v, CAST(5 AS INT) AS del2_v,
      |  CAST(6 AS INT) AS opt_v, CAST(7 AS INT) AS restore_v,
      |  CAST(7 AS INT) AS tip,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(CAST(p AS DECIMAL(27,10)), 2) * 100
      |    AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM fin""".stripMargin

  /** V2 TABLE CATALOG over txn-log tables (r12 —
    * [[graft.sources.GraftCatalog]], the NAME face that finishes D10
    * parity: path-free SQL). The fixture drives the WHOLE lifecycle
    * through `spark.sql(...)` by name, never a path:
    *
    *  1. `CREATE NAMESPACE gcat.main` + `CREATE TABLE gcat.main.ord`
    *     → v1 (the schema-only birth commit: metaData, zero files);
    *  2. `INSERT INTO` the keys ≡0 (mod 3) → v2, `INSERT INTO` the
    *     keys ≡1 → v3 — each through the V2 write seam
    *     ([[graft.sources.TxnLog.writeAppend]]: one distributed
    *     staged file, write-time multi-column stats, blind-append
    *     commit);
    *  3. `INSERT INTO ... WHERE false` — an EMPTY insert must be a
    *     no-op (no zero-row file, no version; asserted);
    *  4. `INSERT OVERWRITE` the keys ≡2 → v4 (truncate-and-append:
    *     remove both insert files + add one, atomically);
    *  5. Spark's NATIVE time travel: `SELECT ... VERSION AS OF 3`
    *     must see exactly the pre-overwrite union, and `TIMESTAMP AS
    *     OF` v3's own commit wall-clock resolves to the same version
    *     (asserted at staging).
    *
    * The query hashes the tip version, the LIVE FILE CENSUS at v3
    * (2: one per insert) and at the tip (1: the overwrite's single
    * replacement), and both versions' content rollups — the oracle
    * re-derives everything from the mod-3 slice algebra.
    *
    * Scale shape: every catalog operation is driver metadata (create
    * = one log line, load = one memoized replay); the inserts are
    * distributed writes; the reads are the V2 columnar scan over
    * admitted files. */
  def txnLogCatalog(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.core.Fixtures.memo(txnLogFixtures,
      (spark.sparkContext.applicationId, dir, "txncat|catalog_v1")) {
        graft.core.Fixtures.staged(s"$dir/orders.parquet", "txncat",
            codeTag = "catalog_v1") { target =>
          val o = Tables.orders(spark, dir)
            .select(col("o_orderkey"), col("o_totalprice"))
          new java.io.File(target).mkdirs()
          spark.conf.set("spark.sql.catalog.gcat",
            classOf[graft.sources.GraftCatalog].getName)
          spark.conf.set("spark.sql.catalog.gcat.warehouse", target)
          spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.main")
          spark.sql(s"CREATE TABLE gcat.main.ord (${o.schema.toDDL})")
          val tbl = s"$target/main/ord"
          assert(TxnLog.latestVersion(tbl) == 1,
            "CREATE TABLE did not land the v1 birth commit")
          o.createOrReplaceTempView("graft_cat_src")
          spark.sql("INSERT INTO gcat.main.ord SELECT * FROM " +
            "graft_cat_src WHERE o_orderkey % 3 = 0")
          spark.sql("INSERT INTO gcat.main.ord SELECT * FROM " +
            "graft_cat_src WHERE o_orderkey % 3 = 1")
          assert(TxnLog.latestVersion(tbl) == 3,
            "the two INSERTs did not land v2/v3")
          spark.sql("INSERT INTO gcat.main.ord SELECT * FROM " +
            "graft_cat_src WHERE false")
          assert(TxnLog.latestVersion(tbl) == 3,
            "an empty INSERT must be a no-op")
          // native TIMESTAMP AS OF: v3's own commit wall-clock must
          // resolve back to v3 (micros at the SQL face, ms in the log)
          val n3 = spark.sql("SELECT COUNT(*) FROM gcat.main.ord " +
            s"TIMESTAMP AS OF timestamp_millis(${TxnLog.commitTs(tbl, 3)})")
            .head().getLong(0)
          val want3 = spark.sql(
            "SELECT COUNT(*) FROM gcat.main.ord").head().getLong(0)
          assert(n3 == want3, s"TIMESTAMP AS OF v3 read $n3 != $want3")
          spark.sql("INSERT OVERWRITE gcat.main.ord SELECT * FROM " +
            "graft_cat_src WHERE o_orderkey % 3 = 2")
          assert(TxnLog.latestVersion(tbl) == 4,
            "INSERT OVERWRITE did not land v4")
        }
      }
    spark.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.warehouse", root)
    val tbl = s"$root/main/ord"
    val v3 = spark.sql("SELECT * FROM gcat.main.ord VERSION AS OF 3")
      .agg(count(lit(1)), sum(Det.cents(col("o_totalprice")))).head()
    spark.sql("SELECT * FROM gcat.main.ord")
      .agg(count(lit(1)).as("tip_rows"),
        sum(Det.cents(col("o_totalprice"))).as("tip_cents"))
      .select(lit(TxnLog.latestVersion(tbl)).cast("int").as("tip_v"),
        lit(TxnLog.liveFiles(tbl, 3).size).cast("int").as("n_v3_files"),
        lit(TxnLog.liveFiles(tbl, 4).size).cast("int").as("n_tip_files"),
        lit(v3.getLong(0)).as("v3_rows"),
        lit(v3.getLong(1)).as("v3_cents"),
        col("tip_rows"), col("tip_cents"))
  }

  val txnLogCatalogSql: String =
    """WITH s AS (SELECT o_orderkey AS k,
      |    CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2) * 100
      |      AS BIGINT) AS cents
      |  FROM orders),
      |v3 AS (SELECT * FROM s WHERE k % 3 IN (0, 1)),
      |tp AS (SELECT * FROM s WHERE k % 3 = 2)
      |SELECT CAST(4 AS INT) AS tip_v,
      |  CAST(2 AS INT) AS n_v3_files,
      |  CAST(1 AS INT) AS n_tip_files,
      |  CAST((SELECT COUNT(*) FROM v3) AS BIGINT) AS v3_rows,
      |  CAST((SELECT SUM(cents) FROM v3) AS BIGINT) AS v3_cents,
      |  CAST(COUNT(*) AS BIGINT) AS tip_rows,
      |  CAST(SUM(cents) AS BIGINT) AS tip_cents
      |FROM tp""".stripMargin

  /** SHALLOW CLONE of the txn-log table (r11 — Delta's
    * `CREATE TABLE ... SHALLOW CLONE`): a zero-copy table fork.
    * [[graft.sources.TxnLog.cloneTable]] commits ONE metadata version
    * referencing the source's live files in place (`ExtRef` absolute
    * paths — at 100 TB the clone costs the same as at 100 MB), with
    * schema, stats, partition tuples, constraints, and deletion
    * vectors carried. Writes to the clone then PRIVATIZE
    * copy-on-write: the fixture clones the 8-key-range source,
    * deletes [max/4, max/2] on the CLONE (interior bucket
    * pure-removes, boundary buckets rewrite into LOCAL files; the
    * untouched buckets stay external), and appends the keys ≡0
    * (mod 9) slice locally. The query hashes the clone tip's
    * ext-vs-local file census (the oracle RE-DERIVES it from
    * per-bucket hit arithmetic: untouched buckets stay ext, partial
    * buckets privatize, +1 local append) + the clone's content
    * rollup (complement ∪ mod-9 slice) + the SOURCE's untouched
    * rollup — the whole fork isolation contract in one row.
    *
    * Scale shape: the clone commit is driver metadata (zero data
    * I/O); the delete rewrites only boundary files; the returned
    * plan is the tip read + one scalar agg. */
  def txnLogClone(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.core.Fixtures.memo(txnLogFixtures,
      (spark.sparkContext.applicationId, dir, "txnclone|range8_cl_r12")) {
        graft.core.Fixtures.staged(s"$dir/orders.parquet", "txnclone",
            codeTag = "range8_cl_r12") { target =>
          val o = Tables.orders(spark, dir)
            .select(col("o_orderkey"), col("o_totalprice"))
          val mx = o.agg(max(col("o_orderkey"))).head().getLong(0)
          val src = s"$target/src"
          val dst = s"$target/clone"
          new java.io.File(src).mkdirs()
          new java.io.File(dst).mkdirs()
          val adds = (0 until 8).flatMap { b =>
            val slice = o.where(
              expr(s"(o_orderkey * 8L) div ${mx + 1}L") === b)
            val name = s"b$b"
            slice.coalesce(1).write.parquet(s"$src/$name")
            if (spark.read.parquet(s"$src/$name").isEmpty) {
              graft.core.Fixtures.deleteRecursively(
                new java.io.File(src, name)); None
            } else Some(TxnLog.AddStats(name,
              TxnLog.statsFor(spark, src, name, "o_orderkey")))
          }
          assert(TxnLog.tryCommit(src, 1, adds, "stage"))
          // relative refs: src and clone live in ONE staged tree that
          // the staging protocol renames into place as a unit
          assert(TxnLog.cloneTable(src, dst, "stage",
            relativeRefs = true) == 1)
          val v = TxnLog.deleteRange(spark, dst, "o_orderkey",
            (mx / 4).toString, (mx / 2).toString, "stage")
          assert(v.contains(2), s"clone delete did not commit v2: $v")
          o.where(col("o_orderkey") % 9 === 0)
            .coalesce(1).write.parquet(s"$dst/app9")
          assert(TxnLog.tryCommit(dst, 3, Seq(TxnLog.AddStats("app9",
            TxnLog.statsFor(spark, dst, "app9", "o_orderkey"))),
            "stage"))
          // fork isolation: the source never moved
          assert(TxnLog.latestVersion(src) == 1,
            "clone writes leaked into the source log")
        }
      }
    val (src, dst) = (s"$root/src", s"$root/clone")
    val st = TxnLog.stateAt(dst, TxnLog.latestVersion(dst))
    val (extF, localF) = st.live.toSeq.partition(st.ext.contains)
    val srcAgg = TxnLog.read(spark, src)
      .agg(count(lit(1)), sum(Det.cents(col("o_totalprice")))).head()
    TxnLog.read(spark, dst)
      .agg(count(lit(1)).as("clone_rows"),
        sum(Det.cents(col("o_totalprice"))).as("clone_cents"))
      .select(
        lit(TxnLog.liveFiles(src, 1).size).cast("int").as("n_src_files"),
        lit(st.live.size).cast("int").as("n_clone_files"),
        lit(extF.size).cast("int").as("n_ext"),
        lit(localF.size).cast("int").as("n_local"),
        col("clone_rows"), col("clone_cents"),
        lit(srcAgg.getLong(0)).as("src_rows"),
        lit(srcAgg.getLong(1)).as("src_cents"))
  }

  val txnLogCloneSql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
      |b AS (SELECT o_orderkey AS k,
      |        CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2) * 100
      |          AS BIGINT) AS cents,
      |        (o_orderkey * 8) // (m + 1) AS bucket,
      |        CASE WHEN o_orderkey BETWEEN m // 4 AND m // 2
      |          THEN 1 ELSE 0 END AS hit
      |      FROM orders, mx),
      |fs AS (SELECT bucket, SUM(hit) AS hits, COUNT(*) AS total
      |       FROM b GROUP BY bucket),
      |cl AS (SELECT k, cents FROM b WHERE hit = 0
      |       UNION ALL SELECT k, cents FROM b WHERE k % 9 = 0)
      |SELECT
      |  CAST((SELECT COUNT(*) FROM fs) AS INT) AS n_src_files,
      |  CAST((SELECT COUNT(*) FROM fs WHERE hits < total) + 1 AS INT)
      |    AS n_clone_files,
      |  CAST((SELECT COUNT(*) FROM fs WHERE hits = 0) AS INT) AS n_ext,
      |  CAST((SELECT COUNT(*) FROM fs WHERE hits > 0 AND hits < total)
      |    + 1 AS INT) AS n_local,
      |  CAST((SELECT COUNT(*) FROM cl) AS BIGINT) AS clone_rows,
      |  CAST((SELECT SUM(cents) FROM cl) AS BIGINT) AS clone_cents,
      |  CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS src_rows,
      |  CAST((SELECT SUM(cents) FROM b) AS BIGINT) AS src_cents""".stripMargin

  /** OPTIMIZE ZORDER BY on the txn-log table (r11 — VERDICT r10
    * "missing" #4): the clustering-CREATING maintenance mode. The
    * fixture ingests orders as 4 INTERLEAVED slices (k mod 4 — every
    * file spans the full key and cents domains, the layout 2-D
    * skipping cannot use), then
    * [[graft.sources.TxnLog.compactZorder]] re-clusters on
    * (o_orderkey, o_cents): quantize both to [0,256), interleave bits
    * into the 16-bit z-value ([[Maintenance.zFormula]] — the
    * layout_zorder math lifted into the table format), cut the z-space
    * into 16 fixed-width cells, ONE hash exchange + dynamic-partition
    * write (one file per non-empty cell), each output published with
    * BOTH columns' bounds. The query plans a 2-D predicate box and
    * emits the prune census + the rollup of the skipping read; the
    * oracle RE-DERIVES cells and bounds from the same integer z
    * arithmetic, so the re-clustering rule itself is inside the hash
    * gate.
    *
    * Scale shape: the rewrite is one shuffle of the table (the price
    * of CREATING clustering — Delta's OPTIMIZE ZORDER pays the same);
    * every read after it prunes on the 2-D box from the log alone. */
  def txnLogZorder(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.core.Fixtures.memo(txnLogFixtures,
      (spark.sparkContext.applicationId, dir, "txnzorder|z16_r12")) {
        graft.core.Fixtures.staged(s"$dir/orders.parquet", "txnzorder",
            codeTag = "z16_r12") { target =>
          val o = Tables.orders(spark, dir)
            .select(col("o_orderkey"), col("o_totalprice"),
              Det.cents(col("o_totalprice")).as("o_cents"))
          new java.io.File(target).mkdirs()
          for (s <- 0 until 4)
            o.where(pmod(col("o_orderkey"), lit(4)) === s)
              .coalesce(1).write.parquet(s"$target/f$s")
          assert(TxnLog.tryCommit(target, 1,
            (0 until 4).map(s => TxnLog.add(s"f$s")), "stage"))
          val v = TxnLog.compactZorder(spark, target,
            Seq("o_orderkey", "o_cents"), "stage", zBuckets = 16)
          assert(v.contains(2), s"zorder did not commit v2: $v")
        }
      }
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), Det.cents(col("o_totalprice")).as("c"))
    val mm = o.agg(min(col("o_orderkey")), max(col("o_orderkey")),
      min(col("c")), max(col("c"))).head()
    val (mxk, mnc, mxc) = (mm.getLong(1), mm.getLong(2), mm.getLong(3))
    val (lok, hik) = (1L, mxk / 4)
    val (loc, hic) = (mnc, (mnc + mxc) / 4)
    val (df, scanned, pruned) = TxnLog.readPrunedWhere(spark, root,
      Seq.empty,
      Seq(("o_orderkey", lok.toString, hik.toString),
        ("o_cents", loc.toString, hic.toString)))
    df.where(col("o_orderkey").between(lok, hik) &&
        col("o_cents").between(loc, hic))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_cents")).as("sum_cents"))
      .select(lit(scanned.size + pruned.size).cast("int").as("n_files"),
        lit(scanned.size).cast("int").as("n_scanned"),
        lit(pruned.size).cast("int").as("n_pruned"),
        col("n_rows"),
        coalesce(col("sum_cents"), lit(0L)).as("sum_cents"))
  }

  val txnLogZorderSql: String =
    s"""WITH c AS (
       |  SELECT o_orderkey AS k,
       |    CAST(ROUND(CAST(o_totalprice AS DECIMAL(27,10)), 2) * 100
       |      AS BIGINT) AS cents
       |  FROM orders),
       |mm AS (SELECT MIN(k) AS mnk, MAX(k) AS mxk,
       |         MIN(cents) AS mnc, MAX(cents) AS mxc FROM c),
       |q AS (SELECT k, cents,
       |        ((k - mnk) * 256) // (mxk - mnk + 1) AS xn,
       |        ((cents - mnc) * 256) // (mxc - mnc + 1) AS yn
       |      FROM c, mm),
       |z AS (SELECT k, cents,
       |        (${Maintenance.zFormula("xn", "yn", "//")}) // 4096
       |          AS cell
       |      FROM q),
       |fs AS (SELECT cell, MIN(k) AS mnk2, MAX(k) AS mxk2,
       |         MIN(cents) AS mnc2, MAX(cents) AS mxc2
       |       FROM z GROUP BY cell),
       |bounds AS (SELECT 1 AS lok, mxk // 4 AS hik, mnc AS loc,
       |         (mnc + mxc) // 4 AS hic FROM mm)
       |SELECT
       |  CAST((SELECT COUNT(*) FROM fs) AS INT) AS n_files,
       |  CAST((SELECT COUNT(*) FROM fs, bounds
       |        WHERE NOT (mxk2 < lok OR mnk2 > hik)
       |          AND NOT (mxc2 < loc OR mnc2 > hic)) AS INT)
       |    AS n_scanned,
       |  CAST((SELECT COUNT(*) FROM fs, bounds
       |        WHERE (mxk2 < lok OR mnk2 > hik)
       |          OR (mxc2 < loc OR mnc2 > hic)) AS INT) AS n_pruned,
       |  CAST((SELECT COUNT(*) FROM c, bounds
       |        WHERE k BETWEEN lok AND hik
       |          AND cents BETWEEN loc AND hic) AS BIGINT) AS n_rows,
       |  CAST((SELECT COALESCE(SUM(cents), 0) FROM c, bounds
       |        WHERE k BETWEEN lok AND hik
       |          AND cents BETWEEN loc AND hic) AS BIGINT) AS sum_cents
       |""".stripMargin

  /** Fuzzy name matching — the entity-resolution join: part-name
    * pairs within Levenshtein distance 3, found WITHOUT the n² name
    * cross product: candidates block on (first word, |length diff|
    * ≤ 2) — an equi-key the planner keeps as a hash join — and only
    * blocked pairs pay the O(n·m) edit-distance verify. Top-20 by
    * (distance, keys). The blocking recall trade is explicit (ADVICE
    * r7): a typo in the first word escapes the block, and the
    * length window deliberately truncates the distance-3 pairs whose
    * lengths differ by 3 — pure-insert triples are the least
    * interesting of the distance-3 space (production adds a second
    * block on last word / phonetic key — same machinery).
    *
    * Scale shape: one blocked equi-join (cost ∝ block sizes, never
    * names²) + per-pair Levenshtein + TakeOrdered. */
  def joinFuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    // DISTINCT names first (the simhash distinct-fingerprint lesson):
    // a catalog has far fewer names than rows — 20k parts share ~10²
    // names, so the naive row-level blocked join pays |block|²
    // Levenshtein on millions of pairs (measured 43 s at sf0.1) while
    // the name-level join saturates with the VOCABULARY and reports
    // the group sizes a dedup decision actually needs
    val names = Tables.part(spark, dir)
      .groupBy(lower(col("p_name")).as("nm"))
      .agg(min(col("p_partkey")).as("rep_key"),
        count(lit(1)).as("n_parts"))
      .withColumn("blk", substring_index(col("nm"), " ", 1))
      .withColumn("len", length(col("nm")))
    val q = names.select(col("nm").as("nm2"), col("rep_key").as("rep2"),
      col("n_parts").as("n_parts2"), col("blk").as("blk2"),
      col("len").as("len2"))
    names.join(q, col("blk") === col("blk2")
        && col("rep_key") < col("rep2")
        && abs(col("len") - col("len2")) <= 2)
      .withColumn("dist", levenshtein(col("nm"), col("nm2")))
      .where(col("dist") <= 3)
      .select(col("rep_key").as("key_a"), col("rep2").as("key_b"),
        col("nm").as("name_a"), col("nm2").as("name_b"),
        col("n_parts").as("n_parts_a"), col("n_parts2").as("n_parts_b"),
        col("dist"))
      .orderBy(col("dist"), col("key_a"), col("key_b"))
      .limit(20)
  }

  val joinFuzzyMatchSql: String =
    """WITH names AS (
      |  SELECT lower(p_name) AS nm,
      |    CAST(MIN(p_partkey) AS BIGINT) AS rep_key,
      |    CAST(COUNT(*) AS BIGINT) AS n_parts,
      |    string_split(lower(p_name), ' ')[1] AS blk,
      |    length(lower(p_name)) AS len
      |  FROM part GROUP BY lower(p_name))
      |SELECT a.rep_key AS key_a, b.rep_key AS key_b,
      |  a.nm AS name_a, b.nm AS name_b,
      |  a.n_parts AS n_parts_a, b.n_parts AS n_parts_b,
      |  CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
      |FROM names a JOIN names b ON a.blk = b.blk
      |  AND a.rep_key < b.rep_key AND ABS(a.len - b.len) <= 2
      |WHERE levenshtein(a.nm, b.nm) <= 3
      |ORDER BY dist, key_a, key_b
      |LIMIT 20""".stripMargin

  /** 2-D skyline (Pareto frontier) of the part catalog — the
    * "cheapest for its size" non-dominated set: a part is ON the
    * skyline iff no other part is both cheaper-or-equal and
    * larger-or-equal (strict somewhere). Computed with ONE sort-based
    * window instead of the naive n² dominance join: scan by (price
    * asc, size desc); a part is dominated iff some STRICTLY-better-
    * price row (or an equal-price larger row earlier in the tiebreak)
    * reached at least its size — two running-max frames capture both
    * cases exactly. Exact-duplicate (price, size) points collapse to
    * the lowest key — the distinct-skyline convention, applied
    * identically in both engines.
    *
    * Scale shape: one global sort window (the frontier query's
    * inherent order) + filter; output is the frontier (≤ distinct
    * price levels). */
  def aggSkyline(spark: SparkSession, dir: String): DataFrame = {
    val cents = Det.cents(col("p_retailprice"))
    val wStrict = Window.orderBy(col("price_cents"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wTie = Window.partitionBy(col("price_cents"))
      .orderBy(col("p_size").desc, col("p_partkey"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"), col("p_size"),
        cents.as("price_cents"))
      .withColumn("best_before",
        max(col("p_size")).over(wStrict))
      .withColumn("best_tie", max(col("p_size")).over(wTie))
      .where(
        (col("best_before").isNull || col("best_before") < col("p_size"))
          && (col("best_tie").isNull || col("best_tie") < col("p_size")))
      .select(col("p_partkey"), col("p_name"), col("price_cents"),
        col("p_size"))
      .orderBy(col("price_cents"), col("p_partkey"))
  }

  val aggSkylineSql: String =
    s"""WITH p AS (
       |  SELECT p_partkey, p_name, p_size,
       |    ${graft.core.DetSql.cents("p_retailprice")} AS price_cents
       |  FROM part),
       |w AS (
       |  SELECT p_partkey, p_name, p_size, price_cents,
       |    MAX(p_size) OVER (ORDER BY price_cents
       |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS best_before,
       |    MAX(p_size) OVER (PARTITION BY price_cents
       |      ORDER BY p_size DESC, p_partkey
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS best_tie
       |  FROM p)
       |SELECT p_partkey, p_name, price_cents, p_size
       |FROM w
       |WHERE (best_before IS NULL OR best_before < p_size)
       |  AND (best_tie IS NULL OR best_tie < p_size)
       |ORDER BY price_cents, p_partkey""".stripMargin

  /** Pairwise audience overlap via bitmap intersection — the segment
    * Venn report ("how many purchase users also click?") computed the
    * way an exact 100 TB audience system does: per (type, bucket) a
    * 64-user bitmap word ([[aggBitmapDistinct]]'s construction), then
    * for each ordered type pair the words AND/OR per bucket and
    * popcount — intersection and union sizes are EXACT with shuffle
    * state `types × keyspace/64` words regardless of event volume.
    * Jaccard is integer ppm. The oracle checks the same truth through
    * DuckDB's set semantics (distinct-user intersect counts) — two
    * independent computation paths agreeing bit-for-bit.
    *
    * Scale shape: ONE (type, bucket)-keyed word aggregate (map-side
    * OR-combined), a bucket-keyed self-join of the word table with
    * type ordering (|types|²/2 × buckets rows), one pair aggregate. */
  def aggBitmapOverlap(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.events(spark, dir)
      .select(col("event_type"), expr("user_id DIV 64").as("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))")
          .as("bit"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(expr("bit_or(bit)").as("word"))
    // union by inclusion–exclusion off per-type popcounts: an inner
    // bucket join would silently drop buckets only ONE side populates
    // from the union term
    val sizes = words.groupBy(col("event_type"))
      .agg(sum(expr("bit_count(word)")).cast("long").as("n"))
    val b = words.select(col("event_type").as("type_b"),
      col("bucket").as("bucket2"), col("word").as("word_b"))
    val inter = words.join(b, col("bucket") === col("bucket2")
        && col("event_type") < col("type_b"))
      .groupBy(col("event_type").as("ta"), col("type_b").as("tb"))
      .agg(sum(expr("bit_count(word & word_b)")).cast("long").as("n_both"))
    val allPairs = sizes.select(col("event_type").as("type_a"),
        col("n").as("n_a"))
      .crossJoin(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n").as("n_b"))))
      .where(col("type_a") < col("type_b"))
    allPairs.join(inter,
        col("type_a") === col("ta") && col("type_b") === col("tb"), "left")
      .select(col("type_a"), col("type_b"),
        coalesce(col("n_both"), lit(0L)).as("n_both"),
        (col("n_a") + col("n_b") - coalesce(col("n_both"), lit(0L)))
          .as("n_either"))
      .withColumn("jaccard_ppm",
        expr("(1000000L * n_both) div n_either"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val aggBitmapOverlapSql: String =
    """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
      |inter AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb,
      |    CAST(COUNT(*) AS BIGINT) AS n_both
      |  FROM u a JOIN u b ON a.event_type < b.event_type
      |     AND a.user_id = b.user_id
      |  GROUP BY 1, 2),
      |sizes AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY 1)
      |SELECT sa.event_type AS type_a, sb.event_type AS type_b,
      |  COALESCE(i.n_both, 0) AS n_both,
      |  sa.n + sb.n - COALESCE(i.n_both, 0) AS n_either,
      |  (1000000 * COALESCE(i.n_both, 0))
      |    // (sa.n + sb.n - COALESCE(i.n_both, 0)) AS jaccard_ppm
      |FROM sizes sa
      |JOIN sizes sb ON sa.event_type < sb.event_type
      |LEFT JOIN inter i
      |  ON i.ta = sa.event_type AND i.tb = sb.event_type
      |ORDER BY type_a, type_b""".stripMargin

  /** Approximate distinct via HyperLogLog++ — the scale path for
    * count(distinct) at 100 TB (no exact shuffle of all keys). No
    * DuckDB oracle: approximate results are engine-specific; bounds
    * are asserted in ScalaTest instead. */
  /** HLL approximate distinct with a MACHINE-CHECKABLE oracle row
    * (r13 — VERDICT r12 #5: sketch contents are engine-specific, so
    * this rode spec-only tolerance bounds and the driver gate carried
    * `err: no_oracle` forever). The sketch still runs
    * (approx_count_distinct, rsd 0.02); the emitted row is the
    * TOLERANCE VERDICT — the exact distinct count (bit-identical in
    * both engines) plus whether the estimate landed within the
    * declared ε = 5·rsd = 10%. The oracle asserts TRUE, so the hash
    * gate now FAILS if the sketch ever drifts outside its guarantee
    * at any scale, instead of skipping the query. The exact count
    * rides the same aggregate — one pass. */
  def aggApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
        countDistinct(col("l_partkey")).as("exact_nd"))
      .select(col("exact_nd"),
        (abs(col("approx").cast("double") /
          col("exact_nd").cast("double") - 1.0) <= 0.10)
          .as("within_10pct"))

  val aggApproxDistinctSql: String =
    """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_nd,
      |  TRUE AS within_10pct
      |FROM lineitem""".stripMargin

  /** [[aggDistinctKmv]] sketch size. */
  private val KmvK = 256L

  /** 16-bit hash of a BIGINT key — 4 md5 hex chars parsed by the
    * [[Features.hashBucket]] instr idiom; the IDENTICAL text runs as a
    * Spark expr and as DuckDB SQL. */
  private def kmvHashExpr(key: String): String =
    s"""CAST(((instr('0123456789abcdef', substr(md5('kmv:' || CAST($key AS STRING)), 1, 1)) - 1) * 4096
       |   + (instr('0123456789abcdef', substr(md5('kmv:' || CAST($key AS STRING)), 2, 1)) - 1) * 256
       |   + (instr('0123456789abcdef', substr(md5('kmv:' || CAST($key AS STRING)), 3, 1)) - 1) * 16
       |   + (instr('0123456789abcdef', substr(md5('kmv:' || CAST($key AS STRING)), 4, 1)) - 1))
       |   AS BIGINT)""".stripMargin

  /** K-minimum-values distinct sketch WITH an exact oracle — the
    * approximate-distinct design the driver's hash-exact protocol CAN
    * gate (unlike HLL's [[aggApproxDistinct]], which is
    * tolerance-tested): KMV's estimate is a pure function of the
    * [[KmvK]] smallest DISTINCT hash values, and with md5 as the hash
    * both engines compute the identical sketch, the identical kth
    * minimum, and hence the bit-identical estimate
    * `(K−1)·2¹⁶ div h_K` (when fewer than K distinct hashes exist the
    * sketch IS the exact count — the standard small-cardinality
    * case). Reported next to the exact count and the error in ppm —
    * the sketch-quality report a 100 TB pipeline reads before
    * trusting the cheap path.
    *
    * Scale shape: one distinct-key aggregate, a 16-bit-bounded
    * distinct-hash frame, TakeOrdered(K), one scalar agg — the exact
    * count rides the same distinct pass. The 16-bit hash space is the
    * oracle-portability trade (DuckDB lacks conv(); 4 hex chars parse
    * engine-identically); [[distinctKmv64]] is the production
    * 64-bit-width twin of the same algebra (xxhash64, spec-tested
    * rather than oracled). */
  def aggDistinctKmv(spark: SparkSession, dir: String): DataFrame = {
    val keys = Tables.lineitem(spark, dir)
      .select(col("l_partkey")).distinct()
    val exact = keys.agg(count(lit(1)).as("exact_nd"))
    val hs = keys.select(expr(kmvHashExpr("l_partkey")).as("h")).distinct()
    val mins = hs.orderBy(col("h")).limit(KmvK.toInt)
      .agg(count(lit(1)).as("n_mins"), max(col("h")).as("h_k"))
    mins.crossJoin(broadcast(exact))
      .select(col("n_mins"), col("h_k"),
        when(col("n_mins") < KmvK, col("n_mins"))
          .otherwise(expr(s"((${KmvK - 1}L) * 65536L) div h_k"))
          .as("est_nd"),
        col("exact_nd"))
      .withColumn("err_ppm",
        expr("(1000000L * abs(est_nd - exact_nd)) div exact_nd"))
  }

  val aggDistinctKmvSql: String =
    s"""WITH keys AS (SELECT DISTINCT l_partkey FROM lineitem),
       |exact AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_nd FROM keys),
       |hs AS (SELECT DISTINCT ${kmvHashExpr("l_partkey")} AS h FROM keys),
       |mins AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_mins,
       |    CAST(MAX(h) AS BIGINT) AS h_k
       |  FROM (SELECT h FROM hs ORDER BY h LIMIT $KmvK)),
       |est AS (
       |  SELECT n_mins, h_k,
       |    CASE WHEN n_mins < $KmvK THEN n_mins
       |      ELSE (${KmvK - 1} * 65536) // h_k END AS est_nd,
       |    exact_nd
       |  FROM mins CROSS JOIN exact)
       |SELECT n_mins, h_k, est_nd, exact_nd,
       |  (1000000 * ABS(est_nd - exact_nd)) // exact_nd AS err_ppm
       |FROM est""".stripMargin

  /** PRODUCTION-width KMV (VERDICT r7 #7): the same k-minimum-values
    * algebra as [[aggDistinctKmv]] but on Spark's built-in 64-bit
    * xxhash64 — the width a real 100 TB pipeline runs, where the
    * 16-bit space of the oracled twin would saturate (65536 distinct
    * hashes) after the first few hundred thousand keys. No DuckDB
    * twin (xxhash64 is not portable SQL), so this is the library
    * path, spec-tested against exact counts in RelationalSpec at
    * sf0.1 rather than oracle-gated; [[aggDistinctKmv]] stays the
    * exact-gateable 16-bit registry entry and cross-links here.
    *
    * The estimate `(k−1)·2⁶⁴ / h_(k)` needs the k-th minimum under
    * UNSIGNED 64-bit order: flipping the sign bit maps unsigned order
    * onto Spark's signed BIGINT order, and the division runs in
    * DECIMAL(38,0) (exact — 2⁶⁴·k fits comfortably). Same scale
    * shape as the 16-bit twin: distinct-key agg, distinct-hash agg,
    * TakeOrdered(k), one scalar frame — no exact global shuffle of
    * keys beyond the distinct pass the exact comparison itself
    * needs. */
  def distinctKmv64(keys: DataFrame, keyCol: String,
                    k: Int = KmvK.toInt): DataFrame = {
    val hu = keys.select(col(keyCol)).distinct()
      .select(xxhash64(concat(lit("kmv64:"), col(keyCol).cast("string")))
        .bitwiseXOR(lit(Long.MinValue)).as("hu"))
      .distinct()
    val mins = hu.orderBy(col("hu")).limit(k)
      .agg(count(lit(1)).as("n_mins"), max(col("hu")).as("hu_k"))
    // back to unsigned magnitude in DECIMAL(38,0): hu = h − 2⁶³
    mins.select(col("n_mins"),
      when(col("n_mins") < k, col("n_mins"))
        .otherwise(expr(
          s"""CAST((CAST(${k - 1} AS DECIMAL(38,0)) *
             |  CAST(18446744073709551616 AS DECIMAL(38,0)))
             |  div (CAST(hu_k AS DECIMAL(38,0)) +
             |       CAST(9223372036854775808 AS DECIMAL(38,0)))
             |  AS BIGINT)""".stripMargin))
        .as("est_nd"))
  }

  /** Distribution moments from exact decimal sums: population
    * variance/stddev of quantity and quantity↔price correlation per
    * return flag. Plain stddev/corr aggregates are double-summation
    * order-dependent; here Σx, Σx², Σxy are exact decimals (2-dp
    * inputs → 4-dp products), the closed-form moment formulas run once
    * per group in double, and the result is rounded coarsely enough to
    * absorb the ≤1-ulp decimal→double cast skew between engines. */
  def aggMoments(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def s(c: Column): Column = sum(c.cast(DecimalType(27, 10))).cast("double")
    def s2(a: Column, b: Column): Column =
      sum(a.cast(DecimalType(18, 4)) * b.cast(DecimalType(18, 4))).cast("double")
    val (x, y) = (col("l_quantity"), col("l_extendedprice"))
    val n = count(lit(1))
    // greatest(·, 0): the exact sums are cast to double BEFORE this
    // arithmetic, so a constant column's variance can round to a tiny
    // negative and sqrt would go NaN (engines disagree on NaN handling)
    val varp = greatest((s2(x, x) - s(x) * s(x) / n) / n, lit(0.0))
    val corrNum = n * s2(x, y) - s(x) * s(y)
    val corrDen =
      sqrt(greatest(n * s2(x, x) - s(x) * s(x), lit(0.0))) *
        sqrt(greatest(n * s2(y, y) - s(y) * s(y), lit(0.0)))
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(n.as("n"),
        round(varp, 2).as("var_qty"),
        round(sqrt(varp), 2).as("std_qty"),
        // a constant column zeroes the denominator: correlation is
        // undefined there — NULL in both engines, never a 0-division
        when(corrDen === 0.0, lit(null).cast("double"))
          .otherwise(round(corrNum / corrDen, 6)).as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  val aggMomentsSql: String = {
    def s(x: String) = s"CAST(SUM(CAST($x AS DECIMAL(27,10))) AS DOUBLE)"
    // DECIMAL(19) forces DuckDB onto int128 — 18×18 would overflow its
    // int64 multiply; the *values* stay the same exact 4-dp products
    def s2(a: String, b: String) =
      s"CAST(SUM(CAST($a AS DECIMAL(19,4)) * CAST($b AS DECIMAL(19,4))) AS DOUBLE)"
    val (x, y) = ("l_quantity", "l_extendedprice")
    // GREATEST/CASE guards mirror the engine side: clamp rounding-
    // negative variances before SQRT, NULL the correlation of a
    // constant column instead of dividing by zero
    val varp =
      s"GREATEST((${s2(x, x)} - ${s(x)} * ${s(x)} / COUNT(*)) / COUNT(*), 0.0)"
    val num = s"COUNT(*) * ${s2(x, y)} - ${s(x)} * ${s(y)}"
    val den = s"SQRT(GREATEST(COUNT(*) * ${s2(x, x)} - ${s(x)} * ${s(x)}, 0.0)) * " +
      s"SQRT(GREATEST(COUNT(*) * ${s2(y, y)} - ${s(y)} * ${s(y)}, 0.0))"
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ROUND($varp, 2) AS var_qty,
       |  ROUND(SQRT($varp), 2) AS std_qty,
       |  CASE WHEN ($den) = 0.0 THEN NULL
       |       ELSE ROUND(($num) / ($den), 6) END AS corr_qty_price
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin
  }

  /** Exact quantiles of l_quantity (integer-valued, so the linear
    * interpolation at (n-1)p is exact arithmetic in both engines —
    * fractional-money quantiles would need the Det treatment). At
    * 100 TB exact percentile sorts per group; approx_percentile is the
    * scale path (same shape as agg_approx_distinct). */
  def aggPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25)").as("q25"),
        expr("percentile(l_quantity, 0.5)").as("q50"),
        expr("percentile(l_quantity, 0.75)").as("q75"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  val aggPercentileSql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS q25,
      |  quantile_cont(l_quantity, 0.5) AS q50,
      |  quantile_cont(l_quantity, 0.75) AS q75,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Approximate percentiles via the mergeable quantile sketch behind
    * `approx_percentile` — the 100 TB scale path named by
    * [[aggPercentile]]'s scaladoc: one sketch per partition merged at
    * the driver side of the aggregation instead of a per-group sort of
    * the corpus. No DuckDB oracle (sketch contents are
    * engine-specific); RelationalSpec bounds it against the exact
    * percentile. */
  def aggApproxPercentile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_quantity"))
    // r13 tolerance verdict (VERDICT r12 #5): a value v is a valid
    // ε-approximate q-quantile iff frac(< v) ≤ q + ε AND
    // frac(≤ v) ≥ q − ε — the tie-safe rank test (l_quantity is
    // integer-valued with heavy ties, so a value-distance test would
    // be distribution-dependent). accuracy=1000 guarantees rank error
    // ≤ 1/1000; ε = 0.01 declares a 10× margin. The oracle asserts
    // TRUE, turning the sketch's guarantee into a hash-gated fact.
    //
    // r14 one-pass verify (VERDICT r13 #8: the verify join re-read
    // lineitem): GROUPING SETS computes the per-flag SKETCH row and
    // the exact (flag, quantity) HISTOGRAM in the SAME aggregate —
    // one scan, one Expand(×2) with map-side combine (the histogram
    // side collapses to |flags|·|distinct quantities| partials). The
    // sketch values then broadcast onto the histogram rows via a
    // per-flag WINDOW over the aggregated frame itself (a self-join
    // would re-plan — and re-scan — the aggregate twice: column
    // pruning makes the two subplans non-identical, defeating
    // exchange reuse), so lineitem is read exactly once and every
    // post-scan operator runs over |flags|·|quantities| rows.
    val g = li.groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_quantity")),
          Seq(col("l_returnflag"))),
        col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"),
        expr("approx_percentile(l_quantity, 0.5, 1000)").as("p50_approx"),
        expr("approx_percentile(l_quantity, 0.95, 1000)").as("p95_approx"),
        grouping(col("l_quantity")).as("gq"))
    val w = Window.partitionBy(col("l_returnflag"))
    val withSk = g.select(col("l_returnflag"), col("l_quantity"),
        col("cnt"), col("gq"),
        max(when(col("gq") === 1, col("p50_approx"))).over(w).as("p50"),
        max(when(col("gq") === 1, col("p95_approx"))).over(w).as("p95"),
        max(when(col("gq") === 1, col("cnt"))).over(w).as("n"))
      .where(col("gq") === 0)
    val eps = lit(0.01)
    def rankOk(lt: org.apache.spark.sql.Column,
               le: org.apache.spark.sql.Column, q: Double) =
      (lt.cast("double") <= (lit(q) + eps) * col("n").cast("double")) &&
        (le.cast("double") >= (lit(q) - eps) * col("n").cast("double"))
    withSk.groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("n"),
        sum(when(col("l_quantity") < col("p50"), col("cnt"))
          .otherwise(lit(0L))).as("lt50"),
        sum(when(col("l_quantity") <= col("p50"), col("cnt"))
          .otherwise(lit(0L))).as("le50"),
        sum(when(col("l_quantity") < col("p95"), col("cnt"))
          .otherwise(lit(0L))).as("lt95"),
        sum(when(col("l_quantity") <= col("p95"), col("cnt"))
          .otherwise(lit(0L))).as("le95"))
      .select(col("l_returnflag"), col("n"),
        rankOk(col("lt50"), col("le50"), 0.5).as("p50_ok"),
        rankOk(col("lt95"), col("le95"), 0.95).as("p95_ok"))
      .orderBy(col("l_returnflag"))
  }

  val aggApproxPercentileSql: String =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  TRUE AS p50_ok, TRUE AS p95_ok
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Fixed-width histogram of order totals: floor-division bucketing
    * (shared arithmetic — DuckDB lacks width_bucket), per-bucket count
    * and share of total via an unpartitioned window sum (one row per
    * bucket, so the global window is a few dozen rows, not a data
    * move). Exact-int counts; share is the same IEEE division both
    * engines. */
  def aggHistogram(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    Tables.orders(spark, dir)
      .select(floor(col("o_totalprice") / lit(25000.0)).cast("int").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .withColumn("share",
        col("n").cast("double") / sum(col("n")).over(w).cast("double"))
      .orderBy(col("bucket"))
  }

  val aggHistogramSql: String =
    """WITH h AS (
      |  SELECT CAST(FLOOR(o_totalprice / 25000.0) AS INT) AS bucket,
      |         COUNT(*) AS n
      |  FROM orders GROUP BY 1)
      |SELECT bucket, n,
      |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share
      |FROM h
      |ORDER BY bucket""".stripMargin

  /** CUBE over mktsegment × nation with grouping id; exercises
    * grouping-sets expansion (one shuffle, expanded grouping keys). */
  def aggRollupCube(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .cube(col("c_mktsegment"), col("n_name"))
      .agg(grouping_id(col("c_mktsegment"), col("n_name")).as("gid"),
           count(lit(1)).as("n_cust"), Det.dsum(col("c_acctbal")).as("sum_bal"))
      .select(col("gid"), col("c_mktsegment"), col("n_name"),
              col("n_cust"), col("sum_bal"))
      .orderBy(col("gid"), col("c_mktsegment").asc_nulls_first,
               col("n_name").asc_nulls_first)
  }

  val aggRollupCubeSql: String =
    s"""SELECT CAST(GROUPING(c_mktsegment, n_name) AS BIGINT) AS gid,
       |  c_mktsegment, n_name,
       |  COUNT(*) AS n_cust,
       |  ${DetSql.dsum("c_acctbal")} AS sum_bal
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY CUBE (c_mktsegment, n_name)
       |ORDER BY gid, c_mktsegment NULLS FIRST, n_name NULLS FIRST""".stripMargin

  /** Interval-overlap join rewritten as a bucket equi-join — the scale
    * path for "which sessions overlap the busy hours": exploding each
    * session into the hour buckets it covers turns interval × interval
    * overlap into an equi-join on the bucket key (the standard rewrite
    * that avoids a range-condition nested loop). All boundary math is
    * integer epoch-µs (end-exclusive via e-1), so no timestamp
    * rounding can disagree; the busy-hour side is a TakeOrdered top-10
    * broadcast. Explode factor = session length in hours — bounded by
    * the 30-minute gap semantics. */
  def joinIntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val HourUs = 3600000000L
    val s = Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("sstart"),
        Det.epochUs(col("session_window.start")).as("s_us"),
        Det.epochUs(col("session_window.end")).as("e_us"))
    val cov = s.select(col("user_id"), col("sstart"),
      explode(expr(s"sequence(s_us DIV $HourUs, (e_us - 1) DIV $HourUs)"))
        .as("hb"))
    // integer DIV, same semantics as the coverage side and the DuckDB
    // `//` — the former double-divide-then-cast was safe at epoch-µs
    // magnitudes (< 2^53) but a fragile inconsistency (ADVICE r5)
    val busy = Tables.events(spark, dir)
      .select(expr(s"unix_micros(cast(ts as timestamp)) DIV $HourUs").as("hb"))
      .groupBy(col("hb")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("hb")).limit(10)
      .select(col("hb"))
    cov.join(broadcast(busy), "hb")
      .groupBy(col("user_id"), col("sstart"))
      .agg(count(lit(1)).as("n_busy_hours"))
      .orderBy(col("user_id"), col("sstart"))
  }

  val joinIntervalOverlapSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |islands AS (
      |  SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |                     ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged),
      |s AS (
      |  SELECT user_id, MIN(ts) AS sstart,
      |    epoch_us(MIN(ts)) AS s_us,
      |    epoch_us(MAX(ts) + INTERVAL '30 minutes') AS e_us
      |  FROM islands GROUP BY user_id, sid),
      |cov AS (
      |  SELECT user_id, sstart,
      |    unnest(range(s_us // 3600000000, ((e_us - 1) // 3600000000) + 1))
      |      AS hb
      |  FROM s),
      |busy AS (
      |  SELECT hb FROM (
      |    SELECT epoch_us(ts) // 3600000000 AS hb,
      |      ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC,
      |                         epoch_us(ts) // 3600000000) AS rn
      |    FROM events GROUP BY 1)
      |  WHERE rn <= 10)
      |SELECT user_id, sstart, COUNT(*) AS n_busy_hours
      |FROM cov JOIN busy USING (hb)
      |GROUP BY user_id, sstart
      |ORDER BY user_id, sstart""".stripMargin

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM) — the join a
    * nullable business key needs when NULL means "unknown but the
    * same unknown": plain `=` silently drops every NULL row, `<=>`
    * matches them. Still a hash join (null-safe equality is a valid
    * equi-key), so the plan broadcasts the distinct-key dim exactly
    * like a plain equi-join — no fallback to nested loops. */
  def joinNullSafe(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.orders(spark, dir)
      .select(expr("NULLIF(o_orderstatus, 'O')").as("k"))
    val d = Tables.orders(spark, dir)
      .select(expr("NULLIF(o_orderstatus, 'O')").as("k2")).distinct()
    l.join(broadcast(d), col("k") <=> col("k2"))
      .groupBy(coalesce(col("k2"), lit("open")).as("label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"))
  }

  val joinNullSafeSql: String =
    """WITH l AS (SELECT NULLIF(o_orderstatus, 'O') AS k FROM orders),
      |d AS (SELECT DISTINCT NULLIF(o_orderstatus, 'O') AS k2 FROM orders)
      |SELECT COALESCE(k2, 'open') AS label, COUNT(*) AS n
      |FROM l JOIN d ON l.k IS NOT DISTINCT FROM d.k2
      |GROUP BY 1
      |ORDER BY label""".stripMargin

  /** Skewness + excess kurtosis per group from exact power sums —
    * the 3rd/4th standardized moments behind distribution-shape
    * checks (is this column symmetric? heavy-tailed?). Quantity is
    * integer-valued ≤ 50, so x²/x³/x⁴ are exact doubles and the
    * decimal sums are exact; the central-moment algebra is then one
    * spelled-out IEEE sequence, with m2^1.5 written as m2·√m2 (two
    * correctly-rounded ops) instead of a libm pow. */
  def aggSkewKurt(spark: SparkSession, dir: String): DataFrame = {
    // quantity is integer-valued: BIGINT power sums are EXACT (a
    // DECIMAL sum would round-trip through a 1-ulp-unsafe
    // decimal→double cast — passes sf0.01, fails sf0.1)
    def s(c: Column): Column = sum(c).cast("double")
    val x = col("l_quantity").cast("long")
    val nD = count(lit(1)).cast("double")
    val base = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), (s(x) / nD).as("mu"),
        (s(x * x) / nD).as("ex2"), (s(x * x * x) / nD).as("ex3"),
        (s(x * x * x * x) / nD).as("ex4"))
    val mu = col("mu")
    val m2 = col("ex2") - mu * mu
    val m3 = col("ex3") - lit(3.0) * mu * col("ex2") + lit(2.0) * (mu * mu * mu)
    val m4 = col("ex4") - lit(4.0) * mu * col("ex3") +
      lit(6.0) * (mu * mu) * col("ex2") - lit(3.0) * ((mu * mu) * (mu * mu))
    base.select(col("l_returnflag"), col("n"), mu.as("mean_qty"),
        when(m2 > 0, m3 / (m2 * sqrt(m2))).as("skewness"),
        when(m2 > 0, m4 / (m2 * m2) - lit(3.0)).as("kurtosis"))
      .orderBy(col("l_returnflag"))
  }

  val aggSkewKurtSql: String = {
    def s(x: String) =
      s"CAST(CAST(SUM($x) AS BIGINT) AS DOUBLE)"
    s"""WITH q AS (
       |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x FROM lineitem),
       |b AS (
       |  SELECT l_returnflag, COUNT(*) AS n,
       |    ${s("x")} / CAST(COUNT(*) AS DOUBLE) AS mu,
       |    ${s("x * x")} / CAST(COUNT(*) AS DOUBLE) AS ex2,
       |    ${s("x * x * x")} / CAST(COUNT(*) AS DOUBLE) AS ex3,
       |    ${s("x * x * x * x")} / CAST(COUNT(*) AS DOUBLE) AS ex4
       |  FROM q GROUP BY l_returnflag),
       |m AS (
       |  SELECT l_returnflag, n, mu,
       |    ex2 - mu * mu AS m2,
       |    ex3 - 3.0 * mu * ex2 + 2.0 * (mu * mu * mu) AS m3,
       |    ex4 - 4.0 * mu * ex3 + 6.0 * (mu * mu) * ex2
       |      - 3.0 * ((mu * mu) * (mu * mu)) AS m4
       |  FROM b)
       |SELECT l_returnflag, n, mu AS mean_qty,
       |  CASE WHEN m2 > 0 THEN m3 / (m2 * SQRT(m2)) END AS skewness,
       |  CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END AS kurtosis
       |FROM m
       |ORDER BY l_returnflag""".stripMargin
  }

  /** Gini coefficient of order-value concentration per status — the
    * inequality statistic behind "is this partition dominated by a few
    * huge rows" reports. Uses the rank formulation
    * G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over values sorted ascending:
    * both Σ terms are exact BIGINT sums of integer cents × ranks, so
    * the two final expressions are identical IEEE sequences on
    * identical operands. One per-group sort window + one aggregate;
    * rank·cents stays < 2⁶³ through ~10⁹-row groups of 10⁷-cent
    * values. */
  def aggGini(spark: SparkSession, dir: String): DataFrame = {
    // rank on the exact cents themselves (monotone with price) so the
    // window needs only the projected columns — both engines sort the
    // identical (c, key) pairs
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("c"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderkey"),
        Det.cents(col("o_totalprice")).as("c"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("rn") * col("c")).as("src"))
      .select(col("o_orderstatus"), col("n"),
        ((lit(2.0) * col("src").cast("double")) /
          (col("n").cast("double") * col("sc").cast("double")) -
          (col("n").cast("double") + 1.0) / col("n").cast("double"))
          .as("gini"))
      .orderBy(col("o_orderstatus"))
  }

  val aggGiniSql: String =
    s"""WITH r AS (
       |  SELECT o_orderstatus, c,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderstatus
       |      ORDER BY c, o_orderkey) AS BIGINT) AS rn
       |  FROM (SELECT o_orderstatus, o_orderkey,
       |          ${DetSql.cents("o_totalprice")} AS c
       |        FROM orders)),
       |a AS (
       |  SELECT o_orderstatus, COUNT(*) AS n,
       |    CAST(SUM(c) AS BIGINT) AS sc,
       |    CAST(SUM(rn * c) AS BIGINT) AS src
       |  FROM r GROUP BY o_orderstatus)
       |SELECT o_orderstatus, n,
       |  (2.0 * CAST(src AS DOUBLE))
       |    / (CAST(n AS DOUBLE) * CAST(sc AS DOUBLE))
       |    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
       |FROM a
       |ORDER BY o_orderstatus""".stripMargin

  /** Deterministic ARG-MAX / ARG-MIN per group — "which order was the
    * priciest/cheapest", the lookup `max_by`/`arg_max` answer but with
    * ties pinned (extreme price, then smallest orderkey): the built-ins
    * leave tie choice implementation-defined, which can never
    * hash-match an oracle. Spark side is one struct-ordered aggregate
    * (single shuffle, no window); the oracle mirrors the tie order
    * with ROW_NUMBER + conditional aggregation. */
  def aggArgmax(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        max(struct(col("o_totalprice"), (-col("o_orderkey")).as("neg")))
          .as("hi"),
        min(struct(col("o_totalprice"), col("o_orderkey"))).as("lo"))
      .select(col("o_orderstatus"), col("n"),
        (-col("hi.neg")).as("top_orderkey"),
        col("hi.o_totalprice").as("top_price"),
        col("lo.o_orderkey").as("bottom_orderkey"),
        col("lo.o_totalprice").as("bottom_price"))
      .orderBy(col("o_orderstatus"))

  val aggArgmaxSql: String =
    """WITH r AS (
      |  SELECT o_orderstatus, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn_hi,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
      |      ORDER BY o_totalprice, o_orderkey) AS rn_lo
      |  FROM orders)
      |SELECT o_orderstatus, COUNT(*) AS n,
      |  MAX(CASE WHEN rn_hi = 1 THEN o_orderkey END) AS top_orderkey,
      |  MAX(CASE WHEN rn_hi = 1 THEN o_totalprice END) AS top_price,
      |  MAX(CASE WHEN rn_lo = 1 THEN o_orderkey END) AS bottom_orderkey,
      |  MAX(CASE WHEN rn_lo = 1 THEN o_totalprice END) AS bottom_price
      |FROM r
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Shannon entropy of the priority mix per order status — the
    * category-diversity statistic behind balance checks (is one
    * partition dominated by a single class?). Each −p·ln p term is
    * fixed-point quantized (×10⁹) BEFORE the per-group sum, so the
    * aggregation is exact BIGINT arithmetic (order-free) and the one
    * libm ln per term cannot compound; p itself is an exact-int /
    * exact-int division. Two-level aggregate, both map-side combined. */
  def aggEntropy(spark: SparkSession, dir: String): DataFrame = {
    val termQ =
      """CAST(floor(-((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
        |  * ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)))
        |  * 1000000000 + 0.5) AS BIGINT)""".stripMargin
    val c = Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val t = c.groupBy(col("o_orderstatus")).agg(sum(col("n")).as("tot"))
    c.join(t, "o_orderstatus")
      .withColumn("term_q", expr(termQ))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_categories"),
        max(col("tot")).as("n_orders"),
        (sum(col("term_q")).cast("double") / 1000000000.0).as("entropy"))
      .orderBy(col("o_orderstatus"))
  }

  val aggEntropySql: String =
    """WITH c AS (
      |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |t AS (
      |  SELECT o_orderstatus, CAST(SUM(n) AS BIGINT) AS tot
      |  FROM c GROUP BY 1),
      |j AS (
      |  SELECT c.o_orderstatus, c.n, t.tot,
      |    CAST(floor(-((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
      |      * ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)))
      |      * 1000000000 + 0.5) AS BIGINT) AS term_q
      |  FROM c JOIN t USING (o_orderstatus))
      |SELECT o_orderstatus, COUNT(*) AS n_categories,
      |  MAX(tot) AS n_orders,
      |  CAST(CAST(SUM(term_q) AS BIGINT) AS DOUBLE) / 1000000000.0 AS entropy
      |FROM j
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Weighted average — sum(w·x)/sum(w) from two exact cent-sums, the
    * aggregate a unit-price-over-quantity report needs where a plain
    * avg of per-row prices would be volume-blind. Both sums go through
    * [[Det.dsum]], so the single final division is the same IEEE op on
    * identical operands in both engines. */
  def aggWeightedAvg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        Det.dsum(col("l_quantity")).as("sum_qty"),
        (Det.dsum(col("l_quantity") * col("l_extendedprice")) /
          Det.dsum(col("l_quantity"))).as("wavg_price"),
        Det.davg(col("l_extendedprice")).as("avg_price"))
      .orderBy(col("l_returnflag"))

  val aggWeightedAvgSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${DetSql.dsum("l_quantity")} AS sum_qty,
       |  (${DetSql.dsum("l_quantity * l_extendedprice")})
       |    / (${DetSql.dsum("l_quantity")}) AS wavg_price,
       |  ${DetSql.davg("l_extendedprice")} AS avg_price
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  /** Exact per-group MODE with a deterministic tiebreak (highest
    * count, then smallest value) — the built-in `mode()` leaves ties
    * implementation-defined, which can never hash-match an oracle.
    * Two-level aggregate: (group, value) counts shuffle once, then a
    * per-group top-1 window over value-cardinality-bounded groups —
    * the same shape as topk_per_group, no global sort. */
  def aggMode(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("n_occur").desc, col("l_quantity"))
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("n_occur"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
        col("n_occur"))
      .orderBy(col("l_returnflag"))
  }

  val aggModeSql: String =
    """SELECT l_returnflag, mode_qty, n_occur
      |FROM (
      |  SELECT l_returnflag, l_quantity AS mode_qty, COUNT(*) AS n_occur,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |      ORDER BY COUNT(*) DESC, l_quantity) AS rn
      |  FROM lineitem GROUP BY l_returnflag, l_quantity)
      |WHERE rn = 1
      |ORDER BY l_returnflag""".stripMargin

  /** Per-group correlation + least-squares regression of extendedprice
    * on quantity — the two-variable statistics `corr`/`regr_slope`
    * compute, re-derived from exact moment sums so the oracle matches
    * bit-for-bit. Built-in corr() accumulates doubles in partition
    * order (non-reproducible even run-to-run); here the five moments go
    * through [[Det.dsum]] (exact decimal, cent-rounded) and the closed
    * forms are evaluated in one spelled-out op order — every step a
    * single correctly-rounded IEEE op on identical operands. One
    * map-side-combined aggregate, one shuffle on the group key. */
  def aggCorr(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    val s = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        count(lit(1)).cast("double").as("n_d"),
        Det.dsum(col("x")).as("sx"), Det.dsum(col("y")).as("sy"),
        Det.dsum(col("x") * col("x")).as("sxx"),
        Det.dsum(col("y") * col("y")).as("syy"),
        Det.dsum(col("x") * col("y")).as("sxy"))
      .withColumn("cov_n", col("sxy") * col("n_d") - col("sx") * col("sy"))
      .withColumn("varx_n", col("sxx") * col("n_d") - col("sx") * col("sx"))
      .withColumn("vary_n", col("syy") * col("n_d") - col("sy") * col("sy"))
    s.select(col("l_returnflag"), col("n"),
        when(col("varx_n") > 0 && col("vary_n") > 0,
          col("cov_n") / sqrt(col("varx_n") * col("vary_n"))).as("corr_qty_price"),
        when(col("varx_n") > 0, col("cov_n") / col("varx_n")).as("slope"),
        when(col("varx_n") > 0,
          (col("sy") - (col("cov_n") / col("varx_n")) * col("sx")) / col("n_d"))
          .as("intercept"))
      .orderBy(col("l_returnflag"))
  }

  val aggCorrSql: String =
    s"""WITH s AS (
       |  SELECT l_returnflag, COUNT(*) AS n, CAST(COUNT(*) AS DOUBLE) AS n_d,
       |    ${DetSql.dsum("l_quantity")} AS sx,
       |    ${DetSql.dsum("l_extendedprice")} AS sy,
       |    ${DetSql.dsum("l_quantity * l_quantity")} AS sxx,
       |    ${DetSql.dsum("l_extendedprice * l_extendedprice")} AS syy,
       |    ${DetSql.dsum("l_quantity * l_extendedprice")} AS sxy
       |  FROM lineitem GROUP BY l_returnflag),
       |d AS (
       |  SELECT *, sxy * n_d - sx * sy AS cov_n,
       |    sxx * n_d - sx * sx AS varx_n,
       |    syy * n_d - sy * sy AS vary_n
       |  FROM s)
       |SELECT l_returnflag, n,
       |  CASE WHEN varx_n > 0 AND vary_n > 0
       |    THEN cov_n / SQRT(varx_n * vary_n) END AS corr_qty_price,
       |  CASE WHEN varx_n > 0 THEN cov_n / varx_n END AS slope,
       |  CASE WHEN varx_n > 0
       |    THEN (sy - (cov_n / varx_n) * sx) / n_d END AS intercept
       |FROM d
       |ORDER BY l_returnflag""".stripMargin

  /** Explicit GROUPING SETS — the asymmetric subtotal shape CUBE can't
    * express without wasted combinations: (status, priority) detail,
    * per-status subtotal, grand total, but NO per-priority slice.
    * Spark expands the sets into one Expand + a single hash aggregate
    * — one shuffle regardless of how many sets, which is why grouping
    * sets beat N self-unioned aggregates at scale. */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val (st, pr) = (col("o_orderstatus"), col("o_orderpriority"))
    o.groupingSets(Seq(Seq(st, pr), Seq(st), Seq()), st, pr)
      .agg(grouping_id(st, pr).as("gid"),
           count(lit(1)).as("n_orders"),
           Det.dsum(col("o_totalprice")).as("sum_price"))
      .select(col("gid"), st, pr, col("n_orders"), col("sum_price"))
      .orderBy(col("gid"), st.asc_nulls_first, pr.asc_nulls_first)
  }

  val aggGroupingSetsSql: String =
    s"""SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       |  o_orderstatus, o_orderpriority,
       |  COUNT(*) AS n_orders,
       |  ${DetSql.dsum("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
       |                        (o_orderstatus), ())
       |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Pivot: order counts per status × priority. Explicit pivot values
    * keep the plan a single pass (no distinct-values pre-query) —
    * mandatory at scale. Spark leaves absent cells null; coalesce to 0
    * to match the oracle's FILTER counts. */
  def aggPivot(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", priorities)
      .agg(count(lit(1)))
    p.select(col("o_orderstatus") +:
        priorities.map(c => coalesce(col(s"`$c`"), lit(0L)).as(c)): _*)
      .orderBy(col("o_orderstatus"))
  }

  val aggPivotSql: String = {
    val cols = priorities.map(p =>
      s"""COUNT(*) FILTER (WHERE o_orderpriority = '$p') AS "$p"""")
      .mkString(",\n  ")
    s"""SELECT o_orderstatus,
       |  $cols
       |FROM orders
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin
  }

  /** Unpivot (melt): lineitem's three rate columns stacked to
    * (metric, value) rows — pure row expansion inside the stage, no
    * shuffle until the oracle sort. */
  def aggUnpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "value")
      // the synthetic lineitem has DISTINCT rows sharing (orderkey,
      // linenumber), so the sort must include `value` to be total —
      // engines order ties by scan order, which diverges at scale
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"),
        col("value"))

  val aggUnpivotSql: String =
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, metric, value""".stripMargin

  /** The reference's latent full-SQL surface (D10, TemplateApp's
    * SQLContext) exercised end-to-end: temp views + a CTE + a
    * correlated scalar subquery, planned by Catalyst's decorrelation
    * into a join. */
  def sqlCorrelated(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    spark.sql(
      """WITH rich AS (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer_v
        |  WHERE c_acctbal > 1000.0)
        |SELECT c_custkey, c_name,
        |  (SELECT MAX(o_totalprice) FROM orders_v o
        |   WHERE o.o_custkey = rich.c_custkey) AS max_order
        |FROM rich
        |ORDER BY c_custkey""".stripMargin)
  }

  val sqlCorrelatedSql: String =
    """WITH rich AS (
      |  SELECT c_custkey, c_name, c_acctbal FROM customer
      |  WHERE c_acctbal > 1000.0)
      |SELECT c_custkey, c_name,
      |  (SELECT MAX(o_totalprice) FROM orders o
      |   WHERE o.o_custkey = rich.c_custkey) AS max_order
      |FROM rich
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------- sorts / top-k

  /** Global top-10: planner uses TakeOrderedAndProject — per-partition
    * heap + driver merge of 10 rows, never a full sort at scale. */
  def sortLimit(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  val sortLimitSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** Top-3 orders per customer via ranked window — one shuffle on the
    * partition key; rank predicate prunes before any downstream work. */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  val topkPerGroupSql: String =
    """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
      |  FROM orders
      |) WHERE rk <= 3
      |ORDER BY o_custkey, rk""".stripMargin

  // -------------------------------------------------------------- set ops

  /** UNION (distinct) of two key sets — hash dedup after a cheap scan. */
  def setUnion(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val a = c.where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val b = c.where(col("c_acctbal") > 5000.0).select(col("c_custkey"))
    a.union(b).distinct().orderBy(col("c_custkey"))
  }

  val setUnionSql: String =
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |UNION
      |SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
      |ORDER BY c_custkey""".stripMargin

  /** INTERSECT / EXCEPT on customer key sets, tagged and unioned into
    * one deterministic result. */
  def setIntersectExcept(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val building = c.where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val rich = c.where(col("c_acctbal") > 5000.0).select(col("c_custkey"))
    val both = building.intersect(rich).withColumn("tag", lit("both"))
    val onlyB = building.except(rich).withColumn("tag", lit("building_only"))
    both.unionByName(onlyB).orderBy(col("tag"), col("c_custkey"))
  }

  val setIntersectExceptSql: String =
    """SELECT c_custkey, 'both' AS tag FROM (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  INTERSECT
      |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0)
      |UNION ALL
      |SELECT c_custkey, 'building_only' AS tag FROM (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  EXCEPT
      |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0)
      |ORDER BY tag, c_custkey""".stripMargin

  /** INTERSECT ALL / EXCEPT ALL — bag semantics, where the distinct
    * variants above lose multiplicity: per key the result carries
    * min(multA, multB) resp. max(multA − multB, 0) copies. Run on
    * lineitem suppkey multisets (heavily duplicated), folded to
    * per-key counts so the oracle hash sees the multiplicities
    * directly. Same single-shuffle aggregate-shaped plans at scale. */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val a = li.where(col("l_quantity") > 45.0).select(col("l_suppkey"))
    val b = li.where(col("l_discount") > 0.08).select(col("l_suppkey"))
    val ia = a.intersectAll(b).groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n")).withColumn("tag", lit("intersect_all"))
    val ea = a.exceptAll(b).groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n")).withColumn("tag", lit("except_all"))
    ia.unionByName(ea)
      .select(col("tag"), col("l_suppkey"), col("n"))
      .orderBy(col("tag"), col("l_suppkey"))
  }

  val setOpsAllSql: String =
    """WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_quantity > 45.0),
      |b AS (SELECT l_suppkey FROM lineitem WHERE l_discount > 0.08)
      |SELECT 'intersect_all' AS tag, l_suppkey, COUNT(*) AS n
      |FROM (SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM b)
      |GROUP BY l_suppkey
      |UNION ALL
      |SELECT 'except_all' AS tag, l_suppkey, COUNT(*) AS n
      |FROM (SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM b)
      |GROUP BY l_suppkey
      |ORDER BY tag, l_suppkey""".stripMargin

  // ------------------------------------------------------------- registry

  /** Query registry fragment contributed by this module. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_parquet" -> scanParquet,
    "scan_filter_project" -> scanFilterProject,
    "scan_partition_pruned" -> scanPartitionPruned,
    "scan_json" -> scanJson,
    "scan_json_gz" -> scanJsonGz,
    "scan_csv" -> scanCsv,
    "scan_text" -> scanText,
    "scan_orc" -> scanOrc,
    "scan_xml" -> scanXml,
    "scan_avro" -> scanAvro,
    "scan_avro_logical" -> scanAvroLogical,
    "scan_merged_schema" -> scanMergedSchema,
    "merge_upsert" -> mergeUpsert,
    "dim_scd2" -> dimScd2,
    "filter_pred" -> filterPred,
    "project_expr" -> projectExpr,
    "join_inner_hash" -> joinInnerHash,
    "join_bucketed" -> joinBucketed,
    "join_outer" -> joinOuter,
    "join_semi_anti" -> joinSemiAnti,
    "join_bitmap_semi" -> joinBitmapSemi,
    "join_point_in_time" -> joinPointInTime,
    "join_multiway" -> joinMultiway,
    "join_theta_range" -> joinThetaRange,
    "join_asof" -> joinAsof,
    "join_asof_native" -> joinAsofNative,
    "join_asof_fwd" -> joinAsofFwd,
    "join_asof_nearest" -> joinAsofNearest,
    "join_asof_tol" -> joinAsofTol,
    "join_lateral" -> joinLateral,
    "agg_global" -> aggGlobal,
    "agg_groupby" -> aggGroupBy,
    "agg_filtered" -> aggFiltered,
    "agg_listagg" -> aggListagg,
    "agg_distinct" -> aggDistinct,
    "agg_bitmap_distinct" -> aggBitmapDistinct,
    "agg_topk_others" -> aggTopkOthers,
    "agg_approx_distinct" -> aggApproxDistinct,
    "agg_distinct_kmv" -> aggDistinctKmv,
    "agg_bitmap_overlap" -> aggBitmapOverlap,
    "join_fuzzy_match" -> joinFuzzyMatch,
    "agg_skyline" -> aggSkyline,
    "scan_txn_log" -> scanTxnLog,
    "txn_log_compact" -> txnLogCompact,
    "txn_log_data_skipping" -> txnLogDataSkipping,
    "txn_log_partition_prune" -> txnLogPartitionPrune,
    "txn_log_merge" -> txnLogMerge,
    "txn_log_merge_clauses" -> txnLogMergeClauses,
    "txn_log_merge_sync" -> txnLogMergeSync,
    "txn_log_delete_subquery" -> txnLogDeleteSubquery,
    "txn_log_delete_exists" -> txnLogDeleteExists,
    "txn_log_delete_multicol_in" -> txnLogDeleteMulticolIn,
    "txn_log_zorder" -> txnLogZorder,
    "txn_log_cdf" -> txnLogCdf,
    "txn_log_delete_dv" -> txnLogDeleteDv,
    "txn_log_restore" -> txnLogRestore,
    "txn_log_constraints" -> txnLogConstraints,
    "txn_log_clone" -> txnLogClone,
    "txn_log_rename_drop" -> txnLogRenameDrop,
    "txn_log_bloom" -> txnLogBloom,
    "txn_log_sql_pushdown" -> txnLogSqlPushdown,
    "txn_log_protocol" -> txnLogProtocol,
    "txn_log_sql_dml" -> txnLogSqlDml,
    "txn_log_catalog" -> txnLogCatalog,
    "txn_log_delete" -> txnLogDelete,
    "txn_log_history" -> txnLogHistory,
    "txn_log_schema_evo" -> txnLogSchemaEvo,
    "txn_log_time_travel" -> txnLogTimeTravel,
    "txn_log_vacuum" -> txnLogVacuum,
    "agg_percentile" -> aggPercentile,
    "agg_approx_percentile" -> aggApproxPercentile,
    "agg_histogram" -> aggHistogram,
    "agg_moments" -> aggMoments,
    "agg_rollup_cube" -> aggRollupCube,
    "agg_grouping_sets" -> aggGroupingSets,
    "agg_corr" -> aggCorr,
    "agg_mode" -> aggMode,
    "join_null_safe" -> joinNullSafe,
    "join_interval_overlap" -> joinIntervalOverlap,
    "agg_weighted_avg" -> aggWeightedAvg,
    "agg_skew_kurt" -> aggSkewKurt,
    "agg_entropy" -> aggEntropy,
    "agg_argmax" -> aggArgmax,
    "agg_gini" -> aggGini,
    "agg_pivot" -> aggPivot,
    "agg_unpivot" -> aggUnpivot,
    "sql_correlated" -> sqlCorrelated,
    "sql_recursive" -> sqlRecursive,
    "sort_limit" -> sortLimit,
    "topk_per_group" -> topkPerGroup,
    "set_union" -> setUnion,
    "set_ops_all" -> setOpsAll,
    "set_intersect_except" -> setIntersectExcept,
  )

  /** Oracle SQL fragment contributed by this module. r13: the two
    * approximate sketches now ride the gate too — their oracles
    * assert the TOLERANCE VERDICT (exact anchor + within-ε boolean),
    * so sketch drift fails the hash compare instead of being
    * unverifiable (`err: no_oracle` retired). */
  val oracleSql: Map[String, String] = Map(
    "agg_approx_distinct" -> aggApproxDistinctSql,
    "agg_approx_percentile" -> aggApproxPercentileSql,
    "scan_parquet" -> scanParquetSql,
    "scan_filter_project" -> scanFilterProjectSql,
    "scan_partition_pruned" -> scanPartitionPrunedSql,
    "scan_json" -> scanTextSql,
    "scan_json_gz" -> scanTextSql,
    "scan_csv" -> scanTextSql,
    "scan_text" -> scanTextSql,
    "scan_orc" -> scanTextSql,
    "scan_xml" -> scanTextSql,
    "scan_avro" -> scanTextSql,
    "scan_avro_logical" -> scanAvroLogicalSql,
    "scan_merged_schema" -> scanMergedSchemaSql,
    "merge_upsert" -> mergeUpsertSql,
    "dim_scd2" -> dimScd2Sql,
    "filter_pred" -> filterPredSql,
    "project_expr" -> projectExprSql,
    "join_inner_hash" -> joinInnerHashSql,
    "join_bucketed" -> joinBucketedSql,
    "join_outer" -> joinOuterSql,
    "join_semi_anti" -> joinSemiAntiSql,
    "join_bitmap_semi" -> joinBitmapSemiSql,
    "join_point_in_time" -> joinPointInTimeSql,
    "join_multiway" -> joinMultiwaySql,
    "join_theta_range" -> joinThetaRangeSql,
    "join_asof" -> joinAsofSql,
    "join_asof_native" -> joinAsofSql, // same contract, native operator
    "join_asof_fwd" -> joinAsofFwdSql,
    "join_asof_nearest" -> joinAsofNearestSql,
    "join_asof_tol" -> joinAsofTolSql,
    "join_lateral" -> joinLateralSql,
    "agg_global" -> aggGlobalSql,
    "agg_groupby" -> aggGroupBySql,
    "agg_filtered" -> aggFilteredSql,
    "agg_listagg" -> aggListaggSql,
    "agg_distinct" -> aggDistinctSql,
    "agg_distinct_kmv" -> aggDistinctKmvSql,
    "agg_bitmap_overlap" -> aggBitmapOverlapSql,
    "join_fuzzy_match" -> joinFuzzyMatchSql,
    "agg_skyline" -> aggSkylineSql,
    "scan_txn_log" -> scanTxnLogSql,
    "txn_log_compact" -> txnLogCompactSql,
    "txn_log_data_skipping" -> txnLogDataSkippingSql,
    "txn_log_partition_prune" -> txnLogPartitionPruneSql,
    "txn_log_merge" -> txnLogMergeSql,
    "txn_log_merge_clauses" -> txnLogMergeClausesSql,
    "txn_log_merge_sync" -> txnLogMergeSyncSql,
    "txn_log_delete_subquery" -> txnLogDeleteSubquerySql,
    "txn_log_delete_exists" -> txnLogDeleteExistsSql,
    "txn_log_delete_multicol_in" -> txnLogDeleteMulticolInSql,
    "txn_log_zorder" -> txnLogZorderSql,
    "txn_log_cdf" -> txnLogCdfSql,
    "txn_log_delete_dv" -> txnLogDeleteDvSql,
    "txn_log_restore" -> txnLogRestoreSql,
    "txn_log_constraints" -> txnLogConstraintsSql,
    "txn_log_clone" -> txnLogCloneSql,
    "txn_log_rename_drop" -> txnLogRenameDropSql,
    "txn_log_bloom" -> txnLogBloomSql,
    "txn_log_sql_pushdown" -> txnLogSqlPushdownSql,
    "txn_log_protocol" -> txnLogProtocolSql,
    "txn_log_sql_dml" -> txnLogSqlDmlSql,
    "txn_log_catalog" -> txnLogCatalogSql,
    "txn_log_delete" -> txnLogDeleteSql,
    "txn_log_history" -> txnLogHistorySql,
    "txn_log_schema_evo" -> txnLogSchemaEvoSql,
    "txn_log_time_travel" -> txnLogTimeTravelSql,
    "txn_log_vacuum" -> txnLogVacuumSql,
    "agg_bitmap_distinct" -> aggBitmapDistinctSql,
    "agg_topk_others" -> aggTopkOthersSql,
    "agg_percentile" -> aggPercentileSql,
    "agg_histogram" -> aggHistogramSql,
    "agg_moments" -> aggMomentsSql,
    "agg_rollup_cube" -> aggRollupCubeSql,
    "agg_grouping_sets" -> aggGroupingSetsSql,
    "agg_corr" -> aggCorrSql,
    "agg_mode" -> aggModeSql,
    "join_null_safe" -> joinNullSafeSql,
    "join_interval_overlap" -> joinIntervalOverlapSql,
    "agg_weighted_avg" -> aggWeightedAvgSql,
    "agg_skew_kurt" -> aggSkewKurtSql,
    "agg_entropy" -> aggEntropySql,
    "agg_argmax" -> aggArgmaxSql,
    "agg_gini" -> aggGiniSql,
    "agg_pivot" -> aggPivotSql,
    "agg_unpivot" -> aggUnpivotSql,
    "sql_correlated" -> sqlCorrelatedSql,
    "sql_recursive" -> sqlRecursiveSql,
    "sort_limit" -> sortLimitSql,
    "topk_per_group" -> topkPerGroupSql,
    "set_union" -> setUnionSql,
    "set_ops_all" -> setOpsAllSql,
    "set_intersect_except" -> setIntersectExceptSql,
  )
}
