package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Source/sink operators q37–q38 (SURVEY.md §2).
  *
  * The reference's I/O surface is: an Oracle connection
  * (`R/vacolsConnect.R` — ROracle dbGetQuery), CSV lookup inputs
  * (`data/ro.csv`, `data/docket.csv`), and CSV report outputs
  * (`write.csv` throughout `scratch/`). These operators exercise the
  * same surface Spark-natively — csv writer/reader with explicit schema
  * and a JDBC round-trip against embedded Derby — and end in a result
  * the DuckDB oracle can state over the original parquet, so sink+source
  * fidelity (types, quoting, headers) is value-checked, not just smoke-
  * checked.
  */
object Sources {
  private val counter = new AtomicInteger(0)

  /** q37: CSV sink → CSV source (schema'd, headered) → join + agg.
    * Mirrors data/ro.csv lookups joined in scratch/other/pending-nods.R
    * and the write.csv report outputs.
    */
  def q37CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir(s"graft_csv_${counter.incrementAndGet()}_")
      
    Tables.region(spark, dir)
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType)))
    val regionCsv = spark.read.schema(schema).option("header", "true").csv(out)
    regionCsv
      .join(broadcast(Tables.nation(spark, dir)), col("r_regionkey") === col("n_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_nation"))
      .orderBy("r_name")
  }

  /** q38: JDBC sink → JDBC source (embedded Derby) → agg.
    * Mirrors the reference's Oracle connection (vacolsConnect.R:1): data
    * lands in a SQL database and is queried back through a JDBC source.
    */
  /** Embedded-Derby connection constants + read/write helpers shared by
    * q38/q57 — ONE url/driver definition. Table names are
    * counter-suffixed per invocation (concurrency-safe: two sessions on
    * one JVM can never drop/recreate a table mid-read of the other —
    * the ADVICE r15 finding against r15's fixed names), and heap stays
    * bounded because each new invocation DROPs the previous same-prefix
    * table (the bounded-live-sink idiom): at most one stale copy per
    * operator lives at a time, vs one per call pre-r15. Contract: a
    * returned frame reads Derby lazily, so consume it before re-invoking
    * the SAME operator on this JVM (Verify/Bench do); concurrent
    * invocations of different calls are isolated by the unique names. */
  private val DerbyUrl = "jdbc:derby:memory:graftdb;create=true"
  private val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"
  private val derbyLive = scala.collection.concurrent.TrieMap.empty[String, String]
  private def derbyTable(prefix: String): String = {
    val name = s"${prefix}_${counter.incrementAndGet()}"
    derbyLive.put(prefix, name).foreach { old =>
      val conn = java.sql.DriverManager.getConnection(DerbyUrl)
      try {
        val st = conn.createStatement()
        // Unquoted, matching how Spark's JDBC writer created it: Derby
        // normalizes unquoted identifiers to uppercase, so a quoted
        // lowercase drop never matches (ADVICE r16) and the bound leaks.
        try st.execute(s"DROP TABLE $old")
        catch {
          // 42Y55 = already gone. Lock-class states (40XL1/40XL2
          // timeout, 40001 deadlock — e.g. a previous invocation's lazy
          // frame still mid-read) degrade to a leaked stale table
          // instead of failing the NEW invocation (ADVICE r17: narrowing
          // the catch to 42Y55 alone flipped that failure mode from
          // leak to crash); anything else is a real error and raises.
          case e: java.sql.SQLException
              if e.getSQLState == "42Y55" ||
                Option(e.getSQLState).exists(_.startsWith("40")) => ()
        }
        finally st.close()
      } finally conn.close()
    }
    name
  }
  private def derbyWrite(df: DataFrame, table: String): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.write.mode("overwrite").format("jdbc")
      .option("url", DerbyUrl).option("dbtable", table)
      // 10× the default 1000: the JDBC sink's per-batch round-trip is
      // the q57 write cost at sf10 (the insert volume is the bounded
      // reconciliation window, but batches are pure overhead)
      .option("batchsize", "10000")
      .option("driver", DerbyDriver)
  private def derbyRead(spark: SparkSession, table: String): org.apache.spark.sql.DataFrameReader =
    spark.read.format("jdbc")
      .option("url", DerbyUrl).option("dbtable", table)
      .option("driver", DerbyDriver)

  def q38JdbcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val table = derbyTable("nation_rt")
    derbyWrite(Tables.nation(spark, dir), table)
      .option("createTableColumnTypes", "n_name VARCHAR(64)")
      .save()
    derbyRead(spark, table).load()
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_nation"))
      .orderBy("n_regionkey")
  }

  /** q39: bucket-bucketed co-located fact join.
    * The 100 TB story for orders⋈lineitem: both sides written bucketed
    * (+sorted) on the join key, so the join runs with NO shuffle of
    * either fact table (PlanSpec asserts no Exchange below the join).
    * Mirrors how recurring VACOLS joins (BRIEFF⋈FOLDER⋈DECASS families)
    * would be laid out in a lake.
    */
  def q39BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val n = counter.incrementAndGet()
    val whO = graft.Scratch.dir(s"graft_bko_${n}_")
    val whL = graft.Scratch.dir(s"graft_bkl_${n}_")
    val tO = s"orders_bkt_$n"; val tL = s"lineitem_bkt_$n"
    spark.sql(s"DROP TABLE IF EXISTS $tO")
    spark.sql(s"DROP TABLE IF EXISTS $tL")
    Tables.orders(spark, dir).write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", whO).saveAsTable(tO)
    Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice").write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", whL).saveAsTable(tL)
    spark.table(tO)
      .join(spark.table(tL), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** q43: date-partitioned lake layout → partition-pruned scan. The
    * OTHER half of the 100 TB layout story next to q39's bucketing:
    * facts land partitioned by event date (`partitionBy` directories),
    * so a dashboard-week query plans a PartitionFilter and reads 7 of
    * the ~30 date directories — pruning happens at FILE LISTING time,
    * before any row is touched (PlanSpec asserts the filter never
    * degrades to a post-scan predicate). Mirrors how the reference's
    * date-windowed reports (`scratch/other/event-history.R` monthly
    * slices) would be laid out in a lake.
    *
    * The write repartitions by the partition column first — the
    * production small-files discipline: without it every input task
    * writes a file into every date directory (tasks × dates files);
    * with it each date directory gets one file.
    */
  def q43PartitionPrune(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir(s"graft_part_${counter.incrementAndGet()}_")
      
    Tables.events(spark, dir)
      .withColumn("event_date", to_date(col("ts")))
      .repartition(col("event_date"))
      .write.mode("overwrite").partitionBy("event_date").parquet(out)
    spark.read.parquet(out)
      .filter(col("event_date") >= lit("2024-01-08") && col("event_date") < lit("2024-01-15"))
      .groupBy("event_date", "event_type")
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("event_date"), "yyyy-MM-dd").as("event_date"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("event_date", "event_type")
  }

  /** q40: ORC sink/source + JSON sink/source feeding the same join.
    * Exercises the remaining batch file formats (the reference emits and
    * consumes flat files beyond CSV); fidelity is value-checked because
    * the end state must match the parquet-only oracle.
    */
  def q40MultiFormat(spark: SparkSession, dir: String): DataFrame = {
    val n = counter.incrementAndGet()
    val orcPath = graft.Scratch.dir(s"graft_orc_${n}_")
    val jsonPath = graft.Scratch.dir(s"graft_json_${n}_")
    Tables.nation(spark, dir).write.mode("overwrite").orc(orcPath)
    Tables.region(spark, dir).write.mode("overwrite").json(jsonPath)
    val nationOrc = spark.read.orc(orcPath)
    val regionJson = spark.read
      .schema(StructType(Seq(
        StructField("r_regionkey", IntegerType), StructField("r_name", StringType))))
      .json(jsonPath)
    nationOrc.join(broadcast(regionJson), col("n_regionkey") === col("r_regionkey"))
      .select("r_name", "n_name")
      .orderBy("r_name", "n_name")
  }

  /** q57: cross-source consistency reconciliation — the data-migration
    * validation every warehouse team runs (reference
    * scratch/other/consistency.R:14-52: the same cases read from VACOLS
    * and from the Caseflow Postgres, joined key-to-key, with per-rule
    * agreement predicates like `completion_status==0 ⇔ BFCURLOC=='98'`).
    *
    * The parquet `orders` table plays VACOLS (system of record); the
    * Caseflow side is a slice written to embedded Derby and read back
    * through the JDBC source (q38's path — genuinely exercised, not
    * parquet-vs-itself). The slice diverges DETERMINISTICALLY (key-
    * modulo perturbations) so every taxonomy class is populated and the
    * DuckDB oracle can restate the exact report from parquet alone:
    *   - keys ≡ 3 (mod 4) are absent from Caseflow → missing_in_caseflow
    *   - negated keys ≡ 0 (mod 13) exist only in Caseflow → missing_in_vacols
    *   - keys ≡ 1 (mod 11) carry a corrupted status → rule_violation
    *
    * 100 TB posture: the JDBC read is range-partitioned on the key
    * (lower/upper bounds from a one-row bounds query — a documented
    * planning read, not a hot-path collect), both sides then meet in a
    * key-partitioned full-outer sort-merge join; the rule predicates are
    * projections and the taxonomy rollup is a 4-group aggregate. Nothing
    * is driver-side except the bounds row.
    */
  /** q57 reconciliation window. The reference checks ONE DAY of
    * completions per run (consistency.R:18-19: `completed_at >=
    * '2017-07-06' and < +1 day`), not the universe — the operator
    * mirrors that event-driven bounded slice with six months of
    * docket dates. At 100 TB you reconcile the partition the event touched;
    * the full-corpus variant (first cut) spent 9.9 s of a 10 s sf1
    * bench row single-threading 1M INSERTs into embedded Derby. */
  val ReconWindowStart = "1997-01-01"
  val ReconWindowEnd = "1997-07-01"

  def q57Reconciliation(spark: SparkSession, dir: String): DataFrame = {
    val table = derbyTable("caseflow_tasks")

    val orders = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(ReconWindowStart).cast("timestamp") &&
        col("o_orderdate") < lit(ReconWindowEnd).cast("timestamp"))
    // the Caseflow extract: subset + corruption + orphan rows, all
    // key-deterministic so the oracle can mirror it in SQL
    val cfSlice = orders
      .filter(col("o_orderkey") % 4 =!= 3)
      .select(col("o_orderkey").as("cf_key"),
        when(col("o_orderkey") % 11 === 1, lit(9))
          .when(col("o_orderstatus") === "F", lit(0))
          .when(col("o_orderstatus") === "O", lit(3))
          .otherwise(lit(1)).as("completion_status"))
      .unionAll(orders.filter(col("o_orderkey") % 13 === 0)
        // -(key+1), not -key: key 0 exists and -0 would collide with it
        .select((-(col("o_orderkey") + 1)).as("cf_key"), lit(0).as("completion_status")))
    // BULK sink (r18, closing the r17 scale-evidence gap): the r17 path
    // pushed the slice through JDBC INSERTs — single-JVM Derby per-row
    // latching was 10.6 of the 10.9 s sf10 pair. The production posture
    // (parallel writers staging shards, the store bulk-loading them) is
    // now what the sandbox measures: Spark writes the slice as CSV
    // shards IN PARALLEL, then Derby's SYSCS_IMPORT_TABLE bulk-loads
    // each shard — sf10 pair 10.88 → see FLOORS. Columns are created
    // quoted-lowercase exactly as Spark's JDBC writer did, so the
    // range-partitioned read below is unchanged.
    val stage = graft.Scratch.dir("graft_q57_csv_")
    cfSlice.write.mode("overwrite").csv(stage)
    val ddl = java.sql.DriverManager.getConnection(DerbyUrl)
    try {
      val st = ddl.createStatement()
      try st.execute(
        s"""CREATE TABLE $table ("cf_key" BIGINT, "completion_status" INT)""")
      finally st.close()
    } finally ddl.close()
    val shards = new java.io.File(stage).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .sortBy(_.getName)
    // ONE importer connection: a 4-way parallel-connection variant
    // measured FLAT at sf10 (4.70 vs 4.71 s — embedded Derby serializes
    // append-mode imports internally), so the simple loop stays. Per
    // the r18 decomposition (q57 arms at sf10): csv write
    // 1.11 s, bulk import of 31 shards / 1.14M rows 2.65 s, JDBC
    // read-back 0.66 s.
    val conn = java.sql.DriverManager.getConnection(DerbyUrl)
    try {
      val c = conn.prepareCall(
        "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(?, ?, ?, ?, ?, ?, ?)")
      try shards.foreach { f =>
        c.setString(1, "APP")
        c.setString(2, table.toUpperCase)
        c.setString(3, f.getAbsolutePath)
        c.setString(4, ",")
        c.setString(5, "\"")
        c.setString(6, "UTF-8")
        c.setInt(7, 0) // append: shards accumulate into one table
        c.execute()
      } finally c.close()
    } finally conn.close()

    // planning read: key bounds for the range-partitioned JDBC scan.
    // MIN/MAX are NULL when no order falls in the reconciliation window
    // (a corpus whose o_orderdate domain misses 1997-H1) — fall back to
    // an unpartitioned read instead of NPEing on the bounds row
    val bounds = derbyRead(spark,
        s"""(SELECT MIN("cf_key") lo, MAX("cf_key") hi FROM $table) b""")
      .load().head()
    val caseflow =
      if (bounds.isNullAt(0)) derbyRead(spark, table).load()
      else derbyRead(spark, table)
        .option("partitionColumn", "cf_key")
        .option("lowerBound", bounds.getLong(0).toString)
        .option("upperBound", bounds.getLong(1).toString)
        .option("numPartitions", "4")
        .load()

    val vacols = orders.select(col("o_orderkey").as("vac_key"),
      when(col("o_orderstatus") === "F", lit("98"))
        .when(col("o_orderstatus") === "O", lit("50"))
        .otherwise(lit("77")).as("loc"))

    val agree = (col("completion_status") === 0 && col("loc") === "98") ||
      (col("completion_status") === 3 && col("loc") === "50") ||
      (col("completion_status") === 1 && col("loc") === "77")
    vacols
      .join(caseflow, col("vac_key") === col("cf_key"), "full_outer")
      .select(coalesce(col("vac_key"), col("cf_key")).as("key"),
        when(col("cf_key").isNull, "missing_in_caseflow")
          .when(col("vac_key").isNull, "missing_in_vacols")
          .when(agree, "consistent")
          .otherwise("rule_violation").as("check_status"))
      .groupBy("check_status")
      .agg(count(lit(1)).as("n_cases"),
        min(col("key")).as("min_key"), max(col("key")).as("max_key"))
      .orderBy("check_status")
  }

  /** The date at which q67's simulated schema drift begins: files
    * written before it lack the `value_band` column. */
  val EvolutionCut = "2024-01-08"

  /** q67: SCHEMA-EVOLUTION lake read — the drift shape every long-lived
    * dataset hits: early files lack a column later files carry (the
    * reference's VACOLS tables gained columns across years; any
    * 100 TB event lake has pre-drift parquet it cannot afford to
    * rewrite). Batch 1 (events before [[EvolutionCut]]) is written
    * WITHOUT `value_band`; batch 2 carries it. The read unions the two
    * footprints with `mergeSchema` (a FOOTER-level union — no file is
    * rewritten, absent columns surface as null), and the aggregation
    * demonstrates the canonical late-schema pattern: count physically
    * evolved rows vs rows needing the COALESCE backfill, with the
    * backfill expression (floor(value/100)) equal to the writer's
    * derivation so the banded sum is drift-transparent.
    *
    * Structural (q39/q43 family): the Spark side pays two writes + the
    * merged read; the oracle restates the end state from the original
    * parquet with the same date split. 100 TB posture: mergeSchema's
    * footer union is listing-time work; the data-side cost is the same
    * single scan + map-side-combined aggregate as any events rollup.
    */
  def q67SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val n = counter.incrementAndGet()
    val b1 = graft.Scratch.dir(s"graft_evo1_${n}_")
    val b2 = graft.Scratch.dir(s"graft_evo2_${n}_")
    val ev = Tables.events(spark, dir)
      .withColumn("event_date", to_date(col("ts")))
    ev.filter(col("event_date") < lit(EvolutionCut))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(b1)
    ev.filter(col("event_date") >= lit(EvolutionCut))
      .withColumn("value_band", floor(col("value") / lit(100.0)).cast("long"))
      .select("event_id", "ts", "user_id", "event_type", "value", "value_band")
      .write.mode("overwrite").parquet(b2)
    spark.read.option("mergeSchema", "true").parquet(b1, b2)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        // classify by the DATE CUT (the rule that decided which schema a
        // row was written with), not by value_band nullness — the null
        // proxy silently leaned on value never being null: a null value
        // in an evolved row writes a null value_band and would flip the
        // row into n_backfilled while the oracle counts it evolved
        sum(when(to_date(col("ts")) >= lit(EvolutionCut), 1L)
          .otherwise(0L)).as("n_evolved"),
        sum(when(to_date(col("ts")) < lit(EvolutionCut), 1L)
          .otherwise(0L)).as("n_backfilled"),
        sum(coalesce(col("value_band"),
          floor(col("value") / lit(100.0)).cast("long"))).as("sum_band"))
      .orderBy("event_type")
  }

  /** q74: corrupt-record QUARANTINE ingest — the PERMISSIVE-mode lake
    * ingestion pattern every production pipeline runs on untrusted
    * feeds: malformed records must neither kill the job (FAILFAST) nor
    * vanish silently (DROPMALFORMED); they land in a
    * `_corrupt_record` quarantine column and the batch report counts
    * them next to the clean rows. The feed is the events table
    * rendered as JSON lines, with every `event_id ≡ 0 (mod 13)` record
    * DETERMINISTICALLY truncated to half length — a prefix of a JSON
    * object is always unbalanced, so exactly that subset is malformed
    * and the DuckDB oracle can restate the report from parquet alone
    * (q57's deterministic-divergence device). Timestamps ride as epoch
    * micros so the JSON round-trip is format-independent.
    *
    * 100 TB posture: render + write one pass; the PERMISSIVE read is a
    * schema-projected scan (corrupt capture is per-row, no shuffle);
    * the report is one map-side-combined aggregate. Structural I/O
    * family (q37/q40): the Spark side genuinely writes and re-parses
    * the feed.
    */
  def q74CorruptIngest(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir(s"graft_corrupt_${counter.incrementAndGet()}_")
    val json = Tables.events(spark, dir)
      .select(to_json(struct(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))).as("value"),
        col("event_id"))
      .select(when(col("event_id") % 13 === 0,
          substring(col("value"), lit(1), (length(col("value")) / 2).cast("int")))
        .otherwise(col("value")).as("value"))
    json.write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts_us", LongType),
      StructField("value", DoubleType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(out)
      .select(
        // Every report column derives from corrupt STATUS, not from what
        // the partial-results parser salvaged: with
        // spark.sql.json.enablePartialResults (default since 3.4) a
        // truncated record can surface event_type/value populated BESIDE
        // _corrupt_record, which would split the quarantine group and
        // leak salvaged values into sum_value (ADVICE r8).
        when(col("_corrupt_record").isNotNull, "quarantined")
          .otherwise("clean").as("status"),
        when(col("_corrupt_record").isNotNull, lit("__QUARANTINE__"))
          .otherwise(col("event_type")) // clean keeps its type — a null
          .as("event_type"),           // source type stays NULL (oracle CASE)
        when(col("_corrupt_record").isNotNull, lit(null).cast("double"))
          .otherwise(col("value")).as("value"))
      .groupBy("status", "event_type")
      .agg(count(lit(1)).as("n_records"),
        round(sum(coalesce(col("value"), lit(0d))), 2).as("sum_value"))
      .orderBy("status", "event_type")
  }

  /** q71 Z-order geometry: each dimension quantizes to [[ZBits]] bits;
    * the layout uses [[ZBuckets]] = 64 directories = the top 6
    * interleaved bits (3 from each dimension). */
  val ZBits = 8
  val ZBuckets = 64

  /** The Morton-interleave arithmetic as SQL text over columns `xs`/`ys`
    * (already quantized to [0, 2^[[ZBits]])) — ONE generator for the
    * Spark expression and the DuckDB oracle; only the infix integer-div
    * operator differs (`DIV` vs `//`). */
  def zkeyExpr(div: String): String =
    (0 until ZBits).map { i =>
      s"((xs $div ${1L << i}) % 2) * ${1L << (2 * i)}" +
        s" + ((ys $div ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** q71: Z-order (Morton) multi-dimensional layout clustering — the
    * Delta/Iceberg `OPTIMIZE ZORDER BY` shape, the third leg of the
    * layout story next to q39 (bucketing) and q43 (date partitioning):
    * orders laid out so that BOTH a customer-keyed and a date-windowed
    * scan prune well. Each dimension min-max-quantizes to 8 bits
    * (integer arithmetic off a broadcast stats row), bits interleave
    * into a 16-bit Morton key, and the write path is p59's device —
    * repartition by the 64-directory bucket + sortWithinPartitions on
    * the full key (each directory gets one internally-ordered file).
    * The report re-reads the layout and proves the clustering: per
    * bucket, the span of EACH dimension in permyriad of its global
    * range — every bucket covers ≈1/8 of the customer range AND ≈1/8 of
    * the date range simultaneously (a single-dim sort gives 1/64 on one
    * dimension and ~10000 pm on the other; Z-order trades to √-balance
    * so min/max file statistics prune on either predicate).
    *
    * 100 TB posture: one stats pass (broadcast 1-row), one projection,
    * one repartition-by-bucket exchange for the write — no global sort
    * (a total Z-order sort would range-partition; the bucket directory
    * form is what lakehouse OPTIMIZE jobs actually emit). The report
    * side is a partial-aggregated rollup to the 64-bucket grain.
    */
  def q71ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir(s"graft_zorder_${counter.incrementAndGet()}_")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("days"))
    val stats = o.agg(
      min("o_custkey").as("cmin"), max("o_custkey").as("cmax"),
      min("days").as("dmin"), max("days").as("dmax"))
    o.crossJoin(broadcast(stats))
      .withColumn("xs", expr(s"(o_custkey - cmin) * ${1L << ZBits} DIV (cmax - cmin + 1)"))
      .withColumn("ys", expr(s"(days - dmin) * ${1L << ZBits} DIV (dmax - dmin + 1)"))
      .withColumn("zkey", expr(zkeyExpr("DIV")))
      .withColumn("zbucket", expr(s"zkey DIV ${(1L << (2 * ZBits)) / ZBuckets}"))
      .select("o_orderkey", "o_custkey", "days", "zkey", "zbucket")
      .repartition(col("zbucket"))
      .sortWithinPartitions("zkey")
      .write.mode("overwrite").partitionBy("zbucket").parquet(out)
    val re = spark.read.parquet(out)
    val st2 = re.agg(
      min("o_custkey").as("cmin"), max("o_custkey").as("cmax"),
      min("days").as("dmin"), max("days").as("dmax"))
    re.groupBy(col("zbucket").cast("long").as("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min("o_custkey").as("bc_min"), max("o_custkey").as("bc_max"),
        min("days").as("bd_min"), max("days").as("bd_max"))
      .crossJoin(broadcast(st2))
      .select(col("zbucket"), col("n_rows"),
        expr("(bc_max - bc_min + 1) * 10000 DIV (cmax - cmin + 1)").as("cust_span_pm"),
        expr("(bd_max - bd_min + 1) * 10000 DIV (dmax - dmin + 1)").as("date_span_pm"))
      .orderBy("zbucket")
  }
}
