package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults — the one place a
  * graft session's confs are decided. Verify, Bench, the tests and the
  * test-scope tools all build their sessions here (a tool that needs a
  * different conf sets it on the returned session). Shuffle partitions
  * default to local core count — size to cluster width in production.
  * AQE stays on for runtime coalescing and skew-join splitting. graft's
  * SQL functions are registered here too, so `graft_*` SQL runs on
  * in-memory frames before any table is loaded.
  */
object GraftSession {
  def create(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet carries TIMESTAMP(NANOS), which Spark 4 refuses
      // by default — the blessed session sets the shim at build time
      // (Tables.ensureNanosShim self-heals foreign sessions)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ObjectHashAggregate (graft_collect_capped, graft_last_by2)
      // keeps hashing up to 256k groups per task before degrading to
      // its sort-based spill path; Spark's default of 128 was tuned
      // for percentile-sized buffers, while graft's imperative buffers
      // are bounded small (≤ ~32 B + value / ≤ cap longs), so 256k
      // entries cost tens of MB per task — far under executor memory
      // at any sane task count, and the fallback still bounds the
      // worst case. NOTE the conf is SESSION-GLOBAL (ADVICE r17): it
      // also governs built-in TypedImperativeAggregates — today's
      // collect_list sites all aggregate bounded centroid-sized
      // grains, but any future corpus-grain collect_list should set
      // this per-query via spark.conf around the aggregate instead of
      // inheriting the raised threshold.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
