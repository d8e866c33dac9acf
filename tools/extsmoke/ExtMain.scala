package extuser

import org.apache.spark.sql.SparkSession

/** Package-boundary smoke, cluster-path edition (VERDICT r15 #5).
  *
  * Simulates a managed-cluster user: a session built from CONFIGURATION
  * only — `spark.sql.extensions=graft.GraftExtensions`, no
  * `GraftSession`, no explicit `GraftFunctions.register` — compiled and
  * run against the PUBLISHED jar (tools/extsmoke.sh keeps
  * target/scala-2.13/classes off the classpath).
  *
  * Leg 1 resolves graft functions via pure SQL BEFORE any graft.* operator
  * code runs, so the only way the functions can exist is the extensions
  * injection itself (the first table load registers them as temp
  * functions, which would mask a broken injection if an operator ran
  * first).
  * Leg 2 runs kernel-dependent operators end-to-end through the
  * SparkEntry boundary on the same session.
  */
object ExtMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-extsmoke")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

    // Leg 1: functions must already be injected — text and vector
    // kernels and the capped-collect aggregate.
    val dot = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    require(dot == 11.0, s"graft_dot not injected correctly: $dot")
    val capped = spark.sql(
      """SELECT size(graft_collect_capped(x, 10)) AS n
        |FROM VALUES (1L), (2L), (3L) AS t(x)""".stripMargin)
      .collect()(0).getInt(0)
    require(capped == 3, s"graft_collect_capped not injected correctly: $capped")
    val sig = spark.sql("SELECT size(graft_minhash_sig(array('a b c', 'b c d'))) AS n")
      .collect()(0).getInt(0)
    require(sig > 0, s"graft_minhash_sig not injected correctly: $sig")
    // a kernel with a constant argument, and one whose result may be
    // NULL for non-null arguments (length mismatch)
    val windows = spark.sql("SELECT size(graft_window_hashes(array('a', 'b', 'c'), 2)) AS n")
      .collect()(0).getInt(0)
    require(windows == 2, s"graft_window_hashes not injected correctly: $windows")
    val xhat = spark.sql(
      """SELECT graft_sq_xhat(array(5L), array(0L), array(10L)) AS x,
        |       graft_sq_xhat(array(1L, 2L), array(0L, 0L), array(1L)) AS mismatch""".stripMargin)
      .collect()(0)
    require(xhat.getSeq[Long](0) == Seq(4L) && xhat.isNullAt(1),
      s"graft_sq_xhat not injected correctly: $xhat")
    println(s"EXTSMOKE leg1 OK: graft_dot=$dot capped=$capped sig_len=$sig " +
      s"windows=$windows sq_xhat=${xhat.getSeq[Long](0).mkString("[", ",", "]")}")

    // Leg 2: kernel-dependent operators end-to-end through SparkEntry.
    val d22 = graft.SparkEntry.queries("d22_minhash_lsh")(spark, sfDir).count()
    val t33 = graft.SparkEntry.queries("t33_pii_scrub")(spark, sfDir).count()
    require(t33 > 0, "t33_pii_scrub returned no rows")
    println(s"EXTSMOKE leg2 OK: d22=$d22 rows, t33=$t33 rows")

    // Driver's entry smoke on the same config-built session.
    val n = graft.SparkEntry.entry(spark).count()
    require(n > 0, "SparkEntry.entry returned no rows")
    println(s"EXTSMOKE entry OK: $n rows")
    spark.stop()
  }
}
