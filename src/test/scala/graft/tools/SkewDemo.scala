package graft

import org.apache.spark.sql.functions._

/** Measured skew exercise for d30's salted hot-span probe (SURVEY §5).
  *
  * PlanSpec pins the salt's SEMANTICS at toy scale; this harness
  * measures the salt's EFFECT at sf1-like scale: a synthetic corpus
  * where 30% of documents share one license span funnels every posting
  * of a single span hash toward one shuffle partition, and AQE's
  * OptimizeSkewedJoin cannot fire on this shape (the index side
  * aggregates above its shuffle — round-7 adjudication), so the
  * explicit pmod(doc_id, width) salt is the only defense. Run with
  * `tools/run.sh graft.SkewDemo [nDocs] [hotPermille]`; prints, per
  * salt width (1 = unsalted, SpanProbeSalt = production):
  *   - max rows landing on one (h, salt) join key (the skew evidence)
  *   - wall seconds for the full d30 aggregation (min of two passes)
  */
object SkewDemo {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 400000L
    val hotPm = if (args.length > 1) args(1).toInt else 300
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.create(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val w = operators.Dedup.SpanTokens
    val license = (1 to w).map(i => s"license$i").mkString(" ")
    // hot docs: the shared license span + 2 unique tokens (3 windows);
    // clean docs: w unique tokens (1 window)
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(1000)) < hotPm,
        concat(lit(license + " "),
          expr("concat('u', id, '_a u', id, '_b')")))
        .otherwise(expr(
          s"concat_ws(' ', transform(sequence(1, $w), i -> concat('w', id, '_', i)))"))
        .as("text"))
      .localCheckpoint() // corpus synthesis must not ride inside the timed plans
    def keySpread(width: Int): (Long, Long) = {
      val g = operators.Dedup.spanPostingsCore(docs)
        .withColumn("salt", pmod(col("doc_id"), lit(width.toLong)))
        .groupBy("h", "salt").agg(count(lit(1)).as("n"))
        .agg(max(col("n")), count(lit(1))).head()
      (g.getLong(0), g.getLong(1))
    }
    def time(width: Int): Double = {
      def pass(): Double = {
        val t0 = System.nanoTime()
        operators.Dedup.d30SpanScoreCore(docs, width).count()
        (System.nanoTime() - t0) / 1e9
      }
      pass(); math.min(pass(), pass()) // warmup + min of two
    }
    Seq(1, operators.Dedup.SpanProbeSalt).foreach { width =>
      val (mx, keys) = keySpread(width)
      val sec = time(width)
      println(f"width=$width%2d  max_rows_one_key=$mx%9d  n_keys=$keys%9d  d30_sec=$sec%7.2f")
    }
    spark.stop()
  }
}
