package graft

import java.nio.file.{Files, Paths}

/** Dumps the formatted physical plan of every batch SparkEntry query to
  * a markdown file, on demand — the `.explain("formatted")` view for
  * plan-quality auditing: PushedFilters, ReadSchema pruning, join
  * strategies, exchange counts, codegen spans. Streaming (st*) keys are
  * skipped: their plans are per-micro-batch. PlanSpec guards plan shape;
  * this dump is for reading and for diffing two trees.
  *
  * Usage: tools/run.sh graft.ExplainAll <sfDir> /tmp/plans.md
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outPath) = args
    val spark = GraftSession.create(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans (sf=" + sfDir + ", local[4], AQE off for readability)\n\n")
    sb.append("Generated by `graft.ExplainAll`. Streaming queries (every st* key) are\n")
    sb.append("excluded — their plans are per-micro-batch.\n\n")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!name.startsWith("st")) {
        sb.append(s"## $name\n\n```\n")
        try {
          val df = fn(spark, sfDir)
          sb.append(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}") }
        sb.append("\n```\n\n")
      }
    }
    val out = Paths.get(outPath)
    Option(out.getParent).foreach(Files.createDirectories(_))
    Files.writeString(out, sb.toString)
    println(s"wrote $outPath")
    spark.stop()
  }
}
