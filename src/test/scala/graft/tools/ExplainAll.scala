package graft

import java.nio.file.{Files, Paths}

/** Dumps the formatted physical plan of every SparkEntry query to a
  * markdown file (docs/PLANS.md) — the `.explain("formatted")` review
  * artifact for plan-quality auditing: PushedFilters, ReadSchema
  * pruning, join strategies, exchange counts, codegen spans.
  *
  * Usage: tools/run.sh graft.ExplainAll /root/testdata/sf0.001 docs/PLANS.md
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outPath) = args
    val spark = GraftSession.create(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans (sf=" + sfDir + ", local[4], AQE off for readability)\n\n")
    sb.append("Generated by `graft.ExplainAll`. Streaming queries (st33/st34) are\n")
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
    Files.createDirectories(Paths.get(outPath).getParent)
    Files.writeString(Paths.get(outPath), sb.toString)
    println(s"wrote $outPath")
    spark.stop()
  }
}
