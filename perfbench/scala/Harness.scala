package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{GraftSession, SparkEntry, Tables}

/** One benchmark run inside one JVM.
  *
  * Builds the session with the program's own factory and warms up with
  * [[WarmupPasses]] untimed passes; the first writes every key's output
  * to parquet under `--check-out` for the caller's oracle check. Then it
  * times whole passes over a fixed key list until `--seconds` have
  * passed, at least [[MinPasses]] ran and at least [[MinExecutions]]
  * executions were timed.
  * Each execution is the query function (the build, which includes any
  * eager work) followed by full evaluation to the `noop` sink, with an
  * untimed `System.gc()` before it.
  *
  * With `--trace 1` the [[Tracer]] listeners record per-layer counters
  * and spans; the timings of a traced run are not end-to-end figures.
  *
  * Everything is written as one JSON object to `--result`.
  */
object Harness {
  /** Timed passes a run makes at least: a per-key median needs three. */
  val MinPasses = 3
  /** Timed executions a run makes at least: with fewer, the median over
    * all of them moved with the number of passes a slow host left room
    * for (five-key `corpus`: four passes instead of five). */
  val MinExecutions = 24
  /** Untimed passes, the checked one included: after only one, the first
    * timed passes still ran 12-20% slow. */
  val WarmupPasses = 2

  final case class Exec(pass: Int, key: String, buildS: Double, runS: Double,
      error: Option[String], layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val spawnMs = opt("spawn-ms").toLong
    val data = opt("data")
    val keys = opt("keys").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val checkOut = opt("check-out")
    val tables = new java.io.File(data).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    val scratch = Paths.get(System.getProperty("java.io.tmpdir"))

    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")
    val fns = keys.map(k => k -> SparkEntry.queries(k))

    val t0 = System.nanoTime()
    val spark = GraftSession.create()
    val startS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())

    def evaluate(df: DataFrame, key: String, check: Boolean): Unit =
      if (check) df.coalesce(1).write.mode("overwrite").parquet(s"$checkOut/$key")
      else df.write.format("noop").mode("overwrite").save()

    // One execution: untimed gc, timed build + run. A throwing key is
    // recorded with its error and no time.
    def execute(pass: Int, key: String, fn: (SparkSession, String) => DataFrame,
        check: Boolean = false): Exec = {
      System.gc()
      tracer.foreach(_.beginQuery(pass, key))
      val a = System.nanoTime()
      var b = a
      val err = try {
        val df = tracer.fold(fn(spark, data))(_.phase("build")(fn(spark, data)))
        b = System.nanoTime()
        tracer.fold(evaluate(df, key, check))(_.phase("evaluate")(evaluate(df, key, check)))
        None
      } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      }
      val c = System.nanoTime()
      val layers = tracer.fold(Map.empty[String, Double])(_.endQuery())
      if (err.isDefined) Exec(pass, key, 0, 0, err, layers)
      else Exec(pass, key, (b - a) / 1e9, (c - b) / 1e9, None, layers)
    }

    // warm-up: JIT, codegen caches, file listing, first touch of every
    // input; the first pass also leaves the outputs for the check
    val checkErrors = fns.flatMap { case (k, fn) =>
      execute(-1, k, fn, check = true).error.map(k -> _)
    }.toMap
    for (w <- 2 to WarmupPasses; (k, fn) <- fns) execute(-w, k, fn)
    val setupS = (System.currentTimeMillis() - spawnMs) / 1000.0

    val execs = ArrayBuffer.empty[Exec]
    val passFiles = ArrayBuffer.empty[Double]
    val loadS = ArrayBuffer.empty[Double]
    val timedStart = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || execs.size < MinExecutions ||
        (System.nanoTime() - timedStart) / 1e9 < seconds) {
      pass += 1
      tracer.foreach(_.beginPass(pass))
      val files0 = if (traced) countFiles(scratch) else 0L
      fns.foreach { case (k, fn) => execs += execute(pass, k, fn) }
      if (traced) passFiles += (countFiles(scratch) - files0).toDouble
      tracer.foreach(_.endPass())
      // direct Tables.load per input, between passes, outside the pass span
      if (traced) tables.foreach { t =>
        tracer.foreach(_.beginProbe(s"Tables.load:$t"))
        val l0 = System.nanoTime()
        Tables.load(spark, data, t)
        loadS += (System.nanoTime() - l0) / 1e9
        tracer.foreach(_.endProbe())
      }
    }

    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val retainedMb = heap.getUsed / 1e6

    val fnRates = tracer.fold(Map.empty[String, Double])(_ => functionRates(spark, data))

    tracer.foreach(_.finish(opt("trace-out")))

    val J = Json
    val out = J.obj(
      "session_start_s" -> J.num(startS),
      "setup_s" -> J.num(setupS),
      "retained_heap_mb" -> J.num(retainedMb),
      "execs" -> J.arr(execs.map { e =>
        J.obj("pass" -> J.num(e.pass.toDouble), "key" -> J.str(e.key),
          "build_s" -> J.num(e.buildS), "run_s" -> J.num(e.runS),
          "error" -> e.error.fold("null")(J.str),
          "layers" -> J.obj(e.layers.toSeq.sorted.map { case (n, v) => n -> J.num(v) }: _*))
      }.toSeq),
      "check_errors" -> J.obj(checkErrors.toSeq.sorted.map { case (k, v) => k -> J.str(v) }: _*),
      "tables_load_s" -> J.arr(loadS.map(J.num).toSeq),
      "pass_files" -> J.arr(passFiles.map(J.num).toSeq),
      "function_rows_per_s" -> J.obj(fnRates.toSeq.sorted.map { case (n, v) => n -> J.num(v) }: _*))
    Files.writeString(Paths.get(opt("result")), out + "\n")
    spark.stop()
  }

  private def countFiles(dir: Path): Long = {
    val w = Files.walk(dir)
    try w.filter(p => Files.isRegularFile(p)).count() finally w.close()
  }

  /** One-function projections, each evaluated fully; rows per second is
    * the input row count over the median of three timings. */
  private def functionRates(spark: SparkSession, data: String): Map[String, Double] = {
    val docs = Tables.documents(spark, data)
    val embs = Tables.embeddings(spark, data)
    val probes = Seq(
      ("graft_ws_token_count", docs, "graft_ws_token_count(text)"),
      ("graft_minhash_bands", docs, "graft_minhash_bands(graft_shingles3(split(text, ' ')))"),
      ("graft_simhash48", docs, "graft_simhash48(array_distinct(split(text, ' ')))"),
      ("graft_shingle_hashes3", docs, "graft_shingle_hashes3(split(text, ' '))"),
      ("graft_entropy_stats", docs, "graft_entropy_stats(text)"),
      ("graft_dot", embs, "graft_dot(embedding, embedding)"))
    probes.map { case (name, df, e) =>
      val rows = df.count().toDouble
      val ts = (1 to 3).map { _ =>
        val a = System.nanoTime()
        df.selectExpr(e).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - a) / 1e9
      }.sorted
      name -> rows / ts(1)
    }.toMap
  }
}

/** Minimal JSON rendering; values are pre-rendered strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Writes every key's oracle SQL as one JSON object to `args(0)`, for
  * the DuckDB check. */
object OracleSql {
  def main(args: Array[String]): Unit = Files.writeString(Paths.get(args(0)),
    Json.obj(SparkEntry.oracleSql.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }: _*))
}
