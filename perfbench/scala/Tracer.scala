package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-based tracing for the traced run, attached from outside the
  * program: a `SparkListener` (jobs, stages, tasks), a
  * `QueryExecutionListener` (Catalyst phases) and a
  * `StreamingQueryListener` (micro-batches and state).
  *
  * Counters accumulate into one bucket per query execution. The harness
  * runs one query at a time and drains the listener bus before and after
  * each, so every event lands in the bucket of the query that caused it.
  *
  * Spans (run, pass, query, build/evaluate, job, stage) are kept in memory and
  * written as one JSON file by [[finish]], with a per-kind summary of
  * total and self time.
  */
final case class Span(kind: String, name: String, qid: String, start: Double, end: Double,
    stageIds: Seq[Int] = Nil)

final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val lock = new Object
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private val runStart = nowMs
  private var passStart = 0.0
  private var pass = 0
  private var qid = "setup"
  private var qStart = 0.0

  // per-query bucket, written on the listener bus thread
  private val bucket = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val taskIntervals = ArrayBuffer.empty[(Long, Long)]
  private val stageTasks = mutable.Map.empty[Int, ArrayBuffer[Long]]
  private val jobStarts = mutable.Map.empty[Int, (Long, Seq[Int], Boolean)]
  private val streamPeaks = mutable.Map.empty[String, (Double, Double)]

  private def add(k: String, v: Double): Unit = bucket(k) += v
  private def max(k: String, v: Double): Unit = bucket(k) = math.max(bucket(k), v)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val names = e.stageInfos.map(_.name)
      val ckpt = names.exists(n => n.startsWith("localCheckpoint at") || n.startsWith("checkpoint at"))
      add("scheduler.jobs", 1)
      if (names.exists(_.startsWith("parquet at Tables.scala"))) add("Tables.schema_jobs", 1)
      if (ckpt) add("Checkpoints.jobs", 1)
      jobStarts(e.jobId) = (e.time, e.stageIds, ckpt)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(e.jobId).foreach { case (t, stages, ckpt) =>
        if (ckpt) add("Checkpoints.s", (e.time - t) / 1e3)
        spans += Span("job", s"job ${e.jobId}", qid, t.toDouble, e.time.toDouble, stages)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      add("scheduler.stages", 1)
      stageTasks.remove(si.stageId).foreach { ds =>
        val s = ds.sorted
        val med = s(s.size / 2)
        if (med > 0) max("exec.max_task_skew", s.last.toDouble / med)
      }
      for (a <- si.submissionTime; b <- si.completionTime)
        spans += Span("stage", si.name, qid, a.toDouble, b.toDouble, Seq(si.stageId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val ti = e.taskInfo
      add("scheduler.tasks", 1)
      taskIntervals += ((ti.launchTime, ti.finishTime))
      stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += ti.duration
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        max("exec.peak_mem_mb", m.peakExecutionMemory / 1e6)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("shuffle.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        add("sources.written_mb", m.outputMetrics.bytesWritten / 1e6)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = lock.synchronized {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => add(s"catalyst.${p}_s", s.durationMs / 1e3))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = lock.synchronized {
      val p = e.progress
      def dur(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1e3
      add("streaming.batches", 1)
      add("streaming.batch_s", dur("triggerExecution"))
      add("streaming.commit_s", dur("walCommit") + dur("commitOffsets") +
        p.stateOperators.map(_.commitTimeMs).sum / 1e3)
      val rows = p.stateOperators.map(_.numRowsTotal).sum.toDouble
      val mem = p.stateOperators.map(_.memoryUsedBytes).sum / 1e6
      val (r0, m0) = streamPeaks.getOrElse(p.id.toString, (0.0, 0.0))
      streamPeaks(p.id.toString) = (math.max(r0, rows), math.max(m0, mem))
    }
  }

  def install(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  private def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  private def reset(): Unit = lock.synchronized {
    bucket.clear(); taskIntervals.clear(); streamPeaks.clear()
  }

  def beginPass(p: Int): Unit = { pass = p; passStart = nowMs }
  def endPass(): Unit = spans += Span("pass", s"pass $pass", "", passStart, nowMs)

  def beginQuery(p: Int, key: String): Unit = {
    drain(); reset()
    qid = if (p > 0) s"p$p:$key" else s"w${-p}:$key"
    qStart = nowMs
  }

  def phase[T](name: String)(f: => T): T = {
    val a = nowMs
    try f finally spans += Span(name, name, qid, a, nowMs)
  }

  /** Drains the bus and returns the finished query's counters. */
  def endQuery(): Map[String, Double] = {
    val qEnd = nowMs
    drain()
    lock.synchronized {
      spans += Span("query", qid.dropWhile(_ != ':').drop(1), qid, qStart, qEnd)
      streamPeaks.values.foreach { case (r, m) =>
        add("streaming.state_rows", r); add("streaming.state_mb", m)
      }
      val busy = union(taskIntervals.map { case (a, b) => (a.toDouble, b.toDouble) }.toSeq, qStart, qEnd)
      add("scheduler.idle_s", math.max(0.0, (qEnd - qStart) - busy) / 1e3)
      val out = bucket.toMap
      qid = "between"
      out
    }
  }

  def beginProbe(name: String): Unit = { drain(); reset(); qid = s"probe:$name"; qStart = nowMs }
  def endProbe(): Unit = {
    val e = nowMs
    drain()
    lock.synchronized { spans += Span("probe", qid, qid, qStart, e); qid = "between" }
  }

  /** Covered length of `xs` clipped to [lo, hi]. */
  private def union(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (curA.isNaN) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { covered += curB - curA; curA = a; curB = b }
      }
    if (!curA.isNaN) covered += curB - curA
    covered
  }

  /** Links spans to parents and writes them with a per-kind summary to
    * `path`. */
  def finish(path: String): Unit = {
    drain()
    val all = lock.synchronized {
      (spans :+ Span("run", "run", "", runStart, nowMs)).toIndexedSeq
    }
    val idx = all.zipWithIndex
    def within(s: Span, p: Span) = p.start <= s.start && s.start <= p.end
    val byKind = idx.groupBy(_._1.kind)
    def pick(kind: String, s: Span, sameQuery: Boolean): Option[Int] =
      byKind.getOrElse(kind, Nil).collectFirst {
        case (p, i) if within(s, p) && (!sameQuery || p.qid == s.qid) => i
      }
    val jobOfStage: Map[Int, Int] = idx.collect {
      case (s, i) if s.kind == "job" => s.stageIds.map(_ -> i)
    }.flatten.toMap
    val root = all.size - 1
    val parent: IndexedSeq[Int] = idx.map { case (s, i) =>
      s.kind match {
        case "run" => -1
        case "pass" | "probe" => root
        case "query" => pick("pass", s, sameQuery = false).getOrElse(root)
        case "build" | "evaluate" => pick("query", s, sameQuery = true).getOrElse(root)
        case "job" => pick("build", s, true).orElse(pick("evaluate", s, true))
          .orElse(pick("query", s, true)).orElse(pick("probe", s, true)).getOrElse(root)
        case "stage" => s.stageIds.headOption.flatMap(jobOfStage.get).getOrElse(root)
        case _ => root
      }
    }
    val children = parent.zipWithIndex.filter(_._1 >= 0).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val self = idx.map { case (s, i) =>
      val kids = children.getOrElse(i, Nil).map(all).map(c => (c.start, c.end))
      (s.end - s.start) - union(kids, s.start, s.end)
    }
    val J = Json
    val summary = J.obj(byKind.toSeq.sortBy(_._1).map { case (kind, ss) =>
      kind -> J.obj("count" -> J.num(ss.size.toDouble),
        "total_s" -> J.num(ss.map(x => x._1.end - x._1.start).sum / 1e3),
        "self_s" -> J.num(ss.map(x => self(x._2)).sum / 1e3))
    }: _*)
    val spanJson = idx.map { case (s, i) =>
      J.obj("id" -> J.num(i.toDouble), "parent" -> J.num(parent(i).toDouble), "kind" -> J.str(s.kind),
        "name" -> J.str(s.name), "query" -> J.str(s.qid),
        "start_ms" -> J.num(s.start - runStart), "end_ms" -> J.num(s.end - runStart),
        "self_ms" -> J.num(self(i)))
    }
    Files.writeString(Paths.get(path),
      J.obj("summary" -> summary, "spans" -> J.arr(spanJson)) + "\n")
  }
}
