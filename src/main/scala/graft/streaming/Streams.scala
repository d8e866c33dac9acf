package graft.streaming

import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Checkpoints.Ops

/** Structured Streaming operators st33–st34 (SURVEY.md §2).
  *
  * The batch parquet drives a real streaming query (readStream →
  * transforms → memory sink, processAllAvailable) so the streaming
  * plumbing — watermarks, windowed state, output modes — is exercised
  * end-to-end while remaining deterministic for the DuckDB oracle.
  */
object Streams {
  private val counter = new AtomicInteger(0)

  /** State-store partition count for these bounded-replay streaming ops.
    *
    * Stateful streaming operators fix their state partitioning at query
    * start from `spark.sql.shuffle.partitions`, and every micro-batch
    * commits one state-store delta file PER STORE PER PARTITION (a
    * stream–stream join runs 4 stores per partition). At local[32] that
    * is 128 store commits per batch for st37 — pure fixed overhead when
    * a partition holds a few thousand rows. 8 partitions cut the commit
    * fan-out 4× while still exercising parallel state. At production
    * scale this is the knob sized to cluster width (state volume /
    * ~100 MB per store), NOT a constant — the point is that it is a
    * per-query sizing decision, so the runner scopes it to the stream
    * start and restores the session value immediately after.
    *
    * Re-measured at sf1 under the r11 noop protocol: 32 partitions is
    * WORSE on every heavy leg (st37 3.3 → 9.0 s, st48 3.9 → 5.1, st42
    * 7.9 → 8.1, st46 6.1 → 6.7) — even with 1M-event batches these
    * legs are store-commit/machinery-bound, not state-parallelism
    * bound, so 8 stands at every tested SF.
    */
  val StatePartitions = 8

  /** Start `df` as a memory-sink streaming query, drain it, and return
    * the result DETACHED from the sink. The shuffle-partition override
    * is set just for the window between start() and the conf restore —
    * stateful operators capture it at start, so the session-global value
    * never changes for callers (the VERDICT r3 "operators mutate session
    * conf" hygiene rule: scoped set/restore at one sanctioned point, not
    * per-op side effects).
    *
    * Sink hygiene (ADVICE r15): a memory sink pins its full result set
    * in driver memory until its temp view drops. The r15 shape kept the
    * last view alive per (session, prefix) in a strong-keyed map — which
    * pinned sessions for the JVM's lifetime AND left returned frames
    * lazily referencing a view a later re-invocation would drop. Both
    * hazards die here: the drained result is eagerly materialized off
    * the sink (`localCheckpoint` — these sinks are bounded by
    * construction, complete-mode aggregates or watermark-bounded append
    * sets), and the view drops before returning, so live sinks are
    * bounded at ZERO per operator and the returned frame survives any
    * re-invocation or catalog churn. localCheckpoint (not reliable
    * checkpoint) is correct here regardless of [[graft.Checkpoints]]
    * mode: a memory sink is already driver-local, so executor-loss
    * recomputability is moot.
    */
  private def runToTable(spark: SparkSession, df: DataFrame,
      mode: String, prefix: String): DataFrame = {
    val name = s"${prefix}_out_${counter.incrementAndGet()}"
    val key = "spark.sql.shuffle.partitions"
    // the set -> start -> restore window is serialized: with two ops on
    // one session, an unsynchronized interleaving either leaks the
    // scoped value into the session (A restores after B saved A's value
    // as "prev") or starts B's stateful query at the session default —
    // both break this function's scoped-conf contract
    val q = confLock.synchronized {
      val prev = spark.conf.get(key)
      try {
        spark.conf.set(key, StatePartitions.toString)
        df.writeStream.outputMode(mode).format("memory").queryName(name).start()
      } finally spark.conf.set(key, prev)
    }
    try q.processAllAvailable() finally q.stop()
    val out = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    out
  }
  /** Lock for runToTable's scoped-conf window. */
  private object confLock

  /** Streaming source over one table: the schema comes from the batch
    * loader ([[graft.Tables.load]], memoized per session), then the
    * stream reads the same `<name>.parquet` file. */
  private def tableStream(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.readStream.schema(graft.Tables.load(spark, dir, name).schema)
      .option("pathGlobFilter", s"$name.parquet").parquet(dir)

  /** Streaming source over the events table. The nanos shim is applied
    * via the one sanctioned loader hook ([[graft.Tables.ensureNanosShim]])
    * — stream operators themselves never mutate session conf — and `ts`
    * is normalized to a micros TimestampType instant by the same shared
    * definition the batch loader uses ([[graft.Tables.normalizeEventTs]]),
    * so batch and stream cannot drift on the physical ts type.
    */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.ensureNanosShim(spark)
    graft.Tables.normalizeEventTs(tableStream(spark, dir, "events"))
  }

  /** st33: tumbling-window aggregation with watermark.
    * 1-hour event-time windows per event_type; complete mode to a memory
    * sink so every window is emitted regardless of watermark progress.
    * Epoch-aligned windows ≡ date_trunc('hour', ts) in the oracle.
    */
  def st33StreamWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
    val agg = ev
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
    runToTable(spark, agg, "complete", "st33")
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("hour_start", "event_type")
  }

  /** st35: streaming exactly-once deduplication — `dropDuplicates` over
    * the key columns with streaming state, the building block of
    * idempotent event ingestion (a re-delivered event must not double
    * count). Output is the distinct key set, which is deterministic
    * regardless of arrival order; the oracle is batch SELECT DISTINCT.
    * At scale the dedup state is per-key and watermark-expirable; the
    * bounded replay here keeps NoTimeout state.
    */
  def st35StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val dd = eventsStream(spark, dir).select(col("user_id"), col("event_type"))
      .dropDuplicates(Seq("user_id", "event_type"))
    runToTable(spark, dd, "append", "st35").orderBy("user_id", "event_type")
  }

  /** st36: stream–static join — the streaming fact joins a broadcast
    * batch dim (user → customer → market segment) before aggregating;
    * the standard enrichment shape (no stream-stream state, the dim is
    * re-broadcast per micro-batch). Complete-mode windowless agg to a
    * memory sink; oracle is the batch join + group.
    */
  def st36StreamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
    val dim = broadcast(graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment")))
    val agg = ev.join(dim, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
    runToTable(spark, agg, "complete", "st36").orderBy("c_mktsegment")
  }

  /** st37: stream–stream inner join with an event-time range condition —
    * view→purchase attribution: each purchase joins the same user's
    * views in the preceding 30 minutes. Watermarks on BOTH sides plus
    * the time bound let Spark expire join state (a view older than
    * watermark + 30 min can never match again), so state is bounded by
    * the in-flight window, not the stream. Inner-join matches emit as
    * they are found (no watermark gating, unlike outer joins), so the
    * bounded replay is deterministic; the oracle is the batch self-join
    * with the identical range predicate.
    */
  def st37StreamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_event"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_event"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = views.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") < col("view_ts") + expr("interval 30 minutes"))
    runToTable(spark, joined.select("user_id", "view_event", "purchase_event"),
        "append", "st37")
      .orderBy("user_id", "view_event", "purchase_event")
  }

  /** st38: streaming corpus admission — d27's nightly batch-vs-corpus
    * check as a CONTINUOUS ingestion query: the stream of newly arrived
    * docs (d27's doc_id % 5 batch rule) runs two stream–static joins
    * against the standing corpus's materialized indexes (distinct
    * content hashes; distinct minhash band buckets) and emits a
    * precedence-ordered admission status per doc. Statuses depend only
    * on the STATIC indexes — never on arrival order or stream state —
    * so the result is deterministic and batch-mirrorable; d27's
    * `exact_batch` (within-batch leader election) is deliberately not
    * replicated because a streaming leader would be first-arrival,
    * i.e. racy — the admitted set is re-led by the next full p55 pass,
    * exactly as d27 documents for within-batch near-dups.
    *
    * Scale posture: the band explode multiplies the (small) stream side
    * only; both joins probe static indexes that production keeps
    * materialized between increments (broadcast when they fit, shuffled
    * equi-joins otherwise); the per-doc status aggregation is keyed
    * state a watermark would expire in production (bounded replay here
    * uses complete mode, st36's harness shape).
    */
  def st38StreamCorpusAdmit(spark: SparkSession, dir: String): DataFrame = {
    val isBatch = pmod(col("doc_id"), lit(graft.operators.Dedup.IncrementalBatchMod.toLong)) === 0L
    val docs = graft.Tables.documents(spark, dir)
    val corpusH = docs.filter(!isBatch)
      .select(md5(col("text")).as("h")).distinct()
      .withColumn("in_corpus", lit(true))
    // the corpus band index rides the SHARED shingling definition
    // (Dedup.shingled: words/>=3-filter/kernel + the scan rebalance that
    // keeps the band family's heaviest pass off one core) — an inline
    // re-implementation here (r15 review) silently lost the rebalance
    // and could drift from d22/d27/d38 on a threshold change
    val corpusBands = graft.operators.Dedup.shingled(spark, dir)
      .filter(!isBatch)
      .select(posexplode(expr("graft_minhash_bands(shingles)"))
        .as(Seq("band_idx", "band_key")))
      .distinct()
      .withColumn("band_hit", lit(true))
    val stream = tableStream(spark, dir, "documents")
      .filter(isBatch)
      .withColumn("h", md5(col("text")))
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), col("h"),
        posexplode_outer(when(size(col("words")) >= 3,
          expr("graft_minhash_bands(graft_shingles3(words))")))
          .as(Seq("band_idx", "band_key")))
      .join(broadcast(corpusH), Seq("h"), "left")
      .join(broadcast(corpusBands), Seq("band_idx", "band_key"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("in_corpus")).as("in_corpus"), max(col("band_hit")).as("is_near"))
      .select(col("doc_id"),
        when(col("in_corpus"), "exact_corpus")
          .when(col("is_near"), "near_corpus")
          .otherwise("admitted").as("status"))
    runToTable(spark, stream, "complete", "st38").orderBy("doc_id")
  }

  /** st39: streaming file sink — the continuous-ingestion WRITE path the
    * other st ops (memory sinks) never exercise: readStream → project →
    * `writeStream.format("parquet")` with a checkpoint directory. The
    * parquet sink is transactional: each micro-batch commits atomically
    * to the `_spark_metadata` log, and readers list files THROUGH that
    * log, so output is exactly-once across restarts (an orphaned file
    * from a failed batch is invisible). After draining, the sink
    * directory is read back and aggregated; the oracle states the same
    * aggregate over the original table, so sink fidelity — schema,
    * values, no duplicated or dropped batches — is value-checked, not
    * just smoke-checked.
    *
    * Scale posture: stateless pass-through (no watermark state); at
    * production scale this is the ingestion leg that lands a streaming
    * source as date-partitioned parquet (q43's layout) for the batch
    * operators to consume.
    */
  def st39StreamFileSink(spark: SparkSession, dir: String): DataFrame = {
    val n = counter.incrementAndGet()
    val out = graft.Scratch.dir(s"graft_st39_out_${n}_")
    val ckpt = graft.Scratch.dir(s"graft_st39_ck_${n}_")
    val ev = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
    val q = ev.writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(out)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("user_id")
  }

  /** st40: streaming semantic routing — newly arriving embeddings
    * (d27's `% 5` arrival rule, on vec_id) are assigned to the STANDING
    * corpus's k-means clusters as they stream in: the model (s30's
    * quantized Lloyd centroids, trained on the standing set only) is a
    * 1-row packed static frame broadcast into a stream–static join, and
    * the per-row argmin runs inside the stream via the codegen'd
    * `graft_kmeans_argmin`. This is the online leg of the s30→p62
    * curation pair: route arrivals to semantic buckets continuously,
    * re-balance (p62) in the next batch pass. Output is the per-cluster
    * routing table (arrival count, closest/mean distance) — a function
    * of the static model + arrival SET only, never arrival order, so
    * the complete-mode replay is deterministic and batch-mirrorable.
    *
    * Scale posture: the model payload is K·64 longs — broadcast per
    * micro-batch like st36's dim; assignment is stateless per row (no
    * stream state beyond the final K-row aggregation); exact-integer
    * distances mean the oracle reproduces every value bit-for-bit.
    */
  def st40StreamClusterAssign(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val standing = Similarity.quantize(
      graft.Tables.embeddings(spark, dir)
        .filter(pmod(col("vec_id"), lit(graft.operators.Dedup.IncrementalBatchMod.toLong)) =!= 0L))
    val packed = broadcast(Similarity.packCentroids(Similarity.kmeansModel(standing)))
    val arriving = Similarity.quantize(
      tableStream(spark, dir, "embeddings").filter(pmod(col("vec_id"), lit(graft.operators.Dedup.IncrementalBatchMod.toLong)) === 0L))
    val routed = arriving.join(packed, lit(true), "inner")
      .withColumn("key", expr("graft_kmeans_argmin(q, cents)"))
      .select((col("key") % 100).cast("int").as("cid"),
        expr("key div 100L").as("dist"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_arrivals"), min(col("dist")).as("min_dist"),
        sum(col("dist")).as("sum_dist"))
    runToTable(spark, routed, "complete", "st40")
      .select(col("cid"), col("n_arrivals"), col("min_dist"),
        expr("sum_dist DIV n_arrivals").as("avg_dist"))
      .orderBy("cid")
  }

  case class Ev(user_id: Long, us: Long)
  case class SessionState(start: Long, end: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: Instant,
      session_end: Instant, n_events: Long)

  private val GapUs = 1800L * 1000000L

  /** Merge an interval (s0, e0, n0 events) into a sorted buffer of
    * DISJOINT session intervals (the st34 per-key state fold). Exposed
    * for property tests: gap sessionization is the transitive closure of
    * within-gap adjacency, so folding events in ANY order must produce
    * the sorted-scan partition — the test feeds random permutations.
    *
    * PRECONDITION (ADVICE r3): at most ONE successor is merged, which is
    * only sound because (a) intervals already in the buffer are >gap
    * separated, and (b) a possibly-WIDE interval (the carried state) is
    * only ever folded into an EMPTY buffer — st34 folds state first,
    * then point events (width 0, which can bridge at most predecessor +
    * one successor). Folding a wide interval into a populated buffer
    * could span ≥2 existing intervals and would leave overlapping
    * entries; loop the successor merge before reusing this elsewhere.
    */
  private[graft] def mergeInterval(iv: ArrayBuffer[SessionState],
      s0: Long, e0: Long, n0: Long, gapUs: Long = GapUs): Unit = {
    var lo = 0; var hi = iv.length
    while (lo < hi) { // first interval with start > s0
      val m = (lo + hi) >>> 1
      if (iv(m).start <= s0) lo = m + 1 else hi = m
    }
    val predIdx = lo - 1
    val mergePred = predIdx >= 0 && s0 - iv(predIdx).end <= gapUs
    if (mergePred) {
      val p = iv(predIdx)
      iv(predIdx) = SessionState(p.start, math.max(p.end, e0), p.n + n0)
      // the widened predecessor may now bridge into the successor
      if (lo < iv.length && iv(lo).start - iv(predIdx).end <= gapUs) {
        val q = iv(lo)
        iv(predIdx) = SessionState(iv(predIdx).start,
          math.max(iv(predIdx).end, q.end), iv(predIdx).n + q.n)
        iv.remove(lo)
      }
    } else if (lo < iv.length && iv(lo).start - e0 <= gapUs) {
      val q = iv(lo)
      iv(lo) = SessionState(s0, math.max(q.end, e0), q.n + n0)
    } else {
      iv.insert(lo, SessionState(s0, e0, n0))
    }
  }

  /** st34: stateful gap sessionization via flatMapGroupsWithState —
    * the streaming form of q07. A session is emitted when a subsequent
    * event of the same user closes it (gap > 30 min); each user's
    * trailing session stays open in state (deliberately un-emitted, so
    * the output is deterministic and watermark-boundary-free: the oracle
    * is q07's sessions minus each user's last).
    */
  def st34StreamSession(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .as[Ev]
    def toOut(uid: Long, s: SessionState): SessionOut = SessionOut(uid,
      Instant.ofEpochSecond(s.start / 1000000L, (s.start % 1000000L) * 1000L),
      Instant.ofEpochSecond(s.end / 1000000L, (s.end % 1000000L) * 1000L),
      s.n)
    val sessions = ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (uid, it, state) =>
        // Incremental interval merge: events stream through one at a time
        // and fold into a sorted buffer of DISJOINT session intervals —
        // memory is O(sessions in batch) per key, never O(events in
        // batch) (the r1/r2 `toArray.sorted` hardening item). See
        // [[mergeInterval]] for the order-independence argument.
        val iv = ArrayBuffer.empty[SessionState] // disjoint, sorted by start
        state.getOption.foreach(s => mergeInterval(iv, s.start, s.end, s.n))
        it.foreach(e => mergeInterval(iv, e.us, e.us, 1))
        if (iv.nonEmpty) state.update(iv.last)
        iv.dropRight(1).iterator.map(toOut(uid, _))
      }
    runToTable(spark, sessions.toDF(), "append", "st34")
      .orderBy("user_id", "session_start")
  }

  case class ScdEv(user_id: Long, us: Long, event_id: Long, state: String)
  case class ScdState(us: Long, event_id: Long, state: String, version: Int)
  case class ScdOut(user_id: Long, version: Int, state: String,
      eff_from: Instant, eff_to: Instant)

  /** st41: streaming SCD type-2 maintenance — the continuous form of
    * q59's batch build. Each entity's current (state, since, version)
    * lives in group state; an arriving change CLOSES the previous
    * validity interval (emitted, append mode) and opens the next in
    * state. Append-mode streaming cannot retract, so exactly the CLOSED
    * intervals are emitted and each entity's open current row stays in
    * state — the oracle is q59's history minus the is_current rows, the
    * same deliberate contract as st34 (trailing session un-emitted).
    *
    * Ordering contract (standard CDC): the within-batch iterator is
    * unordered, so each batch's events are sorted per key by (ts,
    * event_id) before folding — memory O(events per KEY per batch), the
    * per-entity change-log bound (VACOLS-like: hundreds per case).
    * Cross-batch, the log is assumed to ship in order (the file replay
    * and any log-shipping CDC source guarantee it); a late event older
    * than the state's watermark would need a retraction channel, which
    * append mode rules out by construction.
    *
    * State is ONE row per entity regardless of history length — the
    * 100 TB posture: state volume is |entities|, emitted history flows
    * through instead of accumulating.
    */
  def st41StreamScd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type").as("state"))
      .as[ScdEv]
    def toInstant(us: Long): Instant =
      Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)
    val closed = ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[ScdState, ScdOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (uid, it, state) =>
        val batch = it.toArray.sortBy(e => (e.us, e.event_id))
        val out = ArrayBuffer.empty[ScdOut]
        var cur = state.getOption.orNull
        batch.foreach { e =>
          if (cur == null) {
            cur = ScdState(e.us, e.event_id, e.state, 1)
          } else if (e.state != cur.state) {
            out += ScdOut(uid, cur.version, cur.state,
              toInstant(cur.us), toInstant(e.us))
            cur = ScdState(e.us, e.event_id, e.state, cur.version + 1)
          } // no-change event: run collapse, state unchanged
        }
        if (cur != null) state.update(cur)
        out.iterator
      }
    runToTable(spark, closed.toDF(), "append", "st41")
      .orderBy("user_id", "version")
  }

  case class TrEv(user_id: Long, us: Long, event_id: Long, act: String)
  case class TrState(us: Long, act: String, session_num: Long)
  /** Pre-aggregated edge emission grain (r11): per (user, session,
    * from, to) — n occurrences, gap sum (None on the gap-less
    * START/END markers, whose groups are uniformly gap-less). */
  case class TrEdgeC(user_id: Long, session_num: Long, from_act: String,
      to_act: String, n: Long, gap_us_sum: Option[Long])

  /** st42: streaming directly-follows edge extraction — the continuous
    * form of q62's process-map discovery (live process monitoring: the
    * edge counts a conformance dashboard reads). State per entity is the
    * LAST event (act, us) plus a session counter; an arrival within the
    * q07 gap emits the prev→act edge, a gap-crossing arrival closes the
    * previous session (prev→END) and opens a new one (START→act), a
    * first-ever arrival emits START→act. Exactly the edges a batch
    * rebuild would produce EXCEPT each entity's trailing →END (the open
    * session cannot close — st34/st41's append-mode contract); the
    * oracle is q62's edge set minus each user's last-session END edge.
    * Emission is pre-aggregated to the (session, edge-type) grain
    * inside the state function ([[TrEdgeC]], r11) and the report tail
    * is [[graft.operators.EventLog.aggregateEdgeCounts]] — the same
    * `edgeReport` definition q62's aggregateEdges uses, so batch and
    * stream report identically.
    *
    * Ordering contract (st41's): within-batch events sort per key by
    * (ts, event_id); cross-batch the log ships in order. State is one
    * row per entity regardless of history — edges flow through.
    */
  def st42StreamTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type").as("act"))
      .as[TrEv]
    val edges = ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[TrState, TrEdgeC](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (uid, it, state) =>
        val batch = it.toArray.sortBy(e => (e.us, e.event_id))
        // accumulate per-(session, from, to) counts INSIDE the state
        // function (r11): emission is bounded by |acts|²+2 per session
        // instead of one row per event. On this corpus sessions are
        // short so the measured win is modest (st42's sf1 cost is the
        // per-entity state machinery) — the bound is what matters at
        // scale, where long sessions would make per-event emission a
        // corpus-sized stream. Insertion order is deterministic
        // (sorted batch), cross-batch merging is the sink-side sum.
        // the gap-presence bit is part of the KEY (r12): marker edges
        // (START→x, x→END, gap-less by construction) share the
        // (sess, from, to) space with real transitions when an
        // event_type is literally named "START"/"END" — keying on
        // hasGap keeps such a marker edge and a gapped transition in
        // separate groups, so gap sums are never dropped or zero-padded
        // and the sink-side sum matches q62's per-row null-ignoring
        // sum(gap_us) on ANY event_type domain
        val acc = new java.util.LinkedHashMap[(Long, String, String, Boolean), Array[Long]]()
        def add(sess: Long, from: String, to: String, gap: Long, hasGap: Boolean): Unit = {
          val k = (sess, from, to, hasGap)
          var e = acc.get(k)
          if (e == null) { e = Array(0L, 0L); acc.put(k, e) }
          e(0) += 1L; e(1) += gap
        }
        var st = state.getOption.orNull
        batch.foreach { e =>
          if (st == null) {
            add(1L, "START", e.act, 0L, hasGap = false)
            st = TrState(e.us, e.act, 1L)
          } else if (e.us - st.us > GapUs) {
            add(st.session_num, st.act, "END", 0L, hasGap = false)
            add(st.session_num + 1, "START", e.act, 0L, hasGap = false)
            st = TrState(e.us, e.act, st.session_num + 1)
          } else {
            add(st.session_num, st.act, e.act, e.us - st.us, hasGap = true)
            st = TrState(e.us, e.act, st.session_num)
          }
        }
        if (st != null) state.update(st)
        val out = ArrayBuffer.empty[TrEdgeC]
        val iter = acc.entrySet().iterator()
        while (iter.hasNext) {
          val ent = iter.next(); val k = ent.getKey; val v = ent.getValue
          out += TrEdgeC(uid, k._1, k._2, k._3, v(0),
            if (k._4) Some(v(1)) else None)
        }
        out.iterator
      }
    val sink = runToTable(spark, edges.toDF(), "append", "st42")
    graft.operators.EventLog.aggregateEdgeCounts(sink)
  }

  /** st43: streaming count-min heavy hitters — t37's frequency sketch
    * maintained CONTINUOUSLY over the arriving-document stream (d27's
    * `% 5` arrival rule), the online leg of the mergeable-sketch family
    * (q49 HLL / q51 quantiles / t37 frequencies / q61 sliding HLL). The
    * property that makes these sketches the standard distributed
    * frequency structure is exactly what makes them streaming-native:
    * cell-wise ADDITION is the merge, so each micro-batch's token
    * arrivals simply add into the (j, bucket) cell state — streaming
    * aggregation state is O(D·W) = 4096 cells REGARDLESS of stream
    * volume (contrast st34/st41, whose state grows with entities). Each
    * arriving token increments [[graft.operators.TextAnalysis.CmsRows]]
    * cells map-side; the bucket arithmetic is the shared
    * [[graft.operators.TextAnalysis.cmsBucket]] definition, so the live
    * cells are bit-identical to a batch rebuild (spec-pinned).
    *
    * The report tail is t37's eval harness read AFTER draining: the
    * drained cell table (the production "periodic sketch snapshot") is
    * probed by the arriving subset's exact top-K — estimate = min over
    * rows, overestimate graded in permyriad. Deterministic: cell sums
    * are order-independent, so arrival order cannot change the output.
    */
  def st43StreamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val isNew = pmod(col("doc_id"),
      lit(graft.operators.Dedup.IncrementalBatchMod.toLong)) === 0L
    val docs = graft.Tables.documents(spark, dir)
    val js = explode(array((0 until TextAnalysis.CmsRows).map(lit): _*)).as("j")
    val stream = tableStream(spark, dir, "documents")
      .filter(isNew)
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("token"))
      .select(col("token"), js)
      .withColumn("bucket", TextAnalysis.cmsBucket(col("token"), col("j")))
      .groupBy("j", "bucket")
      .agg(count(lit(1)).as("cms_cell"))
    val cells = runToTable(spark, stream, "complete", "st43")
    val tf = docs.filter(isNew)
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_occ"))
    val top = tf.orderBy(col("n_occ").desc, col("token")).limit(TextAnalysis.CmsTopK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occ").desc, col("token"))
    broadcast(top)
      .select(col("token"), col("n_occ"), js)
      .withColumn("bucket", TextAnalysis.cmsBucket(col("token"), col("j")))
      .join(broadcast(cells), Seq("j", "bucket"))
      .groupBy("token", "n_occ")
      .agg(min(col("cms_cell")).as("cms_n"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("rnk"), col("token"), col("n_occ").as("exact_n"), col("cms_n"),
        expr("(cms_n - n_occ) * 10000 DIV n_occ").as("over_pm"))
      .orderBy("rnk")
  }

  /** st45: streaming bloom-filter BUILD — d37's admission pre-screen
    * maintained continuously as the corpus streams in (the production
    * deployment: the filter is the always-on index, rebuilt never,
    * probed by every arriving batch). Like st43's sketch cells, the
    * filter is streaming-native because position-set UNION is the
    * merge: each arriving corpus doc's K positions upsert into the
    * position-grain aggregation state, which is bounded by M bits
    * REGARDLESS of stream volume (never per-entity). The drained
    * position table IS the filter d37 builds in batch (same
    * [[graft.operators.Dedup.bloomDocs]] key, same
    * [[graft.operators.Dedup.bloomPosArray]] hashes, same M sizing) —
    * so the report, produced by the shared
    * [[graft.operators.Dedup.bloomReport]] tail probing the arriving
    * `% 5` batch, equals d37's batch report row-for-row (spec-pinned;
    * oracle = d37's SQL verbatim, the st43/st44 device).
    */
  def st45StreamBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val isNew = pmod(col("doc_id"),
      lit(Dedup.IncrementalBatchMod.toLong)) === 0L
    val docs = graft.Tables.documents(spark, dir)
    val d = Dedup.bloomDocs(docs)
    val mBits = Dedup.bloomMBits(d, isNew)
    val streamCells = Dedup.bloomDocs(
        tableStream(spark, dir, "documents")
          .filter(!isNew))
      .select(explode(Dedup.bloomPosArray(mBits)).as("pos"))
      .groupBy("pos").agg(count(lit(1)).as("n_keys"))
    val cells = runToTable(spark, streamCells, "complete", "st45")
    val batchPos = d.filter(isNew)
      .select(col("doc_id"), explode(Dedup.bloomPosArray(mBits)).as("pos"))
    Dedup.bloomReport(d, isNew, batchPos, cells)
  }

  /** st46: streaming rollup maintenance — q69 continuous (the IVM
    * nightly merge replaced by an always-on aggregation): every arriving
    * event upserts the (type, day, bucket) cell state — count/sum ADD,
    * HLL register MAX, both order-independent, so streaming aggregation
    * state is the ROLLUP GRAIN × 256 registers REGARDLESS of stream
    * volume (st43/st45's constant-state family; never per-event). The
    * projection ([[graft.operators.Sketches.q69Projection]]) and the
    * report tail ([[graft.operators.Sketches.q69Report]] — key-grain
    * counts, register estimate, full-rebuild reference, per-row
    * `maintenance_exact` witness) are the batch operator's own
    * definitions, so the continuous report equals q69's row-for-row
    * (spec-pinned; oracle = q69's SQL verbatim, the st43/st44/st45
    * device).
    */
  def st46StreamRollup(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val stream = Sketches.q69Projection(eventsStream(spark, dir))
      .groupBy("event_type", "day", "bucket")
      .agg(count(lit(1)).as("n"), sum(col("v100")).as("sv"),
        max(col("rho")).as("mx"))
    val state = runToTable(spark, stream, "complete", "st46")
    // rebuild reference: ONE aggregation of the batch projection to the
    // same (key, bucket) grain (r12 — q69Report previously re-scanned
    // the corpus-grain projection once per rebuild column family)
    Sketches.q69Report(state,
      Sketches.q69Projection(graft.Tables.events(spark, dir))
        .groupBy("event_type", "day", "bucket")
        .agg(count(lit(1)).as("n"), sum(col("v100")).as("sv"),
          max(col("rho")).as("mx")))
  }

  /** st44: streaming drift monitor — t39 continuous: arriving docs
    * (d27's `% 5` rule) accumulate (dimension, value) counts in
    * streaming aggregation state — the state is the CATEGORICAL GRID
    * (≤|sources|+|langs| rows), constant like st43's sketch cells, not
    * per-entity — and the drained counts meet the STANDING corpus's
    * counts in t39's report tail. Dimension projection
    * ([[graft.operators.TextAnalysis.DriftStack]] over the shared
    * withPredLang chain) and the share/TVD tail
    * ([[graft.operators.TextAnalysis.driftTail]]) are the batch
    * monitor's own definitions, so the continuous report equals t39's
    * batch report row-for-row (spec-pinned) — the q62/st42 discipline.
    */
  def st44StreamDrift(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val isNew = pmod(col("doc_id"),
      lit(graft.operators.Dedup.IncrementalBatchMod.toLong)) === 0L
    val docs = graft.Tables.documents(spark, dir)
    val standing = TextAnalysis.withPredLang(
        docs.filter(!isNew).withColumn("words", split(col("text"), " ")))
      .selectExpr(TextAnalysis.DriftStack)
      .groupBy("dim", "value").agg(count(lit(1)).as("old_n"))
    val arriving = TextAnalysis.withPredLang(
        tableStream(spark, dir, "documents")
          .filter(isNew)
          .withColumn("words", split(col("text"), " ")))
      .selectExpr(TextAnalysis.DriftStack)
      .groupBy("dim", "value").agg(count(lit(1)).as("new_n"))
    val cells = runToTable(spark, arriving, "complete", "st44")
    TextAnalysis.driftTail(
      standing.join(cells, Seq("dim", "value"), "full_outer")
        .select(col("dim"), col("value"),
          coalesce(col("old_n"), lit(0L)).as("old_n"),
          coalesce(col("new_n"), lit(0L)).as("new_n")))
  }

  /** st47: streaming volume-anomaly monitor — q72 continuous: arriving
    * events accumulate per-(event_type, day) counts in streaming
    * aggregation state — the state is the DAILY GRID (|types|·|days|
    * rows, bounded like st44's categorical grid and st43's sketch
    * cells, never per-event) — and the drained counts run through
    * q72's own median/MAD report tail
    * ([[graft.operators.CoreQueries.q72Tail]] — one definition, so the
    * continuous report equals the batch monitor row-for-row,
    * spec-pinned). The production shape: the monitor follows the
    * ingest stream and re-grades the day grid each trigger; the grid
    * stays tiny no matter the event volume.
    */
  def st47StreamAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val stream = eventsStream(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("event_date"))
      .groupBy("event_type", "event_date")
      .agg(count(lit(1)).as("n_events"))
    // q72's tail self-joins the daily grain (median + MAD passes) and a
    // memory-sink table cannot appear twice in one plan (the st46
    // conflicting-references analyzer bug) — runToTable's eager
    // detach (r16) already returns a checkpointed fresh relation
    val daily = runToTable(spark, stream, "complete", "st47")
    graft.operators.CoreQueries.q72Tail(daily)
  }

  /** Shared st48 tail: merge standing-side sufficient statistics with
    * the arriving per-(cid, pos) cell sums into the updated centroids
    * and the per-cluster maintenance report — ONE definition consumed
    * by the streaming leg and the spec's batch mirror, so continuous
    * and batch cannot drift (the st43/st44/st45 device).
    */
  private[graft] def st48Tail(standingQ: DataFrame, model: DataFrame,
      arrivingCells: DataFrame): DataFrame = {
    import graft.operators.Similarity
    val su0 = Similarity.assignStep(standingQ, model)
      .select(col("cid"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy("cid", "pos")
      .agg(sum(col("v")).as("s0"), count(lit(1)).as("n0"))
    val oldc = model
      .select(col("cid"), posexplode(col("cv")).as(Seq("pos", "old_i")))
    oldc
      .join(su0, Seq("cid", "pos"), "left")
      .join(arrivingCells, Seq("cid", "pos"), "left")
      .select(col("cid"), col("old_i"),
        coalesce(col("s0"), lit(0L)).as("s0"),
        coalesce(col("n0"), lit(0L)).as("n0"),
        coalesce(col("s1"), lit(0L)).as("s1"),
        coalesce(col("n1"), lit(0L)).as("n1"))
      .withColumn("new_i",
        when(col("n0") + col("n1") === 0L, col("old_i"))
          // floor(sum/count) on the integer grid — updateStep's exact
          // arithmetic (sums stay far under 2^53, the double divide is
          // exact enough for the floor both engines take identically)
          .otherwise(floor((col("s0") + col("s1")).cast("double") /
            (col("n0") + col("n1"))).cast("long")))
      .groupBy("cid")
      .agg(max(col("n0")).as("n_standing"), max(col("n1")).as("n_arrivals"),
        sum((col("new_i") - col("old_i")) * (col("new_i") - col("old_i")))
          .as("shift2"),
        sum(col("new_i")).as("new_sum"))
      .orderBy("cid")
  }

  /** Arriving-side per-(cid, pos) cell sums as a BATCH frame — the
    * spec's mirror of what the stream accumulates. */
  private[graft] def st48CellsOf(arriving: DataFrame,
      packed: DataFrame): DataFrame =
    arriving.join(packed, lit(true), "inner")
      .withColumn("key", expr("graft_kmeans_argmin(q, cents)"))
      .select((col("key") % 100).cast("int").as("cid"), col("q"))
      .select(col("cid"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy("cid", "pos")
      .agg(sum(col("v")).as("s1"), count(lit(1)).as("n1"))

  /** st48: streaming MINI-BATCH centroid maintenance (the web-scale
    * k-means deployment shape, Sculley WWW'10 — s30 trains offline,
    * st40 routes arrivals, st48 keeps the MODEL fresh as data streams
    * in): arriving embeddings (d27's `% 5` rule) are assigned to the
    * standing model inside the stream (st40's packed-broadcast
    * codegen'd argmin — one assignment definition) and accumulate
    * per-(cluster, dimension) sufficient statistics — sum and count —
    * in streaming aggregation state. Cell-wise ADDITION is the merge,
    * so state is K·64 = 1024 cells REGARDLESS of stream volume (the
    * st43/st45/st46 constant-state family, never per-entity). The
    * drained cells meet the standing-side statistics in [[st48Tail]]:
    * updated centroid = floor((standing_sum + arriving_sum) /
    * (standing_n + arriving_n)) per dimension — exactly s30's Lloyd
    * update arithmetic over the union of both populations — reported
    * per cluster as (n_standing, n_arrivals, shift² of the centroid
    * move, component-sum witness), all exact int64 on s30's grid.
    * Clusters with no members anywhere keep their centroid (shift 0).
    *
    * The report is a function of the static model + arrival SET only
    * (cell sums are order-independent), so the complete-mode replay is
    * deterministic and the DuckDB oracle restates it batch-side.
    */
  def st48StreamCentroidUpdate(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val standing = Similarity.quantize(
      graft.Tables.embeddings(spark, dir)
        .filter(pmod(col("vec_id"), lit(graft.operators.Dedup.IncrementalBatchMod.toLong)) =!= 0L))
    val model = Similarity.kmeansModel(standing)
    val packed = broadcast(Similarity.packCentroids(model))
    val arriving = Similarity.quantize(
      tableStream(spark, dir, "embeddings").filter(pmod(col("vec_id"), lit(graft.operators.Dedup.IncrementalBatchMod.toLong)) === 0L))
    val cells = st48CellsOf(arriving, packed)
    // the tail joins the drained cells beside model/standing subtrees —
    // runToTable's eager detach (r16) already returns the 1024-cell
    // relation checkpointed off the memory sink (the st46/st47
    // analyzer finding; tiny by construction)
    val drained = runToTable(spark, cells, "complete", "st48")
    st48Tail(standing, model, drained)
  }
}
