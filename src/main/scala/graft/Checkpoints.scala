package graft

import org.apache.spark.sql.DataFrame

/** Checkpoint-mode switch for the iterative operators (q46 chain
  * resolution, p66 BPE learning, s38 MMR, q58's eager bloom
  * materialization, st47's drained grid) and for connected components
  * (d26/d31/d34/p67/p71), which checkpoint their edge list once and
  * checkpoint label-propagation rounds only for a graph too big to
  * finish on the driver.
  *
  * `localCheckpoint()` truncates lineage by materializing partitions into
  * executor BLOCK STORAGE — memory/disk local to the executor. That is
  * the right default for a single-JVM run (zero I/O round-trip), but at
  * cluster scale it is NOT fault-tolerant: losing one executor discards
  * its blocks and kills a multi-hour job mid-iteration, because the
  * truncated lineage cannot recompute them.
  *
  * Setting [[Checkpoints.DirConf]] (`spark.graft.checkpoint.dir`) to a
  * reliable filesystem path (HDFS/S3 on a cluster) switches every call
  * site to reliable `checkpoint()`: one distributed-FS write per
  * materialization buys recomputability across executor loss. Both forms
  * are EAGER and both preserve the child plan's output partitioning and
  * ordering (Dataset.checkpoint wraps the RDD in a LogicalRDD carrying
  * the physical plan's partitioning/ordering), so downstream
  * exchange-reuse shapes are identical in either mode.
  */
object Checkpoints {
  /** Session conf key: when set (non-empty), iterative operators use
    * reliable `checkpoint()` into this directory instead of
    * `localCheckpoint()`.
    *
    * Cleanup: Spark only deletes reliable checkpoint files when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` is set at
    * CONTEXT CREATION (it is read once by ContextCleaner). Long
    * multi-round runs (q46 up to maxIters materializations per query,
    * distributed label propagation, p66 BPE) otherwise accumulate unbounded
    * files under the dir — set the cleaner conf in the same session
    * builder that sets this one, or point the dir at a
    * storage location with a TTL/lifecycle rule (ADVICE r9).
    */
  val DirConf = "spark.graft.checkpoint.dir"

  private def reliableDir(df: DataFrame): Option[String] =
    df.sparkSession.conf.getOption(DirConf).filter(_.nonEmpty)

  // Per-context record of the last setCheckpointDir call WE made:
  // (the dir we passed, the UUID'd dir the context resolved it to).
  // Substring-matching getCheckpointDir against the conf value alone is
  // wrong twice over (ADVICE r9): setCheckpointDir appends a
  // per-context UUID subdir, so a conf change from a subdir to its
  // PARENT still "contains"-matches and the stale dir wins; and the
  // conf is session-scoped while setCheckpointDir is
  // SparkContext-global, so two sessions racing one context need a
  // single serialized decision point. WeakHashMap (ADVICE r10): a
  // strong-keyed static map pins stopped SparkContexts forever in
  // long-lived JVMs that create many contexts; weak keys let a context
  // (and its entry) collect once the application drops it. All access
  // is under the map's own lock, which also serializes the decision.
  private val lastSet =
    new java.util.WeakHashMap[org.apache.spark.SparkContext, (String, Option[String])]()

  /** Eagerly materialize `df` and truncate its lineage, in the mode the
    * session conf selects. */
  def of(df: DataFrame): DataFrame = reliableDir(df) match {
    case Some(dir) =>
      val sc = df.sparkSession.sparkContext
      // The checkpoint itself runs INSIDE the lock (r15 review): with
      // two sessions configuring different dirs on one context, a
      // checkpoint outside the set/checkpoint window could land its
      // files under the OTHER session's dir (whose TTL/cleanup policy
      // it does not own) after an interleaved re-set. Reliable
      // checkpoints are rare, round-grain materializations, so
      // serializing them costs nothing in practice. Known trade-off
      // (ADVICE r15, accepted): a HUNG checkpoint job holds the monitor
      // and blocks every other reliable checkpoint in the JVM — if
      // concurrent multi-session reliable checkpointing ever matters,
      // hold the lock only for the dir decision and give each session a
      // distinct subdirectory so concurrent checkpoints cannot
      // cross-land.
      lastSet.synchronized {
        // Re-set when the conf changed OR when something outside this
        // object called sc.setCheckpointDir directly since our last set
        // (ADVICE r10): otherwise the external dir silently receives
        // subsequent checkpoints while we believe ours is active.
        val unchanged = lastSet.get(sc) match {
          case (d, resolved) => d == dir && resolved == sc.getCheckpointDir
          case null          => false
        }
        if (!unchanged) {
          sc.setCheckpointDir(dir)
          lastSet.put(sc, (dir, sc.getCheckpointDir))
        }
        df.checkpoint()
      }
    case None => df.localCheckpoint()
  }

  /** Chainable form: `df.graftCheckpoint()` ≡ `Checkpoints.of(df)`. */
  implicit class Ops(private val df: DataFrame) extends AnyVal {
    def graftCheckpoint(): DataFrame = of(df)
  }
}
