package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.PortableHash.ph
import graft.Checkpoints.Ops

/** p55: the end-to-end training-data cleaning pipeline — the composition
  * the individual t/d operators exist FOR, as one declarative plan:
  *
  *   language ID (t28's profile) → quality filter (t29's score)
  *   → exact dedup (d21's md5 canonicalization)
  *   → near-dup dedup (d22's minhash band buckets, greedy leader)
  *   → per-source funnel report (survivors at each stage + final tokens)
  *
  * The stage predicates reuse the SAME column-chain definitions as the
  * standalone operators (TextAnalysis.withPredLang / withQualityScore),
  * so the composite cannot drift from them. Near-dup survival is greedy
  * leader election: a document survives iff it is the minimum doc_id in
  * EVERY band bucket it occupies among exact-dedup survivors — standard
  * streaming-corpus practice (no transitive union-find pass; a cluster's
  * leader survives, near members drop). Documents too short to shingle
  * (<3 words) skip the near-dup stage by construction.
  *
  * Scale posture: every stage is a projection or a keyed window/agg —
  * flags ride the row, the md5 window shuffles once on the content hash,
  * the band stage shuffles once on (band_idx, band_key) (codegen'd
  * single-pass `graft_minhash_bands`), and the report is one final
  * map-side-combined aggregation on source. Nothing materializes pairs:
  * unlike d22 (whose OUTPUT is the pair list), the pipeline only needs
  * each doc's bucket minimum — candidate volume is |postings|, linear.
  */
object Pipeline {

  /** Stricter than t29's 5000 report threshold: a cleaning pipeline
    * keeps the best half, it doesn't just flag the floor. (On this
    * corpus min score ≈ 5000, median ≈ 7080 — the bar must sit above
    * the floor to select at all.)
    */
  val PipelineQualityBar = 7000L

  /** p56 rate table: (lang, test permille, val permille). Lower-resource
    * languages hold out larger eval shares — the standard practice when
    * eval sets must stay statistically useful per language. Languages
    * not listed fall back to [[DefaultTestPm]]/[[DefaultValPm]]. The
    * oracle VALUES clause is generated from this same sequence.
    */
  val SplitRates: Seq[(String, Int, Int)] =
    Seq(("en", 50, 100), ("de", 100, 150), ("fr", 100, 150), ("es", 100, 150))
  val DefaultTestPm = 150
  val DefaultValPm = 200

  /** p56: deterministic stratified train/val/test split. Assignment is a
    * pure function of (stratum, doc_id) — a salted portable hash mod
    * 1000 against per-stratum permille thresholds — so the split is
    * reproducible run-over-run, survives corpus growth (adding docs
    * never reassigns existing ones, unlike ntile/random splits), and
    * needs NO shuffle: one broadcast join against the 4-row rate table
    * plus a map-side projection. The per-stratum salt decorrelates the
    * split from any other hash-based sampling on doc_id.
    */
  def p56StratifiedSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rates = SplitRates.toDF("lang", "test_pm", "val_pm")
    Tables.documents(spark, dir)
      .join(broadcast(rates), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("test_pm"), lit(DefaultTestPm)).as("test_pm"),
        coalesce(col("val_pm"), lit(DefaultValPm)).as("val_pm"),
        // coalesce the stratum before hashing: Spark's concat_ws SKIPS
        // nulls ('split:42') while SQL's || yields NULL — a NULL lang
        // would silently send docs to 'train' in one engine only
        // (ADVICE r5). The sentinel cannot collide with a real lang code.
        pmod(ph(concat_ws(":", lit("split"), coalesce(col("lang"), lit("__null__")),
          col("doc_id"))), lit(1000L)).as("u"))
      .select(col("doc_id"), col("lang"),
        when(col("u") < col("test_pm"), "test")
          .when(col("u") < col("test_pm") + col("val_pm"), "val")
          .otherwise("train").as("split"))
      .orderBy("doc_id")
  }

  /** p57: source-mix rebalancing — downsample dominant sources toward a
    * BALANCED target mix (equal share per source), the data-mixing pass
    * every large-corpus training run applies before tokenization. The
    * per-source keep rate in permyriad is pure integer arithmetic
    * (least(10000, (N_total·10000) div (|S|·N_s))) so both engines derive
    * identical thresholds, and row selection is the same deterministic
    * salted-hash rule as p56 — reproducible and growth-stable, never a
    * `rand()` sample.
    *
    * Scale posture: pass 1 is a map-side-combined count per source (tiny
    * result), pass 2 re-scans with the 20-row threshold table broadcast —
    * data rows are never shuffled; the windows computing totals run on
    * the SOURCE grain. Output is the per-source mix report.
    */
  def p57SourceMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_input"))
      .withColumn("n_total", sum(col("n_input")).over(Window.partitionBy()))
      .withColumn("n_sources", count(lit(1)).over(Window.partitionBy()))
      .withColumn("keep_permyriad",
        least(lit(10000L),
          expr("(n_total * 10000) DIV (n_sources * n_input)")))
      .select("source", "n_input", "keep_permyriad")
    val kept = docs
      .join(broadcast(counts), Seq("source"))
      .filter(pmod(ph(concat_ws(":", lit("mix"), col("doc_id"))), lit(10000L))
        < col("keep_permyriad"))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    counts.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_input"), col("keep_permyriad"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** p58 packing window: tokens per training example. Small enough that
    * sf0.001 sources still produce multi-chunk output; the arithmetic is
    * L-independent. */
  val PackChunkTokens = 256L

  /** p58: sequence packing — concatenate each source's docs in doc_id
    * order and cut the token stream into fixed [[PackChunkTokens]]-token
    * training windows (the concat-and-chunk packing LLM pretraining
    * uses; docs span chunk boundaries rather than padding). Output is
    * the per-chunk manifest: docs overlapping each chunk, tokens in it,
    * fill ratio (only a source's last chunk may be short).
    *
    * Everything is a prefix sum: a doc's chunk span is
    * [cum_before div L, (cum_before+tokens-1) div L] off ONE per-source
    * cumulative window — no iterative packing loop, no driver state.
    * Scale posture: one shuffle total — the per-source window sort; the
    * chunk fan-out is a bounded explode (≤ tokens/L + 1 rows per doc)
    * and the per-chunk aggregation reuses the window's partitioning
    * (source ⊂ (source, chunk_idx) clustering, so no second exchange).
    * Integer token arithmetic end-to-end — both engines derive identical
    * chunk boundaries, never a float cumsum.
    */
  def p58SeqPack(spark: SparkSession, dir: String): DataFrame = {
    val L = PackChunkTokens
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        // coalesce before counting: Spark's size(NULL) is -1 where SQL's
        // len(NULL) is NULL (ADVICE r5) — '' tokenizes as 1 both sides;
        // graft_ws_token_count ≡ size(split(·, ' ')) without the array (r18)
        expr("graft_ws_token_count(coalesce(text, ''))").as("tokens"))
      .withColumn("cum_before", coalesce(sum(col("tokens")).over(w), lit(0L)))
      .select(col("source"), col("cum_before"), col("tokens"),
        explode(expr(s"sequence(cum_before DIV $L, (cum_before + tokens - 1) DIV $L)"))
          .as("chunk_idx"))
      .withColumn("contrib",
        least(col("cum_before") + col("tokens"), (col("chunk_idx") + 1) * L)
          - greatest(col("cum_before"), col("chunk_idx") * L))
      .groupBy("source", "chunk_idx")
      .agg(count(lit(1)).as("n_docs"), sum(col("contrib")).as("n_tokens"))
      .withColumn("fill_x10000", expr(s"n_tokens * 10000 DIV $L"))
      .orderBy("source", "chunk_idx")
  }

  /** p59 shard count. Production sizes this as corpus_bytes /
    * target_shard_bytes (e.g. 100 TB / ~1 GB ⇒ ~10⁵ shards); 8 keeps
    * per-shard output readable at test SFs. */
  val NumShards = 8L

  /** p59: deterministic training-order shuffle into shards — the final
    * "global shuffle" pass that turns a cleaned corpus into randomized
    * training shards. Order key = salted portable hash of doc_id (never
    * `rand()`), shard = key mod [[NumShards]], position = rank of the
    * key within the shard — fully reproducible run-over-run and across
    * engines, and independent of input partitioning/arrival order.
    *
    * 100 TB posture: shard assignment is a map-side projection; the
    * per-shard position is the write path's
    * `repartition(shard) + sortWithinPartitions(key)` — one shuffle,
    * each shard sorts independently, and shard count is chosen so a
    * shard fits one output file (so no global sort ever happens). The
    * window formulation here IS that plan: hash partition on shard,
    * in-partition sort.
    */
  def p59ShardShuffle(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        ph(concat_ws(":", lit("shard"), col("doc_id"))).as("k"))
      .withColumn("shard", pmod(col("k"), lit(NumShards)).cast("int"))
      .withColumn("pos", row_number()
        .over(Window.partitionBy("shard").orderBy(col("k"), col("doc_id")))
        .cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  /** p61 chunk geometry: window and stride in tokens. Production RAG
    * pipelines run ~256–1024-token windows with 10–25% overlap; 32/24
    * keeps multi-chunk output on the synthetic corpus's ~50-token docs.
    * stride < window ⇒ consecutive chunks overlap by (window − stride)
    * tokens so no boundary-spanning passage is lost to the embedder. */
  val ChunkTokens = 32L
  val ChunkStride = 24L

  /** p61: overlapping within-document chunking — the retrieval/embedding
    * prep step (RAG indexing, embedding-model input windows): each doc
    * is cut into [[ChunkTokens]]-token windows every [[ChunkStride]]
    * tokens, chunks clamped to the doc end, the last chunk short only
    * when the doc is. Unlike p58 (cross-doc packing for TRAINING order),
    * chunks never span documents and overlap deliberately. Output is the
    * chunk manifest (doc, chunk_idx, token offset/length, coverage
    * flags) plus a portable content hash of the chunk's tokens — the
    * join key an embedding table would carry.
    *
    * 100 TB posture: pure per-row arithmetic + a bounded explode
    * (≤ tokens/stride + 1 rows per doc) — zero joins, zero aggregations,
    * zero shuffles before the presentation sort; the ideal corpus-scan
    * shape, like t33/t34.
    */
  def p61ChunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    val L = ChunkTokens; val S = ChunkStride
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("words"))
      .withColumn("n_tokens", size(col("words")).cast("long"))
      // chunk starts: 0, S, 2S, … while start + L < n_tokens + S (i.e.
      // the previous chunk did not already reach the doc end)
      .withColumn("chunk_idx", explode(expr(
        s"sequence(0L, greatest(0L, (n_tokens - $L + $S - 1) DIV $S))")))
      .withColumn("tok_start", col("chunk_idx") * S)
      .filter(col("tok_start") < col("n_tokens")) // guard degenerate strides
      .withColumn("tok_len", least(lit(L), col("n_tokens") - col("tok_start")))
      .select(col("doc_id"), col("chunk_idx"), col("tok_start"), col("tok_len"),
        (col("tok_len") < L).cast("int").as("is_short"),
        ph(expr(s"concat_ws(' ', slice(words, cast(tok_start + 1 as int), cast(tok_len as int)))"))
          .as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** p62 per-cluster sample cap. Production sizes this to the target
    * corpus share; 50 keeps several clusters above AND several below
    * the cap on the synthetic corpus so both branches are exercised. */
  val ClusterSampleCap = 50

  /** p62: cluster-balanced corpus sampling — the curation step that
    * consumes [[Similarity.s30Kmeans]]' clustering: cap each embedding
    * cluster at [[ClusterSampleCap]] representatives, keeping the
    * members CLOSEST to their centroid (most representative first;
    * ties by vec_id). Balancing a corpus by embedding cluster instead
    * of raw source is the standard defense against one dominant domain
    * drowning the mixture (the p57 source-mix shape, but on semantic
    * clusters instead of declared source labels).
    *
    * 100 TB posture: ranking is a per-cluster top-M — Spark plans
    * WindowGroupLimit, so each task keeps ≤M rows per cluster BEFORE
    * the exchange; the output is ≤K·M rows regardless of corpus size.
    * The kept/total accounting rides the same window pass as a
    * partition-bounded count.
    */
  def p62BalancedSample(spark: SparkSession, dir: String): DataFrame = {
    val asg = Similarity.s30Kmeans(spark, dir)
    val w = Window.partitionBy("cid").orderBy(col("dist"), col("vec_id"))
    asg
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= ClusterSampleCap)
      .select(col("cid"), col("rnk"), col("vec_id"), col("dist"))
      .orderBy("cid", "rnk")
  }

  /** p63 hash-space buckets for the two-level prefix sum. Production
    * sizes this ≈ cluster parallelism; 64 keeps S×B bucket rows tiny
    * while still exercising the bucket offset join at test SFs. */
  val BudgetBuckets = 64L

  /** p63: token-budget corpus mixing — the training-mix step that p57
    * (row-count shares) approximates: each SOURCE contributes documents
    * along a deterministic salted-hash order until its TOKEN budget is
    * exhausted (here an equal share of half the corpus tokens — the
    * downsampling epoch mix). Token budgets, not row budgets, are what
    * pretraining mixtures are specified in.
    *
    * 100 TB posture: the naive cut is a running token sum per source —
    * ONE sorted window task per source, the classic sequential-scan
    * scale trap. Instead the cut is a two-level prefix sum (p58's
    * device, source-parallel): docs hash into [[BudgetBuckets]]
    * buckets; per-(source,bucket) token sums (S·B rows) take a window
    * over the tiny bucket grain to become bucket offsets; each doc's
    * global cumulative position is its bucket offset + a running sum
    * WITHIN its bucket — the big window runs partitioned by
    * (source, bucket), so parallelism is S·B, not S. The global order
    * (bucket, order-hash, doc_id) is deterministic and identical in
    * the oracle's single-window restatement.
    */
  def p63TokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val B = BudgetBuckets
    val wIn = Window.partitionBy("source", "bucket").orderBy("okey", "doc_id")
    // the ONE corpus pass: row grain + within-bucket running token sum.
    // Both downstream branches (bucket totals; the kept-row stream)
    // consume THIS subtree, so the exchange under the window is reused
    // (the d30 single-scan device) — bucket totals are the LAST running
    // value per bucket (max), not a second aggregation of the corpus.
    val wb = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        // graft_ws_token_count ≡ size(split(·, ' ')) without the array (r18)
        expr("graft_ws_token_count(coalesce(text, ''))").as("n_tokens"))
      .withColumn("bucket", ph(concat_ws(":", lit("budget"), col("doc_id"))) % B)
      .withColumn("okey", ph(concat_ws(":", lit("order"), col("doc_id"))))
      // the null filters the (source,bucket) equi-join would INSERT on
      // its probe side, phrased into the shared subtree so every branch
      // stays canonically identical and ReuseExchange can collapse them
      // (the t35 lesson; vacuous on this data — bucket is an expression
      // and the oracle mirrors the source predicate)
      .filter(col("source").isNotNull && col("bucket").isNotNull)
      .withColumn("cum_in_bucket", sum(col("n_tokens")).over(wIn))
    val perBucket = wb.groupBy("source", "bucket")
      .agg(max(col("cum_in_bucket")).as("bucket_tokens"))
    // bucket offsets: exclusive prefix sum over the S·B grain (tiny)
    val wSrc = Window.partitionBy("source").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perBucket
      .withColumn("offset", coalesce(sum(col("bucket_tokens")).over(wSrc), lit(0L)))
      .select("source", "bucket", "offset")
    val budget = perBucket
      .agg(sum(col("bucket_tokens")).as("tt"),
        countDistinct(col("source")).as("ns"))
      // integer div — a double quotient could round up across the floor
      .select(expr("tt DIV (2 * ns)").as("budget"))
    wb
      .join(broadcast(offsets), Seq("source", "bucket"))
      .withColumn("cum_tokens", col("offset") + col("cum_in_bucket"))
      .crossJoin(broadcast(budget))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy("source", "cum_tokens")
  }

  /** p60 vocabulary cutoff. Production sizes this as the tokenizer's
    * target vocab (30–250k); 20 keeps the top-K selection meaningful on
    * the synthetic corpus (31 distinct tokens at sf0.01). */
  val VocabTopK = 20

  /** p60: tokenizer vocabulary construction — the corpus-wide token
    * frequency table every tokenizer build (BPE/WordPiece seeding,
    * coverage studies) starts from: occurrence count + document
    * frequency per token, top-[[VocabTopK]] by count, with cumulative
    * corpus coverage in permyriad (what share of all token occurrences
    * the vocab prefix up to this rank explains).
    *
    * 100 TB posture: the token-grain aggregation map-side combines (the
    * shuffle carries ≤|vocab| rows per task, not token occurrences);
    * document frequency rides the same pass as a count-distinct. Top-K
    * selection is `orderBy(...).limit(K)` — Spark plans TakeOrdered
    * (per-partition heaps + driver merge of K·P rows), NEVER a global
    * sort of the vocabulary (PlanSpec pins it). The rank/cumulative
    * windows then run over exactly K rows, and the corpus token total
    * joins in as a broadcast scalar. Integer permyriad coverage — both
    * engines agree exactly.
    */
  def p60VocabBuild(spark: SparkSession, dir: String): DataFrame =
    p60VocabCore(Tables.documents(spark, dir))

  /** Rule core over any (doc_id, text) frame — extracted so property
    * tests can drive random corpora through the exact production plan. */
  private[graft] def p60VocabCore(documents: DataFrame): DataFrame = {
    // per-doc token counts complete inside graft_token_counts (r12, the
    // t35 kernel): the vocabulary aggregation reads (doc, DISTINCT
    // token, c) rows instead of raw occurrences, n_docs is a plain
    // count(*) (each pair appears once) — the countDistinct Expand and
    // its doubled occurrence stream drop out of the plan entirely.
    // kernel + partial agg fuse onto the scan — rebalance so a
    // single-row-group file doesn't serialize them on one core
    val tf = Tables.rebalanceSmallScan(documents)
      .withColumn("words", split(coalesce(col("text"), lit("")), " "))
      .select(col("doc_id"), explode(expr("graft_token_counts(words)")).as("tc"))
      .select(col("tc.w").as("token"), col("tc.c").as("c"))
      .groupBy("token")
      .agg(sum(col("c")).as("n_occ"), count(lit(1)).as("n_docs"))
    // the corpus token total is Σ n_occ over the vocabulary — derived
    // from the SAME tf aggregate the top-K branch consumes, phrased so
    // n_docs stays needed (the t35/d30 ReuseExchange contract): one
    // corpus scan feeds both branches, and this branch reads only
    // vocabulary-sized input. A separate sum(size(words)) over the
    // documents was a second complete corpus pass.
    val total = tf.agg(
      sum(when(col("n_docs") >= 1L, col("n_occ")).otherwise(0L)).as("total_tokens"))
    val top = tf
      .orderBy(col("n_occ").desc, col("token"))
      .limit(VocabTopK)
    val w = Window.orderBy(col("n_occ").desc, col("token"))
    top
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum_occ",
        sum(col("n_occ")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rnk"), col("token"), col("n_occ"), col("n_docs"),
        expr("cum_occ * 10000 DIV total_tokens").as("cum_cov_pm"))
      .orderBy("rnk")
  }

  def p55CorpusClean(spark: SparkSession, dir: String): DataFrame = {
    // the lang/quality/minhash kernel chain fuses onto this scan —
    // rebalance (gated; no-op on a real lake layout)
    val base = Tables.rebalanceSmallScan(Tables.documents(spark, dir))
      .withColumn("words", split(col("text"), " "))
    val flagged = TextAnalysis.withQualityScore(TextAnalysis.withPredLang(base))
      .withColumn("lang_ok", col("pred_lang") === "en")
      .withColumn("q_ok", col("lang_ok") && col("score_x10000") >= PipelineQualityBar)
    val exact = flagged
      .withColumn("canon_id",
        min(when(col("q_ok"), col("doc_id"))).over(Window.partitionBy(md5(col("text")))))
      .withColumn("exact_ok", col("q_ok") && col("doc_id") === col("canon_id"))
    val leaders = exact
      .filter(col("exact_ok") && size(col("words")) >= 3)
      .select(col("doc_id"),
        posexplode(expr("graft_minhash_bands(graft_shingles3(words))"))
          .as(Seq("band_idx", "band_key")))
      .withColumn("bmin",
        min(col("doc_id")).over(Window.partitionBy("band_idx", "band_key")))
      .groupBy("doc_id").agg(min(col("bmin")).as("gmin"))
    exact.join(leaders, Seq("doc_id"), "left")
      .withColumn("final_ok",
        col("exact_ok") && (col("gmin").isNull || col("gmin") === col("doc_id")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_input"),
        sum(when(col("lang_ok"), 1L).otherwise(0L)).as("n_lang_ok"),
        sum(when(col("q_ok"), 1L).otherwise(0L)).as("n_quality_ok"),
        sum(when(col("exact_ok"), 1L).otherwise(0L)).as("n_exact_canonical"),
        sum(when(col("final_ok"), 1L).otherwise(0L)).as("n_final"),
        sum(when(col("final_ok"), size(col("words")).cast("long")).otherwise(0L))
          .as("final_tokens"))
      .orderBy("source")
  }

  /** p64: temperature-scaled source mixture (α = 1/2) — the
    * multilingual/multi-source rebalancing rule of XLM-R (Conneau et al.
    * 2020, arXiv:1911.02116 §3.1) and mT5: sample source s with
    * probability ∝ T_s^α, flattening the head without p57's fully-equal
    * target. α = 1/2 is chosen because it makes the weights EXACT
    * integers — w_s = isqrt(T_s), computed as floor(sqrt(double)) plus a
    * one-step integer fix-up (IEEE sqrt is correctly rounded, so the
    * floor is off by at most 1 either way; the fix-up makes both engines
    * bit-exact regardless). A float pow(t, 0.3) would hash-diverge at
    * rounding boundaries between engines.
    *
    * The kept corpus is the LARGEST total K realizable at the target
    * shares without upsampling: kept_s = (K·w_s) div Σw ≤ n_s for all s
    * ⇔ K = min_s (n_s·Σw div w_s). Per-source keep rates follow in
    * permyriad, and row admission is the p56/p57 deterministic
    * salted-hash rule — reproducible, growth-stable, never rand().
    *
    * Scale posture: pass 1 is a map-side-combined per-source count/token
    * aggregate (|S| rows; the weight/share/K columns are windows over
    * that tiny grain), pass 2 re-scans with the |S|-row threshold table
    * broadcast — data rows are never shuffled (the kept count partial-
    * aggregates to ≤|S| rows per task before its exchange). Int64 bound:
    * n_s·Σw < 2^63 holds through ~10^12 docs at ~10^6-token sources;
    * beyond that, quantize T_s to mega-tokens before the sqrt (same
    * arithmetic, scaled grid).
    */
  def p64TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        // graft_ws_token_count ≡ size(split(·, ' ')) without the array (r18)
        expr("graft_ws_token_count(coalesce(text, ''))").as("n_tokens"))
    val stats = docs.groupBy("source")
      .agg(count(lit(1)).as("n_input"), sum(col("n_tokens")).as("tokens"))
      .withColumn("s0", floor(sqrt(col("tokens").cast("double"))).cast("long"))
      .withColumn("weight",
        when((col("s0") + 1) * (col("s0") + 1) <= col("tokens"), col("s0") + 1)
          .when(col("s0") * col("s0") > col("tokens"), col("s0") - 1)
          .otherwise(col("s0")))
      .withColumn("sumw", sum(col("weight")).over(Window.partitionBy()))
      .withColumn("target_share_pm", expr("weight * 10000 DIV sumw"))
      .withColumn("k_total",
        min(expr("n_input * sumw DIV weight")).over(Window.partitionBy()))
      .withColumn("keep_permyriad",
        least(lit(10000L), expr("(k_total * weight DIV sumw) * 10000 DIV n_input")))
    val kept = docs
      .join(broadcast(stats.select("source", "keep_permyriad")), Seq("source"))
      .filter(pmod(ph(concat_ws(":", lit("temp"), col("doc_id"))), lit(10000L))
        < col("keep_permyriad"))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    stats.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_input"), col("tokens"), col("weight"),
        col("target_share_pm"), col("keep_permyriad"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** p65: the per-source DATASET CARD — the statistics table every
    * published training corpus ships (docs, tokens, dedup rate, quality
    * and language composition): n_docs, token total (t30's whitespace
    * definition), distinct content hashes (d21's md5 canonicalization)
    * with the exact-dup permyriad, mean t29 quality score with the
    * share over t29's quality bar, and the share whose t28 predicted
    * language agrees with the declared one. Every metric reuses the
    * standalone operator's column-chain definition
    * ([[TextAnalysis.withQualityScore]] / [[TextAnalysis.withPredLang]] /
    * d21's md5 / t29's ≥5000 bar), so the card cannot drift from the
    * operators it summarizes — the p55 composition discipline applied
    * to reporting.
    *
    * 100 TB posture: ONE corpus scan; everything is a map-side-combined
    * aggregation to |sources| rows except the content-hash distinct,
    * which two-phases through the (source, hash) grain — linear, no
    * joins, no windows. The card is the cheap end-of-pipeline artifact,
    * not a second pipeline.
    */
  def p65DatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = TextAnalysis.withPredLang(
      TextAnalysis.withQualityScore(
        Tables.rebalanceSmallScan(Tables.documents(spark, dir))
          .withColumn("words", split(col("text"), " "))))
    docs.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("words"))).as("n_tokens"),
        countDistinct(md5(col("text"))).as("n_distinct_contents"),
        sum(col("score_x10000")).as("score_sum"),
        sum((col("score_x10000") >= 5000L).cast("long")).as("n_quality_ok"),
        sum((col("pred_lang") === col("lang")).cast("long")).as("n_lang_match"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_distinct_contents"),
        expr("(n_docs - n_distinct_contents) * 10000 DIV n_docs").as("dup_pm"),
        expr("score_sum DIV n_docs").as("mean_score_x10000"),
        expr("n_quality_ok * 10000 DIV n_docs").as("quality_ok_pm"),
        expr("n_lang_match * 10000 DIV n_docs").as("lang_match_pm"))
      .orderBy("source")
  }

  /** p66 merge-table depth. Production learns 30–50k merges; 3 keeps the
    * unrolled plan bounded while exercising the full learn→apply loop on
    * the synthetic corpus (the q56/s30 fixed-K unroll discipline). */
  val BpeMerges = 3

  /** Minimum corpus frequency for a word to enter the BPE learn
    * (VERDICT r13 item 2). The learn collapses the distinct-word count
    * table into ONE task; against a web-scale corpus that table is
    * billions of typo/URL singletons, so every production trainer
    * prunes rare words first (SentencePiece/HF BpeTrainer's
    * min_frequency). 2 drops exactly the singleton tail — the unbounded
    * part — while leaving any vocabulary a pair could plausibly be
    * learned from; mirrored verbatim in the DuckDB oracle's `wc` CTE
    * (one definition, PipelineOracles.bpeLearnCtes) and a QueriesSpec
    * arm pins that the learned merge table is unchanged by the floor on
    * the test corpus (min word count there ≫ 2). */
  val BpeMinWordCount = 2L

  /** p66: BPE merge learning (Sennrich et al. ACL'16, arXiv:1508.07909 —
    * the tokenizer-TRAINING step p60's frequency vocabulary seeds): start
    * from characters, repeatedly find the most frequent adjacent symbol
    * pair and fuse it into one symbol. This is the algorithm behind
    * GPT/Llama tokenizers; its output here is the ranked merge table
    * (rank, left, right, merged, weighted pair count).
    *
    * The classic scale trick IS the Spark shape: BPE statistics depend
    * only on the WORD-COUNT table, not the corpus — so the single
    * corpus-sized stage is the word-frequency aggregation (map-side
    * combined, ≤|vocab| rows per task), and the learn loop runs over
    * the bounded |vocab| grain in ONE task (r13): the K merge rounds
    * are inherently sequential (round k's pair counts depend on round
    * k−1's fusion), so distributing them bought K argmax jobs + K
    * broadcasts of per-round stats on a table that fits one executor —
    * the sf1 pair read 1.74 s of job floors for 3 merges. This is the
    * posture every production tokenizer trainer (SentencePiece, HF
    * tokenizers) uses: corpus-sized counting distributed, the
    * sequential learn on the collapsed vocabulary in one process —
    * and it frees K from plan-size limits (the unrolled form capped K
    * at a handful; a 30k-merge production run is now just a longer
    * in-task loop over the same bounded table).
    *
    * Merge application is a single `replace(sym, ' l r ', ' lr ')` pass
    * on the space-joined symbol string — the stdlib left-to-right
    * non-overlapping scan that Java and DuckDB implement identically
    * (verified: " a b a b " → " ab a b " in both), so engines cannot
    * diverge. On runs of ≥4 identical symbols this merges alternate
    * occurrences where reference BPE's within-word greedy scan merges
    * every other pair disjointly — a documented deviation that no
    * natural-language word shape hits (it needs "aaaa"); determinism and
    * cross-engine parity are the contract here. Pair ties break by pair
    * string ascending (binary order — what both engines' ORDER BY
    * collates; reference implementations break ties arbitrarily, a
    * distributed build must pin them). Learning stops early if no pair
    * remains (all words single-symbol): later ranks simply emit no row.
    */
  def p66BpeMerges(spark: SparkSession, dir: String): DataFrame =
    p66BpeCore(Tables.documents(spark, dir))

  /** One learned merge: rank, the fused pair's sides, the merged symbol,
    * the weighted pair count at fusion time. */
  private[graft] case class BpeMerge(rnk: Long, left_sym: String,
      right_sym: String, merged: String, pair_n: Long)

  /** The shared learn: corpus word counts (the ONLY corpus-sized stage,
    * map-side combined) collapse to one partition and the K sequential
    * merge rounds run in ONE task over the in-memory vocabulary —
    * symbolization, pair counting, (count desc, pair asc) argmax and
    * Java String.replace application all bit-identical to the DuckDB
    * oracle's unrolled CTE chain (and to the r12 unrolled Spark plan).
    * ONE definition feeds p66's merge report and p68's corpus encoder,
    * so learn and apply cannot drift. Returns the ≤K-row merge table;
    * deterministic regardless of row arrival order (full-map argmax
    * with a pinned tie-break). */
  private[graft] def bpeLearnTable(documents: DataFrame,
      minWordCount: Long = BpeMinWordCount): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    // NO scan rebalance (tried r13): the split+explode+partial-agg the
    // scan fuses is cheap enough that the extra raw-doc exchange cost
    // more than the parallelism bought (same-shape A/B: p66 1.29 →
    // 1.70 s, p68 3.71 → 4.55 s) — unlike the hash/walk kernels that
    // dominate their scans (t33/t35/t41/t36)
    documents
      .withColumn("words", split(coalesce(col("text"), lit("")), " "))
      .select(explode(col("words")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("wn"))
      .filter(col("wn") >= minWordCount)
      .as[(String, Long)]
      .repartition(1)
      .mapPartitions { it =>
        // (sym, wn) with p66's symbolization: " c h a r s " (the shared
        // kernel helper — the Java-regex per-code-point contract)
        var syms = it.map { case (w, n) =>
          (graft.functions.TextHash.bpeSpacedSym(w, sentinel = false), n)
        }.toArray
        val out = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
        var k = 1
        var exhausted = false
        while (k <= BpeMerges && !exhausted) {
          val pairs = new java.util.HashMap[String, Array[Long]]()
          syms.foreach { case (s, n) =>
            val arr = s.trim.split(" ")
            var i = 0
            while (i + 1 < arr.length) {
              val p = arr(i) + " " + arr(i + 1)
              val e = pairs.get(p)
              if (e == null) pairs.put(p, Array(n)) else e(0) += n
              i += 1
            }
          }
          if (pairs.isEmpty) exhausted = true
          else {
            // argmax by (pair_n desc, pair asc in UTF-8 binary order —
            // the collation Spark's orderBy and DuckDB's ORDER BY share)
            var bestP: String = null
            var bestU: org.apache.spark.unsafe.types.UTF8String = null
            var bestN = Long.MinValue
            val eit = pairs.entrySet().iterator()
            while (eit.hasNext) {
              val e = eit.next()
              val n = e.getValue()(0)
              if (n > bestN) {
                bestP = e.getKey
                bestU = org.apache.spark.unsafe.types.UTF8String.fromString(bestP)
                bestN = n
              } else if (n == bestN) {
                val u = org.apache.spark.unsafe.types.UTF8String.fromString(e.getKey)
                if (u.compareTo(bestU) < 0) { bestP = e.getKey; bestU = u }
              }
            }
            val m = bestP.replace(" ", "")
            val sp = bestP.split(" ")
            out += BpeMerge(k.toLong, sp(0), sp(1), m, bestN)
            val from = " " + bestP + " "
            val to = " " + m + " "
            syms = syms.map { case (s, n) => (s.replace(from, to), n) }
          }
          k += 1
        }
        out.iterator
      }
      .toDF()
  }

  /** Learn core over any (doc_id, text) frame — extracted so property
    * tests can drive random corpora through the exact production plan. */
  private[graft] def p66BpeCore(documents: DataFrame): DataFrame =
    bpeLearnTable(documents)
      .select(col("rnk"), col("left_sym"), col("right_sym"),
        col("merged"), col("pair_n"))
      .orderBy("rnk")

  /** p68: BPE tokenizer APPLICATION (encode) — the apply step that
    * completes p66's learn (Sennrich ACL'16, arXiv:1508.07909): the
    * learned merge table, applied in rank order, tokenizes the corpus,
    * and the per-source report gives the number every tokenizer build
    * signs off on — the compression ratio (BPE tokens per 10k character
    * tokens). Character-level tokenization is the rank-0 floor (every
    * non-space character one token); each merge strictly shrinks the
    * count wherever its pair occurs.
    *
    * Merge application rides the SAME stdlib `replace(' l r ', ' lr ')`
    * device p66 verified bit-identical across Java and DuckDB — applied
    * to the whole document's symbolization in one pass per merge. Word
    * boundaries are held by a '|' sentinel symbol (spaces → '|' before
    * char-spacing): learned pairs never contain '|' (it does not occur
    * in corpus words), so no replace can fuse across words — exactly
    * per-word BPE without exploding the corpus to the word grain. An
    * empty merge step (all words single-symbol — exhausted vocabulary)
    * passes documents through unchanged via a left join, never wiping
    * the corpus the way a bare cross join against an empty argmax would.
    *
    * 100 TB posture: learning runs on the |vocab| grain (p66's plan —
    * the corpus-sized stage is one word-count aggregation); the merge
    * table is K broadcast single-row frames; encoding is a pure
    * projection over the corpus (string replaces + length arithmetic,
    * all codegen'd); the report is one map-side-combined aggregation on
    * source. Zero data-row shuffles end to end. A production deployment
    * persists the merge table and runs only the projection.
    */
  def p68BpeEncode(spark: SparkSession, dir: String): DataFrame =
    p68BpeEncodeCore(Tables.documents(spark, dir))

  private[graft] def p68BpeEncodeCore(documents: DataFrame): DataFrame = {
    // the ≤K-row learn table folds to ONE row (sort_array keeps rank
    // order — merges MUST apply in learned order) and rides a broadcast
    // cross join; the graft_bpe_apply kernel then performs the
    // '|'-sentinel symbolization + all K stdlib replaces per document
    // in one call — the r12 form paid K broadcast left joins and a
    // corpus-grain regexp_replace, plus the K argmax jobs of the
    // unrolled learn. An empty learn table (exhausted vocabulary)
    // passes the symbolization through — the old left-join-NULL arm.
    val merges1 = bpeLearnTable(documents)
      .agg(sort_array(collect_list(struct(col("rnk"),
        concat(col("left_sym"), lit(" "), col("right_sym")).as("pair"),
        col("merged").as("m")))).as("bpe_merges"))
    val doc = documents
      .crossJoin(broadcast(merges1))
      .select(col("source"),
        length(expr("replace(coalesce(text, ''), ' ', '')")).cast("long")
          .as("chars"),
        expr("graft_bpe_apply(coalesce(text, ''), bpe_merges)").as("sym"))
    doc
      // symbol count = spaces-between + 1 on the trimmed string; word
      // sentinels then come back off. Pure length arithmetic — no
      // split/array materialization on the corpus grain.
      .withColumn("bpe",
        when(length(trim(col("sym"))) === 0, lit(0L))
          .otherwise((length(trim(col("sym")))
            - length(expr("replace(trim(sym), ' ', '')")) + 1).cast("long")
            - (length(col("sym"))
              - length(expr("replace(sym, '|', '')"))).cast("long")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars")).as("n_char_tokens"),
        sum(col("bpe")).as("n_bpe_tokens"))
      .select(col("source"), col("n_docs"),
        col("n_char_tokens").cast("long").as("n_char_tokens"),
        col("n_bpe_tokens").cast("long").as("n_bpe_tokens"),
        expr("""CASE WHEN n_char_tokens = 0 THEN CAST(10000 AS BIGINT)
          |ELSE n_bpe_tokens * 10000 DIV n_char_tokens END""".stripMargin)
          .as("compression_pm"))
      .orderBy("source")
  }

  /** p67: staged dedup CASCADE audit — exact (d21) then transitive
    * near-dup (d22 candidates + d26 components), reported per source as
    * the stage-by-stage removal funnel every corpus build publishes
    * (how many documents each stage dropped, and what survived).
    *
    * Differs from p55 (which keeps the greedy bucket-minimum rule so the
    * whole pipeline stays pair-free): the cascade runs the TRANSITIVE
    * cluster rule on the exact-survivor subgraph — d26's semantics
    * staged after d21's, the order production cascades use (cheap exact
    * pass first shrinks the near-dup candidate graph).
    *
    * Stage rules (shared definitions, nothing re-invented):
    *  - exact: survivor = min doc_id per md5(text) group (d21).
    *  - near: d22's band-bucket candidate pairs restricted to exact
    *    survivors (two semi-joins; a pair with a dropped endpoint is
    *    dead weight), min-label components over that subgraph
    *    ([[Dedup.connectedComponents]]), survivor = component min.
    *
    * 100 TB posture: the exact stage is one linear hash aggregation on
    * the content hash; the restriction joins shuffle the PAIR list
    * (≪ corpus — band selectivity bounds it), never corpus²; components
    * run on the near-dup subgraph only (finished on the driver under the
    * broadcast threshold, else log-ish rounds of linear equi-joins,
    * lineage-truncated); the audit is one map-side-combined
    * aggregation on source. No stage re-scans text after the first
    * projection — docs ride as (doc_id, source, hash) triples.
    */
  def p67DedupCascade(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val keep1 = docs.groupBy("h").agg(min(col("doc_id")).as("keep_id"))
    val staged = docs.join(keep1, Seq("h"))
      .withColumn("exact_kept", col("doc_id") === col("keep_id"))
    val survivors = staged.filter(col("exact_kept")).select("doc_id")
    val pairs = Dedup.minhashBandPairs(spark, dir)
      .join(survivors.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
      .join(survivors.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
    val cc = Dedup.connectedComponents(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
    val nearRemoved = cc.filter(col("node") =!= col("cluster_id"))
      .select(col("node").as("doc_id"), lit(1).as("near_removed"))
    staged
      .join(nearRemoved, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_input"),
        sum(when(!col("exact_kept"), 1L).otherwise(0L)).as("removed_exact"),
        sum(when(col("exact_kept") && col("near_removed").isNotNull, 1L)
          .otherwise(0L)).as("removed_near"))
      .select(col("source"), col("n_input"), col("removed_exact"),
        col("removed_near"),
        (col("n_input") - col("removed_exact")).as("n_after_exact"),
        (col("n_input") - col("removed_exact") - col("removed_near"))
          .as("n_after_near"))
      .orderBy("source")
  }

  /** p69 hashed-feature domain — one definition with the codegen'd
    * kernel (see [[graft.functions.PortableHash.DsirBuckets]]). */
  val DsirBuckets: Long = graft.functions.PortableHash.DsirBuckets

  /** p69: DSIR data selection — importance resampling via hashed n-gram
    * features (Xie et al. 2023, arXiv:2302.03169, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much more likely its features are under the TARGET
    * distribution than under the raw-corpus distribution, and keep the
    * docs that look target-like. The target here is the held-out eval
    * benchmark set (t32's `doc_id % 13 == 0` rule — ONE benchmark
    * definition across the contamination screen and the selector).
    * Features are hashed word unigrams + bigrams into
    * [[DsirBuckets]] buckets (the paper's hashed n-gram device); bucket
    * distributions are add-one smoothed; a doc's log importance ratio is
    * λ_d = Σ_f c_f·(ln(t_f+1) − ln(r_f+1) + ln(R+B) − ln(T+B)) — every
    * ln argument INTEGRAL (the t40 float device), the per-feature term
    * associative, λ rounded to 6dp. Selection is the deterministic
    * threshold λ ≥ 0 (features more likely under the target than under
    * raw) — the paper's Gumbel-top-k sampling replaced by its
    * reproducible, growth-stable limit (a doc's verdict never changes
    * as the corpus grows, the p56 discipline).
    *
    * 100 TB posture: ONE corpus scan — unigram and bigram features ride
    * a single explode (arrays_zip with the shifted token array, the t36
    * bigram device, then a 2-wide array explode); the only data-sized
    * shuffle is the partial-aggregated (doc, feature) grain; both the
    * per-bucket table (≤B rows) and the totals row BROADCAST back onto
    * that grain; the per-doc rollup re-uses the doc_id-prefixed
    * aggregation. Nothing corpus-sized ever builds or sorts globally.
    */
  def p69DsirSelect(spark: SparkSession, dir: String): DataFrame =
    p69DsirCore(Tables.documents(spark, dir))

  /** Rule core over any (doc_id, text) frame — property tests drive
    * constructed target/raw corpora through the production plan. */
  private[graft] def p69DsirCore(documents: DataFrame): DataFrame = {
    val B = DsirBuckets
    // the whole per-doc (feature, count) pre-aggregate folds inside the
    // codegen'd graft_feat_counts kernel — ONE pass per doc against a
    // fixed 1024-slot histogram (the first cut's arrays_zip + double
    // explode shuffled string intermediates and measured 6.8 s at sf1;
    // the r9 form exploded per-occurrence bucket longs and exchanged
    // the corpus-sized (doc, f) grain to aggregate them — the kernel
    // removes that exchange entirely, the t36 device)
    // materialized ONCE (the t43 checkpoint device): the bucket-total
    // branch and the scoring join would otherwise each re-run the
    // scan+split+kernel pass — feats has no exchange for ReuseExchange
    // to collapse
    val feats = graft.Checkpoints.of(documents
      .select(col("doc_id"), explode(expr(
        "graft_feat_counts(split(coalesce(text, ''), ' '))")).as("fc"))
      .select(col("doc_id"), col("fc.f").as("f"), col("fc.c").as("c"))
      .withColumn("is_target", col("doc_id") % 13 === 0))
    val bt = feats.groupBy("f").agg(
      sum(when(col("is_target"), col("c")).otherwise(0L)).as("t_f"),
      sum(when(!col("is_target"), col("c")).otherwise(0L)).as("r_f"))
    val tot = bt.agg(sum(col("t_f")).as("t_tot"), sum(col("r_f")).as("r_tot"))
    feats.filter(!col("is_target"))
      .join(broadcast(bt), Seq("f"))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_feats"),
        round(sum(col("c").cast("double") *
          expr(s"ln(CAST(t_f + 1 AS DOUBLE)) - ln(CAST(r_f + 1 AS DOUBLE))" +
               s" + ln(CAST(r_tot + $B AS DOUBLE)) - ln(CAST(t_tot + $B AS DOUBLE))")), 6)
          .as("log_ratio"))
      .select(col("doc_id"), col("n_feats"), col("log_ratio"),
        // The λ ≥ 0 gate reads the 6dp-ROUNDED sum, so a verdict can
        // flip between engines/partitionings only if the unrounded
        // nondeterministically-ordered double sum sits within one ulp
        // of a 5e-7 rounding boundary AND that boundary is 0 — ~1e-16
        // relative noise vs a 5e-7 quantum, ~1e-9 odds per doc
        // (ADVICE r8: acknowledged repo-wide float device; the same
        // exposure as t36/t40/t41's rounded scores, gating a binary
        // selection here). MEASURED margin (r10): the closest doc to
        // λ=0 sits at |log_ratio| = 1.76e-1 / 2.3e-2 / 4.2e-5 / 7e-6
        // at sf0.001/0.01/0.1/1 — 14+ rounding quanta from the
        // boundary at every gate SF, so no doc's verdict can flip from
        // summation-order noise on these corpora.
        (col("log_ratio") >= 0).cast("int").as("selected"))
      .orderBy("doc_id")
  }

  /** p71: LEAKAGE-SAFE train/val/test split — p56's deterministic hash
    * split made safe against near-duplicate contamination: a document
    * and its near-copies MUST land in the same split, or the eval set
    * scores the model on paraphrases of its own training data (the
    * train/test leakage that Lee et al. arXiv:2107.06499 §6.2 measure —
    * deduplicated training removes it precisely because near-dups
    * straddle splits; the standard fix in every serious corpus build is
    * to split by DUP-GROUP, the grouped-split discipline). The unit of
    * assignment is therefore the d22/d26 near-dup CLUSTER
    * ([[Dedup.nearDupComponents]] — one cluster definition with
    * d26/d31): split = p56's salted-hash permille rule applied to the
    * CLUSTER id; singletons (no near-dup candidate) are their own
    * cluster. Output: per-doc (cluster_id, cluster_size, split),
    * spec-pinned so no cluster ever spans two splits.
    *
    * Reproducibility note: assignment is a pure function of the cluster
    * IDENTITY (its min member id), so re-runs and corpus growth never
    * move an existing cluster — with the inherent caveat that a NEW
    * document can merge two clusters, and the merged cluster follows
    * the smaller min-id (leakage-safety forces the move; a split that
    * refused it would leak).
    *
    * 100 TB posture: components are d26's log-round linear equi-joins;
    * the doc ⋈ component join is linear with the component side bounded
    * by the near-dup population; the size window is ONE cluster-keyed
    * exchange; the split itself is a zero-shuffle hash projection
    * (p56's discipline).
    */
  def p71LeakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val comp = Dedup.nearDupComponents(spark, dir)
    Tables.documents(spark, dir).select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .withColumn("u",
        pmod(ph(concat_ws(":", lit("gsplit"), col("cluster_id"))), lit(1000L)))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        when(col("u") < DefaultTestPm, "test")
          .when(col("u") < DefaultTestPm + DefaultValPm, "val")
          .otherwise("train").as("split"))
      .orderBy("doc_id")
  }

  /** p72: corpus snapshot DIFF — the dataset-versioning operator every
    * managed corpus ships (lakeFS/DVC diff, Delta DESCRIBE HISTORY's
    * change accounting): two snapshots of the corpus compared by
    * content hash into the added / removed / changed / unchanged
    * taxonomy with a per-source churn report — the number a corpus
    * release signs off on ("what moved since v1?"), and the input to
    * t39's drift monitor (t39 asks "did the DISTRIBUTION move", p72
    * asks "WHICH documents moved").
    *
    * The OLD snapshot is synthesized deterministically from the corpus
    * (the q57/q74 divergence device, so the DuckDB oracle restates it
    * exactly): every `doc_id ≡ 3 (mod 7)` is absent from OLD (appears
    * ADDED in NEW), OLD additionally carries one ghost row per
    * `doc_id ≡ 6 (mod 7)` under a key offset that exists in no real
    * snapshot (appears REMOVED), and every OLD row with
    * `doc_id ≡ 0 (mod 11)` carries its text half-truncated (appears
    * CHANGED).
    *
    * 100 TB posture: a diff never compares text — both sides reduce to
    * (doc_id, source, content_hash) in their scans (d21's md5 device;
    * production reads these from the content-hash INDEX each snapshot
    * already maintains for dedup), meet in ONE doc_id equi full-outer
    * join (co-partitionable; q39's bucketing makes it exchange-free
    * between snapshots of the same table), and the report is one
    * map-side-combined aggregate to the |sources| grain.
    */
  def p72SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val oldSnap = docs
      .filter(pmod(col("doc_id"), lit(7)) =!= 3)
      .select(col("doc_id"), col("source"),
        md5(when(pmod(col("doc_id"), lit(11)) === 0,
            substring(col("text"), lit(1), (length(col("text")) / 2).cast("int")))
          .otherwise(col("text"))).as("h_old"))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(7)) === 6)
        // ghost keys use a NEGATIVE sentinel (-doc_id - 1), which is
        // out-of-domain at ANY corpus size — a fixed positive offset
        // collides with real doc_ids once the corpus exceeds it and the
        // duplicate keys fan out the full-outer join (ADVICE r9; the
        // q46 sentinel precedent).
        .select((-col("doc_id") - 1L).as("doc_id"), col("source"),
          md5(col("text")).as("h_old")))
    val newSnap = docs
      .select(col("doc_id"), col("source").as("source_new"),
        md5(col("text")).as("h_new"))
    oldSnap.join(newSnap, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("source_new"), col("source")).as("source"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy("source")
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
      .select(col("source"), col("n_added"), col("n_removed"),
        col("n_changed"), col("n_unchanged"),
        ((col("n_added") + col("n_removed")) * 10000L +
          col("n_changed") * 10000L).as("churn_x"),
        (col("n_added") + col("n_changed") + col("n_unchanged")).as("n_new"))
      .select(col("source"), col("n_added"), col("n_removed"),
        col("n_changed"), col("n_unchanged"),
        expr("churn_x DIV n_new").as("churn_pm"))
      .orderBy("source")
  }
}
