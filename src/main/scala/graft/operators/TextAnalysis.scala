package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.PortableHash.ph

/** Text-analysis operators t28–t31 (SURVEY.md §2) over `documents`:
  * language ID, quality scoring, token counting, fingerprinting. All
  * pure column expressions (codegen'd, no UDFs), reproducible in ANSI
  * SQL for the oracle.
  */
object TextAnalysis {

  // canonical lists live with the codegen'd kernel — one definition for
  // the expression, these column chains, and (by value) the oracle
  private val profiles = graft.functions.TextHash.StopProfiles
  private val stopEn = profiles(0).toSeq
  private val stopDe = profiles(1).toSeq
  private val stopEs = profiles(2).toSeq
  private val stopFr = profiles(3).toSeq
  private val stopZh = profiles(4).toSeq

  private def inList(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString("(", ", ", ")")

  /** Adds the five stopword-profile scores and `pred_lang` (fixed
    * precedence tie-break en > de > es > fr > zh). Requires a `words`
    * column. Shared by t28 and the p55 pipeline — ONE definition, so the
    * composite can never drift from the standalone operator.
    */
  private[graft] def withPredLang(df: DataFrame): DataFrame = {
    // all five profile scores in ONE codegen'd pass over the token
    // array (the five interpreted size(filter(...)) chains measured
    // 3.4 s at sf1 on t38 — see graft.functions.TextHash.stopScoresData)
    df
    .withColumn("graft_ls", expr("graft_stop_scores(words)"))
    .withColumn("s_en", col("graft_ls").getItem(0))
    .withColumn("s_de", col("graft_ls").getItem(1))
    .withColumn("s_es", col("graft_ls").getItem(2))
    .withColumn("s_fr", col("graft_ls").getItem(3))
    .withColumn("s_zh", col("graft_ls").getItem(4))
    .drop("graft_ls")
    .withColumn("pred_lang",
      when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
           col("s_en") >= col("s_fr") && col("s_en") >= col("s_zh"), "en")
      .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr") &&
            col("s_de") >= col("s_zh"), "de")
      .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_zh"), "es")
      .when(col("s_fr") >= col("s_zh"), "fr")
      .otherwise("zh"))
  }

  /** t28: language ID via stopword-profile scores with a fixed
    * precedence tie-break (en > de > es > fr > zh). A deterministic
    * n-gram heuristic — parity with the oracle matters, not accuracy.
    */
  def t28Langid(spark: SparkSession, dir: String): DataFrame = {
    withPredLang(sortedByDoc(Tables.documents(spark, dir), "lang", "text")
        .withColumn("words", split(col("text"), " ")))
      .select(col("doc_id"), col("pred_lang"), col("lang").as("actual_lang"),
        (col("pred_lang") === col("lang")).cast("int").as("correct"),
        col("s_en"), col("s_de"), col("s_es"), col("s_fr"), col("s_zh"))
  }

  /** `doc_id` plus `cols`, globally sorted on `doc_id` — the base of the
    * per-document kernel operators, whose kernels are projected ABOVE
    * this sort. A global sort's range partitioner samples by running the
    * exchange's child once more before the map stage runs it, so a
    * kernel projected below the sort was evaluated twice per row; above
    * it, the raw rows cross the exchange and the kernel runs once, on
    * the post-exchange tasks. */
  private[graft] def sortedByDoc(documents: DataFrame, cols: String*): DataFrame =
    documents.select("doc_id", cols: _*).orderBy("doc_id")

  /** Adds length/stopword quality metrics and `score_x10000`. Requires a
    * `words` column. Shared by t29 and the p55 pipeline. The score is
    * scaled to an integer (×10000, floor(x+0.5)) — identical IEEE
    * doubles on both engines make floor deterministic, unlike decimal
    * round() whose half-case handling differs across engines.
    */
  private[operators] def withQualityScore(df: DataFrame): DataFrame = {
    // the en-profile count comes from the same codegen'd kernel the
    // language chain uses (element 0) — not an interpreted filter
    df
    .withColumn("n_chars_m", length(col("text")).cast("long"))
    .withColumn("n_words", size(col("words")).cast("long"))
    .withColumn("n_letters", (col("n_chars_m") - (col("n_words") - 1)).cast("long"))
    .withColumn("avg_word_len",
      round(col("n_letters").cast("double") / col("n_words").cast("double"), 4))
    .withColumn("stop_ratio", round(
      expr("graft_stop_scores(words)[0]").cast("double") /
        col("n_words").cast("double"), 4))
    .withColumn("score_x10000", floor(
      (lit(0.3) * least(col("n_words").cast("double") / 100.0, lit(1.0)) +
       lit(0.4) * (lit(1.0) - col("stop_ratio")) +
       lit(0.3) * least(col("avg_word_len") / 8.0, lit(1.0))) * 10000.0 + 0.5)
      .cast("long"))
  }

  /** t29: document quality scoring — length, stopword ratio, mean word
    * length — the length/punct/stopword-ratio heuristics of corpus
    * filtering pipelines.
    */
  def t29Quality(spark: SparkSession, dir: String): DataFrame = {
    withQualityScore(sortedByDoc(Tables.documents(spark, dir), "text")
        .withColumn("words", split(col("text"), " ")))
      .withColumn("quality_ok", (col("score_x10000") >= 5000L).cast("int"))
      .select("doc_id", "n_chars_m", "n_words", "avg_word_len", "stop_ratio",
        "score_x10000", "quality_ok")
  }

  /** t30: token counting per source — whitespace tokens, distinct
    * vocabulary, char totals. Two aggregation grains (doc-level sums +
    * corpus-level distinct) joined on the blocking key.
    */
  def t30Tokencount(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // token counting never materializes the token array (r18):
    // graft_ws_token_count is a byte scan (#spaces + 1 ≡ size(split)
    // at limit −1, empties included), halving this branch at sf10
    // (4.45 → 2.54 s)
    val perSource = docs
      .select(col("source"), col("text"),
        expr("graft_ws_token_count(text)").as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        sum(length(col("text"))).as("total_chars"),
        round(avg(col("nt")), 4).as("avg_tokens"))
    // within-doc dedupe BEFORE the explode (r17), fused into ONE kernel
    // pass over the text bytes (r18): graft_distinct_tokens replaces
    // split + array_distinct — zero-copy set probes, bytes copied only
    // per distinct token (6.68 → 4.71 s for this branch at sf10; the
    // whole operator 6.48 → 5.21 s same-session). The countDistinct
    // exchange still carries only ≤|vocab| per-task partials.
    val vocab = docs
      .select(col("source"), explode(expr("graft_distinct_tokens(text)")).as("w"))
      .groupBy("source")
      .agg(countDistinct(col("w")).as("n_distinct_tokens"))
    perSource.join(vocab, Seq("source"))
      .select("source", "n_docs", "total_tokens", "total_chars", "avg_tokens",
        "n_distinct_tokens")
      .orderBy("source")
  }

  /** t31: normalized document fingerprint — portable hash of the sorted
    * distinct word set (a bag-of-words content signature); groups share
    * a fingerprint iff vocabularies match.
    */
  def t31Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    // per-doc sort+hash fuses onto the scan — rebalance (gated)
    Tables.rebalanceSmallScan(Tables.documents(spark, dir))
      .withColumn("fp", ph(expr(
        "concat_ws(' ', array_sort(array_distinct(split(text, ' '))))")))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
      .orderBy("fp")
  }

  /** Contamination flag threshold: a fifth of a training doc's distinct
    * 3-gram shingles appearing verbatim in the eval set is far above this
    * corpus's chance-overlap floor (mean 0.06 at sf0.01) while still
    * catching partial inclusions, not just exact copies. */
  val ContaminationThreshold = 0.2

  /** t32: eval-benchmark decontamination screen. Docs with
    * `doc_id % 13 == 0` stand in for a held-out eval benchmark; every
    * remaining (training) doc is scored by the fraction of its distinct
    * 3-gram shingles that appear anywhere in the benchmark — the
    * n-gram-overlap screen LLM corpus pipelines run before training so
    * eval answers don't leak into the training set.
    *
    * 100 TB posture: the benchmark shingle index is tiny (eval suites
    * are MBs, not TBs) — `broadcast()` pins it to the build side, so the
    * corpus is ONE scan with a map-side hash probe; the only shuffle is
    * the per-doc partial-aggregated hit count (≤ 1 row per doc after
    * map-side combine). Shingles are hashed inside
    * `graft_shingle_hashes3` (codegen'd), so no shingle string is ever
    * materialized into the plan — same posture as d24.
    */
  def t32Contamination(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.rebalanceSmallScan(Tables.documents(spark, dir))
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), expr("graft_shingle_hashes3(words)").as("xs"))
      .select(col("doc_id"), size(col("xs")).cast("long").as("nsh"),
        explode(col("xs")).as("x"))
    val bench = sh.filter(col("doc_id") % 13 === 0)
      .select("x").distinct().withColumn("hit", lit(1))
    sh.filter(col("doc_id") % 13 =!= 0)
      .join(broadcast(bench), Seq("x"), "left")
      .groupBy(col("doc_id"), col("nsh"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("doc_id"), col("nsh"), col("n_hit"),
        round(col("n_hit").cast("double") / col("nsh").cast("double"), 4)
          .as("overlap"))
      .withColumn("contaminated",
        (col("overlap") >= ContaminationThreshold).cast("int"))
      .orderBy("doc_id")
  }

  /** PII patterns shared by the Spark plan and the DuckDB oracle. Kept to
    * the regex subset where Java (Spark) and RE2 (DuckDB) agree exactly:
    * character classes, bounded repetition, literals — no backrefs, no
    * lookaround, no word boundaries.
    */
  val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val SsnPat = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  val PhonePat = "555-01[0-9]{2}"

  /** t33: PII detection + redaction — the scrubbing pass every
    * training-corpus pipeline runs before text reaches a tokenizer:
    * match emails / SSN-shaped ids / phone numbers, replace each with a
    * typed placeholder, and report per-source counts plus a content
    * witness (min md5 of the redacted text — proves the redacted BYTES
    * match the oracle, not just the counts).
    *
    * The synthetic corpus carries no PII (no digits, no '@'), so the
    * operator first appends a deterministic ingest-footer derived from
    * doc_id (email always; SSN for doc_id%3==0; phone for doc_id%2==0 —
    * SSN area codes land in 100–499, so the 555-prefixed phone pattern
    * cannot overlap). The footer synthesis is the m32-style stand-in;
    * the scrubbing machinery is the real operator and would run
    * unchanged on a corpus with native PII.
    *
    * Counts are over the RAW string per pattern; `clean` is the TIERED
    * email→ssn→phone replacement. r12: the whole scrub folds into the
    * codegen'd `graft_pii_scrub` kernel ([[graft.functions.TextHash.piiScrubData]])
    * — the previous 3×regexp_count + 3×nested regexp_replace shape was
    * plan-ideal but paid six full java.util.regex traversals of every
    * document (4.26 s / 8.7× vs DuckDB at sf1, the largest unworked
    * absolute in VERDICT r11); the kernel does one email scan + four
    * fixed-shape byte scans, no Pattern machinery.
    *
    * 100 TB posture: pure per-row projection + one map-side-combined
    * aggregation on source — no join, no window, embarrassingly
    * parallel.
    */
  def t33PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    // the scrub kernel is the whole cost and fuses onto the scan — a
    // single-row-group file would serialize it on one core
    // (Tables.rebalanceSmallScan: no-op on a real lake layout)
    val docs = Tables.rebalanceSmallScan(Tables.documents(spark, dir))
    val footer = concat(
      lit(" contact user"), col("doc_id").cast("string"), lit("@mail.example.com"),
      when(col("doc_id") % 3 === 0, concat(
        lit(" ssn "), (col("doc_id") % 400 + 100).cast("string"),
        lit("-"), (col("doc_id") % 89 + 10).cast("string"),
        lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(col("doc_id") % 2 === 0, concat(
        lit(" phone 555-01"), lpad((col("doc_id") % 100).cast("string"), 2, "0")))
        .otherwise(lit("")))
    docs
      .withColumn("raw", concat(col("text"), footer))
      .withColumn("pii", expr("graft_pii_scrub(raw)"))
      .withColumn("n_email", col("pii.n_email"))
      .withColumn("n_ssn", col("pii.n_ssn"))
      .withColumn("n_phone", col("pii.n_phone"))
      .withColumn("clean", col("pii.clean"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_email")).as("n_emails"),
        sum(col("n_ssn")).as("n_ssns"),
        sum(col("n_phone")).as("n_phones"),
        sum(length(col("raw")).cast("long") - length(col("clean")).cast("long"))
          .as("chars_redacted"),
        // witness as a 60-bit INT (first 15 md5 hex chars), not the hex
        // STRING (r17): a string agg buffer is not UnsafeRow-mutable,
        // so min(md5) silently demoted this corpus-grain aggregation to
        // SortAggregate — a per-partition sort of every document. Same
        // collision resistance for a witness; both engines agree
        // exactly (the phSql device).
        min(conv(substring(md5(col("clean")), 1, 15), 16, 10).cast("long"))
          .as("content_witness"))
      .orderBy("source")
  }

  /** t34 flag thresholds (permyriad), set against this corpus's measured
    * distributions (dup-word q10/50/90 = 2500/5380/6785; top-bigram
    * q50/90/99 = 333/689/1112): a doc is repetition-flagged when its
    * duplicate-word share sits above ~the 75th percentile or its top
    * bigram is pathologically dominant. */
  val DupWordFlagPm = 6000L
  val TopBigramFlagPm = 700L

  /** t34: repetition signals — the Gopher-style repetitious-text quality
    * filter (duplicate-word fraction + most-frequent-bigram share; Rae
    * et al. 2021, arXiv:2112.11446 §A1.1.3's repetition heuristics) LLM
    * corpus pipelines apply alongside t29's length heuristics. All
    * integer permyriad arithmetic so both engines agree exactly.
    *
    * Every signal is WITHIN-document, so the whole operator is a per-row
    * projection — zero shuffles (an explode + doc_id-keyed groupBy
    * formulation paid two exchanges to compute what each row already
    * holds). All four counts fold inside the codegen'd
    * `graft_rep_stats` kernel — ONE walk of the token array with a
    * hash set (distinct words) and a bigram-count map (dominant
    * bigram). The first cut materialized + array_sort'ed the bigram
    * array and ran an interpreted `aggregate` fold over it — three
    * interpreted HOFs per document on the corpus grain (the t38
    * lesson; 8.9 s → kernel at sf1 under full evaluation). Per-doc
    * cost is O(L), bounded by document length, embarrassingly
    * parallel — the ideal 100 TB shape. Docs with <2 words have no
    * bigrams and are excluded on both engines by the same predicate.
    */
  def t34Repetition(spark: SparkSession, dir: String): DataFrame = {
    sortedByDoc(Tables.documents(spark, dir), "text")
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 2)
      .withColumn("rs", expr("graft_rep_stats(words)"))
      .select(col("doc_id"),
        col("rs.n_words").as("n_words"),
        col("rs.n_distinct").as("n_distinct"),
        col("rs.top_bigram_n").as("top_bigram_n"),
        col("rs.n_bigrams").as("n_bigrams"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        expr("(n_words - n_distinct) * 10000 DIV n_words").as("dup_word_pm"),
        expr("top_bigram_n * 10000 DIV n_bigrams").as("top_bigram_pm"))
      .withColumn("rep_flagged",
        (col("dup_word_pm") >= DupWordFlagPm ||
         col("top_bigram_pm") >= TopBigramFlagPm).cast("int"))
  }

  /** t35 keywords kept per document. */
  val KeywordsPerDoc = 3

  /** t35: per-document keyword extraction — the top-[[KeywordsPerDoc]]
    * most salient tokens per doc by an integer tf/df relevance score
    * (`tf · 10⁶ div df` — monotone in tf-idf's tf·log(N/df) for a fixed
    * doc, but exact integer arithmetic both engines reproduce bit-for-
    * bit, where `ln()` could differ in the last ulp and flip a rank).
    * The signal corpus pipelines use for topic tagging and
    * stratified inspection sampling.
    *
    * 100 TB posture (r12): term frequency completes PER DOCUMENT inside
    * the codegen'd `graft_token_counts` kernel — token occurrences
    * never exist as rows, so nothing corpus-sized ever shuffles.
    * Document frequency is one aggregation of the (doc, distinct-token)
    * grain (one row per distinct pair, so `count(*)` = df — no
    * count-distinct expansion) and comes back as a broadcast join (a
    * tokenizer-scale vocabulary is MBs; a join would re-shuffle every
    * (doc, token) pair by token). The corpus is scanned twice (df pass,
    * score pass — t36's CCNet two-pass shape); the per-doc top-k filter
    * on `row_number` is pushed into the shuffle as WindowGroupLimit
    * (PlanSpec pins it) — only ≤k rows per doc survive the exchange.
    */
  def t35Keywords(spark: SparkSession, dir: String): DataFrame =
    t35KeywordsCore(Tables.documents(spark, dir))

  /** Rule core over any (doc_id, text) frame — extracted so property
    * tests can drive random corpora through the exact production plan. */
  private[graft] def t35KeywordsCore(documents: DataFrame): DataFrame = {
    // tf completes PER DOCUMENT inside the codegen'd graft_token_counts
    // kernel (r12; the bigram_counts/t36 discipline) — occurrence rows
    // never exist in the plan. The ONE corpus exchange (kept from the
    // r8 design: hash by doc_id ALONE, reused by the df branch AND
    // satisfying the rank window via the subset rule) now carries
    // (doc, DISTINCT token, count) rows instead of raw occurrences —
    // same minimal exchange count, strictly fewer bytes. A two-scan
    // variant (df pass + score pass, t36's shape) was measured WORSE
    // here (2.30 vs 2.12 s at sf1): t35's probe side needs the full
    // per-doc tf rows anyway, so the second kernel scan buys nothing.
    // the doc_id exchange moved BELOW the kernel (r13): it now carries
    // raw (doc_id, text) rows instead of kernel output, so the
    // token-counts kernel + explode run 32-wide in the post-exchange
    // stage of BOTH branches instead of once on the (single-row-group,
    // 1-task) scan — same exchange count, each branch's kernel pass is
    // cores-wide, and the shared exchange still satisfies the rank
    // window via the subset rule
    val tf = documents
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(expr("graft_token_counts(split(text, ' '))")).as("tc"))
      .select(col("doc_id"), col("tc.w").as("token"), col("tc.c").as("tf"))
    // phrased so the df branch still needs the tf column: with count(*)
    // Catalyst prunes tf below the exchange, the two subtrees stop
    // being canonically identical, and ReuseExchange can no longer
    // collapse them (the corpus would be scanned twice)
    val docFreq = tf.groupBy("token")
      .agg(sum(when(col("tf") >= 1L, 1L).otherwise(0L)).as("df"))
    tf.join(broadcast(docFreq), Seq("token"))
      .withColumn("rel_ppm", expr("tf * 1000000 DIV df"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("rel_ppm").desc, col("token"))))
      .filter(col("rnk") <= KeywordsPerDoc)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("token"),
        col("tf"), col("df"), col("rel_ppm"))
      .orderBy("doc_id", "rnk")
  }

  /** t36: self-trained bigram language-model scoring — the CCNet-style
    * LM quality filter (Wenzek arXiv:1911.00359 scores documents by
    * KenLM perplexity and drops the worst tail). The model here is
    * trained on the corpus itself in the same pass: corpus bigram
    * counts c(w1,w2) and left-context totals c(w1·) give each bigram
    * occurrence the conditional probability P(w2|w1) = c(w1,w2)/c(w1·),
    * and a document's score is its mean bigram probability. Documents
    * full of corpus-typical continuations score high; word salad and
    * boilerplate-shredded text score low — the same signal perplexity
    * carries, monotonically transformed.
    *
    * Reproducibility: log-probabilities would make the score a float
    * sum whose value depends on both the libm and the addition order —
    * not oracle-stable. Every step here is exact integer arithmetic
    * instead: per-bigram score floor(10⁶·c12/c1) (BIGINT div), per-doc
    * sum of n·score (exact), mean by one final integer division. The
    * probability scale (ppm) replaces the log scale; ranking and
    * thresholding behave the same.
    *
    * 100 TB posture: the per-doc bigram pre-aggregate is computed by
    * the codegen'd graft_bigram_counts kernel in one pass per document
    * — NO per-occurrence rows in the plan and NO corpus-sized exchange
    * anywhere except the gated small-scan rebalance (a no-op on a real
    * lake layout — see [[graft.Tables.rebalanceSmallScan]]; the r9 form
    * exchanged the (doc,w1,w2) grain and ran the model totals as two
    * differently-keyed window sort+exchanges over it — measured 4.6 s
    * of t36's 5.6 s at sf1). The MODEL collapses to the bigram-TYPE
    * grain (vocabulary²-bounded — 9.3k types on the sf1 corpus), folds
    * to ONE row with a content fingerprint, and BROADCASTS onto the
    * corpus, exactly CCNet's deployment shape (the trained KenLM model
    * ships to every worker; Wenzek §3); the SCORE pass is then a single
    * `graft_lm_doc_score` kernel projection — each doc's words walked
    * once against the fingerprint-memoized model map (r13; the r12
    * score side re-exploded the per-doc bigram types, probed a join per
    * type and re-grouped to the doc grain — sf1 pair 3.5 s → 1.9 s).
    * The corpus is scanned twice (train pass, score pass) — CCNet's own
    * two-pass structure. If a corpus ever outgrows a broadcastable
    * bigram model, the r12 (w1,w2)-keyed broadcast-join form is the
    * fallback — semantics unchanged.
    */
  def t36LmScore(spark: SparkSession, dir: String): DataFrame =
    // the score kernel sits above a broadcast cross join, so it cannot
    // move above the sort (a join does not keep its input's order); a
    // hash exchange of the narrow score rows puts a stage boundary
    // under the range exchange instead, and its sampling job reads that
    // shuffle output rather than re-running the kernel
    t36Scores(Tables.documents(spark, dir))
      .repartition(col("doc_id")).orderBy("doc_id")

  /** t36's per-doc score core — (doc_id, n_bigrams, lm_score_ppm) for
    * every doc with >= 2 words; shared with t43's bucket split (one
    * scoring definition, the withPredLang discipline). */
  private[graft] def t36Scores(documents0: DataFrame): DataFrame = {
    // both passes are kernel-heavy per-doc walks fused onto the scan —
    // the single-row-group bench file would serialize them on one core
    // (Tables.rebalanceSmallScan: no-op on a real lake layout)
    val documents = graft.Tables.rebalanceSmallScan(documents0)
    // TRAIN pass: (doc, w1, w2, n) — the graft_bigram_counts kernel
    // computes the per-doc pre-aggregate in one pass (a doc with < 2
    // words emits an empty array and vanishes at the explode), so the
    // plan never carries per-occurrence rows; the model collapses to
    // the bigram-TYPE grain (vocabulary²-bounded) and the two
    // aggregations share one exchange via ReuseExchange
    val dbg = documents
      .select(col("doc_id"), explode(expr(
        "graft_bigram_counts(split(coalesce(text, ''), ' '))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"),
        col("b.n").as("n"))
    val bg = dbg.groupBy("w1", "w2").agg(sum("n").as("c12"))
    val model = bg
      .join(broadcast(bg.groupBy("w1").agg(sum("c12").as("c1"))), Seq("w1"))
      .select(col("w1"), col("w2"), expr("c12 * 1000000 DIV c1").as("s_ppm"))
    // the trained model folds to ONE row (an executor-side collect_list
    // at the vocabulary²-bounded grain, q56's 1-row broadcast pattern)
    // and rides a broadcast cross join onto the corpus. SCORE pass
    // (r13): the graft_lm_doc_score kernel walks each doc's words once
    // against the memoized model map — the r12 form exploded the per-doc
    // bigram types a second time, probed a broadcast join per type, and
    // re-aggregated to the doc grain (sf1 pair 3.49 s); scoring is now a
    // pure projection with NO explode, NO join, NO exchange. Two corpus
    // scans remain (train, score) — CCNet's own structure; a corpus
    // whose bigram-type grain outgrows a broadcast drops the 1-row fold
    // and the r12 shuffle-join form returns, semantics unchanged.
    // the fold also computes the model's content FINGERPRINT (an
    // order-independent xor of a 64-bit row hash) in the same
    // aggregation — the kernel's memo validates against it in O(1)
    // instead of byte-comparing the vocabulary²-sized array per row
    val model1 = model.agg(
      collect_list(struct(col("w1"), col("w2"), col("s_ppm"))).as("lm_model"),
      coalesce(bit_xor(xxhash64(col("w1"), col("w2"), col("s_ppm"))), lit(0L))
        .as("lm_fp"))
    documents
      // the <2-words filter runs BEFORE the kernel: n_bigrams ≥ 1 ⟺
      // ≥2 words (the model is trained on this same corpus, so every
      // doc bigram is in it) — filtering on s.n_bigrams AFTER would
      // push the predicate through the projection and evaluate the
      // kernel twice per row (measured 1.44 s vs 0.98 s at sf0.1)
      .withColumn("w", split(coalesce(col("text"), lit("")), " "))
      .filter(size(col("w")) >= 2)
      .crossJoin(broadcast(model1))
      .withColumn("s", expr("graft_lm_doc_score(w, lm_model, lm_fp)"))
      .select(col("doc_id"), col("s.n_bigrams").as("n_bigrams"),
        expr("s.tot DIV s.n_bigrams").as("lm_score_ppm"))
  }

  /** t38: language-ID evaluation — the confusion matrix for t28's
    * classifier against the corpus ground-truth label, with per-cell
    * row share (recall on the diagonal) and column share (precision on
    * the diagonal) in permyriad. Completes the eval-harness family:
    * every trained/heuristic component ships with its grader (s29 for
    * the ANN index, s31 for the clustering, t37 for the sketch, t38 for
    * language ID). Prediction logic is [[withPredLang]] — ONE
    * definition with t28, so the eval cannot drift from the classifier.
    *
    * Scale posture: one corpus scan, one partial-aggregated exchange to
    * the ≤|langs|² confusion grain; the share windows run on that tiny
    * grain. The corpus never shuffles.
    */
  def t38LangidEval(spark: SparkSession, dir: String): DataFrame = {
    val cm = withPredLang(Tables.documents(spark, dir)
        .withColumn("words", split(col("text"), " ")))
      .select(col("lang").as("actual_lang"), col("pred_lang"))
      .groupBy("actual_lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
    cm.withColumn("actual_total",
        sum(col("n_docs")).over(Window.partitionBy("actual_lang")))
      .withColumn("pred_total",
        sum(col("n_docs")).over(Window.partitionBy("pred_lang")))
      .select(col("actual_lang"), col("pred_lang"), col("n_docs"),
        expr("n_docs * 10000 DIV actual_total").as("actual_share_pm"),
        expr("n_docs * 10000 DIV pred_total").as("pred_share_pm"))
      .orderBy("actual_lang", "pred_lang")
  }

  /** t37 count-min geometry: 4 rows × 1024 buckets, and the top-K probe
    * set the estimates are graded on. Seed offset 32 keeps the (a,b)
    * pairs disjoint from the 16 minhash rows. */
  val CmsRows = 4
  val CmsWidth = 1024L
  val CmsTopK = 20
  // row-j hash pair = PortableHash.seedA/seedB(j + 32), inlined as the
  // column arithmetic (2j+67, 7919j+253409) since j rides as a column

  /** Row-`j` CMS bucket of a token — ONE definition for the batch sketch
    * (t37) and the streaming sketch (st43), so the continuously
    * maintained cells are bit-identical to the batch rebuild. */
  private[graft] def cmsBucket(token: Column, j: Column): Column = {
    val P = graft.functions.PortableHash.P
    pmod(pmod((j * 2 + 67) * pmod(ph(token), lit(P)) + j * 7919 + 253409, lit(P)),
      lit(CmsWidth))
  }

  /** t37: count-min frequency sketch (Cormode & Muthukrishnan 2005) +
    * heavy-hitter error report — the FREQUENCY member of the mergeable-
    * sketch family (q49 HLL = distinct count, q51 = quantiles): cell
    * (j, b) sums the counts of every token whose j-th hash lands in b;
    * a token's estimate is min_j cell(j, h_j(token)), an overestimate by
    * construction. The report grades the sketch against exact truth on
    * the top-[[CmsTopK]] tokens (the s29/s31 eval-harness pattern):
    * exact count, CMS estimate, overestimate in permyriad.
    *
    * The hash family is the minhash construction on the portable 60-bit
    * hash ((a_j·x + b_j) mod P mod W — exact int64, both engines
    * bit-identical); a real deployment tunes W to n/ε, and the sketch
    * merges by cell-wise addition — the property that makes it the
    * standard distributed frequency structure.
    *
    * Scale posture: ONE corpus explode feeds the same token-frequency
    * aggregate p60 uses (the only data-sized shuffle); the sketch is a
    * |vocab|·D → D·W partial-aggregated rollup (4096 cells — each task
    * pre-combines to ≤4096 rows regardless of input), and the probe is
    * a broadcast of the K-row top set against the broadcast sketch.
    */
  def t37CmsFreq(spark: SparkSession, dir: String): DataFrame =
    t37CmsCore(Tables.documents(spark, dir))

  /** Sketch core over any (doc_id, text) frame — extracted so property
    * tests can drive random corpora through the exact production plan. */
  private[graft] def t37CmsCore(documents: DataFrame): DataFrame = {
    val tf = documents
      .withColumn("words", split(coalesce(col("text"), lit("")), " "))
      .select(explode(col("words")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_occ"))
    val buckets = tf
      .select(col("token"), col("n_occ"),
        explode(array((0 until CmsRows).map(lit): _*)).as("j"))
      .withColumn("bucket", cmsBucket(col("token"), col("j")))
    val sketch = buckets.groupBy("j", "bucket").agg(sum(col("n_occ")).as("cms_cell"))
    val top = tf.orderBy(col("n_occ").desc, col("token")).limit(CmsTopK)
    val w = Window.orderBy(col("n_occ").desc, col("token"))
    broadcast(top)
      .join(buckets.select("token", "j", "bucket"), Seq("token"))
      .join(broadcast(sketch), Seq("j", "bucket"))
      .groupBy("token", "n_occ")
      .agg(min(col("cms_cell")).as("cms_n"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("rnk"), col("token"), col("n_occ").as("exact_n"), col("cms_n"),
        expr("(cms_n - n_occ) * 10000 DIV n_occ").as("over_pm"))
      .orderBy("rnk")
  }

  /** t39: corpus snapshot DRIFT report — the data-quality monitor every
    * continuously-ingested corpus runs before admitting a batch: does the
    * arriving increment (d27's `doc_id % 5` arrival rule — one admission
    * definition with d27/st38) look like the standing corpus, or has the
    * source mix / language mix shifted? Two monitored dimensions, each
    * compared as a categorical distribution: the DECLARED `source` and
    * t28's PREDICTED language ([[withPredLang]] — one prediction
    * definition with t28/t38/p55, so the monitor grades the same signal
    * the cleaning pipeline acts on). Distance is total-variation
    * TVD = ½·Σ|p−q| in exact integer permyriad — unlike PSI/KL there is
    * no ln(), so both engines agree bit-for-bit and a zero-count bucket
    * needs no smoothing. Output: one row per (dimension, value) with
    * counts, shares and |Δ| pm, plus a `__TOTAL__` row per dimension
    * carrying the TVD in `delta_pm` (alerting thresholds read that row).
    *
    * Scale posture: ONE corpus scan — the two dimensions ride a map-side
    * `stack` generator (2 rows per doc, no second pass), the only
    * data-sized shuffle is the partial-aggregated rollup to the
    * ≤|sources|+|langs| grain, and the share windows + TVD rollup run on
    * that tiny grain (the per-dim window is safe by construction —
    * post-aggregation cardinality, the q52 argument). The union's two
    * branches share one physical aggregation via ReuseExchange
    * (PlanSpec pins the single corpus scan).
    */
  def t39Drift(spark: SparkSession, dir: String): DataFrame =
    t39DriftCore(Tables.documents(spark, dir))

  /** Drift core over any (doc_id, source, text) frame — extracted so
    * property tests can drive synthetic shifted corpora through the
    * exact production plan. */
  private[graft] def t39DriftCore(documents: DataFrame): DataFrame = {
    val base = withPredLang(documents.withColumn("words", split(col("text"), " ")))
      .withColumn("is_new",
        pmod(col("doc_id"), lit(Dedup.IncrementalBatchMod.toLong)) === 0L)
    val u = base.selectExpr("is_new", DriftStack)
    driftTail(u.groupBy("dim", "value")
      .agg(sum(when(!col("is_new"), 1L).otherwise(0L)).as("old_n"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("new_n")))
  }

  /** The monitored dimensions as ONE stack generator — shared by t39
    * and st44 so the two monitors watch identical signals. */
  private[graft] val DriftStack =
    "stack(2, 'source', source, 'lang', pred_lang) as (dim, value)"

  /** t39's report tail over the (dim, value, old_n, new_n) grain —
    * shared with st44 (the streaming monitor), so the continuous and
    * batch drift reports cannot drift from each other. */
  private[graft] def driftTail(grain: DataFrame): DataFrame = {
    val w = Window.partitionBy("dim")
    val d = grain
      .withColumn("tot_old", sum(col("old_n")).over(w))
      .withColumn("tot_new", sum(col("new_n")).over(w))
      // an empty side (the very first increment, or a drained corpus) is
      // legitimate — its shares read 0, never a divide-by-zero
      .withColumn("old_share_pm",
        expr("CASE WHEN tot_old = 0 THEN 0L ELSE old_n * 10000 DIV tot_old END"))
      .withColumn("new_share_pm",
        expr("CASE WHEN tot_new = 0 THEN 0L ELSE new_n * 10000 DIV tot_new END"))
      .withColumn("delta_pm", abs(col("old_share_pm") - col("new_share_pm")))
    val perValue = d.select(col("dim"), col("value"), col("old_n"), col("new_n"),
      col("old_share_pm"), col("new_share_pm"), col("delta_pm"))
    val totals = d.groupBy("dim")
      .agg(max(col("tot_old")).as("old_n"), max(col("tot_new")).as("new_n"),
        expr("sum(delta_pm) DIV 2").as("delta_pm"))
      .select(col("dim"), lit("__TOTAL__").as("value"), col("old_n"), col("new_n"),
        lit(10000L).as("old_share_pm"), lit(10000L).as("new_share_pm"),
        col("delta_pm"))
    perValue.unionByName(totals).orderBy("dim", "value")
  }

  /** t40's low-entropy spam bar (nats, against the 6dp-rounded char
    * entropy — both engines threshold the identical rounded value).
    * Natural-text character entropy sits ≈ 4–4.5 nats; keyboard-mash /
    * repeated-char spam collapses toward 0. */
  val LowEntropyBar = 2.0

  /** t40: entropy-based quality signals — the character/word Shannon
    * entropies and type-token ratio used as spam/boilerplate filters in
    * corpus cleaning (low char entropy ⇒ repeated-character junk; low
    * word entropy at high length ⇒ template boilerplate; Rae
    * arXiv:2112.11446 §A1.1 uses exactly this family). Complements t29
    * (length/stopword/punct ratios) and t34 (repetition span signals).
    *
    * Both frequency maps fold inside the codegen'd
    * `graft_entropy_stats` kernel — ONE pass per document, zero
    * shuffle, no character-grain explode (the declarative form shuffles
    * |chars| ≈ 500× corpus rows through two aggregations; the t38/p62
    * lesson says the interpreted-HOF version loses even when it avoids
    * the shuffle). H = ln(n) − (Σ c·ln c)/n keeps log arguments
    * integral, so DuckDB reproduces the doubles to 6dp regardless of
    * its summation order.
    *
    * 100 TB posture: a pure projection — embarrassingly parallel,
    * partition-local — above the presentation sort ([[sortedByDoc]]):
    * the raw (doc_id, lang, text) rows cross the range exchange, and
    * the kernel runs once per row.
    */
  def t40Entropy(spark: SparkSession, dir: String): DataFrame = {
    t40EntropyCore(Tables.documents(spark, dir))
  }

  /** t40 core over any (doc_id, lang, text) frame — extracted so the
    * property suite can drive adversarial texts (multi-byte, repeated
    * separators, empty) through the exact production plan. */
  private[graft] def t40EntropyCore(documents: DataFrame): DataFrame = {
    sortedByDoc(documents, "lang", "text")
      .withColumn("es", expr("graft_entropy_stats(text)"))
      .select(col("doc_id"), col("lang"),
        col("es").getItem(4).cast("long").as("n_chars"),
        col("es").getItem(5).cast("long").as("n_words"),
        col("es").getItem(3).cast("long").as("n_distinct_words"),
        round(col("es").getItem(0), 6).as("char_entropy"),
        round(col("es").getItem(1), 6).as("word_entropy"))
      .withColumn("ttr_pm",
        expr("n_distinct_words * 10000 DIV n_words"))
      .withColumn("low_entropy",
        (col("char_entropy") < lit(LowEntropyBar)).cast("int"))
  }

  /** t42's blocklist. A real deployment loads thousands of terms from a
    * file (C4 uses the "List of Dirty, Naughty, Obscene..." list); the
    * synthetic corpus carries no profanity, so the stand-in list is
    * drawn from its own vocabulary — the screening machinery (existence
    * probe + per-source removal report) is the operator. Kept as ONE
    * definition for the Spark plan, the oracle, and the spec. */
  val Blocklist: Seq[String] = Seq("dup", "contraband", "redacted")

  /** t42: blocklist document screen — the C4 §2.2 "bad words" filter
    * (Raffel et al., arXiv:1910.10683: drop any page containing a term
    * from a blocklist), the first removal gate most corpus pipelines
    * run before quality scoring. A document is flagged iff ANY token is
    * blocklisted — an existence probe, so the plan is a codegen'd
    * `arrays_overlap` against the literal array, NOT a per-token lambda
    * filter (the t38 interpreted-HOF lesson) and NOT a join (the list
    * is part of the plan, the broadcast degenerate case). Report: per
    * source, documents flagged, share permyriad, and tokens lost to the
    * removal — the numbers a corpus build publishes for the gate.
    *
    * 100 TB posture: pure projection + one map-side-combined aggregate
    * on source; zero joins, zero windows, embarrassingly parallel.
    */
  def t42Blocklist(spark: SparkSession, dir: String): DataFrame = {
    val listCol = array(Blocklist.map(lit): _*)
    Tables.documents(spark, dir)
      .withColumn("words", split(coalesce(col("text"), lit("")), " "))
      .withColumn("flagged", arrays_overlap(col("words"), listCol).cast("int"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("flagged").cast("long")).as("n_flagged"),
        sum(when(col("flagged") === 1, size(col("words")).cast("long"))
          .otherwise(0L)).as("tokens_lost"))
      .select(col("source"), col("n_docs"), col("n_flagged"),
        expr("n_flagged * 10000 DIV n_docs").as("flagged_pm"),
        col("tokens_lost"))
      .orderBy("source")
  }

  /** t41 result depth per query. */
  val Bm25TopK = 10

  /** t41: BM25 lexical retrieval (Robertson & Walker, the Okapi BM25
    * ranking function; k1 = 6/5, b = 3/4 as exact rationals) — the
    * standard keyword-search baseline every retrieval/RAG stack ships
    * next to its vector index. The bounded query set is the s26/s36
    * harness (doc_id < 10, "more-like-this": the query's distinct
    * tokens form the term bag; query-side tf is ignored, the standard
    * reading for bag queries), scored against every other document.
    *
    * Cross-engine floats, the t40 device: idf = ln(N − df + ½) −
    * ln(df + ½) is rewritten over INTEGRAL log arguments as
    * ln(2N − 2df + 1) − ln(2df + 1), and the saturation term
    * tf·(k1+1) / (tf + k1·(1 − b + b·len/avgdl)) is cleared of
    * fractions by 10·L (L = total corpus tokens, avgdl = L/N):
    * 22·tf·L / (10·tf·L + 3·L + 9·len·N) — both sides exact int64
    * (headroom: tf·L < 4·10¹⁷; a 100 TB corpus computes the ratio in
    * doubles directly — exactness here serves the oracle gate). The
    * per-pair score rounds to 6dp before ranking so rank ties break on
    * neighbor_id identically in both engines.
    *
    * 100 TB posture: the inverted-index probe shape, literal — the
    * query term set broadcasts INTO the corpus explode as a map-side
    * semi-join, so only postings of query terms ever reach an exchange
    * (|terms(Q)| · df rows, never the corpus-wide (doc, token) grain);
    * doc length is a per-row projection (size of the token array), df
    * per query term aggregates the probe itself (exact — the probe
    * keeps every posting of each query term), and corpus stats ride a
    * broadcast 1-row cross join. No corpus-sized build side anywhere.
    */
  def t41Bm25(spark: SparkSession, dir: String): DataFrame =
    t41Bm25Core(Tables.documents(spark, dir), Bm25TopK)

  /** Rule core over any (doc_id, text) frame — property tests drive
    * random corpora through the production plan; s37 fuses the same
    * ranking at its own depth. */
  private[graft] def t41Bm25Core(documents: DataFrame, depth: Int): DataFrame = {
    val base = documents.filter(col("doc_id").isNotNull)
    // query term bags from their OWN pushed-filter scan (doc_id < 10
    // reaches the parquet row groups) — tiny, broadcast everywhere
    val qterms = base.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(split(coalesce(col("text"), lit("")), " ")))
          .as("token"))
    // THE inverted-index probe as a one-pass kernel (r11 — the t36
    // bigram-kernel pattern applied to the r9 semi-join probe): the
    // query term set rides a broadcast 1-row cross join into
    // graft_tf_in, which walks each document's token array ONCE and
    // emits (token, tf) pre-counted for query terms only. vs the r9
    // shape (explode every token → broadcast LeftSemi filter →
    // HashAggregate per occurrence): non-query tokens never leave the
    // expression, matching postings are never individually hashed by
    // an aggregate, and the (doc_id, token) groupBy exchange disappears
    // — the only corpus-derived exchange left is the df window's, on
    // the |postings of query terms| grain. Doc length is size(toks), a
    // per-row projection carried through the (tiny) explode.
    val qarr = qterms.agg(sort_array(collect_set(col("token"))).as("qarr"))
    // the probe pass (split + tf_in walk per doc) is the corpus-sized
    // work and fuses onto the scan — rebalance so a single-row-group
    // file doesn't serialize it (no-op on a real lake layout)
    val tf = Tables.rebalanceSmallScan(base)
      .select(col("doc_id"),
        split(coalesce(col("text"), lit("")), " ").as("toks"))
      .crossJoin(broadcast(qarr))
      .select(col("doc_id"), size(col("toks")).cast("long").as("len"),
        explode(expr("graft_tf_in(toks, qarr)")).as("x"))
      .select(col("doc_id"), col("x.token").as("token"),
        col("x.tf").as("tf"), col("len"))
    // df per query term is EXACT off the probe: the semi-join keeps every
    // (doc, query-term) posting, so counting tf rows per token here
    // equals the corpus-wide df restricted to query terms. Computed as a
    // window over the probe itself — a second aggregation BRANCH over the
    // tf subtree re-runs the corpus explode unless exchange reuse fires
    // (canonical-identity-fragile; measured 2.9 s vs 1.5 s at sf1), while
    // the window is one |postings|-sized exchange by construction.
    val tfd = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy("token")))
    // token count as pure length arithmetic (p68's device): split() on
    // spaces yields (spaces+1) tokens for ANY text incl. '' — no array
    // materialization on the corpus grain, and the single-task stats
    // scan stops being a per-doc split pass
    val stats = documents.agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(length(coalesce(col("text"), lit("")))
        - length(expr("replace(coalesce(text, ''), ' ', '')")) + 1L)
        .cast("long").as("total_len"))
    val terms = tfd.join(broadcast(qterms), Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))
      .crossJoin(broadcast(stats))
      .withColumn("term_score",
        expr("(ln(CAST(2*n_docs - 2*df + 1 AS DOUBLE)) - ln(CAST(2*df + 1 AS DOUBLE)))" +
          " * CAST(tf * 22 * total_len AS DOUBLE)" +
          " / CAST(tf * 10 * total_len + 3 * total_len + 9 * len * n_docs AS DOUBLE)"))
    val scored = terms.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms_hit"), round(sum(col("term_score")), 6).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.select(col("query_id"), col("doc_id").as("neighbor_id"),
        col("n_terms_hit"), col("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= depth)
      .select("query_id", "rnk", "neighbor_id", "n_terms_hit", "score")
      .orderBy("query_id", "rnk")
  }

  /** t43: CCNet head/middle/tail perplexity bucketing (Wenzek
    * arXiv:1911.00359 §4.3 — the published CCNet pipeline splits each
    * language's corpus into three equal-mass quality buckets by LM
    * perplexity and trains preferentially on the "head"; the bucket
    * table is the artifact the pipeline publishes). Here the LM signal
    * is t36's self-trained bigram score ([[t36Scores]] — ONE scoring
    * definition, higher score = lower perplexity = better), bucketed
    * per SOURCE by its own score terciles: head = top third, middle,
    * tail. Thresholds are exact interpolated percentiles (Spark
    * `percentile` ≡ DuckDB `quantile_cont`, the q10 parity device; the
    * 1/3 and 2/3 fractions are computed as IEEE doubles from integer
    * division on BOTH engines, so thresholds and every >= comparison
    * agree bit-for-bit). Report per (source, bucket): docs, bigram
    * mass, floor-mean score, share permyriad.
    *
    * 100 TB posture: scoring is t36's plan (pre-aggregated bigram
    * grain, broadcast bigram-LM model); the tercile pass is one
    * map-side-combined aggregate to the |sources| grain broadcast
    * back; the report rides the same |sources|·3 grain. At CCNet
    * scale the percentile would be q51's mergeable-histogram sketch —
    * exact terciles serve the oracle gate here.
    */
  def t43CcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scores = t36Scores(Tables.documents(spark, dir))
    val j = Tables.documents(spark, dir).select("doc_id", "source")
      .join(scores, Seq("doc_id"))
    // materialize the |docs|-row scored frame ONCE: a second
    // aggregation branch over the t36 chain re-derives the whole
    // bigram-window plan (two consumers, column pruning breaks
    // canonical identity — the t41 dfx trap), and percentile as an
    // unbounded WINDOW re-evaluates (sorting its value buffer) once per
    // ROW. The checkpoint evaluates the chain once with every column
    // live — unlike t36's own count()-shaped bench plan, whose model
    // windows Catalyst PRUNES (they do not change the row count; the
    // r9 measurement-truth note in BASELINE.md) — so t43's wall time is
    // the honest full-chain cost, not a regression vs t36
    val jc = graft.Checkpoints.of(j)
    val th = jc.groupBy("source")
      .agg(expr("percentile(lm_score_ppm, array(CAST(1 AS DOUBLE) / 3, CAST(2 AS DOUBLE) / 3))").as("qs"))
      .select(col("source"), col("qs").getItem(0).as("q13"),
        col("qs").getItem(1).as("q23"))
    jc.join(broadcast(th), Seq("source"))
      .withColumn("bucket",
        when(col("lm_score_ppm") >= col("q23"), "head")
          .when(col("lm_score_ppm") >= col("q13"), "middle")
          .otherwise("tail"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        expr("sum(lm_score_ppm) DIV count(1)").as("mean_score_ppm"))
      .withColumn("share_pm", expr(
        "n_docs * 10000 DIV sum(n_docs) OVER (PARTITION BY source)"))
      .select("source", "bucket", "n_docs", "n_bigrams", "mean_score_ppm",
        "share_pm")
      .orderBy("source", "bucket")
  }
}
