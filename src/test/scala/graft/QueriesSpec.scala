package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Smoke + invariant specs for every SparkEntry query at sf0.001.
  * The full value-level check against the DuckDB oracle is the driver's
  * t2 gate (and tools/check.py locally); these specs guard plan
  * validity, schema/alias stability, and key invariants per operator.
  */
class QueriesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.create(4)

  val dir = "/root/testdata/sf0.001"

  /** Runs `f` and counts the Spark jobs it starts. The listener bus is
    * drained before the count starts and before it is read, so no event
    * of earlier work is counted and none of `f`'s is missed. */
  def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(counter)
    try {
      val r = f
      org.apache.spark.TestBus.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(counter)
  }

  /** Runs `f` on a fresh temp directory and deletes it, recursively,
    * afterwards — also when `f` throws. */
  def withTempDir[T](prefix: String)(f: String => T): T = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    try f(d.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(d)
  }

  test("Tables schema memo: a repeat load runs no job; a rewrite or the nanos conf re-infers") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.LongType
    val sc = spark.sparkContext
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val nanosWas = spark.conf.get(nanos)
    withTempDir("tables-memo") { d => try {
      spark.range(3).selectExpr("id AS a").write.parquet(s"$d/t.parquet")
      val (s1, n1) = jobsOf(Tables.load(spark, d, "t").schema)
      assert(n1 > 0, "the first load infers the schema with a job")
      System.gc()
      val (s2, n2) = jobsOf(Tables.load(spark, d, "t").schema)
      assert(n2 == 0 && s2 == s1, s"repeat load ran $n2 jobs or changed schema: $s2")

      spark.range(5).selectExpr("id AS a", "'x' AS b")
        .write.mode("overwrite").parquet(s"$d/t.parquet")
      val t = Tables.load(spark, d, "t")
      assert(t.schema.fieldNames.toSeq == Seq("a", "b"), s"stale schema: ${t.schema}")
      assert(t.count() == 5, "stale file listing")

      // events.ts is typed by the nanos conf: LONG under the shim, refused
      // without it — a memo keyed on the path alone would serve LONG to both
      val schema = MessageTypeParser.parseMessageType(
        "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$d/n.parquet"))
        .withType(schema).withConf(sc.hadoopConfiguration).build()
      w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1000L))
      w.close()
      spark.conf.set(nanos, "true")
      assert(Tables.load(spark, d, "n").schema("ts").dataType == LongType)
      spark.conf.set(nanos, "false")
      intercept[org.apache.spark.sql.AnalysisException](Tables.load(spark, d, "n"))
    } finally spark.conf.set(nanos, nanosWas) }
  }

  test("connected components finish a small graph in two jobs: the checkpoint and the gather") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .filter(e => e._1 != e._2).toDF("u", "v")
    def labels(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (finished, n) = jobsOf(graft.operators.Dedup.connectedComponents(edges).collect())
    assert(n <= 2, s"a few-hundred-edge graph ran $n jobs")
    // the distributed rounds, with the driver finish off, agree
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "-1")
    val (rounds, m) = try jobsOf(graft.operators.Dedup.connectedComponents(edges).collect())
      finally was.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
    assert(m > n, s"the distributed rounds ran $m jobs, the driver finish $n")
    assert(labels(rounds) === labels(finished))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).limit(5).count() > 0)
  }

  test("graft_tf_in counts restricted terms, first-occurrence order, cloned output") {
    import spark.implicits._
    // term arrays built via split(): Seq-to-DF arrays carry
    // containsNull=true, which the expression's type check rejects by
    // design (a null token would NPE in the set probe)
    val rows = Seq(
      ("b a c a b a", "a b z"),   // counts + order (b first)
      ("x y z", "a b"),           // no hits -> empty
      ("", "a  b"),               // split("") = [""] and "" is a term
      ("a a a a", "")             // terms = [""], no match
    ).toDF("text", "termstr")
    val out = rows.selectExpr("graft_tf_in(split(text, ' '), split(termstr, ' ')) AS x")
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getString(0), r.getLong(1))).toList)
    assert(out(0) === List(("b", 2L), ("a", 3L)))
    assert(out(1) === List())
    assert(out(2) === List(("", 1L)))
    assert(out(3) === List())
    // per-row varying term sets exercise the memo's byte-comparison
    // fallback: a stale set from the previous row must never be reused
    val vary = Seq(("a b", "a"), ("a b", "b"), ("a b", "a"))
      .toDF("text", "termstr")
      .selectExpr("graft_tf_in(split(text, ' '), split(termstr, ' ')) AS x")
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getString(0)).toList)
    assert(vary.toList === List(List("a"), List("b"), List("a")))
  }

  test("graft_bpe_apply symbolization ≡ the regexp formulation it replaced") {
    import spark.implicits._
    // line terminators are the Java-regex `(.)` edge: regexp_replace
    // leaves them un-spaced, and the kernel must reproduce that exactly
    val rows = Seq("a b ab", "", " ", "a\nb c", "x\ry", "aaaa aa a", "|a| b")
      .toDF("text")
    val both = rows.selectExpr(
      // slice-to-empty keeps containsNull=false where a CAST would not
      "graft_bpe_apply(text, slice(array(struct(1L AS rnk, 'a b' AS pair," +
        " 'ab' AS m)), 1, 0)) AS k_empty",
      "concat(' ', regexp_replace(replace(text, ' ', '|'), '(.)', '$1 ')) AS r_sym",
      "graft_bpe_apply(text, array(struct(1L AS rnk, 'a b' AS pair, 'ab' AS m)," +
        " struct(2L AS rnk, 'ab a' AS pair, 'aba' AS m))) AS k_merged",
      "replace(replace(concat(' ', regexp_replace(replace(text, ' ', '|'), '(.)', '$1 '))," +
        " ' a b ', ' ab '), ' ab a ', ' aba ') AS r_merged")
      .collect()
    both.foreach { r =>
      assert(r.getString(0) === r.getString(1), s"empty-merge symbolization: $r")
      assert(r.getString(2) === r.getString(3), s"merge application: $r")
    }
  }

  test("rebalanceSmallScan: fires only when splits leave cores idle") {
    import spark.implicits._
    // local[4]: a 1-partition input (the single-row-group bench file
    // shape) rebalances to defaultParallelism; an already-wide input
    // passes through untouched (the production-lake no-op arm)
    val narrow = spark.sparkContext.parallelize(1 to 100, 1).toDF("x")
    val wide = spark.sparkContext.parallelize(1 to 100, 8).toDF("x")
    assert(Tables.rebalanceSmallScan(narrow).rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    assert(Tables.rebalanceSmallScan(wide).rdd.getNumPartitions === 8)
    // content is a permutation, never a loss
    assert(Tables.rebalanceSmallScan(narrow).as[Int].collect().sorted
      === (1 to 100).toArray)
  }

  test("every query key has either an oracle or a documented omission") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("every oracle key has a query") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without query: $dangling")
  }

  // each key runs on its own newSession(): an empty function registry,
  // as in a driver run of that key alone, so an operator reaches graft's
  // SQL functions only through the Tables.load hook; the session still
  // shares the SparkContext's confs, so it plans as measured
  for ((name, fn) <- SparkEntry.queries) {
    test(s"$name executes and is non-degenerate") {
      val s = spark.newSession()
      assert(s.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "262144")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      val df = fn(s, dir)
      val n = df.count()
      assert(n >= 0)
      assert(df.columns.nonEmpty)
      // deterministic: same plan executed twice yields same count
      assert(fn(s, dir).count() === n)
    }
  }

  test("q07 sessions cover all events") {
    import org.apache.spark.sql.functions._
    val sessions = graft.operators.CoreQueries.q07Sessionize(spark, dir)
    val total = sessions.agg(sum("n_events")).head.getLong(0)
    val events = Tables.events(spark, dir).count()
    assert(total === events)
  }

  test("q12 survival is monotone non-increasing") {
    val s = graft.operators.CoreQueries.q12Survival(spark, dir)
      .select("survival").collect().map(_.getDouble(0))
    assert(s.sliding(2).forall { case Array(a, b) => b <= a + 1e-9; case _ => true })
  }

  test("q15 chain roots are members of their chain") {
    import org.apache.spark.sql.functions._
    val c = graft.operators.CoreQueries.q15ChainIds(spark, dir)
    val bad = c.as("x").join(c.as("r"),
        col("x.chain_root") === col("r.o_orderkey") &&
        col("x.o_custkey") === col("r.o_custkey"), "left_anti").count()
    assert(bad === 0)
  }

  test("s26 returns exactly 5 neighbors per query vector") {
    import org.apache.spark.sql.functions._
    val t = graft.operators.Similarity.s26AnnTopk(spark, dir)
    val counts = t.groupBy("query_id").count().select("count").distinct().collect()
    assert(counts.length === 1 && counts(0).getLong(0) === 5L)
  }

  test("d21 exact-dedup canonical ids exist in documents") {
    import org.apache.spark.sql.functions._
    val d = graft.operators.Dedup.d21ExactDedup(spark, dir)
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    assert(d.join(docs, d("canonical_id") === docs("doc_id"), "left_anti").count() === 0)
  }

  test("q46 chain roots are fixpoints with depth 0") {
    val rows = graft.operators.Chains.q46ChainResolve(spark, dir).collect()
    val byId = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    rows.foreach { r =>
      val (root, _) = byId(r.getLong(0))
      assert(byId(root) === ((root, 0L)),
        s"root $root of ${r.getLong(0)} is not a depth-0 fixpoint")
    }
  }

  test("q49 HLL estimates land inside the m=256 error envelope") {
    // HLL standard error is 1.04/sqrt(m) = 6.5% at m=256; 4σ = 26%
    graft.operators.Sketches.q49HllSketch(spark, dir)
      .select("source", "rel_err").collect().foreach { r =>
        assert(r.getDouble(1) <= 0.26,
          s"source ${r.getString(0)} rel_err ${r.getDouble(1)} exceeds envelope")
      }
  }

  test("q50 grid-bucketized range join equals the naive theta join") {
    import org.apache.spark.sql.functions._
    val grid = graft.operators.RangeJoin.q50SnapshotAges(spark, dir)
      .select(col("snapshot"), col("n_open")).collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    val comp = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey").agg(max(col("l_shipdate")).as("completed"))
    val iv = Tables.orders(spark, dir)
      .join(comp, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderdate").cast("date").as("startd"),
        coalesce(when(col("o_orderstatus") === "F", col("completed").cast("date")),
          lit("2002-06-01").cast("date")).as("endd"))
    val snaps = spark.range(1).select(explode(expr(
      "sequence(date '1995-04-01', date '2002-04-01', interval 3 month)")).as("s"))
    val naive = snaps.join(iv, col("startd") <= col("s") && col("endd") > col("s"))
      .groupBy(col("s").cast("timestamp").as("snapshot")).count().collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(grid === naive)
  }

  test("p55 funnel is monotone and consistent with the standalone operators") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Pipeline.p55CorpusClean(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val Seq(nIn, nLang, nQ, nEx, nFin) = (1 to 5).map(r.getLong)
      assert(nIn >= nLang && nLang >= nQ && nQ >= nEx && nEx >= nFin,
        s"funnel not monotone: $r")
      assert(nFin >= 0 && (nFin > 0) == (r.getLong(6) > 0), s"token total inconsistent: $r")
    }
    // stage-1+2 totals must equal what the standalone t28/t29 chains say
    val nQTotal = rows.map(_.getLong(3)).sum
    val expected = graft.operators.TextAnalysis.t28Langid(spark, dir).as("l")
      .join(graft.operators.TextAnalysis.t29Quality(spark, dir).as("q"), Seq("doc_id"))
      .filter(col("l.pred_lang") === "en" &&
        col("q.score_x10000") >= graft.operators.Pipeline.PipelineQualityBar)
      .count()
    assert(nQTotal === expected)
  }

  test("d25 block-size guard fails loudly on a degenerate label distribution") {
    val ex = intercept[Exception] {
      graft.operators.Dedup.d25EmbedNeardup(spark, dir, maxBlock = 3).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("d25 label block exceeds")))
  }

  test("d27 statuses fire correctly on a crafted corpus/batch layout") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // batch = doc_id % 5 == 0; corpus = the rest
    val rows = Seq(
      (1L, "alpha beta gamma delta"),       // corpus
      (2L, "epsilon zeta eta theta"),       // corpus
      (0L, "alpha beta gamma delta"),       // batch: exact hash in corpus
      (5L, "nu xi omicron pi"),             // batch: new text, id-min leader
      (10L, "nu xi omicron pi"),            // batch: same text, loses to 5
      (20L, "unique words entirely here"))  // batch: admitted
      .map { case (id, t) => (id, t, "en", "srcX", t.length.toLong) }
    val got = withTempDir("d27spec") { tmp =>
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      graft.operators.Dedup.d27IncrementalDedup(spark, tmp)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    assert(got(0L) === "exact_corpus")
    assert(got(5L) === "admitted")
    assert(got(10L) === "exact_batch")
    assert(got(20L) === "admitted")
  }

  test("p56 split is deterministic and stratum shares sit in a loose band") {
    import org.apache.spark.sql.functions._
    val a = graft.operators.Pipeline.p56StratifiedSplit(spark, dir).collect()
    val b = graft.operators.Pipeline.p56StratifiedSplit(spark, dir).collect()
    assert(a.toSeq === b.toSeq) // pure function of (lang, doc_id)
    // loose band only — tiny per-stratum samples at sf0.001; the exact
    // assignment is value-locked by the DuckDB oracle compare
    val byLang = a.groupBy(_.getString(1))
    byLang.foreach { case (lang, rows) =>
      val holdout = rows.count(r => r.getString(2) != "train").toDouble / rows.size
      assert(holdout < 0.6, s"$lang holdout share $holdout implausibly high")
      assert(rows.map(_.getString(2)).toSet.subsetOf(Set("train", "val", "test")))
    }
  }

  test("q54 statuses match an in-memory re-derivation of the linking rule") {
    import org.apache.spark.sql.functions._
    val cats = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct().collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getString(1)).toSet }
    val apps = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate").cast("date")).as("yr")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byCust = apps.groupBy(_._2)
    val want = apps.map { case (key, cust, yr) =>
      val cands = byCust(cust).filter(_._3 == yr - 1)
      val myCats = cats.getOrElse(key, Set.empty)
      val hits = cands.filter(c => (cats.getOrElse(c._1, Set.empty) & myCats).nonEmpty)
      val (status, parent): (String, Option[Long]) =
        if (cands.isEmpty) ("error_missingpriordec", None)
        else if (cands.length == 1) ("match_priordec", Some(cands.head._1))
        else if (hits.length == 1) ("match_issues", Some(hits.head._1))
        else if (hits.length > 1) ("error_multipleissuecandidates", None)
        else ("error_noissuecandidate", None)
      key -> ((status, parent))
    }.toMap
    val got = graft.operators.Linking.q54MergeDisambiguation(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(got === want)
  }

  test("q52 trace table: ranks dense from 1, coverage sums to cum, cases conserved") {
    import org.apache.spark.sql.functions._
    val t = graft.operators.EventLog.q52Traces(spark, dir).collect()
    assert(t.nonEmpty)
    // ranks are 1..n with no gaps, in output order
    assert(t.map(_.getLong(0)).toSeq === (1L to t.length.toLong))
    // coverage positive, cum_coverage monotone nondecreasing, ends ≤ 1
    val cum = t.map(_.getDouble(4))
    assert(t.forall(_.getDouble(3) > 0))
    assert(cum.sliding(2).forall { case Array(a, b) => b >= a - 1e-9; case _ => true })
    assert(cum.last <= 1.0 + 1e-9)
    // frequency ordering: n_cases non-increasing down the ranking
    val n = t.map(_.getLong(2))
    assert(n.sliding(2).forall { case Array(a, b) => b <= a; case _ => true })
    // every session is attributed to exactly one trace: totals match q07
    val totalCases = graft.operators.EventLog.q52Traces(spark, dir)
      .agg(sum("n_cases")).head.getLong(0)
    val sessions = graft.operators.CoreQueries.q07Sessionize(spark, dir).count()
    assert(totalCases === sessions)
  }

  test("q62 edges conserve sessions: START outflow = END inflow = session count; shares partition") {
    import org.apache.spark.sql.functions._
    val t = graft.operators.EventLog.q62Transitions(spark, dir)
    val rows = t.collect()
    assert(rows.nonEmpty)
    // every case enters through START exactly once and leaves into END
    // exactly once, so both virtual flows equal the session count
    val sessions = graft.operators.CoreQueries.q07Sessionize(spark, dir).count()
    val startOut = rows.filter(_.getString(0) == "START").map(_.getLong(2)).sum
    val endIn = rows.filter(_.getString(1) == "END").map(_.getLong(2)).sum
    assert(startOut === sessions, s"START outflow $startOut != sessions $sessions")
    assert(endIn === sessions, s"END inflow $endIn != sessions $sessions")
    // flow conservation per real activity: inflow = outflow (every event
    // has exactly one incoming and one outgoing edge incl. virtuals)
    val inflow = rows.groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    val outflow = rows.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    val acts = (inflow.keySet ++ outflow.keySet) -- Set("START", "END")
    acts.foreach { a =>
      assert(inflow(a) === outflow(a), s"flow not conserved at $a")
    }
    // outgoing shares per from_act partition to ~10000 (integer floor)
    rows.groupBy(_.getString(0)).foreach { case (from, es) =>
      val s = es.map(_.getLong(4)).sum
      assert(s <= 10000 && s > 10000 - es.length,
        s"shares from $from sum to $s over ${es.length} edges")
    }
    // virtual edges carry no gap; real edges a non-negative one
    rows.foreach { r =>
      val virt = r.getString(0) == "START" || r.getString(1) == "END"
      if (virt) assert(r.isNullAt(5), s"virtual edge with gap: $r")
      else assert(!r.isNullAt(5) && r.getLong(5) >= 0, s"bad gap: $r")
    }
    // n_cases never exceeds n_obs
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(2)))
  }

  test("d35 verifies exactly d22's candidate set; exact dups score 10000") {
    import org.apache.spark.sql.functions._
    val v = graft.operators.Dedup.d35EditVerify(spark, dir).collect()
    val cand = graft.operators.Dedup.d22MinhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the verifier decides on every candidate, adds none, drops none
    assert(v.map(r => (r.getLong(0), r.getLong(1))).toSet === cand)
    v.foreach { r =>
      val lev = r.getLong(2); val sim = r.getLong(3)
      assert(lev >= 0, s"negative distance: $r")
      assert(sim >= 0 && sim <= 10000, s"sim out of range: $r")
      assert(r.getInt(4) === (if (sim >= graft.operators.Dedup.EditVerifySimPm) 1 else 0))
    }
    // every identical-content pair that IS a candidate must verify at
    // sim_pm = 10000 (lev = 0) — the d21 cross-check
    val byHash = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    v.foreach { r =>
      if (byHash(r.getLong(0)) == byHash(r.getLong(1)))
        assert(r.getLong(2) === 0L && r.getLong(3) === 10000L,
          s"identical contents not verified clean: $r")
    }
  }

  test("s33 IVF-PQ report: bounded candidates, recall consistency") {
    val corpus = graft.Tables.embeddings(spark, dir).count()
    val rows = graft.operators.Similarity.s33IvfPq(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    rows.foreach { r =>
      val nc = r.getLong(1); val nh = r.getLong(2)
      // the IVF bound is real: a probe never scores the whole corpus
      assert(nc >= 1 && nc < corpus, s"candidate bound lost: $r")
      assert(nh >= 0 && nh <= 5, s"n_hit out of range: $r")
      assert(r.getLong(3) === nh * 2000, s"recall_pm != n_hit*2000: $r")
    }
  }

  test("p65 dataset card agrees with the operators it summarizes") {
    import org.apache.spark.sql.functions._
    val card = graft.operators.Pipeline.p65DatasetCard(spark, dir).collect()
    assert(card.nonEmpty)
    // token totals must equal t30's per-source totals (shared definition)
    val t30 = graft.operators.TextAnalysis.t30Tokencount(spark, dir)
      .select("source", "total_tokens").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    card.foreach { r =>
      assert(r.getLong(2) === t30(r.getString(0)),
        s"n_tokens drifts from t30 for ${r.getString(0)}")
      assert(r.getLong(3) <= r.getLong(1), s"distinct contents > docs: $r")
      Seq(4, 6, 7).foreach { i =>
        assert(r.getLong(i) >= 0 && r.getLong(i) <= 10000, s"pm out of range: $r")
      }
    }
    // doc accounting: card covers the whole corpus exactly once
    val total = graft.Tables.documents(spark, dir).count()
    assert(card.map(_.getLong(1)).sum === total)
  }

  test("s32 PQ: per-query report consistent, codebooks dense with 8-dim codewords") {
    val rows = graft.operators.Similarity.s32PqAdc(spark, dir).collect()
    assert(rows.length === 10) // one row per query (vec_id < 10)
    rows.foreach { r =>
      assert(r.getLong(0) !== r.getLong(1), s"query is its own neighbor: $r")
      assert(r.getLong(2) >= 0, s"negative approx distance: $r")
      val nHit = r.getLong(3)
      assert(nHit >= 0 && nHit <= 5, s"n_hit out of range: $r")
      assert(r.getLong(4) === nHit * 2000, s"recall_pm != n_hit*2000: $r")
    }
    // codebooks: every subspace present, cids dense 1..K (the ADC lookup
    // index contract), every codeword 8-dim
    val cb = graft.operators.Similarity.pqCodebook(
      graft.operators.Similarity.quantize(
        graft.Tables.embeddings(spark, dir))).collect()
    assert(cb.map(_.getInt(0)).distinct.sorted.toSeq === (0 to 7))
    cb.groupBy(_.getInt(0)).foreach { case (m, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq === (1 to rs.length),
        s"subspace $m cids not dense")
      rs.foreach(r => assert(r.getSeq[Long](2).length === 8))
    }
  }

  test("st42 matches q62 on real edges; only trailing-session END edges withheld") {
    val q = graft.operators.EventLog.q62Transitions(spark, dir).collect()
    val s = graft.streaming.Streams.st42StreamTransitions(spark, dir).collect()
    // every within-session edge emits when its later event arrives, so
    // the real-edge table (count, case coverage, mean gap) is identical
    // to the batch rebuild; shares differ by construction (END outflow
    // removed from the denominators)
    def real(rows: Array[org.apache.spark.sql.Row]) =
      rows.filter(r => r.getString(0) != "START" && r.getString(1) != "END")
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(5))).toMap
    assert(real(s) === real(q))
    // START fires on every session's first arrival; END only when a NEXT
    // session's arrival closes the previous one — each user's trailing
    // session stays open, so END inflow = sessions − users
    val sessions = graft.operators.CoreQueries.q07Sessionize(spark, dir).count()
    val users = graft.Tables.events(spark, dir).select("user_id").distinct.count()
    val startOut = s.filter(_.getString(0) == "START").map(_.getLong(2)).sum
    val endIn = s.filter(_.getString(1) == "END").map(_.getLong(2)).sum
    assert(startOut === sessions, s"START outflow $startOut != sessions $sessions")
    assert(endIn === sessions - users, s"END inflow $endIn != ${sessions - users}")
  }

  test("graft_token_counts: distinct counts, first-occurrence order, cloned output") {
    import spark.implicits._
    val rows = Seq(
      "b a c a b a",  // counts + first-occurrence order (b, a, c)
      "x",            // singleton
      ""              // split("") = [""] → one empty-string token
    ).toDF("text")
    val out = rows.selectExpr("graft_token_counts(split(text, ' ')) AS x")
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getString(0), r.getLong(1))).toList)
    assert(out(0) === List(("b", 2L), ("a", 3L), ("c", 1L)))
    assert(out(1) === List(("x", 1L)))
    assert(out(2) === List(("", 1L)))
    // clone discipline: buffered output from an unsafe-backed scan must
    // not alias the reused input buffer — collect distinct tokens across
    // many rows and check no cross-row corruption
    val many = (0 until 200).map(i => s"w$i common").toDF("text")
    val toks = many.selectExpr("explode(graft_token_counts(split(text, ' '))) AS t")
      .select("t.w").collect().map(_.getString(0)).toSet
    assert(toks.size === 201 && toks.contains("common") && toks.contains("w199"))
  }

  test("st42 keeps marker and transition groups distinct when event types are literally START/END") {
    import org.apache.spark.sql.functions._
    // ADVICE r11: a session whose activities include the literal string
    // "START" produces REAL gapped transitions sharing the (session,
    // from, to) space with the gap-less first-arrival marker edge. The
    // layout below makes the marker enter the accumulator FIRST
    // (events A, START, A), which under the pre-r12 entry-creation flag
    // dropped the real edge's gap; keying on the gap bit preserves it.
    withTempDir("graft_st42") { tmp => withTempDir("graft_st42_stage") { stage =>
      val rows = Seq(
        (1L, 1L, "A",     0L),
        (1L, 2L, "START", 10000000L),   // +10 s
        (1L, 3L, "A",     35000000L),   // +25 s → real START→A, gapped
        (1L, 4L, "Z",     66000000L))   // +31 s
      import spark.implicits._
      rows.toDF("user_id", "event_id", "event_type", "us")
        .select(col("user_id"), col("event_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(tmp, "events.parquet"))
      val q = graft.operators.EventLog.q62Transitions(spark, tmp).collect()
      val s = graft.streaming.Streams.st42StreamTransitions(spark, tmp).collect()
      def rep(rs: Array[org.apache.spark.sql.Row]) =
        rs.filter(_.getString(1) != "END")   // trailing END withheld by contract
          .map(r => (r.getString(0), r.getString(1)) ->
            (r.getLong(2), r.getLong(3), if (r.isNullAt(5)) -1L else r.getLong(5)))
          .toMap
      assert(rep(s) === rep(q))
      // the collision row: marker (null gap) + one real 25 s edge → n=2,
      // mean = 25 s DIV 2 = 12 s. A dropped or zero-padded gap sum reads
      // null or 0 here.
      assert(rep(q)(("START", "A")) === ((2L, 1L, 12L)))
    } }
  }

  test("t32 screens every training doc once; overlap bounded; planted dup flagged") {
    import org.apache.spark.sql.functions._
    val t = graft.operators.TextAnalysis.t32Contamination(spark, dir)
    val rows = t.collect()
    // exactly the ≥3-word docs with doc_id % 13 != 0, each once
    val expected = graft.Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= 3 && col("doc_id") % 13 =!= 0)
      .count()
    assert(rows.length.toLong === expected)
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    // n_hit ≤ nsh and overlap = round(n_hit/nsh, 4) ∈ [0, 1]
    rows.foreach { r =>
      val nsh = r.getLong(1); val nHit = r.getLong(2); val ov = r.getDouble(3)
      assert(nHit >= 0 && nHit <= nsh)
      assert(ov >= 0.0 && ov <= 1.0)
      assert(r.getInt(4) === (if (ov >= graft.operators.TextAnalysis.ContaminationThreshold) 1 else 0))
    }
    // an exact copy of a benchmark doc must flag: identical text means
    // identical shingle sets, so overlap is exactly 1.0
    val docs = graft.Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= 3)
    val benchText = docs.filter(col("doc_id") % 13 === 0).select("text").distinct()
    val copies = docs.filter(col("doc_id") % 13 =!= 0)
      .join(benchText, Seq("text"), "left_semi").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val flagged = rows.filter(_.getInt(4) === 1).map(_.getLong(0)).toSet
    assert(copies.subsetOf(flagged),
      s"benchmark copies not flagged: ${copies -- flagged}")
  }

  test("q63 decisions reconcile with completed orders; overlaps are sane") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.RangeJoin.q63FteUtilization(spark, dir).collect()
    assert(rows.length === 89, "one row per month of the charted span")
    // every month's FTE share is non-negative and bounded by the open
    // interval count (an interval contributes at most the full month)
    rows.foreach { r =>
      assert(r.getAs[Long]("fte_x10000") >= 0L)
      assert(r.getAs[Long]("prob_x10000") >= 0L)
    }
    // total decisions = completed (status F) orders — the month rollup
    // must neither drop nor double-count
    val want = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
      .join(Tables.lineitem(spark, dir).groupBy("l_orderkey").agg(
        max(col("l_shipdate")).as("completed")),
        col("o_orderkey") === col("l_orderkey"))
      .filter(col("completed").isNotNull)
      .filter(expr("cast(date_trunc('month', cast(completed as date)) as date)")
        .between(lit("1995-01-01").cast("date"), lit("2002-05-01").cast("date")))
      .count()
    assert(rows.map(_.getAs[Long]("n_decisions")).sum === want)
  }

  test("q64 fold reproduces the reference recurrence from the measured rates") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.Docket.q64BacklogForecast(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // re-measure the rates directly and iterate the clamped recurrence
    // in plain Scala — the in-expression fold must match step for step
    val comp = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey").agg(max(col("l_shipdate")).as("completed"))
    val r = Tables.orders(spark, dir)
      .join(comp, col("o_orderkey") === col("l_orderkey"), "left")
      .agg(
        sum(when(col("o_orderstatus") =!= "F", 1L).otherwise(0L)),
        sum(when(col("o_orderdate").cast("date") >= lit("1997-08-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1998-08-01").cast("date"), 1L).otherwise(0L)),
        sum(when(col("o_orderstatus") === "F" &&
          col("completed").cast("date") >= lit("1997-08-01").cast("date") &&
          col("completed").cast("date") < lit("1998-08-01").cast("date"), 1L).otherwise(0L)))
      .head
    val (b0, arr, res) = (r.getLong(0), r.getLong(1), r.getLong(2))
    var prev = b0
    val want = (1 to graft.operators.Docket.ForecastMonths).map { i =>
      val nw = (arr / 12) * math.min(i * 10000L / 12, 10000L) / 10000L
      val next = math.max(0L,
        prev + nw - res / 12 - prev * graft.operators.Docket.ClosePmPerYear / 120000L)
      prev = next
      (i.toLong, nw, res / 12, next)
    }
    assert(got.toSeq === want)
  }

  test("m36 statuses partition the corpus; media volume matches the gap rule") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Multimodal.m36SampleAssembly(spark, dir).collect()
    val docs = Tables.documents(spark, dir)
    assert(rows.map(_.getAs[Long]("n_samples")).sum === docs.count(),
      "statuses must partition the corpus exactly")
    // media bytes across statuses = total utf-8 bytes of docs the %3
    // gap rule keeps (complete + missing_embedding carry them)
    val wantBytes = docs.filter(pmod(col("doc_id"), lit(3L)) =!= 2L)
      .agg(sum(length(encode(col("text"), "utf-8")).cast("long"))).head.getLong(0)
    assert(rows.map(_.getAs[Long]("media_bytes")).sum === wantBytes)
    // a missing_media row must carry zero media bytes
    rows.filter(r => r.getAs[String]("status") == "missing_media" ||
        r.getAs[String]("status") == "text_only")
      .foreach(r => assert(r.getAs[Long]("media_bytes") === 0L))
  }

  test("st47 streaming anomaly report equals q72's batch report row-for-row") {
    val got = graft.streaming.Streams.st47StreamAnomaly(spark, dir).collect()
    val want = graft.operators.CoreQueries.q72AnomalyMad(spark, dir).collect()
    assert(got.toSeq === want.toSeq)
  }

  test("st44 streaming drift report equals t39's batch report row-for-row") {
    val got = graft.streaming.Streams.st44StreamDrift(spark, dir).collect()
    val want = graft.operators.TextAnalysis.t39Drift(spark, dir).collect()
    assert(got.toSeq === want.toSeq)
  }

  test("st43 streaming sketch report equals the batch t37 chain on the arriving subset") {
    // the continuously-maintained cells must be bit-identical to a batch
    // rebuild (shared cmsBucket definition + order-independent cell sums)
    import org.apache.spark.sql.functions._
    val got = graft.streaming.Streams.st43StreamHeavyHitters(spark, dir).collect()
    val want = graft.operators.TextAnalysis.t37CmsCore(
      Tables.documents(spark, dir).filter(pmod(col("doc_id"),
        lit(graft.operators.Dedup.IncrementalBatchMod.toLong)) === 0L)).collect()
    assert(got.toSeq === want.toSeq)
  }

  test("st38 statuses equal d27's wherever d27 does not elect a batch leader") {
    // st38 deliberately omits exact_batch (arrival-order-dependent); on
    // every other doc the streaming admission must agree with the batch
    // operator bit-for-bit
    val stream = graft.streaming.Streams.st38StreamCorpusAdmit(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = graft.operators.Dedup.d27IncrementalDedup(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(stream.keySet === batch.keySet)
    batch.foreach { case (id, st) =>
      if (st != "exact_batch") assert(stream(id) === st, s"doc $id: d27=$st st38=${stream(id)}")
    }
  }

  test("st40 routes every arriving vector once; distances coherent per cluster") {
    import org.apache.spark.sql.functions._
    val rows = graft.streaming.Streams.st40StreamClusterAssign(spark, dir).collect()
    assert(rows.nonEmpty)
    val k = graft.operators.Similarity.KmeansK
    rows.foreach { r =>
      assert(r.getInt(0) >= 1 && r.getInt(0) <= k, s"cid ${r.getInt(0)}")
      assert(r.getLong(1) >= 1L, "empty cluster row")
      assert(r.getLong(2) >= 0L && r.getLong(2) <= r.getLong(3),
        "min_dist > avg_dist")
    }
    // complete partition of the arriving set — every vec_id % 5 == 0
    // routed exactly once, none of the standing corpus counted
    val nArriving = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 5 === 0).count()
    assert(rows.map(_.getLong(1)).sum === nArriving)
  }

  test("p63 token budget matches an in-memory reference cut") {
    import java.security.MessageDigest
    val md = MessageDigest.getInstance("MD5")
    def ph(s: String): Long = {
      md.reset()
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)).getOrElse("").split(" ", -1).length.toLong))
    val tt = docs.map(_._3).sum
    val ns = docs.map(_._2).distinct.length
    val budget = tt / (2L * ns)
    val expect = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      val ordered = ds.map { case (id, _, n) =>
        (ph(s"budget:$id") % graft.operators.Pipeline.BudgetBuckets, ph(s"order:$id"), id, n)
      }.sortBy(t => (t._1, t._2, t._3))
      var cum = 0L
      ordered.toSeq.flatMap { case (_, _, id, n) =>
        cum += n
        if (cum <= budget) Some((src, id) -> ((n, cum))) else None
      }
    }.toMap
    val got = graft.operators.Pipeline.p63TokenBudget(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === expect, s"kept sets differ (got ${got.size} vs ref ${expect.size})")
  }

  test("p59 shards partition the corpus; positions are contiguous per shard") {
    import org.apache.spark.sql.functions._
    val s = graft.operators.Pipeline.p59ShardShuffle(spark, dir)
    val nDocs = Tables.documents(spark, dir).count()
    // every doc exactly once
    assert(s.count() === nDocs)
    assert(s.select("doc_id").distinct().count() === nDocs)
    // per shard: positions are exactly 1..count (rank with no gaps/ties)
    val bad = s.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("mn"), max("pos").as("mx"),
        countDistinct("pos").as("np"))
      .filter(col("mn") =!= 1L || col("mx") =!= col("n") || col("np") =!= col("n"))
      .count()
    assert(bad === 0)
  }

  test("t33 redacts every synthesized identifier and counts match the footer rule") {
    import org.apache.spark.sql.functions._
    val t = graft.operators.TextAnalysis.t33PiiScrub(spark, dir).collect()
    val expected = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("doc_id") % 3 === 0, 1L).otherwise(0L)).as("nssn"),
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("nph"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    t.foreach { r =>
      val (n, nssn, nph) = expected(r.getString(0))
      assert(r.getLong(1) === n)
      assert(r.getLong(2) === n, "exactly one email per doc")
      assert(r.getLong(3) === nssn, "one SSN per doc_id%3==0 doc")
      assert(r.getLong(4) === nph, "one phone per doc_id%2==0 doc")
      assert(r.getLong(5) > 0L, "redaction must shrink the text")
    }
  }

  test("t34 signals are bounded and the flag matches its thresholds") {
    val rows = graft.operators.TextAnalysis.t34Repetition(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, nd) = (r.getLong(1), r.getLong(2))
      val (dupPm, topPm) = (r.getLong(3), r.getLong(4))
      assert(nd >= 1 && nd <= n)
      assert(dupPm >= 0 && dupPm < 10000)
      assert(topPm > 0 && topPm <= 10000)
      val want = dupPm >= graft.operators.TextAnalysis.DupWordFlagPm ||
        topPm >= graft.operators.TextAnalysis.TopBigramFlagPm
      assert(r.getInt(5) === (if (want) 1 else 0))
    }
  }

  test("m34 resize arithmetic: n_resized = ceil(n_bytes/stride), byte_sum bounded") {
    val stride = graft.operators.Multimodal.ResizeStride
    graft.operators.Multimodal.m34PayloadResize(spark, dir).collect().foreach { r =>
      val (nb, nr, sum) = (r.getLong(1), r.getLong(2), r.getLong(4))
      assert(nr === (nb + stride - 1) / stride)
      assert(sum >= 0 && sum <= nr * 255L)
      assert(r.getString(3).length === 32, "md5 witness present")
    }
  }

  test("d28 pairs are canonical, deduped, and a superset is found vs same-cell d25 semantics") {
    val p = graft.operators.Dedup.d28EmbedCellDedup(spark, dir).collect()
    p.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs canonicalized vec_a < vec_b")
      assert(r.getDouble(2) >= graft.operators.Dedup.CellDedupThreshold)
    }
    assert(p.map(r => (r.getLong(0), r.getLong(1))).distinct.length === p.length,
      "no duplicate pairs from the two probe routes")
  }

  test("d29 spans: every row repeated, doc counts consistent, exact dups share all spans") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Dedup.d29RepeatedSpans(spark, dir).collect()
    assert(rows.nonEmpty, "the corpus has exact dups, so repeated spans must exist")
    rows.foreach { r =>
      assert(r.getLong(1) >= 2L, "n_occ >= 2 by the gate")
      assert(r.getLong(2) >= 1L && r.getLong(2) <= r.getLong(1), "1 <= n_docs <= n_occ")
    }
    // a pair of exact-duplicate docs shares every window, so each of the
    // duplicated doc's spans must appear in the output
    val dup = Tables.documents(spark, dir)
      .groupBy(md5(col("text"))).agg(min("doc_id").as("d"), count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("d").limit(1).collect()
    if (dup.nonEmpty) {
      val hashes = rows.map(_.getLong(0)).toSet
      val docSpans = Tables.documents(spark, dir)
        .filter(col("doc_id") === dup.head.getLong(0))
        .withColumn("words", split(col("text"), " "))
        .filter(size(col("words")) >= graft.operators.Dedup.SpanTokens)
        .select(explode(expr(
          s"graft_window_hashes(words, ${graft.operators.Dedup.SpanTokens})")).as("h"))
        .collect().map(_.getLong(0))
      assert(docSpans.nonEmpty && docSpans.forall(hashes.contains),
        "every span of an exactly-duplicated doc is a repeated span")
    }
  }

  test("d30 scores are bounded, flags match the threshold, exact dups score 10000") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Dedup.d30SpanScore(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nw, nr, pm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nw >= 1L && nr >= 0L && nr <= nw)
      assert(pm === nr * 10000L / nw)
      assert(r.getInt(4) === (if (pm >= graft.operators.Dedup.SpanShareFlagPm) 1 else 0))
    }
    // every doc in an exact-duplicate group shares ALL its windows with
    // its twin, so it must score exactly 10000
    val dupDocs = Tables.documents(spark, dir)
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))))
      .filter(col("n") >= 2).select("doc_id").collect().map(_.getLong(0)).toSet
    val byDoc = rows.map(r => r.getLong(0) -> r.getLong(3)).toMap
    dupDocs.filter(byDoc.contains).foreach { d =>
      assert(byDoc(d) === 10000L, s"exact-dup doc $d must score 10000")
    }
  }

  test("p61 chunks tile every doc: stride starts, full coverage, short only at the end") {
    import org.apache.spark.sql.functions._
    val L = graft.operators.Pipeline.ChunkTokens
    val S = graft.operators.Pipeline.ChunkStride
    val rows = graft.operators.Pipeline.p61ChunkOverlap(spark, dir).collect()
    val tokens = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(coalesce(col("text"), lit("")), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.keySet === tokens.keySet, "every doc chunks")
    byDoc.foreach { case (d, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(1) === i.toLong, "chunk_idx contiguous from 0")
        assert(r.getLong(2) === i * S, "starts on the stride grid")
        assert(r.getLong(3) >= 1L && r.getLong(3) <= L)
        assert(r.getInt(4) === (if (r.getLong(3) < L) 1 else 0))
        if (i < sorted.length - 1)
          assert(r.getLong(3) === math.min(L, tokens(d) - r.getLong(2)),
            "only the doc end truncates a chunk")
      }
      val last = sorted.last
      assert(last.getLong(2) + last.getLong(3) === tokens(d),
        "the final chunk reaches exactly the doc end")
    }
  }

  test("q55 statuses are valid, shares sum to ~10000, case total matches the session count") {
    val rows = graft.operators.EventLog.q55Conformance(spark, dir).collect()
    assert(rows.nonEmpty)
    val valid = Set("conformant", "prefix_only", "deviant")
    rows.foreach { r =>
      assert(valid(r.getString(0)))
      assert(r.getLong(2) >= 1L && r.getLong(2) <= r.getLong(1),
        "1 <= distinct traces <= cases per status")
    }
    val shares = rows.map(_.getLong(3)).sum
    assert(shares >= 10000L - rows.length && shares <= 10000L,
      s"integer permyriad shares sum to ~10000, got $shares")
    // top-K reference variants each match themselves, so conformant
    // cases must cover at least the K most frequent traces' cases
    assert(rows.exists(_.getString(0) == "conformant"))
  }

  test("d31 survivors carry their cluster's max quality; flags match the min-id baseline") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Dedup.d31QualitySurvivor(spark, dir).collect()
    assert(rows.nonEmpty)
    val clusters = graft.operators.Dedup.d26DupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap // doc -> cluster
    val quality = graft.operators.TextAnalysis.t29Quality(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap // doc -> score
    rows.foreach { r =>
      val (cid, n, surv, best, diff) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))
      val members = clusters.collect { case (d, c) if c == cid => d }.toSeq
      assert(members.size.toLong === n, "member count matches d26's cluster")
      assert(members.map(quality).max === best, "best score is the cluster max")
      assert(quality(surv) === best, "survivor carries the max score")
      assert(members.filter(quality(_) == best).min === surv,
        "ties broken by min doc_id")
      assert(diff === (if (surv != cid) 1 else 0))
    }
  }

  test("p71 split never separates a near-dup cluster; rule = p56 hash of the CLUSTER id") {
    val rows = graft.operators.Pipeline.p71LeakageSafeSplit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    // covers every document exactly once
    val nDocs = Tables.documents(spark, dir).count()
    assert(rows.length.toLong === nDocs)
    assert(rows.map(_._1).distinct.length === rows.length)
    // the leakage invariant: a cluster maps to exactly ONE split
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._4).distinct.length === 1,
        s"cluster $cid spans splits ${members.map(_._4).distinct.toSeq}")
      assert(members.forall(_._3 == members.length.toLong),
        s"cluster $cid size column mismatch")
    }
    // cluster ids equal d26's for its members; singletons are their own id
    val d26 = graft.operators.Dedup.d26DupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (doc, cid, _, _) =>
      assert(cid === d26.getOrElse(doc, doc), s"doc $doc cluster drifted from d26")
    }
    // split = the p56 salted-hash permille rule applied to the cluster id
    val md = java.security.MessageDigest.getInstance("MD5")
    def ph(s: String): Long = {
      md.reset()
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    }
    import graft.operators.Pipeline.{DefaultTestPm, DefaultValPm}
    rows.foreach { case (doc, cid, _, split) =>
      val u = ph(s"gsplit:$cid") % 1000L
      val want = if (u < DefaultTestPm) "test"
        else if (u < DefaultTestPm + DefaultValPm) "val" else "train"
      assert(split === want, s"doc $doc split rule mismatch (u=$u)")
    }
    // non-vacuous: at least one multi-doc cluster exists and train is
    // the majority split on this corpus
    assert(rows.exists(_._3 > 1L), "no multi-doc cluster — invariant untested")
    assert(rows.count(_._4 == "train") > rows.length / 2)
  }

  test("p72 diff taxonomy matches the synthesized snapshot rule per source") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Pipeline.p72SnapshotDiff(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    docs.groupBy(_._2).foreach { case (src, ds) =>
      val (nAdd, nRem, nChg, nUnchg, churn) = rows(src)
      val ids = ds.map(_._1)
      val add = ids.count(_ % 7 == 3)
      val rem = ids.count(_ % 7 == 6) // ghost old-only rows
      val chg = ids.count(i => i % 7 != 3 && i % 11 == 0)
      val unchg = ids.length - add - chg
      assert(nAdd === add.toLong, s"$src added")
      assert(nRem === rem.toLong, s"$src removed")
      assert(nChg === chg.toLong, s"$src changed")
      assert(nUnchg === unchg.toLong, s"$src unchanged")
      val nNew = add + chg + unchg
      assert(churn === (add + rem + chg).toLong * 10000L / nNew, s"$src churn")
      // every arm of the taxonomy actually fires
      assert(add > 0 && rem > 0 && chg > 0 && unchg > 0, s"$src vacuous arm")
    }
  }

  test("t43 buckets are per-source terciles consistent with t36 scores") {
    val rows = graft.operators.TextAnalysis.t43CcnetBuckets(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val scores = graft.operators.TextAnalysis.t36LmScore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2))
    rows.groupBy(_._1).foreach { case (src, bs) =>
      val byB = bs.map(b => b._2 -> b).toMap
      // all three buckets present, shares sum to ~10000 and sit near a
      // third each (integer-DIV floor loses at most 2 pm total)
      assert(byB.keySet === Set("head", "middle", "tail"), s"$src buckets")
      val shares = bs.map(_._5)
      assert(shares.sum >= 9998L && shares.sum <= 10000L, s"$src shares sum")
      shares.foreach(p => assert(p >= 2500L && p <= 4500L,
        s"$src share $p outside the loose tercile band"))
      // quality ordering: head mean >= middle mean >= tail mean
      assert(byB("head")._4 >= byB("middle")._4 && byB("middle")._4 >= byB("tail")._4,
        s"$src bucket means out of order")
    }
    // doc accounting matches t36's scoreable population
    assert(rows.map(_._3).sum === scores.length.toLong)
  }

  test("p60 vocab ranks are contiguous, counts nonincreasing, coverage monotone <= 10000") {
    val rows = graft.operators.Pipeline.p60VocabBuild(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= graft.operators.Pipeline.VocabTopK)
    assert(rows.map(_.getLong(0)).toSeq === (1L to rows.length).toSeq)
    val occs = rows.map(_.getLong(2))
    assert(occs.zip(occs.tail).forall { case (a, b) => a >= b }, "n_occ nonincreasing")
    val cov = rows.map(_.getLong(4))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b }, "coverage monotone")
    assert(cov.last <= 10000L)
    rows.foreach(r => assert(r.getLong(3) >= 1L && r.getLong(3) <= r.getLong(2),
      "1 <= df <= occurrences"))
  }

  test("t35 keywords: <=K per doc, rank/relevance consistent, df covers tf") {
    val rows = graft.operators.TextAnalysis.t35Keywords(spark, dir).collect()
    assert(rows.nonEmpty)
    val k = graft.operators.TextAnalysis.KeywordsPerDoc
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.length <= k)
      assert(sorted.map(_.getLong(1)).toSeq === (1L to sorted.length).toSeq)
      val rel = sorted.map(_.getLong(5))
      assert(rel.zip(rel.tail).forall { case (a, b) => a >= b },
        "relevance nonincreasing within doc")
    }
    rows.foreach { r =>
      assert(r.getLong(3) >= 1L, "tf >= 1")
      assert(r.getLong(4) >= 1L, "df >= 1")
      assert(r.getLong(5) === r.getLong(3) * 1000000L / r.getLong(4))
    }
  }

  test("s30 kmeans matches an in-memory quantized Lloyd reference") {
    val q = graft.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray.map(x => math.floor(x.toDouble * 1000000.0).toLong))
      .sortBy(_._1)
    // the BIGINT-exactness argument needs |q_i| ≤ ~2e6 — verify the
    // corpus actually sits on that grid
    assert(q.forall(_._2.forall(v => math.abs(v) <= 2000000L)), "quantized range")
    def dist(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val K = graft.operators.Similarity.KmeansK
    var cents: Array[(Int, Array[Long])] =
      q.take(K).zipWithIndex.map { case ((_, v), i) => (i + 1, v) }
    def assign(): Array[(Long, Long)] = q.map { case (id, v) =>
      (id, cents.map { case (cid, cv) => dist(v, cv) * 100L + cid }.min)
    }
    val a1 = assign()
    cents = a1.zip(q).groupBy { case ((_, k), _) => (k % 100).toInt }.toArray
      .map { case (cid, members) =>
        val vs = members.map(_._2._2)
        (cid, Array.tabulate(vs.head.length)(i =>
          math.floor(vs.map(_(i)).sum.toDouble / vs.length).toLong))
      }
    val expect = assign().map { case (id, k) => id -> ((k % 100).toInt, k / 100) }.toMap
    val got = graft.operators.Similarity.s30Kmeans(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got === expect)
  }

  test("p62 balanced sample: per-cluster cap, contiguous ranks, dist monotone, subset of s30") {
    val asg = graft.operators.Similarity.s30Kmeans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val rows = graft.operators.Pipeline.p62BalancedSample(spark, dir).collect()
    assert(rows.nonEmpty)
    val cap = graft.operators.Pipeline.ClusterSampleCap
    rows.groupBy(_.getInt(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.length <= cap)
      assert(sorted.map(_.getLong(1)).toSeq === (1L to sorted.length).toSeq)
      val ds = sorted.map(_.getLong(3))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b }, "dist nondecreasing in rank")
    }
    val asgSet = asg.toSet
    rows.foreach(r => assert(asgSet((r.getLong(2), r.getInt(0), r.getLong(3))),
      "sampled row not in the s30 assignment"))
    // every cluster is kept whole up to the cap — nothing silently dropped
    val fullSizes = asg.groupBy(_._2).view.mapValues(_.length).toMap
    val keptSizes = rows.groupBy(_.getInt(0)).view.mapValues(_.length).toMap
    fullSizes.foreach { case (cid, n) =>
      assert(keptSizes.getOrElse(cid, 0) === math.min(n, cap), s"cluster $cid")
    }
  }

  test("t36 lm score: bounded ppm scale, exact-dup docs score identically") {
    val rows = graft.operators.TextAnalysis.t36LmScore(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1L, "n_bigrams >= 1")
      val s = r.getLong(2)
      assert(s >= 0L && s <= 1000000L, s"score $s outside [0, 1e6]")
    }
    // exact duplicate texts see the same corpus model — identical scores
    val byText = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val score = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    score.keys.groupBy(byText).values.filter(_.size > 1).foreach { ids =>
      assert(ids.map(score).toSet.size === 1, s"dup docs $ids diverge")
    }
    // a single-token or empty doc has no bigram — correctly absent
    val nTwoPlus = byText.values.count(t => Option(t).exists(_.split(" ").length >= 2))
    assert(rows.length === nTwoPlus, "one row per >=2-token doc")
  }

  test("m35 chunk near-dups: exact dups found with full witness, pairs ordered") {
    val rows = graft.operators.Multimodal.m35PayloadChunkdup(spark, dir).collect()
    val C = graft.operators.Multimodal.ChunkdupNumChunks
    val minShared = graft.operators.Multimodal.ChunkdupMinShared
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pair not ordered")
      assert(r.getLong(2) >= minShared && r.getLong(2) <= C, s"witness ${r.getLong(2)}")
    }
    // every exact-dup pair (same text, below the df cap) must be found
    // with ALL its chunks shared
    val texts = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .filter(t => Option(t._2).exists(_.nonEmpty))
    val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val dupGroups = texts.groupBy(_._2).values.filter(_.length > 1)
      .filter(_.length <= graft.operators.Multimodal.ChunkdupDfCap)
    dupGroups.foreach { g =>
      val ids = g.map(_._1).sorted
      for (a <- ids; b <- ids if a < b) {
        assert(got.contains((a, b)), s"exact dup pair ($a,$b) missed")
        val nb = g.head._2.getBytes("UTF-8").length
        val cb = (nb + C - 1) / C
        val expChunks = math.min(C.toLong, (nb + cb - 1) / cb)
        assert(got((a, b)) === expChunks, s"pair ($a,$b) partial witness")
      }
    }
  }

  test("q43 pruned week: every output date inside the filter window") {
    val rows = graft.sources.Sources.q43PartitionPrune(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getString(0)
      assert(d >= "2024-01-08" && d < "2024-01-15", s"date $d outside pruned window")
      assert(r.getLong(2) > 0L)
    }
  }

  test("d32 cut reconstruction is lossless for clean docs, total for exact dups") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Dedup.d32SpanCut(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.nonEmpty)
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        md5(coalesce(col("text"), lit(""))).as("th"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val emptyMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.empty[Byte]).map("%02x".format(_)).mkString
    val byText = docs.groupBy(_._2).view.mapValues(_.length).toMap
    docs.foreach { case (id, text, th) =>
      val r = rows(id)
      val (nChunks, nCut, kept, rh) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(nCut >= 0 && nCut <= nChunks, s"cut count out of range for $id")
      if (nCut == 0) {
        // non-overlapping tiles partition the words: zero cuts must
        // reconstruct the original text byte-for-byte
        assert(rh === th, s"uncut doc $id not reconstructed losslessly")
        assert(kept === text.split(" ", -1).length.toLong, s"kept tokens wrong for $id")
      }
      if (byText(text) >= graft.operators.Dedup.CutDocFreq.toInt) {
        // an exact duplicate shares EVERY chunk with its twin: the whole
        // doc is boilerplate and the rewrite empties it
        assert(nCut === nChunks && kept === 0L && rh === emptyMd5,
          s"exact-dup doc $id not fully cut")
      }
    }
    assert(rows.values.exists(_.getLong(2) > 0L), "no chunk cut anywhere (degenerate corpus)")
    assert(rows.values.exists(_.getLong(2) == 0L), "every chunk cut (degenerate rule)")
  }

  test("q57 reconciliation: all four taxonomy classes populated and totals balance") {
    val rows = graft.sources.Sources.q57Reconciliation(spark, dir).collect()
    val byStatus = rows.map(r => r.getString(0) -> r).toMap
    assert(byStatus.keySet === Set("consistent", "missing_in_caseflow",
      "missing_in_vacols", "rule_violation"), s"taxonomy: ${byStatus.keySet}")
    // cf-only rows are the negated keys — their witness keys must be negative
    assert(byStatus("missing_in_vacols").getLong(3) < 0L, "cf-only keys not negated")
    // every in-window VACOLS case lands in exactly one of the three
    // non-orphan classes (the slice mirrors consistency.R's bounded
    // event-driven check window)
    import org.apache.spark.sql.functions._
    val nOrders = graft.Tables.orders(spark, dir)
      .filter(col("o_orderdate") >=
          lit(graft.sources.Sources.ReconWindowStart).cast("timestamp") &&
        col("o_orderdate") <
          lit(graft.sources.Sources.ReconWindowEnd).cast("timestamp"))
      .count()
    val covered = Seq("consistent", "missing_in_caseflow", "rule_violation")
      .map(byStatus(_).getLong(1)).sum
    assert(covered === nOrders, s"$covered reconciled vs $nOrders orders")
  }

  test("q59 SCD2 history: per-user intervals contiguous, one current row each") {
    val rows = graft.operators.CoreQueries.q59ScdHistory(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (uid, h) =>
      val sorted = h.sortBy(_.getInt(1))
      // versions are 1..n with no holes
      assert(sorted.map(_.getInt(1)).toSeq === (1 to h.length), s"user $uid versions")
      // consecutive versions never repeat a state (run collapse) and
      // each interval's eff_to is the next interval's eff_from
      sorted.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(a.getString(2) != b.getString(2), s"user $uid uncollapsed run")
        assert(a.getTimestamp(4) === b.getTimestamp(3), s"user $uid gap in history")
      }
      // exactly the last version is current (null eff_to)
      assert(sorted.count(_.isNullAt(4)) === 1 && sorted.last.isNullAt(4),
        s"user $uid current-row contract")
    }
  }

  test("q60 cube: lattice complete and every subtotal consistent with the base cells") {
    val rows = graft.operators.CoreQueries.q60Cube(spark, dir).collect()
    val byGid = rows.groupBy(_.getLong(2))
    assert(byGid.keySet === Set(0L, 1L, 2L, 3L), s"lattice gids: ${byGid.keySet}")
    // grand total row counts everything; each subtotal level sums the base
    val base = byGid(0L).map(_.getLong(3)).sum
    assert(byGid(3L).map(_.getLong(3)).sum === base, "grand total mismatch")
    assert(byGid(1L).map(_.getLong(3)).sum === base, "priority-all level mismatch")
    assert(byGid(2L).map(_.getLong(3)).sum === base, "status-all level mismatch")
  }

  test("q61 sliding distinct: estimates within HLL error, exact trailing counts dominate daily") {
    val rows = graft.operators.Sketches.q61SlidingDistinct(spark, dir).collect()
    assert(rows.nonEmpty)
    // 256 registers → σ ≈ 1.04/√256 = 6.5%; 5σ is a safe determinism bound
    rows.foreach(r => assert(r.getDouble(3) <= 0.33, s"rel_err out of band: $r"))
    // a trailing-7d distinct count can never be below any single day's
    import org.apache.spark.sql.functions._
    val daily = graft.Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("d")).agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    rows.foreach { r =>
      val day = r.getTimestamp(0).toLocalDateTime.toLocalDate.toString
      assert(r.getLong(1) >= daily(day), s"trailing < daily on $day")
    }
  }

  test("p64 temperature mix: shares flatter than raw, no upsampling, kept near target") {
    val rows = graft.operators.Pipeline.p64TemperatureMix(spark, dir).collect()
    assert(rows.length > 1)
    val totTokens = rows.map(_.getLong(2)).sum
    rows.foreach { r =>
      val (n, keepPm, kept) = (r.getLong(1), r.getLong(5), r.getLong(6))
      assert(keepPm >= 0L && keepPm <= 10000L, s"keep rate out of range: $r")
      assert(kept <= n, s"upsampled: $r")
      // temperature flattening: √ is concave, so a source's target share
      // sits no farther from uniform than its raw TOKEN share does
      // (tolerance covers isqrt truncation at the tiny SF: weight error
      // is O(1/w) per source)
      val raw = r.getLong(2) * 10000L / totTokens
      val uni = 10000L / rows.length
      val tgt = r.getLong(4)
      assert(math.abs(tgt - uni) <= math.abs(raw - uni) + 200,
        s"share moved away from uniform: raw=$raw uni=$uni tgt=$tgt")
    }
  }

  test("q56 docket cohorts: cumulative counts nested and monotone, wait nonnegative") {
    val rows = graft.operators.Docket.q56DocketWait(spark, dir).collect()
    assert(rows.nonEmpty)
    val pred = java.sql.Timestamp.valueOf(graft.operators.Docket.PredDate + " 00:00:00")
    rows.foreach { r =>
      val (ahead, orig, adv) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // adv ⊆ (eligible ∧ orig ∧ pending) ⊆ eligible, so the cumulative
      // counts must nest for every cohort
      assert(adv <= orig && orig <= ahead, s"counts not nested: $r")
      assert(r.getDouble(6) >= 0.0, s"final_t negative: $r")
      assert(!r.getTimestamp(7).before(pred), s"predicted before as-of date: $r")
    }
    // ahead-of-you counts are cumulative over the docket: nondecreasing
    val aheads = rows.sortBy(_.getTimestamp(0).getTime).map(_.getLong(1))
    assert(aheads.zip(aheads.tail).forall { case (a, b) => a <= b },
      "ahead_cnt not monotone over docket order")
    // the fixpoint must actually move from the naive initial estimate on
    // cohorts with a nonempty advance pool ahead of them
    assert(rows.exists(r => math.abs(r.getDouble(6) - math.max(0.0, r.getDouble(5))) > 1e-9),
      "fixpoint refinement never adjusted the initial estimate")
  }

  test("d34 semdedup matches an in-memory SemDeDup reference on s30's clusters") {
    val asg = graft.operators.Similarity.s30Kmeans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))) // vec_id, cid, dist
    val vecs = graft.Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 } // graft_dot's order
      s
    }
    def cos6(i: Long, j: Long): BigDecimal = {
      val (a, b) = (vecs(i), vecs(j))
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val bar = BigDecimal(graft.operators.Dedup.CellDedupThreshold)
    val edges = asg.groupBy(_._2).values.toSeq.flatMap { ms =>
      val ids = ms.map(_._1).sorted.toSeq
      for (i <- ids; j <- ids if i < j && cos6(i, j) >= bar) yield (i, j)
    }
    assert(edges.nonEmpty, "no semantic near-dup pairs in the test corpus")
    // union-find transitive groups
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byId = asg.map(t => t._1 -> t).toMap
    val expect = nodes.groupBy(find).map { case (g, ms) =>
      val rows = ms.map(byId)
      val farDist = rows.map(_._3).max
      val survivor = rows.filter(_._3 == farDist).map(_._1).min
      (g, rows.head._2, ms.size.toLong, survivor, farDist, ms.size.toLong - 1)
    }.toSet
    val got = graft.operators.Dedup.d34Semdedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got === expect)
  }

  test("p67 cascade: funnel arithmetic balances and the exact stage equals d21") {
    import org.apache.spark.sql.functions._
    val a = graft.operators.Pipeline.p67DedupCascade(spark, dir)
    val rows = a.collect()
    rows.foreach { r =>
      val (in, re, rn, ae, an) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(re >= 0 && rn >= 0, s"negative removals in $r")
      assert(ae === in - re && an === ae - rn, s"funnel arithmetic broken in $r")
    }
    val totalInput = rows.map(_.getLong(1)).sum
    assert(totalInput === Tables.documents(spark, dir).count())
    // stage-1 removals must equal d21's duplicate count exactly
    val d21Removed = graft.operators.Dedup.d21ExactDedup(spark, dir)
      .agg(sum(col("n_docs") - 1)).head.getLong(0)
    assert(rows.map(_.getLong(2)).sum === d21Removed)
  }

  test("p68 BPE encode: compression <= char floor, totals coherent with the corpus") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Pipeline.p68BpeEncode(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nd, charsT, bpeT, pm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nd > 0 && charsT > 0)
      // each merge only ever shrinks the token count, and a doc is at
      // least one token per word — bpe total sits between words and chars
      assert(bpeT <= charsT, s"merges grew the token count in $r")
      assert(pm === bpeT * 10000 / charsT)
    }
    // per-source char totals must equal the corpus's non-space char count
    val expected = Tables.documents(spark, dir)
      .agg(sum(length(expr("replace(coalesce(text, ''), ' ', '')"))))
      .head.getLong(0)
    assert(rows.map(_.getLong(2)).sum === expected)
    // the learned pairs occur in the corpus, so at least one merge fired
    assert(rows.map(_.getLong(3)).sum < expected)
  }

  test("p66 learn: the min-count floor leaves the merge table unchanged on the test corpus") {
    // VERDICT r13 item 2 / ADVICE r14: the BpeMinWordCount floor bounds
    // the single-task learn against a web-scale singleton tail; on the
    // synthetic corpus every learned pair's support sits far above the
    // floor, so the floor must be a pure no-op here (any drift means the
    // floor changed learn semantics, not just bounded its input)
    val docs = Tables.documents(spark, dir)
    val floored = graft.operators.Pipeline.bpeLearnTable(docs).collect().toSeq
    val unfloored = graft.operators.Pipeline.bpeLearnTable(docs, 1L).collect().toSeq
    assert(floored === unfloored)
    assert(floored.nonEmpty)
  }

  test("d37 bloom: no false negatives, totals cover the batch, TP equals d27 exact truth") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Dedup.d37BloomAdmit(spark, dir).collect()
    val byOutcome = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    // the filter's contract: a present key always probes all-hit
    assert(!byOutcome.contains("false_negative"), s"bloom false negative: $byOutcome")
    assert(byOutcome.keySet.subsetOf(
      Set("true_positive", "false_positive", "true_negative")))
    val batchN = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(graft.operators.Dedup.IncrementalBatchMod)) === 0)
      .count()
    assert(byOutcome.values.sum === batchN)
    rows.foreach { r =>
      assert(r.getLong(2) === r.getLong(1) * 10000 / batchN, s"share off in $r")
    }
    // bloom hits with a real corpus twin = d27's exact_corpus docs exactly
    val d27Exact = graft.operators.Dedup.d27IncrementalDedup(spark, dir)
      .filter(col("status") === "exact_corpus").count()
    assert(byOutcome.getOrElse("true_positive", 0L) === d27Exact)
  }

  test("st45 streaming bloom report equals d37's batch report row-for-row") {
    val stream = graft.streaming.Streams.st45StreamBloom(spark, dir).collect().toSeq
    val batch = graft.operators.Dedup.d37BloomAdmit(spark, dir).collect().toSeq
    assert(stream.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ===
      batch.map(r => (r.getString(0), r.getLong(1), r.getLong(2))))
  }

  test("st48 streaming centroid update equals the batch mirror; invariants hold") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val stream = graft.streaming.Streams.st48StreamCentroidUpdate(spark, dir)
      .collect().toSeq.map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // batch mirror through the SAME shared tail, arriving read as batch
    val standing = Similarity.quantize(
      spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") % 5 =!= 0))
    val model = Similarity.kmeansModel(standing)
    val packed = broadcast(Similarity.packCentroids(model))
    val arriving = Similarity.quantize(
      spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") % 5 === 0))
    val batch = graft.streaming.Streams.st48Tail(standing, model,
        graft.streaming.Streams.st48CellsOf(arriving, packed))
      .collect().toSeq.map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(stream === batch, "continuous report drifted from the batch mirror")
    // arrivals are conserved across clusters; a populated cluster that
    // received arrivals generally moves (non-vacuous: some shift > 0)
    val nArr = arriving.count()
    assert(stream.map(_._3).sum === nArr * 1L, "arrival conservation")
    assert(stream.exists(_._4 > 0L), "no centroid moved — vacuous update")
    assert(stream.map(_._2).sum === standing.count(),
      "standing membership conservation")
  }

  test("q65 approx agg: exact totals cover the table, estimates scale by 1/p, errors coherent") {
    val rows = graft.operators.CoreQueries.q65ApproxAgg(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum === Tables.lineitem(spark, dir).count())
    rows.foreach { r =>
      val (n, estN, errN) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (q, estQ, errQ) = (r.getLong(4), r.getLong(5), r.getLong(6))
      assert(estN % 100 === 0 && estQ % 100 === 0, s"unscaled estimate in $r")
      assert(errN === math.abs(estN - n) * 10000 / n)
      assert(errQ === math.abs(estQ - q) * 10000 / q)
    }
  }

  test("q68 gap fill: dense spine, real gaps zero-filled, LOCF never null after first obs") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.CoreQueries.q68GapFill(spark, dir).collect()
    assert(rows.nonEmpty)
    val byType = rows.groupBy(_.getString(0))
    val nHours = byType.values.head.length
    // dense spine: every type carries the identical full hour axis
    byType.values.foreach(g => assert(g.length === nHours))
    assert(rows.exists(_.getLong(2) === 0L), "no gap rows — spine not denser than data")
    byType.values.foreach { g =>
      var seen = false
      g.sortBy(_.getTimestamp(1).getTime).foreach { r =>
        val hasObs = !r.isNullAt(3)
        if (hasObs) {
          seen = true
          assert(r.getLong(4) === r.getLong(3), s"LOCF must equal the fresh observation in $r")
        }
        if (seen) assert(!r.isNullAt(4), s"LOCF null after first observation in $r")
        else assert(r.isNullAt(4), s"LOCF before any observation must stay null in $r")
        if (!hasObs) assert(r.getLong(2) === 0L)
      }
    }
    // grain totals must cover every raw event
    assert(rows.map(_.getLong(2)).sum === Tables.events(spark, dir).count())
  }

  test("q69 incremental rollup: merge equals rebuild on every row, totals cover events") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Sketches.q69IncrRollup(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(6), s"merge != rebuild in $r")
      assert(r.getDouble(4) === r.getDouble(5), s"estimate drift in $r")
      assert(r.getDouble(4) > 0)
    }
    assert(rows.map(_.getLong(2)).sum === Tables.events(spark, dir).count())
  }

  test("st46 streaming rollup report equals q69's batch report row-for-row") {
    val stream = graft.streaming.Streams.st46StreamRollup(spark, dir).collect().toSeq
    val batch = graft.operators.Sketches.q69IncrRollup(spark, dir).collect().toSeq
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6))
    assert(stream.map(key) === batch.map(key))
  }

  test("q70 constraint audit passes on clean data and every arm fires on corrupted data") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val clean = graft.operators.CoreQueries.q70ConstraintAudit(spark, dir).collect()
    assert(clean.length === 5)
    clean.foreach(r => assert(r.getBoolean(3), s"clean data failed $r"))
    // corrupted frames: duplicate key, null custkey, bad status, negative
    // price, and a lineitem orphan — every constraint must fail
    val oSchema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType)))
    val liSchema = StructType(Seq(StructField("l_orderkey", LongType)))
    val badO = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, 10L, "O", 5.0), Row(1L, 11L, "F", 6.0),
      Row(2L, null, "X", -3.0)), 2), oSchema)
    val badLi = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L), Row(99L)), 1), liSchema)
    val bad = graft.operators.CoreQueries.q70ConstraintCore(badO, badLi).collect()
    bad.foreach { r =>
      assert(!r.getBoolean(3), s"corrupted data passed ${r.getString(0)}")
      assert(r.getLong(1) > 0 && r.getLong(1) <= 10000)
    }
  }

  test("q66 KMV overlap: sketch bounds, estimator coherence, exact columns consistent") {
    val r = graft.operators.Sketches.q66KmvOverlap(spark, dir).head
    val (k, nKu, nCommon) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (estU, nExU) = (r.getDouble(3), r.getLong(4))
    val (estI, nExI) = (r.getDouble(5), r.getLong(6))
    val (jEst, jEx) = (r.getLong(7), r.getLong(8))
    assert(nKu <= k && nCommon <= nKu)
    assert(nExI <= nExU && nExU > 0)
    assert(estU > 0 && estI >= 0 && estI <= estU + 1e-9)
    assert(jEst >= 0 && jEst <= 10000 && jEx >= 0 && jEx <= 10000)
    // K=256 gives ~1/sqrt(K) ≈ 6% standard error; assert a loose 4-sigma
    assert(math.abs(jEst - jEx) <= 2500, s"jaccard estimate off: $jEst vs $jEx")
    assert(math.abs(estU - nExU) / nExU <= 0.5, s"union estimate off: $estU vs $nExU")
  }

  test("d36 sig jaccard: pair set is d22's, band floor holds, scales bounded") {
    val rows = graft.operators.Dedup.d36SigJaccard(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (m, est, ex, err) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      // a band collision means 4 consecutive minhash components agree
      assert(m >= graft.functions.PortableHash.RowsPerBand && m <= 16, s"n_match out of band in $r")
      assert(est >= 0 && est <= 10000 && ex >= 0 && ex <= 10000)
      assert(err === math.abs(est - ex))
    }
    val d22 = graft.operators.Dedup.d22MinhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet === d22)
  }

  test("q67 schema evolution: both schema regimes exercised, totals balance") {
    val r = graft.sources.Sources.q67SchemaEvolution(spark, dir).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(1) === row.getLong(2) + row.getLong(3),
        s"evolved+backfilled != total in $row")
    }
    // the drift must actually bite: pre-drift AND post-drift rows exist
    assert(r.map(_.getLong(2)).sum > 0, "no physically evolved rows")
    assert(r.map(_.getLong(3)).sum > 0, "no backfilled rows — mergeSchema untested")
    assert(Tables.events(spark, dir).count() === r.map(_.getLong(1)).sum)
  }

  test("s35 filtered ANN: only allowed labels, ranks contiguous, sims ordered") {
    val allowed = graft.operators.Similarity.FilteredAnnLabels.toSet
    val rows = graft.operators.Similarity.s35FilteredAnn(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).values.foreach { grp =>
      val sorted = grp.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq === (1 to sorted.length))
      sorted.foreach(r => assert(allowed.contains(r.getInt(2)), s"disallowed label in $r"))
      val sims = sorted.map(_.getDouble(4))
      assert(sims.sliding(2).forall { case Array(a, b) => b <= a + 1e-9; case _ => true })
      assert(grp.forall(_.getLong(5) >= grp.length))
    }
  }

  test("t41 BM25 matches an in-memory reference on the sf0.001 corpus") {
    val docs = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        Option(r.getString(1)).getOrElse("").split(" ", -1).toSeq)
    val tf = docs.flatMap { case (id, ws) =>
      ws.groupBy(identity).map { case (w, g) => (id, w) -> g.size.toLong } }.toMap
    val len = docs.map { case (id, ws) => id -> ws.size.toLong }.toMap
    val dfm = tf.keys.groupBy(_._2).map { case (w, ks) => w -> ks.size.toLong }
    val nDocs = docs.length.toLong
    val totLen = len.values.sum
    def pairScore(qws: Set[String], did: Long): Option[(Long, Double)] = {
      val hits = qws.filter(w => tf.contains((did, w)))
      if (hits.isEmpty) None else Some((hits.size.toLong, hits.toSeq.map { w =>
        val df = dfm(w); val t = tf((did, w))
        (math.log((2 * nDocs - 2 * df + 1).toDouble) - math.log((2 * df + 1).toDouble)) *
          (t * 22 * totLen).toDouble /
          (t * 10 * totLen + 3 * totLen + 9 * len(did) * nDocs).toDouble
      }.sum))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = docs.filter(_._1 < 10).flatMap { case (qid, qws) =>
      val cands = docs.iterator.map(_._1).filter(_ != qid)
        .flatMap(d => pairScore(qws.toSet, d).map { case (nh, s) => (d, nh, r6(s)) })
        .toSeq.sortBy { case (d, _, s) => (-s, d) }
        .take(graft.operators.TextAnalysis.Bm25TopK)
      cands.zipWithIndex.map { case ((d, nh, s), i) =>
        (qid, (i + 1).toLong, d, nh, s) }
    }.toSet
    val got = graft.operators.TextAnalysis.t41Bm25(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(got === expected)
  }

  test("s37 RRF fusion is consistent with its two shared rank legs") {
    import graft.operators.{Similarity, TextAnalysis}
    val docs = Tables.documents(spark, dir)
    val vec = Similarity.s36HashVecCore(spark, docs, Similarity.RrfDepth)
      .filter(org.apache.spark.sql.functions.col("cos_sim").isNotNull).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2).toLong).toMap
    val lex = TextAnalysis.t41Bm25Core(docs, Similarity.RrfDepth).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val fusedKeys = vec.keySet ++ lex.keySet
    val expected = fusedKeys.groupBy(_._1).flatMap { case (q, ks) =>
      val scored = ks.toSeq.map { k =>
        val s = vec.get(k).map(r => 1000000L / (Similarity.RrfK + r)).getOrElse(0L) +
          lex.get(k).map(r => 1000000L / (Similarity.RrfK + r)).getOrElse(0L)
        (k._2, vec.get(k), lex.get(k), s)
      }.sortBy { case (d, _, _, s) => (-s, d) }.take(Similarity.RrfTopK)
      scored.zipWithIndex.map { case ((d, vr, lr, s), i) =>
        (q, (i + 1).toLong, d, vr, lr, s) }
    }.toSet
    val got = Similarity.s37RrfFusion(spark, dir).collect()
      .map { r =>
        def optL(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        (r.getLong(0), r.getLong(1), r.getLong(2), optL(3), optL(4), r.getLong(5))
      }.toSet
    assert(got === expected)
    // every fused row carries at least one leg rank
    got.foreach { case (_, _, _, vr, lr, _) => assert(vr.isDefined || lr.isDefined) }
  }

  test("t42 blocklist gate fires and bounds hold") {
    val rows = graft.operators.TextAnalysis.t42Blocklist(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"flagged > docs in $r")
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 10000, s"share out of range in $r")
      assert(r.getLong(2) == 0 || r.getLong(4) >= r.getLong(2),
        s"flagged docs must lose ≥1 token each in $r")
    }
    // the corpus-derived blocklist term must actually fire somewhere —
    // a gate that never flags is vacuous
    assert(rows.map(_.getLong(2)).sum > 0, "flag arm never fired")
  }

  test("q73 attribution conserves credit across all three models") {
    val rows = graft.operators.CoreQueries.q73Attribution(spark, dir).collect()
    val byType = rows.map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(byType.contains("__NONE__"), "unattributed accounting row missing")
    val attributed = byType.filterKeys(_ != "__NONE__").values
    val nConvs = attributed.map(_._2).sum / 10000
    // first and last each assign exactly 10000 per attributed conversion
    assert(attributed.map(_._2).sum === nConvs * 10000)
    assert(attributed.map(_._3).sum === nConvs * 10000)
    // linear floors per touch, so it can only round DOWN from full credit
    val linear = attributed.map(_._4).sum
    assert(linear <= nConvs * 10000 && linear > (nConvs * 10000 * 9) / 10)
  }

  test("q74 quarantine accounts for every record; corrupt set is exactly mod-13") {
    val rows = graft.sources.Sources.q74CorruptIngest(spark, dir).collect()
    val total = rows.map(_.getLong(2)).sum
    val ev = Tables.events(spark, dir)
    assert(total === ev.count(), "ingest dropped or duplicated records")
    val quarantined = rows.filter(_.getString(0) == "quarantined")
    assert(quarantined.length === 1 &&
      quarantined.head.getString(1) === "__QUARANTINE__")
    import org.apache.spark.sql.functions.col
    assert(quarantined.head.getLong(2) ===
      ev.filter(col("event_id") % 13 === 0).count(),
      "quarantine set is not exactly the corrupted subset")
  }

  test("q71 Z-order buckets bound BOTH dimension spans simultaneously") {
    import graft.sources.Sources
    val rows = Sources.q71ZorderLayout(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= Sources.ZBuckets)
    val total = rows.map(_.getLong(1)).sum
    assert(total === Tables.orders(spark, dir).count(), "layout dropped/duplicated rows")
    rows.foreach { r =>
      // top-3-bits-per-dim buckets: each dim's span ≤ 1/8 of its global
      // range + one quantization cell (10000/8 + 10000/256 ≈ 1290)
      assert(r.getLong(2) <= 1500, s"customer span too wide in $r")
      assert(r.getLong(3) <= 1500, s"date span too wide in $r")
    }
  }

  test("s38 MMR selection matches an in-memory greedy reference") {
    import graft.operators.Similarity
    val cands = Similarity.s26Core(spark, dir, Similarity.MmrPool).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.floor(r.getDouble(3) * 1000000d + 0.5d).toLong))
    val candIds = cands.map(_._2).toSet
    val vecs = Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
      .filter(r => candIds(r.getLong(0)))
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def simPpm(a: Long, b: Long): Long = {
      val (va, vb) = (vecs(a), vecs(b))
      val c = dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))
      val r6 = BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.floor(r6 * 1000000d + 0.5d).toLong
    }
    val expected = cands.groupBy(_._1).flatMap { case (q, pool) =>
      val rel = pool.map(c => c._2 -> c._3).toMap
      var selected = Vector.empty[(Long, Long)] // (cand, pen)
      for (step <- 1 to Similarity.MmrK) {
        val remaining = rel.keys.filterNot(c => selected.exists(_._1 == c))
        val pick = remaining.map { c =>
          val pen = if (selected.isEmpty) 0L
            else selected.map(s => simPpm(c, s._1)).max
          (c, pen, rel(c) * 7 - pen * 3)
        }.minBy { case (c, _, m) => (-m, c) }
        selected :+= ((pick._1, pick._2))
      }
      selected.zipWithIndex.map { case ((c, pen), i) =>
        (q, (i + 1).toLong, c, rel(c), pen, rel(c) * 7 - pen * 3) }
    }.toSet
    val got = Similarity.s38Mmr(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got === expected)
  }

  test("t40 entropy: bounds, ttr range, exact dups score identically") {
    val t = graft.operators.TextAnalysis.t40Entropy(spark, dir).collect()
    t.foreach { r =>
      val (nc, nw, ndw) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (ce, we, ttr) = (r.getDouble(5), r.getDouble(6), r.getLong(7))
      assert(ce >= 0 && we >= 0, s"negative entropy in $r")
      assert(nc == 0 || ce <= math.log(nc.toDouble) + 1e-6)
      assert(we <= math.log(nw.toDouble) + 1e-6)
      assert(ndw >= 1 && ndw <= nw)
      assert(ttr >= 1 && ttr <= 10000)
    }
    // identical text ⇒ identical signals (join t40 against raw text)
    val byText = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    t.groupBy(r => byText(r.getLong(0))).values.foreach { grp =>
      val sigs = grp.map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6))).distinct
      assert(sigs.size === 1, "exact-dup docs scored differently")
    }
  }

  test("Derby roundtrips: a prior invocation's frame survives until drained (r16 lifecycle)") {
    // the r16 counter-suffixed + drop-previous lifecycle: invoking q38
    // again drops the PREVIOUS table only, so interleaved invocations
    // that drain in order both succeed, and results are identical
    val first = graft.sources.Sources.q38JdbcRoundtrip(spark, dir)
    val a = first.collect() // drain before re-invoking, per the contract
    val b = graft.sources.Sources.q38JdbcRoundtrip(spark, dir).collect()
    assert(a.toSeq === b.toSeq)
    assert(a.nonEmpty)
    // heap-boundedness (ADVICE r16): the drop-previous mechanism must
    // actually fire — after the second invocation drains, at most ONE
    // nation_rt_* table may be live in Derby's catalog
    val conn = java.sql.DriverManager.getConnection("jdbc:derby:memory:graftdb;create=true")
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(
          "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLENAME LIKE 'NATION_RT_%'")
        var live = List.empty[String]
        while (rs.next()) live ::= rs.getString(1)
        rs.close()
        assert(live.size <= 1, s"stale Derby tables accumulating: $live")
      } finally st.close()
    } finally conn.close()
  }

  test("streaming results survive operator re-invocation (r16 sink detach)") {
    // pre-r16: the second build dropped the first's memory-sink view, so
    // draining the FIRST frame afterwards threw TABLE_OR_VIEW_NOT_FOUND;
    // runToTable now detaches eagerly, making this order safe
    val first = graft.streaming.Streams.st43StreamHeavyHitters(spark, dir)
    val second = graft.streaming.Streams.st43StreamHeavyHitters(spark, dir)
    val a = first.collect() // drained AFTER the second run started
    val b = second.collect()
    assert(a.toSeq === b.toSeq)
    assert(a.nonEmpty)
  }
}
