package graft.operators

import graft.functions.PortableHash._

/** DuckDB oracle SQL for d21–d25, s26–s27, t28–t31, m32 — exact
  * arithmetic mirrors of the Spark plans. The portable hash is
  * ('0x' || substr(md5(s), 1, 15))::BIGINT — identical to Spark's
  * conv(substr(md5(s),1,15),16,10). Seeds/bands are generated from the
  * same constants as [[graft.functions.PortableHash]].
  */
object PipelineOracles {

  private def phSql(col: String): String =
    s"('0x' || substr(md5($col), 1, 15))::BIGINT"

  private val shingleCte =
    """WITH w AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS words FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3
      |), sh AS (
      |  SELECT doc_id, source,
      |         unnest(list_distinct(list_transform(generate_series(1, len(words) - 2),
      |           i -> array_to_string(words[i:i+2], ' ')))) AS s
      |  FROM w
      |)""".stripMargin

  /** CTE chain (follows a WITH/WITH RECURSIVE keyword) ending in
    * `bands(doc_id, band_idx, band_key)` — every doc's minhash band
    * keys, shared by d22/d26 (pair graph) and d27 (corpus band index). */
  private val d22BandsCtes: String = {
    val sigs = (0 until NumMinhash).map { j =>
      s"MIN((${seedA(j)} * x + ${seedB(j)}) % $P) AS m$j"
    }.mkString(",\n|         ")
    val bands = (0 until NumBands).map { b =>
      val ms = (0 until RowsPerBand).map(r => s"CAST(m${b * RowsPerBand + r} AS VARCHAR)")
      s"SELECT doc_id, $b AS band_idx, ${ms.mkString(" || '_' || ")} AS band_key FROM sig"
    }.mkString("\n|  UNION ALL\n|  ")
    s"""${shingleCte.stripPrefix("WITH ")}, h AS (
      |  SELECT doc_id, ${phSql("s")} % $P AS x FROM sh
      |), sig AS (
      |  SELECT doc_id,
      |         $sigs
      |  FROM h GROUP BY doc_id
      |), bands AS (
      |  $bands
      |)""".stripMargin
  }

  /** [[d22BandsCtes]] + the distinct band-bucket pair join, with the
    * [[Dedup.BandBucketCap]] per-bucket frequency cap mirrored in the
    * `bandsc` CTE (one definition with the Spark side). */
  private val d22PairsCtes: String =
    s"""$d22BandsCtes, bandsc AS (
      |  SELECT doc_id, band_idx, band_key FROM (
      |    SELECT doc_id, band_idx, band_key,
      |           COUNT(*) OVER (PARTITION BY band_idx, band_key) AS bucket_n
      |    FROM bands
      |  ) WHERE bucket_n <= ${Dedup.BandBucketCap}
      |), pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bandsc a JOIN bandsc b
      |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      |)""".stripMargin

  // rate VALUES generated from Pipeline.SplitRates — both engines join
  // the identical 4-row table and hash the identical salted key
  private val p56Sql: String = {
    val values = Pipeline.SplitRates
      .map { case (l, t, v) => s"('$l', $t, $v)" }.mkString(", ")
    s"""WITH rates(lang, test_pm, val_pm) AS (VALUES $values),
      |d AS (
      |  SELECT doc_id, documents.lang AS lang,
      |         COALESCE(r.test_pm, ${Pipeline.DefaultTestPm}) AS test_pm,
      |         COALESCE(r.val_pm, ${Pipeline.DefaultValPm}) AS val_pm,
      |         ${phSql("'split:' || COALESCE(documents.lang, '__null__') || ':' || CAST(doc_id AS VARCHAR)")} % 1000 AS u
      |  FROM documents LEFT JOIN rates r ON documents.lang = r.lang
      |)
      |SELECT doc_id, lang,
      |       CASE WHEN u < test_pm THEN 'test'
      |            WHEN u < test_pm + val_pm THEN 'val'
      |            ELSE 'train' END AS split
      |FROM d
      |ORDER BY doc_id""".stripMargin
  }

  private val p57Sql: String =
    s"""WITH counts AS (
      |  SELECT source, COUNT(*) AS n_input,
      |         SUM(COUNT(*)) OVER () AS n_total,
      |         COUNT(*) OVER () AS n_sources
      |  FROM documents GROUP BY source
      |), th AS (
      |  SELECT source, n_input,
      |         LEAST(10000, (n_total * 10000) // (n_sources * n_input)) AS keep_permyriad
      |  FROM counts
      |), kept AS (
      |  SELECT d.source, COUNT(*) AS n_kept
      |  FROM documents d JOIN th ON d.source = th.source
      |  WHERE ${phSql("'mix:' || CAST(doc_id AS VARCHAR)")} % 10000 < th.keep_permyriad
      |  GROUP BY d.source
      |)
      |SELECT th.source, CAST(th.n_input AS BIGINT) AS n_input,
      |       CAST(th.keep_permyriad AS BIGINT) AS keep_permyriad,
      |       CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept
      |FROM th LEFT JOIN kept ON th.source = kept.source
      |ORDER BY 1""".stripMargin

  private val d27Sql: String = {
    val m = Dedup.IncrementalBatchMod
    s"""WITH $d22BandsCtes, corpus_h AS (
      |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % $m <> 0
      |), b AS (
      |  SELECT doc_id, md5(text) AS h,
      |         MIN(doc_id) OVER (PARTITION BY md5(text)) AS hmin
      |  FROM documents WHERE doc_id % $m = 0
      |), near AS (
      |  SELECT DISTINCT bb.doc_id
      |  FROM bands bb JOIN (
      |    SELECT DISTINCT band_idx, band_key FROM bands WHERE doc_id % $m <> 0
      |  ) cb ON bb.band_idx = cb.band_idx AND bb.band_key = cb.band_key
      |  WHERE bb.doc_id % $m = 0
      |)
      |SELECT b.doc_id,
      |       CASE WHEN ch.h IS NOT NULL THEN 'exact_corpus'
      |            WHEN b.doc_id <> b.hmin THEN 'exact_batch'
      |            WHEN near.doc_id IS NOT NULL THEN 'near_corpus'
      |            ELSE 'admitted' END AS status
      |FROM b LEFT JOIN corpus_h ch ON b.h = ch.h
      |       LEFT JOIN near ON b.doc_id = near.doc_id
      |ORDER BY 1""".stripMargin
  }

  private val d22Sql: String =
    s"""WITH $d22PairsCtes
      |SELECT doc_a, doc_b FROM pairs
      |ORDER BY doc_a, doc_b""".stripMargin

  // mirror of Dedup.d37BloomAdmit: same ph(text)%P key, same K position
  // hashes (minhash family, seed offset 40), same corpus-sized M rule
  // derived in a CTE, same d27 exact truth and outcome taxonomy
  private val d37Sql: String = {
    import graft.functions.PortableHash.{BloomK, BloomMinBits, BloomBitsPerKey, BloomSeedOffset}
    val m = Dedup.IncrementalBatchMod
    val posList = (0 until BloomK).map { j =>
      val s = BloomSeedOffset + j
      s"((${seedA(s)} * x + ${seedB(s)}) % $P) % msize.m"
    }.mkString("[", ", ", "]")
    s"""WITH d AS (
      |  SELECT doc_id, md5(text) AS h, ${phSql("text")} % $P AS x FROM documents
      |), msize AS (
      |  SELECT GREATEST($BloomMinBits, $BloomBitsPerKey * COUNT(DISTINCT x)) AS m
      |  FROM d WHERE doc_id % $m <> 0
      |), pos AS (
      |  SELECT DISTINCT doc_id, unnest($posList) AS pos FROM d, msize
      |), bloom AS (
      |  SELECT DISTINCT pos FROM pos WHERE doc_id % $m <> 0
      |), corpus_h AS (
      |  SELECT DISTINCT h FROM d WHERE doc_id % $m <> 0
      |), probe AS (
      |  SELECT p.doc_id, COUNT(*) AS n_pos,
      |         SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      |  FROM pos p LEFT JOIN bloom b ON p.pos = b.pos
      |  WHERE p.doc_id % $m = 0
      |  GROUP BY p.doc_id
      |), cls AS (
      |  SELECT CASE WHEN pr.n_hit = pr.n_pos AND ch.h IS NOT NULL THEN 'true_positive'
      |              WHEN pr.n_hit = pr.n_pos THEN 'false_positive'
      |              WHEN ch.h IS NOT NULL THEN 'false_negative'
      |              ELSE 'true_negative' END AS outcome
      |  FROM probe pr JOIN d ON pr.doc_id = d.doc_id
      |       LEFT JOIN corpus_h ch ON d.h = ch.h
      |)
      |SELECT outcome, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(CAST(COUNT(*) AS BIGINT) * 10000
      |            // CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS BIGINT) AS share_pm
      |FROM cls GROUP BY outcome ORDER BY outcome""".stripMargin
  }

  /** d35 mirror — d22's pair CTE + the same clamped-prefix Levenshtein
    * verifier (both engines run the textbook DP; exact integers). */
  private val d35Sql: String = {
    import graft.operators.Dedup.{EditVerifyPrefix => W, EditVerifySimPm => Bar}
    s"""WITH $d22PairsCtes, t AS (
      |  SELECT doc_id, substr(text, 1, $W) AS pfx FROM documents
      |), v AS (
      |  SELECT p.doc_a, p.doc_b,
      |         CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS lev,
      |         CAST(GREATEST(length(a.pfx), length(b.pfx)) AS BIGINT) AS win
      |  FROM pairs p
      |  JOIN t a ON p.doc_a = a.doc_id
      |  JOIN t b ON p.doc_b = b.doc_id
      |)
      |SELECT doc_a, doc_b, lev,
      |       CAST((win - lev) * 10000 // win AS BIGINT) AS sim_pm,
      |       CAST((win - lev) * 10000 // win >= $Bar AS INT) AS verified
      |FROM v
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  // transitive closure by recursive reachability, then min-label per
  // node — near-dup components are small (bounded by true-dup cluster
  // size), so the closure is |component|² per component, never |graph|²
  private val d26Sql: String =
    s"""WITH RECURSIVE $d22PairsCtes, edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION ALL
      |  SELECT doc_b AS u, doc_a AS v FROM pairs
      |), reach(node, r) AS (
      |  SELECT DISTINCT u, u FROM edges
      |  UNION
      |  SELECT e.v, reach.r FROM reach JOIN edges e ON reach.node = e.u
      |), lab AS (
      |  SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
      |)
      |SELECT node AS doc_id, cluster_id,
      |       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
      |       node = cluster_id AS is_survivor
      |FROM lab
      |ORDER BY doc_id""".stripMargin

  // mirror of Pipeline.p72SnapshotDiff: the deterministically
  // synthesized OLD snapshot (mod-7 adds/removes, mod-11 truncation
  // changes) full-outer-joined to the current table by doc_id,
  // content-hash compare, per-source churn (SUMs cast BIGINT — the r8
  // HUGEINT dtype-drift lesson)
  private val p72Sql: String =
    s"""WITH o AS (
      |  SELECT doc_id, source,
      |         md5(CASE WHEN doc_id % 11 = 0
      |                  THEN substr(text, 1, CAST(length(text) // 2 AS INT))
      |                  ELSE text END) AS h_old
      |  FROM documents WHERE doc_id % 7 <> 3
      |  UNION ALL
      |  SELECT -doc_id - 1 AS doc_id, source, md5(text) AS h_old
      |  FROM documents WHERE doc_id % 7 = 6
      |), n AS (
      |  SELECT doc_id, source AS source_new, md5(text) AS h_new FROM documents
      |), j AS (
      |  SELECT COALESCE(n.source_new, o.source) AS source,
      |         CASE WHEN o.h_old IS NULL THEN 'added'
      |              WHEN n.h_new IS NULL THEN 'removed'
      |              WHEN o.h_old <> n.h_new THEN 'changed'
      |              ELSE 'unchanged' END AS status
      |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      |), g AS (
      |  SELECT source,
      |         CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
      |         CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |         CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |         CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
      |  FROM j GROUP BY source
      |)
      |SELECT source, n_added, n_removed, n_changed, n_unchanged,
      |       CAST((n_added + n_removed + n_changed) * 10000
      |            // (n_added + n_changed + n_unchanged) AS BIGINT) AS churn_pm
      |FROM g
      |ORDER BY source""".stripMargin

  // mirror of Pipeline.p71LeakageSafeSplit: d26's reachability clusters
  // (singletons = own doc_id via the left join) + p56's salted-hash
  // permille rule applied to the CLUSTER id
  private val p71Sql: String =
    s"""WITH RECURSIVE $d22PairsCtes, edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION ALL
      |  SELECT doc_b AS u, doc_a AS v FROM pairs
      |), reach(node, r) AS (
      |  SELECT DISTINCT u, u FROM edges
      |  UNION
      |  SELECT e.v, reach.r FROM reach JOIN edges e ON reach.node = e.u
      |), lab AS (
      |  SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
      |), assign AS (
      |  SELECT d.doc_id, COALESCE(lab.cluster_id, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN lab ON d.doc_id = lab.node
      |), u AS (
      |  SELECT doc_id, cluster_id,
      |         COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
      |         ${phSql("'gsplit:' || CAST(cluster_id AS VARCHAR)")} % 1000 AS u
      |  FROM assign
      |)
      |SELECT doc_id, cluster_id, cluster_size,
      |       CASE WHEN u < ${Pipeline.DefaultTestPm} THEN 'test'
      |            WHEN u < ${Pipeline.DefaultTestPm + Pipeline.DefaultValPm} THEN 'val'
      |            ELSE 'train' END AS split
      |FROM u
      |ORDER BY doc_id""".stripMargin

  // mirror of Dedup.d31QualitySurvivor: d26's reachability clusters +
  // t29's quality arithmetic, survivor = min doc_id among max-score
  // members (deterministic two-step election, never arg_max ties).
  // lazy: inList/stopEn initialize further down the object body
  private lazy val d31Sql: String =
    s"""WITH RECURSIVE $d22PairsCtes, edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION ALL
      |  SELECT doc_b AS u, doc_a AS v FROM pairs
      |), reach(node, r) AS (
      |  SELECT DISTINCT u, u FROM edges
      |  UNION
      |  SELECT e.v, reach.r FROM reach JOIN edges e ON reach.node = e.u
      |), lab AS (
      |  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
      |), qual AS (
      |  SELECT doc_id,
      |         CAST(FLOOR((0.3 * LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
      |             + 0.4 * (1.0 - ROUND(CAST(len(list_filter(string_split(text, ' '), x -> x IN ${inList(stopEn)})) AS DOUBLE)
      |                                  / CAST(len(string_split(text, ' ')) AS DOUBLE), 4))
      |             + 0.3 * LEAST(ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      |                                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) / 8.0, 1.0)) * 10000.0 + 0.5) AS BIGINT) AS score_x10000
      |  FROM documents
      |), members AS (
      |  SELECT lab.cluster_id, lab.doc_id, qual.score_x10000
      |  FROM lab JOIN qual ON lab.doc_id = qual.doc_id
      |), best AS (
      |  SELECT cluster_id, COUNT(*) AS n_members, MAX(score_x10000) AS best_score
      |  FROM members GROUP BY cluster_id
      |)
      |SELECT m.cluster_id, b.n_members, MIN(m.doc_id) AS survivor_id,
      |       b.best_score,
      |       CAST(MIN(m.doc_id) <> m.cluster_id AS INT) AS differs_from_min_id
      |FROM members m JOIN best b ON m.cluster_id = b.cluster_id
      |WHERE m.score_x10000 = b.best_score
      |GROUP BY m.cluster_id, b.n_members, b.best_score
      |ORDER BY m.cluster_id""".stripMargin

  // combination keys generated from the SAME Dedup.SimCombos sequence the
  // Spark plan explodes — both engines key docs on the identical 20
  // block-triples (Manku construction; see Dedup.SimCombos scaladoc)
  private val d23Sql: String = {
    val blockMod = 1L << Dedup.SimBlockBits
    def blockSql(i: Int) =
      s"((simhash // ${1L << (Dedup.SimBlockBits * i)}) % $blockMod)"
    val structs = Dedup.SimCombos.zipWithIndex.map { case (c, idx) =>
      val key = c.foldLeft("CAST(0 AS BIGINT)")((acc, i) =>
        s"($acc * $blockMod + ${blockSql(i)})")
      s"{'k': $idx, 'ckey': $key}"
    }.mkString(",\n|      ")
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents
      |), th AS (
      |  SELECT doc_id, ${phSql("tok")} % $SimMod AS th FROM toks
      |), bits AS (
      |  SELECT doc_id, t.b AS b,
      |         CASE WHEN (th // CAST(pow(2, t.b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END AS contrib
      |  FROM th, range(0, $SimBits) t(b)
      |), sb AS (
      |  SELECT doc_id, b, SUM(contrib) AS s FROM bits GROUP BY doc_id, b
      |), sims0 AS (
      |  SELECT doc_id,
      |         CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM sb GROUP BY doc_id
      |), sc AS (
      |  -- Dedup.SimClassCap mirror: over-cap signature classes leave
      |  -- the pair listing entirely (exact-dup territory)
      |  SELECT simhash FROM sims0 GROUP BY simhash
      |  HAVING COUNT(*) <= ${Dedup.SimClassCap}
      |), sims AS (
      |  SELECT s.doc_id, s.simhash FROM sims0 s JOIN sc USING (simhash)
      |), keyed AS (
      |  -- candidate join over DISTINCT signatures (dup docs expand later)
      |  SELECT simhash, u.k AS k, u.ckey AS ckey FROM (
      |    SELECT simhash, unnest([
      |      $structs
      |    ]) AS u FROM (SELECT DISTINCT simhash FROM sims)
      |  )
      |), sp AS (
      |  SELECT * FROM (
      |    SELECT DISTINCT a.simhash AS sig_a, b.simhash AS sig_b,
      |           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      |    FROM keyed a JOIN keyed b
      |      ON a.k = b.k AND a.ckey = b.ckey AND a.simhash < b.simhash
      |  ) WHERE hamming <= 3
      |)
      |SELECT doc_a, doc_b, hamming FROM (
      |  SELECT LEAST(da.doc_id, db.doc_id) AS doc_a,
      |         GREATEST(da.doc_id, db.doc_id) AS doc_b, sp.hamming AS hamming
      |  FROM sp
      |  JOIN sims da ON sp.sig_a = da.simhash
      |  JOIN sims db ON sp.sig_b = db.simhash
      |  UNION ALL
      |  SELECT x.doc_id, y.doc_id, 0
      |  FROM sims x JOIN sims y ON x.simhash = y.simhash AND x.doc_id < y.doc_id
      |)
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  private val d24Sql: String =
    s"""WITH w AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS words FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3
      |), shl AS (
      |  SELECT doc_id, source,
      |         list_distinct(list_transform(generate_series(1, len(words) - 2),
      |           i -> array_to_string(words[i:i+2], ' '))) AS shingles
      |  FROM w
      |), shx0 AS (
      |  -- unnest materialized in its own CTE: DuckDB expands same-SELECT
      |  -- aliases in place, and UNNEST is illegal inside window/agg
      |  -- clauses (the r02 regression)
      |  SELECT doc_id, source, len(shingles) AS nsh, ${phSql("unnest(shingles)")} AS x
      |  FROM shl
      |), shx AS (
      |  SELECT * FROM shx0 QUALIFY COUNT(*) OVER (PARTITION BY source, x) <= 50
      |), p AS (
      |  SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         a.nsh AS na, b.nsh AS nb, COUNT(*) AS inter
      |  FROM shx a JOIN shx b
      |    ON a.source = b.source AND a.x = b.x AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4, 5
      |)
      |SELECT * FROM (
      |  SELECT source, doc_a, doc_b, inter,
      |         CAST(na + nb AS BIGINT) - inter AS uni,
      |         ROUND(CAST(inter AS DOUBLE) / CAST(CAST(na + nb AS BIGINT) - inter AS DOUBLE), 4) AS jaccard
      |  FROM p
      |) WHERE jaccard >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  private val vecCte =
    """WITH e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      |), n AS (
      |  SELECT vec_id, label, v,
      |         sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
      |  FROM e
      |)""".stripMargin

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, 64), i -> $a.v[i] * $b.v[i]))"

  private val d25Sql: String =
    s"""$vecCte
      |SELECT * FROM (
      |  SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
      |         ROUND(${dotSql("a", "b")} / (a.norm * b.norm), 6) AS cos_sim
      |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
      |) WHERE cos_sim >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  /** d34 mirror — SemDeDup restated: the SAME k-means chain as
    * s30/s31/p62 (bit-identical integer assignments), d25's cosine
    * arithmetic for the within-cluster pair bar, d26's recursive
    * reachability for the transitive groups, and the deterministic
    * max-dist-then-min-id election. `vv` names the vector column so the
    * edge columns (u, v) stay unambiguous. */
  // lazy: kmeansCtes initializes further down the object body
  private lazy val d34Sql: String = {
    s"""WITH RECURSIVE ${kmeansCtes.stripPrefix("WITH ")}, ev AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings
      |), nv AS (
      |  SELECT vec_id, vv, sqrt(list_sum(list_transform(vv, x -> x * x))) AS norm
      |  FROM ev
      |), mm AS (
      |  SELECT nv.vec_id, nv.vv, nv.norm, asg.cid, asg.dist
      |  FROM nv JOIN asg USING (vec_id)
      |), pr AS (
      |  SELECT u, v FROM (
      |    SELECT a.vec_id AS u, b.vec_id AS v,
      |           ROUND(list_sum(list_transform(generate_series(1, 64),
      |                   i -> a.vv[i] * b.vv[i])) / (a.norm * b.norm), 6) AS cos_sim
      |    FROM mm a JOIN mm b ON a.cid = b.cid AND a.vec_id < b.vec_id
      |  ) WHERE cos_sim >= ${Dedup.CellDedupThreshold}
      |), edges AS (
      |  SELECT u, v FROM pr UNION ALL SELECT v AS u, u AS v FROM pr
      |), reach(node, r) AS (
      |  SELECT DISTINCT u, u FROM edges
      |  UNION
      |  SELECT e.v, reach.r FROM reach JOIN edges e ON reach.node = e.u
      |), lab AS (
      |  SELECT node, MIN(r) AS group_id FROM reach GROUP BY node
      |), memb AS (
      |  SELECT lab.group_id, lab.node, asg.cid, asg.dist
      |  FROM lab JOIN asg ON lab.node = asg.vec_id
      |), far AS (
      |  SELECT group_id, COUNT(*) AS n_members, MAX(dist) AS far_dist,
      |         MIN(cid) AS cid
      |  FROM memb GROUP BY group_id
      |)
      |SELECT f.group_id, f.cid, f.n_members, MIN(m.node) AS survivor_id,
      |       f.far_dist, f.n_members - 1 AS n_dropped
      |FROM memb m JOIN far f ON m.group_id = f.group_id AND m.dist = f.far_dist
      |GROUP BY f.group_id, f.cid, f.n_members, f.far_dist
      |ORDER BY f.group_id""".stripMargin
  }

  /** t36 mirror: the same integer conditional-probability arithmetic —
    * c12·10⁶ // c1 per distinct (doc,bigram), occurrence-weighted mean
    * by integer division. No floats anywhere, so no libm/order issues. */
  /** t36's score chain, ending in `scores(doc_id, n_bigrams,
    * lm_score_ppm)` — shared verbatim by t36 and t43 (one scoring
    * definition, like the Spark side's [[TextAnalysis.t36Scores]]). */
  private val t36ScoreCtes: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS words
      |  FROM documents
      |), d2 AS (
      |  SELECT doc_id, words FROM d WHERE len(words) >= 2
      |), bg AS (
      |  -- scalar-context generate_series: the table-function form
      |  -- cannot take lateral column bounds in DuckDB 1.0
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(words) - 1),
      |         i -> {'w1': words[i], 'w2': words[i + 1]})) AS z
      |  FROM d2
      |), dbg AS (
      |  SELECT doc_id, z.w1 AS w1, z.w2 AS w2, COUNT(*) AS n
      |  FROM bg GROUP BY 1, 2, 3
      |), sc AS (
      |  SELECT doc_id, n,
      |         SUM(n) OVER (PARTITION BY w1, w2) AS c12,
      |         SUM(n) OVER (PARTITION BY w1) AS c1
      |  FROM dbg
      |), s2 AS (
      |  SELECT doc_id, n, (c12 * 1000000) // c1 AS s_ppm FROM sc
      |), scores AS (
      |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
      |         CAST(SUM(n * s_ppm) // SUM(n) AS BIGINT) AS lm_score_ppm
      |  FROM s2 GROUP BY doc_id
      |)""".stripMargin

  private val t36Sql: String =
    s"""$t36ScoreCtes
      |SELECT doc_id, n_bigrams, lm_score_ppm FROM scores ORDER BY doc_id""".stripMargin

  // t43 mirror: the shared score chain + per-source interpolated
  // terciles (quantile_cont ≡ Spark percentile, the q10 device; 1/3
  // computed as an IEEE double from integer operands on both engines)
  // + the bucket CASE and the |sources|·3 rollup
  private val t43Sql: String =
    s"""$t36ScoreCtes, j AS (
      |  SELECT s.doc_id, d.source, s.n_bigrams, s.lm_score_ppm
      |  FROM scores s JOIN documents d USING (doc_id)
      |), th AS (
      |  SELECT source,
      |         quantile_cont(lm_score_ppm, CAST(1 AS DOUBLE) / 3) AS q13,
      |         quantile_cont(lm_score_ppm, CAST(2 AS DOUBLE) / 3) AS q23
      |  FROM j GROUP BY source
      |), b AS (
      |  SELECT j.source,
      |         CASE WHEN j.lm_score_ppm >= th.q23 THEN 'head'
      |              WHEN j.lm_score_ppm >= th.q13 THEN 'middle'
      |              ELSE 'tail' END AS bucket,
      |         j.n_bigrams, j.lm_score_ppm
      |  FROM j JOIN th USING (source)
      |), g AS (
      |  SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
      |         CAST(SUM(lm_score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm
      |  FROM b GROUP BY 1, 2
      |)
      |SELECT source, bucket, n_docs, n_bigrams, mean_score_ppm,
      |       CAST(n_docs * 10000 // SUM(n_docs) OVER (PARTITION BY source) AS BIGINT) AS share_pm
      |FROM g ORDER BY source, bucket""".stripMargin

  /** m35 mirror: DuckDB cannot slice blobs (the m33/m34 device), so the
    * chunk fingerprint is ph over the SAME uppercase-hex slice the
    * Spark-side [[graft.functions.TextHash.chunkFpsData]] hashes — identical int64
    * on both engines (identical even under a 60-bit collision, the d24
    * posting-hash device); chunk geometry is exact integer arithmetic. */
  private val m35Sql: String =
    s"""WITH p AS (
      |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
      |  FROM documents WHERE len(text) > 0
      |), c AS (
      |  SELECT doc_id, g.i AS idx,
      |         ${phSql("substr(hx, (g.i * cb) * 2 + 1, cb * 2)")} AS fp
      |  FROM (SELECT doc_id, hx, nb, (nb + 15) // 16 AS cb FROM p)
      |  CROSS JOIN generate_series(0, 15) AS g(i)
      |  WHERE g.i * cb < nb
      |), f AS (
      |  SELECT doc_id, idx, fp FROM (
      |    SELECT doc_id, idx, fp,
      |           COUNT(*) OVER (PARTITION BY idx, fp) AS dfc
      |    FROM c
      |  ) WHERE dfc <= 50
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM f a JOIN f b
      |  ON a.idx = b.idx AND a.fp = b.fp
      |  AND a.doc_id < b.doc_id
      |GROUP BY 1, 2
      |HAVING COUNT(*) >= 12
      |ORDER BY doc_a, doc_b""".stripMargin

  /** p63 mirror: the two-level prefix sum collapses to ONE window per
    * source ordered (bucket, okey, doc_id) — same global order, same
    * cumulative values, exact integers throughout. */
  private val p63Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split(COALESCE(text, ''), ' ')) AS BIGINT) AS n_tokens,
      |         ${phSql("'budget:' || doc_id")} % 64 AS bucket,
      |         ${phSql("'order:' || doc_id")} AS okey
      |  FROM documents WHERE source IS NOT NULL
      |), tot AS (
      |  SELECT SUM(n_tokens) AS tt, COUNT(DISTINCT source) AS ns FROM d
      |), cum AS (
      |  SELECT doc_id, source, n_tokens,
      |         SUM(n_tokens) OVER (PARTITION BY source
      |           ORDER BY bucket, okey, doc_id
      |           ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |  FROM d
      |)
      |SELECT source, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
      |FROM cum, tot WHERE cum_tokens <= tt // (2 * ns)
      |ORDER BY source, cum_tokens""".stripMargin

  /** s30/p62/st40 shared k-means chain. Mirrors Similarity's
    * kmeansModel/assignStep step-for-step in exact integer arithmetic:
    * the same floor(x·10⁶) quantization, the same min(d·100+cid)
    * encoded argmin, the same floor(sum/n) grid update — every value
    * BIGINT or an identical IEEE double op, so both engines produce
    * bit-identical assignments (no float-sum order dependence
    * anywhere). `trainPred` selects the training frame (the model),
    * `assignPred` the frame the final assignment runs over — equal for
    * s30/p62; standing vs arriving for st40's stream–static split. */
  private def kmeansChain(trainPred: String, assignPred: String): String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |         -- CAST to DOUBLE first: FLOAT * DECIMAL-literal stays
      |         -- float32 in DuckDB, which quantizes off-grid vs the
      |         -- Spark side's float64 product
      |         list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      |  FROM embeddings WHERE $trainPred
      |), init AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS cid, q AS cv
      |  FROM q ORDER BY vec_id LIMIT 16
      |), d1 AS (
      |  SELECT p.vec_id, c.cid,
      |         CAST(list_sum(list_transform(generate_series(1, 64),
      |           i -> (p.q[i] - c.cv[i]) * (p.q[i] - c.cv[i]))) AS BIGINT) AS d
      |  FROM q p CROSS JOIN init c
      |), a1 AS (
      |  SELECT vec_id, min(d * 100 + cid) AS k FROM d1 GROUP BY vec_id
      |), u1 AS (
      |  SELECT CAST(a.k % 100 AS INT) AS cid, g.i AS pos,
      |         SUM(p.q[g.i]) AS s, COUNT(*) AS n
      |  FROM a1 a JOIN q p USING (vec_id)
      |  CROSS JOIN generate_series(1, 64) AS g(i)
      |  GROUP BY 1, 2
      |), cv1 AS (
      |  SELECT cid, list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY pos) AS cv
      |  FROM u1 GROUP BY cid
      |), qa AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      |  FROM embeddings WHERE $assignPred
      |), d2 AS (
      |  SELECT p.vec_id, c.cid,
      |         CAST(list_sum(list_transform(generate_series(1, 64),
      |           i -> (p.q[i] - c.cv[i]) * (p.q[i] - c.cv[i]))) AS BIGINT) AS d
      |  FROM qa p CROSS JOIN cv1 c
      |), a2 AS (
      |  SELECT vec_id, min(d * 100 + cid) AS k FROM d2 GROUP BY vec_id
      |), asg AS (
      |  SELECT vec_id, CAST(k % 100 AS INT) AS cid, k // 100 AS dist FROM a2
      |)""".stripMargin

  private val kmeansCtes: String = kmeansChain("TRUE", "TRUE")

  private val st40Sql: String =
    s"""${kmeansChain("vec_id % 5 <> 0", "vec_id % 5 = 0")}
      |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_arrivals,
      |       MIN(dist) AS min_dist,
      |       CAST(SUM(dist) // COUNT(*) AS BIGINT) AS avg_dist
      |FROM asg GROUP BY cid ORDER BY cid""".stripMargin

  private val s30Sql: String =
    s"""$kmeansCtes
      |SELECT vec_id, cid, dist FROM asg ORDER BY vec_id""".stripMargin

  // st48 mirror — kmeansChain trains on the standing corpus and assigns
  // the arriving subset (st40's split); standing-side sufficient
  // statistics re-assign the training frame against cv1, both sides
  // merge per (cid, pos), and the updated centroid repeats s30's
  // floor(sum/count) on the union of populations. SUMs cast BIGINT (the
  // r8 HUGEINT lesson).
  private val st48Sql: String =
    s"""${kmeansChain("vec_id % 5 <> 0", "vec_id % 5 = 0")}, ds AS (
      |  SELECT p.vec_id, c.cid,
      |         CAST(list_sum(list_transform(generate_series(1, 64),
      |           i -> (p.q[i] - c.cv[i]) * (p.q[i] - c.cv[i]))) AS BIGINT) AS d
      |  FROM q p CROSS JOIN cv1 c
      |), as0 AS (
      |  SELECT vec_id, min(d * 100 + cid) AS k FROM ds GROUP BY vec_id
      |), su0 AS (
      |  SELECT CAST(a.k % 100 AS INT) AS cid, g.i AS pos,
      |         CAST(SUM(p.q[g.i]) AS BIGINT) AS s0, CAST(COUNT(*) AS BIGINT) AS n0
      |  FROM as0 a JOIN q p USING (vec_id)
      |  CROSS JOIN generate_series(1, 64) AS g(i)
      |  GROUP BY 1, 2
      |), su1 AS (
      |  SELECT a.cid, g.i AS pos,
      |         CAST(SUM(p.q[g.i]) AS BIGINT) AS s1, CAST(COUNT(*) AS BIGINT) AS n1
      |  FROM asg a JOIN qa p USING (vec_id)
      |  CROSS JOIN generate_series(1, 64) AS g(i)
      |  GROUP BY 1, 2
      |), oldc AS (
      |  SELECT cid, g.i AS pos, cv[g.i] AS old_i
      |  FROM cv1 CROSS JOIN generate_series(1, 64) AS g(i)
      |), mrg AS (
      |  SELECT o.cid, o.pos, o.old_i,
      |         COALESCE(su0.s0, 0) AS s0, COALESCE(su0.n0, 0) AS n0,
      |         COALESCE(su1.s1, 0) AS s1, COALESCE(su1.n1, 0) AS n1
      |  FROM oldc o
      |  LEFT JOIN su0 ON o.cid = su0.cid AND o.pos = su0.pos
      |  LEFT JOIN su1 ON o.cid = su1.cid AND o.pos = su1.pos
      |), nw AS (
      |  SELECT cid, old_i, n0, n1,
      |         CASE WHEN n0 + n1 = 0 THEN old_i
      |              ELSE CAST(floor(CAST(s0 + s1 AS DOUBLE) / (n0 + n1)) AS BIGINT)
      |         END AS new_i
      |  FROM mrg
      |)
      |SELECT cid, CAST(MAX(n0) AS BIGINT) AS n_standing,
      |       CAST(MAX(n1) AS BIGINT) AS n_arrivals,
      |       CAST(SUM((new_i - old_i) * (new_i - old_i)) AS BIGINT) AS shift2,
      |       CAST(SUM(new_i) AS BIGINT) AS new_sum
      |FROM nw GROUP BY cid ORDER BY cid""".stripMargin

  /** s32 mirror — the PQ chain restated: same floor(x·10⁶) grid, same
    * subvector slices, same min(d·100+cid) argmin, same floor(sum/n)
    * Lloyd update, same dense renumber; ADC is the relational form
    * (codes ⋈ distance table, summed) — identical values to the Spark
    * side's per-row table lookups. */
  /** The PQ chain CTEs (grid → subvectors → trained codebooks →
    * corpus codes → per-query distance tables) shared by s32 and s33 —
    * ends in `enc(vec_id, m, code)` and `dtab(query_id, m, cid, d)`.
    * Composes after a WITH that may already hold other CTEs. */
  private val pqCtes: String =
    s"""q AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      |  FROM embeddings
      |), sub AS (
      |  SELECT vec_id, g.m, q[g.m * 8 + 1 : g.m * 8 + 8] AS sq
      |  FROM q CROSS JOIN generate_series(0, 7) AS g(m)
      |), init AS (
      |  SELECT g.m, c.cid, c.q[g.m * 8 + 1 : g.m * 8 + 8] AS cv
      |  FROM (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS cid, q
      |        FROM q ORDER BY vec_id LIMIT 16) c
      |  CROSS JOIN generate_series(0, 7) AS g(m)
      |), d1 AS (
      |  SELECT s.vec_id, s.m, i.cid,
      |         CAST(list_sum(list_transform(generate_series(1, 8),
      |           j -> (s.sq[j] - i.cv[j]) * (s.sq[j] - i.cv[j]))) AS BIGINT) AS d
      |  FROM sub s JOIN init i ON s.m = i.m
      |), a1 AS (
      |  SELECT vec_id, m, CAST(min(d * 100 + cid) % 100 AS INT) AS cid
      |  FROM d1 GROUP BY vec_id, m
      |), u1 AS (
      |  SELECT s.m, a.cid, g.j AS pos, SUM(s.sq[g.j]) AS sm, COUNT(*) AS n
      |  FROM a1 a JOIN sub s ON a.vec_id = s.vec_id AND a.m = s.m
      |  CROSS JOIN generate_series(1, 8) AS g(j)
      |  GROUP BY 1, 2, 3
      |), cv1 AS (
      |  SELECT m, cid, list(CAST(floor(CAST(sm AS DOUBLE) / n) AS BIGINT) ORDER BY pos) AS cv
      |  FROM u1 GROUP BY m, cid
      |), cb AS (
      |  SELECT m, CAST(row_number() OVER (PARTITION BY m ORDER BY cid) AS INT) AS cid, cv
      |  FROM cv1
      |), enc AS (
      |  SELECT vec_id, m, CAST(min(d * 100 + cid) % 100 AS INT) AS code FROM (
      |    SELECT s.vec_id, s.m, c.cid,
      |           CAST(list_sum(list_transform(generate_series(1, 8),
      |             j -> (s.sq[j] - c.cv[j]) * (s.sq[j] - c.cv[j]))) AS BIGINT) AS d
      |    FROM sub s JOIN cb c ON s.m = c.m
      |  ) GROUP BY vec_id, m
      |), dtab AS (
      |  SELECT s.vec_id AS query_id, s.m, c.cid,
      |         CAST(list_sum(list_transform(generate_series(1, 8),
      |           j -> (s.sq[j] - c.cv[j]) * (s.sq[j] - c.cv[j]))) AS BIGINT) AS d
      |  FROM sub s JOIN cb c ON s.m = c.m
      |  WHERE s.vec_id < 10
      |)""".stripMargin

  /** s33 mirror — IVF-PQ composed from the SAME fragments the
    * standalone oracles use: ivfRankCtes bounds candidates (s28's cell
    * join), pqCtes scores them (s32's codes ⋈ distance tables). */
  private lazy val s33Sql: String =
    s"""$ivfRankCtes, $pqCtes, cand AS (
      |  SELECT qq.vec_id AS query_id, c2.vec_id AS neighbor_id
      |  FROM (SELECT vec_id, c FROM rk WHERE rn <= $IvfProbes AND vec_id < 10) qq
      |  JOIN (SELECT vec_id, c FROM rk WHERE rn = 1) c2
      |    ON qq.c = c2.c AND qq.vec_id <> c2.vec_id
      |), ap AS (
      |  SELECT cand.query_id, cand.neighbor_id, CAST(SUM(t.d) AS BIGINT) AS approx_d
      |  FROM cand
      |  JOIN enc e2 ON cand.neighbor_id = e2.vec_id
      |  JOIN dtab t ON e2.m = t.m AND e2.code = t.cid AND t.query_id = cand.query_id
      |  GROUP BY 1, 2
      |), ncd AS (
      |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand GROUP BY 1
      |), ar AS (
      |  SELECT query_id, neighbor_id,
      |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx_d, neighbor_id) AS rnk
      |  FROM ap
      |), ex AS (
      |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         CAST(list_sum(list_transform(generate_series(1, 64),
      |           j -> (qq.q[j] - c.q[j]) * (qq.q[j] - c.q[j]))) AS BIGINT) AS exact_d
      |  FROM q qq JOIN q c ON qq.vec_id <> c.vec_id
      |  WHERE qq.vec_id < 10
      |), er AS (
      |  SELECT query_id, neighbor_id,
      |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY exact_d, neighbor_id) AS rnk
      |  FROM ex
      |), hits AS (
      |  SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
      |  FROM ar a JOIN er e3 ON a.query_id = e3.query_id AND a.neighbor_id = e3.neighbor_id
      |  WHERE a.rnk <= 5 AND e3.rnk <= 5
      |  GROUP BY 1
      |)
      |SELECT ncd.query_id, ncd.n_candidates,
      |       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
      |       CAST(COALESCE(h.n_hit, 0) * 2000 AS BIGINT) AS recall_pm
      |FROM ncd LEFT JOIN hits h ON ncd.query_id = h.query_id
      |ORDER BY ncd.query_id""".stripMargin

  private val s32Sql: String =
    s"""WITH $pqCtes, ap AS (
      |  SELECT t.query_id, e.vec_id AS neighbor_id, CAST(SUM(t.d) AS BIGINT) AS approx_d
      |  FROM enc e JOIN dtab t ON e.m = t.m AND e.code = t.cid
      |  WHERE t.query_id <> e.vec_id
      |  GROUP BY 1, 2
      |), ar AS (
      |  SELECT query_id, neighbor_id, approx_d,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |                                 ORDER BY approx_d, neighbor_id) AS INT) AS rnk
      |  FROM ap
      |), ex AS (
      |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         CAST(list_sum(list_transform(generate_series(1, 64),
      |           j -> (qq.q[j] - c.q[j]) * (qq.q[j] - c.q[j]))) AS BIGINT) AS exact_d
      |  FROM q qq JOIN q c ON qq.vec_id <> c.vec_id
      |  WHERE qq.vec_id < 10
      |), er AS (
      |  SELECT query_id, neighbor_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |                                 ORDER BY exact_d, neighbor_id) AS INT) AS rnk
      |  FROM ex
      |), hits AS (
      |  SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
      |  FROM ar a JOIN er e ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      |  WHERE a.rnk <= 5 AND e.rnk <= 5
      |  GROUP BY a.query_id
      |)
      |SELECT a.query_id, a.neighbor_id AS nn_approx, a.approx_d AS nn_approx_d,
      |       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
      |       CAST(COALESCE(h.n_hit, 0) * 2000 AS BIGINT) AS recall_pm
      |FROM ar a LEFT JOIN hits h ON a.query_id = h.query_id
      |WHERE a.rnk = 1
      |ORDER BY a.query_id""".stripMargin

  // mirror of Similarity.s34SqAnn: same per-dim (lo, hi) bounds, the
  // same exact-integer affine round-trip x̂ = lo + ((x−lo)·255 div
  // span)·span div 255 with the span-0 guard, same ranking/recall tail
  private val s34Sql: String = {
    val los = (1 to 64).map(i => s"MIN(q[$i])").mkString(", ")
    val his = (1 to 64).map(i => s"MAX(q[$i])").mkString(", ")
    s"""WITH q AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      |  FROM embeddings
      |), st AS (
      |  SELECT list_value($los) AS lo, list_value($his) AS hi FROM q
      |), xh AS (
      |  SELECT vec_id, list_transform(generate_series(1, 64), i ->
      |           lo[i] + ((q.q[i] - lo[i]) * 255 // GREATEST(1, hi[i] - lo[i]))
      |             * GREATEST(1, hi[i] - lo[i]) // 255) AS xhat
      |  FROM q, st
      |), qs AS (
      |  SELECT vec_id AS query_id, q AS qv FROM q WHERE vec_id < 10
      |), ap AS (
      |  SELECT query_id, x.vec_id AS neighbor_id,
      |         CAST(list_sum(list_transform(generate_series(1, 64),
      |           i -> (x.xhat[i] - qv[i]) * (x.xhat[i] - qv[i]))) AS BIGINT) AS approx_d
      |  FROM xh x, qs WHERE x.vec_id <> query_id
      |), ar AS (
      |  SELECT query_id, neighbor_id, approx_d,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |                                 ORDER BY approx_d, neighbor_id) AS INT) AS rnk
      |  FROM ap
      |), ex AS (
      |  SELECT query_id, c.vec_id AS neighbor_id,
      |         CAST(list_sum(list_transform(generate_series(1, 64),
      |           j -> (qv[j] - c.q[j]) * (qv[j] - c.q[j]))) AS BIGINT) AS exact_d
      |  FROM q c, qs WHERE c.vec_id <> query_id
      |), er AS (
      |  SELECT query_id, neighbor_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |                                 ORDER BY exact_d, neighbor_id) AS INT) AS rnk
      |  FROM ex
      |), hits AS (
      |  SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
      |  FROM ar a JOIN er e ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      |  WHERE a.rnk <= 5 AND e.rnk <= 5
      |  GROUP BY a.query_id
      |)
      |SELECT a.query_id, a.neighbor_id AS nn_approx, a.approx_d AS nn_approx_d,
      |       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
      |       CAST(COALESCE(h.n_hit, 0) * 2000 AS BIGINT) AS recall_pm
      |FROM ar a LEFT JOIN hits h ON a.query_id = h.query_id
      |WHERE a.rnk = 1
      |ORDER BY a.query_id""".stripMargin
  }

  // mirror of Similarity.s31Silhouette: b(i) = min distance over the
  // OTHER centroids from the same d2 all-pairs grain the assignment
  // used; identical integer permyriad arithmetic
  private val s31Sql: String =
    s"""$kmeansCtes, sil AS (
      |  SELECT a.vec_id, a.cid, a.dist AS a2, MIN(d.d) AS b2
      |  FROM asg a JOIN d2 d ON a.vec_id = d.vec_id AND d.cid <> a.cid
      |  GROUP BY 1, 2, 3
      |), sp AS (
      |  SELECT cid, (b2 - a2) * 10000 // GREATEST(GREATEST(a2, b2), 1) AS s_pm
      |  FROM sil
      |)
      |SELECT cid, COUNT(*) AS n_members,
      |       CAST(SUM(s_pm) // COUNT(*) AS BIGINT) AS mean_sil_pm,
      |       MIN(s_pm) AS min_sil_pm, MAX(s_pm) AS max_sil_pm
      |FROM sp GROUP BY cid ORDER BY cid""".stripMargin

  private val p62Sql: String =
    s"""$kmeansCtes
      |SELECT cid, rnk, vec_id, dist FROM (
      |  SELECT cid,
      |         CAST(row_number() OVER (PARTITION BY cid ORDER BY dist, vec_id) AS BIGINT) AS rnk,
      |         vec_id, dist
      |  FROM asg
      |) WHERE rnk <= 50
      |ORDER BY cid, rnk""".stripMargin

  private val s26Sql: String =
    s"""$vecCte, p AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         ROUND(${dotSql("q", "c")} / (q.norm * c.norm), 6) AS cos_sim
      |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 10
      |), r AS (
      |  SELECT query_id, neighbor_id, cos_sim,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |                                 ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rnk
      |  FROM p
      |)
      |SELECT query_id, neighbor_id, rnk, cos_sim FROM r WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin

  // mirror of Similarity.s36HashVectors: same ph-bucket/sign arithmetic,
  // the dot restated relationally on the (doc, bucket) grain (exact
  // BIGINT — component values are exact in both engines), the same
  // zero-norm exclusion and s26 rank tail
  /** The s36 rank chain ending in `$rName(query_id, neighbor_id,
    * cos_sim, rnk)` — shared by s36 (top-5) and s37 (fusion leg at
    * depth [[Similarity.RrfDepth]]), mirroring the shared Scala core. */
  private def s36ChainCtes(rName: String): String = {
    import graft.functions.PortableHash.HashVecDim
    s"""toks AS (
      |  SELECT doc_id, ${phSql("w")} AS h FROM (
      |    SELECT doc_id, unnest(string_split(COALESCE(text, ''), ' ')) AS w
      |    FROM documents)
      |), hv AS (
      |  SELECT doc_id, h % $HashVecDim AS b,
      |         CAST(SUM(CASE WHEN (h // $HashVecDim) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS c
      |  FROM toks GROUP BY 1, 2
      |), nrm AS (
      |  SELECT doc_id, sqrt(CAST(SUM(c * c) AS DOUBLE)) AS norm
      |  FROM hv GROUP BY doc_id
      |), dots AS (
      |  SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
      |         CAST(SUM(a.c * b.c) AS BIGINT) AS dot
      |  FROM hv a JOIN hv b ON a.b = b.b AND b.doc_id <> a.doc_id
      |  WHERE a.doc_id < 10
      |  GROUP BY 1, 2
      |), p AS (
      |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
      |         ROUND(CAST(COALESCE(d.dot, 0) AS DOUBLE)
      |               / NULLIF(q.norm * c.norm, 0), 6) AS cos_sim
      |  FROM nrm q JOIN nrm c ON c.doc_id <> q.doc_id
      |       LEFT JOIN dots d ON d.query_id = q.doc_id AND d.neighbor_id = c.doc_id
      |  WHERE q.doc_id < 10
      |), $rName AS (
      |  SELECT query_id, neighbor_id, cos_sim,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |                                 ORDER BY cos_sim DESC NULLS LAST, neighbor_id) AS INT) AS rnk
      |  FROM p
      |)""".stripMargin
  }

  private val s36Sql: String =
    s"""WITH ${s36ChainCtes("r")}
      |SELECT query_id, neighbor_id, rnk, cos_sim FROM r WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin

  // s38 mirror — same s26 ranking at pool depth, ppm scaling, and the
  // K greedy steps unrolled as generated CTEs (selu_i accumulates the
  // selection; each step inner-joins the max-sim penalty and picks the
  // integer-MMR argmax with the cand_id tie-break)
  private val s38Sql: String = {
    import Similarity.{MmrPool, MmrK, MmrLambdaNum}
    val lam = MmrLambdaNum; val lamC = 10 - MmrLambdaNum
    val steps = (2 to MmrK).map { i =>
      s"""sel$i AS (
        |  SELECT query_id, cand_id, $i AS step, rel_ppm, pen_ppm FROM (
        |    SELECT c.query_id, c.cand_id, c.rel_ppm, p.pen_ppm,
        |           ROW_NUMBER() OVER (PARTITION BY c.query_id
        |             ORDER BY c.rel_ppm * $lam - p.pen_ppm * $lamC DESC, c.cand_id) AS rk
        |    FROM cand c
        |    JOIN (SELECT s.query_id, s.ca AS cand_id, MAX(s.sim_ppm) AS pen_ppm
        |          FROM sims s JOIN selu${i - 1} t
        |            ON s.query_id = t.query_id AND s.cb = t.cand_id
        |          GROUP BY 1, 2) p
        |      ON p.query_id = c.query_id AND p.cand_id = c.cand_id
        |    WHERE NOT EXISTS (SELECT 1 FROM selu${i - 1} t2
        |                      WHERE t2.query_id = c.query_id AND t2.cand_id = c.cand_id)
        |  ) WHERE rk = 1
        |), selu$i AS (
        |  SELECT * FROM selu${i - 1} UNION ALL SELECT * FROM sel$i
        |)""".stripMargin
    }.mkString(", ")
    s"""$vecCte, p0 AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         ROUND(${dotSql("q", "c")} / (q.norm * c.norm), 6) AS cos_sim
      |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 10
      |), r0 AS (
      |  SELECT query_id, neighbor_id, cos_sim,
      |         ROW_NUMBER() OVER (PARTITION BY query_id
      |                            ORDER BY cos_sim DESC, neighbor_id) AS rnk
      |  FROM p0
      |), cand AS (
      |  SELECT query_id, neighbor_id AS cand_id,
      |         CAST(FLOOR(cos_sim * 1000000 + 0.5) AS BIGINT) AS rel_ppm
      |  FROM r0 WHERE rnk <= $MmrPool
      |), sims AS (
      |  SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
      |         CAST(FLOOR(ROUND(${dotSql("va", "vb")} / (va.norm * vb.norm), 6)
      |              * 1000000 + 0.5) AS BIGINT) AS sim_ppm
      |  FROM cand a
      |  JOIN cand b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
      |  JOIN n va ON va.vec_id = a.cand_id
      |  JOIN n vb ON vb.vec_id = b.cand_id
      |), sel1 AS (
      |  SELECT query_id, cand_id, 1 AS step, rel_ppm, CAST(0 AS BIGINT) AS pen_ppm
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |                    ORDER BY rel_ppm DESC, cand_id) AS rk FROM cand)
      |  WHERE rk = 1
      |), selu1 AS (
      |  SELECT * FROM sel1
      |), $steps
      |SELECT query_id, CAST(step AS BIGINT) AS step, cand_id AS neighbor_id,
      |       rel_ppm, pen_ppm,
      |       rel_ppm * $lam - pen_ppm * $lamC AS mmr_score
      |FROM selu$MmrK
      |ORDER BY query_id, step""".stripMargin
  }

  private val s27Sql: String = {
    val bucket = (0 until 8).map { p =>
      val planeDot = s"list_sum(list_transform(generate_series(1, 64), " +
        s"j -> v[j] * CAST((${1315423911L * p} + 2654435761 * j) % 1000003 - 501001 AS DOUBLE)))"
      s"(CASE WHEN $planeDot >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val probeList = ("bucket" +: (0 until NumPlanes).map(p => s"xor(bucket, ${1L << p})"))
      .mkString(", ")
    s"""$vecCte, bk AS (
      |  SELECT vec_id, v, norm, CAST($bucket AS BIGINT) AS bucket FROM n
      |), qp AS (
      |  -- multi-probe: own bucket + each hamming-1 neighbor (query side only)
      |  SELECT vec_id, v, norm, unnest([$probeList]) AS probe
      |  FROM bk WHERE vec_id < 10
      |), p AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         ROUND(${dotSql("q", "c")} / (q.norm * c.norm), 6) AS cos_sim
      |  FROM qp q JOIN bk c ON q.probe = c.bucket AND q.vec_id <> c.vec_id
      |), r AS (
      |  SELECT query_id, neighbor_id, cos_sim,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |                                 ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rnk
      |  FROM p
      |)
      |SELECT query_id, neighbor_id, rnk, cos_sim FROM r WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin
  }

  // s28 mirror: centroid weights/norms from the same integer formula as
  // graft_ivf_cells; norm² is an exact int64 sum so cells agree exactly;
  // ties rank the lower cell index first on both engines
  /** CTE chain ending in `rk(vec_id, v, norm, c, rn)` — every vector's
    * IVF cells ranked by centroid score; rn=1 is the home cell. The cell
    * relation must alias t(c). Shared by s28/s29 (fixed 16-cell query
    * index) and d28 (corpus-scaled nlist). */
  private def ivfRankCtesFor(cellSrc: String): String = {
    val wSql = s"(($HplaneA * (t.c + $IvfOffset) + $HplaneB * j) % $HplaneMod) - $HplaneShift"
    s"""$vecCte, sc AS (
      |  SELECT vec_id, v, norm, t.c AS c,
      |         list_sum(list_transform(generate_series(1, 64),
      |           j -> v[j] * CAST($wSql AS DOUBLE)))
      |           / sqrt(CAST(list_sum(list_transform(generate_series(1, 64),
      |               j -> ($wSql) * ($wSql))) AS DOUBLE)) AS score
      |  FROM n, $cellSrc
      |), rk AS (
      |  SELECT vec_id, v, norm, c,
      |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, c) AS rn
      |  FROM sc
      |)""".stripMargin
  }
  private val ivfRankCtes: String = ivfRankCtesFor(s"range(0, $IvfCells) t(c)")

  /** d28's corpus-scaled cell count, derived from the data in SQL —
    * identical to the Spark side's max(16, ceil(sqrt(count()))). */
  private val d28CellSrc: String =
    """(SELECT unnest(generate_series(0,
      |    (SELECT GREATEST(16, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM embeddings) - 1)) AS c) t""".stripMargin

  /** CTE chain ending in `p(query_id, neighbor_id, cos_sim)` — the IVF
    * cell-join candidates with exact cosine, shared by s28 (top-3
    * listing) and s29 (re-rank + recall eval). */
  private val s28CandCtes: String = {
    s"""$ivfRankCtes, corp AS (
      |  SELECT vec_id, v, norm, c AS cell FROM rk WHERE rn = 1
      |), qp AS (
      |  SELECT vec_id, v, norm, c AS cell FROM rk WHERE rn <= $IvfProbes AND vec_id < 10
      |), p AS (
      |  SELECT q.vec_id AS query_id, c2.vec_id AS neighbor_id,
      |         ROUND(${dotSql("q", "c2")} / (q.norm * c2.norm), 6) AS cos_sim
      |  FROM qp q JOIN corp c2 ON q.cell = c2.cell AND q.vec_id <> c2.vec_id
      |)""".stripMargin
  }

  private val s28Sql: String =
    s"""$s28CandCtes, r AS (
      |  SELECT query_id, neighbor_id, cos_sim,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |                                 ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rnk
      |  FROM p
      |)
      |SELECT query_id, neighbor_id, rnk, cos_sim FROM r WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  private val s29Sql: String =
    s"""$s28CandCtes, nc AS (
      |  SELECT query_id, COUNT(*) AS n_candidates FROM p GROUP BY query_id
      |), ar AS (
      |  SELECT query_id, neighbor_id,
      |         ROW_NUMBER() OVER (PARTITION BY query_id
      |                            ORDER BY cos_sim DESC, neighbor_id) AS rnk
      |  FROM p
      |), approx AS (
      |  SELECT query_id, neighbor_id FROM ar WHERE rnk <= 5
      |), ex0 AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         ROUND(${dotSql("q", "c")} / (q.norm * c.norm), 6) AS cos_sim
      |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 10
      |), exr AS (
      |  SELECT query_id, neighbor_id,
      |         ROW_NUMBER() OVER (PARTITION BY query_id
      |                            ORDER BY cos_sim DESC, neighbor_id) AS rnk
      |  FROM ex0
      |), hits AS (
      |  SELECT a.query_id, COUNT(*) AS n_hit
      |  FROM approx a JOIN (SELECT query_id, neighbor_id FROM exr WHERE rnk <= 5) e
      |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      |  GROUP BY a.query_id
      |)
      |SELECT nc.query_id, nc.n_candidates,
      |       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
      |       ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(5 AS DOUBLE), 2) AS recall_at_5
      |FROM nc LEFT JOIN hits h ON nc.query_id = h.query_id
      |ORDER BY 1""".stripMargin

  private def inList(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString("(", ", ", ")")
  private val stopEn = Seq("the", "a", "of", "and", "to")
  private val stopDe = Seq("der", "die", "das", "und", "ist")
  private val stopEs = Seq("el", "la", "los", "que", "una")
  private val stopFr = Seq("le", "les", "des", "est", "une")
  private val stopZh = Seq("的", "是", "了", "在", "和")

  private val t28Ctes: String =
    s"""WITH w AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
      |), s AS (
      |  SELECT doc_id, lang,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopEn)})) AS BIGINT) AS s_en,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopDe)})) AS BIGINT) AS s_de,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopEs)})) AS BIGINT) AS s_es,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopFr)})) AS BIGINT) AS s_fr,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopZh)})) AS BIGINT) AS s_zh
      |  FROM w
      |), c AS (
      |  SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
      |         CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |              WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |              WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |              WHEN s_fr >= s_zh THEN 'fr'
      |              ELSE 'zh' END AS pred_lang
      |  FROM s
      |)""".stripMargin

  private val t28Sql: String =
    s"""$t28Ctes
      |SELECT doc_id, pred_lang, lang AS actual_lang,
      |       CAST(pred_lang = lang AS INT) AS correct,
      |       s_en, s_de, s_es, s_fr, s_zh
      |FROM c ORDER BY doc_id""".stripMargin

  // mirror of TextAnalysis.t38LangidEval: the same prediction CTE (one
  // definition family with t28), confusion grain + row/column shares
  private val t38Sql: String =
    s"""$t28Ctes, cm AS (
      |  SELECT lang AS actual_lang, pred_lang, COUNT(*) AS n_docs
      |  FROM c GROUP BY 1, 2
      |)
      |SELECT actual_lang, pred_lang, n_docs,
      |       CAST(n_docs * 10000 // SUM(n_docs) OVER (PARTITION BY actual_lang) AS BIGINT) AS actual_share_pm,
      |       CAST(n_docs * 10000 // SUM(n_docs) OVER (PARTITION BY pred_lang) AS BIGINT) AS pred_share_pm
      |FROM cm ORDER BY actual_lang, pred_lang""".stripMargin

  // mirror of TextAnalysis.t39DriftCore: the same prediction CASE (one
  // definition family with t28), d27's % 5 arrival split, exact integer
  // permyriad shares and the TVD = Σ|Δ|/2 total row per dimension
  private val t39Sql: String =
    s"""WITH w AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS words FROM documents
      |), s AS (
      |  SELECT doc_id, source,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopEn)})) AS BIGINT) AS s_en,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopDe)})) AS BIGINT) AS s_de,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopEs)})) AS BIGINT) AS s_es,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopFr)})) AS BIGINT) AS s_fr,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopZh)})) AS BIGINT) AS s_zh
      |  FROM w
      |), c AS (
      |  SELECT doc_id, source,
      |         CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |              WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |              WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |              WHEN s_fr >= s_zh THEN 'fr'
      |              ELSE 'zh' END AS pred_lang
      |  FROM s
      |), u AS (
      |  SELECT doc_id % 5 = 0 AS is_new, 'source' AS dim, source AS value FROM c
      |  UNION ALL
      |  SELECT doc_id % 5 = 0, 'lang', pred_lang FROM c
      |), g AS (
      |  SELECT dim, value,
      |         CAST(SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS old_n,
      |         CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS new_n
      |  FROM u GROUP BY 1, 2
      |), sh AS (
  |  SELECT dim, value, old_n, new_n,
      |         CAST(CASE WHEN SUM(old_n) OVER (PARTITION BY dim) = 0 THEN 0
      |              ELSE old_n * 10000 // SUM(old_n) OVER (PARTITION BY dim) END AS BIGINT) AS old_share_pm,
      |         CAST(CASE WHEN SUM(new_n) OVER (PARTITION BY dim) = 0 THEN 0
      |              ELSE new_n * 10000 // SUM(new_n) OVER (PARTITION BY dim) END AS BIGINT) AS new_share_pm
      |  FROM g
      |), d AS (
      |  SELECT dim, value, old_n, new_n, old_share_pm, new_share_pm,
      |         ABS(old_share_pm - new_share_pm) AS delta_pm
      |  FROM sh
      |)
      |SELECT * FROM d
      |UNION ALL
      |SELECT dim, '__TOTAL__', CAST(SUM(old_n) AS BIGINT), CAST(SUM(new_n) AS BIGINT),
      |       CAST(10000 AS BIGINT), CAST(10000 AS BIGINT),
      |       CAST(SUM(delta_pm) // 2 AS BIGINT)
      |FROM d GROUP BY dim
      |ORDER BY dim, value""".stripMargin

  private val t29Sql: String =
    s"""WITH w AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS words FROM documents
      |), m AS (
      |  SELECT doc_id,
      |         CAST(length(text) AS BIGINT) AS n_chars_m,
      |         CAST(len(words) AS BIGINT) AS n_words,
      |         CAST(length(text) - (len(words) - 1) AS BIGINT) AS n_letters,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopEn)})) AS BIGINT) AS n_stop
      |  FROM w
      |), r AS (
      |  SELECT doc_id, n_chars_m, n_words,
      |         ROUND(CAST(n_letters AS DOUBLE) / CAST(n_words AS DOUBLE), 4) AS avg_word_len,
      |         ROUND(CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE), 4) AS stop_ratio
      |  FROM m
      |)
      |SELECT doc_id, n_chars_m, n_words, avg_word_len, stop_ratio,
      |       CAST(FLOOR((0.3 * LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0)
      |           + 0.4 * (1.0 - stop_ratio)
      |           + 0.3 * LEAST(avg_word_len / 8.0, 1.0)) * 10000.0 + 0.5) AS BIGINT) AS score_x10000,
      |       CAST(CAST(FLOOR((0.3 * LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0)
      |           + 0.4 * (1.0 - stop_ratio)
      |           + 0.3 * LEAST(avg_word_len / 8.0, 1.0)) * 10000.0 + 0.5) AS BIGINT) >= 5000 AS INT) AS quality_ok
      |FROM r ORDER BY doc_id""".stripMargin

  /** p65 mirror — the dataset card restated on the SAME column chains
    * as the t28/t29/d21/t30 oracles (stop-profile prediction, rounded
    * ratio score, md5 content hash, whitespace tokens), rolled up per
    * source in exact integer permyriads. */
  private lazy val p65Sql: String =
    s"""WITH w AS (
      |  SELECT doc_id, source, lang, text, string_split(text, ' ') AS words FROM documents
      |), m AS (
      |  SELECT source, lang, text,
      |         CAST(len(words) AS BIGINT) AS n_words,
      |         CAST(length(text) - (len(words) - 1) AS BIGINT) AS n_letters,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopEn)})) AS BIGINT) AS s_en,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopDe)})) AS BIGINT) AS s_de,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopEs)})) AS BIGINT) AS s_es,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopFr)})) AS BIGINT) AS s_fr,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopZh)})) AS BIGINT) AS s_zh
      |  FROM w
      |), r AS (
      |  SELECT source, lang, text, n_words,
      |         ROUND(CAST(n_letters AS DOUBLE) / CAST(n_words AS DOUBLE), 4) AS avg_word_len,
      |         ROUND(CAST(s_en AS DOUBLE) / CAST(n_words AS DOUBLE), 4) AS stop_ratio,
      |         CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |              WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |              WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |              WHEN s_fr >= s_zh THEN 'fr'
      |              ELSE 'zh' END AS pred_lang
      |  FROM m
      |), sc AS (
      |  SELECT source, lang, pred_lang, n_words, md5(text) AS h,
      |         CAST(FLOOR((0.3 * LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0)
      |             + 0.4 * (1.0 - stop_ratio)
      |             + 0.3 * LEAST(avg_word_len / 8.0, 1.0)) * 10000.0 + 0.5) AS BIGINT) AS score
      |  FROM r
      |)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(n_words) AS BIGINT) AS n_tokens,
      |       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_contents,
      |       CAST((COUNT(*) - COUNT(DISTINCT h)) * 10000 // COUNT(*) AS BIGINT) AS dup_pm,
      |       CAST(SUM(score) // COUNT(*) AS BIGINT) AS mean_score_x10000,
      |       CAST(SUM(CASE WHEN score >= 5000 THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS quality_ok_pm,
      |       CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS lang_match_pm
      |FROM sc GROUP BY source ORDER BY source""".stripMargin

  private val t30Sql: String =
    """WITH d AS (
      |  SELECT source, doc_id, text, string_split(text, ' ') AS words FROM documents
      |), ps AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |         CAST(SUM(len(words)) AS BIGINT) AS total_tokens,
      |         CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      |         ROUND(AVG(len(words)), 4) AS avg_tokens
      |  FROM d GROUP BY source
      |), v AS (
      |  SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct_tokens
      |  FROM (SELECT source, unnest(words) AS w FROM d) GROUP BY source
      |)
      |SELECT ps.source AS source, n_docs, total_tokens, total_chars, avg_tokens, n_distinct_tokens
      |FROM ps JOIN v ON ps.source = v.source
      |ORDER BY source""".stripMargin

  private val t31Sql: String =
    s"""SELECT ${phSql("array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')")} AS fp,
      |       COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
      |FROM documents
      |GROUP BY fp
      |ORDER BY fp""".stripMargin

  // mirror of TextAnalysis.t32Contamination: same ≥3-word gate, same
  // distinct-3-gram shingle hashes, same doc_id % 13 benchmark split,
  // same 0.2 flag threshold (cast to DOUBLE — a bare literal is DECIMAL
  // in DuckDB and would compare under decimal semantics)
  private val t32Sql: String =
    s"""WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3
      |), shl AS (
      |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words) - 2),
      |    i -> array_to_string(words[i:i+2], ' '))) AS shingles
      |  FROM w
      |), shx AS (
      |  SELECT doc_id, len(shingles) AS nsh, ${phSql("unnest(shingles)")} AS x
      |  FROM shl
      |), bench AS (
      |  SELECT DISTINCT x FROM shx WHERE doc_id % 13 = 0
      |), hits AS (
      |  SELECT c.doc_id, c.nsh, COUNT(b.x) AS n_hit
      |  FROM shx c LEFT JOIN bench b ON c.x = b.x
      |  WHERE c.doc_id % 13 <> 0
      |  GROUP BY 1, 2
      |)
      |SELECT doc_id, nsh, n_hit,
      |       ROUND(CAST(n_hit AS DOUBLE) / nsh, 4) AS overlap,
      |       CAST(ROUND(CAST(n_hit AS DOUBLE) / nsh, 4) >= CAST(0.2 AS DOUBLE) AS INT) AS contaminated
      |FROM hits
      |ORDER BY doc_id""".stripMargin

  // batch mirror of Streams.st38StreamCorpusAdmit: d27's corpus-index
  // checks without the within-batch leader (not streaming-expressible
  // deterministically — see the operator's scaladoc)
  private val st38Sql: String = {
    val m = Dedup.IncrementalBatchMod
    s"""WITH $d22BandsCtes, corpus_h AS (
      |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % $m <> 0
      |), near AS (
      |  SELECT DISTINCT bb.doc_id
      |  FROM bands bb JOIN (
      |    SELECT DISTINCT band_idx, band_key FROM bands WHERE doc_id % $m <> 0
      |  ) cb ON bb.band_idx = cb.band_idx AND bb.band_key = cb.band_key
      |  WHERE bb.doc_id % $m = 0
      |)
      |SELECT d.doc_id,
      |       CASE WHEN ch.h IS NOT NULL THEN 'exact_corpus'
      |            WHEN near.doc_id IS NOT NULL THEN 'near_corpus'
      |            ELSE 'admitted' END AS status
      |FROM documents d
      |     LEFT JOIN corpus_h ch ON md5(d.text) = ch.h
      |     LEFT JOIN near ON d.doc_id = near.doc_id
      |WHERE d.doc_id % $m = 0
      |ORDER BY 1""".stripMargin
  }

  // mirror of Dedup.d28EmbedCellDedup: same ranked-cell CTEs as s28,
  // corpus on home cell (rn=1), every vector probes rn<=2; pairs
  // canonicalized + DISTINCT (two probe routes can find the same pair)
  private val d28Sql: String =
    s"""${ivfRankCtesFor(d28CellSrc)}, home AS (
      |  SELECT vec_id, v, norm, c AS cell FROM rk WHERE rn = 1
      |), probe AS (
      |  SELECT vec_id, v, norm, c AS cell FROM rk WHERE rn <= $IvfProbes
      |), p0 AS (
      |  SELECT LEAST(a.vec_id, b.vec_id) AS vec_a,
      |         GREATEST(a.vec_id, b.vec_id) AS vec_b,
      |         ROUND(${dotSql("a", "b")} / (a.norm * b.norm), 6) AS cos_sim
      |  FROM probe a JOIN home b ON a.cell = b.cell AND a.vec_id <> b.vec_id
      |), p AS (
      |  SELECT DISTINCT vec_a, vec_b, cos_sim FROM p0
      |)
      |SELECT vec_a, vec_b, cos_sim FROM p
      |WHERE cos_sim >= CAST(${Dedup.CellDedupThreshold} AS DOUBLE)
      |ORDER BY vec_a, vec_b""".stripMargin

  // mirror of TextAnalysis.t33PiiScrub: identical footer synthesis and
  // patterns (shared Scala constants); DuckDB needs the 'g' flag where
  // Spark's regexp_replace is global by default, and counts via
  // len(regexp_extract_all)
  private val t33Sql: String = {
    val email = TextAnalysis.EmailPat
    val ssn = TextAnalysis.SsnPat
    val phone = TextAnalysis.PhonePat
    s"""WITH raw AS (
      |  SELECT source,
      |         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
      |         || CASE WHEN doc_id % 3 = 0
      |              THEN ' ssn ' || CAST(doc_id % 400 + 100 AS VARCHAR)
      |                   || '-' || CAST(doc_id % 89 + 10 AS VARCHAR)
      |                   || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |              ELSE '' END
      |         || CASE WHEN doc_id % 2 = 0
      |              THEN ' phone 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
      |              ELSE '' END AS raw
      |  FROM documents
      |), scrubbed AS (
      |  SELECT source, raw,
      |         CAST(len(regexp_extract_all(raw, '$email')) AS BIGINT) AS n_email,
      |         CAST(len(regexp_extract_all(raw, '$ssn')) AS BIGINT) AS n_ssn,
      |         CAST(len(regexp_extract_all(raw, '$phone')) AS BIGINT) AS n_phone,
      |         regexp_replace(regexp_replace(regexp_replace(raw,
      |           '$email', '<EMAIL>', 'g'),
      |           '$ssn', '<SSN>', 'g'),
      |           '$phone', '<PHONE>', 'g') AS clean
      |  FROM raw
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |       CAST(SUM(n_email) AS BIGINT) AS n_emails,
      |       CAST(SUM(n_ssn) AS BIGINT) AS n_ssns,
      |       CAST(SUM(n_phone) AS BIGINT) AS n_phones,
      |       CAST(SUM(length(raw) - length(clean)) AS BIGINT) AS chars_redacted,
      |       MIN(('0x' || substr(md5(clean), 1, 15))::BIGINT) AS content_witness
      |FROM scrubbed
      |GROUP BY source
      |ORDER BY source""".stripMargin
  }

  // mirror of TextAnalysis.t34Repetition: same >=2-word gate, 1-based
  // slice bigrams vs Spark's 0-based transform, integer permyriad
  // arithmetic and the same shared flag thresholds
  private val t34Sql: String =
    s"""WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2
      |), base AS (
      |  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
      |         CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct, words
      |  FROM w
      |), bg AS (
      |  SELECT doc_id, n_words, n_distinct,
      |         unnest(list_transform(generate_series(1, len(words) - 1),
      |           i -> array_to_string(words[i:i+1], ' '))) AS b
      |  FROM base
      |), bgc AS (
      |  SELECT doc_id, n_words, n_distinct, b, COUNT(*) AS c
      |  FROM bg GROUP BY 1, 2, 3, 4
      |), agg AS (
      |  SELECT doc_id, n_words, n_distinct,
      |         CAST(MAX(c) AS BIGINT) AS top_bigram_n,
      |         CAST(SUM(c) AS BIGINT) AS n_bigrams
      |  FROM bgc GROUP BY 1, 2, 3
      |)
      |SELECT doc_id, n_words, n_distinct,
      |       (n_words - n_distinct) * 10000 // n_words AS dup_word_pm,
      |       top_bigram_n * 10000 // n_bigrams AS top_bigram_pm,
      |       CAST((n_words - n_distinct) * 10000 // n_words >= ${TextAnalysis.DupWordFlagPm}
      |            OR top_bigram_n * 10000 // n_bigrams >= ${TextAnalysis.TopBigramFlagPm}
      |         AS INT) AS rep_flagged
      |FROM agg
      |ORDER BY doc_id""".stripMargin

  // mirror of Pipeline.p59ShardShuffle: same salted hash, shard mod,
  // per-shard rank
  private val p59Sql: String =
    s"""WITH k AS (
      |  SELECT doc_id,
      |         ${phSql("'shard:' || CAST(doc_id AS VARCHAR)")} AS k
      |  FROM documents
      |)
      |SELECT doc_id, CAST(k % ${Pipeline.NumShards} AS INT) AS shard,
      |       CAST(ROW_NUMBER() OVER (PARTITION BY k % ${Pipeline.NumShards}
      |                               ORDER BY k, doc_id) AS BIGINT) AS pos
      |FROM k
      |ORDER BY shard, pos""".stripMargin

  // mirror of Multimodal.m34PayloadResize: byte i of the resized payload
  // is source byte i*stride = hex chars [8i+1, 8i+2] of the uppercase
  // hex payload (DuckDB 1.0 cannot slice blobs — same device as m33);
  // the hash is md5 of the resized bytes' hex string on both engines
  // mirror of Multimodal.m36SampleAssembly: same %3 media-gap rule, the
  // natural embedding coverage (vec_id = doc_id), same status CASE and
  // per-(source, status) manifest in exact integers
  private val m36Sql: String =
    s"""WITH docs AS (
      |  SELECT doc_id, source, text FROM documents
      |), m AS (
      |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM docs WHERE doc_id % 3 <> 2
      |), e AS (
      |  SELECT vec_id AS doc_id, CAST(len(embedding) AS BIGINT) AS emb_dim
      |  FROM embeddings
      |), j AS (
      |  SELECT d.source, d.doc_id, m.n_bytes, e.emb_dim,
      |         CASE WHEN m.n_bytes IS NOT NULL AND e.emb_dim IS NOT NULL THEN 'complete'
      |              WHEN m.n_bytes IS NULL AND e.emb_dim IS NOT NULL THEN 'missing_media'
      |              WHEN m.n_bytes IS NOT NULL THEN 'missing_embedding'
      |              ELSE 'text_only' END AS status
      |  FROM docs d LEFT JOIN m USING (doc_id) LEFT JOIN e USING (doc_id)
      |)
      |SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_samples,
      |       CAST(SUM(COALESCE(n_bytes, 0)) AS BIGINT) AS media_bytes,
      |       CAST(SUM(COALESCE(emb_dim, 0)) AS BIGINT) AS emb_dims,
      |       MIN(doc_id) AS witness_id
      |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val m34Sql: String = {
    val s = Multimodal.ResizeStride
    s"""WITH b AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |         octet_length(encode(text)) AS n
      |  FROM documents WHERE length(text) > 0
      |), idx AS (
      |  SELECT doc_id, hx, n, unnest(generate_series(0, (n + ${s - 1}) // $s - 1)) AS i
      |  FROM b
      |), pieces AS (
      |  SELECT doc_id, n, i, substr(hx, ${2 * s} * i + 1, 2) AS hh
      |  FROM idx
      |)
      |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_bytes,
      |       CAST(COUNT(*) AS BIGINT) AS n_resized,
      |       md5(string_agg(hh, '' ORDER BY i)) AS resized_hash,
      |       CAST(SUM(('0x' || hh)::INT) AS BIGINT) AS byte_sum,
      |       'txt' AS meta_fmt
      |FROM pieces
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin
  }

  // first_byte is byte-oriented (first OCTET of the utf-8 payload, via a
  // hex-string prefix — DuckDB 1.0 can't slice blobs), matching Spark's
  // payload(0) & 0xff; ascii() would return the code POINT of the first
  // character and diverge on any non-ASCII-leading doc (ADVICE r1 #2)
  private val m32Sql: String =
    """SELECT doc_id,
      |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |       md5(text) AS content_hash,
      |       CASE WHEN length(text) = 0 THEN 0
      |            ELSE ('0x' || substr(hex(encode(text)), 1, 2))::INT END AS first_byte,
      |       n_chars AS meta_n_chars,
      |       'txt' AS meta_fmt
      |FROM documents ORDER BY doc_id""".stripMargin

  // exact mirror of Pipeline.p55CorpusClean — the langid/quality stages
  // reuse the t28/t29 arithmetic verbatim, the band stage the d22
  // generation, and the threshold comes from the same constant the
  // Spark plan uses
  // mirror of Pipeline.p58SeqPack: same per-source doc_id-ordered token
  // prefix sum, same integer chunk-boundary arithmetic (// is DuckDB's
  // integer floor division, DIV Spark's); chunk_idx is materialized in
  // its own CTE before any expression uses it (unnest expands in place
  // inside same-SELECT aliases — the r02 regression)
  private val p58Sql: String = {
    val L = Pipeline.PackChunkTokens
    s"""WITH toks AS (
      |  SELECT doc_id, source, CAST(len(string_split(COALESCE(text, ''), ' ')) AS BIGINT) AS tokens
      |  FROM documents
      |), c AS (
      |  SELECT source, tokens,
      |         CAST(COALESCE(SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      |  FROM toks
      |), s AS (
      |  SELECT source, cum_before, tokens,
      |         CAST(unnest(generate_series(cum_before // $L, (cum_before + tokens - 1) // $L)) AS BIGINT) AS chunk_idx
      |  FROM c
      |)
      |SELECT source, chunk_idx, COUNT(*) AS n_docs,
      |       CAST(SUM(LEAST(cum_before + tokens, (chunk_idx + 1) * $L)
      |              - GREATEST(cum_before, chunk_idx * $L)) AS BIGINT) AS n_tokens,
      |       CAST(SUM(LEAST(cum_before + tokens, (chunk_idx + 1) * $L)
      |              - GREATEST(cum_before, chunk_idx * $L)) * 10000 // $L AS BIGINT) AS fill_x10000
      |FROM s
      |GROUP BY source, chunk_idx
      |ORDER BY source, chunk_idx""".stripMargin
  }

  private val p55Sql: String = {
    val sigs = (0 until NumMinhash).map { j =>
      s"MIN((${seedA(j)} * x + ${seedB(j)}) % $P) AS m$j"
    }.mkString(",\n         ")
    val bands = (0 until NumBands).map { b =>
      val ms = (0 until RowsPerBand).map(r => s"CAST(m${b * RowsPerBand + r} AS VARCHAR)")
      s"SELECT doc_id, $b AS band_idx, ${ms.mkString(" || '_' || ")} AS band_key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH w AS (
      |  SELECT doc_id, source, text, string_split(text, ' ') AS words FROM documents
      |), sc AS (
      |  SELECT *,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopEn)})) AS BIGINT) AS s_en,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopDe)})) AS BIGINT) AS s_de,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopEs)})) AS BIGINT) AS s_es,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopFr)})) AS BIGINT) AS s_fr,
      |         CAST(len(list_filter(words, x -> x IN ${inList(stopZh)})) AS BIGINT) AS s_zh
      |  FROM w
      |), lg AS (
      |  SELECT *, CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |                 WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |                 WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |                 WHEN s_fr >= s_zh THEN 'fr'
      |                 ELSE 'zh' END AS pred_lang
      |  FROM sc
      |), q AS (
      |  SELECT doc_id, source, text, words, (pred_lang = 'en') AS lang_ok,
      |         CAST(FLOOR((0.3 * LEAST(CAST(len(words) AS DOUBLE) / 100.0, 1.0)
      |             + 0.4 * (1.0 - ROUND(CAST(len(list_filter(words, x -> x IN ${inList(stopEn)})) AS DOUBLE) / CAST(len(words) AS DOUBLE), 4))
      |             + 0.3 * LEAST(ROUND(CAST(length(text) - (len(words) - 1) AS DOUBLE) / CAST(len(words) AS DOUBLE), 4) / 8.0, 1.0)) * 10000.0 + 0.5) AS BIGINT) AS score_x10000
      |  FROM lg
      |), q2 AS (
      |  SELECT *, lang_ok AND score_x10000 >= ${Pipeline.PipelineQualityBar} AS q_ok FROM q
      |), ex AS (
      |  SELECT *, MIN(CASE WHEN q_ok THEN doc_id END) OVER (PARTITION BY md5(text)) AS canon_id FROM q2
      |), ex2 AS (
      |  SELECT *, q_ok AND doc_id = canon_id AS exact_ok FROM ex
      |), shp AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(words) - 2),
      |    i -> array_to_string(words[i:i+2], ' ')))) AS s
      |  FROM ex2 WHERE exact_ok AND len(words) >= 3
      |), h AS (
      |  SELECT doc_id, ${phSql("s")} % $P AS x FROM shp
      |), sig AS (
      |  SELECT doc_id,
      |         $sigs
      |  FROM h GROUP BY doc_id
      |), bands AS (
      |  $bands
      |), bmin AS (
      |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY band_idx, band_key) AS bmin FROM bands
      |), ld AS (
      |  SELECT doc_id, MIN(bmin) AS gmin FROM bmin GROUP BY doc_id
      |), fin AS (
      |  SELECT ex2.*, ld.gmin, exact_ok AND (gmin IS NULL OR gmin = doc_id) AS final_ok
      |  FROM ex2 LEFT JOIN ld USING (doc_id)
      |)
      |SELECT source, COUNT(*) AS n_input,
      |       CAST(SUM(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok,
      |       CAST(SUM(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
      |       CAST(SUM(CASE WHEN exact_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_canonical,
      |       CAST(SUM(CASE WHEN final_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
      |       CAST(SUM(CASE WHEN final_ok THEN len(words) ELSE 0 END) AS BIGINT) AS final_tokens
      |FROM fin GROUP BY source ORDER BY source""".stripMargin
  }

  // the (span, doc) posting grain d29 and d30 both aggregate — ONE
  // definition mirroring Dedup.spanPostings (same stride-1 window
  // family: ph of the space-joined w-token slice, matching the
  // byte-level concat inside graft_window_hashes)
  private val spanPerCte: String = {
    val w = Dedup.SpanTokens
    s"""WITH wd AS (
      |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
      |  WHERE len(string_split(text, ' ')) >= $w
      |), sp0 AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(words) - ${w - 1}),
      |    i -> array_to_string(words[i:i+${w - 1}], ' '))) AS s
      |  FROM wd
      |), per AS (
      |  SELECT ${phSql("s")} AS h, doc_id, COUNT(*) AS occ FROM sp0 GROUP BY 1, 2
      |)""".stripMargin
  }

  // mirror of Dedup.d29RepeatedSpans: two-level aggregation over the
  // shared posting grain, >= 2 occurrence gate
  private val d29Sql: String =
    s"""$spanPerCte
      |SELECT h AS span_hash, CAST(SUM(occ) AS BIGINT) AS n_occ,
      |       COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
      |FROM per GROUP BY h HAVING SUM(occ) >= 2
      |ORDER BY span_hash""".stripMargin

  // mirror of Dedup.d33Winnow: same packed (40-bit hash · 20-bit
  // complemented position) selection key, same ROWS CURRENT..W-1
  // FOLLOWING frame, same start-row restriction — all-integer, so the
  // hash mask / shift arithmetic is bit-identical across engines
  private val d33Sql: String = {
    val w = Dedup.SpanTokens; val W = Dedup.WinnowWindow
    val mask = Dedup.WinnowHashMask; val pw = 1L << Dedup.WinnowPosBits
    s"""WITH wd AS (
      |  SELECT doc_id, string_split(text, ' ') AS words,
      |         CAST(len(string_split(text, ' ')) - ${w - 1} AS BIGINT) AS n_h
      |  FROM documents WHERE len(string_split(text, ' ')) >= $w
      |), hp0 AS (
      |  SELECT doc_id, n_h,
      |         unnest(list_transform(generate_series(1, CAST(n_h AS INTEGER)),
      |           i -> {'pos': CAST(i - 1 AS BIGINT),
      |                 's': array_to_string(words[i:i+${w - 1}], ' ')})) AS u
      |  FROM wd
      |), hp AS (
      |  SELECT doc_id, n_h, u.pos AS pos,
      |         (${phSql("u.s")} & $mask) * $pw + (${pw - 1} - u.pos) AS key
      |  FROM hp0
      |), win AS (
      |  SELECT doc_id, n_h, pos,
      |         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
      |                        ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS fp_key
      |  FROM hp
      |), st AS (
      |  SELECT DISTINCT doc_id, n_h, fp_key FROM win
      |  WHERE pos <= GREATEST(0, n_h - $W)
      |)
      |SELECT doc_id, n_h AS n_hashes, COUNT(*) AS n_fps,
      |       COUNT(*) * 10000 // n_h AS fp_density_pm,
      |       MIN(fp_key // $pw) AS min_fp,
      |       MAX(fp_key // $pw) AS max_fp
      |FROM st GROUP BY doc_id, n_h
      |ORDER BY doc_id""".stripMargin
  }

  // mirror of TextAnalysis.t37CmsCore: same (2j+67, 7919j+253409) hash
  // pairs, same D·W cell grain, same min-over-rows estimate. Shared with
  // st43 (the streaming sketch over the arriving subset) by
  // parameterizing ONLY the corpus relation — one sketch/report chain.
  private def cmsSqlOver(rel: String): String = {
    val d = TextAnalysis.CmsRows; val w = TextAnalysis.CmsWidth
    val k = TextAnalysis.CmsTopK
    s"""WITH tok AS (
      |  SELECT unnest(string_split(COALESCE(text, ''), ' ')) AS token FROM $rel
      |), tf AS (
      |  SELECT token, COUNT(*) AS n_occ FROM tok GROUP BY token
      |), g AS (
      |  SELECT token, n_occ, t.j,
      |         ((t.j * 2 + 67) * (${phSql("token")} % $P) + t.j * 7919 + 253409)
      |           % $P % $w AS bucket
      |  FROM tf CROSS JOIN generate_series(0, ${d - 1}) AS t(j)
      |), sk AS (
      |  SELECT j, bucket, CAST(SUM(n_occ) AS BIGINT) AS cms_cell FROM g GROUP BY 1, 2
      |), top AS (
      |  SELECT token, n_occ FROM tf ORDER BY n_occ DESC, token LIMIT $k
      |), est AS (
      |  SELECT t.token, t.n_occ, MIN(s.cms_cell) AS cms_n
      |  FROM top t JOIN g ON g.token = t.token
      |  JOIN sk s ON s.j = g.j AND s.bucket = g.bucket
      |  GROUP BY 1, 2
      |)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, token) AS BIGINT) AS rnk,
      |       token, n_occ AS exact_n, cms_n,
      |       (cms_n - n_occ) * 10000 // n_occ AS over_pm
      |FROM est ORDER BY rnk""".stripMargin
  }
  // mirror of Pipeline.p66BpeCore: same char symbolization, the same
  // single-replace merge semantics (the stdlib left-to-right scan both
  // engines implement identically), same (count desc, pair asc)
  // tie-break; the K learn iterations unroll from ONE step template —
  // the q56 discipline, so Spark and oracle cannot drift per step
  /** The learn CTE chain (wc → s0 → p_i/t_i/s_i per rank) SHARED by the
    * p66 and p68 oracles — one step template, the q56 discipline. */
  private def bpeLearnCtes: String = {
    val k = Pipeline.BpeMerges
    val steps = (1 to k).map { i =>
      s"""p$i AS (
        |  SELECT pair, CAST(SUM(wn) AS BIGINT) AS pair_n FROM (
        |    SELECT wn, unnest(list_transform(generate_series(1, len(arr) - 1),
        |             j -> arr[j] || ' ' || arr[j + 1])) AS pair
        |    FROM (SELECT wn, string_split(trim(sym), ' ') AS arr FROM s${i - 1})
        |  ) GROUP BY pair
        |), t$i AS (
        |  SELECT pair, pair_n, replace(pair, ' ', '') AS m FROM p$i
        |  ORDER BY pair_n DESC, pair LIMIT 1
        |), s$i AS (
        |  SELECT word, wn, replace(sym, ' ' || t$i.pair || ' ', ' ' || t$i.m || ' ') AS sym
        |  FROM s${i - 1}, t$i
        |)""".stripMargin
    }
    s"""wc AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS wn FROM (
      |    SELECT unnest(string_split(COALESCE(text, ''), ' ')) AS word FROM documents
      |  ) WHERE word <> '' GROUP BY word
      |  HAVING COUNT(*) >= ${Pipeline.BpeMinWordCount}
      |), s0 AS (
      |  SELECT word, wn, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS sym FROM wc
      |), ${steps.mkString(", ")}""".stripMargin
  }

  private val p66Sql: String = {
    val k = Pipeline.BpeMerges
    val sel = (1 to k).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS rnk, string_split(pair, ' ')[1] AS left_sym,
        |       string_split(pair, ' ')[2] AS right_sym, m AS merged, pair_n
        |FROM t$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeLearnCtes
      |$sel
      |ORDER BY rnk""".stripMargin
  }

  // mirror of Pipeline.p68BpeEncodeCore: the shared learn CTEs feed the
  // same '|'-sentinel doc symbolization, the same K left-join replace
  // passes (empty argmax passes docs through), the same length-arithmetic
  // token count and per-source compression report
  private val p68Sql: String = {
    val k = Pipeline.BpeMerges
    val applies = (1 to k).map { i =>
      s"""a$i AS (
        |  SELECT source, chars,
        |         CASE WHEN t$i.pair IS NULL THEN sym
        |              ELSE replace(sym, ' ' || t$i.pair || ' ', ' ' || t$i.m || ' ') END AS sym
        |  FROM a${i - 1} LEFT JOIN t$i ON TRUE
        |)""".stripMargin
    }
    s"""WITH $bpeLearnCtes, a0 AS (
      |  SELECT source,
      |         CAST(length(replace(COALESCE(text, ''), ' ', '')) AS BIGINT) AS chars,
      |         ' ' || regexp_replace(replace(COALESCE(text, ''), ' ', '|'), '(.)', '\\1 ', 'g') AS sym
      |  FROM documents
      |), ${applies.mkString(", ")}, fin AS (
      |  SELECT source, chars,
      |         CASE WHEN length(trim(sym)) = 0 THEN CAST(0 AS BIGINT)
      |              ELSE CAST(length(trim(sym)) - length(replace(trim(sym), ' ', '')) + 1 AS BIGINT)
      |                   - CAST(length(sym) - length(replace(sym, '|', '')) AS BIGINT) END AS bpe
      |  FROM a$k
      |)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(chars) AS BIGINT) AS n_char_tokens,
      |       CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens,
      |       CASE WHEN SUM(chars) = 0 THEN CAST(10000 AS BIGINT)
      |            ELSE CAST(SUM(bpe) AS BIGINT) * 10000 // CAST(SUM(chars) AS BIGINT) END AS compression_pm
      |FROM fin GROUP BY source ORDER BY source""".stripMargin
  }

  private val t37Sql: String = cmsSqlOver("documents")
  private val st43Sql: String =
    cmsSqlOver("(SELECT * FROM documents WHERE doc_id % 5 = 0)")

  // mirror of Pipeline.p64TemperatureMix: same isqrt fix-up, same
  // integer share/K/keep arithmetic, same salted-hash admission
  private val p64Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split(COALESCE(text, ''), ' ')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), st0 AS (
      |  SELECT source, COUNT(*) AS n_input, CAST(SUM(n_tokens) AS BIGINT) AS tokens
      |  FROM d GROUP BY source
      |), st1 AS (
      |  SELECT *, CAST(FLOOR(SQRT(CAST(tokens AS DOUBLE))) AS BIGINT) AS s0 FROM st0
      |), st2 AS (
      |  SELECT source, n_input, tokens,
      |         CASE WHEN (s0 + 1) * (s0 + 1) <= tokens THEN s0 + 1
      |              WHEN s0 * s0 > tokens THEN s0 - 1 ELSE s0 END AS weight
      |  FROM st1
      |), st3 AS (
      |  SELECT *, SUM(weight) OVER () AS sumw FROM st2
      |), st4 AS (
      |  SELECT *, weight * 10000 // sumw AS target_share_pm,
      |         MIN(n_input * sumw // weight) OVER () AS k_total
      |  FROM st3
      |), th AS (
      |  SELECT *, LEAST(10000, (k_total * weight // sumw) * 10000 // n_input)
      |         AS keep_permyriad
      |  FROM st4
      |), kept AS (
      |  SELECT d.source, COUNT(*) AS n_kept
      |  FROM d JOIN th ON d.source = th.source
      |  WHERE ${phSql("'temp:' || CAST(doc_id AS VARCHAR)")} % 10000 < th.keep_permyriad
      |  GROUP BY d.source
      |)
      |SELECT th.source, CAST(th.n_input AS BIGINT) AS n_input, th.tokens, th.weight,
      |       CAST(th.target_share_pm AS BIGINT) AS target_share_pm,
      |       CAST(th.keep_permyriad AS BIGINT) AS keep_permyriad,
      |       CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept
      |FROM th LEFT JOIN kept ON th.source = kept.source
      |ORDER BY 1""".stripMargin

  // mirror of Dedup.d30SpanScore: shared posting grain, cross-doc
  // index = spans held by >= 2 distinct docs, same integer permyriad
  // share and shared flag threshold
  private val d30Sql: String = {
    s"""$spanPerCte, idx AS (
      |  SELECT h FROM per GROUP BY h HAVING COUNT(*) >= 2
      |), sc AS (
      |  SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n_windows,
      |         CAST(SUM(CASE WHEN idx.h IS NOT NULL THEN occ ELSE 0 END) AS BIGINT) AS n_rep
      |  FROM per LEFT JOIN idx ON per.h = idx.h
      |  GROUP BY doc_id
      |)
      |SELECT doc_id, n_windows, n_rep,
      |       n_rep * 10000 // n_windows AS rep_share_pm,
      |       CAST(n_rep * 10000 // n_windows >= ${Dedup.SpanShareFlagPm} AS INT) AS span_flagged
      |FROM sc
      |ORDER BY doc_id""".stripMargin
  }

  // mirror of Pipeline.p61ChunkOverlap: same chunk-start family and
  // clamping; // vs DIV rounding differences only arise on negative
  // numerators, which the shared GREATEST(0, ...) clamp absorbs
  private val p61Sql: String = {
    val L = Pipeline.ChunkTokens; val S = Pipeline.ChunkStride
    s"""WITH wd AS (
      |  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS words,
      |         CAST(len(string_split(COALESCE(text, ''), ' ')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), c0 AS (
      |  SELECT doc_id, words, n_tokens,
      |         unnest(generate_series(0, GREATEST(0, (n_tokens - $L + ${S - 1}) // $S))) AS chunk_idx
      |  FROM wd
      |), c AS (
      |  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |         CAST(chunk_idx * $S AS BIGINT) AS tok_start,
      |         CAST(LEAST($L, n_tokens - chunk_idx * $S) AS BIGINT) AS tok_len,
      |         words
      |  FROM c0 WHERE chunk_idx * $S < n_tokens
      |)
      |SELECT doc_id, chunk_idx, tok_start, tok_len,
      |       CAST(tok_len < $L AS INT) AS is_short,
      |       ${phSql("array_to_string(words[CAST(tok_start + 1 AS INT):CAST(tok_start + tok_len AS INT)], ' ')")} AS chunk_hash
      |FROM c
      |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  // mirror of Dedup.d32SpanCut: same tiling family as p61 (stride ==
  // window), same doc-frequency cut rule, and the rebuild is verified
  // by an md5 witness of the ORDER BY chunk_idx reconstruction (null-
  // skipping string_agg ≡ Spark's null-skipping collect_list)
  private val d32Sql: String = {
    val k = graft.operators.Dedup.CutChunkTokens
    val f = graft.operators.Dedup.CutDocFreq
    s"""WITH wd AS (
      |  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS words,
      |         CAST(len(string_split(COALESCE(text, ''), ' ')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), c0 AS (
      |  SELECT doc_id, words, n_tokens,
      |         CAST(unnest(generate_series(0, (n_tokens - 1) // $k)) AS BIGINT) AS chunk_idx
      |  FROM wd
      |), c AS (
      |  SELECT doc_id, chunk_idx,
      |         CAST(LEAST($k, n_tokens - chunk_idx * $k) AS BIGINT) AS tok_len,
      |         array_to_string(words[CAST(chunk_idx * $k + 1 AS INT):CAST(chunk_idx * $k + LEAST($k, n_tokens - chunk_idx * $k) AS INT)], ' ') AS chunk_text
      |  FROM c0
      |), ch AS (
      |  SELECT doc_id, chunk_idx, tok_len, chunk_text,
      |         ${phSql("chunk_text")} AS h
      |  FROM c
      |), hot AS (
      |  SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df FROM ch GROUP BY h)
      |  WHERE df >= $f
      |), j AS (
      |  SELECT ch.doc_id, ch.chunk_idx, ch.tok_len, ch.chunk_text,
      |         (hot.h IS NOT NULL) AS cut
      |  FROM ch LEFT JOIN hot ON ch.h = hot.h
      |)
      |SELECT doc_id, COUNT(*) AS n_chunks,
      |       CAST(SUM(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
      |       CAST(SUM(CASE WHEN NOT cut THEN tok_len ELSE 0 END) AS BIGINT) AS n_tokens_kept,
      |       md5(COALESCE(string_agg(CASE WHEN NOT cut THEN chunk_text END, ' ' ORDER BY chunk_idx), '')) AS retained_hash
      |FROM j GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin
  }

  // mirror of Pipeline.p60VocabBuild: identical tie-break (count desc,
  // token asc) in both the LIMIT and the rank/cumulative windows,
  // integer permyriad coverage
  private val p60Sql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split(COALESCE(text, ''), ' ')) AS token FROM documents
      |), tf AS (
      |  SELECT token, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
      |  FROM tok GROUP BY token
      |), tot AS (
      |  -- Σ n_occ over the vocabulary ≡ the corpus token total (same
      |  -- derivation as the Spark plan's reused-exchange branch)
      |  SELECT CAST(SUM(n_occ) AS BIGINT) AS total_tokens FROM tf
      |), top AS (
      |  SELECT token, n_occ, n_docs FROM tf
      |  ORDER BY n_occ DESC, token LIMIT ${Pipeline.VocabTopK}
      |), r AS (
      |  SELECT token, n_occ, n_docs,
      |         CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, token) AS BIGINT) AS rnk,
      |         CAST(SUM(n_occ) OVER (ORDER BY n_occ DESC, token
      |                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_occ
      |  FROM top
      |)
      |SELECT rnk, token, n_occ, n_docs, cum_occ * 10000 // total_tokens AS cum_cov_pm
      |FROM r, tot
      |ORDER BY rnk""".stripMargin

  // mirror of TextAnalysis.t35Keywords: df computed off the distinct
  // (doc, token) grain, same integer ppm relevance, same tie-break
  private val t35Sql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      |), tf AS (
      |  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
      |), dfx AS (
      |  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
      |), j AS (
      |  SELECT tf.doc_id, tf.token, tf.tf, dfx.df,
      |         tf.tf * 1000000 // dfx.df AS rel_ppm
      |  FROM tf JOIN dfx USING (token)
      |), r AS (
      |  SELECT doc_id, token, tf, df, rel_ppm,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
      |                                 ORDER BY rel_ppm DESC, token) AS BIGINT) AS rnk
      |  FROM j
      |)
      |SELECT doc_id, rnk, token, tf, df, rel_ppm
      |FROM r WHERE rnk <= ${TextAnalysis.KeywordsPerDoc}
      |ORDER BY doc_id, rnk""".stripMargin

  // t41 mirror — same integral-log idf rewrite and 10L-cleared
  // saturation rational; ROUND(...,6) before ranking so ties break on
  // neighbor_id identically (the t40 float device)
  /** The t41 rank chain ending in `$rName(query_id, neighbor_id,
    * n_terms_hit, score, rnk)` — shared by t41 and s37's lexical leg,
    * mirroring the shared Scala core. */
  private def t41ChainCtes(rName: String): String =
    s"""tok AS (
      |  SELECT doc_id, unnest(string_split(COALESCE(text, ''), ' ')) AS token
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
      |), lens AS (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS len FROM tf GROUP BY doc_id
      |), dfx AS (
      |  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
      |), stats AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(len) AS BIGINT) AS total_len FROM lens
      |), qt AS (
      |  SELECT doc_id AS query_id, token FROM tf WHERE doc_id < 10
      |), terms AS (
      |  SELECT qt.query_id, t.doc_id,
      |         (ln(CAST(2*s.n_docs - 2*d.df + 1 AS DOUBLE)) - ln(CAST(2*d.df + 1 AS DOUBLE)))
      |         * CAST(t.tf * 22 * s.total_len AS DOUBLE)
      |         / CAST(t.tf * 10 * s.total_len + 3 * s.total_len + 9 * l.len * s.n_docs AS DOUBLE)
      |           AS term_score
      |  FROM tf t
      |  JOIN qt ON qt.token = t.token AND t.doc_id <> qt.query_id
      |  JOIN dfx d ON d.token = t.token
      |  JOIN lens l ON l.doc_id = t.doc_id
      |  CROSS JOIN stats s
      |), sc AS (
      |  SELECT query_id, doc_id AS neighbor_id,
      |         CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
      |         ROUND(SUM(term_score), 6) AS score
      |  FROM terms GROUP BY query_id, doc_id
      |), $rName AS (
      |  SELECT query_id, neighbor_id, n_terms_hit, score,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |                                 ORDER BY score DESC, neighbor_id) AS BIGINT) AS rnk
      |  FROM sc
      |)""".stripMargin

  private val t41Sql: String =
    s"""WITH ${t41ChainCtes("r")}
      |SELECT query_id, rnk, neighbor_id, n_terms_hit, score
      |FROM r WHERE rnk <= ${TextAnalysis.Bm25TopK}
      |ORDER BY query_id, rnk""".stripMargin

  // m37 mirror — caption side restates graft_hash_vec relationally on
  // the (doc, bucket) grain (s36's device), media side the same
  // floor(x·10⁶) grid as Similarity.quantize; dot and norms² are exact
  // integers so the rounded cosine is bit-identical
  private val m37Sql: String = {
    import graft.functions.PortableHash.HashVecDim
    s"""WITH toks AS (
      |  SELECT doc_id, ${phSql("w")} AS h FROM (
      |    SELECT doc_id, unnest(string_split(COALESCE(text, ''), ' ')) AS w
      |    FROM documents)
      |), hv AS (
      |  SELECT doc_id, h % $HashVecDim AS b,
      |         CAST(SUM(CASE WHEN (h // $HashVecDim) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS c
      |  FROM toks GROUP BY 1, 2
      |), nt AS (
      |  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS nt2 FROM hv GROUP BY doc_id
      |), med AS (
      |  SELECT vec_id AS doc_id,
      |         list_transform(embedding::DOUBLE[], x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS q
      |  FROM embeddings
      |), nm AS (
      |  SELECT doc_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nv2
      |  FROM med
      |), dots AS (
      |  SELECT hv.doc_id, CAST(SUM(hv.c * nm.q[hv.b + 1]) AS BIGINT) AS dot
      |  FROM hv JOIN nm ON nm.doc_id = hv.doc_id
      |  GROUP BY hv.doc_id
      |), scored AS (
      |  SELECT d.doc_id, d.source,
      |         ROUND(CAST(COALESCE(dt.dot, 0) AS DOUBLE)
      |               / NULLIF(sqrt(CAST(nt.nt2 AS DOUBLE)) * sqrt(CAST(nm.nv2 AS DOUBLE)), 0), 6)
      |           AS cos_sim
      |  FROM documents d
      |  JOIN nm ON nm.doc_id = d.doc_id
      |  JOIN nt ON nt.doc_id = d.doc_id
      |  LEFT JOIN dots dt ON dt.doc_id = d.doc_id
      |)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |       CAST(SUM(CASE WHEN cos_sim >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_aligned,
      |       CAST(SUM(CASE WHEN cos_sim >= 0 THEN 1 ELSE 0 END) AS BIGINT) * 10000
      |         // CAST(COUNT(*) AS BIGINT) AS aligned_pm,
      |       ROUND(MIN(cos_sim), 6) AS min_cos, ROUND(MAX(cos_sim), 6) AS max_cos
      |FROM scored GROUP BY source ORDER BY source""".stripMargin
  }

  // s37 mirror — both shared chains at depth RrfDepth, quantized
  // integer RRF (10^6 // (k + rank)), full-outer fusion, the same
  // null-cosine exclusion on the vector leg
  private val s37Sql: String = {
    import Similarity.{RrfDepth, RrfK, RrfTopK}
    s"""WITH ${s36ChainCtes("vr0")}, ${t41ChainCtes("lr0")}, vr AS (
      |  SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS vec_rnk
      |  FROM vr0 WHERE rnk <= $RrfDepth AND cos_sim IS NOT NULL
      |), lr AS (
      |  SELECT query_id, neighbor_id, rnk AS bm25_rnk
      |  FROM lr0 WHERE rnk <= $RrfDepth
      |), fused AS (
      |  SELECT COALESCE(vr.query_id, lr.query_id) AS query_id,
      |         COALESCE(vr.neighbor_id, lr.neighbor_id) AS neighbor_id,
      |         vr.vec_rnk, lr.bm25_rnk,
      |         COALESCE(1000000 // ($RrfK + vr.vec_rnk), 0)
      |         + COALESCE(1000000 // ($RrfK + lr.bm25_rnk), 0) AS rrf_score
      |  FROM vr FULL OUTER JOIN lr
      |    ON vr.query_id = lr.query_id AND vr.neighbor_id = lr.neighbor_id
      |), fr AS (
      |  SELECT query_id, neighbor_id, vec_rnk, bm25_rnk, rrf_score,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |                                 ORDER BY rrf_score DESC, neighbor_id) AS BIGINT) AS rnk
      |  FROM fused
      |)
      |SELECT query_id, rnk, neighbor_id, vec_rnk, bm25_rnk, rrf_score
      |FROM fr WHERE rnk <= $RrfTopK
      |ORDER BY query_id, rnk""".stripMargin
  }

  // t42 mirror — same literal blocklist (one definition), existence
  // probe via list_has_any
  private val t42Sql: String = {
    val list = TextAnalysis.Blocklist.map(w => s"'$w'").mkString(", ")
    s"""WITH d AS (
      |  SELECT source, string_split(COALESCE(text, ''), ' ') AS words FROM documents
      |), f AS (
      |  SELECT source, CAST(list_has_any(words, [$list]) AS INT) AS flagged,
      |         len(words) AS nw
      |  FROM d
      |)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(flagged) AS BIGINT) AS n_flagged,
      |       CAST(SUM(flagged) AS BIGINT) * 10000 // CAST(COUNT(*) AS BIGINT) AS flagged_pm,
      |       CAST(SUM(CASE WHEN flagged = 1 THEN nw ELSE 0 END) AS BIGINT) AS tokens_lost
      |FROM f GROUP BY source ORDER BY source""".stripMargin
  }

  // p69 mirror — same hashed unigram+bigram buckets, add-one smoothing,
  // and the associative per-feature log term (all ln args integral)
  private val p69Sql: String = {
    val B = Pipeline.DsirBuckets
    s"""WITH w AS (
      |  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS ws FROM documents
      |), feat AS (
      |  SELECT doc_id, unnest(ws) AS feat FROM w
      |  UNION ALL
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
      |           g -> ws[g] || ' ' || ws[g + 1])) AS feat
      |  FROM w
      |), feats AS (
      |  SELECT doc_id, ${phSql("feat")} % $B AS f, COUNT(*) AS c
      |  FROM feat GROUP BY 1, 2
      |), bt AS (
      |  SELECT f,
      |         CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN c ELSE 0 END) AS BIGINT) AS t_f,
      |         CAST(SUM(CASE WHEN doc_id % 13 <> 0 THEN c ELSE 0 END) AS BIGINT) AS r_f
      |  FROM feats GROUP BY f
      |), tot AS (
      |  SELECT CAST(SUM(t_f) AS BIGINT) AS t_tot, CAST(SUM(r_f) AS BIGINT) AS r_tot
      |  FROM bt
      |), lam AS (
      |  SELECT fe.doc_id, CAST(SUM(fe.c) AS BIGINT) AS n_feats,
      |         ROUND(SUM(CAST(fe.c AS DOUBLE)
      |           * (ln(CAST(bt.t_f + 1 AS DOUBLE)) - ln(CAST(bt.r_f + 1 AS DOUBLE))
      |              + ln(CAST(tt.r_tot + $B AS DOUBLE)) - ln(CAST(tt.t_tot + $B AS DOUBLE)))), 6)
      |           AS log_ratio
      |  FROM feats fe JOIN bt USING (f) CROSS JOIN tot tt
      |  WHERE fe.doc_id % 13 <> 0
      |  GROUP BY fe.doc_id
      |)
      |SELECT doc_id, n_feats, log_ratio,
      |       CAST(log_ratio >= 0 AS INT) AS selected
      |FROM lam ORDER BY doc_id""".stripMargin
  }

  // p67 mirror — d21's exact rule + d22's pair CTE restricted to exact
  // survivors + d26's recursive reachability, audited per source. Sums
  // cast to BIGINT (DuckDB SUM(int) is HUGEINT — the r7 dtype lesson).
  private val p67Sql: String =
    s"""WITH RECURSIVE $d22PairsCtes, keep1 AS (
      |  SELECT md5(text) AS h, MIN(doc_id) AS keep_id
      |  FROM documents GROUP BY md5(text)
      |), staged AS (
      |  SELECT d.doc_id, d.source, (d.doc_id = k.keep_id) AS exact_kept
      |  FROM documents d JOIN keep1 k ON md5(d.text) = k.h
      |), sp AS (
      |  SELECT p.doc_a, p.doc_b FROM pairs p
      |  JOIN staged a ON p.doc_a = a.doc_id AND a.exact_kept
      |  JOIN staged b ON p.doc_b = b.doc_id AND b.exact_kept
      |), edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM sp
      |  UNION ALL
      |  SELECT doc_b AS u, doc_a AS v FROM sp
      |), reach(node, r) AS (
      |  SELECT DISTINCT u, u FROM edges
      |  UNION
      |  SELECT e.v, reach.r FROM reach JOIN edges e ON reach.node = e.u
      |), nr AS (
      |  SELECT node AS doc_id FROM reach
      |  GROUP BY node HAVING node <> MIN(r)
      |), audit AS (
      |  SELECT s.source,
      |         COUNT(*) AS n_input,
      |         CAST(SUM(CASE WHEN NOT s.exact_kept THEN 1 ELSE 0 END) AS BIGINT) AS removed_exact,
      |         CAST(SUM(CASE WHEN s.exact_kept AND nr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS removed_near
      |  FROM staged s LEFT JOIN nr ON s.doc_id = nr.doc_id
      |  GROUP BY s.source
      |)
      |SELECT source, n_input, removed_exact, removed_near,
      |       n_input - removed_exact AS n_after_exact,
      |       n_input - removed_exact - removed_near AS n_after_near
      |FROM audit
      |ORDER BY source""".stripMargin

  // t40 mirror — the declarative character/word-grain entropy: explode
  // to frequencies, fold H = ln(n) − Σ c·ln(c)/n (the same
  // integral-log form the kernel computes; summation order differences
  // vanish at the shared 6dp round). Empty text never reaches the char
  // CTE in DuckDB (generate_series(1,0) is empty) — LEFT JOIN +
  // COALESCE keeps the doc with entropy 0, matching the kernel.
  private val t40Sql: String =
    s"""WITH cg AS (
      |  SELECT doc_id, c, COUNT(*) AS cnt FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(generate_series(1, length(text)),
      |                                 i -> substr(text, i, 1))) AS c
      |    FROM documents
      |  ) GROUP BY doc_id, c
      |), ce AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_chars,
      |         ln(SUM(cnt)) - SUM(cnt * ln(cnt)) / SUM(cnt) AS char_ent
      |  FROM cg GROUP BY doc_id
      |), wg AS (
      |  SELECT doc_id, w, COUNT(*) AS cnt FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      |  ) GROUP BY doc_id, w
      |), we AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
      |         CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
      |         ln(SUM(cnt)) - SUM(cnt * ln(cnt)) / SUM(cnt) AS word_ent
      |  FROM wg GROUP BY doc_id
      |)
      |SELECT d.doc_id, d.lang,
      |       COALESCE(ce.n_chars, 0) AS n_chars,
      |       we.n_words, we.n_distinct_words,
      |       COALESCE(ROUND(ce.char_ent, 6), 0.0) AS char_entropy,
      |       ROUND(we.word_ent, 6) AS word_entropy,
      |       we.n_distinct_words * 10000 // we.n_words AS ttr_pm,
      |       CAST(COALESCE(ROUND(ce.char_ent, 6), 0.0) < ${TextAnalysis.LowEntropyBar} AS INT) AS low_entropy
      |FROM documents d
      |LEFT JOIN ce ON d.doc_id = ce.doc_id
      |JOIN we ON d.doc_id = we.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // q66 mirror — same shingle-hash universe, same exact-integer K-least
  // selection (distinct 60-bit hashes: no ties), same double estimators
  // over the shared rounded est_union.
  private val q66Sql: String = {
    val k = Sketches.KmvK
    val m = Dedup.IncrementalBatchMod
    s"""WITH ${shingleCte.stripPrefix("WITH ")}, hh AS (
      |  SELECT DISTINCT (doc_id % $m = 0) AS is_new, ${phSql("s")} AS h FROM sh
      |), a AS (SELECT DISTINCT h FROM hh WHERE NOT is_new
      |), b AS (SELECT DISTINCT h FROM hh WHERE is_new
      |), ka AS (SELECT h FROM a ORDER BY h LIMIT $k
      |), kb AS (SELECT h FROM b ORDER BY h LIMIT $k
      |), kun AS (
      |  SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)
      |  ORDER BY h LIMIT $k
      |), sk AS (SELECT COUNT(*) AS n_ku, MAX(h) AS kth FROM kun
      |), cm AS (
      |  SELECT COUNT(*) AS n_common FROM kun
      |  WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)
      |), ex AS (
      |  SELECT COUNT(*) AS n_exact_union,
      |         CAST(SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_inter
      |  FROM a FULL OUTER JOIN b ON a.h = b.h
      |), est AS (
      |  SELECT CAST($k AS BIGINT) AS k, sk.n_ku, cm.n_common,
      |         ROUND(CASE WHEN sk.n_ku < $k THEN CAST(sk.n_ku AS DOUBLE)
      |               ELSE ${k - 1}.0 * 1152921504606846976.0 / CAST(sk.kth AS DOUBLE)
      |               END, 4) AS est_union,
      |         ex.n_exact_union, ex.n_exact_inter,
      |         cm.n_common * 10000 // sk.n_ku AS jaccard_est_pm,
      |         ex.n_exact_inter * 10000 // ex.n_exact_union AS jaccard_exact_pm
      |  FROM sk, cm, ex
      |)
      |SELECT k, n_ku, n_common, est_union, n_exact_union,
      |       ROUND(est_union * n_common / n_ku, 4) AS est_inter,
      |       n_exact_inter, jaccard_est_pm, jaccard_exact_pm,
      |       ROUND(ABS(est_union - n_exact_union) / n_exact_union, 4) AS rel_err_union
      |FROM est""".stripMargin
  }

  // s35 mirror — s28's cell candidates with the allowed-label pre-filter
  // composed into the corpus side (label attaches from the n CTE; the
  // IN-list is the same constant set the Spark plan pushes to the scan).
  private val s35Sql: String = {
    val labels = Similarity.FilteredAnnLabels.mkString(", ")
    s"""$ivfRankCtes, corp AS (
      |  SELECT vec_id, v, norm, c AS cell FROM rk WHERE rn = 1
      |), corpf AS (
      |  SELECT c2.vec_id, c2.v, c2.norm, c2.cell, n.label
      |  FROM corp c2 JOIN n ON c2.vec_id = n.vec_id
      |  WHERE n.label IN ($labels)
      |), qp AS (
      |  SELECT vec_id, v, norm, c AS cell FROM rk WHERE rn <= $IvfProbes AND vec_id < 10
      |), p AS (
      |  SELECT q.vec_id AS query_id, c2.vec_id AS neighbor_id,
      |         c2.label AS neighbor_label,
      |         ROUND(${dotSql("q", "c2")} / (q.norm * c2.norm), 6) AS cos_sim
      |  FROM qp q JOIN corpf c2 ON q.cell = c2.cell AND q.vec_id <> c2.vec_id
      |), r AS (
      |  SELECT query_id, neighbor_id, neighbor_label, cos_sim,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |                                 ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rnk,
      |         CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_allowed_candidates
      |  FROM p
      |)
      |SELECT query_id, neighbor_id, neighbor_label, rnk, cos_sim, n_allowed_candidates
      |FROM r WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin
  }

  // d36 mirror — the sig CTE's m0..m15 compared per pair (the same 16
  // minhash values the Spark kernel computes), exact Jaccard from
  // distinct RAW 60-bit shingle hashes.
  private val d36Sql: String = {
    val matches = (0 until NumMinhash)
      .map(j => s"CAST(sa.m$j = sb.m$j AS INT)").mkString(" + ")
    s"""WITH $d22PairsCtes, dh AS (
      |  SELECT DISTINCT doc_id, ${phSql("s")} AS h FROM sh
      |), dsz AS (
      |  SELECT doc_id, COUNT(*) AS n FROM dh GROUP BY doc_id
      |), est AS (
      |  SELECT p.doc_a, p.doc_b, ($matches) AS n_match
      |  FROM pairs p JOIN sig sa ON sa.doc_id = p.doc_a
      |               JOIN sig sb ON sb.doc_id = p.doc_b
      |), ix AS (
      |  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
      |  FROM pairs p JOIN dh a2 ON a2.doc_id = p.doc_a
      |               JOIN dh b2 ON b2.doc_id = p.doc_b AND b2.h = a2.h
      |  GROUP BY p.doc_a, p.doc_b
      |)
      |SELECT e.doc_a, e.doc_b, CAST(e.n_match AS BIGINT) AS n_match,
      |       CAST(e.n_match AS BIGINT) * 10000 // $NumMinhash AS jaccard_est_pm,
      |       COALESCE(ix.n_inter, 0) * 10000
      |         // (sza.n + szb.n - COALESCE(ix.n_inter, 0)) AS jaccard_exact_pm,
      |       ABS(CAST(e.n_match AS BIGINT) * 10000 // $NumMinhash
      |           - COALESCE(ix.n_inter, 0) * 10000
      |             // (sza.n + szb.n - COALESCE(ix.n_inter, 0))) AS err_pm
      |FROM est e
      |JOIN dsz sza ON sza.doc_id = e.doc_a
      |JOIN dsz szb ON szb.doc_id = e.doc_b
      |LEFT JOIN ix ON ix.doc_a = e.doc_a AND ix.doc_b = e.doc_b
      |ORDER BY e.doc_a, e.doc_b""".stripMargin
  }

  // mirror of Dedup.d38LshRecall: the d22 pair CTE + the d36 exact-hash
  // device bounded to the sample, same integer banding and recall, the
  // same multiplication-only S-curve theory column
  private val d38Sql: String = {
    val n = Dedup.LshEvalSample
    s"""WITH $d22PairsCtes, dh AS (
      |  SELECT DISTINCT doc_id, ${phSql("s")} AS h FROM sh WHERE doc_id < $n
      |), dsz AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM dh GROUP BY doc_id
      |), ix AS (
      |  SELECT a2.doc_id AS doc_a, b2.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      |  FROM dh a2 JOIN dh b2 ON b2.h = a2.h AND a2.doc_id < b2.doc_id
      |  GROUP BY 1, 2
      |), truth AS (
      |  SELECT ix.doc_a, ix.doc_b,
      |         ix.inter * 10000 // (sza.n + szb.n - ix.inter) AS jpm
      |  FROM ix JOIN dsz sza ON sza.doc_id = ix.doc_a
      |          JOIN dsz szb ON szb.doc_id = ix.doc_b
      |  WHERE ix.inter * 10000 // (sza.n + szb.n - ix.inter) >= 5000
      |), fnd AS (
      |  SELECT doc_a, doc_b FROM pairs WHERE doc_a < $n AND doc_b < $n
      |), banded AS (
      |  SELECT t.jpm // 1000 AS band, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |         CAST(SUM(CASE WHEN f.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caught
      |  FROM truth t LEFT JOIN fnd f ON f.doc_a = t.doc_a AND f.doc_b = t.doc_b
      |  GROUP BY 1
      |), th AS (
      |  SELECT band, n_pairs, n_caught,
      |         CASE WHEN band = 10 THEN 1.0
      |              ELSE (band * 1000 + 500) / 10000.0 END AS s
      |  FROM banded
      |)
      |SELECT CAST(band AS BIGINT) AS band, n_pairs, n_caught,
      |       n_caught * 10000 // n_pairs AS recall_pm,
      |       CAST(ROUND((1.0 - (1.0 - s*s*s*s) * (1.0 - s*s*s*s)
      |                         * (1.0 - s*s*s*s) * (1.0 - s*s*s*s)) * 10000, 0)
      |            AS BIGINT) AS theory_pm
      |FROM th ORDER BY band""".stripMargin
  }

  val sql: Map[String, String] = Map(
    "p67_dedup_cascade" -> p67Sql,
    "d38_lsh_recall"   -> d38Sql,
    "t40_entropy"      -> t40Sql,
    "q66_kmv_overlap"  -> q66Sql,
    "s35_filtered_ann" -> s35Sql,
    "d36_sig_jaccard"  -> d36Sql,
    "p60_vocab_build"  -> p60Sql,
    "t35_keywords"     -> t35Sql,
    "t41_bm25"         -> t41Sql,
    "s37_rrf_fusion"   -> s37Sql,
    "s38_mmr"          -> s38Sql,
    "m37_pair_align"   -> m37Sql,
    "p69_dsir_select"  -> p69Sql,
    "t42_blocklist"    -> t42Sql,
    "d29_repeated_spans" -> d29Sql,
    "d30_span_score"   -> d30Sql,
    "d33_winnow"       -> d33Sql,
    "p61_chunk_overlap" -> p61Sql,
    "d21_exact_dedup" ->
      """SELECT md5(text) AS content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
        |FROM documents GROUP BY content_hash
        |ORDER BY content_hash""".stripMargin,
    "d32_span_cut" -> d32Sql,
    "d22_minhash_lsh"  -> d22Sql,
    "d35_edit_verify"  -> d35Sql,
    "d26_dup_clusters" -> d26Sql,
    "d31_quality_survivor" -> d31Sql,
    "d27_incremental_dedup" -> d27Sql,
    "d37_bloom_admit"  -> d37Sql,
    "p56_stratified_split" -> p56Sql,
    "p71_leakage_safe_split" -> p71Sql,
    "p72_snapshot_diff" -> p72Sql,
    "p57_source_mix"   -> p57Sql,
    "p64_temperature_mix" -> p64Sql,
    "p58_seq_pack"     -> p58Sql,
    "d23_simhash"      -> d23Sql,
    "d24_ngram_jaccard" -> d24Sql,
    "d25_embed_neardup" -> d25Sql,
    "d34_semdedup"     -> d34Sql,
    "s26_ann_topk"     -> s26Sql,
    "s36_hash_vectors" -> s36Sql,
    "s27_ann_lsh"      -> s27Sql,
    "s28_ann_ivf"      -> s28Sql,
    "s29_ann_rerank"   -> s29Sql,
    "s30_kmeans"       -> s30Sql,
    "s32_pq_adc"       -> s32Sql,
    "s34_sq_ann"       -> s34Sql,
    "s33_ivfpq"        -> s33Sql,
    "p65_dataset_card" -> p65Sql,
    "s31_silhouette"   -> s31Sql,
    "p62_balanced_sample" -> p62Sql,
    "t36_lm_score"     -> t36Sql,
    "t43_ccnet_buckets" -> t43Sql,
    "t37_cms_freq"     -> t37Sql,
    "t38_langid_eval"  -> t38Sql,
    "t39_drift"        -> t39Sql,
    // st44 emits t39's report exactly (shared dims + tail definitions);
    // the oracle is therefore the same SQL (the st43/cmsSqlOver device)
    "st44_stream_drift" -> t39Sql,
    // st45's drained position state is d37's filter exactly (shared key,
    // position, sizing, and report definitions) — one oracle, the st44
    // device
    "st45_stream_bloom" -> d37Sql,
    "m35_payload_chunkdup" -> m35Sql,
    "st40_stream_cluster_assign" -> st40Sql,
    "st48_stream_centroid_update" -> st48Sql,
    "st43_stream_heavy_hitters" -> st43Sql,
    "p66_bpe_merges"   -> p66Sql,
    "p68_bpe_encode"   -> p68Sql,
    "p63_token_budget" -> p63Sql,
    "p55_corpus_clean" -> p55Sql,
    "t28_langid"       -> t28Sql,
    "t29_quality"      -> t29Sql,
    "t30_tokencount"   -> t30Sql,
    "t31_fingerprint"  -> t31Sql,
    "t32_contamination" -> t32Sql,
    "t33_pii_scrub"    -> t33Sql,
    "t34_repetition"   -> t34Sql,
    "p59_shard_shuffle" -> p59Sql,
    "d28_embed_celldedup" -> d28Sql,
    "st38_stream_corpus_admit" -> st38Sql,
    "m32_multimodal"   -> m32Sql,
    "m34_payload_resize" -> m34Sql,
    "m36_sample_assembly" -> m36Sql
  )
}
