package graft

/** DuckDB oracle SQL for the operators added beyond the survey's declared
  * 69 (training-data pipeline ops: text analysis, fingerprint dedup,
  * shingle Jaccard, embedding near-dup). Validated locally with
  * tools/oracle_check.py against the engine's Verify dumps the same way
  * the driver does. Ops whose results are engine-specific by nature
  * (MinHash/SimHash/LSH — seeded-hash dependent) are deliberately absent:
  * they get rows-only driver checks plus property-based tests instead.
  */
object ExtraSql {

  /** First 8 hex chars of an md5 hex column folded into one exact 32-bit
    * integer — the shared weighted-sampling hash (Sampling.sampleWeighted
    * computes the identical fold with Spark expressions).
    */
  private def hexFold(h: String): String =
    (0 until 8).map { i =>
      val c = s"substring($h, ${i + 1}, 1)"
      s"(CASE WHEN $c >= 'a' THEN ascii($c) - 87 ELSE ascii($c) - 48 END) * CAST(${1L << (4 * (7 - i))} AS BIGINT)"
    }.mkString("(", " + ", ")")

  /** Generated oracle for `dq_checksum`: one UNION ALL branch per table,
    * each the identical canonical-render → md5 → [[hexFold]] → SUM /
    * BIT_XOR fold the Spark side computes — the field lists live here
    * once per table so the render text can't drift between branches.
    */
  private def dqChecksumSql: String = {
    def canon(fields: Seq[String]): String =
      fields.map(f => s"coalesce(CAST($f AS VARCHAR), '<null>')")
        .mkString("concat_ws('|', ", ", ", ")")
    def side(tbl: String, fields: Seq[String]): String =
      s"""SELECT '$tbl' AS tbl, COUNT(*) AS n_rows,
         |       CAST(SUM(h) AS BIGINT) AS sum_h,
         |       CAST(BIT_XOR(h) AS BIGINT) AS xor_h
         |FROM (SELECT ${hexFold("m")} AS h
         |      FROM (SELECT md5(${canon(fields)}) AS m FROM $tbl) t1) t2""".stripMargin
    Seq(
      side("customer", Seq("c_custkey", "c_name", "c_nationkey",
        "c_mktsegment", "CAST(round(c_acctbal * 100) AS BIGINT)")),
      side("orders", Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "CAST(round(o_totalprice * 100) AS BIGINT)",
        "CAST(o_orderdate AS DATE)")),
      side("supplier", Seq("s_suppkey", "s_name", "s_nationkey",
        "CAST(round(s_acctbal * 100) AS BIGINT)")))
      .mkString("", "\nUNION ALL\n", "\nORDER BY tbl")
  }

  /** Generated oracle for `stats_cov_matrix`: one moment CTE, then one
    * UNION ALL branch per (col_x, col_y) pair — derived from the same
    * [[graft.ops.FeatureStats.CovColumns]] list as the Spark plan, so
    * the pair set and every cast can't drift between the two sides.
    */
  private def covMatrixSql: String = {
    val cols = graft.ops.FeatureStats.CovColumns
    val sums = cols.map { case (n, c) =>
      s"CAST(CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS s_$n"
    }
    val pairs = for { i <- cols.indices; j <- i until cols.size }
      yield (cols(i), cols(j))
    val prodSums = pairs.map { case ((ni, ci), (nj, cj)) =>
      s"CAST(CAST(SUM(CAST(CAST($ci AS DECIMAL(18,2)) * CAST($cj AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sp_${ni}_$nj"
    }
    val branches = pairs.map { case ((ni, _), (nj, _)) =>
      s"""SELECT '$ni' AS col_x, '$nj' AS col_y, n,
         |  ROUND((sp_${ni}_$nj - s_$ni * s_$nj / n) / (n - 1), 6) AS cov,
         |  ROUND((n * sp_${ni}_$nj - s_$ni * s_$nj) /
         |        (SQRT(n * sp_${ni}_$ni - s_$ni * s_$ni) *
         |         SQRT(n * sp_${nj}_$nj - s_$nj * s_$nj)), 6) AS corr
         |FROM st""".stripMargin
    }
    s"""WITH st AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  ${(sums ++ prodSums).mkString(",\n  ")}
       |  FROM lineitem)
       |SELECT * FROM (
       |${branches.mkString("\nUNION ALL\n")}
       |) ORDER BY col_x, col_y""".stripMargin
  }

  /** Content-defined chunking (Chunking.chunkCdc): the boundary rule is
    * STATELESS — position i (1-based codepoints) cuts iff the polynomial
    * fold of the 8-codepoint window ending at i, h = fold((h·257 + cp)
    * mod 1000003), is ≡ 0 (mod 64) — so the oracle restates it
    * per-position: UNNEST the positions, compute the same nested-mod
    * arithmetic over unicode(substr(...)) codepoints, and rebuild chunks
    * from consecutive cut positions with LAG. The final bound
    * (length(text)) UNION-dedups against a cut landing exactly there,
    * matching the engine's "no empty tail chunk" rule.
    */
  private def cdcChunkCte: String = {
    val h = (6 to 0 by -1).foldLeft("unicode(substr(d.text, gs.i - 7, 1))") {
      (acc, k) => s"(($acc) * 257 + unicode(substr(d.text, gs.i - $k, 1))) % 1000003"
    }
    s"""d AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE text IS NOT NULL AND length(text) > 0),
       |pos AS (
       |  SELECT d.doc_id, gs.i AS i, $h AS h
       |  FROM d, UNNEST(generate_series(8, length(d.text))) gs(i)),
       |bounds AS (
       |  SELECT doc_id, i FROM pos WHERE h % 64 = 0
       |  UNION
       |  SELECT doc_id, length(text) AS i FROM d),
       |seq AS (
       |  SELECT doc_id, i AS cut,
       |         COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS prev,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS chunk_idx
       |  FROM bounds),
       |cdc AS (
       |  SELECT s.doc_id, CAST(s.chunk_idx AS BIGINT) AS chunk_idx,
       |         CAST(s.cut - s.prev AS BIGINT) AS len_cp,
       |         md5(substr(d.text, CAST(s.prev + 1 AS INT), CAST(s.cut - s.prev AS INT))) AS chunk_md5
       |  FROM seq s JOIN d ON s.doc_id = d.doc_id)""".stripMargin
  }

  private def cdcChunksSql: String =
    s"""WITH $cdcChunkCte
       |SELECT doc_id, chunk_idx, len_cp, chunk_md5
       |FROM cdc ORDER BY doc_id, chunk_idx""".stripMargin

  private def cdcDedupSql: String =
    s"""WITH $cdcChunkCte,
       |g AS (
       |  SELECT chunk_md5, COUNT(DISTINCT doc_id) AS n_docs
       |  FROM cdc GROUP BY chunk_md5),
       |p AS (
       |  SELECT c.doc_id,
       |         CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |         CAST(SUM(c.len_cp) AS BIGINT) AS total_cp,
       |         CAST(SUM(CASE WHEN g.n_docs >= 2 THEN c.len_cp ELSE 0 END) AS BIGINT) AS dup_cp
       |  FROM cdc c JOIN g USING (chunk_md5) GROUP BY c.doc_id)
       |SELECT doc_id, n_chunks, total_cp, dup_cp,
       |       CAST(dup_cp * 1000000 // total_cp AS BIGINT) AS dup_frac_micro
       |FROM p ORDER BY doc_id""".stripMargin

  /** Declared-schema cast levels (SchemaCast over resources/schemas/
    * event.yml): the oracle restates each field's violation rule with
    * DuckDB's own TRY_CAST (both engines null on overflow/parse failure)
    * and the domain as an IN-list. Reason/field rows are written out
    * literally so the fixed result shape — zeros included — is part of
    * the contract.
    */
  private def schemaCastReportSql: String = {
    val fields = Seq(
      ("event_id", "Long", "BIGINT", false, ""),
      ("ts", "DateTime", "TIMESTAMP", false, ""),
      ("user_id", "Integer", "INTEGER", false, ""),
      ("event_type", "Text", "VARCHAR", false, "'click','view','purchase','signup'"),
      ("value", "Decimal(4,2)", "DECIMAL(4,2)", false, ""),
      ("props", "Json", "VARCHAR", true, ""))
    val sums = fields.flatMap { case (n, _, d, nullable, dom) =>
      Seq(
        s"CAST(SUM(CASE WHEN ${if (nullable) "FALSE" else s"$n IS NULL"} THEN 1 ELSE 0 END) AS BIGINT) AS nn_$n",
        s"CAST(SUM(CASE WHEN $n IS NOT NULL AND TRY_CAST($n AS $d) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nc_$n",
        s"CAST(SUM(CASE WHEN ${if (dom.isEmpty) "FALSE"
          else s"$n IS NOT NULL AND TRY_CAST($n AS $d) IS NOT NULL AND CAST(TRY_CAST($n AS $d) AS VARCHAR) NOT IN ($dom)"} THEN 1 ELSE 0 END) AS BIGINT) AS nd_$n")
    }
    val rows = fields.map { case (n, decl, _, _, _) =>
      s"SELECT '$n' AS field, '$decl' AS declared, n_rows, nn_$n AS n_null_violations, nc_$n AS n_cast_fail, nd_$n AS n_domain_fail FROM t"
    }
    s"""WITH t AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  ${sums.mkString(",\n  ")}
       |  FROM events)
       |SELECT * FROM (
       |${rows.mkString("\nUNION ALL\n")}
       |) ORDER BY field""".stripMargin
  }

  private def schemaEnforceSql: String = {
    val flags = Seq(
      "null:event_id" -> "event_id IS NULL",
      "null:ts" -> "ts IS NULL",
      "null:user_id" -> "user_id IS NULL",
      "null:event_type" -> "event_type IS NULL",
      "null:value" -> "value IS NULL",
      "cast:event_id" -> "event_id IS NOT NULL AND TRY_CAST(event_id AS BIGINT) IS NULL",
      "cast:ts" -> "ts IS NOT NULL AND TRY_CAST(ts AS TIMESTAMP) IS NULL",
      "cast:user_id" -> "user_id IS NOT NULL AND TRY_CAST(user_id AS INTEGER) IS NULL",
      "cast:event_type" -> "event_type IS NOT NULL AND TRY_CAST(event_type AS VARCHAR) IS NULL",
      "cast:value" -> "value IS NOT NULL AND TRY_CAST(value AS DECIMAL(4,2)) IS NULL",
      "cast:props" -> "props IS NOT NULL AND TRY_CAST(props AS VARCHAR) IS NULL",
      "domain:event_type" ->
        ("event_type IS NOT NULL AND TRY_CAST(event_type AS VARCHAR) IS NOT NULL " +
          "AND event_type NOT IN ('click','view','purchase','signup')"),
      "dup:event_id" ->
        "COALESCE(event_id IN (SELECT event_id FROM events GROUP BY event_id HAVING COUNT(*) > 1), FALSE)")
    val cols = flags.zipWithIndex.map { case ((_, e), i) => s"($e) AS f_$i" }
    val sums = flags.indices.map(i =>
      s"CAST(SUM(CASE WHEN f_$i THEN 1 ELSE 0 END) AS BIGINT) AS c_$i")
    val any = flags.indices.map(i => s"f_$i").mkString(" OR ")
    val rows =
      Seq(
        "SELECT 'rows:total' AS reason, n_total AS n_rows FROM t",
        "SELECT 'rows:clean' AS reason, n_total - n_quar AS n_rows FROM t",
        "SELECT 'rows:quarantined' AS reason, n_quar AS n_rows FROM t") ++
      flags.zipWithIndex.map { case ((r, _), i) =>
        s"SELECT '$r' AS reason, c_$i AS n_rows FROM t"
      }
    s"""WITH f AS (
       |  SELECT ${cols.mkString(",\n  ")}
       |  FROM events),
       |t AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       |         CAST(SUM(CASE WHEN $any THEN 1 ELSE 0 END) AS BIGINT) AS n_quar,
       |  ${sums.mkString(",\n  ")}
       |  FROM f)
       |SELECT * FROM (
       |${rows.mkString("\nUNION ALL\n")}
       |) ORDER BY reason""".stripMargin
  }

  /** Moments-sketch quantile rollup (MomentsSketch.aggQuantileMoments):
    * anchored power sums are exact integers both engines (HUGEINT vs
    * DECIMAL(38,0) — both cast correctly-rounded to the same double),
    * and every estimator step below is the CHARACTER-IDENTICAL
    * expression tree the Spark selectExpr states, so the rounded
    * outputs are bit-equal. Constants reference the op's own fields —
    * anchor/z drift is impossible.
    */
  private def quantileMomentsSql: String = {
    val a = graft.ops.MomentsSketch.Anchor
    val z = graft.ops.MomentsSketch.Z90
    val c50 = graft.ops.MomentsSketch.C50
    val c90 = graft.ops.MomentsSketch.C90
    s"""WITH base AS (
       |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |         CAST(round(value * 100) AS BIGINT) - $a AS x
       |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
       |daily AS (
       |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n,
       |         SUM(CAST(x AS HUGEINT)) AS s1,
       |         SUM(CAST(x AS HUGEINT) * x) AS s2,
       |         SUM(CAST(x AS HUGEINT) * x * x) AS s3
       |  FROM base GROUP BY day),
       |g AS (
       |  SELECT 'day' AS grain, CAST(day AS VARCHAR) AS period, n, s1, s2, s3
       |  FROM daily
       |  UNION ALL
       |  SELECT 'week', CAST(CAST(date_trunc('week', day) AS DATE) AS VARCHAR),
       |         CAST(SUM(n) AS BIGINT), SUM(s1), SUM(s2), SUM(s3)
       |  FROM daily GROUP BY 2
       |  UNION ALL
       |  SELECT 'all', 'all', CAST(SUM(n) AS BIGINT), SUM(s1), SUM(s2), SUM(s3)
       |  FROM daily),
       |m AS (
       |  SELECT grain, period, n,
       |         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
       |         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
       |         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3
       |  FROM g),
       |f AS (
       |  SELECT grain, period, n, mu, r3,
       |         GREATEST(r2 - mu * mu, 0.0) AS m2,
       |         r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3
       |  FROM m),
       |sk AS (
       |  SELECT grain, period, n, mu, m2,
       |         CASE WHEN m2 <= 0.0 THEN 0.0
       |              ELSE m3 / (SQRT(m2) * SQRT(m2) * SQRT(m2)) END AS sk
       |  FROM f)
       |SELECT grain, period, n,
       |       ROUND($a + mu, 6) AS mean_cents,
       |       ROUND(SQRT(m2), 6) AS std_cents,
       |       ROUND(sk, 6) AS skew,
       |       ROUND($a + mu + SQRT(m2) * (CAST($c50 AS DOUBLE) * sk), 6) AS q50_est,
       |       ROUND($a + mu + SQRT(m2) * (CAST($z AS DOUBLE) + CAST($c90 AS DOUBLE) * sk), 6) AS q90_est
       |FROM sk ORDER BY grain, period""".stripMargin
  }

  private val base: Map[String, String] = Map(
    // Same oracle as join_asof: the cogroup and native physical-operator
    // implementations are drop-in replacements for the join+window rewrite.
    "join_asof_grouped" -> SurveySql.duck("join_asof"),
    "join_asof_native" -> SurveySql.duck("join_asof"),
    // Same oracle as join_interval: the bucketed rewrite is semantics-
    // preserving (bucket = range width ⇒ candidates confined to 2 buckets).
    "join_interval_bucketed" -> SurveySql.duck("join_interval"),

    "text_token_count" ->
      """SELECT d.doc_id, c.n_ws,
        |       CAST(len(regexp_extract_all(d.text, '[a-z0-9]{1,4}')) AS BIGINT) AS n_re,
        |       d.n_chars
        |FROM documents d
        |JOIN (SELECT doc_id, COUNT(*) AS n_ws
        |      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents) t
        |      WHERE token <> '' GROUP BY doc_id) c
        |  ON d.doc_id = c.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // Lexical diversity (TextAnalysis.textTtr): same two-level grain —
    // (doc, token) counts, then the doc rollup; ratios are single IEEE
    // divisions of identical exact integers.
    "text_ttr" ->
      """WITH toks AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        |    FROM documents) t
        |  WHERE token <> ''
        |), tt AS (
        |  SELECT doc_id, token, COUNT(*) AS cnt FROM toks GROUP BY doc_id, token
        |)
        |SELECT doc_id,
        |       CAST(SUM(cnt) AS BIGINT) AS n_tok,
        |       COUNT(*) AS n_types,
        |       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |       ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6) AS ttr,
        |       ROUND(CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_ratio
        |FROM tt GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Engine-neutral table checksums (Profile.dqChecksum): DuckDB
    // recomputes the identical canonical-string → md5 → hexFold → SUM /
    // BIT_XOR definition natively — the portability claim IS the check.
    "dq_checksum" -> dqChecksumSql,

    "text_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_tok,
        |         CAST(SUM(LENGTH(token)) AS BIGINT) AS sum_len,
        |         CAST(SUM(CASE WHEN token IN ('the','a','and','of','to') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        |  FROM toks WHERE token <> '' GROUP BY doc_id)
        |SELECT d.doc_id, a.n_tok,
        |       ROUND(CAST(a.sum_len AS DOUBLE) / a.n_tok, 4) AS avg_len,
        |       ROUND(CAST(a.n_stop AS DOUBLE) / a.n_tok, 6) AS stop_ratio,
        |       ROUND(LN(1.0 + d.n_chars) * (1.0 - CAST(a.n_stop AS DOUBLE) / a.n_tok), 6) AS quality
        |FROM documents d JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "text_langid" ->
      """WITH tk AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents) t
        |  WHERE token <> ''),
        |corpus AS (
        |  SELECT d.lang, t.token, COUNT(*) AS c
        |  FROM tk t JOIN documents d ON t.doc_id = d.doc_id
        |  GROUP BY d.lang, t.token),
        |prof AS (
        |  SELECT lang, token FROM (
        |    SELECT lang, token, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, token) AS rn
        |    FROM corpus) p
        |  WHERE rn <= 8),
        |hits AS (
        |  SELECT t.doc_id, p.lang, COUNT(*) AS hits
        |  FROM tk t JOIN prof p ON t.token = p.token
        |  GROUP BY t.doc_id, p.lang)
        |SELECT doc_id, lang AS pred_lang, hits FROM (
        |  SELECT doc_id, lang, hits,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn
        |  FROM hits) h
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS members
        |FROM (SELECT doc_id,
        |             MD5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        |      FROM documents) t
        |GROUP BY fp ORDER BY keep_id""".stripMargin,

    // The positional expansion bound derives from the probed subset itself
    // (max tokens per kept doc — scoped to the same doc_id < 30 filter so
    // the CROSS JOIN never expands to the global max), COALESCEd to 0 so an
    // empty table yields zero rows instead of range(0, NULL).
    "sim_shingle" ->
      """WITH toks AS (
        |  SELECT doc_id, g.o AS pos, s[g.o + 1] AS token
        |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents WHERE doc_id < 30) d
        |  CROSS JOIN (SELECT UNNEST(range(0, (SELECT COALESCE(MAX(len(string_split(text, ' '))), 0) FROM documents WHERE doc_id < 30))) AS o) g
        |  WHERE g.o < len(s) AND s[g.o + 1] <> ''),
        |sh AS (
        |  SELECT doc_id,
        |         token || ' ' || LEAD(token) OVER w || ' ' || LEAD(token, 2) OVER w AS shingle
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |ss AS (SELECT doc_id, list(DISTINCT shingle) AS s FROM sh WHERE shingle IS NOT NULL GROUP BY doc_id)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |             / len(list_distinct(list_concat(a.s, b.s))), 6) AS jac
        |FROM ss a JOIN ss b ON a.doc_id < b.doc_id
        |ORDER BY a_id, b_id""".stripMargin,

    // EXACT unbounded shingle-set similarity self-join at τ=0.5
    // (SimJoin.simJaccardJoin — prefix-filtered AllPairs). The engine's
    // prefix filter is candidate-complete by theorem, so brute force over
    // all pairs states the identical result. Same shingle CTE as
    // sim_shingle, corpus-wide.
    "sim_jaccard_join" ->
      """WITH toks AS (
        |  SELECT doc_id, g.o AS pos, s[g.o + 1] AS token
        |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents) d
        |  CROSS JOIN (SELECT UNNEST(range(0, (SELECT COALESCE(MAX(len(string_split(text, ' '))), 0) FROM documents))) AS o) g
        |  WHERE g.o < len(s) AND s[g.o + 1] <> ''),
        |sh AS (
        |  SELECT doc_id,
        |         token || ' ' || LEAD(token) OVER w || ' ' || LEAD(token, 2) OVER w AS shingle
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |ss AS (SELECT doc_id, list(DISTINCT shingle) AS s FROM sh WHERE shingle IS NOT NULL GROUP BY doc_id)
        |SELECT a_id, b_id, ROUND(jraw, 6) AS jac FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |               / len(list_distinct(list_concat(a.s, b.s))) AS jraw
        |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id) p
        |WHERE jraw >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    // Unigram-LM scoring (TextAnalysis.textLmScore): add-one-smoothed
    // token model trained on the store (doc_id % 3 <> 0), block docs
    // scored by average negative log-likelihood. Per-term ln is rounded
    // to integral micro-nats BEFORE summing (exact integer reduction,
    // order-free) — the same single-ln-then-round discipline text_tfidf
    // uses; only the final per-doc average divides back to a double.
    "text_lm_score" ->
      """WITH toks0 AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
        |tok AS (SELECT doc_id, token FROM toks0 WHERE token <> ''),
        |cnts AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM tok WHERE doc_id % 3 <> 0 GROUP BY token),
        |stats AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
        |         CAST(COUNT(*) AS BIGINT) AS v_size FROM cnts),
        |terms AS (
        |  SELECT b.doc_id, COALESCE(c.cnt, 0) AS cnt,
        |         CAST(ROUND(LN((COALESCE(c.cnt, 0) + 1)
        |               / CAST(s.n_total + s.v_size AS DOUBLE)) * 1e6) AS BIGINT) AS term_micro
        |  FROM tok b LEFT JOIN cnts c USING (token) CROSS JOIN stats s
        |  WHERE b.doc_id % 3 = 0)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_tok,
        |       CAST(SUM(CASE WHEN cnt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       ROUND(-CAST(SUM(term_micro) AS DOUBLE) / COUNT(*) / 1e6, 6) AS avg_nll
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Daily-ingest capstone (Pipelines.pipelineDailyIngest): the LM CTE is
    // text_lm_score verbatim; the dup CTE is incremental_dedup's exact
    // cross-boundary Jaccard join reduced to the distinct new ids; the
    // decision join ships a block doc iff it duplicates nothing stored.
    "pipeline_daily_ingest" ->
      """WITH toks0 AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
        |tok AS (SELECT doc_id, token FROM toks0 WHERE token <> ''),
        |cnts AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM tok WHERE doc_id % 3 <> 0 GROUP BY token),
        |stats AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
        |         CAST(COUNT(*) AS BIGINT) AS v_size FROM cnts),
        |terms AS (
        |  SELECT b.doc_id, COALESCE(c.cnt, 0) AS cnt,
        |         CAST(ROUND(LN((COALESCE(c.cnt, 0) + 1)
        |               / CAST(s.n_total + s.v_size AS DOUBLE)) * 1e6) AS BIGINT) AS term_micro
        |  FROM tok b LEFT JOIN cnts c USING (token) CROSS JOIN stats s
        |  WHERE b.doc_id % 3 = 0),
        |lm AS (
        |  SELECT doc_id,
        |         CAST(COUNT(*) AS BIGINT) AS n_tok,
        |         CAST(SUM(CASE WHEN cnt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |         ROUND(-CAST(SUM(term_micro) AS DOUBLE) / COUNT(*) / 1e6, 6) AS avg_nll
        |  FROM terms GROUP BY doc_id),
        |ptoks AS (
        |  SELECT doc_id, g.o AS pos, s[g.o + 1] AS token
        |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents) d
        |  CROSS JOIN (SELECT UNNEST(range(0, (SELECT COALESCE(MAX(len(string_split(text, ' '))), 0) FROM documents))) AS o) g
        |  WHERE g.o < len(s) AND s[g.o + 1] <> ''),
        |sh AS (
        |  SELECT doc_id,
        |         token || ' ' || LEAD(token) OVER w || ' ' || LEAD(token, 2) OVER w AS shingle
        |  FROM ptoks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |ss AS (SELECT doc_id, list(DISTINCT shingle) AS s FROM sh WHERE shingle IS NOT NULL GROUP BY doc_id),
        |dups AS (
        |  SELECT DISTINCT n.doc_id
        |  FROM ss n JOIN ss o ON n.doc_id % 3 = 0 AND o.doc_id % 3 <> 0
        |  WHERE CAST(len(list_intersect(n.s, o.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(n.s, o.s))) >= 0.5)
        |SELECT lm.doc_id, lm.n_tok, lm.n_oov, lm.avg_nll,
        |       (d.doc_id IS NOT NULL) AS is_dup,
        |       (d.doc_id IS NULL) AS keep
        |FROM lm LEFT JOIN dups d ON lm.doc_id = d.doc_id
        |ORDER BY lm.doc_id""".stripMargin,

    // Incremental (daily-arrival) dedup: the incremental LSH probe + exact
    // re-rank must equal the exact cross-boundary Jaccard join (store =
    // doc_id % 3 != 0, block = doc_id % 3 == 0) — same shingle construction
    // as sim_jaccard_join, restricted to (new, old) pairs.
    "incremental_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, g.o AS pos, s[g.o + 1] AS token
        |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents) d
        |  CROSS JOIN (SELECT UNNEST(range(0, (SELECT COALESCE(MAX(len(string_split(text, ' '))), 0) FROM documents))) AS o) g
        |  WHERE g.o < len(s) AND s[g.o + 1] <> ''),
        |sh AS (
        |  SELECT doc_id,
        |         token || ' ' || LEAD(token) OVER w || ' ' || LEAD(token, 2) OVER w AS shingle
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |ss AS (SELECT doc_id, list(DISTINCT shingle) AS s FROM sh WHERE shingle IS NOT NULL GROUP BY doc_id)
        |SELECT new_id, old_id, ROUND(jraw, 6) AS jac FROM (
        |  SELECT n.doc_id AS new_id, o.doc_id AS old_id,
        |         CAST(len(list_intersect(n.s, o.s)) AS DOUBLE)
        |               / len(list_distinct(list_concat(n.s, o.s))) AS jraw
        |  FROM ss n JOIN ss o ON n.doc_id % 3 = 0 AND o.doc_id % 3 <> 0) p
        |WHERE jraw >= 0.5
        |ORDER BY new_id, old_id""".stripMargin,

    "fn_string2" ->
      """SELECT p_partkey,
        |       translate(p_type, 'AEIOU', 'aeiou') AS tr,
        |       reverse(p_brand) AS rev,
        |       repeat('ab', p_size % 3 + 1) AS rep,
        |       CAST(strpos(p_name, 'green') AS BIGINT) AS pos,
        |       left(p_name, 6) AS l6,
        |       right(p_brand, 3) AS r3
        |FROM part ORDER BY p_partkey LIMIT 500""".stripMargin,

    "win_nth_value" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(NTH_VALUE(CAST(o_totalprice AS DECIMAL(18,2)), 2) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE) AS second_price
        |FROM orders ORDER BY o_custkey, o_orderkey LIMIT 3000""".stripMargin,

    "pipeline_revenue_by_segment" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS rev
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_totalprice > 150000.0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "agg_percentile" ->
      """SELECT l_returnflag,
        |       ROUND(quantile_cont(l_quantity, 0.25), 4) AS q25,
        |       ROUND(quantile_cont(l_quantity, 0.5), 4) AS q50,
        |       ROUND(quantile_cont(l_quantity, 0.75), 4) AS q75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "sim_edit_distance" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 15)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       levenshtein(a.text, b.text) AS dist
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |ORDER BY a_id, b_id""".stripMargin,

    // fn_map's projection is all scalars (the map itself never leaves the
    // engine), so the oracle states the expected values directly from the
    // source columns.
    "fn_map" ->
      """SELECT event_id, event_type AS ty, CAST(NULL AS VARCHAR) AS absent,
        |       2 AS n_entries, 'type,user' AS ks
        |FROM events ORDER BY event_id LIMIT 1000""".stripMargin,

    // The synthetic media corpus is text-derived and the decode stub is the
    // identity, so kind / byte-count / md5 fingerprint are SQL-derivable —
    // a full value check on the typed mapPartitions plumbing.
    "multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |       CAST(strlen(text) AS BIGINT) AS n_bytes,
        |       md5(text) AS fingerprint
        |FROM documents ORDER BY media_id""".stripMargin,

    // Exact media dedup (Multimodal.mediaDedup): sha256 over the SAME
    // UTF-8 bytes, duplicate-cardinality histogram + survivor checksum.
    "multimodal_dedup" ->
      """WITH g AS (
        |  SELECT sha256(text) AS digest,
        |         MIN(doc_id) AS keeper,
        |         COUNT(*) AS n_copies
        |  FROM documents GROUP BY 1)
        |SELECT CAST(n_copies AS BIGINT) AS n_copies,
        |       CAST(COUNT(*) AS BIGINT) AS n_groups,
        |       CAST(SUM(keeper) AS BIGINT) AS sum_keeper
        |FROM g GROUP BY n_copies ORDER BY n_copies""".stripMargin,

    // Resize stage (Multimodal.mediaResize): aspect-fit dims as integer
    // math on the synthetic metadata (w = min(len,1024), h = 256), and
    // the stride-k byte downsample as a 1-based character walk over the
    // ASCII payload (range + string_agg ORDER BY) — full value check of
    // the typed mapPartitions resize, fingerprint included.
    "multimodal_resize" ->
      """WITH b AS (
        |  SELECT doc_id,
        |         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |         text,
        |         CAST(strlen(text) AS BIGINT) AS len,
        |         LEAST(CAST(strlen(text) AS BIGINT), 1024) AS w
        |  FROM documents),
        |dims AS (
        |  SELECT doc_id, kind, text, len,
        |         CASE WHEN w >= 256 THEN CAST(LEAST(w, 128) AS INTEGER)
        |              ELSE CAST(GREATEST(1, (w * 128) // 256) AS INTEGER) END AS out_w,
        |         CASE WHEN w >= 256 THEN CAST(GREATEST(1, (256 * LEAST(w, 128)) // w) AS INTEGER)
        |              ELSE 128 END AS out_h,
        |         GREATEST(1, (len + 191) // 192) AS k
        |  FROM b),
        |idx AS (
        |  SELECT doc_id, text, UNNEST(range(1, len + 1, k)) AS i FROM dims),
        |res AS (
        |  SELECT doc_id,
        |         string_agg(substring(text, CAST(i AS INTEGER), 1), '' ORDER BY i) AS out
        |  FROM idx GROUP BY doc_id)
        |SELECT d.doc_id AS media_id, d.kind, d.out_w, d.out_h,
        |       CAST(strlen(COALESCE(r.out, '')) AS BIGINT) AS n_bytes,
        |       md5(COALESCE(r.out, '')) AS fingerprint
        |FROM dims d LEFT JOIN res r ON d.doc_id = r.doc_id
        |ORDER BY media_id""".stripMargin,

    "pivot_wide" ->
      """SELECT l_returnflag,
        |       CAST(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS DOUBLE) AS F,
        |       CAST(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS DOUBLE) AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "unpivot_long" ->
      """SELECT p_partkey, 'retail' AS metric, p_retailprice AS val FROM part
        |UNION ALL
        |SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
        |ORDER BY p_partkey, metric""".stripMargin,

    // Deterministic hash sample: both engines hash the identical decimal
    // rendering of doc_id, so the kept set is exactly reproducible.
    "sample_hash" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
        |ORDER BY doc_id""".stripMargin,

    // Predicate aggregates (Aggregates.aggBool): identical semantics in
    // DuckDB's count_if/bool_and/bool_or.
    "agg_bool" ->
      """SELECT l_returnflag,
        |       CAST(count_if(l_quantity > 25) AS BIGINT) AS n_bulk,
        |       bool_and(l_extendedprice > 0) AS all_priced,
        |       bool_or(l_discount > 0.09) AS any_deep_disc,
        |       CAST(count_if(l_discount = 0) AS BIGINT) AS n_zero_disc,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // grouping()/grouping_id() (Aggregates.aggGroupingId): DuckDB's
    // GROUPING carries the same leftmost-MSB bitmask semantics.
    "agg_grouping_id" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        |       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |       COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "agg_string" ->
      """SELECT s_nationkey, COUNT(*) AS n,
        |       string_agg(s_name, ',' ORDER BY s_name) AS names
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // Native ordered LISTAGG (Reshape.aggListagg): DuckDB's string_agg
    // with in-aggregate ORDER BY is the same SQL-standard semantic the
    // Spark 4 `listagg … WITHIN GROUP` surface provides.
    "agg_listagg" ->
      """SELECT s_nationkey, COUNT(*) AS n,
        |       string_agg(s_name, ',' ORDER BY s_name) AS names,
        |       string_agg(DISTINCT CAST(s_suppkey % 3 AS VARCHAR), '|'
        |         ORDER BY CAST(s_suppkey % 3 AS VARCHAR)) AS key_mods
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // Feature scaling (FeatureStats.featureScale): exact integer/cents
    // moments per flag, then the identical IEEE double tree per row.
    "feature_scale" ->
      """WITH rows_ AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag AS f,
        |         CAST(round(l_quantity) AS BIGINT) AS qc,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem
        |), st AS (
        |  SELECT f, COUNT(*) AS n,
        |         CAST(SUM(qc) AS BIGINT) AS s1q,
        |         CAST(SUM(qc * qc) AS BIGINT) AS s2q,
        |         MIN(qc) AS minq, MAX(qc) AS maxq,
        |         CAST(SUM(pc) AS BIGINT) AS s1p,
        |         SUM(CAST(pc AS HUGEINT) * pc) AS s2p,
        |         MIN(pc) AS minp, MAX(pc) AS maxp
        |  FROM rows_ GROUP BY f
        |)
        |SELECT l_orderkey, l_linenumber, f, qc, pc,
        |  ROUND((CAST(qc AS DOUBLE) - CAST(s1q AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    SQRT((CAST(s2q AS DOUBLE) - CAST(s1q AS DOUBLE) * CAST(s1q AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    CAST(n - 1 AS DOUBLE)), 6) AS z_q,
        |  ROUND(CAST(qc - minq AS DOUBLE) / CAST(maxq - minq AS DOUBLE), 6) AS mm_q,
        |  ROUND((CAST(pc AS DOUBLE) - CAST(s1p AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    SQRT((CAST(s2p AS DOUBLE) - CAST(s1p AS DOUBLE) * CAST(s1p AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    CAST(n - 1 AS DOUBLE)), 6) AS z_p,
        |  ROUND(CAST(pc - minp AS DOUBLE) / CAST(maxp - minp AS DOUBLE), 6) AS mm_p
        |FROM rows_ JOIN st USING (f)
        |ORDER BY l_orderkey, l_linenumber LIMIT 3000""".stripMargin,

    // Observed-metrics pipeline (Pipelines.pipelineObserve): the
    // CollectMetrics node is value-invisible — the oracle is the plain
    // aggregate; PipelineSpec pins the delivered metrics.
    "pipeline_observe" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderstatus <> 'P'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "agg_stats2" ->
      """SELECT l_returnflag,
        |       ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |       ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS cov_s,
        |       ROUND(covar_pop(l_quantity, l_extendedprice), 2) AS cov_p,
        |       ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |       ROUND(regr_intercept(l_extendedprice, l_quantity), 2) AS icept
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "text_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS s FROM documents),
        |toks AS (SELECT doc_id, UNNEST(s) AS token FROM tk),
        |tstat AS (SELECT doc_id, COUNT(*) AS n_tok, COUNT(DISTINCT token) AS n_uniq
        |          FROM toks GROUP BY doc_id),
        |bg AS (SELECT doc_id,
        |              UNNEST(CASE WHEN len(s) >= 2
        |                     THEN list_transform(range(1, len(s)), i -> s[i] || ' ' || s[i+1])
        |                     ELSE [] END) AS bg
        |       FROM tk),
        |bstat AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bg, MAX(c) AS top_bg
        |          FROM (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg)
        |          GROUP BY doc_id)
        |SELECT t.doc_id, t.n_tok,
        |       ROUND(CAST(t.n_uniq AS DOUBLE) / t.n_tok, 6) AS uniq_ratio,
        |       ROUND(CAST(b.top_bg AS DOUBLE) / b.n_bg, 6) AS top_bigram_frac
        |FROM tstat t JOIN bstat b ON t.doc_id = b.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // Gopher-rule filter: flags computed from the RAW n/m double ratios
    // (exact-integer operands ⇒ bitwise-identical IEEE results cross-
    // engine); the rounded ratios are display columns only.
    "text_gopher_filter" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_tok,
        |         CAST(SUM(LENGTH(token)) AS BIGINT) AS sum_len,
        |         CAST(SUM(CASE WHEN token IN ('the','a','and','of','to') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
        |         COUNT(DISTINCT token) AS n_uniq
        |  FROM toks WHERE token <> '' GROUP BY doc_id)
        |SELECT doc_id, n_tok,
        |       ROUND(CAST(sum_len AS DOUBLE) / n_tok, 4) AS avg_len,
        |       n_stop,
        |       ROUND(CAST(n_uniq AS DOUBLE) / n_tok, 6) AS uniq_ratio,
        |       CAST(n_tok >= 30 AND n_tok <= 100000 AS INT) AS rule_wc,
        |       CAST(CAST(sum_len AS DOUBLE) / n_tok >= 3.0
        |            AND CAST(sum_len AS DOUBLE) / n_tok <= 10.0 AS INT) AS rule_awl,
        |       CAST(n_stop >= 2 AS INT) AS rule_stop,
        |       CAST(CAST(n_uniq AS DOUBLE) / n_tok >= 0.3 AS INT) AS rule_uniq,
        |       CAST(n_tok >= 30 AND n_tok <= 100000
        |            AND CAST(sum_len AS DOUBLE) / n_tok >= 3.0
        |            AND CAST(sum_len AS DOUBLE) / n_tok <= 10.0
        |            AND n_stop >= 2
        |            AND CAST(n_uniq AS DOUBLE) / n_tok >= 0.3 AS INT) AS keep
        |FROM agg ORDER BY doc_id""".stripMargin,

    "dedup_keep_best" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |         MD5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        |  FROM documents),
        |toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_tok,
        |         CAST(SUM(CASE WHEN token IN ('the','a','and','of','to') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        |  FROM toks WHERE token <> '' GROUP BY doc_id),
        |q AS (
        |  SELECT d.doc_id,
        |         ROUND(LN(1.0 + d.n_chars) * (1.0 - CAST(a.n_stop AS DOUBLE) / a.n_tok), 6) AS quality
        |  FROM documents d JOIN agg a ON d.doc_id = a.doc_id),
        |j AS (SELECT f.doc_id, f.fp, q.quality FROM fp f JOIN q ON f.doc_id = q.doc_id)
        |SELECT doc_id AS keep_id, fp, members, quality FROM (
        |  SELECT doc_id, fp, quality,
        |         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY quality DESC, doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY fp) AS members
        |  FROM j) r
        |WHERE rn = 1 ORDER BY keep_id""".stripMargin,

    // Per-kind feature aggregate over the same text-derived corpus. The
    // text is pure ASCII, so Spark's byte entropy == DuckDB's char-frequency
    // entropy; the 4-decimal rounding on the per-kind average absorbs the
    // ~1 ulp float-summation-order slack between engines. Validated against
    // an independent Python reference (identical at sf0.01 and sf0.1).
    "multimodal_features" ->
      """WITH chars AS (
        |  SELECT doc_id, UNNEST(string_split(text, '')) AS ch FROM documents),
        |freq AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch),
        |tot AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n FROM freq GROUP BY doc_id),
        |ent AS (
        |  SELECT f.doc_id, -SUM((f.c / t.n) * log2(f.c / t.n)) AS entropy
        |  FROM freq f JOIN tot t ON f.doc_id = t.doc_id GROUP BY f.doc_id)
        |SELECT CASE d.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |       COUNT(*) AS n,
        |       ROUND(AVG(e.entropy), 4) AS avg_entropy,
        |       CAST(SUM(strlen(d.text)) AS BIGINT) AS total_bytes
        |FROM documents d JOIN ent e ON d.doc_id = e.doc_id
        |GROUP BY kind ORDER BY kind""".stripMargin,

    "sim_cosine_threshold" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         list_dot_product(a.e, b.e)
        |         / (SQRT(list_dot_product(a.e, a.e)) * SQRT(list_dot_product(b.e, b.e))) AS cos
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT a_id, b_id, ROUND(cos, 6) AS cos
        |FROM pairs WHERE cos >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,

    // Longest-first striping over k=8 bins; the oracle's global
    // ROW_NUMBER is what the engine computes via two-pass ranking.
    "pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, n_tok,
        |         ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) AS rk
        |  FROM toks)
        |SELECT (rk - 1) % 8 AS bin, COUNT(*) AS n_docs,
        |       CAST(SUM(n_tok) AS BIGINT) AS tok_mass
        |FROM ranked GROUP BY bin ORDER BY bin""".stripMargin,

    "win_time_range" ->
      """SELECT event_id, user_id,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |         PARTITION BY user_id ORDER BY ts
        |         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |         AS DECIMAL(38,2)) AS DOUBLE) AS sum_1h
        |FROM events ORDER BY event_id""".stripMargin,

    "funnel_conversion" ->
      """WITH stages AS (
        |  SELECT user_id,
        |         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT COUNT(*) AS users,
        |       CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS clicked,
        |       CAST(SUM(CASE WHEN t_click < t_view THEN 1 ELSE 0 END) AS BIGINT) AS click_then_view,
        |       CAST(SUM(CASE WHEN t_click < t_view AND t_view < t_purchase THEN 1 ELSE 0 END) AS BIGINT) AS full_funnel
        |FROM stages""".stripMargin,

    "vec_quantize" ->
      """SELECT vec_id,
        |       ROUND(mx / 127.0, 9) AS scale,
        |       array_to_string(list_transform(e, x -> CAST(ROUND(x * 127.0 / mx) AS INT)), ',') AS codes
        |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |      FROM embeddings)
        |WHERE mx > 0 ORDER BY vec_id""".stripMargin,

    "agg_histogram" ->
      """SELECT CAST(FLOOR(l_quantity / 5.0) AS BIGINT) AS bucket, COUNT(*) AS n
        |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin,

    "ts_resample" ->
      """WITH b AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h FROM events WHERE user_id < 20),
        |r AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM b GROUP BY user_id),
        |grid AS (
        |  SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM r),
        |c AS (SELECT user_id, h, COUNT(*) AS cnt FROM b GROUP BY user_id, h)
        |SELECT g.user_id, g.h, COALESCE(c.cnt, 0) AS cnt
        |FROM grid g LEFT JOIN c ON g.user_id = c.user_id AND g.h = c.h
        |ORDER BY g.user_id, g.h""".stripMargin,

    // Linear interpolation over the hourly grid (Reshape.tsInterpolate):
    // missing hours take the line between nearest observed neighbors,
    // edges carry the nearest observation. Neighbor markers via
    // IGNORE NULLS window scans, ratio formula mirrored token for token.
    "ts_interpolate" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h,
        |         CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events WHERE user_id < 20 AND value IS NOT NULL),
        |hourly AS (SELECT user_id, h, CAST(SUM(vc) AS BIGINT) AS sc FROM ev GROUP BY 1, 2),
        |r AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1),
        |grid AS (SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM r),
        |j AS (
        |  SELECT g.user_id, g.h, epoch(g.h) AS hs, hourly.sc
        |  FROM grid g LEFT JOIN hourly ON g.user_id = hourly.user_id AND g.h = hourly.h),
        |m AS (
        |  SELECT user_id, h, hs, sc,
        |         LAST_VALUE(sc IGNORE NULLS) OVER wp AS pv,
        |         LAST_VALUE(CASE WHEN sc IS NOT NULL THEN hs END IGNORE NULLS) OVER wp AS ph,
        |         FIRST_VALUE(sc IGNORE NULLS) OVER wn AS nv,
        |         FIRST_VALUE(CASE WHEN sc IS NOT NULL THEN hs END IGNORE NULLS) OVER wn AS nh
        |  FROM j WINDOW
        |    wp AS (PARTITION BY user_id ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY user_id ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, h,
        |       ROUND(CASE WHEN sc IS NOT NULL THEN CAST(sc AS DOUBLE)
        |                  WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
        |                  WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
        |                  ELSE CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE) *
        |                       (CAST(hs - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE))
        |             END / 100.0, 6) AS v_interp,
        |       sc IS NOT NULL AS observed
        |FROM m ORDER BY user_id, h""".stripMargin,

    // Rolling 10-row Pearson r per supplier (Windows.winRollingCorr):
    // decimal-exact frame moments, one float formula, NULL on degenerate
    // frames via an exact zero-variance test.
    "win_rolling_corr" ->
      """WITH f AS (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |         CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |         CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |  FROM lineitem WHERE l_suppkey < 200),
        |m AS (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |         COUNT(*) OVER w AS n,
        |         CAST(CAST(SUM(x) OVER w AS DECIMAL(38,2)) AS DOUBLE) AS sx,
        |         CAST(CAST(SUM(y) OVER w AS DECIMAL(38,2)) AS DOUBLE) AS sy,
        |         CAST(CAST(SUM(CAST(x * y AS DECIMAL(28,4))) OVER w AS DECIMAL(38,4)) AS DOUBLE) AS sxy,
        |         CAST(CAST(SUM(CAST(x * x AS DECIMAL(18,4))) OVER w AS DECIMAL(38,4)) AS DOUBLE) AS sxx,
        |         CAST(CAST(SUM(CAST(y * y AS DECIMAL(28,4))) OVER w AS DECIMAL(38,4)) AS DOUBLE) AS syy
        |  FROM f WINDOW w AS (
        |    PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber, x, y
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        |SELECT l_suppkey, l_orderkey, l_linenumber, n,
        |       ROUND(CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
        |                  ELSE (n * sxy - sx * sy) /
        |                       (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) END,
        |             6) AS roll_corr
        |FROM m ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "win_fill_forward" ->
      """SELECT user_id, event_id,
        |       last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_purchase
        |FROM events ORDER BY user_id, event_id LIMIT 3000""".stripMargin,

    "fn_bits" ->
      """SELECT o_orderkey,
        |       o_orderkey & 255 AS band,
        |       o_orderkey | 1024 AS bor,
        |       xor(o_orderkey, 4095) AS bxor,
        |       o_orderkey << 2 AS shl,
        |       o_orderkey >> 3 AS shr,
        |       CAST(bit_count(o_orderkey) AS BIGINT) AS bcnt
        |FROM orders ORDER BY o_orderkey LIMIT 2000""".stripMargin,

    // Duplicate-cluster resolution: the engine runs large-star/small-star
    // connected components over the τ=0.95 token-set-Jaccard pair graph;
    // the oracle computes the identical components as min-reachable-id via
    // a recursive CTE over the same (deterministic, exact-Jaccard) edges.
    "dedup_components" ->
      """WITH RECURSIVE ss AS (
        |  SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS s
        |  FROM documents WHERE doc_id < 100),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.95),
        |edges AS (SELECT a_id AS s, b_id AS t FROM pairs
        |          UNION SELECT b_id, a_id FROM pairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s)
        |SELECT d.doc_id,
        |       LEAST(d.doc_id, COALESCE(MIN(r.t), d.doc_id)) AS component_id
        |FROM documents d LEFT JOIN reach r ON r.s = d.doc_id
        |WHERE d.doc_id < 100
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // Same components + per-cluster canonical pick (best 6-dp quality,
    // doc_id tiebreak) — the keep/drop decision itself.
    "dedup_resolve" ->
      """WITH RECURSIVE ss AS (
        |  SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS s
        |  FROM documents WHERE doc_id < 100),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.95),
        |edges AS (SELECT a_id AS s, b_id AS t FROM pairs
        |          UNION SELECT b_id, a_id FROM pairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
        |comp AS (
        |  SELECT d.doc_id,
        |         LEAST(d.doc_id, COALESCE(MIN(r.t), d.doc_id)) AS component_id
        |  FROM documents d LEFT JOIN reach r ON r.s = d.doc_id
        |  WHERE d.doc_id < 100 GROUP BY d.doc_id),
        |toks AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_tok,
        |         CAST(SUM(CASE WHEN token IN ('the','a','and','of','to') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        |  FROM toks WHERE token <> '' GROUP BY doc_id),
        |q AS (
        |  SELECT d.doc_id,
        |         ROUND(LN(1.0 + d.n_chars) * (1.0 - CAST(a.n_stop AS DOUBLE) / a.n_tok), 6) AS quality
        |  FROM documents d JOIN agg a ON d.doc_id = a.doc_id)
        |SELECT doc_id, component_id, canonical_id, n_members,
        |       doc_id = canonical_id AS is_kept
        |FROM (
        |  SELECT c.doc_id, c.component_id,
        |         FIRST_VALUE(c.doc_id) OVER (PARTITION BY c.component_id
        |                                     ORDER BY q.quality DESC, c.doc_id) AS canonical_id,
        |         COUNT(*) OVER (PARTITION BY c.component_id) AS n_members
        |  FROM comp c JOIN q ON c.doc_id = q.doc_id) r
        |ORDER BY doc_id""".stripMargin,

    "sample_stratified" ->
      """SELECT event_type, rn, event_id FROM (
        |  SELECT event_type, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events) s
        |WHERE rn <= 5 ORDER BY event_type, rn""".stripMargin,

    "split_train_test" ->
      """SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
        |            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |            ELSE 'train' END AS split,
        |       lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY split, lang ORDER BY split, lang""".stripMargin,

    // End-to-end corpus clean: quality gate → exact dedup (keep min id) →
    // fingerprint near-dup (keep best quality) → per-lang audit. DECIMAL
    // sum for avg_quality matches the engine's reassociation-proof sum.
    "pipeline_corpus_clean" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_tok,
        |         CAST(SUM(CASE WHEN token IN ('the','a','and','of','to') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        |  FROM toks WHERE token <> '' GROUP BY doc_id),
        |q AS (
        |  SELECT d.doc_id, d.text, d.lang, d.n_chars,
        |         ROUND(LN(1.0 + d.n_chars) * (1.0 - CAST(a.n_stop AS DOUBLE) / a.n_tok), 6) AS quality
        |  FROM documents d JOIN agg a ON d.doc_id = a.doc_id),
        |gated AS (SELECT * FROM q WHERE quality >= 4.5),
        |exact AS (
        |  SELECT * FROM (
        |    SELECT g.*, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM gated g) e
        |  WHERE rn = 1),
        |near AS (
        |  SELECT * FROM (
        |    SELECT e.*, ROW_NUMBER() OVER (
        |      PARTITION BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        |      ORDER BY quality DESC, doc_id) AS rn2
        |    FROM exact e) n
        |  WHERE rn2 = 1)
        |SELECT lang, COUNT(*) AS n_docs,
        |       ROUND(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_quality,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM near GROUP BY lang ORDER BY lang""".stripMargin,

    // Batch sessionization, 6h inactivity gap. Strict > on the µs axis on
    // both engines; session sums decimal-exact then DOUBLE.
    "sessionize_gap" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, value,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |         SUM(CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 360 MINUTE
        |                  THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_ev,
        |       MIN(ts) AS ss, MAX(ts) AS se,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sv
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "cohort_retention" ->
      """WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |f AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort FROM p GROUP BY user_id)
        |SELECT f.cohort,
        |       CAST(FLOOR(datediff('day', f.cohort, CAST(e.ts AS DATE)) / 7) AS BIGINT) AS week_n,
        |       COUNT(DISTINCT e.user_id) AS n_users
        |FROM p e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // z from DECIMAL-exact Σv/Σv² so both engines cut |z|>3 on
    // bit-identical doubles (see Behavior.anomalyZscore).
    "anomaly_zscore" ->
      """WITH st AS (
        |  SELECT event_type, COUNT(*) AS n,
        |         CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS s1,
        |         CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS s2
        |  FROM events GROUP BY event_type),
        |m AS (
        |  SELECT event_type, s1 / n AS mu,
        |         SQRT((s2 - s1 * s1 / n) / (n - 1)) AS sigma
        |  FROM st)
        |SELECT e.event_id, e.event_type, e.value,
        |       ROUND((e.value - m.mu) / m.sigma, 4) AS z
        |FROM events e JOIN m ON e.event_type = m.event_type
        |WHERE ABS((e.value - m.mu) / m.sigma) > 3.0
        |ORDER BY e.event_id""".stripMargin,

    "ngram_topk" ->
      """WITH g AS (
        |  SELECT UNNEST(list_transform(range(0, GREATEST(len(s) - 2, 0)),
        |                i -> array_to_string(list_slice(s, i + 1, i + 3), ' '))) AS gram
        |  FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS s FROM documents))
        |SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram
        |ORDER BY cnt DESC, gram LIMIT 25""".stripMargin,

    // Same eval split as split_train_test's test bucket (md5 nibble e/f).
    "decontaminate" ->
      """WITH grams AS (
        |  SELECT DISTINCT doc_id,
        |         substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') AS is_eval,
        |         UNNEST(list_transform(range(0, GREATEST(len(s) - 4, 0)),
        |                i -> array_to_string(list_slice(s, i + 1, i + 5), ' '))) AS gram
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS s FROM documents)),
        |train AS (SELECT doc_id, gram FROM grams WHERE NOT is_eval),
        |ev AS (SELECT DISTINCT gram FROM grams WHERE is_eval),
        |totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id),
        |hits AS (SELECT t.doc_id, COUNT(*) AS n_hit
        |         FROM train t JOIN ev ON t.gram = ev.gram GROUP BY t.doc_id)
        |SELECT t.doc_id, t.n_grams, h.n_hit,
        |       ROUND(CAST(h.n_hit AS DOUBLE) / t.n_grams, 6) AS hit_frac
        |FROM totals t JOIN hits h ON t.doc_id = h.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // Per-document duplicated-span fraction (TextAnalysis.textDupSpans,
    // k=8): window OCCURRENCES whose gram appears in ≥2 distinct docs.
    // Same tokenization CTE as decontaminate; integer counts, one double
    // division rounded at the end on both sides.
    "text_dup_spans" ->
      """WITH wins AS (
        |  SELECT doc_id,
        |         UNNEST(list_transform(range(0, GREATEST(len(s) - 7, 0)),
        |                i -> array_to_string(list_slice(s, i + 1, i + 8), ' '))) AS gram
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS s FROM documents)),
        |dup AS (SELECT gram FROM wins GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
        |tot AS (SELECT doc_id, COUNT(*) AS n_win FROM wins GROUP BY doc_id),
        |hit AS (SELECT w.doc_id, COUNT(*) AS n_dup FROM wins w JOIN dup USING (gram) GROUP BY w.doc_id)
        |SELECT t.doc_id, t.n_win,
        |       CAST(COALESCE(h.n_dup, 0) AS BIGINT) AS n_dup,
        |       ROUND(CAST(COALESCE(h.n_dup, 0) AS DOUBLE) / t.n_win, 6) AS dup_frac
        |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // Pearson r / covar_samp from DECIMAL-exact moments → one fixed IEEE
    // expression per engine (built-in corr/covar merge order is
    // partitioning-dependent; see Aggregates.aggCorr).
    "agg_corr" ->
      """WITH st AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sx,
        |         CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sy,
        |         CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sxy,
        |         CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sxx,
        |         CAST(CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       ROUND((n * sxy - sx * sy) /
        |             (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6) AS corr_qd,
        |       ROUND((sxy - sx * sy / n) / (n - 1), 6) AS covar_qd
        |FROM st ORDER BY l_returnflag""".stripMargin,

    // Same τ=0.95 probe edges as dedup_components; triangles a<b<c once
    // each, attributed to all three corners (Graph.graphTriangles).
    "graph_triangles" ->
      """WITH ss AS (
        |  SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS s
        |  FROM documents WHERE doc_id < 100),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.95),
        |tris AS (
        |  SELECT e1.a_id AS a, e1.b_id AS b, e2.b_id AS c
        |  FROM pairs e1
        |  JOIN pairs e2 ON e1.b_id = e2.a_id
        |  JOIN pairs e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id),
        |corners AS (
        |  SELECT UNNEST([a, b, c]) AS doc_id FROM tris),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_tri FROM corners GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(cnt.n_tri, 0) AS n_tri
        |FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id
        |WHERE d.doc_id < 100
        |ORDER BY d.doc_id""".stripMargin,

    // Embedding-cosine near-dup clusters: same raw >= 0.4 edge cut as
    // sim_cosine_threshold, recursive-CTE components like
    // dedup_components (Graph.dedupSemantic).
    "dedup_semantic" ->
      """WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.e, b.e)
        |        / (SQRT(list_dot_product(a.e, a.e)) * SQRT(list_dot_product(b.e, b.e))) >= 0.4),
        |edges AS (SELECT a_id AS s, b_id AS t FROM pairs
        |          UNION SELECT b_id, a_id FROM pairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s)
        |SELECT em.vec_id,
        |       LEAST(em.vec_id, COALESCE(MIN(r.t), em.vec_id)) AS component_id
        |FROM embeddings em LEFT JOIN reach r ON r.s = em.vec_id
        |GROUP BY em.vec_id
        |ORDER BY em.vec_id""".stripMargin,

    // Sub-quadratic ANN operating point of dedup_semantic
    // (Graph.dedupSemanticAnn, tau=0.8). The oracle computes the EXACT
    // clusters at 0.8; the engine's LSH candidate set is a subset of all
    // pairs, and on this corpus (max pairwise cosine ~0.60 at every SF)
    // the true 0.8 edge set is empty, so subset ⇒ identical result —
    // exactness here does NOT depend on LSH recall. AnnDedupSpec covers
    // the discriminative (planted near-dup) regime.
    "dedup_semantic_ann" ->
      """WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.e, b.e)
        |        / (SQRT(list_dot_product(a.e, a.e)) * SQRT(list_dot_product(b.e, b.e))) >= 0.8),
        |edges AS (SELECT a_id AS s, b_id AS t FROM pairs
        |          UNION SELECT b_id, a_id FROM pairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s)
        |SELECT em.vec_id,
        |       LEAST(em.vec_id, COALESCE(MIN(r.t), em.vec_id)) AS component_id
        |FROM embeddings em LEFT JOIN reach r ON r.s = em.vec_id
        |GROUP BY em.vec_id
        |ORDER BY em.vec_id""".stripMargin,

    // Mirror of join_asof with the range direction flipped: first
    // purchase at or after each signup (Temporal.joinAsofForward).
    "join_asof_forward" ->
      """WITH s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
        |p AS (SELECT event_id AS p_event_id, user_id, ts AS p_ts, value AS p_value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT event_id, user_id, p_ts, CAST(CAST(p_value AS DECIMAL(18,2)) AS DOUBLE) AS p_value FROM (
        |  SELECT s.event_id, s.user_id, p.p_ts, p.p_value,
        |         ROW_NUMBER() OVER (PARTITION BY s.event_id ORDER BY p.p_ts ASC, p.p_event_id ASC) AS rn
        |  FROM s JOIN p ON s.user_id = p.user_id AND s.ts <= p.p_ts
        |) t WHERE rn = 1
        |ORDER BY event_id""".stripMargin,

    // Nearest signup by exact integer-microsecond distance, tie to the
    // earlier signup then id (Temporal.joinAsofNearest).
    "join_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |s AS (SELECT event_id AS s_event_id, user_id, ts AS s_ts, value AS s_value
        |      FROM events WHERE event_type = 'signup')
        |SELECT event_id, user_id, s_ts, CAST(CAST(s_value AS DECIMAL(18,2)) AS DOUBLE) AS s_value FROM (
        |  SELECT p.event_id, p.user_id, s.s_ts, s.s_value,
        |         ROW_NUMBER() OVER (PARTITION BY p.event_id
        |           ORDER BY ABS(epoch_us(p.ts) - epoch_us(s.s_ts)) ASC, s.s_ts ASC, s.s_event_id ASC) AS rn
        |  FROM p JOIN s ON p.user_id = s.user_id
        |) t WHERE rn = 1
        |ORDER BY event_id""".stripMargin,

    // Directional containment |A∩B|/|A| on probe token sets, either
    // direction >= 0.9 (TextAnalysis.simContainment).
    "sim_containment" ->
      """WITH ss AS (
        |  SELECT doc_id, s FROM (
        |    SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS s
        |    FROM documents WHERE doc_id < 30)
        |  WHERE len(s) > 0)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 6) AS cont_ab,
        |       ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s), 6) AS cont_ba
        |FROM ss a JOIN ss b ON a.doc_id < b.doc_id
        |WHERE GREATEST(ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 6),
        |               ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s), 6)) >= 0.9
        |ORDER BY a_id, b_id""".stripMargin,

    // 10^12-scaled integer PageRank — every step integer division, so
    // both engines truncate identically; no float accumulation anywhere
    // (Graph.graphPagerank). DuckDB `//` floor-div == Spark `div` on the
    // all-positive values here.
    "graph_pagerank" ->
      """WITH ss AS (
        |  SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS s
        |  FROM documents WHERE doc_id < 100),
        |pairs AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.95),
        |edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |nodes AS (SELECT doc_id AS node FROM documents WHERE doc_id < 100),
        |deg AS (SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY src),
        |r0 AS (SELECT node, CAST(10000000000 AS BIGINT) AS r FROM nodes),
        |r1 AS (
        |  SELECT n.node,
        |         CAST(1500000000 + (17 * COALESCE(SUM(p.r // d.degree), 0)) // 20 AS BIGINT) AS r
        |  FROM nodes n
        |  LEFT JOIN edges e ON e.dst = n.node
        |  LEFT JOIN r0 p ON p.node = e.src
        |  LEFT JOIN deg d ON d.node = e.src
        |  GROUP BY n.node),
        |r2 AS (
        |  SELECT n.node,
        |         CAST(1500000000 + (17 * COALESCE(SUM(p.r // d.degree), 0)) // 20 AS BIGINT) AS r
        |  FROM nodes n
        |  LEFT JOIN edges e ON e.dst = n.node
        |  LEFT JOIN r1 p ON p.node = e.src
        |  LEFT JOIN deg d ON d.node = e.src
        |  GROUP BY n.node),
        |r3 AS (
        |  SELECT n.node,
        |         CAST(1500000000 + (17 * COALESCE(SUM(p.r // d.degree), 0)) // 20 AS BIGINT) AS r
        |  FROM nodes n
        |  LEFT JOIN edges e ON e.dst = n.node
        |  LEFT JOIN r2 p ON p.node = e.src
        |  LEFT JOIN deg d ON d.node = e.src
        |  GROUP BY n.node)
        |SELECT node AS doc_id, r AS pr_scaled, CAST(r AS DOUBLE) / 1e12 AS pr
        |FROM r3 ORDER BY doc_id""".stripMargin,

    // The MG sketch phase is a Spark-side physical optimization; the
    // oracle is the exact GROUP BY ... HAVING it must equal
    // (TextAnalysis.heavyHitters).
    "heavy_hitters" ->
      """WITH toks AS (
        |  SELECT UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM toks)
        |SELECT tok, COUNT(*) AS cnt
        |FROM toks, tot GROUP BY tok, tot.n
        |HAVING COUNT(*) > CAST(tot.n AS DOUBLE) / 200
        |ORDER BY tok""".stripMargin,

    // Tie-break (count DESC, value ASC) makes the mode total — without it
    // the answer is engine-dependent on ties (Aggregates.aggMode).
    "agg_mode" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY l_returnflag ORDER BY cnt DESC, l_quantity ASC) AS rn
        |  FROM c)
        |SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS mode_qty, cnt
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,

    // Gaps-and-islands on distinct active days: day − row_number anchor,
    // pure integer date arithmetic (Behavior.activityIslands).
    "activity_islands" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |anch AS (
        |  SELECT user_id, day,
        |         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
        |  FROM days)
        |SELECT user_id, MIN(day) AS island_start, MAX(day) AS island_end,
        |       COUNT(*) AS n_days
        |FROM anch GROUP BY user_id, anchor
        |ORDER BY user_id, island_start""".stripMargin,

    // First-order event-type transition matrix; p = exact-int ratio
    // (Behavior.markovTransitions).
    "markov_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS from_state,
        |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state
        |  FROM events),
        |c AS (
        |  SELECT from_state, to_state, COUNT(*) AS n
        |  FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2)
        |SELECT from_state, to_state, n,
        |       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_state), 6) AS p
        |FROM c ORDER BY from_state, to_state""".stripMargin,

    // Sweep-line max concurrency of half-open 30-minute click intervals,
    // −1-before-+1 tie order (Behavior.intervalOverlap).
    "interval_overlap" ->
      """WITH clicks AS (
        |  SELECT user_id, epoch_us(ts) AS t0 FROM events WHERE event_type = 'click'),
        |b AS (
        |  SELECT user_id, t0 AS t, 1 AS delta FROM clicks
        |  UNION ALL
        |  SELECT user_id, t0 + 1800000000 AS t, -1 AS delta FROM clicks),
        |r AS (
        |  SELECT user_id, SUM(delta) OVER (PARTITION BY user_id ORDER BY t, delta
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM b)
        |SELECT user_id, COUNT(*) // 2 AS n_intervals, CAST(MAX(run) AS BIGINT) AS max_conc
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Time-weighted average: DECIMAL-exact numerator, hour-capped integer
    // durations (Behavior.timeWeightedAvg).
    "time_weighted_avg" ->
      """WITH e AS (
        |  SELECT user_id, value, epoch_us(ts) AS us,
        |         epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS next_us
        |  FROM events WHERE value IS NOT NULL),
        |d AS (
        |  SELECT user_id, value, LEAST((next_us - us) // 1000000, 3600) AS dur_s
        |  FROM e WHERE next_us IS NOT NULL)
        |SELECT user_id, COUNT(*) AS n, CAST(SUM(dur_s) AS BIGINT) AS total_s,
        |       ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)) * dur_s) AS DECIMAL(38,2)) AS DOUBLE)
        |             / SUM(dur_s), 6) AS twap
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Overlapping token-window chunks, 24 tokens every 16
    // (Packing.textChunk).
    "text_chunk" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, toks, len(toks) AS n_tok, UNNEST(range(0, len(toks), 16)) AS start
        |  FROM d WHERE len(toks) > 0)
        |SELECT doc_id, start // 16 AS chunk_idx,
        |       array_to_string(list_slice(toks, start + 1, LEAST(start + 24, n_tok)), ' ') AS chunk_text,
        |       LEAST(start + 24, n_tok) - start AS n_toks
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,

    // Integer-exact weighted Bernoulli sample: keep iff
    // u32(md5) * cap < n_chars * 2^32 (Sampling.sampleWeighted).
    "sample_weighted" ->
      s"""WITH w AS (
         |  SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
         |SELECT doc_id, n_chars,
         |       ROUND(LEAST(CAST(1 AS DOUBLE), CAST(n_chars AS DOUBLE) / 400), 6) AS p
         |FROM w WHERE ${hexFold("h")} * 400 < n_chars * 4294967296
         |ORDER BY doc_id""".stripMargin,

    // Node degrees of the τ=0.95 Jaccard probe graph, isolated nodes at 0
    // (Graph.graphDegree) — same edge CTE as graph_triangles.
    "graph_degree" ->
      """WITH ss AS (
        |  SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS s
        |  FROM documents WHERE doc_id < 100),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.95),
        |deg AS (
        |  SELECT doc_id, COUNT(*) AS degree FROM (
        |    SELECT a_id AS doc_id FROM pairs UNION ALL SELECT b_id AS doc_id FROM pairs) u
        |  GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(deg.degree, 0) AS degree
        |FROM documents d LEFT JOIN deg ON d.doc_id = deg.doc_id
        |WHERE d.doc_id < 100
        |ORDER BY d.doc_id""".stripMargin,

    // Week/quarter calendar axis; DuckDB dayofweek is 0=Sunday, Spark's
    // is 1=Sunday, hence the +1 (Functions.fnDate2).
    "fn_date2" ->
      """SELECT o_orderkey,
        |       CAST(DATE_TRUNC('week', o_orderdate) AS DATE) AS wk,
        |       quarter(o_orderdate) AS q,
        |       dayofweek(o_orderdate) + 1 AS dow,
        |       weekofyear(o_orderdate) AS woy,
        |       last_day(CAST(o_orderdate AS DATE)) AS eom,
        |       date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS days_to_98
        |FROM orders ORDER BY o_orderkey LIMIT 2000""".stripMargin,

    // Dedup → split → chunk → per-split audit, each stage the oracled
    // standalone operator (Pipelines.pipelineTrainPrep).
    "pipeline_train_prep" ->
      """WITH uniq AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM documents) r
        |  WHERE rn = 1),
        |sp AS (
        |  SELECT doc_id, text,
        |         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
        |              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |              ELSE 'train' END AS split
        |  FROM uniq),
        |tok AS (
        |  SELECT doc_id, split, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM sp),
        |ch AS (
        |  SELECT doc_id, split, LEAST(start + 24, len(toks)) - start AS n_toks
        |  FROM (SELECT doc_id, split, toks, UNNEST(range(0, len(toks), 16)) AS start
        |        FROM tok WHERE len(toks) > 0) s)
        |SELECT split, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_chunks,
        |       CAST(SUM(n_toks) AS BIGINT) AS sum_tokens
        |FROM ch GROUP BY split ORDER BY split""".stripMargin,

    // The bloom prune is a Spark-side physical optimization the exact
    // semi join erases; the oracle is the plain semi join
    // (Bloom.bloomSemiJoin).
    "join_bloom_semi" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // The salt is a Spark-side physical rewrite; the oracle is the plain
    // join it must be row-identical to (Skew.joinSkewSalted).
    "join_skew_salted" ->
      """SELECT c_mktsegment, COUNT(*) AS n_ev,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sv
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // Streamed transformWithState running aggregates, reduced to the
    // latest emission per key ≡ the batch GROUP BY. Values are integral
    // cents (round(value·100), exact for 2-decimal amounts) so the
    // streamed double sums are order-independent — the precondition for
    // any cross-engine oracle on a stateful stream
    // ABC / Pareto classification (Aggregates.abcAnalysis): exact
    // integer cumulative-cents class boundaries; equivalent
    // (revenue DESC, partkey) total order.
    "abc_analysis" ->
      """WITH pp AS (
        |  SELECT l_partkey AS partkey,
        |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |               (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4)))
        |              * 10000 AS BIGINT) AS rtc
        |  FROM lineitem GROUP BY l_partkey),
        |tot AS (SELECT CAST(SUM(rtc) AS BIGINT) AS tot FROM pp),
        |r AS (
        |  SELECT partkey, rtc,
        |         CAST(row_number() OVER (ORDER BY rtc DESC, partkey) AS BIGINT) AS rev_rank,
        |         CAST(SUM(rtc) OVER (ORDER BY rtc DESC, partkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM pp)
        |SELECT partkey, rev_rank,
        |       ROUND(CAST(rtc AS DOUBLE) / 10000, 4) AS revenue,
        |       ROUND(CAST(cum AS DOUBLE) / t.tot, 6) AS cum_share,
        |       CASE WHEN cum * 100 <= t.tot * 80 THEN 'A'
        |            WHEN cum * 100 <= t.tot * 95 THEN 'B'
        |            ELSE 'C' END AS abc_class
        |FROM r CROSS JOIN tot t ORDER BY rev_rank""".stripMargin,

    // Gini coefficient of customer spend (Aggregates.aggGini): sorted
    // formula over exact integer cents and ranks.
    "agg_gini" ->
      """WITH sp AS (
        |  SELECT o_custkey AS custkey,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY cents, custkey) AS BIGINT) AS rk
        |      FROM sp),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(rk * cents) AS BIGINT) AS ws,
        |             CAST(SUM(cents) AS BIGINT) AS s FROM r)
        |SELECT n AS n_customers,
        |       ROUND(CAST(s AS DOUBLE) / 100, 2) AS total_spend,
        |       ROUND(2.0 * ws / (CAST(n AS DOUBLE) * s)
        |             - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
        |FROM a""".stripMargin,

    // SCD2 point-in-time read (Merge.scd2PointInTime): per probe date,
    // each customer's then-current priority (total-order tie-break) and
    // version count.
    "scd2_point_in_time" ->
      """WITH probes AS (
        |  SELECT UNNEST([DATE '1995-06-30', DATE '1996-12-31', DATE '1998-03-31']) AS probe_date),
        |f AS (
        |  SELECT p.probe_date, o.o_custkey AS custkey,
        |         CAST(o.o_orderdate AS DATE) AS odate, o.o_orderkey, o.o_orderpriority
        |  FROM orders o CROSS JOIN probes p
        |  WHERE o.o_custkey IS NOT NULL AND o.o_orderdate IS NOT NULL
        |    AND CAST(o.o_orderdate AS DATE) <= p.probe_date),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY probe_date, custkey
        |              ORDER BY odate DESC, o_orderkey DESC) AS rn,
        |         CAST(COUNT(*) OVER (PARTITION BY probe_date, custkey) AS BIGINT) AS n_versions
        |  FROM f)
        |SELECT probe_date, custkey, n_versions, o_orderpriority AS priority
        |FROM r WHERE rn = 1
        |ORDER BY probe_date, custkey""".stripMargin,

    // Custom DSv2 micro-batch source drive (StreamDrive.streamSourceV2):
    // the oracle states the one-shot batch answer over the full range —
    // offset-window exactness across three micro-batches is what's
    // under test.
    "stream_source_v2" ->
      """WITH g AS (
        |  SELECT 't' || CAST(id % 7 AS VARCHAR) AS tag,
        |         (id * 2654435761) % 1000003 AS val_cents
        |  FROM range(0, 120000) t(id))
        |SELECT tag, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       ROUND(CAST(SUM(val_cents) AS DOUBLE) / 100, 2) AS sv
        |FROM g GROUP BY tag ORDER BY tag""".stripMargin,

    // Streaming CDC apply (StreamDrive.streamCdcApply): the oracle
    // states the materialization target — last op per user wins, users
    // whose last op is a delete (signup) are absent; n_ops counts every
    // applied op. The engine must reach this through three ordered
    // micro-batches of RocksDB state evolution.
    "stream_cdc_apply" ->
      """WITH ops AS (
        |  SELECT user_id, ts, event_id,
        |         event_type = 'signup' AS is_del,
        |         CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |r AS (
        |  SELECT user_id, is_del, vc,
        |         row_number() OVER (PARTITION BY user_id
        |             ORDER BY ts DESC, event_id DESC) AS rn,
        |         CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
        |  FROM ops)
        |SELECT user_id, n_ops, vc FROM r
        |WHERE rn = 1 AND NOT is_del
        |ORDER BY user_id""".stripMargin,

    // (streaming/StreamDrive.stateRunningStats).
    "state_running_stats" ->
      """WITH c AS (
        |  SELECT user_id, round(value * 100) AS v FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL)
        |SELECT user_id, COUNT(*) AS n, SUM(v) AS sum_value, MAX(v) AS max_value
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Streamed per-key top-5 values (StreamDrive.stateTopValues): the
    // top-K multiset is arrival-order-free, so latest emission ≡ batch
    // window top-5. Ties at the 5th place don't disturb SUM (same
    // multiset value either way).
    "state_top_values" ->
      """WITH c AS (
        |  SELECT user_id, round(value * 100) AS v FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |r AS (
        |  SELECT user_id, v,
        |         row_number() OVER (PARTITION BY user_id ORDER BY v DESC) AS rn
        |  FROM c)
        |SELECT user_id, CAST(COUNT(*) AS INT) AS n_top, SUM(v) AS sum_top
        |FROM r WHERE rn <= 5 GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Greedy quality-first selection under a 2000-token-per-language
    // budget — running-sum window in (quality desc, doc_id) total order
    // (Mixing.budgetSelect).
    "budget_select" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_tok,
        |         CAST(SUM(CASE WHEN token IN ('the','a','and','of','to') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        |  FROM toks WHERE token <> '' GROUP BY doc_id),
        |q AS (
        |  SELECT d.doc_id, d.lang, a.n_tok,
        |         ROUND(LN(1.0 + d.n_chars) * (1.0 - CAST(a.n_stop AS DOUBLE) / a.n_tok), 6) AS quality
        |  FROM documents d JOIN agg a ON d.doc_id = a.doc_id),
        |c AS (
        |  SELECT lang, doc_id, n_tok, quality,
        |         CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
        |  FROM q)
        |SELECT lang, doc_id, n_tok, cum_tok, quality
        |FROM c WHERE cum_tok <= 2000 ORDER BY lang, cum_tok""".stripMargin,

    // Per-source mixture weights: uniform target share over actual token
    // share (Mixing.mixWeights).
    "mix_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_tok
        |  FROM toks WHERE token <> '' GROUP BY doc_id),
        |m AS (
        |  SELECT d.lang, COUNT(*) AS n_docs, CAST(SUM(a.n_tok) AS BIGINT) AS tok_mass
        |  FROM documents d JOIN agg a ON d.doc_id = a.doc_id GROUP BY d.lang),
        |tot AS (
        |  SELECT CAST(SUM(tok_mass) AS BIGINT) AS total_mass, COUNT(*) AS n_langs FROM m)
        |SELECT lang, n_docs, tok_mass,
        |       ROUND(CAST(tok_mass AS DOUBLE) / total_mass, 6) AS actual_share,
        |       ROUND((CAST(total_mass AS DOUBLE) / n_langs) / tok_mass, 6) AS weight
        |FROM m, tot ORDER BY lang""".stripMargin,

    // Linear regression from the same decimal-exact moments as agg_corr
    // (Aggregates.aggRegression).
    "agg_regression" ->
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sx,
        |         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sy,
        |         CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sxy,
        |         CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |       ROUND((sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx))) / n, 6) AS intercept
        |FROM m ORDER BY l_returnflag""".stripMargin,

    // Fixed-depth EWM (α = 1/2, 10 terms): dyadic weights on integral
    // cents are exact doubles, so the windowed sum is bit-identical on
    // both engines — emitted at cents scale with NO rounding (dividing
    // back to currency hits 6-decimal rounding boundaries)
    // (Windows.winEwma).
    "win_ewma" -> {
      val terms = (1 until 10).map { k =>
        val w = java.math.BigDecimal.valueOf(0.5).pow(k).toPlainString
        s"+ COALESCE(lag(vc, $k) OVER w, 0) * CAST($w AS DOUBLE)"
      }.mkString("\n        ")
      s"""WITH c AS (
         |  SELECT user_id, event_id, ts, round(value * 100) AS vc FROM events
         |  WHERE value IS NOT NULL)
         |SELECT user_id, event_id,
         |       (vc
         |        $terms) AS ewma10_c
         |FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |ORDER BY user_id, event_id LIMIT 5000""".stripMargin
    },

    // Backward as-of with a 24 h tolerance bound — pandas merge_asof's
    // `tolerance` parameter (Temporal.joinAsofTolerance); same shape as
    // the join_asof oracle plus the integer-µs range conjunct.
    "join_asof_tolerance" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |     s AS (SELECT event_id AS s_event_id, user_id, ts AS s_ts, value AS s_value
        |           FROM events WHERE event_type = 'signup')
        |SELECT event_id, user_id, s_ts, CAST(CAST(s_value AS DECIMAL(18,2)) AS DOUBLE) AS s_value FROM (
        |  SELECT p.event_id, p.user_id, s.s_ts, s.s_value,
        |         ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY s.s_ts DESC, s.s_event_id DESC) AS rn
        |  FROM p JOIN s ON p.user_id = s.user_id AND p.ts >= s.s_ts
        |    AND epoch_us(p.ts) - epoch_us(s.s_ts) <= 86400000000
        |) t WHERE rn = 1
        |ORDER BY event_id""".stripMargin,

    // Equi-depth 10-bucket histogram over event-value cents
    // (Aggregates.aggHistogramEquiDepth): global rank in (vc, event_id)
    // total order, bucket = floor((rk-1)·10 / n).
    "agg_histogram_eq" ->
      """WITH c AS (
        |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS vc FROM events
        |  WHERE value IS NOT NULL),
        |r AS (
        |  SELECT vc, row_number() OVER (ORDER BY vc, event_id) AS rk,
        |         COUNT(*) OVER () AS n
        |  FROM c)
        |SELECT CAST(((rk - 1) * 10) // n AS INT) AS bucket,
        |       COUNT(*) AS n_rows, MIN(vc) AS lo_c, MAX(vc) AS hi_c
        |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin,

    // Higher-moment shape stats (Aggregates.aggSkewKurt): population
    // skewness/excess kurtosis from exact integer power sums of the
    // 245-anchored integer-dollar quantization. The final float formula
    // mirrors the engine's parse tree token for token — IEEE doubles over
    // exact-integer inputs agree bitwise.
    "agg_skew_kurt" ->
      """WITH raw AS (
        |  SELECT event_type, CAST(round(value) - 245 AS BIGINT) AS d
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |         CAST(SUM(d) AS DOUBLE) AS s1,
        |         CAST(SUM(d*d) AS DOUBLE) AS s2,
        |         CAST(SUM(d*d*d) AS DOUBLE) AS s3,
        |         CAST(SUM(d*d*d*d) AS DOUBLE) AS s4
        |  FROM raw GROUP BY event_type),
        |c AS (
        |  SELECT event_type, n,
        |         s1/n AS mean, s2/n AS r2, s3/n AS r3, s4/n AS r4 FROM m),
        |f AS (
        |  SELECT event_type, n,
        |         r2 - mean*mean AS m2,
        |         r3 - 3*mean*r2 + 2*mean*mean*mean AS m3,
        |         r4 - 4*mean*r3 + 6*mean*mean*r2 - 3*mean*mean*mean*mean AS m4
        |  FROM c)
        |SELECT event_type, n,
        |       ROUND(m3 / SQRT(m2*m2*m2), 6) AS skew,
        |       ROUND(m4 / (m2*m2) - 3, 6) AS kurt
        |FROM f ORDER BY event_type""".stripMargin,

    // Overlapping token-window chunking (Chunking.chunkDocuments):
    // size 32 / stride 24, chunk identity = md5 of the space-rejoined
    // window. Boundaries are a pure function of the token count.
    "chunk_documents" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, n, UNNEST(range(0, CAST(n AS BIGINT), 24)) AS start FROM s)
        |SELECT doc_id,
        |       start // 24 AS chunk_idx,
        |       start AS start_tok,
        |       CAST(LEAST(32, n - start) AS BIGINT) AS n_tok,
        |       md5(array_to_string(list_slice(toks, start + 1, LEAST(start + 32, n)), ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // Content-defined chunking + its duplicated-mass audit: stateless
    // rolling-hash boundaries restated per-position (cdcChunkCte).
    "chunk_cdc" -> cdcChunksSql,
    "dedup_cdc" -> cdcDedupSql,

    // Declared-schema cast levels (basis CommonModel): loose per-field
    // report + strict quarantine gate, TRY_CAST both engines.
    "schema_cast_report" -> schemaCastReportSql,
    "schema_enforce" -> schemaEnforceSql,

    // Chunk-grain exact dedup (Chunking.dedupChunks): duplicated chunk
    // hashes corpus-wide with copy count, doc spread, and the lowest
    // (doc_id, chunk_idx) keeper. Same chunk CTE as chunk_documents.
    "dedup_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
        |c AS (
        |  SELECT doc_id,
        |         start // 24 AS chunk_idx,
        |         md5(array_to_string(list_slice(toks, start + 1, LEAST(start + 32, n)), ' ')) AS chunk_md5
        |  FROM (SELECT doc_id, toks, n, UNNEST(range(0, CAST(n AS BIGINT), 24)) AS start FROM s)),
        |g AS (
        |  SELECT chunk_md5, COUNT(*) AS copies, COUNT(DISTINCT doc_id) AS n_docs
        |  FROM c GROUP BY chunk_md5 HAVING COUNT(*) > 1),
        |k AS (
        |  SELECT chunk_md5, doc_id, chunk_idx,
        |         row_number() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_idx) AS rn
        |  FROM c)
        |SELECT g.chunk_md5, g.copies, g.n_docs,
        |       k.doc_id AS keep_doc, k.chunk_idx AS keep_chunk
        |FROM g JOIN k USING (chunk_md5) WHERE k.rn = 1
        |ORDER BY chunk_md5""".stripMargin,

    // Per-label centroid vectors (Vector.vecCentroid): components
    // quantized to integer micro-units, summed exactly, divided once.
    "vec_centroid" ->
      """WITH q AS (
        |  SELECT label, i AS dim,
        |         CAST(round(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) * 1000000) AS BIGINT) AS q
        |  FROM embeddings, UNNEST(range(0, len(embedding))) AS u(i)
        |  WHERE label IS NOT NULL AND embedding IS NOT NULL)
        |SELECT label, dim, COUNT(*) AS n,
        |       ROUND(CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS centroid
        |FROM q GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    // MERGE-INTO upsert (Merge.mergeUpsert): order-total sums applied as
    // new balances over a full outer join on the key.
    "merge_upsert" ->
      """WITH u AS (
        |  SELECT o_custkey AS u_key,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS u_bal
        |  FROM orders GROUP BY 1)
        |SELECT COALESCE(c.c_custkey, u.u_key) AS custkey,
        |       c.c_name AS name,
        |       CAST(COALESCE(u.u_bal, CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal,
        |       CASE WHEN c.c_custkey IS NULL THEN 'insert'
        |            WHEN u.u_key IS NULL THEN 'carry'
        |            ELSE 'update' END AS action
        |FROM customer c FULL OUTER JOIN u ON c.c_custkey = u.u_key
        |ORDER BY custkey""".stripMargin,

    // SCD type-2 versioning (Merge.mergeScd2): negative-balance customers
    // move to 'DELINQUENT'; changed keys close version 1 and open
    // version 2, unchanged keys stay current at version 1.
    "merge_scd2" ->
      """WITH s AS (
        |  SELECT c_custkey AS s_key,
        |         CASE WHEN c_acctbal < 0 THEN 'DELINQUENT' ELSE c_mktsegment END AS s_seg
        |  FROM customer),
        |j AS (
        |  SELECT c.c_custkey, c.c_mktsegment, s.s_seg,
        |         (s.s_seg <> c.c_mktsegment) AS changed
        |  FROM customer c JOIN s ON c.c_custkey = s.s_key)
        |SELECT c_custkey, segment, version, is_current FROM (
        |  SELECT c_custkey, c_mktsegment AS segment, 1 AS version,
        |         NOT changed AS is_current FROM j
        |  UNION ALL
        |  SELECT c_custkey, s_seg AS segment, 2 AS version, TRUE AS is_current
        |  FROM j WHERE changed)
        |ORDER BY c_custkey, version""".stripMargin,

    // Date-partitioned layout round-trip (Layouts.layoutPartitioned):
    // the engine reads its partition-pruned /tmp layout; the oracle
    // states the identical aggregate from the ORIGINAL events table.
    "layout_partitioned" ->
      """SELECT event_type, COUNT(*) AS n_ev,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE value IS NOT NULL AND event_type IS NOT NULL
        |  AND CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |      BETWEEN DATE '2024-01-10' AND DATE '2024-01-19'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Malformed-CSV intake (Feeds.sourceCsvMalformed): the oracle states
    // the expected split from the ORIGINAL table + the corruption rule
    // (every 5th suppkey's nationkey field is non-numeric).
    "source_csv_malformed" ->
      """SELECT s_nationkey AS grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(s_suppkey) AS BIGINT) AS sum_key
        |FROM supplier WHERE s_suppkey % 5 <> 0 GROUP BY s_nationkey
        |UNION ALL
        |SELECT -1, CAST(COUNT(*) AS BIGINT), 0
        |FROM supplier WHERE s_suppkey % 5 = 0
        |ORDER BY grp""".stripMargin,

    // Bigram LM (TextAnalysis.textLmBigram): positional tokens via the
    // data-derived range cross join (same bound pattern as sim_shingle —
    // never a hard cap the corpus could silently outgrow), add-one
    // transition model, micro-nat integer sums — textLmScore's discipline.
    "text_lm_bigram" ->
      """WITH toks AS (
        |  SELECT doc_id, g.o AS pos, s[g.o + 1] AS token
        |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents) d
        |  CROSS JOIN (SELECT UNNEST(range(0, (SELECT COALESCE(MAX(len(string_split(text, ' '))), 0) FROM documents))) AS o) g
        |  WHERE g.o < len(s) AND s[g.o + 1] <> ''),
        |bg0 AS (
        |  SELECT doc_id, token AS prev,
        |         LEAD(token) OVER (PARTITION BY doc_id ORDER BY pos) AS cur
        |  FROM toks),
        |bgv AS (SELECT doc_id, prev, cur FROM bg0 WHERE cur IS NOT NULL),
        |bgcnt AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cbg
        |          FROM bgv WHERE doc_id % 3 <> 0 GROUP BY prev, cur),
        |pcnt AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS cprev
        |         FROM bgv WHERE doc_id % 3 <> 0 GROUP BY prev),
        |vocab AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v_size
        |          FROM toks WHERE doc_id % 3 <> 0),
        |terms AS (
        |  SELECT b.doc_id, COALESCE(c.cbg, 0) AS cbg,
        |         CAST(round(ln(CAST(COALESCE(c.cbg, 0) + 1 AS DOUBLE)
        |           / CAST(COALESCE(p.cprev, 0) + v.v_size AS DOUBLE)) * 1e6) AS BIGINT)
        |           AS term_micro
        |  FROM bgv b
        |  LEFT JOIN bgcnt c ON b.prev = c.prev AND b.cur = c.cur
        |  LEFT JOIN pcnt p ON b.prev = p.prev
        |  CROSS JOIN vocab v
        |  WHERE b.doc_id % 3 = 0)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |       CAST(SUM(CASE WHEN cbg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
        |       ROUND(CAST(-SUM(term_micro) AS DOUBLE) / COUNT(*) / 1e6, 6) AS avg_nll
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // ARGMAX/ARGMIN (Aggregates.aggArgmax): per-nation best/worst balance
    // holder; the oracle ranks with the same (cents, custkey) total order.
    "agg_argmax" ->
      """WITH c AS (
        |  SELECT c_nationkey, c_custkey,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM customer),
        |r AS (
        |  SELECT c_nationkey, c_custkey, cents,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |                       ORDER BY cents DESC, c_custkey DESC) AS rmax,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |                       ORDER BY cents ASC, c_custkey ASC) AS rmin
        |  FROM c)
        |SELECT a.c_nationkey,
        |       a.c_custkey AS top_cust, CAST(a.cents AS DOUBLE) / 100.0 AS top_bal,
        |       b.c_custkey AS bottom_cust, CAST(b.cents AS DOUBLE) / 100.0 AS bottom_bal
        |FROM r a JOIN r b ON a.c_nationkey = b.c_nationkey
        |WHERE a.rmax = 1 AND b.rmin = 1
        |ORDER BY a.c_nationkey""".stripMargin,

    // Running distinct-count (Windows.winRunningDistinct): first-occurrence
    // flags + running sum — the oracle states the identical formulation.
    "win_running_distinct" ->
      """WITH f AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                                      ORDER BY ts, event_id) = 1
        |              THEN 1 ELSE 0 END AS nf
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL)
        |SELECT user_id, event_id,
        |       CAST(SUM(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_types
        |FROM f ORDER BY user_id, event_id LIMIT 3000""".stripMargin,

    // Snapshot diff (Merge.snapshotDiff): the oracle constructs the SAME
    // derived v2 and states the change feed via FULL OUTER JOIN — all
    // three change paths (insert/update/delete) are non-vacuous.
    "snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |         o_orderstatus AS st
        |  FROM orders),
        |v2 AS (
        |  SELECT k, CASE WHEN k % 7 = 0 THEN cents + 500 ELSE cents END AS cents, st
        |  FROM v1 WHERE k % 11 <> 0
        |  UNION ALL
        |  SELECT k + 1000000000000, cents, st FROM v1 WHERE k % 13 = 0)
        |SELECT COALESCE(o.k, n.k) AS k,
        |       CASE WHEN o.k IS NULL THEN 'insert'
        |            WHEN n.k IS NULL THEN 'delete'
        |            ELSE 'update' END AS change,
        |       o.cents AS old_cents, n.cents AS new_cents
        |FROM v1 o FULL OUTER JOIN v2 n ON o.k = n.k
        |WHERE o.k IS NULL OR n.k IS NULL
        |   OR o.cents IS DISTINCT FROM n.cents OR o.st IS DISTINCT FROM n.st
        |ORDER BY change, k""".stripMargin,

    // Sequence-pattern funnel (Behavior.seqPattern): per-user initials
    // string ordered by the total (ts, event_id) key; both engines count
    // non-overlapping leftmost matches of cv*p.
    "seq_pattern" ->
      """WITH s AS (
        |  SELECT user_id,
        |         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id)
        |SELECT user_id, CAST(length(seq) AS BIGINT) AS n_ev,
        |       CAST(len(regexp_extract_all(seq, 'cv*p')) AS BIGINT) AS n_funnel
        |FROM s ORDER BY user_id""".stripMargin,

    // Compaction lifecycle (Layouts.layoutCompaction): the query reads the
    // COMPACTED generation; the oracle reads the ORIGINAL events table —
    // any row lost or duplicated across fragment→compact→read mismatches.
    "layout_compaction" ->
      """SELECT event_type, COUNT(*) AS n_ev,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE value IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Text-lines source: like ORC, the oracle recomputes from the
    // ORIGINAL documents table — write/read/parse corruption surfaces
    // as a value mismatch.
    "source_text" ->
      """SELECT CAST(doc_id % 10 AS BIGINT) AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |       CAST(SUM(length(text)) AS BIGINT) AS sum_chars
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY doc_id % 10 ORDER BY bucket""".stripMargin,

    // Mergeable moments-sketch quantile rollup (see quantileMomentsSql).
    "agg_quantile_moments" -> quantileMomentsSql,
    // AQE skew join: the ORACLE is the plain join semantics — the skew
    // split must be invisible in values.
    "join_skew_aqe" ->
      """WITH fact AS (
        |  SELECT CASE WHEN l_orderkey % 100 < 90 THEN 0
        |              ELSE l_orderkey % 100 END AS skew_key,
        |         l_quantity
        |  FROM lineitem),
        |dim AS (
        |  SELECT gs.id AS skew_key,
        |         'grp_' || CAST(gs.id % 7 AS VARCHAR) AS dim_label
        |  FROM (SELECT UNNEST(range(0, 100)) AS id) gs)
        |SELECT f.skew_key, d.dim_label,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(CAST(SUM(CAST(f.l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
        |FROM fact f JOIN dim d USING (skew_key)
        |GROUP BY f.skew_key, d.dim_label
        |ORDER BY f.skew_key""".stripMargin,
    // k-anonymity / l-diversity audit (Profile.dqKAnonymity): exact
    // class sizes + distinct sensitive-bucket counts at the
    // quasi-identifier grain; the balance band divides through DOUBLE
    // (2-decimal values sit ≥1e-5 from any integer boundary, so the
    // floor is engine-stable; exact multiples of 1000 divide exactly).
    "dq_kanonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |       CAST(COUNT(*) AS BIGINT) AS class_size,
        |       CAST(COUNT(DISTINCT CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT)) AS BIGINT) AS l_distinct,
        |       COUNT(*) < 10 AS k_violation,
        |       CAST(COUNT(DISTINCT CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT)) AS BIGINT) < 2 AS l_violation
        |FROM customer
        |WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
        |GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    // Data-quality expectations (Profile.dqCheck): one row per rule.
    // Violation predicates are stated null-explicit on both sides.
    "dq_check" ->
      """WITH f AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS f_null,
        |    SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
        |             OR o_totalprice > 300000 THEN 1 ELSE 0 END) AS f_price,
        |    SUM(CASE WHEN o_orderstatus IS NULL
        |             OR o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS f_status,
        |    SUM(CASE WHEN o_orderdate IS NULL
        |             OR o_orderdate < TIMESTAMP '1995-01-01'
        |             OR o_orderdate >= TIMESTAMP '2001-01-01' THEN 1 ELSE 0 END) AS f_date
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'not_null:o_custkey' AS rule, CAST(n AS BIGINT) AS n_checked,
        |         CAST(f_null AS BIGINT) AS n_failed FROM f
        |  UNION ALL SELECT 'range:o_totalprice', CAST(n AS BIGINT),
        |         CAST(f_price AS BIGINT) FROM f
        |  UNION ALL SELECT 'domain:o_orderstatus', CAST(n AS BIGINT),
        |         CAST(f_status AS BIGINT) FROM f
        |  UNION ALL SELECT 'range:o_orderdate', CAST(n AS BIGINT),
        |         CAST(f_date AS BIGINT) FROM f
        |  UNION ALL SELECT 'unique:o_orderkey', CAST(COUNT(*) AS BIGINT),
        |         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |) t ORDER BY rule""".stripMargin,

    // Pareto frontier (Skyline.skylinePareto): the oracle is the QUADRATIC
    // dominance definition itself (NOT EXISTS a strictly-better point) —
    // fully independent of the engine's sorted two-frame formulation.
    "skyline_pareto" ->
      """WITH t AS (
        |  SELECT o_orderpriority AS p, o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |         o_orderdate AS d
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL)
        |SELECT p AS o_orderpriority, k AS o_orderkey,
        |       CAST(c AS DOUBLE) / 100.0 AS price, d AS o_orderdate
        |FROM t b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM t a
        |  WHERE a.p = b.p AND a.c >= b.c AND a.d >= b.d
        |    AND (a.c > b.c OR a.d > b.d))
        |ORDER BY o_orderpriority, price DESC, o_orderkey""".stripMargin,

    // PII scrub (Text.textPiiScrub): both engines build the same planted
    // text, then scrub with their OWN regex engines (JVM vs RE2) — match
    // sets for these patterns agree, so replacement text and hit counts
    // hash-match exactly.
    "text_pii_scrub" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         substr(text, 1, 40) || ' contact u' || CAST(doc_id AS VARCHAR)
        |           || '@example.com call 555 0100 ' || CAST(doc_id AS VARCHAR)
        |           || ' now' AS text
        |  FROM documents),
        |e AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(text,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |         regexp_replace(text,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM p)
        |SELECT doc_id,
        |       regexp_replace(t1, '[+(]?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS text,
        |       n_email,
        |       CAST(len(regexp_extract_all(t1,
        |         '[+(]?[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS n_phone
        |FROM e ORDER BY doc_id""".stripMargin,

    // Event-time timer sessionization (StreamDrive.stateSessions): the
    // engine streams the feed files CO-ARRIVING as one micro-batch
    // through SessionEventTime (ListState buffer + event-time timers);
    // this batch oracle restates the result from the events table alone:
    // accepted multiset = ALL valid rows (single data batch → late
    // filter at epoch) → 30-min gap split per user (ms-truncated
    // timestamps, exactly the granularity the watermark tracks) → keep
    // sessions whose close point ≤ the final watermark (max ts − 10 min).
    "state_sessions" ->
      """WITH acc AS (
        |  SELECT user_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms,
        |         CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
        |wf AS (SELECT MAX(ms) - 600000 AS w FROM acc),
        |flg AS (
        |  SELECT user_id, ms, vc,
        |         CASE WHEN LAG(ms) OVER win IS NULL
        |              OR ms - LAG(ms) OVER win >= 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM acc WINDOW win AS (PARTITION BY user_id ORDER BY ms, vc)),
        |g AS (
        |  SELECT user_id, ms, vc,
        |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms, vc ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flg),
        |s AS (
        |  SELECT user_id, MIN(ms) AS start_ms, COUNT(*) AS n_ev,
        |         CAST(SUM(vc) AS BIGINT) AS sum_cents, MAX(ms) AS last_ms
        |  FROM g GROUP BY user_id, sid)
        |SELECT user_id, start_ms, n_ev, sum_cents
        |FROM s WHERE last_ms + 1800000 <= (SELECT w FROM wf)
        |ORDER BY user_id, start_ms""".stripMargin,

    // Multi-batch out-of-order sessionization (StreamDrive
    // .stateSessionsMultibatch): the pre-fold semantics — batch 3's
    // late filter sits at the watermark batch 1 committed (max ts of f1
    // − 10 min), so the accepted multiset is f1 ∪ {f3 rows at or past
    // it}; gap split + the final-watermark closure gate as in
    // state_sessions. This was state_sessions' own oracle through round
    // 10 (verbatim), re-registered under the variant's name.
    "state_sessions_multibatch" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |         CAST(ts AS TIMESTAMP) AS t,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms,
        |         CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
        |f1 AS (SELECT * FROM e WHERE event_id % 3 <> 0 AND t <= TIMESTAMP '2024-01-25 00:00:00'),
        |w3 AS (SELECT MAX(ms) - 600000 AS w FROM f1),
        |acc AS (
        |  SELECT * FROM f1
        |  UNION ALL
        |  SELECT * FROM e
        |  WHERE NOT (event_id % 3 <> 0 AND t <= TIMESTAMP '2024-01-25 00:00:00')
        |    AND ms >= (SELECT w FROM w3)),
        |wf AS (SELECT MAX(ms) - 600000 AS w FROM acc),
        |flg AS (
        |  SELECT user_id, ms, vc,
        |         CASE WHEN LAG(ms) OVER win IS NULL
        |              OR ms - LAG(ms) OVER win >= 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM acc WINDOW win AS (PARTITION BY user_id ORDER BY ms, vc)),
        |g AS (
        |  SELECT user_id, ms, vc,
        |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms, vc ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flg),
        |s AS (
        |  SELECT user_id, MIN(ms) AS start_ms, COUNT(*) AS n_ev,
        |         CAST(SUM(vc) AS BIGINT) AS sum_cents, MAX(ms) AS last_ms
        |  FROM g GROUP BY user_id, sid)
        |SELECT user_id, start_ms, n_ev, sum_cents
        |FROM s WHERE last_ms + 1800000 <= (SELECT w FROM wf)
        |ORDER BY user_id, start_ms""".stripMargin,

    // Processing-time timer sessionization (StreamDrive
    // .stateSessionsTimeout): all events co-arrive as one batch, so each
    // user's single session holds its FULL multiset; the empty trailing
    // batches fire every timer before the bounded run ends. The oracle is
    // therefore the plain per-user aggregate — a lost timer, duplicate
    // close, or TTL-reaped state shifts the row set and hash-fails.
    "state_sessions_timeout" ->
      """SELECT user_id, COUNT(*) AS n_ev,
        |       CAST(SUM(round(value * 100)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE user_id IS NOT NULL AND value IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Bucketed co-located join (Layouts.joinBucketed): both sides
    // pre-bucketed on the join key, joined with no Exchange (PlanSpec
    // pins it); the oracle is the plain join over the original tables —
    // the layout must change the plan, never the answer.
    "join_bucketed" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // Z-order layout round-trip (Layouts.layoutZorder): two-dimensional
    // selective filter through the clustered copy vs the original orders.
    "layout_zorder" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE o_custkey < 500 AND o_totalprice > 100000.0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // Regex as a table function: one row per [a-z]{4,} match with a
    // 0-based match index (Functions.fnRegexpTable).
    "regex_extract_table" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(text, '[a-z]{4,}') AS l
        |  FROM documents WHERE doc_id < 500)
        |SELECT doc_id, CAST(i AS INT) AS match_idx, l[CAST(i AS INT) + 1] AS m
        |FROM d, UNNEST(range(0, len(l))) AS u(i)
        |ORDER BY doc_id, match_idx""".stripMargin,

    // Referential-integrity audit: orphan counts per FK relationship
    // (Profile.fkCheck).
    "fk_check" -> Seq(
      ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"))
      .map { case (name, child, ck, parent, pk) =>
        s"""SELECT '$name' AS relationship,
           |       (SELECT COUNT(*) FROM $child) AS n_rows,
           |       (SELECT COUNT(*) FROM $child c
           |        WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$ck)) AS n_orphans,
           |       ROUND(CAST((SELECT COUNT(*) FROM $child c
           |        WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$ck)) AS DOUBLE)
           |             / (SELECT COUNT(*) FROM $child), 6) AS orphan_frac""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY relationship"),

    // Per-column data-quality profile of orders (Profile.profileOrders):
    // one UNION ALL branch per column, min/max rendered as strings.
    "profile_table" -> Seq(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate")
      .map { c =>
        s"""SELECT '$c' AS column_name, COUNT(*) AS n,
           |       COUNT(*) - COUNT($c) AS n_null,
           |       COUNT(DISTINCT $c) AS n_distinct,
           |       CAST(MIN($c) AS VARCHAR) AS min_s,
           |       CAST(MAX($c) AS VARCHAR) AS max_s
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),

    // Curation capstone (Pipelines.pipelineCurate): semantic CC canonical
    // keep (same recursive CTE as dedup_semantic) → quality ≥ 4.0 →
    // md5-nibble split → order-independent per-split audit.
    "pipeline_curate" ->
      """WITH RECURSIVE v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.e, b.e)
        |        / (SQRT(list_dot_product(a.e, a.e)) * SQRT(list_dot_product(b.e, b.e))) >= 0.4),
        |edges AS (SELECT a_id AS s, b_id AS t FROM pairs
        |          UNION SELECT b_id, a_id FROM pairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
        |comp AS (
        |  SELECT em.vec_id,
        |         LEAST(em.vec_id, COALESCE(MIN(r.t), em.vec_id)) AS component_id
        |  FROM embeddings em LEFT JOIN reach r ON r.s = em.vec_id
        |  GROUP BY em.vec_id),
        |canon AS (SELECT MIN(vec_id) AS doc_id FROM comp GROUP BY component_id),
        |toks AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_tok,
        |         CAST(SUM(CASE WHEN token IN ('the','a','and','of','to') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        |  FROM toks WHERE token <> '' GROUP BY doc_id),
        |q AS (
        |  SELECT d.doc_id, a.n_tok,
        |         ROUND(LN(1.0 + d.n_chars) * (1.0 - CAST(a.n_stop AS DOUBLE) / a.n_tok), 6) AS quality
        |  FROM documents d JOIN agg a ON d.doc_id = a.doc_id),
        |kept AS (
        |  SELECT c.doc_id, q.n_tok, q.quality
        |  FROM canon c JOIN q ON c.doc_id = q.doc_id WHERE q.quality >= 4.0),
        |sp AS (
        |  SELECT n_tok, quality,
        |         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
        |              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |              ELSE 'train' END AS split
        |  FROM kept)
        |SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        |       MIN(quality) AS min_q, MAX(quality) AS max_q
        |FROM sp GROUP BY split ORDER BY split""".stripMargin,

    // Stream-static enrichment join (StreamDrive.streamStaticJoin): the
    // join is stateless, the sink holds joined rows, totals reduce in
    // batch — identical to the plain batch join. Integral cents keep the
    // sum order-independent.
    "stream_static_join" ->
      """WITH c AS (
        |  SELECT user_id, round(value * 100) AS v FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL)
        |SELECT c_mktsegment, COUNT(*) AS n_ev,
        |       ROUND(SUM(v) / 100.0, 6) AS sum_value
        |FROM c JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // Watermark late-data dropping (StreamDrive.streamWatermark): the
    // engine streams the events feed as three ordered micro-batches —
    // f1 = (event_id % 3 ≠ 0 AND ts ≤ 2024-01-25), f2 = empty filler,
    // f3 = the rest. Per Spark's stateful-chaining semantics the
    // late-event filter of batch 3 uses the watermark planned for
    // batch 2 = max(ts of f1) − 10 min; f3 rows whose HOUR-WINDOW END is
    // at or below that are dropped, the rest accepted. Every input to
    // the rule is a pure function of the events table, so the surviving
    // multiset is stated exactly here.
    // Stream-stream interval join over the SAME watermark feed
    // (StreamDrive.streamStreamJoin): all three feed files co-arrive in
    // one micro-batch, so the streaming inner join emits exactly the
    // batch interval join over the feed's not-null rows.
    // Checkpoint restart (StreamDrive.streamRestart): run 2's sink holds
    // exactly the keys with a phase-2 (event_id % 3 = 0) row, each with
    // totals over BOTH phases — state restored from run 1's checkpoint,
    // p1 never re-read. Counts are integral, sums integral cents.
    "stream_restart" ->
      """WITH fe AS (
        |  SELECT event_id, user_id, CAST(ROUND(value * 100) AS BIGINT) AS vc
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL)
        |SELECT user_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_ev,
        |       CAST(SUM(vc) AS BIGINT) AS sum_cents
        |FROM fe
        |WHERE user_id IN (SELECT user_id FROM fe WHERE event_id % 3 = 0)
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "stream_stream_join" ->
      """WITH fe AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL)
        |SELECT a.event_id AS click_id, b.event_id AS purchase_id
        |FROM fe a JOIN fe b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL '30' MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin,

    // Left-outer drive (StreamDrive.streamOuterJoin): the fence batches
    // force every unmatched click's eviction before termination, so the
    // sink ≡ the batch LEFT JOIN; -1 stands in for the null purchase_id
    // on both sides (keeps the column int64-clean for the hash).
    "stream_outer_join" ->
      """WITH fe AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT event_id AS click_id, user_id, ts FROM fe
        |      WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, ts FROM fe
        |      WHERE event_type = 'purchase')
        |SELECT c.click_id,
        |       COALESCE(p.purchase_id, -1) AS purchase_id
        |FROM c LEFT JOIN p
        |  ON c.user_id = p.user_id
        | AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL '30' MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin,

    "stream_watermark" ->
      """WITH feed AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
        |         CAST(ROUND(value * 100) AS BIGINT) AS vc
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
        |b1 AS (SELECT * FROM feed
        |       WHERE event_id % 3 <> 0 AND ts <= TIMESTAMP '2024-01-25 00:00:00'),
        |b3 AS (SELECT * FROM feed
        |       WHERE NOT (event_id % 3 <> 0 AND ts <= TIMESTAMP '2024-01-25 00:00:00')),
        |wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM b1),
        |acc AS (
        |  SELECT ts, vc FROM b1
        |  UNION ALL
        |  SELECT b3.ts, b3.vc FROM b3, wm
        |  WHERE time_bucket(INTERVAL '1 hour', b3.ts) + INTERVAL 1 HOUR > wm.w)
        |SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
        |       COUNT(*) AS n_ev, CAST(SUM(vc) AS BIGINT) AS sum_cents
        |FROM acc GROUP BY 1 ORDER BY win_start""".stripMargin,

    // Watermark-bounded streaming dedup (StreamDrive.streamDedupWatermark):
    // the 30-day delay covers the event span, so nothing evicts mid-run
    // and nothing drops late — the emitted set is exactly one row per
    // distinct valid (user, day) key; a state loss re-emits a key and
    // shifts n_emit, a bogus drop removes a row. Eviction semantics are
    // pinned by StreamingSpec (needs per-batch watermark control).
    "stream_dedup_watermark" ->
      """SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |       CAST(1 AS BIGINT) AS n_emit
        |FROM events
        |WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // foreachBatch upsert sink (StreamDrive.streamForeachUpsert): the
    // batch versions partition the valid rows, so the merge-on-read fold
    // equals the plain per-user aggregate. A double-applied batch
    // (broken idempotence guard) doubles a partial and hash-fails.
    "stream_foreach_upsert" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Streamed MapState sub-keyed counters (StreamDrive.stateTypeCounts):
    // count-merge is commutative, so latest emission ≡ batch GROUP BY.
    "state_type_counts" ->
      """SELECT user_id, event_type, COUNT(*) AS n FROM events
        |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin,

    // Top-500 vocabulary with dense rank ids, (count desc, token asc)
    // total order (Tokenize.vocabBuild).
    "vocab_build" ->
      """WITH tok AS (
        |  SELECT UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS id,
        |       token, cnt
        |FROM c ORDER BY cnt DESC, token LIMIT 500""".stripMargin,

    // Document id-sequences against the top-500 vocab, OOV → -1, ids in
    // token order as a comma string (Tokenize.tokenizeIds).
    "tokenize_ids" ->
      """WITH tok0 AS (
        |  SELECT UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token, COUNT(*) AS cnt FROM tok0 GROUP BY token),
        |v AS (
        |  SELECT token, CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS id
        |  FROM c ORDER BY cnt DESC, token LIMIT 500),
        |d AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, t[i + 1] AS token, i AS pos
        |  FROM d, UNNEST(range(0, len(t))) AS u(i)),
        |m AS (
        |  SELECT p.doc_id, p.pos, COALESCE(v.id, -1) AS id
        |  FROM p LEFT JOIN v ON p.token = v.token)
        |SELECT doc_id, COUNT(*) AS n_tok,
        |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // CSV round-trip (sources.Feeds.sourceCsv): the engine writes nation
    // as ONE headered CSV and aggregates what it reads back. Like ORC, the
    // oracle states the same aggregation over the ORIGINAL nation table, so
    // a corrupt CSV write or read surfaces as a value mismatch, at any SF.
    "source_csv" ->
      """SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_name,
        |       CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
        |FROM nation
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    // JSON-lines round-trip (sources.Feeds.sourceJson), same contract over
    // the ORIGINAL supplier table.
    "source_json" ->
      """SELECT s_nationkey, COUNT(*) AS n_suppliers, MIN(s_name) AS first_name,
        |       CAST(SUM(s_suppkey) AS BIGINT) AS sum_key
        |FROM supplier
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // ORC round-trip (sources.Feeds.sourceOrc): DuckDB has no ORC reader,
    // so the oracle computes the same aggregation over the ORIGINAL
    // parquet customer table — any corruption in the engine's ORC write
    // or read surfaces as a value mismatch on the driver's hash compare.
    "source_orc" ->
      """SELECT c_nationkey, COUNT(*) AS n_customers, MIN(c_name) AS first_name,
        |       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
        |       CAST(SUM(c_custkey) AS BIGINT) AS sum_key
        |FROM customer
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // Hidden _metadata columns (Relational.scanFileMetadata): the driver
    // table is ONE parquet file, so the oracle states the expectation
    // exactly — basename constant, row_index a 0-based contiguous range.
    "scan_file_metadata" ->
      """SELECT 'lineitem.parquet' AS file_name, COUNT(*) AS n_rows,
        |       CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
        |       CAST(0 AS BIGINT) AS min_idx,
        |       COUNT(*) - 1 AS max_idx
        |FROM lineitem""".stripMargin,

    // XML round trip (Feeds.sourceXml): the ORC pattern — DuckDB has no
    // XML reader, so the oracle restates the aggregation over the
    // ORIGINAL part table; write/read corruption = value mismatch.
    "source_xml" ->
      """SELECT p_brand, COUNT(*) AS n_parts, MIN(p_name) AS first_name,
        |       CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types,
        |       CAST(SUM(p_partkey) AS BIGINT) AS sum_key,
        |       CAST(SUM(p_size) AS BIGINT) AS sum_size
        |FROM part
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // WITH RECURSIVE ancestor walk (Relational.sqlRecursiveCte): same
    // statement text modulo integer-division spelling (Spark DIV,
    // DuckDB //) and the hugeint-sum casts. The recursion needs no h<…
    // bound because the walk terminates structurally (anc > 0 shrinks
    // 16× per step), unlike the graph CTEs.
    "sql_recursive_cte" ->
      """WITH RECURSIVE chain(node, cents, anc, depth) AS (
        |  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT),
        |         c_custkey, 0
        |  FROM customer
        |  UNION ALL
        |  SELECT node, cents, anc // 16, depth + 1
        |  FROM chain WHERE anc > 0
        |)
        |SELECT anc, COUNT(*) AS n_desc,
        |       CAST(MAX(depth) AS BIGINT) AS max_depth,
        |       CAST(SUM(node) AS BIGINT) AS sum_nodes,
        |       CAST(SUM(cents) AS BIGINT) AS subtree_cents
        |FROM chain
        |GROUP BY anc
        |ORDER BY anc""".stripMargin,

    // SQL pipe syntax (SqlSurface.sqlPipeSyntax): the pipe form is
    // sugar — the oracle is the plain GROUP BY it must equal.
    "sql_pipe_syntax" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       CAST(round(SUM(l_quantity)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // GROUP BY ALL / ORDER BY ALL (SqlSurface.sqlGroupByAll): the oracle
    // states the explicit grouping the ALL sugar must resolve to.
    "sql_group_by_all" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // Named-parameter SQL (SqlSurface.sqlParameterized): the oracle
    // inlines the literals the parameters must bind to.
    "sql_parameterized" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE o_totalprice >= 150000 AND o_orderstatus <> 'P'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Aggregate FILTER clauses (SqlSurface.sqlAggFilter): both engines
    // support the standard clause natively — stated verbatim.
    "sql_agg_filter" ->
      """SELECT o_orderstatus, COUNT(*) AS n_all,
        |       COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
        |       CAST(COALESCE(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
        |         FILTER (WHERE year(o_orderdate) = 1996), 0) AS BIGINT) AS cents_1996,
        |       CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_cust_p0
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // SQL UNPIVOT (SqlSurface.sqlUnpivot): the reshape restated as the
    // explicit UNION ALL stack the clause replaces.
    "sql_unpivot" ->
      """WITH u AS (
        |  SELECT o_orderstatus, 'cents' AS metric,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderstatus, 'cust' AS metric, CAST(o_custkey AS BIGINT) AS v
        |  FROM orders)
        |SELECT o_orderstatus, metric, CAST(SUM(v) AS BIGINT) AS total,
        |       COUNT(*) AS n
        |FROM u GROUP BY o_orderstatus, metric
        |ORDER BY o_orderstatus, metric""".stripMargin,

    // Session variables (SqlSurface.sqlSessionVars): the variables
    // resolve to these literals at analysis time.
    "sql_session_vars" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 15000000
        |  AND o_orderstatus <> 'P'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // SQL scripting (SqlSurface.sqlScript): the WHILE loop lands on
    // 3^11 = 177147 (first power of 3 past 100000 — coupled to the
    // script by comment on both sides).
    "sql_script" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE o_totalprice < 177147
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // PII masking (Functions.fnMask): DuckDB restates the class map as
    // regexp_replace chains — for the custom variant the OTHER class
    // must replace FIRST (afterwards everything is already A/a/9).
    "fn_mask" ->
      """SELECT s_suppkey,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    s_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS masked,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    s_name, '[^A-Za-z0-9]', '_', 'g'),
        |    '[A-Z]', 'A', 'g'), '[a-z]', 'a', 'g'), '[0-9]', '9', 'g') AS custom,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    s_name || '-' || CAST(s_nationkey AS VARCHAR),
        |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS mixed
        |FROM supplier ORDER BY s_suppkey LIMIT 500""".stripMargin,

    // In-row CSV codec (Functions.fnCsv): the oracle reconstructs the
    // rendered text arithmetically (no quoting on this corpus) and the
    // round-tripped fields are the originals.
    "fn_csv" ->
      """WITH hostile AS (
        |  SELECT s_suppkey, s_nationkey,
        |         s_name || ',"' || CAST(s_nationkey AS VARCHAR) || '"' ||
        |           chr(10) || 'x' AS h
        |  FROM supplier),
        |rendered AS (
        |  SELECT s_suppkey, h, s_nationkey,
        |         CAST(s_suppkey AS VARCHAR) || ',' ||
        |           '"' || replace(h, '"', '""') || '"' || ',' ||
        |           CAST(s_nationkey AS VARCHAR) AS csv
        |  FROM hostile)
        |SELECT s_suppkey, md5(csv) AS csv_md5,
        |       CAST(length(csv) AS BIGINT) AS csv_len,
        |       true AS h_ok, s_nationkey AS nk_rt
        |FROM rendered ORDER BY s_suppkey LIMIT 500""".stripMargin,

    // EXISTS/NOT EXISTS (Relational.subqExists): same statement text.
    "subq_exists" ->
      """SELECT n.n_nationkey, n.n_name
        |FROM nation n
        |WHERE EXISTS (
        |    SELECT 1 FROM supplier s
        |    WHERE s.s_nationkey = n.n_nationkey AND s.s_acctbal > 9000)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM supplier s
        |    WHERE s.s_nationkey = n.n_nationkey AND s.s_acctbal < -900)
        |ORDER BY n.n_nationkey""".stripMargin,

    // IGNORE NULLS window family (Windows.winIgnoreNulls): DuckDB spells
    // the modifier inside the call — same SQL-standard semantics.
    "win_ignore_nulls" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |         CASE WHEN event_id % 4 = 0 THEN CAST(NULL AS BIGINT)
        |              ELSE CAST(round(value * 100) AS BIGINT) END AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |)
        |SELECT user_id, event_id, v,
        |       lag(v IGNORE NULLS) OVER w AS prev_nn,
        |       lead(v IGNORE NULLS) OVER w AS next_nn,
        |       first_value(v IGNORE NULLS) OVER
        |         (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_nn,
        |       nth_value(v, 2 IGNORE NULLS) OVER
        |         (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_nn
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY user_id, event_id LIMIT 3000""".stripMargin,

    // Third string tranche (Functions.fnString3): DuckDB's split_part
    // supports negative (from-the-end) indices like Spark's.
    "fn_string3" ->
      """SELECT p_partkey,
        |       split_part(p_name, ' ', 2) AS w2,
        |       split_part(p_type, ' ', -1) AS type_last,
        |       starts_with(p_name, 'a') AS sw,
        |       suffix(p_name, 'd') AS ew,
        |       contains(p_name, 'green') AS hasg,
        |       lpad(p_brand, 12, '#') AS lp,
        |       rpad(p_type, 30, '.') AS rp
        |FROM part ORDER BY p_partkey LIMIT 500""".stripMargin,

    // Collation grouping (Functions.fnCollation): on the ASCII corpus
    // UTF8_LCASE grouping ≡ lower() grouping — DuckDB states the latter;
    // the binary-collation DISTINCT counts the collapsed case variants.
    "fn_collation" ->
      """WITH m AS (
        |  SELECT CASE CAST(event_id % 3 AS INTEGER)
        |           WHEN 0 THEN upper(event_type)
        |           WHEN 1 THEN lower(event_type)
        |           ELSE event_type END AS mangled
        |  FROM events WHERE event_type IS NOT NULL
        |)
        |SELECT lower(mangled) AS etype, COUNT(*) AS n,
        |       CAST(COUNT(DISTINCT mangled) AS BIGINT) AS n_raw_variants
        |FROM m GROUP BY lower(mangled) ORDER BY etype""".stripMargin,

    // Calendar interval arithmetic (Functions.fnInterval): DuckDB's
    // `+ INTERVAL` uses the same Postgres end-of-month clamp as Spark's
    // add_months; next_day restates as isodow arithmetic (first date
    // STRICTLY later than d that is a Monday).
    "fn_interval" ->
      """SELECT o_orderkey, d,
        |       CAST(d + INTERVAL 2 MONTH AS DATE) AS plus2m,
        |       last_day(d) AS eom,
        |       CAST(date_diff('day', d, CAST('1998-12-31' AS DATE)) AS BIGINT) AS days_left,
        |       d + CAST(CASE WHEN (8 - isodow(d)) % 7 = 0 THEN 7
        |                     ELSE (8 - isodow(d)) % 7 END AS INTEGER) AS next_mon,
        |       CAST(date_part('quarter', d) AS BIGINT) AS q,
        |       CAST(date_part('doy', d) AS BIGINT) AS doy,
        |       make_date(CAST(date_part('year', d) AS INTEGER),
        |                 CAST(date_part('month', d) AS INTEGER), 1) AS month_start
        |FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders) t
        |ORDER BY o_orderkey LIMIT 3000""".stripMargin,

    // ANSI-safe try_* arithmetic (Functions.fnTry): DuckDB's `/` already
    // NULLs on zero and TRY_CAST matches; the two overflow columns are
    // restated as their stateless rule (DuckDB + would ERROR on
    // overflow, so the CASE states which rows survive: only key 0 adds
    // to Long.Max without overflow; a multiply by 2^62 overflows for
    // every key ≥ 2).
    "fn_try" ->
      """SELECT o_orderkey,
        |       ROUND(CAST(round(o_totalprice * 100) AS BIGINT) / (o_orderkey % 5), 6) AS div_mod5,
        |       CASE WHEN o_orderkey = 0 THEN 9223372036854775807 END AS add_ovf,
        |       CASE WHEN o_orderkey = 0 THEN 0
        |            WHEN o_orderkey = 1 THEN 4611686018427387904 END AS mul_ovf,
        |       TRY_CAST(o_orderstatus AS BIGINT) AS bad_cast,
        |       TRY_CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS good_cast
        |FROM orders ORDER BY o_orderkey LIMIT 3000""".stripMargin,

    // Higher-order lambdas (Functions.fnLambda): DuckDB's list functions
    // state the same semantics; arr = [1..n] with n = vec_id % 5 + 3, so
    // the reverse zip restates as x * (n + 1 - x).
    "fn_lambda" ->
      """WITH b AS (
        |  SELECT vec_id, vec_id % 5 + 3 AS n, range(1, vec_id % 5 + 4) AS arr
        |  FROM embeddings
        |)
        |SELECT vec_id,
        |       CAST(list_sum(list_transform(arr, x -> x * x)) AS BIGINT) AS sum_sq,
        |       CAST(len(list_filter(arr, x -> x % 2 = 0)) AS BIGINT) AS n_even,
        |       len(list_filter(arr, x -> x % 7 = 0)) > 0 AS has_7,
        |       len(list_filter(arr, x -> NOT (x > 0))) = 0 AS all_pos,
        |       CAST(list_sum(list_transform(arr, x -> x * (n + 1 - x))) AS BIGINT) AS sum_prod
        |FROM b ORDER BY vec_id""".stripMargin,

    // Variant extraction (Functions.fnVariant): DuckDB builds the SAME
    // enriched JSON text and extracts with json_extract — the values,
    // not the binary encoding, are the contract. The missing path is
    // SQL NULL on both engines.
    "fn_variant" ->
      """SELECT event_id,
        |       json_extract_string(j, '$.meta.type') AS vtype,
        |       CAST(json_extract(j, '$.meta.k') AS BIGINT) AS vk,
        |       CAST(json_extract(j, '$.tags[1]') AS BIGINT) AS vtag,
        |       CAST(json_extract(j, '$.missing') AS BIGINT) AS vmiss
        |FROM (
        |  SELECT event_id,
        |         '{"id": ' || event_id || ', "meta": {"type": "' ||
        |         event_type || '", "k": ' || k || '}, "tags": [' ||
        |         (event_id % 7) || ', ' || (event_id % 11) || ']}' AS j
        |  FROM (SELECT event_id, event_type,
        |               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |        FROM events) t
        |  WHERE k IS NOT NULL
        |) ORDER BY event_id LIMIT 3000""".stripMargin,

    // BFS hop distance from doc 0 over the τ=0.95 Jaccard probe graph
    // (same edge CTE as graph_degree), unreachable at -1 (Graph.graphBfs).
    // UNION (distinct) bounds the recursive state to nodes × depth.
    // COUPLING: the `w.d < 64` recursion bound must equal Graph.bfsOf's
    // maxIter (64) — the engine fails loudly when the frontier outlives
    // maxIter, so the two sides can never silently disagree on distances
    // beyond the shared bound.
    "graph_bfs" ->
      """WITH RECURSIVE ss AS (
        |  SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS s
        |  FROM documents WHERE doc_id < 100),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.95),
        |sym AS (
        |  SELECT a_id AS u, b_id AS v FROM pairs
        |  UNION ALL SELECT b_id, a_id FROM pairs),
        |walk(node, d) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, 0 AS d
        |  UNION
        |  SELECT s.v, w.d + 1 FROM walk w JOIN sym s ON s.u = w.node
        |  WHERE w.d < 64)
        |SELECT doc.doc_id, CAST(COALESCE(MIN(w.d), -1) AS BIGINT) AS dist
        |FROM documents doc LEFT JOIN walk w ON doc.doc_id = w.node
        |WHERE doc.doc_id < 100
        |GROUP BY doc.doc_id ORDER BY doc.doc_id""".stripMargin,

    // Weighted SSSP from doc 0 over the same probe graph
    // (Graph.graphSssp): edge weight (u+v) % 5 + 1, min path weight per
    // node, unreachable at -1. UNION (distinct) on (node, d, h) bounds
    // the recursive state; COUPLING: the `w.h < 16` hop bound must equal
    // Graph.ssspOf's maxHops (16) — the engine certifies at fixpoint
    // that every shortest path uses ≤ 16 edges (synchronous rounds), so
    // the bounded walk's minimum IS the true shortest distance.
    "graph_sssp" ->
      """WITH RECURSIVE ss AS (
        |  SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS s
        |  FROM documents WHERE doc_id < 100),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.95),
        |sym AS (
        |  SELECT a_id AS u, b_id AS v FROM pairs
        |  UNION ALL SELECT b_id, a_id FROM pairs),
        |walk(node, d, h) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS d, 0 AS h
        |  UNION
        |  SELECT s.v, w.d + ((s.u + s.v) % 5 + 1), w.h + 1
        |  FROM walk w JOIN sym s ON s.u = w.node
        |  WHERE w.h < 16)
        |SELECT doc.doc_id, CAST(COALESCE(MIN(w.d), -1) AS BIGINT) AS dist
        |FROM documents doc LEFT JOIN walk w ON doc.doc_id = w.node
        |WHERE doc.doc_id < 100
        |GROUP BY doc.doc_id ORDER BY doc.doc_id""".stripMargin,

    // Sliding exact median over a bounded 5-row frame, integral cents
    // (Windows.winMedian).
    "win_median" ->
      """WITH c AS (
        |  SELECT user_id, event_id, ts, round(value * 100) AS vc FROM events
        |  WHERE value IS NOT NULL)
        |SELECT user_id, event_id,
        |       ROUND(median(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) / 100.0, 6) AS med5
        |FROM c ORDER BY user_id, event_id LIMIT 5000""".stripMargin,

    // Frame-sampling index over the synthetic ASCII media corpus: byte
    // slices are SQL substrings, md5 matches across engines
    // (Multimodal.frameIndex; stride 64, frame 16).
    "multimodal_frames" ->
      """WITH f AS (
        |  SELECT doc_id, i AS off, substring(text, CAST(i AS INT) + 1, 16) AS fr
        |  FROM documents, UNNEST(range(0, len(text), 64)) AS u(i))
        |SELECT doc_id AS media_id, CAST(off // 64 AS INT) AS frame_idx,
        |       CAST(off AS BIGINT) AS offset,
        |       CAST(len(fr) AS BIGINT) AS n_bytes, md5(fr) AS frame_md5
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,

    // Integral-cents median/MAD per event type — exact half/quarter-grid
    // interpolation on both engines (Behavior.anomalyMad).
    "anomaly_mad" ->
      """WITH c AS (
        |  SELECT event_type, round(value * 100) AS vc FROM events
        |  WHERE value IS NOT NULL),
        |m AS (
        |  SELECT event_type, median(vc) AS med_c, COUNT(*) AS n
        |  FROM c GROUP BY event_type),
        |d AS (
        |  SELECT c.event_type, m.med_c, m.n, abs(c.vc - m.med_c) AS dev
        |  FROM c JOIN m USING (event_type))
        |SELECT event_type, n,
        |       ROUND(med_c / 100.0, 6) AS med,
        |       ROUND(median(dev) / 100.0, 6) AS mad
        |FROM d GROUP BY event_type, n, med_c ORDER BY event_type""".stripMargin,

    // Shannon entropies (marginals + joint) of the document categorical
    // columns (FeatureStats.aggEntropy): c-weighted micro-nat ln(N/c)
    // terms, exact integer sums, one division at the end.
    "agg_entropy" ->
      """WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM documents),
        |hl AS (
        |  SELECT 'lang' AS measure, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents GROUP BY lang),
        |hs AS (
        |  SELECT 'source' AS measure, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents GROUP BY source),
        |hj AS (
        |  SELECT 'lang_source' AS measure, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents GROUP BY lang, source),
        |u AS (SELECT * FROM hl UNION ALL SELECT * FROM hs UNION ALL SELECT * FROM hj),
        |terms AS (
        |  SELECT measure, c,
        |         CAST(ROUND(LN(CAST(t.n_tot AS DOUBLE) / c) * 1e6) AS BIGINT) AS term_micro,
        |         t.n_tot
        |  FROM u CROSS JOIN tot t)
        |SELECT measure, CAST(COUNT(*) AS BIGINT) AS n_cats,
        |       ROUND(CAST(SUM(c * term_micro) AS DOUBLE) / ANY_VALUE(n_tot) / 1e6, 6) AS h_nats
        |FROM terms GROUP BY measure ORDER BY measure""".stripMargin,

    // Interval-union covered time per user (Behavior.intervalUnionLength):
    // running-max island detection, exact integer micros end to end.
    "interval_union_length" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |m AS (
        |  SELECT user_id, s, e,
        |         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
        |  FROM iv),
        |f AS (
        |  SELECT user_id, s, e,
        |         CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END AS new_island
        |  FROM m),
        |isl AS (
        |  SELECT user_id, s, e,
        |         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f),
        |g AS (
        |  SELECT user_id, island, MIN(s) AS is_s, MAX(e) AS is_e
        |  FROM isl GROUP BY user_id, island)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
        |       CAST(SUM(is_e - is_s) AS BIGINT) AS covered_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Trailing-7-day distinct actives per present day (Behavior.
    // rollingActiveUsers). The oracle states the definition directly as a
    // bounded range join — the engine's linear explode+dedup restatement
    // must agree exactly.
    "rolling_active_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |grid AS (SELECT DISTINCT day FROM ud)
        |SELECT g.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS n_active_7d
        |FROM grid g JOIN ud u ON u.day BETWEEN g.day - 6 AND g.day
        |GROUP BY g.day ORDER BY g.day""".stripMargin,

    // Class-balanced downsample to the min class count by md5(doc_id)
    // order (Sampling.balanceClasses) — identical hash, identical rows.
    "balance_classes" ->
      """WITH f AS (SELECT CAST(MIN(c) AS BIGINT) AS m FROM (
        |       SELECT COUNT(*) AS c FROM documents GROUP BY lang)),
        |r AS (
        |  SELECT lang, doc_id,
        |         CAST(row_number() OVER (PARTITION BY lang
        |              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |SELECT lang, rn, doc_id FROM r CROSS JOIN f
        |WHERE rn <= m ORDER BY lang, rn""".stripMargin,

    // Mutual information of the lang × source contingency table
    // Exact bitmap distinct rollup (Audience.aggBitmapDistinct): the
    // oracle states the DEFINITION (per-day + all-time COUNT DISTINCT);
    // the engine's bitmap pre-aggregate path must be value-identical.
    "agg_bitmap_distinct" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |GROUP BY CAST(ts AS DATE)
        |UNION ALL
        |SELECT 'ALL' AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |ORDER BY day""".stripMargin,

    // DSv2 manifest-commit round trip (Feeds.sourceManifest): oracle on
    // the ORIGINAL customer table — the staged-write + atomic-manifest
    // path must lose and duplicate nothing.
    "source_manifest" ->
      """SELECT c_nationkey, COUNT(*) AS n_customers,
        |       MIN(c_name) AS first_name,
        |       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
        |       CAST(SUM(c_custkey) AS BIGINT) AS sum_key
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // Calendar dimension (Behavior.dimCalendar): generated day span with
    // warehouse attributes; DuckDB week() is ISO like Spark weekofyear,
    // dayofweek is 0=Sunday on both stated axes.
    "dim_calendar" ->
      """WITH span AS (
        |  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
        |  FROM events WHERE ts IS NOT NULL),
        |days AS (
        |  SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |  FROM span),
        |daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_ev
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1)
        |SELECT d.day,
        |       CAST(year(d.day) AS INTEGER) AS yr,
        |       CAST(weekofyear(d.day) AS INTEGER) AS iso_week,
        |       CAST(month(d.day) AS INTEGER) AS mth,
        |       CAST(quarter(d.day) AS INTEGER) AS qtr,
        |       CAST(dayofweek(d.day) AS INTEGER) AS dow,
        |       dayofweek(d.day) IN (0, 6) AS is_weekend,
        |       COALESCE(dl.n_ev, 0) AS n_ev
        |FROM days d LEFT JOIN daily dl ON dl.day = d.day
        |ORDER BY d.day""".stripMargin,

    // Linear multi-touch attribution (Behavior.attributionLinear):
    // integral micro-credits; 'direct' channel for untouched purchases.
    "attribution_linear" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL),
        |p AS (SELECT user_id, event_id AS p_id, us AS p_us FROM ev
        |      WHERE event_type = 'purchase'),
        |tc AS (SELECT user_id, event_type AS channel, us AS t_us FROM ev
        |       WHERE event_type IN ('click', 'view')),
        |pairs AS (
        |  SELECT p.p_id, tc.channel
        |  FROM p JOIN tc ON p.user_id = tc.user_id
        |   AND tc.t_us < p.p_us AND tc.t_us >= p.p_us - 86400000000),
        |cr AS (
        |  SELECT p_id, channel,
        |         CAST(round(1e6 / COUNT(*) OVER (PARTITION BY p_id)) AS BIGINT) AS cm
        |  FROM pairs),
        |touched AS (
        |  SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
        |         CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_purchases,
        |         CAST(SUM(cm) AS BIGINT) AS cm
        |  FROM cr GROUP BY channel),
        |direct AS (
        |  SELECT 'direct' AS channel,
        |         CAST(COUNT(*) AS BIGINT) AS n_touches,
        |         CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |         CAST(COUNT(*) * 1000000 AS BIGINT) AS cm
        |  FROM p WHERE p_id NOT IN (SELECT p_id FROM cr))
        |SELECT channel, n_touches, n_purchases,
        |       ROUND(CAST(cm AS DOUBLE) / 1e6, 6) AS credit
        |FROM (SELECT * FROM touched UNION ALL SELECT * FROM direct)
        |ORDER BY channel""".stripMargin,

    // Lag-1..7 autocorrelation of the daily series
    // (Behavior.tsAutocorrelation): D-scaled exact integer deviations,
    // one division per lag.
    "ts_autocorrelation" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_ev
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_ev) AS BIGINT) AS n_tot,
        |         CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
        |dev AS (
        |  SELECT day, n_ev * t.n_days - t.n_tot AS d
        |  FROM daily CROSS JOIN tot t),
        |den AS (SELECT CAST(SUM(d * d) AS BIGINT) AS den FROM dev),
        |lags AS (SELECT UNNEST(range(1, 8)) AS lag),
        |pairs AS (
        |  SELECT l.lag, a.d AS d0, b.d AS d1
        |  FROM lags l
        |  JOIN dev a ON TRUE
        |  JOIN dev b ON b.day = a.day + CAST(l.lag AS INTEGER))
        |SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       ROUND(CAST(SUM(d0 * d1) AS DOUBLE) / (SELECT den FROM den), 6) AS acf
        |FROM pairs GROUP BY lag ORDER BY lag""".stripMargin,

    // Lagged cross-correlation (Behavior.tsCrossCorrelation): same
    // D-scaled integer-deviation scheme as ts_autocorrelation, two
    // series on the shared day spine (gap days = 0).
    "ts_cross_correlation" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1),
        |spine AS (
        |  SELECT CAST(UNNEST(generate_series(
        |           (SELECT MIN(day) FROM daily),
        |           (SELECT MAX(day) FROM daily), INTERVAL 1 DAY)) AS DATE) AS day),
        |series AS (
        |  SELECT s.day, COALESCE(d.x, 0) AS x, COALESCE(d.y, 0) AS y
        |  FROM spine s LEFT JOIN daily d USING (day)),
        |tot AS (
        |  SELECT CAST(SUM(x) AS BIGINT) AS nx, CAST(SUM(y) AS BIGINT) AS ny,
        |         CAST(COUNT(*) AS BIGINT) AS d FROM series),
        |dev AS (
        |  SELECT day, x * t.d - t.nx AS dx, y * t.d - t.ny AS dy
        |  FROM series CROSS JOIN tot t),
        |den AS (
        |  SELECT CAST(SUM(dx * dx) AS BIGINT) AS sxx,
        |         CAST(SUM(dy * dy) AS BIGINT) AS syy FROM dev),
        |lags AS (SELECT CAST(UNNEST(range(0, 8)) AS INTEGER) AS lag),
        |pairs AS (
        |  SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |         CAST(SUM(a.dx * b.dy) AS BIGINT) AS num
        |  FROM lags l
        |  JOIN dev a ON TRUE
        |  JOIN dev b ON b.day = a.day + CAST(l.lag AS INTEGER)
        |  GROUP BY l.lag)
        |SELECT lag, n_pairs,
        |       ROUND(CAST(num AS DOUBLE) /
        |             SQRT(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6) AS ccf
        |FROM pairs CROSS JOIN den ORDER BY lag""".stripMargin,

    // Feature hashing (Text.textHashingVectorizer): the stated
    // md5-hex fold mod 64 reproduced with the shared hexFold helper.
    "text_hashing_vectorizer" ->
      s"""WITH toks AS (
         |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
         |tok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
         |b AS (
         |  SELECT doc_id,
         |         CAST(${hexFold("md5(token)")} % 64 AS INTEGER) AS bucket
         |  FROM tok)
         |SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS n
         |FROM b GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin,

    // RFM segmentation (Behavior.behaviorRfm): quintiles via the SAME
    // (rank−1)·5 div n + 1 bucket formula over the equivalent
    // (metric, custkey) ROW_NUMBER ordering.
    "behavior_rfm" ->
      """WITH base AS (
        |  SELECT o_custkey AS custkey,
        |         MAX(CAST(o_orderdate AS DATE)) AS last_date,
        |         CAST(COUNT(*) AS BIGINT) AS freq,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS mon_cents
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |  GROUP BY o_custkey),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
        |r AS (
        |  SELECT b.*, t.n,
        |    row_number() OVER (ORDER BY last_date, custkey) AS rr,
        |    row_number() OVER (ORDER BY freq, custkey) AS fr,
        |    row_number() OVER (ORDER BY mon_cents, custkey) AS mr
        |  FROM base b CROSS JOIN nn t),
        |s AS (
        |  SELECT custkey, last_date, freq, mon_cents,
        |    CAST((rr - 1) * 5 // n + 1 AS INTEGER) AS r_score,
        |    CAST((fr - 1) * 5 // n + 1 AS INTEGER) AS f_score,
        |    CAST((mr - 1) * 5 // n + 1 AS INTEGER) AS m_score
        |  FROM r)
        |SELECT custkey, last_date, freq,
        |       CAST(mon_cents AS DOUBLE) / 100 AS monetary,
        |       r_score, f_score, m_score,
        |       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
        |            WHEN f_score >= 4 THEN 'loyal'
        |            WHEN m_score = 5 THEN 'big_spender'
        |            WHEN r_score <= 2 AND (f_score >= 3 OR m_score >= 3) THEN 'at_risk'
        |            WHEN r_score <= 2 THEN 'hibernating'
        |            ELSE 'regular' END AS segment
        |FROM s ORDER BY custkey""".stripMargin,

    // Manifest time travel (Feeds.sourceManifestTimeTravel): snapshot 1
    // holds exactly the even-custkey commit; the oracle states it from
    // the original table.
    "source_manifest_time_travel" ->
      """SELECT c_nationkey, COUNT(*) AS n_customers,
        |       MIN(c_name) AS first_name,
        |       CAST(SUM(c_custkey) AS BIGINT) AS sum_key
        |FROM customer WHERE c_custkey % 2 = 0
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // Per-user inter-arrival gap statistics (Behavior.tsInterarrival):
    // exact integer µs gaps from one lag window.
    "ts_interarrival" ->
      """WITH g AS (
        |  SELECT user_id,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |       CAST(MIN(gap_us) AS BIGINT) AS min_us,
        |       CAST(MAX(gap_us) AS BIGINT) AS max_us,
        |       ROUND(CAST(SUM(gap_us) AS DOUBLE) / COUNT(*), 3) AS avg_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // parse_url component extraction over the planted URL corpus
    // (Urls.fnUrl): DuckDB restates each component with regexes,
    // NULLIF''d to parse_url's null-on-absent semantics.
    "fn_url" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 4 AS INTEGER)
        |      WHEN 0 THEN 'https://www.example.com/docs/' || (doc_id - doc_id % 4)
        |      WHEN 1 THEN 'HTTPS://WWW.EXAMPLE.COM/docs/' || (doc_id - doc_id % 4) || '/'
        |      WHEN 2 THEN 'https://www.example.com/docs/' || (doc_id - doc_id % 4) || '?utm_source=feed&utm_campaign=x'
        |      ELSE 'https://www.example.com/docs/' || (doc_id - doc_id % 4) || '?id=9&utm_medium=email'
        |    END AS url
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_extract(url, '^([A-Za-z]+)://', 1) AS scheme,
        |  regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1) AS host,
        |  regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
        |  NULLIF(regexp_extract(url, '\?([^#]*)', 1), '') AS query,
        |  NULLIF(regexp_extract(url, '[?&]utm_source=([^&#]*)', 1), '') AS utm_source
        |FROM u ORDER BY doc_id""".stripMargin,

    // Canonicalization dedup (Urls.dedupUrlCanonical): DuckDB applies
    // the SAME rules (lowercase scheme+host, rtrim '/', drop utm_*,
    // omit empty query) with its own string/list functions.
    "dedup_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 4 AS INTEGER)
        |      WHEN 0 THEN 'https://www.example.com/docs/' || (doc_id - doc_id % 4)
        |      WHEN 1 THEN 'HTTPS://WWW.EXAMPLE.COM/docs/' || (doc_id - doc_id % 4) || '/'
        |      WHEN 2 THEN 'https://www.example.com/docs/' || (doc_id - doc_id % 4) || '?utm_source=feed&utm_campaign=x'
        |      ELSE 'https://www.example.com/docs/' || (doc_id - doc_id % 4) || '?id=9&utm_medium=email'
        |    END AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://' ||
        |    lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) ||
        |    rtrim(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/') ||
        |    CASE WHEN len(list_filter(string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |                              p -> NOT starts_with(p, 'utm_') AND p <> '')) > 0
        |         THEN '?' || array_to_string(
        |            list_filter(string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |                        p -> NOT starts_with(p, 'utm_') AND p <> ''), '&')
        |         ELSE '' END AS canon_url
        |  FROM u)
        |SELECT canon_url, CAST(COUNT(*) AS BIGINT) AS n_variants,
        |       MIN(doc_id) AS keep_id,
        |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM c GROUP BY canon_url ORDER BY keep_id""".stripMargin,

    // Per-doc top-3 TF-IDF keywords (Text.textKeywords): ranking runs on
    // the RAW IEEE tfidf (identical operands both engines), ties by
    // token; the emitted score rounds once.
    "text_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
        |tok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
        |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.token,
        |         tf.tf * LN(CAST(n.n AS DOUBLE) / df.df) AS tfidf_raw
        |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, token, tfidf_raw,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |              ORDER BY tfidf_raw DESC, token) AS INTEGER) AS rank
        |  FROM sc)
        |SELECT doc_id, rank, token, ROUND(tfidf_raw, 6) AS tfidf
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // Deterministic Bayesian bootstrap CI (FeatureStats.aggBootstrapCi):
    // hash-derived Exponential(1) weights quantized to micro-units
    // before summation; interpolating percentiles over replicate means.
    "agg_bootstrap_ci" ->
      s"""WITH base AS (
         |  SELECT event_type, event_id,
         |         CAST(round(value * 100) AS BIGINT) AS vc
         |  FROM events
         |  WHERE event_type IS NOT NULL AND value IS NOT NULL
         |    AND event_id IS NOT NULL),
         |hashed AS (
         |  SELECT b.*, ${hexFold("md5(CAST(event_id AS VARCHAR))")} AS h_row
         |  FROM base b),
         |mixed AS (
         |  SELECT h.*, r.rep,
         |         xor(h.h_row, (r.rep * 2654435761) % 4294967296) AS h0
         |  FROM hashed h CROSS JOIN (SELECT UNNEST(range(1, 51)) AS rep) r),
         |m1 AS (SELECT *, (h0 * 48271) % 4294967296 AS h1 FROM mixed),
         |m2 AS (SELECT *, (xor(h1, h1 >> 16) * 69621) % 4294967296 AS h2 FROM m1),
         |reps AS (
         |  SELECT event_type, rep, vc,
         |         CAST(round(-ln((h2 + 1) / 4294967296.0) * 1e6) AS BIGINT) AS w_micro
         |  FROM m2),
         |means AS (
         |  SELECT event_type, rep,
         |         CAST(SUM(w_micro * vc) AS DOUBLE) / SUM(w_micro) / 100 AS m_rep
         |  FROM reps GROUP BY event_type, rep),
         |obs AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |         ROUND(CAST(SUM(vc) AS DOUBLE) / COUNT(*) / 100, 6) AS mean_obs
         |  FROM base GROUP BY event_type)
         |SELECT o.event_type, o.n, o.mean_obs,
         |       ROUND(quantile_cont(m.m_rep, 0.025), 6) AS ci_lo,
         |       ROUND(quantile_cont(m.m_rep, 0.975), 6) AS ci_hi
         |FROM means m JOIN obs o USING (event_type)
         |GROUP BY o.event_type, o.n, o.mean_obs
         |ORDER BY o.event_type""".stripMargin,

    // One-pass covariance/correlation matrix (FeatureStats.
    // statsCovMatrix): generated from the SAME pair list as the engine,
    // aggCorr's decimal-moment discipline matrix-wide.
    "stats_cov_matrix" -> covMatrixSql,

    // The BitmapDistinctRewrite optimizer rule's gate entry
    // (Audience.aggCountDistinctRewrite): oracle = the PLAIN per-day
    // COUNT DISTINCT the rule transparently rewrites.
    "agg_count_distinct_rewrite" ->
      """SELECT CAST(ts AS DATE) AS day,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1 ORDER BY day""".stripMargin,

    // LEFT-outer as-of (Temporal.joinAsofLeft): unmatched purchases kept
    // with null match columns and a matched flag.
    "join_asof_left" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |s AS (SELECT event_id AS s_event_id, user_id, ts AS s_ts, value AS s_value
        |      FROM events WHERE event_type = 'signup')
        |SELECT event_id, user_id, s_ts,
        |       CAST(CAST(s_value AS DECIMAL(18,2)) AS DOUBLE) AS s_value,
        |       s_ts IS NOT NULL AS matched
        |FROM (
        |  SELECT p.event_id, p.user_id, s.s_ts, s.s_value,
        |         ROW_NUMBER() OVER (PARTITION BY p.event_id
        |             ORDER BY s.s_ts DESC, s.s_event_id DESC) AS rn
        |  FROM p LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.s_ts
        |) WHERE rn = 1
        |ORDER BY event_id""".stripMargin,

    // The date_trunc grain ladder (Functions.fnDateTrunc).
    "fn_date_trunc" ->
      """SELECT event_id,
        |       date_trunc('year', ts) AS t_year,
        |       date_trunc('quarter', ts) AS t_quarter,
        |       date_trunc('month', ts) AS t_month,
        |       date_trunc('week', ts) AS t_week,
        |       date_trunc('day', ts) AS t_day,
        |       date_trunc('hour', ts) AS t_hour,
        |       date_trunc('minute', ts) AS t_minute
        |FROM events WHERE ts IS NOT NULL
        |ORDER BY event_id LIMIT 3000""".stripMargin,

    // Multi-grain bitmap rollup (Audience.aggBitmapRollup): the oracle
    // states each grain's COUNT DISTINCT definition; DuckDB's
    // date_trunc('week') is ISO-Monday like Spark's.
    "agg_bitmap_rollup" ->
      """WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT '1_day' AS grain, CAST(day AS VARCHAR) AS period,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM ev GROUP BY day
        |UNION ALL
        |SELECT '2_week', CAST(CAST(date_trunc('week', day) AS DATE) AS VARCHAR),
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |FROM ev GROUP BY date_trunc('week', day)
        |UNION ALL
        |SELECT '3_month', CAST(CAST(date_trunc('month', day) AS DATE) AS VARCHAR),
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |FROM ev GROUP BY date_trunc('month', day)
        |UNION ALL
        |SELECT '4_total', 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM ev
        |ORDER BY grain, period""".stripMargin,

    // Pairwise audience overlap between event-type segments
    // (Audience.segmentOverlap): distinct (user, type) incidence,
    // user-keyed self-join for intersections, margin counts joined back.
    "segment_overlap" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY event_type),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY a.event_type, b.event_type)
        |SELECT p.type_a, p.type_b, ma.n AS n_a, mb.n AS n_b, p.n_both,
        |       ROUND(CAST(p.n_both AS DOUBLE) / (ma.n + mb.n - p.n_both), 6) AS jaccard
        |FROM p JOIN m ma ON ma.event_type = p.type_a
        |       JOIN m mb ON mb.event_type = p.type_b
        |ORDER BY type_a, type_b""".stripMargin,

    // Brand-pair association rules (Assoc.basketAssoc): distinct
    // (order, brand) incidence via the part dimension, order-keyed
    // self-join, min joint support 5 orders.
    "basket_assoc" ->
      """WITH ob AS (
        |  SELECT DISTINCT l.l_orderkey, p.p_brand
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM ob),
        |m AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n FROM ob GROUP BY p_brand),
        |pr AS (
        |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        |  GROUP BY a.p_brand, b.p_brand
        |  HAVING COUNT(*) >= 5)
        |SELECT pr.brand_a, pr.brand_b, ma.n AS n_a, mb.n AS n_b, pr.n_ab,
        |       ROUND(CAST(pr.n_ab AS DOUBLE) / t.n_orders, 6) AS support,
        |       ROUND(CAST(pr.n_ab AS DOUBLE) / ma.n, 6) AS conf_a_b,
        |       ROUND(CAST(pr.n_ab AS DOUBLE) / mb.n, 6) AS conf_b_a,
        |       ROUND(CAST(pr.n_ab AS DOUBLE) * t.n_orders / (ma.n * mb.n), 6) AS lift
        |FROM pr JOIN m ma ON ma.p_brand = pr.brand_a
        |        JOIN m mb ON mb.p_brand = pr.brand_b
        |        CROSS JOIN tot t
        |ORDER BY brand_a, brand_b""".stripMargin,

    // Two-sample KS statistic (FeatureStats.statsKsTest): the supremum
    // taken over the cross-multiplied integer |F1·n2 − F2·n1| so the
    // argmax never touches a float; d_at = smallest length achieving it.
    // Welch t-test / Mann-Whitney U (FeatureStats): the SAME en-vs-rest
    // split as stats_ks_test; exact BIGINT sufficient statistics, and
    // the float formulas are written as the IDENTICAL expression trees
    // the engine projects, so the rounded outputs agree bit-for-bit.
    // One-way ANOVA (FeatureStats.statsAnova): exact per-group BIGINT
    // sufficient statistics, micro-unit between-terms rounded BEFORE the
    // cross-group sum, then the identical two floating quotients.
    "stats_anova" ->
      """WITH g AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS ng,
        |         CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS sg,
        |         CAST(SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS BIGINT) AS qg
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY lang),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |         CAST(SUM(ng) AS BIGINT) AS n,
        |         CAST(SUM(sg) AS BIGINT) AS s,
        |         CAST(SUM(qg) AS BIGINT) AS q,
        |         CAST(SUM(CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) * 1000000.0 / CAST(ng AS DOUBLE)) AS BIGINT)) AS BIGINT) AS b
        |  FROM g),
        |ss AS (
        |  SELECT k, n,
        |         b - CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) * 1000000.0 / CAST(n AS DOUBLE)) AS BIGINT) AS ssb_micro,
        |         q * 1000000 - b AS ssw_micro
        |  FROM tot)
        |SELECT k, n, ssb_micro, ssw_micro,
        |       ROUND((CAST(ssb_micro AS DOUBLE) / CAST(k - 1 AS DOUBLE)) /
        |             (CAST(ssw_micro AS DOUBLE) / CAST(n - k AS DOUBLE)), 6) AS f_stat,
        |       ROUND(CAST(ssb_micro AS DOUBLE) / CAST(ssb_micro + ssw_micro AS DOUBLE), 6) AS eta_sq
        |FROM ss""".stripMargin,

    "stats_welch_ttest" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS BIGINT) AS x,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS in1
        |  FROM documents WHERE n_chars IS NOT NULL),
        |m AS (
        |  SELECT CAST(SUM(in1) AS BIGINT) AS n1,
        |         CAST(SUM(1 - in1) AS BIGINT) AS n2,
        |         CAST(SUM(x * in1) AS BIGINT) AS s1a,
        |         CAST(SUM(x * (1 - in1)) AS BIGINT) AS s1b,
        |         CAST(SUM(x * x * in1) AS BIGINT) AS s2a,
        |         CAST(SUM(x * x * (1 - in1)) AS BIGINT) AS s2b
        |  FROM d),
        |v AS (
        |  SELECT n1, n2, s1a, s1b,
        |         (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE) AS va,
        |         (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE) AS vb
        |  FROM m),
        |s AS (
        |  SELECT n1, n2, s1a, s1b, va, vb,
        |         va / CAST(n1 AS DOUBLE) + vb / CAST(n2 AS DOUBLE) AS se2
        |  FROM v)
        |SELECT n1, n2,
        |       ROUND(CAST(s1a AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS mean1,
        |       ROUND(CAST(s1b AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS mean2,
        |       ROUND(va, 6) AS var1,
        |       ROUND(vb, 6) AS var2,
        |       ROUND((CAST(s1a AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s1b AS DOUBLE) / CAST(n2 AS DOUBLE)) / SQRT(se2), 6) AS t_stat,
        |       ROUND(se2 * se2 / ((va / CAST(n1 AS DOUBLE)) * (va / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE) + (vb / CAST(n2 AS DOUBLE)) * (vb / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE)), 6) AS df
        |FROM s""".stripMargin,

    "stats_mannwhitney" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS BIGINT) AS x,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS in1
        |  FROM documents WHERE n_chars IS NOT NULL),
        |pv AS (
        |  SELECT x, CAST(SUM(in1) AS BIGINT) AS c1, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM d GROUP BY x),
        |cw AS (
        |  SELECT c1, c,
        |         CAST(SUM(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS BIGINT) AS cum_before
        |  FROM pv),
        |m AS (
        |  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |         CAST(SUM(c - c1) AS BIGINT) AS n2,
        |         CAST(SUM(c1 * (2 * cum_before + c + 1)) AS BIGINT) AS r1x2,
        |         CAST(SUM(c * c * c - c) AS BIGINT) AS ties
        |  FROM cw),
        |u AS (SELECT n1, n2, ties, r1x2 - n1 * (n1 + 1) AS u2 FROM m)
        |SELECT n1, n2, ties,
        |       CAST(u2 AS DOUBLE) / 2 AS u,
        |       ROUND((CAST(u2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) / (2 * SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * (CAST(n1 + n2 + 1 AS DOUBLE) - CAST(ties AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))) / 12)), 6) AS z
        |FROM u""".stripMargin,

    "stats_ks_test" ->
      """WITH d AS (
        |  SELECT n_chars, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS in1
        |  FROM documents WHERE n_chars IS NOT NULL),
        |tot AS (
        |  SELECT CAST(SUM(in1) AS BIGINT) AS n1,
        |         CAST(SUM(1 - in1) AS BIGINT) AS n2 FROM d),
        |pv AS (
        |  SELECT n_chars, CAST(SUM(in1) AS BIGINT) AS c1,
        |         CAST(SUM(1 - in1) AS BIGINT) AS c2
        |  FROM d GROUP BY n_chars),
        |cum AS (
        |  SELECT n_chars,
        |         SUM(c1) OVER (ORDER BY n_chars
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
        |         SUM(c2) OVER (ORDER BY n_chars
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
        |  FROM pv),
        |sc AS (
        |  SELECT c.n_chars, t.n1, t.n2,
        |         CAST(ABS(f1 * t.n2 - f2 * t.n1) AS BIGINT) AS num
        |  FROM cum c CROSS JOIN tot t)
        |SELECT n1, n2, MAX(num) AS d_num,
        |       CAST(MIN(CASE WHEN num = (SELECT MAX(num) FROM sc)
        |                     THEN n_chars END) AS BIGINT) AS d_at,
        |       ROUND(CAST(MAX(num) AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 6) AS ks_d
        |FROM sc GROUP BY n1, n2""".stripMargin,

    // Zone-map file skipping (Feeds.sourceManifestSkipping): the oracle
    // aggregates the ORIGINAL events under the same predicate — a wrong
    // writer bound or an over-eager skip loses rows and mismatches.
    "source_manifest_skipping" ->
      """SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_ev,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(MIN(event_id) AS BIGINT) AS min_id,
        |  CAST(MAX(event_id) AS BIGINT) AS max_id
        |FROM events WHERE event_id >= 2000 AND event_id < 4000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Vacuumed manifest table (Feeds.sourceManifestVacuum): the read
    // lands on snapshot 2 (even supplier keys) with snapshot 1 expired —
    // a vacuum that deletes a live file or resurrects an old one shifts
    // the aggregate.
    "source_manifest_vacuum" ->
      """SELECT s_nationkey,
        |  CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |  MIN(s_name) AS first_name,
        |  CAST(SUM(s_suppkey) AS BIGINT) AS sum_key
        |FROM supplier WHERE s_suppkey % 2 = 0
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // Equality-delete lifecycle (Feeds.sourceManifestDelete): current
    // snapshot = orders minus the 500 smallest open-status keys (the
    // committed delete, then physically folded by compactDeletes);
    // snapshot 1 = all rows (deletes never touch data files). A delete
    // that removes a wrong key, a fold that loses or resurrects a row,
    // or a time-travel read that sees post-delete state all shift a
    // count or a key/cents sum.
    // Manifest schema evolution (Feeds.sourceManifestEvolution): the
    // stated split — keys %3≠0 landed pre-evolution (prio NULL), keys
    // %3=0 carry prio = cents % 5. A broken pad or dropped column
    // shifts the null counts; a mis-decoded old row shifts the sums.
    "source_manifest_evolution" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |       CAST(SUM(CASE WHEN o_orderkey % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_prio_null,
        |       CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN cents % 5 ELSE 0 END) AS BIGINT) AS sum_prio
        |FROM (SELECT o_orderkey, o_orderstatus,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |      FROM orders) t
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // ALTER TABLE ADD COLUMN (Feeds.sqlManifestAlter): the DDL spelling
    // of additive evolution — value-indistinguishable from the widened
    // append, so the oracle is source_manifest_evolution's verbatim.
    "sql_manifest_alter" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |       CAST(SUM(CASE WHEN o_orderkey % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_prio_null,
        |       CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN cents % 5 ELSE 0 END) AS BIGINT) AS sum_prio
        |FROM (SELECT o_orderkey, o_orderstatus,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |      FROM orders) t
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Manifest MERGE (Feeds.sourceManifestMerge): the upsert restated as
    // a CASE bump over the stated key set — a duplicate key (delete
    // missed) or lost insert shifts counts AND key sums.
    "source_manifest_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |), upd AS (
        |  SELECT o_orderkey FROM base WHERE o_orderstatus = 'F'
        |  ORDER BY o_orderkey LIMIT 500
        |), merged AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         cents + CASE WHEN o_orderkey IN (SELECT o_orderkey FROM upd)
        |                      THEN 12345 ELSE 0 END AS cents
        |  FROM base
        |)
        |SELECT o_orderstatus, n_after, sum_key_after,
        |       sum_cents_before, sum_cents_after
        |FROM (SELECT o_orderstatus, COUNT(*) AS n_after,
        |             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key_after,
        |             CAST(SUM(cents) AS BIGINT) AS sum_cents_after
        |      FROM merged GROUP BY o_orderstatus) m
        |JOIN (SELECT o_orderstatus,
        |             CAST(SUM(cents) AS BIGINT) AS sum_cents_before
        |      FROM base GROUP BY o_orderstatus) b USING (o_orderstatus)
        |ORDER BY o_orderstatus""".stripMargin,

    // Date aggregate pushdown (Feeds.aggManifestDatePushdown): the
    // typed store holds exactly the 1996+1997 orders; bounds and count
    // recomputed from the original table.
    "agg_manifest_date_pushdown" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       MIN(CAST(o_orderdate AS DATE)) AS first_od,
        |       MAX(CAST(o_orderdate AS DATE)) AS last_od
        |FROM orders
        |WHERE EXTRACT(YEAR FROM o_orderdate) IN (1996, 1997)""".stripMargin,

    // Age-based vacuum (Feeds.sourceManifestVacuumAge): a 7-day window
    // sweeps nothing seconds after the commits — current, the
    // time-traveled v1, and the 2-version history all intact.
    "source_manifest_vacuum_age" ->
      """WITH f AS (
        |  SELECT c_custkey, c_nationkey,
        |         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer)
        |SELECT c_nationkey,
        |       CAST(COUNT(*) AS BIGINT) AS n_cur,
        |       CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_even_v1,
        |       CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |       CAST(2 AS BIGINT) AS n_versions
        |FROM f GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // Full type surface through the parquet codec
    // (Feeds.sourceManifestTyped): dates and decimals recomputed over
    // the original table — a codec that corrupts a date or rounds a
    // decimal shifts a column.
    "source_manifest_typed" ->
      """WITH f AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(o_orderdate AS DATE) AS od,
        |         CAST(o_totalprice AS DECIMAL(12,2)) AS price
        |  FROM orders),
        |cur AS (
        |  SELECT o_orderstatus,
        |         CAST(COUNT(*) AS BIGINT) AS n_1996,
        |         CAST(SUM(CAST(price * 100 AS BIGINT)) AS BIGINT) AS sum_cents,
        |         MIN(od) AS first_day, MAX(od) AS last_day
        |  FROM f
        |  WHERE od BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |  GROUP BY o_orderstatus),
        |v1 AS (
        |  SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_v1
        |  FROM f WHERE EXTRACT(YEAR FROM od) = 1996
        |  GROUP BY o_orderstatus)
        |SELECT cur.o_orderstatus, cur.n_1996, v1.n_v1,
        |       cur.sum_cents, cur.first_day, cur.last_day
        |FROM cur JOIN v1 ON cur.o_orderstatus = v1.o_orderstatus
        |ORDER BY cur.o_orderstatus""".stripMargin,

    // Partitioned manifest layout (Feeds.sourceManifestPartitioned):
    // the oracle recomputes the month window over the original table —
    // a misrouted or double-listed partition file shifts every column.
    "source_manifest_partitioned" ->
      """SELECT o_orderstatus,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(COUNT(DISTINCT CAST(strftime(o_orderdate, '%Y%m') AS BIGINT)) AS BIGINT) AS n_months,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE CAST(strftime(o_orderdate, '%Y%m') AS BIGINT) BETWEEN 199601 AND 199612
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Copy-on-write predicate delete (Feeds.sourceManifestDeleteCow):
    // current snapshot = rows where the predicate is NOT TRUE; v1 = all.
    "source_manifest_delete_cow" ->
      """WITH f AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(strftime(o_orderdate, '%Y%m') AS BIGINT) AS omonth,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |cur AS (
        |  SELECT o_orderstatus,
        |         CAST(COUNT(*) AS BIGINT) AS n_after,
        |         CAST(SUM(o_orderkey) AS BIGINT) AS sum_key_after,
        |         CAST(SUM(cents) AS BIGINT) AS sum_cents_after
        |  FROM f
        |  WHERE NOT (omonth BETWEEN 199601 AND 199606 AND cents < 15000000)
        |  GROUP BY o_orderstatus),
        |v1 AS (
        |  SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_before
        |  FROM f GROUP BY o_orderstatus)
        |SELECT cur.o_orderstatus, v1.n_before, cur.n_after,
        |       cur.sum_key_after, cur.sum_cents_after
        |FROM cur JOIN v1 ON cur.o_orderstatus = v1.o_orderstatus
        |ORDER BY cur.o_orderstatus""".stripMargin,

    // File-grain LIMIT pushdown (Feeds.limitManifestPushdown): the count
    // of a LIMIT n read is min(n, |table|) at every SF.
    "limit_manifest_pushdown" ->
      """SELECT CAST(LEAST(800, COUNT(*)) AS BIGINT) AS n_rows
        |FROM customer""".stripMargin,

    // Shallow clone (Feeds.sourceManifestClone): the clone diverged to
    // the whole table, the source still holds exactly the evens.
    "source_manifest_clone" ->
      """SELECT c_nationkey,
        |       CAST(COUNT(*) AS BIGINT) AS n_clone,
        |       CAST(SUM(c_custkey) AS BIGINT) AS sum_clone,
        |       CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_src
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // Storage-partitioned join (Feeds.joinManifestSpj): the co-partitioned
    // fact × month-stats join restated arithmetically — a mis-grouped
    // partition pair (rows joined against the wrong month) shifts sums.
    "join_manifest_spj" ->
      """WITH f AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(strftime(o_orderdate, '%Y%m') AS BIGINT) AS omonth,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |m AS (
        |  SELECT omonth, CAST(COUNT(*) AS BIGINT) AS month_n,
        |         CAST(SUM(cents) AS BIGINT) AS month_cents
        |  FROM f GROUP BY omonth)
        |SELECT f.o_orderstatus,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(f.cents) AS BIGINT) AS sum_cents,
        |       CAST(SUM(m.month_cents) AS BIGINT) AS sum_month_cents,
        |       CAST(MAX(m.month_n) AS BIGINT) AS max_month_n
        |FROM f JOIN m ON f.omonth = m.omonth
        |GROUP BY f.o_orderstatus ORDER BY f.o_orderstatus""".stripMargin,

    // Z-ordered manifest layout (Feeds.sourceManifestZorder): the 2D
    // slice recomputed over the original table — layout must be
    // row-invisible.
    "source_manifest_zorder" ->
      """SELECT o_orderstatus,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE o_custkey <= 500
        |  AND CAST(strftime(o_orderdate, '%Y%m') AS BIGINT) BETWEEN 199601 AND 199612
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Table history (Feeds.sourceManifestHistory): each version's
    // PHYSICAL row count restated arithmetically — v1 = evens,
    // v2/v3 = all (merge-on-read deletes touch no data file),
    // v4 = all minus the 500 folded deletes.
    "source_manifest_history" ->
      """WITH n AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS total,
        |         CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS evens
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS version, evens AS n_rows,
        |         CAST(0 AS BIGINT) AS n_delete_entries FROM n
        |  UNION ALL SELECT CAST(2 AS BIGINT), total, CAST(0 AS BIGINT) FROM n
        |  UNION ALL SELECT CAST(3 AS BIGINT), total, CAST(1 AS BIGINT) FROM n
        |  UNION ALL SELECT CAST(4 AS BIGINT), total - 500, CAST(0 AS BIGINT) FROM n)
        |ORDER BY version""".stripMargin,

    // Bloom file skipping (Feeds.sourceManifestBloomSkip): the probe
    // restated as an IN-subquery — a bloom that wrongly excludes a file
    // loses rows here.
    "source_manifest_bloom_skip" ->
      """SELECT c_custkey, c_name, c_nationkey
        |FROM customer
        |WHERE c_name IN (SELECT c_name FROM customer WHERE c_custkey IN (1, 2, 3))
        |ORDER BY c_custkey""".stripMargin,

    // Aggregate pushdown (Feeds.aggManifestPushdown): the manifest's
    // answer must equal the table's — recomputed over original parquet.
    "agg_manifest_pushdown" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(MIN(c_custkey) AS BIGINT) AS min_key,
        |       CAST(MAX(c_custkey) AS BIGINT) AS max_key,
        |       CAST(MIN(c_nationkey) AS BIGINT) AS min_nat,
        |       CAST(MAX(c_nationkey) AS BIGINT) AS max_nat
        |FROM customer""".stripMargin,

    // Grouped aggregate pushdown (Feeds.aggManifestGroupPushdown): the
    // manifest's per-partition answer recomputed over original parquet.
    "agg_manifest_group_pushdown" ->
      """SELECT CAST(strftime(o_orderdate, '%Y%m') AS BIGINT) AS omonth,
        |       COUNT(*) AS n_orders,
        |       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        |       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // Small-file compaction (Feeds.sourceManifestCompactFiles): the
    // bin-pack must be row-invisible — oracle is the plain aggregate.
    "source_manifest_compact_files" ->
      """SELECT o_orderstatus,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Layout-preserving maintenance (Feeds.sourceManifestMaintainLayout):
    // bin-pack and z-order are row-invisible; the copy-on-write predicate
    // delete is the only value change, restated as the NOT-modulo filter.
    "source_manifest_maintain_layout" ->
      """SELECT o_orderstatus,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE o_custkey % 4 = 1 AND o_orderkey % 97 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Embeddings + payloads in the manifest store
    // (Feeds.sourceManifestVector): cosine recomputed from the original
    // embeddings, the payload digest from first principles.
    "source_manifest_vector" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         list_dot_product(a.e, b.e)
        |         / (SQRT(list_dot_product(a.e, a.e)) * SQRT(list_dot_product(b.e, b.e))) AS cos
        |  FROM v a JOIN v b ON a.vec_id <> b.vec_id WHERE a.vec_id < 30)
        |SELECT a_id, b_id, ROUND(cos, 6) AS cos,
        |       sha256('p' || CAST(a_id AS VARCHAR)) AS a_sha
        |FROM (
        |  SELECT a_id, b_id, cos,
        |         ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rn
        |  FROM pairs) t
        |WHERE rn <= 3 ORDER BY a_id, cos DESC, b_id""".stripMargin,

    // Two-level manifest (Feeds.sourceManifestGrouped): the grouped
    // metadata layout must be value-invisible — the oracle is the plain
    // one-partition aggregate over the original table.
    "source_manifest_grouped" ->
      """SELECT o_orderstatus,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE o_custkey % 8 = 3
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Two-level manifest under a live delete stream
    // (Feeds.sourceManifestGroupedDeletes): grouped metadata + pending
    // global/prior-only deletes are value-invisible — the oracle
    // restates the erasure (%97 keys gone) and the merge (%89 keys in
    // the merged slices carry cents=-1) over the original table.
    "source_manifest_grouped_deletes" ->
      """SELECT o_orderstatus,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(SUM(CASE WHEN o_orderkey % 89 = 0 AND o_orderkey % 3 <> 2
        |                     THEN -1
        |                     ELSE CAST(round(o_totalprice * 100) AS BIGINT) END)
        |            AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE o_orderkey % 97 <> 0 AND o_custkey % 8 IN (2, 5)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Partition-spec evolution (Feeds.sourceManifestSpecEvolution):
    // the mixed-layout store is value-invisible; the oracle restates
    // the two-dimension slice over the original table.
    "source_manifest_spec_evolution" ->
      """SELECT o_custkey % 4 AS pc, o_orderkey % 5 AS pk, o_orderstatus,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM orders
        |WHERE o_custkey % 4 = 2 OR o_orderkey % 5 = 3
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // CBO reorder over manifest tables (Feeds.joinManifestCbo): the
    // reorder is value-invisible; the oracle is the plain 3-way join
    // aggregate.
    "join_manifest_cbo" ->
      """SELECT n_name,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_2', 'NATION_5')
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // Nested struct + map columns through the manifest store
    // (Feeds.sourceManifestNested): construct->extract is the identity,
    // so the oracle is the flat aggregate over the original table.
    "source_manifest_nested" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS pri,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
        |       MAX(strftime(o_orderdate, '%Y-%m-%d')) AS max_day
        |FROM orders
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY status, pri""".stripMargin,

    // decimal(38,4) through the manifest store
    // (Feeds.sourceManifestDecimalWide): canonical scale-4 strings.
    "source_manifest_decimal_wide" ->
      """SELECT o_orderstatus,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(MIN(CAST(o_totalprice AS DECIMAL(38,4))) AS VARCHAR) AS min_price,
        |       CAST(MAX(CAST(o_totalprice AS DECIMAL(38,4))) AS VARCHAR) AS max_price,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS VARCHAR) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Change data feed (Feeds.sourceManifestCdf): the three legs
    // restated arithmetically — delete@2 = the erased O rows (original
    // values), delete@3/insert@3 = the merge's before/after pair.
    "source_manifest_cdf" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |delo AS (SELECT * FROM base WHERE o_orderstatus = 'O'
        |         ORDER BY o_orderkey LIMIT 500),
        |updf AS (SELECT * FROM base WHERE o_orderstatus = 'F'
        |         ORDER BY o_orderkey LIMIT 500),
        |legs AS (
        |  SELECT 'delete' AS change_type, CAST(2 AS BIGINT) AS commit_version,
        |         o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |         CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
        |         CAST(SUM(cents) AS BIGINT) AS sum_cents
        |  FROM delo GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'delete', CAST(3 AS BIGINT), o_orderstatus,
        |         CAST(COUNT(*) AS BIGINT), CAST(SUM(o_orderkey) AS BIGINT),
        |         CAST(SUM(cents) AS BIGINT)
        |  FROM updf GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'insert', CAST(3 AS BIGINT), o_orderstatus,
        |         CAST(COUNT(*) AS BIGINT), CAST(SUM(o_orderkey) AS BIGINT),
        |         CAST(SUM(cents + 12345) AS BIGINT)
        |  FROM updf GROUP BY o_orderstatus)
        |SELECT * FROM legs
        |ORDER BY change_type, commit_version, o_orderstatus""".stripMargin,

    // Statistics-driven broadcast join (Feeds.joinManifestBroadcast):
    // the manifest dim is byte-identical to the customer table, so the
    // oracle is the plain parquet join — any stats bug that skips or
    // double-plans a manifest file shifts every aggregate.
    "join_manifest_broadcast" ->
      """SELECT c_mktsegment,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_custs,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "source_manifest_delete" ->
      """WITH del AS (
        |  SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'
        |  ORDER BY o_orderkey LIMIT 500),
        |after AS (
        |  SELECT o_orderstatus,
        |    CAST(COUNT(*) AS BIGINT) AS n_after,
        |    CAST(SUM(o_orderkey) AS BIGINT) AS sum_key_after,
        |    CAST(SUM(round(o_totalprice * 100)) AS BIGINT) AS sum_cents_after
        |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM del)
        |  GROUP BY o_orderstatus),
        |before AS (
        |  SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_before
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT a.o_orderstatus, b.n_before, a.n_after,
        |       a.sum_key_after, a.sum_cents_after
        |FROM after a JOIN before b USING (o_orderstatus)
        |ORDER BY a.o_orderstatus""".stripMargin,

    // Cross-corpus line-grain dedup (Text.dedupLines): fixed 10-token
    // lines, one canonical occurrence per distinct line (lexicographic
    // min of (doc_id, line_no)), per-doc counts plus the md5 of the
    // reassembled survivor text. The two-step owner derivation (min
    // doc_id, then min line_no within it) is the SQL form of the
    // engine's single struct-min — identical winners.
    // Exact repeated-substring spans at the suffix grain
    // (Text.dedupSubstrings): the oracle restates the covering-gram
    // construction — duplicated 8-grams, interval union, maximal spans.
    "dedup_substrings" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i, array_to_string(t[i+1:i+8], chr(1)) AS gram
        |  FROM toks, UNNEST(range(0, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2),
        |starts AS (SELECT g.doc_id, g.i FROM grams g JOIN dup USING (gram)),
        |isl AS (
        |  SELECT doc_id, i,
        |         CASE WHEN MAX(i + 7) OVER (PARTITION BY doc_id ORDER BY i
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |              >= i - 1 THEN 0 ELSE 1 END AS brk
        |  FROM starts),
        |isl2 AS (
        |  SELECT doc_id, i,
        |         SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, island, MIN(i) AS s, MAX(i) + 7 AS e
        |  FROM isl2 GROUP BY doc_id, island)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_spans,
        |       CAST(SUM(e - s + 1) AS BIGINT) AS covered_tokens,
        |       CAST(MIN(s) AS BIGINT) AS first_span_start,
        |       CAST(MAX(e) AS BIGINT) AS last_span_end
        |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_lines" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS a
        |  FROM documents WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0),
        |lines AS (
        |  SELECT doc_id, CAST(i AS INT) AS line_no,
        |         array_to_string(a[(i*10+1):(i*10+10)], ' ') AS line
        |  FROM toks, UNNEST(range(0, (len(a) - 1) // 10 + 1)) AS u(i)),
        |owner_doc AS (
        |  SELECT md5(line) AS h, MIN(doc_id) AS od FROM lines GROUP BY 1),
        |owner AS (
        |  SELECT o.h, o.od, MIN(l.line_no) AS oln
        |  FROM owner_doc o JOIN lines l
        |    ON md5(l.line) = o.h AND l.doc_id = o.od
        |  GROUP BY o.h, o.od),
        |k AS (
        |  SELECT l.doc_id, l.line_no, l.line,
        |         (l.doc_id = o.od AND l.line_no = o.oln) AS kept
        |  FROM lines l JOIN owner o ON md5(l.line) = o.h)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
        |  md5(COALESCE(string_agg(CASE WHEN kept THEN line END, ' ' ORDER BY line_no), '')) AS kept_md5
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Exact SQ8-pruned cosine top-k (Vector.simCosineTopkSq8): the int8
    // prune is provably lossless (lb/ub sandwich, scaladoc proof), so the
    // oracle is the BRUTE-FORCE top-k verbatim — any pruned true neighbor
    // is a missing row, not a recall statistic.
    "sim_cosine_topk_sq8" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         list_dot_product(a.e, b.e)
        |         / (SQRT(list_dot_product(a.e, a.e)) * SQRT(list_dot_product(b.e, b.e))) AS cos
        |  FROM v a JOIN v b ON a.vec_id <> b.vec_id WHERE a.vec_id < 50)
        |SELECT a_id, b_id, ROUND(cos, 6) AS cos FROM (
        |  SELECT a_id, b_id, cos, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rn
        |  FROM pairs) t
        |WHERE rn <= 5 ORDER BY a_id, cos DESC, b_id""".stripMargin,

    // HTML boilerplate extraction (Text.textHtmlExtract): both engines
    // wrap each doc in the same scaffold, then strip tags / capture the
    // title / count anchors with their own regex engines (RE2 vs Java —
    // these patterns have no dialect-divergent constructs). The 'g' flag
    // matters: DuckDB regexp_replace is first-match-only without it.
    "text_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title></head><body><p>' || substring(text, 1, 80) ||
        |    '</p><a href="http://example.com/' || CAST(doc_id AS VARCHAR) ||
        |    '">link</a> <br/></body></html>' AS html
        |  FROM documents WHERE text IS NOT NULL),
        |x AS (
        |  SELECT doc_id,
        |    regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
        |    CAST(len(regexp_extract_all(html, '<a[ >]')) AS BIGINT) AS n_links,
        |    trim(regexp_replace(regexp_replace(html, '<[^>]+>', ' ', 'g'), ' +', ' ', 'g')) AS body
        |  FROM h)
        |SELECT doc_id, title, n_links,
        |       CAST(len(body) AS BIGINT) AS body_len, md5(body) AS body_md5
        |FROM x ORDER BY doc_id""".stripMargin,

    // Unicode script histogram (Text.textScript): identical explicit
    // codepoint ranges (\x{…} works in both RE2 and Java regex; named
    // script classes would drift with each engine's Unicode tables),
    // same injected mixed-script suffix, same precedence CASE.
    "text_script" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    text || ' Привет мир γειά σου مرحبا بالعالم 你好世界 안녕하세요' AS s
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(s, '[A-Za-z]')) AS BIGINT) AS n_latin,
        |    CAST(len(regexp_extract_all(s, '[\x{0370}-\x{03FF}]')) AS BIGINT) AS n_greek,
        |    CAST(len(regexp_extract_all(s, '[\x{0400}-\x{04FF}]')) AS BIGINT) AS n_cyrillic,
        |    CAST(len(regexp_extract_all(s, '[\x{0600}-\x{06FF}]')) AS BIGINT) AS n_arabic,
        |    CAST(len(regexp_extract_all(s, '[\x{4E00}-\x{9FFF}]')) AS BIGINT) AS n_cjk,
        |    CAST(len(regexp_extract_all(s, '[\x{AC00}-\x{D7AF}]')) AS BIGINT) AS n_hangul
        |  FROM s)
        |SELECT *,
        |  CASE WHEN n_latin >= greatest(n_greek, n_cyrillic, n_arabic, n_cjk, n_hangul) THEN 'latin'
        |       WHEN n_cjk >= greatest(n_greek, n_cyrillic, n_arabic, n_hangul) THEN 'cjk'
        |       ELSE 'other' END AS main_script
        |FROM c ORDER BY doc_id""".stripMargin,

    // percent_rank + ratio-to-report (Windows.winPercentRatio): both are
    // exact given the tie-broken total order and the integral-cents sum —
    // (rank-1)/(n-1) and vc/Σvc are each one double division of exact
    // integers, identical IEEE results.
    "win_percent_ratio" ->
      """WITH c AS (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS vc
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, vc,
        |  ROUND(percent_rank() OVER (PARTITION BY o_custkey ORDER BY vc, o_orderkey), 6) AS pr,
        |  ROUND(CAST(vc AS DOUBLE) / SUM(vc) OVER (PARTITION BY o_custkey), 6) AS ratio
        |FROM c ORDER BY o_custkey, o_orderkey LIMIT 3000""".stripMargin,

    // LATERAL correlated subquery (Relational.joinLateral): DuckDB runs
    // the same standard-SQL lateral text modulo quoting.
    "join_lateral" ->
      """SELECT n.n_name, s.s_suppkey, s.acct_cents
        |FROM nation n,
        |LATERAL (
        |  SELECT s_suppkey, CAST(round(s_acctbal * 100) AS BIGINT) AS acct_cents
        |  FROM supplier
        |  WHERE s_nationkey = n.n_nationkey
        |  ORDER BY s_acctbal DESC, s_suppkey
        |  LIMIT 2) s
        |ORDER BY n.n_name, s.acct_cents DESC, s.s_suppkey""".stripMargin,

    // Blocked fuzzy best-name match (SimJoin.simJaroWinkler): DuckDB's
    // own jaro_winkler_similarity (verified parameter-identical: p=0.1,
    // boost only above 0.7, prefix cap 4) scores the same blocked pairs;
    // micro-unit quantization before the argmax on both sides.
    "sim_jaro_winkler" ->
      """WITH probes AS (
        |  SELECT p_partkey AS probe_id, p_brand AS brand, p_name AS probe_name
        |  FROM part WHERE p_partkey % 997 = 0),
        |cands AS (
        |  SELECT p_partkey AS cand_id, p_brand AS brand, p_name AS cand_name
        |  FROM part),
        |scored AS (
        |  SELECT p.probe_id, p.brand, c.cand_id,
        |         CAST(ROUND(jaro_winkler_similarity(p.probe_name, c.cand_name) * 1e6) AS BIGINT) AS jw_micro
        |  FROM probes p JOIN cands c USING (brand)
        |  WHERE c.cand_id <> p.probe_id),
        |r AS (
        |  SELECT *,
        |         ROW_NUMBER() OVER (PARTITION BY probe_id
        |                            ORDER BY jw_micro DESC, cand_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY probe_id) AS n_cands
        |  FROM scored)
        |SELECT probe_id, brand, CAST(n_cands AS BIGINT) AS n_cands,
        |       cand_id AS best_id,
        |       ROUND(CAST(jw_micro AS DOUBLE) / 1e6, 6) AS best_jw
        |FROM r WHERE rn = 1 ORDER BY probe_id""".stripMargin,

    // NOT IN three-valued logic (Relational.subqNotIn): DuckDB evaluates
    // the genuine NOT IN subquery; the engine's decomposed anti-join +
    // null-gate plan must reproduce it on both variants.
    "subq_not_in" ->
      """WITH probe AS (
        |  SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
        |              ELSE o_custkey END AS k FROM orders),
        |bld AS (SELECT c_custkey AS rk FROM customer
        |        WHERE c_mktsegment = 'BUILDING')
        |SELECT * FROM (
        |  SELECT 'clean' AS variant, CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM probe WHERE k NOT IN (SELECT rk FROM bld)
        |  UNION ALL
        |  SELECT 'with_null', CAST(COUNT(*) AS BIGINT)
        |  FROM probe WHERE k NOT IN (SELECT rk FROM bld UNION ALL SELECT NULL)
        |) ORDER BY variant""".stripMargin,

    // Struct surface (Functions.fnStruct): nested-struct lexicographic
    // comparison stated as DuckDB row-value comparison over the flattened
    // field order (struct compare is field-by-field recursive — same
    // total order).
    "fn_struct" ->
      """SELECT o_orderkey,
        |  o_orderstatus AS st,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
        |  o_custkey AS ck,
        |  o_orderpriority AS pri,
        |  CAST(CASE WHEN (o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)),
        |                  o_custkey, o_orderpriority)
        |             < ('F', CAST(300000 AS DECIMAL(18,2)), 0, '5-LOW')
        |       THEN CAST(o_totalprice AS DECIMAL(18,2))
        |       ELSE CAST(300000 AS DECIMAL(18,2)) END AS DOUBLE) AS lo_price,
        |  CASE WHEN (o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)),
        |             o_custkey, o_orderpriority)
        |             > ('F', CAST(300000 AS DECIMAL(18,2)), 0, '5-LOW')
        |       THEN o_orderstatus ELSE 'F' END AS hi_st
        |FROM orders ORDER BY o_orderkey LIMIT 2000""".stripMargin,

    // Welch two-sample t (FeatureStats.statsTtest): identical expression
    // tree over identical exact integer moments on both engines — the
    // doubles agree bit-for-bit before the final ROUND (hugeint/decimal38
    // → double is correctly rounded in both engines, verified at these
    // magnitudes).
    "stats_ttest" ->
      """WITH m AS (
        |  SELECT o_orderstatus,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s,
        |         SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS DECIMAL(19,0))
        |             * CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS ss
        |  FROM orders
        |  WHERE o_orderstatus IN ('O', 'F') AND o_totalprice IS NOT NULL
        |  GROUP BY 1),
        |w AS (
        |  SELECT
        |    CAST(MAX(CASE WHEN o_orderstatus = 'O' THEN n END) AS DOUBLE) AS n1,
        |    CAST(MAX(CASE WHEN o_orderstatus = 'O' THEN s END) AS DOUBLE) AS s1,
        |    CAST(MAX(CASE WHEN o_orderstatus = 'O' THEN ss END) AS DOUBLE) AS ss1,
        |    CAST(MAX(CASE WHEN o_orderstatus = 'F' THEN n END) AS DOUBLE) AS n2,
        |    CAST(MAX(CASE WHEN o_orderstatus = 'F' THEN s END) AS DOUBLE) AS s2,
        |    CAST(MAX(CASE WHEN o_orderstatus = 'F' THEN ss END) AS DOUBLE) AS ss2
        |  FROM m),
        |v AS (
        |  SELECT n1, n2, s1 / n1 / 100 AS m1, s2 / n2 / 100 AS m2,
        |         (ss1 - s1 * s1 / n1) / (n1 - 1) / 10000 AS v1,
        |         (ss2 - s2 * s2 / n2) / (n2 - 1) / 10000 AS v2
        |  FROM w)
        |SELECT CAST(n1 AS BIGINT) AS n_open, CAST(n2 AS BIGINT) AS n_fin,
        |       ROUND(m1, 6) AS mean_open, ROUND(m2, 6) AS mean_fin,
        |       ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 6) AS t_stat,
        |       ROUND((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2) /
        |             (v1 * v1 / (n1 * n1 * (n1 - 1)) +
        |              v2 * v2 / (n2 * n2 * (n2 - 1))), 6) AS df
        |FROM v""".stripMargin,

    // Exact weighted median (Aggregates.aggWeightedMedian): same
    // value-support cumulative walk, the half-total test as 2·cum ≥ tot.
    "agg_weighted_median" ->
      """WITH pv AS (
        |  SELECT p_brand, CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents,
        |         CAST(SUM(CAST(p_size AS BIGINT)) AS BIGINT) AS w
        |  FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT p_brand, cents,
        |         SUM(w) OVER (PARTITION BY p_brand ORDER BY cents
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         SUM(w) OVER (PARTITION BY p_brand) AS tot
        |  FROM pv)
        |SELECT p_brand,
        |       ROUND(CAST(MIN(cents) AS DOUBLE) / 100, 2) AS w_median,
        |       CAST(MAX(tot) AS BIGINT) AS total_weight
        |FROM c WHERE cum * 2 >= tot
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // Offline CUSUM changepoint scan (Behavior.tsChangepoint): extremum
    // argmax over the D-scaled EXACT integer deviations; one division in
    // the final projection.
    "ts_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_ev
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_ev) AS BIGINT) AS n_tot,
        |         CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
        |sc AS (
        |  SELECT day, n_ev, t.n_days,
        |         SUM(n_ev) OVER (ORDER BY day
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * t.n_days
        |         - (ROW_NUMBER() OVER (ORDER BY day)) * t.n_tot AS cusum_scaled
        |  FROM daily CROSS JOIN tot t)
        |SELECT day, n_ev,
        |       ROUND(CAST(cusum_scaled AS DOUBLE) / n_days, 6) AS cusum,
        |       ABS(cusum_scaled) = (SELECT MAX(ABS(cusum_scaled)) FROM sc) AS is_peak
        |FROM sc ORDER BY day""".stripMargin,

    // The DSv2 range-generator connector (Feeds.sourceRangeV2): DuckDB
    // restates the generator formula over the PUSHED range, so both the
    // clamp arithmetic and the residual tag filter are value-checked.
    "source_range_v2" ->
      """WITH g AS (
        |  SELECT 't' || CAST(id % 7 AS VARCHAR) AS tag,
        |         (id * 2654435761) % 1000003 AS val_cents
        |  FROM range(150000, 180000) t(id))
        |SELECT tag, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       ROUND(CAST(SUM(val_cents) AS DOUBLE) / 100, 2) AS sv
        |FROM g WHERE tag <> 't3'
        |GROUP BY tag ORDER BY tag""".stripMargin,

    // Weekly (dow × hour) seasonality profile (Behavior.tsSeasonality).
    // DuckDB's dayofweek is already 0=Sunday-based.
    "ts_seasonality" ->
      """WITH cells AS (
        |  SELECT CAST(dayofweek(ts) AS INTEGER) AS dow,
        |         CAST(hour(ts) AS INTEGER) AS hod,
        |         CAST(COUNT(*) AS BIGINT) AS n_ev
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(n_ev) AS BIGINT) AS n_tot FROM cells)
        |SELECT dow, hod, n_ev,
        |       ROUND(CAST(n_ev AS DOUBLE) / t.n_tot, 6) AS share,
        |       ROUND(CAST(n_ev AS DOUBLE) * 168 / t.n_tot, 6) AS vs_uniform
        |FROM cells CROSS JOIN tot t
        |ORDER BY dow, hod""".stripMargin,

    // Skew-salted two-level aggregation (Skew.aggSaltedTwolevel): the
    // oracle is the PLAIN group-by — salting is a physical rewrite that
    // must be value-identical (decimal sums are order-free).
    "agg_salted_twolevel" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_ev,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |             / COUNT(*), 6) AS avg_v
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Rolling 7-row interpolating median (Windows.winRollingMedian):
    // quantile_cont matches Spark's percentile interpolation.
    "win_rolling_median" ->
      """SELECT user_id, event_id,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS n_frame,
        |       ROUND(quantile_cont(value, 0.5) OVER w, 6) AS med7
        |FROM events
        |WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    // (FeatureStats.featureMutualInfo). Per-cell PMI in micro-nats —
    // ONE ln of a ratio of exact integer products rounded before any
    // sum — so the n_xy-weighted MI total is an exact integer reduction.
    "feature_mutual_info" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_xy
        |  FROM documents GROUP BY lang, source),
        |mx AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_x FROM documents GROUP BY lang),
        |my AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_y FROM documents GROUP BY source),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM documents),
        |terms AS (
        |  SELECT c.lang, c.source, c.n_xy,
        |         CAST(ROUND(LN((CAST(c.n_xy AS DOUBLE) * t.n_tot)
        |               / (CAST(x.n_x AS DOUBLE) * y.n_y)) * 1e6) AS BIGINT) AS term_micro
        |  FROM cells c JOIN mx x USING (lang) JOIN my y USING (source) CROSS JOIN tot t),
        |mi AS (
        |  SELECT ROUND(CAST(SUM(n_xy * term_micro) AS DOUBLE)
        |               / (SELECT n_tot FROM tot) / 1e6, 6) AS mi_nats
        |  FROM terms)
        |SELECT lang, source, n_xy,
        |       ROUND(CAST(term_micro AS DOUBLE) / 1e6, 6) AS pmi, mi_nats
        |FROM terms CROSS JOIN mi ORDER BY lang, source""".stripMargin,

    // Pearson chi-squared over the same contingency table, including
    // absent cells (FeatureStats.featureChi2): (o−e)²/e restated as
    // (N·o − n_x·n_y)²/(N·n_x·n_y) — one IEEE division of exact 64-bit
    // integer products, deterministic across engines.
    "feature_chi2" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_xy
        |  FROM documents GROUP BY lang, source),
        |mx AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_x FROM documents GROUP BY lang),
        |my AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_y FROM documents GROUP BY source),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM documents),
        |grid AS (
        |  SELECT x.lang, y.source, x.n_x, y.n_y,
        |         COALESCE(c.n_xy, 0) AS o, t.n_tot
        |  FROM mx x CROSS JOIN my y
        |  LEFT JOIN cells c ON c.lang = x.lang AND c.source = y.source
        |  CROSS JOIN tot t),
        |terms AS (
        |  SELECT lang, source, o, n_x, n_y, n_tot,
        |         CAST(n_tot * o - n_x * n_y AS DOUBLE) AS d
        |  FROM grid),
        |cm AS (
        |  SELECT lang, source, o, n_x, n_y, n_tot,
        |         CAST(ROUND(d * d / (CAST(n_tot AS DOUBLE) * CAST(n_x * n_y AS DOUBLE)) * 1e6) AS BIGINT) AS cell_micro
        |  FROM terms),
        |tt AS (SELECT ROUND(CAST(SUM(cell_micro) AS DOUBLE) / 1e6, 6) AS chi2 FROM cm)
        |SELECT lang, source, o AS n_xy,
        |       ROUND(CAST(n_x * n_y AS DOUBLE) / n_tot, 6) AS expected,
        |       ROUND(CAST(cell_micro AS DOUBLE) / 1e6, 6) AS chi2_cell, chi2
        |FROM cm CROSS JOIN tt ORDER BY lang, source""".stripMargin,

    // BM25 scoring against the fixed query {join, vector, customer}
    // (FeatureStats.textBm25; k1=1.2, b=0.75). idf in micro-nats; the tf
    // saturation ratio is the SAME fixed chain of IEEE ops on exact
    // integers and parsed literals as the engine side; per-(doc,term)
    // scores round to micro units before the per-doc integer sum.
    "text_bm25" ->
      """WITH toks0 AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
        |tok AS (SELECT doc_id, token FROM toks0 WHERE token <> ''),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM tok GROUP BY doc_id),
        |corp AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(len) AS BIGINT) AS t_tokens FROM dl),
        |tf AS (
        |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok WHERE token IN ('join', 'vector', 'customer')
        |  GROUP BY doc_id, token),
        |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
        |scored AS (
        |  SELECT t.doc_id,
        |         CAST(ROUND(
        |           CAST(CAST(ROUND(LN(1.0 + (CAST(c.n_docs AS DOUBLE) - f.df + 0.5)
        |                 / (CAST(f.df AS DOUBLE) + 0.5)) * 1e6) AS BIGINT) AS DOUBLE)
        |           * (CAST(t.tf AS DOUBLE) * 2.2)
        |           / (CAST(t.tf AS DOUBLE) + 0.3
        |              + 0.9 * (CAST(l.len * c.n_docs AS DOUBLE) / c.t_tokens))) AS BIGINT) AS score_micro
        |  FROM tf t JOIN df f USING (token) JOIN dl l USING (doc_id) CROSS JOIN corp c)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |       ROUND(CAST(SUM(score_micro) AS DOUBLE) / 1e6, 6) AS bm25
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // PMI collocations over adjacent bigrams (FeatureStats.
    // textCollocations): corpus-relative count floor (n_pair·3200 ≥ B,
    // pure integer compare), pmi = ln(n_pair·T²/(B·c1·c2)) in micro-nats
    // on exact integer products.
    "text_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id, g.o AS pos, s[g.o + 1] AS token
        |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents) d
        |  CROSS JOIN (SELECT UNNEST(range(0, (SELECT COALESCE(MAX(len(string_split(text, ' '))), 0) FROM documents))) AS o) g
        |  WHERE g.o < len(s) AND s[g.o + 1] <> ''),
        |pairs AS (
        |  SELECT doc_id, token AS w1, LEAD(token) OVER w AS w2
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |p AS (SELECT w1, w2 FROM pairs WHERE w2 IS NOT NULL),
        |uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY token),
        |tot AS (
        |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM toks) AS t_tokens,
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS b_pairs),
        |big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM p GROUP BY w1, w2)
        |SELECT b.w1, b.w2, b.n_pair,
        |       ROUND(CAST(CAST(ROUND(LN(CAST(b.n_pair * t.t_tokens AS DOUBLE) * t.t_tokens
        |             / (CAST(t.b_pairs AS DOUBLE) * CAST(u1.c * u2.c AS DOUBLE))) * 1e6) AS BIGINT) AS DOUBLE) / 1e6, 6) AS pmi
        |FROM big b
        |JOIN uni u1 ON u1.token = b.w1
        |JOIN uni u2 ON u2.token = b.w2
        |CROSS JOIN tot t
        |WHERE b.n_pair * 3200 >= t.b_pairs
        |ORDER BY pmi DESC, w1, w2""".stripMargin,

    // Item-item "also bought" (Rec.recItemCooccur): the oracle states the
    // directed pair definition as a basket self-join; lift is one IEEE
    // division of exact BIGINT products on both engines.
    "rec_item_cooccur" ->
      """WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM baskets),
        |items AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
        |          FROM baskets GROUP BY 1),
        |pairs AS (
        |  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM baskets a JOIN baskets b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_partkey % 7 = 0
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |scored AS (
        |  SELECT p.item_a, p.item_b, ia.n_item AS n_a, ib.n_item AS n_b, p.n_ab,
        |         CAST(p.n_ab * t.n_orders AS DOUBLE) /
        |         CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
        |  FROM pairs p
        |  JOIN items ia ON ia.l_partkey = p.item_a
        |  JOIN items ib ON ib.l_partkey = p.item_b
        |  CROSS JOIN tot t),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY item_a
        |                                   ORDER BY lift DESC, item_b) AS rn
        |      FROM scored)
        |SELECT item_a, item_b, n_a, n_b, n_ab,
        |       ROUND(lift, 6) AS lift, CAST(rn AS INTEGER) AS rank
        |FROM r WHERE rn <= 3 ORDER BY item_a, rank""".stripMargin,

    // Leave-one-out target encoding (Encode.targetEncoding): exact
    // integer cents; singleton categories encode NULL.
    "feature_target_encoding" ->
      """WITH f AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |c AS (
        |  SELECT o_orderpriority, CAST(SUM(cents) AS BIGINT) AS cat_sum,
        |         CAST(COUNT(*) AS BIGINT) AS cat_n
        |  FROM f GROUP BY 1)
        |SELECT f.o_orderkey, f.o_orderpriority, f.cents,
        |       CASE WHEN c.cat_n > 1 THEN
        |         ROUND(CAST(c.cat_sum - f.cents AS DOUBLE) /
        |               CAST(c.cat_n - 1 AS DOUBLE), 6)
        |       END AS loo_enc
        |FROM f JOIN c USING (o_orderpriority)
        |WHERE f.o_orderkey % 101 = 0
        |ORDER BY f.o_orderkey""".stripMargin,

    // Grid-blocked spatial radius self-join (Geo.geoGridJoin): the oracle
    // is the quadratic pair DEFINITION over the same deterministic
    // micro-degree coordinates — the engine's grid must be candidate-
    // complete to match it. All keep/drop decisions are exact BIGINTs.
    "geo_grid_join" -> {
      val coords =
        s"""WITH pts AS (
           |  SELECT c_custkey,
           |         md5('lat:' || CAST(c_custkey AS VARCHAR)) AS hlat,
           |         md5('lon:' || CAST(c_custkey AS VARCHAR)) AS hlon
           |  FROM customer),
           |coords AS (
           |  SELECT c_custkey,
           |         ${hexFold("hlat")} % 180000000 - 90000000 AS lat,
           |         ${hexFold("hlon")} % 360000000 - 180000000 AS lon
           |  FROM pts)""".stripMargin
      coords +
        """
          |SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
          |       CAST((a.lat - b.lat) * (a.lat - b.lat) +
          |            (a.lon - b.lon) * (a.lon - b.lon) AS BIGINT) AS d2,
          |       ROUND(SQRT(CAST((a.lat - b.lat) * (a.lat - b.lat) +
          |                       (a.lon - b.lon) * (a.lon - b.lon) AS DOUBLE)) / 1e6,
          |             6) AS dist_deg
          |FROM coords a JOIN coords b ON a.c_custkey < b.c_custkey
          |WHERE (a.lat - b.lat) * (a.lat - b.lat) +
          |      (a.lon - b.lon) * (a.lon - b.lon) <= 25000000000000
          |ORDER BY cust_a, cust_b""".stripMargin
    },

    // Deterministic contrastive negatives (Sampling.sampleNegatives):
    // hash-gated pool, pair-hash ranking, different-source guard.
    "sample_negatives" -> {
      s"""WITH pool0 AS (
         |  SELECT doc_id AS neg_id, source AS neg_source,
         |         md5('pool:' || CAST(doc_id AS VARCHAR)) AS hp
         |  FROM documents),
         |pool AS (SELECT neg_id, neg_source FROM pool0
         |         ORDER BY ${hexFold("hp")}, neg_id LIMIT 64),
         |probes AS (SELECT doc_id, source FROM documents WHERE doc_id % 7 = 0),
         |pairs AS (
         |  SELECT p.doc_id, c.neg_id, c.neg_source,
         |         md5('neg:' || CAST(p.doc_id AS VARCHAR) || ':' ||
         |             CAST(c.neg_id AS VARCHAR)) AS h
         |  FROM probes p CROSS JOIN pool c
         |  WHERE c.neg_source <> p.source AND c.neg_id <> p.doc_id),
         |r AS (
         |  SELECT doc_id, neg_id, neg_source,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id
         |                            ORDER BY ${hexFold("h")}, neg_id) AS rn
         |  FROM pairs)
         |SELECT doc_id, CAST(rn AS INTEGER) AS rank, neg_id, neg_source
         |FROM r WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin
    },

    // Conversion latency (Behavior.funnelTimeToConvert): first purchase
    // after the first click; median/p90 by exact row selection.
    "funnel_time_to_convert" ->
      """WITH fc AS (
        |  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS click_ts
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |conv AS (
        |  SELECT e.user_id, CAST(fc.click_ts AS DATE) AS click_day,
        |         epoch_us(MIN(CAST(e.ts AS TIMESTAMP))) - epoch_us(fc.click_ts)
        |           AS latency_us
        |  FROM events e JOIN fc ON e.user_id = fc.user_id
        |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > fc.click_ts
        |  GROUP BY e.user_id, fc.click_ts),
        |r AS (
        |  SELECT *,
        |         ROW_NUMBER() OVER (PARTITION BY click_day
        |                            ORDER BY latency_us, user_id) AS rn,
        |         CAST(COUNT(*) OVER (PARTITION BY click_day) AS BIGINT) AS n
        |  FROM conv)
        |SELECT click_day, n AS n_conv,
        |       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN latency_us END)
        |            AS BIGINT) AS median_latency_us,
        |       CAST(MAX(CASE WHEN rn = (n * 9 + 9) // 10 THEN latency_us END)
        |            AS BIGINT) AS p90_latency_us
        |FROM r GROUP BY click_day, n ORDER BY click_day""".stripMargin,

    // Cohort LTV (Behavior.cohortLtv): first-order-year cohorts, exact
    // integer cents, cohort-keyed running sum.
    "cohort_ltv" ->
      """WITH f AS (
        |  SELECT o_custkey,
        |         CAST(year(MIN(CAST(o_orderdate AS DATE))) AS INTEGER) AS cohort_year
        |  FROM orders GROUP BY 1),
        |aged AS (
        |  SELECT f.cohort_year,
        |         CAST(year(CAST(o.o_orderdate AS DATE)) AS INTEGER) - f.cohort_year
        |           AS age_years,
        |         CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
        |         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |           AS spend_cents
        |  FROM orders o JOIN f ON o.o_custkey = f.o_custkey
        |  GROUP BY 1, 2)
        |SELECT cohort_year, age_years, n_active, spend_cents,
        |       CAST(SUM(spend_cents) OVER (PARTITION BY cohort_year
        |              ORDER BY age_years
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS cum_spend_cents
        |FROM aged ORDER BY cohort_year, age_years""".stripMargin,

    // Local clustering coefficient (Graph.graphClusteringCoeff): degree
    // and triangle CTEs of the shared τ=0.95 probe graph; NULL below
    // degree 2.
    "graph_clustering_coeff" ->
      """WITH ss AS (
        |  SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS s
        |  FROM documents WHERE doc_id < 100),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.95),
        |deg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        |    SELECT a_id AS doc_id FROM pairs
        |    UNION ALL SELECT b_id AS doc_id FROM pairs)
        |  GROUP BY doc_id),
        |tris AS (
        |  SELECT e1.a_id AS a, e1.b_id AS b, e2.b_id AS c
        |  FROM pairs e1
        |  JOIN pairs e2 ON e1.b_id = e2.a_id
        |  JOIN pairs e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id),
        |corners AS (
        |  SELECT UNNEST([a, b, c]) AS doc_id FROM tris),
        |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri
        |        FROM corners GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(g.degree, 0) AS degree,
        |       COALESCE(cnt.n_tri, 0) AS n_tri,
        |       CASE WHEN COALESCE(g.degree, 0) >= 2 THEN
        |         ROUND(CAST(COALESCE(cnt.n_tri, 0) * 2 AS DOUBLE) /
        |               CAST(COALESCE(g.degree, 0) * (COALESCE(g.degree, 0) - 1)
        |                    AS DOUBLE), 6)
        |       END AS coeff
        |FROM documents d
        |LEFT JOIN deg g ON d.doc_id = g.doc_id
        |LEFT JOIN cnt ON d.doc_id = cnt.doc_id
        |WHERE d.doc_id < 100
        |ORDER BY d.doc_id""".stripMargin,

    // OLS trend + forecast (Forecast.tsForecastLinear): five exact-BIGINT
    // sufficient statistics, slope/intercept/yhat in the identical
    // expression-tree order as the Spark plan.
    "ts_forecast_linear" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '2024-01-01'
        |              AS BIGINT) AS x,
        |         CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events WHERE event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |         CAST(SUM(x * y) AS BIGINT) AS sxy,
        |         CAST(SUM(x * x) AS BIGINT) AS sxx,
        |         CAST(MAX(x) AS BIGINT) AS last_x
        |  FROM daily GROUP BY 1),
        |fit AS (
        |  SELECT *,
        |         CAST(n * sxy - sx * sy AS DOUBLE) /
        |         CAST(n * sxx - sx * sx AS DOUBLE) AS slope
        |  FROM st),
        |fit2 AS (
        |  SELECT *,
        |         (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) /
        |         CAST(n AS DOUBLE) AS intercept
        |  FROM fit)
        |SELECT event_type, CAST(gs.x AS BIGINT) AS x,
        |       ROUND(slope, 6) AS slope, ROUND(intercept, 6) AS intercept,
        |       ROUND(intercept + slope * CAST(gs.x AS DOUBLE), 6) AS yhat
        |FROM fit2, UNNEST(generate_series(last_x + 1, last_x + 7)) AS gs(x)
        |ORDER BY event_type, x""".stripMargin,

    // Incremental rollup (Rollup.rollupIncremental): the merged result
    // must equal the full-history aggregate; the per-(day,type) partial
    // count doubles as a distinct-day check on the merge granularity.
    // Exactly-once block runtime (pipeline.BlockRuntime): the committed
    // store's daily totals must equal the full-history recompute — a
    // block consumed twice doubles its days, a skipped block loses them.
    "pipeline_incremental_run" ->
      """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |       CAST(COUNT(*) AS BIGINT) AS n_ev,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "rollup_incremental" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_ev,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       CAST(COUNT(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT)
        |         AS n_day_type_partials
        |FROM events WHERE ts IS NOT NULL
        |  AND value IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Point-in-time features (FeatureStore.featurePitJoin): the oracle is
    // the per-probe correlated definition (LEFT JOIN on the as-of range);
    // the engine's one-pass union-tag sweep must reproduce it, zeros for
    // no-history entities included.
    "feature_pit_join" ->
      """WITH probes AS (
        |  SELECT c_custkey, CAST(v.d AS DATE) AS asof_date
        |  FROM customer,
        |       (VALUES (DATE '1996-01-01'), (DATE '1998-07-01'),
        |               (DATE '2000-01-01')) AS v(d)
        |  WHERE c_custkey % 13 = 0),
        |f AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT p.c_custkey, p.asof_date,
        |       CAST(COUNT(f.d) AS BIGINT) AS n_orders,
        |       CAST(COALESCE(SUM(f.cents), 0) AS BIGINT) AS spend_cents
        |FROM probes p
        |LEFT JOIN f ON f.o_custkey = p.c_custkey AND f.d <= p.asof_date
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Preference pairs (Prefs.pairPreference): exact milli-TTR scoring,
    // strict-margin extrema per (lang, source) group.
    "pair_preference" ->
      """WITH s AS (
        |  SELECT doc_id, lang, source,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang, source,
        |         CAST(len(list_distinct(toks)) AS BIGINT) * 1000 // len(toks)
        |           AS ttr_milli
        |  FROM s WHERE len(toks) > 0),
        |r AS (
        |  SELECT *,
        |         ROW_NUMBER() OVER (PARTITION BY lang, source
        |                            ORDER BY ttr_milli DESC, doc_id) AS rb,
        |         ROW_NUMBER() OVER (PARTITION BY lang, source
        |                            ORDER BY ttr_milli ASC, doc_id) AS rw,
        |         CAST(COUNT(*) OVER (PARTITION BY lang, source) AS BIGINT) AS n_docs
        |  FROM sc),
        |p AS (
        |  SELECT lang, source, n_docs,
        |         MAX(CASE WHEN rb = 1 THEN doc_id END) AS chosen_id,
        |         MAX(CASE WHEN rb = 1 THEN ttr_milli END) AS chosen_ttr,
        |         MAX(CASE WHEN rw = 1 THEN doc_id END) AS rejected_id,
        |         MAX(CASE WHEN rw = 1 THEN ttr_milli END) AS rejected_ttr
        |  FROM r WHERE rb = 1 OR rw = 1
        |  GROUP BY 1, 2, 3)
        |SELECT lang, source, n_docs, chosen_id, chosen_ttr,
        |       rejected_id, rejected_ttr,
        |       chosen_ttr - rejected_ttr AS margin_milli
        |FROM p WHERE n_docs >= 2 AND chosen_ttr > rejected_ttr
        |ORDER BY lang, source""".stripMargin,

    // Freshness lag (Profile.dqFreshness): per-type high-water mark vs
    // the table's own global maximum, 6 h staleness budget.
    "dq_freshness" ->
      """WITH pt AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_ev,
        |         MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |g AS (SELECT MAX(max_us) AS global_us FROM pt)
        |SELECT event_type, n_ev,
        |       make_timestamp(max_us) AS latest_ts,
        |       CAST(g.global_us - max_us AS BIGINT) AS lag_us,
        |       (g.global_us - max_us) > 21600000000 AS is_stale
        |FROM pt CROSS JOIN g ORDER BY event_type""".stripMargin,

    // PSI drift between the date-cut snapshots: identical IEEE ops over
    // exact integer counts (see Profile.dqDrift); empty-on-either-side
    // bins are NULL, never ε-smoothed.
    "dq_drift" ->
      """WITH tagged AS (
        |  SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS is_base,
        |         LEAST(9, GREATEST(0, CAST(FLOOR(o_totalprice / 30000.0) AS INT))) AS pbin,
        |         o_orderstatus AS status
        |  FROM orders
        |  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        |    AND o_orderstatus IS NOT NULL),
        |bins AS (
        |  SELECT feature, bin,
        |         CAST(SUM(is_base) AS BIGINT) AS n_base,
        |         CAST(SUM(1 - is_base) AS BIGINT) AS n_curr
        |  FROM (
        |    SELECT is_base, 'o_totalprice' AS feature,
        |           'b' || CAST(pbin AS VARCHAR) AS bin FROM tagged
        |    UNION ALL
        |    SELECT is_base, 'o_orderstatus' AS feature, status AS bin FROM tagged) u
        |  GROUP BY feature, bin),
        |tot AS (
        |  SELECT feature, CAST(SUM(n_base) AS BIGINT) AS tb,
        |         CAST(SUM(n_curr) AS BIGINT) AS tc
        |  FROM bins GROUP BY feature)
        |SELECT b.feature, b.bin, b.n_base, b.n_curr,
        |       CASE WHEN b.n_base > 0 AND b.n_curr > 0 THEN
        |         ROUND((CAST(b.n_curr AS DOUBLE) / t.tc - CAST(b.n_base AS DOUBLE) / t.tb)
        |               * LN(CAST(b.n_curr AS DOUBLE) * t.tb / (CAST(b.n_base AS DOUBLE) * t.tc)), 6)
        |       END AS psi
        |FROM bins b JOIN tot t USING (feature)
        |ORDER BY feature, bin""".stripMargin,

    // Surgical erasure (Layouts.gdprErasure): the generation-2 read must
    // equal the original table under the erasure predicate — a lost row,
    // surviving erased row, or double-linked file all mismatch here.
    "gdpr_erasure" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM orders WHERE o_custkey % 293 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Schema-evolution read (Layouts.sourceSchemaEvolution): restated
    // from the ORIGINAL supplier table + the generation parity rule.
    "source_schema_evolution" ->
      """SELECT s_nationkey, COUNT(*) AS n_supp,
        |       CAST(SUM(CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_with_bal,
        |       CAST(SUM(CASE WHEN s_suppkey % 2 = 0
        |                     THEN CAST(round(s_acctbal * 100) AS BIGINT)
        |                     ELSE 0 END) AS BIGINT) AS sum_bal_cents
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin,

    // DPP star join (Layouts.joinDpp): identical aggregate from the
    // ORIGINAL events table; weekday classified by exact date arithmetic
    // (days since 2024-01-01 mod 7 = 1 ⇒ Tuesday).
    "join_dpp" ->
      """SELECT event_type, COUNT(*) AS n_ev,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE value IS NOT NULL AND event_type IS NOT NULL
        |  AND CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |      BETWEEN DATE '2024-01-01' AND DATE '2024-03-31'
        |  AND (CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '2024-01-01') % 7 = 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
  )

  /** Generated oracles for the BPE trainer/encoder
    * ([[graft.ops.Bpe]]): the merge loop is UNROLLED into
    * [[graft.ops.Bpe.NumMerges]] chained CTE pairs (pair-count argmax
    * rI, re-segmented word table wI), each merge applied with the same
    * leftmost-greedy `list_reduce` fold the engine's `aggregate` HOF
    * states — so DuckDB independently re-trains the entire rule
    * sequence from the corpus and any drift in counting, tie-break, or
    * merge application hashes differently.
    */
  private def bpePrefix: String = {
    val n = graft.ops.Bpe.NumMerges
    val mt = graft.ops.Bpe.MaxTypes
    val sb = new StringBuilder
    sb ++= s"""WITH wt AS (
      |  SELECT token AS word, COUNT(*) AS cnt FROM (
      |    SELECT UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      |    FROM documents)
      |  GROUP BY 1 ORDER BY cnt DESC, word LIMIT $mt),
      |w0 AS (SELECT cnt, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seg FROM wt)""".stripMargin
    for (i <- 1 to n) {
      val prev = s"w${i - 1}"
      sb ++= s""",
        |p$i AS (
        |  SELECT p.l AS l, p.r AS r, CAST(SUM(cnt) AS BIGINT) AS pc FROM (
        |    SELECT cnt, UNNEST(list_transform(string_split(seg, ' '),
        |      (x, ix) -> struct_pack(l := x, r := string_split(seg, ' ')[ix + 1]))) AS p
        |    FROM $prev) t
        |  WHERE p.r IS NOT NULL GROUP BY 1, 2),
        |r$i AS (
        |  -- ALWAYS one row: when training exhausts before round $i (no
        |  -- pairs left), a sentinel no-op rule (l = r = '', matching no
        |  -- symbol) keeps the downstream w$i/wseg cross joins populated
        |  -- instead of collapsing the whole encode to zero rows — the
        |  -- engine's Bpe.rules simply stops early in that case
        |  SELECT COALESCE(x.l, '') AS l, COALESCE(x.r, '') AS r,
        |         COALESCE(x.pc, CAST(0 AS BIGINT)) AS pc
        |  FROM (SELECT 1 AS one_) one LEFT JOIN
        |    (SELECT l, r, pc FROM p$i ORDER BY pc DESC, l, r LIMIT 1) x ON TRUE),
        |w$i AS (
        |  SELECT cnt, list_reduce(string_split(seg, ' '),
        |    (acc, x) -> CASE WHEN x = r$i.r AND (acc = r$i.l OR ends_with(acc, ' ' || r$i.l))
        |      THEN substr(acc, 1, length(acc) - length(r$i.l)) || r$i.l || r$i.r
        |      ELSE acc || ' ' || x END) AS seg
        |  FROM $prev, r$i)""".stripMargin
    }
    sb.result()
  }

  private def bpeBuildSql: String = {
    val n = graft.ops.Bpe.NumMerges
    val unions = (1 to n)
      // sentinel no-op rules (exhausted rounds) are not trained merges
      .map(i => s"SELECT $i AS merge_rank, l, r, pc FROM r$i WHERE l <> ''")
      .mkString("\n  UNION ALL ")
    s"""$bpePrefix
      |SELECT CAST(merge_rank AS BIGINT) AS merge_rank, l, r,
      |       l || r AS merged, pc AS pair_cnt
      |FROM ($unions) ORDER BY merge_rank""".stripMargin
  }

  private def bpeIdsSql: String = {
    val n = graft.ops.Bpe.NumMerges
    var segExpr = "trim(regexp_replace(word, '(.)', '\\1 ', 'g'))"
    for (i <- 1 to n)
      segExpr = s"""list_reduce(string_split($segExpr, ' '),
        |    (acc, x) -> CASE WHEN x = r$i.r AND (acc = r$i.l OR ends_with(acc, ' ' || r$i.l))
        |      THEN substr(acc, 1, length(acc) - length(r$i.l)) || r$i.l || r$i.r
        |      ELSE acc || ' ' || x END)""".stripMargin
    val rTables = (1 to n).map(i => s"r$i").mkString(", ")
    s"""$bpePrefix,
      |syms AS (
      |  SELECT CAST(row_number() OVER (ORDER BY sym) AS BIGINT) AS sym_id, sym
      |  FROM (SELECT DISTINCT UNNEST(string_split(seg, ' ')) AS sym FROM w$n)),
      |tok AS (
      |  SELECT doc_id, t.wpos AS wpos, t.word AS word FROM (
      |    SELECT doc_id, UNNEST(list_transform(
      |      list_filter(string_split(text, ' '), x -> x <> ''),
      |      (x, ix) -> struct_pack(wpos := ix, word := x))) AS t
      |    FROM documents)),
      |wseg AS (
      |  SELECT word, $segExpr AS seg
      |  FROM (SELECT DISTINCT word FROM tok), $rTables),
      |pieces AS (
      |  SELECT word, q.ppos AS ppos, q.sym AS sym FROM (
      |    SELECT word, UNNEST(list_transform(string_split(seg, ' '),
      |      (x, ix) -> struct_pack(ppos := ix, sym := x))) AS q
      |    FROM wseg)),
      |idrows AS (
      |  SELECT tok.doc_id, tok.wpos, p.ppos, COALESCE(s.sym_id, -1) AS id
      |  FROM tok JOIN pieces p ON tok.word = p.word
      |  LEFT JOIN syms s ON p.sym = s.sym)
      |SELECT doc_id, COUNT(*) AS n_pieces,
      |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY wpos, ppos) AS ids
      |FROM idrows GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The native AsOfJoinExec direction variants are drop-in replacements
    * for their join+window rewrites, so each shares its rewrite's oracle.
    */
  val duck: Map[String, String] = base ++ Map(
    "vocab_bpe_build" -> bpeBuildSql,
    "tokenize_bpe_ids" -> bpeIdsSql,
    // The declarative-loader path must be result-identical to the
    // code-level node graph — same oracle verbatim.
    "pipeline_graph_spec" -> base("pipeline_revenue_by_segment"),
    "pipeline_graph_yaml" -> base("pipeline_revenue_by_segment"),
    // Observed metrics are value-invisible — same oracle as the plain
    // graph; GraphLoaderSpec pins the metric DELIVERY.
    "pipeline_graph_observe" -> base("pipeline_revenue_by_segment"),
    // manifest node source: the rollup through the graph must equal the
    // direct manifest read — source_manifest's oracle verbatim.
    "pipeline_graph_manifest" -> base("source_manifest"),
    "pipeline_graph_cdf" -> base("source_manifest_cdf"),
    // The materialize-node path adds a declared-format storage hop that
    // must be value-preserving — same oracle as the direct graph.
    "pipeline_graph_materialize" -> base("pipeline_revenue_by_segment"),
    // Stream port through the graph: stream_tumbling's oracle as a CTE,
    // rolled up to days by the same decimal-exact sql the graph states.
    "pipeline_graph_stream" ->
      s"""WITH hourly AS (${SurveySql.duck("stream_tumbling")})
         |SELECT CAST(ws AS DATE) AS day, event_type,
         |       CAST(SUM(cnt) AS BIGINT) AS n_ev,
         |       CAST(CAST(SUM(CAST(sv AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sv_day
         |FROM hourly GROUP BY CAST(ws AS DATE), event_type
         |ORDER BY day, event_type""".stripMargin,
    // Loose-cast source node: the oracle applies the SAME declared
    // schema with DuckDB's TRY_CAST / domain rule, then the same
    // aggregation — the declared shape must agree engine-for-engine.
    "pipeline_graph_schema" ->
      """WITH ev AS (
        |  SELECT CASE WHEN event_type IN ('click','view','purchase','signup')
        |              THEN event_type END AS event_type,
        |         TRY_CAST(value AS DECIMAL(4,2)) AS value
        |  FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(COUNT(value) AS BIGINT) AS n_val_ok,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_ok
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Declarative incremental node: the exactly-once block runtime
    // driven from the graph spec must equal the code-level drive — and
    // both must equal the full-history recompute. (The spec also declares
    // the maintenance policy — compact_after + merge_sql — which must be
    // result-invisible.)
    "pipeline_graph_incremental" -> base("pipeline_incremental_run"),
    // Statistics-driven reorder must be value-invisible: the CBO variant
    // shares join_multiway's oracle verbatim.
    "join_multiway_cbo" -> SurveySql.duck("join_multiway"),
    // Unicode NFC normalization (Text.textNormalize): the engine's
    // graft_nfc codegen expression vs DuckDB's nfc_normalize — both are
    // Unicode canonical composition, so the normalized strings must
    // agree codepoint for codepoint. The decomposed sequences are built
    // with chr() (e + U+0301, i + U+0308) exactly as the Spark side
    // injects them; whitespace collapse needs the 'g' flag (DuckDB
    // regexp_replace is first-match by default, Spark's is global).
    "text_normalize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         text || ' cafe' || chr(769) || ' nai' || chr(776) || 've'
        |              || chr(9) || 'x  y' AS raw
        |  FROM documents WHERE doc_id < 2000 AND text IS NOT NULL),
        |n AS (
        |  SELECT doc_id, raw,
        |         trim(regexp_replace(regexp_replace(
        |           nfc_normalize(raw), '[\t\r\n]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM d)
        |SELECT doc_id, right(norm, 24) AS tail,
        |       CAST(length(raw) AS BIGINT) AS len_before,
        |       CAST(length(norm) AS BIGINT) AS len_after
        |FROM n ORDER BY doc_id""".stripMargin,
    // Runtime bloom-filter pruning must be value-invisible: plain join
    // semantics (RuntimeFilterSpec pins might_contain reached the scan).
    "join_bloom_runtime" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 450000.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Output schema on a sql node: the oracle applies the SAME declared
    // shape with TRY_CAST / domain rule to the aggregate, then the same
    // downstream fold — the declared output contract must agree
    // engine-for-engine.
    "pipeline_graph_output_schema" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type AS et,
        |         COUNT(*) AS n_ev,
        |         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |typed AS (
        |  SELECT day,
        |         CASE WHEN et IN ('click','view','purchase','signup') THEN et END AS event_type,
        |         TRY_CAST(n_ev AS INTEGER) AS n_ev, sum_cents
        |  FROM daily)
        |SELECT day, COALESCE(event_type, '__bad__') AS event_type, n_ev, sum_cents
        |FROM typed ORDER BY day, event_type""".stripMargin,
    // Graph with a `query` node: text_quality's oracle as a CTE, then
    // the same lang-grouped aggregation the sql node states. quality is
    // already quantized to 1e-6 by text_quality, so ROUND(q*1e6) hits
    // near-integers (no halfway cases) — bit-stable across engines.
    "pipeline_graph_query" ->
      s"""WITH tq AS (${base("text_quality")})
         |SELECT d.lang, COUNT(*) AS n_docs,
         |       CAST(SUM(CAST(q.n_tok AS BIGINT)) AS BIGINT) AS total_tok,
         |       CAST(SUM(CAST(ROUND(q.quality * 1000000) AS BIGINT)) AS BIGINT) AS quality_micro
         |FROM tq q JOIN documents d ON q.doc_id = d.doc_id
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "join_asof_forward_native" -> base("join_asof_forward"),
    "join_asof_nearest_native" -> base("join_asof_nearest"),
    // Incremental cluster maintenance must equal the from-scratch
    // components — same probe, same τ, same labels — so it shares the
    // recursive-CTE oracle verbatim.
    "incremental_components" -> base("dedup_components"),
    // The bucketed-store variant changes the STORAGE LAYOUT, not the
    // result: same candidates, same re-rank, same oracle.
    "incremental_dedup_bucketed" -> base("incremental_dedup"),
    // Split-arrival drive (StreamDrive.streamJoinMultibatch): clicks in
    // batch 1, purchases in batch 2 — the sink still equals the batch
    // interval join, but only because the join buffer held every click
    // across the micro-batch boundary. Same oracle as the co-arrival
    // drive by design (one copy, aliased).
    "stream_join_multibatch" -> base("stream_stream_join"),
    // Bounded-buffer aggregate top-k is a PHYSICAL alternative to the
    // ranked-window form — identical rows by contract, so it shares the
    // window path's oracle verbatim.
    "topk_group_agg" -> SurveySql.duck("topk_per_group"),
    // SQL row-level statements on the manifest store must be
    // VALUE-INVISIBLE relative to the Scala API they route to —
    // `DELETE FROM` / `MERGE INTO` share the API queries' oracles
    // verbatim (same construction, same final read, different front
    // end), so any divergence between the two surfaces hash-fails.
    "sql_manifest_delete" -> base("source_manifest_delete"),
    // Multi-dimension partitioned layout (Feeds.sourceManifestMultidim):
    // the (year, key-slot) slice recomputed over the original table.
    "source_manifest_multidim" ->
      """SELECT o_orderstatus,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
        |  AND o_orderkey % 4 IN (1, 3)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // The zorder CALL rewrite is value-invisible: same slice, same
    // oracle as the write-time z-ordered store.
    "sql_manifest_zorder_call" -> base("source_manifest_zorder"),
    // CTAS lands exactly the rows and layout the partitionCol write
    // lands — shared oracle verbatim (the DDL front end is
    // value-invisible).
    "sql_manifest_ctas" -> base("source_manifest_partitioned"),
    // CALL-driven maintenance replays the Scala lifecycle exactly (plus
    // a row-invisible bin-pack and a no-op age vacuum) — shared oracle:
    // the procedure front end must be value-invisible.
    "sql_manifest_procedures" -> base("source_manifest_delete"),
    "sql_manifest_merge" -> base("source_manifest_merge"),
    // UPDATE applies the exact bump MERGE applies (cents +12345 on the
    // same key set) through a different statement — same oracle, and
    // SQL time travel / INSERT complete the same-hash family.
    "sql_manifest_update" -> base("source_manifest_merge"),
    "sql_manifest_time_travel" -> base("source_manifest_time_travel"),
    // TIMESTAMP AS OF addresses the same snapshot by commit wall-time —
    // value-identical to version addressing by construction
    "sql_manifest_timestamp_travel" -> base("source_manifest_time_travel"),
    // Runtime file pruning selects exactly the 1996 months the static
    // month-range query reads — two pruning paths, one logical result,
    // so the oracle is shared verbatim.
    "join_manifest_runtime_filter" -> base("source_manifest_partitioned"),
    // The bucketed zero-shuffle join computes exactly what the broadcast
    // join computes — same join, same aggregate, different physical path.
    "join_manifest_spj_bucket" -> base("join_manifest_broadcast"),
    "sql_manifest_insert" -> base("source_manifest"),
    // Streaming ingest through the manifest table's ACID commit: the
    // sink substrate changed (ad-hoc version store → one manifest
    // version per micro-batch), the fold semantics didn't — shared
    // oracle, so a torn/duplicated batch version hash-fails.
    "stream_manifest_sink" -> base("stream_foreach_upsert"),
    // The manifest STREAMING SOURCE must reproduce exactly the table a
    // batch read sees (version-per-batch, then union) — shared oracle
    // with the batch round-trip query.
    "stream_manifest_source" -> base("source_manifest"),
    // The CDF STREAM must reproduce the batch version-diff row-for-row —
    // same lifecycle store, same aggregation, same oracle.
    "stream_manifest_cdf" -> base("source_manifest_cdf"))
}
