package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Information-theoretic feature/association statistics and classical
  * retrieval scoring over the `documents` corpus — the feature-selection
  * and search-relevance surface of a training-data pipeline (which
  * categorical metadata columns carry signal about each other; which
  * documents match a query under BM25; which token bigrams are
  * collocations rather than chance co-occurrences).
  *
  * Cross-engine exactness discipline (shared with `text_tfidf` /
  * `text_lm_score`): every transcendental is a SINGLE `ln` of a ratio of
  * exactly-representable integers, rounded to integral MICRO-NATS
  * (`round(ln·1e6)` → long) before any reduction, so sums are exact
  * integer sums — order-free under any shuffle interleaving — and only
  * final per-row results divide back to rounded doubles. Magnitude
  * bounds for the integer products are documented per operator; all hold
  * through sf0.1 with ≥100× headroom under the 2^53 double-exactness
  * ceiling, and the inputs that would breach it at extreme scale
  * (corpus-total × corpus-total products) are exactly the statistics a
  * 100 TB deployment would compute once per corpus snapshot, not per row.
  *
  * Scale shape: everything here is contingency/margin aggregation —
  * partial+final hash aggregates whose shuffle volume is the number of
  * DISTINCT cells (lang × source, vocabulary, bigram vocabulary), never
  * the row count. Margins are tiny and broadcast back onto cells.
  */
object FeatureStats {

  /** Mutual information between two categorical document columns
    * (`lang` × `source`) from one contingency aggregation.
    *
    * Per-cell PMI term: ln((n_xy·N)/(n_x·n_y)) in micro-nats; the MI
    * total is the exact integer sum of n_xy-weighted cell terms divided
    * by N once at the end — I(X;Y) = Σ p(x,y)·pmi(x,y). Magnitudes:
    * n_xy·N ≤ N² (2.5e7 at sf0.1), n_xy·term_micro ≤ N·|ln p_min|·1e6
    * (≲ 1e11) — both exact in 64-bit.
    *
    * Scale: two narrow shuffles (cells, margins); margins broadcast back.
    * Output is one row per occupied cell plus the corpus MI repeated as a
    * scalar column (the shape a feature-selection sweep consumes).
    */
  def featureMutualInfo(t: Tables): DataFrame = {
    val cells = t.documents.groupBy("lang", "source")
      .agg(count(lit(1)).cast(LongType).as("n_xy"))
    val margX = t.documents.groupBy("lang")
      .agg(count(lit(1)).cast(LongType).as("n_x"))
    val margY = t.documents.groupBy("source")
      .agg(count(lit(1)).cast(LongType).as("n_y"))
    val total = t.documents.select(count(lit(1)).cast(LongType).as("n_tot"))

    val terms = cells
      .join(broadcast(margX), "lang")
      .join(broadcast(margY), "source")
      .crossJoin(broadcast(total))
      .withColumn(
        "term_micro",
        round(log(col("n_xy").cast(DoubleType) * col("n_tot") /
          (col("n_x").cast(DoubleType) * col("n_y"))) * lit(1e6))
          .cast(LongType))

    val mi = terms
      .select(sum(col("n_xy") * col("term_micro")).as("w"), first("n_tot").as("n_tot"))
      .select(round(col("w").cast(DoubleType) / col("n_tot") / lit(1e6), 6).as("mi_nats"))

    terms
      .crossJoin(broadcast(mi))
      .select(
        col("lang"), col("source"), col("n_xy"),
        round(col("term_micro").cast(DoubleType) / lit(1e6), 6).as("pmi"),
        col("mi_nats"))
      .orderBy("lang", "source")
  }

  /** Pearson chi-squared independence statistic over the same lang ×
    * source contingency table, with per-cell contributions.
    *
    * Exactness: the textbook (o−e)²/e with e = n_x·n_y/N is restated
    * over integers as (N·o − n_x·n_y)² / (N·n_x·n_y) — numerator and
    * denominator are each EXACT 64-bit-representable integer products
    * (N·o ≤ N² = 2.5e7 at sf0.1, squared 6.25e14 < 2^53;
    * N·n_x·n_y ≤ N³/4 ≈ 3e10), so the single IEEE division is
    * deterministic across engines. Cell contributions round to micro
    * units before the exact integer total.
    */
  def featureChi2(t: Tables): DataFrame = {
    val cells = t.documents.groupBy("lang", "source")
      .agg(count(lit(1)).cast(LongType).as("n_xy"))
    val margX = t.documents.groupBy("lang")
      .agg(count(lit(1)).cast(LongType).as("n_x"))
    val margY = t.documents.groupBy("source")
      .agg(count(lit(1)).cast(LongType).as("n_y"))
    val total = t.documents.select(count(lit(1)).cast(LongType).as("n_tot"))

    // Absent cells (n_xy = 0) still contribute e = n_x·n_y/N to the
    // statistic: build the full cross of observed margins, then left-join
    // the occupied cells.
    val grid = margX.crossJoin(margY)
      .join(cells, Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("n_xy"), lit(0L)))
      .crossJoin(broadcast(total))

    val terms = grid
      .withColumn("d", (col("n_tot") * col("o") - col("n_x") * col("n_y")).cast(DoubleType))
      .withColumn(
        "cell_micro",
        round(col("d") * col("d") /
          (col("n_tot").cast(DoubleType) * (col("n_x") * col("n_y")).cast(DoubleType)) * lit(1e6))
          .cast(LongType))

    val tot = terms
      .select(sum("cell_micro").as("s"))
      .select(round(col("s").cast(DoubleType) / lit(1e6), 6).as("chi2"))

    terms
      .crossJoin(broadcast(tot))
      .select(
        col("lang"), col("source"), col("o").as("n_xy"),
        round((col("n_x") * col("n_y")).cast(DoubleType) / col("n_tot"), 6).as("expected"),
        round(col("cell_micro").cast(DoubleType) / lit(1e6), 6).as("chi2_cell"),
        col("chi2"))
      .orderBy("lang", "source")
  }

  /** Fixed query terms for [[textBm25]] — literals so both engines score
    * the identical query (all three occur throughout the synthetic
    * corpus, so df spans are non-trivial).
    */
  val bm25QueryTerms: Seq[String] = Seq("join", "vector", "customer")

  /** BM25 relevance of every document against [[bm25QueryTerms]]
    * (Robertson–Spärck Jones probabilistic retrieval; k1 = 1.2,
    * b = 0.75).
    *
    * Exactness: idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) rounds to
    * micro-nats; the tf saturation ratio tf·(k1+1)/(tf + k1(1−b) +
    * k1·b·(len·N/T)) is a fixed chain of IEEE ops on exact integers and
    * parsed literal constants, written in the SAME shape in the oracle
    * SQL, so each per-(doc,term) score is bit-identical across engines;
    * scores round to micro units before the per-doc integer sum.
    *
    * Scale: tokens aggregate to (doc, term) tf pairs (shuffle = distinct
    * pairs); df and the length norm are vocabulary/corpus-sized
    * broadcasts; the query-term filter prunes the tf table to |q|
    * postings lists BEFORE the join — the inverted-index access path.
    */
  def textBm25(t: Tables): DataFrame = {
    val toks = Text.tokens(t.documents)
    val docLen = toks.groupBy("doc_id").agg(count(lit(1)).cast(LongType).as("len"))
    val corpus = docLen.select(
      count(lit(1)).cast(LongType).as("n_docs"),
      sum("len").cast(LongType).as("t_tokens"))

    val tf = toks
      .filter(col("token").isin(bm25QueryTerms: _*))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).cast(LongType).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).cast(LongType).as("df"))

    val scored = tf
      .join(broadcast(df), "token")
      .join(docLen, "doc_id")
      .crossJoin(broadcast(corpus))
      .withColumn(
        "idf_micro",
        round(log(lit(1.0) + (col("n_docs").cast(DoubleType) - col("df") + lit(0.5)) /
          (col("df").cast(DoubleType) + lit(0.5))) * lit(1e6)).cast(LongType))
      // dlnorm = len·N/T (average-relative document length), exact
      // integer product then one division
      .withColumn("dlnorm", (col("len") * col("n_docs")).cast(DoubleType) / col("t_tokens"))
      .withColumn(
        "score_micro",
        round(col("idf_micro").cast(DoubleType) * (col("tf").cast(DoubleType) * lit(2.2)) /
          (col("tf").cast(DoubleType) + lit(0.3) + lit(0.9) * col("dlnorm")))
          .cast(LongType))

    scored
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast(LongType).as("n_terms"),
        round(sum("score_micro").cast(DoubleType) / lit(1e6), 6).as("bm25"))
      .orderBy("doc_id")
  }

  /** Shannon entropy of the categorical document columns plus their joint
    * — the companion scalar to [[featureMutualInfo]] (H(X) + H(Y) − H(X,Y)
    * = I(X;Y) up to micro-nat rounding, asserted in FeatureStatsSpec).
    * H = (1/N)·Σ c·ln(N/c): per-value ln(N/c) rounds to micro-nats, the
    * c-weighted sum is an exact integer reduction, one division at the
    * end. One row per measure — the profile block a pipeline logs per
    * snapshot. Shuffle volume is the distinct-value counts.
    */
  def aggEntropy(t: Tables): DataFrame = {
    val total = t.documents.select(count(lit(1)).cast(LongType).as("n_tot"))
    def h(keys: Seq[String], name: String): DataFrame =
      t.documents.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).cast(LongType).as("c"))
        .crossJoin(broadcast(total))
        .withColumn(
          "term_micro",
          round(log(col("n_tot").cast(DoubleType) / col("c")) * lit(1e6)).cast(LongType))
        .select(
          lit(name).as("measure"),
          col("c"), col("term_micro"), col("n_tot"))
        .groupBy("measure")
        .agg(
          count(lit(1)).cast(LongType).as("n_cats"),
          round(sum(col("c") * col("term_micro")).cast(DoubleType) /
            first("n_tot") / lit(1e6), 6).as("h_nats"))
    h(Seq("lang"), "lang")
      .unionAll(h(Seq("source"), "source"))
      .unionAll(h(Seq("lang", "source"), "lang_source"))
      .orderBy("measure")
  }

  /** Collocation mining: pointwise mutual information of ADJACENT token
    * bigrams vs their unigram frequencies — the classical collocation
    * detector (Church & Hanks 1990). A bigram qualifies when its count
    * clears a corpus-relative floor (n_pair·3200 ≥ B, i.e. half the mean
    * pair mass under a ~40²-pair vocabulary — relative so the query is
    * scale-invariant; the compare is pure integers).
    *
    * pmi = ln((n_pair/B) / ((c1/T)(c2/T))) = ln(n_pair·T² / (B·c1·c2)),
    * computed as one ln of a ratio of exact integer products
    * (n_pair·T·T ≤ 9e14 at sf0.1; B·c1·c2 ≤ 3e13 — documented 2^53
    * headroom) in micro-nats.
    *
    * Scale: bigrams form map-side per-document (posexplode + window lead
    * within doc partitions); both count tables shuffle only vocabulary-
    * sized keys; the unigram margins broadcast onto the pair table.
    */
  def textCollocations(t: Tables): DataFrame = {
    val toks = t.documents
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .filter(col("token") =!= "")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val pairs = toks
      .withColumn("next", lead("token", 1).over(w))
      .filter(col("next").isNotNull)

    val uni = toks.groupBy("token").agg(count(lit(1)).cast(LongType).as("c"))
    val totals = toks.select(count(lit(1)).cast(LongType).as("t_tokens"))
      .crossJoin(pairs.select(count(lit(1)).cast(LongType).as("b_pairs")))

    val big = pairs.groupBy(col("token").as("w1"), col("next").as("w2"))
      .agg(count(lit(1)).cast(LongType).as("n_pair"))

    big
      .join(broadcast(uni.select(col("token").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("token").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(totals))
      .filter(col("n_pair") * 3200L >= col("b_pairs"))
      .withColumn(
        "pmi_micro",
        round(log((col("n_pair") * col("t_tokens")).cast(DoubleType) * col("t_tokens") /
          (col("b_pairs").cast(DoubleType) * (col("c1") * col("c2")).cast(DoubleType))) * lit(1e6))
          .cast(LongType))
      .select(
        col("w1"), col("w2"), col("n_pair"),
        round(col("pmi_micro").cast(DoubleType) / lit(1e6), 6).as("pmi"))
      .orderBy(desc("pmi"), asc("w1"), asc("w2"))
  }

  /** The four lineitem measures whose pairwise covariance/correlation
    * matrix [[statsCovMatrix]] emits — shared with the oracle generator
    * ([[graft.ExtraSql.covMatrixSql]]) so both sides derive from ONE
    * pair list.
    */
  val CovColumns: Seq[(String, String)] = Seq(
    "quantity" -> "l_quantity", "price" -> "l_extendedprice",
    "discount" -> "l_discount", "tax" -> "l_tax")

  /** Full pairwise covariance/correlation matrix of the four lineitem
    * measures in ONE aggregation pass: every Σx and Σx·y moment (14
    * columns) comes out of a single partial+final aggregate over one
    * table scan — the feature-covariance shape a training pipeline runs
    * before whitening/PCA, where re-scanning per pair (what a naive
    * corr(x, y) loop does) costs C(k,2) scans. The single moment row is
    * then unpivoted to (col_x, col_y) rows with `stack`, and the
    * cov/corr formulas run once per pair on decimal-EXACT sums
    * ([[graft.ops.Aggregates.aggCorr]]'s discipline, matrix-wide).
    * Self-pairs ride along (cov = variance; corr ≡ 1 bit-for-bit on
    * both engines — same sqrt(v)·sqrt(v) rounding).
    */
  def statsCovMatrix(t: Tables): DataFrame = {
    val cols = CovColumns.map { case (n, c) => n -> Relational.dec(col(c)) }
    val pairs = for {
      i <- cols.indices; j <- i until cols.size
    } yield (cols(i), cols(j))
    val moments = t.lineitem.agg(
      count(lit(1)).cast(LongType).as("n"),
      cols.map { case (n, c) =>
        Relational.dbl(sum(c).cast(DecimalType(38, 2))).as(s"s_$n")
      } ++ pairs.map { case ((ni, ci), (nj, cj)) =>
        Relational.dbl(sum((ci * cj).cast(DecimalType(18, 4)))
          .cast(DecimalType(38, 4))).as(s"sp_${ni}_$nj")
      }: _*)
    val stackRows = pairs.map { case ((ni, _), (nj, _)) =>
      s"'$ni', '$nj', s_$ni, s_$nj, sp_${ni}_$nj, sp_${ni}_$ni, sp_${nj}_$nj"
    }.mkString(", ")
    moments
      .select(col("n"), expr(
        s"stack(${pairs.size}, $stackRows) AS (col_x, col_y, sx, sy, sxy, sxx, syy)"))
      .select(
        col("col_x"), col("col_y"), col("n"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1), 6)
          .as("cov"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr"))
      .orderBy("col_x", "col_y")
  }

  /** Bootstrap confidence interval for the per-type mean event value —
    * uncertainty quantification WITHOUT resampling rows: the Bayesian
    * bootstrap (Rubin 1981; the weighting trick behind bag-of-little-
    * bootstraps at scale) draws an Exponential(1) weight per (row,
    * replicate) instead of a multinomial count, so every replicate is a
    * weighted mean over the SAME partition-parallel pass — no data
    * movement per replicate, B× compute on one shuffle.
    *
    * Determinism discipline: the weight is a pure function of
    * (event_id, replicate) — ONE shared-[[graft.util.HexFold]] md5 per
    * ROW, then a 32-bit multiply/xor-shift mixer folds the replicate in
    * with pure integer arithmetic (hashing per (row, replicate) was the
    * whole query's cost: 10.8 s → 3.0 s at sf0.1, B× fewer md5s; the rest IS the B× −ln/reduce work the method buys) —
    * u = (mix+1)/2³², w = −ln(u), quantized to integral MICRO-weights
    * before any sum, so both engines reduce exact integers in any order
    * and divide once per replicate. The interval is the 2.5/97.5
    * interpolating percentile over the B replicate means (identical
    * doubles on both engines). Magnitude: w_micro ≤ ln(2³²)·10⁶ ≈
    * 2.2e7, ×cents(≤5e6)×rows(1e5) ≈ 1e16 per replicate sum — inside
    * int64 with ~900× headroom; every mixer intermediate ≤ 2³²·69621.
    */
  def aggBootstrapCi(t: Tables, b: Int = 50): DataFrame = {
    val base = t.events
      .filter(col("event_type").isNotNull && col("value").isNotNull &&
        col("event_id").isNotNull)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast(LongType).as("vc"))
      .withColumn("h_row",
        graft.util.HexFold.u32(md5(col("event_id").cast(StringType).cast(BinaryType))))
    val two32 = 4294967296L
    val reps = base
      .withColumn("rep", explode(sequence(lit(1), lit(b))))
      .withColumn("h0",
        col("h_row").bitwiseXOR(col("rep") * lit(2654435761L) % two32))
      .withColumn("h1", col("h0") * 48271L % two32)
      .withColumn("h2", (col("h1").bitwiseXOR(shiftright(col("h1"), 16))) * 69621L % two32)
      .withColumn("u", (col("h2") + 1).cast(DoubleType) / lit(4294967296.0))
      .withColumn("w_micro", round(-log(col("u")) * 1e6).cast(LongType))
    val means = reps
      .groupBy("event_type", "rep")
      .agg((sum(col("w_micro") * col("vc")).cast(DoubleType) /
        sum(col("w_micro")) / 100d).as("m_rep"))
    val observed = base.groupBy("event_type")
      .agg(
        count(lit(1)).cast(LongType).as("n"),
        round(sum(col("vc")).cast(DoubleType) / count(lit(1)) / 100d, 6).as("mean_obs"))
    means
      .groupBy("event_type")
      .agg(
        round(percentile(col("m_rep"), lit(0.025)), 6).as("ci_lo"),
        round(percentile(col("m_rep"), lit(0.975)), 6).as("ci_hi"))
      .join(observed, "event_type")
      .select("event_type", "n", "mean_obs", "ci_lo", "ci_hi")
      .orderBy("event_type")
  }

  /** Two-sample Kolmogorov–Smirnov statistic between the document-length
    * (`n_chars`) distributions of the English slice and the rest of the
    * corpus — the distribution-drift gate a data pipeline runs when a new
    * ingest batch lands ("did this source shift the length profile?").
    *
    * D = sup_x |F₁(x) − F₂(x)| is computed EXACTLY: per distinct length,
    * per-sample counts; BOTH running cumulative counts ride
    * [[Windows.globalCums]]'s range-partitioned sweep (quantile cuts →
    * per-range offsets → local running sums — no single-partition window
    * anywhere, whatever the support size); the supremum is taken over
    * the cross-multiplied integer |c₁·n₂ − c₂·n₁| (no float enters the
    * argmax), and the single division to D happens once in the final
    * projection. `d_at` reports the smallest length achieving the
    * supremum — a total-order tie-break both engines state identically.
    */
  /** Welch two-sample t-test on the SAME en-vs-rest split as
    * [[statsKsTest]] — the parametric member of the drift battery
    * (KS = distribution-free, χ² = categorical, this = means under
    * unequal variances). One scan collects six exact BIGINT sufficient
    * statistics (counts, sums, sums of squares — n_chars ≤ ~600 so the
    * squares stay far under 2^53); means, Welch variances, the t
    * statistic and the Welch–Satterthwaite df are then pure projections
    * over those exact integers, written as the IDENTICAL floating
    * expression tree the DuckDB oracle states, so the rounded outputs
    * agree bit-for-bit. 100 TB shape: one partial+final aggregate, the
    * statistic is driver-free.
    */
  def statsWelchTtest(t: Tables): DataFrame = {
    val d = t.documents.filter(col("n_chars").isNotNull)
      .select(col("n_chars").cast(LongType).as("x"),
        when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("in1"))
    d.agg(
        sum(col("in1")).cast(LongType).as("n1"),
        sum(lit(1L) - col("in1")).cast(LongType).as("n2"),
        sum(col("x") * col("in1")).cast(LongType).as("s1a"),
        sum(col("x") * (lit(1L) - col("in1"))).cast(LongType).as("s1b"),
        sum(col("x") * col("x") * col("in1")).cast(LongType).as("s2a"),
        sum(col("x") * col("x") * (lit(1L) - col("in1"))).cast(LongType).as("s2b"))
      .selectExpr("n1", "n2", "s1a", "s1b",
        "(CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE) AS va",
        "(CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE) AS vb")
      .selectExpr("n1", "n2", "s1a", "s1b", "va", "vb",
        "va / CAST(n1 AS DOUBLE) + vb / CAST(n2 AS DOUBLE) AS se2")
      .selectExpr(
        "n1", "n2",
        "ROUND(CAST(s1a AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS mean1",
        "ROUND(CAST(s1b AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS mean2",
        "ROUND(va, 6) AS var1",
        "ROUND(vb, 6) AS var2",
        "ROUND((CAST(s1a AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s1b AS DOUBLE) / CAST(n2 AS DOUBLE)) / SQRT(se2), 6) AS t_stat",
        "ROUND(se2 * se2 / ((va / CAST(n1 AS DOUBLE)) * (va / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE) + (vb / CAST(n2 AS DOUBLE)) * (vb / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE)), 6) AS df")
  }

  /** One-way ANOVA of document length ACROSS ALL language groups — the
    * k-group generalization completing the battery (Welch = 2 means, MW =
    * 2 ranks, KS = 2 distributions, this = k means): F = (SSB/(k−1)) /
    * (SSW/(n−k)) plus the η² effect size. One scan collects per-group
    * exact BIGINT (n_g, Σx, Σx²); each group's between-term S_g²/n_g is
    * rounded to integral MICRO-UNITS before the cross-group sum — the
    * micro-nat discipline every reduction here uses, so the k-row
    * aggregation is order-free exact integers, never an order-sensitive
    * float sum — and the two quotients into F/η² are the only floating
    * steps, written as the identical expression tree the oracle states
    * (S_g ≤ 600·n_g keeps S_g² exactly representable far beyond these
    * SFs, the same bound statsWelchTtest documents). 100 TB shape: one
    * partial+final aggregate over the corpus, one k-row reduction.
    */
  def statsAnova(t: Tables): DataFrame = {
    val d = t.documents
      .filter(col("n_chars").isNotNull && col("lang").isNotNull)
      .select(col("lang"), col("n_chars").cast(LongType).as("x"))
    d.groupBy("lang")
      .agg(
        count(lit(1)).cast(LongType).as("ng"),
        sum(col("x")).cast(LongType).as("sg"),
        sum(col("x") * col("x")).cast(LongType).as("qg"))
      .selectExpr("ng", "sg", "qg",
        "CAST(ROUND(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) * 1000000.0 / CAST(ng AS DOUBLE)) AS BIGINT) AS term_micro")
      .agg(
        count(lit(1)).cast(LongType).as("k"),
        sum(col("ng")).cast(LongType).as("n"),
        sum(col("sg")).cast(LongType).as("s"),
        sum(col("qg")).cast(LongType).as("q"),
        sum(col("term_micro")).cast(LongType).as("b"))
      .selectExpr("k", "n",
        "b - CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) * 1000000.0 / CAST(n AS DOUBLE)) AS BIGINT) AS ssb_micro",
        "q * 1000000 - b AS ssw_micro")
      .selectExpr("k", "n", "ssb_micro", "ssw_micro",
        "ROUND((CAST(ssb_micro AS DOUBLE) / CAST(k - 1 AS DOUBLE)) / " +
          "(CAST(ssw_micro AS DOUBLE) / CAST(n - k AS DOUBLE)), 6) AS f_stat",
        "ROUND(CAST(ssb_micro AS DOUBLE) / CAST(ssb_micro + ssw_micro AS DOUBLE), 6) AS eta_sq")
  }

  /** Mann–Whitney U (rank-sum) on the same split — the rank-based member
    * of the battery, tie-corrected. Ranks never materialize per row:
    * the value-grain table (distinct n_chars) carries per-value group
    * counts; the cumulative count BEFORE each value comes from
    * [[Windows.globalRankCum]]'s two-pass range-partitioned sweep
    * (quantile cuts → per-range offsets → LOCAL running sum per range),
    * so no single-partition window exists anywhere on the path even if
    * the value support grows to millions of distinct lengths. Each
    * value's DOUBLED average rank (2·rank keeps tie midpoints integral),
    * R₁, the tie term Σ(t³−t), and U are exact BIGINT reductions; only
    * the final z-score divides into doubles (identical expression tree
    * as the oracle). 100 TB shape: one value-grain aggregate + a
    * range-partitioned cumulative sweep over the distinct-value table.
    */
  def statsMannWhitney(t: Tables): DataFrame = {
    val d = t.documents.filter(col("n_chars").isNotNull)
      .select(col("n_chars").cast(LongType).as("x"),
        when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("in1"))
    val perValue = d.groupBy("x")
      .agg(sum(col("in1")).cast(LongType).as("c1"),
        count(lit(1)).cast(LongType).as("c"))
    val (ranked, _, _) = Windows.globalRankCum(perValue, "x", "c",
      memo = graft.util.Memo.Key("mannwhitney_rank", t.sfDir, "documents"))
    ranked
      .select(col("c1"), col("c"),
        (col("cum") - col("c")).cast(LongType).as("cum_before"))
      .agg(
        sum(col("c1")).cast(LongType).as("n1"),
        sum(col("c") - col("c1")).cast(LongType).as("n2"),
        sum(col("c1") * (lit(2L) * col("cum_before") + col("c") + lit(1L)))
          .cast(LongType).as("r1x2"),
        sum(col("c") * col("c") * col("c") - col("c")).cast(LongType).as("ties"))
      .selectExpr("n1", "n2", "ties",
        "r1x2 - n1 * (n1 + 1) AS u2") // 2·U₁, exact
      .selectExpr("n1", "n2", "ties",
        "CAST(u2 AS DOUBLE) / 2 AS u",
        "ROUND((CAST(u2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) / (2 * SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * (CAST(n1 + n2 + 1 AS DOUBLE) - CAST(ties AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))) / 12)), 6) AS z")
  }

  def statsKsTest(t: Tables): DataFrame = {
    val d = t.documents.filter(col("n_chars").isNotNull)
      .select(col("n_chars"),
        when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("in1"))
    val perValue = d.groupBy("n_chars")
      .agg(sum(col("in1")).as("c1"), sum(lit(1L) - col("in1")).as("c2"))
    val totals = d.select(
      sum(col("in1")).cast(LongType).as("n1"),
      sum(lit(1L) - col("in1")).cast(LongType).as("n2"))
    // both empirical CDFs ride the range-partitioned cumulative sweep —
    // no single-partition window even if the value support grows to
    // millions of distinct lengths (same machinery as statsMannWhitney)
    Windows.globalCums(perValue, "n_chars", Seq("c1", "c2"),
        memo = graft.util.Memo.Key("kstest_cums", t.sfDir, "documents"))
      .select(col("n_chars"),
        col("cum_c1").cast(LongType).as("f1"),
        col("cum_c2").cast(LongType).as("f2"))
      .crossJoin(broadcast(totals))
      .select(col("n_chars"), col("n1"), col("n2"),
        abs(col("f1") * col("n2") - col("f2") * col("n1")).as("num"))
      .groupBy("n1", "n2")
      // argmax via lexicographic struct max on exact integers: highest
      // num, then (via negated length) the SMALLEST achieving n_chars.
      .agg(max(struct(col("num"), (-col("n_chars")).as("neg"))).as("top"))
      .select(
        col("n1"), col("n2"),
        col("top.num").as("d_num"), (-col("top.neg")).as("d_at"),
        round(col("top.num").cast(DoubleType) /
          (col("n1") * col("n2")).cast(DoubleType), 6).as("ks_d"))
  }

  /** Welch's two-sample t-test between the open ('O') and finished ('F')
    * order-value distributions — the A/B-comparison primitive ("did this
    * cohort's spend shift?"), unequal variances assumed.
    *
    * Exactness: each side reduces to three EXACT integer moments in one
    * partial+final aggregate over the fact table — n, Σcents (int64:
    * ≤ 1.5e5 rows × 5e7 cents ≈ 7.5e12), Σcents² (decimal(38,0): row
    * terms ≤ 2.5e15, total ≈ 4e20 — past int64, inside dec38 with 17
    * digits of headroom). Mean, variance, t and the Welch–Satterthwaite
    * df are then derived per-side in ONE final 2-row projection with an
    * expression tree stated identically in the oracle, so the doubles
    * agree bit-for-bit before the final ROUND. At 100 TB the moments are
    * the only thing shuffled: two rows.
    */
  def statsTtest(t: Tables): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast(LongType)
    val m = t.orders
      .filter(col("o_orderstatus").isin("O", "F") && col("o_totalprice").isNotNull)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).cast(LongType).as("n"),
        sum(cents).as("s"),
        sum((cents * cents).cast(DecimalType(38, 0))).as("ss"))
    // Pivot the 2 groups into one row via conditional firsts (2-row input).
    val wide = m.agg(
      max(when(col("o_orderstatus") === "O", struct(col("n"), col("s"), col("ss")))).as("a"),
      max(when(col("o_orderstatus") === "F", struct(col("n"), col("s"), col("ss")))).as("b"))
    def stats(side: String): (org.apache.spark.sql.Column, org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
      val n = col(s"$side.n").cast(DoubleType)
      val s = col(s"$side.s").cast(DoubleType)
      val ss = col(s"$side.ss").cast(DoubleType)
      // variance of cents; /1e4 converts cents² → dollars² at the end
      (n, s / n / 100d, (ss - s * s / n) / (n - lit(1d)) / 10000d)
    }
    val (n1, m1, v1) = stats("a")
    val (n2, m2, v2) = stats("b")
    val se2 = v1 / n1 + v2 / n2
    wide.select(
      n1.cast(LongType).as("n_open"),
      n2.cast(LongType).as("n_fin"),
      round(m1, 6).as("mean_open"),
      round(m2, 6).as("mean_fin"),
      round((m1 - m2) / sqrt(se2), 6).as("t_stat"),
      round(se2 * se2 /
        (v1 * v1 / (n1 * n1 * (n1 - lit(1d))) +
         v2 * v2 / (n2 * n2 * (n2 - lit(1d)))), 6).as("df"))
  }

  /** Feature scaling — per-group STANDARD (z-score) and MIN-MAX
    * normalization of two lineitem measures, the transform every
    * model-input pipeline applies before training. Exactness discipline:
    * values enter as exact integers (quantity units / price cents), the
    * per-flag sufficient statistics (n, Σx, Σx², min, max) are exact
    * integer/decimal(38,0) reductions (the price square sum exceeds
    * int64 near sf1, so it rides decimal — agg_quantile_moments'
    * pattern), and each scaled feature is ONE IEEE double tree over
    * those exact stats, identical text both engines, rounded at 6dp.
    *
    * Scale shape: one partial+final aggregate at the flag grain (3
    * groups), a BROADCAST join of the 3-row stats back onto the fact,
    * then pure map-side math — the fact table never shuffles.
    */
  def featureScale(t: Tables): DataFrame = {
    val rows = t.lineitem.select(
      col("l_orderkey"), col("l_linenumber"), col("l_returnflag").as("f"),
      round(col("l_quantity")).cast(LongType).as("qc"),
      round(col("l_extendedprice") * 100).cast(LongType).as("pc"))
    val st = rows.groupBy("f").agg(
      count(lit(1)).as("n"),
      sum("qc").as("s1q"),
      sum(col("qc") * col("qc")).as("s2q"),
      min("qc").as("minq"), max("qc").as("maxq"),
      sum("pc").as("s1p"),
      sum(col("pc").cast(DecimalType(38, 0)) *
        col("pc").cast(DecimalType(38, 0))).as("s2p"),
      min("pc").as("minp"), max("pc").as("maxp"))
    def z(x: String, s1: String, s2: String) =
      s"ROUND((CAST($x AS DOUBLE) - CAST($s1 AS DOUBLE) / CAST(n AS DOUBLE)) / " +
        s"SQRT((CAST($s2 AS DOUBLE) - CAST($s1 AS DOUBLE) * CAST($s1 AS DOUBLE) / CAST(n AS DOUBLE)) / " +
        s"CAST(n - 1 AS DOUBLE)), 6)"
    def mm(x: String, lo: String, hi: String) =
      s"ROUND(CAST($x - $lo AS DOUBLE) / CAST($hi - $lo AS DOUBLE), 6)"
    rows.join(broadcast(st), "f")
      .selectExpr(
        "l_orderkey", "l_linenumber", "f", "qc", "pc",
        z("qc", "s1q", "s2q") + " AS z_q",
        mm("qc", "minq", "maxq") + " AS mm_q",
        z("pc", "s1p", "s2p") + " AS z_p",
        mm("pc", "minp", "maxp") + " AS mm_p")
      .orderBy("l_orderkey", "l_linenumber")
      .limit(3000)
  }
}
