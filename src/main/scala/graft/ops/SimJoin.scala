package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT set-similarity self-join at scale — prefix filtering (the
  * AllPairs/PPJoin family: Chaudhuri et al. ICDE'06, Bayardo et al.
  * WWW'07; public literature). Completes the near-dup operator family's
  * middle ground: `dedup_minhash_lsh` is sub-quadratic but approximate
  * (recall < 1 by construction), the exact measures so far were
  * probe-bounded by contract — this operator is BOTH exact and
  * sub-quadratic-by-plan on discriminative features.
  *
  * The pruning theorem: fix any global total order on tokens and sort
  * every set by it. If |A∩B| ≥ k, the (|A|−k+1)-prefixes of A and B must
  * share a token (pigeonhole: skipping a shared token costs one unit of
  * possible overlap). For Jaccard ≥ τ with the size filter
  * |B| ≥ ⌈τ·|A|⌉, the overlap is ≥ τ/(1+τ)·(|A|+|B|) ≥ ⌈τ·|A|⌉, so the
  * per-set prefix length |A| − ⌈τ·|A|⌉ + 1 is candidate-COMPLETE: every
  * qualifying pair collides on ≥ 1 prefix token. The global order is
  * ascending document frequency (rarest first), which keeps corpus-common
  * tokens OUT of prefixes — that choice only affects candidate volume,
  * never completeness, so the operator stays exact under any skew.
  *
  * Plan shape (all shuffles on token or doc keys, no all-pairs step):
  * explode shingles → df count (partial+final) → frequency-rank join →
  * per-doc sort+slice to prefixes → prefix equi-join on token (+ size
  * filter conjunct) → distinct pairs → exact `graft_jaccard` re-rank via
  * two id-keyed joins. Candidate volume is Σ_token prefixOcc(token)² —
  * bounded by rare-first prefixes, measured ≈ the true-pair count on the
  * driver corpus (SimJoinSpec prints it; the brute-force equality and
  * candidate-completeness are asserted, and the DuckDB oracle re-checks
  * exactness end-to-end).
  *
  * Features are 3-token shingles, not unigrams: over this small
  * vocabulary unigram SETS of any two long documents are nearly
  * identical (measured 74% of pairs ≥ 0.5 Jaccard — a similarity join on
  * them is a cross join by data), while shingle space is vocab³ and
  * random-pair similarity ~0.
  */
object SimJoin {

  /** (a_id, b_id, jac) — all unordered doc pairs with shingle-set
    * Jaccard ≥ tau, exact.
    */
  def simJaccardJoin(t: Tables, tau: Double = 0.5): DataFrame =
    simJaccardJoinOf(Dedup.shingleArray(t.documents)
      .select(col("doc_id"), array_distinct(col("shingles")).as("s")), tau)

  /** The join over an arbitrary (doc_id, s: array<string>) set table —
    * test seam for synthetic corpora.
    */
  def simJaccardJoinOf(sets: DataFrame, tau: Double): DataFrame = {
    val base = sets.filter(size(col("s")) > 0)
      .select(col("doc_id"), col("s"), size(col("s")).as("sz"))
      .repartition(col("doc_id")) // sharing point: one Exchange feeds the
                                  // token explode AND both re-rank joins
    candidatePairs(base, tau)
      .join(base.select(col("doc_id").as("a_id"), col("s").as("a_s")), "a_id")
      .join(base.select(col("doc_id").as("b_id"), col("s").as("b_s")), "b_id")
      // explode(array(…)) barrier: without it the jac filter inlines into
      // the join and graft_jaccard runs twice per candidate (same trap as
      // dedupMinhashLsh)
      .select(col("a_id"), col("b_id"),
        explode(array(call_function("graft_jaccard", col("a_s"), col("b_s")))).as("jraw"))
      // Filter on the RAW value — the candidate-completeness theorem covers
      // true Jaccard ≥ τ, and a rounded-up near-miss (true jac in
      // [τ−5e-7, τ)) could pass a rounded filter without being guaranteed a
      // candidate. Rounding is presentation only; the oracle SQL mirrors
      // this exactly (raw filter, rounded projection).
      .filter(col("jraw") >= tau)
      .select(col("a_id"), col("b_id"), round(col("jraw"), 6).as("jac"))
      .orderBy("a_id", "b_id")
  }

  /** `ceil(x)` with a 1e-6 slack: `x` is always an integer-valued product
    * like `sz·τ`, and double rounding can land it one ulp ABOVE the true
    * integer (`20 · 0.55 = 11.000000000000002`), which would make plain
    * `ceil` over-tighten a pruning bound and drop a qualifying pair. The
    * slack can only LOOSEN a bound (by at most one unit, only when the
    * true product is within 1e-6 of an integer), so completeness is
    * preserved for every τ, at the cost of an occasional extra candidate.
    */
  private def ceilSlack(x: Column): Column = ceil(x - lit(1e-6))

  /** Prefix-filtered candidate pairs over (doc_id, s, sz) — complete for
    * Jaccard ≥ tau by the prefix theorem (see object scaladoc); exposed
    * for SimJoinSpec's completeness/volume assertions.
    *
    * Two exactness-preserving pruning layers on the collision stream
    * (both from the PPJoin family, Xiao et al. WWW'08):
    *   - size filter: a qualifying pair needs τ·|A| ≤ |B| ≤ |A|/τ;
    *   - POSITIONAL filter: at the pair's first common prefix token
    *     (positions i, j in the frequency-sorted orders), every other
    *     common token lies after both, so overlap ≤ 1 + min(|A|−i−1,
    *     |B|−j−1); Jaccard ≥ τ forces overlap ≥ ⌈τ/(1+τ)·(|A|+|B|)⌉, and
    *     a qualifying pair always passes at its first collision — so
    *     dropping failing collision ROWS can never drop a qualifying
    *     PAIR. Measured at sf0.1 this cuts candidates ~3× (the distinct
    *     and the exact re-rank are the candidate-volume payers).
    */
  private[graft] def candidatePairs(base: DataFrame, tau: Double): DataFrame = {
    val toks = base.select(col("doc_id"), col("sz"), explode(col("s")).as("tok"))
    // Ascending-document-frequency global order; the (cnt, tok) struct
    // sort makes the order total and deterministic.
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val prefixLen: Column = (col("sz") - ceilSlack(col("sz") * tau) + 1).cast("int")
    val prefixes = toks.join(freq, "tok")
      .groupBy(col("doc_id"))
      .agg(
        first(col("sz")).as("sz"),
        sort_array(collect_list(struct(col("cnt"), col("tok")))).as("sorted"))
      .select(col("doc_id"), col("sz"),
        posexplode(slice(col("sorted.tok"), lit(1), greatest(lit(1), prefixLen)))
          .as(Seq("pos", "tok")))
      .repartition(col("tok")) // self-join sharing point (one Exchange)
    val a = prefixes.select(col("doc_id").as("a_id"), col("sz").as("a_sz"), col("pos").as("a_pos"), col("tok"))
    val b = prefixes.select(col("doc_id").as("b_id"), col("sz").as("b_sz"), col("pos").as("b_pos"), col("tok"))
    a.join(b, Seq("tok"))
      .filter(col("a_id") < col("b_id"))
      .filter(col("b_sz") >= ceilSlack(col("a_sz") * tau) &&
        col("a_sz") >= ceilSlack(col("b_sz") * tau))
      .filter(lit(1) + least(col("a_sz") - col("a_pos") - 1, col("b_sz") - col("b_pos") - 1) >=
        ceilSlack(lit(tau / (1 + tau)) * (col("a_sz") + col("b_sz"))))
      .select("a_id", "b_id")
      .distinct()
  }

  /** Fuzzy best-name lookup under a BLOCKING key — the entity-resolution
    * shape: for each probe part, the highest-Jaro-Winkler OTHER part name
    * within the same brand. Edit-family similarity joins have no
    * pruning theorem like the Jaccard prefix filter, so the scalable plan
    * is block-then-score: the brand equi-join bounds candidates to one
    * block (the 100 TB discipline — never all-pairs), scored by the
    * native codegen'd [[graft.functions.JaroWinklerSimilarity]].
    *
    * Cross-engine determinism: similarity is quantized to integral
    * MICRO-units before the argmax (same discipline as the micro-nat
    * reductions), ties broken by smallest candidate key via one
    * lexicographic struct max; the probe set is hash-bounded
    * (p_partkey % 997 = 0).
    */
  def simJaroWinkler(t: Tables): DataFrame = {
    val probes = t.part.filter(col("p_partkey") % 997 === 0)
      .select(col("p_partkey").as("probe_id"), col("p_brand").as("brand"),
        col("p_name").as("probe_name"))
    val cands = t.part.select(col("p_partkey").as("cand_id"),
      col("p_brand").as("brand"), col("p_name").as("cand_name"))
    broadcast(probes).join(cands, Seq("brand"))
      .filter(col("cand_id") =!= col("probe_id"))
      .select(col("probe_id"), col("brand"), col("cand_id"),
        expr("round(graft_jaro_winkler(probe_name, cand_name) * 1e6)")
          .cast("long").as("jw_micro"))
      .groupBy("probe_id")
      .agg(
        first(col("brand")).as("brand"),
        count(lit(1)).as("n_cands"),
        max(struct(col("jw_micro"), (-col("cand_id")).as("neg"))).as("top"))
      .select(col("probe_id"), col("brand"), col("n_cands"),
        (-col("top.neg")).as("best_id"),
        round(col("top.jw_micro").cast("double") / 1e6, 6).as("best_jw"))
      .orderBy("probe_id")
  }
}
