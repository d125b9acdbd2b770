package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Ann, Dedup, Graph, SimJoin, TextAnalysis}

/** Scale REHEARSAL: every "at 100 TB…" claim in the dedup/similarity
  * family scaladocs is a growth-rate claim, and until this spec nothing
  * in the gate could catch quadratic creep (bench only runs one SF). Two
  * deterministic synthetic corpora — 1× (≈2k docs/vectors) and 10×
  * (≈20k) — are materialized as parquet dirs shaped like the driver's
  * testdata, the family runs on both through the ordinary [[Tables]]
  * loaders, and wall-clock growth must stay ≤ 12× for 10× rows (a
  * quadratic operator would show ~100×). Candidate-volume growth is
  * asserted separately — it is the mechanism behind the time bound.
  *
  * Synthesis is hash-seeded (xxhash64 → Box–Muller for gaussians), so the
  * corpora are bit-identical across runs and partitionings — no RNG at
  * runtime. 2% of docs/vectors get planted near-dup twins so the re-rank
  * and CC stages process real work at both sizes.
  *
  * The hyperplane path follows its documented sizing recipe
  * ([[Ann.hyperplaneCandidates]]): bits ∝ log₂ n — 8 bits at 1×, 12 at
  * 10× — which is what holds bucket occupancy, and with it candidate
  * volume per vector, roughly constant.
  */
class ScaleRehearsalSpec extends AnyFunSuite with SparkSessionFixture {

  // Sized so the 10× corpus is big enough that quadratic growth would be
  // unmistakable (~100× time) yet the whole spec stays minutes-free under
  // full-suite load — the growth RATIO is the assertion, not absolutes.
  private val Base = 1000
  private val Factor = 10

  /** Deterministic uniform in (0,1) from hash of (id, salt). */
  private def u(idCol: String, salt: Int): String =
    s"(pmod(xxhash64($idCol, d, $salt), 1000000) + 0.5) / 1000000.0"

  /** 64-dim standard gaussian via Box–Muller on the hash stream. */
  private def gauss(idCol: String, salt: Int): String =
    s"sqrt(-2.0 * ln(${u(idCol, salt)})) * cos(6.283185307179586 * ${u(idCol, salt + 1)})"

  /** Materialize documents.parquet + embeddings.parquet for n base rows
    * (+ n/50 planted twins each) under /tmp/graft_scale/<tag>; idempotent
    * per JVM run via a marker file.
    */
  private def synth(n: Int, tag: String): String = {
    val dir = s"/tmp/graft_scale/$tag"
    // v3: adds lineitem.parquet (basket family rehearsal) and multi-source
    // docs — the version bump invalidates stale /tmp synth dirs
    val marker = Paths.get(dir, s"_SYNTH_v3_$n")
    if (Files.exists(marker)) return dir
    Files.createDirectories(Paths.get(dir))

    val docs = spark.range(n).selectExpr(
      "id AS doc_id",
      "array_join(transform(sequence(0, 29 + int(pmod(xxhash64(id, 1), 31))), " +
        "i -> concat('w', pmod(xxhash64(id, i, 2), 400))), ' ') AS text")
    val docTwins = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + n).as("doc_id"),
        concat(col("text"), lit(" extraword")).as("text"))
    docs.unionAll(docTwins)
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        // three hash-assigned sources so cross-source ops (negative
        // sampling's different-source guard, preference groups) are
        // non-vacuous at both scales
        expr("concat('synth', pmod(xxhash64(doc_id, 4), 3))").as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val vecs = spark.range(n).selectExpr(
      "id AS vec_id",
      s"transform(sequence(0, 63), d -> CAST(${gauss("id", 3)} AS DOUBLE)) AS e")
    val vecTwins = vecs.filter(col("vec_id") % 50 === 0)
      .selectExpr(s"vec_id + $n AS vec_id",
        // twin = base + 0.15·noise ⇒ cos ≈ 1/sqrt(1 + 0.15²·64/64) ≈ 0.989
        s"transform(e, (x, d) -> x + 0.15 * (${gauss("vec_id", 7)})) AS e")
    vecs.unionAll(vecTwins)
      .selectExpr("vec_id",
        "transform(e, x -> CAST(x AS FLOAT)) AS embedding",
        "int(pmod(xxhash64(vec_id, 9), 5)) AS label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // order fact for the basket family: n orders × 4 draws from an
    // n/10-item catalog — basket width CONSTANT, catalog ∝ corpus, the
    // regime where co-occurrence pair volume must stay linear
    spark.range(n)
      .selectExpr("id AS l_orderkey",
        "explode(sequence(0, 3)) AS li")
      .selectExpr("l_orderkey",
        s"pmod(xxhash64(l_orderkey, li, 11), ${math.max(n / 10, 20)}) + 1 AS l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    Files.createFile(marker)
    dir
  }

  private def timed(f: => Long): (Long, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private lazy val dir1 = synth(Base, s"n$Base")
  private lazy val dir10 = synth(Base * Factor, s"n${Base * Factor}")
  private lazy val t1 = Tables(spark, dir1)
  private lazy val t10 = Tables(spark, dir10)

  /** Density-constant synthetic point plane for the spatial rehearsal:
    * n points over a lat band whose HEIGHT scales with n (lon spans the
    * full frame), so 10× points cover 10× area at equal density — the
    * way a planet-scale point set actually grows. 18 µdeg·Base keeps the
    * 10× band inside the legal ±90e6 µdeg lat range.
    */
  private def geoPoints(n: Int): DataFrame = {
    val height = 18000000L * n / Base
    spark.range(n).selectExpr(
      "id",
      s"pmod(xxhash64(id, 21), $height) - 90000000 AS lat",
      "pmod(xxhash64(id, 22), 360000000) - 180000000 AS lon")
  }

  /** bits ∝ log₂ n: the documented hyperplane sizing. */
  private def annPipeline(t: Tables, bits: Int): Long = {
    val v = Ann.vectorsWithNorm(t)
    val a = v.select(col("vec_id").as("a_id"), col("e").as("a_e"), col("nrm").as("a_nrm"))
    val b = v.select(col("vec_id").as("b_id"), col("e").as("b_e"), col("nrm").as("b_nrm"))
    val edges = Ann.hyperplaneCandidates(v.select(col("vec_id"), col("e")), bits)
      .join(a, "a_id").join(b, "b_id")
      .filter(call_function("graft_dot", col("a_e"), col("b_e")) /
        (col("a_nrm") * col("b_nrm")) >= 0.8)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val nodes = t.embeddings.select(col("vec_id").as("node"))
    Graph.connectedComponents(edges, nodes)
      .filter(col("node") =!= col("component")).count()
  }

  test("scale rehearsal: 10× rows ⇒ ≤ 12× time across the dedup/similarity family") {
    // Ops under rehearsal; each returns a row count so laziness can't
    // fake the timing. Warm-up pass at 1× amortizes JIT/codegen compile.
    val family: Seq[(String, Tables => Long)] = Seq(
      "dedup_minhash_lsh" -> ((t: Tables) => Dedup.dedupMinhashLsh(t).count()),
      "heavy_hitters" -> ((t: Tables) => TextAnalysis.heavyHitters(t).count()),
      "decontaminate" -> ((t: Tables) => TextAnalysis.decontaminate(t).count()),
      "dedup_semantic_ann(bits∝log n)" -> { (t: Tables) =>
        annPipeline(t, if (t eq t10) 12 else 8)
      },
      // the EXACT prefix-filtered similarity join (round 7): rare-first
      // prefixes must keep candidate volume near the true-pair count on
      // hash-random shingles, so time stays ~linear despite exactness
      "sim_jaccard_join" -> ((t: Tables) => SimJoin.simJaccardJoin(t, 0.5).count()),
      // chunk-grain dedup (round 7): generate + hash-keyed agg, both
      // linear in corpus size by plan — rehearse it anyway
      "dedup_chunks" -> ((t: Tables) => graft.ops.Chunking.dedupChunks(t).count()),
      // PQ/ADC top-k (round 7): the query is probes×N codes through a
      // broadcast LUT + one partial+final SUM — linear in N by plan
      "ann_pq_topk" -> ((t: Tables) => graft.ops.Pq.pqCosineTopk(t).count()),
      // IVF-ADC (round 8): same plan with the scan cell-pruned to
      // ~nprobe/K of the codes — still linear in N, smaller constant
      "ann_ivfpq_topk" -> ((t: Tables) => graft.ops.IvfPq.ivfpqCosineTopk(t).count()),
      // incremental block-vs-store dedup (round 9): block bands probe the
      // store's band table — O(block)+O(store) map stages and one band
      // equi-join, so 10× corpus must stay ~linear like its batch sibling
      "incremental_dedup" -> ((t: Tables) => graft.ops.IncrementalDedup.incrementalDedup(t).count()),
      // unigram-LM scoring (round 9): one token-keyed join (block tokens ×
      // store counts) + one doc-keyed agg — linear by plan, rehearse anyway
      "text_lm_score" -> ((t: Tables) => graft.ops.TextAnalysis.textLmScore(t).count()),
      // bigram-LM scoring (round 9): adds the (prev,cur)-keyed transition
      // join and a per-doc positional window — both linear in corpus
      // bigrams; rehearse to pin the window never degenerates
      "text_lm_bigram" -> ((t: Tables) => graft.ops.TextAnalysis.textLmBigram(t).count()),
      // co-occurrence recommendations (round 9): constant basket width ×
      // catalog ∝ corpus — pair emission and margins must stay linear
      "rec_item_cooccur" -> ((t: Tables) => graft.ops.Rec.recItemCooccur(t).count()),
      // preference pairs (round 9): map-stage scoring + group-bounded
      // extrema windows — linear by plan, rehearse the window anyway
      "pair_preference" -> ((t: Tables) => graft.ops.Prefs.pairPreference(t).count()),
      // contrastive negatives (round 9): the FIXED-SIZE pool is the scale
      // claim — probes × pool must grow with probes only, never corpus²
      "sample_negatives" -> ((t: Tables) => graft.ops.Sampling.sampleNegatives(t).count()),
      // BPE encode (round 10, fused map-side in r16): one graft_bpe_ids
      // native pass per document (rules + vocab ride the plan as
      // foldable literals) — linear in corpus tokens with NO token
      // shuffle (training is bounded + memoized, pre-built below like PQ)
      "tokenize_bpe_ids" -> ((t: Tables) => graft.ops.Bpe.tokenizeBpeIds(t).count()),
      // unigram encode (round 10, fused map-side in r16): one
      // graft_uniseg_ids DP pass per document (model + vocab plan
      // literals — no vocab join, no token shuffle); linear by plan,
      // trained model pre-built below
      "tokenize_unigram_ids" -> ((t: Tables) => graft.ops.Unigram.tokenizeUnigramIds(t).count()),
      // content-defined chunk dedup (round 10): one linear chunking
      // expression pass + (hash, doc)-grain agg + spread window — the
      // whole point is that cost tracks corpus codepoints, not pairs
      "dedup_cdc" -> ((t: Tables) => graft.ops.Chunking.dedupCdc(t).count()),
      // cross-corpus line dedup (round 12): line split is map-side slice
      // arithmetic, then hash/doc-keyed shuffles — linear in corpus
      // tokens; rehearse that the canonical-owner argmin never pairs
      "dedup_lines" -> ((t: Tables) => graft.ops.Text.dedupLines(t).count()),
      // lexical diversity (round 12): (doc, token)-grain partial agg +
      // doc rollup — two hash aggregates, linear by plan
      "text_ttr" -> ((t: Tables) => graft.ops.TextAnalysis.textTtr(t).count()),
      // grid-blocked spatial join (round 9) at CONSTANT DENSITY (10×
      // points over 10× area — how a planet-scale point set grows): cell
      // occupancy flat ⇒ per-point cost flat ⇒ linear total
      "geo_grid_join(density-const)" -> { (t: Tables) =>
        val n = if (t eq t10) Base * Factor else Base
        graft.ops.Geo.pairsWithin(geoPoints(n), 5000000L, 5000000L).count()
      })

    family.foreach { case (_, f) => f(t1) } // warm-up
    // PQ codebook / IVF quantizer training is sample-bounded
    // (≤ TrainSample vectors — CONSTANT in corpus size) and memoized;
    // build the 10× ones outside the timed region so the rehearsal
    // measures QUERY growth, the thing that scales, not the fixed
    // one-time build.
    graft.ops.Pq.codebook(t10)
    graft.ops.Ivf.centroids(t10)
    graft.ops.Bpe.rules(t10)
    graft.ops.Unigram.train(t10)

    val report = family.map { case (name, f) =>
      val (r1, s1) = timed(f(t1))
      val (r10, s10) = timed(f(t10))
      // Additive-allowance bound: s10 ≤ 15·s1 + 2 s. The old divisor floor
      // (s10 / max(s1, 1.5) ≤ 15) let any op faster than ~150 ms at 1× go
      // fully quadratic unnoticed (0.15 s → 15 s passed); the additive
      // form keeps a fixed 2 s absorber for per-query overhead
      // (scheduling, CC round actions, GC under full-suite load) while the
      // multiplicative term stays far below the ~100× a quadratic operator
      // would show at ANY 1× speed.
      info(f"$name%-32s 1×: $s1%6.2fs ($r1 rows)   10×: $s10%6.2fs ($r10 rows)   growth ${s10 / math.max(s1, 0.001)}%5.1f×")
      assert(s10 <= 15.0 * s1 + 2.0,
        f"$name: 1× $s1%.2fs → 10× $s10%.2fs exceeds 15×·s1 + 2s — quadratic creep")
      (name, s1, s10)
    }
    assert(report.nonEmpty)
  }

  test("candidate volume grows sub-quadratically (the mechanism behind the time bound)") {
    // MinHash bands: random trigram collisions are hash-coincidence rare,
    // so candidates ≈ planted twins — linear by construction.
    val mh1 = Dedup.minhashCandidates(t1.documents).count()
    val mh10 = Dedup.minhashCandidates(t10.documents).count()
    info(s"minhash candidates: 1× = $mh1, 10× = $mh10")
    assert(mh1 >= Base / 50 && mh10 >= Base * Factor / 50, "planted twins must collide")
    assert(mh10 <= mh1 * 30, s"minhash candidate growth $mh1 → $mh10 is super-linear")

    // Hyperplane bands at the documented bits ∝ log₂ n sizing.
    val hp1 = Ann.hyperplaneCandidates(
      Ann.vectorsWithNorm(t1).select(col("vec_id"), col("e")), 8).count()
    val hp10 = Ann.hyperplaneCandidates(
      Ann.vectorsWithNorm(t10).select(col("vec_id"), col("e")), 12).count()
    info(s"hyperplane candidates: 1× (8 bits) = $hp1, 10× (12 bits) = $hp10")
    assert(hp10 <= hp1 * 30,
      s"hyperplane candidate growth $hp1 → $hp10 exceeds the sized-bits bound")

    // and recall survives the bits raise: every planted twin pair is a
    // candidate at BOTH operating points
    def twinMisses(t: Tables, bits: Int, n: Int): Long = {
      val twins = t.embeddings.filter(col("vec_id") >= n)
        .select((col("vec_id") - n).as("a_id"), col("vec_id").as("b_id"))
      twins.join(
        Ann.hyperplaneCandidates(Ann.vectorsWithNorm(t).select(col("vec_id"), col("e")), bits),
        Seq("a_id", "b_id"), "left_anti").count()
    }
    assert(twinMisses(t1, 8, Base) == 0, "1×: planted twin missed at 8 bits")
    assert(twinMisses(t10, 12, Base * Factor) == 0, "10×: planted twin missed at 12 bits")

    // IVF-ADC scan volume: scored pairs stay ~nprobe/K of the probe×N
    // pair space at BOTH scales — the pruning fraction is scale-free, so
    // the scan grows linearly with a constant ~4× discount vs exhaustive
    // ADC (broken pruning shows frac = 1.0; quadratic creep is impossible
    // by plan but the linear growth is pinned here anyway).
    def adcFrac(t: Tables): Double = {
      val n = t.embeddings.count()
      graft.ops.IvfPq.adcScoredPairs(t, probeLimit = 50, nprobe = 4).count().toDouble /
        (math.min(50L, n) * n)
    }
    val (f1, f10) = (adcFrac(t1), adcFrac(t10))
    info(f"IVF-ADC scored-pair fraction of probe×N: 1× = $f1%.3f, 10× = $f10%.3f (nprobe/K = ${4.0 / graft.ops.Ivf.NumCells}%.3f)")
    assert(f1 <= 0.6 && f10 <= 0.6, f"IVF-ADC pruning ineffective: $f1%.3f / $f10%.3f")
  }
}
