package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text / LLM-pipeline operators (SURVEY.md §2.2 north star): tokenize,
  * corpus stats, TF-IDF, exact dedup, token-set Jaccard near-dup, bigram
  * generation. All are shuffle-parallel relational plans — token explosion
  * is map-side, every aggregate does partial+final.
  */
object Text {

  /** Whitespace tokenization, map-side explode. */
  def tokens(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")

  def textTokenize(t: Tables): DataFrame =
    tokens(t.documents.filter(col("lang") === "en"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token"))
      .limit(50)

  def textStats(t: Tables): DataFrame =
    t.documents
      .groupBy("lang")
      .agg(
        count(lit(1)).as("docs"),
        sum(col("n_chars")).cast(LongType).as("chars"),
        min(col("n_chars")).as("mn"),
        max(col("n_chars")).as("mx"))
      .orderBy("lang")

  /** Full TF-IDF in relational algebra: tf ⋈ df ⨯ N. The probe filter
    * (doc_id < 20) is applied to the tf side before the join — df and N
    * must still see the whole corpus. df is tiny (one row per distinct
    * token) → broadcast; N is one row → broadcast.
    */
  def textTfidf(t: Tables): DataFrame = {
    // tf is only needed for the probe docs (doc_id < 20): push the filter
    // BELOW the explode so that branch tokenizes 20 documents, not the
    // corpus. df/N stay corpus-wide by definition (IDF is a corpus
    // statistic) — that branch is the irreducible full scan.
    val tf = tokens(t.documents.filter(col("doc_id") < 20))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tokens(t.documents)
      .groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
      .withColumnRenamed("token", "df_token")
    val n = t.documents.agg(count(lit(1)).as("n"))
    tf.join(broadcast(df), col("token") === col("df_token"))
      .crossJoin(broadcast(n))
      .select(
        col("doc_id"), col("token"),
        round(col("tf") * log(col("n").cast(DoubleType) / col("df")), 6).as("tfidf"))
      .orderBy(asc("doc_id"), desc("tfidf"), asc("token"))
  }

  /** Per-document keyword extraction: each document's top-3 tokens by
    * TF-IDF (ties by token order) — the classic cheap summarizer /
    * index-term generator, and the per-doc counterpart of
    * [[textTfidf]]'s probe-doc scoring. Corpus-wide DF broadcasts onto
    * the per-doc TF table; the ranking window is bounded by one
    * document's vocabulary, so the plan is two token-keyed aggregates +
    * one doc-partitioned window — nothing global. The raw IEEE tfidf
    * ranks identically on both engines (tf · ln(N/df) over identical
    * exact integers); the emitted score is rounded once.
    */
  def textKeywords(t: Tables, k: Int = 3): DataFrame = {
    // ONE tokenize pass: DF comes from the TF table itself — tf rows are
    // unique per (doc, token), so count-over-token-partition IS the
    // document frequency (an unordered window aggregate bounded per
    // token by the docs containing it), instead of a second corpus
    // explode (measured 1.35 → 1.17 s at sf0.1)
    val tf = tokens(t.documents)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("token")))
    val n = t.documents.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(desc("tfidf_raw"), asc("token"))
    tf.crossJoin(broadcast(n))
      .select(
        col("doc_id"), col("token"),
        (col("tf") * log(col("n").cast(DoubleType) / col("df"))).as("tfidf_raw"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"),
        round(col("tfidf_raw"), 6).as("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009): each
    * token maps to one of 64 buckets by a STATED hash — the first 8 hex
    * chars of md5(token) folded to a 32-bit integer (the shared
    * [[graft.util.HexFold]] definition) mod 64 — so the featurizer needs
    * NO vocabulary pass, no broadcast dictionary, and a fixed-width
    * output regardless of corpus size: the property that makes it the
    * default text featurizer at 100 TB (vocab_build/tokenize_ids is the
    * exact-vocabulary alternative). Because the hash is stated, DuckDB
    * reproduces every bucket assignment bit-for-bit. Output is the
    * per-(doc, bucket) count table (the sparse feature matrix in COO
    * form); one tokens shuffle keyed (doc, bucket).
    */
  def textHashingVectorizer(t: Tables, buckets: Int = 64): DataFrame = {
    val u32 = graft.util.HexFold.u32(md5(col("token").cast("binary")))
    tokens(t.documents)
      .select(col("doc_id"), pmod(u32, lit(buckets.toLong)).cast("int").as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).cast(org.apache.spark.sql.types.LongType).as("n"))
      .orderBy("doc_id", "bucket")
  }

  /** Exact content-hash dedup: group on md5(text), keep min doc_id. The
    * hash is the shuffle key — at 100 TB this is one shuffle of (hash,
    * doc_id) pairs, never of the document bodies.
    */
  def dedupExact(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
      .groupBy("text_hash")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dupes"))
      .filter(col("dupes") >= 1)
      .orderBy("keep_id")

  /** Token-set Jaccard over doc pairs (bounded probe set doc_id < 30; the
    * unbounded 100 TB path is MinHash/LSH — graft.ops.Dedup — which feeds
    * candidate pairs into this same exact re-rank).
    */
  def simJaccard(t: Tables): DataFrame = {
    val toks = tokens(t.documents.filter(col("doc_id") < 30))
      .groupBy("doc_id")
      .agg(collect_set(col("token")).as("s"))
    val a = toks.select(col("doc_id").as("a_id"), col("s").as("a_s"))
    val b = toks.select(col("doc_id").as("b_id"), col("s").as("b_s"))
    a.join(b, col("a_id") < col("b_id"))
      .select(
        col("a_id"), col("b_id"),
        // native set kernel ≡ size(array_intersect)/size(array_union) on
        // distinct-element inputs (JaccardSimilarity scaladoc)
        round(call_function("graft_jaccard", col("a_s"), col("b_s")), 6).as("jac"))
      .orderBy("a_id", "b_id")
  }

  /** Bigram generation (UDTF shape): one doc row → N bigram rows, via
    * posexplode + lead. v2 swaps in a typed flatMap generator
    * (graft.ops.Udx) and must hash-match this plan.
    */
  def udtfBigrams(t: Tables): DataFrame = {
    val toks = t.documents
      .filter(col("doc_id") < 10)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .filter(col("token") =!= "")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    toks
      .select(
        col("doc_id"),
        concat(col("token"), lit(" "), lead(col("token"), 1).over(w)).as("bigram"))
      .filter(col("bigram").isNotNull)
      .groupBy("doc_id", "bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(asc("doc_id"), desc("cnt"), asc("bigram"))
  }

  /** Unicode-NFC text normalization + whitespace discipline — the step a
    * web-scale pipeline runs before ANYTHING hashes or tokenizes: the
    * same visible string arrives composed (é = U+00E9) and decomposed
    * (e + U+0301), and every downstream equality (dedup hashes, MinHash
    * shingles, BPE merges) silently treats them as different documents
    * until the codepoints are canonicalized. The `graft_nfc` codegen
    * expression does the composition (Spark has no built-in; the oracle
    * states DuckDB's `nfc_normalize` — both are Unicode NFC, so outputs
    * agree codepoint for codepoint); tabs/CR/LF collapse to single
    * spaces and runs of spaces to one, then trim.
    *
    * Non-vacuity (the textPiiScrub pattern): the driver corpus is ASCII
    * (NFC-vacuous), so decomposed sequences — e+COMBINING ACUTE,
    * i+COMBINING DIAERESIS — plus a tab and a double space are INJECTED
    * deterministically into every row; composition shortens each text by
    * exactly the combining-mark count and the collapse by the extra
    * whitespace, so any divergence in normalization form, regex
    * semantics, or character counting hash-fails. 100 TB shape: pure
    * map-side, one expression pass per row, stays in whole-stage codegen.
    */
  def textNormalize(t: Tables): DataFrame = {
    // DECOMPOSED on purpose: e+U+0301, i+U+0308 — NFC composes both
    val raw = concat(col("text"), lit(" cafe\u0301 nai\u0308ve\tx  y"))
    val norm = trim(regexp_replace(regexp_replace(
      call_function("graft_nfc", raw), "[\\t\\r\\n]", " "), " +", " "))
    t.documents
      .filter(col("doc_id") < 2000 && col("text").isNotNull)
      .select(col("doc_id"), raw.as("raw"), norm.as("norm"))
      .select(col("doc_id"),
        expr("right(norm, 24)").as("tail"),
        length(col("raw")).cast(LongType).as("len_before"),
        length(col("norm")).cast(LongType).as("len_after"))
      .orderBy("doc_id")
  }

  /** NFKC + case-fold normalization AS A DEDUP KEY — the composition a
    * web-scale pipeline actually runs: the same document arrives once
    * with compatibility forms (the ﬁ ligature, full-width ＳＰＡＲＫ, the
    * squared unit ㎅) and once in plain ASCII, and exact dedup must
    * collapse the pair. Each base doc is planted as exactly that variant
    * pair; hashing `graft_nfkc_cf(text)` collapses them to ONE group
    * while hashing `graft_nfc(text)` (canonical-only) still sees TWO —
    * demonstrating in one query both the fold and why NFC alone is not
    * enough. Rows-only by design (DuckDB has no NFKC oracle — the
    * unigram-tokenizer pattern); NfcSpec pins the per-row expectation
    * (n_variants=2, n_nfc=2, n_folded=1) plus the expression's property
    * laws. 100 TB shape: pure map-side expression + one hash-grain
    * aggregation, identical to `dedup_exact`'s.
    */
  def textNormalizeNfkc(t: Tables): DataFrame = {
    val base = t.documents.filter(col("doc_id") < 2000 && col("text").isNotNull)
    val va = base.select(col("doc_id"),
      concat(col("text"), lit(" ﬁle ＳＰＡＲＫ ㎅")).as("text"))
    val vb = base.select(col("doc_id"),
      concat(col("text"), lit(" file spark kb")).as("text"))
    va.unionByName(vb)
      .select(col("doc_id"),
        sha2(call_function("graft_nfkc_cf", col("text")), 256).as("fh"),
        sha2(call_function("graft_nfc", col("text")), 256).as("nh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_variants"),
        countDistinct(col("nh")).as("n_nfc"),
        countDistinct(col("fh")).as("n_folded"))
      .orderBy("doc_id")
  }

  /** Cross-corpus LINE-GRAIN dedup (the CCNet / web-pipeline boilerplate
    * pass): documents are split into fixed 10-token "lines" (the corpus
    * is single-line word soup, so a deterministic window stands in for
    * the newline grain real web text has), every line occurrence is
    * keyed by content hash, and exactly ONE canonical occurrence of each
    * distinct line survives — the lexicographically smallest
    * (doc_id, line_no), the deterministic form of "first seen wins".
    * Exact-duplicate documents therefore keep their lines in one copy
    * and lose them in the other, and shared boilerplate (nav chrome,
    * license footers) survives only in its first host — the grain
    * `dedup_exact` (whole doc) and `text_dup_spans` (within doc) both
    * miss. Emitted per doc: line counts kept/removed plus the md5 of the
    * space-rejoined kept text, so the oracle pins the reassembled
    * SURVIVOR TEXT, not just counts.
    *
    * 100 TB shape: line splitting is one map-side expression pass
    * (array slice arithmetic, no window); the canonical-owner arg-min is
    * one hash-keyed partial+final aggregate; the verdict join is
    * hash-keyed (the line table is corpus-sized — never broadcast); the
    * reassembly is one doc-keyed aggregate whose collect_list is bounded
    * by a single document's line count. Three shuffles, all on keys with
    * corpus-wide cardinality — no skew pole, no driver state.
    */
  def dedupLines(t: Tables, lineTokens: Int = 10): DataFrame = {
    val arr = filter(split(col("text"), " "), x => x =!= lit(""))
    val docs = t.documents.select(col("doc_id"), arr.as("a"))
      .filter(size(col("a")) > 0)
    val lines = docs.select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), floor((size(col("a")) - 1) / lit(lineTokens)).cast("int")),
        i => concat_ws(" ", slice(col("a"), i * lineTokens + 1, lit(lineTokens)))))
        .as(Seq("line_no", "line")))
    // Per-doc line count is pure slice arithmetic over the token array —
    // no need to re-execute the line explode to count its output (the
    // r16 plan audit caught the join-back formulation running the whole
    // Generate subtree twice: once under the canon aggregate, once as
    // the probe side).
    val docsN = docs.select(
      col("doc_id"),
      (floor((size(col("a")) - 1) / lit(lineTokens)) + 1)
        .cast(LongType).as("n_lines"))
    // Canonical occurrence per distinct line: lexicographic min of
    // (doc_id, line_no) — one partial+final aggregate keyed by the line
    // CONTENT itself (grouping by md5(line) bought nothing: the hash had
    // to be computed per occurrence and shuffled alongside the row).
    // Every kept line IS a canon row, so the per-doc survivor text
    // reassembles from canon alone — the occurrence table never joins.
    val canon = lines
      .groupBy(col("line"))
      .agg(min(struct(col("doc_id"), col("line_no"))).as("own"))
    val kept = canon
      .select(col("own.doc_id").as("doc_id"),
        col("own.line_no").as("line_no"), col("line"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("line_no"), col("line")))),
            s => s.getField("line")),
          " ")).as("kept_md5"))
    // left join: a doc whose every line is owned elsewhere keeps zero
    // lines — the old formulation emitted it with an empty kept list
    // (md5 of the empty string), preserved here via the coalesces
    docsN.join(kept, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
      .orderBy("doc_id")
  }

  /** EXACT repeated-substring detection at the suffix grain — the
    * strongest public-literature text-dedup granularity (Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better":
    * remove every span of ≥ N tokens that appears more than once in the
    * corpus). The classical statement builds a suffix array over the
    * concatenated corpus; this is the DISTRIBUTED restatement, and it
    * is EXACT, not approximate, by a covering argument:
    *
    *   a token position lies inside some duplicated substring of length
    *   ≥ N  ⟺  it lies inside some duplicated N-gram
    *
    *   (⇒ any position of a duplicated substring `s`, |s| ≥ N, sits in
    *   an N-window contained in `s`, and every substring of a
    *   duplicated string is duplicated; ⇐ a duplicated N-gram IS a
    *   duplicated substring of length N.)
    *
    * So: slide an exact N-token window over every document (grams are
    * the JOINED TOKENS, not hashes — zero collision risk), count each
    * gram's occurrences corpus-wide (within-doc repeats included,
    * matching the suffix-array semantics), keep positions covered by a
    * gram seen ≥ 2×, and merge covered positions into MAXIMAL spans
    * per document (interval union via one running-max window). The
    * output per affected doc — span count + covered token count — is
    * exactly what the suffix-array construction would report at
    * contract length N.
    *
    * 100 TB shape: gram generation is map-side array arithmetic (no
    * per-window explode of tokens); the count and the membership probe
    * are ONE gram-keyed shuffle each (corpus-wide key cardinality, no
    * skew pole — natural text has no mega-hot 8-gram at count ≥ 2
    * scale); the span merge is one doc-keyed window. Nothing driver-
    * side, nothing quadratic — the suffix array's O(corpus log corpus)
    * sort becomes Spark's gram-keyed exchange.
    */
  def dedupSubstrings(t: Tables, n: Int = 8): DataFrame =
    dedupSubstringsOver(t.documents, n)

  /** [[dedupSubstrings]] over any (doc_id, text) frame — the seam the
    * planted-duplication spec drives with engineered corpora.
    */
  def dedupSubstringsOver(documents: DataFrame, n: Int): DataFrame = {
    val arr = filter(split(col("text"), " "), x => x =!= lit(""))
    val docs = documents.select(col("doc_id"), arr.as("a"))
      .filter(size(col("a")) >= n)
    // gram starts: 0-based i covers token positions [i, i+n-1]
    val grams = docs.select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), size(col("a")) - n),
        // \u0001-joined tokens: tokens cannot contain the separator
        // (split on space) NOR \u0001 in this corpus, so gram equality
        // IS token-sequence equality — no hash-collision risk
        i => concat_ws("\u0001", slice(col("a"), i + 1, lit(n)))))
        .as(Seq("i", "gram")))
    // duplicated-gram membership as ONE windowed count over the single
    // gram stream — the join-back formulation re-executed the whole gram
    // Generate subtree as the probe side (r16 plan audit: two Generates),
    // and its count aggregate only fed a boolean ≥2 test anyway
    val starts = grams
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("gram")))
      .filter(col("cnt") >= 2).select("doc_id", "i")
    // interval union: same span while i <= (running max end) + 1
    val w = Window.partitionBy("doc_id").orderBy("i")
    val prevEnd = max(col("i") + (n - 1))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val spans = starts
      .withColumn("brk",
        when(prevEnd.isNull || prevEnd < col("i") - 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("i")).as("s"), (max(col("i")) + (n - 1)).as("e"))
    spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("covered_tokens"),
        min(col("s")).as("first_span_start"),
        max(col("e")).as("last_span_end"))
      .orderBy("doc_id")
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "[+(]?[0-9][0-9()\\- ]{6,}[0-9]"

  /** [[scrubPii]] driver-visible: the synthetic corpus contains no
    * PII-shaped strings, so scrubbing it directly would be a vacuously
    * green check. Instead BOTH engines construct the same derived text —
    * a prefix of the document plus a planted per-doc email and phone —
    * and the oracle re-states the scrub with its own regex engine
    * (DuckDB/RE2 vs the JVM's; both are leftmost-first with non-greedy
    * semantics irrelevant to these patterns, so match sets agree). The
    * check is therefore non-vacuous by construction: every row has ≥1
    * email and ≥1 phone hit, and any divergence in pattern semantics,
    * replacement, or counting surfaces as a hash mismatch.
    */
  def textPiiScrub(t: Tables): DataFrame = {
    val planted = t.documents.select(
      col("doc_id"),
      concat(
        substring(col("text"), 1, 40),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@example.com call 555 0100 "), col("doc_id").cast("string"),
        lit(" now")).as("text"))
    scrubPii(planted, "text")
      .select(col("doc_id"), col("text"),
        col("n_email").cast("long").as("n_email"),
        col("n_phone").cast("long").as("n_phone"))
      .orderBy("doc_id")
  }

  /** HTML boilerplate extraction — the FIRST transform of any web-crawl
    * pipeline (WARC → text): strip markup, pull the title, count links.
    * The corpus is plain text, so each doc is deterministically wrapped
    * in the same HTML scaffold on BOTH engines (the textPiiScrub
    * non-vacuity pattern — every row has a title, ≥2 tags/side and one
    * anchor, so a divergence in tag stripping, title capture, link
    * counting, or whitespace collapse hash-fails on every row). Pure
    * map-side regexp stage (codegen'd), zero shuffle — the 100 TB shape
    * of markup removal; extend by adding patterns, not stages.
    */
  def textHtmlExtract(t: Tables): DataFrame = {
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title></head><body><p>"), substring(col("text"), 1, 80),
      lit("</p><a href=\"http://example.com/"), col("doc_id").cast("string"),
      lit("\">link</a> <br/></body></html>"))
    t.documents
      .filter(col("text").isNotNull)
      .select(col("doc_id"), html.as("html"))
      .select(
        col("doc_id"),
        regexp_extract(col("html"), "<title>([^<]*)</title>", 1).as("title"),
        regexp_count(col("html"), lit("<a[ >]")).cast(LongType).as("n_links"),
        trim(regexp_replace(regexp_replace(col("html"), "<[^>]+>", " "), " +", " ")).as("body"))
      .select(col("doc_id"), col("title"), col("n_links"),
        length(col("body")).cast(LongType).as("body_len"),
        md5(col("body")).as("body_md5"))
      .orderBy("doc_id")
  }

  /** Unicode SCRIPT histogram — the gate before language-ID in a
    * multilingual crawl (script is cheap and decisive: Cyrillic text is
    * never English, CJK needs its own tokenizer): per-char counts for
    * five script BLOCKS stated as explicit codepoint ranges (`\x{…}`
    * escapes — identical range semantics in Java regex and RE2, unlike
    * named script classes whose Unicode tables drift between engines).
    * The ASCII corpus gets a deterministic mixed-script suffix injected
    * per row (the textNormalize pattern) so every class is non-vacuous;
    * Latin counts vary with each doc's own text. Pure map-side
    * regexp_count stage, no shuffle.
    */
  def textScript(t: Tables): DataFrame = {
    val injected = concat(col("text"),
      lit(" Привет мир γειά σου مرحبا بالعالم 你好世界 안녕하세요"))
    def n(c: Column, range: String): Column =
      regexp_count(c, lit(range)).cast(LongType)
    t.documents
      .filter(col("text").isNotNull)
      .select(col("doc_id"), injected.as("s"))
      .select(
        col("doc_id"),
        n(col("s"), "[A-Za-z]").as("n_latin"),
        n(col("s"), "[\\x{0370}-\\x{03FF}]").as("n_greek"),
        n(col("s"), "[\\x{0400}-\\x{04FF}]").as("n_cyrillic"),
        n(col("s"), "[\\x{0600}-\\x{06FF}]").as("n_arabic"),
        n(col("s"), "[\\x{4E00}-\\x{9FFF}]").as("n_cjk"),
        n(col("s"), "[\\x{AC00}-\\x{D7AF}]").as("n_hangul"))
      .withColumn("main_script",
        when(col("n_latin") >= greatest(col("n_greek"), col("n_cyrillic"),
          col("n_arabic"), col("n_cjk"), col("n_hangul")), "latin")
          .when(col("n_cjk") >= greatest(col("n_greek"), col("n_cyrillic"),
            col("n_arabic"), col("n_hangul")), "cjk")
          .otherwise("other"))
      .orderBy("doc_id")
  }

  /** PII scrubbing — the decontamination pass a corpus runs before
    * training: replaces email/phone patterns in `textCol` with typed
    * placeholders and counts the hits. Pure map stage (codegen'd regexps,
    * no shuffle) → holds at any corpus size; extend by adding patterns,
    * not stages. IncrementalSpec proves redaction and count behavior.
    *
    * The email rewrite is evaluated ONCE behind an explode(array(…))
    * barrier (same trick as the sketch-signature path: a collapsed
    * Project would inline the regexp into both downstream consumers) and
    * the phone count and final text derive from it — each body is
    * scanned per pattern exactly once, the dominant cost of the pass.
    */
  def scrubPii(df: DataFrame, textCol: String): DataFrame = {
    require(!df.columns.contains("__scrub"), "column name __scrub is reserved")
    df
      .withColumn("n_email", regexp_count(col(textCol), lit(EmailRe)))
      .select(col("*"),
        explode(array(regexp_replace(col(textCol), EmailRe, "<EMAIL>"))).as("__scrub"))
      .withColumn("n_phone", regexp_count(col("__scrub"), lit(PhoneRe)))
      .withColumn(textCol, regexp_replace(col("__scrub"), PhoneRe, "<PHONE>"))
      .drop("__scrub")
  }
}
