package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Behavior, TextAnalysis}

/** Behavioral analytics + n-gram corpus ops: sessionization partitions the
  * event stream correctly, cohort week 0 equals cohort size, z-score flags
  * agree with a reference computation, and the decontamination join is
  * consistent with its own totals.
  */
class BehaviorSpec extends AnyFunSuite with SparkSessionFixture {

  private lazy val t = Tables(spark, "/root/testdata/sf0.001")

  test("sessionize_gap partitions every event into exactly one session") {
    val sessions = Behavior.sessionizeGap(t).cache()
    val nEvents = t.events.count()
    assert(sessions.agg(sum("n_ev")).head().getLong(0) === nEvents)
    // sessions of one user are disjoint and separated by > 6h
    val bad = sessions
      .withColumn("prev_end", lag(col("se"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("session_id")))
      .filter(col("prev_end").isNotNull &&
        unix_micros(col("ss")) - unix_micros(col("prev_end")) <= 360L * 60 * 1000000)
      .count()
    assert(bad === 0, "consecutive sessions must be > 6h apart")
    sessions.unpersist()
  }

  test("sessionize_gap has no within-session gap exceeding the threshold") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val maxGapBySession = t.events
      .withColumn("gap", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .filter(col("gap") > 360L * 60 * 1000000)
      .count()
    // every >6h gap in the raw stream must open a new session: #sessions =
    // #users + #oversized-gaps
    val nUsers = t.events.select("user_id").distinct().count()
    assert(Behavior.sessionizeGap(t).count() === nUsers + maxGapBySession)
  }

  test("activity_islands tile each user's active days exactly") {
    val islands = Behavior.activityIslands(t).cache()
    // n_days must equal the calendar span (islands are gap-free runs)...
    assert(islands.filter(
      datediff(col("island_end"), col("island_start")) + 1 =!= col("n_days")).count() === 0)
    // ...islands cover every distinct active day exactly once...
    val nDays = t.events.select(col("user_id"), col("ts").cast("date")).distinct().count()
    assert(islands.agg(sum("n_days")).head().getLong(0) === nDays)
    // ...and consecutive islands of a user are separated by a real gap.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("island_start")
    assert(islands
      .withColumn("prev_end", lag(col("island_end"), 1).over(w))
      .filter(col("prev_end").isNotNull &&
        datediff(col("island_start"), col("prev_end")) <= 1).count() === 0)
    islands.unpersist()
  }

  test("markov_transitions rows sum to 1 and count every adjacent pair") {
    val m = Behavior.markovTransitions(t).cache()
    // row-conditional probabilities sum to ~1 per from_state
    val rowSums = m.groupBy("from_state").agg(sum("p").as("s")).collect()
    rowSums.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-4, r.toString))
    // total transitions = #events − #users (each user's chain has n−1 steps)
    val total = m.agg(sum("n")).head().getLong(0)
    val expected = t.events.count() - t.events.select("user_id").distinct().count()
    assert(total === expected)
    m.unpersist()
  }

  test("interval_overlap max concurrency matches a brute-force check") {
    val ov = Behavior.intervalOverlap(t)
    // brute force on one user: count clicks in [t, t+30m) for each click t
    val u = ov.orderBy(desc("max_conc")).select("user_id", "max_conc").head()
    val ts = t.events.filter(col("event_type") === "click" && col("user_id") === u.getLong(0))
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted
    val w = 30L * 60 * 1000000
    val brute = ts.map(s => ts.count(x => x >= s && x < s + w)).max
    assert(u.getLong(1) === brute)
  }

  test("time_weighted_avg lies within each user's value range") {
    val twap = Behavior.timeWeightedAvg(t)
    val bounds = t.events.filter(col("value").isNotNull)
      .groupBy("user_id").agg(min("value").as("lo"), max("value").as("hi"))
    // dur-0 rows contribute nothing; twap of the rest must stay in range
    assert(twap.join(bounds, "user_id")
      .filter(col("twap") < col("lo") - 1e-6 || col("twap") > col("hi") + 1e-6)
      .count() === 0)
  }

  test("cohort_retention week 0 equals cohort size") {
    val m = Behavior.cohortRetention(t).cache()
    val week0 = m.filter(col("week_n") === 0)
      .select(col("cohort"), col("n_users").as("w0")).as("a")
    val cohortSize = t.events.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(col("ts")).cast("date").as("cohort"))
      .groupBy("cohort").agg(countDistinct("user_id").as("sz"))
    val mismatch = week0.join(cohortSize, "cohort")
      .filter(col("w0") =!= col("sz")).count()
    assert(mismatch === 0)
    // retention never exceeds cohort size in any week
    val over = m.join(cohortSize, "cohort").filter(col("n_users") > col("sz")).count()
    assert(over === 0)
    m.unpersist()
  }

  test("anomaly_zscore returns exactly the |z| > 3 events of the reference") {
    val flagged = Behavior.anomalyZscore(t)
    assert(flagged.filter(abs(col("z")) <= 3.0).count() === 0)
    // reference via Spark's own stddev_samp/avg on a per-type basis
    val ref = t.events.groupBy("event_type")
      .agg(avg("value").as("mu"), stddev_samp("value").as("sigma"))
    val refFlagged = t.events.join(ref, "event_type")
      .filter(abs((col("value") - col("mu")) / col("sigma")) > 3.0)
      .count()
    assert(flagged.count() === refFlagged)
  }

  test("ngram_topk counts match a windowed reference and are descending") {
    val rows = TextAnalysis.ngramTopk(t).collect()
    assert(rows.length === 25)
    val counts = rows.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    // cross-check the top gram's count by brute force
    val top = rows.head.getString(0)
    val brute = t.documents
      .select(explode(expr(
        // the <3-token guard matters: sequence(0, -1) is a DESCENDING
        // range and slice(s, 0, 3) throws on the 0 start index
        """CASE WHEN size(filter(split(text,' '),x->x<>'')) >= 3
          |THEN transform(sequence(0, size(filter(split(text,' '),x->x<>'')) - 3),
          |  i -> concat_ws(' ', slice(filter(split(text,' '),x->x<>''), i+1, 3)))
          |ELSE array() END""".stripMargin)).as("g"))
      .filter(col("g") === top).count()
    assert(rows.head.getLong(1) === brute)
  }

  test("heavy_hitters equals the exact GROUP BY HAVING under forced MG eviction") {
    import spark.implicits._
    // skewed synthetic stream: tokens h0..h4 (1500..1900 copies; with
    // n ≈ 16.5k and denom = 10 only h2..h4 cross the n/10 threshold, so
    // the final HAVING must also REJECT the near-miss h0/h1 candidates)
    // buried in 8000 singleton tokens — k = 4*denom = 40 counters per
    // partition (TextAnalysis.heavyHittersOf) still forces constant MG
    // eviction at 8000+ distinct tokens, so the superset guarantee does
    // the work
    val rnd = new scala.util.Random(3)
    val heavy = (0 until 5).flatMap(i => Seq.fill(1500 + 100 * i)(s"h$i"))
    val noise = (0 until 8000).map(i => s"n$i")
    val toksSeq = rnd.shuffle(heavy ++ noise)
    val toksDf = toksSeq.toDF("tok").repartition(8)
    val denom = 10 // threshold n/10 with n ~ 16.5k ⇒ only h2..h4 qualify
    val got = graft.ops.TextAnalysis.heavyHittersOf(toksDf, denom)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = toksSeq.size
    val want = toksSeq.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 > n.toDouble / denom).toMap
    assert(want.nonEmpty && got === want)
  }

  test("heavy_hitters driver intake is bounded by mergers, not input partitions") {
    import spark.implicits._
    // 64 input partitions but only 4 mergers: the driver-collected summary
    // must be ≤ (k+1)·mergers rows — the two-level merge's whole point —
    // while the sentinel total still equals the corpus token count and the
    // final answer still matches the exact GROUP BY HAVING
    val rnd = new scala.util.Random(7)
    val heavy = (0 until 4).flatMap(i => Seq.fill(2000 + 100 * i)(s"h$i"))
    val noise = (0 until 6000).map(i => s"n$i")
    val toksSeq = rnd.shuffle(heavy ++ noise)
    val toksDf = toksSeq.toDF("tok").repartition(64)
    val denom = 10
    val k = 4 * denom
    val mergers = 4
    val rows = graft.ops.TextAnalysis.mergedSummaries(toksDf, k, mergers).collect()
    assert(rows.length <= (k + 1) * mergers,
      s"driver received ${rows.length} summary rows for $mergers mergers")
    assert(rows.iterator.map(_._3).sum == toksSeq.size.toLong)
    val got = graft.ops.TextAnalysis.heavyHittersOf(toksDf, denom, mergers)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = toksSeq.size
    val want = toksSeq.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 > n.toDouble / denom).toMap
    assert(want.nonEmpty && got === want)
  }

  test("text_dup_spans: cross-doc spans count, intra-doc repetition does not") {
    import spark.implicits._
    def toks(p: String, r: Range) = r.map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      // doc 0 and doc 1 share exactly one 8-gram window (a1..a8)
      (0L, toks("a", 1 to 12)),
      (1L, toks("a", 1 to 8) + " " + toks("b", 1 to 4)),
      (2L, toks("c", 1 to 12)),              // fully unique
      (3L, toks("d", 1 to 5)),               // < 8 tokens ⇒ no row
      (4L, toks("r", 1 to 8) + " " + toks("r", 1 to 8)) // intra-doc repeat only
    ).toDF("doc_id", "text")
    val got = TextAnalysis.textDupSpansOf(docs, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      (0L, 5L, 1L, 0.2),
      (1L, 5L, 1L, 0.2),
      (2L, 5L, 0L, 0.0),
      (4L, 9L, 0L, 0.0))) // "r1..r8" occurs twice in doc 4 but in ONE doc
  }

  test("text_gopher_filter rules fire both ways and keep is their conjunction") {
    val r = ops.TextAnalysis.textGopherFilter(Tables(spark, "/root/testdata/sf0.01"))
      .collect()
    // Each tunable rule must reject SOMETHING and accept SOMETHING on
    // this corpus (thresholds were chosen against its distributions) —
    // a one-sided rule would make the oracle vacuous for that flag.
    for (rule <- Seq("rule_wc", "rule_stop", "rule_uniq")) {
      val vals = r.map(_.getAs[Int](rule)).toSet
      assert(vals == Set(0, 1), s"$rule is one-sided: $vals")
    }
    assert(r.forall { row =>
      row.getAs[Int]("keep") ==
        Seq("rule_wc", "rule_awl", "rule_stop", "rule_uniq")
          .map(row.getAs[Int](_)).min
    }, "keep is not the conjunction of the rule flags")
    val kept = r.count(_.getAs[Int]("keep") == 1)
    assert(kept > 0 && kept < r.length)
  }

  test("decontaminate flags are internally consistent and train-only") {
    val d = TextAnalysis.decontaminate(t).cache()
    assert(d.filter(col("n_hit") > col("n_grams")).count() === 0)
    assert(d.filter(col("hit_frac") <= 0.0 || col("hit_frac") > 1.0).count() === 0)
    // no eval-split doc may appear in the output
    val evalDocs = d.filter(
      substring(md5(col("doc_id").cast("string")), 1, 1).isin("e", "f")).count()
    assert(evalDocs === 0)
    d.unpersist()
  }

  test("text_lm_score: in-distribution text scores below gibberish, OOV accounted") {
    val r = TextAnalysis.textLmScore(t).cache()
    // every block doc scored, all on block side, counts consistent
    val blockDocs = t.documents.filter(col("doc_id") % 3 === 0).count()
    assert(r.count() === blockDocs)
    assert(r.filter(col("n_oov") > col("n_tok")).count() === 0)
    assert(r.filter(col("avg_nll") <= 0.0).count() === 0)
    // The corpus shares one vocabulary, so docs with zero OOV tokens must
    // on average score BELOW (= more likely than) any doc with OOV mass:
    // an OOV term carries the model's maximum surprisal ln(N+V) by
    // construction. Guarded: only asserted when both sides exist.
    val inVocab = r.filter(col("n_oov") === 0)
    val withOov = r.filter(col("n_oov") > col("n_tok") / 2)
    if (inVocab.count() > 0 && withOov.count() > 0) {
      val a = inVocab.agg(avg("avg_nll")).head().getDouble(0)
      val b = withOov.agg(avg("avg_nll")).head().getDouble(0)
      assert(a < b, s"in-vocab docs should be more likely: $a vs $b")
    }
    r.unpersist()
  }

  test("text_lm_bigram: every block doc scored; transition model penalizes unseen order") {
    val r = TextAnalysis.textLmBigram(t).cache()
    val blockDocs = t.documents.filter(col("doc_id") % 3 === 0).count()
    assert(r.count() === blockDocs)
    assert(r.filter(col("n_unseen") > col("n_bigrams")).count() === 0)
    assert(r.filter(col("avg_nll") <= 0.0).count() === 0)
    // the ORDER property unigram scoring cannot see: docs whose
    // transitions are mostly store-attested must score more likely than
    // docs dominated by unseen transitions (each unseen transition is at
    // the model's uniform floor 1/V or worse). Guarded on both sides
    // existing in this corpus.
    val seen = r.filter(col("n_unseen") < col("n_bigrams") / 4)
    val unseen = r.filter(col("n_unseen") > col("n_bigrams") / 2)
    if (seen.count() > 0 && unseen.count() > 0) {
      val a = seen.agg(avg("avg_nll")).head().getDouble(0)
      val b = unseen.agg(avg("avg_nll")).head().getDouble(0)
      assert(a < b, s"attested-transition docs should be more likely: $a vs $b")
    }
    r.unpersist()
  }

  test("interval_union_length: covered time bounded and islands consistent") {
    val iul = Behavior.intervalUnionLength(t).cache()
    val wUs = 30L * 60 * 1000000L
    val perUser = t.events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy("user_id").agg(
        count(lit(1)).as("n_ev"),
        (unix_micros(max("ts")) - unix_micros(min("ts"))).as("span_us"))
    val joined = iul.join(perUser, "user_id").cache()
    // covered ≤ n_events·window (disjoint upper bound) and ≤ span + window
    assert(joined.filter(col("covered_us") > col("n_ev") * wUs).count() === 0)
    assert(joined.filter(col("covered_us") > col("span_us") + wUs).count() === 0)
    // covered ≥ window (any user with ≥1 event covers at least one window)
    assert(joined.filter(col("covered_us") < wUs).count() === 0)
    // islands ≤ events; brute-force one user on the driver
    assert(joined.filter(col("n_islands") > col("n_ev")).count() === 0)
    val u = iul.select("user_id").head().getLong(0)
    val times = t.events.filter(col("user_id") === u)
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted
    var covered = 0L; var curS = times.head; var curE = times.head + wUs
    times.tail.foreach { s =>
      if (s > curE) { covered += curE - curS; curS = s; curE = s + wUs }
      else curE = math.max(curE, s + wUs)
    }
    covered += curE - curS
    val engine = iul.filter(col("user_id") === u).select("covered_us").head().getLong(0)
    assert(engine === covered, s"user $u brute-force $covered vs engine $engine")
    joined.unpersist(); iul.unpersist()
  }

  test("rolling_active_users: dominates daily actives, bounded by cumulative distinct") {
    val roll = Behavior.rollingActiveUsers(t).cache()
    val daily = t.events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts").cast(org.apache.spark.sql.types.DateType).as("day"))
      .distinct().groupBy("day").agg(countDistinct("user_id").as("n_daily"))
    val j = roll.join(daily, "day").cache()
    assert(j.count() === roll.count(), "every present day reported exactly once")
    assert(j.filter(col("n_active_7d") < col("n_daily")).count() === 0,
      "7-day actives can never undercut that day's actives")
    val totalUsers = t.events.filter(col("user_id").isNotNull)
      .select("user_id").distinct().count()
    assert(roll.filter(col("n_active_7d") > totalUsers).count() === 0)
    j.unpersist(); roll.unpersist()
  }
}
