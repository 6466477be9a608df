package graft

import org.apache.spark.sql.functions._

/** Empirical scale confirmation for the shingle/LSH dedup machinery
  * (r11 VERDICT item 4 — the GraphScaleSpec pattern applied to text).
  * The df-cap boundedness of `shinglePairStats` was argued from plan
  * shape and covered by a non-binding cap-invariance test; this spec
  * MEASURES it on a synthetic corpus built to break a capless plan:
  *
  *  - every document opens with the same 3-word stop phrase, so ONE
  *    shingle's document frequency equals the whole corpus (df = N ≫
  *    the 128 cap at both scales — the cap BINDS here, unlike the
  *    shipped corpora where max df is ~14);
  *  - every 10th document pair shares its full 8-word tail → planted
  *    near-dups discoverable through rare shingles, with the hot
  *    shingle contributing to their exact intersection counts.
  *
  * Assertions: (a) capped candidate discovery grows linearly in docs
  * while the uncapped self-join demonstrably explodes quadratically
  * (the hazard is real, not hypothetical); (b) the hot-shingle
  * correction keeps discovered pairs' (inter, n1, n2) EXACT — equal to
  * the uncapped ground truth, hot contribution included — so the
  * Jaccard scores a binding cap reports are identical to capless
  * scores; (c) MinHash-LSH banded candidates grow ~linearly on a
  * dissimilar-tail corpus; and (d) wall-clock for the capped pass
  * stays near-linear at 10×.
  */
class CorpusScaleSpec extends SparkSpec {

  private val Cap = 128L

  /** Synthetic documents dir at `n` docs: "h0 h1 h2" hot prefix + an
    * 8-word tail, unique per doc except docs (10k, 10k+1) share one.
    * `wideSource` pads the source labels to ~300 bytes each, making the
    * (doc_id, source) catalog the HEAVY side relative to the near-dup
    * pair set — the 100 TB size asymmetry, reproduced at test scale so
    * AQE's build-side choice is the one that matters there. */
  private def synthDir(n: Int, hotPrefix: Boolean, wideSource: Boolean = false): String = {
    val dir = tempDir(s"corpus_scale_${n}_${hotPrefix}_$wideSource")
    val pre = if (hotPrefix) "concat('h0 h1 h2 ', tail)" else "tail"
    val src = if (wideSource) "concat('src_', doc_id % 7, '_', repeat('x', 300))"
      else "'synth'"
    spark.range(n)
      .selectExpr(
        "id AS doc_id",
        // the shared tail id: partner docs (10k, 10k+1) collapse to 10k
        "CASE WHEN id % 10 = 1 THEN id - 1 ELSE id END AS tid")
      .selectExpr(
        "doc_id",
        s"""concat_ws(' ', transform(sequence(0, 7), j -> concat('u', tid, 'x', j))) AS tail""")
      .selectExpr("doc_id", s"$pre AS text", "'en' AS lang",
        s"$src AS source", s"CAST(length($pre) AS LONG) AS n_chars")
      .coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def minTime(f: () => Long): (Double, Long) = {
    var rows = 0L
    val times = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      rows = f()
      (System.nanoTime() - t0) / 1e9
    }
    (times.min, rows)
  }

  test("the synthetic hot shingle actually binds the df cap at both scales") {
    val d = synthDir(300, hotPrefix = true)
    val df = ops.TextPipeline.shingles(spark, d)
      .groupBy("lang", "shingle").agg(count(lit(1)).as("df"))
      .agg(max("df")).head().getLong(0)
    assert(df === 300L, s"hot shingle df $df — the adversarial corpus lost its teeth")
    assert(df > Cap)
  }

  test("capped candidate discovery is linear in docs while the uncapped join is quadratic") {
    val d1 = synthDir(300, hotPrefix = true)
    val d10 = synthDir(3000, hotPrefix = true)
    def capped(d: String): Long = ops.TextPipeline.shinglePairStats(spark, d, Some(Cap)).count()
    def uncapped(d: String): Long = ops.TextPipeline.shinglePairStats(spark, d, None).count()
    // capped discovery sees only rare-shingle pairs: exactly the 30/300
    // planted dups — pure linear growth under a binding cap
    assert(capped(d1) === 30L)
    assert(capped(d10) === 300L)
    // the uncapped self-join is the hazard: every doc pair shares the
    // hot shingle, C(N,2) candidates — 100x growth for 10x docs
    val u1 = uncapped(d1); val u10 = uncapped(d10)
    assert(u1 === 300L * 299 / 2 && u10 === 3000L * 2999 / 2,
      s"uncapped candidates $u1/$u10 — expected the full quadratic pair set")
    assert(u10 > 90L * u1, "the adversarial structure no longer explodes capless plans")
  }

  test("the hot-shingle correction keeps discovered pairs' counts exact under a binding cap") {
    val d = synthDir(300, hotPrefix = true)
    val capped = ops.TextPipeline.shinglePairStats(spark, d, Some(Cap))
      .withColumnRenamed("inter", "inter_c")
      .withColumnRenamed("n1", "n1_c").withColumnRenamed("n2", "n2_c")
    val truth = ops.TextPipeline.shinglePairStats(spark, d, None)
    val joined = capped.join(truth, Seq("d1", "d2"), "inner")
    // every capped-discovered pair exists in the truth set with the
    // SAME sufficient statistics — the df>cap shingle was excluded from
    // discovery but restored into the exact intersection
    assert(joined.count() === 30L)
    assert(joined.filter(col("inter_c") =!= col("inter") ||
      col("n1_c") =!= col("n1") || col("n2_c") =!= col("n2")).isEmpty,
      "capped stats diverged from the uncapped ground truth")
    // 11 words → 9 shingles, all shared between planted partners,
    // INCLUDING the hot one: inter = 9 proves the correction landed
    assert(joined.filter(col("inter") =!= 9L).isEmpty)
    // and the REPORTED near-dups are identical: hot-only pairs cannot
    // reach the 0.8 threshold (1 shared shingle of 9+9), so a binding
    // cap changes discovery work, never results
    val nd1 = ops.TextPipeline.nearDupPairs(spark, d, Some(Cap)).collect().toSeq
    val nd2 = ops.TextPipeline.nearDupPairs(spark, d, None).collect().toSeq
    assert(nd1 === nd2 && nd1.size === 30)
  }

  test("minhash-lsh banded candidates grow linearly on a dissimilar-tail corpus") {
    // without the hot prefix, non-planted pairs share NO shingle —
    // banding discovers the planted dups (identical signatures) and
    // essentially nothing else, so candidates scale with docs
    val d1 = synthDir(300, hotPrefix = false)
    val d10 = synthDir(3000, hotPrefix = false)
    val c1 = ops.TextPipeline.lshCandidatePairs(spark, d1).count()
    val c10 = ops.TextPipeline.lshCandidatePairs(spark, d10).count()
    assert(c1 >= 30L && c1 <= 60L, s"1x lsh candidates $c1 — planted dups missed or noisy")
    assert(c10 >= 300L && c10 <= 600L, s"10x lsh candidates $c10")
    assert(c10 <= 20L * c1, s"lsh candidate growth $c1 -> $c10 is super-linear")
  }

  // ---- r13: slope/plan assertions for the r12 heavy cluster ---------------

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
  import org.apache.spark.sql.catalyst.optimizer.BuildLeft

  /** Every node of the EXECUTED plan, descending through AQE wrappers,
    * materialized query stages and exchange reuse (plain .collect stops
    * at stage boundaries, which is exactly where the interesting joins
    * live). */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: kids.flatMap(flatten)
  }

  private def allNodes(df: DataFrame): Seq[SparkPlan] =
    flatten(df.queryExecution.executedPlan)

  test("q_dup_cluster_sizes: the second CC pass stays round-bounded on LSH-bounded edges at 10x") {
    // the op's scale story is (a) its edge set is the LSH candidate
    // graph (linear per the banding test above, never all-pairs) and
    // (b) the CC round count does NOT grow with corpus size on these
    // components — both measured here on the planted-dup corpus
    // (2-node components: fused seeding reaches fixpoint, one
    // confirming round proves it). Rounds track component diameter,
    // not corpus size: O(log diameter) only where ids grow along a
    // chain, O(diameter) on a path whose ids are shuffled.
    val d1 = synthDir(300, hotPrefix = false)
    val d10 = synthDir(3000, hotPrefix = false)
    def rounds(d: String): Int =
      ops.TextPipeline.connectedComponentsWithRounds(
        ops.TextPipeline.lshCandidatePairs(spark, d))._2
    val (r1, r10) = (rounds(d1), rounds(d10))
    assert(r1 <= 2, s"2-node components should converge in <=2 rounds, took $r1")
    assert(r10 <= r1 + 1, s"CC rounds grew with corpus size: $r1 -> $r10 — " +
      "the log-diameter bound is broken")
    // and the histogram itself: docs conserved, dup clusters linear
    def hist(d: String, n: Long): Unit = {
      val rows = SparkEntry.queries("q_dup_cluster_sizes")(spark, d).collect()
      val docs = rows.map(r => r.getAs[Long]("n_docs")).sum
      assert(docs === n, s"cluster histogram lost docs: $docs != $n")
      val dupClusters = rows.filter(_.getAs[Long]("cluster_size") >= 2L)
        .map(_.getAs[Long]("n_clusters")).sum
      assert(dupClusters >= n / 10 && dupClusters <= n / 5,
        s"planted ${n / 10} dup clusters, histogram says $dupClusters")
    }
    hist(d1, 300L)
    hist(d10, 3000L)
  }

  test("q_minhash_est_err probes candidates only — never the quadratic pair join") {
    // the r12 rewrite's contract, asserted on the ADVERSARIAL corpus
    // where the uncapped form explodes: the truth side reads exactly
    // one cell per LSH candidate (C(300,2) = 44,850 pairs exist; the
    // hot shingle links all of them; only candidates are probed)
    val d = synthDir(300, hotPrefix = true)
    val out = SparkEntry.queries("q_minhash_est_err")(spark, d)
    val rows = out.collect()
    val probed = rows.map(_.getAs[Long]("n_pairs")).sum
    val cands = ops.TextPipeline.lshCandidatePairs(spark, d).count()
    assert(probed === cands,
      s"est-err grid covers $probed pairs but LSH proposed $cands — " +
        "a non-candidate pair leaked into the truth side")
    assert(probed < 5000L,
      s"$probed pairs probed on a 300-doc corpus — quadratic territory (44,850)")
    // structural half: NO join in the executed plan keys on a shingle —
    // the quadratic hazard's signature join (banding joins key on
    // (lang, band, band_key); truth joins key on doc ids)
    val shingleKeyed = allNodes(out).collect {
      case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
      case j: ShuffledHashJoinExec => j.leftKeys ++ j.rightKeys
      case j: BroadcastHashJoinExec => j.leftKeys ++ j.rightKeys
    }.flatten.flatMap(_.references.toSeq).filter(_.name == "shingle")
    assert(shingleKeyed.isEmpty,
      "a join keyed on `shingle` is the uncapped all-pairs hazard — est_err must not have one")
  }

  test("q_source_dup_matrix broadcasts the pair side, never the catalog, under AQE at 10x") {
    // the op's 100 TB argument: the near-dup pair set is tiny, the
    // (doc_id, source) catalog is corpus-sized — AQE must build the
    // broadcast from the PAIRS. The corpus reproduces the scale
    // asymmetry (wide source labels make the catalog ~1 MB vs tens of
    // KB of pairs), static broadcast is disabled so the catalog can't
    // sneak under the planner's threshold, and the adaptive threshold
    // sits BETWEEN the two sides' sizes — the catalog cannot qualify
    // as a build side, exactly its position at scale.
    val d10 = synthDir(3000, hotPrefix = false, wideSource = true)
    val conf = spark.conf
    val prior = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "256KB")
    try {
      val df = SparkEntry.queries("q_source_dup_matrix")(spark, d10)
      df.collect()
      def isCatalogScan(p: SparkPlan): Boolean = p match {
        case leaf if leaf.children.isEmpty && !leaf.isInstanceOf[QueryStageExec] =>
          leaf.output.exists(_.name == "source") && leaf.output.exists(_.name == "doc_id")
        case _ => false
      }
      def isJoin(p: SparkPlan): Boolean = p.isInstanceOf[BroadcastHashJoinExec] ||
        p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]
      // a join's OWN side: descend without crossing another join — a
      // catalog scan beyond a nested join belongs to THAT join's
      // question, not this one's (join 2's build side legitimately
      // contains join 1's already-joined catalog rows)
      def reach(p: SparkPlan): Seq[SparkPlan] = {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
          case other => other.children
        }
        p +: kids.filterNot(isJoin).flatMap(reach)
      }
      val nodes = allNodes(df)
      val unbroadcast = nodes.collect {
        case j: SortMergeJoinExec if reach(j.left).exists(isCatalogScan) ||
          reach(j.right).exists(isCatalogScan) => j
        case j: ShuffledHashJoinExec if reach(j.left).exists(isCatalogScan) ||
          reach(j.right).exists(isCatalogScan) => j
      }
      assert(unbroadcast.isEmpty,
        s"catalog joins must convert to broadcast under AQE, found:\n${unbroadcast.mkString("\n")}")
      val catalogBhjs = nodes.collect {
        case b: BroadcastHashJoinExec if reach(b.left).exists(isCatalogScan) ||
          reach(b.right).exists(isCatalogScan) => b
      }
      assert(catalogBhjs.size >= 2,
        s"expected the two (d1, d2) catalog joins as BHJs, found ${catalogBhjs.size}")
      catalogBhjs.foreach { b =>
        val build = if (b.buildSide == BuildLeft) b.left else b.right
        assert(!reach(build).exists(isCatalogScan),
          "the CATALOG was broadcast — exactly backwards at 100 TB; the pair side must build:\n" + b)
      }
    } finally prior.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q_dedup_keepers broadcasts the CC label frame, never the catalog, under AQE at 10x") {
    // keepers' one catalog contact is comp.join(cat, "doc_id") — the
    // LSH-bounded label frame (docs WITH a near-dup candidate, ~20% of
    // the planted corpus) against the full (doc_id, n_chars) catalog.
    // At 100 TB the catalog is corpus-sized and the label frame is
    // dedup-bounded; AQE must build the broadcast from the LABELS. The
    // adaptive threshold is pinned BETWEEN the two sides' measured
    // sizes so the catalog cannot qualify as a build side — its exact
    // position at scale (the q_source_dup_matrix precedent).
    val d10 = synthDir(3000, hotPrefix = false)
    val conf = spark.conf
    val prior = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "24KB")
    try {
      val df = SparkEntry.queries("q_dedup_keepers")(spark, d10)
      df.collect()
      // the catalog leaf reads (doc_id, n_chars) from parquet; the
      // label side is the checkpointed CC output (a LogicalRDD leaf)
      def isCatalogScan(p: SparkPlan): Boolean = p match {
        case leaf if leaf.children.isEmpty && !leaf.isInstanceOf[QueryStageExec] =>
          leaf.output.exists(_.name == "n_chars")
        case _ => false
      }
      val nodes = allNodes(df)
      val catalogJoins = nodes.collect {
        case j: BroadcastHashJoinExec
          if flatten(j.left).exists(isCatalogScan) || flatten(j.right).exists(isCatalogScan) => j
      }
      assert(catalogJoins.nonEmpty,
        s"catalog join must convert to broadcast under AQE:\n${nodes.mkString("\n")}")
      catalogJoins.foreach { b =>
        val build = if (b.buildSide == BuildLeft) b.left else b.right
        assert(!flatten(build).exists(isCatalogScan),
          "the CATALOG was broadcast — exactly backwards at 100 TB; the label frame must build:\n" + b)
      }
      // no unconverted shuffle join may touch the catalog either
      val unbroadcast = nodes.collect {
        case j: SortMergeJoinExec
          if flatten(j.left).exists(isCatalogScan) || flatten(j.right).exists(isCatalogScan) => j
        case j: ShuffledHashJoinExec
          if flatten(j.left).exists(isCatalogScan) || flatten(j.right).exists(isCatalogScan) => j
      }
      assert(unbroadcast.isEmpty,
        s"catalog joins must convert to broadcast under AQE, found:\n${unbroadcast.mkString("\n")}")
    } finally prior.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("doc-novelty's df == 1 signal is invariant under a binding df cap") {
    // q_doc_novelty's scale story leans on this algebra: a df cap drops
    // WHOLE (lang, shingle) groups from the stream, so surviving
    // groups' counts are untouched and the df == 1 (unique-content) set
    // is bit-identical under any cap >= 1 — measured here on the
    // adversarial corpus where the cap BINDS (hot shingle df = 300)
    val d = synthDir(300, hotPrefix = true)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang", "shingle")
    def uniqSet(sh: org.apache.spark.sql.DataFrame) =
      sh.withColumn("df", count(lit(1)).over(w))
        .filter(col("df") === 1).select("doc_id", "shingle")
    val sh = ops.TextPipeline.shingles(spark, d)
    val full = uniqSet(sh)
    val capped = uniqSet(
      sh.withColumn("df0", count(lit(1)).over(w)).filter(col("df0") <= Cap).drop("df0"))
    assert(full.except(capped).isEmpty && capped.except(full).isEmpty,
      "df == 1 set changed under a binding cap — the novelty signal is not cap-invariant")
    assert(full.count() > 0L, "the planted corpus must contain unique shingles")
  }

  test("capped near-dup wall-clock stays near-linear at 10x docs") {
    val d1 = synthDir(300, hotPrefix = true)
    val d10 = synthDir(3000, hotPrefix = true)
    def run(d: String): Long =
      ops.TextPipeline.shinglePairStats(spark, d, Some(Cap)).count()
    run(d1) // warm codegen/plans
    val (t1, _) = minTime(() => run(d1))
    val (t10, _) = minTime(() => run(d10))
    val bound = 30.0 * math.max(t1, 0.4)
    assert(t10 <= bound,
      f"capped pass took $t10%.2f s at 10x vs $t1%.2f s at 1x — growth " +
        f"${t10 / math.max(t1, 0.4)}%.1fx exceeds the near-linear bound")
    info(f"capped shinglePairStats: 1x $t1%.2f s, 10x $t10%.2f s")
  }

  test("q_capture_recapture wall-clock stays near-linear at 10x docs") {
    // both capture lists are banded self-joins (minhash bands, simhash
    // bands) and the overlap is one pair-key join — nothing in the
    // composition may reintroduce a quadratic. The hot-prefix corpus
    // is the adversarial case: the shared 3-word opener pushes every
    // doc toward the same minhash band keys unless banding keeps
    // discrimination from the unique tails.
    val d1 = synthDir(300, hotPrefix = true)
    val d10 = synthDir(3000, hotPrefix = true)
    def run(d: String): Long =
      SparkEntry.queries("q_capture_recapture")(spark, d).count()
    run(d1) // warm codegen/plans
    val (t1, _) = minTime(() => run(d1))
    val (t10, _) = minTime(() => run(d10))
    val bound = 30.0 * math.max(t1, 0.4)
    assert(t10 <= bound,
      f"capture-recapture took $t10%.2f s at 10x vs $t1%.2f s at 1x — growth " +
        f"${t10 / math.max(t1, 0.4)}%.1fx exceeds the near-linear bound")
    info(f"capture-recapture: 1x $t1%.2f s, 10x $t10%.2f s")
  }

  test("q_ppl_bucket wall-clock stays near-linear at 10x docs") {
    // the trigram model is charset³-bounded, so the only corpus-scaled
    // work is the explode + the broadcast scoring join — a superlinear
    // reading here means the model stopped broadcasting or the tercile
    // grid grew content-keyed
    val d1 = synthDir(300, hotPrefix = false)
    val d10 = synthDir(3000, hotPrefix = false)
    def run(d: String): Long =
      SparkEntry.queries("q_ppl_bucket")(spark, d).count()
    run(d1) // warm codegen/plans
    val (t1, _) = minTime(() => run(d1))
    val (t10, _) = minTime(() => run(d10))
    val bound = 30.0 * math.max(t1, 0.4)
    assert(t10 <= bound,
      f"ppl bucketing took $t10%.2f s at 10x vs $t1%.2f s at 1x — growth " +
        f"${t10 / math.max(t1, 0.4)}%.1fx exceeds the near-linear bound")
    info(f"ppl_bucket: 1x $t1%.2f s, 10x $t10%.2f s")
  }

  test("q_textrank and q_keyphrase wall-clock stay near-linear at 10x docs") {
    // both ops key every shuffle on the vocabulary (Zipf-bounded), so
    // 10x docs must not go superlinear: textrank's edge frame is
    // vocab-pair-bounded and its 3 iterations are (lang, word)-keyed
    // joins; keyphrase's stop set and top-10 ride bounded TopK buffers
    val d1 = synthDir(300, hotPrefix = false)
    val d10 = synthDir(3000, hotPrefix = false)
    Seq("q_textrank", "q_keyphrase").foreach { name =>
      def run(d: String): Long = SparkEntry.queries(name)(spark, d).count()
      run(d1) // warm codegen/plans
      val (t1, _) = minTime(() => run(d1))
      val (t10, _) = minTime(() => run(d10))
      val bound = 30.0 * math.max(t1, 0.4)
      assert(t10 <= bound,
        f"$name took $t10%.2f s at 10x vs $t1%.2f s at 1x — growth " +
          f"${t10 / math.max(t1, 0.4)}%.1fx exceeds the near-linear bound")
      info(f"$name: 1x $t1%.2f s, 10x $t10%.2f s")
    }
  }

  test("q_word_entropy wall-clock stays near-linear at 10x docs") {
    // the conditional-entropy fold keys every shuffle on the bigram
    // vocabulary (Zipf² — orders below the corpus); 10x docs must not
    // go superlinear, and the margin/total joins stay (lang, w1)- and
    // lang-keyed against the snapshotted c12 frame
    val d1 = synthDir(300, hotPrefix = false)
    val d10 = synthDir(3000, hotPrefix = false)
    def run(d: String): Long = SparkEntry.queries("q_word_entropy")(spark, d).count()
    run(d1) // warm codegen/plans
    val (t1, _) = minTime(() => run(d1))
    val (t10, _) = minTime(() => run(d10))
    val bound = 30.0 * math.max(t1, 0.4)
    assert(t10 <= bound,
      f"q_word_entropy took $t10%.2f s at 10x vs $t1%.2f s at 1x — growth " +
        f"${t10 / math.max(t1, 0.4)}%.1fx exceeds the near-linear bound")
    info(f"q_word_entropy: 1x $t1%.2f s, 10x $t10%.2f s")
  }

  test("q_distinct_ngrams wall-clock stays near-linear at 10x docs") {
    // both diversity levels key their shuffles on the n-gram
    // vocabulary (unigram Zipf, bigram Zipf²); 10x docs must not go
    // superlinear and the source rollup stays |sources|-bounded
    val d1 = synthDir(300, hotPrefix = false)
    val d10 = synthDir(3000, hotPrefix = false)
    def run(d: String): Long = SparkEntry.queries("q_distinct_ngrams")(spark, d).count()
    run(d1) // warm codegen/plans
    val (t1, _) = minTime(() => run(d1))
    val (t10, _) = minTime(() => run(d10))
    val bound = 30.0 * math.max(t1, 0.4)
    assert(t10 <= bound,
      f"q_distinct_ngrams took $t10%.2f s at 10x vs $t1%.2f s at 1x — growth " +
        f"${t10 / math.max(t1, 0.4)}%.1fx exceeds the near-linear bound")
    info(f"q_distinct_ngrams: 1x $t1%.2f s, 10x $t10%.2f s")
  }

  test("q_capture_recapture keeps BOTH candidate lists banded at 10x (plan)") {
    // The r14 verdict's 6a as a spec: the wall-clock bound above can
    // hide a quadratic behind a fast box, so pin the SHAPE — each
    // capture list's self-join must carry its band discriminator in
    // the equi keys (minhash band_key, simhash bv), never lang alone
    // (a per-lang all-pairs in disguise), and nothing in the overlap
    // composition may plan a cartesian.
    val d10 = synthDir(3000, hotPrefix = true)
    val qe = SparkEntry.queries("q_capture_recapture")(spark, d10)
      .queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"candidate machinery degraded to an all-pairs join:\n$plan")
    // exactly the two scalar readout crosses (na×nb, ×nab — 1-row
    // frames) may nest-loop; a third BNLJ means a candidate list
    // degraded from its banded hash join
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2,
      s"$bnlj nested-loop joins — a capture list degraded from banded hash join:\n$plan")
    // the capture lists are snapshotted (r19) so their banded joins run
    // inside the snapshot materialization — resolve every LogicalRDD
    // leaf back to its recorded origin plan (recursively: the band
    // frames inside the lists are snapshots too) and pin the shape THERE
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.LogicalRDD
    def expand(lp: LogicalPlan): Seq[LogicalPlan] = {
      val origins = lp.collect { case r: LogicalRDD => r.rdd.id }
        .flatMap(Q.snapshotOrigin(_).toSeq)
      origins ++ origins.flatMap(expand)
    }
    val inner = expand(qe.analyzed).map(_.toString).mkString("\n")
    assert(!inner.contains("Join Cross"),
      s"a snapshotted capture list hides an all-pairs join:\n$inner")
    val joinLines = (plan + "\n" + inner).linesIterator
      .filter(_.contains("Join")).toSeq
    assert(joinLines.exists(_.contains("band_key")),
      s"minhash capture list lost its band_key equi-join:\n${joinLines.mkString("\n")}")
    assert(joinLines.exists(_.contains("bv")),
      s"simhash capture list lost its bv equi-join:\n${joinLines.mkString("\n")}")
  }
}
