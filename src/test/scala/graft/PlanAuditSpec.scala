package graft

import org.apache.spark.sql.functions._

/** Physical-plan audits: the properties that make the 100 TB design real
  * (SURVEY §4). These are regression tests — an innocent-looking rewrite
  * that drops a pushdown or degrades a join to a cartesian product fails
  * here, not in production.
  */
class PlanAuditSpec extends SparkSpec {

  test("q_scan_pruned pushes its predicate and prunes to 3 columns") {
    val plan = SparkEntry.queries("q_scan_pruned")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"predicate must reach the parquet scan:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_linenumber") &&
      readSchema.contains("l_extendedprice") && !readSchema.contains("l_quantity"),
      s"scan must read only the 3 projected columns:\n$readSchema")
  }

  test("no declared query plans an unbroadcast cartesian product") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.sparkPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name degrades to CartesianProduct — unusable at scale:\n$plan")
    }
  }

  test("q_join_theta joins on the 60s time bucket, not user_id alone") {
    // user_id has bounded cardinality — keyed on it alone, the SMJ's
    // per-key group grows with the corpus and the band residual goes
    // quadratic. The bucket must be part of the equi-join keys.
    val plan = SparkEntry.queries("q_join_theta")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    val joinLine = plan.linesIterator
      .find(l => l.contains("Join") && l.contains("user_id"))
      .getOrElse(fail(s"no join over user_id found:\n$plan"))
    assert(joinLine.contains("jbkt"),
      s"equi-join keys must include the time bucket:\n$joinLine")
  }

  test("q_join_range broadcasts the constant-size interval dim") {
    // A non-equi range join is only scale-safe when the build side is
    // broadcast (linear scan of the fact table); a shuffle formulation
    // would be a cartesian in disguise.
    val df = SparkEntry.queries("q_join_range")(spark, sfDir)
    df.collect() // let AQE finalize so the exchange materializes
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") && plan.contains("BroadcastExchange"),
      s"range join must be a broadcast nested-loop over the 25-row dim:\n$plan")
  }

  test("corpus map-side ops shuffle only for their final ORDER BY") {
    // split/chunk/pii are single-pass generators — a hash shuffle in the
    // plan would mean an accidental join/agg crept in.
    // executedPlan, not sparkPlan: exchanges are only inserted by
    // EnsureRequirements, so the absence check is vacuous on sparkPlan
    Seq("q_sample_split", "q_doc_chunk", "q_text_pii").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$name must stay map-side (range exchange for the sort only):\n$plan")
    }
  }

  test("q_topk_agg partial-aggregates the bounded top-k buffer before the shuffle") {
    // the whole point of the Aggregator formulation: a partial
    // ObjectHashAggregate below the group-key exchange means each
    // partition ships at most k rows per group
    val plan = SparkEntry.queries("q_topk_agg")(spark, sfDir)
      .queryExecution.sparkPlan.toString.toLowerCase
    assert(plan.contains("objecthashaggregate"),
      s"typed aggregator must plan as ObjectHashAggregate:\n$plan")
    assert(plan.contains("partial_topkagg"),
      s"top-k buffer must combine map-side (partial mode):\n$plan")
  }

  test("skew rewrites keep the salt in the optimized plan") {
    // The salted shuffle key must survive optimization — if Catalyst
    // collapsed the two-phase agg or dropped the salt from the join key,
    // the rewrite would silently degrade to the single-reducer plan.
    Seq("q_skew_agg", "q_skew_join").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.sparkPlan.toString
      assert(plan.contains("__graft_salt"),
        s"$name lost its salt column after optimization:\n$plan")
    }
  }

  test("star join broadcasts only the fixed-size dims") {
    val df = SparkEntry.queries("q_join_multiway")(spark, sfDir)
    df.collect() // let AQE finalize
    val plan = df.queryExecution.executedPlan.toString
    // region/nation arrive via BroadcastExchange (pinned); the plan must
    // contain at least one broadcast and no nested-loop join
    assert(plan.contains("BroadcastExchange"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("date-partitioned layout prunes partitions at scan time") {
    val dir = tempDir("graft_part")
    Tables.load(spark, sfDir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
      .write.partitionBy("yr").mode("overwrite").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("yr") === 1997)
    val plan = pruned.queryExecution.sparkPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scanLine.contains("(yr"),
      s"partition filter must prune at file-listing time:\n$scanLine")
    // and the pruned read returns exactly the 1997 rows
    val expect = Tables.load(spark, sfDir, "orders")
      .filter(year(col("o_orderdate")) === 1997).count()
    assert(pruned.count() === expect)
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // At 100 TB the win: a selective dim-side predicate becomes a bloom
    // filter applied inside the fact scan, dropping non-joining rows
    // before the shuffle. Size thresholds are tuned for toy data; the
    // plan shape (bloom agg on the build, might_contain on the probe)
    // is what production inherits unchanged.
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = Tables.load(spark, sfDir, "lineitem")
      val o = Tables.load(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"fact scan must carry the runtime bloom probe:\n$plan")
      assert(plan.contains("bloom_filter_agg"),
        s"dim side must build the bloom filter:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed co-located join needs no shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
    Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_b")
    val joined = spark.table("li_b").hint("merge")
      .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.sparkPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must be shuffle-free:\n$plan")
    assert(joined.count() === Tables.load(spark, sfDir, "lineitem").count())
  }

  test("q_decontam probes the holdout shingle set via a broadcast join") {
    // contamination checking must be a broadcast semi-join: benchmark
    // n-gram sets are tiny next to the corpus, so the corpus-side
    // shingles must stream past a broadcast build, never shuffle to
    // co-locate with the holdout
    val plan = SparkEntry.queries("q_decontam")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"holdout probe must be a BroadcastHashJoin:\n$plan")
  }

  test("q_funnel stacks its three windows over ONE user_id exchange") {
    // the staged min-windows and the per-user rollup all partition by
    // user_id — if a rewrite broke the shared partitioning, extra
    // hashpartitioning exchanges on user_id would appear
    val plan = SparkEntry.queries("q_funnel")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val userExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges === 1,
      s"funnel must reuse one user_id partitioning, found $userExchanges:\n$plan")
  }

  test("q_anomaly broadcasts the per-type stats and never shuffles the fact side") {
    val plan = SparkEntry.queries("q_anomaly")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"stats join must broadcast:\n$plan")
    // the only hash exchange allowed is the one building the 5-row
    // stats aggregate itself — the events fact scan must not shuffle
    val factShuffles = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(event_id"))
    assert(factShuffles === 0, s"fact side must stay map-side:\n$plan")
  }

  test("q_bloom_decontam probes a broadcast bitmap; corpus never shuffles before the probe") {
    val plan = SparkEntry.queries("q_bloom_decontam")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"bitmap must arrive via broadcast:\n$plan")
    // the training-shingle side shuffles only for the final per-doc
    // count — never on the shingle/position columns
    assert(!plan.contains("Exchange hashpartitioning(shingle") &&
      !plan.contains("Exchange hashpartitioning(p1"),
      s"corpus shingles must stream map-side past the bitmap:\n$plan")
    // and the bitmap build itself partial-aggregates (32 KiB per
    // partition, not one row per position)
    assert(plan.toLowerCase.contains("partial_bloomagg"),
      s"BloomAgg must combine map-side:\n$plan")
  }

  test("q_exists_subquery decorrelates to a semi + anti join pair") {
    // EXISTS/NOT EXISTS must become set joins — a per-row subquery
    // re-execution would be O(rows × subquery) at scale
    val plan = SparkEntry.queries("q_exists_subquery")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("LeftSemi"), s"EXISTS must plan as LeftSemi:\n$plan")
    assert(plan.contains("LeftAnti"), s"NOT EXISTS must plan as LeftAnti:\n$plan")
  }

  test("q_dedup_near candidate generation keeps its document-frequency cap") {
    // a stop-phrase shingle shared by k docs contributes k² self-join
    // rows — the declared entry must run the df-capped path (result-
    // identical per SkewSpec: the cap is ~9× the max df observed at
    // sf0.1). If a rewrite dropped the filter, candidates would again
    // go quadratic per hot key at 100 TB.
    val plan = SparkEntry.queries("q_dedup_near")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(plan.matches("(?s).*df#\\d+L? <= 128.*"),
      s"declared near-dup path lost its document-frequency cap:\n$plan")
    // and df must come from a partition-only window over (lang, shingle)
    // — the clustering the self-join needs anyway, so the df computation
    // rides the join's own exchange. The r6 formulation (a separate
    // count agg semi-joined back, plus a full-corpus collect_set) cost
    // 3× the uncapped runtime; this assertion keeps a refactor from
    // silently reintroducing it.
    assert(plan.matches("(?s).*windowspecdefinition\\(lang#\\d+, shingle#\\d+.*"),
      s"df must be a window riding the join's (lang, shingle) clustering:\n$plan")
    // the only collect_set allowed is the hot-set correction, which
    // must sit above a df > cap filter (r6 collected the FULL corpus)
    val hasHotFilter = plan.matches("(?s).*df#\\d+L? > 128.*")
    assert(!plan.contains("collect_set") || hasHotFilter,
      s"collect_set must be restricted to hot (df > cap) shingles:\n$plan")
  }

  test("q_ngram_freq / q_text_stats push their per-lang top-k into partial aggregation") {
    // lang is a ~5-value key: a row_number window would sort each
    // language's ENTIRE distinct-term count set inside 5 reducers — a
    // bounded-parallelism sort over a content-growing input. Both plans
    // must carry the top-k in map-side partials instead (TopKStrAgg
    // buffer / min_by candidates) and plan NO Window exec at all.
    Seq("q_ngram_freq", "q_text_stats").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.sparkPlan.toString
      assert(!plan.contains("Window"),
        s"$name must not plan a per-lang Window:\n$plan")
    }
    val ngram = SparkEntry.queries("q_ngram_freq")(spark, sfDir)
      .queryExecution.sparkPlan.toString.toLowerCase
    assert(ngram.contains("partial_topkstragg"),
      s"bigram top-10 buffer must combine map-side (partial mode):\n$ngram")
    val stats = SparkEntry.queries("q_text_stats")(spark, sfDir)
      .queryExecution.sparkPlan.toString.toLowerCase
    assert(stats.contains("partial_min_by") || stats.contains("min_by"),
      s"top word must be a declarative min_by aggregate:\n$stats")
  }

  test("q_bm25 broadcasts the per-lang stats and partial-aggregates its top-k") {
    // BM25's tf is in-row (no (doc, term) explode), the per-lang stats
    // arrive via broadcast, and the per-lang ranking must combine
    // map-side — the corpus is scanned once and never shuffled
    val plan = SparkEntry.queries("q_bm25")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"per-lang stats must broadcast:\n$plan")
    assert(!plan.contains("Window"), s"bm25 must not plan a Window:\n$plan")
    assert(plan.toLowerCase.contains("partial_topkagg"),
      s"top-10 buffer must combine map-side:\n$plan")
  }

  test("q_dup_clusters label propagation converges in <= 3 rounds") {
    // fused-first-round seeding + path halving keep rounds few where
    // ids grow along a chain (a path with shuffled ids still takes
    // O(diameter) rounds); near-dup graphs are dominated by 2-3-node
    // components, so seeding alone reaches the fixpoint and one
    // confirming round proves it. A regression here (broken seeding, lost path halving)
    // would otherwise surface only as a silent wall-clock multiple —
    // each round is a full join+agg job at 100 TB.
    val (_, rounds) = ops.TextPipeline.connectedComponentsWithRounds(
      ops.TextPipeline.lshCandidatePairs(spark, "/root/testdata/sf0.1"))
    assert(rounds <= 3, s"expected <= 3 propagation rounds, took $rounds")
  }

  test("IVF quantizer fits on a hash-sample, never the corpus") {
    // the k-means fit makes maxIter+init passes over — and caches — its
    // input; that input must be the deterministic md5-thresholded
    // sample so quantizer cost stops being corpus-linear at 100 TB
    val e = ops.Similarity.ivfFeatures(spark, sfDir)
    val n = e.count()
    val target = n / 4
    val sample = ops.Similarity.ivfFitSample(e, n, target)
    val cnt = sample.count()
    assert(cnt < n, s"fit input ($cnt rows) must be smaller than the corpus ($n)")
    // 16-bit threshold sampling: binomial spread stays well inside ±60%
    assert(cnt <= target * 1.6 + 16, s"sample $cnt far over target $target")
    assert(cnt >= target * 0.4, s"sample $cnt far under target $target")
    val plan = sample.queryExecution.optimizedPlan.toString
    assert(plan.contains("md5"),
      s"fit sample must be the deterministic md5 threshold:\n$plan")
  }

  test("q_source_overlap scans the corpus text ONCE and shares the catalog exchange") {
    // the r8 formulation self-joined the shingle set and recomputed it
    // for the per-source totals — three full corpus scans in one plan.
    // The r9 bitmask shape allows exactly two scans: the corpus text
    // pass (once) and the column-pruned source-catalog pass, whose
    // exchange every consumer shares via ReuseExchange (with AQE off
    // the reuse is statically visible; AQE reaches the same result at
    // runtime through its canonical-plan stage cache — and in
    // production the catalog is a static dim, no scan at all).
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = SparkEntry.queries("q_source_overlap")(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"),
        s"catalog consumers must share one exchange:\n$plan")
      val scanLines = plan.linesIterator.filter(_.contains("Scan parquet")).toSeq
      assert(scanLines.size === 2,
        s"expected text scan + catalog scan, found ${scanLines.size}:\n$plan")
      assert(scanLines.count(_.contains("ReadSchema: struct<source:string>")) === 1,
        s"the catalog pass must read ONLY the source column:\n$scanLines")
      // and the corpus-side aggregation is the codegen'd long bit_or,
      // never an object collect_set
      assert(!plan.contains("collect_set"),
        s"per-shingle membership must be a bitmask, not an object set:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("q_distinct_rollup covers both grains with one Expand over one scan") {
    // rollup(day) must plan a single Expand + two-phase distinct agg —
    // a scan per grain (daily, overall) would double the 100 TB read
    val plan = SparkEntry.queries("q_distinct_rollup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"rollup must plan an Expand:\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"events must be scanned once, found $scans:\n$plan")
  }

  test("packDocs partitions its running-sum window by the md5 shard at any width") {
    // the shard-width knob must change ONLY the partitioning key width:
    // same single window, same single shard exchange, at width 3 as at
    // the declared width 1
    Seq(1, 3).foreach { nibbles =>
      val plan = ops.Corpus.packDocs(Tables.load(spark, sfDir, "documents"), nibbles)
        .queryExecution.executedPlan.toString
      val shardExchanges = plan.linesIterator
        .count(_.contains("Exchange hashpartitioning(shard"))
      assert(shardExchanges === 1,
        s"width $nibbles: expected one shard exchange, found $shardExchanges:\n$plan")
      assert(plan.linesIterator.count(_.contains("Window")) === 1,
        s"width $nibbles: exactly one running-sum window expected:\n$plan")
    }
  }

  test("q_tfidf broadcasts the per-language doc counts") {
    // nd is O(#languages) rows — shipping it as a broadcast keeps the
    // tf×df result partitioned by (lang, word) without a re-shuffle
    val plan = SparkEntry.queries("q_tfidf")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"per-lang N join must broadcast:\n$plan")
  }

  test("q_join_range_native plans the custom BroadcastRangeJoinExec with pruned scans") {
    // the injected RangeJoinStrategy must claim the single-
    // interval_match inner join, and Catalyst's column pruning must
    // still reach both scans through the custom node
    val plan = SparkEntry.queries("q_join_range_native")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastRangeJoin"),
      s"custom strategy must plan the range join:\n$plan")
    val scanLines = plan.linesIterator.filter(_.contains("Scan parquet")).toSeq
    assert(scanLines.exists(l => l.contains("lineitem") &&
      l.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double>")),
      s"fact scan must stay pruned to 3 columns:\n$scanLines")
    assert(scanLines.exists(l => l.contains("nation") &&
      l.contains("ReadSchema: struct<n_nationkey:int>")),
      s"dim scan must stay pruned to the key column:\n$scanLines")
  }

  test("q_join_bucketed's sort-merge join sits directly on the bucketed scans") {
    // the declared query (not just the generic demo above): the SMJ's
    // subtree must contain zero shuffle exchanges — the bucketed layout
    // IS the join partitioning. The aggregation above the join still
    // shuffles (different key); only the join itself must be free.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plan = SparkEntry.queries("q_join_bucketed")(spark, sfDir)
      .queryExecution.sparkPlan
    val smj = plan.collectFirst { case j: SortMergeJoinExec => j }
      .getOrElse(fail(s"expected a sort-merge join:\n$plan"))
    val shuffles = smj.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty,
      s"bucketed join must consume the scans' partitioning, found ${shuffles.size} shuffle(s):\n$plan")
  }

  test("q_inverted_index / q_group_sample bound their per-key output via partial top-k") {
    // postings for a hot token ("the": df ~ corpus size) and samples for
    // a hot stratum must never materialize whole groups: the TopKAgg
    // buffer partial-aggregates, so the shuffle carries <= k rows per
    // (key x partition), and no Window (full shuffle-and-sort of every
    // row) appears anywhere in the plan.
    Seq("q_inverted_index", "q_group_sample").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.sparkPlan.toString
      assert(!plan.contains("Window"),
        s"$name must not plan a window:\n$plan")
      assert(plan.toLowerCase.contains("partial_topkagg"),
        s"$name must push its top-k into map-side partials:\n$plan")
    }
    // the index build's in-row tf leaves exactly ONE hash exchange (the
    // token rollup) — the naive (doc, token) pre-aggregation would add a
    // corpus-sized exchange on a near-unique key in front of it.
    // executedPlan with AQE off: exchanges only exist after
    // EnsureRequirements, and AQE hides them behind the adaptive root.
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val idxPlan = SparkEntry.queries("q_inverted_index")(spark, sfDir)
        .queryExecution.executedPlan.toString
      val hashExchanges = idxPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(hashExchanges === 1,
        s"index build must shuffle once (token-keyed), found $hashExchanges:\n$idxPlan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("q_cooccur_lift scans the corpus twice and derives its totals from the count tables") {
    // one scan for unigrams, one for bigrams; the two corpus totals come
    // from vocabulary-sized rollups of the count tables (ReuseExchange
    // dedups the shared subtrees) — NOT from extra corpus passes
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = SparkEntry.queries("q_cooccur_lift")(spark, sfDir)
        .queryExecution.executedPlan.toString
      val scans = plan.linesIterator.count(_.contains("Scan parquet"))
      assert(scans === 2,
        s"expected unigram + bigram scans only, found $scans:\n$plan")
      assert(plan.contains("ReusedExchange"),
        s"count-table consumers must share exchanges:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("q_filter_interval unfolds interval_match and pushes the bounds to parquet") {
    // the IntervalFilterUnfold optimizer rule must turn the custom
    // predicate into native comparisons (no interval_match left in the
    // optimized plan) AND those comparisons must reach the scan as
    // PushedFilters — the row-group pruning path at 100 TB
    val qe = SparkEntry.queries("q_filter_interval")(spark, sfDir).queryExecution
    assert(!qe.optimizedPlan.toString.contains("interval_match"),
      s"filter must be unfolded by the optimizer rule:\n${qe.optimizedPlan}")
    val plan = qe.sparkPlan.toString
    // (the plan renderer truncates the PushedFilters list, so the upper
    // bound is matched by prefix)
    assert(plan.contains("GreaterThanOrEqual(l_extendedprice,1000.0)") &&
      plan.contains("LessThan(l_extendedprice"),
      s"unfolded bounds must reach the parquet scan as PushedFilters:\n$plan")
  }

  test("q_rle_zorder's run-break window partitions by zbucket, never globally") {
    // a global curve-order window would funnel the corpus through one
    // reducer; partitioned by zbucket, each reducer sorts one bucket
    val plan = SparkEntry.queries("q_rle_zorder")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(_.contains("Exchange hashpartitioning(zbucket")),
      s"window must hash-partition on zbucket:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"no stage may single-partition the corpus:\n$plan")
  }

  test("q_label_affinity reads the embeddings ONCE for the whole pair matrix") {
    // the in-row pair expansion exists precisely so the centroid
    // subtree is not planned twice (a dim-keyed self-join would scan
    // the corpus per side — Spark plans trees, not DAGs)
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = SparkEntry.queries("q_label_affinity")(spark, sfDir)
        .queryExecution.executedPlan.toString
      val scans = plan.linesIterator.count(_.contains("Scan parquet"))
      assert(scans === 1, s"affinity must be one corpus pass, found $scans:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("q_profile reads the corpus ONCE for all four multi-distinct columns") {
    // Spark must plan the 4-column count(DISTINCT) as a single
    // Expand-based multi-distinct aggregate over one scan — a naive
    // per-column formulation would scan lineitem four times
    val plan = SparkEntry.queries("q_profile")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"profile must be one corpus pass, found $scans scans:\n$plan")
    assert(plan.contains("Expand"),
      s"multi-distinct must go through Expand:\n$plan")
  }

  test("q_boxplot broadcasts the quantile table and never shuffles the fact side") {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val plan = SparkEntry.queries("q_boxplot")(spark, sfDir)
      .queryExecution.sparkPlan
    val bhjs = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhjs.nonEmpty, s"quantile join must broadcast:\n$plan")
    // the streamed (fact) side must reach the join without any shuffle —
    // the only exchanges in the whole plan belong to the quantile
    // aggregate (build side) and the final bounded-key aggregate above
    val streamed =
      if (bhjs.head.buildSide == BuildLeft) bhjs.head.right else bhjs.head.left
    val streamedShuffles =
      streamed.collect { case e: ShuffleExchangeExec => e }
    assert(streamedShuffles.isEmpty,
      s"fact side must stream into the broadcast join unshuffled:\n$plan")
  }

  test("q_char_entropy is shuffle-free up to its output sort") {
    // the whole histogram + entropy fold is in-row — the only exchange
    // a correct plan contains is the final orderBy's range partitioning;
    // a hash exchange means the rewrite regressed to explode + groupBy
    val plan = SparkEntry.queries("q_char_entropy")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"entropy must stay map-side (no aggregation exchange):\n$plan")
  }

  test("q_scd2's three stacked windows ride ONE (user_id, event_type) exchange") {
    // change-detect lag, validity lead and version row_number all
    // partition by the same key with the same ordering — a correct plan
    // hash-partitions once; a second hash exchange means the change
    // filter broke partitioning reuse and the corpus re-shuffles
    val plan = SparkEntry.queries("q_scd2")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val hashExchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges === 1,
      s"expected exactly one hash exchange, found $hashExchanges:\n$plan")
  }

  test("q_day_over_day's lag window runs over the daily aggregate, not raw events") {
    // the only single-partition exchange must sit above the |days|-key
    // aggregate; a window over raw events would single-thread the corpus
    val plan = SparkEntry.queries("q_day_over_day")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val idx = plan.indexOf("Exchange SinglePartition")
    assert(idx >= 0, s"expected the bounded window's exchange:\n$plan")
    assert(plan.substring(idx).contains("HashAggregate"),
      s"single-partition exchange must consume the daily aggregate:\n$plan")
  }

  test("q_activity_islands rides ONE user_id exchange through windows and rollups") {
    // lag-window, running-sum window, per-island agg and per-user agg all
    // cluster by user_id (or a superset) — HashPartitioning(user_id)
    // satisfies every later ClusteredDistribution, so a correct plan has
    // exactly one hash exchange. A second one means a stage stopped
    // reusing the partitioning and the pipeline re-shuffles the corpus.
    val plan = SparkEntry.queries("q_activity_islands")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val hashExchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges === 1,
      s"islands pipeline must reuse one user_id partitioning, found $hashExchanges:\n$plan")
  }

  test("q_ohlc aggregates with min_by/max_by partials — no window, no per-day sort") {
    // open/close via a packed order key inside the aggregate keeps the
    // plan a plain two-phase hash agg; a window formulation would sort
    // every day's events. |days| keys ⇒ shuffle is calendar-bounded.
    val plan = SparkEntry.queries("q_ohlc")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"OHLC must not plan a Window:\n$plan")
    assert(plan.contains("partial_min_by") || plan.contains("min_by"),
      s"open/close must partial-aggregate map-side:\n$plan")
  }

  test("q_token_diversity is a map-only projection — zero data exchanges") {
    // all diversity math is in-row HOF arithmetic; the only allowed
    // exchange is the rangepartitioning for the output ORDER BY
    val plan = SparkEntry.queries("q_token_diversity")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"diversity scoring must not shuffle:\n$plan")
    assert(!plan.contains("Window"), s"no window expected:\n$plan")
  }

  test("q_event_transitions normalizes over the |types|^2 aggregate, not raw events") {
    // the probability window must consume the (cur, nxt) count table —
    // its sort/exchange keys are cur/nxt, and the only user_id exchange
    // is the lead() window's
    val plan = SparkEntry.queries("q_event_transitions")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val userExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges === 1,
      s"lead window must be the only user_id exchange, found $userExchanges:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(cur")),
      s"normalizing window must run over the aggregated pair table:\n$plan")
  }

  test("q_trend_fit is one events scan with no window — pure bounded-key aggs") {
    // the OLS fit must reduce to integer sufficient statistics via two
    // stacked aggregates; a Window (rank/regr over raw events) or a
    // second scan means the formulation regressed
    val plan = SparkEntry.queries("q_trend_fit")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"trend fit must be one events pass, found $scans:\n$plan")
    assert(!plan.contains("Window"),
      s"OLS must come from aggregated sufficient statistics, not a window:\n$plan")
  }

  test("q_pagerank iterates over the materialized edge snapshot, not the fact table") {
    // edges are localCheckpoint'd once — the iteration plan must
    // reference the materialized RDD and never re-derive the distinct-
    // pair scan of lineitem (which at 100 TB would re-read the corpus
    // every round)
    val plan = SparkEntry.queries("q_pagerank")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val parquetScans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(parquetScans === 0,
      s"all iterations must ride the edge snapshot; found $parquetScans parquet scans:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"edge snapshot missing from the plan:\n$plan")
  }

  test("q_ivm_refresh pushes the date split into both parquet scans") {
    // base and delta states each scan with their o_orderdate predicate
    // pushed down — losing pushdown turns the delta refresh back into
    // a full-history scan
    val plan = SparkEntry.queries("q_ivm_refresh")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    val pushed = plan.linesIterator
      .filter(_.contains("PushedFilters"))
      .count(_.contains("o_orderdate"))
    assert(pushed === 2,
      s"both state scans must push their o_orderdate split, found $pushed:\n$plan")
  }

  test("q_sample_weighted selects via TopKAgg partials — no window, no per-lang sort") {
    val plan = SparkEntry.queries("q_sample_weighted")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"weighted sample must partial-aggregate, not window-sort the corpus:\n$plan")
    assert(plan.contains("partial_topkagg") || plan.contains("TopKAgg"),
      s"bounded-buffer top-k aggregator missing:\n$plan")
  }

  test("q_graph_butterflies expands pairs in-row per part, never across parts") {
    // pair candidates come from an in-row Generate over each part's
    // capped supplier array (C(deg, 2) per key) — an sk-keyed join or
    // a cartesian product would mean the expansion regressed to
    // cross-part pairing
    val plan = SparkEntry.queries("q_graph_butterflies")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("Generate"),
      s"in-row pair expansion missing:\n$plan")
    assert(!plan.linesIterator.exists(l => l.contains("Join") && l.contains("s1")),
      s"pair generation must not join on supplier keys:\n$plan")
  }

  test("q_rolling_median rides one user_id exchange") {
    val plan = SparkEntry.queries("q_rolling_median")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val userExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges === 1,
      s"median window must ride one user_id exchange, found $userExchanges:\n$plan")
  }

  private def scanCount(name: String): Int =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Scan parquet"))

  test("the daily-series ops scan the corpus exactly once") {
    // q_acf replaces its lag self-join with seven lead() columns on one
    // window partitioning; q_cusum/q_seasonality attach totals as
    // window aggregates; q_ewma folds its unrolled history in-row from
    // a window collect_list — a second Scan line means a rewrite
    // regressed to re-deriving the daily frame per branch.
    for (n <- Seq("q_acf", "q_cusum", "q_seasonality", "q_ewma", "q_peak_detection"))
      assert(scanCount(n) === 1, s"$n must scan events exactly once")
  }

  test("q_corr_matrix is one scan, one bounded aggregate, no Expand") {
    val plan = SparkEntry.queries("q_corr_matrix")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(scanCount("q_corr_matrix") === 1, "all 15 sufficient statistics in ONE pass")
    assert(!plan.contains("Expand"),
      s"multi-column stats must not replicate rows (q_profile's Expand):\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"a global agg needs no hash exchange:\n$plan")
  }

  test("q_ks_test and q_benford collapse to bounded frames before any window") {
    for (n <- Seq("q_ks_test", "q_benford")) {
      assert(scanCount(n) === 1, s"$n must scan its fact table exactly once")
    }
  }

  test("q_cohort_ltv is single-scan and rides the user_id window exchange") {
    val plan = SparkEntry.queries("q_cohort_ltv")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(scanCount("q_cohort_ltv") === 1, "cohort via window min — no cohort-table rejoin")
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning(user_id")) === 1,
      s"exactly one corpus-sized exchange (user_id):\n$plan")
  }

  test("q_graph_triangles wedge joins are hash/merge equi-joins, never nested loops") {
    val plan = SparkEntry.queries("q_graph_triangles")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"triangle closure must stay equi-keyed:\n$plan")
  }

  test("q_funnel_time rides the funnel's single user_id exchange") {
    val plan = SparkEntry.queries("q_funnel_time")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val userExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges === 1,
      s"latency windows must reuse one user_id exchange, found $userExchanges:\n$plan")
  }

  test("q_hhi shuffles the fact table only on suppkey; catalog joins broadcast") {
    val plan = SparkEntry.queries("q_hhi")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // both catalog joins (supplier, nation) must be broadcast — a
    // sort-merge would re-shuffle the per-supplier aggregate for nothing
    assert(!plan.contains("SortMergeJoin"),
      s"catalog joins must broadcast:\n$plan")
    val factShuffles = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(l_suppkey"))
    assert(factShuffles === 1,
      s"lineitem must shuffle exactly once, on suppkey, found $factShuffles:\n$plan")
  }

  test("q_spearman reads lineitem once — ranks come from the joint frame") {
    // the three marginal rank columns are windows over the (q,d,t)
    // joint aggregate; a rewrite that derives them from separate
    // per-measure scans would show 3-4 parquet reads here
    val plan = SparkEntry.queries("q_spearman")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"expected ONE lineitem scan, found $scans:\n$plan")
  }

  test("q_zipf_fit takes its top-1000 with a bounded TakeOrdered, not a global sort") {
    val plan = SparkEntry.queries("q_zipf_fit")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k over the vocabulary must be a bounded TakeOrdered:\n$plan")
    // the rank window may only run on the ≤1000-row result of that top-k
    val idxWin = plan.indexOf("Window")
    val idxTop = plan.indexOf("TakeOrderedAndProject")
    assert(idxWin < 0 || idxWin < idxTop,
      s"rank window must sit above the TakeOrdered (bounded input):\n$plan")
  }

  test("q_skyline's exact dominance window consumes the bucket-pruned candidates") {
    // the single-partition window must sit above the broadcast bucket
    // join (pruned input), never directly on the distinct-pair aggregate
    val plan = SparkEntry.queries("q_skyline")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val idxWin = plan.indexOf("Exchange SinglePartition")
    val idxJoin = plan.indexOf("BroadcastHashJoin")
    assert(idxWin >= 0 && idxJoin >= 0 && idxWin < idxJoin,
      s"dominance window must run over the prune join's output:\n$plan")
    // the pair frame is localCheckpoint'd: its two consumers must not
    // re-scan orders (checkpoint scan, not parquet, feeds both branches)
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 0,
      s"both branches must reuse the checkpointed pair frame, found $scans scans:\n$plan")
  }

  test("q_kaplan_meier and q_mann_whitney windows run over domain-bounded frames") {
    // both collapse the corpus with a hash aggregate FIRST; the
    // single-partition window exchange must sit above a HashAggregate,
    // never directly above the events scan
    Seq("q_kaplan_meier", "q_mann_whitney", "q_nelson_aalen", "q_log_rank").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val idx = plan.indexOf("Exchange SinglePartition")
      assert(idx >= 0, s"$name: expected the bounded window's exchange:\n$plan")
      assert(plan.substring(idx).contains("HashAggregate"),
        s"$name: the single-partition window must consume an aggregate, not raw events:\n$plan")
    }
  }

  test("the round-10 moment tests are single-scan single-row-agg pipelines") {
    // welch/jarque-bera/psi each reduce the corpus in ONE pass of
    // integer sufficient statistics — a second parquet scan means a
    // branch re-derived the corpus (e.g. a densifying grid join)
    Seq("q_welch_t", "q_jarque_bera", "q_psi").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val scans = plan.linesIterator.count(_.contains("Scan parquet"))
      assert(scans === 1, s"$name must scan events once, found $scans:\n$plan")
    }
  }

  test("the daily-series finance ops window over the daily aggregate, not raw events") {
    // drawdown/bollinger/rsi collapse to the (type, day) frame first;
    // every window then rides that bounded frame — the event_type
    // window exchange must consume a HashAggregate
    Seq("q_drawdown", "q_bollinger", "q_rsi").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val scans = plan.linesIterator.count(_.contains("Scan parquet"))
      assert(scans === 1, s"$name must scan events once, found $scans:\n$plan")
      val idx = plan.indexOf("Exchange hashpartitioning(event_type")
      assert(idx >= 0, s"$name: expected the daily frame's type exchange:\n$plan")
      assert(plan.substring(idx).contains("HashAggregate"),
        s"$name: the window exchange must consume the daily aggregate:\n$plan")
    }
  }

  test("q_pca_power runs the whole eigensolve over ONE corpus scan") {
    // the 15 sufficient statistics are one agg pass; the matrix build
    // and all three power-iteration steps are single-row projections —
    // a second scan means an iteration re-derived the corpus
    val plan = SparkEntry.queries("q_pca_power")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"PCA must scan lineitem once, found $scans:\n$plan")
    assert(!plan.contains("Window"), s"no window expected in the eigensolve:\n$plan")
  }

  test("q_markov_stationary iterates over the checkpointed matrix, not the corpus") {
    // the transition matrix is localCheckpoint'd once; the three
    // unrolled π·P rounds and the type-set/k branches all read that
    // frame — the final plan must contain no parquet scan at all
    val plan = SparkEntry.queries("q_markov_stationary")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 0,
      s"power iteration must reuse the checkpointed matrix, found $scans scans:\n$plan")
  }

  test("q_graph_bfs's final plan is checkpoint-fed (no parquet rescans per hop)") {
    // the edge list is localCheckpoint'd once and every hop joins that
    // materialized frame; visited layers are checkpointed too, so the
    // FINAL plan (the histogram over visited) contains no parquet scan
    val plan = SparkEntry.queries("q_graph_bfs")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 0,
      s"BFS result must derive from checkpointed frames, found $scans scans:\n$plan")
  }

  test("q_holt_linear and q_decompose ride one scan and the daily frame's single type exchange") {
    // both collapse the corpus to the (|types|×|days|) daily frame
    // first (the ONE corpus-sized shuffle, on the composite agg key);
    // every later exchange — the per-type window repartition, and for
    // q_decompose the (type, phase) seasonal window that
    // HashPartitioning(event_type) already satisfies — moves only the
    // bounded daily frame, so exactly one extra hash exchange appears
    Seq("q_holt_linear", "q_decompose").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val scans = plan.linesIterator.count(_.contains("Scan parquet"))
      assert(scans === 1, s"$name must scan events once, found $scans:\n$plan")
      val idx = plan.indexOf("Exchange hashpartitioning(event_type")
      assert(idx >= 0, s"$name: expected the daily frame's type exchange:\n$plan")
      val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 2,
        s"$name: only the daily agg + the bounded-frame window exchange allowed, found $exchanges:\n$plan")
    }
  }

  test("q_attribution rides one corpus scan and the single user_id exchange") {
    // the RANGE-framed touch-history window is the only corpus-sized
    // shuffle; the credited explode lands on a |event_types|-key agg
    val plan = SparkEntry.queries("q_attribution")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"attribution must scan events once, found $scans:\n$plan")
    val userEx = plan.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
    assert(userEx === 1, s"exactly one user_id exchange expected, found $userEx:\n$plan")
    assert(!plan.contains("Join"), s"the window formulation must not self-join:\n$plan")
  }

  test("q_grouped_regression broadcasts the dim chain; the fact side never shuffles pre-agg") {
    // orders joins customer→nation as a broadcast (fact side map-side);
    // the first fact shuffle is the (nation × day)-key daily aggregate
    val plan = SparkEntry.queries("q_grouped_regression")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dim chain must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no shuffle join allowed on the fact side:\n$plan")
  }

  test("q_graph_jaccard expands pairs in-row and joins only catalog-sized count tables") {
    // candidate pairs come from the per-basket array expansion (never a
    // cross-part self-join) and the two count joins broadcast at this
    // scale — no cartesian product, no SMJ over the pair stream
    val plan = SparkEntry.queries("q_graph_jaccard")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n$plan")
    assert(plan.contains("Generate explode"),
      s"pair candidates must come from the in-row expansion:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"count tables should broadcast at test scale:\n$plan")
  }

  test("q_graph_ra expands wedges in-row under the hub cap and top-20s via TakeOrdered") {
    // common-neighbor pairs come from the per-node sorted-array
    // expansion (posexplode + slice — never an adjacency self-join),
    // the deg ≤ 128 cap bounds the quadratic term, and the readout is
    // a driver-bounded TakeOrderedAndProject, not a global sort
    val df = SparkEntry.queries("q_graph_ra")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n$plan")
    assert(plan.contains("Generate posexplode"),
      s"wedge pairs must come from the in-row expansion:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-20 must be a bounded TakeOrdered, not a full sort:\n$plan")
    assert(!plan.contains("Window"),
      s"no window may touch the pair frame:\n$plan")
  }

  test("q_bootstrap_ci reads events ONCE with the purchase filter pushed down") {
    // the whole bootstrap is one scan: the B=20 fan-out is an in-row
    // generator, n_rows rides the replica aggregate (a separate count
    // branch would re-scan the corpus), and the per-row weights never
    // shuffle — the only wide exchange carries 20-key partials
    val plan = SparkEntry.queries("q_bootstrap_ci")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    val scans = plan.linesIterator.count(_.contains("FileScan"))
    assert(scans === 1, s"expected exactly one events scan, got $scans:\n$plan")
    assert(plan.contains("EqualTo(event_type,purchase)"),
      s"purchase filter must reach the scan:\n$plan")
    assert(plan.contains("Generate explode"),
      s"replica fan-out must be the in-row generator:\n$plan")
  }

  test("round-11 multi-branch ops materialize their shared frame instead of re-scanning") {
    // Spark plans trees, not DAGs: a frame feeding 2-3 branches re-runs
    // its whole lineage per branch unless checkpointed. These five ops
    // pin the single-materialization shape — their remaining plan must
    // contain NO parquet scan at all (the one scan happened at
    // localCheckpoint build time).
    for (name <- Seq("q_theil_sen", "q_xcorr", "q_stickiness",
        "q_interpurchase", "q_centroid_shift")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.sparkPlan.toString
      val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
      assert(scans === 0,
        s"$name should read only its checkpointed frame, found $scans scans:\n$plan")
    }
  }

  test("q_cross_doc_ngram computes gram df on the window's own exchange (no join back)") {
    // the r12 rewrite: a (lang, gram)-keyed WINDOW count rides the one
    // content-keyed exchange; the agg + join-back form re-shuffled the
    // gram payload a second time (measured 1.87 s → 0.68 s)
    val plan = SparkEntry.queries("q_cross_doc_ngram")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("sortmergejoin") &&
      !plan.toLowerCase.contains("broadcasthashjoin"),
      s"gram df must come from the window, not a join back:\n$plan")
    val gramExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && l.contains("gram"))
    assert(gramExchanges === 1,
      s"expected exactly one gram-keyed exchange, got $gramExchanges:\n$plan")
  }

  test("q_js_divergence broadcasts every bounded side (top tokens, bucket margins, totals)") {
    // only the (source, bucket) counts may shuffle; the top-200 token
    // set, the bucket catalog, the per-bucket margins and the scalar
    // total must all arrive broadcast
    val plan = SparkEntry.queries("q_js_divergence")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val broadcasts = plan.linesIterator.count(_.contains("BroadcastExchange"))
    assert(broadcasts >= 4,
      s"expected >=4 broadcast sides (top set, buckets, margins, total), " +
        s"got $broadcasts:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the grid completion must be broadcast cross joins:\n$plan")
  }

  test("q_hill_tail pushes its top-101 into partial aggregation (never a per-type sort)") {
    val plan = SparkEntry.queries("q_hill_tail")(spark, sfDir)
      .queryExecution.sparkPlan.toString.toLowerCase
    assert(plan.contains("objecthashaggregate") && plan.contains("partial_topkagg"),
      s"top-k must combine map-side through the bounded-buffer aggregator:\n$plan")
    assert(!plan.contains("window"),
      s"no window sort may creep into the order-statistics path:\n$plan")
  }

  test("q_window_funnel joins hash on the user key with the time window as a filter") {
    val plan = SparkEntry.queries("q_window_funnel")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"the EXISTS chain must never plan a cartesian:\n$plan")
    // the corpus projection is snapshot once; the remaining plan reads
    // only the materialized frame — no parquet re-scan per stage
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans === 0,
      s"stages must reuse the one checkpointed events frame, found $scans scans:\n$plan")
  }

  test("q_ship_lag scans each side once and joins on the order key") {
    val plan = SparkEntry.queries("q_ship_lag")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans === 2, s"exactly lineitem + orders, got $scans scans:\n$plan")
    assert(plan.contains("l_orderkey") && !plan.contains("CartesianProduct"))
  }

  test("NO declared plan runs an empty-partition-spec window over a content-growing frame") {
    // The r13 q_vocab_coverage defect, generalized into a FULL-SURFACE
    // net (round 15 — the r14 verdict's #2: the previous ~60-ID
    // allowlist let q_abc_class's single-reducer cumulative window
    // hide for three rounds): a Window with an EMPTY partition spec
    // funnels its whole input through one reducer, which is only legal
    // when that input is domain-bounded — collapsed first by an
    // aggregate over domain-bounded keys (days, event types,
    // languages, magnitude bands, literal grid points), or cut by a
    // limit/bounded top-k. An aggregate grouped by a CONTENT key
    // (token, shingle, gram, doc id, prefix) does NOT bound anything —
    // Heaps' law grows the vocabulary as a power of corpus size — and
    // that is exactly the shape this walk rejects: the first
    // collapsing operator below every global window must be a limit or
    // a non-content-keyed aggregate, for EVERY name in
    // SparkEntry.queries.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Window => LWindow}
    // Queries this net cannot express a verdict for (their global
    // window rides a frame bounded by something the walk cannot see,
    // e.g. an already-audited snapshot). This set must only SHRINK;
    // every addition needs a written rationale on its own line and a
    // dedicated plan test elsewhere in this suite.
    val exempt = Set.empty[String]
    val contentKeys = Set("w", "tok", "shingle", "gram", "doc_id", "prefix",
      "band_key", "h", "text")
    (SparkEntry.queries.keySet -- exempt).toSeq.sorted.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan
      plan.foreach {
        case win: LWindow if win.partitionSpec.isEmpty =>
          // pre-order collectFirst = the TOPMOST collapsing operator
          // under the window — the one whose output the window sorts
          win.child.collectFirst {
            case a: Aggregate => Left(a)
            case l: GlobalLimit => Right(l)
          } match {
            case Some(Left(a)) =>
              val content = a.groupingExpressions
                .flatMap(_.references.toSeq.map(_.name)).filter(contentKeys)
              assert(content.isEmpty,
                s"$name: global window consumes an aggregate grouped by content " +
                  s"key(s) ${content.distinct.mkString(",")} — a Heaps-law-growing " +
                  s"frame through one reducer:\n$plan")
            case Some(Right(_)) => // bounded by a limit — fine
            case None =>
              fail(s"$name: global window with no collapsing operator below it:\n$plan")
          }
        case _ =>
      }
    }
  }

  test("q_abc_class windows partition by band; only the band grid rides a global window") {
    // the round-15 rewrite's contract (the q_lift_curve two-pass
    // band-offset form): the ONLY empty-partition-spec windows consume
    // the ≤8192-key band grid, the per-part rank/cumsum windows
    // partition BY BAND, and the offset grid arrives broadcast
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = SparkEntry.queries("q_abc_class")(spark, sfDir)
    val lp = df.queryExecution.optimizedPlan
    lp.foreach {
      case w: LWindow if w.partitionSpec.isEmpty =>
        val agg = w.child.collectFirst { case a: Aggregate => a }
          .getOrElse(fail(s"global window with no aggregate below:\n$lp"))
        val keys = agg.groupingExpressions.flatMap(_.references.toSeq.map(_.name)).distinct
        assert(keys == Seq("band"),
          s"only the band grid may ride a global window, got keys $keys:\n$lp")
      case _ =>
    }
    val partWins = lp.collect { case w: LWindow if w.partitionSpec.nonEmpty => w }
    assert(partWins.nonEmpty, s"the rank/cumsum windows must partition by band:\n$lp")
    partWins.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.toSeq.map(_.name)).distinct
      assert(keys == Seq("band"),
        s"part-frame windows must partition by band, got $keys:\n$lp")
    }
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin") || phys.contains("BroadcastExchange"),
      s"the offset grid must arrive broadcast:\n$phys")
  }

  test("ranking metrics push their top-10 into TopKAgg partials, never a supplier window sort") {
    // q_ndcg/q_mrr/q_precision_at_k select each nation's top-10 via
    // the bounded-buffer aggregator (map-side partials ship <=10 rows
    // per nation x partition); a row_number window would shuffle-sort
    // the whole supplier frame into 25 partitions — the shape this
    // family exists to avoid at catalog scale.
    Seq("q_ndcg", "q_mrr", "q_precision_at_k").foreach { name =>
      val phys = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.sparkPlan.toString.toLowerCase
      assert(phys.contains("partial_topkagg"),
        s"$name: top-10 must combine map-side through TopKAgg:\n$phys")
      // the only windows are the macro-average folds over the <=25-row
      // nation frame; none may sort a supplier-keyed frame
      val winLines = phys.linesIterator.filter(_.contains("window")).toSeq
      assert(!winLines.exists(_.contains("l_suppkey")),
        s"$name: a window consumes the supplier frame:\n${winLines.mkString("\n")}")
    }
  }

  test("q_vocab_coverage pushes its top-1000 into partial aggregation over ONE corpus scan") {
    // the r14 rewrite's contract: totals + the bounded top-1000 come
    // from a single global aggregate over the vocab count frame —
    // TopKStrAgg partials ship <=1000 rows per partition, and no
    // window or second scan touches the vocabulary
    val plan = SparkEntry.queries("q_vocab_coverage")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("partial_topkstragg"),
      s"top-1000 buffer must combine map-side (partial mode):\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"coverage must be one corpus pass, found $scans:\n$plan")
    assert(!plan.contains("Window"),
      s"no window may touch the vocabulary frame:\n$plan")
  }

  test("q_doc_novelty computes df on the window's own (lang, shingle) exchange — no join back") {
    // the q_cross_doc_ngram one-shuffle form, asserted for novelty: df
    // rides the ONE content-keyed exchange as a window count; an agg +
    // corpus-sized join-back would re-shuffle the shingle payload a
    // second time. The only joins allowed key on doc_id (the bounded
    // per-doc rollup meeting the catalog).
    val plan = SparkEntry.queries("q_doc_novelty")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val shingleExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && l.contains("shingle"))
    assert(shingleExchanges === 1,
      s"expected exactly one (lang, shingle)-keyed exchange, got $shingleExchanges:\n$plan")
    val shingleKeyedJoin = plan.linesIterator
      .exists(l => l.contains("Join") && l.contains("shingle#"))
    assert(!shingleKeyedJoin,
      s"shingle df must come from the window, never a join back:\n$plan")
  }

  test("q_prefix_dup keys every exchange on the prefix domain — the corpus never joins back") {
    // both aggs (global prefix counts, per-source prefix counts) and
    // the join between them live in the Zipf-bounded prefix keyspace;
    // a doc-keyed join-back would drag the corpus through a second
    // content-sized shuffle. doc_id must not appear ANYWHERE in the
    // plan (the projection drops it at the scan).
    val plan = SparkEntry.queries("q_prefix_dup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("doc_id"),
      s"prefix exposure must never key on doc identity:\n$plan")
    val hashEx = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.nonEmpty && hashEx.forall(l => l.contains("prefix") || l.contains("source")),
      s"every exchange must stay in the (prefix, source) keyspace:\n${hashEx.mkString("\n")}")
  }

  test("q_split_leakage's only content-keyed shuffle is the train-probe join") {
    // the shingle frames meet once, keyed on (lang, shingle) — one
    // exchange per join side; everything after collapses to per-doc
    // then 2-row rollups. A doc-keyed join back to the corpus (the
    // shape q_doc_novelty's window form exists to avoid) would add
    // content-sized shuffles beyond these two.
    val plan = SparkEntry.queries("q_split_leakage")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val shingleExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && l.contains("shingle"))
    // at test scale the train-distinct side broadcasts (1 exchange for
    // its distinct); at scale both sides shuffle on the key (2) — any
    // MORE means a third content-sized pass crept in
    assert(shingleExchanges >= 1 && shingleExchanges <= 2,
      s"expected only the (lang, shingle) join's exchanges, got $shingleExchanges:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // the split rule must be computed in-row, never via a doc_id join
    // back to a second documents scan: the only parquet scans are the
    // two shingle-frame reads (train side + eval side)
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 2, s"split must derive in-row from md5(doc_id), found $scans scans:\n$plan")
  }

  test("q_countmin_err rides its vocab snapshot: fixed-grid agg, broadcast grid, bounded top-20") {
    val plan = SparkEntry.queries("q_countmin_err")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the corpus was scanned ONCE at snapshot build; the remaining plan
    // reads only the materialized vocab frame
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 0,
      s"grid and top-20 must both ride the vocab snapshot, found $scans scans:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must be a bounded TakeOrdered, not a global sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 1024-cell grid must broadcast to the top-20 probes:\n$plan")
  }

  test("q_shard_skew is one scan onto the fixed shard grid") {
    val plan = SparkEntry.queries("q_shard_skew")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"one corpus pass expected, found $scans:\n$plan")
    val hashEx = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.forall(_.contains("shard")),
      s"the only hash exchange is the 64-key shard agg:\n${hashEx.mkString("\n")}")
  }

  test("round-12 series diagnostics ride the daily frame's single exchange") {
    // ljung_box / pacf / sax_motifs / hurst all collapse the corpus to
    // the (|types|x|days|) daily frame first; everything after must
    // reuse that one event_type-keyed exchange (hurst adds only the
    // in-row window-size fan-out, never a second corpus shuffle)
    for (name <- Seq("q_ljung_box", "q_pacf", "q_sax_motifs")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
      assert(scans === 1, s"$name must scan events exactly once, got $scans:\n$plan")
    }
  }

  test("NO declared plan broadcast-HINTS an unbounded build side") {
    // The global-window walk's sibling (round 18 — the r17 verdict's
    // #1): an explicit broadcast() hint OVERRIDES the planner's size
    // estimate and AQE's runtime check — the build side ships to every
    // executor no matter how big it turns out. That is only legal when
    // the hinted subtree is PROVABLY bounded: collapsed by an
    // aggregate over domain-bounded keys, cut by a limit/bounded
    // top-k, a literal range/local relation, a probe filter (a fixed
    // modulo slice of an id space), or a fixed-size catalog dim
    // (nation/region — 25/5 rows at EVERY scale factor). An aggregate
    // grouped by a CONTENT key (token, shingle, gram, trigram, doc id)
    // bounds nothing — Heaps' law grows those domains with the
    // corpus — unless ITS input was already bounded by one of the
    // shapes above. Corpus-derived models that may outgrow a broadcast
    // at 100 TB (the q_ppl_bucket trigram LM) must carry NO hint and
    // let the planner/AQE size the build at runtime — unhinted joins
    // are engine-size-guarded by construction and pass this walk.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST,
      GlobalLimit, HintInfo, Join, LocalLimit, LocalRelation, LogicalPlan,
      Range => LRange}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // This set must only SHRINK; every addition needs a written
    // rationale on its own line and a dedicated plan test elsewhere.
    val exempt = Set.empty[String]
    val contentKeys = Set("w", "tok", "shingle", "gram", "doc_id", "prefix",
      "band_key", "h", "text", "tri", "vec_id")
    def isBroadcast(h: Option[HintInfo]): Boolean =
      h.exists(_.strategy.contains(BROADCAST))
    def keyNames(a: Aggregate): Seq[String] =
      a.groupingExpressions.flatMap(_.references.toSeq.map(_.name)).distinct
    // The probe-set idioms: a modulo slice of an id space (every Nth
    // vector/doc becomes a probe), a literal comparison pinning an id
    // column to a fixed prefix/point (vec_id < 10), or the repo's
    // deterministic md5(id) sample slice. Each selects a
    // query-constant-sized (or fixed-tiny-fraction benchmark-style)
    // set; a VALUE predicate on a fact column (price > x) is NOT a
    // probe — it keeps a scale-growing fraction.
    def isProbe(f: LFilter): Boolean = {
      import org.apache.spark.sql.catalyst.expressions.{
        AttributeReference, BinaryComparison, Literal}
      val s = f.condition.toString
      s.contains(" % ") || s.contains("md5(") || f.condition.exists {
        case c: BinaryComparison => Seq(c.left, c.right).exists {
          case a: AttributeReference => a.name.endsWith("_id")
          case _ => false
        } && Seq(c.left, c.right).exists(_.isInstanceOf[Literal])
        case _ => false
      }
    }
    def bounded(p: LogicalPlan): Option[String] = p match {
      case a: Aggregate =>
        val bad = keyNames(a).filter(contentKeys)
        if (bad.isEmpty) Some(s"agg[${keyNames(a).mkString(",")}]")
        else bounded(a.child).map(r => s"content-agg over $r")
      case _: GlobalLimit | _: LocalLimit => Some("limit")
      case _: LRange => Some("literal-range")
      case _: LocalRelation => Some("literal-table")
      case f: LFilter if isProbe(f) => Some("probe-filter")
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        // a row-guarded broadcast (Q.sizedBroadcast counted the
        // materialized frame and hinted only under its bound) is
        // bounded by the guard itself; otherwise resolve the
        // checkpoint back to its recorded origin plan and classify
        // THAT (chained snapshots recurse)
        Q.rowGuard(r.rdd.id).map { case (n, cap) => s"row-guard($n<=$cap)" }
          .orElse(Q.snapshotOrigin(r.rdd.id).flatMap(bounded(_))
            .map(o => s"snapshot of $o"))
      case r: LogicalRelation =>
        import org.apache.spark.sql.execution.datasources.HadoopFsRelation
        val path = r.relation match {
          case h: HadoopFsRelation =>
            h.location.rootPaths.headOption.map(_.getName).getOrElse("")
          case _ => ""
        }
        if (path.startsWith("nation") || path.startsWith("region"))
          Some(s"fixed-dim $path")
        else None
      case other if other.children.nonEmpty =>
        // transparent single-child ops recurse; a join/union build is
        // bounded only when EVERY input is (a bounded dim joined to a
        // fact is fact-sized — one bounded side proves nothing)
        val kids = other.children.map(bounded(_))
        if (kids.forall(_.isDefined)) Some(kids.flatten.mkString("+")) else None
      case _ => None
    }
    def trees(p: LogicalPlan): Seq[LogicalPlan] = {
      val nodes = p.collect { case n => n }
      nodes ++ nodes.flatMap(_.subqueries.flatMap(trees))
    }
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    (SparkEntry.queries.keySet -- exempt).toSeq.sorted.foreach { name =>
      val lp = SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan
      trees(lp).foreach {
        case j: Join =>
          val sides = Seq(
            (isBroadcast(j.hint.leftHint), j.left, "left"),
            (isBroadcast(j.hint.rightHint), j.right, "right"))
          sides.foreach { case (hinted, side, which) =>
            if (hinted && bounded(side).isEmpty)
              violations += s"$name: broadcast-hinted $which side is not " +
                s"provably bounded:\n$side"
          }
        case _ =>
      }
    }
    assert(violations.isEmpty,
      s"${violations.size} unbounded broadcast-hinted build side(s):\n\n" +
        violations.mkString("\n\n"))
  }
}
