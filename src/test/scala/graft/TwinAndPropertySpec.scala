package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-cutting properties (SURVEY §5.4): stream/batch twin
  * equivalence, dedup idempotence, top-k ⊆ sorted prefix, set algebra. */
class TwinAndPropertySpec extends SparkSpec {

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  test("batch twin q_tumbling_batch equals a direct epoch-floor grouping") {
    val direct = Tables.events(spark, sfDir)
      .select((Q.epochSec(col("ts")).cast("long")).as("es"),
        col("event_type"), col("value"))
      .groupBy(((col("es") / 600).cast("long") * 600).as("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), Q.r2(sum(col("value"))).as("sum_value"))
    val twin = q("q_tumbling_batch")
    assert(twin.except(direct).isEmpty && direct.except(twin).isEmpty)
  }

  test("q_dedup_exact is idempotent and covers every document") {
    val dedup = q("q_dedup_exact").cache()
    val docs = Tables.load(spark, sfDir, "documents")
    // coverage: copies across hash groups sum to the corpus size
    assert(dedup.agg(sum("n_copies")).head().getLong(0) === docs.count())
    // idempotence: dedup of the keeper set keeps everything (1 copy each)
    val keepers = docs.join(dedup.select(col("keeper").as("doc_id")), "doc_id")
    val again = keepers.groupBy(md5(col("text").cast("binary")))
      .agg(count(lit(1)).as("n"))
    assert(again.filter(col("n") > 1).isEmpty)
    dedup.unpersist()
  }

  test("q_topk is the 20-row prefix of the full sort") {
    val full = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(20).collect()
    assert(q("q_topk").collect().toSeq === full.toSeq)
  }

  test("union/except algebra: (A ∪ B) ∖ B ⊆ A and A ∩ B disjoint from A ∖ B") {
    val e = Tables.events(spark, sfDir)
    val a = e.filter(col("event_type") === "purchase").select("user_id")
    val b = e.filter(col("event_type") === "error").select("user_id")
    assert(a.union(b).except(b).except(a).isEmpty)
    assert(a.intersect(b).intersect(a.except(b)).isEmpty)
  }

  test("as-of join: every matched prior view is strictly earlier") {
    val asof = q("q_join_asof")
    val views = Tables.events(spark, sfDir)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), Q.epochSec(col("ts")).as("v_es"))
    val purchases = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), Q.epochSec(col("ts")).as("p_es"))
    val joined = asof.join(purchases, "event_id")
    // constraint: prior_view_es < purchase es
    assert(joined.filter(col("prior_view_es") >= col("p_es")).isEmpty)
    // tightness: no view exists strictly between prior_view_es and p_es
    val tighter = joined.join(views,
        col("user_id") === col("v_user") &&
        col("v_es") > col("prior_view_es") && col("v_es") < col("p_es"))
    assert(tighter.isEmpty)
  }

  test("native CosineSim expression is value-identical to the HOF formulation") {
    // same query, two implementations: codegen'd expression vs
    // aggregate∘zip_with — must produce byte-identical results
    assert(q("q_sim_expr").collect().toSeq === q("q_sim_brute").collect().toSeq)
  }

  test("BroadcastRangeJoinExec returns exactly the nested-loop range join's rows") {
    // the custom-planned operator (binary-searched build side) and the
    // default BroadcastNestedLoopJoin formulation share one oracle —
    // their collected results must be identical
    assert(q("q_join_range_native").collect().toSeq === q("q_join_range").collect().toSeq)
  }

  test("interval_match composes with pushdown and degrades gracefully off-shape") {
    val bands = Tables.load(spark, sfDir, "nation")
      .select(col("n_nationkey").as("band_id"),
        (col("n_nationkey") * 2.0).as("lo"),
        (col("n_nationkey") * 2.0 + 2.0).as("hi"))
    val li = Tables.load(spark, sfDir, "lineitem")
    val im = call_function("interval_match", col("l_quantity"), col("lo"), col("hi"))
    // a single-side conjunct is pushed below the join by the optimizer,
    // so the strategy still sees a pure interval_match and fires — the
    // custom operator composes with predicate pushdown
    val pushed = li.join(bands, im && col("band_id") >= 0)
      .groupBy("band_id").agg(count(lit(1)).as("n_items")).orderBy("band_id")
    assert(pushed.queryExecution.executedPlan.toString.contains("BroadcastRangeJoin"),
      "single-side conjuncts must push down, leaving the shape claimable")
    // a CROSS-side residual cannot be pushed — the strategy must decline
    // and Spark plans conventionally, with interval_match evaluating as
    // a plain predicate (same rows as the between formulation)
    val residual = li.join(bands, im && col("l_orderkey") % 5 =!= col("band_id") % 5)
    assert(!residual.queryExecution.executedPlan.toString.contains("BroadcastRangeJoin"),
      "strategy must decline a cross-side multi-conjunct condition")
    val viaBetween = li.join(bands,
        col("l_quantity") >= col("lo") && col("l_quantity") < col("hi") &&
          col("l_orderkey") % 5 =!= col("band_id") % 5)
    assert(residual.count() === viaBetween.count())
    // and the pushed variant returns exactly the canonical band counts
    val expected = q("q_join_range").select("band_id", "n_items")
    assert(pushed.collect().toSeq === expected.collect().toSeq)
  }

  test("native ZOrder2 expression equals the int64 shift/mask arithmetic twin") {
    // the same interleave three ways: codegen'd expression, Spark SQL
    // arithmetic (the zorderSql helper the DuckDB oracle also uses), and
    // a Scala reference — all must agree bit-for-bit, interpreted and
    // codegen'd alike
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        graft.functions.ZOrder2.zorder2(col("l_partkey"), col("l_suppkey")).as("znat"),
        expr(graft.functions.ZOrder2.zorderSql("l_partkey", "l_suppkey")).as("ztwin"))
    assert(li.filter(col("znat") =!= col("ztwin")).isEmpty)
    // spot-check the Scala reference on a handful of rows
    li.limit(50).collect().foreach { r =>
      val want = graft.functions.ZOrder2.spread(r.getLong(0) & 0xFFFFL) |
        (graft.functions.ZOrder2.spread(r.getLong(1) & 0xFFFFL) << 1)
      assert(r.getLong(2) === want)
    }
    // interleave property: z-adjacent codes differ in exactly one
    // coordinate's low bits — (x,y) recoverable by de-interleave
    val z = graft.functions.ZOrder2.spread(0xABCDL) | (graft.functions.ZOrder2.spread(0x1234L) << 1)
    def unspread(v0: Long): Long = {
      var v = v0 & 0x55555555L
      v = (v | (v >> 1)) & 0x33333333L
      v = (v | (v >> 2)) & 0x0F0F0F0FL
      v = (v | (v >> 4)) & 0x00FF00FFL
      v = (v | (v >> 8)) & 0x0000FFFFL
      v
    }
    assert(unspread(z) === 0xABCDL && unspread(z >> 1) === 0x1234L)
  }

  test("cosine_sim is registered for SQL via SparkSessionExtensions") {
    val d = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").head().getDouble(0)
    assert(math.abs(d - 1.0) < 1e-12)
  }

  test("IVF kNN scores agree with directly computed cosine") {
    // the raw neighbor lists moved behind ops.Similarity.ivfKnn when
    // the query flipped to the r11 recall-audit form
    val ivf = ops.Similarity.ivfKnn(spark, sfDir).select("probe_id", "cand_id", "score")
    val e = Tables.load(spark, sfDir, "embeddings")
    val direct = ivf
      .join(e.select(col("vec_id").as("probe_id"), col("embedding").as("pe")), "probe_id")
      .join(e.select(col("vec_id").as("cand_id"), col("embedding").as("ce")), "cand_id")
      .withColumn("direct",
        Q.r4(graft.functions.CosineSim.cosine_sim(col("pe"), col("ce"))))
    assert(direct.filter(col("score") =!= col("direct")).isEmpty)
  }

  test("approximate kNN recall@5 vs brute-force ground truth is ≥ 0.6") {
    // the tuning contract a real user of q_knn_lsh / q_knn_ivf needs:
    // how much of the true top-5 the approximate paths return
    val truth = q("q_sim_brute").select("probe_id", "cand_id").cache()
    val denom = truth.count().toDouble
    def recallAt5(approx: org.apache.spark.sql.DataFrame): Double =
      truth.join(approx.select("probe_id", "cand_id"), Seq("probe_id", "cand_id"))
        .count() / denom
    val lsh = recallAt5(ops.Similarity.lshKnn(spark, sfDir))
    val ivf = recallAt5(ops.Similarity.ivfKnn(spark, sfDir))
    truth.unpersist()
    assert(lsh >= 0.6, s"LSH recall@5 = $lsh")
    assert(ivf >= 0.6, s"IVF recall@5 = $ivf")
    // ... and the driver-facing audit queries agree with the floor
    for (name <- Seq("q_knn_lsh", "q_knn_ivf"))
      assert(q(name).filter(!col("recall_ok")).isEmpty, s"$name audit verdict false")
  }

  test("dot_product is bit-identical to the aggregate∘zip_with fold it replaced") {
    // r18: ops.Similarity.dot moved from the interpreted HOF fold to the
    // codegen'd DotProduct expression — same left-to-right double
    // accumulation, same float widening. Bit-identical on the real
    // corpus (=== on doubles, no tolerance), or the PQ/SQ8 lattice
    // floors could flip a code assignment between engines.
    val e = Tables.load(spark, sfDir, "embeddings")
      .withColumn("de", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    val both = e.select(
      graft.functions.DotProduct.dot_product(col("de"), col("de")).as("native"),
      expr("aggregate(zip_with(de, de, (p, q) -> p * q), CAST(0 AS DOUBLE), " +
        "(acc, v) -> acc + v)").as("hof"),
      // float input widens identically to the CAST(p AS DOUBLE) * q form
      graft.functions.DotProduct.dot_product(col("embedding"), col("embedding")).as("nativef"),
      expr("aggregate(zip_with(embedding, embedding, (p, q) -> CAST(p AS DOUBLE) * q), " +
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)").as("hoff"))
    assert(both.filter(col("native") =!= col("hof") ||
      col("nativef") =!= col("hoff")).isEmpty)
    // null semantics match the fold: ragged → null, null element → null,
    // empty → the fold's 0.0 zero
    val r = spark.sql(
      """SELECT dot_product(array(CAST(1.0 AS DOUBLE)),
        |                   array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE))) AS ragged,
        |       dot_product(array(CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE)),
        |                   array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE))) AS nullelem,
        |       dot_product(CAST(array() AS ARRAY<DOUBLE>),
        |                   CAST(array() AS ARRAY<DOUBLE>)) AS empty,
        |       dot_product(array(CAST(3.0 AS DOUBLE)), array(CAST(4.0 AS DOUBLE))) AS ok
        |""".stripMargin).head()
    assert(r.isNullAt(0), "ragged must be null")
    assert(r.isNullAt(1), "null element must be null")
    assert(r.getDouble(2) === 0.0, "empty fold is 0.0")
    assert(r.getDouble(3) === 12.0)
  }

  test("pq_encode replicates the r18 explode+join+argmax PQ encode bit-for-bit") {
    // r19: the corpus-wide PQ encode moved from pqSub explode →
    // broadcast-codebook join → struct-max argmax → groupBy collect to
    // ONE in-row expression over the driver-collected codebook
    // (functions.PqEncode). Same rows, same qe arrays, element-for-
    // element === on doubles (no tolerance) — or the ADC lattice floors
    // could flip a shortlist rank. Both the 16- and 64-code books and
    // both input dtypes (double view / raw float column) are pinned.
    val e = Tables.load(spark, sfDir, "embeddings")
      .withColumn("de", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .select("vec_id", "embedding", "de")
    for (codes <- Seq(16, 64)) {
      val sub = ops.Similarity.pqSub(e.select("vec_id", "de"))
      val c2 = ops.Similarity.pqCodebook(sub, codes)
      val old = ops.Similarity.pqAssign(sub, c2, carry = "cv")
        .groupBy("vec_id")
        .agg(expr("flatten(transform(array_sort(collect_list(struct(j, cv))), z -> z.cv))")
          .as("qe"))
      val nu = ops.Similarity.pqReconstructed(e.select("vec_id", "de"), codes)
      val joined = old.withColumnRenamed("qe", "qe_old").join(nu, "vec_id")
      assert(joined.count() === e.count(), s"row sets differ at codes=$codes")
      assert(joined.filter(
        size(col("qe_old")) =!= size(col("qe")) ||
          expr("exists(zip_with(qe_old, qe, (a, b) -> a <> b), x -> x)")).isEmpty,
        s"qe arrays differ at codes=$codes")
      // raw float input widens identically to the de view
      val nuf = ops.Similarity.withPqReconstruction(e, codes)
        .select(col("vec_id"), col("qe").as("qe_de"))
        .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      // (qe over de) vs (qe over float embedding) through the same codebook
      val cbl = ops.Similarity.pqCodebook(ops.Similarity.pqSub(e.select("vec_id", "de")), codes)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
        .sortBy(t => (t._1, t._2))
      val cvs = (0 to 3).map(j => cbl.filter(_._1 == j).map(_._3.toIndexedSeq).toIndexedSeq)
      val cvvs = cvs.map(_.map { cv =>
        var acc = 0.0; var i = 0
        while (i < cv.length) { acc += cv(i) * cv(i); i += 1 }
        acc / 2.0
      })
      assert(nuf
        .withColumn("qe_f", graft.functions.PqEncode.pq_encode(col("embedding"), cvs, cvvs))
        .filter(expr("exists(zip_with(qe_de, qe_f, (a, b) -> a <> b), x -> x)"))
        .isEmpty, s"float-input qe differs at codes=$codes")
    }
  }

  test("char_trigram_tfs equals the HOF sort + run-length fold it replaced") {
    // r18: q_ppl_bucket's in-row trigram fold moved to the native
    // expression. Same sorted order (unsigned-byte UTF8String compare =
    // array_sort's string order), same run lengths, same struct fields —
    // element-for-element on the real corpus, or the LM counts drift.
    val hof = Tables.load(spark, sfDir, "documents")
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"),
        expr("array_sort(transform(sequence(1, length(text) - 2)," +
          " i -> substring(text, i, 3)))").as("tris"))
      .withColumn("nt", size(col("tris")))
      .withColumn("starts", expr(
        "filter(sequence(0, nt - 1), i -> i = 0 OR tris[i] <> get(tris, i - 1))"))
      .select(col("doc_id"), expr(
        """transform(starts, (st, j) ->
          |  struct(get(tris, st) AS tri,
          |         CAST(coalesce(get(starts, j + 1), nt) - st AS BIGINT) AS tf))"""
          .stripMargin).as("pairs"))
    val native = Tables.load(spark, sfDir, "documents")
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"),
        graft.functions.CharTrigramTfs.char_trigram_tfs(col("text")).as("pairs"))
    assert(hof.exceptAll(native).isEmpty && native.exceptAll(hof).isEmpty)
    // empty-ish input: below 3 code points the fold is empty, and a
    // multi-byte text slices on code-point boundaries
    val r = spark.sql(
      "SELECT char_trigram_tfs('ab') AS short, char_trigram_tfs('ééxé') AS mb").head()
    assert(r.getSeq[Any](0).isEmpty)
    assert(r.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0)).sorted ===
      Seq("ééx", "éxé").sorted)
  }

  test("markov_conv_reach equals the 12-round join loop it replaced") {
    // r18: q_markov_attribution's matrix power moved in-row. Rebuild the
    // OLD formulation (12 join+agg rounds) over the same transition
    // frame and compare per-chain conv reach bit-for-bit.
    val m = ops.Analytics.markovTransitions(spark, sfDir)
    var q = spark.createDataFrame(Seq(0, 1, 2, 3, 4).map(Tuple1(_))).toDF("chain")
      .select(col("chain"), lit("start").as("st"), lit(1.0).as("p"))
    for (_ <- 1 to 12) {
      q = m.join(q.withColumnRenamed("st", "src"),
          q("chain") === m("chain") && col("src") === col("cur"))
        .groupBy(m("chain").as("chain2"), col("nxt"))
        .agg(sum(floor(col("p") * (col("p12").cast("double") / lit(1e12)) *
          lit(1e12) + 0.5).cast("long")).as("s12"))
        .select(col("chain2").as("chain"), col("nxt").as("st"),
          (col("s12").cast("double") / lit(1e12)).as("p"))
    }
    val oldWay = q.filter(col("st") === "conv").select("chain", "p")
    val newWay = m.groupBy("chain")
      .agg(collect_list(struct(col("cur"), col("nxt"), col("p12"))).as("edges"))
      .select(col("chain"),
        graft.functions.MarkovConvReach.markov_conv_reach(col("edges")).as("p"))
      .filter(col("p").isNotNull)
    assert(oldWay.exceptAll(newWay).isEmpty && newWay.exceptAll(oldWay).isEmpty)
  }

  test("cosine_sim is null (not garbage) on ragged or zero-norm input") {
    val rows = spark.sql(
      """SELECT cosine_sim(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS ragged,
        |       cosine_sim(array(CAST(0.0 AS FLOAT)), array(CAST(1.0 AS FLOAT))) AS zero_norm,
        |       cosine_sim(array(CAST(3.0 AS FLOAT)), array(CAST(4.0 AS FLOAT))) AS ok""".stripMargin)
      .head()
    assert(rows.isNullAt(0), "length mismatch must be null")
    assert(rows.isNullAt(1), "zero-norm vector must be null")
    assert(math.abs(rows.getDouble(2) - 1.0) < 1e-12)
  }

  test("frame sampling decodes every stride-2 frame of every container") {
    val frames = ops.Multimodal.sampledFrameStats(spark, sfDir).cache()
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id")
    // container synthesis emits 2..6 frames; stride 2 keeps ceil(n/2);
    // decoded luminance is a [0,1] mean and every frame has pixels
    val bad = frames.filter(
      col("n_frames") < 2 || col("n_frames") > 6 ||
        col("n_sampled") =!= expr("(n_frames + 1) div 2") ||
        col("pixels_sampled") < col("n_sampled") ||
        col("avg_lum") < 0 || col("avg_lum") > 1)
    assert(bad.isEmpty, bad.collect().mkString(","))
    assert(frames.count() === docs.count())
    frames.unpersist()
  }

  test("Graft SQL facade answers TPC-H-Q1-shape SQL over registered views") {
    Graft.registerTables(spark, sfDir)
    val viaSql = Graft.sql(spark,
      """SELECT l_returnflag, l_linestatus,
        |       floor((sum(l_quantity))*100+0.5)/100 AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    val viaDf = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(Q.r2(sum("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
    assert(viaSql.collect().toSeq === viaDf.collect().toSeq)
    // the native expression is reachable from SQL over a real view
    val sim = Graft.sql(spark,
      "SELECT cosine_sim(embedding, embedding) AS c FROM embeddings LIMIT 5")
    assert(sim.collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }

  test("aggregation-pushed top-k equals the window formulation row-for-row") {
    // bounded-heap Aggregator vs row_number window: same ordering
    // contract, radically different shuffle volume — results must be
    // byte-identical
    assert(q("q_topk_agg").collect().toSeq === q("q_win_topk_group").collect().toSeq)
  }

  test("q_ngram_freq / q_text_stats equal their window formulations row-for-row") {
    // the r8 rewrite replaced the per-lang row_number window with
    // partial-aggregating top-k (TopKStrAgg / min_by); the ordering
    // contract (count DESC, term ASC) must be bit-identical, or the
    // unchanged SQL oracles would catch it a round later — catch it here
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy("lang")
    val words = split(col("text"), " ")
    val bigramWin = Tables.load(spark, sfDir, "documents")
      .select(col("lang"), words.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("lang"),
        explode(expr("transform(sequence(0, size(ws) - 2), i -> concat_ws(' ', ws[i], ws[i+1]))"))
          .as("bigram"))
      .groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
      .withColumn("rk",
        row_number().over(byLang.orderBy(col("n").desc, col("bigram"))).cast("long"))
      .filter(col("rk") <= 10)
      .select("lang", "bigram", "n", "rk")
      .orderBy("lang", "rk")
    assert(q("q_ngram_freq").collect().toSeq === bigramWin.collect().toSeq)
    val wordWin = Tables.load(spark, sfDir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      .withColumn("rn",
        row_number().over(byLang.orderBy(col("c").desc, col("w"))))
      .filter(col("rn") === 1)
      .select(col("lang"), col("w").as("top_word"), col("c").as("top_count"))
      .orderBy("lang")
    assert(q("q_text_stats").select("lang", "top_word", "top_count").collect().toSeq
      === wordWin.collect().toSeq)
  }

  test("TopKAgg / TopKStrAgg equal sort-take-k under arbitrary merge splits") {
    // the bounded buffer must be a homomorphism: any partitioning of
    // the input into partial buffers, merged in any grouping, yields
    // exactly sortBy(score DESC, id ASC).take(k) — that's what makes
    // map-side partial aggregation safe
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.functions.{Scored, ScoredStr, TopKAgg, TopKStrAgg}
    val scoreGen = Gen.chooseNum(-5.0, 5.0).map(x => math.floor(x * 4) / 4) // force ties
    val rowsGen = Gen.listOf(Gen.zip(scoreGen, Gen.chooseNum(0L, 30L)))
    val kGen = Gen.choose(1, 6)
    val splitGen = Gen.choose(1, 5)
    val prop = Prop.forAll(rowsGen, kGen, splitGen) { (rows, k, nSplits) =>
      val expectLong = rows.map { case (sc, id) => Scored(sc, id) }
        .sortBy(e => (-e.score, e.id)).take(k)
      val expectStr = rows.map { case (sc, id) => ScoredStr(sc, s"w$id") }
        .sortBy(e => (-e.score, e.id)).take(k)
      val aggL = new TopKAgg(k)
      val aggS = new TopKStrAgg(k)
      val partsL = rows.map { case (sc, id) => Scored(sc, id) }
        .grouped(math.max(1, rows.size / nSplits)).toList
        .map(_.foldLeft(aggL.zero)(aggL.reduce))
      val partsS = rows.map { case (sc, id) => ScoredStr(sc, s"w$id") }
        .grouped(math.max(1, rows.size / nSplits)).toList
        .map(_.foldLeft(aggS.zero)(aggS.reduce))
      val gotL = aggL.finish(partsL.foldLeft(aggL.zero)(aggL.merge))
      val gotS = aggS.finish(partsS.foldLeft(aggS.zero)(aggS.merge))
      gotL == expectLong && gotS == expectStr
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("packed sequences tile each shard's token stream without gaps or overlap") {
    // concatenate-and-cut invariants: within a shard, offsets are
    // contiguous in doc_id order (next start = prev start + prev tok),
    // the first doc starts at 0, and bin spans follow from the offsets
    val rows = q("q_pack_sequences")
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (shard, docs) =>
      val inOrder = docs.sortBy(_._2)
      assert(inOrder.head._4 === 0L, s"shard $shard must start at offset 0")
      inOrder.sliding(2).foreach {
        case Array((_, _, tok1, off1), (_, d2, _, off2)) =>
          assert(off2 === off1 + tok1, s"gap/overlap before doc $d2 in shard $shard")
        case _ =>
      }
    }
    val withBins = q("q_pack_sequences").collect()
    withBins.foreach { r =>
      val (tok, off, first, last, n) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(first === off / 256 && last === (off + tok - 1) / 256 && n === last - first + 1)
    }
  }

  test("bm25 ranks only docs containing a query term, correctly ordered per lang") {
    val out = q("q_bm25").collect()
    assert(out.nonEmpty)
    val byLang = out.groupBy(_.getString(0))
    byLang.foreach { case (lang, rows) =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq === (1L to sorted.length).toSeq)
      // scores non-increasing in rank; doc_id ascending on ties
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val (sa, sb) = (a.getDouble(2), b.getDouble(2))
          assert(sa > sb || (sa == sb && a.getLong(1) < b.getLong(1)),
            s"rank order violated in $lang")
        case _ =>
      }
      assert(rows.length <= 10)
    }
    // every ranked doc really contains at least one query term
    val ids = out.map(_.getLong(1)).toSeq
    val hasTerm = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(expr("size(filter(ws, x -> x IN ('data', 'query', 'scan'))) = 0"))
    assert(hasTerm.isEmpty)
  }

  test("CDC chunks reassemble to the original text and boundaries are content-defined") {
    // concatenating a doc's chunks in chunk_id order must rebuild the
    // text byte-for-byte (no word lost or duplicated at boundaries)
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val rebuilt = q("q_chunk_cdc")
      .groupBy("doc_id")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(chunk_id, chunk))), x -> x.chunk), ' ')")
        .as("rebuilt"))
    val broken = docs.join(rebuilt, "doc_id").filter(col("text") =!= col("rebuilt"))
    assert(broken.isEmpty, "CDC chunks must tile the document exactly")
    // content-defined: every chunk after the first starts right after a
    // boundary word, i.e. the previous chunk's LAST word hashes to '0'
    val lastWordIsBoundary = substring(
      md5(element_at(split(col("chunk"), " "), -1).cast("binary")), 1, 1) === "0"
    val nonFinalChunks = q("q_chunk_cdc").as("c")
      .join(q("q_chunk_cdc").groupBy("doc_id").agg(max("chunk_id").as("mx")), "doc_id")
      .filter(col("chunk_id") < col("mx"))
    assert(nonFinalChunks.filter(!lastWordIsBoundary).isEmpty,
      "every non-final chunk must end on a boundary word")
  }

  test("doc chunks reassemble to the original text") {
    // stride-width prefixes of consecutive chunks, concatenated in
    // chunk_id order, must rebuild every document byte-for-byte — the
    // no-gap/no-drop guarantee chunking owes a training pipeline.
    val chunks = q("q_doc_chunk")
      .select(col("doc_id"), col("chunk_id"), substring(col("chunk"), 1, 150).as("piece"))
    val joined = chunks
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("chunk_id"), col("piece")))),
        e => e("piece")), "").as("rebuilt"))
      .join(Tables.load(spark, sfDir, "documents").select("doc_id", "text"), "doc_id")
    assert(joined.filter(col("rebuilt") =!= col("text")).isEmpty)
  }

  test("hash split is exhaustive, disjoint and near the 80/10/10 target") {
    val split = q("q_sample_split").cache()
    val docs = Tables.load(spark, sfDir, "documents")
    assert(split.count() === docs.count())
    val bySplit = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    val n = docs.count().toDouble
    val train = bySplit.getOrElse("train", 0L) / n
    // md5 is uniform; at 500+ docs the 80% bucket stays within ±10pp
    assert(train > 0.70 && train < 0.90, s"train share = $train")
    split.unpersist()
  }

  test("near-dup pairs all reach the Jaccard threshold and LSH recalls exact pairs") {
    val near = q("q_dedup_near").cache()
    assert(near.filter(col("jaccard") < 0.8).isEmpty)
    // every exact-duplicate pair (identical text ⇒ Jaccard 1.0) must be
    // among the deterministic-MinHash LSH candidates
    val lsh = q("q_minhash_lsh")
    val exactPairs = near.filter(col("jaccard") === 1.0).select("d1", "d2")
    assert(exactPairs.except(lsh.select("d1", "d2")).isEmpty)
    near.unpersist()
  }

  test("streaming decontam agrees with the batch q_decontam flag set") {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents")
    val isHoldout = substring(md5(col("doc_id").cast("string")), 1, 2) >= "e6"
    val train = docs.filter(!isHoldout).select("doc_id", "lang", "text")
    val holdoutShingles = ops.TextPipeline.shingles(spark, sfDir)
      .filter(isHoldout).select("lang", "shingle").distinct()
    // decontamStream is a plain stream-legal transform — running it in
    // batch mode over the training docs must keep exactly the docs the
    // batch operator does NOT flag
    val keptByStream = streaming.Streams.decontamStream(train, holdoutShingles)
      .select("doc_id").as[Long].collect().toSet
    val flagged = q("q_decontam").select("doc_id").as[Long].collect().toSet
    val trainIds = train.select("doc_id").as[Long].collect().toSet
    assert(keptByStream === (trainIds -- flagged))
  }

  /** The built-in formulation of streaming decontamination, the
    * reference for `decontamStream`'s in-row kernel: each document's
    * distinct shingle array (TextPipeline.ShingleArrayExpr, empty below
    * 3 words) is probed with arrays_overlap against its language's
    * collected holdout set, reached through a broadcast lang join. */
  private def decontamByShingleArrays(docs: DataFrame, holdoutShingles: DataFrame): DataFrame = {
    val ho = holdoutShingles.groupBy("lang").agg(collect_set(col("shingle")).as("ho"))
    docs
      .withColumn("words", split(col("text"), " "))
      .withColumn("shingles", expr(
        s"""CASE WHEN size(words) >= 3
           |     THEN ${ops.TextPipeline.ShingleArrayExpr}
           |     ELSE array() END""".stripMargin))
      .join(broadcast(ho), Seq("lang"), "left")
      .filter(col("ho").isNull || !arrays_overlap(col("shingles"), col("ho")))
      .select("doc_id", "lang", "text")
  }

  private def keptIds(df: DataFrame): Set[Long] = {
    import spark.implicits._
    df.select("doc_id").as[Long].collect().toSet
  }

  test("decontamStream keeps the docs the shingle-array formulation keeps on the corpus") {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "lang", "text")
    // a seeded 5% of the documents donate every shingle to the holdout;
    // collected once so both formulations probe identical rows
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val donors = new scala.util.Random(20261019).shuffle(ids.toSeq).take(ids.length / 20)
    val holdout = ops.TextPipeline.shingles(spark, sfDir)
      .filter(col("doc_id").isin(donors: _*)).select("lang", "shingle")
    val held = spark.createDataFrame(holdout.collect().toSeq.asJava, holdout.schema)
    val byKernel = keptIds(streaming.Streams.decontamStream(docs, held))
    val byArrays = keptIds(decontamByShingleArrays(docs, held))
    assert(byKernel === byArrays)
    // not vacuous: the donors themselves and more are dropped, most kept
    val dropped = ids.toSet -- byKernel
    assert(donors.toSet.subsetOf(dropped) && dropped.size > donors.size && byKernel.nonEmpty,
      s"dropped ${dropped.size} of ${ids.length} for ${donors.size} donors")
  }

  test("decontamStream matches the shingle-array formulation on tokenization edge cases") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docs = Seq[(Long, String, String)](
      (1L, "en", ""),
      (2L, "en", "two words"),
      (3L, "en", "three word text"), // exactly 3 words, held out
      (4L, "en", "other three words"), // exactly 3 words, not held out
      (5L, "en", " lead space here"), // words "", lead, space, here
      (6L, "en", "x y z "), // trailing empty word: shingle "y z "
      (7L, "en", "a  b c"), // double space: shingles "a  b", " b c" — never "a b c"
      (8L, "en", "c  d"), // 2 visible words, 3 split words: shingle "c  d"
      (9L, "en", "p\tq r s"), // a tab is not a separator: "p\tq r s" only
      (10L, "en", "café naïve 日本語 text"),
      (11L, "en", "日本語 über straße"),
      (12L, "en", "la la la la la"), // one shingle repeated three times
      (13L, "en", "lo lo lo lo"),
      (14L, "en", null),
      (15L, null, "the quick fox"),
      (16L, "de", "the quick fox"), // lang absent from the holdout
      (17L, "fr", "un deux trois quatre"),
      (18L, "fr", "quatre cinq six"),
      (19L, "es", "uno dos tres"), // the lang's only holdout shingle is null
      (20L, "en", "the quick fox"))
    val holdout = Seq[(String, String)](
      ("en", "three word text"), ("en", " lead space"), ("en", "y z "),
      ("en", "a b c"), ("en", "c  d"), ("en", "q r s"), ("en", "naïve 日本語 text"),
      ("en", "la la la"), ("en", "the quick fox"), ("en", "two words"),
      ("fr", null), ("fr", "un deux trois"), ("es", null))
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    val hoSchema = StructType(Seq(StructField("lang", StringType), StructField("shingle", StringType)))
    val held = spark.createDataFrame(holdout.map { case (l, s) => Row(l, s) }.asJava, hoSchema)
    val expected = Set(1L, 2L, 4L, 7L, 9L, 11L, 13L, 14L, 15L, 16L, 18L, 19L)
    // a local relation is filtered by the optimizer's interpreted eval;
    // an RDD-backed frame runs the generated code
    val rows = docs.map { case (i, l, t) => Row(i, l, t) }
    val local = spark.createDataFrame(rows.asJava, docSchema)
    val distributed = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), docSchema)
    for ((path, frame) <- Seq("interpreted" -> local, "codegen" -> distributed)) {
      val byKernel = keptIds(streaming.Streams.decontamStream(frame, held))
      assert(byKernel === keptIds(decontamByShingleArrays(frame, held)), path)
      assert(byKernel === expected, path)
    }
  }

  test("bloom decontam has no false negatives vs exact q_decontam") {
    import spark.implicits._
    // every exact (lang-scoped) leak shingle also probes positive in the
    // (global) bloom, so per doc: flagged ⊆ candidates and
    // n_candidates ≥ n_hits. The reverse direction is NOT asserted —
    // false positives are the design trade.
    val exact = q("q_decontam").as[(Long, Long)].collect().toMap
    val bloom = q("q_bloom_decontam").as[(Long, Long)].collect().toMap
    val missing = exact.filter { case (doc, nHits) =>
      bloom.get(doc).forall(_ < nHits)
    }
    assert(missing.isEmpty,
      s"bloom false negatives (exact hits not candidate-flagged): ${missing.take(5)}")
  }

  test("int8 quantization bounds: |q| ≤ 127 implied by max_err < half step") {
    // max-abs scaling guarantees per-dim reconstruction error below
    // 0.5/scale (half a quantization step); violating it would mean a
    // rounding or scale bug even while the oracle hash still matched a
    // buggy twin.
    // both max_err and scale come out r6-rounded, so allow the 1e-6
    // rounding quantum on top of the analytic half-step bound
    val qn = q("q_quantize_embed")
    val bad = qn.filter(col("max_err") > lit(0.5) / col("scale") + lit(1e-6))
    assert(bad.isEmpty, s"reconstruction error above half-step: ${bad.take(3).toSeq}")
  }

  test("funnel stages are monotonically non-increasing") {
    import spark.implicits._
    val stages = q("q_funnel").as[(String, Long)].collect().sortBy(_._1).map(_._2)
    assert(stages.length === 3)
    assert(stages(0) >= stages(1) && stages(1) >= stages(2),
      s"funnel not monotone: ${stages.mkString(",")}")
  }

  test("corpus-yield funnel is monotonically non-increasing and starts at |documents|") {
    import spark.implicits._
    val stages = q("q_corpus_yield").as[(String, Long)].collect().sortBy(_._1).map(_._2)
    assert(stages.length === 4)
    assert(stages(0) === Tables.load(spark, sfDir, "documents").count())
    assert(stages.sliding(2).forall(p => p(0) >= p(1)),
      s"attrition must be monotone: ${stages.mkString(",")}")
  }

  test("event-path top-10 counts are bounded by each user's event count minus 2") {
    import spark.implicits._
    // total 3-sequences across users = Σ max(0, n_events(user) − 2);
    // the top-10 can never sum past that
    val perUser = Tables.events(spark, sfDir).groupBy("user_id").count()
      .as[(Long, Long)].collect()
    val totalSeqs = perUser.map { case (_, n) => math.max(0L, n - 2) }.sum
    val top = q("q_event_path").as[(String, Long, Long)].collect()
    assert(top.length <= 10)
    assert(top.map(_._2).sum <= totalSeqs)
    assert(top.forall(_._1.split(">").length === 3))
  }

  test("retention day-0 per cohort equals the cohort's user count") {
    import spark.implicits._
    // every user is active on their own cohort day by definition, so
    // the day_offset=0 row must count exactly the cohort's users
    val cohortSizes = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts").cast("date").as("d"))
      .groupBy("user_id").agg(min("d").as("cohort"))
      .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"))
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
    val day0 = q("q_retention").filter(col("day_offset") === 0)
      .select("cohort", "n_users").as[(String, Long)].collect().toMap
    assert(day0 === cohortSizes)
  }

  test("stratified sample roughly equalizes language counts") {
    import spark.implicits._
    val kept = q("q_sample_stratified").groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val minLang = Tables.load(spark, sfDir, "documents")
      .groupBy("lang").count().agg(min("count")).head().getLong(0)
    // 16-bit hash threshold: expected count = minLang per lang, binomial
    // spread at these sizes stays well inside ±50%
    kept.foreach { case (lang, n) =>
      assert(n > minLang * 0.5 && n < minLang * 1.5,
        s"$lang kept $n vs target $minLang")
    }
  }

  test("HLL sketch rollup tracks its oracled exact twin per day and overall") {
    // q_sketch_rollup (r11 error-band form) now emits the exact count
    // per grain plus the in-plan band verdict; this test pins that the
    // band holds at every grain and that the grain set and exact counts
    // are row-identical to the oracled exact twin q_distinct_rollup
    val est = q("q_sketch_rollup").collect()
      .map(r => ((r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long])),
        (r.getLong(2), r.getBoolean(3))))
      .toMap
    val exact = q("q_distinct_rollup").collect()
      .map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long])) -> r.getLong(2))
      .toMap
    assert(est.keySet === exact.keySet)
    est.foreach { case (k, (n, ok)) =>
      assert(ok, s"$k: HLL estimate outside the 5% band of exact $n")
      assert(n === exact(k), s"$k: exact path diverged from q_distinct_rollup")
    }
  }

  test("pack_sequences: a shard's layout is independent of every other shard (width 2)") {
    // the parameterized shard width is only a scale knob if re-sharding
    // never changes a shard's internal layout: packing the FULL corpus
    // at 16² shards must give each shard exactly the offsets it gets
    // when packed entirely alone
    val docs = Tables.load(spark, sfDir, "documents")
    val full = ops.Corpus.packDocs(docs, shardNibbles = 2)
    val shard = full.select(min("shard")).head.getString(0)
    val alone = ops.Corpus.packDocs(
      docs.filter(substring(md5(col("doc_id").cast("string")), 1, 2) === shard),
      shardNibbles = 2)
    assert(full.filter(col("shard") === shard).collect().toSeq === alone.collect().toSeq)
    // width 2 refines width 1 (same md5, longer prefix) and keeps the
    // tiling invariant: every width-2 shard starts at 0 and is gapless
    val rows = full.collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (sh, ds) =>
      val inOrder = ds.sortBy(_._2)
      assert(inOrder.head._4 === 0L, s"shard $sh must start at offset 0")
      inOrder.sliding(2).foreach {
        case Array((_, _, tok1, off1), (_, d2, _, off2)) =>
          assert(off2 === off1 + tok1, s"gap/overlap before doc $d2 in shard $sh")
        case _ =>
      }
    }
  }

  test("connected components propagate across multi-hop chains") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3 ⇒ needs >1 propagation round), pair 7-8,
    // and 5-6 given in descending orientation via the symmetric edge set
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (7L, 8L), (5L, 6L))
      .toDF("d1", "d2")
    val comp = ops.TextPipeline.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
    // empty pair set → empty labeling, no infinite loop
    val empty = ops.TextPipeline.connectedComponents(
      Seq.empty[(Long, Long)].toDF("d1", "d2"))
    assert(empty.isEmpty)
  }

  test("connectedComponents releases superseded round state") {
    import spark.implicits._
    // a 40-node chain forces several propagation rounds; every round
    // snapshots its labels, and superseded snapshots must be
    // unpersisted or block-manager memory grows with round count
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("d1", "d2")
    val comp = ops.TextPipeline.connectedComponents(pairs)
    assert(comp.filter(col("lbl") =!= 1L).isEmpty) // one chain, one root
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    // only the returned labels may stay persisted (≤2 tolerates a
    // concurrent suite caching during the window)
    assert(leaked.size <= 2,
      s"superseded CC round state still persisted: ${leaked.size} RDDs")
  }

  test("graph loops release the round state their result does not read") {
    def persistedBy[T](body: => T): (T, Set[Int]) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val out = body
      (out, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
    }
    // the bound above, for the other two loops on Q.iterate: 3 label
    // rounds and 8 peel rounds each snapshot a state, and only what
    // the returned frame reads may stay persisted
    for (name <- Seq("q_label_propagation", "q_graph_kcore")) {
      val (rows, leaked) = persistedBy(q(name).collect())
      assert(rows.nonEmpty, name)
      info(s"$name: ${leaked.size} RDDs left persisted")
      assert(leaked.size <= 2,
        s"$name: superseded round state still persisted: ${leaked.size} RDDs")
    }
    // BFS and closeness read every hop's frontier; the edge snapshot
    // the hops expand over is not read and must not stay
    for (name <- Seq("q_graph_bfs", "q_graph_closeness")) {
      val (df, leaked) = persistedBy(q(name))
      val read = df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }.toSet
      assert(leaked -- read === Set.empty[Int], s"$name: unread snapshots still persisted")
    }
  }

  test("connectedComponents with a reliable checkpoint dir matches the local path") {
    import spark.implicits._
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (7L, 8L)).toDF("d1", "d2")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = toMap(ops.TextPipeline.connectedComponents(pairs))
    val dir = tempDir("graft_cc_ckpt")
    // the checkpoint dir is session state: set it for this call only
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir)
    try {
      val reliable = toMap(ops.TextPipeline.connectedComponents(pairs))
      assert(reliable === local)
      // the iteration state actually landed in reliable storage
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else Seq(f)
      assert(files(new java.io.File(dir)).nonEmpty,
        "reliable mode must write checkpoint files")
    } finally sc.setCheckpointDir(null)
  }

  // ---- connected components: twins, empty inputs, per-round work ----

  /** Component minima by union-find: the labels CC must reach. */
  private def unionFindLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(v: Long): Long = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** The CC round rule simulated on the driver: seed with min(self,
    * neighbors), then each round min over self, in-neighbors' labels and
    * the label of the label, until sum(lbl) repeats (the confirming
    * round counts). Returns the round count CC must report. */
  private def simulatedRounds(pairs: Seq[(Long, Long)]): Int = {
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    if (edges.isEmpty) return 0
    val into = edges.groupMap(_._2)(_._1)
    var lbl = edges.groupMapReduce(_._1)(_._2)(math.min).map { case (v, m) => v -> math.min(v, m) }
    var prev = lbl.values.sum
    var rounds = 0
    var done = false
    while (!done) {
      val cur = lbl
      lbl = cur.map { case (x, l) => x -> (into(x).map(cur) :+ l :+ cur(l)).min }
      rounds += 1
      done = lbl.values.sum == prev
      prev = lbl.values.sum
    }
    rounds
  }

  /** Seeded pair sets mixing long chains and stars over shuffled ids
    * (so the minimum sits anywhere along a chain), duplicate and
    * reversed pairs, self-loops and many 2-node components. */
  private def randomPairs(seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((1L to 400L).toVector).iterator
    // shuffled ids make chain rounds grow with length, not its log, so
    // the chains stay short enough for a few rounds each
    val chains = (1 to 3).flatMap { _ =>
      val c = Seq.fill(8 + rnd.nextInt(12))(ids.next())
      c.zip(c.tail)
    }
    val stars = (1 to 2).flatMap { _ =>
      val hub = ids.next()
      Seq.fill(5 + rnd.nextInt(10))(hub -> ids.next())
    }
    val twos = Seq.fill(40)((ids.next(), ids.next()))
    val base = chains ++ stars ++ twos
    val dups = Seq.fill(15)(base(rnd.nextInt(base.size)))
    val reversed = Seq.fill(15)(base(rnd.nextInt(base.size))).map(_.swap)
    val loops = Seq.fill(5)(base(rnd.nextInt(base.size))._1).map(v => v -> v) ++
      Seq.fill(3)(ids.next()).map(v => v -> v)
    rnd.shuffle(base ++ dups ++ reversed ++ loops)
  }

  private def withCheckpointDir[T](reliable: Boolean)(body: => T): T =
    if (!reliable) body
    else {
      val sc = spark.sparkContext
      sc.setCheckpointDir(tempDir("graft_cc_twin_ckpt"))
      try body finally sc.setCheckpointDir(null)
    }

  test("connectedComponents matches union-find labels and the simulated round count") {
    import spark.implicits._
    for (reliable <- Seq(false, true); seed <- Seq(11L, 12L, 13L)) withCheckpointDir(reliable) {
      val pairs = randomPairs(seed)
      val (labels, rounds) =
        ops.TextPipeline.connectedComponentsWithRounds(pairs.toDF("d1", "d2"))
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val what = s"seed $seed, reliable=$reliable"
      assert(got === unionFindLabels(pairs), what)
      assert(rounds === simulatedRounds(pairs), what)
    }
  }

  test("Q.snapshotWith observes exactly the rows it materializes, in both snapshot modes") {
    for (reliable <- Seq(false, true)) withCheckpointDir(reliable) {
      // a non-deterministic frame: a second evaluation would draw other rows
      val df = spark.range(0, 10000, 1, 4).toDF("id").filter(rand() < 0.5)
      val (snap, stats) = Q.snapshotWith(df, count(lit(1)), sum("id"), max("id"))
      val direct = snap.agg(count(lit(1)), sum("id"), max("id")).head()
      assert(stats === direct, s"reliable=$reliable")
    }
  }

  test("Q.snapshotWith and connectedComponents return on empty inputs in both snapshot modes") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    def within[T](body: => T): T = Await.result(Future(body), 2.minutes)
    val schema = StructType.fromDDL("d1 LONG, d2 LONG")
    val empties = Seq(
      "empty local frame" -> Seq.empty[(Long, Long)].toDF("d1", "d2"),
      "range(0)" -> spark.range(0).select(col("id").as("d1"), col("id").as("d2")),
      "emptyRDD" -> spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
      "limit(0)" -> Seq((1L, 2L)).toDF("d1", "d2").limit(0))
    for (reliable <- Seq(false, true); (what, df) <- empties) withCheckpointDir(reliable) {
      val (snap, stats) = within(Q.snapshotWith(df, count(lit(1)), sum("d1")))
      assert(snap.isEmpty, what)
      assert(stats === Row(0L, null), s"$what, reliable=$reliable")
      val (labels, rounds) = within(ops.TextPipeline.connectedComponentsWithRounds(df))
      assert(labels.isEmpty && rounds === 0, s"$what, reliable=$reliable")
    }
  }

  test("a connectedComponents round is one join against the row-guarded label broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    import org.apache.spark.sql.execution.LogicalRDD
    import spark.implicits._
    val sc = spark.sparkContext
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("d1", "d2")
    val group = "graft_cc_jobs"
    sc.setJobGroup(group, "cc on a 40-node chain")
    val (labels, rounds) =
      try ops.TextPipeline.connectedComponentsWithRounds(pairs) finally sc.clearJobGroup()
    // the status store is fed by the listener bus in event order: once
    // a job started after CC is visible, so are CC's jobs
    val fence = s"${group}_fence"
    sc.setJobGroup(fence, "fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(fence).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(fence).length === 1)
    // edges snapshot (1) + seed (shuffle map + materialize = 2), then per
    // round the label broadcast, the min-agg map stage and the
    // materialization that also observes the checksum
    assert(rounds === 7)
    assert(sc.statusTracker.getJobIdsForGroup(group).length === 3 + 3 * rounds)
    // walk the rounds back from the returned labels: each round's origin
    // plan holds exactly one join, whose broadcast side is the previous
    // round's label snapshot under a recorded row guard
    def rddOf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      p.collectFirst { case r: LogicalRDD => r.rdd.id }.get
    var id = rddOf(labels.queryExecution.analyzed)
    var walked = 0
    var joins = Q.snapshotOrigin(id).get.collect { case j: Join => j }
    while (joins.nonEmpty) {
      assert(joins.size === 1, s"round ${rounds - walked}: ${joins.size} joins")
      val j = joins.head
      assert(j.hint.rightHint.exists(_.strategy.contains(BROADCAST)),
        s"round ${rounds - walked}: label side not broadcast")
      id = rddOf(j.right)
      assert(Q.rowGuard(id) === Some((40L, ops.Graph.NodeStateBroadcastRows)))
      walked += 1
      joins = Q.snapshotOrigin(id).get.collect { case j: Join => j }
    }
    assert(walked === rounds && rounds > 1)
  }

  test("q_event_transitions probabilities are a stochastic matrix over observed transitions") {
    val t = q("q_event_transitions").cache()
    // per cur row: probabilities sum to 1 within r6 rounding x |nxt|,
    // and counts add up to the lead-pair total (|events| - |users with
    // any event|, since each user's last event has no successor)
    val rows = t.groupBy("cur")
      .agg(sum("p").as("sp"), sum("n").as("sn"), count(lit(1)).as("k"))
      .collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - 1.0) <= 1e-6 * r.getLong(3),
        s"row ${r.getString(0)} probabilities must sum to 1: $r")
    }
    val events = Tables.events(spark, sfDir)
    val expected = events.count() -
      events.select("user_id").distinct().count()
    assert(t.agg(sum("n")).head.getLong(0) === expected)
    t.unpersist()
  }

  test("q_activity_islands conserves events and bounds coverage by the user's span") {
    val isl = q("q_activity_islands").cache()
    // per-user event counts must add back to the corpus
    val events = Tables.events(spark, sfDir)
    assert(isl.agg(sum("n_events")).head.getLong(0) === events.count())
    // covered time can never exceed the user's first-to-last span, and
    // the longest island is bounded by the total coverage
    val spans = events
      .select(col("user_id"), Q.epochSec(col("ts")).as("es"))
      .groupBy("user_id").agg((max("es") - min("es")).as("span"))
    val bad = isl.join(spans, "user_id")
      .filter(col("covered_sec") > col("span") ||
        col("longest_sec") > col("covered_sec") ||
        col("n_islands") < 1)
    assert(bad.isEmpty, bad.collect().mkString(","))
    isl.unpersist()
  }

  test("q_ohlc bars are internally consistent") {
    val bars = q("q_ohlc")
      .filter(col("high") < greatest(col("open"), col("close")) ||
        col("low") > least(col("open"), col("close")) ||
        col("n") < 1)
    assert(bars.isEmpty, bars.collect().mkString(","))
  }

  test("q_dup_clusters is consistent with the LSH pair graph") {
    val clusters = q("q_dup_clusters").cache()
    val lbl = clusters.select(col("doc_id"), col("cluster_id"))
    // every candidate pair ends up in the same cluster
    val pairs = q("q_minhash_lsh")
      .join(lbl.withColumnRenamed("doc_id", "d1").withColumnRenamed("cluster_id", "c1"), "d1")
      .join(lbl.withColumnRenamed("doc_id", "d2").withColumnRenamed("cluster_id", "c2"), "d2")
    assert(pairs.filter(col("c1") =!= col("c2")).isEmpty)
    // exactly one keeper per cluster, and it is the minimum doc_id
    val perCluster = clusters.groupBy("cluster_id")
      .agg(sum(col("is_keeper").cast("long")).as("keepers"), min("doc_id").as("lo"))
    assert(perCluster.filter(col("keepers") =!= 1L || col("lo") =!= col("cluster_id")).isEmpty)
    clusters.unpersist()
  }

  test("interval_match under NOT with nullable bounds keeps NULL semantics") {
    import spark.implicits._
    // NOT(interval_match(v, lo, hi)) with lo NULL: the ternary yields
    // NULL → NOT NULL = NULL → row dropped. The unfolded conjunction
    // would fold (v >= NULL AND v < hi) to FALSE for v >= hi → NOT
    // FALSE = TRUE → row KEPT. The optimizer rule must therefore leave
    // nested occurrences alone (it rewrites top-level conjuncts only).
    val df = Seq(
      (1L, 5.0, Option.empty[Double], Option(3.0)), // v>=hi, lo null: NULL under NOT → drop
      (2L, 5.0, Option(1.0), Option(3.0)),          // in no band → NOT FALSE → keep
      (3L, 2.0, Option(1.0), Option(3.0)))          // in band → NOT TRUE → drop
      .toDF("id", "v", "lo", "hi")
    val im = call_function("interval_match", col("v"), col("lo"), col("hi"))
    val kept = df.filter(!im).select("id").as[Long].collect().toSeq
    assert(kept === Seq(2L),
      s"NOT(interval_match) must keep exactly the definitely-outside row, got $kept")
    // while a TOP-LEVEL interval_match conjunct still unfolds and pushes
    val top = df.filter(im && col("id") > 0)
    assert(!top.queryExecution.optimizedPlan.toString.contains("interval_match"),
      "top-level conjunct must still unfold to native comparisons")
  }

  test("q_win_distinct_hll tracks the exact running distinct within sketch error") {
    // r11 error-band form: the query emits the exact running distinct
    // plus a per-row HLL band verdict. The verdict must hold on every
    // row and the exact column must match the oracled q_win_distinct.
    val exact = q("q_win_distinct").withColumnRenamed("n_types_seen", "n_exact")
    val audit = q("q_win_distinct_hll")
    assert(audit.filter(!col("hll_ok")).isEmpty,
      audit.filter(!col("hll_ok")).take(5).mkString(","))
    val bad = exact.join(audit, Seq("event_id", "user_id"))
      .filter(col("n_types_seen") =!= col("n_exact"))
    assert(bad.isEmpty, bad.take(5).mkString(","))
  }

  test("q_profile_approx equals q_profile except a bounded n_distinct error") {
    // r11 error-band form: the query emits the exact profile columns
    // plus a per-column HLL band verdict. Every column must be
    // bit-identical to q_profile and every verdict must hold.
    val exact = q("q_profile").select(col("col_name"), col("n").as("n_e"),
      col("n_null").as("nn_e"), col("n_distinct").as("d_e"),
      col("vmin").as("mn_e"), col("vmax").as("mx_e"), col("vavg").as("av_e"))
    val j = q("q_profile_approx").join(exact, "col_name").cache()
    assert(j.count() === 4)
    assert(j.filter(col("n") =!= col("n_e") || col("n_null") =!= col("nn_e") ||
      col("n_distinct") =!= col("d_e") ||
      col("vmin") =!= col("mn_e") || col("vmax") =!= col("mx_e") ||
      col("vavg") =!= col("av_e")).isEmpty)
    assert(j.filter(!col("hll_ok")).isEmpty,
      "HLL++ distinct estimate left its 8% band")
    j.unpersist()
  }

  test("mergeUpsert: upsert wins, tombstone deletes, base carries, ties go to delta") {
    import spark.implicits._
    val base = Seq(
      (1L, "a", 10L, 100L, 5.0), // updated by delta
      (2L, "a", 11L, 100L, 6.0), // tombstoned by delta
      (3L, "a", 12L, 100L, 7.0), // es-tied with a delta row — delta must win
      (5L, "a", 13L, 100L, 1.5), // delete then re-upsert: latest delta op decides
      (6L, "a", 14L, 100L, 4.0)) // untouched — carries over
      .toDF("user_id", "event_type", "event_id", "es", "value")
    val delta = Seq(
      (1L, "a", 20L, 200L, 9.0, "U"),
      (2L, "a", 21L, 200L, 0.5, "D"),
      (3L, "a", 23L, 100L, 3.0, "U"),
      (4L, "a", 22L, 200L, 8.0, "U"), // insert of a new key
      (5L, "a", 30L, 200L, 0.5, "D"),
      (5L, "a", 31L, 300L, 2.0, "U"))
      .toDF("user_id", "event_type", "event_id", "es", "value", "op")
    val got = ops.Cdc.mergeUpsert(base, delta).orderBy("user_id")
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (1L, "a", 20L, 200L, 9.0),
      (3L, "a", 23L, 100L, 3.0),
      (4L, "a", 22L, 200L, 8.0),
      (5L, "a", 31L, 300L, 2.0),
      (6L, "a", 14L, 100L, 4.0)))
  }

  test("sourceOverlap shards the mask beyond 64 sources (no shift wrap)") {
    import spark.implicits._
    // 70 sources, each sharing exactly one 3-word shingle with its
    // successor. A single-long mask would wrap source #65 onto bit 1
    // (JVM shifts mask mod 64) and corrupt both counts and pairs; the
    // sharded array-of-words mask must match the naive self-join twin
    // exactly at this width.
    val docs = (0 until 70).map { i =>
      (f"s$i%02d", s"a$i b$i c$i a${i + 1} b${i + 1} c${i + 1}")
    }.toDF("source", "text")
    val got = ops.Corpus.sourceOverlap(docs)
    // first-principles twin: distinct (source, shingle) self-join with
    // no bit arithmetic anywhere
    val sh = docs.withColumn("words", split(col("text"), " "))
      .select(col("source"), explode(expr(
        """transform(sequence(0, size(words) - 3),
          |          i -> concat_ws(' ', words[i], words[i+1], words[i+2]))""".stripMargin))
        .as("shingle"))
      .distinct()
    val n = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val naive = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("shared"))
      .join(n.select(col("source").as("s1"), col("n").as("n1")), "s1")
      .join(n.select(col("source").as("s2"), col("n").as("n2")), "s2")
      .select(col("s1"), col("s2"), col("shared"),
        Q.r4(col("shared").cast("double") /
          (col("n1") + col("n2") - col("shared"))).as("jaccard"))
    assert(got.except(naive).isEmpty && naive.except(got).isEmpty)
    // every adjacent pair overlaps; the 64-apart wrap pair must not
    assert(got.filter(col("s1") === "s00" && col("s2") === "s01").count() === 1L)
    assert(got.filter(col("s1") === "s01" && col("s2") === "s65").isEmpty)
  }

  test("q_pagerank is a probability distribution: positive ranks summing to 1") {
    // power iteration conserves total mass exactly (no dangling nodes
    // in the bidirectional graph): after any number of rounds the
    // ranks sum to 1 up to accumulation noise, and every rank is at
    // least the (1−d)/N floor. Checked over ALL nodes, not the top-50
    // query surface — rebuilt here with the same arithmetic.
    import graft.ops.Graph
    val full = Graph.pagerankAll(spark, sfDir)
    val n = full.count()
    val s = full.agg(sum("pr")).head().getDouble(0)
    assert(math.abs(s - 1.0) < 1e-6, s"ranks must sum to 1, got $s over $n nodes")
    assert(full.filter(col("pr") <= 0).isEmpty, "every rank must be positive")
  }

  test("q_corpus_pipeline funnel counts are monotone per language") {
    val f = q("q_corpus_pipeline").collect()
    assert(f.nonEmpty)
    f.foreach { r =>
      val (nIn, nDedup, nQ, nKept) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nIn >= nDedup && nDedup >= nQ && nQ >= nKept && nKept >= 0,
        s"funnel must shrink monotonically: $r")
      assert(r.getLong(5) >= 0, s"tokens_kept must be non-negative: $r")
    }
  }

  test("q_trend_fit r2 is a valid coefficient of determination") {
    q("q_trend_fit").collect().foreach { r =>
      val r2 = r.getDouble(4)
      assert(r2 >= 0.0 && r2 <= 1.0, s"r2 out of [0,1]: $r")
    }
  }

  test("q_acf autocorrelations are valid (|acf| <= 1, full lag×type grid)") {
    val rows = q("q_acf").collect()
    assert(rows.length === 35, "5 types × 7 lags expected")
    rows.foreach { r =>
      val a = r.getDouble(2)
      assert(a >= -1.0 && a <= 1.0, s"acf out of [-1,1]: $r")
    }
  }

  test("q_benford shares are a distribution over digits 1..9") {
    val rows = q("q_benford").collect()
    assert(rows.map(_.getLong(0)).toSet.subsetOf((1L to 9L).toSet))
    val shareSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(shareSum - 1.0) < 1e-5, s"shares must sum to ~1: $shareSum")
    val benfordSum = rows.map(_.getDouble(3)).sum
    assert(math.abs(benfordSum - 1.0) < 1e-5, s"benford masses must sum to ~1: $benfordSum")
  }

  test("q_ks_test D is a valid statistic and the sup is attained") {
    val r = q("q_ks_test").head()
    val (n1, n2, d) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(n1 > 0 && n2 > 0)
    assert(d >= 0.0 && d <= 1.0, s"D out of [0,1]: $d")
    // the attained sup must equal a directly recomputed max ECDF gap
    val v = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(floor(col("value") * 100 + 0.5).cast("long").as("v100"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("g1"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("g2"))
      .collect()
    val byV = v.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    var (c1, c2, best) = (0L, 0L, 0L)
    byV.foreach { case (_, rs) =>
      c1 += rs.map(_.getLong(1)).sum; c2 += rs.map(_.getLong(2)).sum
      best = math.max(best, math.abs(c1 * n2 - c2 * n1))
    }
    assert(math.abs(d - best.toDouble / (n1 * n2)) < 1e-5,
      s"reported D=$d != recomputed ${best.toDouble / (n1 * n2)}")
  }

  test("q_corr_matrix correlations are valid and match spark's corr()") {
    val rows = q("q_corr_matrix").collect()
    assert(rows.length === 6)
    rows.foreach { r =>
      val c = r.getDouble(3)
      assert(c >= -1.0 && c <= 1.0, s"corr out of [-1,1]: $r")
    }
    // independent check: built-in corr() over the same integerized
    // measures agrees within accumulation-order noise
    val m = Tables.load(spark, sfDir, "lineitem").select(
      floor(col("l_quantity")).cast("long").as("q"),
      floor(col("l_extendedprice")).cast("long").as("p"))
    val want = m.agg(corr(col("q"), col("p"))).head().getDouble(0)
    val got = rows.find(r => r.getString(0) == "quantity" && r.getString(1) == "price_usd")
      .get.getDouble(3)
    assert(math.abs(got - want) < 1e-6, s"q/p corr $got != corr() $want")
  }

  test("q_graph_triangles corner credits are 3x an independent id-ordered recount") {
    // every triangle credits exactly its three corners, so Σ per-node
    // counts ≡ 3·|triangles|; recount triangles with the oracle's
    // id-ordered formulation (a DIFFERENT orientation of the same set)
    val corners = ops.Graph.triangleCorners(spark, sfDir)
    val total = corners.agg(sum("tri_cnt")).head().getLong(0)
    assert(total % 3 === 0, s"corner credits must be divisible by 3: $total")
    val io = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("pk")).distinct()
    val e = io.as("x").join(io.as("y"), col("x.o") === col("y.o") && col("x.pk") < col("y.pk"))
      .groupBy(col("x.pk").as("a"), col("y.pk").as("b")).agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= 2).select("a", "b").cache()
    val e1 = e.select(col("a").as("u"), col("b").as("v"))
    val e2 = e.select(col("a").as("v"), col("b").as("w"))
    val e3 = e.select(col("a").as("u"), col("b").as("w"))
    val nTri = e1.join(e2, "v").join(e3, Seq("u", "w")).count()
    e.unpersist(false)
    assert(total === 3 * nTri, s"corner credits $total != 3 × $nTri triangles")
  }

  test("q_ewma smoothed values stay inside the series envelope and seed at the first observed day") {
    val rows = q("q_ewma").collect()
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (t, rs) =>
      val ys = rs.map(_.getLong(2))
      val (lo, hi) = (ys.min.toDouble, ys.max.toDouble)
      rs.foreach { r =>
        val e = r.getDouble(3)
        assert(e >= lo - 1e-3 && e <= hi + 1e-3, s"$t ewma $e outside [$lo,$hi]")
      }
      // the seed is each type's FIRST observation, wherever its series
      // starts — an unconditional assertion, never skipped
      val first = rs.minBy(_.getLong(1))
      assert(math.abs(first.getDouble(3) - first.getLong(2)) < 1e-3,
        s"$t first-day ewma must equal its y: $first")
    }
  }

  test("q_anova and q_cramers_v statistics are in their valid ranges") {
    val a = q("q_anova").head()
    assert(a.getLong(0) === 5, "five event types")
    assert(a.getDouble(2) >= 0.0, s"F must be non-negative: $a")
    assert(a.getDouble(3) >= 0.0 && a.getDouble(3) <= 1.0, s"eta² out of [0,1]: $a")
    val c = q("q_cramers_v").head()
    assert(c.getDouble(2) >= 0.0, s"chi² must be non-negative: $c")
    assert(c.getDouble(3) >= 0.0 && c.getDouble(3) <= 1.0, s"V out of [0,1]: $c")
  }

  test("q_funnel_time latencies are ordered and cohorts match q_funnel stages") {
    val ft = q("q_funnel_time").collect()
    ft.foreach { r =>
      val (mn, med, p90, mx) =
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5))
      assert(mn <= med && med <= p90 && p90 <= mx, s"percentiles out of order: $r")
      assert(mn >= 1, s"qualifying delays are strictly positive seconds: $r")
    }
    val stages = q("q_funnel").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val byStep = ft.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStep("1_view_to_click") === stages("2_click"),
      "view→click conversions must equal funnel stage-2 users")
    assert(byStep("2_click_to_purchase") === stages("3_purchase"),
      "click→purchase conversions must equal funnel stage-3 users")
  }

  test("q_bigram_logprob scores are negative log-probs over words-1 bigrams") {
    val rows = q("q_bigram_logprob").collect()
    assert(rows.length === Tables.load(spark, sfDir, "documents").count())
    rows.foreach { r =>
      assert(r.getDouble(3) < 0.0, s"mean log-prob must be negative: $r")
    }
    val want = Tables.load(spark, sfDir, "documents")
      .agg(sum(size(split(col("text"), " ")) - 1)).head().getLong(0)
    assert(rows.map(_.getLong(2)).sum === want,
      "per-doc bigram token counts must sum to Σ(words-1)")
  }

  test("q_weighted_median is the first price covering half the units") {
    q("q_weighted_median").collect().foreach { r =>
      val (flag, tw, med) = (r.getString(0), r.getLong(1), r.getDouble(2))
      val m = Tables.load(spark, sfDir, "lineitem")
        .filter(col("l_returnflag") === flag)
        .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("p"),
          floor(col("l_quantity")).cast("long").as("w"))
      val medC = math.round(med * 100)
      val below = m.filter(col("p") <= medC).agg(sum("w")).head().getLong(0)
      val strictly = m.filter(col("p") < medC).agg(sum("w")).head().getLong(0)
      assert(2 * below >= tw, s"$flag: weight at/below median must reach half")
      assert(2 * strictly < tw, s"$flag: median must be the FIRST crossing price")
    }
  }

  test("q_cohort_ltv curves are monotone and end at the cohort's total revenue") {
    val rows = q("q_cohort_ltv").collect()
    val byCohort = rows.groupBy(_.getString(0))
    byCohort.foreach { case (cohort, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(3) <= b.getLong(3), s"$cohort cumulative must be monotone")
        case _ =>
      }
      assert(sorted.map(_.getLong(2)).distinct.length === 1,
        s"$cohort size must be constant along the curve")
    }
    // grand total across cohorts equals total purchase revenue in cents
    val finals = byCohort.values.map(_.maxBy(_.getLong(1)).getLong(3)).sum
    val want = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long"))).head().getLong(0)
    assert(finals === want, s"Σ final cum_cents $finals != total purchase cents $want")
  }

  test("q_ivm_refresh state merge equals a direct full recompute (Spark-side)") {
    // the oracle already proves this cross-engine; this pins the same
    // invariant WITHIN Spark so a refactor of the merge path can't
    // drift while the DuckDB twin is rewritten in tandem
    val merged = q("q_ivm_refresh")
    val direct = Tables.load(spark, sfDir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        Q.r2(sum("o_totalprice")).as("total"),
        min("o_totalprice").as("vmin"), max("o_totalprice").as("vmax"),
        Q.r4(sum("o_totalprice") / count(lit(1))).as("vavg"))
      .orderBy("o_orderpriority")
    assert(merged.except(direct).isEmpty && direct.except(merged).isEmpty,
      "merge(state(base), state(delta)) must equal recompute(full)")
  }

  test("q_mann_whitney U is consistent: U1 + U2 = n1*n2 and |effect| <= 1") {
    val r = q("q_mann_whitney").head()
    val (n1, n2) = (r.getAs[Long]("n1"), r.getAs[Long]("n2"))
    val u1 = r.getAs[Double]("u1")
    // U2 from the reflected rank-sum identity
    val u2 = n1.toDouble * n2 - u1
    assert(u1 >= 0 && u2 >= 0 && math.abs(u1 + u2 - n1.toDouble * n2) < 1e-6,
      s"U1=$u1 U2=$u2 n1n2=${n1 * n2}")
    assert(math.abs(r.getAs[Double]("rank_biserial")) <= 1.0 + 1e-9)
  }

  test("q_spearman rho values are valid and equal corr() over rank columns") {
    val rows = q("q_spearman").collect()
    assert(rows.length === 3)
    rows.foreach(r => assert(math.abs(r.getAs[Double]("rho")) <= 1.0 + 1e-9))
    // independent check for one pair: Spark's corr() over per-row average
    // ranks (computed the textbook way with two rank() windows) must agree
    import org.apache.spark.sql.expressions.Window
    val m = Tables.load(spark, sfDir, "lineitem").select(
      floor(col("l_quantity")).cast("long").as("q"),
      floor(col("l_discount") * 100 + 0.5).cast("long").as("d"))
    // average rank = rank() + (cnt_ties - 1)/2, from RANGE cum windows
    def avgRank(k: String) =
      (sum(lit(1)).over(Window.orderBy(k)).cast("double") -
        (count(lit(1)).over(Window.partitionBy(k)).cast("double") - 1) / 2)
    val got = m.select(avgRank("q").as("rq"), avgRank("d").as("rd"))
      .agg(corr("rq", "rd")).head().getDouble(0)
    val want = rows.find(r => r.getAs[String]("var1") == "quantity" &&
      r.getAs[String]("var2") == "discount").get.getAs[Double]("rho")
    assert(math.abs(got - want) < 1e-6, s"corr-of-ranks $got != rho $want")
  }

  test("q_hhi is bounded by [10000/n, 10000] and CR1^2 <= HHI/10000") {
    val rows = q("q_hhi").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_suppliers")
      val hhi = r.getAs[Double]("hhi")
      val cr1 = r.getAs[Double]("cr1")
      assert(hhi >= 10000.0 / n - 1e-6 && hhi <= 10000.0 + 1e-6,
        s"HHI $hhi outside [${10000.0 / n}, 10000] for n=$n")
      assert(cr1 * cr1 <= hhi / 10000 + 1e-9,
        s"CR1² ${cr1 * cr1} must lower-bound HHI share-sum ${hhi / 10000}")
    }
  }

  test("q_kaplan_meier survival is nonincreasing in (0,1] with consistent risk sets") {
    val rows = q("q_kaplan_meier").collect()
    assert(rows.nonEmpty)
    var prevS = 1.0 + 1e-12
    var prevRisk = Long.MaxValue
    rows.foreach { r =>
      val s = r.getAs[Double]("survival")
      val nRisk = r.getAs[Long]("n_risk")
      val d = r.getAs[Long]("d_events")
      assert(s >= 0.0 && s <= prevS + 1e-9, s"survival must fall: $s after $prevS")
      assert(nRisk < prevRisk || prevRisk == Long.MaxValue,
        "risk set must shrink strictly between event times")
      assert(d >= 1 && d <= nRisk)
      prevS = s; prevRisk = nRisk
    }
  }

  test("q_burstiness stays in (-1, 1) and CV/mean reproduce the moments") {
    val rows = q("q_burstiness").collect()
    assert(rows.length >= 3)
    rows.foreach { r =>
      val b = r.getAs[Double]("burstiness")
      val cv = r.getAs[Double]("cv")
      assert(b > -1.0 && b < 1.0, s"B=$b out of range")
      // B = (cv-1)/(cv+1) by construction — cross-check the two columns
      assert(math.abs((cv - 1) / (cv + 1) - b) < 1e-5, s"B $b != (cv-1)/(cv+1) for cv=$cv")
    }
  }

  test("q_kendall_tau is valid, sign-consistent with Spearman, and pair-complete") {
    val tau = q("q_kendall_tau").collect()
      .map(r => (r.getAs[String]("var1"), r.getAs[String]("var2")) -> r.getAs[Double]("tau"))
      .toMap
    val rho = q("q_spearman").collect()
      .map(r => (r.getAs[String]("var1"), r.getAs[String]("var2")) -> r.getAs[Double]("rho"))
      .toMap
    assert(tau.keySet === rho.keySet, "same three measure pairs")
    tau.foreach { case (pair, t) =>
      assert(math.abs(t) <= 1.0 + 1e-9, s"$pair tau $t out of range")
      val r = rho(pair)
      // monotone-dependence measures must agree in sign (or both ~0)
      assert(t * r >= -1e-6, s"$pair tau $t and rho $r disagree in sign")
      // |tau| <= |rho| empirically holds for near-linear dependence and
      // both must be small together; enforce the weak joint bound
      assert(math.abs(t) <= math.abs(r) + 0.1, s"$pair tau $t vs rho $r")
    }
  }

  test("q_theil decomposition reassembles the total Theil index over all suppliers") {
    val rows = q("q_theil").collect()
    assert(rows.nonEmpty)
    val shares = rows.map(_.getAs[Double]("share"))
    assert(math.abs(shares.sum - 1.0) < 1e-4, s"shares must sum to 1, got ${shares.sum}")
    rows.foreach(r => assert(r.getAs[Double]("theil_within") >= -1e-9,
      "within-nation Theil is nonnegative"))
    // decomposition: T_total = Σ share_g·T_g + Σ between_g, vs a direct
    // single-population computation over the same per-supplier revenues
    val recomposed = rows.map(r => r.getAs[Double]("share") * r.getAs[Double]("theil_within") +
      r.getAs[Double]("between_term")).sum
    val sr = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_suppkey")
      .agg(sum(floor(col("l_extendedprice")).cast("long")).as("rev"))
      .select(col("rev").cast("double")).collect().map(_.getDouble(0))
    val x = sr.sum
    val n = sr.length
    val direct = sr.map(v => (v / x) * math.log(v * n / x)).sum
    assert(math.abs(recomposed - direct) < 1e-3,
      s"decomposed Theil $recomposed != direct $direct")
  }

  test("q_lorenz curves are nondecreasing, convex, and end at share 1") {
    val byPrio = q("q_lorenz").collect()
      .groupBy(_.getAs[String]("o_orderpriority"))
    assert(byPrio.size === 5)
    byPrio.foreach { case (prio, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("decile"))
      assert(sorted.map(_.getAs[Long]("decile")).toSeq === (1L to 10L),
        s"$prio must have all 10 deciles")
      val cums = sorted.map(_.getAs[Double]("cum_share"))
      assert(math.abs(cums.last - 1.0) < 1e-6, s"$prio curve must end at 1")
      cums.sliding(2).foreach { case Array(a, b) =>
        assert(b >= a - 1e-9, s"$prio cum_share must be nondecreasing")
      }
      // Lorenz convexity: decile increments (sorted ascending by value)
      // are nondecreasing up to decile-boundary rounding
      val incs = (cums.head +: cums.sliding(2).map { case Array(a, b) => b - a }.toSeq.tail.toArray.toSeq)
      incs.sliding(2).foreach { case Seq(a, b) =>
        assert(b >= a - 1e-3, s"$prio increments must rise: $incs")
      }
    }
  }

  test("q_skyline equals the brute-force Pareto front") {
    val got = q("q_skyline").collect()
      .map(r => (math.round(r.getAs[Double]("price") * 100), r.getAs[String]("order_date")))
      .toSet
    val pairs = Tables.load(spark, sfDir, "orders")
      .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))
      .groupBy("cents", "od").count()
      .collect().map(r => (r.getAs[Long]("cents"), r.getAs[String]("od")))
    def dominated(p: (Long, String)) = pairs.exists(o =>
      (o._1 >= p._1 && o._2 <= p._2) && (o._1 > p._1 || o._2 < p._2))
    val want = pairs.filterNot(dominated).map(p => (p._1, p._2)).toSet
    assert(got === want, s"skyline mismatch: got ${got.size}, brute ${want.size}")
  }

  test("q_zipf_fit slope is negative with r2 in [0,1] over min(vocab, 1000) ranks") {
    val r = q("q_zipf_fit").head()
    val vocab = Tables.load(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct("tok")).head().getLong(0)
    assert(r.getAs[Long]("n") === math.min(vocab, 1000L))
    assert(r.getAs[Double]("slope") < 0, "Zipf slope must be negative")
    val r2v = r.getAs[Double]("r2")
    assert(r2v >= 0 && r2v <= 1.0 + 1e-9)
  }

  test("q_welch_t statistics are internally consistent") {
    val r = q("q_welch_t").head()
    val (na, nb) = (r.getAs[Long]("na"), r.getAs[Long]("nb"))
    assert(na > 0 && nb > 0)
    // Welch df is bracketed by min(na,nb)-1 and the pooled na+nb-2
    val df = r.getAs[Double]("df")
    assert(df >= math.min(na, nb) - 1 - 1e-6 && df <= na + nb - 2 + 1e-6,
      s"df $df outside [${math.min(na, nb) - 1}, ${na + nb - 2}]")
    // t and Cohen's d share the numerator ma-mb: same sign always
    assert(r.getAs[Double]("t_stat") * r.getAs[Double]("cohen_d") >= 0,
      "t and d must agree in sign")
    // means match a direct recomputation (cents-floored, r2-rounded)
    val want = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .agg(avg(floor(col("value") * 100 + 0.5))).head().getDouble(0) / 100
    assert(math.abs(r.getAs[Double]("mean_a") - want) < 0.01 + 1e-9,
      s"mean_a ${r.getAs[Double]("mean_a")} != direct $want")
  }

  test("q_jarque_bera moments satisfy kurtosis >= skewness^2 - 2 with jb >= 0") {
    val rows = q("q_jarque_bera").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sk = r.getAs[Double]("skewness")
      val ek = r.getAs[Double]("ex_kurtosis")
      // Pearson's inequality kurtosis ≥ skew² + 1 ⇒ excess ≥ skew² − 2
      assert(ek >= sk * sk - 2 - 1e-6, s"moment inequality violated: $r")
      assert(r.getAs[Double]("jb") >= 0, s"JB must be non-negative: $r")
    }
  }

  test("q_psi is non-negative and conserves the per-type event counts") {
    val rows = q("q_psi").collect()
    assert(rows.nonEmpty)
    // (p−q)·ln(p/q) ≥ 0 per cell ⇒ PSI ≥ 0 (up to the 1e-9 int scaling)
    rows.foreach { r =>
      assert(r.getAs[Double]("psi") >= -1e-6, s"PSI must be >= 0: $r")
    }
    val got = rows.map(r => r.getAs[Long]("n_before") + r.getAs[Long]("n_after")).sum
    val want = Tables.events(spark, sfDir).count()
    assert(got === want, s"period counts $got must partition the corpus $want")
  }

  test("q_graph_components partitions the thresholded graph's node set") {
    val rows = q("q_graph_components").collect()
    val nodes = ops.Graph.coPairs(spark, sfDir)
      .select(explode(array(col("a"), col("b"))).as("n"))
      .distinct().count()
    assert(rows.map(_.getAs[Long]("n_nodes")).sum === nodes,
      "component sizes must sum to |nodes|")
    // every node in the pair graph has degree >= 1, so no singleton
    rows.foreach { r =>
      assert(r.getAs[Long]("n_nodes") >= 2, s"singleton component: $r")
    }
  }

  test("q_graph_bfs layers start at the single root and stay within the graph") {
    val rows = q("q_graph_bfs").collect().sortBy(_.getAs[Long]("depth"))
    assert(rows.head.getAs[Long]("depth") === 0L)
    assert(rows.head.getAs[Long]("n_nodes") === 1L, "exactly one root at depth 0")
    // depths are contiguous (an empty frontier ends the walk)
    rows.map(_.getAs[Long]("depth")).zipWithIndex.foreach { case (dep, i) =>
      assert(dep === i.toLong, s"depth layers must be contiguous: $rows")
    }
    val total = Tables.load(spark, sfDir, "lineitem")
      .select((col("l_partkey") * 2).as("n"))
      .union(Tables.load(spark, sfDir, "lineitem").select(col("l_suppkey") * 2 + 1))
      .distinct().count()
    assert(rows.map(_.getAs[Long]("n_nodes")).sum <= total)
  }

  test("q_drawdown depths are bounded by the running peak") {
    val rows = q("q_drawdown").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val peak = r.getAs[Double]("peak")
      val dd = r.getAs[Double]("max_drawdown")
      val frac = r.getAs[Double]("dd_frac")
      assert(dd >= 0 && dd <= peak + 1e-9, s"0 <= dd <= peak violated: $r")
      assert(frac >= 0 && frac <= 1.0 + 1e-9, s"dd_frac out of [0,1]: $r")
    }
  }

  test("q_bollinger covers every full-frame day with consistent bands") {
    val rows = q("q_bollinger").collect()
    // 30 days of events − 6 warmup = 24 full-frame days per type
    assert(rows.length === 24 * 5, s"expected 120 band rows, got ${rows.length}")
    rows.foreach { r =>
      val (ma, sd) = (r.getAs[Double]("ma7"), r.getAs[Double]("sd7"))
      val (up, lo) = (r.getAs[Double]("upper_band"), r.getAs[Double]("lower_band"))
      assert(sd >= 0, s"negative sd: $r")
      assert(up >= ma - 1e-9 && ma >= lo - 1e-9, s"band ordering violated: $r")
      val y = r.getAs[Long]("y").toDouble
      r.getAs[String]("band_pos") match {
        case "up"   => assert(y >= up - 2e-4, s"up flag but y inside: $r")
        case "down" => assert(y <= lo + 2e-4, s"down flag but y inside: $r")
        case "in"   => assert(y >= lo - 2e-4 && y <= up + 2e-4, s"in flag but y outside: $r")
      }
    }
  }

  test("q_markov_stationary is a probability distribution over the observed types") {
    val rows = q("q_markov_stationary").collect()
    val types = Tables.events(spark, sfDir).select("event_type").distinct().count()
    assert(rows.length === types, s"expected $types rows, got ${rows.length}")
    rows.foreach { r =>
      val p = r.getAs[Double]("stationary_p")
      assert(p >= 0 && p <= 1.0 + 1e-9, s"probability out of [0,1]: $r")
    }
    // π·P preserves total mass up to the 1e-12 term scaling and the
    // final r6 rounding of each of the |types| entries
    val mass = rows.map(_.getAs[Double]("stationary_p")).sum
    assert(math.abs(mass - 1.0) < 1e-4, s"stationary mass must stay ~1: $mass")
  }

  test("q_pca_power loadings are a unit vector with a valid top-eigenvalue share") {
    val rows = q("q_pca_power").collect()
    assert(rows.length === 4)
    val norm2 = rows.map(r => { val v = r.getAs[Double]("loading"); v * v }).sum
    assert(math.abs(norm2 - 1.0) < 1e-4, s"loadings must be unit-norm: $norm2")
    // λ1 of a 4×4 correlation matrix lies in [1, 4] ⇒ share in [1/4, 1]
    val shares = rows.map(_.getAs[Double]("var_share")).distinct
    assert(shares.length === 1, "every row reports the same share")
    assert(shares.head >= 0.25 - 1e-9 && shares.head <= 1.0 + 1e-9,
      s"top-PC share out of [0.25, 1]: ${shares.head}")
  }

  test("q_rsi is a valid momentum index over full 14-delta frames") {
    val rows = q("q_rsi").collect()
    // 30 days → 29 deltas → 16 full-frame days per type
    assert(rows.length === 16 * 5, s"expected 80 rsi rows, got ${rows.length}")
    rows.foreach { r =>
      val rsi = r.getAs[Double]("rsi")
      assert(rsi >= 0 && rsi <= 100 + 1e-9, s"rsi out of [0,100]: $r")
      assert(r.getAs[Double]("close_px") > 0, s"close must be positive: $r")
    }
  }

  test("q_holt_linear tracks the series: first row seeds level=y, flat series pins trend=0") {
    val rows = q("q_holt_linear").collect()
    val daily = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(count(lit(1)).as("n"), countDistinct(to_date(col("ts"))).as("days"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rows.length === daily.values.sum, "one row per (type, day)")
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("day_idx"))
      val first = sorted.head
      // seed: l1 = y1, b1 = 0 ⇒ forecast1 = y1
      assert(first.getAs[Double]("level") === first.getAs[Long]("y").toDouble)
      assert(first.getAs[Double]("trend") === 0.0)
      // the smoothed level stays within the series' observed range
      val ys = sorted.map(_.getAs[Long]("y").toDouble)
      sorted.foreach { r =>
        val l = r.getAs[Double]("level")
        assert(l >= ys.min - math.abs(ys.min) && l <= 2 * ys.max,
          s"level implausibly far outside series range: $r")
        val fc = Math.floor((r.getAs[Double]("level") + r.getAs[Double]("trend")) * 1e6 + 0.5) / 1e6
        assert(math.abs(r.getAs[Double]("forecast") - fc) < 2e-6,
          s"forecast must equal level+trend up to re-rounding: $r vs $fc")
      }
    }
  }

  test("q_decompose components re-sum to y up to rounding; interior days only") {
    val rows = q("q_decompose").collect()
    // 30 days per type → 24 interior (full 7-row window) days
    assert(rows.length === 24 * 5, s"expected 120 rows, got ${rows.length}")
    rows.foreach { r =>
      val y = r.getAs[Long]("y").toDouble
      val t = r.getAs[Double]("trend")
      val s0 = r.getAs[Double]("seasonal")
      val e = r.getAs[Double]("residual")
      // y = trend + seasonal + residual by construction (3 r6 roundings)
      assert(math.abs(y - (t + s0 + e)) < 5e-6, s"decomposition must re-sum: $r")
    }
  }

  test("q_sessionize rolls up to q_activity_islands: session count and coverage agree") {
    val sess = q("q_sessionize").cache()
    try {
      val events = Tables.events(spark, sfDir)
      assert(sess.count() === events.count(), "every event gets a session label")
      // per-user session count equals the islands' n_islands
      val fromSess = sess.groupBy("user_id")
        .agg(max("session_idx").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      q("q_activity_islands").collect().foreach { r =>
        val u = r.getAs[Long]("user_id")
        assert(fromSess(u) === r.getAs[Long]("n_islands"),
          s"session count mismatch for user $u")
      }
      // sequence numbers are 1..len contiguous within each session
      val bad = sess.groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("len"), max("seq_in_session").as("mx"),
          min("seq_in_session").as("mn"))
        .filter(col("mx") =!= col("len") || col("mn") =!= 1)
      assert(bad.isEmpty, "seq_in_session must be 1..len per session")
    } finally sess.unpersist()
  }

  test("q_abc_class classes are ordered A-then-B-then-C with conserved revenue") {
    val rows = q("q_abc_class").collect()
    val parts = Tables.load(spark, sfDir, "lineitem").select("l_partkey").distinct().count()
    assert(rows.length === parts, "one class per part")
    // cum_share nondecreasing in rank, ends at 1; class boundaries in order
    val byRank = rows.sortBy(_.getAs[Long]("rk"))
    assert(math.abs(byRank.last.getAs[Double]("cum_share") - 1.0) < 1e-6)
    var seen = "A"
    byRank.foreach { r =>
      val c = r.getAs[String]("abc")
      assert(c >= seen, s"class ordering violated at rank ${r.getAs[Long]("rk")}")
      seen = c
    }
    val classes = rows.groupBy(_.getAs[String]("abc")).view.mapValues(_.length).toMap
    assert(classes.keySet.subsetOf(Set("A", "B", "C")) && classes.getOrElse("C", 0) > 0,
      s"expected a Pareto tail, got $classes")
    // A ends at the last part whose cumulative share stays ≤ 0.80, so
    // its revenue share sits in (0.80 − one part's share, 0.80]
    val total = byRank.map(_.getAs[Double]("revenue")).sum
    val aShare = byRank.filter(_.getAs[String]("abc") == "A")
      .map(_.getAs[Double]("revenue")).sum / total
    val maxPartShare = byRank.map(_.getAs[Double]("revenue")).max / total
    assert(aShare <= 0.80 + 1e-9 && aShare > 0.80 - maxPartShare - 1e-9,
      s"A class must end at the 80% boundary: $aShare (max part share $maxPartShare)")
  }

  test("bag set-op algebra: |A EXCEPT ALL B| + |A INTERSECT ALL B| = |A|") {
    val e = Tables.events(spark, sfDir)
    val a = e.filter(col("event_type") === "purchase").select("user_id")
    val exceptAllRows = q("q_except_all").count()
    val bAll = e.filter(col("event_type") === "error" && col("value") > 300.0).select("user_id")
    assert(exceptAllRows + a.intersectAll(bAll).count() === a.count(),
      "bag difference and bag intersection must partition the left bag")
    // the distinct EXCEPT is a subset of the bag difference's support
    // (a key with copies on both sides can survive EXCEPT ALL while
    // the distinct form drops it, never the reverse)
    val exceptDistinct = q("q_except").select("user_id")
    assert(exceptDistinct.except(q("q_except_all").select("user_id").distinct()).isEmpty,
      "every distinct-EXCEPT survivor must appear in the EXCEPT ALL bag")
  }

  test("q_attribution credit is conserved: linear credit sums to purchases-with-touches") {
    val rows = q("q_attribution").collect()
    assert(rows.nonEmpty)
    // every attributed purchase hands out exactly 1.0 of linear credit
    // (k touches × 1/k) and exactly one last-touch — so both totals
    // equal the number of purchases with ≥1 in-window touch
    val purchasesWithTouch = {
      val e = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          Q.epochSec(col("ts")).as("es"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("event_id").as("pid"), col("es").as("pes"))
      p.join(e, col("user_id") === col("pu") &&
          col("es") >= col("pes") - 86400 && col("es") < col("pes") &&
          col("event_type") =!= "purchase", "left_semi")
        .count()
    }
    val lastSum = rows.map(_.getAs[Long]("last_touch")).sum
    val linearSum = rows.map(_.getAs[Double]("linear_credit")).sum
    assert(lastSum === purchasesWithTouch, "one last-touch per attributed purchase")
    // 1e-6-scaled integer credits: per purchase the k rounded shares sum
    // to 1.0 within k ulps of 1e-6
    assert(math.abs(linearSum - purchasesWithTouch) < 0.01,
      s"linear credit must conserve: $linearSum vs $purchasesWithTouch")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_touches") >= r.getAs[Long]("last_touch"),
        s"last-touch count cannot exceed touches: $r")
    }
  }

  test("q_dedup_containment dominates Jaccard and flags every near-dup pair") {
    val cont = q("q_dedup_containment").collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
        (r.getAs[Double]("cont_d1"), r.getAs[Double]("cont_d2"))).toMap
    cont.values.foreach { case (c1, c2) =>
      assert(c1 > 0 && c1 <= 1.0 + 1e-9 && c2 > 0 && c2 <= 1.0 + 1e-9,
        s"containment out of (0,1]: ($c1, $c2)")
      assert(math.max(c1, c2) >= 0.5 - 1e-9, "threshold violated")
    }
    // containment ≥ Jaccard always (|A∩B|/|A| ≥ |A∩B|/|A∪B|), so every
    // Jaccard-0.8 near-dup pair must appear here with BOTH sides ≥ 0.8
    q("q_dedup_near").collect().foreach { r =>
      val key = (r.getAs[Long]("d1"), r.getAs[Long]("d2"))
      val j = r.getAs[Double]("jaccard")
      val (c1, c2) = cont.getOrElse(key, fail(s"near-dup pair $key missing"))
      assert(c1 >= j - 1e-9 && c2 >= j - 1e-9,
        s"containment must dominate jaccard for $key: ($c1, $c2) vs $j")
    }
  }

  test("q_grouped_regression fits are valid and the pooled fit matches spark's corr") {
    val rows = q("q_grouped_regression").collect()
    assert(rows.length === 25, "one fit per nation")
    rows.foreach { r =>
      val r2v = r.getAs[Double]("r2")
      assert(r2v >= -1e-9 && r2v <= 1.0 + 1e-9, s"r2 out of [0,1]: $r")
      assert(r.getAs[Long]("n") > 0)
    }
    // r² is corr² — cross-check one nation against Spark's own corr()
    // over the same integer daily series
    val dim = Tables.load(spark, sfDir, "customer")
      .join(Tables.load(spark, sfDir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val daily = Tables.load(spark, sfDir, "orders")
      .join(dim, col("o_custkey") === col("c_custkey"))
      .filter(col("n_name") === rows.head.getAs[String]("n_name"))
      .groupBy(datediff(col("o_orderdate").cast(org.apache.spark.sql.types.DateType),
        to_date(lit("1995-01-01"))).cast("long").as("x"))
      .agg(expr("CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) div 100 AS BIGINT)").as("y"))
    val c = daily.agg(corr(col("x").cast("double"), col("y").cast("double"))).head().getDouble(0)
    assert(math.abs(c * c - rows.head.getAs[Double]("r2")) < 1e-4,
      s"r2 must equal corr²: ${c * c} vs ${rows.head.getAs[Double]("r2")}")
  }

  test("q_graph_jaccard scores are valid Jaccard coefficients consistent with cosine support") {
    val rows = q("q_graph_jaccard").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j > 0 && j <= 1.0 + 1e-9, s"jaccard out of (0,1]: $r")
      assert(r.getAs[Long]("cooc") >= 2, s"support floor violated: $r")
    }
    // J ≤ 1 forces cooc ≤ min(ca, cb): cross-check against per-part order counts
    val io = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("pk")).distinct()
    val cnt = io.groupBy("pk").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (a, b, cooc) = (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("cooc"))
      assert(cooc <= math.min(cnt(a), cnt(b)), s"cooc exceeds a side's order count: $r")
    }
  }

  test("q_kruskal_wallis matches an independent average-rank replication on the real corpus") {
    // ground truth computed the TEXTBOOK way (collect all cents values,
    // assign average ranks in Scala, H with the standard tie
    // correction) — no shared code with the query's doubled-rank /
    // unit-floored formulation, so a mistake in either side surfaces
    val r = q("q_kruskal_wallis").head()
    val vals = Tables.events(spark, sfDir)
      .select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("v"))
      .collect().map(x => (x.getString(0), x.getLong(1)))
    val n = vals.length
    // average rank per distinct value
    val rankOf = vals.map(_._2).sorted.zipWithIndex
      .groupBy(_._1).map { case (v, xs) =>
        v -> xs.map(_._2 + 1).sum.toDouble / xs.length
      }
    val groups = vals.groupBy(_._1)
    val sumRsqOverN = groups.values.map { g =>
      val rsum = g.map(x => rankOf(x._2)).sum
      rsum * rsum / g.length
    }.sum
    val h = 12.0 / (n.toDouble * (n + 1)) * sumRsqOverN - 3.0 * (n + 1)
    val ties = vals.map(_._2).groupBy(identity).values
      .map(t => t.length.toLong).map(t => t * t * t - t).sum
    val hAdj = h / (1.0 - ties.toDouble / (n.toDouble * n * n - n))
    assert(r.getAs[Long]("k") === groups.size.toLong)
    assert(r.getAs[Long]("n") === n.toLong)
    assert(math.abs(r.getAs[Double]("h") - h) < 1e-3,
      s"H ${r.getAs[Double]("h")} diverges from the textbook replication $h")
    assert(math.abs(r.getAs[Double]("h_tie_adj") - hAdj) < 1e-3)
  }

  test("q_countmin_err never underestimates and its true counts match an exact recount") {
    val rows = q("q_countmin_err").collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("overest") >= 0L,
        s"CMS must never underestimate: $r")
      assert(r.getAs[Long]("est_cnt") ===
        r.getAs[Long]("true_cnt") + r.getAs[Long]("overest"))
    }
    // independent recount of the reported top token
    val top = rows.head
    val exact = Tables.load(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") === top.getAs[String]("token")).count()
    assert(exact === top.getAs[Long]("true_cnt"))
    // and the rows really are the global top-20 in (cnt DESC, token) order
    val cnts = rows.map(_.getAs[Long]("true_cnt")).toSeq
    assert(cnts === cnts.sorted.reverse)
  }

  test("q_knn_recall_curve hits are monotone in k with exact truth sizes") {
    val rows = q("q_knn_recall_curve").collect()
      .map(r => r.getAs[Long]("k") -> r).toMap
    assert(rows.keySet === Set(1L, 5L, 10L))
    for ((k, r) <- rows) {
      assert(r.getAs[Long]("n_truth") === 10 * k, "10 probes × k truth rows each")
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_truth"))
    }
    // truth and candidate sets both grow with k ⇒ the intersection does
    assert(rows(1L).getAs[Long]("n_hit") <= rows(5L).getAs[Long]("n_hit"))
    assert(rows(5L).getAs[Long]("n_hit") <= rows(10L).getAs[Long]("n_hit"))
  }

  test("q_shard_skew conserves docs and bytes across the 64-shard grid") {
    val rows = q("q_shard_skew").collect()
    val docs = Tables.load(spark, sfDir, "documents")
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.count())
    assert(rows.map(_.getAs[Long]("bytes")).sum ===
      docs.agg(sum("n_chars")).head().getLong(0))
    val shareSum = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares must sum to ~1: $shareSum")
    rows.foreach(r => assert(r.getAs[Long]("shard") >= 0 && r.getAs[Long]("shard") < 64))
  }

  test("q_cochran_q: hand-computed 4×2 design reads exactly 2.0; saturated design is NULL") {
    import spark.implicits._
    def write(dir: String, pairs: Seq[(Long, String)]): Unit =
      pairs.zipWithIndex.map { case ((u, t), i) =>
        (i.toLong, "2024-01-10 12:00:00", u, t, 1.0)
      }.toDF("event_id", "tss", "user_id", "event_type", "value")
        .select(col("event_id"), to_timestamp(col("tss")).as("ts"), col("user_id"),
          col("event_type"), col("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    // G = (4, 2), L = (2, 1, 1, 2): Q = 1·(2·20 − 36) / (2·6 − 10) = 2
    val d1 = tempDir("tp_cochran")
    write(d1, Seq(0L -> "a", 0L -> "b", 1L -> "a", 2L -> "a", 3L -> "a", 3L -> "b"))
    val r1 = SparkEntry.queries("q_cochran_q")(spark, d1).head()
    assert(r1.getAs[Long]("k") === 2L && r1.getAs[Long]("n_users") === 4L)
    assert(r1.getAs[Double]("q") === 2.0)
    // every user does every type ⇒ zero within-block variance ⇒ NULL
    val d2 = tempDir("tp_cochran_sat")
    write(d2, for (u <- 0L to 2L; t <- Seq("a", "b")) yield u -> t)
    val r2 = SparkEntry.queries("q_cochran_q")(spark, d2).head()
    assert(r2.isNullAt(r2.fieldIndex("q")),
      "a saturated participation matrix must read NULL, not a 0/0")
  }

  test("q_bartlett matches a hand-computed two-group design") {
    import spark.implicits._
    // a: values 1,1,3,3 (SSW=4), b: 0,0,4,4 (SSW=16): Sp²=20/6,
    // T = [6·ln(10/3) − (3·ln(4/3) + 3·ln(16/3))] / (1 + (2/3 − 1/6)/3)
    val dir = tempDir("tp_bartlett")
    val vals = Seq(("a", 1.0), ("a", 1.0), ("a", 3.0), ("a", 3.0),
      ("b", 0.0), ("b", 0.0), ("b", 4.0), ("b", 4.0))
    vals.zipWithIndex.map { case ((t, v), i) =>
      (i.toLong, "2024-01-10 12:00:00", i.toLong, t, v)
    }.toDF("event_id", "tss", "user_id", "event_type", "value")
      .select(col("event_id"), to_timestamp(col("tss")).as("ts"), col("user_id"),
        col("event_type"), col("value"), lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q_bartlett")(spark, dir).head()
    assert(r.getAs[Long]("k") === 2L && r.getAs[Long]("n") === 8L)
    // replicate through the SAME per-group lattice the op commits to
    def lat(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val sw = lat(4.0) + lat(16.0)
    val slt = (math.floor(3 * math.log(4.0 / 3) * 1e6 + 0.5) +
      math.floor(3 * math.log(16.0 / 3) * 1e6 + 0.5)) / 1e6
    val c = 1.0 + (math.floor(1e12 / 3 + 0.5) * 2 / 1e12 - 1.0 / 6) / 3.0
    val expect = (6 * math.log(sw / 6) - slt) / c
    assert(math.abs(r.getAs[Double]("bartlett_t") - expect) < 1e-5)
  }

  test("q_chisq_trend reads the planted monotone weekday trend with z² = χ²") {
    import spark.implicits._
    // Jan 1..7 2024 = Mon..Sun (w = 1..7); n_w = 10 events, r_w = w
    // purchases: num = 70·140 − 28·280 = 1960,
    // den = 28·42/70 · (70·1400 − 280²) = 329280
    val dir = tempDir("tp_catrend")
    val rows = for (w <- 1 to 7; i <- 0 until 10) yield
      ((w * 100 + i).toLong, f"2024-01-0$w 12:${i}%02d:00", i.toLong,
        if (i < w) "purchase" else "click", 1.0)
    rows.toDF("event_id", "tss", "user_id", "event_type", "value")
      .select(col("event_id"), to_timestamp(col("tss")).as("ts"), col("user_id"),
        col("event_type"), col("value"), lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q_chisq_trend")(spark, dir).head()
    assert(r.getAs[Long]("n") === 70L && r.getAs[Long]("n_purchase") === 28L)
    val z = 1960.0 / math.sqrt(329280.0)
    assert(r.getAs[Double]("z") === math.floor(z * 1e6 + 0.5) / 1e6)
    assert(r.getAs[Double]("chi2") === math.floor(z * z * 1e6 + 0.5) / 1e6)
    assert(r.getAs[Double]("z") > 0, "an increasing share must read a positive trend")
  }

  test("q_split_leakage's doc universe agrees with q_sample_split and its shares are sane") {
    val splits = q("q_sample_split").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val eligible = Tables.load(spark, sfDir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = eligible.toSeq.map(splits).groupBy(identity)
      .map { case (s, xs) => s -> xs.size.toLong }
    val rows = q("q_split_leakage").collect()
      .map(r => r.getAs[String]("split") -> r).toMap
    assert(rows.keySet === Set("test", "val"))
    for ((s, r) <- rows) {
      assert(r.getAs[Long]("n_docs") === expected(s),
        s"$s doc count diverges from the q_sample_split assignment")
      val share = r.getAs[Double]("shingle_leak_share")
      assert(share >= 0.0 && share <= 1.0)
      assert(r.getAs[Long]("in_train") <= r.getAs[Long]("n_shingles"))
      assert(r.getAs[Long]("n_leaky_docs") <= r.getAs[Long]("n_docs"))
    }
  }

  test("q_brunner_munzel on a zero-purchase corpus reads NULL stats, not a crash") {
    // the r16 bmDevFrame guards: with n1 = 0 every purchase-side rank
    // deviation is 0/0 — both engines must answer (0, n2, NULL, NULL,
    // NULL) instead of Spark-NULL-vs-DuckDB-cast-error divergence
    import spark.implicits._
    val dir = tempDir("tp_bm_zero")
    (1 to 6).map(i => (i.toLong, "2024-01-10 12:00:00", i.toLong, "click", i * 1.5))
      .toDF("event_id", "tss", "user_id", "event_type", "value")
      .select(col("event_id"), to_timestamp(col("tss")).as("ts"), col("user_id"),
        col("event_type"), col("value"), lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q_brunner_munzel")(spark, dir).head()
    assert(r.getAs[Long]("n1") === 0L && r.getAs[Long]("n2") === 6L)
    for (c <- Seq("p_hat", "w", "df"))
      assert(r.isNullAt(r.fieldIndex(c)), s"$c must be NULL on a zero-purchase corpus")
  }

  test("q_fdr_bh on constant balances reads NULL z/p and no rejections, not a crash") {
    // the r17 Welch-variance guard: every customer holding the SAME
    // balance zeroes both variance terms — z is 0/0 in the unguarded
    // form (Spark NULL vs DuckDB cast error); the guarded readout is
    // NULL z, NULL p, NULL bh_reject/bonf_reject on every family row
    import spark.implicits._
    val dir = tempDir("tp_fdr_const")
    (0 until 12).map(i => (i.toLong, s"Customer#$i", i % 3, 100.0))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    (0 to 2).map(k => (k, s"NATION$k", k))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val rows = SparkEntry.queries("q_fdr_bh")(spark, dir).collect()
    assert(rows.length === 3)
    for (r <- rows; c <- Seq("z", "p_value", "bh_reject", "bonf_reject"))
      assert(r.isNullAt(r.fieldIndex(c)), s"$c must be NULL on a constant-balance family")
  }

  test("q_join_lateral: a planted balance ladder reads each nation's exact top-2") {
    import spark.implicits._
    val dir = tempDir("tp_lateral")
    // nation 0: balances 5, 3, 1 → top-2 = (500, 300); nation 1: a tie
    // at 7.00 broken by custkey ASC → (custkey 4, then 5)
    Seq((1L, "c", 0, 5.0), (2L, "c", 0, 3.0), (3L, "c", 0, 1.0),
      (4L, "c", 1, 7.0), (5L, "c", 1, 7.0), (6L, "c", 1, 2.0))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((0, "ALPHA", 0), (1, "BETA", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val got = SparkEntry.queries("q_join_lateral")(spark, dir).collect()
      .map(r => (r.getAs[String]("n_name"), r.getAs[Long]("c_custkey"), r.getAs[Long]("bal")))
    assert(got.toSeq === Seq(
      ("ALPHA", 1L, 500L), ("ALPHA", 2L, 300L),
      ("BETA", 4L, 700L), ("BETA", 5L, 700L)))
  }

  test("q_sq8_recall: planted clusters keep their top-1 through int8 quantization") {
    // two sign-separated clusters: the int8 grid spans [-1.04, 1.04]
    // per dim, so a ~0.008 quantization step cannot flip a ~2.0
    // cross-cluster cosine gap — every probe must keep its exact
    // top-1, and the mean |Δcos| stays far under one r4 step × 100
    val dir = tempDir("tp_sq8")
    import spark.implicits._
    def vec(sign: Float, jitter: Int): Array[Float] =
      Array.tabulate(64)(i => sign * (1f + 0.01f * ((i + jitter) % 5)))
    val rows = (0 until 3).map(i => (i.toLong, vec(1f, i), 0)) ++
      (3 until 6).map(i => (i.toLong, vec(-1f, i), 1))
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q_sq8_recall")(spark, dir).collect()
    assert(out.length === 6, "every vec_id < 10 is a probe")
    for (r <- out) {
      assert(r.getAs[Int]("agree") === 1,
        s"probe ${r.getAs[Long]("probe_id")} lost its top-1 to quantization")
      assert(r.getAs[Long]("top1_exact") === r.getAs[Long]("top1_sq8"))
      assert(r.getAs[Double]("mean_abs_err") < 0.01)
      assert(math.abs(r.getAs[Double]("exact_score") - r.getAs[Double]("sq8_score")) < 0.01)
    }
  }

  test("q_knn_reciprocity reads 1.0 on planted tight clusters and sees no cross-cluster edge") {
    // two sign-separated clusters (every band key differs), 3 vectors
    // each: banding proposes only within-cluster candidates, top-5
    // covers the whole cluster, every edge is mutual and same-label
    val dir = tempDir("tp_knn_recip")
    import spark.implicits._
    def vec(sign: Float, jitter: Int): Array[Float] =
      Array.tabulate(64)(i => sign * (1f + 0.01f * ((i + jitter) % 5)))
    val rows = (0 until 3).map(i => (i.toLong, vec(1f, i), 0)) ++
      (3 until 6).map(i => (i.toLong, vec(-1f, i), 1))
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q_knn_reciprocity")(spark, dir).collect()
      .map(r => r.getAs[Int]("label") -> r).toMap
    for (l <- Seq(0, 1)) {
      val r = out(l)
      assert(r.getAs[Long]("n_nodes") === 3L)
      assert(r.getAs[Long]("n_edges") === 6L, "each node links its 2 cluster mates")
      assert(r.getAs[Long]("n_mutual") === 6L)
      assert(r.getAs[Double]("reciprocity") === 1.0)
      assert(r.getAs[Double]("intra_label") === 1.0,
        "a cross-cluster edge leaked through the sign banding")
    }
  }
}
