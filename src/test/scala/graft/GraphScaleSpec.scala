package graft

import org.apache.spark.sql.functions._

/** Empirical scale confirmation for the graph suite (r11, VERDICT item
  * 5): the triangle census claims O(Σ C(deg⁺, 2)) = O(m^1.5) work via
  * degree-ordered orientation, and the butterfly count claims a
  * DegCap-bounded per-key quadratic. Both were argued from the plan
  * shape; this spec MEASURES them on a synthetic co-purchase graph at
  * 1× and 10× with a structure chosen to catch the failure mode:
  *
  *  - a ring lattice (order o buys parts o..o+3 mod P) whose edges and
  *    triangles grow LINEARLY with scale, plus
  *  - two global hub parts in EVERY basket, so the hubs' co-purchase
  *    degree equals the whole catalog. A naive id-ordered wedge
  *    expansion does C(P, 2) work on the hubs — 100× when the catalog
  *    grows 10× — while the degree-ordered orientation only ever
  *    expands wedges from the low-degree endpoint, and the butterfly
  *    DegCap drops the hub outright, keeping both near-linear.
  *
  * The assertion is a coarse runtime-growth bound (≤ 30× for 10× data,
  * min-of-2 runs, floored denominator) — loose enough for a contended
  * box, far below the ~100× a hub-quadratic plan shows.
  */
class GraphScaleSpec extends SparkSpec {

  /** Synthetic lineitem dir at scale factor f (parts 2000·f catalog,
    * orders 20000·f, plus 2 all-basket hub parts and a deterministic
    * supplier per line so the butterfly side has real degrees). */
  private def synthDir(f: Int): String = {
    val dir = tempDir(s"graph_scale_$f")
    val parts = 2000L * f
    val orders = 20000L * f
    spark.range(orders).select(col("id").as("o"))
      .select(col("o"), explode(concat(
        expr(s"transform(sequence(0, 3), j -> (o + j) % ${parts}L)"),
        array(lit(parts), lit(parts + 1)))).as("pk"))
      .select(
        col("o").as("l_orderkey"),
        col("pk").as("l_partkey"),
        ((col("o") * 31 + col("pk") * 7) % 500).as("l_suppkey"))
      .coalesce(8)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("q_graph_rich_club: a planted double star reads the exact rich core") {
    // P1–{S1..S5} and S1–{P2..P5}: deg(P1) = deg(S1) = 5, all others 1.
    // k = 2 and k = 4: rich sets {P1} × {S1}, one rich edge ⇒ density 1;
    // k = 8 and 16: no rich node ⇒ zero counts and NULL density
    val dir = tempDir("graph_rich_club")
    import spark.implicits._
    val edges = (1L to 5L).map(s => (1L, s)) ++ (2L to 5L).map(p => (p, 1L))
    edges.zipWithIndex.map { case ((p, s), i) => (i.toLong, p, s) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = SparkEntry.queries("q_graph_rich_club")(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r).toMap
    assert(rows.keySet === Set(2L, 4L, 8L, 16L))
    for (k <- Seq(2L, 4L)) {
      assert(rows(k).getAs[Long]("n_rich_parts") === 1L)
      assert(rows(k).getAs[Long]("n_rich_supps") === 1L)
      assert(rows(k).getAs[Long]("rich_edges") === 1L)
      assert(rows(k).getAs[Double]("density") === 1.0)
    }
    for (k <- Seq(8L, 16L)) {
      assert(rows(k).getAs[Long]("rich_edges") === 0L)
      assert(rows(k).isNullAt(rows(k).fieldIndex("density")),
        "an empty rich set must read NULL density, not 0/0")
    }
  }

  test("q_hits: a planted bipartite star reads the closed-form hub/authority ranking") {
    // parts {1,2,3} × suppliers {10,20}: (1,10)(2,10)(3,10)(1,20).
    // a¹ = indeg: s10=3, s20=1; h¹: p1=4, p2=p3=3;
    // a²: s10=10, s20=4; h²: p1=14, p2=p3=10.
    // Hubs: p1 1.0, then p2 before p3 on the id tie-break at 10/14;
    // authorities: s10 1.0, s20 4/10.
    import spark.implicits._
    val dir = tempDir("hits_gt")
    Seq((1L, 1L, 10L), (2L, 2L, 10L), (3L, 3L, 10L), (4L, 1L, 20L), (5L, 1L, 10L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey") // (1,10) repeated — DISTINCT drops it
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = SparkEntry.queries("q_hits")(spark, dir).collect()
      .map(r => (r.getAs[String]("side"), r.getAs[Long]("rank")) ->
        (r.getAs[String]("node"), r.getAs[Double]("score"))).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(rows(("hub", 1L)) === (("p:1", 1.0)))
    assert(rows(("hub", 2L)) === (("p:2", r6(10.0 / 14))))
    assert(rows(("hub", 3L)) === (("p:3", r6(10.0 / 14))))
    assert(rows(("authority", 1L)) === (("s:10", 1.0)))
    assert(rows(("authority", 2L)) === (("s:20", 0.4)))
    assert(rows.size === 5)
  }

  test("q_graph_ra: a planted wedge scores the non-edge, a triangle yields nothing") {
    import spark.implicits._
    // star: edges (1,2) and (1,3) at support 2 ⇒ the only candidate is
    // the non-edge (2,3) through common neighbor 1 (deg 2): ra = 1/2
    val star = tempDir("ra_star")
    (Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 3L), (4L, 1L), (4L, 3L)))
      .map { case (o, pk) => (o, pk, 1L) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$star/lineitem.parquet")
    val rows = SparkEntry.queries("q_graph_ra")(spark, star).collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[Long]("a") === 2L)
    assert(rows(0).getAs[Long]("b") === 3L)
    assert(rows(0).getAs[Long]("n_common") === 1L)
    assert(rows(0).getAs[Double]("ra") === 0.5)
    // triangle: every common-neighbor pair is ALREADY an edge ⇒ empty
    val tri = tempDir("ra_tri")
    (for (o <- 1L to 2L; pair <- Seq((o * 10, Seq(1L, 2L)), (o * 10 + 1, Seq(1L, 3L)),
        (o * 10 + 2, Seq(2L, 3L))); pk <- pair._2) yield (pair._1, pk, 1L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$tri/lineitem.parquet")
    assert(SparkEntry.queries("q_graph_ra")(spark, tri).isEmpty)
  }

  test("q_graph_ra: a hub past DegCap generates no wedges (the quadratic bound)") {
    import spark.implicits._
    // hub 0 joined to 129 leaves at support 2: deg(0) = 129 > 128 ⇒ the
    // hub is excluded as a common neighbor and every leaf has deg 1 ⇒
    // the scored pair frame is EMPTY, not C(129, 2)
    val dir = tempDir("ra_hub")
    (for (i <- 1L to 129L; rep <- 0L to 1L; pk <- Seq(0L, i))
      yield (i * 2 + rep, pk, 1L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    assert(SparkEntry.queries("q_graph_ra")(spark, dir).isEmpty)
  }

  test("q_hits stays key-bounded with no catalog-sized window at 10x parts") {
    // The r14 verdict's 6b as a spec: the two power-iteration rounds
    // must remain hash joins on the node keys (sk/pk) — a nested-loop
    // or cartesian would re-price scores quadratically — and every
    // window must consume a sort+limit frame (TakeOrderedAndProject),
    // never a catalog-sized sort through one reducer.
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window => LWindow}
    val dir = synthDir(10)
    val df = SparkEntry.queries("q_hits")(spark, dir)
    val lp = df.queryExecution.optimizedPlan
    lp.foreach {
      case w: LWindow =>
        assert(w.child.collectFirst { case l: GlobalLimit => l }.nonEmpty,
          s"a q_hits window consumes an unlimited frame at 10x:\n$lp")
      case _ =>
    }
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct") &&
      !phys.contains("BroadcastNestedLoopJoin"),
      s"score-frame join degraded from a key-bounded hash join:\n$phys")
    assert(phys.contains("TakeOrderedAndProject"),
      s"top-10 must plan as sort+limit pushdown:\n$phys")
  }

  private def minTime(run: () => Long): (Double, Long) = {
    var rows = 0L
    val times = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      rows = run()
      (System.nanoTime() - t0) / 1e9
    }
    (times.min, rows)
  }

  test("triangle census and butterflies grow near-linearly on a 10x hub-heavy graph") {
    val d1 = synthDir(1)
    val d10 = synthDir(10)
    // q_graph_clustering and q_graph_kcore (round 11) ride the same
    // edge machinery (triangleCornersFrom / iterative peel on the
    // checkpointed coPairs frame) — include them under the same bound
    for (q <- Seq("q_graph_triangles", "q_graph_butterflies",
        "q_graph_clustering", "q_graph_kcore")) {
      val fn = SparkEntry.queries(q)
      fn(spark, d1).count() // warm the plan/codegen before timing
      val (t1, r1) = minTime(() => fn(spark, d1).count())
      val (t10, r10) = minTime(() => fn(spark, d10).count())
      assert(r1 > 0 && r10 > 0, s"$q: synthetic graph produced no rows")
      val bound = 30.0 * math.max(t1, 0.4)
      assert(t10 <= bound,
        f"$q: 10x data took $t10%.2f s vs $t1%.2f s at 1x — growth " +
          f"${t10 / math.max(t1, 0.4)}%.1fx exceeds the near-linear bound " +
          "(a hub-quadratic plan shows ~100x here)")
      info(f"$q: 1x $t1%.2f s, 10x $t10%.2f s (${t10 / math.max(t1, 0.4)}%.1fx)")
    }
  }

  test("iterative graph ops run identically under a reliable checkpoint dir") {
    // The branch a real cluster runs (r11 VERDICT item 6): with a
    // checkpoint dir on the SparkContext, every iterative op's round
    // snapshot goes through reliable df.checkpoint instead of
    // localCheckpoint. Round-trip each op both ways on sf0.001 and
    // assert identical results — the exact plan that would recover a
    // lost executor mid-iteration on a cluster is the one tested here.
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty,
      "precondition: suite session must start on the localCheckpoint branch")
    // graph iteratives plus representative users of the shared
    // Q.snapshot helper (markov's 3-iteration matrix frame,
    // interpurchase's multi-branch fact frame, the CC-based clusters)
    for (q <- Seq("q_pagerank", "q_graph_kcore", "q_graph_bfs", "q_graph_closeness",
        "q_label_propagation", "q_markov_stationary", "q_interpurchase", "q_dup_clusters")) {
      val fn = SparkEntry.queries(q)
      val local = fn(spark, sfDir).collect().toSeq
      val ckptDir = tempDir(s"graft_reliable_ckpt_$q")
      sc.setCheckpointDir(ckptDir)
      try {
        val reliable = fn(spark, sfDir).collect().toSeq
        assert(reliable === local, s"$q diverged under reliable checkpointing")
        // the reliable branch really ran: checkpoint files were written
        val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckptDir))
          .filter(java.nio.file.Files.isRegularFile(_)).count()
        assert(wrote > 0, s"$q: no checkpoint files under $ckptDir — " +
          "the reliable branch was not taken")
      } finally sc.setCheckpointDir(null)
    }
    assert(sc.getCheckpointDir.isEmpty, "checkpoint dir must reset for later suites")
  }

  test("the synthetic hub structure actually stresses the hub path") {
    // guard against the test silently losing its teeth: the hubs must
    // dominate the degree distribution (catalog-sized co-purchase
    // degree at 1x) and survive into the support-filtered edge set
    val d1 = synthDir(1)
    val edges = ops.Graph.coPairs(spark, d1)
    val deg = edges.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val maxDeg = deg.agg(max("deg")).head().getLong(0)
    assert(maxDeg >= 1000L,
      s"hub degree $maxDeg — the synthetic graph no longer has catalog-scale hubs")
  }
}
