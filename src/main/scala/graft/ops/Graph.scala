package graft.ops

import graft.{Q, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the part–supplier bipartite graph implied by
  * `lineitem` (round-10 SURVEY §2 extensions): degree distribution and
  * PageRank by power iteration.
  *
  * The graph: node `p:<partkey>` — node `s:<suppkey>` whenever some
  * lineitem ships that (part, supplier) pair; edges are materialized
  * in both directions, so "out-degree" in the random-walk sense equals
  * undirected degree and no node is dangling (every node in the edge
  * list has degree ≥ 1 by construction).
  *
  * Scale shapes:
  *  - the edge list derives from ONE distinct-pair pass over lineitem
  *    (shuffle keyed on the pair, map-side partials collapse repeat
  *    shipments first);
  *  - each PageRank iteration is edges ⋈ ranks on src followed by a
  *    groupBy(dst) sum — ranks/degrees are |nodes|-sized (≪ |edges|;
  *    broadcast-eligible here, and at cluster scale both sides hash on
  *    the SAME node key, so the join and the regroup ride one stable
  *    partitioning per round);
  *  - iterations are a FIXED count (3) — plan depth is bounded, no
  *    checkpoint needed (contrast q_dup_clusters' convergence loop,
  *    which checkpoints per round);
  *  - ranks are r6-rounded BEFORE the top-50 order/limit, so the
  *    reported rows cannot depend on sub-rounding accumulation noise.
  */
object Graph {

  private val Damping = 0.85
  private val Iterations = 3

  /** Row bound under which a node-sized iteration state (ranks, labels,
    * frontiers — one row per node) broadcasts into its per-round join
    * instead of shuffle-joining (guide §3.1: the broadcast replaces a
    * shuffle of the EDGE side every round — measured 2.46 → 1.16 s for
    * q_label_propagation's three rounds at sf0.1, where the SMJ form
    * re-exchanged the 1.2M-row edge frame each round). 4M rows ≈ 64 MB
    * of (id, value) longs — the sizedBroadcast precedent (Curation's
    * trigram LM bound); above it every round degrades to the original
    * shuffle join unchanged, so a 100 TB catalog (billions of nodes)
    * never ships an unbounded build side. The guard is ONE count at the
    * seed — iteration states here keep exactly one row per node, so the
    * seed count bounds every round (Q.guardedBroadcast records it for
    * PlanAuditSpec's broadcast-bound walk). */
  private[graft] val NodeStateBroadcastRows = 4000000L

  /** Hub-part cap for butterfly candidate generation — parts with more
    * than this many suppliers are excluded from pair expansion (the
    * q_dedup_near dfCap move: bounds the per-key quadratic term). */
  private val DegCap = 128

  /** Co-purchase edge support threshold for the triangle census: a
    * pair of parts must share at least this many orders to be an
    * edge. Keeps the graph catalog-sized as orders accumulate. */
  private val MinSupport = 2

  /** Full unrounded rank table (int64 node id, pr) after [[Iterations]]
    * power-iteration rounds — the q_pagerank body before labeling /
    * rounding / top-50, exposed so TwinAndPropertySpec can assert mass
    * conservation over ALL nodes. */
  private[graft] def pagerankAll(s: SparkSession, d: String): DataFrame = {
    val ed0 = int64Edges(s, d)
    val deg = ed0.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val e = ed0.join(deg, "src").transform(Q.snapshot)
    val (nodes, nodeStats) =
      Q.snapshotWith(e.select(col("src").as("node")).distinct(), count(lit(1)))
    val nDf = nodes.agg(count(lit(1)).as("n_nodes"))
    // ONE count guards every round's broadcast hint: ranks keep exactly
    // one row per node, so |ranks| = |nodes| at every round (r19 —
    // guide §3.1). With the hint each round is edges(BHJ)→agg: the only
    // exchange left per round is the groupBy(dst) reduction, where the
    // SMJ form re-exchanged BOTH the |edges| frame and the rank table
    // every round. Above the guard bound rounds degrade to the original
    // shuffle join — nothing is hinted.
    val nNodes = nodeStats.getLong(0)
    // rounds stay a lazy chain (fixed count, each round feeds exactly
    // one consumer — the Lloyd-rounds precedent); the hint itself is
    // gated on the one nNodes count, and the hinted subtree is a
    // node-keyed aggregate, so the broadcast-bound walk classifies it
    // without a registry entry
    val hintRanks: DataFrame => DataFrame =
      if (nNodes <= NodeStateBroadcastRows) broadcast else identity
    var ranks = nodes.crossJoin(broadcast(nDf))
      .select(col("node"), (lit(1.0) / col("n_nodes")).as("pr"))
    for (_ <- 1 to Iterations) {
      val r = hintRanks(ranks)
      ranks = e
        .join(r, e("src") === r("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") / col("outdeg")).as("mass"))
        .crossJoin(broadcast(nDf))
        .select(col("node"),
          (lit(1 - Damping) / col("n_nodes") + lit(Damping) * col("mass")).as("pr"))
    }
    ranks
  }

  /** Bidirectional part–supplier edge list (src, dst) with int64 node
    * ids: part keys even, supplier keys odd. */
  private def int64Edges(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.load(s, d, "lineitem")
      .select((col("l_partkey") * 2).as("p"), (col("l_suppkey") * 2 + 1).as("sn"))
      .distinct()
    pairs.select(col("p").as("src"), col("sn").as("dst"))
      .unionAll(pairs.select(col("sn").as("src"), col("p").as("dst")))
  }

  /** Hop-bounded frontier expansion over the snapshotted [[int64Edges]]
    * `ed`. `seed(ed)` is hop 0, columns (keys…, id, depth); hop h
    * keeps, per key, the neighbors of hop h−1 that no earlier hop
    * reached, at depth h. Returns every hop's frontier, unioned, in the
    * seed's column order; the edge blocks are released once the last
    * hop is materialized. Each hop is ONE join frontier⋈edges and ONE
    * left-anti against the visited set, both on the int64 node key.
    *
    * Each frontier's rows are counted in its own snapshot job
    * ([[graft.Q.snapshotWith]]). The count is the broadcast row guard:
    * frontiers and the visited union hold at most |nodes| rows per key
    * value (one source for BFS, five for closeness), so each hop's
    * joins broadcast that side and the |edges| frame is never
    * re-exchanged; above the bound hops shuffle-join. It is also
    * the stop test: an empty frontier can only expand to empty ones, so
    * the expansion ends there instead of running out the hop cap.
    *
    * The visited set is only ever a LOOKUP for the anti-join, so it is
    * the lazy union of the already-snapshotted frontiers: snapshotting
    * the growing union every hop would re-materialize the whole visited
    * set each time for no correctness gain. */
  private def frontiers(s: SparkSession, d: String, keys: Seq[String], maxHops: Int)(
      seed: DataFrame => DataFrame): DataFrame = {
    val ed = int64Edges(s, d).transform(Q.snapshot)
    val keyed = keys :+ "id"
    @annotation.tailrec
    def hop(h: Int, reached: List[DataFrame], rows: Long, reachedRows: Long): DataFrame =
      if (h > maxHops || rows == 0) reached.reduce(_ unionAll _)
      else {
        val visited0 = reached.reduce(_ unionAll _).select(keyed.map(col): _*)
        val visited =
          if (reachedRows <= NodeStateBroadcastRows) broadcast(visited0) else visited0
        val bf = Q.guardedBroadcast(reached.head, rows, NodeStateBroadcastRows)
        val (next, st) = Q.snapshotWith(
          ed.join(bf, ed("src") === bf("id"))
            .select(keys.map(col) :+ col("dst").as("id"): _*).distinct()
            .join(visited, keyed, "left_anti")
            .withColumn("depth", lit(h.toLong)),
          count(lit(1)))
        hop(h + 1, next :: reached, st.getLong(0), reachedRows + st.getLong(0))
      }
    val (root, st) = Q.snapshotWith(seed(ed), count(lit(1)))
    val reached = hop(1, List(root), st.getLong(0), st.getLong(0))
    Q.release(ed)
    reached
  }

  /** Bidirectional edge list with string node ids (`p:`/`s:` prefixed,
    * matching the oracle's `'p:' || pk` rendering). */
  private def edges(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.load(s, dir, "lineitem")
      .select(concat(lit("p:"), col("l_partkey").cast("string")).as("p"),
        concat(lit("s:"), col("l_suppkey").cast("string")).as("sn"))
      .distinct()
    pairs.select(col("p").as("src"), col("sn").as("dst"))
      .unionAll(pairs.select(col("sn").as("src"), col("p").as("dst")))
  }

  def defs: Seq[QueryDef] = Seq(

    // Degree distribution per node class: how many parts/suppliers have
    // exactly k counterparties. Two bounded aggs: per-node degree
    // (|nodes| keys), then (side, degree) — the shape every degree
    // histogram keeps at any scale.
    Q("q_graph_degree",
      """WITH pairs AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        |edges AS (SELECT 'p:' || pk AS src, 's:' || sk AS dst FROM pairs
        |          UNION ALL SELECT 's:' || sk, 'p:' || pk FROM pairs),
        |deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY 1)
        |SELECT CASE WHEN src LIKE 'p:%' THEN 'part' ELSE 'supplier' END AS side,
        |       degree, count(*) AS n_nodes
        |FROM deg
        |GROUP BY 1, 2
        |ORDER BY side, degree""".stripMargin) { (s, d) =>
      edges(s, d)
        .groupBy("src").agg(count(lit(1)).as("degree"))
        .groupBy(
          when(col("src").startsWith("p:"), "part").otherwise("supplier").as("side"),
          col("degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("side", "degree")
    },

    // PageRank, 3 power iterations at damping 0.85, top-50 nodes.
    // PR₀ = 1/N; PRₜ₊₁(v) = (1−d)/N + d·Σ_{u→v} PRₜ(u)/deg(u). The
    // oracle unrolls the same three iterations as CTEs — both engines
    // run identical arithmetic over identical integer degrees, and the
    // only double reduction (the per-dst contribution sum) sits ~1e-14
    // under the r6 report after 3 rounds.
    Q("q_pagerank",
      s"""WITH pairs AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
         |edges AS (SELECT 'p:' || pk AS src, 's:' || sk AS dst FROM pairs
         |          UNION ALL SELECT 's:' || sk, 'p:' || pk FROM pairs),
         |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM deg),
         |it0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS pr FROM deg),
         |it1 AS (SELECT e.dst AS node,
         |               ${1 - Damping} / (SELECT n FROM nn) +
         |               $Damping * sum(r.pr / d.outdeg) AS pr
         |        FROM edges e JOIN it0 r ON e.src = r.node JOIN deg d ON e.src = d.src
         |        GROUP BY e.dst),
         |it2 AS (SELECT e.dst AS node,
         |               ${1 - Damping} / (SELECT n FROM nn) +
         |               $Damping * sum(r.pr / d.outdeg) AS pr
         |        FROM edges e JOIN it1 r ON e.src = r.node JOIN deg d ON e.src = d.src
         |        GROUP BY e.dst),
         |it3 AS (SELECT e.dst AS node,
         |               ${1 - Damping} / (SELECT n FROM nn) +
         |               $Damping * sum(r.pr / d.outdeg) AS pr
         |        FROM edges e JOIN it2 r ON e.src = r.node JOIN deg d ON e.src = d.src
         |        GROUP BY e.dst)
         |SELECT node, ${Q.sqlR6("pr")} AS pr
         |FROM it3
         |ORDER BY pr DESC, node
         |LIMIT 50""".stripMargin) { (s, d) =>
      // The iteration state uses INT64 node ids (part → 2·pk, supplier
      // → 2·sk+1) and fuses each edge's source out-degree into the
      // materialized edge list, so one round = ONE join + ONE agg over
      // (src, dst, outdeg) longs — int keys halve the shuffled bytes vs
      // the oracle's string nodes, and the per-round deg join
      // disappears. The snapshot is taken once — without it every round
      // would re-derive the distinct-pair scan of lineitem (the 100 TB
      // fact table). Q.snapshot takes localCheckpoint on a single box;
      // a cluster deployment sets a session checkpoint dir and gets
      // reliable checkpoints. String labels are restored only for the
      // final 50 rows.
      pagerankAll(s, d)
        .select(concat(
          when(col("node") % 2 === 0, "p:").otherwise("s:"),
          expr("node div 2").cast("string")).as("node"),
          Q.r6(col("pr")).as("pr"))
        .orderBy(col("pr").desc, col("node"))
        .limit(50)
    },

    // Butterfly counting (bipartite 4-cycles): the top-10 supplier
    // pairs by shared-part count, each with its butterfly contribution
    // C(shared, 2) — the bipartite clustering signal (two suppliers ×
    // two shared parts = one butterfly). Candidate generation is the
    // per-part supplier-pair expansion — C(deg, 2) pairs per part,
    // NEVER an all-pairs supplier join — and hub parts above DegCap
    // are excluded exactly like q_dedup_near's dfCap: the cap bounds
    // the quadratic term per key, and both twins apply it so results
    // stay identical whenever it doesn't bind. The pair agg lands on
    // (s1, s2) keys with map-side partials; integer counts only.
    Q("q_graph_butterflies",
      s"""WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
         |deg AS (SELECT pk, count(*) AS d FROM ps GROUP BY 1),
         |p AS (SELECT ps.pk, ps.sk FROM ps JOIN deg ON ps.pk = deg.pk
         |      WHERE deg.d <= $DegCap),
         |pairs AS (SELECT a.sk AS s1, b.sk AS s2
         |          FROM p a JOIN p b ON a.pk = b.pk AND a.sk < b.sk),
         |c AS (SELECT s1, s2, count(*) AS shared FROM pairs GROUP BY 1, 2)
         |SELECT s1, s2, shared, shared * (shared - 1) // 2 AS butterflies
         |FROM c
         |ORDER BY shared DESC, s1, s2
         |LIMIT 10""".stripMargin) { (s, d) =>
      // One groupBy(pk) collects each part's (capped, sorted) supplier
      // set and the C(deg, 2) pair expansion happens IN-ROW — same ~9M
      // candidate rows as the oracle's self-join, but without shuffle-
      // sorting the 2×|ps| join inputs (the self-join's SMJ cost). The
      // collected array is bounded by DegCap, so per-row memory is
      // capped too. The expansion STREAMS through two codegen'd
      // generators (posexplode picks s1, explode(slice) yields each
      // later s2) rather than a nested transform/flatten lambda: the
      // HOF form is CodegenFallback and materializes the whole
      // C(deg,2) struct array per row before exploding — measured 1.6×
      // slower at sf0.1 and the allocation burst behind the r10 driver
      // bench outlier (12.2 s vs 2.6 s floor under memory pressure).
      val ps = Tables.load(s, d, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .distinct()
      // the degree cap rides a partition-only window over the SAME
      // hash(pk) clustering the collect below needs (r19, guide §2.4 —
      // the shinglePairStats df-cap move): the deg agg + semi-join
      // formulation re-derived the distinct-pair scan twice and paid
      // two extra exchanges for identical surviving rows
      val p = ps
        .withColumn("d", count(lit(1)).over(Window.partitionBy("pk")))
        .filter(col("d") <= DegCap && col("d") >= 2)
      p.groupBy("pk").agg(sort_array(collect_list(col("sk"))).as("sks"))
        .select(col("sks"), posexplode(col("sks")).as(Seq("i", "s1")))
        .select(col("s1"),
          explode(slice(col("sks"), col("i") + lit(2),
            size(col("sks")) - col("i") - lit(1))).as("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("shared"))
        .withColumn("butterflies", expr("shared * (shared - 1) div 2"))
        .orderBy(col("shared").desc, col("s1"), col("s2"))
        .limit(10)
    },

    // Triangle census of the co-purchase graph (round 10): nodes are
    // parts, an edge joins two parts CO-PURCHASED IN ≥2 ORDERS
    // (MinSupport — a single shared order is noise: unthresholded,
    // this graph runs ~60 co-incidental edges per part and 1.9M
    // meaningless triangles at sf0.1; repeat co-purchase is what makes
    // an edge a signal, and it keeps the graph CATALOG-sized instead
    // of corpus-sized as orders accumulate — the same reason
    // q_assoc_rules ranks by support). Top-20 parts by triangle
    // participation are the "bought in cliques" items — the one-mode
    // complement to the bipartite butterfly count above. The Spark
    // side runs the classic DEGREE-ORDERED orientation: each
    // undirected edge points from its (degree, id)-smaller endpoint
    // (packed as deg·2³² + id, one int64 comparison), wedges expand
    // only from each edge's LOW endpoint, and a semi-structural join
    // closes them — total work O(Σ C(deg⁺, 2)) = O(m^1.5) regardless
    // of hub skew, the reason this plan survives a power-law catalog
    // where naive id-ordering quadratics on the hubs. The oracle
    // closes triangles with the simple id-ordered triple self-join —
    // a different orientation of the SAME triangle set (orientation
    // choice never changes the set), so the two formulations cannot
    // agree by construction-sharing, only by both being right.
    // Per-node counts: each triangle credits all three corners;
    // integer counts, (cnt DESC, node) tie-break.
    Q("q_graph_triangles",
      s"""WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS a, b.pk AS b
        |      FROM io a JOIN io b ON a.o = b.o AND a.pk < b.pk
        |      GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM e e1
        |        JOIN e e2 ON e2.a = e1.b
        |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (SELECT x AS node FROM tri
        |      UNION ALL SELECT y FROM tri
        |      UNION ALL SELECT z FROM tri),
        |c AS (SELECT node, count(*) AS tri_cnt FROM n GROUP BY 1)
        |SELECT node, tri_cnt FROM c
        |ORDER BY tri_cnt DESC, node
        |LIMIT 20""".stripMargin) { (s, d) =>
      triangleCorners(s, d)
        .orderBy(col("tri_cnt").desc, col("node"))
        .limit(20)
    },

    // Item-item cosine similarity over order co-occurrence (round 10)
    // — the classic neighborhood recommender score: cos(a,b) =
    // cooc(a,b) / (√cnt(a)·√cnt(b)), the symmetric normalization that
    // q_cooccur_lift's lift and q_assoc_rules' confidence are not.
    // Same support-≥2 candidate generation as the triangle census
    // (in-row per-basket pair expansion, never a cross-part join;
    // catalog-bounded as orders accumulate). Ranking is on the
    // r6-ROUNDED score with the (a, b) tie-break, so a last-ulp sqrt
    // disagreement can never reorder the top-20 boundary (PARITY
    // round-before-top-k). The per-item counts table is catalog-sized
    // — broadcast-eligible here, an ordinary shuffle join at scale.
    Q("q_item_cosine",
      s"""WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem),
         |n AS (SELECT pk, count(*) AS c FROM io GROUP BY 1),
         |p AS (SELECT a.pk AS a, b.pk AS b, count(*) AS cooc
         |      FROM io a JOIN io b ON a.o = b.o AND a.pk < b.pk
         |      GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
         |sc AS (SELECT a, b, cooc,
         |              ${Q.sqlR6("cooc / (sqrt(CAST(na.c AS DOUBLE)) * sqrt(CAST(nb.c AS DOUBLE)))")} AS cosine
         |       FROM p JOIN n na ON p.a = na.pk JOIN n nb ON p.b = nb.pk)
         |SELECT a, b, cooc, cosine FROM sc
         |ORDER BY cosine DESC, a, b
         |LIMIT 20""".stripMargin) { (s, d) =>
      // lazy shared subtrees (r19, measured): the formatted plan shows
      // the incidence distinct three times, but runtime exchange reuse
      // dedupes them inside the one plan — eager snapshots were tried
      // and measured neutral-to-slower at sf0.1
      val n = orderParts(s, d).groupBy("pk").agg(count(lit(1)).as("c"))
      coPairsWithSupport(s, d)
        .join(n.select(col("pk").as("a"), col("c").as("ca")), "a")
        .join(n.select(col("pk").as("b"), col("c").as("cb")), "b")
        .select(col("a"), col("b"), col("cooc"),
          Q.r6(col("cooc") / (sqrt(col("ca").cast("double")) * sqrt(col("cb").cast("double"))))
            .as("cosine"))
        .orderBy(col("cosine").desc, col("a"), col("b"))
        .limit(20)
    },

    // Neighbor-set Jaccard similarity between co-purchased parts
    // (round 10) — the link-prediction score next to q_item_cosine's
    // angle: J = |orders with both| / |orders with either|, which
    // penalizes popular parts by their UNION size where cosine
    // penalizes by the geometric mean. Same in-row per-basket pair
    // expansion (never a cross-part join), same support-≥2 floor, and
    // the ranking is on the r6-ROUNDED score with the (a, b) tie-break
    // so an ulp cannot reorder the top-20 boundary. The per-part
    // order-count table is catalog-sized — broadcast-eligible here, an
    // ordinary shuffle join at scale. Division is one IEEE op on exact
    // int64 counts — nothing to accumulate.
    Q("q_graph_jaccard",
      s"""WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem),
         |n AS (SELECT pk, count(*) AS c FROM io GROUP BY 1),
         |p AS (SELECT a.pk AS a, b.pk AS b, count(*) AS cooc
         |      FROM io a JOIN io b ON a.o = b.o AND a.pk < b.pk
         |      GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
         |sc AS (SELECT a, b, cooc,
         |              ${Q.sqlR6("cooc / CAST(na.c + nb.c - cooc AS DOUBLE)")} AS jaccard
         |       FROM p JOIN n na ON p.a = na.pk JOIN n nb ON p.b = nb.pk)
         |SELECT a, b, cooc, jaccard FROM sc
         |ORDER BY jaccard DESC, a, b
         |LIMIT 20""".stripMargin) { (s, d) =>
      // same shape as q_item_cosine (r19): lazy shared subtrees —
      // runtime exchange reuse dedupes them inside the one plan
      val n = orderParts(s, d).groupBy("pk").agg(count(lit(1)).as("c"))
      coPairsWithSupport(s, d)
        .join(n.select(col("pk").as("a"), col("c").as("ca")), "a")
        .join(n.select(col("pk").as("b"), col("c").as("cb")), "b")
        .select(col("a"), col("b"), col("cooc"),
          Q.r6(col("cooc") / (col("ca") + col("cb") - col("cooc")).cast("double"))
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("a"), col("b"))
        .limit(20)
    },

    // Connected components of the support-thresholded co-purchase
    // graph (round 10): which parts form one "bought-together" market
    // basket cluster — the cluster-resolution step q_dup_clusters runs
    // on LSH pairs, applied to the product graph. Spark side: the SAME
    // iterative min-label propagation (TextPipeline.connectedComponents:
    // per round one join against the broadcast labels, one min-agg and
    // one snapshot whose job also observes the convergence checksum;
    // fused first round + path halving). Oracle: DuckDB
    // WITH RECURSIVE transitive closure over the SAME io/e edge CTEs
    // as the triangle census, so the edge set is shared text and the
    // closure is computed by a genuinely different algorithm — the
    // twins agree only by both being right. Output: one row per
    // component (id = min part key, node count). Integer-only.
    Q("q_graph_components",
      s"""WITH RECURSIVE io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS a, b.pk AS b
        |      FROM io a JOIN io b ON a.o = b.o AND a.pk < b.pk
        |      GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
        |edges AS (SELECT a AS src, b AS dst FROM e
        |          UNION ALL
        |          SELECT b, a FROM e),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (SELECT id, id AS lbl FROM nodes
        |          UNION
        |          SELECT e2.dst AS id, r.lbl FROM reach r JOIN edges e2 ON e2.src = r.id),
        |comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY 1)
        |SELECT lbl AS cluster_id, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM comp
        |GROUP BY 1
        |ORDER BY cluster_id""".stripMargin) { (s, d) =>
      val comp = TextPipeline.connectedComponents(
        coPairs(s, d).select(col("a").as("d1"), col("b").as("d2")))
      comp.groupBy("lbl").agg(count(lit(1)).as("n_nodes"))
        .select(col("lbl").as("cluster_id"), col("n_nodes"))
        .orderBy("cluster_id")
    },

    // Bounded-depth BFS over the bipartite part–supplier graph
    // (round 10): hop-distance histogram from the highest-degree node
    // (ties → smallest id) out to 4 hops — the small-world probe ("how
    // many nodes sit k supply-chain steps away?"). Spark side: frontier
    // expansion — per hop ONE join frontier⋈edges + ONE left-anti
    // against the visited set, both hashing on the int64 node key; the
    // edge list is localCheckpoint'd once and reused by all 4 rounds;
    // depth is FIXED so plan depth is bounded (the q_pagerank
    // argument). Oracle: recursive CTE accumulating (id, depth) pairs
    // (UNION dedup bounds the closure at |nodes|·5 rows), min(depth)
    // per node. Node encoding = pagerankAll's int64 packing (part
    // keys even, supplier keys odd).
    Q("q_graph_bfs",
      """WITH RECURSIVE pairs AS (SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS sn
        |                         FROM lineitem),
        |edges AS (SELECT p AS src, sn AS dst FROM pairs
        |          UNION ALL
        |          SELECT sn, p FROM pairs),
        |deg AS (SELECT src, count(*) AS dg FROM edges GROUP BY 1),
        |root AS (SELECT src AS id FROM deg ORDER BY dg DESC, src LIMIT 1),
        |bfs AS (SELECT id, 0 AS depth FROM root
        |        UNION
        |        SELECT e2.dst, b.depth + 1
        |        FROM bfs b JOIN edges e2 ON e2.src = b.id WHERE b.depth < 4),
        |md AS (SELECT id, min(depth) AS depth FROM bfs GROUP BY 1)
        |SELECT CAST(depth AS BIGINT) AS depth, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM md
        |GROUP BY 1
        |ORDER BY depth""".stripMargin) { (s, d) =>
      frontiers(s, d, Nil, 4) { ed =>
        ed.groupBy("src").agg(count(lit(1)).as("dg"))
          .orderBy(col("dg").desc, col("src")).limit(1)
          .select(col("src").as("id"), lit(0L).as("depth"))
      }
        .groupBy("depth").agg(count(lit(1)).as("n_nodes"))
        .orderBy("depth")
    },

    // Per-node local clustering coefficient (round 11): cc(v) =
    // 2·tri(v) / (deg(v)·(deg(v)−1)) over the support-≥2 co-purchase
    // graph — "how clique-like is this part's bought-together
    // neighborhood", the node-level refinement of the triangle census
    // (tri counts participation, cc normalizes it by the possible
    // wedge count). ONE checkpointed edge list feeds both the degree
    // table and the triangle count (triangleCornersFrom — no second
    // basket expansion); nodes in no triangle enter as tri=0 via the
    // left join. cc is one IEEE division of exact int64s, both engines
    // identical; ranking is on the ROUNDED cc with (deg DESC, node)
    // tie-breaks so the top-20 boundary is ulp-proof. Oracle closes
    // triangles with the id-ordered triple join — a different
    // orientation of the same census, so agreement is by both being
    // right, not by shared construction.
    Q("q_graph_clustering",
      s"""WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS a, b.pk AS b
        |      FROM io a JOIN io b ON a.o = b.o AND a.pk < b.pk
        |      GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM e e1
        |        JOIN e e2 ON e2.a = e1.b
        |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tn AS (SELECT node, count(*) AS tri_cnt
        |       FROM (SELECT x AS node FROM tri
        |             UNION ALL SELECT y FROM tri
        |             UNION ALL SELECT z FROM tri)
        |       GROUP BY 1),
        |deg AS (SELECT node, count(*) AS deg
        |        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |        GROUP BY 1),
        |cc AS (SELECT deg.node, deg.deg, COALESCE(tn.tri_cnt, 0) AS tri_cnt,
        |              ${Q.sqlR6("CAST(2 * COALESCE(tn.tri_cnt, 0) AS DOUBLE) / (deg.deg * (deg.deg - 1))")} AS clustering
        |       FROM deg LEFT JOIN tn ON deg.node = tn.node
        |       WHERE deg.deg >= 2)
        |SELECT node, deg, tri_cnt, clustering FROM cc
        |ORDER BY clustering DESC, deg DESC, node
        |LIMIT 20""".stripMargin) { (s, d) =>
      val edges = coPairs(s, d).transform(Q.snapshot)
      // ONE snapshotted degree table serves both the readout and the
      // triangle census's orientation joins (r19, guide §2.4)
      val (deg, nDeg) = degreeTable(edges)
      val tri = triangleCornersFrom(edges, deg, nDeg)
      deg.filter(col("deg") >= 2)
        .join(tri, Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"),
          Q.r6((lit(2) * coalesce(col("tri_cnt"), lit(0L))).cast("double") /
            (col("deg") * (col("deg") - 1))).as("clustering"))
        .orderBy(col("clustering").desc, col("deg").desc, col("node"))
        .limit(20)
    },

    // Degree assortativity of the co-purchase graph (round 11): the
    // Pearson correlation between the degrees at the two ends of every
    // edge (both orientations — the standard Newman r) — positive
    // means hub parts co-sell with other hubs (one dense "staples"
    // core), negative means hubs bridge niche parts (hub-and-spoke
    // markets), a one-number summary of the whole degree-mixing
    // structure. All five sufficient sums are exact int64 over the 2m
    // directed edge rows, fed through the SAME shared Pearson tree as
    // q_corr_matrix (Statistics.corrCol) — both engines divide
    // identical integers. Scale: degrees join onto the catalog-sized
    // edge list (broadcast-eligible degree table), the agg is one
    // map-side-partial pass, and the result is a single row.
    Q("q_graph_assortativity",
      s"""WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS a, b.pk AS b
        |      FROM io a JOIN io b ON a.o = b.o AND a.pk < b.pk
        |      GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
        |deg AS (SELECT node, count(*) AS dg
        |        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |        GROUP BY 1),
        |dir AS (SELECT da.dg AS dx, db.dg AS dy
        |        FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node
        |        UNION ALL
        |        SELECT db.dg AS dx, da.dg AS dy
        |        FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node),
        |st AS (SELECT count(*) AS n,
        |              CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
        |              CAST(sum(dx * dy) AS BIGINT) AS sxy,
        |              CAST(sum(dx * dx) AS BIGINT) AS sxx,
        |              CAST(sum(dy * dy) AS BIGINT) AS syy
        |       FROM dir)
        |SELECT CAST(floor(n / 2.0) AS BIGINT) AS n_edges, n AS n_directed,
        |       ${Q.sqlR6("(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy) / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))")} AS assortativity
        |FROM st""".stripMargin) { (s, d) =>
      val edges = coPairs(s, d).transform(Q.snapshot)
      // degree table feeds both endpoint joins: snapshot once,
      // broadcast under the node-state row guard so the edge frame
      // streams through both joins unexchanged (r19, guide §3.1/§2.4)
      val (deg0, degStats) = Q.snapshotWith(
        edges.select(explode(array(col("a"), col("b"))).as("node"))
          .groupBy("node").agg(count(lit(1)).as("dg")),
        count(lit(1)))
      val deg = Q.guardedBroadcast(deg0, degStats.getLong(0), NodeStateBroadcastRows)
      val j = edges
        .join(deg.select(col("node").as("a"), col("dg").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("dg").as("db")), "b")
      // both orientations fan out IN-ROW from one pass over j instead
      // of a self-union that computed the join twice (r19, guide §2.4;
      // the sums are order-free exact int64, so the multiset is what
      // matters and it is identical)
      val dir = j.select(explode(array(
          struct(col("da").as("dx"), col("db").as("dy")),
          struct(col("db").as("dx"), col("da").as("dy")))).as("p"))
        .select(col("p.dx").as("dx"), col("p.dy").as("dy"))
      dir.agg(count(lit(1)).as("n"),
          sum("dx").as("sx"), sum("dy").as("sy"),
          sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"))
        .select(floor(col("n") / 2.0).cast("long").as("n_edges"),
          col("n").as("n_directed"),
          Q.r6(Statistics.corrCol(col("n"), col("sxy"), col("sx"), col("sy"),
            col("sxx"), col("syy"))).as("assortativity"))
    },

    // Modularity of the BRAND partition over the co-purchase graph
    // (round 13): Q = Σ_b [e_bb/m − (d_b/2m)²] — do bought-together
    // clusters align with the catalog's brand taxonomy, the one-number
    // answer to "is an externally-given grouping a real community
    // structure" (CC components would be degenerate here: every edge
    // is intra-component by definition, so the partition under test
    // must come from OUTSIDE the connectivity — the brand column).
    // Spark: ONE shared edge list feeds the degree table and the
    // intra-brand census; both brand joins are catalog-keyed; each
    // brand's term is bounded by 1 in magnitude, so the 1e-12 lattice
    // fold over ≤|brands| rows is SF-invariant (OverflowHeadroomSpec
    // row) and the cross-row reduction stays order-free int64.
    Q("q_graph_modularity",
      s"""WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS a, b.pk AS b
        |      FROM io a JOIN io b ON a.o = b.o AND a.pk < b.pk
        |      GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        |deg AS (SELECT node, count(*) AS dg
        |        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |        GROUP BY 1),
        |nb AS (SELECT p.p_brand AS brand, CAST(sum(d.dg) AS BIGINT) AS db
        |       FROM deg d JOIN part p ON d.node = p.p_partkey GROUP BY 1),
        |ib AS (SELECT pa.p_brand AS brand, CAST(count(*) AS BIGINT) AS ebb
        |       FROM e JOIN part pa ON e.a = pa.p_partkey
        |              JOIN part pb ON e.b = pb.p_partkey
        |       WHERE pa.p_brand = pb.p_brand GROUP BY 1),
        |terms AS (SELECT nb.brand,
        |                 CAST(floor((CAST(COALESCE(ib.ebb, 0) AS DOUBLE) / m.m -
        |                             (CAST(nb.db AS DOUBLE) / (2 * m.m)) *
        |                             (CAST(nb.db AS DOUBLE) / (2 * m.m))) * 1e12 + 0.5)
        |                   AS BIGINT) AS t12
        |          FROM nb LEFT JOIN ib ON nb.brand = ib.brand CROSS JOIN m)
        |SELECT m.m AS n_edges, CAST(count(*) AS BIGINT) AS n_brands,
        |       ${Q.sqlR6("sum(t12) / 1e12")} AS modularity
        |FROM terms CROSS JOIN m
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val e = coPairs(s, d).transform(Q.snapshot)
      val brand = Tables.load(s, d, "part").select(col("p_partkey"), col("p_brand"))
      val mRow = e.agg(count(lit(1)).as("m"))
      val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("dg"))
      val nb = deg.join(brand, deg("node") === brand("p_partkey"))
        .groupBy(col("p_brand").as("brand")).agg(sum("dg").as("db"))
      val ib = e
        .join(brand.select(col("p_partkey").as("a"), col("p_brand").as("ba")), "a")
        .join(brand.select(col("p_partkey").as("b"), col("p_brand").as("bb")), "b")
        .filter(col("ba") === col("bb"))
        .groupBy(col("ba").as("brand")).agg(count(lit(1)).as("ebb"))
      nb.join(ib, Seq("brand"), "left")
        .crossJoin(broadcast(mRow))
        .select(col("m"),
          floor((coalesce(col("ebb"), lit(0L)).cast("double") / col("m") -
            (col("db").cast("double") / (lit(2) * col("m"))) *
              (col("db").cast("double") / (lit(2) * col("m")))) * lit(1e12) + 0.5)
            .cast("long").as("t12"))
        .groupBy(col("m").as("n_edges"))
        .agg(count(lit(1)).as("n_brands"), Q.r6(sum("t12") / lit(1e12)).as("modularity"))
        .select(col("n_edges"), col("n_brands"), col("modularity"))
    },

    // Bounded k-core peeling (round 11): [[KcoreRounds]] parallel peel
    // rounds toward the 3-core of the co-purchase graph, reporting the
    // (surviving nodes, surviving edges) trajectory per round — the
    // dense-subgraph extraction that seeds community/spam/anomaly
    // mining. Each round removes EVERY node under degree 3
    // simultaneously (the distributed peel — sequential removal would
    // serialize on the driver), so one round = one endpoint
    // semi-filter on the checkpointed edge frame + one degree agg, and
    // the (nodes, edges) readout is observed in the round's own
    // snapshot job. The FIXED round count keeps the trajectory's
    // length (convergence inside the budget is asserted by
    // InferenceSpec on the test graphs, and rounds after convergence
    // are exact no-ops — the trajectory makes that visible). Oracle:
    // the same 8 rounds unrolled as CTEs, generated by the same Scala
    // loop so the two sides cannot drift in round count. Counts only —
    // pure integer parity.
    Q("q_graph_kcore", kcoreOracle) { (s, d) =>
      import s.implicits._
      val e = coPairs(s, d).transform(Q.snapshot)
      def degrees(edges: DataFrame): DataFrame =
        edges.select(explode(array(col("a"), col("b"))).as("node"))
          .groupBy("node").agg(count(lit(1)).as("dg"))
      // The round state is the degree table of the surviving edges,
      // observed as (2·edges, nodes of degree ≥ k). Peeling only
      // removes, so the edges surviving round i are exactly the
      // original edges with both endpoints in round i's keep set.
      val run = Q.iterate(degrees(e), KcoreRounds,
          coalesce(sum("dg"), lit(0L)), count(when(col("dg") >= KcoreK, 1))) { (deg, st) =>
        // keep is node-sized and its row count is the observed keep
        // count: under the row guard both endpoint semi-filters
        // broadcast it, so the edge frame never shuffles in a peel
        // round — the only exchange is the degree agg
        val keep = Q.guardedBroadcast(
          deg.filter(col("dg") >= KcoreK).select("node"), st.getLong(1), NodeStateBroadcastRows)
        degrees(e
          .join(keep.withColumnRenamed("node", "a"), "a")
          .join(keep.withColumnRenamed("node", "b"), "b"))
      }
      Q.release(run.state)
      Q.release(e)
      run.stats.zip(run.stats.tail).zipWithIndex.map { case ((prev, cur), i) =>
        (i + 1L, prev.getLong(1), cur.getLong(0) / 2)
      }.toDF("round", "n_nodes", "n_edges")
    },

    // HITS hubs & authorities on the part→supplier bipartite graph
    // (round 14): the mutual-reinforcement companion to q_pagerank —
    // a hub part is one linked to strong-authority suppliers and vice
    // versa. Two full power-iteration rounds on EXACT int64 scores
    // (h⁰ ≡ 1 ⇒ a¹ = indeg, h¹ = Σ a¹, a² = Σ h¹, h² = Σ a²): unlike
    // pagerank's per-round double normalization, the iteration is
    // integer all the way and the ONE division (max-normalization) is
    // at read time — order-free in both engines, no r6-boundary risk.
    // Growth per full round ≈ mean(deg_p)·mean(deg_s) — the headroom
    // row claims the int64 ceiling. Shape: each step is one key-bounded
    // shuffle of the distinct-pairs frame against a node-sized score
    // frame (the q_pagerank join), top-10 per side via bounded windows.
    Q("q_hits",
      s"""WITH pairs AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
         |a1 AS (SELECT sk, CAST(count(*) AS BIGINT) AS v FROM pairs GROUP BY 1),
         |h1 AS (SELECT pk, CAST(sum(v) AS BIGINT) AS v
         |       FROM pairs JOIN a1 USING (sk) GROUP BY 1),
         |a2 AS (SELECT sk, CAST(sum(v) AS BIGINT) AS v
         |       FROM pairs JOIN h1 USING (pk) GROUP BY 1),
         |h2 AS (SELECT pk, CAST(sum(v) AS BIGINT) AS v
         |       FROM pairs JOIN a2 USING (sk) GROUP BY 1),
         |th AS (SELECT 'hub' AS side, 'p:' || pk AS node, v,
         |              row_number() OVER (ORDER BY v DESC, pk) AS rnk,
         |              max(v) OVER () AS mx FROM h2),
         |ta AS (SELECT 'authority' AS side, 's:' || sk AS node, v,
         |              row_number() OVER (ORDER BY v DESC, sk) AS rnk,
         |              max(v) OVER () AS mx FROM a2),
         |u AS (SELECT * FROM th WHERE rnk <= 10
         |      UNION ALL SELECT * FROM ta WHERE rnk <= 10)
         |SELECT side, node, rnk AS rank,
         |       ${Q.sqlR6("CAST(v AS DOUBLE) / mx")} AS score
         |FROM u ORDER BY side, rank""".stripMargin) { (s, d) =>
      hitsOf(Tables.load(s, d, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .distinct())
    },

    // Resource-allocation link prediction over the co-purchase graph
    // (round 15): RA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/deg(w) — the
    // common-neighbor score that discounts hub-mediated evidence
    // (Zhou/Lü/Zhang's RA index, the log-free sibling of Adamic–Adar:
    // 1/deg needs no transcendental, so cross-engine parity is
    // structural). Scored for NON-edges only — pairs the support
    // threshold has not already connected — which is the "what should
    // we bundle next" readout next to q_graph_jaccard's scoring of
    // existing edges. Each wedge's credit floors onto the 1e-6
    // lattice per common neighbor BEFORE the per-pair sum (order-free
    // int64; ra6 ≤ deg_max·5e5). Scale: wedges expand per common
    // neighbor w with deg(w) ≤ [[DegCap]] — hubs beyond the cap carry
    // ≤ 1/128 credit each but quadratic generation cost, the
    // q_graph_butterflies bound applied to scoring (documented
    // truncation, mirrored in the oracle); the pair frame is
    // support-graph-bounded, the readout a top-20 sort+limit.
    Q("q_graph_ra",
      s"""WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem),
         |e AS (SELECT a.pk AS a, b.pk AS b
         |      FROM io a JOIN io b ON a.o = b.o AND a.pk < b.pk
         |      GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
         |adj AS (SELECT a AS n, b AS x FROM e UNION ALL SELECT b, a FROM e),
         |dg AS (SELECT n, CAST(count(*) AS BIGINT) AS degw FROM adj GROUP BY 1),
         |w AS (SELECT adj.n, adj.x, dg.degw FROM adj JOIN dg USING (n)
         |      WHERE dg.degw BETWEEN 2 AND $DegCap),
         |p AS (SELECT w1.x AS a, w2.x AS b, w1.degw
         |      FROM w w1 JOIN w w2 ON w1.n = w2.n AND w1.x < w2.x),
         |sc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
         |              CAST(sum(CAST(floor((1.0 / degw) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS ra6
         |       FROM p GROUP BY 1, 2),
         |nw AS (SELECT sc.* FROM sc ANTI JOIN e ON sc.a = e.a AND sc.b = e.b)
         |SELECT a, b, n_common, ${Q.sqlR6("ra6 / 1e6")} AS ra
         |FROM nw
         |ORDER BY ra6 DESC, a, b
         |LIMIT 20""".stripMargin) { (s, d) =>
      val e = coPairs(s, d).transform(Q.snapshot)
      val adj = e.select(col("a").as("n"), col("b").as("x"))
        .unionAll(e.select(col("b").as("n"), col("a").as("x")))
      // neighbor lists per candidate common neighbor, hub-capped; the
      // pair expansion streams through the coPairsWithSupport
      // generator shape (posexplode + slice — codegen'd, never a
      // materialized C(deg,2) struct array)
      val nbrs = adj.groupBy("n").agg(sort_array(collect_set(col("x"))).as("xs"))
        .filter(size(col("xs")).between(2, DegCap))
        .select(size(col("xs")).cast("long").as("degw"), col("xs"))
      val pairs = nbrs
        .select(col("degw"), col("xs"), posexplode(col("xs")).as(Seq("i", "a")))
        .select(col("degw"), col("a"),
          explode(slice(col("xs"), col("i") + lit(2),
            size(col("xs")) - col("i") - lit(1))).as("b"))
      val sc = pairs
        .withColumn("cr6", floor((lit(1.0) / col("degw")) * lit(1e6) + 0.5).cast("long"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("n_common"), sum("cr6").as("ra6"))
      sc.join(e, Seq("a", "b"), "left_anti")
        .orderBy(col("ra6").desc, col("a"), col("b"))
        .limit(20)
        .select(col("a"), col("b"), col("n_common"),
          Q.r6(col("ra6") / lit(1e6)).as("ra"))
    },

    // Adamic–Adar link prediction (round 16): q_graph_ra's sibling
    // with the milder 1/ln(deg) damping — the standard LP baseline
    // that keeps mid-degree common neighbors informative where RA
    // crushes them. IDENTICAL machinery (hub-capped neighbor lists,
    // in-row posexplode+slice pair expansion, non-edge anti-join,
    // bounded top-20): only the per-witness weight changes, so the
    // two scores can never drift structurally. ln(deg) is one libm
    // call on an exact int (deg ≥ 2 → ln ≥ 0.693), identical IEEE in
    // both engines (the q_word_entropy precedent), floored to 1e-6
    // BEFORE the per-pair sum.
    Q("q_adamic_adar",
      s"""WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem),
         |e AS (SELECT a.pk AS a, b.pk AS b
         |      FROM io a JOIN io b ON a.o = b.o AND a.pk < b.pk
         |      GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
         |adj AS (SELECT a AS n, b AS x FROM e UNION ALL SELECT b, a FROM e),
         |dg AS (SELECT n, CAST(count(*) AS BIGINT) AS degw FROM adj GROUP BY 1),
         |w AS (SELECT adj.n, adj.x, dg.degw FROM adj JOIN dg USING (n)
         |      WHERE dg.degw BETWEEN 2 AND $DegCap),
         |p AS (SELECT w1.x AS a, w2.x AS b, w1.degw
         |      FROM w w1 JOIN w w2 ON w1.n = w2.n AND w1.x < w2.x),
         |sc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
         |              CAST(sum(CAST(floor((1.0 / ln(degw)) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS aa6
         |       FROM p GROUP BY 1, 2),
         |nw AS (SELECT sc.* FROM sc ANTI JOIN e ON sc.a = e.a AND sc.b = e.b)
         |SELECT a, b, n_common, ${Q.sqlR6("aa6 / 1e6")} AS aa
         |FROM nw
         |ORDER BY aa6 DESC, a, b
         |LIMIT 20""".stripMargin) { (s, d) =>
      val e = coPairs(s, d).transform(Q.snapshot)
      val adj = e.select(col("a").as("n"), col("b").as("x"))
        .unionAll(e.select(col("b").as("n"), col("a").as("x")))
      val nbrs = adj.groupBy("n").agg(sort_array(collect_set(col("x"))).as("xs"))
        .filter(size(col("xs")).between(2, DegCap))
        .select(size(col("xs")).cast("long").as("degw"), col("xs"))
      val pairs = nbrs
        .select(col("degw"), col("xs"), posexplode(col("xs")).as(Seq("i", "a")))
        .select(col("degw"), col("a"),
          explode(slice(col("xs"), col("i") + lit(2),
            size(col("xs")) - col("i") - lit(1))).as("b"))
      val sc = pairs
        .withColumn("cr6", floor((lit(1.0) / log(col("degw"))) * lit(1e6) + 0.5).cast("long"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("n_common"), sum("cr6").as("aa6"))
      sc.join(e, Seq("a", "b"), "left_anti")
        .orderBy(col("aa6").desc, col("a"), col("b"))
        .limit(20)
        .select(col("a"), col("b"), col("n_common"),
          Q.r6(col("aa6") / lit(1e6)).as("aa"))
    },

    // Harmonic closeness centrality of the top-5 hubs (round 16):
    // multi-source BFS to depth 3 on the bipartite part–supplier
    // graph, harmonic sum Σ 1/d over reached nodes — the
    // disconnection-proof centrality (an unreachable node contributes
    // 0, not ∞). Sources are the 5 highest-degree nodes ((deg DESC,
    // id) — a total integer order); per-depth reach counts are exact
    // integers and the harmonic sum uses the INTEGER weights
    // ⌊1e6/d⌋ ∈ {1000000, 500000, 333333}, so the whole readout is
    // int64. Scale: 5 simultaneous sources ride one frontier frame
    // keyed (source, node); 3 bounded rounds of keyed joins with
    // per-round snapshots — the q_graph_bfs recipe, never an
    // all-pairs expansion.
    Q("q_graph_closeness",
      """WITH RECURSIVE pairs AS (SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS sn
        |                         FROM lineitem),
        |edges AS (SELECT p AS src, sn AS dst FROM pairs
        |          UNION ALL
        |          SELECT sn, p FROM pairs),
        |deg AS (SELECT src, count(*) AS dg FROM edges GROUP BY 1),
        |roots AS (SELECT src AS sid FROM deg ORDER BY dg DESC, src LIMIT 5),
        |bfs AS (SELECT sid, sid AS id, 0 AS depth FROM roots
        |        UNION
        |        SELECT b.sid, e2.dst, b.depth + 1
        |        FROM bfs b JOIN edges e2 ON e2.src = b.id WHERE b.depth < 3),
        |md AS (SELECT sid, id, min(depth) AS depth FROM bfs GROUP BY 1, 2)
        |SELECT sid AS source_node,
        |       CAST(sum(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT) AS reach_1,
        |       CAST(sum(CASE WHEN depth = 2 THEN 1 ELSE 0 END) AS BIGINT) AS reach_2,
        |       CAST(sum(CASE WHEN depth = 3 THEN 1 ELSE 0 END) AS BIGINT) AS reach_3,
        |       floor((sum(CASE depth WHEN 1 THEN 1000000 WHEN 2 THEN 500000
        |                             WHEN 3 THEN 333333 ELSE 0 END) / 1e6)*1000000+0.5)/1000000
        |         AS harmonic
        |FROM md
        |GROUP BY 1
        |ORDER BY source_node""".stripMargin) { (s, d) =>
      frontiers(s, d, Seq("sid"), 3) { ed =>
        ed.groupBy("src").agg(count(lit(1)).as("dg"))
          .orderBy(col("dg").desc, col("src")).limit(5)
          .select(col("src").as("sid"), col("src").as("id"), lit(0L).as("depth"))
      }
        .groupBy(col("sid").as("source_node"))
        .agg(sum(when(col("depth") === 1, 1L).otherwise(0L)).as("reach_1"),
          sum(when(col("depth") === 2, 1L).otherwise(0L)).as("reach_2"),
          sum(when(col("depth") === 3, 1L).otherwise(0L)).as("reach_3"),
          sum(when(col("depth") === 1, 1000000L).when(col("depth") === 2, 500000L)
            .when(col("depth") === 3, 333333L).otherwise(0L)).as("h6"))
        .select(col("source_node"), col("reach_1"), col("reach_2"), col("reach_3"),
          Q.r6(col("h6") / lit(1e6)).as("harmonic"))
        .orderBy("source_node")
    },

    // Label propagation communities (round 16): three SYNCHRONOUS
    // rounds of "adopt the most frequent neighbor label" on the
    // bipartite part–supplier graph, seeded with own ids — the
    // community detector that needs no modularity objective
    // (q_graph_modularity scores what this finds). Ties resolve
    // (count DESC, label ASC) — a total integer order implemented as
    // min_by over the packed struct in Spark and the identical
    // window order in the oracle, so the rounds are deterministic and
    // the engines agree label-for-label. Each round is one keyed join
    // + one (node, label) count agg + one min_by per node (map-side
    // partials; never a global sort); per-round snapshots cut the
    // lineage exactly like the CC fixpoint. Output: the 20 largest
    // communities after round 3.
    Q("q_label_propagation",
      """WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS sn
        |               FROM lineitem),
        |edges AS (SELECT p AS src, sn AS dst FROM pairs
        |          UNION ALL
        |          SELECT sn, p FROM pairs),
        |l0 AS (SELECT DISTINCT src AS id FROM edges),
        |lab0 AS (SELECT id, id AS lbl FROM l0),
        |c1 AS (SELECT e.dst AS id, l.lbl, count(*) AS c
        |       FROM edges e JOIN lab0 l ON e.src = l.id GROUP BY 1, 2),
        |lab1 AS (SELECT id, lbl FROM
        |         (SELECT id, lbl, row_number() OVER (PARTITION BY id
        |                 ORDER BY c DESC, lbl) AS rk FROM c1) WHERE rk = 1),
        |c2 AS (SELECT e.dst AS id, l.lbl, count(*) AS c
        |       FROM edges e JOIN lab1 l ON e.src = l.id GROUP BY 1, 2),
        |lab2 AS (SELECT id, lbl FROM
        |         (SELECT id, lbl, row_number() OVER (PARTITION BY id
        |                 ORDER BY c DESC, lbl) AS rk FROM c2) WHERE rk = 1),
        |c3 AS (SELECT e.dst AS id, l.lbl, count(*) AS c
        |       FROM edges e JOIN lab2 l ON e.src = l.id GROUP BY 1, 2),
        |lab3 AS (SELECT id, lbl FROM
        |         (SELECT id, lbl, row_number() OVER (PARTITION BY id
        |                 ORDER BY c DESC, lbl) AS rk FROM c3) WHERE rk = 1)
        |SELECT CAST(lbl AS BIGINT) AS community, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM lab3
        |GROUP BY 1
        |ORDER BY n_nodes DESC, community
        |LIMIT 20""".stripMargin) { (s, d) =>
      val ed = int64Edges(s, d).transform(Q.snapshot)
      // Round shape (guide §3.1/§2.4): edges(BHJ over the broadcast
      // labels) → repartition(nid) → both aggs ride that ONE exchange
      // (HashPartitioning(nid) satisfies the (nid, lbl) clustering and
      // the nid regroup), where the SMJ form exchanged edges + labels +
      // (nid, lbl) + nid — measured 2.46 → 1.16 s for the three rounds
      // at sf0.1. Labels keep exactly one row per node, so each
      // state's observed count guards the next round's broadcast.
      val lab = Q.iterate(
          ed.select(col("src").as("id")).distinct().select(col("id"), col("id").as("lbl")),
          3, count(lit(1))) { (lab, st) =>
        val bl = Q.guardedBroadcast(lab, st.getLong(0), NodeStateBroadcastRows)
        ed.join(bl, ed("src") === bl("id"))
          .select(ed("dst").as("nid"), col("lbl"))
          .repartition(col("nid"))
          .groupBy(col("nid"), col("lbl"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("nid").as("id"))
          .agg(min_by(col("lbl"), struct((-col("c")).as("nc"), col("lbl").as("l"))).as("lbl"))
      }.state
      Q.release(ed)
      lab.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("n_nodes").desc, col("community"))
        .limit(20)
    },

    // Rich-club profile of the part–supplier graph (round 17): at each
    // degree threshold k ∈ {2, 4, 8, 16}, how densely do the
    // high-degree nodes interconnect? Bipartite density = rich edges /
    // (rich parts × rich suppliers) — a rising curve means the hubs
    // form a core (supply concentration risk); flat means hubs spread.
    // Everything is exact int64: two node-keyed degree aggs, the edge
    // frame joins its endpoint degrees (node-keyed exchanges, never a
    // pair join), and the 4-row threshold frame fans out bounded
    // conditional counts; density is one readout division per k.
    Q("q_graph_rich_club",
      s"""WITH pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sn FROM lineitem),
         |dp AS (SELECT p, CAST(count(*) AS BIGINT) AS dp FROM pairs GROUP BY 1),
         |ds AS (SELECT sn, CAST(count(*) AS BIGINT) AS ds FROM pairs GROUP BY 1),
         |ks AS (SELECT unnest([2, 4, 8, 16]) AS k),
         |e AS (SELECT pr.p, pr.sn, dp.dp, ds.ds
         |      FROM pairs pr JOIN dp ON pr.p = dp.p JOIN ds ON pr.sn = ds.sn),
         |g AS (SELECT ks.k,
         |             CAST(count(CASE WHEN e.dp > ks.k AND e.ds > ks.k THEN 1 END)
         |                  AS BIGINT) AS rich_edges
         |      FROM e CROSS JOIN ks GROUP BY 1),
         |np AS (SELECT ks.k, CAST(count(CASE WHEN dp.dp > ks.k THEN 1 END)
         |                         AS BIGINT) AS n_rich_parts
         |       FROM dp CROSS JOIN ks GROUP BY 1),
         |ns AS (SELECT ks.k, CAST(count(CASE WHEN ds.ds > ks.k THEN 1 END)
         |                         AS BIGINT) AS n_rich_supps
         |       FROM ds CROSS JOIN ks GROUP BY 1)
         |SELECT CAST(g.k AS BIGINT) AS k, np.n_rich_parts, ns.n_rich_supps,
         |       g.rich_edges,
         |       CASE WHEN np.n_rich_parts * ns.n_rich_supps > 0 THEN
         |         ${Q.sqlR6("CAST(g.rich_edges AS DOUBLE) / " +
                   "(np.n_rich_parts * ns.n_rich_supps)")}
         |       END AS density
         |FROM g JOIN np USING (k) JOIN ns USING (k)
         |ORDER BY k""".stripMargin) { (s, d) =>
      val pairs = Tables.load(s, d, "lineitem")
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sn"))
        .distinct()
        .transform(Q.snapshot)
      val dp = pairs.groupBy("p").agg(count(lit(1)).as("dp"))
      val ds = pairs.groupBy("sn").agg(count(lit(1)).as("ds"))
      val ks = explode(array(lit(2L), lit(4L), lit(8L), lit(16L))).as("k")
      val g = pairs.join(dp, "p").join(ds, "sn")
        .select(col("dp"), col("ds"), ks)
        .groupBy("k")
        .agg(sum(when(col("dp") > col("k") && col("ds") > col("k"), 1L)
          .otherwise(0L)).as("rich_edges"))
      val np = dp.select(col("dp"), ks).groupBy("k")
        .agg(sum(when(col("dp") > col("k"), 1L).otherwise(0L)).as("n_rich_parts"))
      val ns = ds.select(col("ds"), ks).groupBy("k")
        .agg(sum(when(col("ds") > col("k"), 1L).otherwise(0L)).as("n_rich_supps"))
      g.join(np, "k").join(ns, "k")
        .select(col("k"), col("n_rich_parts"), col("n_rich_supps"),
          col("rich_edges"),
          when(col("n_rich_parts") * col("n_rich_supps") > 0,
            Q.r6(col("rich_edges").cast("double") /
              (col("n_rich_parts") * col("n_rich_supps")))).as("density"))
        .orderBy("k")
    }
  )

  /** The HITS fold over a distinct (pk, sk) pair frame — ONE home
    * shared by batch q_hits and the s_hits streaming read-time view
    * (the pair SET is the mergeable state; the power iteration is
    * not — a new edge re-prices every score). Two full rounds on
    * exact int64; top-10 via sort+limit (TakeOrderedAndProject —
    * never a catalog-sized window sort); ranks and the max-normalizer
    * run over the 10-row frame only (rank 1 IS the global max). */
  private[graft] def hitsOf(pairsIn: DataFrame): DataFrame = {
    val pairs = Q.snapshot(pairsIn)
    // ONE scalar readout sizes both node domains; under the node-state
    // bound every score frame broadcasts into its power-iteration join,
    // so the pairs frame streams past a build each round instead of
    // being re-exchanged (r19, guide §3.1 — the q_pagerank round
    // shape). The hinted subtrees are (sk)/(pk)-keyed aggregates, which
    // the broadcast-bound walk classifies as bounded; above the bound
    // the hints drop and rounds degrade to the original shuffle joins.
    val cnts = pairs.agg(countDistinct("pk"), countDistinct("sk")).head()
    val hintP: DataFrame => DataFrame =
      if (cnts.getLong(0) <= NodeStateBroadcastRows) broadcast else identity
    val hintS: DataFrame => DataFrame =
      if (cnts.getLong(1) <= NodeStateBroadcastRows) broadcast else identity
    val a1 = pairs.groupBy("sk").agg(count(lit(1)).as("v"))
    val h1 = pairs.join(hintS(a1), "sk").groupBy("pk").agg(sum("v").as("v"))
    // a2 feeds TWO consumers — h2's build AND the authority top-10 —
    // so it is snapshotted; without it the whole a1→h1→a2 chain
    // computed twice (r19, guide §2.4)
    val a2 = Q.snapshot(
      pairs.join(hintP(h1), "pk").groupBy("sk").agg(sum("v").as("v")))
    val h2 = pairs.join(hintS(a2), "sk").groupBy("pk").agg(sum("v").as("v"))
    def top(df: DataFrame, key: String, pfx: String, side: String): DataFrame =
      df.orderBy(col("v").desc, col(key)).limit(10)
        .withColumn("rnk", row_number().over(Window.orderBy(col("v").desc, col(key))))
        .withColumn("mx", max("v").over(Window.partitionBy()))
        .select(lit(side).as("side"),
          concat(lit(pfx), col(key).cast("string")).as("node"),
          col("rnk").as("rank"), Q.r6(col("v").cast("double") / col("mx")).as("score"))
    top(h2, "pk", "p:", "hub").unionAll(top(a2, "sk", "s:", "authority"))
      .orderBy("side", "rank")
  }

  /** Peel-round budget and core order for q_graph_kcore. 8 rounds
    * converge on every observed scale factor (InferenceSpec asserts
    * the tail rounds are no-ops); a larger graph that needs more gets
    * a STILL-DETERMINISTIC partial peel — both engines run the same
    * fixed rounds. */
  private val KcoreRounds = 8
  private val KcoreK = 3

  /** The q_graph_kcore oracle: the identical peel unrolled as CTE
    * rounds by the same loop bounds as the Spark side. */
  private def kcoreOracle: String = {
    // every CTE is MATERIALIZED: e_i is referenced 4x by round i+1, so
    // an inlining planner would otherwise expand the chain into 4^8
    // scans of lineitem (observed as an fd explosion before this fix)
    val rounds = (1 to KcoreRounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, count(*) AS dg
         |        FROM (SELECT a AS node FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         |        GROUP BY 1),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE dg >= $KcoreK),
         |e$i AS MATERIALIZED (SELECT e${i - 1}.a, e${i - 1}.b FROM e${i - 1}
         |        JOIN k$i x ON e${i - 1}.a = x.node
         |        JOIN k$i y ON e${i - 1}.b = y.node)""".stripMargin
    }.mkString(",\n")
    val selects = (1 to KcoreRounds).map { i =>
      s"SELECT CAST($i AS BIGINT) AS round, (SELECT count(*) FROM k$i) AS n_nodes, (SELECT count(*) FROM e$i) AS n_edges"
    }.mkString("\nUNION ALL\n")
    s"""WITH io AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem),
       |e0 AS MATERIALIZED (SELECT a.pk AS a, b.pk AS b
       |       FROM io a JOIN io b ON a.o = b.o AND a.pk < b.pk
       |       GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
       |$rounds
       |$selects
       |ORDER BY round""".stripMargin
  }

  /** Distinct (order, part) incidence — the shared basket frame every
    * co-purchase operator starts from. */
  private def orderParts(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("pk"))
      .distinct()

  /** Support-thresholded co-purchase pairs WITH their co-occurrence
    * count — (a, b, cooc), a < b. The ONE home of the in-row per-basket
    * pair expansion (C(items, 2) per order, never a cross-part join):
    * the triangle census / components edge set drops cooc via
    * [[coPairs]], q_item_cosine and q_graph_jaccard score it directly,
    * so a fix to the expansion (e.g. a DegCap-style hub bound) lands
    * in every consumer at once. */
  private[graft] def coPairsWithSupport(s: SparkSession, d: String): DataFrame =
    orderParts(s, d)
      .groupBy("o").agg(sort_array(collect_set(col("pk"))).as("pks"))
      // pair expansion STREAMS through two codegen'd generators
      // (posexplode picks a, explode(slice) yields each later b) — the
      // same rewrite as q_graph_butterflies: the nested transform/
      // flatten lambda form is CodegenFallback and materializes each
      // basket's full C(items,2) struct array before exploding
      .select(col("pks"), posexplode(col("pks")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("pks"), col("i") + lit(2),
          size(col("pks")) - col("i") - lit(1))).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cooc"))
      .filter(col("cooc") >= MinSupport)

  /** Support-thresholded part co-purchase pair list (a < b) — the
    * shared edge set under q_graph_triangles, q_item_cosine and
    * q_graph_components: baskets → in-row sorted pair expansion (the
    * assoc_rules shape: C(items, 2) per order, never a cross-part
    * join) → support ≥ [[MinSupport]] filter. */
  private[graft] def coPairs(s: SparkSession, d: String): DataFrame =
    coPairsWithSupport(s, d).select("a", "b")

  /** Per-node triangle participation counts over the part co-purchase
    * graph (ALL nodes, unlimited) — the q_graph_triangles body before
    * the top-20, exposed so TwinAndPropertySpec can assert the
    * 3·|triangles| corner identity against an independent id-ordered
    * recount. The edge list and its orientation are localCheckpointed
    * (the q_pagerank move) so the wedge/closing branches reuse ONE
    * materialized frame instead of re-deriving lineitem three times. */
  private[graft] def triangleCorners(s: SparkSession, d: String): DataFrame =
    triangleCornersFrom(coPairs(s, d).transform(Q.snapshot))

  /** [[triangleCorners]] over an ALREADY-materialized (a, b) edge frame —
    * lets q_graph_clustering share one checkpointed edge list between
    * its degree table and the triangle census instead of re-deriving
    * the basket expansion twice. */
  private[graft] def triangleCornersFrom(edges: DataFrame): DataFrame = {
    val (deg, nDeg) = degreeTable(edges)
    triangleCornersFrom(edges, deg, nDeg)
  }

  /** Snapshotted (node, deg) table of an (a, b) edge frame with its row
    * count, observed in the snapshot's own job. */
  private def degreeTable(edges: DataFrame): (DataFrame, Long) = {
    val (deg, stats) = Q.snapshotWith(
      edges.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg")),
      count(lit(1)))
    (deg, stats.getLong(0))
  }

  /** [[triangleCornersFrom]] with an ALREADY-snapshotted degree table
    * (node, deg) of `nDeg` rows — q_graph_clustering derives the same
    * table for its readout, so it passes its snapshot in and the
    * degree agg runs once per query, not twice. */
  private[graft] def triangleCornersFrom(edges: DataFrame,
                                         deg0: DataFrame, nDeg: Long): DataFrame = {
    // the degree table feeds BOTH orientation joins: broadcast it
    // under the node-state row guard, so the edge frame streams
    // through both joins without an exchange and the degree agg runs
    // once, not twice (r19, guide §3.1/§2.4)
    val deg = Q.guardedBroadcast(deg0, nDeg, NodeStateBroadcastRows)
    // orient each edge from its (deg, id)-smaller endpoint; the packed
    // int64 key makes the orientation one scalar comparison and lets
    // the id be recovered with a single modulo at the end
    val oriented = edges
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
      .select(
        least(col("da") * lit(4294967296L) + col("a"),
          col("db") * lit(4294967296L) + col("b")).as("ku"),
        greatest(col("da") * lit(4294967296L) + col("a"),
          col("db") * lit(4294967296L) + col("b")).as("kv"))
      .transform(Q.snapshot)
    val w1 = oriented.select(col("ku"), col("kv").as("kx"))
    val w2 = oriented.select(col("ku"), col("kv").as("ky"))
    val closing = oriented.select(col("ku").as("kx"), col("kv").as("ky"))
    w1.join(w2, "ku").filter(col("kx") < col("ky"))
      .join(closing, Seq("kx", "ky"))
      .select(explode(array(col("ku"), col("kx"), col("ky"))).as("k"))
      .select((col("k") % 4294967296L).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
  }
}
