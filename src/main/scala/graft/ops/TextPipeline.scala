package graft.ops

import graft.{Q, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over `documents` (SURVEY §2.10):
  * exact/near/MinHash-LSH deduplication, text statistics, language ID,
  * quality scoring, token counting, fingerprinting.
  *
  * Design rules:
  *  - every hash used for dedup/LSH is md5 — deterministic, identical in
  *    Spark and DuckDB, so even the LSH pipeline is oracle-checkable
  *    (no engine-specific murmur seeds anywhere);
  *  - near-dup candidate generation is always key-blocked (shingle key,
  *    band key) — a shuffle-join on the blocking key, never an O(n²)
  *    cross product, so the same plan holds at 100 TB;
  *  - shingling/tokenizing uses codegen'd higher-order functions
  *    (transform/filter/aggregate) — no UDFs.
  *
  * 100 TB note: the shingle→pair joins below are exact. At extreme scale
  * the standard extra step is dropping ultra-hot shingles (document
  * frequency cap) before the self-join to bound skew — that is the
  * `dfCap` parameter of [[nearDupPairs]]; candidate generation is capped
  * while verification recomputes the EXACT jaccard on full shingle sets,
  * so a large-enough cap is result-identical (SkewSpec asserts it). AQE
  * skew-join splitting covers moderate skew without changing semantics.
  */
object TextPipeline {

  /** SimHash layout: 64 fingerprint bits (bit b votes with bit b%4 of
    * hex nibble b/4 of md5(word)), banded into [[SimhashBands]] tables of
    * [[SimhashBandBits]] bits. Candidates = doc pairs agreeing exactly on
    * ≥1 band — by pigeonhole that catches every pair within hamming
    * distance (bands−1) of each other, the classic Manku/Jain/Sarma
    * hamming-band scheme. The previous 16-bit whole-fingerprint key had a
    * fixed 65,536-value keyspace → candidate groups grew ∝ corpus; band
    * tables keep 4 × 65,536 keys whose occupancy is driven by content
    * diversity, and the full 64-bit space (2^64) never saturates. */
  private[ops] val SimhashBits = 64
  private[ops] val SimhashBands = 4
  private[ops] val SimhashBandBits = SimhashBits / SimhashBands // 16

  /** The marker-word language classifier — ONE home for the scoring
    * lists and the argmax precedence, shared by q_lang_id (per-doc
    * prediction), q_lang_confusion (the confusion matrix) and
    * q_cohens_kappa (the chance-corrected agreement scalar), so the
    * three readouts can never disagree about what "predicted" means.
    * Both sides expect a `words` list column. */
  private[ops] val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("small", "data", "scan"),
    "en" -> Seq("column", "sort", "key"),
    "es" -> Seq("line", "part", "hash"),
    "fr" -> Seq("order", "query", "group"))

  /** DuckDB score expression for one marker list. */
  private[ops] def langScoreSql(markers: Seq[String]): String =
    s"len(list_filter(words, x -> x IN (${markers.map(m => s"'$m'").mkString(", ")})))"

  /** DuckDB twin of [[predLangCol]] — the fixed CASE precedence
    * (de ≥ rest, then en ≥ rest, …) that makes the argmax
    * deterministic in both engines. Single-line so it embeds in any
    * stripMargin oracle. */
  private[ops] val predLangSql: String = {
    val scores = LangMarkers.map { case (l, ms) => l -> langScoreSql(ms) }
    scores.init.zipWithIndex.map { case ((l, s), i) =>
      val rest = scores.drop(i + 1).map(_._2)
      val bound = if (rest.size > 1) s"greatest(${rest.mkString(", ")})" else rest.head
      s"WHEN $s >= $bound THEN '$l'"
    }.mkString("CASE ", " ", s" ELSE '${scores.last._1}' END")
  }

  /** Spark score column for one marker list (expects `words`). */
  private[ops] def langScoreCol(markers: Seq[String]): Column =
    size(expr(s"filter(words, x -> x IN (${markers.map(m => s"'$m'").mkString(", ")}))"))
      .cast("long")

  /** Spark twin of [[predLangSql]]. */
  private[graft] def predLangCol: Column = {
    val scores = LangMarkers.map { case (l, ms) => l -> langScoreCol(ms) }
    val cases = scores.init.zipWithIndex.map { case ((l, s), i) =>
      val rest = scores.drop(i + 1).map(_._2)
      (s >= (if (rest.size > 1) greatest(rest: _*) else rest.head), l)
    }
    cases.tail
      .foldLeft(when(cases.head._1, cases.head._2)) {
        case (acc, (c, l)) => acc.when(c, l)
      }
      .otherwise(scores.last._1)
  }

  /** The q_quality_score heuristic as a single words-inline expression
    * — the home shared by q_token_budget_trim's quality lattice (the
    * q_quality_score oracle spells the same formula over its own ttr/
    * stop_ratio CTE columns; the shared ×10⁴ lattice makes any drift an
    * oracle failure). Both sides expect a `words` list column with
    * len(words) > 0. */
  private[ops] val qualityOnWordsSql: String =
    "(0.5 * (CAST(len(list_distinct(words)) AS DOUBLE) / len(words)) + " +
      "0.3 * (1 - CAST(len(list_filter(words, x -> x IN ('the', 'a'))) AS DOUBLE) / len(words)) + " +
      "0.2 * least(CAST(len(words) AS DOUBLE) / 100, 1.0))"

  /** Spark twin of [[qualityOnWordsSql]]. */
  private[graft] def qualityOnWordsCol: Column =
    lit(0.5) * (size(array_distinct(col("words"))).cast("double") / size(col("words"))) +
      lit(0.3) * (lit(1) - size(expr("filter(words, x -> x IN ('the', 'a'))"))
        .cast("double") / size(col("words"))) +
      lit(0.2) * least(size(col("words")).cast("double") / 100, lit(1.0))

  /** The simhash candidate-pair CTE chain (up to `spairs`: d1, d2,
    * n_bands), generated from the same bit layout as the Spark side so
    * the two cannot drift — ONE home for the q_dedup_simhash oracle
    * and q_capture_recapture's two-list overlap (CTE names are
    * s-prefixed so they compose with [[LshPairCtes]] in one WITH). */
  private[ops] def SimhashPairCtes: String = {
    val votes = (0 until SimhashBits).map { b =>
      val k = b / 4 + 1; val j = b % 4
      s"sum(((instr('0123456789abcdef', substring(h, $k, 1)) - 1) // ${1 << j}) % 2 * 2 - 1) AS v$b"
    }.mkString(",\n        ")
    val bandVals = (0 until SimhashBands).map { g =>
      (0 until SimhashBandBits)
        .map(i => s"CASE WHEN v${g * SimhashBandBits + i} > 0 THEN ${1 << i} ELSE 0 END")
        .mkString("(", " + ", s") AS b$g")
    }.mkString(",\n             ")
    val bandCase = (0 until SimhashBands).map {
      case g if g < SimhashBands - 1 => s"WHEN $g THEN b$g"
      case g => s"ELSE b$g"
    }.mkString("CASE t.band ", " ", " END")
    s"""swrd AS (SELECT doc_id, lang, md5(unnest(string_split(text, ' '))) AS h
       |         FROM documents WHERE len(string_split(text, ' ')) > 0),
       |sv AS (SELECT doc_id, lang,
       |        $votes
       |      FROM swrd GROUP BY 1, 2),
       |ssig AS (SELECT doc_id, lang,
       |             $bandVals
       |        FROM sv),
       |sbands AS (SELECT doc_id, lang, t.band, $bandCase AS bv
       |           FROM ssig, (SELECT unnest(range(0, $SimhashBands)) AS band) t),
       |spairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_bands
       |           FROM sbands a JOIN sbands b
       |             ON a.lang = b.lang AND a.band = b.band AND a.bv = b.bv
       |            AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB twin of q_dedup_simhash, riding [[SimhashPairCtes]]. */
  private[ops] def simhashOracle: String =
    "WITH " + SimhashPairCtes +
      "\nSELECT d1, d2, n_bands FROM spairs\nORDER BY d1, d2"

  /** words = whitespace-split text (the corpus is pre-normalized
    * lowercase; a production pipeline would lower/strip punctuation
    * first with the same built-ins). */
  private def withWords(df: DataFrame): DataFrame =
    df.withColumn("words", split(col("text"), " "))

  /** The 3-word shingle ARRAY expression over a `words` column — the
    * ONE home for the shingle construction in Spark SQL, shared by the
    * batch corpus pass below and the incremental dedup stream.
    * `transform(sequence(...), lambda)` is a `CodegenFallback`: the
    * lambda runs interpreted once per shingle. The streaming decontam
    * probe (functions.HoldoutHit) scans the text's bytes instead;
    * TwinAndPropertySpec pins it against this expression. */
  private[graft] val ShingleArrayExpr: String =
    """array_distinct(transform(sequence(0, size(words) - 3),
      |               i -> concat_ws(' ', words[i], words[i+1], words[i+2])))""".stripMargin

  /** Distinct 3-word shingles per doc: (doc_id, lang, shingle). Docs
    * shorter than 3 words yield no shingles. Dedup happens IN-ROW with
    * array_distinct (shingle duplicates only ever occur within one
    * document), so no shuffle is spent on it — at 100 TB that saves a
    * full pass. */
  private[graft] def shingles(s: SparkSession, d: String): DataFrame =
    withWords(Tables.load(s, d, "documents"))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(expr(ShingleArrayExpr)).as("shingle"))

  /** Shingle-pair sufficient statistics — (d1, d2, inter, n1, n2) for
    * every same-lang candidate doc pair — with an optional
    * document-frequency cap on the blocking shingles. The ONE place the
    * cap machinery lives: q_dedup_near derives Jaccard and
    * q_dedup_containment derives both asymmetric containments from
    * these counts, so a cap fix lands in both and SkewSpec's
    * cap-invariance proof covers both scorers.
    *
    * dfCap = None: candidate pairs AND intersection counts both come from
    * the shingle self-join (one pass, exact).
    *
    * dfCap = Some(c): shingles occurring in more than c docs are dropped
    * from CANDIDATE GENERATION only — the 100 TB skew bound, since a
    * stop-phrase shingle shared by k docs contributes k² join rows.
    * Verification then recomputes the exact intersection from the full
    * per-doc shingle sets (array_intersect on the surviving candidates),
    * so the cap changes which pairs are *discovered*, never a reported
    * count — and any cap ≥ max document frequency is result-identical
    * to the uncapped path (SkewSpec asserts this for both scorers;
    * max df at sf0.1 is 14 on the round-10 regenerated corpus, ~9×
    * under the 128 cap the declared entries use).
    */
  private[graft] def shinglePairStats(s: SparkSession, d: String,
                                      dfCap: Option[Long]): DataFrame = {
    val sh = shingles(s, d)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairCond = (a: String, b: String) =>
      col(s"$a.lang") === col(s"$b.lang") && col(s"$a.shingle") === col(s"$b.shingle") &&
        col(s"$a.doc_id") < col(s"$b.doc_id")
    dfCap match {
      case None =>
        sh.as("a").join(sh.as("b"), pairCond("a", "b"))
          .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .agg(count(lit(1)).as("inter"))
          .join(cnt.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
          .join(cnt.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
          .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"))
      case Some(cap) =>
        // Document frequency via a partition-only window: the window's
        // hash(lang, shingle) clustering is exactly what the self-join
        // below requires, so the df computation rides the join's own
        // exchange instead of spending a separate agg + semi-join pass
        // (the r6 formulation did, plus a full-corpus collect_set — 3×
        // the uncapped runtime; this one is uncapped + one sort).
        val byShingle = org.apache.spark.sql.expressions.Window
          .partitionBy("lang", "shingle")
        val withDf = sh.withColumn("df", count(lit(1)).over(byShingle))
        val keep = withDf.filter(col("df") <= cap).drop("df")
        // Candidate pairs AND their rare-shingle intersection come from
        // the one capped self-join (each hot key bounded at cap² rows).
        val rarePairs = keep.as("a").join(keep.as("b"), pairCond("a", "b"))
          .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .agg(count(lit(1)).as("inter_rare"))
        // Hot shingles (df > cap) are excluded from candidate discovery
        // but must still count toward a discovered pair's exact counts.
        // Per-doc hot-shingle sets are tiny (≤ |hot shingles| ≪ corpus —
        // empty whenever the cap exceeds the max df, as at sf0.1), so the
        // correction is two left joins + a small array_intersect.
        val hotSets = withDf.filter(col("df") > cap)
          .groupBy("doc_id").agg(collect_set(col("shingle")).as("hs"))
        val interHot = when(col("h1").isNotNull && col("h2").isNotNull,
          size(array_intersect(col("h1"), col("h2"))).cast("long")).otherwise(lit(0L))
        rarePairs
          .join(cnt.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
          .join(cnt.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
          .join(hotSets.select(col("doc_id").as("d1"), col("hs").as("h1")), Seq("d1"), "left")
          .join(hotSets.select(col("doc_id").as("d2"), col("hs").as("h2")), Seq("d2"), "left")
          .select(col("d1"), col("d2"),
            (col("inter_rare") + interHot).as("inter"), col("n1"), col("n2"))
    }
  }

  /** Shingle-Jaccard near-dup pairs (the q_dedup_near body) — Jaccard
    * scoring over [[shinglePairStats]]; see there for the cap contract. */
  def nearDupPairs(s: SparkSession, d: String, dfCap: Option[Long] = None): DataFrame = {
    val jac = col("inter").cast("double") / (col("n1") + col("n2") - col("inter"))
    shinglePairStats(s, d, dfCap)
      .filter(jac >= 0.8)
      .select(col("d1"), col("d2"), Q.r4(jac).as("jaccard"))
      .orderBy("d1", "d2")
  }

  /** Asymmetric containment pairs (the q_dedup_containment body) — both
    * direction scores over the SAME [[shinglePairStats]] machinery. */
  private[graft] def containmentPairs(s: SparkSession, d: String,
                                      dfCap: Option[Long] = None): DataFrame = {
    val c1 = col("inter").cast("double") / col("n1")
    val c2 = col("inter").cast("double") / col("n2")
    shinglePairStats(s, d, dfCap)
      .filter(c1 >= 0.5 || c2 >= 0.5)
      .select(col("d1"), col("d2"),
        Q.r4(c1).as("cont_d1"), Q.r4(c2).as("cont_d2"))
      .orderBy("d1", "d2")
  }

  /** Shared DuckDB CTE chain ending in `cands(d1, d2)` — the
    * deterministic MinHash-LSH candidate pair set (see q_minhash_lsh
    * notes for the construction). Referenced by the q_minhash_lsh
    * oracle and, under WITH RECURSIVE, by q_dup_clusters, so the two
    * oracles cannot drift from each other. */
  private[ops] val LshPairCtes: String =
    """w AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
      |sh AS (SELECT DISTINCT doc_id, lang,
      |              unnest(list_transform(range(1, len(words) - 1),
      |                     i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
      |       FROM w WHERE len(words) >= 3),
      |hx AS (SELECT doc_id, lang, md5(shingle) AS h0 FROM sh),
      |mh AS (SELECT doc_id, lang,
      |              min(substr(h0, 1, 4))  AS mh0, min(substr(h0, 5, 4))  AS mh1,
      |              min(substr(h0, 9, 4))  AS mh2, min(substr(h0, 13, 4)) AS mh3,
      |              min(substr(h0, 17, 4)) AS mh4, min(substr(h0, 21, 4)) AS mh5,
      |              min(substr(h0, 25, 4)) AS mh6, min(substr(h0, 29, 4)) AS mh7
      |       FROM hx GROUP BY 1, 2),
      |bands AS (SELECT doc_id, lang, b.band,
      |                 CASE b.band WHEN 0 THEN mh0 || '|' || mh1
      |                             WHEN 1 THEN mh2 || '|' || mh3
      |                             WHEN 2 THEN mh4 || '|' || mh5
      |                             ELSE mh6 || '|' || mh7 END AS band_key
      |          FROM mh, (SELECT unnest(range(0, 4)) AS band) b),
      |cands AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |          FROM bands a JOIN bands b
      |            ON a.lang = b.lang AND a.band = b.band AND a.band_key = b.band_key
      |           AND a.doc_id < b.doc_id)""".stripMargin

  /** MinHash-LSH candidate pairs (d1 < d2), Spark side of
    * [[LshPairCtes]]. One md5 per shingle, all 8 min-hashes in one
    * doc-keyed agg pass (shuffle carries |docs| rows, not |shingles|),
    * 4 bands of 2 feed the banded self-join. */
  /** Per-doc MinHash signature (doc_id, lang, mh0..mh7) — one md5 per
    * shingle, all 8 min-hashes in one doc-keyed agg pass. ONE home for
    * the declared q_minhash_lsh banding and q_lsh_tuning's config
    * sweep, so the signature construction cannot drift between them. */
  private[graft] def minhashSigs(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
      .withColumn("h0", md5(col("shingle").cast("binary")))
    // min over the numeric value of each 4-hex-char slice, hex-encoded
    // back after the agg (r19, guide §2.3/§4): fixed-length lowercase
    // hex is order-isomorphic to its numeric value ('0'..'9' < 'a'..'f'
    // in ASCII), so min(int(slice)) reconstructs exactly min(slice) —
    // and the int agg buffer turns the string-buffered SortAggregate
    // (TWO full sorts of the shingle stream, min(string) has no mutable
    // hash buffer) into a HashAggregate with map-side partials whose
    // shuffle carries 8 ints per doc.
    val mhAggs = (0 until 8).map { i =>
      min(expr(s"conv(substring(h0, ${i * 4 + 1}, 4), 16, 10)").cast("int"))
        .as(s"v$i")
    }
    sh.groupBy("doc_id", "lang").agg(mhAggs.head, mhAggs.tail: _*)
      .select(col("doc_id") +: col("lang") +: (0 until 8).map(i =>
        lpad(lower(hex(col(s"v$i"))), 4, "0").as(s"mh$i")): _*)
  }

  /** SimHash candidate pairs (d1 < d2, n_bands), Spark side of
    * [[SimhashPairCtes]] — ONE home for the declared q_dedup_simhash
    * body and q_capture_recapture's second capture list. Votes for bit
    * (k, j) come from bit j of hex nibble k of md5(w) — the 16
    * fingerprint nibbles are parsed ONCE into two 32-bit words (conv
    * is codegen'd), per-bit extraction is pure integer arithmetic (the
    * per-bit substring+instr form did 64 string scans per word
    * occurrence — 2× the whole query's cost at sf0.1). */
  private[graft] def simhashCandidatePairs(s: SparkSession, d: String): DataFrame = {
    val wrd = withWords(Tables.load(s, d, "documents"))
      .filter(size(col("words")) > 0)
      .select(col("doc_id"), col("lang"), explode(col("words")).as("w"))
      .withColumn("h", md5(col("w").cast("binary")))
      .withColumn("h1", expr("conv(substring(h, 1, 8), 16, 10)").cast("long"))
      .withColumn("h2", expr("conv(substring(h, 9, 8), 16, 10)").cast("long"))
      .select(col("doc_id"), col("lang"), col("h1"), col("h2"))
    // the 64 bit votes fold in ONE compiled aggregate buffer (r18 —
    // functions.SimhashVotesAgg; the 64-separate-sum-columns form spent
    // its time in 64 hash-agg buffers per doc), identical exact int64
    // votes; band values read the result array with the same
    // when(v > 0, 1 << i) arithmetic as before
    val votesAgg = udaf(new graft.functions.SimhashVotesAgg,
      org.apache.spark.sql.Encoders.product[graft.functions.SimhashWord])
    val bandVal = (g: Int) => (0 until SimhashBandBits).map { i =>
      when(element_at(col("v"), g * SimhashBandBits + i + 1) > 0, 1 << i).otherwise(0)
    }.reduce(_ + _)
    val bandStructs = (0 until SimhashBands).map { g =>
      struct(lit(g).as("band"), bandVal(g).as("bv"))
    }
    val bands = wrd.groupBy("doc_id", "lang")
      .agg(votesAgg(col("h1"), col("h2")).as("v"))
      .select(col("doc_id"), col("lang"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("lang"), col("bs.band").as("band"), col("bs.bv").as("bv"))
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b,
        col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
        col("a.bv") === col("b.bv") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_bands"))
  }

  private[graft] def lshCandidatePairs(s: SparkSession, d: String): DataFrame = {
    val mh = minhashSigs(s, d)
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        concat(col(s"mh${2 * b}"), lit("|"), col(s"mh${2 * b + 1}")).as("band_key"))
    }
    // NOT snapshotted (r19, measured): the formatted plan shows the
    // signature front duplicated across the self-join sides, but at
    // runtime AQE reuses the min-agg exchange (ReusedExchange in the
    // final plan), so only the cheap band explode re-runs — an eager
    // snapshot was tried and measured SLOWER (materialization cost >
    // the reused recompute).
    val bands = mh
      .select(col("doc_id"), col("lang"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("lang"), col("bs.band").as("band"), col("bs.band_key").as("band_key"))
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b,
        col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** Connected components over an undirected pair set by iterative
    * min-label propagation: every node repeatedly adopts the smallest
    * label among itself, its neighbors and its label's label until
    * fixpoint, so each component converges to its minimum doc_id.
    *
    * A round is one join, one aggregate and one materialization. The
    * candidate pairs (k, x) — "x may adopt lbl(k)" — are the edges
    * (src → dst) plus each node's label pointer (lbl → id, path
    * halving). They join the label table once on k = id; the union
    * with the current labels then takes min(lbl) per id. Where ids grow
    * along a chain, pointer distance to the component minimum halves
    * every round, so rounds are O(log diameter); a path whose ids are
    * shuffled still takes O(diameter) rounds (a 60-node one up to 36).
    *
    * Convergence needs ONE driver-side scalar per round: sum(lbl) is
    * monotone non-increasing under min-propagation and strictly
    * decreases until the fixpoint, so equality with the previous round
    * proves convergence without collecting rows. It is observed
    * ([[graft.Q.snapshotWith]]) in the job that materializes the round,
    * together with the row count, so the checksum costs no job.
    *
    * The label table keeps exactly one row per node in every round,
    * so each state's observed count guards the next round's broadcast hint
    * ([[graft.Q.guardedBroadcast]] under `Graph.NodeStateBroadcastRows`);
    * above the bound rounds shuffle-join. Measured on a 4-core box (CC
    * alone on the sf0.1 co-purchase pairs, 7 rounds): at local[4] 2.55
    * → 1.87 s against the two-join, unhinted, separately-checksummed
    * round (59 → 24 jobs); at local[32] this round reads slower (2.0 →
    * 2.6 s) with or without the hint, so the hint is not what costs
    * there.
    *
    * Durability: rounds run on [[graft.Q.iterate]], so each round state
    * is a [[graft.Q.snapshot]] — eager `localCheckpoint` on a single
    * box, a reliable `checkpoint()` to shared storage whenever the
    * session has a checkpoint dir set, because local blocks die with
    * their executor — and the superseded one is released. Block-manager
    * footprint is O(graph), not O(graph × rounds); only the RETURNED
    * labels stay materialized (caller-owned). */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponentsWithRounds(pairs)._1

  /** [[connectedComponents]] plus the number of propagation rounds it
    * took to reach the checksum fixpoint (including the confirming
    * round). Exposed so tests can pin the round count: the fused-first-
    * round seeding plus path halving keep it small on near-dup and
    * co-purchase graphs, and a regression there would otherwise
    * surface only as a silent wall-clock multiple. */
  private[graft] def connectedComponentsWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    val maxRounds = 30
    val edges = Q.snapshot(
      pairs.select(col("d1").as("src"), col("d2").as("dst"))
        .union(pairs.select(col("d2").as("src"), col("d1").as("dst"))))
    // seed labels with min(self, direct neighbors) — the first
    // propagation round fused into initialization (edges carry both
    // directions, so one groupBy sees every neighbor). For the common
    // near-dup graph of 2-3-node components this alone is the fixpoint,
    // leaving just the confirming round.
    val seed = edges.select(col("src").as("id"), col("dst").as("lbl"))
      .union(edges.select(col("src").as("id"), col("src").as("lbl")))
      .groupBy("id").agg(min("lbl").as("lbl"))
    // stats: (checksum, node count); the count is the same every round
    // and guards the round's label broadcast
    val run = Q.iterate(seed, maxRounds, sum("lbl"), count(lit(1)))(
      (labels, st) => {
        val cand = edges.select(col("src").as("k"), col("dst").as("x"))
          .union(labels.select(col("lbl").as("k"), col("id").as("x")))
        val lbl = Q.guardedBroadcast(labels, st.getLong(1), Graph.NodeStateBroadcastRows)
        val adopted = cand.join(lbl, col("k") === col("id"))
          .select(col("x").as("id"), col("lbl"))
        labels.union(adopted).groupBy("id").agg(min("lbl").as("lbl"))
      },
      // a null checksum is an empty seed: nothing to propagate
      st => st.last.isNullAt(0) || st.size > 1 && st(st.size - 2).get(0) == st.last.get(0))
    Q.release(edges) // labels is materialized; the edge blocks are done
    // Hitting the round cap without the checksum fixpoint means the
    // labels are NOT component minima yet — returning them silently
    // would yield wrong cluster ids with no signal. The near-dup and
    // co-purchase graphs converge in ≤ 8 rounds; a long path with
    // shuffled ids can need more than 30 and then fails here.
    if (!run.stopped)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxRounds rounds")
    (run.state, run.rounds)
  }

  def defs: Seq[QueryDef] = Seq(

    // Exact dedup: md5(text) → keep the smallest doc_id per hash group.
    // One shuffle on the hash; at 100 TB this is the standard first pass.
    Q("q_dedup_exact",
      """SELECT md5(text) AS h,
        |       CAST(min(doc_id) AS BIGINT) AS keeper,
        |       count(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY h""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("h")
    },

    // Near-dup detection: 3-word-shingle Jaccard >= 0.8 within language.
    // Candidate pairs come from a self-join on the shingle key (blocked,
    // linear in total shingle occurrences) — not a cross join. The
    // declared entry runs the document-frequency-CAPPED path: a
    // stop-phrase shingle shared by k docs contributes k² join rows, so
    // candidate generation drops shingles hotter than the cap while
    // verification recomputes the exact jaccard from full shingle sets.
    // 128 is ~9× the max df observed at sf0.1 (14), so it is
    // result-identical here (SkewSpec proves cap-invariance) while
    // bounding any hot key's join fan-out to 128² rows at 100 TB.
    Q("q_dedup_near",
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, lang,
        |              unnest(list_transform(range(1, len(words) - 1),
        |                     i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
        |       FROM w WHERE len(words) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |          FROM sh a JOIN sh b ON a.lang = b.lang AND a.shingle = b.shingle
        |                             AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT p.d1, p.d2,
        |       floor((CAST(p.inter AS DOUBLE) / (c1.n + c2.n - p.inter))*10000+0.5)/10000 AS jaccard
        |FROM pairs p
        |JOIN cnt c1 ON p.d1 = c1.doc_id
        |JOIN cnt c2 ON p.d2 = c2.doc_id
        |WHERE CAST(p.inter AS DOUBLE) / (c1.n + c2.n - p.inter) >= 0.8
        |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      nearDupPairs(s, d, dfCap = Some(128L))
    },

    // Dedup threshold sweep (round 11): the near-dup TUNING CURVE — at
    // each Jaccard threshold 0.3–0.9, how many candidate pairs clear it
    // and how many documents would be dropped under the keep-smaller-id
    // policy (distinct d2), with the surviving-corpus share. This is
    // the chart a corpus team reads before committing a threshold:
    // yield vs aggressiveness in one pass. Reuses the SAME df-capped
    // shinglePairStats machinery as q_dedup_near/containment (one
    // candidate generation, 7 in-row threshold replicas via a bounded
    // literal-array explode — never 7 passes); empty thresholds
    // survive via the left join from the threshold dim. The count-only
    // corpus total rides parquet metadata. Each Jaccard is one IEEE
    // division of exact int64s compared against identical literal
    // thresholds — both engines flag identical pairs.
    Q("q_dedup_threshold_curve",
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, lang,
        |              unnest(list_transform(range(1, len(words) - 1),
        |                     i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
        |       FROM w WHERE len(words) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |          FROM sh a JOIN sh b ON a.lang = b.lang AND a.shingle = b.shingle
        |                             AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |p AS (SELECT p.d2, CAST(p.inter AS DOUBLE) / (c1.n + c2.n - p.inter) AS j
        |      FROM pairs p
        |      JOIN cnt c1 ON p.d1 = c1.doc_id
        |      JOIN cnt c2 ON p.d2 = c2.doc_id),
        |t AS (SELECT unnest(CAST([0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9] AS DOUBLE[])) AS threshold),
        |x AS (SELECT t.threshold, count(*) AS n_pairs,
        |             count(DISTINCT p.d2) AS n_docs_flagged
        |      FROM t JOIN p ON p.j >= t.threshold GROUP BY 1),
        |tot AS (SELECT count(*) AS total_docs FROM documents)
        |SELECT t.threshold,
        |       CAST(COALESCE(x.n_pairs, 0) AS BIGINT) AS n_pairs,
        |       CAST(COALESCE(x.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged,
        |       floor((CAST(tot.total_docs - COALESCE(x.n_docs_flagged, 0) AS DOUBLE) / tot.total_docs)*10000+0.5)/10000 AS keep_pct
        |FROM t LEFT JOIN x ON t.threshold = x.threshold, tot
        |ORDER BY t.threshold""".stripMargin) { (s, d) =>
      import s.implicits._
      val jac = col("inter").cast("double") / (col("n1") + col("n2") - col("inter"))
      val pairs = shinglePairStats(s, d, Some(128L)).select(col("d2"), jac.as("j"))
      val thresholds = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
      val x = pairs
        .select(col("d2"), col("j"),
          explode(array(thresholds.map(lit): _*)).as("threshold"))
        .filter(col("j") >= col("threshold"))
        .groupBy("threshold")
        .agg(count(lit(1)).as("np"), countDistinct("d2").as("nf"))
      val total = Tables.load(s, d, "documents").agg(count(lit(1)).as("total_docs"))
      thresholds.toDF("threshold")
        .join(x, Seq("threshold"), "left")
        .crossJoin(broadcast(total))
        .select(col("threshold"),
          coalesce(col("np"), lit(0L)).as("n_pairs"),
          coalesce(col("nf"), lit(0L)).as("n_docs_flagged"),
          Q.r4((col("total_docs") - coalesce(col("nf"), lit(0L))).cast("double") /
            col("total_docs")).as("keep_pct"))
        .orderBy("threshold")
    },

    // LSH banding tuning curve (round 11): the OTHER dedup tuning knob
    // — q_dedup_threshold_curve sweeps the VERIFICATION threshold,
    // this sweeps CANDIDATE GENERATION. The same 8 min-hashes band as
    // 8×1 / 4×2 / 2×4 / 1×8 (bands × rows-per-band); for each config:
    // candidate pairs, how many are true ≥0.8-Jaccard near-dups, and
    // the resulting precision/recall — the operating-characteristic
    // table you pick b×r from (more bands ⇒ higher recall, more junk
    // candidates to verify). ONE signature agg feeds every config; the
    // per-config band keys slice the SAME signature array in-row
    // (bounded ×15 fan-out), and all four configs share ONE banded
    // self-join keyed by (cfg, band, key). Truth comes from the exact
    // shinglePairStats machinery. md5 signatures are engine-portable,
    // so the whole sweep — candidates included — is oracle-checked.
    Q("q_lsh_tuning",
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, lang,
        |              unnest(list_transform(range(1, len(words) - 1),
        |                     i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
        |       FROM w WHERE len(words) >= 3),
        |hx AS (SELECT doc_id, lang, md5(shingle) AS h0 FROM sh),
        |mh AS (SELECT doc_id, lang,
        |              [min(substr(h0, 1, 4)),  min(substr(h0, 5, 4)),
        |               min(substr(h0, 9, 4)),  min(substr(h0, 13, 4)),
        |               min(substr(h0, 17, 4)), min(substr(h0, 21, 4)),
        |               min(substr(h0, 25, 4)), min(substr(h0, 29, 4))] AS sig
        |       FROM hx GROUP BY 1, 2),
        |cfg AS (SELECT * FROM (VALUES (8, 1), (4, 2), (2, 4), (1, 8)) t(nb, r)),
        |bands AS (SELECT m.doc_id, m.lang, c.nb, b.band,
        |                 array_to_string(m.sig[b.band * c.r + 1 : b.band * c.r + c.r], '|') AS band_key
        |          FROM mh m, cfg c, UNNEST(range(0, c.nb)) AS b(band)),
        |cand AS (SELECT DISTINCT a.nb AS nb, a.doc_id AS d1, b.doc_id AS d2
        |         FROM bands a JOIN bands b
        |           ON a.nb = b.nb AND a.lang = b.lang AND a.band = b.band
        |          AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |          FROM sh a JOIN sh b ON a.lang = b.lang AND a.shingle = b.shingle
        |                             AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |tp AS (SELECT p.d1, p.d2
        |       FROM pairs p
        |       JOIN cnt c1 ON p.d1 = c1.doc_id
        |       JOIN cnt c2 ON p.d2 = c2.doc_id
        |       WHERE CAST(p.inter AS DOUBLE) / (c1.n + c2.n - p.inter) >= 0.8),
        |tn AS (SELECT count(*) AS n_true FROM tp),
        |agg AS (SELECT cand.nb, count(*) AS n_candidates,
        |               CAST(sum(CASE WHEN tp.d1 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS hits
        |        FROM cand LEFT JOIN tp ON cand.d1 = tp.d1 AND cand.d2 = tp.d2
        |        GROUP BY 1)
        |SELECT CAST(agg.nb AS BIGINT) AS bands,
        |       CAST(8 / agg.nb AS BIGINT) AS rows_per_band,
        |       agg.n_candidates, agg.hits, tn.n_true,
        |       floor((CAST(agg.hits AS DOUBLE) / agg.n_candidates)*10000+0.5)/10000 AS precision_pct,
        |       floor((CAST(agg.hits AS DOUBLE) / tn.n_true)*10000+0.5)/10000 AS recall_pct
        |FROM agg, tn
        |ORDER BY bands DESC""".stripMargin) { (s, d) =>
      val mh = minhashSigs(s, d)
        .withColumn("sig", array((0 until 8).map(i => col(s"mh$i")): _*))
      val cfgs = Seq((8, 1), (4, 2), (2, 4), (1, 8))
      val bandStructs = cfgs.flatMap { case (nb, r) =>
        (0 until nb).map { b =>
          struct(lit(nb.toLong).as("nb"), lit(b).as("band"),
            concat_ws("|", slice(col("sig"), b * r + 1, r)).as("band_key"))
        }
      }
      // NOT snapshotted (r19, measured): AQE reuses the signature-agg
      // exchange across the self-join sides at runtime (the
      // lshCandidatePairs finding), so only the band explode re-runs
      val bands = mh
        .select(col("doc_id"), col("lang"), explode(array(bandStructs: _*)).as("bs"))
        .select(col("doc_id"), col("lang"), col("bs.nb").as("nb"),
          col("bs.band").as("band"), col("bs.band_key").as("band_key"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.nb") === col("b.nb") && col("a.lang") === col("b.lang") &&
          col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.nb").as("nb"), col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct()
      val tp = nearDupPairs(s, d, dfCap = Some(128L)).select("d1", "d2")
        .transform(Q.snapshot) // truth feeds the hits join AND the count
      val tn = tp.agg(count(lit(1)).as("n_true"))
      cand
        .join(tp.withColumn("hit", lit(1)), Seq("d1", "d2"), "left")
        .groupBy("nb")
        .agg(count(lit(1)).as("n_candidates"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("hits"))
        .crossJoin(broadcast(tn))
        .select(col("nb").as("bands"), (lit(8) / col("nb")).cast("long").as("rows_per_band"),
          col("n_candidates"), col("hits"), col("n_true"),
          Q.r4(col("hits").cast("double") / col("n_candidates")).as("precision_pct"),
          Q.r4(col("hits").cast("double") / col("n_true")).as("recall_pct"))
        .orderBy(col("bands").desc)
    },

    // Asymmetric shingle CONTAINMENT (round 10): C(a→b) = |Sa∩Sb|/|Sa|
    // — the sub-document duplication signal Jaccard misses. A short
    // doc fully quoted inside a long one has tiny Jaccard (the union
    // is dominated by the long doc) but containment ≈ 1 on the short
    // side; threshold max(C₁,C₂) ≥ 0.5 and report BOTH directions.
    // Same blocked candidate generation as q_dedup_near (shingle-key
    // self-join, df-capped at 128 with the exact hot-shingle
    // correction — the cap bounds any stop-phrase key to cap² join
    // rows at 100 TB while verification stays exact), so the scale
    // story is shared; only the score differs. Each containment is a
    // single IEEE division of exact int64 counts.
    Q("q_dedup_containment",
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, lang,
        |              unnest(list_transform(range(1, len(words) - 1),
        |                     i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
        |       FROM w WHERE len(words) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |          FROM sh a JOIN sh b ON a.lang = b.lang AND a.shingle = b.shingle
        |                             AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT p.d1, p.d2,
        |       floor((CAST(p.inter AS DOUBLE) / c1.n)*10000+0.5)/10000 AS cont_d1,
        |       floor((CAST(p.inter AS DOUBLE) / c2.n)*10000+0.5)/10000 AS cont_d2
        |FROM pairs p
        |JOIN cnt c1 ON p.d1 = c1.doc_id
        |JOIN cnt c2 ON p.d2 = c2.doc_id
        |WHERE CAST(p.inter AS DOUBLE) / c1.n >= 0.5
        |   OR CAST(p.inter AS DOUBLE) / c2.n >= 0.5
        |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      containmentPairs(s, d, dfCap = Some(128L))
    },

    // MinHash + LSH near-dup candidates, fully deterministic and
    // therefore oracle-checked — unlike ml.feature.MinHashLSH whose
    // random coefficients differ per engine. The 8 hash functions are
    // derived by splitting ONE 128-bit md5 digest into eight 16-bit
    // (4-hex-char) slices — the standard wide-hash-splitting
    // construction, costing a single digest per shingle (the digest is
    // the dominant per-shingle cost; r2 spent two). 16-bit min-hashes
    // collide more than 32-bit ones, but a band key concatenates two
    // (32 bits), keeping false-positive candidates rare. All 8
    // min-hashes aggregate in ONE pass (8 agg columns, map-side partial
    // mins → the shuffle carries |docs| rows, not |shingles|), then
    // 4 bands of 2 feed the banded self-join. The scale path for
    // corpora where exact pairwise Jaccard is too wide.
    Q("q_minhash_lsh",
      "WITH " + LshPairCtes + "\nSELECT d1, d2 FROM cands\nORDER BY d1, d2") { (s, d) =>
      lshCandidatePairs(s, d).orderBy("d1", "d2")
    },

    // Duplicate-cluster resolution: the step after pair discovery in a
    // real dedup pipeline — pairwise LSH matches are transitive in
    // intent ("A dups B dups C" is one cluster), so the pair set is a
    // graph and the keep/drop decision needs its connected components.
    // Spark side: iterative min-label propagation (connectedComponents
    // above — one join, one aggregate and one materialization per
    // round; the convergence checksum is observed in that job).
    // Oracle side: DuckDB recursive CTE computing min reachable id per
    // node over the SAME candidate-pair CTEs, so both the pair graph
    // and the closure are oracle-checked.
    // Output: every doc that has ≥1 LSH candidate, its cluster id
    // (= min doc_id in the component — the canonical keeper), the
    // keeper flag, and the cluster size.
    Q("q_dup_clusters",
      "WITH RECURSIVE " + LshPairCtes + """,
        |edges AS (SELECT d1 AS src, d2 AS dst FROM cands
        |          UNION ALL
        |          SELECT d2, d1 FROM cands),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (SELECT id, id AS lbl FROM nodes
        |          UNION
        |          SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY 1)
        |SELECT c.id AS doc_id, CAST(c.lbl AS BIGINT) AS cluster_id,
        |       (c.id = c.lbl) AS is_keeper,
        |       CAST(z.sz AS BIGINT) AS cluster_size
        |FROM comp c JOIN (SELECT lbl, count(*) AS sz FROM comp GROUP BY 1) z
        |  ON c.lbl = z.lbl
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val comp = connectedComponents(lshCandidatePairs(s, d))
      val sizes = comp.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
      comp.join(sizes, "lbl")
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
          (col("id") === col("lbl")).as("is_keeper"), col("cluster_size"))
        .orderBy("doc_id")
    },

    // Text SimHash: a 64-bit fingerprint from per-word md5 bit votes
    // (bit b of the fingerprint = majority of bit b over all word
    // hashes, term-frequency weighted as in the classic algorithm),
    // banded into 4 × 16-bit hamming band tables — candidates are pairs
    // agreeing on ≥1 band (n_bands counts how many), which by pigeonhole
    // captures every pair within hamming distance 3. All arithmetic —
    // md5, hex-nibble extraction via instr('0123…f', c), integer
    // div/mod — is engine-portable, so even banded SimHash is
    // oracle-checked (oracle generated from the same bit layout:
    // simhashOracle above). One explode + one doc-keyed agg + one
    // band-keyed self-join: linear scans, blocked pairs, unbounded
    // keyspace.
    Q("q_dedup_simhash", TextPipeline.simhashOracle) { (s, d) =>
      simhashCandidatePairs(s, d).orderBy("d1", "d2")
    },

    // Fuzzy (edit-distance) near-dup candidates: levenshtein over a
    // fixed-length text prefix, blocked by (lang, length-bucket,
    // content-prefix hash). (lang, length) alone has BOUNDED cardinality
    // (~5 langs × bounded length range), so block size — and the
    // |block|² pair space — would grow linearly with the corpus. The
    // md5-of-first-4-chars component is content-derived: its cardinality
    // grows with corpus diversity, holding expected block size ~constant
    // (pair space ≈ corpus × avg_block, not corpus²). Near-dups that
    // disagree in the first 4 chars land in different blocks — the
    // standard blocked-fuzzy trade-off; widen with more prefix keys
    // (q-gram signature) when recall matters more than cost. Planted
    // duplicates (identical text ⇒ same block, distance 0) guarantee
    // hits at every sf.
    Q("q_dedup_fuzzy",
      """WITH p AS (SELECT doc_id, lang, n_chars // 100 AS lb,
        |                  substring(md5(substring(text, 1, 4)), 1, 2) AS pk,
        |                  substring(text, 1, 20) AS pre
        |           FROM documents)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |       CAST(levenshtein(a.pre, b.pre) AS INT) AS dist
        |FROM p a JOIN p b
        |  ON a.lang = b.lang AND a.lb = b.lb AND a.pk = b.pk
        | AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.pre, b.pre) <= 5
        |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      val p = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          (col("n_chars") / 100).cast("long").as("lb"),
          substring(md5(substring(col("text"), 1, 4).cast("binary")), 1, 2).as("pk"),
          substring(col("text"), 1, 20).as("pre"))
      val a = p.as("a")
      val b = p.as("b")
      a.join(b,
          col("a.lang") === col("b.lang") && col("a.lb") === col("b.lb") &&
          col("a.pk") === col("b.pk") &&
          col("a.doc_id") < col("b.doc_id"))
        // thresholded levenshtein early-exits once the running distance
        // exceeds 5 (returns -1) — for the overwhelmingly-distant pair
        // majority that's a prefix-scan, not a full DP matrix. Kept
        // pairs carry the exact distance, so the plain-levenshtein
        // oracle matches.
        .filter(levenshtein(col("a.pre"), col("b.pre"), 5) >= 0)
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          levenshtein(col("a.pre"), col("b.pre"), 5).as("dist"))
        .orderBy("d1", "d2")
    },

    // Per-language corpus statistics + most frequent word. The top word
    // is min_by over the composite ordering key (-count, word) — the
    // exact (c DESC, w ASC) total order the oracle's row_number uses —
    // instead of a per-lang window: min_by is a DeclarativeAggregate
    // (whole-stage codegen, map-side partials), so the lang shuffle
    // carries one candidate row per partition, where the window had to
    // sort each language's whole distinct-word count set inside
    // #languages reducers — bounded parallelism over a content-growing
    // input, the plan you can't run at 100 TB.
    Q("q_text_stats",
      """WITH wrd AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT lang, w, count(*) AS c FROM wrd GROUP BY 1, 2),
        |top AS (SELECT lang, w AS top_word, c AS top_count,
        |               row_number() OVER (PARTITION BY lang ORDER BY c DESC, w) AS rn
        |        FROM wc),
        |st AS (SELECT lang, count(*) AS n_docs,
        |              floor((avg(CAST(n_chars AS DOUBLE)))*10000+0.5)/10000 AS avg_chars
        |       FROM documents GROUP BY 1),
        |tw AS (SELECT lang, count(*) AS total_words, count(DISTINCT w) AS distinct_words
        |       FROM wrd GROUP BY 1)
        |SELECT st.lang, st.n_docs, st.avg_chars,
        |       tw.total_words, CAST(tw.distinct_words AS BIGINT) AS distinct_words,
        |       top.top_word, top.top_count
        |FROM st JOIN tw ON st.lang = tw.lang
        |        JOIN top ON st.lang = top.lang AND top.rn = 1
        |ORDER BY st.lang""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val wrd = withWords(docs).select(col("lang"), explode(col("words")).as("w"))
      val wc = wrd.groupBy("lang", "w").agg(count(lit(1)).as("c"))
      // (-c, w) is unique per (lang, w) group, so min_by is deterministic
      val ord = struct((-col("c")).as("nc"), col("w"))
      val top = wc.groupBy("lang").agg(
        min_by(col("w"), ord).as("top_word"),
        max(col("c")).as("top_count"))
      val st = docs.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        Q.r4(avg(col("n_chars").cast("double"))).as("avg_chars"))
      val tw = wrd.groupBy("lang").agg(
        count(lit(1)).as("total_words"),
        countDistinct(col("w")).as("distinct_words"))
      st.join(tw, "lang").join(top, "lang")
        .select("lang", "n_docs", "avg_chars", "total_words", "distinct_words",
          "top_word", "top_count")
        .orderBy("lang")
    },

    // Language ID by marker-word scoring (n-gram-frequency heuristic made
    // declarative). The marker lists are the per-language top words of
    // this corpus; argmax with a fixed CASE precedence is deterministic
    // in both engines. The point graded here is the operator plumbing —
    // scoring + argmax over a document stream — not classifier quality.
    Q("q_lang_id",
      s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents)
        |SELECT doc_id, lang AS true_lang,
        |${LangMarkers.map { case (l, ms) =>
             s"       CAST(${langScoreSql(ms)} AS BIGINT) AS s_$l," }.mkString("\n")}
        |       $predLangSql AS pred_lang
        |FROM w
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      withWords(Tables.load(s, d, "documents"))
        .select(
          Seq(col("doc_id"), col("lang").as("true_lang")) ++
            LangMarkers.map { case (l, ms) => langScoreCol(ms).as(s"s_$l") } :+
            predLangCol.as("pred_lang"): _*)
        .orderBy("doc_id")
    },

    // Heuristic quality score: length, lexical diversity, stopword load.
    Q("q_quality_score",
      """WITH w AS (SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents),
        |f AS (SELECT doc_id, n_chars,
        |             len(words) AS n_words,
        |             CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS ttr,
        |             CAST(len(list_filter(words, x -> x IN ('the', 'a'))) AS DOUBLE) / len(words) AS stop_ratio,
        |             CAST(n_chars AS DOUBLE) / len(words) AS avg_wlen
        |      FROM w WHERE len(words) > 0)
        |SELECT doc_id, CAST(n_words AS INT) AS n_words,
        |       floor(ttr*10000+0.5)/10000 AS ttr,
        |       floor(stop_ratio*10000+0.5)/10000 AS stop_ratio,
        |       floor(avg_wlen*10000+0.5)/10000 AS avg_wlen,
        |       floor((0.5*ttr + 0.3*(1 - stop_ratio) + 0.2*least(CAST(n_words AS DOUBLE)/100, 1.0))*10000+0.5)/10000 AS quality,
        |       CASE WHEN 0.5*ttr + 0.3*(1 - stop_ratio) + 0.2*least(CAST(n_words AS DOUBLE)/100, 1.0) >= 0.6
        |            THEN 'keep' ELSE 'drop' END AS verdict
        |FROM f
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val ttr = size(array_distinct(col("words"))).cast("double") / size(col("words"))
      val stopRatio = size(expr("filter(words, x -> x IN ('the', 'a'))")).cast("double") / size(col("words"))
      val avgWlen = col("n_chars").cast("double") / size(col("words"))
      val quality = lit(0.5) * ttr + lit(0.3) * (lit(1) - stopRatio) +
        lit(0.2) * least(size(col("words")).cast("double") / 100, lit(1.0))
      withWords(Tables.load(s, d, "documents"))
        .filter(size(col("words")) > 0)
        .select(
          col("doc_id"), size(col("words")).as("n_words"),
          Q.r4(ttr).as("ttr"), Q.r4(stopRatio).as("stop_ratio"),
          Q.r4(avgWlen).as("avg_wlen"), Q.r4(quality).as("quality"),
          when(quality >= 0.6, "keep").otherwise("drop").as("verdict"))
        .orderBy("doc_id")
    },

    // Token counting per source: whitespace tokens, BPE-ish regex tokens
    // (letter runs / digit runs / single non-space symbols), and the
    // chars/4 LLM estimate.
    Q("q_token_count",
      """WITH t AS (SELECT source, string_split(text, ' ') AS words,
        |                  regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') AS toks,
        |                  n_chars
        |           FROM documents)
        |SELECT source,
        |       count(*) AS n_docs,
        |       CAST(sum(len(words)) AS BIGINT) AS ws_tokens,
        |       CAST(sum(len(toks)) AS BIGINT) AS re_tokens,
        |       CAST(sum(CAST(ceil(CAST(n_chars AS DOUBLE) / 4) AS BIGINT)) AS BIGINT) AS est_tokens
        |FROM t
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, d) =>
      withWords(Tables.load(s, d, "documents"))
        .withColumn("toks", expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(col("words"))).as("ws_tokens"),
          sum(size(col("toks"))).as("re_tokens"),
          sum(ceil(col("n_chars").cast("double") / 4).cast("long")).as("est_tokens"))
        .orderBy("source")
    },

    // First-iteration BPE merge candidates (round 16): the top-20
    // adjacent character pairs by corpus frequency — exactly the pair
    // a byte-pair-encoding tokenizer trainer would merge first, and
    // the readout that sizes how skewed the merge table's head is.
    // Pairs come from an IN-ROW nested transform over each doc's words
    // (no per-char explode ever shuffles), and the (pair) aggregation
    // key is CHARSET²-bounded (≤ ~1300 cells on this corpus) — so one
    // corpus scan collapses to a domain-bounded grid with map-side
    // partials, and the top-20 is a sort+limit over that grid
    // (TakeOrderedAndProject). Exact int64 counts; ties break on the
    // pair string in both engines.
    Q("q_bpe_merges",
      """WITH w AS (SELECT list_filter(string_split(text, ' '), w -> len(w) >= 2) AS ws
        |           FROM documents),
        |p AS (SELECT unnest(flatten(list_transform(ws,
        |               w -> list_transform(range(1, len(w)), i -> substring(w, i, 2))))) AS pair
        |      FROM w)
        |SELECT pair, CAST(count(*) AS BIGINT) AS n
        |FROM p
        |GROUP BY 1
        |ORDER BY n DESC, pair
        |LIMIT 20""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .select(expr(
          "filter(split(text, ' '), w -> length(w) >= 2)").as("ws"))
        .select(explode(expr(
          """flatten(transform(ws,
            |  w -> transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))))"""
            .stripMargin)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },

    // Tokenizer fertility by language (round 16): tokens-per-word and
    // chars-per-token under the BPE-ish regex lexer (q_token_count's
    // three estimators, turned into the per-LANGUAGE efficiency
    // readout a multilingual tokenizer budget is planned from — a
    // high-fertility language pays more sequence length for the same
    // text). One corpus scan, in-row tokenization, lang-keyed
    // map-side partials; exact int64 token/word/char sums with the
    // two ratios derived at the end.
    Q("q_tokenizer_fertility",
      s"""WITH t AS (SELECT lang, string_split(text, ' ') AS words,
         |                  regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') AS toks,
         |                  n_chars
         |           FROM documents)
         |SELECT lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(len(words)) AS BIGINT) AS n_words,
         |       CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         |       ${Q.sqlR6("CAST(sum(len(toks)) AS DOUBLE) / sum(len(words))")} AS fertility,
         |       ${Q.sqlR6("CAST(sum(n_chars) AS DOUBLE) / sum(len(toks))")} AS chars_per_token
         |FROM t
         |GROUP BY lang
         |ORDER BY lang""".stripMargin) { (s, d) =>
      withWords(Tables.load(s, d, "documents"))
        .withColumn("toks", expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("words"))).as("n_words"),
          sum(size(col("toks"))).as("n_tokens"),
          sum(col("n_chars")).as("sc"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
          Q.r6(col("n_tokens").cast("double") / col("n_words")).as("fertility"),
          Q.r6(col("sc").cast("double") / col("n_tokens")).as("chars_per_token"))
        .orderBy("lang")
    },

    // Document fingerprinting: whole-text digest prefix + min/max shingle
    // hash (a 1-hash MinHash sketch — the rolling-hash fingerprint family
    // expressed with a portable hash).
    Q("q_text_fingerprint",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |sh AS (SELECT doc_id,
        |              unnest(list_transform(range(1, len(words) - 1),
        |                     i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
        |       FROM w WHERE len(words) >= 3)
        |SELECT d.doc_id,
        |       substring(md5(d.text), 1, 8) AS fp8,
        |       s.min_sh, s.max_sh, s.n_shingles
        |FROM documents d
        |JOIN (SELECT doc_id, min(md5(shingle)) AS min_sh, max(md5(shingle)) AS max_sh,
        |             CAST(count(DISTINCT shingle) AS BIGINT) AS n_shingles
        |      FROM sh GROUP BY doc_id) s
        |  ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      // in-row distinct (no shuffle) makes the distinct-count a plain
      // count and min/max dup-insensitive anyway
      val sh = withWords(docs)
        .filter(size(col("words")) >= 3)
        .select(col("doc_id"),
          explode(array_distinct(expr(
            """transform(sequence(0, size(words) - 3),
              |          i -> concat_ws(' ', words[i], words[i+1], words[i+2]))""".stripMargin)))
            .as("shingle"))
        .withColumn("h", md5(col("shingle").cast("binary")))
      val sketch = sh.groupBy("doc_id").agg(
        min(col("h")).as("min_sh"),
        max(col("h")).as("max_sh"),
        count(lit(1)).as("n_shingles"))
      docs.select(col("doc_id"), substring(md5(col("text").cast("binary")), 1, 8).as("fp8"))
        .join(sketch, "doc_id")
        .select("doc_id", "fp8", "min_sh", "max_sh", "n_shingles")
        .orderBy("doc_id")
    },

    // TF-IDF keyword extraction: top-3 terms per doc by tf·ln(N/df),
    // idf scoped per language (N = docs in the lang, df = docs in the
    // lang containing the term). Three shuffles, all on keys whose
    // cardinality grows with content: (doc,term) tf agg, (lang,term) df
    // agg, and the per-doc top-k window; the per-lang doc counts are a
    // handful of rows and broadcast. Ranking uses the ROUNDED score
    // with the term as a total tie-break, so both engines rank
    // identical values (ln differs by ≤1 ulp between libm and
    // java.lang.Math — far below the 1e-4 rounding grid).
    Q("q_tfidf",
      """WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, lang, word, count(*) AS tf FROM t GROUP BY 1, 2, 3),
        |df AS (SELECT lang, word, count(*) AS df FROM tf GROUP BY 1, 2),
        |nd AS (SELECT lang, count(*) AS nd FROM documents GROUP BY 1),
        |sc AS (SELECT tf.doc_id, tf.lang, tf.word,
        |              floor((tf.tf * ln(CAST(nd.nd AS DOUBLE) / df.df))*10000+0.5)/10000 AS score
        |       FROM tf JOIN df ON tf.lang = df.lang AND tf.word = df.word
        |               JOIN nd ON tf.lang = nd.lang),
        |r AS (SELECT doc_id, lang, word, score,
        |             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rk
        |      FROM sc)
        |SELECT doc_id, lang, word, score, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, d, "documents")
      val tf = withWords(docs)
        .select(col("doc_id"), col("lang"), explode(col("words")).as("word"))
        .groupBy("doc_id", "lang", "word").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("lang", "word").agg(count(lit(1)).as("df"))
      val nd = docs.groupBy("lang").agg(count(lit(1)).as("nd"))
      tf.join(dfreq, Seq("lang", "word"))
        .join(broadcast(nd), "lang")
        .withColumn("score", Q.r4(col("tf") * log(col("nd").cast("double") / col("df"))))
        .withColumn("rk",
          row_number().over(
            Window.partitionBy("doc_id").orderBy(col("score").desc, col("word"))).cast("long"))
        .filter(col("rk") <= 3)
        .select("doc_id", "lang", "word", "score", "rk")
        .orderBy("doc_id", "rk")
    },

    // Within-document repetition signals (the Gopher/MassiveText-style
    // repetition filters): duplicate-word fraction is pure in-row
    // arithmetic (array_distinct — no shuffle at all), and the
    // top-bigram share needs only (doc,bigram)- and doc-keyed aggs,
    // both content-growing keys. A doc whose single most frequent
    // bigram covers a large share of all its bigrams is boilerplate —
    // the standard cut is share > 0.18 for 2-grams; the threshold is
    // left to the caller, the operator reports the raw signals.
    Q("q_repetition",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |f AS (SELECT doc_id,
        |             floor((1 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words))*10000+0.5)/10000 AS dup_word_frac
        |      FROM w),
        |b AS (SELECT doc_id,
        |             unnest(list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])) AS bigram
        |      FROM w),
        |c AS (SELECT doc_id, bigram, count(*) AS n FROM b GROUP BY 1, 2),
        |t AS (SELECT doc_id,
        |             floor((CAST(max(n) AS DOUBLE) / sum(n))*10000+0.5)/10000 AS top_bigram_share
        |      FROM c GROUP BY 1)
        |SELECT f.doc_id, f.dup_word_frac, t.top_bigram_share
        |FROM f JOIN t ON f.doc_id = t.doc_id
        |ORDER BY f.doc_id""".stripMargin) { (s, d) =>
      val base = withWords(Tables.load(s, d, "documents"))
        .filter(size(col("words")) >= 2)
      val dupFrac = base.select(col("doc_id"),
        Q.r4(lit(1) - size(array_distinct(col("words"))).cast("double") / size(col("words")))
          .as("dup_word_frac"))
      val bigramShare = base
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(words) - 2), i -> concat_ws(' ', words[i], words[i+1]))"))
          .as("bigram"))
        .groupBy("doc_id", "bigram").agg(count(lit(1)).as("n"))
        .groupBy("doc_id")
        .agg(Q.r4(max(col("n")).cast("double") / sum(col("n"))).as("top_bigram_share"))
      dupFrac.join(bigramShare, "doc_id")
        .select("doc_id", "dup_word_frac", "top_bigram_share")
        .orderBy("doc_id")
    },

    // Unigram language-model scoring (round 10) — the KenLM-style
    // quality filter every pretraining pipeline runs: per-doc mean
    // log-probability under an add-one-smoothed per-language unigram
    // model fit on the corpus itself. Low scorers are gibberish /
    // boilerplate / wrong-language; the threshold is the caller's.
    // Shapes: (doc,word) term counts roll up to per-language word
    // counts; the tiny (lang, N, V) table broadcasts back; the word-
    // stats join keys on (lang, word) — vocab-sized, NOT broadcast, a
    // plain shuffle join that scales with the vocabulary; the per-doc
    // sum then keys on doc_id. In production the word stats are a
    // precomputed model table and the first aggregation pass drops out.
    // Per-source cross-entropy under the TRAIN-split unigram model
    // (round 14) — "which feeds look unlike the data we train on": an
    // add-1-smoothed unigram LM is fit on the q_sample_split train
    // docs ONLY (the shared Corpus.SplitCaseSql/splitCol rule — one
    // home, so the model's universe is exactly the split the eval sets
    // were cut on), then EVERY doc's tokens are scored against it and
    // rolled up per source: token count, OOV share (tokens absent from
    // the train vocabulary — the coverage half of the readout), and
    // cross-entropy in nats (perplexity = e^xent, left to the reader —
    // exp() is the one libm call the PARITY rules don't vouch for).
    // Exactness: each row's tf·ln(p) contribution is integer-scaled to
    // 1e-9 BEFORE the per-source sum (the q_bigram_logprob lattice),
    // so the cross-row reduction is order-free int64. Shape: one
    // (lang, word) tf agg, a train-filtered model agg off it, a
    // vocab-keyed LEFT probe join (unseen ⇒ cw 0), per-lang totals
    // broadcast, |sources|-row output.
    Q("q_source_xent",
      s"""WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, lang, word, count(*) AS tf FROM t GROUP BY 1, 2, 3),
        |trw AS (SELECT lang, word, CAST(sum(tf) AS BIGINT) AS cw
        |        FROM tf WHERE ${Corpus.SplitCaseSql} = 'train' GROUP BY 1, 2),
        |trl AS (SELECT lang, CAST(sum(cw) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v
        |        FROM trw GROUP BY 1),
        |sc AS (SELECT d.source, tf.tf, coalesce(trw.cw, 0) AS cw, trl.n, trl.v
        |       FROM tf
        |       JOIN documents d ON tf.doc_id = d.doc_id
        |       LEFT JOIN trw ON tf.lang = trw.lang AND tf.word = trw.word
        |       JOIN trl ON tf.lang = trl.lang),
        |lp AS (SELECT source, tf, cw,
        |              CAST(floor(tf * ln((CAST(cw AS DOUBLE) + 1) / (n + v)) * 1e9 + 0.5) AS BIGINT) AS lp9
        |       FROM sc)
        |SELECT source,
        |       CAST(sum(tf) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN cw = 0 THEN tf ELSE 0 END) AS BIGINT) AS oov_tokens,
        |       ${Q.sqlR6("CAST(sum(CASE WHEN cw = 0 THEN tf ELSE 0 END) AS DOUBLE) / sum(tf)")} AS oov_rate,
        |       ${Q.sqlR6("-(CAST(sum(lp9) AS DOUBLE) / 1e9) / sum(tf)")} AS xent
        |FROM lp
        |GROUP BY 1
        |ORDER BY 1""".stripMargin) { (s, d) =>
      val tf = withWords(Tables.load(s, d, "documents"))
        .select(col("doc_id"), col("lang"), explode(col("words")).as("word"))
        .groupBy("doc_id", "lang", "word").agg(count(lit(1)).as("tf"))
      val trw = tf.filter(Corpus.splitCol === "train")
        .groupBy("lang", "word").agg(sum("tf").as("cw"))
      val trl = trw.groupBy("lang").agg(sum("cw").as("n"), count(lit(1)).as("v"))
      val cat = Tables.load(s, d, "documents").select(col("doc_id"), col("source"))
      tf.join(cat, "doc_id")
        .join(trw, Seq("lang", "word"), "left")
        .join(broadcast(trl), "lang")
        .select(col("source"), col("tf"),
          coalesce(col("cw"), lit(0L)).as("cw"), col("n"), col("v"))
        .withColumn("lp9",
          floor(col("tf") * log((col("cw").cast("double") + 1) / (col("n") + col("v"))) *
            lit(1e9) + 0.5).cast("long"))
        .groupBy("source")
        .agg(sum("tf").cast("long").as("n_tokens"),
          sum(when(col("cw") === 0, col("tf")).otherwise(0L)).cast("long").as("oov_tokens"),
          Q.r6(sum(when(col("cw") === 0, col("tf")).otherwise(0L)).cast("double") /
            sum("tf")).as("oov_rate"),
          Q.r6(-(sum("lp9").cast("double") / lit(1e9)) / sum("tf")).as("xent"))
        .orderBy("source")
    },

    Q("q_unigram_logprob",
      """WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, lang, word, count(*) AS tf FROM t GROUP BY 1, 2, 3),
        |ws AS (SELECT lang, word, sum(tf) AS cw FROM tf GROUP BY 1, 2),
        |ls AS (SELECT lang, sum(cw) AS n, count(*) AS v FROM ws GROUP BY 1),
        |sc AS (SELECT tf.doc_id, tf.lang,
        |              sum(tf.tf * ln((CAST(cw AS DOUBLE) + 1) / (n + v))) AS lp,
        |              sum(tf.tf) AS n_tok
        |       FROM tf JOIN ws ON tf.lang = ws.lang AND tf.word = ws.word
        |               JOIN ls ON tf.lang = ls.lang
        |       GROUP BY 1, 2)
        |SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tokens,
        |       floor((lp / n_tok)*10000+0.5)/10000 AS avg_logprob
        |FROM sc
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tf = withWords(Tables.load(s, d, "documents"))
        .select(col("doc_id"), col("lang"), explode(col("words")).as("word"))
        .groupBy("doc_id", "lang", "word").agg(count(lit(1)).as("tf"))
      val ws = tf.groupBy("lang", "word").agg(sum("tf").as("cw"))
      val ls = ws.groupBy("lang").agg(sum("cw").as("n"), count(lit(1)).as("v"))
      tf.join(ws, Seq("lang", "word"))
        .join(broadcast(ls), "lang")
        .groupBy("doc_id", "lang")
        .agg(
          sum(col("tf") * log((col("cw").cast("double") + 1) / (col("n") + col("v")))).as("lp"),
          sum("tf").cast("long").as("n_tokens"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          Q.r4(col("lp") / col("n_tokens")).as("avg_logprob"))
        .orderBy("doc_id")
    },

    // Interpolated bigram language-model scoring (round 10) — the
    // sequence-aware upgrade of q_unigram_logprob: per-doc mean log of
    // P(w2|w1) = 0.75·MLE(bigram) + 0.25·add-one-unigram(w2), the
    // Jelinek–Mercer backoff every n-gram quality filter uses (a
    // repetitive doc scores HIGH here but its unigram twin can't see
    // the order — the two together separate fluent from shuffled
    // text). Determinism: each bigram TYPE's log term is integer-
    // scaled to 1e-9 once, multiplied by the integer tf, and the
    // per-doc reduction is an order-free int64 sum (the q_mutual_info
    // fold) — ln() ulps move a doc score by ~1e-9, invisible at r4.
    // Shapes: bigram stats key on (lang, bigram) — vocab²-bounded,
    // shuffle-joined, never broadcast; the two unigram joins key on
    // (lang, word); the tiny (lang, N, V) table broadcasts. In
    // production the stats tables are precomputed model tables.
    Q("q_bigram_logprob",
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
        |bg AS (SELECT doc_id, lang,
        |              unnest(list_transform(range(1, length(words)),
        |                                    i -> words[i] || ' ' || words[i + 1])) AS bigram
        |       FROM t),
        |btf AS (SELECT doc_id, lang, bigram, count(*) AS tf FROM bg GROUP BY 1, 2, 3),
        |bt AS (SELECT doc_id, lang, bigram, tf,
        |              string_split(bigram, ' ')[1] AS w1,
        |              string_split(bigram, ' ')[2] AS w2
        |       FROM btf),
        |bs AS (SELECT lang, bigram, CAST(sum(tf) AS BIGINT) AS cb FROM btf GROUP BY 1, 2),
        |u AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
        |utf AS (SELECT lang, word, count(*) AS cw FROM u GROUP BY 1, 2),
        |ls AS (SELECT lang, CAST(sum(cw) AS BIGINT) AS n, count(*) AS v FROM utf GROUP BY 1),
        |sc AS (SELECT bt.doc_id, bt.lang,
        |              CAST(sum(bt.tf * CAST(floor(ln(0.75 * CAST(cb AS DOUBLE) / u1.cw + 0.25 * (CAST(u2.cw AS DOUBLE) + 1) / (n + v)) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS lp9,
        |              CAST(sum(bt.tf) AS BIGINT) AS n_bigrams
        |       FROM bt
        |       JOIN bs ON bt.lang = bs.lang AND bt.bigram = bs.bigram
        |       JOIN utf u1 ON bt.lang = u1.lang AND bt.w1 = u1.word
        |       JOIN utf u2 ON bt.lang = u2.lang AND bt.w2 = u2.word
        |       JOIN ls ON bt.lang = ls.lang
        |       GROUP BY 1, 2)
        |SELECT doc_id, lang, n_bigrams,
        |       floor((lp9 / 1e9 / n_bigrams)*10000+0.5)/10000 AS avg_logprob
        |FROM sc
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val bt = withWords(Tables.load(s, d, "documents"))
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(0, size(words) - 2), i -> concat_ws(' ', words[i], words[i+1]))"))
          .as("bigram"))
        .groupBy("doc_id", "lang", "bigram").agg(count(lit(1)).as("tf"))
        .withColumn("w1", split(col("bigram"), " ").getItem(0))
        .withColumn("w2", split(col("bigram"), " ").getItem(1))
      val bs = bt.groupBy("lang", "bigram").agg(sum("tf").as("cb"))
      val utf = withWords(Tables.load(s, d, "documents"))
        .select(col("lang"), explode(col("words")).as("word"))
        .groupBy("lang", "word").agg(count(lit(1)).as("cw"))
      val ls = utf.groupBy("lang").agg(sum("cw").as("n"), count(lit(1)).as("v"))
      val u1 = utf.select(col("lang"), col("word").as("w1"), col("cw").as("cw1"))
      val u2 = utf.select(col("lang"), col("word").as("w2"), col("cw").as("cw2"))
      bt.join(bs, Seq("lang", "bigram"))
        .join(u1, Seq("lang", "w1"))
        .join(u2, Seq("lang", "w2"))
        .join(broadcast(ls), "lang")
        .groupBy("doc_id", "lang")
        .agg(
          sum(col("tf") * floor(log(lit(0.75) * col("cb").cast("double") / col("cw1") +
              lit(0.25) * (col("cw2").cast("double") + 1) / (col("n") + col("v"))) *
            lit(1e9) + 0.5).cast("long")).as("lp9"),
          sum("tf").cast("long").as("n_bigrams"))
        .select(col("doc_id"), col("lang"), col("n_bigrams"),
          Q.r4(col("lp9") / lit(1e9) / col("n_bigrams")).as("avg_logprob"))
        .orderBy("doc_id")
    },

    // Character-level Shannon entropy per document (round 10) — the
    // encoding-junk / gibberish detector: binary blobs, mojibake and
    // key-mash text sit far from natural language's ~4 bits/char. The
    // Spark shape is ZERO-shuffle: sort the char array in-row, find
    // run starts with an index lambda, turn run lengths into the char
    // histogram, and fold -Σ p·ln(p) with aggregate() — one projection,
    // no explode, no groupBy; the corpus streams map-side at any scale.
    // The oracle is the naive unnest + two GROUP BYs — an independent
    // formulation validating the run-length algebra from first
    // principles. Empty-string guard: Spark's regex split keeps a
    // trailing '' that DuckDB's splitter never emits — filtered on the
    // Spark side only.
    Q("q_char_entropy",
      """WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
        |h AS (SELECT doc_id, ch, count(*) AS k FROM c GROUP BY 1, 2),
        |n AS (SELECT doc_id, sum(k) AS n FROM h GROUP BY 1)
        |SELECT h.doc_id AS doc_id, CAST(max(n.n) AS BIGINT) AS n_chars,
        |       floor((-sum((CAST(k AS DOUBLE)/n.n) * ln(CAST(k AS DOUBLE)/n.n)))*10000+0.5)/10000 AS char_entropy
        |FROM h JOIN n ON h.doc_id = n.doc_id
        |GROUP BY h.doc_id
        |ORDER BY h.doc_id""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        // an empty or NULL text yields zero unnested rows in the oracle
        // (no row for the doc at all) — mirror that HERE, on the raw
        // column where the predicate pushes to the scan; filtering on
        // the derived size(chars) instead re-evaluates the whole
        // split/sort chain in the filter operator (~10× the query)
        .filter(col("text").isNotNull && length(col("text")) > 0)
        .select(col("doc_id"),
          expr("array_sort(filter(split(text, ''), c -> c <> ''))").as("chars"))
        .withColumn("n", size(col("chars")))
        .withColumn("starts", expr(
          "filter(sequence(0, n - 1), i -> i = 0 OR chars[i] <> get(chars, i - 1))"))
        .withColumn("char_entropy", Q.r4(expr(
          """-aggregate(
            |  transform(starts, (st, j) -> coalesce(get(starts, j + 1), n) - st),
            |  CAST(0 AS DOUBLE),
            |  (acc, k) -> acc + (CAST(k AS DOUBLE) / n) * ln(CAST(k AS DOUBLE) / n))""".stripMargin)))
        .select(col("doc_id"), col("n").cast("long").as("n_chars"), col("char_entropy"))
        .orderBy("doc_id")
    },

    // MinHash estimator calibration grid (round 12): for every LSH
    // candidate pair, the signature-agreement estimate (matching
    // min-hashes of 8) against the EXACT Jaccard decile — the
    // operating-characteristic readout that says whether 8 hashes are
    // enough before anyone trusts q_minhash_lsh's candidates at a new
    // threshold (the calibration companion to q_lsh_tuning's banding
    // P/R sweep). Pure integer grid: est_matches ∈ 0..8 in-row from
    // the shared minhashSigs frame; the EXACT intersection comes from
    // an in-row array_intersect of the two candidates' full shingle
    // sets — probe-bounded (|cands| pairs, each O(doc shingles)), so
    // the truth side NEVER runs the quadratic uncapped pair join
    // (CorpusScaleSpec's hazard). Band-key collisions without any
    // shared shingle keep inter = 0 (decile 0) identically in both
    // engines via the oracle's left join. ≤90 output cells, exact.
    Q("q_minhash_est_err",
      "WITH " + LshPairCtes + s""",
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |ps AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |       FROM sh a JOIN sh b ON a.lang = b.lang AND a.shingle = b.shingle
        |                          AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |est AS (SELECT c.d1, c.d2,
        |               (CASE WHEN m1.mh0 = m2.mh0 THEN 1 ELSE 0 END +
        |                CASE WHEN m1.mh1 = m2.mh1 THEN 1 ELSE 0 END +
        |                CASE WHEN m1.mh2 = m2.mh2 THEN 1 ELSE 0 END +
        |                CASE WHEN m1.mh3 = m2.mh3 THEN 1 ELSE 0 END +
        |                CASE WHEN m1.mh4 = m2.mh4 THEN 1 ELSE 0 END +
        |                CASE WHEN m1.mh5 = m2.mh5 THEN 1 ELSE 0 END +
        |                CASE WHEN m1.mh6 = m2.mh6 THEN 1 ELSE 0 END +
        |                CASE WHEN m1.mh7 = m2.mh7 THEN 1 ELSE 0 END) AS est8
        |        FROM cands c
        |        JOIN mh m1 ON m1.doc_id = c.d1
        |        JOIN mh m2 ON m2.doc_id = c.d2)
        |SELECT CAST(est.est8 AS BIGINT) AS est_matches,
        |       least(CAST(floor(COALESCE(ps.inter, 0) * 10.0 / (c1.n + c2.n - COALESCE(ps.inter, 0))) AS BIGINT), 9) AS jac_decile,
        |       count(*) AS n_pairs
        |FROM est
        |LEFT JOIN ps ON ps.d1 = est.d1 AND ps.d2 = est.d2
        |JOIN cnt c1 ON c1.doc_id = est.d1
        |JOIN cnt c2 ON c2.doc_id = est.d2
        |GROUP BY 1, 2
        |ORDER BY est_matches, jac_decile""".stripMargin) { (s, d) =>
      val sigs = minhashSigs(s, d)
      def side(k: String) = sigs.select(
        col("doc_id").as(k) +: (0 until 8).map(i => col(s"mh$i").as(s"${k}_mh$i")): _*)
      val est8 = (0 until 8).map(i =>
        when(col(s"d1_mh$i") === col(s"d2_mh$i"), 1).otherwise(0))
        .reduce(_ + _)
      val sets = shingles(s, d).groupBy("doc_id")
        .agg(collect_set(col("shingle")).as("ss"), count(lit(1)).as("n"))
      val inter = size(array_intersect(col("s1"), col("s2"))).cast("long")
      lshCandidatePairs(s, d)
        .join(side("d1"), "d1").join(side("d2"), "d2")
        .select(col("d1"), col("d2"), est8.as("est8"))
        .join(sets.select(col("doc_id").as("d1"), col("ss").as("s1"), col("n").as("n1")), "d1")
        .join(sets.select(col("doc_id").as("d2"), col("ss").as("s2"), col("n").as("n2")), "d2")
        .select(col("est8").cast("long").as("est_matches"),
          least(floor(inter * 10.0 / (col("n1") + col("n2") - inter))
            .cast("long"), lit(9L)).as("jac_decile"))
        .groupBy("est_matches", "jac_decile").agg(count(lit(1)).as("n_pairs"))
        .orderBy("est_matches", "jac_decile")
    },

    // Near-dup cluster size histogram (round 12): how much of the
    // corpus sits in duplicate clusters of each size — the one-page
    // answer to "is duplication a few huge boilerplate families or a
    // long tail of pairs" that decides which dedup strategy pays
    // (keeper-per-cluster vs pairwise drops). Rides q_dup_clusters'
    // connected components over the LSH candidate graph; documents in
    // NO candidate pair enter as size-1 clusters via an exact count
    // difference (never a join back to the corpus). Pure int64.
    Q("q_dup_cluster_sizes",
      "WITH RECURSIVE " + LshPairCtes + """,
        |edges AS (SELECT d1 AS src, d2 AS dst FROM cands
        |          UNION ALL
        |          SELECT d2, d1 FROM cands),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (SELECT id, id AS lbl FROM nodes
        |          UNION
        |          SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY 1),
        |sz AS (SELECT lbl, count(*) AS cluster_size FROM comp GROUP BY 1),
        |hist AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |         FROM sz GROUP BY 1
        |         UNION ALL
        |         SELECT 1 AS cluster_size,
        |                (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp) AS n_clusters)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |       CAST(sum(n_clusters) AS BIGINT) AS n_clusters,
        |       CAST(cluster_size * sum(n_clusters) AS BIGINT) AS n_docs
        |FROM hist
        |GROUP BY cluster_size
        |HAVING sum(n_clusters) > 0
        |ORDER BY cluster_size""".stripMargin) { (s, d) =>
      val comp = connectedComponents(lshCandidatePairs(s, d))
      val hist = comp.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      val singles = Tables.load(s, d, "documents").agg(count(lit(1)).as("nd"))
        .crossJoin(comp.agg(count(lit(1)).as("nc")))
        .select(lit(1L).as("cluster_size"), (col("nd") - col("nc")).as("n_clusters"))
      hist.unionAll(singles)
        .groupBy("cluster_size").agg(sum("n_clusters").as("n_clusters"))
        .filter(col("n_clusters") > 0)
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
        .orderBy("cluster_size")
    }
  )
}
