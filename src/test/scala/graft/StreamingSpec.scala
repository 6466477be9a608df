package graft

import java.sql.Timestamp

import graft.streaming.{Ev, Streams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental semantics of the §2.9 streaming transforms, driven by
  * MemoryStream batch-by-batch (the batch twins in ops.TimeWindows carry
  * the DuckDB oracle for the same logic). */
class StreamingSpec extends SparkSpec {

  /** Test clock: minutes after an arbitrary base well past epoch 0
    * (rows AT the initial watermark value of 0 are edge-dropped). */
  private val baseSec = 1000L * 600L
  private def ts(min: Int): Timestamp = new Timestamp((baseSec + min * 60L) * 1000L)

  private def ev(id: Long, min: Int, user: Long = 1L,
                 typ: String = "click", v: Double = 1.0): Ev =
    Ev(id, ts(min), user, typ, v)

  private def withQuery[T](q: StreamingQuery)(body: => T): T =
    try body finally q.stop()

  test("tumbling windows aggregate per 10-minute bucket") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streams.tumbling(in.toDF())
      .writeStream.format("memory").queryName("t_tumble").outputMode("complete").start()
    withQuery(q) {
      in.addData(ev(1, 0), ev(2, 5), ev(3, 12, typ = "view"))
      q.processAllAvailable()
      val rows = spark.table("t_tumble")
        .selectExpr("unix_timestamp(window.start) AS s", "event_type", "n")
        .as[(Long, String, Long)].collect().toSet
      assert(rows === Set((baseSec, "click", 2L), (baseSec + 600L, "view", 1L)))
    }
  }

  test("watermark drops late rows in append mode") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streams.tumbling(in.toDF())
      .writeStream.format("memory").queryName("t_wm").outputMode("append").start()
    withQuery(q) {
      in.addData(ev(1, 0), ev(2, 5)) // window [0,10)
      q.processAllAvailable()
      in.addData(ev(3, 25)) // advances watermark to 15 after this batch
      q.processAllAvailable()
      in.addData(ev(4, 45)) // batch runs with wm=15 → finalizes [0,10)
      q.processAllAvailable()
      in.addData(ev(5, 2)) // LATE: event time 2 < watermark → dropped
      q.processAllAvailable()
      in.addData(ev(6, 90)) // flush: finalize remaining windows
      q.processAllAvailable()
      val rows = spark.table("t_wm")
        .selectExpr("unix_timestamp(window.start) AS s", "n")
        .as[(Long, Long)].collect().toMap
      assert(rows(baseSec) === 2L, "late row must not be added to the closed [0,10) window")
      assert(rows(baseSec + 1200L) === 1L) // the ev(3, 25) window [20,30)
    }
  }

  test("dropDuplicatesWithinWatermark emits a replayed event_id once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streams.dedupWithinWatermark(in.toDF())
      .writeStream.format("memory").queryName("t_dedup").outputMode("append").start()
    withQuery(q) {
      in.addData(ev(1, 0), ev(2, 1))
      q.processAllAvailable()
      in.addData(ev(1, 0), ev(3, 2)) // event_id 1 replayed (at-least-once source)
      q.processAllAvailable()
      val ids = spark.table("t_dedup").select("event_id").as[Long].collect().toList
      assert(ids.sorted === List(1L, 2L, 3L))
    }
  }

  test("flatMapGroupsWithState keeps running per-user totals across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streams.userTotals(in.toDS())
      .writeStream.format("memory").queryName("t_state").outputMode("update").start()
    withQuery(q) {
      in.addData(ev(1, 0, user = 7, v = 1.5), ev(2, 1, user = 7, v = 2.5))
      q.processAllAvailable()
      in.addData(ev(3, 2, user = 7, v = 4.0), ev(4, 2, user = 8, v = 1.0))
      q.processAllAvailable()
      // update-mode memory sink appends every state update; the latest
      // row per user is the current state
      val rows = spark.table("t_state").as[graft.streaming.UserTotals]
        .collect().groupBy(_.user_id).map { case (u, rs) => u -> rs.maxBy(_.n_events) }
      assert(rows(7L).n_events === 3L)
      assert(rows(7L).sum_value === 8.0)
      assert(rows(8L).n_events === 1L)
    }
  }

  test("s_new_returning markers re-aggregate to the batch q_new_returning split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streams.newReturning(in.toDS())
      .writeStream.format("memory").queryName("t_newret").outputMode("update").start()
    // three event-time-ordered batches — day 0 (users 1, 2), day 1
    // (returning 1, new 3 — plus a repeat of user 1 the dedup guard
    // must not re-emit), day 2 (returning 2 and 3) — then an
    // OUT-OF-ORDER batch: user 2's day-1 activity arrives after its
    // day 2 was already seen. The 64-day emitted-mask must still emit
    // that late day's marker (is_new = false), not swallow it.
    def d(day: Int, min: Int) = day * 1440 + min
    val b1 = Seq(ev(1, d(0, 10), user = 1), ev(2, d(0, 20), user = 2))
    val b2 = Seq(ev(3, d(1, 5), user = 1), ev(4, d(1, 6), user = 1),
      ev(5, d(1, 30), user = 3))
    val b3 = Seq(ev(6, d(2, 0), user = 2), ev(7, d(2, 1), user = 3))
    val b4 = Seq(ev(8, d(1, 40), user = 2))
    withQuery(q) {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(b3: _*); q.processAllAvailable()
      in.addData(b4: _*); q.processAllAvailable()
      val markers = spark.table("t_newret").as[graft.streaming.DayMarker].collect()
      // one marker per (user, day), exactly one new-flag per user
      assert(markers.map(m => (m.user_id, m.epoch_day)).distinct.length === markers.length)
      assert(markers.count(_.is_new) === 3)
      assert(markers.exists(m => m.user_id == 2L && !m.is_new &&
        markers.count(x => x.user_id == 2L) == 3),
        "the late-arriving day must still produce its activity marker")
      val got = markers.groupBy(_.epoch_day).map { case (day, ms) =>
        day -> (ms.length.toLong, ms.count(_.is_new).toLong)
      }
      // the batch twin over the same rows
      val dir = tempDir("newret_twin")
      (b1 ++ b2 ++ b3 ++ b4).toDS()
        .selectExpr("event_id", "ts", "user_id", "event_type", "value",
          "'{}' AS props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = SparkEntry.queries("q_new_returning")(spark, dir).collect()
        .map { r =>
          val day = java.time.LocalDate.parse(r.getAs[String]("day")).toEpochDay
          day -> (r.getAs[Long]("active_users"), r.getAs[Long]("new_users"))
        }.toMap
      assert(got === batch,
        s"streaming markers $got diverge from the batch split $batch")
    }
  }

  test("s_countmin's streamed grid equals the batch CMS and reproduces its estimates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, col, count, explode, lit, split}
    val texts = Tables.load(spark, sfDir, "documents")
      .select("text").as[String].collect()
    val chunks = texts.grouped(texts.length / 3 + 1).toSeq
    val in = MemoryStream[String]
    val q = Streams.countminGrid(in.toDS().toDF("text"))
      .writeStream.format("memory").queryName("t_cms").outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      val grid = spark.table("t_cms").collect()
        .map(r => (r.getAs[Long]("d"), r.getAs[Long]("cell")) -> r.getAs[Long]("cs")).toMap
      // the batch grid over the same documents — mergeable counters must
      // land identically whatever the arrival slicing
      val batchGrid = Tables.load(spark, sfDir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .select(explode(array(ops.Lexicon.cmsDepthStructs: _*)).as("dc"))
        .groupBy(col("dc.d").as("d"), col("dc.cell").as("cell"))
        .agg(count(lit(1)).as("cs"))
        .collect()
        .map(r => (r.getAs[Long]("d"), r.getAs[Long]("cell")) -> r.getAs[Long]("cs")).toMap
      assert(grid === batchGrid, "streamed CMS grid diverges from the batch grid")
      // read-time estimation: min over an INDEPENDENT Scala replication
      // of the row hash — validates the mapping, not just the plumbing —
      // must reproduce batch q_countmin_err's estimates exactly
      def cell(dd: Int, tok: String): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"$dd:$tok".getBytes("UTF-8"))
          .take(2).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex, 16) % 256
      }
      val est = SparkEntry.queries("q_countmin_err")(spark, sfDir).collect()
      assert(est.length === 20)
      est.foreach { r =>
        val tok = r.getAs[String]("token")
        val streamed = (0 until 4).map(dd => grid((dd.toLong, cell(dd, tok)))).min
        assert(streamed === r.getAs[Long]("est_cnt"),
          s"read-time estimate for '$tok' diverges from the batch audit")
      }
    }
  }

  test("s_cohens_kappa's streamed cell grid reproduces the batch agreement exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Tables.load(spark, sfDir, "documents")
      .select("text", "lang").as[(String, String)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(String, String)]
    val q = Streams.kappaCells(in.toDS().toDF("text", "lang"))
      .writeStream.format("memory").queryName("t_kappa").outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      // κ divides out at read time through the SAME Diagnostics.kappaOf
      // fold the batch op routes through — one home, twins cannot drift
      val streamed = ops.Diagnostics.kappaOf(spark.table("t_kappa")).head()
      val batch = SparkEntry.queries("q_cohens_kappa")(spark, sfDir).head()
      for (f <- Seq("n_docs", "n_agree"))
        assert(streamed.getAs[Long](f) === batch.getAs[Long](f), f)
      for (f <- Seq("po", "pe", "kappa"))
        assert(streamed.getAs[Double](f) === batch.getAs[Double](f), f)
    }
  }

  test("s_rank_grid's one streamed grid reproduces KW, Dunn, and JT batch screens") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value")).as[(String, Double)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(String, Double)]
    val q = Streams.rankGrid(in.toDF().toDF("event_type", "value"))
      .writeStream.format("memory").queryName("t_rank").outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      // snapshot the sink view once: the folds self-join the grid, and
      // a MemorySink View resolves conflicting references badly
      val grid = Q.snapshot(spark.table("t_rank"))
      // state-size pin (r17, verdict #5): the materialized state is
      // exactly one row per occupied (type, cent) cell — bounded by
      // |types| × |cents-domain|, never by corpus size. SURVEY §2.9's
      // boundedness argument for all 8 rankGrid faces, asserted.
      val ev = Tables.events(spark, sfDir)
      val occupied = ev.select(col("event_type"),
        org.apache.spark.sql.functions.floor(col("value") * 100 + 0.5).cast("long"))
        .distinct().count()
      val nTypes = ev.select("event_type").distinct().count()
      val centsDom = ev.select(
        org.apache.spark.sql.functions.floor(col("value") * 100 + 0.5).cast("long"))
        .distinct().count()
      assert(grid.count() === occupied,
        "rankGrid state must hold exactly one row per occupied (type, cent) cell")
      assert(grid.count() <= nTypes * centsDom,
        s"rankGrid state exceeded its |types|×|cents| bound ($nTypes × $centsDom)")
      // all three screens divide out of the SAME grid at read time,
      // through the SAME folds the batch queries route through
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(rows1(ops.Statistics.kruskalWallisOf(grid)) ===
        rows1(SparkEntry.queries("q_kruskal_wallis")(spark, sfDir)), "KW")
      assert(rows1(ops.Statistics.dunnOf(grid)) ===
        rows1(SparkEntry.queries("q_dunn")(spark, sfDir)), "Dunn")
      assert(rows1(ops.Statistics.jonckheereOf(grid)) ===
        rows1(SparkEntry.queries("q_jonckheere")(spark, sfDir)), "JT")
      assert(rows1(ops.Ranking.isotonicOf(grid)) ===
        rows1(SparkEntry.queries("q_isotonic")(spark, sfDir)), "isotonic")
      assert(rows1(Streams.kmeans1dOf(grid)) ===
        rows1(SparkEntry.queries("q_kmeans_1d")(spark, sfDir)), "kmeans")
      assert(rows1(Streams.gmmEmOf(grid)) ===
        rows1(SparkEntry.queries("q_gmm_em")(spark, sfDir)), "GMM EM")
      assert(rows1(ops.Mixture.logisticOf(grid)) ===
        rows1(SparkEntry.queries("q_logistic_1d")(spark, sfDir)), "logistic")
      assert(rows1(Streams.huberOf(grid)) ===
        rows1(SparkEntry.queries("q_huber")(spark, sfDir)), "Huber")
    }
  }

  test("the four screening monitors replay the corpus to their exact batch statistics") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"),
        col("event_type"), col("value"))
      .as[Ev].collect().sortBy(_.ts.getTime)
    val anchorDay = java.time.LocalDate.parse(graft.ops.Inference.Anchor).toEpochDay
    val maxDay = rows.map(e => Math.floorDiv(e.ts.getTime, 86400000L) - anchorDay).max
    // one sentinel per type at maxDay+1 closes every real day
    val sentinels = rows.map(_.event_type).distinct.zipWithIndex.map { case (t, i) =>
      Ev(900000L + i, new java.sql.Timestamp((anchorDay + maxDay + 1) * 86400000L),
        1L, t, 1.0)
    }
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val inR = MemoryStream[Ev]; val inT = MemoryStream[Ev]
    val inP = MemoryStream[Ev]; val inG = MemoryStream[Ev]
    val qR = Streams.runsTest(inR.toDS())
      .writeStream.format("memory").queryName("t_runs").outputMode("update").start()
    val qT = Streams.turningPoints(inT.toDS())
      .writeStream.format("memory").queryName("t_turn").outputMode("update").start()
    val qP = Streams.poissonDispersion(inP.toDS())
      .writeStream.format("memory").queryName("t_pois").outputMode("update").start()
    val qG = Streams.grubbs(inG.toDS())
      .writeStream.format("memory").queryName("t_grubbs").outputMode("update").start()
    try {
      for (b <- Seq(b1.toSeq, b2.toSeq, sentinels.toSeq)) {
        inR.addData(b: _*); inT.addData(b: _*); inP.addData(b: _*); inG.addData(b: _*)
        qR.processAllAvailable(); qT.processAllAvailable()
        qP.processAllAvailable(); qG.processAllAvailable()
      }
      def opt(r: org.apache.spark.sql.Row, f: String): Option[Double] =
        Option(r.get(r.fieldIndex(f))).map(_.asInstanceOf[Double])
      def lastBy[M](ms: Array[M], typ: M => String, day: M => Long): Map[String, M] =
        ms.groupBy(typ).map { case (t, xs) => t -> xs.maxBy(day) }
      // runs
      val rB = SparkEntry.queries("q_runs_test")(spark, sfDir).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n_up"), r.getAs[Long]("n_down"), r.getAs[Long]("n_runs"),
            opt(r, "z")))).toMap
      val rS = lastBy[graft.streaming.RunsMark](
        spark.table("t_runs").as[graft.streaming.RunsMark].collect(),
        _.event_type, _.day_closed)
        .map { case (t, m) => t -> ((m.n_up, m.n_down, m.n_runs, m.z)) }
      assert(rS === rB, s"runs monitor $rS diverges from batch $rB")
      // turning points
      val tB = SparkEntry.queries("q_turning_points")(spark, sfDir).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n_days"), r.getAs[Long]("n_turning"),
            r.getAs[Double]("expected"), opt(r, "z")))).toMap
      val tS = lastBy[graft.streaming.TurnMark](
        spark.table("t_turn").as[graft.streaming.TurnMark].collect(),
        _.event_type, _.day_closed)
        .map { case (t, m) => t -> ((m.n_days, m.n_turning, m.expected, m.z)) }
      assert(tS === tB, s"turning monitor $tS diverges from batch $tB")
      // Poisson dispersion
      val pB = SparkEntry.queries("q_poisson_dispersion")(spark, sfDir).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n_days"), r.getAs[Double]("mean"),
            opt(r, "dispersion"), opt(r, "chi2")))).toMap
      val pS = lastBy[graft.streaming.PoisMark](
        spark.table("t_pois").as[graft.streaming.PoisMark].collect(),
        _.event_type, _.day_closed)
        .map { case (t, m) => t -> ((m.n_days, m.mean, m.dispersion, m.chi2)) }
      assert(pS === pB, s"dispersion monitor $pS diverges from batch $pB")
      // Grubbs
      val gB = SparkEntry.queries("q_grubbs")(spark, sfDir).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n_days"), r.getAs[Long]("outlier_day"),
            r.getAs[Long]("outlier_count"), opt(r, "g")))).toMap
      val gS = lastBy[graft.streaming.GrubbsMark](
        spark.table("t_grubbs").as[graft.streaming.GrubbsMark].collect(),
        _.event_type, _.day_closed)
        .map { case (t, m) => t -> ((m.n_days, m.outlier_day, m.outlier_count, m.g)) }
      assert(gS === gB, s"grubbs monitor $gS diverges from batch $gB")
    } finally { qR.stop(); qT.stop(); qP.stop(); qG.stop() }
  }

  test("s_daily_grid's one streamed grid reproduces every batch screen it serves") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"))
      .as[(java.sql.Timestamp, String)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val q = Streams.dailyGrid(in.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("t_daily").outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      // snapshot once: both folds branch the grid (grand-median cross
      // join; the dense-grid self joins) and a MemorySink View
      // resolves conflicting references badly
      val grid = Q.snapshot(spark.table("t_daily"))
      // state-size pin (r17, verdict #5): one row per occupied
      // (type, day) cell, bounded by |types| × |days| — the documented
      // boundedness argument for all 26 dailyGrid faces, asserted.
      val ev = Tables.events(spark, sfDir)
      val occupied = ev.select(col("event_type"),
        graft.ops.Inference.dayIndexCol).distinct().count()
      val nTypes = ev.select("event_type").distinct().count()
      val nDays = ev.select(graft.ops.Inference.dayIndexCol).distinct().count()
      assert(grid.count() === occupied,
        "dailyGrid state must hold exactly one row per occupied (type, day) cell")
      assert(grid.count() <= nTypes * nDays,
        s"dailyGrid state exceeded its |types|×|days| bound ($nTypes × $nDays)")
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(rows1(ops.SeriesTests.moodsMedianOf(grid)) ===
        rows1(SparkEntry.queries("q_moods_median")(spark, sfDir)), "Mood's median")
      assert(rows1(ops.SeriesTests.friedmanOf(grid)) ===
        rows1(SparkEntry.queries("q_friedman")(spark, sfDir)), "Friedman")
      assert(rows1(ops.SeriesTests.nemenyiOf(grid)) ===
        rows1(SparkEntry.queries("q_nemenyi")(spark, sfDir)), "Nemenyi")
      assert(rows1(ops.SeriesTests.wilcoxonOf(grid)) ===
        rows1(SparkEntry.queries("q_wilcoxon_signed")(spark, sfDir)), "Wilcoxon")
      assert(rows1(ops.SeriesTests.periodogramOf(grid)) ===
        rows1(SparkEntry.queries("q_periodogram")(spark, sfDir)), "Periodogram")
      assert(rows1(ops.Timeseries.cusumOf(grid)) ===
        rows1(SparkEntry.queries("q_cusum")(spark, sfDir)), "CUSUM")
      assert(rows1(ops.Timeseries.ewmaOf(grid)) ===
        rows1(SparkEntry.queries("q_ewma")(spark, sfDir)), "EWMA")
      assert(rows1(ops.Timeseries.acfOf(grid)) ===
        rows1(SparkEntry.queries("q_acf")(spark, sfDir)), "ACF")
      assert(rows1(ops.SeriesTests.pairedTOf(grid)) ===
        rows1(SparkEntry.queries("q_paired_t")(spark, sfDir)), "paired t")
      assert(rows1(ops.Statistics.trendFitOf(grid)) ===
        rows1(SparkEntry.queries("q_trend_fit")(spark, sfDir)), "trend fit")
      assert(rows1(ops.Inference.ar1Of(grid)) ===
        rows1(SparkEntry.queries("q_ar1")(spark, sfDir)), "AR(1)")
      assert(rows1(ops.Inference.changepointOf(grid)) ===
        rows1(SparkEntry.queries("q_changepoint")(spark, sfDir)), "changepoint")
      assert(rows1(ops.Timeseries.decomposeOf(grid)) ===
        rows1(SparkEntry.queries("q_decompose")(spark, sfDir)), "decompose")
      assert(rows1(ops.Timeseries.seasonalStrengthOf(grid)) ===
        rows1(SparkEntry.queries("q_seasonal_strength")(spark, sfDir)), "strength")
      assert(rows1(ops.Timeseries.seasonalAnomalyOf(grid)) ===
        rows1(SparkEntry.queries("q_seasonal_anomaly")(spark, sfDir)), "seasonal anomaly")
      assert(rows1(ops.Inference.sprtOf(grid)) ===
        rows1(SparkEntry.queries("q_sprt")(spark, sfDir)), "SPRT")
      assert(rows1(ops.Inference.matrixProfileOf(grid)) ===
        rows1(SparkEntry.queries("q_matrix_profile")(spark, sfDir)), "matrix profile")
      assert(rows1(ops.SeriesTests.kendallWOf(grid)) ===
        rows1(SparkEntry.queries("q_kendall_w")(spark, sfDir)), "Kendall W")
      assert(rows1(ops.Inference.burstDetectOf(grid)) ===
        rows1(SparkEntry.queries("q_burst_detect")(spark, sfDir)), "burst filter")
      assert(rows1(ops.SeriesTests.quadeOf(grid)) ===
        rows1(SparkEntry.queries("q_quade")(spark, sfDir)), "Quade")
      assert(rows1(ops.SeriesTests.yuleWalkerOf(grid)) ===
        rows1(SparkEntry.queries("q_yule_walker")(spark, sfDir)), "Yule-Walker")
      assert(rows1(ops.SeriesTests.spectralEntropyOf(grid)) ===
        rows1(SparkEntry.queries("q_spectral_entropy")(spark, sfDir)), "spectral entropy")
      assert(rows1(ops.SeriesTests.cronbachOf(grid)) ===
        rows1(SparkEntry.queries("q_cronbach_alpha")(spark, sfDir)), "Cronbach alpha")
      assert(rows1(ops.SeriesTests.iccOf(grid)) ===
        rows1(SparkEntry.queries("q_icc")(spark, sfDir)), "ICC")
      assert(rows1(ops.SeriesTests.permEntropyOf(grid)) ===
        rows1(SparkEntry.queries("q_perm_entropy")(spark, sfDir)), "permutation entropy")
      assert(rows1(ops.SeriesTests.sampenOf(grid)) ===
        rows1(SparkEntry.queries("q_sampen")(spark, sfDir)), "sample entropy")
      assert(rows1(ops.SeriesTests.thetaForecastOf(grid)) ===
        rows1(SparkEntry.queries("q_theta_forecast")(spark, sfDir)), "theta forecast")
      assert(rows1(ops.SeriesTests.backtestNaiveOf(grid)) ===
        rows1(SparkEntry.queries("q_backtest_naive")(spark, sfDir)), "backtest")
      assert(rows1(ops.SeriesTests.macdOf(grid)) ===
        rows1(SparkEntry.queries("q_macd")(spark, sfDir)), "MACD")
      assert(rows1(ops.SeriesTests.sigmaClipOf(grid)) ===
        rows1(SparkEntry.queries("q_sigma_clip")(spark, sfDir)), "sigma clip")
      assert(rows1(ops.SeriesTests.dtwOf(grid)) ===
        rows1(SparkEntry.queries("q_dtw")(spark, sfDir)), "banded DTW")
      assert(rows1(ops.SeriesTests.haarEnergyOf(grid)) ===
        rows1(SparkEntry.queries("q_haar_energy")(spark, sfDir)), "Haar energy")
      assert(rows1(ops.SeriesTests.loessTrendOf(grid)) ===
        rows1(SparkEntry.queries("q_loess_trend")(spark, sfDir)), "LOESS")
      assert(rows1(ops.SeriesTests.forecastIntervalOf(grid)) ===
        rows1(SparkEntry.queries("q_forecast_interval")(spark, sfDir)), "forecast PI")
      assert(rows1(ops.SeriesTests.coxStuartOf(grid)) ===
        rows1(SparkEntry.queries("q_cox_stuart")(spark, sfDir)), "Cox-Stuart")
      assert(rows1(ops.SeriesTests.bartelsOf(grid)) ===
        rows1(SparkEntry.queries("q_bartels_rank")(spark, sfDir)), "Bartels RVN")
      assert(rows1(ops.SeriesTests.pinballOf(grid)) ===
        rows1(SparkEntry.queries("q_pinball")(spark, sfDir)), "pinball")
    }
  }

  test("s_ks_cells' one streamed grid reproduces the KS and Cramér-von Mises batch screens") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value")).as[(String, Double)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(String, Double)]
    val q = Streams.ksCells(in.toDF().toDF("event_type", "value"))
      .writeStream.format("memory").queryName("t_kscells").outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      val grid = Q.snapshot(spark.table("t_kscells"))
      // state-size pin (r17, verdict #5): one row per occupied cent of
      // the purchase∪click value domain — bounded by |cents-domain|,
      // never by corpus size; the 16 ksCells faces' boundedness
      // argument, asserted.
      val occupied = Tables.events(spark, sfDir)
        .filter(col("event_type").isin("purchase", "click"))
        .select(org.apache.spark.sql.functions.floor(col("value") * 100 + 0.5)
          .cast("long"))
        .distinct().count()
      assert(grid.count() === occupied,
        "ksCells state must hold exactly one row per occupied cent cell")
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(rows1(ops.Statistics.ksOf(grid)) ===
        rows1(SparkEntry.queries("q_ks_test")(spark, sfDir)), "KS")
      assert(rows1(ops.Statistics.cvmOf(grid)) ===
        rows1(SparkEntry.queries("q_cramer_von_mises")(spark, sfDir)), "CvM")
      assert(rows1(ops.Statistics.w1Of(grid)) ===
        rows1(SparkEntry.queries("q_wasserstein_1d")(spark, sfDir)), "W1")
      assert(rows1(ops.Statistics.adOf(grid)) ===
        rows1(SparkEntry.queries("q_anderson_darling")(spark, sfDir)), "AD")
      assert(rows1(ops.Statistics.cliffsOf(grid)) ===
        rows1(SparkEntry.queries("q_cliffs_delta")(spark, sfDir)), "Cliffs")
      assert(rows1(ops.Statistics.hellingerOf(grid)) ===
        rows1(SparkEntry.queries("q_hellinger")(spark, sfDir)), "Hellinger")
      assert(rows1(ops.Statistics.energyOf(grid)) ===
        rows1(SparkEntry.queries("q_energy_dist")(spark, sfDir)), "Energy")
      assert(rows1(ops.Statistics.mwOf(grid)) ===
        rows1(SparkEntry.queries("q_mann_whitney")(spark, sfDir)), "Mann-Whitney")
      assert(rows1(ops.Statistics.powerOf(grid)) ===
        rows1(SparkEntry.queries("q_power_analysis")(spark, sfDir)), "power")
      assert(rows1(ops.Statistics.aucOf(grid)) ===
        rows1(SparkEntry.queries("q_auc_roc")(spark, sfDir)), "AUC")
      assert(rows1(ops.Statistics.prAucOf(grid)) ===
        rows1(SparkEntry.queries("q_pr_auc")(spark, sfDir)), "PR-AUC")
      assert(rows1(ops.Statistics.brierOf(grid)) ===
        rows1(SparkEntry.queries("q_brier")(spark, sfDir)), "Brier")
      assert(rows1(ops.Statistics.calibrationOf(grid)) ===
        rows1(SparkEntry.queries("q_calibration")(spark, sfDir)), "calibration")
      assert(rows1(ops.Statistics.confusionOf(grid)) ===
        rows1(SparkEntry.queries("q_confusion_matrix")(spark, sfDir)), "confusion")
      assert(rows1(ops.Statistics.abOf(grid)) ===
        rows1(SparkEntry.queries("q_ansari_bradley")(spark, sfDir)), "Ansari-Bradley")
      assert(rows1(ops.Statistics.bmOf(grid)) ===
        rows1(SparkEntry.queries("q_brunner_munzel")(spark, sfDir)), "Brunner-Munzel")
    }
  }

  test("s_word_len_hist's streamed band grid reproduces the batch profile") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables.load(spark, sfDir, "documents")
      .select(col("lang"), col("text")).as[(String, String)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(String, String)]
    val q = Streams.wordLenGrid(in.toDF().toDF("lang", "text"))
      .writeStream.format("memory").queryName("t_wordlen")
      .outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      val grid = Q.snapshot(spark.table("t_wordlen"))
      // state-size pin: one row per occupied (lang, band) cell —
      // bounded by |langs| × 15, never by corpus size
      val occupied = Tables.load(spark, sfDir, "documents")
        .select(col("lang"),
          org.apache.spark.sql.functions.explode(
            org.apache.spark.sql.functions.split(col("text"), " ")).as("tok"))
        .select(col("lang"),
          org.apache.spark.sql.functions.least(
            org.apache.spark.sql.functions.length(col("tok")),
            org.apache.spark.sql.functions.lit(15)).as("wlen"))
        .distinct().count()
      assert(grid.count() === occupied,
        "wordLenGrid state must hold one row per occupied (lang, band) cell")
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(rows1(ops.Lexicon.wordLenOf(grid)) ===
        rows1(SparkEntry.queries("q_word_len_hist")(spark, sfDir)), "word-len profile")
    }
  }

  test("s_audio_features' streamed decoded-clip grid reproduces the batch audio profile") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, floor}
    val rows = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("v100"))
      .as[(Long, String, Long)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(Long, String, Long)]
    // the WAV synth + REAL RIFF parse ride the stream itself (map-only)
    val q = Streams.audioGrid(in.toDS())
      .writeStream.format("memory").queryName("t_audio")
      .outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      val grid = Q.snapshot(spark.table("t_audio"))
      // state-size pin: one row per event type — the clip payloads
      // never persist in state, only the mergeable integer folds
      val types = Tables.events(spark, sfDir)
        .select(col("event_type")).distinct().count()
      assert(grid.count() === types,
        "audioGrid state must hold exactly one row per event type")
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(rows1(ops.Multimodal.audioFeaturesOf(grid)) ===
        rows1(SparkEntry.queries("q_audio_features")(spark, sfDir)), "audio profile")
    }
  }

  test("s_audio_fingerprint's streamed collision grid reproduces the batch profile") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
        org.apache.spark.sql.functions.floor(col("value") * 100 + 0.5)
          .cast("long").as("v100"))
      .as[(Long, String, Long)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(Long, String, Long)]
    val q = Streams.audioFpGrid(in.toDS())
      .writeStream.format("memory").queryName("t_audiofp")
      .outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      val grid = Q.snapshot(spark.table("t_audiofp"))
      // state-size pin: cells = occupied (type, fingerprint) pairs —
      // synthesis-bounded, never clip-keyed
      val cells = graft.ops.Multimodal.audioClips(spark, sfDir)
        .select("event_type", "fp").distinct().count()
      assert(grid.count() === cells,
        "audioFpGrid state must hold one row per occupied (type, fp) cell")
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(rows1(ops.Multimodal.audioFingerprintOf(grid)) ===
        rows1(SparkEntry.queries("q_audio_fingerprint")(spark, sfDir)),
        "fingerprint profile")
    }
  }

  test("s_video_profile's streamed decoded-container grid reproduces the batch feed profile") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source")).as[(Long, String)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(Long, String)]
    // the GIF87a synth + REAL LZW decode ride the stream itself
    val q = Streams.videoGrid(in.toDS())
      .writeStream.format("memory").queryName("t_video")
      .outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      val grid = Q.snapshot(spark.table("t_video"))
      val sources = Tables.load(spark, sfDir, "documents")
        .select(col("source")).distinct().count()
      assert(grid.count() === sources,
        "videoGrid state must hold exactly one row per source")
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(rows1(ops.Multimodal.videoProfileOf(grid)) ===
        rows1(SparkEntry.queries("q_video_profile")(spark, sfDir)), "video profile")
    }
  }

  test("s_filter_cascade's streamed (hash, flags) grid reproduces the batch cascade attribution") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .as[(Long, String, String, Long)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(Long, String, String, Long)]
    val q = Streams.cascadeCells(in.toDF().toDF("doc_id", "text", "lang", "n_chars"))
      .writeStream.format("memory").queryName("t_cascade").outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      val grid = Q.snapshot(spark.table("t_cascade"))
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(rows1(ops.Curation.cascadeOf(grid)) ===
        rows1(SparkEntry.queries("q_filter_cascade")(spark, sfDir)))
    }
  }

  test("s_target_encode's stream-static brand moments reproduce the batch encoding") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_extendedprice")).as[(Long, Double)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val part = Tables.load(spark, sfDir, "part") // the STATIC side
    val in = MemoryStream[(Long, Double)]
    val q = Streams.teCells(in.toDF().toDF("l_partkey", "l_extendedprice"), part)
      .writeStream.format("memory").queryName("t_tecells").outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      val grid = Q.snapshot(spark.table("t_tecells"))
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(rows1(ops.Analytics.targetEncodeOf(grid)) ===
        rows1(SparkEntry.queries("q_target_encode")(spark, sfDir)))
    }
  }

  test("s_hits' streamed edge set reproduces the batch hub/authority ranking") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).as[(Long, Long)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(Long, Long)]
    val q = Streams.pairGrid(in.toDF().toDF("l_partkey", "l_suppkey"))
      .writeStream.format("memory").queryName("t_pairs").outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      val grid = Q.snapshot(spark.table("t_pairs"))
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(rows1(Streams.hitsOf(grid)) ===
        rows1(SparkEntry.queries("q_hits")(spark, sfDir)))
    }
  }

  test("s_compaction_plan's streamed shard-byte grid reproduces the batch next-fit plan") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .as[(Long, String, Long)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(Long, String, Long)]
    val q = Streams.shardBytes(in.toDF().toDF("doc_id", "source", "n_chars"))
      .writeStream.format("memory").queryName("t_shardbytes").outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      val grid = Q.snapshot(spark.table("t_shardbytes"))
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(rows1(ops.Curation.compactionOf(grid)) ===
        rows1(SparkEntry.queries("q_compaction_plan")(spark, sfDir)))
    }
  }

  test("s_type_cents' one streamed grid reproduces the trimmed-mean and Bowley batch screens") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value")).as[(String, Double)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(String, Double)]
    val q = Streams.typeCents(in.toDF().toDF("event_type", "value"))
      .writeStream.format("memory").queryName("t_typecents").outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      val grid = Q.snapshot(spark.table("t_typecents"))
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(rows1(ops.Analytics.trimmedMeanOf(grid)) ===
        rows1(SparkEntry.queries("q_trimmed_mean")(spark, sfDir)), "trimmed mean")
      assert(rows1(ops.Analytics.bowleyOf(grid)) ===
        rows1(SparkEntry.queries("q_quantile_skew")(spark, sfDir)), "Bowley")
    }
  }

  test("s_user_life's one streamed frame reproduces the three batch survival screens") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables.events(spark, sfDir)
      .select(col("ts").cast("timestamp"), col("user_id"))
      .as[(java.sql.Timestamp, Long)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val q = Streams.userLifeGrid(in.toDF().toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("t_ulife").outputMode("complete").start()
    withQuery(q) {
      // split mid-stream: a user's min/max must MERGE across batches —
      // and the censor horizon must re-price once the last chunk lands
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      val grid = Q.snapshot(spark.table("t_ulife"))
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(rows1(ops.Timeseries.kmOf(grid)) ===
        rows1(SparkEntry.queries("q_kaplan_meier")(spark, sfDir)), "Kaplan-Meier")
      assert(rows1(ops.Timeseries.naOf(grid)) ===
        rows1(SparkEntry.queries("q_nelson_aalen")(spark, sfDir)), "Nelson-Aalen")
      assert(rows1(ops.Timeseries.logRankOf(grid)) ===
        rows1(SparkEntry.queries("q_log_rank")(spark, sfDir)), "log-rank")
    }
  }

  test("s_gumbel_maxima's streamed hourly grid reproduces the batch extreme-value fit") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables.events(spark, sfDir)
      .select(col("ts").cast("timestamp"), col("event_type"))
      .as[(java.sql.Timestamp, String)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val q = Streams.hourlyGrid(in.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("t_hourly").outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      val grid = Q.snapshot(spark.table("t_hourly"))
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(rows1(ops.Timeseries.gumbelOf(grid)) ===
        rows1(SparkEntry.queries("q_gumbel_maxima")(spark, sfDir)),
        "read-time Gumbel fit over the incremental hourly grid must equal the batch op")
      assert(rows1(ops.Analytics.diurnalOf(grid)) ===
        rows1(SparkEntry.queries("q_diurnal")(spark, sfDir)),
        "read-time diurnal shares over the same hourly grid must equal the batch op")
    }
  }

  test("s_token_budget_trim's streamed quality grid reproduces the batch planning readout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Tables.load(spark, sfDir, "documents")
      .select("text", "lang").as[(String, String)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(String, String)]
    val q = Streams.trimGrid(in.toDF().toDF("text", "lang"))
      .writeStream.format("memory").queryName("t_trim").outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      val streamed = rows1(ops.Corpus.trimOf(Q.snapshot(spark.table("t_trim"))))
      val batch = rows1(SparkEntry.queries("q_token_budget_trim")(spark, sfDir))
      assert(streamed === batch,
        "read-time trim over the incremental quality grid must equal the batch plan")
    }
  }

  test("s_kpss and s_chow series-state folds replay their batch statistics exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val inK = MemoryStream[Ev]
    val qK = Streams.kpss(inK.toDS())
      .writeStream.format("memory").queryName("t_kpss").outputMode("update").start()
    val inC = MemoryStream[Ev]
    val qC = Streams.chow(inC.toDS())
      .writeStream.format("memory").queryName("t_chow").outputMode("update").start()
    // drift: 2+3d (non-stationary, slope break absent); kink: flat 10
    // then steep — Chow's F must fire while both halves stay exact-fit
    // free; 10 days each, split mid-day 6, straggler after day 8.
    val kink = Seq(10, 12, 11, 13, 12, 20, 25, 31, 35, 41)
    def d(day: Int, i: Int) = day * 1440 + i
    def dayEvs(day: Int, typ: String, n: Int, base: Long) =
      (0 until n).map(i => ev(base + i, d(day, i), user = 1, typ = typ))
    def nOf(typ: String, day: Int) = if (typ == "drift") 2 + 3 * day else kink(day)
    try {
      var id = 100L
      for (day <- 0 to 9) {
        val evs = dayEvs(day, "drift", nOf("drift", day), id) ++
          dayEvs(day, "kink", nOf("kink", day), id + 1000)
        id += 3000
        if (day == 6) {
          inK.addData(evs.take(9): _*); inC.addData(evs.take(9): _*)
          qK.processAllAvailable(); qC.processAllAvailable()
          inK.addData(evs.drop(9): _*); inC.addData(evs.drop(9): _*)
          qK.processAllAvailable(); qC.processAllAvailable()
        } else {
          inK.addData(evs: _*); inC.addData(evs: _*)
          qK.processAllAvailable(); qC.processAllAvailable()
        }
        if (day == 8) { // behind-horizon straggler
          inK.addData(ev(id, d(1, 50), user = 1, typ = "drift"))
          inC.addData(ev(id, d(1, 50), user = 1, typ = "drift")); id += 1
          qK.processAllAvailable(); qC.processAllAvailable()
        }
      }
      // sentinel closes day 9
      inK.addData(ev(id, d(10, 0), user = 1, typ = "drift"),
        ev(id + 1, d(10, 0), user = 1, typ = "kink"))
      inC.addData(ev(id + 2, d(10, 0), user = 1, typ = "drift"),
        ev(id + 3, d(10, 0), user = 1, typ = "kink"))
      qK.processAllAvailable(); qC.processAllAvailable()
      val dir = tempDir("kpss_chow_twin")
      val batchRows = (0 to 9).flatMap { day =>
        dayEvs(day, "drift", nOf("drift", day), 50000L + day * 100) ++
          dayEvs(day, "kink", nOf("kink", day), 80000L + day * 100)
      }
      batchRows.toDS()
        .selectExpr("event_id", "ts", "user_id", "event_type", "value",
          "'{}' AS props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      // KPSS: final emission equals the batch eta exactly
      val kMarks = spark.table("t_kpss").as[graft.streaming.KpssMark].collect()
      val kBatch = SparkEntry.queries("q_kpss")(spark, dir).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n_days"),
            Option(r.get(r.fieldIndex("eta"))).map(_.asInstanceOf[Double])))).toMap
      val kStreamed = kMarks.groupBy(_.event_type).map { case (t, ms) =>
        val last = ms.maxBy(_.n_days); t -> ((last.n_days, last.eta))
      }
      assert(kStreamed === kBatch,
        s"streaming KPSS profile $kStreamed diverges from batch $kBatch")
      assert(kBatch("drift")._2.get > 0.5 && kBatch("kink")._2.get > 0.5,
        "both planted non-stationary series must read high eta")
      // Chow: final emission equals the batch split/slopes/F exactly
      def opt(r: org.apache.spark.sql.Row, f: String): Option[Double] =
        Option(r.get(r.fieldIndex(f))).map(_.asInstanceOf[Double])
      val cMarks = spark.table("t_chow").as[graft.streaming.ChowMark].collect()
      val cBatch = SparkEntry.queries("q_chow")(spark, dir).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n_days"), r.getAs[Long]("n1"), r.getAs[Long]("n2"),
            r.getAs[Long]("split_day"), opt(r, "slope1"), opt(r, "slope2"),
            opt(r, "f_stat")))).toMap
      val cStreamed = cMarks.groupBy(_.event_type).map { case (t, ms) =>
        val last = ms.maxBy(_.n_days)
        t -> ((last.n_days, last.n1, last.n2, last.split_day, last.slope1,
          last.slope2, last.f_stat))
      }
      assert(cStreamed === cBatch,
        s"streaming Chow profile $cStreamed diverges from batch $cBatch")
      assert(cBatch("kink")._7.get > 10.0, "the planted slope break must fire")
    } finally { qK.stop(); qC.stop() }
  }

  test("s_shard_skew's streamed grid equals the batch per-shard layout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "n_chars").as[(Long, Long)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(Long, Long)]
    val q = Streams.shardSkewStream(in.toDS().toDF("doc_id", "n_chars"))
      .writeStream.format("memory").queryName("t_shard").outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      val streamed = spark.table("t_shard").collect()
        .map(r => r.getAs[Long]("shard") ->
          ((r.getAs[Long]("n_docs"), r.getAs[Long]("bytes")))).toMap
      val batch = SparkEntry.queries("q_shard_skew")(spark, sfDir).collect()
        .map(r => r.getAs[Long]("shard") ->
          ((r.getAs[Long]("n_docs"), r.getAs[Long]("bytes")))).toMap
      assert(streamed === batch, "streamed shard grid diverges from the batch layout")
    }
  }

  test("s_source_xent's streamed per-source sums reproduce the batch cross-entropy exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, explode, floor, lit, split, sum}
    // the STATIC train model, built exactly as the batch op builds it
    val tfAll = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "lang", "word").agg(count(lit(1)).as("tf"))
    val trainModel = tfAll.filter(ops.Corpus.splitCol === "train")
      .groupBy("lang", "word").agg(sum("tf").as("cw"))
    val langTotals = trainModel.groupBy("lang")
      .agg(sum("cw").as("n"), count(lit(1)).as("v"))
    // stream the whole corpus (source, lang, text) in three chunks
    val rows = Tables.load(spark, sfDir, "documents")
      .select("source", "lang", "text").as[(String, String, String)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(String, String, String)]
    val q = Streams.sourceXentStream(
        in.toDS().toDF("source", "lang", "text"), trainModel, langTotals)
      .writeStream.format("memory").queryName("t_xent").outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      val streamed = spark.table("t_xent").collect()
        .map(r => r.getAs[String]("source") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("oov_tokens"), r.getAs[Long]("lp9"))))
        .toMap
      val batch = SparkEntry.queries("q_source_xent")(spark, sfDir).collect()
      assert(batch.nonEmpty && streamed.keySet === batch.map(_.getAs[String]("source")).toSet)
      batch.foreach { b =>
        val (nt, oov, lp9) = streamed(b.getAs[String]("source"))
        assert(nt === b.getAs[Long]("n_tokens"))
        assert(oov === b.getAs[Long]("oov_tokens"))
        // the read-time projections over the exact int sums must equal
        // the batch op's r6 columns to the bit
        assert(math.floor(-(lp9 / 1e9) / nt * 1e6 + 0.5) / 1e6 ===
          b.getAs[Double]("xent"), s"xent diverges for ${b.getAs[String]("source")}")
        assert(math.floor(oov.toDouble / nt * 1e6 + 0.5) / 1e6 ===
          b.getAs[Double]("oov_rate"))
      }
    }
  }

  test("s_completeness counters equal the batch events audit including planted nulls") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tempDir("s_complete")
    // the twin input: real sf events plus one blank-type/null-props
    // row and one blank-props row, written once for the batch run and
    // streamed in two chunks for the incremental one
    val ts0 = java.sql.Timestamp.valueOf("2024-01-05 08:00:00")
    val base = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .as[(Long, java.sql.Timestamp, Long, String, Double, String)].collect().toSeq
    val crafted = Seq(
      (9000001L, ts0, 1L, "", 1.0, null.asInstanceOf[String]),
      (9000002L, ts0, 2L, "click", 2.0, "  "))
    val all = base ++ crafted
    all.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq("orders", "lineitem", "documents").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val q = graft.streaming.Streams
      .completenessCounts(in.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .writeStream.format("memory").queryName("t_complete")
      .outputMode("complete").start()
    withQuery(q) {
      val (a, b) = all.splitAt(all.length / 2)
      in.addData(a.toIndexedSeq); q.processAllAvailable()
      in.addData(b.toIndexedSeq); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSet
      val streamed = rows(graft.streaming.Streams
        .completenessOf(Q.snapshot(spark.table("t_complete"))))
      val batch = rows(SparkEntry.queries("q_completeness")(spark, dir)
        .filter(col("tbl") === "events"))
      assert(streamed === batch,
        "incremental counters must equal the batch events audit")
    }
  }

  test("s_dedup_incremental classifications equal batch q_dedup_incremental on the prefix") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the batch operator's own split: existing = ids below the 80%
    // threshold (the static corpus state), incoming = the newest 20%
    // fed through the stream in scrambled thirds — classification is
    // per-doc against the static side only, so arrival order and
    // batch boundaries must not matter
    val docsAll = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val t = docsAll.count() * 8L / 10L
    val existing = docsAll.filter(col("doc_id") < t)
    val incoming = docsAll.filter(col("doc_id") >= t)
      .as[(Long, String, String)].collect()
    assert(incoming.nonEmpty, "sf must have an incoming split")
    val in = MemoryStream[(Long, String, String)]
    val q = graft.streaming.Streams
      .dedupIncrementalStream(in.toDF().toDF("doc_id", "lang", "text"), existing)
      .writeStream.format("memory").queryName("t_incdedup")
      .outputMode("update").start()
    withQuery(q) {
      val mixed = incoming.sortBy(r => (r._1 * 48271L) % 2147483647L)
      mixed.grouped(math.max(1, mixed.length / 3 + 1)).foreach { g =>
        in.addData(g.toIndexedSeq); q.processAllAvailable()
      }
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "status", "match_doc").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      val streamed = canon(spark.table("t_incdedup"))
      val batch = canon(SparkEntry.queries("q_dedup_incremental")(spark, sfDir))
      assert(streamed === batch,
        "stream-static classification must equal the batch prefix run")
      // at-least-once replay: re-deliver the first chunk — every fold
      // in the face (min over matches) is idempotent, so the update
      // stream may re-emit rows but never a DIFFERENT classification
      in.addData(mixed.take(math.max(1, mixed.length / 3 + 1)).toIndexedSeq)
      q.processAllAvailable()
      assert(canon(spark.table("t_incdedup")) === batch,
        "replayed rows must not change any classification")
    }
  }

  test("s_woe_iv counters fold to the batch WoE/IV table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_returnflag"))
      .as[(Long, String)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val part = Tables.load(spark, sfDir, "part")
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.Streams
      .brandRiskCounts(in.toDF().toDF("l_partkey", "l_returnflag"), part)
      .writeStream.format("memory").queryName("t_brandrisk")
      .outputMode("complete").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c.toIndexedSeq); q.processAllAvailable() }
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      val streamed = rows1(ops.Analytics.woeOf(
        Q.snapshot(spark.table("t_brandrisk"))))
      val batch = rows1(SparkEntry.queries("q_woe_iv")(spark, sfDir))
      assert(streamed === batch,
        "incremental brand-risk counters must fold to the batch WoE/IV table")
    }
  }

  test("s_gap_hist band emissions fold to the batch gap histogram") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.{GapBand, GapEvent}
    // event-time-ordered ingestion (the face's documented contract):
    // the whole sf corpus sorted by (es, event_id), split into three
    // chunks so most users' gaps straddle a batch boundary
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), Q.epochSec(col("ts")).as("es"), col("event_id"))
      .as[GapEvent].collect().sortBy(e => (e.es, e.event_id))
    val chunks = evs.grouped(evs.length / 3 + 1).toSeq
    val in = MemoryStream[GapEvent]
    val q = graft.streaming.Streams.gapBandsStream(in.toDS())
      .writeStream.format("memory").queryName("t_gapbands")
      .outputMode("append").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c.toIndexedSeq); q.processAllAvailable() }
      def rows1(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSeq
      val streamed = rows1(graft.ops.Analytics.gapHistOf(
        Q.snapshot(spark.table("t_gapbands").select("bucket"))))
      val batch = rows1(SparkEntry.queries("q_gap_hist")(spark, sfDir))
      assert(streamed === batch,
        "per-user stateful gap bands must fold to the batch histogram")
    }
  }

  test("s_dedup_keepers emissions re-resolve to the batch keeper table from out-of-order pairs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.{KeeperOut, KeeperPair}
    // the REAL candidate set: sf0.001's LSH pairs, enriched with each
    // side's length from the catalog (same-lang by banding construction)
    val cat = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val pairs = ops.TextPipeline.lshCandidatePairs(spark, sfDir)
      .join(cat.select(col("doc_id").as("d1"), col("lang"),
        col("n_chars").as("c1")), Seq("d1"))
      .join(cat.select(col("doc_id").as("d2"), col("n_chars").as("c2")), Seq("d2"))
      .select("lang", "d1", "c1", "d2", "c2").as[KeeperPair].collect()
    assert(pairs.nonEmpty, "sf0.001 must plant at least one candidate pair")
    // deterministic scramble: a Lehmer mix of the pair key, so chain
    // edges arrive split across chunks and far out of id order — the
    // arrival-order-independence the union-find claims
    val mixed = pairs.sortBy(p => (p.d1 * 48271L + p.d2 * 16807L) % 2147483647L)
    val chunks = mixed.grouped(math.max(1, mixed.length / 3 + 1)).toSeq
    val in = MemoryStream[KeeperPair]
    val q = Streams.dedupKeepersStream(in.toDS())
      .writeStream.format("memory").queryName("t_keepers").outputMode("update").start()
    withQuery(q) {
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      // at-least-once replay: re-deliver the first chunk — the forest
      // must absorb the duplicates without changing any cluster
      in.addData(chunks.head: _*); q.processAllAvailable()
      val outs = spark.table("t_keepers").as[KeeperOut].collect()
      def table(os: Seq[KeeperOut]) = os.map(o => o.cluster_id ->
        ((o.keeper_doc, o.keeper_chars, o.cluster_size, o.n_dropped))).toMap
      // newest emission per lang = that lang's max version
      val finals = table(outs.groupBy(_.lang).toSeq.flatMap { case (_, ms) =>
        ms.filter(_.ver == ms.map(_.ver).max) })
      // replay-invariance, per lang the replayed chunk actually touched:
      // its post-replay emission must equal its last pre-replay one —
      // re-delivered pairs are already absorbed in the forest
      val replayLangs = chunks.head.map(_.lang).toSet
      outs.groupBy(_.lang).foreach { case (lang, ms) =>
        if (replayLangs(lang)) {
          val vs = ms.map(_.ver).distinct.sorted
          assert(vs.length >= 2, s"$lang must have a pre-replay emission")
          assert(table(ms.filter(_.ver == vs.last)) ===
            table(ms.filter(_.ver == vs(vs.length - 2))),
            s"replayed pairs moved a cluster in $lang")
        }
      }
      val batch = SparkEntry.queries("q_dedup_keepers")(spark, sfDir).collect()
        .map(r => r.getAs[Long]("cluster_id") ->
          ((r.getAs[Long]("keeper_doc"), r.getAs[Long]("keeper_chars"),
            r.getAs[Long]("cluster_size"), r.getAs[Long]("n_dropped")))).toMap
      assert(finals === batch,
        s"streamed keeper table diverges from batch q_dedup_keepers")
    }
  }

  test("s_page_hinkley emissions replay the batch q_page_hinkley prefix exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streams.pageHinkley(in.toDS())
      .writeStream.format("memory").queryName("t_ph").outputMode("update").start()
    // click: level shift 10→30 at day 3; view: flat 4/day. Days arrive
    // in order across batches, with one batch boundary INSIDE day 2
    // (the open-day count must keep absorbing) and one behind-horizon
    // straggler for day 0 that must drop without disturbing the state.
    def d(day: Int, i: Int) = day * 1440 + i
    def dayEvs(day: Int, typ: String, n: Int, base: Long) =
      (0 until n).map(i => ev(base + i, d(day, i), user = 1, typ = typ))
    val counts = Map(0 -> 10, 1 -> 10, 2 -> 10, 3 -> 30, 4 -> 30, 5 -> 30)
    withQuery(q) {
      var id = 100L
      // feed days 0..5 one batch per day, splitting day 2 across two batches
      for (day <- 0 to 5) {
        val evs = dayEvs(day, "click", counts(day), id) ++
          dayEvs(day, "view", 4, id + 1000)
        id += 2000
        if (day == 2) {
          in.addData(evs.take(5): _*); q.processAllAvailable()
          in.addData(evs.drop(5): _*); q.processAllAvailable()
        } else { in.addData(evs: _*); q.processAllAvailable() }
        if (day == 4) { // behind-horizon straggler: day 0 again
          in.addData(ev(id, d(0, 100), user = 1, typ = "click")); id += 1
          q.processAllAvailable()
        }
      }
      // sentinel day 6 closes day 5 so every data day is folded
      in.addData(ev(id, d(6, 0), user = 1, typ = "click"),
        ev(id + 1, d(6, 0), user = 1, typ = "view"))
      q.processAllAvailable()
      val marks = spark.table("t_ph").as[graft.streaming.PhMark].collect()
      // per type: 6 closed days, contiguous n_days, per-day counts intact
      for (t <- Seq("click", "view")) {
        val ms = marks.filter(_.event_type == t).sortBy(_.n_days)
        assert(ms.map(_.n_days).toSeq === (1L to 6L),
          s"$t must fold exactly days 0..5 in order")
        assert(ms.map(_.y).sum === (if (t == "click") 120L else 24L),
          "the straggler must drop and the split day must still total")
      }
      // the final emission per type IS the batch statistic over days 0..5
      val dir = tempDir("ph_twin")
      val batchRows = (0 to 5).flatMap { day =>
        dayEvs(day, "click", counts(day), 5000L + day * 100) ++
          dayEvs(day, "view", 4, 8000L + day * 100)
      }
      batchRows.toDS()
        .selectExpr("event_id", "ts", "user_id", "event_type", "value",
          "'{}' AS props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = SparkEntry.queries("q_page_hinkley")(spark, dir).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n_days"), r.getAs[Long]("drift_day"), r.getAs[Double]("ph"))))
        .toMap
      val streamed = marks.groupBy(_.event_type).map { case (t, ms) =>
        val last = ms.maxBy(_.n_days)
        t -> ((last.n_days, last.drift_day, last.ph))
      }
      // day indices share ops.Inference.Anchor in BOTH engines (UTC
      // floor-div vs datediff over the same rows) — exact equality
      assert(streamed === batch,
        s"streaming profile $streamed diverges from the batch statistic $batch")
      assert(batch("click")._3 > 10.0, "the 10→30 shift must accumulate real drift")
      assert(batch("view")._3 === 0.0, "a flat series reads zero drift")
    }
  }

  test("s_mann_kendall emissions replay the batch q_mann_kendall prefix exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streams.mannKendall(in.toDS())
      .writeStream.format("memory").queryName("t_mk").outputMode("update").start()
    // click: strictly rising 5,10,15,…,30 (S = C(6,2) = 15, no ties);
    // view: 4,4,4,… (all tied ⇒ S = 0 and the variance degenerates to
    // NULL z). One batch boundary INSIDE day 2 and one behind-horizon
    // straggler for day 0, like the Page–Hinkley twin.
    def d(day: Int, i: Int) = day * 1440 + i
    def dayEvs(day: Int, typ: String, n: Int, base: Long) =
      (0 until n).map(i => ev(base + i, d(day, i), user = 1, typ = typ))
    withQuery(q) {
      var id = 100L
      for (day <- 0 to 5) {
        val evs = dayEvs(day, "click", (day + 1) * 5, id) ++
          dayEvs(day, "view", 4, id + 1000)
        id += 2000
        if (day == 2) {
          in.addData(evs.take(5): _*); q.processAllAvailable()
          in.addData(evs.drop(5): _*); q.processAllAvailable()
        } else { in.addData(evs: _*); q.processAllAvailable() }
        if (day == 4) { // behind-horizon straggler: day 0 again
          in.addData(ev(id, d(0, 100), user = 1, typ = "click")); id += 1
          q.processAllAvailable()
        }
      }
      // sentinel day 6 closes day 5 so every data day is folded
      in.addData(ev(id, d(6, 0), user = 1, typ = "click"),
        ev(id + 1, d(6, 0), user = 1, typ = "view"))
      q.processAllAvailable()
      val marks = spark.table("t_mk").as[graft.streaming.MkMark].collect()
      for (t <- Seq("click", "view")) {
        val ms = marks.filter(_.event_type == t).sortBy(_.n_days)
        assert(ms.map(_.n_days).toSeq === (1L to 6L),
          s"$t must fold exactly days 0..5 in order")
        assert(ms.map(_.y).sum === (if (t == "click") 105L else 24L),
          "the straggler must drop and the split day must still total")
      }
      // the final emission per type IS the batch statistic over days 0..5
      val dir = tempDir("mk_twin")
      val batchRows = (0 to 5).flatMap { day =>
        dayEvs(day, "click", (day + 1) * 5, 5000L + day * 100) ++
          dayEvs(day, "view", 4, 8000L + day * 100)
      }
      batchRows.toDS()
        .selectExpr("event_id", "ts", "user_id", "event_type", "value",
          "'{}' AS props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = SparkEntry.queries("q_mann_kendall")(spark, dir).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n_days"), r.getAs[Long]("s"),
            Option(r.get(r.fieldIndex("z"))).map(_.asInstanceOf[Double]))))
        .toMap
      val streamed = marks.groupBy(_.event_type).map { case (t, ms) =>
        val last = ms.maxBy(_.n_days)
        t -> ((last.n_days, last.s, last.z))
      }
      assert(streamed === batch,
        s"streaming MK profile $streamed diverges from the batch statistic $batch")
      assert(batch("click")._2 === 15L, "strictly rising: S = C(6,2)")
      assert(batch("view")._3.isEmpty, "an all-tied series has no variance: z NULL")
    }
  }

  test("s_seasonal_mk strata cancel a weekly cycle and keep a trend, batch-exact") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streams.seasonalMannKendall(in.toDS())
      .writeStream.format("memory").queryName("t_smk").outputMode("update").start()
    // 14 days = two per weekday stratum. cycle: counts depend on the
    // day-of-week only, so both days of every stratum TIE (S = 0, zero
    // within-stratum variance ⇒ z NULL); trend: strictly rising, one
    // ascending pair per stratum (S = 7, 18·Var = 7·18 ⇒ z = 6/√7).
    def d(day: Int, i: Int) = day * 1440 + i
    def dayEvs(day: Int, typ: String, n: Int, base: Long) =
      (0 until n).map(i => ev(base + i, d(day, i), user = 1, typ = typ))
    def nOf(typ: String, day: Int) =
      if (typ == "cycle") (day % 7) * 2 + 2 else day + 1
    withQuery(q) {
      var id = 100L
      for (day <- 0 to 13) {
        val evs = dayEvs(day, "cycle", nOf("cycle", day), id) ++
          dayEvs(day, "trend", nOf("trend", day), id + 1000)
        id += 2000
        if (day == 5) { // batch boundary inside a day
          in.addData(evs.take(3): _*); q.processAllAvailable()
          in.addData(evs.drop(3): _*); q.processAllAvailable()
        } else { in.addData(evs: _*); q.processAllAvailable() }
        if (day == 9) { // behind-horizon straggler: day 1 again
          in.addData(ev(id, d(1, 200), user = 1, typ = "trend")); id += 1
          q.processAllAvailable()
        }
      }
      // sentinel day 14 closes day 13 so every data day is folded
      in.addData(ev(id, d(14, 0), user = 1, typ = "cycle"),
        ev(id + 1, d(14, 0), user = 1, typ = "trend"))
      q.processAllAvailable()
      val marks = spark.table("t_smk").as[graft.streaming.MkMark].collect()
      for (t <- Seq("cycle", "trend")) {
        val ms = marks.filter(_.event_type == t).sortBy(_.n_days)
        assert(ms.map(_.n_days).toSeq === (1L to 14L),
          s"$t must fold exactly days 0..13 in order")
        assert(ms.map(_.y).sum === (0 to 13).map(nOf(t, _)).sum.toLong,
          "the straggler must drop and the split day must still total")
      }
      // the final emission per type IS the batch statistic over days 0..13
      val dir = tempDir("smk_twin")
      val batchRows = (0 to 13).flatMap { day =>
        dayEvs(day, "cycle", nOf("cycle", day), 5000L + day * 100) ++
          dayEvs(day, "trend", nOf("trend", day), 8000L + day * 100)
      }
      batchRows.toDS()
        .selectExpr("event_id", "ts", "user_id", "event_type", "value",
          "'{}' AS props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = SparkEntry.queries("q_seasonal_mk")(spark, dir).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n_days"), r.getAs[Long]("s"),
            Option(r.get(r.fieldIndex("z"))).map(_.asInstanceOf[Double]))))
        .toMap
      val streamed = marks.groupBy(_.event_type).map { case (t, ms) =>
        val last = ms.maxBy(_.n_days)
        t -> ((last.n_days, last.s, last.z))
      }
      assert(streamed === batch,
        s"streaming seasonal-MK profile $streamed diverges from batch $batch")
      assert(batch("cycle")._2 === 0L && batch("cycle")._3.isEmpty,
        "an exact weekly cycle cancels: S = 0, degenerate variance")
      assert(batch("trend")._2 === 7L, "one ascending pair per stratum: S = 7")
      assert(math.abs(batch("trend")._3.get - 6.0 / math.sqrt(7.0)) < 1e-5)
    }
  }

  test("s_pettitt emissions locate the batch break day exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streams.pettitt(in.toDS())
      .writeStream.format("memory").queryName("t_pettitt").outputMode("update").start()
    // shift: 10/day for four days then 30/day (K = 16 at the 4th day);
    // flat: 5/day (U ≡ 0, earliest day wins the argmax tie).
    def d(day: Int, i: Int) = day * 1440 + i
    def dayEvs(day: Int, typ: String, n: Int, base: Long) =
      (0 until n).map(i => ev(base + i, d(day, i), user = 1, typ = typ))
    def nOf(typ: String, day: Int) = if (typ == "shift" && day >= 4) 30 else if (typ == "shift") 10 else 5
    withQuery(q) {
      var id = 100L
      for (day <- 0 to 7) {
        val evs = dayEvs(day, "shift", nOf("shift", day), id) ++
          dayEvs(day, "flat", nOf("flat", day), id + 1000)
        id += 2000
        if (day == 4) { // batch boundary inside the first post-break day
          in.addData(evs.take(7): _*); q.processAllAvailable()
          in.addData(evs.drop(7): _*); q.processAllAvailable()
        } else { in.addData(evs: _*); q.processAllAvailable() }
        if (day == 6) { // behind-horizon straggler: day 0 again
          in.addData(ev(id, d(0, 300), user = 1, typ = "shift")); id += 1
          q.processAllAvailable()
        }
      }
      // sentinel day 8 closes day 7 so every data day is folded
      in.addData(ev(id, d(8, 0), user = 1, typ = "shift"),
        ev(id + 1, d(8, 0), user = 1, typ = "flat"))
      q.processAllAvailable()
      val marks = spark.table("t_pettitt").as[graft.streaming.PtMark].collect()
      for (t <- Seq("shift", "flat")) {
        val ms = marks.filter(_.event_type == t).sortBy(_.n_days)
        assert(ms.map(_.n_days).toSeq === (1L to 8L),
          s"$t must fold exactly days 0..7 in order")
        assert(ms.map(_.y).sum === (0 to 7).map(nOf(t, _)).sum.toLong,
          "the straggler must drop and the split day must still total")
      }
      // the final emission per type IS the batch statistic over days 0..7
      val dir = tempDir("pettitt_twin")
      val batchRows = (0 to 7).flatMap { day =>
        dayEvs(day, "shift", nOf("shift", day), 5000L + day * 100) ++
          dayEvs(day, "flat", nOf("flat", day), 8000L + day * 100)
      }
      batchRows.toDS()
        .selectExpr("event_id", "ts", "user_id", "event_type", "value",
          "'{}' AS props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = SparkEntry.queries("q_pettitt")(spark, dir).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n_days"), r.getAs[Long]("k_stat"),
            r.getAs[Long]("change_day"),
            Option(r.get(r.fieldIndex("p_exponent"))).map(_.asInstanceOf[Double]))))
        .toMap
      val streamed = marks.groupBy(_.event_type).map { case (t, ms) =>
        val last = ms.maxBy(_.n_days)
        t -> ((last.n_days, last.k_stat, last.change_day, last.p_exponent))
      }
      assert(streamed === batch,
        s"streaming Pettitt profile $streamed diverges from batch $batch")
      val sh = batch("shift")
      assert(sh._2 === 16L, "four 10s then four 30s: K = |2·10 − 4·9| = 16")
      assert(sh._3 === streamed("shift")._3 &&
        sh._3 - batch("flat")._3 === 3L, "the break sits on the 4th day")
      assert(math.abs(sh._4.get - 1536.0 / 576.0) < 1e-5, "6K²/(n³+n²) exactly")
      assert(batch("flat")._2 === 0L, "a constant series reads zero")
    }
  }

  test("s_durbin_watson thirteen-long state replays the batch statistic exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streams.durbinWatson(in.toDS())
      .writeStream.format("memory").queryName("t_dw").outputMode("update").start()
    // saw: alternating 9/11 counts (residuals alternate → DW → 4);
    // line: exact 3+2d fit (zero SSE → NULL DW, slope exactly 2).
    def d(day: Int, i: Int) = day * 1440 + i
    def dayEvs(day: Int, typ: String, n: Int, base: Long) =
      (0 until n).map(i => ev(base + i, d(day, i), user = 1, typ = typ))
    def nOf(typ: String, day: Int) =
      if (typ == "saw") (if (day % 2 == 0) 9 else 11) else 3 + 2 * day
    withQuery(q) {
      var id = 100L
      for (day <- 0 to 7) {
        val evs = dayEvs(day, "saw", nOf("saw", day), id) ++
          dayEvs(day, "line", nOf("line", day), id + 1000)
        id += 2000
        if (day == 3) { // batch boundary inside a day
          in.addData(evs.take(4): _*); q.processAllAvailable()
          in.addData(evs.drop(4): _*); q.processAllAvailable()
        } else { in.addData(evs: _*); q.processAllAvailable() }
        if (day == 5) { // behind-horizon straggler: day 0 again
          in.addData(ev(id, d(0, 70), user = 1, typ = "saw")); id += 1
          q.processAllAvailable()
        }
      }
      // sentinel day 8 closes day 7 so every data day is folded
      in.addData(ev(id, d(8, 0), user = 1, typ = "saw"),
        ev(id + 1, d(8, 0), user = 1, typ = "line"))
      q.processAllAvailable()
      val marks = spark.table("t_dw").as[graft.streaming.DwMark].collect()
      for (t <- Seq("saw", "line")) {
        val ms = marks.filter(_.event_type == t).sortBy(_.n_days)
        assert(ms.map(_.n_days).toSeq === (1L to 8L),
          s"$t must fold exactly days 0..7 in order")
        assert(ms.map(_.y).sum === (0 to 7).map(nOf(t, _)).sum.toLong,
          "the straggler must drop and the split day must still total")
      }
      // the final emission per type IS the batch statistic over days 0..7
      val dir = tempDir("dw_twin")
      val batchRows = (0 to 7).flatMap { day =>
        dayEvs(day, "saw", nOf("saw", day), 5000L + day * 100) ++
          dayEvs(day, "line", nOf("line", day), 8000L + day * 100)
      }
      batchRows.toDS()
        .selectExpr("event_id", "ts", "user_id", "event_type", "value",
          "'{}' AS props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      def opt(r: org.apache.spark.sql.Row, f: String): Option[Double] =
        Option(r.get(r.fieldIndex(f))).map(_.asInstanceOf[Double])
      val batch = SparkEntry.queries("q_durbin_watson")(spark, dir).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n_days"), opt(r, "slope"), opt(r, "dw"), opt(r, "rho1"))))
        .toMap
      val streamed = marks.groupBy(_.event_type).map { case (t, ms) =>
        val last = ms.maxBy(_.n_days)
        t -> ((last.n_days, last.slope, last.dw, last.rho1))
      }
      assert(streamed === batch,
        s"streaming DW profile $streamed diverges from batch $batch")
      assert(batch("saw")._3.get > 3.0, "alternating residuals push DW toward 4")
      assert(batch("line")._2.get === 2.0 && batch("line")._3.isEmpty,
        "an exact fit has slope 2 and undefined DW")
    }
  }

  test("streaming Tukey stats grid reproduces the batch q_tukey_hsd exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val in = MemoryStream[Ev]
    val q = Streams.tukeyStats(in.toDF())
      .writeStream.format("memory").queryName("t_tukey").outputMode("complete").start()
    withQuery(q) {
      // replay the real sf0.001 events split across two batches: a
      // type's moments must MERGE across batches, not overwrite
      val rows = Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"),
          col("event_type"), col("value"))
        .as[Ev].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = ops.SeriesTests.tukeyOf(spark.table("t_tukey"))
        .select("type_a", "type_b", "mean_a", "mean_b", "q_stat")
        .as[(String, String, Double, Double, Double)].collect().toSet
      val batch = SparkEntry.queries("q_tukey_hsd")(spark, sfDir)
        .select("type_a", "type_b", "mean_a", "mean_b", "q_stat")
        .as[(String, String, Double, Double, Double)].collect().toSet
      assert(streamed === batch,
        "read-time HSD over the incremental moment grid must equal the batch screen")
    }
  }

  test("s_merge_upsert streaming state equals batch mergeUpsert over the same rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streams.mergeUpsertStream(in.toDS())
      .writeStream.format("memory").queryName("t_merge").outputMode("update").start()
    // batch 2 includes an out-of-order older row for (7, click) — must
    // be ignored — and a tombstone (value < 1.0) for (8, click)
    val b1 = Seq(ev(1, 0, user = 7, v = 5.0), ev(2, 1, user = 8, v = 3.0),
      ev(3, 2, user = 7, typ = "view", v = 2.0))
    val b2 = Seq(ev(4, 5, user = 7, v = 9.0), ev(5, 1, user = 7, v = 4.0),
      ev(6, 6, user = 8, v = 0.5))
    withQuery(q) {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      // latest emitted state per key, tombstones applied as deletes
      val got = spark.table("t_merge").as[graft.streaming.MergeState].collect()
        .groupBy(s => (s.user_id, s.event_type))
        .map { case (_, ss) => ss.maxBy(s => (s.es, s.event_id)) }
        .filterNot(_.deleted)
        .map(s => (s.user_id, s.event_type, s.event_id, s.es, s.value))
        .toSet
      // the batch twin: empty base, every row a delta with the same
      // tombstone predicate — Cdc.mergeUpsert picks identical winners
      val base = Seq.empty[(Long, String, Long, Long, Double)]
        .toDF("user_id", "event_type", "event_id", "es", "value")
      val delta = (b1 ++ b2).toDS()
        .selectExpr("user_id", "event_type", "event_id",
          "CAST(ts AS LONG) AS es", "value",
          "IF(value < 1.0, 'D', 'U') AS op")
      val expected = graft.ops.Cdc.mergeUpsert(base, delta)
        .as[(Long, String, Long, Long, Double)].collect().toSet
      assert(got === expected)
      assert(!got.exists { case (u, t, _, _, _) => u == 8L && t == "click" },
        "tombstoned key must be absent")
    }
  }

  test("transformWithState (state v2, RocksDB) keeps running totals") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val q = Streams.userTotalsTws(in.toDS())
        .writeStream.format("memory").queryName("t_tws").outputMode("update").start()
      withQuery(q) {
        in.addData(ev(1, 0, user = 3, v = 2.0), ev(2, 1, user = 3, v = 3.0))
        q.processAllAvailable()
        in.addData(ev(3, 2, user = 3, v = 5.0))
        q.processAllAvailable()
        val latest = spark.table("t_tws").as[graft.streaming.UserTotals]
          .collect().groupBy(_.user_id).map { case (u, rs) => u -> rs.maxBy(_.n_events) }
        assert(latest(3L).n_events === 3L)
        assert(latest(3L).sum_value === 10.0)
      }
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("sliding windows place each event in size/slide windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streams.sliding(in.toDF())
      .writeStream.format("memory").queryName("t_slide").outputMode("complete").start()
    withQuery(q) {
      in.addData(ev(1, 7)) // minute 7 → windows starting at 0 and 5
      q.processAllAvailable()
      val starts = spark.table("t_slide")
        .selectExpr("unix_timestamp(window.start) AS s")
        .as[Long].collect().toSet
      assert(starts === Set(baseSec, baseSec + 300L))
    }
  }

  test("stream-static join enriches events against a dim table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[Ev]
    val q = Streams.enrich(in.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("t_enrich").outputMode("append").start()
    withQuery(q) {
      in.addData(ev(1, 0, user = 1), ev(2, 1, user = 9))
      q.processAllAvailable()
      val rows = spark.table("t_enrich")
        .selectExpr("event_id", "tier").as[(Long, Option[String])].collect().toMap
      assert(rows(1L) === Some("gold"))
      assert(rows(2L) === None) // left join keeps unmatched stream rows
    }
  }

  test("stream-stream interval join matches views within the lookback only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val purchases = MemoryStream[Ev]
    val views = MemoryStream[Ev]
    val q = Streams.intervalJoin(purchases.toDF(), views.toDF())
      .writeStream.format("memory").queryName("t_ivj").outputMode("append").start()
    withQuery(q) {
      views.addData(ev(10, 55), ev(11, 58), ev(12, 30)) // 30 is outside 10-min lookback
      purchases.addData(ev(1, 60, v = 9.99))
      q.processAllAvailable()
      val matched = spark.table("t_ivj")
        .selectExpr("p_id", "v_id").as[(Long, Long)].collect().toSet
      assert(matched === Set((1L, 10L), (1L, 11L)))
    }
  }

  test("rate-micro-batch source stands in for kafka with exact batch sizes") {
    import spark.implicits._
    val q = Streams.rateSource(spark, rowsPerBatch = 10)
      .writeStream.format("memory").queryName("t_rate").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    withQuery(q) {
      q.awaitTermination(30000)
      val n = spark.table("t_rate").count()
      assert(n >= 10L && n % 10 === 0L)
      val types = spark.table("t_rate").select("event_type").as[String].distinct().collect().toSet
      assert(types.subsetOf(Set("click", "view", "purchase")))
    }
  }

  test("session windows merge events within the gap and split across it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streams.sessions(in.toDF())
      .writeStream.format("memory").queryName("t_sess").outputMode("complete").start()
    withQuery(q) {
      // user 1: events at 0 and 10 min (gap 10 < 30 → one session),
      // then 70 min (gap 60 ≥ 30 → new session). Users 2, 3, 4: two
      // events 1,799 / 1,800 / 1,801 s apart, the boundary of the
      // 30-minute gap that q_session_batch's oracle splits on (> 1800).
      // One batch, so no event arrives behind the watermark.
      val atGap = Seq(1799L -> 2L, 1800L -> 3L, 1801L -> 4L).flatMap { case (gap, user) =>
        Seq(0L, gap).map(off =>
          Ev(10 * user + off, new Timestamp((baseSec + off) * 1000L), user, "click", 1.0))
      }
      in.addData(Seq(ev(1, 0), ev(2, 10), ev(3, 70)) ++ atGap)
      q.processAllAvailable()
      val rows = spark.table("t_sess")
        .selectExpr("user_id",
          "unix_timestamp(session_window.start) AS s",
          "unix_timestamp(session_window.end) AS e", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(rows.filter(_._1 == 1L) === Set(
        (1L, baseSec, baseSec + 10 * 60 + 1800L, 2L), // [0, 10min] + 30min gap
        (1L, baseSec + 70 * 60L, baseSec + 70 * 60 + 1800L, 1L)))
      val sessionsPerUser = rows.toSeq.groupBy(_._1).map { case (u, rs) => u -> rs.size }
      assert(sessionsPerUser === Map(1L -> 2, 2L -> 1, 3L -> 1, 4L -> 2))
    }
  }

  test("streaming decontamination drops docs sharing a shingle with the holdout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val holdout = Seq(("en", "the quick fox"), ("en", "lorem ipsum dolor"),
      ("fr", "a clean document")).toDF("lang", "shingle")
    val in = MemoryStream[(Long, String, String)]
    val docs = in.toDF().toDF("doc_id", "lang", "text")
    val q = Streams.decontamStream(docs, holdout)
      .writeStream.format("memory").queryName("t_decontam").outputMode("append").start()
    withQuery(q) {
      in.addData(
        (1L, "en", "the quick fox jumps high"), // contaminated (shingle 0..2)
        (2L, "en", "a clean document entirely"), // clean
        (3L, "en", "too short"), // < 3 words → no shingles → clean
        (4L, "en", "watch lorem ipsum dolor appear")) // contaminated mid-text
      q.processAllAvailable()
      val kept = spark.table("t_decontam").select("doc_id").as[Long].collect().toSet
      assert(kept === Set(2L, 3L))
    }
  }

  test("decontamStream groups the holdout once at definition, not in every epoch's plan") {
    import spark.implicits._
    val holdout = Seq(("en", "the quick fox"), ("fr", "a clean document")).toDF("lang", "shingle")
    val docs = Seq((1L, "en", "the quick fox jumps")).toDF("doc_id", "lang", "text")
    val plan = Streams.decontamStream(docs, holdout).queryExecution.optimizedPlan
    val aggregates = plan.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
    assert(aggregates.isEmpty, s"holdout grouping left in the per-epoch plan:\n$plan")
  }

  test("decontamStream's plan holds no join and prints no holdout shingle") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.FormattedMode
    import spark.implicits._
    val holdout = Seq(("en", "the quick fox"), ("fr", "a clean document")).toDF("lang", "shingle")
    val docs = spark.read.format("graft-docs").option("rows", 3).load()
    val qe = Streams.decontamStream(docs, holdout).queryExecution
    val plan = qe.optimizedPlan
    assert(plan.collect { case j: Join => j }.isEmpty, s"join in the per-epoch plan:\n$plan")
    assert(plan.collect { case a: Aggregate => a }.isEmpty, s"aggregate in the per-epoch plan:\n$plan")
    // the SQL status store keeps every epoch's plan description
    for (text <- Seq(plan.toString, qe.executedPlan.toString, qe.explainString(FormattedMode)))
      assert(!text.contains("clean document") && text.contains("holdout_hit"), text)
  }

  test("a graft-docs → decontamStream → ledger sink epoch runs one Spark job") {
    import org.apache.spark.sql.functions._
    import graft.streaming.OffsetLedger
    val sc = spark.sparkContext
    val epochs = 3
    val rowsPerBatch = 400
    // the holdout: every shingle of the first 40 documents of the id range
    val holdout = spark.read.format("graft-docs").option("rows", 40).load()
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .select(col("lang"), explode(expr(ops.TextPipeline.ShingleArrayExpr)).as("shingle"))
    val source = spark.readStream.format("graft-docs")
      .option("rows", epochs * rowsPerBatch).option("topicPartitions", 4)
      .option("partitions", 4).option("rowsPerBatch", rowsPerBatch).load()
    val ledgerDir = tempDir("graft_decontam_jobs_ledger")
    val q = Streams.decontamStream(source, holdout)
      .select(col("doc_id").as("event_id"), col("lang"), col("text"))
      .writeStream
      .option("checkpointLocation", tempDir("graft_decontam_jobs_ckpt"))
      .foreachBatch(OffsetLedger.sink(tempDir("graft_decontam_jobs_out"), ledgerDir) _)
      .start()
    withQuery(q)(q.processAllAvailable())
    // the status store is fed by the listener bus in event order: once a
    // job started after the query is visible, so are the query's jobs
    val fence = s"decontam_jobs_fence_${q.runId}"
    sc.setJobGroup(fence, "fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(fence).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(fence).length === 1)
    val ledger = OffsetLedger.read(spark, ledgerDir)
    assert(ledger.count() === epochs)
    assert(ledger.agg(sum("n_rows")).head().getLong(0) < epochs * rowsPerBatch,
      "the holdout documents are dropped")
    // StreamExecution runs every epoch under the query's run id
    assert(sc.statusTracker.getJobIdsForGroup(q.runId.toString).length === epochs)
  }

  test("streaming dow-profile counts agree with the batch q_seasonality grid") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val in = MemoryStream[Ev]
    val q = Streams.seasonalityCounts(in.toDF())
      .writeStream.format("memory").queryName("t_season").outputMode("complete").start()
    withQuery(q) {
      // replay the real sf0.001 events through the stream in two batches
      val rows = Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"),
          col("event_type"), col("value"))
        .as[Ev].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.table("t_season")
        .select("event_type", "dow", "cnt").as[(String, Long, Long)].collect().toSet
      val batch = SparkEntry.queries("q_seasonality")(spark, sfDir)
        .select("event_type", "dow", "cnt").as[(String, Long, Long)].collect().toSet
      assert(streamed === batch,
        "incremental 35-cell grid must equal the batch profile")
    }
  }

  test("streaming entropy grid reproduces the batch q_cat_entropy exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val in = MemoryStream[Ev]
    val q = Streams.catEntropyCounts(in.toDF())
      .writeStream.format("memory").queryName("t_catent").outputMode("complete").start()
    withQuery(q) {
      // replay the real sf0.001 events mid-day-split across two batches:
      // a day's counts must MERGE across batches, not overwrite
      val rows = Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"),
          col("event_type"), col("value"))
        .as[Ev].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = ops.Inference.entropyOfCells(spark.table("t_catent"))
        .select("day", "n_events", "k_types", "entropy", "evenness")
        .as[(String, Long, Long, Double, Double)].collect().toSet
      val batch = SparkEntry.queries("q_cat_entropy")(spark, sfDir)
        .select("day", "n_events", "k_types", "entropy", "evenness")
        .as[(String, Long, Long, Double, Double)].collect().toSet
      assert(streamed === batch,
        "read-time entropy over the incremental grid must equal the batch monitor")
    }
  }

  test("streaming tail grid reproduces the batch q_tail_exact percentiles") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val in = MemoryStream[Ev]
    val q = Streams.tailCounts(in.toDF())
      .writeStream.format("memory").queryName("t_tail").outputMode("complete").start()
    withQuery(q) {
      // split mid-stream so per-(type, cents) cells must merge across
      // batches for the read-time crossings to land exactly
      val rows = Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"),
          col("event_type"), col("value"))
        .as[Ev].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = ops.Analytics.tailFold(spark.table("t_tail"))
        .select("event_type", "n", "p50_usd", "p95_usd", "p99_usd")
        .as[(String, Long, Double, Double, Double)].collect().toSet
      val batch = SparkEntry.queries("q_tail_exact")(spark, sfDir)
        .select("event_type", "n", "p50_usd", "p95_usd", "p99_usd")
        .as[(String, Long, Double, Double, Double)].collect().toSet
      assert(streamed === batch,
        "read-time percentiles over the incremental grid must equal the batch readout")
    }
  }

  test("streaming skyline's final front equals the batch q_skyline Pareto front") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.PricePoint
    val in = MemoryStream[PricePoint]
    val q = Streams.skylineStream(in.toDS())
      .writeStream.format("memory").queryName("t_skyline").outputMode("update").start()
    withQuery(q) {
      val rows = Tables.load(spark, sfDir, "orders")
        .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
          datediff(col("o_orderdate").cast(org.apache.spark.sql.types.DateType),
            to_date(lit("1990-01-01"))).cast("long").as("day"))
        .as[PricePoint].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val emitted = spark.table("t_skyline")
        .as[graft.streaming.SkylineOut].collect()
      val lastVer = emitted.map(_.ver).max
      val streamed = emitted.filter(_.ver == lastVer).map(o => (o.cents, o.day)).toSet
      val batch = SparkEntry.queries("q_skyline")(spark, sfDir)
        .select(floor(col("price") * 100 + 0.5).cast("long").as("cents"),
          datediff(col("order_date").cast(org.apache.spark.sql.types.DateType),
            to_date(lit("1990-01-01"))).cast("long").as("day"))
        .as[(Long, Long)].collect().toSet
      assert(streamed === batch,
        s"incremental front (${streamed.size}) must equal the batch front (${batch.size})")
    }
  }

  test("streaming anomaly flags agree with the batch q_anomaly operator") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // batch pass computes the per-type stats exactly as q_anomaly does
    val batch = Tables.events(spark, sfDir).select("event_id", "event_type", "value")
    val stats = batch.groupBy("event_type")
      .agg(Q.r6(avg("value")).as("mu"), Q.r6(stddev_samp("value")).as("sd"))
    val in = MemoryStream[(Long, String, Double)]
    val q = Streams.anomalyStream(
        in.toDF().toDF("event_id", "event_type", "value"), stats)
      .writeStream.format("memory").queryName("t_anomaly").outputMode("append").start()
    withQuery(q) {
      val rows = batch.as[(Long, String, Double)].collect()
      in.addData(rows.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("t_anomaly").select("event_id").as[Long].collect().toSet
      val expected = SparkEntry.queries("q_anomaly")(spark, sfDir)
        .select("event_id").as[Long].collect().toSet
      assert(streamed === expected)
    }
  }

  test("streaming OHLC bars match the batch aggregation on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val in = MemoryStream[Ev]
    val q = Streams.ohlcBars(in.toDF())
      .writeStream.format("memory").queryName("t_ohlc").outputMode("complete").start()
    withQuery(q) {
      // two windows; open/close differ from high/low inside each, and
      // the second batch arrives out of event-time order to prove the
      // min_by/max_by order key (not arrival order) picks open/close
      in.addData(ev(1, 0, v = 5.0), ev(2, 3, v = 9.0), ev(3, 7, v = 2.0))
      q.processAllAvailable()
      in.addData(ev(6, 14, v = 4.0), ev(5, 12, v = 8.0), ev(4, 11, v = 1.0))
      q.processAllAvailable()
      val bars = spark.table("t_ohlc")
        .selectExpr("unix_timestamp(window.start) AS s", "n", "open", "high", "low", "close", "volume")
        .as[(Long, Long, Double, Double, Double, Double, Double)].collect()
        .map(r => r._1 -> r).toMap
      assert(bars(baseSec) === ((baseSec, 3L, 5.0, 9.0, 2.0, 2.0, 16.0)))
      assert(bars(baseSec + 600L) === ((baseSec + 600L, 3L, 1.0, 8.0, 1.0, 4.0, 13.0)))
      // twin: the same six aggregates computed in one batch pass
      val batch = Seq(ev(1, 0, v = 5.0), ev(2, 3, v = 9.0), ev(3, 7, v = 2.0),
          ev(4, 11, v = 1.0), ev(5, 12, v = 8.0), ev(6, 14, v = 4.0)).toDF()
        .withColumn("k", unix_timestamp(col("ts")) * 100000000L + col("event_id"))
        .groupBy(window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n"), min_by(col("value"), col("k")).as("open"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          max_by(col("value"), col("k")).as("close"), sum(col("value")).as("volume"))
        .selectExpr("unix_timestamp(window.start) AS s", "n", "open", "high", "low", "close", "volume")
        .as[(Long, Long, Double, Double, Double, Double, Double)].collect().toSet
      assert(bars.values.toSet === batch)
    }
  }

  test("streaming attribution emissions re-sum to the batch q_attribution table") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the full sf0.001 corpus in event-time order, split mid-stream:
    // purchases in batch 2 must find their batch-1 touches in state
    val evs = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev].collect().sortBy(e => (e.ts.getTime / 1000L, e.event_id))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[Ev]
    val q = Streams.attributionStream(in.toDS())
      .writeStream.format("memory").queryName("t_attr").outputMode("append").start()
    withQuery(q) {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      val got = spark.table("t_attr")
        .groupBy("touch_type")
        .agg(count(lit(1)).as("n_touches"),
          sum("is_last").cast("long").as("last_touch"),
          graft.Q.r4(sum(col("credit6")) / lit(1e6)).as("linear_credit"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      val want = SparkEntry.queries("q_attribution")(spark, sfDir)
        .collect()
        .map(r => r.getAs[String]("touch_type") ->
          ((r.getAs[Long]("n_touches"), r.getAs[Long]("last_touch"),
            r.getAs[Double]("linear_credit")))).toMap
      assert(got === want, s"stream credits must equal the batch table:\n$got\nvs\n$want")
    }
  }

  test("streaming attribution honors the lateness allowance; zero-allowance prunes late credit") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // batch 1: a view at min 0, then a click at min 20 (advances the
    // monotonic maxEs); batch 2: a LATE purchase at min 9 whose window
    // [es-600, es) holds only the view
    def run(lateness: Long): Seq[(String, Long, Int)] = {
      val in = MemoryStream[Ev]
      val name = s"t_attr_late_$lateness"
      val q = Streams.attributionStream(in.toDS(), lookbackSec = 600L,
          allowedLatenessSec = lateness)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      withQuery(q) {
        in.addData(ev(1, 0, typ = "view"), ev(2, 20, typ = "click"))
        q.processAllAvailable()
        in.addData(ev(3, 9, typ = "purchase"))
        q.processAllAvailable()
        spark.table(name).as[(String, Long, Int)].collect().toSeq
      }
    }
    // allowance 600 s: prune horizon = 1200 - 600 - 600 = 0 keeps the
    // min-0 view, so the late purchase credits it fully
    assert(run(600L) === Seq(("view", 1000000L, 1)),
      "late purchase within the allowance must credit the retained view")
    // allowance 0: horizon = 1200 - 600 = 600 prunes the view before
    // the late purchase arrives — bounded, documented credit loss
    assert(run(0L).isEmpty,
      "beyond the allowance the late purchase finds no retained touches")
  }

  test("packed (es, event_id) order key fails loudly on id overflow") {
    // the packed key reserves PackBase id slots per second; an id at or
    // above it (or negative) would silently corrupt event-time ordering
    // AND the ord/PackBase second recovery the state pruning divides by
    // — both the column form and the typed streaming form must refuse
    import org.apache.spark.sql.functions.lit
    val ok = spark.range(1)
      .select(graft.Q.packedOrd(lit(10L), lit(graft.Q.PackBase - 1)).as("k"))
      .head().getLong(0)
    assert(ok === 10L * graft.Q.PackBase + (graft.Q.PackBase - 1))
    intercept[Exception] {
      spark.range(1).select(graft.Q.packedOrd(lit(10L), lit(graft.Q.PackBase)).as("k"))
        .head()
    }
    intercept[Exception] {
      spark.range(1).select(graft.Q.packedOrd(lit(10L), lit(-1L)).as("k")).head()
    }
  }

  test("soak: rate -> dedup -> enrich -> ledgered sink holds its invariants under real triggers") {
    // the one wall-clock test: a real rate-micro-batch source driving
    // the full pipeline for a few seconds of back-to-back triggers,
    // then the ledger audited for epoch gaps, row-count drift, and
    // event_id coverage (tools.Soak.run — the 60 s version runs
    // per-round from the command line; see BASELINE.md)
    tools.Soak.run(spark, seconds = 8, rowsPerBatch = 500) match {
      case Left(violation) => fail(violation)
      case Right((epochs, rows)) =>
        assert(epochs >= 3 && rows === epochs * 500L)
    }
  }
}
