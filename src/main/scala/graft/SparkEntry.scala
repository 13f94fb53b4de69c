package graft

import graft.core.ConfigExpr
import graft.functions._
import graft.operators._
import graft.plans._
import graft.sources.ObsDocs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract: every implemented operator from SURVEY.md §2 exposed as
  * a named query, with an equivalent DuckDB oracle where the semantics are
  * SQL-expressible. Non-SQL-expressible operators (the GP fit itself, LSH
  * signatures, LAEA projection) are rows-only checked here and golden- /
  * property-tested in the ScalaTest suites.
  *
  * Oracle-parity ground rules used throughout:
  *  - observations are DERIVED from the testdata tables with pure integer /
  *    binary-exact float arithmetic (no transcendentals, no engine RNG), so
  *    Spark and DuckDB produce bit-identical inputs;
  *  - every aggregate / computed column is aliased identically on both
  *    sides; cell ids and counts are BIGINT on both sides.
  */
object SparkEntry {

  private def pq(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ---------------------------------------------------------------------
  // derived observation table (pure arithmetic over lineitem — bit-exact
  // in both engines). x, y in meters over +-800 km; t float days; z value.
  // ---------------------------------------------------------------------
  private def obsDerived(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "lineitem").select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("obs_id"),
      (((col("l_partkey") * 7919 + col("l_suppkey") * 104729) % 1800001).cast("double")
        / 1800000.0 * 1600000.0 - 800000.0).as("x"),
      (((col("l_orderkey") * 6271 + col("l_partkey") * 31) % 1800001).cast("double")
        / 1800000.0 * 1600000.0 - 800000.0).as("y"),
      (lit(18322) + col("l_orderkey") % 9).cast("double").as("t"),
      ((col("l_quantity") - 25.0) / 100.0 + col("l_discount")).as("z"))

  private val ObsSql =
    """SELECT l_orderkey * 10 + l_linenumber AS obs_id,
      |  CAST((l_partkey * 7919 + l_suppkey * 104729) % 1800001 AS DOUBLE) / 1800000.0 * 1600000.0 - 800000.0 AS x,
      |  CAST((l_orderkey * 6271 + l_partkey * 31) % 1800001 AS DOUBLE) / 1800000.0 * 1600000.0 - 800000.0 AS y,
      |  CAST(18322 + (l_orderkey % 9) AS DOUBLE) AS t,
      |  (l_quantity - 25.0) / 100.0 + l_discount AS z
      |FROM lineitem""".stripMargin

  /** Raster↔vector demo zones over the ±800 km obs plane: a concave
    * L-shaped west zone, a convex east pentagon, and a triangle
    * overlapping the pentagon (painter's order proves first-match
    * precedence in both engines).
    */
  private val RvZones = Seq(
    operators.RasterVector.Zone("west_l", Array(Array(
      -700000.0, -700000.0, -100000.0, -700000.0, -100000.0, -300000.0,
      -400000.0, -300000.0, -400000.0, 500000.0, -700000.0, 500000.0))),
    operators.RasterVector.Zone("east_pent", Array(Array(
      100000.0, -500000.0, 700000.0, -500000.0, 760000.0, 100000.0,
      400000.0, 600000.0, 60000.0, 150000.0))),
    operators.RasterVector.Zone("tri_overlap", Array(Array(
      300000.0, -600000.0, 750000.0, 300000.0, 150000.0, 400000.0))))

  /** SQL replica of [[graft.functions.PointInPolygonKernel.containsRing]]
    * (identical operand order, so doubles match bit-for-bit): per-edge
    * crossing terms summed, parity odd = inside. Horizontal edges divide
    * by zero → NULL in DuckDB, but the first conjunct is already false
    * there, and `false AND NULL` is false.
    */
  private def ringInsideSql(ring: Array[Double], xE: String, yE: String): String = {
    val n = ring.length / 2
    val terms = (0 until n).map { i =>
      val j = (i + n - 1) % n
      val xi = ring(2 * i); val yi = ring(2 * i + 1)
      val xj = ring(2 * j); val yj = ring(2 * j + 1)
      s"(CASE WHEN (($yi > $yE) <> ($yj > $yE)) AND " +
        s"($xE < ($xj - $xi) * ($yE - $yi) / ($yj - $yi) + $xi) THEN 1 ELSE 0 END)"
    }
    s"((${terms.mkString(" + ")}) % 2 = 1)"
  }

  /** First-match zone CASE over [[RvZones]] (rings OR together). */
  private def zoneCaseSql(xE: String, yE: String): String =
    "CASE " + RvZones.map(z =>
      s"WHEN ${z.rings.map(r => ringInsideSql(r, xE, yE)).mkString(" OR ")} THEN '${z.id}'")
      .mkString(" ") + " END"

  /** 5x5 expert grid at 200 km over +-500 km, t = 18326. */
  private def expertsDerived(s: SparkSession): DataFrame = {
    val ix = s.range(5).select((col("id").cast("double") * 200000.0 - 400000.0).as("ex"))
    val iy = s.range(5).select((col("id").cast("double") * 200000.0 - 400000.0).as("ey"))
    ix.crossJoin(iy).select(col("ex"), col("ey"), lit(18326.0).as("et"))
  }

  private val ExpertsSql =
    """(SELECT CAST(ix AS DOUBLE) * 200000.0 - 400000.0 AS ex FROM range(5) r(ix)),
      |(SELECT CAST(iy AS DOUBLE) * 200000.0 - 400000.0 AS ey FROM range(5) q(iy))""".stripMargin

  /** single-subquery form usable as a JOIN target. */
  private val ExpertsSub = s"(SELECT ex, ey FROM $ExpertsSql) xp"

  // obs-doc table derived from `documents` with binary-exact coordinates —
  // the axis-A span-projection oracle (values round-trip %.6f exactly).
  private def docsDerived(s: SparkSession, dir: String): DataFrame = {
    val d = pq(s, dir, "documents")
    val lon = (col("doc_id") % 1440).cast("double") / 4.0 - 180.0
    val lat = lit(60.0) + (col("doc_id") % 116).cast("double") / 4.0
    val t = (lit(18322) + col("doc_id") % 9).cast("double")
    val z = (col("doc_id") % 64).cast("double") / 64.0
    val reading = format_string("lon=%.6f;lat=%.6f;t=%.1f;z=%.6f;source=%s",
      lon, lat, t, z, col("source"))
    d.select(col("doc_id").cast("string").as("doc_id"),
      array(
        struct(lit("text").as("kind"), concat(lit("hdr "), col("lang")).as("text"),
          lit("").as("media_ref"), lit(0).as("offset")),
        struct(lit("text").as("kind"), reading.as("text"),
          lit("").as("media_ref"), lit(1).as("offset")),
        struct(lit("media").as("kind"), lit("").as("text"),
          concat(lit("swath://"), col("doc_id")).as("media_ref"), lit(2).as("offset"))
      ).as("spans"))
  }

  /** Flagship query on sf=0.001: the full local-expert GP pipeline at toy
    * scale (synthesized obs docs -> bin -> spatial join -> per-tile fit ->
    * predictions). Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val cfg = GpSatPipeline.PipelineConfig(nDocs = 4000, predSpacing = 100000.0)
    val binned = GpSatPipeline.binnedObs(spark, cfg)
    val el = GpSatPipeline.experts(spark, binned, cfg)
    val pg = GpSatPipeline.predGrid(spark, cfg)
    val results = LocalExpertOI.run(spark, binned, el, pg,
      cfg.oi.copy(maxIter = 30))
    LocalExpertOI.preds(results)
  }

  // =====================================================================
  // queries
  // =====================================================================
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- scans / projections / filters (SURVEY §2.1-2.3) -----
    "q01_scan_project" -> ((s, dir) =>
      obsDerived(s, dir).select("obs_id", "x", "y", "t", "z")),

    "q02_where_filters" -> ((s, dir) =>
      // AND of triples plus an OR combination (dataloader `where`/`combine_where`)
      obsDerived(s, dir).filter(
        (col("z") >= 0.0 && col("t") <= 18326.0) || (col("z") < -0.2))
        .select("obs_id", "x", "y", "t", "z")),

    "q03_row_select_negate" -> ((s, dir) =>
      obsDerived(s, dir).filter(!(col("x") > 0.0 && col("y") > 0.0))
        .select("obs_id", "x", "y")),

    // ----- tile assignment / binning (SURVEY §2.5) -----
    "q04_tile_assign" -> ((s, dir) =>
      obsDerived(s, dir)
        .select(col("obs_id"),
          cell_encode(col("x"), col("y"), 300000.0, -800000.0, -800000.0).as("cell"))),

    // hierarchical rollup: fine cells -> level-2 parents (4x coarser per
    // axis) in ONE partial-aggregated groupBy — the H3-style
    // multi-resolution aggregation the cell_parent prefix exists for
    "q96_cell_rollup" -> ((s, dir) =>
      obsDerived(s, dir)
        .groupBy(cell_parent(
          cell_encode(col("x"), col("y"), 100000.0, -800000.0, -800000.0), 2)
          .as("parent_cell"))
        .agg(count(lit(1)).as("n"), sum("z").as("z_sum"))),

    "q05_bin_counts" -> ((s, dir) =>
      obsDerived(s, dir)
        .groupBy(cell_encode(col("x"), col("y"), 100000.0, -800000.0, -800000.0).as("cell"), col("t"))
        .agg(count(lit(1)).as("n"), sum("z").as("z_sum"))
        .select("cell", "t", "n", "z_sum")),

    "q06_bin_mean_centers" -> ((s, dir) =>
      Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", byCols = Seq("t"), gridRes = 100000.0,
        xRange = (-800000.0, 800000.0), yRange = (-800000.0, 800000.0),
        statistics = Seq("mean")))
        .withColumnRenamed("z", "z_mean")),

    "q07_bin_multi_stat" -> ((s, dir) =>
      Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", byCols = Seq.empty, gridRes = 200000.0,
        xRange = (-800000.0, 800000.0), yRange = (-800000.0, 800000.0),
        statistics = Seq("min", "max", "count", "sum")))),

    "q08_stats_on_vals" -> ((s, dir) =>
      obsDerived(s, dir).agg(
        count(lit(1)).as("size"),
        min("z").as("min"), avg("z").as("mean"), max("z").as("max"),
        stddev_samp(col("z")).as("std"))),

    // ----- grids / fan-out (SURVEY §2.2, §2.9) -----
    "q09_expert_grid" -> ((s, _) => expertsDerived(s)),

    "q10_add_data_to_col" -> ((s, _) =>
      Grids.addDataToCol(expertsDerived(s), "date_idx", Seq(0, 1, 2))
        .select("ex", "ey", "et", "date_idx")),

    // ----- the core spatial join (SURVEY §2.4) -----
    "q11_local_select_counts" -> ((s, dir) =>
      SpatialJoin.radiusJoin(obsDerived(s, dir), expertsDerived(s)
          .select(col("ex").as("x"), col("ey").as("y"), col("et").as("t")),
        SpatialJoin.RadiusJoinConfig(radius = 300000.0,
          temporal = Some(SpatialJoin.TemporalWindow("t", "t", -4.0, 4.0))))
        .groupBy(col("expert_x").as("ex"), col("expert_y").as("ey"))
        .agg(count(lit(1)).as("n_obs"))),

    "q12_local_select_rows" -> ((s, dir) =>
      SpatialJoin.radiusJoin(
        obsDerived(s, dir).filter(col("obs_id") % 7 === 0), expertsDerived(s)
          .select(col("ex").as("x"), col("ey").as("y"), col("et").as("t")),
        SpatialJoin.RadiusJoinConfig(radius = 300000.0,
          temporal = Some(SpatialJoin.TemporalWindow("t", "t", -4.0, 4.0))))
        .select(col("obs_id"), col("expert_x").as("ex"), col("expert_y").as("ey"))),

    "q13_pred_radius_strict" -> ((s, dir) => {
      val pg = Grids.grid2dFlatten(s, (-500000.0, 500000.0), (-500000.0, 500000.0), 100000.0)
      SpatialJoin.radiusJoin(pg, expertsDerived(s)
          .select(col("ex").as("x"), col("ey").as("y")),
        SpatialJoin.RadiusJoinConfig(radius = 200000.0, inclusive = false))
        .select(col("x").as("px"), col("y").as("py"),
          col("expert_x").as("ex"), col("expert_y").as("ey"))
    }),

    "q14_knn_join" -> ((s, dir) =>
      // % 97: l_linenumber is 1..7, so obs_id % 100 == 0 was unsatisfiable
      // (vacuous 0-row oracle); % 97 keeps ~600 rows flowing at sf0.01
      SpatialJoin.knnJoin(
        obsDerived(s, dir).filter(col("obs_id") % 97 === 0), expertsDerived(s)
          .select(col("ex").as("x"), col("ey").as("y")),
        Seq("obs_id"), 3,
        SpatialJoin.RadiusJoinConfig(radius = 1000000.0))
        .select(col("obs_id"), col("expert_x").as("ex"), col("expert_y").as("ey"))),

    "q15_resume_antijoin" -> ((s, dir) => {
      val experts = expertsDerived(s)
      val ran = experts.filter((col("ex") / 200000.0 + 2.0).cast("long") % 2 === 0)
      experts.join(ran, Seq("ex", "ey", "et"), "left_anti")
    }),

    // ----- window-function operators (SURVEY §2.6) -----
    "q16_track_num" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      pq(s, dir, "events")
        .withColumn("gap", unix_timestamp(col("ts")) - unix_timestamp(lag("ts", 1).over(w)))
        .withColumn("track_num",
          sum(when(col("gap") > 3600, 1).otherwise(0))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("event_id", "user_id", "track_num")
    }),

    "q17_diff_distance" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      pq(s, dir, "events")
        .withColumn("dvalue", col("value") - lag("value", 1).over(w))
        .filter(col("dvalue").isNotNull)
        .select("event_id", "user_id", "dvalue")
    }),

    // ----- smoothing / glue (SURVEY §2.5, postprocessing) -----
    "q18_smooth_field" -> ((s, dir) => {
      val field = SpatialJoin.radiusJoin(obsDerived(s, dir), expertsDerived(s)
          .select(col("ex").as("x"), col("ey").as("y"), col("et").as("t")),
        SpatialJoin.RadiusJoinConfig(radius = 300000.0,
          temporal = Some(SpatialJoin.TemporalWindow("t", "t", -4.0, 4.0))))
        .groupBy(col("expert_x").as("x"), col("expert_y").as("y"), col("expert_t").as("t"))
        .agg((count(lit(1)) / 1000.0).as("v"))
      Postprocess.smoothHyperparameters(field, Postprocess.SmoothConfig(
        "v", otherDims = Seq("t"), lX = 200000.0, lY = 200000.0, maxVal = Some(5.0)))
        .select(col("x").as("ex"), col("y").as("ey"), col("v"))
    }),

    "q19_glue_weighted" -> ((s, dir) => {
      // glue per-expert values onto shared pred locations (exp weights)
      val j = SpatialJoin.radiusJoin(
        Grids.grid2dFlatten(s, (-500000.0, 500000.0), (-500000.0, 500000.0), 100000.0),
        expertsDerived(s).select(col("ex").as("x"), col("ey").as("y")),
        SpatialJoin.RadiusJoinConfig(radius = 200000.0, inclusive = false))
        .select(col("x").as("px"), col("y").as("py"),
          col("expert_x"), col("expert_y"),
          (col("expert_x") / 1000000.0 + col("expert_y") / 2000000.0).as("fstar"))
      Postprocess.getWeightedValues(j, Seq("px", "py"), Seq("expert_x", "expert_y"),
        Seq("fstar"), lengthscale = 100000.0)
    }),

    // ----- span projection / axis-A invariant -----
    "q20_span_extract" -> ((s, dir) =>
      ObsDocs.extractObs(docsDerived(s, dir))
        .select(col("doc_id").cast("long").as("doc_id"),
          col("lon"), col("lat"), col("t"), col("z"), size(col("spans")).as("n_spans"))),

    "q21_span_invariant" -> ((s, dir) =>
      // spans flattened AFTER passing through extraction + a filter + projection
      ObsDocs.extractObs(docsDerived(s, dir))
        .filter(col("t") <= 18326.0)
        .select(col("doc_id").cast("long").as("doc_id"), posexplode(col("spans")).as(Seq("pos", "s")))
        .select(col("doc_id"), col("pos"), col("s.kind").as("kind"),
          col("s.text").as("text"), col("s.media_ref").as("media_ref"), col("s.offset").as("offset"))),

    // span-sequence roundtrip: explode -> adversarial shuffle (kind
    // interleaves docs across partitions) -> reassemble from each span's
    // own position -> re-explode; the oracle is q21's span synthesis, so
    // hash equality PROVES order survived the shuffle
    "q81_span_roundtrip" -> ((s, dir) => {
      val exploded = ObsDocs.extractObs(docsDerived(s, dir))
        .select(col("doc_id").cast("long").as("doc_id"),
          posexplode(col("spans")).as(Seq("pos", "sp")))
        .select(col("doc_id"), col("pos"), col("sp.kind").as("kind"),
          col("sp.text").as("text"), col("sp.media_ref").as("media_ref"),
          col("sp.offset").as("offset"))
        .repartition(col("kind")) // destroys any residual row order
      ObsDocs.reassembleSpans(exploded)
        .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "sp")))
        .select(col("doc_id"), col("pos"), col("sp.kind").as("kind"),
          col("sp.text").as("text"), col("sp.media_ref").as("media_ref"),
          col("sp.offset").as("offset"))
    }),

    // ----- dedup (training-data ops) -----
    "q22_dedup_exact" -> ((s, dir) =>
      Dedup.exact(pq(s, dir, "documents"), "doc_id", "text")),

    "q23_ngram_jaccard" -> ((s, dir) =>
      // doc_id < 1000 caps the quadratic candidate space at larger SFs
      Dedup.ngramJaccardPairs(pq(s, dir, "documents").filter(col("doc_id") < 1000),
        "doc_id", "text", n = 1, threshold = 0.8, maxNgramFreq = 100000)
        .select(col("idA"), col("idB"), col("jaccard"))),

    // pair-generation machinery (banding, capped bucket self-join,
    // verification) over SQL-expressible synthetic signatures so the
    // DuckDB oracle pins the scale-critical join logic exactly; the hash
    // expressions themselves (minhash_sig/simhash64) are golden-tested
    // against brute force in DedupSpec.
    "q24_minhash_pairs" -> ((s, dir) => {
      val sig = pq(s, dir, "documents").filter(col("doc_id") < 1000)
        .select(col("doc_id").as("id"),
          transform(sequence(lit(0), lit(63)), i =>
            (floor(col("doc_id") / pow(lit(2.0), pmod(i, lit(7)).cast("double"))).cast("long") * 7919L
              + i.cast("long") * 104729L) % 1000003L).as("sig"))
      Dedup.minhashPairsFromSig(sig, k = 64, bands = 16, threshold = 0.5, maxBucketSize = 6)
    }),

    "q25_simhash_pairs" -> ((s, dir) => {
      // synthetic 63-bit signature built from four 15-bit lanes (no int64
      // overflow under ANSI mode; same arithmetic in the DuckDB oracle);
      // ids in the same 8-block differ only in the low 3 bits
      val block = shiftright(col("doc_id"), 3) + 1L
      val lanes = Seq((1000003L, 12345L, 1L), (7919L, 54321L, 65536L),
        (104729L, 777L, 4294967296L), (31337L, 999L, 281474976710656L))
      val sigExpr = lanes.map { case (c, d, scale) =>
        ((block * c + d) % 32749L) * scale
      }.reduce(_ + _).bitwiseXOR(pmod(col("doc_id"), lit(8L)))
      val sig = pq(s, dir, "documents").filter(col("doc_id") < 1000)
        .select(col("doc_id").as("id"), sigExpr.as("sig"))
      Dedup.simhashPairsFromSig(sig, maxHamming = 8, maxBucketSize = 8)
    }),

    "q26_embedding_dedup" -> ((s, dir) =>
      Dedup.cosinePairsLsh(pq(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.5, nPlanes = 4, bucketGroups = 4, maxBucketSize = 1000)),

    // greedy survivorship over verified near-dup pairs: a doc survives
    // unless a smaller-id near-duplicate exists (single anti-join pass)
    "q46_dedup_drop" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").filter(col("doc_id") < 1000)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 1, threshold = 0.8, maxNgramFreq = 100000)
      Dedup.dropDuplicatesByPairs(docs, "doc_id", pairs)
        .select("doc_id", "n_chars")
    }),

    // ----- text analysis -----
    "q27_token_counts" -> ((s, dir) =>
      pq(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("n_chars_calc"))),

    "q28_quality_metrics" -> ((s, dir) =>
      TextAnalysis.qualityMetrics(pq(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
          col("distinct_token_ratio"))),

    "q29_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(pq(s, dir, "documents"), "text")
        .select("doc_id", "lang_pred")),

    // from-sig split (the q24/q25 pattern): the window-min SELECTION stage
    // runs over SQL-expressible synthetic hash arrays so DuckDB pins the
    // exact fingerprints; the k-gram bit-mixing hash half is golden-tested
    // (ExpressionsSpec winnow + TextAnalysisSpec split-consistency).
    // REAL media decode roundtrip: constant-colour PNGs are encoded from
    // doc_id arithmetic with the JDK's own ImageIO codec, probed back
    // through Multimodal.RealDecoders (the genuine PNG decoder, not the
    // stub) — lossless constant images make width/height/channel means
    // pure arithmetic the DuckDB oracle replicates exactly
    "q56_media_probe" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val media = pq(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 101 === 0).as[Long].map { id =>
          val w = 8 + (id % 16).toInt
          val h = 8 + (id % 11).toInt
          val rgb = ((id % 256).toInt << 16) | (((id * 7) % 256).toInt << 8) | ((id * 13) % 256).toInt
          val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          graft.operators.Multimodal.MediaRow(id.toString, s"png://$id", bos.toByteArray, "image")
        }
      graft.operators.Multimodal.probeMedia(media)
        .select(col("doc_id").cast("long").as("doc_id"), col("kind"),
          col("width"), col("height"),
          col("mean")(0).as("mean_r"), col("mean")(1).as("mean_g"), col("mean")(2).as("mean_b"))
    }),

    // benchmark decontamination (GPT-3 appendix-C recipe, n-gram
    // collision): benchmark = every 37th doc, corpus = all documents;
    // n=3 keeps the oracle SQL-expressible (production default is 13)
    "q55_decontaminate" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 37 === 0)
      graft.operators.Decontaminate.contaminatedIds(docs, bench, "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("contaminated_grams"))
    }),

    "q30_fingerprint" -> ((s, dir) => {
      val hs = transform(sequence(lit(0L), lit(19L)),
        i => ((col("doc_id") + lit(1L)) * (i + lit(13L)) * lit(2654435761L)) % lit(104729L))
      TextAnalysis.winnowFromHashes(
        pq(s, dir, "documents").select(col("doc_id"), hs.as("hs")),
        "doc_id", "hs", window = 4)
    }),

    // ----- similarity search -----
    "q31_ann_bruteforce" -> ((s, dir) => {
      val e = pq(s, dir, "embeddings")
      SimilaritySearch.bruteForceTopK(e, e.filter(col("vec_id") < 3), "vec_id",
        "embedding", "vec_id", k = 3)
        .select("query_id", "item_id", "rank")
    }),

    "q32_ann_ivf" -> ((s, dir) => {
      val e = pq(s, dir, "embeddings")
      SimilaritySearch.ivfTopK(e, e.filter(col("vec_id") < 3), "vec_id",
        "embedding", "vec_id", k = 3, nlist = 8, nprobe = 3)
        .select("query_id", "item_id", "rank")
    }),

    // domain-cluster corpus balance: zero-shuffle centroid assignment
    // (q32's codebook) composed with q88's mixture-weight math — the
    // embedding-domain re-balancing step of a training-data pipeline
    "q97_cluster_balance" -> ((s, dir) => {
      val e = pq(s, dir, "embeddings")
      TextAnalysis.mixtureWeights(
          SimilaritySearch.assignClusters(e, "vec_id", "embedding", nlist = 8),
          "cluster_id")
        .select("cluster_id", "n_docs", "actual_frac", "target_frac", "weight")
    }),

    // IVF-PQ-style asymmetric-distance top-k: items scored from 8 one-byte
    // PQ codes via per-query distance tables (the 100 TB payload shape —
    // ~32x smaller than the raw float vectors); deterministic per-subspace
    // codebooks (16 smallest-id items), exactly reproducible in SQL
    "q64_ann_pq" -> ((s, dir) => {
      val e = pq(s, dir, "embeddings")
      SimilaritySearch.pqTopK(e, e.filter(col("vec_id") < 3), "vec_id",
        "embedding", "vec_id", k = 3, m = 8, ksub = 16)
        .select("query_id", "item_id", "rank")
    }),

    // scalar quantization (FAISS SQ8 analog): per-dim [min,max] bounds,
    // one byte per component, asymmetric cosine against reconstructions
    "q82_ann_sq8" -> ((s, dir) => {
      val e = pq(s, dir, "embeddings")
      SimilaritySearch.sqTopK(e, e.filter(col("vec_id") < 3), "vec_id",
        "embedding", "vec_id", k = 3)
        .select("query_id", "item_id", "rank")
    }),

    // IVF + SQ8 composed (the FAISS "IVF8,SQ8" index-factory shape):
    // coarse lists prune the scan, candidates score from byte codes
    "q84_ann_ivfsq" -> ((s, dir) => {
      val e = pq(s, dir, "embeddings")
      SimilaritySearch.ivfSqTopK(e, e.filter(col("vec_id") < 3), "vec_id",
        "embedding", "vec_id", k = 3, nlist = 8, nprobe = 4)
        .select("query_id", "item_id", "rank")
    }),

    // Gopher/MassiveText repetition filters at word granularity — computed
    // per row with a sort + one O(n) aggregate pass (zero shuffle; the
    // explode->groupBy plan would shuffle the full token stream)
    "q85_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionMetrics(pq(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "n_tokens", "top_token_frac", "dup_token_frac",
          "top_bigram_frac")),

    // incremental archive dedup (daily-crawl-vs-corpus): broadcast Bloom
    // prefilter over archive text hashes + exact confirm anti-join on the
    // positives only. Batch = odd ids with ~10% of rows deterministically
    // overwritten by the preceding (archived) doc's text so the drop path
    // is exercised; archive = even ids.
    "q86_archive_dedup" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      val prevTxt = docs.select((col("doc_id") + 1).as("doc_id"), col("text").as("ptext"))
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .join(prevTxt, Seq("doc_id"), "left")
        .withColumn("text",
          when(col("doc_id") % 10 === 1 && col("ptext").isNotNull, col("ptext"))
            .otherwise(col("text")))
        .select("doc_id", "text", "source")
      val archive = docs.filter(col("doc_id") % 2 === 0)
      Dedup.dedupAgainstArchive(batch, archive, "text",
          expectedArchiveItems = 100000L, fpp = 0.001)
        .select("doc_id", "source")
    }),

    // PII scan + redaction: deterministic email/phone/ipv4 injections
    // (the synthetic corpus has no digits or @, so every match is the
    // injected one) counted on the original text and redacted in order
    "q87_pii_redact" -> ((s, dir) => {
      val injected = pq(s, dir, "documents").withColumn("text2",
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" mail bob"), col("doc_id").cast("string"), lit("@example.org now")))
          .when(col("doc_id") % 3 === 1,
            concat(lit(" call (555) 123-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" soon")))
          .otherwise(concat(lit(" host 10."), (col("doc_id") % 200).cast("string"),
            lit(".0."), (col("doc_id") % 250).cast("string"), lit(" up")))))
      TextAnalysis.redactPii(injected, "text2")
        .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ipv4"),
          col("text_redacted"))
    }),

    // per-source mixture weights for corpus re-balancing (uniform target):
    // one partial-aggregated groupBy + single-row broadcast totals
    "q88_mixture_weights" -> ((s, dir) =>
      TextAnalysis.mixtureWeights(pq(s, dir, "documents"), "source")
        .select("source", "n_docs", "actual_frac", "target_frac", "weight")),

    // substring-level exact dedup stats (Lee et al. 2022 at word
    // granularity): token positions covered by any corpus-duplicated
    // word 5-gram, interval-unioned per document; only the 8-byte gram
    // hashes shuffle
    "q89_dup_passages" -> ((s, dir) =>
      Dedup.duplicatedPassageStats(pq(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "n_tokens", "n_dup_tokens", "dup_frac")),

    // char-trigram LM perplexity scoring (CCNet-style quality filter):
    // model trained on the doc_id%10==0 slice, scored corpus-wide via a
    // broadcast model join; avg_logprob rounded to 4 decimals so the
    // cross-engine float-sum order cannot flip the comparison
    "q90_trigram_lm" -> ((s, dir) =>
      TextAnalysis.trigramLmScore(pq(s, dir, "documents"), "doc_id", "text",
        sampleFilter = col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("n_trigrams"),
          round(col("avg_logprob"), 4).as("avg_logprob"))),

    // leakage-free train/val split: near-dup components (q59's pair
    // graph) land whole on one side; the split key is the Knuth
    // multiplicative hash of the component representative so the oracle
    // can recompute it (the operator default is salted xxhash64)
    "q91_leakage_split" -> ((s, dir) => {
      val ids = pq(s, dir, "documents").select(col("doc_id")).filter(col("doc_id") < 2000)
      val pairs = ids.filter(col("doc_id") % 50 < 43)
        .select(col("doc_id").as("idA"), (col("doc_id") + 7).as("idB"))
        .join(ids.select(col("doc_id").as("idB")), Seq("idB"))
        .select("idA", "idB")
      Dedup.leakageFreeSplit(ids, "doc_id", pairs, valFrac = 0.1,
        splitKey = c => pmod(c * lit(2654435761L), lit(1L << 20)))
        .select("doc_id", "split")
    }),

    // greedy in-order sequence packing (training-batch construction):
    // chunk = doc_id/100 is the parallelism unit; packing inside a chunk
    // is the secondary-sort single-pass mapPartitions
    "q92_pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(pq(s, dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(col("text")),
        expr("doc_id div 100"), budget = 600L)
        .select("doc_id", "chunk", "n_tokens", "bin", "bin_fill")),

    // destructive passage cut: q89's candidate plan, survivors re-joined
    // per row (indexed array filter against the doc's dup-start list)
    "q93_cut_passages" -> ((s, dir) =>
      Dedup.cutDuplicatedPassages(pq(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "text_deduped")),

    // perceptual image hashing through a REAL codec roundtrip: two-tone
    // PNGs (left k*10 of 80 columns white) encode via ImageIO and decode
    // through aHash64; the 8x8 grid aligns with the tone boundary, so the
    // hash is the closed form (2^k - 1) * 0x0101010101010101 the oracle
    // recomputes — q56's roundtrip idea extended to the perceptual key
    "q94_image_ahash" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val media = pq(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 97 === 0).as[Long].map { id =>
          val k = (id % 8).toInt
          val img = new java.awt.image.BufferedImage(80, 80,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 80) {
            var x = 0
            while (x < 80) {
              img.setRGB(x, y, if (x < k * 10) 0xFFFFFF else 0x000000); x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          graft.operators.Multimodal.MediaRow(id.toString, s"png://$id", bos.toByteArray, "image")
        }
      graft.operators.Multimodal.imageHashes(media)
        .select(col("doc_id").cast("long").as("doc_id"), col("media_ref"), col("ahash"))
    }),

    // audio twin of q94 through the REAL javax.sound WAV codec: a ±8000
    // square wave fills the first k*800 of 6400 samples (k*8 of the 64
    // energy windows, exactly window-aligned), so the fingerprint is the
    // closed form 2^(8k) - 1
    "q95_audio_hash" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val media = pq(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 89 === 0).as[Long].map { id =>
          val k = (id % 8).toInt
          val n = 6400
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < k * 800) {
            val v: Short = if (i % 2 == 0) 8000 else -8000
            pcm(2 * i) = (v & 0xff).toByte
            pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          graft.operators.Multimodal.MediaRow(id.toString, s"wav://$id", bos.toByteArray, "audio")
        }
      graft.operators.Multimodal.audioHashes(media)
        .select(col("doc_id").cast("long").as("doc_id"), col("media_ref"), col("audiohash"))
    }),

    // full IVF-PQ: coarse lists prune the candidate set AND candidates
    // ship only their PQ codes into the probe join — the combined 100 TB
    // ANN plan (non-residual FAISS-IVFPQ shape)
    "q65_ann_ivfpq" -> ((s, dir) => {
      val e = pq(s, dir, "embeddings")
      SimilaritySearch.ivfPqTopK(e, e.filter(col("vec_id") < 3), "vec_id",
        "embedding", "vec_id", k = 3, nlist = 8, nprobe = 4, m = 8, ksub = 16)
        .select("query_id", "item_id", "rank")
    }),

    // RESIDUAL IVF-PQ (the true FAISS-IVFPQ shape): items quantize
    // r = v - c_list against a residual codebook; ADC adds <q, c_list>
    // back and norms against the exact reconstruction
    "q67_ann_ivfpq_residual" -> ((s, dir) => {
      val e = pq(s, dir, "embeddings")
      SimilaritySearch.ivfPqTopK(e, e.filter(col("vec_id") < 3), "vec_id",
        "embedding", "vec_id", k = 3, nlist = 8, nprobe = 4, m = 8, ksub = 16,
        residual = true)
        .select("query_id", "item_id", "rank")
    }),

    // ----- multimodal plumbing -----
    "q33_media_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decodeFeatures(Multimodal.mediaTable(docsDerived(s, dir)))
        .toDF().select(col("doc_id").cast("long").as("doc_id"),
          col("media_ref"), col("width"), col("height"), col("n_frames"))
    }),

    // per-frame fan-out (every 2nd frame of each clip becomes a row):
    // q33's stub decode, so the expansion is oracle-pinned end-to-end
    "q98_frame_sample" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.sampleFrames(Multimodal.mediaTable(docsDerived(s, dir)), everyN = 2)
        .toDF().select(col("doc_id").cast("long").as("doc_id"),
          col("media_ref"), col("frame_idx"), col("frame_sig"))
    }),

    // ----- the GP engine run over oracle-checkable windows -----
    // real exact-GP fits on the derived obs table (x > 0 half-plane leaves
    // the ex<0 experts with ZERO observations, exercising the stub-row
    // path); the oracle pins (x, y, t, num_obs) — the q11-style window
    // count SQL including num_obs=0 stubs. GP numerics are golden-tested
    // in GprSpec/PipelineSpec.
    "q34_gp_run_details" -> ((s, dir) => {
      val obs = obsDerived(s, dir).filter(col("x") > 0.0)
      val experts = expertsDerived(s)
        .select(col("ex").as("x"), col("ey").as("y"), col("et").as("t"))
      val pg = Grids.grid2dFlatten(s, (-500000.0, 500000.0), (-500000.0, 500000.0), 100000.0)
      // maxObsPerTile = 600 never binds at the oracle SF (sf0.01 max window
      // is 508) but bounds the exact-GP O(n^3) cost at larger bench SFs
      // (sf0.1 windows reach ~5,000 obs — that regime belongs to SGPR, q40)
      val results = LocalExpertOI.run(s, obs, experts, pg,
        OIConfig(trainingRadius = 80000.0, maxIter = 30, maxObsPerTile = 600))
      LocalExpertOI.runDetails(results).select("x", "y", "t", "num_obs")
    }),

    "q36_bin_median" -> ((s, dir) =>
      Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", byCols = Seq.empty, gridRes = 400000.0,
        xRange = (-800000.0, 800000.0), yRange = (-800000.0, 800000.0),
        statistics = Seq("median")))
        .withColumnRenamed("z", "z_median")),

    "q37_union_distinct" -> ((s, dir) => {
      val a = obsDerived(s, dir).filter(col("t") <= 18325.0).select("obs_id", "t")
      val b = obsDerived(s, dir).filter(col("t") >= 18324.0).select("obs_id", "t")
      a.unionByName(b).distinct()
    }),

    "q38_track_num_for_date" -> ((s, dir) => {
      // within-date row counter resetting on date change (utils.py:2477-2487)
      val w = Window.partitionBy(col("user_id"), to_date(col("ts")).cast("string"))
        .orderBy("ts", "event_id")
      pq(s, dir, "events")
        .withColumn("track_in_date", row_number().over(w) - 1)
        .select("event_id", "user_id", "track_in_date")
    }),

    "q39_grid_spacing_infer" -> ((s, dir) => {
      // min diff of sorted distinct coordinate (utils.py:2058-2059);
      // the global window sorts the DISTINCT t values (grid-axis-sized,
      // dozens) — the WindowExec single-partition warning refers to that
      val w = Window.orderBy("t")
      obsDerived(s, dir).select("t").distinct()
        .withColumn("d", col("t") - lag("t", 1).over(w))
        .agg(min("d").as("grid_spacing"))
    }),

    // SGPR (Titsias sparse GP, the reference's production model) run over
    // the same oracle-checkable windows as q34: tiles above the threshold
    // fit with inducing points, empty tiles stub — the model column is
    // derivable from the window count, so the swap itself is oracle-pinned.
    "q40_sgpr_run_details" -> ((s, dir) => {
      val obs = obsDerived(s, dir).filter(col("x") > 0.0)
      val experts = expertsDerived(s)
        .select(col("ex").as("x"), col("ey").as("y"), col("et").as("t"))
      val pg = Grids.grid2dFlatten(s, (-500000.0, 500000.0), (-500000.0, 500000.0), 100000.0)
      val results = LocalExpertOI.run(s, obs, experts, pg,
        OIConfig(trainingRadius = 80000.0, maxIter = 30, sgprAboveN = 100, sgprM = 64))
      LocalExpertOI.runDetails(results).select("x", "y", "t", "num_obs", "model")
    }),

    // ----- expert-location masks (SURVEY §2.3, dataloader.py:2715-2805) -----
    "q41_had_obs_mask" -> ((s, dir) => {
      // bin only the (+,+) quadrant: experts on unobserved cells must drop
      val binned = Binning.binDataBy(
        obsDerived(s, dir).filter(col("x") > 0.0 && col("y") > 0.0),
        Binning.BinConfig(valCol = "z", gridRes = 200000.0,
          xRange = (-800000.0, 800000.0), yRange = (-800000.0, 800000.0)))
      val experts = Grids.grid2dFlatten(s, (-800000.0, 800000.0), (-800000.0, 800000.0), 200000.0)
      Grids.hadObsMask(experts, binned, obsCol = "z").select("x", "y")
    }),

    "q42_grid_space_mask" -> ((s, _) =>
      Grids.gridSpaceMask(
        Grids.grid2dFlatten(s, (-500000.0, 500000.0), (-500000.0, 500000.0), 100000.0),
        dims = Seq("x", "y"), gridSpace = 3, gridSpaceOffset = 1)
        .select("x", "y")),

    // ----- local_select on generated prediction locations (§2.9) -----
    "q43_pred_local_select" -> ((s, _) => {
      val pg = Grids.grid2dFlatten(s, (-500000.0, 500000.0), (-500000.0, 500000.0), 100000.0)
      val joined = SpatialJoin.radiusJoin(pg, expertsDerived(s)
          .select(col("ex").as("x"), col("ey").as("y")),
        SpatialJoin.RadiusJoinConfig(radius = 200000.0, inclusive = false))
      Grids.localSelect(joined,
        Seq(("x", "<=", 0.0), ("y", ">", -100000.0)))
        .select(col("x").as("px"), col("y").as("py"),
          col("expert_x").as("ex"), col("expert_y").as("ey"))
    }),

    // ----- config_func multi-output + DMS parse (§2.2) -----
    "q44_col_funcs_multi" -> ((s, dir) => {
      val li = pq(s, dir, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("obs_id"),
        col("l_quantity"),
        concat(
          (col("l_orderkey") % 90).cast("string"), lit(" "),
          format_string("%.4f", (col("l_partkey") % 5999).cast("double") / 100.0), lit(" "),
          when(col("l_suppkey") % 2 === 0, "S").otherwise("N")).as("lat_dms"))
      ConfigExpr.applyColFuncs(li, Seq(
        ConfigExpr.ColFunc(out = "", func = "divmod", colArgs = Seq("l_quantity"),
          args = Seq(7), outs = Seq("qt", "rem")),
        ConfigExpr.ColFunc(out = "lat_f", func = "dms_to_float", colArgs = Seq("lat_dms"))))
        .select("obs_id", "qt", "rem", "lat_f")
    }),

    // SVGP and VFF over the same oracle-checkable windows as q40: the
    // model column is forced by name, so the oracle pins window counts and
    // the registry dispatch while the real variational fits run underneath.
    "q47_svgp_run_details" -> ((s, dir) => {
      val obs = obsDerived(s, dir).filter(col("x") > 0.0)
      val experts = expertsDerived(s)
        .select(col("ex").as("x"), col("ey").as("y"), col("et").as("t"))
      val pg = Grids.grid2dFlatten(s, (-500000.0, 500000.0), (-500000.0, 500000.0), 100000.0)
      val results = LocalExpertOI.run(s, obs, experts, pg,
        OIConfig(trainingRadius = 80000.0, maxIter = 30, model = "GraftSVGP", sgprM = 32))
      LocalExpertOI.runDetails(results).select("x", "y", "t", "num_obs", "model")
    }),

    "q48_vff_run_details" -> ((s, dir) => {
      val obs = obsDerived(s, dir).filter(col("x") > 0.0)
      val experts = expertsDerived(s)
        .select(col("ex").as("x"), col("ey").as("y"), col("et").as("t"))
      val pg = Grids.grid2dFlatten(s, (-500000.0, 500000.0), (-500000.0, 500000.0), 100000.0)
      val results = LocalExpertOI.run(s, obs, experts, pg,
        OIConfig(trainingRadius = 80000.0, maxIter = 25, model = "GraftVFF", sgprM = 343))
      LocalExpertOI.runDetails(results).select("x", "y", "t", "num_obs", "model")
    }),

    // ASVGP (B-spline inducing features, the reference's last sparse-family
    // member) through the same real fit path; oracle pins (x, y, t,
    // num_obs, model) — the GP numerics are pinned by AsvgpGprSpec goldens
    "q50_asvgp_run_details" -> ((s, dir) => {
      val obs = obsDerived(s, dir).filter(col("x") > 0.0)
      val experts = expertsDerived(s)
        .select(col("ex").as("x"), col("ey").as("y"), col("et").as("t"))
      val pg = Grids.grid2dFlatten(s, (-500000.0, 500000.0), (-500000.0, 500000.0), 100000.0)
      val results = LocalExpertOI.run(s, obs, experts, pg,
        OIConfig(trainingRadius = 80000.0, maxIter = 25, model = "GraftASVGP", sgprM = 125))
      LocalExpertOI.runDetails(results).select("x", "y", "t", "num_obs", "model")
    }),

    // ----- netCDF gridded source + sink (§2.1) -----
    // bin -> write ONE classic netCDF-3 granule -> parallel binaryFile
    // read-back; doubles roundtrip bit-exactly, so the bin-mean oracle
    // pins BOTH the writer and the reader.
    // KISS-GP / SKI (gpytorch_models.py:321-386) through the real fit path;
    // oracle pins (x, y, t, num_obs, model); SKI numerics are pinned by
    // SkiMaternSpec (kernel convergence + exact-GP parity)
    "q52_kissgp_run_details" -> ((s, dir) => {
      val obs = obsDerived(s, dir).filter(col("x") > 0.0)
      val experts = expertsDerived(s)
        .select(col("ex").as("x"), col("ey").as("y"), col("et").as("t"))
      val pg = Grids.grid2dFlatten(s, (-500000.0, 500000.0), (-500000.0, 500000.0), 100000.0)
      // cap never binds at the oracle SF (sf0.01 max window 508) but bounds
      // the SKI cost at larger bench SFs (like q34); the catalog smoke
      // prices the FD-gradient L-BFGS at maxIter=5 — the oracle pins
      // (num_obs, model), SKI numerics are SkiGprSpec-pinned, and
      // grid density / iteration budget are user knobs
      val results = LocalExpertOI.run(s, obs, experts, pg,
        OIConfig(trainingRadius = 80000.0, maxIter = 5, model = "GraftKISS", sgprM = 1000,
          maxObsPerTile = 600))
      LocalExpertOI.runDetails(results).select("x", "y", "t", "num_obs", "model")
    }),

    // Multioutput GP (multioutput/gpr.py): two co-located channels reading
    // one latent field with gains (1, 2) — the IS2+SMAP joint-measurement
    // shape. Real MultioutputGpr fits per window (deterministically capped
    // at 100 locations; num_obs reports the FULL window, N_subsample
    // semantics); oracle pins (x, y, t, num_obs, model). GP numerics are
    // pinned by MultioutputGprSpec (exact-GP collapse + factorisation).
    "q51_multioutput_run_details" -> ((s, dir) => {
      import s.implicits._
      val obs = obsDerived(s, dir).filter(col("x") > 0.0)
      val experts = expertsDerived(s)
      val joined = obs.join(broadcast(experts),
        (col("x") - col("ex")) * (col("x") - col("ex")) +
          (col("y") - col("ey")) * (col("y") - col("ey")) <= 80000.0 * 80000.0 &&
          col("t") >= col("et") - 4 && col("t") <= col("et") + 4)
        .select(col("ex"), col("ey"), col("et"), col("obs_id").cast("long"),
          col("x"), col("y"), col("t"), col("z"))
        .as[(Double, Double, Double, Long, Double, Double, Double, Double)]
      val fitted = joined
        .groupByKey(r => (r._1, r._2, r._3))
        .mapGroups { (key: (Double, Double, Double),
                      it: Iterator[(Double, Double, Double, Long, Double, Double, Double, Double)]) =>
          val (ex, ey, et) = key
          val rows = it.toArray.sortBy(_._4)
          val nObs = rows.length
          val model =
            if (nObs < 3) "GraftGPR"
            else {
              val use = rows.take(100)
              val coords = breeze.linalg.DenseMatrix.tabulate[Double](use.length, 3) { (i, k) =>
                if (k == 0) (use(i)._5 - ex) / 50000.0
                else if (k == 1) (use(i)._6 - ey) / 50000.0
                else use(i)._7 - et
              }
              // channel 0 = z, channel 1 = 2z + deterministic offset noise
              val ys = breeze.linalg.DenseMatrix.tabulate[Double](use.length, 2) { (i, p) =>
                if (p == 0) use(i)._8 else 2.0 * use(i)._8 + 0.001 * (use(i)._4 % 7 - 3)
              }
              val mo = new graft.gp.MultioutputGpr(coords, ys,
                breeze.linalg.DenseMatrix(1.0, 2.0))
              val bij: Array[graft.gp.Bijector] = Array(
                graft.gp.Bijectors.SigmoidScaled(1e-3, 20.0),
                graft.gp.Bijectors.SigmoidScaled(1e-3, 20.0),
                graft.gp.Bijectors.SigmoidScaled(1e-3, 20.0),
                graft.gp.Bijectors.SigmoidScaled(1e-4, 5.0),
                graft.gp.Bijectors.SigmoidScaled(1e-5, 1.0),
                graft.gp.Bijectors.SigmoidScaled(1e-5, 1.0))
              val (_, _, _, _) = mo.optimise(
                Array(1.0, 1.0, 1.0, 0.1, 0.01, 0.01), bij, maxIter = 8, tolerance = 1e-5)
              "GraftMOGPR"
            }
          (ex, ey, et, nObs, model)
        }
        .toDF("x", "y", "t", "num_obs", "model")
      // stub rows for zero-obs experts (resume semantics parity)
      val stubs = experts.join(fitted,
          experts("ex") === fitted("x") && experts("ey") === fitted("y"), "left_anti")
        .select(col("ex").as("x"), col("ey").as("y"), col("et").as("t"),
          lit(0).as("num_obs"), lit("GraftGPR").as("model"))
      fitted.select(col("x"), col("y"), col("t"),
        col("num_obs").cast("int").as("num_obs"), col("model")).union(stubs)
    }),

    // HDF5 write -> read roundtrip through the pure-JVM codec (the
    // reference's canonical .h5 store, dataloader.py:563-624): the oracle
    // recomputes the binned values from parquet, so it pins the WRITER and
    // the READER bit-for-bit (doubles roundtrip exactly or the hash breaks)
    "q49_hdf5_roundtrip" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", gridRes = 200000.0, xRange = (-800000.0, 800000.0),
        yRange = (-800000.0, 800000.0), statistics = Seq("mean")))
        .withColumnRenamed("z", "z_mean").select("x", "y", "z_mean")
      val tmp = java.nio.file.Files.createTempDirectory("graft_q49_").toString + "/binned.h5"
      graft.sources.Hdf5Table.writeFile(binned, tmp)
      graft.core.ConfigExpr.load(s, graft.core.ConfigExpr.DataConfig(
        source = tmp, colSelect = Seq("x", "y", "z_mean")))
    }),

    // zarr v2 store roundtrip (the reference's remaining source suffix,
    // dataloader.py:28-35 zarr -> open_zarr): binned grid -> zarr write
    // (multi-chunk zlib) -> the ConfigExpr .zarr dispatch's chunk-parallel
    // scan; the oracle recomputes from parquet, pinning writer AND reader
    "q54_zarr_roundtrip" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", gridRes = 200000.0, xRange = (-800000.0, 800000.0),
        yRange = (-800000.0, 800000.0), statistics = Seq("mean")))
        .withColumnRenamed("z", "z_mean").select("x", "y", "z_mean")
      val tmp = java.nio.file.Files.createTempDirectory("graft_q54_").toString + "/binned.zarr"
      // the EXECUTOR-side chunk writer (byte-identical to the driver sink
      // per ZarrSpec) — the driver gate exercises the scale path
      graft.sources.ZarrGrid.writeGrid2dDistributed(binned, tmp, "x", "y", Seq("z_mean"),
        chunkRows = 3)
      graft.core.ConfigExpr.load(s, graft.core.ConfigExpr.DataConfig(
        source = tmp, colSelect = Seq("x", "y", "z_mean")))
    }),

    // same grid through the zarr DEFAULT compressor: chunk files re-framed
    // as blosc1 (lz4 inner codec, byte-shuffled — what numcodecs Blosc
    // writes), decoded by the pure-JVM BloscLite codec in the same
    // chunk-parallel scan; oracle recomputes from parquet
    "q58_zarr_blosc" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", gridRes = 200000.0, xRange = (-800000.0, 800000.0),
        yRange = (-800000.0, 800000.0), statistics = Seq("mean")))
        .withColumnRenamed("z", "z_mean").select("x", "y", "z_mean")
      val tmp = java.nio.file.Files.createTempDirectory("graft_q58_").toString + "/binned.zarr"
      graft.sources.ZarrGrid.writeGrid2dDistributed(binned, tmp, "x", "y", Seq("z_mean"),
        chunkRows = 3)
      graft.sources.ZarrGrid.toBlosc(s, tmp + "/z_mean", cname = "lz4")
      graft.sources.ZarrGrid.toBlosc(s, tmp + "/x", cname = "zlib")
      // third codec family in the same store: bare numcodecs Zstd()
      // frames on the y axis, decoded by the pure-JVM ZstdLite
      graft.sources.ZarrGrid.toZstd(s, tmp + "/y")
      graft.core.ConfigExpr.load(s, graft.core.ConfigExpr.DataConfig(
        source = tmp, colSelect = Seq("x", "y", "z_mean")))
    }),

    // the SAME grid written as zarr V3 (zarr-python 3's default format):
    // one zarr.json per node, dims in dimension_names, c/-prefixed chunk
    // keys, codec chain [bytes le, zstd] with REAL entropy-coded frames
    // from zstd-jni (via ZstdLite) — read back through the same
    // chunk-parallel scan (executor-side writes AND reads)
    "q68_zarr_v3_roundtrip" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", gridRes = 200000.0, xRange = (-800000.0, 800000.0),
        yRange = (-800000.0, 800000.0), statistics = Seq("mean")))
        .withColumnRenamed("z", "z_mean").select("x", "y", "z_mean")
      val tmp = java.nio.file.Files.createTempDirectory("graft_q68_").toString + "/binned.zarr"
      graft.sources.ZarrGrid.writeGrid2dDistributed(binned, tmp, "x", "y", Seq("z_mean"),
        chunkRows = 3, compressor = "zstd", zarrFormat = 3)
      graft.core.ConfigExpr.load(s, graft.core.ConfigExpr.DataConfig(
        source = tmp, colSelect = Seq("x", "y", "z_mean")))
    }),

    // windowed zarr scan: the binned grid as a SHARDED v3 store
    // (sharding_indexed, 2-row inner chunks inside 4-row shards), read
    // back through ConfigExpr with dim-range where triples PUSHED into
    // the chunk window — only intersecting shard files are opened and
    // only intersecting INNER chunks are fetched (ranged reads against
    // the shard index); the strict > and < bounds are trimmed by the
    // residual filter, so rows match the plain filtered read exactly
    "q71_zarr_window" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", gridRes = 200000.0, xRange = (-800000.0, 800000.0),
        yRange = (-800000.0, 800000.0), statistics = Seq("mean")))
        .withColumnRenamed("z", "z_mean").select("x", "y", "z_mean")
      val tmp = java.nio.file.Files.createTempDirectory("graft_q71_").toString + "/binned.zarr"
      graft.sources.ZarrGrid.writeGrid2dDistributed(binned, tmp, "x", "y", Seq("z_mean"),
        chunkRows = 4, compressor = "zstd", zarrFormat = 3, shardInnerRows = 2)
      graft.core.ConfigExpr.load(s, graft.core.ConfigExpr.DataConfig(
        source = tmp,
        where = Seq(
          graft.core.ConfigExpr.Where("y", ">=", -300000.0),
          graft.core.ConfigExpr.Where("y", "<", 500000.0),
          graft.core.ConfigExpr.Where("x", ">", -700000.0)),
        colSelect = Seq("x", "y", "z_mean")))
    }),

    // snapshot time travel (the Iceberg VERSION AS OF analog): three
    // appends into the result-store catalog — event_id % 3 = 0, 1, 2 —
    // then a read AS OF the second snapshot, reconstructed from the
    // per-snapshot FILE MANIFESTS in _snapshots.jsonl (names + sizes +
    // parquet-footer row counts); rows = the first two batches exactly
    "q72_store_timetravel" -> ((s, dir) => {
      val ev = pq(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
        .filter(col("event_id") < 3000)
      val root = java.nio.file.Files.createTempDirectory("graft_q72_").toString
      val store = new graft.io.ResultStore(s, root)
      store.append("ev", ev.filter(col("event_id") % 3 === 0),
        Map("batch" -> "0"))
      val sid = store.append("ev", ev.filter(col("event_id") % 3 === 1),
        Map("batch" -> "1"))
      store.append("ev", ev.filter(col("event_id") % 3 === 2),
        Map("batch" -> "2"))
      store.tableAsOf("ev", sid).select("event_id", "user_id", "value")
    }),

    // store compaction (the Iceberg rewrite_data_files analog): three
    // multi-file appends bin-packed into one file — the read AFTER the
    // swap must still equal all three batches, and time travel to the
    // post-compaction snapshot must reconstruct from the NEW manifest
    "q83_store_compact" -> ((s, dir) => {
      val ev = pq(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
        .filter(col("event_id") < 3000)
      val root = java.nio.file.Files.createTempDirectory("graft_q83_").toString
      val store = new graft.io.ResultStore(s, root)
      (0 to 2).foreach(b => store.append("ev",
        ev.filter(col("event_id") % 3 === b).repartition(4), Map("batch" -> b.toString)))
      val sid = store.compact("ev")
      store.tableAsOf("ev", sid).select("event_id", "user_id", "value")
    }),

    // 3-d (t, y, x) daily-cube roundtrip: per-date binned means written
    // as one N-d zarr group (one chunk per t-slice per variable — the
    // layout time-partitioned object-store archives use), read back by
    // the rank-generic chunk-parallel scan via the .zarr dispatch
    "q69_zarr_3d_roundtrip" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", byCols = Seq("t"), gridRes = 400000.0,
        xRange = (-800000.0, 800000.0), yRange = (-800000.0, 800000.0),
        statistics = Seq("mean")))
        .withColumnRenamed("z", "z_mean").select("t", "y", "x", "z_mean")
      val tmp = java.nio.file.Files.createTempDirectory("graft_q69_").toString + "/cube.zarr"
      graft.sources.ZarrGrid.writeGridNdDistributed(binned, tmp, Seq("t", "y", "x"),
        Seq("z_mean"))
      graft.core.ConfigExpr.load(s, graft.core.ConfigExpr.DataConfig(
        source = tmp, colSelect = Seq("t", "x", "y", "z_mean")))
    }),

    // growing archive: the q69 cube written as 6 days then APPENDED with
    // the remaining 3 (the xarray to_zarr(append_dim='t') analog) —
    // executor-written slice chunks at offset indices, dim-0 axis and
    // shapes patched in place, .zmetadata kept in sync; the read of the
    // grown store must equal the one-shot 9-day cube
    "q75_zarr_append" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", byCols = Seq("t"), gridRes = 400000.0,
        xRange = (-800000.0, 800000.0), yRange = (-800000.0, 800000.0),
        statistics = Seq("mean")))
        .withColumnRenamed("z", "z_mean").select("t", "y", "x", "z_mean")
      val tmp = java.nio.file.Files.createTempDirectory("graft_q75_").toString + "/cube.zarr"
      graft.sources.ZarrGrid.writeGridNdDistributed(
        binned.filter(col("t") <= 18327.0), tmp, Seq("t", "y", "x"), Seq("z_mean"))
      graft.sources.ZarrGrid.appendGridNdDistributed(
        binned.filter(col("t") > 18327.0), tmp, Seq("t", "y", "x"), Seq("z_mean"))
      graft.core.ConfigExpr.load(s, graft.core.ConfigExpr.DataConfig(
        source = tmp, colSelect = Seq("t", "x", "y", "z_mean")))
    }),

    // the SAME daily cube as a directory of per-date netCDF granules —
    // one self-contained (t=1, y, x) CDF-1 file per date written from
    // executors (the open_mfdataset archive layout), unioned back by the
    // rank-generic granule scan
    "q70_netcdf_3d_granules" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", byCols = Seq("t"), gridRes = 400000.0,
        xRange = (-800000.0, 800000.0), yRange = (-800000.0, 800000.0),
        statistics = Seq("mean")))
        .withColumnRenamed("z", "z_mean").select("t", "y", "x", "z_mean")
      val tmp = java.nio.file.Files.createTempDirectory("graft_q70_").toString
      graft.sources.NetCdfGrid.writeGridNdDistributed(binned, tmp, Seq("t", "y", "x"),
        Seq("z_mean"))
      graft.sources.NetCdfGrid.readGridNd(s, s"$tmp/*.nc", Seq("t", "y", "x"), Seq("z_mean"))
        .select("t", "x", "y", "z_mean")
    }),

    // windowed granule scan: the q70 daily-granule archive read with a
    // 3-of-9-day time window PUSHED to the granule level — tasks fetch
    // each classic-CDF granule's header + coordinate axes via ranged
    // reads and skip the data payload of out-of-window days entirely
    // (the open_mfdataset analog of partition pruning)
    "q73_netcdf_window" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", byCols = Seq("t"), gridRes = 400000.0,
        xRange = (-800000.0, 800000.0), yRange = (-800000.0, 800000.0),
        statistics = Seq("mean")))
        .withColumnRenamed("z", "z_mean").select("t", "y", "x", "z_mean")
      val tmp = java.nio.file.Files.createTempDirectory("graft_q73_").toString
      graft.sources.NetCdfGrid.writeGridNdDistributed(binned, tmp, Seq("t", "y", "x"),
        Seq("z_mean"))
      graft.sources.NetCdfGrid.readGridNdWindow(s, s"$tmp/*.nc", Seq("t", "y", "x"),
        Seq("z_mean"), Map("t" -> (18324.0, 18326.0)))
        .select("t", "x", "y", "z_mean")
    }),

    // the reference's DataLoader.load('.nc') path: the daily archive
    // loaded through ConfigExpr's .nc dispatch — granule layout discovered
    // from one ranged header read, the t-range triples PUSHED to the
    // granule window, the z_mean triple left to the residual filter
    "q74_netcdf_config" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", byCols = Seq("t"), gridRes = 400000.0,
        xRange = (-800000.0, 800000.0), yRange = (-800000.0, 800000.0),
        statistics = Seq("mean")))
        .withColumnRenamed("z", "z_mean").select("t", "y", "x", "z_mean")
      val tmp = java.nio.file.Files.createTempDirectory("graft_q74_").toString
      graft.sources.NetCdfGrid.writeGridNdDistributed(binned, tmp, Seq("t", "y", "x"),
        Seq("z_mean"))
      graft.core.ConfigExpr.load(s, graft.core.ConfigExpr.DataConfig(
        source = s"$tmp/*.nc",
        where = Seq(
          graft.core.ConfigExpr.Where("t", ">=", 18324.0),
          graft.core.ConfigExpr.Where("t", "<=", 18326.0),
          graft.core.ConfigExpr.Where("z_mean", ">", 0.0)),
        colSelect = Seq("t", "x", "y", "z_mean")))
    }),

    // growing granule archive: 6 days of per-date .nc granules APPENDED
    // with the remaining 3 as NEW files (existing granules untouched,
    // overlap validated via ranged header reads) — the natural growth
    // mode of a daily archive; the union read must equal q70's one-shot
    "q76_netcdf_append" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", byCols = Seq("t"), gridRes = 400000.0,
        xRange = (-800000.0, 800000.0), yRange = (-800000.0, 800000.0),
        statistics = Seq("mean")))
        .withColumnRenamed("z", "z_mean").select("t", "y", "x", "z_mean")
      val tmp = java.nio.file.Files.createTempDirectory("graft_q76_").toString
      graft.sources.NetCdfGrid.writeGridNdDistributed(
        binned.filter(col("t") <= 18327.0), tmp, Seq("t", "y", "x"), Seq("z_mean"))
      graft.sources.NetCdfGrid.appendGridNdDistributed(
        binned.filter(col("t") > 18327.0), tmp, Seq("t", "y", "x"), Seq("z_mean"))
      graft.core.ConfigExpr.load(s, graft.core.ConfigExpr.DataConfig(
        source = s"$tmp/*.nc", colSelect = Seq("t", "x", "y", "z_mean")))
    }),

    // zonal statistics (raster↔vector): ray-cast zone assignment over the
    // obs table — concave ring, overlap precedence — then grouped stats;
    // the oracle replays the crossing-parity test edge by edge in SQL
    "q77_zonal_stats" -> ((s, dir) =>
      operators.RasterVector.zonalStats(obsDerived(s, dir), RvZones, "z",
        statistics = Seq("mean", "count", "min", "max", "std"))),

    // polygon rasterization (vector→raster): zones burned onto the
    // 15x15 cell-center lattice, outside-all-zones cells dropped
    "q78_rasterize" -> ((s, _) =>
      operators.RasterVector.rasterize(s, RvZones,
        (-750000.0, 750000.0), (-750000.0, 750000.0), 100000.0)),

    // raster→vector region extraction: the q78 zone raster's 4-adjacent
    // same-zone cells labeled by connected component (min cell id), the
    // polygonization primitive; isolated cells keep their own id
    "q80_label_regions" -> ((s, _) =>
      operators.RasterVector.labelRegions(
        operators.RasterVector.rasterize(s, RvZones,
          (-750000.0, 750000.0), (-750000.0, 750000.0), 100000.0),
        res = 100000.0, x0 = -750000.0, y0 = -750000.0,
        valueCol = Some("zone"))
        .select("x", "y", "zone", "region")),

    // pickled pandas DATAFRAME granules (pd.to_pickle stores,
    // dataloader.py:563-624): per-date binned grids written as one
    // DataFrame pickle per t from the EXECUTORS (BlockManager/
    // _unpickle_block reduce graph, real-pandas-readable), read back
    // through the pure-JVM frame unpickler — floats, a bigint, and an
    // object-dtype string column all roundtrip losslessly
    "q79_pkl_frame" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", byCols = Seq("t"), gridRes = 400000.0,
        xRange = (-800000.0, 800000.0), yRange = (-800000.0, 800000.0),
        statistics = Seq("mean", "count")))
        .select(col("t"), col("x"), col("y"), col("z_mean"),
          col("z_count").cast("long").as("n_obs"))
        .withColumn("label", when(col("z_mean") > 0, "pos").otherwise("neg"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_q79_").toString
      graft.sources.PklLegacy.writePklFramesDistributed(binned, tmp, "t")
      graft.sources.PklLegacy.readPklFrames(s, Seq(tmp + "/*.pkl"))
        .select("t", "x", "y", "z_mean", "n_obs", "label")
    }),

    // legacy .npy roundtrip: the binned grid as one (n, 3) float64 numpy
    // array file (NEP-1 format via the pure-JVM NpyLite codec — the
    // reference's legacy array store, dataloader.py:782-1007), read back
    // through the .npy ConfigExpr dispatch with positional renames
    "q60_npy_roundtrip" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", gridRes = 200000.0, xRange = (-800000.0, 800000.0),
        yRange = (-800000.0, 800000.0), statistics = Seq("mean")))
        .withColumnRenamed("z", "z_mean").select("x", "y", "z_mean")
      val rows = binned.orderBy("x", "y").collect()
      val flat = rows.flatMap(r => Seq(r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      val tmp = java.nio.file.Files.createTempDirectory("graft_q60_").resolve("binned.npy")
      java.nio.file.Files.write(tmp,
        graft.sources.NpyLite.write(Seq(rows.length, 3), doubles = flat))
      graft.core.ConfigExpr.load(s, graft.core.ConfigExpr.DataConfig(
        source = tmp.toString,
        newColumnNames = Some(Seq("index", "x", "y", "z_mean")),
        colSelect = Seq("x", "y", "z_mean")))
    }),

    // connected-components survivorship labels: hash-min label propagation
    // over a synthetic multi-hop near-dup graph (chains of stride 7 inside
    // 50-id blocks) — the transitive-closure option of
    // dropDuplicatesByPairs; the oracle recomputes with a recursive CTE
    "q59_dedup_closure" -> ((s, dir) => {
      val ids = pq(s, dir, "documents").select(col("doc_id")).filter(col("doc_id") < 2000)
      val pairs = ids.filter(col("doc_id") % 50 < 43)
        .select(col("doc_id").as("idA"), (col("doc_id") + 7).as("idB"))
        .join(ids.select(col("doc_id").as("idB")), Seq("idB"))
        .select("idA", "idB")
      Dedup.connectedComponents(pairs).select(col("id"), col("label"))
    }),

    // pandas-HDFStore-fixed roundtrip: the reference's actual store SHAPE
    // (df.to_hdf(path, key) -> /key/axis0 + blockN layout, read back via
    // the `table` key like pd.read_hdf(path, key), dataloader.py:563-624).
    // Mixed double (block0) + long (block1) columns exercise both block
    // paths; the oracle recomputes from parquet, pinning writer AND reader.
    "q53_hdfstore_roundtrip" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", gridRes = 200000.0, xRange = (-800000.0, 800000.0),
        yRange = (-800000.0, 800000.0), statistics = Seq("mean", "count")))
        .select(col("x"), col("y"), col("z_mean"),
          col("z_count").cast("long").as("n_obs"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_q53_").toString + "/store.h5"
      graft.sources.Hdf5Table.writePandasFixed(binned, tmp, key = "binned")
      graft.core.ConfigExpr.load(s, graft.core.ConfigExpr.DataConfig(
        source = tmp, table = Some("binned"),
        colSelect = Seq("x", "y", "z_mean", "n_obs")))
    }),

    // same binned frame through the PyTables format='table' layout — the
    // format the reference itself writes for every results table
    // (write_to_hdf, GPSat/dataloader.py:644-704: to_hdf(format='table',
    // data_columns=True)); chunked + gzip'd compound records, storer
    // attrs, read back through the read_hdf-style key dispatch
    "q57_hdfstore_table" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", gridRes = 200000.0, xRange = (-800000.0, 800000.0),
        yRange = (-800000.0, 800000.0), statistics = Seq("mean", "count")))
        .select(col("x"), col("y"), col("z_mean"),
          col("z_count").cast("long").as("n_obs"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_q57_").toString + "/store.h5"
      graft.sources.Hdf5Table.writePandasTable(binned, tmp, key = "binned",
        chunkRows = 16, deflate = 6)
      graft.core.ConfigExpr.load(s, graft.core.ConfigExpr.DataConfig(
        source = tmp, table = Some("binned"),
        colSelect = Seq("x", "y", "z_mean", "n_obs")))
    }),

    // the OTHER format='table' layout: data_columns=False packs typed
    // values_block_N ARRAY members whose column names ride the pickled
    // <member>_kind attrs — same frame, same oracle, block-member path
    "q61_hdfstore_blocks" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", gridRes = 200000.0, xRange = (-800000.0, 800000.0),
        yRange = (-800000.0, 800000.0), statistics = Seq("mean", "count")))
        .select(col("x"), col("y"), col("z_mean"),
          col("z_count").cast("long").as("n_obs"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_q61_").toString + "/store.h5"
      graft.sources.Hdf5Table.writePandasTable(binned, tmp, key = "binned",
        chunkRows = 16, deflate = 6, dataColumns = false)
      graft.core.ConfigExpr.load(s, graft.core.ConfigExpr.DataConfig(
        source = tmp, table = Some("binned"),
        colSelect = Seq("x", "y", "z_mean", "n_obs")))
    }),

    // server-side `where` on a format='table' store (store.select(key,
    // where=...), dataloader.py:1161-1192): the triples evaluate
    // chunk-by-chunk inside the reader — non-matching chunks materialize
    // no rows — and the oracle recomputes the filtered frame from parquet
    "q66_hdfstore_where" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", gridRes = 200000.0, xRange = (-800000.0, 800000.0),
        yRange = (-800000.0, 800000.0), statistics = Seq("mean", "count")))
        .select(col("x"), col("y"), col("z_mean"),
          col("z_count").cast("long").as("n_obs"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_q66_").toString + "/store.h5"
      graft.sources.Hdf5Table.writePandasTable(binned, tmp, key = "binned",
        chunkRows = 8, deflate = 6)
      graft.core.ConfigExpr.load(s, graft.core.ConfigExpr.DataConfig(
        source = tmp, table = Some("binned"),
        where = Seq(
          graft.core.ConfigExpr.Where("x", ">", 0.0),
          graft.core.ConfigExpr.Where("n_obs", ">=", 2L)),
        colSelect = Seq("x", "y", "z_mean", "n_obs")))
    }),

    // resizable (appendable) store roundtrip: the binned series written as
    // three maxshape=(None,) datasets behind a layout-v4 EXTENSIBLE-ARRAY
    // chunk index (what h5py libver='latest' gives any appendable user
    // store, dataloader.py:563-624), read back through the .h5 ConfigExpr
    // dispatch; the oracle recomputes from parquet, pinning writer+reader
    "q62_hdf5_extensible" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", gridRes = 200000.0, xRange = (-800000.0, 800000.0),
        yRange = (-800000.0, 800000.0), statistics = Seq("mean")))
        .withColumnRenamed("z", "z_mean").select("x", "y", "z_mean")
      val rows = binned.orderBy("x", "y").collect()
      def series(i: Int) = rows.map(_.getDouble(i))
      val tmp = java.nio.file.Files.createTempDirectory("graft_q62_").resolve("appendable.h5")
      java.nio.file.Files.write(tmp, graft.sources.Hdf5Lite.writeExtensibleAll(
        Seq("x" -> series(0), "y" -> series(1), "z_mean" -> series(2)), chunkElems = 3))
      graft.core.ConfigExpr.load(s, graft.core.ConfigExpr.DataConfig(
        source = tmp.toString, colSelect = Seq("x", "y", "z_mean")))
    }),

    // legacy pickled dict-of-arrays roundtrip (read_from_pkl_dict,
    // dataloader.py:782-932): the binned mean grid as ONE dict key's 2-d
    // numpy array (empty bins = NaN), pickled with numpy's own reduce
    // opcodes, read back through the .pkl ConfigExpr dispatch — NaN cells
    // drop, so the oracle's GROUP BY rows come back exactly
    "q63_pkl_dict" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", gridRes = 200000.0, xRange = (-800000.0, 800000.0),
        yRange = (-800000.0, 800000.0), statistics = Seq("mean")))
        .withColumnRenamed("z", "z_mean")
      val grid = Array.fill(64)(Double.NaN)
      binned.collect().foreach { r =>
        val ix = ((r.getDouble(0) + 800000.0) / 200000.0 - 0.5).round.toInt
        val iy = ((r.getDouble(1) + 800000.0) / 200000.0 - 0.5).round.toInt
        grid(ix * 8 + iy) = r.getDouble(2)
      }
      val bb = java.nio.ByteBuffer.allocate(64 * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      grid.foreach(bb.putDouble)
      val pkl = graft.sources.PickleLite.pickle(scala.collection.mutable.LinkedHashMap[Any, Any](
        "20200301" -> graft.sources.PickleLite.NdArray(Seq(8, 8), "<f8", fortran = false,
          data = bb.array())))
      val tmp = java.nio.file.Files.createTempDirectory("graft_q63_").resolve("legacy.pkl")
      java.nio.file.Files.write(tmp, pkl)
      graft.core.ConfigExpr.load(s, graft.core.ConfigExpr.DataConfig(
        source = tmp.toString, colSelect = Seq("idx0", "idx1", "obs")))
    }),

    "q45_netcdf_roundtrip" -> ((s, dir) => {
      val binned = Binning.binDataBy(obsDerived(s, dir), Binning.BinConfig(
        valCol = "z", gridRes = 200000.0, xRange = (-800000.0, 800000.0),
        yRange = (-800000.0, 800000.0), statistics = Seq("mean")))
        .withColumnRenamed("z", "z_mean")
      // executor-parallel granule sink: one CDF-1 file per 3-row y band,
      // written from the tasks, read back as a multi-granule glob scan
      val tmp = java.nio.file.Files.createTempDirectory("graft_q45_").toString + "/grid_nc"
      graft.sources.NetCdfGrid.writeGrid2dDistributed(binned, tmp, "x", "y",
        Seq("z_mean"), bandRows = 3)
      graft.sources.NetCdfGrid.readGrid2d(s, tmp + "/*.nc", "x", "y", Seq("z_mean"))
        .select("x", "y", "z_mean")
    }),

    "q35_laea_roundtrip" -> ((s, dir) =>
      // LAEA inverse + forward roundtrip, DuckDB-oracled: the Snyder
      // formulas are plain trig, replicated in SQL with the same constants;
      // lon/lat rounded to 6dp to absorb libm ulp differences
      obsDerived(s, dir).filter(col("obs_id") % 61 === 0)
        .withColumn("lon", laea_lon(col("x"), col("y")))
        .withColumn("lat", laea_lat(col("x"), col("y")))
        .select(col("obs_id"),
          round(col("lon"), 6).as("lon_r"), round(col("lat"), 6).as("lat_r"),
          (abs(laea_x(col("lon"), col("lat")) - col("x")) < 1e-3).as("roundtrip_ok")))
  )

  // =====================================================================
  // oracle SQL (DuckDB), same aliases + types as the Spark results
  // =====================================================================

  /** cosine-similarity SQL between two double-list expressions (sequential
    * left-to-right list_sum matches Spark's aggregate() fold order). */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform($a, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))
       |  * sqrt(list_sum(list_transform($b, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)))))""".stripMargin

  /** q26 oracle: the hyperplane-LSH sign buckets regenerated in SQL from the
    * SAME deterministic plane arrays the operator uses (Double.toString
    * round-trips exactly through DuckDB's literal parser). */
  private def q26OracleSql: String = {
    val planes = Dedup.lshPlanes(nPlanes = 4, bucketGroups = 4, dim = 64, seed = 42)
    def dot(plane: Array[Double]): String = {
      val lits = plane.map(java.lang.Double.toString).mkString(", ")
      s"list_sum(list_transform(list_zip(vec, [$lits]), z -> z[1] * z[2]))"
    }
    val groups = (0 until 4).map { g =>
      val bits = (0 until 4).map { p =>
        s"(CASE WHEN ${dot(planes(g * 4 + p))} >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT id, $g AS grp, $bits AS bucket FROM v"
    }.mkString(" UNION ALL ")
    s"""WITH v AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
       |b AS ($groups),
       |ok AS (SELECT grp, bucket FROM b GROUP BY grp, bucket HAVING count(*) <= 1000),
       |p AS (SELECT b.* FROM b JOIN ok USING (grp, bucket)),
       |cand AS (SELECT DISTINCT a.id AS idA, c.id AS idB
       |  FROM p a JOIN p c ON a.grp = c.grp AND a.bucket = c.bucket AND a.id < c.id),
       |scored AS (
       |  SELECT idA, idB, ${cosSql("va.vec", "vb.vec")} AS cosine
       |  FROM cand JOIN v va ON va.id = cand.idA JOIN v vb ON vb.id = cand.idB)
       |SELECT idA, idB, cosine FROM scored WHERE cosine >= 0.5""".stripMargin
  }

  /** Shared run_details window-count oracle (q34/q40/q47/q48): ONE source
    * of truth for the derived-obs x>0 window arithmetic so a change to it
    * cannot silently diverge across the four model-catalog queries.
    * `modelCase` non-empty appends a pinned `model` column.
    */
  private def runDetailsOracleSql(modelCase: String = ""): String = {
    val modelCol = if (modelCase.isEmpty) "" else s",\n  $modelCase AS model"
    s"""WITH e AS (SELECT ex, ey FROM $ExpertsSql),
       |o AS (SELECT * FROM ($ObsSql) WHERE x > 0.0),
       |cnt AS (
       |  SELECT ex, ey, count(*) AS n FROM e JOIN o
       |    ON (o.x-ex)*(o.x-ex) + (o.y-ey)*(o.y-ey) <= 80000.0*80000.0
       |   AND o.t >= 18326.0 - 4 AND o.t <= 18326.0 + 4
       |  GROUP BY 1, 2)
       |SELECT e.ex AS x, e.ey AS y, 18326.0 AS t, CAST(coalesce(cnt.n, 0) AS INT) AS num_obs$modelCol
       |FROM e LEFT JOIN cnt USING (ex, ey)""".stripMargin
  }

  /** q29 oracle: marker scoring regenerated from the SAME marker lists the
    * operator uses; CJK script ranges via RE2 \x{...} classes. */
  private def q29OracleSql: String = {
    def score(markers: Seq[String]): String = {
      val in = markers.map(m => s"'$m'").mkString(", ")
      s"CAST(len(list_filter(tk, w -> w IN ($in))) AS DOUBLE) / greatest(len(tk), 1)"
    }
    val m = graft.operators.TextAnalysis.langMarkers
    val mx = "greatest(s_en, s_es, s_de, s_fr)"
    s"""WITH toks AS (SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk FROM documents),
       |sc AS (SELECT doc_id, text,
       |  ${score(m("en"))} AS s_en, ${score(m("es"))} AS s_es,
       |  ${score(m("de"))} AS s_de, ${score(m("fr"))} AS s_fr
       | FROM toks)
       |SELECT doc_id,
       | CASE
       |  WHEN length(text) - length(regexp_replace(text, '[\\x{3040}-\\x{30FF}]', '', 'g')) > 0 THEN 'ja'
       |  WHEN length(text) - length(regexp_replace(text, '[\\x{AC00}-\\x{D7AF}]', '', 'g')) > 0 THEN 'ko'
       |  WHEN CAST(length(text) - length(regexp_replace(text, '[\\x{4E00}-\\x{9FFF}]', '', 'g')) AS DOUBLE)
       |       / greatest(length(regexp_replace(text, '\\s', '', 'g')), 1) > 0.05 THEN 'zh'
       |  WHEN $mx > 0 THEN
       |    CASE WHEN s_fr = $mx THEN 'fr' WHEN s_es = $mx THEN 'es'
       |         WHEN s_en = $mx THEN 'en' ELSE 'de' END
       |  ELSE 'und' END AS lang_pred
       |FROM sc""".stripMargin
  }

  /** q35 oracle: Snyder (1987) LAEA inverse + forward replicated in SQL with
    * the library's exact constants (interpolated via Double.toString). */
  private def q35OracleSql: String = {
    val A = 6378137.0
    val F = 1.0 / 298.257223563
    val e2 = F * (2.0 - F)
    val e = math.sqrt(e2)
    def qAt(s: Double): Double =
      (1.0 - e2) * (s / (1.0 - e2 * s * s) - (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s)))
    val qp = qAt(math.sin(math.Pi / 2.0))
    val c1 = e2 / 3.0 + 31.0 * e2 * e2 / 180.0 + 517.0 * e2 * e2 * e2 / 5040.0
    val c2 = 23.0 * e2 * e2 / 360.0 + 251.0 * e2 * e2 * e2 / 3780.0
    val c3 = 761.0 * e2 * e2 * e2 / 45360.0
    def d(v: Double): String = java.lang.Double.toString(v)
    val (sa, se, se2, sqp, sc1, sc2, sc3) = (d(A), d(e), d(e2), d(qp), d(c1), d(c2), d(c3))
    // q(phi) and one inverse-iteration delta as SQL snippets over a sin value
    def qSql(sinv: String): String =
      s"(1 - $se2) * ($sinv/(1 - $se2*$sinv*$sinv) - (1/(2*$se))*ln((1 - $se*$sinv)/(1 + $se*$sinv)))"
    def deltaSql(phi: String): String =
      s"""(1 - $se2*sin($phi)*sin($phi))*(1 - $se2*sin($phi)*sin($phi)) / (2*cos($phi)) *
         | ( qq/(1 - $se2) - sin($phi)/(1 - $se2*sin($phi)*sin($phi))
         |   + (1/(2*$se))*ln((1 - $se*sin($phi))/(1 + $se*sin($phi))) )""".stripMargin
    s"""WITH o AS (SELECT obs_id, x, y FROM ($ObsSql) WHERE obs_id % 61 = 0),
       |i1 AS (SELECT obs_id, x, y, degrees(atan2(x, -y)) AS lon,
       |  $sqp - (sqrt(x*x + y*y)/$sa)*(sqrt(x*x + y*y)/$sa) AS qq FROM o),
       |i2 AS (SELECT *, asin(greatest(-1.0, least(1.0, qq / $sqp))) AS beta FROM i1),
       |i3 AS (SELECT *, beta + $sc1*sin(2*beta) + $sc2*sin(4*beta) + $sc3*sin(6*beta) AS phi0 FROM i2),
       |i4 AS (SELECT *, CASE WHEN abs(phi0) < pi()/2 - 1e-12
       |  THEN phi0 + ${deltaSql("phi0")} ELSE phi0 END AS phi1 FROM i3),
       |i5 AS (SELECT *, CASE WHEN abs(phi1) < pi()/2 - 1e-12
       |  THEN phi1 + ${deltaSql("phi1")} ELSE phi1 END AS phi2 FROM i4),
       |fin AS (SELECT obs_id, x, y, lon, degrees(phi2) AS lat FROM i5),
       |fwd AS (SELECT obs_id, lon, lat, x,
       |  $sa * sqrt($sqp - ${qSql("sin(radians(lat))")}) * sin(radians(lon)) AS fx FROM fin)
       |SELECT obs_id, round(lon, 6) AS lon_r, round(lat, 6) AS lat_r,
       |  abs(fx - x) < 1e-3 AS roundtrip_ok FROM fwd""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q01_scan_project" -> s"SELECT obs_id, x, y, t, z FROM ($ObsSql)",

    "q02_where_filters" ->
      s"SELECT obs_id, x, y, t, z FROM ($ObsSql) WHERE (z >= 0.0 AND t <= 18326.0) OR (z < -0.2)",

    "q03_row_select_negate" ->
      s"SELECT obs_id, x, y FROM ($ObsSql) WHERE NOT (x > 0.0 AND y > 0.0)",

    "q04_tile_assign" ->
      s"""SELECT obs_id, CAST((FLOOR((x - (-800000.0))/300000.0) + 1048576) * 2097152
         | + (FLOOR((y - (-800000.0))/300000.0) + 1048576) AS BIGINT) AS cell FROM ($ObsSql)""".stripMargin,

    "q05_bin_counts" ->
      s"""SELECT CAST((FLOOR((x - (-800000.0))/100000.0) + 1048576) * 2097152
         | + (FLOOR((y - (-800000.0))/100000.0) + 1048576) AS BIGINT) AS cell, t,
         | count(*) AS n, sum(z) AS z_sum FROM ($ObsSql) GROUP BY 1, 2""".stripMargin,

    // q32's assignment CTEs feeding q88's weight math
    "q97_cluster_balance" ->
      s"""WITH it AS (SELECT vec_id AS item_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ivec FROM embeddings),
         |c AS (SELECT item_id AS list_id, ivec AS cvec FROM it ORDER BY item_id LIMIT 8),
         |asg AS (
         |  SELECT item_id, list_id FROM (
         |    SELECT i.item_id, c.list_id,
         |      row_number() OVER (PARTITION BY i.item_id
         |        ORDER BY ${cosSql("i.ivec", "c.cvec")} DESC, c.list_id ASC) AS r
         |    FROM it i, c) WHERE r = 1),
         |cc AS (SELECT list_id AS cluster_id, count(*) AS n_docs FROM asg GROUP BY 1),
         |t AS (SELECT sum(n_docs) AS total, count(*) AS k FROM cc)
         |SELECT cluster_id, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_docs AS DOUBLE) / total AS actual_frac,
         |  1.0 / k AS target_frac,
         |  (1.0 / k) / (CAST(n_docs AS DOUBLE) / total) AS weight
         |FROM cc, t""".stripMargin,

    // per-axis index >> 2 == DuckDB floor division by 4
    "q96_cell_rollup" ->
      s"""SELECT CAST(((ix // 4) + 1048576) * 2097152 + ((iy // 4) + 1048576) AS BIGINT)
         |  AS parent_cell, count(*) AS n, sum(z) AS z_sum
         |FROM (SELECT CAST(FLOOR((x - (-800000.0))/100000.0) AS BIGINT) AS ix,
         |             CAST(FLOOR((y - (-800000.0))/100000.0) AS BIGINT) AS iy, z
         |      FROM ($ObsSql))
         |GROUP BY 1""".stripMargin,

    "q06_bin_mean_centers" ->
      s"""SELECT -800000.0 + (ix + 0.5) * 100000.0 AS x, -800000.0 + (iy + 0.5) * 100000.0 AS y,
         | t, avg(z) AS z_mean FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/100000.0), 15) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/100000.0), 15) AS iy, t, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2, 3""".stripMargin,

    "q07_bin_multi_stat" ->
      s"""SELECT -800000.0 + (ix + 0.5) * 200000.0 AS x, -800000.0 + (iy + 0.5) * 200000.0 AS y,
         | min(z) AS z_min, max(z) AS z_max, CAST(count(z) AS DOUBLE) AS z_count, sum(z) AS z_sum FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/200000.0), 7) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/200000.0), 7) AS iy, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2""".stripMargin,

    "q08_stats_on_vals" ->
      s"""SELECT count(*) AS "size", min(z) AS "min", avg(z) AS mean, max(z) AS "max",
         | stddev_samp(z) AS std FROM ($ObsSql)""".stripMargin,

    "q09_expert_grid" ->
      s"SELECT ex, ey, 18326.0 AS et FROM $ExpertsSql",

    "q10_add_data_to_col" ->
      s"""SELECT ex, ey, 18326.0 AS et, CAST(d AS INT) AS date_idx
         |FROM $ExpertsSql, (SELECT unnest([0, 1, 2]) AS d)""".stripMargin,

    "q11_local_select_counts" ->
      s"""SELECT ex, ey, count(*) AS n_obs FROM $ExpertsSql
         |JOIN ($ObsSql) o ON (o.x-ex)*(o.x-ex) + (o.y-ey)*(o.y-ey) <= 300000.0*300000.0
         | AND o.t >= 18326.0 - 4 AND o.t <= 18326.0 + 4
         |GROUP BY 1, 2""".stripMargin,

    "q12_local_select_rows" ->
      s"""SELECT o.obs_id, ex, ey FROM $ExpertsSql
         |JOIN (SELECT * FROM ($ObsSql) WHERE obs_id % 7 = 0) o
         |  ON (o.x-ex)*(o.x-ex) + (o.y-ey)*(o.y-ey) <= 300000.0*300000.0
         | AND o.t >= 18326.0 - 4 AND o.t <= 18326.0 + 4""".stripMargin,

    "q13_pred_radius_strict" ->
      s"""WITH pg AS (
         |  SELECT -500000.0 + (CAST(i AS DOUBLE) + 0.5) * 100000.0 AS px,
         |         -500000.0 + (CAST(j AS DOUBLE) + 0.5) * 100000.0 AS py
         |  FROM range(10) r(i), range(10) q(j))
         |SELECT px, py, ex, ey FROM pg JOIN $ExpertsSub
         |  ON (px-ex)*(px-ex) + (py-ey)*(py-ey) < 200000.0*200000.0""".stripMargin,

    "q14_knn_join" ->
      s"""SELECT obs_id, ex, ey FROM (
         |  SELECT o.obs_id, ex, ey,
         |    row_number() OVER (PARTITION BY o.obs_id
         |      ORDER BY (o.x-ex)*(o.x-ex) + (o.y-ey)*(o.y-ey) ASC, ex ASC, ey ASC) AS rnk
         |  FROM (SELECT * FROM ($ObsSql) WHERE obs_id % 97 = 0) o
         |  JOIN $ExpertsSub
         |    ON (o.x-ex)*(o.x-ex) + (o.y-ey)*(o.y-ey) <= 1000000.0*1000000.0)
         |WHERE rnk <= 3""".stripMargin,

    "q15_resume_antijoin" ->
      s"""WITH experts AS (SELECT ex, ey, 18326.0 AS et FROM $ExpertsSql),
         |ran AS (SELECT * FROM experts WHERE CAST(ex / 200000.0 + 2.0 AS BIGINT) % 2 = 0)
         |SELECT e.* FROM experts e ANTI JOIN ran r
         |  ON e.ex = r.ex AND e.ey = r.ey AND e.et = r.et""".stripMargin,

    "q16_track_num" ->
      """SELECT event_id, user_id, track_num FROM (
        |  SELECT event_id, user_id,
        |    CAST(sum(CASE WHEN gap > 3600 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS track_num
        |  FROM (
        |    SELECT event_id, user_id, ts,
        |      CAST(epoch(ts) AS BIGINT) - CAST(epoch(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT) AS gap
        |    FROM events))""".stripMargin,

    "q17_diff_distance" ->
      """SELECT event_id, user_id, dvalue FROM (
        |  SELECT event_id, user_id,
        |    value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dvalue
        |  FROM events)
        |WHERE dvalue IS NOT NULL""".stripMargin,

    "q18_smooth_field" ->
      s"""WITH field AS (
         |  SELECT ex AS x, ey AS y, 18326.0 AS t, count(*) / 1000.0 AS v
         |  FROM $ExpertsSql
         |  JOIN ($ObsSql) o ON (o.x-ex)*(o.x-ex) + (o.y-ey)*(o.y-ey) <= 300000.0*300000.0
         |   AND o.t >= 18326.0 - 4 AND o.t <= 18326.0 + 4
         |  GROUP BY 1, 2),
         |clamped AS (SELECT x, y, t, LEAST(v, 5.0) AS v FROM field)
         |SELECT a.x AS ex, a.y AS ey,
         |  LEAST(sum(exp(-(((b.x-a.x)/200000.0)*((b.x-a.x)/200000.0) + ((b.y-a.y)/200000.0)*((b.y-a.y)/200000.0))/2) * b.v)
         |   / sum(exp(-(((b.x-a.x)/200000.0)*((b.x-a.x)/200000.0) + ((b.y-a.y)/200000.0)*((b.y-a.y)/200000.0))/2)), 5.0) AS v
         |FROM clamped a JOIN clamped b ON a.t = b.t
         |GROUP BY 1, 2""".stripMargin,

    "q19_glue_weighted" ->
      s"""WITH pg AS (
         |  SELECT -500000.0 + (CAST(i AS DOUBLE) + 0.5) * 100000.0 AS px,
         |         -500000.0 + (CAST(j AS DOUBLE) + 0.5) * 100000.0 AS py
         |  FROM range(10) r(i), range(10) q(j)),
         |j AS (
         |  SELECT px, py, ex AS expert_x, ey AS expert_y,
         |    ex / 1000000.0 + ey / 2000000.0 AS fstar
         |  FROM pg JOIN $ExpertsSub
         |    ON (px-ex)*(px-ex) + (py-ey)*(py-ey) < 200000.0*200000.0)
         |SELECT px, py,
         |  sum(exp(-(((px-expert_x)*(px-expert_x) + (py-expert_y)*(py-expert_y)) / (100000.0*100000.0))/2) * fstar)
         |   / sum(exp(-(((px-expert_x)*(px-expert_x) + (py-expert_y)*(py-expert_y)) / (100000.0*100000.0))/2)) AS fstar
         |FROM j GROUP BY 1, 2""".stripMargin,

    "q20_span_extract" ->
      """SELECT doc_id,
        |  CAST(doc_id % 1440 AS DOUBLE) / 4.0 - 180.0 AS lon,
        |  60.0 + CAST(doc_id % 116 AS DOUBLE) / 4.0 AS lat,
        |  CAST(18322 + doc_id % 9 AS DOUBLE) AS t,
        |  CAST(doc_id % 64 AS DOUBLE) / 64.0 AS z,
        |  3 AS n_spans
        |FROM documents""".stripMargin,

    "q21_span_invariant" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 1440 AS DOUBLE) / 4.0 - 180.0 AS lon,
        |    60.0 + CAST(doc_id % 116 AS DOUBLE) / 4.0 AS lat,
        |    CAST(18322 + doc_id % 9 AS DOUBLE) AS t,
        |    CAST(doc_id % 64 AS DOUBLE) / 64.0 AS z,
        |    source, lang
        |  FROM documents
        |  WHERE CAST(18322 + doc_id % 9 AS DOUBLE) <= 18326.0)
        |SELECT doc_id, 0 AS pos, 'text' AS kind, 'hdr ' || lang AS text, '' AS media_ref, 0 AS "offset" FROM d
        |UNION ALL
        |SELECT doc_id, 1, 'text',
        |  'lon=' || format('{:.6f}', lon) || ';lat=' || format('{:.6f}', lat) ||
        |  ';t=' || format('{:.1f}', t) || ';z=' || format('{:.6f}', z) || ';source=' || source,
        |  '', 1 FROM d
        |UNION ALL
        |SELECT doc_id, 2, 'media', '', 'swath://' || CAST(doc_id AS VARCHAR), 2 FROM d""".stripMargin,

    // q21's synthesis without the filter: the roundtripped spans must
    // come back IDENTICAL (kind, text, media_ref, order) after the
    // explode -> shuffle -> reassemble cycle
    "q81_span_roundtrip" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 1440 AS DOUBLE) / 4.0 - 180.0 AS lon,
        |    60.0 + CAST(doc_id % 116 AS DOUBLE) / 4.0 AS lat,
        |    CAST(18322 + doc_id % 9 AS DOUBLE) AS t,
        |    CAST(doc_id % 64 AS DOUBLE) / 64.0 AS z,
        |    source, lang
        |  FROM documents)
        |SELECT doc_id, 0 AS pos, 'text' AS kind, 'hdr ' || lang AS text, '' AS media_ref, 0 AS "offset" FROM d
        |UNION ALL
        |SELECT doc_id, 1, 'text',
        |  'lon=' || format('{:.6f}', lon) || ';lat=' || format('{:.6f}', lat) ||
        |  ';t=' || format('{:.1f}', t) || ';z=' || format('{:.6f}', z) || ';source=' || source,
        |  '', 1 FROM d
        |UNION ALL
        |SELECT doc_id, 2, 'media', '', 'swath://' || CAST(doc_id AS VARCHAR), 2 FROM d""".stripMargin,

    "q22_dedup_exact" ->
      "SELECT min(doc_id) AS doc_id, text, count(*) AS dup_count FROM documents GROUP BY text",

    "q56_media_probe" ->
      """SELECT doc_id, 'image' AS kind,
        |  CAST(8 + doc_id % 16 AS INT) AS width,
        |  CAST(8 + doc_id % 11 AS INT) AS height,
        |  CAST(doc_id % 256 AS DOUBLE) AS mean_r,
        |  CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
        |  CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
        |FROM documents WHERE doc_id % 101 = 0""".stripMargin,

    "q55_decontaminate" ->
      """WITH ctoks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
        |btoks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents WHERE doc_id % 37 = 0),
        |cgrams AS (
        |  SELECT DISTINCT doc_id AS id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS gram
        |  FROM ctoks, unnest(generate_series(1, len(tk) - 2)) AS u(i)),
        |bgrams AS (
        |  SELECT DISTINCT concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS gram
        |  FROM btoks, unnest(generate_series(1, len(tk) - 2)) AS u(i))
        |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS contaminated_grams
        |FROM cgrams JOIN bgrams USING (gram) GROUP BY 1""".stripMargin,

    "q23_ngram_jaccard" ->
      """WITH grams AS (
        |  SELECT DISTINCT doc_id AS id, unnest(string_split(trim(text), ' ')) AS gram
        |  FROM documents WHERE doc_id < 1000),
        |sizes AS (SELECT id, count(*) AS setSize FROM grams GROUP BY id),
        |shared AS (
        |  SELECT a.id AS idA, b.id AS idB, count(*) AS shared
        |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT idA, idB,
        |  CAST(shared AS DOUBLE) / (sa.setSize + sb.setSize - shared) AS jaccard
        |FROM shared JOIN sizes sa ON idA = sa.id JOIN sizes sb ON idB = sb.id
        |WHERE CAST(shared AS DOUBLE) / (sa.setSize + sb.setSize - shared) >= 0.8""".stripMargin,

    "q46_dedup_drop" ->
      """WITH grams AS (
        |  SELECT DISTINCT doc_id AS id, unnest(string_split(trim(text), ' ')) AS gram
        |  FROM documents WHERE doc_id < 1000),
        |sizes AS (SELECT id, count(*) AS setSize FROM grams GROUP BY id),
        |shared AS (
        |  SELECT a.id AS idA, b.id AS idB, count(*) AS shared
        |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT idA, idB FROM shared
        |  JOIN sizes sa ON idA = sa.id JOIN sizes sb ON idB = sb.id
        |  WHERE CAST(shared AS DOUBLE) / (sa.setSize + sb.setSize - shared) >= 0.8)
        |SELECT doc_id, n_chars FROM documents
        |WHERE doc_id < 1000
        |  AND doc_id NOT IN (SELECT DISTINCT idB FROM pairs)""".stripMargin,

    "q27_token_counts" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS n_tokens,
        |  length(text) AS n_chars_calc
        |FROM documents""".stripMargin,

    "q28_quality_metrics" ->
      """SELECT doc_id,
        |  len(string_split(trim(text), ' ')) AS n_tokens,
        |  CAST(length(trim(text)) - (len(string_split(trim(text), ' ')) - 1) AS DOUBLE)
        |    / len(string_split(trim(text), ' ')) AS avg_token_len,
        |  CAST(len(list_distinct(string_split(trim(text), ' '))) AS DOUBLE)
        |    / len(string_split(trim(text), ' ')) AS distinct_token_ratio
        |FROM documents""".stripMargin,

    "q36_bin_median" ->
      s"""SELECT -800000.0 + (ix + 0.5) * 400000.0 AS x, -800000.0 + (iy + 0.5) * 400000.0 AS y,
         | quantile_cont(z, 0.5) AS z_median FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/400000.0), 3) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/400000.0), 3) AS iy, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2""".stripMargin,

    "q37_union_distinct" ->
      s"""SELECT DISTINCT obs_id, t FROM (
         |  SELECT obs_id, t FROM ($ObsSql) WHERE t <= 18325.0
         |  UNION ALL
         |  SELECT obs_id, t FROM ($ObsSql) WHERE t >= 18324.0)""".stripMargin,

    "q38_track_num_for_date" ->
      """SELECT event_id, user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id, CAST(CAST(ts AS DATE) AS VARCHAR)
        |    ORDER BY ts, event_id) - 1 AS INT) AS track_in_date
        |FROM events""".stripMargin,

    "q39_grid_spacing_infer" ->
      s"""SELECT min(d) AS grid_spacing FROM (
         |  SELECT t - lag(t, 1) OVER (ORDER BY t) AS d
         |  FROM (SELECT DISTINCT t FROM ($ObsSql)))""".stripMargin,

    "q24_minhash_pairs" ->
      """WITH s AS (
        |  SELECT doc_id AS id,
        |    list_transform(range(0, 64), i ->
        |      ((doc_id // (1 << (i % 7))) * 7919 + i * 104729) % 1000003) AS sig
        |  FROM documents WHERE doc_id < 1000),
        |banded AS (
        |  SELECT id, sig, band, sig[band*4 + 1 : band*4 + 4] AS bucket
        |  FROM s, (SELECT unnest(range(0, 16)) AS band) b),
        |ok AS (SELECT band, bucket FROM banded GROUP BY band, bucket HAVING count(*) <= 6),
        |p AS (SELECT banded.* FROM banded JOIN ok USING (band, bucket)),
        |pairs AS (
        |  SELECT DISTINCT a.id AS idA, b.id AS idB,
        |    CAST(list_sum(list_transform(list_zip(a.sig, b.sig),
        |      z -> CASE WHEN z[1] = z[2] THEN 1 ELSE 0 END)) AS DOUBLE) / 64 AS est_jaccard
        |  FROM p a JOIN p b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
        |SELECT idA, idB, est_jaccard FROM pairs WHERE est_jaccard >= 0.5""".stripMargin,

    "q25_simhash_pairs" ->
      """WITH s AS (
        |  SELECT doc_id AS id,
        |    xor(
        |      (((doc_id >> 3) + 1) * 1000003 + 12345) % 32749
        |      + ((((doc_id >> 3) + 1) * 7919 + 54321) % 32749) * 65536
        |      + ((((doc_id >> 3) + 1) * 104729 + 777) % 32749) * 4294967296
        |      + ((((doc_id >> 3) + 1) * 31337 + 999) % 32749) * 281474976710656,
        |      doc_id % 8) AS sig
        |  FROM documents WHERE doc_id < 1000),
        |banded AS (
        |  SELECT id, sig, band, (sig >> (band * 7)) % 128 AS chunk
        |  FROM s, (SELECT unnest(range(0, 9)) AS band) b),
        |ok AS (SELECT band, chunk FROM banded GROUP BY band, chunk HAVING count(*) <= 8),
        |p AS (SELECT banded.* FROM banded JOIN ok USING (band, chunk)),
        |pairs AS (
        |  SELECT DISTINCT a.id AS idA, b.id AS idB,
        |    CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |  FROM p a JOIN p b ON a.band = b.band AND a.chunk = b.chunk AND a.id < b.id)
        |SELECT idA, idB, hamming FROM pairs WHERE hamming <= 8""".stripMargin,

    "q26_embedding_dedup" -> q26OracleSql,

    "q29_lang_id" -> q29OracleSql,

    // winnow selection over the same synthetic rolling-hash arrays the
    // Spark side builds (window = 4 -> slice hs[i:i+3], 1-based inclusive)
    "q30_fingerprint" ->
      """WITH h AS (SELECT doc_id,
        |  list_transform(range(0, 20), i -> ((doc_id + 1) * (i + 13) * 2654435761) % 104729) AS hs
        |  FROM documents),
        |w AS (SELECT doc_id, list_min(hs[i:i+3]) AS fingerprint
        |  FROM h, LATERAL (SELECT unnest(range(1, len(hs) - 4 + 2)) AS i) g)
        |SELECT DISTINCT doc_id, fingerprint FROM w""".stripMargin,

    // DecodeStub arithmetic replicated exactly: payload = UTF-8 bytes of
    // media_ref ('swath://' || doc_id), s1 = byte sum, n = byte length
    "q33_media_features" ->
      """WITH m AS (SELECT doc_id, 'swath://' || CAST(doc_id AS VARCHAR) AS media_ref FROM documents),
        |s AS (SELECT doc_id, media_ref,
        |  list_sum(list_transform(string_split(media_ref, ''), c -> ascii(c))) AS s1,
        |  length(media_ref) AS n FROM m)
        |SELECT doc_id, media_ref,
        |  CAST(64 + (s1 % 64) * 16 AS INT) AS width,
        |  CAST(64 + ((s1 * 31 + n) % 64) * 16 AS INT) AS height,
        |  CAST(1 + (s1 % 8) AS INT) AS n_frames
        |FROM s""".stripMargin,

    // q33's checksum replayed per sampled frame index
    "q98_frame_sample" ->
      """WITH m AS (SELECT doc_id, 'swath://' || CAST(doc_id AS VARCHAR) AS media_ref FROM documents),
        |s AS (SELECT doc_id, media_ref,
        |  list_sum(list_transform(string_split(media_ref, ''), c -> ascii(c))) AS s1 FROM m),
        |f AS (SELECT doc_id, media_ref, s1,
        |      CAST(1 + (s1 % 8) AS BIGINT) AS n_frames FROM s)
        |SELECT doc_id, media_ref, CAST(i AS INT) AS frame_idx,
        |  CAST((s1 * (i + 7)) % 100000 AS BIGINT) AS frame_sig
        |FROM f, LATERAL (SELECT unnest(range(CAST(0 AS BIGINT), n_frames, CAST(2 AS BIGINT))) AS i) t""".stripMargin,

    "q32_ann_ivf" -> {
      s"""WITH it AS (SELECT vec_id AS item_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ivec FROM embeddings),
         |c AS (SELECT item_id AS list_id, ivec AS cvec FROM it ORDER BY item_id LIMIT 8),
         |asg AS (
         |  SELECT item_id, ivec, list_id FROM (
         |    SELECT i.item_id, i.ivec, c.list_id,
         |      row_number() OVER (PARTITION BY i.item_id
         |        ORDER BY ${cosSql("i.ivec", "c.cvec")} DESC, c.list_id ASC) AS r
         |    FROM it i, c) WHERE r = 1),
         |q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
         |      FROM embeddings WHERE vec_id < 3),
         |probes AS (
         |  SELECT query_id, qvec, list_id FROM (
         |    SELECT q.query_id, q.qvec, c.list_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosSql("q.qvec", "c.cvec")} DESC, c.list_id ASC) AS r
         |    FROM q, c) WHERE r <= 3)
         |SELECT query_id, item_id, CAST(rank AS INT) AS rank FROM (
         |  SELECT p.query_id, a.item_id,
         |    row_number() OVER (PARTITION BY p.query_id
         |      ORDER BY ${cosSql("p.qvec", "a.ivec")} DESC, a.item_id ASC) AS rank
         |  FROM asg a JOIN probes p USING (list_id))
         |WHERE rank <= 3""".stripMargin
    },

    // PQ replica: encode = per-(item, subspace) argmin L2 over the
    // 16-entry codebook; ADC = sum of per-subspace dot products; cosine
    // against the reconstructed item norm — the exact pqTopK semantics
    "q64_ann_pq" ->
      """WITH it AS (SELECT vec_id AS item_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ivec FROM embeddings),
        |cbitems AS (SELECT row_number() OVER (ORDER BY item_id) - 1 AS code, ivec FROM (SELECT item_id, ivec FROM it ORDER BY item_id LIMIT 16)),
        |cb AS (SELECT t.j, c.code, list_slice(c.ivec, t.j*8 + 1, t.j*8 + 8) AS cvec FROM range(0, 8) t(j), cbitems c),
        |codes AS (
        |  SELECT item_id, j, code FROM (
        |    SELECT i.item_id, b.j, b.code,
        |      row_number() OVER (PARTITION BY i.item_id, b.j
        |        ORDER BY list_sum(list_transform(range(1, 9), t -> pow(list_extract(i.ivec, b.j*8 + t) - list_extract(b.cvec, t), 2))) ASC, b.code ASC) AS r
        |    FROM it i, cb b) WHERE r = 1),
        |recon AS (SELECT c.item_id, sum(list_sum(list_transform(b.cvec, x -> x*x))) AS rn2
        |          FROM codes c JOIN cb b ON b.j = c.j AND b.code = c.code GROUP BY c.item_id),
        |q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec FROM embeddings WHERE vec_id < 3),
        |adc AS (
        |  SELECT q.query_id, c.item_id,
        |     sum(list_sum(list_transform(range(1, 9), t -> list_extract(q.qvec, b.j*8 + t) * list_extract(b.cvec, t)))) AS ip
        |  FROM q, codes c JOIN cb b ON b.j = c.j AND b.code = c.code
        |  GROUP BY q.query_id, c.item_id),
        |scored AS (
        |  SELECT a.query_id, a.item_id,
        |    a.ip / (sqrt(list_sum(list_transform(q.qvec, x -> x*x))) * sqrt(r.rn2)) AS cosine
        |  FROM adc a JOIN q ON q.query_id = a.query_id JOIN recon r ON r.item_id = a.item_id)
        |SELECT query_id, item_id, CAST(rank AS INT) AS rank FROM (
        |  SELECT query_id, item_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS rank FROM scored)
        |WHERE rank <= 3""".stripMargin,

    // SQ8 replayed: per-dim bounds, round-to-byte codes, reconstruction
    // cosine — identical arithmetic order to the Spark expressions
    "q82_ann_sq8" ->
      """WITH it AS (SELECT vec_id AS item_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ivec FROM embeddings),
        |ex AS (SELECT i.item_id, t.j, list_extract(i.ivec, t.j) AS x FROM it i, range(1, 65) t(j)),
        |bounds AS (SELECT j, min(x) AS mn, max(x) AS mx FROM ex GROUP BY j),
        |codes AS (
        |  SELECT e.item_id, e.j, b.mn, b.mx,
        |    CASE WHEN b.mx = b.mn THEN 0
        |         ELSE CAST(round((e.x - b.mn) / (b.mx - b.mn) * 255) AS INT) END AS c
        |  FROM ex e JOIN bounds b USING (j)),
        |recon AS (
        |  SELECT item_id, j, mn + CAST(c AS DOUBLE) / 255.0 * (mx - mn) AS r FROM codes),
        |rnorm AS (SELECT item_id, sqrt(sum(r * r)) AS rn FROM recon GROUP BY item_id),
        |q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec FROM embeddings WHERE vec_id < 3),
        |qn AS (SELECT query_id, sqrt(list_sum(list_transform(qvec, x -> x * x))) AS qnorm, qvec FROM q),
        |scored AS (
        |  SELECT qn.query_id, r.item_id,
        |    sum(list_extract(qn.qvec, r.j) * r.r) / (qn.qnorm * rn.rn) AS cosine
        |  FROM qn, recon r JOIN rnorm rn USING (item_id)
        |  GROUP BY qn.query_id, r.item_id, qn.qnorm, rn.rn)
        |SELECT query_id, item_id, CAST(rank AS INT) AS rank FROM (
        |  SELECT query_id, item_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS rank FROM scored)
        |WHERE rank <= 3""".stripMargin,

    // q65's IVF coarse CTEs composed with q82's SQ byte-code scoring:
    // candidates = probed lists only, reconstruction cosine from codes
    "q84_ann_ivfsq" ->
      s"""WITH it AS (SELECT vec_id AS item_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ivec FROM embeddings),
         |c AS (SELECT item_id AS list_id, ivec AS cvec FROM it ORDER BY item_id LIMIT 8),
         |asg AS (
         |  SELECT item_id, list_id FROM (
         |    SELECT i.item_id, c.list_id,
         |      row_number() OVER (PARTITION BY i.item_id ORDER BY ${cosSql("i.ivec", "c.cvec")} DESC, c.list_id ASC) AS r
         |    FROM it i, c) WHERE r = 1),
         |ex AS (SELECT i.item_id, t.j, list_extract(i.ivec, t.j) AS x FROM it i, range(1, 65) t(j)),
         |bounds AS (SELECT j, min(x) AS mn, max(x) AS mx FROM ex GROUP BY j),
         |codes AS (
         |  SELECT e.item_id, e.j, b.mn, b.mx,
         |    CASE WHEN b.mx = b.mn THEN 0
         |         ELSE CAST(round((e.x - b.mn) / (b.mx - b.mn) * 255) AS INT) END AS cd
         |  FROM ex e JOIN bounds b USING (j)),
         |recon AS (
         |  SELECT item_id, j, mn + CAST(cd AS DOUBLE) / 255.0 * (mx - mn) AS r FROM codes),
         |rnorm AS (SELECT item_id, sqrt(sum(r * r)) AS rn FROM recon GROUP BY item_id),
         |q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec FROM embeddings WHERE vec_id < 3),
         |probes AS (
         |  SELECT query_id, qvec, list_id FROM (
         |    SELECT q.query_id, q.qvec, c.list_id,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY ${cosSql("q.qvec", "c.cvec")} DESC, c.list_id ASC) AS r
         |    FROM q, c) WHERE r <= 4),
         |cand AS (SELECT p.query_id, p.qvec, a.item_id FROM asg a JOIN probes p USING (list_id)),
         |scored AS (
         |  SELECT ca.query_id, ca.item_id,
         |    sum(list_extract(ca.qvec, r.j) * r.r)
         |      / (any_value(sqrt(list_sum(list_transform(ca.qvec, x -> x * x)))) * any_value(rn.rn)) AS cosine
         |  FROM cand ca JOIN recon r USING (item_id) JOIN rnorm rn USING (item_id)
         |  GROUP BY ca.query_id, ca.item_id)
         |SELECT query_id, item_id, CAST(rank AS INT) AS rank FROM (
         |  SELECT query_id, item_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS rank FROM scored)
         |WHERE rank <= 3""".stripMargin,

    // word + bigram repetition stats replayed with explode/groupBy (the
    // oracle may shuffle; the engine side must not)
    "q85_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
        |tok AS (SELECT doc_id, unnest(tk) AS w FROM t),
        |tc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |ta AS (SELECT doc_id, max(c) AS mx, sum(c) AS n,
        |         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup FROM tc GROUP BY 1),
        |bg AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS b
        |       FROM t, unnest(range(1, len(tk))) AS u(i)),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        |ba AS (SELECT doc_id, max(c) AS mx FROM bc GROUP BY 1)
        |SELECT t.doc_id, CAST(ta.n AS BIGINT) AS n_tokens,
        |  CAST(ta.mx AS DOUBLE) / ta.n AS top_token_frac,
        |  CAST(ta.dup AS DOUBLE) / ta.n AS dup_token_frac,
        |  COALESCE(CAST(ba.mx AS DOUBLE) / (ta.n - 1), 0.0) AS top_bigram_frac
        |FROM t JOIN ta USING (doc_id) LEFT JOIN ba USING (doc_id)""".stripMargin,

    // the Bloom prefilter + confirm join must equal the plain anti-join
    "q86_archive_dedup" ->
      """WITH batch AS (
        |  SELECT b.doc_id,
        |    CASE WHEN b.doc_id % 10 = 1 AND p.text IS NOT NULL THEN p.text
        |         ELSE b.text END AS text,
        |    b.source
        |  FROM documents b LEFT JOIN documents p ON p.doc_id = b.doc_id - 1
        |  WHERE b.doc_id % 2 = 1),
        |arch AS (SELECT text FROM documents WHERE doc_id % 2 = 0)
        |SELECT doc_id, source FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM arch a WHERE a.text = b.text)""".stripMargin,

    // identical injection CASE, counts on the original text, then the
    // same three global regexp_replaces in the same order
    "q87_pii_redact" ->
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0
        |           THEN ' mail bob' || CAST(doc_id AS VARCHAR) || '@example.org now'
        |         WHEN doc_id % 3 = 1
        |           THEN ' call (555) 123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' soon'
        |         ELSE ' host 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.'
        |              || CAST(doc_id % 250 AS VARCHAR) || ' up'
        |    END AS t2 FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(t2, '\(\d{3}\) \d{3}-\d{4}')) AS INT) AS n_phone,
        |  CAST(len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
        |  regexp_replace(regexp_replace(regexp_replace(t2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\(\d{3}\) \d{3}-\d{4}', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text_redacted
        |FROM inj""".stripMargin,

    "q88_mixture_weights" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_docs) AS total, count(*) AS k FROM c)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_docs AS DOUBLE) / total AS actual_frac,
        |  1.0 / k AS target_frac,
        |  (1.0 / k) / (CAST(n_docs AS DOUBLE) / total) AS weight
        |FROM c, t""".stripMargin,

    // duplicated-passage stats: grams via lead() windows, dup = count>=2
    // corpus-wide, coverage = window-max of the dup-start flag over the
    // trailing (n-1) positions
    "q89_dup_passages" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(string_split(trim(text), ' ')) AS word,
        |         unnest(range(1, len(string_split(trim(text), ' ')) + 1)) AS pos
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, pos,
        |    word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w
        |         || ' ' || lead(word, 3) OVER w || ' ' || lead(word, 4) OVER w AS gram
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |g2 AS (SELECT doc_id, pos, gram FROM grams WHERE gram IS NOT NULL),
        |dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
        |starts AS (SELECT doc_id, pos FROM g2 JOIN dup USING (gram)),
        |cov AS (
        |  SELECT t.doc_id,
        |         max(CASE WHEN s.pos IS NOT NULL THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY t.doc_id ORDER BY t.pos
        |                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS c
        |  FROM toks t LEFT JOIN starts s ON s.doc_id = t.doc_id AND s.pos = t.pos)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(c) AS BIGINT) AS n_dup_tokens,
        |       CAST(sum(c) AS DOUBLE) / count(*) AS dup_frac
        |FROM cov GROUP BY doc_id""".stripMargin,

    // trigram LM: counts from the doc_id%10==0 slice, add-one smoothing
    // with V = distinct sample trigrams; same round(4) as the Spark side
    "q90_trigram_lm" ->
      """WITH tri AS (
        |  SELECT doc_id, substr(text, i, 3) AS g, substr(text, i, 2) AS p2
        |  FROM documents, LATERAL (SELECT unnest(range(1, len(text) - 1)) AS i) t
        |  WHERE len(text) >= 3),
        |c3 AS (SELECT g, count(*) AS c3 FROM tri WHERE doc_id % 10 = 0 GROUP BY g),
        |c2 AS (SELECT p2, count(*) AS c2 FROM tri WHERE doc_id % 10 = 0 GROUP BY p2),
        |v AS (SELECT count(*) AS v FROM c3)
        |SELECT tri.doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        |       round(avg(ln(CAST(coalesce(c3.c3, 0) + 1 AS DOUBLE)
        |                    / (coalesce(c2.c2, 0) + v.v))), 4) AS avg_logprob
        |FROM tri LEFT JOIN c3 USING (g) LEFT JOIN c2 USING (p2), v
        |GROUP BY tri.doc_id""".stripMargin,

    // leakage-free split: q59's recursive-CTE components, representative
    // = coalesce(component min id, own id), Knuth multiplicative hash
    // into 2^20 buckets, val iff bucket < floor(0.1 * 2^20)
    "q91_leakage_split" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT d.doc_id AS idA, d.doc_id + 7 AS idB
        |  FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 7
        |  WHERE d.doc_id < 2000 AND e.doc_id < 2000 AND d.doc_id % 50 < 43),
        |edges AS (SELECT idA AS src, idB AS dst FROM pairs
        |          UNION SELECT idB, idA FROM pairs),
        |reach(id, label) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
        |labels AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
        |rep AS (
        |  SELECT d.doc_id, coalesce(l.label, d.doc_id) AS rep
        |  FROM (SELECT doc_id FROM documents WHERE doc_id < 2000) d
        |  LEFT JOIN labels l ON l.id = d.doc_id)
        |SELECT doc_id,
        |  CASE WHEN (rep * 2654435761) % 1048576 < 104857
        |       THEN 'val' ELSE 'train' END AS split
        |FROM rep""".stripMargin,

    // greedy packing is a sequential recurrence within each chunk — the
    // oracle replays it with a recursive CTE over the in-chunk row number
    "q92_pack_sequences" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, doc_id // 100 AS chunk,
        |         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        |         row_number() OVER (PARTITION BY doc_id // 100 ORDER BY doc_id) AS rn
        |  FROM documents),
        |pack(chunk, rn, doc_id, n_tokens, bin, bin_fill) AS (
        |  SELECT chunk, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.chunk, d.rn, d.doc_id, d.n_tokens,
        |         CASE WHEN p.bin_fill + d.n_tokens <= 600 THEN p.bin ELSE p.bin + 1 END,
        |         CASE WHEN p.bin_fill + d.n_tokens <= 600 THEN p.bin_fill + d.n_tokens ELSE d.n_tokens END
        |  FROM pack p JOIN d ON d.chunk = p.chunk AND d.rn = p.rn + 1)
        |SELECT doc_id, chunk, n_tokens, bin, bin_fill FROM pack""".stripMargin,

    // q89's coverage replay, but keeping the UNcovered words and
    // re-joining them in position order
    "q93_cut_passages" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(string_split(trim(text), ' ')) AS word,
        |         unnest(range(1, len(string_split(trim(text), ' ')) + 1)) AS pos
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, pos,
        |    word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w
        |         || ' ' || lead(word, 3) OVER w || ' ' || lead(word, 4) OVER w AS gram
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |g2 AS (SELECT doc_id, pos, gram FROM grams WHERE gram IS NOT NULL),
        |dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
        |starts AS (SELECT doc_id, pos FROM g2 JOIN dup USING (gram)),
        |cov AS (
        |  SELECT t.doc_id, t.pos, t.word,
        |         max(CASE WHEN s.pos IS NOT NULL THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY t.doc_id ORDER BY t.pos
        |                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS c
        |  FROM toks t LEFT JOIN starts s ON s.doc_id = t.doc_id AND s.pos = t.pos)
        |SELECT doc_id,
        |  coalesce(string_agg(word, ' ' ORDER BY pos) FILTER (WHERE c = 0), '')
        |    AS text_deduped
        |FROM cov GROUP BY doc_id""".stripMargin,

    // white cells (cx < k) sit strictly above the global mean, black
    // strictly below, and k=0 is all-black -> 0; per grid row the set
    // bits are (2^k - 1), replicated at 8-bit strides
    "q94_image_ahash" ->
      """SELECT doc_id, 'png://' || CAST(doc_id AS VARCHAR) AS media_ref,
        |  CASE WHEN doc_id % 8 = 0 THEN 0
        |       ELSE ((CAST(1 AS BIGINT) << CAST(doc_id % 8 AS INT)) - 1)
        |            * 72340172838076673 END AS ahash
        |FROM documents WHERE doc_id % 97 = 0""".stripMargin,

    // loud windows (w < 8k) sit strictly above the mean window energy,
    // silence strictly below; k=0 degenerates to 0 through the same form
    "q95_audio_hash" ->
      """SELECT doc_id, 'wav://' || CAST(doc_id AS VARCHAR) AS media_ref,
        |  (CAST(1 AS BIGINT) << CAST(8 * (doc_id % 8) AS INT)) - 1 AS audiohash
        |FROM documents WHERE doc_id % 89 = 0""".stripMargin,

    // IVF coarse assignment (q32's CTEs) composed with the PQ encode/ADC
    // replica (q64's): candidates = probed lists only, scored from codes
    "q65_ann_ivfpq" ->
      s"""WITH it AS (SELECT vec_id AS item_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ivec FROM embeddings),
         |c AS (SELECT item_id AS list_id, ivec AS cvec FROM it ORDER BY item_id LIMIT 8),
         |asg AS (
         |  SELECT item_id, list_id FROM (
         |    SELECT i.item_id, c.list_id,
         |      row_number() OVER (PARTITION BY i.item_id ORDER BY ${cosSql("i.ivec", "c.cvec")} DESC, c.list_id ASC) AS r
         |    FROM it i, c) WHERE r = 1),
         |cbitems AS (SELECT row_number() OVER (ORDER BY item_id) - 1 AS code, ivec FROM (SELECT item_id, ivec FROM it ORDER BY item_id LIMIT 16)),
         |cb AS (SELECT t.j, cc.code, list_slice(cc.ivec, t.j*8 + 1, t.j*8 + 8) AS cvec FROM range(0, 8) t(j), cbitems cc),
         |codes AS (
         |  SELECT item_id, j, code FROM (
         |    SELECT i.item_id, b.j, b.code,
         |      row_number() OVER (PARTITION BY i.item_id, b.j
         |        ORDER BY list_sum(list_transform(range(1, 9), t -> pow(list_extract(i.ivec, b.j*8 + t) - list_extract(b.cvec, t), 2))) ASC, b.code ASC) AS r
         |    FROM it i, cb b) WHERE r = 1),
         |recon AS (SELECT cd.item_id, sum(list_sum(list_transform(b.cvec, x -> x*x))) AS rn2
         |          FROM codes cd JOIN cb b ON b.j = cd.j AND b.code = cd.code GROUP BY cd.item_id),
         |q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec FROM embeddings WHERE vec_id < 3),
         |probes AS (
         |  SELECT query_id, qvec, list_id FROM (
         |    SELECT q.query_id, q.qvec, c.list_id,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY ${cosSql("q.qvec", "c.cvec")} DESC, c.list_id ASC) AS r
         |    FROM q, c) WHERE r <= 4),
         |cand AS (SELECT p.query_id, p.qvec, a.item_id FROM asg a JOIN probes p USING (list_id)),
         |adc AS (
         |  SELECT ca.query_id, ca.item_id,
         |     sum(list_sum(list_transform(range(1, 9), t -> list_extract(ca.qvec, b.j*8 + t) * list_extract(b.cvec, t)))) AS ip,
         |     any_value(sqrt(list_sum(list_transform(ca.qvec, x -> x*x)))) AS qnorm
         |  FROM cand ca JOIN codes cd ON cd.item_id = ca.item_id JOIN cb b ON b.j = cd.j AND b.code = cd.code
         |  GROUP BY ca.query_id, ca.item_id)
         |SELECT query_id, item_id, CAST(rank AS INT) AS rank FROM (
         |  SELECT a.query_id, a.item_id,
         |    row_number() OVER (PARTITION BY a.query_id ORDER BY (a.ip / (a.qnorm * sqrt(r.rn2))) DESC, a.item_id ASC) AS rank
         |  FROM adc a JOIN recon r ON r.item_id = a.item_id)
         |WHERE rank <= 3""".stripMargin,

    // residual replica: coarse assignment -> r = v - c_list -> residual
    // codebook (first-16 residuals) -> codes -> |c_list + r_hat|^2 norm
    // -> ADC ip + <q, c_list>, ranked within the probed lists
    "q67_ann_ivfpq_residual" ->
      s"""WITH it AS (SELECT vec_id AS item_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ivec FROM embeddings),
         |c AS (SELECT item_id AS list_id, ivec AS cvec FROM it ORDER BY item_id LIMIT 8),
         |asg AS (
         |  SELECT item_id, ivec, list_id, cvec FROM (
         |    SELECT i.item_id, i.ivec, c.list_id, c.cvec,
         |      row_number() OVER (PARTITION BY i.item_id ORDER BY ${cosSql("i.ivec", "c.cvec")} DESC, c.list_id ASC) AS r
         |    FROM it i, c) WHERE r = 1),
         |res AS (SELECT item_id, list_id, cvec,
         |          list_transform(range(1, 65), t -> list_extract(ivec, t) - list_extract(cvec, t)) AS rvec
         |        FROM asg),
         |cbitems AS (SELECT row_number() OVER (ORDER BY item_id) - 1 AS code, rvec FROM (SELECT item_id, rvec FROM res ORDER BY item_id LIMIT 16)),
         |cb AS (SELECT t.j, cc.code, list_slice(cc.rvec, t.j*8 + 1, t.j*8 + 8) AS cvec FROM range(0, 8) t(j), cbitems cc),
         |codes AS (
         |  SELECT item_id, j, code FROM (
         |    SELECT rs.item_id, b.j, b.code,
         |      row_number() OVER (PARTITION BY rs.item_id, b.j
         |        ORDER BY list_sum(list_transform(range(1, 9), t -> pow(list_extract(rs.rvec, b.j*8 + t) - list_extract(b.cvec, t), 2))) ASC, b.code ASC) AS r
         |    FROM res rs, cb b) WHERE r = 1),
         |rhat AS (SELECT cd.item_id, cd.j, b.cvec AS sub FROM codes cd JOIN cb b ON b.j = cd.j AND b.code = cd.code),
         |recon AS (
         |  SELECT rs.item_id,
         |    sum(list_sum(list_transform(range(1, 9), t -> pow(list_extract(rs.cvec, rh.j*8 + t) + list_extract(rh.sub, t), 2)))) AS rn2
         |  FROM res rs JOIN rhat rh ON rh.item_id = rs.item_id
         |  GROUP BY rs.item_id),
         |q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec FROM embeddings WHERE vec_id < 3),
         |probes AS (
         |  SELECT query_id, qvec, list_id FROM (
         |    SELECT q.query_id, q.qvec, c.list_id,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY ${cosSql("q.qvec", "c.cvec")} DESC, c.list_id ASC) AS r
         |    FROM q, c) WHERE r <= 4),
         |cand AS (SELECT p.query_id, p.qvec, rs.item_id, rs.cvec FROM res rs JOIN probes p USING (list_id)),
         |adc AS (
         |  SELECT ca.query_id, ca.item_id,
         |     sum(list_sum(list_transform(range(1, 9), t -> list_extract(ca.qvec, rh.j*8 + t) * list_extract(rh.sub, t)))) AS rip,
         |     any_value(list_sum(list_transform(range(1, 65), t -> list_extract(ca.qvec, t) * list_extract(ca.cvec, t)))) AS cip,
         |     any_value(sqrt(list_sum(list_transform(ca.qvec, x -> x*x)))) AS qnorm
         |  FROM cand ca JOIN rhat rh ON rh.item_id = ca.item_id
         |  GROUP BY ca.query_id, ca.item_id)
         |SELECT query_id, item_id, CAST(rank AS INT) AS rank FROM (
         |  SELECT a.query_id, a.item_id,
         |    row_number() OVER (PARTITION BY a.query_id ORDER BY ((a.cip + a.rip) / (a.qnorm * sqrt(r.rn2))) DESC, a.item_id ASC) AS rank
         |  FROM adc a JOIN recon r ON r.item_id = a.item_id)
         |WHERE rank <= 3""".stripMargin,

    "q34_gp_run_details" -> runDetailsOracleSql(),

    "q40_sgpr_run_details" -> runDetailsOracleSql(
      "CASE WHEN coalesce(cnt.n, 0) > 100 THEN 'GraftSGPR' ELSE 'GraftGPR' END"),

    "q41_had_obs_mask" ->
      s"""WITH obs AS (SELECT x, y, z FROM ($ObsSql) WHERE x > 0.0 AND y > 0.0),
         |cells AS (
         |  SELECT DISTINCT LEAST(FLOOR((x - (-800000.0))/200000.0), 7) AS ix,
         |                  LEAST(FLOOR((y - (-800000.0))/200000.0), 7) AS iy
         |  FROM obs
         |  WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0
         |    AND z IS NOT NULL),
         |grid AS (
         |  SELECT -800000.0 + (CAST(i AS DOUBLE) + 0.5) * 200000.0 AS x,
         |         -800000.0 + (CAST(j AS DOUBLE) + 0.5) * 200000.0 AS y,
         |         i, j
         |  FROM range(8) r(i), range(8) q(j))
         |SELECT g.x, g.y FROM grid g JOIN cells c ON g.i = c.ix AND g.j = c.iy""".stripMargin,

    "q42_grid_space_mask" ->
      """WITH g AS (
        |  SELECT -500000.0 + (CAST(i AS DOUBLE) + 0.5) * 100000.0 AS x,
        |         -500000.0 + (CAST(j AS DOUBLE) + 0.5) * 100000.0 AS y
        |  FROM range(10) r(i), range(10) q(j)),
        |kx AS (SELECT x FROM (SELECT x, row_number() OVER (ORDER BY x) - 1 AS rk
        |       FROM (SELECT DISTINCT x FROM g)) WHERE rk % 3 = 1),
        |ky AS (SELECT y FROM (SELECT y, row_number() OVER (ORDER BY y) - 1 AS rk
        |       FROM (SELECT DISTINCT y FROM g)) WHERE rk % 3 = 1)
        |SELECT g.x, g.y FROM g JOIN kx USING (x) JOIN ky USING (y)""".stripMargin,

    "q43_pred_local_select" ->
      s"""WITH pg AS (
         |  SELECT -500000.0 + (CAST(i AS DOUBLE) + 0.5) * 100000.0 AS px,
         |         -500000.0 + (CAST(j AS DOUBLE) + 0.5) * 100000.0 AS py
         |  FROM range(10) r(i), range(10) q(j))
         |SELECT px, py, ex, ey FROM pg JOIN $ExpertsSub
         |  ON (px-ex)*(px-ex) + (py-ey)*(py-ey) < 200000.0*200000.0
         |WHERE px <= ex + 0.0 AND py > ey + (-100000.0)""".stripMargin,

    "q44_col_funcs_multi" ->
      """WITH li AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS obs_id, l_quantity,
        |    CAST(l_orderkey % 90 AS VARCHAR) || ' ' ||
        |    format('{:.4f}', CAST(l_partkey % 5999 AS DOUBLE) / 100.0) || ' ' ||
        |    CASE WHEN l_suppkey % 2 = 0 THEN 'S' ELSE 'N' END AS lat_dms
        |  FROM lineitem)
        |SELECT obs_id, CAST(FLOOR(l_quantity / 7) AS BIGINT) AS qt, l_quantity % 7 AS rem,
        |  CASE WHEN split_part(lat_dms, ' ', 3) IN ('S', 'W') THEN
        |    -(CAST(split_part(lat_dms, ' ', 1) AS DOUBLE) + CAST(split_part(lat_dms, ' ', 2) AS DOUBLE)/60.0)
        |  ELSE CAST(split_part(lat_dms, ' ', 1) AS DOUBLE) + CAST(split_part(lat_dms, ' ', 2) AS DOUBLE)/60.0
        |  END AS lat_f
        |FROM li""".stripMargin,

    "q47_svgp_run_details" -> runDetailsOracleSql(
      "CASE WHEN coalesce(cnt.n, 0) >= 3 THEN 'GraftSVGP' ELSE 'GraftGPR' END"),

    "q48_vff_run_details" -> runDetailsOracleSql(
      "CASE WHEN coalesce(cnt.n, 0) >= 3 THEN 'GraftVFF' ELSE 'GraftGPR' END"),

    "q50_asvgp_run_details" -> runDetailsOracleSql(
      "CASE WHEN coalesce(cnt.n, 0) >= 3 THEN 'GraftASVGP' ELSE 'GraftGPR' END"),

    "q51_multioutput_run_details" -> runDetailsOracleSql(
      "CASE WHEN coalesce(cnt.n, 0) >= 3 THEN 'GraftMOGPR' ELSE 'GraftGPR' END"),

    "q52_kissgp_run_details" -> runDetailsOracleSql(
      "CASE WHEN coalesce(cnt.n, 0) >= 3 THEN 'GraftKISS' ELSE 'GraftGPR' END"),

    "q45_netcdf_roundtrip" ->
      s"""SELECT -800000.0 + (ix + 0.5) * 200000.0 AS x, -800000.0 + (iy + 0.5) * 200000.0 AS y,
         | avg(z) AS z_mean FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/200000.0), 7) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/200000.0), 7) AS iy, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2""".stripMargin,

    // same binned values as q45, roundtripped through .h5 instead of .nc
    "q49_hdf5_roundtrip" ->
      s"""SELECT -800000.0 + (ix + 0.5) * 200000.0 AS x, -800000.0 + (iy + 0.5) * 200000.0 AS y,
         | avg(z) AS z_mean FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/200000.0), 7) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/200000.0), 7) AS iy, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2""".stripMargin,

    "q54_zarr_roundtrip" ->
      s"""SELECT -800000.0 + (ix + 0.5) * 200000.0 AS x, -800000.0 + (iy + 0.5) * 200000.0 AS y,
         | avg(z) AS z_mean FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/200000.0), 7) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/200000.0), 7) AS iy, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2""".stripMargin,

    // same values as q54 — the blosc re-framing must be lossless
    "q58_zarr_blosc" ->
      s"""SELECT -800000.0 + (ix + 0.5) * 200000.0 AS x, -800000.0 + (iy + 0.5) * 200000.0 AS y,
         | avg(z) AS z_mean FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/200000.0), 7) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/200000.0), 7) AS iy, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2""".stripMargin,

    // same values as q54 — the v3 container + zstd codec chain must be lossless
    "q68_zarr_v3_roundtrip" ->
      s"""SELECT -800000.0 + (ix + 0.5) * 200000.0 AS x, -800000.0 + (iy + 0.5) * 200000.0 AS y,
         | avg(z) AS z_mean FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/200000.0), 7) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/200000.0), 7) AS iy, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2""".stripMargin,

    // q54's binned grid under the sharded container, windowed: the pushed
    // chunk window plus residual strict bounds must equal a plain WHERE
    "q71_zarr_window" ->
      s"""SELECT x, y, z_mean FROM (
         | SELECT -800000.0 + (ix + 0.5) * 200000.0 AS x, -800000.0 + (iy + 0.5) * 200000.0 AS y,
         |  avg(z) AS z_mean FROM (
         |    SELECT LEAST(FLOOR((x - (-800000.0))/200000.0), 7) AS ix,
         |           LEAST(FLOOR((y - (-800000.0))/200000.0), 7) AS iy, z
         |    FROM ($ObsSql)
         |    WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         |  GROUP BY 1, 2)
         | WHERE y >= -300000.0 AND y < 500000.0 AND x > -700000.0""".stripMargin,

    // the second snapshot's state = the first two appended batches
    "q72_store_timetravel" ->
      """SELECT event_id, user_id, value FROM events
        | WHERE event_id < 3000 AND event_id % 3 IN (0, 1)""".stripMargin,

    // compaction must not change a row: all three batches
    "q83_store_compact" ->
      "SELECT event_id, user_id, value FROM events WHERE event_id < 3000",

    // per-date binned means — the (t, y, x) cube must be lossless
    "q69_zarr_3d_roundtrip" ->
      s"""SELECT t, -800000.0 + (ix + 0.5) * 400000.0 AS x, -800000.0 + (iy + 0.5) * 400000.0 AS y,
         | avg(z) AS z_mean FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/400000.0), 3) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/400000.0), 3) AS iy, t, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2, 3""".stripMargin,

    // the grown store must equal the one-shot cube (same SQL as q69)
    "q75_zarr_append" ->
      s"""SELECT t, -800000.0 + (ix + 0.5) * 400000.0 AS x, -800000.0 + (iy + 0.5) * 400000.0 AS y,
         | avg(z) AS z_mean FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/400000.0), 3) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/400000.0), 3) AS iy, t, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2, 3""".stripMargin,

    // same cube as q69 through the per-date granule container
    "q70_netcdf_3d_granules" ->
      s"""SELECT t, -800000.0 + (ix + 0.5) * 400000.0 AS x, -800000.0 + (iy + 0.5) * 400000.0 AS y,
         | avg(z) AS z_mean FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/400000.0), 3) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/400000.0), 3) AS iy, t, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2, 3""".stripMargin,

    // q70's cube restricted to the pushed 3-day window
    "q73_netcdf_window" ->
      s"""SELECT t, x, y, z_mean FROM (
         | SELECT t, -800000.0 + (ix + 0.5) * 400000.0 AS x, -800000.0 + (iy + 0.5) * 400000.0 AS y,
         |  avg(z) AS z_mean FROM (
         |    SELECT LEAST(FLOOR((x - (-800000.0))/400000.0), 3) AS ix,
         |           LEAST(FLOOR((y - (-800000.0))/400000.0), 3) AS iy, t, z
         |    FROM ($ObsSql)
         |    WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         |  GROUP BY 1, 2, 3)
         | WHERE t >= 18324.0 AND t <= 18326.0""".stripMargin,

    // the grown archive must equal the one-shot cube (same SQL as q70)
    "q76_netcdf_append" ->
      s"""SELECT t, -800000.0 + (ix + 0.5) * 400000.0 AS x, -800000.0 + (iy + 0.5) * 400000.0 AS y,
         | avg(z) AS z_mean FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/400000.0), 3) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/400000.0), 3) AS iy, t, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2, 3""".stripMargin,

    // the q78 lattice, ids packed with the engine's cell arithmetic
    // ((ix + 2^20) * 2^21 + (iy + 2^20)), 4-adjacent same-zone edges,
    // then min-label propagation via a recursive CTE
    "q80_label_regions" ->
      s"""WITH RECURSIVE ids AS (
         | SELECT px, py, zone,
         |  (CAST(FLOOR((px - (-750000.0))/100000.0) AS BIGINT) + 1048576) * 2097152
         |   + (CAST(FLOOR((py - (-750000.0))/100000.0) AS BIGINT) + 1048576) AS id,
         |  CAST(FLOOR((px - (-750000.0))/100000.0) AS BIGINT) AS ix,
         |  CAST(FLOOR((py - (-750000.0))/100000.0) AS BIGINT) AS iy
         | FROM (
         |  SELECT px, py, ${zoneCaseSql("px", "py")} AS zone FROM (
         |   SELECT -750000.0 + ((t1.range + 0.5) * 100000.0) AS px,
         |          -750000.0 + ((t2.range + 0.5) * 100000.0) AS py
         |   FROM range(15) t1, range(15) t2))
         | WHERE zone IS NOT NULL),
         |pairs AS (
         | SELECT a.id AS idA, b.id AS idB FROM ids a JOIN ids b
         |  ON ((b.ix = a.ix + 1 AND b.iy = a.iy) OR (b.ix = a.ix AND b.iy = a.iy + 1))
         |   AND b.zone = a.zone),
         |edges AS (SELECT idA AS src, idB AS dst FROM pairs
         |          UNION SELECT idB, idA FROM pairs),
         |reach(id, label) AS (
         | SELECT src, src FROM edges
         | UNION
         | SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
         |labels AS (SELECT id, min(label) AS label FROM reach GROUP BY id)
         |SELECT i.px AS x, i.py AS y, i.zone AS zone,
         |       COALESCE(l.label, i.id) AS region
         |FROM ids i LEFT JOIN labels l ON l.id = i.id""".stripMargin,

    // per-date binned grids through the DataFrame-pickle granule sink:
    // q76's lattice plus a bigint count and a string label — the pickle
    // container must roundtrip all three dtypes losslessly
    "q79_pkl_frame" ->
      s"""SELECT t, x, y, z_mean, n_obs,
         | CASE WHEN z_mean > 0 THEN 'pos' ELSE 'neg' END AS label FROM (
         | SELECT t, -800000.0 + (ix + 0.5) * 400000.0 AS x, -800000.0 + (iy + 0.5) * 400000.0 AS y,
         |  avg(z) AS z_mean, CAST(count(z) AS BIGINT) AS n_obs FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/400000.0), 3) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/400000.0), 3) AS iy, t, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2, 3)""".stripMargin,

    // ray-cast zone assignment replayed edge-by-edge (crossing parity),
    // then the same grouped statistics
    "q77_zonal_stats" ->
      s"""SELECT zone, avg(z) AS z_mean, CAST(count(z) AS BIGINT) AS z_count,
         | min(z) AS z_min, max(z) AS z_max, stddev_samp(z) AS z_std FROM (
         |   SELECT ${zoneCaseSql("x", "y")} AS zone, z FROM ($ObsSql))
         | WHERE zone IS NOT NULL GROUP BY 1""".stripMargin,

    // the 15x15 cell-center lattice with the same zone CASE
    "q78_rasterize" ->
      s"""SELECT px AS x, py AS y, zone FROM (
         | SELECT px, py, ${zoneCaseSql("px", "py")} AS zone FROM (
         |   SELECT -750000.0 + ((t1.range + 0.5) * 100000.0) AS px,
         |          -750000.0 + ((t2.range + 0.5) * 100000.0) AS py
         |   FROM range(15) t1, range(15) t2))
         | WHERE zone IS NOT NULL""".stripMargin,

    // q73's window with the residual z_mean predicate on top
    "q74_netcdf_config" ->
      s"""SELECT t, x, y, z_mean FROM (
         | SELECT t, -800000.0 + (ix + 0.5) * 400000.0 AS x, -800000.0 + (iy + 0.5) * 400000.0 AS y,
         |  avg(z) AS z_mean FROM (
         |    SELECT LEAST(FLOOR((x - (-800000.0))/400000.0), 3) AS ix,
         |           LEAST(FLOOR((y - (-800000.0))/400000.0), 3) AS iy, t, z
         |    FROM ($ObsSql)
         |    WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         |  GROUP BY 1, 2, 3)
         | WHERE t >= 18324.0 AND t <= 18326.0 AND z_mean > 0.0""".stripMargin,

    "q53_hdfstore_roundtrip" ->
      s"""SELECT -800000.0 + (ix + 0.5) * 200000.0 AS x, -800000.0 + (iy + 0.5) * 200000.0 AS y,
         | avg(z) AS z_mean, CAST(count(z) AS BIGINT) AS n_obs FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/200000.0), 7) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/200000.0), 7) AS iy, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2""".stripMargin,

    // same values as q54 — the .npy container must be lossless
    "q60_npy_roundtrip" ->
      s"""SELECT -800000.0 + (ix + 0.5) * 200000.0 AS x, -800000.0 + (iy + 0.5) * 200000.0 AS y,
         | avg(z) AS z_mean FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/200000.0), 7) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/200000.0), 7) AS iy, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2""".stripMargin,

    // hash-min components via a recursive CTE: reach(id, label) saturates
    // reachable labels over the symmetrized edge set; min per id = the
    // component's smallest id (identical semantics to the Spark hash-min)
    "q59_dedup_closure" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT d.doc_id AS idA, d.doc_id + 7 AS idB
        |  FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 7
        |  WHERE d.doc_id < 2000 AND e.doc_id < 2000 AND d.doc_id % 50 < 43),
        |edges AS (SELECT idA AS src, idB AS dst FROM pairs
        |          UNION SELECT idB, idA FROM pairs),
        |reach(id, label) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
        |SELECT id, min(label) AS label FROM reach GROUP BY id""".stripMargin,

    // identical frame to q53/q57, through the values_block layout
    "q61_hdfstore_blocks" ->
      s"""SELECT -800000.0 + (ix + 0.5) * 200000.0 AS x, -800000.0 + (iy + 0.5) * 200000.0 AS y,
         | avg(z) AS z_mean, CAST(count(z) AS BIGINT) AS n_obs FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/200000.0), 7) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/200000.0), 7) AS iy, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2""".stripMargin,

    // q61's frame filtered by the pushed where triples
    "q66_hdfstore_where" ->
      s"""SELECT x, y, z_mean, n_obs FROM (
         | SELECT -800000.0 + (ix + 0.5) * 200000.0 AS x, -800000.0 + (iy + 0.5) * 200000.0 AS y,
         |  avg(z) AS z_mean, CAST(count(z) AS BIGINT) AS n_obs FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/200000.0), 7) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/200000.0), 7) AS iy, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2)
         |WHERE x > 0.0 AND n_obs >= 2""".stripMargin,

    // same binned values as q49 — the extensible-array container must be
    // lossless
    "q62_hdf5_extensible" ->
      s"""SELECT -800000.0 + (ix + 0.5) * 200000.0 AS x, -800000.0 + (iy + 0.5) * 200000.0 AS y,
         | avg(z) AS z_mean FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/200000.0), 7) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/200000.0), 7) AS iy, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2""".stripMargin,

    // same binned means keyed by cell index — the .pkl container must drop
    // exactly the NaN (empty-bin) cells and keep the rest losslessly
    "q63_pkl_dict" ->
      s"""SELECT CAST(ix AS BIGINT) AS idx0, CAST(iy AS BIGINT) AS idx1, avg(z) AS obs FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/200000.0), 7) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/200000.0), 7) AS iy, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2""".stripMargin,

    // identical frame to q53, roundtripped through format='table' instead
    "q57_hdfstore_table" ->
      s"""SELECT -800000.0 + (ix + 0.5) * 200000.0 AS x, -800000.0 + (iy + 0.5) * 200000.0 AS y,
         | avg(z) AS z_mean, CAST(count(z) AS BIGINT) AS n_obs FROM (
         |   SELECT LEAST(FLOOR((x - (-800000.0))/200000.0), 7) AS ix,
         |          LEAST(FLOOR((y - (-800000.0))/200000.0), 7) AS iy, z
         |   FROM ($ObsSql)
         |   WHERE x >= -800000.0 AND x <= 800000.0 AND y >= -800000.0 AND y <= 800000.0)
         | GROUP BY 1, 2""".stripMargin,

    "q35_laea_roundtrip" -> q35OracleSql,

    "q31_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
        |pairs AS (
        |  SELECT q.query_id, e.vec_id AS item_id,
        |    list_sum(list_transform(list_zip(q.qv, e.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(q.qv, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))) AS cosine
        |  FROM q, embeddings e)
        |SELECT query_id, item_id, CAST(rank AS INT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS rank
        |  FROM pairs)
        |WHERE rank <= 3""".stripMargin
  )
}
