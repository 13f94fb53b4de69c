package gpsatbench

import graft.io.ResultStore
import graft.operators.Postprocess
import graft.plans.{GpSatPipeline, LocalExpertOI, TileResult}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** `GpSatPipeline.runAll` with a span around each layer call and each
  * layer's output forced inside its span. It makes the same calls with the
  * same arguments in the same order as the program's `runAll` and
  * `smoothAndRerun`, so a change to that orchestration must be mirrored
  * here; the output checks run on the traced job too.
  */
final class TracedPipeline(spark: SparkSession, store: ResultStore,
                           cfg: GpSatPipeline.PipelineConfig, tr: Tracer) {
  /** (num_obs, run_time, optimise_success) of each tile, per LocalExpertOI.run call. */
  private var fitTiles = Array.empty[(Int, Double, Boolean)]
  private var predictTiles = Array.empty[(Int, Double, Boolean)]

  private def table(name: String): DataFrame = tr.span("ResultStore.table")(store.table(name))

  private def tileStats(r: Dataset[TileResult]): Array[(Int, Double, Boolean)] =
    tr.span("bench.tile_stats") {
      r.toDF().select("num_obs", "run_time", "optimise_success").collect()
        .map(x => (x.getInt(0), x.getDouble(1), x.getBoolean(2)))
    }

  private def run(el: DataFrame, binned: DataFrame, pg: DataFrame,
                  oi: graft.plans.OIConfig): Dataset[TileResult] =
    tr.span("LocalExpertOI.run") {
      val r = LocalExpertOI.run(spark, binned, el, pg, oi)
      r.count()
      tr.recordPlan(r)
      r
    }

  def runAll(): GpSatPipeline.RunSummary = tr.span("GpSatPipeline.runAll") {
    val binned = tr.span("GpSatPipeline.binnedObs") {
      val b = GpSatPipeline.binnedObs(spark, cfg).persist()
      b.count()
      b
    }
    val allExperts = GpSatPipeline.experts(spark, binned, cfg)
    val el = if (store.exists("run_details")) {
      val rd = table("run_details")
      tr.span("GpSatPipeline.resumeFilter")(Tracer.force(LocalExpertOI.resumeFilter(allExperts, rd)))
    } else allExperts
    val pg = GpSatPipeline.predGrid(spark, cfg)

    val t0 = System.nanoTime()
    val results = run(el, binned, pg, cfg.oi)
    val tiles = results.count()
    val fitSec = (System.nanoTime() - t0) / 1e9
    fitTiles = tileStats(results)

    val minObs = cfg.oi.minObs
    val skipped = results.filter(_.num_obs < minObs).count()
    val predRows = results.toDF().select(explode(col("preds"))).count()
    def sized(df: DataFrame, rows: Long, bytesPerRow: Long): DataFrame =
      df.coalesce(math.max(1L, math.min(10000L, rows * bytesPerRow / (128L << 20) + 1)).toInt)
    def append(name: String, df: DataFrame): Unit = tr.span("ResultStore.append")(store.append(name, df))
    append("run_details", sized(LocalExpertOI.runDetails(results), tiles, 120))
    append("preds", sized(LocalExpertOI.preds(results), predRows, 80))
    append("lengthscales", sized(LocalExpertOI.lengthscales(results), tiles * 3, 60))
    append("kernel_variance", sized(LocalExpertOI.kernelVariance(results), tiles, 40))
    append("likelihood_variance", sized(LocalExpertOI.likelihoodVariance(results), tiles, 40))
    results.unpersist()

    tr.span("GpSatPipeline.smoothAndRerun")(smoothAndRerun(binned, pg))
    binned.unpersist()
    GpSatPipeline.RunSummary(tiles, skipped, predRows, fitSec)
  }

  private def smoothAndRerun(binned: DataFrame, pg: DataFrame): Unit = {
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "true")
    try smoothAndRerunInner(binned, pg)
    finally prev match {
      case Some(v) => spark.conf.set(coalesceKey, v)
      case None => spark.conf.unset(coalesceKey)
    }
  }

  private def smoothAndRerunInner(binned: DataFrame, pg: DataFrame): Unit = {
    val l = cfg.smoothLengthscale
    def smooth(df: DataFrame, sc: Postprocess.SmoothConfig): DataFrame =
      tr.span("Postprocess.smoothHyperparameters")(Tracer.force(Postprocess.smoothHyperparameters(df, sc)))
    def overwrite(name: String, df: DataFrame): Unit =
      tr.span("ResultStore.overwrite")(store.overwrite(name, df))
    val lsSm = smooth(table("lengthscales"),
      Postprocess.SmoothConfig("lengthscales", otherDims = Seq("t", "_dim_0"), lX = l, lY = l))
    val kvSm = smooth(table("kernel_variance"),
      Postprocess.SmoothConfig("kernel_variance", otherDims = Seq("t"), lX = l, lY = l, maxVal = Some(0.1)))
    val lvSm = smooth(table("likelihood_variance"),
      Postprocess.SmoothConfig("likelihood_variance", otherDims = Seq("t"), lX = l, lY = l, maxVal = Some(0.3)))
    overwrite("lengthscales_SMOOTHED", lsSm)
    overwrite("kernel_variance_SMOOTHED", kvSm)
    overwrite("likelihood_variance_SMOOTHED", lvSm)

    val lsArr = lsSm.groupBy("x", "y", "t")
      .agg(transform(array_sort(collect_list(struct(col("_dim_0"), col("lengthscales")))),
        s => s.getField("lengthscales")).as("ls"))
    val withParams = lsArr
      .join(kvSm.withColumnRenamed("kernel_variance", "kvar"), Seq("x", "y", "t"))
      .join(lvSm.withColumnRenamed("likelihood_variance", "lvar"), Seq("x", "y", "t"))

    val rerun = run(withParams, binned, pg, cfg.oi.copy(optimise = cfg.warmStartRerun))
    predictTiles = tileStats(rerun)
    overwrite("preds_SMOOTHED", LocalExpertOI.preds(rerun))
    overwrite("run_details_SMOOTHED", LocalExpertOI.runDetails(rerun))
    rerun.unpersist()
    Seq(lsSm, kvSm, lvSm).foreach(_.unpersist())

    val predsSm = table("preds_SMOOTHED")
    val glued = tr.span("Postprocess.getWeightedValues") {
      Tracer.force(Postprocess.getWeightedValues(predsSm,
        refCols = Seq("pred_loc_x", "pred_loc_y", "pred_loc_t"),
        distToCols = Seq("x", "y", "t"),
        valCols = Seq("f*", "f*_var"),
        lengthscale = cfg.oi.inferenceRadius / 2))
    }
    overwrite("preds_glued", glued)
    glued.unpersist()
  }

  /** Per-layer metrics of the traced job (the ResultStore ones come from
    * [[StoreMetrics]]).
    */
  def layerMetrics(cores: Int): Map[String, Double] = {
    val top = tr.named("GpSatPipeline.runAll").last
    val sr = tr.named("GpSatPipeline.smoothAndRerun").last
    val runs = tr.named("LocalExpertOI.run")
    val fit = runs.filter(_.parent == top.id).last
    val fitAgg = tr.tasksInclusive(fit)
    val fitted = fitTiles.filter(_._1 >= cfg.oi.minObs)
    val fitTimes = fitted.map(_._2).toSeq
    val smooths = tr.named("Postprocess.smoothHyperparameters")
    val glue = tr.named("Postprocess.getWeightedValues")
    val post = smooths ++ glue
    def sum(xs: Seq[Span]): Double = xs.map(_.seconds).sum
    Map(
      "LocalExpertOI.fit_s" -> fit.seconds,
      "LocalExpertOI.shuffle_write_mb" -> fitAgg.shuffleWriteBytes / 1e6,
      "LocalExpertOI.task_skew" -> fitAgg.heaviestStageSkew,
      "LocalExpertOI.busy_frac" -> fitTiles.map(_._2).sum / (fit.seconds * cores),
      "gp.tile_fit_s_p50" -> Stats.median(fitTimes),
      "gp.tile_fit_s_p99" -> Stats.quantile(fitTimes, 0.99),
      "gp.obs_per_tile" -> (if (fitted.isEmpty) 0.0 else fitted.map(_._1).sum.toDouble / fitted.length),
      "gp.optimise_success_ratio" ->
        (if (fitted.isEmpty) 0.0 else fitted.count(_._3).toDouble / fitted.length),
      "gp.tile_predict_s_p50" -> Stats.median(predictTiles.filter(_._1 >= cfg.oi.minObs).map(_._2).toSeq),
      "Postprocess.smooth_s" -> sum(smooths),
      "Postprocess.glue_s" -> sum(glue),
      "Postprocess.shuffle_write_mb" -> post.map(s => tr.tasksInclusive(s).shuffleWriteBytes).sum / 1e6,
      "GpSatPipeline.binned_obs_s" -> sum(tr.named("GpSatPipeline.binnedObs")),
      "GpSatPipeline.resume_filter_s" -> sum(tr.named("GpSatPipeline.resumeFilter")),
      "GpSatPipeline.refit_tiles" -> fitTiles.length.toDouble,
      "GpSatPipeline.self_s" -> (tr.selfSeconds(top) + tr.selfSeconds(sr)))
  }
}
