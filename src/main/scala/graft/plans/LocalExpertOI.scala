package graft.plans

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.gp._
import graft.operators.SpatialJoin
import graft.operators.SpatialJoin.{RadiusJoinConfig, TemporalWindow}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Per-parameter constraint spec (reference `constraints` model config,
  * examples/inline_example.py:343-354): bounds are given in UNSCALED units;
  * lengthscale bounds are divided by coords_scale when building bijectors
  * (scale=True semantics, pure_python_gpr.py:216-219).
  */
final case class Bounds(low: Array[Double], high: Array[Double])

final case class OIConfig(
    obsCol: String = "z",
    trainingRadius: Double = 300000.0,
    tWindowBelow: Double = -4.0,
    tWindowAbove: Double = 4.0,
    inferenceRadius: Double = 200000.0,
    coordsScale: Array[Double] = Array(50000.0, 50000.0, 1.0),
    obsMeanLocal: Boolean = false, // obs_mean="local" de-meaning (base_model.py:193-199)
    minObs: Int = 3,               // skip threshold (local_experts.py:988-1012)
    maxObsPerTile: Int = 0,        // 0 = off; deterministic subsample cap for
                                   // pathologically dense tiles (reference
                                   // N_subsample, IS2_SMAP_GPSat_train.py:463-464)
    nystroemAboveN: Int = 0,       // 0 = off; windows larger than this use the
                                   // Nystroem low-rank model (the reference's
                                   // large-window SGPR analog / model swap,
                                   // local_experts.py:1021-1041)
    nystroemM: Int = 100,          // landmark count for the Nystroem path
    sgprAboveN: Int = 0,           // 0 = off; windows larger than this use
                                   // Titsias SGPR — the reference's production
                                   // model family (gpflow_models.py:666-901).
                                   // Takes precedence over the Nystroem swap.
    sgprM: Int = 500,              // inducing-point count (reference default
                                   // num_inducing_points=500, gpflow_models.py:704)
    model: String = "",            // explicit model name from TileModels.names —
                                   // the reference's name-driven model selection
                                   // (models/__init__.py getattr). Empty = pick
                                   // by the sgprAboveN/nystroemAboveN thresholds.
    maxIter: Int = 100,
    tolerance: Double = 1e-7,
    lengthscaleBounds: Option[Bounds] = None,
    kernelVarianceBounds: Option[Bounds] = None,
    likelihoodVarianceBounds: Option[Bounds] = None,
    initLengthscales: Array[Double] = Array(1.0, 1.0, 1.0),
    initKernelVariance: Double = 1.0,
    initLikelihoodVariance: Double = 1.0,
    optimise: Boolean = true,  // false = predict-only (the smoothed-params
                               // rerun). NOTE: with model=GraftSVGP this is
                               // NOT free — a meaningful ELBO at fixed
                               // hyperparameters still needs q(u) fitted, so
                               // each tile runs one 300-step variational-only
                               // Adam pass (O(steps * batch * M^2); lazy,
                               // once per tile) before evaluating.
    configId: Int = 0)

/** One observation row joined to its expert (training window member). */
private[plans] final case class TrainRow(
    ex: Double, ey: Double, et: Double,
    x: Double, y: Double, t: Double, z: Double,
    ls: Option[Seq[Double]], kv: Option[Double], lv: Option[Double])

/** One prediction location joined to its expert (inference window member). */
private[plans] final case class PredRow(ex: Double, ey: Double, et: Double, px: Double, py: Double)

private[plans] final case class PredOut(
    pred_loc_x: Double, pred_loc_y: Double, pred_loc_t: Double,
    fs: Double, fs_var: Double, y_var: Double)

/** Everything one tile (expert) produces; exploded downstream into the
  * reference result tables (preds / lengthscales / kernel_variance /
  * likelihood_variance / run_details, local_experts.py:1226-1245).
  */
final case class TileResult(
    x: Double, y: Double, t: Double,
    num_obs: Int,
    run_time: Double,
    objective_value: Double,
    parameters_optimised: Boolean,
    optimise_success: Boolean,
    model: String,
    device: String,
    config_id: Int,
    lengthscales: Seq[Double],
    kernel_variance: Double,
    likelihood_variance: Double,
    preds: Seq[PredOut])

/** The main query (reference `LocalExpertOI.run`, GPSat/local_experts.py:761-1279)
  * re-planned as ONE Spark job instead of a driver loop over experts
  * (SURVEY.md §3.1):
  *
  *   experts --left-anti-- run_details                       (resume)
  *   obs     --cell-bucketed radius join-- experts           (training windows)
  *   pred    --cell-bucketed radius join-- experts           (inference windows)
  *   cogroup by expert key -> flatMapGroups: scale -> fit(L-BFGS/Cholesky) -> predict
  *   -> TileResult dataset (persisted; one expensive pass feeds all sinks)
  *
  * Scale notes: both joins broadcast the expert side (experts are 10^2..10^5
  * rows; observations are the 10^12-row side and are never shuffled until
  * the single groupByKey on expert key, whose cardinality = number of
  * experts x window size, i.e. the minimum possible shuffle for per-tile
  * fitting). Dense polar tiles are bounded at the fit by the
  * minObs/maxIter caps.
  */
object LocalExpertOI {

  /** Resume primitive (reference `_remove_previously_run_locations`,
    * local_experts.py:474-497): drop experts whose (x, y, t) already
    * appears in run_details — exactly a left-anti equi join. The finished
    * keys (expert-sized) are collected into a local relation, so the
    * returned plan no longer reads run_details: a later append to that
    * table cannot re-evaluate the filter against the new rows when a
    * cached result downstream is rebuilt.
    */
  def resumeFilter(experts: DataFrame, runDetails: DataFrame): DataFrame = {
    val keys = runDetails.select("x", "y", "t").dropDuplicates()
    val done = experts.sparkSession.createDataFrame(
      java.util.Arrays.asList(keys.collect(): _*), keys.schema)
    experts.join(broadcast(done), Seq("x", "y", "t"), "left_anti")
  }

  private def bijectors(cfg: OIConfig): Array[Bijector] = {
    val ls: Array[Bijector] = cfg.lengthscaleBounds match {
      case Some(b) =>
        Array.tabulate(3)(i => Bijectors.SigmoidScaled(
          b.low(i) / cfg.coordsScale(i), b.high(i) / cfg.coordsScale(i)))
      case None => Array.fill[Bijector](3)(Bijectors.default)
    }
    def one(b: Option[Bounds]): Bijector = b match {
      case Some(bb) => Bijectors.SigmoidScaled(bb.low(0), bb.high(0))
      case None => Bijectors.default
    }
    ls ++ Array(one(cfg.kernelVarianceBounds), one(cfg.likelihoodVarianceBounds))
  }

  /** Fit + predict one tile. Pure function — unit-testable without Spark. */
  def fitTile(key: (Double, Double, Double), train0: Array[TrainRow], pred0: Array[PredRow],
              cfg: OIConfig): TileResult = {
    val (ex, ey, et) = key
    val t0 = System.nanoTime()
    // canonical row order: floating-point reductions must not depend on the
    // nondeterministic iterator order a shuffle delivers
    var train = train0.sortBy(r => (r.x, r.y, r.t, r.z))
    val pred = pred0.sortBy(p => (p.px, p.py))
    if (cfg.maxObsPerTile > 0 && train.length > cfg.maxObsPerTile) {
      // deterministic subsample of dense tiles: rank by a coordinate hash
      train = train.sortBy(r => graft.functions.TextHash.mix64(
        java.lang.Double.doubleToLongBits(r.x) * 31 + java.lang.Double.doubleToLongBits(r.y) +
          java.lang.Double.doubleToLongBits(r.t)))
        .take(cfg.maxObsPerTile)
        .sortBy(r => (r.x, r.y, r.t, r.z))
    }
    val n = train.length
    if (n < cfg.minObs) {
      // stub run_details row so restarts skip this expert (local_experts.py:988-1012)
      return TileResult(ex, ey, et, n, (System.nanoTime() - t0) / 1e9, Double.NaN,
        parameters_optimised = false, optimise_success = false, "GraftGPR", "cpu", cfg.configId,
        Seq.empty, Double.NaN, Double.NaN, Seq.empty)
    }

    val cs = cfg.coordsScale
    val coords = DenseMatrix.tabulate[Double](n, 3) { (i, j) =>
      val r = train(i)
      (j match { case 0 => r.x; case 1 => r.y; case 2 => r.t }) / cs(j)
    }
    val rawY = train.map(_.z)
    val mean = if (cfg.obsMeanLocal) rawY.sum / n else 0.0
    val yv = DenseVector(rawY.map(_ - mean))

    val bij = bijectors(cfg)
    val modelName =
      if (cfg.model.nonEmpty) cfg.model
      else if (cfg.sgprAboveN > 0 && n > cfg.sgprAboveN) "GraftSGPR"
      else if (cfg.nystroemAboveN > 0 && n > cfg.nystroemAboveN) "GraftNystroem"
      else "GraftGPR"

    // initial / loaded parameters; loaded (smoothed) params ride on the
    // expert row (reference _read_params_from_file, local_experts.py:608-689)
    val loaded = train.head
    val init0 = GprParams(
      loaded.ls.map(_.toArray).getOrElse(cfg.initLengthscales),
      loaded.kv.getOrElse(cfg.initKernelVariance),
      loaded.lv.getOrElse(cfg.initLikelihoodVariance))
    // move_within_tol: nudge params into constraint support (pure_python_gpr.py:145-163)
    val init = GprParams(
      Array.tabulate(3)(i => bij(i).moveWithinBound(init0.lengthscales(i))),
      bij(3).moveWithinBound(init0.kernelVariance),
      bij(4).moveWithinBound(init0.likelihoodVariance))

    val rank = modelName match {
      case "GraftSGPR" | "GraftSVGP" | "GraftVFF" | "GraftASVGP" | "GraftKISS" => cfg.sgprM
      case "GraftNystroem" => math.min(cfg.nystroemM, n)
      case _ => 0
    }
    val model = TileModels.create(modelName, coords, yv, rank)
    val fit =
      if (!cfg.optimise) GprFitResult(init, model.objective(init), success = true, 0)
      else model.optimise(init, bij, cfg.maxIter, cfg.tolerance)

    val preds =
      if (pred.isEmpty) Seq.empty[PredOut]
      else {
        val m = pred.length
        // missing t coordinate filled from the expert (prediction_locations.py:264-271)
        val xs = DenseMatrix.tabulate[Double](m, 3) { (i, j) =>
          (j match { case 0 => pred(i).px; case 1 => pred(i).py; case 2 => et }) / cs(j)
        }
        val p = model.predict(xs, fit.params)
        Array.tabulate(m) { i =>
          PredOut(pred(i).px, pred(i).py, et, p.fs(i) + mean, p.fsVar(i), p.yVar(i))
        }.toSeq
      }

    TileResult(ex, ey, et, n, (System.nanoTime() - t0) / 1e9, fit.objective,
      parameters_optimised = cfg.optimise, optimise_success = fit.success,
      model.name, "cpu", cfg.configId,
      fit.params.lengthscales.toSeq, fit.params.kernelVariance, fit.params.likelihoodVariance,
      preds)
  }

  /** Plan + execute the whole run; returns the persisted TileResult dataset.
    *
    * @param obs      observations with columns x, y, t, `cfg.obsCol`
    * @param experts  expert locations with columns x, y, t and optional
    *                 loaded-parameter columns ls (array), kvar, lvar
    * @param predGrid prediction locations with columns x, y
    */
  def run(spark: SparkSession, obs: DataFrame, experts: DataFrame, predGrid: DataFrame,
          cfg: OIConfig): Dataset[TileResult] = {
    import spark.implicits._

    val hasParams = experts.columns.contains("ls")
    val e = if (hasParams) experts else experts
      .withColumn("ls", lit(null).cast("array<double>"))
      .withColumn("kvar", lit(null).cast("double"))
      .withColumn("lvar", lit(null).cast("double"))

    val trainJoined = SpatialJoin.radiusJoin(
      obs.select(col("x"), col("y"), col("t"), col(cfg.obsCol).as("z")), e,
      RadiusJoinConfig(radius = cfg.trainingRadius,
        temporal = Some(TemporalWindow("t", "t", cfg.tWindowBelow, cfg.tWindowAbove))))
      .select(
        col("expert_x").as("ex"), col("expert_y").as("ey"), col("expert_t").as("et"),
        col("x"), col("y"), col("t"), col("z"),
        col("expert_ls").as("ls"), col("expert_kvar").as("kv"), col("expert_lvar").as("lv"))
      .as[TrainRow]

    val predJoined = SpatialJoin.radiusJoin(
      predGrid.select("x", "y"), e.select("x", "y", "t"),
      RadiusJoinConfig(radius = cfg.inferenceRadius, inclusive = false))
      .select(
        col("expert_x").as("ex"), col("expert_y").as("ey"), col("expert_t").as("et"),
        col("x").as("px"), col("y").as("py"))
      .as[PredRow]

    // one marker row per expert rides the (tiny) pred side so EVERY visited
    // expert reaches the cogroup — experts with no obs and no pred rows get
    // a num_obs=0 stub run_details row, so resume skips them instead of
    // re-joining empty tiles every restart (reference writes a stub row per
    // visited expert, local_experts.py:988-1012)
    val markers = e.select(
      col("x").as("ex"), col("y").as("ey"), col("t").as("et"),
      lit(Double.NaN).as("px"), lit(Double.NaN).as("py")).as[PredRow]

    val results = trainJoined
      .groupByKey(r => (r.ex, r.ey, r.et))
      .cogroup(predJoined.unionByName(markers).groupByKey(p => (p.ex, p.ey, p.et))) {
        (key, trainIter, predIter) =>
          val train = trainIter.toArray
          if (train.isEmpty) {
            // no training window: stub row (no model, no predictions)
            val (ex, ey, et) = key
            Iterator.single(TileResult(ex, ey, et, 0, 0.0, Double.NaN,
              parameters_optimised = false, optimise_success = false, "GraftGPR", "cpu",
              cfg.configId, Seq.empty, Double.NaN, Double.NaN, Seq.empty))
          } else {
            val pred = predIter.toArray.filter(p => !p.px.isNaN)
            Iterator.single(fitTile(key, train, pred, cfg))
          }
      }

    // one expensive pass feeds run_details / preds / hyperparameter sinks
    results.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** The reference result tables from the tile results (local_experts.py:1226-1245,
    * vector params exploded to `_dim_*` rows via posexplode — utils.py:1437-1495).
    */
  def runDetails(results: Dataset[TileResult]): DataFrame =
    results.toDF().select(
      col("x"), col("y"), col("t"), col("num_obs"), col("run_time"),
      col("objective_value"), col("parameters_optimised"), col("optimise_success"),
      col("model"), col("device"), col("config_id"),
      spark_partition_id().as("partition_id")) // per-partition lineage

  def preds(results: Dataset[TileResult]): DataFrame =
    results.toDF()
      .select(col("x"), col("y"), col("t"), explode(col("preds")).as("p"))
      .select(col("x"), col("y"), col("t"),
        col("p.fs").as("f*"), col("p.fs_var").as("f*_var"), col("p.y_var").as("y_var"),
        col("p.pred_loc_x"), col("p.pred_loc_y"), col("p.pred_loc_t"))

  def lengthscales(results: Dataset[TileResult]): DataFrame =
    results.toDF()
      .filter(size(col("lengthscales")) > 0)
      .select(col("x"), col("y"), col("t"), posexplode(col("lengthscales")).as(Seq("_dim_0", "lengthscales")))

  def kernelVariance(results: Dataset[TileResult]): DataFrame =
    results.toDF().filter(!isnan(col("kernel_variance")))
      .select(col("x"), col("y"), col("t"), col("kernel_variance"))

  def likelihoodVariance(results: Dataset[TileResult]): DataFrame =
    results.toDF().filter(!isnan(col("likelihood_variance")))
      .select(col("x"), col("y"), col("t"), col("likelihood_variance"))
}
