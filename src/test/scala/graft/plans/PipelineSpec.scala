package graft.plans

import graft.SparkTestBase
import graft.io.ResultStore
import graft.sources.ObsDocs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class PipelineSpec extends AnyFunSuite with SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("graft_e2e_").toString

  // small but real: 10k docs, 25 experts, coarse 25 km prediction grid
  private val cfg = {
    val base = GpSatPipeline.PipelineConfig(nDocs = 10000, predSpacing = 25000.0)
    base.copy(oi = base.oi.copy(maxIter = 60))
  }

  test("end-to-end: fit + predict + smooth + glue, interpolation tracks the truth field") {
    val store = new ResultStore(spark, tmpDir())
    val summary = GpSatPipeline.runAll(spark, store, cfg)

    assert(summary.tiles === 25, "5x5 expert grid at 200 km over +-500 km")
    assert(summary.predRows > 0)

    val rd = store.table("run_details")
    assert(rd.count() === 25)
    assert(rd.filter(col("optimise_success")).count() >= 20, "most tiles should converge")
    assert(rd.select("partition_id").distinct().count() >= 1) // lineage present

    // hyperparameters: 3 lengthscale components per fitted tile
    val ls = store.table("lengthscales")
    assert(ls.select("_dim_0").distinct().count() === 3)

    // interpolation accuracy: glued posterior mean vs the deterministic truth
    val glued = store.table("preds_glued")
    val withTruth = glued.withColumn("truth",
      udf((x: Double, y: Double, t: Double) => ObsDocs.truthField(x, y, t))
        .apply(col("pred_loc_x"), col("pred_loc_y"), col("pred_loc_t")))
    val err = withTruth.agg(
      avg(abs(col("f*") - col("truth"))).as("mae"),
      max(abs(col("f*") - col("truth"))).as("maxe")).head()
    val mae = err.getDouble(0)
    assert(mae < 0.05, s"glued prediction MAE $mae vs truth field (noise sd ~0.017)")

    // posterior variance is positive and bounded by the prior
    val v = store.table("preds").agg(min("f*_var"), max("f*_var")).head()
    assert(v.getDouble(0) > 0.0)
  }

  test("resume: second run on the same store skips all completed experts") {
    val dir = tmpDir()
    val store = new ResultStore(spark, dir)
    val small = cfg.copy(nDocs = 8000)
    val first = GpSatPipeline.runAll(spark, store, small, smooth = false)
    assert(first.tiles === 25)
    val second = GpSatPipeline.runAll(spark, store, small, smooth = false)
    assert(second.tiles === 0, "left-anti join vs run_details must skip completed tiles")
    assert(store.table("run_details").count() === 25, "no duplicate rows appended")
  }

  test("partial resume: refit experts get their preds and hyperparameter rows") {
    val small = cfg.copy(nDocs = 8000)
    val ref = new ResultStore(spark, tmpDir())
    GpSatPipeline.runAll(spark, ref, small, smooth = false)
    // a crash after some experts were written: cut every fourth expert
    // that produced predictions out of all five fit tables
    val cut = ref.table("preds").select("x", "y").distinct().orderBy("x", "y").collect()
      .zipWithIndex.collect { case (r, i) if i % 4 == 0 => (r.getDouble(0), r.getDouble(1)) }
    assert(cut.nonEmpty)
    val cutDf = spark.createDataFrame(cut.toSeq).toDF("x", "y")
    val fitTables = Seq("run_details", "preds", "lengthscales", "kernel_variance", "likelihood_variance")
    val store = new ResultStore(spark, tmpDir())
    fitTables.foreach(t => store.overwrite(t, ref.table(t).join(broadcast(cutDf), Seq("x", "y"), "left_anti")))

    val resumed = GpSatPipeline.runAll(spark, store, small, smooth = false)
    assert(resumed.tiles === cut.length, "only the cut experts are refit")
    fitTables.foreach { t =>
      val have = store.table(t).select("x", "y").distinct().collect()
        .map(r => (r.getDouble(0), r.getDouble(1))).toSet
      cut.foreach(e => assert(have.contains(e), s"$t has no rows for refit expert $e"))
    }
    assert(store.table("run_details").count() === ref.table("run_details").count())
    // tile fits are deterministic, so the resumed tables equal the uninterrupted run's
    fitTables.tail.foreach { t =>
      def rows(s: ResultStore) = s.table(t).collect().map(_.toSeq.mkString(",")).sorted.toSeq
      assert(rows(store) === rows(ref), t)
    }
  }

  test("config identity: same canonical config reuses its id, changed config increments") {
    val store = new ResultStore(spark, tmpDir())
    val id0 = store.configId("""{"a":1}""")
    val id1 = store.configId("""{"a":1}""")
    val id2 = store.configId("""{"a":2}""")
    assert(id0 === 0 && id1 === 0 && id2 === 1)
  }

  test("min_obs skip: experts with fewer than min_obs rows produce stub run_details and no preds") {
    import spark.implicits._
    val obs = Seq((0.0, 0.0, 18326.0, 0.5), (1000.0, 0.0, 18326.0, 0.55)).toDF("x", "y", "t", "z")
    val experts = Seq((0.0, 0.0, 18326.0)).toDF("x", "y", "t")
    val pg = Seq((500.0, 500.0)).toDF("x", "y")
    val res = LocalExpertOI.run(spark, obs, experts, pg, OIConfig(minObs = 3))
    val r = res.collect()
    assert(r.length === 1)
    assert(r.head.num_obs === 2 && !r.head.optimise_success && r.head.preds.isEmpty)
    res.unpersist()
  }

  test("Nystroem model swap engages for large windows and still interpolates") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val obs = Seq.tabulate(400) { i =>
      val x = rng.nextDouble() * 400000 - 200000
      val y = rng.nextDouble() * 400000 - 200000
      (x, y, 18326.0, 0.2 * math.sin(x / 2e5) + 0.1 * math.cos(y / 2e5) + 0.01 * rng.nextGaussian())
    }.toDF("x", "y", "t", "z")
    val experts = Seq((0.0, 0.0, 18326.0)).toDF("x", "y", "t")
    val pg = Seq((0.0, 0.0), (50000.0, 50000.0)).toDF("x", "y")
    val res = LocalExpertOI.run(spark, obs, experts, pg,
      OIConfig(nystroemAboveN = 100, nystroemM = 60, maxIter = 20)).collect()
    assert(res.length === 1)
    assert(res.head.model === "GraftNystroem")
    assert(res.head.num_obs === 400)
    assert(res.head.preds.nonEmpty)
    val p0 = res.head.preds.minBy(p => math.abs(p.pred_loc_x) + math.abs(p.pred_loc_y))
    val truth = 0.2 * math.sin(0.0) + 0.1 * math.cos(0.0)
    assert(math.abs(p0.fs - truth) < 0.05, s"nystroem f*=${p0.fs} vs truth $truth")
  }

  test("SGPR model swap engages for large windows and still interpolates") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val obs = Seq.tabulate(400) { i =>
      val x = rng.nextDouble() * 400000 - 200000
      val y = rng.nextDouble() * 400000 - 200000
      (x, y, 18326.0, 0.2 * math.sin(x / 2e5) + 0.1 * math.cos(y / 2e5) + 0.01 * rng.nextGaussian())
    }.toDF("x", "y", "t", "z")
    val experts = Seq((0.0, 0.0, 18326.0)).toDF("x", "y", "t")
    val pg = Seq((0.0, 0.0), (50000.0, 50000.0)).toDF("x", "y")
    val res = LocalExpertOI.run(spark, obs, experts, pg,
      OIConfig(sgprAboveN = 100, sgprM = 60, maxIter = 40)).collect()
    assert(res.length === 1)
    assert(res.head.model === "GraftSGPR")
    assert(res.head.num_obs === 400)
    assert(res.head.optimise_success)
    assert(res.head.preds.nonEmpty)
    val p0 = res.head.preds.minBy(p => math.abs(p.pred_loc_x) + math.abs(p.pred_loc_y))
    val truth = 0.2 * math.sin(0.0) + 0.1 * math.cos(0.0)
    assert(math.abs(p0.fs - truth) < 0.05, s"sgpr f*=${p0.fs} vs truth $truth")
    assert(res.head.preds.forall(p => p.fs_var > 0 && !p.fs_var.isNaN))
  }

  test("warm-start rerun re-optimises from the smoothed parameter field") {
    val store = new ResultStore(spark, tmpDir())
    val wcfg = cfg.copy(nDocs = 6000, warmStartRerun = true,
      oi = cfg.oi.copy(maxIter = 40))
    GpSatPipeline.runAll(spark, store, wcfg)
    val rd = store.table("run_details_SMOOTHED")
    assert(rd.filter(col("parameters_optimised")).count() === rd.count(),
      "warm-start rerun must re-optimise, not just evaluate")
    assert(rd.filter(col("optimise_success")).count() >= rd.count() / 2)
    // glued output still tracks the truth field
    val glued = store.table("preds_glued")
    val withTruth = glued.withColumn("truth",
      udf((x: Double, y: Double, t: Double) => ObsDocs.truthField(x, y, t))
        .apply(col("pred_loc_x"), col("pred_loc_y"), col("pred_loc_t")))
    val mae = withTruth.agg(avg(abs(col("f*") - col("truth")))).head().getDouble(0)
    assert(mae < 0.06, s"warm-start glued MAE $mae")
  }

  test("SVGP model fits through the pipeline and interpolates") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val obs = Seq.tabulate(400) { i =>
      val x = rng.nextDouble() * 400000 - 200000
      val y = rng.nextDouble() * 400000 - 200000
      (x, y, 18326.0, 0.2 * math.sin(x / 2e5) + 0.1 * math.cos(y / 2e5) + 0.01 * rng.nextGaussian())
    }.toDF("x", "y", "t", "z")
    val experts = Seq((0.0, 0.0, 18326.0)).toDF("x", "y", "t")
    val pg = Seq((0.0, 0.0), (50000.0, 50000.0)).toDF("x", "y")
    val res = LocalExpertOI.run(spark, obs, experts, pg,
      OIConfig(model = "GraftSVGP", sgprM = 60, maxIter = 60)).collect()
    assert(res.length === 1)
    assert(res.head.model === "GraftSVGP")
    assert(res.head.preds.nonEmpty)
    val p0 = res.head.preds.minBy(p => math.abs(p.pred_loc_x) + math.abs(p.pred_loc_y))
    val truth = 0.2 * math.sin(0.0) + 0.1 * math.cos(0.0)
    assert(math.abs(p0.fs - truth) < 0.06, s"svgp f*=${p0.fs} vs truth $truth")
    assert(res.head.preds.forall(p => p.fs_var > 0 && !p.fs_var.isNaN))
  }

  test("VFF model fits through the pipeline (3-d Kronecker features) and interpolates") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val obs = Seq.tabulate(300) { i =>
      val x = rng.nextDouble() * 400000 - 200000
      val y = rng.nextDouble() * 400000 - 200000
      val t = 18322.0 + (i % 9)
      (x, y, t, 0.2 * math.sin(x / 2e5) + 0.1 * math.cos(y / 2e5) + 0.01 * rng.nextGaussian())
    }.toDF("x", "y", "t", "z")
    val experts = Seq((0.0, 0.0, 18326.0)).toDF("x", "y", "t")
    val pg = Seq((0.0, 0.0), (50000.0, 50000.0)).toDF("x", "y")
    val res = LocalExpertOI.run(spark, obs, experts, pg,
      OIConfig(model = "GraftVFF", sgprM = 343, maxIter = 40)).collect()
    assert(res.length === 1)
    assert(res.head.model === "GraftVFF")
    assert(res.head.preds.nonEmpty)
    val p0 = res.head.preds.minBy(p => math.abs(p.pred_loc_x) + math.abs(p.pred_loc_y))
    val truth = 0.2 * math.sin(0.0) + 0.1 * math.cos(0.0)
    assert(math.abs(p0.fs - truth) < 0.08, s"vff f*=${p0.fs} vs truth $truth")
    assert(res.head.preds.forall(p => !p.fs.isNaN && !p.fs_var.isNaN))
  }

  test("ASVGP model fits through the pipeline (3-d B-spline Kronecker features) and interpolates") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val obs = Seq.tabulate(300) { i =>
      val x = rng.nextDouble() * 400000 - 200000
      val y = rng.nextDouble() * 400000 - 200000
      val t = 18322.0 + (i % 9)
      (x, y, t, 0.2 * math.sin(x / 2e5) + 0.1 * math.cos(y / 2e5) + 0.01 * rng.nextGaussian())
    }.toDF("x", "y", "t", "z")
    val experts = Seq((0.0, 0.0, 18326.0)).toDF("x", "y", "t")
    val pg = Seq((0.0, 0.0), (50000.0, 50000.0)).toDF("x", "y")
    val res = LocalExpertOI.run(spark, obs, experts, pg,
      OIConfig(model = "GraftASVGP", sgprM = 512, maxIter = 40)).collect()
    assert(res.length === 1)
    assert(res.head.model === "GraftASVGP")
    assert(res.head.preds.nonEmpty)
    val p0 = res.head.preds.minBy(p => math.abs(p.pred_loc_x) + math.abs(p.pred_loc_y))
    val truth = 0.2 * math.sin(0.0) + 0.1 * math.cos(0.0)
    assert(math.abs(p0.fs - truth) < 0.08, s"asvgp f*=${p0.fs} vs truth $truth")
    assert(res.head.preds.forall(p => !p.fs.isNaN && !p.fs_var.isNaN))
  }

  test("name-driven model registry: explicit model overrides the size thresholds") {
    import spark.implicits._
    val obs = Seq.tabulate(50)(i => (i * 5000.0, (i % 7) * 5000.0, 18326.0, 0.5 + (i % 5) * 0.01))
      .toDF("x", "y", "t", "z")
    val experts = Seq((100000.0, 10000.0, 18326.0)).toDF("x", "y", "t")
    val pg = Seq((100000.0, 10000.0)).toDF("x", "y")
    // a 50-obs window would default to exact GPR; model="GraftSGPR" forces SGPR
    val res = LocalExpertOI.run(spark, obs, experts, pg,
      OIConfig(model = "GraftSGPR", sgprM = 16, maxIter = 20,
        trainingRadius = 1e6, inferenceRadius = 1e6)).collect()
    assert(res.head.model === "GraftSGPR")
    assert(res.head.preds.nonEmpty && res.head.preds.forall(p => !p.fs.isNaN))
    intercept[org.apache.spark.SparkException] { // unknown names rejected
      LocalExpertOI.run(spark, obs, experts, pg,
        OIConfig(model = "NoSuchModel", trainingRadius = 1e6)).collect()
    }
  }

  test("zero-obs experts get stub run_details rows and resume skips them") {
    import spark.implicits._
    // two experts: one with a window, one with NO obs and NO pred rows
    val obs = Seq.tabulate(10)(i => (i * 1000.0, 0.0, 18326.0, 0.5 + i * 0.01))
      .toDF("x", "y", "t", "z")
    val experts = Seq((0.0, 0.0, 18326.0), (9e6, 9e6, 18326.0)).toDF("x", "y", "t")
    val pg = Seq((500.0, 500.0)).toDF("x", "y")
    val cfgOi = OIConfig(minObs = 3, maxIter = 10)
    val res = LocalExpertOI.run(spark, obs, experts, pg, cfgOi)
    val rows = res.collect()
    assert(rows.length === 2, "every visited expert emits a run_details row")
    val empty = rows.find(_.x == 9e6).get
    assert(empty.num_obs === 0 && empty.preds.isEmpty && !empty.optimise_success)

    // resume: anti-join vs run_details must remove BOTH experts
    val remaining = LocalExpertOI.resumeFilter(experts, LocalExpertOI.runDetails(res))
    assert(remaining.count() === 0, "empty tiles must not be re-visited on resume")
    res.unpersist()
  }

  test("el_masks: had_obs + grid_space trim the expert lattice to observed coarse cells") {
    val mcfg = cfg.copy(nDocs = 4000, expertMasks = Seq("had_obs", "grid_space:4"))
    val binned = GpSatPipeline.binnedObs(spark, mcfg)
    val el = GpSatPipeline.experts(spark, binned, mcfg).cache()
    val lattice = binned.select("x", "y").distinct().count()
    val n = el.count()
    assert(n > 0, "masked expert set must not be empty")
    assert(n < lattice, s"grid_space:4 must thin the $lattice observed cells, got $n")
    // every masked expert sits on an observed bin cell (had_obs)
    val offCell = el.join(binned.select("x", "y").distinct(), Seq("x", "y"), "left_anti")
    assert(offCell.count() === 0, "every expert must be on a cell that had observations")
  }

  test("deterministic: identical run twice yields identical hyperparameters") {
    import spark.implicits._
    val store1 = new ResultStore(spark, tmpDir())
    val store2 = new ResultStore(spark, tmpDir())
    val small = cfg.copy(nDocs = 8000)
    GpSatPipeline.runAll(spark, store1, small, smooth = false)
    GpSatPipeline.runAll(spark, store2, small, smooth = false)
    val a = store1.table("lengthscales").orderBy("x", "y", "t", "_dim_0").collect().map(_.toSeq)
    val b = store2.table("lengthscales").orderBy("x", "y", "t", "_dim_0").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }
}
