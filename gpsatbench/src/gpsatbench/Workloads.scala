package gpsatbench

import graft.io.ResultStore
import graft.operators.{Binning, Grids, SpatialJoin}
import graft.plans.GpSatPipeline
import graft.sources.ObsDocs
import org.apache.spark.sql.{functions, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** Input sizes. `full` is what BENCHMARK.json runs; `smoke` keeps every
  * workload's shape at a size that finishes in seconds, for the
  * benchmark's own test.
  */
final case class Size(fitDocs: Long, expertHalfRange: Double,
                      tilingDocs: Long, tilingHalfRange: Double, setupReps: Int)

object Size {
  // expert grid: 200 km spacing over +-200 km = the 2x2 experts around the
  // pole; doc tiling: the 21x21 expert grid over +-2100 km
  val full = Size(fitDocs = 100000, expertHalfRange = 200000.0,
    tilingDocs = 300000, tilingHalfRange = 2100000.0, setupReps = 3)
  val smoke = Size(fitDocs = 3000, expertHalfRange = 200000.0,
    tilingDocs = 20000, tilingHalfRange = 700000.0, setupReps = 2)

  def apply(name: String): Size = name match {
    case "full" => full
    case "smoke" => smoke
    case other => throw new IllegalArgumentException(s"unknown size: $other")
  }
}

/** What one timed job did and what its output checks found. */
final case class JobOut(seconds: Double, tiles: Long, docs: Long, fieldRmse: Double,
                        storeDir: Path, failures: Seq[String], layers: Map[String, Double],
                        notes: Map[String, Double] = Map.empty)

/** One workload: inputs made from the seed, a closed-loop job, output checks. */
abstract class Workload(val spark: SparkSession, val size: Size, val seed: Long, val work: Path,
                        val tracer: Tracer) {
  val cores: Int = spark.sparkContext.defaultParallelism

  /** One repetition of input preparation (the caller times it). */
  def setupOnce(rep: Int): Unit

  /** Untimed jobs before the measured ones; none by default, so a job
    * runs in a fresh JVM and pays JIT and code generation, as a `GpSatCli`
    * run does.
    */
  def warmup(): Unit = ()

  /** One job; while `tracer` is active the layer calls are spanned and
    * `layers` holds the per-layer metrics.
    */
  def job(n: Int): JobOut

  /** Facts about the inputs for the report line. */
  def describe: Map[String, Any]
}

object Workload {
  val names: Seq[String] = Seq("expert_fit", "doc_tiling", "resume_smooth")

  def apply(name: String, spark: SparkSession, size: Size, seed: Long, work: Path,
            tracer: Tracer): Workload =
    name match {
      case "expert_fit" => new ExpertFit(spark, size, seed, work, tracer)
      case "doc_tiling" => new DocTiling(spark, size, seed, work, tracer)
      case "resume_smooth" => new ResumeSmooth(spark, size, seed, work, tracer)
      case other => throw new IllegalArgumentException(
        s"unknown workload: $other (one of ${names.mkString(", ")})")
    }
}

object Fs {
  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def copy(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** The GP workloads: the pipeline config both share, their checks and the
  * traced mirror of `GpSatPipeline.runAll`.
  */
abstract class PipelineWorkload(spark: SparkSession, size: Size, seed: Long, work: Path, tracer: Tracer)
    extends Workload(spark, size, seed, work, tracer) {

  // the paper's production job: 200 km expert grid, 300 km training and
  // 200 km inference radius, 25 km prediction grid, 400-observation
  // window cap, 50 L-BFGS iterations
  val cfg: GpSatPipeline.PipelineConfig = GpSatPipeline.PipelineConfig(
    nDocs = size.fitDocs, seed = seed,
    expertRange = (-size.expertHalfRange, size.expertHalfRange),
    expertSpacing = 200000.0, predSpacing = 25000.0,
    oi = GpSatPipeline.PipelineConfig().oi.copy(maxObsPerTile = 400, maxIter = 50))

  /** Glued f* may differ from the truth field by what binning leaves of the
    * observation noise (uniform +-0.03) plus the interpolation error of the
    * local GPs; a fit that learns nothing is off by the field's own spread
    * (~0.1).
    */
  val rmseTolerance = 0.01

  lazy val experts: Array[(Double, Double)] =
    Grids.grid2dFlatten(spark, cfg.expertRange, cfg.expertRange, cfg.expertSpacing)
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).sortBy(identity)

  def describe: Map[String, Any] = Map(
    "n_docs" -> cfg.nDocs, "experts" -> experts.length,
    "max_obs_per_tile" -> cfg.oi.maxObsPerTile, "max_iter" -> cfg.oi.maxIter,
    "pred_spacing_m" -> cfg.predSpacing)

  def setupOnce(rep: Int): Unit = {
    val dir = work.resolve(s"setup-store-$rep")
    new ResultStore(spark, dir.toString)
    Grids.grid2dFlatten(spark, cfg.expertRange, cfg.expertRange, cfg.expertSpacing).count()
    GpSatPipeline.predGrid(spark, cfg).count()
    Fs.rm(dir)
  }

  /** RMSE of glued f* against the truth field at the prediction locations. */
  def fieldRmse(store: ResultStore): (Double, Long) = {
    val rows = store.table("preds_glued")
      .select("pred_loc_x", "pred_loc_y", "pred_loc_t", "f*").collect()
    val se = rows.map { r =>
      val d = r.getDouble(3) - ObsDocs.truthField(r.getDouble(0), r.getDouble(1), r.getDouble(2))
      d * d
    }
    (math.sqrt(se.sum / math.max(1, se.length)), rows.length.toLong)
  }

  def gluedField(store: ResultStore): Map[(Double, Double, Double), Double] =
    store.table("preds_glued").select("pred_loc_x", "pred_loc_y", "pred_loc_t", "f*")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)) -> r.getDouble(3)).toMap

  def runOnce(store: ResultStore): (GpSatPipeline.RunSummary, Map[String, Double], Double) =
    if (!tracer.active) {
      val (s, sec) = Env.timed(GpSatPipeline.runAll(spark, store, cfg, smooth = true))
      (s, Map.empty, sec)
    } else {
      val mirror = new TracedPipeline(spark, store, cfg, tracer)
      val sinceMs = System.currentTimeMillis()
      val (s, sec) = Env.timed(mirror.runAll())
      (s, mirror.layerMetrics(cores) ++ StoreMetrics(tracer, store, sinceMs), sec)
    }
}

/** `GpSatPipeline.runAll(smooth = true)` on a fresh store. */
final class ExpertFit(spark: SparkSession, size: Size, seed: Long, work: Path, tracer: Tracer)
    extends PipelineWorkload(spark, size, seed, work, tracer) {

  def job(n: Int): JobOut = {
    Fs.rm(work.resolve(s"store-${n - 1}"))
    val dir = work.resolve(s"store-$n")
    val store = new ResultStore(spark, dir.toString)
    val (s, layers, sec) = runOnce(store)
    val (rmse, predLocs) = fieldRmse(store)
    val failures = Seq(
      if (s.tiles == experts.length) None
      else Some(s"tiles ${s.tiles} != experts ${experts.length}"),
      if (rmse <= rmseTolerance && predLocs > 0) None
      else Some(s"field_rmse $rmse over $predLocs locations exceeds $rmseTolerance")).flatten
    JobOut(sec, s.tiles, cfg.nDocs, rmse, dir, failures, layers,
      Map("fit_s" -> s.fitSeconds, "pred_locations" -> predLocs.toDouble))
  }
}

/** A restart after a crash: the fit tables of an uninterrupted run with a
  * fixed quarter of the experts removed, resumed with `runAll(smooth = true)`.
  */
final class ResumeSmooth(spark: SparkSession, size: Size, seed: Long, work: Path, tracer: Tracer)
    extends PipelineWorkload(spark, size, seed, work, tracer) {

  private val fitTables = Seq("run_details", "preds", "lengthscales", "kernel_variance",
    "likelihood_variance")
  private val refDir = work.resolve("reference")
  private val ckptDir = work.resolve("checkpoint")
  private var reference: Map[(Double, Double, Double), Double] = Map.empty
  /** Every fourth expert in (x, y) order, starting with the first. */
  lazy val removed: Array[(Double, Double)] = experts.zipWithIndex.collect { case (e, i) if i % 4 == 0 => e }
  var referenceSeconds = 0.0

  override def describe: Map[String, Any] =
    super.describe ++ Map("removed_experts" -> removed.length, "reference_run_s" -> referenceSeconds)

  /** The uninterrupted run, once: its preds_glued is what every resume
    * must reproduce, and its fit tables are what the checkpoint cuts.
    * It also warms the JIT for the resumed jobs.
    */
  private def ensureReference(): Unit =
    if (reference.isEmpty) {
      val store = new ResultStore(spark, refDir.toString)
      referenceSeconds = Env.timed(GpSatPipeline.runAll(spark, store, cfg, smooth = true))._2
      reference = gluedField(store)
    }

  override def setupOnce(rep: Int): Unit = {
    ensureReference()
    import spark.implicits._
    val ref = new ResultStore(spark, refDir.toString)
    Fs.rm(ckptDir)
    val ckpt = new ResultStore(spark, ckptDir.toString)
    val cut = removed.toSeq.toDF("x", "y")
    fitTables.foreach { t =>
      ckpt.overwrite(t, ref.table(t).join(broadcast(cut), Seq("x", "y"), "left_anti"))
    }
  }

  def job(n: Int): JobOut = {
    Fs.rm(work.resolve(s"store-${n - 1}"))
    val dir = work.resolve(s"store-$n")
    Fs.copy(ckptDir, dir) // restoring the checkpoint is not timed
    val store = new ResultStore(spark, dir.toString)
    val (s, layers, sec) = runOnce(store)
    val (rmse, _) = fieldRmse(store)
    val done = store.table("run_details").select("x", "y").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    val glued = gluedField(store)
    val maxDiff = if (glued.keySet != reference.keySet) Double.PositiveInfinity
      else glued.map { case (k, v) => math.abs(v - reference(k)) }.maxOption.getOrElse(0.0)
    val failures = Seq(
      if (s.tiles == removed.length) None
      else Some(s"refit ${s.tiles} tiles, removed ${removed.length}"),
      if (done.sorted == experts.toSeq) None
      else Some(s"run_details holds ${done.size} rows for ${done.distinct.size} experts, expected each of ${experts.length} once"),
      if (maxDiff <= 1e-6) None
      else Some(s"preds_glued differs from the uninterrupted run by $maxDiff (${glued.size} vs ${reference.size} locations)"),
      if (rmse <= rmseTolerance) None else Some(s"field_rmse $rmse exceeds $rmseTolerance")).flatten
    JobOut(sec, s.tiles, cfg.nDocs, rmse, dir, failures, layers,
      Map("fit_s" -> s.fitSeconds, "pred_locations" -> glued.size.toDouble))
  }
}

/** The tiling and join engine at document scale: extract, bin and
  * radius-join a parquet doc table; the output is per-expert counts.
  */
final class DocTiling(spark: SparkSession, size: Size, seed: Long, work: Path, tracer: Tracer)
    extends Workload(spark, size, seed, work, tracer) {

  private val docsDir = work.resolve("docs").toString
  private val zFilter = GpSatPipeline.PipelineConfig().zFilter
  private val range = (-size.tilingHalfRange, size.tilingHalfRange)
  private val joinCfg = SpatialJoin.RadiusJoinConfig(radius = 300000.0,
    temporal = Some(SpatialJoin.TemporalWindow("t", "t", -4.0, 4.0)))
  private val truth = udf((x: Double, y: Double, t: Double) => ObsDocs.truthField(x, y, t))
  private var bruteForce: Map[(Double, Double), Long] = Map.empty

  def describe: Map[String, Any] = Map("n_docs" -> size.tilingDocs,
    "expert_grid" -> s"${math.round(2 * size.tilingHalfRange / 200000.0)}^2 at 200 km",
    "radius_m" -> joinCfg.radius, "t_window" -> "+-4")

  def setupOnce(rep: Int): Unit =
    ObsDocs.synthesize(spark, size.tilingDocs, seed).write.mode("overwrite").parquet(docsDir)

  /** Two untimed jobs: the job is short enough that JIT and code
    * generation would otherwise dominate it (measured cold, its time
    * spread 15 % across seeds; after one warm-up job the first measured
    * job still ran 10-30 % slower than the next).
    */
  override def warmup(): Unit = Seq(-1, 0).foreach(job)

  private def obs(): DataFrame =
    ObsDocs.extractObs(spark.read.parquet(docsDir))
      .filter(col("z") > zFilter._1 && col("z") < zFilter._2)

  def job(n: Int): JobOut = {
    val tr = tracer
    Fs.rm(work.resolve(s"store-${n - 1}"))
    val dir = work.resolve(s"store-$n")
    val store = new ResultStore(spark, dir.toString)
    val sinceMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val o = tr.span("ObsDocs.extractObs")(Tracer.force(obs()))
    val binned = tr.span("Binning.binDataBy") {
      val b = Binning.binDataBy(o, Binning.BinConfig(valCol = "z", byCols = Seq("t", "source"),
        gridRes = 50000.0))
      b.agg(count(lit(1)), sqrt(avg(pow(col("z") - truth(col("x"), col("y"), col("t")), 2))))
        .head()
    }
    val ex = tr.span("Grids.expertLocations") {
      Tracer.force(Grids.expertLocations(spark, o, range, range, 200000.0))
    }
    val counts = tr.span("SpatialJoin.radiusJoin") {
      val c = SpatialJoin.radiusJoin(o, ex, joinCfg)
        .groupBy("expert_x", "expert_y", "expert_t")
        .agg(count(lit(1)).as("pairs"), sum(functions.size(col("spans"))).as("spans"))
      val f = Tracer.force(c)
      tr.recordPlan(f)
      f
    }
    tr.span("ResultStore.overwrite")(store.overwrite("expert_counts", counts))
    val sec = (System.nanoTime() - t0) / 1e9

    val perExpert = counts.collect().map(r => (r.getDouble(0), r.getDouble(1)) -> r.getLong(3)).toMap
    val experts = ex.count()
    val layers =
      if (!tr.active) Map.empty[String, Double]
      else layerMetrics(tr, o, ex, binned, perExpert.values.sum) ++ StoreMetrics(tr, store, sinceMs)
    counts.unpersist(); ex.unpersist(); o.unpersist()

    val failures = if (bruteForce.isEmpty) Nil
      else bruteForce.toSeq.sorted.flatMap { case (k, want) =>
        val got = perExpert.getOrElse(k, 0L)
        if (got == want) None else Some(s"expert $k: join kept $got rows, brute force $want")
      }
    JobOut(sec, experts, size.tilingDocs, binned.getDouble(1), dir, failures, layers,
      Map("bins" -> binned.getLong(0).toDouble, "pairs" -> perExpert.values.sum.toDouble))
  }

  private def layerMetrics(tr: Tracer, o: DataFrame, ex: DataFrame, binned: Row,
                           pairs: Long): Map[String, Double] = {
    // candidate pairs of the cell equi-join before the exact refine,
    // counted with the join's own cell functions (trace only)
    val candidates = tr.span("bench.candidates") {
      val r = joinCfg.radius
      val l = o.select(graft.functions.cell_encode(col("x"), col("y"), r).as("__cell"))
      val rt = ex.select(explode(graft.functions.cell_neighbors(col("x"), col("y"), r)).as("__cell"))
      l.join(broadcast(rt), "__cell").count()
    }
    val extract = tr.named("ObsDocs.extractObs").head
    val bin = tr.named("Binning.binDataBy").head
    val join = tr.named("SpatialJoin.radiusJoin").head
    Map(
      "ObsDocs.extract_s" -> extract.seconds,
      "ObsDocs.cpu_s" -> tr.tasksInclusive(extract).cpuNs / 1e9,
      "Binning.bin_s" -> bin.seconds,
      "Binning.shuffle_write_mb" -> tr.tasksInclusive(bin).shuffleWriteBytes / 1e6,
      "Binning.rows_per_bin" -> o.count().toDouble / binned.getLong(0),
      "SpatialJoin.join_s" -> join.seconds,
      "SpatialJoin.pairs_kept" -> pairs.toDouble,
      "SpatialJoin.kept_ratio" -> pairs.toDouble / candidates)
  }

  /** Brute force on a fixed sample of experts, computed once per run: the
    * distance and time filter over every observation, no cell index.
    * Also checks that joined rows keep their doc's span sequence.
    */
  def bruteForceCheck(): Seq[String] = {
    val o = obs().persist()
    val ex = Grids.expertLocations(spark, o, range, range, 200000.0)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).sortBy(identity)
    val idx = Seq(0, ex.length / 4, ex.length / 2 - 1, ex.length / 2, ex.length / 2 + 1,
      3 * ex.length / 4, ex.length - 1).distinct
    val sample = idx.map(ex(_))
    val r2 = joinCfg.radius * joinCfg.radius
    val conds = sample.map { case (x, y, t) =>
      sum(when((col("x") - x) * (col("x") - x) + (col("y") - y) * (col("y") - y) <= r2 &&
        col("t") >= t - 4.0 && col("t") <= t + 4.0, 1L).otherwise(0L))
    }
    val got = o.agg(conds.head, conds.tail: _*).head()
    bruteForce = sample.zipWithIndex.map { case ((x, y, _), i) => (x, y) -> got.getLong(i) }.toMap

    import spark.implicits._
    val pole = sample.slice(2, 4).toDF("x", "y", "t")
    val rows = SpatialJoin.radiusJoin(o, pole, joinCfg).select("doc_id", "spans").limit(500).collect()
    o.unpersist()
    val bad = rows.filterNot { r =>
      val id = r.getString(0).stripPrefix("doc-").toLong
      val spans = r.getSeq[Row](1).map(s => (s.getString(0), s.getString(1), s.getString(2), s.getInt(3)))
      spans == ObsDocs.makeDoc(id, seed).spans.map(s => (s.kind, s.text, s.media_ref, s.offset))
    }
    (if (rows.isEmpty) Seq("span check joined no rows") else Nil) ++
      bad.take(3).map(r => s"doc ${r.getString(0)}: joined span sequence differs from its doc")
  }
}

/** ResultStore metrics of a traced job, from its spans and from the
  * snapshots the store logged since the job started.
  */
object StoreMetrics {
  def apply(tr: Tracer, store: ResultStore, sinceMs: Long): Map[String, Double] = {
    val writes = tr.named("ResultStore.append") ++ tr.named("ResultStore.overwrite")
    val reads = tr.named("ResultStore.table")
    val files = store.snapshots().filter(_.tsMs >= sinceMs).flatMap(_.files)
    Map(
      "ResultStore.write_s" -> writes.map(_.seconds).sum,
      "ResultStore.read_s" -> reads.map(_.seconds).sum,
      "ResultStore.write_mb" -> files.map(_.bytes).sum / 1e6,
      "ResultStore.files_written" -> files.size.toDouble)
  }
}
