package gpsatbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark harness: one JVM, local[cores], the deployment settings of
  * `GpSatCli`, one closed-loop client running one job at a time.
  *
  * Usage: gpsatbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --out <trace.json> [--size full|smoke]
  *
  * Prints a report line, then the result line:
  * {"correct", "attempted", "failed", "metrics"}.
  */
object Main {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "tiles_per_s" -> "1/s", "docs_per_s" -> "1/s",
    "store_mb" -> "MB", "live_heap_mb" -> "MB", "pass_frac" -> "frac")

  val perLayer: Seq[(String, String)] = Seq(
    "ObsDocs.extract_s" -> "s", "ObsDocs.cpu_s" -> "s",
    "Binning.bin_s" -> "s", "Binning.shuffle_write_mb" -> "MB", "Binning.rows_per_bin" -> "rows",
    "SpatialJoin.join_s" -> "s", "SpatialJoin.pairs_kept" -> "count", "SpatialJoin.kept_ratio" -> "frac",
    "LocalExpertOI.fit_s" -> "s", "LocalExpertOI.shuffle_write_mb" -> "MB",
    "LocalExpertOI.task_skew" -> "ratio", "LocalExpertOI.busy_frac" -> "frac",
    "gp.tile_fit_s_p50" -> "s", "gp.tile_fit_s_p99" -> "s", "gp.obs_per_tile" -> "count",
    "gp.optimise_success_ratio" -> "frac", "gp.tile_predict_s_p50" -> "s",
    "Postprocess.smooth_s" -> "s", "Postprocess.glue_s" -> "s", "Postprocess.shuffle_write_mb" -> "MB",
    "GpSatPipeline.binned_obs_s" -> "s", "GpSatPipeline.resume_filter_s" -> "s",
    "GpSatPipeline.refit_tiles" -> "count", "GpSatPipeline.self_s" -> "s",
    "ResultStore.write_s" -> "s", "ResultStore.write_mb" -> "MB",
    "ResultStore.files_written" -> "count", "ResultStore.read_s" -> "s",
    "jvm.gc_s" -> "s", "trace.overhead_s" -> "s", "trace.overhead_frac" -> "frac")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        size: String, work: Path, out: Path)

  def parse(args: Array[String]): Args = {
    require(args.length % 2 == 0, "arguments come in --key value pairs")
    val m = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case other => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $other")
    }
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, trace,
      m.getOrElse("size", "full"), Paths.get(get("work")).toAbsolutePath, Paths.get(get("out")).toAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    require(Workload.names.contains(a.workload),
      s"unknown workload: ${a.workload} (one of ${Workload.names.mkString(", ")})")
    require(a.seconds > 0, "--seconds must be positive")
    val size = Size(a.size)
    Files.createDirectories(a.work)
    val env0 = Env.sample()
    HeapWatch.install()

    val (spark, sessionSec) = Env.timed {
      val cores = Runtime.getRuntime.availableProcessors()
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("gpsatbench")
        .config("spark.sql.shuffle.partitions", (cores * 8).toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", a.work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      graft.functions.registerAll(s)
      s
    }
    try run(a, size, spark, sessionSec, env0)
    finally spark.stop()
  }

  private def run(a: Args, size: Size, spark: SparkSession, sessionSec: Double, env0: Env.Sample): Unit = {
    val tracer = new Tracer(spark)
    val wl = Workload(a.workload, spark, size, a.seed, a.work, tracer)
    val setupReps = (1 to size.setupReps).map(i => Env.timed(wl.setupOnce(i))._2)
    val setupSec = sessionSec + Stats.median(setupReps)
    val runChecks = wl match {
      case d: DocTiling => d.bruteForceCheck()
      case _ => Nil
    }
    wl.warmup()

    // closed loop: the next job starts when the previous one has finished;
    // the job in flight at the deadline completes and counts. Each job
    // starts from a collected heap; live_heap_mb is the median over jobs
    // of each job's peak occupancy after a collection.
    val loopStart = System.nanoTime()
    val jobs = ArrayBuffer.empty[JobOut]
    val heapPeaks = ArrayBuffer.empty[Double]
    val errors = ArrayBuffer.empty[String]
    while (errors.isEmpty && (jobs.isEmpty || (System.nanoTime() - loopStart) / 1e9 < a.seconds)) {
      System.gc()
      HeapWatch.reset()
      try {
        jobs += wl.job(jobs.size + 1)
        heapPeaks += HeapWatch.peakBytes / 1e6
      } catch { case e: Exception => errors += s"job ${jobs.size + 1}: $e" }
    }
    val storeMb = jobs.lastOption.map(j => Fs.bytes(j.storeDir) / 1e6).getOrElse(0.0)

    // the traced job follows one more untraced job, so that both run as
    // warm a JVM: the overhead is the traced job's excess over that one
    var traced: Option[(JobOut, Double, JobOut)] = None
    if (a.trace && errors.isEmpty) {
      try {
        val untraced = wl.job(jobs.size + 1)
        val gc0 = Env.gcSeconds()
        tracer.start(s"${a.workload}-${a.seed}")
        try traced = Some((wl.job(jobs.size + 2), Env.gcSeconds() - gc0, untraced))
        finally tracer.stop()
      } catch { case e: Exception => errors += s"traced job: $e" }
    }
    val env1 = Env.sample()

    val all = jobs ++ traced.toSeq.flatMap(t => Seq(t._3, t._1))
    val attempted = all.size + errors.size
    val failedJobs = all.count(j => j.failures.nonEmpty || runChecks.nonEmpty) + errors.size
    if (jobs.isEmpty) {
      System.err.println(s"no job completed: ${errors.mkString("; ")}")
      sys.exit(1)
    }
    val secs = jobs.map(_.seconds).toSeq
    val runMedian = Stats.median(secs)
    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupSec,
      "run_s" -> runMedian,
      "tiles_per_s" -> jobs.map(_.tiles).sum / secs.sum,
      "docs_per_s" -> jobs.map(_.docs).sum / secs.sum,
      "store_mb" -> storeMb,
      "live_heap_mb" -> Stats.median(heapPeaks.toSeq),
      "pass_frac" -> (attempted - failedJobs).toDouble / attempted)

    val layers: Map[String, Double] = traced match {
      case Some((t, gcSec, untraced)) =>
        val known = t.layers ++ Map(
          "jvm.gc_s" -> gcSec,
          "trace.overhead_s" -> (t.seconds - untraced.seconds),
          "trace.overhead_frac" -> (t.seconds - untraced.seconds) / untraced.seconds)
        perLayer.map { case (k, _) => k -> known.getOrElse(k, 0.0) }.toMap
      case None => Map.empty
    }

    // tail: the highest percentile with at least ten samples beyond it
    val tail: Any =
      if (secs.size <= 10) null
      else {
        val p = math.floor(100.0 * (secs.size - 10) / secs.size).toInt
        Map("percentile" -> p, "run_s" -> Stats.quantile(secs, p / 100.0))
      }
    val report = Map(
      "workload" -> a.workload, "seed" -> a.seed, "size" -> a.size, "trace" -> a.trace,
      "inputs" -> wl.describe,
      "cores" -> spark.sparkContext.defaultParallelism,
      "session_s" -> sessionSec, "setup_reps_s" -> setupReps,
      "run_s_samples" -> secs, "run_s_median" -> runMedian, "run_s_tail" -> tail,
      "job_notes" -> jobs.map(_.notes).toSeq, "live_heap_mb_samples" -> heapPeaks.toSeq,
      "samples" -> secs.size,
      "fail_frac" -> failedJobs.toDouble / attempted,
      "checks" -> Map(
        "passed" -> (failedJobs == 0),
        "run_level" -> runChecks,
        "job_failures" -> all.flatMap(_.failures).distinct.toSeq,
        "errors" -> errors.toSeq),
      "metrics" -> e2e,
      "field_rmse" -> Stats.median(jobs.map(_.fieldRmse).toSeq),
      "steal_pct" -> Env.stealPct(env0, env1),
      "loadavg_start" -> env0.load1, "loadavg_end" -> env1.load1)

    val t0 = tracer.spans.headOption.map(_.startNs).getOrElse(0L)
    val trace = if (!a.trace) Map.empty[String, Any] else Map(
      "spans" -> tracer.spans.map { s =>
        val t = tracer.tasksOf(s)
        val ms = t.taskMs.sorted
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
          "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
          "seconds" -> s.seconds, "self_s" -> tracer.selfSeconds(s),
          "tasks" -> t.tasks, "cpu_s" -> t.cpuNs / 1e9, "gc_s" -> t.gcMs / 1e3,
          "shuffle_write_mb" -> t.shuffleWriteBytes / 1e6, "shuffle_read_mb" -> t.shuffleReadBytes / 1e6,
          "spill_mb" -> t.spillBytes / 1e6,
          "max_task_s" -> (if (ms.isEmpty) 0.0 else ms.last / 1e3),
          "median_task_s" -> Stats.median(ms.map(_ / 1e3).toSeq))
      }.toSeq,
      "sql_metrics" -> tracer.planMetrics.map { case (span, node, m) =>
        Map("span" -> span, "node" -> node, "metrics" -> m)
      }.toSeq,
      "layers" -> layers)
    Files.createDirectories(a.out.getParent)
    Files.writeString(a.out, Json(report ++ trace) + "\n")

    val (metrics, units) = if (a.trace) (layers, perLayer.toMap) else (e2e, endToEnd.toMap)
    println(Json(Map("report" -> report)))
    println(Json(Map(
      "correct" -> (failedJobs == 0),
      "attempted" -> attempted,
      "failed" -> failedJobs,
      "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) })))
  }
}

/** Machine state recorded for each run; never used to drop a run. */
object Env {
  final case class Sample(stealJiffies: Long, totalJiffies: Long, load1: Double)

  def sample(): Sample = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+").drop(1).map(_.toLong)
    val load = Files.readString(Paths.get("/proc/loadavg")).trim.split(" ")(0).toDouble
    Sample(if (cpu.length > 7) cpu(7) else 0L, cpu.sum, load)
  }

  def stealPct(a: Sample, b: Sample): Double =
    if (b.totalJiffies > a.totalJiffies)
      100.0 * (b.stealJiffies - a.stealJiffies) / (b.totalJiffies - a.totalJiffies)
    else 0.0

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Peak heap occupancy right after a collection, from GC notifications. */
object HeapWatch {
  @volatile private var peak = 0L
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = {
    val onGc: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
      case _ =>
    }
  }

  def reset(): Unit = synchronized { peak = 0L }
  def peakBytes: Long = synchronized { peak }
}

/** Minimal JSON rendering of maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Path => quote(p.toString)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
