package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Command-line options; `run.py` passes its own arguments through
  * and adds the scratch root, the core count and the launch instant.
  */
final case class Opts(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    scratch: String = "",
    cores: Int = 4,
    launchEpochNs: Long = 0L,
    sourceId: String = "unknown",
    injectWrongExpected: Boolean = false)

object Opts {
  def parse(args: Array[String]): Opts = {
    @annotation.tailrec
    def go(o: Opts, rest: List[String]): Opts = rest match {
      case "--workload" :: v :: t => go(o.copy(workload = v), t)
      case "--seed" :: v :: t => go(o.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(o.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t => go(o.copy(trace = v == "1"), t)
      case "--scratch" :: v :: t => go(o.copy(scratch = v), t)
      case "--cores" :: v :: t => go(o.copy(cores = v.toInt), t)
      case "--launch-epoch-ns" :: v :: t => go(o.copy(launchEpochNs = v.toLong), t)
      case "--source-id" :: v :: t => go(o.copy(sourceId = v), t)
      case "--inject-wrong-expected" :: t => go(o.copy(injectWrongExpected = true), t)
      case Nil => o
      case other => throw new IllegalArgumentException(s"unknown arguments: $other")
    }
    go(Opts(), args.toList)
  }
}

/** What one run hands back: the wall time of its timed part, the
  * output-check problems (empty when the outputs are right) and, when
  * traced, its per-layer values.
  */
final case class RunOut(wall: Double, problems: Seq[String], layers: Map[String, Double])

trait Workload {
  /** Rows (DQ) or documents (curation) one run processes. */
  def rowsPerRun: Long
  /** Input sizes recorded with every result. */
  def inputLabels: Map[String, Any]
  /** Generates the inputs from the seed and computes expected outputs
    * with plain Spark SQL.
    */
  def setup(): Unit
  /** One run: timed part, then the output check. */
  def run(tr: Tracer): RunOut
  /** Direct calls into single layers, traced mode only (seconds each). */
  def directLayers(tr: Tracer): Map[String, Double]
}

object Main {
  /** At least this many timed runs per phase, however long they take. */
  val MinRuns = 3
  /** Untimed runs before timing, so JIT compilation and lazy set-up are
    * done; their outputs are checked like any run's.
    */
  val WarmUpRuns = 1

  def workload(spark: SparkSession, o: Opts, name: String): Workload = name match {
    case "dq_gate_write" => new DqGateWrite(spark, o)
    case "dq_wide_eval" => new DqWideEval(spark, o)
    case "curation_topk" => new CurationTopK(spark, o)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val code = try { bench(o); 0 } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: ${o.workload} failed: $e")
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }

  private def nowEpochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def bench(o: Opts): Unit = {
    val launchNs = if (o.launchEpochNs > 0) o.launchEpochNs
      else ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.execution.sortBeforeRepartition", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.warehouse.dir", s"${o.scratch}/warehouse")
      .config("spark.local.dir", s"${o.scratch}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionStart = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    spark.range(1).count()
    val firstAction = (System.nanoTime() - t1) / 1e9

    try {
      val w = workload(spark, o, o.workload)
      val t2 = System.nanoTime()
      w.setup()
      val sc = spark.sparkContext
      val plain = new Tracer(sc, enabled = false)
      val t3 = System.nanoTime()
      val setupProblems = (0 until WarmUpRuns).flatMap(_ => w.run(plain).problems)
        .map("warm-up: " + _)
      System.err.println(f"perfbench: session ${sessionStart}%.2f s, first action ${firstAction}%.2f s, " +
        f"inputs+expected ${(t3 - t2) / 1e9}%.2f s, warm-up ${(System.nanoTime() - t3) / 1e9}%.2f s")
      val setupS = (nowEpochNs() - launchNs) / 1e9

      // a traced call splits its time (and its minimum run count) between
      // an untraced and a traced phase
      val (phaseSeconds, phaseRuns) = if (o.trace) (o.seconds / 2, 2) else (o.seconds, MinRuns)
      val untraced = loop(sc, phaseSeconds, phaseRuns)(w.run(plain))
      var problems = setupProblems ++ untraced.problems
      var attempted = untraced.attempted
      var failed = untraced.failed

      val metrics: Seq[(String, Double, String)] =
        if (!o.trace) {
          val heapMb = liveHeapMb()
          Seq(
            ("setup_s", setupS, "s"),
            ("run_p50_s", median(untraced.walls), "s"),
            ("rows_per_s", w.rowsPerRun * untraced.walls.size / untraced.walls.sum, "rows/s"),
            ("live_heap_mb", heapMb, "MB"))
        } else {
          val listener = new JobListener
          sc.addSparkListener(listener)
          val tr = new Tracer(sc, enabled = true)
          listener.take(sc)
          val traced = loop(sc, phaseSeconds, phaseRuns) {
            val runStartMs = System.currentTimeMillis()
            val out = w.run(tr)
            val runEndMs = System.currentTimeMillis()
            val (jobs, stageTasks) = listener.take(sc)
            out.copy(layers = Layers.perRun(jobs, stageTasks, runStartMs, runEndMs,
              out.wall, tr.takeSpans(), out.layers))
          }
          problems ++= traced.problems
          attempted += traced.attempted
          failed += traced.failed
          val direct = w.directLayers(tr)
          listener.take(sc)
          sc.removeSparkListener(listener)
          Layers.report(traced.layers, direct, sessionStart, firstAction,
            median(traced.walls) / median(untraced.walls))
        }

      val failedFrac = failed.toDouble / math.max(1, attempted)
      val labels = Labels.collect(spark, o, w) ++ Map(
        "timed_runs" -> attempted, "failed_frac" -> failedFrac,
        "run_walls_s" -> untraced.walls,
        "run_p90_s" -> s"not reported: ${untraced.walls.size} runs leave fewer than 10 above the 90th percentile")
      problems.take(20).foreach(p => System.err.println(s"perfbench: check failed: $p"))
      println("perfbench labels " + Json.obj(labels))
      val result = Map[String, Any](
        "correct" -> problems.isEmpty,
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> metrics.map { case (n, v, u) =>
          n -> Map[String, Any]("value" -> v, "unit" -> u) }.toMap)
      println(Json.obj(result))
      System.out.flush()
    } finally spark.stop()
  }

  /** One timed phase: the walls of the runs that completed (their
    * output right or wrong), how many runs were attempted and failed.
    */
  final case class Phase(walls: Seq[Double], attempted: Int, failed: Int, problems: Seq[String],
                         layers: Seq[Map[String, Double]])

  /** Runs `body` until `seconds` have passed and at least `minRuns`
    * runs are done. A run that throws or fails its output check counts
    * as failed; after each run no Spark job may still be active.
    */
  private def loop(sc: org.apache.spark.SparkContext, seconds: Double, minRuns: Int)
                  (body: => RunOut): Phase = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (elapsed < seconds || attempted < minRuns) {
      // start every run from a collected heap, so one run's garbage is
      // not another run's pause
      System.gc()
      attempted += 1
      val out = try body catch {
        case NonFatal(e) => RunOut(Double.NaN, Seq(s"run threw $e"), Map.empty)
      }
      // the status tracker follows the listener bus: drain it first so a
      // job that has just ended does not read as still running
      org.apache.spark.PerfbenchBus.drain(sc)
      val active = sc.statusTracker.getActiveJobIds()
      val all = out.problems ++
        (if (active.nonEmpty) Seq(s"jobs still active after release: ${active.mkString(",")}") else Nil)
      if (!out.wall.isNaN) { walls += out.wall; layers += out.layers }
      if (all.nonEmpty) { failed += 1; problems ++= all }
    }
    if (walls.isEmpty) throw new IllegalStateException(
      s"every run threw: ${problems.take(5).mkString("; ")}")
    Phase(walls.toSeq, attempted, failed, problems.toSeq, layers.toSeq)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use after a forced full collection. */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).foreach(_ => System.gc())
    mem.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** Labels recorded with every printed number. */
object Labels {
  def collect(spark: SparkSession, o: Opts, w: Workload): Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Map(
      "workload" -> o.workload,
      "seed" -> o.seed,
      "source" -> o.sourceId,
      "cores" -> o.cores,
      "spark_master" -> spark.sparkContext.master,
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+"),
      "jvm_flags" -> rt.getInputArguments.asScala.filter(a => a.startsWith("-X")).mkString(" "),
      "spark_version" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "trace" -> o.trace,
      "seconds" -> o.seconds,
      "input" -> w.inputLabels)
  }
}

/** JSON output; maps keep their keys sorted, doubles all their digits,
  * and a number that is not finite prints as null.
  */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def obj(m: Map[String, Any]): String = mapper.writeValueAsString(toJava(m))

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      new java.util.TreeMap[String, Any](m.map { case (k, x) => k.toString -> toJava(x) }.asJava)
    case xs: Iterable[_] => xs.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }
}

/** Sizes of inputs and outputs on disk, and of what Spark still caches. */
object Disk {
  private def files(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir))
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
  }

  def bytes(dir: String): Long = files(dir).map(_.length).sum

  /** Data files under `dir` modified at or after `sinceMs`. */
  def dataFiles(dir: String, sinceMs: Long): Int = files(dir).count(_.lastModified >= sinceMs)

  /** Bytes held by persisted RDDs and cached Datasets, memory and disk. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
