package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._

/** State shared by a workload and the harness for one run. */
final class Ctx(val seed: Long, val cpus: Int, val workDir: String) {
  var spark: SparkSession = _
  var tracer = new Tracer(false, spark.sparkContext)
  /** Named set-up phase timings, in seconds. */
  val phases = mutable.LinkedHashMap.empty[String, Double]

  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try tracer.span(name)(body)
    finally phases(name) = (System.nanoTime() - t0) / 1e9
  }
}

/** One operation of a pass. `run` performs it (composed from separate
  * spans when the tracer is on) and returns a result the workload checks
  * outside the timing.
  */
final case class Op(name: String, family: String, run: Ctx => Any)

trait Workload {
  def name: String
  /** Generate or load inputs and build artifacts on the fresh session
    * `ctx.spark` (the harness then runs the warm-up passes). Phases are
    * timed with `ctx.phase`.
    */
  def setup(ctx: Ctx): Unit
  /** Untimed passes at the end of set-up. The JVM keeps warming up over the
    * first passes (`suite_sample` on 4 cores: 15.6, 10.0, 8.7, 8.3, 8.2 s for
    * passes 1 to 5). After one warm-up pass the timed `choose_k` pass spread
    * by 0.13 of its median (IQR, ten seeds), after two by 0.08 (five seeds).
    */
  def warmupPasses: Int = 2
  /** The operations of one pass, in order. */
  def ops(ctx: Ctx): Seq[Op]
  /** Untimed work before every pass, so each pass starts from the state
    * set-up left.
    */
  def resetBeforePass(ctx: Ctx): Unit = ()
  /** Cheap check of one result; `Some(error)` marks the operation wrong. */
  def check(ctx: Ctx, op: Op, result: Any): Option[String]
  /** Expensive checks run once after the timed region, on the last result
    * of each operation. One error per wrong operation.
    */
  def finalChecks(ctx: Ctx, last: Map[String, Any]): Seq[String] = Nil
  /** Workload-specific per-layer metrics from the traced passes. */
  def layerMetrics(ctx: Ctx, t: TraceView): Seq[(String, Double, String)] = Nil
}

/** The traced passes as the workloads see them: spans, listener counts and
  * the number of passes to normalise by.
  */
final class TraceView(val tracer: Tracer, val listener: LayerListener,
    val passes: Int, val opFamily: Map[Int, String]) {
  def spansNamed(n: String): Seq[Span] = tracer.spans.filter(_.name == n).toSeq
  def subtreeIds(roots: Seq[Span]): Set[Int] = {
    val ids = mutable.Set(roots.map(_.id): _*)
    tracer.spans.foreach(s => if (ids(s.parent)) ids += s.id) // parents precede children
    ids.toSet
  }
  def counts(roots: Seq[Span]): Counts = listener.subtree(subtreeIds(roots))
  def perPass(x: Double): Double = x / passes
  def secs(ss: Seq[Span]): Double = ss.map(_.dur).sum / 1e9
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, mode: String, out: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m.getOrElse("workload", sys.error("--workload is required")),
      m.getOrElse("seed", "0").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("mode", "run"),
      m.getOrElse("out", ""))
  }

  def workload(name: String): Workload = name match {
    case "lloyd_scale" => new LloydScale
    case "choose_k" => new ChooseK
    case "suite_sample" => new SuiteSample
    case other => sys.error(s"unknown workload '$other'")
  }

  def newSession(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"${ctx.workDir}/warehouse")
      .config("spark.local.dir", s"${ctx.workDir}/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def cpuSec(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def gcSec(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  /** Largest heap left after a collection while recording: the driver's
    * live data (the JVM hosts the driver and the local executors), not
    * the garbage the collector has yet to reclaim.
    */
  object LiveHeap {
    @volatile private var recording = false
    @volatile private var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (recording && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peak = math.max(peak, used) }
          }
        }, null, null)
      case _ =>
    }
    def start(): Unit = { peak = 0L; recording = true }
    /** Ends the recording with a full collection, so a region without
      * any collection still reports its live heap.
      */
    def stopMb(): Double = {
      recording = false
      System.gc()
      val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      synchronized { peak = math.max(peak, live) }
      peak / 1048576.0
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples). Below 20 samples no percentile above the
    * median has ten beyond it, and the maximum is reported instead (on a
    * one-operation pass that is the slowest of the run's passes).
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size < 20) (s.last, 100.0, s.size)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size, s.size)
  }

  def main(argv: Array[String]): Unit = {
    val jvmS = ProcessHandle.current().info().startInstant().toScala
      .map(i => (System.currentTimeMillis() - i.toEpochMilli) / 1e3).getOrElse(0.0)
    val args = parse(argv)
    val w = workload(args.workload)
    val cpus = sys.env.get("PERFBENCH_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val workDir = new java.io.File(sys.props.getOrElse("java.io.tmpdir", "tmp")).getAbsolutePath
    val ctx = new Ctx(args.seed, cpus, workDir)
    args.mode match {
      case "run" => Harness.run(w, ctx, args.seconds, args.trace, args.out, jvmS)
      case "probe" | "pin" | "dump" => SuiteSample.maintain(ctx, args.mode, args.out)
      case other => sys.error(s"unknown mode '$other'")
    }
  }
}

/** Every per-layer metric a traced run reports, with its unit. A layer a
  * workload does not exercise reports 0.
  */
object LayerNames {
  val All: Seq[(String, String)] = Seq(
    "trace.wall_s" -> "s", "trace.overhead_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.idle_s" -> "s",
    "executor.task_s" -> "s", "executor.cpu_s" -> "s", "executor.gc_s" -> "s",
    "executor.crit_s" -> "s", "executor.par" -> "ratio",
    "shuffle.read_bytes" -> "bytes", "shuffle.write_bytes" -> "bytes",
    "shuffle.spill_bytes" -> "bytes", "Tables.input_bytes" -> "bytes",
    "Tables.input_records" -> "count", "driver.gc_s" -> "s",
    "driver.heap_peak_mb" -> "MB",
    "SparkEntry.prewarmRetrievalIndexes_s" -> "s",
    "SparkEntry.build_s" -> "s", "SparkEntry.build_jobs" -> "count",
    "catalyst.plan_s" -> "s", "SparkEntry.exec_s" -> "s",
    "KMeans.fit_s" -> "s", "KMeans.seed_s" -> "s", "KMeans.iterate_s" -> "s",
    "KMeans.steps" -> "count", "KMeans.step_s" -> "s",
    "KMeans.jobs_per_step" -> "count", "KMeans.dist_evals_per_task_s" -> "1/s",
    "Quality.fit_s" -> "s", "Quality.elbow_s" -> "s", "Quality.silhouette_s" -> "s",
  ) ++ SuiteSample.Families.flatMap(f => Seq(
    s"SparkEntry.$f.wall_s" -> "s", s"SparkEntry.$f.jobs" -> "count",
    s"SparkEntry.$f.task_s" -> "s"))
}
