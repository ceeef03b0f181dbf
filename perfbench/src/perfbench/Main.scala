package perfbench

import graft.core.{GraftSession, Scratch}
import org.apache.spark.perfbenchshim.ListenerBusShim
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run of one workload in one JVM (launched by run.py).
  *
  * Timeline: JVM start → CPU sentinel → set-up passes (session build, open
  * inputs, workload set-up; `setup_s`) → one untimed cold iteration on the
  * small warm-up input (`warmup_s`) → timed iterations until `--seconds` have passed and at
  * least [[MinIterations]] have run.
  * Each iteration is reset and checked outside its timing. Untraced runs
  * report the end-to-end metrics; traced runs alternate untraced and traced
  * iterations and report the per-layer metrics plus `trace.overhead`.
  *
  * Arguments: --workload curate|feed --inputs DIR --work DIR
  * --seconds S --trace 0|1 --cores K --result FILE --info FILE --props FILE
  */
object Main {
  /** Set-up is repeated this many times and its median reported. */
  val SetupPasses = 5
  /** Timed iterations per run at least; their median is reported. */
  val MinIterations = 3
  /** A traced run alternates untraced and traced iterations and runs at
    * least this many of each.
    */
  val MinTracedIterations = 2
  /** GraftSession's guidance for deployments: shuffle partitions at 2-3x
    * the total cores.
    */
  val ShufflePerCore = 2

  def main(args: Array[String]): Unit = {
    val jvmBootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val truth = Json.read(s"${opt("inputs")}/truth.json")
    val wl = Workload(name, opt("inputs"), work, truth)
    // the cold iteration runs on a small input of the same shape: class
    // loading, the cold JIT and codegen do not depend on the data size
    val warmupInputs = s"${opt("inputs")}/warmup"
    val warmupWl = Workload(name, warmupInputs, work, Json.read(s"$warmupInputs/truth.json"))

    val sentinel = sentinelCpu()

    var spark: SparkSession = null
    var sessionStartS = 0.0
    val passes = (1 to SetupPasses).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = GraftSession.local(opt("cores"), ShufflePerCore * opt("cores").toInt)
      spark.conf.set("graft.scratch.dir", s"$work/scratch")
      if (i == 1) sessionStartS = (System.nanoTime() - t0) / 1e9
      wl.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = median(passes)
    warmupWl.setup(spark)

    val plain = new Tracer(spark, enabled = false)
    val tracer = if (traced) new Tracer(spark, enabled = true) else plain
    val errors = ArrayBuffer.empty[String]
    var attempted = 0
    var checkNs = 0L
    var passed = 0

    final case class Iter(wallS: Double, cpuS: Double, javaThreadCpuS: Double, gcS: Double,
                          bytes: Long, compiles: Long, trace: Option[IterationTrace])

    def iterate(wl: Workload, trace: Boolean): Option[Iter] = {
      attempted += 1
      try {
        wl.reset(spark)
        System.gc()
        val t = if (trace) tracer else plain
        t.begin()
        val fs0 = fsBytesWritten()
        val cg0 = ListenerBusShim.codegenCompiles
        val p0 = processCpuNs()
        val c0 = javaThreadCpuNs()
        val gc0 = gcMs()
        val w0 = System.nanoTime()
        wl.run(spark, t)
        val wall = (System.nanoTime() - w0) / 1e9
        val cpu = (processCpuNs() - p0) / 1e9
        val javaCpu = javaThreadCpuNs().map { case (id, ns) => ns - c0.getOrElse(id, 0L) }.sum / 1e9
        val gc = (gcMs() - gc0) / 1e3
        val compiles = ListenerBusShim.codegenCompiles - cg0
        val bytes = wl.bytesWritten
        val tr = if (trace) {
          val it = t.finish()
          val scratchMb = (fsBytesWritten() - fs0 - bytes).max(0L) / Tracer.MB
          Some(it.copy(metrics = it.metrics + ("core.scratch_mb" -> scratchMb)))
        } else None
        val k0 = System.nanoTime()
        val err = wl.check(spark)
        checkNs += System.nanoTime() - k0
        err.foreach(errors += _)
        if (err.nonEmpty) None
        else { passed += 1; Some(Iter(wall, cpu, javaCpu, gc, bytes, compiles, tr)) }
      } catch {
        case NonFatal(e) =>
          errors += s"${e.getClass.getName}: ${e.getMessage}".take(500)
          e.printStackTrace()
          None
      } finally cleanup(spark)
    }

    val cold = iterate(warmupWl, trace = false)
    val warm = ArrayBuffer.empty[Iter]
    val tracedIts = ArrayBuffer.empty[Iter]
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    def enough =
      elapsed >= seconds &&
        (if (traced) warm.size >= MinTracedIterations && tracedIts.size >= MinTracedIterations
         else warm.size >= MinIterations)
    var k = 0
    while (!enough && !(elapsed >= seconds && errors.nonEmpty)) {
      // U T T U order: traced and untraced iterations sit at the same
      // average distance from the cold start
      val tr = traced && (k % 4 == 1 || k % 4 == 2)
      iterate(wl, tr).foreach(it => if (tr) tracedIts += it else warm += it)
      k += 1
    }

    System.gc(); Thread.sleep(200); System.gc()
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Tracer.MB

    // input properties that need the engine cost a few jobs: computed by the
    // traced run, then cached with the inputs
    val propsFile = new java.io.File(opt("props"))
    if (traced && !propsFile.exists()) {
      val w = new java.io.PrintWriter(propsFile)
      try w.write(Json.write(wl.inputProps(spark))) finally w.close()
    }
    spark.stop()

    val metrics: Map[String, Double] =
      if (!traced) Map(
        "setup_s" -> setupS,
        "job_s" -> median(warm.map(_.wallS)),
        "cpu_s" -> median(warm.map(_.cpuS)),
        "live_heap_mb" -> liveHeapMb,
        "bytes_written_mb" -> median(warm.map(_.bytes / Tracer.MB)),
        "codegen_shapes" -> cold.map(_.compiles.toDouble).getOrElse(Double.NaN))
      else {
        val its = tracedIts.flatMap(_.trace)
        val keys = its.flatMap(_.metrics.keys).distinct
        val layer: Map[String, Double] =
          keys.map(key => key -> median(its.map(_.metrics.getOrElse(key, 0.0)))).toMap
        val verifyYield = median(its.map { it =>
          it.metrics.getOrElse("dedup.verified_pairs", 0.0) /
            math.max(1.0, it.metrics.getOrElse("dedup.candidate_pairs", 0.0))
        })
        layer ++ Map(
          "dedup.verify_yield" -> verifyYield,
          "core.session.start_s" -> sessionStartS,
          "core.codegen_shapes" -> cold.map(_.compiles.toDouble).getOrElse(Double.NaN),
          "warmup_s" -> cold.map(_.wallS).getOrElse(Double.NaN),
          "host.cpu_sentinel_s" -> sentinel,
          "trace.overhead" -> median(tracedIts.zip(its).map { case (i, t) => i.wallS - t.asideS }) /
            median(warm.map(_.wallS)))
      }
    val failed = attempted - passed
    writeFile(opt("result"), Json.write(Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics)))
    writeFile(opt("info"), Json.write(Map(
      "workload" -> name,
      "local_cores" -> opt("cores"),
      "setup_passes_s" -> passes,
      "setup_cold_s" -> (jvmBootS + passes.head),
      "jvm_boot_s" -> jvmBootS,
      "warmup_s" -> cold.map(_.wallS).getOrElse(Double.NaN),
      "timed_iterations" -> warm.size,
      "traced_iterations" -> tracedIts.size,
      "job_s_each" -> warm.map(_.wallS),
      "cpu_s_each" -> warm.map(_.cpuS),
      "java_thread_cpu_s_each" -> warm.map(_.javaThreadCpuS),
      "gc_s_each" -> warm.map(_.gcS),
      "codegen_compiles_each" -> (cold.toSeq ++ warm).map(_.compiles),
      "cpu_sentinel_s" -> sentinel,
      "checks_s" -> checkNs / 1e9,
      "harness_s" -> (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3,
      "errors" -> errors.take(5))))
    sys.exit(0)
  }

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toIndexedSeq.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** `graft.Bench`'s fixed-work CPU sentinel: the same loop, so a slow host
    * reads the same way here as on the query board.
    */
  def sentinelCpu(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < (1 << 28)) {
      x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
      x ^= x >>> 27; x *= 0x94d049bb133111ebL
      x ^= x >>> 31; i += 1
    }
    if (x == 42L) System.err.println("sentinel collision")
    (System.nanoTime() - t0) / 1e9
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time so far of each live Java thread: the main thread, executor tasks
    * and Spark's pools, but not the JIT compiler or GC threads. A diagnostic
    * beside `cpu_s` (process CPU), to tell JIT and GC load from the program's
    * own work.
    */
  private def javaThreadCpuNs(): Map[Long, Long] = {
    val mx = ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 > 0).toMap
  }

  /** Collection time so far, summed over the JVM's collectors. */
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Untimed, between iterations: nothing cached or scratched survives. */
  private def cleanup(spark: SparkSession): Unit = {
    // tasks of a job whose action already returned (e.g. `head`) may still
    // be running; let them end so they do not run into the next iteration
    val status = spark.sparkContext.statusTracker
    val until = System.nanoTime() + 10000000000L
    while (status.getActiveStageIds.nonEmpty && System.nanoTime() < until)
      Thread.sleep(10)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Scratch.cleanupNow()
  }

  private def writeFile(path: String, s: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try w.write(s) finally w.close()
  }
}
