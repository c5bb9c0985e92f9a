package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** The benchmark's JVM side. Builds the session `--setups` times (each
  * build followed by the workload's warm-up), then runs closed-loop passes
  * of the workload until `--seconds` are used, and writes a raw record of
  * everything it measured to `--out`. Statistics and output checks are the
  * Python side's job (perfbench/run.py).
  *
  * Usage: Main --workload W --input DIR --work DIR --out FILE --seconds S
  *             --trace 0|1 --cores N --setups K
  *
  * `--input` holds the generated inputs and their manifest; tables, Spark
  * scratch space and result dumps go under `--work`.
  *
  * A Spark listener counts jobs, tasks and bytes in every pass. With
  * `--trace 1` passes alternate between untraced and traced (spans
  * recorded), at least three: the first warms what the workload runs, and
  * the traced pass is compared with the untraced one after it for the
  * tracing overhead. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val input = new File(opt("input"))
    val work = new File(opt("work"))
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val workload = Workload(opt("workload"), Json.read(new File(input, "manifest.json")), work)
    val rec = new Recorder(System.nanoTime())
    val wallAtT0Ms = System.currentTimeMillis()

    val calibrationStart = calibrate()
    var spark: SparkSession = null
    val setups = (0 until opt("setups").toInt).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = GraftSession.builder("perfbench", cores)
        .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      workload.warmup(spark, i)
      Map("build_s" -> (t1 - t0) / 1e9, "warmup_s" -> (System.nanoTime() - t1) / 1e9)
    }
    val sc = spark.sparkContext
    rec.startPass(sc, -1, traced = false)
    workload.prepare(spark, rec)

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcs.map(_.getCollectionTime).sum
    val threads = ManagementFactory.getThreadMXBean
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def medianWall = {
      val w = passes.map(_("wall_s").asInstanceOf[Double]).sorted
      w(w.size / 2)
    }
    // closed loop: start a pass only while one more is expected to fit
    while (passes.size < (if (trace) 3 else 1) ||
      (passes.nonEmpty && elapsed + medianWall <= seconds)) {
      val index = passes.size
      val traced = trace && index % 2 == 1
      val probe = new JobProbe(wallAtT0Ms)
      sc.addSparkListener(probe)
      rec.startPass(sc, index, traced)
      val (c0, d0, g0, p0, t0) =
        (os.getProcessCpuTime, threads.getCurrentThreadCpuTime, gcMs, rec.now, System.nanoTime())
      workload.pass(spark, rec)
      val wall = (System.nanoTime() - t0) / 1e9
      val (c1, d1, g1, p1) = (os.getProcessCpuTime, threads.getCurrentThreadCpuTime, gcMs, rec.now)
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(probe)
      passes += Map("pass" -> index, "traced" -> traced, "wall_s" -> wall,
        "cpu_s" -> (c1 - c0) / 1e9, "driver_cpu_s" -> (d1 - d0) / 1e9,
        "gc_s" -> (g1 - g0) / 1e3, "start" -> p0, "end" -> p1,
        "spark" -> probe.snapshot(), "facts" -> workload.passFacts(spark, rec))
    }
    val measuredS = elapsed

    // used heap once garbage is gone: what the run keeps reachable. Spark's
    // ContextCleaner frees broadcast and shuffle state only after a GC has
    // cleared their references, on its own thread, so collect, give it
    // time, and keep the lowest reading.
    val mem = ManagementFactory.getMemoryMXBean
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed
    }.min / 1048576.0
    val calibrationEnd = calibrate()

    Json.write(new File(opt("out")), Map(
      "workload" -> opt("workload"), "cores" -> cores, "trace" -> trace,
      "setups" -> setups, "measured_s" -> measuredS, "passes" -> passes,
      "ops" -> rec.ops, "spans" -> rec.spans.map(_.toMap),
      "observations" -> rec.observations, "failures" -> rec.failures,
      "heap_mb" -> heapMb, "calibration_ms" -> Seq(calibrationStart, calibrationEnd)))
    spark.stop()
  }

  /** A fixed pure-JVM loop (integer mixing over a small array): how fast
    * this host runs plain code right now, for reading wall times beside. */
  def calibrate(): Double = {
    val a = Array.tabulate(1 << 16)(i => i * 2654435761L)
    val t0 = System.nanoTime()
    var acc = 0L
    var r = 0
    while (r < 400) {
      var i = 0
      while (i < a.length) {
        acc = acc * 31 + (a(i) ^ (acc >>> 7))
        i += 1
      }
      r += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (acc == 42) println("") // keeps the loop from being optimised away
    ms
  }
}
