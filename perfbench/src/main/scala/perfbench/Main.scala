package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets up a session, then runs
  * one workload closed-loop (one client thread) for a fixed time and
  * writes what it measured to `<out>/raw.json` (and, traced, the spans
  * and scheduler counters to `<out>/trace.json`). `perfbench/run.py`
  * builds this, makes the inputs, checks the results and reports.
  *
  * Usage: perfbench.Main --workload <name> --data <dir> --out <dir>
  *   --seconds <s> --trace <0|1> --warmup <0|1> --seed <n> --cores <n>
  *   [--queries q1,q2,...]
  */
object Main {
  import Workload.secs

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = a("out")
    val cores = a("cores").toInt
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val workload: Workload = a("workload") match {
      case "interactive_pack" =>
        new Pack(a("data"), a("queries").split(",").toSeq, seed)
      case "nilm_etl" => new Nilm(a("data"), s"$out/work")
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      GraftExtensions.register(s)
      s
    }

    // set-up: session build to ready, including extension registration
    // and, with --warmup 1, one warm-up pass (which also fixes the pack's
    // reference results)
    val ops = mutable.ArrayBuffer[(String, Op)]()
    val setup = new Clock
    val spark = session()
    if (a("warmup") == "1")
      ops ++= workload.pass(spark, new Tracer(false, spark.sparkContext), 0,
        check = false, () => Main.release(spark)).map("setup" -> _)
    val (setupS, setupCpuS) = (setup.wall, setup.cpu)
    workload.afterReference(spark, out)

    // measurement: passes until the phase's time is spent. A traced run
    // measures untraced, traced, untraced on the same inputs (a quarter,
    // a half, a quarter of its time), so the JVM's warming affects both
    // sides alike and their difference is the tracing overhead. The
    // listener, once attached, stays for the last untraced quarter.
    // After each measured operation, untimed: a full GC gives the heap the
    // operation left live (what a session keeps between queries); then its
    // persists are released and Spark's asynchronous clean-up (unpersists,
    // and the ContextCleaner the GC woke) gets a moment to finish, so it
    // does not run inside the next operation's clock.
    var passNo = 0
    val liveHeapMb = mutable.ArrayBuffer[Double]()
    def phase(name: String, tr: Tracer, budget: Double): Double = {
      val t0 = System.nanoTime()
      do {
        passNo += 1
        ops ++= workload.pass(spark, tr, passNo, check = true,
          () => {
            liveHeapMb += Main.liveHeapMb()
            Main.release(spark)
            Thread.sleep(250)
          }).map(name -> _)
      } while (secs(t0) < budget)
      secs(t0)
    }
    val sc = spark.sparkContext
    val counters = new Counters
    val tracer = new Tracer(trace, sc)
    val wall = mutable.ArrayBuffer[(String, Double)]()
    if (!trace) wall += "untraced" -> phase("untraced", new Tracer(false, sc), seconds)
    else {
      wall += "untraced" -> phase("untraced", new Tracer(false, sc), seconds / 4)
      sc.addSparkListener(counters)
      spark.listenerManager.register(counters)
      wall += "traced" -> phase("traced", tracer, seconds / 2)
      wall += "untraced" -> phase("untraced", new Tracer(false, sc), seconds / 4)
    }

    val threads = Thread.getAllStackTraces.keySet.toArray.map(_.toString)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jvm = Map(
      "process_cpu_s" -> os.getProcessCpuTime / 1e9,
      "threads_live" -> threads.length,
      "threads_peak" -> ManagementFactory.getThreadMXBean.getPeakThreadCount,
      "spark_task_threads" -> threads.count(_.contains("Executor task launch")),
      "spark_master" -> sc.master)
    spark.stop() // drains the listener bus before the counters are read

    val rawJson = Json.obj(
      "workload" -> a("workload"),
      "setup_s" -> setupS,
      "setup_cpu_s" -> setupCpuS,
      "wall_s" -> wall,
      "live_heap_mb" -> liveHeapMb,
      "jvm" -> jvm,
      "ops" -> ops.map { case (ph, o) =>
        Json.Raw(Json.obj("phase" -> ph, "name" -> o.name,
          "latency_s" -> o.latencyS, "cpu_s" -> o.cpuS, "ok" -> o.ok, "error" -> o.error,
          "high_water" -> o.highWater, "obs" -> o.obs))
      })
    Files.write(Paths.get(s"$out/raw.json"), rawJson.getBytes("UTF-8"))
    if (trace) {
      def ms(ns: Long) = tracer.anchorMs + (ns - tracer.anchorNs) / 1e6
      val traceJson = Json.obj(
        "run" -> Paths.get(out).getFileName.toString,
        "spans" -> tracer.recorded.map(s => Json.Raw(Json.obj(
          "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "tag" -> s.tag, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "start_ms" -> ms(s.startNs), "end_ms" -> ms(s.endNs)))),
        "jobs" -> counters.jobs.map { case (j, (s, t0, t1)) =>
          Json.Raw(Json.obj("job" -> j, "span" -> s, "start_ms" -> t0,
            "end_ms" -> t1)) },
        "stages" -> counters.stages.map { case ((id, att), g) =>
          Json.Raw(Json.obj("stage" -> id, "attempt" -> att, "span" -> g.span,
            "submitted_ms" -> g.submittedMs, "completed_ms" -> g.completedMs,
            "tasks" -> g.tasks, "failed_tasks" -> g.failedTasks,
            "task_ms" -> g.taskMs, "run_ms" -> g.runMs,
            "shuffle_write" -> g.shuffleWrite, "shuffle_read" -> g.shuffleRead,
            "spill" -> g.spill, "peak_exec_mem" -> g.peakExecMem)) },
        "phases" -> counters.phases.map { case (t, o, p) =>
          Json.Raw(Json.obj("start_ms" -> t, "optimize_ms" -> o, "plan_ms" -> p)) })
      Files.write(Paths.get(s"$out/trace.json"), traceJson.getBytes("UTF-8"))
    }
    println("perfbench: done")
  }

  def release(spark: SparkSession): Unit = {
    graft.Caching.release()
    spark.catalog.clearCache()
  }

  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
