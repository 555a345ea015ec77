package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload: seeded inputs, a fixed cycle of operations,
  * and an output check inside every operation.
  */
trait Workload {
  /** Generate or load the inputs under `dir` and build the reference
    * the output checks compare against. Returns the input description.
    */
  def prepare(dir: File): Map[String, Any]

  /** The fixed operation order, repeated in whole cycles. */
  def cycle: IndexedSeq[String]

  /** One operation: (output check passed, input rows processed). When
    * `rec.tracing` is on, the operation records its spans.
    */
  def runOp(name: String, rec: Recorder): (Boolean, Long)

  /** The untimed warm-up pass. */
  def warm(rec: Recorder): Unit = cycle.foreach(n => runOp(n, rec))

  /** One measured cycle, every operation recorded under `phase`. */
  def runCycle(rec: Recorder, phase: String): Unit =
    cycle.foreach(n => rec.op(n, phase)(runOp(n, rec)))

  /** Whole cycles every measured phase runs at least, however slow the
    * host: the medians then never rest on one cycle's samples.
    */
  def minCycles: Int = 3

  /** Workload-specific facts for the per-layer metrics. */
  def extra(): Map[String, Any] = Map.empty
}

object Main {
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** JVM-internal CPU consumers that compete with the task threads:
    * cumulative JIT compilation and GC pause time, in seconds.
    */
  private def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.toArray.map {
      case b: java.lang.management.GarbageCollectorMXBean => b.getCollectionTime.max(0L)
    }.sum / 1e3

  /** CPU time the hypervisor gave to other guests while this VM had
    * runnable work (steal, summed over all CPUs), in seconds; 0 where
    * /proc/stat has no steal column.
    */
  private def stealS(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").lift(8).map(_.toDouble / 100).getOrElse(0.0)
    finally src.close()
  }

  private def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    val threads = opt("threads").toInt
    work.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graftbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamProgress].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(new File(work, "checkpoints").getPath)
    val rec = new Recorder(spark)
    def uptimeS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val sessionS = uptimeS

    val w: Workload = workload match {
      case "sigproc_channels" => new Sigproc(spark, seed)
      case "neardup_corpus" => new Neardup(spark, seed)
      case "admit_stream" => new Admit(spark, seed)
      case "registry_sweep" => new Registry(spark, seed, opt("fixture"), new File(work, "oracle"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val tp = System.nanoTime()
    val inputs = w.prepare(new File(work, "input"))
    val prepareS = (System.nanoTime() - tp) / 1e9
    val tw = System.nanoTime()
    w.warm(rec)
    val warmS = (System.nanoTime() - tw) / 1e9
    // JVM start to the first timed operation
    val setupS = uptimeS

    // Closed loop in whole cycles, so every run weighs the operations
    // alike: at least minCycles rounds, then another while it is
    // expected to end nearer to `seconds` than stopping now would. An
    // untraced cycle always runs; a traced run alternates it with a
    // traced cycle, so both see the same warm-up state and their
    // difference is the tracing overhead.
    val names = if (trace) Seq("timed", "traced") else Seq("timed")
    val wallMs, cpuS, jit, gc, steal = mutable.Map(names.map(_ -> 0.0): _*)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var rounds = 0
    while (rounds < w.minCycles || elapsed + elapsed / rounds / 2 < seconds) {
      names.foreach { phase =>
        rec.tracing = phase == "traced"
        val (c0, s0, j0, g0, st0) = (cpuNs(), rec.nowMs(), jitS(), gcS(), stealS())
        w.runCycle(rec, phase)
        wallMs(phase) += rec.nowMs() - s0
        cpuS(phase) += (cpuNs() - c0) / 1e9
        jit(phase) += jitS() - j0
        gc(phase) += gcS() - g0
        steal(phase) += stealS() - st0
      }
      rounds += 1
    }
    rec.tracing = false
    val phases = names.map(n => Map("name" -> n, "wall_ms" -> wallMs(n), "cpu_s" -> cpuS(n),
      "jit_s" -> jit(n), "gc_s" -> gc(n), "steal_s" -> steal(n)))
    rec.drain()

    val raw = Map(
      "stamp" -> Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "task_threads" -> threads,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version),
      "inputs" -> inputs,
      "setup" -> Map("setup_s" -> setupS, "session_s" -> sessionS, "prepare_s" -> prepareS,
        "warm_s" -> warmS),
      "phases" -> phases,
      "ops" -> rec.ops.toSeq,
      "spans" -> rec.spans.toSeq,
      "counters" -> rec.listener.snapshot(),
      "extra" -> w.extra(),
      "peak_rss_kb" -> peakRssKb())
    java.nio.file.Files.writeString(new File(work, "raw.json").toPath, Json(raw))
    spark.stop()
  }
}
