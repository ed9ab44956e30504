package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Tracer) {
  def traced: Boolean = tracer.enabled
}

/** One workload: set-up (input generation, staging and table seed;
  * repeated, so its time is a median), a warm-up on the last set-up's
  * state, then a timed measurement over it.
  */
trait Workload {
  type Prepared
  def setup(dir: String): Prepared
  def warmup(p: Prepared): Unit
  def discard(p: Prepared): Unit
  def measure(p: Prepared, out: Outcome): Unit
}

/** Benchmark entry point, started by `run.py`:
  * `graftbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result file>`.
  * Writes one JSON document with every metric, the input properties, the
  * output checks and an environment stamp.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, resultFile) = args
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadAvg()
    val cpuStart = cpuTicks()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      // the engine's session settings, derived from the core count as in
      // graft.Bench
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.minPartitionNum", cpus.toString)
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.checkpoint.dir", s"$work/checkpoint")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val ctx = new Ctx(spark, seedS.toLong, secondsS.toInt, new Tracer(spark, traceS == "1"))
    val wl: Workload = workload match {
      case "cdc_replica" => new Replica(ctx)
      case "corpus_curation" => new Curation(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = new Outcome
    val skips0 = graft.streaming.CdcStream.skippedBatchCount.get()
    // set-up runs SetupReps times on fresh directories and the last one is
    // warmed up and measured: setup_s is session start, the median set-up
    // and the warm-up
    val repS = mutable.ArrayBuffer.empty[Double]
    var prepared: Option[wl.Prepared] = None
    ctx.tracer.on = false // set-up is not traced
    (0 until SetupReps).foreach { rep =>
      prepared.foreach(wl.discard)
      val t0 = System.nanoTime()
      prepared = out.op(s"setup$rep")(wl.setup(s"$work/rep$rep"))
      repS += (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    prepared = prepared.flatMap(p => out.op("warmup")(wl.warmup(p)).map(_ => p))
    val warmS = (System.nanoTime() - w0) / 1e9
    prepared.foreach(p => out.op("measure")(wl.measure(p, out)))
    val skips = graft.streaming.CdcStream.skippedBatchCount.get() - skips0
    out.check("no_ledger_skips", skips == 0, s"$skips batches skipped")
    out.perLayer("streaming.ledger_skips") = (skips.toDouble, "count")
    out.endToEnd("setup_s") = (sessionS + Stats.median(repS.toSeq) + warmS, "s")
    out.endToEnd("heap_retained_mb") = (retainedHeapMb(), "MB")
    ctx.tracer.close()
    val loadEnd = loadAvg()
    spark.stop()

    // every per-layer metric on every workload: a layer this workload does
    // not reach did no work, so it reads 0
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    Layers.all.foreach { case (n, u) => layer(n) = out.perLayer.getOrElse(n, (0.0, u)) }
    val failedRatio = out.failed.toDouble / math.max(1L, out.attempted)
    def metrics(m: collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val doc = Map(
      "workload" -> workload,
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "failed_ratio" -> failedRatio,
      "end_to_end" -> metrics(out.endToEnd),
      "per_layer" -> metrics(layer),
      "checks" -> out.checks,
      "notes" -> out.notes,
      "setup" -> Map("session_s" -> sessionS, "reps_s" -> repS.toSeq, "warmup_s" -> warmS),
      "env" -> Map(
        "nproc" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "mem_total_kb" -> memTotalKb(),
        "load_avg_start" -> loadStart,
        "load_avg_end" -> loadEnd,
        // share of this VM's CPU time the hypervisor gave to others
        "steal_pct" -> {
          val (t0, s0) = cpuStart
          val (t1, s1) = cpuTicks()
          100.0 * (s1 - s0) / math.max(1L, t1 - t0)
        },
        "vm_hwm_mb" -> vmHwmMb(),
        "seed" -> ctx.seed,
        "seconds" -> ctx.seconds,
        "trace" -> ctx.traced,
        "spark" -> org.apache.spark.SPARK_VERSION,
        "java" -> System.getProperty("java.version")))
    Files.writeString(Paths.get(resultFile), Json(doc))
    // stop() leaves no non-daemon threads behind in local mode, but exit
    // explicitly so a stray pool cannot keep the JVM alive
    sys.exit(0)
  }

  private def procLine(file: String, key: String): Option[String] =
    scala.util.Try(scala.io.Source.fromFile(file)).toOption.flatMap { s =>
      try s.getLines().find(_.startsWith(key)) finally s.close()
    }

  /** Heap still in use after full collections: what the engine keeps
    * once the measured work is done (VmHWM follows the collector's heap
    * sizing more than the engine, so it is only stamped).
    */
  private def retainedHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def vmHwmMb(): Double =
    procLine("/proc/self/status", "VmHWM:")
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def memTotalKb(): Long =
    procLine("/proc/meminfo", "MemTotal:").map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def loadAvg(): String = procLine("/proc/loadavg", "").getOrElse("")

  /** (all, steal) CPU ticks from /proc/stat. */
  private def cpuTicks(): (Long, Long) =
    procLine("/proc/stat", "cpu ").map { l =>
      val f = l.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    }.getOrElse((0L, 0L))
}
