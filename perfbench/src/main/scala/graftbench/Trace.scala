package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spans from the benchmark's own code around each public engine call,
  * with Spark's task metrics attributed to them from the outside:
  *
  *  - a span on the benchmark thread sets a job group; a
  *    [[org.apache.spark.scheduler.SparkListener]] maps each job to the
  *    span by that group;
  *  - stream-thread jobs carry the micro-batch id as a local property and
  *    map to the `streaming.trigger` span of that batch;
  *  - every job keeps its call site, so an apply span can be split by the
  *    engine file whose code started the job.
  *
  * Everything is kept in memory and summarised when the run ends. With
  * tracing off no span is recorded, no job group is set and the listener
  * is not registered.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer.Span

  final class Job(val span: String, val query: String, val batch: Long,
      execution: Long, stageName: String) {
    /** The call site of the SQL execution that ran the job (adaptive
      * execution submits its stages from a pool thread, so the stage name
      * alone loses the engine frame), else the stage's.
      */
    def site: String = Option(executionSites.get(execution)).getOrElse(stageName)
    var taskMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var maxTaskMs = 0L
  }

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  /** Per-unit switch: a traced run alternates traced and untraced units
    * (trigger, backlog iteration, corpus pass) to price the tracing.
    */
  @volatile var on: Boolean = enabled

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val executionSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val started = new java.util.concurrent.atomic.AtomicLong()
  private val ended = new java.util.concurrent.atomic.AtomicLong()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.incrementAndGet()
      val p = Option(e.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("span-")).getOrElse("")
      val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
        .flatMap(_.toLongOption).getOrElse(-1L)
      val query = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).getOrElse("")
      val execution = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).getOrElse(-1L)
      val site = e.stageInfos.headOption.map(_.name).getOrElse("")
      if (batch < 0 || Tracer.tracedBatch(batch)) {
        val j = new Job(group, query, batch, execution, site)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        executionSites.put(x.executionId, x.description); ()
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      ended.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Time `body` as span `name` when tracing is on for this unit. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      // no description: SQL executions then keep their call site
      sc.setJobGroup(s"span-$id", null, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.clearJobGroup()
        synchronized { spans += Span(id, name, t0, t1) }
      }
    }

  /** Wait until the listener bus has delivered every job's end. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (ended.get() < started.get() && System.nanoTime() < deadline)
      Thread.sleep(50)
    Thread.sleep(300) // task-end events trail the job end
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  def spansOf(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toSeq)

  def jobsOfSpan(s: Span): Seq[Job] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.filter(_.span == s"span-${s.id}").toSeq
  }

  def jobsOfBatch(query: String, batch: Long): Seq[Job] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.filter(j => j.query == query && j.batch == batch).toSeq
  }

  /** The five task metrics of one span name, each per instance (mean),
    * except `max_task_ms` (max over all instances), plus the median wall.
    * `instances` are the job sets of the span's instances.
    */
  def summarize(prefix: String, walls: Seq[Double], instances: Seq[Seq[Job]],
      out: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    val n = math.max(1, instances.size).toDouble
    def sum(f: Job => Long) = instances.flatten.map(f).sum.toDouble
    out(s"$prefix.wall_ms") = (Stats.median(walls), "ms")
    out(s"$prefix.task_ms") = (sum(_.taskMs) / n, "ms")
    out(s"$prefix.gc_ms") = (sum(_.gcMs) / n, "ms")
    out(s"$prefix.shuffle_mb") = (sum(_.shuffleBytes) / n / 1048576.0, "MB")
    out(s"$prefix.spill_mb") = (sum(_.spillBytes) / n / 1048576.0, "MB")
    out(s"$prefix.max_task_ms") =
      (instances.flatten.map(_.maxTaskMs).maxOption.getOrElse(0L).toDouble, "ms")
  }

  /** [[summarize]] for a span recorded with [[span]]. */
  def summarizeSpan(name: String,
      out: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    val ss = spansOf(name)
    summarize(name, ss.map(s => (s.endNs - s.startNs) / 1e6), ss.map(jobsOfSpan), out)
  }
}

object Tracer {
  final case class Span(id: Long, name: String, startNs: Long, endNs: Long)

  /** Micro-batches whose jobs are accounted; the others are the untraced
    * units that price the tracing.
    */
  def tracedBatch(batch: Long): Boolean = batch % 2 == 0

  /** Every span the benchmark records, in workload order. */
  val Spans: Seq[String] = Seq(
    "streaming.trigger",
    "streaming.apply_tx_batch", "sources.latest", "sources.point_lookup",
    "sources.read_pruned", "sources.change_feed", "sources.time_travel",
    "monitor.health_report",
    "text.quality_filter", "dedup.exact", "dedup.minhash_lsh",
    "corpus.decontaminate", "similarity.ivf_train", "similarity.ivf_assign",
    "similarity.ivf_topk")

  /** Engine file of a job's call site (`count at TxTable.scala:123`). */
  def siteFile(site: String): String =
    site.split(" at ").lastOption.map(_.takeWhile(_ != ':')).getOrElse("")

  /** Jobs that evaluate the per-key dedup: the applier's own jobs, and the
    * merge's first materialisation of the change set it is handed, which
    * is where the lazy `dedupToLatest` plan runs.
    */
  def isApplyJob(j: Tracer#Job): Boolean = {
    val f = siteFile(j.site)
    f == "ChangeApplier.scala" ||
      (f == "TxTable.scala" && j.site.startsWith("localCheckpoint"))
  }

  def isMergeJob(j: Tracer#Job): Boolean =
    siteFile(j.site) == "TxTable.scala" && !isApplyJob(j)
}
