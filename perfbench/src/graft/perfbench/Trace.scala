package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One Spark job as the listener saw it, with its tasks' counters. */
final class JobRec(val id: Int, val label: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var recordsWritten = 0L
  /** Task time of tasks that read input records (scan work). */
  var scanTaskMs = 0L
}

/** One timed call into a layer (or one request grouping such calls).
  * `changed` is the number of rows the call was asked to change,
  * `returned` the rows a read returned; both feed the layer ratios. */
final class SpanRec(val id: Int, val parent: Int, val name: String,
    val req: Int, val startMs: Long, val startNs: Long) {
  var endMs: Long = startMs
  var wallNs = 0L
  var changed = 0L
  var returned = 0L
  var filesWritten = 0L
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  def wallS: Double = wallNs / 1e9
}

/** Records job, stage and task counters and the storage memory held by
  * cached RDD blocks (the `Tuning` pins). Runs on the listener bus's
  * single thread; read only after [[Tracer.finish]] drained the bus. */
final class CounterListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val rddBlockMem = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L
  var peakCachedBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val label = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val rec = new JobRec(e.jobId, label, e.time)
    jobs(e.jobId) = rec
    e.stageInfos.foreach(s => stageJob(s.stageId) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (rec <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      rec.taskMs += m.executorRunTime
      rec.cpuNs += m.executorCpuTime
      rec.gcMs += m.jvmGCTime
      rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      rec.recordsRead += m.inputMetrics.recordsRead
      rec.recordsWritten += m.outputMetrics.recordsWritten
      if (m.inputMetrics.recordsRead > 0) rec.scanTaskMs += m.executorRunTime
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      cachedBytes += now - rddBlockMem.getOrElse(key, 0L)
      if (now == 0L) rddBlockMem.remove(key) else rddBlockMem(key) = now
      peakCachedBytes = math.max(peakCachedBytes, cachedBytes)
    }
  }
}

/** Spans around the benchmark's calls into the engine's public
  * functions, nested in one span per request (a batch or a round).
  * Every run times its calls this way; a traced run also
  * registers the [[CounterListener]], counts the files each call adds
  * under the tables it names, and attributes each Spark job to the
  * innermost span open when the job started (one client thread issues
  * every call, so spans never overlap except by nesting). */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val listener = new CounterListener
  if (enabled) spark.sparkContext.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val open = mutable.Stack.empty[SpanRec]

  /** Time `body` as span `name` of request `req`; `tables` are the
    * table directories the call may write into. */
  def span[T](name: String, req: Int, tables: Seq[String] = Nil,
      changed: Long = 0L)(body: => T): T = {
    val filesBefore = if (enabled) tables.map(countFiles).sum else 0L
    val s = new SpanRec(spans.length, open.headOption.fold(-1)(_.id), name,
      req, System.currentTimeMillis(), System.nanoTime())
    s.changed = changed
    spans += s
    open.push(s)
    try body
    finally {
      s.wallNs = System.nanoTime() - s.startNs
      s.endMs = System.currentTimeMillis()
      open.pop()
      if (enabled) s.filesWritten = tables.map(countFiles).sum - filesBefore
    }
  }

  /** The span opened last: inside a span's body that opens no other
    * span, that span itself; lets a read record the rows it returned. */
  def last: SpanRec = spans.last

  private def countFiles(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally s.close()
    }
  }

  /** Drain the listener bus and hand every job to its span. */
  def finish(): Unit = if (enabled) {
    org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    // innermost = the latest-opened span whose interval holds the start
    val byStart = spans.sortBy(_.startMs)
    listener.jobs.values.foreach { j =>
      byStart.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .lastOption.foreach(_.jobs += j)
    }
  }

  def peakCachedMb: Double = listener.peakCachedBytes / 1048576.0

  /** Spans and their jobs as JSON lines: one record per span, then one
    * child record per job labelled with its `spark.job.description`. */
  def spanLines(): Seq[String] = spans.toSeq.flatMap { s =>
    Json.obj("kind" -> "span", "id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "req" -> s.req, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "wall_s" -> s.wallS,
      "self_s" -> Layers.selfSeconds(s, spans.toSeq.filter(_.parent == s.id)
        .map(k => (k.startMs, k.endMs))), "changed" -> s.changed,
      "returned" -> s.returned, "files_written" -> s.filesWritten) +:
      s.jobs.toSeq.map(j => Json.obj("kind" -> "job", "id" -> j.id,
        "parent" -> s.id, "label" -> j.label, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "stages" -> j.stages,
        "task_s" -> j.taskMs / 1e3, "cpu_s" -> j.cpuNs / 1e9,
        "gc_s" -> j.gcMs / 1e3, "shuffle_bytes" -> j.shuffleBytes,
        "spill_bytes" -> j.spillBytes, "records_read" -> j.recordsRead,
        "records_written" -> j.recordsWritten))
  }
}

/** The per-layer metric set: one span name per layer boundary. */
object Layers {
  val Commit = "sources.commit"
  val MvFact = "streaming.mv_fact"
  val MvDim = "streaming.mv_dim"
  val NearDup = "streaming.neardup"
  val Cluster = "streaming.cluster"
  val Verdict = "streaming.verdict"
  val Point = "sources.read.point"
  val Scan = "sources.read.scan"
  val all: Seq[String] = Seq(Commit, MvFact, MvDim, NearDup, Cluster,
    Verdict, Point, Scan)
  val perSpan: Seq[String] = Seq("wall_s", "driver_s", "jobs", "stages",
    "task_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "rows_written",
    "files_written", "core_util")
  val ratios: Seq[String] = Seq(
    s"$Commit.rows_written_per_changed_row",
    s"$MvDim.rows_written_per_changed_row",
    s"$NearDup.jobs_growth", s"$Cluster.jobs_growth",
    s"$Verdict.jobs_growth",
    s"$Point.rows_read_per_row",
    s"$Scan.scan_task_frac",
    "cache.peak_mb")
  val names: Seq[String] =
    all.flatMap(l => perSpan.map(m => s"$l.$m")) ++ ratios

  /** Span time not covered by any of its Spark jobs or by the
    * `children` intervals (its child spans). */
  def selfSeconds(s: SpanRec, children: Seq[(Long, Long)] = Nil): Double = {
    var covered = 0L
    var reach = s.startMs
    (s.jobs.map(j => (j.startMs, j.endMs)) ++ children)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
    math.max(0.0, s.wallS - covered / 1e3)
  }

  private def mb(b: Long): Double = b / 1048576.0

  /** Every per-layer metric. Span metrics are means per call (0 for a
    * layer the workload never calls); `core_util` is task time over
    * wall time × cores. */
  def metrics(spans: Seq[SpanRec], cores: Int, peakCachedMb: Double)
      : Map[String, Double] = {
    val byName = spans.groupBy(_.name)
    def of(l: String) = byName.getOrElse(l, Seq.empty)
    def sumJ(ss: Seq[SpanRec])(f: JobRec => Double) =
      ss.map(_.jobs.map(f).sum).sum
    val perLayer = all.flatMap { l =>
      val ss = of(l)
      val n = math.max(ss.size, 1).toDouble
      val wall = ss.map(_.wallS).sum
      val task = sumJ(ss)(_.taskMs / 1e3)
      Seq(
        "wall_s" -> wall / n,
        "driver_s" -> ss.map(s => selfSeconds(s)).sum / n,
        "jobs" -> ss.map(_.jobs.size).sum / n,
        "stages" -> sumJ(ss)(_.stages.toDouble) / n,
        "task_s" -> task / n,
        "cpu_s" -> sumJ(ss)(_.cpuNs / 1e9) / n,
        "gc_s" -> sumJ(ss)(_.gcMs / 1e3) / n,
        "shuffle_mb" -> sumJ(ss)(j => mb(j.shuffleBytes)) / n,
        "spill_mb" -> sumJ(ss)(j => mb(j.spillBytes)) / n,
        "rows_written" -> sumJ(ss)(_.recordsWritten.toDouble) / n,
        "files_written" -> ss.map(_.filesWritten).sum / n,
        "core_util" -> (if (wall > 0) task / (wall * cores) else 0.0)
      ).map { case (m, v) => s"$l.$m" -> v }
    }
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    def growth(l: String): Double = {
      // least-squares slope of jobs per drain against the drain's index
      val ys = of(l).sortBy(_.startMs).map(_.jobs.size.toDouble)
      if (ys.size < 2) 0.0
      else {
        val xs = ys.indices.map(_.toDouble)
        val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
        xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
          xs.map(x => (x - mx) * (x - mx)).sum
      }
    }
    val commits = of(Commit)
    val dims = of(MvDim)
    val points = of(Point)
    val scans = of(Scan)
    (perLayer ++ Seq(
      s"$Commit.rows_written_per_changed_row" -> ratio(
        sumJ(commits)(_.recordsWritten.toDouble), commits.map(_.changed).sum),
      s"$MvDim.rows_written_per_changed_row" -> ratio(
        sumJ(dims)(_.recordsWritten.toDouble), dims.map(_.changed).sum),
      s"$NearDup.jobs_growth" -> growth(NearDup),
      s"$Cluster.jobs_growth" -> growth(Cluster),
      s"$Verdict.jobs_growth" -> growth(Verdict),
      s"$Point.rows_read_per_row" -> ratio(
        sumJ(points)(_.recordsRead.toDouble), points.map(_.returned).sum),
      s"$Scan.scan_task_frac" -> ratio(
        sumJ(scans)(_.scanTaskMs.toDouble), sumJ(scans)(_.taskMs.toDouble)),
      "cache.peak_mb" -> peakCachedMb)).toMap
  }
}
