package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Outside-in tracing: spans are opened by the benchmark around its
  * calls into the engine's public stage functions, never inside the
  * engine. Each span sets its own Spark job group; the benchmark's own
  * [[JobLedger]] (a SparkListener) and [[TriggerLedger]] (a
  * StreamingQueryListener) record every job, task and micro-batch, and
  * [[Tracer.report]] folds them into the span that was open when they
  * ran. Spans are held in memory and written out when the run ends.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startMs: Long, endMs: Long, wallS: Double, counts: Map[String, Double]) {
  def contains(ms: Long): Boolean = ms >= startMs && ms <= endMs
}

/** One Spark job as the listener saw it, with its tasks' metrics summed. */
final class JobRecord(val id: Int, val group: String, val description: String,
    val submitMs: Long) {
  @volatile var endMs: Long = -1L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

final class JobLedger extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, JobRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val j = new JobRecord(e.jobId,
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
      p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse(""),
      e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def snapshot: Seq[JobRecord] = synchronized(jobs.values.toVector)
}

/** One micro-batch trigger, from the query's progress report. */
final case class Trigger(runId: String, batchId: Long, startMs: Long,
    durations: Map[String, Long], inputRows: Long) {
  def ms(k: String): Long = durations.getOrElse(k, 0L)
  def endMs: Long = startMs + ms("triggerExecution")
}

final class TriggerLedger extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[Trigger]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    val durations = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue()).toMap
    synchronized {
      buf += Trigger(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, durations,
        p.numInputRows)
    }
  }
  def snapshot: Seq[Trigger] = synchronized(buf.toVector)
}

final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val done = mutable.ArrayBuffer.empty[Span]
  private final class Open(val id: Int, val name: String, val parent: Int,
      val startMs: Long, val startNs: Long) {
    val counts = mutable.LinkedHashMap.empty[String, Double]
  }
  private var stack = List.empty[Open]
  private var nextId = 1

  /** Runs `f` as one span named `name`, under the innermost open span. */
  def span[A](name: String)(f: => A): A = {
    val open = new Open(nextId, name, stack.headOption.fold(0)(_.id),
      System.currentTimeMillis(), System.nanoTime())
    nextId += 1
    stack = open :: stack
    sc.setJobGroup(s"perfbench-${open.id}", name, interruptOnCancel = false)
    try f
    finally {
      val endNs = System.nanoTime()
      stack = stack.tail
      done += Span(open.id, open.name, open.parent, runId, open.startMs,
        System.currentTimeMillis(), (endNs - open.startNs) / 1e9, open.counts.toMap)
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"perfbench-${p.id}", p.name, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Adds `v` to counter `key` of the innermost open span. */
  def count(key: String, v: Double): Unit = stack.headOption.foreach { o =>
    o.counts(key) = o.counts.getOrElse(key, 0.0) + v
  }

  def spans: Seq[Span] = done.toVector
}

object Tracer {

  private def union(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  private def clip(j: JobRecord, s: Long, e: Long): (Long, Long) =
    (math.max(j.submitMs, s), math.min(if (j.endMs < 0) e else j.endMs, e))

  /** The span that owns a job: the span whose job group the job carries,
    * when that span was open at submission; otherwise (jobs launched from
    * pooled or streaming threads carry another group) the innermost span
    * open at submission.
    */
  def owners(spans: Seq[Span], jobs: Seq[JobRecord]): Map[Int, Seq[JobRecord]] = {
    val byId = spans.map(s => s.id -> s).toMap
    val depth = mutable.HashMap.empty[Int, Int]
    def d(s: Span): Int = depth.getOrElseUpdate(s.id,
      byId.get(s.parent).fold(0)(p => d(p) + 1))
    jobs.flatMap { j =>
      val byGroup = if (j.group.startsWith("perfbench-"))
        byId.get(j.group.stripPrefix("perfbench-").toInt).filter(_.contains(j.submitMs))
      else None
      byGroup.orElse {
        val open = spans.filter(_.contains(j.submitMs))
        if (open.isEmpty) None else Some(open.maxBy(d))
      }.map(_.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Per-call metrics of every span: wall, executor CPU, jobs, shuffle,
    * the driver gap (wall minus the union of its own jobs' intervals),
    * bytes read and written, spill, GC, the span's own counters, and for
    * spans that ran streaming queries, the micro-batch breakdown.
    */
  def callMetrics(spans: Seq[Span], jobs: Seq[JobRecord],
      triggers: Seq[Trigger]): Seq[(Span, Map[String, Double])] = {
    val owned = owners(spans, jobs)
    val mb = 1024.0 * 1024.0
    spans.map { s =>
      val js = owned.getOrElse(s.id, Nil)
      val busyMs = union(js.map(clip(_, s.startMs, s.endMs)))
      val base = Map(
        "wall_s" -> s.wallS,
        "cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "jobs" -> js.size.toDouble,
        "shuffle_mb" -> js.map(_.shuffleWriteBytes).sum / mb,
        "driver_gap_s" -> math.max(0.0, s.wallS - busyMs / 1e3),
        "input_mb" -> js.map(_.inputBytes).sum / mb,
        "output_mb" -> js.map(_.outputBytes).sum / mb,
        "spill_mb" -> js.map(_.spillBytes).sum / mb,
        "gc_s" -> js.map(_.gcMs).sum / 1e3)
      val mine = triggers.filter(t => s.contains(t.startMs) && t.inputRows > 0)
      val stream = if (mine.isEmpty) Map.empty[String, Double] else {
        val all = jobs.filter(j => j.submitMs >= s.startMs && j.submitMs <= s.endMs)
        def med(f: Trigger => Double) = Stats.median(mine.map(f))
        def phase(t: Trigger, tag: String) = union(all
          .filter(j => j.description.startsWith(s"graft ingest: $tag") &&
            j.submitMs >= t.startMs && j.submitMs <= t.endMs)
          .map(clip(_, t.startMs, t.endMs))) / 1e3
        val rows = mine.map(_.inputRows).sum.toDouble
        Map(
          "batch.trigger_s" -> med(_.ms("triggerExecution") / 1e3),
          "batch.add_batch_s" -> med(_.ms("addBatch") / 1e3),
          "batch.wal_commit_s" -> med(_.ms("walCommit") / 1e3),
          "batch.planning_s" -> med(_.ms("queryPlanning") / 1e3),
          "batch.offsets_s" -> med(t => (t.ms("latestOffset") + t.ms("getBatch") +
            t.ms("commitOffsets")) / 1e3),
          "probe_s" -> med(phase(_, "probe")),
          "append_s" -> med(phase(_, "append")),
          "gate_s" -> med(t => phase(t, "lateness gate") + phase(t, "late audit")),
          "nonjob_s" -> med(t => (t.ms("triggerExecution") - union(all
            .filter(j => j.submitMs >= t.startMs && j.submitMs <= t.endMs)
            .map(clip(_, t.startMs, t.endMs)))) / 1e3),
          "bytes_written_per_row" -> js.map(_.outputBytes).sum / math.max(rows, 1.0),
          "batches" -> mine.size.toDouble)
      }
      s -> (base ++ stream ++ s.counts)
    }
  }

  /** Writes one JSON object per span (with its per-call metrics). */
  def write(path: java.nio.file.Path, calls: Seq[(Span, Map[String, Double])]): Unit = {
    val lines = calls.map { case (s, m) =>
      val metrics = m.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      s"""{"run":${Json.str(s.run)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""metrics":{${metrics.mkString(",")}}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
