package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up (session start, input generation, the warm-up operations) is timed as `setup_s` and kept out of every other
  * metric; generation is repeated and its median taken. The timed phase
  * is a closed loop of one driver thread. With `--trace 0` the last
  * stdout line carries the end-to-end metrics; with `--trace 1` the loop
  * alternates untraced and traced operations and the last line carries
  * the per-layer metrics of the traced ones. The line before it is a
  * report with the workload's named metrics, the input sizes and the
  * host stamp. The exit status is non-zero when any operation threw or
  * failed a check.
  */
object Main {

  /** Layer spans, named `<module>.<function>` after the engine's source
    * modules, and their extra per-call counts (name, unit).
    */
  val layers: Seq[(String, Seq[(String, String)])] = {
    val batch = Seq("batch.trigger_s", "batch.add_batch_s", "batch.wal_commit_s",
      "batch.planning_s", "batch.offsets_s", "probe_s", "append_s", "gate_s", "nonjob_s")
      .map(_ -> "s") :+ ("bytes_written_per_row" -> "B/row")
    Seq(
      "sources.tables" -> Nil,
      "profile.profileLake" -> Seq("cells_per_s" -> "cells/s"),
      "annotate.annotate" -> Nil,
      "functions.columnPrompts" -> Nil,
      "embed.embedColumn" -> Nil,
      "knn.blockKnn" -> Seq("distance_evals" -> "count"),
      "discover.evalGrid" -> Nil,
      "knn.IvfIndex.search" -> Seq("input_mb" -> "MB"),
      "knn.HnswIndex.search" -> Seq("input_mb" -> "MB"),
      "knn.IvfIndex.build" -> Seq("output_mb" -> "MB"),
      "knn.HnswIndex.build" -> Seq("output_mb" -> "MB"),
      "streaming.annIngestWatermarked" -> batch,
      "streaming.hnswIngestWatermarked" -> batch,
      "text.cleanCorpus" -> Nil,
      "dedup.minHashLshCandidates" -> Seq("candidate_pairs" -> "count", "kept_ratio" -> "ratio"),
      "dedup.nearDupComponents" -> Nil,
      "text.packGreedy" -> Nil)
  }

  private val spanBase = Seq("wall_s" -> "s", "cpu_s" -> "s", "jobs" -> "count",
    "shuffle_mb" -> "MB", "driver_gap_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case v   => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $v")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace,
      Paths.get(need("work")).toAbsolutePath,
      math.min(4, Runtime.getRuntime.availableProcessors()))
  }

  /** `graft.HostCanary` at `threads` threads: its seconds, as metadata. */
  private def canary(threads: Int): Double = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf))(graft.HostCanary.main(Array(threads.toString)))
    """"canary_s":([0-9.]+)""".r.findFirstMatchIn(buf.toString).map(_.group(1).toDouble)
      .getOrElse(Double.NaN)
  }

  private def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.default.parallelism", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", a.work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val t0 = System.nanoTime()
  private def mark(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - t0) / 1e9}%.1f s $what")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workload.names.contains(a.workload),
      s"unknown workload '${a.workload}' (${Workload.names.mkString(", ")})")
    val canaryS = canary(a.cores)

    val (spark, sessionS) = Runner.timed(session(a))
    val triggers = new TriggerLedger
    spark.streams.addListener(triggers)
    val jobs = new JobLedger
    if (a.trace) spark.sparkContext.addSparkListener(jobs)
    val wl = Workload(a.workload, spark, a.seed, a.work)

    // set-up: generation repeated (median), then the warm-up operations
    val reps = (0 until 3).map(i => Runner.timed(wl.setup(a.work.resolve("input"))))
    mark("generated")
    val warm = Runner.timed(Runner.loop(0, wl.warmUps, wl.warmUps)(wl.warmUp))
    mark("warmed up")
    val setupS = sessionS + Stats.median(reps.map(_._2)) + warm._2
    val fps = reps.map(_._1)
    val selfCheck = Seq(
      (fps.distinct.size == 1, s"same seed, different content: ${fps.distinct.mkString(",")}"),
      (wl.fingerprint(a.seed) == fps.head, "fingerprint is not a function of the seed"),
      (wl.fingerprint(a.seed + 1) != fps.head, "seeds n and n+1 generated identical content"))
      .collect { case (false, why) => s"determinism: $why" }

    val tracer = new Tracer(spark, s"${a.workload}-${a.seed}")
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    heap.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val untracedS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val loop = Runner.loop(a.seconds, if (a.trace) 2 else 1) { i =>
      // traced runs alternate untraced and traced operations: the pair
      // difference is the tracing overhead
      if (a.trace && i % 2 == 1) {
        val (s, secs) = Runner.timed(tracer.span(a.workload)(wl.op(i / 2, Some(tracer))))
        tracedS += secs
        s
      } else {
        val (s, secs) = Runner.timed(wl.op(if (a.trace) i / 2 else i, None))
        untracedS += secs
        s
      }
    }
    mark("measured")
    val gcS = (gcMs - gc0) / 1e3
    val heapPeakMb = heap.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)

    val attempted = warm._1.attempted + loop.attempted
    val failed = warm._1.failed + loop.failed
    val errors = warm._1.errors ++ loop.errors ++ selfCheck
    val correct = errors.isEmpty
    val e2e = if (loop.samples.nonEmpty) Some(wl.endToEnd(loop.samples, triggers.snapshot)) else None

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) e2e.toSeq.flatMap { e =>
        Seq(("setup_s", setupS, "s"), ("items_per_s", e.itemsPerS, "items/s"),
          ("latency_p50_s", e.latencyP50S, "s"), ("quality", e.quality, "ratio"))
      } else {
        val calls = Tracer.callMetrics(tracer.spans, jobs.snapshot, triggers.snapshot)
        Tracer.write(a.work.getParent.resolve("traces").resolve(s"${tracer.runId}.jsonl"), calls)
        val roots = calls.filter(_._1.parent == 0)
        val nTraced = math.max(roots.size, 1)
        def median(span: String, m: String) = {
          val xs = calls.filter(_._1.name == span).flatMap(_._2.get(m))
          if (xs.isEmpty) 0.0 else Stats.median(xs)
        }
        val layerValues = layers.flatMap { case (span, extra) =>
          (spanBase ++ extra).map { case (m, u) =>
            val v = if (m == "cells_per_s") {
              val w = median(span, "wall_s"); if (w > 0) median(span, "cells") / w else 0.0
            } else median(span, m)
            (s"$span.$m", v, u)
          }
        }
        val rootWall = roots.map(_._2("wall_s")).sum
        val childWall = calls.filter(c => roots.exists(_._1.id == c._1.parent))
          .map(_._2("wall_s")).sum
        val overhead =
          if (untracedS.isEmpty || tracedS.isEmpty) 0.0
          else Stats.median(tracedS.toSeq) / Stats.median(untracedS.toSeq) - 1
        layerValues ++ Seq(
          ("jvm.gc_s", gcS / math.max(loop.attempted, 1), "s"),
          ("spark.spill_mb", calls.map(_._2("spill_mb")).sum / nTraced, "MB"),
          ("jvm.heap_peak_mb", heapPeakMb, "MB"),
          ("trace.overhead_ratio", overhead, "ratio"),
          ("trace.unattributed_ratio", if (rootWall > 0) 1 - childWall / rootWall else 0.0, "ratio"))
      }

    val report = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "trace" -> a.trace.toString,
      "cores" -> a.cores.toString,
      "host_canary_s" -> Json.num(canaryS),
      "sizes" -> Json.obj(wl.sizes.map { case (k, v) => k -> v.toString }),
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "generate_s" -> Json.obj(reps.zipWithIndex.map { case (r, i) => i.toString -> Json.num(r._2) }),
        "warmup_s" -> Json.num(warm._2))),
      "operations" -> Json.obj(Seq("attempted" -> attempted.toString, "failed" -> failed.toString,
        "untraced" -> untracedS.size.toString, "traced" -> tracedS.size.toString)),
      "error_rate" -> Json.num(failed.toDouble / math.max(attempted, 1)),
      "latency_samples" -> e2e.fold("0")(_.latencySamples.toString),
      "op_s" -> loop.samples.map(s => Json.obj(("wall" -> Json.num(s.wallS)) +:
        s.values.toSeq.sortBy(_._1).collect { case (k, v) if k.contains(".") => k -> Json.num(v) }))
        .mkString("[", ",", "]"),
      "named" -> Json.obj(e2e.toSeq.flatMap(_.named).map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "errors" -> errors.map(Json.str).mkString("[", ",", "]")))
    println(report)
    println(Runner.resultLine(correct, attempted, failed, metrics))
    mark("reported")
    spark.stop()
    mark("stopped")
    System.out.flush()
    sys.exit(Runner.exitCode(correct, attempted, failed))
  }
}
