package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One successful operation: its wall time, its workload-specific
  * values, and the wall-clock windows of its streaming calls (micro-batch
  * triggers are matched to operations through them).
  */
final case class Sample(wallS: Double, values: Map[String, Double],
    windows: Seq[(Long, Long)] = Nil)

/** The four end-to-end metrics every workload reports, plus the
  * workload's own named metrics for the report line.
  */
final case class EndToEnd(itemsPerS: Double, latencyP50S: Double,
    latencySamples: Int, quality: Double, named: Seq[(String, Double, String)])

abstract class Workload(val spark: SparkSession, val seed: Long) {
  def sizes: Seq[(String, Long)]
  /** Content fingerprint of the inputs `seed` generates (no writes). */
  def fingerprint(seed: Long): Int
  /** Generates the inputs under `dir` (and any state the timed phase
    * serves from). Returns the content fingerprint.
    */
  def setup(dir: Path): Int
  /** One operation, traced when `t` is defined. Throws on a failed check. */
  def op(i: Int, t: Option[Tracer]): Sample
  /** How many untimed operations warm the JVM and the session. */
  def warmUps: Int = 1
  /** Untimed warm-up operation `i` (of `warmUps`). */
  def warmUp(i: Int): Sample = op(i, None)
  def endToEnd(samples: Seq[Sample], triggers: Seq[Trigger]): EndToEnd

  protected def stage[A](t: Option[Tracer], span: String)(f: => A): A =
    t.fold(f)(_.span(span)(f))

  /** Forces every column of `df` once and returns a frame backed by the
    * materialized rows (a noop-sink write over a local checkpoint; never
    * a column-pruned count).
    */
  protected def materialize(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(eager = false)
    c.write.format("noop").mode("overwrite").save()
    c
  }

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def writeParquet(rows: Seq[Row], schema: StructType, path: Path): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.mode("overwrite").parquet(path.toString)

  protected def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  protected def treeBytes(p: Path): Long = {
    val walk = Files.walk(p)
    try walk.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally walk.close()
  }
}

object Workload {
  val names: Seq[String] = Seq("lake-prep", "ann-serve-ingest")

  def apply(name: String, spark: SparkSession, seed: Long, work: Path): Workload =
    name match {
      case "lake-prep"        => new LakePrep(spark, seed)
      case "ann-serve-ingest" => new AnnServeIngest(spark, seed, work)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (${names.mkString(", ")})")
    }
}

/** One seeded lake, prepared the way the engine's lake model splits it
  * (relational tables for discovery, a documents table for its own
  * operators): join discovery over the tables, then corpus preparation
  * over the documents. The two halves share no engine layer.
  */
final class LakePrep(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  private val discovery = new LakeDiscovery(spark, seed)
  private val corpus = new CorpusPrepWorkload(spark, seed)
  def sizes = discovery.sizes ++ corpus.sizes

  def fingerprint(s: Long): Int =
    scala.util.hashing.MurmurHash3.mix(discovery.fingerprint(s), corpus.fingerprint(s))

  def setup(dir: Path): Int = scala.util.hashing.MurmurHash3.mix(
    discovery.setup(dir.resolve("tables")), corpus.setup(dir.resolve("documents")))

  private def both(d: Sample, c: Sample): Sample =
    Sample(d.wallS + c.wallS,
      d.values ++ c.values ++ Map("discovery.s" -> d.wallS, "corpus.s" -> c.wallS))

  /** Discovery keeps getting faster over its first operations while the
    * JIT compiles Spark's planner (the corpus half hardly moves), so it
    * gets a second warm-up operation of its own.
    */
  override def warmUps: Int = 2
  override def warmUp(i: Int): Sample =
    if (i == 0) both(discovery.warmUp(0), corpus.warmUp(0)) else discovery.warmUp(i)
  def op(i: Int, t: Option[Tracer]): Sample = both(discovery.op(i, t), corpus.op(i, t))

  def endToEnd(samples: Seq[Sample], triggers: Seq[Trigger]): EndToEnd = {
    def part(key: String) = samples.map(s => s.copy(wallS = s.values(key)))
    val d = discovery.endToEnd(part("discovery.s"), triggers)
    val c = corpus.endToEnd(part("corpus.s"), triggers)
    EndToEnd(c.itemsPerS, d.latencyP50S, d.latencySamples, (d.quality + c.quality) / 2,
      d.named ++ c.named :+ (("discovery_latency_p50_s", d.latencyP50S, "s")))
  }
}

/** Exact top-k on the driver: the reference the engine's outputs are
  * checked against. Distance and tie order follow the engine's contract:
  * squared L2 accumulated in double, ties broken by ascending id.
  */
object BruteForce {
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  def topK(q: Array[Float], ids: Array[Long], vecs: Array[Array[Float]], k: Int,
      exclude: Long = Long.MinValue): Array[(Long, Double)] = {
    val heap = new java.util.PriorityQueue[(Long, Double)](k + 1,
      (a: (Long, Double), b: (Long, Double)) => {
        val c = java.lang.Double.compare(b._2, a._2)
        if (c != 0) c else java.lang.Long.compare(b._1, a._1)
      })
    var i = 0
    while (i < ids.length) {
      if (ids(i) != exclude) {
        val d = l2sq(q, vecs(i))
        if (heap.size < k) heap.add((ids(i), d))
        else {
          val top = heap.peek()
          if (d < top._2 || (d == top._2 && ids(i) < top._1)) { heap.poll(); heap.add((ids(i), d)) }
        }
      }
      i += 1
    }
    heap.toArray(new Array[(Long, Double)](0))
      .sortWith((a, b) => a._2 < b._2 || (a._2 == b._2 && a._1 < b._1))
  }

  /** `topK` for every query, spread over the common fork-join pool. */
  def allTopK(qs: Gen.Vectors, base: Gen.Vectors, k: Int): Map[Long, Array[Long]] = {
    val out = new Array[Array[Long]](qs.ids.length)
    java.util.stream.IntStream.range(0, qs.ids.length).parallel().forEach { i =>
      out(i) = topK(qs.vecs(i), base.ids, base.vecs, k).map(_._1)
    }
    qs.ids.indices.map(i => qs.ids(i) -> out(i)).toMap
  }

  /** Share of true top-k neighbors returned, over all queries. */
  def recall(got: Map[Long, Seq[Long]], truth: Map[Long, Array[Long]]): Double = {
    val hits = truth.iterator.map { case (q, want) =>
      got.getOrElse(q, Nil).toSet.intersect(want.toSet).size
    }.sum
    hits.toDouble / truth.values.map(_.length).sum
  }
}

/** Shape checks shared by every kNN output: (query_id, neighbor_id, dist,
  * rank) rows, exactly k per query, ranks 1..k, ascending distances that
  * equal the true distance of the pair.
  */
object KnnChecks {
  def rows(rs: Array[Row]): Map[Long, Seq[(Long, Double, Int)]] =
    rs.toSeq.map(r => (r.getAs[Long]("query_id"),
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("dist"), r.getAs[Int]("rank"))))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).sortBy(_._3) }

  def wellFormed(c: Checks, engine: String, got: Map[Long, Seq[(Long, Double, Int)]],
      queries: Map[Long, Array[Float]], vecs: Map[Long, Array[Float]], k: Int): Unit = {
    c.equal(got.keySet, queries.keySet, s"$engine: answered query ids")
    got.foreach { case (q, ns) =>
      c(ns.map(_._3) == (1 to k), s"$engine: query $q ranks ${ns.map(_._3)}")
      c(ns.map(_._1).distinct.size == ns.size, s"$engine: query $q repeats a neighbor")
      c(ns.map(_._2).sliding(2).forall(p => p.size < 2 || p(0) <= p(1)),
        s"$engine: query $q distances not ascending")
      ns.foreach { case (n, d, _) =>
        val v = vecs.get(n)
        c(v.isDefined, s"$engine: query $q returned unknown id $n")
        v.foreach(x => c(math.abs(BruteForce.l2sq(queries(q), x) - d) <= 1e-5,
          s"$engine: query $q neighbor $n distance $d is not the pair's distance"))
      }
    }
  }
}

// ------------------------------------------------------------------ lake

/** Join discovery over a seeded lake: profile → annotate (rule) → prompt
  * → embed (hash) → exact kNN → threshold → P/R/F1/NDCG over the
  * reference grid, composed from the engine's public stage functions the
  * way `SemLink.discoverSemantic` composes them, scored by
  * `SemLinkGrid.evaluationGridFromCatalog`.
  */
final class LakeDiscovery(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  import graft.annotate.RuleAnnotator
  import graft.embed.HashEmbedder
  import graft.functions.TextFns
  import graft.pipeline.{SemLink, SemLinkGrid}
  import graft.profile.Profiler

  private val (nTables, nCols, nRows) = (4, 15, 600)
  private val ks = Seq(5, 10, 25)
  private val thresholds = Seq(0.1, 0.2, 0.3, 0.4)
  def sizes = Seq("tables" -> nTables.toLong, "columns" -> (nTables * nCols).toLong,
    "rows_per_table" -> nRows.toLong)

  private var dir: Path = _
  private var tables: Seq[String] = Nil
  private var nTruth = 0L
  private var expected: Map[(Int, Double), (Long, Long, Long)] = Map.empty

  def fingerprint(s: Long): Int = Gen.lake(s, nTables, nCols, nRows).fingerprint

  def setup(d: Path): Int = {
    dir = d
    val lake = Gen.lake(seed, nTables, nCols, nRows)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(lake.tables) { case (t, cols) =>
      Future {
        val schema = StructType(cols.map(c => StructField(c.name, StringType)))
        writeParquet((0 until lake.rows).map(i => Row.fromSeq(cols.map(_.values(i)))),
          schema, d.resolve("lake").resolve(s"$t.parquet"))
      }
    }, 10.minutes)
    finally pool.shutdown()
    writeParquet(lake.truth.map { case (a, b, c, e) => Row(a, b, c, e) },
      StructType(Seq("query_table", "query_column", "candidate_table", "candidate_column")
        .map(StructField(_, StringType))), d.resolve("truth.parquet"))
    tables = lake.tables.map(_._1)
    nTruth = 2L * lake.truth.size
    lake.fingerprint
  }

  private def lakeDir = dir.resolve("lake").toString

  private def truthKeys: DataFrame = spark.read.parquet(dir.resolve("truth.parquet").toString)
    .select(TextFns.columnKey(col("query_table"), col("query_column")).as("q"),
      TextFns.columnKey(col("candidate_table"), col("candidate_column")).as("c"))

  /** The expected (tp, fp, fn) of every grid cell, from a driver-side
    * exact kNN over the embedded catalog and the planted pairs.
    */
  private def reference(catalog: DataFrame): Map[(Int, Double), (Long, Long, Long)] = {
    val rows = catalog.select(xxhash64(col("key")).as("id"), col("vec").cast("array<float>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val ids = rows.map(_._1)
    val vecs = rows.map(_._2)
    val truth = truthKeys.select(xxhash64(col("q")), xxhash64(col("c"))).collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))).toSet
    require(truth.size == nTruth, s"planted pairs: ${truth.size} keyed, $nTruth generated")
    val knn = rows.map { case (id, v) => id -> BruteForce.topK(v, ids, vecs, ks.max, id) }
    (for (k <- ks; t <- thresholds) yield {
      val found = knn.flatMap { case (q, ns) =>
        ns.take(k).filter(n => math.sqrt(n._2) <= t).map(n => (q, n._1))
      }.toSet
      val tp = found.count(truth).toLong
      (k, t) -> (tp, found.size - tp, truth.size - tp)
    }).toMap
  }

  /** The first warm-up materializes the catalog once to derive the
    * check reference from it, then scores the grid against that reference.
    */
  override def warmUp(i: Int): Sample = run(None, withReference = i == 0)

  def op(i: Int, t: Option[Tracer]): Sample = run(t, withReference = false)

  private def run(t: Option[Tracer], withReference: Boolean): Sample = {
    val (grid, secs) = Runner.timed {
      val traced = t.isDefined
      def step(span: String)(df: => DataFrame): DataFrame =
        if (traced) stage(t, span)(materialize(df)) else df
      if (traced) stage(t, "sources.tables") {
        graft.sources.Lake.tables(spark, lakeDir, tables).foreach { case (_, df) => noop(df) }
      }
      val profiles = step("profile.profileLake") {
        t.foreach(_.count("cells", nTables.toDouble * nCols * nRows))
        Profiler.profileLake(spark, lakeDir, tables).localCheckpoint(eager = false)
      }
      val annotations = step("annotate.annotate")(RuleAnnotator.annotate(profiles))
      val prompts = step("functions.columnPrompts")(SemLink.columnPrompts(profiles, annotations))
      val embedded = step("embed.embedColumn")(
        prompts.withColumn("vec", HashEmbedder().embedColumn(col("text"))))
      val catalog = if (!withReference) embedded else {
        val m = materialize(embedded)
        expected = reference(m)
        m
      }
      stage(t, "discover.evalGrid") {
        SemLinkGrid.evaluationGridFromCatalog(catalog, truthKeys, ks, thresholds).collect()
      }
    }
    val c = new Checks
    c.equal(grid.length, ks.size * thresholds.size, "grid cells")
    var best = 0.0
    grid.foreach { r =>
      val k = r.getAs[Int]("k")
      val th = r.getAs[Double]("threshold")
      val (tp, fp, fn) = (r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"))
      c.equal((tp, fp, fn), expected.getOrElse((k, th), (-1L, -1L, -1L)), s"cell k=$k t=$th (tp,fp,fn)")
      c.equal(r.getAs[String]("engine"), "exact", s"cell k=$k t=$th engine")
      val eps = 1e-9
      val p = tp / (tp + fp + eps)
      val rc = tp / (tp + fn + eps)
      val f1 = 2 * p * rc / (p + rc + eps)
      c(math.abs(r.getAs[Double]("f1") - f1) <= 1e-4, s"cell k=$k t=$th f1 ${r.getAs[Double]("f1")} vs $f1")
      val ndcg = r.getAs[Double]("ndcg")
      c(ndcg >= 0 && ndcg <= 1, s"cell k=$k t=$th ndcg $ndcg")
      best = math.max(best, r.getAs[Double]("f1"))
    }
    c(best > 0.3, s"best F1 $best is below the planted-lake floor 0.3")
    c.verify()
    Sample(secs, Map("columns" -> (nTables * nCols).toDouble, "f1" -> best))
  }

  def endToEnd(samples: Seq[Sample], triggers: Seq[Trigger]): EndToEnd = {
    val rate = Stats.median(samples.map(s => s.values("columns") / s.wallS))
    val f1 = Stats.median(samples.map(_.values("f1")))
    EndToEnd(rate, Stats.median(samples.map(_.wallS)), samples.size, f1,
      Seq(("columns_per_s", rate, "columns/s"), ("discovery_f1", f1, "ratio")))
  }
}

// ------------------------------------------------------------------ ann

/** ANN writes beside reads on the persistent index families. Each
  * operation starts from empty index directories: IVF and HNSW builds
  * from the base slice, the staged micro-batch through
  * `Streams.annIngestWatermarked` and `Streams.hnswIngestWatermarked`
  * (each batch probes, then appends), then one fixed query batch through
  * exact `ApproxKnn.blockKnn` (over the base catalog), `IvfIndex.search`
  * and `HnswIndex.search` (over the ingested indexes).
  */
final class AnnServeIngest(spark: SparkSession, seed: Long, work: Path)
    extends Workload(spark, seed) {
  import graft.knn.{ApproxKnn, HnswIndex, IvfIndex}
  import graft.streaming.{IngestWatermark, Streams}

  private val (nBase, nBatches, batchRows, nQueries, dim, k) = (4000, 1, 600, 300, 64, 10)
  def sizes = Seq("base_vectors" -> nBase.toLong, "batches" -> nBatches.toLong,
    "batch_rows" -> batchRows.toLong, "queries" -> nQueries.toLong, "dim" -> dim.toLong,
    "k" -> k.toLong)

  private val batchSchema = StructType(Seq(StructField("id", LongType),
    StructField("vec", ArrayType(FloatType, containsNull = false)), StructField("ts", LongType)))

  /** Staged inputs with their check references: exact top-k over the
    * base catalog and over the committed end state (base ∪ admitted).
    */
  private final class Inputs(val dir: Path, val in: Gen.IngestInput) {
    private val all = Gen.Vectors(in.base.ids ++ in.admitted.map(_.id),
      in.base.vecs ++ in.admitted.map(_.vec))
    val baseTruth: Map[Long, Seq[Long]] =
      BruteForce.allTopK(in.queries, in.base, k).map { case (q, ns) => q -> ns.toSeq }
    val truth: Map[Long, Array[Long]] = BruteForce.allTopK(in.queries, all, k)
    val baseVecs: Map[Long, Array[Float]] = in.base.ids.zip(in.base.vecs).toMap
    val committedVecs: Map[Long, Array[Float]] = all.ids.zip(all.vecs).toMap
  }

  private var main: Inputs = _

  def fingerprint(s: Long): Int = Gen.ingest(s, nBase, nBatches, batchRows, nQueries, dim).fingerprint

  private def stageInputs(d: Path, in: Gen.IngestInput): Inputs = {
    val vecSchema = StructType(batchSchema.fields.take(2))
    def rows(v: Gen.Vectors) = v.ids.indices.map(i => Row(v.ids(i), v.vecs(i).toSeq))
    writeParquet(rows(in.base), vecSchema, d.resolve("base.parquet"))
    writeParquet(rows(in.queries), vecSchema, d.resolve("queries.parquet"))
    in.batches.zipWithIndex.foreach { case (b, i) =>
      val df = spark.createDataFrame(java.util.Arrays.asList(
        b.map(r => Row(r.id, r.vec.toSeq, r.ts.map(Long.box).orNull)): _*), batchSchema)
      Streams.stageBatch(df, d.resolve("batches").toString, f"batch_$i%03d.parquet",
        1000000000000L + i * 1000L)
    }
    new Inputs(d, in)
  }

  def setup(d: Path): Int = {
    main = stageInputs(d, Gen.ingest(seed, nBase, nBatches, batchRows, nQueries, dim))
    main.in.fingerprint
  }

  /** The warm-up runs every code path of an operation on a small input of
    * the same shape: the cold cost is compilation, not data.
    */
  override def warmUp(i: Int): Sample =
    run(stageInputs(main.dir.resolveSibling("warm-input"),
      Gen.ingest(seed, nBase / 10, nBatches, batchRows / 10, nQueries / 10, dim)), None)

  def op(i: Int, t: Option[Tracer]): Sample = run(main, t)

  private def run(inputs: Inputs, t: Option[Tracer]): Sample = {
    import inputs.{dir, in}
    val opDir = work.resolve("ann-op")
    deleteTree(opDir)
    val ivf = opDir.resolve("ivf").toString
    val hnsw = opDir.resolve("hnsw").toString
    val ivfOut = opDir.resolve("out-ivf").toString
    val hnswOut = opDir.resolve("out-hnsw").toString
    val base = spark.read.parquet(dir.resolve("base.parquet").toString)
    val batches = dir.resolve("batches").toString
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val windows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def timedAs[A](key: String, span: String)(f: => A): A = {
      val ms0 = System.currentTimeMillis()
      val (a, s) = Runner.timed(stage(t, span)(f))
      timings(key) = s
      if (key.endsWith("ingest")) windows += ((ms0, System.currentTimeMillis()))
      a
    }
    val ((exact, ivfFinal, hnswFinal), secs) = Runner.timed {
      timedAs("ivf.build", "knn.IvfIndex.build")(IvfIndex.build(base, "id", "vec", ivf, nList = 0))
      timedAs("hnsw.build", "knn.HnswIndex.build")(HnswIndex.build(base, "id", "vec", hnsw))
      // the indexes' ingest history: the watermark their earlier batches left
      Seq(ivf, hnsw).foreach(IngestWatermark.write(spark, _, in.startWatermark))
      timedAs("ivf.ingest", "streaming.annIngestWatermarked")(noop(Streams.annIngestWatermarked(
        spark, batches, batchSchema, ivf, ivfOut, "id", "vec", "ts", in.lateness, k = k)))
      timedAs("hnsw.ingest", "streaming.hnswIngestWatermarked")(noop(Streams.hnswIngestWatermarked(
        spark, batches, batchSchema, hnsw, hnswOut, "id", "vec", "ts", in.lateness, k = k)))
      val queries = spark.read.parquet(dir.resolve("queries.parquet").toString)
      val exact = timedAs("exact.search", "knn.blockKnn") {
        t.foreach(_.count("distance_evals", in.queries.ids.length.toDouble * in.base.ids.length))
        ApproxKnn.blockKnn(queries, base, "id", "vec", k, excludeSelf = false).collect()
      }
      val ivfFinal = timedAs("ivf.search", "knn.IvfIndex.search")(
        IvfIndex.search(spark, ivf, queries, "id", "vec", k, excludeSelf = false).collect())
      val hnswFinal = timedAs("hnsw.search", "knn.HnswIndex.search")(
        HnswIndex.search(spark, hnsw, queries, "id", "vec", k, excludeSelf = false).collect())
      (exact, ivfFinal, hnswFinal)
    }
    val c = new Checks
    val admitted = in.admittedIds
    val want = in.base.ids.toSet ++ admitted
    def ids(df: DataFrame) = df.select(col("id").cast("long")).collect().map(_.getLong(0))
    Seq("ivf" -> ids(spark.read.parquet(s"$ivf/assignments")),
        "hnsw" -> ids(graft.BenchAccess.hnswIds(spark, hnsw))).foreach { case (e, got) =>
      c.equal(got.length, got.distinct.length, s"$e: committed ids are unique")
      c(got.toSet == want, s"$e: committed ids differ from base ∪ admitted " +
        s"(${got.toSet.diff(want).size} extra, ${want.diff(got.toSet).size} missing)")
    }
    Seq("ivf" -> ivfOut, "hnsw" -> hnswOut).foreach { case (e, out) =>
      val late = Streams.lateRows(spark, out).fold(Set.empty[Long])(df => ids(df).toSet)
      c.equal(late, in.late, s"$e: audited late ids")
      val probed = spark.read.parquet(s"$out/search").select("query_id").distinct()
        .collect().map(_.getLong(0)).toSet
      c(probed.subsetOf(admitted) && probed.size >= admitted.size * 9 / 10,
        s"$e: ingest probes answered ${probed.size} of ${admitted.size} admitted rows")
    }
    val qv = in.queries.ids.zip(in.queries.vecs).toMap
    val exactGot = KnnChecks.rows(exact)
    KnnChecks.wellFormed(c, "exact", exactGot, qv, inputs.baseVecs, k)
    exactGot.foreach { case (q, ns) =>
      c.equal(ns.map(_._1), inputs.baseTruth(q), s"exact: query $q neighbors")
    }
    val recalls = Seq("ivf" -> ivfFinal, "hnsw" -> hnswFinal).map { case (e, rs) =>
      val got = KnnChecks.rows(rs)
      KnnChecks.wellFormed(c, e, got, qv, inputs.committedVecs, k)
      val r = BruteForce.recall(got.map { case (q, ns) => q -> ns.map(_._1) }, inputs.truth)
      c(r > 0.2, s"$e: recall@$k $r below the sanity floor 0.2")
      e -> r
    }.toMap
    val bytes = treeBytes(Paths.get(ivf)) + treeBytes(Paths.get(hnsw))
    c.verify()
    Sample(secs, timings.toMap ++ Map(
      "admitted" -> admitted.size.toDouble,
      "ivf.recall" -> recalls("ivf"), "hnsw.recall" -> recalls("hnsw"),
      "bytes_per_vector" -> bytes.toDouble / want.size), windows.toSeq)
  }

  def endToEnd(samples: Seq[Sample], triggers: Seq[Trigger]): EndToEnd = {
    def med(f: Sample => Double) = Stats.median(samples.map(f))
    val engines = Seq("exact", "ivf", "hnsw")
    val qps = engines.map(e => e -> med(nQueries / _.values(s"$e.search"))).toMap
    // vectors through the whole cycle: both builds, both ingests, three searches
    val cycle = med(s => (2.0 * nBase + 2.0 * nBatches * batchRows + engines.size * nQueries) / s.wallS)
    val build = med(s => 2.0 * nBase / (s.values("ivf.build") + s.values("hnsw.build")))
    val ingest = med(s => 2.0 * s.values("admitted") / (s.values("ivf.ingest") + s.values("hnsw.ingest")))
    val batchTimes = triggers.filter(tr => tr.inputRows > 0 &&
      samples.exists(_.windows.exists { case (a, b) => tr.startMs >= a && tr.startMs <= b }))
      .map(_.ms("triggerExecution") / 1e3)
    val commitP50 = Stats.median(batchTimes)
    val ivfR = med(_.values("ivf.recall"))
    val hnswR = med(_.values("hnsw.recall"))
    EndToEnd(cycle, commitP50, batchTimes.size, (ivfR + hnswR) / 2,
      Seq(("exact_qps", qps("exact"), "queries/s"), ("ivf_qps", qps("ivf"), "queries/s"),
        ("hnsw_qps", qps("hnsw"), "queries/s"),
        ("ivf_recall_at_10", ivfR, "ratio"), ("hnsw_recall_at_10", hnswR, "ratio"),
        ("build_vectors_per_s", build, "vectors/s"), ("ingest_rows_per_s", ingest, "rows/s"),
        ("batch_commit_p50_s", commitP50, "s"), ("batch_commit_samples", batchTimes.size.toDouble, "count"),
        ("index_bytes_per_vector", med(_.values("bytes_per_vector")), "B/vector")))
  }
}

// ------------------------------------------------------------------ corpus

/** Corpus preparation: clean, MinHash LSH, components, split and pack.
  * The untraced operation is one `CorpusPrep.prepare` call; the traced
  * one runs the same stages through their public functions, in
  * `prepare`'s order and with its default configuration.
  */
final class CorpusPrepWorkload(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  import graft.dedup.Dedup
  import graft.text.{Analysis, CorpusPrep, CorpusPrepConfig, Packing}

  private val (nDocs, words) = (1500, 100)
  def sizes = Seq("documents" -> nDocs.toLong, "words_per_document" -> words.toLong)

  private var dir: Path = _
  private var in: Gen.CorpusInput = _

  def fingerprint(s: Long): Int = Gen.corpus(s, nDocs, words).fingerprint

  def setup(d: Path): Int = {
    dir = d
    in = Gen.corpus(seed, nDocs, words)
    writeParquet(in.docs.map(doc => Row(doc.id, doc.text)),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))),
      d.resolve("docs.parquet"))
    in.fingerprint
  }

  /** `CorpusPrep.prepare` (minhash strategy, no embeddings, benchmark or
    * DSIR gate) split at its public stage functions.
    */
  private def tracedPrepare(docs: DataFrame, t: Tracer): DataFrame = {
    val cfg = CorpusPrepConfig()
    def step(span: String)(df: => DataFrame): DataFrame = t.span(span)(materialize(df))
    val cleaned = step("text.cleanCorpus")(
      Analysis.cleanCorpus(docs, "id", "text", cfg.minTokens, cfg.maxPunctRatio, cfg.lang))
    val pairs = t.span("dedup.minHashLshCandidates") {
      val cands = materialize(Dedup.minHashLshCandidates(cleaned, "id", "clean_text"))
      val kept = materialize(cands.filter(col("est_jaccard") >= cfg.lexicalThreshold)
        .select("id_a", "id_b"))
      val (nc, nk) = (cands.collect().length, kept.collect().length)
      t.count("candidate_pairs", nc)
      t.count("kept_ratio", if (nc == 0) 1.0 else nk.toDouble / nc)
      kept
    }
    val comp = step("dedup.nearDupComponents")(Dedup.nearDupComponents(pairs))
    t.span("text.packGreedy") {
      val labeled = materialize(cleaned
        .join(comp.filter(col("id") =!= col("component")).select("id"), Seq("id"), "left_anti")
        .join(comp, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"), col("clean_text"))
        .withColumn("is_test", Dedup.splitIsTest(col("component"), cfg.testFrac))
        .withColumn("size", graft.functions.TextFns.tokenCount(col("clean_text")))
        .withColumn("split", when(col("is_test"), lit("test")).otherwise(lit("train"))))
      val packed = materialize(Packing.packGreedy(
          labeled.withColumn("__pack_grp", concat_ws("#", col("split"),
            pmod(xxhash64(col("id")), lit(cfg.packShards.toLong)))),
          "id", "size", "__pack_grp", cfg.packBudget)
        .withColumn("seq_id", col("seq_id") * cfg.packShards +
          element_at(split(col("group"), "#"), 2).cast("long")))
      labeled.join(packed.select(col("id"), col("seq_id")), "id")
        .select("id", "component", "is_test", "size", "seq_id")
    }
  }

  def op(i: Int, t: Option[Tracer]): Sample = {
    val (out, secs) = Runner.timed {
      val docs = spark.read.parquet(dir.resolve("docs.parquet").toString)
      t.fold(CorpusPrep.prepare(docs, "id", "text"))(tracedPrepare(docs, _)).collect()
    }
    val c = new Checks
    val survivors = out.map(_.getAs[Long]("id"))
    val kept = survivors.toSet
    c.equal(survivors.length, kept.size, "survivor ids are unique")
    val byClass = in.docs.groupBy(_.cls)
    import Gen.DocClass._
    c(byClass.getOrElse(Unique, Nil).forall(d => kept(d.id)), "a unique English document was dropped")
    c(byClass.getOrElse(NonEnglish, Nil).forall(d => !kept(d.id)), "a non-English document survived")
    c(byClass.getOrElse(LowQuality, Nil).forall(d => !kept(d.id)), "a low-quality document survived")
    in.exactGroups.foreach { case (g, ids) =>
      c(ids.count(kept) <= 1, s"exact-copy group $g kept ${ids.count(kept)} survivors")
    }
    val groups = in.exactGroups.values ++ in.nearGroups.values
    groups.foreach(ids => c(ids.exists(kept), s"duplicate group ${ids.mkString(",")} lost every member"))
    c(kept.subsetOf(in.docs.map(_.id).toSet), "unknown survivor id")
    val budget = CorpusPrepConfig().packBudget
    out.groupBy(r => (r.getAs[Boolean]("is_test"), r.getAs[Long]("seq_id"))).foreach { case (key, rs) =>
      val total = rs.map(_.getAs[Long]("size")).sum
      c(rs.length == 1 || total <= budget, s"packed sequence $key holds $total tokens")
    }
    c.verify()
    val oneSurvivor = groups.count(ids => ids.count(kept) == 1)
    Sample(secs, Map("docs" -> nDocs.toDouble, "dedup_recall" -> oneSurvivor.toDouble / groups.size))
  }

  def endToEnd(samples: Seq[Sample], triggers: Seq[Trigger]): EndToEnd = {
    val rate = Stats.median(samples.map(s => s.values("docs") / s.wallS))
    val recall = Stats.median(samples.map(_.values("dedup_recall")))
    EndToEnd(rate, Stats.median(samples.map(_.wallS)), samples.size, recall,
      Seq(("docs_per_s", rate, "docs/s"), ("dedup_recall", recall, "ratio")))
  }
}
