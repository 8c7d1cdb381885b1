package perfbench

import java.util.SplittableRandom

import scala.util.hashing.MurmurHash3

/** Seeded input generators for the four workloads. Every generator is
  * pure driver-side Scala over a `SplittableRandom(seed)`, so the same
  * seed yields byte-identical content on every JVM, and each input
  * carries a content `fingerprint` the run uses for its determinism
  * self-check. The planted truth (joinable pairs, duplicate groups, late
  * and already-committed ids) is decided here, before the engine sees
  * any data.
  */
object Gen {

  /** Order-sensitive content hash over a stream of rendered values. */
  final class Fingerprint {
    private var h = 0x5eed
    private var n = 0
    def add(s: String): Unit = { h = MurmurHash3.mix(h, MurmurHash3.stringHash(s)); n += 1 }
    def add(v: Long): Unit = add(java.lang.Long.toString(v))
    def add(v: Array[Float]): Unit = {
      h = MurmurHash3.mix(h, MurmurHash3.arrayHash(v.map(java.lang.Float.floatToIntBits)))
      n += 1
    }
    def value: Int = MurmurHash3.finalizeHash(h, n)
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def drawZipf(r: SplittableRandom, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private def word(r: SplittableRandom, minLen: Int, maxLen: Int): String = {
    val len = minLen + r.nextInt(maxLen - minLen + 1)
    val sb = new StringBuilder
    var i = 0
    while (i < len) { sb += ('a' + r.nextInt(26)).toChar; i += 1 }
    sb.result()
  }

  // ------------------------------------------------------------ lake

  /** One lake column. `family` >= 0 marks a planted joinable family;
    * every pair of columns sharing a family is a true join pair.
    */
  final case class LakeColumn(table: String, name: String, family: Int,
      values: Array[String])

  final case class LakeInput(tables: Seq[(String, Seq[LakeColumn])],
      truth: Seq[(String, String, String, String)], rows: Int,
      fingerprint: Int) {
    def columns: Int = tables.map(_._2.size).sum
  }

  private val baseNames = Seq(
    "customer_id", "order_date", "product_code", "country_name", "city",
    "email_domain", "unit_price", "supplier_id", "category", "status",
    "warehouse_code", "ship_mode", "invoice_number", "currency", "region",
    "account_type", "employee_id", "department", "brand", "sku_group",
    "payment_method", "postal_code", "store_id", "channel", "discount_rate",
    "carrier", "priority", "segment", "language", "device_type")

  /** Renamed or corrupted spellings of a family's header. */
  private def headerVariant(r: SplittableRandom, base: String): String = {
    val parts = base.split("_")
    r.nextInt(6) match {
      case 0 => base
      case 1 => parts.head + parts.tail.map(_.capitalize).mkString
      case 2 => parts.map(p => p.take(4)).mkString("_")
      case 3 => s"${('a' + r.nextInt(26)).toChar}_$base"
      case 4 => base + "_ref"
      case _ => // one dropped letter plus a numeric suffix
        val i = r.nextInt(base.length)
        base.substring(0, i) + base.substring(i + 1) + r.nextInt(10)
    }
  }

  /** A value domain: a Zipf draw over `size` distinct rendered values. */
  private final case class Domain(render: Int => String, cdf: Array[Double])

  /** Every column's domain is lexically its own: 20–29 short phrases over
    * a private vocabulary, skewed. A column samples nearly all of its
    * domain, so family members share their value sample and most
    * frequent values, and the values outweigh the headers and the prompt
    * boilerplate in a column's embedding; columns of different domains
    * share no value text.
    */
  private def domain(r: SplittableRandom): Domain = {
    val size = 20 + r.nextInt(10)
    val vocab = Array.fill(24)(word(r, 4, 9))
    val phrases = Array.fill(size)(
      Array.fill(2 + r.nextInt(2))(vocab(r.nextInt(vocab.length))).mkString(" "))
    Domain(phrases(_), zipfCdf(size, 1.0 + r.nextDouble() * 0.5))
  }

  private def fillColumn(r: SplittableRandom, d: Domain, rows: Int): Array[String] = {
    val nullRate = if (r.nextInt(4) == 0) r.nextDouble() * 0.1 else 0.0
    Array.fill(rows) {
      if (nullRate > 0 && r.nextDouble() < nullRate) null
      else d.render(drawZipf(r, d.cdf))
    }
  }

  /** A lake of `nTables` × `nCols` × `rows`. Families of 2–5 columns share
    * one value domain across distinct tables under renamed or corrupted
    * headers; the remaining slots hold unrelated singleton columns.
    */
  def lake(seed: Long, nTables: Int, nCols: Int, rows: Int): LakeInput = {
    val r = new SplittableRandom(seed)
    val tableNames = (0 until nTables).map(t => f"t$t%02d")
    val slots = Array.fill(nTables)(scala.collection.mutable.ArrayBuffer.empty[LakeColumn])
    val planted = (nTables * nCols * 2) / 3
    var family = 0
    var used = 0
    while (used + 2 <= planted) {
      val members = math.min(2 + r.nextInt(4), planted - used)
      val base = baseNames(family % baseNames.size) +
        (if (family >= baseNames.size) s"_${family / baseNames.size}" else "")
      val d = domain(r)
      // distinct tables with free slots, seeded order
      val open = new scala.util.Random(r.nextLong())
        .shuffle(tableNames.indices.filter(slots(_).size < nCols).toVector)
        .take(members)
      if (open.size < 2) used = planted
      else {
        open.foreach { t =>
          val names = slots(t).map(_.name).toSet
          var h = headerVariant(r, base)
          while (names(h)) h = h + "x"
          slots(t) += LakeColumn(tableNames(t), h, family, fillColumn(r, d, rows))
        }
        used += open.size
        family += 1
      }
    }
    var single = 0
    tableNames.indices.foreach { t =>
      while (slots(t).size < nCols) {
        val d = domain(r)
        slots(t) += LakeColumn(tableNames(t), s"attr_${word(r, 3, 6)}_$single",
          -1, fillColumn(r, d, rows))
        single += 1
      }
    }
    val tables = tableNames.indices.map(t => tableNames(t) -> slots(t).toSeq)
    val cols = tables.flatMap(_._2)
    val truth = for {
      (a, i) <- cols.zipWithIndex
      b <- cols.drop(i + 1)
      if a.family >= 0 && a.family == b.family
    } yield (a.table, a.name, b.table, b.name)
    val fp = new Fingerprint
    cols.foreach { c =>
      fp.add(c.table); fp.add(c.name)
      c.values.foreach(v => fp.add(if (v == null) "\u0000null" else v))
    }
    LakeInput(tables, truth, rows, fp.value)
  }

  // ------------------------------------------------------------ vectors

  /** `MakeScale`'s "mixed" shape: the first half of the rows jitter
    * around seeded cluster centers, the second half is structureless
    * (uniform components). Vectors are L2-normalized.
    */
  final class VectorSpace(seed: Long, val dim: Int, clusters: Int) {
    private val centers = {
      val r = new SplittableRandom(seed ^ 0x9e3779b97f4a7c15L)
      Array.fill(clusters)(normalize(Array.fill(dim)(r.nextGaussian().toFloat)))
    }
    def draw(r: SplittableRandom, clustered: Boolean): Array[Float] =
      if (clustered) {
        val c = centers(r.nextInt(clusters))
        normalize(Array.tabulate(dim)(i => c(i) + 0.15f * r.nextGaussian().toFloat))
      } else normalize(Array.fill(dim)((r.nextDouble() * 2 - 1).toFloat))
  }

  def normalize(v: Array[Float]): Array[Float] = {
    var ss = 0.0
    v.foreach(x => ss += x.toDouble * x)
    val inv = (1.0 / math.sqrt(ss)).toFloat
    v.map(_ * inv)
  }

  final case class Vectors(ids: Array[Long], vecs: Array[Array[Float]])

  private def mixed(r: SplittableRandom, space: VectorSpace, n: Int,
      firstId: Long): Vectors =
    Vectors(Array.tabulate(n)(i => firstId + i),
      Array.tabulate(n)(i => space.draw(r, clustered = i < n / 2)))

  final case class ServeInput(catalog: Vectors, queries: Vectors,
      fingerprint: Int)

  /** A catalog of `n` mixed-shape vectors and `nQueries` held-out queries
    * from the same distribution (ids disjoint from the catalog's).
    */
  def serve(seed: Long, n: Int, nQueries: Int, dim: Int): ServeInput = {
    val r = new SplittableRandom(seed)
    val space = new VectorSpace(r.nextLong(), dim, 64)
    val catalog = mixed(r, space, n, 1L)
    val qs = mixed(r, space, nQueries, 1000000000L)
    // interleave shapes in the query set so every batch sees both
    val order = (0 until nQueries).sortBy(i => (i % (nQueries / 2), i))
    val queries = Vectors(order.map(qs.ids(_)).toArray, order.map(qs.vecs(_)).toArray)
    val fp = new Fingerprint
    Seq(catalog, queries).foreach { v =>
      v.ids.foreach(fp.add(_)); v.vecs.foreach(fp.add(_))
    }
    ServeInput(catalog, queries, fp.value)
  }

  /** One staged micro-batch row; `ts = None` is a null event time. */
  final case class IngestRow(id: Long, vec: Array[Float], ts: Option[Long])

  /** Base slice, micro-batches and the planted outcome of the lateness
    * gate: which rows are admitted, which are audited late, and which are
    * dropped as already committed. `startWatermark` is the event-time
    * watermark the index carries from its earlier ingest history when
    * the first batch arrives.
    */
  final case class IngestInput(base: Vectors, batches: Seq[Seq[IngestRow]],
      lateness: Long, startWatermark: Long, queries: Vectors, admitted: Seq[IngestRow],
      late: Set[Long], committedDup: Set[Long], fingerprint: Int) {
    def admittedIds: Set[Long] = admitted.map(_.id).toSet
  }

  /** Each batch carries on-time fresh rows, a share of late rows (event
    * time behind the watermark the index holds when the batch starts), a
    * few null event times, and a share of ids that are already committed
    * (base rows, or rows an earlier batch admitted).
    */
  def ingest(seed: Long, nBase: Int, nBatches: Int, batchRows: Int,
      nQueries: Int, dim: Int): IngestInput = {
    val r = new SplittableRandom(seed)
    val space = new VectorSpace(r.nextLong(), dim, 64)
    val base = mixed(r, space, nBase, 1L)
    val lateness = 100L
    var nextId = 10000000L
    val admitted = scala.collection.mutable.LinkedHashMap.empty[Long, IngestRow]
    val late = scala.collection.mutable.LinkedHashSet.empty[Long]
    val dups = scala.collection.mutable.LinkedHashSet.empty[Long]
    val startWm = 1000L
    var wm = startWm
    val batches = (0 until nBatches).map { b =>
      val t0 = 1000L * (b + 1)
      val rows = (0 until batchRows).map { i =>
        val u = r.nextDouble()
        val vec = space.draw(r, clustered = r.nextBoolean())
        if (i == 0) { // the batch's max event time, always on time
          nextId += 1; IngestRow(nextId, vec, Some(t0 + 999))
        } else if (u < 0.08) { // re-delivery of a committed id
          val pool = if (admitted.nonEmpty && r.nextBoolean()) admitted.keys.toIndexedSeq
            else base.ids.toIndexedSeq
          IngestRow(pool(r.nextInt(pool.size)), vec, Some(t0 + r.nextInt(900)))
        } else if (u < 0.09) { // null event time
          nextId += 1; IngestRow(nextId, vec, None)
        } else if (u < 0.19) { // behind the watermark
          nextId += 1; IngestRow(nextId, vec, Some(t0 - 1000 + r.nextInt(800)))
        } else {
          nextId += 1; IngestRow(nextId, vec, Some(t0 + r.nextInt(999)))
        }
      }
      // classify exactly as the gate will: freshness first (against the
      // state committed before this batch), then event time vs watermark
      val committed = base.ids.toSet ++ admitted.keySet
      rows.foreach { row =>
        if (committed(row.id)) dups += row.id
        else row.ts match {
          case Some(ts) if ts >= wm => admitted(row.id) = row
          case _                    => late += row.id
        }
      }
      wm = math.max(wm, rows.flatMap(_.ts).max - lateness)
      rows
    }
    val queries = mixed(r, space, nQueries, 2000000000L)
    val fp = new Fingerprint
    base.ids.foreach(fp.add(_)); base.vecs.foreach(fp.add(_))
    batches.flatten.foreach { row =>
      fp.add(row.id); fp.add(row.vec); fp.add(row.ts.fold("null")(_.toString))
    }
    queries.vecs.foreach(fp.add(_))
    IngestInput(base, batches, lateness, startWm, queries, admitted.values.toVector, late.toSet,
      dups.toSet, fp.value)
  }

  // ------------------------------------------------------------ corpus

  /** Planted document classes, by what a correct `CorpusPrep.prepare`
    * does to them.
    */
  object DocClass extends Enumeration {
    val Unique, ExactCopy, NearCopy, NonEnglish, LowQuality = Value
  }

  final case class Doc(id: Long, text: String, cls: DocClass.Value, group: Int)

  final case class CorpusInput(docs: Seq[Doc], exactGroups: Map[Int, Seq[Long]],
      nearGroups: Map[Int, Seq[Long]], fingerprint: Int)

  private val en = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
  private val de = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von")

  /** `n` documents of `words` tokens: unique English text (some with PII
    * the clean stage scrubs), exact-copy groups, near-copy groups (one
    * word substituted at the first or last position, so one word
    * 3-shingle of `words - 2` changes: Jaccard ≈ 0.98 at 100 words),
    * German documents and low-quality documents (too short, or mostly
    * punctuation), all under shuffled ids.
    */
  def corpus(seed: Long, n: Int, words: Int): CorpusInput = {
    val r = new SplittableRandom(seed)
    val vocab = Array.fill(4000)(word(r, 3, 9))
    def sentence(stop: Seq[String], len: Int): Array[String] =
      Array.fill(len)(if (r.nextDouble() < 0.3) stop(r.nextInt(stop.size))
        else vocab(r.nextInt(vocab.length)))
    def pii(toks: Array[String]): Array[String] = {
      if (r.nextDouble() < 0.2) {
        val i = r.nextInt(toks.length)
        toks(i) = if (r.nextBoolean()) s"${word(r, 4, 8)}@${word(r, 4, 8)}.com"
          else f"${r.nextInt(900) + 100}-${r.nextInt(900) + 100}-${r.nextInt(9000) + 1000}"
      }
      toks
    }
    val texts = scala.collection.mutable.ArrayBuffer.empty[(String, DocClass.Value, Int)]
    var group = 0
    while (texts.size < n) {
      val u = r.nextDouble()
      if (u < 0.10) { // exact copies: 2–4 identical texts
        val t = pii(sentence(en, words)).mkString(" ")
        (0 until 2 + r.nextInt(3)).foreach(_ => texts += ((t, DocClass.ExactCopy, group)))
        group += 1
      } else if (u < 0.20) { // near copies: one word substituted at an edge
        val toks = sentence(en, words)
        texts += ((toks.mkString(" "), DocClass.NearCopy, group))
        (0 until 1 + r.nextInt(3)).foreach { _ =>
          val c = toks.clone()
          c(if (r.nextBoolean()) 0 else words - 1) = vocab(r.nextInt(vocab.length))
          texts += ((c.mkString(" "), DocClass.NearCopy, group))
        }
        group += 1
      } else if (u < 0.25) {
        texts += ((sentence(de, words).mkString(" "), DocClass.NonEnglish, -1))
      } else if (u < 0.30) {
        val t = if (r.nextBoolean()) sentence(en, 1 + r.nextInt(3)).mkString(" ")
          else sentence(en, words / 4).map(w => s"$w!!!...;;").mkString(" ")
        texts += ((t, DocClass.LowQuality, -1))
      } else texts += ((pii(sentence(en, words)).mkString(" "), DocClass.Unique, -1))
    }
    val ids = new scala.util.Random(r.nextLong())
      .shuffle((1L to texts.size.toLong).toVector)
    val docs = texts.indices.map { i =>
      val (t, c, g) = texts(i); Doc(ids(i), t, c, g)
    }
    def groups(c: DocClass.Value) =
      docs.filter(_.cls == c).groupBy(_.group).map { case (g, ds) => g -> ds.map(_.id) }
    val fp = new Fingerprint
    docs.foreach { d => fp.add(d.id); fp.add(d.text) }
    CorpusInput(docs, groups(DocClass.ExactCopy), groups(DocClass.NearCopy), fp.value)
  }
}
