package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private val knnSchema = StructType(Seq(StructField("query_id", LongType),
    StructField("neighbor_id", LongType), StructField("dist", DoubleType),
    StructField("rank", IntegerType)))

  private def knnRow(q: Long, n: Long, d: Double, r: Int): Row =
    new GenericRowWithSchema(Array[Any](q, n, d, r), knnSchema)

  private val query = Map(100L -> Array(0f, 0f))
  private val corpus = Map(1L -> Array(1f, 0f), 2L -> Array(0f, 2f))

  /** One operation checked the way the workloads check kNN outputs. */
  private def knnOp(rows: Array[Row]): Double = {
    val c = new Checks
    KnnChecks.wellFormed(c, "test", KnnChecks.rows(rows), query, corpus, k = 2)
    c.verify()
    1.0
  }

  test("a correct output passes and the run exits zero") {
    val r = Runner.loop(0, 2, 2)(_ => knnOp(Array(knnRow(100, 1, 1.0, 1), knnRow(100, 2, 4.0, 2))))
    assert((r.attempted, r.failed, r.samples.size) == ((2, 0, 2)))
    assert(Runner.exitCode(r.errors.isEmpty, r.attempted, r.failed) == 0)
  }

  test("a deliberately wrong output counts as a failed operation and exits non-zero") {
    // neighbor 2 is at squared distance 4, not 3
    val r = Runner.loop(0, 2, 2) { i =>
      if (i == 0) knnOp(Array(knnRow(100, 1, 1.0, 1), knnRow(100, 2, 4.0, 2)))
      else knnOp(Array(knnRow(100, 1, 1.0, 1), knnRow(100, 2, 3.0, 2)))
    }
    assert((r.attempted, r.failed, r.samples.size) == ((2, 1, 1)))
    assert(r.errors.size == 1 && r.errors.head.startsWith("check:"))
    assert(Runner.exitCode(r.errors.isEmpty, r.attempted, r.failed) != 0)
  }

  test("a thrown call counts as a failed operation, is not timed, and exits non-zero") {
    val r = Runner.loop(0, 3, 3) { i =>
      if (i == 1) throw new IllegalStateException("boom") else Runner.timed(i)._2
    }
    assert((r.attempted, r.failed, r.samples.size) == ((3, 1, 2)))
    assert(r.errors.size == 1 && r.errors.head.contains("boom"))
    assert(Runner.exitCode(r.errors.isEmpty, r.attempted, r.failed) != 0)
  }

  test("the loop starts no operation that would end past its window") {
    // 0.2 s operations in a 0.5 s window: a third one would end at 0.6 s
    val r = Runner.loop(0.5, 1) { _ => Thread.sleep(200); 1.0 }
    assert(r.attempted >= 1 && r.attempted <= 2)
    assert(Runner.loop(0, 3, 3)(_ => 1.0).attempted == 3)
  }

  test("a failed determinism self-check alone makes the run exit non-zero") {
    assert(Runner.exitCode(correct = false, attempted = 3, failed = 0) != 0)
  }

  test("the result line carries exactly the contract's keys") {
    val line = Runner.resultLine(true, 3, 0, Seq(("setup_s", 1.25, "s")))
    assert(line == """{"correct":true,"attempted":3,"failed":0,""" +
      """"metrics":{"setup_s":{"value":1.25,"unit":"s"}}}""")
  }

  test("the lake generator is deterministic per seed and plants same-family pairs") {
    val a = Gen.lake(7, 4, 6, 50)
    val b = Gen.lake(7, 4, 6, 50)
    assert(a.fingerprint == b.fingerprint)
    assert(a.tables.flatMap(_._2).map(c => (c.name, c.values.toSeq)) ==
      b.tables.flatMap(_._2).map(c => (c.name, c.values.toSeq)))
    assert(Gen.lake(8, 4, 6, 50).fingerprint != a.fingerprint)
    val family = a.tables.flatMap(_._2).map(c => (c.table, c.name) -> c.family).toMap
    assert(a.truth.nonEmpty)
    a.truth.foreach { case (qt, qc, ct, cc) =>
      assert(qt != ct && family((qt, qc)) >= 0 && family((qt, qc)) == family((ct, cc)))
    }
  }

  test("the ingest generator is deterministic and its planted outcome partitions every row") {
    val a = Gen.ingest(3, 200, 3, 400, 10, 8)
    assert(a.fingerprint == Gen.ingest(3, 200, 3, 400, 10, 8).fingerprint)
    assert(a.fingerprint != Gen.ingest(4, 200, 3, 400, 10, 8).fingerprint)
    val rows = a.batches.flatten
    val admitted = a.admittedIds
    assert(admitted.size == a.admitted.size)
    assert(admitted.intersect(a.late).isEmpty)
    assert(rows.map(_.id).toSet == admitted ++ a.late ++ a.committedDup)
    assert(a.late.nonEmpty && a.committedDup.nonEmpty)
    assert(rows.exists(_.ts.isEmpty))
  }

  test("the corpus generator is deterministic and plants every document class") {
    val a = Gen.corpus(5, 400, 60)
    assert(a.fingerprint == Gen.corpus(5, 400, 60).fingerprint)
    assert(a.fingerprint != Gen.corpus(6, 400, 60).fingerprint)
    assert(Gen.DocClass.values.forall(c => a.docs.exists(_.cls == c)))
    assert(a.docs.map(_.id).distinct.size == a.docs.size)
    a.exactGroups.values.foreach { ids =>
      assert(ids.map(id => a.docs.find(_.id == id).get.text).distinct.size == 1)
    }
    (a.exactGroups.values ++ a.nearGroups.values).foreach(ids => assert(ids.size >= 2))
  }

  test("jobs fold into the span open at submission; the driver gap is wall minus busy time") {
    val root = Span(1, "op", 0, "r", 0, 1000, 1.0, Map.empty)
    val leaf = Span(2, "knn.blockKnn", 1, "r", 100, 600, 0.5, Map("distance_evals" -> 6.0))
    def job(id: Int, group: String, s: Long, e: Long) = {
      val j = new JobRecord(id, group, "", s); j.endMs = e; j
    }
    // a pooled-thread job carrying a stale group still lands in the open leaf
    val jobs = Seq(job(1, "perfbench-2", 150, 300), job(2, "other", 200, 400),
      job(3, "", 700, 900))
    val calls = Tracer.callMetrics(Seq(root, leaf), jobs, Nil).toMap
    assert(calls(leaf)("jobs") == 2.0)
    assert(math.abs(calls(leaf)("driver_gap_s") - 0.25) < 1e-9)
    assert(calls(leaf)("distance_evals") == 6.0)
    assert(calls(root)("jobs") == 1.0)
    assert(math.abs(calls(root)("driver_gap_s") - 0.8) < 1e-9)
  }
}
