package perfbench

import scala.util.control.NonFatal

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    (sb += '"').result()
  }

  /** A number with all its digits; JSON has no NaN or infinity. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** A failed output check: the operation ran but its result is wrong. */
final class CheckFailed(val problems: Seq[String])
  extends RuntimeException(problems.mkString("; "))

/** Collects output-check failures of one operation. */
final class Checks {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
  def apply(ok: Boolean, what: => String): Unit = if (!ok) buf += what
  def equal[A](got: A, want: A, what: String): Unit =
    apply(got == want, s"$what: got $got, want $want")
  /** Throws [[CheckFailed]] when any check failed. */
  def verify(): Unit = if (buf.nonEmpty) throw new CheckFailed(buf.take(5).toVector)
}

/** The closed-loop client: one driver thread sends the next operation
  * only after the previous one returned. Every attempt counts; an
  * operation that throws or fails its checks counts as failed and is
  * never timed as a sample.
  */
final case class LoopResult[A](attempted: Int, failed: Int, samples: Seq[A],
    errors: Seq[String])

object Runner {

  /** Runs `op` back to back: at least `minOps` times, then while the
    * next operation, at the median length of those before it, still ends
    * within `seconds` of the start; never more than `maxOps` times.
    */
  def loop[A](seconds: Double, minOps: Int, maxOps: Int = Int.MaxValue)(
      op: Int => A): LoopResult[A] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val samples = Vector.newBuilder[A]
    val errors = Vector.newBuilder[String]
    val lengths = scala.collection.mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    def nextFits = System.nanoTime() + Stats.median(lengths.toSeq) * 1e9 <= deadline
    while (attempted < maxOps && (attempted < minOps || nextFits)) {
      val t0 = System.nanoTime()
      try samples += op(attempted)
      catch {
        case e: CheckFailed => failed += 1; errors += s"check: ${e.getMessage}"
        case NonFatal(e)    => failed += 1; errors += s"threw: $e"
      }
      lengths += (System.nanoTime() - t0) / 1e9
      attempted += 1
    }
    LoopResult(attempted, failed, samples.result(), errors.result())
  }

  /** The result line: the last line of standard output. */
  def resultLine(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))

  /** Exit status: zero only when every operation and every check passed. */
  def exitCode(correct: Boolean, attempted: Int, failed: Int): Int =
    if (correct && failed == 0 && attempted > 0) 0 else 1

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
