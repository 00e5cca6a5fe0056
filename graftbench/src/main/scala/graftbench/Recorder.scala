package graftbench

import scala.collection.mutable.ArrayBuffer

/** Thrown for a failed or wrong operation during set-up or warm-up, where a
  * failure must end the run instead of being counted.
  */
final class SetupFailure(msg: String, cause: Throwable = null) extends RuntimeException(msg, cause)

/** Counts and times operations. An operation is one pipeline step (batch
  * workloads) or one request (index_rw). Its work is timed; its output check
  * runs after, untimed. An error or a failed check counts as failed and its
  * time is left out of every latency. While `strict`, the first failure
  * throws instead.
  *
  * `inject` (self-test only) makes the first measured operation throw and
  * tampers with the observed value of the second one, so both paths into
  * `failed` are exercised end to end.
  */
final class Recorder(inject: Boolean) {
  var strict = true
  var attempted = 0
  var failed = 0
  val errors = ArrayBuffer.empty[String]
  /** (kind, seconds) of every successful operation, in order. */
  val latencies = ArrayBuffer.empty[(String, Double)]
  private var measured = 0
  private var current = 0

  /** Runs `work`, times it, then checks its output (None = correct). */
  def op[A](kind: String)(work: => A)(check: A => Option[String]): Option[A] = {
    if (!strict) { measured += 1; attempted += 1 }
    current = if (strict) 0 else measured
    val t0 = System.nanoTime()
    val res: Either[Exception, A] = try {
      if (inject && current == 1) throw new IllegalStateException("injected failure")
      Right(work)
    } catch { case e: Exception => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    if (strict) System.err.println(f"graftbench: warm-up $kind%s took $secs%.3f s")
    val problem = res match {
      case Left(e) => Some(s"$kind failed: $e")
      case Right(a) =>
        (try check(a) catch { case e: Exception => Some(s"check threw $e") })
          .map(m => s"$kind: wrong output: $m")
    }
    problem match {
      case None =>
        if (!strict) latencies += kind -> secs
        res.toOption
      case Some(msg) =>
        if (strict) throw new SetupFailure(msg, res.left.toOption.orNull)
        failed += 1
        if (errors.length < 20) errors += msg
        None
    }
  }

  /** An end-of-run output check: counts as an attempted operation, and as a
    * failed one when it throws or reports a problem; adds no latency.
    */
  def verify(what: String)(body: => Option[String]): Unit = {
    attempted += 1
    val problem = try body catch { case e: Exception => Some(s"threw $e") }
    problem.foreach { m =>
      failed += 1
      if (errors.length < 20) errors += s"$what: $m"
    }
  }

  /** The observed value as the check sees it; off by one on the operation
    * chosen for the injected wrong result.
    */
  def observed(v: Long): Long = if (inject && current == 2) v + 1 else v
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.length - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it: the 11th
    * largest value. Returns (value, percentile, sample count); needs 11
    * samples.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    require(n >= 11, s"tail needs at least 11 samples, got $n")
    val s = xs.sorted
    (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}
