package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{shiftright, sum, xxhash64}

/** What every workload shares: the session, its scratch directory, the
  * tracer, the recorder, and per-layer observations made in traced runs.
  */
final class Ctx(val spark: SparkSession, val dir: Path, val tracer: Tracer, val rec: Recorder,
    val seed: Long) {
  /** Per-layer observations (ratios, sizes) read from plans and files. */
  val notes = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  def note(name: String, v: Double): Unit =
    if (tracer.enabled) notes.getOrElseUpdate(name, ArrayBuffer.empty) += v

  def path(parts: String*): String = parts.foldLeft(dir)(_.resolve(_)).toString

  /** Writes generated rows as multi-file parquet; graft only reads it back. */
  def writeInput(df: DataFrame, name: String): String = {
    val p = path("in", name + ".parquet")
    df.write.mode("overwrite").parquet(p)
    p
  }
}

/** A workload: seeded inputs, a repeatable set-up, and a pass (one pipeline
  * run, or one request cycle) made of checked operations.
  */
abstract class Workload(val ctx: Ctx) {
  import ctx._

  def name: String
  /** Makes the inputs from the seed and writes them (not part of set-up time). */
  def generate(): Unit
  /** Set-up that a user pays before the first operation; repeatable, the
    * last repetition's state is what the passes use.
    */
  def prepare(rep: Int): Unit
  /** Checked passes run before measuring, so the JIT has compiled the
    * pass's hot code; not part of set-up time.
    */
  def warmPasses: Int = 1
  /** One pass; false as soon as an operation fails (the rest is skipped). */
  def pass(i: Int): Boolean
  /** End-of-run output checks; a failure counts as a failed operation. */
  def finish(): Unit = ()
  /** The operator layers that should own most of a pass's time. */
  def opLayers: Set[String]

  /** One checked operator call: plan and action traced, check untimed. */
  def step[A, B](layer: String, name: String)(plan: => A)(action: A => B)(
      check: B => Option[String]): Option[B] =
    rec.op(name)(tracer.call(layer, name)(plan)(action))(check)

  /** Runs `df`'s action as a one-row aggregate and returns the row with the
    * executed DataFrame, whose plan then carries the SQL metrics.
    */
  def one(df: DataFrame): (Row, DataFrame) = (df.collect().head, df)

  /** Order-free checksum of a column: Σ of its 40-bit hashes (no overflow). */
  def hashSum(c: Column): Column = sum(shiftright(xxhash64(c), 24))

  def expectEq(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  def expectNear(what: String, got: Double, want: Double, rel: Double = 1e-9): Option[String] =
    if (math.abs(got - want) <= rel * math.max(1.0, math.abs(want))) None
    else Some(s"$what: got $got, want $want")

  def firstProblem(cs: Option[String]*): Option[String] = cs.flatten.headOption

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
