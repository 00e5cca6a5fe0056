package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One traced interval. Levels: workload → pass or request → operator call
  * → plan | action. `req` is the pass or request number the span belongs
  * to (-1 above that level). Times are wall-clock epoch milliseconds with
  * sub-millisecond digits, the same clock Spark stamps task launch and
  * finish times with, so task intervals and spans can be intersected.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String, req: Int,
    startMs: Double, var endMs: Double = Double.NaN) {
  def durMs: Double = endMs - startMs
}

object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Span recorder for the traced run. Spans stay in memory and are written
  * out once at exit. While a span is open, every Spark job the client
  * thread submits carries the span's id as its job group, which is how the
  * engine probe ties jobs, stages and tasks back to spans. When tracing is
  * off every method is a plain call-through.
  */
final class Tracer(spark: SparkSession, var enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String, layer: String, req: Int = -1)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption
    val r = if (req >= 0) req else parent.map(_.req).getOrElse(-1)
    val s = Span(spans.length, parent.map(_.id).getOrElse(-1), name, layer, r, Clock.nowMs())
    spans += s
    stack = s :: stack
    spark.sparkContext.setJobGroup(s.id.toString, name, interruptOnCancel = false)
    try body
    finally {
      s.endMs = Clock.nowMs()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => spark.sparkContext.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
        case None => spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** One operator call split into its plan part (building the DataFrame)
    * and its action part (running it).
    */
  def call[A, B](layer: String, name: String)(plan: => A)(action: A => B): B =
    span(name, layer) {
      val p = span("plan", layer)(plan)
      span("action", layer)(action(p))
    }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Span duration minus the part of it its children cover. */
  def selfMs(s: Span): Double = s.durMs - Intervals.covered(children(s.id).map(c => (c.startMs, c.endMs)), s.startMs, s.endMs)

  def subtree(id: Int): Seq[Span] = {
    val kids = children(id)
    kids ++ kids.flatMap(k => subtree(k.id))
  }

  /** JSON lines, one span per line. */
  def write(path: java.nio.file.Path, engine: Int => Map[String, Double]): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val e = engine(s.id).map { case (k, v) => s""","$k":${Json.num(v)}""" }.mkString
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"req":${s.req},"start_ms":${Json.num(s.startMs)},""" +
        s""""end_ms":${Json.num(s.endMs)},"self_ms":${Json.num(selfMs(s))}$e}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Intervals {
  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}
