package graftbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{GeomKernel, TextKernel}
import graft.geom.WKB

/** Spark-free microbenchmark of the static kernels that graft's Catalyst
  * expressions call from generated code, over the workloads' own seeded
  * inputs: nanoseconds per call, the median of several timed rounds.
  */
object Kernels {
  @volatile private var sink = 0L

  private def nsPerCall(inputs: Int)(f: Int => Long): Double = {
    var acc = 0L
    // warm-up long enough for the JIT's optimising tier to compile the loop
    var i = 0
    val warmUntil = System.nanoTime() + 400L * 1000000L
    while (i < 20000 || System.nanoTime() < warmUntil) { acc += f(i % inputs); i += 1 }
    val rounds = (0 until 7).map { _ =>
      var calls = 0
      val t0 = System.nanoTime()
      val until = t0 + 40L * 1000000L
      while (System.nanoTime() < until) {
        var j = 0
        while (j < 64) { acc += f((calls + j) % inputs); j += 1 }
        calls += 64
      }
      (System.nanoTime() - t0).toDouble / calls
    }
    sink += acc
    Stats.median(rounds)
  }

  def run(seed: Long, geo: Gen.GeoSizes, text: Gen.TextSizes, index: Gen.IndexSizes): Map[String, Double] = {
    val g = Gen.geo(seed, geo)
    val polys = g.polys.map(_._2)
    val pts = g.points.take(20000).map(p => GeomKernel.point(p._2, p._3))
    // point-in-polygon pairs that pass the bbox gate, as the join's predicate sees them
    val pairs = polys.take(2000).map { w =>
      val b = GeomKernel.bbox(w)
      (GeomKernel.point((b.getDouble(0) + b.getDouble(2)) / 2, (b.getDouble(1) + b.getDouble(3)) / 2), w)
    }
    val t = Gen.text(seed, text)
    val docs = t.docs.take(5000).map(d => UTF8String.fromString(d._2))
    val rank = t.docs.iterator.flatMap(_._2.split(" ")).distinct.zipWithIndex.toMap
    val tokSets = t.docs.take(5000).map(d => UnsafeArrayData.fromPrimitiveArray(d._2.split(" ").map(rank).distinct.sorted))
    val ix = new Gen.IndexData(seed, index)
    val vecs = ix.docs.take(5000).map(d => UnsafeArrayData.fromPrimitiveArray(d._3.map(_.toDouble)))
    val cents = UnsafeArrayData.fromPrimitiveArray(Array.tabulate(16 * index.dim)(i => ix.docs(i / index.dim)._3(i % index.dim).toDouble))
    def h(b: Array[Byte]): Long = b.length.toLong
    Map(
      "functions.wkb_read_ns" -> nsPerCall(polys.length)(i => WKB.read(polys(i)).hashCode().toLong),
      "functions.area_m_ns" -> nsPerCall(polys.length)(i => GeomKernel.areaM(polys(i)).toLong),
      "functions.length_m_ns" -> nsPerCall(polys.length)(i => GeomKernel.lengthM(polys(i)).toLong),
      "functions.buffer_m_ns" -> nsPerCall(pts.length)(i => h(GeomKernel.bufferM(pts(i), 2000.0, 10))),
      "functions.to_mercator_ns" -> nsPerCall(pts.length)(i => h(GeomKernel.toMercator(pts(i)))),
      "functions.intersects_ns" -> nsPerCall(pairs.length)(i => if (GeomKernel.intersects(pairs(i)._1, pairs(i)._2)) 1L else 0L),
      "functions.cell_cover_ns" -> nsPerCall(polys.length)(i => GeomKernel.cellCover(polys(i), 0.5).numElements().toLong),
      "functions.minhash_sig_ns" -> nsPerCall(docs.length)(i => TextKernel.minhashSig(docs(i), 128, 5).getLong(0)),
      "functions.simhash64_ns" -> nsPerCall(docs.length)(i => TextKernel.simhash64(docs(i))),
      "functions.sorted_intersect_ns" -> nsPerCall(tokSets.length)(i =>
        TextKernel.sortedIntersectSize(tokSets(i), tokSets((i * 7 + 1) % tokSets.length)).toLong),
      "functions.vec_dot_ns" -> nsPerCall(vecs.length)(i => TextKernel.vecDot(vecs(i), vecs((i + 1) % vecs.length)).toLong),
      "functions.vec_argmax_dot_ns" -> nsPerCall(vecs.length)(i => TextKernel.vecArgmaxDot(vecs(i), cents, index.dim).toLong))
  }
}
