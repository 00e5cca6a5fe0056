package graftbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.geom.{Polygon, WKB}

/** Seeded input generators. Every workload draws from its own stream
  * (seed mixed with a per-workload constant), so the same seed always gives
  * the same inputs. Sizes are fixed; only content varies with the seed.
  */
object Gen {
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream)

  // ---------------------------------------------------------------- geo

  final case class GeoSizes(points: Int, polygons: Int, rects: Int, facilities: Int,
      knnQueries: Int, bufferPoints: Int)

  final case class GeoData(
      /** (id, lon, lat, pop); ~20% fall in 1% of the 0.5° cells ("cities"). */
      points: Array[(Long, Double, Double, Int)],
      /** (pid, WKB polygon); pids below `rects.length` are axis-aligned rectangles. */
      polys: Array[(Long, Array[Byte])],
      /** (pid, lon1, lat1, lon2, lat2) of the rectangle polygons. */
      rects: Array[(Long, Double, Double, Double, Double)],
      facilities: Array[(Long, Double, Double)],
      knnQueries: Array[(Long, Double, Double)],
      bufferPoints: Array[(Long, Double, Double)])

  val Lon0 = -10.0; val Lon1 = 30.0; val Lat0 = 35.0; val Lat1 = 60.0
  private val Cell = 0.5

  def geo(seed: Long, z: GeoSizes): GeoData = {
    val r = rng(seed, 1)
    def u(a: Double, b: Double) = a + (b - a) * r.nextDouble()
    val nx = ((Lon1 - Lon0) / Cell).toInt; val ny = ((Lat1 - Lat0) / Cell).toInt
    val cities = Array.fill(math.max(1, nx * ny / 100))((r.nextInt(nx), r.nextInt(ny)))
    def point(): (Double, Double) =
      if (r.nextDouble() < 0.2) {
        val (cx, cy) = cities(r.nextInt(cities.length))
        (Lon0 + (cx + r.nextDouble()) * Cell, Lat0 + (cy + r.nextDouble()) * Cell)
      } else (u(Lon0, Lon1), u(Lat0, Lat1))
    // ids are a shuffled range, so id-modulus subsamples are seeded and unbiased
    val ids = shuffled(r, z.points)
    val points = Array.tabulate(z.points) { i =>
      val (x, y) = point(); (ids(i), x, y, 1 + r.nextInt(1000))
    }
    val rects = Array.tabulate(z.rects) { i =>
      val x = u(Lon0, Lon1 - 1); val y = u(Lat0, Lat1 - 1)
      (i.toLong, x, y, x + u(0.05, 0.8), y + u(0.05, 0.8))
    }
    val polys = ArrayBuffer.empty[(Long, Array[Byte])]
    rects.foreach { case (pid, x1, y1, x2, y2) =>
      polys += pid -> WKB.write(Polygon(Array(Array(x1, y1, x2, y1, x2, y2, x1, y2, x1, y1))))
    }
    while (polys.length < z.polygons) {
      // star-shaped ring; vertex counts 8–400, most of them small
      val n = 8 + (392 * math.pow(r.nextDouble(), 3)).toInt
      val (cx, cy) = point()
      val rad = u(0.02, 0.3)
      val ring = new Array[Double](2 * (n + 1))
      (0 until n).foreach { k =>
        val a = 2 * math.Pi * k / n
        val rr = rad * (0.6 + 0.4 * r.nextDouble())
        ring(2 * k) = cx + rr * math.cos(a); ring(2 * k + 1) = cy + rr * math.sin(a)
      }
      ring(2 * n) = ring(0); ring(2 * n + 1) = ring(1)
      polys += polys.length.toLong -> WKB.write(Polygon(Array(ring)))
    }
    def pts(n: Int) = Array.tabulate(n) { i => val (x, y) = point(); (i.toLong, x, y) }
    // the dissolve input is one city's stations: overlapping buffers
    val (bx, by) = cities(0)
    val station = Array.tabulate(z.bufferPoints) { i =>
      (i.toLong, Lon0 + (bx + 0.4 + 0.2 * r.nextDouble()) * Cell, Lat0 + (by + 0.4 + 0.2 * r.nextDouble()) * Cell)
    }
    GeoData(points, polys.toArray, rects, pts(z.facilities), pts(z.knnQueries), station)
  }

  // ---------------------------------------------------------------- text

  /** Zipf(1) sampler over a generated vocabulary whose head is stopwords. */
  final class Vocab(r: SplittableRandom, size: Int) {
    private val stop = Array("the", "of", "and", "to", "in", "that", "is", "for", "with", "on")
    private val syll = Array("ka", "lo", "mi", "ter", "san", "dor", "vel", "qui", "ran", "tos",
      "mer", "bal", "pen", "rix", "ol", "un", "sta", "gar", "fen", "lum")
    val words: Array[String] = {
      val seen = mutable.LinkedHashSet.empty[String] ++ stop
      while (seen.size < size)
        seen += (0 until 2 + r.nextInt(3)).map(_ => syll(r.nextInt(syll.length))).mkString
      seen.toArray
    }
    private val cdf = {
      val w = Array.tabulate(size)(i => 1.0 / (i + 1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(size - 1, if (i >= 0) i else -i - 1))
    }
    def rare(): String = words(size / 4 + r.nextInt(size - size / 4))
  }

  final case class TextSizes(docs: Int, minWords: Int, maxWords: Int, vocab: Int,
      chainNodes: Int, smallComponents: Int)

  final case class TextData(
      docs: Array[(Long, String)],
      /** ids of the short docs the quality filter must drop */
      short: Set[Long],
      /** planted near-duplicate families (incl. the boilerplate flood), each sorted, base id first */
      families: Seq[Array[Long]],
      /** CC edge table and its known components (node → min node of its component) */
      edges: Array[(Long, Long)],
      components: Map[Long, Long])

  def text(seed: Long, z: TextSizes): TextData = {
    val r = rng(seed, 2)
    val v = new Vocab(r, z.vocab)
    val texts = mutable.HashSet.empty[String]
    def fresh(n: Int): String = {
      var t = ""
      do t = Array.fill(n)(v.sample()).mkString(" ") while (!texts.add(t))
      t
    }
    def len() = z.minWords + r.nextInt(z.maxWords - z.minWords + 1)
    def edit(base: String): String = {
      val w = base.split(" ")
      var t = ""
      do {
        val k = r.nextInt(w.length)
        val c = w.clone(); var nw = v.rare()
        while (nw == c(k)) nw = v.rare()
        c(k) = nw; t = c.mkString(" ")
      } while (!texts.add(t))
      t
    }
    val n = z.docs
    val nShort = n / 100
    val nCopies = n * 3 / 100
    val nFlood = n * 2 / 100
    val nFamily = n / 10
    // family sizes: power law (Pareto 1.5), 2..100, then one boilerplate flood
    val sizes = ArrayBuffer.empty[Int]
    while (sizes.sum < nFamily) sizes += math.min(100, (2 * math.pow(r.nextDouble(), -1 / 1.5)).toInt)
    sizes += nFlood
    val nBackground = n - nShort - nCopies - sizes.sum
    require(nBackground > n / 2, "text sizes leave too few background docs")
    val ids = shuffled(r, n)
    var next = 0
    def take(): Long = { val id = ids(next); next += 1; id }
    val docs = ArrayBuffer.empty[(Long, String)]
    val background = Array.fill(nBackground) { val d = (take(), fresh(len())); docs += d; d }
    val short = Array.fill(nShort) { val d = (take(), fresh(10 + r.nextInt(20))); docs += d; d._1 }.toSet
    // exact copies of background docs; the smallest id of each identical
    // text survives exact dedup
    (0 until nCopies).foreach { _ => docs += take() -> background(r.nextInt(background.length))._2 }
    val famIds = sizes.zipWithIndex.map { case (s, fi) =>
      val fam = Array.fill(s)(take()).sorted
      val base =
        if (fi == sizes.length - 1) {
          val boiler = Array.fill(len())(v.sample())
          boiler.indices.foreach(i => if (i % 7 == 0) boiler(i) = "subscribe")
          val t = boiler.mkString(" "); texts.add(t); t
        } else fresh(len())
      docs += fam.head -> base
      fam.tail.foreach(id => docs += id -> edit(base))
      fam
    }.toSeq
    // CC input: one long chain over shuffled labels (its length sets the
    // number of contraction rounds) plus many small random trees
    val labels = shuffled(r, z.chainNodes + z.smallComponents * 4).map(_ + 1000000L)
    val edges = ArrayBuffer.empty[(Long, Long)]
    val comp = mutable.HashMap.empty[Long, Long]
    val chain = labels.take(z.chainNodes)
    chain.sliding(2).foreach(p => edges += ((p(0), p(1))))
    chain.foreach(x => comp(x) = chain.min)
    labels.drop(z.chainNodes).grouped(4).foreach { g =>
      g.indices.drop(1).foreach(i => edges += ((g(i), g(r.nextInt(i)))))
      g.foreach(x => comp(x) = g.min)
    }
    TextData(docs.toArray, short, famIds, edges.toArray, comp.toMap)
  }

  // ---------------------------------------------------------------- index

  final case class IndexSizes(docs: Int, words: Int, vocab: Int, dim: Int, clusters: Int,
      ingestDocs: Int)

  /** Embeddings: a Gaussian mixture with `clusters` centres, unit-normalised. */
  final class VecGen(r: SplittableRandom, dim: Int, clusters: Int) {
    private val centres = Array.fill(clusters)(Array.fill(dim)(r.nextGaussian()))
    def next(): Array[Float] = {
      val c = centres(r.nextInt(clusters))
      val v = Array.tabulate(dim)(i => c(i) + 0.35 * r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
  }

  final class IndexData(seed: Long, val z: IndexSizes) {
    private val r = rng(seed, 3)
    val vocab = new Vocab(r, z.vocab)
    val vecs = new VecGen(r, z.dim, z.clusters)
    val docs: Array[(Long, String, Array[Float])] =
      Array.tabulate(z.docs)(i => (i.toLong, doc(), vecs.next()))
    def doc(): String = Array.fill(z.words)(vocab.sample()).mkString(" ")
    /** A search batch of `n` queries of 2–4 mid-frequency words. */
    def queries(n: Int): Array[String] =
      Array.fill(n)(Array.fill(2 + r.nextInt(3))(vocab.rare()).mkString(" "))
  }

  def shuffled(r: SplittableRandom, n: Int): Array[Long] = {
    val a = Array.tabulate(n)(_.toLong)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }
}
