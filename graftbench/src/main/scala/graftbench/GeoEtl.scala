package graftbench

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions._
import graft.functions.GeomKernel
import graft.geom.Mercator
import graft.operators.{GeoOps, SJoin}
import graft.sources.GeoSources

/** erde's batch surface at a size where geometry kernels and the spatial
  * join dominate: points with dense "cities" (SJoin's skew path), polygons
  * of 8–400 vertices, CRS conversion, metre-area/length/buffer, the four
  * spatial joins, and GeoPackage/FlatGeobuf round trips. It touches no text
  * kernel, Dedup, Graph or ManifestTable.
  */
final class GeoEtl(ctx: Ctx, z: Gen.GeoSizes) extends Workload(ctx) {
  import ctx._
  import spark.implicits._

  val name = "geo_etl"
  val opLayers = Set("geoops", "sjoin", "sources")
  // the pass time falls for several passes while the JIT compiles
  override val warmPasses = 2

  private val SubMod = 400L // sjfull subsample: ids divisible by this
  private val KnnMod = 20L
  private val K = 3
  private val KnnMaxM = 25000.0
  private val BufferM = 500.0

  private var g: Gen.GeoData = _
  private var pointsPath, polysPath, facPath, qPath, bufPath: String = _
  private var expSub: Set[(Long, Long)] = _
  private var expKnn: Set[(Long, Long, Int)] = _
  private var expGeomSum: Long = 0L
  private var mercX, mercY: Double = 0.0
  // sjfull's pair count and matched-point count, fixed by the warm-up pass
  private var refPairs = -1L
  private var refMatched = -1L

  private var points, polys, facilities, queries, bufPts: DataFrame = _

  def generate(): Unit = {
    g = Gen.geo(seed, z)
    pointsPath = writeInput(g.points.toSeq.toDF("id", "lon", "lat", "pop"), "points")
    polysPath = writeInput(g.polys.toSeq.toDF("pid", "geometry"), "polygons")
    facPath = writeInput(g.facilities.toSeq.toDF("fid", "lon", "lat"), "facilities")
    qPath = writeInput(g.knnQueries.toSeq.toDF("qid", "lon", "lat"), "knn_queries")
    bufPath = writeInput(g.bufferPoints.toSeq.toDF("bid", "lon", "lat"), "buffer_points")
    // expected outputs: closed forms and brute force on the driver; the
    // geometry checksum is taken over the input file
    mercX = g.points.map(p => Mercator.R * math.toRadians(p._2)).sum
    mercY = g.points.map(p => Mercator.R * math.log(math.tan(math.Pi / 4 + math.toRadians(p._3) / 2))).sum
    val bboxes = g.polys.map { case (pid, w) =>
      val b = GeomKernel.bbox(w); (pid, w, b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
    }
    expSub = g.points.iterator.filter(_._1 % SubMod == 0).flatMap { case (id, x, y, _) =>
      val pw = GeomKernel.point(x, y)
      bboxes.iterator.filter(b => x >= b._3 && x <= b._5 && y >= b._4 && y <= b._6)
        .filter(b => GeomKernel.intersects(pw, b._2)).map(b => (id, b._1))
    }.toSet
    expKnn = g.knnQueries.iterator.filter(_._1 % KnnMod == 0).flatMap { case (qid, x, y) =>
      g.facilities.map(f => (f._1, Mercator.haversine(x, y, f._2, f._3)))
        .filter(_._2 <= KnnMaxM).sortBy(f => (f._2, f._1)).take(K).zipWithIndex
        .map { case ((fid, _), i) => (qid, fid, i + 1) }
    }.toSet
    expGeomSum = spark.read.parquet(polysPath).agg(hashSum(col("geometry"))).head().getLong(0)
  }

  def prepare(rep: Int): Unit = {
    points = spark.read.parquet(pointsPath)
    polys = spark.read.parquet(polysPath)
    facilities = GeoOps.lonlatToPoints(spark.read.parquet(facPath)).drop("lon", "lat")
    queries = GeoOps.lonlatToPoints(spark.read.parquet(qPath)).drop("lon", "lat")
    bufPts = GeoOps.lonlatToPoints(spark.read.parquet(bufPath))
    Seq(points, polys, facilities, queries, bufPts).foreach(_.inputFiles)
  }

  private def rectArea(x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    val r = Mercator.R
    def my(lat: Double) = r * math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2))
    val w = r * math.toRadians(x2 - x1)
    val h = my(y2) - my(y1)
    val latC = math.toDegrees(2 * math.atan(math.exp((my(y1) + my(y2)) / 2 / r)) - math.Pi / 2)
    w * h * math.pow(math.cos(math.toRadians(latC)), 2)
  }

  def pass(i: Int): Boolean = {
    val pts = GeoOps.lonlatToPoints(points)
    val ok = step("geoops", "GeoOps.convert")(
      GeoOps.convert(pts, "EPSG:4326", "EPSG:3857")) { m =>
      one(m.agg(count(lit(1)), sum(st_x(col("geometry"))), sum(st_y(col("geometry")))))._1
    } { r =>
      firstProblem(expectEq("points", rec.observed(r.getLong(0)), z.points.toLong),
        expectNear("sum x", r.getDouble(1), mercX, 1e-9),
        expectNear("sum y", r.getDouble(2), mercY, 1e-9))
    }.isDefined &&
    step("geoops", "GeoOps.areaM")(GeoOps.lengthM(GeoOps.areaM(polys))) { a =>
      one(a.agg(count(lit(1)), sum(col("length")),
        collect_list(when(col("pid") < g.rects.length, struct(col("pid"), col("area"))))))._1
    } { r =>
      val areas = r.getSeq[org.apache.spark.sql.Row](2).map(x => x.getLong(0) -> x.getDouble(1)).toMap
      val bad = g.rects.iterator.map { case (pid, x1, y1, x2, y2) =>
        expectNear(s"area of rectangle $pid", areas.getOrElse(pid, Double.NaN), rectArea(x1, y1, x2, y2))
      }.collectFirst { case Some(m) => m }
      firstProblem(expectEq("polygons", rec.observed(r.getLong(0)), z.polygons.toLong),
        if (r.getDouble(1) > 0) None else Some("non-positive total length"), bad)
    }.isDefined &&
    step("geoops", "GeoOps.bufferM")(GeoOps.bufferM(queries, BufferM)) { b =>
      one(b.agg(count(lit(1)), sum(st_aream(col("geometry")))))._1
    } { r =>
      val disc = math.Pi * BufferM * BufferM
      val mean = r.getDouble(1) / z.knnQueries
      firstProblem(expectEq("buffers", rec.observed(r.getLong(0)), z.knnQueries.toLong),
        if (math.abs(mean / disc - 1) < 0.05) None else Some(s"mean buffer area $mean, disc $disc"))
    }.isDefined &&
    step("geoops", "GeoOps.bufferM.dissolve")(GeoOps.bufferM(bufPts, BufferM, dissolve = true)) { b =>
      b.collect().head.getAs[Array[Byte]]("geometry")
    } { w =>
      val a = GeomKernel.areaM(w)
      val disc = math.Pi * BufferM * BufferM
      val t = GeomKernel.geomType(w).toString
      if (a > 0.9 * disc && a <= z.bufferPoints * disc * 1.05 && (t == "Polygon" || t == "MultiPolygon")) None
      else Some(s"dissolved buffer: $t of area $a")
    }.isDefined &&
    step("sjoin", "SJoin.sjfull")(SJoin.sjfull(pts, polys, "intersects")) { j =>
      val (r, df) = one(j.agg(count(lit(1)), countDistinct(col("id")),
        collect_list(when(col("id") % SubMod === 0, struct(col("id"), col("pid"))))))
      val (in, out) = PlanMetrics.biggestJoin(df)
      if (out > 0) note("sjoin.candidates_per_match", in.toDouble / out)
      r
    } { r =>
      val pairs = rec.observed(r.getLong(0)); val matched = r.getLong(1)
      val sub = r.getSeq[org.apache.spark.sql.Row](2).map(x => (x.getLong(0), x.getLong(1))).toSet
      if (refPairs < 0) { refPairs = pairs; refMatched = matched }
      firstProblem(
        if (sub == expSub) None
        else Some(s"subsample pairs differ from brute force: ${(sub diff expSub).take(3)} extra, " +
          s"${(expSub diff sub).take(3)} missing"),
        expectEq("pairs", pairs, refPairs), expectEq("matched points", matched, refMatched))
    }.isDefined &&
    step("sjoin", "SJoin.sagg")(
      SJoin.sagg(polys, pts, Seq(sum("pop").as("pop_sum"), count(lit(1)).as("n")), how = "inner")) { a =>
      one(a.agg(count(lit(1)), sum(col("n"))))._1
    } { r => expectEq("pairs aggregated", rec.observed(r.getLong(1)), refPairs) }.isDefined &&
    step("sjoin", "SJoin.sfilter")(SJoin.sfilter(pts, polys)) { f =>
      one(f.agg(count(lit(1))))._1
    } { r => expectEq("points kept", rec.observed(r.getLong(0)), refMatched) }.isDefined &&
    step("sjoin", "SJoin.sknn")(SJoin.sknn(queries, facilities, "qid", "fid", K, KnnMaxM)) { k =>
      one(k.agg(count(lit(1)), collect_list(when(col("qid") % KnnMod === 0,
        struct(col("qid"), col("fid"), col("knn_rank"))))))._1
    } { r =>
      val sub = r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      firstProblem(if (sub == expKnn) None
        else Some(s"knn subsample differs from brute force: ${(sub diff expKnn).take(3)} vs ${(expKnn diff sub).take(3)}"),
        if (rec.observed(r.getLong(0)) <= z.knnQueries.toLong * K) None else Some("more than k rows per query"))
    }.isDefined &&
    roundTrip(i, "gpkg") && roundTrip(i, "fgb")
    ok
  }

  private def roundTrip(i: Int, ext: String): Boolean = {
    val out = path("out", s"pass$i.$ext")
    java.nio.file.Files.createDirectories(Paths.get(out).getParent)
    val ok = step("sources", s"GeoSources.writeAuto.$ext")(polys) { p =>
      GeoSources.writeAuto(p, out)
    } { _ => None }.isDefined &&
    step("sources", s"GeoSources.readAuto.$ext")(GeoSources.readAuto(spark, out)) { d =>
      one(d.agg(count(lit(1)), hashSum(col("geometry"))))._1
    } { r =>
      firstProblem(expectEq(s"$ext rows", rec.observed(r.getLong(0)), z.polygons.toLong),
        expectEq(s"$ext geometry checksum", r.getLong(1), expGeomSum))
    }.isDefined
    deleteTree(Paths.get(out))
    ok
  }
}
