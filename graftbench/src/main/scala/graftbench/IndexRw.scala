package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextAnalysis}
import graft.sources.ManifestTable

/** Retrieval serving with writes between reads, one client in a closed
  * loop. One cycle is four requests: a BM25 search batch, an IVF search
  * batch, an ingest (BM25 refresh + IVF refresh + ManifestTable append) and
  * a maintenance request (merge + deleteWhere + compact + time-travel read).
  * Requests are small, so per-job driver overhead and index storage
  * dominate, not kernels.
  */
final class IndexRw(ctx: Ctx, z: Gen.IndexSizes) extends Workload(ctx) {
  import ctx._
  import spark.implicits._

  val name = "index_rw"
  val opLayers = Set("bm25", "ivf", "manifest")

  private val Nlist = 16
  private val Nprobe = 4
  private val TopK = 10
  private val BM25Batch = 16
  private val IvfBatch = 8
  private val MaintRows = 20

  private var data: Gen.IndexData = _
  private var docsPath: String = _
  private var idx: String = _
  private def bm25 = s"$idx/bm25"
  private def ivf = s"$idx/ivf"
  private def manifest = s"$idx/manifest"

  private var nextId = 0L
  private var maintenances = 0
  private var planted: Option[(Long, String)] = None
  private val rowsAt = mutable.LinkedHashMap.empty[Long, Long]
  private var rows = 0L
  // traced-run byte accounting for the write-amplification ratios
  private var manifestWritten, manifestAppended = 0L

  def generate(): Unit = {
    data = new Gen.IndexData(seed, z)
    docsPath = writeInput(data.docs.toSeq.toDF("doc_id", "text", "vec"), "docs")
  }

  def prepare(rep: Int): Unit = {
    idx = path(s"index$rep")
    deleteTree(Paths.get(idx))
    val docs = spark.read.parquet(docsPath)
    TextAnalysis.buildBM25Index(docs, bm25)
    val (assigned, centroids) = Similarity.ivfBuildIndex(docs, "vec", "doc_id", nlist = Nlist)
    assigned.write.partitionBy("cell").parquet(s"$ivf/assigned")
    centroids.write.parquet(s"$ivf/centroids")
    val v = ManifestTable.append(docs.select("doc_id", "text"), manifest)
    rows = z.docs.toLong
    rowsAt.clear(); rowsAt(v) = rows
    nextId = z.docs.toLong
    maintenances = 0
    planted = None
  }

  def pass(i: Int): Boolean = bm25Search(i) && ivfSearch(i) && ingest(i) && maintain(i)

  private def request[A](kind: String, i: Int)(work: => A)(check: A => Option[String]): Option[A] =
    rec.op(kind)(tracer.span(kind, "request", i)(work))(check)

  private def bm25Search(i: Int): Boolean = {
    val texts = data.queries(BM25Batch)
    planted.foreach { case (_, term) => texts(0) = term }
    request("bm25_search", i) {
      tracer.call("bm25", "TextAnalysis.searchBM25Index") {
        TextAnalysis.searchBM25Index(spark, bm25, texts.toSeq.zipWithIndex.map { case (q, j) => (j.toLong, q) }
          .toDF("query_id", "query"), topK = TopK)
      } { res =>
        val out = res.collect()
        if (out.nonEmpty) note("bm25.rows_scanned_per_hit", PlanMetrics.scanRows(res, "postings").toDouble / out.length)
        out
      }
    } { out =>
      val byQuery = out.groupBy(_.getLong(0))
      firstProblem(
        if (byQuery.values.forall(_.length <= TopK)) None else Some("more than topK hits for a query"),
        planted.flatMap { case (id, term) =>
          val top = byQuery.getOrElse(0L, Array.empty[Row]).sortBy(r => (-r.getDouble(2), r.getLong(1)))
          expectEq(s"rank-1 hit for just-ingested term $term",
            top.headOption.map(r => rec.observed(r.getLong(1))), Some(id))
        })
    }.isDefined
  }

  private def ivfSearch(i: Int): Boolean = {
    val res = request("ivf_search", i) {
      tracer.call("ivf", "Similarity.ivfSearchIndex") {
        val q = Array.tabulate(IvfBatch)(j => (j.toLong, data.vecs.next())).toSeq.toDF("doc_id", "vec")
        Similarity.ivfSearchIndex(spark.read.parquet(s"$ivf/assigned"), spark.read.parquet(s"$ivf/centroids"),
          q, "vec", "doc_id", TopK, Nprobe)
      } { res => (res.collect(), PlanMetrics.scanFiles(res, "assigned")) }
    } { case (out, _) =>
      val byQuery = out.groupBy(_.getLong(0))
      firstProblem(
        expectEq("queries answered", rec.observed(byQuery.size.toLong), IvfBatch.toLong),
        if (byQuery.values.forall(_.length == TopK)) None else Some("a query got fewer than topK hits"),
        if (out.forall(r => r.getDouble(2) <= 1.0 + 1e-9)) None else Some("cosine above 1"))
    }
    // the file count is taken outside the request, so it adds no request time
    for ((_, scanned) <- res if tracer.enabled)
      note("ivf.files_read_frac", scanned.toDouble / parquetFiles(Paths.get(s"$ivf/assigned")).size)
    res.isDefined
  }

  private def ingest(i: Int): Boolean = {
    val n = z.ingestDocs
    val term = s"zq${seed}u$i"
    val batch = Array.tabulate(n) { j =>
      val t = data.doc()
      (nextId + j, if (j == 0) s"$t $term" else t, data.vecs.next())
    }
    // in traced runs, file sizes are taken before and after the request, so
    // the directory walks add no request time
    val bm25Before = sizes(Paths.get(bm25))
    val manifestBefore = manifestSizes()
    var version = -1L
    val ok = request("ingest", i) {
      val fresh = batch.toSeq.toDF("doc_id", "text", "vec")
      tracer.call("bm25", "TextAnalysis.refreshBM25Index")(fresh)(TextAnalysis.refreshBM25Index(spark, bm25, _))
      tracer.call("ivf", "Similarity.ivfRefreshIndex")(fresh)(Similarity.ivfRefreshIndex(spark, ivf, _, "vec", "doc_id"))
      tracer.call("manifest", "ManifestTable.append")(fresh.select("doc_id", "text")) { d =>
        version = ManifestTable.append(d, manifest)
      }
    } { _ =>
      if (version > rowsAt.keys.max) None else Some(s"append committed version $version")
    }.isDefined
    if (ok && tracer.enabled) {
      // only the BM25 refresh writes under bm25/, only the append under manifest/
      val ingested = batch.map(_._2.getBytes("UTF-8").length.toLong).sum
      note("bm25.refresh_write_amp", written(bm25Before, sizes(Paths.get(bm25))).toDouble / ingested)
      val appended = written(manifestBefore, manifestSizes())
      manifestWritten += appended
      manifestAppended += appended
    }
    if (ok) {
      rows += n
      rowsAt(version) = rows
      planted = Some(nextId -> term)
      nextId += n
    }
    ok
  }

  /** Table maintenance: upsert `MaintRows` existing rows, delete a range of
    * `MaintRows` rows, compact, and time-travel to an earlier version.
    */
  private def maintain(i: Int): Boolean = {
    val m = maintenances
    val upd = (0 until MaintRows).map(k => (z.docs / 2 + m * MaintRows + k).toLong).map(id => (id, s"updated $id"))
    val lo = m * MaintRows.toLong
    val (v0, want) = rowsAt.toSeq(m % rowsAt.size)
    val versions = mutable.ArrayBuffer.empty[(Long, Long)]
    val before = manifestSizes()
    val ok = request("maintain", i) {
      tracer.call("manifest", "ManifestTable.merge")(upd.toDF("doc_id", "text")) { src =>
        versions += ManifestTable.merge(spark, manifest, src, Seq("doc_id")) -> rows
      }
      val deleted = tracer.call("manifest", "ManifestTable.deleteWhere")(
          ManifestTable.Between("doc_id", lo, lo + MaintRows - 1)) { p =>
        val (v, d) = ManifestTable.deleteWhere(spark, manifest, p)
        versions += v -> (rows - d)
        d
      }
      tracer.call("manifest", "ManifestTable.compact")(()) { _ =>
        versions += ManifestTable.compact(spark, manifest) -> (rows - deleted)
      }
      val got = tracer.call("manifest", "ManifestTable.read.asOf")(ManifestTable.read(spark, manifest, Some(v0)))(_.count())
      (deleted, got)
    } { case (deleted, got) =>
      firstProblem(expectEq("rows deleted", rec.observed(deleted), MaintRows.toLong),
        expectEq(s"rows at version $v0", got, want))
    }.isDefined
    if (ok && tracer.enabled) manifestWritten += written(before, manifestSizes())
    if (ok) {
      rowsAt ++= versions
      rows -= MaintRows
    }
    maintenances += 1
    ok
  }

  /** Sizes of the manifest table's files, without the feed's hard links;
    * empty unless tracing.
    */
  private def manifestSizes(): Map[Path, Long] =
    sizes(Paths.get(manifest)).filter { case (p, _) => !p.toString.contains("_graft_feed") }

  /** Bytes in files that are new or changed since `before`. A file written
    * twice within one request counts once.
    */
  private def written(before: Map[Path, Long], after: Map[Path, Long]): Long =
    after.filter { case (p, s) => !before.get(p).contains(s) }.values.sum

  override def finish(): Unit = {
    rec.verify("ivf exact at nprobe = nlist") {
      val assigned = spark.read.parquet(s"$ivf/assigned")
      val q = assigned.orderBy("neighbor_id").limit(4).select(col("neighbor_id").as("doc_id"), col("vec"))
      val ivfTop = Similarity.ivfSearchIndex(assigned, spark.read.parquet(s"$ivf/centroids"), q,
        "vec", "doc_id", TopK, Nlist).select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = Similarity.bruteForceTopK(assigned.select(col("neighbor_id").as("doc_id"), col("vec")), q,
        "vec", "doc_id", TopK).select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      expectEq("ivf top-k vs brute force", ivfTop, brute)
    }
    rec.verify("time travel") {
      rowsAt.toSeq.takeRight(3).flatMap { case (v, want) =>
        expectEq(s"rows at version $v", ManifestTable.read(spark, manifest, Some(v)).count(), want)
      }.headOption
    }
    if (tracer.enabled) {
      val live = ManifestTable.read(spark, manifest).inputFiles
      val liveBytes = live.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
      val onDisk = dataFiles(Paths.get(manifest)).map(Files.size).sum
      note("manifest.files_live", live.length.toDouble)
      note("manifest.space_amp", onDisk.toDouble / liveBytes)
      if (manifestAppended > 0) note("manifest.write_amp", manifestWritten.toDouble / manifestAppended)
    }
  }

  private def parquetFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p)).toList
    finally s.close()
  }

  /** Data files of a manifest table, without the feed's hard links. */
  private def dataFiles(root: Path): Seq[Path] =
    parquetFiles(root).filterNot(p => p.toString.contains("_graft_feed") || p.toString.contains("/ckpt/"))

  private def sizes(root: Path): Map[Path, Long] = if (!tracer.enabled) Map.empty else {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p => p -> Files.size(p)).toMap
    finally s.close()
  }
}
