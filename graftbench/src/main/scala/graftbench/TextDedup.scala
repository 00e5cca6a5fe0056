package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextKernel
import graft.operators.{Dedup, Graph, Joins, TextAnalysis}

/** An LLM pre-training curation pass whose cost is text kernels, shuffle
  * and the iterative connected-components fixpoint: quality filter, exact
  * dedup, MinHash-LSH, keep-best clustering, SimHash, a set-similarity
  * self-join, and CC over an edge table whose long chain sets the number of
  * rounds. It touches no geometry and no persisted state.
  */
final class TextDedup(ctx: Ctx, z: Gen.TextSizes) extends Workload(ctx) {
  import ctx._
  import spark.implicits._

  val name = "text_dedup"
  val opLayers = Set("textanalysis", "dedup", "graph", "joins")

  private val Threshold = 0.8
  private var t: Gen.TextData = _
  private var docsPath, edgesPath: String = _
  private var docs, edges: DataFrame = _

  // expected outputs
  private var keptCount = 0L
  private var exactIds: Set[Long] = _
  private var minhashIds: Set[Long] = _
  private var simhashIds: Set[Long] = _
  private var setsimPairs = 0L
  private var ccSum = 0L

  /** (count, Σ id, hash sum of ids): an order-free fingerprint of an id set. */
  private def fp(ids: Set[Long]): (Long, Long, Long) = {
    val h = spark.createDataset(ids.toSeq).agg(hashSum(col("value"))).head()
    (ids.size.toLong, ids.sum, if (h.isNullAt(0)) 0L else h.getLong(0))
  }
  private var exactFp, minhashFp, simhashFp: (Long, Long, Long) = _

  def generate(): Unit = {
    t = Gen.text(seed, z)
    docsPath = writeInput(t.docs.toSeq.toDF("doc_id", "text"), "docs")
    edgesPath = writeInput(t.edges.toSeq.toDF("src", "dst"), "edges")
    val kept = t.docs.filterNot(d => t.short(d._1))
    keptCount = kept.length
    exactIds = kept.groupBy(_._2).values.map(_.map(_._1).min).toSet
    val nonBase = t.families.flatMap(_.tail).toSet
    minhashIds = exactIds -- nonBase
    simhashIds = exactIds -- simhashDropped(kept.filter(d => exactIds(d._1)))
    val byId = kept.toMap
    setsimPairs = t.families.map { f =>
      val texts = f.map(id => byId(id).split(" +").toSet)
      texts.indices.combinations(2).count { case Seq(a, b) =>
        val i = (texts(a) intersect texts(b)).size
        i.toDouble / (texts(a).size + texts(b).size - i) >= Threshold
      }.toLong
    }.sum
    ccSum = t.components.iterator.map { case (n, c) => n * 31 + c }.sum
    exactFp = fp(exactIds); minhashFp = fp(minhashIds); simhashFp = fp(simhashIds)
  }

  /** Brute-force SimHash oracle: a doc is dropped when a smaller id lies
    * within Hamming distance 3 (candidates found through the four 16-bit
    * chunks, which is complete for distance ≤ 3).
    */
  private def simhashDropped(docs: Array[(Long, String)]): Set[Long] = {
    val sk = docs.map(d => d._1 -> TextKernel.simhash64(UTF8String.fromString(d._2)))
    val dropped = mutable.Set.empty[Long]
    (0 until 4).foreach { c =>
      sk.groupBy { case (_, h) => (h >>> (16 * c)) & 0xffffL }.values.foreach { grp =>
        for ((a, ha) <- grp; (b, hb) <- grp if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3)
          dropped += b
      }
    }
    dropped.toSet
  }

  def prepare(rep: Int): Unit = {
    docs = spark.read.parquet(docsPath)
    edges = spark.read.parquet(edgesPath)
    Seq(docs, edges).foreach(_.inputFiles)
  }

  private def fpOf(df: DataFrame, id: String): (Row, DataFrame) =
    one(df.agg(count(lit(1)), sum(col(id)), hashSum(col(id))))

  private def expectFp(what: String, r: Row, want: (Long, Long, Long)): Option[String] =
    expectEq(what, (rec.observed(r.getLong(0)), r.getLong(1), r.getLong(2)), want)

  def pass(i: Int): Boolean = {
    var kept: DataFrame = null
    var exact: DataFrame = null
    try {
      step("textanalysis", "TextAnalysis.filter")(
        TextAnalysis.gopherRules(TextAnalysis.qualityScore(TextAnalysis.cleanText(docs), "text_clean"),
          "text_clean")) { q =>
        kept = q.where(col("gopher_keep")).select("doc_id", "text_clean", "quality_score")
          .persist(StorageLevel.MEMORY_AND_DISK)
        one(kept.agg(count(lit(1)), sum(col("quality_score"))))._1
      } { r => expectEq("docs kept", rec.observed(r.getLong(0)), keptCount) }.isDefined &&
      step("dedup", "Dedup.exact")(Dedup.exact(kept, Seq("text_clean"), "doc_id")) { e =>
        exact = e.persist(StorageLevel.MEMORY_AND_DISK)
        fpOf(exact, "doc_id")._1
      } { r => expectFp("exact survivors", r, exactFp) }.isDefined &&
      step("dedup", "Dedup.minhashLsh")(Dedup.minhashLsh(exact, "text_clean", "doc_id")) { m =>
        val (r, df) = fpOf(m, "doc_id")
        val (in, out) = PlanMetrics.biggestJoin(df)
        if (out > 0) note("dedup.candidates_per_pair", in.toDouble / out)
        r
      } { r => expectFp("minhash survivors", r, minhashFp) }.isDefined &&
      step("dedup", "Dedup.keepBest")(
        Dedup.keepBest(exact, "text_clean", "doc_id", col("quality_score"))) { b =>
        one(b.agg(count(lit(1)), sum(col("n_members")),
          collect_list(when(col("n_members") > 1, struct(col("doc_id"), col("n_members"))))))._1
      } { r =>
        val multi = r.getSeq[Row](2).map(x => x.getLong(0) -> x.getLong(1)).toMap
        val bad = t.families.iterator.flatMap { f =>
          val best = f.filter(multi.contains)
          if (best.length == 1 && multi(best.head) == f.length) None
          else Some(s"family of ${f.length} from ${f.head} kept ${best.length} clusters")
        }.toSeq.headOption
        firstProblem(expectEq("clusters", rec.observed(r.getLong(0)), minhashIds.size.toLong),
          expectEq("members", r.getLong(1), exactIds.size.toLong),
          expectEq("multi-member clusters", multi.size, t.families.length), bad)
      }.isDefined &&
      step("dedup", "Dedup.simhash")(Dedup.simhash(exact, "text_clean", "doc_id")) { s =>
        fpOf(s, "doc_id")._1
      } { r => expectFp("simhash survivors", r, simhashFp) }.isDefined &&
      step("joins", "Joins.setSimJoin")(
        Joins.setSimJoin(exact, exact, "doc_id", "text_clean", "doc_id", "text_clean", Threshold)) { j =>
        one(j.where(col("doc_id") < col("doc_id_right")).agg(count(lit(1))))._1
      } { r => expectEq("similar pairs", rec.observed(r.getLong(0)), setsimPairs) }.isDefined &&
      step("graph", "Graph.connectedComponents")(Graph.connectedComponents(edges)) { c =>
        one(c.agg(count(lit(1)), sum(col("node") * 31 + col("component"))))._1
      } { r =>
        firstProblem(expectEq("nodes", rec.observed(r.getLong(0)), t.components.size.toLong),
          expectEq("component checksum", r.getLong(1), ccSum))
      }.isDefined
    } finally {
      Seq(exact, kept).filter(_ != null).foreach(_.unpersist(blocking = true))
    }
  }
}
