package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** What the engine did for one span's own jobs (not its children's). */
final class EngineStats {
  var jobs = 0
  val stages = mutable.Set.empty[Int]
  var tasks = 0
  var taskMs = 0.0
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var gcMs = 0.0
  def add(o: EngineStats): Unit = {
    jobs += o.jobs; stages ++= o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs
  }
}

/** Task interval plus the stage it ran in and the span its job belongs to
  * (-1 if none).
  */
final case class TaskRec(stage: Int, span: Int, launchMs: Double, finishMs: Double)

/** Spark listener that attributes jobs, stages and tasks to the span whose
  * id is the job group they ran under (see [[Tracer]]).
  */
final class EngineProbe extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val bySpan = new ConcurrentHashMap[Int, EngineStats]()
  private val stageWall = new ConcurrentHashMap[Int, (Double, Double)]()
  private val taskRecs = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  /** Off outside traced phases: events are then only counted for [[settle]]. */
  @volatile var active = false
  @volatile private var openJobs = 0
  @volatile private var lastEventNs = System.nanoTime()

  private def statsOf(span: Int): EngineStats = bySpan.computeIfAbsent(span, _ => new EngineStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime(); openJobs += 1
    if (!active) return
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.flatMap(_.toIntOption).foreach { span =>
      statsOf(span).jobs += 1
      e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNs = System.nanoTime(); openJobs -= 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventNs = System.nanoTime()
    if (!active) return
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime) stageWall.put(i.stageId, (a.toDouble, b.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    if (!active) return
    val info = e.taskInfo
    val span: Int = Option(stageSpan.get(e.stageId)).getOrElse(-1)
    taskRecs.add(TaskRec(e.stageId, span, info.launchTime.toDouble, info.finishTime.toDouble))
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val s = statsOf(span)
      s.stages += e.stageId
      s.tasks += 1
      s.taskMs += math.max(0L, info.finishTime - info.launchTime).toDouble
      Option(e.taskMetrics).foreach { m =>
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.gcMs += m.jvmGCTime.toDouble
      }
    }
  }

  /** Blocks until the listener bus has delivered every finished job's events. */
  def settle(maxMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() < deadline &&
        (openJobs > 0 || System.nanoTime() - lastEventNs < 300L * 1000000L))
      Thread.sleep(20)
  }

  def own(span: Int): EngineStats = Option(bySpan.get(span)).getOrElse(new EngineStats)

  def tasks: Seq[TaskRec] = taskRecs.asScala.toSeq

  /** For the longest stage among `stages`: its longest task's share of the
    * stage's wall time (1.0 = one task was the whole stage: skew or a
    * serial stage).
    */
  def maxTaskShare(stages: Set[Int]): Double = {
    val walls = stages.toSeq.flatMap(s => Option(stageWall.get(s)).map(w => s -> (w._2 - w._1)))
    if (walls.isEmpty) return 0.0
    val (longest, wall) = walls.maxBy(_._2)
    val maxTask = tasks.iterator.filter(_.stage == longest).map(t => t.finishMs - t.launchMs)
      .foldLeft(0.0)(math.max)
    if (wall <= 0) 1.0 else math.min(1.0, maxTask / wall)
  }
}

object EngineProbe {
  private val installed = new ConcurrentHashMap[SparkContext, EngineProbe]()

  /** Installs the probe once per session (idempotent, like a strategy
    * injection guarded by `contains`).
    */
  def install(sc: SparkContext): EngineProbe =
    installed.computeIfAbsent(sc, { _ =>
      val p = new EngineProbe
      sc.addSparkListener(p)
      p
    })
}

/** Reads SQL metrics from a DataFrame's executed plan after its action ran. */
object PlanMetrics {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  def all(df: DataFrame): Seq[SparkPlan] = nodes(df.queryExecution.executedPlan)

  private def metric(n: SparkPlan, name: String): Option[Long] = n.metrics.get(name).map(_.value)

  /** Rows a node produced: its own row metric, or the nearest descendant's
    * through wrappers (codegen input adapters, exchanges, stage reads).
    */
  def rowsOut(n: SparkPlan): Long =
    metric(n, "numOutputRows").orElse(metric(n, "shuffleRecordsWritten")).getOrElse {
      nodes(n).drop(1).headOption.map(rowsOut).getOrElse(0L)
    }

  private def isJoin(n: SparkPlan): Boolean = n.getClass.getSimpleName.contains("Join")

  /** (rows into, rows out of) the join node with the most input rows. */
  def biggestJoin(df: DataFrame): (Long, Long) = {
    val joins = all(df).filter(isJoin).map(j => (j.children.map(rowsOut).sum, rowsOut(j)))
    if (joins.isEmpty) (0L, 0L) else joins.maxBy(_._1)
  }

  /** Rows read by file scans whose root path contains `pathPart`. */
  def scanRows(df: DataFrame, pathPart: String): Long =
    scans(df, pathPart).map(n => metric(n, "numOutputRows").getOrElse(0L)).sum

  /** Files read by file scans whose root path contains `pathPart`. */
  def scanFiles(df: DataFrame, pathPart: String): Long =
    scans(df, pathPart).map(n => metric(n, "numFiles").getOrElse(0L)).sum

  private def scans(df: DataFrame, pathPart: String): Seq[SparkPlan] = all(df).collect {
    case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.toString.contains(pathPart)) => f
  }
}
