package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, InputAdapter, ProjectExec,
  QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.util.QueryExecutionListener

/** How a workload marks the public engine calls it makes. The timed job runs
  * with [[Untraced]]: every call stays lazy, exactly as a user would chain
  * them. The traced pass runs the same code with a [[Trace]], which forces
  * each call on its own inside a span. */
trait Probe {
  /** a public call returning a DataFrame; traced, it is forced in a span */
  def layer(name: String)(df: => DataFrame): DataFrame
  /** a public call with side effects (a sink, a checkpoint) */
  def region[T](name: String)(body: => T): T
  /** a public call the job makes only inside another one; traced, it is
    * forced on its own so its share can be seen, untraced it is skipped */
  def measureOnly(name: String)(df: => DataFrame): Unit
}

object Untraced extends Probe {
  def layer(name: String)(df: => DataFrame): DataFrame = df
  def region[T](name: String)(body: => T): T = body
  def measureOnly(name: String)(df: => DataFrame): Unit = ()
}

final case class TaskRec(span: Int, stage: Int, durMs: Long, cpuNs: Long,
                         shuffleWrite: Long, spill: Long)

final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, var endNs: Long = 0L)

/** Spans, per-span Spark counters and executed plans of one traced pass.
  * Spark work is attributed to the innermost open span through its job
  * group; executed query plans arrive through a QueryExecutionListener and
  * are attributed at span close, after the listener bus has drained. */
final class Trace(spark: SparkSession, runId: String) extends Probe {
  private val sc = spark.sparkContext
  private val groupPrefix = "perfbench-span-"
  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private val plans = mutable.Map[Int, ArrayBuffer[QueryExecution]]()
  private val pending = ArrayBuffer[QueryExecution]()

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageWallMs = new ConcurrentHashMap[Int, Long]()
  private val tasks = ArrayBuffer[TaskRec]()
  private val jobSpans = ArrayBuffer[Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith(groupPrefix)) {
        val id = g.stripPrefix(groupPrefix).toInt
        e.stageIds.foreach(stageSpan.putIfAbsent(_, id))
        jobSpans.synchronized(jobSpans += id)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
        stageWallMs.put(e.stageInfo.stageId, c - s)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (stageSpan.containsKey(e.stageId) && m != null)
        tasks.synchronized(tasks += TaskRec(id, e.stageId, e.taskInfo.duration,
          m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pending.synchronized(pending += qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  sc.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  private def settle(to: Option[Span]): Unit = {
    Internals.drainListenerBus(spark)
    val got = pending.synchronized { val c = pending.toList; pending.clear(); c }
    to.foreach(s => plans.getOrElseUpdate(s.id, ArrayBuffer()) ++= got)
  }

  def region[T](name: String)(body: => T): T = {
    settle(open.headOption)
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), runId, System.nanoTime())
    spans += s
    open = s :: open
    sc.setJobGroup(groupPrefix + s.id, name, interruptOnCancel = false)
    try body
    finally {
      settle(Some(s))
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(groupPrefix + p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def layer(name: String)(df: => DataFrame): DataFrame = region(name)(df.localCheckpoint(true))

  /** the forced outputs of measureOnly calls, for row counts after close */
  val forced = mutable.Map[String, DataFrame]()
  def measureOnly(name: String)(df: => DataFrame): Unit = forced(name) = layer(name)(df)

  def close(): Unit = {
    settle(None)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  // ---- derived per-layer figures ------------------------------------------

  private def dur(s: Span): Long = s.endNs - s.startNs

  /** ids of the spans inside the first span called `root`, itself included */
  private def under(root: String): Set[Int] = {
    val top = spans.find(_.name == root).map(_.id).toSet
    spans.foldLeft(top)((acc, s) => if (acc.contains(s.parent)) acc + s.id else acc)
  }

  /** the spans called `name` inside the span called `root` */
  private def named(name: String, root: String): Seq[Span] = {
    val ids = under(root)
    spans.toSeq.filter(s => s.name == name && ids.contains(s.id))
  }

  /** span time minus the part of it that its child spans cover */
  def selfSeconds(name: String, root: String = "job"): Double =
    named(name, root).map(s => dur(s) - spans.filter(_.parent == s.id).map(dur).sum).sum / 1e9

  def jobs(name: String, root: String = "job"): Int = {
    val ids = named(name, root).map(_.id).toSet
    jobSpans.synchronized(jobSpans.count(ids.contains))
  }
  def jobsTotal(root: String = "job"): Int = {
    val ids = under(root)
    jobSpans.synchronized(jobSpans.count(ids.contains))
  }

  private def taskRecs(ids: Set[Int]): Seq[TaskRec] =
    tasks.synchronized(tasks.toList).filter(t => ids.contains(t.span))
  private def taskRecs(name: String): Seq[TaskRec] = taskRecs(named(name, "job").map(_.id).toSet)
  def taskCpuSeconds: Double = taskRecs(under("job")).map(_.cpuNs).sum / 1e9
  def shuffleWriteMb: Double = taskRecs(under("job")).map(_.shuffleWrite).sum / 1048576.0
  def spillMb: Double = taskRecs(under("job")).map(_.spill).sum / 1048576.0

  /** max ÷ median task time of the longest stage (by stage wall time) */
  private def skew(recs: Seq[TaskRec]): Double = {
    val byStage = recs.groupBy(_.stage)
    if (byStage.isEmpty) 0.0
    else {
      val longest = byStage.keys.maxBy(s => stageWallMs.getOrDefault(s, 0L))
      val ds = byStage(longest).map(_.durMs.toDouble).sorted
      ds.last / math.max(ds(ds.size / 2), 1.0)
    }
  }
  def taskSkew: Double = skew(taskRecs(under("job")))
  def taskSkew(name: String): Double = skew(taskRecs(name))

  /** driver-side analysis + optimization + planning time of every query run */
  def planSeconds: Double = {
    val ids = under("job")
    plans.filter(p => ids.contains(p._1)).values.flatten
      .map(qe => qe.tracker.phases.values.map(_.durationMs).sum).sum / 1e3
  }

  def queriesOf(name: String): Seq[QueryExecution] =
    named(name, "job").flatMap(s => plans.getOrElse(s.id, Nil))

  /** spans as JSON objects, for the trace file */
  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "name" -> s.name, "id" -> s.id, "parent" -> s.parent, "run_id" -> s.runId,
    "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9))
}

/** Candidate and refined row counts of the blocked (key-matched) joins in a
  * set of executed queries. `keys` picks the joins: those whose equi-join
  * keys reference a column of one of these names.
  *  - rows_out: SQLMetrics numOutputRows of the join, or of the Filter
  *    directly above it when the refine was not folded into the join;
  *  - candidates: key-matched pairs, Σ over keys of left × right rows. The
  *    engine folds the exact refine into the join condition, so no operator
  *    reports the pre-refine count; it is counted from the join's logical
  *    inputs after the traced job has finished. */
object JoinRows {
  private def keyed(es: Seq[Expression], keys: Set[String]): Boolean =
    es.exists(_.references.exists(a => keys.contains(a.name)))

  private def physical(p: SparkPlan, above: List[SparkPlan]): Seq[(SparkPlan, List[SparkPlan])] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    (p, above) +: kids.flatMap(physical(_, p :: above))
  }

  private def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** rows that leave `node` after the Filter directly above it, if any */
  private def kept(node: SparkPlan, above: List[SparkPlan]): Long =
    rows(above.takeWhile {
      case _: ProjectExec | _: FilterExec | _: WholeStageCodegenExec | _: InputAdapter => true
      case _ => false
    }.collectFirst { case f: FilterExec => f }.getOrElse(node))

  /** (rows generated by the widest explode, rows kept by the Filter above
    * it): the candidates and refined rows of a generate-and-refine layer */
  def generated(qes: Seq[QueryExecution]): (Long, Long) = {
    val found = qes.flatMap(qe => physical(qe.executedPlan, Nil)).collect {
      case (gen: GenerateExec, above) => (rows(gen), kept(gen, above))
    }
    if (found.isEmpty) (0L, 0L) else found.maxBy(_._1)
  }

  def rowsOut(qes: Seq[QueryExecution], keys: Set[String]): Long =
    qes.flatMap(qe => physical(qe.executedPlan, Nil)).collect {
      case (j: BaseJoinExec, above) if keyed(j.leftKeys, keys) => kept(j, above)
    }.sum

  def candidates(spark: SparkSession, qes: Seq[QueryExecution], keys: Set[String]): Long =
    qes.flatMap(_.optimizedPlan.collect { case j: Join => j }).map {
      case ExtractEquiJoinKeys(Inner, lk, rk, _, _, l, r, _) if keyed(lk, keys) =>
        pairs(spark, l, lk, r, rk)
      case _ => 0L
    }.sum

  private def pairs(spark: SparkSession, l: LogicalPlan, lk: Seq[Expression],
                    r: LogicalPlan, rk: Seq[Expression]): Long = {
    def perKey(p: LogicalPlan, ks: Seq[Expression], n: String): DataFrame = {
      val names = ks.indices.map(i => s"_k$i")
      Internals.ofRows(spark, Project(ks.zip(names).map { case (k, a) => Alias(k, a)() }, p))
        .groupBy(names.map(col): _*).agg(count(lit(1)).as(n))
    }
    val names = lk.indices.map(i => s"_k$i")
    val row = perKey(l, lk, "_nl").join(perKey(r, rk, "_nr"), names)
      .agg(sum(col("_nl") * col("_nr"))).head()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }
}
