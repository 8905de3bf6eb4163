package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}

/** The span tree (workload -> query -> rep -> plan/execute), kept in
  * memory and written as JSON when the run ends. Spans are built from the
  * timestamps the traced reps record; self time is a span's duration minus
  * the union of its children's intervals. */
object SpanTree {
  final case class Span(id: Int, parent: Int, name: String, kind: String,
                        start: Long, end: Long, attrs: Map[String, Any] = Map.empty)

  def toJson(spans: Seq[Span]): String = {
    val children = spans.groupBy(_.parent)
    def union(iv: Seq[(Long, Long)]): Long = {
      var total = 0L; var curS = 0L; var curE = Long.MinValue
      iv.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total
    }
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    spans.map { s =>
      val dur = s.end - s.start
      val self = dur - union(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"kind":${Json.str(s.kind)},""" +
        s""""start_ms":${Json.num((s.start - t0) / 1e6)},"dur_ms":${Json.num(dur / 1e6)},""" +
        s""""self_ms":${Json.num(self / 1e6)},"attrs":${Json.any(s.attrs)}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

/** Per-job-group stage statistics from a SparkListener. Each timed rep
  * runs under its own job group, so eager driver-side jobs that a plan
  * never shows (probes, histogram counts, broadcasts) are attributed to
  * the rep that caused them. */
final class StageListener(prefix: String) extends SparkListener {
  final class Acc {
    var jobs = 0; var stages = 0; var tasks = 0; var failedTasks = 0
    var busyMs = 0L; var cpuNs = 0L; var schedWaitMs = 0L; var fetchWaitMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var peakMem = 0L
    val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
    def skew: Double = {
      if (stageTaskMs.isEmpty) 0.0
      else {
        val slowest = stageTaskMs.values.maxBy(_.sum)
        val sorted = slowest.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med <= 0) 0.0 else sorted.last / med
      }
    }
  }
  private val byGroup = mutable.HashMap[String, Acc]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val openJobs = mutable.HashSet[Int]()

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (g.startsWith(prefix)) {
      acc(g).jobs += 1; openJobs += e.jobId
      e.stageIds.foreach(s => stageGroup(s) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs -= e.jobId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => acc(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach(g => task(acc(g), e))
  }

  private def task(a: Acc, e: SparkListenerTaskEnd): Unit = {
    a.tasks += 1
    if (e.reason != org.apache.spark.Success) a.failedTasks += 1
    val info = e.taskInfo
    val m = e.taskMetrics
    a.busyMs += info.duration
    a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      val overhead = m.executorDeserializeTime + m.resultSerializationTime + m.executorRunTime
      a.schedWaitMs += math.max(0L, info.duration - overhead - info.gettingResultTime)
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  /** Waits (bounded) until the asynchronous listener bus has delivered
    * the end of every traced job, then hands out the per-group totals. */
  def drained(timeoutMs: Long = 5000): Map[String, Acc] = {
    val end = System.currentTimeMillis() + timeoutMs
    while (synchronized(openJobs.nonEmpty) && System.currentTimeMillis() < end) Thread.sleep(20)
    Thread.sleep(100)
    synchronized(byGroup.toMap)
  }
}

/** Post-AQE operator census of an executed plan. */
object PlanStats extends AdaptiveSparkPlanHelper {
  final case class Ops(exchanges: Int, sorts: Int, broadcastJoins: Int, sortMergeJoins: Int)

  def of(df: DataFrame): Ops = {
    val p: SparkPlan = df.queryExecution.executedPlan
    def count(f: PartialFunction[SparkPlan, Unit]): Int = collectWithSubqueries(p) { case n if f.isDefinedAt(n) => 1 }.size
    Ops(
      count { case _: ShuffleExchangeLike => },
      count { case _: org.apache.spark.sql.execution.SortExec => },
      count { case _: BroadcastHashJoinExec => case _: BroadcastNestedLoopJoinExec => },
      count { case _: SortMergeJoinExec => })
  }

  def inMemoryScans(df: DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case n: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => 1
    }.size
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  def any(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${any(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(any).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
