package ltssbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Totals of Spark's task metrics and SQL executions for one label. */
final class Totals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var planMs = 0L
  var exchanges = 0L
  /** `numOutputRows` of the scans of persisted frames. */
  var cachedRows = 0L
  /** `numOutputRows` of the file-write commands. */
  var writtenRows = 0L
  /** max/median task time of every completed stage with two or more tasks. */
  val stageSkew = mutable.ArrayBuffer.empty[Double]
  var wallMs = 0L

  def add(o: Totals): Totals = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    input += o.input; planMs += o.planMs; exchanges += o.exchanges
    cachedRows += o.cachedRows; writtenRows += o.writtenRows
    stageSkew ++= o.stageSkew; wallMs += o.wallMs
    this
  }
}

/** A SparkListener attached from outside the program. Work is attributed
  * to a label in one of two ways:
  *  - the benchmark sets a job group `ltssbench:<label>` around each phase
  *    it drives (query build, query execution, setup steps);
  *  - work the program launches on its own threads (the streaming query's
  *    micro-batches) is labelled by the call site and plan tag of the SQL
  *    execution that launched it, e.g.
  *    `start at StreamingIngest.scala [Execute InsertIntoHadoopFsRelationCommand]`.
  * All callbacks run on the listener-bus thread; totals are read after
  * [[org.apache.spark.sql.ltssbench.Access.drainListeners]]. */
final class Trace extends SparkListener with AdaptiveSparkPlanHelper {
  import Trace.GroupPrefix

  private val totals = mutable.LinkedHashMap.empty[String, Totals]
  private val execLabel = mutable.HashMap.empty[Long, String]
  private val execStartMs = mutable.HashMap.empty[Long, Long]
  private val stageLabel = mutable.HashMap.empty[Int, String]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  /** SQL executions counted by the call site that launched them. */
  val callSites: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty

  private def of(label: String): Totals = totals.getOrElseUpdate(label, new Totals)

  /** `count at StreamingIngest.scala:175` -> `count at StreamingIngest.scala`:
    * the first non-Spark frame of the call site's long form, without the
    * line number, so labels survive edits to the program. */
  private def callSite(details: String, description: String): String = {
    val frames = Option(details).getOrElse("").split("\n").map(_.trim).filter(_.nonEmpty)
    val user = frames.find(f => !f.startsWith("org.apache.spark.") && !f.startsWith("scala."))
    val action = frames.headOption.map(_.takeWhile(_ != '(').split('.').last).getOrElse("")
    user match {
      case Some(f) =>
        val file = f.dropWhile(_ != '(').drop(1).takeWhile(c => c != ':' && c != ')')
        s"$action at $file"
      case None => Option(description).getOrElse("unknown").takeWhile(_ != ':')
    }
  }

  /** The file-write command if the plan has one, else whether it reads a
    * persisted frame, else the root operator. */
  private def planTag(info: SparkPlanInfo): String = {
    def names(i: SparkPlanInfo): Seq[String] = i.nodeName +: i.children.flatMap(names)
    val all = Option(info).map(names).getOrElse(Nil)
    all.find(_.contains("InsertIntoHadoopFsRelationCommand"))
      .orElse(all.find(_.startsWith("InMemoryTableScan")))
      .orElse(all.headOption).getOrElse("")
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      // a streaming query's executions all carry the call site of its
      // start(); the plan tells the micro-batch's own actions apart
      val site = s"${callSite(s.details, s.description)} [${planTag(s.sparkPlanInfo)}]"
      callSites(site) = callSites.getOrElse(site, 0L) + 1
      val label = s.jobGroupId.filter(_.startsWith(GroupPrefix))
        .map(_.stripPrefix(GroupPrefix)).getOrElse(s"site:$site")
      execLabel(s.executionId) = label
      execStartMs(s.executionId) = s.time
    case e: SparkListenerSQLExecutionEnd =>
      for (label <- execLabel.get(e.executionId)) {
        val t = of(label)
        t.wallMs += e.time - execStartMs.getOrElse(e.executionId, e.time)
        org.apache.spark.sql.ltssbench.Access.queryExecution(e).foreach { qe =>
          val phases = qe.tracker.phases
          t.planMs += Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
          t.exchanges += exchangeCount(qe.executedPlan)
          t.cachedRows += outputRows(qe.executedPlan) { case p: InMemoryTableScanExec => p }
          t.writtenRows += outputRows(qe.executedPlan) { case p: DataWritingCommandExec => p }
        }
      }
    case _ =>
  }

  /** Exchanges in the final adaptive plan, subqueries and reuses included. */
  private def exchangeCount(plan: SparkPlan): Long =
    collectWithSubqueries(plan) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
      case e: ReusedExchangeExec => e
    }.size.toLong

  /** `numOutputRows` summed over the nodes `pick` keeps, subqueries included. */
  private def outputRows(plan: SparkPlan)(pick: PartialFunction[SparkPlan, SparkPlan]): Long =
    collectWithSubqueries(plan)(pick).flatMap(_.metrics.get("numOutputRows")).map(_.value).sum

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val label = prop("spark.jobGroup.id").filter(_.startsWith(GroupPrefix))
      .map(_.stripPrefix(GroupPrefix))
      .orElse(prop("spark.sql.execution.id").map(_.toLong).flatMap(execLabel.get))
      .getOrElse("site:untracked")
    of(label).jobs += 1
    j.stageIds.foreach(id => if (!stageLabel.contains(id)) stageLabel(id) = label)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    for (label <- stageLabel.get(t.stageId); m <- Option(t.taskMetrics)) {
      val a = of(label)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      stageTaskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += t.taskInfo.duration
    }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val id = s.stageInfo.stageId
    for (label <- stageLabel.get(id)) {
      val a = of(label)
      a.stages += 1
      stageTaskMs.remove(id).filter(_.size >= 2).foreach { ds =>
        val sorted = ds.sorted
        val med = sorted(sorted.size / 2).max(1L)
        a.stageSkew += sorted.last.toDouble / med
      }
    }
  }

  /** Sum of every label accepted by `keep`. */
  def sum(keep: String => Boolean): Totals =
    totals.collect { case (l, t) if keep(l) => t }.foldLeft(new Totals)((acc, t) => acc.add(t))

  def labels: Seq[String] = totals.keys.toSeq
}

object Trace {
  val GroupPrefix = "ltssbench:"
}

/** Spans the benchmark records around its calls into each layer. Kept in
  * memory and written as JSON lines when the run ends. */
final class Spans {
  final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val origin = System.nanoTime()

  def add(name: String, parent: String, startNs: Long, endNs: Long): Unit =
    buf.add(Span(name, parent, startNs, endNs))

  def all: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    buf.asScala.toSeq.sortBy(_.startNs)
  }

  def write(path: String): Unit = {
    val lines = all.map { s =>
      Json.obj(Seq("span" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - origin) / 1e9, "dur_s" -> s.seconds))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
