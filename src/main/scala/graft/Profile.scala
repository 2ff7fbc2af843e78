package graft

import org.apache.spark.sql.{GraftStatus, SparkSession}
import org.apache.spark.status.api.v1.{StageData, StageStatus}

/** Where a query's time went, read from Spark's own status stores:
  *
  *   runMain graft.Profile <sfDir> <query…> [-v]
  *
  * Each query runs once, under its own job group, on
  * `local[SPARK_GRAFT_CPUS]`. Two phases are timed apart: `build_s`, the
  * query function's eager work (route counts, checkpoints, collects), and
  * `materialize_s`, running the returned frame to the end through the
  * `noop` writer. One JSON line per query sums both phases' jobs: stages,
  * tasks, executor run/CPU/GC time, shuffle, spill and input bytes, the
  * max/median task time of the heaviest stage with two or more tasks
  * (`skew`, 0 when there is none), the call sites with the most
  * executor time, and the shape of the materialising execution's final
  * plan. `-v` prints that plan after the line. */
object Profile {

  /** Operator counts of a formatted final plan, read off its tree lines:
    * the `(id) Operator` details blocks repeat every operator. Nested
    * plans (a cached frame's, each adaptive plan's initial form) count
    * as printed. */
  final case class PlanCounts(
      exchanges: Int, reused: Int, broadcast: Int, cartesian: Int, wholestage: Int) {
    def json: String = s"""{"exchanges":$exchanges,"reused":$reused,""" +
      s""""broadcast":$broadcast,"cartesian":$cartesian,"wholestage":$wholestage}"""
  }

  object PlanCounts {
    private val DetailsHead = """\(\d+\) """.r
    private val CodegenId = """\[codegen id : (\d+)\]""".r

    def of(plan: String): PlanCounts = {
      val tree = plan.split("\n\\s*\n")
        .filter(b => DetailsHead.findPrefixOf(b).isEmpty).flatMap(_.linesIterator).toSeq
      def n(p: String => Boolean) = tree.count(p)
      PlanCounts(
        // "Exchange " alone also matches "ReusedExchange " — exclude it
        // so the exchanges/reused split doesn't double-count reuse
        exchanges = n(l => l.contains("Exchange ") && !l.contains("ReusedExchange")),
        reused = n(_.contains("ReusedExchange")),
        broadcast = n(_.contains("BroadcastExchange")),
        cartesian = n(_.contains("Cartesian")),
        // a formatted plan tags each codegen'd operator's details with
        // its stage id: distinct ids = whole-stage codegen span count
        wholestage = CodegenId.findAllMatchIn(plan).map(_.group(1)).toSet.size)
    }
  }

  final case class QueryProfile(
      name: String, buildS: Double, materializeS: Double,
      jobs: Int, stages: Int, tasks: Long,
      runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, input: Long,
      skew: Double, callSites: Seq[(String, Long)], plan: String, counts: PlanCounts) {
    def json: String = {
      import Bench.q
      val sites = callSites.map { case (s, ms) => q(s) + ":" + ms / 1e3 }.mkString("{", ",", "}")
      s"""{"query":${q(name)},"build_s":$buildS,"materialize_s":$materializeS,""" +
        s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""executor_run_s":${runMs / 1e3},"executor_cpu_s":${cpuNs / 1e9},"gc_s":${gcMs / 1e3},""" +
        s""""shuffle_read_bytes":$shuffleRead,"shuffle_write_bytes":$shuffleWrite,""" +
        s""""spill_bytes":$spill,"input_bytes":$input,"skew":$skew,""" +
        s""""call_sites_s":$sites,"plan":${counts.json}}"""
    }
  }

  private val TopCallSites = 5

  def profile(spark: SparkSession, sfDir: String, name: String): QueryProfile = {
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query: $name"))
    val sc = spark.sparkContext
    val group = s"graft.Profile:$name:${System.nanoTime()}"
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
    def lastExecution() = {
      GraftStatus.drain(spark)
      GraftStatus.executions(spark).lastOption.fold(-1L)(_.executionId)
    }
    val start = lastExecution()
    // no group description: it would replace each SQL action's call site
    sc.setJobGroup(group, null)
    val (buildS, built, materializeS) =
      try {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val buildS = secs(t0)
        val built = lastExecution()
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (buildS, built, secs(t1))
      } finally sc.clearJobGroup()
    GraftStatus.drain(spark)
    val execs = GraftStatus.executions(spark).filter(_.executionId > start)

    val jobs = GraftStatus.jobs(spark, group)
    val stages = jobs.flatMap(_.stageIds).distinct
      .flatMap(id => GraftStatus.stageAttempts(spark, id))
      .filter(_.status != StageStatus.SKIPPED)
    def sum(f: StageData => Long) = stages.map(f).sum
    val skew = stages.filter(_.numCompleteTasks > 1).sortBy(-_.executorRunTime)
      .headOption.fold(0.0) { s =>
        val ds = GraftStatus.tasks(spark, s).flatMap(_.duration).sorted
        ds.last.toDouble / math.max(1L, ds(ds.size / 2))
      }
    // a stage's call site is its SQL action's: stages that adaptive
    // execution submits from its own threads carry no user frame
    val actionOf = execs.flatMap(e => e.stages.map(_ -> e.description)).toMap
    val sites = stages.groupMapReduce(s => actionOf.getOrElse(s.stageId, s.name))(
      _.executorRunTime)(_ + _).toSeq.sortBy(-_._2).take(TopCallSites)
    // the materialising write is the first root execution after the build
    val plan = execs.find(e => e.executionId > built && e.rootExecutionId == e.executionId)
      .fold("")(_.physicalPlanDescription)
    QueryProfile(name, buildS, materializeS,
      jobs.size, stages.size, sum(_.numCompleteTasks.toLong),
      sum(_.executorRunTime), sum(_.executorCpuTime), sum(_.jvmGcTime),
      sum(_.shuffleReadBytes), sum(_.shuffleWriteBytes),
      sum(s => s.memoryBytesSpilled + s.diskBytesSpilled), sum(_.inputBytes),
      skew, sites, plan, PlanCounts.of(plan))
  }

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_.startsWith("-"))
    require(rest.length >= 2, "usage: graft.Profile <sfDir> <query…> [-v]")
    val (sfDir, names) = (rest.head, rest.tail.toSeq)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    val spark = GraftSession.local(GraftSession.envCpus)
    graft.plans.GraftExtensions.install(spark)
    for (n <- names) {
      val p = profile(spark, sfDir, n)
      println(p.json)
      if (flags.contains("-v")) println(p.plan)
    }
    spark.stop()
  }
}
