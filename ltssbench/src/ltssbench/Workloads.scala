package ltssbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampType
import graft.SparkEntry
import graft.config.{EventSource, FilterSpec, LtssConfig}
import graft.streaming.StreamingIngest

/** Helpers shared by the workloads. */
object Common {
  def seconds(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Bytes and data files under `dir` (parquet parts only, no checksums or markers). */
  def dataFiles(dir: File): (Long, Long) = {
    if (!dir.exists()) return (0L, 0L)
    val files = mutable.ArrayBuffer.empty[File]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.getName.endsWith(".parquet") && !f.getName.startsWith(".")) files += f
    walk(dir)
    (files.size.toLong, files.map(_.length()).sum)
  }

  /** Persisted RDD blocks held by the session: (rdds, memory bytes, disk bytes). */
  def storage(s: SparkSession): (Long, Long, Long) = {
    val infos = s.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (infos.length.toLong, infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
  }

  /** [[storage]] once unreachable frames are released: blocks of RDDs the
    * program no longer references are freed by Spark's cleaner only after a
    * GC, so reading without one measures GC timing, not what is held. */
  def heldStorage(s: SparkSession): (Long, Long, Long) = {
    var last = (-1L, -1L, -1L)
    var now = storage(s)
    var tries = 0
    while (now != last && tries < 10) {
      System.gc()
      Thread.sleep(200)
      last = now
      now = storage(s)
      tries += 1
    }
    now
  }

  /** The program's scratch layouts built for `dataDir` (under java.io.tmpdir). */
  def scratchLayouts(dataDir: String): Seq[File] = {
    val suffix = dataDir.replaceAll("[^a-zA-Z0-9]", "_")
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_") && f.getName.endsWith(suffix))
  }

  /** Timestamps as NTZ so parquet values compare naive-to-naive with DuckDB
    * (the program's `Verify` dump does the same). */
  def ntz(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      if (f.dataType == TimestampType) col(f.name).cast("timestamp_ntz").as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
}

/** Per-layer metrics that only one kind of workload exercises. The other
  * kind reports each as an explicit 0, so a name missing from a traced
  * run's layers is a defect of the benchmark, and `run.py` fails on it. */
object Layers {
  val IngestOnly = Seq("streaming.add_batch_s", "streaming.planning_s", "streaming.get_batch_s",
    "streaming.log_commit_s", "streaming.batches", "streaming.idle_s", "transform.s",
    "transform.cpu_s", "transform.dropped_rows", "sink.s", "sink.cpu_s", "sink.shuffle_bytes",
    "sink.spill_bytes")
  val QueryOnly = Seq("operators.build_s", "operators.build_jobs", "plans.plan_s", "exec.s",
    "exec.cpu_s", "exec.cpu_util", "exec.jobs", "exec.stages", "exec.tasks", "exec.exchanges",
    "exec.shuffle_bytes", "exec.spill_bytes", "exec.input_bytes", "exec.skew", "exec.gc_s",
    "cache.persisted", "cache.mem_mb", "cache.disk_mb", "layout.build_s", "artifact.build_s")

  def zero(names: Seq[String]): Seq[(String, Double)] = names.map(_ -> 0.0)
}

/** Runs one registered query: build the DataFrame (eager work inside the
  * query function shows here), then materialise every row through the
  * `noop` writer. */
object QueryOp {
  def apply(r: Run, s: SparkSession, dir: String, name: String, parent: String): Unit = {
    val fn = SparkEntry.queries(name)
    val df = r.phase(s, s"build:$name", parent)(fn(s, dir))
    r.phase(s, s"exec:$name", parent)(df.write.format("noop").mode("overwrite").save())
  }

  /** Untimed check pass: each query's result written once as parquet for
    * the row-count and content-hash compare made by `run.py`. */
  def dumpResults(s: SparkSession, dir: String, names: Seq[String], out: String): Map[String, String] =
    names.map { name =>
      val err =
        try {
          Common.ntz(SparkEntry.queries(name)(s, dir)).coalesce(1)
            .write.mode("overwrite").parquet(s"$out/$name")
          ""
        } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
      name -> err
    }.toMap

  /** Per-layer totals of the traced query iterations. */
  def layers(r: Run, s: SparkSession, tracedWall: Double): Seq[(String, Double)] = {
    val t = r.trace.get
    r.drain(s)
    val build = t.sum(_.startsWith("build:"))
    val exec = t.sum(_.startsWith("exec:"))
    def spanS(prefix: String) = r.spans.all.filter(_.name.startsWith(prefix)).map(_.seconds).sum
    val execS = spanS("exec:")
    val buildS = spanS("build:")
    Seq(
      "operators.build_s" -> buildS,
      "operators.build_jobs" -> build.jobs.toDouble,
      "plans.plan_s" -> (build.planMs + exec.planMs) / 1000.0,
      "exec.s" -> execS,
      "exec.cpu_s" -> exec.cpuNs / 1e9,
      "exec.cpu_util" -> (if (tracedWall > 0) exec.cpuNs / 1e9 / (tracedWall * r.args.cores) else 0.0),
      "exec.jobs" -> exec.jobs.toDouble,
      "exec.stages" -> exec.stages.toDouble,
      "exec.tasks" -> exec.tasks.toDouble,
      "exec.exchanges" -> exec.exchanges.toDouble,
      "exec.shuffle_bytes" -> exec.shuffleWrite.toDouble,
      "exec.spill_bytes" -> exec.spill.toDouble,
      "exec.input_bytes" -> exec.input.toDouble,
      "exec.skew" -> Common.median(exec.stageSkew.toSeq),
      "exec.gc_s" -> exec.gcMs / 1000.0)
  }

  /** Per-query detail for the trace file. */
  def perQuery(r: Run, names: Seq[String]): Seq[Map[String, Any]] = {
    val t = r.trace.get
    names.map { n =>
      val b = t.sum(_ == s"build:$n")
      val e = t.sum(_ == s"exec:$n")
      Map("query" -> n, "build_jobs" -> b.jobs, "plan_ms" -> (b.planMs + e.planMs),
        "exec_cpu_s" -> e.cpuNs / 1e9, "exec_jobs" -> e.jobs, "exec_stages" -> e.stages,
        "exec_tasks" -> e.tasks, "exchanges" -> e.exchanges,
        "shuffle_bytes" -> e.shuffleWrite, "spill_bytes" -> e.spill, "input_bytes" -> e.input,
        "skew" -> Common.median(e.stageSkew.toSeq), "gc_s" -> e.gcMs / 1000.0)
    }
  }
}

/** Result fields every workload reports to `run.py`. */
final case class Outcome(
    setupS: Seq[Double],
    opS: Seq[Double],
    opsTraced: Seq[Boolean],
    work: Double,
    workWallS: Double,
    footprintBytes: Long,
    attempted: Long,
    failedOps: Long,
    errors: Seq[String],
    checks: Map[String, Any],
    layers: Seq[(String, Double)],
    traceDetail: Map[String, Any]) {

  def fields: Seq[(String, Any)] = {
    val untraced = opS.zip(opsTraced).collect { case (x, false) => x }
    val traced = opS.zip(opsTraced).collect { case (x, true) => x }
    val overhead =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else Common.median(traced) / Common.median(untraced) - 1.0
    Seq(
      "setup_s_each" -> setupS,
      "setup_s" -> Common.median(setupS),
      "op_count" -> opS.size,
      "op_p50_s" -> Common.median(opS),
      "work_per_s" -> (if (workWallS > 0) work / workWallS else 0.0),
      "footprint_mb" -> footprintBytes / 1e6,
      "attempted" -> attempted,
      "failed_ops" -> failedOps,
      "errors" -> errors.take(20),
      "checks" -> checks,
      "layers" -> (layers :+ ("trace.overhead" -> overhead)).toMap,
      "trace_detail" -> traceDetail)
  }
}

/** `ingest`: backlog replays through the streaming pipeline. */
object Ingest {

  /** Entity filter, passed in by `run.py` as system properties so the
    * generator's expected counts and the pipeline's config have one source. */
  def config(): LtssConfig = {
    def list(k: String) = sys.props.get(s"ltssbench.$k").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    LtssConfig(
      enableLocation = true,
      include = FilterSpec(domains = list("include.domains"), entityGlobs = list("include.globs")),
      exclude = FilterSpec(entities = list("exclude.entities")))
  }

  final case class Replay(wallS: Double, batches: Seq[Map[String, Any]], rows: Long, error: Option[String])

  /** One closed-input replay: start the query over the full backlog, drain, stop. */
  def replay(r: Run, s: SparkSession, source: String, sink: String, chk: String,
      cfg: LtssConfig, label: String): Replay = {
    val t0 = System.nanoTime()
    try {
      val events = StreamingIngest.readEvents(s, EventSource.JsonDir(source, r.args.maxFiles))
      val q = StreamingIngest.start(events, cfg, sink, chk)
      StreamingIngest.drainAndStop(q)
      val wall = Common.seconds(t0, System.nanoTime())
      q.exception.foreach(e => throw e)
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val batches = progress.map { p =>
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue()).getOrElse(0L)
        Map[String, Any]("batch" -> p.batchId, "rows" -> p.numInputRows,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
          "planning_ms" -> ms("queryPlanning"), "get_batch_ms" -> ms("getBatch"),
          "latest_offset_ms" -> ms("latestOffset"),
          "commit_ms" -> (ms("walCommit") + ms("commitOffsets")))
      }
      if (r.tracing) {
        // progress timestamps are wall-clock; place the batch spans on the
        // span clock
        val nowMs = System.currentTimeMillis()
        val nowNs = System.nanoTime()
        batches.foreach { b =>
          val start = nowNs - (nowMs - b("start_ms").asInstanceOf[Long]) * 1000000L
          r.spans.add(s"batch:${b("batch")}", label, start,
            start + b("trigger_ms").asInstanceOf[Long] * 1000000L)
        }
      }
      Replay(wall, batches, progress.map(_.numInputRows).sum, None)
    } catch {
      case e: Throwable =>
        Replay(Common.seconds(t0, System.nanoTime()), Nil, 0L,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    }
  }

  def run(r: Run): Seq[(String, Any)] = {
    val a = r.args
    val cfg = config()
    var s: SparkSession = null
    // each setup starts a session and replays a small warm-up backlog (its
    // first batch carries the JIT and codegen cost); the last setup's
    // session is the one timed
    val setups = (0 until a.setups).map { k =>
      val t0 = System.nanoTime()
      s = r.newSession()
      val warm = r.span(s"setup:$k", "") {
        replay(r, s, s"${a.data}/warm", s"${a.work}/setup$k/sink", s"${a.work}/setup$k/chk",
          cfg, s"setup:$k")
      }
      warm.error.foreach(e => throw new IllegalStateException(s"warm-up replay failed: $e"))
      Common.seconds(t0, System.nanoTime())
    }

    val replays = mutable.ArrayBuffer.empty[(Replay, Boolean, String)]
    val t0 = System.nanoTime()
    var i = 0
    // a traced run needs one untraced and one traced iteration at least
    while (Common.seconds(t0, System.nanoTime()) < a.seconds || (a.trace && i < 2)) {
      val traced = a.trace && i % 2 == 1
      r.traced(s, traced)
      val sink = s"${a.work}/replay$i/sink"
      val rep = r.span(s"replay:$i", "")(
        replay(r, s, s"${a.data}/backlog", sink, s"${a.work}/replay$i/chk", cfg, s"replay:$i"))
      replays += ((rep, traced, sink))
      i += 1
    }
    r.traced(s, on = false)

    // untimed checks: every replay's sink against the generator's counts
    val sinkCounts = replays.map { case (rep, _, sink) =>
      if (rep.error.isDefined || !new File(sink).exists()) Map[String, Any]("error" -> rep.error.getOrElse("no sink"))
      else {
        val df = s.read.parquet(sink)
        val perChunk = df.groupBy(col("chunk").cast("string")).count().collect()
          .map(x => x.getString(0) -> x.getLong(1)).toMap
        Map[String, Any]("rows" -> perChunk.values.sum, "chunks" -> perChunk,
          "located" -> df.filter(col("location").isNotNull).count(), "input_rows" -> rep.rows)
      }
    }

    val allBatches = replays.flatMap { case (rep, traced, _) => rep.batches.map(_ -> traced) }
    val opS = allBatches.map(_._1("trigger_ms").asInstanceOf[Long] / 1000.0).toSeq
    val lastSink = replays.lastOption.map(_._3).map(p => new File(p))
    val (files, bytes) = lastSink.map(Common.dataFiles).getOrElse((0L, 0L))
    var drops = Map.empty[String, Any]
    val layers =
      if (!a.trace) Nil
      else {
        val t = r.trace.get
        r.drain(s)
        val traced = replays.filter(_._2)
        val tb = traced.flatMap(_._1.batches)
        def sumMs(k: String) = tb.map(_(k).asInstanceOf[Long]).sum / 1000.0
        val span = traced.map { case (rep, _, _) =>
          if (rep.batches.isEmpty) 0.0 else {
            val first = rep.batches.head("start_ms").asInstanceOf[Long]
            val last = rep.batches.last
            (last("start_ms").asInstanceOf[Long] + last("trigger_ms").asInstanceOf[Long] - first) / 1000.0
          }
        }.sum
        // per micro-batch: the count over the persisted batch materialises the
        // JSON scan and S2/F2/P1-P4; the file-write command is the sink
        val transform = t.sum(l => l.startsWith("site:") && l.endsWith("[InMemoryTableScan]"))
        val sink = t.sum(l => l.startsWith("site:") && l.contains("InsertIntoHadoopFsRelationCommand"))
        // drops as the program's own executions count them: the batches'
        // input rows (progress), the rows the persisted batch holds after
        // S2/F2 (read by the P4 count) and the rows the sink wrote
        val inputRows = traced.map(_._1.rows).sum
        drops = Map("traced_replays" -> traced.size, "s2_f2" -> (inputRows - transform.cachedRows),
          "p4" -> (transform.cachedRows - sink.writtenRows))
        Seq(
          "streaming.add_batch_s" -> sumMs("add_batch_ms"),
          "streaming.planning_s" -> sumMs("planning_ms"),
          "streaming.get_batch_s" -> sumMs("get_batch_ms"),
          "streaming.log_commit_s" -> sumMs("commit_ms"),
          "streaming.batches" -> tb.size.toDouble,
          "streaming.idle_s" -> (span - sumMs("trigger_ms")),
          "transform.s" -> transform.wallMs / 1000.0,
          "transform.cpu_s" -> transform.cpuNs / 1e9,
          "transform.dropped_rows" -> (inputRows - sink.writtenRows).toDouble,
          "sink.s" -> sink.wallMs / 1000.0,
          "sink.cpu_s" -> sink.cpuNs / 1e9,
          "sink.shuffle_bytes" -> sink.shuffleWrite.toDouble,
          "sink.spill_bytes" -> sink.spill.toDouble,
          "sink.files" -> files.toDouble,
          "sink.bytes" -> bytes.toDouble) ++ Layers.zero(Layers.QueryOnly)
      }
    val detail: Map[String, Any] =
      if (!a.trace) Map.empty
      else Map(
        "sql_executions_by_call_site" -> r.trace.get.callSites.toMap,
        "labels" -> r.trace.get.labels,
        "batches" -> allBatches.map { case (b, tr) => b + ("traced" -> tr) })
    val errors = replays.flatMap(_._1.error).toSeq
    Outcome(
      setupS = setups,
      opS = opS,
      opsTraced = allBatches.map(_._2).toSeq,
      work = replays.map(_._1.rows).sum.toDouble,
      workWallS = replays.map(_._1.wallS).sum,
      footprintBytes = bytes,
      attempted = replays.size.toLong,
      failedOps = errors.size.toLong,
      errors = errors,
      checks = Map("replays" -> sinkCounts.toSeq) ++ (if (a.trace) Map("drops" -> drops) else Map.empty),
      layers = layers,
      traceDetail = detail).fields
  }
}

/** Query workloads share the setup/timed-loop/check skeleton. */
abstract class QueryWorkload {
  /** The queries every iteration runs once each (the unit of `work_per_s`). */
  def queries: Seq[String]
  /** Build the artifacts that must exist before timing; called once per setup. */
  def prepare(r: Run, s: SparkSession, dir: String, setup: String): Unit
  /** One timed iteration; returns per-op durations and errors. */
  def iteration(r: Run, s: SparkSession, dir: String, i: Int, label: String): (Seq[Double], Seq[String])

  def run(r: Run): Seq[(String, Any)] = {
    val a = r.args
    var s: SparkSession = null
    var dir = ""
    val setups = (0 until a.setups).map { k =>
      val t0 = System.nanoTime()
      s = r.newSession()
      // a fresh copy of the inputs per setup: the program memoises its
      // layouts per JVM and dataset path, so each setup builds them anew
      dir = s"${a.data}/rep$k"
      r.span(s"setup:$k", "")(prepare(r, s, dir, s"setup:$k"))
      Common.seconds(t0, System.nanoTime())
    }
    // one untimed iteration first: the first pass after the setups still
    // carries JIT compilation of the query paths and read ~20 % slower
    r.span("warmup", "")(iteration(r, s, dir, -1, "warmup"))
    val names = queries
    val ops = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val errors = mutable.ArrayBuffer.empty[String]
    var tracedWall = 0.0
    val cachePerIteration = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var i = 0
    // a traced run needs one untraced and one traced iteration at least
    while (Common.seconds(t0, System.nanoTime()) < a.seconds || (a.trace && i < 2)) {
      val traced = a.trace && i % 2 == 1
      r.traced(s, traced)
      val it0 = System.nanoTime()
      val (times, errs) = iteration(r, s, dir, i, s"iteration:$i")
      val wall = Common.seconds(it0, System.nanoTime())
      if (traced) {
        tracedWall += wall
        val (n, mem, disk) = Common.storage(s)
        cachePerIteration += Map("iteration" -> i, "persisted" -> n, "mem_bytes" -> mem, "disk_bytes" -> disk)
      }
      ops ++= times.map(_ -> traced)
      errors ++= errs
      i += 1
    }
    val wallS = Common.seconds(t0, System.nanoTime())
    r.traced(s, on = false)

    val (nPersisted, mem, disk) = Common.heldStorage(s)
    val layouts = Common.scratchLayouts(dir)
    val layoutBytes = layouts.map(f => Common.dataFiles(f)._2).sum
    val failedQueries = QueryOp.dumpResults(s, dir, names, s"${a.work}/results")
    val layers =
      if (!a.trace) Nil
      else {
        val sinkDirs = layouts.filter(_.getName.startsWith("graft_ltss_layout"))
        val (sinkFiles, sinkBytes) = sinkDirs.map(Common.dataFiles)
          .foldLeft((0L, 0L)) { case ((f, b), (f2, b2)) => (f + f2, b + b2) }
        val setupSpans = r.spans.all.filter(_.parent.startsWith("setup:"))
        def perSetup(prefix: String) =
          setupSpans.filter(_.name.startsWith(prefix)).map(_.seconds).sum / a.setups
        QueryOp.layers(r, s, tracedWall) ++ Seq(
          "sink.files" -> sinkFiles.toDouble,
          "sink.bytes" -> sinkBytes.toDouble,
          "cache.persisted" -> nPersisted.toDouble,
          "cache.mem_mb" -> mem / 1e6,
          "cache.disk_mb" -> disk / 1e6,
          "layout.build_s" -> perSetup("layout.build:"),
          "artifact.build_s" -> perSetup("artifact.build:")) ++ Layers.zero(Layers.IngestOnly)
      }
    val detail: Map[String, Any] =
      if (!a.trace) Map.empty
      else Map(
        "queries" -> QueryOp.perQuery(r, names),
        "cache_per_traced_iteration" -> cachePerIteration.toSeq,
        "sql_executions_by_call_site" -> r.trace.get.callSites.toMap)
    Outcome(
      setupS = setups,
      opS = ops.map(_._1).toSeq,
      opsTraced = ops.map(_._2).toSeq,
      work = i.toDouble * names.size,
      workWallS = wallS,
      footprintBytes = mem + disk + layoutBytes,
      attempted = i.toLong * names.size,
      failedOps = errors.size.toLong,
      errors = errors.toSeq,
      checks = Map(
        "queries" -> names,
        "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
        "result_errors" -> failedQueries.filter(_._2.nonEmpty),
        "executions_per_query" -> i),
      layers = layers,
      traceDetail = detail).fields
  }
}

/** `dashboard`: closed loop of refreshes; each refresh runs every panel
  * concurrently on at most `cores` threads and waits for all of them. */
object Dashboard extends QueryWorkload {
  val Panels = Seq("ltss_latest", "ltss_time_bucket", "ltss_transitions", "ltss_history_layout",
    "ltss_json_attr_layout", "ltss_chunk_stats")

  private var pool: java.util.concurrent.ExecutorService = _

  def queries: Seq[String] = Panels

  def prepare(r: Run, s: SparkSession, dir: String, setup: String): Unit = {
    import graft.operators.Queries
    r.span("layout.build:ltss_layout", setup)(Queries.ltssLayoutPath(s, dir))
    r.span("layout.build:ltss_attr_layout", setup)(Queries.ltssAttrLayoutPath(s, dir))
  }

  def iteration(r: Run, s: SparkSession, dir: String, i: Int, label: String): (Seq[Double], Seq[String]) = {
    if (pool == null) pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(r.args.cores, Panels.size)),
      (task: Runnable) => { val t = new Thread(task, "ltssbench-panel"); t.setDaemon(true); t })
    val t0 = System.nanoTime()
    val futures = Panels.map { p =>
      pool.submit(new java.util.concurrent.Callable[Option[String]] {
        def call(): Option[String] =
          try { r.span(s"query:$p", label)(QueryOp(r, s, dir, p, s"query:$p")); None }
          catch { case e: Throwable => Some(s"$p: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      })
    }
    val errs = futures.flatMap(_.get())
    (Seq(Common.seconds(t0, System.nanoTime())), errs)
  }
}

/** `curation`: one client making back-to-back passes over the fixed
  * fixture, every pass in the same order (the list passed in by `run.py`).
  * The order is not drawn from the seed: on this program the order in
  * which the queries first run shifts the JVM's compiled code enough to
  * move every later query, so a seeded order makes the timings depend on
  * the seed. */
object Curation extends QueryWorkload {
  lazy val queries: Seq[String] =
    sys.props.getOrElse("ltssbench.curation.queries", "").split(',').filter(_.nonEmpty).toSeq

  def prepare(r: Run, s: SparkSession, dir: String, setup: String): Unit =
    // each query's first run builds its layouts and CachedFrames artifacts
    queries.foreach(q => r.span(s"artifact.build:$q", setup)(QueryOp(r, s, dir, q, s"artifact.build:$q")))

  def iteration(r: Run, s: SparkSession, dir: String, i: Int, label: String): (Seq[Double], Seq[String]) = {
    val out = queries.map { q =>
      val t0 = System.nanoTime()
      val err =
        try { r.span(s"query:$q", label)(QueryOp(r, s, dir, q, s"query:$q")); None }
        catch { case e: Throwable => Some(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      (Common.seconds(t0, System.nanoTime()), err)
    }
    (out.map(_._1), out.flatMap(_._2))
  }
}
