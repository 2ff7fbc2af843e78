package ltssbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the run result and the trace. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Command line of one benchmark run (passed by `run.py`). */
final case class Args(
    workload: String,
    data: String,
    work: String,
    seconds: Double,
    trace: Boolean,
    out: String,
    cores: Int,
    setups: Int,
    maxFiles: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = get("workload"),
      data = get("data"),
      work = get("work"),
      seconds = get("seconds").toDouble,
      trace = get("trace") == "1",
      out = get("out"),
      cores = Runtime.getRuntime.availableProcessors(),
      setups = get("setups").toInt,
      maxFiles = get("max-files").toInt)
  }
}

/** Shared plumbing of one run: sessions, the optional trace and the spans. */
final class Run(val args: Args) {
  val spans = new Spans
  val trace: Option[Trace] = if (args.trace) Some(new Trace) else None
  private var current: SparkSession = _
  /** True while a traced iteration runs: only then are job groups set and
    * phase spans kept. */
  @volatile var tracing = false

  /** Session shaped like the program's own benchmark sessions, with every
    * scratch location inside the run's work directory. */
  def newSession(): SparkSession = {
    if (current != null) stopSession()
    val s = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("ltssbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.install(s)
    current = s
    s
  }

  def stopSession(): Unit = if (current != null) {
    current.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    current = null
  }

  /** Runs `body`; in a traced iteration it runs under the job group
    * `ltssbench:<label>` and a span is recorded around it. */
  def phase[T](s: SparkSession, label: String, parent: String)(body: => T): T =
    if (!tracing) body
    else {
      val sc = s.sparkContext
      sc.setJobGroup(Trace.GroupPrefix + label, label)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(label, parent, t0, System.nanoTime())
        sc.clearJobGroup()
      }
    }

  /** Records a span around `body` without changing the job group (for
    * spans that enclose phases). */
  def span[T](label: String, parent: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally spans.add(label, parent, t0, System.nanoTime())
  }

  /** Attach the listener for the traced iterations only; detaching drains
    * the bus first so no event of a traced iteration is lost. */
  def traced(s: SparkSession, on: Boolean): Unit = trace.foreach { t =>
    org.apache.spark.sql.ltssbench.Access.drainListeners(s.sparkContext)
    s.sparkContext.removeSparkListener(t)
    if (on) s.sparkContext.addSparkListener(t)
    tracing = on
  }

  def drain(s: SparkSession): Unit =
    org.apache.spark.sql.ltssbench.Access.drainListeners(s.sparkContext)
}

object Canary {
  @volatile private var sink = 0L

  /** Single-threaded xorshift spin: pure compute, no allocation. It reads
    * slower when the host steals CPU and is blind to plan changes. */
  def spinSeconds(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < 50000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink = x
      (System.nanoTime() - t0) / 1e9
    }
    Seq(once(), once(), once()).sorted.apply(1)
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    new File(args.work).mkdirs()
    val run = new Run(args)
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadBefore = load.getSystemLoadAverage
    val canaryBefore = Canary.spinSeconds()
    val result = args.workload match {
      case "ingest" => Ingest.run(run)
      case "dashboard" => Dashboard.run(run)
      case "curation" => Curation.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val canaryAfter = Canary.spinSeconds()
    run.stopSession()
    run.spans.write(s"${args.work}/spans.jsonl")
    val host = Map(
      "cores" -> args.cores,
      "jvm_load_avg_before" -> loadBefore,
      "jvm_load_avg_after" -> load.getSystemLoadAverage,
      "jvm_spin_canary_s_before" -> canaryBefore,
      "jvm_spin_canary_s_after" -> canaryAfter)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.out),
      Json.obj(result :+ ("host" -> host)) + "\n")
  }
}
