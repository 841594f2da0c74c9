package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory record of everything one benchmark process observed, written
  * as JSON lines when the run ends. Record kinds:
  *
  *  - `span`: one call the benchmark made into a layer (name, start, end in
  *    epoch ms, parent span id, run id);
  *  - `job`: one Spark job with its task metrics, from [[JobTrace]];
  *  - `plan`: the Catalyst phases of one action, from [[PlanTrace]];
  *  - anything else the workload reports (`meta`, `check`, `walk`, ...).
  *
  * Spans carry no layer logic: the analysis (self time, job coverage,
  * per-op rollups) is done by `perfbench/stats.py` over the written file.
  */
object Trace {
  private val lines = new ConcurrentLinkedQueue[String]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1L)
  @volatile var runId: String = "run"

  def add(kind: String, fields: (String, Any)*): Unit =
    lines.add(json(("kind" -> kind) +: fields))

  /** Time `body` as a span. A failed call is recorded with ok=false and
    * rethrown, so it counts as attempted and failed.
    */
  def span[T](name: String, parent: Long = 0L)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val t0 = nowMs()
    var ok = false
    try { val r = body; ok = true; r }
    finally add("span", "id" -> id, "name" -> name, "start" -> t0, "end" -> nowMs(),
      "parent" -> parent, "run" -> runId, "ok" -> ok)
  }

  def newId(): Long = nextId.getAndIncrement()

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  def jvmStats(): Unit = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    // Peak of the old generation: the heap's long-lived footprint (young
    // pools peak at their capacity on every cycle).
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .map(_.getPeakUsage.getUsed).sum
    add("jvm", "gc_ms" -> gcMs, "heap_peak_mb" -> heapPeak / 1048576.0,
      "rss_peak_mb" -> rssPeakMb())
  }

  /** VmHWM of this process, in MB (0 where /proc is unavailable). */
  def rssPeakMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: java.io.IOException => 0.0 }

  def write(path: String): Unit =
    Files.write(Paths.get(path), lines.asScala.mkString("", "\n", "\n").getBytes(UTF_8))

  def json(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Write the record at JVM exit to the path named by the system property
    * `perfbench.trace.out` — how a process the benchmark does not control
    * (the shipped `graft.server.Serve`) hands its listener records back.
    */
  private[perfbench] lazy val installExitDump: Unit =
    sys.props.get("perfbench.trace.out").foreach { p =>
      Runtime.getRuntime.addShutdownHook(new Thread(() => { jvmStats(); write(p) }))
    }
}

/** Spark job spans with their task totals. Attach with
  * `spark.extraListeners=perfbench.JobTrace`.
  */
final class JobTrace(conf: SparkConf) extends SparkListener {
  def this() = this(new SparkConf(false))
  Trace.installExitDump

  private final class Acc(val start: Long) {
    var tasks, runMs, cpuNs, gcMs, shufW, shufR, spill, input = 0L
  }
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobs = new ConcurrentHashMap[Int, Acc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, new Acc(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val acc = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    if (m != null) acc.foreach { a =>
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shufW += m.shuffleWriteMetrics.bytesWritten
      a.shufR += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { a =>
      Trace.add("job", "id" -> e.jobId, "start" -> a.start.toDouble, "end" -> e.time.toDouble,
        "ok" -> (e.jobResult == JobSucceeded), "tasks" -> a.tasks, "task_ms" -> a.runMs,
        "cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs, "shuffle_write_b" -> a.shufW,
        "shuffle_read_b" -> a.shufR, "spill_b" -> a.spill, "input_b" -> a.input)
    }
}

/** Catalyst phase spans (analysis, optimization, planning) of every action,
  * from the `QueryPlanningTracker`. Attach with
  * `spark.sql.queryExecutionListeners=perfbench.PlanTrace`.
  */
final class PlanTrace extends QueryExecutionListener {
  Trace.installExitDump

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    Trace.add("plan", ("func" -> funcName) +: Seq("analysis", "optimization", "planning")
      .flatMap(p => phases.get(p).toSeq.flatMap(s =>
        Seq(s"${p}_start" -> s.startTimeMs.toDouble, s"${p}_end" -> s.endTimeMs.toDouble))): _*)
  }
}
