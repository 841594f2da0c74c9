package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The `curation_scale` benchmark process:
  *
  * {{{
  * Main <seed> <seconds> <trace 0|1> <workDir> <outFile>
  * }}}
  *
  * Setup (generation, a fresh store) runs three times, each in its own
  * directory, and a warm-up pass follows, all before the
  * measured window. The window runs whole passes until `seconds` have
  * elapsed, at least one; output checks run after it. Everything observed
  * is written to `outFile` as JSON lines (see [[Trace]]);
  * `perfbench/run.py` turns it into metrics.
  */
object Main {
  val SetupReps = 3

  def session(traced: Boolean, work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    // Built the way graft.Bench builds its session, with the engine's
    // single-JVM confs read from the public API, so a change to them shows.
    var b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.fs.file.impl", classOf[graft.hadoop.FastLocalFileSystem].getName)
    graft.Graft.singleJvmScaleConfs.foreach { case (k, v) => b = b.config(k, v) }
    if (traced) b = b
      .config("spark.extraListeners", classOf[JobTrace].getName)
      .config("spark.sql.queryExecutionListeners", classOf[PlanTrace].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  private def timedMs(body: => Unit): Double = {
    val t0 = Trace.nowMs(); body; Trace.nowMs() - t0
  }

  def main(args: Array[String]): Unit = {
    val Array(seedArg, secondsArg, traceArg, workArg, out) = args
    val seed = seedArg.toLong
    val traced = traceArg == "1"
    val work = Paths.get(workArg).toAbsolutePath
    Trace.runId = s"curation_scale-s$seed-t$traceArg"
    val spark = session(traced, work)
    Trace.add("meta", "session_ready_ms" -> Trace.nowMs(),
      "cpus" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "conf_source" -> "graft.Graft.singleJvmScaleConfs",
      "confs" -> graft.Graft.singleJvmScaleConfs)
    var failed = false
    try {
      val w = new CurationScale(spark, seed)
      val reps = (0 until SetupReps).map { i =>
        val dir = work.resolve(s"rep$i")
        deleteTree(dir)
        val ms = timedMs(w.setup(dir))
        if (i > 0) deleteTree(work.resolve(s"rep${i - 1}"))
        ms
      }
      val warmMs = timedMs(w.warmup())
      Trace.add("setup", "reps_ms" -> reps, "warmup_ms" -> warmMs)
      Trace.jvmStats()
      val t0 = Trace.nowMs()
      val deadline = t0 + secondsArg.toDouble * 1000
      var calls = 0
      // Whole passes until the deadline, and always at least one.
      do {
        val id = Trace.newId()
        val p0 = Trace.nowMs()
        calls += w.pass(id)
        Trace.add("span", "id" -> id, "name" -> "pass", "start" -> p0, "end" -> Trace.nowMs(),
          "parent" -> 0L, "run" -> Trace.runId, "ok" -> true)
      } while (Trace.nowMs() < deadline)
      Trace.add("window", "start" -> t0, "end" -> Trace.nowMs(), "calls" -> calls)
      Trace.jvmStats()
      if (traced) w.traced()
      w.check(work.resolve("query_results"))
    } catch {
      case NonFatal(e) =>
        failed = true
        val sw = new java.io.StringWriter
        e.printStackTrace(new java.io.PrintWriter(sw))
        Trace.add("error", "message" -> sw.toString)
    } finally {
      Trace.write(out)
      spark.stop()
    }
    if (failed) sys.exit(1)
  }
}
