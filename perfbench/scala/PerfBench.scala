package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.{GraftSession, PipelineCaches}

/** Closed-loop benchmark harness: one client thread submits the named
  * registered queries one after another in a local[Cores] JVM, each
  * forced through the noop sink, and passes repeat until the time
  * budget is spent. Everything is measured from outside the program:
  * the query function (build) and the noop write (exec) are timed, and
  * the traced run adds one SparkListener and one QueryExecutionListener.
  * Plan time comes from the write's own QueryExecution: the write
  * optimises and plans the query itself, so planning the DataFrame
  * beforehand would time a plan the write never uses.
  *
  * Usage (normally through run.py, which builds, generates the data
  * and checks results):
  *   PerfBench --data <dir> --names q1,q2,.. --seconds S
  *             --trace 0|1 --out <dir>
  *
  * Writes `<out>/result.json` (timings and layer counters),
  * `<out>/oracle_sql.json` and each query's result as parquet under
  * `<out>/check/<query>/` for the oracle compare done by run.py.
  */
object PerfBench {

  final case class Opts(data: String, names: Seq[String],
      seconds: Double, trace: Boolean, out: String)

  /** Worker threads of the local master. */
  val Cores = 4

  /** A query running longer than this is cancelled, counted failed and
    * left out of the later passes. It is twice the time a whole cold
    * check pass of either workload takes on 4 vCPUs, and a run with one
    * hung query still ends within run.py's JVM deadline. */
  val QueryTimeoutS = 40.0

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(need("--data"), need("--names").split(',').toSeq,
      need("--seconds").toDouble, need("--trace") == "1", need("--out"))
  }

  type Query = (SparkSession, String) => DataFrame

  private def now(): Long = System.nanoTime()
  private def secs(from: Long, to: Long): Double = (to - from) / 1e9

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the JIT compiler threads have used, from /proc. The JIT
    * is still compiling Catalyst and Spark code many passes after the
    * warm-up, by an amount that differs from run to run; run.py keeps
    * the compiler threads alive so none of their time is lost. */
  def jitCpuS(): Double =
    new java.io.File("/proc/self/task").listFiles().toSeq.map { t =>
      try {
        val st = Files.readString(t.toPath.resolve("stat"))
        if (!st.substring(st.indexOf('('), st.lastIndexOf(')')).contains("CompilerThre")) 0.0
        else {
          // utime and stime, in clock ticks of 10 ms
          val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) / 100.0
        }
      } catch { case _: java.io.IOException => 0.0 }
    }.sum

  def session(): SparkSession =
    GraftSession.configure(SparkSession.builder().master(s"local[$Cores]"),
      Cores).getOrCreate()

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Cancels the running jobs of a query that overstays its budget, so a
    * hang becomes a counted failure instead of a stuck run. */
  final class Watchdog(spark: SparkSession, timeoutS: Double) extends Thread {
    @volatile private var deadline = Long.MaxValue
    @volatile var fired = false
    setDaemon(true)
    def arm(): Unit = { fired = false; deadline = now() + (timeoutS * 1e9).toLong }
    def disarm(): Unit = deadline = Long.MaxValue
    override def run(): Unit = while (true) {
      Thread.sleep(200)
      if (now() > deadline) {
        fired = true
        deadline = Long.MaxValue
        spark.sparkContext.cancelAllJobs()
      }
    }
  }

  // ---------------------------------------------------------------- layers

  /** Cumulative counters fed by the listeners; snapshots are diffed per
    * query after the bus drains. */
  final class Layers extends SparkListener with QueryExecutionListener {
    val c: mutable.Map[String, AtomicLong] =
      mutable.LinkedHashMap(Layers.counters.map(_ -> new AtomicLong()): _*)
    private def add(k: String, v: Long): Unit = c(k).addAndGet(v)
    private def max(k: String, v: Long): Unit = c(k).accumulateAndGet(v, math.max)
    val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
    private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("jobs", 1)
      jobStarts.add(e.time)
      // a stage is named after its call site: parquet-open jobs are the
      // ones GraftSession.table launches
      if (e.stageInfos.exists(_.name.contains("GraftSession.scala"))) {
        add("open_jobs", 1)
        openJobs.put(e.jobId, e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach(t => add("open_ms", e.time - t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val i = e.taskInfo
      val m = e.taskMetrics
      max("max_task_ms", i.duration)
      if (m != null) {
        add("run_ms", m.executorRunTime)
        add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("sched_ms", math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          i.gettingResultTime))
        add("result_b", m.resultSize)
        add("scan_b", m.inputMetrics.bytesRead)
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spill_b", m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => add("aqe_updates", 1)
      case _ =>
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = Layers.phases(qe)
      ph.foreach { case (k, v) => add(k, v) }
      // the noop write optimises and plans the whole query
      if (qe.logical.isInstanceOf[V2WriteCommand])
        add("plan_ms", ph.getOrElse("optimization_ms", 0L) + ph.getOrElse("planning_ms", 0L))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

    def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }.toMap
  }

  object Layers {
    val counters = Seq("jobs", "open_jobs", "open_ms", "stages", "tasks",
      "max_task_ms", "run_ms", "cpu_ns", "gc_ms", "sched_ms", "result_b",
      "scan_b", "shuffle_write_b", "shuffle_read_b", "fetch_wait_ms",
      "spill_b", "aqe_updates", "analysis_ms", "optimization_ms",
      "planning_ms", "plan_ms")

    /** Catalyst phase times (ms) a QueryExecution recorded. */
    def phases(qe: QueryExecution): Map[String, Long] = {
      val p = qe.tracker.phases
      Seq("analysis", "optimization", "planning").flatMap { ph =>
        p.get(ph).map(s => s"${ph}_ms" -> s.durationMs)
      }.toMap
    }
  }

  // ------------------------------------------------------------ one query

  final case class Sample(name: String, ok: Boolean, latencyS: Double,
      buildS: Double, execS: Double, buildJobs: Long,
      cacheB: Long, counters: Map[String, Long], error: String)

  private def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Runs one query: build, then noop write. Traced, the listener bus
    * is then drained and the counters of this query are diffed. */
  def runOne(spark: SparkSession, name: String, fn: Query, dir: String,
      layers: Option[Layers], dog: Watchdog): Sample = {
    val before = layers.map(_.snapshot())
    val wallStart = System.currentTimeMillis()
    val t0 = now()
    var t1 = t0
    var buildEndMs = wallStart
    var cacheB = 0L
    var ownPhases = Map.empty[String, Long]
    dog.arm()
    val err = try {
      val df = fn(spark, dir)
      t1 = now()
      buildEndMs = System.currentTimeMillis()
      // the DataFrame was analysed while it was built; the listener sees
      // only the QueryExecutions that run (the noop write, eager jobs)
      ownPhases = Layers.phases(df.queryExecution).filter(_._1 == "analysis_ms")
      noop(df)
      if (dog.fired) "timeout" else ""
    } catch {
      case e: Throwable =>
        if (dog.fired) "timeout" else s"${e.getClass.getSimpleName}: ${e.getMessage}"
    } finally dog.disarm()
    val t3 = now()
    layers.foreach(_ => cacheB = cachedBytes(spark))
    PipelineCaches.unpersistAll()
    val (counters, buildJobs) = layers match {
      case Some(l) =>
        org.apache.spark.graftperf.BusDrain(spark.sparkContext)
        val after = l.snapshot()
        val starts = l.jobStarts.asScala.map(_.longValue)
        val bj = starts.count(t => t >= wallStart && t <= buildEndMs).toLong
        l.jobStarts.clear()
        (after.map { case (k, v) =>
          k -> (if (k == "max_task_ms") v
                else v - before.get(k) + ownPhases.getOrElse(k, 0L))
        }, bj)
      case None => (Map.empty[String, Long], 0L)
    }
    layers.foreach(_.c("max_task_ms").set(0L))
    if (t1 == t0) t1 = t3
    Sample(name, err.isEmpty, secs(t0, t3), secs(t0, t1), secs(t1, t3),
      buildJobs, cacheB, counters, err)
  }

  // ------------------------------------------------------------------ main

  /** `cpuS` is the process CPU time of the pass without the JIT's. */
  final case class Pass(traced: Boolean, wallS: Double, cpuS: Double,
      jitCpuS: Double, samples: Seq[Sample])

  /** One pass over the queries not in `broken`. A query that fails joins
    * `broken`, so a hang costs one timeout per run, not one per pass. */
  def runPass(spark: SparkSession, qs: Seq[(String, Query)], dir: String,
      layers: Option[Layers], dog: Watchdog, broken: mutable.Set[String]): Pass = {
    val cpu0 = osBean.getProcessCpuTime
    val jit0 = jitCpuS()
    val t0 = now()
    val samples = qs.filterNot(q => broken(q._1)).map { case (n, f) =>
      val s = runOne(spark, n, f, dir, layers, dog)
      if (!s.ok) broken += n
      s
    }
    val wallS = secs(t0, now())
    val jit = jitCpuS() - jit0
    Pass(layers.isDefined, wallS, (osBean.getProcessCpuTime - cpu0) / 1e9 - jit, jit,
      samples)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val all = graft.SparkEntry.queries
    val unknown = o.names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val qs = o.names.map(n => n -> all(n))
    Files.createDirectories(Paths.get(o.out))
    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(o.out, "oracle_sql.json"), Json.obj(
      o.names.flatMap(n => oracles.get(n).map(n -> Json.str(_)))))

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val (load1Before, stealBefore) = graft.Bench.loadEvidence()

    // Set-up, repeated on fresh sessions: build the session (confs and
    // GraftExtensions) and open every input table through
    // GraftSession.table. The median repetition is the set-up time; a
    // traced run reports no set-up time and sets up once.
    val tables = Files.list(Paths.get(o.data)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).toSeq.sorted
    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    (1 to (if (o.trace) 1 else 3)).foreach { _ =>
      if (spark != null) spark.stop()
      val t = now()
      spark = session()
      spark.sparkContext.setLogLevel("ERROR")
      tables.foreach(GraftSession.table(spark, o.data, _))
      setupS += secs(t, now())
    }
    val dog = new Watchdog(spark, QueryTimeoutS)
    dog.start()
    // Oracle check outputs: every query once, written as parquet.
    // Untimed; it is also the JIT and codegen warm-up of every plan.
    val checkFailures = mutable.LinkedHashMap[String, String]()
    val checkT = now()
    qs.foreach { case (n, f) =>
      dog.arm()
      try f(spark, o.data).write.mode("overwrite")
        .parquet(s"${o.out}/check/$n")
      catch { case e: Throwable =>
        checkFailures(n) = if (dog.fired) "timeout"
          else s"${e.getClass.getSimpleName}: ${e.getMessage}"
      } finally { dog.disarm(); PipelineCaches.unpersistAll() }
    }
    val checkS = secs(checkT, now())
    // The JIT is still compiling after that single execution: untimed
    // passes until the drop in pass time from one pass to the next is
    // under 10% (measured: by the fourth execution).
    val broken = mutable.Set[String]() ++ checkFailures.keys
    val warm = (1 to 3).map(_ => runPass(spark, qs, o.data, None, dog, broken))
    val firstTimedS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // Timed window. A traced run orders its passes untraced, traced,
    // traced, untraced (repeating), so the tracing overhead is measured
    // on the same JVM and a linear drift cancels out of it.
    val layers = if (o.trace) Some(new Layers) else None
    val passes = mutable.ArrayBuffer[Pass]()
    val (load1Start, stealStart) = graft.Bench.loadEvidence()
    val t0 = now()
    def elapsed = secs(t0, now())
    def typical = passes.map(_.wallS).sorted.apply(passes.size / 2)
    val minPasses = if (o.trace) 4 else 2
    while (passes.size < minPasses || elapsed + typical <= o.seconds) {
      val traced = o.trace && Set(1, 2).contains(passes.size % 4)
      layers.foreach { l =>
        if (traced) {
          spark.sparkContext.addSparkListener(l)
          spark.listenerManager.register(l)
        }
      }
      passes += runPass(spark, qs, o.data, if (traced) layers else None, dog, broken)
      layers.foreach { l =>
        if (traced) {
          spark.sparkContext.removeSparkListener(l)
          spark.listenerManager.unregister(l)
        }
      }
    }
    val windowS = elapsed
    val (load1After, stealAfter) = graft.Bench.loadEvidence()

    spark.stop()

    val json = Json.obj(Seq(
      "cores" -> Cores.toString,
      "setup_s" -> Json.arr(setupS.toSeq.map(Json.num)),
      "first_timed_query_s" -> Json.num(firstTimedS),
      "check_pass_s" -> Json.num(checkS),
      "warm_passes" -> Json.arr(warm.map(passJson)),
      "window_s" -> Json.num(windowS),
      "load" -> Json.obj(Seq(
        "load1_inherited" -> Json.num(load1Before),
        "load1_before" -> Json.num(load1Start),
        "load1_after" -> Json.num(load1After),
        "steal_inherited" -> stealBefore.toString,
        "steal_before" -> stealStart.toString,
        "steal_after" -> stealAfter.toString)),
      "process_cpu_s" -> Json.num(osBean.getProcessCpuTime / 1e9),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "check_failures" -> Json.obj(checkFailures.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "passes" -> Json.arr(passes.toSeq.map(passJson))))
    Files.writeString(Paths.get(o.out, "result.json"), json)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private def passJson(p: Pass): String = Json.obj(Seq(
    "traced" -> p.traced.toString,
    "wall_s" -> Json.num(p.wallS),
    "cpu_s" -> Json.num(p.cpuS),
    "jit_cpu_s" -> Json.num(p.jitCpuS),
    "queries" -> Json.arr(p.samples.map { s =>
      Json.obj(Seq(
        "name" -> Json.str(s.name), "ok" -> s.ok.toString,
        "latency_s" -> Json.num(s.latencyS), "build_s" -> Json.num(s.buildS),
        "exec_s" -> Json.num(s.execS),
        "build_jobs" -> s.buildJobs.toString, "cache_b" -> s.cacheB.toString,
        "error" -> Json.str(s.error)) ++
        s.counters.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
    })))

  /** Minimal JSON writer: the harness needs no library beyond Spark. */
  object Json {
    def str(s: String): String = "\"" + String.valueOf(s).flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  }
}
