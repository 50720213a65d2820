package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** One issued operation.  Times are epoch nanoseconds from one clock:
  * `start` → `called` is the call into the layer, `called` → `end` the
  * action that drives it to its complete result. */
final case class OpRun(id: Int, pass: Int, traced: Boolean, op: Op,
    start: Long, called: Long, end: Long,
    done: Option[Done], error: Option[Throwable], fs: Map[String, Long]) {
  def seconds: Double = (end - start) / 1e9
}

/** Benchmark harness: one JVM, one client issuing one workload's
  * operations back to back (closed loop, one operation in flight).
  *
  * Usage: `Main <workload> <inputsDir> <scratchDir> <outDir> <seconds> <trace 0|1>`
  *
  * Set-up (session start plus a warm-up pass of the workload's operations
  * on its ~1 % inputs) is repeated three times and timed each time.  Then whole passes over the operations run
  * until `seconds` have passed, at least two (three with tracing): single
  * operations swing from run to run, and two passes steady the medians.  With tracing
  * on, measured passes alternate between untraced and traced, so the ratio
  * of their wall times is the trace overhead.  Everything is written to
  * `<outDir>/harness.json`; nothing is printed on stdout. */
object Main {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, scratch, out, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val plan = mapper.readTree(new File(s"$inputs/plan.json"))
    def workloadOn(size: String, dir: String) =
      Workload(workload, plan.get(size), s"$inputs/$size", s"$scratch/$dir")

    // Set-up, timed from process start for the first round.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to Setups) {
      val t0 = if (i == 1) jvmStart * 1000000L else System.currentTimeMillis() * 1000000L
      spark = session(cpus, scratch)
      val warm = workloadOn("warm", s"warm$i")
      warm.prepare(spark)
      warm.ops(spark, 0).foreach(op => op.act(op.call()))
      setups += (System.currentTimeMillis() * 1000000L - t0) / 1e9
      if (i < Setups) spark.stop()
    }

    val w = workloadOn("full", "measured")
    w.prepare(spark)
    val tracer = new Tracer
    val runs = ArrayBuffer.empty[OpRun]
    val passWall = ArrayBuffer.empty[(Int, Boolean, Double)]
    // With tracing, passes alternate untraced and traced, at least
    // untraced-traced-untraced, so the traced pass sits between the two
    // untraced ones it is compared with.
    val t0 = System.nanoTime()
    var pass = 0
    var id = 0
    val minPasses = if (traced) 3 else 2
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val tracePass = traced && pass % 2 == 1
      if (tracePass) register(spark, tracer) else if (traced) unregister(spark, tracer)
      val p0 = System.nanoTime()
      for (op <- w.ops(spark, pass)) {
        runs += issue(spark, op, id, pass, tracePass)
        id += 1
      }
      passWall += ((pass, tracePass, (System.nanoTime() - p0) / 1e9))
      pass += 1
    }
    if (traced) {
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      unregister(spark, tracer)
    }
    val finish = w.finish(spark, out)
    val calib = graft.Bench.calibrate()
    val host = Map(
      "nproc" -> cpus,
      "master" -> spark.sparkContext.master,
      "jvm" -> System.getProperty("java.runtime.version"),
      "spark" -> spark.version,
      "calib_s" -> calib)
    spark.stop()

    val report = Map(
      "setup_s" -> setups.toSeq,
      "passes" -> passWall.map { case (p, t, s) => Map("pass" -> p, "traced" -> t, "wall_s" -> s) }.toSeq,
      "ops" -> runs.map(opJson).toSeq,
      "layers" -> (if (traced) Layers.metrics(runs.toSeq, passWall.toSeq, tracer) else Map.empty),
      "spans" -> (if (traced) Layers.spans(runs.toSeq) else Seq.empty),
      "finish" -> finish,
      "host" -> host,
      "peak_rss_mb" -> peakRssMb())
    Files.writeString(Paths.get(s"$out/harness.json"), mapper.writeValueAsString(report))
  }

  def session(cpus: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      // the same session settings as the judged bench (graft.Bench)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "4096")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.DevSession.quietHints()
    s
  }

  private def register(spark: SparkSession, t: Tracer): Unit = {
    spark.sparkContext.addSparkListener(t.sparkListener)
    spark.listenerManager.register(t.queryListener)
    spark.streams.addListener(t.streamListener)
  }

  private def unregister(spark: SparkSession, t: Tracer): Unit = {
    spark.sparkContext.removeSparkListener(t.sparkListener)
    spark.listenerManager.unregister(t.queryListener)
    spark.streams.removeListener(t.streamListener)
  }

  /** File system calls so far, and bytes written over every scheme. */
  private def fsCounters(): Map[String, Long] = Map(
    "read_ops" -> CountingFileSystem.reads.get,
    "write_ops" -> CountingFileSystem.writes.get,
    "list_ops" -> CountingFileSystem.lists.get,
    "status_ops" -> CountingFileSystem.probes.get,
    "bytes_written" -> FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum)

  private def issue(spark: SparkSession, op: Op, id: Int, pass: Int, traced: Boolean): OpRun = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"perfbench-op-$id", op.name)
    val fs0 = if (traced) fsCounters() else Map.empty[String, Long]
    val start = epochNanos()
    var called = start
    val (done, error) =
      try {
        val x = op.call()
        called = epochNanos()
        (Some(op.act(x)), None)
      } catch { case NonFatal(e) => (None, Some(e)) }
    val end = epochNanos()
    if (called == start) called = end
    sc.clearJobGroup()
    val fs = if (traced) fsCounters().map { case (k, v) => k -> (v - fs0(k)) } else Map.empty[String, Long]
    OpRun(id, pass, traced, op, start, called, end, done, error, fs)
  }

  private val nanoBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochNanos(): Long = nanoBase + System.nanoTime()

  private def opJson(r: OpRun): Map[String, Any] = Map(
    "id" -> r.id, "pass" -> r.pass, "traced" -> r.traced, "name" -> r.op.name,
    "layer" -> r.op.layer, "kind" -> r.op.kind, "seconds" -> r.seconds,
    "result" -> r.done.map(_.result).orNull,
    "error" -> r.error.map(e => s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}").orNull)

  /** The JVM's resident-memory high-water mark (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
