package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Per-layer numbers from the traced passes.  Every metric is summed over
  * the operations of one pass (ratios are taken of the pass sums) and the
  * median over traced passes is reported.  Jobs belong to the operation
  * whose job group launched them, or else to the operation in flight when
  * they started (a streaming query runs its jobs under its own group);
  * tasks belong to their stage's job. */
object Layers {
  val JoinNodes = Set("SortMergeJoinExec", "ShuffledHashJoinExec", "BroadcastHashJoinExec",
    "BroadcastNestedLoopJoinExec", "CartesianProductExec", "LessThanJoinExec")

  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other +: other.children.flatMap(nodes)
  }

  /** The join operators an operation ran, e.g. `SortMergeJoinExec`. */
  def shape(r: OpRun): Seq[String] =
    r.done.flatMap(_.plan).toSeq.flatMap(nodes).map(_.getClass.getSimpleName).filter(JoinNodes)

  private def ms(ns: Long): Long = ns / 1000000L

  /** Seconds of `[a, b]` covered by the union of the given intervals (ms). */
  private def covered(iv: Seq[(Long, Long)], a: Long, b: Long): Double = {
    var total = 0L
    var reach = a
    for ((s, e) <- iv.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      val s2 = math.max(s, reach)
      if (e > s2) { total += e - s2; reach = e }
    }
    total / 1000.0
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private final class Attribution(runs: Seq[OpRun], t: Tracer) {
    private val byId = runs.map(r => r.id -> r).toMap
    private val traced = runs.filter(_.traced)
    private def inFlight(msT: Long): Option[OpRun] =
      traced.find(r => ms(r.start) <= msT && msT <= ms(r.end))
    val jobOp: Map[Int, OpRun] = t.jobs.asScala.toSeq.flatMap { j =>
      j.group.filter(_.startsWith("perfbench-op-"))
        .flatMap(g => byId.get(g.stripPrefix("perfbench-op-").toInt))
        .orElse(inFlight(j.start)).map(j.id -> _)
    }.toMap
    val jobsOf: Map[Int, Seq[JobRec]] =
      t.jobs.asScala.toSeq.filter(j => jobOp.contains(j.id)).groupBy(j => jobOp(j.id).id)
    private val stageJob = t.stageToJob
    val tasksOf: Map[Int, Seq[TaskRec]] = t.tasks.asScala.toSeq
      .flatMap(k => stageJob.get(k.stage).flatMap(jobOp.get).map(r => r.id -> k))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val queriesOf: Map[Int, Seq[QueryRec]] = t.queries.asScala.toSeq
      .flatMap(q => inFlight(q.analysisStart).map(_.id -> q))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val progressOf: Map[Int, Seq[ProgressRec]] = t.progress.asScala.toSeq
      .flatMap(p => inFlight(p.timestamp).map(_.id -> p))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** The reducer-load figures of one join: input records of the busiest
    * task of the join stage, and that maximum over the stage mean.  The
    * join stage is the one that reads the most shuffle records (the stream
    * side's scan when the join was broadcast). */
  private def reducerLoad(tasks: Seq[TaskRec]): (Long, Double) = {
    val byStage = tasks.groupBy(_.stage)
    if (byStage.isEmpty) return (0L, 0.0)
    val shuffled = byStage.filter(_._2.exists(_.shuffleReadRecords > 0))
    val stage =
      if (shuffled.nonEmpty) shuffled.maxBy(_._2.map(_.shuffleReadRecords).sum)._2
      else byStage.maxBy(_._2.map(_.inputRecords).sum)._2
    val load = stage.map(k => k.shuffleReadRecords + k.inputRecords)
    val mean = load.sum.toDouble / load.size
    (load.max, if (mean > 0) load.max / mean else 0.0)
  }

  def metrics(runs: Seq[OpRun], passes: Seq[(Int, Boolean, Double)], t: Tracer): Map[String, Double] = {
    val at = new Attribution(runs, t)
    val perPass = runs.filter(_.traced).groupBy(_.pass).values.toSeq.map { rs =>
      def sumOps(f: OpRun => Double, sel: OpRun => Boolean = _ => true) = rs.filter(sel).map(f).sum
      def jobs(r: OpRun) = at.jobsOf.getOrElse(r.id, Seq.empty)
      def tasks(r: OpRun) = at.tasksOf.getOrElse(r.id, Seq.empty)
      def taskSum(f: TaskRec => Double, sel: OpRun => Boolean = _ => true) =
        sumOps(r => tasks(r).map(f).sum, sel)
      def queries(r: OpRun) = at.queriesOf.getOrElse(r.id, Seq.empty)
      def phase(p: String) = sumOps(r => queries(r).map(_.phasesMs.getOrElse(p, 0L)).sum.toDouble)
      def jobS(r: OpRun) = covered(jobs(r).map(j => (j.start, j.end)), ms(r.start), ms(r.end))
      def progress(k: String) = sumOps(r =>
        at.progressOf.getOrElse(r.id, Seq.empty).map(_.durationMs.getOrElse(k, 0L)).sum.toDouble)
      val mb = 1024.0 * 1024.0
      val isJoin = (r: OpRun) => r.op.kind == "join"
      val isIo = (r: OpRun) => r.op.layer == "io"
      val isWrite = (r: OpRun) => r.op.kind == "write"
      val isRead = (r: OpRun) => r.op.layer == "io" && r.op.kind == "read"
      val joins = rs.filter(isJoin)
      val loads = joins.map(r => reducerLoad(tasks(r).filter(k =>
        at.jobsOf.getOrElse(r.id, Seq.empty).exists(j => j.start >= ms(r.called) && j.stages.contains(k.stage)))))
      val joinOut = joins.map { r =>
        val ids = r.done.flatMap(_.plan).toSeq.flatMap(nodes)
          .filter(n => JoinNodes(n.getClass.getSimpleName))
          .flatMap(_.metrics.get("numOutputRows")).map(m => m.id -> m.value)
        val result = r.done.flatMap(_.result.get("n")).map(_.asInstanceOf[Long]).getOrElse(0L)
        val cands = if (ids.isEmpty) result else ids.map(_._2).sum
        val maxOut = tasks(r).flatMap(k => ids.flatMap(i => k.accums.get(i._1))).maxOption.getOrElse(0L)
        (cands, result, maxOut)
      }
      val shuffleWritten = joins.map { r =>
        val action = jobs(r).filter(_.start >= ms(r.called)).flatMap(_.stages).toSet
        tasks(r).filter(k => action(k.stage)).map(_.shuffleWriteRecords).sum
      }.sum.toDouble
      val joinInputs = joins.flatMap(_.done).map(_.inputRows).sum.toDouble
      val userBytes = rs.filter(isWrite).flatMap(_.done).map(_.userBytes).sum.toDouble
      def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
      def lat(sel: OpRun => Boolean) = median(rs.filter(sel).map(_.seconds))
      val opS = sumOps(_.seconds)
      val jobSeconds = sumOps(jobS)
      def layer(l: String) = Seq(
        s"$l.op_s" -> sumOps(_.seconds, _.op.layer == l),
        s"$l.task_s" -> taskSum(_.runMs / 1000.0, _.op.layer == l))
      Map(
        "spark.analysis_ms" -> phase("analysis"),
        "spark.optimization_ms" -> phase("optimization"),
        "spark.planning_ms" -> phase("planning"),
        "spark.jobs" -> sumOps(jobs(_).size.toDouble),
        "spark.job_s" -> jobSeconds,
        "spark.driver_gap_s" -> (opS - jobSeconds),
        "spark.task_s" -> taskSum(_.runMs / 1000.0),
        "spark.gc_s" -> taskSum(_.gcMs / 1000.0),
        "spark.shuffle_write_mb" -> taskSum(_.shuffleWriteBytes / mb),
        "spark.shuffle_read_mb" -> taskSum(_.shuffleReadBytes / mb),
        "spark.spill_mb" -> taskSum(_.spillBytes / mb),
        "joins.build_s" -> sumOps(r => (r.called - r.start) / 1e9, isJoin),
        "joins.sample_jobs" -> sumOps(r => jobs(r).count(_.start < ms(r.called)).toDouble, isJoin),
        "joins.replication" -> ratio(shuffleWritten, joinInputs),
        "joins.candidates_per_result" ->
          ratio(joinOut.map(_._1).sum.toDouble, joinOut.map(_._2).sum.toDouble),
        "joins.max_task_in" -> loads.map(_._1.toDouble).maxOption.getOrElse(0.0),
        "joins.max_task_out" -> joinOut.map(_._3.toDouble).maxOption.getOrElse(0.0),
        "joins.imbalance" -> loads.map(_._2).maxOption.getOrElse(0.0),
        "joins.bnlj_ops" -> rs.count(r => shape(r).exists(s =>
          s == "BroadcastNestedLoopJoinExec" || s == "CartesianProductExec")).toDouble,
        "plans.rewrite_ms" -> sumOps(r => queries(r).map(_.graftRulesNs).sum / 1e6),
        "plans.iejoin_ops" -> rs.count(r => shape(r).contains("LessThanJoinExec")).toDouble,
        "io.commit_s" -> sumOps(_.seconds, r => isIo(r) && isWrite(r)),
        "io.read_build_s" -> sumOps(r => (r.called - r.start) / 1e9, isRead),
        "io.commit_p50_s" -> lat(r => isIo(r) && isWrite(r)),
        "io.read_p50_s" -> lat(isRead),
        "io.fs_read_ops" -> sumOps(_.fs.getOrElse("read_ops", 0L).toDouble, isIo),
        "io.fs_write_ops" -> sumOps(_.fs.getOrElse("write_ops", 0L).toDouble, isIo),
        "io.fs_list_ops" -> sumOps(_.fs.getOrElse("list_ops", 0L).toDouble, isIo),
        "io.fs_status_ops" -> sumOps(_.fs.getOrElse("status_ops", 0L).toDouble, isIo),
        "io.write_amp" -> ratio(sumOps(_.fs.getOrElse("bytes_written", 0L).toDouble, isWrite), userBytes),
        "streaming.batches" -> sumOps(r => at.progressOf.getOrElse(r.id, Seq.empty).size.toDouble),
        "streaming.wal_commit_ms" -> progress("walCommit"),
        "streaming.planning_ms" -> progress("queryPlanning"),
        "streaming.add_batch_ms" -> progress("addBatch")) ++
        Seq("rel", "llm", "agg", "time").flatMap(layer)
    }
    val keys = perPass.headOption.map(_.keys).getOrElse(Nil)
    val wall = (tr: Boolean) => median(passes.filter(_._2 == tr).map(_._3))
    keys.map(k => k -> median(perPass.map(_(k)))).toMap +
      ("trace_overhead" -> (if (wall(false) > 0) wall(true) / wall(false) else 0.0))
  }

  /** One span per traced operation, with the join operators it ran, and
    * two children: the call into its layer and the action.  Times are
    * nanoseconds since the first operation. */
  def spans(runs: Seq[OpRun]): Seq[Map[String, Any]] = {
    val base = runs.headOption.map(_.start).getOrElse(0L)
    runs.filter(_.traced).flatMap { r =>
      val op = s"op-${r.id}"
      Seq(
        Map("id" -> op, "parent" -> null, "op" -> r.id, "name" -> r.op.name,
          "layer" -> "bench", "start" -> (r.start - base), "end" -> (r.end - base),
          "shape" -> shape(r), "ok" -> r.error.isEmpty),
        Map("id" -> s"$op-call", "parent" -> op, "op" -> r.id, "name" -> s"${r.op.layer}.${r.op.name}",
          "layer" -> r.op.layer, "start" -> (r.start - base), "end" -> (r.called - base)),
        Map("id" -> s"$op-action", "parent" -> op, "op" -> r.id, "name" -> "spark.action",
          "layer" -> "spark", "start" -> (r.called - base), "end" -> (r.end - base)))
    }
  }
}
