package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.io.Versioned
import graft.joins.NonEquiJoins

/** What an operation produced once driven to its complete result: the
  * values the reference check compares, plus what the trace needs. */
final case class Done(result: Map[String, Any], plan: Option[SparkPlan] = None,
    inputRows: Long = 0L, userBytes: Long = 0L)

/** One operation as the client issues it.  `call` is the public call into
  * the layer (building a plan, or a commit that runs its own jobs); `act`
  * drives what `call` returned to its complete result.  `kind` is one of
  * join, read, write, query. */
final case class Op(name: String, layer: String, kind: String,
    call: () => Any, act: Any => Done)

trait Workload {
  /** The operations of pass `pass`, issued back to back. */
  def ops(spark: SparkSession, pass: Int): Seq[Op]
  /** Untimed work before the first pass. */
  def prepare(spark: SparkSession): Unit = ()
  /** Untimed work after the last pass; returns what the check needs. */
  def finish(spark: SparkSession, out: String): Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, plan: JsonNode, inputs: String, scratch: String): Workload =
    name match {
      case "theta_uniform" | "theta_skew" => new ThetaJoins(plan, inputs)
      case "lakehouse" => new Lakehouse(
        new TableLifecycle(plan.get("table"), s"$inputs/table", scratch),
        new ScanAnalytics(plan.get("scan"), s"$inputs/scan"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def digestDone(df: DataFrame, extra: Map[String, Any] = Map.empty,
      inputRows: Long = 0L): Done = {
    val d = Digest.of(df)
    // collect, not head: head plans a separate LIMIT query, and the trace
    // reads the metrics of the plan that actually ran
    val r = d.collect().head
    Done(Map("n" -> r.getLong(0), "h" -> r.getLong(1)) ++ extra,
      Some(d.queryExecution.executedPlan), inputRows)
  }
}

/** `theta_uniform` / `theta_skew`: seeded relations S, T (value and
  * interval end), a small probe side L for the inequality joins, and small
  * S1, T1 for the quadratic 1-Bucket-Theta grid; every op goes through the
  * public theta-join API and is timed to the digest of its full result. */
final class ThetaJoins(plan: JsonNode, dir: String) extends Workload {
  private val eps = plan.get("eps").asLong
  private val lo = plan.get("lo").asDouble
  private val hi = plan.get("hi").asDouble
  private val ivWidth = plan.get("iv_width").asLong
  private val grid = plan.get("grid").asInt
  private def rows(t: String): Long = plan.get("rows").get(t).asLong
  /** Inputs are read with their declared schema, as from a catalog table,
    * so no op pays a schema-inference job. */
  private def schema(t: String): String = {
    val cols = plan.get("columns").get(t).elements()
    var acc = Vector.empty[String]
    while (cols.hasNext) acc :+= s"${cols.next().asText} BIGINT"
    acc.mkString(", ")
  }

  def ops(spark: SparkSession, pass: Int): Seq[Op] = {
    def read(t: String) = spark.read.schema(schema(t)).parquet(s"$dir/$t.parquet")
    def join(name: String, layer: String, a: String, b: String)(f: => DataFrame): Op =
      Op(name, layer, "join", () => f,
        x => Workload.digestDone(x.asInstanceOf[DataFrame], inputRows = rows(a) + rows(b)))
    Seq(
      join("bandJoin", "joins", "S", "T") {
        NonEquiJoins.bandJoin(read("S"), read("T"), "s_v", "t_v", eps.toDouble)
      },
      join("lessThanJoin", "joins", "L", "T") {
        NonEquiJoins.lessThanJoin(read("L"), read("T"), "l_v", "t_v", lo, hi)
      },
      join("lessThanJoinAuto", "joins", "L", "T") {
        NonEquiJoins.lessThanJoinAuto(read("L"), read("T"), "l_v", "t_v")
      },
      join("IEJoin", "plans", "L", "T") {
        graft.plans.IEJoin(read("L"), read("T"), "l_v", "t_v")
      },
      join("pointInIntervalJoinAuto", "joins", "S", "T") {
        NonEquiJoins.pointInIntervalJoinAuto(read("S"), read("T"), "s_v", "t_v", "t_e")
      },
      join("intervalOverlapJoinVar", "joins", "S", "T") {
        NonEquiJoins.intervalOverlapJoinVar(read("S"), read("T"),
          "s_v", "s_e", "t_v", "t_e", ivWidth)
      },
      join("oneBucketThetaJoin", "joins", "S1", "T1") {
        NonEquiJoins.oneBucketThetaJoin(read("S1"), read("T1"), "s_id", "t_id",
          grid, grid, abs(col("s_v") - col("t_v")) <= eps)
      },
      join("bandJoinAutoRewrite", "plans", "S", "T") {
        val (a, b) = (read("S"), read("T"))
        a.join(b, abs(a("s_v") - b("t_v")) <= eps)
      })
  }

  override def prepare(spark: SparkSession): Unit = {
    ThetaJoins.installRewrite(spark)
    // Measure the shuffle-partitioned shapes the operators exist for: at
    // the benchmark's input sizes Spark would otherwise broadcast one side
    // and no reducer would see the join matrix.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
  }
}

object ThetaJoins {
  /** The plain-join op needs the band rewrite in the session's optimizer. */
  def installRewrite(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(graft.plans.BandJoinAutoRewrite))
      exp.extraOptimizations = exp.extraOptimizations :+ graft.plans.BandJoinAutoRewrite
  }
}

/** The table half of `lakehouse`: a seeded table committed before the
  * first pass, then per pass a seeded sequence of writes beside reads
  * through `io.Versioned`, plus one Structured Streaming run into the table.
  * Each pass also adds a column, so later writes carry the evolved schema. */
final class TableLifecycle(plan: JsonNode, dir: String, scratch: String) extends Workload {
  private val root = s"$scratch/table"
  private var extras = Vector.empty[String]
  private var asOf = 0L
  private val smallRows = plan.get("small_rows").asLong
  private val targetRows = plan.get("target_rows").asLong
  private val passes = plan.get("passes")
  private def param(p: Int, k: String): JsonNode = passes.get(p % passes.size).get(k)

  private val baseSchema = "id BIGINT, k BIGINT, v BIGINT"
  private def evolved(df: DataFrame): DataFrame =
    extras.foldLeft(df)((d, c) => d.withColumn(c, lit(null).cast("bigint")))
  private def userBytes(rows: Long): Long = rows * 8L * (3 + extras.size)

  override def prepare(spark: SparkSession): Unit =
    Versioned.commit(spark, root, spark.read.schema(baseSchema).parquet(s"$dir/base.parquet"), Some("id"))

  def ops(spark: SparkSession, pass: Int): Seq[Op] = {
    def input(k: String) = {
      val f = param(pass, k).asText
      (evolved(spark.read.schema(baseSchema).parquet(s"$dir/$f")), plan.get("rows").get(f).asLong)
    }
    def write(name: String)(f: => (Int, Long)): Op =
      Op(name, "io", "write", () => f, { x =>
        val (v, bytes) = x.asInstanceOf[(Int, Long)]
        Done(Map("version" -> v), userBytes = bytes)
      })
    def read(name: String)(f: => (DataFrame, Map[String, Any])): Op =
      Op(name, "io", "read", () => f, { x =>
        val (df, extra) = x.asInstanceOf[(DataFrame, Map[String, Any])]
        Workload.digestDone(df, extra)
      })
    def head = Versioned.currentVersion(spark, root)
    val kUpdate = param(pass, "k_update").asLong
    val kDelete = param(pass, "k_delete").asLong
    Seq(
      write("commitAppend") {
        val (df, n) = input("append")
        (Versioned.commitAppend(spark, root, df), userBytes(n))
      },
      read("readAt") { val v = head; (Versioned.readAt(spark, root, v), Map("version" -> v)) },
      write("commitMerge") {
        val (df, n) = input("merge")
        (Versioned.commitMerge(spark, root, df, "id"), userBytes(n))
      },
      write("commitUpdate") {
        val pred = col("k") === kUpdate
        val v = Versioned.commitUpdate(spark, root, pred,
          d => d.withColumn("v", when(pred, col("v") + 1).otherwise(col("v"))))
        asOf = System.currentTimeMillis()
        (v, 0L)
      },
      write("commitMergeMOR") {
        val (df, n) = input("merge_mor")
        (Versioned.commitMergeMOR(spark, root, df, "id"), userBytes(n))
      },
      read("readAsOf") { (Versioned.readAsOf(spark, root, asOf), Map("asof" -> asOf)) },
      write("commitDeleteMOR") {
        (Versioned.commitDeleteMOR(spark, root, col("k") === kDelete), 0L)
      },
      read("history") {
        (Versioned.history(spark, root).select("version", "n_rows"), Map.empty)
      },
      Op("streamAppend", "streaming", "write", { () =>
        // this pass's file lands in the stream's source directory, and the
        // one long-lived checkpoint continues the sink's batch ids
        val f = param(pass, "stream").asText
        val landing = Paths.get(s"$scratch/stream-source")
        Files.createDirectories(landing)
        Files.copy(Paths.get(s"$dir/$f"), landing.resolve(s"pass-$pass.parquet"))
        val q = spark.readStream.schema(evolved(spark.read.schema(baseSchema).parquet(s"$dir/$f")).schema)
          .parquet(landing.toString)
          .writeStream.format("graft.io.GraftSinkProvider")
          .option("path", root).option("mode", "append")
          .option("checkpointLocation", s"$scratch/stream-checkpoint")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        head
      }, v => Done(Map("version" -> v), userBytes = userBytes(plan.get("rows").get(param(pass, "stream").asText).asLong))),
      read("diff") {
        val v = head
        (Versioned.diff(spark, root, v - 2, v), Map("va" -> (v - 2), "vb" -> v))
      },
      write("optimizeSmall") {
        (Versioned.optimizeSmall(spark, root, "id", smallRows, targetRows).getOrElse(head), 0L)
      },
      write("commitAlterAdd") {
        val c = s"c$pass"
        val v = Versioned.commitAlterAdd(spark, root, c, "BIGINT")
        extras :+= c
        (v, 0L)
      })
  }

  /** The commit time of every version, for resolving the as-of reads. */
  override def finish(spark: SparkSession, out: String): Map[String, Any] = {
    val h = Versioned.history(spark, root).select("version", "ts_ms").collect()
    Map("version_ts" -> h.map(r => Seq(r.getInt(0), r.getLong(1))).toSeq)
  }
}

/** The query half of `lakehouse`: read-only judged queries with an oracle,
  * in a seeded order, each written to a `noop` sink so every output column
  * is computed.
  * Results are written once more after the timed passes for the reference
  * check. */
final class ScanAnalytics(plan: JsonNode, dir: String) extends Workload {
  private val names: Seq[String] = {
    val it = plan.get("queries").elements()
    var acc = Vector.empty[String]
    while (it.hasNext) acc :+= it.next().asText
    acc
  }

  def ops(spark: SparkSession, pass: Int): Seq[Op] = names.map { name =>
    Op(name, ScanAnalytics.layerOf(name), "query",
      () => graft.SparkEntry.queries(name)(spark, dir),
      { x =>
        x.asInstanceOf[DataFrame].write.format("noop").mode("overwrite").save()
        Done(Map.empty)
      })
  }

  override def finish(spark: SparkSession, out: String): Map[String, Any] = {
    // a query that throws here leaves no output, which the check counts
    names.foreach { name =>
      try graft.SparkEntry.queries(name)(spark, dir)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/check/$name")
      catch { case scala.util.control.NonFatal(e) => System.err.println(s"[perfbench] $name: $e") }
    }
    Map("oracle" -> names.map(n => Map("name" -> n, "sql" -> graft.SparkEntry.oracleSql(n))))
  }
}

/** `lakehouse`: the versioned-table lifecycle and the judged read-only
  * queries in one pass: many short operations whose time goes to planning,
  * commits and job orchestration. */
final class Lakehouse(table: TableLifecycle, scan: ScanAnalytics) extends Workload {
  def ops(spark: SparkSession, pass: Int): Seq[Op] = table.ops(spark, pass) ++ scan.ops(spark, pass)
  override def prepare(spark: SparkSession): Unit = table.prepare(spark)
  override def finish(spark: SparkSession, out: String): Map[String, Any] =
    table.finish(spark, out) ++ scan.finish(spark, out)
}

object ScanAnalytics {
  /** The module that defines a judged query, read off its function's class. */
  def layerOf(name: String): String = {
    val cls = graft.Queries.all.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no judged query $name"))
      .fn.getClass.getName
    cls.stripPrefix("graft.").takeWhile(c => c != '.' && c != '$')
  }
}
