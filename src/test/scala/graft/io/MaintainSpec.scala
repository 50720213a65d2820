package graft.io

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the unified maintenance sweep: one maintain() call after
  * mixed churn restores the pruning laws the table's layout declares
  * (overlap fold + defrag on zone-mapped tables, cell fold on vector
  * tables), a healthy table answers None, and undeclared layouts are
  * never touched. */
class MaintainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot() =
    s"/tmp/graft_maintain_spec/${java.util.UUID.randomUUID()}"

  test("zone-mapped churn: one maintain() restores overlap + defrag laws") {
    val root = newRoot()
    // base: clustered, tight ranges
    Versioned.commitAppendClustered(spark, root,
      (0L until 4000L).map(i => (i, i % 7)).toDF("id", "m"), "id", 8)
    // churn: full-span appends (overlap decay) + tiny appends
    // (fragmentation) + a CoW update + a MOR delete
    Versioned.commitAppend(spark, root,
      (0L until 4000L by 400L).map(i => (i + 7L, -1L)).toDF("id", "m"))
    Versioned.commitAppend(spark, root, Seq((17L, -2L)).toDF("id", "m"))
    Versioned.commitAppend(spark, root, Seq((3900L, -3L)).toDF("id", "m"))
    Versioned.commitUpdate(spark, root, col("id") === 100L,
      d => d.withColumn("m", when(col("id") === 100L, 999L).otherwise(col("m"))))
    Versioned.commitDeleteMOR(spark, root, col("id") === 200L)
    val before = Versioned.currentVersion(spark, root)
    val expect = Versioned.readAt(spark, root, before)
      .as[(Long, Long)].collect().sorted.toSeq
    val v = Versioned.maintain(spark, root, smallRows = 1000L, targetRows = 4000L).get
    // content is untouched...
    assert(Versioned.readAt(spark, root, v)
      .as[(Long, Long)].collect().sorted.toSeq == expect)
    // ...the overlap law holds again (every point probe touches <= 2+
    // dirs' worth of range overlap: components of size <= maxCover)...
    val st = Versioned.dirStats(spark, root, v)
    val dirs = Versioned.manifest(spark, root, v)
    val spans = dirs.flatMap(st.get).sortBy(_._1)
    val worstCover = spans.map { case (lo, _) =>
      spans.count { case (a, b) => a <= lo && lo <= b } }.max
    assert(worstCover <= 2, s"overlap law broken: point covered by $worstCover dirs")
    // ...fragmentation is folded (no two sub-threshold dirs remain)...
    val rows = Versioned.dirRows(spark, root, v)
    assert(dirs.count(d => rows.get(d).exists(_ < 1000L)) < 2)
    // ...deletion vectors on folded dirs retired with the fold
    assert(Versioned.dvOf(spark, root, v).isEmpty)
    // and the steady state answers None
    assert(Versioned.maintain(spark, root, smallRows = 1000L, targetRows = 4000L).isEmpty)
  }

  test("vector table: maintain routes to the cell fold, search stays exact") {
    val root = newRoot()
    val vecs = (0L until 300L).map { i =>
      val qv = Array.fill(16)(0L)
      qv(((i % 4) * 4).toInt) = 1000000L + (i % 31) * 1000L
      (i, qv.toSeq)
    }.toDF("vec_id", "qv")
      .withColumn("nrm", aggregate(col("qv"), lit(0L), (a, x) => a + x * x).cast("double"))
    VectorIndex.commitClustered(spark, root, vecs.filter(col("vec_id") < 200), cells = 4)
    VectorIndex.commitAppendAssigned(spark, root,
      vecs.filter(col("vec_id") >= 200 && col("vec_id") < 250))
    VectorIndex.commitAppendAssigned(spark, root, vecs.filter(col("vec_id") >= 250))
    val nPre = Versioned.manifest(spark, root,
      Versioned.currentVersion(spark, root)).size
    val v = Versioned.maintain(spark, root).get
    assert(Versioned.manifest(spark, root, v).size < nPre, "cells must fold")
    assert(VectorIndex.searchTopk(spark, root, v).count() == 50)
    // NOT the clustered fold: every dir still carries its sidecar
    assert(Versioned.manifest(spark, root, v).forall { d =>
      val p = new org.apache.hadoop.fs.Path(s"$root/$d/_vec.json")
      Versioned.fs(spark, p).exists(p)
    })
    assert(Versioned.maintain(spark, root).isEmpty)
  }

  test("maintain(root, smallRows = N) alone defragments instead of throwing") {
    val root = newRoot()
    Versioned.commitAppendClustered(spark, root,
      (0L until 2000L).map(i => (i, i % 3)).toDF("id", "m"), "id", 4)
    (0 until 6).foreach(k =>
      Versioned.commitAppend(spark, root, Seq((2000L + k, -1L)).toDF("id", "m")))
    // the natural partial invocation: threshold only, no explicit target
    // (pre-fix this tripped optimizeSmall's smallRows<=targetRows require)
    val v = Versioned.maintain(spark, root, smallRows = 100L)
    assert(v.isDefined, "fragmented layout must fold")
    val rows = Versioned.dirRows(spark, root, v.get)
    val dirs = Versioned.manifest(spark, root, v.get)
    assert(dirs.count(d => rows.get(d).exists(_ < 100L)) < 2,
      "sub-threshold dirs must be folded")
    assert(Versioned.readAt(spark, root, v.get).count() == 2006)
  }

  test("2-D Morton churn: one maintain() heals through the same folds") {
    val root = newRoot()
    val side = 32
    val grid = (0 until side * side)
      .map(i => ((i % side).toLong, (i / side).toLong, i.toLong))
    (0 until 3).foreach { r =>
      Zonemap2D.commitAppendClustered2(spark, root,
        grid.filter(_._3 % 3 == r).toDF("x", "y", "n"),
        "x", "y", bits = 5, buckets = 4)
    }
    Versioned.commitDeleteMOR(spark, root, col("n") % 7 === 0L)
    val v = Versioned.maintain(spark, root, buckets = 4).get
    // overlap law restored on the Morton entries
    val st = Versioned.dirStats(spark, root, v)
    val spans = Versioned.manifest(spark, root, v).flatMap(st.get).sortBy(_._1)
    val worst = spans.map { case (lo, _) =>
      spans.count { case (a, b) => a <= lo && lo <= b } }.max
    assert(worst <= 2, s"z-overlap law broken: cover $worst")
    assert(Versioned.dvOf(spark, root, v).isEmpty)
    // box reads still exact and pruned after the heal
    val probe = Zonemap2D.readRange2(spark, root, v, 4L, 6L, 8L, 10L)
    assert(probe.count() ==
      grid.count(g => g._1 >= 4 && g._1 <= 6 && g._2 >= 8 && g._2 <= 10 && g._3 % 7 != 0))
    assert(Versioned.maintain(spark, root, buckets = 4).isEmpty, "steady state")
  }

  test("statsCols-only table: maintain defragments on a declared column") {
    val root = newRoot()
    Versioned.commitAppend(spark, root,
      (0L until 3000L).map(i => (i, i % 7)).toDF("id", "m"))
    Versioned.commitDeclareStatsCols(spark, root, Seq("id", "m"))
    (0 until 5).foreach(k =>
      Versioned.commitAppend(spark, root, Seq((3000L + k, -1L)).toDF("id", "m")))
    // pre-fix: no clustered statsCol -> no defrag route at all
    val v = Versioned.maintain(spark, root, smallRows = 100L).get
    val rows = Versioned.dirRows(spark, root, v)
    val dirs = Versioned.manifest(spark, root, v)
    assert(dirs.count(d => rows.get(d).exists(_ < 100L)) < 2,
      "sub-threshold dirs must fold")
    // the fold did NOT declare a 1-D map (the table's contract is the
    // multi-column map)...
    assert(Versioned.statsColOf(spark, root, v).isEmpty)
    // ...and every declared column re-measured on every manifest dir
    val m = Versioned.dirMstats(spark, root, v)
    assert(dirs.forall(d => m.contains(("id", d)) && m.contains(("m", d))),
      "fresh dirs must carry mstats for every declared column")
    assert(Versioned.readAt(spark, root, v).count() == 3005)
    assert(Versioned.maintain(spark, root, smallRows = 100L).isEmpty)
  }

  test("declared policy drives a parameterless maintain; explicit args override") {
    val root = newRoot()
    Versioned.commitAppendClustered(spark, root,
      (0L until 4000L).map(i => (i, i % 7)).toDF("id", "m"), "id", 8)
    Versioned.commitDeclarePolicy(spark, root,
      smallRows = 1000L, targetRows = 4000L)
    // fragmentation churn: two tiny appends
    Versioned.commitAppend(spark, root, Seq((17L, -2L)).toDF("id", "m"))
    Versioned.commitAppend(spark, root, Seq((3900L, -3L)).toDF("id", "m"))
    // NO knobs: the declared policy must fold the fragments
    val v = Versioned.maintain(spark, root).get
    val rows = Versioned.dirRows(spark, root, v)
    val dirs = Versioned.manifest(spark, root, v)
    assert(dirs.count(d => rows.get(d).exists(_ < 1000L)) < 2,
      "the declared smallRows threshold must drive the fold")
    assert(Versioned.maintain(spark, root).isEmpty, "steady state under policy")
    // the policy survives every commit (carried in nextRecord)
    assert(Versioned.policyOf(spark, root, Versioned.currentVersion(spark, root))
      .contains(Versioned.MaintenancePolicy(1000L, 4000L, 16, 2, 0.3)))
    // and the declaration validates its values
    intercept[IllegalArgumentException] {
      Versioned.commitDeclarePolicy(spark, root, smallRows = 100L,
        targetRows = 50L)
    }
    // EXPLICIT arguments override the declaration — isolated on a
    // statsCols-only table (no clustered layout, so only the
    // smallRows-gated defrag has reach): two sub-threshold appends the
    // policy would fold stay put under an explicit smallRows = 0
    val r2 = newRoot()
    Versioned.commit(spark, r2, (0L until 3000L).map(i => (i, i % 5)).toDF("id", "m"))
    Versioned.commitDeclareStatsCols(spark, r2, Seq("id"))
    Versioned.commitDeclarePolicy(spark, r2, smallRows = 1000L, targetRows = 4000L)
    Versioned.commitAppend(spark, r2, Seq((17L, -2L)).toDF("id", "m"))
    Versioned.commitAppend(spark, r2, Seq((18L, -3L)).toDF("id", "m"))
    assert(Versioned.maintain(spark, r2, smallRows = 0L).isEmpty,
      "explicit smallRows=0 must suppress the declared fold")
    // and the parameterless call then heals under the declaration
    val v2 = Versioned.maintain(spark, r2).get
    val rows2 = Versioned.dirRows(spark, r2, v2)
    assert(Versioned.manifest(spark, r2, v2)
      .count(d => rows2.get(d).exists(_ < 1000L)) < 2)
  }

  test("undeclared layouts are left alone") {
    val root = newRoot()
    Versioned.commitAppend(spark, root, Seq((1L, 2L)).toDF("id", "m"))
    Versioned.commitAppend(spark, root, Seq((3L, 4L)).toDF("id", "m"))
    assert(Versioned.maintain(spark, root, smallRows = 100L, targetRows = 200L).isEmpty)
    assert(Versioned.currentVersion(spark, root) == 2)
  }
}
