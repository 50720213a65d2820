package graft.io

import graft.{Queries, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the versioned-table commit log: time travel re-reads old
  * versions byte-identically after later commits, append commits reuse
  * the parent's data dirs instead of rewriting history, two racing
  * committers serialize into consecutive versions with no lost update,
  * and the judged diff equals the planted construction. */
class VersionedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot() =
    s"/tmp/graft_versioned_spec/${java.util.UUID.randomUUID()}"

  test("time travel: v1 re-reads unchanged after v2 lands") {
    val root = newRoot()
    val v1 = (1L to 100L).map(i => (i, s"a$i")).toDF("id", "s")
    assert(Versioned.commit(spark, root, v1) == 1)
    val v2 = (1L to 50L).map(i => (i, s"b$i")).toDF("id", "s")
    assert(Versioned.commit(spark, root, v2) == 2)
    assert(Versioned.currentVersion(spark, root) == 2)
    val r1 = Versioned.readAt(spark, root, 1)
      .as[(Long, String)].collect().sorted.toSeq
    assert(r1 == (1L to 100L).map(i => (i, s"a$i")))
    assert(Versioned.readAt(spark, root, 2).count() == 50)
  }

  test("append commits reuse the parent's data dirs (O(new data) writes)") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, "x")).toDF("id", "s"))
    Versioned.commitAppend(spark, root, Seq((2L, "y")).toDF("id", "s"))
    Versioned.commitAppend(spark, root, Seq((3L, "z")).toDF("id", "s"))
    val m1 = Versioned.manifest(spark, root, 1)
    val m2 = Versioned.manifest(spark, root, 2)
    val m3 = Versioned.manifest(spark, root, 3)
    assert(m1.size == 1 && m2.size == 2 && m3.size == 3)
    assert(m2.startsWith(m1) && m3.startsWith(m2),
      "append must extend the parent manifest, not rewrite it")
    assert(Versioned.readAt(spark, root, 3)
      .as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "x"), (2L, "y"), (3L, "z")))
  }

  test("two racing committers serialize with no lost update") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((0L, "base")).toDF("id", "s"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(Versioned.commitAppend(spark, root, Seq((1L, "a")).toDF("id", "s")))
    val fb = Future(Versioned.commitAppend(spark, root, Seq((2L, "b")).toDF("id", "s")))
    val (va, vb) = (Await.result(fa, 2.minutes), Await.result(fb, 2.minutes))
    assert(Set(va, vb) == Set(2, 3), s"got versions $va/$vb")
    // the final head holds BOTH appends — no lost update
    assert(Versioned.readAt(spark, root, 3)
      .as[(Long, String)].collect().sorted.toSeq ==
      Seq((0L, "base"), (1L, "a"), (2L, "b")))
  }

  test("vacuum keeps the retained versions readable and reclaims the rest") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    Versioned.commit(spark, root, Seq((2L, "b")).toDF("id", "s"))      // v2 full
    Versioned.commitAppend(spark, root, Seq((3L, "c")).toDF("id", "s")) // v3 = v2+new
    Versioned.vacuum(spark, root, keep = 2, graceMs = 0)
    // v2 and v3 survive (v3 references v2's dir — still live), v1 is gone
    assert(Versioned.readAt(spark, root, 3)
      .as[(Long, String)].collect().sorted.toSeq == Seq((2L, "b"), (3L, "c")))
    assert(Versioned.readAt(spark, root, 2).count() == 1)
    intercept[Exception](Versioned.readAt(spark, root, 1).count())
    // v1's now-orphaned data dir was reclaimed: only the 2 live dirs remain
    assert(new java.io.File(s"$root/data").listFiles().count(_.isDirectory) == 2)
  }

  test("replay pins: a pinned old dir survives the sweep, then reclaims on release") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))     // v1: dirA
    Versioned.commit(spark, root, Seq((2L, "b")).toDF("id", "s"))     // v2: full snapshot
    val dirA = Versioned.manifest(spark, root, 1).head
    val pA = new java.io.File(s"$root/$dirA")
    Versioned.withReplayPins(root, Seq(dirA)) {
      Versioned.vacuum(spark, root, keep = 1, graceMs = 0)
      assert(pA.exists, "a replay-pinned dir must survive the sweep")
    }
    Versioned.vacuum(spark, root, keep = 1, graceMs = 0)
    assert(!pA.exists, "a released dir must reclaim")
  }

  test("restore races vacuum x3: binary outcome, never a torn head") {
    for (round <- 1 to 3) {
      val root = newRoot()
      Versioned.commit(spark, root, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
      (1 to 3).foreach(i =>
        Versioned.commitAppend(spark, root, Seq((10L + i, s"x$i")).toDF("id", "s")))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val restorer = new Thread(() =>
        try Versioned.restore(spark, root, 1)
        catch {
          // LOUD losses are legal race outcomes; silence is not
          case e: IllegalArgumentException
            if e.getMessage.contains("vacuumed during the restore") => ()
          case _: java.io.FileNotFoundException => () // record swept first
          case e: Throwable => errs.add(e)
        })
      val sweeper = new Thread(() =>
        try Versioned.vacuum(spark, root, keep = 1, graceMs = 0)
        catch { case e: Throwable => errs.add(e) })
      restorer.start(); sweeper.start(); restorer.join(); sweeper.join()
      assert(errs.isEmpty, s"round $round: $errs")
      // whatever won: the head must read completely — a restore that
      // published must have its dirs intact
      val head = Versioned.currentVersion(spark, root)
      val n = Versioned.readAt(spark, root, head).count()
      assert(n == 3 || n == 6, s"round $round: torn head ($n rows)")
    }
  }

  test("vacuum races in-flight commits x3: no staged dir reclaimed, no torn read") {
    // every commit stages its data dir BEFORE publishing the record that
    // makes it referenced; a vacuum sweeping that window used to reclaim
    // the staged dir and the commit then published a manifest pointing at
    // deleted data.  The grace window (default VacuumGraceMs) shields any
    // unreferenced dir young enough to be an in-flight stage.
    for (round <- 1 to 3) {
      val root = newRoot()
      Versioned.commit(spark, root, Seq((0L, "base")).toDF("id", "s"))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val committer = new Thread(() =>
        try (1 to 5).foreach(i =>
          Versioned.commitAppend(spark, root,
            Seq((round * 100L + i, s"r$round-$i")).toDF("id", "s")))
        catch { case e: Throwable => errs.add(e) })
      val sweeper = new Thread(() =>
        try (1 to 8).foreach { _ =>
          Versioned.vacuum(spark, root, keep = 1); Thread.sleep(20)
        } catch { case e: Throwable => errs.add(e) })
      committer.start(); sweeper.start(); committer.join(); sweeper.join()
      assert(errs.isEmpty, s"round $round: $errs")
      // no torn read: the head (and every version the final sweep's floor
      // retained) reads its full row set — nothing a commit staged was lost
      val head = Versioned.currentVersion(spark, root)
      assert(head == 6, s"round $round: head=$head")
      val got = Versioned.readAt(spark, root, head)
        .as[(Long, String)].collect().map(_._1).sorted.toSeq
      assert(got == (Seq(0L) ++ (1 to 5).map(round * 100L + _)).sorted,
        s"round $round: torn read at head")
      assert(Versioned.countAt(spark, root, head) == 6)
    }
  }

  test("commitBatch fences micro-batch replays (exactly-once ingest)") {
    val root = newRoot()
    // direct fence semantics
    assert(Versioned.commitBatch(spark, root, 0L,
      Seq((1L, "a")).toDF("id", "s")) == Some(1))
    assert(Versioned.commitBatch(spark, root, 0L,
      Seq((1L, "a")).toDF("id", "s")).isEmpty) // replay: skipped
    assert(Versioned.commitBatch(spark, root, 1L,
      Seq((2L, "b")).toDF("id", "s")) == Some(2))
    assert(Versioned.readAt(spark, root, 2)
      .as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b")))
    // a replayed data dir never leaks: 2 live dirs on disk, not 3
    assert(new java.io.File(s"$root/data").listFiles().count(_.isDirectory) == 2)

    // end-to-end: a real file-source stream ingesting through the fence,
    // then a FORCED full replay (checkpoint wiped) that must change nothing
    val r2 = newRoot()
    val src = s"$r2/src"; val ckpt = s"$r2/ckpt"
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"d$i")).toDF("id", "s").coalesce(1)
        .write.mode("append").parquet(src)
    }
    def ingest(cp: String): Unit = {
      val q = spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Versioned.commitBatch(spark, r2, id, b); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    ingest(ckpt)
    val v = Versioned.currentVersion(spark, r2)
    val rows = Versioned.readAt(spark, r2, v)
      .as[(Long, String)].collect().sorted.toSeq
    assert(rows == Seq((1L, "d1"), (2L, "d2"), (3L, "d3")))
    ingest(s"$r2/ckpt2") // wiped checkpoint = every batch replays from 0
    assert(Versioned.currentVersion(spark, r2) == v,
      "replayed batches must be fenced, not re-committed")
    assert(Versioned.readAt(spark, r2, v)
      .as[(Long, String)].collect().sorted.toSeq == rows)
  }

  test("manifest-pruned diff: shared dirs cancel, append diff = the batch") {
    val root = newRoot()
    Versioned.commit(spark, root, (1L to 50L).map(i => (i, s"a$i")).toDF("id", "s"))
    Versioned.commitAppend(spark, root, Seq((100L, "new")).toDF("id", "s"))
    // v1 and v2 share v1's dir: the diff must be exactly the appended
    // batch, and it must come from reading ONLY the new dir (the scan's
    // plan carries one file path, not two)
    val d = Versioned.diff(spark, root, 1, 2).localCheckpoint()
    assert(d.as[(Long, String, String)].collect().toSeq ==
      Seq((100L, "new", "added")))
    val planned = Versioned.diff(spark, root, 1, 2)
      .queryExecution.executedPlan.toString
    val m1 = Versioned.manifest(spark, root, 1)
    assert(!planned.contains(m1.head.stripPrefix("data/")),
      s"diff plan must not scan the shared dir ${m1.head}")
    // equivalence with the naive full-read diff on a non-trivial case
    Versioned.commit(spark, root, (25L to 75L).map(i => (i, s"a$i")).toDF("id", "s"))
    val pruned = Versioned.diff(spark, root, 2, 3)
      .as[(Long, String, String)].collect().sorted.toSeq
    val naiveAdded = Versioned.readAt(spark, root, 3)
      .exceptAll(Versioned.readAt(spark, root, 2))
      .withColumn("op", org.apache.spark.sql.functions.lit("added"))
    val naiveRemoved = Versioned.readAt(spark, root, 2)
      .exceptAll(Versioned.readAt(spark, root, 3))
      .withColumn("op", org.apache.spark.sql.functions.lit("removed"))
    val naive = naiveAdded.unionByName(naiveRemoved)
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(pruned == naive)
  }

  test("history/versionAt/lastBatchId survive vacuum (log scans stop at the floor)") {
    val root = newRoot()
    Versioned.commitBatch(spark, root, 0L, Seq((1L, "a")).toDF("id", "s"))
    Versioned.commitBatch(spark, root, 1L, Seq((2L, "b")).toDF("id", "s"))
    Versioned.commit(spark, root, Seq((9L, "z")).toDF("id", "s"))
    Versioned.vacuum(spark, root, keep = 2, graceMs = 0) // reclaims v1's log record
    // history lists only surviving versions instead of crashing on v1
    val h = Versioned.history(spark, root).select("version")
      .as[Int].collect().sorted.toSeq
    assert(h == Seq(2, 3))
    // versionAt resolves within the surviving window and reports the
    // retention floor for timestamps before it
    assert(Versioned.versionAt(spark, root, Versioned.tsOf(spark, root, 3)) == 3)
    intercept[IllegalArgumentException](
      Versioned.versionAt(spark, root, Versioned.tsOf(spark, root, 2) - 1))
    // the exactly-once ingest path keeps working: lastBatchId scans only
    // survivors (v2 still carries batchId 1), so the fence holds
    assert(Versioned.commitBatch(spark, root, 1L,
      Seq((2L, "b")).toDF("id", "s")).isEmpty)
    assert(Versioned.commitBatch(spark, root, 2L,
      Seq((3L, "c")).toDF("id", "s")).contains(4))
    // and after vacuuming past EVERY batch-fenced record, ingest degrades
    // to "no fence" instead of throwing on a reclaimed log record
    Versioned.commit(spark, root, Seq((8L, "y")).toDF("id", "s"))
    Versioned.vacuum(spark, root, keep = 1, graceMs = 0)
    assert(Versioned.lastBatchId(spark, root).isEmpty)
    assert(Versioned.commitBatch(spark, root, 0L,
      Seq((4L, "d")).toDF("id", "s")).isDefined)
  }

  test("merge stays conservative when any update key fails the long cast") {
    val root = newRoot()
    // string keys, mostly numeric — clustered so the zone-map fast path
    // is armed on the merge key
    val base = ((1 to 6).map(i => (i.toString, s"v$i")) :+ ("x", "vx"))
      .toDF("k", "s")
    Versioned.commitAppendClustered(spark, root, base, "k", buckets = 2)
    // "2" updates a numeric-keyed row, "x" updates the non-castable row
    // (invisible to min/max — the bug pruned its dir and duplicated it),
    // "9" is an insert
    val updates = Seq(("2", "u2"), ("x", "ux"), ("9", "u9")).toDF("k", "s")
    val v = Versioned.commitMerge(spark, root, updates, "k")
    val got = Versioned.readAt(spark, root, v)
      .as[(String, String)].collect().sorted.toSeq
    val want = (Seq(("1", "v1"), ("3", "v3"), ("4", "v4"), ("5", "v5"),
      ("6", "v6")) ++ Seq(("2", "u2"), ("x", "ux"), ("9", "u9"))).sorted
    assert(got == want, "every matched key must be replaced exactly once")
  }

  test("clustered append tolerates all-null and non-castable stats buckets") {
    val root = newRoot()
    import java.lang.{Long => JLong}
    val rows: Seq[(JLong, String)] =
      (1L to 20L).map(i => (JLong.valueOf(i), s"r$i")) ++
        Seq((null: JLong, "n1"), (null: JLong, "n2"))
    val df = rows.toDF("id", "s")
    val v = Versioned.commitAppendClustered(spark, root, df, "id", buckets = 4)
    assert(Versioned.readAt(spark, root, v).count() == 22)
    // the range read is correct: null ids are dropped by BETWEEN whatever
    // the (absent) null-bucket stat says
    assert(Versioned.readRange(spark, root, v, 5L, 8L)
      .select("id").as[Long].collect().sorted.toSeq == (5L to 8L))
  }

  test("judged diff equals the planted upsert construction") {
    val out = Queries.queries("q_table_diff")(spark, TestSpark.sf).localCheckpoint()
    val docs = Tables.documents(spark, TestSpark.sf)
    val nBatch = docs.filter(col("doc_id") % 10 >= 8).count()
    val nTouched = docs.filter(col("doc_id") % 10 < 8 && col("doc_id") % 7 === 0
      && upper(col("text")) =!= col("text")).count()
    assert(out.filter(col("op") === "added").count() == nBatch + nTouched)
    assert(out.filter(col("op") === "removed").count() == nTouched)
    // every removed doc_id reappears added (it was an UPDATE, not a delete)
    val removedIds = out.filter(col("op") === "removed").select("doc_id")
    val addedIds = out.filter(col("op") === "added").select("doc_id")
    assert(removedIds.exceptAll(addedIds).count() == 0)
  }

  test("vacuumPreview predicts the sweep exactly and deletes nothing") {
    val root = newRoot()
    Versioned.commit(spark, root, (1L to 50L).toDF("id"))  // v1 dir doomed
    Versioned.commit(spark, root, (1L to 60L).toDF("id"))  // v2 replaces
    Versioned.commitAppend(spark, root, (61L to 70L).toDF("id")) // v3
    // default grace: the young doomed dir is reported kept, not reclaimed
    val guarded = Versioned.vacuumPreview(spark, root, keep = 2)
      .as[(String, String, Long, String)].collect()
    assert(guarded.filter(_._1 == "data-dir").map(_._4).toSeq == Seq("keep-grace"))
    assert(guarded.count(_._1 == "log-record") == 1, "v1's record is past retention")
    // grace 0: the same dir flips to reclaim, with a real size
    val plan = Versioned.vacuumPreview(spark, root, keep = 2, graceMs = 0L)
      .as[(String, String, Long, String)].collect()
    val doomed = plan.filter(t => t._1 == "data-dir" && t._4 == "reclaim")
    assert(doomed.length == 1 && doomed.head._3 > 0L)
    // nothing was deleted by either preview
    assert(Versioned.readAt(spark, root, 1).count() == 50)
    // the real sweep reclaims exactly the predicted set
    Versioned.vacuum(spark, root, keep = 2, graceMs = 0L)
    val p = new org.apache.hadoop.fs.Path(s"$root/${doomed.head._2}")
    assert(!Versioned.fs(spark, p).exists(p), "prediction must match the sweep")
    assert(Versioned.readAt(spark, root, 3).count() == 70)
    assert(Versioned.vacuumPreview(spark, root, keep = 2, graceMs = 0L)
      .filter(col("action") === "reclaim").count() == 0, "post-sweep: clean")
  }

  test("history operation labels across the commit surface") {
    val root = newRoot()
    def ops() = Versioned.history(spark, root)
      .select("version", "op").as[(Int, Option[String])]
      .collect().sortBy(_._1).map(_._2).toSeq
    Versioned.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    Versioned.commitAppend(spark, root, Seq((3L, "c")).toDF("id", "s"))
    Versioned.commitMerge(spark, root, Seq((2L, "B"), (4L, "d")).toDF("id", "s"), "id")
    Versioned.commitUpdate(spark, root, col("id") === 1L,
      d => d.withColumn("s", when(col("id") === 1L, "A").otherwise(col("s"))))
    Versioned.commitDeleteMOR(spark, root, col("id") === 3L)
    Versioned.commitAlterAdd(spark, root, "q", "bigint")
    Versioned.restore(spark, root, 5)
    assert(ops() == Seq(Some("commit"), Some("append"), Some("merge"),
      Some("update"), Some("delete"), Some("alter"), Some("restore")))
    // the restore re-published v5's CONTENT but stamped its OWN op —
    // and a clone's first record names the clone
    val dst = s"${newRoot()}_clone"
    Versioned.cloneAt(spark, root, dst, 5)
    assert(Versioned.history(spark, dst).select("op")
      .as[Option[String]].head() == Some("clone"))
  }

  test("cloneAt from a source root holding , and ] reads back equal to the source") {
    // the manifest records the clone's dirs as ABSOLUTE source paths; a
    // string-built record split such a path at the comma and the bracket
    val src = s"${newRoot()}/a,b]c"
    Versioned.commitAppendClustered(spark, src,
      (1L to 40L).map(i => (i, s"s$i")).toDF("id", "s"), "id", 4)
    Versioned.commitDeleteMOR(spark, src, col("id") === 7L)
    val want = Versioned.readAt(spark, src, 2).as[(Long, String)].collect().sorted.toSeq
    assert(want.size == 39)
    val dst = s"${newRoot()}_clone"
    assert(Versioned.cloneAt(spark, src, dst, 2) == 1)
    assert(Versioned.manifest(spark, dst, 1).forall(_.startsWith(s"$src/data/")))
    assert(Versioned.readAt(spark, dst, 1).as[(Long, String)].collect().sorted.toSeq == want)
    assert(Versioned.countAt(spark, dst, 1) == 39)
  }
}
