package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** The commit-record codec, JVM-only (no SparkSession): generated records
  * round-trip through encode → UTF-8 bytes → decode unchanged, whatever
  * their dir, column and check names hold; and literal records in the
  * pre-codec format (string-built JSON, comma-joined lists) decode to the
  * values that format's field readers returned. */
class LogRecordSpec extends AnyFunSuite {

  /** Characters the string-built format could not hold, plus non-ASCII
    * (a non-BMP symbol included, kept whole so no lone surrogate forms). */
  private val nasty = Seq(",", "]", "[", "\"", "\\", "{", "}", "|", ":", ">",
    "#", " ", "\n", "\t", "\u0001", "é", "日本", "😀", "data/", "x")

  private val str: Gen[String] = Gen.listOf(Gen.oneOf(nasty)).map(_.mkString)
  private val name: Gen[String] = Gen.nonEmptyListOf(Gen.oneOf(nasty)).map(_.mkString)
  private def small[A](g: Gen[A]): Gen[List[A]] = Gen.choose(0, 4).flatMap(Gen.listOfN(_, g))
  private def mapOf[V](v: Gen[V]): Gen[Map[String, V]] =
    small(Gen.zip(str, v)).map(_.toMap)
  private val range: Gen[(Long, Long)] = Gen.zip(Gen.long, Gen.long)

  private val record: Gen[LogRecord] = for {
    version <- Gen.choose(0, 99999)
    dirs <- small(str)
    ts <- Gen.long
    op <- Gen.option(str)
    statsCol <- Gen.option(name)
    stats <- mapOf(range)
    statsCols <- small(name)
    mstats <- small(Gen.zip(Gen.zip(name, str), range)).map(_.toMap)
    rows <- mapOf(Gen.long)
    bytes <- mapOf(Gen.posNum[Long])
    sumCol <- Gen.option(name)
    sums <- mapOf(Gen.long)
    sumsVoid <- small(str).map(_.toSet)
    bloomCol <- Gen.option(name)
    bloomBits <- Gen.posNum[Int]
    bloom <- mapOf(str)
    alters <- small(Gen.zip(name, name, small(str).map(_.toSet)))
    checks <- mapOf(str).map(_.toSeq) // names are unique per table
    policy <- Gen.option(Gen.zip(Gen.long, Gen.long, Gen.posNum[Int], Gen.posNum[Int],
      Gen.choose(0.0, 1.0)).map((Versioned.MaintenancePolicy.apply _).tupled))
    dv <- mapOf(small(str))
    dvRows <- mapOf(Gen.long)
    batchId <- Gen.option(Gen.long)
    rebaseSnap <- Gen.oneOf(true, false)
    pins <- mapOf(Gen.choose(0, Int.MaxValue))
  } yield LogRecord(version, dirs, ts, op, statsCol, stats, statsCols, mstats,
    rows, bytes, sumCol, sums, sumsVoid, bloomCol,
    if (bloomCol.isDefined) bloomBits else 0, bloom, alters, checks, policy,
    dv, dvRows, batchId, rebaseSnap, pins)

  private def roundTrip(r: LogRecord): LogRecord =
    LogRecord.decode(new String(LogRecord.encode(r).getBytes(UTF_8), UTF_8))

  test("generated records round-trip through encode/decode unchanged") {
    val prop = Prop.forAll(record)(r => roundTrip(r) == r)
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(300).withInitialSeed(20261017L), prop)
    assert(res.passed, res.status.toString)
  }

  test("a manifest dir holding , ] \" and \\ survives where the old format split it") {
    val dir = """/src/a,b]c"d\e/data/x"""
    val r = LogRecord(version = 1, dirs = Seq(dir, "data/y"), rows = Map(dir -> 3L),
      dv = Map(dir -> Seq("/src/a,b]c/data/s1")), dvRows = Map(dir -> 1L),
      alters = Seq(("n", "bigint", Set(dir))))
    assert(roundTrip(r) == r)
  }

  test("v0 and unknown fields: the empty record; a record without dirs is malformed") {
    assert(LogRecord.decode("""{"version":1,"dirs":[],"who":{"a":[1,{"b":2}]}}""") ==
      LogRecord(version = 1))
    intercept[IllegalStateException](LogRecord.decode("""{"version":1,"who":"a"}"""))
  }

  // ---- records in the pre-codec format, one per field family; expected
  // values are what that format's per-field readers returned

  test("legacy: manifest, ts, op, 1-D zone map, rows, bytes") {
    val r = LogRecord.decode("""{"version":3,"dirs":["data/a","data/b"],""" +
      """"ts":1700000000123,"op":"append","statsCol":"id",""" +
      """"stats":{"data/a":[-5,10],"data/b":[11,20]},""" +
      """"rows":{"data/a":4,"data/b":0},"bytes":{"data/a":1024,"data/b":0}}""")
    assert(r == LogRecord(version = 3, dirs = Seq("data/a", "data/b"),
      ts = 1700000000123L, op = Some("append"), statsCol = Some("id"),
      stats = Map("data/a" -> (-5L, 10L), "data/b" -> (11L, 20L)),
      rows = Map("data/a" -> 4L, "data/b" -> 0L),
      bytes = Map("data/a" -> 1024L, "data/b" -> 0L)))
  }

  test("legacy: multi-column zone map (comma-joined statsCols, col|dir keys)") {
    val r = LogRecord.decode("""{"version":2,"dirs":["data/a"],"ts":1,""" +
      """"statsCols":"x,y","mstats":{"x|data/a":[1,2],"y|data/a":[-3,4]},""" +
      """"rows":{"data/a":2}}""")
    assert(r.statsCols == Seq("x", "y"))
    assert(r.mstats == Map(("x", "data/a") -> (1L, 2L), ("y", "data/a") -> (-3L, 4L)))
  }

  test("legacy: metadata sums with comma-joined void markers") {
    val r = LogRecord.decode("""{"version":4,"dirs":["data/a","data/b","data/c"],""" +
      """"ts":2,"sumCol":"m","sums":{"data/a":42,"data/b":-7},""" +
      """"sumsVoid":"data/c,data/d"}""")
    assert(r.sumCol == Some("m"))
    assert(r.sums == Map("data/a" -> 42L, "data/b" -> -7L))
    assert(r.sumsVoid == Set("data/c", "data/d"))
  }

  test("legacy: bloom declaration and bitsets") {
    val r = LogRecord.decode("""{"version":5,"dirs":["data/a"],"ts":3,""" +
      """"bloomCol":"_tok(text)","bloomBits":4096,"bloom":{"data/a":"AAEC/w=="}}""")
    assert(r.bloomDecl == Some(("_tok(text)", 4096)))
    assert(r.bloom == Map("data/a" -> "AAEC/w=="))
  }

  test("legacy: alters keep every event in order, repeated keys included") {
    val r = LogRecord.decode("""{"version":6,"dirs":["data/a"],"ts":4,"alters":{""" +
      """"x|bigint":"data/a","x|#drop":"data/a,data/b",""" +
      """"x|bigint":"data/a,data/b,data/c","a>b|#rename":"data/a","y|int":""}}""")
    assert(r.alters == Seq(
      ("x", "bigint", Set("data/a")),
      ("x", "#drop", Set("data/a", "data/b")),
      ("x", "bigint", Set("data/a", "data/b", "data/c")),
      ("a>b", "#rename", Set("data/a")),
      ("y", "int", Set.empty[String])))
  }

  test("legacy: checks in declaration order, and the maintenance policy") {
    val r = LogRecord.decode("""{"version":7,"dirs":["data/a"],"ts":5,""" +
      """"checks":{"m_pos":"m > 0","id_pos":"id > 0"},""" +
      """"policy":{"smallRows":100,"targetRows":1000,"buckets":8,"maxCover":3,""" +
      """"maxDvFraction":0.25}}""")
    assert(r.checks == Seq("m_pos" -> "m > 0", "id_pos" -> "id > 0"))
    assert(r.policy == Some(Versioned.MaintenancePolicy(100L, 1000L, 8, 3, 0.25)))
  }

  test("legacy: deletion vectors with comma-joined sidecars") {
    val r = LogRecord.decode("""{"version":8,"dirs":["data/a","data/b"],"ts":6,""" +
      """"rows":{"data/a":10,"data/b":5},""" +
      """"dv":{"data/a":"data/s1,data/s2"},"dvRows":{"data/a":3},"op":"delete"}""")
    assert(r.dv == Map("data/a" -> Seq("data/s1", "data/s2")))
    assert(r.dvRows == Map("data/a" -> 3L))
  }

  test("legacy: the batch fence, the rebase stamp and catalog pins") {
    val fenced = LogRecord.decode(
      """{"version":9,"dirs":["data/a"],"ts":7,"op":"stream-append","batchId":-1}""")
    assert(fenced.batchId == Some(-1L) && !fenced.rebaseSnap)
    val snap = LogRecord.decode(
      """{"version":10,"dirs":["/p/data/a"],"ts":8,"rebaseSnap":true}""")
    assert(snap.rebaseSnap && snap.batchId.isEmpty)
    val cat = LogRecord.decode("""{"version":2,"dirs":[],"ts":9,"pins":{"docs":3,"mv":1}}""")
    assert(cat.pins == Map("docs" -> 3, "mv" -> 1) && cat.dirs.isEmpty)
  }

  test("replay restricts per-dir entries to the manifest and remaps names") {
    val r = LogRecord(version = 4, dirs = Seq("data/a"), ts = 9, op = Some("merge"),
      statsCol = Some("id"), stats = Map("data/a" -> (1L, 2L), "data/gone" -> (3L, 4L)),
      rows = Map("data/a" -> 5L, "data/gone" -> 1L), sumsVoid = Set("data/a", "data/gone"),
      alters = Seq(("c", "int", Set("data/a", "data/gone"))),
      dv = Map("data/a" -> Seq("data/s"), "data/gone" -> Seq("data/t")),
      batchId = Some(3L), pins = Map("t" -> 1),
      policy = Some(Versioned.MaintenancePolicy(1L, 2L, 3, 4, 0.5)))
    val abs = (d: String) => s"/src/$d"
    assert(r.replay(abs, d => s"/side/$d") == LogRecord(
      dirs = Seq("/src/data/a"), statsCol = Some("id"),
      stats = Map("/src/data/a" -> (1L, 2L)), rows = Map("/src/data/a" -> 5L),
      sumsVoid = Set("/src/data/a"),
      alters = Seq(("c", "int", Set("/src/data/a", "/src/data/gone"))),
      dv = Map("/src/data/a" -> Seq("/side/data/s")), dvRows = Map("/src/data/a" -> 0L)))
  }
}
