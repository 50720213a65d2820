package graft.io

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.collection.immutable.{ListMap, TreeMap}
import scala.jdk.CollectionConverters._

/** One commit record of a versioned table, `<root>/log/vNNNNN.json`, and
  * the single reference for its fields.  [[LogRecord.encode]] and
  * [[LogRecord.decode]] are the only code that touches record text; every
  * reader decodes a version once ([[Versioned.recordAt]]) and projects
  * the fields it needs.  JSON names equal the field names below; an
  * absent field decodes to its default, and unknown fields are ignored.
  *
  *  - `version`: the slot this record claims (`vNNNNN`).
  *  - `dirs`: the MANIFEST — data dirs in read order.  Entries are
  *    root-relative (`data/<uuid>`), or absolute for a shallow clone's
  *    references into its source table ([[Versioned.dataPath]]).
  *  - `ts`: commit wall clock, epoch ms, monotone along the log (a commit
  *    stamps max(now, parent's ts)).
  *  - `op`: the operation label (append, merge, update, delete, optimize,
  *    reorg, alter, restore, clone, declare, retire, stream-append, ...).
  *    Stamped per commit and never carried from the parent; absent on
  *    pre-label records and on paths that stamp none.
  *  - `statsCol` / `stats`: the clustered 1-D zone-map column (or a 2-D
  *    `_z2(x,y,bits)` Morton pseudo column) and its per-dir [min,max].  A
  *    dir with no entry is read conservatively.
  *  - `statsCols` / `mstats`: the MULTI-COLUMN zone map — the declared
  *    columns and per-(column, dir) [min,max].  JSON: `mstats` is
  *    `{col:{dir:[lo,hi]}}`.
  *  - `rows`: per-dir row counts (absent for dirs committed before the
  *    field existed; callers then scan those).
  *  - `bytes`: per-dir on-disk bytes, the broadcast-sizing feed of
  *    [[Versioned.readAt]] (absent for older dirs; sizing then declines).
  *  - `sumCol` / `sums` / `sumsVoid`: the declared metadata-SUM column,
  *    per-dir exact long sums, and the dirs measured UNSUMMABLE (all-null,
  *    failed cast, pre-alter generation), recorded so no later commit
  *    re-scans them.  A dir with no sum entry voids [[Versioned.sumAt]].
  *  - `bloomCol` / `bloomBits` / `bloom`: the bloom-index column (a value
  *    or `_tok(col)` token bloom), its filter size in bits, and per-dir
  *    base64 bitsets ([[BloomIndex]]); a dir with no entry is read.
  *  - `alters`: schema-evolution events in commit order — (column, SQL
  *    type or `#drop` / `#rename`, the dirs that PREDATE the event).  A
  *    rename's column is `old>new`.  Copied by every later commit; entries
  *    naming dirs no longer in the manifest are inert.  JSON: an array of
  *    `{"col","type","dirs"}` objects.
  *  - `checks`: persisted CHECK constraints, (name, SQL boolean
  *    expression) in declaration order; JSON object `{name: expr}`.
  *  - `policy`: the declared maintenance knobs ([[Versioned.maintain]]).
  *  - `dv` / `dvRows`: MERGE-ON-READ deletion vectors — per data dir, the
  *    delete-sidecar dirs anti-joined out on every read of that dir, and
  *    how many rows they remove.  Scoped to the dir they delete from, so
  *    any commit that replaces or folds the dir retires them.
  *  - `batchId`: the streaming exactly-once fence of the micro-batch that
  *    produced this commit.
  *  - `rebaseSnap`: stamped on the two publishes of a branch rebase, so
  *    the heal path can tell them from ordinary branch commits.
  *  - `pins`: a [[TxnCatalog]] record's table name → pinned version.
  *
  * Except `op`, `batchId`, `rebaseSnap` and `pins`, every field rides
  * along on each later commit (carried verbatim for carried dirs).
  *
  * Records written before this codec hold the same names with a few
  * comma-joined shapes: `statsCols`, `sumsVoid` and each `dv` value as
  * `"a,b"` strings, `mstats` keyed `"col|dir"`, and `alters` as an object
  * `{"col|type":"dir1,dir2"}` whose keys may repeat.  [[decode]] reads
  * both shapes; [[encode]] writes only the current one. */
final case class LogRecord(
    version: Int = 0,
    dirs: Seq[String] = Seq.empty,
    ts: Long = 0L,
    op: Option[String] = None,
    statsCol: Option[String] = None,
    stats: Map[String, (Long, Long)] = Map.empty,
    statsCols: Seq[String] = Seq.empty,
    mstats: Map[(String, String), (Long, Long)] = Map.empty,
    rows: Map[String, Long] = Map.empty,
    bytes: Map[String, Long] = Map.empty,
    sumCol: Option[String] = None,
    sums: Map[String, Long] = Map.empty,
    sumsVoid: Set[String] = Set.empty,
    bloomCol: Option[String] = None,
    bloomBits: Int = 0,
    bloom: Map[String, String] = Map.empty,
    alters: Seq[(String, String, Set[String])] = Seq.empty,
    checks: Seq[(String, String)] = Seq.empty,
    policy: Option[Versioned.MaintenancePolicy] = None,
    dv: Map[String, Seq[String]] = Map.empty,
    dvRows: Map[String, Long] = Map.empty,
    batchId: Option[Long] = None,
    rebaseSnap: Boolean = false,
    pins: Map[String, Int] = Map.empty) {

  /** Every data dir this version references: the manifest plus the
    * deletion-vector sidecars (what vacuum must keep). */
  def referencedDirs: Seq[String] = dirs ++ dv.values.flatten

  /** The bloom declaration as (column, bits). */
  def bloomDecl: Option[(String, Int)] = bloomCol.map(_ -> bloomBits)

  /** This record's carried state for a SNAPSHOT-REPLAY record (restore,
    * shallow clone, branch snapshot merge, rebase snapshot): per-dir
    * entries restricted to the manifest, dir names passed through
    * `remap`, deletion-vector sidecar names through `sideRemap`.  The
    * per-commit fields (ts, op, batchId, rebaseSnap, pins) and the
    * maintenance policy are not replayed. */
  def replay(remap: String => String = identity,
      sideRemap: String => String = identity): LogRecord = {
    val ds = dirs.toSet
    def keep[V](m: Map[String, V]): Map[String, V] =
      m.collect { case (d, x) if ds(d) => remap(d) -> x }
    val dvKept = dv.filter { case (d, _) => ds(d) }
    LogRecord(
      dirs = dirs.map(remap),
      statsCol = statsCol, stats = keep(stats),
      statsCols = statsCols,
      mstats = mstats.collect { case ((c, d), e) if ds(d) => (c, remap(d)) -> e },
      rows = keep(rows), bytes = keep(bytes),
      sumCol = sumCol, sums = keep(sums),
      sumsVoid = sumsVoid.filter(ds).map(remap),
      bloomCol = bloomCol, bloomBits = bloomBits, bloom = keep(bloom),
      alters = alters.map { case (c, t, a) => (c, t, a.map(remap)) },
      checks = checks,
      dv = dvKept.map { case (d, s) => remap(d) -> s.map(sideRemap) },
      dvRows = dvKept.map { case (d, _) => remap(d) -> dvRows.getOrElse(d, 0L) })
  }
}

object LogRecord {

  /** The one JSON mapper for the commit log and its sibling files (branch
    * pointers, catalog table maps, vector-cell sidecars). */
  private val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Write `value` as the JSON document of file `p`. */
  private[io] def writeJson(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, value: Any, overwrite: Boolean = false): Unit = {
    val out = f.create(p, overwrite)
    try out.write(mapper.writeValueAsBytes(value)) finally out.close()
  }

  /** The JSON document in file `p`. */
  private[io] def readJson(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): JsonNode = {
    val in = f.open(p)
    try mapper.readTree(in) finally in.close()
  }

  /** A JSON object's entries, in document order. */
  private[io] def entries(n: JsonNode): Seq[(String, JsonNode)] =
    n.properties().iterator().asScala.map(e => e.getKey -> e.getValue).toSeq

  def encode(r: LogRecord): String = {
    val f = scala.collection.mutable.LinkedHashMap[String, Any](
      "version" -> r.version, "dirs" -> r.dirs, "ts" -> r.ts)
    def opt(k: String, v: Option[Any]): Unit = v.foreach(f(k) = _)
    def some(k: String, c: Iterable[_], v: => Any): Unit = if (c.nonEmpty) f(k) = v
    def pair(e: (Long, Long)) = Seq(e._1, e._2)
    opt("op", r.op)
    opt("statsCol", r.statsCol)
    some("stats", r.stats, TreeMap.from(r.stats.view.mapValues(pair)))
    some("statsCols", r.statsCols, r.statsCols)
    some("mstats", r.mstats, TreeMap.from(r.mstats.groupBy(_._1._1).view.mapValues(m =>
      TreeMap.from(m.map { case ((_, d), e) => d -> pair(e) }))))
    some("rows", r.rows, TreeMap.from(r.rows))
    some("bytes", r.bytes, TreeMap.from(r.bytes))
    opt("sumCol", r.sumCol)
    some("sums", r.sums, TreeMap.from(r.sums))
    some("sumsVoid", r.sumsVoid, r.sumsVoid.toSeq.sorted)
    opt("bloomCol", r.bloomCol)
    opt("bloomBits", r.bloomCol.map(_ => r.bloomBits))
    some("bloom", r.bloom, TreeMap.from(r.bloom))
    some("alters", r.alters, r.alters.map { case (c, t, ds) =>
      ListMap("col" -> c, "type" -> t, "dirs" -> ds.toSeq.sorted) })
    some("checks", r.checks, ListMap.from(r.checks))
    opt("policy", r.policy.map(p => ListMap("smallRows" -> p.smallRows,
      "targetRows" -> p.targetRows, "buckets" -> p.buckets,
      "maxCover" -> p.maxCover, "maxDvFraction" -> p.maxDvFraction)))
    some("dv", r.dv, TreeMap.from(r.dv))
    some("dvRows", r.dvRows, TreeMap.from(r.dvRows))
    opt("batchId", r.batchId)
    if (r.rebaseSnap) f("rebaseSnap") = true
    some("pins", r.pins, TreeMap.from(r.pins))
    mapper.writeValueAsString(f)
  }

  /** A string list: a JSON array, or a legacy comma-joined string. */
  private def strs(n: JsonNode): Seq[String] =
    if (n.isArray) n.asScala.map(_.asText).toSeq
    else n.asText.split(",").filter(_.nonEmpty).toSeq

  private def longs(n: JsonNode): Map[String, Long] =
    entries(n).map { case (k, x) => k -> x.asLong }.toMap

  private def range(n: JsonNode): (Long, Long) = (n.get(0).asLong, n.get(1).asLong)

  /** `"a|b"` → (a, b) at the first `|`; None when either side is empty. */
  private def splitBar(k: String): Option[(String, String)] = {
    val i = k.indexOf('|')
    if (i <= 0 || i == k.length - 1) None else Some((k.take(i), k.drop(i + 1)))
  }

  /** The legacy alters object, read off the token stream because its
    * keys repeat when a column is re-altered with the same type (a tree
    * read would keep only the last). */
  private def legacyAlters(p: JsonParser): Seq[(String, String, Set[String])] = {
    val out = Seq.newBuilder[(String, String, Set[String])]
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val key = p.currentName()
      p.nextToken()
      val ds = p.getText.split(",").filter(_.nonEmpty).toSet
      splitBar(key).foreach { case (c, t) => out += ((c, t, ds)) }
    }
    out.result()
  }

  def decode(text: String): LogRecord = {
    val p = mapper.createParser(text)
    try {
      if (p.nextToken() != JsonToken.START_OBJECT)
        throw new IllegalStateException("malformed commit record")
      var r = LogRecord()
      var hasDirs = false
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val k = p.currentName()
        p.nextToken()
        if (k == "alters" && p.currentToken() == JsonToken.START_OBJECT)
          r = r.copy(alters = legacyAlters(p))
        else {
          val n: JsonNode = mapper.readTree(p)
          r = k match {
            case "version"    => r.copy(version = n.asInt)
            case "dirs"       => hasDirs = true; r.copy(dirs = strs(n))
            case "ts"         => r.copy(ts = n.asLong)
            case "op"         => r.copy(op = Some(n.asText))
            case "statsCol"   => r.copy(statsCol = Some(n.asText))
            case "stats"      => r.copy(stats = entries(n).map { case (d, x) => d -> range(x) }.toMap)
            case "statsCols"  => r.copy(statsCols = strs(n))
            case "mstats"     => r.copy(mstats = entries(n).flatMap {
              case (c, byDir) if byDir.isObject =>
                entries(byDir).map { case (d, x) => (c, d) -> range(x) }
              case (k2, x) => splitBar(k2).map(_ -> range(x)) // legacy "col|dir"
            }.toMap)
            case "rows"       => r.copy(rows = longs(n))
            case "bytes"      => r.copy(bytes = longs(n))
            case "sumCol"     => r.copy(sumCol = Some(n.asText))
            case "sums"       => r.copy(sums = longs(n))
            case "sumsVoid"   => r.copy(sumsVoid = strs(n).toSet)
            case "bloomCol"   => r.copy(bloomCol = Some(n.asText))
            case "bloomBits"  => r.copy(bloomBits = n.asInt)
            case "bloom"      => r.copy(bloom = entries(n).map { case (d, x) => d -> x.asText }.toMap)
            case "alters"     => r.copy(alters = n.asScala.map(a =>
              (a.get("col").asText, a.get("type").asText, strs(a.get("dirs")).toSet)).toSeq)
            case "checks"     => r.copy(checks = entries(n).map { case (c, x) => c -> x.asText })
            case "policy"     => r.copy(policy = Some(Versioned.MaintenancePolicy(
              n.path("smallRows").asLong(0L), n.path("targetRows").asLong(0L),
              n.path("buckets").asInt(16), n.path("maxCover").asInt(2),
              n.path("maxDvFraction").asDouble(0.3))))
            case "dv"         => r.copy(dv = entries(n).map { case (d, x) => d -> strs(x) }.toMap)
            case "dvRows"     => r.copy(dvRows = longs(n))
            case "batchId"    => r.copy(batchId = Some(n.asLong))
            case "rebaseSnap" => r.copy(rebaseSnap = n.asBoolean)
            case "pins"       => r.copy(pins = entries(n).map { case (t, x) => t -> x.asInt }.toMap)
            case _            => r
          }
        }
      }
      if (!hasDirs) throw new IllegalStateException("malformed commit record")
      r
    } finally p.close()
  }
}
