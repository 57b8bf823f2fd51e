package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

import graft.format.OliveFormatException

/** The one metadata record of a table generation: `.generation`, a JSON
  * file inside each `gen-NNNNN` dir, shaped after an Iceberg snapshot
  * (https://iceberg.apache.org/spec/). It holds `born` (epoch ms, the
  * birth `TIMESTAMP AS OF` resolves by), `tag` (the idempotency key,
  * verbatim), `files` (root-relative path, bytes and zone-map stats of
  * every carried reference and of the generation's own output), `dvs`
  * (merge-on-read delete vectors) and `cluster` (the clustering claim).
  * Paths are flattened: a carried entry names the generation that
  * physically holds the file, so the sweep never chases chains.
  *
  * A staging dir builds its record as it goes (the batch commit adds self
  * entries, the publisher stages carried entries and delete vectors, so a
  * concurrent sweep pins them); the publish writes the final record once
  * before its no-clobber rename. A `gen-N` dir is a complete snapshot IF
  * AND ONLY IF its record exists: sweeps delete it before any data file
  * and readers check it before and after their walk. No legacy read: a
  * generation without a record is refused, never read as empty, and a
  * record that does not parse as a whole is an [[OliveFormatException]]
  * naming its path. DESIGN.md "One record per generation" has the rules.
  */
object GenerationRecord {

  val Name = ".generation"
  private val FormatVersion = 1

  final case class FileEntry(rel: String, bytes: Long, stats: Option[String])
  final case class DvEntry(table: String, file: String, blob: String, cardinality: Long)
  final case class Cluster(cols: Seq[String], binning: String, table: String,
      members: Seq[String])

  final case class Record(born: Option[Long] = None, tag: Option[String] = None,
      files: Seq[FileEntry] = Seq.empty, deleteVectors: Seq[DvEntry] = Seq.empty,
      cluster: Option[Cluster] = None) {

    /** Entries living outside generation dir `genName` — the references a
      * file-granular DML carried, as opposed to the generation's own
      * output. */
    def carried(genName: String): Seq[FileEntry] =
      files.filterNot(_.rel.startsWith(genName + "/"))

    /** rel → parsed zone maps. Lazy on a cached record, so planning the
      * same view twice parses the stats once. */
    lazy val parsedStats: Map[String, Seq[graft.format.Meta.TableMeta]] =
      GraftDataSource.inParallel(files.filter(_.stats.isDefined)) { e =>
        e.stats.flatMap(graft.format.Stats.statsFromJson).map(e.rel -> _)
      }.flatten.toMap
  }

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  def toJson(r: Record): String = {
    val root = mapper.createObjectNode().put("format", FormatVersion)
    r.born.foreach(b => root.put("born", b))
    r.tag.foreach(t => root.put("tag", t))
    val files = root.putArray("files")
    r.files.sortBy(_.rel).foreach { e =>
      val o = files.addObject().put("path", e.rel).put("bytes", e.bytes)
      e.stats.foreach(js => o.put("stats", js))
    }
    val dvs = root.putArray("dvs")
    r.deleteVectors.sortBy(d => (d.table, d.file)).foreach(d => dvs.addObject()
      .put("table", d.table).put("file", d.file).put("blob", d.blob)
      .put("cardinality", d.cardinality))
    r.cluster.foreach { c =>
      val o = root.putObject("cluster").put("binning", c.binning).put("table", c.table)
      val cols = o.putArray("cols")
      c.cols.foreach(x => cols.add(x))
      val members = o.putArray("members")
      c.members.sorted.foreach(x => members.add(x))
    }
    mapper.writeValueAsString(root)
  }

  /** Parse a record as a whole; any deviation is an
    * [[OliveFormatException]] naming `where`. */
  def fromJson(json: String, where: String): Record = {
    def bad(why: String, cause: Throwable = null): Nothing =
      throw new OliveFormatException(s"corrupt generation record $where: $why", cause)
    def field(n: JsonNode, f: String, ok: JsonNode => Boolean, want: String): JsonNode =
      Option(n.get(f)).filter(ok).getOrElse(bad(s"'$f' is not $want"))
    def str(n: JsonNode, f: String): String = field(n, f, _.isTextual, "a string").asText()
    def name(n: JsonNode, f: String): String =
      field(n, f, v => v.isTextual && v.asText().nonEmpty, "a non-empty string").asText()
    def count(n: JsonNode, f: String): Long = field(n, f,
      v => v.isIntegralNumber && v.canConvertToLong && v.asLong() >= 0,
      "a non-negative integer").asLong()
    def arr(n: JsonNode, f: String): Seq[JsonNode] = {
      val v = field(n, f, _.isArray, "an array")
      (0 until v.size).map(v.get)
    }
    def objs(n: JsonNode, f: String): Seq[JsonNode] =
      arr(n, f).map(o => if (o.isObject) o else bad(s"a '$f' entry is not an object"))
    def strs(n: JsonNode, f: String): Seq[String] =
      arr(n, f).map(v => if (v.isTextual) v.asText() else bad(s"'$f' holds a non-string"))
    def opt[T](n: JsonNode, f: String)(get: => T): Option[T] = Option(n.get(f)).map(_ => get)
    val root = try mapper.readTree(json) catch { case e: Exception => bad("not JSON", e) }
    if (root == null || !root.isObject) bad("not a JSON object")
    if (count(root, "format") != FormatVersion) bad(s"unsupported format ${root.get("format")}")
    Record(
      born = opt(root, "born")(count(root, "born")),
      tag = opt(root, "tag")(str(root, "tag")),
      files = objs(root, "files").map(o =>
        FileEntry(name(o, "path"), count(o, "bytes"), opt(o, "stats")(str(o, "stats")))),
      deleteVectors = objs(root, "dvs").map(o =>
        DvEntry(name(o, "table"), name(o, "file"), name(o, "blob"), count(o, "cardinality"))),
      cluster = opt(root, "cluster") {
        val o = field(root, "cluster", _.isObject, "an object")
        val cols = strs(o, "cols")
        if (cols.isEmpty) bad("cluster names no columns")
        Cluster(cols, name(o, "binning"), name(o, "table"), strs(o, "members"))
      })
  }

  def path(genDir: Path): Path = new Path(genDir, Name)

  def exists(fs: FileSystem, genDir: Path): Boolean = fs.exists(path(genDir))

  /** Cache-miss counter for [[read]] — planning the same live view twice
    * must parse its record once (PlanningSoakSpec). */
  private[graft] val manifestParses = new java.util.concurrent.atomic.AtomicLong

  /** THE parse cache for generation metadata (records, and the
    * append-stats sidecars [[GraftDataSource.parsedCarryStats]] merges),
    * keyed by file identity — path + mtime + length: an `overwrite` can
    * delete every generation and a later DML re-create `gen-00001` with
    * different content, and the late-append fold grows a record in place.
    * AQE and multi-statement pipelines plan scans constantly; without it
    * every scan re-read and re-parsed the same record. */
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, AnyRef](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, AnyRef]): Boolean =
        size() > 256
    })

  private[sources] def cached[T <: AnyRef](st: org.apache.hadoop.fs.FileStatus)(
      parse: => T): T = {
    val key = s"${st.getPath.toUri.getPath}@${st.getModificationTime}:${st.getLen}"
    val hit = cache.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      manifestParses.incrementAndGet()
      val v = parse
      cache.put(key, v)
      v
    }
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The record of `genDir` (a generation or staging dir); None when it
    * has none (swept, mid-sweep, or never published — including a
    * record vanishing between stat and open). Served from the parse
    * cache, except a staging's: it is rewritten in place while the
    * staging builds, and successive versions can share an mtime. A
    * corrupt record throws. */
  def read(conf: Configuration, genDir: Path): Option[Record] = {
    val p = path(genDir)
    val fs = p.getFileSystem(conf)
    def parse() = fromJson(readText(fs, p), p.toString)
    try {
      val st = fs.getFileStatus(p)
      Some(if (genDir.getName.contains(".tmp-")) parse() else cached(st)(parse()))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** The record of `dir`'s LIVE generation; None for a pointerless
    * table. A live generation without a record is refused loudly once
    * re-resolving (the pointer moving past a swept generation) can't
    * explain it. */
  def live(conf: Configuration, dir: String): Option[Record] =
    GraftDataSource.atLiveView(conf, dir) { resolved =>
      if (resolved == dir) None
      else Some(read(conf, new Path(resolved)).getOrElse(
        throw new java.io.FileNotFoundException(s"${path(new Path(resolved))} (no record)")))
    }

  def write(conf: Configuration, genDir: Path, r: Record): Unit =
    AtomicPublish.text(conf, path(genDir), toJson(r))

  /** Read-modify-write of a STAGING dir's record. Staging writers are
    * sequential on the driver, so no lock is needed. */
  private[sources] def updateStaging(conf: Configuration, staging: Path)(
      f: Record => Record): Unit =
    write(conf, staging, f(read(conf, staging).getOrElse(Record())))

  /** Stage a publisher's carried entries and delete vectors into its
    * staging record, replacing any earlier staged set (a rebase) and
    * keeping the self entries the batch commit added. */
  private[sources] def stage(conf: Configuration, staging: Path,
      carried: Seq[FileEntry], dvs: Seq[DvEntry]): Unit =
    updateStaging(conf, staging) { r =>
      r.copy(files = r.files.filter(_.rel.startsWith(staging.getName + "/")) ++ carried,
        deleteVectors = dvs)
    }
}
