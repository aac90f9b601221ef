package graft.sink

import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types.{DataType, StructType}

/** One parquet file of a table: its name inside the bucket dir (the
  * table dir itself for the flat layout) and its byte size, which reads
  * hand to Spark instead of listing the directory.
  */
private[sink] final case class LogFile(name: String, size: Long)

/** A table as its manifest records it. `buckets == 0` is the flat
  * layout, whose files sit under [[TableState.Flat]]. `version` is drawn
  * fresh on every commit that changes the table, so it is unique across
  * drop/re-create and across wiped roots. `admits`/`erasures` are the op
  * ids whose effects this state already contains (exactly-once replay).
  */
private[sink] final case class TableState(
    version: Long, schema: StructType, pk: Seq[String], buckets: Int,
    group: Option[String], files: Map[Int, Seq[LogFile]],
    admits: Set[String], erasures: Set[String]) {
  def bucketed: Boolean = buckets > 0
  def hasData: Boolean = files.nonEmpty
  /** Paths relative to the table dir: the data files and the manifest. */
  def paths: Iterator[String] = Iterator(TableState.manifestName(version)) ++
    files.iterator.flatMap { case (b, fs) => fs.iterator.map(f => TableState.relPath(b, f.name)) }
}

private[sink] object TableState {
  val Flat: Int = -1
  def relPath(bucket: Int, name: String): String =
    if (bucket == Flat) name else s"${UpsertSink.BucketCol}=$bucket/$name"
  /** A table version's manifest, in the table dir (the underscore keeps
    * it out of parquet reads). */
  def manifestName(version: Long): String = s"_manifest-$version.json"
}

/** One committed log entry: the version of every table under the root.
  * Each version's state is its table's immutable manifest, so an entry
  * stays small however many files and op ids the tables accumulate.
  */
private[sink] final case class Entry(id: Long, tables: Map[String, Long])

/** The sink's ordered commit log, after Delta Lake's transaction log
  * (Armbrust et al., VLDB 2020): `_log/<n>.json` entries naming each
  * table's current version, whose state lives in the manifest
  * `table/_manifest-<version>.json`. A commit first writes the changed
  * tables' manifests, then publishes the entry by an atomic
  * create-if-absent (a hard link of a complete temp file, which fails if
  * the name exists), so the entries form one total order, a reader never
  * sees a partial entry, and a writer that crashes before its link
  * leaves only files no entry references.
  *
  * Readers pin an entry per table with a `.pin` file under `.snapshots`
  * naming its id; vacuum keeps the newest entry and every pinned one,
  * and of each table the files that the newest entry and the entries
  * pinned for that table reference.
  */
private[sink] final class CommitLog(root: Path) {
  private val dir = root.resolve("_log")
  private val pinDir = root.resolve(".snapshots")

  private def entryPath(id: Long): Path = dir.resolve(s"$id.json")

  private def manifestPath(table: String, version: Long): Path =
    root.resolve(table).resolve(TableState.manifestName(version))

  /** Whether the log has been started under this root. */
  def started: Boolean = Files.isDirectory(dir)

  /** Start the log; every writer does this before it writes a file. */
  def start(): Unit = Files.createDirectories(dir)

  private def entryIds(): Seq[Long] =
    if (!started) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .collect { case CommitLog.EntryName(n) => n.toLong }.toSeq
      finally s.close()
    }

  /** The newest entry (id 0, no tables, before the first commit). */
  def head(): Entry = retrying("the head") { () =>
    val ids = entryIds()
    if (ids.isEmpty) Some(Entry(0L, Map.empty)) else entry(ids.max)
  }

  /** `table` as the head records it. A head or manifest vacuumed between
    * the listing and the read (a newer commit landed) just re-reads. */
  def state(table: String): Option[TableState] = retrying(s"the state of $table") { () =>
    head().tables.get(table) match {
      case None => Some(None)
      case Some(v) => manifest(table, v).map(Some(_))
    }
  }

  /** `f` until it finds what it looks for: each miss means a newer
    * commit vacuumed it, so a bounded number of misses in a row is a
    * broken root, not a race. */
  private def retrying[T](what: String)(f: () => Option[T]): T = {
    var attempt = 0
    while (true) {
      attempt += 1
      f() match {
        case Some(t) => return t
        case None if attempt < 100 => ()
        case None => throw new IllegalStateException(
          s"commit log under $root: $what vanished $attempt times in a row")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Entry `id`, or None once vacuumed. */
  def entry(id: Long): Option[Entry] =
    read(entryPath(id)).map { bytes =>
      Entry(id, CommitLog.mapper.readTree(bytes).get("tables").properties().asScala
        .map(kv => kv.getKey -> kv.getValue.asLong()).toMap)
    }

  /** The manifest of `table` at `version`, or None once vacuumed. */
  def manifest(table: String, version: Long): Option[TableState] =
    read(manifestPath(table, version)).map(CommitLog.decodeState(version, _))

  private def read(p: Path): Option[Array[Byte]] =
    try Some(Files.readAllBytes(p)) catch { case _: NoSuchFileException => None }

  /** Write the manifests of `changes` (None drops the table), then
    * publish the head with them applied as the next entry. `beforeLink`
    * runs on every attempt right before the link (the writer's lease
    * re-check). Losing the create race to another writer re-bases on the
    * new head: the changed tables are leased by this writer, so no other
    * commit can have touched them.
    */
  def commit(changes: Map[String, Option[TableState]])(beforeLink: => Unit): Entry = {
    start()
    changes.foreach { case (t, s) =>
      s.foreach { st =>
        Files.createDirectories(root.resolve(t))
        Files.write(manifestPath(t, st.version), CommitLog.encodeState(st))
      }
    }
    while (true) {
      val h = head()
      val e = Entry(h.id + 1, changes.foldLeft(h.tables) {
        case (m, (t, Some(s))) => m.updated(t, s.version)
        case (m, (t, None)) => m - t
      })
      val tables = CommitLog.mapper.createObjectNode()
      e.tables.toSeq.sortBy(_._1).foreach { case (t, v) => tables.put(t, v) }
      val bytes = CommitLog.mapper.writeValueAsBytes(
        CommitLog.mapper.createObjectNode().set[JsonNode]("tables", tables))
      beforeLink
      val tmp = Files.createTempFile(dir, ".commit-", ".tmp")
      try {
        Files.write(tmp, bytes)
        Files.createLink(entryPath(e.id), tmp)
        return e
      } catch {
        case _: FileAlreadyExistsException => () // lost the race: re-base
      } finally Files.deleteIfExists(tmp)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Pin one entry for `tables` (a pin each) and return it with the
    * pins. `pinned` runs between writing the pins and re-reading the
    * head.
    *
    * An entry is safe to read once it is pinned AND is still the head
    * after the pin was published: a vacuum that listed the pins before
    * this one appeared ran after its own commit, which such a head is at
    * or past, and a commit never changes another writer's leased tables,
    * so that vacuum kept every file of the pinned entry. Otherwise the
    * pins move to the new head and the check repeats. A pin names one
    * entry, so a pin that is never released holds one generation.
    */
  def pinHead(tables: Seq[String])(pinned: => Unit): (Entry, Seq[Path]) = {
    Files.createDirectories(pinDir)
    val pins = tables.map(t => pinDir.resolve(s"$t-${java.util.UUID.randomUUID()}.pin"))
    try {
      var at = head()
      var attempt = 0
      while (true) {
        attempt += 1
        pins.foreach(writePin(_, at.id))
        pinned
        val now = head()
        if (now.id == at.id) return (now, pins)
        if (attempt >= 1000) throw new IllegalStateException(
          s"commit log under $root: the head moved on $attempt pin attempts in a row")
        at = now
      }
      throw new IllegalStateException("unreachable")
    } catch { case e: Throwable => pins.foreach(Files.deleteIfExists); throw e }
  }

  /** A pin is published whole (temp file + atomic move), so a vacuum
    * never reads a partial one. */
  private def writePin(pin: Path, id: Long): Unit = {
    val tmp = Files.createTempFile(pinDir, ".pin-", ".tmp")
    try {
      Files.write(tmp, id.toString.getBytes("UTF-8"))
      Files.move(tmp, pin, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  private def pinFiles(): Seq[Path] =
    if (!Files.isDirectory(pinDir)) Nil
    else {
      val s = Files.list(pinDir)
      try s.iterator().asScala.toSeq finally s.close()
    }

  /** (table, entry id) of every open pin (one released mid-read is
    * skipped). A pin's name is its table, a dash and a 36-char UUID. */
  private def pinned(): Seq[(String, Long)] =
    pinFiles().map(_.getFileName.toString).filter(_.endsWith(".pin")).flatMap { n =>
      read(pinDir.resolve(n)).map(b =>
        n.dropRight(".pin".length + 37) -> new String(b, "UTF-8").trim.toLong)
    }

  /** What readers may still use once `committed` is published: the
    * versions of `table` that `committed` and the entries pinned for
    * `table` name. Every older entry no pin names is deleted.
    */
  def retained(committed: Entry, tables: Iterable[String]): Map[String, Seq[Long]] = {
    val pins = pinned()
    val ids = pins.map(_._2).toSet
    entryIds().filter(id => id < committed.id && !ids(id))
      .foreach(id => Files.deleteIfExists(entryPath(id)))
    val entries = ids.toSeq.flatMap(id => entry(id).map(id -> _)).toMap
    tables.map { t =>
      t -> (committed.tables.get(t).toSeq ++ pins.collect {
        case (`t`, id) => entries.get(id).flatMap(_.tables.get(t))
      }.flatten).distinct
    }.toMap
  }

  /** Remove pins (and pin temp files) older than `maxAgeMillis`;
    * returns how many. */
  def dropPinsOlderThan(maxAgeMillis: Long): Int = {
    val cutoff = System.currentTimeMillis() - maxAgeMillis
    val stale = pinFiles().filter(p =>
      try Files.getLastModifiedTime(p).toMillis < cutoff
      catch { case _: NoSuchFileException => false })
    stale.count(Files.deleteIfExists)
  }
}

private[sink] object CommitLog {
  private val EntryName = """(\d+)\.json""".r
  private val mapper = new ObjectMapper()

  /** A fresh table version: random, never 0 (0 = missing), and always 19
    * decimal digits, so an entry's size depends only on the tables it
    * names, never on the draw. */
  def freshVersion(): Long =
    1000000000000000000L + java.lang.Math.floorMod(
      java.util.UUID.randomUUID().getMostSignificantBits, 8000000000000000000L)

  private def encodeState(s: TableState): Array[Byte] = {
    val n = mapper.createObjectNode()
    n.put("schema", s.schema.json)
    val pk = n.putArray("pk"); s.pk.foreach(pk.add)
    n.put("buckets", s.buckets)
    s.group.foreach(n.put("group", _))
    val files = n.putObject("files")
    s.files.toSeq.sortBy(_._1).foreach { case (b, fs) =>
      val arr = files.putArray(b.toString)
      fs.foreach(f => arr.addArray().add(f.name).add(f.size))
    }
    val admits = n.putArray("admits"); s.admits.toSeq.sorted.foreach(admits.add)
    val erasures = n.putArray("erasures"); s.erasures.toSeq.sorted.foreach(erasures.add)
    mapper.writeValueAsBytes(n)
  }

  private def decodeState(version: Long, bytes: Array[Byte]): TableState = {
    def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
    val n = mapper.readTree(bytes)
    TableState(
      version,
      DataType.fromJson(n.get("schema").asText()).asInstanceOf[StructType],
      strings(n.get("pk")),
      n.get("buckets").asInt(),
      Option(n.get("group")).map(_.asText()),
      n.get("files").properties().asScala.map { b =>
        b.getKey.toInt -> b.getValue.elements().asScala
          .map(f => LogFile(f.get(0).asText(), f.get(1).asLong())).toSeq
      }.toMap,
      strings(n.get("admits")).toSet,
      strings(n.get("erasures")).toSet)
  }
}
