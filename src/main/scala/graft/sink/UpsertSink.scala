package graft.sink

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, ByteType, DataType,
  DateType, IntegerType, LongType, MapType, ShortType, StringType, StructType, TimestampNTZType,
  TimestampType}
import org.apache.spark.storage.StorageLevel

/** One table's delta for [[UpsertSink.mergeMany]] — the per-table
  * arguments of [[UpsertSink.merge]] as data.
  *
  * `pkUnique = true` is the caller's PROMISE that `updates` already
  * holds at most one row per `pk` value, letting the sink skip the
  * last-write-wins dedupe shuffle (for wide rows — document text — the
  * most expensive removable stage of a small streaming delta). The
  * promise is on the caller: a violated promise lands duplicate-pk rows
  * in the table (they still co-locate in one bucket, so a later
  * non-unique merge of those keys repairs them). Incompatible with
  * `versionCol` — a delta with at most one row per key has nothing for
  * the version order to decide.
  *
  * A non-empty `counts` makes this a COUNT merge — the reference's
  * `ON CONFLICT (pk) DO UPDATE SET c = t.c + EXCLUDED.c` for an
  * aggregated inventory (rows = pk + count columns): the delta's rows
  * are summed per pk (duplicate keys add up), added to the stored
  * counts inside the touched buckets, and absent keys are inserted. The
  * exact inverse of [[TableCountRetract]]; replayed under the same op id
  * it is a no-op, so an additive admit needs no read of its own.
  */
final case class TableMerge(table: String, updates: DataFrame,
                            pk: Seq[String],
                            versionCol: Option[String] = None,
                            pkUnique: Boolean = false,
                            counts: Seq[String] = Nil) {
  require(!(pkUnique && versionCol.isDefined),
    s"$table: pkUnique promises one row per pk — versionCol is meaningless")
  require(counts.isEmpty || versionCol.isEmpty,
    s"$table: count columns add up — versionCol is meaningless")
  require(counts.intersect(pk).isEmpty,
    s"$table: count columns ${counts.mkString(", ")} overlap the pk")
  require(counts.isEmpty || updates.columns.toSet == (pk ++ counts).toSet,
    s"$table: a count merge carries exactly its pk and count columns " +
      s"[${(pk ++ counts).mkString(", ")}], got [${updates.columns.mkString(", ")}]")
}

/** One table's payload for [[UpsertSink.overwriteMany]] — the per-table
  * arguments of [[UpsertSink.overwrite]] as data. A non-empty `pk`
  * writes the bucketed layout so later merges take the incremental
  * path; an empty one keeps the table's logged merge key when `df`
  * still carries those columns, exactly like the single-table form.
  */
final case class TableWrite(table: String, df: DataFrame,
                            pk: Seq[String] = Seq.empty)

/** One member of an [[UpsertSink.eraseMany]] group — either a PK
  * delete ([[TableDelete]]) or a count decrement
  * ([[TableCountRetract]]), the two erasure shapes an incremental
  * store family needs: posting/payload tables erase by key, count
  * inventories erase by subtracting the subject's contribution.
  */
sealed trait TableErase {
  def table: String
  def pk: Seq[String]
}

/** One table's payload for [[UpsertSink.deleteMany]] — the per-table
  * arguments of [[UpsertSink.delete]] as data. `pk` must be the
  * table's FULL merge key (bucket routing hashes it; a partial key
  * would route to the wrong buckets and silently delete nothing —
  * derive full keys from the table first, see the store retract ops).
  */
final case class TableDelete(table: String, keys: DataFrame,
                             pk: Seq[String]) extends TableErase

/** COUNT-DECREMENT erasure for an aggregated inventory table (rows =
  * pk + one or more count columns, e.g. the segment store's
  * (seg_hash, cnt)): subtract `decrements`' per-pk sums from the
  * stored counts — the exact inverse of an additive admit fold, so a
  * subject whose contribution was folded in exactly once retracts to
  * precisely the state the store would hold had the subject never been
  * admitted (counts are additive and commutative; no provenance
  * column is needed). Rows whose counts all reach zero are physically
  * removed when `dropAtZero` (the count-store shape); `dropAtZero =
  * false` keeps them at zero for tables whose row SET is structural
  * (a dense policy histogram — a zero row means "seen by neither
  * side", which scores the neutral prior).
  *
  * Counts clamp at zero: a decrement can never drive a stored count
  * negative. The caller contract is "retract exactly what was
  * admitted, once". Under crash-replay the guarantee depends on the
  * [[UpsertSink.eraseMany]] overload: WITHOUT an erasure id the
  * retraction is at-least-once (re-running subtracts again — and a
  * double-decrement can clamp/drop rows surviving documents still
  * hold); WITH an erasure id the id commits in the same log entry as
  * the rewrite, so a replay is a no-op — bit-identical to one run.
  */
final case class TableCountRetract(table: String, decrements: DataFrame,
                                   pk: Seq[String], cntCols: Seq[String],
                                   dropAtZero: Boolean = true)
    extends TableErase {
  require(cntCols.nonEmpty, s"$table: count retract needs count columns")
  require(cntCols.intersect(pk).isEmpty,
    s"$table: count columns ${cntCols.mkString(", ")} overlap the pk")
}

/** Idempotent primary-key upsert sink — the Spark re-expression of the
  * reference's `INSERT .. ON CONFLICT(pk) DO UPDATE` batched writer
  * (src/handlers/dbUpsert.ts:50-85) and its atomic snapshot swap
  * (src/handlers/schema.ts:4-49).
  *
  * Tables live in a hash-bucketed layout (parquet files under
  * `table/__bucket=N/`), with the bucket computed from the primary key.
  * `merge` then rewrites ONLY the buckets that contain updated keys:
  * per-block incremental merges cost O(batch + touched buckets), not
  * O(table) — the cost model of the reference's targeted `ON CONFLICT`
  * upsert rather than a full rebuild. Untouched buckets' files are never
  * opened, let alone rewritten.
  *
  * Consistency comes from ONE ordered commit log per root
  * ([[CommitLog]], after Delta Lake's transaction log): every mutator
  * writes its parquet files under fresh names that never move, then
  * commits every table it changed in one `_log/<n>.json` entry. The
  * entry names each table's version; the version's immutable manifest
  * (`table/_manifest-<version>.json`) records its live files by bucket,
  * schema, merge key, bucket modulus, group id and applied admit/erasure
  * ids, so:
  *  - readers get their file list and schema from the head — no
  *    directory walk, no schema inference job;
  *  - a crash before the commit leaves only files no entry references,
  *    which the next commit on that table deletes, and a read of a table
  *    the head does not list never looks at its directory;
  *  - a multi-table write (group build, group erase) lands whole or not
  *    at all, and an op id lands in the same entry as its effect;
  *  - a snapshot pins one entry, and the committing writer deletes only
  *    files neither the head nor an entry pinned for the table
  *    references.
  * A root holding table data but no log (the sink's earlier layout)
  * fails every write loudly instead of being vacuumed away.
  * The per-table writer lease ([[writerLocked]]) serializes writers;
  * readers take no lock. On Delta/Iceberg this whole class collapses to
  * `MERGE INTO` — the operator surface (`merge(df, table, pk)`) is
  * format-agnostic on purpose.
  *
  * Conflict semantics: within one incoming batch, last-write-wins by
  * `versionCol` (ties broken deterministically); across batches the newest
  * write replaces the stored row wholesale — matching the reference's
  * DO UPDATE SET all-columns behavior (dbUpsert.ts:76-79). A count merge
  * ([[TableMerge]] `counts`) instead adds the delta's per-pk sums to the
  * stored counts in the same touched-bucket rewrite, and a count retract
  * ([[TableCountRetract]]) subtracts them: both count folds live here,
  * so an admit or erasure under an op id is one commit, exactly once.
  */
final class UpsertSink(spark: SparkSession, root: String,
                       numBuckets: Int = 64,
                       writerWaitMs: Long = 60000L) {
  import UpsertSink.BucketCol

  /** The session this sink writes with — model-persistence helpers
    * (e.g. BpeOps.saveModel) build their DataFrames on it rather than
    * whatever session happens to be "active" on the calling thread.
    */
  def session: SparkSession = spark

  private val log = new CommitLog(Paths.get(root))

  /** Test hook: called with "commit" right before a log entry is
    * linked, and with "pinned" between a snapshot's pin and its read of
    * the head — the points where a crash or a stall is injected.
    */
  @volatile private[sink] var testHook: String => Unit = _ => ()

  /** Every table path flows through here, so this is where the name
    * contract is enforced: no path separators (a name like `../x`
    * would aim a vacuum outside the sink root), no dot prefix and not
    * `_log` (reserved for sink internals — the log, pins, leases).
    */
  private def requireValidTableName(table: String): Unit =
    require(table.nonEmpty && !table.startsWith(".") && table != "_log" &&
        !table.exists(c => c == '/' || c == '\\'),
      s"invalid table name '$table': must be non-empty, not dot-prefixed " +
        "or _log (reserved for sink internals), and contain no path separators")

  private def tableDir(table: String): Path = {
    requireValidTableName(table)
    Paths.get(root, table)
  }

  /** The table as the log head records it. */
  private def state(table: String): Option[TableState] = {
    requireValidTableName(table)
    log.state(table)
  }

  /** The head's states of `tables` — under their leases, stable. */
  private def states(tables: Seq[String]): Map[String, TableState] =
    tables.flatMap(t => state(t).map(t -> _)).toMap

  def exists(table: String): Boolean = state(table).nonEmpty

  /** Identity of this sink's storage root — cache keys for readers that
    * hold decoded table content in memory (e.g. the ANN index metadata
    * cache) are (rootPath, [[version]]).
    */
  def rootPath: String = root

  /** Content version of a table, from the log head: drawn fresh on
    * every commit that changes the table (content, layout or applied
    * op ids), so it is unique across drop/re-create; 0 for a missing
    * table. Readers that cache decoded table content key on it.
    */
  def version(table: String): Long = state(table).fold(0L)(_.version)

  /** Whether the table holds any data rows to read. A table every row
    * of which was [[delete]]d still `exists()` (the TRUNCATE contract)
    * but has no files to serve: a direct [[read]] fails. Store retract
    * plans that derive their keys by SCANNING the store use this to
    * no-op on a previously fully-erased store instead of crashing — run
    * it inside the erasure lease (the thunk overloads) so a concurrent
    * truncation cannot invalidate the answer before the scan.
    */
  def hasData(table: String): Boolean = state(table).exists(_.hasData)

  /** The shared group id stamped across every member of one
    * [[overwriteMany]] write, or None for tables written alone. Readers
    * holding multi-table decoded state (the ANN index quantizer caches)
    * compare members' ids to detect a torn capture; PK merges into a
    * member (index adds) preserve the id — same generation family.
    */
  def groupId(table: String): Option[String] = state(table).flatMap(_.group)

  /** True iff admit `id` has committed for `table` — the probe for
    * operators that check something before their op-id merge (the
    * inverted index's NEW-ids guard): a replay whose merge already
    * landed on a member skips the check, which would otherwise misread
    * the admit's own committed rows.
    */
  def admitCommitted(table: String, id: String): Boolean =
    state(table).exists(_.admits(id))

  // ---- writer lease: the single-writer-per-table contract, ENFORCED --

  /** How long a writer lease stays credible without renewal. A live
    * writer renews every [[WriterLeaseMs]]/3 from a dedicated daemon
    * thread, so breaking a lease requires the holder to have missed
    * three consecutive renewals — a crashed or hard-stalled JVM, not a
    * busy one.
    */
  private val WriterLeaseMs = 15000L

  private def writerLock(table: String): Path =
    Paths.get(root, s".${table}__writer")

  /** Tables whose lease THIS thread already holds — public mutators
    * nest (a [[writerLocked]] scope around merges), and a nested
    * acquire on a held table must pass through, not deadlock.
    */
  private val heldLeases = new ThreadLocal[
      scala.collection.mutable.Map[String, String]] {
    override def initialValue(): scala.collection.mutable.Map[String, String] =
      scala.collection.mutable.Map.empty[String, String]
  }

  /** Run `body` holding this sink's writer lease over `tables` — the
    * critical section for COMPOUND read-modify-write operations (an
    * admit that probes the store and then merges into it; a compact
    * that reads and overwrites). Writers serialize per table
    * across threads, sink instances and processes sharing one root:
    *
    *  - acquisition is an atomic `Files.createFile` of
    *    `.{table}__writer`; freshness rides the file MTIME (content is
    *    the owner id only, so a racer reading between create and
    *    content-write still sees a FRESH lock and waits);
    *  - a second writer WAITS up to `writerWaitMs`, then fails LOUDLY
    *    naming the table and the contract;
    *  - a lease older than [[WriterLeaseMs]] is a crashed writer:
    *    broken and re-acquired;
    *  - a held lease renews from a shared daemon scheduler; every commit
    *    re-checks it, so a holder whose lease was broken (a stall past
    *    the horizon) aborts instead of committing over the new holder.
    *
    * Reentrant per thread; multi-table acquisition orders by name, so
    * overlapping scopes never deadlock. Readers take no lease.
    */
  def writerLocked[T](tables: Seq[String])(body: => T): T =
    withWriterLease(tables)(body)

  private def withWriterLease[T](tables: Seq[String])(body: => T): T = {
    // name contract FIRST: the lease path is derived from the name
    tables.foreach(requireValidTableName)
    val need = tables.distinct.sorted.filterNot(heldLeases.get.contains)
    val owned = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var renewTask: Option[java.util.concurrent.ScheduledFuture[_]] = None
    try {
      need.foreach { table =>
        val id = acquireWriterLease(table)
        owned += table -> id
        heldLeases.get += table -> id
      }
      if (owned.nonEmpty) {
        val held = owned.toList
        renewTask = Some(UpsertSink.leaseRenewer.scheduleAtFixedRate(
          () => held.foreach { case (t, id) => renewWriterLease(t, id) },
          WriterLeaseMs / 3, WriterLeaseMs / 3,
          java.util.concurrent.TimeUnit.MILLISECONDS))
      }
      requireLogLayout()
      body
    } finally {
      renewTask.foreach(_.cancel(false))
      owned.toList.reverse.foreach { case (t, id) =>
        heldLeases.get -= t
        releaseWriterLease(t, id)
      }
    }
  }

  /** A root whose table dirs hold data but which has no commit log was
    * written by the sink's earlier on-disk layout: no entry references
    * its files, so the first commit's vacuum would delete them. Fail
    * loudly instead. A new root starts its log here, before any file is
    * written, so a crashed first write is never taken for such data.
    */
  private def requireLogLayout(): Unit =
    if (!log.started) {
      val legacy = if (!Files.isDirectory(Paths.get(root))) None else {
        val s = Files.list(Paths.get(root))
        try s.iterator().asScala
          .filter(p => Files.isDirectory(p) && !p.getFileName.toString.startsWith("."))
          .find(dataFiles(_).nonEmpty)
        finally s.close()
      }
      legacy.foreach(p => throw new IllegalStateException(
        s"sink root $root holds table data ($p) but no commit log (_log): it " +
          "was written by an older sink layout, which this sink cannot " +
          "read and whose files its first commit would delete — rebuild " +
          "the store into a fresh root"))
      log.start()
    }

  private def acquireWriterLease(table: String): String = {
    // a brand-new store acquires its first lease before any write has
    // materialized the root dir
    Files.createDirectories(Paths.get(root))
    val lock = writerLock(table)
    val id = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + writerWaitMs
    while (true) {
      try {
        Files.createFile(lock) // atomic O_CREAT|O_EXCL arbitration
        Files.write(lock, id.getBytes("UTF-8"))
        return id
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          def mtimeStale(): Boolean =
            try System.currentTimeMillis() -
              Files.getLastModifiedTime(lock).toMillis > WriterLeaseMs
            catch {
              // vanished between createFile and the probe: the holder
              // just released — retry the create immediately
              case _: java.nio.file.NoSuchFileException => false
            }
          if (mtimeStale() && mtimeStale()) {
            // crashed holder, confirmed by a second probe immediately
            // before the break (a holder whose renewal landed between
            // the two reads is LIVE). Losing this delete race to
            // another breaker is fine — createFile re-arbitrates.
            try Files.deleteIfExists(lock)
            catch { case _: java.io.IOException => () }
          } else if (System.currentTimeMillis() >= deadline) {
            throw new IllegalStateException(
              s"writer lease on table '$table' held by another writer " +
                s"for over $writerWaitMs ms — the sink is single-writer " +
                "per table; serialize the callers or raise writerWaitMs " +
                s"(lock file: $lock)")
          } else Thread.sleep(25L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def renewWriterLease(table: String, id: String): Unit =
    try {
      val lock = writerLock(table)
      if (new String(Files.readAllBytes(lock), "UTF-8") == id)
        Files.setLastModifiedTime(lock,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    } catch { case _: Exception => () } // renewal is best-effort

  private def releaseWriterLease(table: String, id: String): Unit =
    try {
      if (new String(Files.readAllBytes(writerLock(table)), "UTF-8") == id)
        Files.deleteIfExists(writerLock(table))
    } catch { case _: Exception => () } // already broken/re-acquired

  /** FENCING: a writer whose lease was broken out from under it (a
    * stop-the-world pause past [[WriterLeaseMs]] — the renewal daemon
    * pauses WITH the JVM) must not commit over the new holder. One
    * small file read per table per commit.
    */
  private def requireLease(table: String): Unit =
    heldLeases.get.get(table).foreach { id =>
      val current =
        try Some(new String(Files.readAllBytes(writerLock(table)), "UTF-8"))
        catch { case _: java.io.IOException => None }
      if (!current.contains(id))
        throw new IllegalStateException(
          s"writer lease on table '$table' was lost mid-write (JVM " +
            "stall past the lease horizon, or a broken-and-reacquired " +
            "lock) — aborting before the commit; the new holder owns " +
            "the table now")
    }

  // ---- the commit log: write, commit, vacuum -------------------------

  /** Commit `changes` (None drops the table) as one log entry, each
    * changed table under a fresh version, then vacuum those tables. */
  private def commit(changes: Map[String, Option[TableState]]): Unit =
    if (changes.nonEmpty) {
      val e = log.commit(changes.map { case (t, s) =>
        t -> s.map(_.copy(version = CommitLog.freshVersion()))
      }) {
        changes.keys.foreach(requireLease)
        testHook("commit")
      }
      vacuum(e, changes.keys)
    }

  /** Delete every file under the committed tables' dirs that neither
    * `committed` nor an entry pinned for that table references (through
    * their manifests) — the files replaced by this commit and any left by a
    * crashed write — then the emptied bucket dirs (and the table dir of
    * a dropped table). With no pin open, the files on disk are exactly
    * the head's. Runs under the tables' leases, so no write is in flight.
    */
  private def vacuum(committed: Entry, tables: Iterable[String]): Unit = {
    val kept = log.retained(committed, tables)
    tables.foreach { t =>
      val dir = tableDir(t)
      if (Files.isDirectory(dir)) {
        val live = kept(t).flatMap(log.manifest(t, _)).iterator.flatMap(_.paths).toSet
        val s = Files.walk(dir)
        val all = try s.iterator().asScala.toSeq finally s.close()
        all.filter(Files.isRegularFile(_)).foreach { p =>
          // a `.name.crc` checksum lives exactly as long as `name`
          val n = p.getFileName.toString
          val owner =
            if (n.startsWith(".") && n.endsWith(".crc")) n.drop(1).stripSuffix(".crc")
            else n
          if (!live(dir.relativize(p.resolveSibling(owner)).toString))
            Files.deleteIfExists(p)
        }
        val gone = live.isEmpty && !committed.tables.contains(t)
        all.filter(Files.isDirectory(_)).sortBy(-_.getNameCount)
          .filter(d => d != dir || gone)
          .foreach { d =>
            try Files.delete(d)
            catch { case _: java.nio.file.DirectoryNotEmptyException => () }
          }
      }
    }
  }

  private val BucketDir = s"$BucketCol=(\\d+)".r

  /** Committed-layout data files under `dir` (relative path -> size):
    * `name.parquet` (flat) or `__bucket=N/name.parquet`. */
  private def dataFiles(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      def data(n: String) = n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      val s = Files.walk(dir, 2)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString -> p)
        .filter { case (rel, _) => rel.split('/') match {
          case Array(n) => data(n)
          case Array(BucketDir(_), n) => data(n)
          case _ => false
        } }
        .map { case (rel, p) => rel -> Files.size(p) }.toMap
      finally s.close()
    }

  /** Write `df` (carrying [[BucketCol]] when `buckets` > 0) as fresh
    * parquet files under the table dir and return them by bucket. The
    * files land beside the live ones under new names and stay invisible
    * until a commit references them; the table's lease keeps any other
    * writer out of the dir, so the new files are the listing's delta.
    */
  private def writeFiles(table: String, df: DataFrame, buckets: Int,
                         label: String): Map[Int, Seq[LogFile]] = {
    val dir = tableDir(table)
    val before = dataFiles(dir)
    graft.ops.Par.labeled(spark, label) {
      val w = if (buckets > 0) bucketAligned(df, buckets).write.partitionBy(BucketCol)
        else df.write
      w.mode(SaveMode.Append).parquet(dir.toString)
    }
    (dataFiles(dir) -- before.keySet).toSeq.map { case (rel, size) =>
      rel.split('/') match {
        case Array(BucketDir(b), n) => b.toInt -> LogFile(n, size)
        case _ => TableState.Flat -> LogFile(rel, size)
      }
    }.groupMap(_._1)(_._2)
  }

  /** A table's rows from the given buckets (all when None), read from
    * exactly the files the log lists with the logged schema: Spark sees
    * a fixed listing, so nothing walks the directory or infers a schema.
    * Bucketed reads carry [[BucketCol]]. A missing or emptied table has
    * no files to serve: it fails as a parquet read of a path that never
    * exists, NOT of the table dir, which may still hold files no head
    * references (a crashed first write, a pinned older generation).
    */
  private def scan(table: String, st: Option[TableState],
                   buckets: Option[Seq[Int]]): DataFrame = st match {
    case Some(s) if s.hasData =>
      // qualified exactly as the index qualifies its root, which it
      // matches against the files' parent dir for a flat layout
      val raw = new HPath(tableDir(table).toAbsolutePath.toString)
      val base = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(raw)
      val full = if (s.bucketed) s.schema.add(BucketCol, IntegerType) else s.schema
      val statuses = buckets.fold(s.files.toSeq)(_.flatMap(b => s.files.get(b).map(b -> _)))
        .flatMap { case (b, fs) => fs.map(f => new FileStatus(f.size, false, 1,
          32L << 20, 0L, new HPath(base, TableState.relPath(b, f.name)))) }
      if (statuses.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], full)
      else {
        val index = new InMemoryFileIndex(spark, Seq(base), Map.empty,
          Some(full), new FixedListing(base, statuses.toArray))
        spark.baseRelationToDataFrame(HadoopFsRelation(index,
          index.partitionSchema, s.schema, None, new ParquetFileFormat,
          Map.empty)(spark))
      }
    case _ => spark.read.parquet(Paths.get(root, "_log", "missing", table).toString)
  }

  /** Current table contents, bucket layout hidden from callers. */
  def read(table: String): DataFrame = scan(table, state(table), None).drop(BucketCol)

  /** One bounded (table, bucket) collect over several keyed frames that
    * already carry [[BucketCol]]: each frame's shuffle runs (and a
    * persisted frame materializes) in ONE job. */
  private def touchedBuckets(frames: Seq[(String, DataFrame)],
                             label: String): Map[String, Seq[Int]] =
    if (frames.isEmpty) Map.empty
    else graft.ops.Par.labeled(spark, label)(frames.map { case (t, df) =>
        df.select(lit(t).as("__t"), col(BucketCol)) }
        .reduce(_ unionByName _).distinct().collect()) // bounded by buckets
      .groupBy(_.getString(0))
      .map { case (t, rows) => t -> rows.map(_.getInt(1)).toSeq.sorted }

  /** Rows of `table` from ONLY the buckets `keys` hash into — the
    * READ-side sibling of the merge/erase touched-bucket discipline,
    * for guards and receipts that check a bounded key set against a
    * large table without paying a full scan. `pk` must be the table's
    * merge key; key columns are cast to the STORED types first (a
    * type-skewed hash would prune the WRONG buckets and silently miss
    * every match). Flat-layout and fileless tables fall back to the
    * plain read. Like [[read]], not pinned — run under the writer lease
    * (or a snapshot) when racing writers matter.
    */
  private[graft] def readKeyBuckets(table: String, keys: DataFrame,
                                    pk: Seq[String]): DataFrame = {
    require(pk.nonEmpty, s"readKeyBuckets on $table needs the merge key")
    val cur = state(table)
    cur.filter(s => s.hasData && s.bucketed) match {
      case None => scan(table, cur, None).drop(BucketCol)
      case Some(st) =>
        val typed = pk.map { c =>
          val f = st.schema.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"readKeyBuckets $table: key column $c not in stored schema " +
                s"[${st.schema.map(_.name).mkString(", ")}]"))
          keys(c).cast(f.dataType).as(c)
        }
        // no key-level distinct: the bucket set is a pure function of
        // the key VALUES (duplicates fold in the map-side partial
        // aggregate), so deduping keys first would only add an exchange
        val touched = touchedBuckets(
            Seq(table -> withBucket(keys.select(typed: _*), pk, st.buckets)),
            s"sink:keybuckets:$table")
          .getOrElse(table, Nil).filter(st.files.contains)
        if (touched.isEmpty) scan(table, cur, None).drop(BucketCol).limit(0)
        else scan(table, cur, Some(touched)).drop(BucketCol)
    }
  }

  private def withBucket(df: DataFrame, pk: Seq[String],
                         buckets: Int): DataFrame =
    df.withColumn(BucketCol, pmod(hash(pk.map(col): _*), lit(buckets)))

  /** Align write tasks to bucket boundaries before a `partitionBy`
    * write: without this, EVERY write task opens a file in EVERY bucket
    * dir it sees rows for — up to tasks x buckets tiny files per merge.
    * One hash shuffle keyed on the bucket puts each bucket's rows whole
    * in one task, and the write sorts each task's rows by bucket, so a
    * task carrying several buckets still writes one file per bucket.
    * Width = min(modulus, session shuffle parallelism): a write never
    * profits from more tasks than buckets or cores, and every task past
    * the cores is a mostly-empty one that still pays a task's fixed cost.
    */
  private def bucketAligned(df: DataFrame, buckets: Int): DataFrame =
    df.repartition(buckets.min(spark.sessionState.conf.numShufflePartitions),
      col(BucketCol))

  /** What a parquet read of `t`'s written files serves: every field,
    * element and value nullable (the file-source read contract). */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case o => o
  }

  private def schemaOf(df: DataFrame): StructType =
    nullable(StructType(df.schema.filterNot(_.name == BucketCol))).asInstanceOf[StructType]

  // ---- snapshots -----------------------------------------------------

  /** CONSISTENT point-in-time read under concurrent writes: pins the
    * log head (a file under `.snapshots/`) and reads exactly that
    * entry's files. Later commits replace the live file lists; vacuum
    * keeps every file a pinned entry references until
    * [[TableSnapshot.close]] releases the pin. A missing or emptied
    * table has nothing to pin. Snapshots survive even [[drop]]; a
    * crashed reader's pin is reclaimed by [[cleanupSnapshots]].
    */
  def snapshot(table: String): TableSnapshot = snapshotMany(Seq(table)).head

  /** Cross-table POINT-IN-TIME snapshot: every member read from ONE log
    * entry, so a group write ([[overwriteMany]], [[mergeMany]],
    * [[eraseMany]]) appears all-or-nothing. Returned snapshots align
    * with `tables`; close every one (each holds its own pin).
    *
    * Pin protocol ([[CommitLog.pinHead]]): the pins name one entry, and
    * it is read only if it is still the head once the pins are
    * published; otherwise the pins move to the new head. A stall
    * anywhere in between can neither tear the group nor read a deleted
    * file, and a pin never released holds one generation, not a range.
    */
  def snapshotMany(tables: Seq[String]): Seq[TableSnapshot] = {
    require(tables.nonEmpty && tables.distinct.size == tables.size,
      s"snapshotMany needs distinct tables, got [${tables.mkString(", ")}]")
    tables.foreach(requireValidTableName)
    val (head, pins) = log.pinHead(tables)(testHook("pinned"))
    try {
      tables.zip(pins).map { case (t, pin) =>
        val st = head.tables.get(t).flatMap(log.manifest(t, _)).filter(_.hasData)
          .getOrElse(throw new IllegalArgumentException(
            s"cannot snapshot missing or empty table $t"))
        new TableSnapshot(scan(t, Some(st), None).drop(BucketCol), pin, st.version)
      }
    } catch { case e: Throwable => pins.foreach(Files.deleteIfExists); throw e }
  }

  /** Reclaim pins older than `maxAgeMillis` — the operator sweep for
    * readers that died without [[TableSnapshot.close]]. Size the
    * horizon to the longest read you allow, exactly like a
    * transactional format's VACUUM retention; the files a reaped pin
    * kept alive go with the next commit on their table. Returns the
    * number of pins removed.
    */
  def cleanupSnapshots(maxAgeMillis: Long): Int =
    log.dropPinsOlderThan(maxAgeMillis)

  // ---- whole-table writes --------------------------------------------

  /** Create-if-missing (the reference's create-missing-only DDL mode,
    * dbCreator.ts:186-222): write only when absent.
    */
  def createIfMissing(table: String, df: DataFrame): Unit =
    if (!exists(table)) overwrite(table, df)

  /** Full atomic replace (initializeDb / reorg rebuild path): readers see
    * the old table or the new one, never a part (schema.ts:10-49;
    * reorgCleanupStrategy.ts:43-50). A non-empty `pk` writes the
    * bucketed layout; an empty one keeps the table's logged merge key
    * when `df` still has those columns, so a rebuild never knocks a
    * keyed table back to the flat layout. A solo overwrite clears the
    * group id and the applied op ids: it is a new generation.
    */
  def overwrite(table: String, df: DataFrame, pk: Seq[String] = Seq.empty): Unit =
    writeGroup(Seq(TableWrite(table, df, pk)), Nil, None)

  /** ATOMIC GROUP overwrite: replace (and/or drop) SEVERAL tables in one
    * log entry, so no reader ever observes a cross-table mix of
    * generations — what a multi-table artifact (the ANN index's
    * centroids + codebooks + code lists) needs from its rebuild. Every
    * member shares one fresh [[groupId]]. Member writes run
    * concurrently; if any fails, nothing commits.
    */
  def overwriteMany(writes: Seq[TableWrite], drops: Seq[String] = Nil): Unit = {
    val all = writes.map(_.table) ++ drops
    require(all.nonEmpty, "overwriteMany needs at least one write or drop")
    require(all.distinct.size == all.size,
      s"overwriteMany: duplicate tables in [${all.mkString(", ")}]")
    writeGroup(writes, drops, Some(java.util.UUID.randomUUID().toString))
  }

  private def writeGroup(writes: Seq[TableWrite], drops: Seq[String],
                         group: Option[String]): Unit =
    withWriterLease(writes.map(_.table) ++ drops) {
      val head = states(writes.map(_.table))
      val written = graft.ops.Par.map(writes) { w =>
        val pk = if (w.pk.nonEmpty) w.pk
          else head.get(w.table).map(_.pk)
            .filter(k => k.nonEmpty && k.forall(w.df.columns.contains)).getOrElse(Nil)
        val buckets = if (pk.nonEmpty) numBuckets else 0
        val files = writeFiles(w.table,
          if (pk.nonEmpty) withBucket(w.df, pk, buckets) else w.df,
          buckets, s"sink:overwrite:${w.table}")
        w.table -> Some(TableState(0L, schemaOf(w.df), pk, buckets, group,
          files, Set.empty, Set.empty))
      }
      commit((written ++ drops.map(_ -> None)).toMap)
    }

  /** Drop a table entirely (no-op when absent). Files a pinned snapshot
    * still reads stay until its pin is released. */
  def drop(table: String): Unit = withWriterLease(Seq(table)) {
    if (exists(table)) commit(Map(table -> None))
    else vacuum(log.head(), Seq(table)) // leftovers of a crashed first write
  }

  /** BUCKET-LAYOUT EVOLUTION — the maintenance half of an incremental
    * merge sink. The merge cost model only holds while a bucket fits an
    * executor comfortably: a table that has grown 100x carries 100x-fat
    * buckets, and a table provisioned wide but left small pays file-open
    * and scheduling overhead per near-empty bucket. `rebucket` rewrites
    * the table under `newBuckets` in one commit, so readers never
    * observe a mixed-modulus table and later merges route by the NEW
    * logged modulus. Also migrates a flat-layout table in place.
    *
    * `pk` must be the table's merge key: the layout is the hash of the
    * pk columns — a different pk than future merges use would scatter
    * their updated keys away from their stored rows.
    */
  def rebucket(table: String, pk: Seq[String], newBuckets: Int): Unit = {
    require(pk.nonEmpty, s"rebucket of $table needs the table's merge key")
    require(newBuckets >= 1, s"newBuckets must be >= 1, got $newBuckets")
    withWriterLease(Seq(table)) {
      val st = state(table).getOrElse(
        throw new IllegalArgumentException(s"cannot rebucket missing table $table"))
      val df = scan(table, Some(st), None).drop(BucketCol)
      val files = writeFiles(table, withBucket(df, pk, newBuckets), newBuckets,
        s"sink:overwrite:$table")
      commit(Map(table -> Some(st.copy(pk = pk, buckets = newBuckets, files = files))))
    }
  }

  // ---- merges --------------------------------------------------------

  /** The merge schema contract, checked loudly up front: an update
    * batch must carry exactly the stored columns with exactly the
    * stored types. A same-name column of a DIFFERENT type would
    * otherwise silently coerce in the union and leave mixed physical
    * types across bucket files. Order-insensitive; nullability ignored.
    * Returns the update re-projected to the stored column ORDER so every
    * written footer carries one uniform schema.
    */
  private def alignToStored(table: String, stored: StructType,
                            updates: DataFrame): DataFrame = {
    val s = stored.map(f => f.name -> f.dataType.catalogString).toMap
    val u = updates.schema.map(f => f.name -> f.dataType.catalogString).toMap
    if (s != u) {
      val missing = (s.keySet -- u.keySet).toSeq.sorted
      val extra = (u.keySet -- s.keySet).toSeq.sorted
      val retyped = (s.keySet & u.keySet).toSeq.sorted
        .filter(k => s(k) != u(k))
        .map(k => s"$k stored ${s(k)} vs update ${u(k)}")
      throw new IllegalArgumentException(
        s"merge into $table: update schema does not match stored schema" +
          (if (missing.nonEmpty) s"; missing columns [${missing.mkString(", ")}]" else "") +
          (if (extra.nonEmpty) s"; unknown columns [${extra.mkString(", ")}]" else "") +
          (if (retyped.nonEmpty) s"; type mismatches [${retyped.mkString("; ")}]" else "") +
          " — cast/align the update (a type mismatch would scatter mixed " +
          "physical types across bucket files; an added column needs a " +
          "table rebuild via overwrite)")
    }
    updates.select(stored.map(f => col(f.name)): _*)
  }

  /** PK merge: upsert `updates` into `table`, rewriting only the hash
    * buckets that contain updated keys. `versionCol` orders versions
    * within the incoming batch (e.g. blockNumber); rows whose keys match
    * existing rows replace them. A missing or emptied table is created
    * whole from the delta (even an empty one); a flat-layout table
    * migrates to the bucketed layout on its first merge.
    */
  def merge(table: String, updates: DataFrame, pk: Seq[String],
            versionCol: Option[String] = None,
            pkUnique: Boolean = false): Unit =
    merge(table, updates, pk, versionCol, pkUnique, None)

  /** [[merge]] with an EXACTLY-ONCE guarantee under crash-replay, keyed
    * by a caller-chosen `opId` — the ADMIT-direction sibling of
    * [[eraseMany]]'s erasure id, for merges that are NOT naturally
    * idempotent: a merge of sums derived from the stored rows, replayed
    * after a crash, double-counts (a [[TableMerge]] with `counts` folds
    * inside the sink instead, through [[mergeMany]]). The id commits in
    * the same log entry as the rewritten buckets, so a replay either
    * finds it (and skips the table) or finds the table untouched (and
    * applies the merge once). Replay with the SAME updates derivation.
    */
  def merge(table: String, updates: DataFrame, pk: Seq[String],
            versionCol: Option[String], pkUnique: Boolean,
            opId: Option[String]): Unit = {
    require(pk.nonEmpty, s"merge into $table needs a primary key")
    opId.foreach(requireValidOpId("admit"))
    applyMerges(Seq(TableMerge(table, updates, pk, versionCol, pkUnique)),
      opId, createEmpty = true, s"sink:merge:touched:$table")
  }

  /** Batched multi-table merge: upsert several tables' deltas in one
    * sink round-trip and ONE commit. Semantically [[merge]] per table,
    * except that an empty delta never creates a missing table. The
    * fixed-cost profile is the point for SMALL deltas (per-micro-batch
    * streaming state). A delta the driver already holds (a local
    * relation, e.g. `createDataFrame(rows, schema)`) yields its touched
    * buckets on the driver with no Spark job, and with unique keys it
    * skips the dedupe and the cache. The distributed deltas share ONE
    * Spark job that learns their touched buckets (materializing each
    * one's persist). Then the per-table rewrites run CONCURRENTLY. If
    * one table's rewrite fails, the others still commit and the first
    * failure is rethrown.
    */
  def mergeMany(merges: Seq[TableMerge]): Unit = mergeMany(merges, None)

  /** [[mergeMany]] with the [[merge]] op-id guarantee: every member that
    * applies records `opId` in the one commit, and a replay skips the
    * members that hold it — after a partial failure, only the members
    * that failed apply, once.
    */
  def mergeMany(merges: Seq[TableMerge], opId: Option[String]): Unit = {
    require(merges.map(_.table).distinct.size == merges.size,
      s"one merge per table: ${merges.map(_.table).mkString(", ")}")
    merges.foreach(m =>
      require(m.pk.nonEmpty, s"merge into ${m.table} needs a primary key"))
    opId.foreach(requireValidOpId("admit"))
    applyMerges(merges, opId, createEmpty = false,
      s"sink:mergeMany:touched:${merges.map(_.table).mkString(",")}")
  }

  private def applyMerges(merges: Seq[TableMerge], opId: Option[String],
                          createEmpty: Boolean, label: String): Unit =
    withWriterLease(merges.map(_.table)) {
      val head = states(merges.map(_.table))
      // a table whose state already holds this op id applied it: skip
      val live = merges.filterNot(m => opId.exists(id => head.get(m.table).exists(_.admits(id))))
      // the schema contract for EVERY table before ANY table writes
      val aligned = live.map(m => head.get(m.table).filter(_.hasData)
        .fold(m)(s => m.copy(updates = alignToStored(m.table, s.schema, m.updates))))
      val prepped = aligned.map { m =>
        val st = head.get(m.table)
        // bucket with the LOGGED modulus, never the instance default —
        // a mismatch would scatter updated keys away from their rows
        val buckets = st.filter(_.bucketed).fold(numBuckets)(_.buckets)
        val keyed = withBucket(m.updates, m.pk, buckets)
        // a delta the driver already holds (a local relation) yields its
        // (pk, bucket) rows with no Spark job: its touched buckets come
        // from them, and unique keys need neither the dedupe nor the cache
        val held = keyed.queryExecution.optimizedPlan match {
          case _: LocalRelation => Some(keyed.select((m.pk :+ BucketCol).map(col): _*).collect())
          case _ => None
        }
        val unique = m.pkUnique || held.exists(distinctKeys)
        val latest =
          if (unique) keyed
          else withBucket(
            if (m.counts.nonEmpty)
              sumCounts(m.updates, m.pk.map(col), m.counts, m.updates.schema)
                .select(m.updates.columns.toSeq.map(col): _*)
            else dedupeLastWins(m.updates, m.pk, m.versionCol), m.pk, buckets)
        // a distributed or deduped delta is cached: the touched collect
        // and the rewrite's two reads would otherwise recompute it
        val cached = held.isEmpty || !unique
        (m, st, buckets, if (cached) latest.persist(StorageLevel.MEMORY_AND_DISK) else latest,
          held.map(_.map(_.getInt(m.pk.size)).distinct.sorted.toSeq), cached)
      }
      try {
        val touched = touchedBuckets(prepped.collect {
          case (m, st, _, latest, None, _) if st.exists(s => s.hasData && s.bucketed) ||
            (!createEmpty && !st.exists(_.hasData)) => m.table -> latest
        }, label) ++ prepped.collect { case (m, _, _, _, Some(t), _) if t.nonEmpty => m.table -> t }
        val results = graft.ops.Par.map(prepped) { case (m, st, buckets, latest, _, _) =>
          def upserted(cur: DataFrame): DataFrame =
            if (m.counts.nonEmpty)
              // DO UPDATE SET c = t.c + EXCLUDED.c: stored and delta rows
              // sum per pk (a key's bucket is a function of the key), so
              // absent keys insert and present ones add
              sumCounts(cur.unionByName(latest), (m.pk :+ BucketCol).map(col),
                m.counts, cur.schema).select(cur.columns.toSeq.map(col): _*)
            else cur.join(latest.select(m.pk.map(col): _*), m.pk, "left_anti")
              .unionByName(latest)
          m.table -> Try(st match {
            case Some(s) if s.hasData && s.bucketed =>
              // incremental: only buckets holding updated keys rewrite
              val t = touched.getOrElse(m.table, Nil)
              if (t.isEmpty) None
              else {
                val withData = t.filter(s.files.contains)
                val merged =
                  if (withData.isEmpty) latest
                  else upserted(scan(m.table, st, Some(withData)))
                Some(s.copy(files = s.files -- t ++
                  writeFiles(m.table, merged, buckets, s"sink:swap:${m.table}")))
              }
            case Some(s) if s.hasData =>
              // one-time migration of a flat-layout table
              val merged = upserted(withBucket(scan(m.table, st, None), m.pk, buckets))
              Some(s.copy(pk = m.pk, buckets = buckets,
                files = writeFiles(m.table, merged, buckets, s"sink:swap:${m.table}")))
            case _ if !createEmpty && !touched.contains(m.table) => None
            case _ =>
              // first write, or a re-create of an emptied table
              Some(TableState(0L, schemaOf(m.updates), m.pk, buckets, None,
                writeFiles(m.table, latest, buckets, s"sink:overwrite:${m.table}"),
                st.fold(Set.empty[String])(_.admits),
                st.fold(Set.empty[String])(_.erasures)))
          })
        }
        commitAll(results.map { case (t, r) =>
          t -> r.map(_.orElse(opId.flatMap(_ => head.get(t)))
            .map(s => s.copy(admits = s.admits ++ opId)))
        })
      } finally prepped.foreach(p => if (p._6) p._4.unpersist())
    }

  /** Whether `rows` (key columns, then [[BucketCol]]) hold each key once
    * as Spark groups them: binary by content; float, double, complex and
    * collated keys (Spark normalizes them) are never called unique. */
  private def distinctKeys(rows: Array[Row]): Boolean =
    rows.headOption.forall(_.schema.init.forall(_.dataType match {
      case StringType | BinaryType | BooleanType | ByteType | ShortType | IntegerType |
           LongType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    })) && rows.map(_.toSeq.init.map {
      case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
      case v => v
    }).distinct.length == rows.length

  /** Commit every member whose rewrite succeeded in one entry, then
    * rethrow the first failure (unwrapped). */
  private def commitAll(results: Seq[(String, Try[Option[TableState]])]): Unit = {
    commit(results.collect { case (t, Success(Some(s))) => t -> Some(s) }.toMap)
    results.collectFirst { case (_, Failure(e)) => e }.foreach(throw _)
  }

  /** Last-write-wins within a batch: one row per PK — shared with the
    * JDBC writer via [[MergeSemantics]] so the two sinks stay
    * swap-compatible.
    */
  private def dedupeLastWins(df: DataFrame, pk: Seq[String],
                             versionCol: Option[String]): DataFrame =
    MergeSemantics.dedupeLastWins(df, pk, versionCol)

  /** One row per `keys` value, each of `cntCols` summed as its type in
    * `types` and cast back to it (a sum must not promote the stored
    * column type under a rewrite), named `name(c)` — the per-pk fold
    * that count merges and count retractions share.
    */
  private def sumCounts(df: DataFrame, keys: Seq[Column], cntCols: Seq[String],
                        types: StructType,
                        name: String => String = identity): DataFrame = {
    val aggs = cntCols.map { c =>
      val tpe = types(c).dataType
      sum(col(c).cast(tpe)).cast(tpe).as(name(c))
    }
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  // ---- erasure -------------------------------------------------------

  /** PK DELETE — the retention/right-to-erasure half of a merge sink:
    * physically remove the rows whose keys appear in `keys`, rewriting
    * ONLY the buckets that contain them (the [[merge]] cost model). Keys
    * absent from the table are no-ops; a bucket whose every row is
    * deleted is removed outright. Deleting EVERY row leaves an empty
    * table — like a TRUNCATE: the next [[merge]]/[[mergeMany]] re-creates
    * it whole from its delta; a direct [[read]] before that fails; a
    * further `delete` is a no-op. Key columns are cast to the stored
    * types first, so int keys against a long table just work.
    */
  def delete(table: String, keys: DataFrame, pk: Seq[String]): Unit = {
    require(pk.nonEmpty, s"delete from $table needs a primary key")
    eraseMany(Seq(TableDelete(table, keys, pk)))
  }

  /** GROUP PK delete — [[delete]] across a table GROUP in one commit:
    * a store whose state spans tables (LSH postings + vectors, bands +
    * shingle sets) erases a subject from ALL of them at once. Every
    * `pk` must be its table's FULL merge key (see [[TableDelete]]).
    */
  def deleteMany(deletes: Seq[TableDelete]): Unit = eraseMany(deletes)

  /** [[deleteMany]] with the delete keys DERIVED INSIDE the writer
    * lease. An erasure whose full merge keys come from scanning the
    * store itself has a race in the eager form — a concurrent admit
    * landing between the caller's key scan and the lease adds postings
    * the scan never saw. Declaring the member `tables` up front and
    * evaluating `derive` only after the lease is held closes that
    * window. `derive` must only delete from the declared tables
    * (enforced) and should eagerly checkpoint store-scanning frames.
    */
  def deleteMany(tables: Seq[String])(derive: => Seq[TableDelete]): Unit =
    eraseMany(tables)(derive)

  /** GROUP erasure across heterogeneous store shapes: PK deletes
    * ([[TableDelete]]) and count decrements ([[TableCountRetract]])
    * under ONE writer lease and ONE commit — a subject erases from
    * posting tables, payload tables, count inventories and policy
    * histograms at once, and no reader captures a half-erased state.
    * Without an erasure id a count retraction is at-least-once under
    * crash-replay; see the erasureId overload.
    */
  def eraseMany(erases: Seq[TableErase]): Unit = eraseMany(erases, None)

  /** [[eraseMany]] with an EXACTLY-ONCE guarantee under crash-replay,
    * keyed by a caller-chosen `erasureId` (unique per logical erasure —
    * a sweep id, a ticket number). The id commits in the same log entry
    * as the member rewrites (a member with nothing to erase records it
    * too), so a replay skips every member that applied it and applies
    * the rest once — bit-identical to a single uncrashed run. Replay
    * must re-derive the SAME payloads. An id is never forgotten.
    */
  def eraseMany(erases: Seq[TableErase], erasureId: Option[String]): Unit = {
    require(erases.nonEmpty, "eraseMany needs at least one table")
    erasureId.foreach(requireValidOpId("erasure"))
    withWriterLease(erases.map(_.table))(eraseLeased(erases, erasureId))
  }

  /** [[eraseMany]] with the per-table payloads DERIVED INSIDE the
    * writer lease (see the [[deleteMany]] thunk form for why). */
  def eraseMany(tables: Seq[String])(derive: => Seq[TableErase]): Unit =
    eraseMany(tables, None)(derive)

  /** The thunk form of the exactly-once overload. */
  def eraseMany(tables: Seq[String], erasureId: Option[String])(
      derive: => Seq[TableErase]): Unit = {
    require(tables.nonEmpty, "eraseMany needs at least one table")
    require(tables.distinct.size == tables.size,
      s"duplicate tables in lease scope: ${tables.mkString(", ")}")
    erasureId.foreach(requireValidOpId("erasure"))
    withWriterLease(tables) {
      val erases = derive
      // an EMPTY derivation is a no-op: a plan that scans the store for
      // its keys legitimately derives nothing from an emptied store
      if (erases.nonEmpty) {
        val outside = erases.map(_.table).filterNot(tables.contains)
        require(outside.isEmpty,
          s"derived erases target tables outside the lease scope: " +
            s"${outside.mkString(", ")} (declared: ${tables.mkString(", ")})")
        eraseLeased(erases, erasureId)
      }
    }
  }

  /** Op-id grammar: printable and bounded. `kind` names the id in the
    * error ("admit", "erasure"). */
  private def requireValidOpId(kind: String)(id: String): Unit =
    require(id.nonEmpty && id.length <= 128 &&
        id.forall(c => c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"invalid $kind id '$id': need 1-128 chars of [A-Za-z0-9._-]")

  private def eraseLeased(erases: Seq[TableErase],
                          erasureId: Option[String]): Unit = {
    require(erases.map(_.table).distinct.size == erases.size,
      s"one erase per table: ${erases.map(_.table).mkString(", ")}")
    erases.foreach(d =>
      require(d.pk.nonEmpty, s"erase from ${d.table} needs a primary key"))
    val head = states(erases.map(_.table))
    erases.foreach(d => require(head.contains(d.table),
      s"cannot erase from missing table ${d.table}"))
    val live = erases.filterNot(d => erasureId.exists(head(d.table).erasures))
    val prepped = live.filter(d => head(d.table).hasData).map { d =>
      val st = head(d.table)
      val buckets = if (st.bucketed) st.buckets else numBuckets
      val stored = st.schema
      def typed(frame: DataFrame, what: String): Seq[Column] = d.pk.map { c =>
        val f = stored.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"$what ${d.table}: key column $c not in stored schema " +
              s"[${stored.map(_.name).mkString(", ")}]"))
        frame(c).cast(f.dataType).as(c)
      }
      val keyed = (d match {
        case TableDelete(_, keys, pk) =>
          withBucket(keys.select(typed(keys, "delete from"): _*).distinct(),
            pk, buckets)
        case TableCountRetract(t, decrements, pk, cntCols, _) =>
          // one decrement row per pk, each count in its STORED type
          cntCols.foreach { c =>
            require(stored.exists(_.name == c),
              s"count retract $t: count column $c not in stored schema " +
                s"[${stored.map(_.name).mkString(", ")}]")
            require(decrements.columns.contains(c),
              s"count retract $t: decrements frame lacks count column $c")
          }
          withBucket(sumCounts(decrements, typed(decrements, "count retract"),
            cntCols, stored, c => s"__dec_$c"), pk, buckets)
      }).persist(StorageLevel.MEMORY_AND_DISK)
      (d, st, buckets, keyed)
    }
    try {
      val touchedAll = touchedBuckets(prepped.map(p => p._1.table -> p._4),
        s"sink:erase:touched:${prepped.map(_._1.table).mkString(",")}")
      val results = graft.ops.Par.map(prepped) { case (d, st, buckets, keyed) =>
        d.table -> Try {
          val touched = touchedAll.getOrElse(d.table, Nil)
            .filter(b => !st.bucketed || st.files.contains(b))
          if (touched.isEmpty) None
          else {
            // a flat member rewrites whole, into the bucketed layout
            val cur =
              if (st.bucketed) scan(d.table, Some(st), Some(touched))
              else withBucket(scan(d.table, Some(st), None), d.pk, buckets)
            val kept = d match {
              case td: TableDelete =>
                cur.join(keyed.select(td.pk.map(col): _*), td.pk, "left_anti")
              case cr: TableCountRetract =>
                // decrement in place: stored counts minus the subject's
                // sums, clamped at zero; un-decremented rows pass through
                val updated = cur.join(
                  keyed.select((cr.pk ++ cr.cntCols.map(c => s"__dec_$c"))
                    .map(col): _*),
                  cr.pk, "left")
                val outCols = cur.columns.toSeq.map { c =>
                  if (cr.cntCols.contains(c)) {
                    val tpe = cur.schema(c).dataType
                    greatest(col(c) - coalesce(col(s"__dec_$c"),
                      lit(0).cast(tpe)), lit(0).cast(tpe)).cast(tpe).as(c)
                  } else col(c)
                }
                val dec = updated.select(outCols: _*)
                if (cr.dropAtZero)
                  dec.filter(cr.cntCols.map(col(_) > 0).reduce(_ || _))
                else dec
            }
            val written = writeFiles(d.table, kept, buckets, s"sink:swap:${d.table}")
            Some(if (st.bucketed) st.copy(files = st.files -- touched ++ written)
              else st.copy(pk = d.pk, buckets = buckets, files = written))
          }
        }
      }.toMap
      commitAll(live.map { d =>
        d.table -> results.getOrElse(d.table, Success(None)).map(
          _.orElse(erasureId.map(_ => head(d.table)))
            .map(s => s.copy(erasures = s.erasures ++ erasureId)))
      })
    } finally prepped.foreach(_._4.unpersist())
  }
}

object UpsertSink {
  /** The bucket partition column of the bucketed layout. */
  private[sink] val BucketCol = "__bucket"

  /** One shared daemon thread renews every held writer lease in the
    * process — renewal is a small file touch per held table per tick,
    * so one thread serves any number of sinks.
    */
  private val leaseRenewer: java.util.concurrent.ScheduledExecutorService =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-writer-lease-renewer")
        t.setDaemon(true)
        t
      })
}

/** The file listing Spark's index would otherwise walk the table dir
  * for: exactly the files a log entry lists, under the table dir. */
private final class FixedListing(base: HPath, files: Array[FileStatus])
    extends FileStatusCache {
  override def getLeafFiles(path: HPath): Option[Array[FileStatus]] =
    if (path == base) Some(files) else None
  override def putLeafFiles(path: HPath, leafFiles: Array[FileStatus]): Unit = ()
  override def invalidateAll(): Unit = ()
}

/** A pinned point-in-time view of a sink table — see
  * [[UpsertSink.snapshot]]. `df` reads the pinned log entry's files, so
  * its content never changes however many writes land on the live
  * table; [[close]] releases the pin (idempotent), after which the next
  * commit on the table may delete those files — the snapshot's lifetime
  * is the caller's read window, not the DataFrame's.
  */
final class TableSnapshot private[sink] (val df: DataFrame,
                                         /** The pin file. */
                                         private[sink] val dir: Path,
                                         /** The table's content version
                                           * in the pinned entry — lets
                                           * snapshot readers share
                                           * version-keyed decoded-state
                                           * caches with live readers:
                                           * same version, same bytes. */
                                         val srcVersion: Long)
    extends AutoCloseable {
  override def close(): Unit = Files.deleteIfExists(dir)
}

/** Shared local-fs helpers. */
private[graft] object Fs {
  /** Recursive delete that tolerates a concurrent deleter of the same
    * tree: a file that vanished mid-walk is exactly the outcome this
    * delete wanted.
    */
  def deleteRecursively(p: Path): Unit =
    try {
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach { f =>
            try Files.delete(f)
            catch { case _: java.nio.file.NoSuchFileException => () }
          }
        finally walk.close()
      }
    } catch {
      case _: java.nio.file.NoSuchFileException => ()
      case e: java.io.UncheckedIOException
          if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] => ()
    }
}

object Retry {
  /** Exponential backoff: delay = initial * 2^(attempt-1), maxRetries
    * attempts (src/handlers/dbUpsert.ts:25-48; config/default.yml:7-8).
    */
  def withBackoff[T](maxRetries: Int, initialDelayMs: Long,
                     sleep: Long => Unit = Thread.sleep)(op: () => T): T = {
    var attempt = 0
    var result: Option[T] = None
    var lastError: Throwable = null
    while (result.isEmpty && attempt <= maxRetries) {
      if (attempt > 0) sleep(initialDelayMs * (1L << (attempt - 1)))
      try result = Some(op())
      catch { case e: Exception => lastError = e }
      attempt += 1
    }
    result.getOrElse(throw lastError)
  }
}
