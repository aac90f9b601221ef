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
                            counts: Seq[String] = Nil) extends SinkMember {
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
sealed trait TableErase extends SinkMember

/** A member of one sink write, a [[TableMerge]] or a [[TableErase]]:
  * what the sink's one touched-bucket rewrite takes.
  */
private[sink] sealed trait SinkMember {
  def table: String
  def pk: Seq[String]
}

/** One table's payload for [[UpsertSink.eraseMany]] — the per-table
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
  * Every change takes ONE path, as Delta Lake's MERGE applies its
  * clauses through one touched-files rewrite: [[merge]], [[mergeMany]],
  * [[delete]] and [[eraseMany]] hand their upserts, count merges, PK
  * deletes and count retracts to one private rewrite. It skips members
  * that already hold the op id, routes each delta to the buckets its
  * keys hash into (no Spark job when the driver holds it; one shared
  * job for the distributed ones) and rewrites ONLY those buckets, each
  * kind contributing just its step from stored rows to rows kept. A
  * per-block merge costs O(batch + touched buckets), not O(table) — the
  * cost model of the reference's targeted `ON CONFLICT` upsert rather
  * than a full rebuild. Untouched buckets' files are never opened.
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
  import UpsertSink.{BucketCol, Plan, distinctCount, held, keyFilter}

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
  def writerLocked[T](tables: Seq[String])(body: => T): T = {
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

  /** THE held-vs-distributed routing of merge, erase and keyed read:
    * the touched buckets of (table, bucketed frame, [[heldRoutes]])
    * members. Held rows give theirs with no Spark job; the distributed
    * frames share ONE bounded (table, bucket) collect, labelled `label`
    * + their tables, that runs each one's shuffle (and materializes a
    * persisted frame). Members touching no bucket are absent.
    */
  private def touchedBuckets(members: Seq[(String, DataFrame, Option[Array[Row]])],
                             label: String): Map[String, Seq[Int]] = {
    val distributed = members.collect { case (t, df, None) => t -> df }
    val collected =
      if (distributed.isEmpty) Array.empty[Row]
      else graft.ops.Par.labeled(spark, label + distributed.map(_._1).mkString(","))(
        distributed.map { case (t, df) => df.select(lit(t).as("__t"), col(BucketCol)) }
          .reduce(_ unionByName _).distinct().collect()) // bounded by buckets
    val routed = members.collect { case (t, _, Some(routes)) if routes.nonEmpty =>
      t -> routes.map(r => r.getInt(r.length - 1)).distinct.sorted.toSeq }
    collected.groupBy(_.getString(0))
      .map { case (t, rows) => t -> rows.map(_.getInt(1)).toSeq.sorted } ++ routed
  }

  /** Rows of `table` whose `pk` matches a key in `keys` (a semi-join),
    * opening ONLY the buckets `keys` hash into — the READ-side sibling
    * of the merge/erase touched-bucket discipline, for guards and
    * receipts that check a bounded key set against a large table without
    * paying a full scan. `pk` must be the table's merge key; key columns
    * are cast to the STORED types first ([[storedKeys]]). The keys route
    * like a rewrite's delta ([[touchedBuckets]]): held keys
    * ([[UpsertSink.held]]) with no Spark job before the caller's action,
    * distributed ones in one job. When held keys' types compare exactly
    * on the driver and they are few (at most 200 distinct keys), they
    * match as a filter on the key values and that action needs no join.
    * All other keys semi-join, and Spark picks the join by size.
    * Flat-layout and fileless tables fall back to the plain read. Like
    * [[read]], not pinned — run under the writer lease (or a snapshot)
    * when racing writers matter.
    */
  private[graft] def readKeyBuckets(table: String, keys: DataFrame,
                                    pk: Seq[String]): DataFrame = {
    require(pk.nonEmpty, s"readKeyBuckets on $table needs the merge key")
    val cur = state(table)
    val all = scan(table, cur, None).drop(BucketCol) // a missing table fails here
    val typed = keys.select(storedKeys(s"readKeyBuckets $table", cur.get.schema, keys, pk): _*)
    // a bucketed table opens only the buckets the keys route to
    val (rows, routes) = cur.filter(_.bucketed).fold((all, Option.empty[Array[Row]])) { st =>
      val keyed = withBucket(typed, pk, st.buckets)
      val routes = heldRoutes(keyed, pk)
      // no key-level distinct: the bucket set is a pure function of
      // the key VALUES (duplicates fold in the map-side partial
      // aggregate), so deduping keys first would only add an exchange
      val touched = touchedBuckets(Seq((table, keyed, routes)), "sink:keybuckets:")
        .getOrElse(table, Nil).filter(st.files.contains)
      (if (touched.isEmpty) all.limit(0) else scan(table, cur, Some(touched)).drop(BucketCol),
        routes)
    }
    // Spark picks the semi-join by size
    routes.flatMap(r => keyFilter(typed.schema, r.map(_.toSeq.init)))
      .fold(rows.join(typed.select(pk.map(col): _*), pk, "left_semi"))(rows.filter)
  }

  /** The (pk, [[BucketCol]]) rows of a bucketed frame the driver holds
    * ([[UpsertSink.held]]), collected with no Spark job, or None for a
    * distributed frame. */
  private def heldRoutes(keyed: DataFrame, pk: Seq[String]): Option[Array[Row]] =
    held(keyed.select((pk :+ BucketCol).map(col): _*))

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
    writerLocked(writes.map(_.table) ++ drops) {
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
  def drop(table: String): Unit = writerLocked(Seq(table)) {
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
    writerLocked(Seq(table)) {
      val st = state(table).getOrElse(
        throw new IllegalArgumentException(s"cannot rebucket missing table $table"))
      val df = scan(table, Some(st), None).drop(BucketCol)
      val files = writeFiles(table, withBucket(df, pk, newBuckets), newBuckets,
        s"sink:overwrite:$table")
      commit(Map(table -> Some(st.copy(pk = pk, buckets = newBuckets, files = files))))
    }
  }

  // ---- merges and erasure: one touched-bucket rewrite ----------------

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

  /** `keys`' `pk` columns cast to their STORED types in `stored`: a key
    * of another type hashes to other buckets and would silently match
    * nothing. `what` names the operation in the error for a key column
    * the table does not have.
    */
  private def storedKeys(what: String, stored: StructType, keys: DataFrame,
                         pk: Seq[String]): Seq[Column] = pk.map { c =>
    val f = stored.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"$what: key column $c not in stored schema " +
          s"[${stored.map(_.name).mkString(", ")}]"))
    keys(c).cast(f.dataType).as(c)
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
    rewrite(Seq(TableMerge(table, updates, pk, versionCol, pkUnique)), None,
      createEmpty = true, "sink:merge:touched:")

  /** Batched multi-table merge: upsert several tables' deltas in one
    * sink round-trip and ONE commit, through the one rewrite (class
    * doc). Semantically [[merge]] per table, except that an empty delta
    * never creates a missing table. The fixed-cost profile is the point
    * for SMALL deltas (per-micro-batch streaming state): a delta the
    * driver already holds (a local relation, e.g.
    * `createDataFrame(rows, schema)`) routes with no Spark job, and with
    * unique keys it skips the dedupe and the cache. The per-table
    * rewrites run CONCURRENTLY; if one fails, the others still commit
    * and the first failure is rethrown.
    *
    * An `opId` makes it EXACTLY-ONCE under crash-replay — the
    * ADMIT-direction sibling of [[eraseMany]]'s erasure id, for merges
    * that are NOT naturally idempotent: a merge of sums derived from the
    * stored rows, replayed after a crash, double-counts (a [[TableMerge]]
    * with `counts` folds inside the sink instead). Every member that
    * applies records `opId` in the same log entry as its rewritten
    * buckets, so a replay skips the members that hold it and applies the
    * rest once — after a partial failure, only the members that failed.
    * Replay with the SAME updates derivation.
    */
  def mergeMany(merges: Seq[TableMerge], opId: Option[String] = None): Unit = {
    opId.foreach(requireValidOpId("admit"))
    rewrite(merges, opId, createEmpty = false, "sink:mergeMany:touched:")
  }

  /** Commit every member whose rewrite succeeded in one entry, then
    * rethrow the first failure (unwrapped). */
  private def commitAll(results: Seq[(String, Try[Option[TableState]])]): Unit = {
    commit(results.collect { case (t, Success(Some(s))) => t -> Some(s) }.toMap)
    results.collectFirst { case (_, Failure(e)) => e }.foreach(throw _)
  }

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
  def delete(table: String, keys: DataFrame, pk: Seq[String]): Unit =
    eraseMany(Seq(TableDelete(table, keys, pk)))

  /** GROUP erasure across heterogeneous store shapes: PK deletes
    * ([[TableDelete]]) and count decrements ([[TableCountRetract]])
    * under ONE writer lease and ONE commit — a subject erases from
    * posting tables, payload tables, count inventories and policy
    * histograms at once, and no reader captures a half-erased state.
    * Every `pk` must be its table's FULL merge key (see [[TableDelete]]).
    * Without an erasure id a count retraction is at-least-once under
    * crash-replay. The members run the one rewrite (class doc): a
    * payload the driver already holds routes with no Spark job and is
    * neither deduped nor cached.
    *
    * An `erasureId` (unique per logical erasure — a sweep id, a ticket
    * number) makes it EXACTLY-ONCE under crash-replay: the id commits in
    * the same log entry as the member rewrites (a member with nothing to
    * erase records it too), so a replay skips every member that applied
    * it and applies the rest once — bit-identical to a single uncrashed
    * run. Replay must re-derive the SAME payloads. An id is never
    * forgotten.
    */
  def eraseMany(erases: Seq[TableErase], erasureId: Option[String] = None): Unit = {
    require(erases.nonEmpty, "eraseMany needs at least one table")
    erasureId.foreach(requireValidOpId("erasure"))
    rewrite(erases, erasureId, createEmpty = false, "sink:erase:touched:")
  }

  /** [[eraseMany]] with the per-table payloads DERIVED INSIDE the
    * writer lease. An erasure whose full merge keys come from scanning
    * the store itself has a race in the eager form — a concurrent admit
    * landing between the caller's key scan and the lease adds postings
    * the scan never saw. Declaring the member `tables` up front and
    * evaluating `derive` only after the lease is held closes that
    * window. `derive` must only erase from the declared tables
    * (enforced) and should eagerly checkpoint store-scanning frames.
    */
  def eraseMany(tables: Seq[String])(derive: => Seq[TableErase]): Unit =
    eraseMany(tables, None)(derive)

  /** The thunk form of the exactly-once overload. */
  def eraseMany(tables: Seq[String], erasureId: Option[String])(
      derive: => Seq[TableErase]): Unit = {
    require(tables.nonEmpty, "eraseMany needs at least one table")
    require(tables.distinct.size == tables.size,
      s"duplicate tables in lease scope: ${tables.mkString(", ")}")
    erasureId.foreach(requireValidOpId("erasure"))
    writerLocked(tables) {
      val erases = derive
      // an EMPTY derivation is a no-op: a plan that scans the store for
      // its keys legitimately derives nothing from an emptied store
      if (erases.nonEmpty) {
        val outside = erases.map(_.table).filterNot(tables.contains)
        require(outside.isEmpty,
          s"derived erases target tables outside the lease scope: " +
            s"${outside.mkString(", ")} (declared: ${tables.mkString(", ")})")
        rewrite(erases, erasureId, createEmpty = false, "sink:erase:touched:")
      }
    }
  }

  /** Op-id grammar: printable and bounded. `kind` names the id in the
    * error ("admit", "erasure"). */
  private def requireValidOpId(kind: String)(id: String): Unit =
    require(id.nonEmpty && id.length <= 128 &&
        id.forall(c => c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"invalid $kind id '$id': need 1-128 chars of [A-Za-z0-9._-]")

  /** `m`'s [[Plan]] at its table's modulus `buckets`, or None when it
    * has nothing to rewrite (an erase from a table with no rows). */
  private def plan(m: SinkMember, st: Option[TableState], buckets: Int): Option[Plan] =
    m match {
      case TableMerge(table, raw, pk, versionCol, pkUnique, counts) =>
        // the schema contract: a delta into stored rows has their types
        val updates = st.filter(_.hasData).fold(raw)(s => alignToStored(table, s.schema, raw))
        val keyed = withBucket(updates, pk, buckets)
        val routes = heldRoutes(keyed, pk)
        // a held delta with unique keys needs neither the dedupe nor the
        // cache; a distributed or deduped one is cached, since the touched
        // collect and the rewrite's reads would otherwise recompute it
        val unique = pkUnique || routes.exists(r => distinctCount(r).contains(r.length))
        val latest =
          if (unique) keyed
          else withBucket(
            if (counts.nonEmpty)
              sumCounts(updates, pk.map(col), counts, updates.schema)
                .select(updates.columns.toSeq.map(col): _*)
            // last-write-wins, shared with the JDBC writer
            else MergeSemantics.dedupeLastWins(updates, pk, versionCol), pk, buckets)
        Some(Plan(latest, routes, cache = routes.isEmpty || !unique, inserts = true, cur =>
          if (counts.nonEmpty)
            // DO UPDATE SET c = t.c + EXCLUDED.c: stored and delta rows
            // sum per pk (a key's bucket is a function of the key), so
            // absent keys insert and present ones add
            sumCounts(cur.unionByName(latest), (pk :+ BucketCol).map(col),
              counts, cur.schema).select(cur.columns.toSeq.map(col): _*)
          else cur.join(latest.select(pk.map(col): _*), pk, "left_anti")
            .unionByName(latest)))
      case e: TableErase if !st.exists(_.hasData) =>
        require(st.nonEmpty, s"cannot erase from missing table ${e.table}")
        None
      case TableDelete(table, keys, pk) =>
        val typed = keys.select(storedKeys(s"delete from $table", st.get.schema, keys, pk): _*)
        val routes = heldRoutes(withBucket(typed, pk, buckets), pk)
        // a held payload is read once, by the rewrite: no distinct, no cache
        val keyed = withBucket(if (routes.isDefined) typed else typed.distinct(), pk, buckets)
        Some(Plan(keyed, routes, cache = routes.isEmpty, inserts = false,
          _.join(keyed.select(pk.map(col): _*), pk, "left_anti")))
      case TableCountRetract(table, decrements, pk, cntCols, dropAtZero) =>
        val stored = st.get.schema
        cntCols.foreach { c =>
          require(stored.exists(_.name == c),
            s"count retract $table: count column $c not in stored schema " +
              s"[${stored.map(_.name).mkString(", ")}]")
          require(decrements.columns.contains(c),
            s"count retract $table: decrements frame lacks count column $c")
        }
        val pks = storedKeys(s"count retract $table", stored, decrements, pk)
        // one decrement row per pk, each count in its STORED type
        val keyed = withBucket(sumCounts(decrements, pks, cntCols, stored, c => s"__dec_$c"),
          pk, buckets)
        val routes = heldRoutes(withBucket(decrements.select(pks: _*), pk, buckets), pk)
        Some(Plan(keyed, routes, cache = routes.isEmpty, inserts = false, { cur =>
          // decrement in place: stored counts minus the subject's sums,
          // clamped at zero; un-decremented rows pass through
          val dec = cur.join(keyed.select((pk ++ cntCols.map(c => s"__dec_$c")).map(col): _*),
              pk, "left")
            .select(cur.columns.toSeq.map { c =>
              if (cntCols.contains(c)) {
                val tpe = cur.schema(c).dataType
                greatest(col(c) - coalesce(col(s"__dec_$c"), lit(0).cast(tpe)),
                  lit(0).cast(tpe)).cast(tpe).as(c)
              } else col(c)
            }: _*)
          if (dropAtZero) dec.filter(cntCols.map(col(_) > 0).reduce(_ || _)) else dec
        }))
    }

  /** THE touched-bucket rewrite (class doc) of merges and erases. Every
    * member is planned, so every schema contract checked, before any
    * table writes. Per member, concurrently: a bucketed table rewrites
    * only its touched buckets; a flat-layout one rewrites whole, once,
    * into the bucketed layout; a missing or emptied one is created from
    * a merge's delta (an empty delta only when `createEmpty`). The
    * commit records `opId` — admit ids for merges, erasure ids for
    * erases — on every member that did not hold it yet.
    */
  private def rewrite(members: Seq[SinkMember], opId: Option[String],
                      createEmpty: Boolean, label: String): Unit = {
    val tables = members.map(_.table)
    require(tables.distinct.size == tables.size,
      s"one write per table: ${tables.mkString(", ")}")
    members.foreach(m =>
      require(m.pk.nonEmpty, s"a write to ${m.table} needs its primary key"))
    writerLocked(tables) {
      val head = states(tables)
      def ids(m: SinkMember, s: TableState): Set[String] = m match {
        case _: TableMerge => s.admits
        case _ => s.erasures
      }
      def record(m: SinkMember, s: TableState): TableState = m match {
        case _: TableMerge => s.copy(admits = s.admits ++ opId)
        case _ => s.copy(erasures = s.erasures ++ opId)
      }
      // a member whose table already holds this op id applied it: skip
      val live = members.filterNot(m => opId.exists(id => head.get(m.table).exists(ids(m, _)(id))))
      val plans = live.flatMap { m =>
        val st = head.get(m.table)
        // the LOGGED modulus, never the instance default: a mismatch
        // would scatter keys away from their rows
        val buckets = st.filter(_.bucketed).fold(numBuckets)(_.buckets)
        plan(m, st, buckets).map((m, st, buckets, _))
      }
      try {
        plans.foreach { case (_, _, _, p) => if (p.cache) p.delta.persist(StorageLevel.MEMORY_AND_DISK) }
        // a merge into a flat table or a createEmpty one into a table with
        // no rows writes whatever its delta touches: it skips the job
        val touched = touchedBuckets(plans.collect {
          case (m, st, _, p) if st.filter(_.hasData).fold(!createEmpty)(_.bucketed || !p.inserts) =>
            (m.table, p.delta, p.routes)
        }, label)
        val results = graft.ops.Par.map(plans) { case (m, st, buckets, p) =>
          val t = touched.getOrElse(m.table, Nil)
          def swap(df: DataFrame) = writeFiles(m.table, df, buckets, s"sink:swap:${m.table}")
          m.table -> Try(st.filter(_.hasData) match {
            case Some(s) if s.bucketed =>
              val stored = t.filter(s.files.contains)
              if (t.isEmpty || (stored.isEmpty && !p.inserts)) None
              else Some(s.copy(files = s.files -- t ++ swap(
                if (stored.isEmpty) p.delta else p.step(scan(m.table, st, Some(stored))))))
            case Some(s) => // a flat-layout table: migrates on this rewrite
              if (t.isEmpty && !p.inserts) None
              else Some(s.copy(pk = m.pk, buckets = buckets,
                files = swap(p.step(withBucket(scan(m.table, st, None), m.pk, buckets)))))
            case None if !createEmpty && t.isEmpty => None
            case None => // first write, or a re-create of an emptied table
              Some(TableState(0L, schemaOf(p.delta), m.pk, buckets, None,
                writeFiles(m.table, p.delta, buckets, s"sink:overwrite:${m.table}"),
                st.fold(Set.empty[String])(_.admits),
                st.fold(Set.empty[String])(_.erasures)))
          })
        }.toMap
        commitAll(live.map { m =>
          m.table -> results.getOrElse(m.table, Success(None)).map(
            _.orElse(opId.flatMap(_ => head.get(m.table))).map(record(m, _)))
        })
      } finally plans.foreach { case (_, _, _, p) => if (p.cache) p.delta.unpersist() }
    }
  }
}

object UpsertSink {
  /** The bucket partition column of the bucketed layout. */
  private[sink] val BucketCol = "__bucket"

  /** A member of the sink's one rewrite, planned against its table's
    * head: its bucketed `delta`, the delta's held (pk, bucket) rows,
    * whether the rewrite persists it, whether it `inserts` (a merge: a
    * touched bucket with no stored rows, or a missing table, gets the
    * delta as it is), and the kind's `step` from the touched buckets'
    * stored rows to the rows kept.
    */
  private final case class Plan(delta: DataFrame, routes: Option[Array[Row]],
                                cache: Boolean, inserts: Boolean,
                                step: DataFrame => DataFrame)

  /** Whether the driver already holds `df`: its plan optimizes to a
    * [[LocalRelation]] (`createDataFrame(rows, schema)`, `toDF`, or a
    * projection or filter of one), whose collect runs no Spark job. */
  private def local(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** The rows of a frame the driver already holds, collected with no
    * Spark job; None for a distributed frame, which this never runs. */
  private[graft] def held(df: DataFrame): Option[Array[Row]] =
    if (local(df)) Some(df.collect()) else None

  /** `df` as a frame the driver holds: itself when it already is one,
    * else its rows, collected in one action. Bounded frames only: the
    * rows live in driver memory. */
  private[graft] def hold(df: DataFrame): DataFrame =
    if (local(df)) df
    else df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** THE key-equality rule for key work on the driver: keys of these
    * types compare there exactly as Spark groups and joins them (binary
    * by content, nulls equal to each other when grouped). Spark
    * normalizes float, double, decimal, complex and collated keys, so
    * those are left to Spark. */
  private def exactKeys(types: Seq[DataType]): Boolean = types.forall {
    case StringType | BinaryType | BooleanType | ByteType | ShortType | IntegerType |
         LongType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** A key's values as the driver compares them under the rule. */
  private def keyOf(values: Seq[Any]): Seq[Any] = values.map {
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case v => v
  }

  /** What `distinct().count()` of `rows` (every column a key column)
    * returns, computed on the driver under the rule; None when the key
    * types fall outside it. */
  private[graft] def distinctCount(rows: Array[Row]): Option[Long] =
    if (!rows.headOption.forall(r => exactKeys(r.schema.map(_.dataType)))) None
    else Some(rows.iterator.map(r => keyOf(r.toSeq)).distinct.size.toLong)

  /** The most distinct keys [[keyFilter]] writes into a plan. Its `In`
    * list is analyzed, optimized and shipped with every task, so its
    * cost grows with the keys: on 4 cores it beat a broadcast semi-join
    * up to about 1,000 single-column or 200 composite keys, and at
    * 20,000 composite keys it took 6 s where the join took 0.3 s. */
  private val FilterKeysMax = 200

  /** A filter passing exactly the rows a semi-join to `keys` keeps (key
    * values in the `schema` types; a key holding a null matches
    * nothing), or None when the key types fall outside the rule or the
    * distinct keys number more than [[FilterKeysMax]]. */
  private def keyFilter(schema: StructType, keys: Array[Seq[Any]]): Option[Column] =
    if (!exactKeys(schema.map(_.dataType))) None
    else {
      val live = keys.filterNot(_.contains(null)).distinctBy(keyOf).toSeq
      def lits(k: Seq[Any]): Seq[Column] = k.zip(schema).map { case (v, f) =>
        lit(v).cast(f.dataType).as(f.name) }
      if (live.size > FilterKeysMax) None
      else Some(if (schema.size == 1) col(schema.head.name).isin(live.map(lits(_).head): _*)
        else struct(schema.map(f => col(f.name)): _*).isin(live.map(k => struct(lits(k): _*)): _*))
    }

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
