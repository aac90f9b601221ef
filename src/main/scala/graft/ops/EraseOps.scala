package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.{TableCountRetract, TableDelete, TableErase, UpsertSink}

/** Right-to-erasure SWEEP over a full admission-store group — the GDPR
  * direction of the incremental-store family: one call erases a
  * subject's documents from EVERY store modality present in the sink
  * (the q117-style composition: fingerprint counts, segment inventory,
  * MinHash band+shingle postings, substring-window inventory, DSIR
  * policy histograms, embedding LSH postings+vectors — plus the
  * SERVING layers when persisted under the same root: the ANN index
  * (the subjects' PQ codes and SQ8 refine codes leave `ann_codes` /
  * `ann_vecs8`, so probes stop returning them as neighbors and no
  * reconstructible approximation of their embeddings keeps serving)
  * and the BM25 inverted index (the subjects' posting and length rows
  * leave `bm25_postings` / `bm25_doclens` and their (count, token-sum)
  * mass subtracts from `bm25_stats`, so searches stop ranking them
  * and their mass stops inflating (N, avgdl))),
  * under ONE writer lease covering every member table — a concurrent
  * `snapshotMany` reader can never capture a state where the subject
  * is gone from one gate but still flagged by another, and a
  * concurrent admit can never slip postings in behind the erasure
  * (all key/decrement derivation runs inside the lease). ONE
  * exception: a SHARDED ANN index's shards are independent sub-sinks
  * with their own leases, erased in a second phase AFTER the main
  * group — between the phases (and between shards) a reader can
  * observe subjects gone from every admission gate yet still served
  * as neighbors by their home shard; the sharded index is a serving
  * artifact outside any snapshot composition, and per-shard atomicity
  * is its documented contract ([[SimOps.shardedIndexRemove]]).
  *
  * Cost model: O(subject docs + touched buckets), never O(store) — the
  * count decrements re-derive the subject's additive contribution from
  * its text (map-only), the posting deletes scan the stores filtered
  * by the broadcast subject ids, and every bucket rewrite touches only
  * the subject's hash routes. Measured flat by the store-slope erase
  * leg in the bench artifact.
  *
  * The sweep REFUSES silent partial erasure: when the selection policy
  * store is present the caller MUST pass the subjects' target/raw
  * membership split (the membership convention was the caller's at
  * build time — guessing is worse than failing), and when any
  * embedding-keyed member is present (the LSH near-dup store, or a
  * persisted ANN index — single or sharded) the caller MUST pass the
  * subjects' vector ids (an id-mapping convention the sweep cannot
  * know). A
  * member table the sweep deliberately does NOT retract — today only
  * the batch-granularity substring DELTA store — is returned under
  * [[EraseReport.excluded]] with the reason AND the resolved
  * containing-batch ids, never listed as erased.
  *
  * Crash-replay: `sweepId` rides into the sink's erasure journal
  * ([[graft.sink.UpsertSink.eraseMany]]'s exactly-once overload), so
  * replaying a crashed sweep with the SAME id and subjects converges
  * bit-identically to a single uncrashed run — replay it before other
  * writers mutate the member tables (the journal's documented recovery
  * protocol).
  *
  * Caller contract per modality (see the per-store retract ops):
  * `docs` carries the subjects' text EXACTLY as admitted, with the
  * same shaping parameters (`segWords`, `minTokens`), each subject
  * folded in exactly once; `fromTarget`/`fromRaw` split the subjects
  * by DSIR target-sample membership; `vecIds` are the subjects'
  * embedding ids. Stores absent from the sink are skipped — the sweep
  * erases from whatever subset of the family the pipeline actually
  * runs.
  */
object EraseOps {

  /** The durable per-sweep receipt ([[eraseSubjects]] writes one row
    * per member table): the compliance-audit record that an erasure
    * HAPPENED, queryable after the fact. Columns: sweep_id,
    * member_table, action ('erased' | 'excluded' | the transient
    * 'pending'), subjects (distinct subject ids in the sweep),
    * removed, ver_before/ver_after (the sink's content-version
    * fingerprints bracketing the sweep — `ver_before != ver_after`
    * proves bytes moved).
    *
    * `removed` semantics, per member shape (r14 verdict #3 — the
    * receipt's one quantitative column must not overstate):
    *  - PK-delete members (posting/payload tables, ANN code lists):
    *    rows ACTUALLY PRESENT pre-sweep and deleted — a semi-join of
    *    the derived keys against the member's pk columns inside the
    *    writer lease, opening only the keys' hash-routed buckets
    *    ([[graft.sink.UpsertSink.readKeyBuckets]] — the delete's own
    *    cost model), so a subject whose keys re-derive against
    *    drifted shaping params (or was never admitted) cannot inflate
    *    the figure;
    *  - count-decrement members (fingerprint/segment/policy
    *    inventories): the total count decremented as REQUESTED (the
    *    subjects' re-derived additive contribution; stored counts
    *    clamp at zero, so the physical subtraction can be smaller
    *    when the caller contract — retract exactly what was admitted,
    *    once — was violated upstream);
    *  - sharded-ANN members: distinct subject ids actually present in
    *    that shard's code list pre-sweep (NOT merely routed there).
    *
    * Crash-proof bracketing (r14 verdict #2): the sweep writes a
    * PENDING row per member — carrying the pre-sweep version and the
    * pre-counted `removed` — BEFORE the data commit; the final
    * 'erased'/'excluded' rows overwrite them (same pk) after the data
    * phases. A sweep replayed after ANY crash recovers `ver_before` /
    * `removed` from its pending rows instead of re-reading the
    * already-erased store, so a receipt written on the recovery path
    * still proves bytes moved (ver_changed = 1). Per (sweep_id,
    * member_table) the FINAL receipt wins exactly once: a replay of a
    * sweep whose final row already landed leaves it untouched (the
    * replay converges data, the receipt already recorded the logical
    * erasure).
    */
  val LedgerTable = "erasure_ledger"

  /** The transient action value of a pre-commit ledger row — visible
    * to auditors only in the window between a sweep's pending write
    * and its final receipt (or after a crash inside that window, until
    * the sweep is replayed per the recovery protocol).
    */
  val LedgerPending = "pending"

  /** What a sweep did, per member table — the in-memory half of the
    * receipt (the durable half is [[LedgerTable]]).
    *
    * @param erased       member tables actually retracted (a fileless
    *                     member retracts vacuously — nothing stored)
    * @param excluded     member tables present but NOT retracted, with
    *                     why — a caller that sees its table here and
    *                     ignores it is making a documented choice, not
    *                     suffering a silent gap
    * @param deltaBatches the substring delta store's containing-batch
    *                     ids for these subjects (empty when the store
    *                     is absent) — feed to
    *                     [[TextOps.substrDeltaRetractBatches]] after
    *                     deciding how to handle bystander contributions
    */
  final case class EraseReport(sweepId: String, subjects: Long,
                               erased: Seq[String],
                               excluded: Map[String, String],
                               deltaBatches: Seq[Long])

  /** The replay path's recovered `removed` figures: the pending rows'
    * pre-counted totals, keyed by DISTINCT member table — applied
    * exactly once per table regardless of how many erase payloads a
    * retract plan emits for it (r15 verdict: every current plan emits
    * one payload per table, but a future two-payloads-one-table plan
    * must not silently DOUBLE the recovered figure on the one path the
    * pending protocol exists to make trustworthy; the fresh path sums
    * per payload, which is additively correct).
    */
  private[graft] def pendingRemovedOverlay(
      eraseTables: Seq[String],
      pend: Map[String, (Long, Long, Long)]): Map[String, Long] =
    eraseTables.distinct.filter(pend.contains)
      .map(t => t -> pend(t)._2).toMap

  /** AUDIT surface over the erasure ledger (r15 verdict, Missing #2):
    * the compliance reader's first question — which sweeps are STUCK?
    * A row here is a (sweep, member) whose [[LedgerPending]] receipt
    * was never overwritten by a final one: per the pending/final
    * protocol that is exactly a sweep that durably declared intent
    * (pending rows land BEFORE the first byte moves) and then crashed
    * before its final receipt merge — awaiting replay under its own
    * sweep id. Output: one row per stuck (sweep_id, member_table) with
    * the pending row's pre-counted evidence (subjects, removed,
    * ver_before). Empty when every sweep finalized — the healthy
    * state. No wall-clock "age" column BY DESIGN: receipts are
    * bit-replayable (StoreRetractSpec pins a replayed receipt
    * identical to the uncrashed one), which a write-time timestamp
    * would break; join sweep_id against the scheduler's own submission
    * log for age. Cost: one scan of the ledger (bounded — one row per
    * member per sweep), never a member-table read.
    */
  def pendingSweeps(sink: UpsertSink): DataFrame = {
    val spark = sink.session
    if (!sink.exists(LedgerTable) || !sink.hasData(LedgerTable)) {
      // no ledger (or an all-erased one) = no stuck sweeps — an empty
      // frame in the output schema, so auditors can union across sinks
      import spark.implicits._
      return Seq.empty[(String, String, Long, Long, Long)]
        .toDF("sweep_id", "member_table", "subjects", "removed",
          "ver_before")
    }
    sink.read(LedgerTable)
      .filter(col("action") === LedgerPending)
      .select(col("sweep_id"), col("member_table"), col("subjects"),
        col("removed"), col("ver_before"))
  }

  /** Erase `docs` (and `vecIds`, for the embedding-keyed members) from
    * every store present in `sink`, journal the sweep under `sweepId`
    * (exactly-once under crash-replay), and write the per-table ledger
    * receipt (disable with `ledger = false` for fire-and-forget
    * retractions that keep their own records).
    */
  def eraseSubjects(docs: DataFrame, idCol: String, textCol: String,
                    sink: UpsertSink, sweepId: String,
                    fromTarget: Option[DataFrame] = None,
                    fromRaw: Option[DataFrame] = None,
                    vecIds: Option[DataFrame] = None,
                    vecIdCol: String = "vec_id",
                    segWords: Int = 25,
                    minTokens: Int = 20,
                    ledger: Boolean = true): EraseReport = {
    // refuse silent partial erasure BEFORE touching anything: a sweep
    // that reports success while leaving the subjects' counts in one
    // member is the one failure mode a compliance API cannot have
    require(!sink.exists(SelectOps.AffStore) ||
        (fromTarget.isDefined && fromRaw.isDefined),
      s"the selection policy store (${SelectOps.AffStore}) is present: " +
        "pass fromTarget/fromRaw (the subjects split by target-sample " +
        "membership — the caller's convention at build time; pass an " +
        "empty frame for a side with no members)")
    val annSingle = SimOps.ivfPqIndexExists(sink)
    val annSharded = sink.exists(SimOps.ShardMeta)
    require(!(sink.exists(SimOps.EmbSigs) || annSingle || annSharded) ||
        vecIds.isDefined,
      "an embedding-keyed member is present (" +
        Seq(if (sink.exists(SimOps.EmbSigs)) Some(SimOps.EmbSigs) else None,
          if (annSingle) Some(SimOps.IdxCodes) else None,
          if (annSharded) Some(SimOps.ShardMeta) else None)
          .flatten.mkString(", ") +
        "): pass vecIds (the subjects' vector ids — the id mapping is " +
        "the caller's convention; pass an empty frame for subjects " +
        "with no vectors)")

    val members = Seq.newBuilder[String]
    val plans = Seq.newBuilder[() => Seq[TableErase]]

    if (sink.exists(TextOps.FpStore)) {
      members += TextOps.FpStore
      plans += (() => TextOps.fingerprintRetractPlan(docs, idCol, textCol))
    }
    if (sink.exists(TextOps.SegStore)) {
      members += TextOps.SegStore
      plans += (() =>
        TextOps.segmentRetractPlan(docs, idCol, textCol, segWords))
    }
    if (sink.exists(TextOps.NearDupBands)) {
      members ++= TextOps.minhashRetractTables
      plans += (() => TextOps.minhashRetractPlan(docs, idCol, sink))
    }
    if (sink.exists(TextOps.SubstrStore)) {
      members += TextOps.SubstrStore
      plans += (() =>
        TextOps.substrRetractPlan(docs, idCol, textCol, minTokens))
    }
    if (SearchOps.invertedIndexExists(sink)) {
      members ++= SearchOps.invertedRetractTables
      plans += (() =>
        SearchOps.invertedRetractPlan(docs, idCol, textCol))
    }
    if (sink.exists(SelectOps.AffStore)) {
      members += SelectOps.AffStore
      plans += (() => SelectOps.selectionRetractPlan(fromTarget.get,
        fromRaw.get, textCol, sink))
    }
    if (sink.exists(SimOps.EmbSigs)) {
      members ++= SimOps.embLshRetractTables
      plans += (() => SimOps.embLshRetractPlan(vecIds.get, vecIdCol, sink))
    }
    if (annSingle) {
      members ++= SimOps.ivfPqRemoveTables(sink)
      plans += (() =>
        SimOps.ivfPqIndexRemovePlan(vecIds.get, vecIdCol, sink))
    }

    // the delta store is a MEMBER the sweep cannot retract at document
    // granularity — surface it loudly with the resolved batch ids
    val excluded = Map.newBuilder[String, String]
    val deltaBatches: Seq[Long] =
      if (!sink.exists(TextOps.SubstrDelta)) Seq.empty
      else {
        val b = TextOps.substrDeltaContainingBatches(docs, idCol, textCol,
          sink, minTokens)
        excluded += TextOps.SubstrDelta ->
          ("batch-granularity store: NOT retracted by this sweep; the " +
            s"subjects' windows appear in batches [${b.mkString(", ")}] — " +
            "erase whole batches via substrDeltaRetractBatches (removes " +
            "bystander contributions of those batches too; re-admit " +
            "survivors) or rebuild")
        b
      }

    val tables = members.result()
    val derivations = plans.result()
    val excludedMap = excluded.result()
    val spark = docs.sparkSession
    // each step's jobs carry its label (not `sink:`: they are the op's
    // own jobs, not the sink's)
    val subjects = Par.labeled(spark, "erase:subjects")(
      docs.select(col(idCol)).distinct().count())
    val ledgerTables = tables ++ excludedMap.keys.toSeq
    // the member name comes from the ONE owner of the shard naming
    // scheme, so receipts can always join back to on-disk shard paths
    val shardMember = (sh: Int) => SimOps.shardMemberName(sh)

    // ---- ledger state probe (the pending/final protocol): bounded —
    // one row per member table per sweep
    val priorRows: Seq[org.apache.spark.sql.Row] =
      if (!ledger || !(sink.exists(LedgerTable) && sink.hasData(LedgerTable)))
        Seq.empty
      else Par.labeled(spark, "erase:ledger-probe")(
        sink.read(LedgerTable).filter(col("sweep_id") === sweepId).collect().toSeq)
    // a FINAL receipt wins exactly once: its presence means the whole
    // sweep (data + receipt) completed — the data phases below still
    // replay (journaled no-ops), the receipt is never rewritten
    val already = priorRows.exists(_.getAs[String]("action") != LedgerPending)
    // pending rows carry the pre-sweep bracketing evidence a replay
    // cannot re-derive (the store is already erased); recover them.
    // A PARTIAL pending set means the crash hit the pending write
    // itself — then the data phases never ran, and fresh computation
    // below is still exact for the missing members
    val pend: Map[String, (Long, Long, Long)] =
      if (already) Map.empty
      else priorRows.filter(_.getAs[String]("action") == LedgerPending)
        .map(r => r.getAs[String]("member_table") ->
          ((r.getAs[Long]("subjects"), r.getAs[Long]("removed"),
            r.getAs[Long]("ver_before")))).toMap
    val subjectsLedger = pend.values.headOption.map(_._1).getOrElse(subjects)

    val removed = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    val verBefore = scala.collection.mutable.Map.empty[String, Long]
    var shardVersBefore: Map[Int, Long] = Map.empty
    var shardPresent: Map[Int, Long] = Map.empty
    val writeLedger = ledger && !already

    // the ledger's pre-commit phase and the main erase group share ONE
    // writer lease (reentrant), so the derived payloads, the matched
    // counts, the captured versions, the pending write, and the
    // retraction itself all see a single un-interleaved store state
    def leased[T](body: => T): T =
      if (writeLedger) sink.writerLocked(tables :+ LedgerTable)(body)
      else body
    leased {
      if (writeLedger) {
        // derive ONCE, checkpoint each payload so the receipt's totals
        // and the retraction share one materialization; the
        // checkpoints are independent per-member actions — overlap
        // them (guide §2.6) instead of serializing 6-8 tiny jobs
        val erases = Par.labeled(spark, "erase:checkpoint")(
          Par.map(derivations.flatMap(_())) {
            case TableDelete(t, keys, pk) =>
              TableDelete(t, keys.localCheckpoint(true), pk)
            case TableCountRetract(t, dec, pk, cntCols, drop) =>
              TableCountRetract(t, dec.localCheckpoint(true), pk, cntCols,
                drop)
          })
        // every receipt figure in ONE action: the per-member bounded
        // aggregates union into a single (member, count) frame, so a
        // six-member sweep pays one collect's scheduling overhead
        // instead of six serialized driver round-trips. Matched rows
        // (not presented keys) for deletes — and only the keys'
        // hash-routed buckets open (readKeyBuckets), so each leg
        // inherits the retraction's own touched-bucket cost model
        pendingRemovedOverlay(erases.map(_.table), pend)
          .foreach { case (t, rem) => removed(t) = rem }
        val countFrames = erases.filterNot(e => pend.contains(e.table))
          .flatMap {
            case TableDelete(t, keys, pk) =>
              if (!sink.hasData(t)) None
              else Some(sink.readKeyBuckets(t, keys, pk)
                .select(pk.map(col): _*)
                .join(keys.select(pk.map(col): _*), pk, "left_semi")
                .agg(count(lit(1)).cast("long").as("__c"))
                .select(lit(t).as("__t"), col("__c")))
            case TableCountRetract(t, dec, _, cntCols, _) =>
              Some(dec.agg(coalesce(cntCols.map(c => sum(col(c)))
                  .reduce(_ + _), lit(0)).cast("long").as("__c"))
                .select(lit(t).as("__t"), col("__c")))
          }
        if (countFrames.nonEmpty)
          Par.labeled(spark, "erase:receipt-counts")(
            countFrames.reduce(_.unionByName(_)).collect()) // ≤ one row per member
            .foreach(r => removed(r.getString(0)) += r.getLong(1))
        ledgerTables.foreach(t => verBefore(t) =
          pend.get(t).map(_._3).getOrElse(sink.version(t)))
        if (annSharded) {
          // always draw fresh, then let pending rows OVERLAY: the only
          // crash window leaving a PARTIAL pending set is mid-pending-
          // write, where nothing was erased yet and the fresh draw is
          // exact; in every post-erase window the pending set is
          // complete and wins wholesale
          val fresh = SimOps.shardedIndexMatchedCounts(vecIds.get,
            vecIdCol, sink)
          val freshVers = SimOps.shardedIndexVersions(spark, sink)
          val pendShards = pend.collect {
            case (name, (_, rem, vb)) if name.startsWith("ann_shard_") =>
              name.stripPrefix("ann_shard_").toInt -> ((rem, vb))
          }
          shardPresent = fresh ++ pendShards.map { case (s, (r, _)) =>
            s -> r
          }
          shardVersBefore = freshVers ++ pendShards.map { case (s, (_, v)) =>
            s -> v
          }
        }
        // the PENDING receipt — the pre-sweep bracketing evidence,
        // durable BEFORE the first byte moves (r14 verdict #2)
        if (ledgerTables.nonEmpty || shardPresent.nonEmpty) {
          import spark.implicits._
          val rows = ledgerTables.map(t => (sweepId, t, LedgerPending,
            subjectsLedger, removed(t), verBefore(t), 0L)) ++
            shardPresent.toSeq.sortBy(_._1).map { case (sh, n) =>
              (sweepId, shardMember(sh), LedgerPending, subjectsLedger, n,
                shardVersBefore.getOrElse(sh, 0L), 0L)
            }
          sink.merge(LedgerTable,
            rows.toDF("sweep_id", "member_table", "action", "subjects",
              "removed", "ver_before", "ver_after"),
            Seq("sweep_id", "member_table"), pkUnique = true)
        }
        if (erases.nonEmpty) sink.eraseMany(erases, Some(sweepId))
      } else if (tables.nonEmpty)
        sink.eraseMany(tables, Some(sweepId)) {
          derivations.flatMap(_())
        }
    }
    // the SHARDED ANN index erases AFTER the main group — per-shard
    // sub-sinks carry their own leases and erasure journals (see
    // [[SimOps.shardedIndexRemove]] for why per-shard atomicity is the
    // right contract for a serving artifact): a crash between the main
    // group and the shard loop replays under the same sweep id and
    // each side converges independently, exactly-once
    val shardRemoved: Map[Int, Long] =
      if (annSharded)
        SimOps.shardedIndexRemove(vecIds.get, vecIdCol, sink, Some(sweepId))
      else Map.empty
    if (writeLedger && (ledgerTables.nonEmpty || shardPresent.nonEmpty)) {
      import spark.implicits._
      val shardVersAfter: Map[Int, Long] =
        if (shardPresent.nonEmpty) SimOps.shardedIndexVersions(spark, sink)
        else Map.empty
      val rows = ledgerTables.map { t =>
        val action = if (excludedMap.contains(t)) "excluded" else "erased"
        (sweepId, t, action, subjectsLedger, removed(t), verBefore(t),
          sink.version(t))
      } ++ shardPresent.toSeq.sortBy(_._1).map { case (sh, n) =>
        (sweepId, shardMember(sh), "erased", subjectsLedger, n,
          shardVersBefore.getOrElse(sh, 0L),
          shardVersAfter.getOrElse(sh, 0L))
      }
      val rowsDf = rows.toDF("sweep_id", "member_table", "action",
        "subjects", "removed", "ver_before", "ver_after")
      sink.merge(LedgerTable, rowsDf, Seq("sweep_id", "member_table"),
        pkUnique = true)
    }
    EraseReport(sweepId, subjects,
      tables ++ shardRemoved.keys.toSeq.sorted.map(shardMember),
      excludedMap, deltaBatches)
  }
}
