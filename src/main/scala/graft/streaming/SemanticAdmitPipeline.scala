package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ops.SimOps
import graft.sink.UpsertSink

/** Streaming SEMANTIC admission backed by the persisted IVF-PQ index —
  * the embedding-space counterpart of [[DedupPipeline]]'s MinHash
  * admission, and the composition the q81/q82 build/probe split exists
  * for: each micro-batch probes the STORED index (no training, no
  * corpus encode, candidates bounded to probed lists), so per-batch
  * admission cost scales with the batch and the index parameters,
  * NEVER with how large the admitted corpus has grown. A new document
  * embedding is admitted iff no stored embedding scores cosine >=
  * threshold (SemDeDup's criterion, online); admitted vectors PK-merge
  * into the corpus table and [[SimOps.ivfPqIndexAdd]] encodes them
  * into the code lists against the stored quantizers (FAISS add-after-
  * train — rebuild on distribution drift is the owner's explicit call,
  * atomic as one sink commit).
  *
  * Bootstrap: the first non-empty batch is admitted after in-batch
  * dedup and TRAINS the index (there is nothing to probe yet).
  * Replay safety: a redelivered id probes as its own stored copy,
  * which the probe's self-pair filter skips — it re-admits and both
  * merges are idempotent on the id.
  */
object SemanticAdmitPipeline {

  /** `maintainEvery > 0` closes the add-after-train lifecycle IN the
    * stream: every Nth batch, measure that batch's distribution drift
    * against the stored index and atomically rebuild from the
    * accumulated corpus when it crosses `driftThreshold`
    * ([[SimOps.rebuildIfDrifted]] — probes racing the swap see the old
    * index until the atomic switch). Cadenced, not per-batch, because
    * the drift statistic aggregates the stored code lists — cheap but
    * corpus-proportional, so running it every batch would break the
    * flat-per-batch admission cost this pipeline is built around.
    */
  def start(spark: SparkSession, sourceDir: String, schema: StructType,
            sink: UpsertSink, corpusTable: String, checkpoint: String,
            idCol: String, vecCol: String, threshold: Double,
            nlist: Int = 16, m: Int = 16, ksub: Int = 32,
            nprobe: Int = 10,
            trigger: Trigger = Trigger.AvailableNow(),
            exactDedupMaxBatch: Int = 4096,
            maintainEvery: Int = 0,
            driftThreshold: Double = 0.25,
            scaleNlist: Boolean = false): StreamingQuery =
    spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitBatch(sink, corpusTable, batch, idCol, vecCol, threshold,
          nlist, m, ksub, nprobe, exactDedupMaxBatch)
        if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0) {
          maintainIndex(sink, corpusTable, batch, idCol, vecCol,
            driftThreshold, nlist, m, ksub, scaleNlist)
          ()
        }
      }
      .start()

  /** Cadenced index maintenance (see [[start]]'s `maintainEvery`):
    * measure `batch`'s total-variation drift vs the stored list
    * distribution; rebuild from the accumulated corpus past
    * `driftThreshold`. Shared with batch-replay callers. None = no
    * index/corpus yet or no usable vectors in the batch — nothing to
    * measure (a pre-bootstrap or empty cadence point is a no-op, not
    * an error).
    */
  def maintainIndex(sink: UpsertSink, corpusTable: String, batch: DataFrame,
                    idCol: String, vecCol: String,
                    driftThreshold: Double = 0.25,
                    nlist: Int = 16, m: Int = 16,
                    ksub: Int = 32,
                    scaleNlist: Boolean = false): Option[SimOps.DriftDecision] = {
    if (!SimOps.ivfPqIndexExists(sink) || !sink.exists(corpusTable))
      return None
    val probe = batch.dropDuplicates(idCol).filter(col(vecCol).isNotNull)
    if (probe.isEmpty) return None
    Some(SimOps.rebuildIfDrifted(probe, sink.read(corpusTable), idCol,
      vecCol, sink, driftThreshold, nlist = nlist, m = m, ksub = ksub,
      scaleNlist = scaleNlist))
  }

  /** One micro-batch through the admission core (shared with any batch
    * caller): screen against the stored index, dedup within the batch,
    * merge survivors, extend the index.
    *
    * `exactDedupMaxBatch` bounds the exact O(batch²) in-batch dedup:
    * batches at most this large take the exhaustive pair path (recall
    * 1); larger batches AUTOMATICALLY switch to the banded-LSH
    * candidate path (shuffle O(tables·batch), recall < 1 — measured in
    * SimOpsSpec), so no deployment silently pays quadratic cost on a
    * huge micro-batch. The cross-batch screen is index-bounded either
    * way.
    */
  def admitBatch(sink: UpsertSink, corpusTable: String, rawBatch: DataFrame,
                 idCol: String, vecCol: String, threshold: Double,
                 nlist: Int = 16, m: Int = 16, ksub: Int = 32,
                 nprobe: Int = 10,
                 exactDedupMaxBatch: Int = 4096): Unit = {
    if (rawBatch.isEmpty) return
    val batch = rawBatch.dropDuplicates(idCol).cache()
    try {
      // counts the CACHED batch (materializing it for every downstream
      // consumer) — one bounded job that also decides the dedup path
      val batchSize = batch.count()
      val bootstrapped = SimOps.ivfPqIndexExists(sink) &&
        sink.exists(corpusTable)
      // screen vs the ACCUMULATED corpus through the stored index: the
      // probe pays list-bounded candidates + a refine*k exact fetch per
      // query — corpus-size-independent work per batch
      // CACHED: the screen feeds BOTH the in-batch pair generator and
      // the final anti-join — uncached, the whole probe subtree (index
      // scan + two broadcast joins + two top-k aggregates) executes
      // twice inside the one localCheckpoint job (a per-stage
      // timing of admitBatch found this). The cache is batch-bounded,
      // materialized fully by the checkpoint (so the merges never
      // re-read through it), and dropped at batch end.
      val screened =
        if (!bootstrapped) batch // the batch cache already covers it
        else {
          val hits = SimOps.ivfPqProbeIndex(batch, sink.read(corpusTable),
              idCol, vecCol, sink, k = 1, nprobe = nprobe)
            .filter(col("rank") === 1 && col("cosine") >= threshold)
            .select(col("query_id").as(idCol))
          batch.join(hits, Seq(idCol), "left_anti").cache()
        }
      try {
      // in-batch semantic dedup (batch-bounded by construction — never
      // corpus-sized); larger id of a pair dies, the SemDeDup keeper
      // rule. Path picked by batch size — see `exactDedupMaxBatch`.
      val pairs =
        if (batchSize <= exactDedupMaxBatch)
          SimOps.cosineNearDupPairs(screened, idCol, vecCol, threshold)
        else {
          // hyperplanes must span the real vector width (the 64 default
          // would silently truncate higher-dim embeddings); one bounded
          // probe of the CACHED batch
          val dim = batch.select(size(col(vecCol)).as("__n"))
            .filter(col("__n").isNotNull).limit(1).collect()(0).getInt(0)
          SimOps.lshNearDupPairs(screened, idCol, vecCol, threshold,
            dim = dim)
        }
      val inBatchDups = pairs.select(col("b_id").as(idCol)).distinct()
      // localCheckpoint BEFORE the merge: the screen plan READS the
      // corpus table the merge is about to REWRITE — without cutting
      // the lineage, the merge's own write re-executes the probe over
      // files its bucket swaps are concurrently deleting
      val admitted = screened.join(inBatchDups, Seq(idCol), "left_anti")
        .localCheckpoint()
      if (!admitted.isEmpty) {
        if (!bootstrapped) {
          sink.merge(corpusTable, admitted, Seq(idCol), pkUnique = true)
          // the build's table writes are eager; its RETURN is the lazy
          // informational occupancy rollup — collecting it here paid a
          // full code-list read + shuffle per bootstrap for nothing
          SimOps.buildIvfPqIndex(sink.read(corpusTable), idCol, vecCol,
            sink, nlist = nlist, m = m, ksub = ksub)
        } else
          // ONE mergeMany round-trip for corpus + code lists: one Spark
          // job learns both tables' touched buckets, the bucket rewrites
          // run concurrently on disjoint dirs (the q64 fusion)
          sink.mergeMany(graft.sink.TableMerge(corpusTable, admitted,
            Seq(idCol), pkUnique = true)
            +: SimOps.ivfPqIndexAddMerges(admitted, idCol, vecCol, sink))
      }
      } finally if (screened ne batch) screened.unpersist()
    } finally batch.unpersist()
  }
}
