package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sink.{TableWrite, UpsertSink}

/** One chain block head (S3/S4). */
final case class Block(number: BigInt, hash: String, timestamp: BigInt)

/** The RPC boundary, pluggable for offline tests (the reference's viem
  * PublicClient — src/client/createClient.ts:5-23).
  */
trait BlockSource {
  def latest(): Block
  def hashAt(number: BigInt): String
  /** Full block at a height (S4) — ABSTRACT on purpose: there is no
    * honest default. A fabricated timestamp (epoch 0, or the current
    * head's) would be silently persisted as event time by catch-up
    * strategies; a source without historical headers must decide
    * explicitly what to stamp (`Block(n, hashAt(n), latest().timestamp)`
    * is the defensible approximation for short gaps — but that is the
    * source's call, not this trait's).
    */
  def blockAt(number: BigInt): Block
  /** Multicall of view functions -> id->value map (S5,
    * blockProposalStateStrategy.ts:29-69).
    */
  def multicall(ids: Seq[String]): Map[String, Int]
}

/** A per-block sync strategy (src/watchers/strategies): a pure reaction
  * to a block head. Errors are isolated per strategy by the watcher
  * (blockWatcher.ts:118-133).
  */
trait Strategy {
  def name: String
  def onBlock(block: Block): Unit
}

/** Per-strategy block throttle (T3): run only when the head has advanced
  * `threshold` past the last PROCESSED block — the reference's module-level
  * `lastProcessedBlock` guard (blockProposalStrategy.ts:22-45) with the
  * mutable state made explicit (checkpointable).
  */
final class Throttle(threshold: Long, initial: Option[BigInt] = None) {
  // Option, not a zero sentinel: block 0 is a legitimate processed
  // height, and conflating it with "never acquired" would re-open the
  // throttle after genesis and disable T3 for the rest of the run
  private var last: Option[BigInt] = initial
  def lastProcessed: BigInt = last.getOrElse(BigInt(-1))
  /** True (and records the block) when never acquired yet or
    * `block >= last + threshold`.
    */
  def tryAcquire(block: BigInt): Boolean = last match {
    case Some(l) if block < l + threshold => false
    case _ => last = Some(block); true
  }
}

/** High-water-mark incremental reads (T5): `fromBlock = max(col)+1` read
  * back from the sink itself, so restarts agree with committed contents
  * (blockStakingHistoryStrategy.ts:32-38; SURVEY §7.4 #4).
  */
object HighWaterMark {
  def of(df: DataFrame, c: String): BigInt = {
    val row = df.agg(max(col(c))).head()
    if (row.isNullAt(0)) BigInt(0)
    else row.get(0) match {
      case d: java.math.BigDecimal => BigInt(d.toBigInteger)
      case l: Long => BigInt(l)
      case i: Int => BigInt(i)
      case other => BigInt(other.toString)
    }
  }
}

/** CDC-driven selective sync (T4): from the change-log table, the newest
  * entry names exactly the entities to re-sync; if the head hash is
  * unchanged there is nothing to do (blockChangeLogStrategy.ts:14-116).
  */
object ChangeLog {
  /** Entities updated since `fromBlock`, from a change-log DataFrame with
    * (id, blockNumber, updatedEntities array). Returns the distinct
    * entity-name set intersected with the known schema (P6 semi-join) —
    * exploded relationally, no driver-side loop over rows.
    */
  def changedEntities(changeLog: DataFrame, fromBlock: BigInt,
                      known: Set[String]): Set[String] = {
    val names = changeLog
      .filter(col("blockNumber") > lit(fromBlock.toString).cast("decimal(38,0)"))
      .select(explode(col("updatedEntities")).as("e"))
      .distinct()
      .collect().map(_.getString(0)).toSet
    names.intersect(known)
  }

  /** Head short-circuit: stored head hash equals the newest change-log
    * hash => no-op (blockChangeLogStrategy.ts:87-91).
    */
  def headUnchanged(storedHash: String, newestHash: Option[String]): Boolean =
    newestHash.contains(storedHash)
}

/** Reorg detection + rebuild (T7, the hardest streaming piece): stored
  * head hash != on-chain hash at the same height means committed history
  * is contradicted; rebuild the full dataset and swap it in atomically
  * (reorgCleanupStrategy.ts:19-62 + schema.ts:4-49).
  */
final class ReorgGuard(source: BlockSource, sink: UpsertSink) {
  /** Returns true when a reorg was detected and handled. `rebuild` must
    * produce the full replacement table set, which lands in ONE sink
    * commit ([[UpsertSink.overwriteMany]]): a crash mid-rebuild leaves
    * every table on the old generation, and the next poll re-detects the
    * reorg and re-runs the rebuild. Each rebuilt table keeps its logged
    * merge key, so the next merge into it rewrites only touched buckets.
    */
  def check(storedHead: Option[Block])(rebuild: () => Map[String, DataFrame]): Boolean =
    storedHead match {
      case Some(head) if source.hashAt(head.number) != head.hash =>
        val tables = rebuild().toSeq.sortBy(_._1)
        if (tables.nonEmpty)
          sink.overwriteMany(tables.map { case (t, df) => TableWrite(t, df) })
        true
      case _ => false
    }
}

/** Proposal-state reconcile (J1 / §3.3): mutable rows filtered by state,
  * joined against a broadcast chain-lookup, updated where the chain
  * disagrees (blockProposalStateStrategy.ts:88-136).
  */
object StateReconcile {
  val stateLabels: Seq[String] = Seq("Pending", "Active", "Canceled", "Defeated",
    "Succeeded", "Queued", "Expired", "Executed")
  val mutableStates: Seq[Int] = Seq(0, 1, 4, 5) // Pending, Active, Succeeded, Queued

  def decodeState(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    stateLabels.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (label, code)) => when(c === code, lit(label)).otherwise(acc)
    }

  /** Rows whose on-chain state differs, with the decoded label — the
    * update set for the sink merge. The chain keys proposals by their
    * 0x-hex id; a binary (`Bytes`) id column — the production schema —
    * is matched as `0x` + lower-case hex and returned unchanged, so the
    * result merges straight back into the sink. String ids match as-is.
    */
  def reconcile(spark: SparkSession, proposals: DataFrame,
                chainStates: Map[String, Int]): DataFrame = {
    import spark.implicits._
    val binary = proposals.schema("id").dataType == org.apache.spark.sql.types.BinaryType
    val chain = chainStates.toSeq.toDF("__key", "chainState")
      .withColumn("__key", if (binary) lower(col("__key")) else col("__key"))
    proposals
      .filter(col("rawState").isin(mutableStates: _*))
      .withColumn("__key",
        if (binary) concat(lit("0x"), lower(hex(col("id")))) else col("id"))
      .join(broadcast(chain), Seq("__key"))
      .filter(col("rawState") =!= col("chainState"))
      .withColumn("rawState", col("chainState"))
      .withColumn("state", decodeState(col("chainState")))
      .drop("chainState", "__key")
  }
}

/** The polling watch loop (T1/T2): every tick, process each block from
  * lastSeen+1 to latest (`emitMissed: true` — no gaps,
  * blockWatcher.ts:162-174), dispatching strategies with per-strategy
  * error isolation. `runOnce` is the test surface; `run` is the
  * production loop.
  */
final class BlockWatcher(source: BlockSource, strategies: Seq[Strategy],
                         pollIntervalMs: Long = 1000L) {

  // Option, not a zero sentinel: after legitimately processing block 0
  // the old `lastSeen == 0` test would re-initialize and silently skip
  // every block mined since — breaking the emitMissed no-gaps contract
  private var lastSeen: Option[BigInt] = None
  val errors: mutable.Map[String, Throwable] = mutable.Map.empty

  /** One poll: catch up over any missed blocks; returns processed heads.
    * Missed blocks are fetched via `blockAt` so each carries its OWN
    * header (hash and timestamp), never the head's — strategies that
    * persist block timestamps would otherwise record the head's time
    * for every caught-up block.
    */
  def runOnce(): Seq[Block] = {
    val head = source.latest()
    if (lastSeen.isEmpty) lastSeen = Some(head.number - 1)
    val blocks = Iterator.iterate(lastSeen.get + 1)(_ + 1)
      .takeWhile(_ <= head.number)
      .map(n => if (n == head.number) head else source.blockAt(n))
      .toSeq
    blocks.foreach { b =>
      strategies.foreach { s =>
        try s.onBlock(b)
        catch { case e: Exception => errors(s.name) = e } // isolation (T2)
      }
      lastSeen = Some(b.number)
    }
    blocks
  }

  def run(stop: () => Boolean): Unit =
    while (!stop()) {
      runOnce()
      Thread.sleep(pollIntervalMs)
    }
}
