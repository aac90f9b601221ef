package graft.sync

import org.apache.spark.sql.SparkSession

import graft.model.{EntityDef, GraftConfig}
import graft.sink.{Retry, UpsertSink}
import graft.sources.{SubgraphSource, Transport}
import graft.sources.SubgraphSource.Record

/** Batch ETL driver — the reference's sync lifecycle (SURVEY §3.1,
  * src/app/main.ts:9-34 + src/handlers/subgraphSyncer.ts). `syncAll`,
  * `syncEntity` and `syncChanged` run one fetch-and-merge path:
  *
  *  1. every entity is checked before any request: its FK columns must
  *     round-trip the GraphQL wire (`wireIssues`) and its provider must
  *     exist;
  *  2. entities are grouped by subgraph provider (G1) — one connector per
  *     source — and each group's first pages travel in ONE batched
  *     request (G2, with batch-to-individual fallback R3);
  *  3. each entity's keyset page stream (S1/O2) flattens FK objects and
  *     coerces wire types into the resolved StructType (P2/F6), and is
  *     merged by primary key with retry/backoff (K1/R1) in
  *     `database.batchSize`-row chunks as its pages arrive
  *     (dbUpsert.ts:66-84) — driver memory holds one chunk plus the
  *     group's unread first pages, not an entity or a provider.
  *
  * A failure mid-scan leaves the chunks merged before it in place;
  * re-running a sync is idempotent. `LastProcessedBlock` is excluded like
  * the reference excludes it from entity sync (main.ts:23): progress
  * bookkeeping belongs to the streaming layer, not the entity scan.
  */
final class Syncer(spark: SparkSession, config: GraftConfig,
                   transport: Transport, sink: UpsertSink) {

  private val sources: Map[String, SubgraphSource] =
    config.providers.map { case (name, p) => name -> new SubgraphSource(p, transport) }

  def syncableEntities: Seq[EntityDef] =
    config.schema.entities.values.filterNot(_.name == "LastProcessedBlock").toSeq

  private def sourceFor(entity: EntityDef): SubgraphSource = {
    val wire = config.schema.wireIssues(entity.name)
    require(wire.isEmpty,
      s"cannot fetch ${entity.name} over GraphQL: ${wire.mkString("; ")}")
    sources.getOrElse(entity.subgraphProvider,
      throw new IllegalArgumentException(
        s"${entity.name}: unknown provider ${entity.subgraphProvider}"))
  }

  /** Merge one entity's page stream in `database.batchSize`-row chunks as
    * the pages arrive; returns rows upserted.
    */
  private def merge(entity: EntityDef, pages: Iterator[Seq[Record]]): Long =
    pages.flatten.grouped(config.database.batchSize).map { chunk =>
      val df = SubgraphSource.toDataFrame(spark, config.schema, entity, chunk)
      Retry.withBackoff(config.database.maxRetries,
        config.database.initialRetryDelay) { () =>
        sink.merge(entity.name, df, entity.primaryKey)
      }
      chunk.size.toLong
    }.sum

  /** The fetch-and-merge path; returns rows upserted per entity. Provider
    * groups touch disjoint tables, so up to `parallelism` of them run at
    * once ([[graft.ops.Par]]: waits for all, rethrows the first failure,
    * pool threads inherit the caller's SparkContext local properties).
    */
  private def sync(scans: Seq[(EntityDef, Map[String, Any])],
                   parallelism: Int = 1): Map[String, Long] = {
    val byProvider = scans.groupBy { case (e, _) => sourceFor(e) }.toSeq
    graft.ops.Par.map(byProvider, parallelism) { case (source, group) =>
      val streams = source.batchedPages(group.map { case (e, w) => source.scanSpec(e, w) })
      group.zip(streams).map { case ((e, _), pages) => e.name -> merge(e, pages) }
    }.flatten.toMap
  }

  /** Sync one entity end-to-end; returns rows upserted. */
  def syncEntity(entity: EntityDef, where: Map[String, Any] = Map.empty): Long =
    sync(Seq(entity -> where))(entity.name)

  /** Full initial sync of every syncable entity, up to `parallelism`
    * providers at once.
    */
  def syncAll(parallelism: Int = 4): Map[String, Long] =
    sync(syncableEntities.map(_ -> Map.empty[String, Any]), parallelism)

  /** Selective re-sync of the entities a CDC change log named (T4), with
    * the incremental predicate (P4): only rows changed since the block.
    */
  def syncChanged(entityNames: Set[String], fromBlock: BigInt): Map[String, Long] =
    sync(syncableEntities.filter(e => entityNames.contains(e.name))
      .map(_ -> Map[String, Any]("_change_block" -> Map("number_gte" -> fromBlock))))
}
