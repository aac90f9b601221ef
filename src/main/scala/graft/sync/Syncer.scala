package graft.sync

import org.apache.spark.sql.SparkSession

import graft.model.{EntityDef, GraftConfig}
import graft.sink.{Retry, UpsertSink}
import graft.sources.{SubgraphSource, Transport}

/** Batch ETL driver — the reference's initial-sync lifecycle (SURVEY
  * §3.1, src/app/main.ts:9-34 + src/handlers/subgraphSyncer.ts):
  *
  *  1. entities are grouped by subgraph provider (G1) — one connector per
  *     source;
  *  2. each entity is scanned with batched, keyset-paginated GraphQL
  *     (S1/O2) — pagination lives inside the connector, invisible here;
  *  3. records flatten FK objects and coerce wire types into the resolved
  *     StructType (P2/F6);
  *  4. the sink merges by primary key with retry/backoff (K1/R1) —
  *     re-running a sync is idempotent.
  *
  * `LastProcessedBlock` is excluded like the reference excludes it from
  * entity sync (main.ts:23): progress bookkeeping belongs to the
  * streaming layer, not the entity scan.
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

  /** Merge fetched records into the sink; returns rows upserted. */
  private def upsert(entity: EntityDef, records: Seq[Map[String, Any]]): Long =
    if (records.isEmpty) 0L
    else {
      val df = SubgraphSource.toDataFrame(spark, config.schema, entity, records)
      Retry.withBackoff(config.database.maxRetries,
        config.database.initialRetryDelay) { () =>
        sink.merge(entity.name, df, entity.primaryKey)
      }
      records.size.toLong
    }

  /** Sync one entity end-to-end; returns rows upserted. */
  def syncEntity(entity: EntityDef,
                 where: Map[String, Any] = Map.empty): Long =
    upsert(entity, sourceFor(entity).fetchAll(entity, where))

  /** Full initial sync: every entity, grouped by provider (G1), with each
    * provider's first pages batched into ONE request (G2 — the
    * reference's cross-entity batching, 80% request reduction) and
    * batch-to-individual fallback isolation (R3).
    *
    * Providers are independent upstream endpoints, so their paginated
    * fetches run CONCURRENTLY (up to `parallelism` driver threads — the
    * keyset walk is I/O-bound wall-clock that need not serialize); each
    * thread submits its merge jobs to the shared SparkSession, which is
    * thread-safe, and the merged tables are disjoint across providers so
    * no two threads touch the same sink path. [[graft.ops.Par]] waits
    * for every provider before rethrowing the first failure, so no
    * provider sync outlives the call, and its per-call pool threads
    * inherit the caller's SparkContext local properties.
    */
  def syncAll(parallelism: Int = 4): Map[String, Long] = {
    val groups = syncableEntities
      .groupBy(_.subgraphProvider).toSeq // G1: one source per provider
    graft.ops.Par.map(groups, parallelism) { case (providerName, entities) =>
      syncProvider(providerName, entities)
    }.flatten.toMap
  }

  private def syncProvider(providerName: String,
                           entities: Seq[EntityDef]): Seq[(String, Long)] = {
    val fetched = sources(providerName)
      .fetchAllBatched(entities.map(e => e -> Map.empty[String, Any]))
    entities.map(e => e.name -> upsert(e, fetched.getOrElse(e.name, Seq.empty)))
  }

  /** Selective re-sync of the entities a CDC change log named (T4). */
  def syncChanged(entityNames: Set[String], fromBlock: BigInt): Map[String, Long] =
    syncableEntities.filter(e => entityNames.contains(e.name))
      .map { e =>
        // incremental predicate (P4): only rows changed since the block
        val where: Map[String, Any] =
          Map("_change_block" -> Map("number_gte" -> fromBlock))
        e.name -> syncEntity(e, where)
      }.toMap
}
