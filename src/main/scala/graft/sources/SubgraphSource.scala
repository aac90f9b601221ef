package graft.sources

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.model.{EntityDef, ProviderConfig, SchemaMap}
import graft.sink.Retry
import graft.sources.SubgraphQueryBuilder.QuerySpec
import graft.sources.SubgraphSource.Record

/** HTTP transport boundary — pluggable so the connector is fully testable
  * offline (the reference mock-patches global.fetch the same way,
  * batching.test.ts:52-87). Implementations must be thread-safe.
  */
trait Transport {
  /** POST a GraphQL body `{"query": "..."}`; returns the raw response
    * body, or throws on transport failure.
    */
  def post(endpoint: String, body: String): String
}

/** Block coordinates from the `_meta` response block
  * (src/context/subgraphProvider.ts:189-206).
  */
final case class BlockMeta(number: BigInt, hash: String, timestamp: BigInt)

/** Result of one batched request: per-alias record lists + metadata.
  *
  * `failed` distinguishes an errored request (transport failure, GraphQL
  * errors, unparseable body) from a legitimately empty result — callers
  * must not commit a `failed` page as data (a short page that was really
  * an error would otherwise read as a clean end-of-scan). `failedKeys`
  * names the aliases that still failed after per-spec fallback.
  */
final case class BatchResult(
    records: Map[String, Seq[Map[String, Any]]],
    meta: Option[BlockMeta],
    failed: Boolean = false,
    failedKeys: Set[String] = Set.empty)

/** Subgraph scan connector: merged batch documents, alias demux, keyset
  * pagination, graceful degradation (SURVEY §2.1 S1, §2.6 O2, §2.11 R2).
  *
  * Every read — [[fetchAll]], [[graft.sync.Syncer]]'s chunked merges and
  * the DataSource V2 reader ([[SubgraphTableProvider]]) — consumes the one
  * lazy keyset stream [[pages]], page-sized units on the driver like the
  * reference; rows land in a DataFrame for everything downstream.
  */
final class SubgraphSource(provider: ProviderConfig, transport: Transport,
                           maxRetries: Int = 3, retryDelayMs: Long = 200,
                           sleep: Long => Unit = Thread.sleep) {

  private val mapper = new ObjectMapper()

  /** Request accounting (A5 — the reference's metrics context,
    * subgraphProvider.ts:27-62): logical queries vs HTTP requests; the
    * difference is the batching win (5 -> 1 = 80% reduction). Atomic:
    * one source may serve many threads (Transport is thread-safe).
    */
  final class Metrics {
    val queries = new AtomicLong(0L)
    val httpRequests = new AtomicLong(0L)
    /** 1 - http/queries, the reference's logged "reduction %". */
    def batchingReduction: Double = {
      val q = queries.get
      if (q == 0) 0.0 else 1.0 - httpRequests.get.toDouble / q
    }
  }
  val metrics: Metrics = new Metrics

  def endpoint: String =
    s"${provider.url}/${provider.apiKey}/subgraphs/id/${provider.id}"

  /** Execute one merged GraphQL document and demux per alias. GraphQL-level
    * errors, non-JSON responses, and missing `data` all degrade to an empty
    * result (reference returns `{}` + log, subgraphProvider.ts:240-266).
    */
  def execute(specs: Seq[QuerySpec], withMetadata: Boolean = true): BatchResult =
    executeCounted(specs, withMetadata, countQueries = true)

  /** `countQueries = false` for the individual-fallback pass: those specs
    * were already counted as logical queries by the failed batch attempt —
    * re-counting them would overstate batchingReduction exactly when
    * batching failed (only the extra HTTP requests are real).
    */
  private def executeCounted(specs: Seq[QuerySpec], withMetadata: Boolean,
                             countQueries: Boolean): BatchResult = {
    val doc = SubgraphQueryBuilder.batchQuery(specs, withMetadata)
    val body = mapper.createObjectNode()
    body.put("query", doc)
    if (countQueries) metrics.queries.addAndGet(specs.size.toLong)
    metrics.httpRequests.incrementAndGet()
    val raw =
      try transport.post(endpoint, mapper.writeValueAsString(body))
      catch { case _: Exception => return BatchResult(Map.empty, None, failed = true) }
    parseResponse(raw)
  }

  /** Batched execution with individual fallback (R3 — the reference
    * re-runs queries one by one when the batched request fails,
    * batchExecutor.ts:150-156, 254-264): keyed off the explicit error
    * signal (NOT emptiness — a genuinely empty table must not trigger N
    * individual re-requests). Each spec then runs alone so one poisoned
    * query can't starve the others; individual results are re-keyed to
    * their original batch alias positions, and specs that still fail are
    * named in `failedKeys` so callers can retry or abort rather than
    * treat the hole as empty data.
    */
  def executeWithFallback(specs: Seq[QuerySpec],
                          withMetadata: Boolean = true): BatchResult = {
    val batched = execute(specs, withMetadata)
    if (!batched.failed || specs.isEmpty) batched
    else {
      val individual = specs.zipWithIndex.map { case (spec, i) =>
        val res = executeCounted(Seq(spec), withMetadata = false,
          countQueries = false)
        (SubgraphQueryBuilder.alias(spec.entity.name, i),
          res.records.getOrElse(SubgraphQueryBuilder.alias(spec.entity.name, 0), Seq.empty),
          res.failed)
      }
      BatchResult(
        individual.collect { case (k, recs, false) => k -> recs }.toMap,
        batched.meta,
        failed = individual.forall(_._3),
        failedKeys = individual.collect { case (k, _, true) => k }.toSet)
    }
  }

  private[sources] def parseResponse(raw: String): BatchResult = {
    val root =
      try mapper.readTree(raw)
      catch { case _: Exception => return BatchResult(Map.empty, None, failed = true) }
    if (root == null || root.has("errors") || !root.has("data"))
      return BatchResult(Map.empty, None, failed = true)
    val data = root.get("data")
    val meta = Option(data.get("_meta")).flatMap { m =>
      Option(m.get("block")).map { b =>
        BlockMeta(
          BigInt(Option(b.get("number")).map(_.asText("0")).getOrElse("0")),
          Option(b.get("hash")).map(_.asText).getOrElse(""),
          BigInt(Option(b.get("timestamp")).map(_.asText("0")).getOrElse("0")))
      }
    }
    val records = data.properties().asScala
      .filter(_.getKey != "_meta")
      .map(e => e.getKey -> jsonArrayToMaps(e.getValue))
      .toMap
    BatchResult(records, meta)
  }

  private def jsonArrayToMaps(n: JsonNode): Seq[Record] =
    if (n == null || !n.isArray) Seq.empty
    else n.elements().asScala.map(jsonToMap).toSeq

  private def jsonToMap(n: JsonNode): Record =
    n.properties().asScala.map(e => e.getKey -> jsonValue(e.getValue)).toMap

  private def jsonValue(v: JsonNode): Any = v match {
    case v if v.isNull => null
    case v if v.isTextual => v.asText
    case v if v.isBoolean => v.asBoolean
    case v if v.isIntegralNumber => BigInt(v.asText)
    case v if v.isNumber => BigDecimal(v.asText)
    case v if v.isArray => v.elements().asScala.map(jsonValue).toSeq
    case v if v.isObject => jsonToMap(v)
    case v => v.asText
  }

  /** Keyset scan of one entity: ordered by id, `first: maxRowsPerRequest`
    * (subgraphSyncer.ts:88-133), starting after a caller's `id_gt` (binary
    * ids as canonical 0x-hex; any other non-string cursor fails loudly
    * rather than restart from zero). No `id_gt`, no cursor: a synthetic
    * "0x00" floor would drop ids like "0" or "".
    */
  def scanSpec(entity: EntityDef, where: Map[String, Any] = Map.empty): QuerySpec = {
    val cursor = where.get("id_gt").map {
      case s: String => s
      case b: Array[Byte] => SubgraphSource.bytesToHex(b)
      case other => throw new IllegalArgumentException(
        s"id_gt cursor must be a hex string, got ${other.getClass.getName}: $other")
    }
    QuerySpec(entity, where = where ++ cursor.map("id_gt" -> _),
      orderBy = Some("id"), first = Some(provider.maxRowsPerRequest))
  }

  /** One page with retry/backoff (R1): a failed request throws after
    * `maxRetries` so an error mid-pagination can never masquerade as a
    * short final page.
    */
  private def fetchPage(spec: QuerySpec): Seq[Record] =
    Retry.withBackoff(maxRetries, retryDelayMs, sleep) { () =>
      val res = execute(Seq(spec), withMetadata = false)
      if (res.failed) throw new java.io.IOException(
        s"subgraph fetch failed for ${spec.entity.name} after retries")
      res.records.getOrElse(SubgraphQueryBuilder.alias(spec.entity.name, 0), Seq.empty)
    }

  /** `spec` re-issued after `page`'s last id. A non-advancing cursor or a
    * non-string id THROWS: ending here would commit a truncated prefix.
    */
  private def continuation(spec: QuerySpec, page: Seq[Record]): QuerySpec = {
    val cursor = spec.where.get("id_gt")
    page.last.get("id") match {
      case Some(last: String) if cursor.forall(c => last > c.toString) =>
        SubgraphQueryBuilder.nextPage(spec, last)
      case Some(last: String) => throw new IllegalStateException(
        s"keyset cursor did not advance for ${spec.entity.name}: page " +
          s"ended at '$last' after cursor '${cursor.get}' — " +
          "server ordering disagrees with the cursor comparison")
      case other => throw new IllegalStateException(
        s"keyset pagination needs a string id for ${spec.entity.name}; got $other")
    }
  }

  /** The keyset page stream behind every read. Lazily yields `spec`'s
    * pages, the first from `firstPage` if a batched document carried it;
    * after a full page the next pull re-issues the spec with `id_gt:
    * lastId`. A page shorter than `spec.first` ends the scan; a spec not in
    * ascending id order (a pushed TopN) is one page. A consumer that stops
    * after n rows (`flatten.take(n)`) requests nothing past its n-th row.
    */
  def pages(spec: QuerySpec,
            firstPage: Option[Seq[Record]] = None): Iterator[Seq[Record]] =
    new Iterator[Seq[Record]] {
      private var current = spec
      private var prefetched = firstPage
      private var served: Option[Seq[Record]] = None // the page yielded last
      def hasNext: Boolean = served.forall(p => spec.first.exists(p.size >= _) &&
        spec.orderBy.contains("id") && !spec.orderDirection.contains("desc"))
      def next(): Seq[Record] = {
        if (!hasNext) throw new NoSuchElementException("keyset scan ended")
        served.foreach(p => current = continuation(current, p))
        served = Some(prefetched.getOrElse(fetchPage(current)))
        prefetched = None
        served.get
      }
    }

  /** Page streams whose first pages travel in ONE merged document
    * (subgraphProvider.ts:208-231, 5 queries -> 1 request) with
    * batch-to-individual fallback (R3); a first page that still failed is
    * re-fetched with retry/backoff when pulled.
    */
  def batchedPages(specs: Seq[QuerySpec]): Seq[Iterator[Seq[Record]]] =
    if (specs.isEmpty) Seq.empty
    else {
      val first = executeWithFallback(specs, withMetadata = false)
      specs.zipWithIndex.map { case (spec, i) =>
        val key = SubgraphQueryBuilder.alias(spec.entity.name, i)
        pages(spec, Option.unless(first.failedKeys(key))(
          first.records.getOrElse(key, Seq.empty)))
      }
    }

  /** Full keyset scan of one entity, materialized (O3 union-all). */
  def fetchAll(entity: EntityDef,
               where: Map[String, Any] = Map.empty): Seq[Record] =
    pages(scanSpec(entity, where)).flatten.toVector

  /** Full keyset scans of several entities, first pages batched. */
  def fetchAllBatched(entities: Seq[(EntityDef, Map[String, Any])])
      : Map[String, Seq[Record]] =
    entities.map(_._1.name)
      .zip(batchedPages(entities.map { case (e, w) => scanSpec(e, w) }))
      .map { case (name, p) => name -> p.flatten.toVector }.toMap
}

object SubgraphSource {

  /** One wire record: field -> decoded JSON value (FKs as nested maps). */
  type Record = Map[String, Any]

  /** FK flatten + projection: nested `{id}` objects reduce to their scalar
    * id, fields not in the entity's column map are dropped
    * (dbUpsert.ts:13-21). Then rows materialize against the resolved
    * StructType from [[SchemaMap.structTypeOf]].
    */
  def toDataFrame(spark: SparkSession, schema: SchemaMap, entity: EntityDef,
                  records: Seq[Record]): DataFrame = {
    val struct = schema.structTypeOf(entity.name)
    spark.createDataFrame(records.map(toRow(_, struct)).asJava, struct)
  }

  /** Row materialization against an arbitrary target struct (used by both
    * the driver-side fetch and the DSv2 partition reader): fields are
    * matched by name, FK objects flatten to their id, wire values coerce
    * to the field's Spark type.
    */
  def toRow(rec: Record, struct: StructType): Row =
    Row.fromSeq(struct.fields.map { f =>
      val raw = rec.get(f.name) match {
        case Some(m: Map[_, _]) => // FK nested object -> id
          m.asInstanceOf[Record].get("id").orNull
        case Some(v) => v
        case None => null
      }
      coerce(raw, f.dataType)
    }.toSeq)

  /** Wire-value coercion per target Spark type (F6: JSON decode + bigint
    * coercion, subgraphProvider.ts:192).
    */
  private def coerce(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (s: String, BinaryType) => hexToBytes(s)
    case (s: String, _: DecimalType) => new java.math.BigDecimal(s)
    case (n: BigInt, _: DecimalType) => new java.math.BigDecimal(n.bigInteger)
    case (n: BigDecimal, _: DecimalType) => n.bigDecimal
    case (n: BigInt, IntegerType) => n.toInt
    case (n: BigInt, LongType) => n.toLong
    case (b: Boolean, BooleanType) => b
    case (s: String, StringType) => s
    case (seq: Seq[_], ArrayType(et, _)) => seq.map(coerce(_, et))
    case (other, _) => other
  }

  /** bytes -> canonical lowercase `0x`-hex (inverse of [[hexToBytes]]) —
    * the subgraph wire form for Bytes-typed ids/addresses.
    */
  def bytesToHex(b: Array[Byte]): String =
    "0x" + b.map(x => f"${x & 0xff}%02x").mkString

  /** `0x`-prefixed hex -> bytes (ids/addresses/hashes as BYTEA). */
  def hexToBytes(s: String): Array[Byte] = {
    val hex = if (s.startsWith("0x")) s.substring(2) else s
    val padded = if (hex.length % 2 == 1) "0" + hex else hex
    padded.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  }
}
