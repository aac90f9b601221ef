package graft.sources

import java.util

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.CatalystTypeConverters

import graft.model.{ColumnType, EntityDef, ProviderConfig, SchemaMap}
import graft.sources.SubgraphQueryBuilder.QuerySpec

/** DataSource V2 face of the subgraph connector (SURVEY §4): Catalyst's
  * standard pushdown interfaces mapped onto the GraphQL query generator —
  *
  *  - `SupportsPushDownRequiredColumns` -> the projected field list
  *    (reference: request exactly the configured columns);
  *  - `SupportsPushDownFilters` -> The-Graph `where` operators
  *    (`_gt/_gte/_lt/_lte/_in`, equality);
  *  - `SupportsPushDownLimit` -> `first: N`.
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.SubgraphTableProvider")
  *   .option("config", registeredConfigKey)
  *   .option("entity", "Builder")
  *   .load()
  *   .filter($"id" > "0x10")     // reaches the GraphQL where-clause
  *   .select("id")                // prunes the GraphQL field list
  * }}}
  *
  * DSv2 instantiates providers reflectively, so live objects (config +
  * transport) are handed over through [[SubgraphTableProvider.registry]]
  * under the `config` option key.
  */
object SubgraphTableProvider {
  final case class Binding(schema: SchemaMap, provider: ProviderConfig,
                           transport: Transport)
  /** Bindings keyed by the `config` option. The TRANSPORT is resolved
    * from this registry at reader-creation time — i.e. where the reader
    * runs — so live connections are never serialized into task closures.
    * On a multi-executor cluster the binding must be registered in
    * executor startup (or the transport made a serializable config-built
    * factory); in local mode the single JVM shares it.
    */
  val registry: TrieMap[String, Binding] = TrieMap.empty
}

final class SubgraphTableProvider extends TableProvider {

  private def binding(options: CaseInsensitiveStringMap) =
    SubgraphTableProvider.registry.getOrElse(options.get("config"),
      throw new IllegalArgumentException(
        s"no binding registered for config=${options.get("config")}"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    binding(options).schema.structTypeOf(options.get("entity"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val key = options.get("config")
    val b = binding(options)
    val wire = b.schema.wireIssues(options.get("entity"))
    require(wire.isEmpty,
      s"cannot scan ${options.get("entity")} over GraphQL: ${wire.mkString("; ")}")
    new SubgraphTable(key, b.schema(options.get("entity")), schema)
  }
}

final class SubgraphTable(configKey: String, entity: EntityDef,
                          fullSchema: StructType) extends Table with SupportsRead {
  override def name(): String = s"subgraph:${entity.name}"
  override def schema(): StructType = fullSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SubgraphScanBuilder(configKey, entity, fullSchema,
      options.getBoolean("binaryCollation", false))
}

final class SubgraphScanBuilder(configKey: String,
                                entity: EntityDef, fullSchema: StructType,
                                binaryCollation: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private var requiredSchema: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var topN: Option[(String, String, Int)] = None // (field, dir, n)

  /** Inherited from BOTH SupportsPushDownLimit and SupportsPushDownTopN
    * (same default in each): keep `true` so Spark still applies its own
    * limit/TakeOrdered over the pruned scan output — null-ordering and
    * collation stay Spark-defined while the row volume is cut at the
    * source.
    */
  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  /** Only literals the GraphQL wire format can actually carry may be
    * claimed: a claimed-but-unserializable filter would either crash the
    * reader (formatValue throws) or — worse — be silently dropped while
    * Spark trusts the scan to have applied it, returning unfiltered rows.
    * Binary (Bytes-typed ids/addresses) is serializable via its canonical
    * 0x-hex string form; timestamps/dates/etc. stay post-scan.
    */
  private def serializableLiteral(v: Any): Boolean = v match {
    case null => false
    case _: String | _: java.lang.Boolean | _: Number => true // Number covers BigInt/BigDecimal (ScalaNumber)
    case _: Array[Byte] => true
    case s: Seq[_] => s.nonEmpty && s.forall(serializableLiteral)
    case a: Array[_] => a.nonEmpty && a.forall(serializableLiteral)
    case _ => false
  }

  /** The-Graph where-operator for one Catalyst source filter, or None if
    * the filter can't be expressed (it stays a post-scan Spark filter).
    */
  private def toWhere(f: Filter): Option[(String, Any)] = f match {
    case EqualTo(a, v) if serializableLiteral(v) => Some(a -> v)
    case GreaterThan(a, v) if serializableLiteral(v) => Some(s"${a}_gt" -> v)
    case GreaterThanOrEqual(a, v) if serializableLiteral(v) => Some(s"${a}_gte" -> v)
    case LessThan(a, v) if serializableLiteral(v) => Some(s"${a}_lt" -> v)
    case LessThanOrEqual(a, v) if serializableLiteral(v) => Some(s"${a}_lte" -> v)
    case In(a, vs) if vs.nonEmpty && vs.forall(serializableLiteral) =>
      Some(s"${a}_in" -> vs.toSeq)
    case IsNotNull(_) => None // ids are non-null at the source
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // claim at most ONE filter per where-key: two predicates mapping to
    // the same (column, op) — e.g. `id > a AND id > b` — would collide in
    // the where map and silently drop one; the duplicate stays a
    // post-scan Spark filter instead
    val claimedKeys = scala.collection.mutable.Set.empty[String]
    val (supported, rejected) = filters.partition { f =>
      toWhere(f) match {
        case Some((key, _)) => claimedKeys.add(key)
        case None => false
      }
    }
    pushed = supported
    // IsNotNull may be elided only for columns the MODEL declares
    // non-nullable (Spark treats unreturned filters as fully handled;
    // eliding it for a nullable column would let NULL rows leak past a
    // predicate nobody evaluated)
    def provablyNonNull(f: Filter): Boolean = f match {
      case IsNotNull(a) =>
        entity.columns.exists(c => c.name == a && !c.nullable)
      case _ => false
    }
    rejected.filterNot(provablyNonNull)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  /** O1 TopN pushdown: `df.orderBy(col).limit(n)` maps to GraphQL
    * `orderBy / orderDirection / first` (reference
    * subgraphQueryBuilder.ts:174-198) when the sort is a single plain
    * column and the limit fits one page — the scan then fetches exactly N
    * rows instead of walking the whole entity and sorting locally.
    * Partially pushed (the default): Spark still runs its TakeOrdered
    * over the N returned rows — but that only REORDERS the fetched set,
    * it cannot repair a truncation the server cut differently, so the
    * push is claimed ONLY when the server's order provably equals
    * Spark's for the sort column: the column must be NON-NULLABLE
    * (Spark sorts NULLS FIRST on asc, Postgres NULLS LAST — a nullable
    * column's top-N sets diverge) and of a type with one universal
    * order (integers, uint256 numerics, booleans). Strings are rejected
    * by default (server collation vs Spark's binary UTF-8 order) and so
    * are bytes (the GraphQL layer compares their string form).
    *
    * The `binaryCollation` reader option opts string sorts IN: The Graph
    * orders strings lexicographically over their byte form, and subgraph
    * ids are ASCII 0x-hex in practice, where byte order and Spark's
    * UTF-8 binary order coincide. The option is an explicit caller
    * assertion about THIS server's collation — it is never inferred,
    * because a collation mismatch silently returns the wrong top-N set
    * (truncation happens server-side; Spark's re-sort cannot repair it).
    */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    import graft.model.ColumnType
    val page = SubgraphTableProvider.registry.get(configKey)
      .map(_.provider.maxRowsPerRequest).getOrElse(Int.MaxValue)
    def orderPortable(c: graft.model.ColumnDef): Boolean =
      !c.nullable && (c.tpe match {
        case ColumnType.IntegerCol | ColumnType.BigIntCol
             | ColumnType.BooleanCol => true
        case ColumnType.StringCol => binaryCollation
        case _ => false
      })
    orders match {
      case Array(o) if n <= page =>
        o.expression() match {
          case nr: NamedReference if nr.fieldNames.length == 1
              && entity.columns.exists(c =>
                c.name == nr.fieldNames()(0) && orderPortable(c)) =>
            val dir = if (o.direction() == SortDirection.DESCENDING) "desc" else "asc"
            topN = Some((nr.fieldNames()(0), dir, n))
            true
          case _ => false
        }
      case _ => false
    }
  }

  override def build(): Scan = {
    val where = pushed.flatMap(toWhere).toMap
      .map { case (k, v) => k -> normalizeLiteral(v) }
    new SubgraphScan(configKey, entity, requiredSchema, where, limit, topN)
  }

  private def normalizeLiteral(v: Any): Any = v match {
    case d: java.math.BigDecimal => BigDecimal(d)
    case b: Array[Byte] => SubgraphSource.bytesToHex(b)
    case s: Seq[_] => s.map(normalizeLiteral)
    case a: Array[_] => a.toSeq.map(normalizeLiteral)
    case other => other
  }
}

/** Single-partition scan over [[SubgraphSource.pages]]: the subgraph
  * endpoint is one upstream server, so the paginated fetch is inherently
  * sequential on the cursor (the reference's loop,
  * subgraphSyncer.ts:88-133). Parallelism at 100 TB comes from many
  * entities/providers scanning concurrently, not from splitting one
  * keyset walk.
  */
final class SubgraphScan(configKey: String, entity: EntityDef,
                         schema: StructType, where: Map[String, Any],
                         limit: Option[Int],
                         topN: Option[(String, String, Int)] = None)
    extends Scan with Batch with Serializable {

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(new InputPartition {})

  override def createReaderFactory(): PartitionReaderFactory = {
    // the reader runs on an executor; capture only what it needs. Fetch
    // the required columns PLUS the primary key — keyset pagination needs
    // the id cursor even when the query prunes it
    val spec = QuerySpec(entity.copy(columns = entity.columns.filter(c =>
        schema.fieldNames.contains(c.name) || entity.primaryKey.contains(c.name))),
      where = where, orderBy = Some(topN.fold("id")(_._1)),
      orderDirection = topN.map(_._2))
    val (key, readerSchema, n) = (configKey, schema, topN.map(_._3).orElse(limit))
    (_: InputPartition) => new PartitionReader[InternalRow] {
      // resolved where the reader runs — never serialized (see registry doc)
      private val b = SubgraphTableProvider.registry(key)
      private val page = b.provider.maxRowsPerRequest
      // a pushed TopN or limit of n rows pulls no page past the n-th row
      // (the server sorts and truncates a TopN in one request); a full
      // scan streams page by page without holding the entity
      private val records = new SubgraphSource(b.provider, b.transport)
        .pages(spec.copy(first = Some(n.fold(page)(math.min(_, page))))).flatten
      private val converter = CatalystTypeConverters.createToCatalystConverter(readerSchema)
      private val rows = n.fold(records)(records.take).map(r =>
        converter(SubgraphSource.toRow(r, readerSchema)).asInstanceOf[InternalRow])
      override def next(): Boolean = rows.hasNext
      override def get(): InternalRow = rows.next()
      override def close(): Unit = ()
    }
  }
}
