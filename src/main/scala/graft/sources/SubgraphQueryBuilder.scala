package graft.sources

import graft.model.{ColumnType, EntityDef}

/** GraphQL query generation for subgraph entity scans — the reference's
  * query *generator* semantics (src/handlers/subgraphQueryBuilder.ts):
  * column projection with FK `{ id }` sub-selection (:116-126), typed
  * where-clause serialization (:131-198), orderBy/first pushdown
  * (:174-198), multi-query batch documents with `pluralName_i` aliases and
  * an optional `_meta` block (:15-44, :26-38).
  *
  * Pure string construction — no I/O — so the whole surface is unit
  * testable exactly like the reference's 826-line query-builder suite.
  */
object SubgraphQueryBuilder {

  /** lowercase first char (src/utils/toCamelCase.ts:1-3). */
  def toCamelCase(name: String): String =
    if (name.isEmpty) name else name.head.toLower +: name.tail

  /** Entity -> entities; *y -> *ies (src/utils/pluralizeEntityName.ts:11-16). */
  def pluralize(name: String): String =
    if (name.endsWith("y")) name.dropRight(1) + "ies" else name + "s"

  /** Plural camel-case result key for entity queries. */
  def resultKey(entityName: String): String = toCamelCase(pluralize(entityName))

  /** The `resultKey_index` alias of a batch document's index-th query. */
  def alias(entityName: String, index: Int): String = s"${resultKey(entityName)}_$index"

  /** Typed literal serialization (formatQueryValue, ts:131-169): strings
    * quoted, numbers/bigints/booleans bare, arrays bracketed, nested maps
    * braced (for operators like `_change_block: {number_gte: N}`), nulls
    * skipped by the caller, cycles guarded by depth.
    */
  def formatValue(v: Any, depth: Int = 0): String = {
    require(depth < 16, "filter nesting too deep (possible cycle)")
    v match {
      case s: String =>
        // GraphQL strings forbid raw line terminators and control chars:
        // escape them as \uXXXX (a pushed literal containing "\n" would
        // otherwise produce a syntactically invalid document and fail
        // the whole scan instead of filtering)
        val b = new StringBuilder("\"")
        s.foreach {
          case '\\' => b.append("\\\\")
          case '"' => b.append("\\\"")
          case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
          case c => b.append(c)
        }
        b.append('"').toString
      case b: Array[Byte] => // Bytes columns travel as canonical 0x-hex strings
        "\"" + SubgraphSource.bytesToHex(b) + "\""
      case b: Boolean => b.toString
      case n: BigInt => n.toString
      case n: BigDecimal => n.bigDecimal.toPlainString
      case n: Number => n.toString
      case seq: Seq[_] => seq.map(formatValue(_, depth + 1)).mkString("[", ", ", "]")
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
        .collect { case (k, value) if value != null =>
          s"$k: ${formatValue(value, depth + 1)}" }
        .mkString("{", ", ", "}")
      case null => throw new IllegalArgumentException("null must be skipped by caller")
      case other => throw new IllegalArgumentException(
        s"unsupported filter value type: ${other.getClass.getName}")
    }
  }

  /** One entity query: arguments (first / orderBy / orderDirection /
    * where) + the projected column list; FK columns select `{ id }` only
    * (ts:116-126, 174-198). Null filter values are skipped (ts:140-143).
    */
  final case class QuerySpec(
      entity: EntityDef,
      where: Map[String, Any] = Map.empty,
      orderBy: Option[String] = None,
      orderDirection: Option[String] = None,
      first: Option[Int] = None)

  def fieldList(entity: EntityDef): String =
    entity.columns.map { c =>
      c.tpe match {
        case ColumnType.Reference(_) => s"${c.name} { id }"
        case _ => c.name
      }
    }.mkString(" ")

  def arguments(spec: QuerySpec): String = {
    val parts = Seq(
      spec.first.map(n => s"first: $n"),
      spec.orderBy.map(o => s"orderBy: $o"),
      spec.orderDirection.map(d => s"orderDirection: $d"),
      Option(spec.where.filter(_._2 != null)).filter(_.nonEmpty)
        .map(w => s"where: ${formatValue(w)}")
    ).flatten
    if (parts.isEmpty) "" else parts.mkString("(", ", ", ")")
  }

  /** Aliased entity sub-query for batch documents: `alias: pluralName(args)
    * { fields }` — the demuxable `entityName_i` shape
    * (src/context/subgraphProvider.ts:208-231).
    */
  def entityQuery(spec: QuerySpec, index: Int): String = {
    s"${alias(spec.entity.name, index)}: ${resultKey(spec.entity.name)}" +
      s"${arguments(spec)} { ${fieldList(spec.entity)} }"
  }

  /** The `_meta` block carrying the source's block coordinates
    * (subgraphQueryBuilder.ts:26-38).
    */
  val metaBlock: String =
    "_meta { block { number hash timestamp } deployment hasIndexingErrors }"

  /** Merge N entity queries into ONE GraphQL document (buildBatchQuery,
    * ts:15-44) — the reference's HTTP batching optimization (5 queries ->
    * 1 request, 80% reduction; batching.test.ts:162).
    */
  def batchQuery(specs: Seq[QuerySpec], withMetadata: Boolean = true): String = {
    val queries = specs.zipWithIndex.map { case (s, i) => entityQuery(s, i) }
    val body = if (withMetadata) queries :+ metaBlock else queries
    s"query { ${body.mkString(" ")} }"
  }

  /** Keyset-pagination follow-up: same spec with `id_gt: lastId`
    * (subgraphSyncer.ts:114-119).
    */
  def nextPage(spec: QuerySpec, lastId: String): QuerySpec =
    spec.copy(where = spec.where + ("id_gt" -> lastId))
}
