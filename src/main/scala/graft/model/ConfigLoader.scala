package graft.model

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

/** YAML config loading — the reference's node-config pipeline
  * (src/config/config.ts:4-12) re-expressed with Jackson's YAML codec
  * (shipped with Spark).
  *
  * Shape (config/default.yml):
  * {{{
  * database:   { batchSize: 10000, maxRetries: 3, initialRetryDelay: 1000 }
  * blockchain: { network: mainnet, blockIntervalThreshold: 3 }
  * subgraphProviders:
  *   <name>: { url, id, apiKey, maxRowsPerRequest }
  * entities:
  *   - name: Builder
  *     primaryKey: [id]
  *     subgraphProvider: collective-rewards
  *     columns:
  *       - { name: id, type: Bytes }
  *       - { name: totalAllocation, type: BigInt, nullable: true }
  * }}}
  */
final case class ProviderConfig(
    name: String, url: String, id: String, apiKey: String,
    maxRowsPerRequest: Int)

final case class DatabaseConfig(
    batchSize: Int = 10000, maxRetries: Int = 3, initialRetryDelay: Long = 1000L)

final case class BlockchainConfig(
    network: String = "mainnet", blockIntervalThreshold: Long = 3L)

final case class GraftConfig(
    database: DatabaseConfig,
    blockchain: BlockchainConfig,
    providers: Map[String, ProviderConfig],
    schema: SchemaMap)

object ConfigLoader {

  private val mapper = new ObjectMapper(new YAMLFactory())

  def load(yaml: String): GraftConfig = fromTree(mapper.readTree(yaml))

  /** node-config-style layered load (reference src/config/config.ts:4-12):
    * `default.yml` deep-merged with the `$NODE_ENV.yml` overlay (objects
    * merge key-by-key recursively; scalars and arrays replace), then
    * env-var overrides applied at the paths named by the mapping document
    * (`config/custom-environment-variables.yml:1-9` — leaf values are env
    * var NAMES; a set variable overrides the config value at that path).
    */
  def loadLayered(defaultYaml: String,
                  overlayYaml: Option[String] = None,
                  envMappingYaml: Option[String] = None,
                  env: Map[String, String] = sys.env): GraftConfig = {
    val base = mapper.readTree(defaultYaml)
    val merged = overlayYaml
      .map(o => deepMerge(base, mapper.readTree(o))).getOrElse(base)
    envMappingYaml.foreach(m =>
      applyEnvOverrides(merged, mapper.readTree(m), env))
    fromTree(merged)
  }

  /** Overlay onto base, node-config semantics: object x object merges
    * recursively, anything else is replaced by the overlay value.
    */
  private def deepMerge(base: JsonNode, overlay: JsonNode): JsonNode =
    (base, overlay) match {
      case (b: ObjectNode, o: ObjectNode) =>
        o.properties().asScala.foreach { e =>
          val existing = b.get(e.getKey)
          if (existing != null && existing.isObject && e.getValue.isObject)
            deepMerge(existing, e.getValue)
          else b.set[JsonNode](e.getKey, e.getValue)
        }
        b
      case _ => overlay
    }

  private def applyEnvOverrides(target: JsonNode, mapping: JsonNode,
                                env: Map[String, String]): Unit =
    (target, mapping) match {
      case (t: ObjectNode, m: ObjectNode) =>
        m.properties().asScala.foreach { e =>
          if (e.getValue.isTextual)
            env.get(e.getValue.asText).foreach(v => t.put(e.getKey, v))
          else if (hasSetVar(e.getValue, env)) {
            // descend (and create the node) ONLY when some env var under
            // this mapping subtree is actually set: an unset mapping must
            // not materialize phantom config objects or clobber a
            // configured scalar with an empty {}
            val child = t.get(e.getKey) match {
              case c: ObjectNode => c
              case _ => t.putObject(e.getKey)
            }
            applyEnvOverrides(child, e.getValue, env)
          }
        }
      case _ => ()
    }

  private def hasSetVar(mapping: JsonNode, env: Map[String, String]): Boolean =
    if (mapping.isTextual) env.contains(mapping.asText)
    else mapping.properties().asScala.exists(e => hasSetVar(e.getValue, env))

  private def fromTree(root: JsonNode): GraftConfig = {
    val db = Option(root.get("database")).map(parseDb).getOrElse(DatabaseConfig())
    val chain = Option(root.get("blockchain")).map(parseChain).getOrElse(BlockchainConfig())
    val providers = Option(root.get("subgraphProviders")).map(parseProviders)
      .getOrElse(Map.empty[String, ProviderConfig])
    val entities = Option(root.get("entities")).map(parseEntities).getOrElse(Nil)
    val schema = SchemaMap(entities)
    val issues = schema.validate()
    require(issues.isEmpty, s"invalid entity config: ${issues.mkString("; ")}")
    // an empty page cannot advance a keyset cursor, an empty chunk merges
    // nothing: both sizes must be positive
    val sizes = ("database.batchSize" -> db.batchSize) +: providers.values.toSeq
      .map(p => s"subgraphProviders.${p.name}.maxRowsPerRequest" -> p.maxRowsPerRequest)
    sizes.foreach { case (key, v) => require(v > 0, s"$key must be positive, got $v") }
    GraftConfig(db, chain, providers, schema)
  }

  private def parseDb(n: JsonNode) = DatabaseConfig(
    batchSize = opt(n, "batchSize").map(_.asInt).getOrElse(10000),
    maxRetries = opt(n, "maxRetries").map(_.asInt).getOrElse(3),
    initialRetryDelay = opt(n, "initialRetryDelay").map(_.asLong).getOrElse(1000L))

  private def parseChain(n: JsonNode) = BlockchainConfig(
    network = opt(n, "network").map(_.asText).getOrElse("mainnet"),
    blockIntervalThreshold = opt(n, "blockIntervalThreshold").map(_.asLong).getOrElse(3L))

  private def parseProviders(n: JsonNode): Map[String, ProviderConfig] =
    n.properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> ProviderConfig(
        name = e.getKey,
        url = opt(v, "url").map(_.asText).getOrElse(""),
        id = opt(v, "id").map(_.asText).getOrElse(""),
        apiKey = opt(v, "apiKey").map(_.asText).getOrElse(""),
        maxRowsPerRequest = opt(v, "maxRowsPerRequest").map(_.asInt).getOrElse(1000))
    }.toMap

  private def parseEntities(n: JsonNode): Seq[EntityDef] =
    n.elements().asScala.map { e =>
      EntityDef(
        name = e.get("name").asText,
        columns = Option(e.get("columns")).map(_.elements().asScala.map { c =>
          ColumnDef(
            name = c.get("name").asText,
            tpe = ColumnType.parse(c.get("type").asText),
            nullable = opt(c, "nullable").exists(_.asBoolean))
        }.toSeq).getOrElse(Nil),
        primaryKey = Option(e.get("primaryKey"))
          .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Seq("id")),
        subgraphProvider = opt(e, "subgraphProvider").map(_.asText).getOrElse(""))
    }.toSeq

  private def opt(n: JsonNode, field: String): Option[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull)
}
