package perfbench

import java.security.MessageDigest
import java.util.{TreeMap => JTreeMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.core.io.JsonStringEncoder

import graft.model.{ColumnType, EntityDef, GraftConfig}
import graft.streaming.StateReconcile

/** Size class of an entity in the generated world. */
sealed trait Kind
object Kind {
  case object History extends Kind
  case object Dimension extends Kind
  case object Singleton extends Kind

  private val singletons = Set("Cycle", "ContractConfig", "GlobalMetric")
  private val dimensions = Set("Builder", "BackerRewardPercentage",
    "BuilderState", "GaugeToBuilder", "Backer", "BackerToBuilder",
    "GlobalDistributionPerToken", "Account", "Proposal")
  val ChangeLog = "BlockChangeLog"

  def of(name: String): Kind =
    if (singletons(name)) Singleton
    else if (dimensions(name)) Dimension
    else History
}

/** Row counts per size class. */
final case class Sizes(history: Int, dimension: Int, singleton: Int) {
  def of(k: Kind): Int = k match {
    case Kind.History => history
    case Kind.Dimension => dimension
    case Kind.Singleton => singleton
  }
}

/** One subgraph entity row. `values` hold wire values in column order:
  * Bytes and FK ids as fixed-width lowercase 0x-hex strings, BigInt as
  * BigInt, Integer as Int, Boolean, String, arrays as Seq. `json` is the
  * pre-rendered GraphQL response object, so serving a page is string
  * concatenation.
  */
final class SimRow(val id: String, val values: Vector[Any],
                   val changeBlock: Long, val json: String)

/** The seeded subgraph + chain state: every syncable entity of the
  * production schema, keyed by id in keyset order. Generation is a pure
  * function of (config, sizes, seed).
  */
final class World(val config: GraftConfig, val sizes: Sizes, val seed: Long) {

  val entities: Seq[EntityDef] =
    config.schema.entities.values.filterNot(_.name == "LastProcessedBlock")
      .toSeq.sortBy(_.name)
  val byName: Map[String, EntityDef] = entities.map(e => e.name -> e).toMap
  val tables: Map[String, JTreeMap[String, SimRow]] =
    entities.map(e => e.name -> new JTreeMap[String, SimRow]()).toMap

  /** History entities a CDC block may change: every history entity but
    * the change log itself.
    */
  val cdcEntities: Seq[String] = entities.map(_.name)
    .filter(n => Kind.of(n) == Kind.History && n != Kind.ChangeLog)

  private val rng = new Random(seed)

  /** Fixed-width lowercase hex: string order equals keyset order. */
  def hex(bytes: Int, r: Random = rng): String = {
    val sb = new StringBuilder("0x")
    (0 until bytes).foreach(_ => sb.append(f"${r.nextInt(256)}%02x"))
    sb.toString
  }

  private val words = Seq("alpha", "bravo", "delta", "gauge", "stake",
    "reward", "cycle", "vote", "quorum", "backer", "builder", "vault")

  /** Proposal id -> on-chain raw state (the multicall view). */
  val chainStates: mutable.Map[String, Int] = mutable.Map.empty

  private def value(e: EntityDef, c: graft.model.ColumnDef, r: Random,
                    block: Long): Any = {
    def scalar(t: ColumnType): Any = t match {
      case ColumnType.BooleanCol => r.nextBoolean()
      case ColumnType.BigIntCol => BigInt(64, r) * 1000 + r.nextInt(1000)
      case ColumnType.BytesCol => hex(8, r)
      case ColumnType.StringCol => Seq.fill(1 + r.nextInt(4))(words(r.nextInt(words.size))).mkString(" ")
      case ColumnType.IntegerCol => r.nextInt(1000)
      case ColumnType.Reference(target) =>
        val t = tables(target)
        if (t.isEmpty) hex(8, r)
        else t.keySet.iterator.asScala.drop(r.nextInt(math.min(t.size, 64))).next()
      case ColumnType.ArrayCol(el) => Vector.fill(r.nextInt(3))(scalar(el))
    }
    (e.name, c.name) match {
      case ("BlockChangeLog", "blockNumber") => BigInt(block)
      case ("BlockChangeLog", "updatedEntities") =>
        r.shuffle(cdcEntities).take(3).toVector
      case _ if c.nullable && r.nextInt(4) == 0 => null
      case _ => scalar(c.tpe)
    }
  }

  /** A fresh row for `e` at `block`, with id `id`. */
  def makeRow(e: EntityDef, id: String, r: Random, block: Long,
              overrides: Map[String, Any] = Map.empty): SimRow = {
    val vs = e.columns.map { c =>
      if (c.name == "id") id
      else overrides.getOrElse(c.name, value(e, c, r, block))
    }.toVector
    val fixed =
      if (e.name != "Proposal") vs
      else {
        val rs = e.columns.indexWhere(_.name == "rawState")
        val st = e.columns.indexWhere(_.name == "state")
        val raw = overrides.get("rawState").map(_.asInstanceOf[Int])
          .getOrElse(StateReconcile.mutableStates(r.nextInt(4)))
        vs.updated(rs, raw).updated(st, StateReconcile.stateLabels(raw))
      }
    new SimRow(id, fixed, block, World.render(e, fixed))
  }

  def put(e: EntityDef, row: SimRow): Option[SimRow] =
    Option(tables(e.name).put(row.id, row))

  /** Populate every entity (dimensions before the histories that
    * reference them) at block `block`.
    */
  def populate(block: Long): Unit = {
    val order = entities.sortBy(e => Kind.of(e.name) match {
      case Kind.Singleton => 0
      case Kind.Dimension => 1
      case Kind.History => 2
    })
    order.foreach { e =>
      (0 until sizes.of(Kind.of(e.name))).foreach { _ =>
        var id = hex(8)
        while (tables(e.name).containsKey(id)) id = hex(8)
        val row = makeRow(e, id, rng, block)
        put(e, row)
        if (e.name == "Proposal")
          chainStates(id) = row.values(e.columns.indexWhere(_.name == "rawState"))
            .asInstanceOf[Int]
      }
    }
  }

  /** Canonical rows of one entity (sorted), the check's common form. */
  def canonical(entity: String): Seq[String] = {
    val e = byName(entity)
    tables(entity).values.asScala.map(r => World.canonicalOf(e, r.values)).toSeq.sorted
  }

  def digest: String = World.digestOf(entities.map(e => e.name -> canonical(e.name)))

  def rowCount: Long = tables.values.map(_.size.toLong).sum
}

object World {
  private def jsonString(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""

  private def jsonValue(t: ColumnType, v: Any): String = (t, v) match {
    case (_, null) => "null"
    case (ColumnType.Reference(_), id: String) => s"""{"id":${jsonString(id)}}"""
    case (ColumnType.ArrayCol(el), seq: Seq[_]) => seq.map(jsonValue(el, _)).mkString("[", ",", "]")
    case (_, s: String) => jsonString(s)
    case (_, n: BigInt) => "\"" + n.toString + "\""
    case (_, other) => other.toString
  }

  /** The GraphQL response object of one row (BigInt as a string, FKs as
    * `{id}` objects — the subgraph wire format).
    */
  def render(e: EntityDef, values: Vector[Any]): String =
    e.columns.zip(values).map { case (c, v) =>
      jsonString(c.name) + ":" + jsonValue(c.tpe, v)
    }.mkString("{", ",", "}")

  /** Canonical text of one row: values in column order, FKs as their
    * id, hex for bytes, plain integers for BigInt.
    */
  def canonicalOf(e: EntityDef, values: Seq[Any]): String =
    values.map(canonicalValue).mkString("|")

  def canonicalValue(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => graft.sources.SubgraphSource.bytesToHex(b)
    case d: java.math.BigDecimal => d.toBigIntegerExact.toString
    case d: BigDecimal => d.toBigIntExact.map(_.toString).getOrElse(d.toString)
    case s: scala.collection.Seq[_] => s.map(canonicalValue).mkString("[", ",", "]")
    case other => other.toString
  }

  def digestOf(tables: Seq[(String, Seq[String])]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    tables.sortBy(_._1).foreach { case (t, rows) =>
      md.update(t.getBytes("UTF-8"))
      rows.foreach { r => md.update(0.toByte); md.update(r.getBytes("UTF-8")) }
      md.update(1.toByte)
    }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }
}
