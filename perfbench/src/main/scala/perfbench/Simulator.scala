package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper

import graft.model.EntityDef
import graft.sources.{SubgraphQueryBuilder, Transport}
import graft.streaming.{Block, BlockSource, StateReconcile}

/** The subset of a GraphQL document the sync path sends: aliased entity
  * queries with `first`, `orderBy`, `orderDirection` and a `where` map
  * (`id_gt`, `_change_block: {number_gte}`), plus an optional `_meta`
  * block. Field selections are skipped: the simulator serves every column.
  */
object MiniGraphQL {
  final case class Query(alias: String, field: String, args: Map[String, Any])

  def parse(doc: String): Seq[Query] = new Parser(doc).document()

  private final class Parser(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && (s(i).isWhitespace || s(i) == ',')) i += 1
    private def fail(what: String) =
      throw new IllegalArgumentException(s"GraphQL parse error at $i: expected $what in: $s")
    private def expect(c: Char): Unit = { ws(); if (i < s.length && s(i) == c) i += 1 else fail(s"'$c'") }
    private def peek: Char = { ws(); if (i < s.length) s(i) else '\u0000' }
    private def name(): String = {
      ws(); val st = i
      while (i < s.length && (s(i).isLetterOrDigit || s(i) == '_')) i += 1
      if (st == i) fail("a name") else s.substring(st, i)
    }
    private def skipBlock(): Unit = {
      expect('{'); var depth = 1
      while (depth > 0) {
        if (i >= s.length) fail("'}'")
        s(i) match { case '{' => depth += 1; case '}' => depth -= 1; case _ => }
        i += 1
      }
    }
    private def value(): Any = peek match {
      case '"' =>
        i += 1; val sb = new StringBuilder
        while (s(i) != '"') {
          if (s(i) == '\\') { i += 1; sb.append(s(i)) } else sb.append(s(i))
          i += 1
        }
        i += 1; sb.toString
      case '{' =>
        i += 1; val m = mutable.LinkedHashMap.empty[String, Any]
        while (peek != '}') { val k = name(); expect(':'); m(k) = value() }
        i += 1; m.toMap
      case '[' =>
        i += 1; val b = Vector.newBuilder[Any]
        while (peek != ']') b += value()
        i += 1; b.result()
      case c if c == '-' || c.isDigit =>
        val st = i; i += 1
        while (i < s.length && (s(i).isDigit || s(i) == '.')) i += 1
        BigDecimal(s.substring(st, i))
      case _ => name() // enum / boolean literal
    }
    def document(): Seq[Query] = {
      if (name() != "query") fail("'query'")
      expect('{')
      val out = Vector.newBuilder[Query]
      while (peek != '}') {
        val first = name()
        if (peek == ':') {
          i += 1
          val field = name()
          val args =
            if (peek == '(') {
              i += 1; val m = mutable.LinkedHashMap.empty[String, Any]
              while (peek != ')') { val k = name(); expect(':'); m(k) = value() }
              i += 1; m.toMap
            } else Map.empty[String, Any]
          skipBlock()
          out += Query(first, field, args)
        } else skipBlock() // _meta
      }
      out.result()
    }
  }
}

/** Request accounting of the simulator (the `sources` layer's upstream
  * side, measured outside the program).
  */
final class SourceCounters {
  val requests = new AtomicLong
  val queries = new AtomicLong
  val rows = new AtomicLong
  val bytes = new AtomicLong
  val upstreamNs = new AtomicLong
  def reset(): Unit = Seq(requests, queries, rows, bytes, upstreamNs).foreach(_.set(0))
}

/** In-process subgraph endpoint over a [[World]]: honours `first`,
  * `id_gt` and `_change_block.number_gte` in keyset (id) order, exactly
  * like the hosted subgraph the sync path pages through. Thread-safe for
  * concurrent readers; the world only changes between blocks.
  */
final class SubgraphSim(world: World) extends Transport {
  val counters = new SourceCounters
  private val mapper = new ObjectMapper()
  private val byKey: Map[String, EntityDef] =
    world.entities.map(e => SubgraphQueryBuilder.resultKey(e.name) -> e).toMap

  def post(endpoint: String, body: String): String = Trace.span("upstream", "subgraph.post") {
    val t0 = System.nanoTime()
    try {
      val doc = mapper.readTree(body).get("query").asText
      val queries = MiniGraphQL.parse(doc)
      val sb = new StringBuilder("{\"data\":{")
      var served = 0L
      queries.zipWithIndex.foreach { case (q, qi) =>
        val e = byKey.getOrElse(q.field,
          throw new IllegalArgumentException(s"unknown entity field ${q.field}"))
        val rows = page(e, q.args)
        served += rows.size
        if (qi > 0) sb.append(',')
        sb.append('"').append(q.alias).append("\":[")
        rows.zipWithIndex.foreach { case (r, ri) =>
          if (ri > 0) sb.append(',')
          sb.append(r.json)
        }
        sb.append(']')
      }
      sb.append("}}")
      val out = sb.toString
      counters.requests.incrementAndGet()
      counters.queries.addAndGet(queries.size.toLong)
      counters.rows.addAndGet(served)
      counters.bytes.addAndGet(out.length.toLong)
      out
    } finally counters.upstreamNs.addAndGet(System.nanoTime() - t0)
  }

  /** One keyset page: rows with id > `id_gt`, changed at or after
    * `_change_block.number_gte`, at most `first`, in id order.
    */
  def page(e: EntityDef, args: Map[String, Any]): Seq[SimRow] = {
    args.keySet.diff(Set("first", "orderBy", "orderDirection", "where"))
      .foreach(k => throw new IllegalArgumentException(s"unsupported argument $k"))
    require(args.get("orderBy").forall(_ == "id"), "keyset order is by id")
    require(args.get("orderDirection").forall(_ == "asc"), "keyset order is ascending")
    val where = args.getOrElse("where", Map.empty).asInstanceOf[Map[String, Any]]
    where.keySet.diff(Set("id_gt", "_change_block"))
      .foreach(k => throw new IllegalArgumentException(s"unsupported filter $k"))
    val first = args.get("first").map(_.asInstanceOf[BigDecimal].toInt).getOrElse(100)
    val minBlock = where.get("_change_block").map(_.asInstanceOf[Map[String, Any]]("number_gte"))
      .map(_.asInstanceOf[BigDecimal].toLong)
    val t = world.tables(e.name)
    val from = where.get("id_gt") match {
      case Some(id: String) => t.tailMap(id, false)
      case _ => t
    }
    val it = from.values.iterator.asScala
    val matching = minBlock.fold(it)(b => it.filter(_.changeBlock >= b))
    matching.take(first).toVector
  }
}

/** One block's undo record: the rows it replaced (None = inserted) and
  * the chain states it moved.
  */
final case class Undo(rows: Seq[(String, String, Option[SimRow])],
                      states: Seq[(String, Int)]) {
  def tables: Set[String] = rows.map(_._1).toSet ++
    (if (states.nonEmpty) Set("Proposal") else Set.empty)
}

/** The chain side of the CDC workload: a block source whose head the
  * benchmark advances one block at a time. Each new block changes
  * `changed` history entities, in rotation (`updated` updated and
  * `inserted` new rows each), appends a change log entry naming them, and moves two
  * proposals' on-chain state. A
  * reorg replaces the last `depth` blocks with empty siblings and drops
  * their changes from the subgraph.
  */
final class ChainSim(world: World, startBlock: Long, seed: Long, changed: Int,
                     updated: Int = 20, inserted: Int = 5) extends BlockSource {
  private var head: Long = startBlock
  private var fork: Map[Long, Int] = Map.empty
  private val undo = mutable.Map.empty[Long, Undo]

  private def hashOf(n: Long): String = {
    val r = new Random(seed * 1000003L + n * 31 + fork.getOrElse(n, 0))
    world.hex(32, r)
  }
  private def blockOf(n: Long) = Block(BigInt(n), hashOf(n), BigInt(1700000000L + n * 30))

  def latest(): Block = blockOf(head)
  def hashAt(number: BigInt): String = hashOf(number.toLong)
  def blockAt(number: BigInt): Block = blockOf(number.toLong)
  def multicall(ids: Seq[String]): Map[String, Int] =
    ids.flatMap(id => world.chainStates.get(id).map(id -> _)).toMap

  /** Mine the next block and apply its changes to the world. */
  def advance(): Block = {
    head += 1
    val n = head
    val r = new Random(seed * 7919L + n)
    // the changed entities rotate with the block number, so every seed
    // runs the same mix of tables and only the rows differ
    val names = (0 until changed).map(k =>
      world.cdcEntities(((n + k) % world.cdcEntities.size).toInt))
    val replaced = Vector.newBuilder[(String, String, Option[SimRow])]
    names.foreach { name =>
      val e = world.byName(name)
      val t = world.tables(name)
      val ids = t.keySet.asScala.toVector
      r.shuffle(ids.indices.toVector).take(updated).foreach { i =>
        replaced += ((name, ids(i), world.put(e, world.makeRow(e, ids(i), r, n))))
      }
      (0 until inserted).foreach { _ =>
        var id = world.hex(8, r)
        while (t.containsKey(id)) id = world.hex(8, r)
        replaced += ((name, id, world.put(e, world.makeRow(e, id, r, n))))
      }
    }
    val log = world.byName("BlockChangeLog")
    var logId = world.hex(8, r)
    while (world.tables(log.name).containsKey(logId)) logId = world.hex(8, r)
    replaced += ((log.name, logId, world.put(log, world.makeRow(log, logId, r, n,
      Map("updatedEntities" -> names.toVector)))))
    // two proposals in a mutable state move one step on chain; the
    // subgraph row follows (its change block is not in the change log,
    // so only the reconcile strategy picks it up)
    val prop = world.byName("Proposal")
    val movable = world.chainStates.toVector.sortBy(_._1)
      .filter { case (_, s) => StateReconcile.mutableStates.contains(s) }
    val moved = r.shuffle(movable).take(2).map { case (id, s) =>
      val next = s match { case 0 => 1; case 1 => 4; case 4 => 5; case _ => 7 }
      val old = world.tables(prop.name).get(id)
      val vs = old.values
        .updated(prop.columns.indexWhere(_.name == "rawState"), next)
        .updated(prop.columns.indexWhere(_.name == "state"), StateReconcile.stateLabels(next))
      world.put(prop, new SimRow(id, vs, old.changeBlock, World.render(prop, vs)))
      replaced += ((prop.name, id, Some(old)))
      world.chainStates(id) = next
      id -> s
    }
    undo(n) = Undo(replaced.result(), moved)
    undo.remove(n - 64)
    blockOf(n)
  }

  /** Orphan the last `depth` blocks: their changes leave the subgraph and
    * their heights get new hashes. Returns the tables they touched.
    */
  def reorg(depth: Int): Set[String] = {
    val orphaned = (head - depth + 1 to head).reverse
    val touched = orphaned.flatMap { n =>
      val u = undo.remove(n).getOrElse(Undo(Nil, Nil))
      u.rows.reverse.foreach { case (name, id, prev) =>
        prev match {
          case Some(row) => world.tables(name).put(id, row)
          case None => world.tables(name).remove(id)
        }
      }
      u.states.foreach { case (id, s) => world.chainStates(id) = s }
      fork += n -> (fork.getOrElse(n, 0) + 1)
      u.tables
    }.toSet
    touched
  }
}
