package graft.sources

import scala.collection.mutable

import graft.SparkSpec
import graft.model._

/** DSv2 read path: schema inference, and filter/column/limit pushdown
  * reaching the generated GraphQL text.
  */
class SubgraphTableProviderSpec extends SparkSpec {

  private val builder = EntityDef("Builder", Seq(
    ColumnDef("id", ColumnType.StringCol),
    ColumnDef("name", ColumnType.StringCol),
    ColumnDef("score", ColumnType.IntegerCol)), Seq("id"), "main")

  /** Serves up to 30 builders whose ids honour id_gt/score_gte filters and
    * first: N — a tiny in-memory "subgraph".
    */
  private final class MiniGraph extends Transport {
    val requests: mutable.Buffer[String] = mutable.Buffer.empty
    private val data = (1 to 30).map(i => (f"0x$i%02x", s"b$i", i))
    def post(endpoint: String, body: String): String = {
      requests += body
      val first = """first: (\d+)""".r.findFirstMatchIn(body).map(_.group(1).toInt)
        .getOrElse(Int.MaxValue)
      val idGt = """id_gt: \\"([^"\\]+)\\"""".r.findFirstMatchIn(body).map(_.group(1))
      val scoreGte = """score_gte: (\d+)""".r.findFirstMatchIn(body).map(_.group(1).toInt)
      val orderBy = """orderBy: (\w+)""".r.findFirstMatchIn(body).map(_.group(1))
      val desc = body.contains("orderDirection: desc")
      val filtered = data
        .filter { case (id, _, _) => idGt.forall(c => id > c) }
        .filter { case (_, _, s) => scoreGte.forall(s >= _) }
      val sorted = orderBy match {
        case Some("score") => if (desc) filtered.sortBy(-_._3) else filtered.sortBy(_._3)
        case Some("name") => if (desc) filtered.sortBy(_._2).reverse else filtered.sortBy(_._2)
        case _ => if (desc) filtered.sortBy(_._1).reverse else filtered.sortBy(_._1)
      }
      val rows = sorted.take(first)
      val wantName = body.contains("name")
      val json = rows.map { case (id, n, s) =>
        val nameField = if (wantName) s""","name": "$n"""" else ""
        s"""{"id": "$id"$nameField, "score": $s}"""
      }.mkString(",")
      s"""{"data": {"builders_0": [$json]}}"""
    }
  }

  private def register(key: String, t: Transport): Unit =
    SubgraphTableProvider.registry(key) = SubgraphTableProvider.Binding(
      SchemaMap(Seq(builder)),
      ProviderConfig("main", "http://x", "sub", "k", maxRowsPerRequest = 10), t)

  private def read(key: String) =
    spark.read.format("graft.sources.SubgraphTableProvider")
      .option("config", key).option("entity", "Builder").load()

  test("schema inference from the entity definition") {
    register("t1", new MiniGraph)
    assert(read("t1").schema.fieldNames.toSeq == Seq("id", "name", "score"))
  }

  test("full scan pages through the keyset (30 rows, pageSize 10)") {
    val g = new MiniGraph
    register("t2", g)
    assert(read("t2").count() == 30)
    assert(g.requests.size >= 3) // 3 full pages (+ the terminating short page)
  }

  test("filter pushdown reaches the GraphQL where clause") {
    val g = new MiniGraph
    register("t3", g)
    import spark.implicits._
    val got = read("t3").filter($"score" >= 25).select("id", "score")
      .as[(String, Int)].collect().sortBy(_._2)
    assert(got.map(_._2).toSeq == (25 to 30))
    assert(g.requests.exists(_.contains("score_gte: 25")))
  }

  test("id > cursor pushdown composes with the keyset walk") {
    val g = new MiniGraph
    register("t4", g)
    import spark.implicits._
    val got = read("t4").filter($"id" > "0x14").select("id").as[String].collect()
    assert(got.length == 10) // ids 0x15..0x1e
    assert(g.requests.head.contains("""id_gt: \"0x14\""""))
  }

  test("column pruning drops unselected fields from the query text") {
    val g = new MiniGraph
    register("t5", g)
    import spark.implicits._
    val ids = read("t5").select("id").as[String].collect()
    assert(ids.length == 30)
    assert(!g.requests.exists(_.contains("name")), "pruned column still requested")
  }

  test("limit pushdown becomes first: N when it fits a page") {
    val g = new MiniGraph
    register("t6", g)
    assert(read("t6").limit(5).count() == 5)
    assert(g.requests.exists(_.contains("first: 5")))
    assert(g.requests.size == 1) // no pagination for a pushed limit
  }

  test("a limit beyond one page stops paging after n rows") {
    val g = new MiniGraph
    register("t6b", g)
    assert(read("t6b").limit(15).count() == 15)
    assert(g.requests.size == 2, s"pageSize 10, limit 15: ${g.requests.size} requests")
  }

  test("TopN pushdown: orderBy+limit becomes one orderBy/orderDirection/first request") {
    val g = new MiniGraph
    register("t8", g)
    import spark.implicits._
    import org.apache.spark.sql.functions.desc
    val got = read("t8").orderBy(desc("score")).limit(5)
      .select("id", "score").as[(String, Int)].collect()
    assert(got.map(_._2).toSeq == Seq(30, 29, 28, 27, 26))
    assert(g.requests.size == 1, "TopN should be ONE request, not a full scan")
    val req = g.requests.head
    assert(req.contains("orderBy: score") && req.contains("orderDirection: desc")
      && req.contains("first: 5"), s"TopN not pushed: $req")
  }

  test("TopN on a string column is NOT pushed (server collation != Spark order)") {
    val g = new MiniGraph
    register("t8s", g)
    import spark.implicits._
    import org.apache.spark.sql.functions.desc
    // name is StringCol: the server's collation could cut a different
    // top-5 set than Spark's binary UTF-8 order, and the local
    // TakeOrdered over 5 returned rows could not repair it — so the
    // claim must be refused and the scan walks the full entity
    read("t8s").orderBy(desc("name")).limit(5).collect()
    assert(!g.requests.exists(_.contains("orderBy: name")),
      s"string TopN wrongly pushed: ${g.requests}")
  }

  test("TopN on a string column IS pushed under the binaryCollation opt-in") {
    val g = new MiniGraph
    register("t8sb", g)
    import spark.implicits._
    import org.apache.spark.sql.functions.desc
    // the caller asserts the server compares strings in byte order (true
    // for ASCII subgraph ids on The Graph) — only then is the server's
    // truncated top-5 the same set Spark's binary UTF-8 sort would keep
    val got = spark.read.format("graft.sources.SubgraphTableProvider")
      .option("config", "t8sb").option("entity", "Builder")
      .option("binaryCollation", "true").load()
      .orderBy(desc("name")).limit(5).select("name").as[String].collect()
    assert(got.toSeq == Seq("b9", "b8", "b7", "b6", "b5"), s"got ${got.toSeq}")
    assert(g.requests.size == 1, "opt-in TopN should be ONE request")
    assert(g.requests.head.contains("orderBy: name")
      && g.requests.head.contains("first: 5"),
      s"string TopN not pushed under opt-in: ${g.requests.head}")
  }

  test("TopN beyond one page is not claimed (falls back to full fetch + local sort)") {
    val g = new MiniGraph
    register("t9", g)
    import spark.implicits._
    import org.apache.spark.sql.functions.desc
    val got = read("t9").orderBy(desc("score")).limit(15)
      .select("score").as[Int].collect()
    assert(got.toSeq == (16 to 30).reverse) // pageSize 10 < 15 -> full scan path
    assert(g.requests.size >= 3)
  }

  // --- pushdown-claim unit tests (ADVICE r01: silent wrong results) ---

  import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan}
  import org.apache.spark.sql.types.StructType

  private def scanBuilder() = new SubgraphScanBuilder("unused", builder,
    new StructType().add("id", "string").add("name", "string").add("score", "int"))

  test("binary literals push down as canonical 0x-hex strings") {
    val bytesEntity = EntityDef("Builder", Seq(
      ColumnDef("id", ColumnType.BytesCol),
      ColumnDef("score", ColumnType.IntegerCol)), Seq("id"), "main")
    val g = new MiniGraph
    SubgraphTableProvider.registry("t7") = SubgraphTableProvider.Binding(
      SchemaMap(Seq(bytesEntity)),
      ProviderConfig("main", "http://x", "sub", "k", maxRowsPerRequest = 10), g)
    import org.apache.spark.sql.functions.{col, lit}
    val got = read("t7").filter(col("id") > lit(SubgraphSource.hexToBytes("0x14")))
      .collect()
    assert(got.length == 10) // ids 0x15..0x1e — NOT an unfiltered scan
    assert(g.requests.head.contains("""id_gt: \"0x14\""""),
      s"binary cursor not hex-encoded in: ${g.requests.head}")
  }

  test("duplicate (column, op) predicates: only one is claimed, the rest stay post-scan") {
    val sb = scanBuilder()
    val dup: Array[Filter] = Array(GreaterThan("id", "0x05"), GreaterThan("id", "0x14"))
    val residual = sb.pushFilters(dup)
    assert(sb.pushedFilters().length == 1, "claimed both colliding id_gt filters")
    assert(residual.length == 1, "dropped a predicate Spark was told is handled")
    assert((sb.pushedFilters() ++ residual).toSet == dup.toSet)
  }

  test("unserializable literals are not claimed (stay post-scan Spark filters)") {
    val sb = scanBuilder()
    val ts = EqualTo("name", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    val residual = sb.pushFilters(Array(ts, EqualTo("id", "0x01")))
    assert(residual.toSeq == Seq(ts))
    assert(sb.pushedFilters().toSeq == Seq(EqualTo("id", "0x01")))
  }
}
