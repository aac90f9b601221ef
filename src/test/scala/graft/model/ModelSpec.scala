package graft.model

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Entity model + YAML config — mirrors src/context/schema.test.ts
  * (composite PKs, arrays, nullables, duplicates) and
  * src/handlers/types.test.ts (type mapping).
  */
class ModelSpec extends AnyFunSuite {

  test("ColumnType.parse: scalars, arrays, references") {
    assert(ColumnType.parse("BigInt") == ColumnType.BigIntCol)
    assert(ColumnType.parse("[String]") == ColumnType.ArrayCol(ColumnType.StringCol))
    assert(ColumnType.parse("[Bytes]") == ColumnType.ArrayCol(ColumnType.BytesCol))
    assert(ColumnType.parse("Builder") == ColumnType.Reference("Builder"))
  }

  test("type mapping matches the SURVEY §1.2 policy") {
    assert(ColumnType.BigIntCol.sparkType == DecimalType(38, 0))
    assert(ColumnType.BytesCol.sparkType == BinaryType)
    assert(ColumnType.parse("[BigInt]").sparkType
      == ArrayType(DecimalType(38, 0), containsNull = false))
  }

  private val builder = EntityDef("Builder", Seq(
    ColumnDef("id", ColumnType.BytesCol),
    ColumnDef("name", ColumnType.StringCol, nullable = true)), Seq("id"), "main")

  test("structType: scalars with per-column nullability") {
    val sm = SchemaMap(Seq(builder))
    assert(sm.structTypeOf("Builder") == StructType(Seq(
      StructField("id", BinaryType, nullable = false),
      StructField("name", StringType, nullable = true))))
  }

  test("structType: single-PK reference resolves to referenced PK type") {
    val prop = EntityDef("Proposal", Seq(
      ColumnDef("id", ColumnType.StringCol),
      ColumnDef("builder", ColumnType.Reference("Builder"))), Seq("id"), "main")
    val sm = SchemaMap(Seq(builder, prop))
    assert(sm.structTypeOf("Proposal")("builder").dataType == BinaryType)
  }

  test("structType: composite-PK reference expands to col_<pk> columns") {
    val comp = EntityDef("Comp", Seq(
      ColumnDef("a", ColumnType.StringCol),
      ColumnDef("b", ColumnType.IntegerCol)), Seq("a", "b"), "main")
    val refing = EntityDef("R", Seq(
      ColumnDef("id", ColumnType.StringCol),
      ColumnDef("target", ColumnType.Reference("Comp"))), Seq("id"), "main")
    val sm = SchemaMap(Seq(comp, refing))
    val st = sm.structTypeOf("R")
    assert(st.fieldNames.toSeq == Seq("id", "target_a", "target_b"))
    assert(st("target_a").dataType == StringType)
    assert(st("target_b").dataType == IntegerType)
  }

  test("validate: nullable PK and unknown FK target rejected") {
    val bad = EntityDef("Bad", Seq(
      ColumnDef("id", ColumnType.StringCol, nullable = true),
      ColumnDef("ref", ColumnType.Reference("Nope"))), Seq("id", "missing"), "main")
    val issues = SchemaMap(Seq(bad)).validate()
    assert(issues.exists(_.contains("missing not defined")))
    assert(issues.exists(_.contains("must not be nullable")))
    assert(issues.exists(_.contains("unknown referenced entity Nope")))
  }

  test("validate: arrays of entity references are rejected readably") {
    val bad = EntityDef("Bad", Seq(
      ColumnDef("id", ColumnType.StringCol),
      ColumnDef("tags", ColumnType.ArrayCol(ColumnType.Reference("Bad")))),
      Seq("id"), "main")
    // parse-time must not throw (lazy sparkType); validate reports it
    val issues = SchemaMap(Seq(bad)).validate()
    assert(issues.exists(_.contains("arrays of entity references")))
  }

  test("reference cycles fail with a readable error, not a StackOverflow") {
    val a = EntityDef("A", Seq(
      ColumnDef("id", ColumnType.Reference("B"))), Seq("id"), "main")
    val b = EntityDef("B", Seq(
      ColumnDef("id", ColumnType.Reference("A"))), Seq("id"), "main")
    val m = SchemaMap(Seq(a, b))
    val e = intercept[IllegalArgumentException] { m.structTypeOf("A") }
    assert(e.getMessage.contains("cycle"))
  }

  test("wireIssues flags references to non-[id]-PK targets") {
    val target = EntityDef("Composite", Seq(
      ColumnDef("a", ColumnType.StringCol),
      ColumnDef("b", ColumnType.StringCol)), Seq("a", "b"), "main")
    val src = EntityDef("Src", Seq(
      ColumnDef("id", ColumnType.StringCol),
      ColumnDef("ref", ColumnType.Reference("Composite"))), Seq("id"), "main")
    val ok = EntityDef("Ok", Seq(
      ColumnDef("id", ColumnType.StringCol),
      ColumnDef("ref", ColumnType.Reference("Src"))), Seq("id"), "main")
    val m = SchemaMap(Seq(target, src, ok))
    assert(m.wireIssues("Src").exists(_.contains("not [id]")))
    assert(m.wireIssues("Ok").isEmpty)
  }

  test("duplicate entity names: last wins") {
    val v1 = builder
    val v2 = builder.copy(columns = Seq(ColumnDef("id", ColumnType.StringCol)))
    assert(SchemaMap(Seq(v1, v2))("Builder").columns.size == 1)
  }

  test("ConfigLoader parses the full YAML shape") {
    val cfg = ConfigLoader.load(
      """database:   { batchSize: 100, maxRetries: 1, initialRetryDelay: 100 }
        |blockchain: { network: testnet, blockIntervalThreshold: 1 }
        |subgraphProviders:
        |  collective-rewards: { url: "http://localhost:8000", maxRowsPerRequest: 10, id: test-cr, apiKey: test-key }
        |entities:
        |  - name: BlockChangeLog
        |    primaryKey: [id]
        |    subgraphProvider: collective-rewards
        |    columns:
        |      - { name: id, type: Bytes }
        |      - { name: blockNumber, type: BigInt }
        |      - { name: updatedEntities, type: "[String]" }
        |  - name: Backer
        |    subgraphProvider: collective-rewards
        |    columns:
        |      - { name: id, type: Bytes }
        |      - { name: totalAllocation, type: BigInt, nullable: true }
        |""".stripMargin)
    assert(cfg.database.batchSize == 100)
    assert(cfg.blockchain.blockIntervalThreshold == 1)
    assert(cfg.providers("collective-rewards").maxRowsPerRequest == 10)
    val bcl = cfg.schema("BlockChangeLog")
    assert(bcl.column("updatedEntities").get.tpe
      == ColumnType.ArrayCol(ColumnType.StringCol))
    assert(cfg.schema("Backer").primaryKey == Seq("id")) // default PK
    assert(cfg.schema("Backer").column("totalAllocation").get.nullable)
  }

  test("ConfigLoader rejects invalid schemas") {
    assertThrows[IllegalArgumentException](ConfigLoader.load(
      """entities:
        |  - name: X
        |    primaryKey: [id]
        |    columns: [{ name: ref, type: Missing }, { name: id, type: String }]
        |""".stripMargin))
  }

  test("ConfigLoader rejects non-positive batch and page sizes, naming the key") {
    def load(batch: Int, page: Int) = ConfigLoader.load(
      s"""database: { batchSize: $batch }
         |subgraphProviders:
         |  main: { url: "http://x", maxRowsPerRequest: $page, id: s, apiKey: k }
         |""".stripMargin)
    assert(load(1, 1).database.batchSize == 1)
    val batch = intercept[IllegalArgumentException](load(0, 10))
    assert(batch.getMessage.contains("database.batchSize must be positive, got 0"))
    val page = intercept[IllegalArgumentException](load(10, -1))
    assert(page.getMessage.contains(
      "subgraphProviders.main.maxRowsPerRequest must be positive, got -1"))
  }
}
