package graft.sync

import java.nio.file.Files

import scala.collection.mutable

import graft.SparkSpec
import graft.model.ConfigLoader
import graft.sink.UpsertSink
import graft.sources.Transport

/** End-to-end batch sync over a mock subgraph: config -> paginated fetch
  * -> FK flatten -> PK merge (the §3.1 lifecycle).
  */
class SyncerSpec extends SparkSpec {

  private val yaml =
    """database:   { batchSize: 100, maxRetries: 1, initialRetryDelay: 1 }
      |subgraphProviders:
      |  main: { url: "http://x", maxRowsPerRequest: 2, id: sub, apiKey: k }
      |entities:
      |  - name: Builder
      |    primaryKey: [id]
      |    subgraphProvider: main
      |    columns:
      |      - { name: id, type: String }
      |      - { name: totalAllocation, type: BigInt }
      |  - name: Proposal
      |    primaryKey: [id]
      |    subgraphProvider: main
      |    columns:
      |      - { name: id, type: String }
      |      - { name: builder, type: Builder }
      |  - name: LastProcessedBlock
      |    primaryKey: [id]
      |    subgraphProvider: main
      |    columns: [{ name: id, type: Boolean }]
      |""".stripMargin

  /** Mock subgraph: serves builders (3 rows -> 2 pages at pageSize 2) and
    * proposals with nested FK objects; answers EVERY alias present in the
    * (possibly batched) document under its own alias key, and records
    * every request body.
    */
  private final class FakeSubgraph(onBuilderPage2: () => Unit = () => ())
      extends Transport {
    val requests: mutable.Buffer[String] = mutable.Buffer.empty
    private val alias = """(builders|proposals|widgets)_(\d+)""".r
    def post(endpoint: String, body: String): String = {
      requests += body
      val parts = alias.findAllMatchIn(body).map { m =>
        val payload = m.group(1) match {
          case "builders" =>
            if (body.contains("""id_gt: \"b2\"""")) {
              onBuilderPage2()
              """[{"id": "b3", "totalAllocation": "3"}]"""
            }
            else
              """[{"id": "b1", "totalAllocation": "1000000000000000000"},
                |{"id": "b2", "totalAllocation": "2000000000000000000"}]""".stripMargin
          case "proposals" =>
            // exactly pageSize rows on page 1 -> the syncer MUST request
            // a follow-up page; serve it empty (short page ends the loop)
            if (body.contains("""id_gt: \"p2\""""))
              "[]"
            else
              """[{"id": "p1", "builder": {"id": "b1"}, "ignored": 1},
                |{"id": "p2", "builder": {"id": "b3"}}]""".stripMargin
          case "widgets" => """[{"id": "w1", "name": "widget one"}]"""
        }
        s""""${m.matched}": $payload"""
      }.mkString(",")
      s"""{"data": {$parts}}"""
    }
  }

  test("syncAll: pages, flattens, merges every entity except LastProcessedBlock") {
    import spark.implicits._
    val cfg = ConfigLoader.load(yaml)
    val sink = new UpsertSink(spark, Files.createTempDirectory("graft_sync").toString)
    val transport = new FakeSubgraph
    val syncer = new Syncer(spark, cfg, transport, sink)

    val counts = syncer.syncAll()
    assert(counts == Map("Builder" -> 3L, "Proposal" -> 2L))
    assert(!sink.exists("LastProcessedBlock"))

    val builders = sink.read("Builder").select("id", "totalAllocation")
      .as[(String, BigDecimal)].collect().sortBy(_._1)
    assert(builders.map(_._1).toSeq == Seq("b1", "b2", "b3"))
    assert(builders.head._2 == BigDecimal("1000000000000000000"))

    val proposals = sink.read("Proposal").as[(String, String)]
      .collect().sortBy(_._1)
    assert(proposals.toSeq == Seq(("p1", "b1"), ("p2", "b3"))) // FK flattened

    // G2: the first request batches BOTH entities into one document
    assert(transport.requests.head.contains("builders_0")
      && transport.requests.head.contains("proposals_1"))
    // keyset pagination: builders took 2 requests (batched first page,
    // then the single-entity continuation)
    assert(transport.requests.count(_.contains("builders_0")) == 2)
  }

  test("syncAll with several providers syncs each one's disjoint tables") {
    val multiYaml =
      """database:   { batchSize: 100, maxRetries: 1, initialRetryDelay: 1 }
        |subgraphProviders:
        |  main:  { url: "http://x", maxRowsPerRequest: 2, id: sub, apiKey: k }
        |  other: { url: "http://y", maxRowsPerRequest: 2, id: sub2, apiKey: k2 }
        |entities:
        |  - name: Builder
        |    primaryKey: [id]
        |    subgraphProvider: main
        |    columns:
        |      - { name: id, type: String }
        |      - { name: totalAllocation, type: BigInt }
        |  - name: Widget
        |    primaryKey: [id]
        |    subgraphProvider: other
        |    columns:
        |      - { name: id, type: String }
        |      - { name: name, type: String }
        |""".stripMargin
    val cfg = ConfigLoader.load(multiYaml)
    val sink = new UpsertSink(spark, Files.createTempDirectory("graft_multi").toString)
    val transport = new FakeSubgraph
    val counts = new Syncer(spark, cfg, transport, sink).syncAll(parallelism = 2)
    assert(counts == Map("Builder" -> 3L, "Widget" -> 1L))
    assert(sink.read("Widget").count() == 1)
    assert(sink.read("Builder").count() == 3)
  }

  test("re-running sync is idempotent; selective sync filters by change set") {
    val cfg = ConfigLoader.load(yaml)
    val sink = new UpsertSink(spark, Files.createTempDirectory("graft_sync2").toString)
    val syncer = new Syncer(spark, cfg, new FakeSubgraph, sink)
    syncer.syncAll()
    syncer.syncAll()
    assert(sink.read("Builder").count() == 3)

    val transport = new FakeSubgraph
    val syncer2 = new Syncer(spark, cfg, transport,
      new UpsertSink(spark, Files.createTempDirectory("graft_sync3").toString))
    val counts = syncer2.syncChanged(Set("Proposal"), BigInt(12345))
    assert(counts.keySet == Set("Proposal"))
    // incremental predicate pushed into the generated query (P4)
    assert(transport.requests.exists(r =>
      r.contains("_change_block") && r.contains("number_gte: 12345")))
  }

  test("syncAll merges database.batchSize-row chunks as the pages arrive") {
    import spark.implicits._
    val cfg = ConfigLoader.load(yaml.replace("batchSize: 100", "batchSize: 2"))
    val sink = new UpsertSink(spark, Files.createTempDirectory("graft_chunks").toString)
    // Builder rows visible in the sink when its second page is requested
    var seenAtPage2: Option[Long] = None
    val transport = new FakeSubgraph(() =>
      seenAtPage2 = Some(if (sink.exists("Builder")) sink.read("Builder").count() else 0L))
    val counts = new Syncer(spark, cfg, transport, sink).syncAll()
    assert(seenAtPage2.contains(2L), s"first chunk not merged before page 2: $seenAtPage2")
    assert(counts == Map("Builder" -> 3L, "Proposal" -> 2L))
    val builders = sink.read("Builder").select("id", "totalAllocation")
      .as[(String, BigDecimal)].collect().sortBy(_._1)
    assert(builders.toSeq == Seq("b1" -> BigDecimal("1000000000000000000"),
      "b2" -> BigDecimal("2000000000000000000"), "b3" -> BigDecimal(3)))
    assert(sink.read("Proposal").as[(String, String)].collect().sortBy(_._1).toSeq
      == Seq(("p1", "b1"), ("p2", "b3")))
  }

  test("syncChanged sends the first pages of all named entities in ONE request") {
    val cfg = ConfigLoader.load(yaml)
    val transport = new FakeSubgraph
    val counts = new Syncer(spark, cfg, transport,
      new UpsertSink(spark, Files.createTempDirectory("graft_changed").toString))
      .syncChanged(Set("Builder", "Proposal"), BigInt(7))
    assert(counts == Map("Builder" -> 3L, "Proposal" -> 2L))
    val firsts = transport.requests.filterNot(_.contains("id_gt"))
    assert(firsts.size == 1, s"first pages in ${firsts.size} requests")
    assert(firsts.head.contains("builders_") && firsts.head.contains("proposals_")
      && firsts.head.contains("number_gte: 7"))
  }

  test("syncAll checks every entity before any request and writes nothing on a bad one") {
    val bad =
      """database:   { batchSize: 100, maxRetries: 1, initialRetryDelay: 1 }
        |subgraphProviders:
        |  main: { url: "http://x", maxRowsPerRequest: 2, id: sub, apiKey: k }
        |entities:
        |  - name: Builder
        |    primaryKey: [id]
        |    subgraphProvider: main
        |    columns:
        |      - { name: id, type: String }
        |      - { name: totalAllocation, type: BigInt }
        |  - name: Stake
        |    primaryKey: [owner, epoch]
        |    subgraphProvider: main
        |    columns:
        |      - { name: owner, type: String }
        |      - { name: epoch, type: Integer }
        |  - name: Claim
        |    primaryKey: [id]
        |    subgraphProvider: main
        |    columns:
        |      - { name: id, type: String }
        |      - { name: stake, type: Stake }
        |""".stripMargin
    val unknownProvider = yaml.replace(
      "  - name: Proposal\n    primaryKey: [id]\n    subgraphProvider: main",
      "  - name: Proposal\n    primaryKey: [id]\n    subgraphProvider: nowhere")
    for ((cfgYaml, expected) <- Seq(bad -> "Claim.stake",
        unknownProvider -> "Proposal: unknown provider nowhere")) {
      val sink = new UpsertSink(spark, Files.createTempDirectory("graft_bad").toString)
      val transport = new FakeSubgraph
      val e = intercept[IllegalArgumentException] {
        new Syncer(spark, ConfigLoader.load(cfgYaml), transport, sink).syncAll()
      }
      assert(e.getMessage.contains(expected), e.getMessage)
      assert(transport.requests.isEmpty)
      assert(Seq("Builder", "Stake", "Claim", "Proposal").forall(t => !sink.exists(t)))
    }
  }
}
