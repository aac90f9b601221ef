package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.model.ConfigLoader
import graft.sources.SubgraphSource

/** The benchmark's own tests: simulator pagination, the tail rule, span
  * self time, digests, the checks' rejection of a corrupted result, and
  * agreement of the reported metric names with BENCHMARK.json. Plain
  * assertions, no Spark session; exits non-zero on the first failure.
  *
  *   perfbench.SelfTest --benchmark BENCHMARK.json
  * (run through `python3 perfbench/run.py --self-test`)
  */
object SelfTest {
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit = {
    try body
    catch {
      case e: Throwable =>
        println(s"FAIL $name: $e")
        System.exit(1)
    }
    passed += 1
    println(s"PASS $name")
  }

  private def expectThrows(body: => Any): Unit = {
    val threw = try { body; false } catch { case _: Exception => true }
    assert(threw, "expected an exception")
  }

  def main(args: Array[String]): Unit = {
    val benchmark = args.sliding(2).collectFirst { case Array("--benchmark", p) => p }
      .getOrElse(sys.error("--benchmark <BENCHMARK.json> is required"))
    val production = ConfigLoader.load(Files.readString(Paths.get("config/entities.yml")))
    val config = Main.benchConfig(production)
    val sizes = Sizes(2503, 40, 3) // history tables span three 1000-row pages

    test("same seed gives the same world; another seed another") {
      val a = new World(config, sizes, 7); a.populate(1)
      val b = new World(config, sizes, 7); b.populate(1)
      val c = new World(config, sizes, 8); c.populate(1)
      assert(a.digest == b.digest)
      assert(a.digest != c.digest)
    }

    val world = new World(config, sizes, 7)
    world.populate(1)
    val sim = new SubgraphSim(world)
    val log = config.schema("BlockChangeLog")
    val source = new SubgraphSource(config.providers("collective-rewards"), sim)

    test("keyset pagination returns every row once, in id order") {
      sim.counters.reset()
      val rows = source.fetchAll(log)
      val ids = rows.map(_("id").asInstanceOf[String])
      assert(ids == world.tables("BlockChangeLog").keySet.asScala.toSeq)
      assert(ids.distinct.size == 2503)
      assert(sim.counters.requests.get == 3, s"${sim.counters.requests.get} requests")
      assert(sim.counters.rows.get == 2503)
    }

    test("first and id_gt bound a page; ids are fixed-width hex") {
      val t = world.tables("BlockChangeLog")
      val third = t.keySet.asScala.toVector(2)
      val page = sim.page(log, Map("first" -> BigDecimal(5), "where" -> Map("id_gt" -> third)))
      val want = t.keySet.asScala.toVector.slice(3, 8)
      assert(page.map(_.id) == want, s"${page.map(_.id)} vs $want")
      assert(t.keySet.asScala.forall(id => id.length == 18 && id == id.toLowerCase))
    }

    test("_change_block.number_gte serves only rows changed since the block") {
      val w = new World(config, sizes, 7); w.populate(1)
      val s = new SubgraphSim(w)
      val chain = new ChainSim(w, 100, 7, changed = 1)
      chain.advance()
      val since = new SubgraphSource(config.providers("collective-rewards"), s)
        .fetchAll(log, Map("_change_block" -> Map("number_gte" -> BigInt(101))))
      assert(since.size == 1, s"${since.size} change-log rows at block 101")
      assert(since.head("blockNumber").toString == "101")
    }

    test("a reorg drops the orphaned blocks' changes and rehashes them") {
      val w = new World(config, sizes, 7); w.populate(1)
      val before = w.digest
      val chain = new ChainSim(w, 100, 7, changed = 1)
      val h101 = { chain.advance(); chain.hashAt(101) }
      chain.advance()
      val touched = chain.reorg(2)
      assert(w.digest == before, "orphaned changes must leave the subgraph")
      assert(chain.hashAt(101) != h101)
      assert(touched.contains("BlockChangeLog") && touched.contains("Proposal"))
    }

    test("unsupported filters fail loudly") {
      expectThrows(sim.page(log, Map("where" -> Map("blockNumber_gt" -> BigDecimal(1)))))
      expectThrows(sim.page(log, Map("orderBy" -> "blockNumber")))
      expectThrows(MiniGraphQL.parse("query { broken"))
    }

    test("tail rule: highest percentile with at least 10 samples beyond") {
      def xs(n: Int) = (1 to n).map(_.toDouble)
      assert(Stats.tail(xs(5)).isEmpty)
      assert(Stats.tail(xs(10)).isEmpty)
      assert(Stats.tail(xs(20)).contains(50.0 -> 10.0))
      assert(Stats.tail(xs(100)).contains(90.0 -> 90.0))
      assert(Stats.tail(xs(1000)).contains(99.0 -> 990.0))
      assert(Stats.tail(xs(19) :+ Double.PositiveInfinity).contains(50.0 -> 10.0))
      assert(Stats.percentile(xs(4) :+ Double.PositiveInfinity, 100).isInfinite,
        "a failed op lands beyond every latency limit")
    }

    test("self time subtracts the union of overlapping children and jobs") {
      val parent = Span(1, 0, "sync", "syncAll", 0, 100, 1)
      val c1 = Span(2, 1, "upstream", "post", 10, 30, 1)
      val c2 = Span(3, 1, "upstream", "post", 20, 50, 1) // overlaps c1
      val job = Job(0, 1, "sink:swap:T", 40, 70) // overlaps c2
      val stray = Job(1, 0, "", 90, 120) // untagged, past the window
      val r = new LayerReport(Seq(parent, c1, c2), Seq(job, stray), 0, 110)
      assert(r.selfNs(parent) == 40, s"${r.selfNs(parent)}")
      assert(r.selfNs(c1) == 20)
      assert(r.jobBusyNs == 50)
      assert(r.unattributedNs == 0) // the stray job covers the window past the span
      assert(r.jobsUnder("sync", Set("syncAll")) == 1)
    }

    test("spans opened on pool threads nest under the submitting span") {
      Trace.clear()
      Trace.start(None, 1)
      Trace.span("sync", "syncAll") {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        try {
          val fs = (0 until 2).map(_ => pool.submit(new Runnable {
            def run(): Unit = Trace.span("upstream", "post")(Thread.sleep(5))
          }))
          fs.foreach(_.get())
        } finally pool.shutdown()
      }
      Trace.stop()
      val spans = Trace.spans
      val outer = spans.find(_.name == "syncAll").get
      val inner = spans.filter(_.name == "post")
      assert(inner.size == 2 && inner.forall(_.parent == outer.id))
      val r = new LayerReport(spans, Nil, outer.start, outer.end)
      assert(r.selfNs(outer) <= outer.dur - Intervals.union(inner.map(s => (s.start, s.end))))
      Trace.clear()
    }

    test("canonical form is the same from the wire and from Spark values") {
      val hex = "0x00ff10"
      assert(World.canonicalValue(SubgraphSource.hexToBytes(hex)) == hex)
      assert(World.canonicalValue(new java.math.BigDecimal("123")) == BigInt(123).toString)
      assert(World.canonicalValue(Seq(SubgraphSource.hexToBytes("0x01"))) == "[0x01]")
      assert(World.canonicalValue(null) != World.canonicalValue(""))
    }

    test("the check rejects one dropped or one altered row") {
      val want = world.canonical("Proposal")
      assert(Sinks.diff("Proposal", want, want).isEmpty)
      assert(Sinks.diff("Proposal", want.tail, want).nonEmpty)
      val altered = (want.head.dropRight(1) + "x") +: want.tail
      assert(Sinks.diff("Proposal", altered.sorted, want).nonEmpty)
      assert(Sinks.diff("Proposal", (want :+ want.head).sorted, want).nonEmpty)
    }

    test("every sink job label falls in one kind of the split") {
      val kinds = Seq("sink:overwrite:.shadow-1", "sink:merge:touched:Proposal",
        "sink:mergeMany:touched:bm25_postings,bm25_docs", "sink:erase:touched:bm25_docs",
        "sink:swap:Proposal", "sink:keybuckets:Proposal", "sink:inferschema:Proposal",
        "sink:compact:Proposal").map(Layers.sinkKind)
      assert(kinds == Layers.SinkKinds.map(Some(_)), s"$kinds")
      assert(Layers.sinkKind("perfbench:cal").isEmpty)
    }

    test("metric names agree with BENCHMARK.json") {
      val b = new ObjectMapper().readTree(Files.readString(Paths.get(benchmark)))
      def names(key: String) = b.get(key).elements().asScala
        .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
      assert(names("end_to_end") == Main.EndToEnd, s"end_to_end ${names("end_to_end")}")
      val t = TracedWindow(0, 1, Nil, Nil, Map.empty)
      val o = Outcome(1.0, Seq(1.0), 1, 1, 1, 0, Nil, Nil, "", "",
        Paths.get("missing"), None, Some(t))
      val layer = Layers.metrics(t, o, 1, 1).map(m => m._1 -> m._3)
      assert(names("per_layer") == layer,
        s"per_layer differs: ${names("per_layer").diff(layer)} vs ${layer.diff(names("per_layer"))}")
      val workloads = b.get("workloads").elements().asScala.map(_.get("name").asText).toSet
      assert(workloads.subsetOf(Main.Workloads.keySet))
    }

    println(s"$passed tests passed")
  }
}
