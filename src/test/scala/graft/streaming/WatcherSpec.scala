package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import graft.SparkSpec
import graft.sink.UpsertSink

/** Streaming control-loop semantics (T1-T8) with a mock chain. */
class WatcherSpec extends SparkSpec {

  import spark.implicits._

  private final class FakeChain(var head: BigInt,
      hashes: BigInt => String = n => s"0x$n",
      states: Map[String, Int] = Map.empty) extends BlockSource {
    def latest(): Block = Block(head, hashes(head), head * 10)
    def hashAt(number: BigInt): String = hashes(number)
    def blockAt(number: BigInt): Block = Block(number, hashes(number), number * 10)
    def multicall(ids: Seq[String]): Map[String, Int] =
      ids.flatMap(id => states.get(id).map(id -> _)).toMap
  }

  test("throttle: runs only every `threshold` blocks, tracking last processed") {
    val t = new Throttle(3)
    assert(t.tryAcquire(100)) // first block always runs
    assert(!t.tryAcquire(101))
    assert(!t.tryAcquire(102))
    assert(t.tryAcquire(103)) // 100 + 3
    assert(!t.tryAcquire(105))
    assert(t.tryAcquire(106))
    assert(t.lastProcessed == BigInt(106))
  }

  test("throttle: processing block 0 does not re-open the gate") {
    val t = new Throttle(3)
    assert(t.tryAcquire(0)) // genesis is a legitimate first block
    assert(!t.tryAcquire(1)) // the old ==0 sentinel let every block through
    assert(!t.tryAcquire(2))
    assert(t.tryAcquire(3))
  }

  test("watcher: processing block 0 does not reset lastSeen (no skipped blocks)") {
    val chain = new FakeChain(BigInt(0))
    val seen = mutable.Buffer.empty[BigInt]
    val w = new BlockWatcher(chain, Seq(new Strategy {
      val name = "rec"
      def onBlock(b: Block): Unit = seen += b.number
    }))
    assert(w.runOnce().map(_.number) == Seq(BigInt(0)))
    chain.head = BigInt(5) // blocks 1-4 mined between polls
    // the old ==0 sentinel re-initialized here and silently skipped 1-4
    assert(w.runOnce().map(_.number) == (1 to 5).map(BigInt(_)))
    assert(seen.toSeq == (0 to 5).map(BigInt(_)))
  }

  test("watcher: caught-up blocks carry their OWN header, not the head's") {
    val chain = new BlockSource {
      var head: BigInt = BigInt(2)
      def latest(): Block = Block(head, s"0x$head", head * 10)
      def hashAt(number: BigInt): String = s"0x$number"
      override def blockAt(number: BigInt): Block =
        Block(number, hashAt(number), number * 10)
      def multicall(ids: Seq[String]): Map[String, Int] = Map.empty
    }
    val w = new BlockWatcher(chain, Seq.empty)
    w.runOnce()
    chain.head = BigInt(5)
    val blocks = w.runOnce()
    // blocks 3,4 come from blockAt (their own timestamp); 5 is the head
    assert(blocks.map(b => (b.number, b.timestamp)) ==
      Seq((BigInt(3), BigInt(30)), (BigInt(4), BigInt(40)), (BigInt(5), BigInt(50))))
  }

  test("watcher catches up missed blocks in order (emitMissed)") {
    val chain = new FakeChain(BigInt(5))
    val seen = mutable.Buffer.empty[BigInt]
    val w = new BlockWatcher(chain, Seq(new Strategy {
      val name = "rec"
      def onBlock(b: Block): Unit = seen += b.number
    }))
    assert(w.runOnce().map(_.number) == Seq(BigInt(5)))
    chain.head = BigInt(8) // three blocks arrive between polls
    assert(w.runOnce().map(_.number) == Seq(BigInt(6), BigInt(7), BigInt(8)))
    assert(seen.toSeq == Seq(5, 6, 7, 8).map(BigInt(_)))
  }

  test("watcher isolates strategy errors (one failing strategy doesn't stop others)") {
    val chain = new FakeChain(BigInt(1))
    val seen = mutable.Buffer.empty[BigInt]
    val w = new BlockWatcher(chain, Seq(
      new Strategy { val name = "boom"; def onBlock(b: Block): Unit = sys.error("x") },
      new Strategy { val name = "ok"; def onBlock(b: Block): Unit = seen += b.number }))
    w.runOnce()
    assert(seen.nonEmpty)
    assert(w.errors.contains("boom"))
  }

  test("high-water mark from sink contents; empty table -> 0") {
    val df = Seq((1L, BigDecimal(100)), (2L, BigDecimal(250)))
      .toDF("id", "blockNumber")
    assert(HighWaterMark.of(df, "blockNumber") == BigInt(250))
    assert(HighWaterMark.of(df.filter($"id" > 99), "blockNumber") == BigInt(0))
  }

  test("change log: distinct updated entities since block, schema-filtered") {
    val log = Seq(
      ("0xa", BigDecimal(10), Seq("Builder", "Backer")),
      ("0xb", BigDecimal(20), Seq("Backer", "Ghost")),
      ("0xc", BigDecimal(30), Seq("Cycle"))
    ).toDF("id", "blockNumber", "updatedEntities")
    val changed = ChangeLog.changedEntities(log, BigInt(10),
      known = Set("Builder", "Backer", "Cycle"))
    assert(changed == Set("Backer", "Cycle")) // >10 only; Ghost dropped
    assert(ChangeLog.headUnchanged("0xc", Some("0xc")))
    assert(!ChangeLog.headUnchanged("0xa", Some("0xc")))
  }

  test("reorg guard: hash mismatch triggers rebuild + atomic swap") {
    val sink = new UpsertSink(spark, Files.createTempDirectory("graft_reorg").toString)
    sink.overwrite("t", Seq((1L, "stale")).toDF("id", "v"))
    val chain = new FakeChain(BigInt(100), hashes = n => s"0xNEW$n")
    val guard = new ReorgGuard(chain, sink)
    var rebuilt = false
    val fired = guard.check(Some(Block(BigInt(90), "0xOLD90", BigInt(0)))) { () =>
      rebuilt = true
      Map("t" -> Seq((1L, "fresh")).toDF("id", "v"))
    }
    assert(fired && rebuilt)
    assert(sink.read("t").as[(Long, String)].collect().toSeq == Seq((1L, "fresh")))
    // matching hash -> no rebuild
    assert(!guard.check(Some(Block(BigInt(90), "0xNEW90", BigInt(0)))) { () =>
      fail("must not rebuild")
    })
  }

  test("reorg rebuild keeps the keyed layout: the next one-key merge rewrites one bucket") {
    val root = Files.createTempDirectory("graft_reorg_keyed")
    val sink = new UpsertSink(spark, root.toString, numBuckets = 8)
    sink.merge("t", (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    sink.merge("u", (1L to 10L).map(i => (i, i)).toDF("id", "n"), Seq("id"))
    val chain = new FakeChain(BigInt(100), hashes = n => s"0xNEW$n")
    // the rebuild hands over frames without keys, as a re-sync does
    assert(new ReorgGuard(chain, sink).check(
        Some(Block(BigInt(90), "0xOLD90", BigInt(0)))) { () =>
      Map("t" -> (1L to 100L).map(i => (i, s"r$i")).toDF("id", "v"),
        "u" -> (1L to 10L).map(i => (i, -i)).toDF("id", "n"))
    })
    assert(sink.read("u").filter($"n" < 0).count() == 10L)
    def files(): Map[String, Long] = {
      val s = Files.walk(root.resolve("t"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(p => root.resolve("t").relativize(p).toString -> Files.size(p)).toMap
      } finally s.close()
    }
    val before = files()
    sink.merge("t", Seq((42L, "changed")).toDF("id", "v"), Seq("id"))
    val after = files()
    val changedBuckets = ((before.keySet -- after.keySet) ++ (after.keySet -- before.keySet))
      .map(_.takeWhile(_ != '/'))
    assert(changedBuckets.size == 1 && changedBuckets.head.startsWith("__bucket="),
      s"a one-key merge after the rebuild rewrote: $changedBuckets")
    assert(sink.read("t").filter($"id" === 42L).select("v").as[String].collect()
      .toSeq == Seq("changed"))
  }

  test("state reconcile on the production Proposal schema: binary ids match the chain's 0x-hex keys") {
    import java.nio.file.Paths
    import org.apache.spark.sql.functions.{col, lit}
    val cfg = graft.model.ConfigLoader.load(
      Files.readString(Paths.get("config/entities.yml")))
    val struct = cfg.schema.structTypeOf("Proposal")
    assert(struct("id").dataType == org.apache.spark.sql.types.BinaryType)
    def row(id: Array[Byte]) = org.apache.spark.sql.Row.fromSeq(
      struct.fields.toSeq.map(f => f.name match {
        case "id" => id
        case "rawState" => 1
        case "state" => "Active"
        case _ => null
      }))
    val proposals = spark.createDataFrame(java.util.Arrays.asList(
        row(Array(0x0a, 0xbc).map(_.toByte)), row(Array(0x01.toByte))),
      org.apache.spark.sql.types.StructType(struct.fields.map(_.copy(nullable = true))))
    val sink = new UpsertSink(spark, Files.createTempDirectory("graft_reconcile").toString)
    sink.merge("Proposal", proposals, Seq("id"))
    // the chain keys by 0x-hex (any case): 0x0ABC changes, 0x01 agrees
    val updates = StateReconcile.reconcile(spark, sink.read("Proposal"),
      Map("0x0ABC" -> 7, "0x01" -> 1))
    assert(updates.schema("id").dataType == org.apache.spark.sql.types.BinaryType)
    sink.merge("Proposal", updates, Seq("id"))
    val states = sink.read("Proposal")
      .select(org.apache.spark.sql.functions.hex(col("id")), col("state"), col("rawState"))
      .as[(String, String, Int)].collect().sortBy(_._1).toSeq
    assert(states == Seq(("01", "Active", 1), ("0ABC", "Executed", 7)))
  }

  test("state reconcile: only mutable rows whose chain state differs, decoded") {
    val proposals = Seq(
      ("p1", 0, "Pending"),   // chain says 7 -> update to Executed
      ("p2", 1, "Active"),    // chain agrees -> drop
      ("p3", 2, "Canceled"),  // immutable state -> never queried
      ("p4", 5, "Queued")     // chain says 4 -> update to Succeeded
    ).toDF("id", "rawState", "state")
    val updates = StateReconcile.reconcile(spark, proposals,
        Map("p1" -> 7, "p2" -> 1, "p3" -> 3, "p4" -> 4))
      .select("id", "rawState", "state").as[(String, Int, String)]
      .collect().sortBy(_._1)
    assert(updates.toSeq == Seq(("p1", 7, "Executed"), ("p4", 4, "Succeeded")))
  }
}
