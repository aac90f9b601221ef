package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, expr, hex, lit, lower, unhex}

import graft.model.GraftConfig
import graft.ops.{EraseOps, SearchOps}
import graft.sink.UpsertSink
import graft.sources.SubgraphSource
import graft.streaming.{Block, BlockWatcher, ChangeLog, ReorgGuard, StateReconcile, Strategy}
import graft.sync.Syncer

/** One correctness check's verdict. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload hands back to [[Main]]. `setupS` is the time (s) to
  * build the seed state; `samples` are per-op latencies in ms (+Infinity
  * for a failed op); `units` is the work the rate metric counts (rows,
  * blocks or documents) over `windowS`.
  */
final case class Outcome(
    setupS: Double,
    samples: Seq[Double],
    units: Double,
    windowS: Double,
    attempted: Long,
    failed: Long,
    named: Seq[(String, Double, String)],
    checks: Seq[Check],
    inputDigest: String,
    resultDigest: String,
    sinkRoot: Path,
    freshRoot: Option[Path],
    traced: Option[TracedWindow])

/** The traced op stream, for the layer report: spans, jobs and counter
  * deltas of the window, plus what the workload adds (`sources` from the
  * simulator, `extra` workload-specific figures).
  */
final case class TracedWindow(start: Long, end: Long, spans: Seq[Span], jobs: Seq[Job],
                              counters: Map[String, Double],
                              sources: Map[String, Double] = Map.empty,
                              extra: Map[String, Double] = Map.empty)

/** Shared plumbing: the session, the per-run scratch root, setup and op
  * timing with failure accounting, and tracing of the op stream.
  */
final class Ctx(val spark: SparkSession, val config: GraftConfig, val seed: Long,
                val ops: Int, val work: Path, val trace: Boolean,
                val listener: JobListener, val corrupt: Option[String]) {
  private var n = 0
  def freshDir(tag: String): Path = { n += 1; work.resolve(f"$tag-$n%03d") }

  var attempted = 0L
  var failed = 0L

  /** Time `body`, counting it as one attempted operation; a failure is
    * recorded as +Infinity and counted, and never aborts the run.
    */
  def timed(body: => Unit): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    try { body; val ms = (System.nanoTime() - t0) / 1e6; progress(f"op $attempted%d: $ms%.0f ms"); ms }
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"perfbench: operation failed: $e")
        Double.PositiveInfinity
    }
  }

  /** Run ops 0 until `ops`, each inside a `bench` span when tracing. */
  def loop(onTraceStart: () => Unit = () => ())(body: Int => Double)
      : (Seq[Double], Option[TracedWindow], Double) = {
    val out = mutable.ArrayBuffer.empty[Double]
    if (!trace) {
      val t0 = System.nanoTime()
      (0 until ops).foreach(i => out += body(i))
      return (out.toSeq, None, (System.nanoTime() - t0) / 1e9)
    }
    listener.fence(spark.sparkContext)
    listener.reset(); Trace.clear(); onTraceStart()
    val heap = new HeapWatch
    val (gc0, jit0) = (Jvm.gcMs, Jvm.jitMs)
    Trace.start(Some(spark.sparkContext), seed)
    heap.arm()
    val t0 = System.nanoTime()
    (0 until ops).foreach(i => out += Trace.span("bench", "op")(body(i)))
    val t1 = System.nanoTime()
    heap.disarm()
    Trace.stop()
    val (gc1, jit1) = (Jvm.gcMs, Jvm.jitMs)
    listener.fence(spark.sparkContext)
    val spans = Trace.spans
    val tw = TracedWindow(t0, t1, spans, listener.jobs,
      Map("stages" -> listener.stages.get.toDouble, "tasks" -> listener.tasks.get.toDouble,
        "shuffle_bytes" -> listener.shuffleBytes.get.toDouble,
        "bytes_written" -> listener.bytesWritten.get.toDouble,
        "gc_ms" -> (gc1 - gc0), "jit_ms" -> (jit1 - jit0), "peak_heap_mb" -> heap.peakMb,
        "overhead_ms" -> spans.size * Trace.costNs(spark.sparkContext) / 1e6))
    (out.toSeq, Some(tw), (t1 - t0) / 1e9)
  }

  /** Build the seed state once, timed (s). */
  def timeSetup[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    val s = (System.nanoTime() - t0) / 1e9
    progress(f"setup: $s%.1f s")
    (out, s)
  }

  /** One progress line on standard error, stamped with the JVM's uptime. */
  def progress(msg: String): Unit = System.err.println(
    f"perfbench: [${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s] $msg")

  /** The calibration probe taken between setup and the first op. */
  var calBefore: Double = 0.0
}

object Sinks {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator.asScala.filter(Files.isRegularFile(_)).toVector }
      finally s.close()
    }

  def bytes(p: Path): Long = files(p).map(Files.size).sum
  def parquetFiles(p: Path): Int = files(p).count(_.getFileName.toString.endsWith(".parquet"))

  /** Canonical rows of one sink table, in entity column order. */
  def canonical(sink: UpsertSink, world: World, entity: String): Seq[String] = {
    val e = world.byName(entity)
    if (!sink.exists(entity)) return Nil
    sink.read(entity).select(e.columns.map(c => col(c.name)): _*)
      .collect().toSeq
      .map(r => World.canonicalOf(e, (0 until r.length).map(i => r.get(i)))).sorted
  }

  /** Deliberately damage one row of `Proposal` (drop it, or alter one of
    * its values), so a run can prove its check rejects a wrong result.
    */
  def corrupt(sink: UpsertSink, mode: String): Unit = {
    val one = sink.read("Proposal").orderBy("id").limit(1)
    val row = sink.session.createDataFrame(one.collectAsList(), one.schema)
    mode match {
      case "drop" => sink.delete("Proposal", row.select("id"), Seq("id"))
      case "alter" => sink.merge("Proposal",
        row.withColumn("votesFor", col("votesFor") + lit(1)), Seq("id"))
      case other => sys.error(s"unknown corruption $other")
    }
  }

  /** Compare every entity of `sink` with the world's canonical state. */
  def compare(name: String, sink: UpsertSink, world: World): (Check, String) = {
    val got = world.entities.map(e => e.name -> canonical(sink, world, e.name))
    val bad = got.flatMap { case (t, rows) => diff(t, rows, world.canonical(t)) }
    (Check(name, bad.isEmpty, if (bad.isEmpty) s"${got.map(_._2.size).sum} rows match" else bad.mkString("; ")),
      World.digestOf(got))
  }

  /** None when `got` equals `want` (both sorted canonical rows), else
    * what differs.
    */
  def diff(table: String, got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else {
      val missing = want.diff(got)
      val extra = got.diff(want)
      Some(s"$table: ${got.size} rows vs ${want.size} expected, " +
        s"${missing.size} missing, ${extra.size} unexpected" +
        missing.headOption.map(m => s"; first missing: ${m.take(160)}").getOrElse("") +
        extra.headOption.map(m => s"; first unexpected: ${m.take(160)}").getOrElse(""))
    }
}

/** `initial_sync`: [[Syncer.syncAll]] of every syncable entity of the
  * production schema from the simulator into a fresh sink, once per op.
  */
object InitialSync {
  def run(c: Ctx, sizes: Sizes): Outcome = {
    val world = new World(c.config, sizes, c.seed)
    world.populate(1)
    val sim = new SubgraphSim(world)
    // the seed state is a warm-up sync into a sink the rounds never read
    val (setupDir, setupS) = c.timeSetup {
      val dir = c.freshDir("setup")
      new Syncer(c.spark, c.config, sim, new UpsertSink(c.spark, dir.toString)).syncAll()
      dir
    }
    Sinks.delete(setupDir)
    val expected = world.entities.map(e => e.name -> world.tables(e.name).size.toLong).toMap
    val inputDigest = world.digest
    var last: Option[Path] = None
    var lastSink: UpsertSink = null
    var countsOk = true
    val heap = new HeapWatch
    c.calBefore = Main.calibrate(c.spark)
    sim.counters.reset()
    val (samples, traced, windowS) = c.loop(() => sim.counters.reset()) { _ =>
      val dir = c.freshDir("round")
      val sink = new UpsertSink(c.spark, dir.toString)
      val syncer = new Syncer(c.spark, c.config, sim, sink)
      heap.arm()
      val ms = c.timed {
        val counts = Trace.span("sync", "syncAll")(syncer.syncAll())
        if (counts != expected) { countsOk = false; throw new IllegalStateException(s"row counts $counts") }
      }
      heap.disarm()
      last.foreach(Sinks.delete)
      last = Some(dir); lastSink = sink
      ms
    }
    val rows = world.rowCount.toDouble
    c.corrupt.foreach(Sinks.corrupt(lastSink, _))
    val (check, digest) = Sinks.compare("sink equals the canonical subgraph state", lastSink, world)
    val ok = samples.filterNot(_.isInfinite)
    Outcome(setupS, samples, rows * ok.size, windowS, c.attempted, c.failed,
      Seq(("sync_rows_per_s", if (ok.isEmpty) 0 else rows / (Stats.median(ok) / 1000), "rows/s"),
        ("sync_peak_heap_mb", heap.peakMb, "MB"),
        ("rows_per_round", rows, "rows")),
      Seq(Check("per-round row counts", countsOk, s"$rows rows per round"), check),
      inputDigest, digest, last.get, None,
      traced.map(t => t.copy(sources = sourceMetrics(sim), extra = Map("sink.space_amp" -> 1.0))))
  }

  def sourceMetrics(sim: SubgraphSim): Map[String, Double] = {
    val q = sim.counters.queries.get.toDouble
    val r = sim.counters.requests.get.toDouble
    Map("sources.requests" -> r, "sources.queries" -> q,
      "sources.batching_reduction" -> (if (q == 0) 0.0 else 1 - r / q),
      "sources.rows" -> sim.counters.rows.get.toDouble,
      "sources.bytes" -> sim.counters.bytes.get.toDouble,
      "sources.upstream_ms" -> sim.counters.upstreamNs.get / 1e6)
  }
}

/** Wraps a strategy so every failure is counted (the watcher's own error
  * map keeps only the last error per strategy name).
  */
final class Counted(inner: Strategy) extends Strategy {
  val name: String = inner.name
  var failures = 0
  var failedThisBlock = false
  def onBlock(block: Block): Unit =
    try inner.onBlock(block)
    catch { case e: Exception => failures += 1; failedThisBlock = true; throw e }
}

/** `cdc_catchup`: block-by-block catch-up through [[BlockWatcher]] with
  * the change-log and proposal-reconcile strategies, and one reorg
  * halfway that [[ReorgGuard]] repairs.
  */
object CdcCatchup {
  val BaseBlock = 1000L

  def run(c: Ctx, sizes: Sizes, changed: Int): Outcome = {
    val world = new World(c.config, sizes, c.seed)
    world.populate(BaseBlock - 10)
    val sim = new SubgraphSim(world)
    val ((sink, sinkDir), setupS) = c.timeSetup {
      val dir = c.freshDir("base")
      val k = new UpsertSink(c.spark, dir.toString)
      new Syncer(c.spark, c.config, sim, k).syncAll()
      (k, dir)
    }
    val inputDigest = world.digest
    val syncer = new Syncer(c.spark, c.config, sim, sink)
    val chain = new ChainSim(world, BaseBlock, c.seed, changed)
    val sources = c.config.providers.map { case (n, p) => n -> new SubgraphSource(p, sim) }
    val known = c.config.schema.entities.keySet
    val proposalIds = world.tables("Proposal").keySet.toArray(Array.empty[String]).toSeq
    var reorgs = 0

    val guard = new ReorgGuard(chain, sink)
    val reorgStrategy = new Strategy {
      val name = "reorg"
      private val seen = mutable.LinkedHashMap.empty[Long, Block]
      def onBlock(b: Block): Unit = {
        val stored = seen.lastOption.map(_._2)
        Trace.span("streaming", "ReorgGuard.check") {
          val hit = guard.check(stored) { () =>
            // fork point: the newest remembered block the chain still agrees with
            val fork = seen.values.toSeq.reverse.find(x => chain.hashAt(x.number) == x.hash)
              .map(_.number).getOrElse(BigInt(BaseBlock - 10))
            val log = Trace.span("sink", "read")(sink.read("BlockChangeLog"))
            val tables = Trace.span("streaming", "ChangeLog.changedEntities")(
              ChangeLog.changedEntities(log, fork, known)) + "BlockChangeLog" + "Proposal"
            tables.toSeq.sorted.map { t =>
              val e = c.config.schema(t)
              t -> Trace.span("sources", "fetchAll")(
                SubgraphSource.toDataFrame(c.spark, c.config.schema, e,
                  sources(e.subgraphProvider).fetchAll(e)))
            }.toMap
          }
          if (hit) reorgs += 1
        }
        seen(b.number.toLong) = b
        if (seen.size > 16) seen.remove(seen.head._1)
      }
    }
    val changeLogStrategy = new Strategy {
      val name = "changelog"
      def onBlock(b: Block): Unit = Trace.span("streaming", "changelog") {
        Trace.span("sync", "syncChanged")(syncer.syncChanged(Set("BlockChangeLog"), b.number))
        val log = Trace.span("sink", "read")(sink.read("BlockChangeLog"))
        val names = Trace.span("streaming", "ChangeLog.changedEntities")(
          ChangeLog.changedEntities(log, b.number - 1, known))
        if (names.nonEmpty) Trace.span("sync", "syncChanged")(syncer.syncChanged(names, b.number))
      }
    }
    val reconcileStrategy = new Strategy {
      val name = "reconcile"
      def onBlock(b: Block): Unit = Trace.span("streaming", "reconcile") {
        val states = chain.multicall(proposalIds)
        // the chain keys proposals by their 0x-hex id, the sink stores
        // Bytes ids as binary: present the stored ids in the chain's form
        // and convert the update set back (a binary-vs-string join
        // matches nothing)
        val props = Trace.span("sink", "read")(sink.read("Proposal"))
          .withColumn("id", concat(lit("0x"), lower(hex(col("id")))))
        val (rows, schema) = Trace.span("streaming", "StateReconcile.reconcile") {
          val df = StateReconcile.reconcile(c.spark, props, states)
            .withColumn("id", unhex(expr("substring(id, 3)")))
          (df.collectAsList(), df.schema)
        }
        if (!rows.isEmpty) Trace.span("sink", "merge")(
          sink.merge("Proposal", c.spark.createDataFrame(rows, schema), Seq("id")))
      }
    }
    val strategies = Seq(reorgStrategy, changeLogStrategy, reconcileStrategy).map(new Counted(_))
    // the watcher's first poll starts at the head, so each poll, the
    // first too, processes exactly the block just mined
    val watcher = new BlockWatcher(chain, strategies)
    c.calBefore = Main.calibrate(c.spark)
    sim.counters.reset()
    def block(): Double = {
      chain.advance()
      strategies.foreach(_.failedThisBlock = false)
      c.timed {
        val done = Trace.span("streaming", "BlockWatcher.runOnce")(watcher.runOnce())
        require(done.size == 1, s"expected one block per poll, got ${done.size}")
        if (strategies.exists(_.failedThisBlock))
          throw new IllegalStateException(
            s"strategy failed on block ${done.head.number}: ${watcher.errors.keys.mkString(", ")}")
      }
    }
    // one untimed block first: the merge path's first call pays class
    // loading and compilation (about twice a steady block)
    val warmupMs = block()
    // the reorg block (a rebuild of the touched tables) is timed on its
    // own; the latency and rate metrics cover the steady blocks
    val reorgAt = c.ops / 2
    var reorgMs = 0.0
    val (timedBlocks, traced, loopS) = c.loop(() => sim.counters.reset()) { i =>
      if (i == reorgAt) chain.reorg(2)
      val ms = block()
      if (i == reorgAt) reorgMs = ms
      ms
    }
    val samples = timedBlocks.patch(reorgAt, Nil, 1)
    val windowS = if (reorgMs.isInfinite) loopS else loopS - reorgMs / 1000
    val fails = strategies.map(_.failures).sum
    // the check: the caught-up sink equals the final canonical subgraph
    // state (what a fresh sync must produce). Traced runs also make that
    // fresh sync, check it the same way, and size the sink against it.
    val fresh = if (!c.trace) None else {
      val dir = c.freshDir("fresh")
      val s = new UpsertSink(c.spark, dir.toString)
      new Syncer(c.spark, c.config, new SubgraphSim(world), s).syncAll()
      Some(dir -> Sinks.compare("fresh sync equals the canonical state", s, world)._1)
    }
    c.corrupt.foreach(Sinks.corrupt(sink, _))
    val (check, digest) = Sinks.compare("caught-up sink equals the canonical state (orphans gone)", sink, world)
    val ok = samples.filterNot(_.isInfinite)
    val tail = Stats.tail(samples)
    Outcome(setupS, samples, ok.size.toDouble, windowS, c.attempted, c.failed,
      Seq(("blocks_per_s", ok.size / windowS, "blocks/s"),
        ("block_p50_ms", Stats.median(samples), "ms"),
        ("block_tail_ms", tail.map(_._2).getOrElse(Stats.percentile(samples, 100)), "ms"),
        ("block_tail_percentile", tail.map(_._1).getOrElse(100.0), "pct"),
        ("reorg_block_ms", reorgMs, "ms"),
        ("warmup_block_ms", warmupMs, "ms"),
        ("blocks", samples.size.toDouble, "count"),
        ("reorgs", reorgs.toDouble, "count"),
        ("strategy_failures", fails.toDouble, "count")),
      Seq(Check("one reorg detected and rebuilt", reorgs == 1, s"$reorgs reorgs"), check) ++
        fresh.map(_._2),
      inputDigest, digest, sinkDir, fresh.map(_._1),
      traced.map(t => t.copy(sources = InitialSync.sourceMetrics(sim),
        extra = Map("streaming.blocks" -> timedBlocks.size.toDouble,
          "streaming.failures" -> fails.toDouble))))
  }
}

/** `index_lifecycle`: admit/erase/re-deliver/search cycles over the
  * persisted BM25 index ([[SearchOps]], [[EraseOps]]).
  */
object IndexLifecycle {
  val Vocabulary: Seq[String] = Seq("chain", "block", "stake", "vote", "gauge",
    "reward", "cycle", "quorum", "backer", "builder", "token", "vault", "epoch",
    "proposal", "allocation", "claim", "share", "state", "sync", "index",
    "ledger", "market", "oracle", "bridge", "fee", "miner", "peer", "node",
    "hash", "merkle")

  /** A document of 44-577 characters (median about 300) over the
    * ~30-word vocabulary.
    */
  def document(r: Random): String = {
    val target = 44 + ((r.nextDouble() + r.nextDouble() + r.nextDouble()) / 3 * 533).toInt
    val sb = new StringBuilder
    while (sb.length < target) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(Vocabulary(r.nextInt(Vocabulary.size)))
    }
    sb.toString
  }

  /** BM25 over `docs`, computed on the driver: the scores an index built
    * fresh over exactly these documents must serve (k1 = 1.2, b = 0.75,
    * idf = ln((N - df + 0.5) / (df + 0.5) + 1), tokens = `[a-z]+` runs).
    */
  def bm25(docs: Iterable[(Long, String)], terms: Seq[String]): Array[(Long, Double)] = {
    val (k1, b) = (1.2, 0.75)
    val toks = docs.map { case (id, t) => id -> "[a-z]+".r.findAllIn(t.toLowerCase).toVector }.toVector
    val n = toks.size.toDouble
    val avgdl = toks.map(_._2.size.toLong).sum / n
    val q = terms.distinct
    val df = q.map(w => w -> toks.count(_._2.contains(w)).toDouble).toMap
    toks.flatMap { case (id, ws) =>
      val hits = q.filter(ws.contains)
      if (hits.isEmpty) None
      else Some(id -> hits.map { w =>
        val tf = ws.count(_ == w).toDouble
        val idf = math.log((n - df(w) + 0.5) / (df(w) + 0.5) + 1.0)
        idf * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * (ws.size / avgdl))))
      }.sum)
    }.sortBy(_._1).toArray
  }

  def run(c: Ctx, archive: Int, batch: Int, searches: Int): Outcome = {
    import c.spark.implicits._
    val r = new Random(c.seed)
    val docs = mutable.LinkedHashMap.empty[Long, String]
    (0 until archive).foreach(i => docs(i.toLong) = document(r))
    // the whole op stream is drawn up front from the seed; a cycle never
    // erases its own batch, which it re-delivers after the erasure
    val admits = (0 until c.ops).map(k => (0 until batch).map { j =>
      val id = (archive + k * batch + j).toLong; id -> document(r) })
    val live = mutable.LinkedHashSet.from(docs.keys)
    val erases = (0 until c.ops).map { k =>
      val picked = r.shuffle(live.toVector).take(batch)
      picked.foreach(live -= _)
      admits(k).foreach { case (id, _) => live += id }
      picked
    }
    admits.flatten.foreach { case (id, t) => docs(id) = t }
    val queries = (0 until c.ops).map(_ => (0 until searches).map(_ => r.shuffle(Vocabulary).take(3)))
    val inputDigest = World.digestOf(Seq("docs" -> docs.toSeq.map { case (i, t) => s"$i|$t" },
      "erases" -> erases.map(_.mkString(",")), "queries" -> queries.flatten.map(_.mkString(","))))
    def frame(ids: Seq[Long]): DataFrame = ids.map(i => (i, docs(i))).toDF("doc_id", "text")

    val archiveFrame = frame(0L until archive.toLong)
    val ((sink, sinkDir), setupS) = c.timeSetup {
      val dir = c.freshDir("index")
      val k = new UpsertSink(c.spark, dir.toString)
      SearchOps.invertedIndexBuild(archiveFrame, "doc_id", "text", k)
      (k, dir)
    }
    c.calBefore = Main.calibrate(c.spark)
    val admitMs, eraseMs, searchMs, replayMs = mutable.ArrayBuffer.empty[Double]
    var lastResults: Seq[Array[(Long, Double)]] = Nil
    def admit(k: Int): Unit = SearchOps.invertedIndexAdmit(frame(admits(k).map(_._1)),
      "doc_id", "text", sink, Some(s"admit-$k"))
    def erase(k: Int): Unit = EraseOps.eraseSubjects(frame(erases(k)), "doc_id", "text",
      sink, s"sweep-$k")
    val (samples, traced, windowS) = c.loop() { k =>
      val t0 = System.nanoTime()
      val failedBefore = c.failed
      admitMs += c.timed(Trace.span("ops", "invertedIndexAdmit")(admit(k)))
      eraseMs += c.timed(Trace.span("ops", "eraseSubjects")(erase(k)))
      // at-least-once delivery: the same admit and sweep ids arrive again
      // and the journals must turn them into no-ops
      replayMs += c.timed(Trace.span("ops", "replay") { admit(k); erase(k) })
      lastResults = queries(k).map { q =>
        var out: Array[(Long, Double)] = Array.empty
        searchMs += c.timed { out = Trace.span("ops", "invertedIndexSearchSnapshot")(
          SearchOps.invertedIndexSearchSnapshot(q, sink)(
            _.select("doc_id", "score").as[(Long, Double)].collect().sortBy(_._1))) }
        out
      }
      val ms = (System.nanoTime() - t0) / 1e6
      // a cycle with any failed call (search too) misses every limit
      if (c.failed > failedBefore) Double.PositiveInfinity else ms
    }
    // the check: the last cycle's searches against BM25 computed afresh
    // over the final live documents, plus the maintained corpus count
    val lastQ = queries(c.ops - 1)
    val want = lastQ.map(q => bm25(live.toSeq.map(i => i -> docs(i)), q))
    c.corrupt.foreach {
      case "drop" => lastResults = lastResults.updated(0, lastResults.head.drop(1))
      case "alter" => lastResults = lastResults.updated(0,
        lastResults.head.updated(0, (lastResults.head(0)._1, lastResults.head(0)._2 + 1e-6)))
      case other => sys.error(s"unknown corruption $other")
    }
    val same = lastResults.size == want.size && lastResults.zip(want).forall { case (a, b) =>
      a.length == b.length && a.zip(b).forall { case ((i, s), (j, t)) =>
        i == j && math.abs(s - t) <= 1e-9 * math.max(1.0, math.abs(t)) }
    }
    val n = sink.read("bm25_stats").select("n").as[Long].collect().headOption.getOrElse(-1L)
    val resultDigest = World.digestOf(Seq("search" -> lastResults.map(_.map { case (i, s) =>
      f"$i:$s%.6f" }.mkString(","))))
    val docBytes = (0 until c.ops).map(k => admits(k).map(_._2.length.toLong).sum +
      erases(k).map(i => docs(i).length.toLong).sum).sum.toDouble
    val ok = samples.filterNot(_.isInfinite)
    Outcome(setupS, samples, ok.size * 2.0 * batch, windowS, c.attempted, c.failed,
      Seq(("admit_p50_ms", Stats.median(admitMs.toSeq), "ms"),
        ("erase_p50_ms", Stats.median(eraseMs.toSeq), "ms"),
        ("search_p50_ms", Stats.median(searchMs.toSeq), "ms"),
        ("replay_p50_ms", Stats.median(replayMs.toSeq), "ms"),
        ("cycles", samples.size.toDouble, "count")),
      Seq(Check("searches equal BM25 computed afresh over the final documents", same,
          s"${lastResults.map(_.length).sum} hits over ${lastQ.size} searches"),
        Check("maintained document count", n == live.size.toLong, s"$n indexed, ${live.size} live")),
      inputDigest, resultDigest, sinkDir, None,
      traced.map(_.copy(extra = Map("input_bytes" -> docBytes))))
  }
}
