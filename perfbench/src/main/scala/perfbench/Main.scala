package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.model.{ConfigLoader, GraftConfig}

/** Largest post-GC heap occupancy while armed, from GC notifications. */
final class HeapWatch {
  @volatile private var armed = false
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val onGc: NotificationListener = (n, _) =>
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      if (used > peak) peak = used
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
    case _ =>
  }
  def arm(): Unit = armed = true
  def disarm(): Unit = armed = false
  def peakMb: Double = peak / 1048576.0
}

object Jvm {
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble
  def jitMs: Double = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)
}

/** One workload's fixed shape: ops per measured second (the op stream is
  * fixed by the seed and `--seconds`, so a seed always gives the same
  * inputs and the same result), the schema it syncs, and its sizes
  * (normal, or small for the self-test).
  */
final case class Profile(opsPerSecond: Double, minOps: Int,
                         fullSchema: Boolean, run: (Ctx, Boolean) => Outcome)

/** The service-path benchmark: runs one seeded workload through the
  * program's public API, checks the result, and prints one JSON line.
  *
  *   perfbench.Main --workload <initial_sync|cdc_catchup|index_lifecycle>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --config <yml>
  *     [--results <dir>] [--small 1] [--corrupt drop|alter]
  */
object Main {
  val Workloads: Map[String, Profile] = Map(
    "initial_sync" -> Profile(1 / 30.0, 1, true, (c, small) =>
      InitialSync.run(c, if (small) Sizes(150, 20, 3) else Sizes(2000, 200, 3))),
    "cdc_catchup" -> Profile(0.15, 3, false, (c, small) =>
      CdcCatchup.run(c, if (small) Sizes(60, 20, 3) else Sizes(200, 50, 3), changed = 1)),
    "index_lifecycle" -> Profile(1 / 30.0, 1, false, (c, small) =>
      IndexLifecycle.run(c, if (small) 100 else 200, if (small) 10 else 20, searches = 2)))

  /** The end-to-end metrics every untraced run reports, with units. */
  val EndToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "op_p50_ms" -> "ms", "units_per_s" -> "1/s")

  /** The bench schema: the production entities the block path touches,
    * closed under foreign keys and spread over all three providers.
    */
  val BenchEntities: Set[String] = Set("BlockChangeLog", "BackerStakingHistory",
    "Account", "Proposal", "VaultHistory")

  def benchConfig(full: GraftConfig): GraftConfig =
    full.copy(schema = graft.model.SchemaMap(
      full.schema.entities.filter { case (n, _) => BenchEntities(n) }))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val small = opts.get("small").contains("1")
    val work = Paths.get(opts.getOrElse("work", sys.error("--work is required")))
    val production = ConfigLoader.load(Files.readString(Paths.get(
      opts.getOrElse("config", sys.error("--config is required")))))
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    val profile = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val config = if (profile.fullSchema) production else benchConfig(production)
    val report = run(name, profile, seed, seconds, trace, small, work, config,
      opts.get("corrupt"))
    opts.get("results").foreach { dir =>
      Files.createDirectories(Paths.get(dir))
      Files.writeString(Paths.get(dir, s"$name-seed$seed-trace${if (trace) 1 else 0}.json"),
        report.detail + "\n")
    }
    println("perfbench-detail " + report.detail)
    println(report.result)
    System.out.flush()
    // nothing of the session outlives the run (its directories are the
    // caller's scratch): end the JVM without the shutdown hooks' cleanup
    Runtime.getRuntime.halt(0)
  }

  final case class Report(result: String, detail: String)

  def run(name: String, profile: Profile, seed: Long, seconds: Double, trace: Boolean,
          small: Boolean, work: Path, config: GraftConfig, corrupt: Option[String]): Report = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.create()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val ops = math.max(profile.minOps, math.round(seconds * profile.opsPerSecond).toInt)
      val ctx = new Ctx(spark, config, seed, ops, work, trace, listener, corrupt)
      val out = profile.run(ctx, small)
      val calBefore = ctx.calBefore
      val calAfter = calibrate(spark)
      val correct = out.checks.forall(_.ok) && out.failed == 0
      val setupS = sessionS + out.setupS
      val opP50 = Stats.median(out.samples)
      val e2e = EndToEnd.zip(Seq(setupS, cap(opP50), out.units / out.windowS))
        .map { case ((k, u), v) => (k, v, u) }
      val metrics =
        if (!trace) e2e
        else out.traced.map(t => Layers.metrics(t, out, calBefore, calAfter)).getOrElse(Nil)
      import Json._
      val result = obj(
        "correct" -> nodes.booleanNode(correct),
        "attempted" -> nodes.numberNode(out.attempted),
        "failed" -> nodes.numberNode(out.failed),
        "metrics" -> obj(metrics.map { case (k, v, u) =>
          k -> obj("value" -> num(v), "unit" -> nodes.textNode(u)) }: _*))
      val tail = Stats.tail(out.samples)
      val detail = obj(
        "workload" -> nodes.textNode(name), "seed" -> nodes.numberNode(seed),
        "trace" -> nodes.booleanNode(trace),
        "cores" -> nodes.numberNode(spark.sparkContext.defaultParallelism),
        "ops" -> nodes.numberNode(ops), "window_s" -> num(out.windowS),
        "session_s" -> num(sessionS),
        "setup_only_s" -> num(out.setupS),
        "op_ms" -> arr(out.samples.map(x => num(cap(x)))),
        "op_tail" -> tail.fold[JsonNode](nodes.nullNode())(t => obj(
          "percentile" -> num(t._1), "value_ms" -> num(cap(t._2)),
          "samples" -> nodes.numberNode(out.samples.size))),
        "error_rate" -> num(if (out.attempted == 0) 0 else out.failed.toDouble / out.attempted),
        "named" -> obj(out.named.map { case (k, v, u) =>
          k -> obj("value" -> num(cap(v)), "unit" -> nodes.textNode(u)) }: _*),
        "cal_ms" -> obj("before" -> num(calBefore), "after" -> num(calAfter)),
        "input_digest" -> nodes.textNode(out.inputDigest),
        "result_digest" -> nodes.textNode(out.resultDigest),
        "checks" -> arr(out.checks.map(c => obj("name" -> nodes.textNode(c.name),
          "ok" -> nodes.booleanNode(c.ok), "detail" -> nodes.textNode(c.detail)))),
        "metrics" -> obj(metrics.map { case (k, v, _) => k -> num(v) }: _*),
        "spans" -> obj(out.traced.map(Layers.spanSummary).getOrElse(Nil): _*))
      Report(text(result), text(detail))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A failed op is +Infinity in the samples; JSON has no infinity. */
  private def cap(x: Double): Double = if (x.isInfinite) 1e12 else x

  /** Fixed CPU + shuffle probe, so a slow box can be told from a slow
    * change: hash 1M longs, shuffle them into 997 groups, sum.
    */
  def calibrate(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    sc.setJobDescription("perfbench:cal")
    try {
      val t0 = System.nanoTime()
      spark.range(0, 1000000L, 1, sc.defaultParallelism)
        .selectExpr("id % 997 as k", "hash(id) as h")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("h")).collect()
      (System.nanoTime() - t0) / 1e6
    } finally sc.setJobDescription(null)
  }
}

/** The per-layer metrics of one traced window. */
object Layers {
  /** The label kinds UpsertSink gives its jobs (`sink:<kind>:...`), and
    * `other` for any label not listed, so the split sums to `sink.jobs`.
    */
  val SinkKinds: Seq[String] = Seq("overwrite", "merge_touched", "merge_many", "erase",
    "swap", "keybuckets", "inferschema", "other")
  private val LabelKinds = Seq("merge:touched" -> "merge_touched",
    "mergeMany:touched" -> "merge_many", "erase:touched" -> "erase")

  def sinkKind(label: String): Option[String] =
    if (!label.startsWith("sink:")) None
    else {
      val rest = label.stripPrefix("sink:")
      val kind = LabelKinds.collectFirst { case (p, k) if rest.startsWith(p + ":") => k }
        .getOrElse(rest.takeWhile(_ != ':'))
      Some(if (SinkKinds.contains(kind)) kind else "other")
    }

  def metrics(t: TracedWindow, o: Outcome, calBefore: Double, calAfter: Double): Seq[(String, Double, String)] = {
    val r = new LayerReport(t.spans, t.jobs, t.start, t.end)
    val ms = (ns: Long) => ns / 1e6
    val sinkJobs = t.jobs.filter(j => sinkKind(j.label).isDefined)
    def busy(js: Seq[Job]) = ms(Intervals.union(js.map(j => (j.start, j.end))))
    val perKind = SinkKinds.flatMap { k =>
      val js = sinkJobs.filter(j => sinkKind(j.label).contains(k))
      Seq((s"sink.$k.jobs", js.size.toDouble, "count"), (s"sink.$k.busy_ms", busy(js), "ms"))
    }
    def perCall(names: Set[String]): Double = {
      val n = r.calls("ops", names)
      if (n == 0) 0.0 else r.jobsUnder("ops", names).toDouble / n
    }
    val written = t.counters.getOrElse("bytes_written", 0.0)
    // upserted input: wire bytes served on the sync paths, document text
    // on the index path
    val input = t.sources.getOrElse("sources.bytes", 0.0) max t.extra.getOrElse("input_bytes", 0.0)
    val freshBytes = o.freshRoot.map(p => Sinks.bytes(p).toDouble)
    val src = Seq("sources.requests", "sources.queries", "sources.batching_reduction",
      "sources.rows", "sources.bytes", "sources.upstream_ms")
    val srcUnits = Map("sources.upstream_ms" -> "ms", "sources.bytes" -> "B",
      "sources.batching_reduction" -> "ratio")
    src.map(k => (k, t.sources.getOrElse(k, 0.0), srcUnits.getOrElse(k, "count"))) ++ Seq(
      ("sync.calls", r.calls("sync", Set("syncAll", "syncChanged")).toDouble, "count"),
      ("sync.self_ms", r.layerSelfMs("sync"), "ms"),
      ("sink.jobs", sinkJobs.size.toDouble, "count"),
      ("sink.busy_ms", busy(sinkJobs), "ms")) ++ perKind ++ Seq(
      ("sink.bytes_written", written, "B"),
      ("sink.write_amp", if (input == 0) 0 else written / input, "ratio"),
      ("sink.files_live", Sinks.parquetFiles(o.sinkRoot).toDouble, "count"),
      ("sink.space_amp", t.extra.getOrElse("sink.space_amp",
        freshBytes.filter(_ > 0).map(Sinks.bytes(o.sinkRoot) / _).getOrElse(0.0)), "ratio"),
      ("sink.read_ms", r.layerMs("sink", "read"), "ms"),
      ("sink.self_ms", r.layerSelfMs("sink"), "ms"),
      ("streaming.blocks", t.extra.getOrElse("streaming.blocks", 0.0), "count"),
      ("streaming.changelog_ms", r.layerMs("streaming", "changelog"), "ms"),
      ("streaming.reconcile_ms", r.layerMs("streaming", "reconcile"), "ms"),
      ("streaming.reorg_ms", r.layerMs("streaming", "ReorgGuard.check"), "ms"),
      ("streaming.failures", t.extra.getOrElse("streaming.failures", 0.0), "count"),
      ("streaming.self_ms", r.layerSelfMs("streaming"), "ms"),
      ("ops.admit.jobs_per_call", perCall(Set("invertedIndexAdmit")), "count"),
      ("ops.erase.jobs_per_call", perCall(Set("eraseSubjects")), "count"),
      ("ops.search.jobs_per_call", perCall(Set("invertedIndexSearchSnapshot")), "count"),
      ("ops.replay_ms", r.layerMs("ops", "replay"), "ms"),
      ("ops.self_ms", r.layerSelfMs("ops"), "ms"),
      ("spark.jobs", t.jobs.size.toDouble, "count"),
      ("spark.stages", t.counters.getOrElse("stages", 0.0), "count"),
      ("spark.tasks", t.counters.getOrElse("tasks", 0.0), "count"),
      ("spark.job_busy_ms", ms(r.jobBusyNs), "ms"),
      ("spark.driver_gap_ms", ms(r.wallNs - r.jobBusyNs), "ms"),
      ("spark.shuffle_bytes", t.counters.getOrElse("shuffle_bytes", 0.0), "B"),
      ("jvm.gc_ms", t.counters.getOrElse("gc_ms", 0.0), "ms"),
      ("jvm.jit_ms", t.counters.getOrElse("jit_ms", 0.0), "ms"),
      ("jvm.peak_heap_mb", t.counters.getOrElse("peak_heap_mb", 0.0), "MB"),
      ("trace.wall_ms", ms(r.wallNs), "ms"),
      ("trace.unattributed_ms", ms(r.unattributedNs), "ms"),
      ("trace.overhead_ms", t.counters.getOrElse("overhead_ms", 0.0), "ms"),
      ("trace.spans", t.spans.size.toDouble, "count"),
      ("cal.before_ms", calBefore, "ms"),
      ("cal.after_ms", calAfter, "ms"),
      ("bench.error_rate", if (o.attempted == 0) 0 else o.failed.toDouble / o.attempted, "ratio"))
  }

  /** Per span name: calls, total and self time (ms), and jobs submitted. */
  def spanSummary(t: TracedWindow): Seq[(String, JsonNode)] = {
    val r = new LayerReport(t.spans, t.jobs, t.start, t.end)
    val jobsBySpan = t.jobs.groupBy(_.span).view.mapValues(_.size).toMap
    t.spans.groupBy(s => s"${s.layer}.${s.name}").toSeq.sortBy(_._1).map { case (k, ss) =>
      k -> Json.obj("calls" -> Json.nodes.numberNode(ss.size),
        "total_ms" -> Json.num(ss.map(_.dur).sum / 1e6),
        "self_ms" -> Json.num(ss.map(r.selfNs).sum / 1e6),
        "jobs" -> Json.nodes.numberNode(ss.map(s => jobsBySpan.getOrElse(s.id, 0)).sum))
    }
  }
}

/** Jackson trees for the result lines; JSON has no NaN or infinity, so
  * a non-finite number is written as null.
  */
object Json {
  val nodes: JsonNodeFactory = JsonNodeFactory.instance
  private val mapper = new ObjectMapper()
  def num(d: Double): JsonNode = if (d.isNaN || d.isInfinite) nodes.nullNode() else nodes.numberNode(d)
  def arr(xs: Seq[JsonNode]): JsonNode = { val a = nodes.arrayNode(); xs.foreach(x => a.add(x)); a }
  def obj(kv: (String, JsonNode)*): ObjectNode = {
    val o = nodes.objectNode(); kv.foreach { case (k, v) => o.set[JsonNode](k, v) }; o
  }
  def text(v: JsonNode): String = mapper.writeValueAsString(v)
}
