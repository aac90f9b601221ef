package graft.sink

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The sink's commit log: pinned snapshots under stalls, exactly-once
  * replay of crashed writes, vacuum keeping exactly the live files,
  * reads that never serve unreferenced files, and bounded pins.
  */
class CommitLogSpec extends SparkSpec {

  import spark.implicits._

  private def crashBeforeCommit(sink: UpsertSink)(body: => Unit): Unit = {
    sink.testHook = p =>
      if (p == "commit") throw new IllegalStateException("injected crash before commit")
    try intercept[IllegalStateException](body)
    finally sink.testHook = _ => ()
  }

  /** Every file under the table dir but parquet's `.crc` checksums. */
  private def onDisk(root: Path, t: String): Set[String] = {
    val dir = root.resolve(t)
    if (!Files.exists(dir)) Set.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.toString.endsWith(".crc"))
        .map(p => dir.relativize(p).toString).toSet
      finally s.close()
    }
  }

  /** The head's files of `t`: its data files and its manifest. */
  private def referenced(root: Path, t: String): Set[String] =
    new CommitLog(root).state(t).fold(Set.empty[String])(_.paths.toSet)

  private def entries(root: Path): Seq[Path] = {
    val s = Files.list(root.resolve("_log"))
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".json")).toSeq
    finally s.close()
  }

  test("snapshotMany stalled between pin and read while a group writer commits twice: one generation, no deleted file") {
    val root = Files.createTempDirectory("graft_log_pin")
    val sink = new UpsertSink(spark, root.toString, numBuckets = 4)
    def gen(g: Int) = Seq(
      TableWrite("x", (1L to 30L).map(i => (i, s"g$g")).toDF("id", "v"), Seq("id")),
      TableWrite("y", (1L to 30L).map(i => (i, s"g$g")).toDF("id", "v"), Seq("id")))
    sink.overwriteMany(gen(0))
    val paused = new CountDownLatch(1)
    val resume = new CountDownLatch(1)
    sink.testHook = p => if (p == "pinned") { paused.countDown(); resume.await() }
    @volatile var result: Either[Throwable, Seq[TableSnapshot]] = Left(null)
    val reader = new Thread(() =>
      result = try Right(sink.snapshotMany(Seq("x", "y")))
        catch { case e: Throwable => Left(e) })
    reader.start()
    try {
      assert(paused.await(60, TimeUnit.SECONDS), "reader never reached its pin")
      sink.testHook = _ => ()
      sink.overwriteMany(gen(1))
      sink.overwriteMany(gen(2))
    } finally {
      resume.countDown()
      reader.join(60000)
    }
    val snaps = result.fold(e => fail(s"snapshotMany failed: $e", e), identity)
    try {
      // a third commit while the snapshot is held: the pinned files stay
      sink.overwriteMany(gen(3))
      val vs = snaps.map(_.df.select("v").as[String].collect().distinct.toSeq)
      assert(vs.forall(_.size == 1) && vs.distinct.size == 1,
        s"torn capture across the group: $vs")
      assert(vs.head == Seq("g2"), s"capture is not the head read after the pin: $vs")
      assert(snaps.map(_.df.count()) == Seq(30L, 30L))
    } finally snaps.foreach(_.close())
    // released: the next commit on each table leaves only its live files
    sink.overwriteMany(gen(4))
    for (t <- Seq("x", "y")) assert(onDisk(root, t) == referenced(root, t))
  }

  test("crashed-then-replayed erasure id and opId merge equal one application, bit-exact") {
    def seed(s: UpsertSink): Unit = {
      s.merge("inv", (1L to 40L).map(i => (i, 5L)).toDF("k", "cnt"), Seq("k"))
      s.merge("post", (1L to 40L).map(i => (i, s"p$i")).toDF("id", "v"), Seq("id"))
    }
    def fold(s: UpsertSink, id: Option[String]): Unit = s.writerLocked(Seq("inv")) {
      import org.apache.spark.sql.functions.{coalesce, lit}
      val summed = (1L to 40L).map(i => (i, 3L)).toDF("k", "cnt")
        .join(s.read("inv").withColumnRenamed("cnt", "__old"), Seq("k"), "left")
        .select($"k", (coalesce($"__old", lit(0L)) + $"cnt").as("cnt"))
        .localCheckpoint(true)
      s.mergeMany(Seq(TableMerge("inv", summed, Seq("k"), pkUnique = true)), id)
    }
    def erase(s: UpsertSink, id: Option[String]): Unit =
      s.eraseMany(Seq("inv", "post"), id) {
        Seq(TableCountRetract("inv", (1L to 40L).filter(_ % 3 == 0).map((_, 7L))
            .toDF("k", "cnt"), Seq("k"), Seq("cnt")),
          TableDelete("post", (1L to 40L).filter(_ % 4 == 0).toDF("id"), Seq("id")))
      }
    def rows(s: UpsertSink, t: String) = s.read(t).collect().map(_.toSeq).toSet
    val once = new UpsertSink(spark,
      Files.createTempDirectory("graft_log_once").toString, numBuckets = 4)
    seed(once); fold(once, None); erase(once, None)
    val real = new UpsertSink(spark,
      Files.createTempDirectory("graft_log_replay").toString, numBuckets = 4)
    seed(real)
    crashBeforeCommit(real)(fold(real, Some("admit-1")))
    fold(real, Some("admit-1"))
    fold(real, Some("admit-1")) // a redelivery after the commit
    crashBeforeCommit(real)(erase(real, Some("sweep-1")))
    erase(real, Some("sweep-1"))
    erase(real, Some("sweep-1"))
    for (t <- Seq("inv", "post"))
      assert(rows(real, t) == rows(once, t), s"$t: replays diverged from one application")
  }

  test("with no snapshot open the files under a table are exactly the head's") {
    val root = Files.createTempDirectory("graft_log_vacuum")
    val sink = new UpsertSink(spark, root.toString, numBuckets = 8)
    def check(what: String): Unit =
      assert(onDisk(root, "t") == referenced(root, "t"), s"after $what")
    sink.merge("t", (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    check("create")
    sink.merge("t", Seq((5L, "x"), (500L, "y")).toDF("id", "v"), Seq("id"))
    check("incremental merge")
    sink.delete("t", (1L to 50L).toDF("id"), Seq("id"))
    check("delete")
    sink.rebucket("t", Seq("id"), 3)
    check("rebucket")
    crashBeforeCommit(sink)(sink.merge("t", Seq((7L, "z")).toDF("id", "v"), Seq("id")))
    sink.overwrite("t", Seq((1L, "a")).toDF("id", "v"))
    check("overwrite after a crashed merge")
    // a held snapshot keeps its files past commits; its release frees them
    val snap = sink.snapshot("t")
    sink.merge("t", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    assert(snap.df.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    snap.close()
    sink.merge("t", Seq((3L, "c")).toDF("id", "v"), Seq("id"))
    check("a released snapshot")
    sink.drop("t")
    assert(!Files.exists(root.resolve("t")), "dropped table left its dir")
  }

  test("version is unique across drop and re-create; reads run no Spark job") {
    val sink = new UpsertSink(spark, Files.createTempDirectory("graft_log_ver").toString)
    sink.merge("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    val v1 = sink.version("t")
    sink.drop("t")
    assert(sink.version("t") == 0L)
    sink.merge("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    assert(sink.version("t") != v1 && sink.version("t") != 0L)
    // the read takes its schema and files from the log: building the
    // frame (as opposed to running it) submits no job — no inference
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = sink.read("t")
      assert(df.columns.toSeq == Seq("id", "v"))
      Thread.sleep(500) // listener events are delivered asynchronously
      assert(jobs.get() == 0, s"${jobs.get()} jobs to build a read")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a crashed first write is neither read nor exists; a later write clears its files") {
    val root = Files.createTempDirectory("graft_log_first")
    val sink = new UpsertSink(spark, root.toString, numBuckets = 4)
    crashBeforeCommit(sink)(sink.merge("t", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id")))
    crashBeforeCommit(sink)(sink.overwrite("u", Seq((1L, "a")).toDF("id", "v")))
    for (t <- Seq("t", "u")) {
      assert(onDisk(root, t).exists(_.endsWith(".parquet")), s"$t: the crash left no files to ignore")
      assert(!sink.exists(t) && sink.version(t) == 0L && !sink.hasData(t))
      intercept[org.apache.spark.sql.AnalysisException](sink.read(t).collect())
      intercept[IllegalArgumentException](sink.snapshot(t))
    }
    sink.merge("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    assert(sink.read("t").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    assert(onDisk(root, "t") == referenced(root, "t"))
    sink.drop("u")
    assert(!Files.exists(root.resolve("u")), "drop left a crashed write's files")
  }

  test("a table emptied or dropped under an open snapshot reads as empty or missing, not as the pinned files") {
    val root = Files.createTempDirectory("graft_log_emptied")
    val sink = new UpsertSink(spark, root.toString, numBuckets = 4)
    for (t <- Seq("e", "d")) sink.merge(t, (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    val snaps = sink.snapshotMany(Seq("e", "d"))
    try {
      sink.delete("e", (1L to 10L).toDF("id"), Seq("id"))
      sink.drop("d")
      assert(sink.exists("e") && !sink.hasData("e") && !sink.exists("d"))
      for (t <- Seq("e", "d")) {
        assert(onDisk(root, t).exists(_.endsWith(".parquet")), s"$t: the pinned files are gone")
        intercept[org.apache.spark.sql.AnalysisException](sink.read(t).collect())
      }
      assert(snaps.map(_.df.count()) == Seq(10L, 10L), "the snapshots lost their files")
    } finally snaps.foreach(_.close())
  }

  test("a root of the earlier layout (data, no log) fails the first write and keeps its files") {
    val root = Files.createTempDirectory("graft_log_legacy")
    val old = root.resolve("t").resolve("__bucket=0")
    (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v").write.parquet(old.toString)
    def files(): Set[String] = {
      val s = Files.walk(root.resolve("t"))
      try s.iterator().asScala.map(_.toString).toSet finally s.close()
    }
    val before = files()
    val sink = new UpsertSink(spark, root.toString)
    assert(!sink.exists("t"))
    for (write <- Seq[() => Unit](
        () => sink.merge("t", Seq((1L, "x")).toDF("id", "v"), Seq("id")),
        () => sink.createIfMissing("t", Seq((1L, "x")).toDF("id", "v")),
        () => sink.overwrite("other", Seq((1L, "x")).toDF("id", "v")),
        () => sink.drop("t"))) {
      val e = intercept[IllegalStateException](write())
      assert(e.getMessage.contains("no commit log") && e.getMessage.contains(root.toString), e.getMessage)
    }
    assert(files() == before, "a write deleted or added files of the earlier layout")
    assert(!Files.exists(root.resolve("_log")) && !Files.exists(root.resolve("other")))
  }

  test("a pin never released holds one entry and one generation of files, however many commits follow") {
    val root = Files.createTempDirectory("graft_log_leak")
    val sink = new UpsertSink(spark, root.toString, numBuckets = 2)
    sink.merge("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    sink.merge("u", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    val leaked = sink.snapshot("t") // never closed
    val pinnedFiles = referenced(root, "t")
    for (i <- 1 to 6) {
      sink.merge("t", Seq((1L, s"t$i")).toDF("id", "v"), Seq("id"))
      sink.merge("u", Seq((1L, s"u$i")).toDF("id", "v"), Seq("id"))
    }
    assert(entries(root).size == 2, s"entries kept: ${entries(root)}")
    assert(onDisk(root, "t") == referenced(root, "t") ++ pinnedFiles)
    assert(onDisk(root, "u") == referenced(root, "u"))
    assert(leaked.df.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("the log entry does not grow with applied op ids; each table's manifest holds its own") {
    val root = Files.createTempDirectory("graft_log_size")
    val sink = new UpsertSink(spark, root.toString, numBuckets = 2)
    sink.merge("a", Seq((1L, 1L)).toDF("k", "cnt"), Seq("k"))
    sink.merge("b", Seq((1L, 1L)).toDF("k", "cnt"), Seq("k"))
    def headBytes(): Long = entries(root).map(Files.size).sum
    val start = headBytes()
    for (i <- 1 to 8)
      sink.mergeMany(Seq(TableMerge("a", Seq((1L, i.toLong)).toDF("k", "cnt"), Seq("k"),
        pkUnique = true)), Some(s"admit-$i"))
    assert(headBytes() == start, "op ids landed in the root entry")
    assert((1 to 8).forall(i => sink.admitCommitted("a", s"admit-$i")))
    assert(!sink.admitCommitted("b", "admit-1"))
  }
}
