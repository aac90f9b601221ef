package graft.app

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.{Catalog, GraftSession}

/** Dev profiler for ANY catalog query: runs the query through the
  * bench's noop-sink methodology with a SparkListener attached, then
  * prints (a) Spark job wall time aggregated by the job's first stage
  * name (the triggering call site — "collect at EraseOps.scala:369")
  * and (b) a driver-thread stack sampler's view of the DRIVER GAP (the
  * wall time not covered by any running job: fs walks, plan analysis,
  * parquet footer reads) — so a multi-action lifecycle arc is
  * attributable line-by-line without touching the op code.
  *
  * Usage: QueryProfile <queryName> [sfDir] [passes]
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession.create()
    // dev experiment knob: SPARK_GRAFT_PROFILE_CONF="k=v;k=v" applies
    // runtime-settable session confs before profiling (e.g. measuring
    // a query with spark.sql.adaptive.enabled=false)
    sys.env.get("SPARK_GRAFT_PROFILE_CONF").foreach(_.split(';')
      .map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => spark.conf.set(k, v)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_PROFILE_CONF entry '$kv' is not key=value")
        }
      })
    val q = Catalog.byName(name)

    val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    @volatile var activeJobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // prefer the op-level label (guide §1.5) over the call site —
        // AQE stage-materialization jobs all share the same
        // CompletableFuture submission frame, which attributes nothing
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.headOption.map(_.name).getOrElse("?"))
        activeJobs += 1
        jobStart.put(e.jobId, (e.time, site))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        activeJobs -= 1
        Option(jobStart.remove(e.jobId)).foreach { case (t0, site) =>
          jobs.add((e.jobId, (e.time - t0) / 1e3, site))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // driver-gap sampler: every 20 ms, if no job is running, sample the
    // main thread's stack and count the deepest graft/spark frame
    val main = Thread.currentThread()
    val gapCounts = new ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling && activeJobs == 0) {
          val st = main.getStackTrace
          val frame = st.find { f =>
            val c = f.getClassName
            (c.startsWith("graft.") || c.startsWith("org.apache.spark.sql.")) &&
              !c.contains("QueryProfile")
          }.map(f => s"${f.getClassName.split('.').last}.${f.getMethodName}" +
            s":${f.getLineNumber}").getOrElse(
            st.drop(2).headOption.map(f =>
              s"${f.getClassName}.${f.getMethodName}").getOrElse("?"))
          gapCounts.merge(frame, 1, (a, b) => a + b)
        }
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    def drain(): Unit = Thread.sleep(300)

    def runOnce(): Double = {
      val t0 = System.nanoTime()
      q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val tw = runOnce()
    println(f"[profile] warmup pass: $tw%.3f s")
    (1 to passes).foreach { p =>
      drain()
      jobs.clear(); gapCounts.clear()
      sampling = true
      val wall = runOnce()
      sampling = false
      drain()
      val js = jobs.asScala.toSeq.sortBy(_._1)
      val jsum = js.map(_._2).sum
      println(f"--- pass $p: wall $wall%.3f s, jobs ${js.size}, job-time $jsum%.3f s, driver gap ${wall - jsum}%.3f s ---")
      println("[profile] job time by call site:")
      js.groupBy(_._3).map { case (site, g) => (g.map(_._2).sum, g.size, site) }
        .toSeq.sortBy(-_._1).foreach { case (t, n, site) =>
          if (t >= 0.05) println(f"  ${t}%8.3f s  n=$n%3d  ${site.take(100)}")
        }
      println("[profile] driver gap by sampled frame (20ms samples):")
      gapCounts.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (f, n) =>
        println(f"  ${n * 0.020}%8.2f s  ${f.take(110)}")
      }
    }
    spark.stop()
  }
}
