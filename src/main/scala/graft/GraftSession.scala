package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession for the graft engine.
  *
  * - shuffle partitions sized to the local core count (not 200);
  * - AQE on (runtime coalescing + skew-join handling at scale);
  * - UTC session time zone for oracle parity;
  * - nanosecond parquet timestamps surfaced as long (converted to
  *   microsecond timestamps in [[Tables.load]] — the test data is
  *   microsecond-resolution, so the conversion is lossless).
  */
object GraftSession {

  def builder(cpus: String): SparkSession.Builder = {
    // master accepts local[*] but shuffle.partitions needs a number
    val partitions =
      if (cpus == "*") Runtime.getRuntime.availableProcessors().toString
      else cpus
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the engine's SQL functions ship as injected built-ins: every
      // session from this factory (and every newSession() clone, which
      // temp-function registration would NOT survive) resolves graft_*
      // in SQL text. NOTE Spark reads this key from the SparkContext's
      // conf, so it must be present at CONTEXT creation — which this
      // builder guarantees for engine-owned processes; sessions built
      // over a foreign pre-existing context fall back to the modules'
      // idempotent register() calls, which every operator already makes.
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // commit algorithm v2: task commits move output directly into the
      // job's destination instead of the v1 two-phase job-level rename.
      // Safe here BY CONSTRUCTION: every engine write lands where no
      // reader looks (the sink's fresh file names, which no reader sees
      // until its log commit lists them; Verify's fresh output dirs),
      // so v2's only caveat — partial output visible at the final path
      // before job commit — has no observer. At scale this removes one
      // full rename pass per write job (the standard object-store/
      // many-files posture); locally it trims the per-swap fixed cost
      // the lifecycle arcs pay dozens of times.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // ANSI stays ON (Spark 4 default): non-ANSI mode widens decimal
      // intermediates off the compact long-backed fast path (measured 40x
      // on decimal-heavy aggregates). Hash mixing in TextOps therefore
      // uses only overflow-free bit ops.
      .config("spark.ui.enabled", "false")
  }

  /** Session for driver entry points: core count from SPARK_GRAFT_CPUS. */
  def create(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The catalog's only unpartitioned windows run over plan-bounded
    // inputs (top-n lists in TextOps, per-bucket driver-scale offsets in
    // SampleOps — adjudicated benign in rounds 5-7), yet each emits a
    // WindowExec "No Partition Defined" WARN that floods the bench log
    // and the driver's stdout tail-capture. Raise just that logger to
    // ERROR; genuinely unbounded windows would still be caught by the
    // plan-shape specs, which assert the window inputs are bounded.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
