package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: one builder that yields a session provisioned
  * for this engine — extensions (native SQL functions, the top-k
  * strategy, the window-top-k rewrite) plus the conf profile the
  * operators are designed against. A user of the reference switches to
  * this library by replacing their session construction with
  * `GraftSession.builder(...)` (or adding
  * `spark.sql.extensions=graft.functions.GraftExtensions` to an
  * existing cluster config — every conf below is advisory, not
  * load-bearing for correctness).
  *
  * The profile, and why each knob matters at 100 TB:
  *  - AQE on with skew-join splitting: runtime re-planning converts
  *    observed partition sizes into coalesced/split shuffles — the
  *    generic answer to the skew the salted/capped operators handle
  *    structurally.
  *  - `shufflePartitions` is the cluster-sized default the caller
  *    overrides (rule of thumb: 2-3× total executor cores; AQE
  *    coalesces down, it never splits a too-small setting up).
  *  - 128 MiB `maxPartitionBytes` keeps scan tasks near one HDFS/S3
  *    block — larger starves parallelism on wide scans, smaller drowns
  *    the scheduler at 100 TB file counts.
  *  - UTC session timezone: date/timestamp arithmetic must not depend
  *    on driver locale (the oracle-parity discipline, and the only sane
  *    cluster default).
  */
object GraftSession {

  /** Confs every session gets; exposed for callers composing their own
    * builder (e.g. adding cluster master/auth confs).
    */
  val profile: Map[String, String] = Map(
    "spark.sql.extensions" -> classOf[functions.GraftExtensions].getName,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
    // zstd shuffle/spill compression: at deployment scale shuffles are
    // network/disk-bound and zstd's ~2× better ratio on text-heavy rows
    // is nearly free throughput (measured on the sf1.0 sweeps of this
    // repo, where the host's 25 MB/s writeback made it a clear win).
    // Deliberately scale-dependent: the sf0.1 LOCAL bench measured the
    // opposite (401 s zstd vs 393 s lz4, 3-sample A/B — small shuffles
    // sit in page cache, so the extra CPU buys nothing), which is why
    // Bench pins lz4 and only the at-scale paths take this default.
    "spark.io.compression.codec" -> "zstd",
    // Whole-stage-codegen CLASS cache (static conf, driver AND executor
    // JVMs): the default 100 entries thrashes on any workload running
    // more than a handful of distinct queries — this engine's 410-query
    // surface generates a few thousand generated classes, so at the
    // default every repeated execution re-pays janino compilation
    // (~10-100 ms/class). Scale-neutral: a long-lived cluster session
    // re-runs the same operator shapes exactly like the local bench.
    "spark.sql.codegen.cache.maxEntries" -> "8192")

  /** Builder pre-loaded with [[profile]]; `shufflePartitions` should be
    * sized to the cluster (see scaladoc), `master` left unset on a
    * cluster (spark-submit provides it). The repo's only
    * `SparkSession.builder()` call: every main and the tests build here.
    */
  def builder(shufflePartitions: Int, master: Option[String] = None)
  : SparkSession.Builder = {
    val b = SparkSession.builder()
    master.foreach(b.master)
    profile.foreach { case (k, v) => b.config(k, v) }
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
  }

  /** Local width of every session this repo builds (Bench, Verify,
    * Census, the sweeps, the tests): `SPARK_GRAFT_CPUS` when set,
    * otherwise the JVM's available processors. Read once per JVM.
    */
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(raw) => raw.trim.toIntOption.filter(_ >= 1).getOrElse(
      sys.error(s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$raw'"))
  }

  /** Local development/test shape: `local[cores]`, shuffle partitions =
    * cores (a 32-thread single JVM wants 32 partitions, not the 200
    * cluster default — SURVEY §7's local-mode note). `overrides` are
    * applied on top of [[profile]]; a caller passing one says why next
    * to it.
    */
  def local(cores: Int = GraftSession.cores,
            overrides: Map[String, String] = Map.empty): SparkSession = {
    val s = builder(cores, Some(s"local[$cores]"))
      .config("spark.ui.enabled", "false")
      .config(overrides)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    ensureExtensions(s)
  }

  /** `spark.sql.extensions` is a STATIC conf: it only takes effect when
    * the session's SparkContext is born with it. When [[builder]] reuses
    * an existing context (shared notebooks, test JVMs), install the same
    * surface on the live session instead — function registry plus the
    * experimental strategy/rewrite hooks.
    */
  def ensureExtensions(s: SparkSession): SparkSession = {
    if (!s.catalog.functionExists("graft_dot")) {
      functions.GraftFunctions.register(s)
      s.experimental.synchronized {
        if (!s.experimental.extraStrategies
            .contains(plans.TopKPerKey.TopKStrategy))
          s.experimental.extraStrategies =
            s.experimental.extraStrategies :+ plans.TopKPerKey.TopKStrategy
        if (!s.experimental.extraOptimizations
            .contains(plans.WindowTopKRewrite))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ plans.WindowTopKRewrite
      }
    }
    s
  }
}
