package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Date

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.control.ControlPlane.{Alerter, FileConfig}
import graft.etl.Scd2
import graft.runner.DailyJob

/** Benchmark program: one workload per JVM, a closed loop with a single
  * client on a `GraftSession.local(nproc)` session, timed through the
  * library's public API only.
  *
  * {{{
  * Main --workload daily_warehouse|query_mix
  *      --seed N --seconds S --trace 0|1
  *      --work DIR --plan FILE --data DIR --result FILE
  * }}}
  *
  * The feeds and the plan (which feed each day of the chain reads) are
  * generated beforehand by `perfbench/feed.py`; this program only runs
  * them, checks the warehouse invariants outside the timed region, and
  * writes raw per-op timings, check counts and (traced run) per-layer
  * totals to `--result` as JSON. `perfbench/run.py` turns them into the
  * reported metrics.
  *
  * A round is the chain of days from an empty warehouse
  * (`daily_warehouse`, one round per process: the chain is measured cold)
  * or one pass over the query list (`query_mix`, as many rounds as
  * `--seconds` holds at [[QueryMix.RoundS]] each). In a traced run every
  * round is traced.
  *
  * Set-up is timed as the median of [[SessionStarts]] session starts (the
  * first, cold one included) plus the workload's warm-up.
  *
  * The session is the library's own `GraftSession.local(nproc)`; only
  * deployment paths (local dir, warehouse dir) arrive as `-Dspark.*`
  * system properties from `run.py`.
  */
object Main {

  final case class Op(name: String, latencyS: Double, rows: Long, ok: Boolean)
  final case class Round(index: Int, wallS: Double, ops: Seq[Op])
  final case class PlanDay(day: Date, csv: String, from: Date, until: Date,
                           rows: Long)

  /** Session starts timed per run; the session of the last one is used. */
  val SessionStarts = 15

  /** Records every alert the runner raises; a day with one is a failed op. */
  final class CountingAlerter extends Alerter {
    val subjects = mutable.ArrayBuffer.empty[String]
    override def alert(subject: String, body: String): Unit =
      subjects.synchronized(subjects += s"$subject: $body")
  }

  trait Workload {
    /** Rounds to time in a run of `seconds`. Fixed from the argument, not
      * from measured time: a fast run would otherwise time more, and
      * warmer, rounds than a slow one.
      */
    def rounds(seconds: Double): Int
    def warmup(): Unit
    def round(index: Int, tr: Trace): Seq[Op]
    /** Checks the round just run; called outside the round's timing. */
    def check(): Unit = ()
    /** JSON describing the correctness checks run so far. */
    def checksJson: String
    def extraJson: String = "{}"
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val startS = (1 to SessionStarts).map { i =>
      val t0 = System.nanoTime()
      val s = GraftSession.local(cores)
      val d = secondsSince(t0)
      if (i < SessionStarts) s.stop()
      d
    }
    val spark = SparkSession.active
    try {
      val w: Workload = workload match {
        case "daily_warehouse" => new DailyWarehouse(spark, work, readPlan(a("plan")))
        case "query_mix" => new QueryMix(spark, work, a("data"), seed)
        case other => sys.error(s"unknown workload $other")
      }
      val tw = System.nanoTime()
      w.warmup()
      val warmupS = secondsSince(tw)

      // After each round, outside its timing, the check. The live heap is
      // taken after the first round: it grows with every further one.
      val tr = new Trace(spark.sparkContext)
      val rounds = mutable.ArrayBuffer.empty[Round]
      var liveHeapMb = 0.0
      for (i <- 0 until w.rounds(seconds)) {
        if (traced) tr.start()
        val tr0 = System.nanoTime()
        val ops = w.round(i, tr)
        val wall = secondsSince(tr0)
        if (traced) tr.stop()
        w.check()
        if (i == 0) liveHeapMb = liveHeap()
        rounds += Round(i, wall, ops)
      }
      val layers = if (traced) tr.layerTotals() else Map.empty[String, Map[String, Double]]

      val sb = new StringBuilder
      sb ++= "{"
      sb ++= s""""workload":${js(workload)},"cores":$cores,"""
      sb ++= s""""session_s":[${startS.mkString(",")}],"warmup_s":$warmupS,"""
      sb ++= s""""live_heap_mb":$liveHeapMb,"trace_overhead_s":${tr.overheadS},"""
      sb ++= "\"rounds\":[" + rounds.map { r =>
        s"""{"index":${r.index},"wall_s":${r.wallS},"ops":[""" +
          r.ops.map(o => s"""{"name":${js(o.name)},"latency_s":${o.latencyS},""" +
            s""""rows":${o.rows},"ok":${o.ok}}""")
            .mkString(",") + "]}"
      }.mkString(",") + "],"
      sb ++= "\"layers\":{" + layers.toSeq.sortBy(_._1).map { case (n, m) =>
        js(n) + ":{" + m.toSeq.sortBy(_._1).map { case (k, v) => s"${js(k)}:$v" }
          .mkString(",") + "}"
      }.mkString(",") + "},"
      sb ++= s""""checks":${w.checksJson},"extra":${w.extraJson}}"""
      Files.write(Paths.get(a("result")), sb.toString.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  def js(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def readPlan(path: String): Seq[PlanDay] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t")).map { f =>
        PlanDay(Date.valueOf(f(0)), f(1), Date.valueOf(f(2)),
          Date.valueOf(f(3)), f(4).toLong)
      }

  /** Heap the program still holds, in MiB: full collections until two in
    * a row leave the same heap in use (to 1 MiB), at most ten. Spark frees
    * broadcasts and shuffle state asynchronously once a collection finds
    * them unreachable, so the first collection alone still counts some of
    * them.
    */
  def liveHeap(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = {
      System.gc(); Thread.sleep(100); mem.getHeapMemoryUsage.getUsed
    }
    var prev = collect()
    var cur = collect()
    var n = 2
    while (math.abs(cur - prev) > (1L << 20) && n < 10) {
      prev = cur; cur = collect(); n += 1
    }
    math.min(prev, cur) / 1048576.0
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Logical-plan node count of a frame's (unanalyzed) lineage. */
  def planNodes(df: DataFrame): Int =
    df.queryExecution.logical.collect { case p => p }.size

  val attrCols: Seq[String] = Seq("brand", "material", "shape", "origin")
  val measures: Seq[String] = Seq("price", "quantity_available")

  /** SCD2 invariants of a warehouse frame plus its version counts, as a
    * JSON object: one open version per key, closed versions older than
    * the key's open version and non-empty.
    */
  def warehouseChecks(dw: DataFrame): String = {
    val open = col("dt_last_update") === lit(Scd2.Sentinel)
    val perKey = dw.groupBy("natural_key").agg(
      sum(when(open, 1).otherwise(0)).as("open"),
      max(when(!open, col("dt_last_update"))).as("closed_end"),
      max(when(open, col("dt_load_to_dw"))).as("open_start"),
      sum(when(!open && col("dt_load_to_dw") >= col("dt_last_update"), 1)
        .otherwise(0)).as("empty_closed"),
      count(lit(1)).as("versions"))
    val r = perKey.agg(
      count(lit(1)),
      sum("versions"),
      sum(when(col("open") =!= 1, 1).otherwise(0)),
      sum(when(col("closed_end") > col("open_start"), 1).otherwise(0)),
      sum("empty_closed")).head()
    s""""keys":${r.getLong(0)},"versions":${r.getLong(1)},""" +
      s""""bad_open_keys":${r.getLong(2)},"bad_order_keys":${r.getLong(3)},""" +
      s""""empty_closed":${r.getLong(4)}"""
  }

  /** The reference's daily job: runExtract → runStaging → runWarehouse →
    * runMart per day, `DailyJob.State` carried from day to day.
    */
  final class DailyWarehouse(spark: SparkSession, work: String,
                             plan: Seq[PlanDay]) extends Workload {
    private val cfg = FileConfig(1, "matkinh", "kinhmatviettin.vn", "",
      "matkinh_daily", "dw_matkinh", "bucket", "daily", "0")
    private val alerter = new CountingAlerter
    private var lastState: Option[DailyJob.State] = None
    private var checks = "{}"

    /** One: only the first chain in a JVM runs cold. */
    def rounds(seconds: Double): Int = 1

    def round(index: Int, tr: Trace): Seq[Op] = {
      var st = DailyJob.initial(spark)
      val ops = plan.zipWithIndex.map { case (d, i) =>
        val k = i + 1
        val alerts = alerter.subjects.size
        val t0 = System.nanoTime()
        val (s1, landed) = tr.span(s"runner.extract#$k")(DailyJob.runExtract(
          st, cfg, d.csv, s"$work/landing", d.day, alerter))
        val s2 = tr.span(s"runner.staging#$k")(DailyJob.runStaging(
          s1, cfg, landed.getOrElse(d.csv), d.day, alerter))
        val s3 = tr.span(s"runner.warehouse#$k")(DailyJob.runWarehouse(
          s2, cfg, d.day, alerter))
        val (s4, star) = tr.span(s"runner.mart#$k")(DailyJob.runMart(
          s3, cfg, d.day, attrCols, measures, d.from, d.until, alerter))
        star.foreach(_.unpersist())
        st = s4
        Op(s"day$k", secondsSince(t0), d.rows, alerter.subjects.size == alerts)
      }
      lastState = Some(st)
      ops
    }

    override def check(): Unit = lastState.foreach { st =>
      val log = st.log.select("time", "status", "count").collect()
        .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2)))
        .sortBy(_._1)
      checks = s"""{${warehouseChecks(st.dw.localCheckpoint())},""" +
        s""""days":[${log.map(_._1).map(js).mkString(",")}],""" +
        s""""statuses":[${log.map(_._2).map(js).mkString(",")}],""" +
        s""""fact_rows":[${log.map(_._3).mkString(",")}]}"""
    }

    /** None: the daily job is measured from a fresh process, the way a
      * scheduled batch runs it, so compiling its plans is part of each day.
      */
    def warmup(): Unit = ()

    def checksJson: String = checks
    override def extraJson: String = lastState.map { st =>
      s"""{"etl.dw_plan_nodes":${planNodes(st.dw)},""" +
        s""""etl.staging_plan_nodes":${planNodes(st.staging)},""" +
        s""""control.log_plan_nodes":${planNodes(st.log)},""" +
        s""""alerts":[${alerter.subjects.take(5).map(js).mkString(",")}]}"""
    }.getOrElse("{}")
  }

  /** Read-side users plus the shared engines: a fixed list of QueryDefs,
    * each built, planned and run to the noop sink, in an order the seed
    * permutes every round.
    */
  final class QueryMix(spark: SparkSession, work: String, data: String,
                       seed: Long) extends Workload {
    private val defs = SparkEntry.allDefs.map(d => d.name -> d).toMap
    private val names = QueryMix.modules.keys.toSeq.sorted
    private val errors = mutable.ArrayBuffer.empty[String]
    private val bad = mutable.Set.empty[String]

    def rounds(seconds: Double): Int =
      math.max(1, math.round(seconds / QueryMix.RoundS).toInt)

    /** One untimed pass that writes every result as parquet: the output
      * the digest check reads (same physical plan as the timed noop runs,
      * since nothing is coalesced), and the pass that compiles every
      * query's code before timing starts.
      */
    def warmup(): Unit = names.foreach { n =>
      try defs(n).fn(spark, data).write.mode("overwrite")
        .parquet(s"$work/qout/$n")
      catch {
        case e: Exception => bad += n; errors += s"$n: $e"
      }
    }

    def round(index: Int, tr: Trace): Seq[Op] = {
      val order = new scala.util.Random(seed * 1000003L + index).shuffle(names)
      order.map { n =>
        val m = QueryMix.modules(n)
        val t0 = System.nanoTime()
        val ok = try {
          val df = tr.span(s"query.$m.build")(defs(n).fn(spark, data))
          tr.span(s"query.$m.plan")(df.queryExecution.executedPlan)
          tr.span(s"query.$m.exec")(noop(df))
          !bad(n)
        } catch {
          case e: Exception => errors += s"$n: $e"; false
        }
        Op(n, secondsSince(t0), 0L, ok)
      }
    }

    def checksJson: String =
      names.map(n => s"${js(n)}:${js(s"$work/qout/$n")}").mkString("{", ",", "}")
    override def extraJson: String =
      s"""{"errors":[${errors.take(5).map(js).mkString(",")}]}"""
  }

  object QueryMix {
    /** Op time of one warm round on a 4-core host, about 7.5 s; it turns
      * `--seconds` into a round count.
      */
    val RoundS = 7.5

    /** Query → the `src/main` module doing its work (the per-layer key). */
    val modules: Map[String, String] = Seq(
      "QueriesCore" -> Seq("q01_pricing_summary"),
      "mart" -> Seq("q66_mart_report_rollup"),
      "etl" -> Seq("q97_incremental_agg"),
      "ext.Dedup" -> Seq("q45_dedup_clusters", "q106_ppjoin"),
      "ext.Stats" -> Seq("q144_exact_percentiles"),
      "ext.Similarity" -> Seq("q85_pq_ann"),
      "ext.TextStats" -> Seq("q161_bpe_train"))
      .flatMap { case (m, qs) => qs.map(_ -> m) }.toMap
  }
}
