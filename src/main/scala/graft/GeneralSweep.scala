package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** At-scale (sf1.0) Spark-only sweep of the most expensive GENERAL
  * queries — the non-pair heads of the clean bench.
  *
  * `tools/sweep_sf1.sh` oracles the general surface at sf1.0 and
  * `PairSweep` covers the 18 quadratic-oracle pair families, but until
  * round 13 the top general costs had no dedicated at-scale wall
  * evidence: the oracle sweep proves VALUES, not that a plan's wall
  * stays sane at 10× data (the pair suite caught an OOM in r11 and an
  * IO wall in r12 exactly this way). This main runs the top-10
  * clean-bench general queries at sf1.0 under a wall cap and asserts
  * one structural invariant each — mostly exact 10× scaling laws that
  * hold because `tools/make_sf1.py` builds sf1.0 as REPS (=10)
  * FK-consistent key-shifted copies of sf0.1 with text / embeddings /
  * attribute values duplicated VERBATIM.
  *
  * Output: one JSON line per query in `SWEEP_SF1_GENERAL.json`;
  * non-zero exit if any invariant fails or a query exceeds the cap.
  */
object GeneralSweep {

  private case class Check(name: String, pass: Boolean, detail: String)

  def main(args: Array[String]): Unit = {
    val sf1 = args(0)
    val sf01 = args(1)
    val outPath = if (args.length > 2) args(2) else "SWEEP_SF1_GENERAL.json"
    val wallCap = sys.env.getOrElse("SPARK_GRAFT_GEN_CAP_SEC", "600").toLong
    // plain profile, zstd included: as in PairSweep, shuffle bytes —
    // not CPU — cap the heavy walls at sf1.0
    var spark = GraftSession.local()
    BoundedWindows.quietWindowWarnings()

    val reps = 10L

    /** sf0.1 twin of the query, for the exact scaling-law checks. */
    def base(name: String): DataFrame = SparkEntry.queries(name)(spark, sf01)

    // One invariant per query — (sf1.0 result, eagerly materialized) ⇒
    // checks. Chosen to fail loudly on the at-scale failure modes each
    // plan could have (dropped rows under memory pressure, a cap
    // silently truncating, AQE re-planning a prefix structure).
    val suites: Seq[(String, DataFrame => Seq[Check])] = Seq(
      "q132_table_stats" -> { df =>
        // per-column profile of lineitem: row counts must be identical
        // across columns and exactly 10× the sf0.1 profile's
        val n1 = df.agg(min("n"), max("n")).head()
        val n0 = base("q132_table_stats").agg(max("n")).head().getLong(0)
        Seq(Check("uniform_n", n1.getLong(0) == n1.getLong(1),
          s"column row counts differ: ${n1.getLong(0)}..${n1.getLong(1)}"),
          Check("scales_10x", n1.getLong(1) == reps * n0,
            s"n=${n1.getLong(1)}, expected ${reps * n0}"))
      },
      "q194_bootstrap_ci" -> { df =>
        val bad = df.filter(col("boot_lo") > col("point_mean") ||
          col("point_mean") > col("boot_hi")).count()
        Seq(Check("ci_brackets_mean", bad == 0,
          s"$bad rows where CI does not bracket the point mean"))
      },
      "q353_mmd" -> { df =>
        // the decomposition identity must survive the moment collapse
        val bad = df.filter(
          abs(col("mmd2") - (col("e_xx") + col("e_yy") - lit(2) * col("e_xy")))
            > 1e-9).count()
        val rows = df.count()
        Seq(Check("mmd_identity", bad == 0 && rows == 1,
          s"$rows rows, $bad violating mmd2 = e_xx + e_yy - 2·e_xy"))
      },
      "q285_cluster_stability_ari" -> { df =>
        // 10 verbatim clones per doc: both clusterings see the same
        // pair structure, so ARI stays a valid score and doc coverage
        // is exactly 10× the sf0.1 corpus
        val r = df.head()
        val n0 = base("q285_cluster_stability_ari").head().getLong(0)
        val ari = r.getDouble(r.fieldIndex("ari"))
        Seq(Check("docs_10x", r.getLong(0) == reps * n0,
          s"n_docs=${r.getLong(0)}, expected ${reps * n0}"),
          Check("ari_range", ari >= -1.0 && ari <= 1.0, s"ari=$ari"))
      },
      "q147_incremental_join" -> { df =>
        // FK-consistent copies join strictly within-copy ⇒ exact 10×
        val rows = df.count()
        val rows0 = base("q147_incremental_join").count()
        Seq(Check("rows_10x", rows == reps * rows0,
          s"$rows rows, expected ${reps * rows0}"))
      },
      "q268_jaccard_threshold_curve" -> { df =>
        // admission curve must stay monotone non-increasing in the
        // threshold — a bucket cap dropping pairs at scale breaks this
        // before it breaks any single point
        val w = org.apache.spark.sql.expressions.Window.orderBy("threshold")
        val bad = df.select(col("threshold"),
          (col("n_pairs") - lag("n_pairs", 1).over(w)).as("dp"),
          (col("n_docs") - lag("n_docs", 1).over(w)).as("dd"))
          .filter(col("dp") > 0 || col("dd") > 0).count()
        Seq(Check("curve_monotone", bad == 0,
          s"$bad thresholds where pairs/docs increase with threshold"))
      },
      "q84_gap_fill" -> { df =>
        // the filled hour grid must be contiguous per user: row count
        // = (max−min)/3600s + 1, no duplicate hours
        val g = df.groupBy("user_id").agg(count(lit(1)).as("n"),
          countDistinct("hour_us").as("nd"),
          ((max("hour_us") - min("hour_us")) / lit(3600000000L) + 1)
            .cast("long").as("want"))
        val bad = g.filter(col("n") =!= col("want") ||
          col("nd") =!= col("n")).count()
        Seq(Check("grid_contiguous", bad == 0,
          s"$bad users with holes or duplicate hours in the filled grid"))
      },
      "q83_bpe_pairs" -> { df =>
        // text duplicated verbatim ⇒ every adjacent-pair frequency is
        // exactly 10× its sf0.1 value, same pair vocabulary
        val b = base("q83_bpe_pairs")
          .select(col("pair"), col("freq").as("freq0"))
        val joined = df.join(b, Seq("pair"), "full_outer")
        val bad = joined.filter(col("freq").isNull || col("freq0").isNull ||
          col("freq") =!= lit(reps) * col("freq0")).count()
        Seq(Check("freq_10x", bad == 0,
          s"$bad pairs missing or not exactly 10× the sf0.1 frequency"))
      },
      "q56_ann_ivf_kmeans" -> { df =>
        // nine verbatim clones of every vector share its IVF cell, so
        // every probe's rank-1 neighbor is an exact duplicate
        val bad1 = df.filter(col("rank") === 1 && col("cos") < 0.999999)
          .count()
        val dupRank = df.groupBy("probe_id", "rank").count()
          .filter(col("count") > 1).count()
        Seq(Check("rank1_exact_dup", bad1 == 0,
          s"$bad1 probes whose nearest neighbor is not an exact clone"),
          Check("ranks_unique", dupRank == 0,
            s"$dupRank duplicated (probe, rank) slots"))
      },
      "q366_distance_correlation" -> { df =>
        // daily counts scale exactly 10× and dCor is scale-invariant:
        // every Ã entry is ×10 the sf0.1 integer, so the ratio is the
        // same real number — only double rounding of the larger sums
        // can move it (≤ ulps)
        val r1 = df.head()
        val r0 = base("q366_distance_correlation").head()
        Seq(Check("same_day_grid", r1.getLong(0) == r0.getLong(0),
          s"n_days ${r1.getLong(0)} vs ${r0.getLong(0)}"),
          Check("dcor_scale_invariant",
            math.abs(r1.getDouble(2) - r0.getDouble(2)) <= 1e-9,
            s"dcor ${r1.getDouble(2)} vs ${r0.getDouble(2)}"))
      },
      "q358_survival_concordance" -> { df =>
        // user-week subjects are 10 verbatim behavioral clones ⇒ every
        // grid cell ×10, permissible pairs ×100, C-index unchanged
        val r1 = df.head()
        val r0 = base("q358_survival_concordance").head()
        Seq(Check("subjects_10x",
          r1.getLong(0) == reps * r0.getLong(0),
          s"subjects ${r1.getLong(0)}, expected ${reps * r0.getLong(0)}"),
          Check("pairs_100x",
            r1.getLong(1) == reps * reps * r0.getLong(1),
            s"pairs ${r1.getLong(1)}, expected " +
              s"${reps * reps * r0.getLong(1)}"),
          Check("c_index_invariant",
            math.abs(r1.getDouble(2) - r0.getDouble(2)) <= 1e-12,
            s"c ${r1.getDouble(2)} vs ${r0.getDouble(2)}"))
      },
      "q368_burrows_delta" -> { df =>
        // verbatim text clones: per-source relative frequencies are
        // (10c)/(10N) = the SAME real number ⇒ identical doubles ⇒ the
        // whole stylometric report is bit-equal to the sf0.1 run
        val got = df.collect().toSeq
        val want = base("q368_burrows_delta").collect().toSeq
        Seq(Check("report_bit_equal", got == want,
          s"${got.length} rows vs ${want.length}; first diff: " +
            got.zip(want).find { case (a, b) => a != b }
              .map(_.toString).getOrElse("none").take(200)))
      },
      "q376_ipf_raking" -> { df =>
        // raw counts ×10 ⇒ IPF weights ×10 (same fixed point, scaled);
        // column-margin exactness must survive the scale-up
        val j = df.select(col("wd"), col("event_type"),
            col("weight").as("w1"))
          .join(base("q376_ipf_raking").select(col("wd"),
            col("event_type"), col("weight").as("w0")),
            Seq("wd", "event_type"))
        val bad = j.filter(
          abs(col("w1") - lit(reps) * col("w0")) >
            lit(1e-6) * col("w1")).count()
        Seq(Check("weights_10x", bad == 0,
          s"$bad cells where sf1.0 weight != 10x the sf0.1 weight"))
      },
      "q62_range_join" -> { df =>
        // window anchors are hash-selected on the SHIFTED order keys,
        // so the window set re-rolls per copy — but ship DATES are
        // duplicated verbatim, so any [lo, hi) window catches exactly
        // 10 copies of every base lineitem: every count is divisible
        // by 10, and a silent drop in the bucketized rewrite breaks
        // divisibility before it breaks any aggregate
        val bad = df.filter(col("n_shipments") % reps =!= 0).count()
        val rows = df.count()
        Seq(Check("counts_divisible", bad == 0 && rows > 0,
          s"$rows windows, $bad with n_shipments not divisible by $reps"))
      }
    )

    def jstr(s: String) = "\"" + s.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    val keep = NameFilter(sys.env.getOrElse("SPARK_GRAFT_GEN_FILTER", ""))
    val selected = suites.filter { case (n, _) => keep(n) }
    // list mode for the fork-per-suite driver — see PairSweep
    if (sys.env.contains("SPARK_GRAFT_SWEEP_LIST")) {
      selected.foreach { case (n, _) => println(n) }
      spark.stop()
      return
    }
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    var failures = 0
    for ((name, checksOf) <- selected) {
      if (spark.sparkContext.isStopped) {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = GraftSession.local()
        BoundedWindows.quietWindowWarnings()
      }
      val t0 = System.nanoTime()
      val suiteBefore = SweepSampling.persistentIds(spark.sparkContext)
      val res =
        try {
          // min-of-N wall (SPARK_GRAFT_SWEEP_SAMPLES, default 1) — the
          // same suite-order-noise antidote as PairSweep: sample 2+
          // never pays the previous suite's page-cache/GC debris.
          val samples = SweepSampling.samples()
          var mat: DataFrame = null
          var secs = Double.MaxValue
          var prevSample = Set.empty[Int]
          for (i <- 1 to samples) {
            if (i > 1)
              SweepSampling.unpersistIds(spark.sparkContext, prevSample)
            val sampleBefore =
              SweepSampling.persistentIds(spark.sparkContext)
            val t1 = System.nanoTime()
            val df = SparkEntry.queries(name)(spark, sf1)
            mat = df.localCheckpoint(eager = true,
              org.apache.spark.storage.StorageLevel.DISK_ONLY)
            secs = math.min(secs, (System.nanoTime() - t1) / 1e9)
            prevSample =
              SweepSampling.persistentIds(spark.sparkContext) -- sampleBefore
          }
          val rows = mat.count()
          val checks = checksOf(mat)
          val capOk = Check("wall_cap", secs <= wallCap,
            f"$secs%.1f s vs cap $wallCap s")
          (secs, rows, checks :+ capOk, None: Option[String])
        } catch {
          case e: Throwable =>
            ((System.nanoTime() - t0) / 1e9, -1L,
              Seq(Check("ran", pass = false,
                Option(e.getMessage).getOrElse(e.getClass.getName).take(300))),
              Some(e.getClass.getName))
        }
      // scoped to the suite's own RDD ids — see PairSweep
      SweepSampling.unpersistIds(spark.sparkContext,
        SweepSampling.persistentIds(spark.sparkContext) -- suiteBefore)
      val (secs, rows, checks, err) = res
      val bad = checks.filterNot(_.pass)
      failures += bad.size
      val status = if (bad.isEmpty) "OK  " else "FAIL"
      println(f"$status $name%-30s ${secs}%7.1f s  rows=$rows  " +
        bad.map(c => s"${c.name}: ${c.detail}").mkString("; "))
      lines += ("{" +
        s"${jstr("query")}: ${jstr(name)}, " +
        f"""${jstr("seconds")}: $secs%.2f, """ +
        s"${jstr("rows")}: $rows, " +
        s"${jstr("pass")}: ${bad.isEmpty}, " +
        s"${jstr("checks")}: {" + checks.map(c =>
          s"${jstr(c.name)}: {${jstr("pass")}: ${c.pass}, " +
            s"${jstr("detail")}: ${jstr(c.detail)}}").mkString(", ") + "}" +
        err.map(e => s", ${jstr("error")}: ${jstr(e)}").getOrElse("") +
        "}")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      lines.mkString("[\n", ",\n", "\n]\n"))
    println(s"\n${selected.size - lines.count(_.contains("\"pass\": false"))} " +
      s"of ${selected.size} queries green -> $outPath")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
