package graft

/** Driver-run benchmark: every query executed to completion against
  * `SPARK_GRAFT_SF_DIR`, one JSON line on stdout.
  *
  * Results go to the `noop` sink — unlike `.count()`, this forces full
  * evaluation of every projected column (count() lets Catalyst prune the
  * entire projection away, which would "benchmark" an empty scan for
  * map-only queries).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The one override of GraftSession.profile: lz4, not the profile's
    // zstd. The 3-sample sf0.1 A/B measured zstd a net loss here (401 s
    // vs 393 s; q106 4.7→9.3 s) because local small-SF shuffles sit in
    // page cache and the better ratio buys no IO back, only CPU. The
    // at-scale paths (sf1.0 sweeps, GraftSession deployments) keep
    // zstd, where shuffle bytes are the binding constraint — see
    // SCALE.md. The profile's 8192-entry codegen class cache is what
    // lets min-of-N reach a warm state: this surface generates a few
    // thousand distinct classes per full pass.
    val spark = GraftSession.local(
      overrides = Map("spark.io.compression.codec" -> "lz4"))
    BoundedWindows.quietWindowWarnings()
    // min of three executions per query: the box runs periodic background
    // jobs and a single sample can catch a load spike (observed 0.3s
    // queries reading 25s once, and min-of-2 still inflated untouched
    // queries 4-8x in one round); min-of-N is the standard noise floor.
    // A failed query must surface as an error entry and a non-zero exit,
    // never as a near-zero "fast" sample — otherwise a broken query makes
    // the benchmark LOOK faster and the gate still passes.
    // Malformed values fail fast with the env var named — an uncaught
    // NumberFormatException before any query runs is a confusing way to
    // learn you typed "3x".
    val samplesPerQuery = sys.env.get("SPARK_GRAFT_BENCH_SAMPLES") match {
      case None => 3
      case Some(raw) => scala.util.Try(raw.trim.toInt).toOption match {
        case Some(n) if n >= 1 => n
        case _ => sys.error(
          s"SPARK_GRAFT_BENCH_SAMPLES must be an integer >= 1, got '$raw'")
      }
    }
    // first failure per query name — with interleaved rounds a query that
    // fails every round would otherwise append one entry per round,
    // producing duplicate keys in the errors JSON object (most parsers
    // silently keep one arbitrary value)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Optional dev filter (NameFilter grammar), e.g.
    // SPARK_GRAFT_BENCH_FILTER=q26,q45; unset, the full set is benched.
    val keep = NameFilter(sys.env.getOrElse("SPARK_GRAFT_BENCH_FILTER", ""))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => keep(n) }
    // Warm the JVM/codegen/classloader paths so per-query numbers measure
    // the engine, not first-use compilation. Through r16 the warmup ran
    // ONE query (q03) — useless for the other 409: each query's stages
    // generate their own codegen classes, so a single-sample run (what
    // the r16 driver got: its one round blew the 600 s budget) timed
    // janino + Catalyst first-use costs in EVERY query (round 1 of the
    // r17 baseline read 578.8 s vs 408.6 s min-of-3, BENCH_CLEAN_r17_pre).
    // The warmup therefore runs every SELECTED query once against the
    // SMALLEST scale factor (default sf0.001) to the noop sink before any
    // timing starts: plan shapes (and thus generated classes) match the
    // benched SF because they depend on schema, not data volume. Nothing
    // about the timed region changes — every timed execution still
    // computes from the benched parquet inputs; the warmup only
    // populates JVM compiler caches (the profile's codegen cache is
    // sized so they survive). Without the warm-up dir it falls back to
    // the single entry query.
    // (runs AFTER the quiet-host gate below — the warmup itself loads the
    // box, so gating on loadavg after it would stall 180 s on self-load)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP_DIR",
      "/root/testdata/sf0.001")
    def runWarmup(): Unit = {
      val warmT0 = System.nanoTime()
      if (new java.io.File(warmDir).isDirectory) {
        var warmFailed = 0
        selected.foreach { case (name, fn) =>
          try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            // a warmup failure is not a bench failure: the timed run
            // of the same query surfaces (and records) the real error
            warmFailed += 1
            System.err.println(
              s"[bench] warmup $name failed (ignored): ${e.getMessage}")
          }
        }
        System.err.println(f"[bench] warmup: ${selected.size} queries at " +
          f"$warmDir in ${(System.nanoTime() - warmT0) / 1e9}%.1fs " +
          s"($warmFailed failed)")
      } else {
        System.err.println(s"[bench] warmup dir $warmDir missing; " +
          "falling back to entry warmup")
        SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
      }
    }
    // 1-minute load average before/after: a polluted run (another process
    // hogging the box mid-bench) is then self-identifying from the JSON
    // alone instead of needing round-over-round forensics.
    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // Quiet-host gate: min-of-3 only suppresses noise if at least one
    // round runs on a quiet box; round-6's numbers were poisoned because
    // all sampling started under loadavg ~8. Wait (bounded) for the
    // 1-minute loadavg to drop below the threshold before sampling;
    // proceed anyway after the timeout — the per-round loadavg fields
    // still make a loud host self-identifying from the JSON.
    val maxLoad = sys.env.get("SPARK_GRAFT_BENCH_MAX_LOAD")
      .flatMap(v => scala.util.Try(v.trim.toDouble).toOption)
      .getOrElse(4.0)
    val gateDeadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
    while (loadavg() > maxLoad && System.nanoTime() < gateDeadline) {
      System.err.println(s"[bench] loadavg ${loadavg()} > $maxLoad, waiting for a quiet host")
      Thread.sleep(10000)
    }
    val loadBefore = loadavg() // external load, read BEFORE the warmup
    runWarmup()
    // INTERLEAVED rounds, not back-to-back samples: run the full query
    // list once, then again, then again, taking the per-query min across
    // rounds. Three consecutive samples of one query all fit inside a
    // multi-minute host spike (observed: one spike poisoned every sample
    // of two queries, +15s of phantom time); with whole-list rounds a
    // spike inflates at most one round's sample per query while the other
    // rounds stay clean. Per-round loadavg makes a poisoned round
    // self-identifying from the JSON alone.
    // Wall-clock budget: the r11 driver run hit rc=124 (SIGTERM) mid-round
    // 3 because 3 rounds x 298 queries + compile + the quiet-host gate no
    // longer fit the driver's window, leaving the official artifact
    // unparseable. Two fixes, per the r11 verdict: (1) persist the JSON
    // artifact after EVERY round, so a kill at any point still leaves a
    // complete parseable line from the last finished round; (2) stop
    // sampling early when elapsed + the projected next round would blow the
    // budget, exiting 0 with "samples" = rounds actually achieved.
    val wallBudgetS = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_S")
      .flatMap(v => scala.util.Try(v.trim.toDouble).toOption)
      .getOrElse(600.0)
    val benchStart = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - benchStart) / 1e9
    // r16 soft disk preflight: an sf3-scale shuffle dies mid-spill hours
    // in when /tmp fills (the r15 q106 lesson) — warn up front here;
    // tools/disk_preflight.sh is the strict scripted version (it also
    // cleans stale /tmp/blockmgr-* from crashed runs).
    locally {
      val usableGb = new java.io.File("/tmp").getUsableSpace / (1L << 30)
      val floorGb = sys.env.get("SPARK_GRAFT_DISK_FLOOR_GB")
        .flatMap(v => scala.util.Try(v.trim.toLong).toOption).getOrElse(20L)
      if (usableGb < floorGb)
        System.err.println(s"[bench] WARNING: ${usableGb}G free on /tmp < " +
          s"${floorGb}G floor — a spill-heavy run may fail mid-shuffle; " +
          "run tools/disk_preflight.sh or free disk first")
    }
    val sampled = scala.collection.mutable.Map.empty[String, Double]
    val roundLoads = scala.collection.mutable.ArrayBuffer.empty[Double]

    def artifactLine(samplesDone: Int): String = {
      val results = selected.map { case (name, _) => name -> sampled.get(name) }
      val qs = results.collect { case (k, Some(v)) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val total = results.flatMap(_._2).sum
      val errJson = errors.map { case (k, m) =>
        "\"" + k + "\":\"" + m.replaceAll("[\"\\\\\n\r\t]", " ").take(200) + "\""
      }.mkString("{", ",", "}")
      val errField = if (errors.nonEmpty) s""","errors":$errJson""" else ""
      val roundLoadJson = roundLoads.mkString("[", ",", "]")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$errField,"samples":$samplesDone,"loadavg_before":$loadBefore,"loadavg_rounds":$roundLoadJson,"loadavg_after":${loadavg()},"sf":"$sfDir"}"""
    }
    // Persist after every round: the round-7 artifact lost q01–q24 when the
    // driver only captured the tail of stdout, and the r11 artifact was
    // lost entirely to a mid-round SIGTERM. The file is the durable copy.
    // A PREVIOUS run's artifact at the same SF is moved aside (suffixed
    // with its own mtime) rather than destroyed — the r15 sf3 campaign
    // lost a result to a silent same-SF overwrite and had to reconstruct
    // it from the log.
    var priorArtifactSaved = false
    def persist(line: String): Unit = try {
      val sfName = new java.io.File(sfDir).getName
      val outDir = new java.io.File("target")
      outDir.mkdirs()
      val f = new java.io.File(outDir, s"bench_$sfName.json")
      if (!priorArtifactSaved) {
        priorArtifactSaved = true
        if (f.exists()) {
          val bak = new java.io.File(outDir,
            s"bench_$sfName.${f.lastModified() / 1000}.bak.json")
          if (f.renameTo(bak))
            System.err.println(s"[bench] prior artifact kept as ${bak.getPath}")
          else
            System.err.println(s"[bench] WARNING: could not preserve prior " +
              s"${f.getPath}; overwriting")
        }
      }
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.println(line) finally w.close()
      System.err.println(s"[bench] wrote ${f.getPath}")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
    }

    // Compact summary line (the shape the driver's tail parser reads):
    // total + sample count + a pointer to the durable per-query file + a
    // fixed headline subset of per-query timings — never the full map,
    // which overflows a small tail window (the r12 `parsed: null` lesson).
    val headline = Seq(
      "q01_pricing_summary", "q03_region_revenue", "q25_minhash_signature",
      "q28_ngram_jaccard", "q45_dedup_clusters", "q56_ann_ivf_kmeans",
      "q62_range_join", "q147_incremental_join", "q166_linkage_clusters",
      "q194_bootstrap_ci", "q198_golden_record", "q285_cluster_stability_ari",
      "q353_mmd")
    def summaryLine(samplesDone: Int): String = {
      val headJson = headline
        .flatMap(k => sampled.get(k).map(v => "\"" + k + "\":" + v))
        .mkString("{", ",", "}")
      val total = selected.flatMap { case (n, _) => sampled.get(n) }.sum
      val sfName = new java.io.File(sfDir).getName
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$headJson,"samples":$samplesDone,"n_queries":${sampled.size},"n_errors":${errors.size},"queries_file":"target/bench_$sfName.json","sf":"$sfDir"}"""
    }

    var samplesDone = 0
    var lastRoundS = 0.0
    var budgetStop = false
    while (samplesDone < samplesPerQuery && !budgetStop) {
      // Projected cost of the next round = last round's wall time (the
      // first round always runs: a budget too small for one round still
      // yields a 1-sample artifact rather than none).
      if (samplesDone > 0 && elapsedS + lastRoundS > wallBudgetS) {
        System.err.println(
          f"[bench] budget stop: elapsed $elapsedS%.0fs + projected " +
          f"$lastRoundS%.0fs > budget $wallBudgetS%.0fs; " +
          s"keeping $samplesDone of $samplesPerQuery rounds")
        budgetStop = true
      } else {
        val r0 = System.nanoTime()
        selected.foreach { case (name, fn) =>
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val sec = (System.nanoTime() - t0) / 1e9
            sampled.updateWith(name) {
              case Some(prev) => Some(math.min(prev, sec))
              case None => Some(sec)
            }
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            errors.getOrElseUpdate(name,
              Option(e.getMessage).getOrElse(e.getClass.getName))
          }
        }
        lastRoundS = (System.nanoTime() - r0) / 1e9
        roundLoads += loadavg()
        samplesDone += 1
        persist(artifactLine(samplesDone))
        // r17: ALSO emit the full + compact lines on stdout after every
        // round, not only at the end. The r16 driver run took a single
        // ~1100 s round under contention; had it been SIGTERM'd mid-round
        // (the r11 failure mode) the tail would have held no parseable
        // line at all. With per-round emission, a kill at ANY point after
        // round 1 still leaves the last finished round's compact summary
        // as the most recent complete stdout line.
        println(artifactLine(samplesDone))
        println(summaryLine(samplesDone))
      }
    }
    val line = artifactLine(samplesDone)
    // Full artifact first (for humans reading the whole log and as a
    // stdout copy of the durable file), COMPACT summary line LAST.
    // The driver tail-captures stdout and parses the final line; with 353
    // queries the full line is ~17 KB and overflows the tail window —
    // r12's official artifact came back `parsed: null` with the captured
    // fragment starting mid-map. The last line must therefore always fit
    // a small tail: total + sample count + a pointer to the durable
    // per-query file + a fixed headline subset of per-query timings (so
    // the documented {"metric","value","unit","queries","sf"} shape still
    // holds), never the full map.
    println(line)
    persist(line)
    val summary = summaryLine(samplesDone)
    println(summary)
    // Belt and braces for the driver's tail parser: the same summary on
    // stderr too, in case the stdout channel picks up any logger prefix
    // (build.sbt's StdoutOutput strategy should already make the stdout
    // line prefix-free — this is the second independent delivery path).
    System.err.println(summary)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
