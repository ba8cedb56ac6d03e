package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spark-only at-scale sweep of the pair-explosion query families.
  *
  * `tools/sweep_sf1.sh` oracles every query at sf1.0 EXCEPT the 18
  * dedup/linkage/ANN-pair queries, whose DuckDB oracles are quadratic
  * in block/cluster size and blow up ~100x at 10x data. That left the
  * Spark sides of the whole pair stack never executed at sf1.0 — and
  * both round-9 at-scale bugs (q152 AQE re-plan, q133 decimal
  * re-entry) were invisible one SF below. This main closes the hole:
  * it runs each excluded query at sf1.0 and asserts INVARIANTS instead
  * of oracle hashes.
  *
  * The invariants are sharp because of how `tools/make_sf1.py` builds
  * sf1.0: REPS (=10) key-shifted copies of the sf0.1 tables with text /
  * embeddings / attributes duplicated VERBATIM. Hence, writing
  * base(id) = id % OFF and copy(id) = id / OFF (OFF = the power of ten
  * used for the shift):
  *
  *  - any per-doc derived value (signature, simhash, span stats) must
  *    be identical across a base's 10 clones ("clone consistency");
  *  - within one copy, the text-predicate pair set must equal the
  *    sf0.1 pair set exactly ("same-copy equality" — checked against a
  *    fresh sf0.1 run of the same query);
  *  - clones of one base form near-dup pairs with each other: exactly
  *    C(10,2)=45 unordered clone pairs per base (90 ordered for the
  *    containment query), with jaccard/containment exactly 1.0;
  *  - every doc has ≥1 pair at sf1.0 (its clones), so EVERY doc is in
  *    the dedup graph: cluster memberships cover 10×|base docs|, every
  *    cluster is a union of whole clone-sets (size divisible by 10),
  *    and a base's 10 clones always co-cluster;
  *  - each vector's rank-1 neighbor in the kNN graph has cosine 1.0
  *    (nine identical clones exist, sharing its IVF home cell).
  *
  * These hold only while the capped candidate generators drop nothing,
  * so the observed bucket metrics ([[graft.ext.Dedup.MinhashBucketMetrics]]
  * etc., read off `df.queryExecution.observedMetrics` after the single
  * materializing action) are themselves asserted: `oversized_dropped`
  * must be 0 — if data growth ever saturates a bucket cap, this sweep
  * reports it as the first failing invariant rather than a silent
  * recall loss.
  *
  * Output: one JSON line per query (seconds, rows, per-check pass) in
  * `SWEEP_SF1_PAIRS.json`; non-zero exit if any check fails or a query
  * exceeds the wall cap.
  */
/** Shared sweep plumbing (PairSweep + GeneralSweep): min-of-N sampling
  * and SCOPED unpersist — between samples and between suites, release
  * exactly the persistent RDDs the finished work created, never the
  * session's whole persistent set (a wholesale sweep would silently
  * evict any cross-query shared cache a future suite might pin).
  */
private[graft] object SweepSampling {
  /** SPARK_GRAFT_SWEEP_SAMPLES with a floor of 1; a malformed value
    * falls back to 1 LOUDLY (stderr) instead of aborting a multi-hour
    * sweep with an uncaught NumberFormatException.
    */
  def samples(): Int =
    sys.env.get("SPARK_GRAFT_SWEEP_SAMPLES") match {
      case None => 1
      case Some(v) => v.trim.toIntOption match {
        case Some(n) => n.max(1)
        case None =>
          System.err.println(
            s"[sweep] SPARK_GRAFT_SWEEP_SAMPLES='$v' is not an int; " +
              "using 1 sample")
          1
      }
    }

  def persistentIds(sc: org.apache.spark.SparkContext): Set[Int] =
    if (sc.isStopped) Set.empty else sc.getPersistentRDDs.keySet.toSet

  /** Unpersist exactly `ids` (blocking, so the storage memory is back
    * before the next materialization starts).
    */
  def unpersistIds(sc: org.apache.spark.SparkContext,
                   ids: Set[Int]): Unit =
    if (!sc.isStopped) sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (ids.contains(id)) rdd.unpersist(blocking = true)
    }
}

object PairSweep {

  private case class Check(name: String, pass: Boolean, detail: String)

  private def offsetFor(maxVal: Long): Long = {
    var off = 10L
    while (off <= maxVal) off *= 10L
    off
  }

  def main(args: Array[String]): Unit = {
    val sf1 = args(0)
    val sf01 = args(1)
    val outPath = if (args.length > 2) args(2) else "SWEEP_SF1_PAIRS.json"
    val wallCap = sys.env.getOrElse("SPARK_GRAFT_PAIR_CAP_SEC", "600").toLong
    // Plain profile: its zstd codec is this sweep's call too — the pair
    // suites are the repo's biggest shufflers (q106 writes tens of GB
    // of candidate-pair shuffle at sf1.0) and shuffle I/O, not CPU, caps
    // their wall.
    // var, not val: a fatal per-query error (executor OOM) can take the
    // whole local-mode SparkContext down with it — without a fresh
    // session the remaining suites all die of "stopped SparkContext"
    // instead of reporting their own result (observed in the first
    // sf1.0 run: q164's OOM cascaded into 5 spurious failures).
    var spark = GraftSession.local()
    BoundedWindows.quietWindowWarnings()

    def maxOf(dir: String, table: String, c: String): Long =
      spark.read.parquet(s"$dir/$table.parquet")
        .agg(max(col(c))).head().getLong(0)
    val offDoc = offsetFor(maxOf(sf01, "documents", "doc_id"))
    val offVec = offsetFor(maxOf(sf01, "embeddings", "vec_id"))
    val offPart = offsetFor(maxOf(sf01, "part", "p_partkey"))
    val nDocs0 = spark.read.parquet(s"$sf01/documents.parquet").count()
    val nVecs0 = spark.read.parquet(s"$sf01/embeddings.parquet").count()
    val nParts0 = spark.read.parquet(s"$sf01/part.parquet").count()
    val reps = spark.read.parquet(s"$sf1/documents.parquet").count() / nDocs0
    val clonePairs = reps * (reps - 1) / 2 // unordered clone pairs per base

    // ── shared check fragments ─────────────────────────────────────────

    /** id_a < id_b on every row, no duplicate pairs. */
    def orderedDistinct(df: DataFrame, a: String, b: String): Seq[Check] = {
      val bad = df.filter(col(a) >= col(b)).count()
      val dup = df.groupBy(a, b).count().filter(col("count") > 1).count()
      Seq(Check("ordered", bad == 0, s"$bad rows violate $a < $b"),
        Check("distinct_pairs", dup == 0, s"$dup duplicated pairs"))
    }

    /** Exactly `perBase` cross-copy clone pairs per base id; `valueEq`
      * optionally asserts a column's exact value on clone pairs. */
    def clonePairCheck(df: DataFrame, a: String, b: String, off: Long,
                       nBase: Long, perBase: Long,
                       valueEq: Option[(String, Double, Double)]): Seq[Check] = {
      val cl = df.filter(col(a) % off === col(b) % off &&
        col(a) =!= col(b))
      val n = cl.count()
      val base = Check("clone_pairs", n == perBase * nBase,
        s"$n clone pairs, expected ${perBase * nBase}")
      valueEq match {
        case Some((c, v, tol)) =>
          val off0 = cl.filter(abs(col(c) - v) > tol).count()
          base +: Seq(Check(s"clone_$c", off0 == 0,
            s"$off0 clone pairs with |$c - $v| > $tol"))
        case None => Seq(base)
      }
    }

    /** The same-copy pair sets (per copy) equal the sf0.1 pair set. */
    def sameCopyEquality(df1: DataFrame, name: String, a: String,
                         b: String, off: Long): Seq[Check] = {
      val base01 = SparkEntry.queries(name)(spark, sf01)
        .select(col(a).as("ba"), col(b).as("bb")).localCheckpoint()
      val n01 = base01.count()
      // Column./ is DOUBLE division — copy index needs floor division
      def cp(c: String) = floor(col(c) / lit(off.toDouble)).cast("long")
      val same = df1.filter(cp(a) === cp(b))
        .select((col(a) % off).as("ba"), (col(b) % off).as("bb"),
          cp(a).as("cp"))
      val perCopy = same.groupBy("cp").count().localCheckpoint()
      val nCopies = perCopy.count()
      val wrongCnt = perCopy.filter(col("count") =!= n01).count()
      val extra = same.join(base01, Seq("ba", "bb"), "left_anti").count()
      Seq(
        // n01 == 0 ⇒ every copy legitimately has zero same-copy pairs,
        // so ZERO copy groups (not reps) is the consistent outcome
        Check("same_copy_counts",
          (if (n01 == 0) nCopies == 0 else nCopies == reps) && wrongCnt == 0,
          s"$nCopies copies seen, $wrongCnt with count != $n01"),
        Check("same_copy_subset", extra == 0,
          s"$extra same-copy pairs absent from the sf0.1 pair set"))
    }

    /** Cluster outputs: clones co-cluster, sizes divide by reps, label
      * is the min member, membership covers all 10×nBase ids. */
    def clusterChecks(df: DataFrame, idCol: String, clCol: String,
                      off: Long, nBase: Long): Seq[Check] = {
      val rows = df.count()
      val split = df.groupBy(col(idCol) % off)
        .agg(countDistinct(col(clCol)).as("nc"))
        .filter(col("nc") > 1).count()
      val sizes = df.groupBy(clCol).count().localCheckpoint()
      val nonDiv = sizes.filter(col("count") % reps =!= 0).count()
      val badLabel = df.groupBy(clCol).agg(min(col(idCol)).as("mn"))
        .filter(col(clCol) =!= col("mn")).count()
      Seq(
        Check("membership_total", rows == reps * nBase,
          s"$rows member rows, expected ${reps * nBase}"),
        Check("clones_co_clustered", split == 0,
          s"$split bases span multiple clusters"),
        Check("sizes_divisible", nonDiv == 0,
          s"$nonDiv cluster sizes not divisible by $reps"),
        Check("label_is_min_member", badLabel == 0,
          s"$badLabel clusters whose label != min member id"))
    }

    /** oversized_dropped must be 0 on every observed bucket metric. */
    def metricChecks(df: DataFrame, names: Seq[String]): Seq[Check] = {
      val got = df.queryExecution.observedMetrics
      names.map { m =>
        got.get(m) match {
          case Some(r) =>
            val i = r.schema.fieldIndex("oversized_dropped")
            val d = r.getLong(i)
            Check(s"metric_$m", d == 0, s"oversized_dropped=$d")
          case None => Check(s"metric_$m", pass = false, "metric not observed")
        }
      }
    }

    // ── per-query invariant suites ─────────────────────────────────────
    import graft.ext.Dedup

    // PPJoin plan invariants (q106, and q28 since r16): candidate-stage
    // prune bounds (the prefix filter is lossless, so there is no drop
    // counter — only internal consistency), plus verify-stage gate
    // consistency: gate survivors = exact output + collision drops, and
    // drops must be 0 at any physically testable corpus size (a drop
    // requires a 60-bit md5 collision INSIDE a candidate pair).
    def ppjoinMetricChecks(orig: DataFrame, df: DataFrame): Seq[Check] = {
      val got = orig.queryExecution.observedMetrics
      val cand = got.get(Dedup.PpjoinCandidateMetrics) match {
        case Some(r) =>
          val pp = r.getLong(r.schema.fieldIndex("prefix_pairs"))
          val pr = r.getLong(r.schema.fieldIndex("pruned_positional"))
          val ps = r.getLong(r.schema.fieldIndex("pruned_suffix_only"))
          Check("ppjoin_metric_bounds", pr <= pp && ps <= pr,
            s"prefix_pairs=$pp pruned_positional=$pr pruned_suffix_only=$ps")
        case None =>
          Check("ppjoin_metric_bounds", pass = false, "metric not observed")
      }
      val verify = got.get(Dedup.PpjoinVerifyMetrics) match {
        case Some(r) =>
          val gp = r.getLong(r.schema.fieldIndex("gate_pairs"))
          val dr = r.getLong(r.schema.fieldIndex("hash_collision_drops"))
          val out = df.count()
          // observe metrics ACCUMULATE when the same Dataset is
          // re-executed (min-of-N sampling runs the query N times), so
          // gate_pairs must be an exact positive MULTIPLE of the
          // per-run output, not equal to it
          val ok = dr == 0L &&
            (if (out == 0L) gp == 0L else gp % out == 0L && gp >= out)
          Check("ppjoin_verify_gate", ok,
            s"gate_pairs=$gp collision_drops=$dr output_rows=$out")
        case None =>
          Check("ppjoin_verify_gate", pass = false, "metric not observed")
      }
      Seq(cand, verify)
    }

    // Each suite gets (orig, mat): `orig` is the as-built DataFrame whose
    // executed plan carries the observed bucket metrics; `mat` is its
    // localCheckpoint — all data-side checks run on `mat` so the query
    // executes exactly once.
    val suites: Seq[(String, (DataFrame, DataFrame) => Seq[Check])] = Seq(
      "q25_minhash_signature" -> { (_, df) =>
        val sig = df.columns.filterNot(_ == "doc_id")
          .map(c => col(c).cast("string"))
        val inconsistent = df
          .select((col("doc_id") % offDoc).as("base"),
            md5(concat_ws("|", sig.toIndexedSeq: _*)).as("h"))
          .groupBy("base").agg(countDistinct("h").as("nh"))
          .filter(col("nh") > 1).count()
        Seq(Check("rows", df.count() == reps * nDocs0, s"rows=${df.count()}"),
          Check("clone_consistent", inconsistent == 0,
            s"$inconsistent bases with differing signatures"))
      },
      "q26_minhash_pairs" -> { (orig, df) =>
        metricChecks(orig, Seq(Dedup.MinhashBucketMetrics)) ++
          orderedDistinct(df, "id_a", "id_b") ++
          clonePairCheck(df, "id_a", "id_b", offDoc, nDocs0, clonePairs, None) ++
          sameCopyEquality(df, "q26_minhash_pairs", "id_a", "id_b", offDoc)
      },
      "q27_simhash" -> { (_, df) =>
        val inconsistent = df
          .select((col("doc_id") % offDoc).as("base"), col("simhash"))
          .groupBy("base").agg(countDistinct("simhash").as("nh"))
          .filter(col("nh") > 1).count()
        Seq(Check("rows", df.count() == reps * nDocs0, s"rows=${df.count()}"),
          Check("clone_consistent", inconsistent == 0,
            s"$inconsistent bases with differing simhash"))
      },
      "q28_ngram_jaccard" -> { (orig, df) =>
        // q28 executes the prefix-filtered PPJoin plan since r16 (the
        // naive index is test-only): same invariants as q106
        ppjoinMetricChecks(orig, df) ++
          orderedDistinct(df, "id_a", "id_b") ++
          clonePairCheck(df, "id_a", "id_b", offDoc, nDocs0, clonePairs,
            Some(("jaccard", 1.0, 0.0))) ++
          sameCopyEquality(df, "q28_ngram_jaccard", "id_a", "id_b", offDoc)
      },
      "q29_embed_dups" -> { (_, df) =>
        orderedDistinct(df, "id_a", "id_b") ++
          clonePairCheck(df, "id_a", "id_b", offVec, nVecs0, clonePairs,
            Some(("cos", 1.0, 1e-12))) ++
          sameCopyEquality(df, "q29_embed_dups", "id_a", "id_b", offVec)
      },
      "q45_dedup_clusters" -> { (_, df) =>
        clusterChecks(df, "doc_id", "cluster", offDoc, nDocs0)
      },
      "q103_span_dedup" -> { (_, df) =>
        val notAllDup = df.filter(col("dup_frac") =!= 1.0).count()
        val inconsistent = df
          .select((col("doc_id") % offDoc).as("base"), col("n_spans"))
          .groupBy("base").agg(countDistinct("n_spans").as("nv"))
          .filter(col("nv") > 1).count()
        Seq(Check("rows", df.count() == reps * nDocs0, s"rows=${df.count()}"),
          Check("all_spans_duplicated", notAllDup == 0,
            s"$notAllDup docs with dup_frac != 1.0 (every span has 9 clones)"),
          Check("clone_consistent", inconsistent == 0,
            s"$inconsistent bases with differing n_spans"))
      },
      "q105_fuzzy_join" -> { (_, df) =>
        val audit = Dedup.fuzzyBlockAudit(
          spark.read.parquet(s"$sf1/documents.parquet"),
          Seq("source", "lang"))
        val audit0 = Dedup.fuzzyBlockAudit(
          spark.read.parquet(s"$sf01/documents.parquet"),
          Seq("source", "lang"))
        val mx = audit.agg(max("n")).head().getLong(0)
        val mx0 = audit0.agg(max("n")).head().getLong(0)
        orderedDistinct(df, "doc_a", "doc_b") ++
          clonePairCheck(df, "doc_a", "doc_b", offDoc, nDocs0, clonePairs,
            Some(("dist", 0.0, 0.0))) ++
          sameCopyEquality(df, "q105_fuzzy_join", "doc_a", "doc_b", offDoc) :+
          Check("block_growth", mx == reps * mx0,
            s"max block $mx at sf1.0 vs $mx0 at sf0.1 (expect exactly ${reps}x)")
      },
      "q106_ppjoin" -> { (orig, df) =>
        ppjoinMetricChecks(orig, df) ++
          orderedDistinct(df, "id_a", "id_b") ++
          clonePairCheck(df, "id_a", "id_b", offDoc, nDocs0, clonePairs,
            Some(("jaccard", 1.0, 0.0))) ++
          sameCopyEquality(df, "q106_ppjoin", "id_a", "id_b", offDoc)
      },
      "q119_containment_pairs" -> { (orig, df) =>
        val selfp = df.filter(col("id_sub") === col("id_sup")).count()
        val dup = df.groupBy("id_sub", "id_sup").count()
          .filter(col("count") > 1).count()
        Seq(Check("no_self_pairs", selfp == 0, s"$selfp self pairs"),
          Check("distinct_pairs", dup == 0, s"$dup duplicated pairs")) ++
          metricChecks(orig, Seq(Dedup.ContainmentBucketMetrics)) ++
          clonePairCheck(df, "id_sub", "id_sup", offDoc, nDocs0,
            2 * clonePairs, Some(("containment", 1.0, 0.0)))
      },
      "q130_cluster_histogram" -> { (_, df) =>
        val nonDiv = df.filter(col("family_size") % reps =!= 0).count()
        val total = df.agg(sum(col("family_size") * col("n_families")))
          .head().getLong(0)
        Seq(Check("sizes_divisible", nonDiv == 0,
          s"$nonDiv family sizes not divisible by $reps"),
          Check("membership_total", total == reps * nDocs0,
            s"histogram covers $total docs, expected ${reps * nDocs0}"))
      },
      "q137_cluster_survivor" -> { (_, df) =>
        val nonDiv = df.filter(col("family_size") % reps =!= 0).count()
        val badDisc = df.filter(
          col("n_discarded") =!= col("family_size") - 1).count()
        val total = df.agg(sum("family_size")).head().getLong(0)
        Seq(Check("sizes_divisible", nonDiv == 0,
          s"$nonDiv family sizes not divisible by $reps"),
          Check("discarded_arith", badDisc == 0,
            s"$badDisc rows with n_discarded != family_size - 1"),
          Check("membership_total", total == reps * nDocs0,
            s"families cover $total docs, expected ${reps * nDocs0}"))
      },
      "q164_record_linkage" -> { (_, df) =>
        orderedDistinct(df, "id_a", "id_b") ++
          clonePairCheck(df, "id_a", "id_b", offPart, nParts0, clonePairs,
            None) ++
          Seq({
            val badPat = df.filter(col("id_a") % offPart === col("id_b") % offPart
              && col("pattern") =!= "111").count()
            Check("clone_full_agreement", badPat == 0,
              s"$badPat clone pairs without full-agreement pattern")
          }) ++
          sameCopyEquality(df, "q164_record_linkage", "id_a", "id_b", offPart)
      },
      "q166_linkage_clusters" -> { (_, df) =>
        val badSize = df.groupBy("cluster")
          .agg(count(lit(1)).as("n"), max("cluster_size").as("cs"),
            countDistinct("cluster_size").as("ncs"))
          .filter(col("n") =!= col("cs") || col("ncs") > 1).count()
        clusterChecks(df, "p_partkey", "cluster", offPart, nParts0) :+
          Check("cluster_size_column", badSize == 0,
            s"$badSize clusters where cluster_size != member count")
      },
      "q185_semdedup" -> { (_, df) =>
        val total = df.agg(sum("n_members")).head().getLong(0)
        val badPrune = df.filter(
          col("n_pruned") * reps < col("n_members") * (reps - 1) ||
            col("n_pruned") >= col("n_members")).count()
        Seq(Check("membership_total", total == reps * nVecs0,
          s"cells cover $total vectors, expected ${reps * nVecs0}"),
          Check("clone_prune_floor", badPrune == 0,
            s"$badPrune cells pruning fewer than the 9-of-10 clone floor"))
      },
      "q198_golden_record" -> { (_, df) =>
        val nonDiv = df.filter(col("n_members") % reps =!= 0).count()
        val total = df.agg(sum("n_members")).head().getLong(0)
        Seq(Check("sizes_divisible", nonDiv == 0,
          s"$nonDiv clusters not divisible by $reps"),
          Check("membership_total", total == reps * nParts0,
            s"clusters cover $total parts, expected ${reps * nParts0}"))
      },
      "q206_knn_graph" -> { (_, df) =>
        val n1 = spark.read.parquet(s"$sf1/embeddings.parquet").count()
        val rows = df.count()
        val selfp = df.filter(col("probe_id") === col("nn_id")).count()
        val k = df.agg(max("rank").cast("long")).head().getLong(0)
        val badRank = df.groupBy("probe_id")
          .agg(count(lit(1)).as("n"), max("rank").as("mx"))
          .filter(col("n") =!= col("mx")).count()
        val badTop = df.filter(col("rank") === 1 && col("cos") < 0.999999)
          .count()
        Seq(Check("rows", rows == n1 * k, s"$rows rows, expected ${n1 * k}"),
          Check("no_self_pairs", selfp == 0, s"$selfp self neighbors"),
          Check("dense_ranks", badRank == 0,
            s"$badRank probes with non-dense rank sequence"),
          Check("clone_top1", badTop == 0,
            s"$badTop probes whose rank-1 neighbor is not an exact clone"))
      },
      "q218_dedup_savings" -> { (_, df) =>
        val nonDiv = df.filter(col("n_docs") % reps =!= 0 ||
          col("bytes_total") % reps =!= 0).count()
        val total = df.agg(sum("n_docs")).head().getLong(0)
        val badSave = df.filter(col("bytes_saved") >= col("bytes_total") ||
          col("bytes_saved") < (col("bytes_total") * (reps - 1)) / reps)
          .count()
        Seq(Check("sizes_divisible", nonDiv == 0,
          s"$nonDiv clusters with n_docs or bytes_total not divisible by $reps"),
          Check("membership_total", total == reps * nDocs0,
            s"clusters cover $total docs, expected ${reps * nDocs0}"),
          Check("savings_bounds", badSave == 0,
            s"$badSave clusters outside [(reps-1)/reps * total, total) savings"))
      }
    )

    // ── run ────────────────────────────────────────────────────────────
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    // Optional dev filter (NameFilter grammar). Lets one suite rerun
    // after a fix or a contended wall-cap breach without paying the
    // other 17 (the full sweep is ~50 min).
    val keep = NameFilter(sys.env.getOrElse("SPARK_GRAFT_PAIR_FILTER", ""))
    val selected = suites.filter { case (n, _) => keep(n) }
    // list mode: print the selected suite names and exit — the
    // fork-per-suite driver (tools/sweep_sf1_pairs_isolated.sh) uses it
    // to enumerate suites without duplicating the registry in bash.
    if (sys.env.contains("SPARK_GRAFT_SWEEP_LIST")) {
      selected.foreach { case (n, _) => println(n) }
      spark.stop()
      return
    }
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    var failures = 0
    for ((name, checksOf) <- selected) {
      if (spark.sparkContext.isStopped) {
        // a previous suite's fatal error took the local-mode context
        // down; start fresh so this suite reports its own result
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = GraftSession.local()
        BoundedWindows.quietWindowWarnings()
      }
      val t0 = System.nanoTime()
      val suiteBefore = SweepSampling.persistentIds(spark.sparkContext)
      val res =
        try {
          // SPARK_GRAFT_SWEEP_SAMPLES (default 1): re-materialize the
          // query N times and report the MIN wall. The sweep's walls
          // carry suite-order noise even at the corrected 16g heap —
          // r13 measured q166 at 85.3 s when it ran directly behind
          // q164's 147.6M-row materialization vs 14.2 s as a Bench
          // single — and a min-of-2 gives every suite one execution
          // that does not pay the predecessor's page-cache/GC debris.
          // Checks still run on one materialization (the last).
          val samples = SweepSampling.samples()
          var df: DataFrame = null
          var mat: DataFrame = null
          var secs = Double.MaxValue
          var prevSample = Set.empty[Int]
          for (i <- 1 to samples) {
            if (i > 1)
              SweepSampling.unpersistIds(spark.sparkContext, prevSample)
            val sampleBefore =
              SweepSampling.persistentIds(spark.sparkContext)
            val t1 = System.nanoTime()
            df = SparkEntry.queries(name)(spark, sf1)
            // ONE materializing execution per sample, pinned to DISK:
            // q164 alone yields ~160M scored pairs — MEMORY_AND_DISK
            // checkpoint blocks are non-evictable and starve execution
            // memory (UNABLE_TO_ACQUIRE_MEMORY in the first run); disk
            // blocks cost re-read IO instead, which the per-suite
            // checks can afford.
            mat = df.localCheckpoint(eager = true,
              org.apache.spark.storage.StorageLevel.DISK_ONLY)
            secs = math.min(secs, (System.nanoTime() - t1) / 1e9)
            prevSample =
              SweepSampling.persistentIds(spark.sparkContext) -- sampleBefore
          }
          val rows = mat.count()
          val checks = checksOf(df, mat)
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
      // Release every checkpointed RDD THIS SUITE pinned (the result
      // materialization plus the sf0.1 comparison frames and the
      // queries' internal prefix-sum checkpoints) — without this the
      // MemoryStore fills across the 18 queries and later suites die
      // of storage-starved execution memory, not of their own shape.
      // Scoped to the suite's own RDD ids: anything persistent before
      // the suite started is someone else's cache and stays.
      SweepSampling.unpersistIds(spark.sparkContext,
        SweepSampling.persistentIds(spark.sparkContext) -- suiteBefore)
      val (secs, rows, checks, err) = res
      val bad = checks.filterNot(_.pass)
      failures += bad.size
      val status = if (bad.isEmpty) "OK  " else "FAIL"
      println(f"$status $name%-28s ${secs}%7.1f s  rows=$rows  " +
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
