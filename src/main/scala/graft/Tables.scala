package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.concurrent.TrieMap

/** Table registry for the driver-generated TPC-H-ish testdata
  * (see TESTDATA.md): one parquet file per table under an sf dir.
  *
  * Scale notes (100 TB design): parquet scans go through the vectorized
  * reader with predicate pushdown + column pruning for free; at cluster
  * scale the same `spark.read.parquet(dir)` call fans out one task per
  * row-group split, so nothing here is local-mode-specific.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any scale factor the
    * reference operates at (region=5, nation=25 rows; supplier/customer
    * grow with sf but stay orders of magnitude below the fact tables).
    */
  val broadcastDims: Set[String] = Set("region", "nation")

  /** Per-session PLAN memo (r17): `spark.read.parquet` resolves the
    * DataSource and reads the parquet footer on every call — measured
    * ~80–115 ms per load, paid once or twice by every one of the 410
    * queries, in every bench round (≈ a quarter of the sub-second
    * board's per-query floor). The memo holds the resolved DataFrame —
    * a logical PLAN plus the snapshotted file listing, the exact
    * metadata a catalog table caches in any long-lived Spark session
    * (guide §6 blesses listing caches explicitly) — never row data:
    * every execution still scans the parquet. Keyed per session
    * (WeakHashMap: a stopped session's entries are collectable) and
    * per (sfDir, table); the testdata dirs are immutable within a JVM
    * run, which is the same assumption Spark's own
    * filesourcePartitionFileCacheSize makes.
    */
  private type Memo[V] =
    java.util.WeakHashMap[SparkSession, TrieMap[(String, String), V]]
  private val planMemo = new Memo[DataFrame]()
  // scan partition counts (see scanPartitions), memoized the same way
  private val partsMemo = new Memo[Int]()

  private def sessionMemo[V](memo: Memo[V], spark: SparkSession)
  : TrieMap[(String, String), V] =
    memo.synchronized {
      var m = memo.get(spark)
      if (m == null) {
        m = TrieMap.empty
        memo.put(spark, m)
      }
      m
    }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    sessionMemo(planMemo, spark).getOrElseUpdate((sfDir, name),
      if (name == "events") loadEvents(spark, sfDir) else
        spark.read.parquet(s"$sfDir/$name.parquet"))

  /** Scan partition count of a table: `.rdd.getNumPartitions` re-plans
    * the scan on every call (~60 ms), so it is probed once per
    * (session, dir, table). Filters/projections never change a scan's
    * partition count, so callers widening a filtered frame may probe the
    * base table through this.
    */
  def scanPartitions(spark: SparkSession, sfDir: String,
                     name: String): Int =
    sessionMemo(partsMemo, spark).getOrElseUpdate((sfDir, name),
      load(spark, sfDir, name).rdd.getNumPartitions)

  /** [[load]] + the conditional round-robin widening the CPU-heavy
    * per-row pipelines need (see QueriesExt.tPar, whose backing this
    * is): memoized like the plan itself, because the `.rdd` probe that
    * decides the widening re-plans the scan on every call (~60 ms).
    * The decision depends only on (dir, table, session width) — width
    * is fixed per session, so the memo key is (dir, "par:" + table).
    */
  def loadPar(spark: SparkSession, sfDir: String, name: String): DataFrame =
    sessionMemo(planMemo, spark).getOrElseUpdate((sfDir, "par:" + name), {
      val df = load(spark, sfDir, name)
      val width = spark.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < width) df.repartition(width) else df
    })

  /** The generator has shipped `events.ts` under several parquet
    * encodings over time — TIMESTAMP(NANOS) (readable only as
    * nanos-since-epoch longs under `nanosAsLong`), TIMESTAMP(MICROS)
    * with isAdjustedToUTC=false (arrives as TIMESTAMP_NTZ), and plain
    * UTC TIMESTAMP. Dispatch on the schema actually read rather than
    * hard-coding one encoding, and normalize to a session-tz
    * TimestampType column in every case — downstream `unix_micros(ts)`
    * callers reject NTZ, and the oracle (DuckDB) sees identical instants
    * because the session timezone is pinned to UTC.
    */
  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // Harmless for micros/UTC files; required to read legacy NANOS files.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        // Legacy nanos-as-long. Integral `div`, not `/`: nanos-since-epoch
        // (~1.7e18) exceeds a double's 53-bit mantissa, so float division
        // would drift the low µs.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // Value-preserving under the UTC session timezone.
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType =>
        raw
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported parquet type $other — expected " +
            "LONG (legacy nanos), TIMESTAMP_NTZ (micros), or TIMESTAMP")
    }
  }
}
