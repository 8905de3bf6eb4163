package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Hot-bucket governance for bucketed pair joins — the one operator behind
 * the MinHash band join, the SimHash block join, the banded Hamming join
 * (image/audio near-dup), the video frame join and the ANN-LSH probe
 * join. Every one of them is an equi-join on a bucket key, so one
 * degenerate bucket (empty docs, templated boilerplate, uniform images,
 * black frames, anisotropic embeddings) makes its join quadratic in ONE
 * task.
 *
 * SALTING CORE ([[salt]]): per bucket holding more than `cap` build rows
 * the BUILD side takes ONE salt, `pmod(xxhash64(id), __nsplit)` with
 * `__nsplit = ceil(n / cap)` ([[nsplit]]), while the PROBE side is
 * replicated to ALL `__nsplit` salts — every within-bucket pair still
 * meets exactly once (at the build row's salt), but the bucket's work
 * spreads over `__nsplit` tasks. The per-bucket split table holds only
 * the oversized buckets and is broadcast; buckets at or under the cap get
 * salt 0 on both sides; the two sides join on `keys :+ "__salt"`.
 *
 * SELF-JOIN FORM ([[selfJoin]]) and its `maxBucket` policy:
 *   = 0 : never salt — a symmetric self-join; both sides share one
 *         lineage, so ReuseExchange computes it once (for callers that
 *         KNOW the key distribution is clean);
 *   > 0 : always salt at that cap;
 *   < 0 : DEFAULT ([[Adaptive]]) — persist the COMPACT frame (one row
 *         per doc or representative, never the key-exploded rows —
 *         ADVICE r15), probe the exploded bucket histogram with one cheap
 *         aggregate reading that cache, and salt at [[HotBucket]] only
 *         when some bucket exceeds it; a clean corpus keeps the symmetric
 *         plan. The persist is released when the first query consuming
 *         the join completes (CacheLifecycle).
 * The adaptive default runs that probe — one small Spark job — when the
 * DataFrame is BUILT, and holds the compact frame cached
 * (MEMORY_AND_DISK) until its first consuming query completes: the price
 * of an OUTPUT-aware plan choice AQE cannot make (a 10k-row hot bucket is
 * ~160 KB of shuffle input, invisible to input-size skew handling, but
 * 5*10^7 join output rows in one task). Pass maxBucket = 0 or > 0 for a
 * fully lazy, cache-free frame.
 */
private[llm] object BucketJoin {

  /** `maxBucket` sentinel selecting the adaptive probe-then-salt policy. */
  val Adaptive: Int = -1

  /** The adaptive policy's cap: bounds one task's pair work to ~cap^2
    * comparisons. */
  val HotBucket: Int = 4096

  /** Salt fan-out of a bucket holding `n` rows under `cap`. */
  def nsplit(n: Column, cap: Int): Column = ceil(n / lit(cap.toDouble)).cast("long")

  /** Salt `build` and `probe` (see the object doc); `idCol` is the build
    * side's row id, `cap` > 0. Returns both sides and their equi-join
    * keys, `keys :+ "__salt"`. */
  def salt(build: DataFrame, probe: DataFrame, keys: Seq[String], idCol: String,
           cap: Int): (DataFrame, DataFrame, Seq[String]) = {
    require(cap > 0, s"salting cap must be positive, got $cap")
    val splits = build.groupBy(keys.map(col): _*)
      .agg(nsplit(count(lit(1)), cap).as("__nsplit"))
      .where(col("__nsplit") > 1)
    val b = build.join(broadcast(splits), keys, "left")
      .withColumn("__salt", when(col("__nsplit").isNull, lit(0L))
        .otherwise(pmod(xxhash64(col(idCol)), col("__nsplit"))))
      .drop("__nsplit")
    val p = probe.join(broadcast(splits), keys, "left")
      .withColumn("__salt",
        explode(sequence(lit(0L), coalesce(col("__nsplit"), lit(1L)) - 1)))
      .drop("__nsplit")
    (b, p, keys :+ "__salt")
  }

  /** Bucket self-join of `keyed(compact)` under the `maxBucket` policy
    * (see the object doc): each unordered pair of rows sharing all `keys`
    * meets once, as `a.id < b.id`, filtered by the caller's `cond` over
    * the `a`/`b` aliases and projected to `out`. `compact` carries an
    * `id` column; `keyed` maps it to the keyed rows (column arithmetic —
    * it is re-derived per consumer). `cached` names frames the caller
    * already persisted for this join, with `compact` reading from them:
    * the adaptive policy then adds no persist of its own, and whichever
    * frames are held are released after the first consuming query. */
  def selfJoin(compact: DataFrame, keyed: DataFrame => DataFrame, keys: Seq[String],
               maxBucket: Int, cached: Seq[DataFrame] = Nil)(
      cond: Column, out: Column*): DataFrame = {
    val own = maxBucket < 0 && cached.isEmpty
    if (own) compact.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = keyed(compact)
    val cap =
      if (maxBucket >= 0) maxBucket
      else if (rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
          .where(col("__n") > HotBucket).limit(1).count() > 0) HotBucket
      else 0
    val (a, b, on) = if (cap > 0) salt(rows, rows, keys, "id", cap) else (rows, rows, keys)
    // shuffle-hash, not broadcast: both sides shuffle on the same keys
    // from one lineage, so ReuseExchange (or the adaptive persist)
    // computes the keyed rows once and reads them twice — at any scale
    val joined = a.as("a").hint("shuffle_hash").join(b.as("b").hint("shuffle_hash"),
        on.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.id") < col("b.id") && cond)
      .select(out: _*)
    graft.spark.CacheLifecycle.releaseAfterUse(if (own) Seq(compact) else cached, joined)
  }
}
