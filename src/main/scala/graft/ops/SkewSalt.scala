package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Lossless mitigation for OUTPUT-amplification skew in bucketed self-joins.
 *
 * All candidate-pair generators here (MinHash-LSH band buckets, SimHash
 * pigeonhole chunks, hyperplane-LSH signature buckets) enumerate pairs by
 * self-joining a relation on its bucket key. A bucket of k members emits
 * k·(k−1)/2 candidate rows out of only k input rows — and they are all
 * produced by ONE shuffle task, because a join key maps to one partition.
 * AQE's skew-join splitting cannot help: it detects shuffle-INPUT partition
 * size, and a hot bucket's input is tiny (measured by SkewProbe, deleted:
 * see CHANGES.md — the
 * sanity input-skew case splits, the bucket cases never do).
 *
 * The fix is classic salting, applied only to buckets whose size crosses
 * [[hotThreshold]]: the left side of the self-join gets a deterministic salt
 * in [0, S) hashed from the row's id, the right side replicates hot-bucket
 * rows once per salt value, and the join key grows by the salt column. Every
 * within-bucket ordered pair still matches EXACTLY once (the left row's one
 * salt meets the right row's matching replica), so the result bag is
 * identical — but a hot bucket's k²-pair enumeration is spread across S
 * tasks instead of one. Input cost: k·(S−1) extra replicated rows per hot
 * bucket, negligible against the k² output it spreads.
 *
 * Singleton buckets are NOT pre-dropped: filtering them would need either a
 * broadcast of the (large, mostly-singleton) bucket set or a shuffle join of
 * the full relation against the size histogram — the exact fixed cost this
 * design removed (see the broadcast note in [[selfJoinSides]]). A singleton
 * row flows through the self-join, matches only itself, and falls to the
 * callers' id1 < id2 pair filter.
 */
object SkewSalt {
  /** Bucket size at/above which the salt spreads its pair enumeration.
    * Overridable for probes via -Dgraft.salt.hotBucket. */
  def hotThreshold: Int =
    sys.props.get("graft.salt.hotBucket").map(_.toInt).getOrElse(1024)

  /** Salt fan-out S: how many tasks a hot bucket's pairs spread across.
    * Overridable via -Dgraft.salt.factor. */
  def salts: Int =
    sys.props.get("graft.salt.factor").map(_.toInt).getOrElse(16)

  /** Relation size below which salting is skipped entirely (same knob and
    * default as the closure's heavyKeys gate). Measured (r6 verdict):
    * default-on salting cost the dedup gates 1.3-1.6x at sf0.1, so below
    * this size the detection job + salt-widened shuffle key are treated as
    * pure tax and skipped.
    *
    * ACCEPTED WORST CASE of the skip: hotThreshold (1024) is a PER-BUCKET
    * bound, so a fully degenerate corpus that lands all ~100k rows in ONE
    * bucket enumerates ~5e9 pairs in a single task — minutes, not seconds,
    * though bounded (no OOM: pair enumeration streams). Real banded
    * relations (minhash bands, simhash chunks, shingle prefixes) spread
    * rows across many buckets by construction, and a corpus degenerate
    * enough to defeat that is exact-dedup's job first. Callers facing
    * adversarial bucket keys should lower -Dgraft.salt.minRows (1024 makes
    * the skip provably safe: rows < hotThreshold cannot contain a hot
    * bucket, at the cost of re-adding the detection job at small scale). */
  def minRows: Long =
    sys.props.get("graft.salt.minRows").map(_.toLong).getOrElse(100000L)

  /**
   * Prepare the two sides of a within-bucket pair self-join over `banded`.
   *
   * The hot-bucket set is broadcast, not shuffle-joined: a bucket qualifies
   * only at ≥[[hotThreshold]] members, so the set has at most |banded|/1024
   * rows — a corpus would need ~10¹⁰ rows *inside hot buckets* before the
   * broadcast approaches executor memory, and a corpus that degenerate is
   * exact-dedup's job first. This keeps the salting decision a NARROW map
   * over `banded` (no extra shuffle of the big relation — the r6 first cut
   * shuffle-joined every row against the full size histogram, a measurable
   * fixed cost on small corpora for zero scale benefit), mirroring the
   * closure stepJoin's broadcast of its heavy-key set.
   *
   * @param banded     one row per (member, bucket) assignment
   * @param bucketCols the bucket key columns
   * @param saltBy     deterministic per-row expression (the member id) the
   *                   left-side salt is hashed from
   * @param maxBucket  optional hard cap: buckets larger than this are
   *                   dropped entirely (lossy, caller-documented)
   * @param knownRows  caller-measured row count of `banded` (or a cheap
   *                   exact proxy: checkpointed-base count × explode
   *                   fan-out). Below [[minRows]] the detection job and
   *                   the salt-widened key are skipped — `__salt` becomes
   *                   a constant 0 and the bag is trivially unchanged.
   *                   `None` = unknown → always salt (scale-safe default).
   * @return (left, right, joinCols): join `left` to `right` on `joinCols`;
   *         the joined bag equals the plain self-join on `bucketCols`
   *         (singleton buckets pass through — they produce no pairs).
   */
  def selfJoinSides(banded: DataFrame, bucketCols: Seq[String], saltBy: Column,
                    maxBucket: Option[Int] = None,
                    knownRows: Option[Long] = None)
      : (DataFrame, DataFrame, Seq[String]) = {
    val s = salts
    // Pay-as-you-go gate (r6 verdict item 1): the detection job + widened
    // shuffle key taxed every dedup gate 1.3-1.6x at sf0.1 for zero benefit
    // at that scale. When the caller proves the relation is small, skip
    // both. The lossy maxBucket cap is still enforced when requested —
    // it is a semantic contract, not an optimisation.
    if (maxBucket.isEmpty &&
        knownRows.exists(_ < math.max(hotThreshold.toLong, minRows))) {
      val zero = banded.withColumn("__salt", lit(0))
      return (zero, zero, bucketCols :+ "__salt")
    }
    // Measured cost of default-on salting at sf0.1 (same-host A/B vs the
    // r5 snapshot): 1.3-1.6x on each dedup gate — one extra hot-set
    // detection job + the salt-widened shuffle key. The premium buys the
    // degenerate case: a single hot bucket's k^2 enumeration drops 5.4 s →
    // 0.5 s at gate scale (SkewProbe, deleted: see CHANGES.md) and is the
    // difference between
    // one task OOM-ing and 16 tasks finishing at corpus scale. A
    // localCheckpoint of `banded` here was tried and reverted: no measured
    // win (signature relations are already cached upstream) and it pins an
    // id×band-sized relation to executor disk.
    val counts = banded.groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("__bn"))
    val sizes = counts.where(col("__bn") >= hotThreshold)
    // Skew-adaptive short-circuit (r7, measured by SaltCrossoverProbe,
    // deleted: see CHANGES.md):
    // on non-degenerate corpora NO bucket reaches the threshold, yet the
    // hot-set left-join + salt-widened shuffle keys still taxed the
    // self-join ~1.3-1.65x AT EVERY SIZE. When detection finds zero hot
    // buckets (and no lossy cap is requested), pay only the detection job
    // and return plain sides. The skewed case pays detection once more via
    // the broadcast below — a fraction of the k^2 work salting then saves.
    if (maxBucket.isEmpty && sizes.isEmpty) {
      val zero = banded.withColumn("__salt", lit(0))
      return (zero, zero, bucketCols :+ "__salt")
    }
    val hotSet = broadcast(
      maxBucket.fold(sizes)(cap => sizes.where(col("__bn") <= cap))
        .select(bucketCols.map(col): _*).withColumn("__hot", lit(1)))
    // the over-cap drop reads the UNFILTERED counts: a bucket can exceed the
    // caller's cap without reaching the salting threshold
    val base = maxBucket.fold(banded) { cap =>
      banded.join(broadcast(counts.where(col("__bn") > cap)
        .select(bucketCols.map(col): _*)), bucketCols, "left_anti")
    }
    val kept = base.join(hotSet, bucketCols, "left")
    val left = kept
      .withColumn("__salt",
        when(col("__hot") === 1, pmod(xxhash64(saltBy), lit(s)).cast("int"))
          .otherwise(lit(0)))
      .drop("__hot")
    val right = kept
      .withColumn("__salt",
        explode(when(col("__hot") === 1, sequence(lit(0), lit(s - 1)))
          .otherwise(array(lit(0)))))
      .drop("__hot")
    (left, right, bucketCols :+ "__salt")
  }
}
