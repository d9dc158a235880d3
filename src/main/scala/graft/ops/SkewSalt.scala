package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/**
 * Lossless mitigation for OUTPUT-amplification skew in key joins.
 *
 * All candidate-pair generators here (MinHash-LSH band buckets, SimHash
 * pigeonhole chunks, hyperplane-LSH signature buckets) enumerate pairs by
 * self-joining a relation on its bucket key, and the transitive closure's
 * composition step (engine.KleenePlus) joins its front to the edges on a
 * node. A bucket of k members emits k·(k−1)/2 candidate rows out of only k
 * input rows, and a hub node its in-front × out-edges pairs — all produced by
 * ONE shuffle task, because a join key maps to one partition. AQE's
 * skew-join splitting cannot help: it detects shuffle-INPUT partition size,
 * and a hot key's input is tiny (an input-skewed join splits, the hot-bucket
 * and hub joins never do).
 *
 * The fix is classic salting, applied only to keys held by at least
 * [[hotThreshold]] rows ([[hotKeys]], [[saltedSides]]): the left side of the
 * join gets a deterministic salt in [0, S) hashed from the row's id, the
 * right side replicates hot-key rows once per salt value, and the join key
 * grows by the salt column. Every matching pair still meets EXACTLY once (the
 * left row's one salt meets the right row's matching replica), so the result
 * bag is identical — but a hot key's quadratic enumeration is spread across S
 * tasks instead of one. Input cost: k·(S−1) extra replicated rows per hot
 * key, negligible against the k² output it spreads.
 *
 * Singleton buckets are NOT pre-dropped: filtering them would need either a
 * broadcast of the (large, mostly-singleton) bucket set or a shuffle join of
 * the full relation against the size histogram — the exact fixed cost the
 * hot-key broadcast avoids. A singleton row flows through the self-join,
 * matches only itself, and falls to the callers' id1 < id2 pair filter.
 */
object SkewSalt {
  /** Key size at/above which the salt spreads its pair enumeration.
    * Overridable for probes via -Dgraft.salt.hotBucket. */
  def hotThreshold: Int =
    sys.props.get("graft.salt.hotBucket").map(_.toInt).getOrElse(1024)

  /** Salt fan-out S: how many tasks a hot key's pairs spread across.
    * Overridable via -Dgraft.salt.factor. */
  def salts: Int =
    sys.props.get("graft.salt.factor").map(_.toInt).getOrElse(16)

  /** Relation size below which hot-key detection is skipped entirely.
    * Default-on salting cost the dedup gates 1.3-1.6x at sf0.1, so below
    * this size the detection job and the salt-widened shuffle key are
    * treated as pure tax.
    *
    * ACCEPTED WORST CASE of the skip: hotThreshold (1024) is a PER-KEY
    * bound, so a fully degenerate corpus that lands all ~100k rows in ONE
    * bucket enumerates ~5e9 pairs in a single task — minutes, not seconds,
    * though bounded (no OOM: pair enumeration streams). Real banded
    * relations (minhash bands, simhash chunks, shingle prefixes) spread
    * rows across many buckets by construction, and a corpus degenerate
    * enough to defeat that is exact-dedup's job first. Callers facing
    * adversarial keys should lower -Dgraft.salt.minRows (1024 makes the
    * skip provably safe: rows < hotThreshold cannot contain a hot key, at
    * the cost of re-adding the detection job at small scale). */
  def minRows: Long =
    sys.props.get("graft.salt.minRows").map(_.toLong).getOrElse(100000L)

  /**
   * The keys of `rel` on `keyCols` held by at least [[hotThreshold]] rows,
   * as a local relation to broadcast — or None when no key qualifies.
   *
   * One job aggregates the key sizes and collects the hot ones to the
   * driver: a key qualifies only at ≥[[hotThreshold]] rows, so the set has
   * at most |rel|/1024 keys, the same rows the broadcast that consumes it
   * would gather on the driver anyway, and no later round or side recomputes
   * the aggregation. The salting decision thus stays a NARROW map over the
   * joined relations (no extra shuffle of the big relation against the full
   * size histogram, a measurable fixed cost on small corpora for zero scale
   * benefit). On non-degenerate corpora no key qualifies, and the callers pay
   * only this job, not the salt-widened shuffle keys that taxed the self-join
   * ~1.3-1.65x at every size.
   *
   * @param knownRows caller-measured row count of `rel` (or a cheap exact
   *                  proxy: checkpointed-base count × explode fan-out). Below
   *                  max([[hotThreshold]], [[minRows]]) the answer is None
   *                  without a job. `None` = unknown → always detect.
   */
  def hotKeys(rel: DataFrame, keyCols: Seq[String],
              knownRows: Option[Long] = None): Option[DataFrame] =
    if (knownRows.exists(_ < math.max(hotThreshold.toLong, minRows))) None
    else {
      val keys = rel.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
        .where(col("__n") >= hotThreshold)
        .select(keyCols.map(col): _*)
      val hot = keys.collect()
      if (hot.isEmpty) None
      else Some(rel.sparkSession.createDataFrame(java.util.Arrays.asList(hot: _*), keys.schema))
    }

  /**
   * Salt the join of `left` to `right` on `keyCols` for the `hot` keys (one
   * column per key column, matched by position): a left row on a hot key
   * takes the salt pmod(xxhash64(saltBy), [[salts]]), a right row on a hot
   * key is replicated once per salt, and every other row takes salt 0. Join
   * the returned sides on `keyCols :+ "__salt"`: the bag equals the plain
   * join on `keyCols`. `saltBy` must be deterministic (retried tasks re-deal
   * identically).
   */
  def saltedSides(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                  hot: DataFrame, saltBy: Column): (DataFrame, DataFrame) = {
    val s = salts
    val marks = broadcast(hot.toDF(keyCols: _*).withColumn("__hot", lit(true)))
    def mark(df: DataFrame) = df.join(marks, keyCols, "left")
    (mark(left)
       .withColumn("__salt",
         when(col("__hot"), pmod(xxhash64(saltBy), lit(s)).cast("int")).otherwise(lit(0)))
       .drop("__hot"),
     mark(right)
       .withColumn("__salt",
         explode(when(col("__hot"), sequence(lit(0), lit(s - 1))).otherwise(array(lit(0)))))
       .drop("__hot"))
  }

  /**
   * Prepare the two sides of a within-bucket pair self-join over `banded`.
   *
   * @param banded     one row per (member, bucket) assignment
   * @param bucketCols the bucket key columns
   * @param saltBy     deterministic per-row expression (the member id) the
   *                   left-side salt is hashed from
   * @param maxBucket  optional hard cap: buckets larger than this are
   *                   dropped entirely (lossy, caller-documented)
   * @param knownRows  caller-measured row count of `banded`, see [[hotKeys]];
   *                   when no hot key is detected, `__salt` is a constant 0
   *                   and the bag is trivially unchanged
   * @return (left, right, joinCols): join `left` to `right` on `joinCols`;
   *         the joined bag equals the plain self-join on `bucketCols`
   *         (singleton buckets pass through — they produce no pairs).
   */
  def selfJoinSides(banded: DataFrame, bucketCols: Seq[String], saltBy: Column,
                    maxBucket: Option[Int] = None,
                    knownRows: Option[Long] = None)
      : (DataFrame, DataFrame, Seq[String]) = {
    // the lossy cap is a semantic contract, not an optimisation: it is
    // enforced whatever the size. It reads the unfiltered bucket sizes — a
    // bucket can exceed the caller's cap without being hot.
    val base = maxBucket.fold(banded) { cap =>
      banded.join(broadcast(banded.groupBy(bucketCols.map(col): _*)
        .agg(count(lit(1)).as("__bn")).where(col("__bn") > cap)
        .select(bucketCols.map(col): _*)), bucketCols, "left_anti")
    }
    // `banded` is not pinned here: its signature relation is already cached
    // upstream, so a pin measured no win and would hold an id×band-sized
    // relation on executor disk.
    val (left, right) = hotKeys(banded, bucketCols, knownRows) match {
      case Some(hot) => saltedSides(base, base, bucketCols, hot, saltBy)
      case None =>
        val zero = base.withColumn("__salt", lit(0))
        (zero, zero)
    }
    (left, right, bucketCols :+ "__salt")
  }

  /**
   * Triangle chunking of a within-bucket pair self-join whose buckets may
   * outgrow one task: the join's per-task work is QUADRATIC in its bucket's
   * size, which AQE's input-byte skew splitting cannot see. Each row takes a
   * deterministic chunk __ck = pmod(xxhash64(id), m) among its bucket's
   * `chunks` (m, a per-row column; the id, NOT rand(): retried tasks must
   * re-deal identically), replicates once per unordered chunk pair
   * {__ck, c} for c in [0, m), and the sides join on (bucket, lo, hi). Every
   * pair of rows meets on the key {ck_a, ck_b}, and the meeting filter keeps
   * exactly that meeting (a same-chunk pair meets m times), so per-task input
   * is ≤ 2·(bucket size / m) rows. m = 1 (every bucket under the caller's
   * cap) degenerates to the plain bucket join with replication factor 1.
   *
   * @param a         the left side's row projection, `b` the right side's;
   *                  their names must differ from each other and from the
   *                  bucket columns
   * @param rightHint join hint on the right side (the caller's join strategy)
   * @return every ordered pair of rows sharing a bucket, exactly once, as
   *         the bucket columns followed by `a` and `b`
   */
  def trianglePairs(rel: DataFrame, bucketCols: Seq[String], chunks: Column, id: Column,
                    a: Seq[Column], b: Seq[Column], rightHint: Option[String] = None): DataFrame = {
    val dealt = rel
      .withColumn("__ck", pmod(xxhash64(id), chunks).cast(IntegerType))
      .withColumn("__c2", explode(sequence(lit(0), chunks - 1)))
      .withColumn("__lo", least(col("__ck"), col("__c2")))
      .withColumn("__hi", greatest(col("__ck"), col("__c2")))
    val key = bucketCols ++ Seq("__lo", "__hi")
    def side(cols: Seq[Column], ck: String) = dealt.select(key.map(col) ++ (col("__ck").as(ck) +: cols): _*)
    val right = side(b, "__ckb")
    side(a, "__cka").join(rightHint.fold(right)(right.hint(_)), key)
      .where(col("__lo") === least(col("__cka"), col("__ckb")) &&
        col("__hi") === greatest(col("__cka"), col("__ckb")))
      .drop("__lo", "__hi", "__cka", "__ckb")
  }
}
