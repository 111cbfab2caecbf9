package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, SQL-replayable sketches for corpus profiling.
  *
  * A 100-TB curation run wants cheap per-group cardinality profiles
  * (distinct tokens per source, distinct urls per host, vocabulary
  * growth) without an exact count-distinct shuffle of every value. The
  * standard answer is HLL; HLL's register layout is engine-specific and
  * unverifiable cross-engine, so this module uses the KMV (k minimum
  * values) estimator (Bar-Yossef et al. 2002; Beyer et al., SIGMOD 2007:
  * E = (k-1)/h_k with hashes scaled to the unit interval) over the same
  * Carter-Wegman affine family mod 2^31-1 as the MinHash pipeline — every
  * arithmetic step fits signed-64-bit and replays bit-for-bit in ANSI SQL
  * (the q51 DuckDB oracle recomputes the estimates independently).
  */
object Sketches {

  /** Affine scramble of an already-hashed value into [0, 2^31-1): KMV
    * needs its order statistics over a (pseudo-)uniform hash, and the
    * base-131 polynomial alone skews small strings toward small values. */
  def kmvHash(h: Column): Column =
    pmod(h * lit(1103515245L) + lit(12345L), lit(Dedup.MersenneP))

  /** Per-group distinct-count estimate from the k minimum distinct hash
    * values. Input: one row per (group, value-hash) OBSERVATION (dups
    * fine). Output: (groupCol, n_kept, kth_hash, est_distinct) where
    * est_distinct = (k-1) · p / h_k when the group has ≥ k distinct
    * hashes, else the exact kept count (the estimator's standard
    * small-set exact regime).
    *
    * Scale shape: the (group, hash) distinct is the only full-width
    * exchange and it carries 16-byte rows with map-side partial
    * aggregation; the rank-≤-k filter is a declarative row_number window,
    * so Catalyst inserts a PARTIAL WindowGroupLimit below its exchange
    * (SPARK-37099) — each map partition ships at most k hashes per group
    * and a 10^9-token group costs the wire the same k rows as a tiny one.
    * Estimates are rounded to 6dp (floor(x·10^6 + 0.5)/10^6) so the
    * cross-engine float representation is stable. */
  /** Count-min sketch cells over a stream of (pre-hashed value, weight)
    * observations (Cormode & Muthukrishnan 2005): `depth` Carter-Wegman
    * rows (the SAME affine family as MinHash/Bloom, so one DuckDB formula
    * replays all three), each `width` counters; cell (r, pos) sums the
    * weights of every value whose row-r position lands on pos. Unlike
    * Misra-Gries the sketch is pure sums — identical under any insertion
    * or merge order, i.e. at any parallelism. Returns (row, pos, cnt),
    * ≤ depth·width rows by construction.
    *
    * Scale shape: ONE exchange, carrying (row, pos, partial sum) — the
    * map-side combine bounds each task's shuffle write at depth·width
    * cells no matter how many observations it saw (asserted in PlanSpec).
    * This is the fixed-memory frequency profile for a vocabulary too big
    * to count exactly; [[countMinEstimate]] reads it back. */
  def countMin(df: DataFrame, hashCol: Column, weightCol: Column,
      depth: Int = 3, width: Int = 64): DataFrame = {
    require(depth >= 1 && width >= 2)
    df.select(hashCol.as("__cms_h"), weightCol.cast("long").as("__cms_w"))
      .select(explode(array((0 until depth).map(r =>
          struct(lit(r).as("row"), cmsPos(r, col("__cms_h"), width).as("pos"))): _*)).as("c"),
        col("__cms_w"))
      .groupBy(col("c.row").as("row"), col("c.pos").as("pos"))
      .agg(sum(col("__cms_w")).as("cnt"))
  }

  /** Point-estimate the total weight of each query row's hash against a
    * built [[countMin]] sketch: est = min over rows of the addressed cell
    * — never an underestimate (the CMS one-sided error), exactly the
    * inserted total when no collision touched any of the value's cells.
    * Keeps every `queries` column and appends `est`.
    *
    * Scale shape: the sketch is ≤ depth·width rows by construction, so it
    * broadcasts; the probe side explodes its `depth` positions in place
    * and aggregates back by the query's own columns — no corpus-sized
    * exchange beyond that bounded per-query regroup. */
  def countMinEstimate(sketch: DataFrame, queries: DataFrame, hashCol: Column,
      depth: Int = 3, width: Int = 64): DataFrame = {
    require(depth >= 1 && width >= 2)
    val keep = queries.columns.map(col)
    val probe = queries.withColumn("__cms_h", hashCol)
      .select(keep :+ explode(array((0 until depth).map(r =>
        struct(lit(r).as("__row"), cmsPos(r, col("__cms_h"), width).as("__pos"))): _*)).as("__c"): _*)
      .select(keep :+ col("__c.__row").as("__row") :+ col("__c.__pos").as("__pos"): _*)
    probe
      .join(broadcast(sketch.select(
          col("row").as("__row"), col("pos").as("__pos"), col("cnt"))),
        Seq("__row", "__pos"), "left")
      .groupBy(keep: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Row-r counter index of a hash: affine transform mod p, then mod
    * width — non-negative inputs, so plain `%` replays in ANSI SQL. */
  private def cmsPos(r: Int, h: Column, width: Int): Column =
    pmod(pmod(lit(Dedup.aCoef(r)) * h + lit(Dedup.bCoef(r)), lit(Dedup.MersenneP)),
      lit(width.toLong)).cast("int")

  def kmvDistinct(df: DataFrame, groupCol: String, hashCol: Column, k: Int = 64): DataFrame = {
    require(k >= 2)
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__kmv_h").asc)
    val est = (lit(k - 1).cast("double") * lit(Dedup.MersenneP.toDouble)) / col("kth_hash")
    df.select(col(groupCol), kmvHash(hashCol).as("__kmv_h"))
      .distinct()
      .withColumn("__kmv_rn", row_number().over(w))
      .filter(col("__kmv_rn") <= k)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_kept"), max(col("__kmv_h")).as("kth_hash"))
      .withColumn("est_distinct",
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(floor(est * lit(1e6) + lit(0.5)) / lit(1e6)))
  }

  /** HyperLogLog registers (Flajolet et al. 2007) over the 31-bit
    * [[Dedup.polyHash]] family, m = 64 buckets: bucket = h mod 64,
    * rank = leading zeros of the remaining 25-bit suffix + 1 (suffix 0 →
    * the max rank 26). Bit length comes from `length(bin(x))` — exact
    * integer both engines, no log2 float boundary. Completes the sketch
    * family: KMV (T33) estimates per-group cardinality, count-min (T52)
    * frequencies; HLL is the fixed-64-register global-cardinality shape
    * whose registers MERGE by max — the property that lets one reducer
    * combine per-partition sketches of a 10^12-row corpus.
    *
    * Scale shape: narrow hash/bucket/rank projection, ONE map-combined
    * max aggregate over at most 64 keys. Returns (bucket, register) for
    * non-empty buckets. */
  def hllRegisters(df: DataFrame, itemCol: String): DataFrame = {
    // polyHash alone CANNOT feed leading-zero ranks: base 131 diffuses
    // upward too slowly, so same-length shared-prefix keys ("item_1",
    // "item_2", …) collapse to one high-bit pattern and every register
    // reads the same rank (measured: E=363 on 5000 such keys). The
    // Carter-Wegman affine mix (the family's aCoef/bCoef constants)
    // spreads the high bits; E=4875 on the same keys.
    df.select(Dedup.polyHash(col(itemCol).cast("string")).as("__h0"))
      .select(pmod(col("__h0") * lit(1103515245L) + lit(12345L),
        lit(Dedup.MersenneP)).as("__h"))
      .select(pmod(col("__h"), lit(64L)).as("bucket"),
        expr("__h div 64").as("__sfx"))
      .select(col("bucket"),
        when(col("__sfx") === 0L, lit(26L))
          .otherwise(lit(26L) - length(bin(col("__sfx")))).as("__rank"))
      .groupBy(col("bucket")).agg(max(col("__rank")).as("register"))
  }

  /** Raw HLL cardinality estimate from [[hllRegisters]] output:
    * E = α₆₄·m² / Σ 2^(−reg) with empty buckets contributing 2⁰. The sum
    * is kept EXACT-integer as S = Σ 2^(26−reg) (so Σ2^(−reg) = S/2²⁶,
    * each term a `shiftleft` — no float accumulation order to disagree
    * on); the one float step is the final α·m²·2²⁶/S division, identical
    * IEEE left-to-right in both engines, quantized to milli-units. Raw
    * estimator only (no small/large-range correction — T33's KMV is the
    * production cardinality path; this completes the HLL shape). Returns
    * one row (m, n_buckets, s_scaled, est_milli). */
  def hllEstimate(registers: DataFrame): DataFrame =
    registers
      .agg(count(lit(1)).as("n_buckets"),
        sum(expr("shiftleft(1L, cast(26 - register as int))")).as("__sp"))
      .select(lit(64L).as("m"), col("n_buckets"),
        (col("__sp") + (lit(64L) - col("n_buckets")) * lit(67108864L)).as("s_scaled"))
      .withColumn("est_milli",
        floor(lit(0.709) * lit(4096.0) * lit(67108864.0) / col("s_scaled") * lit(1000.0)
          + lit(0.5)).cast("long"))
}
