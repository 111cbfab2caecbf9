package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline needs around the
  * dedup/similarity family: deterministic split assignment and per-key
  * quotas. Both are pure relational shapes — no kernels — kept as named
  * operators so pipelines compose them instead of re-deriving the window
  * or hash arithmetic (and getting the determinism subtly wrong).
  */
object Curation {

  /** Deterministic train/val/test assignment from a numeric id: the
    * Carter-Wegman affine hash mod 100 buckets each row stably, so the
    * same row lands in the same split on every run, at every cluster
    * size, on every engine (the q36 DuckDB oracle replays the arithmetic
    * verbatim) — the reproducibility property train/test hygiene needs,
    * which `rand()`-based splitting does not have. Purely narrow: a
    * projection, no shuffle, no state. `pmod` keeps negative ids in
    * [0, 100) (plain `%` would funnel them all into 'train'); a NULL id
    * deterministically lands in 'test' (every `when` is null → otherwise).
    * |id| must stay below ~8.4e9 so the 64-bit affine transform cannot
    * wrap (same bound as the IVF codebook hash in [[Similarity.ivfTopK]]). */
  def hashSplit(id: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100)
    val bucket =
      pmod(pmod(id.cast("long") * lit(1103515245L) + lit(12345L), lit(Dedup.MersenneP)), lit(100L))
    when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Stratified train/val/test split with EXACT per-stratum proportions:
    * within every `stratumCol` group, rows are ranked by a deterministic
    * affine hash of the id (a reproducible shuffle order) and the split
    * boundary is a rank threshold — so a 1000-row stratum puts EXACTLY
    * floor(1000·80%) rows in train, where [[hashSplit]] only hits 80% in
    * expectation (±sqrt-n noise that matters for small strata and for
    * low-resource languages in a mix). Thresholds compare `rank·100 ≤
    * n·pct` in integers — no float boundary to disagree on. Adds `rank`
    * (1-based within stratum) and `split`.
    *
    * Scale shape: one exchange (hash-partition by stratum); the rank and
    * the stratum count share the same window pass. Exact proportions
    * INHERENTLY need a full per-stratum rank — there is no map-side
    * group-limit shortcut here, which is the price of exactness over
    * [[hashSplit]]'s narrow projection; strata are corpus sources or
    * languages (thousands at most), so per-stratum sort spill is the
    * bounded, well-understood kind. */
  def stratifiedSplit(
      df: DataFrame, stratumCol: String, idCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100)
    import org.apache.spark.sql.expressions.Window
    val ord = pmod(col(idCol).cast("long") * lit(1234567891L) + lit(987654321L),
      lit(Dedup.MersenneP))
    val w = Window.partitionBy(col(stratumCol))
    val ranked = df
      .withColumn("rank", row_number().over(w.orderBy(ord, col(idCol))))
      .withColumn("__n", count(lit(1)).over(w))
    ranked
      .withColumn("split",
        when(col("rank") * 100 <= col("__n") * trainPct, lit("train"))
          .when(col("rank") * 100 <= col("__n") * (trainPct + valPct), lit("val"))
          .otherwise(lit("test")))
      .drop("__n")
  }

  /** Weighted training-mix sampling: downsample each source so kept
    * tokens approximate `weights`' share of a `totalTokens` budget (the
    * Pile/Dolma-style mix step). Per source: target = w/Σw × budget,
    * keep-fraction = min(1, target / available), kept = rows whose
    * affine id-hash bucket (out of 10^6) falls under the fraction — so
    * membership is deterministic per row, stable under reruns and
    * engine changes (the q39 oracle replays it), and growing the corpus
    * only shrinks fractions, never reshuffles kept ids within a source.
    *
    * Fully lazy, no driver collect: available tokens come from one tiny
    * per-source aggregate; the weight table, the 1-row weight total, and
    * the per-source fractions are all broadcast back; the final filter is
    * a narrow projection over the corpus scan. Unlisted sources weigh
    * `defaultWeight`. */
  def mixSample(
      df: DataFrame, sourceCol: String, tokenCol: String, idCol: String,
      weights: Map[String, Double], totalTokens: Long,
      defaultWeight: Double = 1.0): DataFrame = {
    require(totalTokens > 0 && weights.values.forall(_ >= 0) && defaultWeight >= 0)
    val s = df.sparkSession
    import s.implicits._
    val wdf = broadcast(weights.toSeq.toDF("__mix_source", "__mix_w"))
    val avail = df.groupBy(col(sourceCol))
      .agg(sum(col(tokenCol)).cast("double").as("__mix_avail"))
    val withW = avail.join(wdf, col(sourceCol) === col("__mix_source"), "left")
      .select(col(sourceCol), col("__mix_avail"),
        coalesce(col("__mix_w"), lit(defaultWeight)).as("__mix_w"))
    val totDf = withW.agg(sum(col("__mix_w")).as("__mix_wtot"))
    val frac = withW.crossJoin(broadcast(totDf))
      .select(col(sourceCol),
        least(lit(1.0),
          col("__mix_w") / col("__mix_wtot") * lit(totalTokens.toDouble) / col("__mix_avail"))
          .as("__mix_frac"))
    val bucket = pmod(
      pmod(col(idCol).cast("long") * lit(1103515245L) + lit(12345L), lit(Dedup.MersenneP)),
      lit(1000000L))
    df.join(broadcast(frac), Seq(sourceCol))
      .filter(bucket < col("__mix_frac") * lit(1000000.0))
      .drop("__mix_frac")
  }

  /** Keep at most `n` rows per key — the per-domain quota / crawl-cap
    * shape ("at most N documents per host"). `orderCol` must be a total
    * order within each key (e.g. a unique id) or the kept set is
    * nondeterministic.
    *
    * Skewed keys are exactly the rows this op exists to discard, and the
    * declarative `row_number <= n` filter is what lets Catalyst handle
    * that: Spark inserts a PARTIAL WindowGroupLimit below the exchange
    * (SPARK-37099), so each map partition ships at most n rows per key
    * and a hot host's 10^8 rows never reach one reducer — map-side
    * pruning for free, where a hand-rolled salted two-stage window would
    * shuffle every row once and add a second exchange. PlanSpec pins the
    * partial-below-exchange shape so a regression is visible. */
  /** k-anonymity suppression gate — the privacy screen a published
    * training corpus runs over its metadata: any combination of
    * quasi-identifier columns shared by FEWER than k rows is re-
    * identifying (the classic Sweeney linkage attack shape), so those
    * rows are flagged for suppression or generalization before release.
    * Returns the input plus `group_n` (the quasi-tuple's cohort size)
    * and `suppressed` (cohort < k).
    *
    * Scale shape: one exchange on the quasi key feeding an unordered
    * window count — no second scan, no join back, no driver collect;
    * skew on a hot tuple is bounded by the count being a single long. */
  def kAnonymityGate(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k >= 1)
    val w = Window.partitionBy(quasiCols.map(col): _*)
    df.withColumn("group_n", count(lit(1)).over(w))
      .withColumn("suppressed", col("group_n") < k)
  }

  def capPerKey(df: DataFrame, keyCol: String, orderCol: String, n: Int): DataFrame = {
    require(n > 0)
    val rn = "__graft_cap_rn"
    require(!df.columns.contains(rn), s"input must not carry reserved column $rn")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol).asc)
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) <= n)
      .drop(rn)
  }

  /** Relative per-key quality gate (the FineWeb-style "keep the best X%
    * of each dump/feed"): keeps the top `ceil(n_key · keep_micro / 10⁶)`
    * rows of every key under the TOTAL order (score desc, tiebreak asc)
    * — a per-key FRACTION, where [[capPerKey]] keeps a fixed count and
    * budgetTake spends a global budget. Absolute thresholds don't
    * transfer across feeds (one feed's p50 quality is another's p95);
    * this gate is calibrated per key by construction. ceil (not floor)
    * so every non-empty key keeps at least one row — a tiny feed is
    * sampled, not silently dropped.
    *
    * Scale shape: one key exchange shared by both window passes (rank
    * and count use the same partitioning), then a narrow filter. The
    * keep threshold depends on the per-key count, so no rank-1
    * WindowGroupLimit pruning applies — every row of a hot key crosses
    * the wire once, which is the floor for any exact per-key ordered
    * statistic. Returns the surviving input rows unchanged. */
  def keepTopFractionPerKey(
      df: DataFrame, keyCol: String, scoreCol: String, tieCol: String,
      keepMicro: Long): DataFrame = {
    require(keepMicro >= 0L && keepMicro <= 1000000L, "keep fraction must be in [0, 1e6] micro")
    val rn = "__graft_frac_rn"
    val cnt = "__graft_frac_n"
    require(!df.columns.contains(rn) && !df.columns.contains(cnt),
      s"input must not carry reserved columns $rn/$cnt")
    val byKey = Window.partitionBy(col(keyCol))
    df.withColumn(rn,
        row_number().over(byKey.orderBy(col(scoreCol).desc, col(tieCol).asc)))
      .withColumn(cnt, count(lit(1)).over(byKey))
      // ceil(n·keep/1e6) in pure integer arithmetic: (n·keep + 1e6 − 1) div 1e6
      .filter(col(rn) <= expr(s"($cnt * ${keepMicro}L + 999999L) div 1000000L"))
      .drop(rn, cnt)
  }

  /** Connected components over an undirected pair graph — the cluster-
    * resolution step after near-dup pair mining (T2/T3/T17 emit pairs;
    * keeping ONE canonical doc per duplicate cluster needs the
    * components). Returns (id, component) for every node appearing in an
    * edge, component = min node id in the component.
    *
    * Shape: iterative min-label propagation — each round one equi-join
    * (neighbor labels) + one aggregate, converging in O(graph diameter)
    * rounds; near-dup cluster graphs have tiny diameters. This is the
    * standard large-scale Spark CC formulation (GraphX/GraphFrames use
    * the same join-aggregate skeleton): per-round wire cost is the edge
    * list, never a pair blowup, and the only driver-side value is the
    * per-round convergence count. The q47 oracle recomputes components
    * INDEPENDENTLY via a DuckDB recursive-CTE transitive closure. */
  def connectedComponents(pairs: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxIter: Int = 20): DataFrame = {
    val fwd = pairs.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
    val edges = fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
      .where(col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .persist()
    // each round persists its frame and the previous round's is dropped:
    // without the persist the lineage re-executes every prior join each
    // round (quadratic blowup — the classic iterative-Spark pitfall).
    // The first propagation round is FUSED into initialization (comp =
    // min(id, min neighbor) straight off the edge list — one aggregate
    // instead of a full join round).
    var labels = edges.groupBy(col("a")).agg(min(col("b")).as("nmin"))
      .select(col("a").as("id"), least(col("a"), col("nmin")).as("comp"))
      .persist()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("comp").as("bcomp")), "b")
        .groupBy(col("a").as("id")).agg(min(col("bcomp")).as("nmin"))
      val prop = labels.select(col("id"), col("comp").as("old"))
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("nmin"), col("old"))).as("mid"))
      // pointer jump (label-of-label): comp = label[comp]. Labels always
      // point at node ids, so the self-join is 1:1 on id-sized rows; the
      // hop halves the round count on chain-shaped components —
      // O(log diameter)-ish instead of O(diameter), which at 10^12 docs
      // is the difference between ~6 and ~40 barrier rounds on pathological
      // crawl-mirror chains. Cost: one extra id-only shuffle per round.
      val next = prop
        .join(prop.select(col("id").as("mid"), col("mid").as("jcomp")), Seq("mid"), "left")
        .select(col("id"), col("old"),
          least(col("mid"), coalesce(col("jcomp"), col("mid"))).as("comp"))
        .persist()
      converged = next.where(col("comp") =!= col("old")).isEmpty // materializes next
      labels.unpersist()
      labels = next // keep persisted; extra `old` col dropped on return
      iter += 1
    }
    // truncate the iterative lineage and release every loop block, so the
    // caller gets a self-contained frame with NO pinned storage from the
    // loop (the EvalJob round-2 lesson: library ops must not rely on a
    // harness clearCache to free what they persisted)
    val result = labels.select("id", "comp").localCheckpoint(true)
    labels.unpersist()
    edges.unpersist()
    result
  }

  /** Benchmark decontamination hit counts: for every corpus document, how
    * many of its distinct word `k`-grams appear anywhere in `benchmark`
    * (the test-set-leakage check every serious training-data pipeline
    * runs before training — the reference's eval-vs-train hygiene,
    * promoted to a corpus operator). Returns (id, n_hits) with n_hits ≥ 1
    * — i.e. only contaminated ids; [[decontaminate]] is the anti-join on
    * top.
    *
    * Scale shape: the CORPUS IS NEVER SHUFFLED. Benchmark n-grams are a
    * small-by-definition set (eval suites are ~10^6-10^7 n-grams at 100 TB
    * corpus scale): hashed, deduped, and broadcast; the corpus side
    * explodes its distinct shingle hashes in place (narrow) and the
    * broadcast hash join keeps it that way. The only exchange in the
    * whole op is the per-doc hit count aggregate, which carries just
    * (id, partial count) for docs that HIT — a set about the size of the
    * benchmark, not the corpus. N-gram hashing is the same
    * SQL-replayable base-131 polynomial as the MinHash family
    * ([[Dedup.polyHash]]), so the q49 DuckDB oracle replays shingle →
    * hash → membership → count bit-for-bit. */
  def contaminationHits(
      corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, k: Int = 5): DataFrame = {
    val shingleUdf = udf(Dedup.wordShinglesKernel(k))
    val bm = benchmark
      .select(explode(shingleUdf(col(benchTextCol))).as("sg"))
      .select(Dedup.polyHash(col("sg")).as("ngh"))
      .distinct()
    corpus
      .select(col(idCol).as("id"), explode(shingleUdf(col(textCol))).as("sg"))
      .select(col("id"), Dedup.polyHash(col("sg")).as("ngh"))
      .join(broadcast(bm), Seq("ngh")) // inner: non-hits never leave the map side
      .groupBy("id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Keep-best canonical selection per duplicate cluster: given cluster
    * membership ((id, comp), typically [[connectedComponents]] output)
    * and a quality attribute, keep the member with the HIGHEST quality
    * (ties to the smallest id) — production dedup keeps the longest /
    * highest-quality copy, not the arbitrary min-id one, because mirror
    * copies routinely differ (truncation, boilerplate, encoding damage).
    * Fully deterministic under the (quality desc, id asc) total order.
    *
    * Scale shape: one equi-join on the id key to attach quality, then a
    * rank-1 window per component that SPARK-37099 prunes to one
    * candidate per map partition — a billion-copy boilerplate cluster
    * ships ≤1 row per partition; the member count shares the same
    * partitioning. Returns (comp, keep_id, keep_quality, n_members). */
  def keepBestPerCluster(
      members: DataFrame, attrs: DataFrame, idCol: String,
      qualityCol: String): DataFrame = {
    val w = Window.partitionBy(col("comp"))
      .orderBy(col("__q").desc, col("id").asc)
    val wAll = Window.partitionBy(col("comp"))
    members.select(col("id"), col("comp"))
      .join(attrs.select(col(idCol).as("id"), col(qualityCol).as("__q")), Seq("id"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(wAll))
      .filter(col("__rn") <= 1)
      .select(col("comp"), col("id").as("keep_id"), col("__q").as("keep_quality"),
        col("n_members"))
  }

  /** Benchmark n-gram COVERAGE — the measurement complement of
    * [[contaminationHits]]: what fraction of the benchmark's distinct
    * word k-grams appear ANYWHERE in the corpus. Decontamination asks
    * "which corpus docs leak the eval"; coverage asks "how much of the
    * eval was already leaked" — the number that decides whether an eval
    * is still meaningful against this corpus at all. Exact micro-units.
    *
    * Scale shape: the benchmark gram set is bounded and broadcasts; the
    * corpus pass is NARROW (explode + hash + broadcast-inner-join — non-
    * hits never leave the map side), and only the small hit set rides
    * the one distinct exchange before a 1-row count. Returns one row
    * (n_eval_grams, n_covered, coverage_micro). */
  def benchmarkCoverage(
      corpus: DataFrame, textCol: String,
      benchmark: DataFrame, benchTextCol: String, k: Int = 5): DataFrame = {
    val shingleUdf = udf(Dedup.wordShinglesKernel(k))
    val bm = benchmark
      .select(explode(shingleUdf(col(benchTextCol))).as("sg"))
      .select(Dedup.polyHash(col("sg")).as("ngh"))
      .distinct()
    val nEval = broadcast(bm.agg(count(lit(1)).as("n_eval_grams")))
    val covered = corpus
      .select(explode(shingleUdf(col(textCol))).as("sg"))
      .select(Dedup.polyHash(col("sg")).as("ngh"))
      .join(broadcast(bm), Seq("ngh"))
      .distinct()
      .agg(count(lit(1)).as("n_covered"))
    covered.crossJoin(nEval)
      .select(col("n_eval_grams"), col("n_covered"),
        expr("n_covered * 1000000 div greatest(n_eval_grams, 1)").as("coverage_micro"))
  }

  /** Drop every corpus document sharing at least one word `k`-gram with
    * `benchmark`. The contaminated-id set is benchmark-sized, so the
    * final anti-join broadcasts it — the corpus stays unshuffled end to
    * end. */
  def decontaminate(
      corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, k: Int = 5): DataFrame = {
    val hits = contaminationHits(corpus, idCol, textCol, benchmark, benchTextCol, k)
      .select(col("id").as(s"__graft_contam_id"))
    corpus.join(broadcast(hits),
      col(idCol) === col("__graft_contam_id"), "left_anti")
  }

  /** Bloom-filter positions of one n-gram hash: `numHashes` affine
    * transforms of the base polynomial hash, each reduced mod `bits` —
    * the same Carter-Wegman family as MinHash ([[Dedup.aCoef]]), so the
    * DuckDB oracle replays position arithmetic with literal constants. */
  private[ops] def bloomPositions(ngh: Long, numHashes: Int, bits: Int): Array[Int] = {
    val out = new Array[Int](numHashes)
    var j = 0
    while (j < numHashes) {
      out(j) = (((Dedup.aCoef(j) * ngh + Dedup.bCoef(j)) % Dedup.MersenneP) % bits).toInt
      j += 1
    }
    out
  }

  /** The 100 TB scale path for decontamination: a BLOOM FILTER of the
    * benchmark's word `k`-grams instead of the exact broadcast hash set
    * that [[contaminationHits]] ships. At production scale the benchmark
    * union is 10^7-10^8 n-grams; the exact set broadcasts hundreds of MB
    * per executor, while the Bloom bitset is `bits/8` bytes FIXED
    * (e.g. 256 MiB for 2^31 bits at a ~1e-4 false-positive rate with
    * numHashes=3) — and a false POSITIVE only ever over-drops a training
    * document, never leaks eval data, so the one-sided error is the safe
    * direction for this op.
    *
    * Returns (id, n_shingles, n_maybe, kept) for EVERY corpus document:
    * `n_maybe` counts distinct k-grams whose `numHashes` positions are all
    * set in the benchmark filter, `kept = (n_maybe == 0)`.
    *
    * Scale shape: the corpus side is COMPLETELY NARROW — no exchange at
    * all (asserted in PlanSpec). The benchmark side aggregates its
    * position set (bounded by `bits`) and the bitset rides to executors
    * as a UDF-closure broadcast, exactly the IVF-codebook pattern. The
    * whole pipeline (shingle → hash → positions → membership → count) is
    * integer arithmetic replayed bit-for-bit by the q64 DuckDB oracle,
    * INCLUDING any false positives — they are deterministic, not noise. */
  def bloomContamination(
      corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String,
      k: Int = 5, numHashes: Int = 3, bits: Int = 8192): DataFrame = {
    require(numHashes >= 1 && bits >= 64, "degenerate bloom geometry")
    val shingleUdf = udf(Dedup.wordShinglesKernel(k))
    val posUdf = udf((ngh: Long) => bloomPositions(ngh, numHashes, bits))
    // benchmark → distinct set positions (≤ bits rows by construction —
    // THE bounded collect of the bloom design, like the IVF codebook)
    val setPositions = benchmark
      .select(explode(shingleUdf(col(benchTextCol))).as("sg"))
      .select(explode(posUdf(Dedup.polyHash(col("sg")))).as("pos"))
      .distinct()
      .collect().map(_.getInt(0))
    val bitset = new java.util.BitSet(bits)
    setPositions.foreach(bitset.set)
    val countMaybe = udf { (shingles: Seq[String]) =>
      var n = 0
      shingles.foreach { sg =>
        val ps = bloomPositions(Dedup.polyHash(sg), numHashes, bits)
        var all = true
        var j = 0
        while (j < ps.length) { if (!bitset.get(ps(j))) all = false; j += 1 }
        if (all) n += 1
      }
      n.toLong
    }
    corpus
      .select(col(idCol).as("id"), shingleUdf(col(textCol)).as("__sh"))
      .select(col("id"),
        size(col("__sh")).cast("long").as("n_shingles"),
        countMaybe(col("__sh")).as("n_maybe"))
      .withColumn("kept", col("n_maybe") === 0L)
  }

  /** Fixed-memory Bloom semi-join flag: mark every row of `df` whose
    * long key is POSSIBLY in `keys` — the join-pushdown primitive for
    * "filter a corpus by another table's ids" when the key set is too
    * big to broadcast exactly but the corpus is far too big to shuffle
    * (10^9 ids → a 2^31-bit filter is 256 MiB per executor regardless).
    * Membership errors are one-sided and DETERMINISTIC: `in_filter` may
    * be true for a non-member (and replays identically in the oracle),
    * never false for a member — so `filter(in_filter)` keeps a superset
    * (safe semi-join prefilter) and `filter(!in_filter)` drops a superset
    * complement (exact anti-join NEGATIVE side: rows flagged false are
    * guaranteed non-members). Same Carter-Wegman positions as
    * [[bloomContamination]].
    *
    * Scale shape: the corpus side is COMPLETELY narrow (no exchange —
    * PlanSpec-pinned); the keys side reduces to its ≤`bits` distinct
    * positions, bounded-collected into the closure bitset. */
  def bloomSemiFlag(
      df: DataFrame, keyCol: String, keys: DataFrame, keysKeyCol: String,
      numHashes: Int = 3, bits: Int = 8192): DataFrame = {
    require(numHashes >= 1 && bits >= 64, "degenerate bloom geometry")
    val posUdf = udf((v: Long) => bloomPositions(v, numHashes, bits))
    val setPositions = keys
      .select(explode(posUdf(col(keysKeyCol).cast("long"))).as("pos"))
      .distinct()
      .collect().map(_.getInt(0))
    val bitset = new java.util.BitSet(bits)
    setPositions.foreach(bitset.set)
    val maybe = udf { (v: Long) =>
      val ps = bloomPositions(v, numHashes, bits)
      var all = true
      var j = 0
      while (j < ps.length) { if (!bitset.get(ps(j))) all = false; j += 1 }
      all
    }
    df.withColumn("in_filter", maybe(col(keyCol).cast("long")))
  }

  /** `polyHash(salt || id) mod 1e6`, with `id` read as a long. */
  private def ticket(salt: String, id: Column): Column =
    Dedup.polyHash(concat(lit(salt), id.cast("long").cast("string"))) % 1000000L

  /** Deterministic hash-based importance resampling (the DSIR-style
    * "sample proportionally to a per-document weight" stage, Xie et al.
    * 2023): a document is accepted iff
    *
    *   ticket(id) = polyHash(salt || id) mod 1e6  <  weight_micro
    *
    * with `weight_micro` clamped to [0, 1e6]. Expected acceptance rate of
    * a document equals its weight as a probability, yet the decision is a
    * pure function of (salt, id, weight) — identical at every parallelism,
    * on every engine, and on reruns (the resume property every curation
    * pipeline needs from its sampling stage; same contract as
    * [[sampleMix]] / [[hashSplit]]).
    *
    * Scale shape: purely narrow — one projection, no exchange, no RNG
    * state (asserted in PlanSpec). */
  def importanceResample(
      df: DataFrame, idCol: String, weightMicro: Column,
      salt: String = "rs:"): DataFrame = {
    val w = greatest(lit(0L), least(lit(1000000L), weightMicro.cast("long")))
    df.withColumn("weight_micro", w)
      .withColumn("ticket", ticket(salt, col(idCol)))
      .withColumn("accepted", col("ticket") < col("weight_micro"))
  }

  /** Deterministic weighted sample of at most `k` rows per key: each row
    * races with priority = ticket·10^6 div weight (ticket = the
    * [[importanceResample]] salt-hash in [0, 10^6)), and the k smallest
    * priorities per key win — a higher weight divides the ticket down,
    * so inclusion odds scale with weight, yet the sample is a pure
    * function of (salt, id, weight): identical on reruns, engines, and
    * cluster sizes. This is the exact-k complement of
    * [[importanceResample]]'s accept/reject (which cannot hit a target
    * count); the linear ticket/weight race replaces Efraimidis-Spirtes'
    * exponential race because `ln`/`pow` do not replay across libms —
    * the tradeoff is documented bias, not nondeterminism. Weights clamp
    * to [1, 10^6]. Adds (weight_micro, priority, rank).
    *
    * Scale shape: one exchange; the declarative rank-≤-k filter gets the
    * SPARK-37099 PARTIAL WindowGroupLimit below it, so a hot key ships k
    * candidates per map partition (asserted in PlanSpec). */
  def weightedSamplePerKey(
      df: DataFrame, keyCol: String, idCol: String, weightMicro: Column,
      k: Int, salt: String = "ws:"): DataFrame = {
    require(k > 0)
    val w = greatest(lit(1L), least(lit(1000000L), weightMicro.cast("long")))
    val win = Window.partitionBy(col(keyCol)).orderBy(col("priority").asc, col(idCol).asc)
    df.withColumn("weight_micro", w)
      .withColumn("__ticket", ticket(salt, col(idCol)))
      .withColumn("priority", expr("__ticket * 1000000 div weight_micro"))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .drop("__ticket")
  }

  /** Length-bucketed batch assignment: group rows of similar `lengthCol`
    * into fixed-size batches (the dynamic-batching prep for inference and
    * padded training — batching a 10-token doc with a 4000-token doc pads
    * 99% waste; batching within a length bucket pads almost none). Rows
    * rank within their `floor(length / bucketWidth)` bucket under a
    * deterministic (length, id) order; batch id = (bucket, rank div
    * batchSize), position = rank mod batchSize. Fully deterministic at
    * any parallelism. Adds (bucket, batch_seq, batch_pos).
    *
    * Scale shape: one exchange (hash by bucket) + a partition-local sort;
    * bucket widths bound intra-batch padding waste by construction
    * (every batch member is within `bucketWidth` tokens of its peers,
    * except the bucket's last partial batch). */
  def batchByLength(
      df: DataFrame, idCol: String, lengthCol: String,
      batchSize: Int, bucketWidth: Long = 64L): DataFrame = {
    require(batchSize >= 1 && bucketWidth > 0)
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col(lengthCol).asc, col(idCol).asc)
    df.withColumn("bucket",
        ((col(lengthCol) - pmod(col(lengthCol), lit(bucketWidth))) / bucketWidth).cast("long"))
      .withColumn("__rn", row_number().over(w) - 1)
      .withColumn("batch_seq", expr(s"__rn div $batchSize"))
      .withColumn("batch_pos", pmod(col("__rn"), lit(batchSize.toLong)))
      .drop("__rn")
  }

  /** Greedy sequence packing: place documents into fixed-capacity context
    * windows ("packs"), filling each pack in order until the next
    * document would overflow it — the sample-packing step that turns a
    * curated corpus into dense training sequences. Documents are first
    * assigned to one of `streams` independent pack streams by a
    * deterministic affine id-hash and ordered within each stream by a
    * second affine hash (a reproducible pseudo-random training order), so
    * the result is identical at every parallelism and on every engine —
    * the q50 DuckDB oracle replays the whole fold via a recursive CTE.
    *
    * Scale shape: ONE shuffle (hash-partition by stream) + an in-order
    * per-partition fold with O(1) state — never a collect_list, so a
    * stream of any length packs in constant memory. Each stream lives
    * wholly in one partition and the fold resets at stream boundaries,
    * which makes the output invariant to how many streams share a
    * partition (i.e. to cluster size). With `streams` ~ 100× cores, skew
    * is bounded by the hash and stragglers amortize.
    *
    * Output: (id, stream, pack_seq, pack_pos, n_tokens) — pack_seq is the
    * pack's index within its stream, pack_pos the document's position
    * within the pack. A document larger than `capacity` gets a pack of
    * its own (the standard rule: packs never split a document). */
  def packGreedy(
      df: DataFrame, idCol: String, tokensCol: String,
      capacity: Long, streams: Int = 1024): DataFrame = {
    require(capacity > 0 && streams > 0)
    val spark = df.sparkSession
    import spark.implicits._
    val p = Dedup.MersenneP
    val prepared = df.select(
        col(idCol).cast("long").as("id"),
        col(tokensCol).cast("long").as("toks"))
      .withColumn("stream",
        pmod(pmod(col("id") * lit(1103515245L) + lit(12345L), lit(p)), lit(streams.toLong))
          .cast("int"))
      .withColumn("ord", pmod(col("id") * lit(1234567891L) + lit(987654321L), lit(p)))
      .repartition(col("stream"))
      .sortWithinPartitions(col("stream"), col("ord"), col("id"))
      .as[(Long, Long, Int, Long)]
    prepared.mapPartitions { it =>
      var curStream = Int.MinValue
      var used = 0L
      var seq = -1L
      var pos = -1L
      it.map { case (id, toks, stream, _) =>
        if (stream != curStream) { curStream = stream; used = 0L; seq = -1L }
        if (seq < 0 || used + toks > capacity) { seq += 1; used = 0L; pos = -1L }
        used += toks
        pos += 1
        (id, stream, seq, pos, toks)
      }
    }.toDF("id", "stream", "pack_seq", "pack_pos", "n_tokens")
  }

  /** Cross-document duplicated-passage statistics: for each document, how
    * many of its distinct word `k`-grams occur in at least one OTHER
    * document, and the duplicated fraction. This is the corpus-internal
    * twin of [[contaminationHits]] and the practical stand-in for exact
    * substring deduplication (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — their suffix-array pass finds
    * verbatim repeated spans; shared k-grams are the bucketable
    * approximation of the same signal): docs whose text is mostly
    * passages seen elsewhere (mirrors, boilerplate, quote farms) get a
    * high `dup_frac` and are dropped or trimmed downstream.
    *
    * Scale shape: unlike decontamination there is no small side — both
    * sides are the corpus — so the op is honestly wide, but every
    * exchange carries only 16-byte (id, ngh) or (ngh, count) rows, never
    * text or shingle strings (asserted in PlanSpec): (1) the (id, ngh)
    * join probe, (2) the per-n-gram doc count (map-side partial combine,
    * so a hot boilerplate n-gram shared by millions of docs ships ONE
    * partial per map task, not one row per occurrence), (3) the per-doc
    * roll-up of (id, partial counts). The ngh-keyed join joins two frames
    * already partitioned the same way, adding no extra corpus pass; its
    * residual hot-key skew (the count side is tiny per key — one row —
    * but probe-side buckets can be hot) is AQE skew-split territory, same
    * as the LSH band joins. */
  def dupPassageStats(
      df: DataFrame, idCol: String, textCol: String, k: Int = 5): DataFrame = {
    val shingleUdf = udf(Dedup.wordShinglesKernel(k))
    val docNg = df
      .select(col(idCol).as("id"), explode(shingleUdf(col(textCol))).as("sg"))
      .select(col("id"), Dedup.polyHash(col("sg")).as("ngh"))
    val counts = docNg.groupBy("ngh").agg(count(lit(1)).as("ndocs"))
    docNg.join(counts, Seq("ngh"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_ngrams"),
        sum(when(col("ndocs") > 1L, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_ngrams"), 6))
  }

  /** Cross-source vocabulary overlap: exact Jaccard between every pair of
    * sources' distinct-token sets — the redundancy matrix behind mix
    * design (two crawls of the same sites waste their combined weight;
    * a low-overlap source adds coverage). Returns
    * (src_a, src_b, n_common, jaccard_micro) for pairs sharing ≥1 token
    * (zero-overlap pairs are absent by construction), src_a < src_b.
    *
    * Scale shape: the corpus collapses to the distinct (source, token
    * hash) frame first — THE map-combined exchange; everything after is
    * vocabulary-sized, not corpus-sized. The self-join on token hash
    * reuses that frame's partitioning (no extra corpus pass) and fans out
    * at most |sources|² rows per token; per-source sizes broadcast back.
    * Ratios are exact integer micro-units. */
  def sourceOverlap(df: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val st = df
      .select(col(sourceCol).as("source"),
        explode(split(trim(col(textCol)), "[ \\t\\n\\r]+")).as("term"))
      .filter(col("term") =!= "")
      .select(col("source"), Dedup.polyHash(col("term")).as("th"))
      .distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n"))
    st.select(col("source").as("src_a"), col("th"))
      .join(st.select(col("source").as("src_b"), col("th")), Seq("th"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("__na"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("__nb"))), Seq("src_b"))
      .withColumn("jaccard_micro", expr("n_common * 1000000 div (__na + __nb - n_common)"))
      .select(col("src_a"), col("src_b"), col("n_common"), col("jaccard_micro"))
  }

  /** Per-document n-gram novelty: how many of a document's distinct word
    * `k`-grams appear in NO document with a smaller id — the marginal-
    * contribution signal (a doc that is mostly re-statements of earlier
    * corpus content scores near 0; the corpus-growth twin of
    * [[dupPassageStats]], which is order-free). Returns (id, n_ngrams,
    * n_novel, novelty_micro) with novelty_micro the exact integer
    * micro-unit ratio.
    *
    * Scale shape: every exchange carries 16-byte (id, ngh) or count rows,
    * never text. The first-occurrence window is rank-1 per n-gram hash, so
    * SPARK-37099 inserts a PARTIAL WindowGroupLimit below its exchange — a
    * boilerplate n-gram in 10^8 docs ships one candidate per map
    * partition, exactly the [[dedupParagraphs]] hot-key story. */
  def noveltyStats(
      df: DataFrame, idCol: String, textCol: String, k: Int = 5): DataFrame = {
    val shingleUdf = udf(Dedup.wordShinglesKernel(k))
    val docNg = df
      .select(col(idCol).cast("long").as("id"), explode(shingleUdf(col(textCol))).as("sg"))
      .select(col("id"), Dedup.polyHash(col("sg")).as("ngh"))
      .distinct()
    val w = Window.partitionBy(col("ngh")).orderBy(col("id"))
    val novel = docNg
      .withColumn("__rn", row_number().over(w))
      // <= 1 (not === 1) so InferWindowGroupLimit pattern-matches
      .filter(col("__rn") <= 1)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_novel"))
    docNg.groupBy(col("id")).agg(count(lit(1)).as("n_ngrams"))
      .join(novel, Seq("id"), "left")
      .select(col("id"), col("n_ngrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_micro", expr("n_novel * 1000000 div n_ngrams"))
  }

  /** Corpus-wide paragraph-level exact deduplication (the CCNet pass,
    * Wenzek et al. 2020 §3.1: hash every paragraph, drop repeats across
    * the whole corpus — kills boilerplate headers/footers/cookie banners
    * that survive document-level dedup because every COPY lives in an
    * otherwise-unique page). A paragraph here is a non-empty line; the
    * first occurrence corpus-wide (ordered by (id, position) — total and
    * engine-independent) is kept, every later copy dropped, and each
    * document's text is reassembled from its surviving lines in original
    * order. Returns (id, text, n_kept); the rewritten text is
    * byte-compared against the DuckDB replay (q55). Documents whose every
    * line was seen earlier disappear (CCNet semantics: nothing left).
    *
    * Scale shape: paragraph text itself must move — that IS the op's data
    * (the keep/drop decision is global) — but it moves as individual
    * lines, never whole documents, and only twice: the first-occurrence
    * window hash-partitions (ph, id, pos, line) by paragraph hash, and
    * the reassembly groups the KEPT lines by id. The window is rank-1 per
    * hash, so SPARK-37099 inserts a PARTIAL WindowGroupLimit below the
    * exchange: a boilerplate line repeated 10^8 times ships one candidate
    * row per map partition, not 10^8 — the hot-key story is handled
    * before the wire, same as [[capPerKey]]. */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df
      .select(col(idCol).as("id"), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .filter(col("line") =!= "")
      .withColumn("ph", Dedup.polyHash(col("line")))
    val w = Window.partitionBy(col("ph")).orderBy(col("id"), col("pos"))
    lines
      .withColumn("__rn", row_number().over(w))
      // <= 1 (not === 1): the spelling InferWindowGroupLimit (SPARK-37099)
      // pattern-matches, so the rank-1 filter prunes map-side
      .filter(col("__rn") <= 1)
      .groupBy(col("id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          p => p.getField("line")), "\n").as("text"),
        count(lit(1)).as("n_kept"))
  }

  /** Within-document exact line dedup — the CCNet intra-doc pass (nav
    * menus and footers repeat INSIDE a page long before they repeat
    * across pages): every repeated non-empty line keeps only its FIRST
    * occurrence, empty lines survive (they are paragraph structure, not
    * content), and the document reassembles in original order. The
    * corpus-wide sibling is [[dedupParagraphs]]; this one is PURELY
    * NARROW — zero exchanges, codegen-friendly Column DSL, no UDF. The
    * per-doc first-occurrence scan is O(lines²) worst case, bounded by
    * document length, never by corpus size. The lines array is bound to
    * a column ONCE so the lambda references an attribute, not a
    * re-evaluated split (the Catalyst HOF re-evaluation hazard).
    * Returns (id, text, n_lines, n_kept). */
  def dedupLinesInDoc(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), split(col(textCol), "\n").as("__ls"))
      .withColumn("__ks", filter(col("__ls"), (x, i) =>
        (x === lit("")) || (array_position(col("__ls"), x) === i.cast("long") + 1L)))
      .select(col("id"), array_join(col("__ks"), "\n").as("text"),
        size(col("__ls")).cast("long").as("n_lines"),
        size(col("__ks")).cast("long").as("n_kept"))

  /** Data-quality gate (the Deequ-style constraint report): violation
    * counts for a set of named row-level pass predicates, plus a
    * uniqueness check on the id column — the validation step that runs
    * before a corpus snapshot is allowed to feed training. A NULL
    * predicate result counts as a VIOLATION (a null lang fails `lang IN
    * (...)` rather than slipping past it). Returns one row per
    * constraint: (check_name, violations, pass).
    *
    * Scale shape: ONE map-combined aggregate over the corpus computes
    * every predicate's violation count and the row count; the id
    * uniqueness check is the only distinct (Expand over the id column
    * alone). The report stays a lazy 1-row frame exploded to
    * constraint rows — composable into gates (`.filter(!pass)` non-empty
    * ⇒ abort the pipeline). */
  def qualityReport(
      df: DataFrame, idCol: String, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty)
    val aggs = checks.zipWithIndex.map { case ((_, c), i) =>
      sum(when(coalesce(c, lit(false)), 0L).otherwise(1L)).as(s"__v$i")
    } ++ Seq(count(lit(1)).as("__n"), countDistinct(col(idCol)).as("__d"))
    val entries = checks.zipWithIndex.map { case ((n, _), i) =>
      struct(lit(n).as("check_name"), col(s"__v$i").as("violations"))
    } :+ struct(lit(s"unique:$idCol").as("check_name"),
      (col("__n") - col("__d")).as("violations"))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(entries: _*)).as("e"))
      .select(col("e.check_name").as("check_name"), col("e.violations").as("violations"))
      .withColumn("pass", col("violations") === 0L)
  }

  /** Per-COLUMN exact profile (the Deequ/data-audit companion of
    * [[qualityReport]]: that one checks named constraints, this one
    * DESCRIBES each column): row count, null count, exact distinct
    * count, and min/max — min/max taken in the column's native type and
    * cast to string only for the uniform report schema (so a BIGINT
    * column reports numeric min, not lexicographic). The standard
    * pre-training audit table for "is this snapshot's column healthy"
    * (null-rate spikes, cardinality collapse, out-of-range values).
    *
    * Scale shape: ONE aggregate pass — the k exact count-distincts share
    * a single Expand (k× row fan-out of just the profiled columns; raw
    * text should not be in `cols`). At 10^12 rows prefer the KMV sketch
    * (T33 [[Sketches.kmvDistinct]]) per column and keep this exact
    * variant for snapshot audits. Floating-point columns profile fine
    * but their min/max STRING forms are engine-specific — keep oracles
    * to integer/string columns. Returns one row per column:
    * (column, n_rows, n_null, n_distinct, min_s, max_s). */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nl$i"),
        countDistinct(col(c)).as(s"__nd$i"),
        min(col(c)).cast("string").as(s"__mn$i"),
        max(col(c)).cast("string").as(s"__mx$i"))
    }
    val entries = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("column"), col("__n").as("n_rows"),
        col(s"__nl$i").as("n_null"), col(s"__nd$i").as("n_distinct"),
        col(s"__mn$i").as("min_s"), col(s"__mx$i").as("max_s"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(entries: _*)).as("e"))
      .select(col("e.column").as("column"), col("e.n_rows").as("n_rows"),
        col("e.n_null").as("n_null"), col("e.n_distinct").as("n_distinct"),
        col("e.min_s").as("min_s"), col("e.max_s").as("max_s"))
  }

  /** Filter-funnel report: survival counts through an ORDERED filter
    * cascade — the "which gate ate my corpus" profile that runs before
    * committing to a filter recipe (RefinedWeb/DCLM-style cascades
    * routinely drop 90%+ of a crawl; knowing WHERE matters more than the
    * final count). Stage i counts rows passing predicates 1..i, so
    * `rows_in` of stage i equals `rows_out` of stage i−1 and the report
    * reads as a funnel. A NULL predicate result drops the row — the same
    * null-never-passes stance as [[qualityReport]]. Returns one row per
    * stage: (stage, stage_name, rows_in, rows_out, dropped).
    *
    * Scale shape: ONE map-combined aggregate evaluates every cumulative
    * predicate in a single corpus scan — profiling a 6-stage cascade the
    * naive way (count after each filter) scans 100 TB six times. The
    * report stays a lazy 1-row frame exploded to stage rows. */
  def funnelReport(df: DataFrame, stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty)
    val cums = stages
      .scanLeft(lit(true): Column)((acc, s) => acc && coalesce(s._2, lit(false))).tail
    val aggs = count(lit(1)).as("__n") +: cums.zipWithIndex.map { case (c, i) =>
      sum(when(c, 1L).otherwise(0L)).as(s"__s$i")
    }
    val entries = stages.zipWithIndex.map { case ((n, _), i) =>
      val prev = if (i == 0) col("__n") else col(s"__s${i - 1}")
      struct(lit((i + 1).toLong).as("stage"), lit(n).as("stage_name"),
        prev.as("rows_in"), col(s"__s$i").as("rows_out"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(entries: _*)).as("e"))
      .select(col("e.stage").as("stage"), col("e.stage_name").as("stage_name"),
        col("e.rows_in").as("rows_in"), col("e.rows_out").as("rows_out"))
      .withColumn("dropped", col("rows_in") - col("rows_out"))
  }

  /** Per-key majority label + consistency: for every key, the most common
    * label (ties break to the lexicographically smallest), how many rows
    * carry it, and the mixed fraction in exact micro-units — the
    * label-purity profile behind source-language consistency checks (a
    * crawl source claiming English that is 30% other languages), license
    * homogeneity, format drift. Returns
    * (key, majority, n_total, n_majority, mixed_micro).
    *
    * Scale shape: the corpus collapses map-combined to (key, label,
    * count) rows first; the majority window and the total run over
    * label-cardinality rows per key, never corpus rows. */
  def majorityStats(df: DataFrame, keyCol: String, labelCol: Column): DataFrame = {
    val counts = df.select(col(keyCol).as("key"), labelCol.as("label"))
      .groupBy(col("key"), col("label"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("key")).orderBy(col("c").desc, col("label").asc)
    counts
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_total", sum(col("c")).over(Window.partitionBy(col("key"))))
      .filter(col("__rn") <= 1)
      .select(col("key"), col("label").as("majority"), col("n_total"),
        col("c").as("n_majority"),
        expr("(n_total - c) * 1000000 div n_total").as("mixed_micro"))
  }

  /** Token-rate divergence between two corpus slices, per key — the drift
    * monitor that answers "did this source's content distribution shift
    * between crawls" (a mirror gone spammy, a template change) before the
    * shift poisons a training mix. Per (key, token-hash): the token's
    * micro-unit rate in each slice (count·10^6 div slice total); the
    * divergence is Σ (r1−r2)² div (r1+r2+1) — a χ²-style rate statistic
    * kept in EXACT integer arithmetic (the principled G-test needs `ln`,
    * which does not replay across libms; the tradeoff is the statistic's
    * family, never its determinism). Returns (key, n_terms, divergence);
    * divergence 0 ⇔ identical rate vectors.
    *
    * Scale shape: each slice collapses map-combined to (key, hash, count)
    * rows — text never shuffles; per-key totals broadcast back; the
    * full-outer join keys both vocab frames identically. */
  def rateDivergence(
      oldDf: DataFrame, newDf: DataFrame,
      keyCol: String, textCol: String): DataFrame = {
    def rates(df: DataFrame) = {
      val tf = df
        .select(col(keyCol).as("key"),
          explode(split(trim(col(textCol)), "[ \\t\\n\\r]+")).as("term"))
        .filter(col("term") =!= "")
        .select(col("key"), Dedup.polyHash(col("term")).as("th"))
        .groupBy(col("key"), col("th")).agg(count(lit(1)).as("c"))
      val tot = tf.groupBy(col("key")).agg(sum(col("c")).as("t"))
      tf.join(broadcast(tot), Seq("key"))
        .select(col("key"), col("th"), expr("c * 1000000 div t").as("r"))
    }
    rates(oldDf).withColumnRenamed("r", "r1")
      .join(rates(newDf).withColumnRenamed("r", "r2"), Seq("key", "th"), "full_outer")
      .select(col("key"), col("th"),
        coalesce(col("r1"), lit(0L)).as("r1"), coalesce(col("r2"), lit(0L)).as("r2"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_terms"),
        sum(expr("((r1 - r2) * (r1 - r2)) div (r1 + r2 + 1)")).as("divergence"))
  }

  /** Crawl snapshot delta: classify every url across two snapshots of a
    * recurring dump (Common Crawl monthlies) as added / removed / changed
    * / unchanged by content digest — the incremental-processing primitive
    * that lets a 100-TB pipeline re-extract only what changed. Returns
    * (key, status, old_digest, new_digest).
    *
    * Scale shape: one full-outer equi-join on the key, carrying only
    * (key, digest) — never page bodies; callers join the delta back to
    * the new snapshot to fetch content for the added/changed slice. On a
    * real deployment both snapshots are bucketed by url so the join is
    * co-located (zero exchange); unbucketed, it is a single SMJ whose
    * wire cost is two digest columns, and AQE handles hot-host url skew. */
  def snapshotDelta(
      oldSnap: DataFrame, newSnap: DataFrame,
      keyCol: String, digestCol: String): DataFrame = {
    val o = oldSnap.select(col(keyCol).as("key"), col(digestCol).as("old_digest"))
    val n = newSnap.select(col(keyCol).as("key"), col(digestCol).as("new_digest"))
    o.join(n, Seq("key"), "full_outer")
      .withColumn("status",
        when(col("old_digest").isNull, "added")
          .when(col("new_digest").isNull, "removed")
          .when(col("old_digest") === col("new_digest"), "unchanged")
          .otherwise("changed"))
      .select(col("key"), col("status"), col("old_digest"), col("new_digest"))
  }

  /** `df` with the floor bucket `__b` = ⌊`valueCol` / `width`⌋ of its long
    * `valueCol` (pmod keeps negative values in their bucket), and the long
    * `aggs` per bucket collected to the driver as (bucket, values): the
    * bounded collect of the prefix-sum ops, ≤65536 buckets enforced. */
  private def bucketTotals(df: DataFrame, valueCol: String, width: Long)(
      aggs: Column*): (DataFrame, Array[(Long, IndexedSeq[Long])]) = {
    val v = col(valueCol)
    val b = df.withColumn("__b", ((v - pmod(v, lit(width))) / width).cast("long"))
    val totals = b.groupBy(col("__b")).agg(aggs.head, aggs.tail: _*)
      .collect().map(r => (r.getLong(0), aggs.indices.map(i => r.getLong(i + 1))))
    require(totals.length <= 65536,
      s"bucketWidth=$width yields ${totals.length} buckets; widen it (bounded-collect contract)")
    (b, totals)
  }

  /** EXACT GLOBAL quantiles of an integral column WITHOUT a global sort —
    * the corpus-wide percentile (p50/p99 length, quality cutoffs) done the
    * way a 100-TB job must: phase 1 counts rows per fixed-width value
    * bucket (one map-combined aggregate, bounded output ≤65536 buckets,
    * collected — the T50 pattern); the driver locates, for each requested
    * `q`, the bucket containing global rank floor((n−1)·q)+1 and the rank
    * WITHIN that bucket; phase 2 sorts ONLY the target buckets
    * (partition-local, tiny) and picks the ranked rows. Same type-1
    * quantile definition and (value, tiebreak) total order as
    * [[exactQuantiles]], so the DuckDB oracle is a straight global rank.
    * Returns (q, value). */
  def globalQuantiles(
      df: DataFrame, valueCol: String, tiebreakCol: String,
      qs: Seq[Double] = Seq(0.0, 0.25, 0.5, 0.75, 1.0),
      bucketWidth: Long = 256L): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1) && bucketWidth > 0)
    val spark = df.sparkSession
    import spark.implicits._
    val (base, totals) = bucketTotals(
      df.select(col(valueCol).cast("long").as("value"), col(tiebreakCol).cast("long").as("tb")),
      "value", bucketWidth)(count(lit(1)).as("c"))
    val counts = totals.map { case (b, t) => (b, t(0)) }.sortBy(_._1)
    val n = counts.map(_._2).sum
    require(n > 0, "globalQuantiles over an empty frame")
    val targets = qs.map { q =>
      val rank = math.floor((n - 1) * q).toLong + 1
      var cum = 0L
      var found: (Double, Long, Long) = null
      val it = counts.iterator
      while (found == null && it.hasNext) {
        val (b, c) = it.next()
        if (cum + c >= rank) found = (q, b, rank - cum) else cum += c
      }
      found
    }
    val tDf = broadcast(targets.toDF("q", "__b", "__rw"))
    val w = Window.partitionBy(col("__b")).orderBy(col("value"), col("tb"))
    // bucket prune as a literal isin — pushes into the scan, no join
    base.filter(col("__b").isin(targets.map(_._2).distinct: _*))
      .withColumn("__rn", row_number().over(w))
      .join(tDf, Seq("__b"))
      .filter(col("__rn") === col("__rw"))
      .select(col("q"), col("value"))
  }

  /** Token-budget quality take: keep the highest-`quality` documents until
    * a global `budget` of tokens is filled — the "train on the best N
    * tokens" selection step (FineWeb/Dolma-style curation: score
    * everything, take the top slice by token budget, not by row count).
    * A document is kept iff the INCLUSIVE running token sum, in
    * (quality desc, id asc) order, is ≤ budget — a total order, so the
    * kept set is exact and identical on every engine and at every
    * parallelism. Returns (id, quality, n_tokens, cum_tokens, kept).
    * `quality` must be integral (micro-units upstream of this op) — float
    * quality reintroduces the cross-engine rounding boundary (CLAUDE.md).
    *
    * Scale shape: a global ordered prefix sum WITHOUT a global sort.
    * Rows bucket by `floor(quality / bucketWidth)` (monotone in quality,
    * so bucket order extends the global order); per-bucket token totals
    * are a tiny map-combined aggregate whose result — bounded by the
    * quality domain over `bucketWidth`, ≤65536 enforced — is collected
    * and turned into exclusive per-bucket offsets on the driver (the IVF
    * codebook / Bloom bitset pattern: THE bounded collect of the design),
    * then broadcast back. The corpus itself moves exactly once: one
    * exchange keyed by bucket for the within-bucket running-sum window;
    * raw text never rides it (asserted in PlanSpec). The single-partition
    * sort a naive `Window.orderBy(quality)` global cumsum would plan is
    * exactly what this shape exists to avoid. */
  def budgetTake(
      df: DataFrame, idCol: String, tokensCol: String, qualityCol: String,
      budget: Long, bucketWidth: Long = 256L): DataFrame = {
    require(budget >= 0 && bucketWidth > 0)
    val spark = df.sparkSession
    import spark.implicits._
    val (base, totals) = bucketTotals(
      df.select(
        col(idCol).cast("long").as("id"),
        col(tokensCol).cast("long").as("n_tokens"),
        col(qualityCol).cast("long").as("quality")),
      "quality", bucketWidth)(sum(col("n_tokens")).as("__bt"))
    // exclusive prefix sums in descending bucket (= descending quality) order
    var acc = 0L
    val offsets = totals.sortBy(-_._1).map { case (b, t) => val o = acc; acc += t(0); (b, o) }
    val offDf = broadcast(offsets.toSeq.toDF("__b", "__off"))
    val wIn = Window.partitionBy(col("__b"))
      .orderBy(col("quality").desc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(offDf, Seq("__b"))
      .withColumn("cum_tokens", col("__off") + sum(col("n_tokens")).over(wIn))
      .withColumn("kept", col("cum_tokens") <= budget)
      .select(col("id"), col("quality"), col("n_tokens"), col("cum_tokens"), col("kept"))
  }

  /** Dataset card — the one-row datasheet (Gebru et al. 2021) a corpus
    * snapshot publishes alongside itself: document/source/language
    * counts, token and character totals, exact whole-text duplicate
    * rate, and mean document length, every figure exact-integer. The
    * companion to [[qualityReport]] (which gates) and [[funnelReport]]
    * (which attributes) — this one DESCRIBES.
    *
    * Scale shape: ONE aggregate pass; the three exact count-distincts
    * (source, lang, md5(text)) share a single Expand — a 3× scan-row
    * multiplier that is the documented price of exact figures on a
    * card produced once per snapshot; the digest is in the scan
    * projection so raw text never rides the Expand. Returns one row. */
  def datasetCard(
      df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, langCol: String): DataFrame =
    df.select(col(idCol).as("__id"), col(sourceCol).as("__src"),
        col(langCol).as("__lang"), md5(col(textCol)).as("__dig"),
        length(col(textCol)).cast("long").as("__chars"),
        size(split(trim(col(textCol)), "\\s+")).cast("long").as("__toks"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__src")).as("n_sources"),
        countDistinct(col("__lang")).as("n_langs"),
        countDistinct(col("__dig")).as("n_unique_texts"),
        sum(col("__toks")).as("n_tokens"),
        sum(col("__chars")).as("n_chars"))
      .select(col("n_docs"), col("n_sources"), col("n_langs"),
        col("n_unique_texts"), col("n_tokens"), col("n_chars"),
        expr("(n_docs - n_unique_texts) * 1000000 div n_docs").as("dup_rate_micro"),
        expr("n_chars div n_docs").as("mean_doc_chars"))

  /** Key-skew profile: the top-k heaviest keys with their corpus share
    * and the cumulative share curve — the "which host IS the crawl"
    * report read before choosing salting factors, per-key quotas (T20),
    * and AQE skew thresholds; at web scale a handful of hosts routinely
    * carry double-digit percentages and every downstream shuffle
    * inherits that skew unseen. Shares are exact integer micro-units.
    *
    * Scale shape: one map-combined key count (the skew itself is what
    * partial aggregation flattens), a 1-row total broadcast, and a
    * TakeOrderedAndProject top-k — never a global sort; the rank and
    * cumulative-share windows run on the ≤k-row frame AFTER the take
    * (their sort is partition-local on k rows). Returns
    * (rank, key, n, share_micro, cum_share_micro). */
  def skewProfile(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame = {
    require(topK >= 1)
    val counts = df.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("n"))
    val tot = broadcast(counts.agg(sum(col("n")).as("__t")))
    val w = Window.orderBy(col("n").desc, col("key"))
    counts.orderBy(col("n").desc, col("key")).limit(topK)
      .crossJoin(tot)
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("share_micro", expr("n * 1000000 div __t"))
      .withColumn("cum_share_micro",
        expr("sum(n) OVER (ORDER BY n DESC, key ROWS UNBOUNDED PRECEDING) * 1000000 div __t"))
      .select(col("rank"), col("key"), col("n"), col("share_micro"), col("cum_share_micro"))
  }

  /** Fixed-width value histogram with the cumulative distribution in
    * exact micro-units — the length/score profile read before picking
    * filter cutoffs (the quantile ops T44/T66 answer "what value sits at
    * p99"; the histogram answers "what does the whole shape look like").
    * Buckets are `value div width` (non-negative values; floor there).
    *
    * Scale shape: one map-combined bucket aggregate (key space =
    * value-range/width, never the corpus), a 1-row total broadcast, and
    * rank/cumulative windows over the small bucket frame (partition-
    * local sort on bucket count rows). Returns
    * (bucket, lo, n, share_micro, cum_share_micro). */
  def histogram(df: DataFrame, valueCol: String, width: Long): DataFrame = {
    require(width > 0)
    val counts = df
      .select(expr(s"cast($valueCol as long) div ${width}L").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val tot = broadcast(counts.agg(sum(col("n")).as("__t")))
    counts.crossJoin(tot)
      .withColumn("lo", col("bucket") * width)
      .withColumn("share_micro", expr("n * 1000000 div __t"))
      .withColumn("cum_share_micro",
        expr("sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) * 1000000 div __t"))
      .select(col("bucket"), col("lo"), col("n"), col("share_micro"), col("cum_share_micro"))
  }

  /** Per-key Gini coefficient over a NON-NEGATIVE value column — the
    * inequality read on a corpus dimension: Gini of doc lengths per
    * source separates "uniform template farm" (≈0) from "few mega-docs
    * own the feed" (→1), the one-number complement of [[histogram]]'s
    * whole distribution and [[skewProfile]]'s top-k view. Uses the exact
    * rank formula G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over ascending ranks
    * in integer micro-units — the numerator is Chebyshev-nonnegative and
    * tie-permutation-INVARIANT (equal values contribute the same Σi·x
    * under any tie order), so no tiebreak column is needed and the
    * result replays exactly cross-engine.
    *
    * Scale shape: one key-partitioned rank window + one aggregate on the
    * same partitioning — a single exchange, partition-local sorts, no
    * global sort. Documented bound: Σi·x needs n²·x̄ < 2⁶³ per key
    * (≈10⁹ docs of 1 KB per key) — beyond that, pre-scale the value or
    * widen to decimal. Returns (key, n, total, gini_micro). */
  def giniByKey(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val rank = row_number().over(
      Window.partitionBy(col("__k")).orderBy(col("__x")))
    df.select(col(keyCol).as("__k"), col(valueCol).cast("long").as("__x"))
      .withColumn("__i", rank)
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("total"),
        sum(expr("__i * __x")).as("__s1"))
      .withColumn("gini_micro",
        expr("(2 * __s1 - (n + 1) * total) * 1000000 div greatest(n * total, 1)"))
      .select(col("__k").as("key"), col("n"), col("total"), col("gini_micro"))
  }

  /** Per-key EXACT type-1 quantiles at a list of micro-probabilities —
    * the generic form of the ordered statistic T122 computes for gaps
    * (its p95) and the per-key complement of globalQuantiles (which is
    * corpus-wide and bucket-routed): each key's p-quantile is the value
    * at rank ceil(n·p/10⁶) under the (value, tiebreak) TOTAL order, so
    * the answer is an actual data value, deterministic, and replays
    * cross-engine with zero float steps. The per-feed length/quality
    * percentile table that calibrates [[keepTopFractionPerKey]] cuts.
    *
    * Scale shape: one key exchange shared by the rank and count windows,
    * then a NARROW explode of the (tiny, literal) probability list and a
    * rank-match filter — per-key sort is the ordered statistic's
    * unavoidable cost, nothing else shuffles. p=0 clamps to rank 1
    * (min); p=10⁶ is the max. Returns (key, p_micro, n, value). */
  def quantilesByKey(
      df: DataFrame, keyCol: String, valCol: String, tieCol: String,
      psMicro: Seq[Long]): DataFrame = {
    require(psMicro.nonEmpty && psMicro.forall(p => p >= 0L && p <= 1000000L))
    val byKey = Window.partitionBy(col("__k"))
    df.select(col(keyCol).as("__k"), col(valCol).cast("long").as("__v"),
        col(tieCol).as("__t"))
      .withColumn("__rn", row_number().over(byKey.orderBy(col("__v"), col("__t"))))
      .withColumn("__n", count(lit(1)).over(byKey))
      .select(col("__k"), col("__v"), col("__rn"), col("__n"),
        explode(array(psMicro.map(lit(_)): _*)).as("p_micro"))
      .filter(col("__rn") ===
        greatest(lit(1L), expr("(__n * p_micro + 999999L) div 1000000L")))
      .select(col("__k").as("key"), col("p_micro"), col("__n").as("n"),
        col("__v").as("value"))
  }

  /** Per-key Spearman rank correlation between two value columns, exact
    * integer micro-units: ρ = 1 − 6·Σd²/(n(n²−1)) with both rank columns
    * assigned under TOTAL orders ((value, tiebreak) ascending), so the
    * result is deterministic and replays cross-engine — no averaged tie
    * ranks, no float covariance. This is the signal-redundancy read of a
    * curation stack: two quality signals correlating at ρ ≈ 1 within a
    * feed are one signal (drop the expensive one); ρ near 0 means they
    * gate different documents and both earn their cost.
    *
    * Scale shape: two rank windows + one aggregate, ALL on the same key
    * partitioning — a single exchange, partition-local sorts only.
    * Documented bound: n(n²−1)·10⁶ must fit int64 → n ≤ ~115k rows per
    * key; beyond that, sample per key first (T45) or widen to decimal.
    * Keys with n < 2 are dropped (ρ undefined). Returns (key, n,
    * sum_d2, rho_micro). */
  def spearmanByKey(
      df: DataFrame, keyCol: String, aCol: String, bCol: String,
      tieCol: String): DataFrame = {
    val byKey = Window.partitionBy(col("__k"))
    val ra = row_number().over(byKey.orderBy(col("__a"), col("__t")))
    val rb = row_number().over(byKey.orderBy(col("__b"), col("__t")))
    df.select(col(keyCol).as("__k"), col(aCol).cast("long").as("__a"),
        col(bCol).cast("long").as("__b"), col(tieCol).as("__t"))
      .withColumn("__ra", ra).withColumn("__rb", rb)
      .withColumn("__d", col("__ra") - col("__rb"))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n"), sum(expr("__d * __d")).as("sum_d2"))
      .filter(col("n") >= 2)
      .withColumn("rho_micro",
        expr("1000000 - (6000000 * sum_d2) div (n * (n * n - 1))"))
      .select(col("__k").as("key"), col("n"), col("sum_d2"), col("rho_micro"))
  }

  /** Cluster-size profile over a dedup membership table — the report a
    * production dedup run ends with: how many clusters of each size, how
    * many documents they hold, and each size class's share of the corpus
    * (exact micro-units). A heavy tail of large clusters means templated
    * mirror farms; all-singletons means the dedup found nothing. Feed it
    * [[connectedComponents]] output (or any (id, comp) table).
    *
    * Scale shape: one (comp) count aggregate, then a (size) aggregate
    * whose key space is ≤ the largest cluster size — both map-combined;
    * the 1-row doc total broadcasts. Returns
    * (cluster_size, n_clusters, n_docs, share_micro). */
  def clusterSizeProfile(members: DataFrame, compCol: String = "comp"): DataFrame = {
    val sizes = members.groupBy(col(compCol)).agg(count(lit(1)).as("__sz"))
    val tot = broadcast(sizes.agg(sum(col("__sz")).as("__n")))
    sizes.groupBy(col("__sz"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumnRenamed("__sz", "cluster_size")
      .withColumn("n_docs", expr("cluster_size * n_clusters"))
      .crossJoin(tot)
      .withColumn("share_micro", expr("n_docs * 1000000 div __n"))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        col("share_micro"))
  }

  /** Canonical-URL dedup — resolve by what the SITE declares: pages
    * sharing a non-empty `rel=canonical` target (T136 harvests it) are
    * one logical document regardless of their content bytes (print
    * views, AMP mirrors, tracking-param variants all differ byte-wise);
    * pages without a declaration key on their own url. Keeps the minimum
    * url per canonical group (a stable representative) plus the group
    * size — run BEFORE content dedup: it is free precision the hash
    * methods cannot see.
    *
    * Scale shape: one narrow key projection + one map-combined
    * (canonical-key) aggregate; nothing but (key, url) pairs shuffle.
    * Returns (canon_key, kept_url, n_pages). */
  def canonicalDedup(df: DataFrame, urlCol: String, canonicalCol: String): DataFrame =
    df.select(
        when(col(canonicalCol).isNotNull && col(canonicalCol) =!= "",
          col(canonicalCol)).otherwise(col(urlCol)).as("canon_key"),
        col(urlCol).as("__u"))
      .groupBy(col("canon_key"))
      .agg(min(col("__u")).as("kept_url"), count(lit(1)).as("n_pages"))

  /** Domain-level quality gate (the FineWeb/RefinedWeb move): judge the
    * SITE, not the page — a content farm's individual pages can each
    * clear a per-doc filter while the domain mean exposes the template;
    * conversely one bad page shouldn't drop a good site. Per domain:
    * doc count, EXACT integer mean of a micro-unit score
    * (floor(Σscore / n) — feed [[TextOps.qualityScoreMicro]] or any
    * micro column), and the verdict `kept` = n ≥ `minDocs` AND mean ≥
    * `minMeanMicro` (thin domains fail the evidence bar rather than
    * ride a 1-doc mean).
    *
    * Scale shape: ONE map-combined (domain) aggregate — the corpus
    * collapses map-side to (domain, 2 longs); join `kept` back by
    * domain (hosts-sized, broadcastable) to actually drop pages.
    * Returns (domain, n_docs, mean_micro, kept). */
  def domainQualityGate(
      df: DataFrame, domainCol: String, scoreMicroCol: String,
      minMeanMicro: Long, minDocs: Long = 1L): DataFrame =
    df.select(col(domainCol).as("domain"), col(scoreMicroCol).as("__s"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__s")).as("__total"))
      .select(col("domain"), col("n_docs"),
        expr("__total div n_docs").as("mean_micro"))
      .withColumn("kept",
        col("n_docs") >= minDocs && col("mean_micro") >= minMeanMicro)

  /** Dedup FLOW matrix: given cluster membership (id, comp) and doc
    * metadata (id, source), count for every (canonical_source,
    * duplicate_source) pair how many non-canonical cluster members the
    * duplicate source contributed — the mirror-DIRECTION read the
    * cluster-size histogram (T126) aggregates away: a heavy
    * (A, B) cell says feed B republishes feed A (B's copies lose to A's
    * canonicals), the diagonal counts within-feed duplication, and a
    * feed whose column sum ≈ its corpus share is pure syndication.
    * Canonical = min id per cluster (swap in [[keepBestPerCluster]]
    * upstream for quality-ranked canonicals).
    *
    * Scale shape: one map-combined min per comp, two id-keyed equi-joins
    * (metadata by member id, then by canonical id), one (src, src) pair
    * aggregate whose key space is ≤ sources². Returns
    * (canon_source, dup_source, n_docs). */
  def dedupFlowMatrix(
      members: DataFrame, meta: DataFrame,
      idCol: String = "id", compCol: String = "comp",
      metaIdCol: String = "id", sourceCol: String = "source"): DataFrame = {
    val m = members.select(col(idCol).cast("long").as("__id"), col(compCol).as("__c"))
    val src = meta.select(col(metaIdCol).cast("long").as("__id"), col(sourceCol).as("__s"))
    val canon = m.groupBy(col("__c")).agg(min(col("__id")).as("__cid"))
    m.join(canon, Seq("__c"))
      .filter(col("__id") =!= col("__cid"))
      .join(src, Seq("__id"))
      .join(src.select(col("__id").as("__cid"), col("__s").as("__cs")), Seq("__cid"))
      .groupBy(col("__cs").as("canon_source"), col("__s").as("dup_source"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Robust per-key outlier gate by median absolute deviation: a row is
    * an outlier when |value − median| > k·MAD — the robust cousin of the
    * z-score cut (mean/stddev move with the very outliers being hunted;
    * median/MAD have a 50% breakdown point), the standard way to trim
    * length-freak documents per source without hand-picked thresholds.
    * Both medians are the exact type-1 quantile under a total (value,
    * tiebreak) order ([[exactQuantiles]]'s definition), so every flag is
    * integer-exact and engine-independent — no `percentile_approx`
    * nondeterminism deciding which documents survive. `k` is integral
    * (default 3); an all-identical group has MAD 0 and flags any
    * deviation, matching the robust-statistics convention.
    *
    * Scale shape: two window passes over the SAME key partitioning (one
    * per median — the second over the derived deviations) plus a
    * broadcast join of the two tiny per-key median tables back to the
    * rows; groups sort partition-locally, never globally. Returns
    * (id, key, value, med, mad, is_outlier). */
  def madOutliers(
      df: DataFrame, keyCol: String, valueCol: String, tiebreakCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 1)
    val base = df.select(col(keyCol).as("key"),
      col(valueCol).cast("long").as("value"), col(tiebreakCol).as("__tb"))
    def medians(d: DataFrame, vCol: String): DataFrame = {
      val w = Window.partitionBy(col("key")).orderBy(col(vCol), col("__tb"))
      val wAll = Window.partitionBy(col("key"))
      d.withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(wAll))
        .filter(col("__rn") === floor((col("__n") - 1) / 2) + 1)
        .select(col("key"), col(vCol).as("__m"))
    }
    val med = medians(base, "value").withColumnRenamed("__m", "med")
    val withMed = base.join(broadcast(med), Seq("key"))
      .withColumn("__dev", abs(col("value") - col("med")))
    val mad = medians(withMed.select(col("key"), col("__dev"), col("__tb")), "__dev")
      .withColumnRenamed("__m", "mad")
    withMed.join(broadcast(mad), Seq("key"))
      .select(col("__tb").as("id"), col("key"), col("value"), col("med"), col("mad"),
        (col("__dev") > col("mad") * k).as("is_outlier"))
  }

  /** Deterministic training-order shuffle WITHOUT a global sort: every
    * row gets an exact position in a pseudorandom permutation — the
    * "shuffle the corpus before epoch 0" step, reproducible across runs,
    * engines, and cluster sizes (a `rand()` sort is none of these). The
    * permutation is lexicographic in (bucket, key, id) where key is the
    * Carter-Wegman affine hash of the id and bucket = key mod `buckets`;
    * both are hash-derived, so the order decorrelates from ingest order
    * while staying a pure function of ids.
    *
    * Scale shape: the [[budgetTake]]/globalQuantiles offset pattern —
    * per-bucket counts bounded-collected (≤ `buckets` ≤ 65536 rows) into
    * exclusive prefix offsets, broadcast back, ONE bucket-keyed exchange
    * whose partition-local rank adds to the offset. No SinglePartition
    * anywhere; a 10^12-row corpus never total-orders. Returns
    * (id, bucket, pos) with pos a 0-based exact permutation index. */
  def deterministicShuffle(
      df: DataFrame, idCol: String, buckets: Int = 1024): DataFrame = {
    require(buckets >= 1 && buckets <= 65536)
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(col(idCol).cast("long").as("id"))
      .withColumn("__k",
        pmod(col("id") * lit(1103515245L) + lit(12345L), lit(Dedup.MersenneP)))
      .withColumn("bucket", pmod(col("__k"), lit(buckets.toLong)))
    val counts = keyed.groupBy(col("bucket")).agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var acc = 0L
    val offsets = counts.sortBy(_._1).map { case (b, n) => val o = acc; acc += n; (b, o) }
    val offDf = broadcast(offsets.toSeq.toDF("bucket", "__off"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("__k"), col("id"))
    keyed.join(offDf, Seq("bucket"))
      .withColumn("pos", col("__off") + row_number().over(w) - 1L)
      .select(col("id"), col("bucket"), col("pos"))
  }

  /** Classifier calibration report (reliability diagram + Brier score,
    * the companion diagnostic to [[thresholdSweep]]): a quality
    * classifier whose 0.9 bucket is right 60% of the time quietly skews
    * every downstream mix — DCLM-style pipelines check calibration before
    * trusting scores as sampling weights. Scores are micro-unit
    * probabilities in [0, 1e6]; bin b covers [b·1e6/bins, (b+1)·1e6/bins)
    * with the top edge folded into the last bin. Per bin:
    * n, n_pos, observed rate and mean confidence (exact integer
    * micro-units, `x·10^6 div y` — no float boundary), and the bin's
    * Brier contribution `Σ(p − y·10^6)² div (n·10^6)` (micro-unit mean
    * squared error; per-row squares ≤ 10^12, so corpora beyond ~9·10^6
    * rows per bin should pre-scale — documented bound, same family as
    * [[hashSplit]]'s). Returns
    * (bin, n, n_pos, conf_micro, acc_micro, brier_micro).
    *
    * Scale shape: ONE map-combined aggregate keyed on the bin (key space
    * = `bins`), nothing else — the corpus never shuffles. */
  def calibrationReport(
      df: DataFrame, scoreMicroCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2)
    val p = col(scoreMicroCol).cast("long")
    val y = when(col(labelCol).cast("boolean"), 1L).otherwise(0L)
    val bin = least(expr(s"($scoreMicroCol * $bins) div 1000000"), lit(bins - 1L))
    val sq = (p - y * lit(1000000L)) * (p - y * lit(1000000L))
    df.select(bin.cast("long").as("bin"), p.as("__p"), y.as("__y"), sq.as("__sq"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        sum(col("__p")).as("__sp"), sum(col("__sq")).as("__ssq"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("__sp div n").as("conf_micro"),
        expr("n_pos * 1000000 div n").as("acc_micro"),
        expr("__ssq div (n * 1000000)").as("brier_micro"))
  }

  /** Multi-class confusion statistics: per class, TP/FP/FN with exact
    * micro-unit precision / recall / F1 — the language-id or topic-
    * router scorecard ([[thresholdSweep]] sweeps binary cutoffs,
    * [[calibrationReport]] checks probabilities; this grades a hard
    * multiclass decision). F1 is computed from the micro-unit precision
    * and recall with one more exact integer division (`2·p·r div
    * (p+r)`), so there is no harmonic-mean float boundary. Zero-support
    * guards: an unpredicted class has precision 0, an absent class
    * recall 0, and p+r=0 gives F1 0. Returns
    * (class, tp, fp, fn, precision_micro, recall_micro, f1_micro).
    *
    * Scale shape: ONE map-combined (label, pred) aggregate — the corpus
    * collapses to a k² matrix before anything else happens; the per-
    * class rollup runs on that tiny frame. */
  def confusionStats(df: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val m = df.groupBy(col(labelCol).as("__l"), col(predCol).as("__p"))
      .agg(count(lit(1)).as("__n"))
    val classes = m.select(col("__l").as("clazz"))
      .union(m.select(col("__p"))).distinct()
    val tp = m.filter(col("__l") === col("__p"))
      .select(col("__l").as("clazz"), col("__n").as("tp"))
    val fp = m.filter(col("__l") =!= col("__p"))
      .groupBy(col("__p").as("clazz")).agg(sum(col("__n")).as("fp"))
    val fn = m.filter(col("__l") =!= col("__p"))
      .groupBy(col("__l").as("clazz")).agg(sum(col("__n")).as("fn"))
    classes
      .join(tp, Seq("clazz"), "left").join(fp, Seq("clazz"), "left")
      .join(fn, Seq("clazz"), "left")
      .select(col("clazz"), coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("fp"), lit(0L)).as("fp"), coalesce(col("fn"), lit(0L)).as("fn"))
      .withColumn("precision_micro",
        when(col("tp") + col("fp") === 0L, 0L)
          .otherwise(expr("tp * 1000000 div (tp + fp)")))
      .withColumn("recall_micro",
        when(col("tp") + col("fn") === 0L, 0L)
          .otherwise(expr("tp * 1000000 div (tp + fn)")))
      .withColumn("f1_micro",
        when(col("precision_micro") + col("recall_micro") === 0L, 0L)
          .otherwise(expr(
            "2 * precision_micro * recall_micro div (precision_micro + recall_micro)")))
  }

  /** Macro/micro summary over [[confusionStats]] output: macro-F1 (the
    * unweighted per-class mean — the number actually reported for
    * imbalanced routers, where micro metrics are dominated by the head
    * class) and micro precision/recall/F1 from the global TP/FP/FN
    * totals. All exact integer micro-units; the macro mean is one
    * integer division of the exact per-class sum. Returns one row
    * (n_classes, macro_f1_micro, micro_precision_micro,
    * micro_recall_micro, micro_f1_micro).
    *
    * Scale shape: one aggregate over the k-row class table. */
  def confusionSummary(stats: DataFrame): DataFrame =
    stats.agg(count(lit(1)).as("n_classes"),
        sum(col("f1_micro")).as("__sf1"),
        sum(col("tp")).as("__tp"), sum(col("fp")).as("__fp"),
        sum(col("fn")).as("__fn"))
      .select(col("n_classes"),
        expr("__sf1 div n_classes").as("macro_f1_micro"),
        when(col("__tp") + col("__fp") === 0L, 0L)
          .otherwise(expr("__tp * 1000000 div (__tp + __fp)")).as("micro_precision_micro"),
        when(col("__tp") + col("__fn") === 0L, 0L)
          .otherwise(expr("__tp * 1000000 div (__tp + __fn)")).as("micro_recall_micro"))
      .withColumn("micro_f1_micro",
        when(col("micro_precision_micro") + col("micro_recall_micro") === 0L, 0L)
          .otherwise(expr(
            """2 * micro_precision_micro * micro_recall_micro
              |div (micro_precision_micro + micro_recall_micro)""".stripMargin)))

  /** Classifier threshold sweep: for every OBSERVED score s (each a
    * candidate cutoff), the keep-everything-scoring-≥-s operating point —
    * n_kept, true positives, and precision / recall / kept-fraction — the
    * profiling step that picks a quality-classifier threshold before a
    * filter runs over the corpus. Scores must be integral (micro-units
    * upstream); the three ratios are exact integer micro-units
    * (`x·10^6 div y`), so there is no float boundary for engines to
    * disagree on (CLAUDE.md). Returns
    * (threshold, n_kept, tp, precision_micro, recall_micro, kept_micro).
    *
    * Scale shape: the corpus collapses FIRST — one map-combined exchange
    * to per-score (n, n_pos) rows, bounded by the score domain, never the
    * corpus. The descending-cumulative counts then reuse the
    * [[budgetTake]] prefix-sum shape: monotone score buckets, per-bucket
    * totals bounded-collected into exclusive offsets (also yielding the
    * grand totals for free — no second aggregate), one bucket-keyed
    * exchange for the within-bucket running sums. No global sort
    * anywhere. */
  def thresholdSweep(
      df: DataFrame, scoreCol: String, labelCol: String,
      bucketWidth: Long = 256L): DataFrame = {
    require(bucketWidth > 0)
    val spark = df.sparkSession
    import spark.implicits._
    val (perScore, totals) = bucketTotals(
      df.select(
          col(scoreCol).cast("long").as("score"),
          col(labelCol).cast("boolean").as("__pos"))
        .groupBy(col("score"))
        .agg(count(lit(1)).as("__n"),
          sum(when(col("__pos"), 1L).otherwise(0L)).as("__np")),
      "score", bucketWidth)(sum(col("__n")).as("__bn"), sum(col("__np")).as("__bp"))
    // running totals: exclusive offsets per bucket, grand totals after the loop
    var nTotal = 0L
    var posTotal = 0L
    val offsets = totals.sortBy(-_._1).map { case (b, t) =>
      val o = (b, nTotal, posTotal); nTotal += t(0); posTotal += t(1); o
    }
    val offDf = broadcast(offsets.toSeq.toDF("__b", "__offn", "__offp"))
    val wIn = Window.partitionBy(col("__b")).orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perScore.join(offDf, Seq("__b"))
      .withColumn("n_kept", col("__offn") + sum(col("__n")).over(wIn))
      .withColumn("tp", col("__offp") + sum(col("__np")).over(wIn))
      .select(col("score").as("threshold"), col("n_kept"), col("tp"),
        expr("tp * 1000000 div n_kept").as("precision_micro"),
        (if (posTotal > 0) expr(s"tp * 1000000 div ${posTotal}L")
         else lit(0L)).as("recall_micro"),
        expr(s"n_kept * 1000000 div ${nTotal max 1L}L").as("kept_micro"))
  }

  /** EXACT per-key quantiles of a numeric column — the corpus profiling
    * step that picks filter thresholds (length floors, outlier caps).
    * Returns (key, q, value) with value = the type-1 (lower) quantile:
    * the element at rank floor((n-1)·q)+1 under (value, tiebreak) order.
    * Fully deterministic and SQL-replayable (q62), unlike
    * `percentile_approx`.
    *
    * Scale shape: one exchange on the key, then a partition-LOCAL sort
    * (never global; both window functions reuse the same partitioning).
    * Exact quantiles inherently sort each key group — right for
    * per-source profiling where groups are bounded; a 100-TB single-group
    * quantile should use a sketch instead (see [[Sketches]]). */
  def exactQuantiles(
      df: DataFrame, keyCol: String, valueCol: String, tiebreakCol: String,
      qs: Seq[Double] = Seq(0.0, 0.25, 0.5, 0.75, 1.0)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1))
    val w = Window.partitionBy(col("key")).orderBy(col("value"), col(tiebreakCol))
    val wAll = Window.partitionBy(col("key"))
    df.select(col(keyCol).as("key"), col(valueCol).as("value"), col(tiebreakCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .select(col("key"), col("value"), col("__rn"), col("__n"),
        explode(array(qs.map(lit(_)): _*)).as("q"))
      .filter(col("__rn") === floor((col("__n") - 1) * col("q")) + 1)
      .select(col("key"), col("q"), col("value"))
  }

  /** Temperature-scaled source mixing weights — the multilingual /
    * multi-source sampling trick (Devlin et al. 2019 mBERT; Conneau &
    * Lample 2019 XLM): sample source s with probability ∝ n_s^α, α < 1,
    * so head sources stop drowning the tail without the tail being
    * oversampled to noise. α is fixed at 1/2 because `sqrt` is the ONE
    * sublinear power IEEE-754 requires to be correctly rounded — a
    * general `pow(n, 0.7)` is NOT bit-replayable across engines, sqrt is
    * (the q100 DuckDB oracle recomputes every weight independently).
    * Each sqrt is quantized to integer micro-units BEFORE the cross-
    * source total (summing raw doubles would be order-dependent); the
    * weight is one more exact floor-quantized division. Feeds
    * [[sampleMix]] as its per-source fraction table. Returns
    * (source, n_docs, w_micro, weight) with Σ weight ≈ 1.
    *
    * Scale shape: one map-combined count aggregate over the corpus, a
    * 1-row total that broadcasts back, and a narrow projection — the
    * source table itself is tiny by definition. */
  def temperatureMixWeights(df: DataFrame, sourceCol: String): DataFrame = {
    val counts = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("__s", floor(sqrt(col("n_docs")) * lit(1e6) + lit(0.5)))
    val tot = broadcast(counts.agg(sum(col("__s")).as("__t")))
    counts.crossJoin(tot)
      .select(col("source"), col("n_docs"),
        floor(col("__s") * lit(1e6) / col("__t") + lit(0.5)).as("w_micro"))
      .withColumn("weight", col("w_micro") / lit(1e6))
  }

  /** Mix-feasibility report under a token budget (the data-constrained
    * check, Muennighoff et al. 2022): allocate a total training budget
    * across sources by √(token)-temperature weights ([[
    * temperatureMixWeights]]'s α=1/2 rationale), then report per source
    * how many EPOCHS of its available tokens the allocation demands —
    * repeat_micro > 10^6 means the mix repeats that source (acceptable a
    * few times, catastrophic at 10×), the number read BEFORE training,
    * not after the loss curves bend. All exact integer micro-units
    * (sqrt quantized before the cross-source sum, as always). Returns
    * (source, available_tokens, target_tokens, repeat_micro, repeats).
    *
    * Scale shape: one map-combined token-total aggregate, a 1-row
    * broadcast total, narrow arithmetic. */
  def mixFeasibility(
      df: DataFrame, sourceCol: String, tokensCol: Column,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0)
    val totals = df.groupBy(col(sourceCol).as("source"))
      .agg(sum(tokensCol).as("available_tokens"))
      .withColumn("__s", floor(sqrt(col("available_tokens")) * lit(1e6) + lit(0.5)))
    val tot = broadcast(totals.agg(sum(col("__s")).as("__t")))
    totals.crossJoin(tot)
      .withColumn("__w", expr("__s * 1000000 div __t"))
      .withColumn("target_tokens", expr(s"__w * ${budgetTokens}L div 1000000"))
      .withColumn("repeat_micro",
        expr("target_tokens * 1000000 div greatest(available_tokens, 1)"))
      .withColumn("repeats", expr("(repeat_micro + 999999) div 1000000"))
      .select(col("source"), col("available_tokens"), col("target_tokens"),
        col("repeat_micro"), col("repeats"))
  }

  /** Output-shard bin-packing — the write planner: documents are packed
    * into fixed-byte-budget output shards per key (source, date, language
    * — whatever partitions the sink table) in a DETERMINISTIC order, so
    * the same corpus always produces the same shard manifest. shard_id =
    * floor(bytes-before-this-row / targetBytes) over the key's `orderCol`
    * order: the greedy first-fit that file writers actually use, and the
    * number a 100-TB job needs BEFORE writing — a sink that lets Spark
    * pick file counts per partition gets 10^6 tiny files on long-tail
    * sources and 10-GB monsters on head ones. Returns one manifest row
    * per shard: (key, shard_id, n_docs, shard_bytes, first_id, last_id).
    *
    * Scale shape: a narrow (key, order, bytes) projection — document
    * text never rides the exchange — then ONE hash exchange on the key
    * feeding both the running-sum window and the (key, shard_id)
    * aggregate (HashPartitioning(key) satisfies the groupBy's clustering,
    * so no second shuffle; the q163 PlanSpec pins exactly one). Per-key
    * sequential scan is inherent to running sums; keys are sink
    * partitions (thousands), not documents, so skew is bounded by the
    * largest sink partition — the thing this operator exists to split. */
  def shardPlan(
      df: DataFrame, keyCol: String, orderCol: String, bytesCol: Column,
      targetBytes: Long): DataFrame = {
    require(targetBytes > 0)
    df.select(col(keyCol).as("key"), col(orderCol).cast("long").as("__ord"),
        bytesCol.cast("long").as("__b"))
      .withColumn("shard_id", expr(s"coalesce(sum(__b) OVER (PARTITION BY key ORDER BY __ord ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) div ${targetBytes}L"))
      .groupBy(col("key"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__b")).as("shard_bytes"),
        min(col("__ord")).as("first_id"), max(col("__ord")).as("last_id"))
  }

  /** Per-key exact rank buckets — the CCNet head/middle/tail assignment
    * (Wenzek et al. 2020 §3.3 buckets each language's documents by LM
    * perplexity terciles): within every key, rows are ranked by
    * (value, id) — the id tiebreak makes the order TOTAL, so the bucket
    * of every row is deterministic on any engine — and row rank r of n
    * lands in bucket floor(nBuckets·(r−1)/n) ∈ [0, nBuckets). Exact
    * integer arithmetic end to end: bucket sizes differ by at most one,
    * with no quantile-sketch approximation to drift between engines.
    * Returns (key, id, value, bucket).
    *
    * Scale shape: one hash exchange on the key feeding a window pair
    * (row_number + count) over the same partitioning — per-key
    * sequential, keys are languages/sources (small cardinality, large
    * groups), exactly the regime where a per-key scan is the point;
    * corpora that need within-key parallelism approximate with
    * [[globalQuantiles]]-style bucket offsets instead. */
  def rankBuckets(
      df: DataFrame, keyCol: String, idCol: String, valueCol: Column,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2)
    val w = Window.partitionBy(col("key")).orderBy(col("value"), col("id"))
    val wAll = Window.partitionBy(col("key"))
    df.select(col(keyCol).as("key"), col(idCol).cast("long").as("id"),
        valueCol.cast("long").as("value"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("bucket", expr(s"${nBuckets}L * (__rn - 1) div __n"))
      .select(col("key"), col("id"), col("value"), col("bucket"))
  }

  /** WATER-FILLING (max-min fair) token-budget allocation across sources
    * — the other answer to "how do I spend B tokens over these corpora":
    * [[temperatureMixWeights]] allocates proportionally-with-damping;
    * this fills every source up to a common level L, so small sources
    * are fully taken and the budget surplus spreads evenly over the big
    * ones — the fairness shape multilingual mixes use so head languages
    * can't starve the tail. Exact integer: sources sorted by
    * (available, key), k = how many are fully affordable
    * (avail·(remaining) + smaller-prefix ≤ B, prefix-closed by the
    * sort), L = (B − prefix_k) div (n − k); alloc = avail if filled
    * else L. Returns (key, available, alloc, filled); Σ alloc ≤ B
    * always (the div remainder is deliberately left unspent —
    * deterministic beats exhaustive here).
    *
    * Scale shape: input is the per-source totals table — tiny by
    * definition (like the mix ops) — so the single-partition rank
    * window and the 1-row level broadcast are bounded by the source
    * count, never the corpus. */
  def waterFillAllocation(
      totals: DataFrame, keyCol: String, availCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0)
    val w = Window.orderBy(col("available"), col("key"))
    val r = totals
      .select(col(keyCol).as("key"), col(availCol).cast("long").as("available"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cum", sum(col("available")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("__filled",
        expr(s"available * (__n - __rn + 1) + (__cum - available) <= ${budget}L"))
    val lvl = broadcast(r.agg(
      sum(when(col("__filled"), 1L).otherwise(0L)).as("__k"),
      coalesce(max(when(col("__filled"), col("__cum"))), lit(0L)).as("__cumk"),
      max(col("__n")).as("__nn")))
    r.crossJoin(lvl)
      .withColumn("__level", expr(
        s"CASE WHEN __k >= __nn THEN 0L ELSE (${budget}L - __cumk) div (__nn - __k) END"))
      .select(col("key"), col("available"),
        when(col("__filled"), col("available")).otherwise(col("__level")).as("alloc"),
        col("__filled").as("filled"))
  }

  /** Per-group boilerplate line removal — the CCNet/RefinedWeb template
    * strip (Wenzek et al. 2020 §3.1 dedups repeated paragraphs corpus-wide;
    * Penedo et al. 2023 §3.2 strips lines that repeat across many pages of
    * the SAME host: nav menus, cookie banners, copyright footers). A
    * non-empty line appearing in >= `minDocs` DISTINCT documents of one
    * group is template, not content, and is removed from every document of
    * that group; empty lines survive as paragraph structure and documents
    * reassemble in original order.
    *
    * Scale shape — two passes so raw line text never rides a corpus-sized
    * exchange (the re-join-by-id discipline of [[Dedup.minhashLsh]]):
    * pass 1 counts distinct docs per (group, xxhash64(line)) — only 8-byte
    * keys shuffle, and map-side combine collapses the very repetition that
    * makes a line boilerplate; pass 2 semi-joins the surviving hashes back
    * to fetch raw text for the (tiny by construction: each survivor repeats
    * >= minDocs times) template set, which broadcasts to a purely NARROW
    * rewrite — no per-document re-aggregation exchange at all. The final
    * membership test compares RAW strings, so a hash collision can only add
    * a pass-2 candidate, never wrongly strip a line (and the q96 DuckDB
    * replay byte-compares the rewritten text). Returns
    * (id, text, n_lines, n_kept). */
  def stripBoilerplateLines(
      df: DataFrame, idCol: String, groupCol: String, textCol: String,
      minDocs: Int): DataFrame = {
    require(minDocs >= 2, "a line seen once is content, not template")
    val base = df.select(col(idCol).as("id"), col(groupCol).as("grp"),
      split(col(textCol), "\n").as("__ls"))
    val lines = base
      .select(col("grp"), col("id"), explode(col("__ls")).as("line"))
      .filter(col("line") =!= "")
    val hot = lines
      .select(col("grp"), xxhash64(col("line")).as("lh"), col("id")).distinct()
      .groupBy(col("grp"), col("lh")).agg(count(lit(1)).as("dc"))
      .filter(col("dc") >= minDocs)
    val template = lines
      .withColumn("lh", xxhash64(col("line")))
      .join(hot, Seq("grp", "lh"), "left_semi")
      .select(col("grp"), col("line")).distinct()
      .groupBy(col("grp")).agg(collect_list(col("line")).as("__bl"))
    base.join(broadcast(template), Seq("grp"), "left")
      .withColumn("__bl", coalesce(col("__bl"), array().cast("array<string>")))
      .withColumn("__ks", filter(col("__ls"), x =>
        (x === lit("")) || !array_contains(col("__bl"), x)))
      .select(col("id"), array_join(col("__ks"), "\n").as("text"),
        size(col("__ls")).cast("long").as("n_lines"),
        size(col("__ks")).cast("long").as("n_kept"))
  }
}
