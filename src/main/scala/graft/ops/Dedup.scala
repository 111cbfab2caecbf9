package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ExpressionColumns
import graft.plans.PolyHashExpression

/** Deduplication operators for a web-scale training-data pipeline.
  *
  * All of these are built from codegen'd built-ins (HOFs + `xxhash64`) —
  * no Python, no driver-side loops — so they distribute as hash
  * shuffles on the signature keys:
  *
  *  - exact:   groupBy(xxhash64(text)) — one shuffle on the content hash.
  *  - MinHash: shingle → per-shingle hash → column-wise min (signature) →
  *             banded LSH keys → self-equi-join on (band, bandHash).
  *             Signature kernels are tight Scala UDFs (see
  *             wordShinglesKernel's note on why HOF spellings degenerate);
  *             the join itself stays relational.
  *             At 10^12 docs the band join is the only wide op; hot
  *             buckets (boilerplate-identical shingle sets) are the skew
  *             risk — the candidate join keys include the band id, and
  *             AQE skew-join splitting handles residual hot buckets.
  *  - SimHash: 64-bit fingerprint; near-dup = hamming distance ≤ k via
  *             `bit_count(a ^ b)`. Banding over 4×16-bit chunks makes it
  *             joinable without a cross product (pigeonhole: distance ≤ 3
  *             ⇒ at least one of 4 chunks identical).
  *
  * Semantics follow the standard MinHash/LSH construction (Broder 1997;
  * Leskovec et al., "Mining of Massive Datasets" ch. 3) — public
  * algorithms, re-expressed on Catalyst primitives.
  */
object Dedup {

  /** Distinct k-word shingles of a text. (Single pass — the HOF
    * spelling `transform(seq, i -> concat_ws(slice(split(text)...)))` is
    * avoided deliberately: Catalyst re-evaluates non-trivial child
    * expressions inside lambda bodies per element, turning shingling
    * into O(positions × split) and, nested under a signature transform,
    * into O(hashes × positions × split) per row.) */
  def wordShinglesKernel(k: Int): String => Array[String] = { text =>
    if (text == null) Array.empty
    else {
      val words = text.trim.split("\\s+").filter(_.nonEmpty)
      if (words.isEmpty) Array.empty
      else if (words.length <= k) Array(words.mkString(" "))
      else {
        val out = new java.util.LinkedHashSet[String]()
        var i = 0
        while (i + k <= words.length) {
          val sb = new java.lang.StringBuilder
          var j = 0
          while (j < k) { if (j > 0) sb.append(' '); sb.append(words(i + j)); j += 1 }
          out.add(sb.toString)
          i += 1
        }
        out.toArray(new Array[String](out.size))
      }
    }
  }

  /** The MinHash permutation family is the Carter-Wegman affine family
    * (a_h·x + b_h) mod p over the Mersenne prime p = 2^31-1, applied to a
    * base-131 polynomial hash of the shingle. Chosen DELIBERATELY over a
    * 64-bit splitmix mix: every operation fits signed-64-bit arithmetic
    * (products < 2^62), so the exact same signature pipeline is
    * expressible in ANSI SQL and the whole LSH result is verifiable
    * against an independent engine (the q27 DuckDB oracle replays
    * shingle → signature → band key → bucket join → jaccard bit-for-bit).
    * 31-bit hash range is ample for near-dup banding: per-comparison
    * collision odds ~n/2^31, and band keys only need equality. */
  val MersenneP: Long = 2147483647L // 2^31 - 1

  /** Base-131 polynomial hash of a string, mod 2^31-1. Folds Unicode
    * CODEPOINTS (not UTF-16 code units): the DuckDB oracle replays this as
    * `split(s,'') + ascii(c)`, which yields codepoints, so a
    * supplementary-plane character (emoji etc.) folded as two surrogate
    * units would silently break the cross-engine hash equality that
    * BMP-only fixtures mask. Identical to the old code-unit fold on BMP
    * text (one codepoint == one char there). */
  def polyHash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 131 + cp) % MersenneP
      i += Character.charCount(cp)
    }
    acc
  }

  /** [[polyHash]] as a Column: the native `graft_polyhash` Catalyst
    * expression, built on every session (no ScalaUDF converter round-trip,
    * no String allocation, inside whole-stage codegen). Null in, null out.
    * Every per-token/per-shingle hash site in the ops routes through this. */
  def polyHash(c: Column): Column =
    ExpressionColumns.column(PolyHashExpression(ExpressionColumns.expression(c)))

  /** Affine coefficients for hash function h (fixed pseudo-random, < p).
    * Shared with the Bloom-filter positions in [[Curation]] so one DuckDB
    * replay formula covers both families. */
  @inline private[ops] def aCoef(h: Int): Long = ((h + 1L) * 1103515245L + 12345L) % MersenneP
  @inline private[ops] def bCoef(h: Int): Long = ((h + 1L) * 1234567891L + 987654321L) % MersenneP

  /** MinHash band keys from a shingle set: signature of `numHashes` mins
    * (one affine transform per seed of the per-shingle polynomial hash),
    * then each of `bands` contiguous signature slices folded to one key
    * (base-131071 polynomial fold, also mod p). */
  /** Raw MinHash signature of a shingle set: `numHashes` column-wise
    * mins over the Carter-Wegman permutations of the per-shingle
    * polynomial hash. p itself is the empty-set sentinel: every real
    * hash is < p, and it keeps the band fold inside 64-bit range (no
    * silent wraparound). */
  def minhashSignatureKernel(numHashes: Int): Array[String] => Array[Long] = { shingles =>
    val base = new Array[Long](shingles.length)
    var i = 0
    while (i < shingles.length) { base(i) = polyHash(shingles(i)); i += 1 }
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, MersenneP)
    var h = 0
    while (h < numHashes) {
      val a = aCoef(h)
      val b = bCoef(h)
      var j = 0
      while (j < base.length) {
        val v = (a * base(j) + b) % MersenneP
        if (v < sig(h)) sig(h) = v
        j += 1
      }
      h += 1
    }
    sig
  }

  def bandKeysKernel(numHashes: Int, bands: Int): Array[String] => Array[Long] = { shingles =>
    val r = numHashes / bands
    val sig = minhashSignatureKernel(numHashes)(shingles)
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = b + 1L
      var j = 0
      while (j < r) { acc = (acc * 131071L + sig(b * r + j)) % MersenneP; j += 1 }
      keys(b) = acc
      b += 1
    }
    keys
  }

  /** Exact Jaccard over two distinct-element arrays (set semantics —
    * correct here because shingle arrays are array_distinct'ed). */
  /** Unicode-normalized exact dedup — the NFC pass plain byte-hash dedup
    * misses: composed (`é` U+00E9) and decomposed (`e` + U+0301) spellings
    * of the SAME text hash differently raw, so mirrored pages that differ
    * only in normalization survive T1. Normalize NFC (the W3C/WHATWG web
    * canonical form, `java.text.Normalizer` — the same tables DuckDB's
    * `nfc_normalize` implements, which is what makes this oracle-able),
    * hash, and annotate each row with its cohort size and canonical
    * (minimum) id.
    *
    * Scale shape: narrow normalize+hash projection (raw text never
    * shuffles — only the 8-byte digest and id ride the exchange), then
    * ONE digest-keyed exchange feeding an unordered window (count + min),
    * the kAnonymityGate shape. */
  def nfcExactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = udf { s: String =>
      if (s == null) ""
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    }
    val w = Window.partitionBy(col("__nfc_digest"))
    df.select(col(idCol), xxhash64(norm(col(textCol))).as("__nfc_digest"))
      .withColumn("n_dup", count(lit(1)).over(w))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .drop("__nfc_digest")
  }

  def jaccardSets(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0d, lit(1d)).otherwise(inter / union)
  }

  /** Candidate near-duplicate pairs via MinHash LSH, verified with exact
    * shingle-set Jaccard. `df` must carry (`idCol`: orderable id,
    * `textCol`: string). Output: (id_a, id_b, jaccard) with id_a < id_b,
    * jaccard ≥ `threshold`.
    *
    * Scale shape: the band shuffle carries ONLY (id, band, key) — the
    * earlier version rode the shingle arrays through the 8-way posexplode
    * on both join sides (~16× the corpus' shingle bytes over the wire at
    * 100 TB). Candidate pairs are deduped FIRST, then the (small)
    * candidate list re-joins the shingle table by id; Spark/AQE broadcasts
    * the candidate side, so the verify stage streams the corpus once per
    * side with no wide shuffle of shingles. The shingle kernel runs once
    * per branch (3 scans total) — at 100 TB the wire cost of shipping
    * shingle sets dwarfs the recompute; callers verifying against an
    * already-materialized signature table can persist `df` upstream.
    *
    * Hot-bucket cap (`maxBucket`): a band bucket holding B near-identical
    * docs (parked-domain farms, calendar templates — realistic at 10^6+)
    * would emit B²/2 candidate pairs; AQE skew splitting redistributes
    * the probe but cannot shrink the join OUTPUT. Buckets wider than
    * `maxBucket` are STAR-REDUCED before the join: only the bucket's
    * minimum id stays on the left side, so the bucket emits B−1 pairs
    * all anchored at that representative — duplicate-cluster
    * connectivity survives (every member still links to the rep, so
    * connected-components downstream is unchanged) while the quadratic
    * dies at the join input. Deterministic (min id), replayed verbatim
    * by the q27 DuckDB oracle. */
  def minhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    require(maxBucket >= 2)
    val shingleUdf = udf(wordShinglesKernel(shingleK))
    val bandUdf = udf(bandKeysKernel(numHashes, bands))
    val sig = df.select(col(idCol).as("id"), shingleUdf(col(textCol)).as("sh"))
    val buckets = sig.select(col("id"), posexplode(bandUdf(col("sh"))).as(Seq("band", "key")))
    val stats = buckets.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("__n"), min(col("id")).as("__mn"))
    val a = buckets.join(stats, Seq("band", "key"))
      .filter(col("__n") <= maxBucket || col("id") === col("__mn"))
      .select(col("band"), col("key"), col("id").as("id_a"))
    val b = buckets.select(col("band"), col("key"), col("id").as("id_b"))
    val cand = a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val shA = sig.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = sig.select(col("id").as("id_b"), col("sh").as("sh_b"))
    cand.join(shA, Seq("id_a")).join(shB, Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccardSets(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup detection of NEW documents against an EXISTING
    * index — the ingestion-time shape: a monthly snapshot dedups against
    * the corpus already curated, not against itself (self-dedup of the
    * union re-mines every historical pair every month; this mines only
    * new×index pairs). Same signature family, banding, and exact-Jaccard
    * verify as [[minhashNearDups]]; candidates are (new, index) pairs,
    * no ordering constraint needed because the sides are disjoint tables.
    * Returns (new_id, idx_id, jaccard ≥ threshold).
    *
    * Scale shape identical to the self-join variant — band exchanges
    * carry only (id, band, key), shingles re-join by id — with the added
    * asymmetry win: at steady state the new side is a tiny fraction of
    * the index, so the candidate set (and the verify stage's wire cost)
    * scales with the DELTA, not the corpus.
    *
    * Hot-bucket cap: same hazard and discipline as [[minhashNearDups]],
    * applied PER SIDE (the sides are disjoint, so there is no global
    * ordering to star-reduce across): a side whose bucket is wider than
    * `maxBucket` is collapsed to its minimum id before the cross-side
    * join, bounding a hot bucket's output at maxBucket pairs instead of
    * |new|×|index|. Deterministic; replayed by the q87 oracle. */
  def minhashNearDupsAgainst(
      newDf: DataFrame, indexDf: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    require(maxBucket >= 2)
    val shingleUdf = udf(wordShinglesKernel(shingleK))
    val bandUdf = udf(bandKeysKernel(numHashes, bands))
    def sig(df: DataFrame) =
      df.select(col(idCol).as("id"), shingleUdf(col(textCol)).as("sh"))
    def buckets(s: DataFrame) =
      s.select(col("id"), posexplode(bandUdf(col("sh"))).as(Seq("band", "key")))
    def capped(bk: DataFrame) = {
      val st = bk.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("__n"), min(col("id")).as("__mn"))
      bk.join(st, Seq("band", "key"))
        .filter(col("__n") <= maxBucket || col("id") === col("__mn"))
        .select(col("band"), col("key"), col("id"))
    }
    val sigNew = sig(newDf)
    val sigIdx = sig(indexDf)
    val cand = capped(buckets(sigNew)).withColumnRenamed("id", "new_id")
      .join(capped(buckets(sigIdx)).withColumnRenamed("id", "idx_id"),
        Seq("band", "key"))
      .select(col("new_id"), col("idx_id"))
      .distinct()
    cand
      .join(sigNew.select(col("id").as("new_id"), col("sh").as("sh_a")), Seq("new_id"))
      .join(sigIdx.select(col("id").as("idx_id"), col("sh").as("sh_b")), Seq("idx_id"))
      .select(col("new_id"), col("idx_id"), jaccardSets(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 60-bit SimHash of whitespace tokens (Charikar 2002): bit j of the
    * fingerprint is the sign of Σ_tokens (±1 by the parity of an affine
    * transform of the token's polynomial hash). Like the MinHash family
    * above, the per-bit hash is Carter-Wegman affine mod 2^31-1 so the
    * identical signature is computable in ANSI SQL (q28's DuckDB oracle
    * replays it); 60 bits (not 64) keeps the assembled signature strictly
    * positive in signed-64 arithmetic on both engines. Kernel is a tight
    * Scala UDF (60×N loop — cheaper and clearer than 60 nested HOF
    * passes); fully deterministic, no JVM-hash dependence. */
  val SimhashBits = 60

  // per-bit affine constants (independent offsets from the minhash
  // family's), hoisted: they depend only on the bit index, and computing
  // them inside the per-token loop doubled the kernel's inner-loop cost
  private val simA: Array[Long] =
    Array.tabulate(SimhashBits)(b => ((b + 101L) * 1103515245L + 54321L) % MersenneP)
  private val simC: Array[Long] =
    Array.tabulate(SimhashBits)(b => ((b + 29L) * 1234567891L + 192837465L) % MersenneP)

  val simhash64: String => Long = { text =>
    if (text == null) 0L
    else {
      val counts = new Array[Int](SimhashBits)
      var i = 0
      val n = text.length
      while (i < n) {
        while (i < n && Character.isWhitespace(text.charAt(i))) i += 1
        var x = 0L
        var any = false
        // codepoint fold, like polyHash — keeps the q28 DuckDB replay
        // (split('') + ascii = codepoints) exact beyond the BMP
        while (i < n && !Character.isWhitespace(text.charAt(i))) {
          val cp = text.codePointAt(i)
          x = (x * 131 + cp) % MersenneP
          i += Character.charCount(cp)
          any = true
        }
        if (any) {
          var b = 0
          while (b < SimhashBits) {
            val v = (simA(b) * x + simC(b)) % MersenneP
            if ((v & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        }
      }
      var out = 0L
      var b = 0
      while (b < SimhashBits) { if (counts(b) > 0) out |= (1L << b); b += 1 }
      out
    }
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxDist, joined by
    * 15-bit chunk banding (any pair within distance 3 shares ≥1 of the
    * 4 chunks — pigeonhole — so no cross join is needed).
    *
    * Hot-bucket cap: same star-reduction as [[minhashNearDups]] — a
    * chunk bucket wider than `maxBucket` keeps only its minimum id on
    * the left join side, bounding a B-doc template cluster at B−1 pairs
    * per chunk instead of B²/2. Replayed by the q28 oracle. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(maxDist <= 3, "4x15-bit banding guarantees recall only for distance <= 3")
    require(maxBucket >= 2)
    val shUdf = udf(simhash64)
    val sigs = df.select(col(idCol).as("id"), shUdf(col(textCol)).as("sig"))
    val chunks = sigs.select(col("id"), col("sig"),
      posexplode(expr(
        "transform(sequence(0, 3), c -> shiftright(sig, c * 15) & 32767)")).as(Seq("chunk", "ck")))
    val stats = chunks.groupBy(col("chunk"), col("ck"))
      .agg(count(lit(1)).as("__n"), min(col("id")).as("__mn"))
    val a = chunks.join(stats, Seq("chunk", "ck"))
      .filter(col("__n") <= maxBucket || col("id") === col("__mn"))
      .select(col("chunk"), col("ck"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = chunks.select(col("chunk"), col("ck"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk", "ck"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Asymmetric containment re-score of candidate pairs (Broder 1997's
    * second resemblance measure): containment_a = |A∩B| / |A| over the
    * docs' distinct word `k`-gram sets — near 10^6 micro-units when doc A
    * is QUOTED WHOLESALE inside a larger doc B, a relationship symmetric
    * Jaccard dilutes toward 0 as B grows (the quote-farm / aggregator-page
    * case document-level near-dup misses). Returns one row per candidate
    * pair: (id_a, id_b, n_common, containment_a_micro,
    * containment_b_micro, jaccard_micro), all ratios exact integer
    * micro-units; pairs where either side has zero shingles are dropped.
    *
    * Scale shape: `pairs` is a CANDIDATE set (LSH output or an
    * adjacency heuristic), so the gram fan-out — (id_a, id_b, ngh) rows,
    * |A| per pair — is candidate-bounded, the same contract as the q23
    * re-score stage; exchanges never carry text or shingle strings. The
    * per-doc gram frame and its sizes are computed once and reused for
    * both sides. */
  def containmentStats(
      corpus: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      k: Int = 3): DataFrame = {
    val shingleUdf = udf(wordShinglesKernel(k))
    val ng = corpus
      .select(col(idCol).cast("long").as("__cid"), explode(shingleUdf(col(textCol))).as("sg"))
      .select(col("__cid"), polyHash(col("sg")).as("ngh"))
      .distinct()
    val sizes = ng.groupBy(col("__cid")).agg(count(lit(1)).as("n"))
    val p = pairs.select(col(aCol).cast("long").as("id_a"), col(bCol).cast("long").as("id_b"))
    val inter = p
      .join(ng.select(col("__cid").as("id_a"), col("ngh")), Seq("id_a"))
      .join(ng.select(col("__cid").as("id_b"), col("ngh")), Seq("id_b", "ngh"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))
    p.join(sizes.select(col("__cid").as("id_a"), col("n").as("__na")), Seq("id_a"))
      .join(sizes.select(col("__cid").as("id_b"), col("n").as("__nb")), Seq("id_b"))
      .join(inter, Seq("id_a", "id_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .select(col("id_a"), col("id_b"), col("n_common"),
        expr("n_common * 1000000 div __na").as("containment_a_micro"),
        expr("n_common * 1000000 div __nb").as("containment_b_micro"),
        expr("n_common * 1000000 div (__na + __nb - n_common)").as("jaccard_micro"))
  }

  /** Edit-distance near-dup pair mining (the Ed-Join family, Xiao et al.
    * 2008): all pairs within Levenshtein distance `maxDist` — the
    * CHARACTER-level near-dup signal (typos, OCR noise, template fills)
    * that token-set MinHash (T2) and bit-fingerprint SimHash (T3) both
    * miss on short fields like titles. Candidates block on
    * (prefix `blockPrefix` chars, length bucket): two strings within
    * distance k must agree on any fixed prefix unless an edit touches it,
    * and their lengths differ by ≤ k — so the join is a plain EQUI-join
    * on the prefix plus a length-band predicate, never a cartesian. A
    * prefix-touching edit escapes the block (documented recall bound —
    * the standard blocking tradeoff, deterministic both engines); the
    * final `levenshtein ≤ maxDist` verify is exact.
    *
    * Scale shape: one hash-join exchange keyed on the prefix block; only
    * (id, field) rows ride it — intended for SHORT fields (titles, urls,
    * product names), never whole documents. Skewed blocks (every title
    * starting "The ") are AQE-splittable; the length band prunes inside
    * the block before the O(len²) verify. Returns (id_a, id_b, dist)
    * with id_a < id_b. */
  def editDistancePairs(
      df: DataFrame, idCol: String, fieldCol: String,
      maxDist: Int = 2, blockPrefix: Int = 4): DataFrame = {
    require(maxDist >= 1 && blockPrefix >= 1)
    val t = df.select(col(idCol).cast("long").as("id"), col(fieldCol).as("f"))
      .where(col("f").isNotNull)
      .withColumn("bk", substring(col("f"), 1, blockPrefix))
    val a = t.select(col("id").as("id_a"), col("f").as("fa"), col("bk"))
    val b = t.select(col("id").as("id_b"), col("f").as("fb"), col("bk"))
    a.join(b, Seq("bk"))
      .where(col("id_a") < col("id_b") &&
        abs(length(col("fa")) - length(col("fb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("fa"), col("fb")))
      .where(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** MinHash fidelity audit: for every pair in a BOUNDED document set,
    * the signature-agreement fraction (the sketch's Jaccard estimate —
    * P[minhash collision] = Jaccard, Broder 1997) next to the EXACT
    * shingle-set Jaccard and their absolute error, all in integer
    * micro-units. This is the calibration step that picks `numHashes`
    * and the LSH band/row split empirically (expected |error| ≈
    * 1/√numHashes ≈ 177k micro at 32 hashes) instead of trusting the
    * asymptotics — the sketch-QA twin of T88's classifier calibration.
    *
    * Scale shape: a deliberately BOUNDED audit (crossJoin over a sampled
    * slice, like q23's re-score stage — whitelisted by design); the
    * signature and shingle kernels are the production T2 kernels, so the
    * audit measures exactly what the LSH pipeline ships. Returns
    * (id_a, id_b, sig_match_micro, jaccard_micro, abs_err_micro). */
  def minhashFidelity(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 32): DataFrame = {
    val shUdf = udf(wordShinglesKernel(shingleK))
    val sigUdf = udf(minhashSignatureKernel(numHashes))
    val base = df.select(col(idCol).cast("long").as("id"),
        shUdf(col(textCol)).as("__sh"))
      .withColumn("__sig", sigUdf(col("__sh")))
    val a = base.select(col("id").as("id_a"), col("__sh").as("__sha"),
      col("__sig").as("__siga"))
    val b = base.select(col("id").as("id_b"), col("__sh").as("__shb"),
      col("__sig").as("__sigb"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("sig_match_micro", expr(
        s"""aggregate(zip_with(__siga, __sigb, (x, y) -> IF(x = y, 1L, 0L)),
           |0L, (acc, m) -> acc + m) * 1000000 div $numHashes""".stripMargin))
      .withColumn("__i", size(array_intersect(col("__sha"), col("__shb"))).cast("long"))
      .withColumn("__u",
        size(col("__sha")).cast("long") + size(col("__shb")) - col("__i"))
      .withColumn("jaccard_micro",
        when(col("__u") === 0L, lit(1000000L))
          .otherwise(expr("__i * 1000000 div __u")))
      .select(col("id_a"), col("id_b"), col("sig_match_micro"), col("jaccard_micro"),
        abs(col("sig_match_micro") - col("jaccard_micro")).as("abs_err_micro"))
  }

  /** Powers of the CDC window-hash base mod 2^31-1, exposed so the q98
    * DuckDB replay embeds the SAME constants it computes from. */
  private[graft] val CdcBase = 257L
  private[graft] def cdcCoefs(window: Int): Vector[Long] =
    Vector.iterate(1L, window)(c => c * CdcBase % MersenneP)

  /** Content-defined chunking (the FastCDC/LBFS family, Muthitacharoen
    * et al. 2001): a chunk boundary falls after codepoint i whenever the
    * polynomial hash of the trailing `window` codepoints ≡ 0 mod
    * `divisor` — so boundaries move WITH the content, and two documents
    * sharing a long run (a syndicated paragraph, a quoted block) produce
    * identical chunks there even at different byte offsets, which
    * fixed-size blocking never does. Stateless variant: no min/max chunk
    * clamp, so every boundary decision is position-local and the q98
    * DuckDB oracle replays it with a list comprehension instead of a
    * per-character recursion. Expected chunk length = `divisor`
    * codepoints. Positions count CODEPOINTS (the [[polyHash]]
    * discipline); offsets map back to UTF-16 for the substring. */
  def cdcChunks(s: String, window: Int = 8, divisor: Long = 64L): Array[String] = {
    if (s == null) return Array.empty
    if (s.isEmpty) return Array("")
    val cs = cdcCoefs(window)
    // codepoints + the UTF-16 offset where each begins (offs(n) = s.length)
    val n0 = s.codePointCount(0, s.length)
    val cps = new Array[Long](n0)
    val offs = new Array[Int](n0 + 1)
    var i = 0; var k = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      cps(k) = cp; offs(k) = i
      i += Character.charCount(cp); k += 1
    }
    offs(n0) = s.length
    val out = Vector.newBuilder[String]
    var start = 0 // codepoint index of current chunk start
    var p = window - 1
    while (p < n0) {
      var h = 0L; var j = 0
      while (j < window) { h += cps(p - j) * cs(j); j += 1 }
      if (h % MersenneP % divisor == 0L) {
        out += s.substring(offs(start), offs(p + 1))
        start = p + 1
      }
      p += 1
    }
    if (start < n0) out += s.substring(offs(start), offs(n0))
    out.result().toArray
  }

  /** Corpus-wide CDC dedup profile: chunk every document with
    * [[cdcChunks]], md5 each chunk, and report per document how much of
    * it is SHARED — distinct chunks that also appear in at least one
    * other document (the crawl-syndication / boilerplate-block signal
    * exact whole-doc dedup misses and MinHash only scores pairwise).
    * Returns (id, n_chunks, n_distinct, n_shared).
    *
    * Scale shape: the chunking kernel is purely NARROW (one UDF pass per
    * row); only (id, 16-byte md5) pairs ride the two exchanges — the
    * within-doc distinct and the chunk-frequency aggregate (map-side
    * combined; repeated chunks collapse before the wire, and chunk TEXT
    * never shuffles at all). The shared set joins back by digest. */
  def cdcDedupStats(
      df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, divisor: Long = 64L): DataFrame = {
    val chunksUdf = udf((s: String) => cdcChunks(s, window, divisor))
    val base = df.select(col(idCol).cast("long").as("id"),
        chunksUdf(col(textCol)).as("__cs"))
      .select(col("id"), size(col("__cs")).cast("long").as("n_chunks"),
        col("__cs"))
    val d = base
      .select(col("id"), explode(col("__cs")).as("__c"))
      .select(col("id"), md5(col("__c")).as("h"))
      .distinct()
    val hot = d.groupBy(col("h")).agg(count(lit(1)).as("__dc"))
      .filter(col("__dc") >= 2).select(col("h"))
    val shared = d.join(hot, Seq("h"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
    val distinctN = d.groupBy(col("id")).agg(count(lit(1)).as("n_distinct"))
    base.select(col("id"), col("n_chunks"))
      .join(distinctN, Seq("id"), "left")
      .join(shared, Seq("id"), "left")
      .select(col("id"), col("n_chunks"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
  }

  /** Head–tail stitch detection: pairs (src, dst) where the LAST `k`
    * whitespace tokens of src equal the FIRST `k` tokens of dst — the
    * signature of one article split across paginated crawl captures
    * ("page 2 of" continuations repeat the boundary sentence), the
    * complement of whole/near-dup dedup: these documents should be
    * STITCHED (or one dropped), not deduped, and no shingle-set method
    * finds them because the overlap is a tiny fraction of either doc.
    *
    * Shape at scale: each doc contributes exactly one head row and one
    * tail row of (id, 8-byte boundary hash) — the candidate join
    * shuffles hashes, never text. Boundary STRINGS re-join by id
    * afterwards for exact verification (hash equality alone would admit
    * p≈n²/2³¹ collisions at corpus scale), the same re-join-by-id
    * discipline as [[minhashNearDups]]. Docs shorter than 2k tokens are
    * excluded (their head and tail would overlap and self-match
    * trivially). The hash is [[polyHash]], so the whole pipeline —
    * tokenize → boundary slices → hash → join → verify — replays in the
    * q137 DuckDB oracle. Returns (src_id, dst_id, boundary_hash). */
  /** Gram-hash kernel for [[removeDuplicateSpans]]: [[polyHash]] of every
    * k-token window joined with single spaces — out(i) ==
    * polyHash(ws.slice(i, i+k).mkString(" ")) — in ONE pass over the
    * token array (a per-position slice+join+hash via Column ops would
    * allocate a gram string per window; this folds characters directly).
    * Kept equal to the q144 DuckDB replay formula by construction. */
  private[graft] def gramHashes(ws: Seq[String], k: Int): Array[Long] = {
    if (ws == null || ws.length < k) return Array.empty
    val arr = ws.toArray
    val n = arr.length - k + 1
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      var acc = 0L
      var j = 0
      while (j < k) {
        if (j > 0) acc = (acc * 131 + 32L) % MersenneP // the joining ' '
        val s = arr(i + j)
        var c = 0
        while (c < s.length) {
          val cp = s.codePointAt(c)
          acc = (acc * 131 + cp) % MersenneP
          c += Character.charCount(cp)
        }
        j += 1
      }
      out(i) = acc
      i += 1
    }
    out
  }

  /** Exact duplicated-SPAN removal (the ExactSubstr idea of Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): any k-token window whose text already occurred
    * earlier in the corpus — in an earlier document, or earlier in the
    * SAME document — is cut from the later position, and the document is
    * reassembled from its surviving tokens. Whole-doc dedup (T1) misses
    * syndicated paragraphs embedded in otherwise-distinct pages; MinHash
    * (T2) only scores whole-doc pairs; this REWRITES the overlap away
    * while keeping exactly one copy (the globally first by (id, pos)).
    * Fixed-k token fingerprints replace the paper's suffix-array maximal
    * matches: spans are detected in k-token windows (overlapping windows
    * merge into longer spans), which distributes as plain relational ops.
    *
    * Scale shape: gram hashing is one narrow UDF pass; only (id, pos,
    * 8-byte hash) rows ride the one wide exchange (the first-occurrence
    * rank window — every duplicate occurrence must cross the wire to
    * learn it is one, but gram TEXT never does). Candidates then re-join
    * token arrays BY ID and compare gram strings exactly — the
    * [[minhashNearDups]] re-join discipline — so a 31-bit hash collision
    * can never cut a non-duplicate span (collision groups fail the
    * verify CONSERVATIVELY: the later copy survives). The rewrite is a
    * narrow per-doc HOF over the marked positions. Returns (id, text,
    * n_tokens, n_removed) with text in tokenizer-canonical single-space
    * form. */
  def removeDuplicateSpans(
      df: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame = {
    require(k >= 2, "span window must be >= 2 tokens")
    import org.apache.spark.sql.expressions.Window
    val gramUdf = udf((ws: Seq[String]) => gramHashes(ws, k))
    val toks = df.select(col(idCol).cast("long").as("id"),
      split(trim(col(textCol)), "\\s+").as("__ws"))
    val grams = toks
      .select(col("id"), posexplode(gramUdf(col("__ws"))).as(Seq("__p0", "gh")))
      .select(col("id"), (col("__p0") + 1).as("pos"), col("gh"))
    val w = Window.partitionBy(col("gh")).orderBy(col("id"), col("pos"))
    val cand = grams
      .withColumn("__rn", row_number().over(w))
      .withColumn("__fid", first(col("id")).over(w))
      .withColumn("__fpos", first(col("pos")).over(w))
      .filter(col("__rn") > 1)
      .select(col("id"), col("pos"), col("__fid"), col("__fpos"))
    val verified = cand
      .join(toks, Seq("id"))
      .withColumn("__g1", array_join(slice(col("__ws"), col("pos"), lit(k)), " "))
      .drop("__ws")
      .join(toks.select(col("id").as("__fid"), col("__ws").as("__fws")), Seq("__fid"))
      .withColumn("__g2", array_join(slice(col("__fws"), col("__fpos"), lit(k)), " "))
      .filter(col("__g1") === col("__g2"))
      .select(col("id"), col("pos"))
    val marks = verified.groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("__marks"))
    toks.join(marks, Seq("id"), "left")
      .withColumn("__kept",
        when(col("__marks").isNull, col("__ws"))
          .otherwise(filter(col("__ws"), (x, i) =>
            !exists(col("__marks"), m =>
              (i.cast("long") + 1L >= m) && (i.cast("long") + 1L < m + k)))))
      .select(col("id"), array_join(col("__kept"), " ").as("text"),
        size(col("__ws")).cast("long").as("n_tokens"),
        (size(col("__ws")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  def stitchPairs(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, "boundary width must be >= 1 token")
    val base = df
      .select(col(idCol).cast("long").as("id"),
        split(trim(col(textCol)), "\\s+").as("__ws"))
      .filter(size(col("__ws")) >= 2 * k)
      .select(col("id"),
        array_join(slice(col("__ws"), 1, k), " ").as("__head"),
        array_join(slice(col("__ws"), -k, k), " ").as("__tail"))
    val heads = base.select(col("id").as("dst_id"), polyHash(col("__head")).as("bh"))
    val tails = base.select(col("id").as("src_id"), polyHash(col("__tail")).as("bh"))
    tails.join(heads, Seq("bh")).filter(col("src_id") =!= col("dst_id"))
      .join(base.select(col("id").as("src_id"), col("__tail")), Seq("src_id"))
      .join(base.select(col("id").as("dst_id"), col("__head")), Seq("dst_id"))
      .filter(col("__tail") === col("__head"))
      .select(col("src_id"), col("dst_id"), col("bh").as("boundary_hash"))
  }
}
