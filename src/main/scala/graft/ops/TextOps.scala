package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: quality scoring,
  * document fingerprinting, token counting. All pure Column DSL —
  * whole-stage codegen, no UDFs — and every formula is mirrored in the
  * DuckDB oracle SQL (Queries.scala) so the kernels are cross-engine
  * checked, not just unit-tested.
  */
object TextOps {

  /** Whitespace token count (the cheap tokenizer every curation pass
    * starts with). */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+")).cast("long")

  /** BPE-ish subword proxy: alternating letter-run / digit-run / single
    * punctuation tokens — a deterministic regex split that approximates
    * byte-pair token counts without a vocab file. */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
      t => length(t) > 0)).cast("long")

  /** Quality-score feature block (struct): char/word counts, mean word
    * length, punctuation ratio, uppercase ratio — the standard cheap
    * heuristics (Gopher / C4-style filters). All ratios divide exact
    * integer counts once at the end (deterministic across engines). */
  def qualityFeatures(text: Column): Column = {
    val chars = length(text).cast("double")
    val words = tokenCount(text).cast("double")
    val punct = (length(text) - length(regexp_replace(text, "[.,;:!?]", ""))).cast("double")
    val upper = (length(text) - length(regexp_replace(text, "[A-Z]", ""))).cast("double")
    val safeChars = when(chars === 0d, lit(1d)).otherwise(chars)
    struct(
      chars.cast("long").as("n_chars"),
      words.cast("long").as("n_words"),
      round(chars / when(words === 0d, 1d).otherwise(words), 4).as("mean_word_len"),
      round(punct / safeChars, 6).as("punct_ratio"),
      round(upper / safeChars, 6).as("upper_ratio"))
  }

  /** Composite [0,1] quality score from the feature block: penalizes
    * too-short docs, extreme word lengths, punctuation soup. Monotone
    * arithmetic on rounded features → deterministic. */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text)
    val lenScore = least(f.getField("n_words").cast("double") / 50d, lit(1d))
    val wl = f.getField("mean_word_len")
    val wlScore = when(wl >= 3d && wl <= 10d, 1d).otherwise(0.5d)
    val punctScore = when(f.getField("punct_ratio") <= 0.1d, 1d).otherwise(0.5d)
    round((lenScore + wlScore + punctScore) / 3d, 6)
  }

  /** EXACT-INTEGER micro-unit twin of [[qualityScore]] (10⁶ = 1.0) for
    * paths that AGGREGATE scores (domain means, threshold sweeps) where
    * [[qualityScore]]'s `round(,6)` would hit the cross-engine
    * ...5-boundary hazard (CLAUDE.md): every threshold is an integer
    * comparison, the one division is a floor by the constant 3 — zero
    * float boundaries, the q57-q59 micro discipline. Components:
    * length score = min(words·20000, 10⁶); word-length sanity
    * 3·words ≤ chars ≤ 10·words (10⁶ else 5·10⁵); punctuation
    * punct·10 ≤ chars (10⁶ else 5·10⁵); score = floor(sum / 3).
    * `tokenCount ≥ 1` always (split of an empty trim yields one ""), so
    * no zero guards needed. Purely narrow codegen'd DSL. */
  def qualityScoreMicro(text: Column): Column = {
    val chars = length(text).cast("long")
    val words = tokenCount(text)
    val punct = (length(text) -
      length(regexp_replace(text, "[.,;:!?]", ""))).cast("long")
    val lenScore = least(words * lit(20000L), lit(1000000L))
    val wlScore = when(lit(3L) * words <= chars && chars <= lit(10L) * words,
      lit(1000000L)).otherwise(lit(500000L))
    val punctScore = when(punct * lit(10L) <= chars, lit(1000000L))
      .otherwise(lit(500000L))
    floor((lenScore + wlScore + punctScore).cast("double") / 3d).cast("long")
  }

  /** Linear quality classifier: the fastText-style model-based scoring
    * stage (Brown et al. 2020 §A; CCNet; DCLM) that sits between the
    * cheap heuristic filters and mix sampling in every production
    * curation pipeline. A real deployment loads trained coefficients; the
    * operator SHAPE is what matters at scale — a broadcast-free,
    * codegen'd dot product over the [[qualityFeatures]] block, purely
    * narrow — so the weights are parameters with documented defaults.
    *
    * Returns the LOGIT (w·f + b), not the sigmoid: every term is one
    * IEEE-754 multiply of a rounded feature by a literal, summed in fixed
    * left-to-right order, then rounded — bit-replayable in ANSI SQL,
    * which `exp` is not guaranteed to be across engines. `keep` decisions
    * threshold the logit at 0 (≡ probability 0.5). The length feature is
    * saturating-rational, `least(n_words, 500)/500`, rather than the
    * conventional log(n_words) for the same cross-engine reason. */
  def classifierLogit(text: Column,
      wLen: Double = 3.0, wWordLen: Double = 0.35, wPunct: Double = -9.0,
      wUpper: Double = -7.0, bias: Double = -2.2): Column = {
    val f = qualityFeatures(text)
    val lenF = least(f.getField("n_words").cast("double"), lit(500d)) / 500d
    round(
      lit(bias)
        + lenF * wLen
        + f.getField("mean_word_len") * wWordLen
        + f.getField("punct_ratio") * wPunct
        + f.getField("upper_ratio") * wUpper,
      6)
  }

  /** Polynomial rolling-hash fingerprint of the full text:
    * h = fold(chars, h*31 + code) mod 1e9+7. Modulus keeps every
    * intermediate < 2^63 (31 * (1e9+7) + 127 << Long.Max), so the fold is
    * overflow-free and expressible identically in Spark and DuckDB SQL. */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => pmod(acc * 31L + c, lit(1000000007L)))

  /** Shift-invariant content-defined chunk count (rolling-hash chunking à
    * la rsync/CDC): number of positions whose 8-char rolling hash hits a
    * boundary mask — the building block for fuzzy dedup of big documents. */
  /** Per-position character `k`-gram hashes of a text (codepoint-exact:
    * position i hashes codepoints [i, i+k) with the shared base-131
    * polynomial, so DuckDB's `substr` + split-fold replays it). Texts
    * shorter than k yield no positions. */
  def winnowHashesKernel(k: Int): String => Array[Long] = { text =>
    if (text == null) Array.empty
    else {
      val cps = text.codePoints().toArray
      val n = cps.length - k + 1
      if (n <= 0) Array.empty[Long]
      else Array.tabulate(n) { i =>
        var acc = 0L
        var j = 0
        while (j < k) { acc = (acc * 131 + cps(i + j)) % Dedup.MersenneP; j += 1 }
        acc
      }
    }
  }

  /** Greedy longest-match-first WordPiece encoding counts (Wu et al.
    * 2016; the BERT tokenizer): each whitespace word is peeled into the
    * LONGEST vocab piece at every position (continuation pieces carry the
    * "##" prefix); any unmatched position — or a word over `maxWordChars`
    * codepoints, BERT's max_input_chars_per_word guard — encodes the
    * WHOLE word as one [UNK]. Greedy is the spec, not a shortcut: "abc"
    * against {"ab","a","##bc"} is [UNK] even though a+##bc would cover
    * it. Codepoint-exact (DuckDB substr semantics), so the q93 oracle
    * replays every decision via a precomputed longest-match table and a
    * recursive-CTE walk. Returns per text: (n_words, n_pieces, n_unk);
    * an UNK word contributes exactly 1 piece.
    *
    * The returned closure is driver-built once (vocab bucketed by first
    * codepoint, longest first) and shipped to executors inside the UDF —
    * the broadcast-vocab pattern; per-position work is one bucket probe,
    * not a vocab scan. */
  def wordpieceCountsKernel(vocab: Seq[String], maxWordChars: Int = 100)
      : String => (Long, Long, Long) = {
    def buckets(ps: Seq[String]): Map[Int, Array[Array[Int]]] = ps
      .map(_.codePoints().toArray).filter(_.nonEmpty).distinct
      .groupBy(_.head)
      .map { case (c0, g) => c0 -> g.sortBy(-_.length).toArray }
    val starts = buckets(vocab.filterNot(_.startsWith("##")))
    val conts = buckets(vocab.filter(_.startsWith("##")).map(_.substring(2)))
    text => {
      if (text == null) (0L, 0L, 0L)
      else {
        var nw = 0L; var np = 0L; var nu = 0L
        for (w <- text.trim.split("\\s+") if w.nonEmpty) {
          nw += 1
          val cps = w.codePoints().toArray
          var pieces = 0L
          var ok = cps.length <= maxWordChars
          var i = 0
          while (i < cps.length && ok) {
            val cands = (if (i == 0) starts else conts).getOrElse(cps(i), null)
            var best = 0
            if (cands != null) {
              var c = 0
              while (c < cands.length && best == 0) {
                val p = cands(c)
                if (i + p.length <= cps.length) {
                  var j = 1 // bucket key already matched position 0
                  while (j < p.length && p(j) == cps(i + j)) j += 1
                  if (j == p.length) best = p.length
                }
                c += 1
              }
            }
            if (best == 0) ok = false else { pieces += 1; i += best }
          }
          if (ok) np += pieces else { nu += 1; np += 1 }
        }
        (nw, np, nu)
      }
    }
  }

  /** Tokenizer fertility audit per key (source, language): words, pieces,
    * UNKs and the exact micro-unit FERTILITY (pieces per word) and UNK
    * rate under a fixed WordPiece vocab — the number that decides whether
    * a vocabulary actually fits a feed (fertility ≫ 1 or UNK-heavy
    * sources tokenize into mush and burn context window; the standard
    * read before committing a tokenizer to a multilingual mix). Per-doc
    * counts come from [[wordpieceCountsKernel]] (broadcast-vocab closure,
    * one narrow UDF), then ONE map-combined key aggregate — the corpus
    * never shuffles anything wider than (key, three longs).
    * Returns (key, n_words, n_pieces, n_unk, fertility_micro, unk_micro). */
  def wordpieceFertility(
      df: DataFrame, keyCol: String, textCol: String,
      vocab: Seq[String], maxWordChars: Int = 100): DataFrame = {
    val kernel = wordpieceCountsKernel(vocab, maxWordChars)
    val f = udf((t: String) => kernel(t))
    df.select(col(keyCol).as("key"), f(col(textCol)).as("__e"))
      .select(col("key"), col("__e._1").as("__w"),
        col("__e._2").as("__p"), col("__e._3").as("__u"))
      .groupBy(col("key"))
      .agg(sum("__w").as("n_words"), sum("__p").as("n_pieces"),
        sum("__u").as("n_unk"))
      .withColumn("fertility_micro",
        expr("n_pieces * 1000000 div greatest(n_words, 1)"))
      .withColumn("unk_micro", expr("n_unk * 1000000 div greatest(n_words, 1)"))
  }

  /** BPE merge learning (Sennrich, Haddow & Birch 2016 §3.2): learn the
    * `k` highest-count adjacent-symbol merges from a whitespace-word
    * corpus — the vocabulary-construction side of [[wordpieceCountsKernel]]'s
    * encoding side. Each round counts adjacent symbol pairs over the
    * DISTINCT-word vocabulary weighted by word frequency (the classic
    * BPE-training trick: the corpus is scanned ONCE for frequencies;
    * every round after that runs over vocabulary-sized data), takes the
    * argmax under the total order (count desc, left asc, right asc), and
    * rewrites every word with ONE left-to-right non-overlapping merge
    * pass: "aaa" under merge (a,a) becomes [aa, a], never [a, aa] — the
    * same pairing the q95 oracle's recursive walk replays.
    *
    * Words longer than `maxWordChars` codeunits are skipped entirely
    * (the standard trainer cap; both engines apply it identically).
    *
    * Scale shape: per round, ONE map-combined (pair → weighted count)
    * aggregate + a TakeOrdered(1) argmax; the driver holds only the k
    * learned rules — a bounded collect by construction (BPE training is
    * inherently sequential in k: rule r parameterizes round r+1; this is
    * the codebook pattern, not a driver-side data loop). Each round's
    * rewritten vocabulary is persisted and the parent unpersisted, so
    * lineage stays k-deep on vocabulary-sized frames.
    * Returns the merge table: (rank, l_sym, r_sym, pair_count). */
  def bpeLearn(df: DataFrame, textCol: String, k: Int, maxWordChars: Int = 64): DataFrame = {
    require(k >= 1)
    val sp = df.sparkSession
    val mergeUdf = udf((syms: Seq[String], a: String, b: String) => {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) { out += (a + b); i += 2 }
        else { out += syms(i); i += 1 }
      }
      out.toSeq
    })
    var cur = df
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= maxWordChars)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), filter(split(col("w"), ""), x => x =!= "").as("syms"))
      .persist()
    val rules = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 1 to k) {
      val best = cur
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "j -> struct(element_at(syms, j) AS l, element_at(syms, j + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      require(best.nonEmpty, s"corpus exhausted before $k merges (round $r)")
      val (l, rr, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      rules += ((r.toLong, l, rr, c))
      if (r < k) {
        val next = cur
          .select(col("cnt"), mergeUdf(col("syms"), lit(l), lit(rr)).as("syms"))
          .persist()
        next.count() // materialize before releasing the parent
        cur.unpersist()
        cur = next
      }
    }
    cur.unpersist()
    import sp.implicits._
    rules.result().toDF("rank", "l_sym", "r_sym", "pair_count")
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS scheme): every window of `w` consecutive character-`k`-gram
    * hashes contributes its minimum, selected fingerprints deduped — the
    * guarantee is one fingerprint per w-window, so matching spans of
    * length ≥ w+k-1 ALWAYS share a fingerprint regardless of alignment
    * (the property plain every-nth sampling lacks). Tie rule: minimum of
    * the packed (hash, position) key — i.e. leftmost-of-equal-hashes —
    * which is deterministic and engine-replayable where the paper's
    * stateful rightmost rule is not a pure window function. Positions
    * must fit 2^20 (documents are chunked upstream long before 10^6
    * chars). Returns (id, fp_hash, fp_pos).
    *
    * Scale shape: one exchange keyed by doc id for the sliding-min window
    * (partition-local sort, never global); the distinct reuses id-keyed
    * rows of 16 bytes. Text leaves the scan as per-position hashes, never
    * as strings. */
  def winnowFingerprints(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5): DataFrame = {
    require(k >= 1 && w >= 1)
    val hUdf = udf(winnowHashesKernel(k))
    val wAll = Window.partitionBy(col("id"))
    val wWin = wAll.orderBy(col("pos")).rowsBetween(Window.currentRow, w - 1)
    df.select(col(idCol).cast("long").as("id"),
        posexplode(hUdf(col(textCol))).as(Seq("pos0", "h")))
      .select(col("id"), (col("pos0") + 1).cast("long").as("pos"), col("h"))
      .withColumn("__key", col("h") * lit(1048576L) + col("pos"))
      .withColumn("__wmin", min(col("__key")).over(wWin))
      .withColumn("__npos", count(lit(1)).over(wAll))
      // only FULL windows select (tail stubs are subsets of earlier
      // windows); a doc shorter than w hashes is one whole-doc window
      .filter(col("pos") <= greatest(col("__npos") - (w - 1), lit(1L)))
      .select(col("id"), expr("__wmin div 1048576").as("fp_hash"),
        pmod(col("__wmin"), lit(1048576L)).as("fp_pos"))
      .distinct()
  }

  /** Candidate near-dup pairs from shared winnowing fingerprints: docs
    * sharing ≥1 surviving fingerprint hash, with the count of shared
    * hashes as the match strength — the pair-mining stage between
    * [[winnowFingerprints]] and an exact re-score
    * ([[Dedup.containmentStats]]). Fingerprint hashes carried by more
    * than `maxBucket` documents are DROPPED first (a 10^6-doc boilerplate
    * gram is a stopword, not a match signal — and its bucket would emit
    * 10^12 pairs); the cap is the same hot-bucket suppression the LSH
    * band joins rely on, here made explicit and replayable.
    *
    * Scale shape: all exchanges carry (hash, id) or (id, id) rows. The
    * per-hash document count and the self-join key on the same hash
    * partitioning; the pair aggregate is the only id-pair-keyed
    * exchange, bounded by the capped buckets (≤ maxBucket² pairs per
    * surviving hash). */
  def winnowPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5, maxBucket: Int = 50): DataFrame = {
    require(maxBucket >= 2)
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col("id"), col("fp_hash")).distinct()
    val df_ = fps.groupBy(col("fp_hash")).agg(count(lit(1)).as("__df"))
    val kept = fps.join(df_, Seq("fp_hash")).filter(col("__df") <= maxBucket)
    kept.select(col("fp_hash"), col("id").as("id_a"))
      .join(kept.select(col("fp_hash"), col("id").as("id_b")), Seq("fp_hash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  def chunkBoundaryCount(textCol: String, mask: Int = 63): Column = {
    // 8-gram hashes via substr inside a HOF (SQL form: the Scala
    // substring() overload only takes literal positions).
    val hashes = expr(
      s"transform(sequence(1, greatest(length($textCol) - 7, 1)), i -> " +
        s"aggregate(transform(split(substr($textCol, i, 8), ''), c -> cast(ascii(c) as bigint)), " +
        "cast(0 as bigint), (acc, c) -> pmod(acc * 31 + c, 1000000007)))")
    size(filter(hashes, h => pmod(h, lit(mask + 1)) === 0L)).cast("long")
  }

  /** Gopher-style repetition statistics (Rae et al. 2021 §A1.1, public):
    * duplicate-line fraction, duplicate-line CHARACTER fraction, and the
    * fraction of characters covered by the single most frequent word
    * 2-/3-gram. One pass per document in a Scala kernel (the grouping a
    * top-n-gram needs makes this a multi-pass HOF — the measured
    * Catalyst-HOF re-evaluation hazard, see CLAUDE.md — while the kernel
    * is narrow per-row work: no shuffle, scale-free). Word boundary is
    * the explicit [ \t\n\r] class and the top gram ties break (count
    * desc, gram asc) so the DuckDB replay is exact; fixture corpora are
    * ASCII, where Java UTF-16 and DuckDB codepoint lengths agree. */
  final case class RepStats(dup_line_frac: Double, dup_line_char_frac: Double,
      top_2gram_frac: Double, top_3gram_frac: Double)

  def repetitionStats(linesDoc: String, text: String): RepStats = {
    // half-up like Spark/DuckDB round() (rint would round half-to-even)
    def r6(v: Double): Double = math.floor(v * 1e6 + 0.5) / 1e6
    val lines = (if (linesDoc == null) "" else linesDoc).split('\n').filter(_.nonEmpty)
    val (dlf, dlcf) =
      if (lines.isEmpty) (0.0, 0.0)
      else {
        val counts = scala.collection.mutable.HashMap.empty[String, Int]
        lines.foreach(l => counts(l) = counts.getOrElse(l, 0) + 1)
        val totalChars = lines.iterator.map(_.length.toLong).sum
        val dupChars = counts.iterator.map { case (l, c) => (c - 1).toLong * l.length }.sum
        (r6(1.0 - counts.size.toDouble / lines.length),
          r6(dupChars.toDouble / totalChars))
      }
    val t = (if (text == null) "" else text).trim
    val ws = if (t.isEmpty) Array.empty[String] else t.split("[ \t\n\r]+")
    def topFrac(n: Int): Double =
      if (ws.length < n) 0.0
      else {
        val counts = scala.collection.mutable.HashMap.empty[String, Int]
        var i = 0
        while (i + n <= ws.length) {
          val g = ws.slice(i, i + n).mkString(" ")
          counts(g) = counts.getOrElse(g, 0) + 1
          i += 1
        }
        val (g, c) = counts.minBy { case (g, c) => (-c, g) }
        r6(c.toDouble * g.length / t.length)
      }
    RepStats(dlf, dlcf, topFrac(2), topFrac(3))
  }

  // PII patterns chosen to behave identically under Java regex (Spark)
  // and RE2 (DuckDB): character classes, bounded repetition, \b only.
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\b\\d{3}-\\d{4}\\b"
  private val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction (C4/RefinedWeb-style): emails, phone numbers, IPv4
    * addresses → typed placeholder tokens. Pure Column DSL — three
    * codegen'd regexp_replace passes, no UDF, no shuffle. Order matters:
    * emails first (their domains contain dots that the IP pattern could
    * otherwise nibble). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>"),
      ipRe, "<IP>")

  /** Per-category PII match counts (audit trail for the redaction). */
  def piiCounts(text: Column): Column = struct(
    size(regexp_extract_all(text, lit(emailRe), lit(0))).cast("long").as("n_emails"),
    size(regexp_extract_all(text, lit(phoneRe), lit(0))).cast("long").as("n_phones"),
    size(regexp_extract_all(text, lit(ipRe), lit(0))).cast("long").as("n_ips"))

  /** Token-bounded chunking with overlap — the context-window packing
    * step of a training pipeline (long doc → maxTokens-token chunks, each
    * overlapping the previous by `overlap` tokens). Pure Column DSL: one
    * split, then a transform over chunk INDICES (cheap attribute refs
    * inside the lambda — not the nested-HOF hazard) building
    * (chunk_idx, n_tokens, chunk_text) structs; the caller explodes.
    * A doc with ≤ maxTokens tokens yields exactly one chunk. */
  def chunkTokens(tokens: Column, maxTokens: Int, overlap: Int): Column = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      "need 0 <= overlap < maxTokens")
    val stride = maxTokens - overlap
    val n = size(tokens)
    val nChunks = when(n <= maxTokens, 1)
      .otherwise(ceil((n - maxTokens).cast("double") / stride).cast("int") + 1)
    transform(sequence(lit(0), nChunks - 1), ci => struct(
      ci.as("chunk_idx"),
      least(lit(maxTokens), n - ci * stride).cast("long").as("n_tokens"),
      array_join(slice(tokens, ci * stride + 1, lit(maxTokens)), " ").as("chunk_text")))
  }

  /** Stopword-profile language id over a fixed public stopword table.
    * Scores = occurrence counts of per-language marker words; argmax with
    * a deterministic preference order on ties. */
  def langId(text: Column): Column = {
    def occ(w: String): Column =
      ((length(text) - length(regexp_replace(text, s" $w ", ""))) / (w.length + 2)).cast("long")
    val sEn = occ("the") + occ("and")
    val sDe = occ("der") + occ("und")
    val sEs = occ("los") + occ("las")
    val sFr = occ("les") + occ("des")
    when(sEn >= greatest(sDe, sEs, sFr), "en")
      .when(sDe >= greatest(sEs, sFr), "de")
      .when(sEs >= sFr, "es")
      .otherwise("fr")
  }

  /** One true BPE merge pass per table entry, in rank order, over the
    * word's SYMBOL ARRAY (chars initially): each pass merges adjacent
    * (a, b) pairs left-to-right non-overlapping — the real tokenizer
    * semantics. NOT a flat-string replace: 'th e' would substring-match
    * inside "th er" (symbol 'er' starts with 'e'), silently crossing
    * symbol boundaries — the bug the q174 unit test pins against.
    * Returns the final piece count. */
  private[graft] def bpePieces(word: String, merges: Seq[(String, String)]): Int = {
    var syms: Array[String] = word.map(_.toString).toArray
    merges.foreach { case (a, b) =>
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += a + b; i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.toArray
    }
    syms.length
  }

  /** BPE ENCODING statistics — the apply side of [[bpeLearn]]: the merge
    * table is applied in rank order as true adjacent-pair merge passes
    * over each word's symbol array ([[bpePieces]]). Reports per document
    * words, chars, pieces, and the pieces-per-char compression micro —
    * the tokenizer-cost read (alongside T123's fertility) a mix planner
    * prices corpora with. Merges must have a ≠ b and lowercase-ASCII
    * symbols by contract: with a ≠ b adjacent matches can never overlap,
    * so the q174 DuckDB oracle replays each pass EXACTLY as a positional
    * mark-and-rebuild list comprehension (and the symbols embed in SQL
    * literals).
    *
    * Scale shape: narrow explode + per-word UDF kernel (a multi-pass
    * array scan, per CLAUDE.md's HOF note), then ONE map-combined id
    * aggregate; raw text never shuffles. */
  def bpeEncodeStats(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty && merges.forall { case (a, b) =>
      a != b && (a + b).matches("[a-z]+") },
      "distinct lowercase-ascii merge symbols by contract")
    val piecesUdf = udf((w: String) => bpePieces(w, merges))
    df.select(col(idCol).cast("long").as("id"),
        explode(split(trim(col(textCol)), "\\s+")).as("__w"))
      .filter(col("__w") =!= "")
      .select(col("id"), length(col("__w")).cast("long").as("__nc"),
        piecesUdf(col("__w")).cast("long").as("__np"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"), sum(col("__nc")).as("n_chars"),
        sum(col("__np")).as("n_pieces"))
      .withColumn("compression_micro", expr("n_pieces * 1000000 div n_chars"))
  }

  /** Sentence-level language MIX — the within-document twin of [[langId]]
    * (CCNet keeps per-paragraph language scores for exactly this: a
    * "lang=en" page whose tail paragraphs are another language is a
    * template/autotranslate artifact, and the doc-level argmax hides
    * it). Splits on sentence boundaries, ids each sentence with the
    * SAME stopword-profile argmax, and reports per document how many
    * sentences agree with the document-level id — agree_micro < 10⁶
    * flags the mixed docs worth gating or segmenting. Returns
    * (id, doc_lang, n_sent, n_agree, agree_micro).
    *
    * Scale shape: narrow split + posexplode (text leaves the row only
    * as its own sentences, never a shuffle — the aggregate is one
    * map-combined id groupBy whose combine collapses each doc's
    * sentences inside its partition). */
  def sentenceLangMix(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sents = df
      .select(col(idCol).as("id"), langId(col(textCol)).as("doc_lang"),
        explode(split(col(textCol), "\\. ")).as("sent"))
      .filter(trim(col("sent")) =!= "")
    sents
      .select(col("id"), col("doc_lang"),
        (langId(col("sent")) === col("doc_lang")).cast("long").as("__agree"))
      .groupBy(col("id"), col("doc_lang"))
      .agg(count(lit(1)).as("n_sent"), sum(col("__agree")).as("n_agree"))
      .withColumn("agree_micro", expr("n_agree * 1000000 div n_sent"))
  }

  /** Lexical-diversity ladder: type-token ratio (distinct / total) for
    * word n-grams, n = 1..3 — the classic repetitiveness/diversity
    * feature (templated spam reads TTR ≪ natural prose at every n;
    * Gopher's repetition filters (T23) threshold specific fractions,
    * this profiles the curve). Exact integer micro-units. PURELY
    * NARROW: token array bound once, n-gram arrays built by zip_with
    * over shifted slices (no sequence() descending-range edge case),
    * distincts are per-row list ops. Returns long-format
    * (id, n, n_total, n_distinct, ttr_micro). */
  def lexicalDiversity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(col(idCol).as("id"),
        split(trim(col(textCol)), "\\s+").as("__ws"))
      .withColumn("__g2", expr(
        """zip_with(slice(__ws, 1, greatest(size(__ws) - 1, 0)),
          |slice(__ws, 2, greatest(size(__ws) - 1, 0)),
          |(a, b) -> concat(a, ' ', b))""".stripMargin))
      .withColumn("__g3", expr(
        """zip_with(slice(__g2, 1, greatest(size(__g2) - 1, 0)),
          |slice(__ws, 3, greatest(size(__ws) - 2, 0)),
          |(a, b) -> concat(a, ' ', b))""".stripMargin))
    val rows = Seq(("__ws", 1L), ("__g2", 2L), ("__g3", 3L)).map { case (c, n) =>
      struct(lit(n).as("n"),
        size(col(c)).cast("long").as("n_total"),
        size(array_distinct(col(c))).cast("long").as("n_distinct"))
    }
    base.select(col("id"), explode(array(rows: _*)).as("e"))
      .select(col("id"), col("e.n").as("n"), col("e.n_total").as("n_total"),
        col("e.n_distinct").as("n_distinct"))
      .withColumn("ttr_micro",
        expr("n_distinct * 1000000 div greatest(n_total, 1)"))
  }

  /** Line pattern for [[codeLineStats]], shared verbatim with the q131
    * DuckDB replay (RE2 and java.util.regex agree on this subset):
    * leading tab / 4-space indent / comment heads (`//`, `#`, `*`) /
    * keyword heads / markdown blockquote, or brace/semicolon line ends.
    * NOTE on embedding: DuckDB string literals keep backslashes verbatim
    * (interpolate as-is); Spark SQL literals process them (double first,
    * as the op below does). */
  val CodeLinePattern: String =
    "^(\\t|    |\\s*(//|#|\\*)|\\s*(import|def|class|function|return) |>)|[{};]\\s*$"

  /** Code/markup line profile: per document, how many lines look like
    * source code or markup (see [[CodeLinePattern]]) and the micro-unit
    * rate — the router signal that decides whether a page feeds the CODE
    * mix or the TEXT mix (StarCoder-style pipelines split here before
    * any language-specific tooling runs). One anchored regexp per line
    * over a bound lines array — purely narrow. Returns
    * (id, n_lines, n_code_lines, code_micro). */
  def codeLineStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pat = CodeLinePattern.replace("\\", "\\\\")
    df.select(col(idCol).as("id"), split(col(textCol), "\n").as("__ls"))
      .select(col("id"),
        size(col("__ls")).cast("long").as("n_lines"),
        size(expr(s"filter(__ls, l -> l rlike '$pat')")).cast("long").as("n_code_lines"))
      .withColumn("code_micro",
        expr("n_code_lines * 1000000 div greatest(n_lines, 1)"))
  }

  /** Outlink profile: URLs mentioned in the text and their distinct
    * hosts — link-farm pages carry dozens of outlinks to a handful of
    * hosts, and link-STUFFED spam carries hundreds (C4 drops pages by
    * brace/link density; this is the link half). Purely narrow —
    * `regexp_extract_all` + list ops, no UDF, no shuffle; host matching
    * is the scheme-anchored `https?://` form (markdown/bare-word links
    * are a rendering concern, not a crawl-text one). Returns
    * (id, n_urls, n_hosts, max_host_urls). */
  def outlinkStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol).as("id"),
        expr(s"""regexp_extract_all($textCol, 'https?://([^/\\\\s]+)', 1)""").as("__h"))
      .withColumn("__hl", expr("transform(__h, x -> lower(x))"))
      .select(col("id"),
        size(col("__h")).cast("long").as("n_urls"),
        size(array_distinct(col("__hl"))).cast("long").as("n_hosts"),
        coalesce(expr(
          """array_max(transform(array_distinct(__hl),
            |h -> size(filter(__hl, x -> x = h))))""".stripMargin).cast("long"),
          lit(0L)).as("max_host_urls"))
  }

  /** Inlink profile — the INVERSION of [[outlinkStats]]: instead of "how
    * many links does this page carry", "how many pages reference this
    * host, and how concentrated are they". A link farm reads as a host
    * with many references from FEW documents (high max_doc_refs), an
    * organically popular host as many references spread across MANY
    * documents — the target-side half of link-graph spam filtering
    * (outlink density is the source-side half, T113).
    *
    * Shape at scale: the narrow regexp extraction fans out to one row
    * per (host, doc) reference, then two hash aggregates — the first on
    * (host, doc_id) collapses per-doc repeats map-side BEFORE the host
    * exchange, the second is a plain host rollup whose partial
    * aggregation means a 10^9-reference host ships one row per map
    * partition, not 10^9. Nothing wider than (host, two longs) ever
    * rides an exchange. Returns (host, n_refs, n_docs, max_doc_refs). */
  def inlinkStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol).as("__doc"),
        explode(expr(
          s"""transform(regexp_extract_all($textCol, 'https?://([^/\\\\s]+)', 1),
             |x -> lower(x))""".stripMargin)).as("host"))
      .groupBy(col("host"), col("__doc"))
      .agg(count(lit(1)).as("__refs"))
      .groupBy(col("host"))
      .agg(sum("__refs").cast("long").as("n_refs"),
        count(lit(1)).cast("long").as("n_docs"),
        max("__refs").cast("long").as("max_doc_refs"))
  }

  /** Anchor-TERM profile: the word immediately preceding each outlink,
    * aggregated per target host — the classic anchor-text signal (what
    * the web CALLS a page predicts its topic and its spamminess: organic
    * hosts draw diverse verbs/nouns, farm targets draw one repeated
    * cta/keyword). Complements T113/T119, which count link EDGES but
    * drop the surrounding words. One regex with two capture groups run
    * twice (term, host) — identical pattern, so the i-th matches align —
    * zipped, exploded, aggregated; purely narrow until the one
    * (host, term) agg, map-combined, nothing wider than two short
    * strings + a count on the wire. Returns (host, term, n). */
  def anchorTerms(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pat = "(\\w+)\\s+https?://([^/\\s]+)"
    def grp(i: Int) = regexp_extract_all(col(textCol), lit(pat), lit(i))
    df.select(explode(zip_with(grp(1), grp(2),
        (t, h) => struct(t.as("t"), h.as("h")))).as("z"))
      .select(lower(col("z.h")).as("host"), col("z.t").as("term"))
      .groupBy(col("host"), col("term"))
      .agg(count(lit(1)).as("n"))
  }

  /** Token-budget truncation — the "max sequence length" preprocessing
    * cut (documents enter training clipped to the model's context
    * window; T30 chunks with overlap for RAG, this CLIPS for pretraining
    * where one window per doc is the budget). Output text is the first
    * `maxTokens` whitespace tokens rejoined with single spaces — the
    * tokenizer-canonical form (runs of whitespace do not survive any
    * tokenizer, so nothing meaningful is lost and the rewrite is exactly
    * replayable). PURELY NARROW: the token array binds to a column once,
    * then slice/join/size are codegen'd Column ops. Returns
    * (id, text, n_tokens, truncated). */
  def truncateTokens(
      df: DataFrame, idCol: String, textCol: String, maxTokens: Int): DataFrame = {
    require(maxTokens >= 1)
    df.select(col(idCol).as("id"),
        split(trim(col(textCol)), "\\s+").as("__ws"))
      .select(col("id"),
        array_join(slice(col("__ws"), 1, maxTokens), " ").as("text"),
        size(col("__ws")).cast("long").as("n_tokens"),
        (size(col("__ws")) > maxTokens).as("truncated"))
  }

  /** Encoding-junk profile — the mojibake/corruption gate a crawl corpus
    * runs before any text op trusts the bytes: counts of U+FFFD
    * replacement characters (a decoder already gave up), C0 control
    * characters other than tab/newline/CR (binary-in-text leakage), and
    * 'Ã' occurrences (the classic UTF-8-read-as-Latin-1 artifact — every
    * mangled two-byte sequence starts with one), plus their per-character
    * rate in exact integer micro-units. Pure codegen'd Column DSL —
    * `translate` length-diffs for the single chars, one regexp class for
    * the control range; no UDF, no shuffle. Returns
    * (id, n_repl, n_ctrl, n_moji, junk_micro). */
  def encodingJunk(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def gone(c: String) = length(t) - length(translate(t, c, ""))
    df.select(col(idCol).as("id"),
        gone("�").cast("long").as("n_repl"),
        (length(t) - length(regexp_replace(t,
          "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))).cast("long").as("n_ctrl"),
        gone("Ã").cast("long").as("n_moji"),
        length(t).cast("long").as("__len"))
      .withColumn("junk_micro",
        expr("(n_repl + n_ctrl + n_moji) * 1000000 div greatest(__len, 1)"))
      .select(col("id"), col("n_repl"), col("n_ctrl"), col("n_moji"), col("junk_micro"))
  }

  /** Mojibake REPAIR (the fix [[encodingJunk]] only detects) — the
    * ftfy-style core transform: text whose UTF-8 bytes were once decoded
    * as Windows-1252 ("Ã©" for é, "â€™" for ’) is re-encoded cp1252 and
    * strictly re-decoded UTF-8, recovering the original characters.
    * Safety over recall, per-row and total-function:
    *  - fast marker gate: no char in U+00C2–U+00F4 (the UTF-8 lead-byte
    *    images) → returned untouched (pure-ASCII pages short-circuit);
    *  - genuinely-clean accented text survives: its cp1252 bytes are NOT
    *    valid UTF-8, the strict decode throws, the original returns
    *    (e.g. "café " → é then space fails the continuation-byte check);
    *  - chars outside cp1252 (CJK etc.) → untouched (encoder canEncode);
    *  - the repair must strictly shrink (every fixed sequence does) or
    *    the original returns.
    * Single deterministic pass (double-mojibake repairs one layer). */
  private[graft] def fixMojibakeKernel(s: String): String = {
    if (s == null) return null
    if (!s.exists(c => c >= 'Â' && c <= 'ô')) return s
    val enc = java.nio.charset.Charset.forName("windows-1252").newEncoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    if (!enc.canEncode(s)) return s
    try {
      val bytes = enc.encode(java.nio.CharBuffer.wrap(s))
      val out = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        .decode(bytes).toString
      if (out.length < s.length) out else s
    } catch { case _: java.nio.charset.CharacterCodingException => s }
  }

  /** Column form of [[fixMojibakeKernel]] — a narrow per-row Scala UDF
    * (charset coders are multi-pass byte machinery, not Column algebra);
    * no shuffle, composes before any downstream text op. */
  def fixMojibake(text: Column): Column =
    udf((s: String) => fixMojibakeKernel(s)).apply(text)

  /** Row type of [[scriptProfile]] (a UDF-struct needs a stable encoder). */
  case class ScriptCounts(
      n_latin: Long, n_cyrillic: Long, n_cjk: Long, n_digit: Long,
      n_space: Long, n_other: Long, dominant: String)

  /** Unicode SCRIPT profile — the writing-system twin of [[languageId]]:
    * stopword profiles separate languages that share a script, but a
    * multilingual crawl first needs the script itself (a "lang=en" page
    * full of CJK is mislabeled upstream; a Latin/Cyrillic half-and-half
    * is a template page or an encoding accident — both gate BEFORE any
    * language model sees the text). Counts codepoints by range — Latin
    * (ASCII letters + U+00C0–U+024F), Cyrillic (U+0400–U+04FF), CJK
    * (kana U+3040–U+30FF + unified ideographs U+4E00–U+9FFF), digits,
    * ASCII whitespace, other — and reports the dominant letter script
    * (ties break latin > cyrillic > cjk; no letters → 'none'). The q165
    * DuckDB oracle replays the same ranges over codepoints
    * independently. Codepoint-range heuristic by design: a full
    * Character.UnicodeScript table is a data swap, not a shape change.
    *
    * Scale shape: purely narrow — one single-pass kernel per row (a
    * Scala UDF per the HOF-re-evaluation note in CLAUDE.md), no shuffle.
    * Steps by codePointAt/charCount so supplementary-plane characters
    * count once (the [[Dedup.polyHash]] codepoint discipline). */
  private[graft] def scriptProfileKernel(s: String): ScriptCounts = {
    if (s == null) return ScriptCounts(0L, 0L, 0L, 0L, 0L, 0L, "none")
    var latin = 0L; var cyr = 0L; var cjk = 0L
    var digit = 0L; var space = 0L; var other = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
          (cp >= 0xC0 && cp <= 0x24F)) latin += 1
      else if (cp >= 0x400 && cp <= 0x4FF) cyr += 1
      else if ((cp >= 0x3040 && cp <= 0x30FF) || (cp >= 0x4E00 && cp <= 0x9FFF)) cjk += 1
      else if (cp >= '0' && cp <= '9') digit += 1
      else if (cp == ' ' || cp == '\t' || cp == '\n' || cp == '\r') space += 1
      else other += 1
      i += Character.charCount(cp)
    }
    val dominant =
      if (latin == 0L && cyr == 0L && cjk == 0L) "none"
      else if (latin >= cyr && latin >= cjk) "latin"
      else if (cyr >= cjk) "cyrillic"
      else "cjk"
    ScriptCounts(latin, cyr, cjk, digit, space, other, dominant)
  }

  def scriptProfile(text: Column): Column =
    udf((s: String) => scriptProfileKernel(s)).apply(text)

  /** Feature-hashing document embeddings (the hashing trick, Weinberger
    * et al. 2009): each word hashes to one of `dims` buckets with a ±1
    * sign bit, and the document's vector is the signed bucket sum — a
    * vocabulary-free, training-free embedding whose inner products
    * approximate bag-of-words kernels, good enough to feed the ANN/
    * near-dup ladder (T5/T6/T18) when no learned embeddings exist. All
    * EXACT integer arithmetic on the shared [[Dedup.polyHash]] family,
    * so the q104 DuckDB oracle replays every cell. Long format
    * (id, dim, value) — only touched dims appear.
    *
    * Scale shape: narrow explode+hash (raw words never shuffle — the
    * hash is in the projection), then ONE map-combined (id, dim)
    * aggregate whose key space is bounded by dims per document. */
  def hashEmbedding(
      df: DataFrame, idCol: String, textCol: String, dims: Int = 32): DataFrame = {
    require(dims >= 2)
    df.select(col(idCol).cast("long").as("id"),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .select(col("id"), Dedup.polyHash(col("w")).as("__h"))
      .select(col("id"), pmod(col("__h"), lit(dims.toLong)).as("dim"),
        when(expr(s"(__h div $dims) % 2") === 0L, 1L).otherwise(-1L).as("__s"))
      .groupBy(col("id"), col("dim"))
      .agg(sum(col("__s")).as("value"))
  }

  /** Vocabulary-growth profile (the Heaps-law curve, measured exactly):
    * for each id threshold T, the token count and DISTINCT-word count of
    * the corpus prefix id < T — the diminishing-returns signal that sizes
    * "how much more crawl is worth deduping/buying" (a flattening curve
    * means new data is mostly old words). Thresholds are data (one row
    * each), not separate scans.
    *
    * Scale shape: ONE corpus pass — per-word (min id, per-threshold
    * occurrence counts) via a map-combined word aggregate (the skew is
    * the head of the Zipf curve, exactly what partial aggregation
    * flattens); vocab(T) then counts words with min id < T in a second
    * tiny aggregate over the threshold table. The naive per-threshold
    * `filter(id < T).distinct().count()` rescans the corpus |T| times.
    * Returns (threshold, n_tokens, vocab). */
  def vocabularyGrowth(
      df: DataFrame, idCol: String, textCol: String,
      thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty)
    val words = df
      .select(col(idCol).cast("long").as("id"),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val perWord = words.groupBy(col("w")).agg(
      min(col("id")).as("first_id"),
      (thresholds.map(t => sum(when(col("id") < t, 1L).otherwise(0L)).as(s"__n$t")): _*))
    val entries = thresholds.map(t => struct(lit(t).as("threshold"),
      col(s"__n$t").as("n"), when(col("first_id") < t, 1L).otherwise(0L).as("v")))
    perWord
      .select(explode(array(entries: _*)).as("e"))
      .groupBy(col("e.threshold").as("threshold"))
      .agg(sum(col("e.n")).as("n_tokens"), sum(col("e.v")).as("vocab"))
  }

  final case class Readability(n_words: Long, n_sentences: Long, n_syllables: Long)

  /** Heuristic English syllable count of one token (the standard
    * vowel-group rule readability formulas are defined over): ASCII
    * letters only, case-folded; count maximal runs of `aeiouy`; a final
    * silent `e` (not `le`, and not the only vowel group) subtracts one;
    * floor 1 for any word with letters. Deterministic, dictionary-free —
    * the convention every open readability implementation uses, stated
    * here as the contract the oracle's per-word constants encode. */
  def syllables(word: String): Int = {
    val sb = new StringBuilder
    var j = 0
    while (j < word.length) {
      val c = Character.toLowerCase(word.charAt(j))
      if (c >= 'a' && c <= 'z') sb.append(c)
      j += 1
    }
    val s = sb.toString
    if (s.isEmpty) return 0
    var groups = 0
    var prevVowel = false
    var i = 0
    while (i < s.length) {
      val v = "aeiouy".indexOf(s.charAt(i)) >= 0
      if (v && !prevVowel) groups += 1
      prevVowel = v
      i += 1
    }
    if (groups > 1 && s.endsWith("e") && !s.endsWith("le")) groups -= 1
    math.max(groups, 1)
  }

  /** Readability counts of a document: words = whitespace tokens carrying
    * at least one ASCII letter, sentences = maximal runs of `.!?` (a
    * terminator-less fragment with words counts as one sentence),
    * syllables = [[syllables]] summed over words. One pass, no
    * allocation beyond the token split; the grade formulas stay OUT of
    * the kernel — they are pure arithmetic on these longs and belong to
    * codegen'd Column DSL ([[fkGradeMicro]]/[[fleschEaseMicro]]). */
  def readabilityStats(text: String): Readability = {
    if (text == null) return Readability(0L, 0L, 0L)
    var words = 0L
    var syl = 0L
    for (tok <- text.split("\\s+")) {
      var hasLetter = false
      var i = 0
      while (i < tok.length && !hasLetter) {
        val c = tok.charAt(i)
        hasLetter = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
        i += 1
      }
      if (hasLetter) { words += 1L; syl += syllables(tok).toLong }
    }
    var sent = 0L
    var prevTerm = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      val t = c == '.' || c == '!' || c == '?'
      if (t && !prevTerm) sent += 1L
      prevTerm = t
      i += 1
    }
    if (sent == 0L && words > 0L) sent = 1L
    Readability(words, sent, syl)
  }

  /** Column stage for [[readabilityStats]]: text → struct(n_words,
    * n_sentences, n_syllables). */
  def readability(text: Column): Column =
    udf((t: String) => readabilityStats(t)).apply(text)

  /** Flesch–Kincaid grade level in EXACT micro-units from the count
    * longs: floor((0.39·(w/s) + 11.8·(syl/w) − 15.59)·10⁶ + 0.5). Both
    * divisions divide exact integers once (correctly-rounded IEEE, the
    * q57-q59 discipline — identical bits in Spark and DuckDB when the
    * oracle states the same expression); null when no words. */
  def fkGradeMicro(w: Column, s: Column, syl: Column): Column =
    when(w === 0L, lit(null).cast("long")).otherwise(
      floor((lit(0.39) * (w.cast("double") / s.cast("double")) +
        lit(11.8) * (syl.cast("double") / w.cast("double")) -
        lit(15.59)) * lit(1e6) + lit(0.5)).cast("long"))

  /** Flesch reading-ease in micro-units, same discipline:
    * floor((206.835 − 1.015·(w/s) − 84.6·(syl/w))·10⁶ + 0.5). */
  def fleschEaseMicro(w: Column, s: Column, syl: Column): Column =
    when(w === 0L, lit(null).cast("long")).otherwise(
      floor((lit(206.835) - lit(1.015) * (w.cast("double") / s.cast("double")) -
        lit(84.6) * (syl.cast("double") / w.cast("double"))) * lit(1e6) + lit(0.5)).cast("long"))

  final case class Lz78Stats(n_phrases: Long, n_cp: Long)

  /** LZ78 parse of a document: the phrase count is the EXACT,
    * dictionary-free analog of the "gzip compression ratio" repetition
    * signal curation pipelines use (Gopher/Dolma-style) — highly
    * repetitive text parses into few long phrases, junk/unique text into
    * ~one phrase per codepoint. Unlike deflate, the LZ78 phrase count
    * has a pencil-and-paper closed form on constructed inputs, so the
    * signal is cross-engine ORACLE-able, not merely unit-tested.
    *
    * Parse rule (classic LZ78): scan codepoints, extend the current
    * phrase while (prefix, cp) is in the dictionary; on a miss, emit the
    * phrase, add it, reset; a trailing in-dictionary remnant counts as
    * one phrase. Dictionary keys pack (prefixId << 21 | cp) into one
    * long — `mutable.LongMap` with getOrElse, never j.u.HashMap
    * (CLAUDE.md null-unboxing trap). One pass, O(n) map ops. */
  def lz78Stats(text: String): Lz78Stats = {
    if (text == null || text.isEmpty) return Lz78Stats(0L, 0L)
    val dict = scala.collection.mutable.LongMap.empty[Int]
    var nextId = 1
    var phrases = 0L
    var nCp = 0L
    var prefix = 0
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      i += Character.charCount(cp)
      nCp += 1L
      val key = (prefix.toLong << 21) | cp.toLong
      val id = dict.getOrElse(key, -1)
      if (id >= 0) prefix = id
      else {
        dict(key) = nextId; nextId += 1
        phrases += 1L
        prefix = 0
      }
    }
    if (prefix != 0) phrases += 1L
    Lz78Stats(phrases, nCp)
  }

  /** Column stage for [[lz78Stats]]: text → struct(n_phrases, n_cp).
    * The ratio (phrases/codepoints, ~0 repetitive … 1 incompressible)
    * is one exact-integer division downstream — micro-quantize it in
    * Column DSL, not here. */
  def lz78(text: Column): Column =
    udf((t: String) => lz78Stats(t)).apply(text)

  /** Mixed-script token counting — whitespace tokenization undercounts
    * unsegmented scripts (CJK text has no spaces, so a 400-character
    * Chinese document reads as "1 token" to a whitespace counter and
    * slips every length/quality gate): CJK ideographs, kana, and hangul
    * each count as one token, everything else by whitespace runs — the
    * standard multilingual-corpus accounting heuristic (mT5/CCNet-style
    * budget counting without a learned segmenter). */
  private[graft] def isCjk(cp: Int): Boolean =
    (cp >= 0x4E00 && cp <= 0x9FFF) ||  // CJK unified ideographs
      (cp >= 0x3400 && cp <= 0x4DBF) || // extension A
      (cp >= 0x3040 && cp <= 0x30FF) || // hiragana + katakana
      (cp >= 0xAC00 && cp <= 0xD7AF)    // hangul syllables

  private[graft] def mixedTokenCountKernel(s: String): Long = {
    if (s == null) return 0L
    var i = 0
    var n = 0L
    var inWord = false
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (isCjk(cp)) { n += 1; inWord = false }
      else if (Character.isWhitespace(cp)) inWord = false
      else { if (!inWord) n += 1; inWord = true }
      i += Character.charCount(cp)
    }
    n
  }

  /** Column form of [[mixedTokenCountKernel]]. */
  def mixedTokenCount(text: Column): Column =
    udf(mixedTokenCountKernel _).apply(text)

  /** Dehyphenation — the classic PDF/column-text repair: a line-final
    * hyphen between two lowercase letters is a typesetting artifact
    * ("exam-\nple" → "example"); a hyphen before an UPPERCASE
    * continuation stays (it is a real compound broken at the line). The
    * kernel IS one regex replace so the DuckDB oracle replays it with
    * the same RE2-compatible pattern — no scanning-order divergence. */
  def dehyphenate(text: Column): Column =
    regexp_replace(text, "([a-z])-\\n([a-z])", "$1$2")

  /** NFKC compatibility normalization — the quality pass NFC ([[Dedup]]
    * T189) deliberately is not: ligatures (ﬁ→fi), fullwidth forms
    * (Ｆ→F), circled/superscript digits (①→1, ²→2), and no-break spaces
    * collapse to their compatibility equivalents — the forms tokenizers
    * and dedup hashes want unified in scraped text. JDK Unicode tables;
    * the q230 oracle states expected strings as literals, so the
    * normalization itself is pinned, not echoed. */
  def nfkc(text: Column): Column =
    udf((s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC))
      .apply(text)
}
