package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus relevance / likelihood scoring for training-data curation:
  *
  *  - [[bm25Scores]]: BM25 (Robertson/Sparck Jones probabilistic ranking,
  *    the Lucene `(k1, b)` formulation) of every document against a small
  *    query-term set — the "select documents like THIS domain" step of
  *    targeted corpus construction.
  *  - [[lmNegLogLik]]: add-alpha-smoothed bigram language-model scoring
  *    against a reference corpus — the CCNet/DCLM-style "perplexity
  *    versus a clean reference" quality signal (Wenzek et al. 2020 use
  *    KenLM; the bigram model here is the same shape with an exactly
  *    SQL-replayable estimator).
  *
  * Scale shapes (both asserted in PlanSpec):
  *  - BM25: the corpus is never shuffled raw — only (id, matched-term)
  *    rows ride the tf exchange, and the df/idf tables (bounded by the
  *    query vocabulary) plus the 1-row (N, avgdl) stats frame are
  *    broadcast back.
  *  - LM: n-grams are HASHED before any exchange (the hash-kernel LM
  *    trick), so the count-join shuffles carry only (id, 8-byte hash)
  *    rows — never token or bigram strings. The reference-side count
  *    tables shuffle once on the hash to aggregate, and at production
  *    scale would be bucket-materialized once and reused per scoring run.
  *
  * Float determinism protocol (the oracle contract): every per-term /
  * per-bigram contribution is quantized to integer micro-units via
  * `floor(x * 1e6 + 0.5)` — pure IEEE ops, so ANY engine computing the
  * same expression tree lands on the same long — summed exactly as
  * integers, and divided back to a double only at the end. (A
  * `round(double, 6)` here would NOT replay: Spark rounds through the
  * binary double's exact decimal expansion with HALF_UP while DuckDB
  * rounds in floating point, and they disagree on ...5-boundary values —
  * observed once per ~5k docs on the sf0.1 corpus.)
  */
object Retrieval {

  /** Whitespace-token array of `textCol` (empty tokens dropped) — the
    * same tokenization every curation op in this library uses. */
  private def tokensCol(text: Column): Column =
    filter(split(trim(text), "[ \\t\\n\\r]+"), t => t =!= "")

  /** BM25 score of every matching document against `queryTerms`.
    *
    * Output: (id, n_terms, score) — one row per document containing at
    * least one query term; `score` is the BM25 sum over matched terms
    * with idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (Lucene's non-negative
    * variant), tf saturation `k1` and length normalization `b`.
    */
  def bm25Scores(
      corpus: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val base = corpus.select(
      col(idCol).cast("long").as("id"),
      tokensCol(col(textCol)).as("__toks"))
      .select(col("id"), col("__toks"),
        size(col("__toks")).cast("long").as("dl"))
    // 1-row global stats: corpus size and average document length
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      round(avg(col("dl")), 6).as("avgdl"))
    // narrow: explode then keep only query-term hits; the tf aggregate is
    // the first (and only corpus-side) exchange, carrying (id, tok, dl)
    val tf = base
      .select(col("id"), col("dl"), explode(col("__toks")).as("tok"))
      .filter(col("tok").isin(queryTerms: _*))
      .groupBy(col("id"), col("tok"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    // df over the matched set only (one row per (id, term) already):
    // bounded by |queryTerms|, broadcast back with idf attached
    val idf = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("tok"),
        (floor(log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("idf"))
    tf.join(broadcast(idf), Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(col("id"),
        floor(col("idf") * (col("tf") * lit(k1 + 1.0)) /
            (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
          * lit(1e6) + lit(0.5)).as("__sm"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_terms"),
        (sum(col("__sm")) / lit(1e6)).as("score"))
  }

  /** Integer-exact TF-IDF keyword extraction: the top-`topK` terms of
    * every document by `tf * (N - df + 0.5) / (df + 0.5)` — the
    * Robertson/Sparck-Jones idf core kept RATIONAL (no `ln`), so the
    * whole score is one BIGINT expression
    *
    *   score_micro = (tf * (2N - 2df + 1) * 1e6) div (2df + 1)
    *
    * that any engine computes identically (`ln`/`log` are not correctly
    * rounded across libms; integer division is exact everywhere).
    *
    * Output: (id, term, tf, score_micro), ≤ topK rows per document under
    * the total order (score_micro desc, term asc).
    *
    * Scale shape: the corpus text never rides an exchange — the explode
    * is narrow and the first shuffle is the map-side-combined (id, term)
    * tf aggregate; df aggregates the one-row-per-(id, term) tf output on
    * term; N is a 1-row broadcast; the rank filter compiles to a PARTIAL
    * WindowGroupLimit so hot documents prune map-side. */
  def tfidfTopTerms(
      corpus: DataFrame, idCol: String, textCol: String, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = corpus
      .select(col(idCol).cast("long").as("id"),
        explode(tokensCol(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // docs with >= 1 token — exactly the ids present in tf, computed as a
    // narrow rescan + 1-row aggregate instead of a distinct over tf
    val n = corpus
      .select(tokensCol(col(textCol)).as("__t"))
      .filter(size(col("__t")) > 0)
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("score_micro").desc, col("term").asc)
    tf.join(dfT, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score_micro",
        expr("(tf * (2*n - 2*df + 1) * 1000000) div (2*df + 1)"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topK)
      .select(col("id"), col("term"), col("tf"), col("score_micro"))
  }

  /** Capped inverted index: one row per term with its document frequency
    * and the top-`maxPostings` posting ids under (tf desc, id asc) — the
    * index-build step behind corpus search/BM25 serving, with the hot-term
    * problem handled at the source: a stopword's posting list is CAPPED,
    * not collected (an uncapped `collect_list` on "the" at 10^9 docs is an
    * executor OOM, not an index).
    *
    * Output: (term, df, top_ids) with `top_ids` a comma-joined id string
    * (a stable cross-engine surface for the capped list).
    *
    * Scale shape: TWO exchanges, both compact (asserted in PlanSpec) —
    * the map-side-combined (term, id) tf aggregate (within-doc token
    * repeats collapse before the wire), then the re-key to term for the
    * window, carrying only (term, id, tf) rows; the rank, the df count,
    * and the final fold all share that term partitioning. Raw text never
    * shuffles. No map-side WindowGroupLimit here BY DESIGN: df must count
    * every posting before the cap, so the count shares the rank's window
    * pass; what the cap bounds is the collect — the per-term fold only
    * ever materializes `maxPostings` rows. */
  def invertedIndex(
      corpus: DataFrame, idCol: String, textCol: String,
      maxPostings: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("term"))
    val tf = corpus
      .select(col(idCol).cast("long").as("id"),
        explode(tokensCol(col(textCol))).as("term"))
      .groupBy(col("term"), col("id"))
      .agg(count(lit(1)).as("tf"))
    tf.withColumn("rn",
        row_number().over(w.orderBy(col("tf").desc, col("id").asc)))
      .withColumn("df", count(lit(1)).over(w))
      .filter(col("rn") <= maxPostings)
      .groupBy(col("term"))
      .agg(max(col("df")).as("df"),
        array_join(
          transform(sort_array(collect_list(struct(col("rn"), col("id")))),
            x => x.getField("id").cast("string")),
          ",").as("top_ids"))
  }

  /** Collocation (phrase) mining by bigram lift: for every adjacent token
    * pair seen ≥ `minCount` times, lift = P(w1 w2) / (P(w1)·P(w2))
    * computed as the single-floor integer `c_ab·10^6·N div (c_a·c_b)` —
    * the word2vec phrase-merge statistic (Mikolov et al. 2013 §4) kept
    * engine-exact (valid while N·10^6 < 2^63, i.e. ~9·10^12 tokens; above
    * that, rescale the micro factor). Returns the top-`topK` by
    * (lift desc, w1, w2) — a total order. Output
    * (w1, w2, c_ab, lift_micro).
    *
    * Scale shape: one map-combined bigram aggregate and one unigram
    * aggregate; unigram counts are vocabulary-sized and join back
    * twice; min-count pruning kills the hapax tail BEFORE the joins
    * (Zipf: most distinct bigrams are singletons); final top-k is
    * TakeOrdered, never a global sort. */
  def collocations(
      corpus: DataFrame, textCol: String,
      minCount: Long = 5L, topK: Int = 20): DataFrame = {
    require(minCount >= 1 && topK >= 1)
    val toks = corpus.select(tokensCol(col(textCol)).as("w"))
    // struct pairs via an index transform — exploding (pos, token) and
    // re-carrying the whole array would be O(len²) per document
    val bi = toks.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(2, size(w)), i -> struct(w[i-2] AS w1, w[i-1] AS w2))")).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val n = uni.agg(sum(col("c"))).head.getLong(0)
    bi.join(uni.select(col("t").as("w1"), col("c").as("__ca")), Seq("w1"))
      .join(uni.select(col("t").as("w2"), col("c").as("__cb")), Seq("w2"))
      .select(col("w1"), col("w2"), col("c_ab"),
        expr(s"c_ab * 1000000 * ${n}L div (__ca * __cb)").as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** Per-bigram (h(w1), h("w1 w2")) hash pairs of a text — one pass, no
    * HOF (multi-pass array kernels degenerate under Catalyst lambda
    * re-evaluation; see CLAUDE.md). Hash = [[Dedup.polyHash]], the
    * SQL-replayable base-131 mod 2^31-1 family. */
  private[ops] val bigramHashKernel: String => Array[Array[Long]] = { text =>
    if (text == null) Array.empty
    else {
      val w = text.trim.split("[ \t\n\r]+").filter(_.nonEmpty)
      if (w.length < 2) Array.empty
      else {
        val out = new Array[Array[Long]](w.length - 1)
        var i = 0
        while (i < w.length - 1) {
          out(i) = Array(Dedup.polyHash(w(i)), Dedup.polyHash(w(i) + " " + w(i + 1)))
          i += 1
        }
        out
      }
    }
  }

  /** Bigram-LM negative log-likelihood of every corpus document under an
    * add-alpha-smoothed model estimated from `reference`:
    *
    *   P(w2 | w1) = (c(w1 w2) + alpha) / (c(w1) + alpha * V)
    *
    * with V = reference unigram vocabulary size. Output: (id, n_bigrams,
    * nll, avg_nll) for every document with >= 2 tokens; `avg_nll` is the
    * length-normalized score the CCNet perplexity filter thresholds on
    * (low = reference-like, high = junk). Documents whose n-grams never
    * occur in the reference still score finitely (alpha floor). */
  def lmNegLogLik(
      corpus: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String,
      alpha: Double = 0.1): DataFrame = {
    require(alpha > 0, "alpha must be positive (unsmoothed zeros diverge)")
    val bgUdf = udf(bigramHashKernel)
    // reference unigram counts + vocabulary size (hash-keyed)
    val c1 = reference
      .select(explode(tokensCol(col(refTextCol))).as("__t"))
      .select(Dedup.polyHash(col("__t")).as("h1"))
      .groupBy(col("h1")).agg(count(lit(1)).as("c1"))
    val vocab = c1.agg(count(lit(1)).as("v"))
    // reference bigram counts (hash-keyed; multiplicity preserved)
    val c12 = reference
      .select(explode(bgUdf(col(refTextCol))).as("__bg"))
      .select(col("__bg").getItem(1).as("h12"))
      .groupBy(col("h12")).agg(count(lit(1)).as("c12"))
    // corpus side: only (id, h1, h12) ever rides an exchange
    corpus
      .select(col(idCol).cast("long").as("id"),
        explode(bgUdf(col(textCol))).as("__bg"))
      .select(col("id"), col("__bg").getItem(0).as("h1"), col("__bg").getItem(1).as("h12"))
      .join(c12, Seq("h12"), "left")
      .join(c1, Seq("h1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("id"),
        floor(-log((coalesce(col("c12"), lit(0L)) + lit(alpha)) /
            (coalesce(col("c1"), lit(0L)) + lit(alpha) * col("v"))) * lit(1e6) + lit(0.5))
          .as("__lpm"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__lpm")).as("__nllm"))
      .select(col("id"), col("n_bigrams"),
        (col("__nllm") / lit(1e6)).as("nll"),
        (floor(col("__nllm") / col("n_bigrams") + lit(0.5)) / lit(1e6)).as("avg_nll"))
  }

  /** Per-source signature terms by integer lift: the words a source uses
    * far MORE than the corpus baseline (observed/expected frequency
    * ratio) — the quick "what is this source actually about / is it a
    * spam farm" profile read before assigning mix weights. Lift is kept
    * exact-integer: `c_sw · N · 10^6 div (c_w · n_s)` micro-units (no
    * log-PMI — `ln` does not replay across libms; the RANKING is the
    * deliverable and lift orders identically). `minCount` floors support
    * so one-off typos can't top the list. Top `k` per source under the
    * total order (lift desc, count desc, word asc).
    *
    * Scale shape: one map-combined (source, word) aggregate (Zipf head
    * collapses map-side), a word-marginal aggregate JOINED back by word,
    * 1-row corpus totals broadcast, and a per-source rank window that
    * SPARK-37099 prunes map-side to k candidates per partition. The
    * numerator product needs c_sw · N · 10^6 < 2^63 — beyond ~10^11
    * tokens pre-divide by gcd or drop to 10^3 units (documented bound).
    * Returns (source, word, n, lift_micro, rank). */
  def signatureTerms(
      df: DataFrame, sourceCol: String, textCol: String,
      k: Int = 5, minCount: Long = 5L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && minCount >= 1)
    val words = df.select(col(sourceCol).as("source"),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val sw = words.groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
    val wTot = sw.groupBy(col("w")).agg(sum(col("n")).as("__cw"))
    val sTot = sw.groupBy(col("source")).agg(sum(col("n")).as("__ns"))
    val nTot = broadcast(sw.agg(sum(col("n")).as("__N")))
    val rw = Window.partitionBy(col("source"))
      .orderBy(col("lift_micro").desc, col("n").desc, col("w").asc)
    sw.filter(col("n") >= minCount)
      .join(wTot, Seq("w"))
      .join(broadcast(sTot), Seq("source"))
      .crossJoin(nTot)
      .withColumn("lift_micro", expr("n * __N * 1000000 div (__cw * __ns)"))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select(col("source"), col("w").as("word"), col("n"),
        col("lift_micro"), col("rank").cast("long").as("rank"))
  }

  /** Per-source out-of-vocabulary rate against the corpus-wide head
    * vocabulary: the fraction of a source's tokens falling outside the
    * global top-`vocabSize` words — high OOV marks feeds full of tail
    * weirdness (boilerplate IDs, encoding soup, other languages) that
    * perplexity filters flag one document at a time; this flags the
    * FEED. Rates in exact integer micro-units.
    *
    * Scale shape: one map-combined word count, a TakeOrderedAndProject
    * head vocabulary (never a global sort) that BROADCASTS into a narrow
    * membership flag, then one (source) aggregate. The head vocab is
    * driver-bounded by `vocabSize` — the same bounded-broadcast contract
    * as the IVF codebook. Returns (source, n_tokens, n_oov, oov_micro). */
  def oovRate(
      df: DataFrame, sourceCol: String, textCol: String,
      vocabSize: Int = 100): DataFrame = {
    require(vocabSize >= 1)
    val words = df.select(col(sourceCol).as("source"),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val head = words.groupBy(col("w")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("w")).limit(vocabSize)
      .select(col("w"), lit(true).as("__in"))
    words.join(broadcast(head), Seq("w"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_micro", expr("n_oov * 1000000 div n_tokens"))
      .select(col("source"), col("n_tokens"), col("n_oov"), col("oov_micro"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard hybrid-
    * search combiner: two ranked lists (lexical BM25 and semantic ANN,
    * classically) merge by score Σ 1/(k + rank), which needs no score
    * normalization because it consumes only RANKS — exactly why it wins
    * over score interpolation across incomparable scorers. Kept exact:
    * each reciprocal is `10^6 div (k + rank)` integer micro-units, so
    * the fused order (with the id tiebreak) replays bit-for-bit. A doc
    * absent from one list contributes 0 from it (the convention).
    *
    * Scale shape: inputs are ALREADY top-k lists (bounded by contract —
    * fusing full corpora rank-wise is meaningless), so the full-outer id
    * join and the final rank window run on ≤ |a|+|b| rows. Returns
    * (id, rank_a, rank_b, score_micro, rank) for the fused top `topK`. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int = 60, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && topK >= 1)
    val fa = a.select(col("id"), col("rank").cast("long").as("rank_a"))
    val fb = b.select(col("id"), col("rank").cast("long").as("rank_b"))
    val w = Window.orderBy(col("score_micro").desc, col("id"))
    fa.join(fb, Seq("id"), "full_outer")
      .withColumn("score_micro",
        coalesce(expr(s"1000000 div ($k + rank_a)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($k + rank_b)"), lit(0L)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("id"), col("rank_a"), col("rank_b"), col("score_micro"), col("rank"))
  }

  /** Exact phrase search via positional postings intersection — the
    * retrieval primitive BM25 (bag-of-words) cannot express: the terms
    * must occur CONSECUTIVELY. Tokens are (id, position, word); the
    * phrase's first term anchors, and each later term joins back on
    * (id, pos − i) — the classic positional-index adjacency walk
    * (Manning et al., IIR §2.4.2). Returns (id, n_matches) for documents
    * with at least one occurrence; overlapping occurrences each count.
    *
    * Scale shape: the corpus prunes NARROWLY to phrase-term postings
    * (an `isin` over the handful of phrase words, pushed into the scan
    * projection side) before anything shuffles; the adjacency joins are
    * equi-joins on (id, pos) carrying 12-byte rows — intersection cost
    * scales with the RAREST term's posting list, never the corpus. At
    * index-serving scale the postings would be bucket-materialized by
    * term; here they stream from the scan. */
  def phraseSearch(
      df: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, "single-term phrase is a plain term filter")
    val toks = df
      .select(col(idCol).cast("long").as("id"),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "w")))
      .filter(col("w").isin(phrase.distinct: _*))
    var m = toks.filter(col("w") === phrase.head).select(col("id"), col("pos"))
    for (i <- 1 until phrase.size) {
      val ti = toks.filter(col("w") === phrase(i))
        .select(col("id"), (col("pos") - i).as("pos"))
      m = m.join(ti, Seq("id", "pos"))
    }
    m.groupBy(col("id")).agg(count(lit(1)).as("n_matches"))
  }

  /** DSIR-style data selection scores (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every doc by
    * how much its tokens look like a TARGET source versus the rest of
    * the raw corpus, over HASHED features — the cheap importance weight
    * that selects in-domain pretraining data without training a
    * classifier (T35 is the trained-classifier sibling; this is the
    * count-ratio one). Faithful to the paper's shape (hashed n-gram
    * bucket counts, per-bucket likelihood ratios, per-doc aggregate) but
    * EXACT-INTEGER: Laplace-smoothed per-bucket probabilities quantized
    * to micro-units (`(c+1)·10^6 div (N+B)`), per-bucket ratio
    * `p_t · 10^6 div p_r`, per-doc score the integer MEAN ratio — an
    * arithmetic mean instead of the paper's log-sum, because `ln` does
    * not replay across libms and the induced ORDER is the deliverable.
    *
    * Scale shape: buckets bound the stats table to `buckets` rows no
    * matter the corpus (the paper's point), so it BROADCASTS back —
    * scoring is one narrow pass + one doc-keyed aggregate. The bucket
    * stats themselves are one map-combined aggregate whose key space is
    * ≤ `buckets`. The hash is [[Dedup.polyHash]] mod `buckets`, so the
    * q138 DuckDB oracle replays bucket → ratio → score bit-for-bit.
    * Returns (id, n_tokens, relevance_micro); compose with
    * [[Curation]]'s budgetTake for the actual resample. */
  def dsirRelevance(
      df: DataFrame, idCol: String, sourceCol: String, textCol: String,
      targetSource: String, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2)
    val toks = df.select(col(idCol).cast("long").as("id"),
        col(sourceCol).as("__src"),
        explode(split(trim(col(textCol)), "\\s+")).as("__w"))
      .filter(col("__w") =!= "")
      .withColumn("__b", Dedup.polyHash(col("__w")) % buckets)
    val stats = toks.groupBy(col("__b")).agg(
      sum(when(col("__src") === targetSource, 1L).otherwise(0L)).as("__ct"),
      sum(when(col("__src") =!= targetSource, 1L).otherwise(0L)).as("__cr"))
    val tot = stats.agg(sum(col("__ct")).as("__Nt"), sum(col("__cr")).as("__Nr"))
    val ratios = stats.crossJoin(broadcast(tot))
      .select(col("__b"),
        expr(s"""((__ct + 1) * 1000000 div (__Nt + $buckets)) * 1000000
                |div greatest((__cr + 1) * 1000000 div (__Nr + $buckets), 1)"""
          .stripMargin.replace("\n", " ")).as("__ratio"))
    toks.join(broadcast(ratios), Seq("__b"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        expr("sum(__ratio) div count(1)").as("relevance_micro"))
      .select(col("id"), col("n_tokens"), col("relevance_micro"))
  }
}
