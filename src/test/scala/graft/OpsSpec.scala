package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}

/** Training-pipeline operators: dedup (MinHash/LSH, SimHash), ANN
  * similarity, text analysis, multimodal plumbing. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def docsDf = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tomorrow"), // near-dup of 1
    (3L, "completely different content about spark catalyst optimizer internals"),
    (4L, "another unrelated document mentioning parquet columnar storage formats"),
    (5L, "the quick brown fox jumps over the lazy dog again and again today") // exact dup of 1
  ).toDF("id", "text")

  test("minhash LSH finds planted near-dup and exact-dup pairs, skips unrelated") {
    val pairs = Dedup.minhashNearDups(docsDf, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 5L))) // near-dups
    assert(!pairs.exists { case (a, b) => Set(a, b).intersect(Set(3L, 4L)).nonEmpty })
  }

  test("minhash jaccard column is exact set jaccard") {
    val r = Dedup.minhashNearDups(docsDf, "id", "text", threshold = 0.1)
      .filter($"id_a" === 1L && $"id_b" === 5L).select("jaccard").as[Double].head()
    assert(r == 1.0)
  }

  test("simhash: identical texts → distance 0; near-dup small; unrelated large") {
    val h1 = Dedup.simhash64("the quick brown fox jumps over the lazy dog")
    val h1b = Dedup.simhash64("the quick brown fox jumps over the lazy dog")
    val h2 = Dedup.simhash64("the quick brown fox jumps over the lazy cat")
    val h3 = Dedup.simhash64("totally different words entirely elsewhere")
    assert(h1 == h1b)
    assert(java.lang.Long.bitCount(h1 ^ h2) < java.lang.Long.bitCount(h1 ^ h3))
    assert(Dedup.simhash64(null) == 0L && Dedup.simhash64("") == 0L)
  }

  test("polyHash/simhash fold codepoints, not UTF-16 units (supplementary plane)") {
    val s = "a😀b" // a😀b — 😀 is two UTF-16 code units, one codepoint
    val expected = s.codePoints().toArray
      .foldLeft(0L)((acc, c) => (acc * 131 + c) % 2147483647L)
    assert(Dedup.polyHash(s) == expected)
    // the code-unit fold (the old behavior) MUST differ here — it's the
    // silent cross-engine break the DuckDB split('')+ascii replay exposes
    val unitFold = s.foldLeft(0L)((acc, c) => (acc * 131 + c.toLong) % 2147483647L)
    assert(Dedup.polyHash(s) != unitFold)
    // BMP text is unchanged by the fix
    assert(Dedup.polyHash("plain ascii") ==
      "plain ascii".foldLeft(0L)((acc, c) => (acc * 131 + c.toLong) % 2147483647L))
    // simhash tokenizes + folds the same way; supplementary tokens hash
    // identically whether or not BMP neighbors surround them
    assert(Dedup.simhash64("x 😀 y") == Dedup.simhash64("x  😀  y"))
  }

  test("simhash LSH join surfaces the exact-dup pair") {
    val pairs = Dedup.simhashNearDups(docsDf, "id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 5L && p._3 == 0))
  }

  private def vecsDf = {
    // 3 tight clusters around orthogonal axes in R^8
    def v(axis: Int, eps: Float, id: Long) = {
      val a = Array.fill(8)(eps); a(axis) = 1f; (id, a.toSeq)
    }
    Seq(v(0, 0.01f, 0L), v(0, 0.02f, 1L), v(0, 0.03f, 2L),
      v(3, 0.01f, 3L), v(3, 0.02f, 4L), v(3, 0.03f, 5L),
      v(6, 0.01f, 6L), v(6, 0.02f, 7L), v(6, 0.03f, 8L)
    ).toDF("vec_id", "embedding")
  }

  test("brute-force cosine top-k ranks own cluster first, k rows per query, rank total-ordered") {
    val out = Similarity.bruteForceTopK(
      vecsDf.filter($"vec_id" === 0L), vecsDf, "vec_id", "embedding", k = 3).collect()
    assert(out.length == 3)
    val ids = out.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    assert(ids.toSet == Set(0L, 1L, 2L)) // the axis-0 cluster
    assert(out.map(_.getDouble(3)).max == 1.0) // self-match first
  }

  test("cosine column: orthogonal ~0, identical = 1, zero vector guarded") {
    val df = Seq(
      (Seq(1f, 0f), Seq(1f, 0f)),
      (Seq(1f, 0f), Seq(0f, 1f)),
      (Seq(0f, 0f), Seq(1f, 1f))
    ).toDF("a", "b").select(Similarity.cosine($"a", $"b").as("c"))
    val cs = df.as[Double].collect()
    assert(cs(0) == 1.0 && cs(1) == 0.0 && cs(2) == 0.0)
  }

  test("LSH ANN: recall@3 vs brute force is perfect on separated clusters") {
    val q = vecsDf.filter($"vec_id".isin(0L, 3L, 6L))
    val exact = Similarity.bruteForceTopK(q, vecsDf, "vec_id", "embedding", k = 3)
      .select("query_id", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.lshTopK(q, vecsDf, "vec_id", "embedding", k = 3, numBits = 16, bands = 8)
      .select("query_id", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // orthogonal clusters: every true neighbor shares a band with its query
    assert(exact.subsetOf(ann) || (exact -- ann).isEmpty,
      s"missing: ${exact -- ann}")
  }

  test("cosine near-dup pairs: same-cluster pairs found, cross-cluster pairs excluded") {
    val pairs = Similarity.cosineNearDups(vecsDf, "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // within-cluster pairs are near-identical directions (sim ~ 1)
    val found = pairs.map(p => (p._1, p._2)).toSet
    assert(found.contains((0L, 1L)) && found.contains((3L, 4L)) && found.contains((6L, 7L)), found)
    // no pair bridges orthogonal clusters
    val cluster = Map(0L -> 0, 1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 1, 6L -> 2, 7L -> 2, 8L -> 2)
    assert(pairs.forall(p => cluster(p._1) == cluster(p._2)), pairs.mkString(","))
    assert(pairs.forall(_._3 >= 0.9))
  }

  test("IVF ANN with nProbe == nCells degenerates to the exact brute-force result") {
    val q = vecsDf.filter($"vec_id".isin(0L, 3L, 6L))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val exact = rows(Similarity.bruteForceTopK(q, vecsDf, "vec_id", "embedding", k = 3))
    val ivf = rows(Similarity.ivfTopK(q, vecsDf, "vec_id", "embedding", k = 3,
      nCells = 4, nProbe = 4))
    assert(ivf == exact, s"ivf=$ivf exact=$exact")
  }

  test("IVF ANN: self-match found at rank 1 with sim 1.0; results stay in-cluster at nProbe 1") {
    val q = vecsDf.filter($"vec_id".isin(0L, 3L, 6L))
    val out = Similarity.ivfTopK(q, vecsDf, "vec_id", "embedding", k = 3,
      nCells = 3, nProbe = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // each query's own vector is in its probed cell → rank-1 sim 1.0
    for (qid <- Seq(0L, 3L, 6L))
      assert(out.exists(r => r._1 == qid && r._2 == 1 && r._3 == qid && r._4 == 1.0), out.mkString(","))
    // no (query, nn) pair appears twice (cells partition the corpus)
    assert(out.map(r => (r._1, r._3)).distinct.length == out.length)
    // deterministic across runs (codebook choice + assignment are pure)
    val again = Similarity.ivfTopK(q, vecsDf, "vec_id", "embedding", k = 3,
      nCells = 3, nProbe = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSet == again.toSet)
  }

  test("IVF ANN tolerates null vectors: excluded from codebook and results, no NPE") {
    val withNull = vecsDf.unionByName(
      Seq((99L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    val q = withNull.filter($"vec_id".isin(0L, 99L))
    val out = Similarity.ivfTopK(q, withNull, "vec_id", "embedding", k = 3,
      nCells = 4, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(out.nonEmpty)
    assert(!out.exists(_._1 == 99L)) // null query probes nothing
    assert(!out.exists(_._2 == 99L)) // null corpus row lands in no cell
  }

  test("hashSplit: matches the affine reference, covers every row, stable across runs") {
    import graft.ops.Curation
    val ids = (0L until 500L).toDF("id")
    val out = ids.select($"id", Curation.hashSplit($"id").as("split"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    def ref(id: Long): String = {
      val b = ((id * 1103515245L + 12345L) % 2147483647L) % 100L
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    assert(out.forall { case (id, s) => s == ref(id) })
    assert(out.values.toSet == Set("train", "val", "test")) // all splits hit at n=500
    val again = ids.select(Curation.hashSplit($"id").as("s")).collect().map(_.getString(0))
    assert(again.toSeq == (0L until 500L).map(ref)) // deterministic, order-stable projection
  }

  test("hashSplit: negative ids spread over all splits via pmod, never all-train") {
    import graft.ops.Curation
    val splits = (-300L until 0L).toDF("id")
      .select(Curation.hashSplit($"id").as("s")).collect().map(_.getString(0))
    assert(splits.toSet == Set("train", "val", "test"), splits.distinct.mkString(","))
  }

  test("capPerKey keeps the n smallest order values per key; salted and plain paths agree") {
    import graft.ops.Curation
    val df = Seq(
      ("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L),
      ("b", 10L), ("b", 11L),
      ("c", 7L)
    ).toDF("k", "ord")
    val expect = Set(("a", 1L), ("a", 2L), ("b", 10L), ("b", 11L), ("c", 7L))
    val kept = Curation.capPerKey(df, "k", "ord", n = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(kept == expect, kept.toString)
    intercept[IllegalArgumentException] {
      Curation.capPerKey(df.withColumn("__graft_cap_rn", lit(1)), "k", "ord", n = 2)
    }
  }

  test("capPerKey equals the in-memory reference on randomized skewed data") {
    import graft.ops.Curation
    val rng = new scala.util.Random(7L)
    // skewed: key 0 holds ~half the rows
    val rows = (0 until 2000).map { i =>
      val k = if (rng.nextBoolean()) 0 else rng.nextInt(40)
      (s"k$k", i.toLong)
    }
    // .values first: flatMap directly on the Map would rebuild a Map and
    // silently collapse to one row per key
    val expect = rows.groupBy(_._1).values.flatMap(g => g.sortBy(_._2).take(3)).toSet
    val got = Curation.capPerKey(rows.toDF("k", "ord").repartition(8), "k", "ord", n = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expect, s"diff: ${(got diff expect) ++ (expect diff got)}")
  }

  test("mixSample: weights steer kept-token shares, cap at full source, deterministic") {
    import graft.ops.Curation
    val rng = new scala.util.Random(11L)
    val df = (0 until 3000).map { i =>
      (i.toLong, s"src${i % 3}", 50L + rng.nextInt(100))
    }.toDF("doc_id", "source", "n_chars")
    val kept = Curation.mixSample(df, "source", "n_chars", "doc_id",
      Map("src0" -> 4.0, "src1" -> 1.0), totalTokens = 60000L)
    val bysrc = kept.groupBy("source").agg(sum("n_chars").as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // targets: src0 4/6*60000=40000, src1/src2 each 1/6*60000=10000;
    // hash sampling is approximate — assert ordering and rough shares
    assert(bysrc("src0") > 2 * bysrc("src1"), bysrc.toString)
    assert(math.abs(bysrc("src1").toDouble - 10000) < 4000, bysrc.toString)
    assert(math.abs(bysrc("src2").toDouble - 10000) < 4000, bysrc.toString)
    // a budget larger than the corpus keeps everything (frac caps at 1)
    val all = Curation.mixSample(df, "source", "n_chars", "doc_id",
      Map.empty, totalTokens = 100000000L)
    assert(all.count() == 3000)
    // deterministic membership
    val k1 = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val k2 = Curation.mixSample(df, "source", "n_chars", "doc_id",
      Map("src0" -> 4.0, "src1" -> 1.0), totalTokens = 60000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(k1 == k2)
  }

  test("hashSplit proportions approximate 80/10/10 over a large id range") {
    import graft.ops.Curation
    val counts = (0L until 20000L).toDF("id")
      .select(Curation.hashSplit($"id").as("s")).groupBy("s").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(math.abs(counts("train") - 16000L) < 800, counts.toString)
    assert(math.abs(counts("val") - 2000L) < 400, counts.toString)
    assert(math.abs(counts("test") - 2000L) < 400, counts.toString)
  }

  test("fingerprint: pure fold, matches a reference Scala loop; chunk count shift-invariant") {
    val text = "hello world of deterministic rolling hashes"
    def refFp(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
    val out = Seq(Tuple1(text)).toDF("t")
      .select(TextOps.fingerprint($"t").as("fp"), TextOps.chunkBoundaryCount("t").as("ch"))
      .collect().head
    assert(out.getLong(0) == refFp(text))
    // content-defined chunking: boundaries inside a shared suffix survive a prefix edit
    val a = "PREFIX-A " * 3 + ("stable shared tail content " * 20)
    val b = "DIFFERENT-HEAD " + ("stable shared tail content " * 20)
    val Array(ca, cb) = Seq(Tuple1(a), Tuple1(b)).toDF("t")
      .select(TextOps.chunkBoundaryCount("t").as("c")).as[Long].collect()
    assert(ca > 0 && cb > 0) // both found boundaries in the shared region
  }

  test("quality features + score: bounds and degenerate inputs") {
    val df = Seq(
      Tuple1("A normal, well formed sentence with reasonable words and length."),
      Tuple1("!!!!!! ???? ;;;; ,,,, ...."),
      Tuple1("x")
    ).toDF("text").select(
      TextOps.qualityFeatures($"text").as("f"),
      TextOps.qualityScore($"text").as("q"))
    val rows = df.select($"f.n_words", $"f.punct_ratio", $"q").collect()
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
    }
    assert(rows(0).getDouble(2) > rows(1).getDouble(2)) // punctuation soup scores lower
  }

  test("token counts: whitespace and subword proxies") {
    val r = Seq(Tuple1("Hello world, this is test-42!")).toDF("t")
      .select(TextOps.tokenCount($"t").as("w"), TextOps.subwordCount($"t").as("s"))
      .collect().head
    assert(r.getLong(0) == 5L)
    assert(r.getLong(1) > r.getLong(0)) // punctuation splits add tokens
  }

  test("repetitionStats: hand-computed fractions, tie-break, degenerate inputs") {
    // lines: a,b,a,a  → 4 lines, 2 distinct → dup_line_frac = 0.5;
    // dup chars = 2 extra copies of "aa" (2 chars) = 4 of total 2+3+2+2=9
    val r = TextOps.repetitionStats("aa\nbbb\naa\naa", "x y x y x z")
    assert(r.dup_line_frac == 0.5)
    assert(r.dup_line_char_frac == math.floor(4.0 / 9 * 1e6 + 0.5) / 1e6)
    // 2-grams: "x y"x2, "y x"x2, "y x"... text = "x y x y x z": grams
    // x y, y x, x y, y x, x z → top by (cnt desc, gram asc) = "x y" (2)
    // frac = 2*3/11
    assert(r.top_2gram_frac == math.floor(6.0 / 11 * 1e6 + 0.5) / 1e6)
    // 3-grams: "x y x"x2, "y x y", "y x z" → top "x y x" frac 2*5/11
    assert(r.top_3gram_frac == math.floor(10.0 / 11 * 1e6 + 0.5) / 1e6)
    val e = TextOps.repetitionStats("", "")
    assert(e == TextOps.RepStats(0, 0, 0, 0))
    assert(TextOps.repetitionStats(null, null) == TextOps.RepStats(0, 0, 0, 0))
    // fewer words than n → 0
    assert(TextOps.repetitionStats("one", "word").top_2gram_frac == 0.0)
  }

  test("redactPii replaces all occurrences and piiCounts matches") {
    val t = "write a@b.com or c.d+x@e-f.org, call 555-0199 or 555-0200, host 10.0.0.1 done 1.2.3.4"
    val row = Seq(Tuple1(t)).toDF("t")
      .select(TextOps.redactPii($"t").as("r"), TextOps.piiCounts($"t").as("p"))
      .select($"r", $"p.n_emails", $"p.n_phones", $"p.n_ips").collect().head
    assert(row.getString(0) ==
      "write <EMAIL> or <EMAIL>, call <PHONE> or <PHONE>, host <IP> done <IP>")
    assert((row.getLong(1), row.getLong(2), row.getLong(3)) == ((2L, 2L, 2L)))
    // no PII → unchanged
    val clean = Seq(Tuple1("plain words only")).toDF("t")
      .select(TextOps.redactPii($"t")).collect().head.getString(0)
    assert(clean == "plain words only")
  }

  test("asOfJoin: latest-preceding match per key, <= tie, null/no-match semantics") {
    import graft.ops.Temporal
    import java.sql.Timestamp
    def t(ms: Long) = new Timestamp(ms)
    val left = Seq((1L, 10L, t(1000)), (2L, 10L, t(2000)), (3L, 10L, t(500)),
      (4L, 20L, t(5000))).toDF("id", "k", "ts")
    val right = Seq((100L, 10L, t(1000), 1.5), (101L, 10L, t(1500), 2.5),
      (102L, 30L, t(100), 9.9)).toDF("rid", "k", "ts", "v")
      .select($"k", $"ts", $"rid", $"v")
    val out = Temporal.asOfJoinLeft(left, right, "k", "ts", Seq("rid", "v"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(3)), Option(r.get(4)))).toMap
    assert(out(1L) == ((Some(100L), Some(1.5)))) // equal ts matches (<=)
    assert(out(2L) == ((Some(101L), Some(2.5)))) // latest preceding wins
    assert(out(3L) == ((None, None)))            // nothing precedes
    assert(out(4L) == ((None, None)))            // key has no right rows
    val inner = Temporal.asOfJoin(left, right, "k", "ts", Seq("rid", "v"))
    assert(inner.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("rangeJoinCount: inclusive tolerance, zero-match rows kept, no double count") {
    import graft.ops.Temporal
    import java.sql.Timestamp
    def t(us: Long) = new Timestamp(us / 1000) // ms precision is enough here
    val tol = 1000000L // 1s in micros
    val left = Seq((1L, 10L, t(10000000L)), (2L, 10L, t(50000000L)),
      (3L, 20L, t(10000000L))).toDF("id", "k", "ts")
    val right = Seq(
      (10L, t(9000000L)),  // exactly -tol from left 1 → inclusive
      (10L, t(10999000L)), // just inside +tol
      (10L, t(11001000L)), // just outside
      (10L, t(10000000L)), // exact match
      (20L, t(20000000L))  // far from left 3
    ).toDF("k", "ts")
    val out = Temporal.rangeJoinCount(left, right, "k", "ts", tol)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out == Map(1L -> 3L, 2L -> 0L, 3L -> 0L))
  }

  test("connectedComponents: chains, rings, isolated edges; min-id labels; no pinned blocks") {
    import graft.ops.Curation
    // components: chain 1-2-3-4 (comp 1), ring 10-11-12-10 (comp 10),
    // lone edge 20-21 (comp 20); duplicate + reversed edges tolerated
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 10L), (21L, 20L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = Curation.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // library hygiene: every LOOP intermediate is unpersisted — only the
    // localCheckpoint backing the self-contained result may remain
    val persisted = spark.sparkContext.getPersistentRDDs.size
    assert(persisted <= 1, s"loop blocks stayed pinned: $persisted persistent RDDs")
  }

  test("contaminationHits/decontaminate: planted 5-gram overlap, whole-text short docs") {
    import graft.ops.Curation
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"), // 5-grams: a..e, b..z
      (101L, "tiny doc") // < 5 words → single whole-text shingle
    ).toDF("id", "text")
    val corpus = Seq(
      (1L, "prefix alpha beta gamma delta epsilon suffix"), // shares 'alpha..epsilon'
      (2L, "beta gamma delta epsilon zeta trailing words"), // shares 'beta..zeta'
      (3L, "no shared phrases whatsoever in this one"),
      (4L, "tiny doc"), // whole-text match with bench 101
      (5L, "alpha beta gamma delta epsilon zeta") // shares BOTH bench-100 5-grams
    ).toDF("id", "text")
    val hits = Curation.contaminationHits(corpus, "id", "text", bench, "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 5L -> 2L))
    val kept = Curation.decontaminate(corpus, "id", "text", bench, "text")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(3L))
  }

  test("packGreedy matches an in-memory greedy reference; oversized docs get own packs") {
    import graft.ops.Curation
    val p = Dedup.MersenneP
    val rnd = new scala.util.Random(7)
    // sizes straddle the capacity: some oversized (> 100), some tiny
    val rows = (0L until 300L).map(id => (id, 1L + rnd.nextInt(140).toLong))
    val got = Curation.packGreedy(rows.toDF("id", "toks"), "id", "toks",
        capacity = 100L, streams = 5)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // reference: same affine stream/order assignment, sequential greedy fold
    val expect = rows.groupBy { case (id, _) => ((id * 1103515245L + 12345L) % p % 5L).toInt }
      .flatMap { case (stream, docs) =>
        val ordered = docs.sortBy { case (id, _) => ((id * 1234567891L + 987654321L) % p, id) }
        var used = 0L; var seq = -1L; var pos = -1L
        ordered.map { case (id, toks) =>
          if (seq < 0 || used + toks > 100L) { seq += 1; used = 0L; pos = -1L }
          used += toks; pos += 1
          id -> ((stream, seq, pos, toks))
        }
      }
    assert(got == expect)
    // a doc larger than capacity is alone in its pack
    val oversized = rows.filter(_._2 > 100L).map(_._1).toSet
    assert(oversized.nonEmpty)
    val byPack = got.toSeq.groupBy { case (_, (st, seq, _, _)) => (st, seq) }
    for (id <- oversized) {
      val (st, seq, _, _) = got(id)
      assert(byPack((st, seq)).size == 1, s"oversized doc $id shared a pack")
    }
    // exact fit stays in the pack (boundary is strict >)
    val fit = Curation.packGreedy(Seq((1L, 60L), (2L, 40L)).toDF("id", "toks"),
      "id", "toks", capacity = 100L, streams = 1).collect()
    assert(fit.map(_.getLong(2)).distinct.length == 1) // one pack_seq
  }

  test("kmvDistinct: exact below k, calibrated estimate above k") {
    import graft.ops.Sketches
    val hashUdf = udf((s: String) => Dedup.polyHash(s))
    // group 'small': 10 distinct values (< k) → exact; 'big': 3000 distinct
    val rows = (1 to 10).map(i => ("small", s"v$i")) ++
      (1 to 9000).map(i => ("big", s"w${i % 3000}"))
    val out = Sketches.kmvDistinct(
        rows.toDF("g", "v").select($"g", hashUdf($"v").as("h")), "g", $"h", k = 64)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(out("small") == ((10L, 10.0)))
    val (kept, est) = out("big")
    assert(kept == 64L)
    assert(math.abs(est - 3000.0) / 3000.0 < 0.3, s"estimate $est off >30% from 3000")
  }

  test("WebOps: host, registrable domain (multi-part suffixes), path depth") {
    import graft.ops.WebOps
    val urls = Seq(
      "https://www.Example.COM/a/b/c?q=1",
      "http://user:pw@news.bbc.co.uk:8080/x",
      "https://example.com",
      "https://shop.example.com.au/p/",
      "ftp://cdn.example.net/#frag",
      "not a url")
    val out = urls.toDF("url").select(
      WebOps.urlHost($"url").as("h"),
      WebOps.registrableDomain(WebOps.urlHost($"url")).as("d"),
      WebOps.pathDepth($"url").as("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(out(0) == (("www.example.com", "example.com", 3)))
    assert(out(1) == (("news.bbc.co.uk", "bbc.co.uk", 1)))
    assert(out(2) == (("example.com", "example.com", 0)))
    assert(out(3) == (("shop.example.com.au", "example.com.au", 1)))
    assert(out(4) == (("cdn.example.net", "example.net", 0)))
    assert(out(5) == (("", "", 0)))
  }

  test("chunkTokens: overlap arithmetic, single-chunk short docs, exact boundaries") {
    import graft.ops.TextOps
    val toks = (1 to 100).map("t" + _)
    val df = Seq(Tuple1(toks)).toDF("ws")
      .select(explode(TextOps.chunkTokens($"ws", 40, 8)).as("c"))
      .select($"c.chunk_idx", $"c.n_tokens", $"c.chunk_text")
    val rows = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
    // stride 32: starts 0,32,64 → ceil((100-40)/32)+1 = 3 chunks
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2))
    assert(rows.map(_._2).toSeq == Seq(40L, 40L, 36L))
    assert(rows(0)._3.startsWith("t1 t2 ") && rows(0)._3.endsWith(" t40"))
    assert(rows(1)._3.startsWith("t33 ") && rows(1)._3.endsWith(" t72")) // 8-token overlap
    assert(rows(2)._3.startsWith("t65 ") && rows(2)._3.endsWith(" t100"))
    // short doc → exactly one chunk, exact-boundary doc (40 tokens) → one chunk
    for (n <- Seq(5, 40)) {
      val one = Seq(Tuple1((1 to n).map("x" + _))).toDF("ws")
        .select(explode(TextOps.chunkTokens($"ws", 40, 8)).as("c")).collect()
      assert(one.length == 1)
    }
  }

  test("multimodal: decode round-trips header, malformed rows are error-data, frames sample") {
    val media = Multimodal.mediaDs(spark, 60L)
    val feats = Multimodal.decodeFeatures(media).collect()
    assert(feats.length == 60)
    val bad = feats.filter(!_.decoded_ok)
    assert(bad.nonEmpty && bad.forall(f => f.n_bytes == 0)) // malformed slice, no exceptions
    val ok = feats.filter(_.decoded_ok)
    assert(ok.forall(f => math.abs(f.histogram.sum - 1.0) < 1e-9)) // L1-normalized
    val frames = Multimodal.sampleFrames(media).collect()
    assert(frames.nonEmpty)
    // real-AVI slice (video, i%4==2): frames are true JPEGs at stride 2;
    // fake-codec videos chop the body into 64-byte pseudo-frames
    val realVid = (0L until 60L).filter(i => i % 3 == 2 && i % 4 == 2 && i % 23 != 13).toSet
    val (rf, ff) = frames.partition(f => realVid.contains(f.media_id))
    assert(ff.forall(_.frame_bytes.length == 64))
    assert(rf.nonEmpty && rf.forall(f => graft.codec.Jpeg.isJpeg(f.frame_bytes)))
    assert(rf.forall(_.frame_idx % 2 == 0))
    val id14 = rf.filter(_.media_id == 14L)
    assert(id14.length == (8 + 14 % 5 + 1) / 2) // ceil(nFrames / stride)
    // deterministic: regenerate → identical features
    val again = Multimodal.decodeFeatures(Multimodal.mediaDs(spark, 60L)).collect()
    assert(feats.map(_.mean_byte).toSeq == again.map(_.mean_byte).toSeq)
    // the REAL-codec slices: id 12 (image, i%4==0) is an actual JPEG whose
    // features are true pixel stats (n_bytes = decoded w*h, not payload
    // length); id 25 (audio, i%4==1) is an actual PCM WAV (512 samples)
    val rows = media.collect()
    val jpegRow = rows.find(_.media_id == 12L).get
    assert(graft.codec.Jpeg.isJpeg(jpegRow.payload))
    val f12 = feats.find(_.media_id == 12L).get
    assert(f12.decoded_ok && f12.n_bytes == jpegRow.meta.width * jpegRow.meta.height)
    val wavRow = rows.find(_.media_id == 25L).get
    assert(graft.codec.Wav.isWav(wavRow.payload))
    val f25 = feats.find(_.media_id == 25L).get
    assert(f25.decoded_ok && f25.n_bytes == (256 + (25 % 7) * 64) * 2)
  }

  test("multimodal summary query returns one row per modality") {
    val rows = Multimodal.featureSummary(spark, 300L).collect()
    assert(rows.map(_.getString(0)).toSet == Set("image", "audio", "video"))
  }

  test("classifierLogit: fixed-order dot product over the rounded features") {
    // "the cat sat on the mat": 6 words, 22 chars, mwl=round(22/6,4)=3.6667,
    // punct=0, upper=0 → logit = round(-2.2 + (6/500)*3 + 3.6667*0.35, 6)
    val df = Seq(
      (1L, "the cat sat on the mat"),
      (2L, ("w " * 599).trim),          // 599 1-char words: long + clean → keep
      (3L, "!! ?? !! ?? !! ?? !! ??")   // punctuation soup → strongly negative
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id", TextOps.classifierLogit($"text").as("logit"))
      .withColumn("keep", $"logit" >= 0d)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    val expected1 = BigDecimal(-2.2 + (6d / 500d) * 3.0 + 3.6667 * 0.35)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._1 == expected1 && !out(1L)._2)
    assert(out(2L)._2, s"long clean doc must pass: ${out(2L)}")
    assert(out(3L)._1 < -5d && !out(3L)._2, s"soup must fail hard: ${out(3L)}")
  }

  test("dupPassageStats: identical docs fully duplicated, unique doc untouched") {
    import graft.ops.Curation
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"), // verbatim mirror of 1
      (3L, "z y x w v u t s"), // unique
      (4L, "a b c d e q r s t")// shares exactly its first 5-gram with 1/2
    ).toDF("doc_id", "text")
    val out = Curation.dupPassageStats(df, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((4L, 4L, 1.0))) // 8 words → 4 shingles, all shared with doc 2
    assert(out(2L) == ((4L, 4L, 1.0)))
    assert(out(3L) == ((4L, 0L, 0.0)))
    assert(out(4L) == ((5L, 1L, 0.2))) // 9 words → 5 shingles, one ("a b c d e") shared
  }

  test("dedupParagraphs: first corpus-wide occurrence survives, docs reassemble in order") {
    import graft.ops.Curation
    val df = Seq(
      (1L, "alpha one\nshared banner\nalpha two"),
      (2L, "shared banner\nbeta one\n\nbeta two"), // banner repeat + empty line
      (3L, "shared banner")                        // nothing unique → disappears
    ).toDF("doc_id", "text")
    val out = Curation.dedupParagraphs(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("alpha one\nshared banner\nalpha two", 3L)))
    assert(out(2L) == (("beta one\nbeta two", 2L))) // banner deduped, blank dropped
    assert(!out.contains(3L))
  }

  test("snapshotDelta classifies added/removed/changed/unchanged by digest") {
    import graft.ops.Curation
    val oldSnap = Seq(("u1", "d1"), ("u2", "d2"), ("u3", "d3")).toDF("url", "dg")
    val newSnap = Seq(("u2", "d2"), ("u3", "d3x"), ("u4", "d4")).toDF("url", "dg")
    val out = Curation.snapshotDelta(oldSnap, newSnap, "url", "dg")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("u1" -> "removed", "u2" -> "unchanged",
      "u3" -> "changed", "u4" -> "added"))
  }

  test("bm25Scores: closed-form score on a 2-doc corpus, absent docs omitted") {
    import graft.ops.Retrieval
    val corpus = Seq(
      (1L, "data data model"),        // tf(data)=2, dl=3
      (2L, "data pipeline and more"), // tf(data)=1, dl=4
      (3L, "nothing relevant here")   // no query term -> omitted
    ).toDF("doc_id", "text")
    val out = Retrieval.bm25Scores(corpus, "doc_id", "text", Seq("data"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L)._1 == 1 && out(2L)._1 == 1)
    // closed form (unrounded; the op rounds idf/score to 6dp, so compare
    // with 2e-6 slack): N=3, df=2, idf=ln(1+(3-2+0.5)/2.5), avgdl=10/3
    val idf = math.log(1.0 + 1.5 / 2.5)
    def s(tf: Long, dl: Long): Double = {
      val avgdl = 10.0 / 3.0
      idf * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    }
    assert(math.abs(out(1L)._2 - s(2, 3)) < 2e-6, out(1L).toString)
    assert(math.abs(out(2L)._2 - s(1, 4)) < 2e-6, out(2L).toString)
    // more occurrences at equal length rank higher
    assert(out(1L)._2 > out(2L)._2)
  }

  test("lmNegLogLik: reference-like text scores lower than junk; alpha floors unseen") {
    import graft.ops.Retrieval
    val ref = Seq((100L, "the cat sat on the mat"), (101L, "the cat ran on the mat"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the cat sat on the mat"),   // every bigram seen in ref
      (2L, "zz qq xx vv ww yy"),        // no bigram or unigram seen
      (3L, "x")                          // < 2 tokens -> omitted
    ).toDF("doc_id", "text")
    val out = Retrieval.lmNegLogLik(corpus, "doc_id", "text", ref, "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L)._1 == 5 && out(2L)._1 == 5)
    // reference-like text is far more probable than unseen junk
    assert(out(1L)._3 < out(2L)._3)
    // unseen-everything logprob = -ln(alpha / (alpha * V)); V = 6 ('the'
    // 'cat' 'sat' 'ran' 'on' 'mat'), so each bigram costs ~ln(6)
    assert(math.abs(out(2L)._3 - math.log(6.0)) < 2e-6, out(2L).toString)
  }

  test("pageRank: symmetric cycle is uniform, star center dominates, mass conserved") {
    import graft.ops.Graph
    // 2-cycle: perfectly symmetric, both nodes stay at 1/2
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val rc = Graph.pageRank(cyc, "src", "dst", iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rc(1L) == 500000L && rc(2L) == 500000L, rc.toString)
    // star: spokes all point at the hub; hub links back to spoke 2. The
    // 9<->2 loop oscillates with period 2 (undamped until convergence),
    // so assert only phase-stable facts: both loop members dominate the
    // pure spokes (base-rank only), and symmetric spokes tie exactly.
    val star = Seq((1L, 9L), (2L, 9L), (3L, 9L), (9L, 2L)).toDF("src", "dst")
    val rs = Graph.pageRank(star, "src", "dst", iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rs(9L) > rs(1L) && rs(2L) > rs(1L), rs.toString)
    assert(rs(1L) == rs(3L)) // symmetric spokes tie exactly
    assert(rs(1L) == 37500L) // pure spoke = base rank floor(0.15e6/4 + 0.5)
    // no dangling nodes here: the 1e6-micro-unit total mass is conserved
    // up to one rounding unit per (node, iteration)
    val total = rs.values.sum
    assert(math.abs(total - 1000000L) <= 50L, s"mass drifted: $total")
  }

  test("orderedFunnel: strict order enforced, first-opportunity frontier, monotone counts") {
    import graft.ops.Temporal
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      // user 1 converts fully in order
      (1L, t("2024-01-01 10:00:00"), "signup"), (1L, t("2024-01-01 11:00:00"), "view"),
      (1L, t("2024-01-01 12:00:00"), "click"), (1L, t("2024-01-01 13:00:00"), "purchase"),
      // user 2: view BEFORE signup only -> stops at signup
      (2L, t("2024-01-02 09:00:00"), "view"), (2L, t("2024-01-02 10:00:00"), "signup"),
      // user 3: signup+view, click equal-time to view (NOT strictly after)
      (3L, t("2024-01-03 10:00:00"), "signup"), (3L, t("2024-01-03 11:00:00"), "view"),
      (3L, t("2024-01-03 11:00:00"), "click"),
      // user 4 never signs up
      (4L, t("2024-01-04 10:00:00"), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val r = Temporal.orderedFunnel(df, "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"))
      .collect().map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r == Map(1L -> ("signup", 3L), 2L -> ("view", 2L),
      3L -> ("click", 1L), 4L -> ("purchase", 1L)), r.toString)
  }

  test("retentionCohorts: min-day cohorting, distinct users per offset, no false offsets") {
    import graft.ops.Temporal
    import java.sql.Timestamp
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 15:00:00")), // same day twice -> one distinct
      (1L, Timestamp.valueOf("2024-01-03 09:00:00")),
      (2L, Timestamp.valueOf("2024-01-01 08:00:00")),
      (3L, Timestamp.valueOf("2024-01-02 12:00:00"))
    ).toDF("user_id", "ts")
    val r = Temporal.retentionCohorts(df, "user_id", "ts")
      .collect().map(x => (x.getDate(0).toString, x.getLong(1)) -> x.getLong(2)).toMap
    assert(r == Map(("2024-01-01", 0L) -> 2L, ("2024-01-01", 2L) -> 1L,
      ("2024-01-02", 0L) -> 1L), r.toString)
  }

  test("datasetCard: exact counts, dup rate from whole-text digests") {
    import graft.ops.Curation
    val df = Seq(
      (1L, "alpha beta", "s1", "en"),
      (2L, "alpha beta", "s1", "en"),  // exact dup text
      (3L, "gamma", "s2", "de"),
      (4L, "delta eps zeta", "s1", "en")
    ).toDF("doc_id", "text", "source", "lang")
    val r = Curation.datasetCard(df, "doc_id", "text", "source", "lang").collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L && r.getLong(2) == 2L, r.toString)
    assert(r.getLong(3) == 3L, r.toString)                 // unique texts
    assert(r.getLong(4) == 2L + 2L + 1L + 3L)              // tokens
    assert(r.getLong(6) == 1L * 1000000L / 4L, r.toString) // dup rate 25%
  }

  test("lexicalDiversity: exact TTR ladder, repetition reads low, short-doc edges") {
    import graft.ops.TextOps
    val df = Seq(
      (1L, "a b a b a b"),     // unigrams 6/2; bigrams 5/2; trigrams 4/2
      (2L, "w x y z"),         // fully diverse: 4/4, 3/3, 2/2
      (3L, "solo")             // 1 word: bigrams/trigrams empty
    ).toDF("doc_id", "text")
    val r = TextOps.lexicalDiversity(df, "doc_id", "text")
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(r((1L, 1L)) == ((6L, 2L, 333333L)), r.toString)
    assert(r((1L, 2L)) == ((5L, 2L, 400000L)), r.toString)
    assert(r((1L, 3L)) == ((4L, 2L, 500000L)), r.toString)
    assert(r((2L, 1L)) == ((4L, 4L, 1000000L)) && r((2L, 3L)) == ((2L, 2L, 1000000L)))
    assert(r((3L, 2L)) == ((0L, 0L, 0L)) && r((3L, 3L)) == ((0L, 0L, 0L)))
  }

  test("clusterDispersion: tight cluster reads smaller than diffuse, exact integers") {
    import graft.ops.Clustering
    val df = Seq(
      ("tight", Array(0.0f, 0.0f)), ("tight", Array(0.0f, 0.0f)),
      ("wide", Array(0.0f, 0.0f)), ("wide", Array(1.0f, 1.0f))
    ).toDF("key", "embedding")
    val r = Clustering.clusterDispersion(df, "key", "embedding")
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r("tight") == ((2L, 0L)), r.toString)
    // wide centroid = (5e5, 5e5); each point at sq dist 2 * (5e5)^2 = 5e11
    assert(r("wide") == ((2L, 500000000000L)), r.toString)
  }

  test("centroidSimilarity: identical keys cosine 1.0, orthogonal keys 0, exact micro") {
    import graft.ops.Clustering
    val df = Seq(
      ("a", Array(1.0f, 0.0f)), ("a", Array(1.0f, 0.0f)),
      ("b", Array(1.0f, 0.0f)),                   // same centroid as a
      ("c", Array(0.0f, 1.0f)),                   // orthogonal
      ("d", Array(1.0f, 1.0f))                    // 45 degrees
    ).toDF("key", "embedding")
    val r = Clustering.centroidSimilarity(df, "key", "embedding")
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    assert(r(("a", "b")) == 1000000L, r.toString)
    assert(r(("a", "c")) == 0L && r(("b", "c")) == 0L, r.toString)
    // cos 45° = 0.7071067811865476 -> floor(707106.78 + 0.5) = 707107
    assert(r(("a", "d")) == 707107L, r.toString)
    assert(r.size == 6)
  }

  test("codeLineStats: indent/comment/keyword/brace lines flagged, prose is not") {
    import graft.ops.TextOps
    val df = Seq(
      (1L, "plain prose line\nanother ordinary sentence"),
      (2L, "def main() {\n    return 42;\n}\n// done\nprose between\t"),
      (3L, "> quoted reply\n# heading or comment\nimport os")
    ).toDF("doc_id", "text")
    val r = TextOps.codeLineStats(df, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) == ((2L, 0L, 0L)), r.toString)
    assert(r(2L) == ((5L, 4L, 800000L)), r.toString)
    assert(r(3L) == ((3L, 3L, 1000000L)), r.toString)
  }

  test("outlinkStats: anchored extraction, case-folded hosts, heaviest-host count") {
    import graft.ops.TextOps
    val df = Seq(
      (1L, "plain text with no links at all"),
      (2L, "see http://a.example/x and https://A.Example/y plus http://b.org/z"),
      (3L, "scheme-less www.c.com is not counted; ftp://d.io neither")
    ).toDF("doc_id", "text")
    val r = TextOps.outlinkStats(df, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) == ((0L, 0L, 0L)), r.toString)
    assert(r(2L) == ((3L, 2L, 2L)), r.toString) // a.example twice (case-folded), b.org once
    assert(r(3L) == ((0L, 0L, 0L)), r.toString)
  }

  test("inlinkStats: host-side inversion — totals, distinct docs, heaviest doc") {
    import graft.ops.TextOps
    val df = Seq(
      (1L, "http://a.example/x then http://A.Example/y twice from one doc"),
      (2L, "see https://a.example/z and http://b.org/"),
      (3L, "no links here")
    ).toDF("doc_id", "text")
    val r = TextOps.inlinkStats(df, "doc_id", "text")
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r == Map(
      "a.example" -> ((3L, 2L, 2L)), // 3 refs, 2 docs, doc 1 carries 2
      "b.org" -> ((1L, 1L, 1L))), r.toString)
  }

  test("stitchPairs: tail-of-src equals head-of-dst, short docs excluded, no self-pairs") {
    import graft.ops.Dedup
    val boundary = "one two three four five six"
    val df = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta eta theta $boundary"),
      (2L, s"$boundary plus plenty of other following words here"),
      (3L, boundary) // 6 tokens < 2k: head and tail would overlap — excluded
    ).toDF("doc_id", "text")
    val r = Dedup.stitchPairs(df, "doc_id", "text", k = 6)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq((1L, 2L, Dedup.polyHash(boundary))), r.mkString(","))
  }

  test("dsirRelevance: target-like docs outscore off-target docs, formula exact") {
    import graft.ops.{Dedup, Retrieval}
    val B = 64
    val rows = Seq(
      (1L, "t", "alpha beta alpha beta"),
      (2L, "r", "alpha beta alpha beta"), // raw doc that looks like the target
      (3L, "r", "gamma delta gamma delta"),
      (4L, "r", "alpha beta gamma delta"))
    val r = Retrieval.dsirRelevance(rows.toDF("doc_id", "source", "text"),
        "doc_id", "source", "text", targetSource = "t", buckets = B)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    // independent recompute of the exact integer formula
    val toks = rows.flatMap { case (id, src, tx) =>
      tx.split("\\s+").map(w => (id, src, Dedup.polyHash(w) % B)) }
    val ct = toks.filter(_._2 == "t").groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val cr = toks.filter(_._2 != "t").groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val (nt, nr) = (ct.values.sum, cr.values.sum)
    def ratio(b: Long) = {
      val pt = (ct.getOrElse(b, 0L) + 1) * 1000000L / (nt + B)
      val pr = (cr.getOrElse(b, 0L) + 1) * 1000000L / (nr + B)
      pt * 1000000L / math.max(pr, 1L)
    }
    val expected = toks.groupBy(_._1).view.mapValues { ts =>
      (ts.size.toLong, ts.map(t => ratio(t._3)).sum / ts.size) }.toMap
    assert(r == expected, s"$r vs $expected")
    assert(r(2L)._2 > r(3L)._2, "target-like raw doc must outscore off-target")
    assert(r(4L)._2 > r(3L)._2 && r(4L)._2 < r(2L)._2, "mixed doc in between")
  }

  test("interArrival: ts+seq total order, exact mean and type-1 p95") {
    import graft.ops.Temporal
    val df = Seq(
      (1L, "2024-01-01 00:00:00", 1L),
      (1L, "2024-01-01 00:00:10", 2L),
      (1L, "2024-01-01 00:00:10", 3L), // tie broken by seq -> 0-gap
      (1L, "2024-01-01 00:01:00", 4L),
      (2L, "2024-01-01 05:00:00", 5L)  // single event: no gaps, no row
    ).toDF("u", "ts_s", "eid").withColumn("ts", to_timestamp(col("ts_s")))
    val r = Temporal.interArrival(df, "u", "ts", "eid", p = 95)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    // gaps: 10s, 0s, 50s -> min 0, mean 20s, p95 rank (95*3+99)//100 = 3 -> 50s
    assert(r.toSeq == Seq((1L, 3L, 0L, 20000000L, 50000000L)), r.mkString(","))
  }

  test("wordpieceFertility: per-key words/pieces/UNKs and exact micro rates") {
    import graft.ops.TextOps
    val vocab = Seq("a", "b", "ab", "##a", "##b")
    val df = Seq(
      (1L, "s1", "ab ab"),      // each 'ab' = 1 piece (longest match)
      (2L, "s2", "aba Q")       // 'aba' = ab + ##a = 2 pieces; 'Q' = UNK
    ).toDF("doc_id", "source", "text")
    val r = TextOps.wordpieceFertility(df, "source", "text", vocab)
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))).toMap
    assert(r == Map(
      "s1" -> ((2L, 2L, 0L, 1000000L, 0L)),
      "s2" -> ((2L, 3L, 1L, 1500000L, 500000L))), r.toString)
  }

  test("giniByKey: uniform key reads 0, single-holder key reads (n-1)/n") {
    import graft.ops.Curation
    val df = Seq(
      ("a", 5L), ("a", 5L), ("a", 5L), ("a", 5L),
      ("b", 0L), ("b", 0L), ("b", 0L), ("b", 4L)
    ).toDF("source", "x")
    val r = Curation.giniByKey(df, "source", "x")
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r == Map(
      "a" -> ((4L, 20L, 0L)),      // all equal -> 0
      "b" -> ((4L, 4L, 750000L))), // one holder of 4 -> (n-1)/n = 0.75
      r.toString)
  }

  test("spearmanByKey: +1 on agreement, -1 on reversal, sub-2 keys dropped") {
    import graft.ops.Curation
    val df = Seq(
      ("a", 1L, 10L, 100L), ("a", 2L, 20L, 200L), ("a", 3L, 30L, 300L), // agree
      ("b", 1L, 10L, 300L), ("b", 2L, 20L, 200L), ("b", 3L, 30L, 100L), // reversed
      ("c", 1L, 5L, 5L) // n = 1: rho undefined, dropped
    ).toDF("source", "doc_id", "x", "y")
    val r = Curation.spearmanByKey(df, "source", "x", "y", "doc_id")
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r == Map(
      "a" -> ((3L, 0L, 1000000L)),
      "b" -> ((3L, 8L, -1000000L))), r.toString)
  }

  test("clusterSizeProfile: size histogram with exact micro shares") {
    import graft.ops.Curation
    val members = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 40L), (5L, 40L), (6L, 60L))
      .toDF("id", "comp")
    val r = Curation.clusterSizeProfile(members, "comp")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r == Map(
      3L -> ((1L, 3L, 500000L)),
      2L -> ((1L, 2L, 333333L)),
      1L -> ((1L, 1L, 166666L))), r.toString)
  }

  test("canonicalDedup: declared canonicals group, undeclared pages key on themselves") {
    import graft.ops.Curation
    val df = Seq(
      ("http://a.example/p?utm=1", "http://a.example/p"),
      ("http://a.example/p/amp", "http://a.example/p"),
      ("http://a.example/p", "http://a.example/p"),
      ("http://b.example/solo", ""), // no declaration: own key
      ("http://c.example/x", null.asInstanceOf[String])
    ).toDF("url", "canonical")
    val r = Curation.canonicalDedup(df, "url", "canonical")
      .collect().map(x => x.getString(0) -> ((x.getString(1), x.getLong(2)))).toMap
    assert(r == Map(
      "http://a.example/p" -> (("http://a.example/p", 3L)),
      "http://b.example/solo" -> (("http://b.example/solo", 1L)),
      "http://c.example/x" -> (("http://c.example/x", 1L))), r.toString)
  }

  test("soft404Signals: title hits, body-hit arithmetic, short-body path") {
    import graft.ops.WebOps
    val df = Seq(
      (1, "Error 404 - Page Not Found", "gone"),
      (2, "Home", "The page you requested does not exist. Please check the URL."),
      (3, "Home", "Sorry, this content is no longer available."),
      (4, "Home", ("word " * 50) + "this page does not exist"),
      (5, "Docs", "a perfectly fine article about spark internals")
    ).toDF("id", "title", "text")
    val r = df.select($"id", WebOps.soft404Signals($"title", $"text").as("s"))
      .select($"id", $"s.n_title_hits", $"s.n_body_hits", $"s.short_body", $"s.soft404")
      .collect().map(x => x.getInt(0) ->
        ((x.getLong(1), x.getLong(2), x.getBoolean(3), x.getBoolean(4)))).toMap
    assert(r(1) == ((3L, 0L, true, true)), r(1).toString)   // "404" + "page not found" + "not found"
    assert(r(2) == ((0L, 2L, true, true)), r(2).toString)   // two body phrases
    assert(r(3) == ((0L, 1L, true, true)), r(3).toString)   // one body phrase + short
    assert(r(4) == ((0L, 1L, false, false)), r(4).toString) // one body phrase, long: kept
    assert(r(5) == ((0L, 0L, true, false)), r(5).toString)  // short alone never flags
  }

  test("fixMojibake: repairs double-encoding, leaves clean/accented/CJK text alone") {
    import graft.ops.TextOps.fixMojibakeKernel
    assert(fixMojibakeKernel("CafÃ© said â€™okâ€™")
      == "Café said ’ok’")           // Ã© → é, â€™ → ’
    assert(fixMojibakeKernel("plain ascii stays") == "plain ascii stays")
    assert(fixMojibakeKernel("café au lait") == "café au lait") // real é: not valid UTF-8 bytes
    assert(fixMojibakeKernel("中文 text") == "中文 text") // outside cp1252: untouched
    assert(fixMojibakeKernel(null) == null)
  }

  test("robotsDisallowKernel: star-group selection, consecutive UAs, rules close groups") {
    import graft.ops.WebOps.robotsDisallowKernel
    assert(robotsDisallowKernel(
      "User-agent: googlebot\nDisallow: /\n\nUser-agent: *\nDisallow: /private # comment\nDisallow: /tmp\n")
      .toSeq == Seq("/private", "/tmp"))
    assert(robotsDisallowKernel("User-agent: *\nUser-agent: bingbot\nDisallow: /a\n")
      .toSeq == Seq("/a"))
    // a User-agent AFTER rules opens a NEW group — star's rules end there
    assert(robotsDisallowKernel("User-agent: *\nDisallow: /a\nUser-agent: bingbot\nDisallow: /b\n")
      .toSeq == Seq("/a"))
    assert(robotsDisallowKernel("User-agent: *\nDisallow:\n").toSeq == Seq.empty)
    assert(robotsDisallowKernel("User-agent: googlebot\nDisallow: /x\n").toSeq == Seq.empty)
    assert(robotsDisallowKernel(null).toSeq == Seq.empty)
  }

  test("robotsDisallowed: prefix gate over a broadcast rules table, absent hosts allowed") {
    import graft.ops.WebOps
    val pages = Seq(
      "http://a.example/private/1", "http://a.example/pub/2",
      "http://b.example/private/3", "http://c.example/anything"
    ).toDF("url")
    val robots = Seq(
      ("a.example", "User-agent: *\nDisallow: /private\n"),
      ("b.example", "User-agent: googlebot\nDisallow: /\n")
    ).toDF("host", "robots_txt")
    val r = WebOps.robotsDisallowed(pages, "url", robots, "host", "robots_txt")
      .collect().map(x => x.getString(0) -> x.getBoolean(3)).toMap
    assert(r == Map(
      "http://a.example/private/1" -> true,
      "http://a.example/pub/2" -> false,
      "http://b.example/private/3" -> false, // no star group on b
      "http://c.example/anything" -> false), r.toString) // no robots row
  }

  test("qualityScoreMicro: hand-computed integer scores") {
    import graft.ops.TextOps
    val r = Seq(
      (1, "aa bb cc"),                    // 60000 + 500000 + 1000000 = 1560000 / 3
      (2, Seq.fill(60)("word").mkString(" ")), // capped + ok + ok = 3000000 / 3
      (3, "!!!!!!!!!! words")             // 40000 + 1000000 + 500000 = 1540000 / 3
    ).toDF("id", "t")
      .select($"id", TextOps.qualityScoreMicro($"t").as("q"))
      .collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
    assert(r == Map(1 -> 520000L, 2 -> 1000000L, 3 -> 513333L), r.toString)
  }

  test("domainQualityGate: floor means, thin domains fail the evidence bar") {
    import graft.ops.Curation
    val scored = (Seq.fill(12)(("d1", 900000L)) ++ Seq.fill(12)(("d2", 700000L))
      ++ Seq.fill(5)(("d3", 999999L)) ++ Seq(("d4", 1L), ("d4", 2L)))
      .toDF("domain", "q")
    val r = Curation.domainQualityGate(scored, "domain", "q", 800000L, minDocs = 10L)
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getBoolean(3)))).toMap
    assert(r == Map(
      "d1" -> ((12L, 900000L, true)),
      "d2" -> ((12L, 700000L, false)),  // mean below the bar
      "d3" -> ((5L, 999999L, false)),   // too thin to judge
      "d4" -> ((2L, 1L, false))), r.toString) // floor(3/2) = 1
  }

  test("TemplateShape: tag sequence ignores text/attrs/comments, groups templates") {
    import graft.extract.TemplateShape
    assert(TemplateShape.shapeKernel(
      "<html><head><title>A B</title></head><body class=\"x\"><!-- c --><p>one</p><p>two</p></body></html>")
      == "html,head,title,body,p,p")
    assert(TemplateShape.shapeKernel(null) == "")
    val df = Seq(
      (1L, "<div><p>a</p></div>"),
      (2L, "<div><p>completely different words</p></div>"),
      (3L, "<div><span>b</span></div>")).toDF("id", "html")
    val r = TemplateShape.templateProfile(df, "id", "html")
      .collect().map(x => (x.getLong(1), x.getLong(2))).toSet
    assert(r == Set((2L, 1L), (1L, 3L)), r.toString)
  }

  test("reciprocity: mutual pairs counted, self-loops and multi-edges ignored") {
    import graft.ops.Graph
    val edges = Seq(
      (1L, 2L), (2L, 1L),           // mutual pair
      (1L, 3L),                     // one-way
      (1L, 3L),                     // multi-edge: collapses
      (3L, 3L),                     // self-loop: dropped
      (4L, 1L)                      // one-way into 1
    ).toDF("src", "dst")
    val r = Graph.reciprocity(edges, "src", "dst")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r == Map(
      1L -> ((2L, 1L, 500000L)),  // out: →2 (reciprocated), →3
      2L -> ((1L, 1L, 1000000L)),
      4L -> ((1L, 0L, 0L))), r.toString)
  }

  test("metaHarvest: title entities decoded, first canonical wins, body stops the scan") {
    import graft.extract.MetaHarvest
    val m = MetaHarvest.harvest(
      """<html lang="en-GB"><head>
        |<title>Fish &amp; Chips</title>
        |<link rel="canonical" href="http://c.example/1">
        |<link rel="canonical" href="http://c.example/IGNORED">
        |<meta name="robots" content="NOINDEX, nofollow">
        |<meta name="description" content="a dish">
        |</head><body><title>not this</title>
        |<link rel="canonical" href="http://late.example/x"></body></html>""".stripMargin)
    assert(m == graft.extract.PageMeta(
      "Fish & Chips", "http://c.example/1", "a dish", "en-GB", noindex = true), m.toString)
    assert(MetaHarvest.harvest("<p>no head at all</p>") ==
      graft.extract.PageMeta("", "", "", "", noindex = false))
  }

  test("harvestExt: date priority + fall-through, refresh parse variants, hreflang") {
    import graft.extract.MetaHarvest
    // meta beats jsonld beats time
    val all = MetaHarvest.harvestExt(
      """<html><head><meta property="article:published_time" content="2026-01-02T00:00:00Z">
        |<meta http-equiv="REFRESH" content="0;URL='http://t.example/x'">
        |<link rel="alternate" hreflang="FR" href="http://h/fr">
        |</head><body><script type="application/ld+json">{"datePublished":"2025-05-05"}</script>
        |<time datetime="2024-01-01">x</time></body></html>""".stripMargin)
    assert(all.pubSrc == "meta" && all.pubDate == "2026-01-02")
    assert(all.refreshDelay == 0L && all.refreshUrl == "http://t.example/x")
    assert(all.alternates == Seq(MetaHarvest.AltLink("fr", "http://h/fr")))
    // invalid meta falls through to jsonld; then to time; then none
    val ld = MetaHarvest.harvestExt(
      """<meta property="article:published_time" content="yesterday">
        |<script type="application/ld+json">{"datePublished":"2025-05-05T01:00:00"}</script>
        |<time datetime="2024-01-01">""".stripMargin)
    assert(ld.pubSrc == "jsonld" && ld.pubDate == "2025-05-05")
    val t = MetaHarvest.harvestExt("""<time datetime=" 2024-02-29 ">""")
    assert(t.pubSrc == "time" && t.pubDate == "2024-02-29")
    assert(MetaHarvest.harvestExt("""<time datetime="2024-13-01">""").pubSrc == "none")
    assert(MetaHarvest.harvestExt("""<time datetime="2024-1-01">""").pubSrc == "none")
    // refresh without url, unparsable delay, bare form
    assert(MetaHarvest.harvestExt(
      """<meta http-equiv="refresh" content="30">""").refreshDelay == 30L)
    assert(MetaHarvest.harvestExt(
      """<meta http-equiv="refresh" content="soon">""").refreshDelay == -1L)
    assert(MetaHarvest.harvestExt(
      """<meta http-equiv="refresh" content="5 ; Url=/next">""").refreshUrl == "/next")
    // og first-occurrence-wins
    val og = MetaHarvest.harvestExt(
      """<meta property="og:title" content="first"><meta property="og:title" content="second">""")
    assert(og.ogTitle == "first")
    assert(MetaHarvest.harvestExt(null).pubSrc == "")
  }

  test("resolveUrlKernel: the full RFC 3986 §5.4 example table (normal + abnormal)") {
    import graft.ops.WebOps.resolveUrlKernel
    val base = "http://a/b/c/d;p?q"
    val cases = Seq(
      "g" -> "http://a/b/c/g", "./g" -> "http://a/b/c/g", "g/" -> "http://a/b/c/g/",
      "/g" -> "http://a/g", "//g" -> "http://g", "?y" -> "http://a/b/c/d;p?y",
      "g?y" -> "http://a/b/c/g?y", "#s" -> "http://a/b/c/d;p?q#s",
      "g#s" -> "http://a/b/c/g#s", ";x" -> "http://a/b/c/;x",
      "g;x" -> "http://a/b/c/g;x", "g;x?y#s" -> "http://a/b/c/g;x?y#s",
      "" -> "http://a/b/c/d;p?q", "." -> "http://a/b/c/", "./" -> "http://a/b/c/",
      ".." -> "http://a/b/", "../" -> "http://a/b/", "../g" -> "http://a/b/g",
      "../.." -> "http://a/", "../../" -> "http://a/", "../../g" -> "http://a/g",
      // abnormal (§5.4.2): excess ../ clamps, dot-prefixed names survive
      "../../../g" -> "http://a/g", "../../../../g" -> "http://a/g",
      "/./g" -> "http://a/g", "/../g" -> "http://a/g", "g." -> "http://a/b/c/g.",
      ".g" -> "http://a/b/c/.g", "g.." -> "http://a/b/c/g..",
      "..g" -> "http://a/b/c/..g", "./../g" -> "http://a/b/g",
      "./g/." -> "http://a/b/c/g/", "g/./h" -> "http://a/b/c/g/h",
      "g/../h" -> "http://a/b/c/h", "g;x=1/./y" -> "http://a/b/c/g;x=1/y",
      "g;x=1/../y" -> "http://a/b/c/y", "http:g" -> "http:g")
    cases.foreach { case (ref, want) =>
      assert(resolveUrlKernel(base, ref) == want,
        s"resolve('$ref') = ${resolveUrlKernel(base, ref)}, want $want")
    }
  }

  test("freshnessKernel: RFC 9111 verdicts — directives, lifetimes, validator gating") {
    import graft.ops.WebOps.freshnessKernel
    // max-age wins over Expires; fresh while ttl > 0
    assert(freshnessKernel("max-age=100, public", 999999L, 0L, 1000L, 1050L, false) ==
      ("fresh", 50L))
    // stale + validator → revalidate; stale without → refetch
    assert(freshnessKernel("max-age=10", 0L, 0L, 1000L, 1050L, true) == ("revalidate", -40L))
    assert(freshnessKernel("max-age=10", 0L, 0L, 1000L, 1050L, false) == ("refetch", -40L))
    // no-store / no-cache short-circuit everything
    assert(freshnessKernel("no-store, max-age=9999", 0L, 0L, 0L, 0L, true)._1 == "refetch")
    assert(freshnessKernel("No-Cache", 0L, 0L, 0L, 0L, false)._1 == "revalidate")
    // Expires fallback, then the /10 heuristic
    assert(freshnessKernel("", 1200L, 0L, 1000L, 1100L, false) == ("fresh", 100L))
    assert(freshnessKernel("", 0L, 500L, 1500L, 1550L, false) == ("fresh", 50L))
    // malformed max-age falls through to heuristic inputs (none → refetch)
    assert(freshnessKernel("max-age=soon", 0L, 0L, 1000L, 1001L, false)._1 == "refetch")
    assert(freshnessKernel(null, 0L, 0L, 1000L, 1001L, false)._1 == "refetch")
  }

  test("volumeAnomaly: trailing mean deviation, warm-up days report null") {
    import graft.ops.Temporal
    // 3 days at 10 rows, then a 1-row crash day
    val rows = (0 until 3).flatMap(d => (0 until 10).map(i =>
      new java.sql.Timestamp(86400000L * d + i * 1000L))) :+
      new java.sql.Timestamp(86400000L * 3)
    val df = rows.toDF("ts")
    val r = Temporal.volumeAnomaly(df, "ts", window = 3)
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), Option(x.get(2)), Option(x.get(3))))).toMap
    assert(r("1970-01-01") == ((10L, None, None))) // no trailing window yet
    assert(r("1970-01-03") == ((10L, None, None)))
    assert(r("1970-01-04") == ((1L, Some(30L), Some(100000L))), r.toString) // 1/10 of mean
  }

  test("anchorTerms: preceding word per outlink, hosts folded, terms counted") {
    import graft.ops.TextOps
    val df = Seq(
      (1L, "visit http://A.example/x then click https://b.example/y"),
      (2L, "click http://a.example/z no link here"),
      (3L, "bare text without urls")
    ).toDF("doc_id", "text")
    val r = TextOps.anchorTerms(df, "doc_id", "text")
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    assert(r == Map(
      ("a.example", "visit") -> 1L,
      ("a.example", "click") -> 1L,
      ("b.example", "click") -> 1L), r.toString)
  }

  test("dedupFlowMatrix: mirror direction per source pair, canonicals excluded") {
    import graft.ops.Curation
    val members = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L), (20L, 20L))
      .toDF("id", "comp")
    val meta = Seq((1L, "a"), (2L, "b"), (3L, "b"), (10L, "b"), (11L, "a"), (20L, "c"))
      .toDF("id", "source")
    val r = Curation.dedupFlowMatrix(members, meta)
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    // cluster 1: canon 1 (a), dups 2,3 (b); cluster 10: canon 10 (b), dup 11 (a);
    // singleton 20 contributes nothing
    assert(r == Map(("a", "b") -> 2L, ("b", "a") -> 1L), r.toString)
  }

  test("kCenterSelect: farthest-point order with min-id seed and asc tiebreak") {
    import graft.ops.Clustering
    val df = Seq(
      (1L, Seq(0f, 0f)), // seed (min id)
      (2L, Seq(0.5f, 0f)), // near the seed: never chosen at k=3
      (3L, Seq(10f, 0f)), // ties with 4 at step 3 → smaller id wins
      (4L, Seq(0f, 10f)),
      (5L, Seq(10f, 10f)) // farthest from seed → rank 2
    ).toDF("vec_id", "embedding")
    val r = Clustering.kCenterSelect(df, "vec_id", "embedding", k = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toList.sorted
    assert(r == List(
      (1L, 1L, 0L),
      (2L, 5L, 200000000000000L), // (1e7)² + (1e7)²
      (3L, 3L, 100000000000000L)), r.toString)
  }

  test("urlPatternProfile: digit runs collapse to one pattern, trap fan-out visible") {
    import graft.ops.WebOps
    val urls = ((1 to 5).map(i => s"http://cal.example/2020/01/day-$i") ++
      Seq("http://cal.example/about", "http://cal.example/about",
        "https://other.example/p/9?x=1", "not a url")).toDF("url")
    val r = WebOps.urlPatternProfile(urls, "url", minUrls = 2L)
      .collect().map(x => (x.getString(0), x.getString(1)) -> ((x.getLong(2), x.getLong(3)))).toMap
    assert(r == Map(
      ("cal.example", "/#/#/day-#") -> ((5L, 5L)), // 5 urls, all distinct: the trap signature
      ("cal.example", "/about") -> ((2L, 1L))), r.toString)
  }

  test("quantilesByKey: exact type-1 ranks, p=0 min, p=1e6 max, total order") {
    import graft.ops.Curation
    val df = (1 to 10).map(i => ("a", i.toLong, i.toLong)).toDF("k", "id", "v")
    val r = Curation.quantilesByKey(df, "k", "v", "id", Seq(0L, 500000L, 900000L, 1000000L))
      .collect().map(x => x.getLong(1) -> x.getLong(3)).toMap
    assert(r == Map(0L -> 1L, 500000L -> 5L, 900000L -> 9L, 1000000L -> 10L), r.toString)
  }

  test("profileColumns: nulls, exact distincts, native-type min/max per column") {
    import graft.ops.Curation
    val df = Seq[(java.lang.Long, String)]((9L, "b"), (10L, "a"), (null, "a"), (2L, null))
      .toDF("v", "s")
    val r = Curation.profileColumns(df, Seq("v", "s"))
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4), x.getString(5)))).toMap
    // numeric min/max (2 < 9 < 10), not lexicographic ("10" < "2" < "9")
    assert(r == Map(
      "v" -> ((4L, 1L, 3L, "2", "10")),
      "s" -> ((4L, 1L, 2L, "a", "b"))), r.toString)
  }

  test("keepTopFractionPerKey: ceil fraction per key, ties broken, tiny key keeps one") {
    import graft.ops.Curation
    val df = (1 to 10).map(i => ("a", i.toLong, i.toLong))
      .toDF("source", "doc_id", "score")
      .union(Seq(("b", 100L, 1L)).toDF("source", "doc_id", "score"))
      .union(Seq(("c", 200L, 5L), ("c", 201L, 5L), ("c", 202L, 5L)).toDF("source", "doc_id", "score"))
    val kept = Curation.keepTopFractionPerKey(df, "source", "score", "doc_id", 300000L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // a: ceil(10*0.3)=3 → scores 10,9,8; b: ceil(0.3)=1 → kept; c: ceil(0.9)=1 → min doc_id wins ties
    assert(kept == Set(("a", 10L), ("a", 9L), ("a", 8L), ("b", 100L), ("c", 200L)), kept.toString)
  }

  test("removeDuplicateSpans: cross-doc and intra-doc k-gram spans cut, first copy kept") {
    import graft.ops.Dedup
    val df = Seq(
      (0L, "hello world"), // < k tokens: untouched
      (1L, "a b c d e f g h i j"), // first occurrence: survives whole
      (2L, "x y a b c d e f g h z w"), // embeds doc 1's 8-gram at pos 3
      (3L, "p q r s t u v w p q r s t u v w") // intra-doc repeat at pos 9
    ).toDF("doc_id", "text")
    val r = Dedup.removeDuplicateSpans(df, "doc_id", "text", k = 8)
      .collect().map(x => x.getLong(0) -> ((x.getString(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r == Map(
      0L -> (("hello world", 2L, 0L)),
      1L -> (("a b c d e f g h i j", 10L, 0L)),
      2L -> (("x y z w", 12L, 8L)),
      3L -> (("p q r s t u v w", 16L, 8L))), r.toString)
  }

  test("keepBestPerCluster: quality argmax with id tiebreak, member counts") {
    import graft.ops.Curation
    val members = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 40L)).toDF("id", "comp")
    val attrs = Seq((1L, 100L), (2L, 300L), (3L, 300L), (4L, 50L)).toDF("doc_id", "len")
    val r = Curation.keepBestPerCluster(members, attrs, "doc_id", "len")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(10L) == ((2L, 300L, 3L)), r.toString) // tie 2 vs 3 -> min id
    assert(r(40L) == ((4L, 50L, 1L)), r.toString)  // singleton keeps itself
  }

  test("confusionStats: per-class TP/FP/FN, zero-support guards, exact F1") {
    import graft.ops.Curation
    val df = Seq(
      ("en", "en"), ("en", "en"), ("en", "de"),   // en: tp 2, fn 1
      ("de", "de"),                               // de: tp 1, fp 1 (from en)
      ("fr", "en")                                // fr never predicted: recall/precision 0
    ).toDF("label", "pred")
    val r = Curation.confusionStats(df, "label", "pred")
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6)))).toMap
    // en: tp 2, fp 1 (fr->en), fn 1; p = 2/3, r = 2/3, f1 = 2pr/(p+r)
    val p = 2L * 1000000L / 3L
    assert(r("en") == ((2L, 1L, 1L, p, p, 2 * p * p / (p + p))), r.toString)
    assert(r("de") == ((1L, 1L, 0L, 500000L, 1000000L, 2L * 500000L * 1000000L / 1500000L)))
    assert(r("fr") == ((0L, 0L, 1L, 0L, 0L, 0L)), r.toString)
    assert(r.size == 3)
    // summary: macro = mean of per-class F1s; micro from global totals
    // (tp 3, fp 2, fn 2 -> micro p = r = f1 = 600000)
    val s = Curation.confusionSummary(Curation.confusionStats(df, "label", "pred"))
      .collect()(0)
    val macroExpect = (r.values.map(_._6).sum) / 3L
    assert(s.getLong(0) == 3L && s.getLong(1) == macroExpect, s.toString)
    assert(s.getLong(2) == 600000L && s.getLong(3) == 600000L && s.getLong(4) == 600000L)
  }

  test("benchmarkCoverage: covered slice counts, unseen grams don't, exact rate") {
    import graft.ops.Curation
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    // eval: first corpus doc verbatim (2 distinct 5-grams, both covered)
    // + an unseen sentence (3 distinct 5-grams, none covered)
    val bench = Seq("alpha beta gamma delta epsilon zeta",
      "unseen tokens q w e r t y u").toDF("text")
    val r = Curation.benchmarkCoverage(corpus, "text", bench, "text", k = 5).collect()(0)
    assert(r.getLong(0) == 7L, r.toString) // 2 + 5 distinct eval grams
    assert(r.getLong(1) == 2L, r.toString)
    assert(r.getLong(2) == 2L * 1000000L / 7L, r.toString)
  }

  test("oovRate: head vocab bounds, ties break by word, exact per-source rates") {
    import graft.ops.Retrieval
    val df = Seq(
      ("a", "the the the cat"),   // 'the' (3) and 'cat'(1) vs 'ant'(1): tie at 1 -> 'ant' wins by word order
      ("b", "the ant zzz")
    ).toDF("source", "text")
    val r = Retrieval.oovRate(df, "source", "text", vocabSize = 2)
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    // counts: the=4, ant=1, cat=1, zzz=1 -> head = {the, ant} (tie 1 breaks to 'ant')
    assert(r("a") == ((4L, 1L, 250000L)), r.toString) // cat is OOV
    assert(r("b") == ((3L, 1L, 333333L)), r.toString) // zzz is OOV, ant is head
  }

  test("rrfFuse: agreement wins, one-list docs contribute one reciprocal, exact scores") {
    import graft.ops.Retrieval
    val a = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val b = Seq((20L, 1L), (10L, 2L), (40L, 3L)).toDF("id", "rank")
    val r = Retrieval.rrfFuse(a, b, k = 60, topK = 10)
      .collect().map(x => x.getLong(0) -> (x.getLong(3), x.getLong(4))).toMap
    // 10: 1e6/61 + 1e6/62 = 16393 + 16129 = 32522; 20: 1e6/62 + 1e6/61 same
    assert(r(10L)._1 == 1000000L / 61 + 1000000L / 62, r.toString)
    assert(r(10L)._1 == r(20L)._1 && r(10L)._2 == 1L && r(20L)._2 == 2L) // tie -> id order
    // single-list docs score one reciprocal; 30 (rank 3 in a) ties 40 (rank 3 in b)
    assert(r(30L)._1 == 1000000L / 63 && r(40L)._1 == 1000000L / 63)
    assert(r(30L)._2 == 3L && r(40L)._2 == 4L)
  }

  test("skewProfile: exact shares, rank order, cumulative curve, top-k bound") {
    import graft.ops.Curation
    val df = (Seq.fill(60)("big") ++ Seq.fill(30)("mid") ++ Seq.fill(10)("small"))
      .toDF("host")
    val r = Curation.skewProfile(df, "host", topK = 2)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    assert(r.toSeq == Seq((1L, "big", 60L, 600000L, 600000L),
      (2L, "mid", 30L, 300000L, 900000L)), r.mkString(","))
  }

  test("histogram: bucket edges, shares, CDF reaches 1.0") {
    import graft.ops.Curation
    val df = Seq(0L, 5L, 199L, 200L, 201L, 999L).toDF("v")
    val r = Curation.histogram(df, "v", width = 200L)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(4))).toMap
    assert(r(0L) == ((0L, 3L, 500000L)), r.toString)
    assert(r(1L) == ((200L, 2L, 833333L)), r.toString)
    assert(r(4L) == ((800L, 1L, 1000000L)), r.toString) // CDF closes at 1.0
  }

  test("minhashFidelity: identical docs read 1.0/1.0, estimate tracks exact Jaccard") {
    import graft.ops.Dedup
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup
      (3L, "the quick brown fox jumps over the lazy dog again and again tomorrow"), // near dup
      (4L, "completely different content about spark catalyst optimizer internals today")
    ).toDF("id", "text")
    val r = Dedup.minhashFidelity(df, "id", "text")
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(r((1L, 2L)) == ((1000000L, 1000000L, 0L)), r.toString) // identical: both 1.0
    val (est, exact, err) = r((1L, 3L))
    assert(exact > 500000L && exact < 1000000L, r.toString)       // near dup
    assert(err == math.abs(est - exact))
    // 32 hashes: std error ~ sqrt(j(1-j)/32) <= 88k micro; allow 4 sigma
    assert(err < 360000L, s"estimate $est way off exact $exact")
    val (estFar, exactFar, _) = r((1L, 4L))
    assert(exactFar < 200000L && estFar < 500000L, r.toString)    // unrelated stays low
    assert(r.size == 6)
  }

  test("randomProjection: exact signed sums vs brute force, distance preservation trend") {
    import graft.ops.Similarity
    val vecs = (1L to 40L).map(i =>
      (i, Array.tabulate(16)(d => ((i * 7 + d * 13) % 29).toFloat / 29f)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.randomProjection(df, "vec_id", "embedding", outDims = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def sign(i: Int, j: Int): Long =
      if (((i.toLong * 131071 + j.toLong * 524287) % 2147483647L) % 2 == 0) 1L else -1L
    val brute = (for {
      (id, v) <- vecs; j <- 0 until 4
      q = v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
    } yield (id, j.toLong) -> q.zipWithIndex.map { case (x, i) => sign(i, j) * x }.sum).toMap
    assert(got == brute, got.toSeq.sorted.take(3).toString + " vs " +
      brute.toSeq.sortBy(_._1).take(3))
    // identical inputs project identically; different inputs (almost surely) differ
    assert(got((1L, 0L)) == brute((1L, 0L)) && got.values.toSet.size > 1)
  }

  test("madOutliers: robust flags, per-key scope, all-identical group has MAD 0") {
    import graft.ops.Curation
    val df = Seq(
      ("a", 100L, 1L), ("a", 102L, 2L), ("a", 98L, 3L), ("a", 101L, 4L),
      ("a", 5000L, 5L), // the length freak
      ("b", 7L, 6L), ("b", 7L, 7L), ("b", 7L, 8L), ("b", 9L, 9L)
    ).toDF("src", "len", "id")
    val r = Curation.madOutliers(df, "src", "len", "id", k = 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(3), x.getLong(4), x.getBoolean(5))).toMap
    // key a: sorted lens (98,100,101,102,5000), median = 101 (rank 3);
    // devs sorted (0,1,1,3,4899) -> MAD 1; dev 3 is NOT > 3*1, only the
    // freak flags
    assert(r(5L) == ((101L, 1L, true)), r.toString)
    assert(Seq(1L, 2L, 3L, 4L).forall(!r(_)._3), r.toString)
    // key b: median 7, MAD 0 -> any deviation flags (robust convention)
    assert(r(9L) == ((7L, 0L, true)) && !r(6L)._3, r.toString)
  }

  test("hllRegisters/hllEstimate: registers match brute force, estimate within HLL error") {
    import graft.ops.{Dedup, Sketches}
    val items = (0 until 5000).map(i => s"item_$i")
    val df = (items ++ items).toDF("w") // duplicates must not move registers
    val regs = Sketches.hllRegisters(df, "w")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // shared-prefix keys are the adversarial case the affine mix exists
    // for (unmixed polyHash reads every register as 3 here)
    val brute = items
      .map(s => (Dedup.polyHash(s) * 1103515245L + 12345L) % Dedup.MersenneP)
      .groupBy(_ % 64).map { case (b, hs) =>
        b -> hs.map { h =>
          val sfx = h / 64; if (sfx == 0) 26L else 26L - java.lang.Long.toBinaryString(sfx).length
        }.max
      }
    assert(regs == brute, s"registers diverge: ${regs.toSeq.sorted} vs ${brute.toSeq.sorted}")
    val est = Sketches.hllEstimate(Sketches.hllRegisters(df, "w")).collect()(0)
    val estVal = est.getLong(3) / 1000.0
    // raw HLL on m=64: relative error ~1.04/sqrt(64) = 13%; allow 3 sigma
    assert(math.abs(estVal - 5000.0) / 5000.0 < 0.4, s"estimate $estVal vs 5000")
    assert(est.getLong(0) == 64L && est.getLong(1) <= 64L)
  }

  test("encodingJunk: replacement/control/mojibake counted, tab and newline exempt") {
    import graft.ops.TextOps
    val df = Seq(
      (1L, "clean text with\ttabs and\nnewlines"),
      (2L, "bad �� bytes"),
      (3L, "bell\u0007 and esc\u001b chars"),
      (4L, "cafÃ© mojibake"),
      (5L, "")
    ).toDF("doc_id", "text")
    val r = TextOps.encodingJunk(df, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(r(1L) == ((0L, 0L, 0L, 0L)), r.toString)
    assert(r(2L)._1 == 2L && r(2L)._4 == 2L * 1000000L / 12L, r.toString)
    assert(r(3L) == ((0L, 2L, 0L, 2L * 1000000L / 20L)), r.toString)
    assert(r(4L)._3 == 1L, r.toString)
    assert(r(5L) == ((0L, 0L, 0L, 0L)), r.toString) // len 0 guarded
  }

  test("intervalOverlapPairs: exact pairs vs brute force, once per pair, key scoped") {
    import graft.ops.Temporal
    // key 1: intervals engineered to span bins (binUs=100): overlaps that
    // share multiple bins must still emit once
    val iv = Seq(
      (1L, 10L, 0L, 250L), (1L, 11L, 200L, 500L), (1L, 12L, 240L, 260L),
      (1L, 13L, 600L, 700L),                    // touches nobody
      (2L, 20L, 0L, 250L)                       // other key: no cross-key pairs
    ).toDF("k", "id", "s", "e")
    val got = Temporal.intervalOverlapPairs(iv, "k", "id", "s", "e", binUs = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val brute = for {
      Seq((k1, i1, s1, e1), (k2, i2, s2, e2)) <-
        Seq((1L, 10L, 0L, 250L), (1L, 11L, 200L, 500L), (1L, 12L, 240L, 260L),
          (1L, 13L, 600L, 700L), (2L, 20L, 0L, 250L)).combinations(2).toSeq
      if k1 == k2 && s1 <= e2 && s2 <= e1
    } yield (k1, math.min(i1, i2), math.max(i1, i2), math.min(e1, e2) - math.max(s1, s2))
    assert(got.sorted.toSeq == brute.sorted, s"got ${got.toSeq} want $brute")
    assert(got.length == got.distinct.length) // report-once: no dup pairs
  }

  test("deterministicShuffle: exact permutation, brute-force order match, reproducible") {
    import graft.ops.Curation
    val df = (0L until 200L).toDF("doc_id")
    val got = Curation.deterministicShuffle(df, "doc_id", buckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // positions are an exact permutation of 0..n-1
    assert(got.map(_._3).sorted.toSeq == (0L until 200L).toSeq)
    // brute force: global lexicographic (bucket, key, id) order
    val p = 2147483647L
    val brute = (0L until 200L).map { id =>
      val k = (id * 1103515245L + 12345L) % p; (k % 8, k, id)
    }.sorted.zipWithIndex.map { case ((_, _, id), i) => id -> i.toLong }.toMap
    assert(got.forall { case (id, _, pos) => brute(id) == pos },
      got.filterNot { case (id, _, pos) => brute(id) == pos }.take(3).mkString)
    // decorrelated from ingest order: not the identity permutation
    assert(got.count { case (id, _, pos) => id == pos } < 20)
  }

  test("signatureTerms: planted marker tops its source, support floor, total order") {
    import graft.ops.Retrieval
    val rows = (0 until 40).map { i =>
      val src = if (i % 2 == 0) "a" else "b"
      val marker = if (src == "a") " appleword" else " bananaword"
      (src, "common words everywhere shared" + marker)
    } :+ (("a", "rare typoword here"))
    val df = rows.toDF("source", "text")
    val got = Retrieval.signatureTerms(df, "source", "text", k = 2, minCount = 5L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(4)))
    val top = got.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    assert(top("a") == "appleword" && top("b") == "bananaword", got.mkString(","))
    // the single-occurrence typo never appears (support floor)
    assert(!got.exists(_._2 == "typoword"))
  }

  test("calibrationReport: bin edges, exact rates, Brier of perfect and inverted scores") {
    import graft.ops.Curation
    val df = Seq(
      (0L, false), (999999L, true),          // bins 0 and 9, both "right"
      (1000000L, true),                      // top edge folds into bin 9
      (500000L, true), (500000L, false),     // bin 5: half right
      (100000L, true)                        // bin 1: confident-wrong-direction
    ).toDF("score_micro", "label")
    val r = Curation.calibrationReport(df, "score_micro", "label", bins = 10)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5))).toMap
    assert(r(0L) == ((1L, 0L, 0L, 0L, 0L)), r.toString)          // p=0,y=0: brier 0
    assert(r(9L) == ((2L, 2L, 999999L, 1000000L, 0L)), r.toString) // (999999+1e6) div 2
    assert(r(5L) == ((2L, 1L, 500000L, 500000L, 250000L)))       // brier .25
    assert(r(1L) == ((1L, 1L, 100000L, 1000000L, 810000L)))      // (0.1-1)^2 = .81
  }

  test("phraseSearch: consecutive-only matches, overlap counting, repeated terms") {
    import graft.ops.Retrieval
    val df = Seq(
      (1L, "a spark catalyst optimizer guide"),
      (2L, "spark catalyst optimizer twice here spark catalyst optimizer"),
      (3L, "spark optimizer catalyst"),          // right words, wrong order
      (4L, "spark catalyst"),                    // incomplete
      (5L, "sparkx catalyst optimizer")          // token boundary respected
    ).toDF("doc_id", "text")
    val got = Retrieval.phraseSearch(df, "doc_id", "text",
        Seq("spark", "catalyst", "optimizer"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L), got.toString)
    // repeated-term phrase: overlapping "b b b" has two "b b" matches
    val rep = Retrieval.phraseSearch(Seq((7L, "a b b b c")).toDF("doc_id", "text"),
      "doc_id", "text", Seq("b", "b")).collect()
    assert(rep.length == 1 && rep(0).getLong(1) == 2L, rep.mkString)
  }

  test("hashEmbedding: exact signed bucket sums, repeated words accumulate") {
    import graft.ops.{Dedup, TextOps}
    val df = Seq((1L, "alpha alpha beta"), (2L, "alpha")).toDF("doc_id", "text")
    val got = TextOps.hashEmbedding(df, "doc_id", "text", dims = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ha = Dedup.polyHash("alpha"); val hb = Dedup.polyHash("beta")
    val (da, sa) = (ha % 8, if ((ha / 8) % 2 == 0) 1L else -1L)
    val (db, sb) = (hb % 8, if ((hb / 8) % 2 == 0) 1L else -1L)
    assert(got((2L, da)) == sa, got.toString)
    if (da == db) assert(got((1L, da)) == 2 * sa + sb)
    else { assert(got((1L, da)) == 2 * sa); assert(got((1L, db)) == sb) }
  }

  test("editDistancePairs: typo pairs found, blocking bounds respected, symmetric ids") {
    import graft.ops.Dedup
    val df = Seq(
      (1L, "the catalyst optimizer guide"),
      (2L, "the catalyst optimizer guidz"),   // dist 1 from 1
      (3L, "the cztalyst optimizer guide"),   // dist 1 from 1 BUT same block prefix "the "
      (4L, "completely different title here"),
      (5L, "xhe catalyst optimizer guide"),   // dist 1 from 1, but prefix block differs -> missed (documented)
      (6L, "the catalyst optimizer guide and much more appended")  // length band excludes
    ).toDF("id", "title")
    val got = Dedup.editDistancePairs(df, "id", "title", maxDist = 2, blockPrefix = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.contains((1L, 2L, 1L)) && got.contains((1L, 3L, 1L)), got.toString)
    assert(got.contains((2L, 3L, 2L)), got.toString)
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L)) // prefix-edit recall bound
    assert(!got.exists(p => p._1 == 6L || p._2 == 6L)) // length band
    assert(got.forall(p => p._1 < p._2))
  }

  test("vocabularyGrowth: exact prefix vocab/token counts match brute force") {
    import graft.ops.TextOps
    val df = Seq(
      (1L, "a b c"), (2L, "a b d d"), (3L, "e"), (4L, "a e f g")
    ).toDF("doc_id", "text")
    val got = TextOps.vocabularyGrowth(df, "doc_id", "text", Seq(2L, 3L, 5L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(2L) == ((3L, 3L)), got.toString)  // docs {1}: a b c
    assert(got(3L) == ((7L, 4L)), got.toString)  // + doc 2: a b d d
    assert(got(5L) == ((12L, 7L)), got.toString) // all: abcddeaefg -> vocab {a..g}
  }

  test("cdcDedupStats: randomized cross-check against a brute-force reference") {
    import graft.ops.Dedup
    val rnd = new scala.util.Random(20260819L)
    val frags = Vector("alpha beta gamma ", "shared syndicated paragraph body ",
      "delta epsilon ", "zeta eta theta iota kappa ")
    val rows = (0 until 40).map { i =>
      (i.toLong, Vector.fill(1 + rnd.nextInt(4))(frags(rnd.nextInt(frags.size))).mkString)
    }
    // brute force over the SAME kernel (kernel itself is brute-checked in
    // its own spec); this pins the distributed shared-counting logic
    val chunks = rows.map { case (id, t) => id -> Dedup.cdcChunks(t).toVector }.toMap
    val docsPerChunk = chunks.toSeq.flatMap { case (id, cs) => cs.distinct.map(c => (c, id)) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).distinct.size }
    val expect = rows.map { case (id, _) =>
      val cs = chunks(id)
      id -> ((cs.size.toLong, cs.distinct.size.toLong,
        cs.distinct.count(c => docsPerChunk(c) >= 2).toLong))
    }.toMap
    val got = Dedup.cdcDedupStats(rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect, got.toSeq.sortBy(_._1).take(3).toString)
  }

  test("phraseSearch: randomized cross-check against a sliding-window brute force") {
    import graft.ops.Retrieval
    val rnd = new scala.util.Random(20260820L)
    val vocab = Vector("a", "b", "c", "spark")
    val phrase = Seq("a", "b", "a")
    val rows = (0 until 60).map { i =>
      (i.toLong, Vector.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val expect = rows.flatMap { case (id, t) =>
      val ws = t.split(" ").toVector
      val n = ws.sliding(3).count(_ == phrase.toVector)
      if (n > 0) Some(id -> n.toLong) else None
    }.toMap
    val got = Retrieval.phraseSearch(rows.toDF("doc_id", "text"), "doc_id", "text", phrase)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, s"got ${got.toSeq.sorted.take(5)} want ${expect.toSeq.sorted.take(5)}")
  }

  test("cdcChunks: lossless, offset-shift invariant interior chunks, edge cases") {
    import graft.ops.Dedup
    val block = "syndicated wire story body repeated verbatim across mirror sites " * 5
    val a = Dedup.cdcChunks("unique prefix alpha. " + block)
    val b = Dedup.cdcChunks("a much longer and entirely different unique prefix beta beta. " + block)
    // chunking is lossless: concatenation reproduces the input
    assert(a.mkString == "unique prefix alpha. " + block)
    // the shared block yields shared interior chunks despite different
    // offsets (the CDC property) — at least one chunk in common
    val common = a.toSet.intersect(b.toSet)
    assert(common.nonEmpty, s"no shared chunks: ${a.toSeq} vs ${b.toSeq}")
    // short strings (< window) are one chunk; empty/null degenerate
    assert(Dedup.cdcChunks("tiny").toSeq == Seq("tiny"))
    assert(Dedup.cdcChunks("").toSeq == Seq(""))
    assert(Dedup.cdcChunks(null).isEmpty)
    // deterministic
    assert(Dedup.cdcChunks(block).toSeq == Dedup.cdcChunks(block).toSeq)
  }

  test("cdcDedupStats: shared planted block counted, unique docs report zero shared") {
    import graft.ops.Dedup
    val block = "common syndicated paragraph shared by two documents word " * 6
    val df = Seq(
      (1L, "doc one opening sentence. " + block),
      (2L, "an unrelated second opener entirely. " + block),
      (3L, "totally standalone content with nothing repeated anywhere at all")
    ).toDF("doc_id", "text")
    val got = Dedup.cdcDedupStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L)._3 > 0 && got(2L)._3 > 0, got.toString) // shared interior chunks
    assert(got(3L)._3 == 0L, got.toString)
    assert(got.values.forall { case (nc, nd, ns) => nd <= nc && ns <= nd })
  }

  test("hits: hub/authority separation on a directory graph, L1 mass conserved") {
    import graft.ops.Graph
    // 1 and 2 are pure hubs (link out to 8/9), 8 and 9 pure authorities;
    // 5 is isolated-ish: links once to a non-authority
    val g = Seq((1L, 8L), (1L, 9L), (2L, 8L), (2L, 9L), (5L, 6L)).toDF("src", "dst")
    val r = Graph.hits(g, "src", "dst", iterations = 4)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    // authorities: 8/9 tie exactly (symmetric) and dominate 6
    assert(r(8L)._1 == r(9L)._1 && r(8L)._1 > r(6L)._1, r.toString)
    // hubs: 1/2 tie exactly and dominate 5; pure authorities have 0 hub
    assert(r(1L)._2 == r(2L)._2 && r(1L)._2 > r(5L)._2, r.toString)
    assert(r(8L)._2 == 0L && r(9L)._2 == 0L && r(8L)._1 > 0L)
    // L1 normalization holds each side to ~1e6 total micro-units
    assert(math.abs(r.values.map(_._1).sum - 1000000L) <= 10L)
    assert(math.abs(r.values.map(_._2).sum - 1000000L) <= 10L)
    // fixed iteration count is deterministic across runs
    val r2 = Graph.hits(g, "src", "dst", iterations = 4)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r2 == r)
  }

  test("labelPropagation: two planted cliques resolve, bridge edge does not merge them") {
    import graft.ops.Graph
    // clique {1,2,3}, clique {10,11,12}, one bridge 3-10
    val cl = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
      .toDF("src", "dst")
    val r = Graph.labelPropagation(cl, "src", "dst", iterations = 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) == r(2L) && r(2L) == r(3L), r.toString)
    assert(r(10L) == r(11L) && r(11L) == r(12L), r.toString)
    assert(r(1L) != r(10L), s"bridge merged the cliques: $r") // unlike components
    // deterministic across runs (no random visit order)
    val r2 = Graph.labelPropagation(cl, "src", "dst", iterations = 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r2 == r)
  }

  test("temperatureMixWeights: sqrt flattening, exact micro totals, head/tail order kept") {
    import graft.ops.Curation
    val df = (Seq.fill(64)("head") ++ Seq.fill(16)("mid") ++ Seq.fill(4)("tail"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "source")
    val r = Curation.temperatureMixWeights(df, "source")
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    // sqrt ratios 8:4:2 exactly; weights in micro-units
    assert(r("head")._2 == 571429L && r("mid")._2 == 285714L && r("tail")._2 == 142857L,
      r.toString)
    // linear share of head would be 64/84 = 76%; sqrt flattens it to 57%
    assert(r("head")._1 == 64L && r("head")._2 < 640000L)
    assert(math.abs(r.values.map(_._2).sum - 1000000L) <= 2L)
  }

  test("kmeansAssign: planted clusters recovered, labels are seed ids, runs are identical") {
    import graft.ops.Clustering
    val pts = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(10.0f, 10.0f)),
      (3L, Array(0.1f, 0.0f)), (4L, Array(10.1f, 10.0f)),
      (5L, Array(0.0f, 0.2f)), (6L, Array(9.9f, 10.1f))
    ).toDF("vec_id", "embedding")
    def run() = Clustering.kmeansAssign(pts, "vec_id", "embedding", k = 2, iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val a = run()
    val byId = a.map(r => r._1 -> r._2).toMap
    // seeds are the two smallest ids, so labels are exactly {1, 2}
    assert(byId.values.toSet == Set(1L, 2L), a.mkString(","))
    assert(byId(3L) == byId(1L) && byId(5L) == byId(1L))
    assert(byId(4L) == byId(2L) && byId(6L) == byId(2L))
    // exact integer determinism: a second run is bit-identical incl. d2
    assert(a.sameElements(run()))
    assert(a.forall(_._3 >= 0L))
  }

  test("semDedup: within-cluster lower-id near-dups dropped, orthogonal mates kept") {
    import graft.ops.Clustering
    // two planted clusters (seeds = ids 1, 2); 3/4/6 are near-parallel
    // to a lower-id cluster-mate, 5 is orthogonal to everything in its
    // cluster and must survive
    val pts = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(8.0f, 8.0f)),
      (3L, Array(1.001f, 0.0001f)), (4L, Array(8.1f, 8.1f)),
      (5L, Array(0.0f, 1.0f)), (6L, Array(7.9f, 8.05f))
    ).toDF("vec_id", "embedding")
    def run() = Clustering.semDedup(pts, "vec_id", "embedding",
        threshold = 0.99, k = 2, iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val a = run()
    val keep = a.map(r => r._1 -> r._3).toMap
    assert(keep == Map(1L -> 1L, 2L -> 1L, 3L -> 0L, 4L -> 0L, 5L -> 1L, 6L -> 0L),
      a.mkString(","))
    // cluster labels are the seed ids; dup decisions stay inside clusters
    val cid = a.map(r => r._1 -> r._2).toMap
    assert(cid(3L) == cid(1L) && cid(5L) == cid(1L) &&
      cid(4L) == cid(2L) && cid(6L) == cid(2L), a.mkString(","))
    // deterministic: a second run is bit-identical
    assert(a.sameElements(run()))
  }

  test("bpeLearn: weighted pair argmax, left-to-right merge pairing, lex tiebreak") {
    import graft.ops.TextOps
    // aaab(x2), ab(x1): r1 (a,a)=4 beats (a,b)=3; merge gives [aa,a,b]
    // (left-to-right pairing, NOT [a,aa]); r2 (a,b)=3; r3 (aa,ab)=2
    val got = TextOps.bpeLearn(Seq("aaab aaab", "ab").toDF("text"), "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "a", "a", 4L), (2L, "a", "b", 3L), (3L, "aa", "ab", 2L)), got.mkString(","))
    // equal counts break to the lexicographically smallest pair
    val tie = TextOps.bpeLearn(Seq("xy yx xy yx").toDF("text"), "text", k = 1).collect()(0)
    assert((tie.getString(1), tie.getString(2), tie.getLong(3)) == (("x", "y", 2L)))
  }

  test("dedupLinesInDoc: first occurrence kept in order, empties survive, per-doc scope") {
    import graft.ops.Curation
    val df = Seq(
      (1L, "nav\nbody one\nnav\n\nbody two\n\nnav"),
      (2L, "nav"), // same line in ANOTHER doc is untouched (intra-doc scope)
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = Curation.dedupLinesInDoc(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // kept = [nav, body one, "", body two, ""]: dup 'nav's dropped, empties kept
    assert(got(1L) == "nav\nbody one\n\nbody two\n", got(1L))
    assert(got(2L) == "nav")
    assert(got(3L) == null)
    val counts = Curation.dedupLinesInDoc(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.get(2), r.get(3))).toMap
    assert(counts(1L) == ((7L, 5L)) && counts(2L) == ((1L, 1L)), counts.toString)
  }

  test("stripBoilerplateLines: per-group threshold, raw-string final check, order kept") {
    import graft.ops.Curation
    // host A: 'footer' in 3 distinct docs (>= minDocs=3, also repeated
    // WITHIN doc 1 — distinct-doc counting must not double count);
    // 'menu' in only 2 docs (under threshold); host B: its own 'footer'
    // appears once — per-group scope keeps it
    val df = Seq(
      (1L, "A", "body one\nfooter\n\nmenu\nfooter"),
      (2L, "A", "footer\nbody two\nmenu"),
      (3L, "A", "body three\nfooter"),
      (4L, "B", "footer\nbody four")
    ).toDF("doc_id", "host", "text")
    val got = Curation.stripBoilerplateLines(df, "doc_id", "host", "text", minDocs = 3)
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("body one\n\nmenu", 5L, 3L)), got(1L))
    assert(got(2L) == (("body two\nmenu", 3L, 2L)))
    assert(got(3L) == (("body three", 2L, 1L)))
    assert(got(4L) == (("footer\nbody four", 2L, 2L)))
    // threshold 2 takes 'menu' too; empties always survive
    val t2 = Curation.stripBoilerplateLines(df, "doc_id", "host", "text", minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(t2(1L) == "body one\n" && t2(2L) == "body two", t2.toString)
  }

  test("stripBoilerplateLines: randomized cross-check against a brute-force reference") {
    import graft.ops.Curation
    val rnd = new scala.util.Random(20260818L)
    val lines = Vector("nav", "footer", "menu", "body one", "body two", "unique",
      "", "cookie banner", "search", "about us")
    val rows = (0 until 120).map { i =>
      val grp = s"h${i % 4}"
      val doc = Vector.fill(2 + rnd.nextInt(6))(lines(rnd.nextInt(lines.size)))
      (i.toLong, grp, doc.mkString("\n"))
    }
    val minDocs = 3
    // brute force: per group, non-empty lines in >= minDocs distinct docs
    val template: Map[String, Set[String]] = rows.groupBy(_._2).map { case (g, rs) =>
      g -> rs.flatMap { case (id, _, t) => t.split("\n", -1).filter(_.nonEmpty).distinct.map(l => (l, id)) }
        .groupBy(_._1).filter(_._2.map(_._2).distinct.size >= minDocs).keySet
    }
    val expect = rows.map { case (id, g, t) =>
      val keep = t.split("\n", -1).filter(l => l.isEmpty || !template(g).contains(l))
      id -> (keep.mkString("\n"), t.split("\n", -1).length.toLong, keep.length.toLong)
    }.toMap
    val got = Curation.stripBoilerplateLines(
        rows.toDF("doc_id", "host", "text"), "doc_id", "host", "text", minDocs)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect, got.toSeq.sortBy(_._1).zip(expect.toSeq.sortBy(_._1))
      .filter(p => p._1 != p._2).take(3).mkString("; "))
  }

  test("wordpieceCountsKernel: greedy longest match, UNK word, char cap, greedy-failure case") {
    import graft.ops.TextOps
    val k = TextOps.wordpieceCountsKernel(
      Seq("t", "h", "e", "b", "the", "ab", "a", "##a", "##h", "##e", "##ing", "##bc"))
    assert(k("the") == (1L, 1L, 0L))          // longest match: one piece, not t+##h+##e
    assert(k("th the bing") == (3L, 5L, 0L))  // t+##h, the, b+##ing
    assert(k("bx xyz") == (2L, 2L, 2L))       // dead end mid-word + no start piece
    assert(k("abc") == (1L, 1L, 1L))          // GREEDY spec: "ab" first, then no ##c
    assert(k("a" * 101) == (1L, 1L, 1L))      // BERT max_input_chars_per_word
    assert(k("a" * 100) == (1L, 100L, 0L))
    assert(k(null) == (0L, 0L, 0L) && k("  \t ") == (0L, 0L, 0L))
  }

  test("funnelReport: cumulative stage survival, null predicate drops, chain invariant") {
    import graft.ops.Curation
    // (text, len): row 1 fails stage 1, row 2 has NULL len (must DROP at
    // stage 2, not pass), rows 3-4 survive stage 2, row 4 fails stage 3
    val df = Seq(
      (Option.empty[String], Option(5L)),
      (Option("a"), Option.empty[Long]),
      (Option("bb"), Option(10L)),
      (Option("cc"), Option(999L))
    ).toDF("text", "len")
    val got = Curation.funnelReport(df, Seq(
        "nonnull" -> col("text").isNotNull,
        "min_len" -> (col("len") >= 2L),
        "max_len" -> (col("len") <= 100L)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "nonnull", 4L, 3L, 1L),
      (2L, "min_len", 3L, 2L, 1L),   // the NULL-len row dropped here
      (3L, "max_len", 2L, 1L, 1L)), got.mkString(","))
    // funnel invariant: rows_in(i) == rows_out(i-1)
    got.sliding(2).foreach { case Array(p, c) => assert(c._3 == p._4) }
  }

  test("exactQuantiles: type-1 ranks on a known distribution, single-row groups") {
    import graft.ops.Curation
    val d = (1L to 9L).map(i => ("a", i * 10, i)) :+ (("b", 7L, 99L))
    val df = d.toDF("src", "v", "id")
    val out = Curation.exactQuantiles(df, "src", "v", "id")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    // n=9: ranks floor(8q)+1 = 1,3,5,7,9 -> values 10,30,50,70,90
    assert(out(("a", 0.0)) == 10L && out(("a", 0.25)) == 30L &&
      out(("a", 0.5)) == 50L && out(("a", 0.75)) == 70L && out(("a", 1.0)) == 90L, out.toString)
    // single-row group: every quantile is that row
    assert(Seq(0.0, 0.25, 0.5, 0.75, 1.0).forall(q => out(("b", q)) == 7L))
  }

  test("canonicalizeUrl: case, default ports, fragments, tracking params, param order") {
    import graft.ops.WebOps
    val cases = Seq(
      ("HTTP://WWW.Ex.COM:80/A/b/?b=2&utm_source=x&a=1#f", "http://www.ex.com/A/b?a=1&b=2"),
      ("https://ex.com:443/", "https://ex.com/"),
      ("https://ex.com:8443/p", "https://ex.com:8443/p"), // non-default port kept
      ("http://ex.com:8080", "http://ex.com:8080/"),      // :80 only stripped exactly
      ("https://ex.com/p/?gclid=g", "https://ex.com/p"),
      ("https://ex.com/p?fbclid=1&ref=z", "https://ex.com/p"),
      ("not a url", "")
    ).toDF("url", "want")
    val got = cases.select($"url", $"want", WebOps.canonicalizeUrl($"url").as("canon"))
      .collect()
    got.foreach(r => assert(r.getString(2) == r.getString(1), r.toString))
  }

  test("langid column agrees with doc lang on clean stopword-marked text") {
    val df = Seq(
      ("en", "we saw the cat and the dog and the end"),
      ("de", "das ist der hund und der mann und der tag"),
      ("fr", "ce sont les chats des villes les plus grandes")
    ).toDF("lang", "text")
    val preds = df.select($"lang", TextOps.langId($"text").as("p")).collect()
    preds.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("tfidfTopTerms: hand-checked rational-idf scores, tie broken by term") {
    import graft.ops.Retrieval
    val corpus = Seq(
      (1L, "a b a"),
      (2L, "a c"),
      (3L, "c c d")
    ).toDF("id", "text")
    // N=3; df: a=2, b=1, c=2, d=1
    // score_micro = (tf * (2N-2df+1) * 1e6) div (2df+1)
    val got = Retrieval.tfidfTopTerms(corpus, "id", "text", topK = 3)
      .collect().map(r => ((r.getLong(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got((1L, "a")) == ((2L, 1200000L)))  // (2*3*1e6)/5
    assert(got((1L, "b")) == ((1L, 1666666L)))  // (1*5*1e6)/3 floored
    assert(got((2L, "a")) == ((1L, 600000L)))
    assert(got((2L, "c")) == ((1L, 600000L)))   // tie with 'a' — both in top-3
    assert(got((3L, "c")) == ((2L, 1200000L)))
    assert(got((3L, "d")) == ((1L, 1666666L)))
    assert(got.size == 6)
  }

  test("tfidfTopTerms: topK truncates under (score desc, term asc) total order") {
    import graft.ops.Retrieval
    val corpus = Seq((1L, "w x y z w x y w x w")).toDF("id", "text")
    // single doc: every term has df=1, so score orders by tf: w(4) x(3) y(2) z(1)
    val got = Retrieval.tfidfTopTerms(corpus, "id", "text", topK = 2)
      .collect().map(_.getString(1)).toSet
    assert(got == Set("w", "x"))
  }

  test("bloomContamination: superset of exact hits (no false negatives), kept is sound") {
    import graft.ops.Curation
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),       // shares a 5-gram with bench
      (2L, "totally clean document nothing shared here at all"),
      (3L, "alpha beta gamma delta epsilon different tail")
    ).toDF("id", "text")
    val bench = Seq(Tuple1("alpha beta gamma delta epsilon zeta")).toDF("text")
    val bloom = Curation.bloomContamination(corpus, "id", "text", bench, "text",
        k = 5, numHashes = 3, bits = 8192)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    val exact = Curation.contaminationHits(corpus, "id", "text", bench, "text", k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Bloom membership is one-sided: every exact hit is a bloom maybe
    corpus.select($"id").as[Long].collect().foreach { id =>
      val (nSh, nMaybe, kept) = bloom(id)
      assert(nMaybe >= exact.getOrElse(id, 0L), s"doc $id lost an exact hit")
      assert(nMaybe <= nSh)
      if (kept) assert(exact.getOrElse(id, 0L) == 0L, s"kept doc $id is exactly contaminated")
    }
    assert(bloom(1L)._2 >= 2L) // both 5-grams of doc 1 are in the benchmark
    assert(!bloom(1L)._3 && !bloom(3L)._3)
  }

  test("invertedIndex: df counts all postings, cap keeps top-(tf desc, id asc)") {
    import graft.ops.Retrieval
    val corpus = Seq(
      (1L, "a b a"),
      (2L, "a c"),
      (3L, "c c d")
    ).toDF("id", "text")
    val full = Retrieval.invertedIndex(corpus, "id", "text", maxPostings = 5)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(full("a") == ((2L, "1,2"))) // tf 2 in doc 1 beats tf 1 in doc 2
    assert(full("b") == ((1L, "1")))
    assert(full("c") == ((2L, "3,2"))) // tf 2 in doc 3 first
    assert(full("d") == ((1L, "3")))
    val capped = Retrieval.invertedIndex(corpus, "id", "text", maxPostings = 1)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(capped("a") == ((2L, "1"))) // df still counts BOTH postings
    assert(capped("c") == ((2L, "3")))
  }

  test("stratifiedSplit: exact per-stratum proportions and a full 1..n rank") {
    import graft.ops.Curation
    val df = ((1L to 10L).map(i => (i, "s1")) ++ (100L to 102L).map(i => (i, "s2")))
      .toDF("id", "stratum")
    val got = Curation.stratifiedSplit(df, "stratum", "id", trainPct = 80, valPct = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3)))
    val s1 = got.filter(_._2 == "s1")
    // 10 rows: rank*100 <= 1000*0.8 → exactly 8 train, 1 val, 1 test
    assert(s1.count(_._4 == "train") == 8 && s1.count(_._4 == "val") == 1
      && s1.count(_._4 == "test") == 1)
    assert(s1.map(_._3).sorted.toSeq == (1 to 10))
    val s2 = got.filter(_._2 == "s2")
    // 3 rows: floor boundaries → 2 train (2*100 <= 240), 0 val (3*100 > 270), 1 test
    assert(s2.count(_._4 == "train") == 2 && s2.count(_._4 == "val") == 0
      && s2.count(_._4 == "test") == 1)
    // deterministic: a rerun assigns identically
    val again = Curation.stratifiedSplit(df, "stratum", "id", trainPct = 80, valPct = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3)))
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("countMin: bounded pure-sum sketch, one-sided estimates, weights respected") {
    import graft.ops.{Dedup, Sketches}
    val hashUdf = udf((t: String) => Dedup.polyHash(t))
    val obs = Seq("a", "a", "a", "b", "b", "c").toDF("term")
      .withColumn("h", hashUdf(col("term")))
    val q = obs.groupBy("term").agg(count(lit(1)).as("exact"), max(col("h")).as("__h"))
    // tight geometry: collisions certain to be possible, error one-sided
    val tight = Sketches.countMin(obs, col("h"), lit(1L), depth = 2, width = 2)
    assert(tight.count() <= 4)
    val estT = Sketches.countMinEstimate(tight, q, col("__h"), depth = 2, width = 2)
      .select("term", "exact", "est")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    estT.values.foreach { case (exact, est) => assert(est >= exact) }
    // wide geometry: these three hashes land collision-free → est == exact
    val wide = Sketches.countMin(obs, col("h"), lit(1L), depth = 3, width = 1024)
    val estW = Sketches.countMinEstimate(wide, q, col("__h"), depth = 3, width = 1024)
      .select("term", "exact", "est")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(estW == Map("a" -> ((3L, 3L)), "b" -> ((2L, 2L)), "c" -> ((1L, 1L))))
    // weights are summed, not counted
    val weighted = Sketches.countMin(obs, col("h"), lit(10L), depth = 3, width = 1024)
    val estX = Sketches.countMinEstimate(weighted, q, col("__h"), depth = 3, width = 1024)
      .select("term", "est")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estX == Map("a" -> 30L, "b" -> 20L, "c" -> 10L))
  }

  test("winnowFingerprints: shared spans of w+k-1 chars always share a hash") {
    import graft.ops.TextOps
    val common = "abcdefgh" // 8 chars = w+k-1 at k=4, w=5
    val df = Seq((1L, "xx" + common + "qq"), (2L, "zzzzz" + common)).toDF("id", "text")
    val fps = TextOps.winnowFingerprints(df, "id", "text", k = 4, w = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val h1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val h2 = fps.filter(_._1 == 2L).map(_._2).toSet
    assert((h1 intersect h2).nonEmpty, s"h1=$h1 h2=$h2")
    // shorter than k → no positions; exactly k → the one whole-doc window
    val tiny = TextOps.winnowFingerprints(
        Seq((3L, "abc"), (4L, "abcd")).toDF("id", "text"), "id", "text", k = 4, w = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(!tiny.exists(_._1 == 3L))
    assert(tiny.filter(_._1 == 4L).toSeq == Seq((4L, 1L)))
    // far fewer fingerprints than positions (the point of winnowing)
    val dense = TextOps.winnowFingerprints(
        Seq((5L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text"),
        "id", "text", k = 4, w = 5).count()
    assert(dense > 0 && dense <= 41) // 41 positions; selection must not exceed them
  }

  test("qualityReport: null predicate results are violations; uniqueness counts dups") {
    import graft.ops.Curation
    val df = Seq(
      (java.lang.Long.valueOf(1L), "en", java.lang.Long.valueOf(10L)),
      (java.lang.Long.valueOf(1L), "xx", java.lang.Long.valueOf(-5L)), // dup id, bad lang, bad range
      (java.lang.Long.valueOf(2L), null, java.lang.Long.valueOf(3L))   // null lang → enum violation
    ).toDF("id", "lang", "n")
    val got = Curation.qualityReport(df, "id", Seq(
        "lang_enum" -> col("lang").isin("en", "de"),
        "n_nonneg" -> (col("n") >= 0)))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got("lang_enum") == ((2L, false))) // 'xx' AND the null both fail
    assert(got("n_nonneg") == ((1L, false)))
    assert(got("unique:id") == ((1L, false))) // 3 rows, 2 distinct ids
    // a clean frame passes everything
    val clean = Curation.qualityReport(
        Seq((1L, "en", 1L), (2L, "de", 2L)).toDF("id", "lang", "n"), "id",
        Seq("lang_enum" -> col("lang").isin("en", "de"), "n_nonneg" -> (col("n") >= 0)))
      .collect()
    assert(clean.forall(_.getBoolean(2)))
  }

  test("winnowFingerprints matches a brute-force reference on seeded random text") {
    import graft.ops.{Dedup, TextOps}
    val rng = new scala.util.Random(43L)
    val alpha = "ab "
    val rows = (1L to 40L).map(i =>
      (i, (0 until (rng.nextInt(30) + 1)).map(_ => alpha(rng.nextInt(alpha.length))).mkString))
    val k = 4; val w = 5
    val expect = rows.flatMap { case (id, text) =>
      val cps = text.codePoints().toArray
      val n = cps.length - k + 1
      if (n <= 0) Seq.empty
      else {
        val keys = Array.tabulate(n) { i =>
          var acc = 0L; var j = 0
          while (j < k) { acc = (acc * 131 + cps(i + j)) % Dedup.MersenneP; j += 1 }
          acc * 1048576L + (i + 1)
        }
        val full = math.max(n - w + 1, 1)
        (0 until full).map(j => keys.slice(j, math.min(j + w, n)).min)
          .distinct.map(key => (id, key / 1048576L, key % 1048576L))
      }
    }.toSet
    val got = TextOps.winnowFingerprints(rows.toDF("id", "text"), "id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect)
  }

  test("collocations matches a brute-force reference on seeded random token streams") {
    import graft.ops.Retrieval
    val rng = new scala.util.Random(47L)
    val vocab = Vector("x", "y", "z", "w")
    val rows = (1 to 60).map(_ =>
      (0 until (rng.nextInt(12) + 2)).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" "))
    val toks = rows.map(_.split(" ").toSeq)
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = toks.map(_.size.toLong).sum
    val bi = toks.flatMap(ws => ws.zip(ws.tail)).groupBy(identity)
      .view.mapValues(_.size.toLong).filter(_._2 >= 3L).toMap
    val expect = bi.map { case ((a, b), c) =>
      (a, b) -> (c, c * 1000000L * n / (uni(a) * uni(b)))
    }
    val got = Retrieval.collocations(rows.toDF("text"), "text", minCount = 3L, topK = 1000)
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect.map { case (k, (c, l)) => k -> ((c, l)) })
  }

  test("batchByLength: peers stay within one bucket width, batches fill in length order") {
    import graft.ops.Curation
    val df = Seq((1L, 10L), (2L, 20L), (3L, 130L), (4L, 140L), (5L, 15L))
      .toDF("id", "len")
    val got = Curation.batchByLength(df, "id", "len", batchSize = 2, bucketWidth = 128L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // bucket 0 holds 10/15/20 → batch 0 = (10, 15), batch 1 = (20)
    assert(got(1L) == ((0L, 0L, 0L)) && got(5L) == ((0L, 0L, 1L)) && got(2L) == ((0L, 1L, 0L)))
    // bucket 1 holds 130/140 in one batch
    assert(got(3L) == ((1L, 0L, 0L)) && got(4L) == ((1L, 0L, 1L)))
    // bounded padding: every batch's members share a bucket by construction
    val batches = Curation.batchByLength(df, "id", "len", batchSize = 2, bucketWidth = 128L)
      .groupBy("bucket", "batch_seq").count().collect()
    assert(batches.forall(_.getLong(2) <= 2))
  }

  test("collocations: glued pairs score high lift, independent pairs low, support filter holds") {
    import graft.ops.Retrieval
    // "new york" always adjacent (5x); "a b" co-occur but also apart
    val df = Seq(
      "new york a b", "new york b a", "new york a c", "new york c a", "new york b c"
    ).toDF("text")
    val got = Retrieval.collocations(df, "text", minCount = 5L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    // c(new york)=5, c(new)=5, c(york)=5, N=20 → lift = 5*1e6*20/(25) = 4e6
    assert(got(("new", "york")) == 4000000L)
    // every other bigram occurs < 5 times → filtered
    assert(got.size == 1)
    val loose = Retrieval.collocations(df, "text", minCount = 1L, topK = 100)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    // "york a" (2x), c(york)=5, c(a)=4: lift = 2*1e6*20/(5*4) = 2e6 < 4e6
    assert(loose(("york", "a")) == 2000000L)
    assert(loose(("new", "york")) > loose(("york", "a")))
  }

  test("minhashNearDupsAgainst: delta finds its index near-dup, fresh docs stay clean") {
    import graft.ops.Dedup
    val idx = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different content about spark catalyst optimizer internals")
    ).toDF("id", "text")
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again tomorrow"), // near-dup of 1
      (11L, "another unrelated document mentioning parquet columnar storage formats")
    ).toDF("id", "text")
    val got = Dedup.minhashNearDupsAgainst(delta, idx, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.contains((10L, 1L)))
    assert(!got.exists(_._1 == 11L))
    // only new-by-index pairs exist — never index-internal or delta-internal
    assert(got.forall { case (n, i) => n >= 10L && i < 10L })
  }

  test("hot-bucket cap: 1000 identical docs emit the 999 star pairs, not 499500") {
    // the parked-domain-farm shape: every LSH band bucket holds all 1000
    // docs; star-reduction must anchor every pair at the min id and keep
    // the cluster connected (999 pairs) without the B²/2 blowup.
    val clones = spark.range(1000)
      .select($"id", lit("graft identical template page " +
        "alpha beta gamma delta epsilon zeta eta theta").as("text"))
    val got = Dedup.minhashNearDups(clones, "id", "text",
        threshold = 0.5, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 999, s"expected 999 star pairs, got ${got.length}")
    assert(got.forall { case (a, b, j) => a == 0L && b > 0L && j == 1.0 })

    val sim = Dedup.simhashNearDups(clones, "id", "text",
        maxDist = 3, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sim.length == 999 && sim.forall(_._1 == 0L))
  }

  test("hot-bucket cap fires per side in minhashNearDupsAgainst") {
    val text = "graft identical template page alpha beta gamma delta epsilon zeta"
    val idx = spark.range(200).select($"id", lit(text).as("text"))
    val delta = spark.range(100).select(($"id" + 10000L).as("id"), lit(text).as("text"))
    // both sides' buckets are over-wide at maxBucket=10: each collapses
    // to its min id, so the hot cluster contributes exactly ONE pair
    val got = Dedup.minhashNearDupsAgainst(delta, idx, "id", "text",
        threshold = 0.5, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((10000L, 0L)), got.mkString(","))
  }

  test("hot-bucket cap: cosineNearDups star-reduces an identical-vector cluster") {
    val v = Array(0.5f, -0.25f, 0.125f, 1.0f)
    val clones = spark.range(300).select($"id",
      typedLit(v.toSeq).as("v"))
    val got = Similarity.cosineNearDups(clones, "id", "v",
        threshold = 0.9, maxBucket = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 299 && got.forall(_._1 == 0L))
  }

  test("hot-bucket cap leaves sub-threshold buckets untouched (default 1000)") {
    // the 5-doc fixture never trips the default cap: output identical to
    // the uncapped round-3 behavior
    val pairs = Dedup.minhashNearDups(docsDf, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 5L), (2L, 5L)))
  }

  test("mediaInfo: dispatch labels, typed unknowns, never throws on fuzz") {
    import graft.ops.Multimodal
    assert(Multimodal.mediaInfo("%PDF-1.4 junk".getBytes).kind == "document")
    // a REAL pdf labels page count (durationMs field) + MediaBox points
    val pdf = graft.pdf.PdfWriter.write(Vector(
      graft.pdf.PdfWriter.PageSpec(Vector(Vector("one"))),
      graft.pdf.PdfWriter.PageSpec(Vector(Vector("two")))))
    val pi = Multimodal.mediaInfo(pdf)
    assert(pi.kind == "document" && pi.format == "pdf" && pi.decodable &&
      pi.durationMs == 2L && pi.width > 0 && pi.height > 0, pi.toString)
    assert(Multimodal.mediaInfo("random text payload".getBytes).format == "unknown")
    assert(Multimodal.mediaInfo(Array.emptyByteArray).format == "empty")
    assert(Multimodal.mediaInfo(null).format == "empty")
    // a real TIFF through the minimal IFD walk
    val tiff = graft.codec.Tiff.encode(new Array[Byte](12 * 5), 12, 5, 1)
    val ti = Multimodal.mediaInfo(tiff)
    assert(ti.format == "tiff" && ti.width == 12 && ti.height == 5 && ti.decodable)
    // gif + bmp header reads
    val gif = graft.codec.Gif.encode(new Array[Byte](6 * 4), 6, 4,
      Array.tabulate(256 * 3)(i => i.toByte))
    assert(Multimodal.mediaInfo(gif).width == 6)
    val bmp = graft.codec.Bmp.encode(new Array[Byte](7 * 3 * 3), 7, 3)
    val bi = Multimodal.mediaInfo(bmp)
    assert(bi.format == "bmp" && bi.width == 7 && bi.height == 3)
    // fuzz: corrupt every family's bytes — must never throw
    val rng = new scala.util.Random(31)
    val seeds = Seq(tiff, gif, bmp,
      graft.codec.WebpVp8l.encode(new Array[Byte](4 * 4 * 3), 4, 4, 3),
      graft.codec.Mp3.synthesize(2, 3, 3, 9, 0, mono = true),
      graft.codec.Mp4.synthesize("isom", 1000, 500, 64, 48),
      graft.codec.Ogg.synthesize("opus", 1, 48000, 0, 2, 4800))
    seeds.foreach { base =>
      (0 until 100).foreach { _ =>
        val m = base.clone()
        m(rng.nextInt(m.length)) = rng.nextInt(256).toByte
        Multimodal.mediaInfo(m) // must not throw
      }
    }
  }

  test("mediaInfo: hostile payloads get typed rows, not forged dimensions") {
    import graft.ops.Multimodal
    // PNG whose FIRST chunk is not IHDR: the spec mandates IHDR-first, so
    // dimensions must NOT be read from whatever chunk sits at offset 16
    val forged = java.nio.ByteBuffer.allocate(64)
    forged.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    forged.putInt(13).put("gAMA".getBytes("US-ASCII")) // wrong chunk first
    forged.putInt(0x7fffffff).putInt(0x7fffffff)       // would read as w/h
    val fi = Multimodal.mediaInfo(java.util.Arrays.copyOf(forged.array(), 40))
    assert(fi.format == "png" && !fi.decodable && fi.width == 0 && fi.height == 0, fi.toString)
    // a REAL PNG still labels
    val png = graft.codec.Png.encode(new Array[Byte](5 * 4), 5, 4, 1)
    val pi = Multimodal.mediaInfo(png)
    assert(pi.format == "png" && pi.width == 5 && pi.height == 4 && pi.decodable)
    // WAV with a sub-byte bit depth (4-bit ADPCM-style): typed fence, not
    // a zero-divisor ArithmeticException swallowed into ("unknown","error")
    val wav = java.nio.ByteBuffer.allocate(60).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    wav.put("RIFF".getBytes); wav.putInt(48); wav.put("WAVE".getBytes)
    wav.put("fmt ".getBytes); wav.putInt(16)
    wav.putShort(17); wav.putShort(1); wav.putInt(8000) // IMA ADPCM, mono, 8 kHz
    wav.putInt(4000); wav.putShort(256); wav.putShort(4) // bits = 4
    wav.put("data".getBytes); wav.putInt(8); wav.put(new Array[Byte](8))
    val wi = Multimodal.mediaInfo(java.util.Arrays.copyOf(wav.array(), 56))
    assert(wi.kind == "audio" && wi.format == "wav" && !wi.decodable, wi.toString)
  }

  test("mediaInfo: SVG and HTML text sniffing, binary guard") {
    import graft.ops.Multimodal
    val svg = """<?xml version="1.0"?><svg xmlns="http://www.w3.org/2000/svg" width="120.5px" height="80" viewBox="0 0 240 160"><rect/></svg>"""
    val si = Multimodal.mediaInfo(svg.getBytes("UTF-8"))
    assert(si.kind == "image" && si.format == "svg" && si.width == 121 && si.height == 80, si.toString)
    // dims fall back to the viewBox when attributes are absent
    val vb = Multimodal.mediaInfo(
      """<svg viewBox="0 0 300 150"></svg>""".getBytes("UTF-8"))
    assert(vb.width == 300 && vb.height == 150, vb.toString)
    val html = Multimodal.mediaInfo(
      "<!DOCTYPE html><html><head><title>t</title></head><body></body></html>".getBytes)
    assert(html.kind == "document" && html.format == "html" && html.decodable, html.toString)
    // fragment with <html> deep inside the first KiB still sniffs
    val frag = Multimodal.mediaInfo(("x" * 200 + "<HTML lang=en>").getBytes)
    assert(frag.format == "html")
    // plain text and binary-ish payloads stay unknown
    assert(Multimodal.mediaInfo("just ordinary words, no markup".getBytes).format == "unknown")
    assert(Multimodal.mediaInfo(("<svg " + "\u0000ab").getBytes("ISO-8859-1")).format == "unknown")
  }

  test("mediaInfo: an HTML page opening with an inline SVG logo is a document, not an image") {
    import graft.ops.Multimodal
    val logo = """<svg width="24" height="24" viewBox="0 0 24 24"><path d="M0 0h24v24H0z"/></svg>"""
    for (page <- Seq(
        s"<!DOCTYPE html><html><head><title>t</title></head><body>$logo<p>text</p></body></html>",
        s"<html><body><header>$logo</header><main>text</main></body></html>")) {
      assert(page.indexOf("<svg") < 256, page)
      val mi = Multimodal.mediaInfo(page.getBytes("UTF-8"))
      assert(mi.kind == "document" && mi.format == "html" && mi.decodable, s"$mi for $page")
    }
    // standalone SVG, with or without the XML declaration, stays an image
    // even when it embeds HTML after its own <svg> tag
    for (svg <- Seq(logo, """<?xml version="1.0"?>""" + logo,
        """<svg width="5" height="6"><foreignObject><html><body/></html></foreignObject></svg>""")) {
      val mi = Multimodal.mediaInfo(svg.getBytes("UTF-8"))
      assert(mi.kind == "image" && mi.format == "svg" && mi.width > 0, s"$mi for $svg")
    }
  }

  test("majorityStats: majority, deterministic ties, exact mixed fraction") {
    import graft.ops.Curation
    val df = Seq(
      ("s1", "en"), ("s1", "en"), ("s1", "en"), ("s1", "de"),
      ("s2", "fr"), ("s2", "de") // tie → lexicographically smallest wins
    ).toDF("key", "lab")
    val got = Curation.majorityStats(df, "key", col("lab"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("s1") == (("en", 4L, 3L, 250000L)))
    assert(got("s2") == (("de", 2L, 1L, 500000L)))
  }

  test("budgetTake matches a brute-force reference on seeded random data") {
    import graft.ops.Curation
    val rng = new scala.util.Random(13L)
    val rows = (1L to 300L).map(i => (i, rng.nextInt(50) + 1L, rng.nextInt(5000).toLong))
    val df = rows.toDF("id", "toks", "q")
    val budget = rows.map(_._2).sum * 3 / 10
    // reference: sort by (quality desc, id asc), inclusive cumsum <= budget
    var cum = 0L
    val expect = rows.sortBy(t => (-t._3, t._1)).map { case (id, toks, _) =>
      cum += toks; id -> (cum, cum <= budget)
    }.toMap
    val got = Curation.budgetTake(df, "id", "toks", "q", budget, bucketWidth = 64L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(got == expect)
  }

  test("globalQuantiles matches a brute-force reference on seeded random data") {
    import graft.ops.Curation
    val rng = new scala.util.Random(29L)
    val rows = (1L to 500L).map(i => (i, rng.nextInt(1000).toLong))
    val df = rows.map { case (i, v) => (v, i) }.toDF("v", "tb")
    val qs = Seq(0.0, 0.1, 0.37, 0.5, 0.99, 1.0)
    val sorted = rows.map { case (i, v) => (v, i) }.sortBy(identity)
    val expect = qs.map { q =>
      q -> sorted(math.floor((sorted.length - 1) * q).toInt)._1
    }.toMap
    val got = Curation.globalQuantiles(df, "v", "tb", qs, bucketWidth = 32L)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("thresholdSweep matches a brute-force reference on seeded random data") {
    import graft.ops.Curation
    val rng = new scala.util.Random(31L)
    val rows = (1 to 400).map(_ => (rng.nextInt(60).toLong, rng.nextBoolean()))
    val df = rows.toDF("score", "label")
    val nTotal = rows.length.toLong
    val posTotal = rows.count(_._2).toLong
    val expect = rows.map(_._1).distinct.map { s =>
      val kept = rows.filter(_._1 >= s)
      val tp = kept.count(_._2).toLong
      val n = kept.length.toLong
      s -> ((n, tp, tp * 1000000L / n, tp * 1000000L / posTotal, n * 1000000L / nTotal))
    }.toMap
    val got = Curation.thresholdSweep(df, "score", "label", bucketWidth = 16L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == expect)
  }

  test("rateDivergence: zero iff rate vectors identical; drift raises the statistic") {
    import graft.ops.Curation
    val a = Seq(("s1", "x x y"), ("s2", "p q")).toDF("key", "text")
    // identical slices → divergence exactly 0 everywhere
    val same = Curation.rateDivergence(a, a, "key", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(same == Map("s1" -> ((2L, 0L)), "s2" -> ((2L, 0L))))
    // s1 shifts (y disappears), s2 unchanged
    val b = Seq(("s1", "x x x"), ("s2", "p q")).toDF("key", "text")
    val drift = Curation.rateDivergence(a, b, "key", "text")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(drift("s1") > 0L && drift("s2") == 0L)
    // deterministic
    val again = Curation.rateDivergence(a, b, "key", "text")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(again == drift)
  }

  test("globalQuantiles: exact type-1 ranks, bucket-width invariant") {
    import graft.ops.Curation
    // values 10..109 (n=100): q=0 → rank 1 → 10; q=0.5 → rank 50 → 59;
    // q=1 → rank 100 → 109; q=0.25 → rank floor(99*.25)+1=25 → 34
    val df = (10L to 109L).map(v => (v, v * 7)).toDF("v", "tb")
    def run(width: Long) = Curation.globalQuantiles(df, "v", "tb",
        qs = Seq(0.0, 0.25, 0.5, 1.0), bucketWidth = width)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val got = run(16L)
    assert(got == Map(0.0 -> 10L, 0.25 -> 34L, 0.5 -> 59L, 1.0 -> 109L))
    // buckets are internal
    assert(run(1L) == got && run(1000000L) == got)
    // ties: duplicated values resolve by tiebreak, still rank-exact
    val dup = Seq((5L, 1L), (5L, 2L), (5L, 3L), (9L, 4L)).toDF("v", "tb")
    val g2 = Curation.globalQuantiles(dup, "v", "tb", qs = Seq(0.5, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(g2 == Map(0.5 -> 5L, 1.0 -> 9L)) // rank floor(3*.5)+1 = 2 → 5
  }

  test("pqAdcTopK: the query's own cluster ranks first; estimates are code-exact") {
    import graft.ops.Clustering
    val df = Seq(
      (1L, Seq(1.0f, 1.0f, 9.0f, 9.0f)),
      (2L, Seq(-1.0f, -1.0f, -9.0f, -9.0f)),
      (3L, Seq(1.0f, 1.0f, -9.0f, -9.0f)),
      (4L, Seq(-1.0f, -1.0f, 9.0f, 9.0f))
    ).toDF("id", "vec")
    val got = Clustering.pqAdcTopK(df, "id", "vec", dims = 4, queryId = 1L,
        topK = 4, m = 2, k = 2, iterations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // centroids converge exactly onto the duplicated subvectors, so ADC
    // against query 1 is exact: itself at 0; 3 shares sub 0, 4 shares sub 1
    assert(got.head == ((1L, 0L)))
    val m = got.toMap
    // sub distances: (1,1) vs (-1,-1) = 2*(2e6)^2 = 8e12; (9,9) vs (-9,-9) = 2*(18e6)^2
    assert(m(3L) == 2L * 18000000L * 18000000L)
    assert(m(4L) == 8000000000000L)
    assert(m(2L) == m(3L) + m(4L))
  }

  test("pqCodes: per-subspace codes are independent; identical subvectors share codes") {
    import graft.ops.Clustering
    // 4-dim vectors, 2 subspaces of 2 dims. Seeds are the two smallest
    // ids (1, 2) — they differ in BOTH subspaces, and the groupings
    // disagree across subspaces: {1,3}/{2,4} in sub 0, {1,4}/{2,3} in sub 1
    val df = Seq(
      (1L, Seq(1.0f, 1.0f, 9.0f, 9.0f)),
      (2L, Seq(-1.0f, -1.0f, -9.0f, -9.0f)),
      (3L, Seq(1.0f, 1.0f, -9.0f, -9.0f)),
      (4L, Seq(-1.0f, -1.0f, 9.0f, 9.0f))
    ).toDF("id", "vec")
    val got = Clustering.pqCodes(df, "id", "vec", dims = 4, m = 2, k = 2, iterations = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == 8) // 4 vectors x 2 subspaces
    // same subvector → same code and error
    assert(got((1L, 0)) == got((3L, 0)))
    assert(got((2L, 0)) == got((4L, 0)))
    assert(got((1L, 1)) == got((4L, 1)))
    assert(got((2L, 1)) == got((3L, 1)))
    // the two groups in each subspace get DIFFERENT codes (k=2 separates
    // them), and the groupings are INDEPENDENT across subspaces
    assert(got((1L, 0))._1 != got((2L, 0))._1)
    assert(got((1L, 1))._1 != got((2L, 1))._1)
    assert(got((3L, 0))._1 != got((3L, 1))._1 || got((3L, 0))._1 == got((1L, 0))._1)
    // exact-integer protocol: centroids converge onto the duplicated
    // subvectors, so the final quantization error is exactly 0
    assert(got.values.forall(_._2 == 0L))
  }

  test("scalarQuantizeCodes: endpoints hit 0/255, constant dims code to 0, order preserved") {
    import graft.ops.Similarity
    val df = Seq(
      (1L, Seq(0.0f, 5.0f, 1.0f)),
      (2L, Seq(1.0f, 5.0f, 2.0f)),
      (3L, Seq(0.5f, 5.0f, 3.0f))
    ).toDF("id", "vec")
    val got = Similarity.scalarQuantizeCodes(df, "id", "vec")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // dim 0: min 0.0 → 0, max 1.0 → 255, midpoint → floor(127.5) = 127
    assert(got((1L, 0)) == 0L && got((2L, 0)) == 255L && got((3L, 0)) == 127L)
    // dim 1 constant → all 0 (no division by zero)
    assert(Seq(1L, 2L, 3L).forall(i => got((i, 1)) == 0L))
    // dim 2 monotone in the input: 1.0 < 2.0 < 3.0
    assert(got((1L, 2)) < got((2L, 2)) && got((2L, 2)) < got((3L, 2)))
    // null vectors are dropped, not NPE'd
    val withNull = df.union(Seq((4L, null.asInstanceOf[Seq[Float]])).toDF("id", "vec"))
    assert(Similarity.scalarQuantizeCodes(withNull, "id", "vec")
      .filter(col("id") === 4L).isEmpty)
  }

  test("bloomSemiFlag: members always flagged, non-members drop with wide filters") {
    import graft.ops.Curation
    val corpus = (1L to 200L).map(i => (i, s"row$i")).toDF("id", "payload")
    val keys = Seq(3L, 50L, 199L).toDF("k")
    // wide geometry → no false positives for this tiny key set
    val wide = Curation.bloomSemiFlag(corpus, "id", keys, "k", numHashes = 3, bits = 8192)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(wide(3L) && wide(50L) && wide(199L))
    assert(wide.count(_._2) == 3) // exactly the members at this geometry
    // one-sided: members are flagged at ANY geometry, however tight
    val tight = Curation.bloomSemiFlag(corpus, "id", keys, "k", numHashes = 2, bits = 64)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(tight(3L) && tight(50L) && tight(199L))
    assert(tight.count(_._2) >= 3) // false positives only ADD rows
  }

  test("weightedSamplePerKey: exact k, deterministic, weight-monotone priorities") {
    import graft.ops.Curation
    val df = (1L to 40L).map(i => (i, if (i <= 25) "s1" else "s2", 500000L))
      .toDF("id", "key", "wm")
    def run() = Curation.weightedSamplePerKey(df, "key", "id", col("wm"), k = 7)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(4), r.getInt(5)))
    val got = run()
    // exactly min(k, n) per key, ranks 1..k
    assert(got.count(_._2 == "s1") == 7 && got.count(_._2 == "s2") == 7)
    assert(got.filter(_._2 == "s1").map(_._4).sorted.toSeq == (1 to 7))
    // pure function of (salt, id, weight): reruns identical
    assert(run().sortBy(_._1).toSeq == got.sortBy(_._1).toSeq)
    // doubling a row's weight never raises its priority (same ticket)
    val pLow = Curation.weightedSamplePerKey(
        Seq((9L, "k", 200000L)).toDF("id", "key", "wm"), "key", "id", col("wm"), k = 1)
      .collect().head.getLong(4)
    val pHigh = Curation.weightedSamplePerKey(
        Seq((9L, "k", 400000L)).toDF("id", "key", "wm"), "key", "id", col("wm"), k = 1)
      .collect().head.getLong(4)
    assert(pHigh <= pLow)
    // weights clamp to [1, 1e6] — zero/negative weights don't divide by zero
    val clamped = Curation.weightedSamplePerKey(
        Seq((1L, "k", 0L), (2L, "k", -5L)).toDF("id", "key", "wm"), "key", "id", col("wm"), k = 2)
      .collect().map(_.getLong(3))
    assert(clamped.forall(_ == 1L))
  }

  test("winnowPairs: shared spans surface as pairs; hot buckets suppressed by the cap") {
    import graft.ops.TextOps
    val span = "qwertyui" // every doc ends with " qwertyui" → shared grams have df=3
    val df = Seq((1L, "aa1 " + span), (2L, "bb22 " + span), (3L, "cc333 " + span))
      .toDF("id", "text")
    val open = TextOps.winnowPairs(df, "id", "text", k = 4, w = 5, maxBucket = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(open.map(p => (p._1, p._2)).toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)), open.toSeq)
    assert(open.forall(_._3 >= 1))
    // cap 2: every shared gram is carried by all 3 docs → dropped → no pairs
    val capped = TextOps.winnowPairs(df, "id", "text", k = 4, w = 5, maxBucket = 2)
    assert(capped.isEmpty)
  }

  test("containmentStats: wholesale quote scores full containment, jaccard dilutes") {
    import graft.ops.Dedup
    val corpus = Seq(
      (1L, "a b c d"),                 // 3-grams {abc, bcd}
      (2L, "a b c d e f g h i j"),     // contains ALL of doc 1's grams + 6 more
      (3L, "x y z")                    // disjoint single whole-text gram
    ).toDF("id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.containmentStats(corpus, "id", "text", pairs, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // doc 1 fully inside doc 2: containment_a = 1.0 while jaccard = 2/8
    assert(got((1L, 2L)) == ((2L, 1000000L, 250000L, 250000L)))
    // disjoint pair present with zeros (left join keeps the candidate)
    assert(got((1L, 3L)) == ((0L, 0L, 0L, 0L)))
  }

  test("domainBlocked: suffix semantics — parent-domain entries catch subdomains") {
    import graft.ops.WebOps
    val df = Seq("ads.tracker.EXAMPLE.com", "example.com", "news.site.org",
      "notexample.com", "a.b.c.net").toDF("host")
      .withColumn("blocked", WebOps.domainBlocked(col("host"), Seq("example.com", "c.net")))
    val got = df.collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got("ads.tracker.EXAMPLE.com") && got("example.com") && got("a.b.c.net"))
    // suffix match is LABEL-wise: notexample.com must NOT match example.com
    assert(!got("notexample.com") && !got("news.site.org"))
  }

  test("sourceOverlap: exact pairwise jaccard, zero-overlap pairs absent") {
    import graft.ops.Curation
    val df = Seq(
      ("s1", "a b c"), ("s1", "c a"),     // vocab {a,b,c}
      ("s2", "b c d"),                    // vocab {b,c,d}
      ("s3", "x y")                       // vocab {x,y} — disjoint
    ).toDF("source", "text")
    val got = Curation.sourceOverlap(df, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // |{b,c}| = 2, union 4 → 0.5
    assert(got == Map(("s1", "s2") -> ((2L, 500000L))))
    // order canonical: src_a < src_b always
    assert(!got.contains(("s2", "s1")))
  }

  test("noveltyStats: first doc owns shared k-grams, later copies score zero") {
    import graft.ops.Curation
    val df = Seq(
      (1L, "a b c d e f"), // 6 words → 2 shingles, both first-seen here
      (2L, "a b c d e f"), // identical → 0 novel
      (3L, "x y z w v")    // ≤5 words → 1 whole-text shingle, novel
    ).toDF("id", "text")
    val got = Curation.noveltyStats(df, "id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((2L, 2L, 1000000L)))
    assert(got(2L) == ((2L, 0L, 0L)))
    assert(got(3L) == ((1L, 1L, 1000000L)))
    // partial overlap: doc 4 shares one shingle with 1, adds one new
    val df2 = df.union(Seq((4L, "b c d e f g")).toDF("id", "text"))
    val g2 = Curation.noveltyStats(df2, "id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(g2(4L) == ((2L, 1L))) // "b c d e f" owned by doc 1; "c d e f g" novel
  }

  test("thresholdSweep: operating points exact at every observed cutoff") {
    import graft.ops.Curation
    val df = Seq((10L, true), (10L, false), (20L, false), (30L, true))
      .toDF("score", "label")
    def run(width: Long) = Curation.thresholdSweep(df, "score", "label", width)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    val got = run(256L)
    // threshold 30: keep {30} → 1 row, 1 tp, prec 1.0, recall 1/2, kept 1/4
    assert(got(30L) == ((1L, 1L, 1000000L, 500000L, 250000L)))
    // threshold 20: keep {20,30} → prec 1/2, recall 1/2, kept 1/2
    assert(got(20L) == ((2L, 1L, 500000L, 500000L, 500000L)))
    // threshold 10: keep all → prec 2/4, recall 1.0, kept 1.0
    assert(got(10L) == ((4L, 2L, 500000L, 1000000L, 1000000L)))
    // buckets are internal
    assert(run(1L) == got && run(1000000L) == got)
  }

  test("budgetTake: exact boundary, bucket-width invariance, determinism") {
    import graft.ops.Curation
    // (quality desc, id asc) order: 3 (cum 5), 1 (cum 9), 2 (cum 12), 4 (cum 14)
    val df = Seq((1L, 4L, 20L), (2L, 3L, 20L), (3L, 5L, 30L), (4L, 2L, 5L))
      .toDF("id", "toks", "q")
    def run(budget: Long, width: Long) =
      Curation.budgetTake(df, "id", "toks", "q", budget, width)
        .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    val got = run(12L, 256L)
    assert(got == Map(3L -> ((5L, true)), 1L -> ((9L, true)),
      2L -> ((12L, true)), 4L -> ((14L, false))))
    // inclusive boundary: budget 11 excludes the doc that crosses it
    assert(run(11L, 256L)(2L) == ((12L, false)))
    // buckets are internal: any width gives the identical global cumsum
    assert(run(12L, 1L) == got && run(12L, 1000000L) == got)
    // ties on quality break by id: 1 (id asc) accumulates before 2
    assert(got(1L)._1 < got(2L)._1)
  }

  test("importanceResample: boundary weights, clamping, and the stable ticket hash") {
    import graft.ops.Curation
    val df = Seq((1L, 0L), (2L, 1000000L), (3L, 5000000L), (4L, -7L))
      .toDF("id", "w")
    val got = Curation.importanceResample(df, "id", col("w"))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    got.foreach { case (id, (wm, ticket, acc)) =>
      assert(ticket == Dedup.polyHash("rs:" + id) % 1000000L)
      assert(acc == (ticket < wm))
    }
    assert(got(1L)._1 == 0L && !got(1L)._3)            // weight 0: never accepted
    assert(got(2L)._1 == 1000000L && got(2L)._3)       // weight 1e6: always accepted
    assert(got(3L)._1 == 1000000L)                     // clamped from above
    assert(got(4L)._1 == 0L && !got(4L)._3)            // clamped from below
  }

  test("shardPlan: greedy byte packing per key, deterministic order, exact manifests") {
    import graft.ops.Curation
    // key a: bytes 3,4,4,4 with target 8 → before-sums 0,3,7,11 → shards 0,0,0,1
    val df = Seq(("a", 1L, "xxx"), ("a", 2L, "yyyy"), ("a", 3L, "zzzz"),
      ("a", 4L, "wwww"), ("b", 9L, "kk")).toDF("k", "ord", "t")
    val got = Curation.shardPlan(df, "k", "ord", octet_length(col("t")), 8L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == Map(
      ("a", 0L) -> ((3L, 11L, 1L, 3L)),
      ("a", 1L) -> ((1L, 4L, 4L, 4L)),
      ("b", 0L) -> ((1L, 2L, 9L, 9L))), got.toString)
    // a single oversized row still lands alone in its own shard
    val big = Seq(("a", 1L, "x" * 20), ("a", 2L, "yy")).toDF("k", "ord", "t")
    val g2 = Curation.shardPlan(big, "k", "ord", octet_length(col("t")), 8L)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(g2 == Map(0L -> 1L, 2L -> 1L)) // next shard skips to floor(20/8)=2
  }

  test("rankBuckets: exact per-key terciles, total order, sizes within one") {
    import graft.ops.Curation
    val df = (1L to 10L).map(i => ("k", i, 100L - i)) :+ (("solo", 99L, 5L))
    val got = Curation.rankBuckets(df.toDF("k", "id", "v"), "k", "id", col("v"), 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    // values descend with id, so rank order is id DESC: ids 10,9,8,7 → bucket 0
    assert((7L to 10L).forall(i => got(("k", i)) == 0L))
    assert((4L to 6L).forall(i => got(("k", i)) == 1L))
    assert((1L to 3L).forall(i => got(("k", i)) == 2L))
    assert(got(("solo", 99L)) == 0L) // n=1: rank 1 of 1 → bucket 0
    // tie on value breaks by id: deterministic buckets
    val ties = Seq(("k", 1L, 7L), ("k", 2L, 7L), ("k", 3L, 7L)).toDF("k", "id", "v")
    val t = Curation.rankBuckets(ties, "k", "id", col("v"), 3)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(t == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("bitextPairs: keys on (host, rest), filters non-lang and other-lang segments") {
    import graft.ops.WebOps
    val urls = Seq(
      "http://a.example/en/x/1", "http://a.example/fr/x/1",   // pair
      "http://A.EXAMPLE/en/y", "http://a.example/fr/y",       // pair (host lowercased)
      "http://a.example/en/z",                                // unpaired
      "http://b.example/en/x/1",                              // same rest, other host
      "http://a.example/raw/w", "http://a.example/de/x/1"     // non-lang / other lang
    ).toDF("url")
    val got = WebOps.bitextPairs(urls, "url", "en", "fr")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("a.example/x/1", "http://a.example/en/x/1", "http://a.example/fr/x/1"),
      ("a.example/y", "http://A.EXAMPLE/en/y", "http://a.example/fr/y")), got.toString)
  }

  test("scriptProfile: codepoint ranges, supplementary plane, dominant ties") {
    import graft.ops.TextOps.scriptProfileKernel
    val p = scriptProfileKernel("ab с中9 é!😀")
    // a,b,é latin; с cyrillic; 中 cjk; 9 digit; 2 spaces; '!' + emoji other
    assert((p.n_latin, p.n_cyrillic, p.n_cjk, p.n_digit, p.n_space, p.n_other)
      == ((3L, 1L, 1L, 1L, 2L, 2L)), p.toString)
    assert(p.dominant == "latin")
    assert(scriptProfileKernel("ая").dominant == "cyrillic")
    assert(scriptProfileKernel("中本").dominant == "cjk")
    assert(scriptProfileKernel("з中").dominant == "cyrillic") // tie: cyr > cjk
    assert(scriptProfileKernel("aб").dominant == "latin")    // tie: latin first
    assert(scriptProfileKernel("123 !").dominant == "none")
    assert(scriptProfileKernel(null).dominant == "none")
    // kana counts as cjk
    assert(scriptProfileKernel("あ").n_cjk == 1L)
  }

  test("coCitation: shared-target pairs, fan-out cap bounds hubs, total top-k order") {
    import graft.ops.Graph
    // targets: t1 shared by a,b,c; t2 by a,b; hub 99 by a..e but capped at 3
    val edges = (Seq(("a", 1L), ("b", 1L), ("c", 1L), ("a", 2L), ("b", 2L))
      ++ Seq("a", "b", "c", "d", "e").map(s => (s, 99L))
      ++ Seq(("a", 1L))) // duplicate edge: must collapse
      .toDF("s", "d")
    val got = Graph.coCitation(edges, "s", "d", maxFanout = 3, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // hub 99 keeps a,b,c (cap=3, src asc): d,e vanish from every pair
    assert(got.head == (("a", "b", 3L)), got.mkString(","))
    assert(got.toSet == Set(("a", "b", 3L), ("a", "c", 2L), ("b", "c", 2L)), got.mkString(","))
    assert(!got.exists { case (x, y, _) => Set(x, y).exists(Set("d", "e")) })
    // ordered: shared desc, then pair asc
    assert(got.toSeq == got.sortBy { case (a, b, n) => (-n, a, b) }.toSeq)
  }

  test("sentenceLangMix: mixed-language sentences counted against the doc id") {
    import graft.ops.TextOps
    val df = Seq(
      (1L, "the cat and the dog ran and the bird flew. der hund und der baum. the end and more and more"),
      (2L, "the cat and the dog ran. the bird and the fish swam")
    ).toDF("id", "t")
    val got = TextOps.sentenceLangMix(df, "id", "t")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) == (("en", 3L, 2L, 666666L)), got.toString) // 1 German sentence
    assert(got(2L) == (("en", 2L, 2L, 1000000L)), got.toString)
  }

  test("DomProfile: real tree builder — depth, counts, implied closes, void elements") {
    import graft.extract.DomProfile.profileKernel
    val p = profileKernel("<html><head><title>T</title></head><body><div><div>xx</div></div><p>y</p></body></html>")
    assert((p.n_elems, p.max_depth, p.text_chars, p.n_text_nodes) == ((7L, 4L, 4L, 3L)), p.toString)
    // implied close: second <p> closes the first — depth stays 2, both siblings
    val q = profileKernel("<div><p>a<p>b</div>")
    assert((q.n_elems, q.max_depth) == ((3L, 2L)), q.toString)
    // void elements don't nest
    val v = profileKernel("<div><br><img src=x>t</div>")
    assert((v.n_elems, v.max_depth) == ((3L, 2L)), v.toString)
    assert(profileKernel(null) == graft.extract.DomProfile.DomStats(0L, 0L, 0L, 0L))
  }

  test("perceptronTrain matches a driver-side brute-force replay of the batch rule") {
    import graft.ops.{Clustering, TextOps}
    val df = Seq(
      (1L, "clean sentences with words, punctuation and reasonable length here."),
      (2L, "!!!! ??? ,,,, spam spam"),
      (3L, "another perfectly ordinary document with enough words to pass the gate."),
      (4L, "x"),
      (5L, "the quick brown fox jumps over the lazy dog near the river bank today.")
    ).toDF("doc_id", "text")
    val dims = 4; val epochs = 3; val bar = 700000L
    val got = Clustering.perceptronTrain(df, "doc_id", "text", dims, epochs, bar)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == epochs * (dims + 1))
    // brute-force replay from the SAME feature/label frames
    val feats = TextOps.hashEmbedding(df, "doc_id", "text", dims)
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2)))
    val ys = df.select($"doc_id", when(
        TextOps.qualityScoreMicro($"text") >= bar, 1L).otherwise(-1L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = feats.map(_._1).distinct.sorted
    val w = Array.fill(dims)(0L); var b = 0L
    for (e <- 1 to epochs) {
      val mis = ids.filter { id =>
        val dot = feats.filter(_._1 == id).map { case (_, d, v) => v * w(d) }.sum
        ys(id) * (dot + b) <= 0L
      }
      mis.foreach { id =>
        feats.filter(_._1 == id).foreach { case (_, d, v) => w(d) += ys(id) * v }
        b += ys(id)
      }
      assert(got((e.toLong, -1L)) == ((b, mis.size.toLong)), s"epoch $e bias")
      (0 until dims).foreach(d =>
        assert(got((e.toLong, d.toLong)) == ((w(d), mis.size.toLong)), s"epoch $e dim $d"))
    }
    // the teacher split actually has both classes
    assert(ys.values.toSet == Set(1L, -1L), ys.toString)
  }

  test("frontierExpand: known urls drop, hosts cap, unparseable hosts excluded") {
    import graft.ops.WebOps
    val known = Seq("http://a.example/p1", "http://b.example/p2").toDF("url")
    val out = Seq(
      "http://a.example/p1",  // already known
      "http://a.example/p3", "http://a.example/p4", "http://a.example/p5",
      "http://b.example/p9", "http://b.example/p9", // duplicate discovery
      "not a url"
    ).toDF("link")
    val got = WebOps.frontierExpand(known, "url", out, "link", perHostCap = 2)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSet == Set(
      ("a.example", "http://a.example/p3"), ("a.example", "http://a.example/p4"),
      ("b.example", "http://b.example/p9")), got.mkString(","))
  }

  test("kAnonymityGate: cohort sizes and suppression flags match brute force") {
    import graft.ops.Curation
    val rows = Seq(
      (1L, "a", "en", 0L), (2L, "a", "en", 0L), (3L, "a", "en", 0L),
      (4L, "a", "de", 0L), (5L, "b", "en", 1L), (6L, "b", "en", 1L),
      (7L, "c", "zh", 2L))
    val df = rows.toDF("id", "source", "lang", "bucket")
    val got = Curation.kAnonymityGate(df, Seq("source", "lang", "bucket"), k = 3L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(4), r.getBoolean(5)))).toMap
    val sizes = rows.groupBy(r => (r._2, r._3, r._4)).map { case (k2, v) => k2 -> v.size }
    for ((id, s2, l, b) <- rows) {
      val n = sizes((s2, l, b))
      assert(got(id) == ((n.toLong, n < 3)), s"id $id")
    }
  }

  test("robots RFC 9309 matching: wildcards, end anchors, longest-match, allow ties") {
    import graft.ops.WebOps.{robotsPathMatch => m, robotsRulesKernel, robotsVerdict}
    // wildcard + anchor semantics (the REP spec's documented examples)
    assert(m("/fish", "/fish.html") && m("/fish", "/fishheads/x") && !m("/fish", "/Fish"))
    assert(m("/fish*", "/fish.html") && !m("/fish*", "/catfish"))
    assert(m("/fish/", "/fish/salmon") && !m("/fish/", "/fish"))
    assert(m("/*.php", "/index.php") && m("/*.php", "/folder/any.php.file") && !m("/*.php", "/php/"))
    assert(m("/*.php$", "/index.php") && !m("/*.php$", "/index.php?x=1") && !m("/*.php$", "/index.php5"))
    assert(m("/fish*.php", "/fish.php") && m("/fish*.php", "/fishheads/catfish.php?p=1"))
    assert(m("/a*b/", "/axxb/c") && m("/a*b/", "/ab/c") && !m("/a*b/", "/b/a") && !m("/a*b/", "/axx"))
    assert(m("/$", "/") && !m("/$", "/x"))
    // longest-match precedence, allow wins ties
    val r1 = robotsRulesKernel("User-agent: *\nDisallow: /\nAllow: /p\n")
    assert(!robotsVerdict(r1, "/page") && robotsVerdict(r1, "/x"))
    val r2 = robotsRulesKernel("User-agent: *\nAllow: /folder\nDisallow: /folder\n")
    assert(!robotsVerdict(r2, "/folder/page")) // tie -> allow
    val r3 = robotsRulesKernel("User-agent: *\nAllow: /page\nDisallow: /*.htm\n")
    assert(robotsVerdict(r3, "/page.htm")) // "/*.htm" (6) beats "/page" (5)
    val r4 = robotsRulesKernel("User-agent: *\nDisallow: /private\nAllow: /private/pub\n")
    assert(!robotsVerdict(r4, "/private/pub/x") && robotsVerdict(r4, "/private/sec"))
    assert(!robotsVerdict(Array.empty[String], "/anything"))
  }

  test("resolveRedirects: pointer doubling matches a brute-force walk on random functional graphs") {
    import graft.ops.WebOps
    val rnd = new scala.util.Random(77)
    for (trial <- 0 until 3) {
      val n = 60
      val edges = (0 until n).flatMap { i =>
        if (rnd.nextDouble() < 0.7) Some((i.toLong, rnd.nextInt(n).toLong)) else None
      }
      val edgeMap = edges.toMap
      val maxHops = 16
      def brute(src: Long): (Option[Long], Long, Boolean) = {
        var cur = src; var hops = 0L
        while (hops < maxHops && edgeMap.contains(cur)) { cur = edgeMap(cur); hops += 1 }
        if (edgeMap.contains(cur)) (None, -1L, true) else (Some(cur), hops, false)
      }
      val df = edges.toDF("src", "dst")
      val got = WebOps.resolveRedirects(df, "src", "dst", maxHops)
        .collect()
        .map(r => r.getLong(0) -> ((if (r.isNullAt(1)) None else Some(r.getLong(1))),
          r.getLong(2), r.getBoolean(3))).toMap
      assert(got.keySet == edgeMap.keySet, s"trial $trial: source set")
      for (src <- edgeMap.keys)
        assert(got(src) == brute(src), s"trial $trial src $src")
    }
    // self-loop is the minimal cycle
    val self = Seq((5L, 5L)).toDF("src", "dst")
    val r = WebOps.resolveRedirects(self, "src", "dst", 8).collect().head
    assert(r.isNullAt(1) && r.getLong(2) == -1L && r.getBoolean(3))
  }

  test("bpeEncodeStats: rank-ordered merges, chained consumption, exact counts") {
    import graft.ops.TextOps
    val merges = Seq(("e", "r"), ("t", "h"), ("th", "e"), ("a", "n"), ("an", "d"))
    val df = Seq((1L, "the and other xyz")).toDF("id", "t")
    // the → [t h e] → th e → the (1); and → a n d → an d → and (1)
    // other → o t h e r → o th e r → o the r (3); xyz stays 3
    val got = TextOps.bpeEncodeStats(df, "id", "t", merges)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.head == ((4L, 14L, 8L, 571428L)), got.mkString(","))
    // 'er' merge must apply before 'th': "ther" → th e r? no — e r first → t h er → th er (2)
    val g2 = TextOps.bpeEncodeStats(Seq((1L, "ther")).toDF("id", "t"), "id", "t", merges)
      .collect().map(_.getLong(3))
    assert(g2.head == 2L, g2.mkString(","))
  }

  test("linkDensityKernel: anchor subtree attribution, nested anchors, zero-text guard") {
    import graft.extract.DomProfile.linkDensityKernel
    val p = linkDensityKernel("<body><a href=u>link</a>text<div><a>go</a></div></body>")
    assert((p.text_chars, p.anchor_chars, p.n_anchors) == ((10L, 6L, 2L)), p.toString)
    assert(p.density_micro == 600000L)
    // nested anchor: inner <a> counts as an anchor, text attributed once
    val n = linkDensityKernel("<a>x<a>y</a></a>")
    assert((n.anchor_chars, n.n_anchors) == ((2L, 2L)), n.toString)
    // no text at all: density 0, no div-by-zero
    assert(linkDensityKernel("<div></div>").density_micro == 0L)
  }

  test("punycodeDecode matches CPython's punycode codec; idnHost keeps malformed labels") {
    import graft.ops.WebOps.{punycodeDecode, idnHostKernel}
    // pairs generated with python: s.encode('punycode')
    val pairs = Seq(
      "mnchen-3ya" -> "münchen", "bcher-kva" -> "bücher", "caf-dma" -> "café",
      "h1ahn" -> "мир",                 // no basic part, no delimiter
      "g6w251d" -> "測試",               // CJK, two inserts
      "ber-7ka5l" -> "überß",            // insert at position 0 + interior
      "mgbb7fyab" -> "ليبيا")            // RTL, 5 inserts
    pairs.foreach { case (enc, dec) =>
      assert(punycodeDecode(enc).contains(dec), s"$enc -> ${punycodeDecode(enc)}")
    }
    // malformed: bad digit, empty encoded part, non-ascii basic
    assert(punycodeDecode("!!").isEmpty && punycodeDecode("abc-").isEmpty
      && punycodeDecode("ü-abc").isEmpty)
    assert(idnHostKernel("xn--mnchen-3ya.EXAMPLE.xn--caf-dma")
      == "münchen.EXAMPLE.café")
    assert(idnHostKernel("XN--MNCHEN-3YA.example") == "münchen.example") // case-insensitive prefix
    assert(idnHostKernel("xn--!!.example") == "xn--!!.example") // malformed kept
    assert(idnHostKernel("plain.example") == "plain.example")
    assert(idnHostKernel(null) == null)
    // fuzz: decode never throws on arbitrary ascii label bodies
    val rnd = new scala.util.Random(42)
    (1 to 2000).foreach { _ =>
      val len = rnd.nextInt(12)
      val s = (1 to len).map(_ => (33 + rnd.nextInt(94)).toChar).mkString
      punycodeDecode(s) // must not throw; None is fine
      idnHostKernel("xn--" + s + ".example")
    }
  }

  test("percentDecodeKernel: strict UTF-8, overlong rejected, invalid kept verbatim") {
    import graft.ops.WebOps.{percentDecodeKernel, PctDecoded}
    assert(percentDecodeKernel("/a%20b/caf%C3%A9") == PctDecoded("/a b/café", true))
    assert(percentDecodeKernel("/x%E6%B8%AC") == PctDecoded("/x測", true))
    assert(percentDecodeKernel("%F0%9F%98%80") == PctDecoded("😀", true)) // 4-byte
    assert(percentDecodeKernel("no escapes") == PctDecoded("no escapes", true))
    assert(percentDecodeKernel("a+b") == PctDecoded("a+b", true)) // '+' NOT form-decoded
    assert(percentDecodeKernel("/bad%ZZ") == PctDecoded("/bad%ZZ", false))
    assert(percentDecodeKernel("trunc%C") == PctDecoded("trunc%C", false))
    assert(percentDecodeKernel("%C0%AF") == PctDecoded("%C0%AF", false)) // overlong '/'
    assert(percentDecodeKernel("%ED%A0%80") == PctDecoded("%ED%A0%80", false)) // surrogate
    assert(percentDecodeKernel("mixed é %41") == PctDecoded("mixed é A", true))
    // fuzz: never throws
    val rnd = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val s = (1 to rnd.nextInt(16)).map(_ => (32 + rnd.nextInt(96)).toChar).mkString
      percentDecodeKernel(s)
    }
  }

  test("robotsPolicyKernel: star-group delay, fractional/garbage handling, neutral sitemaps") {
    import graft.ops.WebOps.{robotsPolicyKernel, RobotsPolicy}
    assert(robotsPolicyKernel("User-agent: *\nCrawl-delay: 10\nDisallow: /a\nSitemap: http://x/s.xml\n")
      == RobotsPolicy(10L, 1L, 1L))
    assert(robotsPolicyKernel("User-agent: *\nCrawl-delay: 2.9\n").crawl_delay == 2L)
    assert(robotsPolicyKernel("User-agent: *\nCrawl-delay: soon\n").crawl_delay == -1L)
    // another bot's delay never applies; sitemaps count from anywhere
    assert(robotsPolicyKernel("User-agent: googlebot\nCrawl-delay: 30\n\nUser-agent: *\nDisallow: /x\nSitemap: a\nSitemap: b\n")
      == RobotsPolicy(-1L, 1L, 2L))
    // last star-group delay wins; consecutive UA lines share a group
    assert(robotsPolicyKernel("User-agent: *\nCrawl-delay: 1\nCrawl-delay: 7\n").crawl_delay == 7L)
    assert(robotsPolicyKernel("User-agent: bingbot\nUser-agent: *\nCrawl-delay: 4\n").crawl_delay == 4L)
    assert(robotsPolicyKernel(null) == RobotsPolicy(-1L, 0L, 0L))
  }

  test("homographKernel: mixed-script labels flag, single-script hosts don't") {
    import graft.ops.WebOps.homographKernel
    val m = homographKernel("раураl.example") // Cyrillic + Latin l in ONE label
    assert((m.n_labels, m.n_mixed, m.suspicious) == ((2L, 1L, true)), m.toString)
    assert(!homographKernel("мир.example").suspicious)      // whole-label Cyrillic: fine
    assert(!homographKernel("plain.example").suspicious)
    assert(homographKernel("shop.中x.example").n_mixed == 1L) // CJK + Latin mixes too
    assert(homographKernel(null) == graft.ops.WebOps.HomographStats(0L, 0L, false))
  }

  test("waterFillAllocation: fills small sources, levels big ones, budget never exceeded") {
    import graft.ops.Curation
    val t = Seq(("a", 10L), ("b", 50L), ("c", 100L)).toDF("k", "avail")
    def run(b: Long) = Curation.waterFillAllocation(t, "k", "avail", b)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    // B=100: a fully taken, b and c leveled at (100-10)/2 = 45
    assert(run(100L) == Map("a" -> ((10L, true)), "b" -> ((45L, false)),
      "c" -> ((45L, false))))
    // B covers everything: all filled, surplus unspent
    assert(run(200L) == Map("a" -> ((10L, true)), "b" -> ((50L, true)),
      "c" -> ((100L, true))))
    // B=0: nothing affordable
    assert(run(0L).values.map(_._1).sum == 0L)
    // odd budget: floor level, remainder deliberately unspent
    assert(run(101L).values.map(_._1).sum == 100L)
  }

  test("snapshotDrift: exact levenshtein edits and floor-div micro rate") {
    import graft.ops.Temporal
    val v1 = Seq((1L, "abcdef"), (2L, "same"), (3L, "")).toDF("id", "t")
    val v2 = Seq((1L, "abXdefY"), (2L, "same"), (3L, "xx")).toDF("id", "t")
    val got = Temporal.snapshotDrift(v1, v2, "id", "t")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ((2L, 6L, 333333L)),  // 1 sub + 1 insert over 6 chars
      2L -> ((0L, 4L, 0L)),
      3L -> ((2L, 0L, 2000000L))), got.toString) // empty old: greatest(len,1)
  }

  test("snapshotDrift: prefix clamp bounds the DP and rescopes len_old") {
    import graft.ops.Temporal
    // 1: edit INSIDE the prefix survives; 2: change entirely BEYOND the
    // prefix reads 0 edits; 3: short doc unaffected by the clamp.
    val v1 = Seq((1L, "aXcd" + "z" * 100), (2L, "abcd" + "z" * 100), (3L, "ab")).toDF("id", "t")
    val v2 = Seq((1L, "aYcd" + "z" * 100), (2L, "abcd" + "z" * 90 + "EDITED"),
      (3L, "aX")).toDF("id", "t")
    val got = Temporal.snapshotDrift(v1, v2, "id", "t", prefix = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ((1L, 8L, 125000L)),  // sub at pos 2, len = clamped 8
      2L -> ((0L, 8L, 0L)),       // divergence starts at char 95 > prefix
      3L -> ((1L, 2L, 500000L))), got.toString)
    intercept[IllegalArgumentException] {
      Temporal.snapshotDrift(v1, v2, "id", "t", prefix = 0)
    }
  }

  test("sitemapKernel: urlset fields, entity decode, index children, invalid fallback") {
    import graft.ops.WebOps.{sitemapKernel, xmlUnescape, priorityMicro}
    val u = sitemapKernel(
      """<?xml version="1.0"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |<url><loc>http://h/p?a=1&amp;b=2</loc><lastmod>2026-01-15T10:00:00Z</lastmod>
        |<changefreq>WEEKLY</changefreq><priority>0.8</priority></url>
        |<url><loc>http://h/q</loc><changefreq>often</changefreq><priority>high</priority></url>
        |<url><lastmod>2026-01-01</lastmod></url>
        |</urlset>""".stripMargin)
    assert(u.kind == "urlset" && u.entries.size == 2, u.toString) // loc-less drops
    assert(u.entries(0).loc == "http://h/p?a=1&b=2" && u.entries(0).lastmod_ok
      && u.entries(0).changefreq == "weekly" && u.entries(0).priority_micro == 800000L)
    assert(u.entries(1).changefreq == null && u.entries(1).priority_micro == -1L
      && !u.entries(1).lastmod_ok)
    val idx = sitemapKernel(
      "<sitemapindex><sitemap><loc>http://h/a.xml?x=1&amp;y=2</loc></sitemap>" +
      "<sitemap><loc>http://h/b.xml</loc></sitemap></sitemapindex>")
    assert(idx.kind == "sitemapindex" && idx.entries.isEmpty
      && idx.children == Seq("http://h/a.xml?x=1&y=2", "http://h/b.xml"))
    assert(sitemapKernel("<html><body>404</body></html>").kind == "invalid")
    assert(sitemapKernel(null).kind == "invalid")
    assert(sitemapKernel("<urlset><url><loc>x</loc>").entries.isEmpty) // unterminated block
    // entity decoder: named, decimal, hex, malformed pass-through
    assert(xmlUnescape("a&amp;b&lt;c&gt;d&quot;e&apos;f") == "a&b<c>d\"e'f")
    assert(xmlUnescape("caf&#233; &#x41;") == "café A")
    assert(xmlUnescape("a&bogus;b&#xzz;c&ampd") == "a&bogus;b&#xzz;c&ampd")
    // exact-integer priority: no float step, truncation past 6 places
    assert(priorityMicro("1.0") == 1000000L && priorityMicro("0.55") == 550000L
      && priorityMicro(".5") == 500000L && priorityMicro("0.1234567") == 123456L
      && priorityMicro("") == -1L && priorityMicro("0.8x") == -1L
      && priorityMicro(null) == -1L && priorityMicro(".") == -1L)
  }

  test("feedKernel: rss pubDate validation, atom href extraction, invalid fallback") {
    import graft.ops.WebOps.feedKernel
    val rss = feedKernel(
      """<?xml version="1.0"?><rss version="2.0"><channel><title>chan</title>
        |<item><link>http://h/a?x=1&amp;y=2</link><title>A &amp; B</title>
        |<pubDate>Tue, 10 Jun 2003 04:00:00 GMT</pubDate></item>
        |<item><link>http://h/b</link><pubDate>10 Jun 2003 04:00 GMT</pubDate></item>
        |<item><link>http://h/c</link><pubDate>Wed, 1 Jan 2026 09:30 +0530</pubDate></item>
        |<item><title>linkless drops</title></item>
        |</channel></rss>""".stripMargin)
    assert(rss.kind == "rss" && rss.items.size == 3, rss.toString)
    assert(rss.items(0).link == "http://h/a?x=1&y=2" && rss.items(0).title == "A & B"
      && rss.items(0).date_ok)
    assert(!rss.items(1).date_ok) // missing weekday fails RFC 1123
    assert(rss.items(2).date_ok && rss.items(2).title == null) // numeric zone ok
    val atom = feedKernel(
      """<feed xmlns="http://www.w3.org/2005/Atom">
        |<entry><title type="text">E1</title>
        |<link rel="alternate" href="http://h/e?id=1&amp;v=2"/>
        |<updated>2026-03-01T12:00:00Z</updated></entry>
        |<entry><link href='http://h/f'/><updated>March 1</updated></entry>
        |<entry><id>urn:x</id></entry>
        |</feed>""".stripMargin)
    assert(atom.kind == "atom" && atom.items.size == 2, atom.toString)
    assert(atom.items(0).link == "http://h/e?id=1&v=2" && atom.items(0).title == "E1"
      && atom.items(0).date_ok)
    assert(atom.items(1).link == "http://h/f" && !atom.items(1).date_ok)
    assert(feedKernel("<html><body>blog</body></html>").kind == "invalid")
    assert(feedKernel(null).kind == "invalid")
    assert(feedKernel("<rss><channel><item><link>x</link>").items.isEmpty)
  }

  test("sitemapCoverage: four coverage classes and staleness per host") {
    import java.sql.Date
    val listed = Seq(
      ("h1", "u1", Date.valueOf("2026-01-15")),
      ("h1", "u2", null.asInstanceOf[Date]),
      ("h1", "ghost", Date.valueOf("2026-01-15")),
      ("h2", "v1", null.asInstanceOf[Date])
    ).toDF("host", "url", "lastmod_day")
    val crawled = Seq(
      ("h1", "u1", Date.valueOf("2026-01-10")), // lastmod 15 > crawl 10 → stale
      ("h1", "u2", Date.valueOf("2026-01-20")),
      ("h1", "extra", Date.valueOf("2026-01-01")),
      ("h3", "w1", Date.valueOf("2026-01-01"))
    ).toDF("host", "url", "crawl_day")
    val got = graft.ops.WebOps.sitemapCoverage(listed, crawled).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got("h1") == ((3L, 3L, 2L, 1L, 1L, 1L)), got.toString)
    assert(got("h2") == ((1L, 0L, 0L, 1L, 0L, 0L))) // sitemap-only host
    assert(got("h3") == ((0L, 1L, 0L, 0L, 1L, 0L))) // crawl-only host
  }

  test("politenessSchedule: per-host url-ordered slots x delay, default delay fallback") {
    val urls = Seq(("h1", "b"), ("h1", "a"), ("h1", "c"), ("h2", "z"), ("h2", "y"))
      .toDF("host", "url")
    val delays = Seq(("h1", 2000L)).toDF("host", "delay_ms")
    val got = graft.ops.WebOps.politenessSchedule(urls, delays, defaultDelayMs = 700L)
      .collect().map(r => r.getString(r.fieldIndex("url")) ->
        ((r.getInt(r.fieldIndex("slot")), r.getLong(r.fieldIndex("sched_ms"))))).toMap
    assert(got("a") == ((0, 0L)) && got("b") == ((1, 2000L)) && got("c") == ((2, 4000L)))
    assert(got("y") == ((0, 0L)) && got("z") == ((1, 700L))) // undeclared host → default
  }

  test("jsonld: ld+json blocks extracted raw in order, plain scripts skipped") {
    import graft.extract.MetaHarvest.jsonld
    val blocks = jsonld(
      """<html><head><script>var x = {"@type":"Decoy"};</script>
        |<script type="application/ld+json">{"@type":"Article","headline":"H1"}</script>
        |<script type=" APPLICATION/LD+JSON ">  {"@type":"BreadcrumbList"}  </script>
        |<script type="application/ld+json">   </script>
        |</head><body><script type="application/ld+json">{"@type":"Product"}</script>
        |</body></html>""".stripMargin)
    assert(blocks == Seq(
      """{"@type":"Article","headline":"H1"}""",
      """{"@type":"BreadcrumbList"}""",
      """{"@type":"Product"}"""), blocks.toString) // whitespace-only block drops
    assert(jsonld(null).isEmpty && jsonld("<html><body>no scripts</body></html>").isEmpty)
    // the raw JSON survives for Spark's JSON path functions, @-keys included
    val df = Seq(blocks.head).toDF("b")
      .select(get_json_object($"b", "$['@type']").as("t"),
        get_json_object($"b", "$.headline").as("h"))
    assert(df.collect().head.toSeq == Seq("Article", "H1"))
  }

  test("readability: syllable rule, sentence runs, q190 template counts") {
    import graft.ops.TextOps.{syllables, readabilityStats}
    // vowel-group rule word by word (the q190 oracle constants)
    val fox = Seq("The" -> 1, "quick" -> 1, "brown" -> 1, "fox" -> 1, "jumps" -> 1,
      "over" -> 2, "the" -> 1, "lazy" -> 2, "dog." -> 1)
    fox.foreach { case (w, n) => assert(syllables(w) == n, w) }
    val reading = Seq("Reading" -> 2, "comprehension" -> 4, "requires" -> 3, "attention." -> 3)
    reading.foreach { case (w, n) => assert(syllables(w) == n, w) }
    // silent-e: subtracts ("make"), except -le ("table") or sole group ("the")
    assert(syllables("make") == 1 && syllables("table") == 2 && syllables("the") == 1)
    assert(syllables("123") == 0 && syllables("rhythm") == 1) // y as vowel, floor 1
    val r0 = readabilityStats("The quick brown fox jumps over the lazy dog.")
    assert(r0 == graft.ops.TextOps.Readability(9, 1, 11))
    // "..." and "?!" are ONE terminator run; fragment with words = 1 sentence
    assert(readabilityStats("Wait... what?! ok").n_sentences == 2L)
    assert(readabilityStats("brown fox") == graft.ops.TextOps.Readability(2, 1, 2))
    assert(readabilityStats("") == graft.ops.TextOps.Readability(0, 0, 0))
    assert(readabilityStats(null) == graft.ops.TextOps.Readability(0, 0, 0))
    assert(readabilityStats("12 34 .").n_words == 0L) // letter-less tokens aren't words
  }

  test("lz78: classic parse counts, trailing remnant, codepoint folding") {
    import graft.ops.TextOps.{lz78Stats, Lz78Stats}
    // hand parses: a|aa ; a|b|ab|(ab trailing) ; a|b|c ; a|aa|aaa|a(trailing)
    assert(lz78Stats("aaa") == Lz78Stats(2, 3))
    assert(lz78Stats("ababab") == Lz78Stats(4, 6))
    assert(lz78Stats("abc") == Lz78Stats(3, 3))
    assert(lz78Stats("aaaaaaa") == Lz78Stats(4, 7)) // T(3)=6 +1 trailing 'a'
    assert(lz78Stats("") == Lz78Stats(0, 0) && lz78Stats(null) == Lz78Stats(0, 0))
    // supplementary-plane codepoints fold as single symbols (no UTF-16 split)
    assert(lz78Stats("😀😀😀") == Lz78Stats(2, 3))
    // triangular family: a^T(k) → exactly k phrases (the q191 closed form)
    (1 to 12).foreach { k =>
      assert(lz78Stats("a" * (k * (k + 1) / 2)) == Lz78Stats(k, k * (k + 1) / 2), k)
    }
  }
}
