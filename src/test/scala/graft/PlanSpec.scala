package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Physical-plan audits (SURVEY §4): the 100 TB design properties must be
  * visible in `explain`, not just hoped for — filter pushdown and column
  * pruning at the parquet scan, broadcast for the small join sides,
  * whole-stage codegen around the relational stages, no shuffle in the
  * narrow extraction map. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("lang filter + narrow projection push down to the parquet scan") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("lang"))
    val plan = physicalPlan(df)
    assert(plan.contains("PushedFilters") &&
      (plan.contains("IsNotNull(lang)") || plan.contains("EqualTo(lang,en)")), plan)
    // column pruning: the fat `text` column must not be read
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), readSchema)
  }

  test("hive-partitioned tables prune partitions at the scan: one directory read, not all") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val wh = SparkTestBase.tempDir("prune_wh")
      val io = new graft.io.ParquetTableIO(wh)
      val d = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("n_chars"), col("source"))
      io.overwritePartitions(d, "pt", "source")
      val pruned = spark.read.parquet(s"$wh/pt").filter(col("source") === "src1")
      val plan = physicalPlan(pruned)
      // the partition predicate lands in PartitionFilters, not a post-scan Filter
      val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
      assert(scanLine.contains("source"), plan)
      // and the job physically touches ONLY the matching directory — at
      // 100 TB this is the difference between one day-partition and the corpus
      assert(pruned.collect().nonEmpty)
      import org.apache.spark.sql.execution.FileSourceScanExec
      val scan = pruned.queryExecution.executedPlan
        .collectFirst { case s: FileSourceScanExec => s }.get
      assert(scan.metrics("numFiles").value == 1, scan.metrics("numFiles").value.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("extraction pipeline plan: no shuffle beyond the explicit salted repartition") {
    val pages = graft.synth.Synth.pagesDs(spark, 50L, seed = 42L).toDF()
      .repartition(8, pmod(xxhash64(col("url")), lit(8)))
    val out = graft.extract.ExtractJob.extractedDf(pages)
      .select(col("url"), col("extracted.status"))
    val plan = physicalPlan(out)
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"extraction map must stay narrow after the one repartition:\n$plan")
  }

  test("extraction job results: extract on scan splits, one (part_id, salt) exchange, no html on the wire") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{REBALANCE_PARTITIONS_BY_COL, REPARTITION_BY_NUM, ShuffleExchangeExec}
    def extracts(e: Expression) = e.exists(_.isInstanceOf[graft.plans.ExtractExpression])
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // AQE on: a rebalance it may coalesce or split; AQE off: a plain hash exchange
      for ((aqe, origin) <- Seq("true" -> REBALANCE_PARTITIONS_BY_COL, "false" -> REPARTITION_BY_NUM)) {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        val todo = graft.synth.Synth.pagesDs(spark, 50L, seed = 42L).toDF()
          .withColumn("part_id", pmod(xxhash64(col("url")), lit(8)).cast("int"))
        val df = graft.extract.ExtractJob.resultsDf(todo, java.sql.Timestamp.valueOf("2023-09-05 00:00:00"),
          partitions = 8, salt = 2)
        val plan = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.inputPlan // the plan before AQE re-optimizes it
          case p => p
        }
        val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
        assert(exchanges.length == 1, s"aqe=$aqe\n$plan")
        val ex = exchanges.head
        assert(ex.shuffleOrigin == origin, s"aqe=$aqe\n$plan")
        ex.outputPartitioning match {
          case HashPartitioning(keys, n) =>
            assert(n == 8 * 2, s"aqe=$aqe\n$plan")
            assert(keys.flatMap(_.references.map(_.name)) == Seq("part_id", "salt_k"), s"aqe=$aqe\n$plan")
          case other => fail(s"aqe=$aqe: not a hash exchange: $other\n$plan")
        }
        assert(!ex.output.map(_.name).contains("html"), s"aqe=$aqe: exchange ships ${ex.output.map(_.name)}")
        // the kernel runs below the exchange, on the scan splits, with no exchange under it
        val extractNodes = plan.collect { case p: SparkPlan if p.expressions.exists(extracts) => p }
        assert(extractNodes.nonEmpty && extractNodes.forall(p => ex.child.find(_ eq p).isDefined), s"aqe=$aqe\n$plan")
        extractNodes.foreach { p =>
          assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty, s"aqe=$aqe: exchange below graft_extract\n$plan")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("exact-dedup counts distinct over the digest, never raw text, below the Expand") {
    val df = SparkEntry.queries("q10_exact_dedup")(spark, sf)
    val plan = physicalPlan(df)
    assert(plan.contains("Expand"), plan)
    // the Expand (count-distinct fan-out) must see only the 32-byte hash +
    // source: a `text#` reference inside it means full bodies get shuffled
    val expandLine = plan.linesIterator.find(_.contains("Expand")).getOrElse("")
    assert(!expandLine.contains("text#"), expandLine)
    assert(plan.contains("md5"), plan)
  }

  test("golden-style equi-join broadcasts the small side") {
    import spark.implicits._
    val golden = Seq(("u1", "t1"), ("u2", "t2")).toDF("url", "g")
    val big = spark.read.parquet(s"$sf/documents.parquet")
      .select(concat(lit("u"), col("doc_id")).as("url"), col("text"))
    val joined = big.join(broadcast(golden), Seq("url"))
    assert(physicalPlan(joined).contains("BroadcastHashJoin"))
  }

  test("grouped aggregate runs as partial+final hash aggregate under codegen") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    df.collect() // materialize so AQE finalizes the adaptive plan
    val plan = physicalPlan(df)
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2, plan) // partial+final
    // the *(n) star prefix marks WholeStageCodegen spans in simpleString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("HashAggregate")), plan)
  }

  test("minhash band exchange carries only (id, band, key), never shingle arrays") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // force the shuffle path (at sf0.001 everything auto-broadcasts and
    // there would be no exchange to audit — at 100 TB the band join IS a
    // shuffle, and that shuffle must not ship the shingle sets: that was
    // the ~16x-shingle-bytes-through-the-wire scale hazard)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // executedPlan = concrete plan with exchanges
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id").cast("long").as("id"), col("text"))
      val df = graft.ops.Dedup.minhashNearDups(docs, "id", "text", threshold = 0.5)
      val exchanges = df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      val bandEx = exchanges.filter(_.outputPartitioning.toString.contains("band"))
      assert(bandEx.nonEmpty, df.queryExecution.sparkPlan.toString)
      bandEx.foreach { e =>
        val cols = e.child.output.map(_.name).toSet
        assert(!cols.exists(_.startsWith("sh")), s"band exchange ships $cols")
        // count/min are the hot-bucket cap's partial bucket-stat
        // aggregate (8 bytes each per (band, key) group) — metadata,
        // not payload; shingle arrays must still never appear
        assert(cols.subsetOf(Set("id", "id_a", "id_b", "band", "key", "count", "min")),
          s"band exchange ships $cols")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("cosine near-dup band exchange carries only (id, band, bk), never vectors") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
      val df = graft.ops.Similarity.cosineNearDups(emb, "id", "v", threshold = 0.9)
      val exchanges = df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      val bandEx = exchanges.filter(_.outputPartitioning.toString.contains("band"))
      assert(bandEx.nonEmpty, df.queryExecution.executedPlan.toString)
      bandEx.foreach { e =>
        val cols = e.child.output.map(_.name).toSet
        // count/min: the hot-bucket cap's bucket-stat partials (see the
        // minhash twin above); vectors must still never appear
        assert(cols.subsetOf(Set("id", "id_a", "id_b", "band", "bk", "count", "min")),
          s"band exchange ships $cols")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("lshTopK band/dedup exchanges carry only ids and band keys, never vectors") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val df = graft.ops.Similarity.lshTopK(
        emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 10)
      val exchanges = df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      // the candidate-dedup exchange (partitioned on both ids): the round-2
      // version distinct()-ed over (query_id, nn_id, qv, cv) and shipped
      // the full query AND corpus embedding arrays as grouping keys
      val dedupEx = exchanges.filter { e =>
        val p = e.outputPartitioning.toString
        p.contains("query_id") && p.contains("nn_id")
      }
      assert(dedupEx.nonEmpty, df.queryExecution.executedPlan.toString)
      dedupEx.foreach { e =>
        val cols = e.child.output.map(_.name).toSet
        assert(cols.subsetOf(Set("query_id", "nn_id", "band", "bk")), s"dedup exchange ships $cols")
      }
      // query vectors come from the broadcast query batch — they may ride
      // NO exchange anywhere (corpus vectors ride only the nn_id re-join)
      exchanges.foreach { e =>
        val cols = e.child.output.map(_.name).toSet
        assert(!cols.contains("qv"), s"exchange ships query vectors: $cols")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("IVF ANN plan: one shuffle total (the top-k window), carrying only (query_id, nn_id, sim)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val df = graft.ops.Similarity.ivfTopK(
        emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding",
        k = 10, nCells = 8, nProbe = 2)
      val exchanges = df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      // the probe join is broadcast (corpus side never shuffles); the only
      // exchange is the per-query window, and vectors must not ride it
      assert(exchanges.size == 1, df.queryExecution.executedPlan.toString)
      val cols = exchanges.head.child.output.map(_.name).toSet
      assert(cols.subsetOf(Set("query_id", "nn_id", "sim")), s"window exchange ships $cols")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("PdfImages harvest is purely narrow: no exchange anywhere in the plan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val pages = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").as("url"), col("text").cast("binary").as("payload"))
    val df = graft.extract.PdfImages.imagesDf(pages)
    val exchanges = df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.isEmpty, df.queryExecution.executedPlan.toString)
  }

  test("asOfJoin plan: exactly one exchange (the per-key window), no join operator at all") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ev = spark.read.parquet(s"$sf/events.parquet")
      val df = graft.ops.Temporal.asOfJoinLeft(
        ev.where(col("event_type") === "click").select("event_id", "user_id", "ts"),
        ev.where(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id").as("rid")),
        "user_id", "ts", Seq("rid"))
      val plan = df.queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, plan.toString)
      // the log-merge formulation replaces the join: a range/theta join
      // here would mean the pair-blowup shape snuck back in
      assert(!plan.toString.contains("Join"), plan.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("rangeJoinCount plan: hash equi-join on (key, bin), never BNLJ/cartesian") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val df = graft.ops.Temporal.rangeJoinCount(
      ev.where(col("event_type") === "error").select("event_id", "user_id", "ts"),
      ev.where(col("event_type") === "purchase").select("user_id", "ts"),
      "user_id", "ts", 600000000L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("capPerKey gets a PARTIAL WindowGroupLimit below the exchange (map-side skew pruning)") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val plan = graft.ops.Curation.capPerKey(df, "source", "doc_id", n = 5)
        .queryExecution.executedPlan.toString
      // SPARK-37099: the rn<=n filter must prune on the map side — a hot
      // key ships <= n rows per partition, not its whole row set
      val lines = plan.linesIterator.toSeq
      val partialIdx = lines.indexWhere(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
      val exchangeIdx = lines.indexWhere(_.contains("Exchange"))
      assert(partialIdx >= 0 && exchangeIdx >= 0 && partialIdx > exchangeIdx,
        s"partial group limit must sit BELOW the exchange:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("decontamination never shuffles the corpus: broadcast joins, id-only exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet")
      val corpus = d.filter(col("doc_id") % 17 =!= 0)
      val bench = d.filter(col("doc_id") % 17 === 0)
      val df = graft.ops.Curation.decontaminate(corpus, "doc_id", "text", bench, "text")
      val plan = df.queryExecution.executedPlan
      // both the n-gram membership join and the final anti-join must be
      // broadcasts — a sort-merge join would shuffle the corpus
      assert(!plan.toString.contains("SortMergeJoin"), plan.toString)
      // the only shuffles are benchmark-side or id-sized: no text bodies
      // and no shingle strings may ride any exchange
      plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
        val cols = e.child.output.map(_.name).toSet
        assert(!cols.contains("text") && !cols.contains("sg"),
          s"corpus-width exchange ships $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("packGreedy plan: exactly one exchange (the stream repartition), fold stays narrow") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.ops.Curation.packGreedy(
        spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", capacity = 1200L, streams = 8)
      val exchanges = df.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, df.queryExecution.executedPlan.toString)
      assert(exchanges.head.outputPartitioning.toString.contains("stream"))
      // no collect_list anywhere: the greedy fold must be the O(1)-state
      // per-partition iterator, not a grouped array materialization
      assert(!df.queryExecution.executedPlan.toString.contains("collect_list"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("kmvDistinct gets a PARTIAL WindowGroupLimit below its rank exchange") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val obs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("source"), xxhash64(col("text")).as("h"))
      val plan = graft.ops.Sketches.kmvDistinct(obs, "source", col("h"), k = 64)
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      val partialIdx = lines.indexWhere(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
      val exchangeIdx = lines.indexWhere(_.contains("Exchange"))
      assert(partialIdx >= 0 && exchangeIdx >= 0 && partialIdx > exchangeIdx,
        s"a 10^9-value group must ship only k hashes per map partition:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("dedupParagraphs first-occurrence window gets a PARTIAL WindowGroupLimit (hot boilerplate pruned map-side)") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet")
      val plan = graft.ops.Curation.dedupParagraphs(d, "doc_id", "text")
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      val partialIdx = lines.indexWhere(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
      val exchangeIdx = lines.indexWhere(_.contains("Exchange"))
      assert(partialIdx >= 0 && exchangeIdx >= 0 && partialIdx > exchangeIdx,
        s"a 10^8-copy boilerplate line must ship one candidate per map partition:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("tfidf exchanges never carry raw text; the top-k prunes map-side") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet")
      val plan = graft.ops.Retrieval.tfidfTopTerms(d, "doc_id", "text", topK = 3)
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      // text is exploded to terms BEFORE the first exchange — full bodies
      // never ride a shuffle
      lines.filter(_.contains("Exchange")).foreach(l =>
        assert(!l.contains("text#"), l))
      // SPARK-37099: the rn <= topK filter prunes each document's term
      // list map-side, so a hot document ships <= topK rows per partition
      val partialIdx = lines.indexWhere(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
      assert(partialIdx >= 0, s"expected a partial WindowGroupLimit:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("bloom decontamination corpus side is purely narrow: no exchange at all") {
    import spark.implicits._
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val bench = Seq(Tuple1("alpha beta gamma delta epsilon zeta")).toDF("text")
    // the benchmark bitset is built eagerly (bounded collect, the IVF
    // codebook pattern); the RETURNED corpus plan must carry no exchange
    val plan = graft.ops.Curation.bloomContamination(
        d, "doc_id", "text", bench, "text", k = 5, numHashes = 3, bits = 8192)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("inverted index: two compact exchanges, never raw text; rank/df/fold share term keying") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet")
      val plan = graft.ops.Retrieval.invertedIndex(d, "doc_id", "text", maxPostings = 5)
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      // exchange 1: map-combined (term,id) tf agg; exchange 2: re-key to
      // term for the shared rank+df window pass — and nothing else (the
      // per-term fold reuses the window's partitioning)
      assert(lines.count(_.contains("Exchange")) == 2, plan)
      lines.filter(_.contains("Exchange")).foreach(l => assert(!l.contains("text#"), l))
      // the tf agg combines map-side before its shuffle
      val aggIdx = lines.indexWhere(_.contains("partial_count"))
      val exIdx = lines.indexWhere(_.contains("Exchange"))
      assert(aggIdx >= 0 && aggIdx > exIdx, s"tf agg must partial-combine below its exchange:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("stratified split is one exchange: rank and count share the stratum window") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("source"))
      val plan = graft.ops.Curation.stratifiedSplit(d, "source", "doc_id")
        .queryExecution.executedPlan.toString
      assert(plan.linesIterator.count(_.contains("Exchange")) == 1, plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("count-min build is one map-combined exchange; probe joins the sketch by broadcast") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val hashUdf = udf((t: String) => graft.ops.Dedup.polyHash(t))
      val obs = spark.read.parquet(s"$sf/documents.parquet")
        .select(explode(split(trim(col("text")), "\\s+")).as("term"))
        .withColumn("h", hashUdf(col("term")))
      val build = graft.ops.Sketches.countMin(obs, col("h"), lit(1L))
        .queryExecution.executedPlan.toString
      val bLines = build.linesIterator.toSeq
      // one shuffle, carrying (row, pos, partial sum) — each task writes at
      // most depth*width cells regardless of how many tokens it scanned
      assert(bLines.count(l => l.contains("Exchange") && !l.contains("BroadcastExchange")) == 1, build)
      assert(bLines.indexWhere(_.contains("partial_sum")) >
        bLines.indexWhere(_.contains("Exchange")), build)
      bLines.filter(_.contains("Exchange")).foreach(l =>
        assert(!l.contains("term#") && !l.contains("text#"), l))
      // the probe side broadcasts the bounded sketch
      val probe = SparkEntry.queries("q69_countmin")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(probe.contains("BroadcastHashJoin"), probe)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("global quantiles never plan a global sort: target buckets only, broadcast ranks") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("q83_global_quantiles")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"), plan)
      // one shuffle: the bucket-keyed window over the PRUNED rows
      assert(plan.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("BroadcastExchange")) == 1, plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("int8 quantization: vectors never shuffle — only bounded per-dim stats and code cells") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("q81_int8_quant")(spark, sf)
        .queryExecution.executedPlan.toString
      plan.linesIterator.filter(_.contains("Exchange")).foreach(l =>
        assert(!l.contains("embedding#") && !l.contains("v#"), l))
      // the final top-10 is TakeOrdered, not a global sort
      assert(plan.contains("TakeOrderedAndProject"), plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("bloom semi-join flag keeps the corpus side completely narrow") {
    val df = SparkEntry.queries("q80_bloom_semijoin")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("weighted sample gets a PARTIAL WindowGroupLimit below its exchange") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("__wm", least(col("n_chars").cast("long") * 2000L, lit(1000000L)))
      val plan = graft.ops.Curation.weightedSamplePerKey(d, "source", "doc_id", col("__wm"), k = 10)
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      val partialIdx = lines.indexWhere(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
      val exchangeIdx = lines.indexWhere(_.contains("Exchange"))
      assert(partialIdx >= 0 && exchangeIdx >= 0 && partialIdx > exchangeIdx,
        s"a hot key must ship only k candidates per map partition:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("bucketed snapshot delta joins co-located: ZERO shuffle exchanges in the plan") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val dir = SparkTestBase.tempDir("bucketed")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet")
      val oldSnap = d.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
      val newSnap = d.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
      graft.io.BucketedTableIO.writeBucketed(oldSnap, "snap_old", dir, "doc_id", 4)
      graft.io.BucketedTableIO.writeBucketed(newSnap, "snap_new", dir, "doc_id", 4)
      val delta = graft.ops.Curation.snapshotDelta(
        spark.table("snap_old"), spark.table("snap_new"), "doc_id", "digest")
      val plan = delta.queryExecution.executedPlan.toString
      // the scans satisfy the full-outer SMJ's distribution: no exchange
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      // and the result is still correct
      assert(delta.filter(col("status") === "unchanged").count() > 0)
      assert(delta.filter(col("status") === "added").count() > 0)
      assert(delta.filter(col("status") === "removed").count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS snap_old")
      spark.sql("DROP TABLE IF EXISTS snap_new")
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("winnowing: text leaves the scan as per-position hashes, never shuffles as strings") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet").filter(col("doc_id") < 120)
      val plan = graft.ops.TextOps.winnowFingerprints(d, "doc_id", "text")
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      lines.filter(_.contains("Exchange")).foreach(l => assert(!l.contains("text#"), l))
      assert(!plan.contains("SinglePartition"), plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("blocklist filtering is purely narrow: no exchange in the plan") {
    val df = SparkEntry.queries("q74_blocklist")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("containment: exchanges carry only ids and hashes, never text or shingles") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("q73_containment")(spark, sf)
        .queryExecution.executedPlan.toString
      plan.linesIterator.filter(_.contains("Exchange")).foreach(l =>
        assert(!l.contains("text#") && !l.contains("sg#"), l))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("crawl loop dedup: the markdown windows shuffle on its hash, never on md") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("q233_crawl_loop")(spark, sf)
        .queryExecution.executedPlan.toString
      val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchanges.exists(_.contains("hashpartitioning(md_key#")), plan)
      exchanges.foreach(l => assert(!l.contains("md#"), l))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("source overlap: term strings never shuffle; sizes broadcast back") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet")
      val plan = graft.ops.Curation.sourceOverlap(d, "source", "text")
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      lines.filter(_.contains("Exchange")).foreach(l =>
        assert(!l.contains("term#") && !l.contains("text#"), l))
      assert(plan.contains("BroadcastHashJoin"), plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("novelty: exchanges carry only ids/hashes/counts; first-occurrence prunes map-side") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet").filter(col("doc_id") < 300)
      val plan = graft.ops.Curation.noveltyStats(d, "doc_id", "text", k = 5)
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      lines.filter(_.contains("Exchange")).foreach(l =>
        assert(!l.contains("text#") && !l.contains("sg#"), l))
      val partialIdx = lines.indexWhere(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
      val exchangeIdx = lines.indexWhere(_.contains("Exchange"))
      assert(partialIdx >= 0 && exchangeIdx >= 0 && partialIdx > exchangeIdx,
        s"a 10^8-copy boilerplate n-gram must ship one candidate per map partition:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("threshold sweep: corpus collapses to per-score rows before any cumsum; no global sort") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet").select(
        col("n_chars").cast("long").as("score"),
        col("text").contains("the").as("label"))
      val plan = graft.ops.Curation.thresholdSweep(d, "score", "label")
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      // two shuffles: the map-combined per-score aggregate, then the
      // bucket-keyed window; offsets arrive by broadcast
      assert(lines.count(l => l.contains("Exchange") && !l.contains("BroadcastExchange")) == 2, plan)
      assert(!plan.contains("SinglePartition"), plan)
      lines.filter(_.contains("Exchange")).foreach(l => assert(!l.contains("text#"), l))
      assert(lines.indexWhere(_.contains("partial_count")) >
        lines.indexWhere(_.contains("Exchange")), plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("budget take: one corpus shuffle keyed by bucket, no global sort, no text on the wire") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet").select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"),
        col("n_chars").cast("long").as("q"))
      val plan = graft.ops.Curation.budgetTake(d, "doc_id", "toks", "q", budget = 100000L)
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      // exactly one shuffle (hash by bucket for the running-sum window);
      // the offsets side is a broadcast, never a single-partition sort
      assert(lines.count(l => l.contains("Exchange") && !l.contains("BroadcastExchange")) == 1, plan)
      assert(!plan.contains("SinglePartition"), plan)
      lines.filter(_.contains("Exchange")).foreach(l => assert(!l.contains("text#"), l))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("importance resampling is purely narrow: no exchange, no RNG node") {
    val df = SparkEntry.queries("q65_resample")(spark, sf)
    val plan = physicalPlan(df)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.toLowerCase.contains("rand"), plan)
  }

  test("classifier scoring is purely narrow: no exchange anywhere in the plan") {
    val df = SparkEntry.queries("q53_classifier")(spark, sf)
    val plan = physicalPlan(df)
    assert(!plan.contains("Exchange"), plan)
  }

  test("dup-passage exchanges carry only ids, hashes, and counts — never text or shingles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet")
      val df = graft.ops.Curation.dupPassageStats(d, "doc_id", "text", k = 5)
      val plan = df.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: ShuffleExchangeExec => e.child.output.map(_.name).toSet
      }
      // the honest cost: (id,ngh) probe + per-ngh partial counts + per-doc
      // roll-up — three exchanges of ≤24-byte rows, nothing corpus-width
      assert(exchanges.nonEmpty && exchanges.size <= 3, plan.toString)
      exchanges.foreach { cols =>
        assert(!cols.contains("text") && !cols.contains("sg"),
          s"corpus-width exchange ships $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("bm25 exchanges never carry raw text — only matched (id, term) rows and tiny stats") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet")
      val df = graft.ops.Retrieval.bm25Scores(d, "doc_id", "text",
        Seq("data", "spark", "query", "merge"))
      val plan = df.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: ShuffleExchangeExec => e.child.output.map(_.name).toSet
      }
      exchanges.foreach { cols =>
        assert(!cols.contains("text") && !cols.exists(_.contains("__toks")),
          s"corpus-width exchange ships $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("lm scoring exchanges carry only ids, 8-byte hashes, and counts — never tokens") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet")
      val df = graft.ops.Retrieval.lmNegLogLik(
        d.filter(col("doc_id") % 13 =!= 0), "doc_id", "text",
        d.filter(col("doc_id") % 13 === 0), "text")
      val plan = df.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: ShuffleExchangeExec => e.child.output.map(_.name).toSet
      }
      assert(exchanges.nonEmpty, plan.toString)
      exchanges.foreach { cols =>
        assert(cols.forall(c => c == "id" || c == "h1" || c == "h12" ||
            c.startsWith("c1") || c.startsWith("c12") || c == "v" ||
            c.startsWith("count") || c.startsWith("__lp") || c.startsWith("sum") ||
            c == "isEmpty" || c.startsWith("n_")),
          s"lm exchange ships unexpected columns: $cols")
        assert(!cols.contains("text") && !cols.exists(_.contains("__t")) &&
            !cols.exists(_.contains("__bg")),
          s"lm exchange ships token/bigram strings: $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("no query plan carries a cartesian product, global sort, or undesigned nested-loop join") {
    // scale guard over the whole inventory: BroadcastNestedLoopJoin is
    // legitimate ONLY where the design says so — q23's bounded verify
    // crossJoin, q24's broadcast brute-force baseline, q39's 1-row
    // weight-total broadcast into the per-source fraction table, and the
    // 1-row global-stats broadcasts of q57 (N, avgdl) / q58 (vocab size)
    // / q63 (corpus size N for the rational idf) / q97 (HITS L1 totals)
    // / q100 (sqrt-weight total) / q107 (corpus token total)
    val bnljByDesign = Set("q23_ngram_jaccard", "q24_cosine_topk", "q39_mix_sample",
      "q57_bm25", "q58_lm_score", "q59_pagerank", "q61_kmeans", "q63_tfidf",
      "q97_hits", "q100_mix_weights", "q107_signature_terms",
      "q114_minhash_fidelity", // bounded sketch-calibration crossJoin (q23's shape)
      "q115_skew_profile", "q116_histogram", // 1-row total broadcasts
      "q117_rrf_hybrid", // q24's broadcast brute-force + q57's 1-row stats feed it
      "q125_benchmark_coverage", // two 1-row count frames crossed
      "q132_centroid_sim", // k-row centroid table self-paired
      "q135_mix_feasibility", // 1-row weight-total broadcast
      "q138_dsir", // 1-row (Nt, Nr) totals crossed into the bounded bucket table
      "q143_cluster_sizes", // 1-row doc-total broadcast into the size histogram
      "q166_ppl_buckets", // q58's 1-row vocab-size broadcast feeds the bucketing
      "q173_ann_recall", // q24's broadcast brute-force is the ground-truth side
      "q177_water_fill") // 1-row (k, cumk, n) level broadcast into the source table
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name has a cartesian product:\n$plan")
      val globalSorts = plan.linesIterator.count(l => l.contains("Sort ") && l.contains("true, 0"))
      assert(globalSorts == 0, s"$name has a global sort:\n$plan")
      if (!bnljByDesign(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name has an undesigned BNLJ:\n$plan")
      spark.catalog.clearCache()
    }
  }

  test("extraction runs as the native graft_extract expression inside whole-stage codegen") {
    val pages = graft.synth.Synth.pagesDs(spark, 30L, seed = 42L).toDF()
    val out = graft.extract.ExtractJob.extractedDf(pages)
      .select(col("url"), col("extracted.status"))
    val plan = physicalPlan(out)
    assert(plan.contains("graft_extract"), plan) // native expression, not ScalaUDF
    assert(!plan.contains("UDF("), plan)
    // the project evaluating it sits inside a WholeStageCodegen span
    val projLine = plan.linesIterator.find(_.contains("graft_extract")).getOrElse("")
    assert(projLine.contains("*("), plan)
    // and the codegen path produces the same bytes as the interpreted UDF
    val native = graft.extract.ExtractJob.extractedDf(pages)
      .select(col("url"), col("extracted.markdown"), col("extracted.status"),
        col("extracted.error"), col("extracted.pages"))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val viaUdf = {
      val extractUdf = udf((url: String, payload: Array[Byte]) =>
        graft.extract.Extractor.extract(url, payload))
      pages.withColumn("extracted", extractUdf(col("url"), col("html")))
        .select(col("url"), col("extracted.markdown"), col("extracted.status"),
          col("extracted.error"), col("extracted.pages"))
        .collect().map(_.toSeq).sortBy(_.head.toString)
    }
    assert(native.toSeq == viaUdf.toSeq)
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val df = spark.read.parquet(s"$sf/events.parquet")
      .orderBy(col("value").desc).limit(10)
    assert(physicalPlan(df).contains("TakeOrderedAndProject"))
  }

  test("robots gate: rules broadcast, page side fully narrow — zero shuffle exchanges") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pages = spark.read.parquet(s"$sf/documents.parquet")
        .select(concat(lit("http://h"), col("doc_id") % 5, lit(".example/p/"), col("doc_id")).as("url"))
      val robots = spark.range(5)
        .select(concat(lit("h"), col("id"), lit(".example")).as("host"),
          lit("User-agent: *\nDisallow: /p\n").as("robots_txt"))
      val plan = graft.ops.WebOps.robotsDisallowed(pages, "url", robots, "host", "robots_txt")
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(!plan.linesIterator.exists(l =>
        l.contains("Exchange") && !l.contains("BroadcastExchange")), plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("template profile: raw html never shuffles — only the 8-byte hash and id") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pages = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), concat(lit("<p>"), col("text"), lit("</p>")).as("html"))
      val plan = graft.extract.TemplateShape.templateProfile(pages, "doc_id", "html")
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      assert(lines.count(l => l.contains("Exchange") && !l.contains("BroadcastExchange")) == 1, plan)
      lines.filter(_.contains("Exchange")).foreach(l =>
        assert(!l.contains("html#") && !l.contains("text#"), l))
      // the aggregate partial-combines below the exchange
      assert(lines.indexWhere(_.contains("partial_count")) >
        lines.indexWhere(_.contains("Exchange")), plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("domain gate: the corpus collapses in ONE map-combined exchange") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet").select(
        col("source").as("domain"),
        graft.ops.TextOps.qualityScoreMicro(col("text")).as("q"))
      val plan = graft.ops.Curation.domainQualityGate(d, "domain", "q", 800000L, 10L)
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      assert(lines.count(l => l.contains("Exchange") && !l.contains("BroadcastExchange")) == 1, plan)
      lines.filter(_.contains("Exchange")).foreach(l => assert(!l.contains("text#"), l))
      assert(lines.indexWhere(_.contains("partial_count")) >
        lines.indexWhere(_.contains("Exchange")), plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("shard plan: ONE exchange on the key feeds window AND manifest agg, no text on the wire") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet")
      val plan = graft.ops.Curation.shardPlan(d, "source", "doc_id",
          octet_length(col("text")), 4096L)
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      // HashPartitioning(key) from the window satisfies the (key, shard_id)
      // groupBy's clustering: the manifest agg adds NO second shuffle
      assert(lines.count(l => l.contains("Exchange") && !l.contains("BroadcastExchange")) == 1, plan)
      lines.filter(_.contains("Exchange")).foreach(l => assert(!l.contains("text#"), l))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("bitext pairs: one shuffle join on pair_key, raw page columns never ride it") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // at corpus scale NEITHER side broadcasts (both are page-sized): pin
    // the shuffle-join shape by disabling the tiny-test-corpus broadcast
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet")
        .select(concat(lit("http://h"), col("doc_id") % 3, lit(".example/"),
          when(col("doc_id") % 2 === 0, "en").otherwise("fr"),
          lit("/p"), expr("doc_id div 2")).as("url"), col("text"))
      val plan = graft.ops.WebOps.bitextPairs(d, "url", "en", "fr")
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      lines.filter(_.contains("Exchange")).foreach(l => assert(!l.contains("text#"), l))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("revisit resolution: bodies ride only the response side of the digest join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // a WarcSource-schema-shaped frame (source irrelevant to the plan shape)
      val df = spark.read.parquet(s"$sf/documents.parquet").select(
        concat(lit("http://x/"), col("doc_id")).as("url"),
        current_timestamp().as("warc_ts"),
        when(col("doc_id") % 3 === 0, "revisit").otherwise("response").as("record_type"),
        lit(200).as("http_status"), lit("text/html").as("content_type"),
        encode(col("text"), "UTF-8").as("body"),
        md5(col("text")).as("digest"), lit("").as("refers_to"),
        lit("f").as("warc_file"))
      val plan = graft.sources.Warc.resolveRevisits(df).queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, plan.toString)
      // the revisit (probe) side of the digest join must not carry body
      // bytes — it is identified by its r_url/refers_to columns
      exchanges.foreach { e =>
        val cols = e.child.output.map(_.name)
        if (cols.contains("r_url"))
          assert(!cols.exists(_.startsWith("body")), s"revisit side ships $cols")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("fetchByIndex: the lookup exchange carries only (file, offset, length)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val idx = spark.read.parquet(s"$sf/documents.parquet").select(
        lit("part-00000.warc.gz").as("file"),
        (col("doc_id") * 100).as("offset"), lit(90L).as("length"),
        col("text").as("extra_payload")) // must NOT ride the exchange
      val df = graft.sources.Warc.fetchByIndex(idx, "/nonexistent")
      val exchanges = df.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty)
      exchanges.foreach { e =>
        val cols = e.child.output.map(_.name).toSet
        assert(cols.subsetOf(Set("file", "offset", "length")), s"lookup ships $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
