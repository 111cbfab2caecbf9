package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.extract.ExtractJob
import graft.io.TableIO
import graft.ops.Dedup

/** Structured Streaming surface for the extraction pipeline.
  *
  * The reference is strictly batch (SURVEY §2.10) and the north_rule asks
  * for resumable batch; this wraps the SAME extraction stage under
  * `Trigger.AvailableNow` for an incremental crawl drop-box: source
  * progress lives in the checkpoint (the streaming analog of the
  * processed-partition manifest), each micro-batch lands through the same
  * TableIO seam, and a restart after failure resumes from the last
  * committed batch. Delivery is at-least-once on replay: Spark re-runs a
  * batch whose commit-log entry is missing, with the same `batchId`, and
  * its append writes the batch's rows a second time (40 streamed pages
  * read back as 80 rows after such a replay). ROADMAP Direction 2, the
  * batch job's body keyed by `batchId`, is what makes a replay overwrite.
  *
  * `dedupedStream` adds the one stateful operator a crawl feed wants:
  * first-seen-wins url dedup via dropDuplicates state (at 10^12 scale the
  * state key is the 64-bit url hash, not the url string; no watermark
  * because crawl re-fetches can arrive arbitrarily late — state is
  * bounded by the key count, and RocksDB-backed stores hold it on disk).
  */
object StreamingExtract {

  /** Schema of the `pages` drop-box (input_hint shape). readStream needs
    * it explicit: streaming sources do not infer. */
  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** Streaming extraction over a parquet drop-box directory. Each batch
    * runs scan → extract → append through `io`; progress checkpoints to
    * `checkpointDir`. Returns the started query (AvailableNow: drains
    * what exists, then stops). A results row has the batch job's columns
    * ([[ExtractJob.resultColumns]]): text and span offsets per document.
    *
    * MIGRATION: a streaming results table written before its rows carried
    * `spans` lacks that column, so `appendTable`'s schema check rejects
    * the next batch; point such feeds at a fresh results table. */
  def run(
      spark: SparkSession,
      srcDir: String,
      io: TableIO,
      resultsTable: String,
      checkpointDir: String,
      dedupUrls: Boolean = false): StreamingQuery = {
    val raw = spark.readStream.schema(pageSchema).parquet(srcDir)
    // state key = xxhash64(url), 8 bytes/entry, as the scaladoc promises —
    // dropDuplicates("url") would hold every full url string in state
    // forever. The documented tradeoff: a 64-bit collision (~2e-4 expected
    // collisions at 10^9 distinct urls) drops a non-duplicate page.
    // MIGRATION: checkpoints written by the pre-hash version keyed state
    // on the raw url STRING; their state-store schema is incompatible with
    // the LONG key — restart such feeds from a fresh checkpointDir (the
    // results table is append-only, so already-written rows are kept).
    val pages = if (dedupUrls)
      raw.withColumn("url_h", xxhash64(col("url")))
        .dropDuplicates("url_h").drop("url_h")
    else raw
    val extracted = ExtractJob.extractedDf(pages).select(ExtractJob.resultColumns: _*)
    extracted.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one append per batch through the same storage seam the batch job
        // uses; not idempotent: a replayed batchId appends its rows again
        io.appendTable(batch.withColumn("batch_id", lit(batchId)), resultsTable)
      }
      .start()
  }

  /** Event-time crawl-rate metrics (§2.10): per-host tumbling-hour doc
    * counts under a watermark. The watermark bounds the window state —
    * hours older than max(event time) - `watermark` are finalized and
    * evicted, so state size is (hosts × watermark-hours), independent of
    * stream length. Append output mode: a window row is emitted exactly
    * once, when the watermark passes its end. */
  def hostHourCounts(
      spark: SparkSession,
      srcDir: String,
      watermark: String = "2 hours"): DataFrame = {
    spark.readStream.schema(pageSchema).parquet(srcDir)
      .withColumn("host", regexp_extract(col("url"), HostRe, 1))
      .withWatermark("warc_ts", watermark)
      .groupBy(window(col("warc_ts"), "1 hour"), col("host"))
      .agg(count(lit(1)).as("n_docs"))
      .select(unix_micros(col("window.start")).as("hour_us"),
        col("host"), col("n_docs"))
  }

  /** Streaming count-min sketch over the drop-box token stream (§2.10 +
    * T51): the frequency profile updates per micro-batch with state
    * BOUNDED at depth×width cells — no watermark needed, because the
    * sketch never grows with the stream (the property that makes CMS the
    * streaming frequency structure). Pure sums commute with micro-batch
    * boundaries, so after draining, the streamed cells equal the batch
    * [[graft.ops.Sketches.countMin]] over the same files EXACTLY
    * (asserted in StreamingSpec). Complete output mode: the whole
    * (bounded) sketch re-emits per batch. */
  def streamingCountMin(
      spark: SparkSession, srcDir: String,
      depth: Int = 3, width: Int = 64): DataFrame = {
    val toks = spark.readStream.schema(pageSchema).parquet(srcDir)
      .select(explode(split(trim(col("text")), "\\s+")).as("term"))
      .select(Dedup.polyHash(col("term")).as("h"))
    graft.ops.Sketches.countMin(toks, col("h"), lit(1L), depth, width)
  }

  /** Host component of a url; no trailing-slash requirement — a path-less
    * `https://example.com` must not collapse into host "". */
  private val HostRe = "https?://([^/]+)"

  final case class HostSession(
      host: String, first_us: Long, last_us: Long, n_docs: Long)

  /** Custom streaming state (§2.10): per-host crawl-session tracking via
    * `mapGroupsWithState` — first/last event time and doc count per host,
    * carried across micro-batches. ProcessingTimeTimeout is deliberately
    * NOT set: crawl re-fetches arrive arbitrarily late (same rationale as
    * the url-dedup state), so sessions only grow; at 10^12 scale the state
    * key is the host (≤ ~10^8 entries), held by the RocksDB store. */
  def hostSessions(
      spark: SparkSession,
      srcDir: String): Dataset[HostSession] = {
    import spark.implicits._
    val update = (host: String, rows: Iterator[(String, Long)],
        state: GroupState[HostSession]) => {
      var s = state.getOption.getOrElse(HostSession(host, Long.MaxValue, Long.MinValue, 0L))
      rows.foreach { case (_, ts) =>
        s = HostSession(host, math.min(s.first_us, ts), math.max(s.last_us, ts), s.n_docs + 1)
      }
      state.update(s)
      s
    }
    spark.readStream.schema(pageSchema).parquet(srcDir)
      .select(regexp_extract(col("url"), HostRe, 1).as("host"),
        unix_micros(col("warc_ts")).as("ts_us"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
  }

  /** TTL DEDUP state function, exposed for deterministic testing with
    * `TestGroupState`: within one url-hash group, a row is emitted iff
    * no emission happened in the last `ttlUs` of EVENT time (a re-crawl
    * after the TTL is fresh content worth re-processing — the
    * incremental-crawl semantics, vs [[run]]'s dedupUrls which keeps
    * urls forever). State = last-emitted event time; the event-time
    * timeout at last + ttl lets the store EVICT cold urls, which is
    * what bounds state at 10^12-url scale (the forever-dedup trades
    * unbounded state for exactness; this trades a re-emit after quiet
    * TTL windows for bounded state). */
  private[graft] def ttlDedupUpdate(ttlUs: Long)(
      h: Long, rows: Iterator[(Long, java.sql.Timestamp)],
      state: GroupState[Long]): Iterator[(Long, Long)] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      var last = state.getOption.getOrElse(Long.MinValue)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      rows.map(r => r._2.getTime * 1000L).toSeq.sorted.foreach { ts =>
        if (last == Long.MinValue || ts - last >= ttlUs) { out += ((h, ts)); last = ts }
      }
      state.update(last)
      // event-time timeout: evict once the watermark passes last + ttl
      state.setTimeoutTimestamp(last / 1000L + ttlUs / 1000L)
      out.iterator
    }
  }

  /** Streaming url dedup WITH TTL + state eviction: emits (url_hash,
    * ts_us) for first-seen urls and for re-crawls at least `ttlMinutes`
    * of event time after the last emission; watermarked event-time
    * timeouts evict quiet keys so state stays bounded. 8-byte key +
    * 8-byte state per live url, RocksDB-store-friendly. */
  def dedupWithTtl(
      spark: SparkSession, srcDir: String, ttlMinutes: Int,
      watermarkDelay: String = "10 minutes"): Dataset[(Long, Long)] = {
    import spark.implicits._
    require(ttlMinutes >= 1)
    val ttlUs = ttlMinutes * 60L * 1000000L
    // the WATERMARKED timestamp column itself must reach the stateful
    // operator (event-time timeouts track it), so the micros conversion
    // happens inside the state function, not in the projection
    spark.readStream.schema(pageSchema).parquet(srcDir)
      .withWatermark("warc_ts", watermarkDelay)
      .select(xxhash64(col("url")).as("h"), col("warc_ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        ttlDedupUpdate(ttlUs))
  }
}
