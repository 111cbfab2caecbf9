package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** The operator inventory (SURVEY.md §2) as driver-checkable queries.
  *
  * Each query is one registry entry: its Spark plan beside the DuckDB
  * oracle that checks it ([[all]] and [[oracles]] are two views of the
  * registry). The SQL mirrors the plan semantically but is written for
  * DuckDB (regexp replacement is `\1` there vs `$1` in Spark, epoch_us vs
  * unix_micros, etc.). Cross-engine determinism rules used throughout:
  *   - fractional double sums go through DECIMAL casts (exact, order-free)
  *   - averages are single divisions of exact sums, then rounded
  *   - timestamps surface as epoch microseconds (bigint)
  *   - every top-k has a total tiebreak order
  */
object Queries {

  /** One query: its Spark plan over a tables dir, and its DuckDB oracle. */
  private final case class Query(plan: (SparkSession, String) => DataFrame, oracle: String)

  private def docs(s: SparkSession, dir: String) = s.read.parquet(s"$dir/documents.parquet")
  private def events(s: SparkSession, dir: String) = s.read.parquet(s"$dir/events.parquet")
  private def lineitem(s: SparkSession, dir: String) = s.read.parquet(s"$dir/lineitem.parquet")
  private def orders(s: SparkSession, dir: String) = s.read.parquet(s"$dir/orders.parquet")
  private def customer(s: SparkSession, dir: String) = s.read.parquet(s"$dir/customer.parquet")
  private def embeddings(s: SparkSession, dir: String) = s.read.parquet(s"$dir/embeddings.parquet")

  /** q93's WordPiece vocab — shared VERBATIM by the Spark kernel and the
    * DuckDB oracle so both engines tokenize against the same table.
    * Lowercase letters + digits as start and continuation singles (every
    * clean lowercase word encodes), plus a few multi-char pieces that
    * exercise longest-match; capitalized or punctuated words hit [UNK]. */
  private val wpVocab: Seq[String] =
    ('a' to 'z').map(_.toString) ++ ('a' to 'z').map("##" + _) ++
    ('0' to '9').map(_.toString) ++ ('0' to '9').map("##" + _) ++
    Seq("the", "an", "in", "re", "on", "##ing", "##ed", "##er", "##tion", "##and", "##ent")

  /** q174's BPE merge table — shared VERBATIM by the Spark chain and the
    * DuckDB oracle (the wpVocab discipline). Rank order matters: later
    * merges consume earlier outputs (t+h → th, then th+e → the). */
  private val bpeMergesShared: Seq[(String, String)] = Seq(
    ("e", "r"), ("t", "h"), ("th", "e"), ("a", "n"), ("an", "d"),
    ("i", "n"), ("o", "n"), ("e", "s"))

  /** Shared q82/q85 oracle fragment: per-subspace Lloyd chains (2
    * subspaces of dims 1-32/33-64, 4 seeds, 2 rounds) over `base`'s
    * micro-unit vectors — `s{N}_v/c0/d1/a1/u1/c1/d2/a2` CTEs. */
  private lazy val pqLloydCtes: String = (0 until 2).map { s =>
    val lo = s * 32 + 1
    val hi = (s + 1) * 32
    val p = s"s${s}_"
    val rounds = (1 to 2).map { i =>
      val dist =
        s"""${p}d$i AS (SELECT v.id, c.cid,
           |    CAST(list_sum([ (vm[j] - cm[j]) * (vm[j] - cm[j]) FOR j IN range(1, 33) ]) AS BIGINT) AS d2
           |  FROM ${p}v v CROSS JOIN ${p}c${i - 1} c),
           |${p}a$i AS (SELECT id, cid, d2 FROM (
           |    SELECT id, cid, d2, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
           |    FROM ${p}d$i) WHERE rn = 1)""".stripMargin
      val update = if (i < 2)
        s""",
           |${p}u$i AS (SELECT a.cid, t.j AS dim, CAST(sum(vm[t.j]) AS BIGINT) AS sx, count(*) AS cnt
           |  FROM ${p}a$i a JOIN ${p}v USING (id) CROSS JOIN range(1, 33) t(j)
           |  GROUP BY a.cid, t.j),
           |${p}c$i AS (SELECT cid, list(CAST(floor(sx / cnt + 0.5) AS BIGINT) ORDER BY dim) AS cm
           |  FROM ${p}u$i GROUP BY cid)""".stripMargin
      else ""
      dist + update
    }.mkString(",\n")
    s"""${p}v AS (SELECT id, vmfull[$lo:$hi] AS vm FROM base),
       |${p}c0 AS (SELECT id AS cid, vm AS cm FROM ${p}v ORDER BY id LIMIT 4),
       |$rounds""".stripMargin
  }.mkString(",\n")

  /** Whole-token perturbation for the eval-metric queries: every
    * whitespace-delimited 'value' token becomes 'worth'. See the q21
    * comment for why this is two regex passes and an explicit boundary
    * class, and why it makes the closed-form WER oracle exact. */
  private def perturbValueTokens(text: Column) = {
    val pat = "(^|[ \\t\\n\\r])value([ \\t\\n\\r]|$)"
    regexp_replace(regexp_replace(text, pat, "$1worth$2"), pat, "$1worth$2")
  }

  // ------------------------------------------------------------------
  // Fixture kit: the capture rows, fixture directories, test images and
  // pages the queries build, and the DuckDB fragments their oracles
  // share. New queries use these instead of hand-rolling copies. A
  // fragment an oracle interpolates is a def, or a val declared above
  // the registry: object vals initialize in declaration order.
  // ------------------------------------------------------------------

  /** `url` and `warc_ts` of a documents-shaped row's synthetic capture. */
  private def captureKey: Seq[Column] = Seq(
    concat(lit("http://"), col("source"), lit(".example/doc/"), col("doc_id")).as("url"),
    (col("doc_id") + lit(1577836800L)).cast("timestamp").as("warc_ts"))

  /** The WARC capture row over documents-shaped `d`: [[captureKey]] plus
    * `http_status`, `content_type` and `body`. */
  private def warcCapture(d: DataFrame, body: Column = encode(col("text"), "UTF-8"),
      status: Int = 200, contentType: String = "text/html; charset=utf-8"): DataFrame =
    d.select(captureKey ++ Seq(lit(status).as("http_status"),
      lit(contentType).as("content_type"), body.as("body")): _*)

  /** Per-tier fixture directory under the JVM temp dir (`prefix` + sf dir name). */
  private def fixtureDir(prefix: String, dir: String): String =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      prefix + new java.io.File(dir).getName).toString

  /** The CDX sidecars a `Warc.write(..., cdxIndex = true)` left in `out`. */
  private def cdxIndex(s: SparkSession, out: String): DataFrame =
    s.read.schema(
        "key STRING, url STRING, ts_ms LONG, file STRING, offset LONG, " +
          "length LONG, digest STRING, record_type STRING")
      .json(out + "/part-*.cdx")

  private def readWarc(s: SparkSession, out: String): DataFrame =
    s.read.format("graft.sources.WarcSource").load(out)

  /** `n_bytes` and `body_hash` (polyhash of the UTF-8 text) of a read-back `body`. */
  private def bodyDigest: Seq[Column] = Seq(
    length(col("body")).cast("long").as("n_bytes"),
    graft.ops.Dedup.polyHash(decode(col("body"), "UTF-8")).as("body_hash"))

  /** `doc_id` plus the fields of `f(doc_id)`, named `names`, for every
    * document: the per-document fixture row a closed-form query builds. */
  private def perDoc[T <: Product: TypeTag](s: SparkSession, dir: String, names: String*)(
      f: Long => T): DataFrame = {
    val st = udf(f)
    docs(s, dir).select(col("doc_id"), st(col("doc_id").cast("long")).as("d"))
      .select(col("doc_id") +: names.zipWithIndex.map { case (n, i) => col(s"d._${i + 1}").as(n) }: _*)
  }

  /** The boilerplate test page: nav, a `#main` article (title and two
    * paragraphs, `mid` between them) and a footer, numbered by `id`. */
  private def boilerplatePage(id: Column, mid: Column = lit("")): Column = concat(
    lit("<html><head><title>Doc "), id,
    lit("</title></head><body><nav><a href=\"/a\">Home</a><a href=\"/b\">About</a></nav>"),
    lit("<div id=\"main\"><h1>Title "), id,
    lit("</h1><p>Hello world "), id,
    lit(" with enough words to be content here today.</p>"), mid,
    lit("<p>Second paragraph "), id,
    lit(" also has plenty of real sentence text to keep.</p></div>"),
    lit("<footer>copyright footer</footer></body></html>"))

  /** A closed-form test raster: `w*h` pixels of `c` interleaved samples,
    * sample `k` of pixel (x, y) = `f(x, y, k)` truncated to a byte. */
  private def raster(w: Int, h: Int, c: Int = 1)(f: (Int, Int, Int) => Long): Array[Byte] = {
    val px = new Array[Byte](w * h * c)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var k = 0
        while (k < c) { px((y * w + x) * c + k) = f(x, y, k).toByte; k += 1 }
        x += 1
      }
      y += 1
    }
    px
  }

  /** The 16-entry RGB palette of the GIF queries: (17i, 255 - 17i, 51i mod 256). */
  private def gifPalette: Array[Byte] =
    raster(16, 1, 3)((i, _, k) => Seq(i * 17, 255 - i * 17, (i * 51) % 256)(k))

  /** (sum, min, max) of the unsigned samples of channel `k` of `c`
    * interleaved ones (all samples by default); (0, 255, 0) when empty. */
  private def pixelStats(px: Array[Byte], c: Int = 1, k: Int = 0): (Long, Long, Long) = {
    var sum = 0L; var mn = 255L; var mx = 0L
    var i = k
    while (i < px.length) {
      val u = (px(i) & 0xff).toLong
      sum += u; if (u < mn) mn = u; if (u > mx) mx = u
      i += c
    }
    (sum, mn, mx)
  }

  /** (count, index sum) of the set pixels of a decoded bilevel raster. */
  private def inkStats(px: Array[Byte]): (Long, Long) = {
    var nb = 0L; var ck = 0L
    var i = 0
    while (i < px.length) {
      if (px(i) != 0) { nb += 1; ck += i }
      i += 1
    }
    (nb, ck)
  }

  /** DuckDB replay of `Dedup.polyHash`: the base-131 fold of `x`'s chars mod 2^31-1. */
  private def polyHashSql(x: String): String =
    s"list_reduce(list_prepend(0::BIGINT, [ascii(c)::BIGINT FOR c IN split($x, '')]), " +
      "(acc, c) -> (acc * 131 + c) % 2147483647)"

  /** DuckDB: the whitespace-split words of `text`, empty strings dropped. */
  private val wordsSql = raw"list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')"

  /** DuckDB: CTEs `xs` then `out` unrolling every pixel (x, y) of the
    * `doc_id, w, h` rows of `src` into rows `doc_id, w, h, x, y`. */
  private def pixelGridSql(src: String, xs: String, out: String): String =
    s"$xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM $src),\n" +
      s"$out AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM $xs)"

  /** DuckDB: `SELECT outer, sim FROM (SELECT inner, dot, nq, nc FROM from)`,
    * `sim` being the cosine of list columns `qv` and `cv` (0.0 on a zero
    * norm). The default `from` scores `cand`'s (query_id, nn_id) pairs. */
  private def cosineSql(outer: String = "query_id, nn_id", inner: String = "query_id, nn_id",
      from: String = "cand JOIN (SELECT vec_id, embedding AS qv FROM embeddings) q " +
        "ON q.vec_id = cand.query_id JOIN (SELECT vec_id, embedding AS cv FROM embeddings) c " +
        "ON c.vec_id = cand.nn_id"): String = {
    def dot(a: String, b: String) = s"list_reduce(list_prepend(0.0::DOUBLE, " +
      s"[$a[i]::DOUBLE * $b[i]::DOUBLE FOR i IN range(1, len($a) + 1)]), (a, b) -> a + b)"
    s"SELECT $outer, CASE WHEN nq = 0 OR nc = 0 THEN 0.0 ELSE dot / (sqrt(nq) * sqrt(nc)) END AS sim " +
      s"FROM ( SELECT $inner, ${dot("qv", "cv")} AS dot, ${dot("qv", "qv")} AS nq, " +
      s"${dot("cv", "cv")} AS nc FROM $from)"
  }

  /** DuckDB: the word `n`-shingles of list column `w` (the whole text when
    * it has at most `n` words), joined by `array_to_string` or, with
    * `concatGram`, by `||`. */
  private def wordShinglesSql(n: Int, concatGram: Boolean = false): String = {
    val gram =
      if (concatGram) (0 until n).map(k => if (k == 0) "w[i]" else s"w[i+$k]").mkString(" || ' ' || ")
      else s"array_to_string(w[i : i + ${n - 1}], ' ')"
    s"CASE WHEN len(w) = 0 THEN [] WHEN len(w) <= $n THEN [array_to_string(w, ' ')] " +
      s"ELSE [$gram FOR i IN range(1, len(w) - ${n - 2})] END"
  }

  /** DuckDB replay of the 32-function MinHash signature over hash list
    * `hb`: per function the min of Dedup's affine family. */
  private val minHashSigSql =
    "[CASE WHEN len(hb) = 0 THEN 2147483647::BIGINT " +
      "ELSE list_min([((((h+1) * 1103515245 + 12345) % 2147483647) * x " +
      "+ (((h+1) * 1234567891 + 987654321) % 2147483647)) % 2147483647 " +
      "FOR x IN hb]) END FOR h IN range(0, 32)]"

  /** q110/q111 item stream: consecutive word bigrams (zip_with over the
    * 1-shifted slice — no descending-sequence edge case on 1-word docs). */
  private def hllBigrams(d: DataFrame): DataFrame =
    d.select(split(trim(col("text")), "\\s+").as("__ws"))
      .select(explode(expr(
        """zip_with(slice(__ws, 1, size(__ws) - 1), slice(__ws, 2, size(__ws) - 1),
          |(a, b) -> concat(a, ' ', b))""".stripMargin)).as("w"))

  /** q98's planted syndicated block — long enough (~330 codepoints vs the
    * 64-codepoint expected chunk length) that several boundaries land
    * inside it with near-certainty, making its interior chunks identical
    * across every doc_id % 4 == 0 document. */
  private val q98Block =
    "syndicated wire story body repeated verbatim across mirror sites " * 5

  /** Deterministic image-bearing PDF for q41/q42: every property of the
    * embedded images is a closed-form function of doc_id (replayed by the
    * DuckDB oracles), the container flavor varies (classic / xref-stream /
    * objstm), and the doc_id % 7 == 0 slice is IMAGE-ONLY (a scanned doc:
    * no text operators at all). */
  private def syntheticImagePdf(docId: Long): Array[Byte] = {
    import graft.pdf.PdfWriter
    import graft.pdf.PdfWriter._
    val images = (0 until (docId % 3).toInt + 1).toVector.map { j =>
      val w = (8 + (docId * 5 + j * 3) % 24).toInt
      val h = (4 + (docId * 3 + j) % 16).toInt
      ((docId + j) % 4).toInt match {
        case 0 => ImageSpec(w, h, DctCodec,
          graft.synth.Synth.fakeJpeg(docId * 1000 + j, (64 + (docId * 13 + j * 7) % 100).toInt))
        case 1 => ImageSpec(w, h, RawSamples,
          graft.synth.Synth.detBytes(docId * 1000 + j, w * h * 3),
          outerFilters = Vector(FlateF))
        case 2 => ImageSpec(w, h, JpxCodec,
          graft.synth.Synth.detBytes(docId * 2000 + j, (32 + (docId * 7 + j) % 64).toInt))
        case _ => ImageSpec(w, h, CcittCodec,
          graft.synth.Synth.detBytes(docId * 3000 + j, (16 + (docId * 11 + j * 5) % 32).toInt),
          colorSpace = "DeviceGray", bitsPerComponent = 1)
      }
    }
    val text: Vector[String] =
      if (docId % 7 == 0) Vector.empty else Vector(s"synthetic doc $docId")
    val flavor =
      if (docId % 3 == 0) XrefStream(objStm = docId % 2 == 0) else Classic
    PdfWriter.write(Vector(PageSpec(Vector(text), images = images)), flavor)
  }

  /** Shared q61/q176 oracle fragment: the 3-round integer-exact Lloyd
    * unroll, ending at the final assignment CTE `a3` (id, cid, d2) over
    * the micro-quantized embeddings. */
  private def kmeansCtes: String = {
    val rounds = (1 to 3).map { i =>
      val dist =
        s"""s$i AS (SELECT v.id, c.cid,
           |    CAST(list_sum([ (vm[j] - cm[j]) * (vm[j] - cm[j]) FOR j IN range(1, len(vm) + 1) ]) AS BIGINT) AS d2
           |  FROM v CROSS JOIN c${i - 1} c),
           |a$i AS (SELECT id, cid, d2 FROM (
           |    SELECT id, cid, d2, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
           |    FROM s$i) WHERE rn = 1)""".stripMargin
      val update = if (i < 3)
        s""",
           |u$i AS (SELECT a.cid, t.j AS dim, CAST(sum(vm[t.j]) AS BIGINT) AS sx, count(*) AS cnt
           |  FROM a$i a JOIN v USING (id) CROSS JOIN range(1, 65) t(j)
           |  GROUP BY a.cid, t.j),
           |c$i AS (SELECT cid, list(CAST(floor(sx / cnt + 0.5) AS BIGINT) ORDER BY dim) AS cm
           |  FROM u$i GROUP BY cid)""".stripMargin
      else ""
      dist + update
    }.mkString(",\n")
    s"""v AS (SELECT vec_id AS id,
       |    [CAST(floor(x * 1e6 + 0.5) AS BIGINT) FOR x IN embedding] AS vm
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |c0 AS (SELECT id AS cid, vm AS cm FROM v ORDER BY id LIMIT 8),
       |$rounds""".stripMargin
  }

  /** Shared q58/q166 oracle fragment: the full bigram-LM replay (hash →
    * reference counts → add-0.1 smoothing → per-bigram 6dp logprob rows),
    * up to and including the per-(doc, bigram) `lp` CTE — q58 aggregates
    * it per document, q166 buckets the per-document averages per source. */
  private def lmNllCtes: String =
    raw"""d AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '[ \t\n\r]+'), x -> x <> '') AS w
      |  FROM documents),
      |ref AS (SELECT w FROM d WHERE doc_id % 13 = 0),
      |corp AS (SELECT doc_id, w FROM d WHERE doc_id % 13 <> 0),
      |c1 AS (SELECT h1, count(*)::BIGINT AS c1 FROM (
      |    SELECT ${polyHashSql("tok")} AS h1
      |    FROM (SELECT unnest(w) AS tok FROM ref)) GROUP BY h1),
      |v AS (SELECT count(*)::BIGINT AS v FROM c1),
      |c12 AS (SELECT h12, count(*)::BIGINT AS c12 FROM (
      |    SELECT ${polyHashSql("bg")} AS h12
      |    FROM (SELECT unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
      |          FROM ref)) GROUP BY h12),
      |cb AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
      |  FROM corp),
      |ch AS (SELECT doc_id,
      |    ${polyHashSql("split_part(bg, ' ', 1)")} AS h1,
      |    ${polyHashSql("bg")} AS h12
      |  FROM cb),
      |lp AS (SELECT doc_id,
      |    CAST(floor(-ln((coalesce(c12, 0) + 0.1::DOUBLE) /
      |      (coalesce(c1, 0) + 0.1::DOUBLE * v)) * 1e6 + 0.5) AS BIGINT) AS lpm
      |  FROM ch LEFT JOIN c12 USING (h12) LEFT JOIN c1 USING (h1), v)""".stripMargin

  /** Shared CTE block for q132/q133: micro-quantized embeddings →
    * per-(key, dim) exact centroid cells → ordered centroid arrays
    * (tables `q` and `cent`). */
  private def centroidCtes: String =
    """q AS (SELECT label AS key,
      |    [CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) FOR x IN embedding] AS vm
      |  FROM embeddings),
      |e AS (SELECT key, t.i AS dim, vm[t.i] AS v
      |  FROM q CROSS JOIN range(1, 65) t(i) WHERE t.i <= len(vm)),
      |c AS (SELECT key, dim,
      |    CAST(floor(CAST(sum(v) AS BIGINT) / count(*) + 0.5) AS BIGINT) AS c
      |  FROM e GROUP BY 1, 2),
      |cent AS (SELECT key, list(c ORDER BY dim) AS cv FROM c GROUP BY key)""".stripMargin

  /** Shared CTE block for q126/q127: deterministic router predictions →
    * k² matrix → per-class TP/FP/FN + precision/recall/F1 as table `f`. */
  private def confusionCtes: String =
    """d AS (SELECT lang AS label,
      |    CASE WHEN doc_id % 4 = 0 THEN
      |      CASE lang WHEN 'en' THEN 'de' WHEN 'de' THEN 'es' WHEN 'es' THEN 'fr'
      |        WHEN 'fr' THEN 'zh' ELSE 'en' END
      |    ELSE lang END AS pred
      |  FROM documents),
      |m AS (SELECT label, pred, count(*)::BIGINT AS n FROM d GROUP BY 1, 2),
      |cl AS (SELECT DISTINCT label AS clazz FROM m
      |  UNION SELECT DISTINCT pred FROM m),
      |tp AS (SELECT label AS clazz, n AS tp FROM m WHERE label = pred),
      |fp AS (SELECT pred AS clazz, CAST(sum(n) AS BIGINT) AS fp FROM m
      |  WHERE label <> pred GROUP BY 1),
      |fn AS (SELECT label AS clazz, CAST(sum(n) AS BIGINT) AS fn FROM m
      |  WHERE label <> pred GROUP BY 1),
      |j AS (SELECT cl.clazz, coalesce(tp.tp, 0) AS tp, coalesce(fp.fp, 0) AS fp,
      |    coalesce(fn.fn, 0) AS fn
      |  FROM cl LEFT JOIN tp USING (clazz) LEFT JOIN fp USING (clazz)
      |  LEFT JOIN fn USING (clazz)),
      |pr AS (SELECT clazz, tp, fp, fn,
      |    CASE WHEN tp + fp = 0 THEN 0
      |      ELSE CAST(tp * 1000000 // (tp + fp) AS BIGINT) END AS precision_micro,
      |    CASE WHEN tp + fn = 0 THEN 0
      |      ELSE CAST(tp * 1000000 // (tp + fn) AS BIGINT) END AS recall_micro
      |  FROM j),
      |f AS (SELECT clazz, tp, fp, fn, precision_micro, recall_micro,
      |    CASE WHEN precision_micro + recall_micro = 0 THEN 0
      |      ELSE CAST(2 * precision_micro * recall_micro
      |        // (precision_micro + recall_micro) AS BIGINT) END AS f1_micro
      |  FROM pr)""".stripMargin

  /** Shared CTE block for q110/q111: bigram stream → mixed polyHash →
    * (bucket, rank) rows. */
  private def hllRegisterCtes: String =
    raw"""b AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |w AS (SELECT unnest([ws[i] || ' ' || ws[i + 1] FOR i IN range(1, len(ws))]) AS w
      |  FROM b),
      |h0 AS (SELECT
      |    ${polyHashSql("w")} AS h0
      |  FROM w),
      |h AS (SELECT (h0 * 1103515245 + 12345) % 2147483647 AS h FROM h0),
      |r AS (SELECT h % 64 AS bucket,
      |    CASE WHEN h // 64 = 0 THEN 26
      |      ELSE 26 - len(printf('%b', h // 64)) END AS rank
      |  FROM h)""".stripMargin

  // ------------------------------------------------------------------
  // SQL-oracled queries (SURVEY §2.2 P3/P6, §2.4 A1-A3/A7, §2.5, §2.6 O1,
  // §2.3 J1/J3, §2.7, §2.8 N3/N5/N6, + training-pipeline text ops)
  // ------------------------------------------------------------------

  private val registry: Map[String, Query] = Map(
    // A1-A3: grouped counts + guarded mean (success-summary shape, eval.py:305-319)
    "q1_filter_agg" -> Query((s, dir) => {
      docs(s, dir).groupBy(col("lang")).agg(
        count(lit(1)).as("cnt"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
    },
      "SELECT lang, count(*) AS cnt, round(avg(n_chars), 4) AS avg_chars FROM documents GROUP BY lang"),

    // A7: CER via built-in levenshtein (eval.py:145-150), en-restricted
    "q2_cer" -> Query((s, dir) => {
      docs(s, dir).filter(col("lang") === "en" && col("doc_id") < 100)
        .select(col("doc_id"),
          round(
            levenshtein(substring(col("text"), 1, 120),
              upper(substring(col("text"), 1, 120))).cast("double") /
              length(substring(col("text"), 1, 120)), 6).as("cer"))
    },
      """SELECT doc_id, round(CAST(levenshtein(substr(text,1,120), upper(substr(text,1,120))) AS DOUBLE)
        | / length(substr(text,1,120)), 6) AS cer
        |FROM documents WHERE lang = 'en' AND doc_id < 100""".stripMargin),

    // N3+N5+N6: normalization chain subset as Column DSL (eval.py:49,58,66)
    "q3_normalize" -> Query((s, dir) => {
      val styled = concat(lit("**"), substring(col("text"), 1, 60), lit("** x  y"))
      val bulleted = concat(lit("* item\n+ item2\n"), substring(col("text"), 1, 20))
      docs(s, dir).filter(col("doc_id") < 50).select(
        col("doc_id"),
        trim(regexp_replace(regexp_replace(styled, "\\*\\*([^*]+)\\*\\*", "$1"), " +", " ")).as("norm_styled"),
        regexp_replace(bulleted, "(?m)^[\\s]*[\\*\\+][\\s]*", "- ").as("norm_bullets"))
    },
      """SELECT doc_id,
        | trim(regexp_replace(regexp_replace('**' || substr(text,1,60) || '** x  y',
        |   '\*\*([^*]+)\*\*', '\1', 'g'), ' +', ' ', 'g')) AS norm_styled,
        | regexp_replace('* item' || chr(10) || '+ item2' || chr(10) || substr(text,1,20),
        |   '(?m)^[\s]*[\*\+][\s]*', '- ', 'g') AS norm_bullets
        |FROM documents WHERE doc_id < 50""".stripMargin),

    // O1/S5: latest-artifact selection (eval.py:133) as max over the manifest key
    "q4_latest" -> Query((s, dir) => {
      // parquet ts is TIMESTAMP_NTZ; session TZ is UTC so the cast is exact
      events(s, dir).agg(unix_micros(max(col("ts")).cast("timestamp")).as("latest_us"))
    },
      "SELECT epoch_us(max(ts)) AS latest_us FROM events"),

    // §2.5: latest attempt per key via row_number window
    "q5_window_latest" -> Query((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, dir).withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"))
    },
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin),

    // J1: equi-join + grouped aggregate (decimal-exact revenue)
    "q6_join_agg" -> Query((s, dir) => {
      val li = lineitem(s, dir)
      val o = orders(s, dir)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(
          count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double").as("revenue"))
    },
      """SELECT o_orderstatus, count(*) AS cnt,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin),

    // J3: left-anti (resume-skip shape)
    "q7_anti_join" -> Query((s, dir) => {
      val c = customer(s, dir)
      val o = orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("cnt"))
    },
      """SELECT count(*) AS cnt FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),

    // left-semi complement
    "q8_semi_join" -> Query((s, dir) => {
      val c = customer(s, dir)
      val o = orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("cnt"))
    },
      """SELECT count(*) AS cnt FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),

    // E2: union-distinct
    "q9_union" -> Query((s, dir) => {
      events(s, dir).select(col("event_type").as("v")).distinct()
        .union(docs(s, dir).select(col("lang").as("v")).distinct())
        .distinct().agg(count(lit(1)).as("cnt"))
    },
      """SELECT count(*) AS cnt FROM (
        |  SELECT DISTINCT event_type AS v FROM events
        |  UNION
        |  SELECT DISTINCT lang AS v FROM documents)""".stripMargin),

    // exact dedup signature (training op): distinct counts. The md5
    // variant is the 100 TB shape — shuffling 32-char digests instead of
    // full documents; identical algorithm in both engines so it stays
    // oracle-checked
    "q10_exact_dedup" -> Query((s, dir) => {
      // Hash FIRST, then count distinct over the 128-bit digest: multiple
      // countDistincts expand the input N× before the shuffle, so distinct
      // over raw `text` would shuffle every document body twice. Hashing in
      // the scan projection shrinks the expanded rows to 32 bytes each —
      // the only shape that survives 10^12 docs. distinct_texts is also
      // computed from the digest (md5 collisions are ~1e-15 at 10^12 rows);
      // the DuckDB oracle checks it against a true count(DISTINCT text),
      // cross-verifying hash-dedup == raw-dedup on the test corpus.
      docs(s, dir).select(md5(col("text").cast("binary")).as("h"), col("source"))
        // pre-aggregate on (h, source) BEFORE the count-distinct Expand:
        // the partial hash-aggregate combines duplicates map-side, so the
        // Expand (3x fan-out) runs over distinct digest pairs instead of
        // every row — on a dedup-worthy corpus that is the difference
        // between expanding 10^12 rows and expanding the unique ~10^11
        .groupBy(col("h"), col("source")).agg(count(lit(1)).as("cnt"))
        .agg(
          // coalesce: the grouped pre-aggregate yields ZERO rows on an
          // empty table, making sum() NULL where the oracle's count(*)
          // says 0
          coalesce(sum(col("cnt")), lit(0L)).as("total"),
          countDistinct(col("h")).as("distinct_texts"),
          countDistinct(col("source")).as("distinct_sources"))
        // same digest count under both names; driver sorts by column name
        .withColumn("distinct_hashes", col("distinct_texts"))
    },
      """SELECT count(*) AS total, count(DISTINCT text) AS distinct_texts,
        | count(DISTINCT md5(text)) AS distinct_hashes,
        | count(DISTINCT source) AS distinct_sources FROM documents""".stripMargin),

    // token counting (training op): whitespace tokenization
    "q11_token_count" -> Query((s, dir) => {
      docs(s, dir).groupBy(col("lang")).agg(
        sum(size(split(trim(col("text")), "\\s+"))).as("tokens"))
    },
      """SELECT lang, CAST(sum(length(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tokens
        |FROM documents GROUP BY lang""".stripMargin),

    // word frequency top-k via explode (Generator) — multiset semantics
    "q12_word_freq" -> Query((s, dir) => {
      docs(s, dir).filter(col("lang") === "en")
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(20)
    },
      """SELECT w, count(*) AS c FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents WHERE lang = 'en')
        |GROUP BY w ORDER BY c DESC, w ASC LIMIT 20""".stripMargin),

    // quality scoring (training op): stopword-occurrence ratio per lang
    "q13_stopword" -> Query((s, dir) => {
      val occ = ((length(col("text")) - length(regexp_replace(col("text"), " the ", ""))) / 5)
        .cast("long")
      docs(s, dir).groupBy(col("lang")).agg(
        sum(occ).as("the_occurrences"),
        round(sum(occ).cast("double") / sum(col("n_chars")), 6).as("density"))
    },
      """SELECT lang,
        | CAST(sum((length(text) - length(replace(text, ' the ', ''))) // 5) AS BIGINT) AS the_occurrences,
        | round(CAST(sum((length(text) - length(replace(text, ' the ', ''))) // 5) AS DOUBLE)
        |   / sum(n_chars), 6) AS density
        |FROM documents GROUP BY lang""".stripMargin),

    // tumbling-hour aggregate (batch analog of an event-time window)
    "q14_hour_agg" -> Query((s, dir) => {
      events(s, dir)
        .groupBy(unix_micros(date_trunc("HOUR", col("ts"))).as("hour_us"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value").cast("decimal(18,6)")), 4).cast("double").as("total"))
    },
      """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, count(*) AS cnt,
        | CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total
        |FROM events GROUP BY 1""".stripMargin),

    // C5: JSON field extraction from props
    "q15_json" -> Query((s, dir) => {
      events(s, dir).groupBy(col("event_type")).agg(
        round(avg(get_json_object(col("props"), "$.k").cast("int")), 4).as("avg_k"))
    },
      """SELECT event_type, round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k
        |FROM events GROUP BY event_type""".stripMargin),

    // top-k users by decimal-exact total (TakeOrderedAndProject)
    "q16_topk_users" -> Query((s, dir) => {
      events(s, dir).groupBy(col("user_id"))
        .agg(round(sum(col("value").cast("decimal(18,6)")), 4).cast("double").as("total"))
        .orderBy(col("total").desc, col("user_id").asc).limit(10)
    },
      """SELECT user_id, CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total
        |FROM events GROUP BY user_id ORDER BY total DESC, user_id ASC LIMIT 10""".stripMargin),

    // A4 relational form: multiset word overlap between two sources
    "q17_multiset_overlap" -> Query((s, dir) => {
      def wordCounts(src: String) =
        docs(s, dir).filter(col("source") === src)
          .select(explode(split(trim(col("text")), "\\s+")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val a = wordCounts("src0").withColumnRenamed("c", "ca")
      val b = wordCounts("src1").withColumnRenamed("c", "cb")
      a.join(b, Seq("w"))
        .agg(sum(least(col("ca"), col("cb"))).as("overlap"))
    },
      """WITH a AS (
        |  SELECT w, count(*) AS ca FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents WHERE source = 'src0') GROUP BY w),
        |b AS (
        |  SELECT w, count(*) AS cb FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents WHERE source = 'src1') GROUP BY w)
        |SELECT CAST(sum(least(ca, cb)) AS BIGINT) AS overlap FROM a JOIN b USING (w)""".stripMargin),

    // language-id heuristic (training op): stopword-score argmax
    "q18_langid" -> Query((s, dir) => {
      def score(word: String) =
        (length(col("text")) - length(regexp_replace(col("text"), s" $word ", ""))) /
          (word.length + 2)
      val sEn = score("the") + score("and")
      val sDe = score("der") + score("und")
      val sEs = score("los") + score("las")
      val sFr = score("les") + score("des")
      val pred = when(sEn >= greatest(sDe, sEs, sFr), "en")
        .when(sDe >= greatest(sEs, sFr), "de")
        .when(sEs >= sFr, "es")
        .otherwise("fr")
      docs(s, dir).select(pred.as("predicted"))
        .groupBy(col("predicted")).agg(count(lit(1)).as("cnt"))
    },
      """SELECT predicted, count(*) AS cnt FROM (
        |  SELECT CASE
        |    WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
        |    WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
        |    WHEN s_es >= s_fr THEN 'es'
        |    ELSE 'fr' END AS predicted
        |  FROM (
        |    SELECT
        |      (length(text) - length(replace(text, ' the ', ''))) // 5
        |        + (length(text) - length(replace(text, ' and ', ''))) // 5 AS s_en,
        |      (length(text) - length(replace(text, ' der ', ''))) // 5
        |        + (length(text) - length(replace(text, ' und ', ''))) // 5 AS s_de,
        |      (length(text) - length(replace(text, ' los ', ''))) // 5
        |        + (length(text) - length(replace(text, ' las ', ''))) // 5 AS s_es,
        |      (length(text) - length(replace(text, ' les ', ''))) // 5
        |        + (length(text) - length(replace(text, ' des ', ''))) // 5 AS s_fr
        |    FROM documents))
        |GROUP BY predicted""".stripMargin),

    // P2: extension extraction (orchestrator.py:22) over document sources
    "q19_ext_dispatch" -> Query((s, dir) => {
      val url = concat(lit("https://h/"), col("source"), lit("/f."),
        when(col("doc_id") % 10 === 0, "pdf").otherwise("html"))
      docs(s, dir)
        .select(element_at(split(lower(url), "\\."), -1).as("ext"))
        .groupBy(col("ext")).agg(count(lit(1)).as("cnt"))
    },
      """SELECT ext, count(*) AS cnt FROM (
        |  SELECT list_extract(string_split(lower('https://h/' || source || '/f.' ||
        |    CASE WHEN doc_id % 10 = 0 THEN 'pdf' ELSE 'html' END), '.'), -1) AS ext
        |  FROM documents)
        |GROUP BY ext""".stripMargin),

    // n-gram Jaccard near-dup (training op): char-3-gram set similarity
    // over all doc pairs in a bounded slice — the exact-verify stage of
    // fuzzy dedup (the LSH stage is q27; at scale LSH prunes the pairs
    // and THIS formula re-scores only candidates).
    "q23_ngram_jaccard" -> Query((s, dir) => {
      val base = docs(s, dir).filter(col("doc_id") < 30)
        .select(col("doc_id"), expr(
          "array_distinct(transform(sequence(1, greatest(length(substr(text,1,150)) - 2, 1))," +
            " i -> substr(substr(text,1,150), i, 3)))").as("g"))
      val a = base.select(col("doc_id").as("id_a"), col("g").as("ga"))
      val b = base.select(col("doc_id").as("id_b"), col("g").as("gb"))
      val inter = size(array_intersect(col("ga"), col("gb"))).cast("double")
      val union = (size(col("ga")) + size(col("gb"))).cast("double") - inter
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          floor(inter / union * 1000000 + 0.5).cast("long").as("jaccard_micro"))
    },
      """WITH g AS (
        |  SELECT doc_id, list_distinct([substr(t, i, 3)
        |    FOR i IN range(1, greatest(length(t) - 1, 2))]) AS g
        |  FROM (SELECT doc_id, substr(text, 1, 150) AS t FROM documents WHERE doc_id < 30))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(floor(len(list_intersect(a.g, b.g))::DOUBLE
        |    / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) * 1000000 + 0.5) AS BIGINT) AS jaccard_micro
        |FROM g a, g b WHERE a.doc_id < b.doc_id""".stripMargin),

    // ANN baseline (training op): brute-force cosine top-k, broadcast
    // query batch, one corpus scan, per-query row_number top-k
    "q24_cosine_topk" -> Query((s, dir) => {
      val emb = embeddings(s, dir)
      graft.ops.Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 10)
    },
      raw"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  ${cosineSql(outer = "query_id, c.vec_id AS nn_id", inner = "query_id, c.vec_id",
               from = "q, (SELECT vec_id, embedding AS cv FROM embeddings) c")} c)
        |SELECT query_id, rank, nn_id, round(sim, 6) AS sim FROM (
        |  SELECT query_id, nn_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id ASC) AS rank
        |  FROM scored) WHERE rank <= 10""".stripMargin),

    // quality scoring (training op): Gopher/C4-style cheap heuristics
    "q25_quality" -> Query((s, dir) => {
      import graft.ops.TextOps
      val f = TextOps.qualityFeatures(col("text"))
      docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          f.getField("n_words").as("n_words"),
          f.getField("mean_word_len").as("mean_word_len"),
          f.getField("punct_ratio").as("punct_ratio"),
          f.getField("upper_ratio").as("upper_ratio"),
          TextOps.qualityScore(col("text")).as("quality"))
    },
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_words,
        |  round(length(text)::DOUBLE / len(regexp_split_to_array(trim(text), '\s+')), 4) AS mean_word_len,
        |  round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
        |    / greatest(length(text), 1), 6) AS punct_ratio,
        |  round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE
        |    / greatest(length(text), 1), 6) AS upper_ratio,
        |  round((
        |    least(len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE / 50, 1.0)
        |    + CASE WHEN round(length(text)::DOUBLE / len(regexp_split_to_array(trim(text), '\s+')), 4)
        |        BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END
        |    + CASE WHEN round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
        |        / greatest(length(text), 1), 6) <= 0.1 THEN 1.0 ELSE 0.5 END
        |  ) / 3, 6) AS quality
        |FROM documents WHERE doc_id < 200""".stripMargin),

    // document fingerprinting (training op): polynomial rolling hash +
    // content-defined chunk boundaries, both pure HOF folds
    "q26_fingerprint" -> Query((s, dir) => {
      docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"), substring(col("text"), 1, 200).as("t"))
        .select(col("doc_id"),
          graft.ops.TextOps.fingerprint(col("t")).as("fp"),
          graft.ops.TextOps.chunkBoundaryCount("t").as("chunks"))
    },
      """SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT, [ascii(c)::BIGINT FOR c IN split(t, '')]),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fp,
        |  len(list_filter(
        |    [list_reduce(list_prepend(0::BIGINT, [ascii(c)::BIGINT FOR c IN split(substr(t, i, 8), '')]),
        |       (acc, c) -> (acc * 31 + c) % 1000000007)
        |     FOR i IN range(1, greatest(length(t) - 7, 1) + 1)],
        |    h -> h % 64 = 0))::BIGINT AS chunks
        |FROM (SELECT doc_id, substr(text, 1, 200) AS t FROM documents WHERE doc_id < 200)""".stripMargin),

    // §2.5/§2.10: batch sessionization — Spark's session_window merges a
    // user's events within a 6h inactivity gap (the batch twin of the
    // streaming mapGroupsWithState host sessions); session end is
    // last-event + gap, so the oracle replays it as gaps-and-islands
    "q38_sessions" -> Query((s, dir) =>
      events(s, dir).filter(col("user_id") < 50)
        .groupBy(col("user_id"), session_window(col("ts"), "6 hours").as("w"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value").cast("decimal(18,6)")), 4).cast("double").as("total"))
        // ts is TIMESTAMP_NTZ in the fixtures; the session runs in UTC, so
        // casting the session bounds to TIMESTAMP reinterprets the wall
        // clock as UTC — the same reading DuckDB's naive epoch_us takes
        .select(col("user_id"),
          unix_micros(col("w").getField("start").cast("timestamp")).as("start_us"),
          unix_micros(col("w").getField("end").cast("timestamp")).as("end_us"),
          col("cnt"), col("total")),
      // q38: gaps-and-islands replay of session_window — a session breaks
      // when the inactivity gap is >= 6h (Spark merges only strictly
      // overlapping [ts, ts+gap) windows, so an exactly-gap event starts a
      // new session); end = last event + gap
      """WITH b AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |          OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 6 HOUR
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WHERE user_id < 50),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b)
        |SELECT user_id, epoch_us(min(ts)) AS start_us,
        |  epoch_us(max(ts) + INTERVAL 6 HOUR) AS end_us,
        |  count(*) AS cnt,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total
        |FROM s GROUP BY user_id, sid""".stripMargin),

    // curation (training op): deterministic hash-bucket train/val/test
    // split — stable across runs/cluster sizes/engines, unlike rand()
    "q36_hash_split" -> Query((s, dir) =>
      docs(s, dir)
        .select(graft.ops.Curation.hashSplit(col("doc_id")).as("split"),
          col("lang"), col("n_chars"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars")),
      """SELECT split, lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS chars FROM (
        |  SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        |         lang, n_chars
        |  FROM (SELECT ((doc_id * 1103515245 + 12345) % 2147483647) % 100 AS b, lang, n_chars
        |        FROM documents))
        |GROUP BY split, lang""".stripMargin),

    // curation (training op): per-domain quota — keep the first 5 docs
    // per source, then summarize what survived the cap
    "q37_host_cap" -> Query((s, dir) => {
      val capped = graft.ops.Curation.capPerKey(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        "source", "doc_id", n = 5)
      capped.groupBy(col("source")).agg(
        count(lit(1)).as("kept"),
        sum(col("n_chars")).as("kept_chars"),
        max(col("doc_id")).as("max_kept_id"))
    },
      """SELECT source, count(*) AS kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars,
        |  max(doc_id) AS max_kept_id
        |FROM (SELECT source, doc_id, n_chars,
        |        row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |      FROM documents)
        |WHERE rn <= 5 GROUP BY source""".stripMargin),

    // curation (training op): weighted mix sampling — src0 upweighted 3x,
    // src1 downweighted to 0.5, everything else weight 1, over a 100k
    // token budget; summarize what each source kept
    "q39_mix_sample" -> Query((s, dir) => {
      val kept = graft.ops.Curation.mixSample(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars", "doc_id",
        Map("src0" -> 3.0, "src1" -> 0.5), totalTokens = 100000L)
      kept.groupBy(col("source")).agg(
        count(lit(1)).as("kept"), sum(col("n_chars")).as("kept_chars"))
    },
      // q39: replay of the mix sampler — same division order as the Spark
      // plan ((w / wtot) * budget / avail) so fractions are bit-equal;
      // membership is the affine id-hash bucket strictly under frac * 1e6
      """WITH avail AS (
        |  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS av FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, av,
        |    CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 0.5 ELSE 1.0 END AS wt
        |  FROM avail),
        |f AS (
        |  SELECT source, least(1.0, wt / (SELECT sum(wt) FROM w) * 100000.0 / av) AS frac
        |  FROM w),
        |kept AS (
        |  SELECT d.source, d.n_chars
        |  FROM documents d JOIN f ON d.source = f.source
        |  WHERE ((d.doc_id * 1103515245 + 12345) % 2147483647) % 1000000 < frac * 1000000.0)
        |SELECT source, count(*) AS kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars
        |FROM kept GROUP BY source""".stripMargin),

    // ----------------------------------------------------------------
    // Pipeline replays: full fuzzy-dedup / ANN pipelines whose kernels
    // use the portable Carter-Wegman hash family, so the DuckDB oracle
    // replays signatures → banding → verify bit-for-bit
    // ----------------------------------------------------------------

    // MinHash+LSH near-dup (training op): documents ∪ perturbed copies;
    // the LSH band join must surface each planted near-dup pair
    "q27_minhash_lsh" -> Query((s, dir) => {
      val base = docs(s, dir).filter(col("doc_id") < 150)
        .select(col("doc_id").cast("long").as("id"), col("text"))
      val perturbed = base.select((col("id") + 10000L).as("id"),
        regexp_replace(col("text"), "^(\\S+) (\\S+)", "changed prefix").as("text"))
      val corpus = base.unionByName(perturbed)
      graft.ops.Dedup.minhashNearDups(corpus, "id", "text", threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          floor(col("jaccard") * 1000000 + 0.5).cast("long").as("jaccard_micro"))
    },
      // q27: full independent replay of the MinHash LSH pipeline — the
      // Carter-Wegman-mod-(2^31-1) family was chosen so shingle hash,
      // signature, band keys, bucket join and exact-jaccard verify are all
      // plain BIGINT arithmetic in ANSI SQL (see ops/Dedup.scala)
      raw"""WITH corpus AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents WHERE doc_id < 150
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT) + 10000 AS id,
        |         regexp_replace(text, '^(\S+) (\S+)', 'changed prefix') AS text
        |  FROM documents WHERE doc_id < 150
        |),
        |words AS (
        |  SELECT id, $wordsSql AS w
        |  FROM corpus
        |),
        |sh AS (
        |  SELECT id, list_distinct(
        |    ${wordShinglesSql(3, concatGram = true)}) AS shingles
        |  FROM words
        |),
        |ph AS (
        |  SELECT id, shingles,
        |    [${polyHashSql("sg")} FOR sg IN shingles] AS hb
        |  FROM sh
        |),
        |sigs AS (
        |  SELECT id, shingles,
        |    $minHashSigSql AS sig
        |  FROM ph
        |),
        |keyed AS (
        |  SELECT id, shingles,
        |    [list_reduce(list_prepend((b+1)::BIGINT, [sig[4*b + j] FOR j IN range(1, 5)]),
        |       (acc, s) -> (acc * 131071 + s) % 2147483647) FOR b IN range(0, 8)] AS keys
        |  FROM sigs
        |),
        |buckets AS (
        |  SELECT id, unnest([{'band': b, 'key': keys[b + 1]} FOR b IN range(0, 8)], recursive := true)
        |  FROM keyed
        |),
        |bstat AS (
        |  SELECT band, key, count(*) AS n, min(id) AS mn FROM buckets GROUP BY band, key
        |),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM buckets a
        |  JOIN bstat s ON s.band = a.band AND s.key = a.key
        |  JOIN buckets b ON a.band = b.band AND a.key = b.key AND a.id < b.id
        |  WHERE s.n <= 1000 OR a.id = s.mn
        |),
        |verified AS (
        |  SELECT id_a, id_b,
        |    len(list_intersect(sa.shingles, sb.shingles))::DOUBLE AS inter,
        |    (len(sa.shingles) + len(sb.shingles))::DOUBLE AS stot
        |  FROM cand
        |  JOIN sh sa ON sa.id = cand.id_a
        |  JOIN sh sb ON sb.id = cand.id_b
        |)
        |SELECT id_a, id_b,
        |  CAST(floor((CASE WHEN stot - inter = 0 THEN 1.0 ELSE inter / (stot - inter) END) * 1000000 + 0.5) AS BIGINT) AS jaccard_micro
        |FROM verified
        |WHERE (CASE WHEN stot - inter = 0 THEN 1.0 ELSE inter / (stot - inter) END) >= 0.5""".stripMargin),

    // SimHash near-dup (training op): 64-bit fingerprints, 16-bit chunk
    // banding, hamming <= 3
    "q28_simhash" -> Query((s, dir) => {
      val base = docs(s, dir).filter(col("doc_id") < 150)
        .select(col("doc_id").cast("long").as("id"), col("text"))
      val perturbed = base.select((col("id") + 10000L).as("id"),
        regexp_replace(col("text"), "^(\\S+) (\\S+)", "changed prefix").as("text"))
      graft.ops.Dedup.simhashNearDups(base.unionByName(perturbed), "id", "text", maxDist = 3)
    },
      // q28: independent replay of the SimHash pipeline — same portable
      // Carter-Wegman family (see ops/Dedup.scala simhash64)
      raw"""WITH corpus AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents WHERE doc_id < 150
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT) + 10000 AS id,
        |         regexp_replace(text, '^(\S+) (\S+)', 'changed prefix') AS text
        |  FROM documents WHERE doc_id < 150
        |),
        |toks AS (
        |  SELECT id, $wordsSql AS w
        |  FROM corpus
        |),
        |th AS (
        |  SELECT id, [${polyHashSql("t")} FOR t IN w] AS hx
        |  FROM toks
        |),
        |sigs AS (
        |  SELECT id,
        |    CAST(list_sum([CASE WHEN len(hx) > 0 AND
        |      list_sum([CASE WHEN (((((b+101) * 1103515245 + 54321) % 2147483647) * x
        |                           + (((b+29) * 1234567891 + 192837465) % 2147483647)) % 2147483647) % 2 = 1
        |                    THEN 1 ELSE -1 END FOR x IN hx]) > 0
        |      THEN (1::BIGINT << b) ELSE 0 END
        |      FOR b IN range(0, 60)]) AS BIGINT) AS sig
        |  FROM th
        |),
        |chunks AS (
        |  SELECT id, sig, unnest([{'chunk': c, 'ck': (sig >> (c * 15)) & 32767} FOR c IN range(0, 4)],
        |    recursive := true)
        |  FROM sigs
        |),
        |cstat AS (
        |  SELECT chunk, ck, count(*) AS n, min(id) AS mn FROM chunks GROUP BY chunk, ck
        |),
        |pairs AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
        |    bit_count(xor(a.sig, b.sig)) AS hamming
        |  FROM chunks a
        |  JOIN cstat s ON s.chunk = a.chunk AND s.ck = a.ck
        |  JOIN chunks b ON a.chunk = b.chunk AND a.ck = b.ck AND a.id < b.id
        |  WHERE s.n <= 1000 OR a.id = s.mn
        |)
        |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin),

    // WEBP LOSSLESS DECODE, ORACLED ON PIXELS (T179's biggest fence
    // retired): per-document RGB patterns encode through the VP8L
    // encoder twin and decode through the sniffing dispatcher
    // (Multimodal.decodeImage) — lossless, so the per-channel sums are
    // the generator pattern itself. The codec is pinned byte-for-byte
    // against the system libwebp in WebpSpec (fixtures incl. predictor/
    // palette/cache/meta streams and all 120 distance-map probes).
    "q247_webp" -> Query((s, dir) => {
      perDoc(s, dir, "width", "height", "sum_r", "sum_g", "sum_b") { id =>
        val w = 8 + (id % 7).toInt; val h = 6 + (id % 5).toInt
        val pix = raster(w, h, 3)((x, y, k) =>
          Seq(id * 5 + x * 7 + y * 11, id * 3 + x + 2 * y, id + x * 13 + y * 3)(k) % 256)
        val bytes = graft.codec.WebpVp8l.encode(pix, w, h, 3)
        graft.ops.Multimodal.decodeImage(bytes) match {
          case Right(im) if im.nComponents == 3 =>
            val Seq(sr, sg, sb) = (0 until 3).map(pixelStats(im.pixels, 3, _)._1)
            (im.width.toLong, im.height.toLong, sr, sg, sb)
          case _ => (0L, 0L, -1L, -1L, -1L)
        }
      }
    },
      // q247: lossless decode = the generator pattern itself (the q200
      // shape for the VP8L leg).
      raw"""WITH g AS (
        |  SELECT doc_id, 8 + doc_id % 7 AS w, 6 + doc_id % 5 AS h FROM documents),
        |${pixelGridSql("g", "xs", "c")}
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum((doc_id*5 + x*7 + y*11) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((doc_id*3 + x + 2*y) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((doc_id + x*13 + y*3) % 256) AS BIGINT) AS sum_b
        |FROM c GROUP BY doc_id, w, h""".stripMargin),

    // WebP crawl labeling, ORACLED: header-level info (dimensions +
    // lossless flag) WITHOUT pixel decode — what a 100-TB labeler reads
    // for every webp before deciding to decode. Even ids are real VP8L
    // streams from the encoder twin (also decoded, proving decodable);
    // odd ids are VP8 lossy headers (frame tag + 0x9D012A start code +
    // 14-bit dims — the exact construction the fixture script validated
    // against libwebp's WebPGetInfo) whose pixels stay fenced with the
    // typed lossy error. All fields closed forms of doc_id.
    "q250_webp_info" -> Query((s, dir) => {
      perDoc(s, dir, "width", "height", "lossless", "decode_status") { id =>
        val w = 9 + (id % 11).toInt; val h = 5 + (id % 7).toInt
        val bytes =
          if (id % 2 == 0) {
            val pix = Array.tabulate(w * h * 3)(i => ((id + i * 7) % 256).toByte)
            graft.codec.WebpVp8l.encode(pix, w, h, 3)
          } else {
            // REAL lossy stream via the synthesis twin (round 5: the
            // VP8 leg decodes now — no more header-only fence probe)
            graft.codec.Vp8Synth.wrapWebp(graft.codec.Vp8Synth.synthesize(
              w, h, yAcQi = (id % 128).toInt, filterLevel = (id % 64).toInt))
          }
        val infoRes = graft.codec.WebpVp8l.info(bytes)
        val decodeStatus = graft.codec.WebpVp8l.decode(bytes) match {
          case Right(im) if im.width == w && im.height == h => "ok"
          case Right(_) => "wrong_dims"
          case Left(_) => "error"
        }
        infoRes match {
          case Right((iw, ih, lossless)) => (iw.toLong, ih.toLong, lossless, decodeStatus)
          case Left(_) => (-1L, -1L, false, decodeStatus)
        }
      }
    },
      // q250: dims and flags are pure closed forms; BOTH branches now
      // read "ok" — lossless round-trips, lossy decodes through the
      // libwebp-pinned VP8 key-frame decoder (synthesis-twin stream).
      """SELECT doc_id,
        |  CAST(9 + doc_id % 11 AS BIGINT) AS width,
        |  CAST(5 + doc_id % 7 AS BIGINT) AS height,
        |  (doc_id % 2 = 0) AS lossless,
        |  'ok' AS decode_status
        |FROM documents""".stripMargin),

    // AUDIO CRAWL LABELING, ORACLED: the per-payload read before any
    // audio decode decision — WAV rows through the REAL (JDK-pinned)
    // codec's parse, MP3 rows through the new ISO 11172-3 header walk
    // (synthesized frame sequences with closed-form bitrate/samplerate
    // table indices; every frame header walked, duration exact from
    // per-frame sample counts). Full MP3 audio decode stays fenced.
    "q253_audio_info" -> Query((s, dir) => {
      perDoc(s, dir, "kind", "sample_rate", "channels", "n_units", "duration_ms") { id =>
        if (id % 2 == 0) {
          val n = 500 + (id % 300).toInt
          val rate = 8000 * (1 + (id % 3).toInt)
          val samples = Array.tabulate[Short](n)(i => ((id * 7 + i * 13) % 4096).toShort)
          val bytes = graft.codec.Wav.encode(samples, 1, rate)
          graft.codec.Wav.decode(bytes) match {
            case Right(a) =>
              ("wav", a.sampleRate.toLong, a.channels.toLong,
                (a.samples.length / a.channels).toLong,
                (a.samples.length / a.channels).toLong * 1000L / a.sampleRate)
            case Left(_) => ("error", -1L, -1L, -1L, -1L)
          }
        } else {
          val n = 3 + (id % 10).toInt
          val brIdx = 1 + (id % 14).toInt
          val srIdx = (id % 3).toInt
          val bytes = graft.codec.Mp3.synthesize(n, versionBits = 3, layer = 3,
            brIdx = brIdx, srIdx = srIdx, mono = (id / 2) % 2 == 0,
            id3Size = (id % 5).toInt * 7)
          graft.codec.Mp3.info(bytes) match {
            case Right(mi) =>
              ("mp3", mi.sampleRate.toLong, mi.channels.toLong,
                mi.nFrames.toLong, mi.durationMs)
            case Left(_) => ("error", -1L, -1L, -1L, -1L)
          }
        }
      }
    },
      // q253: wav fields are the generator's; mp3 bitrate/samplerate come
      // from the ISO tables stated as list literals, duration is the exact
      // integer nframes*1152*1000 // rate, channels from the mono flag.
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp3' END AS kind,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 * (1 + doc_id % 3)
        |       ELSE list_extract([44100, 48000, 32000], CAST(doc_id % 3 AS INT) + 1)
        |       END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1
        |       WHEN (doc_id // 2) % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS channels,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 500 + doc_id % 300
        |       ELSE 3 + doc_id % 10 END AS BIGINT) AS n_units,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |       THEN (500 + doc_id % 300) * 1000 // (8000 * (1 + doc_id % 3))
        |       ELSE (3 + doc_id % 10) * 1152 * 1000
        |            // list_extract([44100, 48000, 32000], CAST(doc_id % 3 AS INT) + 1)
        |       END AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin),

    // UNIFIED PAYLOAD LABELING, ORACLED: Multimodal.mediaInfo — the
    // one-pass header-only dispatcher over the whole codec/labeling
    // family — driven by a ten-way mixed corpus (JPEG, PNG, WebP
    // lossless + lossy, WAV, MP3, MP4, OGG/Opus, AVIF, HEIC), every
    // output field a closed form. This is the single read a 100-TB
    // pipeline does per binary payload before deciding what to decode.
    "q257_media_info" -> Query((s, dir) => {
      perDoc(s, dir, "kind", "format", "width", "height", "sample_rate", "channels", "duration_ms",
        "decodable") { id =>
        val payload: Array[Byte] = (id % 10).toInt match {
          case 0 =>
            val w = 16 + (id % 3).toInt * 8; val h = 8 + (id % 2).toInt * 8
            graft.codec.JpegEncoder.encodeGray(new Array[Byte](w * h), w, h,
              graft.codec.JpegEncoder.exactQuant)
          case 1 =>
            val w = 9 + (id % 5).toInt; val h = 4 + (id % 3).toInt
            graft.codec.Png.encode(new Array[Byte](w * h), w, h, 1)
          case 2 =>
            val w = 7 + (id % 6).toInt; val h = 5 + (id % 4).toInt
            graft.codec.WebpVp8l.encode(new Array[Byte](w * h * 3), w, h, 3)
          case 3 =>
            val w = 20 + (id % 9).toInt; val h = 10 + (id % 7).toInt
            val pl = Array[Byte](0x10, 0x00, 0x00, 0x9d.toByte, 0x01, 0x2a,
              (w & 0xff).toByte, ((w >> 8) & 0x3f).toByte,
              (h & 0xff).toByte, ((h >> 8) & 0x3f).toByte)
            val o = new java.io.ByteArrayOutputStream()
            def le32(v: Int): Unit = (0 until 4).foreach(k => o.write((v >> (8 * k)) & 0xff))
            o.write("RIFF".getBytes("US-ASCII")); le32(4 + 8 + pl.length)
            o.write("WEBPVP8 ".getBytes("US-ASCII")); le32(pl.length)
            o.write(pl, 0, pl.length); o.toByteArray
          case 4 =>
            val n = 400 + (id % 200).toInt
            graft.codec.Wav.encode(new Array[Short](n), 1, 16000)
          case 5 =>
            graft.codec.Mp3.synthesize(4 + (id % 5).toInt, 3, 3,
              brIdx = 1 + (id % 14).toInt, srIdx = (id % 3).toInt, mono = true)
          case 6 =>
            graft.codec.Mp4.synthesize("isom", 1000, 2000 + id % 3000,
              320 + (id % 4).toInt * 80, 240 + (id % 4).toInt * 60)
          case 8 =>
            // AVIF still: primary ispe + a smaller thumbnail ispe — the
            // labeler must pick the LARGEST (= primary) per the
            // documented heuristic in Mp4.infoImpl
            graft.codec.Mp4.synthesizeHeif("avif",
              Seq((64 + (id % 16).toInt, 48 + (id % 8).toInt), (16, 12)))
          case 9 =>
            graft.codec.Mp4.synthesizeHeif("heic",
              Seq((100 + (id % 20).toInt, 80 + (id % 10).toInt)))
          case _ =>
            graft.codec.Ogg.synthesize("opus", 2, 48000, preSkip = 0,
              nDataPages = 3, finalGranule = 48000 + id * 96)
        }
        val mi = graft.ops.Multimodal.mediaInfo(payload)
        (mi.kind, mi.format, mi.width.toLong, mi.height.toLong,
          mi.sampleRate.toLong, mi.channels.toLong, mi.durationMs, mi.decodable)
      }
    },
      // q257: ten families, every field stated; wav duration =
      // samples*1000 // rate, mp3 = frames*1152*1000 // rate (ISO table
      // literals), mp4 = units*1000 // 1000, opus = granule // 48; AVIF
      // dims are the LARGEST ispe (primary beats the planted thumbnail).
      """SELECT doc_id,
        |  CASE CAST(doc_id % 10 AS INT)
        |    WHEN 0 THEN 'image' WHEN 1 THEN 'image' WHEN 2 THEN 'image'
        |    WHEN 3 THEN 'image' WHEN 4 THEN 'audio' WHEN 5 THEN 'audio'
        |    WHEN 6 THEN 'video' WHEN 8 THEN 'image' WHEN 9 THEN 'image'
        |    ELSE 'audio' END AS kind,
        |  CASE CAST(doc_id % 10 AS INT)
        |    WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' WHEN 2 THEN 'webp'
        |    WHEN 3 THEN 'webp-lossy' WHEN 4 THEN 'wav' WHEN 5 THEN 'mp3'
        |    WHEN 6 THEN 'mp4' WHEN 8 THEN 'avif' WHEN 9 THEN 'heic'
        |    ELSE 'ogg-opus' END AS format,
        |  CAST(CASE CAST(doc_id % 10 AS INT)
        |    WHEN 0 THEN 16 + (doc_id % 3) * 8 WHEN 1 THEN 9 + doc_id % 5
        |    WHEN 2 THEN 7 + doc_id % 6 WHEN 3 THEN 20 + doc_id % 9
        |    WHEN 6 THEN 320 + (doc_id % 4) * 80
        |    WHEN 8 THEN 64 + doc_id % 16 WHEN 9 THEN 100 + doc_id % 20
        |    ELSE 0 END AS BIGINT) AS width,
        |  CAST(CASE CAST(doc_id % 10 AS INT)
        |    WHEN 0 THEN 8 + (doc_id % 2) * 8 WHEN 1 THEN 4 + doc_id % 3
        |    WHEN 2 THEN 5 + doc_id % 4 WHEN 3 THEN 10 + doc_id % 7
        |    WHEN 6 THEN 240 + (doc_id % 4) * 60
        |    WHEN 8 THEN 48 + doc_id % 8 WHEN 9 THEN 80 + doc_id % 10
        |    ELSE 0 END AS BIGINT) AS height,
        |  CAST(CASE CAST(doc_id % 10 AS INT)
        |    WHEN 4 THEN 16000
        |    WHEN 5 THEN list_extract([44100, 48000, 32000], CAST(doc_id % 3 AS INT) + 1)
        |    WHEN 7 THEN 48000 ELSE 0 END AS BIGINT) AS sample_rate,
        |  CAST(CASE CAST(doc_id % 10 AS INT)
        |    WHEN 4 THEN 1 WHEN 5 THEN 1 WHEN 7 THEN 2 ELSE 0 END AS BIGINT) AS channels,
        |  CAST(CASE CAST(doc_id % 10 AS INT)
        |    WHEN 4 THEN (400 + doc_id % 200) * 1000 // 16000
        |    WHEN 5 THEN (4 + doc_id % 5) * 1152 * 1000
        |         // list_extract([44100, 48000, 32000], CAST(doc_id % 3 AS INT) + 1)
        |    WHEN 6 THEN 2000 + doc_id % 3000
        |    WHEN 7 THEN (48000 + doc_id * 96) * 1000 // 48000
        |    ELSE 0 END AS BIGINT) AS duration_ms,
        |  CAST(doc_id % 10 AS INT) IN (0, 1, 2, 3, 4) AS decodable
        |FROM documents""".stripMargin),

    // LOW-BIT PNG DECODE, ORACLED ON PIXELS: sub-byte depths 1/2/4
    // through the real pack→filter→inflate→defilter→unpack path, both
    // color types that allow them — gray (samples scale v*255/(2^d-1),
    // exact for 255's divisors 1/3/15) and palette (indices raw). The
    // legacy-web population the round-4 verdict asked to un-fence.
    "q258_png_lowbit" -> Query((s, dir) => {
      perDoc(s, dir, "depth", "width", "height", "gray_sum", "gray_min", "gray_max", "pal_sum_r",
        "pal_sum_g", "pal_sum_b") { id =>
        val d = 1 << (id % 3).toInt // 1, 2, 4
        val maxV = (1 << d) - 1
        val w = 9 + (id % 6).toInt; val h = 5 + (id % 4).toInt
        val vals = raster(w, h)((x, y, _) => (id + 3 * x + 5 * y) % (maxV + 1))
        val gray = graft.codec.Png.decode(graft.codec.Png.encodeGrayLowBit(vals, w, h, d))
          .fold(e => throw new IllegalStateException(e), identity)
        val (gSum, gMin, gMax) = pixelStats(gray.pixels)
        // palette leg at depth 4: 16 closed-form RGB entries
        val pal = raster(16, 1, 3)((i, _, k) => Seq((i * 13) % 256, 255 - i * 9, (i * 29) % 256)(k))
        val idx = raster(w, h)((x, y, _) => (id + 7 * x + 3 * y) % 16)
        val ind = graft.codec.Png.decode(graft.codec.Png.encodeIndexed(idx, w, h, 4, pal))
          .fold(e => throw new IllegalStateException(e), identity)
        val Seq(rSum, gSum2, bSum) = (0 until 3).map(pixelStats(ind.pixels, 3, _)._1)
        (d.toLong, w.toLong, h.toLong, gSum, gMin, gMax, rSum, gSum2, bSum)
      }
    },
      // q258: gray samples scale v*255/(2^d-1) — exact integer (255's
      // divisors); palette legs are pure closed-form channel sums.
      """WITH g AS (SELECT doc_id, (1 << CAST(doc_id % 3 AS INT)) AS d,
        |    9 + doc_id % 6 AS w, 5 + doc_id % 4 AS h FROM documents),
        |xs AS (SELECT doc_id, d, w, h, unnest(generate_series(0, w - 1)) AS x FROM g),
        |c AS (SELECT doc_id, d, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
        |v AS (SELECT doc_id, d, w, h,
        |    ((doc_id + 3*x + 5*y) % (((1 << d) - 1) + 1)) * 255 // ((1 << d) - 1) AS gv,
        |    (doc_id + 7*x + 3*y) % 16 AS pi
        |  FROM c)
        |SELECT doc_id, CAST(d AS BIGINT) AS depth,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum(gv) AS BIGINT) AS gray_sum,
        |  CAST(min(gv) AS BIGINT) AS gray_min, CAST(max(gv) AS BIGINT) AS gray_max,
        |  CAST(sum((pi * 13) % 256) AS BIGINT) AS pal_sum_r,
        |  CAST(sum(255 - pi * 9) AS BIGINT) AS pal_sum_g,
        |  CAST(sum((pi * 29) % 256) AS BIGINT) AS pal_sum_b
        |FROM v GROUP BY doc_id, d, w, h""".stripMargin),

    // RLE BMP DECODE, ORACLED ON PIXELS: BI_RLE8 and BI_RLE4 through the
    // real GDI run-length machinery (encoded runs, EOL/EOB escapes,
    // bottom-up rows) — the legacy-web screenshot population.
    "q259_bmp_rle" -> Query((s, dir) => {
      perDoc(s, dir, "rle8_sum_r", "rle8_sum_g", "rle8_sum_b", "rle4_sum_r", "rle4_sum_g",
        "rle4_sum_b", "bf565_sum_r", "bf565_sum_g", "bf565_sum_b") { id =>
        val w8 = 9 + (id % 7).toInt; val h8 = 4 + (id % 5).toInt
        val pal8 = raster(256, 1, 3)((e, _, k) => (e * Seq(7, 11, 13)(k)) % 256)
        val idx8 = raster(w8, h8)((x, y, _) => (x / 3 + y + id) % 40)
        val im8 = graft.codec.Bmp.decode(graft.codec.Bmp.encodeRle8(idx8, w8, h8, pal8))
          .fold(er => throw new IllegalStateException(er), identity)
        val Seq(r8, g8, b8) = (0 until 3).map(pixelStats(im8.pixels, 3, _)._1)
        val w4 = 7 + (id % 5).toInt; val h4 = 3 + (id % 4).toInt
        val pal4 = raster(16, 1, 3)((e, _, k) => Seq(e * 17, 255 - e * 17, (e * 37) % 256)(k))
        val idx4 = raster(w4, h4)((x, y, _) => (x + 2 * y + id) % 16)
        val im4 = graft.codec.Bmp.decode(graft.codec.Bmp.encodeRle4(idx4, w4, h4, pal4))
          .fold(er => throw new IllegalStateException(er), identity)
        val Seq(r4, g4, b4) = (0 until 3).map(pixelStats(im4.pixels, 3, _)._1)
        // 16-bit 565 BI_BITFIELDS leg (round 5): hand-built rows,
        // channels scale v*255/max round-half-up
        val w16 = 6 + (id % 4).toInt; val h16 = 3 + (id % 3).toInt
        val stride = ((w16 * 2 + 3) / 4) * 4
        val bb = java.nio.ByteBuffer.allocate(66 + stride * h16)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put('B'.toByte).put('M'.toByte).putInt(66 + stride * h16)
        bb.putInt(0).putInt(66).putInt(40).putInt(w16).putInt(h16)
        bb.putShort(1).putShort(16).putInt(3).putInt(stride * h16)
        bb.putInt(0).putInt(0).putInt(0).putInt(0)
        bb.putInt(0xf800).putInt(0x07e0).putInt(0x001f)
        var row = 0
        while (row < h16) {
          val yy = h16 - 1 - row
          var x = 0
          while (x < w16) {
            val v = ((((id + x * 3 + yy) % 32).toInt << 11) |
              (((id + x + yy * 5) % 64).toInt << 5) | ((id + x * 7) % 32).toInt)
            bb.putShort(v.toShort)
            x += 1
          }
          var pad = stride - 2 * w16
          while (pad > 0) { bb.put(0.toByte); pad -= 1 }
          row += 1
        }
        val im16 = graft.codec.Bmp.decode(bb.array())
          .fold(er => throw new IllegalStateException(er), identity)
        val Seq(r16, g16, b16) = (0 until 3).map(pixelStats(im16.pixels, 3, _)._1)
        (r8, g8, b8, r4, g4, b4, r16, g16, b16)
      }
    },
      // q259: both RLE legs are lossless round-trips of closed-form index
      // planes, so channel sums restate the palette formulas directly.
      """WITH g AS (SELECT doc_id, 9 + doc_id % 7 AS w8, 4 + doc_id % 5 AS h8,
        |    7 + doc_id % 5 AS w4, 3 + doc_id % 4 AS h4 FROM documents),
        |x8 AS (SELECT doc_id, w8, h8, unnest(generate_series(0, w8 - 1)) AS x FROM g),
        |c8 AS (SELECT doc_id, x, unnest(generate_series(0, h8 - 1)) AS y FROM x8),
        |e8 AS (SELECT doc_id, (x // 3 + y + doc_id) % 40 AS e FROM c8),
        |s8 AS (SELECT doc_id, CAST(sum((e * 7) % 256) AS BIGINT) AS rle8_sum_r,
        |    CAST(sum((e * 11) % 256) AS BIGINT) AS rle8_sum_g,
        |    CAST(sum((e * 13) % 256) AS BIGINT) AS rle8_sum_b
        |  FROM e8 GROUP BY doc_id),
        |x4 AS (SELECT doc_id, w4, h4, unnest(generate_series(0, w4 - 1)) AS x FROM g),
        |c4 AS (SELECT doc_id, x, unnest(generate_series(0, h4 - 1)) AS y FROM x4),
        |e4 AS (SELECT doc_id, (x + 2*y + doc_id) % 16 AS e FROM c4),
        |s4 AS (SELECT doc_id, CAST(sum(e * 17) AS BIGINT) AS rle4_sum_r,
        |    CAST(sum(255 - e * 17) AS BIGINT) AS rle4_sum_g,
        |    CAST(sum((e * 37) % 256) AS BIGINT) AS rle4_sum_b
        |  FROM e4 GROUP BY doc_id),
        |g16 AS (SELECT doc_id, 6 + doc_id % 4 AS w16, 3 + doc_id % 3 AS h16 FROM g),
        |x16 AS (SELECT doc_id, h16, unnest(generate_series(0, w16 - 1)) AS x FROM g16),
        |c16 AS (SELECT doc_id, x, unnest(generate_series(0, h16 - 1)) AS y FROM x16),
        |v16 AS (SELECT doc_id,
        |    (doc_id + x*3 + y) % 32 AS r5, (doc_id + x + y*5) % 64 AS g6,
        |    (doc_id + x*7) % 32 AS b5
        |  FROM c16),
        |s16 AS (SELECT doc_id,
        |    CAST(sum((r5 * 255 + 15) // 31) AS BIGINT) AS bf565_sum_r,
        |    CAST(sum((g6 * 255 + 31) // 63) AS BIGINT) AS bf565_sum_g,
        |    CAST(sum((b5 * 255 + 15) // 31) AS BIGINT) AS bf565_sum_b
        |  FROM v16 GROUP BY doc_id)
        |SELECT s8.doc_id, rle8_sum_r, rle8_sum_g, rle8_sum_b,
        |  rle4_sum_r, rle4_sum_g, rle4_sum_b,
        |  bf565_sum_r, bf565_sum_g, bf565_sum_b
        |FROM s8 JOIN s4 ON s8.doc_id = s4.doc_id JOIN s16 ON s8.doc_id = s16.doc_id""".stripMargin),

    // CMYK/YCCK JPEG DECODE, ORACLED ON PIXELS: the 4-component Adobe
    // print population (scanned/print PDFs) through the real scan
    // machinery. Flat exact-class blocks make stored samples closed
    // forms; the CMYK leg replays R = s*k/255 directly and the YCCK leg
    // replays the documented fixed-point YCbCr matrix then *k/255.
    "q260_jpeg_cmyk" -> Query((s, dir) => {
      perDoc(s, dir, "nf", "cmyk_sum_r", "cmyk_sum_g", "cmyk_sum_b", "ycck_sum_r", "ycck_sum_g",
        "ycck_sum_b") { id =>
        val w = 16; val h = 8 // two flat 8x8 blocks per plane
        def planeOf(f: Int => Int): Array[Byte] = raster(w, h)((x, _, _) => f(x / 8))
        def v(ci: Int, bx: Int) = ((id * 7 + ci * 31 + bx * 13) % 256).toInt
        val cmyk = graft.codec.JpegEncoder.encodeCmyk444(
          planeOf(v(0, _)), planeOf(v(1, _)), planeOf(v(2, _)), planeOf(v(3, _)),
          w, h, transform = 0, graft.codec.JpegEncoder.exactQuant)
        val im = graft.codec.Jpeg.decode(cmyk)
          .fold(e => throw new IllegalStateException(e), identity)
        val Seq(cr, cg, cb2) = (0 until 3).map(pixelStats(im.pixels, 3, _)._1)
        def u(ci: Int, bx: Int) = ((id * (5 + 2 * ci) + bx * (17 + 6 * ci)) % 256).toInt
        val ycck = graft.codec.JpegEncoder.encodeCmyk444(
          planeOf(u(0, _)), planeOf(u(1, _)), planeOf(u(2, _)), planeOf(u(3, _)),
          w, h, transform = 2, graft.codec.JpegEncoder.exactQuant)
        val im2 = graft.codec.Jpeg.decode(ycck)
          .fold(e => throw new IllegalStateException(e), identity)
        val Seq(yr, yg, yb) = (0 until 3).map(pixelStats(im2.pixels, 3, _)._1)
        val nf = graft.codec.Jpeg.dimensions(cmyk).toOption.map(_._3).getOrElse(-1)
        (nf.toLong, cr, cg, cb2, yr, yg, yb)
      }
    },
      // q260: both legs flat-block exact class — CMYK R=s*k//255; YCCK
      // runs the fixed-point matrix ((a+32768)>>16 = floor((a+32768)/65536))
      // on the stored planes then *k//255; 64 pixels per block.
      """WITH b AS (SELECT doc_id, unnest(generate_series(0, 1)) AS bx FROM documents),
        |cm AS (SELECT doc_id, bx,
        |    (doc_id*7 + 0*31 + bx*13) % 256 AS s0,
        |    (doc_id*7 + 1*31 + bx*13) % 256 AS s1,
        |    (doc_id*7 + 2*31 + bx*13) % 256 AS s2,
        |    (doc_id*7 + 3*31 + bx*13) % 256 AS k
        |  FROM b),
        |cs AS (SELECT doc_id,
        |    CAST(sum(64 * (s0 * k // 255)) AS BIGINT) AS cmyk_sum_r,
        |    CAST(sum(64 * (s1 * k // 255)) AS BIGINT) AS cmyk_sum_g,
        |    CAST(sum(64 * (s2 * k // 255)) AS BIGINT) AS cmyk_sum_b
        |  FROM cm GROUP BY doc_id),
        |yc AS (SELECT doc_id, bx,
        |    (doc_id*5 + bx*17) % 256 AS yv,
        |    (doc_id*7 + bx*23) % 256 AS cb,
        |    (doc_id*9 + bx*29) % 256 AS cr,
        |    (doc_id*11 + bx*35) % 256 AS k
        |  FROM b),
        |yr AS (SELECT doc_id, k,
        |    greatest(0, least(255, yv + CAST(floor((91881*(cr-128) + 32768)/65536.0) AS BIGINT))) AS c0,
        |    greatest(0, least(255, yv - CAST(floor((22554*(cb-128) + 46802*(cr-128) + 32768)/65536.0) AS BIGINT))) AS c1,
        |    greatest(0, least(255, yv + CAST(floor((116130*(cb-128) + 32768)/65536.0) AS BIGINT))) AS c2
        |  FROM yc),
        |ys AS (SELECT doc_id,
        |    CAST(sum(64 * (c0 * k // 255)) AS BIGINT) AS ycck_sum_r,
        |    CAST(sum(64 * (c1 * k // 255)) AS BIGINT) AS ycck_sum_g,
        |    CAST(sum(64 * (c2 * k // 255)) AS BIGINT) AS ycck_sum_b
        |  FROM yr GROUP BY doc_id)
        |SELECT cs.doc_id, CAST(4 AS BIGINT) AS nf,
        |  cmyk_sum_r, cmyk_sum_g, cmyk_sum_b, ycck_sum_r, ycck_sum_g, ycck_sum_b
        |FROM cs JOIN ys ON cs.doc_id = ys.doc_id""".stripMargin),

    // LOSSY VP8 DECODE, ORACLED ON PIXELS: synthesis-twin key frames
    // (all-DC modes, explicit all-EOB tokens, skip disabled so the
    // token partition is really read, varying quantizer + loop-filter
    // levels) through the full libwebp-pinned decode path and the
    // documented BT.601 conversion: every YUV sample decodes to 128,
    // so every RGB pixel is exactly (130,130,130) — stated closed-form.
    "q261_vp8_lossy" -> Query((s, dir) => {
      perDoc(s, dir, "nc", "width", "height", "pix_sum", "pix_min", "pix_max") { id =>
        val w = 17 + (id % 16).toInt // crosses the 1->2 MB-column boundary
        val h = 9 + (id % 12).toInt
        val webp = graft.codec.Vp8Synth.wrapWebp(graft.codec.Vp8Synth.synthesize(
          w, h, yAcQi = (id % 128).toInt, filterLevel = (id % 64).toInt))
        graft.ops.Multimodal.decodeImage(webp) match {
          case Right(im) =>
            val (sum, mn, mx) = pixelStats(im.pixels)
            (im.nComponents.toLong, im.width.toLong, im.height.toLong, sum, mn, mx)
          case Left(e) => (-1L, -1L, -1L, -1L, -1L, -1L)
        }
      }
    },
      // q261: uniform 128 YUV -> R=G=B = (298*112 + 128) >> 8 = 130 on
      // every pixel; sums/extrema follow directly.
      """SELECT doc_id, CAST(3 AS BIGINT) AS nc,
        |  CAST(17 + doc_id % 16 AS BIGINT) AS width,
        |  CAST(9 + doc_id % 12 AS BIGINT) AS height,
        |  CAST((17 + doc_id % 16) * (9 + doc_id % 12) * 3 * 130 AS BIGINT) AS pix_sum,
        |  CAST(130 AS BIGINT) AS pix_min, CAST(130 AS BIGINT) AS pix_max
        |FROM documents""".stripMargin),

    // SVG + HTML PAYLOAD SNIFF, ORACLED: the markup legs of the unified
    // labeler — SVG dims from width/height attributes (px units, float
    // rounding) or the viewBox fallback, HTML as decodable document;
    // three families by doc_id % 3.
    "q268_markup_sniff" -> Query((s, dir) => {
      perDoc(s, dir, "kind", "format", "width", "height", "decodable") { id =>
        val w = 10 + (id % 90).toInt; val h = 5 + (id % 50).toInt
        val payload = (id % 3) match {
          case 0 => s"""<?xml version="1.0"?><svg xmlns="x" width="$w.5px" height="${h}px"><g/></svg>"""
          case 1 => s"""<svg viewBox="0 0 $w $h"><rect/></svg>"""
          case _ => s"""<!DOCTYPE html><html><head><title>Doc $id</title></head><body>b</body></html>"""
        }
        val mi = graft.ops.Multimodal.mediaInfo(payload.getBytes("UTF-8"))
        (mi.kind, mi.format, mi.width.toLong, mi.height.toLong, mi.decodable)
      }
    },
      // q268: width attr carries ".5px" so rounding lands on w+1 (round
      // half up of w.5); viewBox family exact; html family zero-dim.
      """WITH g AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS fam,
        |    10 + doc_id % 90 AS w, 5 + doc_id % 50 AS h FROM documents)
        |SELECT doc_id,
        |  CASE fam WHEN 2 THEN 'document' ELSE 'image' END AS kind,
        |  CASE fam WHEN 2 THEN 'html' ELSE 'svg' END AS format,
        |  CAST(CASE fam WHEN 0 THEN w + 1 WHEN 1 THEN w ELSE 0 END AS BIGINT) AS width,
        |  CAST(CASE fam WHEN 2 THEN 0 ELSE h END AS BIGINT) AS height,
        |  (fam = 2) AS decodable
        |FROM g""".stripMargin),

    // ICO FAVICON DECODE, ORACLED: directory walk + PNG-entry decode —
    // two entries per icon, the larger one must win; pixels are the
    // embedded PNG's closed form through the real Png codec.
    "q267_ico" -> Query((s, dir) => {
      perDoc(s, dir, "width", "height", "pix_sum", "format") { id =>
        val w = 16 + (id % 8).toInt; val h = 10 + (id % 5).toInt
        val big = graft.codec.Png.encode(
          Array.tabulate[Byte](w * h)(i => ((id + (i % w) * 3 + (i / w) * 5) % 256).toByte),
          w, h, 1)
        val small = graft.codec.Png.encode(Array.fill[Byte](6 * 4)(7), 6, 4, 1)
        val ico = graft.codec.Ico.synthesize("icon",
          Seq((small, 6, 4, 32), (big, w, h, 32)))
        graft.ops.Multimodal.decodeImage(ico) match {
          case Right(im) =>
            (im.width.toLong, im.height.toLong, pixelStats(im.pixels)._1,
              graft.ops.Multimodal.mediaInfo(ico).format)
          case Left(e) => (-1L, -1L, -1L, s"error:$e")
        }
      }
    },
      // q267: the larger PNG entry's gray closed form summed.
      raw"""WITH g AS (SELECT doc_id, 16 + doc_id % 8 AS w, 10 + doc_id % 5 AS h FROM documents),
        |${pixelGridSql("g", "xs", "c")}
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum((doc_id + x*3 + y*5) % 256) AS BIGINT) AS pix_sum,
        |  'ico' AS format
        |FROM c GROUP BY doc_id, w, h""".stripMargin),

    // FLOAT WAV DECODE, ORACLED: 32-bit IEEE (format 3) through the
    // real chunk walk + scaling — samples are exact dyadic rationals
    // k/256 with |k| <= 50, so rint(k*32767/256) never lands on a .5
    // boundary and the oracle replays it as floor(x + 0.5) exactly.
    "q266_wav_float" -> Query((s, dir) => {
      perDoc(s, dir, "sample_rate", "n_samples", "sample_sum", "sample_min", "sample_max") { id =>
        val n = 64 + (id % 32).toInt
        val rate = 8000 + (id % 3).toInt * 4000
        val vals = Array.tabulate(n)(i => ((((id + i * 7) % 101) - 50).toInt / 256.0f))
        val bytes = graft.codec.Wav.encodeFloat(vals, 1, rate)
        graft.codec.Wav.decode(bytes) match {
          case Right(au) =>
            var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
            au.samples.foreach { v => sum += v; if (v < mn) mn = v; if (v > mx) mx = v }
            (au.sampleRate.toLong, au.samples.length.toLong, sum, mn, mx)
          case Left(e) => (-1L, -1L, -1L, -1L, -1L)
        }
      }
    },
      // q266: scaled sample = floor(k*32767/256 + 0.5) with k integral in
      // [-50,50] (never a half boundary, so floor(x+.5) == rint exactly).
      """WITH g AS (SELECT doc_id, 64 + doc_id % 32 AS n,
        |    8000 + (doc_id % 3) * 4000 AS rate FROM documents),
        |i AS (SELECT doc_id, n, rate, unnest(generate_series(0, n - 1)) AS idx FROM g),
        |k AS (SELECT doc_id, n, rate, ((doc_id + idx*7) % 101) - 50 AS kv FROM i),
        |v AS (SELECT doc_id, n, rate,
        |    CAST(floor(kv * 32767.0 / 256.0 + 0.5) AS BIGINT) AS sv FROM k)
        |SELECT doc_id, CAST(rate AS BIGINT) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(sum(sv) AS BIGINT) AS sample_sum,
        |  CAST(min(sv) AS BIGINT) AS sample_min,
        |  CAST(max(sv) AS BIGINT) AS sample_max
        |FROM v GROUP BY doc_id, n, rate""".stripMargin),

    // MATROSKA/WEBM LABELING, ORACLED: EBML walk -> DocType, duration
    // (TimestampScale x float Duration), track codecs/dims/rate — the
    // modern web-video metadata read beside q254 (MP4). Three families:
    // webm video+audio, webm audio-only, mkv video-only.
    "q265_mkv_info" -> Query((s, dir) => {
      perDoc(s, dir, "doc_type", "duration_ms", "n_tracks", "video_codec", "video_w", "video_h",
        "audio_codec", "audio_rate", "audio_channels", "kind", "format") { id =>
        val fam = (id % 3).toInt
        val w = 320 + (id % 5).toInt * 64
        val h = 240 + (id % 4).toInt * 48
        val rate = Seq(48000, 44100)((id % 2).toInt)
        val durTicks = (2000 + id % 5000).toDouble // ms at the default scale
        val bytes = fam match {
          case 0 => graft.codec.Mkv.synthesize("webm", 1000000L, durTicks,
            Some(("V_VP9", w, h)), Some(("A_OPUS", rate, 2)))
          case 1 => graft.codec.Mkv.synthesize("webm", 1000000L, durTicks,
            None, Some(("A_VORBIS", rate, 1)))
          case _ => graft.codec.Mkv.synthesize("matroska", 500000L, durTicks,
            Some(("V_AV1", w, h)), None)
        }
        val mi = graft.ops.Multimodal.mediaInfo(bytes)
        graft.codec.Mkv.info(bytes) match {
          case Right(ki) => (ki.docType, ki.durationMs, ki.nTracks.toLong,
            ki.videoCodec, ki.videoW.toLong, ki.videoH.toLong,
            ki.audioCodec, ki.audioRate.toLong, ki.audioChannels.toLong,
            mi.kind, mi.format)
          case Left(e) => (s"error:$e", -1L, -1L, "", -1L, -1L, "", -1L, -1L, "", "")
        }
      }
    },
      // q265: every field a stated closed form; mkv family halves the
      // timestamp scale so duration_ms = ticks // 2.
      """WITH g AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS fam,
        |    320 + (doc_id % 5) * 64 AS w, 240 + (doc_id % 4) * 48 AS h,
        |    list_extract([48000, 44100], CAST(doc_id % 2 AS INT) + 1) AS rate,
        |    2000 + doc_id % 5000 AS ticks
        |  FROM documents)
        |SELECT doc_id,
        |  CASE fam WHEN 2 THEN 'matroska' ELSE 'webm' END AS doc_type,
        |  CAST(CASE fam WHEN 2 THEN ticks // 2 ELSE ticks END AS BIGINT) AS duration_ms,
        |  CAST(CASE fam WHEN 0 THEN 2 ELSE 1 END AS BIGINT) AS n_tracks,
        |  CASE fam WHEN 0 THEN 'V_VP9' WHEN 2 THEN 'V_AV1' ELSE '' END AS video_codec,
        |  CAST(CASE fam WHEN 1 THEN 0 ELSE w END AS BIGINT) AS video_w,
        |  CAST(CASE fam WHEN 1 THEN 0 ELSE h END AS BIGINT) AS video_h,
        |  CASE fam WHEN 0 THEN 'A_OPUS' WHEN 1 THEN 'A_VORBIS' ELSE '' END AS audio_codec,
        |  CAST(CASE fam WHEN 2 THEN 0 ELSE rate END AS BIGINT) AS audio_rate,
        |  CAST(CASE fam WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS BIGINT) AS audio_channels,
        |  CASE fam WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CASE fam WHEN 2 THEN 'mkv' ELSE 'webm' END AS format
        |FROM g""".stripMargin),

    // FLAC LABELING + TAG HARVEST, ORACLED: STREAMINFO exact duration
    // (rate/channels/bits/total samples are closed forms, incl. a
    // >32-bit total-samples slice exercising the 36-bit field) and the
    // VorbisComment block (TITLE/ARTIST/ALBUM/DATE incl. a unicode
    // slice) — the FLAC sibling of q253 (MP3) and q256 (ID3).
    "q263_flac_info" -> Query((s, dir) => {
      perDoc(s, dir, "sample_rate", "channels", "bits", "total_samples", "duration_ms", "title",
        "artist", "album", "year") { id =>
        val rate = Seq(44100, 48000, 96000, 22050)((id % 4).toInt)
        val chn = 1 + (id % 2).toInt
        val bits = Seq(16, 24, 8)((id % 3).toInt)
        val total = (id % 5) match {
          case 0 => 0L // unknown length
          case 4 => (1L << 33) + id // exercises the 36-bit field
          case k => rate.toLong * k + id % 100
        }
        val title = s"Song $id" + (if (id % 3 == 2) " é日" else "")
        val bytes = graft.codec.Flac.synthesize(rate, chn, bits, total,
          Seq("TITLE" -> title, "ARTIST" -> s"Band ${id % 9}",
            "ALBUM" -> s"Set ${id % 6}", "DATE" -> (1990 + id % 40).toString))
        graft.codec.Flac.info(bytes) match {
          case Right(fi) => (fi.sampleRate.toLong, fi.channels.toLong,
            fi.bitsPerSample.toLong, fi.totalSamples, fi.durationMs,
            fi.title, fi.artist, fi.album, fi.date)
          case Left(e) => (-1L, -1L, -1L, -1L, -1L, s"error:$e", "", "", "")
        }
      }
    },
      // q263: every STREAMINFO field and tag is a stated closed form;
      // duration = total*1000 // rate exactly.
      """WITH g AS (SELECT doc_id,
        |    list_extract([44100, 48000, 96000, 22050], CAST(doc_id % 4 AS INT) + 1) AS rate,
        |    1 + doc_id % 2 AS chn,
        |    list_extract([16, 24, 8], CAST(doc_id % 3 AS INT) + 1) AS bits
        |  FROM documents),
        |t AS (SELECT doc_id, rate, chn, bits,
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN 0
        |      WHEN 4 THEN CAST(8589934592 + doc_id AS BIGINT)
        |      ELSE rate * (doc_id % 5) + doc_id % 100 END AS total
        |  FROM g)
        |SELECT doc_id, CAST(rate AS BIGINT) AS sample_rate,
        |  CAST(chn AS BIGINT) AS channels, CAST(bits AS BIGINT) AS bits,
        |  CAST(total AS BIGINT) AS total_samples,
        |  CAST(total * 1000 // rate AS BIGINT) AS duration_ms,
        |  'Song ' || doc_id ||
        |    CASE WHEN doc_id % 3 = 2 THEN ' ' || chr(233) || chr(26085) ELSE '' END AS title,
        |  'Band ' || (doc_id % 9) AS artist,
        |  'Set ' || (doc_id % 6) AS album,
        |  CAST(1990 + doc_id % 40 AS VARCHAR) AS year
        |FROM t""".stripMargin),

    // OGG COMMENT-HEADER TAG HARVEST, ORACLED: OpusTags and Vorbis
    // type-3 packets through real page lacing (the unicode slice pushes
    // the comment packet past one 255-byte lacing segment).
    "q264_ogg_tags" -> Query((s, dir) => {
      perDoc(s, dir, "title", "artist", "comment_len") { id =>
        val codec = if (id % 2 == 0) "opus" else "vorbis"
        val pad = if (id % 4 == 3) "x" * 300 else "" // multi-segment lacing
        val title = s"Track $id" + (if (id % 3 == 1) " ü漢" else "")
        val bytes = graft.codec.Ogg.synthesize(codec, 2, 48000, preSkip = 0,
          nDataPages = 2, finalGranule = 48000,
          tags = Seq("TITLE" -> title, "ARTIST" -> s"Artist ${id % 7}",
            "COMMENT" -> (s"c$id" + pad)))
        graft.codec.Ogg.tags(bytes) match {
          case Right(t) => (t.getOrElse("TITLE", ""), t.getOrElse("ARTIST", ""),
            t.getOrElse("COMMENT", "").length.toLong)
          case Left(e) => (s"error:$e", "", -1L)
        }
      }
    },
      // q264: tags stated verbatim; the comment length covers the padded
      // multi-segment slice (2 + digits + 300).
      """SELECT doc_id,
        |  'Track ' || doc_id ||
        |    CASE WHEN doc_id % 3 = 1 THEN ' ' || chr(252) || chr(28450) ELSE '' END AS title,
        |  'Artist ' || (doc_id % 7) AS artist,
        |  CAST(1 + length(CAST(doc_id AS VARCHAR)) +
        |    CASE WHEN doc_id % 4 = 3 THEN 300 ELSE 0 END AS BIGINT) AS comment_len
        |FROM documents""".stripMargin),

    // ID3v2 TEXT-FRAME HARVEST, ORACLED: the audio-corpus metadata read
    // (TIT2/TPE1/TALB/TYER-TDRC) through both tag versions and mixed
    // frame encodings — the audio sibling of the HTML head-metadata
    // harvest (T136/T198). Unicode alternates exercise the UTF-16/BOM
    // and UTF-8 paths with values the oracle states verbatim.
    "q256_id3_harvest" -> Query((s, dir) => {
      perDoc(s, dir, "title", "artist", "album", "year") { id =>
        val major = if (id % 2 == 0) 3 else 4
        val enc = (id % 3).toInt match { case 0 => 0; case 1 => 3; case _ => 1 }
        val title = s"Track $id" + (if (id % 3 == 2) " é日" else "")
        val frames = Seq(
          ("TIT2", title, enc),
          ("TPE1", s"Artist ${id % 7}", enc),
          ("TALB", s"Album ${id % 5}", 0)) ++
          (if (major == 3) Seq(("TYER", (1990 + id % 30).toString, 0))
          else Seq(("TDRC", s"${2000 + id % 20}-0${1 + id % 9}", 0)))
        val bytes = graft.codec.Mp3.synthesizeId3(major, frames)
        graft.codec.Mp3.id3Tags(bytes) match {
          case Right(t) => (t.title, t.artist, t.album, t.year)
          case Left(e) => (s"error:$e", "", "", "")
        }
      }
    },
      // q256: all four tags stated verbatim per family (v2.3 TYER years,
      // v2.4 TDRC dates, the unicode suffix on the %3=2 slice).
      """SELECT doc_id,
        |  'Track ' || doc_id ||
        |    CASE WHEN doc_id % 3 = 2 THEN ' ' || chr(233) || chr(26085) ELSE '' END AS title,
        |  'Artist ' || (doc_id % 7) AS artist,
        |  'Album ' || (doc_id % 5) AS album,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(1990 + doc_id % 30 AS VARCHAR)
        |       ELSE (2000 + doc_id % 20) || '-0' || (1 + doc_id % 9) END AS year
        |FROM documents""".stripMargin),

    // OGG CONTAINER LABELING, ORACLED: RFC 3533 page walk with Opus /
    // Vorbis identification headers — codec, channels, rate, page
    // count, and exact duration from the final granule (Opus granules
    // tick at 48 kHz minus pre-skip; Vorbis at the stream rate).
    "q255_ogg_info" -> Query((s, dir) => {
      perDoc(s, dir, "codec", "channels", "sample_rate", "n_pages", "duration_ms") { id =>
        val opus = id % 2 == 0
        val chans = 1 + (id % 2).toInt
        val pages = 2 + (id % 6).toInt
        val bytes =
          if (opus) graft.codec.Ogg.synthesize("opus", chans, 48000,
            preSkip = 312, nDataPages = pages, finalGranule = 48312 + id * 480)
          else graft.codec.Ogg.synthesize("vorbis", chans, 22050,
            preSkip = 0, nDataPages = pages, finalGranule = 22050 + id * 441)
        graft.codec.Ogg.info(bytes) match {
          case Right(oi) =>
            (oi.codec, oi.channels.toLong, oi.sampleRate.toLong,
              oi.nPages.toLong, oi.durationMs)
          case Left(_) => ("error", -1L, -1L, -1L, -1L)
        }
      }
    },
      // q255: opus duration = (final granule - 312 pre-skip) at 48 kHz;
      // vorbis at the stream's own rate; page count = data pages + BOS.
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'opus' ELSE 'vorbis' END AS codec,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 48000 ELSE 22050 END AS BIGINT) AS sample_rate,
        |  CAST(3 + doc_id % 6 AS BIGINT) AS n_pages,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |       THEN (48312 + doc_id * 480 - 312) * 1000 // 48000
        |       ELSE (22050 + doc_id * 441) * 1000 // 22050 END AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin),

    // VIDEO CONTAINER LABELING, ORACLED: ISO-BMFF (MP4) box walk —
    // brand, mvhd timescale→ms duration (exact integer), track count,
    // 16.16 video dimensions — without touching coded samples (H.264
    // decode stays fenced; labeling is the curation read). Completes
    // the image (q250) / audio (q253) / video labeling triad.
    "q254_video_info" -> Query((s, dir) => {
      perDoc(s, dir, "brand", "duration_ms", "n_tracks", "video_w", "video_h") { id =>
        val timescale = 600 * (1 + (id % 4).toInt)
        val durUnits = 1000 + (id * 37 % 5000)
        val w = 320 + (id % 5).toInt * 160
        val h = 180 + (id % 5).toInt * 90
        val bytes = graft.codec.Mp4.synthesize(
          if (id % 3 == 0) "mp42" else "isom", timescale, durUnits, w, h,
          extraAudioTrack = id % 2 == 0)
        graft.codec.Mp4.info(bytes) match {
          case Right(mi) =>
            (mi.brand, mi.durationMs, mi.nTracks.toLong,
              mi.videoW.toLong, mi.videoH.toLong)
          case Left(_) => ("error", -1L, -1L, -1L, -1L)
        }
      }
    },
      // q254: every field is the synthesis closed form; duration is the
      // exact integer units*1000 // timescale.
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'mp42' ELSE 'isom' END AS brand,
        |  CAST((1000 + (doc_id * 37) % 5000) * 1000
        |       // (600 * (1 + doc_id % 4)) AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_tracks,
        |  CAST(320 + (doc_id % 5) * 160 AS BIGINT) AS video_w,
        |  CAST(180 + (doc_id % 5) * 90 AS BIGINT) AS video_h
        |FROM documents""".stripMargin),

    // ANIMATED WEBP, ORACLED (q209's sibling for the WebP container):
    // VP8X/ANIM/ANMF parsing + canvas compositing with no-blend opaque
    // frames and a dispose-to-background rect, every frame a VP8L
    // stream through the libwebp-pinned still decoder. Per-frame RGBA
    // canvas totals are closed forms: frame 1 full gradient, frame 2
    // overwrites a patch (later disposed to transparent), frame 3 draws
    // beside the hole.
    "q252_webp_anim" -> Query((s, dir) => {
      perDoc(s, dir, "n_frames", "loop_count", "dur_ms", "sum0", "sum1", "sum2") { id =>
        val cw = 10; val ch = 6
        val f0 = raster(cw, ch, 3)((x, y, k) =>
          Seq(id * 3 + x + 2 * y, id * 5 + x, id * 7 + y)(k) % 256)
        val fp = raster(4, 2, 3)((x, y, k) => Seq(id * 11 + x + y, id * 13 + x, id * 17 + y)(k) % 256)
        val fq = raster(2, 2, 3)((x, y, k) => Seq(id * 19 + x, id * 23 + y, id * 29)(k) % 256)
        val bytes = graft.codec.WebpVp8l.encodeAnimated(cw, ch, (id % 4).toInt, Seq(
          (0, 0, cw, ch, f0, 3, 30, true, false),
          (2, 2, 4, 2, fp, 3, 40, true, true),
          (6, 2, 2, 2, fq, 3, 50, true, false)))
        graft.codec.WebpVp8l.decodeFrames(bytes) match {
          case Right(anim) =>
            def total(k: Int): Long = pixelStats(anim.frames(k).pixels)._1
            (anim.nFrames.toLong, anim.loop.toLong,
              anim.durationsMs.map(_.toLong).sum, total(0), total(1), total(2))
          case Left(_) => (-1L, -1L, -1L, -1L, -1L, -1L)
        }
      }
    },
      // q252: three RGBA canvas snapshots as closed forms — frame 2
      // replaces the patch rect, frame 3 sees that rect disposed to
      // transparent (all four channels 0) and draws beside it.
      """WITH px AS (
        |  SELECT doc_id, x, y FROM documents,
        |    unnest(generate_series(0, 9)) AS t1(x),
        |    unnest(generate_series(0, 5)) AS t2(y)),
        |v AS (SELECT doc_id, x, y,
        |    (doc_id*3 + x + 2*y) % 256 + (doc_id*5 + x) % 256 + (doc_id*7 + y) % 256 + 255 AS base,
        |    CASE WHEN x BETWEEN 2 AND 5 AND y BETWEEN 2 AND 3
        |         THEN (doc_id*11 + (x-2) + (y-2)) % 256 + (doc_id*13 + (x-2)) % 256
        |              + (doc_id*17 + (y-2)) % 256 + 255 END AS patch,
        |    CASE WHEN x BETWEEN 6 AND 7 AND y BETWEEN 2 AND 3
        |         THEN (doc_id*19 + (x-6)) % 256 + (doc_id*23 + (y-2)) % 256
        |              + (doc_id*29) % 256 + 255 END AS q3
        |  FROM px)
        |SELECT doc_id,
        |  CAST(3 AS BIGINT) AS n_frames,
        |  CAST(doc_id % 4 AS BIGINT) AS loop_count,
        |  CAST(120 AS BIGINT) AS dur_ms,
        |  CAST(sum(base) AS BIGINT) AS sum0,
        |  CAST(sum(coalesce(patch, base)) AS BIGINT) AS sum1,
        |  CAST(sum(CASE WHEN patch IS NOT NULL THEN 0
        |                ELSE coalesce(q3, base) END) AS BIGINT) AS sum2
        |FROM v GROUP BY doc_id""".stripMargin),

    // SYMBOL-CODED JBIG2 in PDF, ORACLED (q249's other half — the
    // coding real scanned PDFs predominantly use): per-document glyph
    // grids run arithmetic symbol dictionary → text region → page
    // composition through the real PDF harvest; placements are disjoint
    // so black count and positional checksum are exact closed forms.
    "q251_pdf_jbig2_text" -> Query((s, dir) => {
      import graft.pdf.PdfWriter
      val mk = udf { id: Long =>
        val cols = 4 + (id % 3).toInt; val rows = 2 + (id % 2).toInt
        val w = 5 * cols + 2; val h = 5 * rows + 2
        val square = Array.fill[Byte](9)(1)
        val diag = Array.tabulate[Byte](9)(i => if (i % 4 == 0) 1 else 0) // (0,0),(1,1),(2,2)
        val syms = Vector((3, 3, square), (3, 3, diag))
        val placements = for {
          cy <- 0 until rows
          cx <- 0 until cols
        } yield (((id + cx + cy) % 2).toInt, 1 + 5 * cx, 1 + 5 * cy)
        val stream = graft.codec.Jbig2.encodeSymbolPage(w, h, syms, placements)
        PdfWriter.write(Vector(PdfWriter.PageSpec(Vector(Vector(s"sym $id")),
          images = Vector(PdfWriter.ImageSpec(w, h, PdfWriter.Jbig2Codec, stream,
            colorSpace = "DeviceGray", bitsPerComponent = 1)))))
      }
      val dec = udf { b: Array[Byte] =>
        graft.codec.Jbig2.decode(b) match {
          case Right(im) =>
            val (nb, ck) = inkStats(im.pixels)
            (im.width.toLong, im.height.toLong, nb, ck)
          case Left(_) => (-1L, -1L, -1L, -1L)
        }
      }
      val pages = docs(s, dir).select(
        concat(lit("http://x.example/sym"), col("doc_id"), lit(".pdf")).as("url"),
        mk(col("doc_id").cast("long")).as("payload"))
      graft.extract.PdfImages.imagesDf(pages, "url", "payload")
        .select(
          regexp_extract(col("url"), "sym(\\d+)\\.pdf", 1).cast("long").as("doc_id"),
          col("format"), dec(col("data")).as("d"))
        .select(col("doc_id"), col("format"),
          col("d._1").as("width"), col("d._2").as("height"),
          col("d._3").as("n_black"), col("d._4").as("checksum"))
    },
      // q251: per-glyph closed forms — a 3x3 full square contributes
      // 9*(y0*w+x0) + 9w + 9 to the checksum, the diagonal 3*(y0*w+x0)
      // + 3w + 3; placements are disjoint grid cells.
      """WITH g AS (
        |  SELECT doc_id, 4 + doc_id % 3 AS cols, 2 + doc_id % 2 AS rows FROM documents),
        |dims AS (SELECT doc_id, cols, rows, 5*cols + 2 AS w, 5*rows + 2 AS h FROM g),
        |cx AS (SELECT doc_id, cols, rows, w, h, unnest(generate_series(0, cols - 1)) AS cx FROM dims),
        |cell AS (SELECT doc_id, w, h, cx, unnest(generate_series(0, rows - 1)) AS cy FROM cx),
        |pl AS (SELECT doc_id, w, h,
        |    (doc_id + cx + cy) % 2 AS glyph,
        |    (1 + 5*cy) * w + (1 + 5*cx) AS base
        |  FROM cell)
        |SELECT doc_id, 'jbig2' AS format,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum(CASE WHEN glyph = 0 THEN 9 ELSE 3 END) AS BIGINT) AS n_black,
        |  CAST(sum(CASE WHEN glyph = 0 THEN 9*base + 9*w + 9
        |                ELSE 3*base + 3*w + 3 END) AS BIGINT) AS checksum
        |FROM pl GROUP BY doc_id, w, h""".stripMargin),

    // PDF -> HUFFMAN JBIG2 -> PIXELS: the q251 shape through the
    // round-5 SDHUFF/SBHUFF legs — id%4 sweeps {MMR, uncompressed}
    // collective bitmaps x {arithmetic, SBHUFF-with-custom-tables} text
    // regions; the MMR leg rides the JDK-pinned G4 coder, the custom
    // FS/DS/DT tables ship as type-53 segments the decoder must parse.
    "q262_pdf_jbig2_huff" -> Query((s, dir) => {
      import graft.pdf.PdfWriter
      val mk = udf { id: Long =>
        val cols = 3 + (id % 4).toInt; val rows = 2 + (id % 3).toInt
        val w = 5 * cols + 2; val h = 5 * rows + 2
        val square = Array.fill[Byte](9)(1)
        val diag = Array.tabulate[Byte](9)(i => if (i % 4 == 0) 1 else 0)
        val syms = Vector((3, 3, square), (3, 3, diag))
        val placements = for {
          cy <- 0 until rows
          cx <- 0 until cols
        } yield (((id + cx + cy) % 2).toInt, 1 + 5 * cx, 1 + 5 * cy)
        val stream = graft.codec.Jbig2.encodeSymbolPageHuff(w, h, syms, placements,
          huffText = (id % 4) >= 2, uncompressed = (id % 2) == 1)
        PdfWriter.write(Vector(PdfWriter.PageSpec(Vector(Vector(s"huf $id")),
          images = Vector(PdfWriter.ImageSpec(w, h, PdfWriter.Jbig2Codec, stream,
            colorSpace = "DeviceGray", bitsPerComponent = 1)))))
      }
      val dec = udf { b: Array[Byte] =>
        graft.codec.Jbig2.decode(b) match {
          case Right(im) =>
            val (nb, ck) = inkStats(im.pixels)
            (im.width.toLong, im.height.toLong, nb, ck)
          case Left(_) => (-1L, -1L, -1L, -1L)
        }
      }
      val pages = docs(s, dir).select(
        concat(lit("http://x.example/huf"), col("doc_id"), lit(".pdf")).as("url"),
        mk(col("doc_id").cast("long")).as("payload"))
      graft.extract.PdfImages.imagesDf(pages, "url", "payload")
        .select(
          regexp_extract(col("url"), "huf(\\d+)\\.pdf", 1).cast("long").as("doc_id"),
          col("format"), dec(col("data")).as("d"))
        .select(col("doc_id"), col("format"),
          col("d._1").as("width"), col("d._2").as("height"),
          col("d._3").as("n_black"), col("d._4").as("checksum"))
    },
      // q262: same glyph-grid closed form as q251, over the huffman
      // encoder's dims — the coding variants are pixel-identical.
      """WITH g AS (
        |  SELECT doc_id, 3 + doc_id % 4 AS cols, 2 + doc_id % 3 AS rows FROM documents),
        |dims AS (SELECT doc_id, cols, rows, 5*cols + 2 AS w, 5*rows + 2 AS h FROM g),
        |cx AS (SELECT doc_id, cols, rows, w, h, unnest(generate_series(0, cols - 1)) AS cx FROM dims),
        |cell AS (SELECT doc_id, w, h, cx, unnest(generate_series(0, rows - 1)) AS cy FROM cx),
        |pl AS (SELECT doc_id, w, h,
        |    (doc_id + cx + cy) % 2 AS glyph,
        |    (1 + 5*cy) * w + (1 + 5*cx) AS base
        |  FROM cell)
        |SELECT doc_id, 'jbig2' AS format,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum(CASE WHEN glyph = 0 THEN 9 ELSE 3 END) AS BIGINT) AS n_black,
        |  CAST(sum(CASE WHEN glyph = 0 THEN 9*base + 9*w + 9
        |                ELSE 3*base + 3*w + 3 END) AS BIGINT) AS checksum
        |FROM pl GROUP BY doc_id, w, h""".stripMargin),

    // PDF -> JBIG2Decode -> PIXELS, END TO END (the third scanned-
    // document class after q194 DCT and q196 CCITT — the one T24
    // previously shipped undecoded): the writer embeds real JBIG2
    // embedded-organization streams built by the encoder twin, the
    // harvest surfaces them, the codec decodes. Odd ids use the MMR
    // coding (T.6 — externally pinned through the JDK-differential G4
    // coder); even ids sweep the four arithmetic templates with TPGDON
    // on every third doc. The oracle recounts black pixels and their
    // positional checksum from the generator's closed form.
    "q249_pdf_jbig2" -> Query((s, dir) => {
      import graft.pdf.PdfWriter
      val mk = udf { id: Long =>
        val w = 24 + (id % 3).toInt * 8; val h = 6 + (id % 4).toInt
        val pix = raster(w, h)((x, y, _) => if ((x + 3 * y + id) % 7 < 3) 1 else 0)
        val stream = graft.codec.Jbig2.encode(pix, w, h,
          template = ((id / 2) % 4).toInt,
          tpgdon = id % 3 == 0,
          mmr = id % 2 == 1)
        PdfWriter.write(Vector(PdfWriter.PageSpec(Vector(Vector(s"jbig $id")),
          images = Vector(PdfWriter.ImageSpec(w, h, PdfWriter.Jbig2Codec, stream,
            colorSpace = "DeviceGray", bitsPerComponent = 1)))))
      }
      val dec = udf { b: Array[Byte] =>
        graft.codec.Jbig2.decode(b) match {
          case Right(im) =>
            val (nb, ck) = inkStats(im.pixels)
            (im.width.toLong, im.height.toLong, nb, ck)
          case Left(_) => (-1L, -1L, -1L, -1L)
        }
      }
      val pages = docs(s, dir).select(
        concat(lit("http://x.example/jb"), col("doc_id"), lit(".pdf")).as("url"),
        mk(col("doc_id").cast("long")).as("payload"))
      graft.extract.PdfImages.imagesDf(pages, "url", "payload")
        .select(
          regexp_extract(col("url"), "jb(\\d+)\\.pdf", 1).cast("long").as("doc_id"),
          col("format"), col("color_space"), col("bits").cast("long").as("bits"),
          dec(col("data")).as("d"))
        .select(col("doc_id"), col("format"), col("color_space"), col("bits"),
          col("d._1").as("width"), col("d._2").as("height"),
          col("d._3").as("n_black"), col("d._4").as("checksum"))
    },
      // q249: q196's closed form for the JBIG2 leg (taller rows so TPGDON
      // has something to predict); the dict constants are what the PDF
      // harvest must read from the /JBIG2Decode XObject.
      raw"""WITH g AS (
        |  SELECT doc_id, 24 + (doc_id % 3) * 8 AS w, 6 + doc_id % 4 AS h FROM documents),
        |${pixelGridSql("g", "xs", "c")}
        |SELECT doc_id, 'jbig2' AS format, 'DeviceGray' AS color_space,
        |  CAST(1 AS BIGINT) AS bits,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum(CASE WHEN (x + 3*y + doc_id) % 7 < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_black,
        |  CAST(sum(CASE WHEN (x + 3*y + doc_id) % 7 < 3 THEN y*w + x ELSE 0 END) AS BIGINT) AS checksum
        |FROM c GROUP BY doc_id, w, h""".stripMargin),

    // Hot-bucket star-reduction, ORACLED with the cap FIRING: 40 planted
    // clones of one template page share every LSH band bucket (the
    // parked-domain-farm shape), maxBucket = 8 < 40 collapses each
    // bucket's left side to its min id, so the cluster emits exactly the
    // 39 star pairs (1000, 1000+j) instead of 780 — the DuckDB oracle
    // replays the cap predicate verbatim.
    "q248_hot_bucket_cap" -> Query((s, dir) => {
      val base = docs(s, dir).filter(col("doc_id") < 20)
        .select(col("doc_id").cast("long").as("id"), col("text"))
      val template = "graft hot bucket template page alpha beta gamma " +
        "delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron"
      val clones = docs(s, dir).filter(col("doc_id") < 40)
        .select((col("doc_id").cast("long") + 1000L).as("id"),
          lit(template).as("text"))
      graft.ops.Dedup.minhashNearDups(base.unionByName(clones), "id", "text",
          threshold = 0.5, maxBucket = 8)
        .select(col("id_a"), col("id_b"),
          floor(col("jaccard") * 1000000 + 0.5).cast("long").as("jaccard_micro"))
    },
      // q248: the q27 replay with a planted 40-clone hot bucket and the
      // star-reduction cap (maxBucket = 8) FIRING — the cap predicate
      // (n <= 8 OR a.id = mn) is the exact SQL twin of the Scala prune.
      raw"""WITH corpus AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents WHERE doc_id < 20
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT) + 1000 AS id,
        |    'graft hot bucket template page alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron' AS text
        |  FROM documents WHERE doc_id < 40
        |),
        |words AS (
        |  SELECT id, $wordsSql AS w
        |  FROM corpus
        |),
        |sh AS (
        |  SELECT id, list_distinct(
        |    ${wordShinglesSql(3, concatGram = true)}) AS shingles
        |  FROM words
        |),
        |ph AS (
        |  SELECT id, shingles,
        |    [${polyHashSql("sg")} FOR sg IN shingles] AS hb
        |  FROM sh
        |),
        |sigs AS (
        |  SELECT id, shingles,
        |    $minHashSigSql AS sig
        |  FROM ph
        |),
        |keyed AS (
        |  SELECT id, shingles,
        |    [list_reduce(list_prepend((b+1)::BIGINT, [sig[4*b + j] FOR j IN range(1, 5)]),
        |       (acc, s) -> (acc * 131071 + s) % 2147483647) FOR b IN range(0, 8)] AS keys
        |  FROM sigs
        |),
        |buckets AS (
        |  SELECT id, unnest([{'band': b, 'key': keys[b + 1]} FOR b IN range(0, 8)], recursive := true)
        |  FROM keyed
        |),
        |bstat AS (
        |  SELECT band, key, count(*) AS n, min(id) AS mn FROM buckets GROUP BY band, key
        |),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM buckets a
        |  JOIN bstat s ON s.band = a.band AND s.key = a.key
        |  JOIN buckets b ON a.band = b.band AND a.key = b.key AND a.id < b.id
        |  WHERE s.n <= 8 OR a.id = s.mn
        |),
        |verified AS (
        |  SELECT id_a, id_b,
        |    len(list_intersect(sa.shingles, sb.shingles))::DOUBLE AS inter,
        |    (len(sa.shingles) + len(sb.shingles))::DOUBLE AS stot
        |  FROM cand
        |  JOIN sh sa ON sa.id = cand.id_a
        |  JOIN sh sb ON sb.id = cand.id_b
        |)
        |SELECT id_a, id_b,
        |  CAST(floor((CASE WHEN stot - inter = 0 THEN 1.0 ELSE inter / (stot - inter) END) * 1000000 + 0.5) AS BIGINT) AS jaccard_micro
        |FROM verified
        |WHERE (CASE WHEN stot - inter = 0 THEN 1.0 ELSE inter / (stot - inter) END) >= 0.5""".stripMargin),

    // LSH-bucketed ANN (training op): the scale path for q24 — random
    // hyperplane signatures, banded bucket join, exact re-rank
    "q29_ann_lsh" -> Query((s, dir) => {
      val emb = embeddings(s, dir)
      graft.ops.Similarity.lshTopK(
        emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 10)
    },
      // q29: independent replay of the random-hyperplane ANN pipeline —
      // plane signs from the portable affine-parity family (seed 42 baked
      // into the constants: 1302 = 42*31), dot products as sequential
      // double folds (bit-equal), then the q24 cosine re-rank shape
      raw"""WITH sigt AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_sum([CASE WHEN
        |      list_reduce(list_prepend(0.0::DOUBLE,
        |        [embedding[ii]::DOUBLE *
        |           (CASE WHEN (((((j+7) * 1103515245 + 1302) % 2147483647) * ii
        |                       + (((j+3) * 1234567891 + 42) % 2147483647)) % 2147483647) % 2 = 1
        |                 THEN 1.0 ELSE -1.0 END)
        |         FOR ii IN range(1, len(embedding) + 1)]), (x, y) -> x + y) >= 0
        |      THEN (1::BIGINT << j) ELSE 0 END FOR j IN range(0, 16)]) AS BIGINT) AS sig
        |  FROM embeddings
        |),
        |qb AS (
        |  SELECT vec_id AS query_id,
        |    unnest([{'band': b, 'bk': (sig >> (b * 4)) & 15} FOR b IN range(0, 4)], recursive := true)
        |  FROM sigt WHERE vec_id < 5
        |),
        |cb AS (
        |  SELECT vec_id AS nn_id,
        |    unnest([{'band': b, 'bk': (sig >> (b * 4)) & 15} FOR b IN range(0, 4)], recursive := true)
        |  FROM sigt
        |),
        |cand AS (
        |  SELECT DISTINCT query_id, nn_id FROM qb JOIN cb ON qb.band = cb.band AND qb.bk = cb.bk
        |),
        |scored AS (
        |  ${cosineSql()}
        |)
        |SELECT query_id, rank, nn_id, round(sim, 6) AS sim FROM (
        |  SELECT query_id, nn_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id ASC) AS rank
        |  FROM scored) WHERE rank <= 10""".stripMargin),

    // IVF-bucketed ANN (training op): the coarse-quantizer scale path for
    // q24 — deterministic affine-hash codebook, narrow broadcast-codebook
    // cell assignment (no corpus shuffle), nProbe-cell probe, exact re-rank
    "q35_ann_ivf" -> Query((s, dir) => {
      val emb = embeddings(s, dir)
      graft.ops.Similarity.ivfTopK(
        emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding",
        k = 10, nCells = 8, nProbe = 2)
    },
      // q35: independent replay of the IVF pipeline — codebook = the 8
      // corpus rows with the smallest affine id-hash, cells/probes from a
      // (sim desc, cid asc) row_number over the corpus×codebook cross join
      // (the Spark side computes the same argmax in a narrow kernel; both
      // sides use the sequential-double-fold cosine, so cell choice is
      // bit-equal), then the q24 cosine re-rank shape over in-cell rows
      raw"""WITH centr AS (
        |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  ORDER BY (CAST(vec_id AS BIGINT) * 1103515245 + 12345) % 2147483647, vec_id
        |  LIMIT 8
        |),
        |sim_all AS (
        |  SELECT id, cid, CASE WHEN na = 0 OR nc = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nc)) END AS sim
        |  FROM (
        |    SELECT e.vec_id AS id, ct.cid,
        |      list_reduce(list_prepend(0.0::DOUBLE, [e.embedding[i]::DOUBLE * ct.cv[i]::DOUBLE FOR i IN range(1, len(e.embedding) + 1)]), (a, b) -> a + b) AS dot,
        |      list_reduce(list_prepend(0.0::DOUBLE, [e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, len(e.embedding) + 1)]), (a, b) -> a + b) AS na,
        |      list_reduce(list_prepend(0.0::DOUBLE, [ct.cv[i]::DOUBLE * ct.cv[i]::DOUBLE FOR i IN range(1, len(ct.cv) + 1)]), (a, b) -> a + b) AS nc
        |    FROM embeddings e CROSS JOIN centr ct)
        |),
        |assigned AS (
        |  SELECT id AS nn_id, cell FROM (
        |    SELECT id, cid AS cell, row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid ASC) AS rn
        |    FROM sim_all) WHERE rn = 1
        |),
        |probes AS (
        |  SELECT id AS query_id, cell FROM (
        |    SELECT id, cid AS cell, row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid ASC) AS rn
        |    FROM sim_all WHERE id < 5) WHERE rn <= 2
        |),
        |cand AS (
        |  SELECT p.query_id, a.nn_id FROM probes p JOIN assigned a ON p.cell = a.cell
        |),
        |scored AS (
        |  ${cosineSql()}
        |)
        |SELECT query_id, rank, nn_id, round(sim, 6) AS sim FROM (
        |  SELECT query_id, nn_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id ASC) AS rank
        |  FROM scored) WHERE rank <= 10""".stripMargin),

    // embedding-cosine near-dup PAIRS (training op): the pairwise dedup
    // cousin of q29 — LSH band self-join candidates, exact-cosine verify.
    // Planted duplicates are scaled-by-2 copies: x*2f is exact in float
    // on both engines, so signatures, cosine, and the oracle replay all
    // stay bit-equal.
    "q34_cosine_neardup" -> Query((s, dir) => {
      val emb = embeddings(s, dir)
      val base = emb.filter(col("vec_id") < 100)
        .select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
      val doubled = base.select((col("id") + 10000L).as("id"),
        transform(col("v"), x => x * lit(2.0f)).as("v"))
      graft.ops.Similarity.cosineNearDups(base.unionByName(doubled), "id", "v", threshold = 0.9)
    },
      // q34: full replay of the cosine near-dup pipeline (see q29 note)
      """WITH corpus AS (
        |  SELECT CAST(vec_id AS BIGINT) AS id, embedding AS v FROM embeddings WHERE vec_id < 100
        |  UNION ALL
        |  SELECT CAST(vec_id AS BIGINT) + 10000 AS id, [CAST(x * 2 AS REAL) FOR x IN embedding] AS v
        |  FROM embeddings WHERE vec_id < 100
        |),
        |sigt AS (
        |  SELECT id, v, CAST(list_sum([CASE WHEN
        |      list_reduce(list_prepend(0.0::DOUBLE,
        |        [v[ii]::DOUBLE * (CASE WHEN (((((j+7) * 1103515245 + 1302) % 2147483647) * ii
        |                       + (((j+3) * 1234567891 + 42) % 2147483647)) % 2147483647) % 2 = 1
        |                 THEN 1.0 ELSE -1.0 END)
        |         FOR ii IN range(1, len(v) + 1)]), (x, y) -> x + y) >= 0
        |      THEN (1::BIGINT << j) ELSE 0 END FOR j IN range(0, 16)]) AS BIGINT) AS sig
        |  FROM corpus
        |),
        |bnd AS (
        |  SELECT id, unnest([{'band': b, 'bk': (sig >> (b * 4)) & 15} FOR b IN range(0, 4)], recursive := true)
        |  FROM sigt
        |),
        |bstat AS (
        |  SELECT band, bk, count(*) AS n, min(id) AS mn FROM bnd GROUP BY band, bk
        |),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bnd a
        |  JOIN bstat s ON s.band = a.band AND s.bk = a.bk
        |  JOIN bnd b ON a.band = b.band AND a.bk = b.bk AND a.id < b.id
        |  WHERE s.n <= 1000 OR a.id = s.mn
        |),
        |scored AS (
        |  SELECT id_a, id_b, CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS sim
        |  FROM (
        |    SELECT id_a, id_b,
        |      list_reduce(list_prepend(0.0::DOUBLE, [av[i]::DOUBLE * bv[i]::DOUBLE FOR i IN range(1, len(av) + 1)]), (a, b) -> a + b) AS dot,
        |      list_reduce(list_prepend(0.0::DOUBLE, [av[i]::DOUBLE * av[i]::DOUBLE FOR i IN range(1, len(av) + 1)]), (a, b) -> a + b) AS na,
        |      list_reduce(list_prepend(0.0::DOUBLE, [bv[i]::DOUBLE * bv[i]::DOUBLE FOR i IN range(1, len(bv) + 1)]), (a, b) -> a + b) AS nb
        |    FROM cand
        |    JOIN (SELECT id, v AS av FROM corpus) qa ON qa.id = cand.id_a
        |    JOIN (SELECT id, v AS bv FROM corpus) qb ON qb.id = cand.id_b)
        |)
        |SELECT id_a, id_b, round(sim, 6) AS sim FROM scored WHERE sim >= 0.9""".stripMargin),

    // Multimodal plumbing (T11), ORACLED since r4 (the LAST rows-only
    // query): binary payloads + typed meta, batched decode/feature-
    // extract via mapPartitions over the mixed real/fake corpus. The
    // projection keeps the SQL-expressible columns — counts, decode
    // successes, and total DECODED payload bytes (video n_bytes is now
    // frames x frame-pixels, consistent with the image leg's w*h and
    // the audio leg's samples*2; the old encoded-JPEG-length sum was
    // both inconsistent and oracle-proof). avg_byte stays an operator
    // output (OpsSpec pins it per slice) but not a driver column: the
    // fake-codec slice's byte mean is a splitmix64 stream with no
    // closed SQL form.
    "q30_multimodal" -> Query((s, dir) =>
      graft.ops.Multimodal.featureSummary(s, 300L)
        .select(col("modality"), col("cnt"), col("decoded"), col("total_bytes")),
      // q30: the synthetic media corpus replayed slice by slice — the
      // real-codec slices (JPEG i%4=0, WAV i%4=1, AVI i%4=2) contribute
      // their decoded sizes as closed forms of i, the fake-codec rows
      // their stated body lengths, the malformed slice zero.
      """WITH r AS (SELECT unnest(generate_series(0, 299)) AS i),
        |c AS (SELECT i,
        |    CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |         ELSE 'video' END AS modality,
        |    i % 23 = 13 AS malformed,
        |    CASE
        |      WHEN i % 23 = 13 THEN 0
        |      WHEN i % 3 = 0 AND i % 4 = 0 THEN (64 + (i % 8) * 32) * (64 + (i % 5) * 32)
        |      WHEN i % 3 = 1 AND i % 4 = 1 THEN (256 + (i % 7) * 64) * 2
        |      WHEN i % 3 = 2 AND i % 4 = 2 THEN (8 + i % 5) * 128 * 96
        |      ELSE 256 + (i * 37) % 512 END AS nb
        |  FROM r)
        |SELECT modality, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CASE WHEN malformed THEN 0 ELSE 1 END) AS BIGINT) AS decoded,
        |  CAST(sum(nb) AS BIGINT) AS total_bytes
        |FROM c GROUP BY modality""".stripMargin),

    // P1/P2/T16 dispatch mix, ORACLED (was rows-only through round 3):
    // five payload families — q181's html page, q184's 2-page PDF, JPEG
    // magic, RIFF/WAVE magic, empty — drive the magic-sniff dispatcher
    // end to end; every (status, content_type) bucket's count and
    // markdown-char total is a closed form the DuckDB oracle states
    // (markdown lengths come from the q181/q184 pinned bytes).
    "q20_extract" -> Query((s, dir) => {
      import graft.pdf.PdfWriter
      val html = boilerplatePage(col("doc_id"))
      val mkPdf = udf((id: Long) => PdfWriter.write(Vector(
        PdfWriter.PageSpec(Vector(Vector(s"Pdf doc $id line one", s"and line two of $id"))),
        PdfWriter.PageSpec(Vector(Vector(s"Second page of $id")), compress = true))))
      val jpegMagic = lit(Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x10).map(_.toByte))
      val wavMagic = lit("RIFF$\u0000\u0000\u0000WAVEfmt ".getBytes("ISO-8859-1"))
      val m = pmod(col("doc_id"), lit(5))
      val payload = when(m === 0, encode(html, "UTF-8"))
        .when(m === 1, mkPdf(col("doc_id").cast("long")))
        .when(m === 2, jpegMagic)
        .when(m === 3, wavMagic)
        .otherwise(lit(Array.emptyByteArray))
      val pages = docs(s, dir).select(
        concat(lit("http://x.example/m"), col("doc_id")).as("url"),
        payload.as("html"))
      graft.extract.ExtractJob.extractedDf(pages)
        .groupBy(col("extracted.status").as("status"),
          col("extracted.content_type").as("content_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(length(col("extracted.markdown"))).cast("long").as("md_chars"))
    },
      // q20: the dispatch mix stated exactly — counts per family, markdown
      // totals from the q181/q184 pinned byte forms, zero for the sniffed
      // media/empty families.
      """WITH e AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 IN (0, 1) THEN 'ok' ELSE 'error' END AS status,
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN 'html' WHEN 1 THEN 'pdf' WHEN 2 THEN 'image'
        |      WHEN 3 THEN 'media' ELSE 'unknown' END AS content_type,
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN length('# Title ' || doc_id || chr(10) || chr(10)
        |        || 'Hello world ' || doc_id || ' with enough words to be content here today.'
        |        || chr(10) || chr(10) || 'Second paragraph ' || doc_id
        |        || ' also has plenty of real sentence text to keep.')
        |      WHEN 1 THEN length('Pdf doc ' || doc_id || ' line one' || chr(10)
        |        || 'and line two of ' || doc_id || chr(10) || chr(10)
        |        || 'Second page of ' || doc_id)
        |      ELSE 0 END AS md_len
        |  FROM documents)
        |SELECT status, content_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(md_len) AS BIGINT) AS md_chars
        |FROM e GROUP BY status, content_type""".stripMargin),

    // N1-N8 full kernel + A7/A8/A4 metrics via UDFs (eval.py:248-267).
    // The real Scala kernels run end-to-end (normalize is identity on the
    // already-clean corpus, which the oracle compare itself proves); the
    // DuckDB side recomputes CER via levenshtein over the identically
    // perturbed hypothesis and WER/word_acc via the substitution-only
    // closed form: the perturbation replaces ONLY whole whitespace-
    // delimited 'value' tokens with the same-length 'worth' ('worth'
    // never occurs in ref), so token edit distance = #'value' tokens
    // exactly — by construction, not by corpus luck (a bare
    // regexp_replace(text,'value','worth') would also rewrite substrings
    // inside longer tokens like 'values'). Two passes because a match
    // consumes its boundary whitespace: in a run of consecutive 'value'
    // tokens pass 1 replaces alternating ones (leftmost non-overlapping
    // scan — identical in Java regex and RE2), leaving no two survivors
    // adjacent, so pass 2 catches the rest. The boundary class is the
    // explicit [ \t\n\r] (Java \s and RE2 \s disagree on \x0B).
    // seq_sim (difflib ratio incl. autojunk) is NOT SQL-expressible and
    // lives in q33_seqsim (oracled on closed-form ratios; the kernel is
    // proven against CPython difflib fixtures in MetricsSpec).
    "q21_eval_metrics" -> Query((s, dir) => {
      val normUdf = udf((t: String) => textnorm.TextNorm.normalize(t))
      val cerUdf = udf((a: String, b: String) => metrics.Metrics.cer(a, b))
      val werUdf = udf((a: String, b: String) => metrics.Metrics.wer(a, b))
      val waUdf = udf((a: String, b: String) => metrics.Metrics.wordAccuracy(a, b))
      val hyp = perturbValueTokens(col("text")) // perturbed hypothesis
      docs(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"),
          normUdf(col("text")).as("ref_n"), normUdf(hyp).as("hyp_n"))
        .select(col("doc_id"),
          round(cerUdf(col("ref_n"), col("hyp_n")), 6).as("cer"),
          round(werUdf(col("ref_n"), col("hyp_n")), 6).as("wer"),
          round(waUdf(col("ref_n"), col("hyp_n")), 6).as("word_acc"))
    },
      // q21: real kernels on the Spark side; levenshtein + substitution-only
      // closed form on the DuckDB side (see the query's comment for why the
      // closed form is exact here). hyp replays the Spark side's two-pass
      // whole-token perturbation.
      """WITH p AS (
        |  SELECT doc_id, text,
        |    regexp_replace(
        |      regexp_replace(text, '(^|[ \t\n\r])value([ \t\n\r]|$)', '\1worth\2', 'g'),
        |      '(^|[ \t\n\r])value([ \t\n\r]|$)', '\1worth\2', 'g') AS hyp
        |  FROM documents WHERE doc_id < 50)
        |SELECT doc_id,
        |  round(levenshtein(trim(text), trim(hyp))::DOUBLE
        |    / length(trim(text)), 6) AS cer,
        |  round(len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t = 'value'))::DOUBLE
        |    / len(regexp_split_to_array(trim(text), '\s+')), 6) AS wer,
        |  round((len(regexp_split_to_array(trim(text), '\s+'))
        |         - len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t = 'value')))::DOUBLE
        |    / len(regexp_split_to_array(trim(text), '\s+')), 6) AS word_acc
        |FROM p""".stripMargin),

    // A9: difflib ratio (incl. autojunk) through the real normalize +
    // SequenceMatcher kernels, ORACLED on hand-derived closed forms
    // (was rows-only through round 3; the kernel itself stays pinned to
    // CPython fixtures in SequenceMatcherSpec). Five constructed
    // families over a fixed-width ref "alpha beta gamma delta %04d"
    // (L = 27, replacement chars q/j/z/w/x/y never occur in ref, so a
    // single contiguous same-length substitution leaves matching blocks
    // of exactly L - span):
    //   0: identical                 → ratio 1.0
    //   1: "beta"  → "qjqj"  (4)     → 2(L-4)/2L = 46/54 = 0.851852
    //   2: "gamma" → "qzqzq" (5)     → 44/54           = 0.814815
    //   3: ref + " qzwxy"    (+6)    → 2L/(2L+6) = 54/60 = 0.9
    //   4: ref = 'ab ' x 80 stripped (239 chars), hyp = 'z ' + ref
    //      (241 ≥ 200): autojunk FIRES — a/b/space are >1% popular, so
    //      they cannot SEED a match, and the 'z' prefix blocks the
    //      zero-seed extension path — ratio 0.0 despite 239 shared
    //      chars (CPython-verified; identical strings would still read
    //      1.0 because popular chars can extend an empty seed).
    "q33_seqsim" -> Query((s, dir) => {
      val normUdf = udf((t: String) => textnorm.TextNorm.normalize(t))
      val ssUdf = udf((a: String, b: String) => metrics.Metrics.sequenceSimilarity(a, b))
      val m = pmod(col("doc_id"), lit(5))
      val idp = lpad(col("doc_id").cast("string"), 4, "0")
      val ref0 = concat(lit("alpha beta gamma delta "), idp)
      val rep = concat_ws("", array_repeat(lit("ab "), 80))
      val ref = when(m === 4, rep).otherwise(ref0)
      val hyp = when(m === 0, ref0)
        .when(m === 1, concat(lit("alpha qjqj gamma delta "), idp))
        .when(m === 2, concat(lit("alpha beta qzqzq delta "), idp))
        .when(m === 3, concat(ref0, lit(" qzwxy")))
        .otherwise(concat(lit("z "), rep))
      docs(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"), normUdf(ref).as("ref_n"), normUdf(hyp).as("hyp_n"))
        .select(col("doc_id"),
          round(ssUdf(col("ref_n"), col("hyp_n")), 6).as("seq_sim"))
    },
      // q33: the hand-derived difflib closed forms (see the query comment;
      // CPython-verified): single same-length substitutions give
      // 2(L-span)/2L over L = 27, the append family 2L/(2L+6), and the
      // autojunk family 0.0.
      """SELECT doc_id,
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 1.0 WHEN 1 THEN 0.851852 WHEN 2 THEN 0.814815
        |    WHEN 3 THEN 0.9 ELSE 0.0 END AS seq_sim
        |FROM documents WHERE doc_id < 50""".stripMargin),

    // §3.3 full evaluation pipeline, ORACLED end to end (was rows-only
    // through round 3): q181's constructed pages run the REAL extract →
    // detail → summary chain; the prediction side perturbs every 4th
    // document's markdown with a single same-length substitution
    // ("enough" → "qjqjqj", q/j never occur in the page text), so every
    // detail metric is a closed form over the normalized golden —
    // cer = 6/L, wer = 1/n_tok, word_acc = (n_tok-1)/n_tok,
    // seq_sim = (L-6)/L (single-substitution difflib, see q33), table
    // metrics 0 (no tables) — and the summary's exact-decimal means
    // replay in DuckDB with the q40 aggregation shape.
    //
    // No persist: goldens and preds both branch off the extraction
    // frame, so the expression runs once per branch — accepted (in
    // production the branches read the MATERIALIZED extraction table;
    // see round-3 note). detail() places its own broadcast hints.
    "q31_eval_pipeline" -> Query((s, dir) => {
      val html = boilerplatePage(col("doc_id"))
      val pages = docs(s, dir).filter(col("doc_id") < 50).select(
        concat(lit("http://x.example/p"), col("doc_id")).as("url"),
        encode(html, "UTF-8").as("html"),
        col("doc_id"))
      val extracted = graft.extract.ExtractJob.extractedDf(pages).select(
        col("url"), col("extracted.status").as("status"),
        col("extracted.markdown").as("markdown"), col("doc_id"))
      val goldens = extracted.select(col("url"), col("markdown").as("g_markdown"))
      val preds = extracted.withColumn("markdown",
        when(pmod(col("doc_id"), lit(4)) === 0,
          regexp_replace(col("markdown"), "enough", "qjqjqj"))
          .otherwise(col("markdown")))
        .select(col("url"), col("status"), col("markdown"))
      val det = graft.jobs.EvalJob.detail(preds, goldens)
      graft.jobs.EvalJob.summary(det)
    },
      // q31: the eval summary replayed with the q40 exact-decimal shape
      // over the closed-form detail metrics — perturbed rows (doc_id%4=0)
      // carry cer 6/L, wer 1/n, word_acc (n-1)/n, seq_sim (L-6)/L on the
      // normalized golden stated below; table metrics are 0 (no tables).
      """WITH g AS (
        |  SELECT doc_id,
        |    '# title ' || doc_id || chr(10) || 'hello world ' || doc_id
        |      || ' with enough words to be content here today.' || chr(10)
        |      || 'second paragraph ' || doc_id
        |      || ' also has plenty of real sentence text to keep.' AS norm,
        |    doc_id % 4 = 0 AS perturbed
        |  FROM documents WHERE doc_id < 50),
        |d AS (
        |  SELECT
        |    CASE WHEN perturbed THEN round(6.0 / length(norm), 6) ELSE 0.0 END AS cer,
        |    CASE WHEN perturbed THEN round(1.0 / len(regexp_split_to_array(norm, '\s+')), 6)
        |         ELSE 0.0 END AS wer,
        |    CASE WHEN perturbed THEN round((len(regexp_split_to_array(norm, '\s+')) - 1)::DOUBLE
        |           / len(regexp_split_to_array(norm, '\s+')), 6)
        |         ELSE 1.0 END AS word_acc,
        |    CASE WHEN perturbed THEN round((length(norm) - 6)::DOUBLE / length(norm), 6)
        |         ELSE 1.0 END AS seq_sim
        |  FROM g)
        |SELECT CAST(count(*) AS BIGINT) AS total,
        |  CAST(count(*) AS BIGINT) AS successes,
        |  1.0 AS success_rate,
        |  round(CAST(sum(CAST(cer AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS mean_cer,
        |  round(CAST(sum(CAST(wer AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS mean_wer,
        |  round(CAST(sum(CAST(word_acc AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS mean_word_acc,
        |  0.0 AS mean_table_acc,
        |  round(CAST(sum(CAST(seq_sim AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS mean_seq_sim,
        |  0.0 AS mean_row_acc, 0.0 AS mean_col_acc, 0.0 AS mean_cell_acc
        |FROM d""".stripMargin),

    // §3.3 summary stage, ORACLED (q31's rows-only summary runs over the
    // non-SQL-expressible extraction kernels; this twin feeds the REAL
    // EvalJob.summary a detail-shaped frame whose metric values are
    // SQL-replayable — cer/wer/word_acc from the q21 closed-form shape,
    // the table/sequence metrics as single-division functions of doc_id,
    // failed rows imputed with the reference's worst-case values
    // (eval.py:290-301) — so the success-filtered means + fallbacks
    // aggregation (eval.py:305-319) is checked bit-for-bit by DuckDB)
    "q40_eval_summary" -> Query((s, dir) => {
      val toks = split(trim(col("text")), "\\s+")
      val nTok = size(toks).cast("double")
      val nVal = size(filter(toks, t => t === "value")).cast("double")
      val hyp = perturbValueTokens(col("text"))
      val ok = col("doc_id") % 4 =!= 0
      def m(mod: Int) = round((col("doc_id") % mod).cast("double") / mod, 6)
      val detailLike = docs(s, dir).filter(col("doc_id") < 50)
        .select(
          concat(lit("u"), col("doc_id")).as("url"),
          ok.as("success"),
          when(ok, round(levenshtein(trim(col("text")), trim(hyp)).cast("double")
            / length(trim(col("text"))), 6)).otherwise(1d).as("cer"),
          when(ok, round(nVal / nTok, 6)).otherwise(1d).as("wer"),
          when(ok, round((nTok - nVal) / nTok, 6)).otherwise(0d).as("word_acc"),
          when(ok, m(7)).otherwise(0d).as("table_acc"),
          when(ok, m(5)).otherwise(0d).as("seq_sim"),
          when(ok, m(3)).otherwise(0d).as("row_acc"),
          when(ok, m(9)).otherwise(0d).as("col_acc"),
          when(ok, m(11)).otherwise(0d).as("cell_acc"))
      graft.jobs.EvalJob.summary(detailLike)
    }, {
      // q40: replay of EvalJob.summary — exact decimal sums over the
      // success rows, one double division each, reference fallbacks when no
      // row succeeded. Detail metrics replay the q21 closed forms.
      val sTok = """regexp_split_to_array(trim(text), '\s+')"""
      val sVal = s"""len(list_filter($sTok, t -> t = 'value'))"""
      def mod(m: Int) = s"round((doc_id % $m)::DOUBLE / $m, 6)"
      def mean(c: String, fb: String) =
        s"round(coalesce(CAST(sum(CASE WHEN success THEN CAST($c AS DECIMAL(28,6)) END) AS DOUBLE)" +
          s" / count(CASE WHEN success THEN 1 END), $fb), 6) AS mean_$c"
      raw"""WITH p AS (
         |  SELECT doc_id, text, doc_id % 4 <> 0 AS success,
         |    regexp_replace(
         |      regexp_replace(text, '(^|[ \t\n\r])value([ \t\n\r]|${"$"})', '\1worth\2', 'g'),
         |      '(^|[ \t\n\r])value([ \t\n\r]|${"$"})', '\1worth\2', 'g') AS hyp
         |  FROM documents WHERE doc_id < 50),
         |d AS (
         |  SELECT success,
         |    CASE WHEN success THEN round(levenshtein(trim(text), trim(hyp))::DOUBLE
         |      / length(trim(text)), 6) ELSE 1.0 END AS cer,
         |    CASE WHEN success THEN round($sVal::DOUBLE / len($sTok), 6) ELSE 1.0 END AS wer,
         |    CASE WHEN success THEN round((len($sTok) - $sVal)::DOUBLE / len($sTok), 6) ELSE 0.0 END AS word_acc,
         |    CASE WHEN success THEN ${mod(7)} ELSE 0.0 END AS table_acc,
         |    CASE WHEN success THEN ${mod(5)} ELSE 0.0 END AS seq_sim,
         |    CASE WHEN success THEN ${mod(3)} ELSE 0.0 END AS row_acc,
         |    CASE WHEN success THEN ${mod(9)} ELSE 0.0 END AS col_acc,
         |    CASE WHEN success THEN ${mod(11)} ELSE 0.0 END AS cell_acc
         |  FROM p)
         |SELECT count(*) AS total,
         |  count(CASE WHEN success THEN 1 END) AS successes,
         |  round(count(CASE WHEN success THEN 1 END)::DOUBLE / count(*), 6) AS success_rate,
         |  ${mean("cer", "1.0")}, ${mean("wer", "1.0")},
         |  ${mean("word_acc", "0.0")}, ${mean("table_acc", "0.0")},
         |  ${mean("seq_sim", "0.0")}, ${mean("row_acc", "0.0")},
         |  ${mean("col_acc", "0.0")}, ${mean("cell_acc", "0.0")}
         |FROM d""".stripMargin
    }),

    // X5 schema-guided field harvest, ORACLED (was rows-only through
    // round 3): constructed pages drive the real extract → markdown →
    // FieldExtractor chain through three harvest paths with stated
    // key/value closed forms — a pipe table (header cell → first data
    // row), a `Col A: value` line, and a no-match page that must yield
    // null and drop. The oracle states fields_json verbatim per doc_id.
    "q32_fields" -> Query((s, dir) => {
      val schema = """{"type":"object","properties":{"Col A":{"type":"string"},"Col B":{"type":"string"},"missing key":{"type":"string"}}}"""
      val fieldsUdf = udf((md: String) =>
        graft.fields.FieldExtractor.extractFields(md, schema).orNull)
      val m = pmod(col("doc_id"), lit(3))
      val mid = when(m === 0, concat(
          lit("<table><tr><th>Col A</th><th>Col B</th></tr><tr><td>a"),
          col("doc_id"), lit("</td><td>b"), col("doc_id"),
          lit("</td></tr></table>")))
        .when(m === 1, concat(
          lit("<p>Col A: value "), col("doc_id"), lit("</p>")))
        .otherwise(lit(""))
      val html = boilerplatePage(col("doc_id"), mid)
      val pages = docs(s, dir).filter(col("doc_id") < 90).select(
        concat(lit("http://x.example/f"), col("doc_id")).as("url"),
        encode(html, "UTF-8").as("html"))
      graft.extract.ExtractJob.extractedDf(pages)
        .filter(col("extracted.status") === "ok")
        .select(col("url"), fieldsUdf(col("extracted.markdown")).as("fields"))
        .select(col("url"), to_json(col("fields")).as("fields_json"))
        .filter(col("fields_json").isNotNull)
    },
      // q32: fields_json stated verbatim per family — table harvest gives
      // both columns, the kv-line family only Col A, the no-match family
      // drops (null filter).
      """SELECT 'http://x.example/f' || doc_id AS url,
        |  CASE WHEN doc_id % 3 = 0
        |       THEN '{"Col A":"a' || doc_id || '","Col B":"b' || doc_id || '"}'
        |       ELSE '{"Col A":"value ' || doc_id || '"}' END AS fields_json
        |FROM documents WHERE doc_id < 90 AND doc_id % 3 <> 2""".stripMargin),

    // A10: per-partition lineage checksum (north_rule). Plan shape is the
    // production one (hash-partition key, groupBy, count + bit_xor fold);
    // the hash is the portable base-131/affine family instead of the
    // xxhash64 the real ExtractJob lineage uses, so the checksum itself is
    // oracle-verified cross-engine (xxhash64 has no DuckDB equivalent).
    "q22_lineage" -> Query((s, dir) => {
      // Scala UDF, not a Catalyst HOF fold: aggregate(transform(split))
      // allocates a per-character array per row and regressed this query
      // 2.4x (0.40s → 0.97s at sf0.1). The UDF computes the identical
      // portable base-131 polynomial (codepoint fold — matching the
      // oracle's split('')+ascii, which yields codepoints), so the DuckDB
      // replay is unchanged. The real ExtractJob lineage uses xxhash64;
      // this portable family exists only so the checksum itself is
      // oracle-verified cross-engine.
      val docHashUdf = udf { (text: String, docId: Long) =>
        val th = graft.ops.Dedup.polyHash(if (text == null) "" else text)
        (th * 1103515245L + docId) % 2147483647L
      }
      docs(s, dir)
        .withColumn("part_id",
          pmod((col("doc_id") * 1103515245L + 12345L) % 2147483647L, lit(8)).cast("int"))
        .withColumn("dh", docHashUdf(col("text"), col("doc_id").cast("long")))
        .groupBy(col("part_id")).agg(
          count(lit(1)).as("row_count"),
          expr("bit_xor(dh)").as("checksum"))
    },
      // q22: portable lineage hash (see the query's comment)
      raw"""SELECT part_id, count(*) AS row_count, bit_xor(dh) AS checksum FROM (
        |  SELECT CAST(((doc_id * 1103515245 + 12345) % 2147483647) % 8 AS INT) AS part_id,
        |    (${polyHashSql("text")} * 1103515245 + doc_id) % 2147483647 AS dh
        |  FROM documents)
        |GROUP BY part_id""".stripMargin),

    // Embedded-image harvest (scanned-document leg), ORACLED end-to-end:
    // each doc_id deterministically becomes a real PDF (PdfWriter) whose
    // image inventory — count, codecs, dimensions, payload sizes — is a
    // closed-form function of doc_id; the Spark side runs the REAL
    // write→parse→harvest pipeline (PdfImages.imagesDf over PdfParser
    // .extractImages) and DuckDB recomputes the same inventory from the
    // formulas, so any drift in codec classification, filter stripping,
    // or byte passthrough breaks the hash. Codec payloads (DCT/JPX/CCITT)
    // must arrive byte-count-identical (shipped undecoded); raw samples
    // must survive a Flate round-trip at exactly width*height*3 bytes.
    "q41_pdf_images" -> Query((s, dir) => {
      val build = udf((docId: Long) => syntheticImagePdf(docId))
      val pages = docs(s, dir).filter(col("doc_id") < 40)
        .select(col("doc_id"), build(col("doc_id")).as("payload"))
      graft.extract.PdfImages.imagesDf(pages, urlCol = "doc_id")
        .select(col("doc_id"), col("page").cast("long"), col("img_name"),
          col("format"), col("width").cast("long"), col("height").cast("long"),
          col("color_space"), col("bits").cast("long"),
          length(col("data")).cast("long").as("nbytes"))
    },
      // q41: replay the closed-form image inventory (see syntheticImagePdf)
      """WITH ex AS (
        |  SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS j
        |  FROM documents WHERE doc_id < 40)
        |SELECT doc_id,
        |  CAST(0 AS BIGINT) AS page,
        |  'Im' || CAST(j AS VARCHAR) AS img_name,
        |  CASE (doc_id + j) % 4 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'raw'
        |    WHEN 2 THEN 'jp2' ELSE 'ccitt' END AS format,
        |  8 + (doc_id * 5 + j * 3) % 24 AS width,
        |  4 + (doc_id * 3 + j) % 16 AS height,
        |  CASE WHEN (doc_id + j) % 4 = 3 THEN 'DeviceGray' ELSE 'DeviceRGB' END AS color_space,
        |  CAST(CASE WHEN (doc_id + j) % 4 = 3 THEN 1 ELSE 8 END AS BIGINT) AS bits,
        |  CAST(CASE (doc_id + j) % 4
        |    WHEN 0 THEN 64 + (doc_id * 13 + j * 7) % 100
        |    WHEN 1 THEN (8 + (doc_id * 5 + j * 3) % 24) * (4 + (doc_id * 3 + j) % 16) * 3
        |    WHEN 2 THEN 32 + (doc_id * 7 + j) % 64
        |    ELSE 16 + (doc_id * 11 + j * 5) % 32 END AS BIGINT) AS nbytes
        |FROM ex""".stripMargin),

    // Gopher-style repetition filters (Rae et al. 2021 §A1.1), ORACLED:
    // the multi-line view is constructed identically on both sides (line 1
    // repeated doc_id%3 extra times), then BOTH engines compute the stats
    // GENERICALLY — distinct-line counting, per-gram grouping, top-gram
    // tiebreak (count desc, gram asc) — so the kernel is checked against
    // an independent SQL implementation, not a closed form. Narrow per-row
    // kernel: no shuffle at any scale.
    "q43_repetition" -> Query((s, dir) => {
      val rep = udf((ld: String, t: String) => graft.ops.TextOps.repetitionStats(ld, t))
      val l1 = substring(col("text"), 1, 60)
      val l2 = substring(col("text"), 61, 60)
      val rep1 = concat(l1, lit("\n"))
      val extra = when(col("doc_id") % 3 === 1, rep1)
        .when(col("doc_id") % 3 === 2, concat(rep1, rep1))
        .otherwise(lit(""))
      val ld = concat(l1, lit("\n"), l2, lit("\n"), extra)
      docs(s, dir).filter(col("doc_id") < 60)
        .select(col("doc_id"), rep(ld, col("text")).as("r"))
        .select(col("doc_id"), col("r.dup_line_frac"), col("r.dup_line_char_frac"),
          col("r.top_2gram_frac"), col("r.top_3gram_frac"),
          (col("r.dup_line_frac") <= 0.3 && col("r.top_2gram_frac") <= 0.2 &&
            col("r.top_3gram_frac") <= 0.18).as("gopher_pass"))
    },
      // q43: independent generic SQL implementation of the repetition stats
      """WITH base AS (
        |  SELECT doc_id, trim(text) AS t,
        |    substr(text, 1, 60) || chr(10) || substr(text, 61, 60) || chr(10) ||
        |      repeat(substr(text, 1, 60) || chr(10), CAST(doc_id % 3 AS INT)) AS ld
        |  FROM documents WHERE doc_id < 60),
        |lc AS (
        |  SELECT doc_id, line, count(*) AS cnt FROM (
        |    SELECT doc_id, unnest(list_filter(split(ld, chr(10)), l -> l <> '')) AS line
        |    FROM base)
        |  GROUP BY 1, 2),
        |ls AS (
        |  SELECT doc_id,
        |    round(1 - count(*)::DOUBLE / sum(cnt), 6) AS dup_line_frac,
        |    round(sum((cnt - 1) * length(line))::DOUBLE / sum(cnt * length(line)), 6) AS dup_line_char_frac
        |  FROM lc GROUP BY doc_id),
        |w AS (SELECT doc_id, t, regexp_split_to_array(t, '[ \t\n\r]+') AS ws FROM base),
        |g2 AS (
        |  SELECT doc_id, round(cnt * length(g)::DOUBLE / length(t), 6) AS f FROM (
        |    SELECT doc_id, t, g, count(*) AS cnt,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, g ASC) AS rn
        |    FROM (SELECT doc_id, t, unnest([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))]) AS g
        |          FROM w WHERE len(ws) >= 2)
        |    GROUP BY doc_id, t, g) WHERE rn = 1),
        |g3 AS (
        |  SELECT doc_id, round(cnt * length(g)::DOUBLE / length(t), 6) AS f FROM (
        |    SELECT doc_id, t, g, count(*) AS cnt,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, g ASC) AS rn
        |    FROM (SELECT doc_id, t,
        |            unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] FOR i IN range(1, len(ws) - 1)]) AS g
        |          FROM w WHERE len(ws) >= 3)
        |    GROUP BY doc_id, t, g) WHERE rn = 1)
        |SELECT b.doc_id, ls.dup_line_frac, ls.dup_line_char_frac,
        |  coalesce(g2.f, 0) AS top_2gram_frac, coalesce(g3.f, 0) AS top_3gram_frac,
        |  (ls.dup_line_frac <= 0.3 AND coalesce(g2.f, 0) <= 0.2
        |    AND coalesce(g3.f, 0) <= 0.18) AS gopher_pass
        |FROM base b
        |JOIN ls ON b.doc_id = ls.doc_id
        |LEFT JOIN g2 ON b.doc_id = g2.doc_id
        |LEFT JOIN g3 ON b.doc_id = g3.doc_id""".stripMargin),

    // PII redaction (C4/RefinedWeb-style), ORACLED: PII is injected
    // deterministically on both sides (emails/phone/IPv4, multiplicity and
    // a clean slice varying by doc_id), then both engines redact with the
    // same RE2-safe patterns and count matches. Pure codegen'd
    // regexp_replace chain — no UDF, no shuffle.
    "q44_pii_redact" -> Query((s, dir) => {
      val base = substring(col("text"), 1, 40)
      val em = concat(lit(" mail user"), col("doc_id").cast("string"), lit("@ex"),
        (col("doc_id") % 5).cast("string"), lit(".com"))
      val ph = concat(lit(" tel 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val ip = concat(lit(" ip 10."), (col("doc_id") % 256).cast("string"), lit(".0."),
        (col("doc_id") % 100).cast("string"))
      val injected = when(col("doc_id") % 5 === 0, base)
        .otherwise(concat(base, em,
          when(col("doc_id") % 2 === 1, em).otherwise(lit("")),
          ph, ip, lit(" end")))
      docs(s, dir).filter(col("doc_id") < 80)
        .select(col("doc_id"), injected.as("t"))
        .select(col("doc_id"),
          graft.ops.TextOps.redactPii(col("t")).as("redacted"),
          graft.ops.TextOps.piiCounts(col("t")).as("p"))
        .select(col("doc_id"), col("redacted"),
          col("p.n_emails"), col("p.n_phones"), col("p.n_ips"))
    },
      // q44: identical injection + RE2 redaction with the 'g' flag
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN substr(text, 1, 40)
        |    ELSE substr(text, 1, 40)
        |      || ' mail user' || doc_id || '@ex' || (doc_id % 5) || '.com'
        |      || CASE WHEN doc_id % 2 = 1
        |           THEN ' mail user' || doc_id || '@ex' || (doc_id % 5) || '.com'
        |           ELSE '' END
        |      || ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' ip 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
        |      || ' end' END AS t
        |  FROM documents WHERE doc_id < 80)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(t, '\b\d{3}-\d{4}\b'))::BIGINT AS n_phones,
        |  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips
        |FROM base""".stripMargin),

    // Near-dup cluster resolution, ORACLED: connected components over a
    // deterministic pair graph (7-id stars bridged into longer chains by
    // every-13th edges) — Spark computes them by iterative min-label
    // propagation, DuckDB INDEPENDENTLY by a recursive-CTE transitive
    // closure; matching (id, component) for every node proves convergence
    // to the true components, not just a fixpoint of the iteration.
    "q47_components" -> Query((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 200).select(col("doc_id"))
      val star = d.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id").as("src"), (col("doc_id") - col("doc_id") % 7).as("dst"))
      val bridge = d.filter(col("doc_id") % 13 === 0 && col("doc_id") > 0)
        .select(col("doc_id").as("src"), (col("doc_id") - 1).as("dst"))
      graft.ops.Curation.connectedComponents(star.union(bridge))
        .select(col("id"), col("comp").as("component"))
    },
      // q47: transitive closure via recursive CTE — an independent CC
      // algorithm (the Spark side iterates min-label propagation)
      """WITH RECURSIVE base AS (
        |  SELECT doc_id FROM documents WHERE doc_id < 200),
        |ed AS (
        |  SELECT doc_id AS src, doc_id - doc_id % 7 AS dst FROM base WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id, doc_id - 1 FROM base WHERE doc_id % 13 = 0 AND doc_id > 0),
        |e AS (SELECT src AS a, dst AS b FROM ed UNION SELECT dst, src FROM ed),
        |reach AS (
        |  SELECT a AS id, a AS r FROM e
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b)
        |SELECT id, min(r) AS component FROM reach GROUP BY id""".stripMargin),

    // Context-window chunking, ORACLED: 40-token chunks with 8-token
    // overlap; DuckDB replays the slicing arithmetic over the same
    // whitespace tokens. Narrow: split + transform + explode, no shuffle.
    "q48_chunking" -> Query((s, dir) => {
      docs(s, dir).filter(col("doc_id") < 60)
        .withColumn("ws", split(trim(col("text")), "[ \t\n\r]+"))
        .select(col("doc_id"),
          explode(graft.ops.TextOps.chunkTokens(col("ws"), 40, 8)).as("c"))
        .select(col("doc_id"), col("c.chunk_idx").cast("long").as("chunk_idx"),
          col("c.n_tokens"), col("c.chunk_text"))
    },
      // q48: same slicing arithmetic over the same whitespace tokens
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\r]+') AS ws
        |  FROM documents WHERE doc_id < 60),
        |x AS (
        |  SELECT doc_id, ws, len(ws) AS n,
        |    unnest(range(CASE WHEN len(ws) <= 40 THEN 1
        |      ELSE CAST(ceil((len(ws) - 40)::DOUBLE / 32) AS INT) + 1 END)) AS ci
        |  FROM w)
        |SELECT doc_id, ci::BIGINT AS chunk_idx,
        |  least(40, n - ci * 32)::BIGINT AS n_tokens,
        |  array_to_string(ws[ci * 32 + 1 : least(ci * 32 + 40, n)], ' ') AS chunk_text
        |FROM x""".stripMargin),

    // As-of join (temporal operator Spark lacks natively), ORACLED against
    // DuckDB's native ASOF JOIN — a genuinely independent implementation.
    // Spark shape: union-tag + ONE window pass per key (one shuffle, no
    // range/theta join, no pair blowup) — the log-merge formulation that
    // survives 10^9 rows; fixture has no (user_id, ts) dups so the match
    // is deterministic on both engines.
    "q45_asof" -> Query((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("prior_event_id"), col("value").as("prior_value"))
      graft.ops.Temporal.asOfJoin(clicks, views, "user_id", "ts",
          Seq("prior_event_id", "prior_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"), // NTZ fixture, UTC session
          col("asof_prior_event_id").as("prior_event_id"),
          col("asof_prior_value").as("prior_value"))
    },
      // q45: DuckDB's native ASOF JOIN as the independent implementation
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
        |  r.prior_event_id, r.prior_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
        |ASOF JOIN (SELECT user_id, ts, event_id AS prior_event_id, value AS prior_value
        |           FROM events WHERE event_type = 'view') r
        |ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin),

    // Range-join count, ORACLED against a plain DuckDB range join: for
    // each error event, purchases by the same user within ±10 minutes.
    // Spark shape: tolerance-width time bins + 3-bin probe EQUI-join +
    // exact predicate — one hash-join shuffle, never a nested loop.
    "q46_range_join" -> Query((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val errors = ev.where(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      graft.ops.Temporal.rangeJoinCount(errors, purchases, "user_id", "ts",
          600000000L) // 10 min in micros
        .select(col("event_id"), col("user_id"), col("cnt"))
    },
      // q46: plain range join (fine at oracle scale; the Spark side must
      // reach the same counts via the binned equi-join)
      """SELECT l.event_id, l.user_id, count(r.user_id)::BIGINT AS cnt
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') l
        |LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND abs(epoch_us(l.ts) - epoch_us(r.ts)) <= 600000000
        |GROUP BY l.event_id, l.user_id""".stripMargin),

    // Scanned-vs-text split, ORACLED: the same synthetic corpus through
    // the REAL Extractor — text-bearing docs come out status='ok', the
    // image-only slice (doc_id % 7 == 0) must be labeled pdf_image_only
    // (routed to the vision/OCR leg), never pdf_no_text or a crash.
    "q42_scanned_split" -> Query((s, dir) => {
      val build = udf((docId: Long) => syntheticImagePdf(docId))
      val ext = udf { (payload: Array[Byte]) =>
        val e = graft.extract.Extractor.extract("synthetic.pdf", payload)
        (e.status, if (e.error == null) "" else e.error)
      }
      docs(s, dir).filter(col("doc_id") < 40)
        .select(ext(build(col("doc_id"))).as("e"))
        .groupBy(col("e._1").as("status"), col("e._2").as("error"))
        .agg(count(lit(1)).as("cnt"))
    },
      // q42: the doc_id % 7 == 0 slice is image-only by construction
      """SELECT CASE WHEN doc_id % 7 = 0 THEN 'error' ELSE 'ok' END AS status,
        |  CASE WHEN doc_id % 7 = 0 THEN 'pdf_image_only' ELSE '' END AS error,
        |  count(*) AS cnt
        |FROM documents WHERE doc_id < 40 GROUP BY 1, 2""".stripMargin),

    // Benchmark decontamination, ORACLED: the doc_id % 17 == 0 slice
    // plays the eval benchmark; every other doc is checked for shared
    // word 5-grams. Scale shape (asserted in PlanSpec): the corpus is
    // never shuffled — benchmark n-gram hashes are broadcast, the only
    // exchange is the per-doc hit-count aggregate over hits.
    "q49_decontam" -> Query((s, dir) => {
      val d = docs(s, dir)
      val corpus = d.filter(col("doc_id") % 17 =!= 0)
      val bench = d.filter(col("doc_id") % 17 === 0)
      val hits = graft.ops.Curation.contaminationHits(
        corpus, "doc_id", "text", bench, "text", k = 5)
      corpus.select(col("doc_id"))
        .join(hits.select(col("id").as("doc_id"), col("n_hits")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) === 0L).as("kept"))
    },
      // q49: same 5-gram shingling + base-131 polynomial hash + benchmark
      // membership, replayed independently (the q27 shingle/hash SQL family)
      raw"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0),
        |bench AS (SELECT text FROM documents WHERE doc_id % 17 = 0),
        |cw AS (SELECT doc_id,
        |    $wordsSql AS w
        |  FROM corpus),
        |bw AS (SELECT
        |    $wordsSql AS w
        |  FROM bench),
        |csh AS (SELECT doc_id, list_distinct(
        |    ${wordShinglesSql(5)}) AS sh FROM cw),
        |bsh AS (SELECT list_distinct(
        |    ${wordShinglesSql(5)}) AS sh FROM bw),
        |bh AS (SELECT DISTINCT
        |    ${polyHashSql("sg")} AS ngh
        |  FROM (SELECT unnest(sh) AS sg FROM bsh)),
        |ch AS (SELECT doc_id,
        |    ${polyHashSql("sg")} AS ngh
        |  FROM (SELECT doc_id, unnest(sh) AS sg FROM csh)),
        |hits AS (SELECT doc_id, count(*)::BIGINT AS n_hits FROM ch JOIN bh USING (ngh)
        |  GROUP BY doc_id)
        |SELECT c.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
        |  coalesce(h.n_hits, 0) = 0 AS kept
        |FROM corpus c LEFT JOIN hits h USING (doc_id)""".stripMargin),

    // Greedy sequence packing, ORACLED: docs packed into 1200-char
    // context windows across 8 deterministic hash streams; DuckDB replays
    // the entire greedy fold with a recursive CTE (an independent
    // sequential formulation of the same policy).
    "q50_packing" -> Query((s, dir) => {
      graft.ops.Curation.packGreedy(
          docs(s, dir).select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", capacity = 1200L, streams = 8)
        .select(col("id").as("doc_id"), col("stream").cast("long").as("stream"),
          col("pack_seq"), col("pack_pos"), col("n_tokens"))
    },
      // q50: the identical greedy fold, as a sequential recursive CTE per
      // stream — an independent formulation of the same packing policy
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, n_chars,
        |    ((doc_id * 1103515245 + 12345) % 2147483647) % 8 AS stream,
        |    (doc_id * 1234567891 + 987654321) % 2147483647 AS ord
        |  FROM documents),
        |r AS (SELECT doc_id, n_chars, stream, ord,
        |    row_number() OVER (PARTITION BY stream ORDER BY ord, doc_id) AS rn
        |  FROM d),
        |p AS (
        |  SELECT doc_id, n_chars, stream, rn,
        |    0::BIGINT AS pack_seq, 0::BIGINT AS pack_pos, n_chars AS used
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.doc_id, r.n_chars, r.stream, r.rn,
        |    CASE WHEN p.used + r.n_chars > 1200 THEN p.pack_seq + 1 ELSE p.pack_seq END,
        |    CASE WHEN p.used + r.n_chars > 1200 THEN 0::BIGINT ELSE p.pack_pos + 1 END,
        |    CASE WHEN p.used + r.n_chars > 1200 THEN r.n_chars ELSE p.used + r.n_chars END
        |  FROM r JOIN p ON r.stream = p.stream AND r.rn = p.rn + 1)
        |SELECT doc_id, stream::BIGINT AS stream, pack_seq, pack_pos,
        |  n_chars::BIGINT AS n_tokens
        |FROM p""".stripMargin),

    // KMV distinct sketch, ORACLED: per-source distinct-token estimate
    // from the 64 minimum Carter-Wegman hash values — the SQL-replayable
    // stand-in for HLL corpus profiling. DuckDB recomputes hash → distinct
    // → rank ≤ k → (k-1)·p/h_k independently.
    "q51_kmv" -> Query((s, dir) => {
      val toks = docs(s, dir)
        .select(col("source"),
          explode(split(trim(col("text")), "[ \\t\\n\\r]+")).as("tok"))
        .filter(col("tok") =!= "")
        .select(col("source"), graft.ops.Dedup.polyHash(col("tok")).as("h"))
      graft.ops.Sketches.kmvDistinct(toks, "source", col("h"), k = 64)
    },
      // q51: hash → distinct → rank ≤ k → (k-1)·p/h_k, all in signed-64 SQL
      raw"""WITH toks AS (
        |  SELECT source, unnest(list_filter(
        |    regexp_split_to_array(trim(text), '[ \t\n\r]+'), x -> x <> '')) AS tok
        |  FROM documents),
        |h AS (SELECT source,
        |    (${polyHashSql("tok")}
        |     * 1103515245 + 12345) % 2147483647 AS kh
        |  FROM toks),
        |d AS (SELECT DISTINCT source, kh FROM h),
        |rk AS (SELECT source, kh,
        |    row_number() OVER (PARTITION BY source ORDER BY kh) AS rn FROM d)
        |SELECT source, count(*)::BIGINT AS n_kept, max(kh) AS kth_hash,
        |  CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
        |       ELSE floor(63.0 * 2147483647.0 / max(kh) * 1e6 + 0.5) / 1e6 END AS est_distinct
        |FROM rk WHERE rn <= 64 GROUP BY source""".stripMargin),

    // URL/domain curation ops, ORACLED: deterministic urls built from
    // doc_id (same CASE arithmetic in DuckDB), then host extraction,
    // registrable-domain grouping (incl. co.uk/com.au multi-part
    // suffixes), and path depth — all pure codegen'd Column DSL.
    "q52_domains" -> Query((s, dir) => {
      import graft.ops.WebOps
      val host = when(col("doc_id") % 6 === 0, lit("www.example.com"))
        .when(col("doc_id") % 6 === 1, lit("news.bbc.co.uk"))
        .when(col("doc_id") % 6 === 2, lit("example.com"))
        .when(col("doc_id") % 6 === 3, lit("a.b.site.org"))
        .when(col("doc_id") % 6 === 4, lit("shop.example.com.au"))
        .otherwise(lit("cdn.example.net"))
      val url = concat(lit("https://"), host,
        expr("repeat('/seg', cast(doc_id % 4 as int))"),
        when(col("doc_id") % 5 === 0, lit("?q=1")).otherwise(lit("")))
      docs(s, dir).select(col("doc_id"), url.as("url"))
        .select(
          WebOps.registrableDomain(WebOps.urlHost(col("url"))).as("domain"),
          WebOps.pathDepth(col("url")).as("depth"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("depth")).cast("long").as("total_depth"))
    },
      // q52: same deterministic url construction, then independent
      // host/domain/depth parsing with DuckDB string/list functions
      """WITH u AS (
        |  SELECT doc_id, 'https://' ||
        |    CASE CAST(doc_id % 6 AS INT)
        |      WHEN 0 THEN 'www.example.com' WHEN 1 THEN 'news.bbc.co.uk'
        |      WHEN 2 THEN 'example.com' WHEN 3 THEN 'a.b.site.org'
        |      WHEN 4 THEN 'shop.example.com.au' ELSE 'cdn.example.net' END ||
        |    repeat('/seg', CAST(doc_id % 4 AS INT)) ||
        |    CASE WHEN doc_id % 5 = 0 THEN '?q=1' ELSE '' END AS url
        |  FROM documents),
        |p AS (
        |  SELECT lower(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1)) AS host,
        |    len(list_filter(string_split(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)?', 1), '/'), x -> x <> '')) AS depth
        |  FROM u),
        |d2 AS (
        |  SELECT CASE WHEN len(string_split(host, '.')) <= 2 THEN host
        |    WHEN (string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]) IN
        |      ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au','org.au','co.jp',
        |       'ne.jp','or.jp','com.br','com.cn','com.mx','co.in','co.kr','co.za')
        |    THEN string_split(host, '.')[-3] || '.' || string_split(host, '.')[-2]
        |         || '.' || string_split(host, '.')[-1]
        |    ELSE string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1] END AS domain,
        |    depth
        |  FROM p)
        |SELECT domain, count(*) AS n_docs, sum(depth)::BIGINT AS total_depth
        |FROM d2 GROUP BY domain""".stripMargin),

    // Model-based quality scoring, ORACLED: fastText-style linear
    // classifier over the quality-feature block — logit (not sigmoid) so
    // the arithmetic replays bit-for-bit; keep = logit ≥ 0. Purely
    // narrow, codegen'd.
    "q53_classifier" -> Query((s, dir) => {
      docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          graft.ops.TextOps.classifierLogit(col("text")).as("logit"))
        .withColumn("keep", col("logit") >= 0d)
    },
      // q53: same rounded features as q25, then the identical fixed-order
      // dot product (left-assoc sums, multiplication first) rounded to 6dp
      """WITH f AS (SELECT doc_id,
        |    least(len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE, 500.0) / 500 AS len_f,
        |    round(length(text)::DOUBLE / len(regexp_split_to_array(trim(text), '\s+')), 4) AS mwl,
        |    round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
        |      / greatest(length(text), 1), 6) AS punct,
        |    round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE
        |      / greatest(length(text), 1), 6) AS upper
        |  FROM documents WHERE doc_id < 200),
        |l AS (SELECT doc_id,
        |    round(-2.2 + len_f * 3.0 + mwl * 0.35 + punct * -9.0 + upper * -7.0, 6) AS logit
        |  FROM f)
        |SELECT doc_id, logit, logit >= 0 AS keep FROM l""".stripMargin),

    // Duplicated-passage detection, ORACLED: per-doc fraction of distinct
    // word 5-grams occurring in ≥ 1 other document (the corpus-internal
    // exact-substring-dedup signal, Lee et al. 2022). DuckDB replays
    // shingle → hash → per-gram doc count → per-doc roll-up independently.
    "q54_dup_passages" -> Query((s, dir) => {
      graft.ops.Curation.dupPassageStats(
          docs(s, dir).filter(col("doc_id") < 300), "doc_id", "text", k = 5)
        .select(col("id").as("doc_id"), col("n_ngrams"), col("n_dup"),
          col("dup_frac"))
    },
      // q54: shingle → hash → per-gram doc count → per-doc roll-up, the
      // q49 SQL shingle/hash family turned corpus-internal
      raw"""WITH cw AS (SELECT doc_id,
        |    $wordsSql AS w
        |  FROM documents WHERE doc_id < 300),
        |sh AS (SELECT doc_id, list_distinct(
        |    ${wordShinglesSql(5)}) AS sh FROM cw),
        |ng AS (SELECT doc_id,
        |    ${polyHashSql("sg")} AS ngh
        |  FROM (SELECT doc_id, unnest(sh) AS sg FROM sh)),
        |cnt AS (SELECT ngh, count(*)::BIGINT AS ndocs FROM ng GROUP BY ngh)
        |SELECT doc_id, count(*)::BIGINT AS n_ngrams,
        |  sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
        |  round(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS dup_frac
        |FROM ng JOIN cnt USING (ngh) GROUP BY doc_id""".stripMargin),

    // CCNet paragraph dedup, ORACLED on the REWRITTEN TEXT BYTES: every
    // repeated non-empty line corpus-wide is dropped except its first
    // (doc_id, pos) occurrence; docs reassemble from surviving lines.
    // Fixture texts are single-line, so the slice is line-ified first by
    // a deterministic literal replace (' the ' → '\n') both engines run
    // identically — which also plants genuinely repeated cross-doc lines.
    "q55_paragraph_dedup" -> Query((s, dir) => {
      graft.ops.Curation.dedupParagraphs(
          docs(s, dir).filter(col("doc_id") < 120)
            .withColumn("text", expr("replace(text, ' the ', '\n')")),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("text"), col("n_kept"))
    },
      // q55: line explode → polyHash → global first-occurrence window →
      // ordered reassembly; the rewritten text is byte-compared
      raw"""WITH d AS (SELECT doc_id,
        |    string_split(replace(text, ' the ', chr(10)), chr(10)) AS ls
        |  FROM documents WHERE doc_id < 120),
        |l AS (SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos, ls FROM d),
        |ne AS (SELECT doc_id, pos, ls[pos] AS line FROM l WHERE ls[pos] <> ''),
        |h AS (SELECT doc_id, pos, line,
        |    ${polyHashSql("line")} AS ph
        |  FROM ne),
        |k AS (SELECT doc_id, pos, line,
        |    row_number() OVER (PARTITION BY ph ORDER BY doc_id, pos) AS rn FROM h)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
        |  count(*)::BIGINT AS n_kept
        |FROM k WHERE rn = 1 GROUP BY doc_id""".stripMargin),

    // Crawl snapshot delta, ORACLED: deterministic old/new slices of the
    // corpus (doc_id mod 3 / mod 5, content perturbed on mod 7) diffed by
    // md5 digest into added/removed/changed/unchanged.
    "q56_snapshot_delta" -> Query((s, dir) => {
      val d = docs(s, dir)
      val oldSnap = d.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
      val newSnap = d.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
              md5(concat(col("text"), lit("v2")).cast("binary")))
            .otherwise(md5(col("text").cast("binary"))).as("digest"))
      graft.ops.Curation.snapshotDelta(oldSnap, newSnap, "doc_id", "digest")
        .select(col("key").as("doc_id"), col("status"),
          col("old_digest"), col("new_digest"))
    },
      // q56: digest diff of two deterministic snapshot slices
      """WITH o AS (SELECT doc_id, md5(text) AS old_digest
        |  FROM documents WHERE doc_id % 3 <> 0),
        |n AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN md5(text || 'v2') ELSE md5(text) END AS new_digest
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN old_digest = new_digest THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  old_digest, new_digest
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin),

    // BM25 query relevance, ORACLED: every document scored against a
    // 4-term query (the targeted-corpus-selection step). The corpus never
    // shuffles raw text — only matched (id, term) rows ride the tf
    // exchange; df/idf and the 1-row (N, avgdl) stats are broadcast.
    // Per-term contributions quantize to integer micro-units (pure-IEEE
    // floor(x*1e6+0.5)) and sum exactly, so DuckDB replays the ranking
    // bit-for-bit at any corpus scale.
    "q57_bm25" -> Query((s, dir) => {
      graft.ops.Retrieval.bm25Scores(docs(s, dir), "doc_id", "text",
          Seq("data", "spark", "query", "merge"))
        .select(col("id").as("doc_id"), col("n_terms"), col("score"))
    },
      // q57: independent BM25 — token explode, tf/df over the query terms,
      // Lucene idf; per-term scores quantized to integer micro-units via
      // floor(x*1e6 + 0.5) (pure IEEE, replays on any engine — unlike
      // round(double, 6), whose HALF_UP-vs-float boundary behavior differs
      // between Spark and DuckDB) and summed exactly
      """WITH d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '[ \t\n\r]+'), x -> x <> '') AS w
        |  FROM documents),
        |b AS (SELECT doc_id, len(w)::BIGINT AS dl, w FROM d),
        |stats AS (SELECT count(*)::BIGINT AS n_docs, round(avg(dl), 6) AS avgdl FROM b),
        |t AS (SELECT doc_id, dl, unnest(w) AS tok FROM b),
        |tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf, max(dl) AS dl
        |  FROM t WHERE tok IN ('data','spark','query','merge') GROUP BY doc_id, tok),
        |idf AS (SELECT tok,
        |    floor(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * 1e6 + 0.5) / 1e6 AS idf
        |  FROM (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok), stats),
        |sc AS (SELECT doc_id,
        |    CAST(floor(idf * (tf * (1.2::DOUBLE + 1.0::DOUBLE)) /
        |      (tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE + 0.75::DOUBLE * dl / avgdl))
        |      * 1e6 + 0.5) AS BIGINT) AS sm
        |  FROM tf JOIN idf USING (tok), stats)
        |SELECT doc_id, count(*)::BIGINT AS n_terms, sum(sm) / 1e6 AS score
        |FROM sc GROUP BY doc_id""".stripMargin),

    // Bigram-LM scoring, ORACLED: docs scored by add-alpha bigram
    // negative log-likelihood under a model estimated from the
    // doc_id % 13 == 0 reference slice (the CCNet perplexity-filter
    // shape). N-grams are hashed before every exchange (8-byte keys);
    // DuckDB replays hash → counts → smoothed logprob independently.
    "q58_lm_score" -> Query((s, dir) => {
      val d = docs(s, dir)
      graft.ops.Retrieval.lmNegLogLik(
          d.filter(col("doc_id") % 13 =!= 0), "doc_id", "text",
          d.filter(col("doc_id") % 13 === 0), "text", alpha = 0.1)
        .select(col("id").as("doc_id"), col("n_bigrams"), col("nll"), col("avg_nll"))
    },
      // q58: independent bigram-LM replay — the same base-131 hash family
      // over tokens and "w1 w2" bigrams, reference counts, add-0.1
      // smoothing, 6dp logprobs summed as exact decimals
      s"""WITH $lmNllCtes
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  sum(lpm) / 1e6 AS nll,
        |  floor(sum(lpm) / count(*) + 0.5) / 1e6 AS avg_nll
        |FROM lp GROUP BY doc_id""".stripMargin),

    // PageRank, ORACLED: 5 fixed iterations over a deterministic
    // 3-out-edges-per-doc link graph, ranks kept as integer micro-units
    // (every contribution floor(d*r/deg + 0.5)-quantized) so DuckDB
    // replays the whole power iteration bit-for-bit as unrolled CTEs.
    // One shuffle pair per iteration, 8-byte rank rows only. (5, not the
    // op's default 10, purely to bound the tiny-input suite wall — each
    // iteration costs fixed per-stage overhead at local[32]; bit-exact
    // replay is what the oracle proves, not the iteration count.)
    "q59_pagerank" -> Query((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 300).select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"), ((col("doc_id") * 31 + 7) % 211).as("dst"))
        .union(d.select(col("doc_id").as("src"), ((col("doc_id") * 17 + 3) % 211).as("dst")))
        .union(d.select(col("doc_id").as("src"), ((col("doc_id") * 13 + 11) % 97).as("dst")))
      graft.ops.Graph.pageRank(edges, "src", "dst", iterations = 5)
        .select(col("id").as("doc_id"), col("rank_micro"), col("rank"))
    }, {
      // q59: the same 5 power iterations unrolled as chained CTEs —
      // integer micro-unit ranks make every iteration exactly replayable
      val iters = (1 to 5).map { k =>
        s"""pr$k AS (SELECT nd.id,
           |    CAST(floor((1 - 0.85::DOUBLE) * 1e6 / n + 0.5) AS BIGINT)
           |      + coalesce(c.contrib, 0) AS r
           |  FROM nodes nd CROSS JOIN cnt LEFT JOIN (
           |    SELECT e.dst AS id,
           |      CAST(sum(CAST(floor(0.85::DOUBLE * p.r / deg + 0.5) AS BIGINT)) AS BIGINT) AS contrib
           |    FROM e JOIN deg USING (src) JOIN pr${k - 1} p ON p.id = e.src
           |    GROUP BY e.dst) c ON c.id = nd.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT doc_id AS src, (doc_id * 31 + 7) % 211 AS dst FROM documents WHERE doc_id < 300
         |  UNION ALL
         |  SELECT doc_id, (doc_id * 17 + 3) % 211 FROM documents WHERE doc_id < 300
         |  UNION ALL
         |  SELECT doc_id, (doc_id * 13 + 11) % 97 FROM documents WHERE doc_id < 300),
         |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
         |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |cnt AS (SELECT count(*)::BIGINT AS n FROM nodes),
         |pr0 AS (SELECT id, CAST(floor(1e6 / n + 0.5) AS BIGINT) AS r FROM nodes CROSS JOIN cnt),
         |$iters
         |SELECT id AS doc_id, r AS rank_micro, r / 1e6 AS rank FROM pr5""".stripMargin
    }),

    // URL canonicalization, ORACLED: deterministic messy urls (mixed-case
    // scheme/host, default + non-default ports, tracking params in
    // varying order, fragments, trailing slashes) canonicalized by the
    // pure-Column-DSL kernel; DuckDB rebuilds the urls and canonicalizes
    // INDEPENDENTLY with its own regexp/list functions — byte-compared.
    "q60_url_canon" -> Query((s, dir) => {
      val host = when(col("doc_id") % 4 === 0, lit("WWW.Example.COM"))
        .when(col("doc_id") % 4 === 1, lit("news.site.org"))
        .when(col("doc_id") % 4 === 2, lit("Shop.Example.com"))
        .otherwise(lit("a.b.c.net"))
      val scheme = when(col("doc_id") % 3 === 0, lit("http://"))
        .when(col("doc_id") % 3 === 1, lit("https://"))
        .otherwise(lit("HTTP://"))
      val port = when(col("doc_id") % 3 === 0, lit(":80"))
        .when(col("doc_id") % 3 === 1, lit(":443"))
        .otherwise(lit(":8080"))
      val path = concat(expr("repeat('/Seg', cast(doc_id % 3 as int))"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")))
      val query = when(col("doc_id") % 5 === 0, lit("?utm_source=x&b=2&a=1"))
        .when(col("doc_id") % 5 === 1, lit("?a=1&utm_campaign=z"))
        .when(col("doc_id") % 5 === 2, lit("?gclid=g"))
        .when(col("doc_id") % 5 === 3, lit("?b=2&a=1"))
        .otherwise(lit(""))
      val frag = when(col("doc_id") % 7 === 0, lit("#frag")).otherwise(lit(""))
      docs(s, dir)
        .select(col("doc_id"),
          concat(scheme, host, port, path, query, frag).as("url"))
        .select(col("doc_id"), col("url"),
          graft.ops.WebOps.canonicalizeUrl(col("url")).as("canon"))
    },
      // q60: same deterministic url construction, then an INDEPENDENT
      // canonicalization with DuckDB regexp/list functions
      """WITH u AS (SELECT doc_id,
        |    (CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'http://' WHEN 1 THEN 'https://' ELSE 'HTTP://' END) ||
        |    (CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'WWW.Example.COM' WHEN 1 THEN 'news.site.org'
        |      WHEN 2 THEN 'Shop.Example.com' ELSE 'a.b.c.net' END) ||
        |    (CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN ':80' WHEN 1 THEN ':443' ELSE ':8080' END) ||
        |    repeat('/Seg', CAST(doc_id % 3 AS INT)) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
        |    (CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN '?utm_source=x&b=2&a=1'
        |      WHEN 1 THEN '?a=1&utm_campaign=z' WHEN 2 THEN '?gclid=g'
        |      WHEN 3 THEN '?b=2&a=1' ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
        |    regexp_extract(url, '\?([^#]*)', 1) AS rawq
        |  FROM u),
        |c2 AS (SELECT doc_id, url, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         ELSE hostport END AS host,
        |    CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
        |         ELSE regexp_replace(rawpath, '/+$', '') END AS path,
        |    list_sort(list_filter(string_split(rawq, '&'), p -> p <> '' AND
        |      NOT regexp_matches(p, '^(utm_[a-z0-9_]+|gclid|fbclid|msclkid|ref)='))) AS kept
        |  FROM c)
        |SELECT doc_id, url,
        |  CASE WHEN scheme = '' THEN ''
        |       ELSE scheme || '://' || host || path ||
        |         (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END)
        |  END AS canon
        |FROM c2""".stripMargin),

    // k-means embedding clustering (SemDeDup stage), ORACLED: vectors
    // quantized once to integer micro-units, after which every distance
    // is EXACT 64-bit integer arithmetic and every centroid update an
    // exact integer sum + one floor-quantized division — 3 Lloyd rounds
    // replay bit-for-bit as unrolled DuckDB CTEs. Centroids are a k-row
    // broadcast each round (the IVF probe pattern); exchanges carry only
    // (id, cid, d2) and (cid, dim, partial-sum) cells.
    "q61_kmeans" -> Query((s, dir) => {
      graft.ops.Clustering.kmeansAssign(
          embeddings(s, dir), "vec_id", "embedding", k = 8, iterations = 3)
        .select(col("id").as("vec_id"), col("cid"), col("d2"))
    },
      // q61: the same 3 Lloyd rounds unrolled — micro-unit integer vectors
      // make distances and centroid updates exact on any engine
      s"""WITH $kmeansCtes
         |SELECT id AS vec_id, cid, d2 FROM a3""".stripMargin),

    // Exact per-source length quantiles, ORACLED: the profiling step
    // that picks filter thresholds. Type-1 quantile at rank
    // floor((n-1)q)+1 under a total (value, doc_id) order — exact and
    // deterministic, unlike percentile_approx. One key exchange, then
    // partition-LOCAL sorts only.
    "q62_length_quantiles" -> Query((s, dir) => {
      graft.ops.Curation.exactQuantiles(
          docs(s, dir), "source", "n_chars", "doc_id")
        .select(col("key").as("source"), col("q"), col("value"))
    },
      // q62: same type-1 quantile arithmetic over the same total order
      """WITH r AS (SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |e AS (SELECT source, n_chars, rn, n,
        |    unnest([0.0, 0.25, 0.5, 0.75, 1.0]) AS q FROM r)
        |SELECT source, q, n_chars AS value FROM e
        |WHERE rn = floor((n - 1) * q) + 1""".stripMargin),

    // Integer-exact TF-IDF keyword extraction, ORACLED: top-3 terms per
    // document under the rational RSJ idf core — the whole score is one
    // BIGINT division, so DuckDB lands on the identical longs (no ln).
    "q63_tfidf" -> Query((s, dir) => {
      graft.ops.Retrieval.tfidfTopTerms(docs(s, dir), "doc_id", "text", topK = 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("score_micro"))
    },
      // q63: the identical rational-idf BIGINT arithmetic — `//` is
      // DuckDB's integer division, matching Spark's `div` on positives
      raw"""WITH toks AS (SELECT doc_id AS id,
        |    $wordsSql AS w
        |  FROM documents),
        |n AS (SELECT count(*)::BIGINT AS n FROM toks WHERE len(w) > 0),
        |tf AS (SELECT id, tok AS term, count(*)::BIGINT AS tf
        |  FROM (SELECT id, unnest(w) AS tok FROM toks) GROUP BY 1, 2),
        |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |scored AS (SELECT id, term, tf,
        |    (tf * (2 * n.n - 2 * df.df + 1) * 1000000) // (2 * df.df + 1) AS score_micro
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (SELECT *, row_number()
        |    OVER (PARTITION BY id ORDER BY score_micro DESC, term ASC) AS rn
        |  FROM scored)
        |SELECT id AS doc_id, term, tf, CAST(score_micro AS BIGINT) AS score_micro
        |FROM ranked WHERE rn <= 3""".stripMargin),

    // Bloom-filter decontamination, ORACLED: the fixed-memory scale path
    // for q49's exact broadcast set. The filter geometry is deliberately
    // tight at this SF (8192 bits) so FALSE POSITIVES actually occur and
    // the oracle proves they replay deterministically — DuckDB rebuilds
    // the bitset as a position-set join with the same Carter-Wegman
    // constants and must agree on every over-dropped document.
    "q64_bloom_decontam" -> Query((s, dir) => {
      val d = docs(s, dir)
      graft.ops.Curation.bloomContamination(
          d.filter(col("doc_id") % 17 =!= 0), "doc_id", "text",
          d.filter(col("doc_id") % 17 === 0), "text",
          k = 5, numHashes = 3, bits = 8192)
        .select(col("id").as("doc_id"), col("n_shingles"), col("n_maybe"), col("kept"))
    },
      // q64: independent bitset rebuild — positions from the same affine
      // constants; a shingle is a "maybe" iff all 3 of its j-rows find
      // their position in the benchmark's position set (duplicate
      // positions within a shingle each match independently, mirroring
      // the per-j membership test in the Scala kernel)
      raw"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0),
        |bench AS (SELECT text FROM documents WHERE doc_id % 17 = 0),
        |cw AS (SELECT doc_id,
        |    $wordsSql AS w
        |  FROM corpus),
        |bw AS (SELECT
        |    $wordsSql AS w
        |  FROM bench),
        |csh AS (SELECT doc_id, list_distinct(
        |    ${wordShinglesSql(5)}) AS sh FROM cw),
        |bsh AS (SELECT list_distinct(
        |    ${wordShinglesSql(5)}) AS sh FROM bw),
        |hj AS (SELECT j,
        |    ((j + 1) * 1103515245 + 12345) % 2147483647 AS a,
        |    ((j + 1) * 1234567891 + 987654321) % 2147483647 AS b
        |  FROM range(3) t(j)),
        |bh AS (SELECT DISTINCT
        |    ${polyHashSql("sg")} AS ngh
        |  FROM (SELECT unnest(sh) AS sg FROM bsh)),
        |bloom AS (SELECT DISTINCT ((a * ngh + b) % 2147483647) % 8192 AS pos
        |  FROM bh CROSS JOIN hj),
        |ch AS (SELECT doc_id, sg,
        |    ${polyHashSql("sg")} AS ngh
        |  FROM (SELECT doc_id, unnest(sh) AS sg FROM csh)),
        |cpos AS (SELECT doc_id, sg, ((a * ngh + b) % 2147483647) % 8192 AS pos
        |  FROM ch CROSS JOIN hj),
        |sgm AS (SELECT doc_id, sg, count(*) AS m
        |  FROM cpos JOIN bloom USING (pos) GROUP BY 1, 2),
        |maybe AS (SELECT doc_id, count(*)::BIGINT AS n_maybe FROM sgm
        |  WHERE m = 3 GROUP BY 1)
        |SELECT c.doc_id, len(s.sh)::BIGINT AS n_shingles,
        |  coalesce(m.n_maybe, 0)::BIGINT AS n_maybe,
        |  coalesce(m.n_maybe, 0) = 0 AS kept
        |FROM corpus c JOIN csh s USING (doc_id)
        |LEFT JOIN maybe m USING (doc_id)""".stripMargin),

    // Hash-based importance resampling (DSIR-style), ORACLED: the weight
    // is an all-integer micro-unit quality score (length saturation +
    // word-length band + punctuation band, each a pure integer
    // comparison — no rounded ratios anywhere), and acceptance is
    // ticket = polyHash('rs:' || id) mod 1e6 < weight. Every row's
    // decision replays bit-for-bit in DuckDB.
    "q65_resample" -> Query((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"),
        length(col("text")).cast("long").as("__c"),
        size(split(trim(col("text")), "[ \\t\\n\\r]+")).cast("long").as("__w"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast("long").as("__p"))
        .withColumn("__wm", expr(
          """(least(__w * 20000, 1000000)
            | + (case when __w * 3 <= __c and __c <= __w * 10 then 1000000 else 500000 end)
            | + (case when __p * 10 <= __c then 1000000 else 500000 end)) div 3""".stripMargin))
      graft.ops.Curation.importanceResample(base, "doc_id", col("__wm"), salt = "rs:")
        .select(col("doc_id"), col("weight_micro"), col("ticket"), col("accepted"))
    },
      // q65: all-integer weight + the shared base-131 ticket hash
      """WITH f AS (SELECT doc_id,
        |    length(text)::BIGINT AS c,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS w,
        |    (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::BIGINT AS p
        |  FROM documents),
        |wt AS (SELECT doc_id,
        |    (least(w * 20000, 1000000)
        |     + (CASE WHEN w * 3 <= c AND c <= w * 10 THEN 1000000 ELSE 500000 END)
        |     + (CASE WHEN p * 10 <= c THEN 1000000 ELSE 500000 END)) // 3 AS weight_micro
        |  FROM f),
        |tk AS (SELECT doc_id, weight_micro,
        |    list_reduce(list_prepend(0::BIGINT, [ascii(ch)::BIGINT FOR ch IN split('rs:' || doc_id, '')]),
        |      (acc, ch) -> (acc * 131 + ch) % 2147483647) % 1000000 AS ticket
        |  FROM wt)
        |SELECT doc_id, CAST(weight_micro AS BIGINT) AS weight_micro,
        |  CAST(ticket AS BIGINT) AS ticket, ticket < weight_micro AS accepted
        |FROM tk""".stripMargin),

    // Capped inverted index, ORACLED: per-term df + top-5 postings under
    // (tf desc, id asc) — hot terms capped at the source, one exchange
    // total (tf agg, rank, df count, and the fold share the term
    // partitioning; PlanSpec-pinned).
    "q66_inverted_index" -> Query((s, dir) => {
      graft.ops.Retrieval.invertedIndex(docs(s, dir), "doc_id", "text", maxPostings = 5)
        .select(col("term"), col("df"), col("top_ids"))
    },
      // q66: same rank/df window pass, postings re-joined as an ordered
      // string aggregate
      raw"""WITH toks AS (SELECT doc_id AS id,
        |    $wordsSql AS w
        |  FROM documents),
        |tf AS (SELECT id, tok AS term, count(*)::BIGINT AS tf
        |  FROM (SELECT id, unnest(w) AS tok FROM toks) GROUP BY 1, 2),
        |r AS (SELECT term, id,
        |    row_number() OVER (PARTITION BY term ORDER BY tf DESC, id ASC) AS rn,
        |    count(*) OVER (PARTITION BY term) AS df
        |  FROM tf)
        |SELECT term, CAST(max(df) AS BIGINT) AS df,
        |  string_agg(id::VARCHAR, ',' ORDER BY rn) AS top_ids
        |FROM r WHERE rn <= 5 GROUP BY term""".stripMargin),

    // Exact-proportion stratified split, ORACLED: per-source rank under a
    // deterministic affine-hash order, integer rank·100 ≤ n·pct
    // thresholds — exactly floor(n·80%) train rows per stratum where q36's
    // hash split is only exact in expectation.
    "q67_stratified_split" -> Query((s, dir) => {
      graft.ops.Curation.stratifiedSplit(
          docs(s, dir).select(col("doc_id"), col("source")), "source", "doc_id")
        .select(col("doc_id"), col("source"),
          col("rank").cast("long").as("rank"), col("split"))
    },
      // q67: identical affine order + integer thresholds per stratum
      """WITH r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY (doc_id * 1234567891 + 987654321) % 2147483647, doc_id) AS rank,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source, CAST(rank AS BIGINT) AS rank,
        |  CASE WHEN rank * 100 <= n * 80 THEN 'train'
        |       WHEN rank * 100 <= n * 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r""".stripMargin),

    // Token-budget quality take, ORACLED: keep the highest-quality docs
    // (quality = n_chars) until 40% of the corpus token total is filled —
    // an exact global prefix sum with NO global sort (bucketed offsets
    // collected bounded + broadcast back; PlanSpec-pinned). Budget is
    // integer 2/5 of the total so both engines floor identically.
    "q68_budget_take" -> Query((s, dir) => {
      val base = docs(s, dir).select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"),
        col("n_chars").cast("long").as("q"))
      val budget = base.agg(sum(col("toks"))).head.getLong(0) * 2 / 5
      graft.ops.Curation.budgetTake(base, "doc_id", "toks", "q", budget = budget)
        .select(col("id").as("doc_id"), col("quality"), col("n_tokens"),
          col("cum_tokens"), col("kept"))
    },
      // q68: the buckets are internal — the oracle is the straight global
      // running sum under the same (quality desc, id asc) total order,
      // budget = floor(total·2/5) in integers on both engines
      """WITH t AS (SELECT doc_id,
        |    CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(n_chars AS BIGINT) AS quality
        |  FROM documents),
        |b AS (SELECT CAST(sum(n_tokens) AS BIGINT) * 2 // 5 AS budget FROM t),
        |c AS (SELECT doc_id, quality, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT doc_id, quality, n_tokens, CAST(cum AS BIGINT) AS cum_tokens,
        |  cum <= (SELECT budget FROM b) AS kept
        |FROM c""".stripMargin),

    // Count-min sketch frequency estimation, ORACLED: depth-3 width-16
    // CMS over the token stream (width deliberately tight so collisions
    // fire), estimates probed per term against exact counts — est ≥ exact
    // everywhere, and every collision is deterministic integer arithmetic
    // both engines land on (no RNG in the sketch).
    "q69_countmin" -> Query((s, dir) => {
      val obs = docs(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("term"))
        .withColumn("h", graft.ops.Dedup.polyHash(col("term")))
      val sketch = graft.ops.Sketches.countMin(obs, col("h"), lit(1L), depth = 3, width = 16)
      val q = obs.groupBy(col("term")).agg(count(lit(1)).as("exact"), max(col("h")).as("__h"))
      graft.ops.Sketches.countMinEstimate(sketch, q, col("__h"), depth = 3, width = 16)
        .select(col("term"), col("exact"), col("est"))
    },
      // q69: rebuild the sketch cells as (row, pos) sums and probe the min —
      // the same Carter-Wegman constants as the Bloom/MinHash replays
      raw"""WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |th AS (SELECT term, count(*)::BIGINT AS exact,
        |    ${polyHashSql("term")} AS h
        |  FROM toks GROUP BY term),
        |hj AS (SELECT j,
        |    ((j + 1) * 1103515245 + 12345) % 2147483647 AS a,
        |    ((j + 1) * 1234567891 + 987654321) % 2147483647 AS b
        |  FROM range(3) t(j)),
        |cells AS (SELECT hj.j AS row, ((hj.a * th.h + hj.b) % 2147483647) % 16 AS pos,
        |    sum(th.exact) AS cnt
        |  FROM th CROSS JOIN hj GROUP BY 1, 2)
        |SELECT th.term, th.exact, CAST(min(c.cnt) AS BIGINT) AS est
        |FROM th CROSS JOIN hj
        |JOIN cells c ON c.row = hj.j
        |  AND c.pos = ((hj.a * th.h + hj.b) % 2147483647) % 16
        |GROUP BY th.term, th.exact""".stripMargin),

    // Classifier threshold sweep, ORACLED: precision/recall/kept-fraction
    // at every observed score cutoff (score = n_chars, label = contains
    // 'the'), all ratios exact integer micro-units — the operating-curve
    // profile that picks a quality filter's threshold. Corpus collapses
    // to per-score rows first; cumulatives reuse the q68 bucketed
    // prefix-sum shape (no global sort; PlanSpec-pinned).
    "q70_threshold_sweep" -> Query((s, dir) => {
      val base = docs(s, dir).select(
        col("n_chars").cast("long").as("score"),
        col("text").contains("the").as("label"))
      graft.ops.Curation.thresholdSweep(base, "score", "label")
        .select(col("threshold"), col("n_kept"), col("tp"),
          col("precision_micro"), col("recall_micro"), col("kept_micro"))
    },
      // q70: straight descending-cumulative counts per observed score, the
      // same `// 10^6` integer micro-unit ratios
      """WITH d AS (SELECT CAST(n_chars AS BIGINT) AS score,
        |    contains(text, 'the') AS label FROM documents),
        |ps AS (SELECT score, count(*)::BIGINT AS n,
        |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np
        |  FROM d GROUP BY score),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
        |    CAST(sum(np) AS BIGINT) AS pos_total FROM ps),
        |c AS (SELECT score,
        |    sum(n) OVER (ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_kept,
        |    sum(np) OVER (ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp
        |  FROM ps)
        |SELECT score AS threshold, CAST(n_kept AS BIGINT) AS n_kept,
        |  CAST(tp AS BIGINT) AS tp,
        |  CAST(tp * 1000000 // n_kept AS BIGINT) AS precision_micro,
        |  CAST(CASE WHEN (SELECT pos_total FROM t) > 0
        |    THEN tp * 1000000 // (SELECT pos_total FROM t) ELSE 0 END AS BIGINT)
        |    AS recall_micro,
        |  CAST(n_kept * 1000000 // (SELECT n_total FROM t) AS BIGINT) AS kept_micro
        |FROM c""".stripMargin),

    // N-gram novelty scoring, ORACLED: per-doc fraction of distinct word
    // 5-grams first seen in this doc (no smaller doc_id contains them) —
    // the marginal-contribution signal; first-occurrence window prunes
    // map-side (rank-1 WindowGroupLimit), ratios exact micro-units.
    "q71_novelty" -> Query((s, dir) => {
      graft.ops.Curation.noveltyStats(
          docs(s, dir).filter(col("doc_id") < 300), "doc_id", "text", k = 5)
        .select(col("id").as("doc_id"), col("n_ngrams"), col("n_novel"),
          col("novelty_micro"))
    },
      // q71: the q64 shingle/hash family, min-id first occurrence per hash,
      // per-doc roll-up with the `// 10^6` ratio
      raw"""WITH cw AS (SELECT doc_id,
        |    $wordsSql AS w
        |  FROM documents WHERE doc_id < 300),
        |sh AS (SELECT doc_id, list_distinct(
        |    ${wordShinglesSql(5)}) AS sh FROM cw),
        |ng AS (SELECT DISTINCT doc_id,
        |    ${polyHashSql("sg")} AS ngh
        |  FROM (SELECT doc_id, unnest(sh) AS sg FROM sh)),
        |f AS (SELECT ngh, min(doc_id) AS fid FROM ng GROUP BY ngh),
        |nov AS (SELECT fid AS doc_id, count(*)::BIGINT AS n_novel FROM f GROUP BY fid),
        |tot AS (SELECT doc_id, count(*)::BIGINT AS n_ngrams FROM ng GROUP BY doc_id)
        |SELECT t.doc_id, t.n_ngrams,
        |  CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
        |  CAST(coalesce(n.n_novel, 0) * 1000000 // t.n_ngrams AS BIGINT) AS novelty_micro
        |FROM tot t LEFT JOIN nov n USING (doc_id)""".stripMargin),

    // Cross-source vocabulary overlap, ORACLED: exact pairwise Jaccard of
    // per-source distinct-token sets (the mix-design redundancy matrix) —
    // corpus collapses to the distinct (source, token-hash) frame before
    // anything pairwise; ratios exact micro-units.
    "q72_source_overlap" -> Query((s, dir) => {
      graft.ops.Curation.sourceOverlap(docs(s, dir), "source", "text")
        .select(col("src_a"), col("src_b"), col("n_common"), col("jaccard_micro"))
    },
      // q72: distinct (source, token-hash) sets self-joined on the hash,
      // sizes joined back, the same `// 10^6` ratio
      raw"""WITH st AS (SELECT DISTINCT source,
        |    ${polyHashSql("term")} AS th
        |  FROM (SELECT source,
        |      unnest($wordsSql) AS term
        |    FROM documents)),
        |sz AS (SELECT source, count(*)::BIGINT AS n FROM st GROUP BY source),
        |i AS (SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS n_common
        |  FROM st a JOIN st b ON a.th = b.th AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.src_a, i.src_b, i.n_common,
        |  CAST(i.n_common * 1000000 // (sa.n + sb.n - i.n_common) AS BIGINT) AS jaccard_micro
        |FROM i
        |JOIN sz sa ON sa.source = i.src_a
        |JOIN sz sb ON sb.source = i.src_b""".stripMargin),

    // Asymmetric containment re-score, ORACLED: |A∩B|/|A| and /|B| over
    // distinct word 3-gram sets for adjacent-id candidate pairs — the
    // quote-inclusion signal symmetric Jaccard dilutes; ratios exact
    // micro-units, gram fan-out candidate-bounded.
    "q73_containment" -> Query((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 300)
      val pairs = d.select(col("doc_id").as("id_a"))
        .join(d.select(col("doc_id").as("id_b")), col("id_b") === col("id_a") + 1)
      graft.ops.Dedup.containmentStats(d, "doc_id", "text", pairs, k = 3)
        .select(col("id_a"), col("id_b"), col("n_common"),
          col("containment_a_micro"), col("containment_b_micro"), col("jaccard_micro"))
    },
      // q73: 3-gram variant of the q64/q71 shingle CTE, intersection via
      // hash equi-join per adjacent pair, all three `// 10^6` ratios
      raw"""WITH cw AS (SELECT doc_id,
        |    $wordsSql AS w
        |  FROM documents WHERE doc_id < 300),
        |sh AS (SELECT doc_id, list_distinct(
        |    ${wordShinglesSql(3)}) AS sh FROM cw),
        |ng AS (SELECT DISTINCT doc_id,
        |    ${polyHashSql("sg")} AS ngh
        |  FROM (SELECT doc_id, unnest(sh) AS sg FROM sh)),
        |sz AS (SELECT doc_id, count(*)::BIGINT AS n FROM ng GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM cw a JOIN cw b ON b.doc_id = a.doc_id + 1),
        |i AS (SELECT p.id_a, p.id_b, count(*)::BIGINT AS n_common
        |  FROM p JOIN ng na ON na.doc_id = p.id_a
        |         JOIN ng nb ON nb.doc_id = p.id_b AND nb.ngh = na.ngh
        |  GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b,
        |  CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
        |  CAST(coalesce(i.n_common, 0) * 1000000 // sa.n AS BIGINT) AS containment_a_micro,
        |  CAST(coalesce(i.n_common, 0) * 1000000 // sb.n AS BIGINT) AS containment_b_micro,
        |  CAST(coalesce(i.n_common, 0) * 1000000 // (sa.n + sb.n - coalesce(i.n_common, 0))
        |    AS BIGINT) AS jaccard_micro
        |FROM p
        |JOIN sz sa ON sa.doc_id = p.id_a
        |JOIN sz sb ON sb.doc_id = p.id_b
        |LEFT JOIN i ON i.id_a = p.id_a AND i.id_b = p.id_b""".stripMargin),

    // Domain blocklist filtering, ORACLED: suffix-match host blocking
    // (an `example.com` entry catches every subdomain) over the q60
    // deterministic host mix — purely narrow, the list rides as a
    // closure set, no shuffle anywhere.
    "q74_blocklist" -> Query((s, dir) => {
      val host = lower(when(col("doc_id") % 4 === 0, lit("WWW.Example.COM"))
        .when(col("doc_id") % 4 === 1, lit("news.site.org"))
        .when(col("doc_id") % 4 === 2, lit("Shop.Example.com"))
        .otherwise(lit("a.b.c.net")))
      docs(s, dir).select(col("doc_id"), host.as("host"))
        .withColumn("blocked",
          graft.ops.WebOps.domainBlocked(col("host"), Seq("example.com", "c.net")))
    },
      // q74: suffix list per host, membership against the same two entries
      """WITH h AS (SELECT doc_id,
        |    lower(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'WWW.Example.COM'
        |      WHEN 1 THEN 'news.site.org' WHEN 2 THEN 'Shop.Example.com'
        |      ELSE 'a.b.c.net' END) AS host
        |  FROM documents),
        |s AS (SELECT doc_id, host,
        |    [array_to_string(parts[i :], '.') FOR i IN range(1, len(parts) + 1)] AS sfx
        |  FROM (SELECT doc_id, host, string_split(host, '.') AS parts FROM h))
        |SELECT doc_id, host,
        |  len(list_intersect(sfx, ['example.com', 'c.net'])) > 0 AS blocked
        |FROM s""".stripMargin),

    // Winnowing fingerprints, ORACLED: every 5-window of char-4-gram
    // hashes selects its (hash, pos)-min — guaranteed shared fingerprints
    // on any matching span ≥ 8 chars, alignment-free (MOSS). The packed
    // integer key makes the tie rule identical across engines.
    "q75_winnow" -> Query((s, dir) => {
      graft.ops.TextOps.winnowFingerprints(
          docs(s, dir).filter(col("doc_id") < 120), "doc_id", "text", k = 4, w = 5)
        .select(col("id").as("doc_id"), col("fp_hash"), col("fp_pos"))
    },
      // q75: per-position substr-fold hashes, packed-key sliding min over
      // full windows, distinct — the identical integer tie rule
      raw"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 120),
        |p AS (SELECT doc_id, text,
        |    unnest(range(1, greatest(length(text) - 4 + 1, 0) + 1)) AS pos
        |  FROM d),
        |h AS (SELECT doc_id, pos,
        |    ${polyHashSql("substr(text, pos, 4)")} * 1048576 + pos AS key
        |  FROM p),
        |m AS (SELECT doc_id, pos,
        |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS wmin,
        |    count(*) OVER (PARTITION BY doc_id) AS npos
        |  FROM h)
        |SELECT DISTINCT doc_id, CAST(wmin // 1048576 AS BIGINT) AS fp_hash,
        |  CAST(wmin % 1048576 AS BIGINT) AS fp_pos
        |FROM m WHERE pos <= greatest(npos - 4, 1)""".stripMargin),

    // Corpus profile cube, ORACLED: doc counts + token totals at every
    // (lang, source) granularity in one pass — Spark's Expand-based CUBE
    // against DuckDB's GROUP BY CUBE, roll-up cells labeled 'ALL'.
    "q76_profile_cube" -> Query((s, dir) => {
      docs(s, dir)
        .select(col("lang"), col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
          coalesce(col("source"), lit("ALL")).as("source"),
          col("n_docs"), col("n_tokens"))
    },
      // q76: GROUP BY CUBE with the same 'ALL' labels
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        |  count(*)::BIGINT AS n_docs,
        |  CAST(sum(length(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |FROM documents
        |GROUP BY CUBE(lang, source)""".stripMargin),

    // Winnowing pair mining, ORACLED: docs sharing surviving fingerprint
    // hashes (buckets wider than 25 docs dropped as boilerplate — the
    // explicit, replayable hot-bucket cap) with shared-hash counts.
    "q77_winnow_pairs" -> Query((s, dir) => {
      graft.ops.TextOps.winnowPairs(
          docs(s, dir).filter(col("doc_id") < 120), "doc_id", "text",
          k = 4, w = 5, maxBucket = 25)
        .select(col("id_a"), col("id_b"), col("n_shared"))
    },
      // q77: the q75 fingerprint CTE, distinct (id, hash), df cap, self-join
      raw"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 120),
        |p AS (SELECT doc_id, text,
        |    unnest(range(1, greatest(length(text) - 4 + 1, 0) + 1)) AS pos
        |  FROM d),
        |h AS (SELECT doc_id, pos,
        |    ${polyHashSql("substr(text, pos, 4)")} * 1048576 + pos AS key
        |  FROM p),
        |m AS (SELECT doc_id, pos,
        |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS wmin,
        |    count(*) OVER (PARTITION BY doc_id) AS npos
        |  FROM h),
        |fp AS (SELECT DISTINCT doc_id, wmin // 1048576 AS fh
        |  FROM m WHERE pos <= greatest(npos - 4, 1)),
        |keep AS (SELECT fh FROM fp GROUP BY fh HAVING count(*) <= 25)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
        |FROM fp a JOIN keep USING (fh) JOIN fp b
        |  ON b.fh = a.fh AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin),

    // Composed curation pipeline, ORACLED end-to-end: blocklist →
    // token-length floor → deterministic split → per-source cap, four
    // operators chained and the WHOLE composition replayed — proof the
    // ops compose without losing exactness (narrow → narrow → narrow →
    // one map-pruned window; still no wide corpus shuffle before the cap).
    "q78_pipeline" -> Query((s, dir) => {
      val host = lower(when(col("doc_id") % 4 === 0, lit("WWW.Example.COM"))
        .when(col("doc_id") % 4 === 1, lit("news.site.org"))
        .when(col("doc_id") % 4 === 2, lit("Shop.Example.com"))
        .otherwise(lit("a.b.c.net")))
      val d = docs(s, dir)
        .select(col("doc_id"), col("source"), col("text"), host.as("host"))
        .filter(!graft.ops.WebOps.domainBlocked(col("host"), Seq("example.com")))
        .withColumn("toks", size(split(trim(col("text")), "\\s+")).cast("long"))
        .filter(col("toks") >= 5)
        .withColumn("split", graft.ops.Curation.hashSplit(col("doc_id")))
      graft.ops.Curation.capPerKey(d, "source", "doc_id", n = 15)
        .select(col("doc_id"), col("source"), col("host"), col("toks"), col("split"))
    },
      // q78: the whole pipeline replayed stage by stage — q74's suffix
      // blocklist, the token floor, q36's split arithmetic, q37's rank cap
      """WITH h AS (SELECT doc_id, source, text,
        |    lower(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'WWW.Example.COM'
        |      WHEN 1 THEN 'news.site.org' WHEN 2 THEN 'Shop.Example.com'
        |      ELSE 'a.b.c.net' END) AS host
        |  FROM documents),
        |unblocked AS (SELECT doc_id, source, text, host FROM (
        |    SELECT *, string_split(host, '.') AS parts FROM h)
        |  WHERE len(list_intersect(
        |    [array_to_string(parts[i :], '.') FOR i IN range(1, len(parts) + 1)],
        |    ['example.com'])) = 0),
        |floored AS (SELECT doc_id, source, host,
        |    CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks
        |  FROM unblocked
        |  WHERE length(regexp_split_to_array(trim(text), '\s+')) >= 5),
        |split AS (SELECT doc_id, source, host, toks,
        |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT *, ((doc_id * 1103515245 + 12345) % 2147483647) % 100 AS b
        |        FROM floored)),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM split)
        |SELECT doc_id, source, host, toks, split FROM ranked WHERE rn <= 15""".stripMargin),

    // Deterministic weighted per-source sampling, ORACLED: exactly 10
    // rows per source win a ticket·10^6 div weight race (weight from
    // n_chars) — exact-k weighted selection as a pure function of
    // (salt, id, weight); rank prunes map-side.
    "q79_weighted_sample" -> Query((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("__wm", least(col("n_chars").cast("long") * 2000L, lit(1000000L)))
      graft.ops.Curation.weightedSamplePerKey(base, "source", "doc_id", col("__wm"), k = 10)
        .select(col("doc_id"), col("source"), col("weight_micro"), col("priority"),
          col("rank").cast("long").as("rank"))
    },
      // q79: the q65 ticket hash, clamped weight, linear race, rank cap
      """WITH b AS (SELECT doc_id, source,
        |    greatest(1, least(1000000, CAST(n_chars AS BIGINT) * 2000)) AS weight_micro
        |  FROM documents),
        |t AS (SELECT doc_id, source, weight_micro,
        |    list_reduce(list_prepend(0::BIGINT,
        |        [ascii(ch)::BIGINT FOR ch IN split('ws:' || doc_id, '')]),
        |      (acc, ch) -> (acc * 131 + ch) % 2147483647) % 1000000 AS ticket
        |  FROM b),
        |r AS (SELECT doc_id, source, weight_micro,
        |    ticket * 1000000 // weight_micro AS priority
        |  FROM t)
        |SELECT doc_id, source, CAST(weight_micro AS BIGINT) AS weight_micro,
        |  CAST(priority AS BIGINT) AS priority, CAST(rank AS BIGINT) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY priority, doc_id) AS rank FROM r)
        |WHERE rank <= 10""".stripMargin),

    // Bloom semi-join flag, ORACLED: every doc flagged possibly-in a
    // priority-id set (doc_id % 17 = 0) through a 1024-bit filter —
    // deliberately tight so deterministic false positives fire and the
    // oracle replays them; the corpus side is completely narrow.
    "q80_bloom_semijoin" -> Query((s, dir) => {
      val d = docs(s, dir)
      val keys = d.filter(col("doc_id") % 17 === 0).select(col("doc_id"))
      graft.ops.Curation.bloomSemiFlag(d, "doc_id", keys, "doc_id",
          numHashes = 3, bits = 1024)
        .select(col("doc_id"), col("in_filter"))
    },
      // q80: position set rebuilt from the key slice, per-doc 3-position
      // membership — false positives replay deterministically
      """WITH hj AS (SELECT j,
        |    ((j + 1) * 1103515245 + 12345) % 2147483647 AS a,
        |    ((j + 1) * 1234567891 + 987654321) % 2147483647 AS b
        |  FROM range(3) t(j)),
        |setpos AS (SELECT DISTINCT ((hj.a * k.doc_id + hj.b) % 2147483647) % 1024 AS pos
        |  FROM (SELECT doc_id FROM documents WHERE doc_id % 17 = 0) k CROSS JOIN hj),
        |probe AS (SELECT d.doc_id,
        |    ((hj.a * d.doc_id + hj.b) % 2147483647) % 1024 AS pos
        |  FROM documents d CROSS JOIN hj)
        |SELECT p.doc_id, count(s.pos) = 3 AS in_filter
        |FROM probe p LEFT JOIN setpos s ON s.pos = p.pos
        |GROUP BY p.doc_id""".stripMargin),

    // Int8 scalar quantization + code-space search, ORACLED: per-dim
    // min/max affine codes (exact integer arithmetic on micro-unit
    // floats), then top-10 by integer L2 in CODE space against vec 0 —
    // the 4x-compressed search path; corpus vectors never shuffle.
    "q81_int8_quant" -> Query((s, dir) => {
      val codes = graft.ops.Similarity.scalarQuantizeCodes(
        embeddings(s, dir), "vec_id", "embedding")
      val q = codes.filter(col("id") === 0L).select(col("dim"), col("code").as("qc"))
      codes.join(broadcast(q), Seq("dim"))
        .groupBy(col("id"))
        .agg(sum((col("code") - col("qc")) * (col("code") - col("qc"))).as("dist_q"))
        .orderBy(col("dist_q").asc, col("id").asc).limit(10)
        .select(col("id").as("vec_id"), col("dist_q"))
    },
      // q81: the q61 micro-unit vector CTE, per-dim min/max affine codes,
      // integer L2 in code space, total-ordered top-10
      """WITH v AS (SELECT vec_id AS id,
        |    [CAST(floor(x * 1e6 + 0.5) AS BIGINT) FOR x IN embedding] AS vm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |cells AS (SELECT id, t.j - 1 AS dim, vm[t.j] AS mv
        |  FROM v CROSS JOIN range(1, 65) t(j)),
        |st AS (SELECT dim, min(mv) AS lo, max(mv) AS hi FROM cells GROUP BY dim),
        |codes AS (SELECT c.id, c.dim,
        |    ((c.mv - st.lo) * 255) // greatest(st.hi - st.lo, 1) AS code
        |  FROM cells c JOIN st USING (dim)),
        |q AS (SELECT dim, code AS qc FROM codes WHERE id = 0),
        |d AS (SELECT c.id, CAST(sum((c.code - q.qc) * (c.code - q.qc)) AS BIGINT) AS dist_q
        |  FROM codes c JOIN q USING (dim) GROUP BY c.id)
        |SELECT id AS vec_id, dist_q FROM (
        |  SELECT id, dist_q, row_number() OVER (ORDER BY dist_q, id) AS rn FROM d)
        |WHERE rn <= 10""".stripMargin),

    // Product quantization encode, ORACLED: 2 subspaces × 4 centroids × 2
    // exact-integer Lloyd rounds — per-vector per-subspace nearest
    // sub-centroid codes + quantization error, every subspace's rounds
    // unrolled independently in the oracle.
    "q82_pq_codes" -> Query((s, dir) => {
      graft.ops.Clustering.pqCodes(embeddings(s, dir), "vec_id", "embedding",
          dims = 64, m = 2, k = 4, iterations = 2)
        .select(col("id").as("vec_id"), col("sub"), col("cid"), col("d2"))
    },
      // q82: the q61 Lloyd unroll, once per subspace over its vector slice
      s"""WITH base AS (SELECT vec_id AS id,
         |    [CAST(floor(x * 1e6 + 0.5) AS BIGINT) FOR x IN embedding] AS vmfull
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |$pqLloydCtes
         |SELECT id AS vec_id, 0 AS sub, cid, d2 FROM s0_a2
         |UNION ALL
         |SELECT id AS vec_id, 1 AS sub, cid, d2 FROM s1_a2""".stripMargin),

    // Global exact quantiles, ORACLED: corpus-wide n_chars percentiles
    // WITHOUT a global sort — bucket counts locate each rank's bucket,
    // only target buckets sort (the 100-TB exact-percentile shape);
    // same type-1 definition as q62, oracle is a straight global rank.
    "q83_global_quantiles" -> Query((s, dir) => {
      graft.ops.Curation.globalQuantiles(docs(s, dir), "n_chars", "doc_id")
        .select(col("q"), col("value"))
    },
      // q83: the buckets are internal — a straight global type-1 rank
      """WITH r AS (SELECT CAST(n_chars AS BIGINT) AS value,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER () AS n
        |  FROM documents),
        |e AS (SELECT value, rn, n,
        |    unnest([0.0, 0.25, 0.5, 0.75, 1.0]) AS q FROM r)
        |SELECT q, value FROM e WHERE rn = floor((n - 1) * q) + 1""".stripMargin),

    // Token-rate divergence, ORACLED: per-source distribution drift
    // between the q56 snapshot slices, a chi-square-style statistic kept
    // in exact integer micro-units (divergence 0 ⇔ identical rates).
    "q84_rate_divergence" -> Query((s, dir) => {
      val d = docs(s, dir)
      graft.ops.Curation.rateDivergence(
          d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 5 =!= 0),
          "source", "text")
        .select(col("key").as("source"), col("n_terms"), col("divergence"))
    },
      // q84: per-slice micro-unit token rates, full-outer vocab join, the
      // same per-term floored integer statistic
      raw"""WITH tok AS (SELECT doc_id, source,
        |    unnest($wordsSql) AS term
        |  FROM documents),
        |h AS (SELECT doc_id, source,
        |    ${polyHashSql("term")} AS th
        |  FROM tok),
        |o AS (SELECT source, th, count(*)::BIGINT AS c FROM h WHERE doc_id % 3 <> 0 GROUP BY 1, 2),
        |n AS (SELECT source, th, count(*)::BIGINT AS c FROM h WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
        |ot AS (SELECT source, CAST(sum(c) AS BIGINT) AS t FROM o GROUP BY source),
        |nt AS (SELECT source, CAST(sum(c) AS BIGINT) AS t FROM n GROUP BY source),
        |orate AS (SELECT o.source, o.th, o.c * 1000000 // ot.t AS r FROM o JOIN ot USING (source)),
        |nrate AS (SELECT n.source, n.th, n.c * 1000000 // nt.t AS r FROM n JOIN nt USING (source)),
        |j AS (SELECT coalesce(a.source, b.source) AS source,
        |    coalesce(a.r, 0) AS r1, coalesce(b.r, 0) AS r2
        |  FROM orate a FULL OUTER JOIN nrate b ON a.source = b.source AND a.th = b.th)
        |SELECT source, count(*)::BIGINT AS n_terms,
        |  CAST(sum(((r1 - r2) * (r1 - r2)) // (r1 + r2 + 1)) AS BIGINT) AS divergence
        |FROM j GROUP BY source""".stripMargin),

    // PQ asymmetric-distance search, ORACLED: the query's exact micro
    // slices probe a k×m lookup table against each corpus vector's code
    // centroids — top-10 without touching a single corpus float at query
    // time; every centroid, code, and LUT cell replays.
    "q85_pq_adc" -> Query((s, dir) => {
      graft.ops.Clustering.pqAdcTopK(embeddings(s, dir), "vec_id", "embedding",
          dims = 64, queryId = 0L, topK = 10, m = 2, k = 4, iterations = 2)
        .select(col("vec_id"), col("est_d2"))
    }, {
      // q85: the same per-subspace Lloyd chain, then the ADC probe — the
      // query's exact slice against each FINAL sub-centroid (c1 when
      // iterations = 2), summed per corpus vector via the code table
      val luts = (0 until 2).map { s =>
        val p = s"s${s}_"
        s"""${p}q AS (SELECT vm FROM ${p}v WHERE id = 0),
           |${p}l AS (SELECT c.cid,
           |    CAST(list_sum([ (q.vm[j] - c.cm[j]) * (q.vm[j] - c.cm[j]) FOR j IN range(1, 33) ]) AS BIGINT) AS qd2
           |  FROM ${p}c1 c CROSS JOIN ${p}q q)""".stripMargin
      }.mkString(",\n")
      s"""WITH base AS (SELECT vec_id AS id,
         |    [CAST(floor(x * 1e6 + 0.5) AS BIGINT) FOR x IN embedding] AS vmfull
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |$pqLloydCtes,
         |$luts,
         |est AS (SELECT a.id, CAST(sum(l.qd2) AS BIGINT) AS est_d2
         |  FROM (SELECT id, cid, 0 AS sub FROM s0_a2
         |        UNION ALL SELECT id, cid, 1 AS sub FROM s1_a2) a
         |  JOIN (SELECT cid, qd2, 0 AS sub FROM s0_l
         |        UNION ALL SELECT cid, qd2, 1 AS sub FROM s1_l) l
         |    ON l.sub = a.sub AND l.cid = a.cid
         |  GROUP BY a.id)
         |SELECT id AS vec_id, est_d2 FROM (
         |  SELECT id, est_d2, row_number() OVER (ORDER BY est_d2, id) AS rn FROM est)
         |WHERE rn <= 10""".stripMargin
    }),

    // Source language-consistency profile, ORACLED: per-source majority
    // PREDICTED language (the q18 heuristic) + mixed fraction in exact
    // micro-units — the label-purity check before trusting a source's
    // declared language in a mix.
    "q86_lang_consistency" -> Query((s, dir) => {
      graft.ops.Curation.majorityStats(
          docs(s, dir), "source", graft.ops.TextOps.langId(col("text")))
        .select(col("key").as("source"), col("majority"), col("n_total"),
          col("n_majority"), col("mixed_micro"))
    },
      // q86: the q18 predictor per doc, then per-source majority + purity
      """WITH sc AS (SELECT source,
        |    (length(text) - length(replace(text, ' the ', ''))) // 5
        |      + (length(text) - length(replace(text, ' and ', ''))) // 5 AS s_en,
        |    (length(text) - length(replace(text, ' der ', ''))) // 5
        |      + (length(text) - length(replace(text, ' und ', ''))) // 5 AS s_de,
        |    (length(text) - length(replace(text, ' los ', ''))) // 5
        |      + (length(text) - length(replace(text, ' las ', ''))) // 5 AS s_es,
        |    (length(text) - length(replace(text, ' les ', ''))) // 5
        |      + (length(text) - length(replace(text, ' des ', ''))) // 5 AS s_fr
        |  FROM documents),
        |p AS (SELECT source, CASE
        |    WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
        |    WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
        |    WHEN s_es >= s_fr THEN 'es'
        |    ELSE 'fr' END AS label
        |  FROM sc),
        |c AS (SELECT source, label, count(*)::BIGINT AS c FROM p GROUP BY 1, 2),
        |r AS (SELECT source, label, c,
        |    row_number() OVER (PARTITION BY source ORDER BY c DESC, label ASC) AS rn,
        |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n_total
        |  FROM c)
        |SELECT source, label AS majority, n_total, c AS n_majority,
        |  CAST((n_total - c) * 1000000 // n_total AS BIGINT) AS mixed_micro
        |FROM r WHERE rn = 1""".stripMargin),

    // Incremental dedup against an existing index, ORACLED: a "new
    // snapshot" (perturbed copies of 40 index docs + 50 fresh docs)
    // MinHash-deduped against the index — only new×index pairs mined,
    // never historical ones; full SQL replay of both signature chains.
    "q87_incremental_dedup" -> Query((s, dir) => {
      val d = docs(s, dir)
      val idx = d.filter(col("doc_id") < 100)
        .select(col("doc_id").cast("long").as("id"), col("text"))
      val perturbed = d.filter(col("doc_id") < 40)
        .select((col("doc_id").cast("long") + 20000L).as("id"),
          regexp_replace(col("text"), "^(\\S+) (\\S+)", "changed prefix").as("text"))
      val fresh = d.filter(col("doc_id") >= 100 && col("doc_id") < 150)
        .select(col("doc_id").cast("long").as("id"), col("text"))
      graft.ops.Dedup.minhashNearDupsAgainst(
          perturbed.unionByName(fresh), idx, "id", "text")
        .select(col("new_id"), col("idx_id"),
          floor(col("jaccard") * 1000000 + 0.5).cast("long").as("jaccard_micro"))
    }, {
      // q87: the q27 signature chain duplicated per side, new×index band
      // join, same exact-Jaccard verify
      def chain(p: String, src: String) =
        s"""${p}words AS (SELECT id, $wordsSql AS w FROM $src),
           |${p}sh AS (SELECT id, list_distinct(
           |    ${wordShinglesSql(3, concatGram = true)}) AS shingles FROM ${p}words),
           |${p}ph AS (SELECT id, shingles,
           |    [${polyHashSql("sg")} FOR sg IN shingles] AS hb FROM ${p}sh),
           |${p}sigs AS (SELECT id, shingles,
           |    $minHashSigSql AS sig FROM ${p}ph),
           |${p}keyed AS (SELECT id, shingles,
           |    [list_reduce(list_prepend((b+1)::BIGINT, [sig[4*b + j] FOR j IN range(1, 5)]),
           |       (acc, s) -> (acc * 131071 + s) % 2147483647) FOR b IN range(0, 8)] AS keys FROM ${p}sigs),
           |${p}buckets AS (SELECT id, unnest([{'band': b, 'key': keys[b + 1]} FOR b IN range(0, 8)], recursive := true) FROM ${p}keyed)""".stripMargin
      s"""WITH idx AS (SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents WHERE doc_id < 100),
         |newc AS (
         |  SELECT CAST(doc_id AS BIGINT) + 20000 AS id,
         |         regexp_replace(text, '^(\\S+) (\\S+)', 'changed prefix') AS text
         |  FROM documents WHERE doc_id < 40
         |  UNION ALL
         |  SELECT CAST(doc_id AS BIGINT) AS id, text
         |  FROM documents WHERE doc_id >= 100 AND doc_id < 150
         |),
         |${chain("i_", "idx")},
         |${chain("n_", "newc")},
         |n_stat AS (SELECT band, key, count(*) AS n, min(id) AS mn FROM n_buckets GROUP BY band, key),
         |i_stat AS (SELECT band, key, count(*) AS n, min(id) AS mn FROM i_buckets GROUP BY band, key),
         |n_kept AS (SELECT b.id, b.band, b.key FROM n_buckets b
         |  JOIN n_stat s ON s.band = b.band AND s.key = b.key
         |  WHERE s.n <= 1000 OR b.id = s.mn),
         |i_kept AS (SELECT b.id, b.band, b.key FROM i_buckets b
         |  JOIN i_stat s ON s.band = b.band AND s.key = b.key
         |  WHERE s.n <= 1000 OR b.id = s.mn),
         |cand AS (SELECT DISTINCT n.id AS new_id, i.id AS idx_id
         |  FROM n_kept n JOIN i_kept i ON n.band = i.band AND n.key = i.key),
         |verified AS (SELECT new_id, idx_id,
         |    len(list_intersect(sa.shingles, sb.shingles))::DOUBLE AS inter,
         |    (len(sa.shingles) + len(sb.shingles))::DOUBLE AS stot
         |  FROM cand
         |  JOIN n_sh sa ON sa.id = cand.new_id
         |  JOIN i_sh sb ON sb.id = cand.idx_id)
         |SELECT new_id, idx_id,
         |  CAST(floor((CASE WHEN stot - inter = 0 THEN 1.0 ELSE inter / (stot - inter) END) * 1000000 + 0.5) AS BIGINT) AS jaccard_micro
         |FROM verified
         |WHERE (CASE WHEN stot - inter = 0 THEN 1.0 ELSE inter / (stot - inter) END) >= 0.5""".stripMargin
    }),

    // Collocation mining, ORACLED: top-20 adjacent token pairs by integer
    // lift (the word2vec phrase-merge statistic), support-filtered at
    // count ≥ 5 before any join — hapax bigrams die map-side.
    "q88_collocations" -> Query((s, dir) => {
      graft.ops.Retrieval.collocations(docs(s, dir), "text", minCount = 5L, topK = 20)
        .select(col("w1"), col("w2"), col("c_ab"), col("lift_micro"))
    },
      // q88: 1-based adjacent pairs, unigram joins, the same single-floor
      // integer lift, total-ordered top-20
      raw"""WITH toks AS (SELECT
        |    $wordsSql AS w
        |  FROM documents),
        |bi AS (SELECT w1, w2, count(*)::BIGINT AS c_ab FROM (
        |    SELECT w[i] AS w1, w[i + 1] AS w2
        |    FROM (SELECT w, unnest(range(1, len(w))) AS i FROM toks WHERE len(w) >= 2))
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |uni AS (SELECT t, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t),
        |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
        |s AS (SELECT b.w1, b.w2, b.c_ab,
        |    CAST(b.c_ab * 1000000 * (SELECT n FROM nn) // (ua.c * ub.c) AS BIGINT) AS lift_micro
        |  FROM bi b JOIN uni ua ON ua.t = b.w1 JOIN uni ub ON ub.t = b.w2)
        |SELECT w1, w2, c_ab, lift_micro FROM (
        |  SELECT *, row_number() OVER (ORDER BY lift_micro DESC, w1, w2) AS rn FROM s)
        |WHERE rn <= 20""".stripMargin),

    // Length-bucketed batching, ORACLED: deterministic batch assignment
    // within n_chars buckets (the dynamic-batching prep — peers within
    // one bucket width, so padding waste is bounded by construction).
    "q89_length_batches" -> Query((s, dir) => {
      graft.ops.Curation.batchByLength(
          docs(s, dir).select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", batchSize = 16, bucketWidth = 128L)
        .select(col("doc_id"), col("n_chars"), col("bucket"),
          col("batch_seq"), col("batch_pos"))
    },
      // q89: same bucket arithmetic, same (length, id) rank, div/mod split
      """WITH b AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    CAST(n_chars AS BIGINT) // 128 AS bucket
        |  FROM documents),
        |r AS (SELECT doc_id, n_chars, bucket,
        |    row_number() OVER (PARTITION BY bucket ORDER BY n_chars, doc_id) - 1 AS rn
        |  FROM b)
        |SELECT doc_id, n_chars, bucket,
        |  CAST(rn // 16 AS BIGINT) AS batch_seq,
        |  CAST(rn % 16 AS BIGINT) AS batch_pos
        |FROM r""".stripMargin),

    // Data-quality gate, ORACLED: Deequ-style constraint report (null
    // checks, ranges, enums, id uniqueness) in ONE corpus aggregate —
    // null predicate results count as violations, never as passes.
    "q90_quality_gate" -> Query((s, dir) => {
      graft.ops.Curation.qualityReport(docs(s, dir), "doc_id", Seq(
          "doc_id_nonnull" -> col("doc_id").isNotNull,
          "n_chars_nonneg" -> (col("n_chars") >= 0),
          "lang_enum" -> col("lang").isin("en", "de", "es", "fr", "zh"),
          "source_nonempty" -> (col("source").isNotNull && col("source") =!= "")))
        .select(col("check_name"), col("violations"), col("pass"))
    },
      // q90: the same null-is-violation counts plus the uniqueness delta
      """WITH a AS (SELECT
        |    CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
        |    CAST(sum(CASE WHEN n_chars >= 0 THEN 0 ELSE 1 END) AS BIGINT) AS v1,
        |    CAST(sum(CASE WHEN lang IN ('en', 'de', 'es', 'fr', 'zh') THEN 0 ELSE 1 END)
        |      AS BIGINT) AS v2,
        |    CAST(sum(CASE WHEN source IS NOT NULL AND source <> '' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS v3,
        |    count(*)::BIGINT AS n,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS d
        |  FROM documents)
        |SELECT check_name, violations, violations = 0 AS pass FROM (
        |  SELECT 'doc_id_nonnull' AS check_name, v0 AS violations FROM a
        |  UNION ALL SELECT 'n_chars_nonneg', v1 FROM a
        |  UNION ALL SELECT 'lang_enum', v2 FROM a
        |  UNION ALL SELECT 'source_nonempty', v3 FROM a
        |  UNION ALL SELECT 'unique:doc_id', n - d FROM a)""".stripMargin),

    // SemDeDup (training op, Abbas et al. 2023), ORACLED: exact-integer
    // k-means clusters, then within-cluster cosine dedup against lower-id
    // mates. Planted near-dups are 1.001-scaled copies — double-multiply
    // then float-round is the same IEEE operation on both engines — so
    // unlike q34's x2 copies they sit 0.1% away in L2 and CO-CLUSTER with
    // their originals, exercising the dedup path, not just the join.
    "q91_semdedup" -> Query((s, dir) => {
      val base = embeddings(s, dir).filter(col("vec_id") < 100)
        .select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
      val near = base.select((col("id") + 10000L).as("id"),
        transform(col("v"), x => (x.cast("double") * lit(1.001)).cast("float")).as("v"))
      graft.ops.Clustering.semDedup(base.unionByName(near), "id", "v",
          threshold = 0.95, k = 8, iterations = 3)
        .select(col("id").as("vec_id"), col("cid"), col("keep"))
    }, {
      // q91: the q61 Lloyd unroll over the planted corpus, then every
      // within-cluster lower-id pair re-scored with the q34 list_reduce
      // cosine replay — the keep bit is a pure function of both
      val rounds = (1 to 3).map { i =>
        val dist =
          s"""s$i AS (SELECT v.id, c.cid,
             |    CAST(list_sum([ (vm[j] - cm[j]) * (vm[j] - cm[j]) FOR j IN range(1, len(vm) + 1) ]) AS BIGINT) AS d2
             |  FROM v CROSS JOIN c${i - 1} c),
             |a$i AS (SELECT id, cid, d2 FROM (
             |    SELECT id, cid, d2, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
             |    FROM s$i) WHERE rn = 1)""".stripMargin
        val update = if (i < 3)
          s""",
             |u$i AS (SELECT a.cid, t.j AS dim, CAST(sum(vm[t.j]) AS BIGINT) AS sx, count(*) AS cnt
             |  FROM a$i a JOIN v USING (id) CROSS JOIN range(1, 65) t(j)
             |  GROUP BY a.cid, t.j),
             |c$i AS (SELECT cid, list(CAST(floor(sx / cnt + 0.5) AS BIGINT) ORDER BY dim) AS cm
             |  FROM u$i GROUP BY cid)""".stripMargin
        else ""
        dist + update
      }.mkString(",\n")
      s"""WITH corpus AS (
         |  SELECT CAST(vec_id AS BIGINT) AS id, embedding AS ve
         |  FROM embeddings WHERE vec_id < 100
         |  UNION ALL
         |  SELECT CAST(vec_id AS BIGINT) + 10000 AS id,
         |    [CAST(x::DOUBLE * 1.001 AS REAL) FOR x IN embedding] AS ve
         |  FROM embeddings WHERE vec_id < 100),
         |v AS (SELECT id, [CAST(floor(x * 1e6 + 0.5) AS BIGINT) FOR x IN ve] AS vm
         |  FROM corpus WHERE ve IS NOT NULL),
         |c0 AS (SELECT id AS cid, vm AS cm FROM v ORDER BY id LIMIT 8),
         |$rounds,
         |m AS (SELECT a3.id, a3.cid, corpus.ve FROM a3 JOIN corpus USING (id)),
         |pairs AS (
         |  SELECT a.id AS id_a,
         |    list_reduce(list_prepend(0.0::DOUBLE, [a.ve[i]::DOUBLE * b.ve[i]::DOUBLE FOR i IN range(1, len(a.ve) + 1)]), (x, y) -> x + y) AS dot,
         |    list_reduce(list_prepend(0.0::DOUBLE, [a.ve[i]::DOUBLE * a.ve[i]::DOUBLE FOR i IN range(1, len(a.ve) + 1)]), (x, y) -> x + y) AS na,
         |    list_reduce(list_prepend(0.0::DOUBLE, [b.ve[i]::DOUBLE * b.ve[i]::DOUBLE FOR i IN range(1, len(b.ve) + 1)]), (x, y) -> x + y) AS nb
         |  FROM m a JOIN m b ON a.cid = b.cid AND b.id < a.id),
         |dups AS (SELECT DISTINCT id_a AS id FROM pairs
         |  WHERE (CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END) >= 0.95)
         |SELECT a3.id AS vec_id, a3.cid, CAST(d.id IS NULL AS BIGINT) AS keep
         |FROM a3 LEFT JOIN dups d USING (id)""".stripMargin
    }),

    // Filter-funnel report, ORACLED: per-stage survival counts through
    // an ordered filter cascade in ONE corpus scan — the complement of
    // q90's constraint gate (q90 says what's broken; q92 says which gate
    // of the recipe eats how much of the corpus).
    "q92_funnel" -> Query((s, dir) => {
      graft.ops.Curation.funnelReport(docs(s, dir), Seq(
          "text_nonnull" -> col("text").isNotNull,
          "min_length" -> (col("n_chars") >= 100L),
          "max_length" -> (col("n_chars") <= 50000L),
          "lang_allowed" -> col("lang").isin("en", "de", "fr"),
          "source_known" -> (col("source").isNotNull && col("source") =!= "")))
        .select(col("stage"), col("stage_name"), col("rows_in"),
          col("rows_out"), col("dropped"))
    },
      // q92: the same cumulative conditional sums (NULL predicate -> ELSE
      // branch -> dropped, matching the Spark side's coalesce(pred, false))
      """WITH a AS (SELECT
        |    count(*)::BIGINT AS n,
        |    CAST(sum(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s0,
        |    CAST(sum(CASE WHEN text IS NOT NULL AND n_chars >= 100
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(sum(CASE WHEN text IS NOT NULL AND n_chars >= 100 AND n_chars <= 50000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s2,
        |    CAST(sum(CASE WHEN text IS NOT NULL AND n_chars >= 100 AND n_chars <= 50000
        |      AND lang IN ('en', 'de', 'fr') THEN 1 ELSE 0 END) AS BIGINT) AS s3,
        |    CAST(sum(CASE WHEN text IS NOT NULL AND n_chars >= 100 AND n_chars <= 50000
        |      AND lang IN ('en', 'de', 'fr') AND source IS NOT NULL AND source <> ''
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s4
        |  FROM documents)
        |SELECT stage, stage_name, rows_in, rows_out, rows_in - rows_out AS dropped FROM (
        |  SELECT 1::BIGINT AS stage, 'text_nonnull' AS stage_name, n AS rows_in, s0 AS rows_out FROM a
        |  UNION ALL SELECT 2, 'min_length', s0, s1 FROM a
        |  UNION ALL SELECT 3, 'max_length', s1, s2 FROM a
        |  UNION ALL SELECT 4, 'lang_allowed', s2, s3 FROM a
        |  UNION ALL SELECT 5, 'source_known', s3, s4 FROM a)""".stripMargin),

    // WordPiece subword tokenization, ORACLED: greedy longest-match
    // encoding against the shared vocab (the REAL per-doc token budget —
    // q11's whitespace count underestimates subword counts models
    // actually pay for). The oracle precomputes a longest-match table
    // and replays the greedy walk as a recursive CTE. The fixture corpus
    // is clean lowercase (zero natural [UNK]s), so two planted tokens
    // exercise the dead-end and >100-char-cap paths cross-engine.
    "q93_wordpiece" -> Query((s, dir) => {
      val kernel = graft.ops.TextOps.wordpieceCountsKernel(wpVocab)
      val f = udf((t: String) => kernel(t))
      val t = concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" x.y!")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" " + "a" * 101)).otherwise(lit("")))
      docs(s, dir).select(col("doc_id"), f(t).as("e"))
        .select(col("doc_id"), col("e._1").as("n_words"),
          col("e._2").as("n_pieces"), col("e._3").as("n_unk"))
    }, {
      // q93: longest-match table (pos x vocab max) + recursive-CTE walk —
      // the greedy path is unique, so a word is [UNK] iff its walk never
      // reaches i = length(w); per-doc totals weight distinct words by count
      val vlist = wpVocab.map(p => s"'$p'").mkString(", ")
      s"""WITH RECURSIVE
         |vocab AS (SELECT unnest([$vlist]) AS piece),
         |docp AS (SELECT doc_id, text
         |    || (CASE WHEN doc_id % 5 = 0 THEN ' x.y!' ELSE '' END)
         |    || (CASE WHEN doc_id % 11 = 0 THEN ' ' || repeat('a', 101) ELSE '' END) AS text
         |  FROM documents),
         |words AS (SELECT doc_id,
         |    unnest($wordsSql) AS w
         |  FROM docp),
         |wc AS (SELECT doc_id, w, count(*)::BIGINT AS cnt FROM words GROUP BY 1, 2),
         |uw AS (SELECT DISTINCT w FROM wc),
         |pos AS (SELECT w, t.j AS i FROM uw, range(0, 100) t(j)
         |  WHERE length(w) <= 100 AND t.j < length(w)),
         |lm AS (SELECT p.w, p.i,
         |    max(CASE WHEN p.i = 0 THEN length(v.piece) ELSE length(v.piece) - 2 END)::BIGINT AS l
         |  FROM pos p JOIN vocab v ON (
         |    (p.i = 0 AND v.piece NOT LIKE '##%'
         |      AND substr(p.w, 1, length(v.piece)) = v.piece)
         |    OR (p.i > 0 AND v.piece LIKE '##%' AND length(v.piece) > 2
         |      AND substr(p.w, p.i + 1, length(v.piece) - 2) = substr(v.piece, 3)))
         |  GROUP BY 1, 2),
         |walk(w, i, pieces) AS (
         |  SELECT w, 0::BIGINT, 0::BIGINT FROM uw WHERE length(w) BETWEEN 1 AND 100
         |  UNION ALL
         |  SELECT k.w, k.i + lm.l, k.pieces + 1 FROM walk k
         |  JOIN lm ON lm.w = k.w AND lm.i = k.i
         |  WHERE k.i < length(k.w)),
         |done AS (SELECT w, min(pieces)::BIGINT AS pieces FROM walk
         |  WHERE i = length(w) GROUP BY 1),
         |encw AS (SELECT uw.w, coalesce(d.pieces, 1)::BIGINT AS pieces,
         |    (CASE WHEN d.w IS NULL THEN 1 ELSE 0 END)::BIGINT AS unk
         |  FROM uw LEFT JOIN done d ON d.w = uw.w),
         |agg AS (SELECT wc.doc_id,
         |    CAST(sum(wc.cnt) AS BIGINT) AS n_words,
         |    CAST(sum(wc.cnt * e.pieces) AS BIGINT) AS n_pieces,
         |    CAST(sum(wc.cnt * e.unk) AS BIGINT) AS n_unk
         |  FROM wc JOIN encw e ON e.w = wc.w GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(g.n_words, 0)::BIGINT AS n_words,
         |  coalesce(g.n_pieces, 0)::BIGINT AS n_pieces,
         |  coalesce(g.n_unk, 0)::BIGINT AS n_unk
         |FROM documents d LEFT JOIN agg g ON g.doc_id = d.doc_id""".stripMargin
    }),

    // Within-doc line dedup, ORACLED ON REWRITTEN BYTES: q55's corpus-
    // level pass has an intra-doc sibling — repeated lines INSIDE one
    // page (nav, footers) keep only their first occurrence, empty lines
    // survive. Lines planted via q55's ' the '→'\n' literal replace plus
    // a repeated footer block (with blank lines) on the mod-3 slice.
    "q94_linededup" -> Query((s, dir) => {
      val t = concat(expr("replace(text, ' the ', '\n')"),
        when(col("doc_id") % 3 === 0,
          lit("\nfooter\n\nmenu\n\nfooter")).otherwise(lit("")))
      graft.ops.Curation.dedupLinesInDoc(
          docs(s, dir).withColumn("text", t), "doc_id", "text")
        .select(col("id").as("doc_id"), col("text"), col("n_lines"), col("n_kept"))
    },
      // q94: list_position gives the first-occurrence index directly, so
      // the keep rule replays without recursion; text BYTE-compared
      """WITH p AS (SELECT doc_id, replace(text, ' the ', chr(10))
        |    || (CASE WHEN doc_id % 3 = 0
        |        THEN chr(10) || 'footer' || chr(10) || chr(10) || 'menu' || chr(10) || chr(10) || 'footer'
        |        ELSE '' END) AS text
        |  FROM documents),
        |l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM p),
        |k AS (SELECT doc_id, ls,
        |    list_filter(ls, (x, i) -> x = '' OR list_position(ls, x) = i) AS ks
        |  FROM l)
        |SELECT doc_id,
        |  -- coalesce: DuckDB array_to_string([]) is NULL where Spark
        |  -- array_join([]) is '' — fires when every line strips away
        |  -- (first seen at the sf1.0 clone tier, q96)
        |  coalesce(array_to_string(ks, chr(10)), '') AS text,
        |  len(ls)::BIGINT AS n_lines, len(ks)::BIGINT AS n_kept
        |FROM k""".stripMargin),

    // BPE merge learning, ORACLED: the 3 highest-count adjacent-symbol
    // merges learned from the corpus (T76 encodes with a GIVEN vocab;
    // this LEARNS one). Every round — weighted pair counts over the
    // distinct-word vocabulary, argmax under (count desc, pair asc),
    // left-to-right non-overlapping rewrite — replays as unrolled CTEs
    // with a recursive merge walk.
    "q95_bpe_learn" -> Query((s, dir) => {
      graft.ops.TextOps.bpeLearn(docs(s, dir), "text", k = 3)
        .select(col("rank"), col("l_sym"), col("r_sym"), col("pair_count"))
    }, {
      // q95: 3 unrolled BPE rounds — weighted pair counts over the
      // distinct-word vocabulary, argmax under (count desc, pair asc),
      // then a recursive-CTE merge walk that reproduces the kernel's
      // left-to-right non-overlapping pairing exactly
      val rounds = (1 to 3).map { i =>
        val src = s"s${i - 1}"
        val pair =
          s"""p$i AS (SELECT syms[t.j] AS l, syms[t.j + 1] AS r, CAST(sum(cnt) AS BIGINT) AS c
             |  FROM $src CROSS JOIN range(1, 64) t(j)
             |  WHERE t.j <= len(syms) - 1 GROUP BY 1, 2),
             |b$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1)""".stripMargin
        val merge = if (i < 3)
          s""",
             |m$i(w, i, out) AS (
             |  SELECT w, 1::BIGINT, CAST([] AS VARCHAR[]) FROM $src
             |  UNION ALL
             |  SELECT m.w,
             |    CASE WHEN m.i < len(s.syms) AND s.syms[m.i] = b.l AND s.syms[m.i + 1] = b.r
             |      THEN m.i + 2 ELSE m.i + 1 END,
             |    CASE WHEN m.i < len(s.syms) AND s.syms[m.i] = b.l AND s.syms[m.i + 1] = b.r
             |      THEN list_append(m.out, b.l || b.r) ELSE list_append(m.out, s.syms[m.i]) END
             |  FROM m$i m JOIN $src s ON s.w = m.w, b$i b WHERE m.i <= len(s.syms)),
             |s$i AS (SELECT m.w, s.cnt, m.out AS syms FROM m$i m JOIN $src s ON s.w = m.w
             |  WHERE m.i > len(s.syms))""".stripMargin
        else ""
        pair + merge
      }.mkString(",\n")
      s"""WITH RECURSIVE
         |w0 AS (SELECT w, count(*)::BIGINT AS cnt FROM (
         |    SELECT unnest($wordsSql) AS w
         |    FROM documents) GROUP BY 1 HAVING len(w) <= 64),
         |s0 AS (SELECT w, cnt, [substr(w, i, 1) FOR i IN range(1, len(w) + 1)] AS syms FROM w0),
         |$rounds
         |SELECT 1::BIGINT AS rank, l AS l_sym, r AS r_sym, c AS pair_count FROM b1
         |UNION ALL SELECT 2, l, r, c FROM b2
         |UNION ALL SELECT 3, l, r, c FROM b3""".stripMargin
    }),

    // Per-SOURCE boilerplate line strip, ORACLED ON REWRITTEN BYTES: the
    // RefinedWeb template pass — a line repeating in >=5 distinct docs of
    // one source is nav/footer, not content. Footer lines planted on the
    // mod-2 slice (well over threshold per source), a mod-97 "rare" line
    // stays under it, and q94's ' the '→'\n' literal replace provides the
    // natural-line background.
    "q96_boilerplate_strip" -> Query((s, dir) => {
      val t = concat(expr("replace(text, ' the ', '\n')"),
        when(col("doc_id") % 2 === 0,
          concat(lit("\n(c) "), col("source"), lit("\nhome | about | contact")))
          .otherwise(lit("")),
        when(col("doc_id") % 97 === 0, lit("\nrare footer line")).otherwise(lit("")))
      graft.ops.Curation.stripBoilerplateLines(
          docs(s, dir).withColumn("text", t), "doc_id", "source", "text", minDocs = 5)
        .select(col("id").as("doc_id"), col("text"), col("n_lines"), col("n_kept"))
    },
      // q96: the per-source template set is tiny, so the replay groups raw
      // lines directly; the keep rule is a membership lambda over a
      // coalesced (possibly absent) per-source list; text BYTE-compared
      """WITH p AS (SELECT doc_id, source, replace(text, ' the ', chr(10))
        |    || (CASE WHEN doc_id % 2 = 0
        |        THEN chr(10) || '(c) ' || source || chr(10) || 'home | about | contact'
        |        ELSE '' END)
        |    || (CASE WHEN doc_id % 97 = 0 THEN chr(10) || 'rare footer line' ELSE '' END)
        |    AS text
        |  FROM documents),
        |l AS (SELECT doc_id, source, string_split(text, chr(10)) AS ls FROM p),
        |e AS (SELECT DISTINCT doc_id, source, line FROM
        |    (SELECT doc_id, source, unnest(ls) AS line FROM l) WHERE line <> ''),
        |c AS (SELECT source, line FROM e GROUP BY 1, 2 HAVING count(*) >= 5),
        |b AS (SELECT source, list(line) AS bl FROM c GROUP BY 1),
        |k AS (SELECT l.doc_id, l.ls,
        |    list_filter(l.ls, x -> x = '' OR
        |      NOT list_contains(coalesce(b.bl, CAST([] AS VARCHAR[])), x)) AS ks
        |  FROM l LEFT JOIN b ON b.source = l.source)
        |SELECT doc_id,
        |  -- coalesce: DuckDB array_to_string([]) is NULL where Spark
        |  -- array_join([]) is '' — fires when every line strips away
        |  -- (first seen at the sf1.0 clone tier, q96)
        |  coalesce(array_to_string(ks, chr(10)), '') AS text,
        |  len(ls)::BIGINT AS n_lines, len(ks)::BIGINT AS n_kept
        |FROM k""".stripMargin),

    // HITS hubs/authorities, ORACLED: 3 fixed iterations over a
    // deterministic link graph (different constants than q59's so the two
    // graph queries don't share a topology), scores L1-normalized in
    // integer micro-units each half-iteration so DuckDB replays the whole
    // mutual recursion bit-for-bit as unrolled CTEs.
    "q97_hits" -> Query((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 300).select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"), ((col("doc_id") * 29 + 5) % 223).as("dst"))
        .union(d.select(col("doc_id").as("src"), ((col("doc_id") * 19 + 2) % 223).as("dst")))
        .union(d.select(col("doc_id").as("src"), ((col("doc_id") * 11 + 13) % 89).as("dst")))
      graft.ops.Graph.hits(edges, "src", "dst", iterations = 3)
        .select(col("id").as("doc_id"), col("auth_micro"), col("hub_micro"),
          col("auth"), col("hub"))
    }, {
      // q97: the same 3 HITS iterations unrolled — each half-iteration is a
      // propagate-sum + an L1 total + a floor-quantized renormalize, all in
      // integer micro-units, so the mutual recursion replays exactly
      val iters = (1 to 3).map { k =>
        s"""ar$k AS (SELECT e.dst AS id, CAST(sum(h.v) AS BIGINT) AS s
           |  FROM e JOIN h${k - 1} h ON h.id = e.src GROUP BY 1),
           |at$k AS (SELECT CAST(sum(s) AS BIGINT) AS t FROM ar$k),
           |a$k AS (SELECT nd.id,
           |    CAST(floor(coalesce(r.s, 0) * 1e6 / t.t + 0.5) AS BIGINT) AS v
           |  FROM nodes nd CROSS JOIN at$k t LEFT JOIN ar$k r ON r.id = nd.id),
           |hr$k AS (SELECT e.src AS id, CAST(sum(a.v) AS BIGINT) AS s
           |  FROM e JOIN a$k a ON a.id = e.dst GROUP BY 1),
           |ht$k AS (SELECT CAST(sum(s) AS BIGINT) AS t FROM hr$k),
           |h$k AS (SELECT nd.id,
           |    CAST(floor(coalesce(r.s, 0) * 1e6 / t.t + 0.5) AS BIGINT) AS v
           |  FROM nodes nd CROSS JOIN ht$k t LEFT JOIN hr$k r ON r.id = nd.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT doc_id AS src, (doc_id * 29 + 5) % 223 AS dst FROM documents WHERE doc_id < 300
         |  UNION ALL
         |  SELECT doc_id, (doc_id * 19 + 2) % 223 FROM documents WHERE doc_id < 300
         |  UNION ALL
         |  SELECT doc_id, (doc_id * 11 + 13) % 89 FROM documents WHERE doc_id < 300),
         |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |h0 AS (SELECT id, 1000000::BIGINT AS v FROM nodes),
         |$iters
         |SELECT a3.id AS doc_id, a3.v AS auth_micro, h3.v AS hub_micro,
         |  a3.v / 1e6 AS auth, h3.v / 1e6 AS hub
         |FROM a3 JOIN h3 ON h3.id = a3.id""".stripMargin
    }),

    // Content-defined chunking dedup, ORACLED: boundaries from a
    // window-8 polynomial hash (mod-64 gate), so the syndicated block
    // planted at DIFFERENT offsets (after each doc's unique prefix) still
    // chunks identically — the shared-run signal fixed-size blocking
    // can't see. The oracle recomputes boundaries, chunks, and shared
    // counts with list comprehensions over the same integer hash family.
    "q98_cdc_dedup" -> Query((s, dir) => {
      val t = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" " + q98Block)).otherwise(lit("")))
      graft.ops.Dedup.cdcDedupStats(
          docs(s, dir).withColumn("text", t), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_chunks"), col("n_distinct"), col("n_shared"))
    }, {
      // q98: boundaries, chunks, and shared-chunk counts recomputed with
      // list comprehensions over the same window-8 mod-(2^31-1) hash family
      // (coefficients interpolated from the Scala kernel's own table)
      val cs = graft.ops.Dedup.cdcCoefs(8)
      val terms = (0 until 8).map(j => s"cps[i - $j] * ${cs(j)}").mkString(" + ")
      val st = "CASE WHEN k = 1 THEN 1 ELSE es[k - 1] + 1 END"
      s"""WITH p AS (SELECT doc_id,
         |    text || (CASE WHEN doc_id % 4 = 0 THEN ' $q98Block' ELSE '' END) AS text
         |  FROM documents),
         |l AS (SELECT doc_id, text,
         |    [ascii(c)::BIGINT FOR c IN string_split(text, '')] AS cps FROM p),
         |b AS (SELECT doc_id, text, len(cps) AS n,
         |    [i FOR i IN range(8, len(cps) + 1)
         |      IF ($terms) % 2147483647 % 64 = 0] AS bs
         |  FROM l),
         |c0 AS (SELECT doc_id, text,
         |    CASE WHEN len(bs) > 0 AND bs[-1] = n
         |      THEN bs ELSE list_append(bs, n) END AS es
         |  FROM b),
         |c AS (SELECT doc_id,
         |    [substr(text, $st, es[k] - ($st) + 1)
         |      FOR k IN range(1, len(es) + 1)] AS chunks
         |  FROM c0),
         |d AS (SELECT DISTINCT doc_id, md5(ch) AS h FROM
         |    (SELECT doc_id, unnest(chunks) AS ch FROM c)),
         |hot AS (SELECT h FROM d GROUP BY h HAVING count(*) >= 2),
         |sh AS (SELECT doc_id, count(*) AS n_shared FROM d JOIN hot USING (h) GROUP BY 1),
         |dn AS (SELECT doc_id, count(*) AS n_distinct FROM d GROUP BY 1)
         |SELECT c.doc_id, len(c.chunks)::BIGINT AS n_chunks,
         |  coalesce(dn.n_distinct, 0)::BIGINT AS n_distinct,
         |  coalesce(sh.n_shared, 0)::BIGINT AS n_shared
         |FROM c LEFT JOIN dn ON dn.doc_id = c.doc_id
         |LEFT JOIN sh ON sh.doc_id = c.doc_id""".stripMargin
    }),

    // Label propagation communities, ORACLED: 3 synchronous self-voting
    // rounds over 8 planted hub-and-ring clusters (star to the class hub
    // + ring within the class) — the min tie-break pulls every member to
    // its hub's label in round 1 and holds it, and the whole schedule
    // replays as unrolled CTEs because nothing is randomized.
    "q99_label_prop" -> Query((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 240).select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"), (col("doc_id") % 8).as("dst"))
        .union(d.select(col("doc_id").as("src"), ((col("doc_id") + 8) % 240).as("dst")))
      graft.ops.Graph.labelPropagation(edges, "src", "dst", iterations = 3)
        .select(col("id").as("doc_id"), col("community"))
    }, {
      // q99: the same 3 self-voting synchronous rounds unrolled — votes =
      // neighbor labels UNION ALL own label, winner = (count desc, label
      // asc) rank 1
      val rounds = (1 to 3).map { k =>
        s"""l$k AS (SELECT id, lbl FROM (
           |  SELECT id, lbl, row_number() OVER
           |      (PARTITION BY id ORDER BY count(*) DESC, lbl) AS rn
           |  FROM (SELECT e.a AS id, l.lbl FROM e JOIN l${k - 1} l ON l.id = e.b
           |        UNION ALL SELECT id, lbl FROM l${k - 1})
           |  GROUP BY id, lbl) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT doc_id AS a, doc_id % 8 AS b FROM documents WHERE doc_id < 240
         |  UNION ALL
         |  SELECT doc_id, (doc_id + 8) % 240 FROM documents WHERE doc_id < 240),
         |e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
         |l0 AS (SELECT DISTINCT a AS id, a AS lbl FROM e),
         |$rounds
         |SELECT id AS doc_id, lbl AS community FROM l3""".stripMargin
    }),

    // Temperature-scaled mixing weights, ORACLED: α=1/2 per-source
    // sampling weights — sqrt is the one sublinear power IEEE requires
    // correctly rounded, so DuckDB recomputes every weight bit-for-bit;
    // quantize-then-sum keeps the total order-independent.
    "q100_mix_weights" -> Query((s, dir) =>
      graft.ops.Curation.temperatureMixWeights(docs(s, dir), "source")
        .select(col("source"), col("n_docs"), col("w_micro"), col("weight")),
      // q100: sqrt is correctly rounded by IEEE-754 in both engines;
      // quantize each sqrt to micro-units, sum the BIGINTs exactly, one
      // floor-quantized division back
      """WITH c AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1),
        |q AS (SELECT source, n_docs,
        |    CAST(floor(sqrt(n_docs) * 1e6 + 0.5) AS BIGINT) AS s FROM c),
        |t AS (SELECT CAST(sum(s) AS BIGINT) AS t FROM q)
        |SELECT source, n_docs,
        |  CAST(floor(s * 1e6 / t.t + 0.5) AS BIGINT) AS w_micro,
        |  CAST(floor(s * 1e6 / t.t + 0.5) AS BIGINT) / 1e6 AS weight
        |FROM q CROSS JOIN t""".stripMargin),

    // Edit-distance near-dup pairs, ORACLED vs DuckDB's NATIVE
    // levenshtein: typo'd title copies planted as extra rows (id+100000,
    // one char rewritten past the blocking prefix) must pair with their
    // originals at dist<=2; the prefix-block + length-band candidate
    // generation replays as an equi-join, never a cartesian.
    "q101_edit_pairs" -> Query((s, dir) => {
      val base = docs(s, dir).filter(col("doc_id") < 300)
        .select(col("doc_id").as("id"), substring(col("text"), 1, 40).as("title"))
      val typo = base.filter(col("id") % 6 === 0)
        .select((col("id") + 100000L).as("id"),
          concat(substring(col("title"), 1, 19), lit("z"),
            substring(col("title"), 21, 20)).as("title"))
      graft.ops.Dedup.editDistancePairs(base.union(typo), "id", "title",
          maxDist = 2, blockPrefix = 4)
        .select(col("id_a"), col("id_b"), col("dist"))
    },
      // q101: DuckDB's native levenshtein is the independent verifier; the
      // same prefix-block + length-band candidates, exact distance filter
      """WITH base AS (SELECT doc_id AS id, substr(text, 1, 40) AS title
        |  FROM documents WHERE doc_id < 300),
        |typo AS (SELECT id + 100000 AS id,
        |    substr(title, 1, 19) || 'z' || substr(title, 21, 20) AS title
        |  FROM base WHERE id % 6 = 0),
        |t AS (SELECT * FROM base UNION ALL SELECT * FROM typo)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
        |FROM t a JOIN t b
        |  ON substr(a.title, 1, 4) = substr(b.title, 1, 4)
        |  AND a.id < b.id
        |  AND abs(len(a.title) - len(b.title)) <= 2
        |WHERE levenshtein(a.title, b.title) <= 2""".stripMargin),

    // Vocabulary growth (exact Heaps curve), ORACLED: tokens + distinct
    // words of each corpus prefix id < T, computed in ONE pass via
    // per-word (min id, prefix counts) instead of |T| rescans.
    "q102_vocab_growth" -> Query((s, dir) =>
      graft.ops.TextOps.vocabularyGrowth(docs(s, dir), "doc_id", "text",
          thresholds = Seq(50L, 100L, 200L, 400L))
        .select(col("threshold"), col("n_tokens"), col("vocab")),
      // q102: per-word min(id) + conditional prefix counts, one aggregate
      // per side — same one-pass shape as the Spark plan
      raw"""WITH w AS (SELECT doc_id AS id,
        |    unnest($wordsSql) AS w
        |  FROM documents),
        |t(threshold) AS (VALUES (50), (100), (200), (400)),
        |pw AS (SELECT w, min(id) AS first_id FROM w GROUP BY w)
        |SELECT t.threshold::BIGINT AS threshold,
        |  (SELECT count(*) FROM w WHERE w.id < t.threshold)::BIGINT AS n_tokens,
        |  (SELECT count(*) FROM pw WHERE pw.first_id < t.threshold)::BIGINT AS vocab
        |FROM t""".stripMargin),

    // Positional phrase search, ORACLED: the 3-term phrase is planted
    // once on the mod-9 slice and TWICE on mod-18 ("catalyst"/"optimizer"
    // are outside the synth vocabulary, so every match is planted and
    // n_matches is 1 or 2 by construction); the oracle recounts with a
    // position-list comprehension instead of adjacency joins.
    "q103_phrase_search" -> Query((s, dir) => {
      val t = concat(col("text"),
        when(col("doc_id") % 9 === 0, lit(" spark catalyst optimizer")).otherwise(lit("")),
        when(col("doc_id") % 18 === 0, lit(" spark catalyst optimizer")).otherwise(lit("")))
      graft.ops.Retrieval.phraseSearch(
          docs(s, dir).withColumn("text", t), "doc_id", "text",
          Seq("spark", "catalyst", "optimizer"))
        .select(col("id").as("doc_id"), col("n_matches"))
    },
      // q103: recount phrase occurrences with a position-list comprehension
      // over the same whitespace tokenization — independent of the
      // adjacency-join machinery
      raw"""WITH p AS (SELECT doc_id, text
        |    || (CASE WHEN doc_id % 9 = 0 THEN ' spark catalyst optimizer' ELSE '' END)
        |    || (CASE WHEN doc_id % 18 = 0 THEN ' spark catalyst optimizer' ELSE '' END) AS text
        |  FROM documents),
        |w AS (SELECT doc_id,
        |    $wordsSql AS ws
        |  FROM p),
        |m AS (SELECT doc_id,
        |    len([i FOR i IN range(1, greatest(len(ws) - 1, 1))
        |      IF ws[i] = 'spark' AND ws[i + 1] = 'catalyst' AND ws[i + 2] = 'optimizer'])::BIGINT
        |      AS n_matches
        |  FROM w)
        |SELECT doc_id, n_matches FROM m WHERE n_matches >= 1""".stripMargin),

    // Feature-hashing embeddings, ORACLED: signed 32-bucket word sums on
    // the shared polyHash family — every (doc, dim, value) cell is exact
    // integer arithmetic DuckDB recomputes from the characters up.
    "q104_hash_embed" -> Query((s, dir) =>
      graft.ops.TextOps.hashEmbedding(
          docs(s, dir).filter(col("doc_id") < 100), "doc_id", "text", dims = 32)
        .select(col("id").as("doc_id"), col("dim"), col("value")),
      // q104: the polyHash fold, bucket, sign, and signed sum all
      // recomputed from the characters up
      raw"""WITH w AS (SELECT doc_id,
        |    unnest($wordsSql) AS w
        |  FROM documents WHERE doc_id < 100),
        |h AS (SELECT doc_id,
        |    ${polyHashSql("w")} AS h
        |  FROM w)
        |SELECT doc_id, h % 32 AS dim,
        |  CAST(sum(CASE WHEN (h // 32) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS value
        |FROM h GROUP BY 1, 2""".stripMargin),

    // Classifier calibration report, ORACLED: planted integer scores with
    // labels drawn so P(label|score) ≈ score — every bin statistic
    // (observed rate, mean confidence, Brier contribution) is exact
    // integer micro-unit arithmetic DuckDB recomputes independently.
    "q105_calibration" -> Query((s, dir) => {
      val p = pmod(col("doc_id") * 37 + 11, lit(1001L)) * lit(1000L)
      val y = (pmod(col("doc_id") * 53 + 7, lit(1000L)) * lit(1000L)) < p
      graft.ops.Curation.calibrationReport(
          docs(s, dir).select(p.as("score_micro"), y.as("label")),
          "score_micro", "label", bins = 10)
        .select(col("bin"), col("n"), col("n_pos"),
          col("conf_micro"), col("acc_micro"), col("brier_micro"))
    },
      // q105: all-positive integer arithmetic, so DuckDB's floor-div `//`
      // and Spark's truncating `div` agree; sums CAST from HUGEINT
      """WITH s AS (SELECT
        |    ((doc_id * 37 + 11) % 1001) * 1000 AS p,
        |    CASE WHEN ((doc_id * 53 + 7) % 1000) * 1000
        |      < ((doc_id * 37 + 11) % 1001) * 1000 THEN 1 ELSE 0 END AS y
        |  FROM documents)
        |SELECT least((p * 10) // 1000000, 9)::BIGINT AS bin,
        |  count(*)::BIGINT AS n,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST(sum(p) // count(*) AS BIGINT) AS conf_micro,
        |  CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS acc_micro,
        |  CAST(sum((p - y * 1000000) * (p - y * 1000000)) // (count(*) * 1000000) AS BIGINT)
        |    AS brier_micro
        |FROM s GROUP BY 1""".stripMargin),

    // Deterministic training-order shuffle, ORACLED: an exact pseudo-
    // random permutation with NO global sort on the Spark side (bucket
    // offsets + partition-local ranks); the oracle just total-orders by
    // the same (bucket, key, id) — two different plans, one permutation.
    "q106_shuffle_order" -> Query((s, dir) =>
      graft.ops.Curation.deterministicShuffle(docs(s, dir), "doc_id", buckets = 32)
        .select(col("id").as("doc_id"), col("bucket"), col("pos")),
      // q106: the oracle may simply total-order by the same (bucket, key,
      // id) — the Spark side proves the same permutation emerges from
      // bucket offsets + local ranks without any SinglePartition
      """WITH k AS (SELECT doc_id,
        |    (doc_id * 1103515245 + 12345) % 2147483647 AS k
        |  FROM documents)
        |SELECT doc_id, k % 32 AS bucket,
        |  row_number() OVER (ORDER BY k % 32, k, doc_id) - 1 AS pos
        |FROM k""".stripMargin),

    // Per-source signature terms, ORACLED: a marker word planted on half
    // of each source's docs must top that source's lift ranking; every
    // lift is exact integer micro-units, the top-5 order is total.
    "q107_signature_terms" -> Query((s, dir) => {
      val t = concat(col("text"),
        when(col("doc_id") % 2 === 0, concat(lit(" sig_"), col("source")))
          .otherwise(lit("")))
      graft.ops.Retrieval.signatureTerms(
          docs(s, dir).withColumn("text", t), "source", "text", k = 5, minCount = 5L)
        .select(col("source"), col("word"), col("n"), col("lift_micro"), col("rank"))
    },
      // q107: identical integer lift and total tiebreak order, HUGEINT
      // sums cast back, floor-div on all-positive terms
      raw"""WITH p AS (SELECT doc_id, source,
        |    text || (CASE WHEN doc_id % 2 = 0 THEN ' sig_' || source ELSE '' END) AS text
        |  FROM documents),
        |w AS (SELECT source,
        |    unnest($wordsSql) AS w
        |  FROM p),
        |sw AS (SELECT source, w, count(*)::BIGINT AS n FROM w GROUP BY 1, 2),
        |cw AS (SELECT w, CAST(sum(n) AS BIGINT) AS cw FROM sw GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM sw GROUP BY 1),
        |nt AS (SELECT CAST(sum(n) AS BIGINT) AS N FROM sw),
        |l AS (SELECT sw.source, sw.w, sw.n,
        |    CAST((sw.n * nt.N * 1000000) // (cw.cw * ns.ns) AS BIGINT) AS lift_micro
        |  FROM sw JOIN cw USING (w) JOIN ns USING (source) CROSS JOIN nt
        |  WHERE sw.n >= 5),
        |r AS (SELECT *, row_number() OVER
        |    (PARTITION BY source ORDER BY lift_micro DESC, n DESC, w ASC) AS rank
        |  FROM l)
        |SELECT source, w AS word, n, lift_micro, rank::BIGINT AS rank
        |FROM r WHERE rank <= 5""".stripMargin),

    // Encoding-junk profile, ORACLED: replacement chars, C0 controls, and
    // UTF-8-as-Latin-1 'Ã' artifacts planted on disjoint residue slices;
    // counts and the micro-unit junk rate replay via the same
    // translate/regexp length diffs.
    "q108_encoding_junk" -> Query((s, dir) => {
      val t = concat(col("text"),
        when(col("doc_id") % 5 === 0, lit("��")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("\u0007")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("Ã©Ã¨")).otherwise(lit("")))
      graft.ops.TextOps.encodingJunk(
          docs(s, dir).withColumn("text", t), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_repl"), col("n_ctrl"),
          col("n_moji"), col("junk_micro"))
    },
      // q108: chr() literals keep the SQL ASCII-clean; same length-diff
      // counting, same control-class regexp, floor-div on non-negatives
      """WITH p AS (SELECT doc_id, text
        |    || (CASE WHEN doc_id % 5 = 0 THEN chr(65533) || chr(65533) ELSE '' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN chr(7) ELSE '' END)
        |    || (CASE WHEN doc_id % 11 = 0
        |        THEN chr(195) || chr(169) || chr(195) || chr(168) ELSE '' END) AS text
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    (len(text) - len(replace(text, chr(65533), '')))::BIGINT AS n_repl,
        |    (len(text) - len(regexp_replace(text,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')))::BIGINT AS n_ctrl,
        |    (len(text) - len(replace(text, chr(195), '')))::BIGINT AS n_moji,
        |    len(text)::BIGINT AS l
        |  FROM p)
        |SELECT doc_id, n_repl, n_ctrl, n_moji,
        |  CAST((n_repl + n_ctrl + n_moji) * 1000000 // greatest(l, 1) AS BIGINT)
        |    AS junk_micro
        |FROM c""".stripMargin),

    // Interval overlap join, ORACLED vs DuckDB's native range join: event
    // intervals (ts, ts + (id%30+1) minutes) per user — the bin-tiled
    // equi-join with report-once dedup must produce exactly the pairs the
    // oracle's theta join finds.
    "q109_interval_overlap" -> Query((s, dir) => {
      val iv = events(s, dir).filter(col("event_id") < 2000)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("s_us"))
        .withColumn("e_us",
          col("s_us") + (pmod(col("event_id"), lit(30L)) + 1L) * lit(60000000L))
      graft.ops.Temporal.intervalOverlapPairs(iv, "user_id", "event_id",
          "s_us", "e_us", binUs = 1800000000L) // 30-min bins
        .select(col("key").as("user_id"), col("id_a"), col("id_b"), col("overlap_us"))
    },
      // q109: DuckDB's native theta range join is the independent verifier
      // for the bin-tiled equi-join + report-once dedup
      """WITH iv AS (SELECT user_id, event_id,
        |    epoch_us(ts) AS s, epoch_us(ts) + ((event_id % 30) + 1) * 60000000 AS e
        |  FROM events WHERE event_id < 2000)
        |SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
        |  least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
        |FROM iv a JOIN iv b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND a.s <= b.e AND b.s <= a.e""".stripMargin),

    // HyperLogLog registers over the word-BIGRAM stream (cardinality in
    // the hundreds — raw HLL's valid regime; the ~30-word unigram vocab
    // would sit in the small-range zone the op documents away), ORACLED:
    // every register is exact integer arithmetic on the mixed polyHash.
    "q110_hll_registers" -> Query((s, dir) =>
      graft.ops.Sketches.hllRegisters(hllBigrams(docs(s, dir)), "w")
        .select(col("bucket"), col("register")),
      // q110/q111: polyHash fold shared with q104 + the Carter-Wegman mix;
      // bit length via printf('%b') — exact integers, no log2 float boundary
      s"""WITH $hllRegisterCtes
         |SELECT bucket, CAST(max(rank) AS BIGINT) AS register
         |FROM r GROUP BY 1""".stripMargin),

    // HLL raw estimate, ORACLED: the 2^(26-reg) sum stays exact-integer;
    // the single α·m²·2²⁶/S float division is identical IEEE order in
    // both engines, quantized to milli-units.
    "q111_hll_estimate" -> Query((s, dir) =>
      graft.ops.Sketches.hllEstimate(
          graft.ops.Sketches.hllRegisters(hllBigrams(docs(s, dir)), "w"))
        .select(col("m"), col("n_buckets"), col("s_scaled"), col("est_milli")),
      s"""WITH $hllRegisterCtes,
         |reg AS (SELECT bucket, CAST(max(rank) AS BIGINT) AS register
         |  FROM r GROUP BY 1),
         |a AS (SELECT count(*)::BIGINT AS n_buckets,
         |    CAST(sum(1::BIGINT << CAST(26 - register AS INT)) AS BIGINT) AS sp
         |  FROM reg)
         |SELECT 64::BIGINT AS m, n_buckets,
         |  sp + (64 - n_buckets) * 67108864 AS s_scaled,
         |  CAST(floor(0.709::DOUBLE * 4096.0 * 67108864.0
         |    / (sp + (64 - n_buckets) * 67108864) * 1000.0 + 0.5) AS BIGINT) AS est_milli
         |FROM a""".stripMargin),

    // Sparse random projection, ORACLED: 64-dim embeddings → 8 signed
    // micro-unit sums under a matrix-free ±1 hash — every output cell is
    // exact integer arithmetic DuckDB recomputes per coordinate pair.
    "q112_random_projection" -> Query((s, dir) =>
      graft.ops.Similarity.randomProjection(
          embeddings(s, dir).filter(col("vec_id") < 200), "vec_id", "embedding",
          outDims = 8)
        .select(col("id").as("vec_id"), col("dim"), col("value")),
      // q112: per-coordinate ±1 hash and signed micro-unit sums recomputed
      // independently (q95's range-join indexing pattern)
      """WITH q AS (SELECT vec_id,
        |    [CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) FOR x IN embedding] AS q
        |  FROM embeddings WHERE vec_id < 200),
        |e AS (SELECT vec_id, t.i, q[t.i] AS qi
        |  FROM q CROSS JOIN range(1, 65) t(i) WHERE t.i <= len(q))
        |SELECT vec_id, j.j AS dim,
        |  CAST(sum(CASE WHEN (((t.i - 1) * 131071 + j.j * 524287) % 2147483647) % 2 = 0
        |    THEN qi ELSE -qi END) AS BIGINT) AS value
        |FROM e t CROSS JOIN range(0, 8) j(j)
        |GROUP BY 1, 2""".stripMargin),

    // MAD outlier gate, ORACLED: per-source robust length trim — both
    // exact medians, the deviation, and every flag replay bit-for-bit
    // (type-1 quantile under the (value, doc_id) total order).
    "q113_mad_outliers" -> Query((s, dir) =>
      graft.ops.Curation.madOutliers(docs(s, dir), "source", "n_chars", "doc_id", k = 3)
        .select(col("id").as("doc_id"), col("key").as("source"),
          col("value").as("n_chars"), col("med"), col("mad"), col("is_outlier")),
      // q113: the q62 rank-arithmetic median replayed twice (values, then
      // absolute deviations), flags integer-compared
      """WITH r AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |med AS (SELECT source, n_chars AS med FROM r WHERE rn = floor((n - 1) / 2) + 1),
        |d AS (SELECT doc_id, source, n_chars, med, abs(n_chars - med) AS dev
        |  FROM documents JOIN med USING (source)),
        |r2 AS (SELECT source, dev,
        |    row_number() OVER (PARTITION BY source ORDER BY dev, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM d),
        |mad AS (SELECT source, dev AS mad FROM r2 WHERE rn = floor((n - 1) / 2) + 1)
        |SELECT doc_id, source, n_chars, med, mad, dev > mad * 3 AS is_outlier
        |FROM d JOIN mad USING (source)""".stripMargin),

    // MinHash fidelity audit, ORACLED: q27's corpus slice (originals +
    // prefix-changed near-dups) paired exhaustively — signature estimate
    // vs exact Jaccard vs absolute error, every cell integer-exact on the
    // production T2 kernels.
    "q114_minhash_fidelity" -> Query((s, dir) => {
      val base = docs(s, dir).filter(col("doc_id") < 30)
      val corpus = base.select(col("doc_id").cast("long").as("id"), col("text"))
        .union(base.select((col("doc_id") + 10000L).as("id"),
          regexp_replace(col("text"), "^(\\S+) (\\S+)", "changed prefix").as("text")))
      graft.ops.Dedup.minhashFidelity(corpus, "id", "text")
        .select(col("id_a"), col("id_b"), col("sig_match_micro"),
          col("jaccard_micro"), col("abs_err_micro"))
    },
      // q114: q27's shingle/signature replay to the raw 32-hash signature,
      // then exhaustive pairs with position-match counting and exact
      // set Jaccard
      raw"""WITH corpus AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents WHERE doc_id < 30
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT) + 10000 AS id,
        |         regexp_replace(text, '^(\S+) (\S+)', 'changed prefix') AS text
        |  FROM documents WHERE doc_id < 30
        |),
        |words AS (
        |  SELECT id, $wordsSql AS w
        |  FROM corpus
        |),
        |sh AS (
        |  SELECT id, list_distinct(
        |    ${wordShinglesSql(3, concatGram = true)}) AS shingles
        |  FROM words
        |),
        |ph AS (
        |  SELECT id, shingles,
        |    [${polyHashSql("sg")} FOR sg IN shingles] AS hb
        |  FROM sh
        |),
        |sigs AS (
        |  SELECT id, shingles,
        |    $minHashSigSql AS sig
        |  FROM ph
        |),
        |p AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(len([i FOR i IN range(1, 33) IF a.sig[i] = b.sig[i]]) * 1000000 // 32
        |      AS BIGINT) AS sig_match_micro,
        |    len(list_intersect(a.shingles, b.shingles))::BIGINT AS i,
        |    (len(a.shingles) + len(b.shingles)
        |      - len(list_intersect(a.shingles, b.shingles)))::BIGINT AS u
        |  FROM sigs a JOIN sigs b ON a.id < b.id
        |)
        |SELECT id_a, id_b, sig_match_micro,
        |  CASE WHEN u = 0 THEN 1000000 ELSE CAST(i * 1000000 // u AS BIGINT) END
        |    AS jaccard_micro,
        |  abs(sig_match_micro - (CASE WHEN u = 0 THEN 1000000
        |    ELSE CAST(i * 1000000 // u AS BIGINT) END)) AS abs_err_micro
        |FROM p""".stripMargin),

    // Key-skew profile, ORACLED: top-10 sources by weight with exact
    // micro-unit corpus shares and the cumulative curve — the total
    // (count desc, key) order makes every rank and cumsum replayable.
    "q115_skew_profile" -> Query((s, dir) =>
      graft.ops.Curation.skewProfile(docs(s, dir), "source", topK = 10)
        .select(col("rank"), col("key").as("source"), col("n"),
          col("share_micro"), col("cum_share_micro")),
      // q115: the same total (count desc, key) order drives rank, share,
      // and the running cumulative sum
      """WITH c AS (SELECT source AS key, count(*)::BIGINT AS n FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
        |r AS (SELECT key, n,
        |    row_number() OVER (ORDER BY n DESC, key) AS rank,
        |    CAST(sum(n) OVER (ORDER BY n DESC, key ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM c)
        |SELECT rank::BIGINT AS rank, key AS source, n,
        |  CAST(n * 1000000 // t.t AS BIGINT) AS share_micro,
        |  CAST(cum * 1000000 // t.t AS BIGINT) AS cum_share_micro
        |FROM r CROSS JOIN t WHERE rank <= 10""".stripMargin),

    // Fixed-width histogram, ORACLED: n_chars in 200-char buckets with
    // exact micro-unit shares and CDF.
    "q116_histogram" -> Query((s, dir) =>
      graft.ops.Curation.histogram(docs(s, dir), "n_chars", width = 200L)
        .select(col("bucket"), col("lo"), col("n"),
          col("share_micro"), col("cum_share_micro")),
      // q116: bucket arithmetic + running CDF, all integer-exact
      """WITH c AS (SELECT n_chars // 200 AS bucket, count(*)::BIGINT AS n
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
        |r AS (SELECT bucket, n,
        |    CAST(sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM c)
        |SELECT bucket, bucket * 200 AS lo, n,
        |  CAST(n * 1000000 // t.t AS BIGINT) AS share_micro,
        |  CAST(cum * 1000000 // t.t AS BIGINT) AS cum_share_micro
        |FROM r CROSS JOIN t""".stripMargin),

    // Reciprocal-rank fusion, ORACLED: the hybrid-search combiner over a
    // lexical top-50 (q57's BM25, TakeOrdered then ranked) and a semantic
    // top-50 (q24's cosine for query vector 0, with vec_id ≡ doc_id) —
    // every reciprocal is integer micro-units, the fused order total.
    "q117_rrf_hybrid" -> Query((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lex = graft.ops.Retrieval.bm25Scores(docs(s, dir), "doc_id", "text",
          Seq("data", "spark", "query", "merge"))
        .orderBy(col("score").desc, col("id")).limit(50)
      val lexRanked = lex.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("id"))))
      val emb = embeddings(s, dir)
      val sem = graft.ops.Similarity.bruteForceTopK(
          emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding", k = 50)
        .select(col("nn_id").as("id"), col("rank"))
      graft.ops.Retrieval.rrfFuse(lexRanked.select(col("id"), col("rank")), sem,
          k = 60, topK = 20)
        .select(col("id").as("doc_id"), col("rank_a"), col("rank_b"),
          col("score_micro"), col("rank"))
    },
      // q117: q57's BM25 replay and q24's cosine replay feed the same
      // integer-reciprocal fusion and total (score desc, id) order
      raw"""WITH d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '[ \t\n\r]+'), x -> x <> '') AS w
        |  FROM documents),
        |b AS (SELECT doc_id, len(w)::BIGINT AS dl, w FROM d),
        |stats AS (SELECT count(*)::BIGINT AS n_docs, round(avg(dl), 6) AS avgdl FROM b),
        |t AS (SELECT doc_id, dl, unnest(w) AS tok FROM b),
        |tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf, max(dl) AS dl
        |  FROM t WHERE tok IN ('data','spark','query','merge') GROUP BY doc_id, tok),
        |idf AS (SELECT tok,
        |    floor(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * 1e6 + 0.5) / 1e6 AS idf
        |  FROM (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok), stats),
        |sc AS (SELECT doc_id,
        |    CAST(floor(idf * (tf * (1.2::DOUBLE + 1.0::DOUBLE)) /
        |      (tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE + 0.75::DOUBLE * dl / avgdl))
        |      * 1e6 + 0.5) AS BIGINT) AS sm
        |  FROM tf JOIN idf USING (tok), stats),
        |lexs AS (SELECT doc_id AS id, sum(sm) / 1e6 AS score FROM sc GROUP BY doc_id),
        |lex AS (SELECT id, rank FROM (SELECT id,
        |    row_number() OVER (ORDER BY score DESC, id) AS rank FROM lexs)
        |  WHERE rank <= 50),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |semscored AS (
        |  ${cosineSql(outer = "nn_id", inner = "c.vec_id AS nn_id",
               from = "q, (SELECT vec_id, embedding AS cv FROM embeddings) c")}),
        |sem AS (SELECT nn_id AS id, rank FROM (SELECT nn_id,
        |    row_number() OVER (ORDER BY sim DESC, nn_id ASC) AS rank FROM semscored)
        |  WHERE rank <= 50),
        |fused AS (SELECT coalesce(lex.id, sem.id) AS doc_id,
        |    lex.rank AS rank_a, sem.rank AS rank_b,
        |    coalesce(1000000 // (60 + lex.rank), 0)
        |      + coalesce(1000000 // (60 + sem.rank), 0) AS score_micro
        |  FROM lex FULL OUTER JOIN sem ON sem.id = lex.id)
        |SELECT doc_id, rank_a::BIGINT AS rank_a, rank_b::BIGINT AS rank_b,
        |  CAST(score_micro AS BIGINT) AS score_micro, rank::BIGINT AS rank
        |FROM (SELECT *, row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank
        |  FROM fused) WHERE rank <= 20""".stripMargin),

    // Dataset card, ORACLED: the one-row corpus datasheet — exact dups
    // planted by duplicating the mod-50 slice so the duplicate-rate
    // figure is exercised, every figure exact-integer.
    "q118_dataset_card" -> Query((s, dir) => {
      val base = docs(s, dir)
      val corpus = base.select(col("doc_id"), col("text"), col("source"), col("lang"))
        .union(base.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id") + 100000L, col("text"), col("source"), col("lang")))
      graft.ops.Curation.datasetCard(corpus, "doc_id", "text", "source", "lang")
        .select(col("n_docs"), col("n_sources"), col("n_langs"), col("n_unique_texts"),
          col("n_tokens"), col("n_chars"), col("dup_rate_micro"), col("mean_doc_chars"))
    },
      // q118: every card figure recomputed exactly; the planted mod-50
      // duplicate slice exercises the dup-rate arithmetic
      """WITH corpus AS (
        |  SELECT doc_id, text, source, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text, source, lang FROM documents WHERE doc_id % 50 = 0),
        |a AS (SELECT count(*)::BIGINT AS n_docs,
        |    count(DISTINCT source)::BIGINT AS n_sources,
        |    count(DISTINCT lang)::BIGINT AS n_langs,
        |    count(DISTINCT md5(text))::BIGINT AS n_unique_texts,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |    CAST(sum(len(text)) AS BIGINT) AS n_chars
        |  FROM corpus)
        |SELECT n_docs, n_sources, n_langs, n_unique_texts, n_tokens, n_chars,
        |  CAST((n_docs - n_unique_texts) * 1000000 // n_docs AS BIGINT) AS dup_rate_micro,
        |  CAST(n_chars // n_docs AS BIGINT) AS mean_doc_chars
        |FROM a""".stripMargin),

    // Pivot (source × lang count matrix), ORACLED: the wide-format corpus
    // mix report — Spark's groupBy().pivot() with an explicit value list
    // (never a collect-driven inferred one) vs conditional sums.
    "q119_pivot_matrix" -> Query((s, dir) =>
      docs(s, dir).groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh")).count()
        .select(col("source"),
          coalesce(col("de"), lit(0L)).as("de"), coalesce(col("en"), lit(0L)).as("en"),
          coalesce(col("es"), lit(0L)).as("es"), coalesce(col("fr"), lit(0L)).as("fr"),
          coalesce(col("zh"), lit(0L)).as("zh")),
      // q119: conditional sums — the long-format dual of the pivot
      """SELECT source,
        |  CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
        |  CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
        |  CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
        |  CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
        |FROM documents GROUP BY source""".stripMargin),

    // Rollup (source, lang) with grouping flags, ORACLED: the OLAP
    // subtotal lattice — per (source, lang), per source, grand total.
    "q120_rollup" -> Query((s, dir) =>
      docs(s, dir).rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          grouping(col("source")).cast("long").as("g_source"),
          grouping(col("lang")).cast("long").as("g_lang"))
        .select(col("source"), col("lang"), col("n_docs"), col("g_source"), col("g_lang")),
      // q120: DuckDB's native ROLLUP + GROUPING is the independent verifier
      """SELECT source, lang, count(*)::BIGINT AS n_docs,
        |  CAST(GROUPING(source) AS BIGINT) AS g_source,
        |  CAST(GROUPING(lang) AS BIGINT) AS g_lang
        |FROM documents GROUP BY ROLLUP (source, lang)""".stripMargin),

    // Retention cohorts, ORACLED: users cohorted by first-activity day ×
    // day offset, distinct-user counts — exact datediff arithmetic.
    "q121_retention" -> Query((s, dir) =>
      graft.ops.Temporal.retentionCohorts(events(s, dir), "user_id", "ts")
        .select(col("cohort_day").cast("string").as("cohort_day"),
          col("day_offset"), col("n_users")),
      // q121: min-date cohorting + datediff recounted (dates rendered as
      // ISO strings so the cross-engine date type never disagrees)
      """WITH a AS (SELECT user_id AS u, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT u, min(d) AS c FROM a GROUP BY u),
        |x AS (SELECT DISTINCT c, d - c AS o, a.u FROM a JOIN f USING (u))
        |SELECT CAST(c AS VARCHAR) AS cohort_day, CAST(o AS BIGINT) AS day_offset,
        |  count(*)::BIGINT AS n_users
        |FROM x GROUP BY 1, 2""".stripMargin),

    // Ordered funnel, ORACLED: signup → view → click → purchase, each
    // stage strictly after the user's previous-stage first event — the
    // earliest-qualifying-event frontier replays as chained min-joins.
    "q122_funnel_sequence" -> Query((s, dir) =>
      graft.ops.Temporal.orderedFunnel(events(s, dir), "user_id", "ts", "event_type",
          Seq("signup", "view", "click", "purchase"))
        .select(col("stage"), col("stage_name"), col("n_users")),
      // q122: the same earliest-qualifying-event frontier as chained
      // min-joins with strict time inequalities
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s3 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1)
        |SELECT 1::BIGINT AS stage, 'signup' AS stage_name, count(*)::BIGINT AS n_users FROM s1
        |UNION ALL SELECT 2, 'view', count(*) FROM s2
        |UNION ALL SELECT 3, 'click', count(*) FROM s3
        |UNION ALL SELECT 4, 'purchase', count(*) FROM s4""".stripMargin),

    // Per-source corpus-health rollup, ORACLED: T91's junk profile (with
    // q108's planted junk) aggregated per source — affected-doc counts
    // per junk class and the source-level junk rate, the table that
    // decides which FEEDS get re-crawled rather than which docs get
    // dropped. Composition query: encodingJunk → join source → one agg.
    "q123_source_health" -> Query((s, dir) => {
      val t = concat(col("text"),
        when(col("doc_id") % 5 === 0, lit("��")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("\u0007")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("Ã©Ã¨")).otherwise(lit("")))
      val d = docs(s, dir).withColumn("text", t)
      graft.ops.TextOps.encodingJunk(d, "doc_id", "text")
        .join(d.select(col("doc_id").as("id"), col("source")), Seq("id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_repl") > 0, 1L).otherwise(0L)).as("docs_repl"),
          sum(when(col("n_ctrl") > 0, 1L).otherwise(0L)).as("docs_ctrl"),
          sum(when(col("n_moji") > 0, 1L).otherwise(0L)).as("docs_moji"),
          sum(when(col("junk_micro") > 0, 1L).otherwise(0L)).as("docs_junk"))
        .withColumn("junk_rate_micro", expr("docs_junk * 1000000 div n_docs"))
        .select(col("source"), col("n_docs"), col("docs_repl"), col("docs_ctrl"),
          col("docs_moji"), col("docs_junk"), col("junk_rate_micro"))
    },
      // q123: q108's junk counting grouped per source
      """WITH p AS (SELECT doc_id, source, text
        |    || (CASE WHEN doc_id % 5 = 0 THEN chr(65533) || chr(65533) ELSE '' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN chr(7) ELSE '' END)
        |    || (CASE WHEN doc_id % 11 = 0
        |        THEN chr(195) || chr(169) || chr(195) || chr(168) ELSE '' END) AS text
        |  FROM documents),
        |c AS (SELECT doc_id, source,
        |    (len(text) - len(replace(text, chr(65533), '')))::BIGINT AS n_repl,
        |    (len(text) - len(regexp_replace(text,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')))::BIGINT AS n_ctrl,
        |    (len(text) - len(replace(text, chr(195), '')))::BIGINT AS n_moji,
        |    len(text)::BIGINT AS l
        |  FROM p),
        |j AS (SELECT doc_id, source, n_repl, n_ctrl, n_moji,
        |    CAST((n_repl + n_ctrl + n_moji) * 1000000 // greatest(l, 1) AS BIGINT) AS jm
        |  FROM c),
        |a AS (SELECT source, count(*)::BIGINT AS n_docs,
        |    CAST(sum(CASE WHEN n_repl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_repl,
        |    CAST(sum(CASE WHEN n_ctrl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_ctrl,
        |    CAST(sum(CASE WHEN n_moji > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_moji,
        |    CAST(sum(CASE WHEN jm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_junk
        |  FROM j GROUP BY 1)
        |SELECT source, n_docs, docs_repl, docs_ctrl, docs_moji, docs_junk,
        |  CAST(docs_junk * 1000000 // n_docs AS BIGINT) AS junk_rate_micro
        |FROM a""".stripMargin),

    // Per-source OOV rate, ORACLED: a tail word ("oovword_<source>") is
    // planted on the mod-6 slice so rates separate; the 20-word head
    // vocabulary is a total (count desc, word) order both engines agree
    // on, and every rate is integer micro-units.
    "q124_oov_rate" -> Query((s, dir) => {
      val t = concat(col("text"),
        when(col("doc_id") % 6 === 0, concat(lit(" oovword_"), col("source")))
          .otherwise(lit("")))
      graft.ops.Retrieval.oovRate(
          docs(s, dir).withColumn("text", t), "source", "text", vocabSize = 20)
        .select(col("source"), col("n_tokens"), col("n_oov"), col("oov_micro"))
    },
      // q124: the same total-ordered head vocabulary and membership flags
      raw"""WITH p AS (SELECT source,
        |    text || (CASE WHEN doc_id % 6 = 0 THEN ' oovword_' || source ELSE '' END) AS text
        |  FROM documents),
        |w AS (SELECT source,
        |    unnest($wordsSql) AS w
        |  FROM p),
        |h AS (SELECT w FROM (SELECT w, row_number() OVER
        |    (ORDER BY count(*) DESC, w) AS rn FROM w GROUP BY w) WHERE rn <= 20),
        |a AS (SELECT source, count(*)::BIGINT AS n_tokens,
        |    CAST(sum(CASE WHEN h.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |  FROM w LEFT JOIN h ON h.w = w.w GROUP BY source)
        |SELECT source, n_tokens, n_oov,
        |  CAST(n_oov * 1000000 // n_tokens AS BIGINT) AS oov_micro
        |FROM a""".stripMargin),

    // Benchmark coverage, ORACLED: an eval set made of real corpus docs
    // (mod-17 slice — fully covered) plus one unseen sentence (never
    // covered) must land strictly between 0 and 1; gram hashing and the
    // distinct-coverage count replay on the shared shingle family.
    "q125_benchmark_coverage" -> Query((s, dir) => {
      val bench = docs(s, dir).filter(col("doc_id") % 17 === 0).select(col("text"))
        .union(s.range(1).select(
          lit("entirely unseen benchmark sentence with outside vocabulary tokens").as("text")))
      graft.ops.Curation.benchmarkCoverage(docs(s, dir), "text", bench, "text", k = 5)
        .select(col("n_eval_grams"), col("n_covered"), col("coverage_micro"))
    },
      // q125: q27's shingle/hash replay for k=5 on both sides; coverage =
      // distinct benchmark hashes found among distinct corpus hashes
      raw"""WITH bm0 AS (SELECT text FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL SELECT 'entirely unseen benchmark sentence with outside vocabulary tokens'),
        |bw AS (SELECT $wordsSql AS w
        |  FROM bm0),
        |bsh AS (SELECT unnest(${wordShinglesSql(5, concatGram = true)}) AS sg FROM bw),
        |bh AS (SELECT DISTINCT
        |    ${polyHashSql("sg")} AS h FROM bsh),
        |cw AS (SELECT $wordsSql AS w
        |  FROM documents),
        |csh AS (SELECT unnest(${wordShinglesSql(5, concatGram = true)}) AS sg FROM cw),
        |ch AS (SELECT DISTINCT
        |    ${polyHashSql("sg")} AS h FROM csh),
        |n AS (SELECT count(*)::BIGINT AS n_eval_grams FROM bh),
        |cov AS (SELECT count(*)::BIGINT AS n_covered FROM bh JOIN ch USING (h))
        |SELECT n_eval_grams, n_covered,
        |  CAST(n_covered * 1000000 // greatest(n_eval_grams, 1) AS BIGINT) AS coverage_micro
        |FROM n CROSS JOIN cov""".stripMargin),

    // Multi-class confusion stats, ORACLED: a deterministic router
    // misclassifies the mod-4 slice one language "to the right" — per-
    // class TP/FP/FN and micro-unit precision/recall/F1 replay exactly.
    "q126_confusion" -> Query((s, dir) => {
      val shifted = when(col("lang") === "en", "de").when(col("lang") === "de", "es")
        .when(col("lang") === "es", "fr").when(col("lang") === "fr", "zh")
        .otherwise("en")
      val d = docs(s, dir).select(col("lang").as("label"),
        when(col("doc_id") % 4 === 0, shifted).otherwise(col("lang")).as("pred"))
      graft.ops.Curation.confusionStats(d, "label", "pred")
        .select(col("clazz"), col("tp"), col("fp"), col("fn"),
          col("precision_micro"), col("recall_micro"), col("f1_micro"))
    },
      // q126: the k² matrix and every per-class figure recomputed
      s"""WITH $confusionCtes
         |SELECT clazz, tp, fp, fn, precision_micro, recall_micro, f1_micro
         |FROM f""".stripMargin),

    // Macro/micro confusion summary, ORACLED: the one-row scorecard over
    // q126's per-class table — macro-F1 as the exact per-class mean,
    // micro metrics from global TP/FP/FN.
    "q127_confusion_summary" -> Query((s, dir) => {
      val shifted = when(col("lang") === "en", "de").when(col("lang") === "de", "es")
        .when(col("lang") === "es", "fr").when(col("lang") === "fr", "zh")
        .otherwise("en")
      val d = docs(s, dir).select(col("lang").as("label"),
        when(col("doc_id") % 4 === 0, shifted).otherwise(col("lang")).as("pred"))
      graft.ops.Curation.confusionSummary(
          graft.ops.Curation.confusionStats(d, "label", "pred"))
        .select(col("n_classes"), col("macro_f1_micro"),
          col("micro_precision_micro"), col("micro_recall_micro"), col("micro_f1_micro"))
    },
      // q127: one aggregate over the same per-class table; micro p/r
      // staged in a CTE so the F1 expression stays readable
      s"""WITH $confusionCtes,
         |s AS (SELECT count(*)::BIGINT AS n_classes,
         |    CAST(sum(f1_micro) // count(*) AS BIGINT) AS macro_f1_micro,
         |    CASE WHEN sum(tp) + sum(fp) = 0 THEN 0
         |      ELSE CAST(sum(tp) * 1000000 // (sum(tp) + sum(fp)) AS BIGINT)
         |    END AS micro_precision_micro,
         |    CASE WHEN sum(tp) + sum(fn) = 0 THEN 0
         |      ELSE CAST(sum(tp) * 1000000 // (sum(tp) + sum(fn)) AS BIGINT)
         |    END AS micro_recall_micro
         |  FROM f)
         |SELECT n_classes, macro_f1_micro, micro_precision_micro, micro_recall_micro,
         |  CASE WHEN micro_precision_micro + micro_recall_micro = 0 THEN 0
         |    ELSE CAST(2 * micro_precision_micro * micro_recall_micro
         |      // (micro_precision_micro + micro_recall_micro) AS BIGINT)
         |  END AS micro_f1_micro
         |FROM s""".stripMargin),

    // Token-budget truncation, ORACLED ON REWRITTEN BYTES: clip every doc
    // to its first 50 whitespace tokens (tokenizer-canonical single-space
    // rejoin) — the context-window preprocessing cut.
    "q128_truncate" -> Query((s, dir) =>
      graft.ops.TextOps.truncateTokens(docs(s, dir), "doc_id", "text", maxTokens = 50)
        .select(col("id").as("doc_id"), col("text"), col("n_tokens"), col("truncated")),
      // q128: the same slice/rejoin over the same tokenization; text
      // BYTE-compared
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS ws FROM documents)
        |SELECT doc_id, array_to_string(ws[1:50], ' ') AS text,
        |  len(ws)::BIGINT AS n_tokens, len(ws) > 50 AS truncated
        |FROM w""".stripMargin),

    // Keep-best cluster resolution, ORACLED: q47's components re-resolved
    // by QUALITY (longest n_chars, ties to min id) instead of min id —
    // the production keep rule; the replay recomputes the closure and the
    // argmax under the same total order.
    "q129_keep_best" -> Query((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 200).select(col("doc_id"))
      val star = d.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id").as("src"), (col("doc_id") - col("doc_id") % 7).as("dst"))
      val bridge = d.filter(col("doc_id") % 13 === 0 && col("doc_id") > 0)
        .select(col("doc_id").as("src"), (col("doc_id") - 1).as("dst"))
      val comps = graft.ops.Curation.connectedComponents(star.union(bridge))
      graft.ops.Curation.keepBestPerCluster(comps,
          docs(s, dir).select(col("doc_id"), col("n_chars")), "doc_id", "n_chars")
        .select(col("comp").as("component"), col("keep_id"),
          col("keep_quality").as("keep_n_chars"), col("n_members"))
    },
      // q129: q47's recursive-CTE closure + an argmax under
      // (n_chars desc, id asc)
      """WITH RECURSIVE base AS (
        |  SELECT doc_id FROM documents WHERE doc_id < 200),
        |ed AS (
        |  SELECT doc_id AS src, doc_id - doc_id % 7 AS dst FROM base WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id, doc_id - 1 FROM base WHERE doc_id % 13 = 0 AND doc_id > 0),
        |e AS (SELECT src AS a, dst AS b FROM ed UNION SELECT dst, src FROM ed),
        |reach AS (
        |  SELECT a AS id, a AS r FROM e
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b),
        |comps AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |j AS (SELECT c.component, c.id, d.n_chars,
        |    row_number() OVER (PARTITION BY c.component
        |      ORDER BY d.n_chars DESC, c.id ASC) AS rn,
        |    count(*) OVER (PARTITION BY c.component) AS n_members
        |  FROM comps c JOIN documents d ON d.doc_id = c.id)
        |SELECT component, id AS keep_id, n_chars AS keep_n_chars,
        |  n_members::BIGINT AS n_members
        |FROM j WHERE rn = 1""".stripMargin),

    // Outlink profile, ORACLED: planted link-farm tails (two urls to one
    // host + one to another, case-varied) — url counts, distinct hosts,
    // and the heaviest-host count replay via the same anchored regexp.
    "q130_outlinks" -> Query((s, dir) => {
      val t = concat(col("text"),
        when(col("doc_id") % 8 === 0,
          lit(" see http://spamfarm.example/a https://Other.Site/x http://SpamFarm.example/b"))
          .otherwise(lit("")),
        when(col("doc_id") % 16 === 0, lit(" http://spamfarm.example/c"))
          .otherwise(lit("")))
      graft.ops.TextOps.outlinkStats(
          docs(s, dir).withColumn("text", t), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_urls"), col("n_hosts"), col("max_host_urls"))
    },
      // q130: same anchored regexp, lowercased hosts, list arithmetic
      """WITH p AS (SELECT doc_id, text
        |    || (CASE WHEN doc_id % 8 = 0
        |        THEN ' see http://spamfarm.example/a https://Other.Site/x http://SpamFarm.example/b'
        |        ELSE '' END)
        |    || (CASE WHEN doc_id % 16 = 0 THEN ' http://spamfarm.example/c' ELSE '' END)
        |    AS text
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    list_transform(regexp_extract_all(text, 'https?://([^/\s]+)', 1),
        |      x -> lower(x)) AS hl
        |  FROM p)
        |SELECT doc_id, len(hl)::BIGINT AS n_urls,
        |  len(list_distinct(hl))::BIGINT AS n_hosts,
        |  coalesce(list_max([len(list_filter(hl, x -> x = hh))
        |    FOR hh IN list_distinct(hl)]), 0)::BIGINT AS max_host_urls
        |FROM h""".stripMargin),

    // Code-line profile, ORACLED: a code block (indent/brace/keyword
    // lines) planted on the mod-10 slice via the ' the '→'\n' line trick;
    // the SAME pattern string drives both engines (escaping per dialect).
    "q131_code_lines" -> Query((s, dir) => {
      val t = concat(expr("replace(text, ' the ', '\n')"),
        when(col("doc_id") % 10 === 0,
          lit("\ndef main() {\n    return 42;\n}\n// done")).otherwise(lit("")))
      graft.ops.TextOps.codeLineStats(
          docs(s, dir).withColumn("text", t), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_lines"), col("n_code_lines"),
          col("code_micro"))
    }, {
      // q131: the shared pattern interpolated verbatim (DuckDB literals
      // keep backslashes); list_filter + regexp_matches per line
      val pat = graft.ops.TextOps.CodeLinePattern
      s"""WITH p AS (SELECT doc_id, replace(text, ' the ', chr(10))
         |    || (CASE WHEN doc_id % 10 = 0
         |        THEN chr(10) || 'def main() {' || chr(10) || '    return 42;'
         |          || chr(10) || '}' || chr(10) || '// done'
         |        ELSE '' END) AS text
         |  FROM documents),
         |l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM p)
         |SELECT doc_id, len(ls)::BIGINT AS n_lines,
         |  len(list_filter(ls, x -> regexp_matches(x, '$pat')))::BIGINT AS n_code_lines,
         |  CAST(len(list_filter(ls, x -> regexp_matches(x, '$pat'))) * 1000000
         |    // greatest(len(ls), 1) AS BIGINT) AS code_micro
         |FROM l""".stripMargin
    }),

    // Centroid similarity matrix, ORACLED: per-label embedding centroids
    // under the exact-integer protocol, all 45 label pairs' cosines in
    // micro-units — one float step, same IEEE order both engines.
    "q132_centroid_sim" -> Query((s, dir) =>
      graft.ops.Clustering.centroidSimilarity(embeddings(s, dir), "label", "embedding")
        .select(col("key_a").cast("long").as("label_a"),
          col("key_b").cast("long").as("label_b"), col("sim_micro")),
      // q132: quantize → per-dim centroid → ordered centroid arrays →
      // pair cosines, every integer step exact, one IEEE division
      s"""WITH $centroidCtes,
         |p AS (SELECT a.key AS label_a, b.key AS label_b,
        |    list_reduce(list_prepend(0::BIGINT,
        |      [a.cv[i] * b.cv[i] FOR i IN range(1, len(a.cv) + 1)]),
        |      (x, y) -> x + y) AS dot,
        |    list_reduce(list_prepend(0::BIGINT,
        |      [a.cv[i] * a.cv[i] FOR i IN range(1, len(a.cv) + 1)]),
        |      (x, y) -> x + y) AS na,
        |    list_reduce(list_prepend(0::BIGINT,
        |      [b.cv[i] * b.cv[i] FOR i IN range(1, len(b.cv) + 1)]),
        |      (x, y) -> x + y) AS nb
        |  FROM cent a JOIN cent b ON a.key < b.key)
        |SELECT CAST(label_a AS BIGINT) AS label_a, CAST(label_b AS BIGINT) AS label_b,
        |  CASE WHEN na = 0 OR nb = 0 THEN 0
        |    ELSE CAST(floor(dot * 1000000.0 / (sqrt(na) * sqrt(nb)) + 0.5) AS BIGINT)
        |  END AS sim_micro
        |FROM p""".stripMargin),

    // Intra-cluster dispersion, ORACLED with ZERO float steps: per-label
    // mean squared distance to the exact-integer centroid.
    "q133_dispersion" -> Query((s, dir) =>
      graft.ops.Clustering.clusterDispersion(embeddings(s, dir), "label", "embedding")
        .select(col("key").cast("long").as("label"), col("n_vecs"), col("mean_sq_dist")),
      // q133: per-vector Σ(diff)² against the same centroid arrays, mean
      // by integer division — all-BIGINT, nothing to round
      s"""WITH $centroidCtes,
         |d AS (SELECT q.key,
         |    list_reduce(list_prepend(0::BIGINT,
         |      [(q.vm[i] - cent.cv[i]) * (q.vm[i] - cent.cv[i])
         |        FOR i IN range(1, len(q.vm) + 1)]),
         |      (x, y) -> x + y) AS sq
         |  FROM q JOIN cent USING (key))
         |SELECT CAST(key AS BIGINT) AS label, count(*)::BIGINT AS n_vecs,
         |  CAST(CAST(sum(sq) AS BIGINT) // count(*) AS BIGINT) AS mean_sq_dist
         |FROM d GROUP BY key""".stripMargin),

    // Lexical-diversity ladder, ORACLED: distinct/total word n-grams for
    // n=1..3 in exact micro-units, over docs bounded to the first 300.
    "q134_lexical_diversity" -> Query((s, dir) =>
      graft.ops.TextOps.lexicalDiversity(
          docs(s, dir).filter(col("doc_id") < 300), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n"), col("n_total"),
          col("n_distinct"), col("ttr_micro")),
      // q134: the same shifted-slice n-grams and distinct/total arithmetic
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents WHERE doc_id < 300),
        |g AS (SELECT doc_id, ws,
        |    [ws[i] || ' ' || ws[i + 1] FOR i IN range(1, len(ws))] AS g2,
        |    [ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
        |      FOR i IN range(1, greatest(len(ws) - 1, 1))] AS g3
        |  FROM w),
        |u AS (
        |  SELECT doc_id, 1::BIGINT AS n, len(ws)::BIGINT AS n_total,
        |    len(list_distinct(ws))::BIGINT AS n_distinct FROM g
        |  UNION ALL
        |  SELECT doc_id, 2, len(g2), len(list_distinct(g2)) FROM g
        |  UNION ALL
        |  SELECT doc_id, 3, len(g3), len(list_distinct(g3)) FROM g)
        |SELECT doc_id, n, n_total, n_distinct,
        |  CAST(n_distinct * 1000000 // greatest(n_total, 1) AS BIGINT) AS ttr_micro
        |FROM u""".stripMargin),

    // Mix feasibility, ORACLED: a 100k-token budget allocated by
    // √(token)-temperature weights; per-source epoch/repeat factors in
    // exact micro-units (the data-constrained pre-training check).
    "q135_mix_feasibility" -> Query((s, dir) =>
      graft.ops.Curation.mixFeasibility(docs(s, dir), "source",
          graft.ops.TextOps.tokenCount(col("text")), budgetTokens = 100000L)
        .select(col("source"), col("available_tokens"), col("target_tokens"),
          col("repeat_micro"), col("repeats")),
      // q135: token totals → quantized sqrt weights → budget allocation →
      // epoch factors, all floor-div on non-negatives
      """WITH t AS (SELECT source,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
        |      AS available_tokens
        |  FROM documents GROUP BY 1),
        |q AS (SELECT source, available_tokens,
        |    CAST(floor(sqrt(available_tokens) * 1e6 + 0.5) AS BIGINT) AS s FROM t),
        |tt AS (SELECT CAST(sum(s) AS BIGINT) AS t FROM q),
        |a AS (SELECT source, available_tokens,
        |    (s * 1000000 // tt.t) * 100000 // 1000000 AS target_tokens
        |  FROM q CROSS JOIN tt)
        |SELECT source, available_tokens, CAST(target_tokens AS BIGINT) AS target_tokens,
        |  CAST(target_tokens * 1000000 // greatest(available_tokens, 1) AS BIGINT)
        |    AS repeat_micro,
        |  CAST((target_tokens * 1000000 // greatest(available_tokens, 1) + 999999)
        |    // 1000000 AS BIGINT) AS repeats
        |FROM a""".stripMargin),

    // Inlink profile, ORACLED: q130's planted link-farm tails inverted
    // to the target side — per host, total references, distinct
    // referring docs, and the heaviest single-doc count.
    "q136_inlinks" -> Query((s, dir) => {
      val t = concat(col("text"),
        when(col("doc_id") % 8 === 0,
          lit(" see http://spamfarm.example/a https://Other.Site/x http://SpamFarm.example/b"))
          .otherwise(lit("")),
        when(col("doc_id") % 16 === 0, lit(" http://spamfarm.example/c"))
          .otherwise(lit("")))
      graft.ops.TextOps.inlinkStats(
          docs(s, dir).withColumn("text", t), "doc_id", "text")
        .select(col("host"), col("n_refs"), col("n_docs"), col("max_doc_refs"))
    },
      // q136: q130's planted tails inverted — unnest hosts, two-level agg
      """WITH p AS (SELECT doc_id, text
        |    || (CASE WHEN doc_id % 8 = 0
        |        THEN ' see http://spamfarm.example/a https://Other.Site/x http://SpamFarm.example/b'
        |        ELSE '' END)
        |    || (CASE WHEN doc_id % 16 = 0 THEN ' http://spamfarm.example/c' ELSE '' END)
        |    AS text
        |  FROM documents),
        |e AS (SELECT doc_id,
        |    lower(unnest(regexp_extract_all(text, 'https?://([^/\s]+)', 1))) AS host
        |  FROM p),
        |d AS (SELECT host, doc_id, count(*) AS n_refs FROM e GROUP BY 1, 2)
        |SELECT host, CAST(sum(n_refs) AS BIGINT) AS n_refs,
        |  count(*)::BIGINT AS n_docs, CAST(max(n_refs) AS BIGINT) AS max_doc_refs
        |FROM d GROUP BY host""".stripMargin),

    // Head–tail stitch pairs, ORACLED: a 6-token doc-unique boundary
    // phrase appended to the mod-9 slice and prepended to its successor;
    // the tokenize → slice → polyHash → join → exact-verify pipeline
    // replays bit-for-bit (the hash is the q22 codepoint fold).
    "q137_stitch" -> Query((s, dir) => {
      def phrase(id: org.apache.spark.sql.Column) =
        concat(lit("chronicle "), id, lit(" segment "), id, lit(" continues here"))
      val t = when(col("doc_id") % 9 === 0,
          concat(col("text"), lit(" "), phrase(col("doc_id"))))
        .when(col("doc_id") % 9 === 1,
          concat(phrase(col("doc_id") - 1), lit(" "), col("text")))
        .otherwise(col("text"))
      graft.ops.Dedup.stitchPairs(
          docs(s, dir).withColumn("text", t), "doc_id", "text", k = 6)
        .select(col("src_id"), col("dst_id"), col("boundary_hash"))
    },
      // q137: same boundary slices, string-equality join, and the q22
      // codepoint polynomial on the matched boundary
      raw"""WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 9 = 0
        |      THEN text || ' chronicle ' || doc_id || ' segment ' || doc_id
        |        || ' continues here'
        |    WHEN doc_id % 9 = 1
        |      THEN 'chronicle ' || (doc_id - 1) || ' segment ' || (doc_id - 1)
        |        || ' continues here ' || text
        |    ELSE text END AS text
        |  FROM documents),
        |w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM p),
        |b AS (SELECT doc_id,
        |    array_to_string(ws[1:6], ' ') AS head,
        |    array_to_string(ws[len(ws)-5:len(ws)], ' ') AS tail
        |  FROM w WHERE len(ws) >= 12)
        |SELECT t.doc_id AS src_id, h.doc_id AS dst_id,
        |  ${polyHashSql("t.tail")} AS boundary_hash
        |FROM b t JOIN b h ON t.tail = h.head AND t.doc_id <> h.doc_id""".stripMargin),

    // DSIR-style relevance, ORACLED: hashed-bucket token counts for the
    // src7 target vs the rest, Laplace-smoothed micro probabilities, and
    // the per-doc integer mean ratio — polyHash buckets replay exactly.
    "q138_dsir" -> Query((s, dir) =>
      graft.ops.Retrieval.dsirRelevance(docs(s, dir), "doc_id", "source",
          "text", targetSource = "src7", buckets = 4096)
        .select(col("id").as("doc_id"), col("n_tokens"), col("relevance_micro")),
      // q138: polyHash-mod-4096 buckets, smoothed micro probabilities,
      // integer ratio and per-doc mean — every step floor-div on BIGINTs
      raw"""WITH t AS (SELECT doc_id, source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |tk AS (SELECT doc_id, source,
        |    ${polyHashSql("w")} % 4096 AS b
        |  FROM t WHERE w <> ''),
        |st AS (SELECT b,
        |    CAST(sum(CASE WHEN source = 'src7' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN source <> 'src7' THEN 1 ELSE 0 END) AS BIGINT) AS cr
        |  FROM tk GROUP BY b),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr
        |  FROM st),
        |r AS (SELECT b,
        |    ((ct + 1) * 1000000 // (nt + 4096)) * 1000000
        |      // greatest((cr + 1) * 1000000 // (nr + 4096), 1) AS ratio
        |  FROM st CROSS JOIN tot)
        |SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |  CAST(CAST(sum(ratio) AS BIGINT) // count(*) AS BIGINT) AS relevance_micro
        |FROM tk JOIN r USING (b) GROUP BY doc_id""".stripMargin),

    // Inter-arrival profile, ORACLED: per-user event gaps in epoch
    // micros — min, truncated mean, exact type-1 p95 under the
    // (gap, event_id) total order.
    "q139_interarrival" -> Query((s, dir) =>
      graft.ops.Temporal.interArrival(events(s, dir), "user_id", "ts",
          "event_id", p = 95)
        .select(col("key").cast("long").as("user_id"), col("n_gaps"),
          col("min_gap_us"), col("mean_gap_us"), col("p_gap_us")),
      // q139: lag over (user, ts, event_id), rank over (gap, event_id),
      // the same rank formula picks the percentile gap
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id FROM events),
        |g AS (SELECT user_id, event_id,
        |    ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM e),
        |f AS (SELECT user_id, event_id, gap FROM g WHERE gap IS NOT NULL),
        |r AS (SELECT user_id, gap,
        |    row_number() OVER (PARTITION BY user_id ORDER BY gap, event_id) AS rk
        |  FROM f),
        |s AS (SELECT user_id, count(*)::BIGINT AS n_gaps,
        |    CAST(min(gap) AS BIGINT) AS min_gap_us,
        |    CAST(CAST(sum(gap) AS BIGINT) // count(*) AS BIGINT) AS mean_gap_us
        |  FROM f GROUP BY user_id)
        |SELECT s.user_id, s.n_gaps, s.min_gap_us, s.mean_gap_us,
        |  CAST(r.gap AS BIGINT) AS p_gap_us
        |FROM s JOIN r ON r.user_id = s.user_id
        |  AND r.rk = (95 * s.n_gaps + 99) // 100""".stripMargin),

    // Tokenizer fertility per source, ORACLED: q93's greedy WordPiece
    // kernel aggregated per feed — pieces/word and UNK rates in exact
    // micro-units against the same recursive longest-match replay.
    "q140_fertility" -> Query((s, dir) => {
      graft.ops.TextOps.wordpieceFertility(docs(s, dir), "source", "text", wpVocab)
        .select(col("key").as("source"), col("n_words"), col("n_pieces"),
          col("n_unk"), col("fertility_micro"), col("unk_micro"))
    }, {
      // q140: q93's recursive longest-match walk, aggregated per source
      // with the micro-unit fertility/UNK divisions
      val vlist = wpVocab.map(p => s"'$p'").mkString(", ")
      s"""WITH RECURSIVE
         |vocab AS (SELECT unnest([$vlist]) AS piece),
         |words AS (SELECT source,
         |    unnest($wordsSql) AS w
         |  FROM documents),
         |wc AS (SELECT source, w, count(*)::BIGINT AS cnt FROM words GROUP BY 1, 2),
         |uw AS (SELECT DISTINCT w FROM wc),
         |pos AS (SELECT w, t.j AS i FROM uw, range(0, 100) t(j)
         |  WHERE length(w) <= 100 AND t.j < length(w)),
         |lm AS (SELECT p.w, p.i,
         |    max(CASE WHEN p.i = 0 THEN length(v.piece) ELSE length(v.piece) - 2 END)::BIGINT AS l
         |  FROM pos p JOIN vocab v ON (
         |    (p.i = 0 AND v.piece NOT LIKE '##%'
         |      AND substr(p.w, 1, length(v.piece)) = v.piece)
         |    OR (p.i > 0 AND v.piece LIKE '##%' AND length(v.piece) > 2
         |      AND substr(p.w, p.i + 1, length(v.piece) - 2) = substr(v.piece, 3)))
         |  GROUP BY 1, 2),
         |walk(w, i, pieces) AS (
         |  SELECT w, 0::BIGINT, 0::BIGINT FROM uw WHERE length(w) BETWEEN 1 AND 100
         |  UNION ALL
         |  SELECT k.w, k.i + lm.l, k.pieces + 1 FROM walk k
         |  JOIN lm ON lm.w = k.w AND lm.i = k.i
         |  WHERE k.i < length(k.w)),
         |done AS (SELECT w, min(pieces)::BIGINT AS pieces FROM walk
         |  WHERE i = length(w) GROUP BY 1),
         |encw AS (SELECT uw.w, coalesce(d.pieces, 1)::BIGINT AS pieces,
         |    (CASE WHEN d.w IS NULL THEN 1 ELSE 0 END)::BIGINT AS unk
         |  FROM uw LEFT JOIN done d ON d.w = uw.w),
         |agg AS (SELECT wc.source,
         |    CAST(sum(wc.cnt) AS BIGINT) AS n_words,
         |    CAST(sum(wc.cnt * e.pieces) AS BIGINT) AS n_pieces,
         |    CAST(sum(wc.cnt * e.unk) AS BIGINT) AS n_unk
         |  FROM wc JOIN encw e ON e.w = wc.w GROUP BY 1)
         |SELECT source, n_words, n_pieces, n_unk,
         |  CAST(n_pieces * 1000000 // greatest(n_words, 1) AS BIGINT) AS fertility_micro,
         |  CAST(n_unk * 1000000 // greatest(n_words, 1) AS BIGINT) AS unk_micro
         |FROM agg""".stripMargin
    }),

    // Per-source length Gini, ORACLED: the exact rank formula on
    // n_chars, one integer division at the end.
    "q141_gini" -> Query((s, dir) =>
      graft.ops.Curation.giniByKey(docs(s, dir), "source", "n_chars")
        .select(col("key").as("source"), col("n"), col("total"), col("gini_micro")),
      // q141: ascending rank per source, the same Chebyshev-nonnegative
      // numerator, one floor division
      """WITH r AS (SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS i
        |  FROM documents)
        |SELECT source, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS total,
        |  CAST((2 * CAST(sum(i * n_chars) AS BIGINT)
        |      - (count(*) + 1) * CAST(sum(n_chars) AS BIGINT)) * 1000000
        |    // greatest(count(*) * CAST(sum(n_chars) AS BIGINT), 1) AS BIGINT)
        |    AS gini_micro
        |FROM r GROUP BY source""".stripMargin),

    // Spearman signal redundancy, ORACLED: exact-integer rho between doc
    // length and token count per source, ranks under (value, doc_id)
    // total orders — no averaged ties, no float covariance.
    "q142_spearman" -> Query((s, dir) =>
      graft.ops.Curation.spearmanByKey(
          docs(s, dir).withColumn("toks",
            graft.ops.TextOps.tokenCount(col("text"))),
          "source", "n_chars", "toks", "doc_id")
        .select(col("key").as("source"), col("n"), col("sum_d2"), col("rho_micro")),
      // q142: the same two total-ordered rank windows and the closed-form
      // rho, one integer division (operands nonnegative)
      """WITH t AS (SELECT source, doc_id, n_chars,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS toks
        |  FROM documents),
        |r AS (SELECT source,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS ra,
        |    row_number() OVER (PARTITION BY source ORDER BY toks, doc_id) AS rb
        |  FROM t)
        |SELECT source, count(*)::BIGINT AS n,
        |  CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
        |  CAST(1000000 - (6000000 * CAST(sum((ra - rb) * (ra - rb)) AS BIGINT))
        |    // (count(*) * (count(*) * count(*) - 1)) AS BIGINT) AS rho_micro
        |FROM r GROUP BY source HAVING count(*) >= 2""".stripMargin),

    // Dedup cluster-size profile, ORACLED: q129's planted component
    // structure summarized into the end-of-run dedup report.
    "q143_cluster_sizes" -> Query((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 200).select(col("doc_id"))
      val star = d.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id").as("src"), (col("doc_id") - col("doc_id") % 7).as("dst"))
      val bridge = d.filter(col("doc_id") % 13 === 0 && col("doc_id") > 0)
        .select(col("doc_id").as("src"), (col("doc_id") - 1).as("dst"))
      val comps = graft.ops.Curation.connectedComponents(star.union(bridge))
      graft.ops.Curation.clusterSizeProfile(comps, "comp")
        .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
          col("share_micro"))
    },
      // q143: q129's recursive closure → component sizes → size histogram
      // with exact micro shares
      """WITH RECURSIVE base AS (
        |  SELECT doc_id FROM documents WHERE doc_id < 200),
        |ed AS (
        |  SELECT doc_id AS src, doc_id - doc_id % 7 AS dst FROM base WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id, doc_id - 1 FROM base WHERE doc_id % 13 = 0 AND doc_id > 0),
        |e AS (SELECT src AS a, dst AS b FROM ed UNION SELECT dst, src FROM ed),
        |reach AS (
        |  SELECT a AS id, a AS r FROM e
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b),
        |comps AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |s AS (SELECT component, count(*)::BIGINT AS sz FROM comps GROUP BY 1),
        |tot AS (SELECT CAST(sum(sz) AS BIGINT) AS n FROM s)
        |SELECT sz AS cluster_size, count(*)::BIGINT AS n_clusters,
        |  CAST(sz * count(*) AS BIGINT) AS n_docs,
        |  CAST(sz * count(*) * 1000000 // tot.n AS BIGINT) AS share_micro
        |FROM s CROSS JOIN tot GROUP BY sz, tot.n""".stripMargin),

    // Exact duplicated-span removal, ORACLED ON REWRITTEN BYTES: a
    // 10-token syndicated sentence planted on the mod-5 slice; every copy
    // after the first (by (doc_id, pos)) is cut in k=8 windows and the
    // doc reassembled. Full hash-pipeline replay: gram polyHash → rank
    // window → string verify vs the first occurrence → position marks →
    // token filter, so 31-bit collision groups behave identically in
    // both engines (verify failures keep the span, conservatively).
    "q144_span_dedup" -> Query((s, dir) =>
      graft.ops.Dedup.removeDuplicateSpans(
        docs(s, dir).withColumn("text", concat(col("text"),
          when(col("doc_id") % 5 === 0,
            lit(" breaking syndicated wire copy repeats across mirror sites verbatim tonight"))
            .otherwise(lit("")))),
        "doc_id", "text", k = 8)
        .select(col("id").as("doc_id"), col("text"), col("n_tokens"), col("n_removed")),
      // q144: the same hash pipeline replayed — gram polyHash (q137's
      // list_reduce fold), first-occurrence rank window, string verify,
      // position marks, token filter, ordered string_agg reassembly
      raw"""WITH p AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' breaking syndicated wire copy repeats across mirror sites verbatim tonight'
        |      ELSE '' END AS text
        |  FROM documents),
        |w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM p),
        |g AS (SELECT doc_id, i AS pos, array_to_string(ws[i:i+7], ' ') AS gs
        |      FROM w, unnest(range(1, len(ws) - 6)) AS t(i) WHERE len(ws) >= 8),
        |h AS (SELECT doc_id, pos, gs,
        |        ${polyHashSql("gs")} AS gh FROM g),
        |r AS (SELECT doc_id, pos, gs, gh,
        |        row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn,
        |        first_value(gs) OVER (PARTITION BY gh ORDER BY doc_id, pos) AS fgs
        |      FROM h),
        |m AS (SELECT doc_id, list(pos) AS marks FROM r WHERE rn > 1 AND gs = fgs GROUP BY doc_id),
        |kept AS (SELECT w.doc_id, i, ws[i] AS tok
        |         FROM w LEFT JOIN m ON w.doc_id = m.doc_id, unnest(range(1, len(ws)+1)) AS t(i)
        |         WHERE m.marks IS NULL OR len(list_filter(m.marks, x -> i >= x AND i < x + 8)) = 0),
        |a AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text,
        |        count(*)::BIGINT AS n_kept FROM kept GROUP BY doc_id)
        |SELECT w.doc_id, coalesce(a.text, '') AS text,
        |  CAST(len(ws) AS BIGINT) AS n_tokens,
        |  CAST(len(ws) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
        |FROM w LEFT JOIN a ON w.doc_id = a.doc_id""".stripMargin),

    // WARC sink + source round-trip, ORACLED: the documents table is
    // written as real Common-Crawl-layout .warc.gz shards (one gzip
    // member per record, one file per partition) by the distributed
    // Warc sink, read back through the DataSourceV2 WarcSource, and the
    // (url, status, timestamp, byte length, body polyHash) projection is
    // recomputed by DuckDB straight from the documents table — any drift
    // in the writer, the parser, the HTTP envelope, or the ISO-8601 date
    // round-trip breaks the hash compare.
    "q145_warc_roundtrip" -> Query((s, dir) => {
      val out = fixtureDir("graft_warc_", dir)
      graft.sources.Warc.write(warcCapture(docs(s, dir)), out)
      readWarc(s, out)
        .select(Seq(col("url"),
          col("http_status").cast("long").as("http_status"),
          unix_seconds(col("warc_ts")).as("ts_sec")) ++ bodyDigest: _*)
    },
      // q145: the round-trip projection recomputed straight from the
      // documents table — url construction, fixed status, epoch+id
      // timestamp, UTF-8 byte length, q22's codepoint polynomial
      raw"""SELECT 'http://' || source || '.example/doc/' || doc_id AS url,
        |  CAST(200 AS BIGINT) AS http_status,
        |  CAST(1577836800 + doc_id AS BIGINT) AS ts_sec,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  ${polyHashSql("text")} AS body_hash
        |FROM documents""".stripMargin),

    // Relative per-key quality gate, ORACLED: keep the best 25% of each
    // source by length under a (n_chars desc, doc_id) total order — the
    // FineWeb-style per-dump fraction cut, calibrated per key where an
    // absolute threshold isn't.
    "q146_keep_fraction" -> Query((s, dir) =>
      graft.ops.Curation.keepTopFractionPerKey(
          docs(s, dir).select(col("source"), col("doc_id"), col("n_chars")),
          "source", "n_chars", "doc_id", keepMicro = 250000L)
        .select(col("source"), col("doc_id"), col("n_chars")),
      // q146: the same rank/count windows and the integer ceil
      """WITH r AS (SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, doc_id, n_chars FROM r
        |WHERE rn <= (n * 250000 + 999999) // 1000000""".stripMargin),

    // Per-column exact profile, ORACLED: the snapshot audit table — one
    // aggregate pass, native-type min/max, exact distincts (the four
    // count-distincts share one Expand; text itself is NOT profiled).
    "q147_column_profile" -> Query((s, dir) =>
      graft.ops.Curation.profileColumns(
          docs(s, dir), Seq("doc_id", "lang", "source", "n_chars"))
        .select(col("column"), col("n_rows"), col("n_null"), col("n_distinct"),
          col("min_s"), col("max_s")),
      // q147: per-column audit recomputed independently (one SELECT per
      // column, UNION ALL — DuckDB's planner fuses the scans)
      Seq("doc_id", "lang", "source", "n_chars").map(c =>
        s"""SELECT '$c' AS "column", count(*)::BIGINT AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  count(DISTINCT $c)::BIGINT AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_s,
           |  CAST(max($c) AS VARCHAR) AS max_s
           |FROM documents""".stripMargin).mkString("\nUNION ALL\n")),

    // URL pattern profile, ORACLED: crawl-trap detection over urls built
    // from the documents table — a calendar trap (per-doc distinct urls,
    // one shape), a paginated template, and a static page.
    "q148_url_patterns" -> Query((s, dir) => {
      val d = docs(s, dir)
      val urls = d.filter(col("doc_id") % 3 === 0)
        .select(concat(lit("http://cal."), col("source"),
          lit(".example/2020/"), col("doc_id") % 12 + 1, lit("/day-"), col("doc_id")).as("url"))
        .union(d.filter(col("doc_id") % 3 === 1)
          .select(concat(lit("http://shop."), col("source"),
            lit(".example/product/"), col("doc_id")).as("url")))
        .union(d.filter(col("doc_id") % 3 === 2)
          .select(concat(lit("http://shop."), col("source"),
            lit(".example/about")).as("url")))
      graft.ops.WebOps.urlPatternProfile(urls, "url", minUrls = 2L)
        .select(col("host"), col("pattern"), col("n_urls"), col("n_distinct"))
    },
      // q148: same url construction, host regexp, digit-run collapse
      """WITH u AS (
        |  SELECT 'http://cal.' || source || '.example/2020/' || (doc_id % 12 + 1)
        |    || '/day-' || doc_id AS url FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 'http://shop.' || source || '.example/product/' || doc_id
        |  FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT 'http://shop.' || source || '.example/about'
        |  FROM documents WHERE doc_id % 3 = 2),
        |s AS (SELECT
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1)) AS host,
        |    regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
        |      '[0-9]+', '#', 'g') AS pattern,
        |    url FROM u)
        |SELECT host, pattern, count(*)::BIGINT AS n_urls,
        |  count(DISTINCT url)::BIGINT AS n_distinct
        |FROM s WHERE host <> '' GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    // Per-key exact quantiles, ORACLED: the per-feed length percentile
    // table (p25/p50/p95) under a (n_chars, doc_id) total order.
    "q149_quantiles_by_key" -> Query((s, dir) =>
      graft.ops.Curation.quantilesByKey(
          docs(s, dir), "source", "n_chars", "doc_id",
          Seq(250000L, 500000L, 950000L))
        .select(col("key").as("source"), col("p_micro"), col("n"), col("value")),
      // q149: the same rank/count windows + ceil-rank match
      """WITH r AS (SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |p AS (SELECT CAST(unnest([250000, 500000, 950000]) AS BIGINT) AS p_micro)
        |SELECT source, p_micro, CAST(n AS BIGINT) AS n, n_chars AS value
        |FROM r CROSS JOIN p
        |WHERE rn = greatest(1, (n * p_micro + 999999) // 1000000)""".stripMargin),

    // Greedy k-center coreset, ORACLED: 4 farthest-point selections over
    // the embeddings table under the exact-integer protocol; the DuckDB
    // side unrolls the same 4 steps as chained CTEs (the q61 discipline).
    "q150_kcenter" -> Query((s, dir) => {
      graft.ops.Clustering.kCenterSelect(embeddings(s, dir), "vec_id", "embedding", k = 4)
        .select(col("sel_rank"), col("id"), col("d2"))
    }, {
      // q150: the same greedy chain unrolled — seed by min id, then per
      // step an exact-integer dmin update (least) and a (dmin desc, id)
      // argmax excluding chosen ids
      def dist(a: String, b: String) =
        s"list_reduce(list_prepend(0::BIGINT, [($a.vm[i] - $b.vm[i]) * ($a.vm[i] - $b.vm[i]) " +
          s"FOR i IN range(1, len($a.vm) + 1)]), (x, y) -> x + y)"
      val steps = new StringBuilder
      for (r <- 2 to 4) {
        val notIn = (1 until r).map(i => s"SELECT id FROM c$i").mkString(" UNION ALL ")
        steps ++= s",\nc$r AS (SELECT d${r - 1}.id, d${r - 1}.vm, d${r - 1}.dmin FROM d${r - 1} " +
          s"WHERE d${r - 1}.id NOT IN ($notIn) ORDER BY d${r - 1}.dmin DESC, d${r - 1}.id LIMIT 1)"
        if (r < 4)
          steps ++= s",\nd$r AS (SELECT d${r - 1}.id, d${r - 1}.vm, least(d${r - 1}.dmin, " +
            s"${dist(s"d${r - 1}", s"c$r")}) AS dmin FROM d${r - 1} CROSS JOIN c$r)"
      }
      s"""WITH v AS (SELECT vec_id AS id,
         |    [CAST(floor(x * 1e6 + 0.5) AS BIGINT) FOR x IN embedding] AS vm
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |c1 AS (SELECT id, vm FROM v ORDER BY id LIMIT 1),
         |d1 AS (SELECT v.id, v.vm, ${dist("v", "c1")} AS dmin FROM v CROSS JOIN c1)$steps
         |SELECT CAST(1 AS BIGINT) AS sel_rank, id, CAST(0 AS BIGINT) AS d2 FROM c1
         |UNION ALL SELECT CAST(2 AS BIGINT), id, dmin FROM c2
         |UNION ALL SELECT CAST(3 AS BIGINT), id, dmin FROM c3
         |UNION ALL SELECT CAST(4 AS BIGINT), id, dmin FROM c4""".stripMargin
    }),

    // Dedup flow matrix, ORACLED: q143's planted clusters joined back to
    // sources — who mirrors whom, with canonical = min id per cluster.
    "q151_dedup_flow" -> Query((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 200).select(col("doc_id"))
      val star = d.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id").as("src"), (col("doc_id") - col("doc_id") % 7).as("dst"))
      val bridge = d.filter(col("doc_id") % 13 === 0 && col("doc_id") > 0)
        .select(col("doc_id").as("src"), (col("doc_id") - 1).as("dst"))
      val comps = graft.ops.Curation.connectedComponents(star.union(bridge))
      graft.ops.Curation.dedupFlowMatrix(
          comps, docs(s, dir).select(col("doc_id"), col("source")),
          metaIdCol = "doc_id")
        .select(col("canon_source"), col("dup_source"), col("n_docs"))
    },
      // q151: q143's recursive closure (component = min reachable id =
      // the canonical), then source joins and the pair aggregate
      """WITH RECURSIVE base AS (
        |  SELECT doc_id FROM documents WHERE doc_id < 200),
        |ed AS (
        |  SELECT doc_id AS src, doc_id - doc_id % 7 AS dst FROM base WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id, doc_id - 1 FROM base WHERE doc_id % 13 = 0 AND doc_id > 0),
        |e AS (SELECT src AS a, dst AS b FROM ed UNION SELECT dst, src FROM ed),
        |reach AS (
        |  SELECT a AS id, a AS r FROM e
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b),
        |comps AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |f AS (SELECT id, component FROM comps WHERE id <> component)
        |SELECT cs.source AS canon_source, ds.source AS dup_source,
        |  count(*)::BIGINT AS n_docs
        |FROM f
        |JOIN documents ds ON ds.doc_id = f.id
        |JOIN documents cs ON cs.doc_id = f.component
        |GROUP BY 1, 2""".stripMargin),

    // Anchor-term profile, ORACLED: q130's outlink plants extended with
    // explicit anchor words; counts per (target host, preceding word).
    "q152_anchor_terms" -> Query((s, dir) =>
      graft.ops.TextOps.anchorTerms(
        docs(s, dir).withColumn("text", concat(col("text"),
          when(col("doc_id") % 8 === 0,
            lit(" visit http://spamfarm.example/a then click https://Other.Site/x"))
            .otherwise(lit("")),
          when(col("doc_id") % 16 === 0,
            lit(" click http://spamfarm.example/c")).otherwise(lit("")))),
        "doc_id", "text")
        .select(col("host"), col("term"), col("n")),
      // q152: same plants, same two-group regex run per group, list_zip
      """WITH p AS (SELECT doc_id, text
        |    || (CASE WHEN doc_id % 8 = 0
        |        THEN ' visit http://spamfarm.example/a then click https://Other.Site/x'
        |        ELSE '' END)
        |    || (CASE WHEN doc_id % 16 = 0 THEN ' click http://spamfarm.example/c' ELSE '' END)
        |    AS text
        |  FROM documents),
        |z AS (SELECT unnest(list_zip(
        |    regexp_extract_all(text, '(\w+)\s+https?://([^/\s]+)', 1),
        |    regexp_extract_all(text, '(\w+)\s+https?://([^/\s]+)', 2))) AS s FROM p)
        |SELECT lower(s[2]) AS host, s[1] AS term, count(*)::BIGINT AS n
        |FROM z GROUP BY 1, 2""".stripMargin),

    // Ingest-volume anomaly monitor, ORACLED: per-day event counts vs
    // the trailing-7-observed-day mean, exact micro deviation, warm-up
    // days null.
    "q153_volume_anomaly" -> Query((s, dir) =>
      graft.ops.Temporal.volumeAnomaly(events(s, dir), "ts", window = 7)
        .select(col("day"), col("cnt"), col("trail_total"), col("dev_micro")),
      // q153: the same day agg + trailing-rows window + integer deviation
      """WITH d AS (SELECT strftime(ts, '%Y-%m-%d') AS day, count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1),
        |w AS (SELECT day, cnt,
        |    count(*) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS tn,
        |    CAST(sum(cnt) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |      AS BIGINT) AS tt
        |  FROM d)
        |SELECT day, cnt,
        |  CAST(CASE WHEN tn = 7 THEN tt ELSE NULL END AS BIGINT) AS trail_total,
        |  CAST(CASE WHEN tn = 7 THEN cnt * 1000000 // (tt // 7) ELSE NULL END AS BIGINT)
        |    AS dev_micro
        |FROM w""".stripMargin),

    // WET round-trip, ORACLED: q145's discipline for the CONVERSION
    // (extracted-text) layout — envelope-free records written by the
    // distributed sink, read back, projection recomputed from documents.
    "q154_wet_roundtrip" -> Query((s, dir) => {
      val out = fixtureDir("graft_wet_", dir)
      graft.sources.Warc.writeConversion(
        warcCapture(docs(s, dir), status = 0, contentType = "text/plain"), out)
      readWarc(s, out).select(Seq(col("url"), col("record_type")) ++ bodyDigest: _*)
    },
      // q154: q145's projection with the conversion record type
      raw"""SELECT 'http://' || source || '.example/doc/' || doc_id AS url,
        |  'conversion' AS record_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  ${polyHashSql("text")} AS body_hash
        |FROM documents""".stripMargin),

    // HTML head-metadata harvest, ORACLED: pages constructed from the
    // documents table (title with an entity, canonical, description,
    // lang, mod-5 noindex), parsed by the REAL tokenizer; the oracle
    // recomputes every field relationally — parser drift breaks the
    // hash.
    "q155_meta_harvest" -> Query((s, dir) => {
      val html = concat(
        lit("<html lang=\"en\"><head><title>"), col("source"),
        lit(" doc &amp; "), col("doc_id"),
        lit("</title><link rel=\"canonical\" href=\"http://c.example/"),
        col("doc_id") - col("doc_id") % 3, lit("\">"),
        when(col("doc_id") % 5 === 0,
          lit("<meta name=\"robots\" content=\"noindex,nofollow\">")).otherwise(lit("")),
        lit("<meta name=\"description\" content=\"about "), col("source"),
        lit("\"></head><body><p>x</p></body></html>"))
      graft.extract.MetaHarvest.harvested(
          docs(s, dir).select(col("doc_id"), html.as("html")), "html")
        .select(col("doc_id"), col("meta.title").as("title"),
          col("meta.canonical").as("canonical"),
          col("meta.description").as("description"),
          col("meta.lang").as("lang"), col("meta.noindex").as("noindex"))
    },
      // q155: every field recomputed relationally from the same
      // construction (the entity decodes to '&')
      """SELECT doc_id,
        |  source || ' doc & ' || doc_id AS title,
        |  'http://c.example/' || (doc_id - doc_id % 3) AS canonical,
        |  'about ' || source AS description,
        |  'en' AS lang,
        |  doc_id % 5 = 0 AS noindex
        |FROM documents""".stripMargin),

    // Canonical-URL dedup, ORACLED end to end: q155's pages parsed by
    // the real tokenizer, then grouped by the HARVESTED canonical — the
    // mod-3 construction makes 3-page clusters the oracle recomputes.
    "q156_canonical_dedup" -> Query((s, dir) => {
      val html = concat(
        lit("<html lang=\"en\"><head><title>t</title>"),
        lit("<link rel=\"canonical\" href=\"http://c.example/"),
        col("doc_id") - col("doc_id") % 3, lit("\">"),
        lit("</head><body><p>x</p></body></html>"))
      val pages = docs(s, dir).select(
        concat(lit("http://"), col("source"), lit(".example/doc/"), col("doc_id")).as("url"),
        html.as("html"))
      graft.ops.Curation.canonicalDedup(
          graft.extract.MetaHarvest.harvested(pages, "html")
            .select(col("url"), col("meta.canonical").as("canonical")),
          "url", "canonical")
        .select(col("canon_key"), col("kept_url"), col("n_pages"))
    },
      // q156: the harvested canonical recomputed relationally, then the
      // same min-url group
      """WITH p AS (SELECT 'http://' || source || '.example/doc/' || doc_id AS url,
        |    'http://c.example/' || (doc_id - doc_id % 3) AS canonical
        |  FROM documents)
        |SELECT canonical AS canon_key, min(url) AS kept_url,
        |  count(*)::BIGINT AS n_pages
        |FROM p GROUP BY 1""".stripMargin),

    // Soft-404 gate: constructed titles/bodies plant each error family
    // (title hit / short body hit / clean) across the corpus; the
    // oracle replays the phrase-membership sums from the SAME constants.
    "q157_soft404" -> Query((s, dir) => {
      val title = when(col("doc_id") % 7 === 0, lit("Error 404 - Page Not Found"))
        .when(col("doc_id") % 7 === 3, lit("Access Denied"))
        .otherwise(concat(lit("Doc "), col("doc_id")))
      val body = when(col("doc_id") % 7 === 0,
          lit("The page you requested does not exist. Return to the homepage."))
        .when(col("doc_id") % 7 === 5, lit("Sorry, this content is no longer available."))
        .otherwise(col("text"))
      docs(s, dir)
        .select(col("doc_id"),
          graft.ops.WebOps.soft404Signals(title, body).as("sig"))
        .select(col("doc_id"), col("sig.n_title_hits"), col("sig.n_body_hits"),
          col("sig.short_body"), col("sig.soft404"))
    }, {
      // q157: the same construction, then phrase-membership sums generated
      // FROM the kernel's own phrase constants (one source of truth)
      def hits(c: String, ps: Seq[String]): String = ps
        .map(p => s"(CASE WHEN contains(lower($c), '$p') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN 'Error 404 - Page Not Found'
         |         WHEN doc_id % 7 = 3 THEN 'Access Denied'
         |         ELSE 'Doc ' || doc_id END AS title,
         |    CASE WHEN doc_id % 7 = 0 THEN 'The page you requested does not exist. Return to the homepage.'
         |         WHEN doc_id % 7 = 5 THEN 'Sorry, this content is no longer available.'
         |         ELSE text END AS body
         |  FROM documents),
         |h AS (SELECT doc_id,
         |    CAST(${hits("title", graft.ops.WebOps.Soft404TitlePhrases)} AS BIGINT) AS n_title_hits,
         |    CAST(${hits("body", graft.ops.WebOps.Soft404BodyPhrases)} AS BIGINT) AS n_body_hits,
         |    length(regexp_split_to_array(trim(body), '\\s+')) < 40 AS short_body
         |  FROM p)
         |SELECT doc_id, n_title_hits, n_body_hits, short_body,
         |  (n_title_hits >= 1 OR n_body_hits >= 2
         |   OR (n_body_hits >= 1 AND short_body)) AS soft404
         |FROM h""".stripMargin
    }),

    // Mojibake repair, ORACLED ON REPAIRED BYTES: plant the two classic
    // artifacts ("Ã©" = e-acute's UTF-8 bytes shown as cp1252,
    // "â€™" = right-single-quote's) into the ASCII corpus,
    // repair with the charset-coder kernel; the oracle states the
    // expected characters directly — any kernel drift breaks the hash.
    "q158_mojibake_repair" -> Query((s, dir) => {
      val moji = regexp_replace(
        regexp_replace(col("text"), "e", "Ã©"),
        "q", "â€™")
      docs(s, dir).select(col("doc_id"),
        graft.ops.TextOps.fixMojibake(moji).as("repaired"))
    },
      // q158: the repair's expected output stated directly — chr(233) is
      // e-acute, chr(8217) the right single quote the cp1252 bytes decode to
      """SELECT doc_id,
        |  replace(replace(text, 'e', chr(233)), 'q', chr(8217)) AS repaired
        |FROM documents""".stripMargin),

    // robots.txt disallow gate: per-host robots texts exercise group
    // selection (an ignored googlebot group, a consecutive-UA star
    // group, an empty Disallow, no star group at all); the oracle
    // restates each host family's rules as LIKE prefixes.
    "q159_robots_gate" -> Query((s, dir) => {
      val d = docs(s, dir)
      val path = when(col("doc_id") % 4 === 0, concat(lit("/private/p"), col("doc_id")))
        .when(col("doc_id") % 4 === 1, concat(lit("/public/p"), col("doc_id")))
        .when(col("doc_id") % 4 === 2, concat(lit("/tmp"), col("doc_id")))
        .otherwise(concat(lit("/about/"), col("doc_id")))
      val pages = d.select(
        concat(lit("http://"), col("source"), lit(".example"), path).as("url"))
      val txt = when(col("source").isin("src0", "src1", "src2", "src3", "src4"),
          lit("User-agent: googlebot\nDisallow: /\n\nUser-agent: *\nDisallow: /private\nDisallow: /tmp\n"))
        .when(col("source").isin("src5", "src6", "src7"),
          lit("User-agent: *\nUser-agent: bingbot\nDisallow: /a\n"))
        .when(col("source").isin("src8", "src9"),
          lit("User-agent: *\nDisallow:\n"))
        .otherwise(lit("# closed to one bot only\nUser-agent: googlebot\nDisallow: /x\n"))
      val robots = d.select(col("source")).distinct()
        .select(concat(col("source"), lit(".example")).as("host"), txt.as("robots_txt"))
      graft.ops.WebOps.robotsDisallowed(pages, "url", robots, "host", "robots_txt")
    },
      // q159: each host family's star-group rules restated as LIKE
      // prefixes (families 'src8'/'src9' and src10+ have no effective
      // rules: empty Disallow / no star group)
      """WITH p AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 4 = 0 THEN '/private/p' || doc_id
        |         WHEN doc_id % 4 = 1 THEN '/public/p' || doc_id
        |         WHEN doc_id % 4 = 2 THEN '/tmp' || doc_id
        |         ELSE '/about/' || doc_id END AS path
        |  FROM documents)
        |SELECT 'http://' || source || '.example' || path AS url,
        |  source || '.example' AS host, path,
        |  CASE WHEN source IN ('src0','src1','src2','src3','src4')
        |         THEN (path LIKE '/private%' OR path LIKE '/tmp%')
        |       WHEN source IN ('src5','src6','src7') THEN path LIKE '/a%'
        |       ELSE FALSE END AS disallowed
        |FROM p""".stripMargin),

    // Domain quality gate over the exact-micro quality twin: urls run
    // the full host → registrable-domain → per-domain mean pipeline;
    // the oracle replays score, floor-mean, and verdict in integers.
    "q160_domain_gate" -> Query((s, dir) => {
      val url = concat(lit("http://www."), col("source"), lit(".com/p/"), col("doc_id"))
      val scored = docs(s, dir).select(
        graft.ops.WebOps.registrableDomain(graft.ops.WebOps.urlHost(url)).as("domain"),
        graft.ops.TextOps.qualityScoreMicro(col("text")).as("q_micro"))
      graft.ops.Curation.domainQualityGate(scored, "domain", "q_micro",
        minMeanMicro = 800000L, minDocs = 10L)
    },
      // q160: the micro quality score, the floor-div mean, and the verdict
      // all replayed in integer arithmetic (no float boundary anywhere)
      """WITH s AS (SELECT source || '.com' AS domain,
        |    length(text) AS chars,
        |    length(regexp_split_to_array(trim(text), '\s+')) AS words,
        |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct
        |  FROM documents),
        |m AS (SELECT domain,
        |    (LEAST(words * 20000, 1000000)
        |     + CASE WHEN 3 * words <= chars AND chars <= 10 * words
        |            THEN 1000000 ELSE 500000 END
        |     + CASE WHEN punct * 10 <= chars THEN 1000000 ELSE 500000 END)
        |    // 3 AS q
        |  FROM s)
        |SELECT domain, count(*)::BIGINT AS n_docs,
        |  CAST(CAST(sum(q) AS BIGINT) // count(*) AS BIGINT) AS mean_micro,
        |  (count(*) >= 10 AND CAST(sum(q) AS BIGINT) // count(*) >= 800000) AS kept
        |FROM m GROUP BY 1""".stripMargin),

    // Template-shape clustering on the REAL tokenizer: 8 constructed
    // template families (p-count × optional div/span block); the oracle
    // rebuilds each page's tag-name string arithmetically and replays
    // the q22 polynomial — tokenizer drift breaks the hash.
    "q161_template_shape" -> Query((s, dir) => {
      val html = concat(
        lit("<html><head><title>Doc</title></head><body>"),
        expr("repeat('<p>x</p>', CAST(doc_id % 4 + 1 AS INT))"),
        when(col("doc_id") % 2 === 0, lit("<div><span>y</span></div>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      graft.extract.TemplateShape.templateProfile(
        docs(s, dir).select(col("doc_id"), html.as("html")), "doc_id", "html")
    },
      // q161: each page's tag-name sequence rebuilt arithmetically, then
      // the q22 base-131 polynomial over its characters
      raw"""WITH p AS (SELECT doc_id,
        |    'html,head,title,body' || repeat(',p', CAST(doc_id % 4 + 1 AS INT))
        |      || CASE WHEN doc_id % 2 = 0 THEN ',div,span' ELSE '' END AS shape
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    ${polyHashSql("shape")} AS shape_hash
        |  FROM p)
        |SELECT shape_hash, count(*)::BIGINT AS n_pages, min(doc_id) AS exemplar_id
        |FROM h GROUP BY 1""".stripMargin),

    // Link reciprocity: a deterministic mostly-one-way graph with every
    // 10th edge's reverse planted — the planted share must surface as
    // exactly-computed micro reciprocity per source.
    "q162_reciprocity" -> Query((s, dir) => {
      val d = docs(s, dir)
      val base = d.select((col("doc_id") % 40).as("src"),
        ((col("doc_id") * 7 + 3) % 40).as("dst"))
      val planted = d.filter(col("doc_id") % 10 === 0)
        .select(((col("doc_id") * 7 + 3) % 40).as("src"),
          (col("doc_id") % 40).as("dst"))
      graft.ops.Graph.reciprocity(base.union(planted), "src", "dst")
    },
      // q162: the same edge set distinct-ed, self-joined on the reversed
      // key, integer micro share
      """WITH e0 AS (
        |  SELECT doc_id % 40 AS src, (doc_id * 7 + 3) % 40 AS dst FROM documents
        |  UNION ALL
        |  SELECT (doc_id * 7 + 3) % 40, doc_id % 40 FROM documents WHERE doc_id % 10 = 0),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst)
        |SELECT e.src, count(*)::BIGINT AS n_out,
        |  CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_recip,
        |  CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // count(*) AS recip_micro
        |FROM e LEFT JOIN e r ON e.src = r.dst AND e.dst = r.src
        |GROUP BY 1""".stripMargin),

    // Output-shard bin-packing: per-source byte-budget write planning —
    // the oracle replays the running-sum window and floor-division
    // shard assignment exactly (all integer arithmetic).
    "q163_shard_plan" -> Query((s, dir) => {
      graft.ops.Curation.shardPlan(docs(s, dir), "source", "doc_id",
          octet_length(col("text")), targetBytes = 4096L)
        .select(col("key").as("source"), col("shard_id"), col("n_docs"),
          col("shard_bytes"), col("first_id"), col("last_id"))
    },
      // q163: running-sum window (bytes BEFORE the row) + floor-division
      // shard assignment, replayed exactly (strlen = bytes in DuckDB)
      """WITH b AS (SELECT source, doc_id, strlen(text)::BIGINT AS b,
        |    CAST(coalesce(CAST(sum(strlen(text)) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) // 4096 AS BIGINT)
        |      AS shard_id
        |  FROM documents)
        |SELECT source, shard_id, count(*)::BIGINT AS n_docs,
        |  CAST(sum(b) AS BIGINT) AS shard_bytes,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM b GROUP BY 1, 2""".stripMargin),

    // Bitext URL pair mining: constructed language-coded urls — en on
    // even doc_ids, fr on odds except every 7th page id (unpaired), a
    // non-language '/raw/' segment exercising the filter; the oracle
    // rebuilds the urls and replays parse + join independently.
    "q164_bitext_pairs" -> Query((s, dir) => {
      val k = expr("doc_id div 2")
      val host = concat(lit("http://w"), pmod(k, lit(5L)), lit(".example/"))
      val url = when(col("doc_id") % 2 === 0, concat(host, lit("en/page"), k))
        .when(pmod(k, lit(7L)) === 3, concat(host, lit("raw/page"), k))
        .otherwise(concat(host, lit("fr/page"), k))
      graft.ops.WebOps.bitextPairs(
        docs(s, dir).select(url.as("url")), "url", "en", "fr")
    },
      // q164: urls rebuilt with the same CASE, then the parse + equi-join
      // replayed with DuckDB's own regexp groups
      """WITH u AS (SELECT
        |    CASE WHEN doc_id % 2 = 0
        |           THEN 'http://w' || (doc_id // 2) % 5 || '.example/en/page' || (doc_id // 2)
        |         WHEN (doc_id // 2) % 7 = 3
        |           THEN 'http://w' || (doc_id // 2) % 5 || '.example/raw/page' || (doc_id // 2)
        |         ELSE 'http://w' || (doc_id // 2) % 5 || '.example/fr/page' || (doc_id // 2)
        |    END AS url
        |  FROM documents),
        |p AS (SELECT url,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)/([a-z]{2})/(.*)$', 1) AS h,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)/([a-z]{2})/(.*)$', 2) AS seg,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)/([a-z]{2})/(.*)$', 3) AS rest
        |  FROM u),
        |q AS (SELECT url, seg, lower(h) || '/' || rest AS pair_key FROM p WHERE h <> '')
        |SELECT a.pair_key, a.url AS url_a, b.url AS url_b
        |FROM (SELECT * FROM q WHERE seg = 'en') a
        |JOIN (SELECT * FROM q WHERE seg = 'fr') b USING (pair_key)""".stripMargin),

    // Unicode script profile: Cyrillic/CJK codepoints planted into the
    // ASCII corpus by doc_id family — wholesale (%5=1,2: dominance
    // flips to cyrillic/cjk) and single-char (%5=3: stays latin with a
    // cyrillic minority) — so the oracle's dominant-script argmax is
    // exercised on every branch, replayed over DuckDB's codepoint split.
    "q165_script_profile" -> Query((s, dir) => {
      val planted = when(col("doc_id") % 5 === 1, regexp_replace(col("text"), "[a-z]", "д"))
        .when(col("doc_id") % 5 === 2, regexp_replace(col("text"), "[a-z]", "本"))
        .when(col("doc_id") % 5 === 3, regexp_replace(col("text"), "e", "д"))
        .otherwise(col("text"))
      docs(s, dir).select(col("doc_id"),
          graft.ops.TextOps.scriptProfile(planted).as("p"))
        .select(col("doc_id"), col("p.n_latin"), col("p.n_cyrillic"),
          col("p.n_cjk"), col("p.n_digit"), col("p.n_space"),
          col("p.n_other"), col("p.dominant"))
    },
      // q165: the same plant, then codepoint-range counts and the
      // dominant-script argmax replayed over DuckDB's codepoint split
      // (chr(1076) = Cyrillic д, chr(26412) = 本)
      """WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 1 THEN regexp_replace(text, '[a-z]', chr(1076), 'g')
        |         WHEN doc_id % 5 = 2 THEN regexp_replace(text, '[a-z]', chr(26412), 'g')
        |         WHEN doc_id % 5 = 3 THEN replace(text, 'e', chr(1076))
        |         ELSE text END AS t
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    len([c FOR c IN split(t, '') IF (ascii(c) BETWEEN 65 AND 90)
        |      OR (ascii(c) BETWEEN 97 AND 122) OR (ascii(c) BETWEEN 192 AND 591)])::BIGINT AS n_latin,
        |    len([c FOR c IN split(t, '') IF ascii(c) BETWEEN 1024 AND 1279])::BIGINT AS n_cyrillic,
        |    len([c FOR c IN split(t, '') IF (ascii(c) BETWEEN 12352 AND 12543)
        |      OR (ascii(c) BETWEEN 19968 AND 40959)])::BIGINT AS n_cjk,
        |    len([c FOR c IN split(t, '') IF ascii(c) BETWEEN 48 AND 57])::BIGINT AS n_digit,
        |    len([c FOR c IN split(t, '') IF c IN (' ', chr(9), chr(10), chr(13))])::BIGINT AS n_space,
        |    len(split(t, ''))::BIGINT AS n_all
        |  FROM p)
        |SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_digit, n_space,
        |  n_all - n_latin - n_cyrillic - n_cjk - n_digit - n_space AS n_other,
        |  CASE WHEN n_latin = 0 AND n_cyrillic = 0 AND n_cjk = 0 THEN 'none'
        |       WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk THEN 'latin'
        |       WHEN n_cyrillic >= n_cjk THEN 'cyrillic'
        |       ELSE 'cjk' END AS dominant
        |FROM c""".stripMargin),

    // CCNet-style perplexity buckets: q58's bigram-LM micro scores
    // ranked per source into exact head/middle/tail terciles
    // (rankBuckets) — the oracle replays the whole LM estimate, the
    // micro quantization, and the rank arithmetic.
    "q166_ppl_buckets" -> Query((s, dir) => {
      val d = docs(s, dir)
      val nll = graft.ops.Retrieval.lmNegLogLik(
          d.filter(col("doc_id") % 13 =!= 0), "doc_id", "text",
          d.filter(col("doc_id") % 13 === 0), "text", alpha = 0.1)
        .select(col("id"),
          floor(col("avg_nll") * lit(1e6) + lit(0.5)).cast("long").as("avg_micro"))
      val keyed = nll.join(d.select(col("doc_id").as("id"), col("source")), Seq("id"))
      graft.ops.Curation.rankBuckets(keyed, "source", "id", col("avg_micro"), nBuckets = 3)
        .groupBy(col("key").as("source"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("value")).as("min_micro"), max(col("value")).as("max_micro"))
    },
      // q166: the full q58 LM replay, per-document micro averages, then
      // the exact per-source tercile rank arithmetic
      s"""WITH $lmNllCtes,
        |s AS (SELECT doc_id,
        |    CAST(floor(sum(lpm) / count(*) + 0.5) AS BIGINT) AS avg_micro
        |  FROM lp GROUP BY doc_id),
        |j AS (SELECT s.doc_id, d2.source, s.avg_micro
        |  FROM s JOIN documents d2 USING (doc_id)),
        |r AS (SELECT source, doc_id, avg_micro,
        |    row_number() OVER (PARTITION BY source ORDER BY avg_micro, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM j)
        |SELECT source, CAST((3 * (rn - 1)) // n AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_docs,
        |  min(avg_micro) AS min_micro, max(avg_micro) AS max_micro
        |FROM r GROUP BY 1, 2""".stripMargin),

    // Co-citation similarity: a two-outlinks-per-doc deterministic
    // host→target graph; the oracle replays distinct, the per-target
    // fan-out cap (same rank order), the within-target pairing, and
    // the total top-k order.
    "q167_cocitation" -> Query((s, dir) => {
      val d = docs(s, dir)
      def side(m: Int, a: Int) = d.select(
        concat(lit("h"), col("doc_id") % 30).as("src"),
        ((col("doc_id") * m + a) % 97).as("dst"))
      graft.ops.Graph.coCitation(side(13, 5).union(side(29, 11)),
        "src", "dst", maxFanout = 8, k = 20)
    },
      // q167: distinct edges, the same per-target rank cap, within-target
      // pairing, and the (shared desc, pair asc) top-k replayed
      """WITH e0 AS (
        |  SELECT 'h' || (doc_id % 30) AS src, (doc_id * 13 + 5) % 97 AS dst FROM documents
        |  UNION ALL
        |  SELECT 'h' || (doc_id % 30), (doc_id * 29 + 11) % 97 FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM e0),
        |c AS (SELECT src, dst, row_number() OVER (PARTITION BY dst ORDER BY src) AS rn FROM e),
        |f AS (SELECT src, dst FROM c WHERE rn <= 8),
        |p AS (SELECT a.src AS src_a, b.src AS src_b, count(*)::BIGINT AS shared
        |  FROM f a JOIN f b ON a.dst = b.dst AND a.src < b.src GROUP BY 1, 2)
        |SELECT src_a, src_b, shared FROM p
        |ORDER BY shared DESC, src_a, src_b LIMIT 20""".stripMargin),

    // Sentence-level language mix: German / Spanish sentences appended
    // to the English-ish corpus by doc_id family; the oracle replays
    // the construction, the sentence split, and the per-sentence
    // stopword argmax (q18's formula) independently.
    "q168_sentence_lang" -> Query((s, dir) => {
      val t = concat(col("text"), lit(". "),
        when(col("doc_id") % 3 === 0,
            lit("der hund und der mann und der baum sind hier"))
          .otherwise(lit("more of the same and the usual words and things")),
        lit(". "),
        when(col("doc_id") % 4 === 0,
            lit("los perros y las casas y los gatos y las flores"))
          .otherwise(lit("again the cat and the dog and the bird")))
      graft.ops.TextOps.sentenceLangMix(
        docs(s, dir).select(col("doc_id"), t.as("t")), "doc_id", "t")
    }, {
      // q168: the same construction, the sentence split, and q18's
      // stopword argmax replayed per sentence AND per document
      def sc(c: String, a: String, b: String) =
        s"(length($c) - length(replace($c, ' $a ', ''))) // ${a.length + 2}" +
          s" + (length($c) - length(replace($c, ' $b ', ''))) // ${b.length + 2}"
      def scoreCols(c: String) =
        s"${sc(c, "the", "and")} AS s_en, ${sc(c, "der", "und")} AS s_de, " +
          s"${sc(c, "los", "las")} AS s_es, ${sc(c, "les", "des")} AS s_fr"
      val argmax =
        """CASE WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
          |    WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
          |    WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END""".stripMargin
      s"""WITH t AS (SELECT doc_id, text || '. ' ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'der hund und der mann und der baum sind hier'
        |         ELSE 'more of the same and the usual words and things' END || '. ' ||
        |    CASE WHEN doc_id % 4 = 0 THEN 'los perros y las casas y los gatos y las flores'
        |         ELSE 'again the cat and the dog and the bird' END AS t
        |  FROM documents),
        |ds AS (SELECT doc_id, t, ${scoreCols("t")} FROM t),
        |d AS (SELECT doc_id, t, $argmax AS doc_lang FROM ds),
        |x AS (SELECT doc_id, doc_lang,
        |    unnest(regexp_split_to_array(t, '\\. ')) AS sent FROM d),
        |f AS (SELECT doc_id, doc_lang, sent FROM x WHERE trim(sent) <> ''),
        |ss AS (SELECT doc_id, doc_lang, ${scoreCols("sent")} FROM f),
        |sp AS (SELECT doc_id, doc_lang, $argmax AS sent_lang FROM ss)
        |SELECT doc_id AS id, doc_lang, count(*)::BIGINT AS n_sent,
        |  CAST(sum(CASE WHEN sent_lang = doc_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
        |  CAST(sum(CASE WHEN sent_lang = doc_lang THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS agree_micro
        |FROM sp GROUP BY 1, 2""".stripMargin
    }),

    // DOM structure profile on the REAL tree builder: nested-div /
    // repeated-p pages constructed so n_elems, max_depth, text chars,
    // and text nodes are pure doc_id arithmetic — the oracle states
    // them directly, pinning the builder's nesting semantics the way
    // q161 pins the tokenizer.
    "q169_dom_profile" -> Query((s, dir) => {
      val html = concat(
        lit("<html><head><title>T</title></head><body>"),
        expr("repeat('<div>', CAST(doc_id % 5 + 1 AS INT))"),
        expr("repeat('x', CAST(doc_id % 7 + 1 AS INT))"),
        expr("repeat('</div>', CAST(doc_id % 5 + 1 AS INT))"),
        expr("repeat('<p>y</p>', CAST(doc_id % 3 + 1 AS INT))"),
        lit("</body></html>"))
      docs(s, dir)
        .select(col("doc_id"), graft.extract.DomProfile.profile(html).as("d"))
        .select(col("doc_id"), col("d.n_elems"), col("d.max_depth"),
          col("d.text_chars"), col("d.n_text_nodes"))
    },
      // q169: the constructed pages make every DOM statistic pure doc_id
      // arithmetic — stated directly, no tree walk on the oracle side
      """SELECT doc_id,
        |  4 + (doc_id % 5 + 1) + (doc_id % 3 + 1) AS n_elems,
        |  2 + (doc_id % 5 + 1) AS max_depth,
        |  1 + (doc_id % 7 + 1) + (doc_id % 3 + 1) AS text_chars,
        |  2 + (doc_id % 3 + 1) AS n_text_nodes
        |FROM documents""".stripMargin),

    // Batch-perceptron quality-classifier TRAINING: 3 epochs over
    // hashed integer features with an exact-integer teacher label —
    // the oracle unrolls the same epochs as chained CTEs and matches
    // every weight, bias, and error count bit-for-bit.
    "q170_perceptron" -> Query((s, dir) =>
      // bar 900000: splits the synth corpus ~358/142 at sf0.01, so the
      // epochs actually move (bar 700000 labels everything +1 and the
      // training degenerates to learning the bias)
      graft.ops.Clustering.perceptronTrain(docs(s, dir), "doc_id", "text",
        dims = 8, epochs = 3, qualityBar = 900000L),
      // q170: features = the q104 hash family at dims 8, labels = the
      // q160 integer quality score vs the bar, then THREE perceptron
      // epochs unrolled as chained CTEs (w=0 start: epoch 1 misclassifies
      // every featured doc by the m<=0 convention) — training replayed
      // bit-for-bit, the q59/q61 discipline applied to a model
      raw"""WITH wds AS (SELECT doc_id,
        |    unnest($wordsSql) AS w
        |  FROM documents),
        |hh AS (SELECT doc_id,
        |    ${polyHashSql("w")} AS h
        |  FROM wds),
        |fx AS (SELECT doc_id AS id, h % 8 AS dim,
        |    CAST(sum(CASE WHEN (h // 8) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS value
        |  FROM hh GROUP BY 1, 2),
        |lab AS (SELECT doc_id AS id,
        |    CASE WHEN (LEAST(words * 20000, 1000000)
        |        + CASE WHEN 3 * words <= chars AND chars <= 10 * words
        |               THEN 1000000 ELSE 500000 END
        |        + CASE WHEN punct * 10 <= chars THEN 1000000 ELSE 500000 END)
        |      // 3 >= 900000 THEN 1 ELSE -1 END AS y
        |  FROM (SELECT doc_id, length(text) AS chars,
        |      len(regexp_split_to_array(trim(text), '\s+')) AS words,
        |      length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct
        |    FROM documents)),
        |fl AS (SELECT fx.id, fx.dim, fx.value, lab.y FROM fx JOIN lab USING (id)),
        |mis1 AS (SELECT DISTINCT id FROM fl),
        |w1 AS (SELECT dim, CAST(sum(y * value) AS BIGINT) AS w FROM fl GROUP BY dim),
        |bb1 AS (SELECT
        |    (SELECT CAST(sum(y) AS BIGINT) FROM lab WHERE id IN (SELECT id FROM mis1)) AS b,
        |    (SELECT count(*)::BIGINT FROM mis1) AS n),
        |m2 AS (SELECT d.id, d.y, d.y * (d.dot + bb1.b) AS m FROM (
        |    SELECT fl.id, fl.y, CAST(sum(fl.value * coalesce(w1.w, 0)) AS BIGINT) AS dot
        |    FROM fl LEFT JOIN w1 USING (dim) GROUP BY fl.id, fl.y) d, bb1),
        |mis2 AS (SELECT id FROM m2 WHERE m <= 0),
        |d2 AS (SELECT dim, CAST(sum(y * value) AS BIGINT) AS dw FROM fl
        |  WHERE id IN (SELECT id FROM mis2) GROUP BY dim),
        |w2 AS (SELECT w1.dim, w1.w + coalesce(d2.dw, 0) AS w FROM w1 LEFT JOIN d2 USING (dim)),
        |bb2 AS (SELECT bb1.b + coalesce(
        |      (SELECT CAST(sum(y) AS BIGINT) FROM lab WHERE id IN (SELECT id FROM mis2)), 0) AS b,
        |    (SELECT count(*)::BIGINT FROM mis2) AS n FROM bb1),
        |m3 AS (SELECT d.id, d.y, d.y * (d.dot + bb2.b) AS m FROM (
        |    SELECT fl.id, fl.y, CAST(sum(fl.value * coalesce(w2.w, 0)) AS BIGINT) AS dot
        |    FROM fl LEFT JOIN w2 USING (dim) GROUP BY fl.id, fl.y) d, bb2),
        |mis3 AS (SELECT id FROM m3 WHERE m <= 0),
        |d3 AS (SELECT dim, CAST(sum(y * value) AS BIGINT) AS dw FROM fl
        |  WHERE id IN (SELECT id FROM mis3) GROUP BY dim),
        |w3 AS (SELECT w2.dim, w2.w + coalesce(d3.dw, 0) AS w FROM w2 LEFT JOIN d3 USING (dim)),
        |bb3 AS (SELECT bb2.b + coalesce(
        |      (SELECT CAST(sum(y) AS BIGINT) FROM lab WHERE id IN (SELECT id FROM mis3)), 0) AS b,
        |    (SELECT count(*)::BIGINT FROM mis3) AS n FROM bb2)
        |SELECT CAST(1 AS BIGINT) AS epoch, CAST(-1 AS BIGINT) AS dim, bb1.b AS weight, bb1.n AS n_mis FROM bb1
        |UNION ALL SELECT 1, dim, w, bb1.n FROM w1, bb1
        |UNION ALL SELECT 2, -1, bb2.b, bb2.n FROM bb2
        |UNION ALL SELECT 2, dim, w, bb2.n FROM w2, bb2
        |UNION ALL SELECT 3, -1, bb3.b, bb3.n FROM bb3
        |UNION ALL SELECT 3, dim, w, bb3.n FROM w3, bb3""".stripMargin),

    // Frontier expansion: known urls are p{doc_id}; outlink targets are
    // p{3·doc_id+1} on the matching host family — known for the first
    // third of ids, fresh beyond — capped per host; the oracle replays
    // the anti-join and the rank cap.
    "q171_frontier" -> Query((s, dir) => {
      val d = docs(s, dir)
      val known = d.select(concat(lit("http://w"), col("doc_id") % 10,
        lit(".example/p"), col("doc_id")).as("url"))
      val out = d.select(concat(lit("http://w"), (col("doc_id") * 3 + 1) % 10,
        lit(".example/p"), col("doc_id") * 3 + 1).as("link"))
      graft.ops.WebOps.frontierExpand(known, "url", out, "link", perHostCap = 15)
    },
      // q171: the same url constructions, the anti-join, and the per-host
      // rank cap replayed
      """WITH known AS (SELECT DISTINCT
        |    'http://w' || (doc_id % 10) || '.example/p' || doc_id AS url FROM documents),
        |cand AS (SELECT DISTINCT
        |    'w' || ((doc_id * 3 + 1) % 10) || '.example' AS host,
        |    'http://w' || ((doc_id * 3 + 1) % 10) || '.example/p' || (doc_id * 3 + 1) AS url
        |  FROM documents),
        |f AS (SELECT host, url FROM cand WHERE url NOT IN (SELECT url FROM known)),
        |r AS (SELECT host, url, row_number() OVER (PARTITION BY host ORDER BY url) AS rn FROM f)
        |SELECT host, url FROM r WHERE rn <= 15""".stripMargin),

    // Snapshot extraction drift: v2 rewrites one word family on every
    // 4th doc and appends a tail on every 4th+1 — the oracle recomputes
    // levenshtein and the floor-div means independently. prefix=256
    // BINDS at every tier (texts run ~48-550 chars), so the oracle
    // verifies the straggler-bounding clamp cross-engine: docs longer
    // than the prefix whose only change is the appended tail read lev=0.
    "q172_snapshot_drift" -> Query((s, dir) => {
      val d = docs(s, dir)
      val v2 = d.select(col("doc_id"), col("source"),
        when(col("doc_id") % 4 === 0, regexp_replace(col("text"), "data", "info"))
          .when(col("doc_id") % 4 === 1, concat(col("text"), lit(" appended tail words")))
          .otherwise(col("text")).as("text"))
      graft.ops.Temporal.snapshotDrift(d, v2, "doc_id", "text", prefix = 256)
        .join(d.select(col("doc_id").as("id"), col("source")), Seq("id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lev") > 0, 1L).otherwise(0L)).as("n_changed"),
          sum(col("lev")).as("total_edits"),
          expr("sum(drift_micro) div count(1)").as("mean_drift_micro"))
    },
      // q172: levenshtein recomputed by DuckDB's own builtin, floor-div
      // means in integers; both sides clamped to the 256-char prefix
      // exactly as snapshotDrift does (straggler bound, replayed here)
      """WITH v2 AS (SELECT doc_id, source, left(text, 256) AS t0,
        |    left(CASE WHEN doc_id % 4 = 0 THEN replace(text, 'data', 'info')
        |         WHEN doc_id % 4 = 1 THEN text || ' appended tail words'
        |         ELSE text END, 256) AS t1
        |  FROM documents),
        |p AS (SELECT source, levenshtein(t0, t1)::BIGINT AS lev,
        |    length(t0)::BIGINT AS len_old FROM v2),
        |q AS (SELECT source, lev,
        |    CAST(lev * 1000000 // greatest(len_old, 1) AS BIGINT) AS dm FROM p)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  CAST(sum(CASE WHEN lev > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(lev) AS BIGINT) AS total_edits,
        |  CAST(sum(dm) // count(*) AS BIGINT) AS mean_drift_micro
        |FROM q GROUP BY 1""".stripMargin),

    // ANN recall audit: IVF(k=10, 8 cells, 2 probes) vs the brute-force
    // ground truth, per query — both pipelines are independently
    // replayed in the oracle (q24 + q35 texts combined) and the
    // intersection counted.
    "q173_ann_recall" -> Query((s, dir) => {
      val emb = embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 5)
      val exact = graft.ops.Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("nn_id"))
      val approx = graft.ops.Similarity.ivfTopK(q, emb, "vec_id", "embedding", k = 10,
          nCells = 8, nProbe = 2)
        .select(col("query_id"), col("nn_id"), lit(1L).as("__h"))
      exact.join(approx, Seq("query_id", "nn_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"), sum(coalesce(col("__h"), lit(0L))).as("n_hit"))
        .withColumn("recall_micro", expr("n_hit * 1000000 div k"))
    },
      // q173: the q35 IVF replay and the q24 brute-force replay run side
      // by side (CTEs renamed bf*), then the top-10 sets intersect
      raw"""WITH centr AS (
        |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  ORDER BY (CAST(vec_id AS BIGINT) * 1103515245 + 12345) % 2147483647, vec_id
        |  LIMIT 8
        |),
        |sim_all AS (
        |  SELECT id, cid, CASE WHEN na = 0 OR nc = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nc)) END AS sim
        |  FROM (
        |    SELECT e.vec_id AS id, ct.cid,
        |      list_reduce(list_prepend(0.0::DOUBLE, [e.embedding[i]::DOUBLE * ct.cv[i]::DOUBLE FOR i IN range(1, len(e.embedding) + 1)]), (a, b) -> a + b) AS dot,
        |      list_reduce(list_prepend(0.0::DOUBLE, [e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, len(e.embedding) + 1)]), (a, b) -> a + b) AS na,
        |      list_reduce(list_prepend(0.0::DOUBLE, [ct.cv[i]::DOUBLE * ct.cv[i]::DOUBLE FOR i IN range(1, len(ct.cv) + 1)]), (a, b) -> a + b) AS nc
        |    FROM embeddings e CROSS JOIN centr ct)
        |),
        |assigned AS (
        |  SELECT id AS nn_id, cell FROM (
        |    SELECT id, cid AS cell, row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid ASC) AS rn
        |    FROM sim_all) WHERE rn = 1
        |),
        |probes AS (
        |  SELECT id AS query_id, cell FROM (
        |    SELECT id, cid AS cell, row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid ASC) AS rn
        |    FROM sim_all WHERE id < 5) WHERE rn <= 2
        |),
        |cand AS (
        |  SELECT p.query_id, a.nn_id FROM probes p JOIN assigned a ON p.cell = a.cell
        |),
        |scored AS (
        |  ${cosineSql()}
        |),
        |ivfk AS (SELECT query_id, nn_id FROM (
        |    SELECT query_id, nn_id, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id ASC) AS rank
        |    FROM scored) WHERE rank <= 10),
        |bfscored AS (
        |  ${cosineSql(inner = "q.query_id, c.vec_id AS nn_id",
               from = "(SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5) q, " +
                 "(SELECT vec_id, embedding AS cv FROM embeddings) c")}
        |),
        |bfk AS (SELECT query_id, nn_id FROM (
        |    SELECT query_id, nn_id, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id ASC) AS rank
        |    FROM bfscored) WHERE rank <= 10)
        |SELECT b.query_id, count(*)::BIGINT AS k,
        |  CAST(sum(CASE WHEN i.nn_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  CAST(sum(CASE WHEN i.nn_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS recall_micro
        |FROM bfk b LEFT JOIN ivfk i ON b.query_id = i.query_id AND b.nn_id = i.nn_id
        |GROUP BY 1""".stripMargin),

    // BPE encoding stats: the shared merge table (rank order) applied
    // by chained replaces on both engines — per-doc words, chars,
    // pieces, compression.
    "q174_bpe_encode" -> Query((s, dir) => {
      graft.ops.TextOps.bpeEncodeStats(docs(s, dir), "doc_id", "text", bpeMergesShared)
        .select(col("id").as("doc_id"), col("n_words"), col("n_chars"),
          col("n_pieces"), col("compression_micro"))
    }, {
      // q174: each merge pass replayed EXACTLY as a positional
      // mark-and-rebuild comprehension over the symbol list — sound
      // because a ≠ b makes adjacent matches non-overlapping (the op
      // enforces it); a flat-string replace would cross symbol boundaries
      // ('th e' substring-matches inside "th er")
      val chain = bpeMergesShared.zipWithIndex.map { case ((a, b), i) =>
        s"""s${i + 1} AS (SELECT doc_id, nc,
           |    [CASE WHEN list_contains(m, i) THEN l[i] || l[i + 1] ELSE l[i] END
           |     FOR i IN range(1, len(l) + 1) IF NOT list_contains(m, i - 1)] AS l
           |  FROM (SELECT doc_id, nc, l,
           |      [i FOR i IN range(1, len(l)) IF l[i] = '$a' AND l[i + 1] = '$b'] AS m
           |    FROM s$i))""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (SELECT doc_id,
        |    unnest($wordsSql) AS w
        |  FROM documents),
        |s0 AS (SELECT doc_id, length(w)::BIGINT AS nc, split(w, '') AS l FROM w),
        |$chain,
        |p AS (SELECT doc_id, nc, len(l)::BIGINT AS np FROM s${bpeMergesShared.size})
        |SELECT doc_id, count(*)::BIGINT AS n_words, CAST(sum(nc) AS BIGINT) AS n_chars,
        |  CAST(sum(np) AS BIGINT) AS n_pieces,
        |  CAST(sum(np) * 1000000 // sum(nc) AS BIGINT) AS compression_micro
        |FROM p GROUP BY 1""".stripMargin
    }),

    // Link density on the real tree builder: anchors and body text
    // constructed so every statistic is doc_id arithmetic; nested
    // anchor attribution pinned cross-engine.
    "q175_link_density" -> Query((s, dir) => {
      val html = concat(lit("<html><body>"),
        expr("repeat('<a href=u>link</a>', CAST(doc_id % 4 AS INT))"),
        expr("repeat('x', CAST(doc_id % 9 + 1 AS INT))"),
        lit("</body></html>"))
      docs(s, dir)
        .select(col("doc_id"), graft.extract.DomProfile.linkDensity(html).as("d"))
        .select(col("doc_id"), col("d.text_chars"), col("d.anchor_chars"),
          col("d.n_anchors"), col("d.density_micro"))
    },
      // q175: every statistic is doc_id arithmetic on the constructed page
      """SELECT doc_id,
        |  4 * (doc_id % 4) + (doc_id % 9 + 1) AS text_chars,
        |  4 * (doc_id % 4) AS anchor_chars,
        |  doc_id % 4 AS n_anchors,
        |  CAST(4 * (doc_id % 4) * 1000000
        |    // (4 * (doc_id % 4) + doc_id % 9 + 1) AS BIGINT) AS density_micro
        |FROM documents""".stripMargin),

    // Cluster purity vs external labels: the 3-round exact k-means
    // assignment joined to the embeddings' label column, majority +
    // mixed share per cluster — the clustering-quality readout.
    "q176_cluster_purity" -> Query((s, dir) => {
      val emb = embeddings(s, dir)
      val asg = graft.ops.Clustering.kmeansAssign(emb, "vec_id", "embedding",
          k = 8, iterations = 3)
        .select(col("id"), col("cid"))
      val lb = emb.filter(col("embedding").isNotNull)
        .select(col("vec_id").cast("long").as("id"), col("label").cast("long").as("label"))
      graft.ops.Curation.majorityStats(asg.join(lb, Seq("id")), "cid", col("label"))
        .select(col("key").as("cid"), col("majority"), col("n_total"),
          col("n_majority"), col("mixed_micro"))
    },
      // q176: the q61 Lloyd unroll (shared CTE) joined to the label
      // column, majority + mixed share per cluster
      s"""WITH $kmeansCtes,
        |lb AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |j AS (SELECT a3.cid, lb.label FROM a3 JOIN lb USING (id)),
        |g AS (SELECT cid, label, count(*)::BIGINT AS c FROM j GROUP BY 1, 2),
        |m AS (SELECT cid, label, c,
        |    row_number() OVER (PARTITION BY cid ORDER BY c DESC, label) AS rn,
        |    CAST(sum(c) OVER (PARTITION BY cid) AS BIGINT) AS n_total
        |  FROM g)
        |SELECT cid, label AS majority, n_total, c AS n_majority,
        |  CAST((n_total - c) * 1000000 // n_total AS BIGINT) AS mixed_micro
        |FROM m WHERE rn = 1""".stripMargin),

    // Water-filling token allocation: per-source availability skewed by
    // source-index mod 5 over an INDEPENDENT doc_id modulus (source is
    // doc_id % 20, so the gate must not reuse it: doc_id % 7 cycles
    // within every source) — s%5=0 sources get zero tokens (the zero
    // edge), others 1/7..4/7 of their chars; budget 20000 keeps both
    // the filled and rationed branches live at every SF; the oracle
    // replays the sort, the affordability scan, and the level division.
    "q177_water_fill" -> Query((s, dir) => {
      val totals = docs(s, dir)
        .groupBy(col("source"))
        .agg(sum(when(col("doc_id") % 7 <
            pmod(expr("cast(substring(source, 4, 10) as int)"), lit(5)), col("n_chars"))
          .otherwise(0L)).as("avail"))
      graft.ops.Curation.waterFillAllocation(totals, "source", "avail", budget = 20000L)
    },
      // q177: the (available, key) sort, the prefix-closed affordability
      // scan, and the floor-div common level replayed
      """WITH t AS (SELECT source AS key,
        |    CAST(sum(CASE WHEN doc_id % 7 < (CAST(substr(source, 4) AS INT) % 5)
        |      THEN n_chars ELSE 0 END) AS BIGINT) AS available
        |  FROM documents GROUP BY 1),
        |r AS (SELECT key, available,
        |    row_number() OVER (ORDER BY available, key) AS rn,
        |    CAST(sum(available) OVER (ORDER BY available, key ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    count(*) OVER () AS n
        |  FROM t),
        |f AS (SELECT key, available, cum, n,
        |    (available * (n - rn + 1) + (cum - available) <= 20000) AS filled FROM r),
        |l AS (SELECT CAST(sum(CASE WHEN filled THEN 1 ELSE 0 END) AS BIGINT) AS k,
        |    coalesce(CAST(max(CASE WHEN filled THEN cum END) AS BIGINT), 0) AS cumk,
        |    CAST(max(n) AS BIGINT) AS nn FROM f)
        |SELECT key, available,
        |  CASE WHEN filled THEN available
        |       WHEN l.k >= l.nn THEN 0
        |       ELSE (20000 - l.cumk) // (l.nn - l.k) END AS alloc,
        |  filled
        |FROM f CROSS JOIN l""".stripMargin),

    // IDN host decode: punycode labels by doc family (German umlaut,
    // mid-host label, Cyrillic, plain-ASCII passthrough, malformed
    // kept verbatim); the oracle states every decoded host directly in
    // codepoints — any RFC 3492 drift in the kernel breaks the hash.
    "q178_idn_decode" -> Query((s, dir) => {
      val host = when(col("doc_id") % 5 === 0, lit("xn--mnchen-3ya.example"))
        .when(col("doc_id") % 5 === 1, lit("xn--caf-dma.shop.example"))
        .when(col("doc_id") % 5 === 2, lit("xn--h1ahn.example"))
        .when(col("doc_id") % 5 === 3, lit("plain.example"))
        .otherwise(lit("xn--!!.example"))
      docs(s, dir).select(col("doc_id"), host.as("host"),
        graft.ops.WebOps.decodeIdnHost(host).as("decoded"))
    },
      // q178: the decoded hosts stated in codepoints (chr(252)=ü,
      // chr(233)=é, chr(1084/1080/1088)=мир) — CPython's punycode codec
      // is the independent source of these constants
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 'xn--mnchen-3ya.example'
        |       WHEN doc_id % 5 = 1 THEN 'xn--caf-dma.shop.example'
        |       WHEN doc_id % 5 = 2 THEN 'xn--h1ahn.example'
        |       WHEN doc_id % 5 = 3 THEN 'plain.example'
        |       ELSE 'xn--!!.example' END AS host,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm' || chr(252) || 'nchen.example'
        |       WHEN doc_id % 5 = 1 THEN 'caf' || chr(233) || '.shop.example'
        |       WHEN doc_id % 5 = 2 THEN chr(1084) || chr(1080) || chr(1088) || '.example'
        |       WHEN doc_id % 5 = 3 THEN 'plain.example'
        |       ELSE 'xn--!!.example' END AS decoded
        |FROM documents""".stripMargin),

    // Homograph screen END TO END: wire-form xn-- hosts are DECODED
    // first, then script-mix flagged — the paypal lookalike (Cyrillic
    // раура + Latin l in one label) flags, the all-Cyrillic and
    // all-ASCII hosts don't; the oracle states every count.
    // ('xn--l-7sba6dbr' = 'раураl', python: 'раураl'.encode('punycode'))
    "q179_homograph" -> Query((s, dir) => {
      val host = when(col("doc_id") % 4 === 0, lit("xn--l-7sba6dbr.example"))
        .when(col("doc_id") % 4 === 1, lit("xn--h1ahn.example"))
        .when(col("doc_id") % 4 === 2, lit("plain.example"))
        .otherwise(lit("shop.xn--l-7sba6dbr.example"))
      val dec = graft.ops.WebOps.decodeIdnHost(host)
      docs(s, dir)
        .select(col("doc_id"), dec.as("decoded"),
          graft.ops.WebOps.homographFlag(dec).as("h"))
        .select(col("doc_id"), col("decoded"), col("h.n_labels"),
          col("h.n_mixed"), col("h.suspicious"))
    }, {
      // q179: decoded hosts and every homograph count stated directly
      // (chr(1088/1072/1091)=р/а/у — 'раураl' mixes Cyrillic + Latin l)
      val payp = "chr(1088) || chr(1072) || chr(1091) || chr(1088) || chr(1072) || 'l'"
      s"""SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN $payp || '.example'
        |       WHEN doc_id % 4 = 1 THEN chr(1084) || chr(1080) || chr(1088) || '.example'
        |       WHEN doc_id % 4 = 2 THEN 'plain.example'
        |       ELSE 'shop.' || $payp || '.example' END AS decoded,
        |  CAST(CASE WHEN doc_id % 4 = 3 THEN 3 ELSE 2 END AS BIGINT) AS n_labels,
        |  CAST(CASE WHEN doc_id % 4 IN (0, 3) THEN 1 ELSE 0 END AS BIGINT) AS n_mixed,
        |  doc_id % 4 IN (0, 3) AS suspicious
        |FROM documents""".stripMargin
    }),

    // Strict percent-decoding: valid escapes (space, 2- and 3-byte
    // UTF-8), a non-hex escape, and the classic overlong %C0%AF smuggle
    // — invalid inputs come back verbatim with valid=false; the oracle
    // states every decode in codepoints.
    "q180_pct_decode" -> Query((s, dir) => {
      val raw = when(col("doc_id") % 5 === 0, lit("/a%20b/caf%C3%A9"))
        .when(col("doc_id") % 5 === 1, lit("/x%E6%B8%AC%E8%A9%A6"))
        .when(col("doc_id") % 5 === 2, lit("/plain/path"))
        .when(col("doc_id") % 5 === 3, lit("/bad%ZZpath"))
        .otherwise(lit("/overlong%C0%AF"))
      docs(s, dir)
        .select(col("doc_id"), raw.as("raw"),
          graft.ops.WebOps.percentDecode(raw).as("p"))
        .select(col("doc_id"), col("raw"), col("p.decoded"), col("p.valid"))
    },
      // q180: every decode stated in codepoints (chr(233)=é,
      // chr(28204)/chr(35430)=測試); invalid escapes and the overlong
      // %C0%AF come back verbatim with valid=false
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN '/a%20b/caf%C3%A9'
        |       WHEN doc_id % 5 = 1 THEN '/x%E6%B8%AC%E8%A9%A6'
        |       WHEN doc_id % 5 = 2 THEN '/plain/path'
        |       WHEN doc_id % 5 = 3 THEN '/bad%ZZpath'
        |       ELSE '/overlong%C0%AF' END AS raw,
        |  CASE WHEN doc_id % 5 = 0 THEN '/a b/caf' || chr(233)
        |       WHEN doc_id % 5 = 1 THEN '/x' || chr(28204) || chr(35430)
        |       WHEN doc_id % 5 = 2 THEN '/plain/path'
        |       WHEN doc_id % 5 = 3 THEN '/bad%ZZpath'
        |       ELSE '/overlong%C0%AF' END AS decoded,
        |  doc_id % 5 IN (0, 1, 2) AS valid
        |FROM documents""".stripMargin),

    // END-TO-END EXTRACTION PIN, ORACLED ON MARKDOWN BYTES: constructed
    // pages (nav + footer boilerplate around an h1 + two content
    // paragraphs, all doc_id-parameterized) run the FULL real pipeline
    // — tokenizer → DOM → prune → content select → markdown render —
    // and the oracle states the exact expected markdown per document.
    // Any drift anywhere in the extraction stack breaks the hash: the
    // north-star byte-identity contract, enforced by the driver's
    // oracle every round (the goldens pin it in the test suite; this
    // pins it in CORRECTNESS).
    "q181_extract_pin" -> Query((s, dir) => {
      val html = boilerplatePage(col("doc_id"))
      val pages = docs(s, dir).select(
        concat(lit("http://x.example/p"), col("doc_id")).as("url"),
        encode(html, "UTF-8").as("html"))
      graft.extract.ExtractJob.extractedDf(pages)
        .select(col("url"), col("extracted.status").as("status"),
          col("extracted.markdown").as("markdown"))
    },
      // q181: the exact markdown the real pipeline must emit, stated per
      // document (chr(10) = newline); boilerplate nav/footer and the
      // title tag must be gone, the h1 renders as '# ', paragraphs join
      // with blank lines
      """SELECT 'http://x.example/p' || doc_id AS url, 'ok' AS status,
        |  '# Title ' || doc_id || chr(10) || chr(10)
        |    || 'Hello world ' || doc_id
        |    || ' with enough words to be content here today.' || chr(10) || chr(10)
        |    || 'Second paragraph ' || doc_id
        |    || ' also has plenty of real sentence text to keep.' AS markdown
        |FROM documents""".stripMargin),

    // Contrastive hard-negative mining from the IVF index: per query,
    // the self-match drops, the next 4 neighbors are positives, and
    // ranks 5..11 are the hard negatives (same coarse cell, not
    // nearest) a contrastive trainer wants; the oracle replays the
    // whole IVF pipeline at k=12 plus the re-rank and role split.
    "q182_hard_negatives" -> Query((s, dir) => {
      val emb = embeddings(s, dir)
      val top = graft.ops.Similarity.ivfTopK(
        emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding",
        k = 12, nCells = 8, nProbe = 2)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("sim").desc, col("nn_id").asc)
      top.filter(col("nn_id") =!= col("query_id"))
        .withColumn("rank", row_number().over(w))
        .withColumn("role", when(col("rank") <= 4, "positive").otherwise("hard_negative"))
        .select(col("query_id"), col("rank"), col("nn_id"), col("role"))
    },
      // q182: the q35 IVF replay at k=12 (raw-sim rank inside the index,
      // like the op), then the self-drop, the rounded-sim re-rank, and
      // the positive/hard-negative split
      raw"""WITH centr AS (
        |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  ORDER BY (CAST(vec_id AS BIGINT) * 1103515245 + 12345) % 2147483647, vec_id
        |  LIMIT 8
        |),
        |sim_all AS (
        |  SELECT id, cid, CASE WHEN na = 0 OR nc = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nc)) END AS sim
        |  FROM (
        |    SELECT e.vec_id AS id, ct.cid,
        |      list_reduce(list_prepend(0.0::DOUBLE, [e.embedding[i]::DOUBLE * ct.cv[i]::DOUBLE FOR i IN range(1, len(e.embedding) + 1)]), (a, b) -> a + b) AS dot,
        |      list_reduce(list_prepend(0.0::DOUBLE, [e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, len(e.embedding) + 1)]), (a, b) -> a + b) AS na,
        |      list_reduce(list_prepend(0.0::DOUBLE, [ct.cv[i]::DOUBLE * ct.cv[i]::DOUBLE FOR i IN range(1, len(ct.cv) + 1)]), (a, b) -> a + b) AS nc
        |    FROM embeddings e CROSS JOIN centr ct)
        |),
        |assigned AS (
        |  SELECT id AS nn_id, cell FROM (
        |    SELECT id, cid AS cell, row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid ASC) AS rn
        |    FROM sim_all) WHERE rn = 1
        |),
        |probes AS (
        |  SELECT id AS query_id, cell FROM (
        |    SELECT id, cid AS cell, row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid ASC) AS rn
        |    FROM sim_all WHERE id < 5) WHERE rn <= 2
        |),
        |cand AS (
        |  SELECT p.query_id, a.nn_id FROM probes p JOIN assigned a ON p.cell = a.cell
        |),
        |scored AS (
        |  ${cosineSql()}
        |),
        |ivfk AS (SELECT query_id, nn_id, round(sim, 6) AS sim FROM (
        |    SELECT query_id, nn_id, sim, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id ASC) AS rank
        |    FROM scored) WHERE rank <= 12),
        |h AS (SELECT query_id, nn_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id ASC) AS rank
        |  FROM ivfk WHERE nn_id <> query_id)
        |SELECT query_id, rank, nn_id,
        |  CASE WHEN rank <= 4 THEN 'positive' ELSE 'hard_negative' END AS role
        |FROM h""".stripMargin),

    // robots.txt policy summary: per-host constructed robots texts
    // exercise star-group crawl-delay (incl. fractional round-down and
    // an unparsable value), a googlebot-only delay that must NOT apply,
    // group-neutral sitemaps, and the no-robots default; every field
    // stated by the oracle.
    "q183_robots_policy" -> Query((s, dir) => {
      val d = docs(s, dir)
      val txt = when(col("source").isin("src0", "src1", "src2"),
          lit("User-agent: *\nCrawl-delay: 10\nDisallow: /a\nSitemap: http://x/s1.xml\n"))
        .when(col("source").isin("src3", "src4"),
          lit("User-agent: *\nCrawl-delay: 2.9\nDisallow: /a\nDisallow: /b\n"))
        .when(col("source").isin("src5", "src6"),
          lit("User-agent: googlebot\nCrawl-delay: 30\n\nUser-agent: *\nDisallow: /x\nSitemap: http://x/a.xml\nSitemap: http://x/b.xml\n"))
        .when(col("source").isin("src7"),
          lit("User-agent: *\nCrawl-delay: soon\nDisallow: /q\n"))
        .otherwise(lit("# no groups at all\nSitemap: http://x/c.xml\n"))
      d.select(col("source")).distinct()
        .select(concat(col("source"), lit(".example")).as("host"),
          graft.ops.WebOps.robotsPolicy(txt).as("p"))
        .select(col("host"), col("p.crawl_delay"), col("p.n_rules"), col("p.n_sitemaps"))
    },
      // q183: every policy field stated per host family (2.9 rounds down
      // to 2, 'soon' and the googlebot-only delay yield -1, sitemaps are
      // group-neutral)
      """WITH h AS (SELECT DISTINCT source FROM documents)
        |SELECT source || '.example' AS host,
        |  CAST(CASE WHEN source IN ('src0','src1','src2') THEN 10
        |       WHEN source IN ('src3','src4') THEN 2
        |       ELSE -1 END AS BIGINT) AS crawl_delay,
        |  CAST(CASE WHEN source IN ('src0','src1','src2','src5','src6','src7') THEN 1
        |       WHEN source IN ('src3','src4') THEN 2
        |       ELSE 0 END AS BIGINT) AS n_rules,
        |  CAST(CASE WHEN source IN ('src0','src1','src2') THEN 1
        |       WHEN source IN ('src5','src6') THEN 2
        |       WHEN source IN ('src3','src4','src7') THEN 0
        |       ELSE 1 END AS BIGINT) AS n_sitemaps
        |FROM h""".stripMargin),

    // END-TO-END PDF-BRANCH PIN, ORACLED ON MARKDOWN BYTES (q181's twin
    // for the other extraction leg): per-document 2-page PDFs built by
    // the in-house writer (page 2 Flate-compressed) run magic sniff →
    // xref parse → stream decode → text assembly → markdown, and the
    // oracle states the exact output — any drift in the PDF stack
    // breaks the driver's hash.
    "q184_pdf_pin" -> Query((s, dir) => {
      import graft.pdf.PdfWriter
      val mk = udf((id: Long) => PdfWriter.write(Vector(
        PdfWriter.PageSpec(Vector(Vector(s"Pdf doc $id line one", s"and line two of $id"))),
        PdfWriter.PageSpec(Vector(Vector(s"Second page of $id")), compress = true))))
      val pages = docs(s, dir).select(
        concat(lit("http://x.example/d"), col("doc_id"), lit(".pdf")).as("url"),
        mk(col("doc_id")).as("html"))
      graft.extract.ExtractJob.extractedDf(pages)
        .select(col("url"), col("extracted.status").as("status"),
          col("extracted.pages").as("pages"),
          col("extracted.markdown").as("markdown"))
    },
      // q184: the exact PDF-branch markdown stated per document — lines
      // join with newlines inside a page, pages join with a blank line,
      // and page count must read 2
      """SELECT 'http://x.example/d' || doc_id || '.pdf' AS url, 'ok' AS status,
        |  CAST(2 AS INT) AS pages,
        |  'Pdf doc ' || doc_id || ' line one' || chr(10)
        |    || 'and line two of ' || doc_id || chr(10) || chr(10)
        |    || 'Second page of ' || doc_id AS markdown
        |FROM documents""".stripMargin),

    // sitemap.xml parse — the discovery input the q183 robots policy
    // points at: per-document constructed sitemaps exercise urlset
    // entries (entity-decoded loc, W3C lastmod validation, case-folded
    // changefreq enum, exact-integer priority micro-units, a loc-less
    // entry that must drop), sitemapindex children, and the
    // HTML-as-sitemap invalid case; every output field is a closed
    // form of doc_id the oracle states.
    "q185_sitemap" -> Query((s, dir) => {
      val d = docs(s, dir)
      val base = concat(lit("http://"), col("source"), lit(".example/"))
      val m = pmod(col("doc_id"), lit(4))
      val txt = when(m === 0, concat(
          lit("<?xml version=\"1.0\"?>\n<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n<url><loc>"),
          base, lit("p?a=1&amp;b="), col("doc_id"),
          lit("</loc><lastmod>2026-01-15</lastmod><changefreq>weekly</changefreq><priority>0."),
          pmod(col("doc_id"), lit(10)),
          lit("</priority></url>\n<url><loc>"), base, lit("q"), col("doc_id"),
          lit("</loc><changefreq>MONTHLY</changefreq><priority>high</priority></url>\n</urlset>")))
        .when(m === 1, concat(
          lit("<urlset><url><lastmod>2026-01-01</lastmod></url><url><loc>"),
          base, lit("only"), col("doc_id"), lit("</loc></url></urlset>")))
        .when(m === 2, concat(
          lit("<?xml version=\"1.0\"?><sitemapindex><sitemap><loc>"),
          base, lit("maps/b"), col("doc_id"),
          lit(".xml?x=1&amp;y=2</loc></sitemap><sitemap><loc>"),
          base, lit("maps/a"), col("doc_id"),
          lit(".xml</loc><lastmod>2026-02-02</lastmod></sitemap></sitemapindex>")))
        .otherwise(lit("<html><body><h1>Not Found</h1></body></html>"))
      d.select(col("doc_id"), col("source"),
          graft.ops.WebOps.sitemapParse(txt).as("p"))
        .select(col("doc_id"), col("p.kind").as("kind"),
          size(col("p.entries")).as("n_entries"),
          size(col("p.children")).as("n_children"),
          size(expr("filter(p.entries, e -> e.lastmod_ok)")).as("n_lastmod"),
          size(expr("filter(p.entries, e -> e.changefreq IS NOT NULL)")).as("n_cf_valid"),
          expr("array_max(transform(p.entries, e -> e.priority_micro))").as("max_priority_micro"),
          expr("array_min(transform(p.entries, e -> e.loc))").as("first_loc"),
          expr("array_min(p.children)").as("first_child"))
    },
      // q185: every sitemap field stated as a closed form of doc_id —
      // the loc-less entry drops (n_entries 1 for the %4=1 family), the
      // &amp; in loc/child decodes, MONTHLY case-folds into the enum,
      // 'high' and absent priorities read -1, and the min child is the
      // 'a'-named one even though the document lists 'b' first.
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 IN (0, 1) THEN 'urlset'
        |       WHEN doc_id % 4 = 2 THEN 'sitemapindex' ELSE 'invalid' END AS kind,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS INT) AS n_entries,
        |  CAST(CASE WHEN doc_id % 4 = 2 THEN 2 ELSE 0 END AS INT) AS n_children,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS INT) AS n_lastmod,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END AS INT) AS n_cf_valid,
        |  CASE WHEN doc_id % 4 = 0 THEN (doc_id % 10) * 100000
        |       WHEN doc_id % 4 = 1 THEN CAST(-1 AS BIGINT) END AS max_priority_micro,
        |  CASE WHEN doc_id % 4 = 0 THEN 'http://' || source || '.example/p?a=1&b=' || doc_id
        |       WHEN doc_id % 4 = 1 THEN 'http://' || source || '.example/only' || doc_id
        |       END AS first_loc,
        |  CASE WHEN doc_id % 4 = 2
        |       THEN 'http://' || source || '.example/maps/a' || doc_id || '.xml'
        |       END AS first_child
        |FROM documents""".stripMargin),

    // RSS/Atom feed parse — the third crawl-discovery input beside the
    // q183 robots Sitemap pointers and the q185 sitemaps: per-document
    // constructed feeds exercise RSS text links + RFC 1123 pubDate
    // validation, Atom attribute-carried hrefs (both quote styles) +
    // W3C updated validation, entity decode in links and titles,
    // link-less items dropping, and HTML-as-feed → invalid.
    "q186_feed" -> Query((s, dir) => {
      val d = docs(s, dir)
      val base = concat(lit("http://"), col("source"), lit(".example/"))
      val m = pmod(col("doc_id"), lit(3))
      val txt = when(m === 0, concat(
          lit("<?xml version=\"1.0\"?>\n<rss version=\"2.0\"><channel><title>c</title>\n" +
            "<item><link>"), base, lit("a?x=1&amp;y="), col("doc_id"),
          lit("</link><title>Post &amp; "), col("doc_id"),
          lit("</title><pubDate>Tue, 10 Jun 2003 04:00:00 GMT</pubDate></item>\n<item><link>"),
          base, lit("b"), col("doc_id"),
          lit("</link><pubDate>yesterday</pubDate></item>\n" +
            "<item><title>no link</title></item>\n</channel></rss>")))
        .when(m === 1, concat(
          lit("<?xml version=\"1.0\"?>\n<feed xmlns=\"http://www.w3.org/2005/Atom\">\n" +
            "<entry><title type=\"text\">E "), col("doc_id"),
          lit("</title><link rel=\"alternate\" href=\""), base,
          lit("e?id="), col("doc_id"),
          lit("&amp;v=2\"/><updated>2026-03-01T12:00:00Z</updated></entry>\n<entry><link href='"),
          base, lit("f"), col("doc_id"),
          lit("'/></entry>\n<entry><title>nolink</title></entry>\n</feed>")))
        .otherwise(lit("<html><body><h1>Blog</h1></body></html>"))
      d.select(col("doc_id"), graft.ops.WebOps.feedParse(txt).as("p"))
        .select(col("doc_id"), col("p.kind").as("kind"),
          size(col("p.items")).as("n_items"),
          size(expr("filter(p.items, i -> i.date_ok)")).as("n_date_ok"),
          expr("try_element_at(p.items, 1).link").as("first_link"),
          expr("try_element_at(p.items, 1).title").as("first_title"))
    },
      // q186: every feed field stated as a closed form of doc_id — the
      // link-less third item drops (n_items 2 for both dialects), exactly
      // one item per feed carries a dialect-valid date ('yesterday' and a
      // missing <updated> both fail), the &amp; in links/titles decodes,
      // and the first item is document order (try_element_at, not min).
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'rss' WHEN 1 THEN 'atom'
        |       ELSE 'invalid' END AS kind,
        |  CAST(CASE WHEN doc_id % 3 IN (0, 1) THEN 2 ELSE 0 END AS INT) AS n_items,
        |  CAST(CASE WHEN doc_id % 3 IN (0, 1) THEN 1 ELSE 0 END AS INT) AS n_date_ok,
        |  CASE WHEN doc_id % 3 = 0 THEN 'http://' || source || '.example/a?x=1&y=' || doc_id
        |       WHEN doc_id % 3 = 1 THEN 'http://' || source || '.example/e?id=' || doc_id || '&v=2'
        |       END AS first_link,
        |  CASE WHEN doc_id % 3 = 0 THEN 'Post & ' || doc_id
        |       WHEN doc_id % 3 = 1 THEN 'E ' || doc_id END AS first_title
        |FROM documents""".stripMargin),

    // Sitemap coverage audit — q185's parser driving a refetch plan:
    // per-doc sitemap shards list the doc's own url (even ids only,
    // lastmod Jan 15) plus a ghost url nobody crawled; the crawl frame
    // has every doc fetched on Jan 1 + (id%28). The full-outer join
    // then yields all four coverage classes and the stale set
    // (lastmod > crawl day ⇔ even id with id%28 ≤ 13) per host.
    "q187_sitemap_coverage" -> Query((s, dir) => {
      val d = docs(s, dir)
      val base = concat(lit("http://"), col("source"), lit(".example/"))
      val crawled = d.select(col("source").as("host"),
        concat(base, lit("doc/"), col("doc_id")).as("url"),
        date_add(to_date(lit("2026-01-01")),
          pmod(col("doc_id"), lit(28)).cast("int")).as("crawl_day"))
      val sm = concat(lit("<urlset>"),
        when(pmod(col("doc_id"), lit(2)) === 0, concat(
          lit("<url><loc>"), base, lit("doc/"), col("doc_id"),
          lit("</loc><lastmod>2026-01-15</lastmod></url>"))).otherwise(lit("")),
        lit("<url><loc>"), base, lit("ghost/"), col("doc_id"),
        lit("</loc></url></urlset>"))
      val listed = d.select(col("source").as("host"),
          graft.ops.WebOps.sitemapParse(sm).as("p"))
        .select(col("host"), explode(col("p.entries")).as("e"))
        .select(col("host"), col("e.loc").as("url"),
          to_date(substring(col("e.lastmod"), 1, 10)).as("lastmod_day"))
      graft.ops.WebOps.sitemapCoverage(listed, crawled)
    },
      // q187: coverage classes as closed forms per host — every doc is a
      // ghost entry (listed-not-crawled), even docs also list themselves
      // (both; stale when the Jan-1+id%28 crawl predates the Jan-15
      // lastmod), odd docs are crawled-not-listed.
      """SELECT source AS host,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END) AS BIGINT) AS n_listed,
        |  CAST(COUNT(*) AS BIGINT) AS n_crawled,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(COUNT(*) AS BIGINT) AS n_listed_not_crawled,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_crawled_not_listed,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 0 AND doc_id % 28 <= 13 THEN 1 ELSE 0 END) AS BIGINT) AS n_stale
        |FROM documents GROUP BY source""".stripMargin),

    // Politeness fetch schedule — per-host crawl-delay slots over a
    // 7-hosts-per-source frontier: slot = rank within host by url,
    // sched_ms = slot × the host's delay; DuckDB replays the identical
    // window, so determinism across engines is the assertion.
    "q188_politeness" -> Query((s, dir) => {
      val d = docs(s, dir)
      val host = concat(col("source"), lit("-h"), pmod(col("doc_id"), lit(7)))
      val urls = d.select(host.as("host"),
        concat(lit("http://"), host, lit(".example/doc/"), col("doc_id")).as("url"))
      val delays = d.select(host.as("host"),
          ((pmod(col("doc_id"), lit(7)) + 1) * 500).cast("long").as("delay_ms"))
        .groupBy(col("host")).agg(max(col("delay_ms")).as("delay_ms"))
      graft.ops.WebOps.politenessSchedule(urls, delays)
        .select(col("url"), col("host"), col("slot"), col("sched_ms"))
    },
      // q188: DuckDB replays the identical per-host window (url is unique
      // within host, so the order is total and the slot deterministic).
      """WITH u AS (
        |  SELECT source || '-h' || (doc_id % 7) AS host,
        |    'http://' || source || '-h' || (doc_id % 7) || '.example/doc/' || doc_id AS url,
        |    (doc_id % 7 + 1) * 500 AS delay_ms
        |  FROM documents)
        |SELECT url, host,
        |  CAST(row_number() OVER (PARTITION BY host ORDER BY url) - 1 AS INT) AS slot,
        |  CAST((row_number() OVER (PARTITION BY host ORDER BY url) - 1) * delay_ms AS BIGINT) AS sched_ms
        |FROM u""".stripMargin),

    // JSON-LD structured-data harvest — the real tokenizer pulls
    // <script type="application/ld+json"> blocks (plain JS scripts must
    // NOT match; the Article page carries TWO blocks and fields read
    // from the first), then codegen'd get_json_object reaches @type,
    // nested author.name, and offers.price; every value a closed form.
    "q189_jsonld" -> Query((s, dir) => {
      val d = docs(s, dir)
      val m = pmod(col("doc_id"), lit(3))
      val html = when(m === 0, concat(
          lit("<html><head><script>var x=1;</script>" +
            "<script type=\"application/ld+json\">{\"@context\":\"https://schema.org\"," +
            "\"@type\":\"Article\",\"headline\":\"Post "), col("doc_id"),
          lit("\",\"datePublished\":\"2026-01-15\"," +
            "\"author\":{\"@type\":\"Person\",\"name\":\"A "), col("doc_id"),
          lit("\"}}</script><script type=\"application/ld+json\">" +
            "{\"@type\":\"BreadcrumbList\"}</script></head><body><p>t</p></body></html>")))
        .when(m === 1, concat(
          lit("<html><head><script type='application/ld+json'>" +
            "{\"@type\":\"Product\",\"name\":\"P "), col("doc_id"),
          lit("\",\"offers\":{\"@type\":\"Offer\",\"price\":\""),
          pmod(col("doc_id"), lit(100)),
          lit(".50\",\"priceCurrency\":\"USD\"}}</script></head><body></body></html>")))
        .otherwise(lit("<html><head><script>var y=2;</script></head>" +
          "<body><p>no ld</p></body></html>"))
      d.select(col("doc_id"),
          graft.extract.MetaHarvest.jsonldBlocks(html).as("blocks"))
        .select(col("doc_id"), size(col("blocks")).as("n_blocks"),
          get_json_object(expr("try_element_at(blocks, 1)"), "$['@type']").as("ld_type"),
          get_json_object(expr("try_element_at(blocks, 1)"), "$.headline").as("headline"),
          get_json_object(expr("try_element_at(blocks, 1)"), "$.author.name").as("author_name"),
          get_json_object(expr("try_element_at(blocks, 1)"), "$.offers.price").as("price"))
    },
      // q189: the constructed JSON-LD fields as closed forms — the plain
      // JS scripts contribute nothing, the Article page counts 2 blocks
      // but reads fields from the first, the Product page's nested offer
      // price is (id%100).50, and the no-LD page is all absent.
      """SELECT doc_id,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS INT) AS n_blocks,
        |  CASE doc_id % 3 WHEN 0 THEN 'Article' WHEN 1 THEN 'Product' END AS ld_type,
        |  CASE WHEN doc_id % 3 = 0 THEN 'Post ' || doc_id END AS headline,
        |  CASE WHEN doc_id % 3 = 0 THEN 'A ' || doc_id END AS author_name,
        |  CASE WHEN doc_id % 3 = 1 THEN (doc_id % 100) || '.50' END AS price
        |FROM documents""".stripMargin),

    // Flesch–Kincaid readability — templates with hand-verified word/
    // sentence/syllable counts drive the REAL kernel (vowel-group rule,
    // silent-e, terminator-run sentences); the grade formulas are pure
    // Column DSL on the count longs in exact micro-units, so the oracle
    // replays the identical IEEE expression on its closed-form counts.
    "q190_readability" -> Query((s, dir) => {
      val d = docs(s, dir)
      val m = pmod(col("doc_id"), lit(4))
      val k = pmod(col("doc_id"), lit(3)) + 1
      val s0 = "The quick brown fox jumps over the lazy dog." // 9 words, 11 syllables
      val s1 = "Reading comprehension requires attention."    // 4 words, 12 syllables
      val text = when(m === 0,
          when(k === 1, lit(s0)).when(k === 2, lit(s0 + " " + s0))
            .otherwise(lit(s0 + " " + s0 + " " + s0)))
        .when(m === 1, lit(s1 + " " + s1))
        .when(m === 2, lit("brown fox")) // fragment: no terminator → 1 sentence
        .otherwise(lit(""))
      val r = graft.ops.TextOps.readability(text)
      d.select(col("doc_id"), r.as("r"))
        .select(col("doc_id"),
          col("r.n_words").as("n_words"),
          col("r.n_sentences").as("n_sentences"),
          col("r.n_syllables").as("n_syllables"),
          graft.ops.TextOps.fkGradeMicro(
            col("r.n_words"), col("r.n_sentences"), col("r.n_syllables")).as("fk_grade_micro"),
          graft.ops.TextOps.fleschEaseMicro(
            col("r.n_words"), col("r.n_sentences"), col("r.n_syllables")).as("flesch_micro"))
    },
      // q190: counts as closed forms of doc_id (templates hand-verified in
      // the spec), grades the IDENTICAL IEEE double expression on those
      // counts — exact-integer divisions once, floor micro-quantized.
      """WITH r AS (
        |  SELECT doc_id,
        |    CAST(CASE doc_id % 4 WHEN 0 THEN 9*((doc_id % 3)+1) WHEN 1 THEN 8 WHEN 2 THEN 2 ELSE 0 END AS BIGINT) AS n_words,
        |    CAST(CASE doc_id % 4 WHEN 0 THEN (doc_id % 3)+1 WHEN 1 THEN 2 WHEN 2 THEN 1 ELSE 0 END AS BIGINT) AS n_sentences,
        |    CAST(CASE doc_id % 4 WHEN 0 THEN 11*((doc_id % 3)+1) WHEN 1 THEN 24 WHEN 2 THEN 2 ELSE 0 END AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN CAST(floor((0.39*(CAST(n_words AS DOUBLE)/CAST(n_sentences AS DOUBLE)) + 11.8*(CAST(n_syllables AS DOUBLE)/CAST(n_words AS DOUBLE)) - 15.59)*1e6 + 0.5) AS BIGINT) END AS fk_grade_micro,
        |  CASE WHEN n_words > 0 THEN CAST(floor((206.835 - 1.015*(CAST(n_words AS DOUBLE)/CAST(n_sentences AS DOUBLE)) - 84.6*(CAST(n_syllables AS DOUBLE)/CAST(n_words AS DOUBLE)))*1e6 + 0.5) AS BIGINT) END AS flesch_micro
        |FROM r""".stripMargin),

    // LZ78 repetition signal — the compression-ratio quality heuristic
    // with a closed form: a^T(k) parses into exactly k phrases (a, aa,
    // …, a^k), an all-distinct prefix into one phrase per char, empty
    // into none; ratio = phrases/codepoints micro-quantized, null on
    // empty. The parse itself (dictionary walk) is pinned by the spec.
    "q191_lz78" -> Query((s, dir) => {
      val d = docs(s, dir)
      val m = pmod(col("doc_id"), lit(3))
      val k = pmod(col("doc_id"), lit(12)) + 1   // 1..12, T(k) ≤ 78
      val lcol = pmod(col("doc_id"), lit(26)) + 1 // 1..26
      val withText = d
        .withColumn("__tri", (k * (k + 1) / 2).cast("int"))
        .withColumn("__l", lcol.cast("int"))
        .withColumn("__t",
          when(m === 0, expr("repeat('a', __tri)"))
          .when(m === 1, expr("substring('abcdefghijklmnopqrstuvwxyz', 1, __l)"))
          .otherwise(lit("")))
      val st = graft.ops.TextOps.lz78(col("__t"))
      withText.select(col("doc_id"), st.as("s"))
        .select(col("doc_id"),
          col("s.n_phrases").as("n_phrases"), col("s.n_cp").as("n_cp"),
          when(col("s.n_cp") === 0L, lit(null).cast("long")).otherwise(
            floor(col("s.n_phrases").cast("double") / col("s.n_cp").cast("double") * lit(1e6) + lit(0.5))
              .cast("long")).as("ratio_micro"))
    },
      // q191: LZ78 closed forms — a^T(k) → k phrases over T(k) codepoints,
      // all-distinct prefix → L over L, empty → 0; ratio replays the
      // identical IEEE division/quantization on the same integers.
      """WITH r AS (
        |  SELECT doc_id,
        |    CAST(CASE doc_id % 3 WHEN 0 THEN (doc_id % 12)+1 WHEN 1 THEN (doc_id % 26)+1 ELSE 0 END AS BIGINT) AS n_phrases,
        |    CAST(CASE doc_id % 3 WHEN 0 THEN ((doc_id % 12)+1)*((doc_id % 12)+2)/2 WHEN 1 THEN (doc_id % 26)+1 ELSE 0 END AS BIGINT) AS n_cp
        |  FROM documents)
        |SELECT doc_id, n_phrases, n_cp,
        |  CASE WHEN n_cp > 0 THEN CAST(floor(CAST(n_phrases AS DOUBLE)/CAST(n_cp AS DOUBLE)*1e6 + 0.5) AS BIGINT) END AS ratio_micro
        |FROM r""".stripMargin),

    // REAL JPEG DECODE, ORACLED ON PIXELS (the q184 pattern for the image
    // codec): per-document flat-block grayscale JPEGs built by the
    // in-house encoder (exact class: DC-only blocks, quant DC=8) run the
    // full from-scratch T.81 decode — marker parse, Huffman, dequant,
    // IDCT — and the oracle states the decoded pixel sum/min/max as
    // closed forms of doc_id; any drift anywhere in the codec breaks the
    // driver's hash. (JpegSpec separately proves the same bytes decode
    // identically under the JDK's independent ImageIO implementation.)
    "q192_jpeg_decode" -> Query((s, dir) => {
      perDoc(s, dir, "width", "height", "pix_sum", "pix_min", "pix_max") { id =>
        val bw = 2 + (id % 3).toInt; val bh = 2 + (id % 2).toInt
        val w = bw * 8; val h = bh * 8
        val pix = raster(w, h)((x, y, _) => (id * 31 + (x / 8) * 7 + (y / 8) * 13) % 256)
        val bytes = graft.codec.JpegEncoder.encodeGray(pix, w, h,
          graft.codec.JpegEncoder.exactQuant, dri = if (id % 5 == 0) 2 else 0)
        graft.codec.Jpeg.decode(bytes) match {
          case Right(im) =>
            val (sum, mn, mx) = pixelStats(im.pixels)
            (im.width.toLong, im.height.toLong, sum, mn, mx)
          case Left(_) => (0L, 0L, -1L, -1L, -1L)
        }
      }
    },
      // q192: the decoded pixels of an exact-class flat-block JPEG are the
      // block values themselves — sum/min/max reduce to closed forms over
      // the (bx, by) block grid.
      """WITH g AS (
        |  SELECT doc_id, 2 + doc_id % 3 AS bw, 2 + doc_id % 2 AS bh FROM documents),
        |bxs AS (SELECT doc_id, bw, bh, unnest(generate_series(0, bw - 1)) AS bx FROM g),
        |b AS (SELECT doc_id, bw, bh, bx, unnest(generate_series(0, bh - 1)) AS by FROM bxs),
        |v AS (SELECT doc_id, bw, bh, (doc_id*31 + bx*7 + by*13) % 256 AS v FROM b)
        |SELECT doc_id, CAST(8*bw AS BIGINT) AS width, CAST(8*bh AS BIGINT) AS height,
        |  CAST(64*sum(v) AS BIGINT) AS pix_sum,
        |  CAST(min(v) AS BIGINT) AS pix_min, CAST(max(v) AS BIGINT) AS pix_max
        |FROM v GROUP BY doc_id, bw, bh""".stripMargin),

    // JPEG COLOR PIPELINE PIN: flat single-block YCbCr 4:4:4 images decode
    // through upsampling-free color conversion; the oracle replays the
    // documented fixed-point YCbCr->RGB (floor((k*c + 32768)/65536) IS
    // Java's arithmetic >>16) so the conversion constants are
    // cross-engine-pinned, not just spec'd.
    "q193_jpeg_color" -> Query((s, dir) => {
      perDoc(s, dir, "r", "g", "b") { id =>
        val yv = ((id * 7 + 3) % 256).toInt
        val cb = ((id * 5 + 31) % 256).toInt
        val cr = ((id * 11 + 67) % 256).toInt
        val mk = (v: Int) => Array.fill[Byte](64)(v.toByte)
        val bytes = graft.codec.JpegEncoder.encodeYcbcr444(mk(yv), mk(cb), mk(cr), 8, 8,
          graft.codec.JpegEncoder.exactQuant, graft.codec.JpegEncoder.exactQuant)
        graft.codec.Jpeg.decode(bytes) match {
          case Right(im) if im.nComponents == 3 =>
            ((im.pixels(0) & 0xff).toLong, (im.pixels(1) & 0xff).toLong,
              (im.pixels(2) & 0xff).toLong)
          case _ => (-1L, -1L, -1L)
        }
      }
    },
      // q193: floor((k*c + 32768)/65536.0) replays Java's (k*c + 32768) >> 16
      // exactly (arithmetic shift IS floor division); clamp via
      // greatest/least.
      """WITH p AS (
        |  SELECT doc_id,
        |    (doc_id*7 + 3) % 256 AS y,
        |    (doc_id*5 + 31) % 256 - 128 AS cb,
        |    (doc_id*11 + 67) % 256 - 128 AS cr
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(greatest(0, least(255, y + CAST(floor((91881*cr + 32768) / 65536.0) AS BIGINT))) AS BIGINT) AS r,
        |  CAST(greatest(0, least(255, y - CAST(floor((22554*cb + 46802*cr + 32768) / 65536.0) AS BIGINT))) AS BIGINT) AS g,
        |  CAST(greatest(0, least(255, y + CAST(floor((116130*cb + 32768) / 65536.0) AS BIGINT))) AS BIGINT) AS b
        |FROM p""".stripMargin),

    // PDF -> EMBEDDED JPEG -> PIXELS, END TO END: the in-house PdfWriter
    // embeds a real JPEG as a /DCTDecode image XObject, the PDF parser
    // harvests it (PdfImages), and the codec decodes the payload — the
    // scanned-document leg the round-2 verdict called the largest class
    // the engine couldn't read, now oracled from container bytes down to
    // pixel sums.
    "q194_pdf_jpeg" -> Query((s, dir) => {
      import graft.pdf.PdfWriter
      val mk = udf { id: Long =>
        val bw = 2 + (id % 3).toInt; val bh = 2 + (id % 2).toInt
        val w = bw * 8; val h = bh * 8
        val pix = raster(w, h)((x, y, _) => (id * 31 + (x / 8) * 7 + (y / 8) * 13) % 256)
        val jpeg = graft.codec.JpegEncoder.encodeGray(pix, w, h,
          graft.codec.JpegEncoder.exactQuant)
        PdfWriter.write(Vector(PdfWriter.PageSpec(Vector(Vector(s"scan $id")),
          images = Vector(PdfWriter.ImageSpec(w, h, PdfWriter.DctCodec, jpeg,
            colorSpace = "DeviceGray")))))
      }
      val dec = udf { b: Array[Byte] =>
        graft.codec.Jpeg.decode(b) match {
          case Right(im) =>
            val sum = pixelStats(im.pixels)._1
            (im.width.toLong, im.height.toLong, sum)
          case Left(_) => (-1L, -1L, -1L)
        }
      }
      val pages = docs(s, dir).select(
        concat(lit("http://x.example/scan"), col("doc_id"), lit(".pdf")).as("url"),
        mk(col("doc_id")).as("payload"))
      graft.extract.PdfImages.imagesDf(pages, "url", "payload")
        .select(
          regexp_extract(col("url"), "scan(\\d+)\\.pdf", 1).cast("long").as("doc_id"),
          col("page").cast("long").as("page"), col("format"),
          col("width").cast("long").as("meta_w"), col("height").cast("long").as("meta_h"),
          col("color_space"), dec(col("data")).as("d"))
        .select(col("doc_id"), col("page"), col("format"), col("meta_w"), col("meta_h"),
          col("color_space"), col("d._1").as("width"), col("d._2").as("height"),
          col("d._3").as("pix_sum"))
    },
      // q194: q192's closed form plus the PDF container constants the
      // harvest reads from the image XObject dict.
      """WITH g AS (
        |  SELECT doc_id, 2 + doc_id % 3 AS bw, 2 + doc_id % 2 AS bh FROM documents),
        |bxs AS (SELECT doc_id, bw, bh, unnest(generate_series(0, bw - 1)) AS bx FROM g),
        |b AS (SELECT doc_id, bw, bh, bx, unnest(generate_series(0, bh - 1)) AS by FROM bxs),
        |v AS (SELECT doc_id, bw, bh, (doc_id*31 + bx*7 + by*13) % 256 AS v FROM b)
        |SELECT doc_id, CAST(0 AS BIGINT) AS page, 'jpeg' AS format,
        |  CAST(8*bw AS BIGINT) AS meta_w, CAST(8*bh AS BIGINT) AS meta_h,
        |  'DeviceGray' AS color_space,
        |  CAST(8*bw AS BIGINT) AS width, CAST(8*bh AS BIGINT) AS height,
        |  CAST(64*sum(v) AS BIGINT) AS pix_sum
        |FROM v GROUP BY doc_id, bw, bh""".stripMargin),

    // CCITT G4 (T.6) DECODE, ORACLED ON PIXELS: per-document bilevel
    // patterns ((x + 3y + id) mod 7 < 3 — short alternating runs that
    // exercise vertical, horizontal AND pass modes) round-trip the
    // from-scratch fax codec, half the corpus byte-aligned per line
    // (/EncodedByteAlign); the oracle recounts black pixels and their
    // positional checksum from the closed form. (CcittSpec separately
    // sweeps every run-length table row against the JDK's independent
    // TIFF fax codec.)
    "q195_ccitt" -> Query((s, dir) => {
      perDoc(s, dir, "width", "height", "n_black", "checksum") { id =>
        val w = 24 + (id % 3).toInt * 8; val h = 3 + (id % 4).toInt
        val pix = raster(w, h)((x, y, _) => if ((x + 3 * y + id) % 7 < 3) 1 else 0)
        val align = id % 2 == 0
        val enc = graft.codec.CcittG4.encode(pix, w, h, align)
        graft.codec.CcittG4.decode(enc, w, h, align) match {
          case Right(d) =>
            val (nb, ck) = inkStats(d)
            (w.toLong, h.toLong, nb, ck, enc.length.toLong)
          case Left(_) => (-1L, -1L, -1L, -1L, -1L)
        }
      }
    },
      // q195: black iff (x + 3y + id) mod 7 < 3; checksum sums the linear
      // pixel index y*w + x over black pixels.
      raw"""WITH g AS (
        |  SELECT doc_id, 24 + (doc_id % 3) * 8 AS w, 3 + doc_id % 4 AS h FROM documents),
        |${pixelGridSql("g", "xs", "c")}
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum(CASE WHEN (x + 3*y + doc_id) % 7 < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_black,
        |  CAST(sum(CASE WHEN (x + 3*y + doc_id) % 7 < 3 THEN y*w + x ELSE 0 END) AS BIGINT) AS checksum
        |FROM c GROUP BY doc_id, w, h""".stripMargin),

    // PDF -> CCITTFaxDecode -> PIXELS, END TO END (q194's fax twin): the
    // writer embeds real G4 payloads with honest /DecodeParms
    // (/K -1 /Columns /Rows /BlackIs1 true), the harvest surfaces them,
    // and the codec decodes — the second scanned-document class the
    // round-2 verdict listed now reads for real.
    "q196_pdf_ccitt" -> Query((s, dir) => {
      import graft.pdf.PdfWriter
      val mk = udf { id: Long =>
        val w = 24 + (id % 3).toInt * 8; val h = 3 + (id % 4).toInt
        val pix = raster(w, h)((x, y, _) => if ((x + 3 * y + id) % 7 < 3) 1 else 0)
        val g4 = graft.codec.CcittG4.encode(pix, w, h)
        PdfWriter.write(Vector(PdfWriter.PageSpec(Vector(Vector(s"fax $id")),
          images = Vector(PdfWriter.ImageSpec(w, h, PdfWriter.CcittCodec, g4,
            colorSpace = "DeviceGray", bitsPerComponent = 1)))))
      }
      val dec = udf { (b: Array[Byte], w: Int, h: Int) =>
        graft.codec.CcittG4.decode(b, w, h) match {
          case Right(d) =>
            val (nb, ck) = inkStats(d)
            (nb, ck)
          case Left(_) => (-1L, -1L)
        }
      }
      val pages = docs(s, dir).select(
        concat(lit("http://x.example/fax"), col("doc_id"), lit(".pdf")).as("url"),
        mk(col("doc_id")).as("payload"))
      graft.extract.PdfImages.imagesDf(pages, "url", "payload")
        .select(
          regexp_extract(col("url"), "fax(\\d+)\\.pdf", 1).cast("long").as("doc_id"),
          col("format"), col("color_space"), col("bits").cast("long").as("bits"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          dec(col("data"), col("width"), col("height")).as("d"))
        .select(col("doc_id"), col("format"), col("color_space"), col("bits"),
          col("width"), col("height"),
          col("d._1").as("n_black"), col("d._2").as("checksum"))
    },
      // q196: q195's closed form plus the image-dict constants the PDF
      // harvest reads back.
      raw"""WITH g AS (
        |  SELECT doc_id, 24 + (doc_id % 3) * 8 AS w, 3 + doc_id % 4 AS h FROM documents),
        |${pixelGridSql("g", "xs", "c")}
        |SELECT doc_id, 'ccitt' AS format, 'DeviceGray' AS color_space,
        |  CAST(1 AS BIGINT) AS bits,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum(CASE WHEN (x + 3*y + doc_id) % 7 < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_black,
        |  CAST(sum(CASE WHEN (x + 3*y + doc_id) % 7 < 3 THEN y*w + x ELSE 0 END) AS BIGINT) AS checksum
        |FROM c GROUP BY doc_id, w, h""".stripMargin),

    // IMAGE NEAR-DUP FINGERPRINT over REAL decoded pixels: per-document
    // 72x64 exact-class JPEGs (block pattern keyed on doc_id mod 40, so
    // duplicates are planted) decode through the T.81 codec, dHash over
    // the pixels, and duplicate-group sizes come from one 8-byte-keyed
    // window — the image analog of T3 SimHash. Oracle replays the
    // downscale-to-block-values reduction and the bit packing (HUGEINT
    // two's-complement fold for bit 63).
    "q197_dhash" -> Query((s, dir) => {
      val hashUdf = udf { id: Long =>
        val p = (id % 40).toInt
        val w = 72; val h = 64
        val pix = raster(w, h)((x, y, _) => (p * 17 + (x / 8) * 5 + (y / 8) * 11) % 256)
        val bytes = graft.codec.JpegEncoder.encodeGray(pix, w, h,
          graft.codec.JpegEncoder.exactQuant)
        graft.codec.Jpeg.decode(bytes) match {
          case Right(im) => graft.ops.Multimodal.dhash64(im.pixels, im.width, im.height)
          case Left(_) => Long.MinValue + 1 // poison: oracle mismatch flags it
        }
      }
      val d = docs(s, dir).select(col("doc_id"), hashUdf(col("doc_id")).as("dhash"))
      d.withColumn("n_same",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("dhash"))))
    },
      // q197: block-aligned dhash reduces to comparisons over the block
      // closed form; bit 63 folds via HUGEINT two's complement.
      """WITH g AS (SELECT doc_id, doc_id % 40 AS p FROM documents),
        |cs AS (SELECT doc_id, p, unnest(generate_series(0, 7)) AS c FROM g),
        |rc AS (SELECT doc_id, p, c, unnest(generate_series(0, 7)) AS r FROM cs),
        |bits AS (SELECT doc_id,
        |    CASE WHEN (p*17 + (c+1)*5 + r*11) % 256 > (p*17 + c*5 + r*11) % 256
        |         THEN (1::HUGEINT << CAST(r*8 + c AS INTEGER)) ELSE 0::HUGEINT END AS bit
        |  FROM rc),
        |h AS (SELECT doc_id, CAST(sum(bit) AS HUGEINT) AS hu FROM bits GROUP BY doc_id),
        |hh AS (SELECT doc_id,
        |    CAST(hu - CASE WHEN hu >= 9223372036854775808::HUGEINT
        |                   THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT) AS dhash
        |  FROM h)
        |SELECT doc_id, dhash,
        |  CAST(count(*) OVER (PARTITION BY dhash) AS BIGINT) AS n_same
        |FROM hh""".stripMargin),

    // REAL AUDIO DECODE (PCM WAV): per-document sawtooth PCM encodes
    // through the RIFF writer and back through the chunk-walking parser;
    // exact integer energy / peak / floor-division duration are closed
    // forms the oracle restates. The audio leg of the multimodal ops is
    // no longer a fake codec.
    "q198_wav" -> Query((s, dir) => {
      perDoc(s, dir, "channels", "rate", "n_frames", "energy", "peak", "dur_us") { id =>
        val n = 400 + (id % 5).toInt * 80
        val rate = 8000 * (1 + (id % 3).toInt)
        val samples = Array.tabulate(n)(i => (((id * 13 + i * 17) % 2001) - 1000).toShort)
        val bytes = graft.codec.Wav.encode(samples, 1, rate)
        graft.codec.Wav.decode(bytes) match {
          case Right(a) =>
            val (energy, peak, dur) = graft.codec.Wav.features(a)
            (a.channels.toLong, a.sampleRate.toLong, a.nFrames.toLong, energy, peak, dur)
          case Left(_) => (-1L, -1L, -1L, -1L, -1L, -1L)
        }
      }
    },
      // q198: energy/peak restated over the sawtooth closed form; duration
      // is floor division in both engines.
      """WITH g AS (SELECT doc_id, 400 + (doc_id % 5) * 80 AS n,
        |    CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS rate FROM documents),
        |ii AS (SELECT doc_id, n, rate, unnest(generate_series(0, n - 1)) AS i FROM g),
        |s AS (SELECT doc_id, n, rate, (doc_id*13 + i*17) % 2001 - 1000 AS s FROM ii)
        |SELECT doc_id, CAST(1 AS BIGINT) AS channels, rate,
        |  CAST(n AS BIGINT) AS n_frames,
        |  CAST(sum(s*s) AS BIGINT) AS energy,
        |  CAST(max(abs(s)) AS BIGINT) AS peak,
        |  CAST(n AS BIGINT) * 1000000 // rate AS dur_us
        |FROM s GROUP BY doc_id, n, rate""".stripMargin),

    // PROGRESSIVE JPEG (SOF2) DECODE, ORACLED ON PIXELS: q192's exact
    // class re-encoded through the 3-scan progressive script (DC first at
    // Al=1, DC refinement, EOB-run-coded AC band) — spectral selection
    // and successive approximation are on the oracle path, not just the
    // ImageIO differential. Any drift in the multi-scan coefficient
    // accumulation breaks the driver's hash.
    "q199_jpeg_progressive" -> Query((s, dir) => {
      perDoc(s, dir, "width", "height", "pix_sum", "pix_min", "pix_max") { id =>
        val bw = 2 + (id % 4).toInt; val bh = 2 + (id % 3).toInt
        val w = bw * 8; val h = bh * 8
        val pix = raster(w, h)((x, y, _) => (id * 37 + (x / 8) * 3 + (y / 8) * 19) % 256)
        val bytes = graft.codec.JpegEncoder.encodeGrayProgressive(pix, w, h,
          graft.codec.JpegEncoder.exactQuant)
        graft.codec.Jpeg.decode(bytes) match {
          case Right(im) =>
            val (sum, mn, mx) = pixelStats(im.pixels)
            (im.width.toLong, im.height.toLong, sum, mn, mx)
          case Left(_) => (0L, 0L, -1L, -1L, -1L)
        }
      }
    },
      // q199: q192's closed-form shape with the progressive generator's
      // parameters.
      """WITH g AS (
        |  SELECT doc_id, 2 + doc_id % 4 AS bw, 2 + doc_id % 3 AS bh FROM documents),
        |bxs AS (SELECT doc_id, bw, bh, unnest(generate_series(0, bw - 1)) AS bx FROM g),
        |b AS (SELECT doc_id, bw, bh, bx, unnest(generate_series(0, bh - 1)) AS by FROM bxs),
        |v AS (SELECT doc_id, bw, bh, (doc_id*37 + bx*3 + by*19) % 256 AS v FROM b)
        |SELECT doc_id, CAST(8*bw AS BIGINT) AS width, CAST(8*bh AS BIGINT) AS height,
        |  CAST(64*sum(v) AS BIGINT) AS pix_sum,
        |  CAST(min(v) AS BIGINT) AS pix_min, CAST(max(v) AS BIGINT) AS pix_max
        |FROM v GROUP BY doc_id, bw, bh""".stripMargin),

    // PNG DECODE, ORACLED ON PIXELS: lossless, so arbitrary (non-flat)
    // per-document patterns round-trip exactly through zlib + row
    // defiltering — the second dominant crawl image format. (PngSpec
    // covers the adaptive Sub/Up/Average/Paeth filters and palette/alpha
    // color types via ImageIO-written files.)
    "q200_png" -> Query((s, dir) => {
      perDoc(s, dir, "width", "height", "pix_sum", "pix_min", "pix_max") { id =>
        val w = 9 + (id % 8).toInt; val h = 5 + (id % 6).toInt
        val pix = raster(w, h)((x, y, _) => (id * 3 + x + 2 * y) % 256)
        val bytes = graft.codec.Png.encode(pix, w, h, 1)
        graft.codec.Png.decode(bytes) match {
          case Right(im) =>
            val (sum, mn, mx) = pixelStats(im.pixels)
            (im.width.toLong, im.height.toLong, sum, mn, mx)
          case Left(_) => (0L, 0L, -1L, -1L, -1L)
        }
      }
    },
      // q200: lossless decode = the generator pattern itself.
      raw"""WITH g AS (
        |  SELECT doc_id, 9 + doc_id % 8 AS w, 5 + doc_id % 6 AS h FROM documents),
        |${pixelGridSql("g", "xs", "c")},
        |v AS (SELECT doc_id, w, h, (doc_id*3 + x + 2*y) % 256 AS v FROM c)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum(v) AS BIGINT) AS pix_sum,
        |  CAST(min(v) AS BIGINT) AS pix_min, CAST(max(v) AS BIGINT) AS pix_max
        |FROM v GROUP BY doc_id, w, h""".stripMargin),

    // GIF DECODE, ORACLED ON PIXELS: per-document indexed frames through
    // real variable-width LZW (dictionary growth, clear codes) and a
    // closed-form palette; per-channel sums replayed exactly.
    "q201_gif" -> Query((s, dir) => {
      perDoc(s, dir, "width", "height", "sum_r", "sum_g", "sum_b") { id =>
        val w = 10 + (id % 6).toInt; val h = 4 + (id % 5).toInt
        val idx = raster(w, h)((x, y, _) => (id + x * 3 + y * 7) % 16)
        val pal = gifPalette
        val bytes = graft.codec.Gif.encode(idx, w, h, pal)
        graft.codec.Gif.decode(bytes) match {
          case Right(im) =>
            var sr = 0L; var sg = 0L; var sb = 0L
            var j = 0
            while (j < w * h) {
              sr += im.pixels(3 * j) & 0xff
              sg += im.pixels(3 * j + 1) & 0xff
              sb += im.pixels(3 * j + 2) & 0xff
              j += 1
            }
            (im.width.toLong, im.height.toLong, sr, sg, sb)
          case Left(_) => (0L, 0L, -1L, -1L, -1L)
        }
      }
    },
      // q201: indices and the 16-entry palette are both closed forms;
      // per-channel sums follow.
      raw"""WITH g AS (
        |  SELECT doc_id, 10 + doc_id % 6 AS w, 4 + doc_id % 5 AS h FROM documents),
        |${pixelGridSql("g", "xs", "c")},
        |ix AS (SELECT doc_id, w, h, (doc_id + x*3 + y*7) % 16 AS i FROM c)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum(i*17) AS BIGINT) AS sum_r,
        |  CAST(sum(255 - i*17) AS BIGINT) AS sum_g,
        |  CAST(sum((i*51) % 256) AS BIGINT) AS sum_b
        |FROM ix GROUP BY doc_id, w, h""".stripMargin),

    // IMAGE FORMAT DISPATCH: a mixed corpus (JPEG / PNG / GIF payloads by
    // doc_id mod 3) through the ONE sniffing decodeImage entry point the
    // curation ops use — the format label comes from the SNIFF, not the
    // generator, so a mislabeled magic or a wrong codec route breaks the
    // hash. Pixel sums per branch stay closed forms.
    "q202_image_dispatch" -> Query((s, dir) => {
      perDoc(s, dir, "fmt", "nc", "width", "height", "pix_sum") { id =>
        val payload = (id % 3) match {
          case 0 =>
            val pix = raster(16, 16)((x, y, _) => (id * 31 + (x / 8) + (y / 8) * 2) % 256)
            graft.codec.JpegEncoder.encodeGray(pix, 16, 16, graft.codec.JpegEncoder.exactQuant)
          case 1 =>
            val w = 11 + (id % 4).toInt; val h = 6
            val pix = raster(w, h)((x, y, _) => (id * 5 + x + y * 3) % 256)
            graft.codec.Png.encode(pix, w, h, 1)
          case _ =>
            val w = 9; val h = 5 + (id % 3).toInt
            val idx = raster(w, h)((x, y, _) => (id + x + 2 * y) % 16)
            val pal = gifPalette
            graft.codec.Gif.encode(idx, w, h, pal)
        }
        val fmt =
          if (graft.codec.Jpeg.isJpeg(payload)) "jpeg"
          else if (graft.codec.Png.isPng(payload)) "png"
          else if (graft.codec.Gif.isGif(payload)) "gif"
          else "unknown"
        graft.ops.Multimodal.decodeImage(payload) match {
          case Right(im) =>
            val sum = pixelStats(im.pixels)._1
            (fmt, im.nComponents.toLong, im.width.toLong, im.height.toLong, sum)
          case Left(_) => (fmt, -1L, -1L, -1L, -1L)
        }
      }
    },
      // q202: three per-branch closed forms unioned; the fmt column is the
      // branch constant the Spark side must re-derive from the SNIFF.
      raw"""WITH jg AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        |jb AS (SELECT doc_id, unnest(generate_series(0, 1)) AS bx FROM jg),
        |jbb AS (SELECT doc_id, bx, unnest(generate_series(0, 1)) AS by FROM jb),
        |j AS (SELECT doc_id, 'jpeg' AS fmt, CAST(1 AS BIGINT) AS nc,
        |    CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        |    CAST(64*sum((doc_id*31 + bx + by*2) % 256) AS BIGINT) AS pix_sum
        |  FROM jbb GROUP BY doc_id),
        |pg AS (SELECT doc_id, 11 + doc_id % 4 AS w, 6 AS h FROM documents WHERE doc_id % 3 = 1),
        |${pixelGridSql("pg", "px", "pc")},
        |p AS (SELECT doc_id, 'png' AS fmt, CAST(1 AS BIGINT) AS nc,
        |    CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |    CAST(sum((doc_id*5 + x + y*3) % 256) AS BIGINT) AS pix_sum
        |  FROM pc GROUP BY doc_id, w, h),
        |gg AS (SELECT doc_id, 9 AS w, 5 + doc_id % 3 AS h FROM documents WHERE doc_id % 3 = 2),
        |${pixelGridSql("gg", "gx", "gc")},
        |gi AS (SELECT doc_id, w, h, (doc_id + x + 2*y) % 16 AS i FROM gc),
        |g AS (SELECT doc_id, 'gif' AS fmt, CAST(3 AS BIGINT) AS nc,
        |    CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |    CAST(sum(255 + (i*51) % 256) AS BIGINT) AS pix_sum
        |  FROM gi GROUP BY doc_id, w, h)
        |SELECT * FROM j UNION ALL SELECT * FROM p UNION ALL SELECT * FROM g""".stripMargin),

    // EXIF ORIENTATION NORMALIZATION: crawled photos carry rotation in
    // APP1, not pixels — the pipeline reads tag 0x0112 and applies the
    // flip/transpose/rotation before fingerprinting. Two-block images
    // make the first displayed pixel a closed form that distinguishes
    // the mirror/rotate classes; the pixel sum is orientation-invariant
    // (pure permutation) and the displayed dims swap for 5..8.
    "q203_exif" -> Query((s, dir) => {
      perDoc(s, dir, "orientation", "disp_w", "disp_h", "pix_sum", "first_px") { id =>
        val w = 16; val h = 8
        val pix = raster(w, h)((x, _, _) => (id * 31 + (x / 8) * 7) % 256)
        val o = 1 + (id % 8).toInt
        val bytes = graft.codec.JpegEncoder.withExifOrientation(
          graft.codec.JpegEncoder.encodeGray(pix, w, h, graft.codec.JpegEncoder.exactQuant), o)
        val read = graft.codec.Jpeg.exifOrientation(bytes).getOrElse(-1)
        graft.codec.Jpeg.decode(bytes) match {
          case Right(im) =>
            val d = graft.codec.Jpeg.applyOrientation(im, read)
            val sum = pixelStats(d.pixels)._1
            (read.toLong, d.width.toLong, d.height.toLong, sum, (d.pixels(0) & 0xff).toLong)
          case Left(_) => (read.toLong, -1L, -1L, -1L, -1L)
        }
      }
    },
      // q203: orientations {1,4,5,6} display block b0 first, {2,3,7,8}
      // block b1; dims swap for 5..8; the sum is a permutation invariant.
      """WITH g AS (
        |  SELECT doc_id, 1 + doc_id % 8 AS o,
        |    (doc_id*31) % 256 AS b0, (doc_id*31 + 7) % 256 AS b1
        |  FROM documents)
        |SELECT doc_id, CAST(o AS BIGINT) AS orientation,
        |  CAST(CASE WHEN o <= 4 THEN 16 ELSE 8 END AS BIGINT) AS disp_w,
        |  CAST(CASE WHEN o <= 4 THEN 8 ELSE 16 END AS BIGINT) AS disp_h,
        |  CAST(64*(b0 + b1) AS BIGINT) AS pix_sum,
        |  CAST(CASE WHEN o IN (1, 4, 5, 6) THEN b0 ELSE b1 END AS BIGINT) AS first_px
        |FROM g""".stripMargin),

    // THUMBNAILING over real decoded pixels: box-average resize of each
    // document's 72x64 JPEG to 9x8 (block-exact: cells ARE the block
    // values) and to 3x2 (each cell the floor mean of a 3x4 block
    // group) — the model-input normalization step, oracled through the
    // codec + resize composition.
    "q204_thumbnail" -> Query((s, dir) => {
      perDoc(s, dir, "sum_9x8", "sum_3x2", "min_3x2", "max_3x2") { id =>
        val w = 72; val h = 64
        val pix = raster(w, h)((x, y, _) => (id * 23 + (x / 8) * 5 + (y / 8) * 9) % 256)
        val bytes = graft.codec.JpegEncoder.encodeGray(pix, w, h,
          graft.codec.JpegEncoder.exactQuant)
        graft.codec.Jpeg.decode(bytes) match {
          case Right(im) =>
            val t98 = graft.ops.Multimodal.boxResize(im, 9, 8)
            val t32 = graft.ops.Multimodal.boxResize(im, 3, 2)
            val s98 = pixelStats(t98.pixels)._1
            val (s32, mn, mx) = pixelStats(t32.pixels)
            (s98, s32, mn, mx)
          case Left(_) => (-1L, -1L, -1L, -1L)
        }
      }
    },
      // q204: the 9x8 thumbnail cells are the block values; each 3x2 cell
      // is the floor mean of its 3x4 block group.
      """WITH b AS (
        |  SELECT doc_id, bx.x AS bx, byy.y AS by,
        |    (doc_id*23 + bx.x*5 + byy.y*9) % 256 AS v
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) bx
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) byy),
        |cells AS (SELECT doc_id, bx // 3 AS cx, by // 4 AS cy,
        |    CAST(sum(v) // 12 AS BIGINT) AS cell
        |  FROM b GROUP BY doc_id, bx // 3, by // 4)
        |SELECT s9.doc_id, s9.sum_9x8, s3.sum_3x2, s3.min_3x2, s3.max_3x2
        |FROM (SELECT doc_id, CAST(sum(v) AS BIGINT) AS sum_9x8 FROM b GROUP BY doc_id) s9
        |JOIN (SELECT doc_id, CAST(sum(cell) AS BIGINT) AS sum_3x2,
        |        CAST(min(cell) AS BIGINT) AS min_3x2, CAST(max(cell) AS BIGINT) AS max_3x2
        |      FROM cells GROUP BY doc_id) s3 USING (doc_id)""".stripMargin),

    // TIFF DECODE, ORACLED ON PIXELS: the scanned-document container,
    // un-fenced — three branches exercise the whole codec: multi-strip
    // LZW gray UNDER the horizontal-differencing predictor, PackBits
    // RGB, and CCITT G4 bilevel strips (the fax leg inside a real IFD
    // walk). TIFF is lossless on every branch, so the oracle is
    // compression-independent — the same closed forms pin raw, LZW
    // (incl. early change), and PackBits decode paths. Payloads route
    // through the sniffing dispatcher, so the oracle also pins dispatch.
    "q205_tiff" -> Query((s, dir) => {
      perDoc(s, dir, "kind", "nc", "width", "height", "pix_sum") { id =>
        val (kind, payload) = (id % 3) match {
          case 0 =>
            val w = 12 + (id % 5).toInt; val h = 7 + (id % 4).toInt
            val pix = raster(w, h)((x, y, _) => (id * 7 + x + 5 * y) % 256)
            ("gray", graft.codec.Tiff.encodeCompressed(pix, w, h, 1, compression = 5,
              rowsPerStrip = 3, predictor = true))
          case 1 =>
            val w = 6 + (id % 3).toInt; val h = 5
            val pix = raster(w, h, 3)((x, y, k) =>
              Seq(id + x * 3 + y, id * 2 + x + y * 5, id * 4 + x * 7 + y * 2)(k) % 256)
            ("rgb", graft.codec.Tiff.encodeCompressed(pix, w, h, 3, compression = 32773))
          case _ =>
            val w = 24 + (id % 3).toInt * 8; val h = 9 + (id % 4).toInt
            val pix = raster(w, h)((x, y, _) => if ((x + 3 * y + id) % 7 < 3) 1 else 0)
            ("g4", graft.codec.Tiff.encodeG4(pix, w, h, rowsPerStrip = 4))
        }
        graft.ops.Multimodal.decodeImage(payload) match {
          case Right(im) =>
            val sum = pixelStats(im.pixels)._1
            (kind, im.nComponents.toLong, im.width.toLong, im.height.toLong, sum)
          case Left(_) => (kind, -1L, -1L, -1L, -1L)
        }
      }
    },
      // q205: TIFF is lossless on every branch — gray/RGB restate the
      // generator patterns, G4 restates the bilevel mask as 0/255 gray.
      raw"""WITH gg AS (SELECT doc_id, 12 + doc_id % 5 AS w, 7 + doc_id % 4 AS h
        |    FROM documents WHERE doc_id % 3 = 0),
        |${pixelGridSql("gg", "gx", "gc")},
        |g AS (SELECT doc_id, 'gray' AS kind, CAST(1 AS BIGINT) AS nc,
        |    CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |    CAST(sum((doc_id*7 + x + 5*y) % 256) AS BIGINT) AS pix_sum
        |  FROM gc GROUP BY doc_id, w, h),
        |rg AS (SELECT doc_id, 6 + doc_id % 3 AS w, 5 AS h
        |    FROM documents WHERE doc_id % 3 = 1),
        |${pixelGridSql("rg", "rx", "rc")},
        |r AS (SELECT doc_id, 'rgb' AS kind, CAST(3 AS BIGINT) AS nc,
        |    CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |    CAST(sum((doc_id + x*3 + y) % 256 + (doc_id*2 + x + y*5) % 256
        |             + (doc_id*4 + x*7 + y*2) % 256) AS BIGINT) AS pix_sum
        |  FROM rc GROUP BY doc_id, w, h),
        |fg AS (SELECT doc_id, 24 + (doc_id % 3)*8 AS w, 9 + doc_id % 4 AS h
        |    FROM documents WHERE doc_id % 3 = 2),
        |${pixelGridSql("fg", "fx", "fc")},
        |f AS (SELECT doc_id, 'g4' AS kind, CAST(1 AS BIGINT) AS nc,
        |    CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |    CAST(255 * sum(CASE WHEN (x + 3*y + doc_id) % 7 < 3 THEN 0 ELSE 1 END) AS BIGINT) AS pix_sum
        |  FROM fc GROUP BY doc_id, w, h)
        |SELECT * FROM g UNION ALL SELECT * FROM r UNION ALL SELECT * FROM f""".stripMargin),

    // BMP DECODE, ORACLED ON PIXELS: the legacy uncompressed format —
    // odd widths keep the 4-byte row-stride padding on the oracle path
    // (the classic BMP decoder bug class); lossless, so the generator
    // pattern restates decoded pixels directly. Routed through the
    // sniffing dispatcher.
    "q206_bmp" -> Query((s, dir) => {
      perDoc(s, dir, "nc", "width", "height", "pix_sum", "first_r") { id =>
        val w = 5 + (id % 4).toInt; val h = 3 + (id % 3).toInt
        val pix = raster(w, h, 3)((x, y, k) =>
          Seq(id * 3 + x + y, id * 5 + x * 2, id * 7 + y * 3)(k) % 256)
        val payload = graft.codec.Bmp.encode(pix, w, h)
        graft.ops.Multimodal.decodeImage(payload) match {
          case Right(im) =>
            val sum = pixelStats(im.pixels)._1
            (im.nComponents.toLong, im.width.toLong, im.height.toLong, sum,
              (im.pixels(0) & 0xff).toLong)
          case Left(_) => (-1L, -1L, -1L, -1L, -1L)
        }
      }
    },
      // q206: BMP is lossless — the generator pattern IS the decoded image;
      // first_r pins the row order (bottom-up storage must not flip output).
      raw"""WITH g AS (SELECT doc_id, 5 + doc_id % 4 AS w, 3 + doc_id % 3 AS h FROM documents),
        |${pixelGridSql("g", "xs", "c")}
        |SELECT doc_id, CAST(3 AS BIGINT) AS nc,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum((doc_id*3 + x + y) % 256 + (doc_id*5 + x*2) % 256
        |           + (doc_id*7 + y*3) % 256) AS BIGINT) AS pix_sum,
        |  CAST((doc_id*3) % 256 AS BIGINT) AS first_r
        |FROM c GROUP BY doc_id, w, h""".stripMargin),

    // VIDEO FRAME SAMPLING over a REAL container: per-document MJPEG AVIs
    // (every frame a complete exact-class JPEG) walk the RIFF/movi
    // structure, stride-2 sample WITHOUT decoding skipped frames, and
    // JPEG-decode only the sampled ones — the multimodal "frame-sample"
    // stage end to end, pixel statistics restated by the oracle.
    "q207_video" -> Query((s, dir) => {
      perDoc(s, dir, "n_frames", "dur_us", "n_sampled", "pix_sum", "first_px") { id =>
        val n = 3 + (id % 4).toInt
        val us = 20000 + (id % 3).toInt * 10000
        val frames = (0 until n).map { f =>
          val v = ((id * 11 + f * 29) % 256).toByte
          graft.codec.JpegEncoder.encodeGray(Array.fill[Byte](16 * 16)(v), 16, 16,
            graft.codec.JpegEncoder.exactQuant)
        }
        val payload = graft.codec.Avi.encode(frames, 16, 16, us)
        graft.codec.Avi.decode(payload) match {
          case Right(video) =>
            graft.ops.Multimodal.sampleVideoFrames(payload, 2) match {
              case Right(sampled) =>
                var pixSum = 0L; var firstPx = -1L
                sampled.foreach { case (f, bytes) =>
                  graft.codec.Jpeg.decode(bytes) match {
                    case Right(im) =>
                      pixSum += pixelStats(im.pixels)._1
                      if (f == 0) firstPx = im.pixels(0) & 0xff
                    case Left(_) => pixSum = Long.MinValue // poison
                  }
                }
                (video.nFrames.toLong, video.durationUs, sampled.length.toLong,
                  pixSum, firstPx)
              case Left(_) => (-1L, -1L, -1L, -1L, -1L)
            }
          case Left(_) => (-1L, -1L, -1L, -1L, -1L)
        }
      }
    },
      // q207: the container is lossless and the frames are the JPEG exact
      // class, so sampled pixel sums are 256 * the frame closed form over
      // the even frame indices; duration is frames x per-frame micros.
      """WITH g AS (SELECT doc_id, 3 + doc_id % 4 AS n,
        |    20000 + (doc_id % 3) * 10000 AS us FROM documents),
        |f AS (SELECT doc_id, n, us, unnest(generate_series(0, n - 1)) AS fi FROM g),
        |s AS (SELECT doc_id, n, us, fi, (doc_id*11 + fi*29) % 256 AS v
        |  FROM f WHERE fi % 2 = 0)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_frames,
        |  CAST(n AS BIGINT) * us AS dur_us,
        |  CAST(count(*) AS BIGINT) AS n_sampled,
        |  CAST(256 * sum(v) AS BIGINT) AS pix_sum,
        |  CAST((doc_id*11) % 256 AS BIGINT) AS first_px
        |FROM s GROUP BY doc_id, n, us""".stripMargin),

    // AUDIO SIGNAL-QUALITY FEATURES over decoded PCM: zero crossings
    // (voicing proxy), longest silence run (dead-air gate), and clipped
    // samples (recording damage) — all exact integers on the q198
    // sawtooth, replayed in SQL with a lag window + gaps-and-islands.
    "q208_audio_features" -> Query((s, dir) => {
      perDoc(s, dir, "zero_crossings", "max_silence", "clipped") { id =>
        val n = 400 + (id % 5).toInt * 80
        val samples = Array.tabulate(n)(i => (((id * 13 + i * 17) % 2001) - 1000).toShort)
        val bytes = graft.codec.Wav.encode(samples, 1, 16000)
        graft.codec.Wav.decode(bytes) match {
          case Right(a) =>
            val (zc, maxSil, clipped) = graft.codec.Wav.analysis(a)
            (zc, maxSil, clipped)
          case Left(_) => (-1L, -1L, -1L)
        }
      }
    },
      // q208: the sawtooth closed form + a lag window for sign transitions
      // + the gaps-and-islands rank trick for the longest silence run.
      """WITH g AS (SELECT doc_id, 400 + (doc_id % 5) * 80 AS n FROM documents),
        |ii AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM g),
        |s AS (SELECT doc_id, i, (doc_id*13 + i*17) % 2001 - 1000 AS s FROM ii),
        |t AS (SELECT doc_id, s, lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS ps FROM s),
        |z AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN ps IS NOT NULL AND ((s >= 0) != (ps >= 0))
        |             THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
        |    CAST(sum(CASE WHEN abs(s) >= 990 THEN 1 ELSE 0 END) AS BIGINT) AS clipped
        |  FROM t GROUP BY doc_id),
        |sil AS (SELECT doc_id, i,
        |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |  FROM s WHERE abs(s) <= 100),
        |runs AS (SELECT doc_id, count(*) AS runlen FROM sil GROUP BY doc_id, grp),
        |mx AS (SELECT doc_id, CAST(max(runlen) AS BIGINT) AS max_silence
        |  FROM runs GROUP BY doc_id)
        |SELECT z.doc_id, zero_crossings, coalesce(max_silence, 0) AS max_silence, clipped
        |FROM z LEFT JOIN mx ON z.doc_id = mx.doc_id""".stripMargin),

    // ANIMATED GIF COMPOSITING, ORACLED ON CANVAS SUMS: a 3-frame
    // animation per document — full-screen base, an offset patch with a
    // TRANSPARENT index and a doc-varying disposal method (leave /
    // restore-background / restore-previous), then a corner patch that
    // only reads correctly if the disposal between frames 2 and 3 ran.
    // The per-frame composited channel sums are closed forms the oracle
    // restates pixel-by-pixel — any drift in offsets, transparency, or
    // disposal semantics breaks the hash.
    "q209_gif_anim" -> Query((s, dir) => {
      perDoc(s, dir, "n_frames", "loop_count", "dur_cs", "sum0", "sum1", "sum2") { id =>
        val sw = 12; val sh = 8
        val pal = gifPalette
        val base = graft.codec.Gif.FrameSpec(
          Array.tabulate[Byte](sw * sh)(k => ((id + k % sw + k / sw) % 8).toByte),
          0, 0, sw, sh, delayCs = 4 + (id % 3).toInt, disposal = 1)
        val patch = graft.codec.Gif.FrameSpec(
          Array.tabulate[Byte](4 * 3)(k => (8 + (id + k % 4 + k / 4) % 8).toByte),
          4, 2, 4, 3, delayCs = 5, disposal = 1 + (id % 3).toInt, transIdx = 15)
        val patch2 = graft.codec.Gif.FrameSpec(
          Array.tabulate[Byte](2 * 2)(k => ((id + 3 + k % 2 + k / 2) % 8).toByte),
          0, 0, 2, 2, delayCs = 6, disposal = 1)
        val bytes = graft.codec.Gif.encodeAnimated(sw, sh, pal, (id % 5).toInt,
          Seq(base, patch, patch2))
        graft.codec.Gif.decodeFrames(bytes) match {
          case Right(anim) =>
            def chanSum(k: Int): Long = pixelStats(anim.frames(k).pixels)._1
            (anim.nFrames.toLong, anim.loop.toLong, anim.durationCs,
              chanSum(0), chanSum(1), chanSum(2))
          case Left(_) => (-1L, -1L, -1L, -1L, -1L, -1L)
        }
      }
    },
      // q209: the browser compositing model restated per pixel — s(i) is
      // the palette channel sum 255 + (51i)%256; frame 2's transparent
      // index (15) shows the base, and frame 3's base depends on frame 2's
      // disposal (1 leave, 2 rect->black, 3 restore base).
      """WITH px AS (
        |  SELECT doc_id, xs.x AS x, ys.y AS y FROM documents
        |  CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS x) xs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) ys),
        |v AS (SELECT doc_id, x, y,
        |    (doc_id + x + y) % 8 AS p0,
        |    8 + (doc_id + (x-4) + (y-2)) % 8 AS i1,
        |    (x BETWEEN 4 AND 7 AND y BETWEEN 2 AND 4) AS in1,
        |    (x < 2 AND y < 2) AS in2,
        |    (doc_id + 3 + x + y) % 8 AS p2,
        |    1 + doc_id % 3 AS disp
        |  FROM px),
        |w AS (SELECT doc_id, in1, in2, p0, p2, disp,
        |    255 + (51*p0) % 256 AS s0,
        |    CASE WHEN in1 AND i1 != 15 THEN 255 + (51*i1) % 256
        |         ELSE 255 + (51*p0) % 256 END AS s1
        |  FROM v),
        |f AS (SELECT doc_id, s0, s1,
        |    CASE WHEN in2 THEN 255 + (51*p2) % 256
        |         WHEN disp = 2 AND in1 THEN 0
        |         WHEN disp = 3 THEN 255 + (51*p0) % 256
        |         ELSE s1 END AS s2
        |  FROM w)
        |SELECT doc_id, CAST(3 AS BIGINT) AS n_frames,
        |  CAST(doc_id % 5 AS BIGINT) AS loop_count,
        |  CAST(15 + doc_id % 3 AS BIGINT) AS dur_cs,
        |  CAST(sum(s0) AS BIGINT) AS sum0,
        |  CAST(sum(s1) AS BIGINT) AS sum1,
        |  CAST(sum(s2) AS BIGINT) AS sum2
        |FROM f GROUP BY doc_id""".stripMargin),

    // REDIRECT-CHAIN RESOLUTION by pointer doubling: synthetic 7-hop
    // chains down to block roots, with every 7th block root closed into
    // a 2-cycle — resolved finals, exact hop counts, and cycle flags in
    // ⌈log₂ 16⌉ = 4 self-joins instead of 16 hop rounds (the functional-
    // graph move that matters at 10¹⁰ redirect edges).
    "q210_redirects" -> Query((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"))
      val chain = d.filter(col("doc_id") % 8 =!= 0)
        .select(col("doc_id").as("src"), (col("doc_id") - 1).as("dst"))
      val cyc = d.filter(col("doc_id") % 8 === 0 && expr("doc_id DIV 8") % 7 === 3)
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
      graft.ops.WebOps.resolveRedirects(chain.unionByName(cyc), "src", "dst", maxHops = 16)
    },
      // q210: the synthetic redirect graph's answers are closed forms —
      // chain nodes resolve to their block root in (id % 8) hops unless the
      // root's block index is ≡ 3 (mod 7), which closes a 2-cycle that
      // swallows the whole chain; cyclic roots themselves are sources too.
      """WITH s AS (
        |  SELECT doc_id AS src, doc_id % 8 AS h, doc_id // 8 AS k
        |  FROM documents WHERE doc_id % 8 != 0
        |  UNION ALL
        |  SELECT doc_id, 0, doc_id // 8
        |  FROM documents WHERE doc_id % 8 = 0 AND (doc_id // 8) % 7 = 3)
        |SELECT src,
        |  CASE WHEN k % 7 = 3 THEN CAST(NULL AS BIGINT) ELSE CAST(8*k AS BIGINT) END AS final_id,
        |  CAST(CASE WHEN k % 7 = 3 THEN -1 ELSE h END AS BIGINT) AS hops,
        |  (k % 7 = 3) AS is_cycle
        |FROM s""".stripMargin),

    // JPEG-IN-TIFF (compression 7), ORACLED ON PIXELS: per-document
    // multi-strip TIFFs whose strips are standalone baseline JPEGs in
    // the exact class — the remaining common scanned-corpus TIFF leg,
    // through the full IFD walk + per-strip JPEG decode + assembly.
    "q211_tiff_jpeg" -> Query((s, dir) => {
      perDoc(s, dir, "width", "height", "pix_sum", "pix_min", "pix_max") { id =>
        val bw = 2 + (id % 3).toInt; val bh = 2 + (id % 4).toInt
        val w = bw * 8; val h = bh * 8
        val pix = raster(w, h)((x, y, _) => (id * 19 + (x / 8) * 7 + (y / 8) * 3) % 256)
        val bytes = graft.codec.Tiff.encodeJpeg(pix, w, h, rowsPerStrip = 16)
        graft.ops.Multimodal.decodeImage(bytes) match {
          case Right(im) =>
            val (sum, mn, mx) = pixelStats(im.pixels)
            (im.width.toLong, im.height.toLong, sum, mn, mx)
          case Left(_) => (0L, 0L, -1L, -1L, -1L)
        }
      }
    },
      // q211: the q199 closed-form shape with this generator's parameters —
      // JPEG strips in the exact class reassemble losslessly.
      """WITH g AS (
        |  SELECT doc_id, 2 + doc_id % 3 AS bw, 2 + doc_id % 4 AS bh FROM documents),
        |bxs AS (SELECT doc_id, bw, bh, unnest(generate_series(0, bw - 1)) AS bx FROM g),
        |b AS (SELECT doc_id, bw, bh, bx, unnest(generate_series(0, bh - 1)) AS by FROM bxs),
        |v AS (SELECT doc_id, bw, bh, (doc_id*19 + bx*7 + by*3) % 256 AS v FROM b)
        |SELECT doc_id, CAST(8*bw AS BIGINT) AS width, CAST(8*bh AS BIGINT) AS height,
        |  CAST(64*sum(v) AS BIGINT) AS pix_sum,
        |  CAST(min(v) AS BIGINT) AS pix_min, CAST(max(v) AS BIGINT) AS pix_max
        |FROM v GROUP BY doc_id, bw, bh""".stripMargin),

    // 8-BIT AND 24-BIT PCM WAV, ORACLED ON NORMALIZED SAMPLES: the
    // offset-binary 8-bit and top-16-bits 24-bit normalizations are
    // exact integer maps the oracle restates (arithmetic shift = floor
    // division); energy/peak/duration follow on the normalized stream.
    "q212_wav_depths" -> Query((s, dir) => {
      perDoc(s, dir, "bits", "n_frames", "energy", "peak", "dur_us") { id =>
        val (bits, payload, rate) =
          if (id % 2 == 0) {
            val n = 300 + (id % 4).toInt * 50
            (8L, Array.tabulate[Byte](n)(i => ((id * 7 + i * 13) % 256).toByte), 8000)
          } else {
            val n = 200 + (id % 3).toInt * 40
            val p = new Array[Byte](3 * n)
            var i = 0
            while (i < n) {
              val v = (((id * 131 + i.toLong * 997) % 2000001) - 1000000).toInt
              p(3 * i) = (v & 0xff).toByte
              p(3 * i + 1) = ((v >> 8) & 0xff).toByte
              p(3 * i + 2) = ((v >> 16) & 0xff).toByte
              i += 1
            }
            (24L, p, 16000)
          }
        val bytes = graft.codec.Wav.encodePcm(payload, bits.toInt, 1, rate)
        graft.codec.Wav.decode(bytes) match {
          case Right(a) =>
            val (energy, peak, dur) = graft.codec.Wav.features(a)
            (bits, a.nFrames.toLong, energy, peak, dur)
          case Left(_) => (bits, -1L, -1L, -1L, -1L)
        }
      }
    },
      // q212: the 8-bit branch normalizes (u - 128) << 8, the 24-bit branch
      // floor(v / 256) — both exact integer maps over the generators.
      """WITH g8 AS (SELECT doc_id, 300 + (doc_id % 4) * 50 AS n FROM documents WHERE doc_id % 2 = 0),
        |i8 AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM g8),
        |s8 AS (SELECT doc_id, n, ((doc_id*7 + i*13) % 256 - 128) * 256 AS s FROM i8),
        |r8 AS (SELECT doc_id, CAST(8 AS BIGINT) AS bits, CAST(n AS BIGINT) AS n_frames,
        |    CAST(sum(s*s) AS BIGINT) AS energy, CAST(max(abs(s)) AS BIGINT) AS peak,
        |    CAST(n AS BIGINT) * 1000000 // 8000 AS dur_us
        |  FROM s8 GROUP BY doc_id, n),
        |g24 AS (SELECT doc_id, 200 + (doc_id % 3) * 40 AS n FROM documents WHERE doc_id % 2 = 1),
        |i24 AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM g24),
        |s24 AS (SELECT doc_id, n,
        |    CAST(floor(((doc_id*131 + i*997) % 2000001 - 1000000) / 256.0) AS BIGINT) AS s
        |  FROM i24),
        |r24 AS (SELECT doc_id, CAST(24 AS BIGINT) AS bits, CAST(n AS BIGINT) AS n_frames,
        |    CAST(sum(s*s) AS BIGINT) AS energy, CAST(max(abs(s)) AS BIGINT) AS peak,
        |    CAST(n AS BIGINT) * 1000000 // 16000 AS dur_us
        |  FROM s24 GROUP BY doc_id, n)
        |SELECT * FROM r8 UNION ALL SELECT * FROM r24""".stripMargin),

    // RFC 9309 ROBOTS MATCHING, ORACLED ON VERDICTS: wildcard patterns,
    // $ end anchors, Allow rules, and the longest-match precedence —
    // four host families x four path classes, every verdict a stated
    // closed form. The q159 prefix gate stays as the plain-rule case;
    // this pins the full REP semantics real robots files rely on.
    "q213_robots_rfc" -> Query((s, dir) => {
      val d = docs(s, dir)
      val path = when(col("doc_id") % 4 === 0, concat(lit("/file"), col("doc_id"), lit(".php")))
        .when(col("doc_id") % 4 === 1, concat(lit("/file"), col("doc_id"), lit(".php.bak")))
        .when(col("doc_id") % 4 === 2, concat(lit("/private/pub/x"), col("doc_id")))
        .otherwise(concat(lit("/private/sec/x"), col("doc_id")))
      val pages = d.select(
        concat(lit("http://"), col("source"), lit(".example"), path).as("url"))
      val txt = when(col("source").isin("src0", "src1", "src2"),
          lit("User-agent: *\nDisallow: /*.php$\n"))
        .when(col("source").isin("src3", "src4", "src5"),
          lit("User-agent: *\nDisallow: /private\nAllow: /private/pub\n"))
        .when(col("source").isin("src6", "src7"),
          lit("User-agent: *\nAllow: /\nDisallow: /file*.bak$\nDisallow: /private\n"))
        .otherwise(
          lit("User-agent: *\nDisallow: /\nAllow: /file\n"))
      val robots = d.select(col("source")).distinct()
        .select(concat(col("source"), lit(".example")).as("host"), txt.as("robots_txt"))
      graft.ops.WebOps.robotsDisallowed(pages, "url", robots, "host", "robots_txt")
    },
      // q213: every family x path-class verdict derived by hand from the
      // REP rules (longest match, allow ties) and stated directly.
      """WITH p AS (SELECT doc_id, source,
        |    CASE doc_id % 4 WHEN 0 THEN '/file' || doc_id || '.php'
        |                    WHEN 1 THEN '/file' || doc_id || '.php.bak'
        |                    WHEN 2 THEN '/private/pub/x' || doc_id
        |                    ELSE '/private/sec/x' || doc_id END AS path,
        |    CASE WHEN source IN ('src0','src1','src2') THEN 1
        |         WHEN source IN ('src3','src4','src5') THEN 2
        |         WHEN source IN ('src6','src7') THEN 3 ELSE 4 END AS fam
        |  FROM documents)
        |SELECT 'http://' || source || '.example' || path AS url,
        |  source || '.example' AS host, path,
        |  CASE fam WHEN 1 THEN doc_id % 4 = 0
        |           WHEN 2 THEN doc_id % 4 = 3
        |           WHEN 3 THEN doc_id % 4 IN (1, 2, 3)
        |           ELSE doc_id % 4 IN (2, 3) END AS disallowed
        |FROM p""".stripMargin),

    // K-ANONYMITY SUPPRESSION: rows whose (source, lang, size-bucket)
    // quasi-identifier tuple has fewer than k peers are re-identifying
    // and get flagged — the privacy gate before a corpus release. One
    // quasi-key exchange + unordered window count; oracle replays the
    // identical aggregation on the real table.
    "q214_k_anonymity" -> Query((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("lang"),
        (col("n_chars") / 1000).cast("long").as("size_bucket"))
      graft.ops.Curation.kAnonymityGate(d, Seq("source", "lang", "size_bucket"), k = 5L)
    },
      // q214: the identical window aggregation replayed on the table.
      """WITH d AS (SELECT doc_id, source, lang,
        |    CAST(n_chars // 1000 AS BIGINT) AS size_bucket FROM documents)
        |SELECT doc_id, source, lang, size_bucket,
        |  CAST(count(*) OVER (PARTITION BY source, lang, size_bucket) AS BIGINT) AS group_n,
        |  (count(*) OVER (PARTITION BY source, lang, size_bucket)) < 5 AS suppressed
        |FROM d""".stripMargin),

    // UNICODE-NFC DEDUP: composed vs decomposed spellings of the same
    // text (é vs e+combining-acute) hash apart raw — plant one of each
    // per triple plus a distinct third doc; after NFC the pair collapses.
    // Both engines normalize with their own Unicode tables (Normalizer
    // vs nfc_normalize), so table drift breaks the hash.
    "q215_nfc_dedup" -> Query((s, dir) => {
      val text = when(col("doc_id") % 3 === 0, // composed U+00E9
          concat(lit("caf\u00e9 menu "), (col("doc_id") / 3).cast("long")))
        .when(col("doc_id") % 3 === 1, // decomposed e + U+0301
          concat(lit("cafe\u0301 menu "), ((col("doc_id") - 1) / 3).cast("long")))
        .otherwise(concat(lit("unique page "), col("doc_id")))
      val d = docs(s, dir).select(col("doc_id"), text.as("t"))
      graft.ops.Dedup.nfcExactDedup(d, "doc_id", "t")
    },
      // q215: DuckDB rebuilds both spellings (chr(233) composed, 'e' ||
      // chr(769) decomposed), normalizes with ITS nfc_normalize, and
      // replays the cohort window — independent Unicode tables must agree.
      """WITH d AS (SELECT doc_id,
        |    CASE doc_id % 3
        |      WHEN 0 THEN 'caf' || chr(233) || ' menu ' || (doc_id // 3)
        |      WHEN 1 THEN 'cafe' || chr(769) || ' menu ' || ((doc_id - 1) // 3)
        |      ELSE 'unique page ' || doc_id END AS t
        |  FROM documents),
        |n AS (SELECT doc_id, nfc_normalize(t) AS nt FROM d)
        |SELECT doc_id,
        |  CAST(count(*) OVER (PARTITION BY nt) AS BIGINT) AS n_dup,
        |  CAST(min(doc_id) OVER (PARTITION BY nt) AS BIGINT) AS canonical_id
        |FROM n""".stripMargin),

    // AUDIO DECIMATION (rate normalization): 48k sawtooth PCM decimated
    // 3x by floor-mean boxes — including a ragged tail window on odd
    // docs — then the standard feature triple over the decimated stream;
    // every value an exact integer map the oracle replays.
    "q217_audio_resample" -> Query((s, dir) => {
      perDoc(s, dir, "rate_out", "n_out", "energy", "peak", "first_s", "last_s") { id =>
        val n = 480 + (id % 3).toInt * 96 + (id % 2).toInt
        val samples = Array.tabulate(n)(i => (((id * 13 + i * 17) % 2001) - 1000).toShort)
        val a = graft.codec.Wav.Audio(1, 48000, 16, samples)
        val dd = graft.codec.Wav.decimate(a, 3)
        val (energy, peak, _) = graft.codec.Wav.features(dd)
        (dd.sampleRate.toLong, dd.samples.length.toLong, energy, peak,
          dd.samples(0).toLong, dd.samples(dd.samples.length - 1).toLong)
      }
    },
      // q217: floor-mean boxes over the sawtooth, ragged tail included;
      // energy/peak/first/last follow on the decimated values.
      """WITH g AS (SELECT doc_id,
        |    480 + (doc_id % 3) * 96 + (doc_id % 2) AS n FROM documents),
        |ii AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM g),
        |s AS (SELECT doc_id, i // 3 AS grp, (doc_id*13 + i*17) % 2001 - 1000 AS s FROM ii),
        |d AS (SELECT doc_id, grp,
        |    CAST(floor(sum(s) * 1.0 / count(*)) AS BIGINT) AS v
        |  FROM s GROUP BY doc_id, grp),
        |dd AS (SELECT doc_id, grp, v,
        |    max(grp) OVER (PARTITION BY doc_id) AS mg FROM d)
        |SELECT doc_id, CAST(16000 AS BIGINT) AS rate_out,
        |  CAST(count(*) AS BIGINT) AS n_out,
        |  CAST(sum(v*v) AS BIGINT) AS energy,
        |  CAST(max(abs(v)) AS BIGINT) AS peak,
        |  CAST(min(CASE WHEN grp = 0 THEN v END) AS BIGINT) AS first_s,
        |  CAST(min(CASE WHEN grp = mg THEN v END) AS BIGINT) AS last_s
        |FROM dd GROUP BY doc_id""".stripMargin),

    // JPEG METADATA SCRUB (privacy pass): EXIF (36-byte planted APP1) and
    // a COM comment strip as pure byte surgery — pixels stay
    // bit-identical (pix_sum unchanged), the orientation tag reads -1
    // after, and the byte delta is the exact planted segment total.
    "q218_exif_scrub" -> Query((s, dir) => {
      perDoc(s, dir, "exif_before", "exif_after", "pix_sum", "bytes_removed") { id =>
        val v = ((id * 41 + 3) % 256).toByte
        val base = graft.codec.JpegEncoder.encodeGray(Array.fill[Byte](16 * 8)(v), 16, 8,
          graft.codec.JpegEncoder.exactQuant)
        val tagged = graft.codec.JpegEncoder.withComment(
          graft.codec.JpegEncoder.withExifOrientation(base, 1 + (id % 8).toInt),
          s"note-$id")
        val before = graft.codec.Jpeg.exifOrientation(tagged).getOrElse(-1)
        graft.codec.Jpeg.stripMetadata(tagged) match {
          case Right(clean) =>
            val after = graft.codec.Jpeg.exifOrientation(clean).getOrElse(-1)
            graft.codec.Jpeg.decode(clean) match {
              case Right(im) =>
                val sum = pixelStats(im.pixels)._1
                (before.toLong, after.toLong, sum, (tagged.length - clean.length).toLong)
              case Left(_) => (before.toLong, -2L, -1L, -1L)
            }
          case Left(_) => (before.toLong, -2L, -1L, -1L)
        }
      }
    },
      // q218: the planted segments have exact sizes — APP1 = 36 bytes,
      // COM = 4 + len('note-' || id); pixels are the flat closed form.
      """SELECT doc_id,
        |  CAST(1 + doc_id % 8 AS BIGINT) AS exif_before,
        |  CAST(-1 AS BIGINT) AS exif_after,
        |  CAST(128 * ((doc_id*41 + 3) % 256) AS BIGINT) AS pix_sum,
        |  CAST(36 + 4 + 5 + length(CAST(doc_id AS VARCHAR)) AS BIGINT) AS bytes_removed
        |FROM documents""".stripMargin),

    // TILED TIFF + DEFLATE, ORACLED ON PIXELS: the random-access layout
    // big scanned/geo images ship — 32x16 tiles with edge clipping, gray
    // under Deflate+predictor and RGB under LZW; lossless, so the same
    // generator closed forms pin tile placement, seams, and padding.
    "q216_tiff_tiled" -> Query((s, dir) => {
      perDoc(s, dir, "kind", "nc", "width", "height", "pix_sum", "last_px") { id =>
        val (kind, payload) = (id % 2) match {
          case 0 =>
            val w = 40 + (id % 3).toInt * 9; val h = 20 + (id % 5).toInt * 7
            val pix = raster(w, h)((x, y, _) => (id * 11 + x * 3 + y * 5) % 256)
            ("gray", graft.codec.Tiff.encodeTiled(pix, w, h, 1, 32, 16,
              compression = 8, predictor = true))
          case _ =>
            val w = 33 + (id % 4).toInt; val h = 18
            val pix = raster(w, h, 3)((x, y, k) =>
              Seq(id * 2 + x + y * 7, id * 3 + x * 5 + y, id * 5 + x * 2 + y * 3)(k) % 256)
            ("rgb", graft.codec.Tiff.encodeTiled(pix, w, h, 3, 16, 16,
              compression = 5))
        }
        graft.ops.Multimodal.decodeImage(payload) match {
          case Right(im) =>
            val sum = pixelStats(im.pixels)._1
            (kind, im.nComponents.toLong, im.width.toLong, im.height.toLong, sum,
              (im.pixels(im.pixels.length - 1) & 0xff).toLong)
          case Left(_) => (kind, -1L, -1L, -1L, -1L, -1L)
        }
      }
    },
      // q216: lossless tiles — the generators restate decoded pixels;
      // last_px pins seam/padding correctness at the far corner.
      raw"""WITH gg AS (SELECT doc_id, 40 + (doc_id % 3) * 9 AS w, 20 + (doc_id % 5) * 7 AS h
        |    FROM documents WHERE doc_id % 2 = 0),
        |${pixelGridSql("gg", "gx", "gc")},
        |g AS (SELECT doc_id, 'gray' AS kind, CAST(1 AS BIGINT) AS nc,
        |    CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |    CAST(sum((doc_id*11 + x*3 + y*5) % 256) AS BIGINT) AS pix_sum,
        |    CAST((doc_id*11 + (w-1)*3 + (h-1)*5) % 256 AS BIGINT) AS last_px
        |  FROM gc GROUP BY doc_id, w, h),
        |rg AS (SELECT doc_id, 33 + doc_id % 4 AS w, 18 AS h
        |    FROM documents WHERE doc_id % 2 = 1),
        |${pixelGridSql("rg", "rx", "rc")},
        |r AS (SELECT doc_id, 'rgb' AS kind, CAST(3 AS BIGINT) AS nc,
        |    CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |    CAST(sum((doc_id*2 + x + y*7) % 256 + (doc_id*3 + x*5 + y) % 256
        |             + (doc_id*5 + x*2 + y*3) % 256) AS BIGINT) AS pix_sum,
        |    CAST((doc_id*5 + (w-1)*2 + 17*3) % 256 AS BIGINT) AS last_px
        |  FROM rc GROUP BY doc_id, w, h)
        |SELECT * FROM g UNION ALL SELECT * FROM r""".stripMargin),

    // ENCRYPTED-PDF LEG, ORACLED ON MARKDOWN BYTES: per-document PDFs
    // under all four standard-security wire formats (doc_id%4 → RC4-40,
    // RC4-128, AES-128-CBC, AES-256-CBC; empty user password — the
    // "owner-locked" population every crawl carries) decrypt
    // transparently on the extraction path; the oracle states the exact
    // markdown, so any drift in key derivation, RC4, AES-CBC padding,
    // or string/stream crypt routing breaks the driver's hash.
    "q219_pdf_encrypted" -> Query((s, dir) => {
      import graft.pdf.{PdfWriter, PdfCrypt}
      val mk = udf { id: Long =>
        val mode = (id % 4) match {
          case 0 => PdfCrypt.Rc4_40
          case 1 => PdfCrypt.Rc4_128
          case 2 => PdfCrypt.Aes128
          case _ => PdfCrypt.Aes256
        }
        // 64 distinct key sets per mode (seed bucketing): full diversity
        // of wire formats with the realistic cache-hit profile of a
        // crawl re-visiting identically-keyed site documents
        PdfWriter.write(Vector(
          PdfWriter.PageSpec(Vector(Vector(s"Locked doc $id line one"))),
          PdfWriter.PageSpec(Vector(Vector(s"Locked page two of $id")), compress = true)),
          encrypt = Some(mode), encryptSeed = id % 64)
      }
      val pages = docs(s, dir).select(
        concat(lit("http://x.example/e"), col("doc_id"), lit(".pdf")).as("url"),
        col("doc_id"), mk(col("doc_id")).as("html"))
      graft.extract.ExtractJob.extractedDf(pages)
        .select(col("url"),
          when(pmod(col("doc_id"), lit(4)) === 0, "rc4_40")
            .when(pmod(col("doc_id"), lit(4)) === 1, "rc4_128")
            .when(pmod(col("doc_id"), lit(4)) === 2, "aes128")
            .otherwise("aes256").as("mode"),
          col("extracted.status").as("status"),
          col("extracted.pages").as("pages"),
          col("extracted.markdown").as("markdown"))
    },
      // q219: the decrypted markdown is the same closed form as q184's —
      // the oracle knows nothing about crypto, so a correct answer proves
      // the whole standard-security path (key derivation, RC4 / AES-CBC,
      // string + stream routing) was transparent.
      """SELECT 'http://x.example/e' || doc_id || '.pdf' AS url,
        |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'rc4_40' WHEN 1 THEN 'rc4_128'
        |       WHEN 2 THEN 'aes128' ELSE 'aes256' END AS mode,
        |  'ok' AS status, CAST(2 AS INT) AS pages,
        |  'Locked doc ' || doc_id || ' line one' || chr(10) || chr(10)
        |    || 'Locked page two of ' || doc_id AS markdown
        |FROM documents""".stripMargin),

    // HTTP WIRE CODINGS, ORACLED: q145's WARC round-trip with the bodies
    // stored as they cross the wire — gzipped (Content-Encoding) and
    // chunk-framed (Transfer-Encoding, with a chunk extension and a
    // trailer field in the stream); the reader reverses both
    // transparently, and the oracle recomputes the projection straight
    // from the documents table, so any framing or inflate drift breaks
    // the hash.
    "q220_http_codings" -> Query((s, dir) => {
      val out = fixtureDir("graft_coded_", dir)
      graft.sources.Warc.write(warcCapture(docs(s, dir)), out,
        contentEncoding = "gzip", chunked = true)
      readWarc(s, out)
        .select(Seq(col("url"), col("http_status").cast("long").as("http_status")) ++
          bodyDigest: _*)
    },
      // q220: the oracle knows nothing about gzip or chunk framing — it
      // restates the projection from the documents table, so equality
      // proves the reader reversed both wire codings byte-exactly.
      raw"""SELECT 'http://' || source || '.example/doc/' || doc_id AS url,
        |  CAST(200 AS BIGINT) AS http_status,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  ${polyHashSql("text")} AS body_hash
        |FROM documents""".stripMargin),

    // SURT KEYS, ORACLED: the sort-friendly canonical URL key web
    // archives (and the CC index) sort on, over deliberately messy urls
    // — mixed case, userinfo, a www2 prefix, a port, unsorted query
    // params, a fragment; the oracle restates the key as a closed form,
    // so every normalization rule is pinned.
    "q223_surt" -> Query((s, dir) => {
      val url = concat(lit("HTTP://User:Pw@WWW2."), col("source"),
        lit(".Example.COM:8080/Dir"), col("doc_id"), lit("/Page?z=9&a="),
        pmod(col("doc_id"), lit(7)), lit("&m=5#frag"))
      docs(s, dir).select(col("doc_id"),
        graft.ops.WebOps.surtKey(url).as("key"))
    },
      // q223: every SURT rule as a closed form — scheme/userinfo/port
      // dropped, www2 stripped, host reversed comma-joined, path
      // lowercased, query params sorted (a < m < z), fragment gone.
      """SELECT doc_id,
        |  'com,example,' || source || ')/dir' || doc_id || '/page?a=' ||
        |    (doc_id % 7) || '&m=5&z=9' AS key
        |FROM documents""".stripMargin),

    // CDX INDEX + RANDOM ACCESS, ORACLED: the writer emits a per-shard
    // CDX sidecar (surt key, shard file, byte offset, member length,
    // payload digest); the query then reads the corpus back ONLY through
    // ranged member reads driven by that index — offsets shuffled by the
    // index join, one forward-seeking pass per shard — and the oracle
    // restates every projected field from the documents table. Random
    // access into 100 TB of .warc.gz is exactly what this layout buys.
    "q221_cdx_fetch" -> Query((s, dir) => {
      val out = fixtureDir("graft_cdx_", dir)
      graft.sources.Warc.write(warcCapture(docs(s, dir)), out, cdxIndex = true)
      val idx = cdxIndex(s, out)
      val fetched = graft.sources.Warc.fetchByIndex(idx, out)
      val digestOf = udf((b: Array[Byte]) => graft.sources.Warc.payloadDigest(b))
      idx.select(col("key"), col("url"))
        .join(fetched, Seq("url"))
        .select(Seq(col("url"), col("key")) ++ bodyDigest :+
          (col("digest") === digestOf(col("body"))).as("digest_ok"): _*)
    },
      // q221: the oracle restates the index-driven ranged reads straight
      // from the table — keys, byte lengths, payload hashes, and the
      // digest check all stated independently of the sidecar.
      raw"""SELECT 'http://' || source || '.example/doc/' || doc_id AS url,
        |  'example,' || source || ')/doc/' || doc_id AS key,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  ${polyHashSql("text")} AS body_hash,
        |  true AS digest_ok
        |FROM documents""".stripMargin),

    // REVISIT RECORDS, ORACLED: planted duplicate payloads (each group of
    // 5 docs shares its representative's text) are written with
    // identical-payload-digest revisit records — the Common Crawl dedup
    // mechanism — then resolved back: the digest-keyed join must restore
    // every payload, mark exactly the non-originals, and point refers_to
    // at the lexicographically-first url of the group.
    "q222_revisit" -> Query((s, dir) => {
      val d = docs(s, dir)
      val reps = d.select((col("doc_id") - pmod(col("doc_id"), lit(5))).as("rep_id"),
        col("doc_id"), col("source"))
      // group id appended so payload digests collide exactly within a
      // group (the synth corpus plants cross-group exact duplicates)
      val base = warcCapture(
        reps.join(d.select(col("doc_id").as("rep_id"), col("text")), Seq("rep_id")),
        encode(concat(col("text"), lit(" #"), col("rep_id")), "UTF-8"))
      val out = fixtureDir("graft_rev_", dir)
      graft.sources.Warc.write(base, out, dedupRevisits = true)
      graft.sources.Warc.resolveRevisits(readWarc(s, out))
        .select(Seq(col("url"), col("was_revisit")) ++ bodyDigest :+ col("refers_to"): _*)
    },
      // q222: originals and revisits restated relationally — the group
      // representative's text (+' #grp' uniquifier), the lexicographic
      // min url per group as the original, refers_to empty on originals.
      raw"""WITH b AS (
        |  SELECT d.doc_id,
        |    'http://' || d.source || '.example/doc/' || d.doc_id AS url,
        |    g.text || ' #' || (d.doc_id - d.doc_id % 5) AS t,
        |    d.doc_id - d.doc_id % 5 AS grp
        |  FROM documents d
        |  JOIN documents g ON g.doc_id = d.doc_id - d.doc_id % 5),
        |m AS (SELECT *, min(url) OVER (PARTITION BY grp) AS orig FROM b)
        |SELECT url, (url <> orig) AS was_revisit,
        |  CAST(octet_length(encode(t)) AS BIGINT) AS n_bytes,
        |  ${polyHashSql("t")} AS body_hash,
        |  CASE WHEN url <> orig THEN orig ELSE '' END AS refers_to
        |FROM m""".stripMargin),

    // WAT EXPORT, ORACLED: the third Common Crawl artifact — per-page
    // metadata records (title + outlink list under the WAT JSON
    // envelope) built by the REAL tokenizer, published as `metadata`
    // WARC records, read back and re-projected through `from_json`; the
    // oracle restates every field, so the tokenizer pass, the JSON
    // nesting, and the record round-trip are all pinned at once.
    "q224_wat" -> Query((s, dir) => {
      val html = concat(
        lit("<html><head><title>Doc &amp; "), col("doc_id"),
        lit("</title></head><body><p>body</p><a href=\"http://out.example/a"),
        col("doc_id"), lit("\">x</a><a>no href</a><a href=\"/rel/"), col("doc_id"),
        lit("\">y</a>"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("<a href=\"http://out.example/b"), col("doc_id"), lit("\">z</a>")))
          .otherwise(lit("")),
        lit("</body></html>"))
      val pages = docs(s, dir).select(captureKey :+ html.as("html"): _*)
      val out = fixtureDir("graft_wat_", dir)
      graft.sources.Warc.writeMetadata(
        graft.extract.MetaHarvest.watFrame(pages, "url", "warc_ts", "html"), out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        graft.extract.MetaHarvest.WatSchema)
      val links = "w.Envelope.`Payload-Metadata`.`HTML-Metadata`.Links"
      readWarc(s, out)
        .filter(col("record_type") === "metadata")
        .select(from_json(decode(col("body"), "UTF-8"), schema).as("w"))
        .select(
          col("w.Envelope.`WARC-Header-Metadata`.`WARC-Target-URI`").as("url"),
          col("w.Envelope.`Payload-Metadata`.`HTML-Metadata`.Head.Title").as("title"),
          size(col(links)).cast("long").as("n_links"),
          element_at(col(links), 1).as("first_link"),
          element_at(col(links), -1).as("last_link"))
    },
      // q224: title (entity-decoded), link count/order restated per doc —
      // the href-less anchor must drop, the mod-3 extra link lands last.
      """SELECT 'http://' || source || '.example/doc/' || doc_id AS url,
        |  'Doc & ' || doc_id AS title,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS BIGINT) AS n_links,
        |  'http://out.example/a' || doc_id AS first_link,
        |  CASE WHEN doc_id % 3 = 0 THEN 'http://out.example/b' || doc_id
        |       ELSE '/rel/' || doc_id END AS last_link
        |FROM documents""".stripMargin),

    // PUBLISH-DATE HARVEST, ORACLED: the dating signal a curation
    // pipeline mines, with source priority article:published_time >
    // JSON-LD datePublished > <time datetime> and invalid dates FALLING
    // THROUGH (the %4=3 family plants an unparsable meta AND an invalid
    // month that must both be rejected); a decoy <time> on the %4=0
    // family pins the priority order.
    "q225_dates" -> Query((s, dir) => {
      val m = pmod(col("doc_id"), lit(4))
      val dd = lpad((pmod(col("doc_id"), lit(28)) + 1).cast("string"), 2, "0")
      val mm = lpad((pmod(col("doc_id"), lit(12)) + 1).cast("string"), 2, "0")
      val html = when(m === 0, concat(
          lit("<html><head><meta property=\"article:published_time\" content=\"2026-03-"),
          dd, lit("T09:00:00Z\"></head><body><time datetime=\"2020-01-01\">old</time></body></html>")))
        .when(m === 1, concat(
          lit("<html><body><script type=\"application/ld+json\">{\"@type\":\"Article\",\"datePublished\":\"2025-"),
          mm, lit("-05T08:30:00Z\"}</script></body></html>")))
        .when(m === 2, concat(
          lit("<html><body><time datetime=\"2024-07-"), dd,
          lit("\">d</time></body></html>")))
        .otherwise(lit(
          "<html><head><meta property=\"article:published_time\" content=\"not-a-date\">" +
            "</head><body><time datetime=\"2019-13-40\">bad</time></body></html>"))
      graft.extract.MetaHarvest.harvestedExt(
          docs(s, dir).select(col("doc_id"), html.as("html")), "html")
        .select(col("doc_id"), col("ext.pubSrc").as("pub_src"),
          col("ext.pubDate").as("pub_date"))
    },
      // q225: source priority + validation restated per modular family —
      // the %4=0 decoy <time> and the %4=3 double-invalid family pin the
      // priority and fall-through rules.
      """SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'meta' WHEN 1 THEN 'jsonld'
        |       WHEN 2 THEN 'time' ELSE 'none' END AS pub_src,
        |  CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN '2026-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |    WHEN 1 THEN '2025-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-05'
        |    WHEN 2 THEN '2024-07-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |    ELSE '' END AS pub_date
        |FROM documents""".stripMargin),

    // OPEN GRAPH / TWITTER CARD HARVEST, ORACLED: the social-preview
    // metadata block (og:title/image/type, twitter:card), first
    // occurrence wins, absent fields empty — each field present on a
    // different modular slice so every presence combination occurs.
    "q226_og" -> Query((s, dir) => {
      val html = concat(
        lit("<html><head><meta property=\"og:title\" content=\"OG title "), col("doc_id"),
        lit("\">"),
        when(pmod(col("doc_id"), lit(2)) === 0, concat(
          lit("<meta property=\"og:image\" content=\"http://img.example/"),
          col("doc_id"), lit(".jpg\">"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("<meta property=\"og:type\" content=\"article\">"))
          .otherwise(lit("<meta property=\"og:type\" content=\"website\">")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit("<meta name=\"twitter:card\" content=\"summary\">")).otherwise(lit("")),
        lit("<meta property=\"og:title\" content=\"decoy\"></head><body></body></html>"))
      graft.extract.MetaHarvest.harvestedExt(
          docs(s, dir).select(col("doc_id"), html.as("html")), "html")
        .select(col("doc_id"), col("ext.ogTitle").as("og_title"),
          col("ext.ogImage").as("og_image"), col("ext.ogType").as("og_type"),
          col("ext.twitterCard").as("twitter_card"))
    },
      // q226: every field a closed form; the trailing og:title decoy must
      // lose to first-occurrence-wins.
      """SELECT doc_id, 'OG title ' || doc_id AS og_title,
        |  CASE WHEN doc_id % 2 = 0 THEN 'http://img.example/' || doc_id || '.jpg'
        |       ELSE '' END AS og_image,
        |  CASE WHEN doc_id % 3 = 0 THEN 'article' ELSE 'website' END AS og_type,
        |  CASE WHEN doc_id % 5 = 0 THEN 'summary' ELSE '' END AS twitter_card
        |FROM documents""".stripMargin),

    // META-REFRESH REDIRECT CHAINS, ORACLED end to end: per-group-of-4
    // pages chain m→m-1 via <meta http-equiv=refresh> (mixed-case URL=,
    // quoted target on odd hops); the harvested edges resolve by the
    // q210 pointer-doubling op, so delay parse, target parse, AND the
    // log-round resolution all pin against the closed form.
    "q227_meta_refresh" -> Query((s, dir) => {
      val m = pmod(col("doc_id"), lit(4))
      val url = concat(lit("http://r.example/d"), col("doc_id"))
      val prev = concat(lit("http://r.example/d"), col("doc_id") - 1)
      val html = when(m === 0, lit("<html><head></head><body>root</body></html>"))
        .when(m % 2 === 1, concat(
          lit("<html><head><meta http-equiv=\"refresh\" content=\""), m,
          lit("; URL='"), prev, lit("'\"></head></html>")))
        .otherwise(concat(
          lit("<html><head><meta http-equiv=\"Refresh\" content=\""), m,
          lit(";url="), prev, lit("\"></head></html>")))
      val ext = graft.extract.MetaHarvest.harvestedExt(
          docs(s, dir).select(col("doc_id"), url.as("url"), html.as("html")), "html")
        .select(col("doc_id"), col("url"),
          col("ext.refreshDelay").as("delay"), col("ext.refreshUrl").as("target"))
      val edges = ext.filter(col("target") =!= "")
        .select(col("url").as("src"), col("target").as("dst"))
      val resolved = graft.ops.WebOps.resolveRedirects(edges, "src", "dst")
      ext.join(resolved, ext("url") === resolved("src"), "left")
        .select(col("doc_id"), col("delay"), col("target"),
          coalesce(col("final_id"), col("url")).as("final_url"),
          coalesce(col("hops"), lit(0L)).as("hops"))
    },
      // q227: delays, parsed targets, and the pointer-doubled chain roots
      // — hops = position in the group-of-4 chain.
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN -1 ELSE doc_id % 4 END AS BIGINT) AS delay,
        |  CASE WHEN doc_id % 4 = 0 THEN ''
        |       ELSE 'http://r.example/d' || (doc_id - 1) END AS target,
        |  'http://r.example/d' || (doc_id - doc_id % 4) AS final_url,
        |  CAST(doc_id % 4 AS BIGINT) AS hops
        |FROM documents""".stripMargin),

    // HREFLANG ALTERNATE HARVEST, ORACLED: the multilingual cluster
    // declaration bitext mining starts from — per-cluster language sets
    // (the %3=2 member omits its de alternate), sorted lang lists, and
    // the x-default pointer all restated.
    "q228_hreflang" -> Query((s, dir) => {
      val root = (col("doc_id") - pmod(col("doc_id"), lit(3))).cast("string")
      def alt(lang: String, sub: String) = concat(
        lit(s"""<link rel="alternate" hreflang="$lang" href="http://h.example/$sub/"""),
        root, lit("\">"))
      val html = concat(lit("<html><head>"),
        alt("en", "en"), alt("fr", "fr"),
        when(pmod(col("doc_id"), lit(3)) =!= 2, alt("de", "de")).otherwise(lit("")),
        alt("x-default", "en"), lit("</head><body></body></html>"))
      graft.extract.MetaHarvest.harvestedExt(
          docs(s, dir).select(col("doc_id"), html.as("html")), "html")
        .select(col("doc_id"),
          size(col("ext.alternates")).cast("long").as("n_alts"),
          array_join(array_sort(expr("transform(ext.alternates, a -> a.lang)")), ",")
            .as("langs"),
          element_at(expr("filter(ext.alternates, a -> a.lang = 'x-default')"), 1)
            .getField("href").as("xdefault"))
    },
      // q228: language sets (sorted), the omitted de member, and the
      // x-default pointer restated per cluster.
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 3 ELSE 4 END AS BIGINT) AS n_alts,
        |  CASE WHEN doc_id % 3 = 2 THEN 'en,fr,x-default'
        |       ELSE 'de,en,fr,x-default' END AS langs,
        |  'http://h.example/en/' || (doc_id - doc_id % 3) AS xdefault
        |FROM documents""".stripMargin),

    // DEHYPHENATION, ORACLED: the PDF/column-text line-break repair —
    // lowercase-to-lowercase hyphen+newline joins, a hyphen before an
    // uppercase continuation survives; the kernel IS the regex both
    // engines run, so the oracle replays it pattern-identically over the
    // same constructed text.
    "q229_dehyphen" -> Query((s, dir) => {
      val t = concat(expr("replace(text, ' the ', '-\nthe ')"),
        lit("\nwell-\nKnown end"))
      docs(s, dir).select(col("doc_id"),
          graft.ops.TextOps.dehyphenate(t).as("__d"),
          length(t).cast("long").as("n_before"))
        .select(col("doc_id"), col("n_before"),
          length(col("__d")).cast("long").as("n_after"),
          graft.ops.Dedup.polyHash(col("__d")).as("h"))
    },
      // q229: the oracle rebuilds the hyphen-broken text and replays the
      // SAME pattern — plus the uppercase 'Known' tail that must keep its
      // hyphen (only its newline survives into the hash).
      raw"""WITH t AS (SELECT doc_id,
        |    replace(text, ' the ', '-' || chr(10) || 'the ')
        |      || chr(10) || 'well-' || chr(10) || 'Known end' AS raw
        |  FROM documents),
        |d AS (SELECT doc_id, raw,
        |    regexp_replace(raw, '([a-z])-\n([a-z])', '\1\2', 'g') AS deh FROM t)
        |SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_before,
        |  CAST(length(deh) AS BIGINT) AS n_after,
        |  ${polyHashSql("deh")} AS h
        |FROM d""".stripMargin),

    // NFKC NORMALIZATION, ORACLED BY LITERALS: the compatibility pass
    // (ligatures, fullwidth forms, circled/superscript digits, NBSP)
    // web-scraped text needs before tokenization — the oracle STATES the
    // expected strings rather than re-normalizing, so the JDK tables are
    // pinned against independent constants.
    "q230_nfkc" -> Query((s, dir) => {
      val m = pmod(col("doc_id"), lit(5))
      val raw = when(m === 0, concat(lit("ﬁle#"), col("doc_id")))       // ﬁ
        .when(m === 1, concat(lit("Ｆｕｌｌ "), col("doc_id"))) // Ｆｕｌｌ
        .when(m === 2, concat(lit("①②="), col("doc_id")))          // ①②
        .when(m === 3, concat(lit("x² y "), col("doc_id")))        // ² + NBSP
        .otherwise(concat(lit("plain "), col("doc_id")))
      docs(s, dir).select(col("doc_id"),
          raw.as("__r"), graft.ops.TextOps.nfkc(raw).as("norm"))
        .select(col("doc_id"), col("norm"),
          (col("__r") =!= col("norm")).as("changed"),
          length(col("__r")).cast("long").as("n_before"),
          length(col("norm")).cast("long").as("n_after"))
    },
      // q230: expected NFKC outputs stated as ASCII literals — the JDK's
      // Unicode tables are checked against constants, not echoed back.
      """SELECT doc_id,
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 'file#' || doc_id
        |    WHEN 1 THEN 'Full ' || doc_id
        |    WHEN 2 THEN '12=' || doc_id
        |    WHEN 3 THEN 'x2 y ' || doc_id
        |    ELSE 'plain ' || doc_id END AS norm,
        |  (doc_id % 5 <> 4) AS changed,
        |  CAST(CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 4 WHEN 1 THEN 5 WHEN 2 THEN 3 WHEN 3 THEN 5 ELSE 6 END
        |    + length(CAST(doc_id AS VARCHAR)) AS BIGINT) AS n_before,
        |  CAST(CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 5 WHEN 1 THEN 5 WHEN 2 THEN 3 WHEN 3 THEN 5 ELSE 6 END
        |    + length(CAST(doc_id AS VARCHAR)) AS BIGINT) AS n_after
        |FROM documents""".stripMargin),

    // RECRAWL FRESHNESS PLANNING, ORACLED: the RFC 9111 fetch-vs-
    // revalidate-vs-skip decision over stored crawl state — max-age,
    // no-store/no-cache, Expires fallback, the heuristic
    // (Date−Last-Modified)/10 lifetime, and validator-gated
    // revalidation each planted on a modular family with exact integer
    // arithmetic the oracle restates.
    "q231_freshness" -> Query((s, dir) => {
      val m = pmod(col("doc_id"), lit(6))
      val cc = when(m === 0, lit("max-age=3600, public"))
        .when(m === 1, lit("max-age=60"))
        .when(m === 2, lit("no-store, max-age=99999"))
        .when(m === 3, lit("no-cache"))
        .otherwise(lit(""))
      val date = lit(100000L)
      val expires = when(m === 5, lit(100050L)).otherwise(lit(0L))
      val lm = when(m === 4, lit(80000L)).otherwise(lit(0L))
      val now = when(m === 4, lit(100000L) + pmod(col("doc_id"), lit(1500)))
        .otherwise(lit(100100L))
      val validator = m === 1
      docs(s, dir).select(col("doc_id"),
          graft.ops.WebOps.freshness(cc, expires, lm, date, now, validator).as("f"))
        .select(col("doc_id"), col("f._1").as("verdict"), col("f._2").as("ttl"))
    },
      // q231: verdicts + remaining-freshness arithmetic restated exactly
      // per family (heuristic lifetime 2000s on the %6=4 slice).
      """SELECT doc_id,
        |  CASE CAST(doc_id % 6 AS INT)
        |    WHEN 0 THEN 'fresh' WHEN 1 THEN 'revalidate' WHEN 2 THEN 'refetch'
        |    WHEN 3 THEN 'revalidate' WHEN 4 THEN 'fresh' ELSE 'refetch' END AS verdict,
        |  CAST(CASE CAST(doc_id % 6 AS INT)
        |    WHEN 0 THEN 3500 WHEN 1 THEN -40 WHEN 2 THEN 0 WHEN 3 THEN 0
        |    WHEN 4 THEN 2000 - (doc_id % 1500) ELSE -50 END AS BIGINT) AS ttl
        |FROM documents""".stripMargin),

    // CHARSET TRANSCODE PIN, ORACLED ON MARKDOWN BYTES: non-UTF-8
    // payloads (ISO-8859-1 and windows-1252 bytes with declared meta
    // charsets) must transcode through the declared-charset fallback and
    // extract to the exact UTF-8 markdown the oracle states; the %3=2
    // family stays pure UTF-8 through the strict path.
    "q232_charset" -> Query((s, dir) => {
      val m = pmod(col("doc_id"), lit(3))
      // Spark's builtin encode() allows only a fixed charset list — the
      // cp1252 test bytes come from a tiny UDF instead
      val cp1252 = udf((s: String) => s.getBytes("windows-1252"))
      val body = when(m === 0, encode(concat(
          lit("<html><head><meta charset=\"iso-8859-1\"><title>t</title></head>" +
            "<body><p>Café num "), col("doc_id"),
          lit(" désormais protégé</p></body></html>")), "ISO-8859-1"))
        .when(m === 1, cp1252(concat(
          lit("<html><head><meta http-equiv=\"Content-Type\" content=\"text/html; " +
            "charset=windows-1252\"></head><body><p>“Quoted ”"), col("doc_id"),
          lit(" — dash</p></body></html>"))))
        .otherwise(encode(concat(
          lit("<html><head></head><body><p>Plain é utf8 "), col("doc_id"),
          lit("</p></body></html>")), "UTF-8"))
      val pages = docs(s, dir).select(
        concat(lit("http://cs.example/p"), col("doc_id")).as("url"),
        col("doc_id"), body.as("html"))
      graft.extract.ExtractJob.extractedDf(pages)
        .select(col("url"), col("extracted.status").as("status"),
          col("extracted.markdown").as("markdown"))
    },
      // q232: the exact UTF-8 markdown per charset family — transcoding
      // drift (or a strict-decode regression) breaks the hash.
      """SELECT 'http://cs.example/p' || doc_id AS url, 'ok' AS status,
        |  CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN 'Café num ' || doc_id || ' désormais protégé'
        |    WHEN 1 THEN '“Quoted ”' || doc_id || ' — dash'
        |    ELSE 'Plain é utf8 ' || doc_id END AS markdown
        |FROM documents""".stripMargin),

    // FULL CRAWL LOOP, ORACLED: the capstone composite — raw pages
    // (each 5-doc group byte-identical, so the sink folds 4/5 into
    // revisit records) are published as a .warc.gz archive with a CDX
    // sidecar, read back, revisit-resolved, run through the REAL
    // extraction, exact-deduped on the extracted markdown (canonical =
    // lexicographically-first url, q181's pinned page), and re-published
    // as WET conversion shards; the output is read from the WET layer,
    // so the oracle's closed form pins archive write/read, revisit
    // restore, extraction bytes, dedup choice, and the WET round-trip in
    // one hash compare.
    "q233_crawl_loop" -> Query((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val grp = col("doc_id") - pmod(col("doc_id"), lit(5))
      val base = warcCapture(docs(s, dir), encode(boilerplatePage(grp), "UTF-8"))
      val raw = fixtureDir("graft_loop_", dir)
      val wet = fixtureDir("graft_loopwet_", dir)
      graft.sources.Warc.write(base, raw, dedupRevisits = true, cdxIndex = true)
      val resolved = graft.sources.Warc.resolveRevisits(readWarc(s, raw))
      val extracted = graft.extract.ExtractJob.extractedDf(
          resolved.select(col("url"), col("warc_ts"), col("body").as("html")))
        .filter(col("extracted.status") === "ok")
        .select(col("url"), col("warc_ts"), col("extracted.markdown").as("md"))
      // both windows key on the markdown's 64-bit hash, so their one
      // exchange partitions on 8 bytes instead of whole bodies
      val byMd = Window.partitionBy(col("md_key"))
      val kept = extracted.withColumn("md_key", xxhash64(col("md")))
        .withColumn("__rn", row_number().over(byMd.orderBy(col("url"))))
        .withColumn("n_docs", count(lit(1)).over(byMd))
        .filter(col("__rn") === 1)
      graft.sources.Warc.writeConversion(
        kept.select(col("url"), col("warc_ts"), lit(0).as("http_status"),
          lit("text/plain").as("content_type"), encode(col("md"), "UTF-8").as("body")),
        wet)
      readWarc(s, wet).select(col("url") +: bodyDigest: _*)
        .join(kept.select(col("url"), col("n_docs").cast("long").as("n_docs")), Seq("url"))
    },
      // q233: one group survives per 5-doc duplicate family — the
      // lexicographically-first url, q181's pinned markdown (built from
      // the GROUP id), the WET byte length, and the fold count all stated
      // from the documents table alone.
      raw"""WITH b AS (SELECT doc_id, doc_id - doc_id % 5 AS grp,
        |    'http://' || source || '.example/doc/' || doc_id AS url FROM documents),
        |k AS (SELECT grp, min(url) AS url, count(*) AS n_docs FROM b GROUP BY grp),
        |m AS (SELECT url, n_docs,
        |    '# Title ' || grp || chr(10) || chr(10)
        |      || 'Hello world ' || grp
        |      || ' with enough words to be content here today.' || chr(10) || chr(10)
        |      || 'Second paragraph ' || grp
        |      || ' also has plenty of real sentence text to keep.' AS md
        |  FROM k)
        |SELECT url, CAST(octet_length(encode(md)) AS BIGINT) AS n_bytes,
        |  ${polyHashSql("md")} AS body_hash,
        |  CAST(n_docs AS BIGINT) AS n_docs
        |FROM m""".stripMargin),

    // RFC 3986 REFERENCE RESOLUTION, ORACLED: absolute, scheme-relative,
    // root-relative, path-relative, ../ chains (excess clamps at root),
    // query-only, and fragment-only references against a query-carrying
    // base — every §5.2.2/§5.2.4 rule a closed form.
    "q235_url_resolve" -> Query((s, dir) => {
      val base = concat(lit("http://"), col("source"), lit(".example/a/b/c?bq=1"))
      val m = pmod(col("doc_id"), lit(8))
      val ref = when(m === 0, concat(lit("http://other.example/x"), col("doc_id")))
        .when(m === 1, concat(lit("//cdn.example/img"), col("doc_id")))
        .when(m === 2, concat(lit("/root"), col("doc_id")))
        .when(m === 3, concat(lit("d"), col("doc_id")))
        .when(m === 4, concat(lit("../up"), col("doc_id")))
        .when(m === 5, concat(lit("../../../over"), col("doc_id")))
        .when(m === 6, concat(lit("?q="), col("doc_id")))
        .otherwise(concat(lit("#f"), col("doc_id")))
      docs(s, dir).select(col("doc_id"),
        graft.ops.WebOps.resolveUrl(base, ref).as("abs"))
    },
      // q235: every resolution family restated — note the %8=5 excess-../
      // clamp and the fragment-only case inheriting the base query.
      """SELECT doc_id,
        |  CASE CAST(doc_id % 8 AS INT)
        |    WHEN 0 THEN 'http://other.example/x' || doc_id
        |    WHEN 1 THEN 'http://cdn.example/img' || doc_id
        |    WHEN 2 THEN 'http://' || source || '.example/root' || doc_id
        |    WHEN 3 THEN 'http://' || source || '.example/a/b/d' || doc_id
        |    WHEN 4 THEN 'http://' || source || '.example/a/up' || doc_id
        |    WHEN 5 THEN 'http://' || source || '.example/over' || doc_id
        |    WHEN 6 THEN 'http://' || source || '.example/a/b/c?q=' || doc_id
        |    ELSE 'http://' || source || '.example/a/b/c?bq=1#f' || doc_id END AS abs
        |FROM documents""".stripMargin),

    // FEED AUTODISCOVERY, ORACLED: rel=alternate rss/atom links (the
    // crawl's entry into the q186 feed parser), a stylesheet link and an
    // hreflang alternate that must NOT match, and the relative atom href
    // resolved against the page url via the q235 RFC 3986 op.
    "q234_feed_discovery" -> Query((s, dir) => {
      val pageUrl = concat(lit("http://"), col("source"), lit(".example/dir/page"),
        col("doc_id"))
      val html = concat(
        lit("<html><head><link rel=\"alternate\" type=\"application/rss+xml\" href=\"http://"),
        col("source"), lit(".example/feed.xml\">"),
        when(pmod(col("doc_id"), lit(2)) === 0, concat(
          lit("<link rel=\"alternate\" type=\"application/atom+xml\" href=\"atom/"),
          col("doc_id"), lit("\">"))).otherwise(lit("")),
        lit("<link rel=\"stylesheet\" href=\"/css\">" +
          "<link rel=\"alternate\" hreflang=\"fr\" href=\"http://h/fr\">" +
          "</head><body></body></html>"))
      graft.extract.MetaHarvest.harvestedExt(
          docs(s, dir).select(col("doc_id"), pageUrl.as("url"), html.as("html")), "html")
        .select(col("doc_id"), col("url"), col("ext.feeds").as("feeds"))
        .select(col("doc_id"),
          size(col("feeds")).cast("long").as("n_feeds"),
          element_at(col("feeds"), 1).as("feed1"),
          when(size(col("feeds")) > 1,
            graft.ops.WebOps.resolveUrl(col("url"), element_at(col("feeds"), 2)))
            .otherwise(lit("")).as("feed2_resolved"))
    },
      // q234: the stylesheet and hreflang links must not match; the
      // relative atom href resolves under the page's /dir/ directory.
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_feeds,
        |  'http://' || source || '.example/feed.xml' AS feed1,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN 'http://' || source || '.example/dir/atom/' || doc_id
        |    ELSE '' END AS feed2_resolved
        |FROM documents""".stripMargin),

    // SPAN-OFFSET PIN, ORACLED: the north-rule's "span offsets per url"
    // contract stated exactly — q181's page explodes into its (kind,
    // start, end) blocks and the oracle recomputes every offset from
    // string lengths alone (heading, then two paragraphs separated by
    // blank lines).
    "q236_spans" -> Query((s, dir) => {
      val html = boilerplatePage(col("doc_id"))
      val pages = docs(s, dir).select(
        concat(lit("http://x.example/p"), col("doc_id")).as("url"),
        encode(html, "UTF-8").as("html"))
      graft.extract.ExtractJob.extractedDf(pages)
        .select(col("url"), posexplode(col("extracted.spans")))
        .select(col("url"), col("pos").cast("long").as("pos"),
          col("col.kind").as("kind"),
          col("col.start").as("start"), col("col.end").as("end"))
    },
      // q236: every block offset from string lengths alone — heading,
      // then two paragraphs each separated by a blank line.
      """WITH d AS (SELECT doc_id, 'http://x.example/p' || doc_id AS url,
        |    length('# Title ' || doc_id) AS h_len,
        |    length('Hello world ' || doc_id ||
        |      ' with enough words to be content here today.') AS p1_len,
        |    length('Second paragraph ' || doc_id ||
        |      ' also has plenty of real sentence text to keep.') AS p2_len
        |  FROM documents)
        |SELECT url, CAST(0 AS BIGINT) AS pos, 'heading' AS kind,
        |  CAST(0 AS BIGINT) AS "start", CAST(h_len AS BIGINT) AS "end" FROM d
        |UNION ALL SELECT url, CAST(1 AS BIGINT), 'para',
        |  CAST(h_len + 2 AS BIGINT), CAST(h_len + 2 + p1_len AS BIGINT) FROM d
        |UNION ALL SELECT url, CAST(2 AS BIGINT), 'para',
        |  CAST(h_len + 2 + p1_len + 2 AS BIGINT),
        |  CAST(h_len + 2 + p1_len + 2 + p2_len AS BIGINT) FROM d""".stripMargin),

    // RESOLVED LINK GRAPH, ORACLED: the web-graph build — per-page
    // anchors (one absolute to a rotating external host, one relative
    // that must resolve under the page's directory) extracted by the
    // tokenizer, absolutized by the RFC 3986 op, reduced to a
    // host-level edge list with exact counts; the input to the q59/q97
    // PageRank/HITS ops stated from the documents table alone.
    "q237_link_graph" -> Query((s, dir) => {
      val pageUrl = concat(lit("http://"), col("source"), lit(".example/dir/p"),
        col("doc_id"))
      val html = concat(
        lit("<html><body><a href=\"http://out"), pmod(col("doc_id"), lit(3)),
        lit(".example/x"), col("doc_id"), lit("\">ext</a><a href=\"../rel/"),
        col("doc_id"), lit("\">rel</a></body></html>"))
      val linksU = udf((h: String) => graft.extract.MetaHarvest.links(h))
      val edges = docs(s, dir)
        .select(pageUrl.as("url"), linksU(html).as("hrefs"))
        .select(col("url"), explode(col("hrefs")).as("href"))
        .select(graft.ops.WebOps.urlHost(col("url")).as("src_host"),
          graft.ops.WebOps.urlHost(
            graft.ops.WebOps.resolveUrl(col("url"), col("href"))).as("dst_host"))
      edges.groupBy(col("src_host"), col("dst_host"))
        .agg(count(lit(1)).as("n_links"))
    },
      // q237: the host-level edge list with exact multiplicities — the
      // relative anchor folds into a self-edge per source.
      """WITH e AS (
        |  SELECT source || '.example' AS src_host,
        |    'out' || (doc_id % 3) || '.example' AS dst_host FROM documents
        |  UNION ALL
        |  SELECT source || '.example', source || '.example' FROM documents)
        |SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
        |FROM e GROUP BY 1, 2""".stripMargin),

    // WARC-TRUNCATED SEMANTICS, ORACLED: the Common Crawl body cap —
    // bodies over 200 bytes store truncated with `WARC-Truncated:
    // length`, the payload digest covers the STORED prefix, and the
    // reader surfaces the flag so a pipeline can gate on it; lengths,
    // flags, and prefix hashes all restated from the table.
    "q238_truncation" -> Query((s, dir) => {
      val out = fixtureDir("graft_trunc_", dir)
      graft.sources.Warc.write(warcCapture(docs(s, dir)), out, truncateAt = 200)
      val Seq(nBytes, bodyHash) = bodyDigest
      readWarc(s, out)
        .select(col("url"), nBytes, (col("truncated") =!= "").as("is_truncated"), bodyHash)
    },
      // q238: the corpus is pure ASCII (pinned by the fixtures), so byte
      // truncation equals character truncation and left() restates it.
      raw"""SELECT 'http://' || source || '.example/doc/' || doc_id AS url,
        |  CAST(least(octet_length(encode(text)), 200) AS BIGINT) AS n_bytes,
        |  octet_length(encode(text)) > 200 AS is_truncated,
        |  ${polyHashSql("left(text, 200)")} AS body_hash
        |FROM documents""".stripMargin),

    // CC-INDEX-STYLE HOST ROLLUP, ORACLED: the CDX sidecar consumed AS A
    // TABLE (the actual cc-index access pattern) — per-host record /
    // response / revisit counts, distinct payload digests, and the
    // capture-time range, all from index rows alone (no shard read).
    "q239_host_index" -> Query((s, dir) => {
      val d = docs(s, dir)
      val reps = d.select((col("doc_id") - pmod(col("doc_id"), lit(5))).as("rep_id"),
        col("doc_id"), col("source"))
      val base = warcCapture(
        reps.join(d.select(col("doc_id").as("rep_id"), col("text")), Seq("rep_id")),
        encode(concat(col("text"), lit(" #"), col("rep_id")), "UTF-8"))
      val out = fixtureDir("graft_hostidx_", dir)
      graft.sources.Warc.write(base, out, dedupRevisits = true, cdxIndex = true)
      cdxIndex(s, out).select(regexp_extract(col("url"), "://([^/]+)", 1).as("host"),
          col("record_type"), col("digest"), col("ts_ms"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("record_type") === "response", 1L).otherwise(0L)).as("n_responses"),
          sum(when(col("record_type") === "revisit", 1L).otherwise(0L)).as("n_revisits"),
          countDistinct(col("digest")).as("n_digests"),
          min(col("ts_ms")).as("min_ts_ms"), max(col("ts_ms")).as("max_ts_ms"))
    },
      // q239: the index rollup from the documents table alone — the
      // group-minimal url (across sources!) is the response, everything
      // else a revisit; distinct digests = distinct 5-doc groups touched.
      """WITH b AS (SELECT doc_id, source, doc_id - doc_id % 5 AS grp,
        |    'http://' || source || '.example/doc/' || doc_id AS url FROM documents),
        |m AS (SELECT *, min(url) OVER (PARTITION BY grp) AS orig FROM b)
        |SELECT source || '.example' AS host,
        |  CAST(count(*) AS BIGINT) AS n_records,
        |  CAST(sum(CASE WHEN url = orig THEN 1 ELSE 0 END) AS BIGINT) AS n_responses,
        |  CAST(sum(CASE WHEN url <> orig THEN 1 ELSE 0 END) AS BIGINT) AS n_revisits,
        |  CAST(count(DISTINCT grp) AS BIGINT) AS n_digests,
        |  CAST(min(doc_id + 1577836800) * 1000 AS BIGINT) AS min_ts_ms,
        |  CAST(max(doc_id + 1577836800) * 1000 AS BIGINT) AS max_ts_ms
        |FROM m GROUP BY source""".stripMargin),

    // FETCH-BATCH PLANNER, ORACLED: the triple composition a recrawl
    // scheduler runs — RFC 9111 freshness (only expired entries are
    // due), the RFC 9309 robots gate (the /a/ tree is disallowed), and
    // the per-host politeness cap (10 urls per host, doc_id order); the
    // oracle restates the surviving batch exactly.
    "q240_fetch_batch" -> Query((s, dir) => {
      val d = docs(s, dir)
      val url = concat(lit("http://"), col("source"), lit(".example"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("/a/p")).otherwise(lit("/b/p")),
        col("doc_id"))
      val state = d.select(col("doc_id"), col("source"), url.as("url"),
          graft.ops.WebOps.freshness(lit("max-age=100"), lit(0L), lit(0L),
            lit(100000L), lit(100000L) + pmod(col("doc_id"), lit(200)),
            lit(true)).as("f"))
        .select(col("doc_id"), col("source"), col("url"),
          col("f._1").as("verdict"), col("f._2").as("ttl"))
      val due = state.filter(col("verdict") =!= "fresh")
      val robots = d.select(col("source")).distinct()
        .select(concat(col("source"), lit(".example")).as("host"),
          lit("User-agent: *\nDisallow: /a\n").as("txt"))
      val allowed = graft.ops.WebOps.robotsDisallowed(
          due.select(col("url")), "url", robots, "host", "txt")
        .filter(!col("disallowed")).select(col("url"))
      graft.ops.Curation.capPerKey(due.join(allowed, Seq("url")),
          "source", "doc_id", n = 10)
        .select(col("url"), col("source"), col("doc_id"), col("ttl"))
    },
      // q240: due = expired max-age entries (negative remaining ttl),
      // minus the robots-blocked /a/ tree, capped at 10 per host in
      // doc_id order.
      """WITH c AS (SELECT doc_id, source,
        |    'http://' || source || '.example/b/p' || doc_id AS url,
        |    100 - (doc_id % 200) AS ttl
        |  FROM documents
        |  WHERE doc_id % 3 <> 0 AND doc_id % 200 >= 100),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM c)
        |SELECT url, source, doc_id, CAST(ttl AS BIGINT) AS ttl
        |FROM r WHERE rn <= 10""".stripMargin),

    // FRONTIER NOVELTY VS THE INDEX, ORACLED: discovered outlinks
    // (anchor extraction → RFC 3986 absolutization → SURT keys) probed
    // against the captured corpus's CDX keys with a LEFT ANTI join —
    // "what did the crawl learn about that it has never fetched"; only
    // the mod-4=0 planted outlinks point at already-captured docs, so
    // the novel set is a closed form. The anti join keys on the ~40-byte
    // surt string: discovery at 10¹² scale ships keys, never pages.
    "q241_frontier_novel" -> Query((s, dir) => {
      val d = docs(s, dir)
      // captured corpus: the documents table itself, CDX-indexed
      val out = fixtureDir("graft_fnov_", dir)
      graft.sources.Warc.write(warcCapture(d, contentType = "text/html"), out, cdxIndex = true)
      val captured = cdxIndex(s, out).select(col("key"))
      // discovery: each page links one captured sibling (mod-4=0) or an
      // external page, plus a relative link to an uncaptured local path
      val pageUrl = concat(lit("http://"), col("source"), lit(".example/doc/"),
        col("doc_id"))
      val html = concat(lit("<html><body>"),
        when(pmod(col("doc_id"), lit(4)) === 0, concat(
          lit("<a href=\"http://"), col("source"), lit(".example/doc/"),
          col("doc_id"), lit("\">self</a>")))
          .otherwise(concat(lit("<a href=\"http://new"), pmod(col("doc_id"), lit(5)),
            lit(".example/page"), col("doc_id"), lit("\">n</a>"))),
        lit("<a href=\"../fresh/f"), col("doc_id"), lit("\">r</a></body></html>"))
      val linksU = udf((h: String) => graft.extract.MetaHarvest.links(h))
      val discovered = d.select(pageUrl.as("url"), linksU(html).as("hrefs"))
        .select(col("url"), explode(col("hrefs")).as("href"))
        .select(graft.ops.WebOps.surtKey(
          graft.ops.WebOps.resolveUrl(col("url"), col("href"))).as("key"))
        .distinct()
      discovered.join(captured, Seq("key"), "left_anti")
        .select(col("key"))
    },
      // q241: the novel frontier — every relative /fresh/ link plus the
      // external links of non-mod-4 docs; the mod-4 self links collide
      // with captured CDX keys and drop in the anti join.
      """SELECT 'example,' || source || ')/fresh/f' || doc_id AS key FROM documents
        |UNION ALL
        |SELECT 'example,new' || (doc_id % 5) || ')/page' || doc_id FROM documents
        |WHERE doc_id % 4 <> 0""".stripMargin),

    // SITEMAP-DRIVEN DISCOVERY, ORACLED: q241's anti-join discipline fed
    // from the OTHER discovery channel — per-doc sitemaps (parsed by the
    // real q185 parser) list one captured and one novel loc; only the
    // novel SURT keys survive the probe against the corpus's CDX keys.
    "q242_sitemap_frontier" -> Query((s, dir) => {
      val d = docs(s, dir)
      val out = fixtureDir("graft_smf_", dir)
      graft.sources.Warc.write(warcCapture(d, contentType = "text/html"), out, cdxIndex = true)
      val captured = cdxIndex(s, out).select(col("key"))
      val hostBase = concat(lit("http://"), col("source"), lit(".example/doc/"))
      val xml = concat(
        lit("<?xml version=\"1.0\"?><urlset><url><loc>"), hostBase, col("doc_id"),
        lit("</loc></url><url><loc>"), hostBase, lit("n"), col("doc_id"),
        lit("</loc></url></urlset>"))
      val discovered = d.select(graft.ops.WebOps.sitemapParse(xml).as("p"))
        .select(explode(col("p.entries")).as("e"))
        .select(graft.ops.WebOps.surtKey(col("e.loc")).as("key"))
        .distinct()
      discovered.join(captured, Seq("key"), "left_anti").select(col("key"))
    },
      // q242: only the 'n'-suffixed locs are novel; the captured siblings
      // collide with index keys and drop.
      """SELECT 'example,' || source || ')/doc/n' || doc_id AS key FROM documents""".stripMargin),

    // CONDITIONAL REVALIDATION MERGE, ORACLED: the 304 path's state
    // update — due entries that revalidated as 304 keep their stored
    // body but bump the fetch time, 200s replace body AND digest hash,
    // not-due rows pass through untouched; the post-merge state is
    // restated row by row.
    "q243_revalidate_merge" -> Query((s, dir) => {
      val d = docs(s, dir)
      val m = pmod(col("doc_id"), lit(3))
      val state = d.select(col("doc_id"),
        concat(lit("http://"), col("source"), lit(".example/doc/"), col("doc_id")).as("url"),
        col("text").as("body"), lit(100000L).as("fetched_at"))
      // revalidation results for the due slice (m != 0)
      val results = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
        .select(col("doc_id").as("r_id"),
          when(pmod(col("doc_id"), lit(3)) === 1, 304).otherwise(200).as("status"),
          when(pmod(col("doc_id"), lit(3)) === 2,
            concat(lit("fresh body "), col("doc_id"))).as("new_body"),
          lit(200000L).as("now"))
      state.join(results, state("doc_id") === results("r_id"), "left")
        .select(col("doc_id"), col("url"),
          when(col("status") === 200, col("new_body")).otherwise(col("body")).as("b"),
          coalesce(col("now"), col("fetched_at")).as("fetched_at"),
          coalesce(col("status"), lit(0)).cast("long").as("last_status"))
        .select(col("doc_id"), col("url"), graft.ops.Dedup.polyHash(col("b")).as("body_hash"),
          col("fetched_at"), col("last_status"))
    },
      // q243: the merged crawl state — 304s keep the stored body with a
      // bumped time, 200s take the fresh body, untouched rows keep both.
      raw"""SELECT doc_id,
        |  'http://' || source || '.example/doc/' || doc_id AS url,
        |  ${polyHashSql(" CASE WHEN doc_id % 3 = 2 THEN 'fresh body ' || doc_id ELSE text END")} AS body_hash,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 100000 ELSE 200000 END AS BIGINT) AS fetched_at,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 0 WHEN doc_id % 3 = 1 THEN 304
        |       ELSE 200 END AS BIGINT) AS last_status
        |FROM documents""".stripMargin),

    // FETCH-SLOT SCHEDULE, ORACLED: the last scheduler stage — each
    // host's robots Crawl-delay (parsed by the real q183 policy kernel)
    // spaces that host's batch into fetch slots (rank × delay from a
    // common epoch); per-host windows rank in doc_id order, the policy
    // frame broadcasts, and every slot time is a closed form.
    "q244_fetch_schedule" -> Query((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val srcN = regexp_extract(col("source"), "(\\d+)", 1).cast("long")
      val robots = d.select(col("source")).distinct()
        .select(col("source"),
          graft.ops.WebOps.robotsPolicy(concat(
            lit("User-agent: *\nCrawl-delay: "),
            regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 3 + 1,
            lit("\nDisallow: /x\n"))).as("p"))
        .select(col("source"), col("p.crawl_delay").as("delay_sec"))
      val batch = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
        .select(col("doc_id"), col("source"),
          concat(lit("http://"), col("source"), lit(".example/doc/"), col("doc_id")).as("url"))
      batch.join(broadcast(robots), Seq("source"))
        .withColumn("slot",
          (row_number().over(Window.partitionBy(col("source")).orderBy(col("doc_id")))
            - 1).cast("long"))
        .select(col("url"), col("source"), col("doc_id"), col("slot"),
          col("delay_sec"),
          (lit(100000L) + col("slot") * col("delay_sec")).as("fetch_at"))
    },
      // q244: per-host slot spacing — delay = srcN % 3 + 1 seconds, slots
      // rank the due docs in doc_id order from a common epoch.
      """WITH b AS (SELECT doc_id, source,
        |    'http://' || source || '.example/doc/' || doc_id AS url,
        |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 3 + 1 AS delay_sec
        |  FROM documents WHERE doc_id % 3 <> 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS slot
        |  FROM b)
        |SELECT url, source, doc_id, CAST(slot AS BIGINT) AS slot,
        |  CAST(delay_sec AS BIGINT) AS delay_sec,
        |  CAST(100000 + slot * delay_sec AS BIGINT) AS fetch_at
        |FROM r""".stripMargin),

    // MIXED-SCRIPT TOKEN COUNTING, ORACLED: CJK ideographs/kana/hangul
    // count per character, latin by whitespace runs — the multilingual
    // budget accounting a whitespace counter gets catastrophically
    // wrong (an unsegmented Chinese document is NOT one token); latin
    // docs must agree exactly with the whitespace count, CJK plants are
    // stated constants.
    "q245_cjk_tokens" -> Query((s, dir) => {
      val m = pmod(col("doc_id"), lit(3))
      val t = when(m === 0, col("text"))
        .when(m === 1, concat(lit("漢字テキスト処理 "), col("doc_id")))
        .otherwise(concat(lit("数据 data 处理 "), col("doc_id")))
      docs(s, dir).select(col("doc_id"),
        graft.ops.TextOps.mixedTokenCount(t).as("n_tokens"))
    },
      // q245: latin docs replay the whitespace count; the CJK plants are
      // 8 chars + the id token, and 2+1+2 chars + the id token.
      """SELECT doc_id,
        |  CAST(CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN len(string_split_regex(trim(text), '\s+'))
        |    WHEN 1 THEN 9 ELSE 6 END AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin),

    // INDEXABILITY VERDICT, ORACLED: the should-this-page-enter-the-
    // corpus gate as ONE composition — robots disallow (the /a/ tree),
    // harvested meta noindex, canonical-elsewhere (the site's own dedup
    // declaration), and the soft-404 screen, in that precedence; every
    // gate fires on its own modular family and the oracle states each
    // verdict plus the raw component flags.
    "q246_indexability" -> Query((s, dir) => {
      val m = pmod(col("doc_id"), lit(5))
      val url = concat(lit("http://"), col("source"), lit(".example"),
        when(m === 0, lit("/a/p")).otherwise(lit("/p")), col("doc_id"))
      // benign titles carry no digits: 'Doc 404' (doc_id 404!) would
      // legitimately trip the "404" title phrase — q157's subject, not
      // this composition's
      val title = when(m === 3, lit("Error 404 - Page Not Found"))
        .otherwise(concat(lit("Welcome page of "), col("source")))
      val canonical = when(m === 2, lit("http://c.example/other")).otherwise(url)
      val html = concat(lit("<html><head><title>"), title,
        lit("</title><link rel=\"canonical\" href=\""), canonical, lit("\">"),
        when(m === 1, lit("<meta name=\"robots\" content=\"noindex\">"))
          .otherwise(lit("")),
        lit("</head><body><p>b</p></body></html>"))
      // controlled body: the raw corpus text can legitimately trip the
      // soft-404 BODY heuristics (that is q157's subject) — this query
      // pins the COMPOSITION, so the body is neutral by construction
      val body = concat(lit("An ordinary content body for document "), col("doc_id"))
      val pages = graft.extract.MetaHarvest.harvested(
        docs(s, dir).select(col("doc_id"), col("source"), url.as("url"),
          html.as("html"), body.as("text")), "html")
      val robots = docs(s, dir).select(col("source")).distinct()
        .select(concat(col("source"), lit(".example")).as("host"),
          lit("User-agent: *\nDisallow: /a\n").as("txt"))
      val rd = graft.ops.WebOps.robotsDisallowed(
          pages.select(col("url")), "url", robots, "host", "txt")
        .select(col("url"), col("disallowed"))
      pages.join(rd, Seq("url"))
        .select(col("doc_id"), col("url"), col("disallowed"),
          col("meta.noindex").as("noindex"),
          (col("meta.canonical") =!= col("url")).as("canon_elsewhere"),
          graft.ops.WebOps.soft404Signals(col("meta.title"), col("text"))
            .getField("soft404").as("soft404"))
        .select(col("doc_id"), col("url"),
          when(col("disallowed"), "robots")
            .when(col("noindex"), "noindex")
            .when(col("canon_elsewhere"), "canonical_elsewhere")
            .when(col("soft404"), "soft404")
            .otherwise("index").as("verdict"),
          col("disallowed"), col("noindex"), col("canon_elsewhere"), col("soft404"))
    },
      // q246: one gate per modular family, precedence robots > noindex >
      // canonical_elsewhere > soft404 > index; flags restated raw.
      """SELECT doc_id,
        |  'http://' || source || '.example' ||
        |    CASE WHEN doc_id % 5 = 0 THEN '/a/p' ELSE '/p' END || doc_id AS url,
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 'robots' WHEN 1 THEN 'noindex'
        |    WHEN 2 THEN 'canonical_elsewhere' WHEN 3 THEN 'soft404'
        |    ELSE 'index' END AS verdict,
        |  (doc_id % 5 = 0) AS disallowed,
        |  (doc_id % 5 = 1) AS noindex,
        |  (doc_id % 5 = 2) AS canon_elsewhere,
        |  (doc_id % 5 = 3) AS soft404
        |FROM documents""".stripMargin)
  )

  /** Every query's Spark plan, by name. */
  val all: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.plan }

  /** Every query's DuckDB oracle SQL, by name (one per query). */
  val oracles: Map[String, String] = registry.map { case (name, q) => name -> q.oracle }
}
