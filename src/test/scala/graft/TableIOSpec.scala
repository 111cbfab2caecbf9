package graft

import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{BucketedTableIO, ForkFreeLocalFileSystem, ParquetTableIO, TableIO}

/** Contract tests for the storage seam (SURVEY §7.1.9): these encode
  * the semantics production Iceberg provides, asserted against the
  * parquet emulation, so binding the seam to Iceberg
  * (`spark-submit --packages ...iceberg-spark-runtime`) is a config
  * change with no behavioral drift. Each test names the Iceberg
  * feature it emulates; the mapping table lives in SURVEY §7.1.9. */
class TableIOSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def fresh(): (TableIO, String) = {
    val dir = Files.createTempDirectory("tio").toString
    (new ParquetTableIO(dir), dir)
  }

  test("append is snapshot-additive: earlier files are never rewritten") {
    val (tio, dir) = fresh()
    tio.appendTable(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t")
    val firstFiles = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.length, f.lastModified)).toSet
    tio.appendTable(Seq((3L, "c")).toDF("id", "v"), "t")
    val afterFiles = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.length, f.lastModified)).toSet
    // Iceberg: an append commit adds data files; it never mutates
    // committed ones. The first snapshot's files must survive untouched.
    assert(firstFiles.subsetOf(afterFiles), "append rewrote committed files")
    assert(afterFiles.size > firstFiles.size)
    val got = tio.readTable(spark, "t").as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("append with a mismatched schema fails loudly (Iceberg schema enforcement)") {
    val (tio, _) = fresh()
    tio.appendTable(Seq((1L, "a")).toDF("id", "v"), "t")
    // extra column
    val e1 = intercept[IllegalArgumentException] {
      tio.appendTable(Seq((2L, "b", 0.5)).toDF("id", "v", "score"), "t")
    }
    assert(e1.getMessage.contains("column-set mismatch"))
    // same names, different type
    val e2 = intercept[IllegalArgumentException] {
      tio.appendTable(Seq((3, "c")).toDF("id", "v"), "t") // id: Int, not Long
    }
    assert(e2.getMessage.contains("type mismatch"))
    // Iceberg resolves by NAME: a reordered same-columns append is FINE
    tio.appendTable(Seq(("r", 4L)).toDF("v", "id").select($"v", $"id"), "t")
    assert(tio.readTable(spark, "t").count() == 2)
    // table untouched by the failed appends (1 original + 1 reordered)
    assert(tio.readTable(spark, "t").select("id", "v").as[(Long, String)]
      .collect().sortBy(_._1).toSeq == Seq((1L, "a"), (4L, "r")))
  }

  test("append nullability: nullable-into-required rejected, required-into-nullable ok") {
    val (tio, _) = fresh()
    import org.apache.spark.sql.types._
    val reqSchema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val req = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L))), reqSchema)
    val nul = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(2L))),
      StructType(Seq(StructField("id", LongType, nullable = true))))
    tio.appendTable(req, "treq")
    // parquet read-back may surface the column as nullable; only assert the
    // rejecting direction when the stored table really reads back required
    val storedRequired = !tio.readTable(spark, "treq").schema("id").nullable
    if (storedRequired) {
      val e = intercept[IllegalArgumentException] { tio.appendTable(nul, "treq") }
      assert(e.getMessage.contains("nullable append into required"))
    }
    tio.appendTable(nul, "tnul")
    tio.appendTable(req, "tnul") // required into nullable: accepted
    assert(tio.readTable(spark, "tnul").count() == 2)
  }

  test("overwritePartitions replaces only the partitions present in the frame") {
    val (tio, _) = fresh()
    tio.overwritePartitions(
      Seq(("p1", 1L), ("p1", 2L), ("p2", 10L), ("p3", 100L)).toDF("part", "v"),
      "t", "part")
    // Iceberg dynamic overwrite (REPLACE WHERE on partition values):
    // rewriting p1 must not touch p2/p3
    tio.overwritePartitions(Seq(("p1", 7L)).toDF("part", "v"), "t", "part")
    val rows = tio.readTable(spark, "t").select("part", "v").as[(String, Long)]
      .collect().sorted
    assert(rows.toSeq == Seq(("p1", 7L), ("p2", 10L), ("p3", 100L)))
  }

  test("partition predicates prune to the matching partition's files (manifest pruning)") {
    val (tio, _) = fresh()
    tio.overwritePartitions(
      (0L until 40L).map(i => (s"p${i % 4}", i)).toDF("part", "v"), "t", "part")
    val pruned = tio.readTable(spark, "t").filter(col("part") === "p1")
    // count() spawns a different QueryExecution whose metrics stay 0;
    // collect() the SAME frame and read the scan metric (CLAUDE.md)
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles >= 1, "no files scanned?")
    // all 4 partitions exist; the pruned scan must not read them all
    val all = tio.readTable(spark, "t")
    all.collect()
    val allScan = all.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(numFiles < allScan.metrics("numFiles").value,
      s"pruned scan read $numFiles of ${allScan.metrics("numFiles").value} files")
  }

  test("tableExists flips on first append and readTable round-trips types") {
    val (tio, _) = fresh()
    assert(!tio.tableExists(spark, "t"))
    val df = Seq((1L, 0.5, "x", java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("id", "score", "name", "ts")
    tio.appendTable(df, "t")
    assert(tio.tableExists(spark, "t"))
    val back = tio.readTable(spark, "t")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("append nullability holds at every nesting level: required nested fields append onto their own output") {
    val (tio, _) = fresh()
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def spans(required: Boolean) = StructType(Seq(StructField("spans", ArrayType(StructType(Seq(
      StructField("start", LongType, nullable = !required))), containsNull = !required))))
    def frame(schema: StructType, v: Long) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(Seq(Row(v))))), schema)
    tio.appendTable(frame(spans(required = true), 1L), "nested")
    tio.appendTable(frame(spans(required = true), 2L), "nested") // required into the stored nullable
    assert(tio.readTable(spark, "nested").count() == 2)
    // a different nested type is still rejected
    val other = StructType(Seq(StructField("spans", ArrayType(StructType(Seq(
      StructField("start", IntegerType)))))))
    val e = intercept[IllegalArgumentException] {
      tio.appendTable(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(Seq(Row(3))))), other), "nested")
    }
    assert(e.getMessage.contains("type mismatch on 'spans'"))
  }

  /** The commands of the processes the JVM starts while `body` runs, from
    * a JFR recording of `jdk.ProcessStart`. */
  private def processStarts(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    // Spark's process-tree metrics reader forks `getconf PAGESIZE` once per
    // JVM, when a heartbeat first polls executor metrics (10-20 s after the
    // context starts). Initialise it here so that fork cannot land in `body`.
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val dump = Files.createTempFile("process-starts", ".jfr")
    rec.start()
    try body
    finally {
      rec.stop()
      rec.dump(dump)
      rec.close()
    }
    try jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    finally Files.delete(dump)
  }

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every file and directory under `root`: its path (each write's job
    * uuid masked), whether it is a directory, and its mode. */
  private def listing(root: String): Set[(String, Boolean, Int)] = {
    import scala.jdk.CollectionConverters._
    val r = java.nio.file.Paths.get(root)
    val walk = Files.walk(r)
    try walk.iterator().asScala.map { p =>
      (r.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>"),
        Files.isDirectory(p), mode(p))
    }.toSet
    finally walk.close()
  }

  /** Manifest rows with every field shape: maps (one empty), timestamps, a null status. */
  private lazy val manifestRows = {
    import graft.model.ManifestRow
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00.123456")
    Seq(ManifestRow(3, 8, ts, "done", 2, 1, 1, 7L, Map("html" -> 1L, "pdf" -> 1L), Map("pdf_no_text" -> 1L), 10),
      ManifestRow(5, 8, null, null, 0, 0, 0, Long.MinValue, Map.empty, Map.empty, 0),
      ManifestRow(0, 8, ts, "done", Long.MaxValue, 3, 4, -1L, Map("image" -> 4L), Map("unsupported_media" -> 4L), 1))
  }

  test("a local write starts no process: overwrite, append and bucketed writes, plain and file: warehouses") {
    val frame = (0L until 160L).map(i => ((i % 16).toInt, i, s"v$i")).toDF("part_id", "id", "v")
    for (uri <- Seq(false, true)) {
      val dir = Files.createTempDirectory("tio-nofork").toString
      val wh = if (uri) s"file:$dir" else dir
      val tio = new ParquetTableIO(wh)
      tio.appendTable(frame, "appended")
      val starts = processStarts {
        tio.overwritePartitions(frame, "parts", "part_id")
        tio.appendTable(frame, "appended")
        BucketedTableIO.writeBucketed(frame, "tio_nofork_bucketed", wh, "id", 4)
        tio.appendRows(spark, manifestRows, "rows")
        tio.appendRows(spark, manifestRows, "rows")
      }
      assert(starts.isEmpty, s"uri=$uri: ${starts.size} processes, first: ${starts.take(3)}")
      assert(new java.io.File(s"$dir/parts").list().count(_.startsWith("part_id=")) == 16)
      assert(tio.readTable(spark, "appended").count() == 320)
      assert(spark.table("tio_nofork_bucketed").count() == 160)
      assert(tio.readTable(spark, "rows").count() == 2 * manifestRows.length)
      // the filesystem binding is per write: the catalog entry does not keep it
      val ddl = spark.sql("SHOW CREATE TABLE tio_nofork_bucketed").head().getString(0)
      assert(!ddl.contains("fs.file.impl"), ddl)
      spark.sql("DROP TABLE tio_nofork_bucketed")
    }
    // only a local warehouse binds the filesystem
    assert(ForkFreeLocalFileSystem.writeOptions(spark, "/x").keySet == Set("fs.file.impl", "fs.file.impl.disable.cache"))
    assert(ForkFreeLocalFileSystem.writeOptions(spark, "file:/x") == ForkFreeLocalFileSystem.writeOptions(spark, "/x"))
    assert(ForkFreeLocalFileSystem.writeOptions(spark, "hdfs://nn:8020/x").isEmpty)
    assert(ForkFreeLocalFileSystem.writeOptions(spark, "s3a://bucket/x").isEmpty)
  }

  test("the fork-free filesystem sets the same modes as Hadoop's chmod on twin files and directories") {
    val root = Files.createTempDirectory("tio-modes")
    val forkFree = new ForkFreeLocalFileSystem.Raw
    val stock = new RawLocalFileSystem // the oracle: forks chmod
    def twins(parent: JPath, name: String, dir: Boolean): (JPath, JPath) = {
      val (a, b) = (parent.resolve(s"$name-a"), parent.resolve(s"$name-b"))
      if (dir) { Files.createDirectory(a); Files.createDirectory(b) }
      else { Files.createFile(a); Files.createFile(b) }
      (a, b)
    }
    def set(fs: RawLocalFileSystem, p: JPath, m: Int): Unit = fs.setPermission(new Path(p.toUri), new FsPermission(m.toShort))
    val modes = Seq("600", "640", "644", "700", "750", "755", "777").map(oct)
    val oracleStarts = processStarts {
      for (dir <- Seq(false, true); m <- modes) {
        val (a, b) = twins(root, s"${if (dir) "d" else "f"}${m.toOctalString}", dir)
        assert(processStarts(set(forkFree, a, m)).isEmpty, s"${m.toOctalString} forked")
        set(stock, b, m)
        assert(mode(a) == m && mode(a) == mode(b), s"${m.toOctalString}: ${mode(a).toOctalString} vs ${mode(b).toOctalString}")
        assert(Files.getPosixFilePermissions(a) == Files.getPosixFilePermissions(b))
      }
    }
    assert(oracleStarts.count(_.contains("chmod")) >= 2 * modes.length, oracleStarts.take(3))
    // what the POSIX view cannot express takes Hadoop's path: a sticky bit,
    // and a directory's setgid bit, which chmod keeps
    val (sa, sb) = twins(root, "sticky", dir = true)
    assert(processStarts(set(forkFree, sa, oct("1777"))).exists(_.contains("chmod")))
    set(stock, sb, oct("1777"))
    assert(mode(sa) == oct("1777") && mode(sa) == mode(sb))
    val shared = Files.createDirectory(root.resolve("shared"))
    Files.setAttribute(shared, "unix:mode", oct("2755"))
    val (ga, gb) = twins(shared, "sub", dir = true)
    assert(processStarts(set(forkFree, ga, oct("755"))).exists(_.contains("chmod")))
    set(stock, gb, oct("755"))
    assert(mode(ga) == oct("2755") && mode(ga) == mode(gb))
  }

  test("a results write lists the same files and modes as a stock Hadoop write") {
    import graft.extract.ExtractJob
    val pages = graft.synth.Synth.pagesDs(spark, 120, seed = 11L, parallelism = 4).toDF()
      .withColumn("part_id", pmod(xxhash64(col("url")), lit(8)).cast("int"))
    val results = ExtractJob.resultsDf(pages, java.sql.Timestamp.valueOf("2023-09-05 00:00:00"), 8, 2)
    val (tio, dir) = fresh()
    tio.overwritePartitions(results, "results", "part_id")
    val stockDir = Files.createTempDirectory("tio-stock").toString
    results.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy("part_id")
      .parquet(s"$stockDir/results")
    val (got, want) = (listing(s"$dir/results"), listing(s"$stockDir/results"))
    assert(got == want, s"\nonly ours: ${(got -- want).toSeq.sorted}\nonly stock: ${(want -- got).toSeq.sorted}")
    assert(got.count { case (p, dir, _) => dir && p.startsWith("part_id=") } == 8)
    assert(got.exists(_._1.endsWith(".parquet.crc")))
  }

  /** A frame's rows as comparable values, binary as byte sequences, in a fixed order. */
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v }).sortBy(_.toString)

  test("a read starts no Spark job, and an append onto a table starts only its write") {
    val (tio, _) = fresh()
    val frame = (0L until 40L).map(i => ((i % 8).toInt, i, s"v$i")).toDF("part_id", "id", "v")
    tio.appendTable(frame, "plain")
    tio.overwritePartitions(frame, "parts", "part_id")
    assert(SparkTestBase.jobsDuring(tio.readTable(spark, "plain")).isEmpty)
    assert(SparkTestBase.jobsDuring(tio.readTable(spark, "parts")).isEmpty)
    val appendJobs = SparkTestBase.jobsDuring(tio.appendTable(frame, "plain"))
    assert(appendJobs.length == 1, appendJobs)
    assert(tio.readTable(spark, "plain").count() == 80)
  }

  test("a read's schema is the schema Spark infers, for every table shape TableIO writes") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.extract.ExtractJob
    import graft.model.ManifestRow
    val (tio, dir) = fresh()
    def check(name: String): Unit = {
      val got = tio.readTable(spark, name)
      val want = spark.read.parquet(s"$dir/$name")
      assert(got.schema == want.schema, s"$name:\n${got.schema.treeString}\n${want.schema.treeString}")
      assert(rows(got) == rows(want), name)
      // an append checks against the schema a read returns, without the read's listing
      assert(tio.asInstanceOf[ParquetTableIO].appendSchema(spark, name).contains(got.schema), name)
    }
    tio.appendTable(Seq((1L, 0.5, "x", true)).toDF("id", "score", "name", "flag"), "plain")
    check("plain")
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    tio.appendTable(Seq((ts, java.time.LocalDateTime.of(2026, 1, 2, 3, 4), java.sql.Date.valueOf("2026-01-03"),
      BigDecimal("1.25"))).toDF("ts", "ntz", "day", "amount"), "times")
    check("times")
    val pages = graft.synth.Synth.pagesDs(spark, 60, seed = 5L, parallelism = 2).toDF()
      .withColumn("part_id", pmod(xxhash64(col("url")), lit(8)).cast("int"))
    tio.overwritePartitions(ExtractJob.resultsDf(pages, ts, 8, 2), "results", "part_id")
    assert(tio.readTable(spark, "results").schema.fieldNames.contains("spans"))
    check("results")
    tio.appendTable(Seq(ManifestRow(3, 8, ts, "done", 2, 1, 1, 7L, Map("text/html" -> 2L), Map("pdf" -> 1L), 10))
      .toDS().toDF(), "manifest")
    check("manifest")
    val required = StructType(Seq(StructField("id", LongType, nullable = false), StructField("spans", ArrayType(
      StructType(Seq(StructField("start", LongType, nullable = false))), containsNull = false), nullable = false)))
    tio.appendTable(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L, Seq(Row(2L))))), required),
      "required")
    check("required")
  }

  test("a parquet file without Spark's schema metadata reads as spark.read.parquet reads it") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val (tio, dir) = fresh()
    val schema = MessageTypeParser.parseMessageType(
      """message doc {
        |  required int64 id;
        |  optional binary name (UTF8);
        |  optional binary raw;
        |  optional int96 legacy_ts;
        |  optional int64 micros (TIMESTAMP(MICROS,false));
        |  optional int64 utc (TIMESTAMP(MILLIS,true));
        |  optional int32 day (DATE);
        |  optional group tags (LIST) { repeated group list { optional binary element (UTF8); } }
        |}""".stripMargin)
    val groups = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/bare/part-0.parquet")).withType(schema).build()
    try for (i <- 0 until 3) {
      val g = groups.newGroup().append("id", i.toLong).append("name", s"n$i").append("raw", s"r$i")
        .append("micros", 1700000000000000L + i).append("utc", 1700000000000L + i).append("day", 19000 + i)
      g.addGroup("tags").addGroup("list").append("element", s"t$i")
      writer.write(g)
    } finally writer.close()
    val got = tio.readTable(spark, "bare")
    val want = spark.read.parquet(s"$dir/bare")
    assert(got.schema == want.schema, s"\n${got.schema.treeString}\n${want.schema.treeString}")
    assert(tio.asInstanceOf[ParquetTableIO].appendSchema(spark, "bare").contains(got.schema))
    assert(rows(got) == rows(want))
  }

  test("a directory with no data file reads and fails as spark.read.parquet does") {
    val (tio, dir) = fresh()
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/empty/_temporary"))
    Files.createFile(java.nio.file.Paths.get(s"$dir/empty/_SUCCESS"))
    val got = intercept[Exception](tio.readTable(spark, "empty"))
    val want = intercept[Exception](spark.read.parquet(s"$dir/empty"))
    assert(got.getClass == want.getClass && got.getMessage == want.getMessage, got)
    val missing = intercept[Exception](tio.readTable(spark, "missing"))
    assert(missing.getMessage == intercept[Exception](spark.read.parquet(s"$dir/missing")).getMessage, missing)
  }

  /** The visible parquet files of `dir`. */
  private def parquetFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten.filter(n => !n.startsWith(".") && n.endsWith(".parquet")).sorted

  test("appendRows writes what appendTable writes, as one file, and starts no Spark job") {
    import graft.model.ManifestRow
    val (tio, dir) = fresh()
    tio.appendTable(manifestRows.toDS().coalesce(1).toDF(), "by_frame")
    assert(SparkTestBase.jobsDuring(tio.appendRows(spark, manifestRows, "by_rows")).isEmpty)
    val (byFrame, byRows) = (tio.readTable(spark, "by_frame"), tio.readTable(spark, "by_rows"))
    assert(byRows.schema == byFrame.schema, s"\n${byRows.schema.treeString}\n${byFrame.schema.treeString}")
    assert(rows(byRows) == rows(byFrame))
    assert(byRows.as[ManifestRow].collect().sortBy(_.part_id).toSeq == manifestRows.sortBy(_.part_id))
    assert(rows(spark.read.parquet(s"$dir/by_rows")) == rows(byFrame))
    // one visible data file, named as a Spark write names it, with its checksum
    val files = parquetFiles(s"$dir/by_rows")
    assert(files.length == 1 && files.head.matches("part-00000-[0-9a-f-]{36}-c000\\.snappy\\.parquet"), files)
    assert(new java.io.File(s"$dir/by_rows").list().toSet == Set(files.head, s".${files.head}.crc"))
    assert(mode(java.nio.file.Paths.get(s"$dir/by_rows/${files.head}")) ==
      mode(java.nio.file.Paths.get(s"$dir/by_frame/${parquetFiles(s"$dir/by_frame").head}")))
    // a second commit adds one file; no rows, no file
    tio.appendRows(spark, manifestRows.take(1), "by_rows")
    tio.appendRows(spark, Seq.empty[ManifestRow], "by_rows")
    tio.appendRows(spark, Seq.empty[ManifestRow], "never")
    assert(parquetFiles(s"$dir/by_rows").length == 2 && !tio.tableExists(spark, "never"))
    assert(tio.readTable(spark, "by_rows").count() == manifestRows.length + 1)
  }

  test("appendRows refuses a mismatched schema with appendTable's message") {
    val (tio, dir) = fresh()
    tio.appendTable(Seq((1L, "a")).toDF("id", "v"), "t")
    def refused(rows: => Unit, frame: => Unit): Unit = {
      val (got, want) = (intercept[IllegalArgumentException](rows), intercept[IllegalArgumentException](frame))
      assert(got.getMessage == want.getMessage)
    }
    import TableIOSpec._
    refused(tio.appendRows(spark, Seq(IdVScore(2L, "b", 0.5)), "t"), tio.appendTable(Seq(IdVScore(2L, "b", 0.5)).toDF(), "t"))
    refused(tio.appendRows(spark, Seq(IdIntV(2, "b")), "t"), tio.appendTable(Seq(IdIntV(2, "b")).toDF(), "t"))
    val names = intercept[IllegalArgumentException](tio.appendRows(spark, Seq((2L, "b")), "t"))
    assert(names.getMessage.contains("appendTable(t): column-set mismatch"), names.getMessage)
    val types = intercept[IllegalArgumentException](tio.appendRows(spark, Seq(IdIntV(2, "b")), "t"))
    assert(types.getMessage.contains("type mismatch on 'id'"), types.getMessage)
    // by name, as appendTable resolves it: a case class with the same columns appends
    tio.appendRows(spark, Seq(IdV("r", 4L)), "t")
    assert(parquetFiles(s"$dir/t").length == 2)
    assert(tio.readTable(spark, "t").select("id", "v").as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (4L, "r")))
  }

  test("a commit cut short before its rename leaves only a hidden file, which no reader lists") {
    val (tio, dir) = fresh()
    val cut = new CutShortCommits(dir) // the rows run out with an exception once the writer has written them
    // the first commit of a table: it does not exist afterwards
    assert(intercept[java.io.IOException](cut.appendRows(spark, manifestRows, "m")).getMessage == "cut short")
    val leftover = new java.io.File(s"$dir/m").list().toSeq
    assert(leftover.nonEmpty && leftover.forall(_.startsWith(".")) && leftover.exists(_.endsWith(".parquet")), leftover)
    assert(!tio.tableExists(spark, "m"))
    // the hidden file holds every row (read under a visible name), and readers still skip it
    val copy = Files.createTempDirectory("tio-leftover")
    Files.copy(java.nio.file.Paths.get(s"$dir/m/${leftover.filter(_.endsWith(".parquet")).head}"), copy.resolve("m.parquet"))
    assert(spark.read.parquet(copy.toString).count() == manifestRows.length)
    // a later commit: readers see the committed rows only
    tio.appendRows(spark, manifestRows.take(1), "m")
    intercept[java.io.IOException](cut.appendRows(spark, manifestRows, "m"))
    assert(parquetFiles(s"$dir/m").length == 1)
    assert(new java.io.File(s"$dir/m").list().count(n => n.startsWith(".") && n.endsWith(".parquet")) == 2)
    assert(rows(tio.readTable(spark, "m")) == rows(manifestRows.take(1).toDS().toDF()))
    assert(rows(spark.read.parquet(s"$dir/m")) == rows(manifestRows.take(1).toDS().toDF()))
  }
}

object TableIOSpec {
  final case class IdV(v: String, id: Long)
  final case class IdIntV(id: Int, v: String)
  final case class IdVScore(id: Long, v: String, score: Double)
}
