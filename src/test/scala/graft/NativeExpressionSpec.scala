package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.extract.{ExtractJob, Extractor}
import graft.ops.Dedup

/** The two native kernels have one path: `ExtractJob.extractedDf` and
  * `Dedup.polyHash` build their Catalyst expressions straight into the
  * plan, so a session whose function registry names neither plans them
  * the same way (inside whole-stage codegen, no ScalaUDF) and yields the
  * kernels' own bytes. */
class NativeExpressionSpec extends AnyFunSuite {

  /** A session of the shared context whose registry holds neither
    * `graft_extract` nor `graft_polyhash`. */
  private lazy val bare: SparkSession = {
    val s = SparkTestBase.spark.newSession()
    val registry = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.functionRegistry
    Seq("graft_extract", "graft_polyhash").foreach(f => registry.dropFunction(FunctionIdentifier(f)))
    s
  }

  /** `name` is planned on a line of a whole-stage codegen stage (`*(n)`),
    * and nothing in the plan is a ScalaUDF. */
  private def assertNativeInCodegen(df: DataFrame, name: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF("), plan)
    assert(plan.linesIterator.exists(l => l.contains(name) && l.trim.startsWith("*(")), plan)
  }

  test("a session that names neither function still plans both natively, with the kernels' bytes") {
    assert(!bare.catalog.functionExists("graft_extract") && !bare.catalog.functionExists("graft_polyhash"))
    // a parquet scan, not a local relation: Catalyst would evaluate the
    // projection over local rows at plan time
    val dir = SparkTestBase.tempDir("native_pages")
    graft.synth.Synth.pagesDs(bare, 60L, seed = 7L).write.mode("overwrite").parquet(dir)
    val pages = bare.read.parquet(dir)

    val extracted = ExtractJob.extractedDf(pages).select(col("url"), col("extracted"))
    assertNativeInCodegen(extracted, "graft_extract")
    val extractUdf = udf((url: String, payload: Array[Byte]) => Extractor.extract(url, payload))
    val viaUdf = pages.select(col("url"), extractUdf(col("url"), col("html")).as("extracted"))
    def byUrl(df: DataFrame) = df.collect().map(r => r.getString(0) -> r.getStruct(1)).toMap
    val (got, want) = (byUrl(extracted), byUrl(viaUdf))
    assert(got.size == 60 && got.keySet == want.keySet)
    assert(want.values.exists(_.getString(0) == "ok"))
    want.foreach { case (url, row) => assert(got(url) == row, url) }

    val hashed = pages.select(col("url"), Dedup.polyHash(col("url")).as("h"))
    assertNativeInCodegen(hashed, "graft_polyhash")
    val hashes = hashed.collect()
    assert(hashes.length == 60)
    hashes.foreach(r => assert(r.getLong(1) == Dedup.polyHash(r.getString(0)), r))
  }
}
