package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** JSONL sink/source: the interchange contract is byte-lossless text and
  * pinned types — the properties an LLM corpus shipped as JSONL depends
  * on. Exercises the writer's escaping on hostile content (newlines,
  * quotes, tabs, unicode, backslashes) and the schema-pinned read-back
  * (no inference drift on all-null or integer-width-ambiguous columns).
  */
class JsonlSpec extends SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-jsonl-spec").toString

  test("hostile strings roundtrip byte-for-byte") {
    val nasty = Seq(
      "plain text",
      "embedded\nnewline and\r\ncrlf",
      "quotes \" and \\ backslashes \\\" mixed",
      "tabs\tand\u0000control\u0001chars\u001f",
      "unicode: é中文 😀 \u202e rtl",
      "trailing spaces   ",
      "{\"looks\":\"like json\"}",
      "")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    val rows = nasty.zipWithIndex.map { case (s, i) => Row(i.toLong, s) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val back = Ingest.roundtripJsonLines(df, tmpDir())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    nasty.zipWithIndex.foreach { case (s, i) =>
      assert(back(i.toLong) == s, s"row $i mutated through JSONL: ${back(i.toLong)}")
    }
  }

  test("schema is pinned through the roundtrip: nulls and integer widths survive") {
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("always_null", StringType, nullable = true),
      StructField("small", ShortType, nullable = true)))
    val rows = Seq(Row(1, null, 7.toShort), Row(2, null, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val back = Ingest.roundtripJsonLines(df, tmpDir())
    // JSON sources are inherently nullable on read (a missing key is legal
    // JSON), so compare names + types; nullability relaxation is expected.
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      schema.map(f => (f.name, f.dataType)),
      s"schema drifted: ${back.schema.treeString} vs ${schema.treeString}")
    val got = back.orderBy("id").collect()
    assert(got(0) == rows(0) && got(1) == rows(1))
  }
}
