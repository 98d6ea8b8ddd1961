package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._
  import TextFunctions._

  private def one(text: String) = Seq(text).toDF("t")

  test("tokens lowercases, splits on whitespace runs, drops empties") {
    val r = one("  The QUICK  brown\tfox ").select(tokens($"t")).first().getSeq[String](0)
    assert(r == Seq("the", "quick", "brown", "fox"))
  }

  test("tokenCount and stopwordCount") {
    val df = one("the cat sat on the mat")
    assert(df.select(tokenCount($"t")).first().getInt(0) == 6)
    assert(df.select(stopwordCount($"t")).first().getInt(0) == 3) // the, on, the
  }

  test("punctRatio handles empty and punctuated text") {
    assert(one("").select(punctRatio($"t")).first().getDouble(0) == 0.0)
    val r = one("a.b!c?").select(punctRatio($"t")).first().getDouble(0)
    assert(math.abs(r - 0.5) < 1e-9)
  }

  test("langId picks the language with most marker hits") {
    assert(one("the cat and the dog is here").select(langId($"t")).first().getString(0) == "en")
    assert(one("el gato y la casa de que").select(langId($"t")).first().getString(0) == "es")
    assert(one("xyzzy plugh").select(langId($"t")).first().getString(0) == "und")
  }

  test("rollingFingerprint is deterministic and content-sensitive") {
    val df = Seq("abc", "abc", "abd").toDF("t")
      .select(rollingFingerprint($"t").as("f"))
    val fs = df.collect().map(_.getLong(0))
    assert(fs(0) == fs(1))
    assert(fs(0) != fs(2))
    assert(fs.forall(f => f >= 0 && f < 1000000007L))
  }

  test("wordNgrams + jaccard") {
    val df = Seq(("a b c d", "a b c d"), ("a b c d", "x y z w")).toDF("l", "r")
      .select(jaccard(wordNgrams($"l", 2), wordNgrams($"r", 2)).as("j"))
    val js = df.collect().map(_.getDouble(0))
    assert(js(0) == 1.0)
    assert(js(1) == 0.0)
  }

  test("subwordCount splits at punctuation boundaries") {
    val n = one("don't stop-me now").select(subwordCount($"t")).first().getInt(0)
    assert(n == 7) // don ' t stop - me now
  }

  test("portableSimhash32: deterministic, 32-bit, and hamming tracks token overlap") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",      // base
      "the quick brown fox jumps over the lazy cat",      // 1 token differs
      "entirely disjoint vocabulary with other words here" // no overlap
    ).toDF("t").select(portableSimhash32($"t").as("h"))
    val hs = df.collect().map(_.getLong(0))
    assert(hs.forall(h => h >= 0 && h < (1L << 32)), s"not 32-bit: ${hs.toSeq}")
    assert(hs(0) == one("the quick brown fox jumps over the lazy dog")
      .select(portableSimhash32($"t")).first().getLong(0), "not deterministic")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(0), hs(1)) < ham(hs(0), hs(2)),
      s"near-dup hamming ${ham(hs(0), hs(1))} !< disjoint ${ham(hs(0), hs(2))}")
  }

  test("code-point fold matches the oracle's unicode() walk beyond the BMP") {
    // Reference model of the DuckDB oracle side: string_split(s,'') walks
    // CODE POINTS and unicode(c) yields the code point value — fold those.
    val M = 1000000007L
    def refFold(s: String): Long =
      s.codePoints.toArray.foldLeft(0L)((acc, cp) => (acc * 31 + cp) % M)
    def refTokenHashes(s: String): Seq[Long] =
      s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq.map(refFold)
    def refSimhash(s: String): Long = {
      val lanes = (1 to 32).map(j => Math.floorMod(2654435761L * j, M))
      val votes = Array.fill(32)(0L)
      for (h <- refTokenHashes(s); (p, j) <- lanes.zipWithIndex)
        votes(j) += (if (h * p % M >= 500000004L) 1L else -1L)
      votes.foldLeft(0L)((acc, v) => acc * 2 + (if (v > 0) 1L else 0L))
    }
    // supplementary-plane fixtures: emoji (U+1F600), CJK ext-B
    // (U+20000), Deseret (U+10400), mixed with BMP text and accents
    val fixtures = Seq(
      "hello 😀 world",
      "𠀀𠀁 text mixed 𐐀",
      "pure bmp text stays identical",
      "café résumé 中文",
      "😀😁😂",
      "")
    val got = fixtures.toDF("t")
      .select(rollingFingerprint($"t").as("fp"), portableSimhash32($"t").as("sh"))
      .collect()
    fixtures.zip(got).foreach { case (s, r) =>
      assert(r.getLong(0) == refFold(s),
        s"fingerprint diverges from code-point walk on '$s': ${r.getLong(0)} != ${refFold(s)}")
      assert(r.getLong(1) == refSimhash(s),
        s"simhash diverges from code-point walk on '$s': ${r.getLong(1)} != ${refSimhash(s)}")
    }
  }
}
