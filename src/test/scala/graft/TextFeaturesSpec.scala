package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFeatures

class TextFeaturesSpec extends SparkSpec {
  import spark.implicits._

  test("charHash matches the cross-engine polynomial fold (abc -> 96354)") {
    // ((0*31+97)%M*31+98)%M*31+99 % M = 96354 — the value the DuckDB
    // oracle computes for 'abc'; empty string hashes to 0.
    val out = Seq("abc", "").toDF("s")
      .select(TextFeatures.charHash($"s").as("h")).as[Long].collect().toSeq
    assert(out == Seq(96354L, 0L))
  }

  test("shingles: n-gram windows, under-n input yields empty (not reversed sequence)") {
    val out = Seq("a b c d", "a b").toDF("s")
      .select(TextFeatures.shingles(TextFeatures.tokens($"s"), 3).as("sh"))
      .as[Seq[String]].collect().toSeq
    assert(out == Seq(Seq("a b c", "b c d"), Seq.empty))
  }

  test("minhash signature: identical docs identical, length k, stable") {
    val df = Seq("x y z w v", "x y z w v", "q r s t u").toDF("s")
      .select(TextFeatures.minhashSignature(
        TextFeatures.shingleHashes(
          TextFeatures.shingles(TextFeatures.tokens($"s"), 3)), 16).as("sig"))
    val sigs = df.as[Seq[Long]].collect()
    assert(sigs(0).length == 16)
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("simhash is tf-weighted and deterministic") {
    val out = Seq("a a a b", "a b b b", "a a a b").toDF("s")
      .select(TextFeatures.simhash(TextFeatures.tokens($"s"), 30).as("h"))
      .as[Long].collect()
    assert(out(0) == out(2))
    // tf-weighting must distinguish same token SET, different counts
    assert(out(0) != out(1))
  }

  test("soundexCode: canonical vectors, H/W vs vowel separation, empty reads null, builtin agreement") {
    import graft.functions.TextAnalysis
    import org.apache.spark.sql.functions.{col, soundex}
    val vectors = Seq(
      "Robert" -> "R163", "Rupert" -> "R163",   // same code, different spelling
      "Ashcraft" -> "A261",                     // s-c separated by h: MERGE
      "Tymczak" -> "T522",                      // c-z separated by vowel: KEEP both
      "Pfister" -> "P236",                      // leading same-code pair collapses
      "Honeyman" -> "H555",                     // H first letter is kept verbatim
      "Gutierrez" -> "G362", "Jackson" -> "J250",
      "a" -> "A000", "r2-d2" -> "R300")         // short pad; digits stripped
    val got = vectors.map(_._1).toDF("name")
      .select(col("name"), TextAnalysis.soundexCode(col("name")).as("code"),
        soundex(col("name")).as("builtin"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    vectors.foreach { case (name, exp) =>
      assert(got(name)._1 == exp, s"$name: got ${got(name)._1}")
    }
    // the pipeline IS the classic algorithm: Spark's commons-codec
    // builtin lands on the same bytes for every alphabetic vector
    vectors.map(_._1).filter(_.forall(_.isLetter)).foreach { name =>
      assert(got(name)._1 == got(name)._2, s"builtin disagrees on $name")
    }
    // nothing to encode -> null, loudly visible to the caller
    val empty = Seq("", "42", "  ").toDF("name")
      .select(TextAnalysis.soundexCode(col("name")).as("code"))
      .collect().map(r => r.isNullAt(0))
    assert(empty.forall(identity))
  }
}
