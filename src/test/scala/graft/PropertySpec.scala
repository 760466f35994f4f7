package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants on randomized inputs (scalacheck generators,
  * fixed seeds for reproducibility): the upsert, the text-prep
  * expressions and the version diff must behave like their naive
  * specifications for any data.
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftTest.spark

  private val rowsGen: Gen[List[(Int, Int, Int)]] = Gen.listOfN(60,
    for {
      key <- Gen.choose(0, 9)
      ver <- Gen.choose(0, 5)
      payload <- Gen.choose(0, 1000)
    } yield (key, ver, payload))

  private def samples(n: Int): Seq[List[(Int, Int, Int)]] =
    (1 to n).flatMap(i => rowsGen.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("upsert keeps exactly one row per key, and it carries the max order column") {
    import spark.implicits._
    samples(4).foreach { rows =>
      val df = rows.toDF("k", "ver", "payload")
      val withTs = (d: org.apache.spark.sql.DataFrame) =>
        d.withColumn("ver_ts", col("ver").cast("timestamp"))
      val half = rows.length / 2
      val merged = ops.KrogerIngest.upsert(
        withTs(rows.take(half).toDF("k", "ver", "payload")),
        withTs(rows.drop(half).toDF("k", "ver", "payload")),
        Seq("k"), "ver_ts")
      val expectMax = df.groupBy("k").agg(max("ver").as("max_ver"))
      assert(merged.count() == merged.select("k").distinct().count())
      assert(merged.count() == expectMax.count())
      val bad = merged.join(expectMax, "k").filter(col("ver") =!= col("max_ver"))
      assert(bad.count() == 0)
    }
  }

  test("horner_hash equals the BigInt model for any string and modulus") {
    import spark.implicits._
    val strGen = Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
    val strs = (1 to 200).flatMap(i => strGen.apply(Gen.Parameters.default, Seed(i.toLong)))
    for (mod <- Seq(97L, 1000000007L, (1L << 58) - 1)) {
      val got = strs.toDF("s")
        .select(col("s"),
          functions.VectorFunctions.hornerHash(col("s"), mod).as("h"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      strs.foreach { s =>
        // exact model: no overflow possible in BigInt, mod at the end of
        // each step like the expression
        val expected = s.getBytes("UTF-8").foldLeft(BigInt(0)) { (h, b) =>
          (h * 31 + (b & 0xff)) % mod
        }.toLong
        assert(got(s) == expected, s"mod=$mod s=${s.take(20)}")
      }
    }
  }

  test("foldUtf8 matches the JVM String decoder on arbitrary bytes, malformed included") {
    // The decoder claims JVM replacement semantics (one U+FFFD per
    // maximal subpart) so the Catalyst byte path and the String twins
    // can never diverge — even on invalid UTF-8 from a BINARY-as-string
    // parquet column. Referee: new String(bytes, UTF_8) itself.
    val mod = 1000000007L
    def check(bytes: Array[Byte], label: String): Unit = {
      val viaString = functions.HornerHash.foldString(
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8), mod)
      val viaBytes = functions.HornerHash.foldUtf8(bytes, mod)
      assert(viaBytes == viaString,
        s"$label: ${bytes.map(b => f"${b & 0xff}%02x").mkString(" ")}")
    }
    // targeted malformed shapes (the ADVICE cases and their neighbors)
    Seq[Array[Int]](
      Array(0xc2, 0x41),             // 2-byte lead + non-continuation
      Array(0xc2),                   // truncated 2-byte tail
      Array(0xe0, 0x80, 0x80),       // overlong 3-byte
      Array(0xe1, 0x80),             // truncated 3-byte tail (valid prefix)
      Array(0xed, 0xa0, 0x80),       // surrogate encoding
      Array(0xf0, 0x8f, 0x80, 0x80), // overlong 4-byte
      Array(0xf4, 0x90, 0x80, 0x80), // > U+10FFFF
      Array(0xf1, 0x80, 0x80),       // truncated 4-byte tail
      Array(0xf1, 0x80),             // shorter truncation
      Array(0x80),                   // bare continuation
      Array(0xff, 0x41, 0xc0, 0xaf)  // invalid lead + overlong C0
    ).foreach(a => check(a.map(_.toByte), "targeted"))
    // randomized: valid UTF-8 fragments spliced with raw random bytes
    val rnd = new scala.util.Random(42)
    (1 to 300).foreach { _ =>
      val out = new scala.collection.mutable.ArrayBuffer[Byte]()
      (0 until rnd.nextInt(12)).foreach { _ =>
        if (rnd.nextBoolean()) {
          val cp = rnd.nextInt(0x110000) match {
            case c if c >= 0xd800 && c <= 0xdfff => 0x41
            case c => c
          }
          out ++= new String(Character.toChars(cp)).getBytes("UTF-8")
        } else out += rnd.nextInt(256).toByte
      }
      check(out.toArray, "random")
    }
  }

  test("simple_lower: expression == String twin == per-code-point model, incl. İ and Σ") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    def model(s: String): String = {
      val sb = new java.lang.StringBuilder
      s.codePoints().map(Character.toLowerCase).forEach(sb.appendCodePoint(_))
      sb.toString
    }
    // the divergent-by-design cases: DuckDB's utf8proc (verified: İ → i,
    // ΑΣ → ασ) vs the JVM FULL mapping (İ → i + U+0307, ΑΣ → ας)
    assert(functions.SimpleLower.lowerString("İstanbul") == "istanbul")
    assert(functions.SimpleLower.lowerString("ΑΣ") == "ασ")
    assert("İstanbul".toLowerCase(java.util.Locale.ROOT) != "istanbul",
      "JVM full mapping no longer diverges — re-evaluate whether SimpleLower is still needed")
    val rnd = new scala.util.Random(7)
    val strs = Seq("", "HeLLo WORLD", "İİ", "ΣΣ Σ",
      "ŉ ǅǄǆ ﬁ ß ẞ Ⱥ") ++ (1 to 200).map { _ =>
      val sb = new java.lang.StringBuilder
      (0 until rnd.nextInt(10)).foreach { _ =>
        val cp = rnd.nextInt(0x110000) match {
          case c if c >= 0xd800 && c <= 0xdfff => 0x5a
          case c => c
        }
        sb.appendCodePoint(cp)
      }
      sb.toString
    }
    strs.foreach { s =>
      val twin = functions.SimpleLower.lowerString(s)
      assert(twin == model(s), s"twin != model on ${s.take(20)}")
      assert(functions.SimpleLower.lower(UTF8String.fromString(s)).toString == twin,
        s"UTF8String path != twin on ${s.take(20)}")
    }
    // codegen path through a DataFrame
    val got = strs.toDF("s")
      .select(col("s"), functions.VectorFunctions.simpleLower(col("s")).as("l"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    strs.foreach(s => assert(got(s) == model(s), s"codegen != model on ${s.take(20)}"))
  }

  test("bpeMergeExpr == greedy model for any tokens, quotes/backslashes/unicode included") {
    import spark.implicits._
    // The merged-pair literals are embedded in generated SQL via sqlLit;
    // this pins (escaping × greedy non-overlap) for token alphabets the
    // corpus tests can't enumerate — quote, backslash, accents, CJK,
    // empty string — against a direct left-to-right reference model.
    def model(toks: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
          out += s"$a $b"; i += 2
        } else { out += toks(i); i += 1 }
      }
      out.toList
    }
    val tokGen = Gen.oneOf("a", "b", "l'été", "\\", "'", "''", "日本語", "é\\'x", "")
    val docGen = Gen.listOfN(8, tokGen)
    val docs: Seq[List[String]] =
      (1 to 40).flatMap(i => docGen.apply(Gen.Parameters.default, Seed(i.toLong)))
    // merge pairs drawn from actually-adjacent tokens so merges fire
    docs.zipWithIndex.foreach { case (toks, i) =>
      val (a, b) = if (toks.size >= 2) (toks(i % (toks.size - 1)), toks(i % (toks.size - 1) + 1))
        else ("a", "b")
      val got = Seq(Tuple1(toks))
        .toDF("toks")
        .withColumn("toks", ext.TextAnalysis.bpeMergeExpr(a, b))
        .head.getSeq[String](0).toList
      assert(got == model(toks, a, b),
        s"merge of ('$a','$b') over $toks: got $got, want ${model(toks, a, b)}")
    }
  }

  test("diff increments equal the naive set-algebra diff for any memberships") {
    import spark.implicits._
    // The streamed version-diff's status mapping against its naive
    // specification on arbitrary v1/v2 membership sets (the class of
    // bug this guards: a null flag off the left join silently nulling
    // 'added' into 'unchanged' through the shared diffStatus negation).
    val setGen = for {
      v1 <- Gen.listOf(Gen.choose(0L, 30L)).map(_.toSet)
      v2 <- Gen.listOf(Gen.choose(0L, 30L)).map(_.toSet)
    } yield (v1, v2)
    val cases = (1 to 6).flatMap(i =>
      setGen.apply(Gen.Parameters.default, Seed(i.toLong)))
    cases.foreach { case (v1, v2) =>
      val pool = (0L to 30L).toSeq
      val verdicts = pool.map(id => (id, if (v2(id)) 1L else 0L))
        .toDF("doc_id", "admitted")
      val v1Df = v1.toSeq.toDF("doc_id")
      val got = streaming.StreamOps.diffDocsIncrement(verdicts, v1Df)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = (v1 ++ v2).map { id =>
        id -> (if (!v2(id)) "removed" else if (!v1(id)) "added" else "unchanged")
      }.toMap
      assert(got == want,
        s"diff mismatch for v1=$v1 v2=$v2: got $got want $want")
    }
  }
}
