package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpecBase {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column) =
    spark.range(1).select(c)

  test("tokens lowercases and splits on non-alphanumerics") {
    val t = one(TextFunctions.tokens(lit("Hello, World! x2")).as("t"))
      .as[Seq[String]].head()
    assert(t === Seq("hello", "world", "x2"))
  }

  test("tokenCount and whitespaceTokenCount") {
    assert(one(TextFunctions.tokenCount(lit("a b-c d"))).as[Int].head() === 4)
    assert(one(TextFunctions.whitespaceTokenCount(lit("a b-c d"))).as[Int].head() === 3)
  }

  test("englishScore and langId classify marker-heavy text as en") {
    val en = one(TextFunctions.langId(lit("the cat sat on the mat and it was happy")))
      .as[String].head()
    assert(en === "en")
    val other = one(TextFunctions.langId(lit("zzz qqq www rrr ttt yyy")))
      .as[String].head()
    assert(other === "other")
    // empty text → score 0, 'other'
    assert(one(TextFunctions.englishScore(TextFunctions.tokens(lit(""))))
      .as[Double].head() === 0.0)
  }

  test("alphaRatio counts only [a-z ] characters") {
    val r = one(TextFunctions.alphaRatio(lit("ab12"))).as[Double].head()
    assert(r === 0.5)
  }

  test("meanTokenLen averages token character lengths") {
    val m = one(TextFunctions.meanTokenLen(lit("ab abcd"))).as[Double].head()
    assert(m === 3.0)
  }

  test("fingerprint is canonical: case/punctuation-insensitive, content-sensitive") {
    val fps = Seq("The Quick Fox!", "the quick fox", "the quick cat")
      .toDF("t").select(TextFunctions.fingerprint($"t")).as[String].collect()
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("bigrams, dupFraction, topFrequencyFraction: repetition signals") {
    // "a b a b a b" → bigrams: [a b, b a, a b, b a, a b] (5 total,
    // 2 distinct, top "a b" ×3)
    val row = Seq("a b a b a b").toDF("t").select(
      TextFunctions.bigrams($"t").as("bg"),
      TextFunctions.dupFraction(TextFunctions.tokens($"t")).as("dt"),
      TextFunctions.dupFraction(TextFunctions.bigrams($"t")).as("db"),
      TextFunctions.topFrequencyFraction(TextFunctions.bigrams($"t")).as("top"))
      .head()
    assert(row.getAs[Seq[String]]("bg") === Seq("a b", "b a", "a b", "b a", "a b"))
    assert(row.getAs[Double]("dt") === 4.0 / 6.0)   // 6 tokens, 2 distinct
    assert(row.getAs[Double]("db") === 3.0 / 5.0)   // 5 bigrams, 2 distinct
    assert(row.getAs[Double]("top") === 3.0 / 5.0)  // "a b" appears 3×
    // no repetition → all zeros; degenerate inputs don't divide by zero
    val clean = Seq("w x y z", "solo", "").toDF("t").select(
      TextFunctions.dupFraction(TextFunctions.bigrams($"t")).as("db"),
      TextFunctions.topFrequencyFraction(TextFunctions.bigrams($"t")).as("top"))
      .collect()
    assert(clean(0).getDouble(0) === 0.0)
    assert(clean(0).getDouble(1) === 1.0 / 3.0)     // 3 bigrams all unique
    assert(clean(1).getDouble(0) === 0.0)
    assert(clean(1).getDouble(1) === 0.0)           // no bigrams at all
    assert(clean(2).getDouble(1) === 0.0)
  }

  test("dedupLinesInDoc: first occurrence wins, order preserved, null-safe") {
    val r = TextFunctions.dedupLinesInDoc($"t", "\n")
    val out = Seq(
      "a\nb\na\nc\nb",          // repeats of a and b drop
      "x\nx\nx",                 // collapses to one line
      "only",                    // identity
      null.asInstanceOf[String], // null → empty, nothing removed
      "a\n\nb\n\na"              // blank lines are EXEMPT (paragraph breaks)
    ).toDF("t")
      .select(r.getField("clean_text"), r.getField("n_removed"))
      .as[(String, Long)].collect()
    assert(out === Array(
      ("a\nb\nc", 2L), ("x", 2L), ("only", 0L), ("", 0L),
      // [a, '', b, '', a]: both blanks kept (under minLineLen),
      // only the second a drops — paragraph structure survives
      ("a\n\nb\n", 1L)), s"got ${out.mkString("; ")}")
  }

  test("stripHtml: tags stripped, script/style content dropped, entities decoded once") {
    val cases = Seq(
      // tags go, text survives, whitespace collapses
      ("<p>hello <b>bold</b>\n  world</p>", "hello bold world"),
      // script/style CONTENT is removed, not just the tags
      ("<style>p{color:red}</style>keep<script>var x = 1 < 2;</script>me",
        "keep me"),
      // multi-line script block ((?s) engaged)
      ("a<script>\nline1\nline2\n</script>b", "a b"),
      // entities decode exactly once: &amp;lt; → &lt;, never <
      ("&quot;q&quot; &amp; &lt;tag&gt; &#39;s&#39;&nbsp;end &amp;lt;",
        "\"q\" & <tag> 's' end &lt;"),
      // decoded angle brackets are NOT re-stripped as tags
      ("&lt;notatag&gt;", "<notatag>"),
      ("plain text stays", "plain text stays"),
      ("", ""))
    val out = cases.map(_._1).toDF("t")
      .select(TextFunctions.stripHtml($"t").as("c")).as[String].collect()
    out.zip(cases).foreach { case (got, (in, want)) =>
      assert(got === want, s"input: $in") }
  }

  test("stripHtml: adversarial inputs never throw, output whitespace is always collapsed") {
    val rnd = new scala.util.Random(23)
    val alphabet = "<>&;/abq\"' \t\n=#xscript style".toCharArray
    val adversarial = Seq(
      "<script>" + ("a" * 10000),                  // unclosed script block
      "<" * 5000,                                   // tag-open spam
      "&amp;" * 3000,                               // entity runs
      "<script><script></script>",                  // nested open
      "<style>a</script></style>",                  // mismatched close
      "< p >loose<  /p >",                          // spaced brackets
      "&#39;&#39;&nbsp;&nbsp;",                     // entity-only doc
      ("<p>x</p>\n" * 2000)                         // many small tags
    ) ++ (1 to 50).map(_ =>
      (1 to 500).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val out = adversarial.toDF("t")
      .select(TextFunctions.stripHtml($"t").as("c")).as[String].collect()
    out.foreach { s =>
      assert(!s.exists(c => c == '\n' || c == '\t'), s"raw whitespace survived: $s")
      assert(!s.contains("  "), s"uncollapsed spaces: $s")
      assert(s == s.trim, s"untrimmed: '$s'")
    }
  }

  test("pretokens: contractions split, punctuation runs survive as tokens") {
    val cases = Seq(
      ("Don't stop", Seq("don", "'t", "stop")),
      ("hello, world!!", Seq("hello", ",", "world", "!!")),
      ("x2 3.14", Seq("x", "2", "3", ".", "14")),
      ("'quoted'", Seq("'", "quoted", "'")),
      ("I'll we've they'd", Seq("i", "'ll", "we", "'ve", "they", "'d")),
      ("", Seq.empty[String]))
    val out = cases.map(_._1).toDF("t")
      .select(TextFunctions.pretokens($"t").as("p")).as[Seq[String]].collect()
    out.zip(cases).foreach { case (got, (in, want)) =>
      assert(got === want, s"input: $in") }
    // the three counters order sensibly on punctuation-heavy text
    val (np, na, nw) = Seq("a,b,c d").toDF("t").select(
      TextFunctions.pretokenCount($"t"),
      TextFunctions.tokenCount($"t"),
      TextFunctions.whitespaceTokenCount($"t"))
      .as[(Int, Int, Int)].head()
    assert(np === 6 && na === 4 && nw === 2) // a , b , c d
  }

  test("dedupLinesInDoc: doubling a repeat-free doc restores it exactly") {
    val docs = Seq("alpha\nbeta\ngamma").toDF("t")
      .select(concat($"t", lit("\n"), $"t").as("t"))
    val r = TextFunctions.dedupLinesInDoc($"t", "\n")
    val out = docs.select(r.getField("clean_text"), r.getField("n_removed"))
      .as[(String, Long)].collect()
    assert(out === Array(("alpha\nbeta\ngamma", 3L)))
  }
}
