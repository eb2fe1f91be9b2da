package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.RegexCaptures
import graft.pipeline.LogPipeline

/** The mandatory-literal guard added to [[RegexCaptures]] in round 6 must
  * be *invisible*: it may only skip the regex engine on lines where the
  * engine was guaranteed to fail. These tests pin (a) the derivation on
  * the real pattern bank + adversarial regex shapes, and (b) full parity
  * of guarded extraction against a bare java.util.regex run over matching,
  * near-matching (literal present, regex fails) and non-matching lines. */
class RegexGuardSpec extends SparkSpec {
  import spark.implicits._

  private def lit(p: String): Option[String] = RegexCaptures.requiredLiteral(p)

  test("derivation on the pipeline pattern bank") {
    assert(lit(LogPipeline.ingestRegex) === Some("]: sequence "))
    assert(lit(LogPipeline.bulkRegex) === Some("]: batch "))
    assert(lit(LogPipeline.auditRegex) === Some("AUDIT|"))
  }

  test("derivation is conservative on unsure shapes") {
    // top-level alternation: nothing mandatory
    assert(lit("foo|bar") === None)
    // inline flags could make literal case non-mandatory
    assert(lit("(?i)INGEST payload") === None)
    assert(lit("(?i:x) literally") === None)
    // optional literals must not be used
    assert(lit("abc(xyz)?") === Some("abc"))
    assert(lit("ab?curious") === Some("curious"))
    assert(lit("star*dust") === Some("dust")) // 'r' optional under *
    assert(lit("plus+ses") === Some("plus")) // x+ keeps x, breaks the run
    assert(lit("rep{0,3}eat") === Some("eat"))
    // classes and escapes
    assert(lit("dur (doc-\\d+) took (\\d+:\\d+:\\d+)") === Some(" took "))
    assert(lit("connection from ([0-9.]+) \\((.+)?\\) at x") ===
      Some("connection from "))
    // non-capturing groups are fine to skip over
    assert(lit("(?:a|b) preamble body") === Some(" preamble body"))
    // alternation inside a group does not poison top-level literals
    assert(lit("^(STANDARD|PROMO)$") === None) // no top-level run at all
    // short runs are not worth a scan
    assert(lit("ab(\\d+)cd") === None)
    // escaped literal runs (\[ etc.) participate
    assert(lit("x ingest\\[(\\d+)\\]: y") === Some("x ingest["))
    // escapes with operands (hex, unicode, octal, control) are not
    // literal runs; nested classes and intersections move the closing ]
    Seq("\\x41bcd", "\\u0041bcd", "\\0101bcd", "\\cAxyz1",
      "[a[b]]cde", "[a-z&&[^aeiou]]xyz").foreach { p =>
      assert(lit(p) === None, p)
    }
    // a quantifier after a surrogate pair applies to the whole code point
    assert(lit("xy😀?abc") === Some("abc"))
  }

  test("property: a derived guard is contained in every string the regex finds") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // (regex fragment, a string it matches) from one small grammar:
    // literals, punctuation escapes, escapes with and without operands,
    // classes (nested and intersected), groups, alternation, quantifiers
    val atom: Gen[(String, String)] = Gen.frequency(
      6 -> Gen.oneOf("a", "b", "c", "x", "y", "z", " ", ":", "-", "]", "}", "😀")
        .map(l => (l, l)),
      2 -> Gen.oneOf("[", "]", ".", "(", ")", "{", "}", "|", "*", "+", "?", "$", "^", "\\", "-")
        .map(p => ("\\" + p, p)),
      1 -> Gen.oneOf("\\x61" -> "a", "\\u0062" -> "b", "\\0143" -> "c",
        "\\cA" -> "\u0001", "\\x{79}" -> "y", "\\Q]x\\E" -> "]x", "\\Q)(\\E" -> ")(",
        "\\p{Lower}" -> "m", "\\d" -> "7", "\\s" -> " ", "\\w" -> "q", "\\t" -> "\t"),
      1 -> Gen.oneOf("[abc]" -> "b", "[^a]" -> "z", "[a-c]" -> "c", "[]a]" -> "]",
        "[a[bx]]" -> "x", "[a-z&&[^aeiou]]" -> "k", "[\\]x]" -> "]", "[\\x61y]" -> "a"))
    val quantifier: Gen[(String, Int)] = Gen.frequency(
      8 -> Gen.const("" -> 1),
      1 -> Gen.oneOf("?" -> 0, "?" -> 1, "*" -> 0, "*" -> 2, "+" -> 1,
        "+?" -> 2, "{1,2}" -> 2, "{0}" -> 0, "++" -> 1))
    def quantified(d: Int): Gen[(String, String)] = for {
      (r, w) <- if (d > 0) Gen.frequency(6 -> atom, 1 -> group(d - 1)) else atom
      (q, n) <- quantifier
    } yield (r + q, w * n)
    def seq(d: Int): Gen[(String, String)] =
      Gen.choose(1, 8).flatMap(Gen.listOfN(_, quantified(d)))
        .map(xs => (xs.map(_._1).mkString, xs.map(_._2).mkString))
    def group(d: Int): Gen[(String, String)] = for {
      open <- Gen.oneOf("(", "(?:")
      (a, wa) <- seq(d)
      alt <- Gen.option(seq(d))
    } yield (open + a + alt.fold("")("|" + _._1) + ")", wa)
    val regex: Gen[(String, String)] = Gen.frequency(
      9 -> seq(2),
      1 -> Gen.zip(seq(1), seq(1)).map { case ((a, wa), (b, _)) => (s"$a|$b", wa) })
    val noise = Gen.listOfN(6, Gen.oneOf("a", "b", "c", "x", "y", "z", " ", ":", "]"))
      .map(_.mkString)
    val cases = Gen.listOfN(3000, Gen.zip(regex, noise, noise))
      .apply(Gen.Parameters.default, Seed(7L)).get
    var guarded, found = 0
    cases.foreach { case ((p, witness), pre, post) =>
      val compiled = java.util.regex.Pattern.compile(p)
      val guard = lit(p)
      if (guard.nonEmpty) guarded += 1
      Seq(witness, pre + witness + post, pre + post, witness.drop(1)).foreach { s =>
        if (compiled.matcher(s).find()) {
          found += 1
          assert(guard.forall(s.contains), s"guard $guard rejects '$s', which /$p/ finds")
        }
      }
    }
    // the grammar must exercise both sides of the property
    assert(guarded > 300 && found > 3000, s"guarded=$guarded found=$found")
  }

  test("guarded extraction is bit-identical to a bare regex run") {
    val patterns = Seq(LogPipeline.ingestRegex, LogPipeline.bulkRegex,
      LogPipeline.auditRegex,
      "ingest\\[(\\d+)\\]: sequence (doc-\\d+) from (\\S+) n_tok=(\\d+)")
    // matching lines from the real renderer + adversarial near-matches:
    // the guard literal PRESENT but the full regex failing, plus clean
    // non-matches and a non-ASCII line for the fallback path
    val seqs = graft.pipeline.TokenSequences.synthetic(spark, 500L, 4)
    val rendered = LogPipeline.renderLines(seqs).select("line")
      .as[String].collect().toSeq
    val adversarial = Seq(
      "prefix ]: sequence not-really a match",
      "AUDIT|missing-fields",
      "]: batch ",
      "totally unrelated line",
      "Jän 5 über ]: sequence doc-x from wéb n_tok=9", // non-ASCII fallback
      "")
    val lines = rendered ++ adversarial
    patterns.foreach { p =>
      val compiled = java.util.regex.Pattern.compile(p)
      val got = lines.toDF("line")
        .select(RegexCaptures(col("line"), p).as("c"))
        .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[String](0))
      lines.zip(got).foreach { case (line, g) =>
        val m = compiled.matcher(line)
        if (!m.find()) assert(g === null, s"guard dropped/kept wrongly: $line")
        else {
          val want = (0 to m.groupCount()).map(i => m.group(i))
          assert(g !== null, s"guard rejected a matching line: $line")
          assert(g.toSeq === want, s"capture mismatch on: $line")
        }
      }
    }
  }

  test("guard rejects without running the engine (catastrophic pattern stays fast)") {
    // (x+x+)+y on a long run of x's is exponential without the guard;
    // with the mandatory 'yyy' literal absent the matcher never runs.
    // 3 chars so it clears the min-length bar.
    val p = "(x+x+)+yyy"
    assert(lit(p) === Some("yyy"))
    val line = "x" * 64
    val t0 = System.nanoTime()
    val out = Seq(line).toDF("line")
      .select(RegexCaptures(col("line"), p).as("c")).collect()
    val dtMs = (System.nanoTime() - t0) / 1e6
    assert(out.head.isNullAt(0))
    assert(dtMs < 30000, s"guard did not short-circuit: ${dtMs}ms")
  }
}
