package graft.text

import graft.SparkSuite
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}

/** [[Tokens]]: the written-down semantics, and its Scala and Column forms
  * agreeing on hostile whitespace (the SQL form is covered by the oracles that
  * use it, through `tools/check_oracles.py`).
  */
class TokensSpec extends SparkSuite {
  import spark.implicits._

  test("words matches Python str.strip().split() on ASCII text") {
    assert(Tokens.words("  a  b\tc ").toSeq == Seq("a", "b", "c"))
    assert(Tokens.words("").isEmpty)
    assert(Tokens.words("   ").isEmpty)
  }

  test("Spell tokenizer splits on whitespace = : , and drops empties") {
    assert(Tokens.spell("k=v, x:y z").toSeq == Seq("k", "v", "x", "y", "z"))
  }

  test("ASCII whitespace separates, VT included; Unicode whitespace is token content") {
    assert(Tokens.words("a\u000Bb\fc\r\nd").toSeq == Seq("a", "b", "c", "d"))
    assert(Tokens.words("\u00A0a\u2003b\u0001 c\u3000").toSeq ==
      Seq("\u00A0a\u2003b\u0001", "c\u3000"))
    assert(Tokens.words("\t\r\n\u000B\f ").isEmpty)
    assert(Tokens.spell(" ,=: ").isEmpty)
  }

  /** Separators and noise the property draws from: ASCII whitespace runs, the
    * empty string, a control character and Unicode whitespace.
    */
  private val noise: Gen[String] = Gen.oneOf("", " ", "  ", "   ", "\t", "\r", "\n", "\r\n",
    "\u000B", "\f", "\u0001", "\u00A0", "\u2003", "\u3000", "\u0085", "\u001C", "\u2028")

  private val word: Gen[String] = Gen.choose(1, 5).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf('a' to 'z')).map(_.mkString))

  private val text: Gen[String] = Gen.choose(0, 8).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(3 -> word, 2 -> noise)).map(_.mkString))

  test("Scala and Column forms give the same tokens (scalacheck, one job per batch)") {
    val prop = Prop.forAll(Gen.listOfN(200, text)) { batch =>
      val got = spark.sparkContext.parallelize(batch, 1).toDF("s")
        .select(Tokens.words(col("s"))).as[Seq[String]].collect().toSeq
      val want = batch.map(Tokens.words(_).toSeq)
      val bad = batch.indices.filter(i => got(i) != want(i))
        .map(i => s"${batch(i).map(_.toInt)}: column ${got(i)} != scala ${want(i)}")
      Prop(bad.isEmpty) :| bad.take(3).mkString("; ")
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(10).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }
}
