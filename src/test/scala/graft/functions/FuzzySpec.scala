package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FuzzySpec extends SparkSpec {

  private def randomPairs(n: Int): Seq[(String, String)] = {
    val rnd = new scala.util.Random(7)
    def str() = Seq.fill(rnd.nextInt(20))(('a' + rnd.nextInt(6)).toChar).mkString
    Seq.fill(n)((str(), str()))
  }

  test("identical strings → 100") {
    assert(PartialRatio.compute("hello world", "hello world") === 100)
  }

  test("substring containment → 100 (partial semantics)") {
    assert(PartialRatio.compute("world", "hello world out there") === 100)
  }

  test("bounds: always within [0, 100] (seeded property)") {
    randomPairs(100).foreach { case (a, b) =>
      val r = PartialRatio.compute(a, b)
      assert(r >= 0 && r <= 100, s"out of bounds for ($a, $b)")
    }
  }

  test("symmetric (shorter always slides over longer; seeded property)") {
    randomPairs(100).foreach { case (a, b) =>
      assert(PartialRatio.compute(a, b) === PartialRatio.compute(b, a), s"asymmetric for ($a, $b)")
    }
  }

  test("empty handling: both empty 100, one empty 0") {
    assert(PartialRatio.compute("", "") === 100)
    assert(PartialRatio.compute("", "x") === 0)
  }

  test("reference acceptance threshold shape: near-identical titles ≥ 80 (resources.py:278-280)") {
    val a = "The taxonomy of European bees"
    val b = "The taxonomy of European bees (revised edition)"
    assert(PartialRatio.compute(a, b) >= 80)
    assert(PartialRatio.compute("completely different", "unrelated text entirely") < 80)
  }

  // `fuzzy_partial_ratio` scores a text's first 40 characters against this
  // 23-character needle. Every window is as long as the shorter side: a
  // prefix under 23 characters slides over the needle, and a longer prefix
  // is never scored on a window cut short by its own end.
  Seq(
    ("a prefix shorter than the needle", "table joins", 91),
    ("a prefix of 23-39 characters", "the cold data spark table join", 39),
    ("an empty prefix", "", 0)
  ).foreach { case (name, prefix, score) =>
    test(s"registry needle, $name: $score") {
      assert(PartialRatio.compute(prefix, "spark table join filter") === score)
      assert(PartialRatio.compute("spark table join filter", prefix) === score)
    }
  }

  test("works as a Column expression") {
    import spark.implicits._
    val r = Seq(("abc", "abc"), ("abc", "xyz")).toDF("a", "b")
      .select(Fuzzy.partialRatio(col("a"), col("b"))).as[Int].collect()
    assert(r(0) === 100 && r(1) < 50)
  }

  test("null-safe: null input → null") {
    import spark.implicits._
    val r = Seq((Option("a"), Option.empty[String])).toDF("a", "b")
      .select(Fuzzy.partialRatio(col("a"), col("b"))).as[Option[Int]].head()
    assert(r === None)
  }
}
