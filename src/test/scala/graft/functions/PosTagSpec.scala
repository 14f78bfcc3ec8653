package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** F23-strict coarse tagger: hand-checked lexicon/suffix behavior and the
  * reference's keep-NOUN/ADJ filter contract (classifiers.ipynb cell 12).
  */
class PosTagSpec extends SparkSpec {

  private def tagsOf(tokens: Seq[String]): Map[String, String] = {
    import spark.implicits._
    tokens.toDF("tok")
      .select(col("tok"), PosTag.tag(col("tok")).as("tag"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("lexicon classes win first") {
    val t = tagsOf(Seq("the", "and", "himself", "between", "would", "never",
      "seven", "not", "of", "whereas"))
    assert(t("the") == "DET" && t("and") == "CONJ" && t("himself") == "PRON")
    assert(t("between") == "ADP" && t("would") == "AUX" && t("never") == "ADV")
    assert(t("seven") == "NUM" && t("not") == "ADV" && t("of") == "ADP")
    assert(t("whereas") == "CONJ")
  }

  test("suffix morphology and the NOUN default") {
    val t = tagsOf(Seq("quickly", "information", "happiness", "movement",
      "beautiful", "harmless", "scientific", "optimize", "clarify",
      "running", "walked", "cat", "bed", "sing", "museum", "123", "3.14"))
    assert(t("quickly") == "ADV")
    assert(t("information") == "NOUN" && t("happiness") == "NOUN" && t("movement") == "NOUN")
    assert(t("beautiful") == "ADJ" && t("harmless") == "ADJ" && t("scientific") == "ADJ")
    assert(t("optimize") == "VERB" && t("clarify") == "VERB")
    assert(t("running") == "VERB" && t("walked") == "VERB")
    assert(t("cat") == "NOUN" && t("museum") == "NOUN")
    assert(t("bed") == "NOUN" && t("sing") == "NOUN") // short-word guards
    assert(t("123") == "NUM" && t("3.14") == "NUM")
  }

  test("exception lexicon corrects the classic suffix mistags") {
    val t = tagsOf(Seq("family", "animal", "early", "likely", "lovely",
      "hospital", "music", "student", "morning", "speed",
      // …while words OUTSIDE the exception list still follow the suffix
      // rules (the exceptions are a lexicon, not a rule change)
      "quickly", "historical", "happiness"))
    assert(t("family") == "NOUN" && t("animal") == "NOUN")
    assert(t("hospital") == "NOUN" && t("music") == "NOUN")
    assert(t("student") == "NOUN" && t("morning") == "NOUN")
    assert(t("speed") == "NOUN")
    assert(t("early") == "ADJ" && t("likely") == "ADJ" && t("lovely") == "ADJ")
    assert(t("quickly") == "ADV")      // -ly still fires off-list
    assert(t("historical") == "ADJ")   // -al still fires off-list
    assert(t("happiness") == "NOUN")
  }

  test("closed classes still beat the exception lexicon") {
    // 'only' sits in the ADV closed class; the adjective reading never
    // shadows it (first-listed class wins in every engine)
    val t = tagsOf(Seq("only", "one"))
    assert(t("only") == "ADV" && t("one") == "NUM")
  }

  test("filterNounAdj keeps the reference's NOUN/ADJ-and-len>1 contract") {
    import spark.implicits._
    val kept = Seq("the curious scientist walked into a beautiful museum")
      .toDF("text")
      .select(PosTag.filterNounAdj(TextStats.tokenize(col("text"))).as("kept"))
      .first().getSeq[String](0)
    assert(kept == Seq("curious", "scientist", "beautiful", "museum"))
  }

  test("fast static path agrees with the Column cascade on real corpus tokens") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val toks = docs.select(explode(TextStats.tokenize(col("text"))).as("tok"))
      .union(Seq("the", "happiness", "walked", "family", "x", "123", "zz").toDF("tok"))
      // the whole exception lexicon rides along: both engines must agree
      // on every word the table special-cases
      .union((PosTag.nounExceptions ++ PosTag.adjExceptions).toDF("tok"))
    val disagree = toks
      .select(col("tok"), PosTag.tag(col("tok")).as("slow"),
        PosTagColumn.posTag(col("tok")).as("fast"))
      .filter(col("slow") =!= col("fast"))
      .limit(5).collect()
    assert(disagree.isEmpty, disagree.mkString("\n"))
  }

  test("generated DuckDB CASE mirrors the rule order") {
    val sql = PosTag.duckdbCaseSql("tok")
    // lexicon before suffixes, ADV -ly before noun suffixes, NOUN default
    val order = Seq("'DET'", "'CONJ'", "'PRON'", "'ADP'", "'AUX'", "'NUM'",
      "ends_with(tok, 'ly')", "ends_with(tok, 'tion')", "ends_with(tok, 'able')",
      "ends_with(tok, 'ize')", "ELSE 'NOUN'")
    val idx = order.map(sql.indexOf(_))
    assert(idx.forall(_ >= 0), sql)
    assert(idx == idx.sorted, "rule order drifted between engines")
  }
}
