package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Coarse rule-based POS tagging (F23 strict; the reference keeps spaCy
  * NOUN/ADJ tokens, /root/reference/notebooks/classifiers.ipynb cell 12:
  * `token.pos_ in ['NOUN','ADJ'] and len(token.lemma_) > 1`).
  *
  * No statistical tagger is trainable offline (no tagged corpus ships in
  * this container), so this is the classic POSITIVE rule-based baseline —
  * closed-class lexicon first (function words are a finite, enumerable
  * set), then suffix morphology (the NLTK `RegexpTagger` pattern family),
  * default NOUN (the standard unknown-word prior: most open-class unknowns
  * are nouns, which is also spaCy's tendency). Versus the subtractive
  * [[TextStats.posFilterHeuristic]], this additionally rejects
  * prepositions, conjunctions, auxiliaries, pronouns and derivational
  * verbs — much closer to the reference's keep-NOUN/ADJ contract.
  *
  * Single source of truth: the SAME rule table drives the Spark Column
  * cascade ([[tag]]) and the generated DuckDB CASE expression
  * ([[duckdbCaseSql]]) the oracle replays — both engines agree
  * bit-for-bit, so the `text_pos_*` queries hash-match.
  *
  * The classic baseline mistags (`family` → ADV by `-ly`, `animal` → ADJ
  * by `-al`) are corrected by an open-class EXCEPTION lexicon riding the
  * same table ([[nounExceptions]]/[[adjExceptions]] — checked after the
  * closed classes, before any suffix rule). Residual mistags are the
  * long-tail suffix collisions outside that list — the remaining price of
  * a deterministic, map-only, codegen'd tagger with no model file.
  */
object PosTag {

  // ---- closed-class lexicon (checked in order; first hit wins) ----------

  val det: Seq[String] = Seq("the", "a", "an", "this", "that", "these", "those",
    "each", "every", "either", "neither", "some", "any", "no", "all", "both",
    "few", "many", "much", "several", "such", "what", "which", "whose")

  val conj: Seq[String] = Seq("and", "or", "but", "nor", "so", "yet",
    "although", "though", "because", "since", "unless", "while", "whereas",
    "if", "when", "than", "whether")

  val pron: Seq[String] = Seq("i", "you", "he", "she", "it", "we", "they",
    "me", "him", "her", "us", "them", "my", "your", "his", "its", "our",
    "their", "mine", "yours", "hers", "ours", "theirs", "myself", "yourself",
    "himself", "herself", "itself", "ourselves", "yourselves", "themselves",
    "who", "whom", "someone", "anyone", "everyone", "nobody", "somebody",
    "anybody", "everybody", "something", "anything", "everything", "nothing")

  val adp: Seq[String] = Seq("of", "in", "to", "for", "with", "on", "at",
    "by", "from", "about", "as", "into", "like", "through", "after", "over",
    "between", "out", "against", "during", "without", "before", "under",
    "around", "among", "within", "along", "across", "behind", "beyond",
    "except", "near", "up", "off", "down", "onto", "upon", "via", "per")

  val aux: Seq[String] = Seq("am", "is", "are", "was", "were", "be", "been",
    "being", "have", "has", "had", "having", "do", "does", "did", "doing",
    "will", "would", "shall", "should", "may", "might", "must", "can",
    "could", "ought")

  val advLex: Seq[String] = Seq("not", "now", "then", "here", "there",
    "very", "too", "also", "just", "only", "even", "still", "never",
    "always", "often", "sometimes", "soon", "already", "quite", "rather",
    "almost", "perhaps", "maybe", "again", "once", "twice", "ever",
    "however", "therefore", "thus", "instead", "otherwise", "meanwhile",
    "moreover", "furthermore", "anyway", "indeed", "together", "away",
    "back", "well")

  val num: Seq[String] = Seq("zero", "one", "two", "three", "four", "five",
    "six", "seven", "eight", "nine", "ten", "eleven", "twelve", "twenty",
    "thirty", "forty", "fifty", "hundred", "thousand", "million", "billion",
    "first", "second", "third", "fourth", "fifth")

  // ---- open-class exception lexicon -------------------------------------
  // Common words whose suffix rule misfires — the classic baseline mistags
  // (`family` → ADV by `-ly`, `animal` → ADJ by `-al`). Listed AFTER the
  // closed classes (those win) and checked before any suffix rule, they
  // ride the same single rule table as everything else, so the Spark
  // cascade, the JVM fast path and the generated DuckDB CASE all pick
  // them up from this one edit point.

  val nounExceptions: Seq[String] = Seq(
    // -ly nouns
    "family", "assembly", "monopoly", "butterfly", "firefly", "dragonfly",
    "jelly", "belly", "lily", "rally", "tally", "ally", "reply", "supply",
    "italy",
    // -al nouns
    "animal", "mineral", "hospital", "capital", "metal", "petal", "crystal",
    "signal", "journal", "festival", "interval", "mammal", "canal", "rival",
    "arrival", "survival", "material", "terminal", "pedal", "sandal",
    "scandal", "portal", "funeral", "admiral", "cathedral",
    "approval", "removal", "proposal", "refusal", "denial", "trial",
    // -ic nouns
    "music", "magic", "logic", "critic", "topic", "clinic", "picnic",
    "fabric", "traffic", "republic", "mechanic", "attic",
    // -ant/-ent nouns
    "plant", "giant", "infant", "tenant", "servant", "merchant", "elephant",
    "restaurant", "assistant", "consultant", "accountant", "participant",
    "student", "parent", "president", "resident", "agent", "client",
    "moment", "continent", "incident", "accident", "ingredient",
    // -ive nouns
    "olive", "motive", "detective", "perspective",
    // -able/-ible nouns (r12 sweep: `table` was the corpus's one live
    // suffix mistag — ADJ by -able)
    "table", "timetable", "vegetable", "cable", "fable", "stable",
    "syllable", "bible", "marble", "gable",
    // -ed nouns (past-participle lookalikes; genuinely verb-leaning
    // members like feed/need/breed are left to the VERB rule)
    "bed", "seed", "creed", "speed", "deed",
    "reed", "shed", "sled", "weed",
    // -ing nouns
    "morning", "evening", "building", "ceiling", "clothing",
    "wedding", "meeting", "painting", "feeling", "meaning", "warning",
    "herring", "pudding", "sibling", "darling", "dumpling", "duckling",
    "string", "spring", "sterling")

  val adjExceptions: Seq[String] = Seq(
    // -ly adjectives
    "early", "likely", "unlikely", "lonely", "lovely", "friendly",
    "unfriendly", "deadly", "elderly", "silly", "ugly", "holy", "lively",
    "costly", "chilly", "curly", "oily", "smelly", "wobbly", "jolly",
    "weekly", "daily", "monthly", "yearly", "hourly", "cowardly", "orderly",
    "ghastly",
    // suffixless core adjectives the default-NOUN prior mistags (r12
    // sweep: `big`, `slow`, `fast` are live corpus words; the rest are
    // the unambiguous high-frequency members of the same class)
    "big", "slow", "fast", "good", "bad", "new", "old", "high", "low",
    "large", "long", "short", "hot", "cold", "warm", "cool", "young",
    "strong", "weak", "rich", "poor", "dark", "deep", "wide", "narrow",
    "quick", "great", "free", "full", "empty", "hard", "soft", "late",
    "far", "easy", "busy", "tiny", "huge", "nice", "true", "false",
    "simple", "cheap", "tall", "thick", "thin", "broad", "flat", "loud",
    "quiet", "clean", "dirty", "dry", "wet", "heavy", "safe")

  // ---- suffix morphology (checked after the lexicon, in this order) -----

  val nounSuffixes: Seq[String] = Seq("tion", "sion", "ness", "ment", "ity",
    "ism", "ship", "ence", "ance", "ist", "ery", "logy", "hood", "dom",
    "ure", "age")

  val adjSuffixes: Seq[String] = Seq("able", "ible", "ous", "ive", "ful",
    "less", "ish", "ical", "ic", "al", "ary", "ant", "ent")

  val verbSuffixes: Seq[String] = Seq("ize", "ise", "ify")

  private val lexicon: Seq[(Seq[String], String)] = Seq(
    det -> "DET", conj -> "CONJ", pron -> "PRON", adp -> "ADP",
    aux -> "AUX", advLex -> "ADV", num -> "NUM",
    nounExceptions -> "NOUN", adjExceptions -> "ADJ")

  /** Coarse tag of a (lowercased) token column. Rule order: lexicon →
    * numeric literal → `-ly` ADV → noun suffixes → adjective suffixes →
    * derivational verb suffixes → inflectional `-ing`/`-ed` (with the
    * short-word guards of the subtractive heuristic) → NOUN.
    */
  def tag(t: Column): Column = {
    val lex = lexicon.foldLeft(when(lit(false), lit(""))) { case (acc, (words, tg)) =>
      acc.when(array_contains(typedLit(words), t), lit(tg))
    }
    lex
      .when(t.rlike("^[0-9]+([.][0-9]+)?$"), lit("NUM"))
      .when(t.endsWith(lit("ly")), lit("ADV"))
      .when(nounSuffixes.map(sfx => t.endsWith(lit(sfx))).reduce(_ || _), lit("NOUN"))
      .when(adjSuffixes.map(sfx => t.endsWith(lit(sfx))).reduce(_ || _), lit("ADJ"))
      .when(verbSuffixes.map(sfx => t.endsWith(lit(sfx))).reduce(_ || _), lit("VERB"))
      .when(t.endsWith(lit("ing")) && length(t) > 5, lit("VERB"))
      .when(t.endsWith(lit("ed")) && length(t) > 4, lit("VERB"))
      .otherwise(lit("NOUN"))
  }

  /** The reference's keep rule over an array of tokens: coarse tag is NOUN
    * or ADJ, token longer than one character (classifiers.ipynb cell 12).
    */
  def filterNounAdj(tokens: Column): Column =
    filter(tokens, t => tag(t).isin("NOUN", "ADJ") && length(t) > 1)

  // ---- fast execution path ---------------------------------------------

  /** The lexicon as one hash map (first-listed class wins, mirroring the
    * cascade's first-hit-wins order — no word appears in two lists, but
    * the fold direction makes the tie-break explicit).
    */
  private val lexiconMap: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    lexicon.reverse.foreach { case (words, tg) => words.foreach(w => m.put(w, tg)) }
    m
  }

  private val numRe = java.util.regex.Pattern.compile("^[0-9]+([.][0-9]+)?$")

  /** Plain-JVM twin of [[tag]] — IDENTICAL rule order, one hash lookup
    * plus suffix scans instead of a ~550-comparison when-cascade. Used by
    * the codegen'd [[PosTagExpr]]; PosTagSpec asserts the two paths agree
    * on every fixture token.
    */
  def tagOf(t: String): String = {
    val lex = lexiconMap.get(t)
    if (lex != null) return lex
    if (numRe.matcher(t).matches()) return "NUM"
    if (t.endsWith("ly")) return "ADV"
    if (nounSuffixes.exists(t.endsWith)) return "NOUN"
    if (adjSuffixes.exists(t.endsWith)) return "ADJ"
    if (verbSuffixes.exists(t.endsWith)) return "VERB"
    if (t.endsWith("ing") && t.length > 5) return "VERB"
    if (t.endsWith("ed") && t.length > 4) return "VERB"
    "NOUN"
  }

  def tagUTF8(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(tagOf(s.toString))

  /** [[filterNounAdj]] on the fast path: same keep contract, the tag via
    * [[PosTagExpr]].
    */
  def filterNounAdjFast(tokens: Column): Column =
    filter(tokens, t => PosTagColumn.posTag(t).isin("NOUN", "ADJ") && length(t) > 1)

  // ---- DuckDB oracle generation (same table, same order) ----------------

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** The tagger as a DuckDB CASE expression over token expression `t` —
    * generated from the SAME rule table as [[tag]], so the oracle replays
    * the exact semantics.
    */
  def duckdbCaseSql(t: String): String = {
    val lex = lexicon.map { case (words, tg) =>
      s"WHEN list_contains(${sqlList(words)}, $t) THEN '$tg'"
    }
    val sfx = Seq(
      s"WHEN regexp_matches($t, '^[0-9]+([.][0-9]+)?$$') THEN 'NUM'",
      s"WHEN ends_with($t, 'ly') THEN 'ADV'",
      nounSuffixes.map(sx => s"ends_with($t, '$sx')").mkString("WHEN ", " OR ", " THEN 'NOUN'"),
      adjSuffixes.map(sx => s"ends_with($t, '$sx')").mkString("WHEN ", " OR ", " THEN 'ADJ'"),
      verbSuffixes.map(sx => s"ends_with($t, '$sx')").mkString("WHEN ", " OR ", " THEN 'VERB'"),
      s"WHEN ends_with($t, 'ing') AND len($t) > 5 THEN 'VERB'",
      s"WHEN ends_with($t, 'ed') AND len($t) > 4 THEN 'VERB'")
    (lex ++ sfx).mkString("CASE ", " ", " ELSE 'NOUN' END")
  }
}

/** Codegen'd coarse-POS-tag expression: one static call per token inside
  * whole-stage codegen (the [[PorterStem]] pattern), replacing the
  * equivalent when-cascade built by [[PosTag.tag]].
  */
case class PosTagExpr(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{DataType, StringType}

  override def dataType: DataType = StringType
  override def prettyName: String = "pos_tag"

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): PosTagExpr =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    PosTag.tagUTF8(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PosTag.tagUTF8($c)")
}

object PosTagColumn {
  def posTag(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      PosTagExpr(org.apache.spark.sql.graftbridge.ColumnBridge.expr(c)))
}
