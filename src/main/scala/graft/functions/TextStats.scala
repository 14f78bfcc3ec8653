package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-data-pipeline surface (builder brief):
  * tokenization, token counting, quality scoring, language-ID heuristics and
  * document fingerprinting. Reference analog for tokenization: F23
  * /root/reference/notebooks/classifiers.ipynb cell 12 (lowercase, strip
  * non-letters, drop short tokens).
  *
  * Everything here is builtin-expression composition — whole-stage codegen
  * friendly, no UDFs — so at 100 TB these are pure map-side columns with zero
  * shuffle of their own.
  */
object TextStats {

  /** F23-style tokenizer: lowercase, strip everything outside `[a-z- ]`,
    * split on spaces, drop empty and 1-char tokens — fused into the
    * single-pass [[TokenizeExpr]] (TokenizerSpec pins bit-equality with
    * the original builtin chain, whose semantics the oracles replay).
    */
  def tokenize(c: Column): Column = TokenizeColumn.tokenize(c)

  /** F23 tokenizer + Porter stem of every token — the offline analog of the
    * reference's lemmatized token stream (classifiers.ipynb cell 12). The
    * stem itself is the codegen'd [[PorterStem]] expression; only the array
    * traversal goes through `transform`.
    */
  def stemmedTokens(c: Column): Column =
    transform(tokenize(c), t => PorterStemColumn.porterStem(t))

  /** F23 POS-filter analog (classifiers.ipynb cell 12 keeps spaCy
    * NOUN/ADJ tokens before stemming). A tagger model can't ship in the
    * zero-egress environment, so the capability analog is subtractive:
    * drop the token classes that are reliably NOT noun/adjective —
    * function words (the stopword list), `-ly` adverbs, and `-ing`/`-ed`
    * verb inflections (length guards keep short lexical words like
    * "ring", "red", "bed") — leaving the noun/adjective-dominated stream
    * whose vocabulary concentration is what the reference's filter buys
    * its TF-IDF stage. The rule set is pure suffix/set logic: map-only,
    * codegen'd, and SQL-replayable (the `text_pos_filter` oracle).
    * Deviation from true POS tagging is documented at COVERAGE.md F23.
    */
  def posFilterHeuristic(tokens: Column, stopwords: Column): Column =
    filter(tokens, t =>
      !array_contains(stopwords, t) &&
        !t.endsWith(lit("ly")) &&
        !(t.endsWith(lit("ing")) && length(t) > 5) &&
        !(t.endsWith(lit("ed")) && length(t) > 4))

  /** Cell 12 end-to-end: tokenize → POS-heuristic filter → Porter stem,
    * in the reference's order (the POS filter sees surface forms, not
    * stems). Drop-in alternative to [[stemmedTokens]] for classifier
    * feature extraction.
    */
  def nounAdjStemmedTokens(c: Column, stopwords: Column): Column =
    transform(posFilterHeuristic(tokenize(c), stopwords),
      t => PorterStemColumn.porterStem(t))

  /** Whitespace token count — the cheap "how many tokens will the trainer
    * see" estimator.
    */
  def tokenCount(c: Column): Column = size(split(trim(c), "\\s+"))

  /** Stopword ratio over whitespace tokens, given a stopword array column
    * (e.g. `typedLit(Seq("the","a","and"))`).
    */
  def stopwordRatio(c: Column, stopwords: Column): Column = {
    val toks = split(trim(c), "\\s+")
    when(size(toks) > 0,
      size(filter(toks, t => array_contains(stopwords, t))).cast("double") / size(toks)
    ).otherwise(lit(0.0))
  }

  /** Quality score in [0,1]: weighted blend of length band, alpha ratio and
    * mean word length band — the shape of a C4/Gopher-style filter rule set,
    * deterministic and SQL-expressible.
    */
  def qualityScore(c: Column): Column = {
    val nChars   = length(c)
    val alphaLen = length(regexp_replace(c, "[^a-zA-Z]", ""))
    val alphaRatio = when(nChars > 0, alphaLen.cast("double") / nChars).otherwise(0.0)
    val toks     = split(trim(c), "\\s+")
    val meanWord = when(size(toks) > 0, (length(c) + 1).cast("double") / size(toks)).otherwise(0.0)
    val lenOk    = when(nChars.between(50, 100000), 1.0).otherwise(0.0)
    val wordOk   = when(meanWord.between(3.0, 12.0), 1.0).otherwise(0.0)
    round(lit(0.4) * lenOk + lit(0.4) * alphaRatio + lit(0.2) * wordOk, 6)
  }

  /** Rule-based language ID over function-word hits. `profiles` maps a lang
    * code to its marker words; first profile with the strictly highest hit
    * count wins, ties broken by profile order, zero hits → "und". Kept
    * SQL-expressible (a CASE cascade) so the DuckDB oracle can replicate it;
    * a char-n-gram scorer would be the production upgrade.
    */
  def langIdRules(c: Column, profiles: Seq[(String, Seq[String])]): Column = {
    val toks = split(lower(c), "\\s+")
    val hits = profiles.map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isin(words.map(lit): _*)))
    }
    val maxHits = greatest(hits.map(_._2): _*)
    val cascade = hits.foldRight(lit("und")) { case ((lang, h), acc) =>
      when(h === maxHits && maxHits > 0, lit(lang)).otherwise(acc)
    }
    // foldRight puts earlier profiles on the outside → earlier profile wins ties
    cascade
  }

  /** Document fingerprint: md5 of the normalized token stream. md5, not
    * Spark's seeded xxhash64, because any engine reproduces it — a
    * mixed-engine pipeline (or the DuckDB oracle) can verify it
    * byte-for-byte.
    */
  def fingerprintMd5(c: Column): Column =
    md5(array_join(tokenize(c), " ").cast("binary"))

  /** PII scrub — the redaction pass every training-data pipeline runs
    * before anything else sees the text. Regex-based (emails, then
    * international-ish phone runs, then IPv4), replacement tokens in the
    * <TYPE> convention. Order matters: emails first so their digit runs
    * can't half-match the phone pattern. Pure codegen'd regexp_replace —
    * map-only, zero shuffle at any scale.
    */
  def scrubPii(c: Column): Column = {
    val noEmail = regexp_replace(c,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    // fixed-shape pattern (no trailing optionals): greedy-suffix behavior
    // differs between regex engines, identical fixed shapes do not
    val noPhone = regexp_replace(noEmail,
      "\\+?\\d{1,3}[-. ]\\d{3}[-. ]\\d{4}", "<PHONE>")
    regexp_replace(noPhone,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** CONSISTENT-surrogate PII scrub — pseudonymization rather than
    * redaction: every occurrence of the SAME entity maps to the SAME
    * surrogate token (`<EMAIL_xxxxxxxx>`, hash-keyed), so entity-level
    * statistics (how many distinct contacts, which docs share one)
    * survive the scrub while the raw value does not. Surrogates are
    * CONTENT-keyed (md5 prefix of the matched value), not sequentially
    * numbered — numbering needs a global rank over the entity domain
    * (a corpus-wide coordination step), hash keys need nothing: two
    * executors scrubbing the same address on different shards of a
    * 100 TB corpus agree by construction. Per row: extract the distinct
    * matches, then fold a whole-value replace over them — the fold is
    * an interpreted HOF, but it runs over the per-document entity list
    * (single digits), not the corpus token stream, the same
    * per-candidate exemption as the MinHash estimate gate.
    */
  def scrubPiiConsistent(c: Column): Column = {
    def sub(in: Column, re: String, tag: String): Column = {
      // LONGEST first: one entity can be a substring of another
      // ("a@x.org" inside "ba@x.org"); replacing the shorter first
      // would corrupt the longer match mid-string
      val ents = array_sort(
        array_distinct(regexp_extract_all(in, lit(re), lit(0))),
        (l, r) => when(length(l) =!= length(r), length(r) - length(l))
          .otherwise(when(l < r, -1).when(l > r, 1).otherwise(0)))
      aggregate(ents, in,
        (acc, e) => org.apache.spark.sql.functions.replace(acc, e,
          concat(lit(s"<${tag}_"), substring(md5(e), 1, 8), lit(">"))))
    }
    sub(sub(c, EmailRe, "EMAIL"), Ipv4Re, "IP")
  }

  /** Count of characters in a Unicode SCRIPT (Latin/Cyrillic/Greek/
    * Han/...): length minus the length after deleting the script's
    * chars — two codegen'd string ops, no per-char explode. Script
    * detection is the step BEFORE language ID in real pipelines (CLD
    * family: script narrows the candidate set; a Cyrillic page is
    * never English), and the script MIX is a quality signal of its own
    * (mixed-script tokens are a spam/confusable marker). Java regex
    * `\p{IsXxx}` is the Unicode script property — mirror it in RE2 as
    * `\p{Xxx}`.
    */
  def scriptChars(c: Column, script: String): Column =
    (length(c) - length(regexp_replace(c, s"\\p{Is$script}", ""))).cast("long")

  /** Word-bigram array from a token array, as one fused codegen'd call
    * ([[Bigrams]]; equality with the old transform/sequence chain pinned
    * in TokenizerSpec). The single reference also retires the historical
    * re-inlining hazard: the old per-position lambda referenced `toks`
    * once per element, and an inline `tokenize(...)` would be re-run per
    * element (measured 30× on `text_repetition` before the projections
    * were staged).
    */
  def bigramsOf(toks: Column): Column = BigramsColumn.bigrams(toks)

  /** Within-document repetition score (the Gopher-style "fraction of
    * duplicate word bigrams" filter signal): 1 − |distinct bigrams| /
    * |bigrams|, 0 for docs with fewer than 2 bigrams. Same bound-attribute
    * contract as [[bigramsOf]] — this references `bigrams` three times.
    */
  def repetitionFromBigrams(bigrams: Column): Column =
    when(size(bigrams) > 0,
      round(lit(1.0) - size(array_distinct(bigrams)).cast("double") / size(bigrams), 6))
      .otherwise(lit(0.0))

  /** Per-token xxhash64 array — materialize this as its own projection (see
    * [[simhashFromHashes]]) so the tokenizer isn't re-inlined per bit.
    */
  def tokenHashes(c: Column): Column = transform(tokenize(c), t => xxhash64(t))

  /** SimHash from a precomputed token-hash column: sign-vote each of the 64
    * bits, reassemble. Near-duplicate docs land within small Hamming
    * distance; bucketing on the top `bandBits` bits gives the LSH-style
    * candidate join.
    *
    * IMPORTANT: `hashes` must be a bound attribute (a column materialized by
    * a separate projection), not an inline expression — this expression
    * references it 64 times, and Catalyst would otherwise duplicate the
    * full tokenize+hash pipeline per bit.
    */
  def simhashFromHashes(hashes: Column): Column = {
    val bits = (0 until 64).map { i =>
      val mask = shiftleft(lit(1L), i)
      val votes = aggregate(
        hashes,
        lit(0),
        (acc, h) => acc + when(h.bitwiseAND(mask) =!= 0L, 1).otherwise(-1)
      )
      when(votes > 0, mask).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }
}
