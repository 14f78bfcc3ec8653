package graft
package queries

import graft.functions.{Fuzzy, PosTag, TextStats}
import graft.operators.{Bpe, Curation, Incremental}
import org.apache.spark.sql.functions._
import QueryCommon._

/** Text statistics, tokenization, BPE, language and PII passes, keywords.
  *
  * One [[QuerySpec]] per query: the Spark body beside its DuckDB oracle.
  */
object TextQueries {
  def specs(root: String): Seq[QuerySpec] = Seq(
    // Text quality metrics (token counts, stopword ratio, quality score).
    QuerySpec("text_quality", (s, dir) => {
      val stops = typedLit(Seq("the", "a"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.tokenCount(col("text")).cast("bigint").as("n_tokens"),
          round(TextStats.stopwordRatio(col("text"), stops), 6).as("stop_ratio"),
          TextStats.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        |  round(len(list_filter(string_split(trim(text), ' '), x -> x IN ('the', 'a'))) * 1.0
        |        / len(string_split(trim(text), ' ')), 6) AS stop_ratio,
        |  round(0.4 * (CASE WHEN len(text) BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END)
        |      + 0.4 * (len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text))
        |      + 0.2 * (CASE WHEN (len(text) + 1) * 1.0 / len(string_split(trim(text), ' '))
        |                    BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END), 6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin),

    // F23 POS-filter analog (classifiers.ipynb cell 12): per doc, tokens
    // surviving the stopword + suffix-heuristic noun/adj filter that
    // feeds the stemmer, with the first surviving surface forms emitted
    // for row-level checking (pre-stem — Porter itself is locked by
    // PorterSpec; the filter logic is what the oracle replays).
    QuerySpec("text_pos_filter", (s, dir) => {
      val stops = typedLit(Seq("the", "a", "and", "of", "to", "in", "is", "was"))
      val toks = TextStats.tokenize(col("text"))
      val kept = TextStats.posFilterHeuristic(toks, stops)
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).cast("bigint").as("n_tokens"),
          size(kept).cast("bigint").as("n_kept"),
          when(size(toks) > 0,
            round(size(kept).cast("double") / size(toks), 4)).otherwise(0.0)
            .as("keep_ratio"),
          array_join(slice(kept, 1, 5), " ").as("first_kept"))
        .orderBy("doc_id")
    },
      // The POS heuristic is pure suffix/set logic, so the oracle replays
      // the whole filter: tokenize, stopword drop, -ly adverbs, -ing/-ed
      // inflections with the short-word guards.
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
        |                x -> len(x) > 1) AS toks
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, toks,
        |    list_filter(toks, t ->
        |      NOT list_contains(['the','a','and','of','to','in','is','was'], t)
        |      AND NOT ends_with(t, 'ly')
        |      AND NOT (ends_with(t, 'ing') AND len(t) > 5)
        |      AND NOT (ends_with(t, 'ed') AND len(t) > 4)) AS kept
        |  FROM toks)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CASE WHEN len(toks) > 0
        |    THEN round(len(kept) * 1.0 / len(toks), 4) ELSE 0.0 END AS keep_ratio,
        |  array_to_string(list_slice(kept, 1, 5), ' ') AS first_kept
        |FROM k ORDER BY doc_id""".stripMargin),

    // Coarse POS tag histogram over the corpus — the positive rule-based
    // tagger (lexicon + suffix morphology, PosTag.scala), whose DuckDB
    // oracle CASE is GENERATED from the same rule table.
    QuerySpec("text_pos_tags", (s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextStats.tokenize(col("text"))).as("tok"))
        .select(graft.functions.PosTagColumn.posTag(col("tok")).as("tag"))
        .groupBy("tag").agg(count(lit(1)).as("n"))
        .orderBy("tag")
    },
      // CASE expression generated from PosTag's rule table — one source of
      // truth for both engines.
      s"""WITH toks AS (
         |  SELECT list_filter(string_split(regexp_replace(lower(text), '[^a-z\\- ]', ' ', 'g'), ' '),
         |                     x -> len(x) > 1) AS toks
         |  FROM documents),
         |t2 AS (SELECT unnest(toks) AS tok FROM toks)
         |SELECT ${PosTag.duckdbCaseSql("tok")} AS tag,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM t2 GROUP BY tag ORDER BY tag""".stripMargin),

    // The reference's keep-NOUN/ADJ filter via the positive tagger —
    // strictly closer to spaCy's contract than the subtractive heuristic
    // of text_pos_filter (rejects prepositions/aux/pronouns too).
    QuerySpec("text_pos_filter_strict", (s, dir) => {
      val toks = TextStats.tokenize(col("text"))
      val kept = PosTag.filterNounAdjFast(toks)
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).cast("bigint").as("n_tokens"),
          size(kept).cast("bigint").as("n_kept"),
          when(size(toks) > 0,
            round(size(kept).cast("double") / size(toks), 4)).otherwise(0.0)
            .as("keep_ratio"),
          array_join(slice(kept, 1, 5), " ").as("first_kept"))
        .orderBy("doc_id")
    },
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\\- ]', ' ', 'g'), ' '),
         |                x -> len(x) > 1) AS toks
         |  FROM documents),
         |k AS (
         |  SELECT doc_id, toks,
         |    list_filter(toks, t ->
         |      (${PosTag.duckdbCaseSql("t")}) IN ('NOUN', 'ADJ') AND len(t) > 1) AS kept
         |  FROM toks)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  CASE WHEN len(toks) > 0
         |    THEN round(len(kept) * 1.0 / len(toks), 4) ELSE 0.0 END AS keep_ratio,
         |  array_to_string(list_slice(kept, 1, 5), ' ') AS first_kept
         |FROM k ORDER BY doc_id""".stripMargin),

    // Token totals per source — the "how many tokens per shard" pipeline stat.
    QuerySpec("text_token_totals", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(TextStats.tokenCount(col("text")).cast("bigint")).as("total_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")
    },
      // Shared by the single-pass (text_token_totals) and the split-merge
      // (text_token_totals_incremental) forms — green = additive state
      // tables reproduce the full recompute exactly.
      tokenTotalsOracle),

    // Incremental rebuild, additive algebra: the corpus split into 3
    // hash-batches, a per-source state table computed per batch, states
    // merged — SAME oracle as text_token_totals, so green proves the
    // split-merge reproduces the full recompute exactly (the 100 TB
    // nightly-delta shape: merge state, never rescan the corpus).
    QuerySpec("text_token_totals_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val states = (0 until 3).map { i =>
        Incremental.tokenTotalsState(
          docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === i),
          "text", "source")
      }
      Incremental.mergeTokenTotals(states, "source").orderBy("source")
    }, tokenTotalsOracle),

    // UNICODE SCRIPT DETECTION (TextStats.scriptChars) — the step
    // BEFORE language ID (script narrows the language candidate set;
    // CLD-family detectors branch on it first) and a spam/confusable
    // signal (mixed-script text). Planted per-class non-Latin runs make
    // every script counter load-bearing; foreign_script is the
    // dominant non-Latin script (disjoint classes ⇒ fixed precedence
    // replays exactly). Map-only codegen'd string ops, zero shuffle.
    QuerySpec("text_scripts", (s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 4 === 1, lit(" привет мир"))
          .when(col("doc_id") % 4 === 2, lit(" αβγ δε"))
          .when(col("doc_id") % 4 === 3, lit(" 你好世界"))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.scriptChars(planted, "Latin").as("n_latin"),
          TextStats.scriptChars(planted, "Cyrillic").as("n_cyrillic"),
          TextStats.scriptChars(planted, "Greek").as("n_greek"),
          TextStats.scriptChars(planted, "Han").as("n_han"))
        .withColumn("foreign_script",
          when(col("n_cyrillic") > 0, lit("cyrillic"))
            .when(col("n_greek") > 0, lit("greek"))
            .when(col("n_han") > 0, lit("han"))
            .otherwise(lit(null).cast("string")))
        .withColumn("multiscript",
          (col("n_cyrillic") + col("n_greek") + col("n_han")) > 0 &&
            col("n_latin") > 0)
        .orderBy("doc_id")
    },
      // Script replay: RE2 script classes (\p{Latin} etc.) mirror Java's
      // \p{IsXxx} over the planted runs; foreign precedence is exact
      // because the planted classes are disjoint.
      """WITH p AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 4 = 1 THEN ' привет мир'
        |       WHEN doc_id % 4 = 2 THEN ' αβγ δε'
        |       WHEN doc_id % 4 = 3 THEN ' 你好世界'
        |       ELSE '' END AS t FROM documents),
        |c AS (SELECT doc_id,
        |  CAST(length(t) - length(regexp_replace(t, '\p{Latin}', '', 'g')) AS BIGINT) AS n_latin,
        |  CAST(length(t) - length(regexp_replace(t, '\p{Cyrillic}', '', 'g')) AS BIGINT) AS n_cyrillic,
        |  CAST(length(t) - length(regexp_replace(t, '\p{Greek}', '', 'g')) AS BIGINT) AS n_greek,
        |  CAST(length(t) - length(regexp_replace(t, '\p{Han}', '', 'g')) AS BIGINT) AS n_han
        | FROM p)
        |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_han,
        |  CASE WHEN n_cyrillic > 0 THEN 'cyrillic'
        |       WHEN n_greek > 0 THEN 'greek'
        |       WHEN n_han > 0 THEN 'han' END AS foreign_script,
        |  (n_cyrillic + n_greek + n_han) > 0 AND n_latin > 0 AS multiscript
        |FROM c ORDER BY doc_id""".stripMargin),

    // TOKENIZER FERTILITY per language — pieces-per-word under the
    // BPE-ish length tokenizer, THE standard tokenizer-evaluation
    // metric (high fertility on a language = the vocab underserves it;
    // multilingual mixes are budgeted in tokens, so fertility skews
    // effective epoch counts). One explode + one codegen'd hash
    // aggregate; integer sums exact, the ratio rounded at 4 dp.
    QuerySpec("text_fertility", (s, dir) => {
      val words = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
      words.groupBy("lang")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum(ceil(length(col("word")) / lit(4.0)).cast("long")).as("n_pieces"))
        .withColumn("fertility",
          round(col("n_pieces").cast("double") / col("n_words"), 4))
        .orderBy("lang")
    },
      // Fertility replay: same explode + integer piece sums, ratio at 4 dp.
      """WITH w AS (SELECT lang, doc_id,
        |    unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS word
        |  FROM documents)
        |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(CAST(ceil(length(word) / 4.0) AS BIGINT)) AS BIGINT) AS n_pieces,
        |  round(sum(CAST(ceil(length(word) / 4.0) AS BIGINT)) * 1.0 / count(*), 4) AS fertility
        |FROM w GROUP BY lang ORDER BY lang""".stripMargin),

    // Rule-based language ID (function-word hits, profile order tiebreak).
    QuerySpec("text_lang_id", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.langIdRules(col("text"), Seq(
            "en" -> Seq("the", "a"),
            "fr" -> Seq("le", "la"),
            "es" -> Seq("el", "los"))).as("lang_pred"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CASE WHEN h_en = m AND m > 0 THEN 'en'
        |       WHEN h_fr = m AND m > 0 THEN 'fr'
        |       WHEN h_es = m AND m > 0 THEN 'es'
        |       ELSE 'und' END AS lang_pred
        |FROM (
        |  SELECT doc_id,
        |    len(list_filter(string_split(lower(text), ' '), x -> x IN ('the', 'a'))) AS h_en,
        |    len(list_filter(string_split(lower(text), ' '), x -> x IN ('le', 'la'))) AS h_fr,
        |    len(list_filter(string_split(lower(text), ' '), x -> x IN ('el', 'los'))) AS h_es,
        |    greatest(
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('the', 'a'))),
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('le', 'la'))),
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('el', 'los')))) AS m
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // PII scrub over synthesized dirty text (email + phone + IPv4 injected
    // deterministically per doc so the oracle validates every redaction
    // pattern, not just the no-op path).
    QuerySpec("text_pii_scrub", (s, dir) => {
      val dirty = concat(
        lit("contact u"), col("doc_id"), lit("@mail.example.org or +1-555-01"),
        lpad((col("doc_id") % 100).cast("string"), 2, "0"),
        lit(" ip 10.0.0."), (col("doc_id") % 256).cast("string"),
        lit(" :: "), col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextStats.scrubPii(dirty).as("clean"))
        .orderBy("doc_id")
    },
      // Same dirty-text synthesis, same three redaction regexes (fixed-shape
      // patterns — no greedy-optional suffixes, which differ across regex
      // engines), same order (emails first).
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        concat('contact u', doc_id, '@mail.example.org or +1-555-01',
        |               lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'),
        |               ' ip 10.0.0.', CAST(doc_id % 256 AS VARCHAR), ' :: ', text),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+?\d{1,3}[-. ]\d{3}[-. ]\d{4}', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin),

    // CONSISTENT-surrogate PII scrub (pseudonymization): the same
    // entity maps to the SAME hash-keyed surrogate everywhere, so
    // entity-level statistics survive redaction. The planted entities
    // are keyed doc_id % 10 / % 5 so they RECUR across documents —
    // consistency is observable, not vacuous (the oracle reconstructs
    // each surrogate from the entity value alone, which only matches
    // if identical entities got identical tokens). Content-keyed ids
    // need no corpus-wide numbering pass — the 100 TB shape.
    QuerySpec("text_pii_surrogates", (s, dir) => {
      val dirty = concat(
        lit("contact u"), col("doc_id") % 10,
        lit("@mail.example.org from 10.0.0."), col("doc_id") % 5,
        lit(" :: "), col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextStats.scrubPiiConsistent(dirty).as("clean"))
        .orderBy("doc_id")
    },
      // Consistent-surrogate replay: the oracle rebuilds each surrogate
      // FROM THE ENTITY VALUE ALONE (md5 prefix of the planted address /
      // ip) — it can only match if Spark mapped identical entities to
      // identical tokens everywhere.
      """SELECT doc_id,
        |  'contact <EMAIL_' ||
        |    substr(md5('u' || (doc_id % 10) || '@mail.example.org'), 1, 8) ||
        |  '> from <IP_' || substr(md5('10.0.0.' || (doc_id % 5)), 1, 8) ||
        |  '> :: ' || text AS clean
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Within-doc repetition score (Gopher-style duplicate-bigram fraction).
    // Staged projections keep toks/bigrams as bound attributes — inlining
    // them re-runs the regex tokenizer per array element (30× slower).
    QuerySpec("text_repetition", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenize(col("text")).as("toks"))
        .select(col("doc_id"), TextStats.bigramsOf(col("toks")).as("bigrams"))
        .select(col("doc_id"),
          TextStats.repetitionFromBigrams(col("bigrams")).as("rep_score"))
        .orderBy("doc_id")
    },
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(regexp_replace(lower(text), '[^a-z- ]', ' ', 'g'), ' +'),
        |    t -> len(t) > 1) AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, CASE WHEN len(tk) >= 2
        |    THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
        |    ELSE CAST([] AS VARCHAR[]) END AS bigrams
        |  FROM toks)
        |SELECT doc_id,
        |  CASE WHEN len(bigrams) > 0
        |    THEN round(1.0 - len(list_distinct(bigrams))*1.0/len(bigrams), 6)
        |    ELSE 0.0 END AS rep_score
        |FROM bg ORDER BY doc_id""".stripMargin),

    // Distributed BPE training (Sennrich 2016): one corpus pass builds the
    // word-frequency dict, then each merge step shuffles only vocab-sized
    // (pair, freq) rows. Merge table is deterministic (count desc,
    // lexicographic tiebreak); BpeSpec pins the paper's canonical example.
    QuerySpec("bpe_merges", (s, dir) => {
      import s.implicits._
      Bpe.learnMergesCached(t(s, dir, "documents"), "text", nMerges = 10, corpusId = dir)
        .toDF("step", "left", "right")
        .select(col("step").cast("bigint"), col("left"), col("right"))
        .orderBy("step")
    }, bpeMergesOracle(10)),

    // BPE acceptance gate (recall-gate convention): the learned table has
    // the requested size, merges are distinct, and applying them strictly
    // shrinks the corpus token count (every merge had count >= 2).
    QuerySpec("bpe_gate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.learnMergesCached(docs, "text", nMerges = 10, corpusId = dir)
      val t0 = Bpe.segment(docs, "text", "doc_id", Nil)
        .agg(sum(size(col("tokens"))).as("t0"))
      val tN = Bpe.segment(docs, "text", "doc_id", merges)
        .agg(sum(size(col("tokens"))).as("tN"))
      t0.crossJoin(tN).select(
        lit(merges.size.toLong).as("n_merges"),
        lit(merges.map(m => (m.left, m.right)).distinct.size == merges.size)
          .as("distinct_ok"),
        (col("tN") < col("t0")).as("shrink_ok"))
    },
      // Gate convention: Spark computes the booleans; the oracle pins the
      // expected table size and TRUE flags (a training regression becomes a
      // hash mismatch). bpe_merges itself is fully replayed by
      // bpeMergesOracle's chained-CTE fold above.
      """SELECT CAST(10 AS BIGINT) AS n_merges, TRUE AS distinct_ok,
        |  TRUE AS shrink_ok""".stripMargin),

    // The trained tokenizer APPLIED to the corpus (Bpe.segment — the
    // deploy path of a tokenizer: map-only, merge table in the task
    // closure): per doc, the subword sequence and its length. The oracle
    // replays the training chain per distinct WORD (the bpe_merges CTE,
    // here carrying the surface form through every stage) so the final
    // state IS the per-word segmentation table, then re-assembles each
    // doc word-by-word in order — the apply path becomes as
    // hash-verified as the training path.
    QuerySpec("bpe_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.learnMergesCached(docs, "text", nMerges = 10, corpusId = dir)
      Bpe.segment(docs, "text", "doc_id", merges)
        .select(col("doc_id"),
          size(col("tokens")).cast("bigint").as("n_tokens"),
          array_join(col("tokens"), " ").as("tokens_str"))
        .orderBy("doc_id")
    }, bpeEncodeOracle(10)),

    // Subword vocabulary histogram of the encoded corpus — the unit
    // frequency table a tokenizer trainer reports. Bpe.vocabulary weights
    // unit counts by the word-frequency dictionary, so the merge replay
    // is vocab-sized: the corpus is aggregated once, never re-segmented
    // occurrence-by-occurrence.
    QuerySpec("bpe_vocab", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.learnMergesCached(docs, "text", nMerges = 10, corpusId = dir)
      Bpe.vocabulary(docs, "text", merges).orderBy("unit")
    }, bpeVocabOracle(10)),

    // Per-group exact heavy hitters: which tokens exceed 2% of THEIR
    // source's occurrences — the sketch keyed by source (k counters per
    // group per task), exact recount of candidates only. Oracled as
    // equality with DuckDB's plain per-source group-count.
    QuerySpec("text_heavy_hitters_by_source", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .persist()
      toks.count()
      Curation.heavyHittersPerGroup(toks, "word", "source", k = 256,
          minShare = 0.02)
        .select(col("source"), col("word"), col("cnt"), col("n_total"))
        .orderBy(col("source"), col("cnt").desc, col("word"))
    },
      // Per-source exact counts over the per-source total: the sketch only
      // prunes within each group, so equality with the plain group-count.
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        |tot AS (SELECT source, count(*) AS n_total FROM toks GROUP BY 1),
        |cnts AS (SELECT source, word, count(*) AS cnt FROM toks GROUP BY 1, 2)
        |SELECT c.source, c.word, c.cnt, t.n_total
        |FROM cnts c JOIN tot t ON c.source = t.source
        |WHERE c.cnt > t.n_total * 0.02
        |ORDER BY c.source, c.cnt DESC, c.word""".stripMargin),

    // Exact heavy hitters via the Misra-Gries two-pass: k=256 bounded
    // counters find candidates (complete above N/257), exact counts verify
    // — output is exact, so the oracle is a plain DuckDB GROUP BY. The
    // token frame feeds both passes: persist + count (explode-trap rule).
    QuerySpec("text_heavy_hitters", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .persist()
      toks.count()
      Curation.heavyHitters(toks, "word", k = 256, minShare = 0.005)
        .select(col("word"), col("cnt"), col("n_total"))
        .orderBy(col("cnt").desc, col("word"))
    },
      // The sketch only PRUNES (completeness above N/257 > the 0.5% gate),
      // so the exact two-pass output equals the plain exact group-count.
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |tot AS (SELECT count(*) AS n_total FROM toks)
        |SELECT word, count(*) AS cnt, (SELECT n_total FROM tot) AS n_total
        |FROM toks GROUP BY word
        |HAVING count(*) > (SELECT n_total FROM tot) * 0.005
        |ORDER BY cnt DESC, word""".stripMargin),

    // Sliding-window token chunking (the embedding/RAG chunk pass):
    // 64-token windows advancing by 16 — every token covered, tail window
    // kept short. Map-only, zero shuffle.
    QuerySpec("text_chunks", (s, dir) => {
      Curation.slidingChunks(t(s, dir, "documents"), "text", "doc_id",
          chunkTokens = 64, stride = 16)
        .orderBy("doc_id", "chunk_id")
    },
      // Same start/slice arithmetic: starts 0,16,32,… while start < n,
      // ⌈(n−64+16)/16⌉ of them (min 1); DuckDB list slices are 1-based
      // inclusive like Spark's slice(start, length) with end clamping.
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |starts AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(0,
        |      greatest(CAST(ceil((len(t) - 64 + 16) / 16.0) AS INT), 1) - 1)) AS cid
        |  FROM toks)
        |SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
        |  array_to_string(t[cid*16 + 1 : cid*16 + 64], ' ') AS chunk_text,
        |  len(list_filter(t[cid*16 + 1 : cid*16 + 64], x -> len(x) > 0)) AS n_tokens
        |FROM starts ORDER BY doc_id, chunk_id""".stripMargin),

    // Repeated-span statistics (substring-level dedup signal, Lee et al.
    // 2021): per doc, distinct 4-gram spans occurring in >= 3 documents.
    QuerySpec("text_span_dup", (s, dir) => {
      Curation.repeatedSpanStats(t(s, dir, "documents"), "text", "doc_id",
          n = 4, minDocs = 3)
        .orderBy("doc_id")
    },
      // Repeated 4-gram spans in >= 3 distinct docs; per-doc dup-span counts.
      // Docs with < 4 tokens keep an EMPTY span list (not dropped) to match
      // Spark's shingled(), which emits an empty array for short docs.
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
        |                x -> len(x) > 1) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 4 THEN
        |      list_distinct(list_transform(generate_series(1, len(toks) - 3),
        |                    i -> array_to_string(list_slice(toks, i, i + 3), ' ')))
        |    ELSE [] END AS spans
        |  FROM toks),
        |ex AS (SELECT doc_id, unnest(spans) AS span FROM sh),
        |hot AS (SELECT span FROM ex GROUP BY span HAVING count(*) >= 3),
        |per_doc AS (
        |  SELECT doc_id, count(*) AS n_dup_spans
        |  FROM ex JOIN hot USING (span) GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CAST(len(s.spans) AS BIGINT) AS n_spans,
        |  CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |  CASE WHEN len(s.spans) > 0
        |    THEN round(CAST(coalesce(p.n_dup_spans, 0) AS DOUBLE) / len(s.spans), 6)
        |    ELSE 0.0 END AS dup_ratio
        |FROM sh s LEFT JOIN per_doc p USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin),

    // --- rows-only entries (not ANSI-SQL-expressible; weaker check) ---

    // Document fingerprint of the normalized token stream (md5, so the
    // oracle can recompute it).
    QuerySpec("text_fingerprint", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextStats.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    },
      // Same tokenize normalization as Spark's TextStats.tokenize, then md5
      // of the space-joined stream: lower → non-[a-z- ] to space → split on
      // runs of spaces → drop tokens of length < 2.
      """SELECT doc_id,
        |  md5(array_to_string(list_filter(
        |    regexp_split_to_array(regexp_replace(lower(text), '[^a-z- ]', ' ', 'g'), ' +'),
        |    t -> len(t) > 1), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    // F16 — partial_ratio fuzzy score (native Catalyst expression).
    QuerySpec("fuzzy_partial_ratio", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          Fuzzy.partialRatio(substring(col("text"), 1, 40),
            lit("spark table join filter")).as("score"))
        .orderBy("doc_id")
    },
      // partial_ratio is windowed Levenshtein, which DuckDB can replicate
      // directly: the shorter of the 40-char prefix and the 23-char needle
      // slides over the longer, every window as long as the shorter side.
      partialRatioOracle),

    // The SAME computation through the TEXTUAL SQL surface — temp view +
    // spark.sql + the GraftExtensions-registered partial_ratio function.
    // Shares fuzzy_partial_ratio's oracle: green = the SQL API path
    // (parser → function registry → same Catalyst expression) is
    // row-identical to the DataFrame API path.
    QuerySpec("fuzzy_partial_ratio_sql", (s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("documents_v")
      s.sql("""SELECT doc_id,
                 partial_ratio(substring(text, 1, 40),
                               'spark table join filter') AS score
               FROM documents_v ORDER BY doc_id""")
    },
      // Shared with the DataFrame form — green = SQL path ≡ DataFrame path.
      partialRatioOracle),

    // Corpus-trained unigram-LM quality score (CCNet-shaped perplexity
    // filter, self-trained — no external LM in a zero-egress engine).
    QuerySpec("text_unigram_lm", (s, dir) => {
      Curation.unigramLmScore(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    },
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
        |  FROM documents),
        |cnts AS (SELECT token, count(*) AS tf_corpus FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(tf_corpus) AS DOUBLE) AS total FROM cnts),
        |lp AS (
        |  SELECT t.doc_id, c.tf_corpus,
        |    CAST(round(ln(c.tf_corpus / (SELECT total FROM tot)), 6)
        |         AS DECIMAL(18,6)) AS lp
        |  FROM toks t JOIN cnts c USING (token))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(min(tf_corpus) AS BIGINT) AS min_tf,
        |  round(CAST(-sum(lp) AS DOUBLE) / count(*), 4) AS avg_nll
        |FROM lp GROUP BY 1 ORDER BY 1""".stripMargin),

    // The documented scale path of text_length_quantiles made real:
    // approx_percentile (t-digest-style sketch, mergeable, bounded
    // memory) beside the exact interpolated percentile, with the sketch
    // value asserted within 10% — same contract pattern as
    // approx_distinct_users (DuckDB can't reproduce the sketch, but it
    // CAN check the exact column and the bound).
    QuerySpec("text_length_quantiles_approx", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
          expr("approx_percentile(n_chars, 0.5, 100)").as("p50_sketch"),
          count(lit(1)).as("n_docs"))
        .select(col("source"), col("p50"),
          (abs(col("p50_sketch") - col("p50")) <= col("p50") * 0.1).as("approx_ok"),
          col("n_docs"))
        .orderBy("source")
    },
      """SELECT source, round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  TRUE AS approx_ok, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // Bigram step-up of the LM score: add-one-smoothed P(w2|w1) — catches
    // shuffled/noisy token streams whose unigrams look normal.
    QuerySpec("text_bigram_lm", (s, dir) => {
      Curation.bigramLmScore(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    },
      // Add-one-smoothed bigram NLL; c(w1·) derived from the bigram counts,
      // V = corpus-wide distinct token count, decimal-exact per-doc sums.
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
        |e AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1])) AS bg
        |  FROM toks),
        |bgc AS (SELECT bg, count(*) AS c2 FROM e GROUP BY 1),
        |ctx AS (SELECT string_split(bg, ' ')[1] AS w1, sum(c2) AS c1 FROM bgc GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS v FROM (
        |        SELECT unnest(t) AS token FROM toks)),
        |lp AS (
        |  SELECT e.doc_id, b.c2,
        |    CAST(round(ln((b.c2 + 1) / CAST(x.c1 + v.v AS DOUBLE)), 6)
        |         AS DECIMAL(18,6)) AS lp
        |  FROM e
        |  JOIN bgc b USING (bg)
        |  JOIN ctx x ON string_split(e.bg, ' ')[1] = x.w1
        |  CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(min(c2) AS BIGINT) AS min_bigram_tf,
        |  round(CAST(-sum(lp) AS DOUBLE) / count(*), 4) AS avg_nll
        |FROM lp GROUP BY 1 ORDER BY 1""".stripMargin),

    // Lee-et-al-style duplicated-span cut lists: positions whose corpus
    // 4-gram repeats, merged into maximal per-doc runs ≥ 8 tokens — the
    // spans an exact-substring-dedup rewrite removes.
    QuerySpec("text_span_cuts", (s, dir) => {
      Curation.duplicatedSpanCuts(t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc_id"), col("start_pos"))
    },
      // Positional-shingle replay of the span cuts: hot grams, the
      // gaps-and-islands merge and the length gate are all integer-exact.
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_transform(generate_series(1, len(t) - 3),
        |           i -> {'i': i, 'g': array_to_string(t[i:i+3], ' ')})) AS s
        |       FROM toks WHERE len(t) >= 4),
        |f AS (SELECT doc_id, s.i AS i, s.g AS g FROM sh),
        |hot AS (SELECT g FROM f GROUP BY g HAVING count(*) >= 2),
        |dup AS (SELECT doc_id, i FROM f JOIN hot USING (g)),
        |isl AS (SELECT doc_id, i,
        |          i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |        FROM dup),
        |runs AS (SELECT doc_id, CAST(min(i) AS BIGINT) AS start_pos,
        |           CAST(max(i) + 3 AS BIGINT) AS end_pos
        |         FROM isl GROUP BY doc_id, grp)
        |SELECT doc_id, start_pos, end_pos,
        |  end_pos - start_pos + 1 AS span_tokens
        |FROM runs WHERE end_pos - start_pos + 1 >= 8
        |ORDER BY doc_id, start_pos""".stripMargin),

    // The rewrite half: corpus with every ≥8-token duplicated span removed
    // (docs without cuts pass through verbatim). Oracled end-to-end — the
    // DuckDB replay rebuilds the cut lists and filters token positions
    // with a correlated NOT EXISTS.
    QuerySpec("text_span_rewrite", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cuts = Curation.duplicatedSpanCuts(docs, "text", "doc_id")
      Curation.applySpanCuts(docs, "text", "doc_id", cuts)
        .orderBy(col("doc_id"))
    },
      // Span rewrite replay: the cuts CTE chain from text_span_cuts, then a
      // positional token filter via correlated NOT EXISTS and an ordered
      // re-join of the survivors.
      """WITH toks0 AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_transform(generate_series(1, len(t) - 3),
        |           i -> {'i': i, 'g': array_to_string(t[i:i+3], ' ')})) AS s
        |       FROM toks0 WHERE len(t) >= 4),
        |f AS (SELECT doc_id, s.i AS i, s.g AS g FROM sh),
        |hot AS (SELECT g FROM f GROUP BY g HAVING count(*) >= 2),
        |dup AS (SELECT doc_id, i FROM f JOIN hot USING (g)),
        |isl AS (SELECT doc_id, i,
        |          i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |        FROM dup),
        |cuts AS (SELECT doc_id, min(i) AS start_pos, max(i) + 3 AS end_pos
        |         FROM isl GROUP BY doc_id, grp
        |         HAVING max(i) + 3 - min(i) + 1 >= 8),
        |tp AS (SELECT doc_id, s.i AS i, s.tok AS tok FROM (
        |         SELECT doc_id,
        |           unnest(list_transform(generate_series(1, len(t)),
        |             i -> {'i': i, 'tok': t[i]})) AS s
        |         FROM toks0)),
        |kept AS (
        |  SELECT tp.doc_id, tp.i, tp.tok FROM tp
        |  WHERE NOT EXISTS (SELECT 1 FROM cuts c
        |    WHERE c.doc_id = tp.doc_id
        |      AND tp.i BETWEEN c.start_pos AND c.end_pos))
        |SELECT t0.doc_id,
        |  coalesce(k.clean_text, '') AS clean_text,
        |  CAST(len(t0.t) AS BIGINT) AS n_tokens_before,
        |  coalesce(k.n_after, 0) AS n_tokens_after
        |FROM toks0 t0 LEFT JOIN (
        |  SELECT doc_id, array_to_string(list(tok ORDER BY i), ' ') AS clean_text,
        |    CAST(count(*) AS BIGINT) AS n_after
        |  FROM kept GROUP BY doc_id) k USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // Exact length quantiles per source — the corpus-profiling stat a
    // curation pass thresholds against (exact interpolated percentile;
    // DuckDB's quantile_cont has the same definition). Scale note: exact
    // percentile buffers each group's values — fine for per-source groups
    // of profile stats; at extreme group sizes swap to approx_percentile
    // (t-digest sketch, mergeable, bounded memory) and drop the oracle to
    // a bound check like approx_distinct_users.
    QuerySpec("text_length_quantiles", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
          round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
          round(expr("percentile(n_chars, 0.99)"), 4).as("p99"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")
    },
      """SELECT source,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90,
        |  round(quantile_cont(n_chars, 0.99), 4) AS p99,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // Distinctive keywords: top-3 tokens per doc by tf, df-capped at 80%
    // of the corpus (integer-exact tf-idf shape; the harness corpus has a
    // deliberately tiny common vocabulary, so 50% would keep ~1 token).
    QuerySpec("text_keywords", (s, dir) => {
      Curation.distinctiveKeywords(t(s, dir, "documents"), "text", "doc_id",
          k = 3, maxDfFrac = 0.8)
        .orderBy("doc_id", "rank")
    }, keywordsOracle),

    // Same keywords through the bounded SmallestK heap aggregate (map-side
    // partial top-k, no per-group sort) — same oracle as text_keywords, so
    // the green oracle row proves the aggregate agrees with the window.
    QuerySpec("text_keywords_topk", (s, dir) => {
      Curation.distinctiveKeywordsViaTopKAgg(t(s, dir, "documents"), "text", "doc_id",
          k = 3, maxDfFrac = 0.8)
        .orderBy("doc_id", "rank")
    }, keywordsOracle)
  )

  /** `PartialRatio.compute(prefix, needle)` replayed: the shorter side
    * slides over the longer (constant series + bound filter, as in
    * `er_fuzzy_pairs`), so a prefix under 23 characters is scored against
    * needle windows of its own length and a 23–39-character prefix never
    * against a window cut short by its end; an empty prefix scores 0.
    */
  private val partialRatioOracle: String =
    """WITH p AS (SELECT doc_id, substr(text, 1, 40) AS pre FROM documents),
      |norm AS (
      |  SELECT doc_id,
      |    CASE WHEN len(pre) <= 23 THEN pre ELSE 'spark table join filter' END AS s,
      |    CASE WHEN len(pre) <= 23 THEN 'spark table join filter' ELSE pre END AS l
      |  FROM p WHERE len(pre) > 0),
      |win AS (
      |  SELECT doc_id,
      |    round(100 * (1.0 - levenshtein(s, substr(l, i, len(s))) * 1.0 / len(s))) AS r
      |  FROM norm, generate_series(1, 23) AS t(i)
      |  WHERE i <= len(l) - len(s) + 1)
      |SELECT p.doc_id, CAST(CASE WHEN len(p.pre) = 0 THEN 0 ELSE max(w.r) END AS INTEGER) AS score
      |FROM p LEFT JOIN win w USING (doc_id) GROUP BY p.doc_id, p.pre ORDER BY p.doc_id""".stripMargin

  private val tokenTotalsOracle: String =
    """SELECT source,
      |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens,
      |  count(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared by `text_keywords` (row_number window) and `text_keywords_topk`
    * (bounded SmallestK heap aggregate): same total order, different
    * physical plan — one oracle checks both implementations.
    */
  private val keywordsOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, token FROM (
      |    SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
      |    FROM documents)
      |  WHERE len(token) >= 3),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |keep AS (SELECT token FROM dfreq, nd WHERE df <= n_docs * 0.8),
      |ranked AS (
      |  SELECT tf.doc_id, tf.token, tf.tf,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf DESC, tf.token) AS rank
      |  FROM tf JOIN keep USING (token))
      |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, CAST(tf AS BIGINT) AS tf
      |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** DuckDB replay of [[graft.operators.Bpe.learnMerges]]: the merge loop is
    * a fold over the vocabulary, so ten merges unroll to ten chained CTE
    * stages. Each word's symbol list is carried as one string with every
    * symbol wrapped in a chr(31) unit separator (corpus verified free of
    * control chars), which makes the paper's left-to-right non-overlapping
    * mergeOnce a single `replace()`: a match consumes BOTH its separators,
    * so adjacent occurrences can't share one and the scan resumes exactly
    * where the Scala while-loop does. Early stop (max pair count < 2) falls
    * out naturally: `b_i` is empty, the LEFT JOIN leaves the state
    * untouched, and every later stage stays empty too.
    */
  private def bpeMergesOracle(nMerges: Int): String = {
    val S = "chr(31)"          // wrap separator
    val D = "chr(31)||chr(31)" // between-symbol separator (two wraps)
    val head =
      s"""WITH w0 AS (
         |  SELECT w, count(*) AS freq FROM (
         |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |    FROM documents)
         |  WHERE len(w) > 0 GROUP BY w),
         |state_0 AS (
         |  SELECT $S || array_to_string(list_append(string_split(w, ''), '</w>'), $D) || $S AS st, freq
         |  FROM w0)""".stripMargin
    val stages = (1 to nMerges).map { i =>
      val p = i - 1
      s""", p_$i AS (
         |  SELECT a, b, sum(freq) AS n FROM (
         |    SELECT syms[i] AS a, syms[i+1] AS b, freq FROM (
         |      SELECT string_split(trim(st, chr(31)), $D) AS syms, freq,
         |             unnest(range(1, len(string_split(trim(st, chr(31)), $D)))) AS i
         |      FROM state_$p))
         |  GROUP BY a, b),
         |b_$i AS (
         |  SELECT a, b FROM p_$i WHERE n >= 2 ORDER BY n DESC, a, b LIMIT 1),
         |state_$i AS (
         |  SELECT CASE WHEN b.a IS NULL THEN s.st
         |         ELSE replace(s.st, $S||b.a||$D||b.b||$S, $S||b.a||b.b||$S) END AS st,
         |         s.freq
         |  FROM state_$p s LEFT JOIN b_$i b ON TRUE)""".stripMargin
    }.mkString
    val unions = (1 to nMerges)
      .map(i => s"""SELECT CAST($i AS BIGINT) AS step, a AS "left", b AS "right" FROM b_$i""")
      .mkString("\n  UNION ALL ")
    s"""$head$stages
       |SELECT step, "left", "right" FROM (
       |  $unions)
       |ORDER BY step""".stripMargin
  }

  /** Shared CTE chain for the segment-replay oracles: the
    * [[bpeMergesOracle]] state machine with the surface word `w` carried
    * through every stage, so `state_N` IS the trained tokenizer's
    * per-word segmentation table (the apply path, Bpe.scala:90).
    */
  private def bpeSegmentChain(nMerges: Int): String = {
    val S = "chr(31)"
    val D = "chr(31)||chr(31)"
    val head =
      s"""WITH w0 AS (
         |  SELECT w, count(*) AS freq FROM (
         |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |    FROM documents)
         |  WHERE len(w) > 0 GROUP BY w),
         |state_0 AS (
         |  SELECT w, $S || array_to_string(list_append(string_split(w, ''), '</w>'), $D) || $S AS st, freq
         |  FROM w0)""".stripMargin
    val stages = (1 to nMerges).map { i =>
      val p = i - 1
      s""", p_$i AS (
         |  SELECT a, b, sum(freq) AS n FROM (
         |    SELECT syms[i] AS a, syms[i+1] AS b, freq FROM (
         |      SELECT string_split(trim(st, chr(31)), $D) AS syms, freq,
         |             unnest(range(1, len(string_split(trim(st, chr(31)), $D)))) AS i
         |      FROM state_$p))
         |  GROUP BY a, b),
         |b_$i AS (
         |  SELECT a, b FROM p_$i WHERE n >= 2 ORDER BY n DESC, a, b LIMIT 1),
         |state_$i AS (
         |  SELECT s.w,
         |         CASE WHEN b.a IS NULL THEN s.st
         |         ELSE replace(s.st, $S||b.a||$D||b.b||$S, $S||b.a||b.b||$S) END AS st,
         |         s.freq
         |  FROM state_$p s LEFT JOIN b_$i b ON TRUE)""".stripMargin
    }.mkString
    head + stages
  }

  /** bpe_encode oracle: per-word segmentation table joined back to each
    * doc's words in order (unnest-with-index), re-aggregated per doc.
    */
  private def bpeEncodeOracle(nMerges: Int): String =
    s"""${bpeSegmentChain(nMerges)},
       |seg AS (
       |  SELECT w, replace(trim(st, chr(31)), chr(31)||chr(31), ' ') AS seg
       |  FROM state_$nMerges),
       |wd AS (
       |  SELECT doc_id, i, syms[i] AS w FROM (
       |    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS syms,
       |           unnest(range(1, len(regexp_split_to_array(trim(text), '\\s+')) + 1)) AS i
       |    FROM documents)
       |  WHERE len(syms[i]) > 0),
       |agg AS (
       |  SELECT doc_id,
       |         string_agg(seg, ' ' ORDER BY i) AS tokens_str,
       |         CAST(sum(len(string_split(seg, ' '))) AS BIGINT) AS n_tokens
       |  FROM wd JOIN seg USING (w) GROUP BY doc_id)
       |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       |  coalesce(a.n_tokens, 0) AS n_tokens,
       |  coalesce(a.tokens_str, '') AS tokens_str
       |FROM (SELECT DISTINCT doc_id FROM documents) d
       |LEFT JOIN agg a USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** bpe_vocab oracle: unit histogram weighted by the word-frequency
    * dictionary — no doc-level join needed.
    */
  private def bpeVocabOracle(nMerges: Int): String =
    s"""${bpeSegmentChain(nMerges)},
       |seg AS (
       |  SELECT string_split(trim(st, chr(31)), chr(31)||chr(31)) AS units, freq
       |  FROM state_$nMerges)
       |SELECT unit, CAST(sum(freq) AS BIGINT) AS n
       |FROM (SELECT unnest(units) AS unit, freq FROM seg)
       |GROUP BY unit ORDER BY unit""".stripMargin
}
