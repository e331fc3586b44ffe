package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, fingerprinting.
  *
  * Everything is built from native `functions._` + higher-order array
  * functions (transform/aggregate/filter) — no UDFs, so the whole
  * pipeline stays inside whole-stage codegen and scales linearly with
  * no serialization cliffs. All ops are per-row (embarrassingly
  * parallel): at 100 TB they run map-side with zero shuffle.
  */
object Text {

  /** Canonical normalization shared by dedup/fingerprint ops:
    * lowercase, strip non-alphanumerics (keeping spaces), collapse
    * whitespace, trim. */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Homoglyph map for [[confusableSkeleton]]: common Cyrillic/Greek
    * Latin lookalikes plus typographic punctuation, each a single BMP
    * codepoint (both engines' `translate` walk codepoints; non-BMP
    * pairs would desynchronize Spark's UTF-16 walk). Curated subset of
    * Unicode TR39 confusables — extend per corpus, the mechanism is
    * the point. */
  val ConfusablePairs: Seq[(Char, Char)] = Seq(
    // Cyrillic → Latin
    'а' -> 'a', 'е' -> 'e', 'о' -> 'o', 'р' -> 'p', 'с' -> 'c',
    'х' -> 'x', 'у' -> 'y', 'і' -> 'i', 'ѕ' -> 's', 'ј' -> 'j',
    'А' -> 'A', 'В' -> 'B', 'Е' -> 'E', 'К' -> 'K', 'М' -> 'M',
    'Н' -> 'H', 'О' -> 'O', 'Р' -> 'P', 'С' -> 'C', 'Т' -> 'T',
    'Х' -> 'X',
    // Greek → Latin
    'ο' -> 'o', 'ν' -> 'v', 'α' -> 'a', 'Α' -> 'A', 'Β' -> 'B',
    'Ε' -> 'E', 'Ζ' -> 'Z', 'Η' -> 'H', 'Ι' -> 'I', 'Κ' -> 'K',
    'Μ' -> 'M', 'Ν' -> 'N', 'Ο' -> 'O', 'Ρ' -> 'P', 'Τ' -> 'T',
    'Υ' -> 'Y', 'Χ' -> 'X',
    // typographic punctuation → ASCII
    '’' -> '\'', '‘' -> '\'', '“' -> '"', '”' -> '"',
    '–' -> '-', '—' -> '-', '×' -> 'x')
  private[graft] val ConfusablesFrom = ConfusablePairs.map(_._1).mkString
  private[graft] val ConfusablesTo = ConfusablePairs.map(_._2).mkString
  /** Zero-width / BOM codepoints stripped outright (dedup-evasion
    * padding that `translate` can't delete). */
  private[graft] val ZeroWidth = "\u200B\u200C\u200D\uFEFF"

  /** Confusable skeleton — the anti-evasion dedup key: strip
    * zero-width characters, fold homoglyphs onto their Latin
    * skeletons. A document re-posted with Cyrillic 'о' for Latin 'o'
    * (the classic spam/plagiarism trick) then hashes identically.
    * Two codegen'd builtins (regexp_replace + translate), map-side;
    * compose with [[normalize]]/[[fingerprintMd5]] downstream. */
  def confusableSkeleton(text: Column): Column =
    translate(regexp_replace(text, s"[$ZeroWidth]", ""),
      ConfusablesFrom, ConfusablesTo)

  /** Whitespace tokenization. */
  def words(text: Column): Column = split(text, "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(words(text)).cast(LongType)

  /** C4-practice blocklist hits: the distinct blocked words a doc's
    * NORMALIZED text contains, sorted (C4 matches case-insensitively
    * on word boundaries — normalization gives both). The blocklist is
    * an in-plan ARRAY LITERAL: one codegen'd array_intersect per row,
    * ONE corpus scan, no join, no UDF, nothing to broadcast-build —
    * real blocklists are O(100–10k) words, far below any join
    * threshold, and a literal keeps the filter inside
    * whole-stage codegen (plan-pinned by the face's spec). */
  def blocklistHits(text: Column, blocklist: Seq[String]): Column = {
    require(blocklist.nonEmpty, "blocklistHits needs a non-empty blocklist")
    sort_array(array_intersect(
      array_distinct(words(normalize(text))),
      array(blocklist.map(lit): _*)))
  }

  /** Drop every doc whose text hits the blocklist (the C4 cleaning
    * gate); single pass, map-side. */
  def blocklistFilter(df: DataFrame, text: Column,
      blocklist: Seq[String]): DataFrame =
    df.filter(size(blocklistHits(text, blocklist)) === 0)

  /** PHRASE-level blocklist hits — real C4-practice blocklists carry
    * multi-word entries ("how to …") that word-set intersection
    * cannot see. Each phrase matches on word boundaries against the
    * space-padded normalized text via ONE higher-order `filter` over
    * the same in-plan array literal as [[blocklistHits]]: still one
    * corpus scan, no join, no UDF, codegen'd. Per-row cost is
    * O(|blocklist| × |text|) substring scans — fine for the O(100s–
    * few-1000s) entries production blocklists carry; a corpus-scale
    * DICTIONARY of phrases (100k+) wants the broadcast-join shingle
    * path instead ([[graft.ops.Ranking]]'s phrase postings), not this
    * literal. Phrases are normalized JVM-side with the same rules as
    * [[normalize]], so callers can pass raw entries. */
  def phraseBlocklistHits(text: Column, blocklist: Seq[String]): Column = {
    require(blocklist.nonEmpty,
      "phraseBlocklistHits needs a non-empty blocklist")
    val normed = blocklist.map(_.toLowerCase
      .replaceAll("[^a-z0-9\\s]", " ").replaceAll("\\s+", " ").trim)
      .filter(_.nonEmpty).distinct
    require(normed.nonEmpty,
      "phraseBlocklistHits: blocklist is empty after normalization")
    val padded = concat(lit(" "), normalize(text), lit(" "))
    sort_array(filter(array(normed.map(lit): _*),
      p => padded.contains(concat(lit(" "), p, lit(" ")))))
  }

  /** Drop every doc whose text hits a phrase of the blocklist. */
  def phraseBlocklistFilter(df: DataFrame, text: Column,
      blocklist: Seq[String]): DataFrame =
    df.filter(size(phraseBlocklistHits(text, blocklist)) === 0)

  /** BPE-ish regex tokenization: alphanumeric runs, or single
    * non-space symbols (GPT-2-style pretokenizer shape, public
    * pattern family). One codegen'd `regexp_extract_all` — the
    * pattern avoids lookarounds so an RE2-based oracle (DuckDB) can
    * replay it. */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]"), lit(0))

  /** Word n-gram shingles as space-joined strings. Empty when the doc
    * has fewer than n words.
    *
    * Formulated as ONE `regexp_extract_all` with a zero-width
    * lookahead capture at each word boundary (overlapping matches) —
    * a codegen'd native call. The equivalent HOF
    * (`transform(sequence(...), i => concat_ws(slice(...)))`)
    * evaluates its lambda interpreted per element and benchmarked 5×
    * slower on real documents; at 100 TB that difference is the whole
    * dedup-stage budget. */
  def shingles(text: Column, n: Int): Column = {
    require(n >= 1, "shingle size must be >= 1")
    val gram = Seq.fill(n)("\\S+").mkString(" ")
    regexp_extract_all(normalize(text), lit(s"(?:^| )(?=($gram))"), lit(1))
  }

  /** Character n-grams of the normalized text. */
  def charShingles(text: Column, n: Int): Column = {
    val t = normalize(text)
    when(length(t) < n, array().cast("array<string>")).otherwise(
      transform(
        sequence(lit(1), length(t) - (n - 1)),
        i => t.substr(i, lit(n))))
  }

  // ---- language ID ----

  /** Tiny public stopword seeds per language (heuristic n-gram/stopword
    * language ID — the standard trick: score = |words ∩ stopwords_L|,
    * argmax over L). Extend freely; kept small and deterministic. */
  val StopwordSeeds: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it",
      "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se",
      "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "que",
      "pour"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "den", "mit",
      "für", "ein"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "这", "中"))

  /** Per-language stopword-hit score: |tokens ∩ seeds(lang)|. */
  def stopwordHits(text: Column, lang: String): Column = {
    val seeds = array(StopwordSeeds(lang).map(lit): _*)
    size(array_intersect(array_distinct(words(normalize(text))), seeds))
      .cast(LongType)
  }

  /** Predicted language: argmax of stopword hits, "und" (undetermined)
    * when every score is 0. Deterministic tie-break: lexicographically
    * smallest language code among the max-scoring ones. */
  def langId(text: Column): Column = {
    val scored = StopwordSeeds.keys.toSeq.sorted.map { l =>
      struct((-stopwordHits(text, l)).as("neg"), lit(l).as("lang"),
        stopwordHits(text, l).as("hits"))
    }
    val best = array_min(array(scored: _*))
    when(best.getField("hits") === 0, lit("und"))
      .otherwise(best.getField("lang"))
  }

  // ---- writing-system (script) detection ----

  /** Unicode-script character classes as explicit BMP code-point
    * ranges — the Java-regex ∩ RE2 `\x{…}` form, shared VERBATIM by
    * both engines (script properties like `\p{Cyrillic}` differ in
    * coverage across regex engines; fixed ranges cannot drift).
    * Complements the stopword [[langId]]: stopword seeds cannot
    * separate languages they have no seeds for, but a script
    * histogram flags Cyrillic/CJK/Greek/Arabic/Devanagari content in
    * ANY language of that script — the multilingual-curation routing
    * signal. Supplementary-plane characters (CJK extension B+,
    * emoji) are outside every class by design: Spark counts UTF-16
    * units and DuckDB counts codepoints, so only BMP-range classes
    * are engine-portable. */
  val ScriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z\\x{00C0}-\\x{024F}]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "greek" -> "[\\x{0370}-\\x{03FF}]",
    "arabic" -> "[\\x{0600}-\\x{06FF}]",
    "devanagari" -> "[\\x{0900}-\\x{097F}]",
    "cjk" -> "[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}\\x{AC00}-\\x{D7AF}]")

  /** Per-script character counts: (name, count) per [[ScriptClasses]]
    * entry — length minus the length with that class deleted, one
    * codegen'd scalar per script. */
  def scriptCounts(text: Column): Seq[(String, Column)] =
    ScriptClasses.map { case (n, p) =>
      n -> (length(text) - length(regexp_replace(text, p, "")))
        .cast(LongType)
    }

  /** The DuckDB replay of one [[scriptCounts]] entry. */
  def scriptCountSql(name: String, expr: String): String = {
    val p = ScriptClasses.toMap.apply(name)
    s"(length($expr) - length(regexp_replace($expr, '$p', '', 'g')))" +
      "::BIGINT"
  }

  /** Dominant-script CASE over count columns named `n_<script>` —
    * ONE generated SQL expression evaluated by BOTH engines (Spark
    * via `expr`, DuckDB verbatim), so the argmax and its tie-break
    * (earliest in [[ScriptClasses]] wins; all-zero → 'und') cannot
    * drift. */
  def dominantScriptSql: String = {
    val names = ScriptClasses.map(_._1)
    val whens = names.zipWithIndex.map { case (n, i) =>
      val later = names.drop(i + 1)
      val conds = (s"n_$n > 0" +: later.map(m => s"n_$n >= n_$m"))
        .mkString(" AND ")
      s"WHEN $conds THEN '$n'"
    }
    s"CASE ${whens.mkString(" ")} ELSE 'und' END"
  }

  // ---- quality scoring ----

  /** Heuristic quality features (public Gopher/C4-style rule family):
    * length, token stats, punctuation & stopword ratios. */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val w = words(text)
    val nTok = size(w).cast(DoubleType)
    val allStops = array(
      StopwordSeeds.values.flatten.toSeq.distinct.map(lit): _*)
    Seq(
      "n_chars_obs" -> length(text).cast(LongType),
      "n_tokens" -> size(w).cast(LongType),
      "mean_word_len" ->
        (aggregate(w, lit(0L), (acc, x) => acc + length(x))
          .cast(DoubleType) / nTok),
      "punct_ratio" ->
        (length(regexp_replace(text, "[^.,;:!?]", "")).cast(DoubleType) /
          greatest(length(text), lit(1)).cast(DoubleType)),
      "stopword_ratio" ->
        (size(array_intersect(array_distinct(w), allStops))
          .cast(DoubleType) /
          greatest(size(array_distinct(w)), lit(1)).cast(DoubleType)))
  }

  /** Composite quality score in [0,1]: fraction of passed rule checks
    * (deterministic, explainable — not a learned model). */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    val checks = Seq(
      f("n_tokens") >= 5,
      f("n_tokens") <= 100000,
      f("mean_word_len") >= 2 && f("mean_word_len") <= 12,
      f("punct_ratio") <= 0.2,
      f("stopword_ratio") > 0)
    checks.map(c => when(c, 1.0).otherwise(0.0))
      .reduce(_ + _) / checks.size
  }

  /** The common UTF-8-read-as-Latin-1/Windows-1252 mojibake sequences
    * and their intended characters (the ftfy repair set's printable
    * core — sequences whose Windows-1252 rendering is unambiguous).
    * Ordered longest-first so three-byte punctuation sequences repair
    * before their two-byte "Ã"/"â" prefixes could mis-fire. */
  val MojibakePairs: Seq[(String, String)] = Seq(
    // E2 80 xx punctuation read as Windows-1252
    "â€œ" -> "“", "â€˜" -> "‘", "â€™" -> "’",
    "â€“" -> "–", "â€”" -> "—", "â€¦" -> "…",
    // C3 xx Latin letters read as Windows-1252
    "Ã©" -> "é", "Ã¨" -> "è", "Ãª" -> "ê", "Ã«" -> "ë",
    "Ã¡" -> "á", "Ã¢" -> "â", "Ã¤" -> "ä", "Ã§" -> "ç",
    "Ã­" -> "í", "Ã®" -> "î", "Ã¯" -> "ï", "Ã³" -> "ó",
    "Ã´" -> "ô", "Ã¶" -> "ö", "Ãº" -> "ú", "Ã»" -> "û",
    "Ã¼" -> "ü", "Ã±" -> "ñ",
    // C2 xx: a stray Â before «»°·/NBSP is the tell
    "Â«" -> "«", "Â»" -> "»", "Â°" -> "°", "Â·" -> "·")

  /** ftfy-style repair of [[MojibakePairs]] — the standard cleaning
    * step for crawl text that went through one wrong decode (Speer,
    * ftfy; every public crawl pipeline ships some form of it). A
    * literal replace chain: codegen'd scalar work, one pass, no UDF,
    * and the identical chain replays in any engine
    * ([[fixMojibakeSql]]). */
  def fixMojibake(text: Column): Column =
    MojibakePairs.foldLeft(text) { case (c, (bad, good)) =>
      replace(c, lit(bad), lit(good))
    }

  /** Characters recovered by [[fixMojibake]] — an exact integer
    * mojibake signal (0 = clean): every repair strictly shrinks the
    * string, so the length delta counts repaired sequences' excess. */
  def mojibakeChars(text: Column): Column =
    (length(text) - length(fixMojibake(text))).cast(LongType)

  /** The DuckDB replay of [[fixMojibake]] over a SQL expression —
    * generated from the SAME pair list, so the two engines can never
    * drift. */
  def fixMojibakeSql(colExpr: String): String =
    MojibakePairs.foldLeft(colExpr) { case (e, (bad, good)) =>
      s"replace($e, '$bad', '$good')"
    }

  /** The eight Gopher stop words (Rae et al. 2021, arXiv:2112.11446
    * §A1.1): a document must contain at least two to pass the
    * stop-word rule. */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher quality-rule gate (Rae et al. 2021 §A1.1) — the
    * thresholded keep/drop decision production pipelines actually
    * deploy, as named per-rule booleans plus the conjunction:
    *
    *  - `word_count_ok`: word count in [minWords, maxWords]
    *  - `mean_word_len_ok`: mean word length in [3, 10]
    *  - `symbol_ratio_ok`: (# of '#' + ellipsis) / words ≤ 0.1
    *  - `bullet_ok`: ≤ 10% of lines start with a bullet
    *  - `ellipsis_ok`: ≤ 30% of lines end with an ellipsis
    *  - `alpha_ok`: ≥ 80% of words contain an alphabetic character
    *  - `stopword_ok`: ≥ 2 distinct [[GopherStops]] present
    *  - `gopher_keep`: all of the above
    *
    * Everything is codegen'd scalar expressions — ONE corpus scan,
    * zero joins, zero UDFs — and every rule replays relationally in
    * DuckDB (the q_gopher_rules oracle). Ratio comparisons divide two
    * exact integers, so the booleans are engine-portable (a boundary
    * case would need the ratio to equal the threshold exactly, which
    * both engines compute identically from the same ints).
    *
    * `stops` defaults to the paper's English list; pipelines over
    * other languages/domains substitute their own (the rule's intent
    * is "natural-language prose", not those 8 literal words). */
  def gopherRules(text: Column, minWords: Int = 50,
      maxWords: Int = 100000,
      stops: Seq[String] = GopherStops): Seq[(String, Column)] = {
    val w = words(text)
    val nw = size(w).cast(LongType)
    val nwD = greatest(nw, lit(1L)).cast(DoubleType)
    val meanLen = length(regexp_replace(text, "\\s", ""))
      .cast(DoubleType) / nwD
    val symbols =
      (size(split(text, "#", -1)) - 1 +
        (size(split(text, "\\.\\.\\.", -1)) - 1) +
        (size(split(text, "…", -1)) - 1)).cast(LongType)
    val lines = split(text, "\n")
    val nLines = greatest(size(lines), lit(1)).cast(DoubleType)
    val bulletLines = size(filter(lines,
      l => ltrim(l).rlike("^[-*•]"))).cast(DoubleType)
    val ellipsisLines = size(filter(lines,
      l => rtrim(l).rlike("(\\.\\.\\.|…)$"))).cast(DoubleType)
    val alphaWords = size(filter(w, x => x.rlike("[A-Za-z]")))
      .cast(DoubleType)
    val stopsArr = array(stops.map(lit): _*)
    val rules = Seq(
      "word_count_ok" -> (nw >= minWords && nw <= maxWords),
      "mean_word_len_ok" -> (meanLen >= 3.0 && meanLen <= 10.0),
      "symbol_ratio_ok" -> (symbols.cast(DoubleType) / nwD <= 0.1),
      "bullet_ok" -> (bulletLines / nLines <= 0.1),
      "ellipsis_ok" -> (ellipsisLines / nLines <= 0.3),
      "alpha_ok" -> (alphaWords / nwD >= 0.8),
      "stopword_ok" ->
        (size(array_intersect(array_distinct(w), stopsArr)) >= 2))
    rules :+ ("gopher_keep" -> rules.map(_._2).reduce(_ && _))
  }

  /** Learned-model scoring seam: a logistic scorer over
    * [[qualityFeatures]] with LITERAL coefficients — the deployment
    * shape of a trained quality classifier (fastText / logistic
    * regression) distilled to weights. The model ships as numbers in
    * the plan: scoring is pure codegen'd expressions, map-side, no
    * UDF/JNI, and the same coefficients paste into any engine (which
    * is how the DuckDB oracle recomputes it). Weight keys must name
    * [[qualityFeatures]] entries. */
  def linearModelScore(
      text: Column,
      weights: Map[String, Double],
      bias: Double): Column = {
    val f = qualityFeatures(text).toMap
    require(weights.keySet.subsetOf(f.keySet),
      s"unknown feature(s): ${weights.keySet -- f.keySet}")
    val z = weights.toSeq.sortBy(_._1).foldLeft(lit(bias)) {
      case (acc, (name, w)) => acc + lit(w) * f(name).cast(DoubleType)
    }
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Record linkage: all pairs within unit edit distance, via the
    * deletion-neighborhood device (SymSpell, public): if
    * levenshtein(a, b) ≤ 1 then {a} ∪ del1(a) and {b} ∪ del1(b)
    * intersect (substitution → same single deletion; insert/delete →
    * one side's variant IS the other; equality → self), so an
    * equi-join on deletion variants is COMPLETE — zero false
    * negatives — and an exact levenshtein rescore drops the false
    * positives (e.g. "ab"/"ba" share variant "a" at distance 2).
    *
    * Scale shape: one generator fans each string into len+1 variants
    * (apply to KEY-sized columns — names, titles — not documents),
    * one hash equi-join on the variant, rescore on the candidate
    * minority. The classic all-pairs levenshtein join this replaces
    * is O(n²·len²) and never survives a big table. Candidate volume
    * tracks variant-key collisions: serial-number-style keys with
    * long shared prefixes (the TPC-H fixture is the worst case) fan
    * wider than natural names; a skewed hot variant is a
    * [[graft.ops.Skew.saltedJoin]] candidate.
    */
  def editDistance1Pairs(
      df: DataFrame, id: String, strCol: String): DataFrame = {
    val s = col(strCol)
    val delVars = transform(sequence(lit(0), length(s) - 1),
      i => concat(s.substr(lit(1), i), s.substr(i + lit(2), length(s))))
    val vars = array_distinct(
      when(length(s) === 0, array(s)) // sequence(0,-1) would not analyze
        .otherwise(concat(array(s), delVars)))
    val side = df.select(col(id), s, explode(vars).as("__var"))
    val a = side.toDF("a", "__sa", "__v")
    val b = side.toDF("b", "__sb", "__v2")
    a.join(b, col("__v") === col("__v2") && col("a") < col("b"))
      // rescore BEFORE dedup (project-then-filter): a candidate
      // appears once per shared variant (≤ 3×) and the rescore is far
      // cheaper than shuffling every raw candidate through distinct —
      // the exchange then carries only true pairs. The rescore itself
      // is [[graft.plans.OneEditDist]], the O(n) two-pointer unit-
      // distance kernel: the full levenshtein DP was the dominant
      // cost of the whole join (it also runs twice per candidate once
      // the optimizer copies the filter into the join condition);
      // dist ∈ {0,1} on kept rows equals levenshtein exactly
      // (property-checked in TextSpec)
      .select(col("a"), col("b"),
        graft.plans.OneEditDist.oneEdit(col("__sa"), col("__sb")).as("dist"))
      .filter(col("dist") >= 0)
      .distinct()
  }

  /** Entity resolution: collapse records whose `strCol` mentions are
    * transitively within unit edit distance into golden records — the
    * classic match→cluster→merge pipeline (Fellegi-Sunter linkage +
    * transitive closure), composed from this engine's own parts:
    * [[editDistance1Pairs]] (complete deletion-neighborhood banding)
    * for match and [[Graph.connectedComponents]] (large-star/
    * small-star) for cluster, so resolution inherits both operators'
    * scale contracts.
    *
    * Scale shape, in order:
    *  1. EXACT collapse first: `groupBy(strCol)` → (string, rep =
    *     min id, multiplicity). Real corpora repeat mentions; running
    *     the pair join on raw rows would emit every dist-0 pair —
    *     quadratic in duplicate-group size (31 copies of a name at
    *     sf0.01 is already 465 pairs; 100 TB makes it fatal). After
    *     the collapse, candidate volume is quadratic only in DISTINCT
    *     near-neighborhoods.
    *  2. [[editDistance1Pairs]] over distinct strings only.
    *  3. CC over the rep graph — dim-sized (|distinct strings|), with
    *     every rep in the universe so unmatched strings come back as
    *     their own golden record.
    *  4. Map labels back to member rows through the string — one
    *     equi-join; the label frame is dim-sized, broadcast-eligible.
    *
    * Because rep = min member id per string and component = min rep,
    * the component label IS the minimum member id of the cluster —
    * the canonical record, whose attributes are joined back without
    * any extra ranking pass.
    *
    * Output: (id, canonical, canonical_<strCol>, n_members) — one row
    * per input row; `canonical` the min id in the cluster,
    * `canonical_<strCol>` that record's mention, `n_members` the
    * cluster's total row count. Deterministic; ids must be non-null
    * and unique. `ccMaxIters` is the round budget for the component
    * pass ([[Graph.connectedComponents]] fails loudly rather than
    * returning partial clusters; raise it for pathological mention
    * graphs instead of editing library code).
    */
  def resolveEntities(
      df: DataFrame, id: String, strCol: String,
      ccMaxIters: Int = 30): DataFrame = {
    val canonCol = s"canonical_$strCol"
    val reps = df.groupBy(col(strCol).as("__str"))
      .agg(min(col(id)).as("__rep"), count(lit(1)).as("__mult"))
    val pairs = editDistance1Pairs(
      reps.select(col("__rep"), col("__str")), "__rep", "__str")
      .select(col("a"), col("b"))
    val labels = Graph.connectedComponents(
      pairs, nodes = Some(reps.select(col("__rep"))),
      maxIters = ccMaxIters)
      .withColumnRenamed("node", "__rep")
      .withColumnRenamed("component", "canonical")
    // dim-sized: (string, rep, multiplicity, canonical)
    val strLab = reps.join(labels, "__rep")
    val sizes = strLab.groupBy(col("canonical"))
      .agg(sum(col("__mult")).as("n_members"))
    val canon = df.select(col(id).as("__cid"), col(strCol).as(canonCol))
    val dim = strLab.join(sizes, "canonical")
      .join(canon, col("canonical") === col("__cid"))
      .select(col("__str"), col("canonical"), col(canonCol),
        col("n_members"))
    df.select(col(id), col(strCol).as("__str"))
      .join(dim, "__str")
      .select(col(id), col("canonical"), col(canonCol), col("n_members"))
  }

  /** Exact repeated-substring SPAN removal — the span-level sibling of
    * document dedup (Lee et al. 2022, arXiv:2107.06499: duplicated
    * training substrings are memorized disproportionately; removing
    * the SPANS beats dropping whole documents). A token span is
    * removed when some `k`-gram covering it occurs at least
    * `minCount` times corpus-wide (within- or cross-document).
    *
    * Shape: one shingle pass ([[shingles]] — position-ordered, so
    * gram j starts at token j), one count aggregation on the gram,
    * one equi-join back for the duplicated grams' positions, one
    * per-doc mask. All shuffles are equi-key; the per-doc mask is
    * array work bounded by document length. The gram SHUFFLE carries
    * k-token strings — at 100 TB swap the join/count key to
    * xxhash64(gram) (64-bit collisions would mis-drop ~nothing, but
    * the string form is kept here for exactness and the DuckDB
    * oracle).
    *
    * Output: (id, clean) where `clean` is the normalized text with
    * covered tokens removed (space-joined). Documents shorter than
    * `k` tokens pass through whole. Deterministic.
    */
  def dropRepeatedSpans(
      docs: DataFrame, id: String, textCol: String,
      k: Int = 10, minCount: Int = 2): DataFrame = {
    require(k >= 1, s"span gram size must be >= 1, got $k")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val base = docs.select(col(id).as("__id"),
      words(normalize(col(textCol))).as("__w"),
      shingles(col(textCol), k).as("__g"))
    val gramRows = base.select(col("__id"),
      posexplode(col("__g")).as(Seq("__gpos", "__gram")))
    val dup = gramRows.groupBy("__gram").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minCount).select("__gram")
    val covered = gramRows.join(dup, "__gram")
      .groupBy("__id")
      .agg(sort_array(collect_set(col("__gpos"))).as("__starts"))
    base.join(covered, Seq("__id"), "left")
      .withColumn("__starts",
        coalesce(col("__starts"), array().cast("array<int>")))
      .select(col("__id").as(id),
        array_join(
          filter(col("__w"), (t, i) =>
            !exists(col("__starts"), s => i >= s && i < s + lit(k))),
          " ").as("clean"))
  }

  /** CCNet/RefinedWeb-style boilerplate removal: a LINE that recurs
    * across ≥ `minDocs` distinct documents of the same `group`
    * (domain, source crawl, template family) is navigation / cookie
    * banner / footer chrome, not content — strip it from every doc in
    * that group while preserving the order of the surviving lines.
    *
    * Output: (id, clean, n_removed) — the reassembled document plus
    * how many of its lines were dropped (the usual per-domain
    * boilerplate-rate monitoring signal).
    *
    * Scale shape: explode to (doc, pos, line) rows once; the
    * boilerplate set is a grouped `countDistinct(doc)` over
    * (group, line) — map-side partial aggregation eats the heavy
    * repetition (the whole point: boilerplate lines are the most
    * duplicated values in the shuffle, so combiners collapse them
    * before the wire). Reassembly is one `collect_list` back to doc
    * grain. A 100 TB corpus pays two shuffles keyed by values whose
    * cardinality the dedup itself bounds. No driver state.
    */
  def boilerplateLines(
      docs: DataFrame, id: String, group: String, textCol: String,
      minDocs: Int, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = docs.select(col(id).as("__id"), col(group).as("__g"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("__pos", "__line")))
    val bp = lines.groupBy("__g", "__line")
      .agg(countDistinct(col("__id")).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__g"), col("__line"), lit(true).as("__bp"))
    lines.join(bp, Seq("__g", "__line"), "left")
      .groupBy("__id")
      .agg(
        array_join(transform(
          filter(sort_array(collect_list(struct(col("__pos"),
            col("__line"), coalesce(col("__bp"), lit(false)).as("__bp")))),
            x => !x.getField("__bp")),
          x => x.getField("__line")), sep).as("clean"),
        sum(when(col("__bp"), 1L).otherwise(0L)).as("n_removed"))
      .select(col("__id").as(id), col("clean"), col("n_removed"))
  }

  /** CCNet-style corpus-wide paragraph deduplication (Wenzek et al.
    * 2020, arXiv:1911.00359 §3.2): every paragraph is hashed after
    * normalization and only the FIRST occurrence corpus-wide survives
    * — later copies (across documents AND repeats inside one
    * document) are removed. "First" is deterministic: minimum
    * (id, position) in column order, so the op is layout- and
    * partitioning-independent. This differs from [[boilerplateLines]]
    * on both sides: that op removes EVERY copy of a line once it
    * recurs in ≥ k docs of a group; this one always keeps exactly one
    * copy, globally.
    *
    * Paragraphs whose NORMALIZED form is empty (blank lines,
    * punctuation-only) are exempt — deduping them would collapse
    * every blank separator in the corpus onto one document.
    *
    * Output: (id, clean, n_removed) like [[boilerplateLines]].
    *
    * Scale shape: one posexplode pass; the first-occurrence table is
    * ONE grouped `min(struct(id, pos))` keyed by the normalized
    * paragraph — map-side partials collapse exactly the heavy
    * duplicated paragraphs before the wire (the same argument as
    * [[boilerplateLines]]); one equi-join back on that key; one
    * collect_list reassembly at doc grain. At 100 TB swap the
    * group/join key to xxhash64 of the normalized paragraph so the
    * shuffle carries 8 bytes instead of the paragraph text (kept as
    * the string here for the byte-exact DuckDB replay). No driver
    * state.
    */
  def dedupParagraphs(
      docs: DataFrame, id: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val paras0 = docs.select(col(id).as("__id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("__pos", "__p")))
      .withColumn("__np", normalize(col("__p")))
    // first-occurrence aggregate: min over (id, pos) IN COLUMN ORDER.
    // For integral ids the pair is packed into ONE decimal ordering
    // scalar (id·2³² + pos — pos is a posexplode int so the packing is
    // order-preserving, negative ids included) because min over an
    // atomic type keeps a mutable buffer and stays in HashAggregate;
    // min(struct) has an immutable buffer and falls to SortAggregate,
    // which pays a per-partition sort of every paragraph row (the LPA
    // argmax device, plan-pinned on the face). Non-integral ids take
    // the struct path — correct, just sort-aggregated.
    val integralId = docs.schema(id).dataType match {
      case _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val keyed =
      if (integralId)
        paras0.withColumn("__ord",
          col("__id").cast("decimal(28,0)") * lit(4294967296L) +
            col("__pos"))
      else
        paras0.withColumn("__ord", struct(col("__id"), col("__pos")))
    val first = keyed.filter(length(col("__np")) > 0)
      .groupBy("__np")
      .agg(min(col("__ord")).as("__ford"))
    keyed.join(first, Seq("__np"), "left")
      .withColumn("__keep",
        col("__ford").isNull || (col("__ord") === col("__ford")))
      .groupBy("__id")
      .agg(
        array_join(transform(
          filter(sort_array(collect_list(struct(col("__pos"), col("__p"),
            col("__keep")))), x => x.getField("__keep")),
          x => x.getField("__p")), sep).as("clean"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_removed"))
      .select(col("__id").as(id), col("clean"), col("n_removed"))
  }

  // ---- repetition features (Gopher-style duplicate-fraction rules) ----

  /** Fraction of word tokens that are repeats of an earlier token:
    * 1 - |distinct words| / |words|. High values flag boilerplate /
    * keyword-stuffed documents. */
  def dupWordRatio(text: Column): Column = {
    val w = words(normalize(text))
    when(size(w) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(w)).cast(DoubleType) /
        size(w).cast(DoubleType))
  }

  /** Fraction of n-gram shingles that are duplicates — the standard
    * "duplicate n-gram fraction" repetition signal. */
  def dupShingleRatio(text: Column, n: Int): Column = {
    val sh = shingles(text, n)
    when(size(sh) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(sh)).cast(DoubleType) /
        size(sh).cast(DoubleType))
  }

  /** CORPUS-level n-gram diversity per slice (the self-repetition /
    * memorization-risk gate the per-document ratios above can't see:
    * a corpus of individually-clean documents that all share the same
    * template has low cross-document diversity). Per `slice` value:
    * total n-gram occurrences and distinct n-gram types — the
    * type-token ratio's numerator and denominator as exact BIGINTs
    * (the consumer picks its own ratio/threshold; no float leaves
    * this op).
    *
    * Scale shape: one map-side shingle explode, then ONE two-level
    * aggregation — (slice, gram) with map-side combine (the dedup
    * happens in the partial aggregate, so the shuffle carries each
    * distinct gram once per partition, not once per occurrence),
    * folded to per-slice totals on dim-sized data. Never
    * `countDistinct` over the raw explode (whose expand-mode plan
    * shuffles every occurrence).
    */
  def ngramDiversity(
      docs: org.apache.spark.sql.DataFrame, slice: String,
      text: Column, n: Int): org.apache.spark.sql.DataFrame =
    docs.select(col(slice), explode(shingles(text, n)).as("__g"))
      .groupBy(col(slice), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(slice))
      .agg(sum("__c").as("n_grams"), count(lit(1)).as("n_distinct"))

  /** Cross-slice n-gram contamination matrix: for every pair of
    * slices (train/test/benchmark splits, source domains), how many
    * distinct n-gram TYPES they share. The audit face of
    * decontamination — "which benchmark leaks into which training
    * slice, and how badly" — where the decontaminate op then removes
    * the offenders.
    *
    * Scale shape: one shingle pass (per-doc dedup map-side via
    * `array_distinct` before the explode), one distinct on
    * (slice, gram), then grams fold to their SORTED slice set (≤
    * #slices entries — dim-bounded however hot the gram) and the
    * pair expansion is a map-side HOF over that tiny array. The
    * output is (#slices choose 2) rows. No gram ever meets the
    * corpus again: cost is one pass + two gram-keyed shuffles.
    */
  def overlapMatrix(
      docs: org.apache.spark.sql.DataFrame, sliceCol: String,
      text: Column, n: Int): org.apache.spark.sql.DataFrame = {
    val gs = docs
      .select(col(sliceCol).as("__s"),
        explode(array_distinct(shingles(text, n))).as("__g"))
      .distinct()
    val pairs = gs.groupBy("__g")
      .agg(sort_array(collect_set(col("__s"))).as("__ss"))
      .select(explode(flatten(transform(col("__ss"), (x, i) =>
        transform(
          slice(col("__ss"), i + lit(2),
            greatest(size(col("__ss")) - i - 1, lit(0))),
          y => struct(x.as("a"), y.as("b")))))).as("__p"))
    pairs.groupBy(col("__p.a").as("slice_a"), col("__p.b").as("slice_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Deflate compression ratio per document: compressed_bytes /
    * raw_bytes — the standard boilerplate/noise signal the native
    * repetition ratios approximate (highly repetitive or low-entropy
    * text compresses far below ~0.4; random noise stays near 1).
    *
    * A JVM kernel by necessity (zlib is not expressible in Catalyst):
    * typed mapPartitions with one Deflater reused per partition, like
    * the other explicit kernels. Deterministic for a fixed level, so
    * golden-snapshot checkable. Empty/null text → ratio 0.
    */
  def compressionRatios(
      docs: org.apache.spark.sql.DataFrame, id: String,
      textCol: String, level: Int = 6): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(id).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(level)
        val buf = new Array[Byte](64 * 1024)
        rows.map { case (docId, text) =>
          if (text == null || text.isEmpty) (docId, 0.0)
          else {
            val raw = text.getBytes("UTF-8")
            deflater.reset()
            deflater.setInput(raw)
            deflater.finish()
            var compressed = 0L
            while (!deflater.finished()) {
              compressed += deflater.deflate(buf)
            }
            (docId, compressed.toDouble / raw.length)
          }
        }
      }
      .toDF(id, "compression_ratio")
  }

  // ---- fingerprinting ----

  /** Content fingerprint of the normalized text (md5 — stable across
    * engines, used as the exact-dedup key). */
  def fingerprintMd5(text: Column): Column = md5(normalize(text))

  /** Winnowing fingerprint selection (Schleimer-Wilkerson-Aiken,
    * SIGMOD'03 — the MOSS plagiarism-detector sketch): hash every
    * character k-gram of the normalized text, then keep the MINIMUM
    * hash of each sliding window of w consecutive gram hashes.
    * Guarantee (the paper's point, and what the spec pins): any
    * shared substring of >= w + k − 1 characters contributes at least
    * one SHARED selected fingerprint — a detection floor uniform
    * sampling cannot give — while the expected density of selected
    * prints is only 2/(w+1) of all grams, so the sketch is a bounded
    * fraction of the document. Gram hashes are md5-prefix bigints
    * (the engine's cross-engine draw device), so the whole selection
    * replays byte-for-byte in a DuckDB oracle. Entirely map-side
    * array HOFs — no shuffle, no UDF; near-dup CANDIDATES then come
    * from an equi-join on the selected prints, never all-pairs.
    * Shorter-than-k docs select nothing; docs with fewer than w grams
    * select the single global minimum (the guarantee degenerates to
    * exact containment at that length). Returns the sorted distinct
    * fingerprint set.
    */
  def winnowFingerprints(
      df: DataFrame, id: String, text: Column,
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2, s"gram size must be >= 2: $k")
    require(w >= 1, s"window must be >= 1: $w")
    // STAGED projections on purpose: each HOF lambda must reference a
    // materialized ATTRIBUTE, never an expression tree — an outer
    // expression inside a lambda body is re-evaluated PER ELEMENT
    // (measured: normalize-inside-charShingles made this op O(len^2)
    // regex work per document). CollapseProject leaves multi-use
    // non-cheap attributes alone, so the stages stay one-pass. Grams
    // come from ONE regexp_extract_all with a lookahead capture (the
    // [[shingles]] device) — overlapping matches, normalize evaluated
    // once.
    val h = df
      .select(col(id), normalize(text).as("__nt"))
      .select(col(id),
        regexp_extract_all(col("__nt"), lit(s"(?=(.{$k}))"), lit(1))
          .as("__g"))
      .select(col(id),
        transform(col("__g"),
          g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))
          .as("__h"))
    h.select(col(id),
      when(size(col("__h")) === 0, array().cast("array<long>"))
        .otherwise(when(size(col("__h")) <= w, array(array_min(col("__h"))))
          .otherwise(array_sort(array_distinct(transform(
            sequence(lit(1), size(col("__h")) - (w - 1)),
            i => array_min(slice(col("__h"), i, lit(w))))))))
        .as("fingerprints"))
  }

  /** Winnowing near-dup candidates: pairs of documents sharing at
    * least `minShared` selected prints, via ONE posting equi-join on
    * the fingerprint — the MOSS match step, never all-pairs. Prints
    * in more than `maxDf` documents are dropped first (the paper's
    * "too common to be evidence" rule) — boilerplate prints carry no
    * match signal AND would make the join quadratic in the hottest
    * print's postings (measured on the sf corpus: hottest print in
    * 328/500 docs; the cap cuts candidates 108k → 1.9k). The print
    * frame is checkpointed: the df filter + self-join read it three
    * times, and — measured — InferFiltersFromGenerate otherwise
    * copies the whole fingerprint expression into an inferred
    * size(...)>0 filter under the explode, where the window lambda
    * re-evaluates the hash transform per element (O(len²) md5; one
    * task burned 880 s CPU at sf0.1). Returns (a, b, n_shared).
    */
  def winnowNearDupCandidates(
      df: DataFrame, id: String, text: Column,
      k: Int = 8, w: Int = 4, maxDf: Int = 10, minShared: Int = 2)
      : DataFrame = {
    val fpsFrame =
      winnowFingerprints(df, id, text, k, w).localCheckpoint()
    val prints = fpsFrame
      .select(col(id), explode(col("fingerprints")).as("fp"))
    val rare = prints.groupBy(col("fp"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("fp"))
    val pruned = prints.join(rare, Seq("fp"), "left_semi")
    pruned.as("x")
      .join(pruned.as("y"),
        col(s"x.fp") === col(s"y.fp") && col(s"x.$id") < col(s"y.$id"))
      .groupBy(col(s"x.$id").as("a"), col(s"y.$id").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** 64-bit rolling fingerprint over normalized-text words: the
    * accumulator is re-hashed with each word, h = xxhash64(h, word)
    * (order-sensitive, like a Rabin-Karp chain but with no modular
    * arithmetic — important because Spark 4's default ANSI mode turns
    * a polynomial hash's intentional wraparound into a runtime
    * ARITHMETIC_OVERFLOW). Native `aggregate` HOF — no UDF. */
  def fingerprintRolling(text: Column): Column =
    aggregate(
      words(normalize(text)),
      lit(0L),
      (acc, w) => xxhash64(acc, w))

  // ---- PII redaction ----

  /** (pattern, replacement) chain for PII scrubbing, applied in order:
    * emails → IPv4 → phone-like digit runs → long digit runs (IDs,
    * card numbers). Order matters — later patterns would otherwise
    * match digits an earlier redaction consumes (an IPv4 is also a
    * phone-shaped digit run). Patterns are RE2-compatible (no
    * backreferences or lookaround) so Spark's Java regex and DuckDB's
    * RE2 produce byte-identical output — the chain is oracle-checked,
    * not just spec'd. The phone class uses a literal space, not \\s, so
    * a match can never swallow a line break.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b" -> "<IP>",
    // a phone needs at least one separator after the leading digits —
    // contiguous long runs (card/id numbers) fall through to <NUM>
    "\\+?[0-9]{1,4}[()\\-. ][0-9()\\-. ]{4,}[0-9]" -> "<PHONE>",
    "[0-9]{9,}" -> "<NUM>")

  /** Scrub PII from free text: one codegen'd `regexp_replace` per
    * [[PiiPatterns]] entry — pure map-side, no shuffle, no UDF. The
    * aggressive phone pattern intentionally over-matches spaced digit
    * runs; training-data scrubbing prefers recall over precision. */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (p, r)) =>
      regexp_replace(c, p, r)
    }

  /** DuckDB equivalent of [[redactPii]] over a column expression —
    * generated from the same [[PiiPatterns]] so the two faces cannot
    * drift. Single quotes in a pattern or replacement are doubled on
    * the way into the SQL literal, so a future entry containing an
    * apostrophe generates correct SQL instead of a silent breakage. */
  def redactPiiSql(colExpr: String): String = {
    def q(s: String): String = s.replace("'", "''")
    PiiPatterns.foldLeft(colExpr) { case (e, (p, r)) =>
      s"regexp_replace($e, '${q(p)}', '${q(r)}', 'g')"
    }
  }

  // ---- URL decomposition (crawl metadata) ----

  /** One RE2-compatible regex splitting a URL into
    * scheme://host path ?query — no java.net driver-side parsing, so
    * extraction stays inside whole-stage codegen and DuckDB evaluates
    * the identical pattern (capture-group semantics match). Malformed
    * URLs yield empty strings, never errors. */
  val UrlRegex = "^([a-z][a-z0-9+.-]*)://([^/?#]*)([^?#]*)\\??([^#]*)"

  def urlScheme(url: Column): Column = regexp_extract(url, UrlRegex, 1)
  def urlHost(url: Column): Column = regexp_extract(url, UrlRegex, 2)
  def urlPath(url: Column): Column = regexp_extract(url, UrlRegex, 3)
  def urlQuery(url: Column): Column = regexp_extract(url, UrlRegex, 4)

  /** Query parameters dropped by [[canonicalUrl]] — the standard
    * tracking/attribution keys that vary per click without changing
    * the resource (utm_* campaign tags, Google/Facebook click ids,
    * bare referrer tags). */
  val TrackingParamRegex = "^(utm_[a-z0-9_]*|gclid|fbclid|ref)="

  /** Canonical URL — the crawl-dedup key: the same resource fetched
    * through case-variant hosts, default ports, `www.`, tracking
    * parameters, shuffled query strings, trailing slashes, or
    * fragments must map to ONE string before URL-level dedup (every
    * public crawl pipeline normalizes some such set; this is the
    * common core). Rules, in order: lowercase scheme+host; strip
    * `www.` and the scheme's default port; strip the fragment (the
    * parse regex never captures it); drop [[TrackingParamRegex]]
    * query params, SORT the survivors; collapse trailing slashes
    * (root stays "/", empty path becomes "/"). Malformed input (no
    * scheme://) canonicalizes to NULL — filter, don't guess.
    *
    * All codegen'd scalar work on one (?i) variant of [[UrlRegex]];
    * DuckDB's RE2 evaluates the identical pattern and list pipeline,
    * so the q_canonical_url oracle replays byte-for-byte. */
  def canonicalUrl(url: Column): Column = {
    val rx = "(?i)^([a-z][a-z0-9+.-]*)://([^/?#]*)([^?#]*)\\??([^#]*)"
    val scheme = lower(regexp_extract(url, rx, 1))
    val host0 = regexp_replace(lower(regexp_extract(url, rx, 2)),
      "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .otherwise(host0)
    val stripped = regexp_replace(regexp_extract(url, rx, 3), "/+$", "")
    val path = when(stripped === "", lit("/")).otherwise(stripped)
    val kept = filter(split(regexp_extract(url, rx, 4), "&"),
      p => p =!= "" && !lower(p).rlike(TrackingParamRegex))
    val canonQ = array_join(array_sort(kept), "&")
    when(scheme === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, path,
        when(canonQ === "", lit("")).otherwise(concat(lit("?"), canonQ))))
  }

  /** Last two host labels, port stripped — the per-domain key for
    * crawl caps and source mixing (pair with the k-per-group sampler
    * to cap docs per domain). A public-suffix list would refine
    * co.uk-style hosts; out of scope without network data. */
  def urlDomain(url: Column): Column =
    regexp_extract(
      regexp_extract(urlHost(url), "^([^:]*)", 1),
      "([^.]+\\.[^.]+)$", 1)

  // ---- sentence segmentation + readability ----

  /** Regex-grade sentence segmentation: maximal runs of
    * non-terminator characters with their trailing `.!?` run
    * attached, trimmed, empties dropped — one shared Java∩RE2
    * pattern (sentence splitters built on lookbehind, the usual
    * formulation, cannot run on RE2). Deliberately abbreviation-
    * naive ("Dr. Smith" is two sentences) — the trade every
    * regex-grade splitter makes; a model-based splitter is a
    * different tool. */
  val SentenceRegex = "[^.!?]+[.!?]*"

  def sentences(text: Column): Column =
    filter(
      transform(
        regexp_extract_all(text, lit(SentenceRegex), lit(0)),
        x => trim(x)),
      x => length(x) > 0)

  /** Heuristic syllable count: vowel GROUPS (aeiouy runs) of the
    * lowercased text — the standard Flesch-family approximation;
    * exact syllabification needs a dictionary. */
  def syllableCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))
      .cast(LongType)

  /** Flesch Reading Ease (Flesch 1948) on the exact milli grid:
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    * every division truncating BIGINT over counts — engine-portable
    * bit-for-bit (mirror the same arithmetic in SQL). Degenerate
    * inputs clamp the denominators at 1. Returns milli-points
    * (206835 = 206.835); negative is valid (dense technical text). */
  def fleschMilli(text: Column): Column = {
    val ns = greatest(size(sentences(text)).cast(LongType), lit(1L))
    val nw = greatest(tokenCount(text), lit(1L))
    val sy = syllableCount(text)
    lit(206835L) - mulDiv(nw, 1015L, ns) - mulDiv(sy, 84600L, nw)
  }

  /** Truncating a·k div b for non-negative longs without an expr()
    * name dependency: subtract the remainder, then one IEEE division
    * of an EXACT multiple — exact while the quotient·b stays ≤ 2^53
    * (per-document word/syllable counts are nowhere near it; the
    * corpus-scale ops use `div` on named columns instead). */
  private def mulDiv(a: Column, k: Long, b: Column): Column = {
    val t = a * k
    ((t - t % b).cast(DoubleType) / b.cast(DoubleType)).cast(LongType)
  }

  // ---- checksum-validated PII (Luhn) ----

  /** Payment-card candidate runs: 13-19 digits with optional single
    * space/dash separators — the PRE-filter; validation is
    * [[luhnValid]] (pattern alone false-positives on order ids and
    * phone numbers; the checksum kills ~90% of random digit runs).
    * Java∩RE2, no lookaround. */
  val CardCandidateRegex = "[0-9](?:[ -]?[0-9]){12,18}"

  /** Luhn checksum (ISO/IEC 7812) over a PURE-DIGIT string column:
    * from the right, double every second digit (folding >9 by −9),
    * sum ≡ 0 (mod 10). One codegen'd HOF fold; the DuckDB oracle
    * mirrors it with list_transform/list_sum over the reversed
    * string. */
  def luhnValid(digits: Column): Column = {
    val rev = reverse(digits)
    val total = aggregate(
      sequence(lit(1), length(digits)), lit(0L),
      (acc, i) => {
        val d = rev.substr(i, lit(1)).cast(LongType)
        acc + when(i % 2 === 0,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      })
    length(digits) >= 13 && total % 10 === 0
  }

  /** The candidate runs whose separator-stripped digits pass Luhn —
    * the real-card detections. */
  def luhnCards(text: Column): Column =
    filter(regexp_extract_all(text, lit(CardCandidateRegex), lit(0)),
      c => luhnValid(regexp_replace(c, "[ -]", "")))

  /** `text` with every Luhn-VALID card candidate replaced by
    * `[CARD]` — invalid candidates (order ids, random digit runs)
    * survive untouched, which is the point of validating before
    * redacting. Map-side scalar fold. */
  def redactCards(text: Column): Column =
    aggregate(luhnCards(text), text,
      (acc, c) => replace(acc, c, lit("[CARD]")))

  /** IBAN candidate runs (ISO 13616 shape: country code, two check
    * digits, 10-30 alphanumerics) — the PRE-filter; validation is
    * [[ibanValid]]. No lookaround (Java∩RE2); a candidate that
    * over-extends into adjacent capitals simply fails the checksum
    * and survives unredacted — validation-first, like the card
    * path. */
  val IbanCandidateRegex = "[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}"

  /** ISO/IEC 7064 mod-97-10 check over an IBAN candidate: move the
    * first four chars to the end, read letters as two digits
    * (A=10..Z=35), and the resulting number must be ≡ 1 (mod 97).
    * ONE codegen'd fold — a letter steps the remainder by
    * `(acc·100 + v) % 97`, which equals the two digit steps by
    * modular arithmetic, so no intermediate expanded-digit string is
    * ever built. The DuckDB mirror encodes each char as
    * `mult·100 + value` and folds with list_reduce — a different
    * path to the SAME remainder (both compute N mod 97 exactly). */
  def ibanValid(c: Column): Column = {
    val r = concat(c.substr(lit(5), length(c) - 4), c.substr(lit(1), lit(4)))
    val rem = aggregate(
      sequence(lit(1), length(r)), lit(0L),
      (acc, i) => {
        val ch = r.substr(i, lit(1))
        when(ch >= "A", (acc * 100 + ascii(ch) - 55) % 97)
          .otherwise((acc * 10 + ascii(ch) - 48) % 97)
      })
    length(c) >= 15 && length(c) <= 34 && rem === 1
  }

  /** The IBAN candidates that pass the mod-97 check. */
  def ibans(text: Column): Column =
    filter(regexp_extract_all(text, lit(IbanCandidateRegex), lit(0)),
      c => ibanValid(c))

  /** `text` with every mod-97-VALID IBAN replaced by `[IBAN]` —
    * invalid candidates (reference codes, shouty product ids)
    * survive untouched. Map-side scalar fold. */
  def redactIbans(text: Column): Column =
    aggregate(ibans(text), text, (acc, c) => replace(acc, c, lit("[IBAN]")))

  // ---- robots-style URL rule filtering ----

  /** robots.txt-style allow/disallow over URL paths (RFC 9309 path-
    * matching core): `rules` are (pathPrefix, allow) pairs for one
    * user-agent group; the LONGEST matching prefix wins and an
    * equal-length allow/disallow tie resolves to ALLOW (the RFC
    * rule); no matching rule → allowed (the crawl default). Encoded
    * as ONE generated SQL expression both engines evaluate (Spark via
    * `expr`, DuckDB verbatim): each rule contributes the constant
    * score `2·len(prefix) + allowBit` when its `substr` prefix test
    * matches, −1 otherwise; `greatest` picks the winner and the
    * parity decodes the verdict. Wildcards (`*`, `$`) are out of
    * scope by design — the RFC makes them optional and a
    * longest-match prefix engine covers the overwhelming majority of
    * real rule sets; a rule set needing them should be compiled to
    * regexes upstream. Scale shape: per-row constant-folded scalar
    * chain, map-side, no state.
    *
    * Compose with [[canonicalUrl]]'s path component: robots matching
    * is on the raw path+query as served, case-sensitive, BEFORE
    * canonicalization. */
  def robotsScoreSql(pathExpr: String,
      rules: Seq[(String, Boolean)]): String = {
    require(rules.nonEmpty, "robots rule set must be non-empty")
    val cases = rules.map { case (p, allow) =>
      val lit = p.replace("'", "''")
      s"CASE WHEN substr($pathExpr, 1, ${p.length}) = '$lit' " +
        s"THEN ${2L * p.length + (if (allow) 1 else 0)} ELSE -1 END"
    }
    s"greatest(${(cases :+ "-1").mkString(", ")})"
  }

  /** The allow verdict over [[robotsScoreSql]]'s score column name —
    * no match (−1) or an odd (allow-bit) winner ⇒ allowed. */
  def robotsAllowedSql(scoreCol: String): String =
    s"($scoreCol = -1 OR $scoreCol % 2 = 1)"

  /** The hashing trick (Weinberger et al., ICML'09) — fixed-width
    * sparse feature vectors from unbounded vocabularies, the feature
    * prep for any linear/logistic stage ([[graft.queries]]'
    * model-scoring seam) that cannot ship a vocabulary table: each
    * token hashes to one of `numBuckets` via the engine-portable md5
    * draw, per-doc counts aggregate per bucket, and the sparse vector
    * is the (bucket, count) pairs sorted by bucket.
    *
    * No vocabulary state, no OOV problem, no dictionary broadcast —
    * exactly why production pipelines hash: a new token on day N
    * lands in a bucket deterministically without re-fitting anything.
    * Collisions are the accepted trade (document the bucket count
    * next to any model trained on these).
    *
    * Scale shape: one explode + one (doc, bucket) map-side-combined
    * count + one per-doc re-nest; output rows are docs, each carrying
    * ≤ numBuckets entries. Emits `features` as a sorted
    * array<struct<b,n>> — project through [[graft.queries.Canon]] at
    * a registration boundary.
    */
  def featureHash(
      docs: org.apache.spark.sql.DataFrame, id: String, tokens: Column,
      numBuckets: Int, salt: String = "fh")
      : org.apache.spark.sql.DataFrame = {
    require(numBuckets >= 2, s"numBuckets must be >= 2, got $numBuckets")
    docs
      .select(col(id), explode(tokens).as("__t"))
      .select(col(id),
        pmod(conv(Sampling.unitDraw(col("__t"), salt), 16, 10)
          .cast("long"), lit(numBuckets.toLong)).as("b"))
      .groupBy(col(id), col("b"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col(id))
      .agg(sort_array(collect_list(struct(col("b"), col("n"))))
        .as("features"),
        count(lit(1)).as("n_nonzero"))
  }
}
