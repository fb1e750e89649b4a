package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Fns

/** Text analysis for training-data pipelines (SURVEY.md §2 G3): per-doc
  * stats, quality scoring, language-ID heuristic, fingerprinting. All
  * built-in codegen'd expressions — no UDFs — so the whole stage fuses into
  * the scan.
  */
object TextAnalysis {

  private val StopwordsEn =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for", "on", "with", "as")

  /** Engine-wide whitespace tokenization. Structurally empty-safe: Spark's
    * `trim()` strips ONLY the space character (0x20) and `split(.., -1)`
    * keeps leading AND trailing empty strings, so `"\thello\n"` would
    * otherwise yield phantom "" tokens at both ends (off-by-one counts,
    * drifted fingerprints, bogus "" n-grams at document edges) — the
    * filter drops them wherever they arise instead of trusting trim. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** Per-doc descriptive stats. */
  def withStats(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_chars_calc", length(t))
      .withColumn("n_tokens", Fns.tokenCount(t))
      // stopword matching is case-INSENSITIVE (the dictionary is lowercase;
      // langId and rollingFingerprint lowercase too): matching raw tokens
      // missed every sentence-initial "The"/"In"/..., systematically
      // depressing the stopword score and silently dropping clean docs at
      // the quality gate
      .withColumn("n_stopwords",
        size(filter(tokens(lower(t)), w => array_contains(array(StopwordsEn.map(lit): _*), w))))
      .withColumn("avg_token_len",
        when(col("n_tokens") > 0, length(t).cast("double") / col("n_tokens")).otherwise(lit(0.0)))
  }

  /** Quality score in [0,1]: rewards reasonable length, a healthy stopword
    * rate, and moderate token length. Pure arithmetic over the stats so the
    * same formula is expressible in ANSI SQL for the oracle.
    */
  def qualityScore(nTokens: Column, nStopwords: Column, avgTokenLen: Column): Column = {
    val lengthScore = least(lit(1.0), nTokens.cast("double") / lit(50.0))
    val stopRatio   = when(nTokens > 0, nStopwords.cast("double") / nTokens).otherwise(lit(0.0))
    val stopScore   = least(lit(1.0), stopRatio * lit(5.0))
    val lenScore    = least(lit(1.0), avgTokenLen / lit(8.0))
    // epsRound: the weighted sum can land exactly on a .00005 boundary,
    // where Spark (BigDecimal-exact HALF_UP) and DuckDB (std::round of the
    // scaled double) disagree; the shared epsilon helper pushes both
    // engines to the same side (oracle SQL applies the same epsilon)
    Fns.epsRound(lengthScore * lit(0.4) + stopScore * lit(0.3) + lenScore * lit(0.3), 4)
  }

  /** Function-word dictionaries for [[langId]] — the ~25 most frequent
    * function words per language (public knowledge: articles, copulas,
    * prepositions — the closed-class words every frequency list starts
    * with). Exposed `private[graft]` so the declared query's certificate
    * can CONSTRUCT text from them rather than trusting fixture labels. */
  private[graft] val langDicts: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "with",
      "for", "was", "on", "are", "as", "this", "by", "from", "be", "have",
      "not", "they", "which", "you", "what", "were"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein",
      "zu", "den", "von", "sie", "im", "für", "auf", "des", "sich", "dem",
      "nach", "bei", "aus", "auch", "wird", "über", "eine"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "pour", "que",
      "une", "des", "du", "il", "au", "ne", "pas", "sur", "se", "plus",
      "par", "avec", "sont", "mais", "aux", "ce", "été"),
    "es" -> Seq("el", "la", "los", "y", "es", "en", "que", "por", "una",
      "con", "las", "del", "se", "no", "para", "su", "al", "lo", "como",
      "más", "pero", "sus", "ha", "este", "entre"),
    "it" -> Seq("il", "la", "di", "e", "che", "in", "un", "per", "è",
      "non", "sono", "con", "si", "da", "come", "le", "dei", "più", "nel",
      "alla", "questo", "hanno", "della", "gli", "anche"),
    "pt" -> Seq("o", "a", "de", "e", "que", "do", "da", "em", "um",
      "para", "é", "com", "não", "uma", "os", "no", "se", "na", "por",
      "mais", "as", "dos", "como", "mas", "foi"))

  /** Character-trigram profile per language, derived from the dictionary
    * itself (distinct trigrams of ` word `-padded function words): catches
    * inflected/compound forms that never match a whole dictionary word —
    * the standard n-gram-profile half of Cavnar–Trenkle language ID. */
  private[graft] val langTrigramProfiles: Seq[(String, Seq[String])] =
    langDicts.map { case (lang, words) =>
      lang -> words.flatMap(w => s" $w ".sliding(3)).distinct
    }

  /** Language ID: per-language score = 3 × function-word hits (tokens, so
    * a hit is a WHOLE word) + distinct character-trigram hits against the
    * language's profile (space-padded, first 512 chars — language ID
    * saturates long before that). Argmax wins (lexicographic tie-break),
    * `und` when nothing scores. Entirely map-only HOF arithmetic — zero
    * shuffles at any corpus size. Rows-only in the driver check (the
    * dictionaries are engine-internal); the declared query certifies
    * argmax recovery on text CONSTRUCTED from the dictionaries in-query,
    * and LangIdSpec pins real-sentence behavior.
    */
  def langId(text: Column): Column = {
    val lowered = lower(substring(trim(text), 1, 512))
    // let-bind text + tokens + trigram set ONCE via the single-element
    // transform idiom (the winnow note: Catalyst collapses projections
    // into HOF lambda bodies and does no subexpression elimination there,
    // so column references would re-derive the regex split and the
    // trigram array once per language; a lambda binding evaluates once)
    val scored = transform(
      array(struct(concat(lit(" "), lowered, lit(" ")).as("t"), tokens(lowered).as("w"))),
      row => {
        val t = row.getField("t")
        val tg = array_distinct(transform(
          sequence(lit(1), greatest(length(t) - 2, lit(1))), i => t.substr(i, lit(3))))
        val entries = langDicts.zip(langTrigramProfiles).map {
          case ((lang, words), (_, profile)) =>
            val wordHits = size(filter(row.getField("w"),
              x => array_contains(array(words.map(lit): _*), x)))
            val gramHits = size(array_intersect(tg, array(profile.map(lit): _*)))
            struct((wordHits * lit(3) + gramHits).as("score"), lit(lang).as("lang"))
        }
        greatest(entries: _*)
      })(0)
    when(scored.getField("score") > 0, scored.getField("lang")).otherwise(lit("und"))
  }

  /** Rolling document fingerprint over normalized tokens:
    * fp = fold(tokens, h -> xxhash64(h, token)) — order-sensitive (unlike a
    * bag hash), one pass, and overflow-free under ANSI mode (a polynomial
    * h*31+x fold would throw ARITHMETIC_OVERFLOW on Spark 4 defaults).
    */
  def rollingFingerprint(text: Column): Column =
    // blank text yields the empty-fold seed 0L, not xxhash64(0, "") — the
    // fp = fold(tokens, ...) identity for zero tokens (split("") is [""],
    // which Fns.tokenCount also special-cases to 0 tokens)
    when(length(trim(text)) === 0, lit(0L)).otherwise(
      aggregate(
        tokens(lower(trim(text))),
        lit(0L),
        (acc, t) => xxhash64(acc, t)
      ))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    * 2003 — the MOSS algorithm): from each document's word k-grams, every
    * window of `w` consecutive grams selects its minimal gram (rightmost
    * occurrence on ties — the "robust winnowing" rule that keeps selections
    * stable under local edits). The selected (position, gram) set is the
    * fingerprint: any shared substring of length ≥ k + w - 1 words between
    * two documents is GUARANTEED to share at least one fingerprint — the
    * detection floor that makes this the standard copy-detection /
    * near-dup primitive.
    *
    * The selection key is the gram itself (lexicographic min) rather than
    * a hash: same total order, same guarantee, and the SQL oracle replays
    * it exactly. Entirely per-document higher-order functions — map-only,
    * whole-stage codegen, zero shuffles at any corpus size; fingerprints
    * then join/group like any other token table (e.g. groupBy(gram) for
    * cross-doc matches, the [[graft.operators.Dedup]] inverted-index shape).
    *
    * Documents shorter than k + w - 1 tokens have no full window and are
    * dropped — they carry no fingerprint under the scheme's guarantee.
    * Output: (idCol, pos, gram), pos = 1-based gram position.
    *
    * Implementation note: the token and gram arrays are LET-BOUND as
    * lambda variables (the `transform(array(x), v -> ...)[1]` idiom)
    * rather than referenced as projected columns. Catalyst collapses
    * projections into HOF lambda bodies and does no subexpression
    * elimination inside them, so a column reference to the grams array
    * would re-derive it — including the regex split of the raw text —
    * once per window element (measured: minutes instead of seconds on a
    * 5k-doc corpus). A bound variable is evaluated once per binding.
    */
  def winnow(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k/w must be positive: $k/$w")
    // Native single-node selection (round-14, guide §4): the previous
    // nested-lambda tree (let-bound grams + per-window array_min /
    // rightmost-tie filter + array_distinct, preserved bit-for-bit in
    // [[winnowHof]] and pinned equivalent by ShingleExpressionsSpec) ran
    // entirely in the CodegenFallback lambda interpreter. [[graft.functions
    // .WinnowSelect]] is the same selection as one fused loop: same
    // binary-string ordering, same rightmost-minimal tie rule, same
    // (pos, gram) dedup order.
    docs
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) >= k + w - 1)
      .withColumn("__sel", org.apache.spark.sql.graft.Bridge.column(
        graft.functions.WinnowSelect(
          org.apache.spark.sql.graft.Bridge.expression(col("__t")), k, w)))
      // explode_outer, NOT explode: the inner Generate's inferred input
      // filter (size(__sel) > 0 AND isnotnull(__sel)) pushes through the
      // projection and re-evaluates the whole winnow selection 2 extra
      // times per row (visible in plans/r14/g3_winnow). The outer form
      // infers nothing; the size(__t) filter above already guarantees a
      // non-empty selection, and the isNotNull below (on the GENERATED
      // struct, O(1), not pushable below the Generate) pins the same row
      // set even degenerately.
      .select(col(idCol), explode_outer(col("__sel")).as("__f"))
      .where(col("__f").isNotNull)
      .select(col(idCol), col("__f.pos").cast("long").as("pos"), col("__f.gram").as("gram"))
  }

  /** The lambda-tree formulation [[winnow]] replaced (kept as the
    * differential spec for the native expression — ShingleExpressionsSpec
    * compares the two row-for-row on adversarial (k, w) shapes). */
  private[graft] def winnowHof(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k/w must be positive: $k/$w")
    docs
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) >= k + w - 1)
      .withColumn("__sel", array_distinct(expr(
        s"""element_at(transform(array(
           |  element_at(transform(array(__t), t ->
           |    transform(sequence(1, size(t) - ${k - 1}, 1), i -> concat_ws(' ', slice(t, i, $k)))), 1)
           |), g ->
           |  transform(sequence(0, size(g) - $w, 1), s ->
           |    element_at(transform(array(array_min(slice(g, s + 1, $w))), mn ->
           |      named_struct(
           |        'pos', s + array_max(filter(sequence(1, $w, 1), j -> element_at(g, s + j) = mn)),
           |        'gram', mn)), 1))
           |), 1)""".stripMargin)))
      .select(col(idCol), explode(col("__sel")).as("__f"))
      .select(col(idCol), col("__f.pos").cast("long").as("pos"), col("__f.gram").as("gram"))
  }

  // ---- PHI/PII scrubbing (D2 taken to the text level: the reference masks
  // whole columns by phi_level, feature_registry.py:139; free-text features
  // need in-band redaction before they can feed a training corpus) ---------

  /** Structured-identifier patterns, most-specific first (SSN before the
    * generic phone shape so 123-45-6789 isn't half-eaten by the phone rule).
    * Kept to syntax shared by Java regex and RE2 (\b, \d, alternation) so
    * the DuckDB oracle replays them verbatim.
    */
  val PhiPatterns: Seq[String] = Seq(
    "\\b\\d{3}-\\d{2}-\\d{4}\\b",                         // SSN
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",    // email
    "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b",                   // US phone
    "\\bMRN[-: ]?\\d{6,10}\\b"                            // medical record number
  )

  /** Redact structured identifiers and denylisted terms from a text column.
    * A chain of regexp_replace stays inside whole-stage codegen (each link
    * is a compiled-once Java Pattern per task) and scales per-row with no
    * shuffle — scrubbing 100 TB is a map-only pass.
    *
    * @param denylist terms redacted on word boundaries, case-INSENSITIVELY
    *   ((?i), which Java regex and the oracle's RE2 both support): a
    *   denylisted facility name or codename at sentence start ("Customer",
    *   "KEY") must not survive scrubbing just because the dictionary is
    *   lowercase. Terms must be plain words — they're spliced into an
    *   alternation, NOT regex-escaped (Pattern.quote's \Q..\E would break
    *   the RE2 oracle).
    */
  def scrub(
      text: Column,
      replacement: String = "[REDACTED]",
      patterns: Seq[String] = PhiPatterns,
      denylist: Seq[String] = Seq.empty): Column = {
    val withDeny =
      if (denylist.isEmpty) patterns
      else patterns :+ denylist.mkString("(?i)\\b(", "|", ")\\b")
    // quoteReplacement: Java regexp_replace treats '$' and '\' in the
    // replacement as group references/escapes — an unescaped "$0" would
    // silently re-insert the PHI it was supposed to redact, and "<$>"
    // would throw mid-scan
    val safe = java.util.regex.Matcher.quoteReplacement(replacement)
    withDeny.foldLeft(text)((c, p) => regexp_replace(c, p, safe))
  }

  /** Context-window chunking (sequence packing): split each document into
    * `size`-token windows starting every `stride` tokens — the step that
    * turns a cleaned corpus into training examples. Map-only (pure per-row
    * arithmetic + posexplode, no shuffle, no UDF), deterministic, and the
    * ragged tail window is KEPT with its true `n_tokens` so the caller
    * chooses pad-vs-drop. `stride < size` gives overlapping windows;
    * `stride == size` packs disjointly. Windows per doc =
    * `1 + ceil(max(len - size, 0) / stride)` — a doc shorter than `size`
    * yields exactly its one (short) window.
    */
  def chunkWindows(docs: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size >= 1 && stride >= 1, s"size/stride must be positive: $size/$stride")
    docs
      // cheap prefilter (tokens() itself is empty-safe); token-less docs
      // that slip past trim (e.g. "\n"-only) produce one empty window that
      // the n_tokens > 0 gate below drops
      .where(length(trim(col(textCol))) > 0)
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol), posexplode(expr(
        // sequence stop = ceil(max(len-size,0)/stride) via (x+stride-1) div stride;
        // always >= 0, so the sequence is never descending
        s"""transform(
           |  sequence(0, (greatest(size(__t) - $size, 0) + ${stride - 1}) div $stride),
           |  i -> slice(__t, 1 + i * $stride, $size))""".stripMargin)))
      .select(col(idCol),
        col("pos").cast("long").as("chunk_idx"),
        org.apache.spark.sql.functions.size(col("col")).cast("long").as("n_tokens"),
        array_join(col("col"), " ").as("chunk"))
      // stride > size can overshoot: the ceil window count then produces a
      // start past the doc's end, whose slice is the empty array — a bogus
      // zero-token "training example" the ragged-tail contract forbids
      .where(col("n_tokens") > 0)
  }

  // ---- corpus-statistics ranking (TF-IDF / BM25 / unigram LM) ------------
  // The reference has no search or LM surface; these are the standard
  // corpus-statistics operators a training-data pipeline runs over the
  // `documents` table (term weighting for filtering, retrieval for
  // inspection, unigram log-prob as the cheap perplexity proxy). All three
  // share the same scale shape: explode -> partial-agg shuffle on the term
  // key, tiny stats frames broadcast back, per-doc re-agg. Nothing is
  // all-pairs and nothing holds the vocabulary on the driver.

  /** Top-`k` TF-IDF terms per document. tf = in-doc term count, idf =
    * ln(N / df) over distinct-doc frequency, score rounded to 4 decimals
    * (epsilon-nudged, see [[qualityScore]]) with ties broken by term so the
    * ranking is engine-stable. Three shuffles, all with map-side partial
    * aggregation: (doc,term) tf, term df, per-doc window rank — the
    * vocabulary-sized df frame streams through a shuffle join (NOT a
    * broadcast: at 100 TB the vocabulary is itself large).
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    // N and df MUST share one basis (token-bearing docs): counting N over
    // ALL input rows while df only sees non-blank docs inflates every idf —
    // a term in every real doc would score ln(N/df) > 0 instead of 0 and
    // rank as informative whenever blank rows exist
    val base = docs
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) > 0)
    val tf = base
      .select(col(idCol), explode(col("__t")).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).cast("double").as("tf"))
    val dfTbl = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val nDocs = base.agg(count(lit(1)).cast("double").as("__n"))
    val scored = tf
      .join(dfTbl, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", Fns.epsRound(col("tf") * log(col("__n") / col("df")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("tfidf").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank").cast("long").as("rank"), col("term"),
        col("tf").cast("long").as("tf"), col("tfidf"))
  }

  /** BM25 ranked retrieval: score every document against a fixed bag of
    * query terms, return the top `k`. Okapi formulation with the Lucene
    * idf (`ln(1 + (N - df + 0.5)/(df + 0.5))`, always positive). The
    * exploded corpus is filtered to the query terms BEFORE the tf shuffle,
    * so the shuffled volume is |matching postings|, not the corpus; df and
    * avgdl are 1-row/|q|-row frames broadcast back; the final top-k is a
    * TakeOrdered, never a global sort.
    */
  /** NOTE: `queryTerms` has SET semantics (isin dedups); a term repeated in
    * the query contributes once, unlike textbook Okapi's bag-of-terms sum —
    * pre-expand the per-term contributions externally if multiplicity
    * weighting is needed. Blank docs are excluded (phantom "" token would
    * deflate avgdl for every real doc). */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    // token-presence filter, not length(trim(..)): a "\n"-only doc passes
    // the trim test with zero tokens and would deflate avgdl for every
    // real doc
    val base = docs
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .where(org.apache.spark.sql.functions.size(col("__t")) > 0)
      .select(col(idCol), col("__t"),
        org.apache.spark.sql.functions.size(col("__t")).cast("double").as("__dl"))
    val stats = base.agg(avg("__dl").as("__avgdl"), count(lit(1)).cast("double").as("__n"))
    val tf = base
      .select(col(idCol), col("__dl"), explode(col("__t")).as("term"))
      .where(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("__dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfTbl = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfTbl), "term")
      .crossJoin(broadcast(stats))
      .withColumn("__idf", log(lit(1.0) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("__c",
        col("__idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
      .groupBy(col(idCol))
      .agg(Fns.epsRound(sum("__c"), 4).as("bm25"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** Interpolated bigram LM mean token log-prob per doc — the stronger
    * form of [[unigramLogProb]] and the dependency-free shape of the
    * CCNet/Gopher perplexity quality filter (those use KenLM n-gram
    * models; the mechanism — score each token by its in-context
    * probability under a corpus-trained LM, filter on the mean — is
    * identical, only the model order differs).
    *
    * Per-token log-probability, MLE-trained on the scored corpus itself:
    *   - a doc's FIRST token: ln(cnt1(w) / N) (no context exists);
    *   - later tokens: ln(λ·cnt2(prev,w)/cnt1(prev) + (1−λ)·cnt1(w)/N) —
    *     Jelinek-Mercer interpolation with the unigram, so an unseen-in-
    *     context token backs off instead of scoring -∞ (within one corpus
    *     every pair was counted, but the interpolated form is what applies
    *     unchanged when the tables are trained on a REFERENCE corpus and
    *     score a new batch).
    *
    * Scale shape: token/bigram pairs are built MAP-SIDE from the per-doc
    * token array (no per-doc window, no doc-keyed shuffle for context);
    * the count tables and the score joins are vocabulary-keyed shuffles
    * with partial aggregation, exactly like [[unigramLogProb]]; the
    * per-doc mean is one more partial-agg shuffle. Nothing broadcasts the
    * vocabulary (it scales with the corpus).
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    val toks = docs
      .where(length(trim(col(textCol))) > 0) // cheap prefilter; tokens() is empty-safe
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) > 0)
      .select(col(idCol), explode(expr(
        """transform(sequence(1, size(__t)), i -> named_struct(
          |  'term', element_at(__t, i),
          |  'prev', CASE WHEN i = 1 THEN cast(null as string)
          |               ELSE element_at(__t, i - 1) END))""".stripMargin)).as("__p"))
      .select(col(idCol), col("__p.term").as("term"), col("__p.prev").as("prev"))
      // materialized once: feeds the total, both count tables AND the score
      // join — left lazy, the scan + split + pair transform run four times
      // (the same multi-consumer guard as Dedup.jaccardPairs)
      .localCheckpoint()
    val total = toks.agg(count(lit(1)).cast("double").as("__n"))
    val uni = toks.groupBy("term").agg(count(lit(1)).cast("double").as("__uc"))
    val bi = toks.where(col("prev").isNotNull)
      .groupBy("prev", "term").agg(count(lit(1)).cast("double").as("__bc"))
    toks
      .join(uni, Seq("term"))
      .join(uni.select(col("term").as("prev"), col("__uc").as("__pc")), Seq("prev"), "left")
      .join(bi, Seq("prev", "term"), "left")
      .crossJoin(broadcast(total))
      .withColumn("__lp",
        when(col("prev").isNull, log(col("__uc") / col("__n")))
          .otherwise(log(
            lit(lambda) * coalesce(col("__bc"), lit(0.0)) / col("__pc") +
              lit(1.0 - lambda) * col("__uc") / col("__n"))))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        Fns.epsRound(avg(col("__lp")), 4).as("mean_logprob"))
  }

  /** The published Gopher quality-rule set (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", Table A1) as ONE map-only pass — the
    * document-level filter battery most production corpus builds run
    * verbatim (C4/MassiveText lineage). Per doc:
    *
    *  - `n_words`, `mean_word_len` — word count and mean word length
    *    (rule: 50 ≤ n_words ≤ 100k, 3 ≤ mean ≤ 10);
    *  - `alpha_word_frac` — fraction of words containing ≥1 ASCII
    *    alphabetic character (rule: ≥ 0.8; extend the class per-script
    *    for non-Latin corpora);
    *  - `symbol_word_ratio` — ('#' occurrences + '...' occurrences) /
    *    n_words (rule: ≤ 0.1);
    *  - `bullet_start_frac` / `ellipsis_end_frac` — fraction of nonblank
    *    TRIMMED lines starting with a bullet ('-', '*', '•') / ending
    *    with an ellipsis ("..." or '…') (rules: ≤ 0.9 / ≤ 0.3);
    *  - `dup_line_frac` / `dup_line_char_frac` — fraction of nonblank
    *    lines that exactly duplicate an earlier line, and the fraction of
    *    line characters in those duplicates (rules: ≤ 0.3 / ≤ 0.2);
    *  - `gopher_clean` — the conjunction of all eight rules.
    *
    * Everything is built from the per-doc line/word arrays with
    * codegen'd higher-order functions — no shuffle, no UDF; 100 TB
    * filters in a single scan. Zero-word docs report null ratios and
    * fail `gopher_clean` via the word-count rule (false, not null:
    * SQL's false-AND-null). */
  def gopherQuality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // backquote the interpolated identifier (same rule as sq8Encode): this
    // is the one SQL fragment the column name is spliced into
    val tq = "`" + textCol.replace("`", "``") + "`"
    val out = docs
      .withColumn("__w", tokens(col(textCol)))
      .withColumn("__lines", expr(
        s"""filter(transform(split($tq, '\\n'), l -> trim(l)), l -> length(l) > 0)"""))
      .withColumn("n_words", size(col("__w")).cast("long"))
      .withColumn("n_lines", size(col("__lines")).cast("long"))
      .withColumn("mean_word_len",
        epsRoundOrNull(expr("aggregate(__w, 0L, (a, w) -> a + length(w))").cast("double") /
          nullif(col("n_words").cast("double"), lit(0.0))))
      .withColumn("alpha_word_frac",
        epsRoundOrNull(expr("size(filter(__w, w -> w rlike '[A-Za-z]'))").cast("double") /
          nullif(col("n_words").cast("double"), lit(0.0))))
      .withColumn("symbol_word_ratio",
        epsRoundOrNull((
          (length(col(textCol)) - length(regexp_replace(col(textCol), "#", ""))).cast("double") +
            (length(col(textCol)) - length(regexp_replace(col(textCol), "\\.\\.\\.", ""))).cast("double") / 3.0) /
          nullif(col("n_words").cast("double"), lit(0.0))))
      .withColumn("bullet_start_frac",
        epsRoundOrNull(expr(
          "size(filter(__lines, l -> startswith(l, '-') or startswith(l, '*') or startswith(l, '•')))")
          .cast("double") / nullif(col("n_lines").cast("double"), lit(0.0))))
      .withColumn("ellipsis_end_frac",
        epsRoundOrNull(expr(
          "size(filter(__lines, l -> endswith(l, '...') or endswith(l, '…')))")
          .cast("double") / nullif(col("n_lines").cast("double"), lit(0.0))))
      .withColumn("dup_line_frac",
        epsRoundOrNull(lit(1.0) -
          expr("size(array_distinct(__lines))").cast("double") /
            nullif(col("n_lines").cast("double"), lit(0.0))))
      .withColumn("dup_line_char_frac",
        epsRoundOrNull(lit(1.0) -
          expr("aggregate(array_distinct(__lines), 0L, (a, l) -> a + length(l))").cast("double") /
            nullif(expr("aggregate(__lines, 0L, (a, l) -> a + length(l))").cast("double"), lit(0.0))))
    out
      .withColumn("gopher_clean",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_word_ratio") <= 0.1 &&
          col("bullet_start_frac") <= 0.9 &&
          col("ellipsis_end_frac") <= 0.3 &&
          col("alpha_word_frac") >= 0.8 &&
          col("dup_line_frac") <= 0.3 &&
          col("dup_line_char_frac") <= 0.2)
      // false-not-null for zero-word docs: the n_words clause is false, and
      // SQL false AND null = false — but make it explicit for readability
      .withColumn("gopher_clean", coalesce(col("gopher_clean"), lit(false)))
      .select((Seq(col(idCol), col("n_words"), col("n_lines"), col("mean_word_len"),
        col("alpha_word_frac"), col("symbol_word_ratio"), col("bullet_start_frac"),
        col("ellipsis_end_frac"), col("dup_line_frac"), col("dup_line_char_frac"),
        col("gopher_clean"))): _*)
  }

  // epsRound that passes null through (nullif-guarded ratios)
  private def epsRoundOrNull(c: Column): Column = Fns.epsRound(c, 4)

  /** The published C4 cleaning heuristics (Raffel et al. 2020, "Exploring
    * the Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", §2.2) as ONE map-only pass — the LINE-level complement
    * to [[gopherQuality]]'s document-level battery. A line is RETAINED iff
    * it (a) ends in a terminal punctuation mark ('.', '!', '?', or a
    * closing '"'), (b) has at least 5 words, and (c) does not mention
    * "javascript" (case-insensitive) — the C4 boilerplate/navigation
    * heuristic. Per doc:
    *
    *  - `n_lines` / `n_kept_lines` / `kept_line_frac` — nonblank trimmed
    *    lines, how many the line filter retains, and the ratio (null for a
    *    line-less doc);
    *  - `n_kept_words` — word count of the retained lines (the doc's
    *    surviving content volume);
    *  - `n_sentences` — terminal-punctuation count over retained lines,
    *    the paper's sentence proxy (rule: pages need ≥ 3 sentences);
    *  - `has_lorem_ipsum` / `has_code_brace` — the page-level discard
    *    markers ("lorem ipsum" placeholder text; '{' as the code signal);
    *  - `c4_keep` — the page verdict: ≥ 3 sentences and neither marker.
    *    (The paper's "bad words" page filter is the denylist family —
    *    [[scrub]]/`g3_phi_scrub` cover that shape; its three-sentence-span
    *    dedup is the G1 dedup family.)
    *
    * Like the Gopher battery everything is codegen'd higher-order
    * functions over the per-doc line array — no shuffle, no UDF: at
    * 100 TB this is a single scan that fuses with whatever reads the
    * corpus next. */
  def c4Quality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tq = "`" + textCol.replace("`", "``") + "`"
    docs
      .withColumn("__lines", expr(
        s"""filter(transform(split($tq, '\\n'), l -> trim(l)), l -> length(l) > 0)"""))
      .withColumn("__kept", expr(
        """filter(__lines, l ->
          |  size(filter(split(l, '\\s+'), w -> length(w) > 0)) >= 5
          |  and (endswith(l, '.') or endswith(l, '!') or endswith(l, '?')
          |       or endswith(l, '"'))
          |  and not contains(lower(l), 'javascript'))""".stripMargin))
      .withColumn("n_lines", size(col("__lines")).cast("long"))
      .withColumn("n_kept_lines", size(col("__kept")).cast("long"))
      .withColumn("kept_line_frac",
        epsRoundOrNull(col("n_kept_lines").cast("double") /
          nullif(col("n_lines").cast("double"), lit(0.0))))
      .withColumn("n_kept_words", expr(
        "aggregate(__kept, 0L, (a, l) -> a + size(filter(split(l, '\\\\s+'), w -> length(w) > 0)))"))
      .withColumn("n_sentences", expr(
        "aggregate(__kept, 0L, (a, l) -> a + (length(l) - length(regexp_replace(l, '[.!?]', ''))))"))
      .withColumn("has_lorem_ipsum", lower(col(textCol)).contains("lorem ipsum"))
      .withColumn("has_code_brace", col(textCol).contains("{"))
      .withColumn("c4_keep",
        col("n_sentences") >= 3 && !col("has_lorem_ipsum") && !col("has_code_brace"))
      .select(col(idCol), col("n_lines"), col("n_kept_lines"), col("kept_line_frac"),
        col("n_kept_words"), col("n_sentences"), col("has_lorem_ipsum"),
        col("has_code_brace"), col("c4_keep"))
  }

  /** Zipf rank-frequency slope per corpus slice — the templated/synthetic-
    * text detector of a corpus QA pass: natural language's term
    * frequencies follow freq ∝ rank^s with s ≈ −1 (Zipf's law), while
    * machine-generated, boilerplate-heavy, or templated slices bend the
    * curve (flat head from a tiny repeated vocabulary, or a truncated
    * tail). The statistic is the least-squares slope of ln(freq) against
    * ln(rank) over the slice's vocabulary, reported with the vocabulary
    * size — an auditor flags slices whose slope sits far from −1.
    *
    * Scale shape: term counts are one vocabulary-keyed partial-agg shuffle
    * (rows ∝ vocab, not corpus); the rank window orders VOCABULARY rows
    * within each slice (never corpus rows — a slice's vocab is bounded by
    * the Heaps-law sublinear curve); the slope's five sums fold in one
    * more partial-agg pass. Ties rank deterministically (count desc, term
    * asc), the same pinned total order every ranking in this engine uses.
    * Closed form: s = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²), x = ln rank,
    * y = ln freq — exact arithmetic an external engine replays.
    */
  def zipfSlope(docs: DataFrame, textCol: String, groupCol: String): DataFrame = {
    val counts = docs
      .where(length(trim(col(textCol))) > 0)
      .select(col(groupCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(groupCol), col("term")).agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__c").desc, col("term").asc)
    counts
      .withColumn("__x", log(row_number().over(w).cast("double")))
      .withColumn("__y", log(col("__c").cast("double")))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_terms"),
        Fns.epsRound(
          (count(lit(1)) * sum(col("__x") * col("__y")) - sum("__x") * sum("__y")) /
            // nullif: a single-term slice has zero x-variance — its slope
            // is undefined (null), not a 0/0 NaN that poisons downstream
            // aggregates (same zero-denominator rule as cosine's norms)
            nullif(count(lit(1)) * sum(col("__x") * col("__x")) - sum("__x") * sum("__x"), lit(0.0)),
          4).as("zipf_slope"))
  }

  /** Unigram language-model scoring — the cheap perplexity proxy used for
    * corpus quality filtering: each doc's mean token log-probability under
    * the corpus's own unigram distribution (MLE, no smoothing needed —
    * every scored token was counted). More negative = rarer vocabulary.
    * Token->count joins through a vocabulary-keyed shuffle (partial-agg'd,
    * broadcast-free: the vocab scales with the corpus); the per-doc mean is
    * one more partial-agg shuffle.
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .where(length(trim(col(textCol))) > 0) // cheap prefilter; tokens() is empty-safe
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val total  = toks.agg(count(lit(1)).cast("double").as("__total"))
    val counts = toks.groupBy("term").agg(count(lit(1)).cast("double").as("__cnt"))
    toks
      .join(counts, "term")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(Fns.epsRound(avg(log(col("__cnt") / col("__total"))), 4).as("mean_logprob"),
        count(lit(1)).as("n_tokens"))
  }

  /** DSIR-style importance weighting (Xie et al., NeurIPS 2023 — "Data
    * Selection for Language Models via Importance Resampling", unigram
    * form): each document scores sum over tokens of
    * log p_target(t) − log p_raw(t), where `target` is an exemplar corpus
    * of the distribution to select FOR (a quality subset, a domain, a
    * language) and raw is the corpus being scored. High weight = reads
    * like the target; downstream, sample ∝ weight or keep the top slice —
    * the published recipe for domain-targeted pretraining selection.
    *
    * Both LMs are add-α smoothed over the SHARED vocabulary (union of raw
    * and target vocab), so target-absent tokens contribute a finite
    * penalty instead of −∞. Counts flow through vocabulary-keyed shuffles
    * with map-side partial aggregation (the vocab scales with the corpus —
    * never broadcast); the three scalar totals (vocab size, token counts)
    * broadcast back as a single row. Per-doc scoring is one more
    * vocab-keyed join + doc-keyed sum: nothing in the plan holds more
    * than a partition of any side.
    *
    * Output: (idCol, n_tokens, log_weight).
    */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha must be positive (smoothing), got $alpha")
    val rawToks = docs
      .where(length(trim(col(textCol))) > 0)
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tgtToks = target
      .where(length(trim(col(targetTextCol))) > 0)
      .select(explode(tokens(col(targetTextCol))).as("term"))
    val cr = rawToks.groupBy("term").agg(count(lit(1)).cast("double").as("__cr"))
    val ct = tgtToks.groupBy("term").agg(count(lit(1)).cast("double").as("__ct"))
    val vocab = cr.join(ct, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("__cr"), lit(0.0)).as("__cr"),
        coalesce(col("__ct"), lit(0.0)).as("__ct"))
    val totals = vocab.agg(
      count(lit(1)).cast("double").as("__v"),
      sum("__cr").as("__nraw"),
      sum("__ct").as("__ntgt"))
    val weights = vocab.crossJoin(broadcast(totals))
      .select(col("term"),
        (log((col("__ct") + alpha) / (col("__ntgt") + lit(alpha) * col("__v"))) -
         log((col("__cr") + alpha) / (col("__nraw") + lit(alpha) * col("__v")))).as("__lw"))
    rawToks
      .join(weights, "term")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        Fns.epsRound(sum(col("__lw")), 4).as("log_weight"))
  }

  /** Concatenate-and-pack: the pretraining step that turns a deduped corpus
    * into fixed-`capacity` training sequences. Documents are laid end-to-end
    * in `idCol` order into one global token stream, which is cut into
    * consecutive windows of `capacity` tokens; a document belongs to every
    * window its tokens fall into (documents crossing a boundary are split,
    * GPT-style — contrast [[chunkWindows]], which windows each doc
    * independently and leaves ragged tails). Output: one row per
    * (window, doc) overlap — `(chunk_id, doc_id, begin_tok, end_tok,
    * n_tokens)`, begin/end doc-relative (`[begin_tok, end_tok)` within the
    * doc's own tokens), so `sum(n_tokens)` grouped by doc returns each
    * doc's full length and every chunk except the global tail holds exactly
    * `capacity` tokens.
    *
    * Scale shape — a DISTRIBUTED PREFIX SUM, not a one-partition window:
    * one range shuffle puts docs in id order; per-partition token subtotals
    * (one row per partition) come to the driver and return as a broadcast
    * literal map of partition offsets; each doc's global start is its
    * partition offset plus an intra-partition running sum (window keyed by
    * the partition id, so every partition scans independently). No global
    * single-task sort, no data rows on the driver — the two-pass scan a
    * 1000-executor cumsum uses. The chunk fan-out after that is map-only
    * arithmetic (`sequence` + `explode`).
    *
    * PRECONDITION: `idCol` must be duplicate-free — the prefix-sum's
    * within-partition window orders by it, and tied keys make the
    * exclusive offsets (hence the chunk spans) nondeterministic between
    * executions (the same hazard [[graft.operators.Rank.withGlobalRank]]
    * documents for the identical construction).
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      capacity: Int, numPartitions: Int = 0): DataFrame = {
    require(capacity >= 1, s"capacity must be positive, got $capacity")
    val spark = docs.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val cap = lit(capacity.toLong)

    // (id, token count) only — the packing never shuffles or pins the text.
    // tokens() is empty-safe, so token-less docs count 0 and die on the
    // __n >= 1 gate — no phantom token ever shifts a chunk boundary in
    // the global stream
    val counted = docs
      .where(length(trim(col(textCol))) > 0)
      .select(col(idCol), org.apache.spark.sql.functions.size(tokens(col(textCol)))
        .cast("long").as("__n"))
      .where(col("__n") >= 1)
      .repartitionByRange(parts, col(idCol))
      .sortWithinPartitions(idCol)
      .withColumn("__pid", spark_partition_id())
      // pin the partition assignment: the subtotal pass below and the
      // window pass must see the SAME __pid per row (range partitioning
      // samples bounds, so a recompute is not guaranteed identical)
      .localCheckpoint()

    // pass 1: per-partition subtotals -> exclusive offsets (driver holds
    // `parts` longs, never data rows)
    val subtotals = counted.groupBy("__pid").agg(sum("__n").as("__s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Map[Int, Long] = {
      var acc = 0L
      subtotals.keys.toSeq.sorted.map { pid =>
        val off = acc; acc += subtotals(pid); pid -> off
      }.toMap
    }

    // pass 2: global start = partition offset + intra-partition running sum
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val withStart = counted.withColumn("__start",
      coalesce(sum(col("__n")).over(w), lit(0L)) +
        element_at(typedlit(offsets), col("__pid")))

    // map-only fan-out: every chunk index this doc's token span touches
    withStart
      .select(col(idCol), col("__n"), col("__start"),
        // integer `div`, not floor(a/b): double division would round above
        // 2^53 tokens, and the token stream is exactly where that matters
        explode(sequence(
          expr(s"__start div ${capacity}L"),
          expr(s"(__start + __n - 1) div ${capacity}L"))).as("chunk_id"))
      .select(
        col("chunk_id"),
        col(idCol),
        greatest(col("chunk_id") * cap - col("__start"), lit(0L)).as("begin_tok"),
        least((col("chunk_id") + lit(1L)) * cap - col("__start"), col("__n")).as("end_tok"))
      .withColumn("n_tokens", col("end_tok") - col("begin_tok"))
  }

  /** fastText-style hashed-n-gram linear classifier INFERENCE (Joulin et
    * al. 2016, "Bag of Tricks for Efficient Text Classification"): each
    * word bigram hashes into one of `buckets` weight slots, the doc score
    * is the mean slot weight, and the binary label is score > 0 — the
    * shape of every classifier-based quality filter (CCNet's wiki-ref
    * scorer, the GPT-3/LLaMA quality screens) at inference time.
    *
    * The hash is an explicit char-fold polynomial (h·31 + ascii) mod
    * 1000003 — chosen over Spark's built-in hash() so the SAME function is
    * computable in any engine (the DuckDB oracle replays it with
    * list_reduce), exactly like a production pipeline pins a
    * tokenizer+hash pair across train and serve. Weights here are a
    * deterministic arithmetic stand-in (slot b ↦ fract(b·2654435761 /
    * 1000003) − ½, a Knuth multiplicative scramble): real trained weights
    * would arrive as a `buckets`-row table joined or broadcast in — the
    * plumbing (hash, slot lookup, mean, threshold) is identical and is
    * what this operator exercises.
    *
    * Scale shape: MAP-ONLY — no shuffle, no UDF, no driver state. The
    * per-doc weight sum is a native codegen'd expression
    * ([[graft.functions.HashedBigramWsum]]): the equivalent lambda
    * formulation is CodegenFallback and paid ~2 ms/doc in the
    * interpreter; the native loop is bit-identical (same fold order,
    * same modular steps, same left-to-right double accumulation) and
    * ~100× cheaper — the DuckDB oracle still replays the arithmetic
    * with list_reduce, unchanged.
    */
  def hashedNgramScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 4096
  ): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    docs
      .withColumn("__t", tokens(col(textCol)))
      .withColumn("__nbg", greatest(size(col("__t")) - 1, lit(0)).cast("long"))
      .withColumn("__wsum", graft.functions.HashedNgram.wsum(col("__t"), buckets))
      .select(
        col(idCol),
        col("__nbg").as("n_bigrams"),
        when(col("__nbg") > 0,
          Fns.epsRound(col("__wsum") / col("__nbg"), 6)).as("score"))
      .withColumn("keep", coalesce(col("score") > 0.0, lit(false)))
  }
}
