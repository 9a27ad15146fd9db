package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for large-scale training-data pipelines: tokenization,
  * token statistics, quality scoring, language ID, fingerprinting.
  *
  * Everything here is built from codegen'd built-in expressions (split /
  * higher-order `aggregate` / `transform` / regexp) — no UDFs — so the
  * whole pipeline stays inside whole-stage codegen and scales linearly
  * with no shuffle. All hash arithmetic is plain integer math (mod
  * 1e9+7) chosen to be reproducible in any engine (the DuckDB oracles
  * mirror it expression-for-expression).
  */
object TextFunctions {

  /** Modulus for all polynomial hashing: large prime, keeps a*h+b within
    * int64 (a,b,h < P => a*h+b < ~1e18 < 2^63). */
  val P: Long = 1000000007L

  /** Whitespace tokenization (the corpus is single-space separated). */
  def tokenize(text: Column): Column = split(text, " ")

  /** `size(tokenize(text))` without materializing the token array —
    * native byte-scan kernel ([[expressions.GraftExpressions.token_count]]); identical
    * value for every input (EquivalenceSpec). */
  def tokenCount(text: Column): Column = expressions.GraftExpressions.token_count(text)

  /** Count of regex-tokenizer matches — the BPE-ish alternative counter
    * (non-overlapping `[a-z]+` word runs). */
  def regexTokenCount(text: Column): Column = regexp_count(text, lit("[a-z]+"))

  /** Corpus text scrub in one native pass: NFC normalization, C0/DEL
    * controls → space, space-run collapse, trim
    * ([[expressions.GraftExpressions.clean_text]]). */
  def cleanText(text: Column): Column = expressions.GraftExpressions.clean_text(text)

  /** Characters of a string as an array, with the zero-width artifacts
    * of regex-split removed (Java split can emit "" elements). */
  def chars(s: Column): Column = filter(split(s, ""), c => length(c) > 0)

  /** Polynomial rolling hash over the characters of a string:
    * fold(h = (h*31 + codepoint) mod P). Deterministic, order-sensitive —
    * the document-fingerprinting primitive. Native codegen'd expression
    * ([[expressions.GraftExpressions.poly_hash]]); [[polyHashHof]] is the equivalent
    * built-in formulation kept as its semantic spec. */
  def polyHash(s: Column): Column = expressions.GraftExpressions.poly_hash(s)

  /** Second hash family (multiplier 131): independent of [[polyHash]],
    * used to extend hash width past the 30 bits one mod-P value holds
    * (SimHash fingerprints combine both families into 60 bits). */
  def polyHash2(s: Column): Column = expressions.GraftExpressions.poly_hash(s, 131L)

  /** Arbitrary-family variant (the CMS rows each use their own
    * multiplier from [[Sketches.CmsMults]]). */
  def polyHashMult(s: Column, mult: Long): Column =
    expressions.GraftExpressions.poly_hash(s, mult)

  def polyHashHof(s: Column): Column =
    aggregate(chars(s), lit(0L), (acc, c) => (acc * 31 + ascii(c)) % P)

  /** Token n-gram shingles ("a b c" 3-grams), empty when the document
    * has fewer than n tokens. */
  def shingles(tokens: Column, n: Int): Column =
    when(size(tokens) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(tokens) - n + 1),
        i => array_join(slice(tokens, i, lit(n)), " ")))

  /** English stopword markers used by the language-ID heuristic and the
    * stopword-ratio quality signal. */
  val StopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "is")

  def stopwordCount(tokens: Column): Column =
    size(filter(tokens, t => t.isin(StopwordsEn: _*)))

  /** Ratio of punctuation-ish characters (not lowercase-alnum or
    * space). An EMPTY string is 0.0 by definition — the bare division
    * would return NULL (0/0), and a NULL ratio silently falls out of
    * BOTH sides of any threshold filter. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "[a-z0-9 ]", "")).cast("double") / length(text))

  /** Quality score in [0,1]: type-token ratio + stopword presence +
    * length saturation. Fixed formula, scalar per row, engine-portable.
    * Native one-pass byte-scan kernel ([[expressions.GraftExpressions.quality_score]]);
    * [[qualityScoreCols]] is the column formulation kept as its
    * bit-identical semantic spec (EquivalenceSpec fuzz). */
  def qualityScore(text: Column): Column =
    expressions.GraftExpressions.quality_score(text, StopwordsEn)

  /** The three-pass column formulation the kernel replicates. */
  def qualityScoreCols(text: Column): Column = {
    val toks = tokenize(text)
    val n = size(toks).cast("double")
    val ttr = size(array_distinct(toks)).cast("double") / n
    val stop = stopwordCount(toks).cast("double") / n
    val sat = least(lit(1.0), n / 100.0)
    ttr * 0.4 + stop * 0.3 + sat * 0.3
  }

  /** n-gram-free language ID heuristic: marker-stopword hit ratio. The
    * corpus is synthetic English-ish text, so this mostly asserts the
    * deterministic plumbing; real language ID would swap in per-language
    * marker sets here. Native byte-scan marker counter
    * ([[expressions.GraftExpressions.stopword_count]] — the filter-HOF it replaces is
    * interpreted per element); [[languageIdCols]] is its spec. */
  def languageId(text: Column): Column =
    when(expressions.GraftExpressions.stopword_count(text, StopwordsEn) > 0,
      lit("en")).otherwise(lit("und"))

  /** The filter-HOF formulation the kernel replicates. */
  def languageIdCols(text: Column): Column = {
    val toks = tokenize(text)
    when(stopwordCount(toks) > 0, lit("en")).otherwise(lit("und"))
  }

  /** Document fingerprint: rolling hash of the whole text. */
  def fingerprint(text: Column): Column = polyHash(text)

  /** Overlapping token-window chunks for embedding/RAG prep: windows of
    * `window` tokens every `stride` tokens, with the final window
    * clamped so the document tail is always covered (never a chunk
    * shorter than `window` unless the whole document is shorter).
    * Returns `array<struct<chunk_idx:int, chunk_start:int>>` — the
    * chunk count is `1 + ceil(max(0, n - window) / stride)` and
    * `chunk_start` is 1-based (the `slice` convention). Row-local,
    * codegen'd, no shuffle; callers explode + `slice` to materialize
    * chunk text (see the `text_chunk_overlap` gate). */
  def chunkSpans(nTokens: Column, window: Int, stride: Int): Column = {
    require(window > 0 && stride > 0 && stride <= window,
      s"chunkSpans: need 0 < stride <= window, got window=$window stride=$stride")
    val lastStart = greatest(lit(1), nTokens - window + 1)
    val nChunks = lit(1) +
      ceil(greatest(lit(0), nTokens - window).cast("double") / stride).cast("int")
    // a token-less document has NO chunks: without the guard the
    // formula emits one phantom (chunk_idx 0, chunk_start 1) span that
    // downstream exploders would materialize as an empty-text chunk.
    // slice-to-zero keeps the element type identical to the spans
    // expression for any nTokens integer width.
    val spans = transform(sequence(lit(0), nChunks - 1), i =>
      struct(i.as("chunk_idx"), least(i * stride + 1, lastStart).as("chunk_start")))
    slice(spans, lit(1), when(nTokens <= 0, lit(0)).otherwise(size(spans)))
  }

  /** PII redaction: replace emails, phone-like digit runs, and IPv4
    * addresses with typed placeholder tags. The patterns are kept to
    * the regex subset shared by Java regex and RE2 (no backrefs, no
    * lookaround) so external engines can mirror the scrub
    * bit-for-bit. Order matters: IPv4 before phones (an IP is a
    * digit-punct run a loose phone pattern would half-eat). */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val PhoneRe = "\\+?\\(?[0-9][0-9()./ -]{6,}[0-9]"

  /** Native byte-scanner kernel ([[expressions.GraftExpressions.redact_pii]]); the regex
    * chain [[redactPiiRegex]] is its semantic spec (EquivalenceSpec
    * fuzz-verifies bit-identity). */
  def redactPii(text: Column): Column = expressions.GraftExpressions.redact_pii(text)

  /** The three-pass regex formulation the kernel replicates — order
    * matters (see above), and both `java.util.regex` and RE2 agree on
    * these patterns, which is what keeps the DuckDB oracle exact. */
  def redactPiiRegex(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Re, "<IP>")
    regexp_replace(noIp, PhoneRe, "<PHONE>")
  }

  /** Fraction of token occurrences that are repeats of an earlier token:
    * (n - n_distinct) / n. Gopher-style repetition signal, row-local. */
  /** Both repetition signals in one native byte-scan call — a struct of
    * (dup_token_frac, top_bigram_frac), bit-identical to the
    * [[dupTokenFraction]]/[[topBigramFraction]] column pair
    * (EquivalenceSpec fuzzes them against each other); those remain the
    * executable specification. The bigram field is NULL for docs with
    * fewer than 2 tokens. */
  def repetitionStats(text: Column): Column =
    expressions.GraftExpressions.repetition_stats(text)

  /** fastText-style model-based quality scoring, the piece the heuristic
    * signals above don't cover: a linear classifier over hashed
    * unigram+bigram bag-of-features. The weight table is a fixed
    * deterministic arithmetic stand-in (no model artifacts ship in this
    * container — swapping in trained weights changes one line of
    * [[expressions.VecUtil.featWeight]]); everything around it — feature
    * hashing, bucket arithmetic, exact integer accumulation, the
    * sigmoid at the end — is the real scoring path. Row-local, zero
    * shuffle, one native byte-scan-ish pass per doc
    * ([[expressions.GraftExpressions.linear_logit]]); [[classifierLogitCols]] is the
    * built-in column formulation kept as its bit-identical spec. */
  def classifierLogitMilli(text: Column, buckets: Int): Column =
    expressions.GraftExpressions.linear_logit(tokenize(text), buckets)

  /** The HOF formulation the kernel replicates: per-feature weights via
    * the same bucket arithmetic, summed left-to-right (integer sum —
    * order-free). */
  def classifierLogitCols(text: Column, buckets: Int): Column = {
    def w(b: Column): Column = (b * 2654435761L + 40503L) % 2001L - 1000L
    val toks = tokenize(text)
    val uni = transform(toks, t => w(polyHash(t) % buckets))
    val bi = transform(shingles(toks, 2), g => w(polyHash(g) % buckets))
    aggregate(concat(uni, bi), lit(0L), (acc, x) => acc + x)
  }

  def dupTokenFraction(text: Column): Column = {
    val t = tokenize(text)
    (size(t) - size(array_distinct(t))).cast("double") / size(t).cast("double")
  }

  /** Fraction of all bigram occurrences taken by the single most
    * frequent bigram — the other Gopher-style repetition signal
    * (boilerplate/spam text repeats one phrase).
    *
    * Computed entirely row-locally: bigrams hash to mod-P longs
    * (collisions merge counts identically in any engine mirroring the
    * hash), the hash array is sorted, and one `aggregate` fold finds the
    * longest equal-run — no explode, no shuffle, stays in codegen. NULL
    * for docs with fewer than 2 tokens. */
  def topBigramFraction(text: Column): Column = {
    val bg = sort_array(transform(shingles(tokenize(text), 2), g => polyHash(g)))
    // fold state: (prev hash, current run, best run); hashes are in
    // [0, P) so -1 can never extend a run off the initial state
    val best = aggregate(bg,
      struct(lit(-1L).as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(size(bg) > 0, best.cast("double") / size(bg).cast("double"))
  }
}
