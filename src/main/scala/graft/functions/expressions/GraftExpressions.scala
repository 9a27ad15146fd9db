package graft.functions.expressions

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One native (whole-stage-codegen) kernel call: the static
  * `VecUtil.<method>(children…, constants…)` named by the kernel's entry
  * in [[NativeKernel.table]].
  *
  * Spark's higher-order functions (`aggregate`/`zip_with` lambdas) are
  * evaluated interpreted — per-element Column-lambda dispatch — which
  * dominates vector math and per-char hashing. A kernel compiles to a
  * single static-kernel call inside the generated code, preserving the
  * exact fold order (and therefore bit-identical results and oracle
  * parity) of the HOF formulations it replaces.
  *
  * `constants` are plain values (Long, Int, Double, Seq[String]), so two
  * identical calls are equal and common-subexpression elimination merges
  * them. Generated code and interpreted `eval` call the same static
  * method with the same arguments. Inputs are never cast: a child of a
  * type the entry does not list fails analysis.
  */
case class NativeKernel(id: String, children: Seq[Expression], constants: Seq[Any] = Nil)
    extends Expression {
  import NativeKernel._

  @transient private lazy val spec: Spec = table(id)
  require(spec.valid.applyOrElse(constants, (_: Seq[Any]) => false),
    s"$id needs ${spec.rule}, got ${constants.mkString(", ")}")

  private def signature: Option[Sig] =
    spec.sigs.find(_.in == children.map(c => loose(c.dataType)))

  /** The resolved call: its signature, and the arguments after the
    * children — the constants (a Seq[String] one prepared once), then any
    * the input type adds. */
  @transient private lazy val sig: Sig = signature.get
  @transient private lazy val tail: Seq[AnyRef] = (constants.map {
    case s: Seq[_] => spec.prepare(s.map(_.toString))
    case v => v
  } ++ sig.extra).map(_.asInstanceOf[AnyRef])

  /** The static forwarder the generated code calls, resolved once. */
  @transient private lazy val forwarder: Method = Class.forName(Kernels).getMethod(sig.method,
    children.map(c => CodeGenerator.javaClass(c.dataType)) ++ tail.map(javaClass): _*)

  override def prettyName: String = spec.pretty
  override def dataType: DataType = spec.dataType
  override def nullable: Boolean = spec.nullResult || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override protected def stringArgs: Iterator[Any] = children.iterator ++ constants.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    if (signature.isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$id needs ${spec.sigs.map(s => render(s.in)).mkString(" or ")}, " +
        s"got ${render(children.map(_.dataType))}")

  override def eval(input: InternalRow): Any = {
    val values = children.map(_.eval(input).asInstanceOf[AnyRef])
    if (values.contains(null)) null
    else try forwarder.invoke(null, values ++ tail: _*) catch {
      case e: InvocationTargetException if e.getCause != null => throw e.getCause
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val args = gens.map(_.value.toString) ++ tail.map {
      case l: java.lang.Long => s"${l}L"
      case v @ (_: java.lang.Integer | _: java.lang.Double | _: java.lang.Boolean) => v.toString
      case ref => ctx.addReferenceObj(id, ref, ref.getClass.getCanonicalName)
    }
    val call = s"${ev.value} = $Kernels.${sig.method}(${args.mkString(", ")});" +
      (if (spec.nullResult) s"\n${ev.isNull} = ${ev.value} == null;" else "")
    val init = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    if (nullable) {
      val nullSafe = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$call") {
        case ((c, g), inner) => s"${g.code}\n${ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)}"
      }
      ev.copy(code = code"boolean ${ev.isNull} = true;\n$init\n$nullSafe")
    } else
      ev.copy(code = code"${gens.map(_.code).reduce(_ + _)}\n$init\n$call", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

object NativeKernel {

  /** The class whose static methods are the kernels. */
  private val Kernels = "graft.functions.expressions.VecUtil"

  /** One accepted list of child types and the method it calls, with any
    * argument the input type adds after the constants. */
  case class Sig(in: Seq[DataType], method: String, extra: Seq[Any])

  /** A kernel's table entry. `pretty` is the name plans and unaliased
    * columns print. `valid` accepts the constants (their types and
    * ranges; `rule` says what it wants); `nullResult` marks a kernel that
    * may return null for a non-null input; `prepare` builds the object a
    * Seq[String] constant is passed as. */
  case class Spec(pretty: String, dataType: DataType, sigs: Seq[Sig],
      rule: String = "no constants",
      valid: PartialFunction[Seq[Any], Boolean] = { case Seq() => true },
      nullResult: Boolean = false, prepare: Seq[String] => AnyRef = utf8)

  private def on(in: DataType*)(method: String, extra: Any*): Seq[Sig] = Seq(Sig(in, method, extra))
  private def utf8(s: Seq[String]): AnyRef = s.map(UTF8String.fromString).toArray
  private def ranks(merges: Seq[String]): AnyRef = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    merges.zipWithIndex.foreach { case (pair, rank) => m.put(pair, Integer.valueOf(rank)) }
    m
  }

  /** Input types match with array element nullability ignored. */
  private def loose(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(e)
    case other => other
  }
  private def render(ts: Seq[DataType]): String = ts.map(_.simpleString) match {
    case Seq(t) => t
    case more => more.mkString("(", ", ", ")")
  }
  private def javaClass(v: AnyRef): Class[_] = v match {
    case _: java.lang.Long => java.lang.Long.TYPE
    case _: java.lang.Integer => java.lang.Integer.TYPE
    case _: java.lang.Double => java.lang.Double.TYPE
    case _: java.lang.Boolean => java.lang.Boolean.TYPE
    case ref => ref.getClass
  }

  private val Str = StringType
  private val Tokens = ArrayType(StringType)
  private val Longs = ArrayType(LongType)
  private val Floats = ArrayType(FloatType)
  private val Doubles = ArrayType(DoubleType)
  private val LongCodes = ArrayType(LongType, containsNull = false)
  private val TermTfs = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)

  private val positive: PartialFunction[Seq[Any], Boolean] = { case Seq(v: Int) => v > 0 }
  private val nonEmpty: PartialFunction[Seq[Any], Boolean] = { case Seq(s: Seq[_]) => s.nonEmpty }

  /** Every kernel, by the name of its [[GraftExpressions]] function. */
  private[graft] val table: Map[String, Spec] = Map(
    "dot_product" -> Spec("dotproduct", DoubleType,
      on(Floats, Floats)("dotF") ++ on(Doubles, Doubles)("dotD")),
    "poly_hash" -> Spec("polyhash", LongType, on(Str)("polyHash"),
      "0 < mult < 1e9+7 (the modulus)", { case Seq(m: Long) => m > 0 && m < 1000000007L }),
    "token_count" -> Spec("tokencount", IntegerType, on(Str)("tokenCount")),
    "redact_pii" -> Spec("redactpii", StringType, on(Str)("redactPii")),
    "email_count" -> Spec("emailcount", IntegerType, on(Str)("emailCount")),
    "sim_hash60" -> Spec("simhash60", LongType, on(Tokens)("simHash60")),
    "minhash_sigs" -> Spec("minhashsigs", LongCodes, on(Tokens)("minHashSigs"),
      "n > 0 and k > 0", { case Seq(n: Int, k: Int) => n > 0 && k > 0 }, nullResult = true),
    "linear_logit" -> Spec("linearlogit", LongType, on(Tokens)("linearLogit"),
      "buckets > 0", positive),
    "shingle_hashes" -> Spec("shinglehashes", LongCodes, on(Tokens)("shingleHashes"),
      "n > 0", positive, nullResult = true),
    "excise_spans" -> Spec("excise_spans", StringType,
      on(Tokens, Longs, Longs)("exciseSpans")),
    "z_order" -> Spec("z_order", LongType, on(LongType, LongType)("interleaveBits")),
    "positional_shingle_hashes" -> Spec("positionalshinglehashes", LongCodes,
      on(Tokens)("positionalShingleHashes"), "n > 0", positive, nullResult = true),
    // infinity passes a bare > 0 check but is not a valid Java literal in
    // the generated code
    "quantize_vec" -> Spec("quantizevec", LongCodes, on(Floats)("quantizeVec"),
      "finite scale > 0", { case Seq(s: Double) => s > 0 && !s.isInfinite }),
    "quantize_int8" -> Spec("quantizeint8", LongCodes, on(Floats)("quantizeInt8")),
    "sq_dist_l" -> Spec("sqdistl", LongType, on(Longs, Longs)("sqDistL")),
    "dot_l" -> Spec("dotl", LongType, on(Longs, Longs)("dotL")),
    "repetition_stats" -> Spec("repetitionstats", StructType(Seq(
      StructField("dup_token_frac", DoubleType, nullable = false),
      StructField("top_bigram_frac", DoubleType, nullable = true))),
      on(Str)("repetitionStats")),
    "term_set_counts" -> Spec("term_set_counts", TermTfs, on(Tokens)("termSetCounts"),
      "a non-empty term set", nonEmpty),
    "term_counts" -> Spec("termcounts", TermTfs, on(Tokens)("termCounts")),
    "quality_score" -> Spec("quality_score", DoubleType, on(Str)("qualityScore"),
      "a non-empty stopword set", nonEmpty),
    "stopword_count" -> Spec("stopword_count", IntegerType, on(Str)("stopwordCount"),
      "a non-empty stopword set", nonEmpty),
    "term_counts_text" -> Spec("term_counts_text", TermTfs, on(Str)("termCountsText")),
    "bigram_hash_pairs" -> Spec("bigramhashpairs", ArrayType(StructType(Seq(
      StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false))), containsNull = false),
      on(Tokens)("bigramHashPairs")),
    "half_to_float" -> Spec("halftofloat", FloatType, on(BinaryType)("halfToFloat")),
    "clean_text" -> Spec("clean_text", StringType, on(Str)("cleanText")),
    "bpe_encode" -> Spec("bpe_encode", ArrayType(StringType, containsNull = false),
      on(Str)("bpeEncode"), "a merge list", { case Seq(_: Seq[_]) => true }, prepare = ranks),
    "pq_adc" -> Spec("pq_adc", LongType, on(Longs, Longs)("pqAdc"), "ksub > 0", positive),
    "url_host" -> Spec("url_host", StringType, on(Str)("urlHost")),
    "url_normalize" -> Spec("url_normalize", StringType, on(Str)("urlNormalize")),
    "micro_csv" -> Spec("micro_csv", StringType,
      on(Floats)("microCsv", true) ++ on(Doubles)("microCsv", false)),
    // elemKind 0 = long, 1 = int: resolved at plan time so the generated
    // code is a single monomorphic kernel call
    "raw_csv" -> Spec("raw_csv", StringType, on(Longs)("rawCsvNum", 0) ++
      on(ArrayType(IntegerType))("rawCsvNum", 1) ++ on(Tokens)("rawCsvStr")))
}

object GraftExpressions {
  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}

  private def kernel(id: String, constants: Any*)(cols: Column*): Column =
    column(NativeKernel(id, cols.map(expression), constants))

  /** Dot product of two array<float> or two array<double>, folded in
    * element order. */
  def dot_product(a: Column, b: Column): Column = kernel("dot_product")(a, b)

  /** h = fold((h*mult + codepoint) mod 1e9+7) over the string — the native
    * form of [[graft.functions.TextFunctions.polyHash]]. `mult` selects the
    * hash family (31 default; other odd multipliers give independent
    * families, mirrored by the oracle's parameterized fold). h < P ~ 1e9,
    * so h*mult must stay under 2^63: `mult` must be below the modulus. */
  def poly_hash(s: Column, mult: Long): Column = kernel("poly_hash", mult)(s)
  def poly_hash(s: Column): Column = poly_hash(s, 31L)

  /** Token count of a space-separated string WITHOUT materializing the
    * token array — byte-scan for 0x20, exactly `size(split(s, " "))` for
    * every input. Replaces the split in count-only pipelines (sequence
    * packing, manifests, length stats), whose cost is otherwise dominated
    * by the array allocation split performs. */
  def token_count(s: Column): Column = kernel("token_count")(s)

  /** PII redaction (emails, then IPv4, then phone-like runs → typed tags)
    * as one codegen'd byte-scanner call — semantically identical to the
    * three-`regexp_replace` chain it replaces (EquivalenceSpec fuzzes the
    * two against each other), ~10x cheaper: `java.util.regex` re-enters
    * its NFA machinery per start position, the scanner is three linear
    * passes with constant-time class tests. */
  def redact_pii(s: Column): Column = kernel("redact_pii")(s)

  /** Fused repetition-statistics kernel: dup-token fraction and
    * top-bigram fraction of a space-separated document in ONE byte-scan
    * call ([[VecUtil.repetitionStats]]) — replaces three `split`
    * materializations + interpreted HOF lambdas. Bit-identical to the
    * (dupTokenFraction, topBigramFraction) column pair (EquivalenceSpec).
    * Gopher-style repetition signals; reference filters repetition inside
    * its data pipeline the same per-row way. */
  def repetition_stats(s: Column): Column = kernel("repetition_stats")(s)

  /** floor(v[i] * scale) per dim, array<float> -> array<long> — the
    * engine-portable integer grid the IVF coarse quantizer trains on
    * ([[VecUtil.quantizeVec]]). `scale` must be finite and > 0. */
  def quantize_vec(v: Column, scale: Double): Column = kernel("quantize_vec", scale)(v)

  /** Symmetric per-vector int8 codes: q[i] = floor(v[i] * 127/max|v|)
    * ([[VecUtil.quantizeInt8]]); all-zero vectors map to all-zero codes. */
  def quantize_int8(v: Column): Column = kernel("quantize_int8")(v)

  /** Exact squared-L2 distance between two long vectors — integer k-means
    * assignment ([[VecUtil.sqDistL]]). */
  def sq_dist_l(a: Column, b: Column): Column = kernel("sq_dist_l")(a, b)

  /** Exact dot product of two long vectors — int8-code ANN ranking
    * ([[VecUtil.dotL]]). */
  def dot_l(a: Column, b: Column): Column = kernel("dot_l")(a, b)

  /** PQ asymmetric-distance score: Σ over subspaces of the query's
    * precomputed distance-table entry for the neighbor's code
    * ([[VecUtil.pqAdc]]). `codes` = the neighbor's m codes (array<bigint>),
    * `lut` = the query's flattened m×ksub LUT (`ksub` > 0). The ADC scan
    * reads m longs per neighbor instead of the full vector — the
    * bandwidth cut that makes PQ the corpus-scale ANN storage format. */
  def pq_adc(codes: Column, lut: Column, ksub: Int): Column = kernel("pq_adc", ksub)(codes, lut)

  /** Per-occurrence (prefix hash, bigram hash) pairs of a token array —
    * the row-local feed for bigram language-model counts
    * ([[VecUtil.bigramHashPairs]]). Empty array below 2 tokens. */
  def bigram_hash_pairs(tokens: Column): Column = kernel("bigram_hash_pairs")(tokens)

  /** Distinct terms + in-document counts of a token array, one row-local
    * call ([[VecUtil.termCounts]]) — replaces the corpus-wide
    * (doc, term) groupBy in TF-IDF-style pipelines with a narrow map. */
  def term_counts(tokens: Column): Column = kernel("term_counts")(tokens)

  /** [[term_counts]] fused with the tokenize: (term, tf) structs straight
    * from the raw text ([[VecUtil.termCountsText]]) — no split array is
    * ever materialized, only distinct terms are copied. */
  def term_counts_text(s: Column): Column = kernel("term_counts_text")(s)

  /** One-pass quality score (type-token ratio + stopword ratio + length
    * saturation) over the raw text — the fused byte-scan form of
    * [[graft.functions.TextFunctions.qualityScoreCols]], bit-identical
    * (EquivalenceSpec fuzzes the two). The three split/array_distinct/
    * filter-HOF passes the column form schedules collapse into one
    * [[VecUtil.qualityScore]] call. `stops` must be non-empty. */
  def quality_score(s: Column, stops: Seq[String]): Column = kernel("quality_score", stops)(s)

  /** Stopword-marker hits over the raw text — the byte-scan mirror of
    * `size(filter(split(s, " "), isin(stops)))` (language-ID feed).
    * `stops` must be non-empty. */
  def stopword_count(s: Column, stops: Seq[String]): Column = kernel("stopword_count", stops)(s)

  /** [[term_counts]] restricted to a small FIXED, non-empty term set:
    * (term, tf) structs for set terms only, computed by a row-local linear
    * probe ([[VecUtil.termSetCounts]]) — no full-vocabulary explode. The
    * set travels as a plan reference object (query batches are small by
    * definition; for corpus-sized vocabularies use [[term_counts]]). */
  def term_set_counts(tokens: Column, terms: Seq[String]): Column =
    kernel("term_set_counts", terms)(tokens)

  /** Count of non-overlapping email matches — the native mirror of
    * `regexp_count(s, EmailRe)`, sharing [[redact_pii]]'s matcher. */
  def email_count(s: Column): Column = kernel("email_count")(s)

  /** Decode IEEE binary16 stored as 2 little-endian bytes (the Parquet
    * FLOAT16 physical layout, which Spark's reader surfaces as binary) to
    * FloatType. Used by [[graft.sources.TabularReader]]'s float16 dtype
    * mapping (reference: hybridbackend/common/arrow.cc:48-73). */
  def half_to_float(b: Column): Column = kernel("half_to_float")(b)

  /** Row-local 60-bit SimHash fingerprint over a token array — the whole
    * per-document kernel (hash both families per token, per-bit majority
    * vote) as ONE codegen'd call, replacing an explode + 60-aggregate
    * groupBy with a narrow map: no exchange, state = one long per doc.
    * (Reference computes fingerprints inside its dedup kernel the same
    * row-local way; SURVEY §2.4.) */
  def sim_hash60(tokens: Column): Column = kernel("sim_hash60")(tokens)

  /** fastText-style hashed linear-classifier logit over a token array
    * (unigram + bigram features, fixed arithmetic pseudo-weights) in one
    * codegen'd call — [[graft.functions.TextFunctions.classifierLogitCols]]
    * is the built-in column formulation kept as its bit-identical
    * semantic spec (EquivalenceSpec fuzz). Integer milli-units; the
    * caller applies the sigmoid. `buckets` must be > 0. */
  def linear_logit(tokens: Column, buckets: Int): Column =
    kernel("linear_logit", buckets)(tokens)

  /** Fused MinHash signature kernel: k permutation mins over the token
    * n-grams of a document in one codegen'd call — no shingle strings, no
    * per-permutation arrays, no interpreted higher-order functions. NULL
    * when the doc has fewer than n tokens; n and k must be > 0. See
    * [[VecUtil.minHashSigs]]. */
  def minhash_sigs(tokens: Column, n: Int, k: Int): Column =
    kernel("minhash_sigs", n, k)(tokens)

  /** Distinct sorted n-gram shingle HASHES of a token array in one
    * codegen'd call — the verify-side companion of [[minhash_sigs]]: set
    * similarity is computed over mod-P gram hashes instead of gram
    * strings (collision-tolerant by design, like MinHash itself; the
    * oracle mirrors the hashing so both engines see identical sets).
    * NULL when the doc has fewer than n tokens; n must be > 0. */
  def shingle_hashes(tokens: Column, n: Int): Column =
    kernel("shingle_hashes", n)(tokens)

  /** Positional n-gram shingle hashes: element g = mod-P polyHash of the
    * space-joined gram starting at token g. The position-preserving
    * companion of [[shingle_hashes]] (same hash, no dedup/sort) feeding
    * span-level duplicate detection, where WHERE a gram sits in the doc
    * matters as much as its identity. NULL when the doc has < n tokens;
    * n must be > 0. */
  def positional_shingle_hashes(tokens: Column, n: Int): Column =
    kernel("positional_shingle_hashes", n)(tokens)

  /** 62-bit Morton (Z-order) value of two long keys' lower 31 bits
    * ([[VecUtil.interleaveBits]]) — the space-filling-curve sort key for
    * two-dimensional data layout: sorting by z clusters BOTH dimensions,
    * so parquet footer min/max stats prune box predicates on either key.
    * Negative inputs contribute only their masked lower 31 bits (layout
    * keys are ids — non-negative by construction). */
  def z_order(x: Column, y: Column): Column = kernel("z_order")(x, y)

  /** Rebuild a space-joined document from its token array minus every
    * token index covered by the sorted, non-overlapping [start, end)
    * interval lists — the excision step of substring-level dedup
    * ([[VecUtil.exciseSpans]]: one merge-scan, no per-token search). */
  def excise_spans(tokens: Column, starts: Column, ends: Column): Column =
    kernel("excise_spans")(tokens, starts, ends)

  /** Greedy BPE inference over a fixed merge table ([[VecUtil.bpeEncode]]):
    * whitespace words split to characters, then the lowest-rank adjacent
    * pair merges repeatedly until no ranked pair remains — the standard
    * encode loop of a trained byte-pair-encoding tokenizer. The merge
    * table (rank-ordered pairs, from [[graft.operators.Bpe.train]]) rides
    * into codegen as a reference object; the per-row loop is
    * O(word·symbols²) worst case with tiny constants, no shuffle, no UDF. */
  def bpe_encode(s: Column, merges: Seq[(String, String)]): Column =
    kernel("bpe_encode", merges.map { case (a, b) => s"$a $b" })(s)

  /** One-pass corpus text cleaning ([[VecUtil.cleanText]]): NFC
    * normalization + C0/DEL control chars → space + space-run collapse +
    * trim — the standard pre-tokenization scrub. Both the JDK and the
    * oracle's `nfc_normalize` implement the same Unicode canonical
    * composition, so results are byte-identical across engines. */
  def clean_text(s: Column): Column = kernel("clean_text")(s)

  /** Driver-gate serialization kernel: CSV of micro-scaled ints
    * (`CAST(round(x*1e6) AS BIGINT)` per element) from a float/double
    * array in ONE codegen'd call ([[VecUtil.microCsv]]). Replaces the
    * `transform(arr, …) + concat_ws` plan, whose lambda is
    * CodegenFallback — the interpreted-HOF class that regressed
    * input_layer_assemble 0.66→7.1 s at sf0.1 in round 7. Bit-identical
    * to the HOF form and to the DuckDB oracle's
    * `array_to_string(list_transform(...))` (EquivalenceSpec). */
  def micro_csv(arr: Column): Column = kernel("micro_csv")(arr)

  /** Gate serialization for integer/string arrays: CSV with verbatim
    * decimal / passthrough formatting, one codegen'd call
    * ([[VecUtil.rawCsvNum]]/[[VecUtil.rawCsvStr]]); same
    * skip-null-elements semantics as the `concat_ws` form it replaces. */
  def raw_csv(arr: Column): Column = kernel("raw_csv")(arr)

  /** Lowercased canonical host of a URL ([[VecUtil.urlHost]]) — one
    * codegen'd byte-scan call. The regexp-Column formulation
    * ([[graft.functions.WebFunctions.hostCols]]) inflated generated
    * methods past the JVM 64 KB limit when Catalyst duplicated it into
    * union branches + window-sort stages (156 inlined Matchers in one
    * `sort_addToSorter`!), silently dropping whole stages to interpreted
    * execution — the round-7 web_host_cap 0.3–5.6 s instability. */
  def url_host(s: Column): Column = kernel("url_host")(s)

  /** Canonical URL form ([[VecUtil.urlNormalize]]) — see [[url_host]] for
    * why this is a native kernel rather than the regexp-Column chain. */
  def url_normalize(s: Column): Column = kernel("url_normalize")(s)
}
