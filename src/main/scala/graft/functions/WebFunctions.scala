package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization for web-corpus curation — the "dedup by
  * canonical URL, aggregate by host" prep step crawl-derived training
  * corpora run before content-level dedup (the reference's pipelines
  * assume pre-curated inputs; this is the engine-native form of that
  * upstream step).
  *
  * Scale design: [[host]] and [[normalizeUrl]] are native byte-scan
  * kernels ([[graft.functions.expressions.GraftExpressions.url_host]]/[[graft.functions.expressions.GraftExpressions.url_normalize]])
  * — ONE codegen'd call each. The original regexp-Column chains (kept
  * below as `hostCols`/`normalizeUrlCols` for the equivalence spec)
  * duplicated into union branches and window-sort stages until the
  * generated method crossed the JVM 64 KB limit ("Code grows beyond
  * 64 KB", 156 inlined Matchers in one `sort_addToSorter`), silently
  * dropping whole stages to interpreted execution. Patterns stay
  * inside the regex subset Java and RE2 share, and replacement
  * backreferences are avoided entirely (prefix/rest recombination via
  * substr instead), so external engines mirror the transform
  * bit-for-bit; the kernels replicate the regex semantics exactly for
  * inputs free of raw Unicode line-terminator code points (URLs cannot
  * contain them), fuzz-verified in EquivalenceSpec.
  */
object WebFunctions {

  /** Lowercased canonical host — native kernel. */
  def host(url: Column): Column =
    graft.functions.expressions.GraftExpressions.url_host(url)

  /** Canonical URL — native kernel. */
  def normalizeUrl(url: Column): Column =
    graft.functions.expressions.GraftExpressions.url_normalize(url)

  /** scheme://authority prefix (authority = everything up to the first
    * '/', '?' or '#' past the scheme separator). */
  private val PrefixRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"

  /** Lowercased host of a URL: the authority of an ANCHORED
    * scheme://authority prefix, with userinfo stripped (everything up
    * to the last '@' — 'http://user:pass@h/' must not report 'user':
    * that is the classic blocklist-bypass shape), bracketed IPv6
    * literals unwrapped, and any trailing :port removed. Empty string
    * when the URL has no scheme-anchored authority — an unanchored
    * "//" match would fabricate hosts out of path-only URLs like
    * '/redirect//evil.com/x'. */
  def hostCols(url: Column): Column = {
    val auth = regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    val noUser = regexp_replace(auth, "^.*@", "")
    lower(when(noUser.startsWith("["),
        regexp_extract(noUser, "^\\[([^\\]]*)\\]", 1))
      .otherwise(regexp_replace(noUser, ":[0-9]*$", "")))
  }

  /** Canonical URL form: fragment stripped, scheme+authority
    * lowercased, default ports dropped (:80 for http, :443 for https),
    * and bare-authority URLs given the root path. Path and query are
    * preserved byte-for-byte (case and ordering are significant there).
    * URLs without a scheme://authority prefix pass through with only
    * the fragment stripped. */
  def normalizeUrlCols(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val rawPre = regexp_extract(noFrag, PrefixRe, 0)
    val rest = noFrag.substr(length(rawPre) + 1, length(noFrag))
    val pre = lower(rawPre)
    val pre2 =
      when(pre.startsWith("http://") && pre.endsWith(":80"),
        pre.substr(lit(1), length(pre) - 3))
        .when(pre.startsWith("https://") && pre.endsWith(":443"),
          pre.substr(lit(1), length(pre) - 4))
        .otherwise(pre)
    // the root path covers the empty-path-with-query form too:
    // 'http://a.com?q=1' and 'http://a.com/?q=1' are the same resource
    // and must canonicalize identically
    when(pre2 =!= "" && rest === "", concat(pre2, lit("/")))
      .when(pre2 =!= "" && rest.startsWith("?"), concat(pre2, lit("/"), rest))
      .otherwise(concat(pre2, rest))
  }
}
