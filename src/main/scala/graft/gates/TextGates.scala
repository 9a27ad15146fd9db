package graft
package gates

import graft.functions.TextFunctions
import graft.operators.{Contamination, SeqPack, TermStats, WebCuration}
import org.apache.spark.sql.functions._
import Shared._

/** Text gates: token statistics, quality and language scores,
  * TF-IDF/BM25 retrieval, chunking, redaction, web-host curation and
  * sequence packing. */
object TextGates {

  val gates: Seq[Gate] = Seq(
    // ---- text analysis (training-data pipeline ops) --------------------
    Gate("text_stats", { (s, d) =>
      val toks = TextFunctions.tokenize(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_uniq_tokens"),
        TextFunctions.regexTokenCount(col("text")).cast("long").as("n_regex_tokens"),
        (TextFunctions.stopwordCount(toks).cast("double") / size(toks)).as("stopword_ratio"),
        TextFunctions.punctRatio(col("text")).as("punct_ratio"))
    }, s"""WITH t AS (SELECT doc_id, text, string_split(text,' ') AS toks FROM documents)
          |SELECT doc_id,
          |  CAST(len(toks) AS BIGINT) AS n_tokens,
          |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_tokens,
          |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_regex_tokens,
          |  CAST(len(list_filter(toks, x -> x IN ${OracleFragments.stopwordListSql})) AS DOUBLE)
          |    / len(toks) AS stopword_ratio,
          |  CAST(len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / len(text) AS punct_ratio
          |FROM t""".stripMargin),
    Gate("text_quality", { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
    }, s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
          |SELECT doc_id, $qualityExprSql AS quality
          |FROM t""".stripMargin),
    Gate("text_langid", { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), TextFunctions.languageId(col("text")).as("lang_pred"))
    }, s"""SELECT doc_id,
          |  CASE WHEN len(list_filter(string_split(text,' '),
          |    x -> x IN ${OracleFragments.stopwordListSql})) > 0
          |  THEN 'en' ELSE 'und' END AS lang_pred
          |FROM documents""".stripMargin),
    Gate("text_tfidf_topk", { (s, d) =>
      TermStats.tfIdfTopTerms(Tables.documents(s, d), col("doc_id"), col("text"), k = 5)
    }, """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
         |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
         |scored AS (SELECT doc_id, tf.term AS term,
         |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 9) AS tfidf
         |  FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN n)
         |SELECT doc_id, term, tfidf,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rn
         |FROM scored QUALIFY rn <= 5""".stripMargin),
    Gate("text_lm_score", { (s, d) =>
      // in-domain bigram-LM cross-entropy per document (train = score =
      // the corpus): low = boilerplate, high = surprising text
      val docs = Tables.documents(s, d)
      TermStats.bigramCrossEntropy(docs, docs, col("doc_id"), col("text"))
    }, s"""WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
          |bg AS (SELECT doc_id,
          |  unnest(list_transform(range(1, len(toks)),
          |    i -> ${OracleFragments.polyHashSql("toks[i]")})) AS h1,
          |  unnest(list_transform(range(1, len(toks)),
          |    i -> ${OracleFragments.polyHashSql("array_to_string(toks[i:i+1], ' ')")})) AS h2
          |  FROM tok),
          |cb AS (SELECT h2, COUNT(*) AS c2 FROM bg GROUP BY h2),
          |cp AS (SELECT h1, COUNT(*) AS c1 FROM bg GROUP BY h1),
          |s AS (SELECT b.doc_id,
          |  SUM(CAST(round(ln(CAST(cb.c2 AS DOUBLE) / cp.c1) * 1e9) AS BIGINT)) AS slog,
          |  COUNT(*) AS nb
          |  FROM bg b JOIN cb ON cb.h2 = b.h2 JOIN cp ON cp.h1 = b.h1
          |  GROUP BY b.doc_id)
          |SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams,
          |  -(CAST(slog AS DOUBLE) / (1e9 * nb)) AS cross_entropy
          |FROM s""".stripMargin),
    Gate("text_vocab_topn", { (s, d) =>
      // vocabulary build: corpus-wide term frequencies, top-100 with a
      // deterministic tie-break — explode + map-side-combinable count +
      // TakeOrderedAndProject (per-partition top-k, only fragments travel)
      Tables.documents(s, d)
        .select(explode(TextFunctions.tokenize(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(100)
    }, """SELECT term, CAST(COUNT(*) AS BIGINT) AS n
         |FROM (SELECT unnest(string_split(text,' ')) AS term FROM documents) t
         |GROUP BY term ORDER BY n DESC, term LIMIT 100""".stripMargin),
    Gate("text_quality_filter", { (s, d) =>
      // corpus-quantile curation cut: drop the worst quartile
      TermStats.qualityFilter(
        Tables.documents(s, d).select("doc_id", "text"), col("text"), 0.25)
        .select("doc_id", "quality")
    }, s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
          |q AS (SELECT doc_id, round($qualityExprSql, 9) AS quality FROM t),
          |thr AS (SELECT round(quantile_cont(quality, 0.25), 9) AS thr FROM q)
          |SELECT doc_id, quality FROM q CROSS JOIN thr WHERE quality >= thr""".stripMargin),
    Gate("text_fingerprint", { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
    }, s"SELECT doc_id, ${OracleFragments.polyHashSql("text")} AS fp FROM documents"),
    Gate("text_bm25_topk", { (s, d) =>
      // lexical retrieval: three keyword queries over the corpus,
      // BM25-ranked (nano-integer scores — order-free float parity)
      import s.implicits._
      val queries = Seq((0L, "spark"), (0L, "join"), (1L, "hash"),
        (1L, "table"), (2L, "window"), (2L, "sort"), (2L, "merge"))
        .toDF("query_id", "term")
      TermStats.bm25TopK(Tables.documents(s, d), col("doc_id"), col("text"),
        queries, k = 10)
    }, s"""WITH ${bm25OracleCtes(10)}
          |SELECT query_id, doc_id, score_nano, rn FROM lex""".stripMargin),
    Gate("text_classifier_score", { (s, d) =>
      // model-based quality scoring (fastText-shaped): hashed
      // unigram+bigram features -> fixed pseudo-weights -> exact integer
      // logit -> sigmoid of the mean weight; one native kernel pass per
      // doc, zero shuffle (the weight table is a deterministic
      // arithmetic stand-in; the scoring plumbing is the real path)
      val nf = (TextFunctions.tokenCount(col("text")).cast("long") * 2 - 1)
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextFunctions.classifierLogitMilli(col("text"), buckets = 1 << 20)
            .as("logit_milli"),
          nf.as("nf"))
        .select(col("doc_id"), col("logit_milli"),
          round(lit(1.0) / (lit(1.0) +
            exp(-(col("logit_milli").cast("double") /
              (lit(1000.0) * col("nf").cast("double"))))), 9).as("score"))
    },
      // same bucket arithmetic (polyHash of token / of "w1 w2"), same
      // pseudo-weight formula, exact integer sum, sigmoid at the end
      s"""WITH tok AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |uni AS (SELECT doc_id, unnest(t) AS g FROM tok),
         |bi AS (SELECT doc_id,
         |  unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
         |  FROM tok WHERE len(t) >= 2),
         |feats AS (SELECT doc_id, g FROM uni UNION ALL SELECT doc_id, g FROM bi),
         |w AS (SELECT doc_id,
         |  ((((${OracleFragments.polyHashSql("g")}) % ${1 << 20}) * 2654435761 + 40503)
         |    % 2001) - 1000 AS wt FROM feats),
         |agg AS (SELECT doc_id, CAST(SUM(wt) AS BIGINT) AS logit_milli,
         |  COUNT(*) AS nf FROM w GROUP BY doc_id)
         |SELECT doc_id, logit_milli,
         |  round(1.0 / (1.0 + exp(-(CAST(logit_milli AS DOUBLE) / (1000.0 * nf)))), 9)
         |    AS score
         |FROM agg""".stripMargin),
    // ---- LLM training-data prep: packing / chunking / redaction --------
    Gate("pack_sequences", { (s, d) =>
      // contiguous token-budget packing in corpus order: distributed
      // two-phase prefix sum (range-bucketed windows + broadcast bucket
      // offsets) — no global window (PlanShapeSpec guards)
      SeqPack.packContiguous(Tables.documents(s, d), col("doc_id"),
        TextFunctions.tokenCount(col("text")), budget = 512L)
        .select(col("k").as("doc_id"), col("n_tokens"), col("chunk_id"))
    }, """WITH t AS (SELECT doc_id,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
         |  FROM t)
         |SELECT doc_id, n_tokens, cumb // 512 AS chunk_id FROM c""".stripMargin),
    Gate("pack_manifest", { (s, d) =>
      // chunk-level rollup the downstream tokenizer/writer consumes
      SeqPack.chunkManifest(
        SeqPack.packContiguous(Tables.documents(s, d), col("doc_id"),
          TextFunctions.tokenCount(col("text")), budget = 512L))
    }, """WITH t AS (SELECT doc_id,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
         |  FROM t)
         |SELECT cumb // 512 AS chunk_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |FROM c GROUP BY 1""".stripMargin),
    Gate("pack_render", { (s, d) =>
      // the materialized training chunks: packed assignment joined back
      // to the corpus, text rendered in corpus order
      val docs = Tables.documents(s, d)
      SeqPack.renderChunks(docs,
        SeqPack.packContiguous(docs, col("doc_id"),
          TextFunctions.tokenCount(col("text")), budget = 512L),
        col("doc_id"), col("text"))
    }, """WITH t AS (SELECT doc_id,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
         |  FROM t),
         |p AS (SELECT doc_id, n_tokens, cumb // 512 AS chunk_id FROM c)
         |SELECT chunk_id, string_agg(d.text, ' ' ORDER BY p.doc_id) AS chunk_text,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(p.n_tokens) AS BIGINT) AS n_tokens
         |FROM p JOIN documents d ON p.doc_id = d.doc_id GROUP BY chunk_id""".stripMargin),
    Gate("text_chunk_overlap", { (s, d) =>
      // overlapping token windows (W=32, stride=24) for embedding/RAG
      // prep; final window clamps to cover the tail. Row-local explode,
      // no shuffle.
      val spans = TextFunctions.chunkSpans(size(col("toks")), window = 32, stride = 24)
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.tokenize(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), explode(spans).as("span"))
        .select(col("doc_id"),
          col("span.chunk_idx").cast("long").as("chunk_idx"),
          col("span.chunk_start").cast("long").as("chunk_start"),
          array_join(slice(col("toks"), col("span.chunk_start"), lit(32)), " ").as("chunk_text"))
    }, """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         |p AS (SELECT doc_id, toks, len(toks) AS n,
         |  1 + CAST(ceil(GREATEST(0, len(toks) - 32) / 24.0) AS BIGINT) AS n_chunks FROM t),
         |e AS (SELECT doc_id, toks, n, unnest(range(0, n_chunks)) AS i FROM p),
         |c AS (SELECT doc_id, i, LEAST(i*24 + 1, GREATEST(1, n - 31)) AS st, toks FROM e)
         |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, CAST(st AS BIGINT) AS chunk_start,
         |  array_to_string(toks[st:st+31], ' ') AS chunk_text
         |FROM c""".stripMargin),
    Gate("text_redact_pii", { (s, d) =>
      // the corpus has no PII, so the gate injects synthetic
      // email/phone/IP spans (a pure function of doc_id, mirrored in
      // the oracle) and verifies the scrub end-to-end
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or +1-555-01"), col("doc_id").cast("string"),
        lit(" ip 10.0."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".7 end"))
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.redactPii(aug).as("redacted"),
        graft.functions.expressions.GraftExpressions.email_count(aug)
          .cast("long").as("n_emails"))
    }, s"""WITH a AS (SELECT doc_id, text || ' contact user' || doc_id
          |  || '@example.com or +1-555-01' || doc_id
          |  || ' ip 10.0.' || (doc_id % 256) || '.7 end' AS aug FROM documents)
          |SELECT doc_id,
          |  regexp_replace(regexp_replace(regexp_replace(aug,
          |    '${TextFunctions.EmailRe}', '<EMAIL>', 'g'),
          |    '${TextFunctions.Ipv4Re}', '<IP>', 'g'),
          |    '${TextFunctions.PhoneRe}', '<PHONE>', 'g') AS redacted,
          |  CAST(len(regexp_extract_all(aug, '${TextFunctions.EmailRe}')) AS BIGINT) AS n_emails
          |FROM a""".stripMargin),
    Gate("web_url_normalize", { (s, d) =>
      // URL canonicalization: the corpus has no URL column, so the gate
      // generates deterministic crawl-shaped URLs from doc_id (mixed-case
      // scheme/host, default ports, tracking fragments, bare-authority
      // forms — generation mirrored verbatim in the oracle) and verifies
      // normalize + host extraction row-for-row
      val url = concat(
        when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTP://WWW.Site"))
          .otherwise(lit("https://CDN.Site")),
        pmod(col("doc_id"), lit(997)).cast("string"),
        lit(".Example.COM"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(":80")).otherwise(lit(":443")),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(""))
          .otherwise(concat(lit("/Page/"), col("doc_id").cast("string"), lit("?Q=a"))),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("#Sec")).otherwise(lit("")))
      Tables.documents(s, d).select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          graft.functions.WebFunctions.normalizeUrl(col("url")).as("url_norm"))
        .withColumn("host", graft.functions.WebFunctions.host(col("url_norm")))
    },
      // same generation, then the same prefix/rest normalization steps
      // (no replacement backreferences — substr recombination is the
      // Java/RE2-portable form)
      """WITH gen AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.Site' ELSE 'https://CDN.Site' END)
        |  || (doc_id % 997) || '.Example.COM'
        |  || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
        |  || (CASE WHEN doc_id % 5 = 0 THEN '' ELSE '/Page/' || doc_id || '?Q=a' END)
        |  || (CASE WHEN doc_id % 3 = 0 THEN '#Sec' ELSE '' END) AS url FROM documents),
        |nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM gen),
        |pr AS (SELECT doc_id, u,
        |  regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0) AS rawpre FROM nf),
        |pa AS (SELECT doc_id, lower(rawpre) AS pre, substr(u, len(rawpre)+1) AS rest FROM pr),
        |pb AS (SELECT doc_id,
        |  CASE WHEN pre LIKE 'http://%' AND pre LIKE '%:80' THEN substr(pre, 1, len(pre)-3)
        |       WHEN pre LIKE 'https://%' AND pre LIKE '%:443' THEN substr(pre, 1, len(pre)-4)
        |       ELSE pre END AS pre2, rest FROM pa),
        |n AS (SELECT doc_id,
        |  CASE WHEN pre2 <> '' AND rest = '' THEN pre2 || '/' ELSE pre2 || rest END AS url_norm
        |  FROM pb)
        |SELECT doc_id, url_norm,
        |  lower(regexp_extract(url_norm, '//([^/:?#]*)', 1)) AS host FROM n""".stripMargin),
    Gate("web_host_cap", { (s, d) =>
      // per-host document cap (the C4/RefinedWeb-style domain cap): the
      // corpus has no URL column, so hosts are generated from doc_id
      // (mod 23 — coarse enough that the cap binds at every SF); keep
      // the 5 longest docs per host, doc_id tiebreak for determinism
      val url = concat(lit("https://Host"), pmod(col("doc_id"), lit(23)).cast("string"),
        lit(".Example.com/Doc/"), col("doc_id").cast("string"))
      WebCuration.hostCap(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars"), url.as("url")),
        col("url"), n = 5, order = Seq(col("n_chars").desc, col("doc_id").asc))
        .select(col("doc_id"), col("host"), col("host_rank").cast("long").as("host_rank"),
          col("n_chars"))
    },
      // same host generation (already-canonical form, so the normalize
      // chain is the identity and the cap semantics are what's gated)
      """WITH gen AS (SELECT doc_id, n_chars,
        |  'host' || (doc_id % 23) || '.example.com' AS host FROM documents),
        |r AS (SELECT doc_id, host, n_chars,
        |  CAST(row_number() OVER (PARTITION BY host
        |    ORDER BY n_chars DESC, doc_id) AS BIGINT) AS host_rank FROM gen)
        |SELECT doc_id, host, host_rank, n_chars FROM r WHERE host_rank <= 5""".stripMargin),
    // ---- benchmark contamination / repetition quality ------------------
    Gate("text_contamination", { (s, d) =>
      // benchmark slice = every 20th doc; the training side's shingles
      // are checked against the (broadcast) benchmark shingle universe
      val docs = Tables.documents(s, d)
      Contamination.overlap(
        docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(20)) === 0),
        col("doc_id"), col("text"), n = 3)
    }, s"""WITH ${OracleFragments.shingleCtes(3)},
          |shh AS (SELECT doc_id,
          |  list_distinct(list_transform(shingles, g -> ${OracleFragments.polyHashSql("g")})) AS hsh
          |  FROM sh),
          |bench AS (SELECT DISTINCT unnest(hsh) AS s FROM shh WHERE doc_id % 20 = 0),
          |tr AS (SELECT doc_id, CAST(len(hsh) AS BIGINT) AS tot, unnest(hsh) AS s
          |  FROM shh WHERE doc_id % 20 <> 0),
          |hits AS (SELECT tr.doc_id, tr.tot, count(*) AS hit
          |  FROM tr JOIN bench USING (s) GROUP BY 1, 2)
          |SELECT doc_id, hit, tot, CAST(hit AS DOUBLE) / tot AS contamination
          |FROM hits""".stripMargin),
    Gate("text_repetition", { (s, d) =>
      // one native kernel call per doc (token-count filter + fused
      // repetition struct); subexpression elimination keeps the struct
      // evaluated once for both output fields
      Tables.documents(s, d)
        .filter(TextFunctions.tokenCount(col("text")) >= 2)
        .select(col("doc_id"),
          TextFunctions.repetitionStats(col("text")).as("r"))
        .select(col("doc_id"),
          col("r").getField("dup_token_frac").as("dup_token_frac"),
          col("r").getField("top_bigram_frac").as("top_bigram_frac"))
    }, s"""WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
          |bg AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
          |  CAST(len(list_distinct(toks)) AS BIGINT) AS nd,
          |  list_transform(range(1, len(toks)),
          |    i -> ${OracleFragments.polyHashSql("array_to_string(toks[i:i+1], ' ')")}) AS bgh
          |  FROM tok WHERE len(toks) >= 2),
          |e AS (SELECT doc_id, n, nd, CAST(len(bgh) AS BIGINT) AS nb, unnest(bgh) AS h FROM bg),
          |c AS (SELECT doc_id, n, nd, nb, h, count(*) AS c FROM e GROUP BY 1, 2, 3, 4, 5)
          |SELECT doc_id, CAST(n - nd AS DOUBLE) / n AS dup_token_frac,
          |  CAST(max(c) AS DOUBLE) / nb AS top_bigram_frac
          |FROM c GROUP BY doc_id, n, nd, nb""".stripMargin),
    Gate("text_clean", { (s, d) =>
      // native one-pass scrub vs DuckDB's nfc_normalize + regex chain:
      // deterministic dirt (combining accent, BEL, TAB, pad runs) is
      // injected around the clean corpus text so every stage of the
      // kernel is exercised and hash-checked
      val dirty = concat(lit("  e\u0301x\u0007y\t"), col("text"), lit("  tail  "))
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.cleanText(dirty).as("clean"))
    }, """SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(
         |    nfc_normalize('  e' || chr(769) || 'x' || chr(7) || 'y' || chr(9)
         |      || text || '  tail  '),
         |    '[\x00-\x1F\x7F]', ' ', 'g'), ' +', ' ', 'g')) AS clean
         |FROM documents""".stripMargin),
    Gate("text_bpe_tokens", { (s, d) =>
      // Real BPE tokenization (operators.Bpe): 40 merges trained on the
      // corpus itself (one distributed word-freq aggregation + driver
      // merge loop over the bounded dictionary), then the codegen'd
      // greedy-rank encode. The oracle checks end-to-end LOSSLESSNESS:
      // detokenization must reproduce the text minus the space
      // delimiters (pure SQL), and the token count must sit inside its
      // provable bounds [n_words, n_chars] (the oracle asserts the
      // boolean; a miscount on the Spark side flips it and hash-fails).
      // Merge-rank semantics and goldens stay spec-asserted (LlmPrepSpec).
      val docs = Tables.documents(s, d)
      val merges = operators.Bpe.train(docs, col("text"), numMerges = 40)
      // STAGED projections so the encode kernel runs ONCE per row: the
      // old single-projection form referenced `toks` three times
      // (detok, and size twice) and Catalyst inlined the bpe_encode call
      // into every use — the gate measured 3× the encode cost (31.8 vs
      // 11.4 s at x200; PERF.md "Round-8: regression scorecard").
      // Multi-referenced non-cheap aliases survive CollapseProject
      // (SPARK-36718), so each stage below evaluates its expensive
      // column exactly once.
      val nWords = size(filter(split(col("text"), " "), w => length(w) > 0))
      // NULL text: concat_ws would mask it to '' (oracle says NULL) and a
      // coalesce-to-true would silently pass the bound on the one row
      // where it can't be evaluated — mirror NULL explicitly instead.
      docs.select(col("doc_id"), col("text"),
          operators.Bpe.encode(col("text"), merges).as("toks"))
        .select(col("doc_id"), col("text"), size(col("toks")).as("ntok"),
          concat_ws("", col("toks")).as("detok0"))
        .select(col("doc_id"),
          when(col("text").isNotNull, col("detok0")).as("detok"),
          when(col("text").isNotNull,
            col("ntok") <= length(col("detok0")) && col("ntok") >= nWords)
            .as("n_tokens_bounded"))
    },
      // losslessness oracle: BPE merges only ever concatenate adjacent
      // in-word symbols, so detokenization is the text minus the space
      // delimiters; the count-bound boolean is asserted literally true
      // (a Spark-side miscount flips it -> hash fail)
      """SELECT doc_id, replace(text, ' ', '') AS detok,
        |  CASE WHEN text IS NOT NULL THEN true END AS n_tokens_bounded
        |FROM documents""".stripMargin),
  )
}
