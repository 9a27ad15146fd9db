package graft
package gates

import graft.functions.TextFunctions
import graft.operators.{Ann, BlockDedup, DedupClusters, Graph, Ivf, NearDup}
import org.apache.spark.sql.functions._
import Shared._

/** Deduplication gates: exact, span, line, n-gram, MinHash/LSH,
  * SimHash, embedding and incremental near-dup detection, and the
  * cluster/canonical selection built on their pair sets. */
object DedupGates {

  /** MinHash+LSH near-dup pair oracle — shared by the pair gate and the
    * two clustering gates built on its pair set. */
  private def minHashLshOracle: String =
    s"""WITH ${OracleFragments.shingleCtes(3)},
       |${OracleFragments.minHashSigSql(16)},
       |${OracleFragments.lshCandidateSql(4, 4)},
       |${OracleFragments.jaccardVerifySql(0.5)}""".stripMargin

  /** Cross-corpus (incremental-ingestion) MinHash oracle: same CTEs as
    * [[minHashLshOracle]] but candidates pair the 1-in-5 "new batch"
    * against the 4-in-5 "corpus" only; `finalSelect` picks the pair list
    * or the novelty anti-join over the shared `j` CTE. */
  private def incrementalDedupOracle(finalSelect: String): String =
    s"""WITH ${OracleFragments.shingleCtes(3)},
       |${OracleFragments.minHashSigSql(16)},
       |${OracleFragments.lshCrossCandidateSql(4, 4,
          "a.doc_id % 5 = 0", "b.doc_id % 5 <> 0")},
       |${OracleFragments.jaccardJoinCtes}
       |$finalSelect""".stripMargin

  /** Shared brute-force hamming<=2 oracle for the bounded and full
    * simhash-pairs gates (one template, one place to change). */
  private def simHashPairsOracle(docFilter: String): String =
    s"""WITH ${OracleFragments.simHashCtes(NearDup.SimHashBits).replace(
           "FROM documents", s"FROM documents$docFilter")}
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2""".stripMargin

  val gates: Seq[Gate] = Seq(
    // ---- block dedup (reference §2.4) ----------------------------------
    Gate("dedup_block_roundtrip", { (s, d) =>
      val compressed = BlockDedup.compress(
        Tables.events(s, d), col("user_id"), col("event_id"), Seq("event_type"))
      BlockDedup.restore(compressed, "event_type")
        .select(col("__ord").as("event_id"), col("event_type"))
    }, "SELECT event_id, event_type FROM events"),
    Gate("dedup_block_compressed", { (s, d) =>
      BlockDedup.compress(
        Tables.events(s, d), col("user_id"), col("event_id"), Seq("event_type"))
        .select(col("block"),
          rawCsv(col("event_type_uniq")).as("event_type_uniq"),
          rawCsv(col("event_type_idx")).as("event_type_idx"))
    }, """WITH g AS (
         |  SELECT user_id AS block, list(event_type ORDER BY event_id) AS ordered
         |  FROM events GROUP BY user_id)
         |SELECT block,
         |  array_to_string(list_sort(list_distinct(ordered)), ',') AS event_type_uniq,
         |  array_to_string(list_transform(ordered,
         |    x -> CAST(list_position(list_sort(list_distinct(ordered)), x) - 1 AS BIGINT)), ',') AS event_type_idx
         |FROM g""".stripMargin),
    // ---- deduplication suite -------------------------------------------
    Gate("dedup_exact_groups", { (s, d) =>
      NearDup.exactGroups(Tables.documents(s, d), col("doc_id"), col("text"))
    }, "SELECT text, COUNT(*) AS n, MIN(doc_id) AS keeper FROM documents GROUP BY text"),
    Gate("dedup_span_coverage", { (s, d) =>
      // span-granular (substring-level) duplication: exact token
      // coverage of 5-grams shared across documents
      NearDup.duplicatedSpans(Tables.documents(s, d), col("doc_id"),
        col("text"), n = 5)
    },
      // positions are 1-based here vs 0-based in Spark; the union LENGTH
      // of [pos, pos+5) intervals is shift-invariant so the aggregates
      // agree exactly
      s"""WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)-3),
         |    i -> struct_pack(pos := i,
         |      h := ${OracleFragments.polyHashSql("array_to_string(toks[i:i+4], ' ')")}))) AS ph
         |  FROM tok WHERE len(toks) >= 5),
         |e AS (SELECT doc_id, ph.pos AS pos, ph.h AS h FROM g),
         |dup AS (SELECT h FROM e GROUP BY h HAVING min(doc_id) <> max(doc_id)),
         |hit AS (SELECT e.doc_id, e.pos FROM e JOIN dup USING (h)),
         |iv AS (SELECT doc_id, pos, max(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pend FROM hit),
         |cov AS (SELECT doc_id, sum(greatest(0, pos + 5 - greatest(pos, coalesce(pend, 0)))) AS c
         |  FROM iv GROUP BY doc_id),
         |nt AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents)
         |SELECT nt.doc_id, n_tokens, CAST(coalesce(c, 0) AS BIGINT) AS dup_span_tokens,
         |  CAST(coalesce(c, 0) AS DOUBLE) / n_tokens AS dup_span_frac
         |FROM nt LEFT JOIN cov USING (doc_id)""".stripMargin),
    Gate("dedup_span_removal", { (s, d) =>
      // the excision transform: duplicated passages removed everywhere
      // but their minimum-id holder, text rebuilt by the native kernel
      NearDup.removeDuplicatedSpans(Tables.documents(s, d), col("doc_id"),
        col("text"), n = 5)
    },
      // same gram/dup CTEs as dedup_span_coverage plus the min-holder
      // exemption, island merge, and a NOT-EXISTS rebuild; empty results
      // coalesce to '' (fully-excised docs must keep their row)
      s"""WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)-3),
         |    i -> struct_pack(pos := i,
         |      h := ${OracleFragments.polyHashSql("array_to_string(toks[i:i+4], ' ')")}))) AS ph
         |  FROM tok WHERE len(toks) >= 5),
         |e AS (SELECT doc_id, ph.pos AS pos, ph.h AS h FROM g),
         |dup AS (SELECT h, min(doc_id) AS mn FROM e GROUP BY h
         |  HAVING min(doc_id) <> max(doc_id)),
         |rem AS (SELECT e.doc_id, e.pos FROM e JOIN dup USING (h) WHERE e.doc_id <> dup.mn),
         |isl AS (SELECT doc_id, pos, max(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pend FROM rem),
         |isl2 AS (SELECT doc_id, pos, sum(CASE WHEN pend IS NULL OR pos > pend THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM isl),
         |iv AS (SELECT doc_id, grp, min(pos) AS s, max(pos) + 5 AS e FROM isl2 GROUP BY doc_id, grp),
         |tokidx AS (SELECT doc_id, unnest(range(1, len(toks)+1)) AS i,
         |    unnest(toks) AS tk FROM tok),
         |keep AS (SELECT t.doc_id, t.i, t.tk FROM tokidx t
         |  WHERE NOT EXISTS (SELECT 1 FROM iv
         |    WHERE iv.doc_id = t.doc_id AND t.i >= iv.s AND t.i < iv.e)),
         |built AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY i) AS ct FROM keep GROUP BY doc_id)
         |SELECT tok.doc_id, coalesce(b.ct, '') AS clean_text
         |FROM tok LEFT JOIN built b USING (doc_id)""".stripMargin),
    Gate("dedup_line_level", { (s, d) =>
      // C4-style boilerplate-line removal: "lines" are disjoint 10-token
      // segments (the corpus stores single-line token streams; real
      // crawl text would pass split(text, "\n")); a line shared across
      // documents survives only in its minimum-id holder
      val toks = TextFunctions.tokenize(col("text"))
      val nL = ceil(size(toks) / 10.0).cast("int")
      val lines = when(size(toks) === 0, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), nL - 1),
          i => array_join(slice(toks, i * 10 + 1, lit(10)), " ")))
      NearDup.removeDuplicateLines(
        Tables.documents(s, d).select(col("doc_id"), lines.as("lines")),
        col("doc_id"), col("lines"))
    },
      // same min-holder-keeps rule at LINE granularity; lines group by the
      // same poly-hash the engine exchanges, so collisions merge identically
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         |b AS (SELECT doc_id, CAST(ceil(len(toks)/10.0) AS BIGINT) AS n_lines FROM t),
         |l0 AS (SELECT doc_id, toks,
         |    unnest(range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))) AS pos FROM t),
         |l AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    array_to_string(list_slice(toks, pos*10+1, pos*10+10), ' ') AS line FROM l0),
         |lh AS (SELECT doc_id, pos, line, ${OracleFragments.polyHashSql("line")} AS h FROM l),
         |m AS (SELECT h, min(doc_id) AS mn, max(doc_id) AS mx FROM lh GROUP BY h),
         |k AS (SELECT lh.doc_id, lh.pos, lh.line FROM lh JOIN m USING (h)
         |  WHERE m.mn = m.mx OR lh.doc_id = m.mn),
         |r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         |    CAST(count(*) AS BIGINT) AS n_kept FROM k GROUP BY doc_id)
         |SELECT b.doc_id, coalesce(r.clean_text, '') AS clean_text, b.n_lines,
         |  coalesce(r.n_kept, CAST(0 AS BIGINT)) AS n_kept
         |FROM b LEFT JOIN r USING (doc_id)""".stripMargin),
    Gate("dedup_ngram_jaccard", { (s, d) =>
      // dfCap = 20: stop-shingles (df > 20) are dropped before the
      // self-join — bounds the join fanout to df² ≤ 400 rows per shingle
      NearDup.jaccardPairs(Tables.documents(s, d), col("doc_id"), col("text"),
        n = 3, threshold = 0.5, dfCap = 20)
    }, s"""WITH ${OracleFragments.shingleCtes(3)},
          |${OracleFragments.cappedJaccardSql(20, 0.5)}""".stripMargin),
    Gate("dedup_minhash_lsh", { (s, d) =>
      NearDup.minHashNearDups(Tables.documents(s, d), col("doc_id"), col("text"),
        n = 3, k = 16, bands = 4, threshold = 0.5)
    }, minHashLshOracle),
    Gate("dedup_incremental_pairs", { (s, d) =>
      // incremental-ingestion dedup: a 1-in-5 "arriving batch" matched
      // against the remaining 4/5 "canonical corpus" — new-vs-corpus
      // band join only, never corpus-vs-corpus
      val docs = Tables.documents(s, d)
      NearDup.minHashNearDupsAgainst(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        col("doc_id"), col("text"), n = 3, k = 16, bands = 4, threshold = 0.5)
    }, incrementalDedupOracle(
      "SELECT doc_a, doc_b, CAST(shared AS DOUBLE)/(na + nb - shared) AS jaccard\n" +
        "FROM j WHERE CAST(shared AS DOUBLE)/(na + nb - shared) >= 0.5")),
    Gate("dedup_ingest_novel", { (s, d) =>
      // the ingest filter: new-batch docs that survive (near-dup nothing
      // in the corpus) — what actually gets appended
      val docs = Tables.documents(s, d)
      NearDup.ingestNovel(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        col("doc_id"), col("text"), n = 3, k = 16, bands = 4, threshold = 0.5)
        .select(col("doc_id"), col("source"))
    }, incrementalDedupOracle(
      "SELECT doc_id, source FROM documents WHERE doc_id % 5 = 0 AND doc_id NOT IN\n" +
        "  (SELECT doc_a FROM j WHERE CAST(shared AS DOUBLE)/(na + nb - shared) >= 0.5)")),
    Gate("dedup_cluster_components", { (s, d) =>
      // pairs -> transitive duplicate clusters (large-star/small-star CC)
      val pairs = NearDup.minHashNearDups(Tables.documents(s, d),
        col("doc_id"), col("text"), n = 3, k = 16, bands = 4, threshold = 0.5)
      DedupClusters.connectedComponents(pairs, col("doc_a"), col("doc_b"))
    }, s"""WITH RECURSIVE pairs AS (
          |$minHashLshOracle
          |),
          |${OracleFragments.connectedComponentsCtes}
          |SELECT id, component FROM comp""".stripMargin),
    Gate("dedup_corpus_canonical", { (s, d) =>
      // the full corpus-dedup pipeline: detect pairs -> cluster -> keep
      // one (min-id) representative per cluster
      val docs = Tables.documents(s, d)
      val pairs = NearDup.minHashNearDups(docs, col("doc_id"), col("text"),
        n = 3, k = 16, bands = 4, threshold = 0.5)
      DedupClusters.canonicalize(
        docs.select("doc_id", "lang", "source", "n_chars"),
        col("doc_id"), pairs, col("doc_a"), col("doc_b"))
    }, s"""WITH RECURSIVE pairs AS (
          |$minHashLshOracle
          |),
          |${OracleFragments.connectedComponentsCtes}
          |SELECT doc_id, lang, source, n_chars FROM documents
          |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != component)""".stripMargin),
    Gate("dedup_canonical_quality", { (s, d) =>
      // quality-aware canonicalization: each duplicate cluster keeps its
      // BEST-quality member (ties -> smallest id), not the min-id one —
      // scores rounded to 9 decimals so tie detection is engine-invariant
      val docs = Tables.documents(s, d)
      val pairs = NearDup.minHashNearDups(docs, col("doc_id"), col("text"),
        n = 3, k = 16, bands = 4, threshold = 0.5)
      DedupClusters.canonicalizeBy(
        docs.select(col("doc_id"), col("text"), col("source")),
        col("doc_id"), round(TextFunctions.qualityScore(col("text")), 9),
        pairs, col("doc_a"), col("doc_b"))
        .select(col("doc_id"), col("source"))
    }, s"""WITH RECURSIVE pairs AS (
          |$minHashLshOracle
          |),
          |${OracleFragments.connectedComponentsCtes},
          |t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
          |q AS (SELECT doc_id, round($qualityExprSql, 9) AS score FROM t),
          |r AS (SELECT comp.id, comp.component, q.score,
          |  row_number() OVER (PARTITION BY comp.component
          |    ORDER BY q.score DESC, comp.id) AS rn
          |  FROM comp JOIN q ON q.doc_id = comp.id)
          |SELECT d.doc_id, d.source FROM documents d
          |WHERE d.doc_id NOT IN (SELECT id FROM r WHERE rn > 1)""".stripMargin),
    Gate("dedup_simhash", { (s, d) =>
      NearDup.simHash(Tables.documents(s, d), col("doc_id"), col("text"))
    }, s"""WITH ${OracleFragments.simHashCtes(NearDup.SimHashBits)}
          |SELECT doc_id, simhash FROM fp""".stripMargin),
    Gate("dedup_simhash_pairs", { (s, d) =>
      // doc_id bound keeps the bench predictable: the synthetic corpus's
      // tiny vocabulary makes hamming<=2 pairs genuinely dense (~5% of
      // all pairs), so the full-corpus pair set grows quadratically
      NearDup.simHashNearDups(
        Tables.documents(s, d).filter(col("doc_id") < 2000),
        col("doc_id"), col("text"), maxHamming = 2)
    },
      // brute-force hamming definition: the banded engine pipeline must
      // reproduce it exactly (pigeonhole recall guarantee)
      simHashPairsOracle(" WHERE doc_id < 2000")),
    Gate("dedup_simhash_pairs_full", { (s, d) =>
      // the unbounded form: full-corpus banded pairs. At gate scale it
      // covers the same 500 docs as the bounded query; at bench scale
      // (replicated corpora) it is the one that actually scales with the
      // data — the bounded variant above exists because the SYNTHETIC
      // sf0.1 corpus's tiny vocabulary makes hamming<=2 pairs ~5% dense
      val docs = Tables.documents(s, d)
      NearDup.simHashNearDups(docs, col("doc_id"), col("text"), maxHamming = 2)
    }, simHashPairsOracle("")),
    Gate("dedup_embedding_neardup", { (s, d) =>
      Ann.cosineNearDups(
        Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec")),
        threshold = 0.3, bits = 8)
    }, s"""WITH ${OracleFragments.vectorCtes},
          |bkt AS (SELECT vec_id, v, nrm, ${OracleFragments.signBucketSql(8)} AS bucket FROM nv)
          |SELECT * FROM (
          |  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
          |    ${OracleFragments.cosineSql("a", "c")} AS cosine
          |  FROM bkt a JOIN bkt c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
          |WHERE cosine >= 0.3""".stripMargin),
    Gate("graph_pagerank", { (s, d) =>
      // item centrality over the co-purchase graph: parts sharing an
      // order are linked (both directions); 3 integer-nano PageRank
      // sweeps, bit-reproduced by the oracle's unrolled SQL
      val edges = Graph.coOccurrenceEdges(Tables.lineitem(s, d),
        col("l_orderkey"), col("l_partkey"))
      Graph.pageRankNano(edges, iters = 3)
        .select(col("id").as("part_id"), col("rank").as("rank_nano"))
    }, s"""WITH li AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
          |e AS (SELECT DISTINCT a.it AS src, b.it AS dst
          |  FROM li a JOIN li b ON a.bk = b.bk AND a.it <> b.it),
          |${OracleFragments.pageRankCtes(3)}
          |SELECT id AS part_id, pr AS rank_nano FROM r3""".stripMargin),
    Gate("dedup_semantic_prune", { (s, d) =>
      // SemDeDup-shaped cluster-then-prune: trained k-means cells, then
      // within-cell smaller-id-neighbor pruning at cosine >= 0.3 —
      // survivors with their cell ids. The oracle RE-TRAINS the model
      // from scratch (integer-grid k-means is bit-reproducible).
      Ivf.semanticPrune(
        Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec")),
        threshold = 0.3, k = 8, iters = 2, scale = 1000.0)
    },
      // same re-trained model as ivf_kmeans_clusters, then within-cell
      // smaller-id near-dup pruning (the SemDeDup keep-one rule)
      s"""WITH ${OracleFragments.vectorCtes},
         |${OracleFragments.quantizeCte(1000.0)},
         |${OracleFragments.kmeansCtes(8, 2)},
         |${OracleFragments.ivfAssignCte},
         |nva AS (SELECT nv.vec_id, nv.v, nv.nrm, asg.cid
         |  FROM nv JOIN asg ON asg.vec_id = nv.vec_id),
         |dropped AS (SELECT DISTINCT b.vec_id FROM nva a JOIN nva b
         |  ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE ${OracleFragments.cosineSql("a", "b")} >= 0.3)
         |SELECT vec_id AS id, CAST(cid AS BIGINT) AS cluster_id FROM nva
         |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin),
    Gate("dedup_embedding_neardup_wide", { (s, d) =>
      // the scale knob demonstrated: 12 sign bits -> 4096 buckets. Within-
      // bucket pair volume shrinks ~16x vs bits=8 (recall trades away
      // cross-bucket pairs); at 400k vectors this is the setting that
      // keeps the all-pairs block per bucket dense-BLAS-sized
      Ann.cosineNearDups(
        Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec")),
        threshold = 0.3, bits = 12)
    }, s"""WITH ${OracleFragments.vectorCtes},
          |bkt AS (SELECT vec_id, v, nrm, ${OracleFragments.signBucketSql(12)} AS bucket FROM nv)
          |SELECT * FROM (
          |  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
          |    ${OracleFragments.cosineSql("a", "c")} AS cosine
          |  FROM bkt a JOIN bkt c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
          |WHERE cosine >= 0.3""".stripMargin),
  )
}
