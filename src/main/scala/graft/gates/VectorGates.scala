package graft
package gates

import graft.functions.TextFunctions
import graft.operators.{Ann, FeatureScale, Fusion, Gram, Ivf, Pq, TermStats}
import org.apache.spark.sql.functions._
import Shared._

/** Vector gates: brute-force, bucketed, IVF, int8 and PQ nearest
  * neighbours, embedding transforms and hybrid lexical+vector search. */
object VectorGates {

  val gates: Seq[Gate] = Seq(
    // ---- similarity search ---------------------------------------------
    Gate("ann_topk_brute", { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec"))
      Ann.bruteForceTopK(emb.filter(col("id") < 16), emb, k = 5)
    }, s"""WITH ${OracleFragments.vectorCtes},
          |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          |  ${OracleFragments.cosineSql("q", "c")} AS cosine
          |  FROM nv q JOIN nv c ON c.vec_id != q.vec_id WHERE q.vec_id < 16)
          |${OracleFragments.annTopkSelectSql(5)}""".stripMargin),
    Gate("ann_topk_bucketed", { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec"))
      Ann.bucketedTopK(emb.filter(col("id") < 16), emb, k = 5, bits = 6)
    }, s"""WITH ${OracleFragments.vectorCtes},
          |bkt AS (SELECT vec_id, v, nrm, ${OracleFragments.signBucketSql(6)} AS bucket FROM nv),
          |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          |  ${OracleFragments.cosineSql("q", "c")} AS cosine
          |  FROM bkt q JOIN bkt c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
          |  WHERE q.vec_id < 16)
          |${OracleFragments.annTopkSelectSql(5)}""".stripMargin),
    Gate("ann_topk_multiprobe", { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec"))
      Ann.bucketedTopKMultiProbe(emb.filter(col("id") < 16), emb, k = 5, bits = 6, probes = 3)
    }, s"""WITH ${OracleFragments.vectorCtes},
          |bkt AS (SELECT vec_id, v, nrm, ${OracleFragments.signBucketSql(6)} AS bucket FROM nv),
          |qp AS (SELECT vec_id, v, nrm,
          |  unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4)]) AS bucket
          |  FROM bkt WHERE vec_id < 16),
          |p AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id,
          |  ${OracleFragments.cosineSql("q", "c")} AS cosine
          |  FROM qp q JOIN bkt c ON c.bucket = q.bucket AND c.vec_id != q.vec_id)
          |${OracleFragments.annTopkSelectSql(5)}""".stripMargin),
    Gate("ann_recall_ivf", { (s, d) =>
      // recall-GRADED ANN: the quality/speed trade the exact-shape ANN
      // gates can't see. IVF at nprobe=4 of 8 cells (half the corpus
      // cells scanned) must keep recall@5 ≥ 0.6 against the exact
      // brute-force top-k over a 1-in-50 query sample (measured 0.70 at
      // sf0.01 / 0.725 at sf0.1 — PERF.md r9). The invariant is
      // integer-exact (hits·10 ≥ total·6, k-means training is
      // bit-reproducible), so the oracle checks the SAME row: ok=1 plus
      // the brute pair count it recomputes in SQL — recall below the
      // bound flips ok to 0 and hash-fails the gate.
      //
      // ORACLE CONTRACT — deliberately ONE-SIDED on the hit count: the
      // numerator (|IVF pairs ∩ brute pairs|) exists only by running
      // IVF — its k-means cell assignment has no SQL oracle form — so
      // DuckDB recomputes the DENOMINATOR exactly (n_brute, both
      // engines' brute top-5 over the same sample) and pins
      // recall_ok=1; the Spark side alone grades the numerator against
      // the bound. What the gate therefore proves: the brute baseline
      // is bit-identical across engines, and IVF's recall never drops
      // below 0.6 without hash-failing. What it cannot prove: that the
      // hit count itself wasn't miscounted by a bug that keeps it
      // above the bound (that join is pinned by IvfSpec instead).
      val emb = Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = emb.filter(pmod(col("id"), lit(50)) === 0)
      val brute = Ann.bruteForceTopK(q, emb, k = 5).select(col("q_id"), col("n_id"))
      val ivf = Ivf.topK(q, emb, k = 5,
          nClusters = 8, iters = 2, nprobe = 4, scale = 1000.0)
        .select(col("q_id"), col("n_id"))
      val hits = ivf.join(brute, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      val tot = brute.agg(count(lit(1)).as("n_brute"))
      hits.crossJoin(broadcast(tot))
        .select(when(col("hits") * 10 >= col("n_brute") * 6, 1L).otherwise(0L)
          .as("recall_ok"), col("n_brute"))
    },
      // one-sided by contract (see the queries entry): n_brute recomputed
      // exactly; recall_ok pinned to 1 — DuckDB cannot rerun IVF's k-means
      s"""WITH ${OracleFragments.vectorCtes},
         |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |  ${OracleFragments.cosineSql("q", "c")} AS cosine
         |  FROM nv q JOIN nv c ON c.vec_id != q.vec_id WHERE q.vec_id % 50 = 0),
         |topk AS (${OracleFragments.annTopkSelectSql(5)})
         |SELECT CAST(1 AS BIGINT) AS recall_ok,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM topk) AS n_brute""".stripMargin),
    Gate("ann_hard_negatives", { (s, d) =>
      // contrastive-training hard-negative mining: most-similar
      // same-bucket vectors with a DIFFERENT label
      val emb = Tables.embeddings(s, d).select(col("vec_id").as("id"),
        col("embedding").as("vec"), col("label"))
      Ann.hardNegatives(emb.filter(col("id") < 16), emb, k = 5, bits = 6)
    }, s"""WITH ${OracleFragments.vectorCtes},
          |bkt AS (SELECT nv.vec_id, v, nrm, emb.label,
          |  ${OracleFragments.signBucketSql(6)} AS bucket
          |  FROM nv JOIN embeddings emb ON emb.vec_id = nv.vec_id),
          |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          |  ${OracleFragments.cosineSql("q", "c")} AS cosine
          |  FROM bkt q JOIN bkt c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
          |    AND c.label != q.label
          |  WHERE q.vec_id < 16)
          |${OracleFragments.annTopkSelectSql(5)}""".stripMargin),
    Gate("hybrid_rrf_fusion", { (s, d) =>
      // the full hybrid-retrieval composition: BM25 lexical top-20 +
      // bucketed-ANN dense top-20, fused by reciprocal rank (K=60).
      // doc_id and vec_id share the id space in the synthetic corpus,
      // and query ids 0-2 name both a keyword set and a query vector.
      import s.implicits._
      val queries = Seq((0L, "spark"), (0L, "join"), (1L, "hash"),
        (1L, "table"), (2L, "window"), (2L, "sort"), (2L, "merge"))
        .toDF("query_id", "term")
      val lex = TermStats.bm25TopK(Tables.documents(s, d), col("doc_id"),
        col("text"), queries, k = 20)
        .select(col("query_id"), col("doc_id"), col("rn"))
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val dense = Ann.bucketedTopK(emb.filter(col("id") < 3), emb, k = 20, bits = 6)
        .select(col("q_id").as("query_id"), col("n_id").as("doc_id"), col("rn"))
      Fusion.rrf(lex, dense, k = 10)
    }, s"""WITH ${bm25OracleCtes(20)},
          |${OracleFragments.vectorCtes},
          |bkt AS (SELECT vec_id, v, nrm, ${OracleFragments.signBucketSql(6)} AS bucket FROM nv),
          |pann AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          |  ${OracleFragments.cosineSql("q", "c")} AS cosine
          |  FROM bkt q JOIN bkt c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
          |  WHERE q.vec_id < 3),
          |ann AS (SELECT q_id AS query_id, n_id AS doc_id,
          |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS BIGINT) AS rn
          |  FROM pann QUALIFY rn <= 20),
          |f AS (SELECT coalesce(l.query_id, a.query_id) AS query_id,
          |  coalesce(l.doc_id, a.doc_id) AS doc_id,
          |  coalesce(CAST(1 AS DOUBLE) / (60 + l.rn), 0) +
          |    coalesce(CAST(1 AS DOUBLE) / (60 + a.rn), 0) AS rrf_score
          |  FROM lex l FULL OUTER JOIN ann a
          |    ON l.query_id = a.query_id AND l.doc_id = a.doc_id)
          |SELECT query_id, doc_id, rrf_score,
          |  CAST(row_number() OVER (PARTITION BY query_id
          |    ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS fused_rank
          |FROM f QUALIFY fused_rank <= 10""".stripMargin),
    Gate("hybrid_search_rerank", { (s, d) =>
      // the full retrieval workflow users compose: ANN candidate
      // generation (bucketed, top-20) -> join candidate docs -> language
      // filter -> re-rank by cosine x quality -> top-5 per query.
      // doc_id and vec_id share the id space in the synthetic corpus.
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cands = Ann.bucketedTopK(emb.filter(col("id") < 8), emb, k = 20, bits = 6)
        .select(col("q_id"), col("n_id"), col("cosine"))
      val scored = cands
        .join(Tables.documents(s, d), cands("n_id") === col("doc_id"))
        .filter(TextFunctions.languageId(col("text")) === "en")
        .select(col("q_id"), col("doc_id"),
          round(col("cosine") * TextFunctions.qualityScore(col("text")), 9).as("score"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("doc_id"))
      scored.withColumn("rn", row_number().over(w).cast("long")).filter(col("rn") <= 5)
    }, s"""WITH ${OracleFragments.vectorCtes},
          |bkt AS (SELECT vec_id, v, nrm, ${OracleFragments.signBucketSql(6)} AS bucket FROM nv),
          |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          |  ${OracleFragments.cosineSql("q", "c")} AS cosine
          |  FROM bkt q JOIN bkt c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
          |  WHERE q.vec_id < 8),
          |cand AS (SELECT q_id, n_id, cosine,
          |  row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS crn
          |  FROM p QUALIFY crn <= 20),
          |t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
          |f AS (SELECT c.q_id, t.doc_id, round(c.cosine * ($qualityExprSql), 9) AS score
          |  FROM cand c JOIN t ON t.doc_id = c.n_id
          |  WHERE len(list_filter(toks, x -> x IN ${OracleFragments.stopwordListSql})) > 0)
          |SELECT q_id, doc_id, score,
          |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS BIGINT) AS rn
          |FROM f QUALIFY rn <= 5""".stripMargin),
    Gate("ivf_kmeans_clusters", { (s, d) =>
      // trained IVF coarse quantizer: integer k-means (k=8, 2 Lloyd
      // iterations) + cell occupancy — the oracle re-trains the same
      // centroids from scratch (training is FP-free, see Ivf)
      val emb = Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec"))
      Ivf.clusterSummary(emb, col("id"), col("vec"), k = 8, iters = 2, scale = 1000.0)
        .select(col("cluster_id"), col("n_vectors"), rawCsv(col("centroid")).as("centroid"))
    }, s"""WITH ${OracleFragments.vectorCtes},
          |${OracleFragments.quantizeCte(1000.0)},
          |${OracleFragments.kmeansCtes(8, 2)},
          |${OracleFragments.ivfAssignCte},
          |cnt AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM asg GROUP BY cid)
          |SELECT c.cid AS cluster_id, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_vectors,
          |  array_to_string(c.cent, ',') AS centroid
          |FROM cents c LEFT JOIN cnt ON cnt.cid = c.cid""".stripMargin),
    Gate("ann_topk_ivf", { (s, d) =>
      // IVF probe search: each query scans only its 2 nearest trained
      // cells (vs the data-oblivious sign buckets of ann_topk_bucketed)
      val emb = Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec"))
      Ivf.topK(emb.filter(col("id") < 16), emb, k = 5,
        nClusters = 8, iters = 2, nprobe = 2, scale = 1000.0)
    }, s"""WITH ${OracleFragments.vectorCtes},
          |${OracleFragments.quantizeCte(1000.0)},
          |${OracleFragments.kmeansCtes(8, 2)},
          |${OracleFragments.ivfAssignCte},
          |prb AS (SELECT vec_id AS q_id, cid FROM (
          |  SELECT t.vec_id, c.cid,
          |    row_number() OVER (PARTITION BY t.vec_id
          |      ORDER BY ${OracleFragments.sqDistSql("t.q", "c.cent")}, c.cid) AS rn
          |  FROM iq t CROSS JOIN cents c WHERE t.vec_id < 16) WHERE rn <= 2),
          |p AS (SELECT pr.q_id, a.vec_id AS n_id, ${OracleFragments.cosineSql("q", "c")} AS cosine
          |  FROM prb pr JOIN asg a ON a.cid = pr.cid AND a.vec_id != pr.q_id
          |  JOIN nv q ON q.vec_id = pr.q_id JOIN nv c ON c.vec_id = a.vec_id)
          |${OracleFragments.annTopkSelectSql(5)}""".stripMargin),
    Gate("embedding_quantize_int8", { (s, d) =>
      // symmetric int8 compression: 4x smaller vectors + dequant scale
      val emb = Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec"))
      Ivf.quantizeInt8(emb, col("id"), col("vec"))
        .select(col("id").as("vec_id"), rawCsv(col("codes")).as("codes"), col("scale"))
    }, """WITH m AS (SELECT vec_id, embedding,
         |  CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS mx
         |  FROM embeddings)
         |SELECT vec_id,
         |  array_to_string(list_transform(embedding, x -> CASE WHEN mx = 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx)) AS BIGINT) END), ',') AS codes,
         |  mx / 127.0 AS scale
         |FROM m""".stripMargin),
    Gate("ann_topk_int8", { (s, d) =>
      // ANN over int8 codes ranked by EXACT integer dot product — the
      // FP-free fast path over compressed vectors
      val emb = Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec"))
      Ivf.topKInt8(emb.filter(col("id") < 16), emb, k = 5)
    }, """WITH m AS (SELECT vec_id, embedding,
         |  CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS mx
         |  FROM embeddings),
         |qc AS (SELECT vec_id,
         |  list_transform(embedding, x -> CASE WHEN mx = 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx)) AS BIGINT) END) AS c,
         |  CAST(round(mx / 127.0 * 1000000000) AS BIGINT) AS nscale_nano FROM m),
         |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(list_zip(q.c, c.c), z -> z[1]*z[2])), (p,x) -> p+x) AS qdot,
         |  c.nscale_nano AS ns
         |  FROM qc q JOIN qc c ON c.vec_id != q.vec_id WHERE q.vec_id < 16)
         |SELECT q_id, n_id, qdot,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY qdot * ns DESC, n_id) AS BIGINT) AS rn
         |FROM p QUALIFY rn <= 5""".stripMargin),
    Gate("pq_codebooks", { (s, d) =>
      // product-quantization codebooks: 4 subspaces x 4 centroids over
      // the 64-dim embeddings (integer k-means per subspace, 2 Lloyd
      // sweeps) + per-cell occupancy — the oracle re-trains every
      // codebook from scratch (training is FP-free, see Pq)
      val emb = Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec"))
      Pq.codebookSummary(emb, col("id"), col("vec"),
        m = 4, ksub = 4, iters = 2, scale = 1000.0, dim = 64)
    }, s"""WITH ${OracleFragments.vectorCtes},
          |${OracleFragments.quantizeCte(1000.0)},
          |${OracleFragments.pqSubCte(4, 16)},
          |${OracleFragments.pqKmeansCtes(4, 2)},
          |${OracleFragments.pqCodesCte},
          |occ AS (SELECT sub, cid, CAST(COUNT(*) AS BIGINT) AS n FROM pcodes GROUP BY sub, cid)
          |SELECT c.sub, c.cid AS cluster_id, CAST(COALESCE(occ.n, 0) AS BIGINT) AS n_vectors,
          |  array_to_string(c.cent, ',') AS centroid
          |FROM pcents c LEFT JOIN occ ON occ.sub = c.sub AND occ.cid = c.cid""".stripMargin),
    Gate("ann_topk_pq", { (s, d) =>
      // PQ asymmetric-distance search: corpus stored as 4 codes/vector
      // (16x smaller than the floats), each query ranks by m BIGINT
      // table lookups per neighbor — the compressed-storage ANN path,
      // bit-exact end to end (no FP anywhere)
      val emb = Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec"))
      Pq.adcTopK(emb.filter(col("id") < 16), emb, k = 5,
        m = 4, ksub = 4, iters = 2, scale = 1000.0, dim = 64)
    }, s"""WITH ${OracleFragments.vectorCtes},
          |${OracleFragments.quantizeCte(1000.0)},
          |${OracleFragments.pqSubCte(4, 16)},
          |${OracleFragments.pqKmeansCtes(4, 2)},
          |${OracleFragments.pqCodesCte},
          |lut AS (SELECT q.vec_id AS q_id, c.sub, c.cid,
          |  ${OracleFragments.sqDistSql("q.sv", "c.cent")} AS d
          |  FROM sq q JOIN pcents c ON c.sub = q.sub WHERE q.vec_id < 16),
          |pr AS (SELECT l.q_id, p.vec_id AS n_id, CAST(SUM(l.d) AS BIGINT) AS adist
          |  FROM pcodes p JOIN lut l ON l.sub = p.sub AND l.cid = p.cid AND p.vec_id != l.q_id
          |  GROUP BY l.q_id, p.vec_id)
          |SELECT q_id, n_id, adist,
          |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS BIGINT) AS rn
          |FROM pr QUALIFY rn <= 5""".stripMargin),
    Gate("embedding_gram_matrix", { (s, d) =>
      // distributed Gram matrix (PCA/whitening sufficient statistic) on
      // the floor(v*1000) integer grid — exact BIGINT pair sums via one
      // in-place Aggregator buffer; the oracle recomputes the full
      // unnest×unnest relational formulation
      Gram.upperGram(s, Tables.embeddings(s, d), col("embedding"), d = 64)
    },
      // the relational (unnest×unnest) formulation of the same integer-grid
      // pair sums — the brute-force semantic definition of the Gram matrix
      """WITH q AS (SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
        |  FROM embeddings)
        |SELECT i, j, CAST(SUM(qv[i+1] * qv[j+1]) AS BIGINT) AS gram_q
        |FROM q, range(0, 64) r1(i), range(0, 64) r2(j)
        |WHERE j >= i GROUP BY 1, 2""".stripMargin),
    Gate("embedding_pca_project", { (s, d) =>
      // PCA top-4 projection via the distributed Gram sufficient
      // statistic + driver Jacobi (FeatureScale.pcaProject). The
      // iterative eigensolve has no SQL formulation, so the oracle
      // asserts the projection's PROVABLE invariants as booleans it
      // expects literally true: per-row Bessel (‖proj‖² ≤ ‖x−μ‖²),
      // per-component global centering (Σ proj_c = 0), and descending
      // component variances (they are the top eigenvalues). A wrong
      // eigensolve/projection flips one of these and hash-fails; exact
      // eigens-golden + layout invariance stay spec-asserted (MiscSpec).
      val p = FeatureScale.pcaProject(s, Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), d = 64, k = 4)
      val dim = (i: Int) => element_at(col("proj"), i)
      val p2 = (1 to 4).map(i => dim(i) * dim(i)).reduce(_ + _)
      val perRow = p.select(col("id").as("vec_id"),
        (p2 <= col("center_norm2") * lit(1 + 1e-9) + lit(1e-3)).as("bessel_ok"))
      val inv = p.agg(
        count(lit(1)).as("n"),
        ((1 to 4).map(i => sum(dim(i)).as(s"s$i")) ++
          (1 to 4).map(i => sum(dim(i) * dim(i)).as(s"ss$i"))): _*)
        .select(
          (1 to 4).map(i => (abs(col(s"s$i")) < col("n") * lit(1e-3)))
            .reduce(_ && _).as("centered_ok"),
          (1 to 3).map { i =>
            val v = (j: Int) => col(s"ss$j") / col("n") -
              (col(s"s$j") / col("n")) * (col(s"s$j") / col("n"))
            v(i) >= v(i + 1) - lit(1e-3)
          }.reduce(_ && _).as("var_ordered_ok"))
      perRow.crossJoin(broadcast(inv))
    },
      // the Jacobi eigensolve has no SQL formulation; the oracle asserts
      // the projection's provable invariants (Bessel / centering /
      // variance ordering) as literally-true booleans over the full id set
      """SELECT vec_id, true AS bessel_ok, true AS centered_ok,
        |  true AS var_ordered_ok
        |FROM embeddings""".stripMargin),
    Gate("embedding_standardize", { (s, d) =>
      // Per-dimension standardization on the micro-integer grid
      // (operators.FeatureScale): exact integer Σx/Σx² per dim, one-row
      // broadcast back, row-local z-transform.
      val z = FeatureScale.standardize(
        Tables.embeddings(s, d), col("vec_id"), col("embedding"))
      z.select(col("id").as("vec_id"), numCsv(col("z")).as("z"))
    }, """WITH x AS (SELECT vec_id, unnest(range(1, len(embedding)+1)) AS p, embedding
         |  FROM embeddings),
         |xm AS (SELECT vec_id, p - 1 AS pos,
         |  CAST(round(CAST(embedding[p] AS DOUBLE) * 1e6) AS BIGINT) AS xm FROM x),
         |st AS (SELECT pos, SUM(xm) AS s, SUM(xm * xm) AS ss, COUNT(*) AS n
         |  FROM xm GROUP BY pos),
         |z AS (SELECT vec_id, pos,
         |    (CAST(xm AS DOUBLE) - CAST(s AS DOUBLE) / n)
         |      / sqrt(CAST(ss AS DOUBLE) / n
         |             - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS zv
         |  FROM xm JOIN st USING (pos))
         |SELECT vec_id,
         |  string_agg(CAST(CAST(round(zv * 1e6) AS BIGINT) AS VARCHAR), ',' ORDER BY pos) AS z
         |FROM z GROUP BY vec_id""".stripMargin),
  )
}
