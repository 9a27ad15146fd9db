package graft
package gates

import graft.functions.TextFunctions
import graft.operators.{Importance, Sampling}
import org.apache.spark.sql.functions._
import Shared._

/** Sampling gates: reproducible Bernoulli, stratified, negative,
  * per-group, mixture, weighted and split sampling. */
object SampleGates {

  val gates: Seq[Gate] = Seq(
    Gate("sample_dsir_topn", { (s, d) =>
      // DSIR importance resampling (data selection for pretraining):
      // hashed-unigram bucket log-likelihood ratios of target (English
      // docs) vs raw score every raw doc; keep the 50 most target-like.
      // Nano-integer weights make every cross-row aggregate order-free.
      val docs = Tables.documents(s, d)
      Importance.resampleTopN(
        docs, docs.filter(col("lang") === "en"),
        col("doc_id"), col("text"), buckets = 512, n = 50)
    }, s"""WITH tb AS (SELECT doc_id, lang,
          |  (${OracleFragments.polyHashSql("t")}) % 512 AS b
          |  FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS t FROM documents)),
          |ct AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tb WHERE lang = 'en' GROUP BY b),
          |cr AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tb GROUP BY b),
          |nt AS (SELECT CAST(sum(ct) AS BIGINT) AS nt FROM ct),
          |nr AS (SELECT CAST(sum(cr) AS BIGINT) AS nr FROM cr),
          |w AS (SELECT cr.b,
          |  CAST(round(ln(CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE) / (nt + 512)) * 1e9) AS BIGINT)
          |  - CAST(round(ln(CAST(cr.cr + 1 AS DOUBLE) / (nr + 512)) * 1e9) AS BIGINT) AS w_nano
          |  FROM cr LEFT JOIN ct USING (b) CROSS JOIN nt CROSS JOIN nr)
          |SELECT tb.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |  CAST(SUM(w.w_nano) AS BIGINT) AS score_nano
          |FROM tb JOIN w USING (b) GROUP BY tb.doc_id
          |ORDER BY score_nano DESC, doc_id LIMIT 50""".stripMargin),
    // ---- reproducible sampling ------------------------------------------
    Gate("sample_bernoulli", { (s, d) =>
      Sampling.bernoulliByKeyModP(Tables.events(s, d), col("event_id"),
        fraction = 0.5, seed = 42L)
        .select(col("event_id"), col("user_id"), col("event_type"))
    }, s"""SELECT event_id, user_id, event_type FROM events
          |WHERE (${OracleFragments.modPHashSql("event_id", 42L)}) % 1000000 < 500000""".stripMargin),
    Gate("sample_stratified", { (s, d) =>
      // negative-downsampling shape: keep 25% of clicks, 50% of views,
      // everything else intact
      Sampling.stratifiedModP(Tables.events(s, d), col("event_type"), col("event_id"),
        Map("click" -> 0.25, "view" -> 0.5), seed = 7L)
        .select(col("event_id"), col("event_type"))
    }, s"""SELECT event_id, event_type FROM events
          |WHERE CAST((${OracleFragments.modPHashSql("event_id", 7L)}) % 1000000 AS DOUBLE)
          |  < (CASE WHEN event_type = 'click' THEN 0.25
          |          WHEN event_type = 'view' THEN 0.5 ELSE 1.0 END) * 1000000.0""".stripMargin),
    Gate("sample_negatives", { (s, d) =>
      // sampled-softmax negative generation: 3 deterministic draws per
      // event from a 1000-item domain; positive = user_id mod 1000
      Sampling.negativesPerKey(Tables.events(s, d),
        col("event_id"), pmod(col("user_id"), lit(1000L)),
        k = 3, itemCount = 1000L, seed = 77L)
    }, s"""WITH g AS (SELECT event_id AS key, user_id % 1000 AS pos, i AS draw_idx,
          |  (${OracleFragments.modPHashSql("(event_id * 3 + i)", 77L)}) % 1000 AS raw
          |  FROM events CROSS JOIN range(3) r(i))
          |SELECT key, pos, draw_idx,
          |  CASE WHEN raw = pos THEN (raw + 1) % 1000 ELSE raw END AS neg
          |FROM g""".stripMargin),
    Gate("sample_per_group", { (s, d) =>
      // deterministic reservoir: exactly 50 events per event_type,
      // chosen by smallest portable key hash — layout-invariant,
      // downward-consistent eval-set sampling
      Sampling.perGroupSample(Tables.events(s, d), col("event_type"),
        col("event_id"), k = 50, seed = 13L)
        .select(col("event_id"), col("event_type"), col("sample_rank"))
    }, s"""SELECT event_id, event_type, sample_rank FROM (
          |  SELECT event_id, event_type,
          |    CAST(row_number() OVER (PARTITION BY event_type
          |      ORDER BY ${OracleFragments.modPHashSql("event_id", 13L)}, event_id) AS BIGINT)
          |      AS sample_rank
          |  FROM events) t WHERE sample_rank <= 50""".stripMargin),
    Gate("sample_mixture", { (s, d) =>
      // data-mixing recipe: resample three sources to exact 50/30/20
      // proportions (largest feasible N, per-stratum hash reservoirs)
      Sampling.rebalanceToMix(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        col("source"), col("doc_id"),
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), seed = 21L)
    },
      // N derives from the RECIPE left-joined to observed counts (an
      // absent stratum contributes cnt=0 -> N=0 -> empty output),
      // mirroring rebalanceToMix's infeasible-mixture semantics exactly
      s"""WITH recipe(source, sh) AS (VALUES
         |    ('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
         |    ('src2', CAST(0.2 AS DOUBLE))),
         |d AS (SELECT doc_id, source FROM documents
         |  WHERE source IN ('src0','src1','src2')),
         |c0 AS (SELECT source, COUNT(*) AS cnt FROM d GROUP BY source),
         |c AS (SELECT r.source, COALESCE(c0.cnt, 0) AS cnt, r.sh
         |  FROM recipe r LEFT JOIN c0 ON r.source = c0.source),
         |n AS (SELECT MIN(cnt / sh) AS N FROM c),
         |q AS (SELECT source, CAST(FLOOR(sh * N) AS BIGINT) AS quota
         |  FROM c CROSS JOIN n),
         |r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source
         |    ORDER BY ${OracleFragments.modPHashSql("doc_id", 21L)}, doc_id) AS rn
         |  FROM d)
         |SELECT r.doc_id, r.source FROM r JOIN q ON r.source = q.source
         |WHERE rn <= quota""".stripMargin),
    Gate("sample_split", { (s, d) =>
      // deterministic train/val/test assignment (90/5/5): pure function
      // of the key hash — stable under corpus growth, layout-invariant
      Sampling.splitAssign(Tables.documents(s, d).select(col("doc_id")),
        col("doc_id"), Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), seed = 7L)
    }, {
      val Seq(c1, c2, _) = graft.operators.Sampling.splitThresholds(
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      s"""SELECT doc_id,
         |  CASE WHEN h6 < $c1 THEN 'train' WHEN h6 < $c2 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |  (${OracleFragments.modPHashSql("doc_id", 7L)}) % 1000000 AS h6 FROM documents)""".stripMargin
    }),
    Gate("sample_split_grouped", { (s, d) =>
      // leakage-safe eval split: assignment keyed on the GROUP (source —
      // the host/domain analog), so every doc of a source lands in ONE
      // split and within-source near-dups can never straddle train/test
      // (the group-holdout discipline crawl corpora need)
      Sampling.splitAssign(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        TextFunctions.polyHash(col("source")),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), seed = 7L)
    }, {
      val Seq(c1, c2, _) = graft.operators.Sampling.splitThresholds(
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      s"""SELECT doc_id, source,
         |  CASE WHEN h6 < $c1 THEN 'train' WHEN h6 < $c2 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, source,
         |  (${OracleFragments.modPHashSql(
              s"(${OracleFragments.polyHashSql("source")})", 7L)}) % 1000000 AS h6
         |  FROM documents)""".stripMargin
    }),
    Gate("sample_weighted", { (s, d) =>
      // quality-weighted curation: each doc survives with probability
      // equal to its quality score (portable coin, oracle mirrors the
      // score expression bit-for-bit)
      Sampling.weightedByKeyModP(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        col("doc_id"), TextFunctions.qualityScore(col("text")), seed = 33L)
        .select(col("doc_id"))
    }, s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
          |q AS (SELECT doc_id, ($qualityExprSql) AS w FROM t)
          |SELECT doc_id FROM q
          |WHERE CAST((${OracleFragments.modPHashSql("doc_id", 33L)}) % 1000000 AS DOUBLE)
          |  < LEAST(GREATEST(w, 0.0), 1.0) * 1000000.0""".stripMargin),
  )
}
