package graft
package gates

import graft.functions.TextFunctions
import graft.operators.{Categorical, EmbeddingLookup, FeatureScale, Partitioners, Pipelines, Sampling, WebCuration}
import graft.schema.FieldSpec
import graft.sources.TabularReader
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Shared._

/** Feature gates: categorical encodings, quantile binning, input
  * layer assembly and the reference-shaped end-to-end pipelines. */
object FeatureGates {

  val gates: Seq[Gate] = Seq(
    Gate("input_layer_assemble", { (s, d) =>
      // the reference's embedding-column input layer (hb.dense_features,
      // docs/high_level_api.md:76-100) as engine-side data prep: two
      // categorical id columns — an id bucket and a hashed string
      // feature (Categorical.featureHash) — looked up in the embeddings
      // table via broadcast joins, lookup misses zero-filled (both paths
      // real at sf0.01: 500 vectors vs 1024/512 buckets), concatenated
      // with the scaled dense features into one array<double> tensor per
      // example
      // gate contract: no non-scalar output columns (the driver's row
      // sorter can't order arrays) — serialize the tensor via the
      // micro-int CSV convention, mirrored in the oracle
      EmbeddingLookup.inputLayer(
        Tables.events(s, d),
        col("event_id"),
        numerics = Seq(
          round(col("value") / 200.0, 9),
          round(log(lit(1.0) + abs(col("value"))), 9)),
        cats = Seq(
          pmod(col("user_id"), lit(1024L)),
          Categorical.featureHash(col("event_type"), 512)),
        table = Tables.embeddings(s, d), keyCol = "vec_id", vecCol = "embedding")
        .select(col("id"), numCsv(col("features")).as("features"))
    }, s"""WITH dim AS (SELECT vec_id,
          |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
          |z AS (SELECT list_transform(range(MIN(len(embedding))), x -> 0.0) AS zv
          |  FROM embeddings),
          |e AS (SELECT event_id,
          |  round(value / 200.0, 9) AS n0,
          |  round(ln(1 + abs(value)), 9) AS n1,
          |  ((user_id % 1024) + 1024) % 1024 AS c0,
          |  ${OracleFragments.polyHashSql("event_type")} % 512 AS c1
          |  FROM events)
          |SELECT e.event_id AS id,
          |  array_to_string(list_transform(
          |    [e.n0, e.n1] || COALESCE(l0.v, z.zv) || COALESCE(l1.v, z.zv),
          |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), ',') AS features
          |FROM e CROSS JOIN z
          |LEFT JOIN dim l0 ON e.c0 = l0.vec_id
          |LEFT JOIN dim l1 ON e.c1 = l1.vec_id""".stripMargin),
    Gate("ordinal_stable_ids", { (s, d) =>
      // contiguous global ordinals by (n_chars, doc_id) WITHOUT a
      // single-partition sort: two-phase bucketed ranks (the
      // PlanShapeSpec unpartitioned-window guard holds for this gate
      // like every other — the naive row_number form would trip it)
      Partitioners.stableIds(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        col("n_chars"), Seq(col("doc_id")))
        .select(col("doc_id"), col("n_chars"), col("ordinal"))
    }, """SELECT doc_id, n_chars,
         |  CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS ordinal
         |FROM documents""".stripMargin),
    Gate("encode_categorical", { (s, d) =>
      // dictionary + hashing-trick encodings side by side: lang has
      // distinct frequencies, source is an all-ties dictionary (index
      // falls to the value tiebreak)
      val docs = Tables.documents(s, d)
      val langDict = Categorical.stringIndex(docs, col("lang"))
      val srcDict = Categorical.stringIndex(docs, col("source"))
      val out = Categorical.indexApply(
        Categorical.indexApply(docs.select(col("doc_id"), col("lang"), col("source")),
          "lang", langDict, "lang_idx"),
        "source", srcDict, "source_idx")
      out.select(col("doc_id"), col("lang_idx"), col("source_idx"),
        Categorical.featureHash(col("lang"), 1024).as("lang_hash"),
        Categorical.featureHash(col("source"), 1024).as("source_hash"))
    }, s"""WITH ld AS (SELECT lang AS v, count(*) AS c FROM documents GROUP BY lang),
          |li AS (SELECT v, CAST(row_number() OVER (ORDER BY c DESC, v) - 1 AS BIGINT) AS idx FROM ld),
          |sd AS (SELECT source AS v, count(*) AS c FROM documents GROUP BY source),
          |si AS (SELECT v, CAST(row_number() OVER (ORDER BY c DESC, v) - 1 AS BIGINT) AS idx FROM sd)
          |SELECT doc_id, li.idx AS lang_idx, si.idx AS source_idx,
          |  ${OracleFragments.polyHashSql("lang")} % 1024 AS lang_hash,
          |  ${OracleFragments.polyHashSql("source")} % 1024 AS source_hash
          |FROM documents JOIN li ON lang = li.v JOIN si ON source = si.v""".stripMargin),
    Gate("encode_target_loo", { (s, d) =>
      // leave-one-out smoothed target encoding of event_type against the
      // value label (m=10): per-row feature excluding the row's own
      // label, exact integer-cents sums (2-dp labels; == the DECIMAL
      // path, spec-asserted), single-member categories -> prior
      Categorical.targetEncodeLoo(
        Tables.events(s, d).select(col("event_id"), col("event_type"), col("value")),
        col("event_type"), col("value"), smoothing = 10L, labelCents = true)
        .select(col("event_id"), col("event_type"), col("target_enc"))
    }, """WITH s AS (SELECT event_type,
         |    SUM(CAST(value AS DECIMAL(12,2))) AS sm, COUNT(*) AS cnt
         |  FROM events GROUP BY event_type),
         |p AS (SELECT CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS prior
         |  FROM events)
         |SELECT event_id, e.event_type,
         |  round((CAST(s.sm AS DOUBLE) - CAST(CAST(e.value AS DECIMAL(12,2)) AS DOUBLE)
         |      + 10 * p.prior) / (s.cnt - 1 + 10), 9) AS target_enc
         |FROM events e JOIN s ON e.event_type = s.event_type CROSS JOIN p""".stripMargin),
    Gate("feature_quantile_bin", { (s, d) =>
      // equal-mass deciles of event value by exact global rank (ties
      // share a bin); distributed rank via the bucketed prefix-sum, no
      // global window
      FeatureScale.quantileBin(
        Tables.events(s, d), col("event_id"), col("value"), bins = 10)
        .select(col("id").as("event_id"), col("v").as("value"), col("bin"))
    }, """WITH v AS (SELECT event_id, CAST(value AS DOUBLE) AS value FROM events
         |  WHERE value IS NOT NULL)
         |SELECT event_id, value,
         |  ((rank() OVER (ORDER BY value) - 1) * 10) // COUNT(*) OVER () AS bin
         |FROM v""".stripMargin),
    // ---- Criteo-shaped wide frame: defaults + norm/log + dim lookup ----
    Gate("pipeline_criteo_shaped", { (s, d) =>
      val fields = Seq(
        FieldSpec("l_orderkey", LongType),
        FieldSpec("l_partkey", LongType),
        FieldSpec("l_quantity", DoubleType),
        FieldSpec("l_extendedprice", DoubleType),
        FieldSpec("l_returnflag", StringType),
        FieldSpec("if13", LongType, defaultValue = Some(0L))) // missing -> default
      val li = TabularReader.fromParquet(s, Seq(s"$d/lineitem.parquet"),
        TabularReader.Options(fields = fields))
        .select(
          col("l_orderkey"), col("l_partkey"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("label"),
          round(log(lit(1.0) + col("l_quantity")), 9).as("qty_log"),
          (col("l_extendedprice") / 65536.0).as("price_norm"),
          col("if13"))
      val dim = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
      li.join(broadcast(dim), li("l_partkey") === dim("p_partkey"), "left")
        .drop("p_partkey")
    }, """SELECT l_orderkey, l_partkey,
         |  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS label,
         |  round(ln(1.0 + l_quantity), 9) AS qty_log,
         |  l_extendedprice / 65536.0 AS price_norm,
         |  CAST(0 AS BIGINT) AS if13,
         |  p_brand
         |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey""".stripMargin),
    // ---- reference-shaped integration pipeline (§6) --------------------
    Gate("pipeline_taobao_shaped", { (s, d) =>
      Pipelines.taobaoShaped(Tables.events(s, d), "purchase", windowSec = 3600L)
        .select(col("event_id"), col("user_id"), col("n_hist"),
          numCsv(col("recent_vals")).as("recent_vals"))
    }, """WITH e AS (SELECT event_id, user_id, event_type, value,
         |  CAST(floor(epoch_ms(ts)/1000) AS BIGINT) AS tsec FROM events),
         |h AS (SELECT user_id,
         |  list(struct_pack(t := tsec, eid := event_id, v := value)
         |       ORDER BY tsec, event_id) AS hist
         |  FROM e GROUP BY user_id)
         |SELECT c.event_id, c.user_id,
         |  CAST(len(list_filter(h.hist,
         |    s -> s.t >= c.tsec - 3600 AND s.t < c.tsec)) AS BIGINT) AS n_hist,
         |  COALESCE(array_to_string(list_transform(list_filter(h.hist,
         |    s -> s.t >= c.tsec - 3600 AND s.t < c.tsec),
         |    s -> CAST(round(CAST(s.v AS DOUBLE) * 1000000) AS BIGINT)), ','), '') AS recent_vals
         |FROM e c JOIN h USING (user_id) WHERE c.event_type = 'purchase'""".stripMargin),
    Gate("pipeline_corpus_curation", { (s, d) =>
      // the end-to-end curation recipe a crawl corpus goes through
      // before training: canonical host -> blocklist (broadcast anti
      // join) -> language filter -> quality floor -> per-host cap ->
      // deterministic train/val/test split. Every stage is a gated
      // operator elsewhere; this gates their composition.
      import s.implicits._
      val docs = Tables.documents(s, d)
      val url = concat(lit("https://Host"), pmod(col("doc_id"), lit(23)).cast("string"),
        lit(".Example.com/Doc/"), col("doc_id").cast("string"))
      val blocked = Seq("host3.example.com", "host10.example.com", "host17.example.com")
        .toDF("host")
      val kept = WebCuration.blocklistFilter(
        docs.select(col("doc_id"), col("text"), url.as("url"))
          .withColumn("host",
            graft.functions.WebFunctions.host(
              graft.functions.WebFunctions.normalizeUrl(col("url")))),
        col("host"), blocked)
        .filter(TextFunctions.languageId(col("text")) === "en")
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .filter(col("quality") >= 0.38)
      val capped = WebCuration.hostCap(
        kept.select(col("doc_id"), col("quality"), col("url")),
        col("url"), n = 5, order = Seq(col("quality").desc, col("doc_id").asc))
      Sampling.splitAssign(capped, col("doc_id"),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), seed = 7L)
        .select(col("doc_id"), col("host"), round(col("quality"), 9).as("quality"),
          col("split"))
    }, {
      // every stage mirrored from its own gate's oracle: host generation
      // (web_host_cap), blocklist NOT IN, langid (text_langid), quality
      // expression + 0.38 floor, host cap rank, split thresholds
      val Seq(c1, c2, _) = graft.operators.Sampling.splitThresholds(
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks,
         |    'host' || (doc_id % 23) || '.example.com' AS host FROM documents),
         |f AS (SELECT doc_id, host, ($qualityExprSql) AS quality FROM t
         |  WHERE host NOT IN ('host3.example.com','host10.example.com','host17.example.com')
         |    AND len(list_filter(toks, x -> x IN ${OracleFragments.stopwordListSql})) > 0
         |    AND ($qualityExprSql) >= 0.38),
         |r AS (SELECT doc_id, host, quality,
         |  row_number() OVER (PARTITION BY host ORDER BY quality DESC, doc_id) AS host_rank
         |  FROM f),
         |c AS (SELECT doc_id, host, quality,
         |  (${OracleFragments.modPHashSql("doc_id", 7L)}) % 1000000 AS h6
         |  FROM r WHERE host_rank <= 5)
         |SELECT doc_id, host, round(quality, 9) AS quality,
         |  CASE WHEN h6 < $c1 THEN 'train' WHEN h6 < $c2 THEN 'val' ELSE 'test' END AS split
         |FROM c""".stripMargin
    }),
  )
}
