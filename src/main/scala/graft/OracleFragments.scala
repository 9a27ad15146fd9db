package graft

import graft.functions.TextFunctions.{P, StopwordsEn}
import graft.operators.NearDup

/** DuckDB oracle-SQL fragments that mirror the engine's hash/text/vector
  * arithmetic expression-for-expression. Shared constants (mod-P hashing,
  * MinHash permutations, band layout, bucket bits) come from the same
  * Scala objects the Spark plans use, so the two sides cannot drift.
  */
object OracleFragments {

  /** Polynomial char hash of a string-valued SQL expression; `mult`
    * selects the hash family (mirrors poly_hash's multiplier). */
  def polyHashSql(e: String, mult: Long = 31L): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(list_filter(string_to_array($e,''), c -> len(c) > 0),
       |    c -> CAST(ascii(c) AS BIGINT))),
       |  (a,c) -> (a*$mult+c) % $P)""".stripMargin

  val stopwordListSql: String = StopwordsEn.map(s => s"'$s'").mkString("(", ",", ")")

  /** tokens + distinct 3-gram shingles per doc (names: tok, sh). */
  def shingleCtes(n: Int): String =
    s"""tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |  list_distinct(list_transform(range(1, len(toks) - ${n - 2}),
       |    i -> array_to_string(toks[i:i+${n - 1}], ' '))) AS shingles
       |  FROM tok WHERE len(toks) >= $n)""".stripMargin

  /** Count-based Jaccard with a document-frequency cap, mirroring
    * NearDup.jaccardPairs(dfCap): shingles travel as mod-P hashes
    * (mirroring shingleHashSets — collisions shrink both engines' sets
    * identically), shingles with df > cap are dropped before the
    * self-join, and set sizes count capped shingles only. Expects the
    * `sh` CTE from [[shingleCtes]]. */
  def cappedJaccardSql(cap: Int, threshold: Double): String =
    s"""shh AS (SELECT doc_id,
       |  list_distinct(list_transform(shingles, g -> ${polyHashSql("g")})) AS hsh
       |  FROM sh),
       |ex AS (SELECT doc_id, unnest(hsh) AS s FROM shh),
       |exf AS (SELECT doc_id, s FROM (
       |  SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM ex) t
       |  WHERE df <= $cap),
       |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
       |  FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM exf GROUP BY doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) AS jaccard
       |FROM shared JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
       |WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= $threshold""".stripMargin

  /** Mod-P integer key hash mirroring Sampling.modPHash. Spark's side
    * uses pmod throughout; DuckDB's `%` follows the sign of the
    * dividend, so the first reduction is wrapped to non-negative —
    * after that every operand is ≥ 0 (seed ≥ 0) and `%` ≡ pmod. */
  def modPHashSql(key: String, seed: Long): String = {
    require(seed >= 0, s"modPHashSql: seed must be non-negative, got $seed")
    s"((((($key % $P + $P) % $P) * 104729 + $seed) % $P) * 104659 + 1) % $P"
  }

  /** Exact-Jaccard verification over candidate pairs CTE `cand`,
    * computed over HASHED shingle sets — mirrors the engine's
    * [[graft.operators.NearDup.shingleHashSets]] (set similarity over
    * mod-P gram hashes; any collision shrinks BOTH engines' sets
    * identically, so the mirror is exact by construction). */
  def jaccardVerifySql(threshold: Double): String =
    s"""$jaccardJoinCtes
       |SELECT doc_a, doc_b, CAST(shared AS DOUBLE)/(na + nb - shared) AS jaccard
       |FROM j WHERE CAST(shared AS DOUBLE)/(na + nb - shared) >= $threshold""".stripMargin

  /** Just the CTE prefix of [[jaccardVerifySql]] (names: shh, j), for
    * oracles whose final select is something other than the pair list
    * (e.g. the ingest-novelty anti-join). */
  val jaccardJoinCtes: String =
    s"""shh AS (SELECT doc_id,
       |  list_distinct(list_transform(shingles, s -> ${polyHashSql("s")})) AS hsh
       |  FROM sh),
       |j AS (SELECT doc_a, doc_b,
       |  len(list_intersect(sa.hsh, sb.hsh)) AS shared,
       |  len(sa.hsh) AS na, len(sb.hsh) AS nb
       |  FROM cand JOIN shh sa ON sa.doc_id = doc_a JOIN shh sb ON sb.doc_id = doc_b)""".stripMargin

  /** MinHash signature CTE: min over shingle hashes per permutation. */
  def minHashSigSql(k: Int): String = {
    val mins = (0 until k).map(i =>
      s"MIN((h*${NearDup.permA(i)} + ${NearDup.permB(i)}) % $P) AS m$i").mkString(",\n  ")
    s"""ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |hs AS (SELECT doc_id, ${polyHashSql("s")} AS h FROM ex),
       |sig AS (SELECT doc_id,
       |  $mins
       |  FROM hs GROUP BY doc_id)""".stripMargin
  }

  /** The per-doc band-bucket CTE (name: bands) from `sig`. */
  def lshBandsCte(bands: Int, rowsPerBand: Int): String = {
    def fold(cols: Seq[String]): String =
      cols.foldLeft("CAST(0 AS BIGINT)")((acc, m) => s"(($acc)*31 + $m) % $P")
    val bandSelects = (0 until bands).map { j =>
      val cols = (0 until rowsPerBand).map(r => s"m${j * rowsPerBand + r}")
      s"SELECT doc_id, $j AS band, ${fold(cols)} AS bh FROM sig"
    }.mkString("\n  UNION ALL ")
    s"bands AS ($bandSelects)"
  }

  /** Band-bucket candidate pairs from `sig`. */
  def lshCandidateSql(bands: Int, rowsPerBand: Int): String =
    s"""${lshBandsCte(bands, rowsPerBand)},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin

  /** Cross-corpus band candidates, mirroring
    * [[graft.operators.NearDup.lshCrossCandidates]]: side membership is
    * expressed as predicates over the band rows (`a` = new side, `b` =
    * corpus side) since the oracle derives both sides from the one
    * `documents` table. */
  def lshCrossCandidateSql(bands: Int, rowsPerBand: Int,
      newPred: String, corpusPred: String): String =
    s"""${lshBandsCte(bands, rowsPerBand)},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bh = b.bh
       |  WHERE ($newPred) AND ($corpusPred))""".stripMargin

  /** SimHash fingerprint CTEs (names: tokh, bits, fp). Token hash =
    * two independent mod-P families side by side (bits 0-29 / 30-59),
    * mirroring NearDup.simHash. */
  def simHashCtes(bits: Int): String =
    s"""tokh AS (SELECT doc_id, ${polyHashSql("t")} + (${polyHashSql("t", 131L)} << 30) AS h
       |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents)),
       |bits AS (SELECT doc_id, i,
       |  SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS w
       |  FROM tokh CROSS JOIN range($bits) r(i) GROUP BY doc_id, i),
       |fp AS (SELECT doc_id,
       |  CAST(SUM(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id)""".stripMargin

  /** Shared GAUC CTEs (names: ranked, pg): per-user average ranks + the
    * per-group rank sums the AUC formula needs. Mirrors
    * Metrics.withAvgRank/groupAuc. */
  val gaucCtes: String =
    """ranked AS (
      |  SELECT user_id AS g,
      |         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y,
      |         rank() OVER (PARTITION BY user_id ORDER BY value)
      |           + (COUNT(*) OVER (PARTITION BY user_id, value) - 1) / 2.0 AS avgRank
      |  FROM events),
      |pg AS (
      |  SELECT g, SUM(CASE WHEN y = 1 THEN avgRank ELSE 0 END) AS posRankSum,
      |         SUM(y) AS p, SUM(1 - y) AS n, COUNT(*) AS cnt
      |  FROM ranked GROUP BY g)""".stripMargin

  /** Embeddings as double vectors with norms (names: e, nv). */
  val vectorCtes: String =
    """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |nv AS (SELECT vec_id, v,
      |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(v, x -> x*x)),
      |       (a,x) -> a+x)) AS nrm FROM e)""".stripMargin

  /** cosine(q.v, c.v) with precomputed norms. */
  def cosineSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(list_zip($a.v, $b.v), z -> z[1]*z[2])), (p,x) -> p+x)
       |  / ($a.nrm * $b.nrm)""".stripMargin

  /** Top-k select over a pair CTE `p(q_id, n_id, cosine)`. */
  def annTopkSelectSql(k: Int): String =
    s"""SELECT q_id, n_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS BIGINT) AS rn
       |FROM p QUALIFY rn <= $k""".stripMargin

  /** Connected components over a `pairs(doc_a, doc_b, ...)` CTE by
    * reachability closure (names: edges, nodes, reach, comp); the whole
    * query must open with `WITH RECURSIVE`. Mirrors
    * [[graft.operators.DedupClusters.connectedComponents]]: `component`
    * = minimum id reachable in the undirected closure, which for a
    * symmetric edge set is exactly the component's minimum id. */
  val connectedComponentsCtes: String =
    """edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |nodes AS (SELECT DISTINCT u AS id FROM edges),
      |reach AS (
      |  SELECT id, id AS r FROM nodes
      |  UNION
      |  SELECT e.v AS id, reach.r FROM reach JOIN edges e ON e.u = reach.id),
      |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)""".stripMargin

  /** Exact squared-L2 distance between two BIGINT lists (ordered fold —
    * integer arithmetic, so order is irrelevant here, but keep the shape
    * consistent with the other vector folds). */
  def sqDistSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(list_zip($a, $b), z -> (z[1]-z[2])*(z[1]-z[2]))), (p,x) -> p+x)""".stripMargin

  /** Integer-grid quantization CTE (name: iq) — floor(v[i]*scale) per
    * dim, mirroring expressions.GraftExpressions.quantize_vec. Expects the `e` CTE from
    * [[vectorCtes]]. */
  def quantizeCte(scale: Double): String =
    s"""iq AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x * $scale) AS BIGINT)) AS q
       |  FROM e)""".stripMargin

  /** Integer k-means over `iq`, unrolled for `iters` Lloyd iterations
    * (names: c0..c<iters>, cents). Mirrors [[graft.operators.Ivf.kmeans]]
    * exactly: init = k smallest vec_ids, assignment = min squared-L2
    * with ties to the smaller cluster id, update = per-dim
    * floor(sum/count), empty cells keep their centroid. Everything is
    * integer (or one exact double division), so the oracle re-trains the
    * same centroids bit-for-bit. */
  def kmeansCtes(k: Int, iters: Int): String = {
    val init =
      s"""c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         |  q AS cent FROM iq QUALIFY cid < $k)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""a$i AS (SELECT vec_id, q, cid FROM (
         |  SELECT t.vec_id, t.q, c.cid,
         |    row_number() OVER (PARTITION BY t.vec_id
         |      ORDER BY ${sqDistSql("t.q", "c.cent")}, c.cid) AS rn
         |  FROM iq t CROSS JOIN c${i - 1} c) WHERE rn = 1),
         |u$i AS (SELECT cid, pos, CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS elem
         |  FROM (SELECT cid, unnest(q) AS x, unnest(range(len(q))) AS pos FROM a$i)
         |  GROUP BY cid, pos),
         |c$i AS (SELECT o.cid, COALESCE(n.cent, o.cent) AS cent
         |  FROM c${i - 1} o LEFT JOIN
         |    (SELECT cid, list(elem ORDER BY pos) AS cent FROM u$i GROUP BY cid) n
         |  ON n.cid = o.cid)""".stripMargin
    }
    val all = (init +: steps).mkString(",\n")
    s"$all,\ncents AS (SELECT cid, cent FROM c$iters)"
  }

  /** Final corpus-cell assignment from `iq` x `cents` (name: asg). */
  val ivfAssignCte: String =
    s"""asg AS (SELECT vec_id, cid FROM (
       |  SELECT t.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY t.vec_id
       |      ORDER BY ${sqDistSql("t.q", "c.cent")}, c.cid) AS rn
       |  FROM iq t CROSS JOIN cents c) WHERE rn = 1)""".stripMargin

  /** One row per (vector, subspace): vec_id, sub, sv = the sub'th
    * dsub-wide slice of the quantized vector (name: sq). Expects `iq`
    * from [[quantizeCte]]. Mirrors [[graft.operators.Pq.subQuantized]]. */
  def pqSubCte(m: Int, dsub: Int): String =
    s"""sq AS (SELECT vec_id, CAST(s.sub AS BIGINT) AS sub,
       |  list_slice(q, s.sub*$dsub + 1, (s.sub+1)*$dsub) AS sv
       |  FROM iq CROSS JOIN range($m) s(sub))""".stripMargin

  /** Per-subspace integer k-means over `sq`, unrolled for `iters` Lloyd
    * iterations (names: pc0..pc<iters>, pcents(sub, cid, cent)). The
    * [[kmeansCtes]] recipe PARTITIONED BY subspace — init = each sub's
    * ksub smallest vec_ids, assignment = min squared-L2 with ties to
    * the smaller cid, update = per-dim floor(sum/count), empty cells
    * keep their centroid. Mirrors [[graft.operators.Pq.train]]
    * bit-for-bit. */
  def pqKmeansCtes(ksub: Int, iters: Int): String = {
    val init =
      s"""pc0 AS (SELECT sub, CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1
         |  AS BIGINT) AS cid, sv AS cent FROM sq QUALIFY cid < $ksub)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""pa$i AS (SELECT sub, vec_id, sv, cid FROM (
         |  SELECT t.sub, t.vec_id, t.sv, c.cid,
         |    row_number() OVER (PARTITION BY t.sub, t.vec_id
         |      ORDER BY ${sqDistSql("t.sv", "c.cent")}, c.cid) AS rn
         |  FROM sq t JOIN pc${i - 1} c ON c.sub = t.sub) WHERE rn = 1),
         |pu$i AS (SELECT sub, cid, pos, CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS elem
         |  FROM (SELECT sub, cid, unnest(sv) AS x, unnest(range(len(sv))) AS pos FROM pa$i)
         |  GROUP BY sub, cid, pos),
         |pc$i AS (SELECT o.sub, o.cid, COALESCE(n.cent, o.cent) AS cent
         |  FROM pc${i - 1} o LEFT JOIN
         |    (SELECT sub, cid, list(elem ORDER BY pos) AS cent FROM pu$i GROUP BY sub, cid) n
         |  ON n.sub = o.sub AND n.cid = o.cid)""".stripMargin
    }
    val all = (init +: steps).mkString(",\n")
    s"$all,\npcents AS (SELECT sub, cid, cent FROM pc$iters)"
  }

  /** Every (vector, subspace)'s assigned code from `sq` × `pcents`
    * (name: pcodes). Mirrors [[graft.operators.Pq.encode]]. */
  val pqCodesCte: String =
    s"""pcodes AS (SELECT vec_id, sub, cid FROM (
       |  SELECT t.vec_id, t.sub, c.cid,
       |    row_number() OVER (PARTITION BY t.vec_id, t.sub
       |      ORDER BY ${sqDistSql("t.sv", "c.cent")}, c.cid) AS rn
       |  FROM sq t JOIN pcents c ON c.sub = t.sub) WHERE rn = 1)""".stripMargin

  /** Unrolled fixed-point hard-sigmoid logistic GD over the embeddings
    * table, mirroring [[graft.operators.Classifier]] bit-for-bit: CTE
    * names fx (features+label), cnt, xj (exploded), w0..w<iters>
    * (j, w). Every division is `//` on BIGINT, which truncates toward
    * zero exactly like Spark's `div` and Java's `/` (verified — NOT
    * floor division on negatives in any of the three). `d` must equal
    * the embedding dim + 1 (bias feature = the grid scale, appended);
    * `posCond` is the weak-label SQL predicate. The gradient divisor
    * `cnt` counts only rows with a non-NULL feature vector, matching
    * [[graft.operators.Classifier.trainHardSigmoid]]'s isNotNull
    * filter (xj already drops them via unnest; cnt must agree or a
    * single NULL embedding silently diverges every weight). */
  def lrCtes(d: Int, iters: Int, lrMilli: Long, posCond: String): String = {
    val fx =
      s"""fx AS (SELECT vec_id,
         |  list_append(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)),
         |    CAST(1000 AS BIGINT)) AS x,
         |  CASE WHEN $posCond THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
         |  FROM embeddings),
         |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM fx WHERE x IS NOT NULL),
         |xj AS (SELECT vec_id, y, CAST(pos AS BIGINT) AS j, xv FROM
         |  (SELECT vec_id, y, unnest(x) AS xv, unnest(range(len(x))) AS pos FROM fx)),
         |w0 AS (SELECT CAST(r.j AS BIGINT) AS j, CAST(0 AS BIGINT) AS w FROM range($d) r(j))""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""z$i AS (SELECT xj.vec_id, xj.y, CAST(SUM(xj.xv * w.w) AS BIGINT) // 1000 AS zn
         |  FROM xj JOIN w${i - 1} w ON w.j = xj.j GROUP BY xj.vec_id, xj.y),
         |e$i AS (SELECT vec_id, y,
         |  (GREATEST(CAST(0 AS BIGINT), LEAST(CAST(1000000000 AS BIGINT),
         |    500000000 + zn // 4)) - y*1000000000) // 1000 AS em FROM z$i),
         |g$i AS (SELECT xj.j, CAST(SUM(e.em * xj.xv) AS BIGINT) AS g
         |  FROM xj JOIN e$i e ON e.vec_id = xj.vec_id GROUP BY xj.j),
         |w$i AS (SELECT w.j, w.w - ($lrMilli * (g.g // cnt.n)) // 1000 AS w
         |  FROM w${i - 1} w JOIN g$i g ON g.j = w.j CROSS JOIN cnt)""".stripMargin
    }
    (fx +: steps).mkString(",\n")
  }

  /** Unrolled integer-nano PageRank mirror of
    * [[graft.operators.Graph.pageRankNano]] over an edge CTE `e(src,
    * dst)`. CTE names: deg, r0..r<iters>, each rᵢ = (id, pr). Floor
    * division (`//`) on non-negative BIGINTs matches Spark's `div`
    * exactly, and the overflow-safe (s div 1e9 / s mod 1e9)
    * decomposition is mirrored term-for-term. */
  def pageRankCtes(iters: Int, dampNano: Long = 850000000L): String = {
    val teleport = 1000000000L - dampNano
    val deg = "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src)"
    val r0 = "r0 AS (SELECT src AS id, CAST(1000000000 AS BIGINT) AS pr FROM deg)"
    val steps = (1 to iters).map { i =>
      s"""s$i AS (SELECT e.dst AS id, CAST(SUM(r.pr // d.deg) AS BIGINT) AS s
         |  FROM e JOIN r${i - 1} r ON r.id = e.src JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst),
         |r$i AS (SELECT id, CAST($teleport + (s // 1000000000) * $dampNano
         |  + ((s % 1000000000) * $dampNano) // 1000000000 AS BIGINT) AS pr FROM s$i)""".stripMargin
    }
    (Seq(deg, r0) ++ steps).mkString(",\n")
  }

  /** Sign bucket over the first `bits` dims of double vector `v`. */
  def signBucketSql(bits: Int): String =
    (0 until bits).map(k => s"(CASE WHEN v[${k + 1}] > 0 THEN ${1L << k} ELSE 0 END)")
      .mkString(" + ")
}
