package graft

import graft.builder.StarGraph
import graft.algos.{GraphOps, LinkAnalysis, Traversals}
import graft.ext.{Clustering, Dedup, Sampling, Similarity, Skew, TemporalJoins, TextOps, Multimodal, Upserts}
import graft.model.OnionGraph
import graft.props.PropertyOps
import graft.streaming.EventStreams
import graft.views.Filters
import graft.viz.VizData
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Driver contract: the t2 correctness corpus. Every entry pairs a
 * Spark implementation (via the graft library) with a DuckDB oracle
 * SQL formulation over the same parquet tables (SURVEY §5.2).
 *
 * Conventions keeping the hash-compare deterministic:
 *  - every query ends in a total ORDER BY over non-null columns;
 *  - aggregated doubles are round()ed (2dp for money sums, 4dp for
 *    ratios) on BOTH sides;
 *  - integer outputs are cast to BIGINT on both sides (DuckDB SUM on
 *    int is HUGEINT otherwise);
 *  - column names match exactly between Spark and SQL.
 */
object SparkEntry {

  final case class QueryDef(name: String,
                            fn: (SparkSession, String) => DataFrame,
                            oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Documents table spread across the cluster: the corpus arrives as
    * one small parquet file -> one input partition, which would run
    * every shingle/hash HOF single-threaded. At real scale the source
    * is already many splits and this is a no-op-sized shuffle. */
  private def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)

  private def graph(s: SparkSession, dir: String): OnionGraph =
    StarGraph.graph(s, dir)

  /** Memoized IVF-PQ layout per (session, dir, residual) — x137/x139/
    * x140 consume an IDENTICAL immutable trained layout (same corpus,
    * dims=64, cells=4, m=4, k=8, iters=1), so one training per JVM
    * serves them all; training is deterministic, so which query
    * triggers the build cannot change any answer. x142 is NOT
    * memoized: its append MUTATES the layout, so it builds its own.
    * Same stopped-session sweep as [[minSeed]]. */
  private val ivfPqCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Boolean), String]
  private def ivfPqLayout(s: SparkSession, dir: String,
                          residual: Boolean): String = {
    ivfPqCache.forEach((k, v) =>
      if (k._1.sparkContext.isStopped) ivfPqCache.remove(k, v))
    ivfPqCache.computeIfAbsent((s, dir, residual), _ => {
      val tag = if (residual) "res" else "raw"
      val path = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"),
        s"ivfpq_${tag}_${math.abs(dir.hashCode)}").toString
      Clustering.writeIvfPq(t(s, dir, "embeddings"), path, dims = 64,
        cells = 4, m = 4, k = 8, iters = 1, residual = residual)
      path
    })
  }

  /** Memoized `min(keyCol)` seed lookup as a string. A dozen corpus
    * queries anchor a traversal at the smallest key of a dimension
    * table; the value is a constant of the dataset, so one parquet-agg
    * job per (session, dir, table) is enough. */
  private val seedCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String, String), String]
  private def minSeed(s: SparkSession, dir: String, table: String,
                      keyCol: String): String = {
    // same stopped-session sweep as StarGraph.cache — a long-lived JVM
    // cycling sessions must not retain them through this map
    seedCache.forEach((k, v) =>
      if (k._1.sparkContext.isStopped) seedCache.remove(k, v))
    seedCache.computeIfAbsent((s, dir, table, keyCol), _ =>
      t(s, dir, table).agg(min(keyCol).cast("string")).head().getString(0))
  }

  private val W = StarGraph.withSql // shared WITH vertices/edges prelude

  /** Order-independent double sum: cast to decimal (exact integer
    * arithmetic, any summation order) then back to double. Both Spark
    * and DuckDB then emit the bit-identical double, so outputs need NO
    * rounding — plain `round(sum(double))` is a hash hazard because
    * partial-sum order differs between engines. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(38,6)")).cast("double")
  /** The DuckDB spelling of [[dsum]]. */
  private def dsumSql(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(38,6))) AS DOUBLE)"

  private val PrFixedIters = 3

  /** DuckDB oracle for [[Clustering.kmeans]]: chained CTEs — c0 from
    * the k smallest ids, then per Lloyd round an assignment (aK) and a
    * centroid update (cK), then a final assignment. Same exact integer
    * arithmetic as the Spark side: HUGEINT sums ↔ DECIMAL(38,0),
    * `//` after pmod-normalization ↔ floorDiv. */
  /** The CTE chain of [[kmeansSql]] without the final SELECT — the
    * final assignment lands in CTE `a{iters+1}`, so downstream oracles
    * (x55 semantic dedup) can extend the WITH and join against it. */
  /** `sfx`/`lo`/`hi` (optional): re-instantiate the whole CTE chain
    * under suffixed names over only dims [lo, hi) of the vector,
    * re-zeroed — the per-subspace form product quantization trains
    * on. Defaults reproduce the original full-vector chain. */
  /** `qBody` (optional): use the given SELECT (vec_id, dim, q) as the
    * quantized source CTE instead of deriving it from `embeddings` —
    * the residual-PQ chains train on q − coarse_cq, which only exists
    * as a prior CTE. Seeds still come from `embeddings` (mirroring
    * the Scala side's seed-ids-from-corpus convention). */
  /** `srcTable`: train over a different relation than `embeddings`
    * (e.g. the base-corpus CTE of an append oracle) — affects both
    * the quantized source and the seed ids. */
  private def kmeansCtes(k: Int, iters: Int, sfx: String = "",
                         lo: Int = 0, hi: Int = -1,
                         qBody: Option[String] = None,
                         srcTable: String = "embeddings"): String = {
    def assignCte(name: String, cents: String) =
      s"""$name AS (
         | SELECT vec_id, cluster, CAST(d2 AS BIGINT) AS d2 FROM (
         |  SELECT q.vec_id, c.cluster, SUM((q.q - c.cq) * (q.q - c.cq)) AS d2,
         |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |    ORDER BY SUM((q.q - c.cq) * (q.q - c.cq)), c.cluster) AS rk
         |  FROM q$sfx q JOIN $cents c ON c.dim = q.dim
         |  GROUP BY q.vec_id, c.cluster)
         | WHERE rk = 1)""".stripMargin
    def updateCte(name: String, assign: String) =
      s"""$name AS (
         | SELECT a.cluster, q.dim,
         |  CAST((SUM(q.q) - ((SUM(q.q) % COUNT(*)) + COUNT(*)) % COUNT(*))
         |    // COUNT(*) AS BIGINT) AS cq
         | FROM q$sfx q JOIN $assign a USING (vec_id)
         | GROUP BY a.cluster, q.dim)""".stripMargin
    val qCte =
      if (qBody.isDefined)
        s"q$sfx AS (${qBody.get})"
      else if (hi < 0)
        s"""q$sfx AS (SELECT vec_id, UNNEST(range(len(embedding))) AS dim,
           |  CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
           | FROM $srcTable)""".stripMargin
      else
        s"""q$sfx AS (SELECT vec_id, dim - $lo AS dim,
           |  CAST(FLOOR(CAST(embedding[dim + 1] AS DOUBLE) * 1000000) AS BIGINT) AS q
           | FROM (SELECT vec_id, embedding, UNNEST(range($lo, $hi)) AS dim
           |   FROM $srcTable))""".stripMargin
    val rounds = (1 to iters).map(i =>
      assignCte(s"a$i$sfx", s"c${i - 1}$sfx") + ",\n" +
        updateCte(s"c$i$sfx", s"a$i$sfx"))
      .mkString(",\n")
    val sep = if (iters > 0) ",\n" else ""
    s"""$qCte,
       |seeds$sfx AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) AS cluster
       | FROM (SELECT DISTINCT vec_id FROM $srcTable ORDER BY vec_id LIMIT $k)),
       |c0$sfx AS (SELECT s.cluster, q.dim, q.q AS cq
       | FROM q$sfx q JOIN seeds$sfx s USING (vec_id)),
       |$rounds$sep${assignCte(s"a${iters + 1}$sfx", s"c$iters$sfx")}""".stripMargin
  }

  /** DuckDB oracle for [[graft.ext.Clustering.pqEncode]]: one
    * suffixed kmeans chain per subspace over its dim slice, unioned. */
  private def pqSql(m: Int, sub: Int, k: Int, iters: Int): String = {
    val parts = (0 until m)
      .map(s => kmeansCtes(k, iters, s"_s$s", s * sub, (s + 1) * sub))
      .mkString(",\n")
    val sel = (0 until m).map(s =>
      s"SELECT vec_id, $s AS subspace, cluster AS code, d2 FROM a${iters + 1}_s$s")
      .mkString("\nUNION ALL ")
    s"WITH $parts\n$sel\nORDER BY vec_id, subspace"
  }

  /** Shared DuckDB CTE chain re-deriving the md5-family MinHash+LSH
    * pipeline over `documents` (x26's oracle body — signatures, banded
    * candidates, `verified` pairs with exact Jaccard). */
  private val portableMinhashCtes =
    """toks AS (SELECT doc_id,
      |  string_split_regex(trim(text), '\s+') AS tk FROM documents),
      | sh AS (SELECT doc_id, list_distinct(
      |  [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
      |   for i in generate_series(1, len(tk) - 2)]) AS s FROM toks
      |  WHERE len(tk) >= 3),
      | hs AS (SELECT doc_id, s,
      |  [CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 2147483647
      |   for x in s] AS h FROM sh WHERE len(s) > 0),
      | sig AS (SELECT doc_id, s,
      |  [list_min([(hv * (2*k+1) + k) % 2147483647 for hv in h])
      |   for k in generate_series(0, 15)] AS sig FROM hs),
      | banded AS (SELECT doc_id, b,
      |  array_to_string(sig[b*4+1 : b*4+4], ',') AS bkey
      |  FROM sig, generate_series(0, 3) AS g(b)),
      | cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      |  FROM banded l JOIN banded r
      |    ON l.b = r.b AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
      | verified AS (SELECT c.a, c.b,
      |  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
      |   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
      |   AS jaccard
      |  FROM cand c JOIN sig sa ON sa.doc_id = c.a
      |  JOIN sig sb ON sb.doc_id = c.b)""".stripMargin

  /** DuckDB oracle for [[LinkAnalysis.labelSpread]] from region seeds
    * over the star graph: chained frontier CTEs — per round, count
    * frontier-neighbor labels for still-unlabeled vertices, QUALIFY
    * the (n DESC, label) argmax, freeze. */
  private def labelSpreadSql(rounds: Int): String = {
    val ctes = (1 to rounds).map { r =>
      s"""c$r AS MATERIALIZED (SELECT u.v AS id, f.label, COUNT(*) AS n
         | FROM und u JOIN f${r - 1} f ON f.id = u.u
         | WHERE u.v NOT IN (SELECT id FROM l${r - 1})
         | GROUP BY 1, 2),
         |f$r AS MATERIALIZED (SELECT id, label, $r AS round FROM c$r
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY id
         |   ORDER BY n DESC, label) = 1),
         |l$r AS MATERIALIZED (SELECT * FROM l${r - 1}
         | UNION ALL SELECT * FROM f$r)""".stripMargin
    }.mkString(",\n")
    s"""$W, ids AS (SELECT source_layer || '|' || source_id AS a,
       |   target_layer || '|' || target_id AS b FROM edges),
       | und AS (SELECT a AS u, b AS v FROM ids
       |  UNION ALL SELECT b, a FROM ids),
       | l0 AS (SELECT 'region|' || node_id AS id,
       |   CAST(node_id AS INT) AS label, 0 AS round
       |  FROM vertices WHERE layer = 'region'),
       | f0 AS (SELECT id, label, round FROM l0),
       |$ctes
       |SELECT split_part(id, '|', 1) AS layer,
       | split_part(id, '|', 2) AS node_id, label, round
       |FROM l$rounds ORDER BY layer, node_id""".stripMargin
  }

  /** DuckDB oracle for [[graft.ext.Clustering.pqAdcTopK]]: the pq
    * chains, plus per-subspace query LUTs against the FINAL-round
    * centroids (c`iters`), code-join + sum, per-query top-k. */
  /** DuckDB oracle for [[graft.ext.Clustering.ivfPqTopK]]: the coarse
    * kmeans chain over FULL vectors + the per-subspace PQ chains +
    * query probes (nProbe nearest coarse cells under the same
    * (d2, cluster) tie order) + cell-restricted ADC scoring. */
  private def ivfPqSql(cells: Int, cIters: Int, m: Int, sub: Int, k: Int,
                       iters: Int, nProbe: Int, topK: Int,
                       corpusCond: String = "TRUE"): String = {
    val coarse = kmeansCtes(cells, cIters, "_ivf")
    val parts = (0 until m)
      .map(s => kmeansCtes(k, iters, s"_s$s", s * sub, (s + 1) * sub))
      .mkString(",\n")
    val luts = (0 until m).map { s =>
      val lo = s * sub; val hi = (s + 1) * sub
      s"""qq_s$s AS (SELECT vec_id AS query_id, dim - $lo AS dim,
         |  CAST(FLOOR(CAST(embedding[dim + 1] AS DOUBLE) * 1000000) AS BIGINT) AS q
         | FROM (SELECT vec_id, embedding, UNNEST(range($lo, $hi)) AS dim
         |   FROM embeddings WHERE vec_id < 5)),
         |lut_s$s AS (SELECT query_id, c.cluster,
         |  SUM((q.q - c.cq) * (q.q - c.cq)) AS adist
         | FROM qq_s$s q JOIN c${iters}_s$s c ON c.dim = q.dim
         | GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val codesU = (0 until m).map(s =>
      s"SELECT vec_id, $s AS subspace, cluster AS code FROM a${iters + 1}_s$s")
      .mkString(" UNION ALL ")
    val lutU = (0 until m).map(s =>
      s"SELECT query_id, $s AS subspace, cluster, adist FROM lut_s$s")
      .mkString(" UNION ALL ")
    s"""WITH $coarse,
       |$parts,
       |$luts,
       |codes AS ($codesU),
       |lut AS ($lutU),
       |qprobe AS (SELECT query_id, cluster FROM (
       |  SELECT q.vec_id AS query_id, c.cluster,
       |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |    ORDER BY SUM((q.q - c.cq) * (q.q - c.cq)), c.cluster) AS rk
       |  FROM q_ivf q JOIN c${cIters}_ivf c ON c.dim = q.dim
       |  WHERE q.vec_id < 5
       |  GROUP BY q.vec_id, c.cluster) WHERE rk <= $nProbe),
       |dist AS (SELECT l.query_id, a.vec_id AS neighbor_id,
       |  SUM(l.adist) AS adc_d2
       | FROM codes a
       | JOIN a${cIters + 1}_ivf asg ON asg.vec_id = a.vec_id
       | JOIN qprobe p ON p.cluster = asg.cluster
       | JOIN lut l ON l.query_id = p.query_id
       |   AND l.subspace = a.subspace AND l.cluster = a.code
       | WHERE a.vec_id <> l.query_id AND ($corpusCond) GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, CAST(adc_d2 AS BIGINT) AS adc_d2,
       | CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY adc_d2, neighbor_id) AS INT) AS rank
       |FROM dist QUALIFY rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB oracle for residual-encoded IVF-PQ (true IVFADC): the
    * coarse chain, the corpus RESIDUAL table (q − coarse_cq), one
    * per-subspace kmeans chain over each residual slice (via
    * [[kmeansCtes]]'s qBody hook), probes, the PER-(query, cell)
    * residual LUTs, and cell-restricted ADC scoring. */
  private def ivfPqResidualSql(cells: Int, cIters: Int, m: Int, sub: Int,
                               k: Int, iters: Int, nProbe: Int,
                               topK: Int): String = {
    val coarse = kmeansCtes(cells, cIters, "_ivf")
    val resCte =
      s"""qres AS MATERIALIZED (SELECT q.vec_id, q.dim, q.q - c.cq AS q
         | FROM q_ivf q JOIN a${cIters + 1}_ivf a USING (vec_id)
         | JOIN c${cIters}_ivf c ON c.cluster = a.cluster
         |   AND c.dim = q.dim)""".stripMargin
    val parts = (0 until m).map { s =>
      val lo = s * sub; val hi = (s + 1) * sub
      kmeansCtes(k, iters, s"_rs$s", qBody = Some(
        s"SELECT vec_id, dim - $lo AS dim, q FROM qres" +
          s" WHERE dim >= $lo AND dim < $hi"))
    }.mkString(",\n")
    val luts = (0 until m).map { s =>
      val lo = s * sub; val hi = (s + 1) * sub
      s"""lutr_s$s AS (SELECT r.query_id, r.cell, c.cluster,
         |  SUM((r.q - c.cq) * (r.q - c.cq)) AS adist
         | FROM (SELECT query_id, cell, dim - $lo AS dim, q FROM qrescell
         |   WHERE dim >= $lo AND dim < $hi) r
         | JOIN c${iters}_rs$s c ON c.dim = r.dim
         | GROUP BY 1, 2, 3)""".stripMargin
    }.mkString(",\n")
    val codesU = (0 until m).map(s =>
      s"SELECT vec_id, $s AS subspace, cluster AS code FROM a${iters + 1}_rs$s")
      .mkString(" UNION ALL ")
    val lutU = (0 until m).map(s =>
      s"SELECT query_id, cell, $s AS subspace, cluster, adist FROM lutr_s$s")
      .mkString(" UNION ALL ")
    s"""WITH $coarse,
       |$resCte,
       |$parts,
       |qprobe AS (SELECT query_id, cluster FROM (
       |  SELECT q.vec_id AS query_id, c.cluster,
       |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |    ORDER BY SUM((q.q - c.cq) * (q.q - c.cq)), c.cluster) AS rk
       |  FROM q_ivf q JOIN c${cIters}_ivf c ON c.dim = q.dim
       |  WHERE q.vec_id < 5
       |  GROUP BY q.vec_id, c.cluster) WHERE rk <= $nProbe),
       |qrescell AS MATERIALIZED (SELECT p.query_id, p.cluster AS cell,
       |  q.dim, q.q - c.cq AS q
       | FROM qprobe p JOIN q_ivf q ON q.vec_id = p.query_id
       | JOIN c${cIters}_ivf c ON c.cluster = p.cluster AND c.dim = q.dim),
       |$luts,
       |codes AS ($codesU),
       |lut AS ($lutU),
       |dist AS (SELECT l.query_id, a.vec_id AS neighbor_id,
       |  SUM(l.adist) AS adc_d2
       | FROM codes a
       | JOIN a${cIters + 1}_ivf asg ON asg.vec_id = a.vec_id
       | JOIN lut l ON l.cell = asg.cluster AND l.subspace = a.subspace
       |   AND l.cluster = a.code
       | WHERE a.vec_id <> l.query_id GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, CAST(adc_d2 AS BIGINT) AS adc_d2,
       | CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY adc_d2, neighbor_id) AS INT) AS rank
       |FROM dist QUALIFY rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB oracle for [[graft.ext.Clustering.ivfPqRecallCard]] over
    * the raw-vector layout: the shared coarse/PQ/LUT chains, the
    * exact integer-L2 top-k ground truth, the probe ranking kept
    * UNFILTERED (qprobeAll with rk), and per swept nProbe a
    * cell-restricted ADC top-k + per-query recall ppm + the card
    * rollup. */
  private def ivfPqRecallSql(cells: Int, cIters: Int, m: Int, sub: Int,
                             k: Int, iters: Int, topK: Int,
                             nProbes: Seq[Int]): String = {
    val coarse = kmeansCtes(cells, cIters, "_ivf")
    val parts = (0 until m)
      .map(s => kmeansCtes(k, iters, s"_s$s", s * sub, (s + 1) * sub))
      .mkString(",\n")
    val luts = (0 until m).map { s =>
      val lo = s * sub; val hi = (s + 1) * sub
      s"""qq_s$s AS (SELECT vec_id AS query_id, dim - $lo AS dim,
         |  CAST(FLOOR(CAST(embedding[dim + 1] AS DOUBLE) * 1000000) AS BIGINT) AS q
         | FROM (SELECT vec_id, embedding, UNNEST(range($lo, $hi)) AS dim
         |   FROM embeddings WHERE vec_id < 5)),
         |lut_s$s AS (SELECT query_id, c.cluster,
         |  SUM((q.q - c.cq) * (q.q - c.cq)) AS adist
         | FROM qq_s$s q JOIN c${iters}_s$s c ON c.dim = q.dim
         | GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val codesU = (0 until m).map(s =>
      s"SELECT vec_id, $s AS subspace, cluster AS code FROM a${iters + 1}_s$s")
      .mkString(" UNION ALL ")
    val lutU = (0 until m).map(s =>
      s"SELECT query_id, $s AS subspace, cluster, adist FROM lut_s$s")
      .mkString(" UNION ALL ")
    val perNp = nProbes.map { np =>
      s"""dist_$np AS (SELECT l.query_id, a.vec_id AS neighbor_id,
         |  SUM(l.adist) AS adc_d2
         | FROM codes a
         | JOIN a${cIters + 1}_ivf asg ON asg.vec_id = a.vec_id
         | JOIN qprobeall p ON p.cluster = asg.cluster AND p.rk <= $np
         | JOIN lut l ON l.query_id = p.query_id
         |   AND l.subspace = a.subspace AND l.cluster = a.code
         | WHERE a.vec_id <> l.query_id GROUP BY 1, 2),
         |top_$np AS (SELECT query_id, neighbor_id FROM dist_$np
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY adc_d2, neighbor_id) <= $topK),
         |rec_$np AS (SELECT e.query_id,
         |  CAST(COUNT(*) AS BIGINT) AS k_exact,
         |  CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hit
         | FROM ex e LEFT JOIN top_$np t ON t.query_id = e.query_id
         |   AND t.neighbor_id = e.neighbor_id
         | GROUP BY 1),
         |card_$np AS (SELECT $np AS n_probe,
         |  CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(1000000 * n_hit // k_exact) AS BIGINT)
         |    AS sum_recall_ppm
         | FROM rec_$np)""".stripMargin
    }.mkString(",\n")
    val cardU = nProbes.map(np => s"SELECT * FROM card_$np")
      .mkString(" UNION ALL ")
    s"""WITH $coarse,
       |$parts,
       |$luts,
       |codes AS ($codesU),
       |lut AS ($lutU),
       |qprobeall AS MATERIALIZED (SELECT query_id, cluster, rk FROM (
       |  SELECT q.vec_id AS query_id, c.cluster,
       |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |    ORDER BY SUM((q.q - c.cq) * (q.q - c.cq)), c.cluster) AS rk
       |  FROM q_ivf q JOIN c${cIters}_ivf c ON c.dim = q.dim
       |  WHERE q.vec_id < 5
       |  GROUP BY q.vec_id, c.cluster)),
       |exd AS MATERIALIZED (SELECT qq.vec_id AS query_id,
       |  cc.vec_id AS neighbor_id, SUM((qq.q - cc.q) * (qq.q - cc.q)) AS d2
       | FROM q_ivf qq JOIN q_ivf cc ON cc.dim = qq.dim
       |   AND cc.vec_id <> qq.vec_id
       | WHERE qq.vec_id < 5 GROUP BY 1, 2),
       |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM exd
       | QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY d2, neighbor_id) <= $topK),
       |$perNp
       |SELECT n_probe, n_queries, sum_recall_ppm,
       | sum_recall_ppm // n_queries AS mean_recall_ppm
       |FROM ($cardU) ORDER BY n_probe""".stripMargin
  }

  /** DuckDB oracle for [[graft.ext.Clustering.appendIvfPq]]: train
    * the coarse + PQ chains on the BASE slice only (`srcTable`),
    * then re-derive the FULL corpus's assignment and codes against
    * the final (frozen) model — encoding the training slice against
    * its own model reproduces its training codes exactly, so the
    * union equals base-codes ∪ appended-batch-codes — and probe as
    * usual. `baseCond` filters `embeddings` to the base slice. */
  private def ivfPqAppendSql(cells: Int, cIters: Int, m: Int, sub: Int,
                             k: Int, iters: Int, nProbe: Int, topK: Int,
                             baseCond: String): String = {
    val coarse = kmeansCtes(cells, cIters, "_ivf", srcTable = "embbase")
    val parts = (0 until m)
      .map(s => kmeansCtes(k, iters, s"_s$s", s * sub, (s + 1) * sub,
        srcTable = "embbase"))
      .mkString(",\n")
    val encodes = (0 until m).map { s =>
      val lo = s * sub; val hi = (s + 1) * sub
      s"""qa_s$s AS (SELECT vec_id, dim - $lo AS dim, q FROM qall
         |  WHERE dim >= $lo AND dim < $hi),
         |ca_s$s AS (SELECT vec_id, cluster AS code FROM (
         |  SELECT q.vec_id, c.cluster,
         |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |    ORDER BY SUM((q.q - c.cq) * (q.q - c.cq)), c.cluster) AS rk
         |  FROM qa_s$s q JOIN c${iters}_s$s c ON c.dim = q.dim
         |  GROUP BY q.vec_id, c.cluster) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val luts = (0 until m).map { s =>
      s"""lut_s$s AS (SELECT query_id, c.cluster,
         |  SUM((q.q - c.cq) * (q.q - c.cq)) AS adist
         | FROM (SELECT vec_id AS query_id, dim, q FROM qa_s$s
         |   WHERE vec_id < 5) q
         | JOIN c${iters}_s$s c ON c.dim = q.dim
         | GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val codesU = (0 until m).map(s =>
      s"SELECT vec_id, $s AS subspace, code FROM ca_s$s")
      .mkString(" UNION ALL ")
    val lutU = (0 until m).map(s =>
      s"SELECT query_id, $s AS subspace, cluster, adist FROM lut_s$s")
      .mkString(" UNION ALL ")
    s"""WITH embbase AS MATERIALIZED (SELECT * FROM embeddings
       |  WHERE $baseCond),
       |$coarse,
       |$parts,
       |qall AS MATERIALIZED (SELECT vec_id,
       |  UNNEST(range(len(embedding))) AS dim,
       |  CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
       | FROM embeddings),
       |asgall AS MATERIALIZED (SELECT vec_id, cluster FROM (
       |  SELECT q.vec_id, c.cluster,
       |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |    ORDER BY SUM((q.q - c.cq) * (q.q - c.cq)), c.cluster) AS rk
       |  FROM qall q JOIN c${cIters}_ivf c ON c.dim = q.dim
       |  GROUP BY q.vec_id, c.cluster) WHERE rk = 1),
       |$encodes,
       |$luts,
       |codes AS ($codesU),
       |lut AS ($lutU),
       |qprobe AS (SELECT query_id, cluster FROM (
       |  SELECT q.vec_id AS query_id, c.cluster,
       |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |    ORDER BY SUM((q.q - c.cq) * (q.q - c.cq)), c.cluster) AS rk
       |  FROM qall q JOIN c${cIters}_ivf c ON c.dim = q.dim
       |  WHERE q.vec_id < 5
       |  GROUP BY q.vec_id, c.cluster) WHERE rk <= $nProbe),
       |dist AS (SELECT l.query_id, a.vec_id AS neighbor_id,
       |  SUM(l.adist) AS adc_d2
       | FROM codes a
       | JOIN asgall asg ON asg.vec_id = a.vec_id
       | JOIN qprobe p ON p.cluster = asg.cluster
       | JOIN lut l ON l.query_id = p.query_id
       |   AND l.subspace = a.subspace AND l.cluster = a.code
       | WHERE a.vec_id <> l.query_id GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, CAST(adc_d2 AS BIGINT) AS adc_d2,
       | CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY adc_d2, neighbor_id) AS INT) AS rank
       |FROM dist QUALIFY rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB oracle for [[graft.ext.Clustering.ivfPqDriftCard]] over a
    * CHURNED layout: the x142 frozen-model composition (train the
    * coarse + PQ chains on the BASE slice only, encode the FULL
    * corpus against the frozen model) ∘ the x140 recall-card rollup
    * (per swept nProbe, ADC top-k vs exact-L2 top-k in integer ppm) ∘
    * the delete leg (`delCond` rows tombstoned: dropped from the
    * candidate codes AND from the exact ground-truth corpus — the
    * live set is everything minus the deletes). n_live rides every
    * card row, matching the Spark card's layout-derived live count. */
  private def ivfPqDriftSql(cells: Int, cIters: Int, m: Int, sub: Int,
                            k: Int, iters: Int, topK: Int,
                            nProbes: Seq[Int], baseCond: String,
                            delCond: String): String = {
    val coarse = kmeansCtes(cells, cIters, "_ivf", srcTable = "embbase")
    val parts = (0 until m)
      .map(s => kmeansCtes(k, iters, s"_s$s", s * sub, (s + 1) * sub,
        srcTable = "embbase"))
      .mkString(",\n")
    val encodes = (0 until m).map { s =>
      val lo = s * sub; val hi = (s + 1) * sub
      s"""qa_s$s AS (SELECT vec_id, dim - $lo AS dim, q FROM qall
         |  WHERE dim >= $lo AND dim < $hi),
         |ca_s$s AS (SELECT vec_id, cluster AS code FROM (
         |  SELECT q.vec_id, c.cluster,
         |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |    ORDER BY SUM((q.q - c.cq) * (q.q - c.cq)), c.cluster) AS rk
         |  FROM qa_s$s q JOIN c${iters}_s$s c ON c.dim = q.dim
         |  GROUP BY q.vec_id, c.cluster) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val luts = (0 until m).map { s =>
      s"""lut_s$s AS (SELECT query_id, c.cluster,
         |  SUM((q.q - c.cq) * (q.q - c.cq)) AS adist
         | FROM (SELECT vec_id AS query_id, dim, q FROM qa_s$s
         |   WHERE vec_id < 5) q
         | JOIN c${iters}_s$s c ON c.dim = q.dim
         | GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val codesU = (0 until m).map(s =>
      s"SELECT vec_id, $s AS subspace, code FROM ca_s$s")
      .mkString(" UNION ALL ")
    val lutU = (0 until m).map(s =>
      s"SELECT query_id, $s AS subspace, cluster, adist FROM lut_s$s")
      .mkString(" UNION ALL ")
    val perNp = nProbes.map { np =>
      s"""dist_$np AS (SELECT l.query_id, a.vec_id AS neighbor_id,
         |  SUM(l.adist) AS adc_d2
         | FROM codes a
         | JOIN live lv ON lv.vec_id = a.vec_id
         | JOIN asgall asg ON asg.vec_id = a.vec_id
         | JOIN qprobeall p ON p.cluster = asg.cluster AND p.rk <= $np
         | JOIN lut l ON l.query_id = p.query_id
         |   AND l.subspace = a.subspace AND l.cluster = a.code
         | WHERE a.vec_id <> l.query_id GROUP BY 1, 2),
         |top_$np AS (SELECT query_id, neighbor_id FROM dist_$np
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY adc_d2, neighbor_id) <= $topK),
         |rec_$np AS (SELECT e.query_id,
         |  CAST(COUNT(*) AS BIGINT) AS k_exact,
         |  CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hit
         | FROM ex e LEFT JOIN top_$np t ON t.query_id = e.query_id
         |   AND t.neighbor_id = e.neighbor_id
         | GROUP BY 1),
         |card_$np AS (SELECT $np AS n_probe,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM live) AS n_live,
         |  CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(1000000 * n_hit // k_exact) AS BIGINT)
         |    AS sum_recall_ppm
         | FROM rec_$np)""".stripMargin
    }.mkString(",\n")
    val cardU = nProbes.map(np => s"SELECT * FROM card_$np")
      .mkString(" UNION ALL ")
    s"""WITH embbase AS MATERIALIZED (SELECT * FROM embeddings
       |  WHERE $baseCond),
       |$coarse,
       |$parts,
       |qall AS MATERIALIZED (SELECT vec_id,
       |  UNNEST(range(len(embedding))) AS dim,
       |  CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
       | FROM embeddings),
       |live AS MATERIALIZED (SELECT vec_id FROM embeddings
       |  WHERE NOT ($delCond)),
       |asgall AS MATERIALIZED (SELECT vec_id, cluster FROM (
       |  SELECT q.vec_id, c.cluster,
       |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |    ORDER BY SUM((q.q - c.cq) * (q.q - c.cq)), c.cluster) AS rk
       |  FROM qall q JOIN c${cIters}_ivf c ON c.dim = q.dim
       |  GROUP BY q.vec_id, c.cluster) WHERE rk = 1),
       |$encodes,
       |$luts,
       |codes AS ($codesU),
       |lut AS ($lutU),
       |qprobeall AS MATERIALIZED (SELECT query_id, cluster, rk FROM (
       |  SELECT q.vec_id AS query_id, c.cluster,
       |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |    ORDER BY SUM((q.q - c.cq) * (q.q - c.cq)), c.cluster) AS rk
       |  FROM qall q JOIN c${cIters}_ivf c ON c.dim = q.dim
       |  WHERE q.vec_id < 5
       |  GROUP BY q.vec_id, c.cluster)),
       |exd AS MATERIALIZED (SELECT qq.vec_id AS query_id,
       |  cc.vec_id AS neighbor_id, SUM((qq.q - cc.q) * (qq.q - cc.q)) AS d2
       | FROM qall qq JOIN qall cc ON cc.dim = qq.dim
       |   AND cc.vec_id <> qq.vec_id
       | JOIN live lv ON lv.vec_id = cc.vec_id
       | WHERE qq.vec_id < 5 GROUP BY 1, 2),
       |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM exd
       | QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY d2, neighbor_id) <= $topK),
       |$perNp
       |SELECT n_probe, n_live, n_queries, sum_recall_ppm,
       | sum_recall_ppm // n_queries AS mean_recall_ppm
       |FROM ($cardU) ORDER BY n_probe""".stripMargin
  }

  /** DuckDB oracle for the RESIDUAL layout's recall card: the x139
    * chains (coarse + residual-table + per-slice codebooks), the
    * probe ranking kept unfiltered, per-(query, cell) residual LUTs
    * over EVERY cell (the card sweeps nProbe up to `cells`), the
    * exact-L2 ground truth, and per swept nProbe the ADC top-k +
    * recall rollup. */
  private def ivfPqResidualRecallSql(cells: Int, cIters: Int, m: Int,
                                     sub: Int, k: Int, iters: Int,
                                     topK: Int, nProbes: Seq[Int]): String = {
    val coarse = kmeansCtes(cells, cIters, "_ivf")
    val resCte =
      s"""qres AS MATERIALIZED (SELECT q.vec_id, q.dim, q.q - c.cq AS q
         | FROM q_ivf q JOIN a${cIters + 1}_ivf a USING (vec_id)
         | JOIN c${cIters}_ivf c ON c.cluster = a.cluster
         |   AND c.dim = q.dim)""".stripMargin
    val parts = (0 until m).map { s =>
      val lo = s * sub; val hi = (s + 1) * sub
      kmeansCtes(k, iters, s"_rs$s", qBody = Some(
        s"SELECT vec_id, dim - $lo AS dim, q FROM qres" +
          s" WHERE dim >= $lo AND dim < $hi"))
    }.mkString(",\n")
    val luts = (0 until m).map { s =>
      val lo = s * sub; val hi = (s + 1) * sub
      s"""lutr_s$s AS (SELECT r.query_id, r.cell, c.cluster,
         |  SUM((r.q - c.cq) * (r.q - c.cq)) AS adist
         | FROM (SELECT query_id, cell, dim - $lo AS dim, q FROM qrescell
         |   WHERE dim >= $lo AND dim < $hi) r
         | JOIN c${iters}_rs$s c ON c.dim = r.dim
         | GROUP BY 1, 2, 3)""".stripMargin
    }.mkString(",\n")
    val codesU = (0 until m).map(s =>
      s"SELECT vec_id, $s AS subspace, cluster AS code FROM a${iters + 1}_rs$s")
      .mkString(" UNION ALL ")
    val lutU = (0 until m).map(s =>
      s"SELECT query_id, cell, $s AS subspace, cluster, adist FROM lutr_s$s")
      .mkString(" UNION ALL ")
    val perNp = nProbes.map { np =>
      s"""dist_$np AS (SELECT l.query_id, a.vec_id AS neighbor_id,
         |  SUM(l.adist) AS adc_d2
         | FROM codes a
         | JOIN a${cIters + 1}_ivf asg ON asg.vec_id = a.vec_id
         | JOIN lut l ON l.cell = asg.cluster AND l.subspace = a.subspace
         |   AND l.cluster = a.code
         | JOIN qprobeall p ON p.cluster = asg.cluster
         |   AND p.query_id = l.query_id AND p.rk <= $np
         | WHERE a.vec_id <> l.query_id GROUP BY 1, 2),
         |top_$np AS (SELECT query_id, neighbor_id FROM dist_$np
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY adc_d2, neighbor_id) <= $topK),
         |rec_$np AS (SELECT e.query_id,
         |  CAST(COUNT(*) AS BIGINT) AS k_exact,
         |  CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hit
         | FROM ex e LEFT JOIN top_$np t ON t.query_id = e.query_id
         |   AND t.neighbor_id = e.neighbor_id
         | GROUP BY 1),
         |card_$np AS (SELECT $np AS n_probe,
         |  CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(1000000 * n_hit // k_exact) AS BIGINT)
         |    AS sum_recall_ppm
         | FROM rec_$np)""".stripMargin
    }.mkString(",\n")
    val cardU = nProbes.map(np => s"SELECT * FROM card_$np")
      .mkString(" UNION ALL ")
    s"""WITH $coarse,
       |$resCte,
       |$parts,
       |qprobeall AS MATERIALIZED (SELECT query_id, cluster, rk FROM (
       |  SELECT q.vec_id AS query_id, c.cluster,
       |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |    ORDER BY SUM((q.q - c.cq) * (q.q - c.cq)), c.cluster) AS rk
       |  FROM q_ivf q JOIN c${cIters}_ivf c ON c.dim = q.dim
       |  WHERE q.vec_id < 5
       |  GROUP BY q.vec_id, c.cluster)),
       |qrescell AS MATERIALIZED (SELECT p.query_id, p.cluster AS cell,
       |  q.dim, q.q - c.cq AS q
       | FROM qprobeall p JOIN q_ivf q ON q.vec_id = p.query_id
       | JOIN c${cIters}_ivf c ON c.cluster = p.cluster AND c.dim = q.dim),
       |$luts,
       |codes AS ($codesU),
       |lut AS ($lutU),
       |exd AS MATERIALIZED (SELECT qq.vec_id AS query_id,
       |  cc.vec_id AS neighbor_id, SUM((qq.q - cc.q) * (qq.q - cc.q)) AS d2
       | FROM q_ivf qq JOIN q_ivf cc ON cc.dim = qq.dim
       |   AND cc.vec_id <> qq.vec_id
       | WHERE qq.vec_id < 5 GROUP BY 1, 2),
       |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM exd
       | QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY d2, neighbor_id) <= $topK),
       |$perNp
       |SELECT n_probe, n_queries, sum_recall_ppm,
       | sum_recall_ppm // n_queries AS mean_recall_ppm
       |FROM ($cardU) ORDER BY n_probe""".stripMargin
  }

  /** DuckDB oracle for [[graft.ext.Profiling.correlationCard]]: the
    * same micro-unit quantization, HUGEINT moment sums (↔ Spark's
    * DECIMAL(38,0)), and the identical IEEE corr chain per pair. */
  private def corrCardSql(table: String, cols: Seq[String]): String = {
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val qsel = cols.map(c =>
      s"CAST(FLOOR(CAST($c AS DOUBLE) * 1000000) AS HUGEINT) AS q_$c")
      .mkString(",\n  ")
    val notNull = cols.map(c => s"$c IS NOT NULL").mkString(" AND ")
    val sums = (Seq("COUNT(*) AS n") ++
      cols.map(c => s"SUM(q_$c) AS s_$c") ++
      cols.map(c => s"SUM(q_$c * q_$c) AS ss_$c") ++
      pairs.map { case (a, b) => s"SUM(q_$a * q_$b) AS sp_${a}__$b" })
      .mkString(",\n  ")
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b, CAST(n AS BIGINT) AS n,
         | CAST(n * sp_${a}__$b - s_$a * s_$b AS DOUBLE) /
         |  (sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE)) *
         |   sqrt(CAST(n * ss_$b - s_$b * s_$b AS DOUBLE))) AS corr
         |FROM sums""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH qt AS (SELECT
       |  $qsel
       | FROM $table WHERE $notNull),
       |sums AS (SELECT
       |  $sums
       | FROM qt)
       |$rows
       |ORDER BY col_a, col_b""".stripMargin
  }

  private def pqAdcSql(m: Int, sub: Int, k: Int, iters: Int,
                       topK: Int): String = {
    val parts = (0 until m)
      .map(s => kmeansCtes(k, iters, s"_s$s", s * sub, (s + 1) * sub))
      .mkString(",\n")
    val luts = (0 until m).map { s =>
      val lo = s * sub; val hi = (s + 1) * sub
      s"""qq_s$s AS (SELECT vec_id AS query_id, dim - $lo AS dim,
         |  CAST(FLOOR(CAST(embedding[dim + 1] AS DOUBLE) * 1000000) AS BIGINT) AS q
         | FROM (SELECT vec_id, embedding, UNNEST(range($lo, $hi)) AS dim
         |   FROM embeddings WHERE vec_id < 5)),
         |lut_s$s AS (SELECT query_id, c.cluster,
         |  SUM((q.q - c.cq) * (q.q - c.cq)) AS adist
         | FROM qq_s$s q JOIN c${iters}_s$s c ON c.dim = q.dim
         | GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val codesU = (0 until m).map(s =>
      s"SELECT vec_id, $s AS subspace, cluster AS code FROM a${iters + 1}_s$s")
      .mkString(" UNION ALL ")
    val lutU = (0 until m).map(s =>
      s"SELECT query_id, $s AS subspace, cluster, adist FROM lut_s$s")
      .mkString(" UNION ALL ")
    s"""WITH $parts,
       |$luts,
       |codes AS ($codesU),
       |lut AS ($lutU),
       |dist AS (SELECT l.query_id, a.vec_id AS neighbor_id,
       |  SUM(l.adist) AS adc_d2
       | FROM codes a JOIN lut l
       |   ON l.subspace = a.subspace AND l.cluster = a.code
       | WHERE a.vec_id <> l.query_id GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, CAST(adc_d2 AS BIGINT) AS adc_d2,
       | CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY adc_d2, neighbor_id) AS INT) AS rank
       |FROM dist QUALIFY rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  private def kmeansSql(k: Int, iters: Int): String =
    s"""WITH ${kmeansCtes(k, iters)}
       |SELECT vec_id, cluster, d2 FROM a${iters + 1} ORDER BY vec_id""".stripMargin

  /** DuckDB oracle CTEs for [[TextOps.learnBpeMerges]]: w0 = the
    * char-split corpus word histogram, then per round r a pair count
    * (pR, all adjacent positions, frequency-weighted), the argmax
    * pair (bR, tie-break c DESC, a, b), and the merged state (wR —
    * greedy left-to-right via list_reduce over singleton-wrapped
    * symbols, the same fold the Spark side runs). */
  private def bpeCtes(rounds: Int): String = {
    val w0 =
      """w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  string_split(w, '') AS s FROM (
        |  SELECT unnest(string_split_regex(trim(regexp_replace(
        |    regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |    '\s+', ' ', 'g')), '\s+')) AS w FROM documents)
        | WHERE w <> '' GROUP BY w)""".stripMargin
    val rs = (1 to rounds).map { r =>
      s"""p$r AS (SELECT p['a'] AS a, p['b'] AS b,
         |  CAST(SUM(cnt) AS BIGINT) AS c
         | FROM (SELECT cnt, UNNEST([{'a': s[i], 'b': s[i+1]}
         |   for i in generate_series(1, len(s)-1)]) AS p
         |  FROM w${r - 1} WHERE len(s) > 1)
         | GROUP BY 1, 2),
         |b$r AS (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1),
         |w$r AS (SELECT w, cnt, list_reduce([[x] for x in s],
         |  (acc, x) -> CASE WHEN acc[-1] = b$r.a AND x[1] = b$r.b
         |    THEN list_append(acc[1:-2], b$r.a || b$r.b)
         |    ELSE list_concat(acc, x) END) AS s
         | FROM w${r - 1}, b$r)""".stripMargin
    }.mkString(",\n")
    s"$w0,\n$rs"
  }

  /** DuckDB oracle for [[GraphOps.pageRankFixedPoint]] on the layer
    * subgraph: one chained CTE per iteration (no recursion needed —
    * the iteration count is a compile-time constant). `//` is DuckDB's
    * integral divide (floor; identical to Spark's `DIV` for the
    * always-positive ranks); SUM(BIGINT) is HUGEINT, i.e. exact like
    * the Spark side's DECIMAL(38,0) sum. */
  /** `seedSql`: optional boolean SQL over (layer, node_id) marking the
    * personalization seeds; None = uniform (everyone a seed). */
  private def pagerankFixedSql(layers: Seq[String], iters: Int,
                               seedSql: Option[String] = None): String = {
    val inList = layers.map(l => s"'$l'").mkString(", ")
    val seedExpr = seedSql
      .map(c => s"CASE WHEN $c THEN 1 ELSE 0 END").getOrElse("1")
    val iterCtes = (0 until iters).map { k =>
      s"""r${k + 1} AS (
         | SELECT v.layer, v.node_id,
         |  v.is_seed * 150000000
         |   + COALESCE(CAST((85 * SUM(c.contrib)) // 100 AS BIGINT), 0) AS r
         | FROM sg_v v LEFT JOIN (
         |  SELECT e.target_layer AS tl, e.target_id AS ti, r.r // o.odeg AS contrib
         |  FROM sg_e e
         |  JOIN r$k r ON r.layer = e.source_layer AND r.node_id = e.source_id
         |  JOIN outdeg o ON o.source_layer = e.source_layer AND o.source_id = e.source_id
         | ) c ON c.tl = v.layer AND c.ti = v.node_id
         | GROUP BY v.layer, v.node_id, v.is_seed)""".stripMargin
    }.mkString(",\n")
    s"""$W, sg_v AS (SELECT layer, node_id, CAST($seedExpr AS BIGINT) AS is_seed
       |  FROM vertices WHERE layer IN ($inList)),
       |sg_e AS (SELECT source_layer, source_id, target_layer, target_id FROM edges
       |  WHERE source_layer IN ($inList) AND target_layer IN ($inList)),
       |outdeg AS (SELECT source_layer, source_id, COUNT(*) AS odeg FROM sg_e
       |  GROUP BY source_layer, source_id),
       |r0 AS (SELECT layer, node_id, CAST(is_seed * 1000000000 AS BIGINT) AS r
       |  FROM sg_v),
       |$iterCtes
       |SELECT layer, node_id, r AS rank_fp FROM r$iters ORDER BY layer, node_id""".stripMargin
  }

  /** DuckDB oracle for [[GraphOps.katzFixedPoint]] on the layer
    * subgraph: one chained CTE per round (iteration count is a
    * compile-time constant); `//` floors like Spark's `DIV` on the
    * always-nonnegative scores, and SUM(BIGINT) is HUGEINT — exact
    * like the Spark side's DECIMAL(38,0) gather. */
  private def katzFixedSql(layers: Seq[String], iters: Int,
                           alphaDen: Long, betaMicro: Long): String = {
    val inList = layers.map(l => s"'$l'").mkString(", ")
    val iterCtes = (0 until iters).map { k =>
      s"""k${k + 1} AS (
         | SELECT v.layer, v.node_id,
         |  $betaMicro + COALESCE(CAST(SUM(c.x) // $alphaDen AS BIGINT), 0) AS x
         | FROM sg_v v LEFT JOIN (
         |  SELECT e.target_layer AS tl, e.target_id AS ti, kk.x
         |  FROM sg_e e
         |  JOIN k$k kk ON kk.layer = e.source_layer AND kk.node_id = e.source_id
         | ) c ON c.tl = v.layer AND c.ti = v.node_id
         | GROUP BY v.layer, v.node_id)""".stripMargin
    }.mkString(",\n")
    s"""$W, sg_v AS (SELECT layer, node_id FROM vertices WHERE layer IN ($inList)),
       |sg_e AS (SELECT source_layer, source_id, target_layer, target_id FROM edges
       |  WHERE source_layer IN ($inList) AND target_layer IN ($inList)),
       |k0 AS (SELECT layer, node_id, CAST($betaMicro AS BIGINT) AS x FROM sg_v),
       |$iterCtes
       |SELECT layer, node_id, x AS katz_fp FROM k$iters
       |ORDER BY layer, node_id""".stripMargin
  }

  /** DuckDB oracle for [[GraphOps.pageRankWeightedFixedPoint]]:
    * [[pagerankFixedSql]] with the contribution split proportional
    * to the edge's centi-unit weight; the r·w product rides HUGEINT
    * (DuckDB's BIGINT·BIGINT overflow-checks; the Spark side routes
    * the same product through DECIMAL(38,0)). */
  private def weightedPagerankSql(layers: Seq[String],
                                  iters: Int): String = {
    val inList = layers.map(l => s"'$l'").mkString(", ")
    val iterCtes = (0 until iters).map { k =>
      s"""r${k + 1} AS (
         | SELECT v.layer, v.node_id,
         |  150000000 + COALESCE(CAST((85 * SUM(c.contrib)) // 100 AS BIGINT), 0) AS r
         | FROM sg_v v LEFT JOIN (
         |  SELECT e.target_layer AS tl, e.target_id AS ti,
         |   (CAST(r.r AS HUGEINT) * e.w) // o.wdeg AS contrib
         |  FROM sg_e e
         |  JOIN r$k r ON r.layer = e.source_layer AND r.node_id = e.source_id
         |  JOIN wdeg o ON o.source_layer = e.source_layer AND o.source_id = e.source_id
         | ) c ON c.tl = v.layer AND c.ti = v.node_id
         | GROUP BY v.layer, v.node_id)""".stripMargin
    }.mkString(",\n")
    s"""$W, sg_v AS (SELECT layer, node_id FROM vertices WHERE layer IN ($inList)),
       |sg_e AS (SELECT source_layer, source_id, target_layer, target_id,
       |  CAST(floor(COALESCE(qty, 1.0) * 100 + 0.5) AS BIGINT) AS w FROM edges
       |  WHERE source_layer IN ($inList) AND target_layer IN ($inList)
       |    AND CAST(floor(COALESCE(qty, 1.0) * 100 + 0.5) AS BIGINT) > 0),
       |wdeg AS (SELECT source_layer, source_id, SUM(w) AS wdeg FROM sg_e
       |  GROUP BY source_layer, source_id),
       |r0 AS (SELECT layer, node_id, CAST(1000000000 AS BIGINT) AS r
       |  FROM sg_v),
       |$iterCtes
       |SELECT layer, node_id, r AS rank_fp FROM r$iters
       |ORDER BY layer, node_id""".stripMargin
  }

  /** Shared quantized-embedding CTE for the exact-L2 oracles below:
    * every (vec_id, dim, q) in micro-units — the DuckDB mirror of
    * `Clustering.quantize`. */
  private val QaCte =
    """qa AS MATERIALIZED (SELECT vec_id, dim,
      |  CAST(FLOOR(CAST(embedding[dim + 1] AS DOUBLE) * 1000000) AS BIGINT) AS q
      | FROM (SELECT vec_id, embedding, UNNEST(range(0, 64)) AS dim
      |   FROM embeddings))""".stripMargin

  /** Full-dimension exact-L2 ground-truth CTEs (`exd`/`ex`) over the
    * `vec_id < 5` query slice — shared by the recall-card oracles. */
  private def exactGroundCtes(topK: Int): String =
    s"""exd AS MATERIALIZED (SELECT qq.vec_id AS query_id,
       |  cc.vec_id AS neighbor_id, SUM((qq.q - cc.q) * (qq.q - cc.q)) AS d2
       | FROM qa qq JOIN qa cc ON cc.dim = qq.dim AND cc.vec_id <> qq.vec_id
       | WHERE qq.vec_id < 5 GROUP BY 1, 2),
       |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM exd
       | QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY d2, neighbor_id) <= $topK)""".stripMargin

  /** DuckDB oracle for [[graft.ext.Clustering.matryoshkaRecallCard]]:
    * per swept prefix an exact top-k restricted to `dim < d`, then
    * the shared recall rollup against the full-dim ground truth. */
  private def matryoshkaRecallSql(prefixes: Seq[Int], topK: Int): String = {
    val per = prefixes.map { d =>
      s"""apx_$d AS (SELECT query_id, neighbor_id FROM (
         |  SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
         |   SUM((qq.q - cc.q) * (qq.q - cc.q)) AS d2
         |  FROM qa qq JOIN qa cc ON cc.dim = qq.dim AND cc.vec_id <> qq.vec_id
         |  WHERE qq.vec_id < 5 AND qq.dim < $d GROUP BY 1, 2)
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY d2, neighbor_id) <= $topK),
         |rec_$d AS (SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS k_exact,
         |  CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hit
         | FROM ex e LEFT JOIN apx_$d t ON t.query_id = e.query_id
         |   AND t.neighbor_id = e.neighbor_id
         | GROUP BY 1),
         |card_$d AS (SELECT $d AS prefix_dims,
         |  CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(1000000 * n_hit // k_exact) AS BIGINT) AS sum_recall_ppm
         | FROM rec_$d)""".stripMargin
    }.mkString(",\n")
    val cardU = prefixes.map(d => s"SELECT * FROM card_$d")
      .mkString(" UNION ALL ")
    s"""WITH $QaCte,
       |${exactGroundCtes(topK)},
       |$per
       |SELECT prefix_dims, n_queries, sum_recall_ppm,
       | sum_recall_ppm // n_queries AS mean_recall_ppm
       |FROM ($cardU) ORDER BY prefix_dims""".stripMargin
  }

  /** DuckDB oracle for
    * [[graft.ext.Clustering.binaryRerankRecallCard]]: re-derives the
    * per-dim sign thresholds, the packed (code_lo, code_hi) words,
    * brute Hamming ranks, and per swept rerank depth the exact-L2
    * rerank of the Hamming survivors + the shared recall rollup. */
  private def binaryRerankRecallSql(rerankRs: Seq[Int], topK: Int): String = {
    val per = rerankRs.map { r =>
      s"""rer_$r AS (SELECT h.query_id, h.neighbor_id,
         |  SUM((qq.q - cc.q) * (qq.q - cc.q)) AS d2
         | FROM hr h
         | JOIN qa qq ON qq.vec_id = h.query_id
         | JOIN qa cc ON cc.vec_id = h.neighbor_id AND cc.dim = qq.dim
         | WHERE h.hrank <= $r GROUP BY 1, 2),
         |top_$r AS (SELECT query_id, neighbor_id FROM rer_$r
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY d2, neighbor_id) <= $topK),
         |rec_$r AS (SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS k_exact,
         |  CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hit
         | FROM ex e LEFT JOIN top_$r t ON t.query_id = e.query_id
         |   AND t.neighbor_id = e.neighbor_id
         | GROUP BY 1),
         |card_$r AS (SELECT $r AS rerank_r,
         |  CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(1000000 * n_hit // k_exact) AS BIGINT) AS sum_recall_ppm
         | FROM rec_$r)""".stripMargin
    }.mkString(",\n")
    val cardU = rerankRs.map(r => s"SELECT * FROM card_$r")
      .mkString(" UNION ALL ")
    s"""WITH $QaCte,
       |th AS (SELECT dim, SUM(q) AS sq, COUNT(*) AS n FROM qa GROUP BY dim),
       |codes AS MATERIALIZED (SELECT vec_id,
       |  COALESCE(SUM(CASE WHEN qa.q * th.n > th.sq AND dim < 32
       |    THEN (CAST(1 AS BIGINT) << dim) ELSE 0 END), 0) AS code_lo,
       |  COALESCE(SUM(CASE WHEN qa.q * th.n > th.sq AND dim >= 32
       |    THEN (CAST(1 AS BIGINT) << (dim - 32)) ELSE 0 END), 0) AS code_hi
       | FROM qa JOIN th USING (dim) GROUP BY vec_id),
       |ham AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  CAST(bit_count(xor(q.code_lo, c.code_lo))
       |    + bit_count(xor(q.code_hi, c.code_hi)) AS BIGINT) AS hamming
       | FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
       | WHERE q.vec_id < 5),
       |hr AS MATERIALIZED (SELECT query_id, neighbor_id, hamming,
       |  ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY hamming, neighbor_id) AS hrank FROM ham),
       |${exactGroundCtes(topK)},
       |$per
       |SELECT rerank_r, n_queries, sum_recall_ppm,
       | sum_recall_ppm // n_queries AS mean_recall_ppm
       |FROM ($cardU) ORDER BY rerank_r""".stripMargin
  }

  /** DuckDB oracle for [[graft.ext.Clustering.probeBinaryIndex]]:
    * the same threshold/packing/Hamming chain as the recall-card
    * oracle, emitting the exact-reranked serving rows themselves.
    * `thCond` restricts the threshold calibration to the base slice
    * (the [[graft.ext.Clustering.appendBinaryIndex]] frozen-model
    * contract: appended vectors encode against the BASE cuts). */
  /** DuckDB oracle for BM25 search over a rebuild of the corpus slice
    * `docCond` keeps — the delete/compaction contract (x156/x158):
    * postings, df, doc lengths, corpus stats and the exact integer
    * formula all re-derive from the REMAINING documents only. */
  private def bm25RebuildSql(docCond: String, k: Int): String =
    s"""WITH tok AS (SELECT doc_id,
       |  unnest(string_split_regex(trim(text), '\\s+')) AS term
       |  FROM documents WHERE $docCond),
       | tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
       | p AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok2 GROUP BY 1, 2),
       | d AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |  FROM p GROUP BY 1),
       | dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
       |  FROM p GROUP BY 1),
       | st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |   CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
       | av AS (SELECT n_docs,
       |   GREATEST(total_len // GREATEST(n_docs, 1), 1) AS avgdl
       |  FROM st),
       | sc AS (SELECT p.doc_id,
       |   CAST(SUM(
       |     (CAST((av.n_docs - d.df) * 1000000 // d.df AS HUGEINT)
       |       * (22 * p.tf * av.avgdl))
       |     // (10 * av.avgdl * p.tf + 3 * av.avgdl + 9 * dl.dl))
       |    AS BIGINT) AS score_micro,
       |   count(*) AS n_terms
       |  FROM p JOIN d USING (term) JOIN dl USING (doc_id), av
       |  WHERE term IN ('data', 'hash', 'batch')
       |  GROUP BY 1)
       |SELECT doc_id, score_micro, n_terms FROM sc
       |ORDER BY score_micro DESC, doc_id LIMIT $k""".stripMargin

  private def binaryProbeSql(rerankR: Int, topK: Int,
                             thCond: String = "TRUE",
                             corpusCond: String = "TRUE"): String =
    s"""WITH $QaCte,
       |th AS (SELECT dim, SUM(q) AS sq, COUNT(*) AS n FROM qa
       | WHERE $thCond GROUP BY dim),
       |codes AS MATERIALIZED (SELECT vec_id,
       |  COALESCE(SUM(CASE WHEN qa.q * th.n > th.sq AND dim < 32
       |    THEN (CAST(1 AS BIGINT) << dim) ELSE 0 END), 0) AS code_lo,
       |  COALESCE(SUM(CASE WHEN qa.q * th.n > th.sq AND dim >= 32
       |    THEN (CAST(1 AS BIGINT) << (dim - 32)) ELSE 0 END), 0) AS code_hi
       | FROM qa JOIN th USING (dim) GROUP BY vec_id),
       |ham AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  CAST(bit_count(xor(q.code_lo, c.code_lo))
       |    + bit_count(xor(q.code_hi, c.code_hi)) AS BIGINT) AS hamming
       | FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
       | WHERE q.vec_id < 5 AND ($corpusCond)),
       |hr AS (SELECT query_id, neighbor_id FROM ham
       | QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY hamming, neighbor_id) <= $rerankR),
       |rer AS (SELECT h.query_id, h.neighbor_id,
       |  CAST(SUM((qq.q - cc.q) * (qq.q - cc.q)) AS BIGINT) AS d2
       | FROM hr h
       | JOIN qa qq ON qq.vec_id = h.query_id
       | JOIN qa cc ON cc.vec_id = h.neighbor_id AND cc.dim = qq.dim
       | GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, d2,
       | CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY d2, neighbor_id) AS INT) AS rank
       |FROM rer QUALIFY rank <= $topK ORDER BY query_id, rank""".stripMargin

  /** DuckDB oracle for [[graft.ext.Clustering.kcenterSeeds]]: seed 1
    * = min id, then one unrolled CTE round per later seed — min-d2
    * to the selected set, (min_d2 DESC, vec_id ASC) argmax. */
  private def kcenterSql(k: Int): String = {
    val rounds = (2 to k).map { i =>
      s"""selq_${i - 1} AS (SELECT s.sel_id, q2.dim, q2.q AS sq
         | FROM selset_${i - 1} s JOIN qa q2 ON q2.vec_id = s.sel_id),
         |pick_$i AS (SELECT vec_id, min_d2 FROM (
         |  SELECT vec_id, MIN(d2) AS min_d2 FROM (
         |   SELECT q.vec_id, s.sel_id,
         |    SUM((q.q - s.sq) * (q.q - s.sq)) AS d2
         |   FROM qa q JOIN selq_${i - 1} s ON s.dim = q.dim
         |   WHERE q.vec_id NOT IN (SELECT sel_id FROM selset_${i - 1})
         |   GROUP BY 1, 2) GROUP BY 1)
         | QUALIFY ROW_NUMBER() OVER (ORDER BY min_d2 DESC, vec_id) = 1),
         |selset_$i AS (SELECT sel_id FROM selset_${i - 1}
         | UNION ALL SELECT vec_id FROM pick_$i)""".stripMargin
    }.mkString(",\n")
    val picks = (2 to k).map(i =>
      s"""SELECT vec_id, CAST($i AS INT) AS seed_rank,
         | CAST(min_d2 AS BIGINT) AS min_d2 FROM pick_$i""".stripMargin)
      .mkString(" UNION ALL ")
    s"""WITH $QaCte,
       |selset_1 AS (SELECT MIN(vec_id) AS sel_id FROM qa),
       |$rounds
       |SELECT vec_id, seed_rank, min_d2 FROM (
       | SELECT sel_id AS vec_id, CAST(1 AS INT) AS seed_rank,
       |  CAST(0 AS BIGINT) AS min_d2 FROM selset_1
       | UNION ALL $picks)
       |ORDER BY seed_rank""".stripMargin
  }

  /** DuckDB oracle for [[graft.ext.Similarity.hardNegatives]]: the
    * exact pair scores with BOTH endpoint labels joined, the
    * label-inequality cut BEFORE the top-k (so near ties survive the
    * cut), then the (d2, neighbor_id) rank. */
  private def hardNegativesSql(k: Int): String =
    s"""WITH $QaCte,
       |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label
       | FROM embeddings),
       |exd AS (SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
       |  CAST(SUM((qq.q - cc.q) * (qq.q - cc.q)) AS BIGINT) AS d2
       | FROM qa qq JOIN qa cc ON cc.dim = qq.dim AND cc.vec_id <> qq.vec_id
       | WHERE qq.vec_id < 5 GROUP BY 1, 2),
       |neg AS (SELECT e.query_id, e.neighbor_id,
       |  nl.label AS neighbor_label, e.d2
       | FROM exd e
       | JOIN lab nl ON nl.vec_id = e.neighbor_id
       | JOIN lab ql ON ql.vec_id = e.query_id
       | WHERE nl.label <> ql.label)
       |SELECT query_id, neighbor_id, neighbor_label, d2,
       | CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY d2, neighbor_id) AS INT) AS rank
       |FROM neg QUALIFY rank <= $k ORDER BY query_id, rank""".stripMargin

  /** DuckDB oracle for [[graft.ext.Similarity.mmrRerank]]: the exact
    * top-`candidateN` candidate lists, the pairwise candidate d2
    * table, then `k` unrolled greedy steps — step 1 the pure argmin
    * d2, step i the argmax of (1000−λ)·min_sel_d2 − λ·d2 over the
    * not-yet-selected (score DESC, neighbor_id ASC) — exactly the
    * Spark kernel's integer arithmetic. */
  /** The unrolled greedy-MMR CTE chain, shared by the exact-L2
    * oracle ([[mmrSql]]) and the composed hybrid-retrieval oracle
    * (x155): expects upstream CTEs `cand`(query_id, neighbor_id, d2)
    * and `pd`(query_id, c1, c2, pd2). Emits CTEs s1..s$k (the picks)
    * plus the bookkeeping sel/r chains. */
  private def mmrGreedyCtes(k: Int, lambdaPpt: Long): String = {
    require(k >= 2, "mmrGreedyCtes: unrolled oracle expects k >= 2")
    val steps = (2 to k).map { i =>
      s"""r$i AS (SELECT c.query_id, c.neighbor_id, c.d2,
         |  ((1000 - $lambdaPpt) * m.min_sel_d2 - $lambdaPpt * c.d2) AS score
         | FROM cand c
         | JOIN (SELECT p.query_id, p.c1 AS neighbor_id,
         |    MIN(p.pd2) AS min_sel_d2
         |   FROM pd p JOIN sel${i - 1} s ON s.query_id = p.query_id
         |     AND s.neighbor_id = p.c2
         |   GROUP BY 1, 2) m ON m.query_id = c.query_id
         |   AND m.neighbor_id = c.neighbor_id
         | WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s
         |   WHERE s.query_id = c.query_id
         |     AND s.neighbor_id = c.neighbor_id)),
         |s$i AS (SELECT query_id, neighbor_id, d2, $i AS mmr_rank FROM r$i
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY score DESC, neighbor_id) = 1),
         |sel$i AS (SELECT query_id, neighbor_id FROM sel${i - 1}
         | UNION ALL SELECT query_id, neighbor_id FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""s1 AS (SELECT query_id, neighbor_id, d2, 1 AS mmr_rank FROM cand
       | QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY d2, neighbor_id) = 1),
       |sel1 AS (SELECT query_id, neighbor_id FROM s1),
       |$steps""".stripMargin
  }

  private def mmrPicksUnion(k: Int): String =
    (1 to k).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")

  private def mmrSql(k: Int, candidateN: Int, lambdaPpt: Long): String = {
    s"""WITH $QaCte,
       |exd AS (SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
       |  CAST(SUM((qq.q - cc.q) * (qq.q - cc.q)) AS BIGINT) AS d2
       | FROM qa qq JOIN qa cc ON cc.dim = qq.dim AND cc.vec_id <> qq.vec_id
       | WHERE qq.vec_id < 5 GROUP BY 1, 2),
       |cand AS MATERIALIZED (SELECT query_id, neighbor_id, d2 FROM exd
       | QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY d2, neighbor_id) <= $candidateN),
       |pd AS MATERIALIZED (SELECT c1.query_id, c1.neighbor_id AS c1,
       |  c2.neighbor_id AS c2, SUM((a1.q - a2.q) * (a1.q - a2.q)) AS pd2
       | FROM cand c1
       | JOIN cand c2 ON c2.query_id = c1.query_id
       |   AND c2.neighbor_id <> c1.neighbor_id
       | JOIN qa a1 ON a1.vec_id = c1.neighbor_id
       | JOIN qa a2 ON a2.vec_id = c2.neighbor_id AND a2.dim = a1.dim
       | GROUP BY 1, 2, 3),
       |${mmrGreedyCtes(k, lambdaPpt)}
       |SELECT query_id, neighbor_id, d2, mmr_rank FROM (${mmrPicksUnion(k)})
       |ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** DuckDB oracle for the x155 composed hybrid-retrieval recipe:
    * repetition gates (x149's hashed-shingle CTEs) → BM25 over the
    * GATED corpus (x146's integer formula, stats re-derived from the
    * gated slice) → top-`candN` candidate list (score DESC, doc_id)
    * → embedding-MMR greedy over the candidates (d2 := −score_micro,
    * pairwise distances from the embeddings table). */
  private def hybridDiversifiedSql(k: Int, candN: Int,
                                   lambdaPpt: Long): String =
    s"""WITH tok AS (SELECT doc_id,
       |  string_split_regex(trim(text), '\\s+') AS t FROM documents),
       | n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM tok),
       | g2 AS (SELECT doc_id, t[i] || ' ' || t[i + 1] AS sh
       |  FROM (SELECT doc_id, t, UNNEST(range(1, len(t))) AS i FROM tok)),
       | m2 AS (SELECT doc_id, MAX(c) AS m FROM (
       |   SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15))
       |     AS BIGINT) AS h, COUNT(*) AS c FROM g2 GROUP BY 1, 2)
       |  GROUP BY 1),
       | g3 AS (SELECT doc_id,
       |   t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS sh
       |  FROM (SELECT doc_id, t, UNNEST(range(1, len(t) - 1)) AS i
       |    FROM tok)),
       | m3 AS (SELECT doc_id, MAX(c) AS m FROM (
       |   SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15))
       |     AS BIGINT) AS h, COUNT(*) AS c FROM g3 GROUP BY 1, 2)
       |  GROUP BY 1),
       | gated AS (SELECT n.doc_id FROM n
       |  LEFT JOIN m2 USING (doc_id) LEFT JOIN m3 USING (doc_id)
       |  WHERE LEAST(1000000,
       |    1000000 * (2 * COALESCE(m2.m, 0)) // n.n_tokens) <= 200000
       |   AND LEAST(1000000,
       |    1000000 * (3 * COALESCE(m3.m, 0)) // n.n_tokens) <= 180000
       |   AND n.doc_id IN (SELECT vec_id FROM embeddings)),
       | tokg AS (SELECT tok.doc_id,
       |   unnest(string_split_regex(trim(text), '\\s+')) AS term
       |  FROM documents tok JOIN gated USING (doc_id)),
       | p AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |  FROM tokg WHERE term <> '' GROUP BY 1, 2),
       | d AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |  FROM p GROUP BY 1),
       | dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
       |  FROM p GROUP BY 1),
       | st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |   CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
       | av AS (SELECT n_docs,
       |   GREATEST(total_len // GREATEST(n_docs, 1), 1) AS avgdl
       |  FROM st),
       | bmsc AS (SELECT p.doc_id,
       |   CAST(SUM(
       |     (CAST((av.n_docs - d.df) * 1000000 // d.df AS HUGEINT)
       |       * (22 * p.tf * av.avgdl))
       |     // (10 * av.avgdl * p.tf + 3 * av.avgdl + 9 * dl.dl))
       |    AS BIGINT) AS score_micro
       |  FROM p JOIN d USING (term) JOIN dl USING (doc_id), av
       |  WHERE term IN ('data', 'hash', 'batch')
       |  GROUP BY 1),
       | cand AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS query_id,
       |   doc_id AS neighbor_id, -score_micro AS d2
       |  FROM bmsc
       |  QUALIFY ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)
       |    <= $candN),
       | qa AS (SELECT vec_id, dim,
       |   CAST(FLOOR(CAST(embedding[dim + 1] AS DOUBLE) * 1000000)
       |     AS BIGINT) AS q
       |  FROM (SELECT vec_id, embedding, UNNEST(range(0, 64)) AS dim
       |    FROM embeddings)),
       | pd AS MATERIALIZED (SELECT c1.query_id, c1.neighbor_id AS c1,
       |   c2.neighbor_id AS c2, SUM((a1.q - a2.q) * (a1.q - a2.q)) AS pd2
       |  FROM cand c1
       |  JOIN cand c2 ON c2.query_id = c1.query_id
       |    AND c2.neighbor_id <> c1.neighbor_id
       |  JOIN qa a1 ON a1.vec_id = c1.neighbor_id
       |  JOIN qa a2 ON a2.vec_id = c2.neighbor_id AND a2.dim = a1.dim
       |  GROUP BY 1, 2, 3),
       |${mmrGreedyCtes(k, lambdaPpt)}
       |SELECT neighbor_id AS doc_id, -d2 AS bm25_micro, mmr_rank
       |FROM (${mmrPicksUnion(k)}) ORDER BY mmr_rank""".stripMargin

  /** DuckDB oracle for [[GraphOps.hitsFixedPoint]] on the layer
    * subgraph: per round a gather CTE for each direction (HUGEINT
    * sums — exact like the Spark side's DECIMAL(38,0)) and a
    * max-normalized rescale via a scalar subquery; `//` floors like
    * Spark's DIV on the always-nonnegative scores. */
  private def hitsFixedSql(layers: Seq[String], iters: Int): String = {
    val inList = layers.map(l => s"'$l'").mkString(", ")
    val iterCtes = (1 to iters).map { k =>
      s"""ar$k AS MATERIALIZED (
         | SELECT v.layer, v.node_id, COALESCE(SUM(c.x), 0) AS s
         | FROM sg_v v LEFT JOIN (
         |  SELECT e.target_layer AS tl, e.target_id AS ti, h.x
         |  FROM sg_e e JOIN h${k - 1} h
         |    ON h.layer = e.source_layer AND h.node_id = e.source_id) c
         |  ON c.tl = v.layer AND c.ti = v.node_id
         | GROUP BY v.layer, v.node_id),
         |a$k AS MATERIALIZED (SELECT layer, node_id,
         |  CASE WHEN (SELECT MAX(s) FROM ar$k) > 0
         |   THEN CAST(s * 1000000 // (SELECT MAX(s) FROM ar$k) AS BIGINT)
         |   ELSE 0 END AS x
         | FROM ar$k),
         |hr$k AS MATERIALIZED (
         | SELECT v.layer, v.node_id, COALESCE(SUM(c.x), 0) AS s
         | FROM sg_v v LEFT JOIN (
         |  SELECT e.source_layer AS sl, e.source_id AS si, a.x
         |  FROM sg_e e JOIN a$k a
         |    ON a.layer = e.target_layer AND a.node_id = e.target_id) c
         |  ON c.sl = v.layer AND c.si = v.node_id
         | GROUP BY v.layer, v.node_id),
         |h$k AS MATERIALIZED (SELECT layer, node_id,
         |  CASE WHEN (SELECT MAX(s) FROM hr$k) > 0
         |   THEN CAST(s * 1000000 // (SELECT MAX(s) FROM hr$k) AS BIGINT)
         |   ELSE 0 END AS x
         | FROM hr$k)""".stripMargin
    }.mkString(",\n")
    s"""$W, sg_v AS (SELECT layer, node_id FROM vertices
       |  WHERE layer IN ($inList)),
       |sg_e AS (SELECT source_layer, source_id, target_layer, target_id
       |  FROM edges
       |  WHERE source_layer IN ($inList) AND target_layer IN ($inList)),
       |h0 AS (SELECT layer, node_id, CAST(1000000 AS BIGINT) AS x FROM sg_v),
       |$iterCtes
       |SELECT v.layer, v.node_id, a.x AS auth_fp, h.x AS hub_fp
       |FROM sg_v v
       |JOIN a$iters a ON a.layer = v.layer AND a.node_id = v.node_id
       |JOIN h$iters h ON h.layer = v.layer AND h.node_id = v.node_id
       |ORDER BY v.layer, v.node_id""".stripMargin
  }

  /** DuckDB prelude for the co-purchase projection: parts sharing >= 2
    * orders, canonical a < b orientation (mirrors
    * [[LinkAnalysis.cooccurrenceEdges]] on (l_orderkey, l_partkey)). */
  private val copurchaseSql =
    """gi AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
      |pe AS MATERIALIZED (SELECT a.i AS a, b.i AS b, COUNT(*) AS w
      | FROM gi a JOIN gi b ON a.g = b.g AND a.i < b.i
      | GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin

  /** DuckDB oracle for [[LinkAnalysis.kcore]]: `rounds` chained peel
    * CTEs over the co-purchase projection (fixed-length like the
    * pagerank/kmeans oracles — the Spark side runs the same bounded
    * rounds; LinkAnalysisSpec pins that the bound is past fixpoint). */
  private def kcoreSql(k: Int, rounds: Int): String = {
    // MATERIALIZED is load-bearing: each round references the previous
    // edge CTE three times, so inlining re-evaluates 3^rounds scans —
    // enough reopened parquet handles to trip the fd limit.
    val ctes = (1 to rounds).map { r =>
      s"""k$r AS MATERIALIZED (
         | SELECT node FROM (SELECT node, COUNT(*) AS d FROM (
         |  SELECT a AS node FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
         | GROUP BY node) WHERE d >= $k),
         |e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e
         | JOIN k$r ka ON ka.node = e.a JOIN k$r kb ON kb.node = e.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH $copurchaseSql,
       |e0 AS MATERIALIZED (SELECT a, b FROM pe),
       |$ctes
       |SELECT node, COUNT(*) AS degree FROM (
       | SELECT a AS node FROM e$rounds UNION ALL SELECT b AS node FROM e$rounds)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  /** DuckDB oracle for [[LinkAnalysis.corenessHIndex]]: `rounds`
    * chained h-index sweeps over the co-purchase projection — per
    * round, rank each vertex's neighbor values descending and take
    * max(least(value, rank)) (tie order inside equal values cannot
    * change that statistic), then clamp by the previous value. Fixed-
    * length like [[kcoreSql]]; LinkAnalysisSpec pins brute-peel
    * equality at the fixpoint on fixtures, and the corpus bound was
    * measured to the sf0.01 fixpoint (g64 comment). */
  private def corenessSql(rounds: Int): String = {
    val ctes = (1 to rounds).map { r =>
      s"""h$r AS MATERIALIZED (SELECT u, MAX(LEAST(nval, rn)) AS h FROM (
         |  SELECT s.u, v.val AS nval,
         |   ROW_NUMBER() OVER (PARTITION BY s.u ORDER BY v.val DESC) AS rn
         |  FROM sym s JOIN v${r - 1} v ON v.id = s.v) GROUP BY u),
         |v$r AS MATERIALIZED (SELECT p.id,
         | LEAST(p.val, COALESCE(h$r.h, 0)) AS val
         | FROM v${r - 1} p LEFT JOIN h$r ON h$r.u = p.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $copurchaseSql,
       |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM pe
       | UNION ALL SELECT b, a FROM pe),
       |v0 AS MATERIALIZED (SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS val
       | FROM sym GROUP BY u),
       |$ctes
       |SELECT id, CAST(val AS BIGINT) AS coreness FROM v$rounds
       |ORDER BY id""".stripMargin
  }

  /** DuckDB oracle for [[Traversals.dagLevels]] over the whole star
    * graph (a DAG — singleton SCCs, so no condensation step): `rounds`
    * unrolled max-plus sweeps; the sweep is monotone, so a bound ≥ the
    * longest path length (3 here: order→customer→nation→region) is the
    * fixpoint. */
  private def dagLevelsSql(rounds: Int): String = {
    // mirror Traversals.dagLevels' self-loop drop (src =!= dst) in the
    // oracle's edge scan: without it a self-loop in a future fixture
    // grows the oracle's level every round while the Spark side
    // converges (r9 ADVICE). Dedup is implicit under MAX.
    val ctes = (1 to rounds).map { r =>
      s"""u$r AS MATERIALIZED (SELECT e.target_layer AS layer,
         |  e.target_id AS node_id, MAX(p.level + 1) AS nl
         | FROM edges e JOIN v${r - 1} p ON p.layer = e.source_layer
         |  AND p.node_id = e.source_id
         | WHERE NOT (e.source_layer = e.target_layer
         |  AND e.source_id = e.target_id) GROUP BY 1, 2),
         |v$r AS MATERIALIZED (SELECT v.layer, v.node_id,
         | GREATEST(v.level, COALESCE(u.nl, 0)) AS level
         | FROM v${r - 1} v LEFT JOIN u$r u
         |  ON u.layer = v.layer AND u.node_id = v.node_id)""".stripMargin
    }.mkString(",\n")
    s"""$W,
       |v0 AS MATERIALIZED (SELECT layer, node_id,
       | CAST(0 AS BIGINT) AS level FROM vertices),
       |$ctes
       |SELECT layer, node_id, CAST(level AS BIGINT) AS level
       |FROM v$rounds ORDER BY layer, node_id""".stripMargin
  }

  /** DuckDB oracle for [[Clustering.dominantDirectionCard]]: the exact
    * integer Gram matrix of n-scaled centered quantized embeddings,
    * then `rounds` unrolled power-iteration CTEs (HUGEINT matvec +
    * truncating `//` renormalization to micro-units — the same
    * arithmetic the Spark side runs in BigInt), then the raw Σ y·v
    * projection per vector. */
  private def dominantDirSql(rounds: Int): String = {
    val ctes = (1 to rounds).map { r =>
      s"""w$r AS MATERIALIZED (SELECT g.i AS dim, SUM(g.g * v.v) AS w
         | FROM g JOIN v${r - 1} v ON v.dim = g.j GROUP BY 1),
         |m$r AS (SELECT MAX(ABS(w)) AS m FROM w$r),
         |v$r AS (SELECT dim, CASE WHEN m.m = 0
         |  THEN CAST(1000 AS HUGEINT)
         |  ELSE w * 1000 // m.m END AS v FROM w$r, m$r m)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (SELECT vec_id,
       |  UNNEST(range(len(embedding))) AS dim,
       |  CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000)
       |    AS BIGINT) AS q
       | FROM embeddings),
       |nn AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM q),
       |sd AS (SELECT dim, CAST(SUM(q) AS BIGINT) AS sd FROM q GROUP BY dim),
       |y AS MATERIALIZED (SELECT q.vec_id, q.dim,
       |  CAST(nn.n * q.q - sd.sd AS HUGEINT) AS y
       | FROM q JOIN sd ON sd.dim = q.dim CROSS JOIN nn),
       |g AS MATERIALIZED (SELECT l.dim AS i, r.dim AS j,
       |  SUM(l.y * r.y) AS g
       | FROM y l JOIN y r ON l.vec_id = r.vec_id GROUP BY 1, 2),
       |v0 AS (SELECT DISTINCT i AS dim, CAST(1000 AS HUGEINT) AS v
       | FROM g),
       |$ctes
       |SELECT y.vec_id, CAST(SUM(y.y * v.v) AS BIGINT) AS proj_q
       |FROM y JOIN v$rounds v ON v.dim = y.dim
       |GROUP BY 1 ORDER BY vec_id""".stripMargin
  }

  /** DuckDB oracle for [[LinkAnalysis.louvainLocalMove]] over the
    * co-purchase pair graph: `rounds` chained synchronous local-move
    * CTEs — per round the per-(vertex, candidate-community) edge
    * counts, community degree totals, exact integer modularity gains
    * restricted to monotone (≤ current) labels, and the
    * (g DESC, c) argmax via QUALIFY. */
  private def louvainSql(rounds: Int): String = {
    val ctes = (1 to rounds).map { r =>
      s"""cand$r AS MATERIALIZED (SELECT s.u, a.community AS c,
         |  CAST(COUNT(*) AS BIGINT) AS kuc
         | FROM sym s JOIN a${r - 1} a ON a.id = s.v GROUP BY 1, 2),
         |tot$r AS MATERIALIZED (SELECT a.community,
         |  CAST(SUM(d.d) AS BIGINT) AS tot
         | FROM a${r - 1} a JOIN deg d ON d.u = a.id GROUP BY 1),
         |allc$r AS (SELECT u, c, MAX(kuc) AS kuc FROM (
         |  SELECT u, c, kuc FROM cand$r
         |  UNION ALL SELECT id, community, 0 FROM a${r - 1}) GROUP BY 1, 2),
         |gain$r AS (SELECT x.u, x.c,
         |  2 * mt.m * x.kuc - d.d * (t.tot -
         |    CASE WHEN cur.community = x.c THEN d.d ELSE 0 END) AS g
         | FROM allc$r x JOIN deg d ON d.u = x.u
         |  JOIN a${r - 1} cur ON cur.id = x.u
         |  JOIN tot$r t ON t.community = x.c, mt
         | WHERE x.c <= cur.community),
         |a$r AS MATERIALIZED (SELECT u AS id, c AS community FROM gain$r
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY u
         |   ORDER BY g DESC, c) = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $copurchaseSql,
       |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM pe
       | UNION ALL SELECT b, a FROM pe),
       |deg AS MATERIALIZED (SELECT u, CAST(COUNT(*) AS BIGINT) AS d
       | FROM sym GROUP BY u),
       |mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pe),
       |a0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS community FROM sym),
       |$ctes,
       |mem AS (SELECT DISTINCT i AS id FROM gi)
       |SELECT mm.id, COALESCE(ar.community, mm.id) AS community
       |FROM mem mm LEFT JOIN a$rounds ar ON ar.id = mm.id
       |ORDER BY mm.id""".stripMargin
  }

  /** DuckDB oracle for [[LinkAnalysis.leidenRefine]] over the
    * [[louvainSql]] move-phase assignment: the same unrolled move
    * chain, then refinement — intra-community edges (both endpoints
    * share an a`rounds` label), their symmetric closure via a
    * recursive reachability CTE (UNION dedup ⇒ termination), and
    * refined = MIN(reachable id) per member, i.e. the min member id
    * of each within-community connected part. Members with no intra
    * edge coalesce to themselves. */
  private def leidenSql(rounds: Int): String = {
    val ctes = (1 to rounds).map { r =>
      s"""cand$r AS MATERIALIZED (SELECT s.u, a.community AS c,
         |  CAST(COUNT(*) AS BIGINT) AS kuc
         | FROM sym s JOIN a${r - 1} a ON a.id = s.v GROUP BY 1, 2),
         |tot$r AS MATERIALIZED (SELECT a.community,
         |  CAST(SUM(d.d) AS BIGINT) AS tot
         | FROM a${r - 1} a JOIN deg d ON d.u = a.id GROUP BY 1),
         |allc$r AS (SELECT u, c, MAX(kuc) AS kuc FROM (
         |  SELECT u, c, kuc FROM cand$r
         |  UNION ALL SELECT id, community, 0 FROM a${r - 1}) GROUP BY 1, 2),
         |gain$r AS (SELECT x.u, x.c,
         |  2 * mt.m * x.kuc - d.d * (t.tot -
         |    CASE WHEN cur.community = x.c THEN d.d ELSE 0 END) AS g
         | FROM allc$r x JOIN deg d ON d.u = x.u
         |  JOIN a${r - 1} cur ON cur.id = x.u
         |  JOIN tot$r t ON t.community = x.c, mt
         | WHERE x.c <= cur.community),
         |a$r AS MATERIALIZED (SELECT u AS id, c AS community FROM gain$r
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY u
         |   ORDER BY g DESC, c) = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE $copurchaseSql,
       |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM pe
       | UNION ALL SELECT b, a FROM pe),
       |deg AS MATERIALIZED (SELECT u, CAST(COUNT(*) AS BIGINT) AS d
       | FROM sym GROUP BY u),
       |mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pe),
       |a0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS community FROM sym),
       |$ctes,
       |refedges AS MATERIALIZED (SELECT p.a, p.b FROM pe p
       | JOIN a$rounds x ON x.id = p.a JOIN a$rounds y ON y.id = p.b
       | WHERE x.community = y.community),
       |rsym AS MATERIALIZED (SELECT a AS u, b AS v FROM refedges
       | UNION ALL SELECT b, a FROM refedges),
       |reach(id, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM rsym)
       |  UNION
       |  SELECT s.v, reach.r FROM reach JOIN rsym s ON s.u = reach.id),
       |rcomp AS (SELECT id, MIN(r) AS refined FROM reach GROUP BY id),
       |mem AS (SELECT DISTINCT i AS id FROM gi)
       |SELECT mm.id, COALESCE(ar.community, mm.id) AS community,
       | COALESCE(rc.refined, mm.id) AS refined
       |FROM mem mm LEFT JOIN a$rounds ar ON ar.id = mm.id
       | LEFT JOIN rcomp rc ON rc.id = mm.id
       |ORDER BY mm.id""".stripMargin
  }

  /** DuckDB oracle for [[LinkAnalysis.leidenTwoLevel]]: the level-1
    * move chain, the [[leidenSql]] refinement (recursive closure →
    * refined = min member of each within-community connected part),
    * contraction BY REFINED PARTS into the weighted super-graph, the
    * weighted move phase, and the composed map back. */
  private def leiden2Sql(r1: Int, r2: Int): String = {
    val lvl1 = (1 to r1).map { r =>
      s"""cand$r AS MATERIALIZED (SELECT s.u, a.community AS c,
         |  CAST(COUNT(*) AS BIGINT) AS kuc
         | FROM sym s JOIN a${r - 1} a ON a.id = s.v GROUP BY 1, 2),
         |tot$r AS MATERIALIZED (SELECT a.community,
         |  CAST(SUM(d.d) AS BIGINT) AS tot
         | FROM a${r - 1} a JOIN deg d ON d.u = a.id GROUP BY 1),
         |allc$r AS (SELECT u, c, MAX(kuc) AS kuc FROM (
         |  SELECT u, c, kuc FROM cand$r
         |  UNION ALL SELECT id, community, 0 FROM a${r - 1}) GROUP BY 1, 2),
         |gain$r AS (SELECT x.u, x.c,
         |  2 * mt.m * x.kuc - d.d * (t.tot -
         |    CASE WHEN cur.community = x.c THEN d.d ELSE 0 END) AS g
         | FROM allc$r x JOIN deg d ON d.u = x.u
         |  JOIN a${r - 1} cur ON cur.id = x.u
         |  JOIN tot$r t ON t.community = x.c, mt
         | WHERE x.c <= cur.community),
         |a$r AS MATERIALIZED (SELECT u AS id, c AS community FROM gain$r
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY u
         |   ORDER BY g DESC, c) = 1)""".stripMargin
    }.mkString(",\n")
    val lvl2 = (1 to r2).map { r =>
      s"""wcand$r AS MATERIALIZED (SELECT s.u, a.community AS c,
         |  CAST(SUM(s.w) AS BIGINT) AS kuc
         | FROM sym2 s JOIN b${r - 1} a ON a.id = s.v GROUP BY 1, 2),
         |wtot$r AS MATERIALIZED (SELECT a.community,
         |  CAST(SUM(d.d) AS BIGINT) AS tot
         | FROM b${r - 1} a JOIN deg2 d ON d.u = a.id GROUP BY 1),
         |wallc$r AS (SELECT u, c, MAX(kuc) AS kuc FROM (
         |  SELECT u, c, kuc FROM wcand$r
         |  UNION ALL SELECT id, community, 0 FROM b${r - 1}) GROUP BY 1, 2),
         |wgain$r AS (SELECT x.u, x.c,
         |  2 * mt2.m * x.kuc - d.d * (t.tot -
         |    CASE WHEN cur.community = x.c THEN d.d ELSE 0 END) AS g
         | FROM wallc$r x JOIN deg2 d ON d.u = x.u
         |  JOIN b${r - 1} cur ON cur.id = x.u
         |  JOIN wtot$r t ON t.community = x.c, mt2
         | WHERE x.c <= cur.community),
         |b$r AS MATERIALIZED (SELECT u AS id, c AS community FROM wgain$r
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY u
         |   ORDER BY g DESC, c) = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE $copurchaseSql,
       |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM pe
       | UNION ALL SELECT b, a FROM pe),
       |deg AS MATERIALIZED (SELECT u, CAST(COUNT(*) AS BIGINT) AS d
       | FROM sym GROUP BY u),
       |mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pe),
       |a0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS community FROM sym),
       |$lvl1,
       |refedges AS MATERIALIZED (SELECT p.a, p.b FROM pe p
       | JOIN a$r1 x ON x.id = p.a JOIN a$r1 y ON y.id = p.b
       | WHERE x.community = y.community),
       |rsym AS MATERIALIZED (SELECT a AS u, b AS v FROM refedges
       | UNION ALL SELECT b, a FROM refedges),
       |reach(id, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM rsym)
       |  UNION
       |  SELECT s.v, reach.r FROM reach JOIN rsym s ON s.u = reach.id),
       |rcomp AS (SELECT id, MIN(r) AS refined FROM reach GROUP BY id),
       |r1m AS MATERIALIZED (SELECT a.id,
       |  COALESCE(rc.refined, a.id) AS refined
       | FROM a$r1 a LEFT JOIN rcomp rc ON rc.id = a.id),
       |agg AS MATERIALIZED (SELECT LEAST(x.refined, y.refined) AS a,
       |  GREATEST(x.refined, y.refined) AS b,
       |  CAST(COUNT(*) AS BIGINT) AS w
       | FROM pe p JOIN r1m x ON x.id = p.a JOIN r1m y ON y.id = p.b
       | GROUP BY 1, 2),
       |pair2 AS (SELECT a, b, w FROM agg WHERE a <> b),
       |self2 AS (SELECT a AS u, 2 * w AS sw FROM agg WHERE a = b),
       |sym2 AS MATERIALIZED (SELECT a AS u, b AS v, w FROM pair2
       | UNION ALL SELECT b, a, w FROM pair2),
       |deg2 AS MATERIALIZED (SELECT u, CAST(SUM(dw) AS BIGINT) AS d FROM (
       |  SELECT u, w AS dw FROM sym2 UNION ALL SELECT u, sw FROM self2)
       | GROUP BY u),
       |mt2 AS (SELECT CAST(SUM(d) // 2 AS BIGINT) AS m FROM deg2),
       |b0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS community FROM (
       |  SELECT a AS u FROM agg UNION ALL SELECT b FROM agg)),
       |$lvl2,
       |mem AS (SELECT DISTINCT i AS id FROM gi)
       |SELECT mm.id,
       | COALESCE(bb.community, rr.refined, mm.id) AS community
       |FROM mem mm LEFT JOIN r1m rr ON rr.id = mm.id
       | LEFT JOIN b$r2 bb ON bb.id = rr.refined
       |ORDER BY mm.id""".stripMargin
  }

  /** DuckDB oracle for [[LinkAnalysis.louvainTwoLevel]]: the
    * [[louvainSql]] level-1 chain, the community contraction
    * (weighted super-graph with intra self-loops), `r2` WEIGHTED
    * local-move rounds (SUM(w) attraction, degrees with 2×self-loop,
    * m = Σd/2), and the composed map back. */
  private def louvain2Sql(r1: Int, r2: Int): String = {
    val lvl1 = (1 to r1).map { r =>
      s"""cand$r AS MATERIALIZED (SELECT s.u, a.community AS c,
         |  CAST(COUNT(*) AS BIGINT) AS kuc
         | FROM sym s JOIN a${r - 1} a ON a.id = s.v GROUP BY 1, 2),
         |tot$r AS MATERIALIZED (SELECT a.community,
         |  CAST(SUM(d.d) AS BIGINT) AS tot
         | FROM a${r - 1} a JOIN deg d ON d.u = a.id GROUP BY 1),
         |allc$r AS (SELECT u, c, MAX(kuc) AS kuc FROM (
         |  SELECT u, c, kuc FROM cand$r
         |  UNION ALL SELECT id, community, 0 FROM a${r - 1}) GROUP BY 1, 2),
         |gain$r AS (SELECT x.u, x.c,
         |  2 * mt.m * x.kuc - d.d * (t.tot -
         |    CASE WHEN cur.community = x.c THEN d.d ELSE 0 END) AS g
         | FROM allc$r x JOIN deg d ON d.u = x.u
         |  JOIN a${r - 1} cur ON cur.id = x.u
         |  JOIN tot$r t ON t.community = x.c, mt
         | WHERE x.c <= cur.community),
         |a$r AS MATERIALIZED (SELECT u AS id, c AS community FROM gain$r
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY u
         |   ORDER BY g DESC, c) = 1)""".stripMargin
    }.mkString(",\n")
    val lvl2 = (1 to r2).map { r =>
      s"""wcand$r AS MATERIALIZED (SELECT s.u, a.community AS c,
         |  CAST(SUM(s.w) AS BIGINT) AS kuc
         | FROM sym2 s JOIN b${r - 1} a ON a.id = s.v GROUP BY 1, 2),
         |wtot$r AS MATERIALIZED (SELECT a.community,
         |  CAST(SUM(d.d) AS BIGINT) AS tot
         | FROM b${r - 1} a JOIN deg2 d ON d.u = a.id GROUP BY 1),
         |wallc$r AS (SELECT u, c, MAX(kuc) AS kuc FROM (
         |  SELECT u, c, kuc FROM wcand$r
         |  UNION ALL SELECT id, community, 0 FROM b${r - 1}) GROUP BY 1, 2),
         |wgain$r AS (SELECT x.u, x.c,
         |  2 * mt2.m * x.kuc - d.d * (t.tot -
         |    CASE WHEN cur.community = x.c THEN d.d ELSE 0 END) AS g
         | FROM wallc$r x JOIN deg2 d ON d.u = x.u
         |  JOIN b${r - 1} cur ON cur.id = x.u
         |  JOIN wtot$r t ON t.community = x.c, mt2
         | WHERE x.c <= cur.community),
         |b$r AS MATERIALIZED (SELECT u AS id, c AS community FROM wgain$r
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY u
         |   ORDER BY g DESC, c) = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $copurchaseSql,
       |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM pe
       | UNION ALL SELECT b, a FROM pe),
       |deg AS MATERIALIZED (SELECT u, CAST(COUNT(*) AS BIGINT) AS d
       | FROM sym GROUP BY u),
       |mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pe),
       |a0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS community FROM sym),
       |$lvl1,
       |agg AS MATERIALIZED (SELECT LEAST(x.community, y.community) AS a,
       |  GREATEST(x.community, y.community) AS b,
       |  CAST(COUNT(*) AS BIGINT) AS w
       | FROM pe p JOIN a$r1 x ON x.id = p.a JOIN a$r1 y ON y.id = p.b
       | GROUP BY 1, 2),
       |pair2 AS (SELECT a, b, w FROM agg WHERE a <> b),
       |self2 AS (SELECT a AS u, 2 * w AS sw FROM agg WHERE a = b),
       |sym2 AS MATERIALIZED (SELECT a AS u, b AS v, w FROM pair2
       | UNION ALL SELECT b, a, w FROM pair2),
       |deg2 AS MATERIALIZED (SELECT u, CAST(SUM(dw) AS BIGINT) AS d FROM (
       |  SELECT u, w AS dw FROM sym2 UNION ALL SELECT u, sw FROM self2)
       | GROUP BY u),
       |mt2 AS (SELECT CAST(SUM(d) // 2 AS BIGINT) AS m FROM deg2),
       |b0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS community FROM (
       |  SELECT a AS u FROM agg UNION ALL SELECT b FROM agg)),
       |$lvl2,
       |mem AS (SELECT DISTINCT i AS id FROM gi)
       |SELECT mm.id,
       | COALESCE(bb.community, a1.community, mm.id) AS community
       |FROM mem mm LEFT JOIN a$r1 a1 ON a1.id = mm.id
       | LEFT JOIN b$r2 bb ON bb.id = a1.community
       |ORDER BY mm.id""".stripMargin
  }

  /** DuckDB oracle for [[LinkAnalysis.lubyMis]] over the co-purchase
    * pair graph: `rounds` chained priority-minimum CTEs (win iff
    * md5-priority strictly below every undecided neighbor's; winners'
    * neighbors drop out). Items outside the pair graph are isolated —
    * trivially in the MIS. */
  private def lubyMisSql(rounds: Int): String = {
    val ctes = (1 to rounds).map { r =>
      s"""und$r AS MATERIALIZED (SELECT id, prio FROM s${r - 1} WHERE st = 0),
         |nm$r AS (SELECT e.u AS id, MIN(n.prio) AS mn
         | FROM sym e JOIN und$r u0 ON u0.id = e.u
         |  JOIN und$r n ON n.id = e.v
         | GROUP BY e.u),
         |win$r AS MATERIALIZED (SELECT u.id FROM und$r u
         | LEFT JOIN nm$r m ON m.id = u.id
         | WHERE m.mn IS NULL OR u.prio < m.mn),
         |exc$r AS (SELECT DISTINCT e.v AS id FROM sym e
         | JOIN win$r w ON w.id = e.u
         | JOIN und$r u2 ON u2.id = e.v),
         |s$r AS MATERIALIZED (SELECT s.id, s.prio,
         |  CASE WHEN s.st <> 0 THEN s.st
         |       WHEN w.id IS NOT NULL THEN 1
         |       WHEN x.id IS NOT NULL THEN 2 ELSE 0 END AS st
         | FROM s${r - 1} s LEFT JOIN win$r w ON w.id = s.id
         |  LEFT JOIN exc$r x ON x.id = s.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $copurchaseSql,
       |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM pe
       | UNION ALL SELECT b, a FROM pe),
       |s0 AS MATERIALIZED (SELECT id,
       |  CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    AS prio, 0 AS st
       | FROM (SELECT DISTINCT u AS id FROM sym)),
       |$ctes,
       |mem AS (SELECT DISTINCT i AS id FROM gi)
       |SELECT mm.id, COALESCE(CASE WHEN s.st = 1 THEN 'mis'
       |  WHEN s.st = 2 THEN 'excluded'
       |  WHEN s.st = 0 THEN 'undecided' END, 'mis') AS status
       |FROM mem mm LEFT JOIN s$rounds s ON s.id = mm.id
       |ORDER BY mm.id""".stripMargin
  }

  /** DuckDB oracle for [[LinkAnalysis.maximalMatching]] over the
    * co-purchase projection: per round a per-vertex best-edge QUALIFY
    * over the (p, a, b) total order, the mutual-handshake win join,
    * and the retired-endpoint residual; matched edges accumulate with
    * their round, then unfold to the per-vertex (id, mate) view. */
  private def matchingSql(rounds: Int): String = {
    val ctes = (1 to rounds).map { r =>
      s"""sym$r AS (SELECT a AS u, p, a, b FROM e${r - 1}
         | UNION ALL SELECT b, p, a, b FROM e${r - 1}),
         |best$r AS MATERIALIZED (SELECT u, a, b FROM sym$r
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY u ORDER BY p, a, b) = 1),
         |win$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e
         | JOIN best$r x ON x.u = e.a AND x.a = e.a AND x.b = e.b
         | JOIN best$r y ON y.u = e.b AND y.a = e.a AND y.b = e.b),
         |mv$r AS (SELECT a AS id FROM win$r UNION SELECT b FROM win$r),
         |e$r AS MATERIALIZED (SELECT e.a, e.b, e.p FROM e${r - 1} e
         | WHERE e.a NOT IN (SELECT id FROM mv$r)
         |   AND e.b NOT IN (SELECT id FROM mv$r))""".stripMargin
    }.mkString(",\n")
    val accU = (1 to rounds).map(r =>
      s"SELECT a, b, $r AS round FROM win$r").mkString(" UNION ALL ")
    s"""WITH $copurchaseSql,
       |e0 AS MATERIALIZED (SELECT a, b,
       |  CAST(('0x' || substr(md5(CAST(a AS VARCHAR) || ':' ||
       |    CAST(b AS VARCHAR)), 1, 15)) AS BIGINT) AS p
       | FROM pe),
       |$ctes,
       |acc AS ($accU),
       |pv AS (SELECT a AS id, b AS mate, round FROM acc
       | UNION ALL SELECT b, a, round FROM acc),
       |mem AS (SELECT DISTINCT i AS id FROM gi)
       |SELECT m.id, CAST(COALESCE(pv.mate, -1) AS BIGINT) AS mate,
       | CAST(COALESCE(pv.round, 0) AS INT) AS round
       |FROM mem m LEFT JOIN pv ON pv.id = m.id
       |ORDER BY m.id""".stripMargin
  }

  /** DuckDB oracle for [[LinkAnalysis.boruvkaForest]] over the
    * co-purchase projection: per round a cross-edge CTE, the
    * per-component best-edge QUALIFY over (w DESC, a, b), the
    * mutual-pair-rooted pointer CTE, `jumps` pointer-jumping CTEs,
    * and the contracted assignment; selected edges accumulate with
    * their round. */
  private def boruvkaSql(rounds: Int, jumps: Int): String = {
    val rs = (1 to rounds).map { r =>
      val jumpCtes = (1 to jumps).map { j =>
        s"""p${r}_$j AS MATERIALIZED (SELECT p.u, COALESCE(q.v, p.v) AS v
           | FROM p${r}_${j - 1} p LEFT JOIN p${r}_${j - 1} q
           |   ON q.u = p.v)""".stripMargin
      }.mkString(",\n")
      s"""ce$r AS MATERIALIZED (SELECT e.a, e.b, e.w, x.c AS ca, y.c AS cb
         | FROM e0 e JOIN comp${r - 1} x ON x.id = e.a
         |  JOIN comp${r - 1} y ON y.id = e.b
         | WHERE x.c <> y.c),
         |sym$r AS (SELECT ca AS u, cb AS v, w, a, b FROM ce$r
         | UNION ALL SELECT cb, ca, w, a, b FROM ce$r),
         |best$r AS MATERIALIZED (SELECT u, v, w, a, b FROM sym$r
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY u
         |   ORDER BY w DESC, a, b) = 1),
         |sel$r AS (SELECT DISTINCT a, b, w FROM best$r),
         |p${r}_0 AS MATERIALIZED (SELECT x.u,
         |  CASE WHEN y.u IS NOT NULL THEN LEAST(x.u, x.v) ELSE x.v END AS v
         | FROM best$r x LEFT JOIN best$r y
         |   ON y.u = x.v AND y.v = x.u),
         |$jumpCtes,
         |comp$r AS MATERIALIZED (SELECT c.id, COALESCE(p.v, c.c) AS c
         | FROM comp${r - 1} c LEFT JOIN p${r}_$jumps p ON p.u = c.c)"""
        .stripMargin
    }.mkString(",\n")
    val accU = (1 to rounds).map(r =>
      s"SELECT a, b, w, $r AS round FROM sel$r").mkString(" UNION ALL ")
    s"""WITH $copurchaseSql,
       |e0 AS MATERIALIZED (SELECT a, b, CAST(w AS BIGINT) AS w FROM pe),
       |verts AS (SELECT DISTINCT a AS id FROM e0
       | UNION SELECT b FROM e0),
       |comp0 AS MATERIALIZED (SELECT id, id AS c FROM verts),
       |$rs,
       |acc AS ($accU)
       |SELECT a, b, w, CAST(round AS INT) AS round FROM acc
       |ORDER BY a, b""".stripMargin
  }

  /** DuckDB oracle for [[LinkAnalysis.ktruss]]: `rounds` chained
    * support-and-peel CTEs (each round a wedge self-join counting
    * common neighbors per edge, HAVING the k−2 support bar — the
    * Spark side runs the identical bounded rounds). */
  private def ktrussSql(k: Int, rounds: Int): String = {
    val ctes = (1 to rounds).map { r =>
      s"""u${r - 1} AS MATERIALIZED (SELECT a AS u, b AS v FROM e${r - 1}
         | UNION ALL SELECT b, a FROM e${r - 1}),
         |e$r AS MATERIALIZED (SELECT e.a, e.b, COUNT(*) AS support
         | FROM e${r - 1} e JOIN u${r - 1} x ON x.u = e.a
         | JOIN u${r - 1} y ON y.u = e.b AND y.v = x.v
         | GROUP BY e.a, e.b HAVING COUNT(*) >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH $copurchaseSql,
       |e0 AS MATERIALIZED (SELECT a, b FROM pe),
       |$ctes
       |SELECT a, b, CAST(support AS BIGINT) AS support FROM e$rounds
       |ORDER BY a, b""".stripMargin
  }

  /** DuckDB oracle for [[VizData.forceLayout]] on the supplier-nation-
    * region slice: chained CTEs — p0 seeds positions from the portable
    * md5-48bit hash, then per iteration a repulsion agg (rK), an
    * attraction agg (aK) and a clamped position update (pK). The
    * sign·(|num| // den) spelling mirrors the Spark side's tdiv so
    * DuckDB's flooring `//` and Spark's truncating DIV agree on
    * negative displacements. */
  private def forceLayoutSql(iters: Int, box: Long, cRep: Long,
                             attDiv: Long, temp0: Long): String = {
    def tdivSql(num: String, den: String) =
      s"CASE WHEN $num >= 0 THEN ($num) // ($den) ELSE -((-($num)) // ($den)) END"
    val iterCtes = (1 to iters).map { k =>
      val t = temp0 / k
      val d2 = "GREATEST((i.x - j.x)*(i.x - j.x) + (i.y - j.y)*(i.y - j.y), 1)"
      s"""r$k AS (SELECT i.node,
         |  CAST(SUM(${tdivSql(s"(i.x - j.x) * $cRep", d2)}) AS BIGINT) AS fx,
         |  CAST(SUM(${tdivSql(s"(i.y - j.y) * $cRep", d2)}) AS BIGINT) AS fy
         | FROM p${k - 1} i JOIN p${k - 1} j ON i.node <> j.node
         | GROUP BY i.node),
         |a$k AS (SELECT u.a AS node,
         |  CAST(SUM(-(${tdivSql("pa.x - pb.x", attDiv.toString)})) AS BIGINT) AS ax,
         |  CAST(SUM(-(${tdivSql("pa.y - pb.y", attDiv.toString)})) AS BIGINT) AS ay
         | FROM und u JOIN p${k - 1} pa ON pa.node = u.a
         |  JOIN p${k - 1} pb ON pb.node = u.b GROUP BY u.a),
         |p$k AS (SELECT p.node,
         |  LEAST(GREATEST(p.x + LEAST(GREATEST(COALESCE(r.fx, 0) + COALESCE(a.ax, 0), -$t), $t), 0), $box) AS x,
         |  LEAST(GREATEST(p.y + LEAST(GREATEST(COALESCE(r.fy, 0) + COALESCE(a.ay, 0), -$t), $t), 0), $box) AS y
         | FROM p${k - 1} p LEFT JOIN r$k r ON r.node = p.node
         |  LEFT JOIN a$k a ON a.node = p.node)""".stripMargin
    }.mkString(",\n")
    s"""$W, sub AS (SELECT source_layer || '|' || source_id AS a,
       |   target_layer || '|' || target_id AS b
       |  FROM edges
       |  WHERE source_layer IN ('supplier', 'nation', 'region')
       |    AND target_layer IN ('supplier', 'nation', 'region')),
       | und AS (SELECT a, b FROM sub UNION SELECT b, a FROM sub),
       | nodes AS (SELECT DISTINCT a AS node FROM und),
       | p0 AS (SELECT node,
       |   CAST(('0x' || substr(md5(node || ':x'), 1, 12)) AS BIGINT) % $box AS x,
       |   CAST(('0x' || substr(md5(node || ':y'), 1, 12)) AS BIGINT) % $box AS y
       |  FROM nodes),
       |$iterCtes
       |SELECT node, x, y FROM p$iters ORDER BY node""".stripMargin
  }

  /** DuckDB oracle for [[VizData.forceLayoutBinned]] — the grid-binned
    * repulsion twin of [[forceLayoutSql]]. Per iteration: a binning CTE
    * (cK), the per-cell centroid aggregate (gK), exact NEAR repulsion
    * over Chebyshev-adjacent cells (rnK — predicate join; the oracle
    * need not be scalable, only semantically identical), centroid FAR
    * repulsion (rfK, cnt · tdiv AFTER the division like the Spark
    * side), attraction (aK) and the clamped update (pK). Coordinates
    * and cell sums are non-negative so `//` and DIV agree without the
    * sign split there; displacement divisions keep it. */
  private def forceLayoutBinnedSql(iters: Int, box: Long, cRep: Long,
                                   attDiv: Long, temp0: Long,
                                   cell: Long): String = {
    def tdivSql(num: String, den: String) =
      s"CASE WHEN $num >= 0 THEN ($num) // ($den) ELSE -((-($num)) // ($den)) END"
    val iterCtes = (1 to iters).map { k =>
      val t = temp0 / k
      val d2 = "GREATEST((i.x - j.x)*(i.x - j.x) + (i.y - j.y)*(i.y - j.y), 1)"
      val d2g = "GREATEST((i.x - g.mx)*(i.x - g.mx) + (i.y - g.my)*(i.y - g.my), 1)"
      s"""c$k AS MATERIALIZED (SELECT node, x, y,
         |  x // $cell AS cx, y // $cell AS cy FROM p${k - 1}),
         |g$k AS MATERIALIZED (SELECT cx, cy, COUNT(*) AS cnt,
         |  SUM(x) // COUNT(*) AS mx, SUM(y) // COUNT(*) AS my
         | FROM c$k GROUP BY 1, 2),
         |rn$k AS (SELECT i.node,
         |  CAST(SUM(${tdivSql(s"(i.x - j.x) * $cRep", d2)}) AS BIGINT) AS nfx,
         |  CAST(SUM(${tdivSql(s"(i.y - j.y) * $cRep", d2)}) AS BIGINT) AS nfy
         | FROM c$k i JOIN c$k j ON abs(i.cx - j.cx) <= 1
         |  AND abs(i.cy - j.cy) <= 1 AND i.node <> j.node
         | GROUP BY i.node),
         |rf$k AS (SELECT i.node,
         |  CAST(SUM(g.cnt * (${tdivSql(s"(i.x - g.mx) * $cRep", d2g)})) AS BIGINT) AS ffx,
         |  CAST(SUM(g.cnt * (${tdivSql(s"(i.y - g.my) * $cRep", d2g)})) AS BIGINT) AS ffy
         | FROM c$k i JOIN g$k g ON abs(g.cx - i.cx) > 1 OR abs(g.cy - i.cy) > 1
         | GROUP BY i.node),
         |a$k AS (SELECT u.a AS node,
         |  CAST(SUM(-(${tdivSql("pa.x - pb.x", attDiv.toString)})) AS BIGINT) AS ax,
         |  CAST(SUM(-(${tdivSql("pa.y - pb.y", attDiv.toString)})) AS BIGINT) AS ay
         | FROM und u JOIN p${k - 1} pa ON pa.node = u.a
         |  JOIN p${k - 1} pb ON pb.node = u.b GROUP BY u.a),
         |p$k AS (SELECT p.node,
         |  LEAST(GREATEST(p.x + LEAST(GREATEST(COALESCE(rn.nfx, 0) + COALESCE(rf.ffx, 0) + COALESCE(a.ax, 0), -$t), $t), 0), $box) AS x,
         |  LEAST(GREATEST(p.y + LEAST(GREATEST(COALESCE(rn.nfy, 0) + COALESCE(rf.ffy, 0) + COALESCE(a.ay, 0), -$t), $t), 0), $box) AS y
         | FROM p${k - 1} p LEFT JOIN rn$k rn ON rn.node = p.node
         |  LEFT JOIN rf$k rf ON rf.node = p.node
         |  LEFT JOIN a$k a ON a.node = p.node)""".stripMargin
    }.mkString(",\n")
    s"""$W, sub AS (SELECT source_layer || '|' || source_id AS a,
       |   target_layer || '|' || target_id AS b
       |  FROM edges
       |  WHERE source_layer IN ('supplier', 'nation', 'region')
       |    AND target_layer IN ('supplier', 'nation', 'region')),
       | und AS (SELECT a, b FROM sub UNION SELECT b, a FROM sub),
       | nodes AS (SELECT DISTINCT a AS node FROM und),
       | p0 AS (SELECT node,
       |   CAST(('0x' || substr(md5(node || ':x'), 1, 12)) AS BIGINT) % $box AS x,
       |   CAST(('0x' || substr(md5(node || ':y'), 1, 12)) AS BIGINT) % $box AS y
       |  FROM nodes),
       |$iterCtes
       |SELECT node, x, y FROM p$iters ORDER BY node""".stripMargin
  }

  // ================================================================ corpus

  val defs: Seq[QueryDef] = Seq(

    // ---------------------------------------------------- relational core
    QueryDef("q01_pricing_summary",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
             | ${dsumSql("l_quantity")} AS sum_qty,
             | ${dsumSql("l_extendedprice")} AS sum_base_price,
             | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
             | ${dsumSql("l_quantity")} / COUNT(*) AS avg_qty,
             | ${dsumSql("l_discount")} / COUNT(*) AS avg_disc,
             | COUNT(*) AS count_order
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef("q02_topk_orders",
      (s, dir) => t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
        .orderBy(col("price").desc, col("o_orderkey"))
        .limit(10),
      Some("""SELECT o_orderkey, o_totalprice AS price
             |FROM orders ORDER BY price DESC, o_orderkey LIMIT 10""".stripMargin)),

    QueryDef("q03_segment_revenue",
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(dsum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment"),
      Some(s"""SELECT c_mktsegment, ${dsumSql("o_totalprice")} AS revenue,
             | COUNT(*) AS n_orders
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    QueryDef("q04_nation_revenue",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
          .orderBy("r_name", "n_name")
      },
      Some(s"""SELECT r_name, n_name,
             | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
             |FROM lineitem
             | JOIN orders ON l_orderkey = o_orderkey
             | JOIN customer ON o_custkey = c_custkey
             | JOIN nation ON c_nationkey = n_nationkey
             | JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    QueryDef("q05_window_top_orders",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_totalprice").as("price"), col("rnk"))
          .orderBy("o_custkey", "rnk", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice AS price, rnk
             |FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
             |   ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk FROM orders)
             |WHERE rnk <= 3 ORDER BY o_custkey, rnk, o_orderkey""".stripMargin)),

    QueryDef("q06_setops_nations",
      (s, dir) => {
        val custN = t(s, dir, "customer")
          .select(col("c_nationkey").cast("long").as("nationkey")).distinct()
        val suppN = t(s, dir, "supplier")
          .select(col("s_nationkey").cast("long").as("nationkey")).distinct()
        custN.intersect(suppN).withColumn("which", lit("both"))
          .unionByName(custN.except(suppN).withColumn("which", lit("cust_only")))
          .orderBy("which", "nationkey")
      },
      Some("""WITH custN AS (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer),
             | suppN AS (SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier)
             |SELECT nationkey, 'both' AS which FROM (SELECT nationkey FROM custN INTERSECT SELECT nationkey FROM suppN)
             |UNION ALL
             |SELECT nationkey, 'cust_only' AS which FROM (SELECT nationkey FROM custN EXCEPT SELECT nationkey FROM suppN)
             |ORDER BY which, nationkey""".stripMargin)),

    QueryDef("q27_levenshtein",
      // edit-distance scalar (the fuzzy-match primitive under record
      // linkage): classic Levenshtein is engine-exact integer DP.
      (s, dir) => t(s, dir, "supplier")
        .select(col("s_suppkey"),
          levenshtein(col("s_name"), lit("Supplier#000000001")).cast("long")
            .as("edit_dist"))
        .orderBy("s_suppkey"),
      Some("""SELECT s_suppkey,
             | CAST(levenshtein(s_name, 'Supplier#000000001') AS BIGINT)
             |   AS edit_dist
             |FROM supplier ORDER BY s_suppkey""".stripMargin)),

    QueryDef("q26_setops_all",
      // the MULTISET set ops (q06 covers the distinct forms):
      // INTERSECT ALL keeps min(countA,countB) copies per value,
      // EXCEPT ALL keeps countA-countB — duplicate rows are data here,
      // and the sorted-row hash compare checks exact multiplicities.
      (s, dir) => {
        val o = t(s, dir, "orders")
        val a = o.filter(col("o_orderstatus") === "O")
          .select(col("o_orderpriority").as("prio"))
        val b = o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderpriority").as("prio"))
        a.intersectAll(b).withColumn("which", lit("common"))
          .unionByName(a.exceptAll(b).withColumn("which", lit("open_extra")))
          .orderBy("which", "prio")
      },
      Some("""WITH a AS (SELECT o_orderpriority AS prio FROM orders
             |  WHERE o_orderstatus = 'O'),
             | b AS (SELECT o_orderpriority AS prio FROM orders
             |  WHERE o_orderstatus = 'F')
             |SELECT prio, 'common' AS which
             | FROM (SELECT prio FROM a INTERSECT ALL SELECT prio FROM b)
             |UNION ALL
             |SELECT prio, 'open_extra' AS which
             | FROM (SELECT prio FROM a EXCEPT ALL SELECT prio FROM b)
             |ORDER BY which, prio""".stripMargin)),

    QueryDef("q07_distinct_agg",
      (s, dir) => t(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(countDistinct("c_nationkey").as("n_nations"),
          count(lit(1)).as("n_customers"),
          (dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
        .orderBy("c_mktsegment"),
      Some(s"""SELECT c_mktsegment,
             | COUNT(DISTINCT c_nationkey) AS n_nations,
             | COUNT(*) AS n_customers, ${dsumSql("c_acctbal")} / COUNT(*) AS avg_bal
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    QueryDef("q08_filter_pushdown",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_extendedprice").as("price"),
          col("l_returnflag"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             | l_extendedprice AS price, l_returnflag
             |FROM lineitem
             |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 10
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QueryDef("q09_events_json",
      (s, dir) => EventStreams.withProps(EventStreams.readEvents(s, dir), "k")
        .filter(col("prop_k").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("prop_k").as("sum_k"),
          dsum(col("value")).as("sum_value"))
        .orderBy("event_type"),
      Some(s"""SELECT event_type, COUNT(*) AS n,
             | CAST(SUM(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             | ${dsumSql("value")} AS sum_value
             |FROM events WHERE json_extract_string(props, '$$.k') IS NOT NULL
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryDef("q10_events_window",
      (s, dir) => EventStreams.tumblingAgg(EventStreams.readEvents(s, dir), "1 hour")
        .orderBy("window_start", "event_type"),
      Some(s"""SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             | event_type, COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),

    QueryDef("q11_events_sessions",
      // session_window batch semantics vs a gaps-and-islands oracle:
      // a session ends after 30 minutes of silence; window end =
      // last event + gap (Spark session_window definition).
      (s, dir) => EventStreams.sessionAgg(
          EventStreams.readEvents(s, dir), "30 minutes")
        .orderBy("user_id", "session_start"),
      // >= not >: Spark's session window is half-open [start, last+gap),
      // so an event exactly gap after its predecessor starts a NEW
      // session; strict > would merge it (latent with grid-aligned ts).
      Some("""WITH marked AS (
             | SELECT user_id, ts, value,
             |  CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
             |        >= INTERVAL '30 minutes' OR
             |       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             |  THEN 1 ELSE 0 END AS brk
             | FROM events),
             | grp AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
             |   ROWS UNBOUNDED PRECEDING) AS sid FROM marked)
             |SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             | strftime(MAX(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
             | user_id, COUNT(*) AS n_events,
             | CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
             |FROM grp GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    QueryDef("q12_anti_join",
      // customers that never ordered: left anti join <-> NOT EXISTS
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_mktsegment FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    QueryDef("q13_scalar_functions",
      // scalar-function breadth: string ops + timestamp field extraction
      (s, dir) => t(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          upper(substring(col("o_orderpriority"), 1, 4)).as("prio4"),
          length(col("o_orderstatus")).cast("long").as("status_len"),
          when(col("o_totalprice") > 100000, "big")
            .when(col("o_totalprice") > 10000, "mid")
            .otherwise("small").as("bucket"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             | CAST(year(o_orderdate) AS BIGINT) AS yr,
             | CAST(month(o_orderdate) AS BIGINT) AS mo,
             | UPPER(SUBSTRING(o_orderpriority, 1, 4)) AS prio4,
             | CAST(LENGTH(o_orderstatus) AS BIGINT) AS status_len,
             | CASE WHEN o_totalprice > 100000 THEN 'big'
             |      WHEN o_totalprice > 10000 THEN 'mid'
             |      ELSE 'small' END AS bucket
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    QueryDef("q14_approx_distinct",
      // approximate-distinct, AUDITABLE form: the KMV bottom-k sketch
      // (x76 machinery — 48-bit md5 hashes, exact-integer estimator)
      // next to the exact count, so the error is visible in the
      // result itself. Sketches merge map-side; exact distinct
      // shuffles every key — the sketch is the 100 TB path. The HLL
      // fast path (approx_count_distinct) is engine-internal and
      // unhashable by design; it stays spec-pinned against the exact
      // count and this KMV estimate in ExtSpec.
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        ext.Profiling.kmvDistinct(li, "l_returnflag", "l_partkey", k = 64)
          .join(li.groupBy("l_returnflag")
            .agg(countDistinct("l_partkey").as("exact_parts")),
            Seq("l_returnflag"))
          .orderBy("l_returnflag")
      },
      Some("""WITH h AS (SELECT DISTINCT l_returnflag AS g,
             |   CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 12))
             |     AS BIGINT) AS h
             |  FROM lineitem),
             | sk AS (SELECT g, h FROM h
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) <= 64),
             | a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_k,
             |   MAX(h) AS vk FROM sk GROUP BY g),
             | ex AS (SELECT l_returnflag AS g,
             |   CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts
             |  FROM lineitem GROUP BY 1)
             |SELECT a.g AS l_returnflag, n_k,
             | CAST(CASE WHEN n_k < 64 THEN n_k
             |      ELSE 63 * 281474976710656 // GREATEST(vk, 1) END
             |   AS BIGINT) AS distinct_est,
             | exact_parts
             |FROM a JOIN ex ON ex.g = a.g ORDER BY l_returnflag""".stripMargin)),

    QueryDef("q17_exists_subquery",
      // correlated EXISTS -> LEFT SEMI join (q12's anti-join twin):
      // orders with at least one high-quantity lineitem.
      (s, dir) => t(s, dir, "orders")
        .join(t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
            .select(col("l_orderkey").as("o_orderkey")).distinct(),
          Seq("o_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_totalprice AS price FROM orders o
             |WHERE EXISTS (SELECT 1 FROM lineitem l
             |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
             |ORDER BY o_orderkey""".stripMargin)),

    QueryDef("q15_rollup",
      // grouping sets: revenue at (region, nation), per-region, and
      // grand-total levels in one pass (partial aggs merge upward —
      // one shuffle, no re-scan per level). NULL grouping keys are
      // coalesced to 'ALL' on both sides for a total sort order.
      // via the SQL surface: DataFrame rollup + a post-select on the
      // grouping columns trips the ambiguous-attribute detector (the
      // Expand operator duplicates them); SQL resolves cleanly and
      // exercises spark.sql as a first-class entry point.
      (s, dir) => {
        Seq("customer", "nation", "region")
          .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
        s.sql(s"""SELECT COALESCE(r_name, 'ALL') AS region,
                 | COALESCE(n_name, 'ALL') AS nation,
                 | ${dsumSql("c_acctbal")} AS acctbal_sum, COUNT(*) AS n_custs
                 |FROM customer
                 | JOIN nation ON c_nationkey = n_nationkey
                 | JOIN region ON n_regionkey = r_regionkey
                 |GROUP BY ROLLUP (r_name, n_name)
                 |ORDER BY region, nation""".stripMargin)
      },
      Some(s"""SELECT COALESCE(r_name, 'ALL') AS region,
             | COALESCE(n_name, 'ALL') AS nation,
             | ${dsumSql("c_acctbal")} AS acctbal_sum, COUNT(*) AS n_custs
             |FROM customer
             | JOIN nation ON c_nationkey = n_nationkey
             | JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP (r_name, n_name)
             |ORDER BY region, nation""".stripMargin)),

    QueryDef("q60_grouping_sets",
      // explicit GROUPING SETS with non-hierarchical combinations —
      // the surface ROLLUP (q15) and CUBE (q18) can't express: the
      // (flag, status), (status), () levels skip the (flag) level a
      // rollup would force. One Expand pass, one shuffle, no per-level
      // re-scan; GROUPING() disambiguates real NULLs from subtotal
      // rows on both engines.
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql(s"""SELECT COALESCE(l_returnflag, 'ALL') AS flag,
                 | COALESCE(l_linestatus, 'ALL') AS status,
                 | CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
                 | CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
                 | CAST(COUNT(*) AS BIGINT) AS n,
                 | ${dsumSql("l_quantity")} AS qty_sum
                 |FROM lineitem
                 |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                 |  (l_linestatus), ())
                 |ORDER BY g_flag, g_status, flag, status""".stripMargin)
      },
      Some(s"""SELECT COALESCE(l_returnflag, 'ALL') AS flag,
             | COALESCE(l_linestatus, 'ALL') AS status,
             | CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
             | CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
             | CAST(COUNT(*) AS BIGINT) AS n,
             | ${dsumSql("l_quantity")} AS qty_sum
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
             |  (l_linestatus), ())
             |ORDER BY g_flag, g_status, flag, status""".stripMargin)),

    QueryDef("q16_pivot",
      // pivot with an EXPLICIT value list (deterministic output schema
      // on any engine/cluster; an inferred pivot would need an extra
      // distinct pass and column order would depend on it).
      (s, dir) => EventStreams.readEvents(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "purchase", "view"))
        .agg(sum(col("value").cast("decimal(38,6)")).cast("double"))
        .select(col("user_id"),
          col("click").as("click_sum"), col("purchase").as("purchase_sum"),
          col("view").as("view_sum"))
        .orderBy("user_id"),
      Some("""SELECT user_id,
             | CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS click_sum,
             | CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS purchase_sum,
             | CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS view_sum
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    QueryDef("q18_cube",
      // CUBE over two dims: all four grouping sets in one shuffle
      // (Expand + partial agg merge upward), vs four scans if issued
      // naively. NULL grouping keys coalesced to 'ALL' for total order.
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql(s"""SELECT COALESCE(l_returnflag, 'ALL') AS flag,
                 | COALESCE(l_linestatus, 'ALL') AS status,
                 | ${dsumSql("l_quantity")} AS qty_sum, COUNT(*) AS n
                 |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
                 |ORDER BY flag, status""".stripMargin)
      },
      Some(s"""SELECT COALESCE(l_returnflag, 'ALL') AS flag,
              | COALESCE(l_linestatus, 'ALL') AS status,
              | ${dsumSql("l_quantity")} AS qty_sum, COUNT(*) AS n
              |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
              |ORDER BY flag, status""".stripMargin)),

    QueryDef("q19_percentile",
      // ordered-set aggregate: percentile_disc picks an ACTUAL element
      // (smallest value with cume_dist >= p) — no interpolation
      // arithmetic, so the doubles are bit-exact data values on any
      // engine. percentile_cont/approx stay Spark-side only: their
      // float interpolation / sketch is engine-specific.
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql("""SELECT l_returnflag,
                | percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS p25,
                | percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
                | percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice) AS p75
                |FROM lineitem GROUP BY l_returnflag
                |ORDER BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag,
             | percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS p25,
             | percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
             | percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice) AS p75
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    QueryDef("q20_stats",
      // variance / stddev / correlation from EXACT integer moment sums
      // (l_quantity is integral by construction; l_linenumber is an
      // int), then one float op per output — deterministic where
      // native stddev/corr (Welford order-dependent) would drift.
      // Spark side: DECIMAL(38,0) moment products (exact to 1e38, no
      // 64-bit overflow at 100 TB row counts); DuckDB side: HUGEINT.
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql("""WITH sums AS (SELECT l_returnflag,
                |  CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS DECIMAL(38,0)) AS sx,
                |  CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DECIMAL(38,0)) AS sxx,
                |  CAST(SUM(CAST(l_linenumber AS BIGINT)) AS DECIMAL(38,0)) AS sy,
                |  CAST(SUM(CAST(l_linenumber AS BIGINT) * CAST(l_linenumber AS BIGINT)) AS DECIMAL(38,0)) AS syy,
                |  CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_linenumber AS BIGINT)) AS DECIMAL(38,0)) AS sxy
                | FROM lineitem GROUP BY l_returnflag),
                | stats AS (SELECT l_returnflag, CAST(n AS BIGINT) AS n,
                |  CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) AS var_qty,
                |  CAST(n * sxy - sx * sy AS DOUBLE) /
                |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_qty_line
                | FROM sums)
                |SELECT l_returnflag, n, var_qty, sqrt(var_qty) AS stddev_qty,
                | corr_qty_line
                |FROM stats ORDER BY l_returnflag""".stripMargin)
      },
      // same moment algebra; DuckDB SUM(BIGINT) is already HUGEINT
      // (exact 128-bit), so no decimal casts needed
      Some("""WITH sums AS (SELECT l_returnflag,
             |  COUNT(*) AS n,
             |  SUM(CAST(l_quantity AS BIGINT)) AS sx,
             |  SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
             |  SUM(CAST(l_linenumber AS BIGINT)) AS sy,
             |  SUM(CAST(l_linenumber AS BIGINT) * CAST(l_linenumber AS BIGINT)) AS syy,
             |  SUM(CAST(l_quantity AS BIGINT) * CAST(l_linenumber AS BIGINT)) AS sxy
             | FROM lineitem GROUP BY l_returnflag),
             | stats AS (SELECT l_returnflag, CAST(n AS BIGINT) AS n,
             |  CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) AS var_qty,
             |  CAST(n * sxy - sx * sy AS DOUBLE) /
             |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
             |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_qty_line
             | FROM sums)
             |SELECT l_returnflag, n, var_qty, sqrt(var_qty) AS stddev_qty,
             | corr_qty_line
             |FROM stats ORDER BY l_returnflag""".stripMargin)),

    QueryDef("q21_dates",
      // date/time scalar coverage: extract, trunc, date arithmetic,
      // last_day, datediff — all integer/date outputs, no float risk.
      (s, dir) => t(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
          last_day(col("o_orderdate").cast("date")).as("eom"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since_95"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             | CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
             | CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS qtr,
             | date_trunc('month', o_orderdate) AS month_start,
             | CAST(o_orderdate AS DATE) + 30 AS plus30,
             | last_day(CAST(o_orderdate AS DATE)) AS eom,
             | CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_95
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    QueryDef("q22_window_frames",
      // window-frame coverage: LAG, NTILE, a ROWS frame (rolling
      // 3-order decimal-exact spend) and a RANGE frame (count within a
      // key distance) — per-customer partitions with a unique
      // (o_orderdate, o_orderkey) tiebreak so every rank is total.
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val rows3 = w.rowsBetween(-2, Window.currentRow)
        val range1k = Window.partitionBy("o_custkey").orderBy(col("o_orderkey"))
          .rangeBetween(-1000, Window.currentRow)
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            lag("o_orderkey", 1, -1L).over(w).as("prev_order"),
            ntile(4).over(w).as("quartile"),
            sum(col("o_totalprice").cast("decimal(38,6)")).over(rows3)
              .cast("double").as("roll3_spend"),
            count(lit(1)).over(range1k).as("near_orders"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey,
             | COALESCE(LAG(o_orderkey, 1) OVER
             |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), -1) AS prev_order,
             | CAST(NTILE(4) OVER
             |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS quartile,
             | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER
             |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll3_spend,
             | COUNT(*) OVER
             |   (PARTITION BY o_custkey ORDER BY o_orderkey
             |    RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS near_orders
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    QueryDef("q25_udaf_mean",
      // the Aggregator[IN,BUF,OUT] escape hatch in the corpus: exact
      // decimal-sum mean as a typed UDAF (partial/final merged like
      // any hash agg), hash-matching the decimal formulation DuckDB
      // computes — order-independent where a double-summing UDAF
      // would drift with the reduce tree.
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(ext.Aggregators.exactMean(col("l_quantity")).as("mean_qty"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             | CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
             |   / COUNT(*) AS mean_qty
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    QueryDef("q23_salted_join",
      // the deterministic skew remedy in the hash-checked corpus: a
      // salted inner join is EXACTLY the plain inner join (salting
      // only spreads a heavy key's rows across tasks), so the oracle
      // is the unsalted SQL. Salt = content hash, never rand() —
      // retries and speculative tasks agree.
      (s, dir) => Skew.saltedJoin(
          t(s, dir, "orders").select(col("o_orderkey"),
            col("o_custkey").as("custkey"), col("o_totalprice")),
          t(s, dir, "customer").select(col("c_custkey").as("custkey"),
            col("c_mktsegment")),
          "custkey", salts = 8)
        .select(col("o_orderkey"), col("custkey"), col("c_mktsegment"),
          col("o_totalprice"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey AS custkey, c_mktsegment,
             | o_totalprice
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_orderkey""".stripMargin)),

    QueryDef("q24_salted_agg",
      // two-phase skew-safe aggregation: partial sums on (key, salt)
      // then a final merge on key — same result as the direct decimal
      // group-by, which is the oracle.
      (s, dir) => Skew.saltedSum(
          t(s, dir, "orders"), "o_custkey", "o_totalprice", salts = 8)
        .orderBy("o_custkey"),
      Some(s"""SELECT o_custkey, ${dsumSql("o_totalprice")} AS sum_o_totalprice
              |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // ------------------------------------------------------- graph: build
    QueryDef("g01_vertices",
      (s, dir) => graph(s, dir).vertices
        .select(col("layer"), col("nodeId").as("node_id"), col("name"))
        .orderBy("layer", "node_id"),
      Some(s"""$W SELECT layer, node_id, name FROM vertices
              |ORDER BY layer, node_id""".stripMargin)),

    QueryDef("g02_edge_summary",
      (s, dir) => graph(s, dir).edges
        .groupBy(col("srcLayer").as("source_layer"),
          col("dstLayer").as("target_layer"), col("relation"))
        .agg(count(lit(1)).as("n_edges"), dsum(col("qty")).as("sum_qty"))
        .orderBy("source_layer", "target_layer", "relation"),
      Some(s"""$W SELECT source_layer, target_layer, relation,
              | COUNT(*) AS n_edges, ${dsumSql("qty")} AS sum_qty
              |FROM edges GROUP BY 1, 2, 3
              |ORDER BY source_layer, target_layer, relation""".stripMargin)),

    QueryDef("g03_degrees",
      (s, dir) => graph(s, dir).degreeTable
        .select(col("layer"), col("nodeId").as("node_id"),
          col("out_degree"), col("in_degree"), col("degree"))
        .orderBy("layer", "node_id"),
      Some(s"""$W, outd AS (SELECT source_layer, source_id, COUNT(*) AS od
              |  FROM edges GROUP BY 1, 2),
              | ind AS (SELECT target_layer, target_id, COUNT(*) AS id_
              |  FROM edges GROUP BY 1, 2)
              |SELECT v.layer, v.node_id,
              | COALESCE(od, 0) AS out_degree, COALESCE(id_, 0) AS in_degree,
              | COALESCE(od, 0) + COALESCE(id_, 0) AS degree
              |FROM vertices v
              | LEFT JOIN outd ON v.layer = outd.source_layer AND v.node_id = outd.source_id
              | LEFT JOIN ind ON v.layer = ind.target_layer AND v.node_id = ind.target_id
              |ORDER BY v.layer, v.node_id""".stripMargin)),

    // -------------------------------------------------- graph: traversals
    QueryDef("g04_khop_downstream",
      (s, dir) => {
        val g = graph(s, dir)
        val seed = minSeed(s, dir, "orders", "o_orderkey")
        Traversals.search(g, "order", seed, 3, Traversals.Downstream)
          .join(g.vertices, Seq("vid"))
          .select(col("layer"), col("nodeId").as("node_id"), col("dist"))
          .orderBy("layer", "node_id")
      },
      Some(s"""$W, walk(layer, node_id, dist) AS (
              | SELECT 'order', CAST((SELECT MIN(o_orderkey) FROM orders) AS VARCHAR), 0
              | UNION ALL
              | SELECT e.target_layer, e.target_id, w.dist + 1
              | FROM walk w JOIN edges e
              |   ON e.source_layer = w.layer AND e.source_id = w.node_id
              | WHERE w.dist < 3)
              |SELECT layer, node_id, CAST(MIN(dist) AS INT) AS dist
              |FROM walk GROUP BY layer, node_id
              |ORDER BY layer, node_id""".stripMargin)),

    QueryDef("g26_pregel_khop",
      // same semantics as g04 but on the GraphX Pregel kernel — the
      // north-star "GraphX for analytics" path under the oracle gate.
      (s, dir) => {
        val g = graph(s, dir)
        val seed = minSeed(s, dir, "orders", "o_orderkey")
        val seeds = g.vertices
          .filter(col("layer") === "order" && col("nodeId") === seed)
          .select("vid")
        GraphOps.pregelBfsSeeds(g, seeds, 3)
          .join(g.vertices, Seq("vid"))
          .select(col("layer"), col("nodeId").as("node_id"), col("dist"))
          .orderBy("layer", "node_id")
      },
      Some(s"""$W, walk(layer, node_id, dist) AS (
              | SELECT 'order', CAST((SELECT MIN(o_orderkey) FROM orders) AS VARCHAR), 0
              | UNION ALL
              | SELECT e.target_layer, e.target_id, w.dist + 1
              | FROM walk w JOIN edges e
              |   ON e.source_layer = w.layer AND e.source_id = w.node_id
              | WHERE w.dist < 3)
              |SELECT layer, node_id, CAST(MIN(dist) AS INT) AS dist
              |FROM walk GROUP BY layer, node_id
              |ORDER BY layer, node_id""".stripMargin)),

    QueryDef("g05_reachability",
      (s, dir) => {
        val g = graph(s, dir)
        val seed = minSeed(s, dir, "customer", "c_custkey")
        Traversals.search(g, "customer", seed, -1, Traversals.Bi)
          .join(g.vertices, Seq("vid"))
          .select(col("layer"), col("nodeId").as("node_id"), col("dist"))
          .orderBy("layer", "node_id")
      },
      // Bi = union of downstream closure and upstream closure, min dist
      // (searcher.py:222-223). Two bounded recursions over the DAG.
      Some(s"""$W, seed AS (SELECT CAST(MIN(c_custkey) AS VARCHAR) AS id FROM customer),
              | down(layer, node_id, dist) AS (
              |  SELECT 'customer', (SELECT id FROM seed), 0
              |  UNION ALL
              |  SELECT e.target_layer, e.target_id, w.dist + 1
              |  FROM down w JOIN edges e
              |    ON e.source_layer = w.layer AND e.source_id = w.node_id
              |  WHERE w.dist < 10),
              | up(layer, node_id, dist) AS (
              |  SELECT 'customer', (SELECT id FROM seed), 0
              |  UNION ALL
              |  SELECT e.source_layer, e.source_id, w.dist + 1
              |  FROM up w JOIN edges e
              |    ON e.target_layer = w.layer AND e.target_id = w.node_id
              |  WHERE w.dist < 10)
              |SELECT layer, node_id, CAST(MIN(dist) AS INT) AS dist
              |FROM (SELECT * FROM down UNION ALL SELECT * FROM up)
              |GROUP BY layer, node_id ORDER BY layer, node_id""".stripMargin)),

    QueryDef("g06_upstream_khop",
      (s, dir) => {
        val g = graph(s, dir)
        val seed = minSeed(s, dir, "region", "r_regionkey")
        Traversals.search(g, "region", seed, 2, Traversals.Upstream)
          .join(g.vertices, Seq("vid"))
          .select(col("layer"), col("nodeId").as("node_id"), col("dist"))
          .orderBy("layer", "node_id")
      },
      Some(s"""$W, walk(layer, node_id, dist) AS (
              | SELECT 'region', CAST((SELECT MIN(r_regionkey) FROM region) AS VARCHAR), 0
              | UNION ALL
              | SELECT e.source_layer, e.source_id, w.dist + 1
              | FROM walk w JOIN edges e
              |   ON e.target_layer = w.layer AND e.target_id = w.node_id
              | WHERE w.dist < 2)
              |SELECT layer, node_id, CAST(MIN(dist) AS INT) AS dist
              |FROM walk GROUP BY layer, node_id
              |ORDER BY layer, node_id""".stripMargin)),

    QueryDef("g07_components",
      (s, dir) => {
        val g = graph(s, dir)
          .viewLayers(Seq("customer", "nation"))
          .filterEdges(col("relation") === "cust_nation")
        Traversals.componentSizes(g)
          .select(col("comp").as("component"), col("size"))
          .orderBy("component")
      },
      // customer->nation stars: component = nation + its customers;
      // label = lexicographic min member name "layer:node_id".
      Some(s"""$W, members AS (
              | SELECT 'nation:' || node_id AS member, node_id AS nkey FROM vertices WHERE layer = 'nation'
              | UNION ALL
              | SELECT 'customer:' || source_id, target_id
              | FROM edges WHERE relation = 'cust_nation')
              |SELECT MIN(member) AS component, COUNT(*) AS size
              |FROM members GROUP BY nkey ORDER BY component""".stripMargin)),

    QueryDef("g57_components_logstar",
      // weak components via alternating large-star/small-star
      // contraction (Kiveris et al. 2014): O(log n) rounds regardless
      // of diameter, vs label propagation's Ω(diameter) (the chain
      // measurements in SCALE.md). Same kernel as g07; per-vertex
      // assignments checked, not just sizes.
      (s, dir) => {
        val g = graph(s, dir)
          .viewLayers(Seq("customer", "nation"))
          .filterEdges(col("relation") === "cust_nation")
        Traversals.weakComponents(g)
          .join(g.vertices, Seq("vid"))
          .select(concat_ws(":", col("layer"), col("nodeId")).as("node"),
            col("comp"))
          .orderBy("node")
      },
      Some(s"""$W, members AS (
              | SELECT 'nation:' || node_id AS member, node_id AS nkey
              |  FROM vertices WHERE layer = 'nation'
              | UNION ALL
              | SELECT 'customer:' || source_id, target_id
              | FROM edges WHERE relation = 'cust_nation')
              |SELECT member AS node,
              | MIN(member) OVER (PARTITION BY nkey) AS comp
              |FROM members ORDER BY node""".stripMargin)),

    QueryDef("g55_graph_card",
      // graph datasheet (the x71 dataset-card counterpart): sizes,
      // layer/relation vocabularies, degree extremes, isolated count
      // — every value a BIGINT, so ingest-day cards diff meaningfully
      // and the card re-derives identically on any engine.
      (s, dir) => graft.views.Exporter.graphCard(graph(s, dir))
        .orderBy("metric"),
      Some(s"""$W, outd AS (SELECT COUNT(*) AS d FROM edges
              |   GROUP BY source_layer, source_id),
              | ind AS (SELECT COUNT(*) AS d FROM edges
              |   GROUP BY target_layer, target_id)
              |SELECT * FROM (
              | SELECT 'n_vertices' AS metric,
              |  CAST(COUNT(*) AS BIGINT) AS value FROM vertices
              | UNION ALL SELECT 'n_edges', COUNT(*) FROM edges
              | UNION ALL SELECT 'n_layers', COUNT(DISTINCT layer)
              |  FROM vertices
              | UNION ALL SELECT 'n_relations', COUNT(DISTINCT relation)
              |  FROM edges
              | UNION ALL SELECT 'max_out_degree', (SELECT MAX(d) FROM outd)
              | UNION ALL SELECT 'max_in_degree', (SELECT MAX(d) FROM ind)
              | UNION ALL SELECT 'n_isolated', COUNT(*) FROM vertices v
              |  WHERE NOT EXISTS (SELECT 1 FROM edges e
              |   WHERE (e.source_layer = v.layer AND e.source_id = v.node_id)
              |      OR (e.target_layer = v.layer AND e.target_id = v.node_id)))
              |ORDER BY metric""".stripMargin)),

    QueryDef("g08_bipartite_summary",
      (s, dir) => {
        val b = graph(s, dir).bipartite("order", "part")
        b.vertices.groupBy("layer")
          .agg(count(lit(1)).as("n_vertices"))
          .join(
            b.edges.groupBy(col("srcLayer").as("layer"))
              .agg(count(lit(1)).as("n_out_edges")),
            Seq("layer"), "left")
          .na.fill(0L, Seq("n_out_edges"))
          .orderBy("layer")
      },
      Some("""WITH pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
             |SELECT 'order' AS layer,
             | CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_vertices,
             | CAST(COUNT(*) AS BIGINT) AS n_out_edges FROM pairs
             |UNION ALL
             |SELECT 'part', CAST(COUNT(DISTINCT l_partkey) AS BIGINT), 0 FROM pairs
             |ORDER BY layer""".stripMargin)),

    QueryDef("g09_on_shortest",
      (s, dir) => {
        val g = graph(s, dir)
        val seed = minSeed(s, dir, "customer", "c_custkey")
        Traversals.onShortestPath(g,
            col("layer") === "customer" && col("nodeId") === seed,
            col("layer") === "region")
          .join(g.vertices, Seq("vid"))
          .select(col("layer"), col("nodeId").as("node_id"))
          .orderBy("layer", "node_id")
      },
      // customer -> nation -> region is the unique shortest chain.
      Some(s"""$W, seed AS (SELECT CAST(MIN(c_custkey) AS VARCHAR) AS id FROM customer),
              | nat AS (SELECT target_id AS nid FROM edges
              |   WHERE relation = 'cust_nation' AND source_id = (SELECT id FROM seed)),
              | reg AS (SELECT target_id AS rid FROM edges
              |   WHERE relation = 'nation_region' AND source_id IN (SELECT nid FROM nat))
              |SELECT 'customer' AS layer, (SELECT id FROM seed) AS node_id
              |UNION ALL SELECT 'nation', nid FROM nat
              |UNION ALL SELECT 'region', rid FROM reg
              |ORDER BY layer, node_id""".stripMargin)),

    QueryDef("g25_traversed_edges",
      // T2 edge marking: edges swept by the downstream closure from
      // the smallest order vertex.
      (s, dir) => {
        val g = graph(s, dir)
        val seedKey = minSeed(s, dir, "orders", "o_orderkey")
        val seeds = g.vertices
          .filter(col("layer") === "order" && col("nodeId") === seedKey)
          .select("vid")
        Traversals.reachableEdges(g, seeds, Traversals.Downstream)
          .select(col("srcLayer").as("source_layer"), col("srcId").as("source_id"),
            col("dstLayer").as("target_layer"), col("dstId").as("target_id"),
            col("relation"))
          .orderBy("source_layer", "source_id", "target_layer", "target_id")
      },
      Some(s"""$W, walk(layer, node_id, dist) AS (
              | SELECT 'order', CAST((SELECT MIN(o_orderkey) FROM orders) AS VARCHAR), 0
              | UNION ALL
              | SELECT e.target_layer, e.target_id, w.dist + 1
              | FROM walk w JOIN edges e
              |   ON e.source_layer = w.layer AND e.source_id = w.node_id
              | WHERE w.dist < 10),
              | reach AS (SELECT DISTINCT layer, node_id FROM walk)
              |SELECT source_layer, source_id, target_layer, target_id, relation
              |FROM edges e JOIN reach r
              |  ON e.source_layer = r.layer AND e.source_id = r.node_id
              |ORDER BY source_layer, source_id, target_layer, target_id""".stripMargin)),

    // ------------------------------------------------- graph: views/props
    QueryDef("g10_filter_view",
      (s, dir) => {
        val g = Filters.filterViewByProperty(
          graph(s, dir).filterVertices(
            (col("layer") === "customer" && col("acctbal") > 2000) ||
            (col("layer") === "order" && col("price") > 20000)),
          Filters.EdgeDim, "relation", "==", "order_cust")
        g.edges.groupBy("relation").agg(count(lit(1)).as("n_edges"))
          .orderBy("relation")
      },
      Some("""SELECT 'order_cust' AS relation, COUNT(*) AS n_edges
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE c_acctbal > 2000 AND o_totalprice > 20000
             |GROUP BY 1 ORDER BY relation""".stripMargin)),

    QueryDef("g11_layout_by_layer",
      (s, dir) => VizData.layoutByLayer(graph(s, dir).vertices, 2.0, 1.0)
        .select(col("layer"), col("nodeId").as("node_id"), col("x"), col("y"))
        .orderBy("layer", "node_id"),
      Some(s"""$W SELECT layer, node_id,
              | CAST((DENSE_RANK() OVER (ORDER BY layer) - 1) * 2.0 AS DOUBLE) AS x,
              | CAST(ROW_NUMBER() OVER (PARTITION BY layer ORDER BY node_id) - 1 AS DOUBLE) AS y
              |FROM vertices ORDER BY layer, node_id""".stripMargin)),

    QueryDef("g12_barycenter_layout",
      (s, dir) => VizData.bipartiteOrderedLayout(graph(s, dir), "nation", "customer")
        .select(col("layer"), col("nodeId").as("node_id"), col("x"), col("y"))
        .orderBy("layer", "node_id"),
      Some(s"""$W, leftL AS (
              | SELECT node_id, 0.0 AS x,
              |  CAST(ROW_NUMBER() OVER (ORDER BY node_id) - 1 AS DOUBLE) AS y
              | FROM vertices WHERE layer = 'nation'),
              | bary AS (
              |  SELECT e.source_id AS cid, AVG(l.y) AS b
              |  FROM edges e JOIN leftL l ON e.target_id = l.node_id
              |  WHERE e.relation = 'cust_nation' GROUP BY e.source_id),
              | rightL AS (
              |  SELECT v.node_id, 1.0 AS x,
              |   CAST(ROW_NUMBER() OVER (ORDER BY COALESCE(b.b, 1e308), v.node_id) - 1 AS DOUBLE) AS y
              |  FROM vertices v LEFT JOIN bary b ON v.node_id = b.cid
              |  WHERE v.layer = 'customer')
              |SELECT 'nation' AS layer, node_id, x, y FROM leftL
              |UNION ALL SELECT 'customer', node_id, x, y FROM rightL
              |ORDER BY layer, node_id""".stripMargin)),

    QueryDef("g13_prop_to_size",
      (s, dir) => VizData.propToSize(
          graph(s, dir).vertices.filter(col("layer") === "customer"),
          "acctbal", 1.0, 10.0)
        .select(col("nodeId").as("node_id"),
          col("acctbal_size").as("size"))
        .orderBy("node_id"),
      Some("""SELECT CAST(c_custkey AS VARCHAR) AS node_id,
             | 1.0 + (c_acctbal - mn) / (mx - mn) * 9.0 AS size
             |FROM customer,
             | (SELECT MIN(c_acctbal) AS mn, MAX(c_acctbal) AS mx FROM customer)
             |ORDER BY node_id""".stripMargin)),

    QueryDef("g14_color_continuous",
      (s, dir) => VizData.colorContinuous(
          graph(s, dir).vertices.filter(col("layer") === "customer"),
          "acctbal", zeroCentred = true)
        .select(col("nodeId").as("node_id"),
          col("acctbal_color_val").as("color_val"))
        .orderBy("node_id"),
      Some("""SELECT CAST(c_custkey AS VARCHAR) AS node_id,
             | (c_acctbal + m) / (2 * m) AS color_val
             |FROM customer,
             | (SELECT GREATEST(ABS(MIN(c_acctbal)), ABS(MAX(c_acctbal))) AS m
             |  FROM customer)
             |ORDER BY node_id""".stripMargin)),

    QueryDef("g31_edge_color",
      // V1 edge-dim continuous coloring (`color_edges`,
      // visualisation.py:420-496): the V1 normalize math is
      // dim-generic, so the same operator colors the EDGE table —
      // here lineitem-derived order->part edges by summed quantity.
      (s, dir) => {
        val e = graph(s, dir).edges.filter(col("relation") === "order_part")
        VizData.colorContinuous(e, "qty")
          .select(col("srcId").as("source_id"), col("dstId").as("target_id"),
            col("qty"), col("qty_color_val").as("color_val"))
          .orderBy("source_id", "target_id")
      },
      Some(s"""$W SELECT source_id, target_id, qty,
              | (qty - mn) / (mx - mn) AS color_val
              |FROM edges, (SELECT MIN(qty) AS mn, MAX(qty) AS mx
              |  FROM edges WHERE relation = 'order_part')
              |WHERE relation = 'order_part'
              |ORDER BY source_id, target_id""".stripMargin)),

    QueryDef("g15_labels_codes",
      (s, dir) => {
        val cust = PropertyOps.withNodeLabels(
          graph(s, dir).viewLayers(Seq("customer"))).vertices
        PropertyOps.encodeCategorical(cust, "segment")
          .select(col("nodeId").as("node_id"), col("label"),
            col("segment"), col("segment_code").cast("long").as("segment_code"))
          .orderBy("node_id")
      },
      Some("""SELECT CAST(c_custkey AS VARCHAR) AS node_id,
             | 'customer:' || CAST(c_custkey AS VARCHAR) AS label,
             | c_mktsegment AS segment,
             | CAST(DENSE_RANK() OVER (ORDER BY c_mktsegment) - 1 AS BIGINT) AS segment_code
             |FROM customer ORDER BY node_id""".stripMargin)),

    // --------------------------------------------------- LLM-pipeline ext
    QueryDef("x01_dedup_exact",
      (s, dir) => Dedup.exact(t(s, dir, "documents"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS canonical_id,
             | doc_id <> MIN(doc_id) OVER (PARTITION BY text) AS is_duplicate
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("x02_token_stats",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextOps.bpeTokenEstimate(col("text")).as("bpe_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             | CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             | CAST(GREATEST(CEIL(LENGTH(text) / 4.0), 0) AS BIGINT) AS bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("x29_array_ops",
      // the higher-order-function surface itself (sort/distinct/slice/
      // transform/max/contains over arrays) checked against DuckDB's
      // list functions — the building blocks every shingle/token
      // pipeline composes, exercised here as first-class operators.
      (s, dir) => {
        val tks = TextOps.tokens(col("text"))
        t(s, dir, "documents")
          .select(col("doc_id"),
            size(tks).cast("long").as("n_tokens"),
            size(array_distinct(tks)).cast("long").as("n_distinct"),
            array_join(slice(sort_array(array_distinct(tks)), 1, 3), ",")
              .as("first3_sorted"),
            array_max(transform(tks, x => length(x))).cast("long")
              .as("max_tok_len"),
            array_contains(tks, "the").as("has_the"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id,
             |  string_split_regex(trim(text), '\s+') AS t FROM documents)
             |SELECT doc_id,
             | CAST(len(t) AS BIGINT) AS n_tokens,
             | CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
             | array_to_string(list_sort(list_distinct(t))[1:3], ',') AS first3_sorted,
             | CAST(list_max([length(x) for x in t]) AS BIGINT) AS max_tok_len,
             | list_contains(t, 'the') AS has_the
             |FROM tk ORDER BY doc_id""".stripMargin)),

    QueryDef("x31_chunking",
      // context-window prep: 6-token chunks every 4 tokens (overlap 2)
      // — every chunk re-derivable by the oracle (pure slicing, no
      // hash family involved), totally ordered by (doc, chunk_idx).
      (s, dir) => TextOps.chunk(docs(s, dir), window = 6, stride = 4)
        .withColumn("chunk_idx", col("chunk_idx").cast("long"))
        .orderBy("doc_id", "chunk_idx"),
      // starts stop at n - (window - stride): later windows are strict
      // subsets of their predecessor (duplicate training data)
      Some("""WITH tk AS (SELECT doc_id,
             |  string_split_regex(trim(text), '\s+') AS t FROM documents),
             | st AS (SELECT doc_id, t,
             |  UNNEST(range(0, GREATEST(len(t) - 2, 1), 4)) AS s FROM tk)
             |SELECT doc_id, CAST(s // 4 AS BIGINT) AS chunk_idx,
             | array_to_string(t[s + 1 : s + 6], ' ') AS chunk_text,
             | CAST(LEAST(6, len(t) - s) AS BIGINT) AS chunk_tokens
             |FROM st WHERE array_to_string(t[s + 1 : s + 6], ' ') <> ''
             |ORDER BY doc_id, chunk_idx""".stripMargin)),

    QueryDef("x32_scrub",
      // email -> URL -> digit-run placeholder canonicalization; the
      // regexes live in the Java∩RE2 common syntax so DuckDB applies
      // the identical patterns ('g' = Spark's replace-all default).
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextOps.scrub(col("text")).as("scrubbed"))
        .orderBy("doc_id"),
      // explicit whitespace class, not \s: Java's \s has \x0B, RE2's
      // does not — this class is identical in both engines
      Some("""SELECT doc_id,
             | regexp_replace(regexp_replace(regexp_replace(text,
             |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
             |   'https?://[^ \t\n\r\f\x0B]+', '<URL>', 'g'),
             |   '[0-9]+', '<NUM>', 'g') AS scrubbed
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("x04_quality",
      (s, dir) => TextOps.qualityFeatures(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("mean_token_len"),
          col("stopword_ratio"), col("quality_score"))
        .orderBy("doc_id"),
      // Raw (unrounded) doubles: both engines evaluate the identical
      // expression tree over identical inputs -> bit-identical output.
      Some("""WITH f AS (SELECT doc_id,
             |  string_split_regex(trim(text), '\s+') AS t, LENGTH(text) AS nc
             | FROM documents),
             | g AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             |  (nc + 1.0) / (len(t) + 1.0) AS mtl,
             |  len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','that','it','for')))
             |    / GREATEST(CAST(len(t) AS DOUBLE), 1.0) AS sr
             | FROM f)
             |SELECT doc_id, n_tokens, mtl AS mean_token_len,
             | sr AS stopword_ratio,
             | LEAST(1.0, n_tokens / 50.0) * 0.4
             |  + CASE WHEN mtl BETWEEN 3.0 AND 12.0 THEN 0.3 ELSE 0.0 END
             |  + LEAST(sr * 3.0, 1.0) * 0.3 AS quality_score
             |FROM g ORDER BY doc_id""".stripMargin)),

    QueryDef("x05_fingerprint",
      (s, dir) => TextOps.fingerprint(t(s, dir, "documents"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, text,
             |  string_split_regex(trim(text), '\s+') AS tk FROM documents)
             |SELECT doc_id, md5(text) AS content_md5,
             | list_min(list_transform(
             |   list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |     for i in generate_series(1, len(tk) - 2)]),
             |   x -> md5(x))) AS min_shingle_md5,
             | CAST(len(tk) AS BIGINT) AS n_tokens
             |FROM t ORDER BY doc_id""".stripMargin)),

    QueryDef("x06_ngram_jaccard",
      // block on (lang, length bucket): near-dups share both, and the
      // per-block pair count stays bounded as the corpus grows
      (s, dir) => Dedup.ngramJaccard(docs(s, dir),
          blockKey = concat_ws("|", col("lang"),
            (col("n_chars") / 50).cast("long")),
          minJaccard = 0.25, w = 2)
        .select(col("a"), col("b"), col("jaccard"))
        .orderBy("a", "b"),
      Some("""WITH toks AS (SELECT doc_id,
             |  lang || '|' || (n_chars // 50) AS blk,
             |  string_split_regex(trim(text), '\s+') AS tk FROM documents),
             | sh AS (SELECT doc_id, blk,
             |  list_distinct([tk[i] || ' ' || tk[i+1]
             |    for i in generate_series(1, len(tk) - 1)]) AS s
             | FROM toks),
             | j AS (SELECT l.doc_id AS a, r.doc_id AS b,
             |  CAST(len(list_intersect(l.s, r.s)) AS DOUBLE)
             |   / (len(l.s) + len(r.s) - len(list_intersect(l.s, r.s))) AS jaccard
             | FROM sh l JOIN sh r ON l.blk = r.blk AND l.doc_id < r.doc_id)
             |SELECT a, b, jaccard FROM j WHERE jaccard >= 0.25
             |ORDER BY a, b""".stripMargin)),

    QueryDef("x07_minhash_lsh",
      // banded MinHash+LSH near-dup pairs at the LOOSE 0.5 threshold
      // (x26 audits the tight 0.7 cut) under the portable md5 family,
      // so signatures, banded candidates and verified pairs all
      // re-derive in the oracle. The xxhash64 fast family
      // (Dedup.minhashLsh) has engine-private seeds by design; it
      // stays spec-pinned against this family in ExtSpec (verified
      // pairs are a property of the documents, not the hash family).
      (s, dir) => Dedup.minhashLshPortable(docs(s, dir), threshold = 0.5)
        .select(col("a"), col("b"), col("jaccard"))
        .orderBy("a", "b"),
      Some(s"""WITH $portableMinhashCtes
              |SELECT a, b, jaccard FROM verified WHERE jaccard >= 0.5
              |ORDER BY a, b""".stripMargin)),

    QueryDef("x08_simhash",
      // SimHash pairs at the WIDE Hamming cut (<=10; x27 audits <=6)
      // under the portable md5 token family — fingerprints, blocks
      // and pair distances re-derive in the oracle. The xxhash64
      // fast-family fingerprints are engine-private; spec-pinned in
      // ExtSpec (identical docs collide at hamming 0 in both).
      (s, dir) => Dedup.simhashPairs(docs(s, dir), maxDist = 10,
          tokenHash = Dedup.md5TokenHash)
        .orderBy("a", "b"),
      Some("""WITH hs AS (SELECT doc_id,
             |  [CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
             |   for t in string_split_regex(trim(text), '\s+')] AS h
             |  FROM documents),
             | fp AS (SELECT doc_id, CAST(list_sum([
             |   CASE WHEN list_sum([CAST(((hv >> b) & 1) * 2 - 1 AS BIGINT)
             |     for hv in h]) > 0
             |   THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END
             |   for b in generate_series(0, 59)]) AS BIGINT) AS fp FROM hs),
             | blocked AS (SELECT doc_id, fp, fp >> 56 AS blk FROM fp),
             | pairs AS (SELECT l.doc_id AS a, r.doc_id AS b,
             |   CAST(bit_count(xor(l.fp, r.fp)) AS INT) AS hamming
             |  FROM blocked l JOIN blocked r
             |    ON l.blk = r.blk AND l.doc_id < r.doc_id)
             |SELECT a, b, hamming FROM pairs WHERE hamming <= 10
             |ORDER BY a, b""".stripMargin)),

    QueryDef("x09_sim_bruteforce",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
          .select(col("query_id"), col("neighbor_id"),
            round(col("cosine"), 4).as("cosine"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
             |  FROM embeddings WHERE vec_id < 5),
             | scored AS (SELECT query_id, e.vec_id AS neighbor_id,
             |   list_cosine_similarity(qv, e.embedding::DOUBLE[]) AS cos
             |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
             | ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             |   ORDER BY cos DESC, neighbor_id) AS INT) AS rank FROM scored)
             |SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine, rank
             |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    QueryDef("x10_sim_lsh",
      // sign-LSH ANN under the portable md5 plane family, WIDER query
      // set than x28 (8 queries vs 5) and WITH the rounded cosine in
      // the result (x09 precedent: one l-to-r float op re-derives to
      // 4 decimals in DuckDB). The xxhash64 plane family
      // (Similarity.lshTopK) stays spec-pinned in ExtSpec (recall
      // floor vs brute force; identical vectors always co-bucket).
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.lshTopKPortable(emb, emb.filter(col("vec_id") < 8), 10)
          .select(col("query_id"), col("neighbor_id"),
            round(col("cosine"), 4).as("cosine"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             | qz AS (SELECT vec_id, v,
             |   [CAST(floor(x * 1e6) AS BIGINT) for x in v] AS q FROM emb),
             | b AS (SELECT vec_id, v, CAST(list_sum([
             |   CASE WHEN list_sum([q[i] *
             |     (CASE WHEN CAST(('0x' || substr(md5(p || ':' || i), 1, 1)) AS BIGINT) % 2 = 0
             |      THEN 1 ELSE -1 END)
             |     for i in generate_series(1, len(q))]) >= 0
             |   THEN CAST(1 AS BIGINT) << p ELSE 0 END
             |   for p in generate_series(0, 5)]) AS BIGINT) AS bucket FROM qz),
             | scored AS (SELECT qq.vec_id AS query_id, nn.vec_id AS neighbor_id,
             |   list_cosine_similarity(qq.v, nn.v) AS cos
             |  FROM b qq JOIN b nn ON qq.bucket = nn.bucket
             |    AND qq.vec_id <> nn.vec_id
             |  WHERE qq.vec_id < 8),
             | ranked AS (SELECT query_id, neighbor_id, cos,
             |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             |     ORDER BY cos DESC, neighbor_id) AS INT) AS rank FROM scored)
             |SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine, rank
             |FROM ranked WHERE rank <= 10
             |ORDER BY query_id, rank""".stripMargin)),

    QueryDef("x03_langid",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      // argmax over (score, lang) — ROW_NUMBER(score DESC, lang DESC)
      // mirrors Spark's greatest(struct(score, lang)) tie-break.
      Some("""WITH toks AS (SELECT doc_id,
             |  string_split_regex(trim(text), '\s+') AS t FROM documents),
             | sc AS (
             |  SELECT doc_id, len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS score, 'en' AS lang FROM toks
             |  UNION ALL SELECT doc_id, len(list_filter(t, x -> x IN ('el','la','de','que','y','en','un','por','con','los'))), 'es' FROM toks
             |  UNION ALL SELECT doc_id, len(list_filter(t, x -> x IN ('le','la','de','et','les','des','en','un','du','que'))), 'fr' FROM toks
             |  UNION ALL SELECT doc_id, len(list_filter(t, x -> x IN ('der','die','und','das','von','zu','mit','den','ist','ein'))), 'de' FROM toks),
             | best AS (SELECT doc_id, score, lang, ROW_NUMBER() OVER (
             |   PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn FROM sc)
             |SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
             |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    QueryDef("x11_sim_ivf",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        // FIXED centroid budget (32): a production IVF sizes its
        // codebook independently of the corpus (~sqrt(N), trained once
        // — cf. Clustering.kmeans). The unbudgeted `% 100` rule made
        // cell assignment corpus x centroids = quadratic in corpus
        // (measured x42 at the sf1 decade, SCALE.md). 32 > the 20
        // centroids sf0.1 yields, so test-SF results are unchanged.
        val centroids = emb.filter(col("vec_id") % 100 === 0)
          .orderBy("vec_id").limit(32)
          .select(col("vec_id").as("centroid_id"), col("embedding"))
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), centroids, 5)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy("query_id", "rank")
      },
      // approximate by construction but fully DETERMINISTIC: centroid
      // rule is arithmetic, and both engines' dot/cosine accumulate
      // left-to-right in doubles (bit-identical — proven by x09), so
      // even the ANN result set hash-matches. Only integer columns are
      // emitted; floats only order.
      Some("""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             | cent AS (SELECT vec_id AS centroid_id, v AS cv FROM emb
             |   WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 32),
             | corpus_cell AS (SELECT vec_id, centroid_id FROM (
             |   SELECT e.vec_id, c.centroid_id,
             |     ROW_NUMBER() OVER (PARTITION BY e.vec_id
             |       ORDER BY -list_dot_product(e.v, c.cv), c.centroid_id) AS rk
             |   FROM emb e CROSS JOIN cent c) WHERE rk <= 1),
             | query_cell AS (SELECT vec_id, centroid_id FROM (
             |   SELECT e.vec_id, c.centroid_id,
             |     ROW_NUMBER() OVER (PARTITION BY e.vec_id
             |       ORDER BY -list_dot_product(e.v, c.cv), c.centroid_id) AS rk
             |   FROM emb e CROSS JOIN cent c WHERE e.vec_id < 5) WHERE rk <= 2),
             | scored AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             |   list_cosine_similarity(qe.v, ne.v) AS cos
             |  FROM query_cell q JOIN corpus_cell n USING (centroid_id)
             |  JOIN emb qe ON qe.vec_id = q.vec_id
             |  JOIN emb ne ON ne.vec_id = n.vec_id
             |  WHERE q.vec_id <> n.vec_id),
             | ranked AS (SELECT query_id, neighbor_id,
             |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             |     ORDER BY cos DESC, neighbor_id) AS INT) AS rank FROM scored)
             |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    QueryDef("x13_flatten_labels",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          PropertyOps.joinedLabels(
            array(array(col("lang"), col("lang")), array(col("source"))))
            .as("labels"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang || ', ' || source AS labels
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------- graph: more operators
    QueryDef("g16_depth_sizes",
      (s, dir) => {
        val g = graph(s, dir)
        val seed = minSeed(s, dir, "region", "r_regionkey")
        Traversals.depthScaledSizesAndText(g, "region", seed, 1.0, 10.0, 8.0, 15.0)
          .join(g.vertices, Seq("vid"))
          .select(col("layer"), col("nodeId").as("node_id"), col("dist"),
            col("size"), col("text_size"))
          .orderBy("layer", "node_id")
      },
      Some(s"""$W, und AS (
              | SELECT source_layer AS sl, source_id AS si, target_layer AS tl, target_id AS ti FROM edges
              | UNION ALL
              | SELECT target_layer, target_id, source_layer, source_id FROM edges),
              | walk(layer, node_id, dist) AS (
              |  SELECT 'region', CAST((SELECT MIN(r_regionkey) FROM region) AS VARCHAR), 0
              |  UNION
              |  SELECT u.tl, u.ti, w.dist + 1 FROM walk w
              |  JOIN und u ON u.sl = w.layer AND u.si = w.node_id
              |  WHERE w.dist < 12),
              | d AS (SELECT layer, node_id, CAST(MIN(dist) AS INT) AS dist
              |  FROM walk GROUP BY layer, node_id),
              | m AS (SELECT GREATEST(MAX(dist), 1) AS maxd FROM d)
              |SELECT layer, node_id, dist,
              | 10.0 - 9.0 * dist / CAST(maxd AS DOUBLE) AS size,
              | 15.0 - 7.0 * dist / CAST(maxd AS DOUBLE) AS text_size
              |FROM d, m ORDER BY layer, node_id""".stripMargin)),

    QueryDef("g17_node_props",
      (s, dir) => {
        val seed = minSeed(s, dir, "customer", "c_custkey")
        PropertyOps.viewNodeProperties(graph(s, dir), "customer", seed)
          .select(col("layer"), col("nodeId").as("node_id"), col("name"),
            col("acctbal"), coalesce(col("price"), lit(-1.0)).as("price"),
            col("segment"))
      },
      Some("""SELECT 'customer' AS layer, CAST(c_custkey AS VARCHAR) AS node_id,
             | c_name AS name, c_acctbal AS acctbal, -1.0 AS price,
             | c_mktsegment AS segment
             |FROM customer WHERE c_custkey = (SELECT MIN(c_custkey) FROM customer)""".stripMargin)),

    QueryDef("g18_halo",
      (s, dir) => {
        val seed = minSeed(s, dir, "customer", "c_custkey")
        VizData.addHalo(graph(s, dir).viewLayers(Seq("customer")), "customer", seed)
          .vertices
          .select(col("nodeId").as("node_id"), col("halo"))
          .orderBy("node_id")
      },
      Some("""SELECT CAST(c_custkey AS VARCHAR) AS node_id,
             | c_custkey = (SELECT MIN(c_custkey) FROM customer) AS halo
             |FROM customer ORDER BY node_id""".stripMargin)),

    QueryDef("g19_shapes",
      (s, dir) => VizData.shapeNodes(
          graph(s, dir).viewLayers(Seq("customer")).vertices, "segment", nShapes = 3)
        .select(col("nodeId").as("node_id"), col("segment"),
          col("segment_shape_idx").cast("long").as("shape_idx"))
        .orderBy("node_id"),
      Some("""SELECT CAST(c_custkey AS VARCHAR) AS node_id,
             | c_mktsegment AS segment,
             | CAST((DENSE_RANK() OVER (ORDER BY c_mktsegment) - 1) % 3 AS BIGINT) AS shape_idx
             |FROM customer ORDER BY node_id""".stripMargin)),

    QueryDef("g20_pagerank",
      // deterministic fixed-point PageRank over the 3-layer supplier
      // slice (g27 covers the 4-layer slice): BIGINT micro-units and
      // integer division, exact under ANY partitioning or engine —
      // hash-matches the oracle. The GraphX float fast path
      // (pageRankStatic) is not hash-stable by nature; it stays
      // spec-pinned against this kernel in GraphOpsSpec.
      (s, dir) => {
        val g = graph(s, dir).viewLayers(Seq("region", "nation", "supplier"))
        GraphOps.pageRankFixedPoint(g, iters = PrFixedIters)
          .join(g.vertices, Seq("vid"))
          .select(col("layer"), col("nodeId").as("node_id"), col("rank_fp"))
          .orderBy("layer", "node_id")
      },
      Some(pagerankFixedSql(Seq("region", "nation", "supplier"),
        PrFixedIters))),

    QueryDef("g27_pagerank_fixed",
      // deterministic fixed-point PageRank (BIGINT micro-units,
      // integer division — exact under ANY partitioning or engine), so
      // unlike g20's floating ranks this one hash-matches the oracle.
      (s, dir) => {
        val g = graph(s, dir)
          .viewLayers(Seq("region", "nation", "supplier", "customer"))
        GraphOps.pageRankFixedPoint(g, iters = PrFixedIters)
          .join(g.vertices, Seq("vid"))
          .select(col("layer"), col("nodeId").as("node_id"), col("rank_fp"))
          .orderBy("layer", "node_id")
      },
      Some(pagerankFixedSql(Seq("region", "nation", "supplier", "customer"),
        PrFixedIters))),

    QueryDef("g38_personalized_pagerank",
      // personalized fixed-point PageRank: reset mass lands only on
      // the seed (the smallest customer), so ranks measure proximity
      // to it — same exact integer arithmetic as g27, hash-matched.
      (s, dir) => {
        val g = graph(s, dir)
          .viewLayers(Seq("region", "nation", "supplier", "customer"))
        val seed = minSeed(s, dir, "customer", "c_custkey")
        val seeds = g.vertices
          .where(col("layer") === "customer" && col("nodeId") === seed)
          .select("vid")
        GraphOps.pageRankFixedPoint(g, iters = PrFixedIters, seeds = Some(seeds))
          .join(g.vertices, Seq("vid"))
          .select(col("layer"), col("nodeId").as("node_id"), col("rank_fp"))
          .orderBy("layer", "node_id")
      },
      Some(pagerankFixedSql(Seq("region", "nation", "supplier", "customer"),
        PrFixedIters,
        seedSql = Some("layer = 'customer' AND node_id = " +
          "CAST((SELECT MIN(c_custkey) FROM customer) AS VARCHAR)")))),

    QueryDef("g28_set_property",
      // P3 point-write (immutable setVertexProperty) surfaced as a
      // corpus query: flag one vertex, read the layer back.
      (s, dir) => {
        val g = graph(s, dir)
        val seed = minSeed(s, dir, "region", "r_regionkey")
        val g2 = PropertyOps.setVertexProperty(g, "region", seed,
          "highlight", lit(true))
        g2.vertices.filter(col("layer") === "region")
          .select(col("nodeId").as("node_id"), col("name"),
            coalesce(col("highlight"), lit(false)).as("highlight"))
          .orderBy("node_id")
      },
      Some(s"""$W SELECT node_id, name,
             | (node_id = (SELECT CAST(MIN(r_regionkey) AS VARCHAR) FROM region))
             |   AS highlight
             |FROM vertices WHERE layer = 'region' ORDER BY node_id""".stripMargin)),

    QueryDef("g29_fillna",
      // C2 fill-NA on property columns (builder.py:136-139 semantics
      // on the property surface): nulls -> sentinel, then aggregate.
      (s, dir) => graph(s, dir).vertices
        .na.fill(Map("acctbal" -> 0.0, "segment" -> "NONE"))
        .groupBy("layer")
        .agg(dsum(col("acctbal")).as("sum_acctbal"),
          count(when(col("segment") === "NONE", 1)).as("n_filled"))
        .orderBy("layer"),
      Some(s"""$W SELECT layer,
             | ${dsumSql("COALESCE(acctbal, 0)")} AS sum_acctbal,
             | COUNT(CASE WHEN COALESCE(segment, 'NONE') = 'NONE' THEN 1 END)
             |   AS n_filled
             |FROM vertices GROUP BY layer ORDER BY layer""".stripMargin)),

    QueryDef("g30_decode",
      // C6 decode with the Unknown default (property_manager.py:198):
      // encode customer segments to dense codes, corrupt one vertex's
      // code to an out-of-vocabulary value, decode — the corrupted row
      // must surface as 'Unknown', everything else must round-trip.
      (s, dir) => {
        val g = graph(s, dir)
        val cust = g.vertices.filter(col("layer") === "customer")
        val enc = PropertyOps.encodeCategorical(cust, "segment")
        val seed = minSeed(s, dir, "customer", "c_custkey")
        val bumped = enc.withColumn("segment_code",
          when(col("nodeId") === seed, lit(-1)).otherwise(col("segment_code")))
        val codes = PropertyOps.categoricalCodes(cust, "segment")
        PropertyOps.decode(bumped, "segment_code", codes, "segment_decoded")
          .groupBy("segment_decoded").agg(count(lit(1)).as("n"))
          .orderBy("segment_decoded")
      },
      Some(s"""$W SELECT CASE WHEN node_id =
             |   (SELECT CAST(MIN(c_custkey) AS VARCHAR) FROM customer)
             |  THEN 'Unknown' ELSE segment END AS segment_decoded,
             | COUNT(*) AS n
             |FROM vertices WHERE layer = 'customer'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("g21_scc",
      (s, dir) => {
        val g = graph(s, dir).viewLayers(Seq("region", "nation", "supplier"))
        val scc = GraphOps.stronglyConnectedComponents(g)
        val named = scc.join(g.vertices, Seq("vid"))
          .select(col("compVid"),
            concat_ws(":", col("layer"), col("nodeId")).as("member"))
        named.groupBy("compVid")
          .agg(min("member").as("component"), count(lit(1)).as("size"))
          .select("component", "size")
          .orderBy("component")
      },
      // the star schema is a DAG -> every vertex is its own SCC
      Some("""SELECT component, CAST(1 AS BIGINT) AS size FROM (
             | SELECT 'region:' || CAST(r_regionkey AS VARCHAR) AS component FROM region
             | UNION ALL SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) FROM nation
             | UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR) FROM supplier)
             |ORDER BY component""".stripMargin)),

    QueryDef("g44_scc_dataframe",
      // g21's twin on the DataFrame-native FW-BW coloring kernel — the
      // scale path that replaces GraphX SCC for the reference's
      // default connectivity (searcher.py:284-295). Same slice, same
      // oracle: the hash-match pins kernel equivalence.
      (s, dir) => {
        val g = graph(s, dir).viewLayers(Seq("region", "nation", "supplier"))
        Traversals.strongComponents(g)
          .groupBy("comp")
          .agg(count(lit(1)).as("size"))
          .select(col("comp").as("component"), col("size"))
          .orderBy("component")
      },
      Some("""SELECT component, CAST(1 AS BIGINT) AS size FROM (
             | SELECT 'region:' || CAST(r_regionkey AS VARCHAR) AS component FROM region
             | UNION ALL SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) FROM nation
             | UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR) FROM supplier)
             |ORDER BY component""".stripMargin)),

    QueryDef("g22_layout_roundtrip",
      (s, dir) => {
        val g = graph(s, dir).viewLayers(Seq("nation", "region"))
        val layout = VizData.layoutByLayer(g.vertices)
        val path = s"/tmp/graft_layout_${math.abs(dir.hashCode)}"
        VizData.saveLayout(layout, path)
        VizData.loadLayout(g, path)
          .select(col("layer"), col("nodeId").as("node_id"), col("x"), col("y"))
          .orderBy("layer", "node_id")
      },
      Some("""WITH v AS (
             | SELECT 'nation' AS layer, CAST(n_nationkey AS VARCHAR) AS node_id FROM nation
             | UNION ALL SELECT 'region', CAST(r_regionkey AS VARCHAR) FROM region)
             |SELECT layer, node_id,
             | CAST((DENSE_RANK() OVER (ORDER BY layer) - 1) * 1.0 AS DOUBLE) AS x,
             | CAST(ROW_NUMBER() OVER (PARTITION BY layer ORDER BY node_id) - 1 AS DOUBLE) AS y
             |FROM v ORDER BY layer, node_id""".stripMargin)),

    QueryDef("g23_upstream_children",
      // T1's include_upstream_children flag (searcher.py:212-216):
      // upstream set from a nation + the out-neighbors of that set.
      (s, dir) => {
        val g = graph(s, dir)
        val seed = minSeed(s, dir, "nation", "n_nationkey")
        Traversals.search(g, "nation", seed, 1, Traversals.Bi,
            includeUpstreamChildren = true)
          .join(g.vertices, Seq("vid"))
          .select(col("layer"), col("nodeId").as("node_id"), col("dist"))
          .orderBy("layer", "node_id")
      },
      // bi, dist<=1 from nation N: downstream {N, region}, upstream
      // {N, customers/suppliers of N}, plus out-neighbors of the
      // upstream set at parent dist+1, all min-merged.
      Some(s"""$W, seed AS (SELECT CAST(MIN(n_nationkey) AS VARCHAR) AS id FROM nation),
              | up AS (
              |  SELECT 'nation' AS layer, (SELECT id FROM seed) AS node_id, 0 AS dist
              |  UNION ALL
              |  SELECT e.source_layer, e.source_id, 1
              |  FROM edges e WHERE e.target_layer = 'nation'
              |   AND e.target_id = (SELECT id FROM seed)),
              | down AS (
              |  SELECT 'nation' AS layer, (SELECT id FROM seed) AS node_id, 0 AS dist
              |  UNION ALL
              |  SELECT e.target_layer, e.target_id, 1
              |  FROM edges e WHERE e.source_layer = 'nation'
              |   AND e.source_id = (SELECT id FROM seed)),
              | kids AS (
              |  SELECT e.target_layer AS layer, e.target_id AS node_id, u.dist + 1 AS dist
              |  FROM up u JOIN edges e
              |    ON e.source_layer = u.layer AND e.source_id = u.node_id)
              |SELECT layer, node_id, CAST(MIN(dist) AS INT) AS dist
              |FROM (SELECT * FROM up UNION ALL SELECT * FROM down
              |      UNION ALL SELECT * FROM kids)
              |GROUP BY layer, node_id ORDER BY layer, node_id""".stripMargin)),

    QueryDef("g24_legend",
      // V4 get_legend data side (visualisation.py:311-417): categorical
      // legend = distinct categories with their palette indices;
      // continuous legend = (min, max) bounds row.
      (s, dir) => {
        val cust = graph(s, dir).viewLayers(Seq("customer")).vertices
        val cat = VizData.colorCategorical(cust, "segment")
          .select(col("segment").as("entry"),
            col("segment_color_idx").cast("long").as("color_idx"))
          .distinct()
        val cont = cust.agg(min("acctbal").as("mn"), max("acctbal").as("mx"))
          .select(concat_ws("..", col("mn"), col("mx")).as("entry"),
            lit(-1L).as("color_idx"))
        cat.unionByName(cont).orderBy("entry")
      },
      Some("""SELECT entry, color_idx FROM (
             | SELECT DISTINCT c_mktsegment AS entry,
             |  CAST((DENSE_RANK() OVER (ORDER BY c_mktsegment) - 1) % 10 AS BIGINT) AS color_idx
             | FROM customer
             | UNION ALL
             | SELECT CAST(MIN(c_acctbal) AS VARCHAR) || '..' || CAST(MAX(c_acctbal) AS VARCHAR),
             |  CAST(-1 AS BIGINT)
             | FROM customer)
             |ORDER BY entry""".stripMargin)),

    QueryDef("x14_embed_neardup",
      // embedding-cosine near-dup (X1's last modality): exact pairwise
      // baseline; round(4) on both sides absorbs the engines'
      // different cosine accumulation formulas.
      (s, dir) => Dedup.embeddingNearDup(t(s, dir, "embeddings"), 0.45)
        .select(col("a"), col("b"), round(col("cosine"), 4).as("cosine"))
        .orderBy("a", "b"),
      // isfinite guard: a zero-norm vector makes DuckDB's cosine NaN,
      // and DuckDB sorts NaN above the threshold; the Spark kernel
      // returns 0.0 there — both sides must drop such pairs.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
             |SELECT l.vec_id AS a, r.vec_id AS b,
             | ROUND(list_cosine_similarity(l.v, r.v), 4) AS cosine
             |FROM e l JOIN e r ON l.vec_id < r.vec_id
             |WHERE list_cosine_similarity(l.v, r.v) >= 0.45
             | AND isfinite(list_cosine_similarity(l.v, r.v))
             |ORDER BY a, b""".stripMargin)),

    QueryDef("x40_embed_neardup_blocked",
      // x14's SCALE twin on the near-DUP regime blocking is FOR: the
      // corpus unioned with an id-offset copy of itself (the injected-
      // duplicate scenario sf1's verbatim replication creates at
      // scale), detected at cosine >= 0.9 through bucketed candidates
      // — 2 independent portable md5 plane families (6 planes each)
      // instead of the all-pairs product (x14's exact baseline is ×82
      // at the sf1 decade, SCALE.md). Identical vectors share every
      // bucket in every rep, so recall on true duplicates is exactly
      // 100% (ExtSpec pins it); the bucketing is exact integer
      // arithmetic, so the whole blocked pipeline hash-matches.
      // Same round(4)/isfinite treatment as x14. x14's 0.45-similarity
      // pairs are NOT blocking's regime (per-rep bucket-collision
      // probability ~7% at 63°) — the exact form remains the tool
      // below ~0.8.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val dup = emb.withColumn("vec_id", col("vec_id") + lit(1000000L))
        Dedup.embeddingNearDupBlocked(
            emb.unionByName(dup), 0.9, planes = 6, reps = 2)
          .select(col("a"), col("b"), round(col("cosine"), 4).as("cosine"))
          .orderBy("a", "b")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             |   UNION ALL
             |   SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings),
             | qz AS (SELECT vec_id, v,
             |   [CAST(floor(x * 1e6) AS BIGINT) for x in v] AS q FROM e),
             | bk AS (SELECT vec_id, r.r AS rep, CAST(list_sum([
             |   CASE WHEN list_sum([q[i] *
             |     (CASE WHEN CAST(('0x' || substr(md5((r.r*6 + p) || ':' || i), 1, 1)) AS BIGINT) % 2 = 0
             |      THEN 1 ELSE -1 END)
             |     for i in generate_series(1, len(q))]) >= 0
             |   THEN CAST(1 AS BIGINT) << p ELSE 0 END
             |   for p in generate_series(0, 5)]) AS BIGINT) AS bucket
             |  FROM qz, generate_series(0, 1) r(r)),
             | cand AS (SELECT DISTINCT l.vec_id AS a, rr.vec_id AS b
             |  FROM bk l JOIN bk rr ON l.rep = rr.rep
             |    AND l.bucket = rr.bucket AND l.vec_id < rr.vec_id),
             | sc AS (SELECT c.a, c.b,
             |   list_cosine_similarity(ea.v, eb.v) AS cos
             |  FROM cand c JOIN e ea ON ea.vec_id = c.a
             |   JOIN e eb ON eb.vec_id = c.b)
             |SELECT a, b, ROUND(cos, 4) AS cosine FROM sc
             |WHERE cos >= 0.9 AND isfinite(cos)
             |ORDER BY a, b""".stripMargin)),

    QueryDef("x12_multimodal",
      // REAL image decode: synthesize a 16x12 PNG per document
      // (pixel channels are closed-form integer arithmetic over
      // doc_id), round-trip it through an ACTUAL javax.imageio
      // encode + decode, and emit the per-bucket pixel histogram.
      // PNG is lossless, so the oracle re-derives the decoded
      // histogram from the same pixel formula with no codec —
      // upgrading this check from stub-plumbing to a decode-path
      // hash-match.
      (s, dir) => {
        // docs() repartition: the corpus arrives as ONE parquet split,
        // which would run every ImageIO encode+decode single-threaded
        val media = Multimodal.synthesizePng(
          docs(s, dir).select("doc_id"), "doc_id", 16, 12)
        Multimodal.decodeImage(media, 16)
          .where(col("decode_ok"))
          .select(col("media_id"), col("width"), col("height"),
            posexplode(col("hist")).as(Seq("bucket", "cnt")))
          .where(col("cnt") > 0)
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("bucket").cast("long").as("bucket"), col("cnt"))
          .orderBy("media_id", "bucket")
      },
      Some("""WITH px AS (SELECT d.doc_id, x.x, y.y
             |  FROM (SELECT doc_id FROM documents) d,
             |       generate_series(0, 15) x(x), generate_series(0, 11) y(y)),
             | b AS (SELECT doc_id,
             |   ((doc_id*31 + x*7 + y*13) % 256 + (doc_id*17 + x*11 + y*3) % 256
             |    + (doc_id*23 + x*5 + y*19) % 256) % 16 AS bucket
             |  FROM px)
             |SELECT doc_id AS media_id, CAST(16 AS BIGINT) AS width,
             | CAST(12 AS BIGINT) AS height, CAST(bucket AS BIGINT) AS bucket,
             | COUNT(*) AS cnt
             |FROM b GROUP BY 1, 4 ORDER BY media_id, bucket""".stripMargin)),

    QueryDef("x61_avi_video",
      // REAL compressed-video decode through a REAL container: each
      // doc becomes an 8x6 4-frame RIFF/AVI whose frames are ImageIO-
      // encoded PNGs (fourcc MPNG — the lossless sibling of MJPEG,
      // same container walk, same per-frame ImageIO decode), then the
      // actual decodeAviVideo path samples every 2nd frame (skipped
      // frames never reach the codec) and emits channel-sum features.
      // PNG is lossless, so the oracle re-derives the DECODED pixels
      // from the closed-form channel formulas with no codec — the
      // x12 trick upgraded to the compressed-video container. MJPEG
      // (lossy) runs through the identical path in ExtSpec.
      (s, dir) => {
        val media = Multimodal.synthesizeAvi(
          docs(s, dir).select("doc_id"), "doc_id", 8, 6,
          nFrames = 4, codec = "png")
        Multimodal.decodeAviVideo(media, dim = 16, every = 2)
          .where(col("decode_ok"))
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames"), col("frames_sampled"), col("sum_q"),
            posexplode(col("hist")).as(Seq("bucket", "cnt")))
          .where(col("cnt") > 0)
          .select(col("media_id"), col("width"), col("height"),
            col("n_frames"), col("frames_sampled"), col("sum_q"),
            col("bucket").cast("long").as("bucket"), col("cnt"))
          .orderBy("media_id", "bucket")
      },
      Some("""WITH px AS (SELECT d.doc_id, f.f, x.x, y.y
             |  FROM (SELECT doc_id FROM documents) d,
             |       (SELECT unnest([0, 2]) AS f) f,
             |       generate_series(0, 7) x(x), generate_series(0, 5) y(y)),
             | s AS (SELECT doc_id,
             |   (doc_id*31 + f*29 + x*7 + y*13) % 256
             |    + (doc_id*17 + f*41 + x*11 + y*3) % 256
             |    + (doc_id*23 + f*37 + x*5 + y*19) % 256 AS s
             |  FROM px),
             | tot AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS sum_q
             |  FROM s GROUP BY doc_id),
             | bk AS (SELECT doc_id, CAST(s % 16 AS BIGINT) AS bucket,
             |   COUNT(*) AS cnt FROM s GROUP BY 1, 2)
             |SELECT bk.doc_id AS media_id, CAST(8 AS BIGINT) AS width,
             | CAST(6 AS BIGINT) AS height, CAST(4 AS BIGINT) AS n_frames,
             | CAST(2 AS BIGINT) AS frames_sampled, tot.sum_q,
             | bk.bucket, bk.cnt
             |FROM bk JOIN tot USING (doc_id)
             |ORDER BY media_id, bucket""".stripMargin)),

    QueryDef("x62_knn_classify",
      // ANN k-NN label propagation: classify every embedding by the
      // majority label of its 5 nearest in-cell neighbors (kmeans
      // cells scope the pair space, TopKPerGroup caps map-side,
      // deterministic (votes DESC, label ASC) tie-break). The
      // accuracy column makes the query double as the embedding-
      // quality probe. Cell count is corpus-derived (autoCells —
      // linear pair space at scale); at this SF it lands on the 4
      // the oracle's kmeansCtes pin.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.knnClassify(emb, k = 5, iters = 2)
          .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
          .select(col("vec_id"), col("cluster"), col("label"),
            col("pred_label"), col("votes"),
            (col("label") === col("pred_label")).as("correct"))
          .orderBy("vec_id")
      },
      Some(s"""WITH ${kmeansCtes(4, 2)},
             | e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
             |  FROM embeddings),
             | sv AS (SELECT e.vec_id, a3.cluster, e.v, e.label
             |  FROM e JOIN a3 USING (vec_id)),
             | sc AS (SELECT q.vec_id, q.cluster, n.vec_id AS nb,
             |   n.label AS nlabel,
             |   list_cosine_similarity(q.v, n.v) AS cos
             |  FROM sv q JOIN sv n ON n.cluster = q.cluster
             |   AND n.vec_id <> q.vec_id),
             | top AS (SELECT * FROM sc QUALIFY ROW_NUMBER() OVER (
             |   PARTITION BY vec_id ORDER BY cos DESC, nb) <= 5),
             | votes AS (SELECT vec_id, cluster, nlabel,
             |   CAST(COUNT(*) AS BIGINT) AS votes
             |  FROM top GROUP BY 1, 2, 3),
             | win AS (SELECT vec_id, cluster, nlabel AS pred_label,
             |   votes FROM votes QUALIFY ROW_NUMBER() OVER (
             |   PARTITION BY vec_id ORDER BY votes DESC, nlabel) = 1)
             |SELECT w.vec_id, w.cluster, e.label, w.pred_label, w.votes,
             |  (e.label = w.pred_label) AS correct
             |FROM win w JOIN e USING (vec_id)
             |ORDER BY vec_id""".stripMargin)),

    QueryDef("x84_random_projection",
      // JL sign projection to 16 dims: y_j = sum_i sign(md5("i:j")) *
      // floor(x_i*1e6) — exact integer sums over micro-unit-quantized
      // components, the projection matrix a FORMULA (md5 parity), so
      // the reduced vectors re-derive bit-identically anywhere.
      // Map-only over the corpus: the standard cheapener before ANN
      // when dims are wide.
      (s, dir) => Similarity.randomProjection(
          t(s, dir, "embeddings").where(col("vec_id") < 500), 16)
        .orderBy("vec_id", "dim"),
      Some("""WITH q AS (SELECT vec_id, UNNEST(range(len(embedding))) AS i,
             |  CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000)
             |    AS BIGINT) AS q
             | FROM embeddings WHERE vec_id < 500),
             | s AS (SELECT vec_id, i, q, j.j,
             |   (CAST(('0x' || substr(md5(i || ':' || j.j), 1, 15))
             |     AS BIGINT) % 2) * 2 - 1 AS sgn
             |  FROM q, (SELECT UNNEST(range(16)) AS j) j)
             |SELECT vec_id, CAST(j AS INT) AS dim,
             | CAST(SUM(sgn * q) AS BIGINT) AS y
             |FROM s GROUP BY vec_id, j ORDER BY vec_id, dim""".stripMargin)),

    QueryDef("x93_mutual_knn_clusters",
      // parameter-free cluster discovery: in-cell kNN (the x62
      // machinery, corpus-derived cell count = 4 at this SF), MUTUAL
      // edges only (the standard noise filter),
      // min-label components — no cluster count chosen anywhere.
      // Deterministic kNN tie-break makes the discovered structure
      // hash-match end to end.
      (s, dir) => Similarity.mutualKnnClusters(
          t(s, dir, "embeddings"), k = 3, iters = 2)
        .orderBy("vec_id"),
      Some(s"""WITH RECURSIVE ${kmeansCtes(4, 2)},
              | e AS (SELECT vec_id, embedding::DOUBLE[] AS v
              |  FROM embeddings),
              | sv AS (SELECT e.vec_id, a3.cluster, e.v
              |  FROM e JOIN a3 USING (vec_id)),
              | sc AS (SELECT q.vec_id AS a, n.vec_id AS b,
              |   list_cosine_similarity(q.v, n.v) AS cos
              |  FROM sv q JOIN sv n ON n.cluster = q.cluster
              |   AND n.vec_id <> q.vec_id),
              | top AS (SELECT a, b FROM sc QUALIFY ROW_NUMBER() OVER (
              |   PARTITION BY a ORDER BY cos DESC, b) <= 3),
              | mutual AS (SELECT x.a, x.b FROM top x
              |  JOIN top y ON y.a = x.b AND y.b = x.a AND x.a < x.b),
              | me AS (SELECT a, b FROM mutual
              |  UNION SELECT b, a FROM mutual),
              | reach(id, r) AS (
              |  SELECT a, a FROM me
              |  UNION
              |  SELECT me.a, reach.r FROM me JOIN reach ON reach.id = me.b),
              | cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
              | mem AS (SELECT vec_id AS id FROM embeddings)
              |SELECT m.id AS vec_id, COALESCE(cl.cluster_id, m.id) AS cluster_id
              |FROM mem m LEFT JOIN cl ON cl.id = m.id
              |ORDER BY vec_id""".stripMargin)),

    QueryDef("x15_asof_join",
      // as-of join (SURVEY §2.7 range/as-of row): latest click per
      // user at-or-before each purchase. Clicks pre-deduped per
      // (user, ts) so the equal-timestamp winner is deterministic on
      // both engines.
      (s, dir) => {
        val ev = EventStreams.readEvents(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
        val dedupClicks = clicks.withColumn("rn",
            row_number().over(Window.partitionBy("user_id", "ts")
              .orderBy(col("click_id").desc)))
          .filter(col("rn") === 1).drop("rn")
        TemporalJoins.asofJoin(purchases, dedupClicks, "user_id", "ts",
            Seq("click_id"))
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
            col("right_click_id").as("click_id"),
            date_format(col("right_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             | c AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'
             |   QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)
             |SELECT p.event_id, p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
             | c.click_id, strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
             |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin)),

    QueryDef("x16_interval_join",
      // bucketized interval join: clicks in the hour preceding each
      // purchase (inner semantics — purchases with no click drop out).
      (s, dir) => {
        val ev = EventStreams.readEvents(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
        TemporalJoins.intervalJoin(purchases, clicks, "user_id", "ts",
            Seq("click_id"), lookbackMs = 3600L * 1000)
          .groupBy("event_id", "user_id")
          .agg(count(lit(1)).as("n_clicks"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id, COUNT(*) AS n_clicks
             |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
             | JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
             |  ON p.user_id = c.user_id
             |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
             |GROUP BY p.event_id, p.user_id
             |ORDER BY p.event_id""".stripMargin)),

    QueryDef("x17_normalize",
      // canonical text normalization (dedup pre-processing): lowercase,
      // strip non-alphanumerics, collapse whitespace.
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), TextOps.normalize(col("text")).as("norm_text"),
          length(TextOps.normalize(col("text"))).cast("long").as("n_chars_norm"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             | trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text,
             | CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("x19_repetition",
      // Gopher-style repetition quality signal: duplicate-bigram
      // fraction per document.
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          TextOps.repetitionRatio(col("text"), 2).as("rep_ratio"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
             |  string_split_regex(trim(text), '\s+') AS tk FROM documents),
             | sh AS (SELECT doc_id,
             |  [tk[i] || ' ' || tk[i+1] for i in generate_series(1, len(tk) - 1)] AS s
             | FROM t)
             |SELECT doc_id,
             | CASE WHEN len(s) <= 0 THEN 0.0
             |  ELSE 1.0 - CAST(len(list_distinct(s)) AS DOUBLE) / len(s) END AS rep_ratio
             |FROM sh ORDER BY doc_id""".stripMargin)),

    QueryDef("x20_token_freq",
      // the Generator path (SURVEY §2.7 UDTF row): explode tokens ->
      // map-side-combined count -> top-20. Total order (n DESC, token)
      // makes the LIMIT cutoff deterministic on both engines.
      (s, dir) => docs(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20),
      Some("""SELECT token, COUNT(*) AS n
             |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
             |      FROM documents)
             |WHERE token <> ''
             |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin)),

    QueryDef("x18_hash_split",
      // deterministic train/eval/test split by content-hash bucket.
      // The md5 hash family makes the assignment reproducible OUTSIDE
      // Spark too (DuckDB parses the same 60 md5 bits), so the split
      // is hash-checked end to end; the xxhash64 family (default,
      // faster) keeps the rows-only path and its SamplingSpec
      // disjoint/exhaustive/stable invariants.
      (s, dir) => Sampling.hashSplit(docs(s, dir), "doc_id",
          Seq("train" -> 0.8, "eval" -> 0.1, "test" -> 0.1),
          bucketFn = Sampling.md5Bucket(_, _))
        .groupBy("split").agg(count(lit(1)).as("n_docs"))
        .orderBy("split"),
      Some("""WITH b AS (SELECT
             |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             |    % 10000 AS bk FROM documents)
             |SELECT CASE WHEN bk < 8000 THEN 'train'
             |            WHEN bk < 9000 THEN 'eval' ELSE 'test' END AS split,
             |       COUNT(*) AS n_docs
             |FROM b GROUP BY 1 ORDER BY split""".stripMargin)),

    QueryDef("x21_dedup_clusters",
      // canonicalization on top of near-dup pairs (the step X1
      // pipelines actually dedup WITH): connected components of the
      // x06 similarity graph, cluster = min doc id, canonical = the
      // cluster representative to keep.
      (s, dir) => Dedup.nearDupClusters(
          Dedup.ngramJaccard(docs(s, dir),
            blockKey = concat_ws("|", col("lang"),
              (col("n_chars") / 50).cast("long")),
            minJaccard = 0.25, w = 2))
        .orderBy("doc_id"),
      Some("""WITH RECURSIVE toks AS (SELECT doc_id,
             |  lang || '|' || (n_chars // 50) AS blk,
             |  string_split_regex(trim(text), '\s+') AS tk FROM documents),
             | sh AS (SELECT doc_id, blk,
             |  list_distinct([tk[i] || ' ' || tk[i+1]
             |    for i in generate_series(1, len(tk) - 1)]) AS s
             | FROM toks),
             | j AS (SELECT l.doc_id AS a, r.doc_id AS b,
             |  CAST(len(list_intersect(l.s, r.s)) AS DOUBLE)
             |   / (len(l.s) + len(r.s) - len(list_intersect(l.s, r.s))) AS jaccard
             | FROM sh l JOIN sh r ON l.blk = r.blk AND l.doc_id < r.doc_id),
             | p AS (SELECT a, b FROM j WHERE jaccard >= 0.25),
             | e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
             | reach(id, r) AS (
             |  SELECT a, a FROM e
             |  UNION
             |  SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b)
             |SELECT id AS doc_id, MIN(r) AS cluster,
             |  (id = MIN(r)) AS is_canonical
             |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    QueryDef("x22_kmeans",
      // IVF centroid training (X2's scale path): 2 Lloyd rounds of
      // exact fixed-point k-means — micro-unit quantization + integer
      // floor-div means make the result bit-identical under any
      // partitioning or engine, hence hash-checkable (floating k-means
      // is not: partial-sum order varies).
      (s, dir) => Clustering.kmeans(t(s, dir, "embeddings"), k = 4, iters = 2)
        .orderBy("vec_id"),
      Some(kmeansSql(4, 2))),

    QueryDef("x85_pq_encode",
      // product quantization (X2's compression leg): 4 independent
      // integer-kmeans codebooks over 16-dim slices, every vector
      // encoded as 4 one-byte codes + exact per-slice distortion —
      // 64 floats become 4 bytes before any ANN join, and the codes
      // themselves hash-match the per-subspace kmeans-CTE oracle.
      (s, dir) => Clustering.pqEncode(t(s, dir, "embeddings"),
          dims = 64, m = 4, k = 8, iters = 1)
        .orderBy("vec_id", "subspace"),
      Some(pqSql(4, 16, 8, 1))),

    QueryDef("x86_pq_adc",
      // ADC retrieval over the x85-compressed corpus: per-query
      // (subspace, code) -> partial-d2 lookup tables against the
      // codebook, broadcast; every corpus vector scores as m LUT
      // probes on its CODES — the scan never touches a float. Exact
      // integers end to end, so the approximate ranking hash-matches.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val (codes, codebook) = Clustering.pqModel(emb,
          dims = 64, m = 4, k = 8, iters = 1)
        Clustering.pqAdcTopK(codes, codebook,
            emb.where(col("vec_id") < 5), dims = 64, m = 4, topK = 10)
          .orderBy("query_id", "rank")
      },
      Some(pqAdcSql(4, 16, 8, 1, 10))),

    QueryDef("x135_ivf_pq",
      // IVF-PQ retrieval — the two scale levers COMPOSED the way a
      // 100 TB vector index is actually served (IVFADC, Jégou 2011):
      // a coarse integer-kmeans quantizer (4 cells) restricts every
      // query to its 2 nearest cells, and within them ADC scores the
      // PQ codes (x85/x86's artifacts — never a float on the scan).
      // Probes and LUTs broadcast; candidates drop to ~nProbe/cells of
      // the corpus BEFORE any scoring join. Deterministic end to end,
      // so the composed pipeline (coarse kmeans -> probes -> PQ chains
      // -> LUT -> cell-restricted ADC -> top-k) hash-matches one
      // composed oracle.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Clustering.ivfPqTopK(emb, emb.where(col("vec_id") < 5),
            dims = 64, cells = 4, nProbe = 2, m = 4, k = 8, iters = 1,
            topK = 10)
          .orderBy("query_id", "rank")
      },
      Some(ivfPqSql(4, 1, 4, 16, 8, 1, 2, 10))),

    QueryDef("x137_ivf_pq_index",
      // x135's one weak plan CLOSED (r10 verdict #1): the IVF-PQ index
      // persists as a cell-keyed directory layout (writeIvfPq — codes
      // carry their coarse cell and partition by it), so the probe
      // reads exactly its nProbe cells via a PLANNING-TIME partition
      // filter and the corpus pays no exchange (ScaleSpec plan-asserts
      // it; the in-memory x135 paid a corpus-wide codes⋈assign shuffle
      // per query batch). Same exact-integer training, so the probe
      // hash-matches x135's composed oracle verbatim — index build
      // changes WHERE the work happens, not the answer.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = ivfPqLayout(s, dir, residual = false)
        Clustering.probeIvfPq(s, path, emb.where(col("vec_id") < 5),
            dims = 64, nProbe = 2, m = 4, topK = 10)
          .orderBy("query_id", "rank")
      },
      Some(ivfPqSql(4, 1, 4, 16, 8, 1, 2, 10))),

    QueryDef("x139_ivf_pq_residual",
      // true IVFADC (Jégou 2011 §III.C): PQ codes quantize each
      // vector's RESIDUAL against its coarse centroid instead of the
      // raw vector — the codebooks spend their k centroids on the
      // tighter within-cell distribution, strictly better quantization
      // at the same bit budget (the recall card measures the gain;
      // SCALE.md cites it). Residuals stay exact BIGINTs (micro-unit q
      // minus BIGINT centroid, never re-floated), the query LUT
      // becomes per-(query, probed-cell), and everything rides the
      // x137 persisted cell-keyed layout — planning-time pruning
      // included. The oracle re-derives coarse chain, residual table,
      // per-slice codebook chains, per-cell LUTs and the ADC ranking.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = ivfPqLayout(s, dir, residual = true)
        Clustering.probeIvfPq(s, path, emb.where(col("vec_id") < 5),
            dims = 64, nProbe = 2, m = 4, topK = 10, residual = true)
          .orderBy("query_id", "rank")
      },
      Some(ivfPqResidualSql(4, 1, 4, 16, 8, 1, 2, 10))),

    QueryDef("x142_ivf_pq_append",
      // the index LIFECYCLE completed (the x42/x43 band-index
      // economics for vector retrieval): the layout builds WITHOUT
      // every 7th vector, the held-out batch then folds in via
      // appendIvfPq — coarse-assigned against the PERSISTED centroids
      // and encoded against the PERSISTED codebook (one broadcast-join
      // pass over the batch; the corpus is never re-encoded, the model
      // intentionally never drifts on append), landing as additional
      // files under its cell directories — and the probe sees one
      // consistent index. The oracle trains on the base slice only and
      // re-derives the full corpus's codes against the frozen model
      // (encoding the training slice against its own model reproduces
      // its codes exactly — the pqEncodeWith-pinned identity).
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "x142_ivfpq_app").toString
        Clustering.writeIvfPq(emb.where(col("vec_id") % 7 =!= 0), path,
          dims = 64, cells = 4, m = 4, k = 8, iters = 1)
        Clustering.appendIvfPq(s, path,
          emb.where(col("vec_id") % 7 === 0), dims = 64, m = 4)
        Clustering.probeIvfPq(s, path, emb.where(col("vec_id") < 5),
            dims = 64, nProbe = 2, m = 4, topK = 10)
          .orderBy("query_id", "rank")
      },
      Some(ivfPqAppendSql(4, 1, 4, 16, 8, 1, 2, 10, "vec_id % 7 <> 0"))),

    QueryDef("x165_ivf_pq_drift_card",
      // post-churn DRIFT card (r13 verdict #6): the layout builds on
      // a base slice (frozen model), a held-out batch appends against
      // the frozen codebook, a delete batch tombstones — then the
      // card measures what the churn cost retrieval: per swept
      // nProbe, recall@10 of the churned layout against the exact
      // ground truth over the LIVE set, which the card derives from
      // the layout itself (codes minus tombstones). The re-index
      // decision reads off this hash-matched card like every other
      // serving decision. Oracle = frozen-model encode (x142) ∘
      // live-set filter ∘ recall rollup (x140), composed.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "x165_ivfpq_drift").toString
        Clustering.writeIvfPq(emb.where(col("vec_id") % 7 =!= 0), path,
          dims = 64, cells = 4, m = 4, k = 8, iters = 1)
        Clustering.appendIvfPq(s, path,
          emb.where(col("vec_id") % 7 === 0), dims = 64, m = 4)
        Clustering.deleteIvfPq(s, path,
          emb.where(col("vec_id") % 5 === 3).select("vec_id"))
        Clustering.ivfPqDriftCard(s, path, emb,
            emb.where(col("vec_id") < 5), dims = 64,
            nProbes = Seq(1, 2), m = 4, topK = 10)
          .orderBy("n_probe")
      },
      Some(ivfPqDriftSql(4, 1, 4, 16, 8, 1, 10, Seq(1, 2),
        "vec_id % 7 <> 0", "vec_id % 5 = 3"))),

    QueryDef("x145_correlation_card",
      // pairwise Pearson card: q20's exact-moment treatment lifted to
      // ALL C(4,2) column pairs in ONE corpus pass — micro-unit
      // quantization, DECIMAL(38,0)/HUGEINT moment sums, one IEEE
      // chain per correlation (sqrt and division are exactly-rounded,
      // so the card re-derives bit-identically where native corr's
      // Welford partial order drifts). The feature-redundancy /
      // leakage screen a training pipeline runs over its numeric
      // columns before fitting anything.
      (s, dir) => ext.Profiling.correlationCard(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b"),
      Some(corrCardSql("lineitem",
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")))),

    QueryDef("x144_zorder_layout",
      // Z-order (Morton) clustering card — the multi-dimensional
      // layout lever: sorting a 100 TB table by the interleaved key
      // makes parquet row-group min/max stats prune on BOTH dimensions
      // (a plain sort clusters one and leaves the other useless). The
      // card groups rows by the zkey's 4-bit prefix and shows every
      // bucket is a small RECTANGLE in (a, b) space (≤256-wide spans
      // of the 1024-wide domain per dimension) — exactly the bound a
      // min/max-pruned scan exploits. Map-only key, exact integers,
      // one groups-sized aggregation.
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(
          pmod(col("l_orderkey"), lit(1024)).cast("long").as("a"),
          pmod(col("l_partkey"), lit(1024)).cast("long").as("b"))
        li.withColumn("zkey",
            ext.Sampling.zorderKey(col("a"), col("b"), bits = 10))
          .withColumn("bucket", expr("zkey DIV 65536"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            min("a").as("min_a"), max("a").as("max_a"),
            min("b").as("min_b"), max("b").as("max_b"))
          .orderBy("bucket")
      },
      Some("""WITH z AS (SELECT
             |  CAST(l_orderkey % 1024 AS BIGINT) AS a,
             |  CAST(l_partkey % 1024 AS BIGINT) AS b FROM lineitem),
             | k AS (SELECT a, b, CAST(list_sum([
             |    ((a >> i) & 1) * (CAST(1 AS BIGINT) << (2*i)) +
             |    ((b >> i) & 1) * (CAST(1 AS BIGINT) << (2*i+1))
             |   for i in generate_series(0, 9)]) AS BIGINT) AS zkey FROM z)
             |SELECT CAST(zkey // 65536 AS BIGINT) AS bucket,
             | CAST(COUNT(*) AS BIGINT) AS n,
             | MIN(a) AS min_a, MAX(a) AS max_a,
             | MIN(b) AS min_b, MAX(b) AS max_b
             |FROM k GROUP BY 1 ORDER BY bucket""".stripMargin)),

    QueryDef("x140_ivf_pq_recall_card",
      // recall-vs-nProbe tuning card — "measure, don't guess" applied
      // to the retrieval leg's own knob: per swept nProbe the mean
      // recall@10 of the persisted IVF-PQ probe against the exact
      // integer-L2 ground truth, integer ppm end to end (1e6·hits DIV
      // k per query, largest aggregates in BIGINT). The chosen
      // serving default cites this card in SCALE.md. Oracle re-derives
      // the shared chains once and the probe filter per nProbe.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = ivfPqLayout(s, dir, residual = false)
        Clustering.ivfPqRecallCard(s, path, emb,
            emb.where(col("vec_id") < 5), dims = 64,
            nProbes = Seq(1, 2, 3, 4), m = 4, topK = 10)
          .orderBy("n_probe")
      },
      Some(ivfPqRecallSql(4, 1, 4, 16, 8, 1, 10, Seq(1, 2, 3, 4)))),

    QueryDef("x143_ivf_pq_recall_residual",
      // the recall card over the RESIDUAL layout — the two serving
      // candidates (x137 raw vs x139 residual) measured on the same
      // axis, so the per-corpus encoding decision reads straight off
      // two hash-matched cards (SCALE.md's recall-gain run showed the
      // choice is corpus-dependent: residual sweeps 19%→100% on
      // clustered data and is neutral on cluster-free data). Per-(query, cell)
      // residual LUTs over every cell; the nProbe filter applies at
      // scoring time.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = ivfPqLayout(s, dir, residual = true)
        Clustering.ivfPqRecallCard(s, path, emb,
            emb.where(col("vec_id") < 5), dims = 64,
            nProbes = Seq(1, 2, 3, 4), m = 4, topK = 10, residual = true)
          .orderBy("n_probe")
      },
      Some(ivfPqResidualRecallSql(4, 1, 4, 16, 8, 1, 10, Seq(1, 2, 3, 4)))),

    QueryDef("x88_pii_audit",
      // PII detection audit (the report before x32's redaction):
      // per-doc email/URL/digit-run counts from the same Java-and-RE2
      // pattern family, so the evidence re-derives identically.
      // Map-only over the corpus.
      (s, dir) => TextOps.piiAudit(docs(s, dir)).orderBy("doc_id"),
      Some("""SELECT doc_id,
             | CAST(len(regexp_extract_all(COALESCE(text, ''),
             |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_emails,
             | CAST(len(regexp_extract_all(COALESCE(text, ''),
             |   'https?://[^ \t\n\r\f\x0B]+')) AS BIGINT) AS n_urls,
             | CAST(len(regexp_extract_all(COALESCE(text, ''),
             |   '[0-9]+')) AS BIGINT) AS n_digit_runs,
             | (len(regexp_extract_all(COALESCE(text, ''),
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) > 0
             |  OR len(regexp_extract_all(COALESCE(text, ''),
             |    'https?://[^ \t\n\r\f\x0B]+')) > 0) AS has_pii
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("x89_curriculum",
      // curriculum-ordered export: phase = length bucket (easy ->
      // hard), within a phase the epoch-fresh md5 permutation of
      // x56 — phase is column algebra, one shard exchange, no global
      // sort; the (phase, shard, pos) layout is what a curriculum
      // trainer consumes directory by directory.
      (s, dir) => Sampling.curriculumShuffle(
          t(s, dir, "documents"), "doc_id", "n_chars",
          Seq(200L, 1000L), epoch = 1, shards = 4)
        .select("doc_id", "n_chars", "phase", "shard", "pos")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, n_chars,
             |  (CASE WHEN n_chars > 200 THEN 1 ELSE 0 END +
             |   CASE WHEN n_chars > 1000 THEN 1 ELSE 0 END) AS phase,
             |  md5(1 || ':' || doc_id) AS eh FROM documents),
             | s AS (SELECT doc_id, n_chars, phase,
             |   CAST(CAST(('0x' || substr(eh, 1, 15)) AS BIGINT) % 4
             |     AS INT) AS shard, eh
             |  FROM t)
             |SELECT doc_id, n_chars, phase, shard,
             | CAST(ROW_NUMBER() OVER (PARTITION BY phase, shard
             |   ORDER BY eh, doc_id) AS BIGINT) AS pos
             |FROM s ORDER BY doc_id""".stripMargin)),

    QueryDef("x90_embedding_outliers",
      // embedding-quality audit: flag vectors whose distance to their
      // own kmeans centroid exceeds 2x the cell mean — the q42 spike
      // rule in embedding space (d2*n_c > 2*sum_d2, integer cross-
      // multiply, no division/sqrt).
      (s, dir) => Clustering.embeddingOutliers(
          t(s, dir, "embeddings"), k = 4, iters = 2)
        .orderBy("vec_id"),
      Some(s"""WITH ${kmeansCtes(4, 2)},
              | stats AS (SELECT cluster, COUNT(*) AS n_c,
              |   SUM(d2) AS sum_d2 FROM a3 GROUP BY cluster)
              |SELECT a.vec_id, a.cluster, a.d2,
              | CAST(s.n_c AS BIGINT) AS n_c,
              | (a.d2 * s.n_c > 2 * s.sum_d2) AS is_outlier
              |FROM a3 a JOIN stats s USING (cluster)
              |ORDER BY a.vec_id""".stripMargin)),

    QueryDef("x23_tfidf",
      // per-document distinctive terms: tf weighted by reciprocal
      // document frequency. The ranking key is the single IEEE
      // division tf/df (exactly-rounded, bit-identical across
      // engines); a log-based idf would differ by libm ulps. Output
      // columns stay integral.
      (s, dir) => {
        val tok = docs(s, dir)
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
          .filter(col("term") =!= "")
        val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tok.select("doc_id", "term").distinct()
          .groupBy("term").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy((col("tf").cast("double") / col("df")).desc, col("term"))
        tf.join(dfreq, Seq("term"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rank"))
          .orderBy("doc_id", "rank")
      },
      Some("""WITH tok AS (SELECT doc_id,
             |  unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
             | tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
             | tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok2 GROUP BY doc_id, term),
             | df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok2 GROUP BY term),
             | ranked AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
             |   CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
             |     ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term) AS INT) AS rank
             |  FROM tf JOIN df USING (term))
             |SELECT doc_id, term, tf, df, rank FROM ranked WHERE rank <= 3
             |ORDER BY doc_id, rank""".stripMargin)),

    QueryDef("x24_token_packing",
      // concat-and-chunk context-window assignment per md5-hash split:
      // each doc joins the pack its first token falls into. Integer
      // window cumsum -> engine-exact.
      (s, dir) => TextOps.packByTokenBudget(
          Sampling.hashSplit(docs(s, dir), "doc_id",
            Seq("train" -> 0.8, "eval" -> 0.1, "test" -> 0.1),
            bucketFn = Sampling.md5Bucket(_, _)),
          budget = 512, partitionCols = Seq("split"))
        .select(col("doc_id"), col("split"), col("n_tokens"), col("pack_id"))
        .orderBy("doc_id"),
      Some("""WITH b AS (SELECT doc_id, text,
             |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             |    % 10000 AS bk FROM documents),
             | s AS (SELECT doc_id, text,
             |  CASE WHEN bk < 8000 THEN 'train'
             |       WHEN bk < 9000 THEN 'eval' ELSE 'test' END AS split FROM b),
             | t AS (SELECT doc_id, split,
             |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             |    AS n_tokens FROM s)
             |SELECT doc_id, split, n_tokens,
             |  CAST((SUM(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
             |          ROWS UNBOUNDED PRECEDING) - n_tokens) // 512 AS BIGINT)
             |    AS pack_id
             |FROM t ORDER BY doc_id""".stripMargin)),

    QueryDef("x25_contamination",
      // decontamination sweep: distinct 5-token shingles each non-train
      // doc shares with the train split (plus implicated train docs).
      (s, dir) => Dedup.crossSplitContamination(
          Sampling.hashSplit(docs(s, dir), "doc_id",
            Seq("train" -> 0.8, "eval" -> 0.1, "test" -> 0.1),
            bucketFn = Sampling.md5Bucket(_, _)), w = 5)
        .orderBy("split", "eval_doc"),
      Some("""WITH b AS (SELECT doc_id, text,
             |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             |    % 10000 AS bk FROM documents),
             | s AS (SELECT doc_id, text,
             |  CASE WHEN bk < 8000 THEN 'train'
             |       WHEN bk < 9000 THEN 'eval' ELSE 'test' END AS split FROM b),
             | toks AS (SELECT doc_id, split,
             |  string_split_regex(trim(text), '\s+') AS tk FROM s),
             | sh AS (SELECT doc_id, split, UNNEST(list_distinct(
             |  [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
             |     || ' ' || tk[i+4]
             |   for i in generate_series(1, len(tk) - 4)])) AS sh FROM toks)
             |SELECT e.split, e.doc_id AS eval_doc,
             |  COUNT(DISTINCT e.sh) AS n_shared,
             |  COUNT(DISTINCT t.doc_id) AS n_sources
             |FROM sh e JOIN sh t ON t.sh = e.sh AND t.split = 'train'
             |WHERE e.split <> 'train'
             |GROUP BY e.split, e.doc_id ORDER BY e.split, eval_doc""".stripMargin)),

    QueryDef("x26_minhash_portable",
      // the md5-family MinHash+LSH: identical banding scheme to x07,
      // but every hash re-derivable by any engine with md5 — so unlike
      // x07 (xxhash64 seeds, rows-only) the WHOLE LSH pipeline
      // hash-matches an oracle: signatures, banded candidates, and
      // verified pairs.
      (s, dir) => Dedup.minhashLshPortable(docs(s, dir), threshold = 0.7)
        .select(col("a"), col("b"), col("jaccard"))
        .orderBy("a", "b"),
      Some(s"""WITH $portableMinhashCtes
              |SELECT a, b, jaccard FROM verified WHERE jaccard >= 0.7
              |ORDER BY a, b""".stripMargin)),

    QueryDef("x91_dup_rate_by_source",
      // per-source duplication card: share of each source's docs that
      // sit in at least one verified near-dup pair (the md5 minhash
      // family) — "which sources repeat themselves", the pre-mixing
      // audit next to x72's cross-source overlap matrix.
      (s, dir) => Dedup.dupRateByGroup(docs(s, dir), "source", 0.7)
        .orderBy("source"),
      Some(s"""WITH $portableMinhashCtes,
              | dup AS (SELECT DISTINCT doc_id FROM (
              |   SELECT a AS doc_id FROM verified WHERE jaccard >= 0.7
              |   UNION ALL
              |   SELECT b FROM verified WHERE jaccard >= 0.7)),
              | per AS (SELECT d.source, COUNT(*) AS n_docs,
              |   CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
              |     AS BIGINT) AS n_dup_docs
              |  FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id
              |  GROUP BY d.source)
              |SELECT source, n_docs, n_dup_docs,
              | CAST(1000000 * n_dup_docs // n_docs AS BIGINT) AS dup_ppm
              |FROM per ORDER BY source""".stripMargin)),

    QueryDef("x27_simhash_portable",
      // md5-family SimHash (same fused bit-vote kernel, portable token
      // hashes): fingerprints, blocks and Hamming pairs re-derivable
      // by any engine — unlike x08's xxhash64 fingerprints.
      (s, dir) => Dedup.simhashPairs(docs(s, dir), maxDist = 6,
          tokenHash = Dedup.md5TokenHash)
        .orderBy("a", "b"),
      Some("""WITH hs AS (SELECT doc_id,
             |  [CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
             |   for t in string_split_regex(trim(text), '\s+')] AS h
             |  FROM documents),
             | fp AS (SELECT doc_id, CAST(list_sum([
             |   CASE WHEN list_sum([CAST(((hv >> b) & 1) * 2 - 1 AS BIGINT)
             |     for hv in h]) > 0
             |   THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END
             |   for b in generate_series(0, 59)]) AS BIGINT) AS fp FROM hs),
             | blocked AS (SELECT doc_id, fp, fp >> 56 AS blk FROM fp),
             | pairs AS (SELECT l.doc_id AS a, r.doc_id AS b,
             |   CAST(bit_count(xor(l.fp, r.fp)) AS INT) AS hamming
             |  FROM blocked l JOIN blocked r
             |    ON l.blk = r.blk AND l.doc_id < r.doc_id)
             |SELECT a, b, hamming FROM pairs WHERE hamming <= 6
             |ORDER BY a, b""".stripMargin)),

    QueryDef("x28_sim_lsh_portable",
      // Sign-LSH under the md5 plane family: ±1 plane components from
      // md5("p:i") parity, projections over 1e-6-quantized BIGINT
      // components — the bucketing is exact integer arithmetic, so
      // unlike x10's xxhash64 planes the whole ANN result set
      // hash-matches the oracle. Ints only in the output; the cosine
      // (single l-to-r float op, x09/x11 precedent) only orders.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.lshTopKPortable(emb, emb.filter(col("vec_id") < 5), 10)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             | qz AS (SELECT vec_id, v,
             |   [CAST(floor(x * 1e6) AS BIGINT) for x in v] AS q FROM emb),
             | b AS (SELECT vec_id, v, CAST(list_sum([
             |   CASE WHEN list_sum([q[i] *
             |     (CASE WHEN CAST(('0x' || substr(md5(p || ':' || i), 1, 1)) AS BIGINT) % 2 = 0
             |      THEN 1 ELSE -1 END)
             |     for i in generate_series(1, len(q))]) >= 0
             |   THEN CAST(1 AS BIGINT) << p ELSE 0 END
             |   for p in generate_series(0, 5)]) AS BIGINT) AS bucket FROM qz),
             | scored AS (SELECT qq.vec_id AS query_id, nn.vec_id AS neighbor_id,
             |   list_cosine_similarity(qq.v, nn.v) AS cos
             |  FROM b qq JOIN b nn ON qq.bucket = nn.bucket
             |    AND qq.vec_id <> nn.vec_id
             |  WHERE qq.vec_id < 5),
             | ranked AS (SELECT query_id, neighbor_id,
             |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             |     ORDER BY cos DESC, neighbor_id) AS INT) AS rank FROM scored)
             |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10
             |ORDER BY query_id, rank""".stripMargin)),

    QueryDef("x94_ann_recall",
      // ANN recall eval: per-query share of the EXACT top-10 that the
      // portable sign-LSH path also returns, in integer ppm — the
      // nightly index-quality gate. Both legs and the rollup
      // re-derive in the oracle (x09's brute chain + x28's LSH chain
      // + a LEFT JOIN count).
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 5)
        Similarity.annRecall(
            Similarity.bruteForceTopK(emb, qs, 10),
            Similarity.lshTopKPortable(emb, qs, 10), 10)
          .orderBy("query_id")
      },
      Some("""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             | qz AS (SELECT vec_id, v,
             |   [CAST(floor(x * 1e6) AS BIGINT) for x in v] AS q FROM emb),
             | b AS (SELECT vec_id, v, CAST(list_sum([
             |   CASE WHEN list_sum([q[i] *
             |     (CASE WHEN CAST(('0x' || substr(md5(p || ':' || i), 1, 1)) AS BIGINT) % 2 = 0
             |      THEN 1 ELSE -1 END)
             |     for i in generate_series(1, len(q))]) >= 0
             |   THEN CAST(1 AS BIGINT) << p ELSE 0 END
             |   for p in generate_series(0, 5)]) AS BIGINT) AS bucket FROM qz),
             | lsc AS (SELECT qq.vec_id AS query_id, nn.vec_id AS neighbor_id,
             |   list_cosine_similarity(qq.v, nn.v) AS cos
             |  FROM b qq JOIN b nn ON qq.bucket = nn.bucket
             |    AND qq.vec_id <> nn.vec_id
             |  WHERE qq.vec_id < 5),
             | lrk AS (SELECT query_id, neighbor_id FROM lsc
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
             |    ORDER BY cos DESC, neighbor_id) <= 10),
             | exs AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             |   list_cosine_similarity(q.v, e.v) AS cos
             |  FROM emb q JOIN emb e ON e.vec_id <> q.vec_id
             |  WHERE q.vec_id < 5),
             | exr AS (SELECT query_id, neighbor_id FROM exs
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
             |    ORDER BY cos DESC, neighbor_id) <= 10)
             |SELECT r.query_id, COUNT(*) AS k_exact,
             | CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL
             |   THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             | CAST(1000000 * SUM(CASE WHEN l.neighbor_id IS NOT NULL
             |   THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT) AS recall_ppm
             |FROM exr r LEFT JOIN lrk l
             |  ON l.query_id = r.query_id AND l.neighbor_id = r.neighbor_id
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("x30_topk_per_group",
      // the custom whole-operator (logical node + rule + strategy +
      // two-phase bounded-heap exec, graft.plans.TopKPerGroup): top-3
      // orders per customer WITHOUT sorting or windowing — the partial
      // phase caps shuffle input at k rows per group per partition.
      // Unique (price desc, orderkey) ordering makes the set exact.
      (s, dir) => graft.plans.TopKPerGroup(
          t(s, dir, "orders"), Seq("o_custkey"),
          Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "o_orderkey"),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
             | SELECT o_custkey, o_orderkey, o_totalprice,
             |  ROW_NUMBER() OVER (PARTITION BY o_custkey
             |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
             | FROM orders)
             |WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ------------------------------------------- graph mining / link analysis
    QueryDef("g32_triangles",
      // per-node triangle count + local clustering coefficient on the
      // co-purchase projection (parts sharing >= 2 orders). Exact
      // integer counts; the coefficient is the single float division.
      (s, dir) => LinkAnalysis.clusteringCoefficients(
          StarGraph.copurchase(s, dir))
        .orderBy("node"),
      Some(s"""WITH $copurchaseSql,
              |tris AS (SELECT e1.a, e1.b, e2.b AS c FROM pe e1
              | JOIN pe e2 ON e2.a = e1.b
              | JOIN pe e3 ON e3.a = e1.a AND e3.b = e2.b),
              |tpn AS (SELECT node, COUNT(*) AS triangles FROM (
              | SELECT a AS node FROM tris UNION ALL SELECT b FROM tris
              | UNION ALL SELECT c FROM tris) GROUP BY node),
              |deg AS (SELECT node, COUNT(*) AS d FROM (
              | SELECT a AS node FROM pe UNION ALL SELECT b AS node FROM pe)
              | GROUP BY node)
              |SELECT d.node, COALESCE(t.triangles, 0) AS triangles,
              | (d.d*(d.d-1))//2 AS wedges,
              | CAST(COALESCE(t.triangles, 0) AS DOUBLE) / ((d.d*(d.d-1))//2)
              |  AS clustering_coeff
              |FROM deg d LEFT JOIN tpn t USING (node)
              |WHERE d.d >= 2 ORDER BY d.node""".stripMargin)),

    QueryDef("g33_jaccard_pairs",
      // link-prediction: neighbor-set Jaccard between parts over order
      // neighborhoods, top-100 by similarity. Intersection/union stay
      // BIGINT; jaccard is one division of those exact ints, so the
      // DESC sort ranks identically on both engines.
      (s, dir) => LinkAnalysis.jaccardPairsFromGi(
          StarGraph.copurchaseGi(s, dir), 2)
        .select(col("a"), col("b"), col("inter").as("n_common"),
          col("uni").as("n_union"), col("jaccard"))
        .orderBy(desc("jaccard"), col("a"), col("b")).limit(100),
      Some(s"""WITH $copurchaseSql,
              |deg AS (SELECT i, COUNT(*) AS d FROM gi GROUP BY i)
              |SELECT p.a, p.b, p.w AS n_common,
              | da.d + db.d - p.w AS n_union,
              | CAST(p.w AS DOUBLE) / (da.d + db.d - p.w) AS jaccard
              |FROM pe p JOIN deg da ON da.i = p.a JOIN deg db ON db.i = p.b
              |ORDER BY jaccard DESC, p.a, p.b LIMIT 100""".stripMargin)),

    QueryDef("g58_louvain_move",
      // the Louvain move phase, deterministic: synchronous exact-
      // integer modularity gains with monotone-label moves (labels
      // only decrease -> no synchronous oscillation, so the whole
      // assignment hash-matches an unrolled-CTE oracle — sequential
      // Louvain's visit-order dependence makes that impossible).
      // Complements g51's mutual-best-match: this one merges chains
      // and stars that best-match splits.
      (s, dir) => {
        val gi = StarGraph.copurchaseGi(s, dir)
        val pairs = LinkAnalysis.jaccardPairsFromGi(gi, 2).select("a", "b")
        val assign = LinkAnalysis.louvainLocalMove(pairs, rounds = 4)
        gi.select(col("i").as("id")).distinct()
          .join(assign, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("community"), col("id")).as("community"))
          .orderBy("id")
      },
      Some(louvainSql(4))),

    QueryDef("g67_leiden_refine",
      // Leiden-style refinement over g58's move-phase assignment
      // (r11): Louvain's documented defect is internally DISCONNECTED
      // communities (Traag 2019); the refinement splits every
      // community into its weakly-connected parts — intra-community
      // edges feed the log-rounds star-contraction kernel (one global
      // sweep IS the per-community sweep, since intra edges never
      // cross labels), each part relabels to its min member. Strictly
      // non-decreasing modularity by the exact g52 decomposition
      // (spec-pinned, as is every-part-connected).
      (s, dir) => {
        val gi = StarGraph.copurchaseGi(s, dir)
        val pairs = LinkAnalysis.jaccardPairsFromGi(gi, 2).select("a", "b")
          .localCheckpoint() // feeds the move phase AND the refinement
        val assign = LinkAnalysis.louvainLocalMove(pairs, rounds = 4)
        val ref = LinkAnalysis.leidenRefine(pairs, assign)
        gi.select(col("i").as("id")).distinct()
          .join(ref, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("community"), col("id")).as("community"),
            coalesce(col("refined"), col("id")).as("refined"))
          .orderBy("id")
      },
      Some(leidenSql(4))),

    QueryDef("g68_leiden_two_level",
      // the FULL Leiden pyramid at depth 2 (Traag 2019): move →
      // refine → contract BY REFINED PARTS → weighted move → compose.
      // The paper's structural fix over g59's Louvain pyramid: Louvain
      // contracts possibly-disconnected communities into single
      // super-vertices (freezing the defect forever); Leiden contracts
      // connected parts, so every level's super-graph is an honest
      // quotient. Same exact-integer determinism; the oracle unrolls
      // both move chains AND the recursive-closure refinement.
      (s, dir) => {
        val gi = StarGraph.copurchaseGi(s, dir)
        val pairs = LinkAnalysis.jaccardPairsFromGi(gi, 2).select("a", "b")
          .localCheckpoint() // feeds move, refine AND contraction
        val assign = LinkAnalysis.leidenTwoLevel(pairs, rounds1 = 4,
          rounds2 = 4)
        gi.select(col("i").as("id")).distinct()
          .join(assign, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("community"), col("id")).as("community"))
          .orderBy("id")
      },
      Some(leiden2Sql(4, 4))),

    QueryDef("g60_luby_mis",
      // Luby's maximal independent set over the co-purchase conflict
      // graph — diverse-subset selection (no two chosen parts ever
      // co-bought): md5-priority local minima join per round, their
      // neighbors drop, 6 bounded rounds (O(log n) expected);
      // isolated items are trivially in the set.
      (s, dir) => {
        val gi = StarGraph.copurchaseGi(s, dir)
        val pairs = LinkAnalysis.jaccardPairsFromGi(gi, 2).select("a", "b")
        val mis = LinkAnalysis.lubyMis(pairs, rounds = 6)
        gi.select(col("i").as("id")).distinct()
          .join(mis, Seq("id"), "left")
          .select(col("id"), coalesce(col("status"), lit("mis")).as("status"))
          .orderBy("id")
      },
      Some(lubyMisSql(6))),

    QueryDef("g61_hits",
      // HITS hubs & authorities on the 4-layer star slice — the
      // second classic eigenvector centrality next to g27's PageRank,
      // deterministic: BIGINT micro-unit gathers (DECIMAL(38,0) sums)
      // with a max-normalize per half-step instead of L2 (same
      // eigenvector direction, zero sqrt), so the whole score table
      // hash-matches the unrolled-CTE oracle. Parents of many
      // children score as authorities, pointers at popular parents
      // as hubs.
      (s, dir) => {
        val g = graph(s, dir)
          .viewLayers(Seq("region", "nation", "supplier", "customer"))
        GraphOps.hitsFixedPoint(g, iters = PrFixedIters)
          .join(g.vertices, Seq("vid"))
          .select(col("layer"), col("nodeId").as("node_id"),
            col("auth_fp"), col("hub_fp"))
          .orderBy("layer", "node_id")
      },
      Some(hitsFixedSql(Seq("region", "nation", "supplier", "customer"),
        PrFixedIters))),

    QueryDef("g62_maximal_matching",
      // deterministic greedy maximal matching over the co-purchase
      // conflict graph (pair assignment under conflicts — A/B dedup
      // arbitration, reviewer pairing): per round every part points
      // at its minimum-(md5, a, b) live edge, mutual handshakes
      // marry, endpoints retire; the fixpoint equals the sequential
      // greedy matching by that priority order but runs synchronous
      // and partitioned. Unmatched parts report mate = -1.
      (s, dir) => {
        val gi = StarGraph.copurchaseGi(s, dir)
        val pairs = LinkAnalysis.jaccardPairsFromGi(gi, 2).select("a", "b")
        val m = LinkAnalysis.maximalMatching(pairs, rounds = 6)
        val perVertex = m
          .select(col("a").as("id"), col("b").as("mate"), col("round"))
          .unionByName(m.select(col("b").as("id"), col("a").as("mate"),
            col("round")))
        gi.select(col("i").as("id")).distinct()
          .join(perVertex, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("mate"), lit(-1L)).cast("long").as("mate"),
            coalesce(col("round"), lit(0)).cast("int").as("round"))
          .orderBy("id")
      },
      Some(matchingSql(6))),

    QueryDef("g63_boruvka_msf",
      // Borůvka MAXIMUM spanning forest of the co-purchase graph —
      // the strongest-association backbone touching every part: per
      // round each component claims its best incident cross edge
      // under the (w DESC, a, b) total order (unique forest, as if
      // weights were distinct), mutual pairs root the pointer trees,
      // 6 pointer-jumps contract. 3 rounds reach the forest on this
      // graph (O(log n) in general); equality with Kruskal under the
      // same order is spec-pinned.
      (s, dir) => {
        val gi = StarGraph.copurchaseGi(s, dir)
        val pairs = LinkAnalysis.cooccurrenceFromGi(gi, 2)
        LinkAnalysis.boruvkaForest(pairs, rounds = 3, jumps = 6)
          .withColumn("round", col("round").cast("int"))
          .orderBy("a", "b")
      },
      Some(boruvkaSql(3, 6))),

    QueryDef("g64_coreness",
      // full core decomposition of the co-purchase graph via the
      // iterated neighborhood h-index (Lü et al. 2016): val0 = degree,
      // each round val' = min(val, H(neighbor vals)) — converges to
      // the exact coreness of every vertex, generalizing g35's
      // single-k peel to the whole core hierarchy in one sweep.
      // 10 rounds reach the measured fixpoint at sf0.01 (the change
      // count decays 959, 425, 208, 87, 16, 8, 4, 1, 0 — a tiny tail
      // drives the last rounds); both sides run the same bound, so
      // the hash-match holds at any SF (the g27/kcore bounded-round
      // contract). Per round: one edge-vs-value join + a per-adjacency
      // window, tie-order-free by construction.
      (s, dir) => {
        val pairs = LinkAnalysis.cooccurrenceFromGi(
          StarGraph.copurchaseGi(s, dir), 2)
        LinkAnalysis.corenessHIndex(pairs.select("a", "b"), rounds = 10)
          .orderBy("id")
      },
      Some(corenessSql(10))),

    QueryDef("g65_dag_levels",
      // longest-path ("topological depth") levels of the whole star
      // DAG: level(v) = max over in-edges of level(pred)+1 — the
      // dependency-depth statistic of a lineage/build graph, derived
      // from the edges where the reference's layer field is assigned
      // (core.py:68). 5 bounded max-plus sweeps (fixpoint at 3, the
      // longest path order→customer→nation→region; monotone, so the
      // extra rounds are no-ops — spec-pinned). Cyclic inputs go
      // through strongComponents condensation first (spec-pinned
      // composition); the star graph needs none.
      (s, dir) => {
        val g = graph(s, dir)
        Traversals.dagLevels(g.edges, g.vertices, rounds = 5)
          .join(g.vertices, Seq("vid"))
          .select(col("layer"), col("nodeId").as("node_id"), col("level"))
          .orderBy("layer", "node_id")
      },
      Some(dagLevelsSql(5))),

    QueryDef("g59_louvain_two_level",
      // the full multi-level Louvain pyramid cut at depth 2: g58's
      // deterministic move phase, community contraction into the
      // weighted super-graph (intra edges become self-loops — they
      // move WITH their vertex, so they appear only in degrees/m),
      // the WEIGHTED move phase on it, and the composed map back.
      // Each further level repeats on an exponentially smaller graph.
      (s, dir) => {
        val gi = StarGraph.copurchaseGi(s, dir)
        val pairs = LinkAnalysis.jaccardPairsFromGi(gi, 2).select("a", "b")
        val assign = LinkAnalysis.louvainTwoLevel(pairs, rounds1 = 4,
          rounds2 = 4)
        gi.select(col("i").as("id")).distinct()
          .join(assign, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("community"), col("id")).as("community"))
          .orderBy("id")
      },
      Some(louvain2Sql(4, 4))),

    QueryDef("g51_communities",
      // community detection by MUTUAL BEST MATCH over the co-purchase
      // projection: each part's best Jaccard neighbor (ties -> smaller
      // id), mutual choices form the community graph, min-label
      // components are the communities — deterministic where LPA /
      // Louvain are visit-order-dependent, so the whole structure
      // hash-matches the oracle (argmax QUALIFY + recursive closure).
      (s, dir) => LinkAnalysis.bestMatchCommunities(
          StarGraph.copurchaseGi(s, dir), 2)
        .orderBy("id"),
      Some(s"""WITH RECURSIVE $copurchaseSql,
              |deg AS (SELECT i, COUNT(*) AS d FROM gi GROUP BY i),
              |j AS (SELECT p.a, p.b,
              |  CAST(p.w AS DOUBLE) / (da.d + db.d - p.w) AS jac
              | FROM pe p JOIN deg da ON da.i = p.a
              | JOIN deg db ON db.i = p.b),
              |sym AS (SELECT a AS u, b AS v, jac FROM j
              | UNION ALL SELECT b, a, jac FROM j),
              |best AS (SELECT u, v AS bm FROM sym
              | QUALIFY ROW_NUMBER() OVER (PARTITION BY u
              |   ORDER BY jac DESC, v) = 1),
              |mutual AS (SELECT x.u AS a, x.bm AS b FROM best x
              | JOIN best y ON x.bm = y.u AND y.bm = x.u AND x.u < x.bm),
              |e AS (SELECT a, b FROM mutual
              | UNION SELECT b, a FROM mutual),
              |reach(id, r) AS (
              | SELECT a, a FROM e
              | UNION
              | SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b),
              |cl AS (SELECT id, MIN(r) AS community FROM reach GROUP BY id),
              |mem AS (SELECT DISTINCT i AS id FROM gi)
              |SELECT m.id, COALESCE(cl.community, m.id) AS community
              |FROM mem m LEFT JOIN cl ON cl.id = m.id
              |ORDER BY m.id""".stripMargin)),

    QueryDef("g52_modularity",
      // Newman modularity of the g51 communities over the SAME
      // thresholded pair graph, per community in exact integers:
      // contrib = 4*m*e_intra - d_sum^2 (Q = sum(contrib)/4m^2) — no
      // division, so the decomposition hash-matches. The trivial
      // one-community assignment sums contrib to exactly 0
      // (LinkAnalysisSpec pins it).
      (s, dir) => {
        val gi = StarGraph.copurchaseGi(s, dir)
        val pairs = LinkAnalysis.jaccardPairsFromGi(gi, 2)
          .select("a", "b").localCheckpoint()
        val assign = LinkAnalysis.bestMatchCommunities(gi, 2)
        LinkAnalysis.modularityByCommunity(pairs, assign)
          .orderBy("community")
      },
      Some(s"""WITH RECURSIVE $copurchaseSql,
              |deg AS (SELECT i, COUNT(*) AS d FROM gi GROUP BY i),
              |j AS (SELECT p.a, p.b,
              |  CAST(p.w AS DOUBLE) / (da.d + db.d - p.w) AS jac
              | FROM pe p JOIN deg da ON da.i = p.a
              | JOIN deg db ON db.i = p.b),
              |sym AS (SELECT a AS u, b AS v, jac FROM j
              | UNION ALL SELECT b, a, jac FROM j),
              |best AS (SELECT u, v AS bm FROM sym
              | QUALIFY ROW_NUMBER() OVER (PARTITION BY u
              |   ORDER BY jac DESC, v) = 1),
              |mutual AS (SELECT x.u AS a, x.bm AS b FROM best x
              | JOIN best y ON x.bm = y.u AND y.bm = x.u AND x.u < x.bm),
              |e AS (SELECT a, b FROM mutual
              | UNION SELECT b, a FROM mutual),
              |reach(id, r) AS (
              | SELECT a, a FROM e
              | UNION
              | SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b),
              |cl AS (SELECT id, MIN(r) AS community FROM reach GROUP BY id),
              |mem AS (SELECT DISTINCT i AS id FROM gi),
              |asg AS (SELECT m.id, COALESCE(cl.community, m.id) AS community
              | FROM mem m LEFT JOIN cl ON cl.id = m.id),
              |pdeg AS (SELECT u AS id, COUNT(*) AS d FROM sym GROUP BY u),
              |mtot AS (SELECT COUNT(*) AS m FROM j),
              |nd AS (SELECT a.community, COALESCE(d.d, 0) AS d
              | FROM asg a LEFT JOIN pdeg d ON d.id = a.id),
              |intra AS (SELECT x.community, COUNT(*) AS e_intra
              | FROM j JOIN asg x ON x.id = j.a JOIN asg y ON y.id = j.b
              | WHERE x.community = y.community GROUP BY 1),
              |per AS (SELECT community, COUNT(*) AS n_nodes,
              |  SUM(d) AS d_sum FROM nd GROUP BY 1)
              |SELECT p.community, p.n_nodes,
              | CAST(COALESCE(i.e_intra, 0) AS BIGINT) AS e_intra,
              | CAST(p.d_sum AS BIGINT) AS d_sum, t.m,
              | CAST(4 * t.m * COALESCE(i.e_intra, 0)
              |   - p.d_sum * p.d_sum AS BIGINT) AS contrib
              |FROM per p LEFT JOIN intra i ON i.community = p.community,
              | mtot t ORDER BY p.community""".stripMargin)),

    QueryDef("g34_resource_alloc",
      // Resource-Allocation link-prediction index: Σ 1/deg(order) over
      // shared orders, quantized to floor(1e9/deg) BIGINTs so the sum
      // is exact on every engine (Adamic-Adar's 1/ln would hash-drift
      // in the last libm ulp).
      (s, dir) => LinkAnalysis.resourceAllocationPairsFromGi(
          StarGraph.copurchaseGi(s, dir), 2)
        .select(col("a"), col("b"), col("inter").as("n_common"),
          col("ra_score"))
        .orderBy(desc("ra_score"), col("a"), col("b")).limit(100),
      Some("""WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
             |  FROM lineitem),
             |gdeg AS (SELECT g, COUNT(*) AS gd FROM gi GROUP BY g),
             |pairs AS (SELECT a.i AS a, b.i AS b, COUNT(*) AS n_common,
             |  CAST(SUM(1000000000 // w.gd) AS BIGINT) AS ra_score
             | FROM gi a JOIN gi b ON a.g = b.g AND a.i < b.i
             | JOIN gdeg w ON w.g = a.g
             | GROUP BY 1, 2 HAVING COUNT(*) >= 2)
             |SELECT a, b, n_common, ra_score FROM pairs
             |ORDER BY ra_score DESC, a, b LIMIT 100""".stripMargin)),

    QueryDef("x87_assoc_rules",
      // market-basket association rules on the co-purchase relation:
      // directional confidence + lift in integer ppm (div, not /), so
      // the strongest-association ranking hash-matches. lift > 1e6 =
      // bought together more than independence predicts.
      (s, dir) => LinkAnalysis.associationRules(
          StarGraph.copurchaseGi(s, dir), 2)
        .orderBy(desc("lift_ppm"), col("a"), col("b")).limit(100),
      Some("""WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
             |  FROM lineitem),
             | n AS (SELECT COUNT(DISTINCT g) AS n_orders FROM gi),
             | item AS (SELECT i, COUNT(*) AS ni FROM gi GROUP BY i),
             | pairs AS (SELECT a.i AS a, b.i AS b, COUNT(*) AS w
             |  FROM gi a JOIN gi b ON a.g = b.g AND a.i < b.i
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
             |SELECT p.a, p.b, p.w, ia.ni AS n_a, ib.ni AS n_b,
             | CAST(1000000 * p.w // ia.ni AS BIGINT) AS conf_ab_ppm,
             | CAST(1000000 * p.w // ib.ni AS BIGINT) AS conf_ba_ppm,
             | CAST(1000000 * p.w * n.n_orders // (ia.ni * ib.ni) AS BIGINT)
             |   AS lift_ppm
             |FROM pairs p JOIN item ia ON ia.i = p.a
             | JOIN item ib ON ib.i = p.b, n
             |ORDER BY lift_ppm DESC, a, b LIMIT 100""".stripMargin)),

    QueryDef("g35_kcore",
      // bounded synchronous 2-core peeling (8 rounds — fixpoint is at
      // 3 on this graph, LinkAnalysisSpec pins the convergence).
      (s, dir) => LinkAnalysis.kcore(
          StarGraph.copurchase(s, dir), 2, 8)
        .orderBy("node"),
      Some(kcoreSql(2, 8))),

    QueryDef("g53_ktruss",
      // bounded 3-truss peeling (3 rounds): drop edges in no triangle,
      // recompute support on the survivors, repeat — the cohesive-
      // subgraph cousin of g35's k-core, with the surviving edges'
      // last-round support as evidence. (The co-purchase projection is
      // triangle-sparse: its 4-truss is empty, so k=3 is the
      // non-trivial gate here.)
      (s, dir) => LinkAnalysis.ktruss(
          StarGraph.copurchase(s, dir).select("a", "b"), 3, 3)
        .orderBy("a", "b"),
      Some(ktrussSql(3, 3))),

    QueryDef("g37_centrality",
      // closeness + harmonic centrality (multi-source BFS, every node
      // a source) on the undirected supplier-nation-region slice.
      // maxDepth 4 == the slice diameter (supplier-nation-region-
      // nation-supplier), so the truncation is exact.
      // Counts and the 1e6-quantized harmonic sum are exact ints; the
      // closeness ratio is the single float division.
      (s, dir) => {
        // the layer slice's edges ARE the supp_nation + nation_region
        // relations — derive the labeled pairs straight from the base
        // tables (a vid->name self-join of the persisted vertex table
        // would also work but trips Dataset.checkpoint's attribute
        // remapping inside the BFS loop on Spark 4.1)
        val sup = t(s, dir, "supplier").select(
          concat(lit("supplier|"), col("s_suppkey").cast("string")).as("a"),
          concat(lit("nation|"), col("s_nationkey").cast("string")).as("b"))
        val nat = t(s, dir, "nation").select(
          concat(lit("nation|"), col("n_nationkey").cast("string")).as("a"),
          concat(lit("region|"), col("n_regionkey").cast("string")).as("b"))
        LinkAnalysis.harmonicCentrality(sup.unionAll(nat), maxDepth = 4)
          .orderBy("node")
      },
      Some(s"""$W, sub AS (SELECT source_layer || '|' || source_id AS a,
              |   target_layer || '|' || target_id AS b
              |  FROM edges
              |  WHERE source_layer IN ('supplier', 'nation', 'region')
              |    AND target_layer IN ('supplier', 'nation', 'region')),
              | und AS (SELECT a, b FROM sub UNION SELECT b, a FROM sub),
              | nodes AS (SELECT DISTINCT a AS node FROM und),
              | walk(src, node, dist) AS (
              |  SELECT node, node, 0 FROM nodes
              |  UNION
              |  SELECT w.src, u.b, w.dist + 1 FROM walk w
              |   JOIN und u ON u.a = w.node WHERE w.dist < 4),
              | md AS (SELECT src, node, MIN(dist) AS d FROM walk GROUP BY 1, 2),
              | agg AS (SELECT src AS node, COUNT(*) - 1 AS n_reached,
              |   CAST(SUM(d) AS BIGINT) AS dist_sum,
              |   MAX(d) AS ecc,
              |   CAST(SUM(CASE WHEN d > 0 THEN 1000000 // d ELSE 0 END)
              |     AS BIGINT) AS harmonic_q
              |  FROM md GROUP BY src)
              |SELECT node, n_reached, dist_sum, ecc, harmonic_q,
              | CAST(n_reached AS DOUBLE) / dist_sum AS closeness
              |FROM agg WHERE n_reached > 0 ORDER BY node""".stripMargin)),

    QueryDef("g39_betweenness",
      // exact betweenness on the supplier-nation-region slice: pair
      // fractions σ(s,v)σ(v,t)/σ(s,t) quantized to 1e6 ints. The Spark
      // side counts shortest paths by sigma-accumulating BFS; the
      // oracle counts them by enumerating bounded walks (a walk of
      // minimal length cannot revisit, so the counts agree).
      (s, dir) => {
        val sup = t(s, dir, "supplier").select(
          concat(lit("supplier|"), col("s_suppkey").cast("string")).as("a"),
          concat(lit("nation|"), col("s_nationkey").cast("string")).as("b"))
        val nat = t(s, dir, "nation").select(
          concat(lit("nation|"), col("n_nationkey").cast("string")).as("a"),
          concat(lit("region|"), col("n_regionkey").cast("string")).as("b"))
        LinkAnalysis.betweenness(sup.unionAll(nat), maxDepth = 4)
          .orderBy("node")
      },
      Some(s"""$W, sub AS (SELECT source_layer || '|' || source_id AS a,
              |   target_layer || '|' || target_id AS b
              |  FROM edges
              |  WHERE source_layer IN ('supplier', 'nation', 'region')
              |    AND target_layer IN ('supplier', 'nation', 'region')),
              | und AS (SELECT a, b FROM sub UNION SELECT b, a FROM sub),
              | nodes AS (SELECT DISTINCT a AS node FROM und),
              | walk(src, node, d) AS (
              |  SELECT node, node, 0 FROM nodes
              |  UNION ALL
              |  SELECT w.src, u.b, w.d + 1 FROM walk w
              |   JOIN und u ON u.a = w.node WHERE w.d < 4),
              | md AS (SELECT src, node, MIN(d) AS d FROM walk GROUP BY 1, 2),
              | sig AS MATERIALIZED (SELECT w.src, w.node, m.d,
              |   COUNT(*) AS sigma
              |  FROM walk w JOIN md m
              |    ON m.src = w.src AND m.node = w.node AND m.d = w.d
              |  GROUP BY 1, 2, 3),
              | st AS (SELECT src AS s, node AS t, d AS dst, sigma AS sigst
              |  FROM sig WHERE src < node),
              | bc AS (SELECT sv.node AS v,
              |   CAST(SUM((sv.sigma * tv.sigma * 1000000) // st.sigst)
              |     AS BIGINT) AS bc_q
              |  FROM st
              |  JOIN sig sv ON sv.src = st.s
              |  JOIN sig tv ON tv.src = st.t AND tv.node = sv.node
              |  WHERE sv.node <> st.s AND sv.node <> st.t
              |    AND sv.d + tv.d = st.dst
              |  GROUP BY 1)
              |SELECT v AS node, bc_q FROM bc WHERE bc_q > 0
              |ORDER BY node""".stripMargin)),

    QueryDef("g40_assortativity",
      // degree assortativity of the co-purchase graph: exact integer
      // moments (q20 pattern), identical final IEEE ops both engines.
      (s, dir) => LinkAnalysis.degreeAssortativity(
        StarGraph.copurchase(s, dir)),
      Some(s"""WITH $copurchaseSql,
              |und AS (SELECT a, b FROM pe UNION ALL SELECT b, a FROM pe),
              |deg AS (SELECT a AS node, COUNT(*) AS d FROM und GROUP BY 1),
              |xy AS (SELECT dx.d AS x, dy.d AS y FROM und
              |  JOIN deg dx ON dx.node = und.a
              |  JOIN deg dy ON dy.node = und.b),
              |m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x*x) AS sxx,
              |  SUM(y) AS sy, SUM(y*y) AS syy, SUM(x*y) AS sxy FROM xy)
              |SELECT CAST(n AS BIGINT) AS n_endpoints,
              | CAST(n*sxy - sx*sy AS DOUBLE) /
              |  (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
              |   * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS assortativity
              |FROM m""".stripMargin)),

    QueryDef("g41_kmv_centrality",
      // the 100 TB centrality path (HyperBall/ANF recipe over a
      // bottom-k KMV sketch): state O(V·k), one join + top-k per
      // round. The portable md5-48bit hash family makes the sketch
      // contents — and therefore the ESTIMATES — exactly re-derivable
      // in DuckDB, so the sketched operator is hash-matched end to
      // end, not rows-only (contrast HLL/q14). k=16 on a ~130-node
      // slice keeps most sketches at capacity, exercising the
      // estimator, not just exact small counts.
      (s, dir) => {
        val sup = t(s, dir, "supplier").select(
          concat(lit("supplier|"), col("s_suppkey").cast("string")).as("a"),
          concat(lit("nation|"), col("s_nationkey").cast("string")).as("b"))
        val nat = t(s, dir, "nation").select(
          concat(lit("nation|"), col("n_nationkey").cast("string")).as("a"),
          concat(lit("region|"), col("n_regionkey").cast("string")).as("b"))
        LinkAnalysis.kmvCentrality(sup.unionAll(nat), maxDepth = 4, k = 16)
          .orderBy("node")
      },
      Some(s"""$W, sub AS (SELECT source_layer || '|' || source_id AS a,
              |   target_layer || '|' || target_id AS b
              |  FROM edges
              |  WHERE source_layer IN ('supplier', 'nation', 'region')
              |    AND target_layer IN ('supplier', 'nation', 'region')),
              | und AS (SELECT a, b FROM sub UNION SELECT b, a FROM sub),
              | nodes AS (SELECT DISTINCT a AS node FROM und),
              | walk(src, node, dist) AS (
              |  SELECT node, node, 0 FROM nodes
              |  UNION
              |  SELECT w.src, u.b, w.dist + 1 FROM walk w
              |   JOIN und u ON u.a = w.node WHERE w.dist < 4),
              | md AS (SELECT src, node, MIN(dist) AS d FROM walk GROUP BY 1, 2),
              | h AS (SELECT node,
              |   CAST(('0x' || substr(md5(node), 1, 12)) AS BIGINT) AS h
              |  FROM nodes),
              | rt AS (SELECT DISTINCT m.src, r.t, hh.h
              |  FROM md m
              |  JOIN range(0, 5) r(t) ON m.d <= r.t
              |  JOIN h hh ON hh.node = m.node),
              | tk AS (SELECT src, t, h FROM (
              |   SELECT src, t, h,
              |    ROW_NUMBER() OVER (PARTITION BY src, t ORDER BY h) AS rn
              |   FROM rt) WHERE rn <= 16),
              | est AS (SELECT src, t,
              |   CASE WHEN COUNT(*) < 16 THEN COUNT(*)
              |        ELSE CAST(15 * 281474976710656 // GREATEST(MAX(h), 1) AS BIGINT)
              |   END AS est
              |  FROM tk GROUP BY 1, 2),
              | dl AS (SELECT src, t, est,
              |   est - LAG(est) OVER (PARTITION BY src ORDER BY t) AS delta
              |  FROM est),
              | agg AS (SELECT src AS node,
              |   CAST(MAX(CASE WHEN t = 4 THEN est END) - 1 AS BIGINT)
              |     AS n_reached_est,
              |   CAST(SUM(t * delta) AS BIGINT) AS dist_sum_est,
              |   CAST(SUM((delta * 1000000) // t) AS BIGINT) AS harmonic_q_est
              |  FROM dl WHERE t > 0 GROUP BY src)
              |SELECT node, n_reached_est, dist_sum_est, harmonic_q_est,
              | CAST(n_reached_est AS DOUBLE) / dist_sum_est AS closeness_est
              |FROM agg WHERE n_reached_est > 0 ORDER BY node""".stripMargin)),

    QueryDef("g54_effective_diameter",
      // ANF neighborhood function + effective diameter (smallest t
      // reaching 90% of the t=4 pair count) over the same portable
      // KMV sketch as g41, so the graph-level curve hash-matches the
      // sketch-re-deriving oracle end to end — the "how far apart is
      // this graph" audit row next to g41's per-node centralities.
      (s, dir) => {
        val sup = t(s, dir, "supplier").select(
          concat(lit("supplier|"), col("s_suppkey").cast("string")).as("a"),
          concat(lit("nation|"), col("s_nationkey").cast("string")).as("b"))
        val nat = t(s, dir, "nation").select(
          concat(lit("nation|"), col("n_nationkey").cast("string")).as("a"),
          concat(lit("region|"), col("n_regionkey").cast("string")).as("b"))
        LinkAnalysis.effectiveDiameter(sup.unionAll(nat), maxDepth = 4,
            k = 16)
          .orderBy("t")
      },
      Some(s"""$W, sub AS (SELECT source_layer || '|' || source_id AS a,
              |   target_layer || '|' || target_id AS b
              |  FROM edges
              |  WHERE source_layer IN ('supplier', 'nation', 'region')
              |    AND target_layer IN ('supplier', 'nation', 'region')),
              | und AS (SELECT a, b FROM sub UNION SELECT b, a FROM sub),
              | nodes AS (SELECT DISTINCT a AS node FROM und),
              | walk(src, node, dist) AS (
              |  SELECT node, node, 0 FROM nodes
              |  UNION
              |  SELECT w.src, u.b, w.dist + 1 FROM walk w
              |   JOIN und u ON u.a = w.node WHERE w.dist < 4),
              | md AS (SELECT src, node, MIN(dist) AS d FROM walk GROUP BY 1, 2),
              | h AS (SELECT node,
              |   CAST(('0x' || substr(md5(node), 1, 12)) AS BIGINT) AS h
              |  FROM nodes),
              | rt AS (SELECT DISTINCT m.src, r.t, hh.h
              |  FROM md m
              |  JOIN range(0, 5) r(t) ON m.d <= r.t
              |  JOIN h hh ON hh.node = m.node),
              | tk AS (SELECT src, t, h FROM (
              |   SELECT src, t, h,
              |    ROW_NUMBER() OVER (PARTITION BY src, t ORDER BY h) AS rn
              |   FROM rt) WHERE rn <= 16),
              | est AS (SELECT src, t,
              |   CASE WHEN COUNT(*) < 16 THEN COUNT(*)
              |        ELSE CAST(15 * 281474976710656 // GREATEST(MAX(h), 1) AS BIGINT)
              |   END AS est
              |  FROM tk GROUP BY 1, 2),
              | nf AS (SELECT t, CAST(SUM(est - 1) AS BIGINT) AS n_pairs_est
              |  FROM est GROUP BY t),
              | fin AS (SELECT n_pairs_est AS nmax FROM nf WHERE t = 4),
              | r AS (SELECT nf.t, nf.n_pairs_est,
              |   CAST(1000000 * nf.n_pairs_est // GREATEST(f.nmax, 1)
              |     AS BIGINT) AS ppm_of_final
              |  FROM nf, fin f),
              | fl AS (SELECT t, n_pairs_est, ppm_of_final,
              |   ppm_of_final >= 900000 AS rb,
              |   COALESCE(LAG(ppm_of_final >= 900000) OVER (ORDER BY t),
              |     FALSE) AS prb
              |  FROM r)
              |SELECT CAST(t AS INT) AS t, n_pairs_est, ppm_of_final,
              | (rb AND NOT prb) AS is_effective_diameter
              |FROM fl ORDER BY t""".stripMargin)),

    QueryDef("g56_label_spread",
      // seeded label spreading: region labels spread 4 undirected
      // hops (region -> nation -> supplier/customer -> order -> part)
      // with freeze-on-first-label + (count, min-label) argmax — the
      // deterministic semi-supervised LPA that classic synchronous
      // LPA's oscillation can never hash-match.
      (s, dir) => {
        val g = graph(s, dir)
        val seeds = g.vertices.where(col("layer") === "region")
          .select(col("vid").as("id"), col("nodeId").cast("int").as("label"))
        LinkAnalysis.labelSpread(
            g.edges.select(col("src").as("a"), col("dst").as("b")), seeds, 4)
          .join(g.vertices, col("id") === col("vid"))
          .select(col("layer"), col("nodeId").as("node_id"),
            col("label"), col("round"))
          .orderBy("layer", "node_id")
      },
      Some(labelSpreadSql(4))),

    QueryDef("g42_betweenness_pivots",
      // the 100 TB betweenness path: sigma BFS from the 20 pivots with
      // the smallest (md5-48bit, name) pairs — state O(m·V), combine
      // O(m²·V) — and the pair fractions restricted to pivot (s, t)
      // pairs (Brandes-Pich pivot strategy with content-hash order as
      // the deterministic sampler). The oracle re-derives the same
      // pivot set, so the sampled operator hash-matches exactly.
      (s, dir) => {
        val sup = t(s, dir, "supplier").select(
          concat(lit("supplier|"), col("s_suppkey").cast("string")).as("a"),
          concat(lit("nation|"), col("s_nationkey").cast("string")).as("b"))
        val nat = t(s, dir, "nation").select(
          concat(lit("nation|"), col("n_nationkey").cast("string")).as("a"),
          concat(lit("region|"), col("n_regionkey").cast("string")).as("b"))
        LinkAnalysis.betweennessPivots(sup.unionAll(nat), maxDepth = 4,
            numPivots = 20)
          .orderBy("node")
      },
      Some(s"""$W, sub AS (SELECT source_layer || '|' || source_id AS a,
              |   target_layer || '|' || target_id AS b
              |  FROM edges
              |  WHERE source_layer IN ('supplier', 'nation', 'region')
              |    AND target_layer IN ('supplier', 'nation', 'region')),
              | und AS (SELECT a, b FROM sub UNION SELECT b, a FROM sub),
              | nodes AS (SELECT DISTINCT a AS node FROM und),
              | pv AS MATERIALIZED (SELECT node FROM (
              |   SELECT node, ROW_NUMBER() OVER (ORDER BY
              |     CAST(('0x' || substr(md5(node), 1, 12)) AS BIGINT), node)
              |     AS rn
              |   FROM nodes) WHERE rn <= 20),
              | walk(src, node, d) AS (
              |  SELECT node, node, 0 FROM pv
              |  UNION ALL
              |  SELECT w.src, u.b, w.d + 1 FROM walk w
              |   JOIN und u ON u.a = w.node WHERE w.d < 4),
              | md AS (SELECT src, node, MIN(d) AS d FROM walk GROUP BY 1, 2),
              | sig AS MATERIALIZED (SELECT w.src, w.node, m.d,
              |   COUNT(*) AS sigma
              |  FROM walk w JOIN md m
              |    ON m.src = w.src AND m.node = w.node AND m.d = w.d
              |  GROUP BY 1, 2, 3),
              | st AS (SELECT src AS s, node AS t, d AS dst, sigma AS sigst
              |  FROM sig WHERE src < node
              |    AND node IN (SELECT node FROM pv)),
              | bc AS (SELECT sv.node AS v,
              |   CAST(SUM((sv.sigma * tv.sigma * 1000000) // st.sigst)
              |     AS BIGINT) AS bc_q
              |  FROM st
              |  JOIN sig sv ON sv.src = st.s
              |  JOIN sig tv ON tv.src = st.t AND tv.node = sv.node
              |  WHERE sv.node <> st.s AND sv.node <> st.t
              |    AND sv.d + tv.d = st.dst
              |  GROUP BY 1)
              |SELECT v AS node, bc_q FROM bc WHERE bc_q > 0
              |ORDER BY node""".stripMargin)),

    QueryDef("g43_incremental_grow",
      // S1 append semantics (builder.py:112-176/:251-255): grow the
      // star graph in TWO facade calls — dimensions first, then orders
      // with a deliberately duplicated nation batch (existing keys must
      // win) — and summarize per layer/relation. The oracle is the
      // ONE-call graph, so the hash-match IS the append-equals-build
      // guarantee.
      (s, dir) => {
        val net = new graft.OnionNet(s)
        val nodes = StarGraph.nodesDf(s, dir)
        val edges = StarGraph.edgesDf(s, dir)
        // dropDuplicates=false for the same reason the one-call cached
        // build sets it (StarGraph.build): every node/edge list here is
        // unique by construction, so the per-batch dedup shuffles (64k
        // vertices x 6 cols + 105k edges x 10 cols) are pure overhead.
        // The append semantics under test are NOT weakened: existing-
        // keys-win is the unconditional vid anti-join in merge(), and
        // the duplicated nation batch still exercises it.
        val opts = graft.builder.OnionBuilder.GrowOptions(
          nodePropCols = Seq("name", "acctbal", "price", "segment"),
          edgePropCols = Seq("relation", "qty"),
          dropDuplicates = false)
        net.growOnion(nodes.where(col("layer") =!= "order"),
          edges.where(col("source_layer") =!= "order"), opts)
        // materialize the base build once: without this the merge plan
        // re-derives it from parquet for the anti-join probe, the
        // union, AND both endpoint resolutions (measured 7.6 s -> the
        // checkpointed form; the hash is unchanged by construction)
        net.checkpoint()
        net.growOnion(
          nodes.where(col("layer").isin("order", "nation")), // nation = dup batch
          edges.where(col("source_layer") === "order"), opts)
        val g = net.g
        g.vertices.groupBy(col("layer").as("grp"))
          .agg(count(lit(1)).as("n"),
            coalesce(dsum(col("acctbal")), lit(0.0)).as("val"))
          .unionAll(g.edges.groupBy(col("relation").as("grp"))
            .agg(count(lit(1)).as("n"),
              coalesce(dsum(col("qty")), lit(0.0)).as("val")))
          .orderBy("grp")
      },
      Some(s"""$W
              |SELECT layer AS grp, CAST(COUNT(*) AS BIGINT) AS n,
              |  COALESCE(${dsumSql("acctbal")}, 0.0) AS val
              |FROM vertices GROUP BY 1
              |UNION ALL
              |SELECT relation, CAST(COUNT(*) AS BIGINT),
              |  COALESCE(${dsumSql("qty")}, 0.0)
              |FROM edges GROUP BY 1
              |ORDER BY grp""".stripMargin)),

    QueryDef("g45_force_layout",
      // the sfdp_layout slot (visualisation.py:711): seeded
      // spring-electrical layout on integer-quantized coordinates —
      // content-hashed initial positions, sqrt-free FR repulsion
      // (dx·C/d²), linear-spring attraction, per-axis cooling clamp.
      // Exact BIGINT arithmetic end to end, so a force layout
      // hash-matches a chained-CTE oracle.
      (s, dir) => {
        val sup = t(s, dir, "supplier").select(
          concat(lit("supplier|"), col("s_suppkey").cast("string")).as("a"),
          concat(lit("nation|"), col("s_nationkey").cast("string")).as("b"))
        val nat = t(s, dir, "nation").select(
          concat(lit("nation|"), col("n_nationkey").cast("string")).as("a"),
          concat(lit("region|"), col("n_regionkey").cast("string")).as("b"))
        VizData.forceLayout(sup.unionAll(nat), iters = 3).orderBy("node")
      },
      Some(forceLayoutSql(3, 1000000L, 200000000L, 10L, 200000L))),

    QueryDef("g46_force_layout_binned",
      // the SCALE twin of g45: same slice, grid-binned repulsion
      // (8x8 grid -> exact near-cell pairs + centroid far cells) —
      // O(n·cells) per iteration instead of O(n²), same exact BIGINT
      // math, hash-matched against the binned chained-CTE oracle.
      (s, dir) => {
        val sup = t(s, dir, "supplier").select(
          concat(lit("supplier|"), col("s_suppkey").cast("string")).as("a"),
          concat(lit("nation|"), col("s_nationkey").cast("string")).as("b"))
        val nat = t(s, dir, "nation").select(
          concat(lit("nation|"), col("n_nationkey").cast("string")).as("a"),
          concat(lit("region|"), col("n_regionkey").cast("string")).as("b"))
        VizData.forceLayoutBinned(sup.unionAll(nat), iters = 3)
          .orderBy("node")
      },
      Some(forceLayoutBinnedSql(3, 1000000L, 200000000L, 10L, 200000L,
        125000L))),

    // ------------------------------------------------- relational coverage 2
    QueryDef("q28_grouping_sets",
      // GROUPING SETS distinct from rollup/cube + the GROUPING()
      // marker — the ALL-coalesce plus grouping flags make each output
      // row's provenance explicit and the sort total.
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql(s"""SELECT COALESCE(l_returnflag, 'ALL') AS flag,
                 | COALESCE(l_linestatus, 'ALL') AS status,
                 | CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
                 | CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
                 | ${dsumSql("l_quantity")} AS qty_sum, COUNT(*) AS n
                 |FROM lineitem GROUP BY GROUPING SETS (
                 | (l_returnflag, l_linestatus), (l_returnflag),
                 | (l_linestatus), ())
                 |ORDER BY flag, status, g_flag, g_status""".stripMargin)
      },
      Some(s"""SELECT COALESCE(l_returnflag, 'ALL') AS flag,
              | COALESCE(l_linestatus, 'ALL') AS status,
              | CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
              | CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
              | ${dsumSql("l_quantity")} AS qty_sum, COUNT(*) AS n
              |FROM lineitem GROUP BY GROUPING SETS (
              | (l_returnflag, l_linestatus), (l_returnflag),
              | (l_linestatus), ())
              |ORDER BY flag, status, g_flag, g_status""".stripMargin)),

    QueryDef("q29_string_agg",
      // ordered string aggregation: collect_list is unordered by
      // contract, so sort the array before joining — the DuckDB side's
      // string_agg(... ORDER BY) states the same order explicitly.
      (s, dir) => {
        val n = t(s, dir, "nation"); val r = t(s, dir, "region")
        n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_nations"),
            array_join(array_sort(collect_list(col("n_name"))), ",")
              .as("nations"))
          .orderBy("r_name")
      },
      Some("""SELECT r_name, COUNT(*) AS n_nations,
             | string_agg(n_name, ',' ORDER BY n_name) AS nations
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    QueryDef("q30_histogram",
      // fixed-width histogram on integer cents: double -> exact cents
      // via floor(x*100 + 0.5) (2dp money, so +0.5 rounds the FP
      // representation error away identically on both engines), then
      // integer DIV into $50k buckets — no float boundary hazard.
      (s, dir) => t(s, dir, "orders")
        .select(expr(
          "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DIV 5000000")
          .as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_orders"))
        .withColumn("lo_dollars", col("bucket") * 50000)
        .orderBy("bucket"),
      Some("""SELECT bucket, COUNT(*) AS n_orders, bucket * 50000 AS lo_dollars
             |FROM (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |        // 5000000 AS bucket FROM orders)
             |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    QueryDef("q47_equidepth_histogram",
      // equi-DEPTH histogram (the selectivity-estimation shape q30's
      // fixed-width form can't give): quartile edges via
      // percentile_disc on exact integer cents — actual elements, no
      // interpolation, no float boundary hazard — broadcast back,
      // CASE-assigned, one count per bucket.
      (s, dir) => {
        val cents = t(s, dir, "orders").select(expr(
          "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("v"))
        val edges = cents.agg(
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY v)")
            .cast("long").as("p25"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)")
            .cast("long").as("p50"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY v)")
            .cast("long").as("p75"))
        cents.crossJoin(broadcast(edges))
          .withColumn("bucket",
            when(col("v") <= col("p25"), lit(0))
              .when(col("v") <= col("p50"), lit(1))
              .when(col("v") <= col("p75"), lit(2)).otherwise(lit(3)))
          .groupBy("bucket").agg(count(lit(1)).as("n_orders"),
            min("v").as("lo_cents"), max("v").as("hi_cents"))
          .orderBy("bucket")
      },
      Some("""WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |   AS v FROM orders),
             | e AS (SELECT
             |   CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY v) AS BIGINT) AS p25,
             |   CAST(percentile_disc(0.5)  WITHIN GROUP (ORDER BY v) AS BIGINT) AS p50,
             |   CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY v) AS BIGINT) AS p75
             |  FROM c)
             |SELECT CASE WHEN v <= e.p25 THEN 0 WHEN v <= e.p50 THEN 1
             |            WHEN v <= e.p75 THEN 2 ELSE 3 END AS bucket,
             | CAST(COUNT(*) AS BIGINT) AS n_orders,
             | MIN(v) AS lo_cents, MAX(v) AS hi_cents
             |FROM c, e GROUP BY 1 ORDER BY bucket""".stripMargin)),

    QueryDef("q48_lateral_join",
      // correlated LATERAL subquery with per-row ORDER BY LIMIT (the
      // SQL-standard top-N-per-key shape; Spark plans it as a
      // lateral join) — each deep-debit customer's two priciest
      // orders, semantics pinned against DuckDB's LATERAL.
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("graft_q48_c")
        t(s, dir, "orders").createOrReplaceTempView("graft_q48_o")
        s.sql("""SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
                |FROM graft_q48_c c,
                |LATERAL (SELECT o_orderkey, o_totalprice FROM graft_q48_o
                |  WHERE o_custkey = c.c_custkey
                |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
                |WHERE c.c_acctbal < -900
                |ORDER BY c.c_custkey, l.o_totalprice DESC, l.o_orderkey"""
          .stripMargin)
      },
      Some("""SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
             |FROM customer c,
             |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             |  WHERE o_custkey = c.c_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
             |WHERE c.c_acctbal < -900
             |ORDER BY c.c_custkey, l.o_totalprice DESC, l.o_orderkey"""
        .stripMargin)),

    QueryDef("q49_null_safe_join",
      // NULL-safe equality join (`<=>` / IS NOT DISTINCT FROM): both
      // sides carve a nullable key (nationkey bucket 0 -> NULL) and
      // the null-safe predicate MATCHES the NULL×NULL pairs a plain
      // `=` silently drops — q39's three-valued-logic corner, on the
      // join surface. Spark still plans it as a hash equi-join on the
      // null-safe key (no BNLJ regression). NULL labels as -1.
      (s, dir) => {
        val c = t(s, dir, "customer")
          .select(expr("nullif(c_nationkey % 5, 0)").as("k"))
        val su = t(s, dir, "supplier")
          .select(expr("nullif(s_nationkey % 5, 0)").as("ks"))
        c.join(su, col("k") <=> col("ks"))
          .groupBy(coalesce(col("k"), lit(-1L)).cast("long").as("k_label"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("k_label")
      },
      Some("""WITH c AS (SELECT NULLIF(c_nationkey % 5, 0) AS k
             |  FROM customer),
             | s AS (SELECT NULLIF(s_nationkey % 5, 0) AS k FROM supplier)
             |SELECT CAST(COALESCE(c.k, -1) AS BIGINT) AS k_label,
             | CAST(COUNT(*) AS BIGINT) AS n_pairs
             |FROM c JOIN s ON c.k IS NOT DISTINCT FROM s.k
             |GROUP BY 1 ORDER BY k_label""".stripMargin)),

    QueryDef("q50_percentile_cont",
      // INTERPOLATED percentiles (percentile_cont semantics — q19/q47
      // pin the _disc form): quartiles of exact integer cents per
      // return flag. Power-of-two quantiles interpolate EXACTLY in
      // binary floating point (frac and hi−lo scale by 2^-k, values
      // ≪ 2^53), so even the interpolated doubles hash-match across
      // engines — the one regime where float outputs are safe.
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"), expr(
          "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("v"))
        .groupBy("flag")
        .agg(expr("percentile(v, 0.25)").as("p25"),
          expr("percentile(v, 0.5)").as("p50"),
          expr("percentile(v, 0.75)").as("p75"))
        .orderBy("flag"),
      Some("""SELECT l_returnflag AS flag,
             | quantile_cont(v, 0.25) AS p25,
             | quantile_cont(v, 0.5) AS p50,
             | quantile_cont(v, 0.75) AS p75
             |FROM (SELECT l_returnflag,
             |  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
             | FROM lineitem)
             |GROUP BY 1 ORDER BY flag""".stripMargin)),

    QueryDef("q51_filter_agg",
      // aggregate FILTER clause (SQL:2003): per-flag conditional
      // aggregates without CASE contortions — counts, a decimal-
      // routed filtered sum, and a filtered COUNT(DISTINCT), each
      // planned as one hash aggregate pass (no self-joins).
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n_all"),
          expr("count(*) FILTER (WHERE l_quantity > 25)").as("n_big"),
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))" +
            " FILTER (WHERE l_discount > 0.05) AS DOUBLE)")
            .as("sum_discounted"),
          expr("count(DISTINCT l_suppkey) FILTER (WHERE l_quantity > 25)")
            .as("n_big_supp"))
        .orderBy("flag"),
      Some("""SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n_all,
             | CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT)
             |   AS n_big,
             | CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
             |   FILTER (WHERE l_discount > 0.05) AS DOUBLE)
             |   AS sum_discounted,
             | CAST(COUNT(DISTINCT l_suppkey) FILTER (WHERE l_quantity > 25)
             |   AS BIGINT) AS n_big_supp
             |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin)),

    QueryDef("q52_unpivot",
      // UNPIVOT / melt: the wide->long reshape (4 lineitem measures ->
      // (measure, value) rows) feeding a per-measure profile. The
      // measures route through integer micros BEFORE the melt so the
      // value column is one exact type; Spark's native unpivot is a
      // zero-shuffle Expand (4 rows per input, map-side), and the
      // profile is one hash aggregate over 4 keys.
      (s, dir) => {
        val m = t(s, dir, "lineitem").select(
          floor(col("l_quantity") * 1000000).cast("long").as("quantity"),
          floor(col("l_extendedprice") * 1000000).cast("long")
            .as("extendedprice"),
          floor(col("l_discount") * 1000000).cast("long").as("discount"),
          floor(col("l_tax") * 1000000).cast("long").as("tax"))
        m.unpivot(Array.empty[Column],
            Array(col("quantity"), col("extendedprice"),
              col("discount"), col("tax")),
            "measure", "micros")
          .groupBy("measure")
          .agg(count(lit(1)).as("n"),
            // decimal-routed AND decimal-EMITTED: the extendedprice
            // micros sum crosses 2^63 around sf~40, inside the stated
            // 100 TB regime — a long output column would silently NULL
            // there (r9 ADVICE). Emitted as the decimal's STRING form
            // (exact at any scale, and canonicalization-stable: the
            // harness' pandas path narrows a DECIMAL(38,0) column to
            // float, which re-renders 2395890000 as '2395890000.0')
            sum(col("micros").cast("decimal(38,0)"))
              .cast("decimal(38,0)").cast("string").as("sum_micros"),
            max("micros").cast("long").as("max_micros"))
          .orderBy("measure")
      },
      Some("""WITH m AS (SELECT
             |   CAST(FLOOR(l_quantity * 1000000) AS BIGINT) AS quantity,
             |   CAST(FLOOR(l_extendedprice * 1000000) AS BIGINT)
             |     AS extendedprice,
             |   CAST(FLOOR(l_discount * 1000000) AS BIGINT) AS discount,
             |   CAST(FLOOR(l_tax * 1000000) AS BIGINT) AS tax
             |  FROM lineitem),
             | u AS (SELECT measure, micros FROM m
             |  UNPIVOT (micros FOR measure IN
             |    (quantity, extendedprice, discount, tax)))
             |SELECT measure, CAST(COUNT(*) AS BIGINT) AS n,
             | CAST(CAST(SUM(micros) AS DECIMAL(38,0)) AS VARCHAR) AS sum_micros,
             | CAST(MAX(micros) AS BIGINT) AS max_micros
             |FROM u GROUP BY 1 ORDER BY measure""".stripMargin)),

    QueryDef("q53_group_by_all",
      // GROUP BY ALL / ORDER BY ALL (the DuckDB-originated shorthand
      // adopted by Spark's parser): every non-aggregate select item
      // becomes a grouping key. Analyzer-surface parity proof — the
      // plan is the same single hash aggregate as an explicit GROUP
      // BY; the sum is decimal-routed like every double sum here.
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("graft_q53_li")
        s.sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                | CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                |   AS sum_qty
                |FROM graft_q53_li
                |GROUP BY ALL ORDER BY ALL""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
             | CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
             |   AS sum_qty
             |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin)),

    QueryDef("q54_forward_fill",
      // last_value ... IGNORE NULLS — the standard forward-fill
      // (last-observation-carried-forward) window idiom: each order
      // carries the customer's most recent FINALIZED price; windows
      // partition per customer with a deterministic (date, key) tie
      // order. No arithmetic on the filled doubles — raw values pass
      // through, so the hash compare is exact.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            when(col("o_orderstatus") === "F", col("o_totalprice"))
              .as("f_price"))
          .withColumn("filled", last("f_price", ignoreNulls = true).over(w))
          .select("o_custkey", "o_orderkey", "filled")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             | LAST_VALUE(CASE WHEN o_orderstatus = 'F'
             |     THEN o_totalprice END IGNORE NULLS)
             |   OVER (PARTITION BY o_custkey
             |     ORDER BY o_orderdate, o_orderkey
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |   AS filled
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    QueryDef("q35_full_outer",
      // FULL OUTER JOIN coverage with genuinely asymmetric sides
      // (nations having deep-debit customers vs suppliers): USING-join
      // coalesces the key, unmatched counts coalesce to 0.
      (s, dir) => {
        val c = t(s, dir, "customer").where(col("c_acctbal") < -800)
          .groupBy(col("c_nationkey").as("nk"))
          .agg(count(lit(1)).as("n_poor_cust"))
        val su = t(s, dir, "supplier").where(col("s_acctbal") < -800)
          .groupBy(col("s_nationkey").as("nk"))
          .agg(count(lit(1)).as("n_poor_supp"))
        c.join(su, Seq("nk"), "full_outer")
          .select(col("nk"),
            coalesce(col("n_poor_cust"), lit(0L)).as("n_poor_cust"),
            coalesce(col("n_poor_supp"), lit(0L)).as("n_poor_supp"))
          .orderBy("nk")
      },
      Some("""SELECT COALESCE(c.nk, s.nk) AS nk,
             | COALESCE(c.n, 0) AS n_poor_cust,
             | COALESCE(s.n, 0) AS n_poor_supp
             |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n FROM customer
             |      WHERE c_acctbal < -800 GROUP BY 1) c
             |FULL OUTER JOIN
             |     (SELECT s_nationkey AS nk, COUNT(*) AS n FROM supplier
             |      WHERE s_acctbal < -800 GROUP BY 1) s
             |ON c.nk = s.nk ORDER BY nk""".stripMargin)),

    QueryDef("q33_funnel",
      // ordered funnel over the event stream: signup -> view -> click
      // -> purchase by strict first-occurrence time. Two shuffles
      // total (per-user min-per-step, then global roll-up) — no
      // k-way self-join.
      (s, dir) => EventStreams.funnel(EventStreams.readEvents(s, dir),
        Seq("signup", "view", "click", "purchase")),
      Some("""WITH per AS (SELECT user_id,
             |  MIN(ts) FILTER (event_type = 'signup') AS t_signup,
             |  MIN(ts) FILTER (event_type = 'view') AS t_view,
             |  MIN(ts) FILTER (event_type = 'click') AS t_click,
             |  MIN(ts) FILTER (event_type = 'purchase') AS t_purchase
             | FROM events GROUP BY user_id)
             |SELECT COUNT(*) AS n_users,
             | CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS f_signup,
             | CAST(SUM(CASE WHEN t_signup < t_view THEN 1 ELSE 0 END) AS BIGINT) AS f_view,
             | CAST(SUM(CASE WHEN t_signup < t_view AND t_view < t_click
             |   THEN 1 ELSE 0 END) AS BIGINT) AS f_click,
             | CAST(SUM(CASE WHEN t_signup < t_view AND t_view < t_click
             |   AND t_click < t_purchase THEN 1 ELSE 0 END) AS BIGINT) AS f_purchase
             |FROM per""".stripMargin)),

    QueryDef("q34_retention",
      // cohort retention: first-active-day cohorts, users active again
      // in day windows [7,13] and [14,20] — pure integer date math.
      (s, dir) => EventStreams.retentionCohorts(
        EventStreams.readEvents(s, dir)).orderBy("cohort_day"),
      Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
             |  FROM events),
             | fst AS (SELECT user_id, MIN(d) AS d0 FROM ud GROUP BY user_id),
             | per AS (SELECT f.user_id, f.d0,
             |  MAX(CASE WHEN date_diff('day', f.d0, u.d) BETWEEN 7 AND 13
             |    THEN 1 ELSE 0 END) AS r1,
             |  MAX(CASE WHEN date_diff('day', f.d0, u.d) BETWEEN 14 AND 20
             |    THEN 1 ELSE 0 END) AS r2
             |  FROM fst f JOIN ud u ON u.user_id = f.user_id GROUP BY 1, 2)
             |SELECT d0 AS cohort_day, COUNT(*) AS n_users,
             | CAST(SUM(r1) AS BIGINT) AS retained_w1,
             | CAST(SUM(r2) AS BIGINT) AS retained_w2
             |FROM per GROUP BY d0 ORDER BY d0""".stripMargin)),

    QueryDef("g36_weighted_sssp",
      // weighted shortest paths (Pregel relaxation over qty weights)
      // from the smallest order. Path sums accumulate strictly along
      // each path and MIN picks among complete sums, so the doubles
      // hash-match the recursive-CTE oracle walking the same paths.
      (s, dir) => {
        val g = graph(s, dir)
        val seed = minSeed(s, dir, "orders", "o_orderkey")
        val seeds = g.vertices
          .where(col("layer") === "order" && col("nodeId") === seed)
        GraphOps.weightedSssp(g, seeds, maxIter = 10)
          .join(g.vertices, Seq("vid"))
          .select(col("layer"), col("nodeId").as("node_id"), col("dist"))
          .orderBy("layer", "node_id")
      },
      Some(s"""$W, walk(layer, node_id, dist, depth) AS (
              | SELECT 'order', CAST((SELECT MIN(o_orderkey) FROM orders) AS VARCHAR),
              |  CAST(0 AS DOUBLE), 0
              | UNION ALL
              | SELECT e.target_layer, e.target_id, w.dist + e.qty, w.depth + 1
              | FROM walk w JOIN edges e
              |   ON e.source_layer = w.layer AND e.source_id = w.node_id
              | WHERE w.depth < 6)
              |SELECT layer, node_id, MIN(dist) AS dist
              |FROM walk GROUP BY layer, node_id
              |ORDER BY layer, node_id""".stripMargin)),

    QueryDef("g47_random_walks",
      // deterministic random-walk corpus (DeepWalk's data-prep step,
      // engine-exact): step t of walk (start, rep) moves to neighbor
      // md5("start:rep:t") mod degree in the (layer, node_id)-sorted
      // out-neighbor list — no RNG, so retries/engines deal identical
      // walks. Starts: the 2000 smallest orders; walks branch at the
      // order hop (parts + suppliers + customer) and die at region.
      (s, dir) => {
        val g = graph(s, dir)
        val lo = minSeed(s, dir, "orders", "o_orderkey").toLong
        val starts = g.vertices.where(col("layer") === "order" &&
          col("nodeId").cast("long") < lo + 2000)
        GraphOps.deterministicWalks(g, starts, reps = 2, walkLen = 4)
          .orderBy("start_id", "rep", "step", "layer", "node_id")
      },
      Some(s"""$W, nb AS (SELECT source_layer AS sl, source_id AS sid,
              |  list({'tl': target_layer, 'tid': target_id}
              |    ORDER BY target_layer, target_id) AS nbrs
              | FROM edges GROUP BY 1, 2),
              |starts AS (SELECT node_id FROM vertices WHERE layer = 'order'
              |  AND CAST(node_id AS BIGINT)
              |    < (SELECT MIN(o_orderkey) FROM orders) + 2000),
              |walk(start_id, rep, step, layer, node_id) AS (
              | SELECT node_id, r.r, 0, 'order', node_id
              | FROM starts, (SELECT UNNEST([0, 1]) AS r) r
              | UNION ALL
              | SELECT w.start_id, w.rep, w.step + 1,
              |  nb.nbrs[1 + CAST(CAST(('0x' || substr(md5(w.start_id
              |    || ':' || w.rep || ':' || (w.step + 1)), 1, 15))
              |    AS BIGINT) % len(nb.nbrs) AS INT)]['tl'],
              |  nb.nbrs[1 + CAST(CAST(('0x' || substr(md5(w.start_id
              |    || ':' || w.rep || ':' || (w.step + 1)), 1, 15))
              |    AS BIGINT) % len(nb.nbrs) AS INT)]['tid']
              | FROM walk w JOIN nb ON nb.sl = w.layer AND nb.sid = w.node_id
              | WHERE w.step < 4)
              |SELECT start_id, rep, step, layer, node_id FROM walk
              |ORDER BY start_id, rep, step, layer, node_id""".stripMargin)),

    QueryDef("g48_skipgram_pairs",
      // the walk corpus's consumption form: (center, context) node
      // pairs within a 2-step window of the same walk, counted
      // corpus-wide — the co-occurrence table a skip-gram embedding
      // trainer reads. One per-walk-local self-join + one count agg.
      (s, dir) => {
        val g = graph(s, dir)
        val lo = minSeed(s, dir, "orders", "o_orderkey").toLong
        val starts = g.vertices.where(col("layer") === "order" &&
          col("nodeId").cast("long") < lo + 2000)
        GraphOps.walkSkipGramPairs(
            GraphOps.deterministicWalks(g, starts, reps = 2, walkLen = 4),
            win = 2)
          .orderBy("center_layer", "center_id", "context_layer",
            "context_id")
      },
      Some(s"""$W, nb AS (SELECT source_layer AS sl, source_id AS sid,
              |  list({'tl': target_layer, 'tid': target_id}
              |    ORDER BY target_layer, target_id) AS nbrs
              | FROM edges GROUP BY 1, 2),
              |starts AS (SELECT node_id FROM vertices WHERE layer = 'order'
              |  AND CAST(node_id AS BIGINT)
              |    < (SELECT MIN(o_orderkey) FROM orders) + 2000),
              |walk(start_id, rep, step, layer, node_id) AS (
              | SELECT node_id, r.r, 0, 'order', node_id
              | FROM starts, (SELECT UNNEST([0, 1]) AS r) r
              | UNION ALL
              | SELECT w.start_id, w.rep, w.step + 1,
              |  nb.nbrs[1 + CAST(CAST(('0x' || substr(md5(w.start_id
              |    || ':' || w.rep || ':' || (w.step + 1)), 1, 15))
              |    AS BIGINT) % len(nb.nbrs) AS INT)]['tl'],
              |  nb.nbrs[1 + CAST(CAST(('0x' || substr(md5(w.start_id
              |    || ':' || w.rep || ':' || (w.step + 1)), 1, 15))
              |    AS BIGINT) % len(nb.nbrs) AS INT)]['tid']
              | FROM walk w JOIN nb ON nb.sl = w.layer AND nb.sid = w.node_id
              | WHERE w.step < 4)
              |SELECT a.layer AS center_layer, a.node_id AS center_id,
              | b.layer AS context_layer, b.node_id AS context_id,
              | CAST(COUNT(*) AS BIGINT) AS cnt
              |FROM walk a JOIN walk b
              |  ON a.start_id = b.start_id AND a.rep = b.rep
              | AND a.step <> b.step AND ABS(a.step - b.step) <= 2
              |GROUP BY 1, 2, 3, 4
              |ORDER BY center_layer, center_id, context_layer, context_id""".stripMargin)),

    QueryDef("q36_gapfill",
      // time-series resample: per-type daily aggregates over each
      // type's OWN [min(day), max(day)] date spine (missing days ->
      // n=0) with the value forward-filled by an ignoreNulls window.
      // Span-bounded grid (r12 verdict #3): the oracle derives the
      // spine per key too, so the contract holds at any SF even when
      // a key does not cover the global span (on the test data every
      // event_type does, so the hash is unchanged from the dense-grid
      // rounds).
      (s, dir) => EventStreams.gapFillDaily(EventStreams.readEvents(s, dir))
        .orderBy("event_type", "d"),
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n,
             |    CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
             |  FROM events GROUP BY 1, 2),
             | bounds AS (SELECT event_type, MIN(d) AS lo, MAX(d) AS hi
             |   FROM daily GROUP BY 1),
             | grid AS (SELECT event_type, CAST(UNNEST(generate_series(lo, hi,
             |   INTERVAL 1 DAY)) AS DATE) AS d FROM bounds),
             | j AS (SELECT g.event_type, g.d, COALESCE(dy.n, 0) AS n, dy.sum_value
             |   FROM grid g LEFT JOIN daily dy
             |     ON dy.event_type = g.event_type AND dy.d = g.d)
             |SELECT event_type, d, n,
             | COALESCE(last_value(sum_value IGNORE NULLS) OVER (
             |   PARTITION BY event_type ORDER BY d ROWS UNBOUNDED PRECEDING),
             |  0.0) AS filled_value
             |FROM j ORDER BY event_type, d""".stripMargin)),

    QueryDef("q41_transitions",
      // Markov transition matrix over per-user event sequences:
      // (src, dst) counts + integer-ppm row-conditional probability.
      // The ppm is an integer `div` on both engines — row totals at
      // corpus scale exceed 2^53, where double division rounds.
      (s, dir) => EventStreams.transitionMatrix(EventStreams.readEvents(s, dir))
        .orderBy("src_type", "dst_type"),
      Some("""WITH seq AS (SELECT user_id, event_type,
             |  LEAD(event_type) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id) AS nxt
             | FROM events),
             | cnt AS (SELECT event_type AS src_type, nxt AS dst_type,
             |   COUNT(*) AS n
             |  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2)
             |SELECT src_type, dst_type, n,
             | CAST(1000000 * n // SUM(n) OVER (PARTITION BY src_type)
             |   AS BIGINT) AS p_ppm
             |FROM cnt ORDER BY src_type, dst_type""".stripMargin)),

    QueryDef("q42_anomaly",
      // daily spike detection over the gap-filled calendar grid:
      // n > 2x the trailing-7-day mean, flagged by the integer
      // cross-multiply n*t_days > 2*t_sum (no division — exact on
      // both engines). Zero-event days participate in the mean.
      (s, dir) => EventStreams.dailyAnomalies(EventStreams.readEvents(s, dir))
        .orderBy("event_type", "d"),
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
             |  FROM events GROUP BY 1, 2),
             | bounds AS (SELECT event_type, MIN(d) AS lo, MAX(d) AS hi
             |   FROM daily GROUP BY 1),
             | grid AS (SELECT event_type, CAST(UNNEST(generate_series(lo, hi,
             |   INTERVAL 1 DAY)) AS DATE) AS d FROM bounds),
             | j AS (SELECT g.event_type, g.d, COALESCE(dy.n, 0) AS n
             |   FROM grid g LEFT JOIN daily dy
             |     ON dy.event_type = g.event_type AND dy.d = g.d),
             | wnd AS (SELECT event_type, d, n,
             |   COALESCE(SUM(n) OVER w, 0) AS t_sum, COUNT(n) OVER w AS t_days
             |  FROM j WINDOW w AS (PARTITION BY event_type ORDER BY d
             |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
             |SELECT event_type, d, CAST(n AS BIGINT) AS n,
             | CAST(t_sum AS BIGINT) AS t_sum, CAST(t_days AS BIGINT) AS t_days,
             | (t_days > 0 AND n * t_days > 2 * t_sum) AS is_spike
             |FROM wnd ORDER BY event_type, d""".stripMargin)),

    QueryDef("q43_session_paths",
      // clickstream path mining: 30-minute-gap sessions rendered as
      // ordered '>'-joined event-type paths, counted corpus-wide.
      // Both engines sessionize and concatenate over the same total
      // (ts, event_id) order, so paths match byte-for-byte.
      (s, dir) => EventStreams.sessionPaths(EventStreams.readEvents(s, dir))
        .orderBy("path"),
      Some("""WITH s AS (SELECT user_id, ts, event_id, event_type,
             |  CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE
             |    THEN 0 ELSE 1 END AS brk
             | FROM events WINDOW w AS (PARTITION BY user_id
             |   ORDER BY ts, event_id)),
             | t AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id) AS sess FROM s),
             | p AS (SELECT user_id, sess,
             |   STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
             |  FROM t GROUP BY 1, 2)
             |SELECT path, COUNT(*) AS n_sessions
             |FROM p GROUP BY path ORDER BY path""".stripMargin)),

    QueryDef("q44_rolling_actives",
      // DAU / trailing-7-day-actives / stickiness ppm per calendar
      // day. Rolling DISTINCT is not a frame aggregate: the spine
      // joins the (user, day) table on the day range (bounded 7x
      // expansion of the already-collapsed distinct table), then one
      // count-distinct per day.
      (s, dir) => EventStreams.rollingActives(EventStreams.readEvents(s, dir))
        .orderBy("d"),
      Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
             |  FROM events),
             | bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ud),
             | spine AS (SELECT CAST(UNNEST(generate_series(lo, hi,
             |   INTERVAL 1 DAY)) AS DATE) AS d FROM bounds),
             | dau AS (SELECT day AS d, COUNT(*) AS dau FROM ud GROUP BY 1),
             | wau AS (SELECT s.d, COUNT(DISTINCT u.user_id) AS wau
             |  FROM spine s JOIN ud u ON u.day BETWEEN s.d - 6 AND s.d
             |  GROUP BY 1)
             |SELECT s.d, CAST(COALESCE(dau.dau, 0) AS BIGINT) AS dau,
             | CAST(COALESCE(wau.wau, 0) AS BIGINT) AS wau,
             | CAST(1000000 * COALESCE(dau.dau, 0)
             |   // GREATEST(COALESCE(wau.wau, 0), 1) AS BIGINT)
             |   AS stickiness_ppm
             |FROM spine s LEFT JOIN dau ON dau.d = s.d
             | LEFT JOIN wau ON wau.d = s.d
             |ORDER BY s.d""".stripMargin)),

    QueryDef("q45_streaks",
      // longest activity streak per user — gaps-and-islands: the
      // island key day-row_number is constant exactly along a run of
      // consecutive days; best streak = (len DESC, start) argmax as a
      // max-of-struct agg.
      (s, dir) => EventStreams.activityStreaks(EventStreams.readEvents(s, dir))
        .orderBy("user_id"),
      Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
             |  FROM events),
             | isl AS (SELECT user_id, d,
             |   d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
             |     ORDER BY d) AS INT) AS g
             |  FROM ud),
             | st AS (SELECT user_id, g, COUNT(*) AS len, MIN(d) AS start
             |  FROM isl GROUP BY 1, 2),
             | best AS (SELECT user_id, len AS best_len,
             |   start AS best_start FROM st
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
             |    ORDER BY len DESC, start) = 1),
             | per AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_streaks,
             |   CAST(SUM(len) AS BIGINT) AS n_active_days
             |  FROM st GROUP BY 1)
             |SELECT p.user_id, p.n_streaks, p.n_active_days,
             | CAST(b.best_len AS BIGINT) AS best_len, b.best_start
             |FROM per p JOIN best b USING (user_id)
             |ORDER BY p.user_id""".stripMargin)),

    QueryDef("q46_recursive_cte",
      // recursive CTE on the SQL surface (Spark 4.1 WITH RECURSIVE ==
      // DuckDB WITH RECURSIVE): min-distance AND path-count closure
      // up the star DAG from the min nation's orders — path
      // multiplicity (a region is reached once per order->...->region
      // chain) is the genuinely recursive metric g05's frontier-join
      // reachability does not expose. Recursive CTEs ENUMERATE paths,
      // so the seed is a bounded slice: Spark's
      // spark.sql.cteRecursionRowLimit safety conf (1M default) is
      // the knob past that, and the frontier-join kernels remain the
      // closure scale path — this query is the SQL-surface parity
      // proof, not the 100 TB recursion engine.
      (s, dir) => {
        val g = graph(s, dir)
        t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(t(s, dir, "nation").agg(min("n_nationkey").as("mn")),
            col("c_nationkey") === col("mn"))
          .select(lit("order").as("layer"),
            col("o_orderkey").cast("string").as("node_id"))
          .createOrReplaceTempView("graft_q46_seed")
        g.edges.createOrReplaceTempView("graft_q46_e")
        s.sql("""WITH RECURSIVE up(layer, node_id, dist) AS (
                |  SELECT layer, node_id, 0 FROM graft_q46_seed
                |  UNION ALL
                |  SELECT e.dstLayer, e.dstId, u.dist + 1
                |  FROM up u JOIN graft_q46_e e
                |    ON e.srcLayer = u.layer AND e.srcId = u.node_id
                |  WHERE u.dist < 5)
                |SELECT layer, node_id, MIN(dist) AS dist,
                |  CAST(COUNT(*) AS BIGINT) AS n_paths
                |FROM up GROUP BY layer, node_id
                |ORDER BY layer, node_id""".stripMargin)
      },
      Some(s"""$W, up(layer, node_id, dist) AS (
             |  SELECT 'order', CAST(o_orderkey AS VARCHAR), 0
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  WHERE c_nationkey = (SELECT MIN(n_nationkey) FROM nation)
             |  UNION ALL
             |  SELECT e.target_layer, e.target_id, u.dist + 1
             |  FROM up u JOIN edges e
             |    ON e.source_layer = u.layer AND e.source_id = u.node_id
             |  WHERE u.dist < 5)
             |SELECT layer, node_id, MIN(dist) AS dist,
             | CAST(COUNT(*) AS BIGINT) AS n_paths
             |FROM up GROUP BY layer, node_id
             |ORDER BY layer, node_id""".stripMargin)),

    QueryDef("q37_sliding_window",
      // sliding windows (width 1h, slide 30m): every event lands in
      // exactly width/slide = 2 windows; the oracle re-derives the two
      // bucket starts per event explicitly.
      (s, dir) => EventStreams.slidingUserCounts(
          EventStreams.readEvents(s, dir), "1 hour", "30 minutes")
        .orderBy("window_start", "user_id"),
      Some("""SELECT strftime(s, '%Y-%m-%d %H:%M:%S') AS window_start,
             | user_id, COUNT(*) AS n_events
             |FROM (SELECT time_bucket(INTERVAL '30 minutes', ts)
             |        - k * INTERVAL '30 minutes' AS s, user_id
             |      FROM events, generate_series(0, 1) AS g(k))
             |GROUP BY 1, 2 ORDER BY window_start, user_id""".stripMargin)),

    QueryDef("q38_distribution",
      // window distribution functions: percent_rank = (rank-1)/(N-1)
      // and cume_dist = rank/N over a unique ordering — exact rationals
      // of BIGINTs, one IEEE division each, engine-identical.
      (s, dir) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderpriority,
             | PERCENT_RANK() OVER (PARTITION BY o_orderpriority
             |   ORDER BY o_totalprice, o_orderkey) AS pr,
             | CUME_DIST() OVER (PARTITION BY o_orderpriority
             |   ORDER BY o_totalprice, o_orderkey) AS cd
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    QueryDef("q39_not_in_nulls",
      // three-valued-logic showpiece: NOT IN against a subquery that
      // CONTAINS a NULL keeps only rows the comparison can prove —
      // both engines must agree on the NULL-poisoned semantics (and on
      // the NULL-free twin's ordinary anti-join behavior).
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("orders")
        t(s, dir, "customer").createOrReplaceTempView("customer")
        s.sql("""SELECT
                | (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
                |   (SELECT CASE WHEN c_custkey % 100 = 7 THEN NULL
                |           ELSE c_custkey END FROM customer)) AS with_null,
                | (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
                |   (SELECT c_custkey FROM customer
                |    WHERE c_custkey % 100 <> 7)) AS without_null""".stripMargin)
      },
      Some("""SELECT
             | (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
             |   (SELECT CASE WHEN c_custkey % 100 = 7 THEN NULL
             |           ELSE c_custkey END FROM customer)) AS with_null,
             | (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
             |   (SELECT c_custkey FROM customer
             |    WHERE c_custkey % 100 <> 7)) AS without_null""".stripMargin)),

    QueryDef("q40_correlated_scalar",
      // correlated scalar subquery in a predicate: suppliers whose
      // balance beats their nation's AVERAGE customer balance — the
      // mean is the decimal-exact sum over an exact count, one float
      // division per nation.
      (s, dir) => {
        t(s, dir, "supplier").createOrReplaceTempView("supplier")
        t(s, dir, "customer").createOrReplaceTempView("customer")
        s.sql("""SELECT s_suppkey, s_nationkey FROM supplier s
                |WHERE s_acctbal > (SELECT
                |   CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                |     / COUNT(*)
                |  FROM customer c WHERE c.c_nationkey = s.s_nationkey)
                |ORDER BY s_suppkey""".stripMargin)
      },
      Some("""SELECT s_suppkey, s_nationkey FROM supplier s
             |WHERE s_acctbal > (SELECT
             |   CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
             |     / COUNT(*)
             |  FROM customer c WHERE c.c_nationkey = s.s_nationkey)
             |ORDER BY s_suppkey""".stripMargin)),

    QueryDef("x34_scd2",
      // SCD2 versioned upsert: a synthetic batch bumps acctbal by 100
      // for custkey % 7 = 0 and no-ops custkey % 97 = 3 — changed keys
      // close their open row at the batch date and insert a new open
      // version, no-ops pass through untouched.
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val cur = cust.select(col("c_custkey").as("k"),
            col("c_mktsegment").as("seg"), col("c_acctbal").as("bal"))
          .withColumn("valid_from", lit("1990-01-01").cast("date"))
          .withColumn("valid_to", lit(null).cast("date"))
          .withColumn("is_current", lit(true))
        val upd = cust.where(col("c_custkey") % 7 === 0)
          .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
            (col("c_acctbal") + 100).as("bal"))
          .unionByName(cust
            .where(col("c_custkey") % 97 === 3 && col("c_custkey") % 7 =!= 0)
            .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
              col("c_acctbal").as("bal")))
        ext.Upserts.scd2(cur, upd, "k", Seq("seg", "bal"),
            lit("2024-01-01").cast("date"))
          // NULL dates stringify engine-specifically (None vs NaT) in
          // the comparator; open rows take the conventional sentinel
          .withColumn("valid_to",
            coalesce(col("valid_to"), lit("9999-12-31").cast("date")))
          .orderBy("k", "valid_from")
      },
      Some("""WITH cur AS (SELECT c_custkey AS k, c_mktsegment AS seg,
             |   c_acctbal AS bal FROM customer),
             | upd AS (
             |  SELECT c_custkey AS k, c_mktsegment AS seg,
             |    c_acctbal + 100 AS bal FROM customer WHERE c_custkey % 7 = 0
             |  UNION ALL
             |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
             |   WHERE c_custkey % 97 = 3 AND c_custkey % 7 <> 0),
             | changed AS (SELECT c.k FROM cur c JOIN upd u USING (k)
             |  WHERE u.bal IS DISTINCT FROM c.bal
             |     OR u.seg IS DISTINCT FROM c.seg)
             |SELECT k, seg, bal, DATE '1990-01-01' AS valid_from,
             |  DATE '2024-01-01' AS valid_to, FALSE AS is_current
             | FROM cur WHERE k IN (SELECT k FROM changed)
             |UNION ALL
             |SELECT k, seg, bal, DATE '1990-01-01', DATE '9999-12-31', TRUE
             | FROM cur WHERE k NOT IN (SELECT k FROM changed)
             |UNION ALL
             |SELECT u.k, u.seg, u.bal, DATE '2024-01-01', DATE '9999-12-31', TRUE
             | FROM upd u WHERE u.k IN (SELECT k FROM changed)
             |ORDER BY k, valid_from""".stripMargin)),

    QueryDef("x35_weighted_sample",
      // quality-weighted deterministic downsample: keep probability
      // n_tokens * 5000 ppm (capped at 1e6 — docs of 200+ tokens
      // always survive), decided by the portable md5 ppm bucket.
      // All-integer weights: the keep decision is exact on any engine.
      (s, dir) => {
        val d = docs(s, dir).withColumn("n_tokens",
          TextOps.tokenCount(col("text")).cast("long"))
          .withColumn("w_ppm", least(lit(1000000L), col("n_tokens") * 5000L))
        Sampling.weightedBernoulli(d, "doc_id", col("w_ppm"))
          .select("doc_id", "n_tokens", "w_ppm")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id,
             |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             |    AS n_tokens FROM documents),
             | w AS (SELECT doc_id, n_tokens,
             |  LEAST(1000000, n_tokens * 5000) AS w_ppm FROM d)
             |SELECT doc_id, n_tokens, w_ppm FROM w
             |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             |   AS BIGINT) % 1000000 < w_ppm
             |ORDER BY doc_id""".stripMargin)),

    QueryDef("x45_mixture_sample",
      // training-data mixture: the LARGEST deterministic subsample
      // hitting target language shares (en .4 / zh .2 / es .2 /
      // de .1 / fr .1). Rates are DERIVED (K = min n_c/w_c; es is the
      // binding category at sf0.01 and keeps everything), selection is
      // the portable md5 ppm bucket — the oracle re-derives counts,
      // the double rate arithmetic in the same operation order, and
      // the per-row keep decision, so the kept set matches row-for-row.
      (s, dir) => Sampling.mixtureSample(docs(s, dir), "lang", "doc_id",
          Seq("en" -> 0.4, "zh" -> 0.2, "es" -> 0.2, "de" -> 0.1, "fr" -> 0.1))
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some("""WITH w(cat, wt) AS (VALUES ('en', 0.4), ('zh', 0.2),
             |  ('es', 0.2), ('de', 0.1), ('fr', 0.1)),
             | n AS (SELECT lang AS cat, count(*) AS n
             |   FROM documents GROUP BY 1),
             | k AS (SELECT min(n.n / w.wt) AS kk FROM n JOIN w USING (cat)),
             | r AS (SELECT cat,
             |   CAST(floor(w.wt * k.kk / n.n * 1000000) AS BIGINT) AS ppm
             |   FROM n JOIN w USING (cat) CROSS JOIN k)
             |SELECT d.doc_id, d.lang FROM documents d
             | JOIN r ON r.cat = d.lang
             | WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
             |    AS BIGINT) % 1000000 < r.ppm
             |ORDER BY d.doc_id""".stripMargin)),

    QueryDef("x92_temperature_mix",
      // temperature-scaled source mixing (share ~ n^(1/2), the
      // multilingual-recipe flattening): weights are DERIVED sqrt(n)
      // — IEEE sqrt is correctly rounded, unlike pow's libm drift —
      // then the same K = min(n/w) largest-subsample derivation and
      // md5-bucket keep as x45.
      (s, dir) => Sampling.temperatureMixture(docs(s, dir), "source", "doc_id")
        .select("doc_id", "source")
        .orderBy("doc_id"),
      Some("""WITH n AS (SELECT source AS cat, COUNT(*) AS n
             |  FROM documents GROUP BY 1),
             | w AS (SELECT cat, n, SQRT(CAST(n AS DOUBLE)) AS wt FROM n),
             | k AS (SELECT MIN(n / wt) AS kk FROM w),
             | r AS (SELECT cat,
             |   CAST(FLOOR(wt * k.kk / n * 1000000) AS BIGINT) AS ppm
             |  FROM w CROSS JOIN k)
             |SELECT d.doc_id, d.source FROM documents d
             | JOIN r ON r.cat = d.source
             | WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
             |    AS BIGINT) % 1000000 < r.ppm
             |ORDER BY d.doc_id""".stripMargin)),

    QueryDef("x36_countmin",
      // Count-Min frequency sketch over the token stream as a typed
      // Aggregator (exactly mergeable: elementwise-add matrix, any
      // reduce tree). The md5 hash family is portable, so the oracle
      // re-derives the identical 4x64 matrix cell by cell — a
      // hash-CHECKED sketch, not a rows-only one.
      (s, dir) => {
        val toks = docs(s, dir).select(
          explode(TextOps.tokens(TextOps.normalize(col("text")))).as("t"))
        toks.agg(ext.Aggregators.countMin(4, 64)(col("t")).as("cells"))
          .select(posexplode(col("cells")).as(Seq("i", "cnt")))
          .where(col("cnt") > 0)
          .select((col("i") / 64).cast("long").as("r"),
            (col("i") % 64).cast("long").as("c"), col("cnt"))
          .orderBy("r", "c")
      },
      Some("""WITH toks AS (SELECT UNNEST(string_split_regex(
             |   trim(regexp_replace(regexp_replace(lower(text),
             |     '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')),
             |   '\s+')) AS t FROM documents),
             | cells AS (SELECT r,
             |   CAST(('0x' || substr(md5(t || ':' || r), 1, 15)) AS BIGINT)
             |     % 64 AS c,
             |   COUNT(*) AS cnt
             |  FROM toks, generate_series(0, 3) AS g(r)
             |  GROUP BY 1, 2)
             |SELECT CAST(r AS BIGINT) AS r, c, cnt FROM cells
             |ORDER BY r, c""".stripMargin)),

    QueryDef("x37_containment",
      // asymmetric containment — the subset-duplicate case Jaccard
      // misses (a chunk inside a superdoc scores |A∩B|/|A| ~ 1 with
      // low Jaccard). Hashed-shingle cardinalities equal the oracle's
      // string-shingle cardinalities (x06 precedent).
      (s, dir) => Dedup.containmentPairs(docs(s, dir),
          blockKey = concat_ws("|", col("lang"),
            (col("n_chars") / 50).cast("long")),
          minContainment = 0.6, w = 2)
        .orderBy("a", "b"),
      Some("""WITH toks AS (SELECT doc_id,
             |  lang || '|' || (n_chars // 50) AS blk,
             |  string_split_regex(trim(text), '\s+') AS tk FROM documents),
             | sh AS (SELECT doc_id, blk,
             |  list_distinct([tk[i] || ' ' || tk[i+1]
             |    for i in generate_series(1, len(tk) - 1)]) AS s
             | FROM toks),
             | sh2 AS (SELECT * FROM sh WHERE len(s) > 0),
             | p AS (SELECT l.doc_id AS a, r.doc_id AS b,
             |  CAST(len(list_intersect(l.s, r.s)) AS BIGINT) AS n_common,
             |  CAST(len(list_intersect(l.s, r.s)) AS DOUBLE) / len(l.s)
             |    AS cont_ab,
             |  CAST(len(list_intersect(l.s, r.s)) AS DOUBLE) / len(r.s)
             |    AS cont_ba
             |  FROM sh2 l JOIN sh2 r ON l.blk = r.blk AND l.doc_id < r.doc_id)
             |SELECT a, b, n_common, cont_ab, cont_ba FROM p
             |WHERE cont_ab >= 0.6 OR cont_ba >= 0.6
             |ORDER BY a, b""".stripMargin)),

    QueryDef("x38_novelty",
      // corpus novelty: fraction of a doc's distinct bigram shingles
      // with corpus document-frequency 1 — exact counts, one division.
      (s, dir) => TextOps.noveltyScore(docs(s, dir), w = 2)
        .orderBy("doc_id"),
      Some("""WITH sh AS (SELECT doc_id, UNNEST(list_distinct(
             |   [tk[i] || ' ' || tk[i+1]
             |    for i in generate_series(1, len(tk) - 1)])) AS h
             |  FROM (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS tk
             |   FROM documents)),
             | hdf AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY h),
             | per AS (SELECT doc_id, COUNT(*) AS n_shingles,
             |   CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |     AS n_unique
             |  FROM sh JOIN hdf USING (h) GROUP BY doc_id)
             |SELECT doc_id, n_shingles, n_unique,
             | CAST(n_unique AS DOUBLE) / n_shingles AS novelty
             |FROM per ORDER BY doc_id""".stripMargin)),

    QueryDef("x64_ulaw_audio",
      // REAL compressed-audio decode: G.711 μ-law WAV per document
      // (closed-form bytes in the COMPRESSED domain), expanded to
      // PCM16 by the actual JDK codec inside the existing decodeAudio
      // path. G.711's expansion is exactly-specified integer
      // arithmetic (verified bit-identical to the JDK for all 256
      // bytes), so the oracle re-derives the DECODED samples with no
      // codec — the audio analogue of x61's PNG-in-AVI.
      (s, dir) => {
        val media = Multimodal.synthesizeUlawWav(
          docs(s, dir).select("doc_id"), "doc_id", 256, 8000)
        Multimodal.decodeAudio(media, 16)
          .where(col("decode_ok"))
          .select(col("media_id"),
            col("sample_rate").cast("long").as("sample_rate"),
            col("n_samples"), col("sum_q"),
            posexplode(col("hist")).as(Seq("bucket", "cnt")))
          .where(col("cnt") > 0)
          .select(col("media_id"), col("sample_rate"), col("n_samples"),
            col("sum_q"), col("bucket").cast("long").as("bucket"), col("cnt"))
          .orderBy("media_id", "bucket")
      },
      Some("""WITH enc AS (SELECT d.doc_id, i.i,
             |   255 - ((d.doc_id*31 + i.i*7) % 256) AS u
             |  FROM (SELECT doc_id FROM documents) d,
             |       generate_series(0, 255) i(i)),
             | smp AS (SELECT doc_id,
             |   CASE WHEN u >= 128 THEN
             |     -(((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132)
             |   ELSE
             |      ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132
             |   END AS s
             |  FROM enc),
             | agg AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS sum_q
             |  FROM smp GROUP BY 1),
             | b AS (SELECT doc_id, (s + 32768) % 16 AS bucket FROM smp)
             |SELECT b.doc_id AS media_id, CAST(8000 AS BIGINT) AS sample_rate,
             | CAST(256 AS BIGINT) AS n_samples, a.sum_q AS sum_q,
             | CAST(b.bucket AS BIGINT) AS bucket, COUNT(*) AS cnt
             |FROM b JOIN agg a ON a.doc_id = b.doc_id
             |GROUP BY 1, 2, 3, 4, 5
             |ORDER BY media_id, bucket""".stripMargin)),

    QueryDef("x39_audio_decode",
      // REAL audio decode: synthesize a 400-sample 16-bit PCM WAV per
      // document (sample values are closed-form integer arithmetic
      // over doc_id), round-trip through an ACTUAL javax.sound.sampled
      // encode + decode, and emit amplitude sum + per-bucket histogram.
      // PCM is lossless, so the oracle re-derives the decoded features
      // from the same sample formula with no codec — the audio twin of
      // x12's decode-path hash-match.
      (s, dir) => {
        val media = Multimodal.synthesizeWav(
          docs(s, dir).select("doc_id"), "doc_id", 400, 8000)
        Multimodal.decodeAudio(media, 16)
          .where(col("decode_ok"))
          .select(col("media_id"),
            col("sample_rate").cast("long").as("sample_rate"),
            col("n_samples"), col("sum_q"),
            posexplode(col("hist")).as(Seq("bucket", "cnt")))
          .where(col("cnt") > 0)
          .select(col("media_id"), col("sample_rate"), col("n_samples"),
            col("sum_q"), col("bucket").cast("long").as("bucket"), col("cnt"))
          .orderBy("media_id", "bucket")
      },
      Some("""WITH smp AS (SELECT d.doc_id,
             |   ((d.doc_id*31 + i.i*7) % 65536) - 32768 AS s
             |  FROM (SELECT doc_id FROM documents) d,
             |       generate_series(0, 399) i(i)),
             | agg AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS sum_q
             |  FROM smp GROUP BY 1),
             | b AS (SELECT doc_id, (s + 32768) % 16 AS bucket FROM smp)
             |SELECT b.doc_id AS media_id, CAST(8000 AS BIGINT) AS sample_rate,
             | CAST(400 AS BIGINT) AS n_samples, a.sum_q AS sum_q,
             | CAST(b.bucket AS BIGINT) AS bucket, COUNT(*) AS cnt
             |FROM b JOIN agg a ON a.doc_id = b.doc_id
             |GROUP BY 1, 2, 3, 4, 5
             |ORDER BY media_id, bucket""".stripMargin)),

    QueryDef("x41_video_decode",
      // REAL video decode + frame sampling: synthesize a 6-frame 8x6
      // YUV4MPEG2 stream per document (plane values are closed-form
      // integer arithmetic over doc_id and frame index), decode every
      // SECOND frame (0, 2, 4) through the actual Y4M parser — the
      // un-sampled frames are skipped by offset, never read — and emit
      // the luma sum + per-bucket histogram over the sampled frames.
      // Y4M is uncompressed, so the oracle re-derives the decoded
      // features from the same plane formula with no codec — the video
      // twin of x12 (PNG) and x39 (WAV).
      (s, dir) => {
        val media = Multimodal.synthesizeY4m(
          docs(s, dir).select("doc_id"), "doc_id", 8, 6, 6, 25)
        Multimodal.decodeVideo(media, 16, every = 2)
          .where(col("decode_ok"))
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames"), col("frames_sampled"), col("sum_y_q"),
            posexplode(col("hist")).as(Seq("bucket", "cnt")))
          .where(col("cnt") > 0)
          .select(col("media_id"), col("width"), col("height"),
            col("n_frames"), col("frames_sampled"), col("sum_y_q"),
            col("bucket").cast("long").as("bucket"), col("cnt"))
          .orderBy("media_id", "bucket")
      },
      Some("""WITH px AS (SELECT d.doc_id,
             |   ((d.doc_id*31 + f.f*29 + x.x*7 + y.y*13) % 256) AS yv
             |  FROM (SELECT doc_id FROM documents) d,
             |       generate_series(0, 4, 2) f(f),
             |       generate_series(0, 7) x(x),
             |       generate_series(0, 5) y(y)),
             | agg AS (SELECT doc_id, CAST(SUM(yv) AS BIGINT) AS sum_y_q
             |  FROM px GROUP BY 1),
             | b AS (SELECT doc_id, yv % 16 AS bucket FROM px)
             |SELECT b.doc_id AS media_id, CAST(8 AS BIGINT) AS width,
             | CAST(6 AS BIGINT) AS height, CAST(6 AS BIGINT) AS n_frames,
             | CAST(3 AS BIGINT) AS frames_sampled, a.sum_y_q AS sum_y_q,
             | CAST(b.bucket AS BIGINT) AS bucket, COUNT(*) AS cnt
             |FROM b JOIN agg a ON a.doc_id = b.doc_id
             |GROUP BY 1, 2, 3, 4, 5, 6, 7
             |ORDER BY media_id, bucket""".stripMargin)),

    QueryDef("x42_incremental_neardup",
      // Incremental near-dup against a PERSISTED index: 3/4 of
      // documents are indexed once into a bucketed md5-family LSH band
      // index (no text stored — 8-byte shingle-hash sets), then the
      // "daily batch" (doc_id % 4 = 0) probes it without re-touching
      // corpus text. The oracle is the FULL-REBUILD pair set
      // restricted to pairs touching the batch, so the hash-match IS
      // the incremental-equals-rebuild guarantee — the g43 append
      // pattern, in the dedup domain. Threshold 0.5 (vs x26's 0.7)
      // keeps the verified set dense enough to exercise both the
      // batch×corpus and batch×batch candidate paths.
      (s, dir) => {
        val d = docs(s, dir)
        Dedup.writeBandIndex(d.filter(col("doc_id") % 4 =!= 0), "x42_idx")
        Dedup.probeBandIndex("x42_idx",
            d.filter(col("doc_id") % 4 === 0), threshold = 0.5)
          .orderBy("a", "b")
      },
      Some("""WITH toks AS (SELECT doc_id,
             |  string_split_regex(trim(text), '\s+') AS tk FROM documents),
             | sh AS (SELECT doc_id, list_distinct(
             |  [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |   for i in generate_series(1, len(tk) - 2)]) AS s FROM toks
             |  WHERE len(tk) >= 3),
             | hs AS (SELECT doc_id,
             |  [CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 2147483647
             |   for x in s] AS h FROM sh WHERE len(s) > 0),
             | sets AS (SELECT doc_id, list_distinct(h) AS hset FROM hs),
             | sig AS (SELECT doc_id,
             |  [list_min([(hv * (2*k+1) + k) % 2147483647 for hv in h])
             |   for k in generate_series(0, 15)] AS sig FROM hs),
             | banded AS (SELECT doc_id,
             |  CAST(b AS VARCHAR) || ',' ||
             |   array_to_string(sig[b*4+1 : b*4+4], ',') AS bk
             |  FROM sig, generate_series(0, 3) AS g(b)),
             | cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
             |  FROM banded l JOIN banded r
             |    ON l.bk = r.bk AND l.doc_id < r.doc_id
             |  WHERE l.doc_id % 4 = 0 OR r.doc_id % 4 = 0),
             | verified AS (SELECT c.a, c.b,
             |  CAST(len(list_intersect(sa.hset, sb.hset)) AS DOUBLE)
             |   / (len(sa.hset) + len(sb.hset)
             |      - len(list_intersect(sa.hset, sb.hset))) AS jaccard
             |  FROM cand c JOIN sets sa ON sa.doc_id = c.a
             |  JOIN sets sb ON sb.doc_id = c.b)
             |SELECT a, b, jaccard FROM verified WHERE jaccard >= 0.5
             |ORDER BY a, b""".stripMargin)),

    QueryDef("x161_band_delete",
      // DELETE leg for the LSH band index — the tombstone pattern's
      // fourth landing (inverted x156, binary x157, IVF-PQ x160):
      // 3/4 of documents index, the doc_id ≡ 2 (mod 8) slice of the
      // INDEXED corpus tombstones (the probing batch, ≡ 0 mod 4,
      // never collides with it), and the daily batch's probe must
      // equal the full-rebuild pair set over the REMAINING corpus —
      // the tombstones anti-join both the band buckets and the
      // stored hash sets, broadcast-small. compactBandIndex then
      // rewrites the bucketed tables minus the deleted rows and the
      // SINGLE probe runs post-compaction, so the oracle hash-match
      // covers the whole lifecycle in one pass. Pre-vs-post-
      // compaction probe equality (formerly a second probe + driver
      // collect-compare here — the bench's single most expensive
      // line in the r12 driver run) is pinned in ExtSpec
      // ("deleteBandIndex: ... compaction clears the tombstones").
      (s, dir) => {
        val d = docs(s, dir)
        Dedup.writeBandIndex(d.filter(col("doc_id") % 4 =!= 0), "x161_idx")
        Dedup.deleteBandIndex(s, "x161_idx",
          d.filter(col("doc_id") % 8 === 2).select("doc_id"))
        Dedup.compactBandIndex(s, "x161_idx")
        Dedup.probeBandIndex("x161_idx",
            d.filter(col("doc_id") % 4 === 0), threshold = 0.5)
          .orderBy("a", "b")
      },
      Some("""WITH toks AS (SELECT doc_id,
             |  string_split_regex(trim(text), '\s+') AS tk FROM documents
             |  WHERE doc_id % 8 <> 2),
             | sh AS (SELECT doc_id, list_distinct(
             |  [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |   for i in generate_series(1, len(tk) - 2)]) AS s FROM toks
             |  WHERE len(tk) >= 3),
             | hs AS (SELECT doc_id,
             |  [CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 2147483647
             |   for x in s] AS h FROM sh WHERE len(s) > 0),
             | sets AS (SELECT doc_id, list_distinct(h) AS hset FROM hs),
             | sig AS (SELECT doc_id,
             |  [list_min([(hv * (2*k+1) + k) % 2147483647 for hv in h])
             |   for k in generate_series(0, 15)] AS sig FROM hs),
             | banded AS (SELECT doc_id,
             |  CAST(b AS VARCHAR) || ',' ||
             |   array_to_string(sig[b*4+1 : b*4+4], ',') AS bk
             |  FROM sig, generate_series(0, 3) AS g(b)),
             | cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
             |  FROM banded l JOIN banded r
             |    ON l.bk = r.bk AND l.doc_id < r.doc_id
             |  WHERE l.doc_id % 4 = 0 OR r.doc_id % 4 = 0),
             | verified AS (SELECT c.a, c.b,
             |  CAST(len(list_intersect(sa.hset, sb.hset)) AS DOUBLE)
             |   / (len(sa.hset) + len(sb.hset)
             |      - len(list_intersect(sa.hset, sb.hset))) AS jaccard
             |  FROM cand c JOIN sets sa ON sa.doc_id = c.a
             |  JOIN sets sb ON sb.doc_id = c.b)
             |SELECT a, b, jaccard FROM verified WHERE jaccard >= 0.5
             |ORDER BY a, b""".stripMargin)),

    QueryDef("x43_incremental_append",
      // The probe-then-APPEND loop: half the corpus is indexed, one
      // quarter is folded in via appendBandIndex (yesterday's batch),
      // then today's quarter (doc_id % 4 = 0) probes the grown index.
      // After the append the index holds exactly the docs x42 indexed,
      // so the oracle is x42's full-rebuild SQL verbatim — a lost or
      // corrupted append would drop every (0 mod 4)×(1 mod 4) pair and
      // break the hash-match. This is the continuous-ingest guarantee:
      // N appends later, a probe still equals the full rebuild.
      (s, dir) => {
        val d = docs(s, dir)
        Dedup.writeBandIndex(d.filter(col("doc_id") % 4 >= 2), "x43_idx")
        Dedup.appendBandIndex("x43_idx", d.filter(col("doc_id") % 4 === 1))
        Dedup.probeBandIndex("x43_idx",
            d.filter(col("doc_id") % 4 === 0), threshold = 0.5)
          .orderBy("a", "b")
      },
      Some("""WITH toks AS (SELECT doc_id,
             |  string_split_regex(trim(text), '\s+') AS tk FROM documents),
             | sh AS (SELECT doc_id, list_distinct(
             |  [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |   for i in generate_series(1, len(tk) - 2)]) AS s FROM toks
             |  WHERE len(tk) >= 3),
             | hs AS (SELECT doc_id,
             |  [CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 2147483647
             |   for x in s] AS h FROM sh WHERE len(s) > 0),
             | sets AS (SELECT doc_id, list_distinct(h) AS hset FROM hs),
             | sig AS (SELECT doc_id,
             |  [list_min([(hv * (2*k+1) + k) % 2147483647 for hv in h])
             |   for k in generate_series(0, 15)] AS sig FROM hs),
             | banded AS (SELECT doc_id,
             |  CAST(b AS VARCHAR) || ',' ||
             |   array_to_string(sig[b*4+1 : b*4+4], ',') AS bk
             |  FROM sig, generate_series(0, 3) AS g(b)),
             | cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
             |  FROM banded l JOIN banded r
             |    ON l.bk = r.bk AND l.doc_id < r.doc_id
             |  WHERE l.doc_id % 4 = 0 OR r.doc_id % 4 = 0),
             | verified AS (SELECT c.a, c.b,
             |  CAST(len(list_intersect(sa.hset, sb.hset)) AS DOUBLE)
             |   / (len(sa.hset) + len(sb.hset)
             |      - len(list_intersect(sa.hset, sb.hset))) AS jaccard
             |  FROM cand c JOIN sets sa ON sa.doc_id = c.a
             |  JOIN sets sb ON sb.doc_id = c.b)
             |SELECT a, b, jaccard FROM verified WHERE jaccard >= 0.5
             |ORDER BY a, b""".stripMargin)),

    QueryDef("x44_repeated_spans",
      // token-level substring dedup: positional spans of >= 5 tokens
      // whose content recurs >= 2 times corpus-wide (the 50-token rule
      // at corpus scale, shrunk to the test corpus's doc lengths) —
      // finds shared boilerplate doc-level dedup can't see. The oracle
      // re-derives the md5-48bit window hashes and the islands-and-
      // gaps interval merge, so positions AND window counts must agree
      // exactly.
      (s, dir) => Dedup.repeatedSpans(docs(s, dir), minLen = 5)
        .orderBy("doc_id", "span_start"),
      Some("""WITH toks AS (SELECT doc_id,
             |  string_split_regex(trim(text), '\s+') AS tk FROM documents),
             | wlist AS (SELECT doc_id,
             |  [{'pos': i - 1,
             |    'wh': CAST(('0x' || substr(md5(array_to_string(tk[i:i+4], ' ')),
             |      1, 12)) AS BIGINT)}
             |   for i in generate_series(1, len(tk) - 4)] AS ws
             |  FROM toks WHERE len(tk) >= 5),
             | wins AS (SELECT doc_id, unnest(ws, recursive := true) FROM wlist),
             | cnt AS (SELECT *, count(*) OVER (PARTITION BY wh) AS c FROM wins),
             | dup AS (SELECT doc_id, pos FROM cnt WHERE c >= 2),
             | isl AS (SELECT doc_id, pos,
             |  CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 5
             |       THEN 1 ELSE 0 END AS ni FROM dup),
             | grp AS (SELECT doc_id, pos, sum(ni) OVER (
             |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING
             |  ) AS island FROM isl)
             |SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end,
             |  count(*) AS n_windows
             |FROM grp GROUP BY doc_id, island
             |ORDER BY doc_id, span_start""".stripMargin)),

    QueryDef("x51_remove_spans",
      // the CLEANER closing x44's loop: detection found the repeated
      // spans positionally — this cuts them and keeps the documents.
      // Token-level rebuild (whitespace normalizes to single spaces —
      // same tokenization as the detector, so positions line up by
      // construction). One doc_id join + fused filter-with-index/
      // exists HOFs; the corpus never explodes to token rows. The
      // oracle re-derives spans AND removal, so every cleaned byte
      // must agree.
      (s, dir) => {
        val d = docs(s, dir)
        Dedup.removeSpans(d, Dedup.repeatedSpans(d, minLen = 5))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id,
             |  string_split_regex(trim(text), '\s+') AS tk FROM documents),
             | wlist AS (SELECT doc_id,
             |  [{'pos': i - 1,
             |    'wh': CAST(('0x' || substr(md5(array_to_string(tk[i:i+4], ' ')),
             |      1, 12)) AS BIGINT)}
             |   for i in generate_series(1, len(tk) - 4)] AS ws
             |  FROM toks WHERE len(tk) >= 5),
             | wins AS (SELECT doc_id, unnest(ws, recursive := true) FROM wlist),
             | cnt AS (SELECT *, count(*) OVER (PARTITION BY wh) AS c FROM wins),
             | dup AS (SELECT doc_id, pos FROM cnt WHERE c >= 2),
             | isl AS (SELECT doc_id, pos,
             |  CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 5
             |       THEN 1 ELSE 0 END AS ni FROM dup),
             | grp AS (SELECT doc_id, pos, sum(ni) OVER (
             |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING
             |  ) AS island FROM isl),
             | spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
             |  FROM grp GROUP BY doc_id, island),
             | tokidx AS (SELECT doc_id,
             |  unnest([{'idx': i - 1, 'tok': tk[i]}
             |    for i in generate_series(1, len(tk))], recursive := true)
             |  FROM toks),
             | removed AS (SELECT DISTINCT t.doc_id, t.idx
             |  FROM tokidx t JOIN spans s
             |    ON s.doc_id = t.doc_id AND t.idx BETWEEN s.s AND s.e)
             |SELECT t.doc_id,
             |  COALESCE(string_agg(CASE WHEN r.idx IS NULL THEN t.tok END,
             |    ' ' ORDER BY t.idx), '') AS clean_text,
             |  CAST(SUM(CASE WHEN r.idx IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_removed
             |FROM tokidx t LEFT JOIN removed r
             |  ON r.doc_id = t.doc_id AND r.idx = t.idx
             |GROUP BY t.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    QueryDef("x46_incremental_clusters",
      // the clustering leg of the daily increment: cluster the corpus
      // once, probe the batch against the index, then MERGE the new
      // pairs into the standing assignment (mergeClusters — cost
      // O(assignments + new pairs), the original pair graph is never
      // revisited). The oracle re-clusters EVERYTHING from scratch
      // (full closure over the unrestricted band-candidate pair set),
      // so the hash-match proves incremental cluster maintenance
      // equals full recomputation — including batch pairs that BRIDGE
      // two previously-separate corpus clusters.
      (s, dir) => {
        val d = docs(s, dir)
        val corpus = d.filter(col("doc_id") % 4 =!= 0)
        Dedup.writeBandIndex(corpus, "x46_idx")
        Dedup.writeBandIndex(d.limit(0), "x46_empty")
        val assign = Dedup.nearDupClusters(
          Dedup.probeBandIndex("x46_empty", corpus, threshold = 0.5))
        val batchPairs = Dedup.probeBandIndex("x46_idx",
          d.filter(col("doc_id") % 4 === 0), threshold = 0.5)
        Dedup.mergeClusters(assign, batchPairs).orderBy("doc_id")
      },
      Some("""WITH RECURSIVE toks AS (SELECT doc_id,
             |  string_split_regex(trim(text), '\s+') AS tk FROM documents),
             | sh AS (SELECT doc_id, list_distinct(
             |  [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |   for i in generate_series(1, len(tk) - 2)]) AS s FROM toks
             |  WHERE len(tk) >= 3),
             | hs AS (SELECT doc_id,
             |  [CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 2147483647
             |   for x in s] AS h FROM sh WHERE len(s) > 0),
             | sets AS (SELECT doc_id, list_distinct(h) AS hset FROM hs),
             | sig AS (SELECT doc_id,
             |  [list_min([(hv * (2*k+1) + k) % 2147483647 for hv in h])
             |   for k in generate_series(0, 15)] AS sig FROM hs),
             | banded AS (SELECT doc_id,
             |  CAST(b AS VARCHAR) || ',' ||
             |   array_to_string(sig[b*4+1 : b*4+4], ',') AS bk
             |  FROM sig, generate_series(0, 3) AS g(b)),
             | cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
             |  FROM banded l JOIN banded r
             |    ON l.bk = r.bk AND l.doc_id < r.doc_id),
             | verified AS (SELECT c.a, c.b,
             |  CAST(len(list_intersect(sa.hset, sb.hset)) AS DOUBLE)
             |   / (len(sa.hset) + len(sb.hset)
             |      - len(list_intersect(sa.hset, sb.hset))) AS jaccard
             |  FROM cand c JOIN sets sa ON sa.doc_id = c.a
             |  JOIN sets sb ON sb.doc_id = c.b),
             | p AS (SELECT a, b FROM verified WHERE jaccard >= 0.5),
             | e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
             | reach(id, r) AS (
             |  SELECT a, a FROM e
             |  UNION
             |  SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b)
             |SELECT id AS doc_id, MIN(r) AS cluster,
             |  (id = MIN(r)) AS is_canonical
             |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    QueryDef("x47_shared_spans",
      // exact-substring contamination WITH EVIDENCE (the published
      // 13-gram decontamination recipe, window length 5 at test
      // scale): for each eval doc (doc_id % 5 = 0), every maximal
      // verbatim token span shared with a train doc — where it starts
      // on both sides and how long it is. Matching windows join on the
      // md5-48bit hash; runs merge along diagonals (eval_pos -
      // train_pos constant); windows with df > 10 are dropped first
      // (boilerplate isn't evidence, and the cap is the hot-key bound
      // at 100 TB). The oracle re-derives hashes, the df cap, and the
      // diagonal islands, so positions AND lengths must agree exactly.
      (s, dir) => {
        val d = docs(s, dir)
        Dedup.sharedSpans(d.filter(col("doc_id") % 5 =!= 0),
            d.filter(col("doc_id") % 5 === 0), minLen = 5, maxDf = 10)
          .orderBy("eval_id", "train_id", "eval_start", "train_start")
      },
      Some("""WITH toks AS (SELECT doc_id,
             |  string_split_regex(trim(text), '\s+') AS tk FROM documents),
             | wl AS (SELECT doc_id,
             |  [{'pos': i - 1,
             |    'wh': CAST(('0x' || substr(md5(array_to_string(tk[i:i+4], ' ')),
             |      1, 12)) AS BIGINT)}
             |   for i in generate_series(1, len(tk) - 4)] AS ws
             |  FROM toks WHERE len(tk) >= 5),
             | wins AS (SELECT doc_id, unnest(ws, recursive := true) FROM wl),
             | dfreq AS (SELECT wh FROM (SELECT DISTINCT wh, doc_id FROM wins)
             |  GROUP BY wh HAVING count(*) <= 10),
             | ew AS (SELECT doc_id AS eval_id, pos AS ep, wh FROM wins
             |  WHERE doc_id % 5 = 0 AND wh IN (SELECT wh FROM dfreq)),
             | tw AS (SELECT doc_id AS train_id, pos AS tp, wh FROM wins
             |  WHERE doc_id % 5 <> 0 AND wh IN (SELECT wh FROM dfreq)),
             | m AS (SELECT eval_id, train_id, ep, tp, ep - tp AS diag
             |  FROM ew JOIN tw USING (wh)),
             | isl AS (SELECT eval_id, train_id, diag, ep, tp,
             |  CASE WHEN ep > lag(ep) OVER (
             |     PARTITION BY eval_id, train_id, diag ORDER BY ep) + 1
             |   THEN 1 ELSE 0 END AS ni FROM m),
             | grp AS (SELECT eval_id, train_id, diag, ep, tp, sum(ni) OVER (
             |   PARTITION BY eval_id, train_id, diag ORDER BY ep
             |   ROWS UNBOUNDED PRECEDING) AS island FROM isl)
             |SELECT eval_id, train_id, min(ep) AS eval_start,
             |  min(tp) AS train_start, count(*) + 4 AS span_tokens
             |FROM grp GROUP BY eval_id, train_id, diag, island
             |ORDER BY eval_id, train_id, eval_start, train_start""".stripMargin)),

    QueryDef("x48_index_search",
      // corpus search against a PERSISTED inverted index (the
      // index-is-the-layout pattern a third time: ANN buckets, band
      // index, now term postings): top-20 docs for a 3-term query,
      // scored sum(tf*1e6 DIV df) in integer micro-units — a BIGINT
      // sum is partition-order independent, so the ranking (and its
      // tie-breaks) is engine-exact. The oracle recomputes postings,
      // df, and the same integer arithmetic from the raw corpus.
      (s, dir) => {
        TextOps.writeInvertedIndex(docs(s, dir), "x48_idx")
        TextOps.searchIndex(s, "x48_idx",
          Seq("data", "hash", "batch"), k = 20)
      },
      Some("""WITH tok AS (SELECT doc_id,
             |  unnest(string_split_regex(trim(text), '\s+')) AS term
             |  FROM documents),
             | tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
             | p AS (SELECT term, doc_id, count(*) AS tf FROM tok2
             |  GROUP BY 1, 2),
             | d AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
             | s AS (SELECT p.doc_id,
             |   CAST(sum(p.tf * 1000000 // d.df) AS BIGINT) AS score_ppm,
             |   count(*) AS n_terms
             |  FROM p JOIN d USING (term)
             |  WHERE term IN ('data', 'hash', 'batch')
             |  GROUP BY 1)
             |SELECT doc_id, score_ppm, n_terms FROM s
             |ORDER BY score_ppm DESC, doc_id LIMIT 20""".stripMargin)),

    QueryDef("x49_profile",
      // corpus profile (the distributed, engine-portable describe()):
      // exact moments from ONE map-side-combined pass (decimal-routed
      // mean — order-independent) + percentile_disc order statistics
      // over the deterministic md5 bottom-k sample (KMV-style: the
      // 1000 smallest md5(doc_id) rows — the identical row set in any
      // engine, so even the SAMPLED quantiles hash-match). The corpus
      // never shuffles: the sample is a TakeOrdered partial top-k.
      (s, dir) => ext.Profiling.profile(
        docs(s, dir).withColumn("text_len", length(col("text")).cast("long")),
        "doc_id", Seq("n_chars", "text_len"), sampleK = 1000)
        .orderBy("col_name", "stat"),
      Some("""WITH base AS (SELECT doc_id, n_chars,
             |   CAST(LENGTH(text) AS BIGINT) AS text_len FROM documents),
             | samp AS (SELECT * FROM base
             |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 1000),
             | ex AS (
             |  SELECT 'n_chars' AS col_name, 'rows' AS stat,
             |    CAST(COUNT(*) AS DOUBLE) AS value FROM base
             |  UNION ALL SELECT 'n_chars', 'nulls',
             |    CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS DOUBLE) FROM base
             |  UNION ALL SELECT 'n_chars', 'min', CAST(MIN(n_chars) AS DOUBLE) FROM base
             |  UNION ALL SELECT 'n_chars', 'max', CAST(MAX(n_chars) AS DOUBLE) FROM base
             |  UNION ALL SELECT 'n_chars', 'mean',
             |    CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)
             |      / CAST(COUNT(n_chars) AS DOUBLE) FROM base
             |  UNION ALL SELECT 'text_len', 'rows', CAST(COUNT(*) AS DOUBLE) FROM base
             |  UNION ALL SELECT 'text_len', 'nulls',
             |    CAST(SUM(CASE WHEN text_len IS NULL THEN 1 ELSE 0 END) AS DOUBLE) FROM base
             |  UNION ALL SELECT 'text_len', 'min', CAST(MIN(text_len) AS DOUBLE) FROM base
             |  UNION ALL SELECT 'text_len', 'max', CAST(MAX(text_len) AS DOUBLE) FROM base
             |  UNION ALL SELECT 'text_len', 'mean',
             |    CAST(SUM(CAST(text_len AS DECIMAL(38,6))) AS DOUBLE)
             |      / CAST(COUNT(text_len) AS DOUBLE) FROM base),
             | qu AS (
             |  SELECT 'n_chars' AS col_name, 'p25' AS stat,
             |    CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE) AS value FROM samp
             |  UNION ALL SELECT 'n_chars', 'p50',
             |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE) FROM samp
             |  UNION ALL SELECT 'n_chars', 'p75',
             |    CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE) FROM samp
             |  UNION ALL SELECT 'n_chars', 'p90',
             |    CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE) FROM samp
             |  UNION ALL SELECT 'n_chars', 'p99',
             |    CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE) FROM samp
             |  UNION ALL SELECT 'text_len', 'p25',
             |    CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY text_len) AS DOUBLE) FROM samp
             |  UNION ALL SELECT 'text_len', 'p50',
             |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY text_len) AS DOUBLE) FROM samp
             |  UNION ALL SELECT 'text_len', 'p75',
             |    CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY text_len) AS DOUBLE) FROM samp
             |  UNION ALL SELECT 'text_len', 'p90',
             |    CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY text_len) AS DOUBLE) FROM samp
             |  UNION ALL SELECT 'text_len', 'p99',
             |    CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY text_len) AS DOUBLE) FROM samp)
             |SELECT * FROM ex UNION ALL SELECT * FROM qu
             |ORDER BY col_name, stat""".stripMargin)),

    QueryDef("x63_profile_merge",
      // the daily-profile loop: three disjoint batches (doc_id % 3)
      // each profile THEMSELVES, the states fold together, and the
      // finalized result must equal the whole-corpus profile — both
      // legs of the state are algebraic (decimal sums add exactly;
      // the md5 bottom-k sample is a KMV sketch whose union-then-
      // bottom-k merge is exact), so the oracle just recomputes from
      // the full corpus.
      (s, dir) => {
        val d = docs(s, dir)
        val states = (0 until 3).map(i => ext.Profiling.profileState(
          d.filter(pmod(col("doc_id"), lit(3)) === i), "doc_id",
          Seq("n_chars"), sampleK = 500))
        ext.Profiling.finalizeProfile(states.reduce(ext.Profiling.mergeStates),
            Seq("n_chars"))
          .orderBy("col_name", "stat")
      },
      Some("""WITH base AS (SELECT doc_id, n_chars FROM documents),
             | samp AS (SELECT * FROM base
             |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 500),
             | ex AS (
             |  SELECT 'n_chars' AS col_name, 'rows' AS stat,
             |    CAST(COUNT(*) AS DOUBLE) AS value FROM base
             |  UNION ALL SELECT 'n_chars', 'nulls',
             |    CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS DOUBLE) FROM base
             |  UNION ALL SELECT 'n_chars', 'min', CAST(MIN(n_chars) AS DOUBLE) FROM base
             |  UNION ALL SELECT 'n_chars', 'max', CAST(MAX(n_chars) AS DOUBLE) FROM base
             |  UNION ALL SELECT 'n_chars', 'mean',
             |    CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)
             |      / CAST(COUNT(n_chars) AS DOUBLE) FROM base),
             | qu AS (
             |  SELECT 'n_chars' AS col_name, 'p25' AS stat,
             |    CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE) AS value FROM samp
             |  UNION ALL SELECT 'n_chars', 'p50',
             |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE) FROM samp
             |  UNION ALL SELECT 'n_chars', 'p75',
             |    CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE) FROM samp
             |  UNION ALL SELECT 'n_chars', 'p90',
             |    CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE) FROM samp
             |  UNION ALL SELECT 'n_chars', 'p99',
             |    CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE) FROM samp)
             |SELECT * FROM ex UNION ALL SELECT * FROM qu
             |ORDER BY col_name, stat""".stripMargin)),

    QueryDef("x50_profile_by_group",
      // per-language corpus profile: the grouped form of x49, with
      // the per-group bottom-k sample running through the custom
      // TopKPerGroup physical operator (k rows per group map-side —
      // sampling a 100 TB corpus by language never shuffles the
      // corpus). Exact moments + sampled percentile_disc quantiles,
      // all hash-matched because the per-group sample is the same
      // row set the oracle's QUALIFY row_number picks.
      (s, dir) => ext.Profiling.profileByGroup(
        docs(s, dir).withColumn("text_len", length(col("text")).cast("long")),
        "lang", "doc_id", Seq("n_chars", "text_len"), sampleK = 200)
        .orderBy("lang", "col_name", "stat"),
      Some("""WITH base AS (SELECT doc_id, lang, n_chars,
             |   CAST(LENGTH(text) AS BIGINT) AS text_len FROM documents),
             | samp AS (SELECT * FROM base
             |   QUALIFY row_number() OVER (PARTITION BY lang
             |     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 200),
             | ex AS (
             |  SELECT lang, 'n_chars' AS col_name, 'rows' AS stat,
             |    CAST(COUNT(*) AS DOUBLE) AS value FROM base GROUP BY lang
             |  UNION ALL SELECT lang, 'n_chars', 'nulls',
             |    CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |    FROM base GROUP BY lang
             |  UNION ALL SELECT lang, 'n_chars', 'min', CAST(MIN(n_chars) AS DOUBLE)
             |    FROM base GROUP BY lang
             |  UNION ALL SELECT lang, 'n_chars', 'max', CAST(MAX(n_chars) AS DOUBLE)
             |    FROM base GROUP BY lang
             |  UNION ALL SELECT lang, 'n_chars', 'mean',
             |    CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)
             |      / CAST(COUNT(n_chars) AS DOUBLE) FROM base GROUP BY lang
             |  UNION ALL SELECT lang, 'text_len', 'rows', CAST(COUNT(*) AS DOUBLE)
             |    FROM base GROUP BY lang
             |  UNION ALL SELECT lang, 'text_len', 'nulls',
             |    CAST(SUM(CASE WHEN text_len IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |    FROM base GROUP BY lang
             |  UNION ALL SELECT lang, 'text_len', 'min', CAST(MIN(text_len) AS DOUBLE)
             |    FROM base GROUP BY lang
             |  UNION ALL SELECT lang, 'text_len', 'max', CAST(MAX(text_len) AS DOUBLE)
             |    FROM base GROUP BY lang
             |  UNION ALL SELECT lang, 'text_len', 'mean',
             |    CAST(SUM(CAST(text_len AS DECIMAL(38,6))) AS DOUBLE)
             |      / CAST(COUNT(text_len) AS DOUBLE) FROM base GROUP BY lang),
             | qu AS (
             |  SELECT lang, 'n_chars' AS col_name, 'p25' AS stat,
             |    CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE) AS value
             |    FROM samp GROUP BY lang
             |  UNION ALL SELECT lang, 'n_chars', 'p50',
             |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE)
             |    FROM samp GROUP BY lang
             |  UNION ALL SELECT lang, 'n_chars', 'p75',
             |    CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE)
             |    FROM samp GROUP BY lang
             |  UNION ALL SELECT lang, 'n_chars', 'p90',
             |    CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE)
             |    FROM samp GROUP BY lang
             |  UNION ALL SELECT lang, 'n_chars', 'p99',
             |    CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE)
             |    FROM samp GROUP BY lang
             |  UNION ALL SELECT lang, 'text_len', 'p25',
             |    CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY text_len) AS DOUBLE)
             |    FROM samp GROUP BY lang
             |  UNION ALL SELECT lang, 'text_len', 'p50',
             |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY text_len) AS DOUBLE)
             |    FROM samp GROUP BY lang
             |  UNION ALL SELECT lang, 'text_len', 'p75',
             |    CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY text_len) AS DOUBLE)
             |    FROM samp GROUP BY lang
             |  UNION ALL SELECT lang, 'text_len', 'p90',
             |    CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY text_len) AS DOUBLE)
             |    FROM samp GROUP BY lang
             |  UNION ALL SELECT lang, 'text_len', 'p99',
             |    CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY text_len) AS DOUBLE)
             |    FROM samp GROUP BY lang)
             |SELECT * FROM ex UNION ALL SELECT * FROM qu
             |ORDER BY lang, col_name, stat""".stripMargin)),

    QueryDef("x52_histogram_drift",
      // corpus drift gate: n_chars distribution of the English slice
      // vs the rest, fixed 200-char bins, integer-ppm shares, per-bin
      // |share_a - share_b| (TV distance = sum/2). All-integer
      // (floor-div bins and shares) so the drift report is engine-
      // exact — unlike KL/PSI whose ln() is libm-bound. Each corpus
      // collapses map-side to its histogram; raw rows never shuffle.
      (s, dir) => {
        val d = docs(s, dir)
        ext.Profiling.histogramDrift(
          d.filter(col("lang") === "en"), d.filter(col("lang") =!= "en"),
          "n_chars", binWidth = 200L)
          .orderBy("bin")
      },
      Some("""WITH a AS (SELECT (n_chars // 200) * 200 AS bin,
             |   CAST(COUNT(*) AS BIGINT) AS n_a FROM documents
             |  WHERE lang = 'en' AND n_chars IS NOT NULL GROUP BY 1),
             | b AS (SELECT (n_chars // 200) * 200 AS bin,
             |   CAST(COUNT(*) AS BIGINT) AS n_b FROM documents
             |  WHERE lang <> 'en' AND n_chars IS NOT NULL GROUP BY 1),
             | t AS (SELECT (SELECT SUM(n_a) FROM a) AS tot_a,
             |   (SELECT SUM(n_b) FROM b) AS tot_b)
             |SELECT COALESCE(a.bin, b.bin) AS bin,
             |  COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
             |  CAST(COALESCE(n_a, 0) * 1000000 // tot_a AS BIGINT) AS ppm_a,
             |  CAST(COALESCE(n_b, 0) * 1000000 // tot_b AS BIGINT) AS ppm_b,
             |  CAST(ABS(COALESCE(n_a, 0) * 1000000 // tot_a
             |    - COALESCE(n_b, 0) * 1000000 // tot_b) AS BIGINT) AS abs_diff_ppm
             |FROM a FULL OUTER JOIN b ON a.bin = b.bin, t
             |ORDER BY bin""".stripMargin)),

    // ------------------------------------------------------ pipeline: text LM
    QueryDef("x33_bigram_lm",
      // self-trained bigram-LM predictability score (the n-gram
      // perplexity-filter stand-in): integer-quantized conditional
      // frequencies, exact BIGINT sums, one final division per doc.
      (s, dir) => TextOps.bigramPredictability(docs(s, dir))
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(
             |   trim(regexp_replace(regexp_replace(lower(text),
             |     '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')),
             |   '\s+') AS t FROM documents),
             | bi AS (SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2 FROM (
             |   SELECT doc_id, UNNEST([{'w1': t[i], 'w2': t[i+1]}
             |     for i in generate_series(1, len(t)-1)]) AS bg
             |   FROM toks)),
             | cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY 1, 2),
             | cp AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cp FROM cb GROUP BY 1),
             | wt AS (SELECT w1, w2, cb * 1000000 // cp AS q
             |   FROM cb JOIN cp USING (w1)),
             | per AS (SELECT doc_id, COUNT(*) AS n_bigrams,
             |   CAST(SUM(q) AS BIGINT) AS pred_sum
             |   FROM bi JOIN wt USING (w1, w2) GROUP BY doc_id)
             |SELECT doc_id, n_bigrams, pred_sum,
             | CAST(pred_sum AS DOUBLE) / n_bigrams AS pred_score
             |FROM per ORDER BY doc_id""".stripMargin)),

    QueryDef("x95_collocations",
      // collocation mining: adjacent-word PMI in integer ppm (the x87
      // lift formula with adjacency as the basket) — the phrase-
      // vocabulary step before tokenizer training. Top-100 by PMI.
      (s, dir) => TextOps.collocations(docs(s, dir), minCount = 3)
        .orderBy(desc("pmi_ppm"), col("a"), col("b")).limit(100),
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(
             |   trim(regexp_replace(regexp_replace(lower(text),
             |     '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')),
             |   '\s+') AS t FROM documents),
             | uni AS (SELECT w, COUNT(*) AS n FROM (
             |   SELECT UNNEST(t) AS w FROM toks) WHERE w <> ''
             |  GROUP BY w),
             | tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tokens FROM uni),
             | bi AS (SELECT bg['w1'] AS a, bg['w2'] AS b FROM (
             |   SELECT UNNEST([{'w1': t[i], 'w2': t[i+1]}
             |     for i in generate_series(1, len(t)-1)]) AS bg
             |   FROM toks)
             |  WHERE bg['w1'] <> '' AND bg['w2'] <> ''),
             | cb AS (SELECT a, b, COUNT(*) AS n_ab FROM bi
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
             |SELECT cb.a, cb.b, cb.n_ab, ua.n AS n_a, ub.n AS n_b,
             | CAST(1000000 * cb.n_ab * t.n_tokens // (ua.n * ub.n)
             |   AS BIGINT) AS pmi_ppm
             |FROM cb JOIN uni ua ON ua.w = cb.a
             | JOIN uni ub ON ub.w = cb.b, tot t
             |ORDER BY pmi_ppm DESC, a, b LIMIT 100""".stripMargin)),

    QueryDef("x96_adaptive_quality",
      // per-language ADAPTIVE quality gate (FineWeb/Gopher practice):
      // each doc competes against its OWN language's p25 quality
      // quantile, not one absolute bar — integer-ppm scores, the
      // threshold an actual element via percentile_disc, so the whole
      // verdict re-derives. Thresholds broadcast back; the corpus
      // never shuffles.
      (s, dir) => TextOps.adaptiveQualityFilter(docs(s, dir), "lang",
          pct = 0.25)
        .orderBy("doc_id"),
      Some("""WITH f AS (SELECT doc_id, lang,
             |  string_split_regex(trim(text), '\s+') AS t, LENGTH(text) AS nc
             | FROM documents),
             | g AS (SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tokens,
             |  (nc + 1.0) / (len(t) + 1.0) AS mtl,
             |  len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','that','it','for')))
             |    / GREATEST(CAST(len(t) AS DOUBLE), 1.0) AS sr
             | FROM f),
             | sc AS (SELECT doc_id, lang,
             |  CAST(FLOOR((LEAST(1.0, n_tokens / 50.0) * 0.4
             |   + CASE WHEN mtl BETWEEN 3.0 AND 12.0 THEN 0.3 ELSE 0.0 END
             |   + LEAST(sr * 3.0, 1.0) * 0.3) * 1000000.0) AS BIGINT)
             |    AS score_ppm
             | FROM g),
             | thr AS (SELECT lang, CAST(
             |   percentile_disc(0.25) WITHIN GROUP (ORDER BY score_ppm)
             |    AS BIGINT) AS thr_ppm
             |  FROM sc GROUP BY lang)
             |SELECT sc.doc_id, sc.lang, sc.score_ppm, thr.thr_ppm,
             | sc.score_ppm >= thr.thr_ppm AS kept
             |FROM sc JOIN thr USING (lang) ORDER BY doc_id""".stripMargin)),

    QueryDef("x97_minhash_estimate",
      // the verification-FREE minhash leg: banded candidates scored by
      // the unbiased signature estimator matches/k in integer ppm —
      // what a 100 TB triage pass trusts instead of re-reading both
      // shingle sets (x26's exact verify is the gate; this ranks).
      // Same md5 family, so candidates AND estimates re-derive.
      (s, dir) => Dedup.minhashEstimatePortable(docs(s, dir))
        .orderBy("a", "b"),
      Some(s"""WITH $portableMinhashCtes
              |SELECT c.a, c.b,
              | CAST(1000000 * len(list_filter(
              |   [sa.sig[i] = sb.sig[i] for i in generate_series(1, 16)],
              |   m -> m)) // 16 AS BIGINT) AS est_ppm
              |FROM cand c JOIN sig sa ON sa.doc_id = c.a
              | JOIN sig sb ON sb.doc_id = c.b
              |ORDER BY a, b""".stripMargin)),

    QueryDef("x98_importance_weights",
      // DSIR-style data selection (Xie et al. 2023): every raw doc
      // scored by the target/raw likelihood ratio of its hashed
      // unigram+bigram buckets — here target = the corpus's own 'en'
      // slice, the classic "skew the crawl toward a trusted subset"
      // setup. Add-one smoothing over the bucket universe, ratios in
      // integer ppm clamped at 1e9, DECIMAL(38,0)-routed products, so
      // the scores re-derive bit-identically; the ratio table is
      // bucket-sized and broadcasts, the corpus never joins anything
      // its own size.
      (s, dir) => {
        val d = docs(s, dir)
        TextOps.importanceWeights(d, d.where(col("lang") === "en"),
            buckets = 512)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, lang, string_split_regex(
             |   trim(regexp_replace(regexp_replace(lower(text),
             |     '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')),
             |   '\s+') AS t FROM documents),
             | feats AS (
             |  SELECT doc_id, lang, w FROM (
             |    SELECT doc_id, lang, UNNEST(t) AS w FROM toks)
             |   WHERE w <> ''
             |  UNION ALL
             |  SELECT doc_id, lang, bg['w1'] || ' ' || bg['w2'] AS w
             |  FROM (SELECT doc_id, lang,
             |    UNNEST([{'w1': t[i], 'w2': t[i+1]}
             |      for i in generate_series(1, len(t)-1)]) AS bg
             |   FROM toks)
             |  WHERE bg['w1'] <> '' AND bg['w2'] <> ''),
             | fb AS (SELECT doc_id, lang,
             |   CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 512 AS b
             |  FROM feats),
             | rb AS (SELECT b, COUNT(*) AS r FROM fb GROUP BY b),
             | tb AS (SELECT b, COUNT(*) AS tc FROM fb WHERE lang = 'en'
             |  GROUP BY b),
             | tot AS (SELECT (SELECT COUNT(*) FROM fb) AS rr,
             |   (SELECT COUNT(*) FROM fb WHERE lang = 'en') AS tt),
             | dist AS (SELECT rb.b, CAST(LEAST(
             |    (1000000::HUGEINT * (COALESCE(tb.tc, 0) + 1)
             |      * (t.rr + 512))
             |     // ((rb.r::HUGEINT + 1) * (t.tt + 512)),
             |    1000000000) AS BIGINT) AS ratio_ppm
             |  FROM rb LEFT JOIN tb USING (b), tot t),
             | sc AS (SELECT doc_id, COUNT(*) AS n_feats,
             |   SUM(ratio_ppm) AS score_sum
             |  FROM fb JOIN dist USING (b) GROUP BY doc_id)
             |SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
             | CAST(score_sum AS BIGINT) AS score_sum,
             | CAST(score_sum // n_feats AS BIGINT) AS importance_ppm
             |FROM sc ORDER BY doc_id""".stripMargin)),

    QueryDef("x99_retention_funnel",
      // the per-stage survival table every curation paper reports
      // (docs/tokens surviving each cumulative filter, per source) in
      // ONE corpus pass: first-failing-stage index per row (chained
      // CASE, map-side), one groupBy, stack to long form. stage_idx 0
      // = ingest.
      (s, dir) => ext.Profiling.retentionFunnel(docs(s, dir), "source", Seq(
          "min_tokens" -> (TextOps.tokenCount(col("text")) >= 25),
          "lang_known" -> col("lang").isin("en", "de", "fr", "es"),
          "max_chars" -> (col("n_chars") <= 450)))
        .orderBy("source", "stage_idx"),
      Some("""WITH d AS (SELECT source, lang, n_chars,
             |  len(string_split_regex(trim(text), '\s+')) AS nt
             | FROM documents),
             | f AS (SELECT source, CAST(nt AS BIGINT) AS nt,
             |  CASE WHEN NOT nt >= 25 THEN 1
             |       WHEN NOT lang IN ('en','de','fr','es') THEN 2
             |       WHEN NOT n_chars <= 450 THEN 3
             |       ELSE 4 END AS ff
             | FROM d),
             | stg AS (SELECT * FROM (VALUES (0, 'ingest'),
             |   (1, 'min_tokens'), (2, 'lang_known'), (3, 'max_chars'))
             |  AS v(stage_idx, stage))
             |SELECT f.source, CAST(stg.stage_idx AS BIGINT) AS stage_idx,
             | stg.stage,
             | CAST(SUM(CASE WHEN f.ff > stg.stage_idx THEN 1 ELSE 0 END)
             |   AS BIGINT) AS n_docs,
             | CAST(SUM(CASE WHEN f.ff > stg.stage_idx THEN f.nt ELSE 0 END)
             |   AS BIGINT) AS n_tokens
             |FROM f, stg GROUP BY 1, 2, 3
             |ORDER BY source, stage_idx""".stripMargin)),

    QueryDef("x100_fuzzy_join",
      // entity resolution as a relational operator: fuzzy join the
      // part master list against a dirtied variant feed (upper-cased,
      // dash-separated) on normalized char-trigram Jaccard, banded
      // minhash blocking (4 bands × 4 rows for the 0.8 regime), exact
      // integer verify on candidates only — never a cross join. Keys
      // carry an md5-octet discriminator (master lists have unique-ish
      // entities; TPC-H serials alone are adversarially self-similar)
      // and maxBucket=200 drops non-discriminative hot buckets — the
      // LSH skew valve, exercised for real here because bare p_name
      // repeats ~400× at bench SF.
      (s, dir) => {
        val part = t(s, dir, "part")
        val key = concat(col("p_name"), lit(" "),
          substring(md5(col("p_partkey").cast("string")), 1, 12))
        val master = part.select(col("p_partkey"), key.as("name"))
        val dirty = part.select((col("p_partkey") + 1000000L).as("v_id"),
          translate(upper(key), " ", "-").as("vname"))
        Dedup.fuzzyJoin(master, dirty, "p_partkey", "name",
            "v_id", "vname", k = 16, bands = 4,
            minJaccardPpm = 800000L, maxBucket = 200L)
          .orderBy("a", "b")
      },
      {
        // one gram/sig/band CTE chain per side — the oracle recomputes
        // BOTH sides from raw strings (no normalization-invariance
        // shortcut)
        def side(pfx: String, src: String) =
          s"""${pfx}nk AS (SELECT id, trim(regexp_replace(regexp_replace(
             |   lower(ky), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))
             |   AS nk FROM $src),
             | ${pfx}h AS (SELECT id,
             |  [CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 2147483647
             |   for x in list_distinct([substr(nk, i, 3)
             |     for i in generate_series(1, len(nk) - 2)])] AS h
             |  FROM ${pfx}nk WHERE len(nk) >= 3),
             | ${pfx}sig AS (SELECT id, h,
             |  [list_min([(hv * (2*kk+1) + kk) % 2147483647 for hv in h])
             |   for kk in generate_series(0, 15)] AS sig FROM ${pfx}h),
             | ${pfx}band AS (SELECT id, b,
             |  array_to_string(sig[b*4+1 : b*4+4], ',') AS bkey
             |  FROM ${pfx}sig, generate_series(0, 3) AS g(b))""".stripMargin
        Some(s"""WITH lsrc AS (SELECT p_partkey AS id,
               |  p_name || ' ' || substr(md5(CAST(p_partkey AS VARCHAR)),
               |    1, 12) AS ky FROM part),
               | rsrc AS (SELECT p_partkey + 1000000 AS id,
               |  replace(upper(p_name || ' ' ||
               |    substr(md5(CAST(p_partkey AS VARCHAR)), 1, 12)),
               |   ' ', '-') AS ky FROM part),
               | ${side("l", "lsrc")},
               | ${side("r", "rsrc")},
               | okbk AS (SELECT lc.b, lc.bkey FROM
               |   (SELECT b, bkey, COUNT(*) AS nl FROM lband
               |    GROUP BY 1, 2) lc
               |  JOIN (SELECT b, bkey, COUNT(*) AS nr FROM rband
               |    GROUP BY 1, 2) rc
               |   ON lc.b = rc.b AND lc.bkey = rc.bkey
               |  WHERE lc.nl <= 200 AND rc.nr <= 200),
               | cand AS (SELECT DISTINCT l.id AS a, r.id AS b
               |  FROM lband l
               |   JOIN okbk o ON l.b = o.b AND l.bkey = o.bkey
               |   JOIN rband r ON l.b = r.b AND l.bkey = r.bkey),
               | ver AS (SELECT c.a, c.b,
               |  len(list_intersect(list_distinct(la.h),
               |    list_distinct(rr.h))) AS inter,
               |  len(list_distinct(la.h)) + len(list_distinct(rr.h))
               |   - len(list_intersect(list_distinct(la.h),
               |       list_distinct(rr.h))) AS uni
               |  FROM cand c JOIN lh la ON la.id = c.a
               |   JOIN rh rr ON rr.id = c.b)
               |SELECT a, b,
               | CAST(1000000 * inter // uni AS BIGINT) AS jaccard_ppm
               |FROM ver WHERE 1000000 * inter // uni >= 800000
               |ORDER BY a, b""".stripMargin)
      }),

    QueryDef("x101_trigram_backoff",
      // CCNet-shaped LM perplexity filter: trigram stupid-backoff LM
      // trained on the trusted 'en' slice, scoring the WHOLE corpus
      // (out-of-vocabulary trigrams genuinely back off: 0.4×bigram,
      // 0.16×unigram, 0 — all integer micro-units), then head/middle/
      // tail buckets per language at percentile_disc quartiles. The
      // reference LM aggregates to vocab-sized weight tables that
      // broadcast; the corpus shuffles only 8-byte n-gram hashes.
      (s, dir) => {
        val d = docs(s, dir)
        val scored = TextOps.trigramBackoffScore(
          d.where(col("lang") === "en"), d)
        TextOps.perplexityBuckets(
            scored.join(d.select("doc_id", "lang"), "doc_id"), "lang")
          .select("doc_id", "lang", "n_trigrams", "mean_q", "bucket")
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(
             |   trim(regexp_replace(regexp_replace(lower(text),
             |     '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')),
             |   '\s+') AS t FROM documents),
             | tri AS (SELECT doc_id, tg['w1'] AS w1, tg['w2'] AS w2,
             |   tg['w3'] AS w3 FROM (
             |   SELECT doc_id, UNNEST([{'w1': t[i], 'w2': t[i+1], 'w3': t[i+2]}
             |     for i in generate_series(1, len(t)-2)]) AS tg
             |   FROM toks)),
             | ref AS (SELECT w1, w2, w3 FROM tri
             |   WHERE doc_id IN (SELECT doc_id FROM documents
             |                    WHERE lang = 'en')),
             | nref AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ref),
             | c3 AS (SELECT w1, w2, w3, COUNT(*) AS n3 FROM ref
             |   GROUP BY 1, 2, 3),
             | c12 AS (SELECT w1, w2, CAST(SUM(n3) AS BIGINT) AS n12
             |   FROM c3 GROUP BY 1, 2),
             | wtri AS (SELECT w1, w2, w3, n3 * 1000000 // n12 AS q_tri
             |   FROM c3 JOIN c12 USING (w1, w2)),
             | c23 AS (SELECT w2, w3, COUNT(*) AS n23 FROM ref GROUP BY 1, 2),
             | c2 AS (SELECT w2, CAST(SUM(n23) AS BIGINT) AS n2
             |   FROM c23 GROUP BY 1),
             | wbi AS (SELECT w2, w3, n23 * 400000 // n2 AS q_bi
             |   FROM c23 JOIN c2 USING (w2)),
             | wuni AS (SELECT w3, n1 * 160000 // (SELECT n FROM nref) AS q_uni
             |   FROM (SELECT w3, COUNT(*) AS n1 FROM ref GROUP BY 1)),
             | q AS (SELECT tri.doc_id,
             |   COALESCE(wtri.q_tri, wbi.q_bi, wuni.q_uni, 0) AS q
             |  FROM tri
             |  LEFT JOIN wtri ON wtri.w1 = tri.w1 AND wtri.w2 = tri.w2
             |   AND wtri.w3 = tri.w3
             |  LEFT JOIN wbi ON wbi.w2 = tri.w2 AND wbi.w3 = tri.w3
             |  LEFT JOIN wuni ON wuni.w3 = tri.w3),
             | per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
             |   CAST(SUM(q) AS BIGINT) AS score_sum FROM q GROUP BY doc_id),
             | sc AS (SELECT per.doc_id, d.lang, per.n_trigrams,
             |   CAST(per.score_sum // per.n_trigrams AS BIGINT) AS mean_q
             |  FROM per JOIN documents d USING (doc_id)),
             | thr AS (SELECT lang,
             |   CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY mean_q)
             |     AS BIGINT) AS p25,
             |   CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY mean_q)
             |     AS BIGINT) AS p75
             |  FROM sc GROUP BY lang)
             |SELECT sc.doc_id, sc.lang, sc.n_trigrams, sc.mean_q,
             | CASE WHEN sc.mean_q <= thr.p25 THEN 'tail'
             |      WHEN sc.mean_q > thr.p75 THEN 'head'
             |      ELSE 'middle' END AS bucket
             |FROM sc JOIN thr USING (lang) ORDER BY doc_id""".stripMargin)),

    QueryDef("x102_diversity_card",
      // per-source diversity card: exact unigram/bigram type and token
      // counts, hapax count, integer-ppm type-token ratios and top-
      // token share — the mode-collapse detector for synthetic or
      // over-deduped mix components. Two map-side-combined count
      // aggregations over 8-byte hashed tokens; output is sources × 9.
      (s, dir) => TextOps.diversityCard(docs(s, dir))
        .orderBy("source"),
      Some("""WITH toks AS (SELECT source, string_split_regex(
             |   trim(regexp_replace(regexp_replace(lower(text),
             |     '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')),
             |   '\s+') AS t FROM documents),
             | uni AS (SELECT source, w, COUNT(*) AS n FROM (
             |   SELECT source, UNNEST(t) AS w FROM toks)
             |  WHERE w <> '' GROUP BY 1, 2),
             | ua AS (SELECT source,
             |   CAST(COUNT(*) AS BIGINT) AS distinct_unigrams,
             |   CAST(SUM(n) AS BIGINT) AS n_tokens,
             |   CAST(COUNT(CASE WHEN n = 1 THEN 1 END) AS BIGINT)
             |     AS hapax_unigrams,
             |   CAST(MAX(n) AS BIGINT) AS top_n
             |  FROM uni GROUP BY source),
             | bi AS (SELECT source, bg['w1'] AS w1, bg['w2'] AS w2,
             |   COUNT(*) AS n FROM (
             |   SELECT source, UNNEST([{'w1': t[i], 'w2': t[i+1]}
             |     for i in generate_series(1, len(t)-1)]) AS bg
             |   FROM toks)
             |  WHERE bg['w1'] <> '' AND bg['w2'] <> '' GROUP BY 1, 2, 3),
             | ba AS (SELECT source,
             |   CAST(COUNT(*) AS BIGINT) AS distinct_bigrams,
             |   CAST(SUM(n) AS BIGINT) AS n_bigrams
             |  FROM bi GROUP BY source),
             | nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY source)
             |SELECT nd.source, nd.n_docs,
             | COALESCE(ua.distinct_unigrams, 0) AS distinct_unigrams,
             | COALESCE(ua.n_tokens, 0) AS n_tokens,
             | COALESCE(ua.hapax_unigrams, 0) AS hapax_unigrams,
             | COALESCE(ba.distinct_bigrams, 0) AS distinct_bigrams,
             | COALESCE(ba.n_bigrams, 0) AS n_bigrams,
             | COALESCE(ua.distinct_unigrams, 0) * 1000000
             |   // GREATEST(COALESCE(ua.n_tokens, 0), 1) AS ttr_ppm,
             | COALESCE(ba.distinct_bigrams, 0) * 1000000
             |   // GREATEST(COALESCE(ba.n_bigrams, 0), 1) AS bigram_ttr_ppm,
             | COALESCE(ua.top_n, 0) * 1000000
             |   // GREATEST(COALESCE(ua.n_tokens, 0), 1) AS top_share_ppm
             |FROM nd LEFT JOIN ua USING (source) LEFT JOIN ba USING (source)
             |ORDER BY source""".stripMargin)),

    QueryDef("x103_zorder_layout",
      // Z-order data-layout plan (the Delta/Iceberg OPTIMIZE ZORDER
      // step): orders quantized on (custkey, order epoch-day) to 8
      // bits each, bit-interleaved, fixed-width Z-range shards —
      // map-only assignment, no global sort — and the per-shard
      // bounding boxes that prove two-dimensional locality (a
      // customer+date range predicate touches few shards). Integer
      // arithmetic end to end.
      (s, dir) => {
        val d = t(s, dir, "orders").select(
          col("o_custkey").as("a"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("b"))
        Sampling.zorderPlan(d, "a", "b", bits = 8, shards = 16)
          .orderBy("shard")
      },
      {
        val interleave = (0 until 8).map { i =>
          s"(((qa >> $i) & 1) << ${2 * i + 1}) + (((qb >> $i) & 1) << ${2 * i})"
        }.mkString(" + ")
        Some(s"""WITH d AS (SELECT CAST(o_custkey AS BIGINT) AS a,
               |  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
               |    AS BIGINT) AS b FROM orders),
               | r AS (SELECT CAST(MIN(a) AS BIGINT) AS amin,
               |   CAST(MAX(a) AS BIGINT) AS amax,
               |   CAST(MIN(b) AS BIGINT) AS bmin,
               |   CAST(MAX(b) AS BIGINT) AS bmax FROM d),
               | q AS (SELECT a, b,
               |   (a - r.amin) * 255 // GREATEST(1, r.amax - r.amin) AS qa,
               |   (b - r.bmin) * 255 // GREATEST(1, r.bmax - r.bmin) AS qb
               |  FROM d, r),
               | z AS (SELECT a, b, CAST($interleave AS BIGINT) AS z FROM q),
               | s AS (SELECT a, b, z, z // 4096 AS shard FROM z)
               |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
               | MIN(a) AS a_min, MAX(a) AS a_max,
               | MIN(b) AS b_min, MAX(b) AS b_max,
               | MIN(z) AS z_min, MAX(z) AS z_max
               |FROM s GROUP BY shard ORDER BY shard""".stripMargin)
      }),

    QueryDef("x104_contrastive_pairs",
      // contrastive pair mining for embedding finetuning: same-cell
      // positives at cosine >= 0.45, hard negatives in [0.35, 0.45) —
      // in-cell proximity is what makes them hard; easy negatives are
      // NOT materialized (in-batch sampling supplies them for free).
      // kmeans cells scope the pair space (autoCells default lands on
      // the oracle's 4 at verify SF); NaN cosines dropped explicitly
      // (both engines sort NaN above every number).
      (s, dir) => Similarity.contrastivePairs(t(s, dir, "embeddings"),
          posMin = 0.45, negMin = 0.35, iters = 2)
        .orderBy("a", "b"),
      Some(s"""WITH ${kmeansCtes(4, 2)},
             | emb2 AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |  FROM embeddings),
             | sv AS (SELECT emb2.vec_id, a.cluster, emb2.v
             |  FROM emb2 JOIN a3 a USING (vec_id)),
             | pr AS (SELECT x.vec_id AS a, y.vec_id AS b, x.cluster,
             |   list_cosine_similarity(x.v, y.v) AS cos
             |  FROM sv x JOIN sv y ON x.cluster = y.cluster
             |   AND x.vec_id < y.vec_id)
             |SELECT a, b, cluster, ROUND(cos, 4) AS cosine,
             | CASE WHEN cos >= 0.45 THEN 'positive'
             |      ELSE 'hard_negative' END AS label
             |FROM pr WHERE isfinite(cos) AND cos >= 0.35
             |ORDER BY a, b""".stripMargin)),

    QueryDef("x105_scd2_asof",
      // time-travel read: TWO scd2 batches build a three-epoch history
      // (1990 seed -> 2024 bump for k%7 -> 2025 bump for k%3), then
      // asOf(2024-06-01) must reconstruct exactly the between-batches
      // state — k%7 rows show the 2024 version (closed at 2025 iff
      // also k%3), everything else the original (closed at 2025 iff
      // k%3). One filter over the history, no joins.
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val cur = cust.select(col("c_custkey").as("k"),
            col("c_mktsegment").as("seg"), col("c_acctbal").as("bal"))
          .withColumn("valid_from", lit("1990-01-01").cast("date"))
          .withColumn("valid_to", lit(null).cast("date"))
          .withColumn("is_current", lit(true))
        val b1 = cust.where(col("c_custkey") % 7 === 0)
          .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
            (col("c_acctbal") + 100).as("bal"))
        val h1 = ext.Upserts.scd2(cur, b1, "k", Seq("seg", "bal"),
          lit("2024-01-01").cast("date"))
        val b2 = cust.where(col("c_custkey") % 3 === 0)
          .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
            (col("c_acctbal") + 50).as("bal"))
        val h2 = ext.Upserts.scd2(h1, b2, "k", Seq("seg", "bal"),
          lit("2025-01-01").cast("date"))
        ext.Upserts.scd2AsOf(h2, lit("2024-06-01"))
          .withColumn("valid_to",
            coalesce(col("valid_to"), lit("9999-12-31").cast("date")))
          .orderBy("k")
      },
      Some("""SELECT c_custkey AS k, c_mktsegment AS seg,
             | CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100
             |      ELSE c_acctbal END AS bal,
             | CASE WHEN c_custkey % 7 = 0 THEN DATE '2024-01-01'
             |      ELSE DATE '1990-01-01' END AS valid_from,
             | CASE WHEN c_custkey % 3 = 0 THEN DATE '2025-01-01'
             |      ELSE DATE '9999-12-31' END AS valid_to
             |FROM customer ORDER BY k""".stripMargin)),

    QueryDef("x106_skew_card",
      // join-skew preflight: the top-10 heaviest l_partkey values with
      // integer-ppm shares and the max/mean skew ratio — the number a
      // 100 TB job reads BEFORE deciding to salt or trust AQE. One
      // map-side-combined count; the top-10 rides TopKPerGroup, the
      // key-count table is never sorted whole.
      (s, dir) => ext.Profiling.skewCard(t(s, dir, "lineitem"), "l_partkey",
          topN = 10)
        .orderBy("rank"),
      Some("""WITH c AS (SELECT CAST(l_partkey AS VARCHAR) AS key,
             |   CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1),
             | s AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
             |   CAST(COUNT(*) AS BIGINT) AS n_distinct,
             |   CAST(MAX(n) AS BIGINT) AS n_max FROM c),
             | r AS (SELECT key, n, CAST(ROW_NUMBER() OVER (
             |   ORDER BY n DESC, key) AS INT) AS rank FROM c)
             |SELECT r.rank, r.key, r.n,
             | CAST(r.n * 1000000 // s.total AS BIGINT) AS share_ppm,
             | CAST(s.n_max * s.n_distinct * 1000000 // s.total AS BIGINT)
             |   AS max_over_mean_ppm
             |FROM r, s WHERE r.rank <= 10 ORDER BY r.rank""".stripMargin)),

    QueryDef("x107_multiprobe_lsh",
      // multi-probe sign-LSH: x28's portable plane family, but every
      // query also probes its 6 Hamming-1 buckets — recall recovery
      // without more planes, passes, or index storage; the bucket
      // layout is bit-identical to the single-probe one. Neighbors
      // reachable via several probes count once.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.lshTopKMultiProbe(emb, emb.filter(col("vec_id") < 5), 10)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             | qz AS (SELECT vec_id, v,
             |   [CAST(floor(x * 1e6) AS BIGINT) for x in v] AS q FROM emb),
             | b AS (SELECT vec_id, v, CAST(list_sum([
             |   CASE WHEN list_sum([q[i] *
             |     (CASE WHEN CAST(('0x' || substr(md5(p || ':' || i), 1, 1)) AS BIGINT) % 2 = 0
             |      THEN 1 ELSE -1 END)
             |     for i in generate_series(1, len(q))]) >= 0
             |   THEN CAST(1 AS BIGINT) << p ELSE 0 END
             |   for p in generate_series(0, 5)]) AS BIGINT) AS bucket FROM qz),
             | probes AS (SELECT vec_id, v, bucket FROM b WHERE vec_id < 5
             |  UNION ALL
             |  SELECT vec_id, v, xor(bucket, CAST(1 AS BIGINT) << p)
             |  FROM b, generate_series(0, 5) AS g(p) WHERE vec_id < 5),
             | scored AS (SELECT DISTINCT qq.vec_id AS query_id,
             |   nn.vec_id AS neighbor_id,
             |   list_cosine_similarity(qq.v, nn.v) AS cos
             |  FROM probes qq JOIN b nn ON qq.bucket = nn.bucket
             |    AND qq.vec_id <> nn.vec_id),
             | ranked AS (SELECT query_id, neighbor_id,
             |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             |     ORDER BY cos DESC, neighbor_id) AS INT) AS rank FROM scored)
             |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10
             |ORDER BY query_id, rank""".stripMargin)),

    QueryDef("x108_estimator_calibration",
      // calibrate the x97 signature estimator against the x26 exact
      // verify over their shared candidate universe: per estimator
      // threshold, the confusion counts + integer-ppm precision/
      // recall against exact-jaccard >= 0.5 ground truth — THE table
      // that decides where the estimate-only triage leg is safe and
      // where the set-verify gate must run. Banding misses are
      // invisible to both legs, so fn counts estimator misses among
      // candidates (the quantity the threshold controls).
      (s, dir) => Dedup.estimatorCalibration(docs(s, dir),
          thresholds = Seq(250000L, 375000L, 500000L, 625000L, 750000L))
        .orderBy("thr_ppm"),
      Some(s"""WITH $portableMinhashCtes,
             | est AS (SELECT c.a, c.b,
             |  CAST(1000000 * len(list_filter(
             |    [sa.sig[i] = sb.sig[i] for i in generate_series(1, 16)],
             |    m -> m)) // 16 AS BIGINT) AS est_ppm
             |  FROM cand c JOIN sig sa ON sa.doc_id = c.a
             |   JOIN sig sb ON sb.doc_id = c.b),
             | pr AS (SELECT e.est_ppm, v.jaccard >= 0.5 AS gt
             |  FROM est e JOIN verified v ON v.a = e.a AND v.b = e.b),
             | thr AS (SELECT UNNEST([250000, 375000, 500000,
             |   625000, 750000]) AS thr_ppm)
             |SELECT t.thr_ppm,
             | CAST(COUNT(CASE WHEN p.est_ppm >= t.thr_ppm AND p.gt
             |   THEN 1 END) AS BIGINT) AS tp,
             | CAST(COUNT(CASE WHEN p.est_ppm >= t.thr_ppm AND NOT p.gt
             |   THEN 1 END) AS BIGINT) AS fp,
             | CAST(COUNT(CASE WHEN p.est_ppm < t.thr_ppm AND p.gt
             |   THEN 1 END) AS BIGINT) AS fn,
             | CAST(COUNT(CASE WHEN p.est_ppm >= t.thr_ppm AND p.gt THEN 1 END)
             |   * 1000000 // GREATEST(COUNT(CASE WHEN p.est_ppm >= t.thr_ppm
             |     THEN 1 END), 1) AS BIGINT) AS precision_ppm,
             | CAST(COUNT(CASE WHEN p.est_ppm >= t.thr_ppm AND p.gt THEN 1 END)
             |   * 1000000 // GREATEST(COUNT(CASE WHEN p.gt THEN 1 END), 1)
             |   AS BIGINT) AS recall_ppm
             |FROM thr t CROSS JOIN pr p GROUP BY t.thr_ppm
             |ORDER BY t.thr_ppm""".stripMargin)),

    QueryDef("x109_lm_score_indexed",
      // the train-once/score-forever LM layout: x101's backoff weights
      // persisted as bucketed tables (probe-side-only exchange), a
      // batch scored against the standing tables — bit-identical to
      // the in-memory x101 leg (spec-pinned; the streaming probe in
      // StreamingSpec reuses the same tables per micro-batch).
      (s, dir) => {
        val d = docs(s, dir)
        TextOps.writeLmWeights("x109_lm", d.where(col("lang") === "en"))
        TextOps.scoreWithLm(s, "x109_lm", d)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(
             |   trim(regexp_replace(regexp_replace(lower(text),
             |     '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')),
             |   '\s+') AS t FROM documents),
             | tri AS (SELECT doc_id, tg['w1'] AS w1, tg['w2'] AS w2,
             |   tg['w3'] AS w3 FROM (
             |   SELECT doc_id, UNNEST([{'w1': t[i], 'w2': t[i+1], 'w3': t[i+2]}
             |     for i in generate_series(1, len(t)-2)]) AS tg
             |   FROM toks)),
             | ref AS (SELECT w1, w2, w3 FROM tri
             |   WHERE doc_id IN (SELECT doc_id FROM documents
             |                    WHERE lang = 'en')),
             | nref AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ref),
             | c3 AS (SELECT w1, w2, w3, COUNT(*) AS n3 FROM ref
             |   GROUP BY 1, 2, 3),
             | c12 AS (SELECT w1, w2, CAST(SUM(n3) AS BIGINT) AS n12
             |   FROM c3 GROUP BY 1, 2),
             | wtri AS (SELECT w1, w2, w3, n3 * 1000000 // n12 AS q_tri
             |   FROM c3 JOIN c12 USING (w1, w2)),
             | c23 AS (SELECT w2, w3, COUNT(*) AS n23 FROM ref GROUP BY 1, 2),
             | c2 AS (SELECT w2, CAST(SUM(n23) AS BIGINT) AS n2
             |   FROM c23 GROUP BY 1),
             | wbi AS (SELECT w2, w3, n23 * 400000 // n2 AS q_bi
             |   FROM c23 JOIN c2 USING (w2)),
             | wuni AS (SELECT w3, n1 * 160000 // (SELECT n FROM nref) AS q_uni
             |   FROM (SELECT w3, COUNT(*) AS n1 FROM ref GROUP BY 1)),
             | q AS (SELECT tri.doc_id,
             |   COALESCE(wtri.q_tri, wbi.q_bi, wuni.q_uni, 0) AS q
             |  FROM tri
             |  LEFT JOIN wtri ON wtri.w1 = tri.w1 AND wtri.w2 = tri.w2
             |   AND wtri.w3 = tri.w3
             |  LEFT JOIN wbi ON wbi.w2 = tri.w2 AND wbi.w3 = tri.w3
             |  LEFT JOIN wuni ON wuni.w3 = tri.w3)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
             | CAST(SUM(q) AS BIGINT) AS score_sum,
             | CAST(CAST(SUM(q) AS BIGINT) // COUNT(*) AS BIGINT) AS mean_q
             |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("x110_bloom_prefilter",
      // portable Bloom join pruning + its honesty report: lineitem
      // pre-filtered by the Bloom bits of the rich-supplier key set
      // (2 md5 hash functions over 4096 bits, broadcast left-semi per
      // function — the fact side never shuffles), then the exact
      // semi-join audits it: zero false negatives by construction,
      // false positives counted and rated in ppm over true negatives.
      (s, dir) => {
        val fact = t(s, dir, "lineitem").select(col("l_suppkey").as("k"))
        val dim = t(s, dir, "supplier").where(col("s_acctbal") >= 5000)
          .select(col("s_suppkey").as("k"))
        val bits = ext.Skew.bloomBits(dim, "k", m = 4096, h = 2)
        val kept = ext.Skew.bloomPrefilter(fact, "k", bits, m = 4096, h = 2)
        val exact = fact.join(dim, Seq("k"), "left_semi")
        fact.agg(count(lit(1)).as("n_fact"))
          .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
          .crossJoin(exact.agg(count(lit(1)).as("n_match")))
          .withColumn("false_pos", col("n_kept") - col("n_match"))
          .withColumn("fp_ppm",
            expr("false_pos * 1000000 DIV greatest(n_fact - n_match, 1)"))
      },
      Some("""WITH dim AS (SELECT s_suppkey AS k FROM supplier
             |   WHERE s_acctbal >= 5000),
             | bits AS (SELECT DISTINCT
             |   CAST(('0x' || substr(md5(j || ':' || CAST(k AS VARCHAR)),
             |     1, 15)) AS BIGINT) % 4096 AS bit
             |  FROM dim, generate_series(0, 1) AS g(j)),
             | fact AS (SELECT l_suppkey AS k FROM lineitem),
             | kept AS (SELECT k FROM fact f
             |  WHERE EXISTS (SELECT 1 FROM bits b WHERE b.bit =
             |    CAST(('0x' || substr(md5('0:' || CAST(f.k AS VARCHAR)),
             |      1, 15)) AS BIGINT) % 4096)
             |   AND EXISTS (SELECT 1 FROM bits b WHERE b.bit =
             |    CAST(('0x' || substr(md5('1:' || CAST(f.k AS VARCHAR)),
             |      1, 15)) AS BIGINT) % 4096)),
             | mt AS (SELECT COUNT(*) AS n_match FROM fact f
             |  WHERE EXISTS (SELECT 1 FROM dim d WHERE d.k = f.k))
             |SELECT CAST((SELECT COUNT(*) FROM fact) AS BIGINT) AS n_fact,
             | CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_kept,
             | CAST(mt.n_match AS BIGINT) AS n_match,
             | CAST((SELECT COUNT(*) FROM kept) - mt.n_match AS BIGINT)
             |   AS false_pos,
             | CAST(((SELECT COUNT(*) FROM kept) - mt.n_match) * 1000000
             |   // GREATEST((SELECT COUNT(*) FROM fact) - mt.n_match, 1)
             |   AS BIGINT) AS fp_ppm
             |FROM mt""".stripMargin)),

    QueryDef("x111_quota_sample",
      // exact-N eval-set carving: 100 slots apportioned across sources
      // by total characters (largest remainder — the quota sum is
      // EXACTLY 100, where mixture/matching rules only approximate),
      // each group's quota drawn as its smallest-md5 doc ids.
      (s, dir) => {
        val d = docs(s, dir)
        val w = d.groupBy("source")
          .agg(sum(col("n_chars")).cast("long").as("w"))
        val q = Sampling.apportionQuotas(w, "source", "w", n = 100L)
        Sampling.quotaSample(d, "source", "doc_id", q)
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS w
             |  FROM documents GROUP BY source),
             | tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM w),
             | base AS (SELECT source, w, 100 * w // t.tw AS quota,
             |   100 * w % t.tw AS rem FROM w, tot t),
             | short AS (SELECT 100 - CAST(SUM(quota) AS BIGINT) AS s
             |  FROM base),
             | fin AS (SELECT source, quota + CASE WHEN
             |   ROW_NUMBER() OVER (ORDER BY rem DESC, source)
             |     <= (SELECT s FROM short) THEN 1 ELSE 0 END AS quota
             |  FROM base),
             | ranked AS (SELECT doc_id, source,
             |   ROW_NUMBER() OVER (PARTITION BY source
             |     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
             |  FROM documents)
             |SELECT r.doc_id, r.source FROM ranked r JOIN fin USING (source)
             |WHERE r.rk <= fin.quota ORDER BY r.doc_id""".stripMargin)),

    QueryDef("x112_weighted_draws",
      // negative-sampling primitive: 3 source-weighted categorical
      // draws per document, keyed on md5(doc:j) — the word2vec/
      // contrastive candidate sampler with NO rand() and no alias
      // table: cumulative ranges from one vocab-sized window,
      // broadcast range join.
      (s, dir) => {
        val d = docs(s, dir)
        val w = d.groupBy("source").agg(count(lit(1)).cast("long").as("w"))
        Sampling.weightedDraws(w, "source", "w",
            d.select("doc_id"), "doc_id", k = 3)
          .orderBy("doc_id", "j")
      },
      Some("""WITH w AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS w
             |  FROM documents GROUP BY source),
             | cum AS (SELECT source, w,
             |   CAST(SUM(w) OVER (ORDER BY source
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |     AS BIGINT) AS hi
             |  FROM w),
             | rng AS (SELECT source, hi - w AS lo, hi FROM cum),
             | tot AS (SELECT CAST(MAX(hi) AS BIGINT) AS tw FROM rng),
             | probes AS (SELECT doc_id, j,
             |   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
             |     || ':' || j), 1, 15)) AS BIGINT) % t.tw AS u
             |  FROM documents, generate_series(0, 2) AS g(j), tot t)
             |SELECT p.doc_id, CAST(p.j AS INT) AS j, r.source
             |FROM probes p JOIN rng r ON p.u >= r.lo AND p.u < r.hi
             |ORDER BY p.doc_id, j""".stripMargin)),

    QueryDef("x116_vocab_freq_card",
      // frequency-of-frequencies vocabulary card (the Good-Turing /
      // Zipf diagnostic): N_c = #distinct terms with count exactly c
      // for the 20 LOWEST counts present (a templated corpus may have
      // no hapax at all), with vocabulary shares in integer ppm —
      // hapax mass, templating, and smoothing denominators in one
      // tiny table. Term frequencies shuffle 8-byte hashes only.
      (s, dir) => TextOps.vocabFreqCard(docs(s, dir), smallest = 20)
        .orderBy("c"),
      Some("""WITH tok AS (SELECT
             |   unnest(string_split_regex(trim(text), '\s+')) AS w
             |  FROM documents),
             | tf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok
             |  WHERE w <> '' GROUP BY w),
             | fof AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_terms
             |  FROM tf GROUP BY c),
             | v AS (SELECT CAST(SUM(n_terms) AS BIGINT) AS vocab FROM fof)
             |SELECT c, n_terms,
             | CAST(n_terms * 1000000 // vocab AS BIGINT) AS vocab_share_ppm
             |FROM fof, v ORDER BY c LIMIT 20""".stripMargin)),

    QueryDef("x117_int8_quant",
      // scalar INT8 quantization + reconstruction-error audit: per-dim
      // min/max calibration (one agg, broadcast back), integer code /
      // dequant / error — the 4x-compression gate a deployment checks
      // before swapping its float ANN index for codes. All-integer, so
      // codes AND errors hash-match the oracle.
      (s, dir) => Clustering.int8QuantCard(t(s, dir, "embeddings"))
        .orderBy("vec_id"),
      Some("""WITH q AS (SELECT vec_id, UNNEST(range(len(embedding))) AS dim,
             |   CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000)
             |     AS BIGINT) AS q
             |  FROM embeddings),
             | st AS (SELECT dim, MIN(q) AS mn, MAX(q) AS mx FROM q
             |  GROUP BY dim),
             | c AS (SELECT q.vec_id, q.q, st.mn, st.mx,
             |   (q.q - st.mn) * 255 // GREATEST(st.mx - st.mn, 1) AS code
             |  FROM q JOIN st USING (dim)),
             | e AS (SELECT vec_id, code,
             |   ABS(mn + code * (mx - mn) // 255 - q) AS err FROM c)
             |SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_dims,
             | CAST(SUM(code) AS BIGINT) AS sum_codes,
             | CAST(MAX(err) AS BIGINT) AS max_err,
             | CAST(SUM(err) AS BIGINT) AS sum_err
             |FROM e GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    QueryDef("x118_bmp_image",
      // REAL image decode through a HAND-ROLLED container: a minimal
      // 24-bit BITMAPINFOHEADER BMP per document (bottom-up BGR rows,
      // 4-byte padding — written byte by byte, no JDK encoder), read
      // back by the ACTUAL ImageIO BMP parser. x12's PNG pins the
      // JDK-encode->JDK-decode loop; this pins OUR writer against the
      // JDK reader. Same closed-form pixels, so the no-codec oracle
      // re-derives the decoded histogram.
      (s, dir) => {
        val media = Multimodal.synthesizeBmp(
          docs(s, dir).select("doc_id"), "doc_id", 12, 8)
        Multimodal.decodeImage(media, 16)
          .where(col("decode_ok"))
          .select(col("media_id"), col("width"), col("height"),
            posexplode(col("hist")).as(Seq("bucket", "cnt")))
          .where(col("cnt") > 0)
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("bucket").cast("long").as("bucket"), col("cnt"))
          .orderBy("media_id", "bucket")
      },
      Some("""WITH px AS (SELECT d.doc_id, x.x, y.y
             |  FROM (SELECT doc_id FROM documents) d,
             |       generate_series(0, 11) x(x), generate_series(0, 7) y(y)),
             | b AS (SELECT doc_id,
             |   ((doc_id*31 + x*7 + y*13) % 256 + (doc_id*17 + x*11 + y*3) % 256
             |    + (doc_id*23 + x*5 + y*19) % 256) % 16 AS bucket
             |  FROM px)
             |SELECT doc_id AS media_id, CAST(12 AS BIGINT) AS width,
             | CAST(8 AS BIGINT) AS height, CAST(bucket AS BIGINT) AS bucket,
             | COUNT(*) AS cnt
             |FROM b GROUP BY 1, 4 ORDER BY media_id, bucket""".stripMargin)),

    QueryDef("x129_tiff_image",
      // REAL image decode through a second HAND-ROLLED container: a
      // baseline little-endian TIFF per document (raw RGB strip + a
      // 9-entry IFD written byte by byte), read back by the ACTUAL
      // javax.imageio TIFF plugin. x118's BMP pins offset-addressed
      // pixels against the JDK; TIFF pins a tag DIRECTORY the reader
      // must walk — a structurally different parser path. Same
      // closed-form pixels, so the no-codec oracle re-derives the
      // decoded histogram.
      (s, dir) => {
        val media = Multimodal.synthesizeTiff(
          docs(s, dir).select("doc_id"), "doc_id", 12, 8)
        Multimodal.decodeImage(media, 16)
          .where(col("decode_ok"))
          .select(col("media_id"), col("width"), col("height"),
            posexplode(col("hist")).as(Seq("bucket", "cnt")))
          .where(col("cnt") > 0)
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("bucket").cast("long").as("bucket"), col("cnt"))
          .orderBy("media_id", "bucket")
      },
      Some("""WITH px AS (SELECT d.doc_id, x.x, y.y
             |  FROM (SELECT doc_id FROM documents) d,
             |       generate_series(0, 11) x(x), generate_series(0, 7) y(y)),
             | b AS (SELECT doc_id,
             |   ((doc_id*31 + x*7 + y*13) % 256 + (doc_id*17 + x*11 + y*3) % 256
             |    + (doc_id*23 + x*5 + y*19) % 256) % 16 AS bucket
             |  FROM px)
             |SELECT doc_id AS media_id, CAST(12 AS BIGINT) AS width,
             | CAST(8 AS BIGINT) AS height, CAST(bucket AS BIGINT) AS bucket,
             | COUNT(*) AS cnt
             |FROM b GROUP BY 1, 4 ORDER BY media_id, bucket""".stripMargin)),

    QueryDef("x130_embed_probe_index",
      // the x42 probe-vs-rebuild guarantee in VECTOR space (r9 verdict
      // #6): the corpus persists as a portable sign-LSH bucketed
      // layout (writeBucketed — the ANN index IS the directory
      // layout), then a BATCH of new vectors (id-offset copies of
      // every 7th corpus vector — the injected-duplicate scenario)
      // probes it WITHOUT re-bucketing the corpus: the batch's ≤2^6
      // distinct buckets prune the read at planning time and the
      // candidate join broadcasts the batch side, so the corpus pays
      // no exchange (ScaleSpec plan-asserts it). The oracle re-derives
      // the whole FULL-REBUILD pipeline (quantize → md5-parity planes
      // → bucket join → cosine) restricted to batch-touching pairs —
      // probe == rebuild, the incremental guarantee.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        // warehouse-anchored (not cwd-relative): Verify/Bench may run
        // with any working directory
        val path = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "x130_embed_index").toString
        Similarity.writeBucketed(emb, path, planes = 6, portable = true)
        val batch = emb.where(col("vec_id") % 7 === 0)
          .withColumn("vec_id", col("vec_id") + lit(1000000L))
        Similarity.probeBucketedNearDup(s, path, batch, 0.9, planes = 6)
          .select(col("a"), col("b"), round(col("cosine"), 4).as("cosine"))
          .orderBy("a", "b")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             |   UNION ALL
             |   SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings
             |   WHERE vec_id % 7 = 0),
             | qz AS (SELECT vec_id, v,
             |   [CAST(floor(x * 1e6) AS BIGINT) for x in v] AS q FROM e),
             | bk AS (SELECT vec_id, CAST(list_sum([
             |   CASE WHEN list_sum([q[i] *
             |     (CASE WHEN CAST(('0x' || substr(md5(p || ':' || i), 1, 1)) AS BIGINT) % 2 = 0
             |      THEN 1 ELSE -1 END)
             |     for i in generate_series(1, len(q))]) >= 0
             |   THEN CAST(1 AS BIGINT) << p ELSE 0 END
             |   for p in generate_series(0, 5)]) AS BIGINT) AS bucket
             |  FROM qz),
             | cand AS (SELECT DISTINCT l.vec_id AS a, rr.vec_id AS b
             |  FROM bk l JOIN bk rr ON l.bucket = rr.bucket
             |    AND l.vec_id < rr.vec_id
             |  WHERE l.vec_id >= 1000000 OR rr.vec_id >= 1000000),
             | sc AS (SELECT c.a, c.b,
             |   list_cosine_similarity(ea.v, eb.v) AS cos
             |  FROM cand c JOIN e ea ON ea.vec_id = c.a
             |   JOIN e eb ON eb.vec_id = c.b)
             |SELECT a, b, ROUND(cos, 4) AS cosine FROM sc
             |WHERE cos >= 0.9 AND isfinite(cos)
             |ORDER BY a, b""".stripMargin)),

    QueryDef("q55_pivot",
      // PIVOT / wide reshape — the inverse of q52's UNPIVOT: per
      // linestatus one column per return flag (DataFrame .pivot with
      // EXPLICIT values, so the plan is one hash aggregate + a
      // map-side Expand — no extra distinct-values job, no second
      // shuffle). The oracle spells the same reshape as conditional
      // aggregation (FILTER), which is exactly what pivot desugars to.
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(count(lit(1)))
        .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus,
             | CAST(COUNT(*) FILTER (WHERE l_returnflag = 'A') AS BIGINT) AS "A",
             | CAST(COUNT(*) FILTER (WHERE l_returnflag = 'N') AS BIGINT) AS "N",
             | CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS "R"
             |FROM lineitem GROUP BY 1 ORDER BY l_linestatus""".stripMargin)),

    QueryDef("q56_range_interval_frame",
      // RANGE frame over a TIME axis (RANGE BETWEEN INTERVAL ...
      // PRECEDING): per customer, trailing-90-day order count and
      // integer-cents spend — the time-windowed aggregate a feature
      // pipeline computes per entity. RANGE (value-based) vs q22's
      // ROWS: equal order dates share one frame, so the result is
      // deterministic without a tiebreak even under date ties. One
      // exchange on the customer key; the frame evaluates in-partition.
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("graft_q56_orders")
        s.sql("""SELECT o_orderkey, o_custkey, o_orderdate,
                | COUNT(*) OVER w AS n_90d,
                | CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                |   OVER w AS BIGINT) AS cents_90d
                |FROM graft_q56_orders
                |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                |  RANGE BETWEEN INTERVAL '90' DAY PRECEDING AND CURRENT ROW)
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderdate,
             | CAST(COUNT(*) OVER w AS BIGINT) AS n_90d,
             | CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
             |   OVER w AS BIGINT) AS cents_90d
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
             |  RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
             |ORDER BY o_orderkey""".stripMargin)),

    QueryDef("q58_ntile",
      // NTILE window bucketing — the equal-frequency cohorting shape
      // (quartile a customer's orders by recency) next to q05's
      // ranks and q38's PERCENT_RANK/CUME_DIST. Deterministic under
      // a unique (date, key) tie order; one exchange on the customer
      // key.
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("graft_q58_orders")
        s.sql("""SELECT o_orderkey, o_custkey,
                | ntile(4) OVER (PARTITION BY o_custkey
                |   ORDER BY o_orderdate, o_orderkey) AS quartile
                |FROM graft_q58_orders ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_custkey,
             | CAST(ntile(4) OVER (PARTITION BY o_custkey
             |   ORDER BY o_orderdate, o_orderkey) AS INT) AS quartile
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    QueryDef("q57_attribution",
      // last-touch attribution: every purchase credits the most recent
      // click by the same user within a 7-day lookback — the marketing
      // /causality primitive behavioral stacks run daily. Rides the
      // as-of join kernel (ONE exchange on the user key, union-tag +
      // running last() — never an inequality join); same-timestamp
      // touches collapse to max event_id first so the credit is
      // deterministic. Unattributed purchases survive with NULLs.
      (s, dir) => EventStreams.lastTouchAttribution(
          EventStreams.readEvents(s, dir), "click", "purchase",
          7L * 24 * 3600 * 1000)
        .orderBy("conv_id"),
      Some("""WITH t AS (SELECT user_id, ts, MAX(event_id) AS touch_id
             |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
             | c AS (SELECT user_id, ts, event_id AS conv_id
             |  FROM events WHERE event_type = 'purchase'),
             | j AS (SELECT c.conv_id, c.user_id, c.ts AS conv_ts,
             |   t.ts AS tts, t.touch_id,
             |   ROW_NUMBER() OVER (PARTITION BY c.conv_id
             |     ORDER BY t.ts DESC) AS rn
             |  FROM c LEFT JOIN t
             |   ON t.user_id = c.user_id AND t.ts <= c.ts),
             | b AS (SELECT *, (tts IS NOT NULL AND
             |    epoch_ms(conv_ts) - epoch_ms(tts) <= 604800000) AS inw
             |  FROM j WHERE rn = 1)
             |SELECT conv_id, user_id, conv_ts,
             | CASE WHEN inw THEN touch_id END AS touch_id,
             | CASE WHEN inw THEN tts END AS touch_ts,
             | inw AS attributed
             |FROM b ORDER BY conv_id""".stripMargin)),

    QueryDef("q59_multi_touch",
      // multi-touch attribution (r11): every purchase credits its
      // WHOLE 7-day in-window click set with integer-ppm shares that
      // sum to exactly 10^6 per conversion (largest-remainder, the
      // x111 apportionment trick) — linear, U-shaped 40/20/40
      // position-based, and the last-touch degenerate case (== q57,
      // spec-pinned) side by side. One equi-join on the user key
      // (the range predicate filters after the hash join — never an
      // inequality join plan); both windows partition per
      // conversion, bounded by the lookback's touch count.
      (s, dir) => EventStreams.multiTouchAttribution(
          EventStreams.readEvents(s, dir), "click", "purchase",
          7L * 24 * 3600 * 1000)
        .orderBy(col("conv_id"), coalesce(col("position"), lit(0L))),
      Some("""WITH t AS (SELECT user_id, ts, MAX(event_id) AS touch_id
             |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
             | c AS (SELECT user_id, ts AS conv_ts, event_id AS conv_id
             |  FROM events WHERE event_type = 'purchase'),
             | iw AS (SELECT c.conv_id, c.conv_ts, t.ts AS touch_ts,
             |   t.touch_id
             |  FROM c JOIN t ON t.user_id = c.user_id
             |   AND t.ts <= c.conv_ts
             |   AND epoch_ms(c.conv_ts) - epoch_ms(t.ts) <= 604800000),
             | p AS (SELECT *,
             |   CAST(ROW_NUMBER() OVER (PARTITION BY conv_id
             |     ORDER BY touch_ts, touch_id) AS BIGINT) AS position,
             |   CAST(COUNT(*) OVER (PARTITION BY conv_id) AS BIGINT)
             |     AS n_touches FROM iw),
             | cr AS (SELECT *,
             |   CAST(1000000 // n_touches + CASE WHEN position <=
             |     1000000 % n_touches THEN 1 ELSE 0 END AS BIGINT)
             |    AS credit_linear_ppm,
             |   CAST(CASE WHEN n_touches = 1 THEN 1000000
             |    WHEN n_touches = 2 THEN 500000
             |    WHEN position = 1 OR position = n_touches THEN 400000
             |    ELSE 200000 // (n_touches - 2) +
             |     CASE WHEN position - 1 <= 200000 % (n_touches - 2)
             |      THEN 1 ELSE 0 END END AS BIGINT)
             |    AS credit_position_ppm,
             |   CAST(CASE WHEN position = n_touches THEN 1000000
             |    ELSE 0 END AS BIGINT) AS credit_last_ppm FROM p)
             |SELECT c.conv_id, c.user_id, c.conv_ts, cr.touch_id,
             | cr.touch_ts, cr.position,
             | COALESCE(cr.n_touches, 0) AS n_touches,
             | cr.credit_linear_ppm, cr.credit_position_ppm,
             | cr.credit_last_ppm
             |FROM c LEFT JOIN cr ON cr.conv_id = c.conv_id
             |ORDER BY c.conv_id, COALESCE(cr.position, 0)""".stripMargin)),

    QueryDef("x131_bm25_search",
      // BM25-shaped retrieval against the persisted inverted index —
      // x48's reciprocal-df ranking plus BM25's tf saturation and
      // length normalization, integer-exact: at k1=1.2, b=0.75 the
      // per-term score clears all fractions ×10·avgdl, the Robertson
      // log-idf is replaced by the log-free monotone ratio
      // (N−df)·1e6 DIV df, and avgdl quantizes to whole tokens from
      // the persisted 1-row stats table. Term filter prunes index
      // buckets at planning time; the doclen join touches matched
      // docs only. The oracle re-derives postings, df, doc lengths,
      // corpus stats AND the exact integer formula from raw text.
      (s, dir) => {
        TextOps.writeInvertedIndex(docs(s, dir), "x131_idx")
        TextOps.searchIndexBm25(s, "x131_idx",
          Seq("data", "hash", "batch"), k = 20)
      },
      Some("""WITH tok AS (SELECT doc_id,
             |  unnest(string_split_regex(trim(text), '\s+')) AS term
             |  FROM documents),
             | tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
             | p AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
             |  FROM tok2 GROUP BY 1, 2),
             | d AS (SELECT term, CAST(count(*) AS BIGINT) AS df
             |  FROM p GROUP BY 1),
             | dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
             |  FROM p GROUP BY 1),
             | st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |   CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
             | av AS (SELECT n_docs,
             |   GREATEST(total_len // GREATEST(n_docs, 1), 1) AS avgdl
             |  FROM st),
             | sc AS (SELECT p.doc_id,
             |   CAST(SUM(
             |     (CAST((av.n_docs - d.df) * 1000000 // d.df AS HUGEINT)
             |       * (22 * p.tf * av.avgdl))
             |     // (10 * av.avgdl * p.tf + 3 * av.avgdl + 9 * dl.dl))
             |    AS BIGINT) AS score_micro,
             |   count(*) AS n_terms
             |  FROM p JOIN d USING (term) JOIN dl USING (doc_id), av
             |  WHERE term IN ('data', 'hash', 'batch')
             |  GROUP BY 1)
             |SELECT doc_id, score_micro, n_terms FROM sc
             |ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin)),

    QueryDef("x136_index_append",
      // incremental inverted-index lifecycle — the x43 append pattern
      // for text retrieval: the corpus indexes WITHOUT every 5th doc,
      // the held-out slice then folds in via appendInvertedIndex
      // (batch-sized work: new postings/doclen land as bucket-tagged
      // files, df/stats append SEGMENT rows the query side sums), and
      // BM25 search over the folded index must equal the oracle's
      // FROM-SCRATCH full-corpus derivation — append == rebuild, so a
      // daily crawl increment never re-tokenizes 100 TB.
      (s, dir) => {
        val d = docs(s, dir)
        TextOps.writeInvertedIndex(
          d.where(col("doc_id") % 5 =!= 0), "x136_idx")
        TextOps.appendInvertedIndex(
          d.where(col("doc_id") % 5 === 0), "x136_idx")
        TextOps.searchIndexBm25(s, "x136_idx",
          Seq("data", "hash", "batch"), k = 25)
      },
      Some("""WITH tok AS (SELECT doc_id,
             |  unnest(string_split_regex(trim(text), '\s+')) AS term
             |  FROM documents),
             | tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
             | p AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
             |  FROM tok2 GROUP BY 1, 2),
             | d AS (SELECT term, CAST(count(*) AS BIGINT) AS df
             |  FROM p GROUP BY 1),
             | dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
             |  FROM p GROUP BY 1),
             | st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |   CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
             | av AS (SELECT n_docs,
             |   GREATEST(total_len // GREATEST(n_docs, 1), 1) AS avgdl
             |  FROM st),
             | sc AS (SELECT p.doc_id,
             |   CAST(SUM(
             |     (CAST((av.n_docs - d.df) * 1000000 // d.df AS HUGEINT)
             |       * (22 * p.tf * av.avgdl))
             |     // (10 * av.avgdl * p.tf + 3 * av.avgdl + 9 * dl.dl))
             |    AS BIGINT) AS score_micro,
             |   count(*) AS n_terms
             |  FROM p JOIN d USING (term) JOIN dl USING (doc_id), av
             |  WHERE term IN ('data', 'hash', 'batch')
             |  GROUP BY 1)
             |SELECT doc_id, score_micro, n_terms FROM sc
             |ORDER BY score_micro DESC, doc_id LIMIT 25""".stripMargin)),

    QueryDef("x146_hybrid_rrf",
      // reciprocal-rank fusion — the hybrid-retrieval combiner every
      // RAG stack runs over its incomparably-scored rankers: here the
      // index's TWO ranking legs (BM25 with length normalization vs
      // the raw reciprocal-df scorer) fuse by Σ 10^6 DIV (60 + rank).
      // Integer micro-units (the published float 1/(k+r) sum is
      // addition-order-dependent), ties on doc_id; the fuse window
      // sorts candidate lists only, never the corpus. The oracle
      // re-derives both rankers from raw text AND the fusion.
      (s, dir) => {
        TextOps.writeInvertedIndex(docs(s, dir), "x146_idx")
        val terms = Seq("data", "hash", "batch")
        val w = Window.orderBy(col("score_micro").desc, col("doc_id"))
        val bm = TextOps.searchIndexBm25(s, "x146_idx", terms, k = 20)
          .withColumn("rank", row_number().over(w))
        val w2 = Window.orderBy(col("score_ppm").desc, col("doc_id"))
        val rd = TextOps.searchIndex(s, "x146_idx", terms, k = 20)
          .withColumn("rank", row_number().over(w2))
        TextOps.rrfFuse(Seq(bm, rd), k = 60, topK = 15)
          .orderBy("rank")
      },
      Some("""WITH tok AS (SELECT doc_id,
             |  unnest(string_split_regex(trim(text), '\s+')) AS term
             |  FROM documents),
             | tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
             | p AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
             |  FROM tok2 GROUP BY 1, 2),
             | d AS (SELECT term, CAST(count(*) AS BIGINT) AS df
             |  FROM p GROUP BY 1),
             | dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
             |  FROM p GROUP BY 1),
             | st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |   CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
             | av AS (SELECT n_docs,
             |   GREATEST(total_len // GREATEST(n_docs, 1), 1) AS avgdl
             |  FROM st),
             | bmsc AS (SELECT p.doc_id,
             |   CAST(SUM(
             |     (CAST((av.n_docs - d.df) * 1000000 // d.df AS HUGEINT)
             |       * (22 * p.tf * av.avgdl))
             |     // (10 * av.avgdl * p.tf + 3 * av.avgdl + 9 * dl.dl))
             |    AS BIGINT) AS score_micro
             |  FROM p JOIN d USING (term) JOIN dl USING (doc_id), av
             |  WHERE term IN ('data', 'hash', 'batch')
             |  GROUP BY 1),
             | bmr AS (SELECT doc_id,
             |   CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)
             |     AS BIGINT) AS rank
             |  FROM bmsc QUALIFY rank <= 20),
             | rsc AS (SELECT p.doc_id,
             |   CAST(SUM(p.tf * 1000000 // d.df) AS BIGINT) AS score_ppm
             |  FROM p JOIN d USING (term)
             |  WHERE term IN ('data', 'hash', 'batch')
             |  GROUP BY 1),
             | rr AS (SELECT doc_id,
             |   CAST(ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id)
             |     AS BIGINT) AS rank
             |  FROM rsc QUALIFY rank <= 20),
             | uni AS (SELECT doc_id, rank FROM bmr
             |  UNION ALL SELECT doc_id, rank FROM rr),
             | f AS (SELECT doc_id,
             |   CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro,
             |   CAST(COUNT(*) AS BIGINT) AS n_lists
             |  FROM uni GROUP BY 1)
             |SELECT doc_id, rrf_micro, n_lists,
             | CAST(ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id)
             |   AS INT) AS rank
             |FROM f QUALIFY rank <= 15 ORDER BY rank""".stripMargin)),

    QueryDef("g69_katz",
      // Katz centrality on the 3-layer supplier slice — the third
      // classic centrality next to g20/g27's PageRank and g61's
      // HITS, crediting ALL attenuated incoming walks: BIGINT
      // micro-units, α = 1/8 as one integral divide per round, exact
      // under any partitioning or engine — hash-matches the
      // chained-CTE oracle.
      (s, dir) => {
        val g = graph(s, dir).viewLayers(Seq("region", "nation", "supplier"))
        GraphOps.katzFixedPoint(g, iters = 4, alphaDen = 8L)
          .join(g.vertices, Seq("vid"))
          .select(col("layer"), col("nodeId").as("node_id"), col("katz_fp"))
          .orderBy("layer", "node_id")
      },
      Some(katzFixedSql(Seq("region", "nation", "supplier"), 4, 8L,
        1000000L))),

    QueryDef("g71_weighted_pagerank",
      // weighted PageRank over the order→part/supplier slice — the
      // one slice whose edges carry REAL weights (summed lineitem
      // quantities): rank mass splits proportionally to quantity, in
      // centi-unit integer weights with the r·w product
      // decimal-routed — exact under any partitioning or engine.
      // Uniform weights reproduce g20's kernel (spec-pinned).
      (s, dir) => {
        val g = graph(s, dir).viewLayers(Seq("order", "part", "supplier"))
        GraphOps.pageRankWeightedFixedPoint(g, iters = 3)
          .join(g.vertices, Seq("vid"))
          .select(col("layer"), col("nodeId").as("node_id"), col("rank_fp"))
          .orderBy("layer", "node_id")
      },
      Some(weightedPagerankSql(Seq("order", "part", "supplier"), 3))),

    QueryDef("g72_shrink_onion",
      // graph-side RETIREMENT (r13 verdict #5): the delete leg of the
      // core model's lifecycle — grow the star graph, shrinkOnion the
      // negative-balance suppliers plus nation 0, summarize per
      // layer/relation. The oracle rebuilds on the REMAINING rows
      // (edges survive only when BOTH endpoints do — builder.py:219-224
      // dangling-drop in reverse), so the hash-match IS the
      // remove-equals-rebuild guarantee, the x162-x164 rule applied to
      // the core model. The delete set includes a key absent from the
      // graph (idempotence: unknown keys are ignored, like a replayed
      // batch).
      (s, dir) => {
        val net = new graft.OnionNet(s)
        val opts = graft.builder.OnionBuilder.GrowOptions(
          nodePropCols = Seq("name", "acctbal", "price", "segment"),
          edgePropCols = Seq("relation", "qty"),
          dropDuplicates = false)
        net.growOnion(StarGraph.nodesDf(s, dir),
          StarGraph.edgesDf(s, dir), opts)
        net.checkpoint() // shrink anti-joins probe a block, not the plan
        val dels = t(s, dir, "supplier").where(col("s_acctbal") < 0)
          .select(col("s_suppkey").cast("string").as("node_id"),
            lit("supplier").as("layer"))
          .unionAll(s.range(1).select(lit("0").as("node_id"),
            lit("nation").as("layer")))
          .unionAll(s.range(1).select(lit("no_such_key").as("node_id"),
            lit("nation").as("layer")))
        net.shrinkOnion(dels)
        val g = net.g
        g.vertices.groupBy(col("layer").as("grp"))
          .agg(count(lit(1)).as("n"),
            coalesce(dsum(col("acctbal")), lit(0.0)).as("val"))
          .unionAll(g.edges.groupBy(col("relation").as("grp"))
            .agg(count(lit(1)).as("n"),
              coalesce(dsum(col("qty")), lit(0.0)).as("val")))
          .orderBy("grp")
      },
      Some(s"""$W,
              |removed AS (
              | SELECT 'supplier' AS layer, CAST(s_suppkey AS VARCHAR) AS node_id
              | FROM supplier WHERE s_acctbal < 0
              | UNION ALL SELECT 'nation', '0'
              | UNION ALL SELECT 'nation', 'no_such_key'),
              |rv AS (
              | SELECT * FROM vertices v WHERE NOT EXISTS (
              |  SELECT 1 FROM removed r
              |  WHERE r.layer = v.layer AND r.node_id = v.node_id)),
              |re AS (
              | SELECT * FROM edges e WHERE NOT EXISTS (
              |  SELECT 1 FROM removed r
              |  WHERE r.layer = e.source_layer AND r.node_id = e.source_id)
              | AND NOT EXISTS (
              |  SELECT 1 FROM removed r
              |  WHERE r.layer = e.target_layer AND r.node_id = e.target_id))
              |SELECT layer AS grp, CAST(COUNT(*) AS BIGINT) AS n,
              |  COALESCE(${dsumSql("acctbal")}, 0.0) AS val
              |FROM rv GROUP BY 1
              |UNION ALL
              |SELECT relation, CAST(COUNT(*) AS BIGINT),
              |  COALESCE(${dsumSql("qty")}, 0.0)
              |FROM re GROUP BY 1
              |ORDER BY grp""".stripMargin)),

    QueryDef("g70_butterflies",
      // butterfly (bipartite 4-cycle) census over the order⋈part
      // incidence — the bipartite analogue of g32's triangle count
      // (triangles cannot exist in a bipartite layer): exact wedge /
      // butterfly tallies, quadratic sums decimal-routed and emitted
      // as strings (the g66 2^63 treatment).
      (s, dir) => LinkAnalysis.butterflyCard(
        t(s, dir, "lineitem").select(col("l_partkey").as("a"),
          col("l_orderkey").as("b"))),
      Some("""WITH e AS (SELECT DISTINCT l_partkey AS a, l_orderkey AS b
             |  FROM lineitem),
             | deg AS (SELECT a, COUNT(*) AS d FROM e GROUP BY a),
             | kept AS (SELECT e.a, e.b FROM e JOIN deg USING (a)
             |  WHERE d <= 10000),
             | wg AS (SELECT l.b AS b1, r.b AS b2, COUNT(*) AS w
             |  FROM kept l JOIN kept r ON l.a = r.a AND l.b < r.b
             |  GROUP BY 1, 2),
             | tot AS (SELECT CAST(COUNT(DISTINCT a) AS BIGINT) AS n_left,
             |   CAST(COUNT(DISTINCT b) AS BIGINT) AS n_right,
             |   CAST(COUNT(*) AS BIGINT) AS n_edges FROM e),
             | wt AS (SELECT CAST(COALESCE(SUM((d * (d - 1)) // 2), 0)
             |    AS VARCHAR) AS n_wedges FROM deg WHERE d <= 10000),
             | bf AS (SELECT CAST(COALESCE(SUM((w * (w - 1)) // 2), 0)
             |    AS VARCHAR) AS n_butterflies FROM wg)
             |SELECT n_left, n_right, n_edges, n_wedges, n_butterflies
             |FROM tot, wt, bf""".stripMargin)),

    QueryDef("x147_matryoshka_recall",
      // Matryoshka truncation recall card — per swept prefix length
      // the mean recall@10 of exact search over only the first d
      // dims vs the full-dim ground truth: the measured basis for
      // the "how many dims can this corpus drop" serving decision
      // (a 4× prefix cut = a 4× index/scan cut at 100 TB). Integer
      // ppm end to end.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Clustering.matryoshkaRecallCard(emb,
            emb.where(col("vec_id") < 5),
            prefixDims = Seq(4, 8, 16, 32, 64), topK = 10)
          .orderBy("prefix_dims")
      },
      Some(matryoshkaRecallSql(Seq(4, 8, 16, 32, 64), 10))),

    QueryDef("x148_binary_rerank_recall",
      // 1-bit (sign) quantization + exact rerank recall card — the
      // 32×-compression rung of the quantization ladder (INT8 x117,
      // PQ x135): Hamming prefilter over two packed BIGINT words,
      // exact-L2 rerank of the top-R survivors, recall@10 per swept
      // R against the same exact ground truth. Sign thresholds are
      // corpus means decided by integer cross-multiply (no division,
      // no float threshold).
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Clustering.binaryRerankRecallCard(emb,
            emb.where(col("vec_id") < 5), dims = 64,
            rerankRs = Seq(10, 20, 50, 100), topK = 10)
          .orderBy("rerank_r")
      },
      Some(binaryRerankRecallSql(Seq(10, 20, 50, 100), 10))),

    QueryDef("x149_repetition_card",
      // Gopher-style repetition gates per document (Rae 2021 §A1.1)
      // in integer ppm: duplicate-token fraction, most-common
      // bigram/trigram mass, and the composed pass verdict at the
      // published 0.20/0.18 thresholds — exact integer division so
      // the verdicts hash-match (a float gate would cut differently
      // per engine at the boundary).
      (s, dir) => TextOps.repetitionCard(docs(s, dir)).orderBy("doc_id"),
      Some("""WITH tok AS (SELECT doc_id,
             |  string_split_regex(trim(text), '\s+') AS t FROM documents),
             | n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             |   CAST(len(list_distinct(t)) AS BIGINT) AS nd FROM tok),
             | g2 AS (SELECT doc_id, t[i] || ' ' || t[i + 1] AS sh
             |  FROM (SELECT doc_id, t, UNNEST(range(1, len(t))) AS i
             |    FROM tok)),
             | m2 AS (SELECT doc_id, MAX(c) AS m FROM (
             |   SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15))
             |     AS BIGINT) AS h, COUNT(*) AS c FROM g2 GROUP BY 1, 2)
             |  GROUP BY 1),
             | g3 AS (SELECT doc_id,
             |   t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS sh
             |  FROM (SELECT doc_id, t, UNNEST(range(1, len(t) - 1)) AS i
             |    FROM tok)),
             | m3 AS (SELECT doc_id, MAX(c) AS m FROM (
             |   SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15))
             |     AS BIGINT) AS h, COUNT(*) AS c FROM g3 GROUP BY 1, 2)
             |  GROUP BY 1)
             |SELECT n.doc_id, n.n_tokens,
             | CAST(1000000 * (n.n_tokens - n.nd) // n.n_tokens AS BIGINT)
             |   AS dup_token_ppm,
             | CAST(LEAST(1000000,
             |   1000000 * (2 * COALESCE(m2.m, 0)) // n.n_tokens)
             |   AS BIGINT) AS top_bigram_ppm,
             | CAST(LEAST(1000000,
             |   1000000 * (3 * COALESCE(m3.m, 0)) // n.n_tokens)
             |   AS BIGINT) AS top_trigram_ppm,
             | (LEAST(1000000,
             |    1000000 * (2 * COALESCE(m2.m, 0)) // n.n_tokens) <= 200000
             |  AND LEAST(1000000,
             |    1000000 * (3 * COALESCE(m3.m, 0)) // n.n_tokens) <= 180000)
             |   AS passes
             |FROM n LEFT JOIN m2 USING (doc_id) LEFT JOIN m3 USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    QueryDef("x150_hard_negatives",
      // hard-negative mining for contrastive retrieval training
      // (DPR/SBERT): each query's 5 nearest corpus neighbors with a
      // DIFFERENT label — the near-misses a bi-encoder learns from.
      // Label cut happens BEFORE the top-k (near ties survive); d2
      // is the exact integer L2 of the recall cards.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.hardNegatives(emb, emb.where(col("vec_id") < 5), k = 5)
          .orderBy("query_id", "rank")
      },
      Some(hardNegativesSql(5))),

    QueryDef("x151_mmr_rerank",
      // MMR diversified re-ranking (Carbonell 1998) — the diversity
      // leg of the retrieval stack next to x146's RRF fusion: from
      // each query's 8 exact-nearest candidates greedily pick 3
      // maximizing (1000−λ)·min-dist-to-selected − λ·dist-to-query,
      // λ = 700‰ — pure BIGINT arithmetic, no division, total tie
      // order, so the selection hash-matches the unrolled-greedy
      // oracle.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.mmrRerank(emb, emb.where(col("vec_id") < 5),
            k = 3, candidateN = 8, lambdaPpt = 700L)
          .orderBy("query_id", "mmr_rank")
      },
      Some(mmrSql(3, 8, 700L))),

    QueryDef("x152_binary_probe_index",
      // binary retrieval over the PERSISTED 1-bit layout — the
      // index-is-the-layout treatment (x137's lesson) applied to the
      // binary rung: codes (16 bytes + id per vector) and the frozen
      // sign thresholds persist once, every probe scans the code
      // words with the query codes broadcast and reranks survivors
      // only. In-query build+probe lifecycle (the x142 honesty);
      // ExtSpec pins probe == the in-memory binaryRerankTopK.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"),
          s"binidx_${math.abs(dir.hashCode)}").toString
        Clustering.writeBinaryIndex(emb, path, dims = 64)
        Clustering.probeBinaryIndex(s, path, emb,
            emb.where(col("vec_id") < 5), dims = 64,
            rerankR = 50, topK = 10)
          .orderBy("query_id", "rank")
      },
      Some(binaryProbeSql(50, 10))),

    QueryDef("x154_binary_append",
      // the binary index's APPEND leg (its x142): the batch packs
      // against the PERSISTED thresholds — the frozen-model contract,
      // so the oracle calibrates on the base slice only and encodes
      // the full corpus against those cuts; probing the base∪batch
      // layout must hash-match it.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"),
          s"binidx_app_${math.abs(dir.hashCode)}").toString
        Clustering.writeBinaryIndex(emb.where(col("vec_id") < 400),
          path, dims = 64)
        Clustering.appendBinaryIndex(s, path,
          emb.where(col("vec_id") >= 400), dims = 64)
        Clustering.probeBinaryIndex(s, path, emb,
            emb.where(col("vec_id") < 5), dims = 64,
            rerankR = 50, topK = 10)
          .orderBy("query_id", "rank")
      },
      Some(binaryProbeSql(50, 10, thCond = "vec_id < 400"))),

    QueryDef("x156_index_delete",
      // DELETE leg of the inverted-index lifecycle (r11 verdict #2 —
      // build/append/stream existed, nothing could retract): the full
      // corpus indexes, every 7th doc is tombstoned (three
      // batch-sized writes: tombstones + NEGATIVE df segments +
      // NEGATIVE stats row), and BM25 search afterwards must equal
      // the oracle's from-scratch rebuild on the REMAINING corpus —
      // delete == rebuild, exactly: probes anti-join the broadcast
      // tombstones, the df/stats sums fold the retractions. The
      // corpus is never re-tokenized; the delete pays one postings
      // pass keyed by the broadcast batch.
      (s, dir) => {
        val d = docs(s, dir)
        TextOps.writeInvertedIndex(d, "x156_idx")
        TextOps.deleteIndexDocs(s, "x156_idx",
          d.where(col("doc_id") % 7 === 0).select("doc_id"))
        TextOps.searchIndexBm25(s, "x156_idx",
          Seq("data", "hash", "batch"), k = 20)
      },
      Some(bm25RebuildSql("doc_id % 7 <> 0", 20))),

    QueryDef("x158_index_compaction",
      // COMPACTION leg: after the same delete, compactInvertedIndex
      // physically drops tombstoned postings, collapses the df/stats
      // segment piles to canonical tables and clears the tombstones —
      // search over the compacted layout must STILL equal the
      // rebuild-on-remaining oracle (identical to x156's), proving
      // the rewrite changed bytes, not answers, and that probes now
      // pay no anti-join. One postings pass; text never re-tokenizes.
      (s, dir) => {
        val d = docs(s, dir)
        TextOps.writeInvertedIndex(d, "x158_idx")
        TextOps.deleteIndexDocs(s, "x158_idx",
          d.where(col("doc_id") % 7 === 0).select("doc_id"))
        TextOps.compactInvertedIndex(s, "x158_idx")
        TextOps.searchIndexBm25(s, "x158_idx",
          Seq("data", "hash", "batch"), k = 20)
      },
      Some(bm25RebuildSql("doc_id % 7 <> 0", 20))),

    QueryDef("x157_binary_delete",
      // DELETE leg for the ANN family (binary rung): tombstones land
      // as a sidecar the probe anti-joins (broadcast-small); codes
      // and the FROZEN sign thresholds are untouched — the FAISS
      // remove_ids contract, so the oracle derives thresholds from
      // the FULL corpus and candidates from the remaining one. The
      // deleted residues (vec_id ≡ 6 mod 7) exclude the probe ids
      // (< 5), so every query survives its own deletion wave.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"),
          s"binidx_del_${math.abs(dir.hashCode)}").toString
        Clustering.writeBinaryIndex(emb, path, dims = 64)
        Clustering.deleteBinaryIndex(s, path,
          emb.where(col("vec_id") % 7 === 6).select("vec_id"))
        Clustering.probeBinaryIndex(s, path, emb,
            emb.where(col("vec_id") < 5), dims = 64,
            rerankR = 50, topK = 10)
          .orderBy("query_id", "rank")
      },
      Some(binaryProbeSql(50, 10, corpusCond = "c.vec_id % 7 <> 6"))),

    QueryDef("x160_ivfpq_delete",
      // DELETE leg for the IVF-PQ family — the tombstone pattern's
      // third landing (inverted x156, binary x157): codes drop via
      // the broadcast anti-join AFTER the planning-time cell prune,
      // the coarse centroids and PQ codebook stay FROZEN (FAISS
      // remove_ids — the model never retrains on delete), so the
      // oracle trains on the FULL corpus and scores only surviving
      // code rows. Own layout (not the memoized one — delete MUTATES
      // it, the x142 rule). compactIvfPq then rewrites the cell
      // directories minus the tombstones and the SINGLE probe runs
      // post-compaction — so the oracle hash-match covers build +
      // delete + compact + probe in one pass. The pre-vs-post-
      // compaction probe equality (formerly a second probe + driver
      // collect-compare here, the r12 bench's #4 cost line) is pinned
      // in ExtSpec ("deleteIvfPq: ... compaction preserves the
      // probe") where it times a spec corpus, not the bench.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"),
          s"ivfpq_del_${math.abs(dir.hashCode)}").toString
        Clustering.writeIvfPq(emb, path, dims = 64, cells = 4, m = 4,
          k = 8, iters = 1)
        Clustering.deleteIvfPq(s, path,
          emb.where(col("vec_id") % 7 === 6).select("vec_id"))
        Clustering.compactIvfPq(s, path)
        Clustering.probeIvfPq(s, path,
            emb.where(col("vec_id") < 5), dims = 64, nProbe = 2, m = 4,
            topK = 10)
          .orderBy("query_id", "rank")
      },
      Some(ivfPqSql(4, 1, 4, 16, 8, 1, 2, 10,
        corpusCond = "a.vec_id % 7 <> 6"))),

    QueryDef("x159_compaction_run",
      // the EXECUTION leg of shard compaction (r11 verdict #5 — x77
      // planned, nothing rewrote): export the epoch-shuffled corpus
      // partitionBy(shard), quota-bin the manifest (x77's plan), then
      // runCompaction merges each bin's shard directories into one
      // and re-derives the manifest FROM THE WRITTEN FILES — the
      // oracle re-derives shard assignment, the cumulative-quota
      // binning AND the merged row/token/checksum totals from raw
      // documents, so the hash-match proves disk == plan through the
      // rewrite. The (shard → bin) map is manifest-sized and
      // broadcasts; the only corpus movement is the write itself.
      (s, dir) => {
        val man = Sampling.writeTrainingShards(docs(s, dir),
          "spark-warehouse/x159_shards", "doc_id", "text",
          epoch = 2, shards = 8)
        val plan = Sampling.planCompaction(man, "n_tokens", target = 8000L)
        Sampling.runCompaction(s, "spark-warehouse/x159_shards",
            "spark-warehouse/x159_merged", plan, "doc_id", "text")
          .orderBy("shard")
      },
      Some("""WITH s AS (SELECT doc_id, text,
             |  CAST(CAST(('0x' || substr(md5('2:' ||
             |    CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS INT)
             |    AS shard
             |  FROM documents),
             | man AS (SELECT shard,
             |   CAST(SUM(len(string_split_regex(trim(text), '\s+')))
             |     AS BIGINT) AS n_tokens
             |  FROM s GROUP BY shard),
             | b AS (SELECT shard,
             |   COALESCE(SUM(n_tokens) OVER (ORDER BY shard
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    // 8000 AS bin FROM man)
             |SELECT CAST(b.bin AS INT) AS shard,
             | CAST(COUNT(*) AS BIGINT) AS n_rows,
             | CAST(SUM(len(string_split_regex(trim(text), '\s+')))
             |   AS BIGINT) AS n_tokens,
             | CAST(SUM(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
             |   || ':' || text), 1, 12)) AS BIGINT)) AS BIGINT) AS checksum
             |FROM s JOIN b USING (shard) GROUP BY 1 ORDER BY shard"""
        .stripMargin)),

    QueryDef("x166_retire_then_compact",
      // retire → compact COMPOSED (r13 verdict #8): after an x162
      // retirement shrinks shards below loader-friendly size, the
      // x159 compaction rebins them. The oracle derives the merged
      // manifest from the REMAINING documents alone (shard assign →
      // quota bins → merged row/token/checksum totals), so the
      // hash-match proves the composition equals a fresh export of
      // the remaining corpus binned the same way — disk == plan
      // through BOTH rewrites. Affected-shards-only retirement, then
      // a manifest-sized broadcast plan; the only corpus movement is
      // the compaction write itself.
      (s, dir) => {
        Sampling.writeTrainingShards(docs(s, dir),
          "spark-warehouse/x166_shards", "doc_id", "text",
          epoch = 2, shards = 8)
        val man = Sampling.retireFromShards(s,
          "spark-warehouse/x166_shards",
          docs(s, dir).where(col("doc_id") % 3 === 0).select("doc_id"),
          "doc_id", "text")
        val plan = Sampling.planCompaction(man, "n_tokens", target = 8000L)
        Sampling.runCompaction(s, "spark-warehouse/x166_shards",
            "spark-warehouse/x166_merged", plan, "doc_id", "text")
          .orderBy("shard")
      },
      Some("""WITH s AS (SELECT doc_id, text,
             |  CAST(CAST(('0x' || substr(md5('2:' ||
             |    CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS INT)
             |    AS shard
             |  FROM documents WHERE doc_id % 3 <> 0),
             | man AS (SELECT shard,
             |   CAST(SUM(len(string_split_regex(trim(text), '\s+')))
             |     AS BIGINT) AS n_tokens
             |  FROM s GROUP BY shard),
             | b AS (SELECT shard,
             |   COALESCE(SUM(n_tokens) OVER (ORDER BY shard
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    // 8000 AS bin FROM man)
             |SELECT CAST(b.bin AS INT) AS shard,
             | CAST(COUNT(*) AS BIGINT) AS n_rows,
             | CAST(SUM(len(string_split_regex(trim(text), '\s+')))
             |   AS BIGINT) AS n_tokens,
             | CAST(SUM(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
             |   || ':' || text), 1, 12)) AS BIGINT)) AS BIGINT) AS checksum
             |FROM s JOIN b USING (shard) GROUP BY 1 ORDER BY shard"""
        .stripMargin)),

    QueryDef("x162_shard_retire",
      // GOVERNANCE retirement of the epoch-shuffle export (r12
      // verdict #6 — x159's disk==plan contract extended to
      // deletion): export partitionBy(shard), retire every doc_id ≡ 3
      // (mod 5) — ONLY the shard dirs containing them rewrite
      // (survivor payloads untouched, emptied dirs stay gone),
      // tombstones commit after the swap, and the manifest re-derives
      // FROM THE WRITTEN FILES. Shard assignment is content-keyed
      // (md5 of epoch:key), so the oracle manifest over the REMAINING
      // corpus must hash-match — retire == rebuild-on-remaining, the
      // x156–x161 rule applied to the curated-export family.
      (s, dir) => {
        val path = "spark-warehouse/x162_shards"
        Sampling.writeTrainingShards(docs(s, dir), path, "doc_id",
          "text", epoch = 2, shards = 8)
        Sampling.retireFromShards(s, path,
            docs(s, dir).where(col("doc_id") % 5 === 3).select("doc_id"),
            "doc_id", "text")
          .orderBy("shard")
      },
      Some("""WITH s AS (SELECT doc_id, text,
             |  CAST(CAST(('0x' || substr(md5('2:' ||
             |    CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS INT)
             |    AS shard
             |  FROM documents WHERE doc_id % 5 <> 3)
             |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
             | CAST(SUM(len(string_split_regex(trim(text), '\s+')))
             |   AS BIGINT) AS n_tokens,
             | CAST(SUM(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
             |   || ':' || text), 1, 12)) AS BIGINT)) AS BIGINT) AS checksum
             |FROM s GROUP BY shard ORDER BY shard""".stripMargin)),

    QueryDef("x163_rendezvous_retire",
      // retirement on the rendezvous-sharded layout (x69's artifact
      // closes its lifecycle): drop an entire "source" (doc_id ≡ 2
      // mod 7 — the retired-crawl shape) from a HRW-sharded export.
      // Rendezvous assignment is per-key content-keyed, so survivors
      // never move and the manifest equals a fresh export of the
      // remaining corpus — the oracle re-derives the HRW argmax per
      // doc and aggregates the survivors.
      (s, dir) => {
        val path = "spark-warehouse/x163_rdv"
        val d = docs(s, dir)
        d.select(col("doc_id"), col("text"),
            Sampling.rendezvousShard(col("doc_id"), 8).as("shard"))
          .write.mode("overwrite").partitionBy("shard").parquet(path)
        val tomb = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
        tomb.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(tomb, true) // fresh layout invalidates old sidecars
        Sampling.retireFromShards(s, path,
            d.where(col("doc_id") % 7 === 2).select("doc_id"),
            "doc_id", "text")
          .orderBy("shard")
      },
      Some("""WITH w AS (SELECT doc_id, text, s.s,
             |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
             |    || ':' || s.s), 1, 15)) AS BIGINT) AS wt
             | FROM documents, generate_series(0, 7) AS s(s)
             | WHERE doc_id % 7 <> 2),
             | a AS (SELECT doc_id, text, CAST(s AS INT) AS shard FROM w
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
             |    ORDER BY wt DESC, s) = 1)
             |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
             | CAST(SUM(len(string_split_regex(trim(text), '\s+')))
             |   AS BIGINT) AS n_tokens,
             | CAST(SUM(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
             |   || ':' || text), 1, 12)) AS BIGINT)) AS BIGINT) AS checksum
             |FROM a GROUP BY shard ORDER BY shard""".stripMargin)),

    QueryDef("x164_zorder_retire",
      // retirement on the Z-ordered layout (x103/x144's artifact
      // closes its lifecycle) under the FROZEN-BOUNDS contract: the
      // quantization bounds were computed at build time and deletes
      // never move survivors between Z-range shards (the FAISS
      // remove_ids rule applied to a data layout), so the oracle
      // derives bounds from the FULL corpus and aggregates only the
      // remaining docs. The retired "source" is the FIRST CRAWL
      // (doc_id < 128): its a-dimension values cluster in the low
      // quantization band, so only the low-qa Z-range shards rewrite
      // — the affected-shard prune binding at the query level, which
      // is exactly why a source drop at 100 TB is not a corpus
      // rewrite.
      (s, dir) => {
        val path = "spark-warehouse/x164_zorder"
        val d = docs(s, dir).select(col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(1024)).cast("long").as("a"),
          pmod(size(split(trim(col("text")), "\\s+")), lit(1024))
            .cast("long").as("b"))
        Sampling.zorderShards(d, "a", "b", bits = 8, shards = 16)
          .write.mode("overwrite").partitionBy("shard").parquet(path)
        val tomb = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
        tomb.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(tomb, true)
        Sampling.retireFromShards(s, path,
            d.where(col("doc_id") < 128).select("doc_id"),
            "doc_id", "text")
          .orderBy("shard")
      },
      {
        val interleave = (0 until 8).map { i =>
          s"(((qa >> $i) & 1) << ${2 * i + 1}) + (((qb >> $i) & 1) << ${2 * i})"
        }.mkString(" + ")
        Some(s"""WITH d AS (SELECT doc_id, text,
               |  CAST(doc_id % 1024 AS BIGINT) AS a,
               |  CAST(len(string_split_regex(trim(text), '\\s+')) % 1024
               |    AS BIGINT) AS b FROM documents),
               | r AS (SELECT CAST(MIN(a) AS BIGINT) AS amin,
               |   CAST(MAX(a) AS BIGINT) AS amax,
               |   CAST(MIN(b) AS BIGINT) AS bmin,
               |   CAST(MAX(b) AS BIGINT) AS bmax FROM d),
               | q AS (SELECT doc_id, text,
               |   (a - r.amin) * 255 // GREATEST(1, r.amax - r.amin) AS qa,
               |   (b - r.bmin) * 255 // GREATEST(1, r.bmax - r.bmin) AS qb
               |  FROM d, r),
               | z AS (SELECT doc_id, text, CAST($interleave AS BIGINT) AS z
               |  FROM q),
               | sh AS (SELECT doc_id, text, z // 4096 AS shard FROM z
               |  WHERE doc_id >= 128)
               |SELECT CAST(shard AS BIGINT) AS shard,
               | CAST(COUNT(*) AS BIGINT) AS n_rows,
               | CAST(SUM(len(string_split_regex(trim(text), '\\s+')))
               |   AS BIGINT) AS n_tokens,
               | CAST(SUM(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
               |   || ':' || text), 1, 12)) AS BIGINT)) AS BIGINT) AS checksum
               |FROM sh GROUP BY shard ORDER BY shard""".stripMargin)
      }),

    QueryDef("q61_explode_outer",
      // generator OUTER semantics: a customer whose collected
      // order-priority array is EMPTY keeps a NULL row (plain explode
      // drops it — the LEFT JOIN of the generator world). The oracle
      // is the equivalent left join against the raw orders.
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_custkey"))
        val o = t(s, dir, "orders")
          .groupBy(col("o_custkey").as("c_custkey"))
          .agg(sort_array(collect_list(col("o_orderpriority")))
            .as("prios"))
        c.join(o, Seq("c_custkey"), "left")
          .select(col("c_custkey"),
            explode_outer(col("prios")).as("prio"))
          .orderBy(col("c_custkey"), col("prio"))
      },
      Some("""SELECT c.c_custkey, o.o_orderpriority AS prio
             |FROM customer c LEFT JOIN orders o
             |  ON o.o_custkey = c.c_custkey
             |ORDER BY c.c_custkey, prio NULLS FIRST""".stripMargin)),

    QueryDef("q62_attribution_capped",
      // multi-touch attribution with the HOT-USER VALVE binding
      // (r11 verdict's named scale-killer: the unvalved user join is
      // the full conv×touch fan-out on a skewed key): each conversion
      // keeps only its latest 3 in-window clicks — TopKPerGroup's
      // bounded heap, map-side-combined BEFORE the credit windows —
      // and positions/n_touches/credits are computed ON the capped
      // set. At sf0.01 the cap binds for ~1/3 of conversions (max
      // fan-out 10), so this query exercises the valve, not the
      // degenerate pass-through (that case is spec-pinned instead).
      // Oracle caps via QUALIFY row_number() DESC — the latest-N
      // contract written in SQL.
      (s, dir) => EventStreams.multiTouchAttribution(
          EventStreams.readEvents(s, dir), "click", "purchase",
          7L * 24 * 3600 * 1000, maxTouches = 3)
        .orderBy(col("conv_id"), coalesce(col("position"), lit(0L))),
      Some("""WITH t AS (SELECT user_id, ts, MAX(event_id) AS touch_id
             |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
             | c AS (SELECT user_id, ts AS conv_ts, event_id AS conv_id
             |  FROM events WHERE event_type = 'purchase'),
             | iw0 AS (SELECT c.conv_id, c.conv_ts, t.ts AS touch_ts,
             |   t.touch_id
             |  FROM c JOIN t ON t.user_id = c.user_id
             |   AND t.ts <= c.conv_ts
             |   AND epoch_ms(c.conv_ts) - epoch_ms(t.ts) <= 604800000),
             | iw AS (SELECT * FROM iw0
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY conv_id
             |   ORDER BY touch_ts DESC, touch_id DESC) <= 3),
             | p AS (SELECT *,
             |   CAST(ROW_NUMBER() OVER (PARTITION BY conv_id
             |     ORDER BY touch_ts, touch_id) AS BIGINT) AS position,
             |   CAST(COUNT(*) OVER (PARTITION BY conv_id) AS BIGINT)
             |     AS n_touches FROM iw),
             | cr AS (SELECT *,
             |   CAST(1000000 // n_touches + CASE WHEN position <=
             |     1000000 % n_touches THEN 1 ELSE 0 END AS BIGINT)
             |    AS credit_linear_ppm,
             |   CAST(CASE WHEN n_touches = 1 THEN 1000000
             |    WHEN n_touches = 2 THEN 500000
             |    WHEN position = 1 OR position = n_touches THEN 400000
             |    ELSE 200000 // (n_touches - 2) +
             |     CASE WHEN position - 1 <= 200000 % (n_touches - 2)
             |      THEN 1 ELSE 0 END END AS BIGINT)
             |    AS credit_position_ppm,
             |   CAST(CASE WHEN position = n_touches THEN 1000000
             |    ELSE 0 END AS BIGINT) AS credit_last_ppm FROM p)
             |SELECT c.conv_id, c.user_id, c.conv_ts, cr.touch_id,
             | cr.touch_ts, cr.position,
             | COALESCE(cr.n_touches, 0) AS n_touches,
             | cr.credit_linear_ppm, cr.credit_position_ppm,
             | cr.credit_last_ppm
             |FROM c LEFT JOIN cr ON cr.conv_id = c.conv_id
             |ORDER BY c.conv_id, COALESCE(cr.position, 0)""".stripMargin)),

    QueryDef("x153_kcenter_seeds",
      // farthest-first traversal (greedy k-center): the deterministic
      // diverse-exemplar selector — seed 1 = min id, each later seed
      // maximizes its min exact-L2 distance to the seeds so far
      // ((min_d2 DESC, id ASC) total order). The covering-radius
      // ladder in min_d2 is the "how spread is this corpus" card; the
      // seeds are a diversity-aware kmeans init / curation exemplars.
      (s, dir) => Clustering.kcenterSeeds(t(s, dir, "embeddings"), k = 5)
        .orderBy("seed_rank"),
      Some(kcenterSql(5))),

    QueryDef("x155_hybrid_diversified",
      // the retrieval stack as ONE dataflow (the x57 composed-recipe
      // proof applied to serving): repetition-gate the corpus (x149's
      // verdict) AND restrict to embeddable docs (MMR can only
      // diversify what it can embed — at sf0.1 the embeddings table
      // covers a doc subset, and a candidate without a vector would
      // strand the greedy), index only the survivors, BM25-rank the
      // query terms (x131's integer formula — stats re-derived from
      // the gated slice), then diversify the top-20 with
      // embedding-MMR (x151's greedy; relevance enters as
      // d2 := −score_micro — λ trades the two units, the published
      // MMR contract). Every stage exact integers, so the COMPOSITION
      // hash-matches end to end.
      (s, dir) => {
        val d = docs(s, dir)
        val gate = TextOps.repetitionCard(d).where(col("passes"))
          .select("doc_id")
          .join(t(s, dir, "embeddings")
            .select(col("vec_id").as("doc_id")), Seq("doc_id"))
        TextOps.writeInvertedIndex(d.join(gate, Seq("doc_id")), "x155_idx")
        val bm = TextOps.searchIndexBm25(s, "x155_idx",
          Seq("data", "hash", "batch"), k = 20)
        val cand = bm.select(lit(0L).as("query_id"),
          col("doc_id").as("neighbor_id"),
          (-col("score_micro")).as("d2"))
        Similarity.mmrRerankCandidates(t(s, dir, "embeddings"), cand,
            k = 5, lambdaPpt = 700L)
          .select(col("neighbor_id").as("doc_id"),
            (-col("d2")).as("bm25_micro"), col("mmr_rank"))
          .orderBy("mmr_rank")
      },
      Some(hybridDiversifiedSql(5, 20, 700L))),

    QueryDef("x138_index_stream",
      // streaming ingestion for the inverted index (r10 verdict #3 —
      // the third application of the probe/append streaming pattern):
      // the corpus indexes WITHOUT every 5th doc, the held-out slice
      // lands as a real file-source STREAM (maxFilesPerTrigger=1 →
      // multiple micro-batches, fully distributed — no driver
      // collect), each micro-batch folds in via the epoch-gated
      // ingestIndexBatch (batch-sized tokenize + bucket-tagged
      // append; a checkpoint-restart replay applies exactly once),
      // and BM25 search after the stream equals the oracle's
      // from-scratch full-corpus derivation — stream == rebuild.
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"),
          col("text"))
        TextOps.writeInvertedIndex(
          d.where(col("doc_id") % 5 =!= 0), "x138_idx")
        val held = d.where(col("doc_id") % 5 === 0)
        val fs = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"))
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val src = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "x138_stream_src")
        val ckpt = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "x138_stream_ckpt")
        fs.delete(src, true); fs.delete(ckpt, true)
        held.repartition(2).write.parquet(src.toString)
        val stream = s.readStream.schema(held.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
        val q = TextOps.streamingIndexIngest("x138_idx", stream,
          checkpointDir = Some(ckpt.toString))
        try { q.processAllAvailable() } finally q.stop()
        TextOps.searchIndexBm25(s, "x138_idx",
          Seq("data", "hash", "batch"), k = 25)
      },
      Some("""WITH tok AS (SELECT doc_id,
             |  unnest(string_split_regex(trim(text), '\s+')) AS term
             |  FROM documents),
             | tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
             | p AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
             |  FROM tok2 GROUP BY 1, 2),
             | d AS (SELECT term, CAST(count(*) AS BIGINT) AS df
             |  FROM p GROUP BY 1),
             | dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
             |  FROM p GROUP BY 1),
             | st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |   CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
             | av AS (SELECT n_docs,
             |   GREATEST(total_len // GREATEST(n_docs, 1), 1) AS avgdl
             |  FROM st),
             | sc AS (SELECT p.doc_id,
             |   CAST(SUM(
             |     (CAST((av.n_docs - d.df) * 1000000 // d.df AS HUGEINT)
             |       * (22 * p.tf * av.avgdl))
             |     // (10 * av.avgdl * p.tf + 3 * av.avgdl + 9 * dl.dl))
             |    AS BIGINT) AS score_micro,
             |   count(*) AS n_terms
             |  FROM p JOIN d USING (term) JOIN dl USING (doc_id), av
             |  WHERE term IN ('data', 'hash', 'batch')
             |  GROUP BY 1)
             |SELECT doc_id, score_micro, n_terms FROM sc
             |ORDER BY score_micro DESC, doc_id LIMIT 25""".stripMargin)),

    QueryDef("x132_url_canon",
      // URL canonicalization + canonical-URL dedup — the crawl-dedup
      // normalizer that collapses scheme/www/port/fragment/tracking-
      // param variants of the same page before any content dedup
      // runs. URLs are synthesized closed-form from doc_id (the
      // multimodal oracle trick on strings), canonicalized by the
      // documented regex+HOF chain (map-only, Java∩RE2 subset), and
      // deduped exactly on the canonical form. The oracle re-derives
      // synthesis, every canonicalization step, and the min-id
      // canonical assignment.
      (s, dir) => {
        val urls = docs(s, dir).select(col("doc_id"),
          concat(
            element_at(array(lit("http://"), lit("https://"),
              lit("HTTPS://")), (pmod(col("doc_id"), lit(3)) + 1).cast("int")),
            when(pmod(col("doc_id"), lit(2)) === 0, lit("www."))
              .otherwise(lit("")),
            lit("Site"), pmod(col("doc_id"), lit(50)).cast("string"),
            lit(".Example.com"),
            when(pmod(col("doc_id"), lit(7)) === 0, lit(":443"))
              .otherwise(lit("")),
            lit("/P/"), pmod(col("doc_id"), lit(200)).cast("string"),
            when(pmod(col("doc_id"), lit(2)) === 1, lit("/"))
              .otherwise(lit("")),
            lit("?utm_source=x&page="),
            pmod(col("doc_id"), lit(10)).cast("string"),
            when(pmod(col("doc_id"), lit(5)) === 0, lit("&utm_medium=y"))
              .otherwise(lit("")),
            lit("#frag"), col("doc_id").cast("string")).as("url"))
        val canon = TextOps.canonicalUrls(urls, "doc_id", "url")
        canon.join(Dedup.exact(canon, "doc_id", "url_canon"), Seq("doc_id"))
          .select("doc_id", "host", "url_canon", "canonical_id",
            "is_duplicate")
          .orderBy("doc_id")
      },
      Some("""WITH u AS (SELECT doc_id,
             |   (CASE doc_id % 3 WHEN 0 THEN 'http://'
             |     WHEN 1 THEN 'https://' ELSE 'HTTPS://' END)
             |   || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
             |   || 'Site' || (doc_id % 50) || '.Example.com'
             |   || (CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END)
             |   || '/P/' || (doc_id % 200)
             |   || (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END)
             |   || '?utm_source=x&page=' || (doc_id % 10)
             |   || (CASE WHEN doc_id % 5 = 0 THEN '&utm_medium=y' ELSE '' END)
             |   || '#frag' || doc_id AS url
             |  FROM documents),
             | s1 AS (SELECT doc_id, regexp_replace(regexp_replace(
             |   trim(url), '#.*', ''), '(?i)^https?://', '') AS v FROM u),
             | s2 AS (SELECT doc_id, v,
             |   regexp_extract(v, '^([^/?#]*)', 1) AS host0 FROM s1),
             | s3 AS (SELECT doc_id,
             |   regexp_replace(regexp_replace(lower(host0), '^www\.', ''),
             |     ':(80|443)$', '') AS host,
             |   substr(v, length(host0) + 1) AS rest FROM s2),
             | s4 AS (SELECT doc_id, host,
             |   CASE WHEN strpos(rest, '?') = 0 THEN rest
             |    ELSE substr(rest, 1, strpos(rest, '?') - 1) END AS path0,
             |   CASE WHEN strpos(rest, '?') = 0 THEN ''
             |    ELSE substr(rest, strpos(rest, '?') + 1) END AS q FROM s3),
             | s5 AS (SELECT doc_id, host,
             |   regexp_replace(path0, '/+$', '') AS path,
             |   list_filter(string_split(q, '&'),
             |     p -> p <> '' AND NOT starts_with(p, 'utm_')) AS params
             |  FROM s4),
             | c AS (SELECT doc_id, host,
             |   host || path || (CASE WHEN len(params) > 0
             |     THEN '?' || array_to_string(params, '&') ELSE '' END)
             |   AS url_canon FROM s5),
             | x AS (SELECT doc_id, host, url_canon,
             |   MIN(doc_id) OVER (PARTITION BY url_canon) AS canonical_id
             |  FROM c)
             |SELECT doc_id, host, url_canon, canonical_id,
             | canonical_id <> doc_id AS is_duplicate
             |FROM x ORDER BY doc_id""".stripMargin)),

    QueryDef("x133_aiff_audio",
      // REAL audio decode through a HAND-ROLLED AIFF container — the
      // eighth real container family, and the audio sibling of the
      // BMP/TIFF writer-vs-JDK-parser pins: our byte-level IFF writer
      // (FORM/COMM with an 80-bit extended-float sample rate, SSND of
      // BIG-endian PCM16) is parsed back by the actual javax.sound
      // AIFF reader and byte-swap converter inside the unchanged
      // decodeAudio path. Samples follow x39's closed form, so the
      // no-codec oracle re-derives every decoded value.
      (s, dir) => {
        val media = Multimodal.synthesizeAiff(
          docs(s, dir).select("doc_id"), "doc_id", 400, 8000)
        Multimodal.decodeAudio(media, 16)
          .where(col("decode_ok"))
          .select(col("media_id"),
            col("sample_rate").cast("long").as("sample_rate"),
            col("n_samples"), col("sum_q"),
            posexplode(col("hist")).as(Seq("bucket", "cnt")))
          .where(col("cnt") > 0)
          .select(col("media_id"), col("sample_rate"), col("n_samples"),
            col("sum_q"), col("bucket").cast("long").as("bucket"), col("cnt"))
          .orderBy("media_id", "bucket")
      },
      Some("""WITH smp AS (SELECT d.doc_id,
             |   ((d.doc_id*31 + i.i*7) % 65536) - 32768 AS s
             |  FROM (SELECT doc_id FROM documents) d,
             |       generate_series(0, 399) i(i)),
             | agg AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS sum_q
             |  FROM smp GROUP BY 1),
             | b AS (SELECT doc_id, (s + 32768) % 16 AS bucket FROM smp)
             |SELECT b.doc_id AS media_id, CAST(8000 AS BIGINT) AS sample_rate,
             | CAST(400 AS BIGINT) AS n_samples, a.sum_q AS sum_q,
             | CAST(b.bucket AS BIGINT) AS bucket, COUNT(*) AS cnt
             |FROM b JOIN agg a ON a.doc_id = b.doc_id
             |GROUP BY 1, 2, 3, 4, 5
             |ORDER BY media_id, bucket""".stripMargin)),

    QueryDef("x134_expectations",
      // data-quality expectations card — the machine-checkable ingest
      // contract (the Great-Expectations shape): five named rules over
      // lineitem evaluate map-side into ONE hash-aggregate row, then
      // stack to long form; NULL rule results count as failures
      // (three-valued logic made explicit). Integer pass/fail counts
      // + ppm rates, so two ingest days' cards diff meaningfully.
      (s, dir) => ext.Profiling.expectationsCard(t(s, dir, "lineitem"), Seq(
          "qty_positive" -> (col("l_quantity") > 0),
          "discount_range" -> (col("l_discount") >= 0.0 &&
            col("l_discount") <= 0.1),
          "ship_in_era" -> (col("l_shipdate") >= lit("1992-01-01") &&
            col("l_shipdate") < lit("1999-01-01")),
          "qty_le_50" -> (col("l_quantity") <= 50),
          "flag_domain" -> col("l_returnflag").isin("A", "N", "R")))
        .orderBy("rule_idx"),
      Some("""WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(COUNT(*) FILTER (WHERE COALESCE(l_quantity > 0, FALSE))
             |    AS BIGINT) AS p0,
             |  CAST(COUNT(*) FILTER (WHERE COALESCE(l_discount >= 0.0
             |    AND l_discount <= 0.1, FALSE)) AS BIGINT) AS p1,
             |  CAST(COUNT(*) FILTER (WHERE COALESCE(
             |    l_shipdate >= TIMESTAMP '1992-01-01'
             |    AND l_shipdate < TIMESTAMP '1999-01-01', FALSE))
             |    AS BIGINT) AS p2,
             |  CAST(COUNT(*) FILTER (WHERE COALESCE(l_quantity <= 50,
             |    FALSE)) AS BIGINT) AS p3,
             |  CAST(COUNT(*) FILTER (WHERE COALESCE(l_returnflag IN
             |    ('A','N','R'), FALSE)) AS BIGINT) AS p4
             | FROM lineitem),
             | rules(rule_idx, rule) AS (VALUES
             |  (CAST(0 AS BIGINT), 'qty_positive'),
             |  (CAST(1 AS BIGINT), 'discount_range'),
             |  (CAST(2 AS BIGINT), 'ship_in_era'),
             |  (CAST(3 AS BIGINT), 'qty_le_50'),
             |  (CAST(4 AS BIGINT), 'flag_domain'))
             |SELECT rule_idx, rule, n_rows,
             | CASE rule_idx WHEN 0 THEN p0 WHEN 1 THEN p1 WHEN 2 THEN p2
             |  WHEN 3 THEN p3 ELSE p4 END AS n_pass,
             | n_rows - (CASE rule_idx WHEN 0 THEN p0 WHEN 1 THEN p1
             |  WHEN 2 THEN p2 WHEN 3 THEN p3 ELSE p4 END) AS n_fail,
             | (CASE rule_idx WHEN 0 THEN p0 WHEN 1 THEN p1 WHEN 2 THEN p2
             |  WHEN 3 THEN p3 ELSE p4 END) * 1000000
             |   // GREATEST(n_rows, 1) AS pass_ppm
             |FROM rules, n ORDER BY rule_idx""".stripMargin)),

    QueryDef("x141_expectations_stream",
      // the expectations card as a STREAMING gate (r10 verdict #8):
      // each micro-batch evaluates the same five rules into a tiny
      // MERGEABLE state row set (counts are algebraic — the x63
      // profileState economics on the data contract), and the live
      // verdict is one state-sized aggregation. Here three disjoint
      // hash slices of lineitem play the micro-batches (StreamingSpec
      // pins the actual foreachBatch loop == batch); the merged card
      // must equal the from-raw single-pass oracle over the whole
      // table — merge == rescan, so the gate never re-reads history.
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val rules = Seq(
          "qty_positive" -> (col("l_quantity") > 0),
          "discount_range" -> (col("l_discount") >= 0.0 &&
            col("l_discount") <= 0.1),
          "ship_in_era" -> (col("l_shipdate") >= lit("1992-01-01") &&
            col("l_shipdate") < lit("1999-01-01")),
          "qty_le_50" -> (col("l_quantity") <= 50),
          "flag_domain" -> col("l_returnflag").isin("A", "N", "R"))
        val states = (0 until 3).map(i => ext.Profiling.expectationsState(
          li.where(pmod(xxhash64(col("l_orderkey"), col("l_linenumber")),
            lit(3)) === i), rules))
        ext.Profiling.mergeExpectations(states.reduce(_ unionAll _))
          .orderBy("rule_idx")
      },
      Some("""WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(COUNT(*) FILTER (WHERE COALESCE(l_quantity > 0, FALSE))
             |    AS BIGINT) AS p0,
             |  CAST(COUNT(*) FILTER (WHERE COALESCE(l_discount >= 0.0
             |    AND l_discount <= 0.1, FALSE)) AS BIGINT) AS p1,
             |  CAST(COUNT(*) FILTER (WHERE COALESCE(
             |    l_shipdate >= TIMESTAMP '1992-01-01'
             |    AND l_shipdate < TIMESTAMP '1999-01-01', FALSE))
             |    AS BIGINT) AS p2,
             |  CAST(COUNT(*) FILTER (WHERE COALESCE(l_quantity <= 50,
             |    FALSE)) AS BIGINT) AS p3,
             |  CAST(COUNT(*) FILTER (WHERE COALESCE(l_returnflag IN
             |    ('A','N','R'), FALSE)) AS BIGINT) AS p4
             | FROM lineitem),
             | rules(rule_idx, rule) AS (VALUES
             |  (CAST(0 AS BIGINT), 'qty_positive'),
             |  (CAST(1 AS BIGINT), 'discount_range'),
             |  (CAST(2 AS BIGINT), 'ship_in_era'),
             |  (CAST(3 AS BIGINT), 'qty_le_50'),
             |  (CAST(4 AS BIGINT), 'flag_domain'))
             |SELECT rule_idx, rule, n_rows,
             | CASE rule_idx WHEN 0 THEN p0 WHEN 1 THEN p1 WHEN 2 THEN p2
             |  WHEN 3 THEN p3 ELSE p4 END AS n_pass,
             | n_rows - (CASE rule_idx WHEN 0 THEN p0 WHEN 1 THEN p1
             |  WHEN 2 THEN p2 WHEN 3 THEN p3 ELSE p4 END) AS n_fail,
             | (CASE rule_idx WHEN 0 THEN p0 WHEN 1 THEN p1 WHEN 2 THEN p2
             |  WHEN 3 THEN p3 ELSE p4 END) * 1000000
             |   // GREATEST(n_rows, 1) AS pass_ppm
             |FROM rules, n ORDER BY rule_idx""".stripMargin)),

    QueryDef("g66_edge_card",
      // edge-structure audit card: multiplicity, self-loops,
      // reciprocity, and the exact integer Pearson moments of degree
      // assortativity over the whole star graph — the one-row "what
      // kind of graph is this" datasheet that decides partition/salt
      // strategy at 100 TB (hub-attracts-hub vs hub-attracts-leaf).
      // All BIGINT; one distinct + two degree joins; every aggregate
      // is a 1-row broadcast.
      (s, dir) => LinkAnalysis.edgeStructureCard(
        graph(s, dir).edges.select("src", "dst")),
      Some(s"""$W,
              |e AS (SELECT source_layer || ':' || source_id AS s,
              |  target_layer || ':' || target_id AS d FROM edges),
              |dd AS (SELECT DISTINCT s, d FROM e),
              |ns AS (SELECT * FROM dd WHERE s <> d),
              |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM
              |  (SELECT DISTINCT v, u FROM (SELECT s AS v, d AS u FROM ns
              |    UNION ALL SELECT d, s FROM ns)) GROUP BY v),
              |base AS (SELECT
              |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edge_rows,
              |  (SELECT CAST(COUNT(*) AS BIGINT) FROM dd) AS n_distinct,
              |  (SELECT CAST(COUNT(*) AS BIGINT) FROM dd WHERE s = d)
              |    AS self_loops,
              |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ns a
              |    WHERE EXISTS (SELECT 1 FROM ns b
              |      WHERE b.s = a.d AND b.d = a.s)) AS n_reciprocal),
              |mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_assort_edges,
              |  CAST(SUM(dx.deg) AS BIGINT) AS sum_x,
              |  CAST(SUM(dy.deg) AS BIGINT) AS sum_y,
              |  CAST(CAST(SUM(dx.deg * dx.deg) AS DECIMAL(38,0))
              |    AS VARCHAR) AS sum_xx,
              |  CAST(CAST(SUM(dy.deg * dy.deg) AS DECIMAL(38,0))
              |    AS VARCHAR) AS sum_yy,
              |  CAST(CAST(SUM(dx.deg * dy.deg) AS DECIMAL(38,0))
              |    AS VARCHAR) AS sum_xy
              | FROM ns JOIN deg dx ON dx.v = ns.s JOIN deg dy ON dy.v = ns.d)
              |SELECT n_edge_rows, n_distinct, self_loops, n_reciprocal,
              | n_reciprocal * 1000000 // GREATEST(n_distinct - self_loops, 1)
              |   AS reciprocity_ppm,
              | n_assort_edges, sum_x, sum_y, sum_xx, sum_yy, sum_xy
              |FROM base, mom""".stripMargin)),

    QueryDef("x119_heaps_curve",
      // Heaps-law vocabulary-growth curve: cumulative distinct terms
      // vs cumulative tokens at 10 doc-id checkpoints — the "will
      // vocabulary saturate at 10x the data?" scaling card. Prefix-
      // distinct WITHOUT prefix rescans: each term contributes its
      // FIRST checkpoint (min over an 8-byte hash, one shuffle); the
      // cumulative window touches <= 10 rows.
      (s, dir) => TextOps.heapsCurve(docs(s, dir), buckets = 10)
        .orderBy("checkpoint"),
      Some("""WITH mx AS (SELECT MAX(doc_id) // 10 + 1 AS span
             |  FROM documents),
             | tok AS (SELECT CAST(doc_id // span AS INT) AS b,
             |   unnest(string_split_regex(trim(text), '\s+')) AS w
             |  FROM documents, mx),
             | t2 AS (SELECT b, w FROM tok WHERE w <> ''),
             | tb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS toks
             |  FROM t2 GROUP BY b),
             | nb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS new_terms
             |  FROM (SELECT w, MIN(b) AS b FROM t2 GROUP BY w) GROUP BY b),
             | j AS (SELECT COALESCE(tb.b, nb.b) AS b,
             |   COALESCE(toks, 0) AS toks,
             |   COALESCE(new_terms, 0) AS new_terms
             |  FROM tb FULL OUTER JOIN nb ON tb.b = nb.b),
             | c AS (SELECT CAST(b AS BIGINT) AS checkpoint,
             |   CAST(SUM(toks) OVER (ORDER BY b
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |     AS BIGINT) AS cum_tokens,
             |   CAST(SUM(new_terms) OVER (ORDER BY b
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |     AS BIGINT) AS cum_vocab
             |  FROM j)
             |SELECT checkpoint, cum_tokens, cum_vocab,
             | CAST(cum_vocab * 1000000 // GREATEST(cum_tokens, 1)
             |   AS BIGINT) AS vocab_per_mtok
             |FROM c ORDER BY checkpoint""".stripMargin)),

    QueryDef("x120_zipf_card",
      // Zipf rank-frequency card: term frequency at probe ranks 1, 2,
      // 4, ..., 4096 plus rank*freq (constant under ideal Zipf). The
      // rank axis never ranks the vocabulary — freq(r) reads off the
      // tiny counts-of-counts table via a cumulative-block range join,
      // so the only corpus-sized work is the hashed term-frequency agg.
      (s, dir) => TextOps.zipfCard(docs(s, dir), maxLogRank = 12),
      Some("""WITH tok AS (SELECT
             |   unnest(string_split_regex(trim(text), '\s+')) AS w
             |  FROM documents),
             | tf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok
             |  WHERE w <> '' GROUP BY w),
             | fof AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_terms
             |  FROM tf GROUP BY c),
             | cum AS (SELECT c,
             |   CAST(SUM(n_terms) OVER (ORDER BY c DESC
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |     AS BIGINT) AS cum_terms,
             |   CAST(SUM(n_terms) OVER (ORDER BY c DESC
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |     - n_terms AS BIGINT) AS cum_before
             |  FROM fof),
             | r AS (SELECT CAST(1 AS BIGINT) << i AS rank
             |  FROM generate_series(0, 12) g(i))
             |SELECT r.rank, cum.c AS freq,
             | CAST(r.rank * cum.c AS BIGINT) AS rank_x_freq
             |FROM r JOIN cum
             |  ON r.rank > cum.cum_before AND r.rank <= cum.cum_terms
             |ORDER BY rank""".stripMargin)),

    QueryDef("x121_audio_activity",
      // per-clip audio QA card through the REAL javax.sound decode:
      // silent-window count (dead air), clipped-sample count (gain
      // damage), peak and total level — the capture-quality gates an
      // audio ingest applies before training. Map-only decode, all-
      // integer outputs, so the closed-form PCM clips hash-match the
      // no-codec oracle.
      (s, dir) => Multimodal.audioActivityCard(
          Multimodal.synthesizeWav(docs(s, dir).select("doc_id"),
            "doc_id", nSamples = 64),
          windows = 8, silenceDiv = 4L, clipMag = 32700)
        .where(col("decode_ok"))
        .select(col("media_id"), col("n_samples"), col("silent_windows"),
          col("clipped"), col("peak"), col("total_abs"))
        .orderBy("media_id"),
      Some("""WITH s AS (SELECT doc_id, i.i,
             |   (doc_id*31 + i.i*7) % 65536 - 32768 AS v
             |  FROM documents, generate_series(0, 63) i(i)),
             | e AS (SELECT doc_id, i // 8 AS w,
             |   CAST(SUM(ABS(v)) AS BIGINT) AS en,
             |   CAST(SUM(CASE WHEN ABS(v) >= 32700 THEN 1 ELSE 0 END)
             |     AS BIGINT) AS cl,
             |   CAST(MAX(ABS(v)) AS BIGINT) AS pk
             |  FROM s GROUP BY 1, 2),
             | t AS (SELECT doc_id, CAST(SUM(en) AS BIGINT) AS total,
             |   CAST(SUM(cl) AS BIGINT) AS clipped,
             |   CAST(MAX(pk) AS BIGINT) AS peak FROM e GROUP BY 1),
             | sw AS (SELECT e.doc_id,
             |   CAST(SUM(CASE WHEN e.en * 8 * 4 < t.total THEN 1 ELSE 0
             |     END) AS BIGINT) AS silent
             |  FROM e JOIN t USING (doc_id) GROUP BY 1)
             |SELECT t.doc_id AS media_id, CAST(64 AS BIGINT) AS n_samples,
             | sw.silent AS silent_windows, t.clipped, t.peak,
             | t.total AS total_abs
             |FROM t JOIN sw USING (doc_id) ORDER BY media_id""".stripMargin)),

    QueryDef("x122_shot_boundaries",
      // shot-boundary detection: consecutive-frame aHash Hamming
      // distance over a 4-frame PNG-in-AVI clip per doc, cut where
      // distance >= 6 — the video-curation cut detector that picks
      // one representative frame per shot. Frames decode through the
      // REAL ImageIO path; the lag window is per-clip (bounded
      // groups); xor + bit_count is codegen'd column math. Lossless
      // frames keep every distance oracle-re-derivable.
      (s, dir) => {
        val media = Multimodal.synthesizeAvi(
          docs(s, dir).select("doc_id"), "doc_id", 8, 6,
          nFrames = 4, codec = "png")
        Multimodal.shotBoundaries(
            Multimodal.videoFrameHashes(media, grid = 4), cutAt = 6)
          .select(col("media_id"), col("frame_idx"), col("hamming"),
            col("is_cut").cast("long").as("is_cut"))
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH px AS (SELECT doc_id, f.f, x.x, y.y
             |  FROM documents, (SELECT UNNEST([0, 1, 2, 3]) AS f) f,
             |       generate_series(0, 7) x(x), generate_series(0, 5) y(y)),
             | g AS (SELECT doc_id, f,
             |   ((doc_id*31 + f*29 + x*7 + y*13) % 256
             |    + (doc_id*17 + f*41 + x*11 + y*3) % 256
             |    + (doc_id*23 + f*37 + x*5 + y*19) % 256) // 3 AS gray,
             |   CAST(x // 2 AS INT) AS bi,
             |   CAST(LEAST(y*4 // 6, 3) AS INT) AS bj
             |  FROM px),
             | bm AS (SELECT doc_id, f, bi, bj,
             |   CAST(SUM(gray) // COUNT(*) AS BIGINT) AS m
             |  FROM g GROUP BY 1, 2, 3, 4),
             | th AS (SELECT doc_id, f, CAST(SUM(m) // 16 AS BIGINT) AS thr
             |  FROM bm GROUP BY 1, 2),
             | fh AS (SELECT bm.doc_id, bm.f, CAST(SUM(CASE WHEN m > thr
             |    THEN CAST(1 AS BIGINT) << (bj*4 + bi) ELSE 0 END)
             |    AS BIGINT) AS fhash
             |  FROM bm JOIN th ON th.doc_id = bm.doc_id AND th.f = bm.f
             |  GROUP BY 1, 2),
             | lg AS (SELECT doc_id, f, fhash,
             |   LAG(fhash) OVER (PARTITION BY doc_id ORDER BY f) AS prev
             |  FROM fh)
             |SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
             | CAST(bit_count(xor(fhash, prev)) AS BIGINT) AS hamming,
             | CAST(CASE WHEN bit_count(xor(fhash, prev)) >= 6
             |   THEN 1 ELSE 0 END AS BIGINT) AS is_cut
             |FROM lg WHERE prev IS NOT NULL
             |ORDER BY media_id, frame_idx""".stripMargin)),

    QueryDef("x124_dominant_direction",
      // leading principal direction by power iteration on the EXACT
      // integer Gram matrix of centered quantized embeddings: each
      // vector's raw signed projection onto the corpus's top variance
      // axis — the whitening diagnostic next to x114's drift card.
      // Centering without division (y = n*q - S), Gram in
      // DECIMAL(38,0) through one map-side-combinable posexplode^2
      // pass, 6 power steps driver-side in BigInt (dims^2 collect —
      // bounded by construction), projection as one broadcast join.
      (s, dir) => Clustering.dominantDirectionCard(
          t(s, dir, "embeddings"), rounds = 6)
        .orderBy("vec_id"),
      Some(dominantDirSql(6))),

    QueryDef("x125_k_anonymity",
      // k-anonymity audit over the (lang, source, length-bucket)
      // generalization ladder: per prefix level, equivalence groups,
      // groups under k=10, and the ppm of rows sitting in them — the
      // re-identification card a dataset release publishes. The whole
      // ladder is ONE rollup pass (grouping-sets machinery — no
      // per-level re-scan) + a levels-sized re-aggregation.
      (s, dir) => ext.Profiling.kAnonymityAudit(
          docs(s, dir).withColumn("len_bucket", expr("n_chars DIV 50")),
          Seq("lang", "source", "len_bucket"), k = 10L)
        .orderBy("level"),
      Some("""WITH base AS (SELECT lang, source, n_chars // 50 AS len_bucket
             |  FROM documents),
             | g AS (SELECT lang, source, len_bucket,
             |   CAST(COUNT(*) AS BIGINT) AS n,
             |   CAST(3 - GROUPING(lang) - GROUPING(source)
             |     - GROUPING(len_bucket) AS INT) AS level
             |  FROM base GROUP BY ROLLUP (lang, source, len_bucket)),
             | t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM base)
             |SELECT level, CAST(COUNT(*) AS BIGINT) AS n_groups,
             | CAST(SUM(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
             |   AS risky_groups,
             | CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
             |   AS rows_at_risk,
             | CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) * 1000000
             |   // t.total AS BIGINT) AS risk_ppm
             |FROM g, t GROUP BY level, t.total
             |ORDER BY level""".stripMargin)),

    QueryDef("x127_unimax_budget",
      // UNIMAX allocation (Chung et al. 2023): split a 2x-corpus char
      // budget across languages so no language repeats past 3 epochs
      // and the rest waterfills uniformly — the repetition-minimizing
      // alternative to temperature mixing for heavy-tailed language
      // mixes. ONE grouped sum feeds a languages-sized waterfill; the
      // oracle replays the ascending sweep as a recursive CTE. At
      // this mix the smallest language epoch-caps and the other four
      // waterfill (both branches exercised).
      (s, dir) => {
        val d = docs(s, dir)
        val total = d.agg(sum("n_chars").cast("long")).head.getLong(0)
        Sampling.unimaxBudgets(d, "lang", "n_chars",
            totalBudget = 2 * total, maxEpochs = 3)
          .orderBy("lang")
      },
      Some("""WITH RECURSIVE c AS (SELECT lang AS g,
             |   CAST(SUM(n_chars) AS BIGINT) AS c
             |  FROM documents GROUP BY 1),
             | l AS (SELECT g, c,
             |   CAST(ROW_NUMBER() OVER (ORDER BY c, g) AS BIGINT) AS rk
             |  FROM c),
             | ln AS (SELECT CAST(COUNT(*) AS BIGINT) AS L FROM l),
             | tot AS (SELECT CAST(2 * SUM(n_chars) AS BIGINT) AS B
             |  FROM documents),
             | a(rk, b, rem) AS (
             |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), t.B FROM tot t
             |  UNION ALL
             |  SELECT a.rk + 1,
             |    LEAST(l.c * 3, a.rem // (ln.L - a.rk)),
             |    a.rem - LEAST(l.c * 3, a.rem // (ln.L - a.rk))
             |  FROM a, l, ln WHERE l.rk = a.rk + 1 AND a.rk < ln.L)
             |SELECT l.g AS lang, l.c AS n_units, a.b AS budget_units,
             | CAST(a.b * 1000000 // l.c AS BIGINT) AS epochs_ppm
             |FROM a JOIN l ON l.rk = a.rk ORDER BY lang""".stripMargin)),

    QueryDef("x128_unimax_cut",
      // the x127 allocation APPLIED: languages receive their UNIMAX
      // budgets (half-corpus char total, 2-epoch cap — every language
      // waterfills below its size here, so every group genuinely
      // cuts) and each keeps its best docs while its running total
      // fits its budget — the end-to-end multilingual mix as one
      // plan: grouped sum -> languages-sized waterfill -> the x74
      // histogram-verdict cut (no global sort; only boundary strata
      // ever see a per-doc window).
      (s, dir) => {
        val scored = docs(s, dir).select(col("doc_id"), col("lang"),
          expr("n_chars DIV 50").as("score"),
          col("n_chars").cast("long").as("n_chars"))
        val total = scored.agg(sum("n_chars").cast("long")).head.getLong(0)
        val budgets = Sampling.unimaxBudgets(scored, "lang", "n_chars",
            totalBudget = total / 2, maxEpochs = 2)
          .select(col("lang"), col("budget_units").as("budget"))
        Sampling.selectByBudgetByGroup(scored, "lang", "doc_id",
            "score", "n_chars", budgets)
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE s AS (SELECT doc_id, lang,
             |   CAST(n_chars // 50 AS BIGINT) AS score,
             |   CAST(n_chars AS BIGINT) AS n_chars
             |  FROM documents),
             | c AS (SELECT lang AS g, CAST(SUM(n_chars) AS BIGINT) AS c
             |  FROM s GROUP BY 1),
             | l AS (SELECT g, c,
             |   CAST(ROW_NUMBER() OVER (ORDER BY c, g) AS BIGINT) AS rk
             |  FROM c),
             | ln AS (SELECT CAST(COUNT(*) AS BIGINT) AS L FROM l),
             | tot AS (SELECT CAST(SUM(n_chars) // 2 AS BIGINT) AS B
             |  FROM s),
             | a(rk, b, rem) AS (
             |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), t.B FROM tot t
             |  UNION ALL
             |  SELECT a.rk + 1,
             |    LEAST(l.c * 2, a.rem // (ln.L - a.rk)),
             |    a.rem - LEAST(l.c * 2, a.rem // (ln.L - a.rk))
             |  FROM a, l, ln WHERE l.rk = a.rk + 1 AND a.rk < ln.L),
             | bud AS (SELECT l.g AS lang, a.b AS budget
             |  FROM a JOIN l ON l.rk = a.rk)
             |SELECT s.doc_id, s.lang, s.score, s.n_chars,
             |  SUM(s.n_chars) OVER (PARTITION BY s.lang
             |    ORDER BY s.score DESC, md5(CAST(s.doc_id AS VARCHAR)),
             |      s.doc_id
             |    ROWS UNBOUNDED PRECEDING) <= bud.budget AS kept
             |FROM s JOIN bud USING (lang) ORDER BY s.doc_id""".stripMargin)),

    QueryDef("x126_robust_outliers",
      // robust per-group outlier gate on exact integer cents: median
      // and MAD via percentile_disc (actual elements — no float
      // interpolation), flag |x - med| > 2*MAD. The mean/stddev
      // z-score this replaces has a 0% breakdown point — one corrupt
      // price drags the gate; the median form doesn't.
      (s, dir) => ext.Profiling.robustOutliers(
          t(s, dir, "lineitem").select(col("l_returnflag"), expr(
            "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
            .as("cents")),
          "l_returnflag", "cents", madK = 2L)
        .orderBy("l_returnflag"),
      Some("""WITH v AS (SELECT l_returnflag AS grp,
             |   CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
             |  FROM lineitem),
             | med AS (SELECT grp, CAST(percentile_disc(0.5)
             |    WITHIN GROUP (ORDER BY v) AS BIGINT) AS med
             |  FROM v GROUP BY grp),
             | d AS (SELECT v.grp, med.med, ABS(v.v - med.med) AS ad
             |  FROM v JOIN med USING (grp)),
             | mad AS (SELECT grp, CAST(percentile_disc(0.5)
             |    WITHIN GROUP (ORDER BY ad) AS BIGINT) AS mad
             |  FROM d GROUP BY grp)
             |SELECT d.grp AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             | CAST(MAX(d.med) AS BIGINT) AS med,
             | CAST(MAX(mad.mad) AS BIGINT) AS mad,
             | CAST(SUM(CASE WHEN d.ad > 2 * mad.mad THEN 1 ELSE 0 END)
             |   AS BIGINT) AS n_outliers,
             | CAST(SUM(CASE WHEN d.ad > 2 * mad.mad THEN 1 ELSE 0 END)
             |   * 1000000 // COUNT(*) AS BIGINT) AS outlier_ppm
             |FROM d JOIN mad USING (grp)
             |GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    QueryDef("x123_cdc_apply",
      // CDC changelog compaction: fold a deterministic I/U/D change
      // log into the orders snapshot — last writer per key wins under
      // the (ts, seq) order, winning deletes drop the key, inserts add
      // new keys, unlogged keys pass through. The log shuffles ONCE
      // through a map-side-combinable max_by; the base never shuffles
      // (anti join vs the winner set + union). Exercises both the
      // ts-level and the seq-tie-break orderings.
      (s, dir) => {
        val base = t(s, dir, "orders").select(col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("price_c"),
          col("o_orderstatus").as("status"))
        val m5 = col("o_orderkey") % 5
        def entry(cond: Column, ts: Int, seq: Int, op: String,
                  price: Column, status: Column) =
          base.where(cond).select(col("o_orderkey"),
            lit(ts).as("ts"), lit(seq).as("seq"), lit(op).as("op"),
            price.as("price_c"), status.as("status"))
        val log =
          // %5==0: update then a LATER delete -> key dropped
          entry(m5 === 0, 1, 0, "U", col("price_c") + 100, col("status"))
            .unionByName(entry(m5 === 0, 2, 0, "D",
              col("price_c"), col("status")))
            // %5==1: delete then a LATER update -> key survives doubled
            .unionByName(entry(m5 === 1, 1, 0, "D",
              col("price_c"), col("status")))
            .unionByName(entry(m5 === 1, 2, 0, "U",
              col("price_c") * 2, lit("X")))
            // %5==2: insert under a fresh key
            .unionByName(entry(m5 === 2, 1, 0, "I",
              col("price_c") + 1, col("status"))
              .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
            // %5==3: same-ts seq tie-break -> seq 2 wins
            .unionByName(entry(m5 === 3, 1, 1, "U",
              col("price_c") + 5, col("status")))
            .unionByName(entry(m5 === 3, 1, 2, "U",
              col("price_c") + 7, col("status")))
        Upserts.applyChangelog(base, log, "o_orderkey")
          .orderBy("o_orderkey")
      },
      Some("""WITH base AS (SELECT o_orderkey,
             |   CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_c,
             |   o_orderstatus AS status FROM orders),
             | lg AS (
             |  SELECT o_orderkey, 1 AS ts, 0 AS seq, 'U' AS op,
             |    price_c + 100 AS price_c, status
             |   FROM base WHERE o_orderkey % 5 = 0
             |  UNION ALL SELECT o_orderkey, 2, 0, 'D', price_c, status
             |   FROM base WHERE o_orderkey % 5 = 0
             |  UNION ALL SELECT o_orderkey, 1, 0, 'D', price_c, status
             |   FROM base WHERE o_orderkey % 5 = 1
             |  UNION ALL SELECT o_orderkey, 2, 0, 'U', price_c * 2, 'X'
             |   FROM base WHERE o_orderkey % 5 = 1
             |  UNION ALL SELECT o_orderkey + 10000000, 1, 0, 'I',
             |    price_c + 1, status
             |   FROM base WHERE o_orderkey % 5 = 2
             |  UNION ALL SELECT o_orderkey, 1, 1, 'U', price_c + 5, status
             |   FROM base WHERE o_orderkey % 5 = 3
             |  UNION ALL SELECT o_orderkey, 1, 2, 'U', price_c + 7, status
             |   FROM base WHERE o_orderkey % 5 = 3),
             | win AS (SELECT o_orderkey, op, price_c, status FROM lg
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey
             |    ORDER BY ts DESC, seq DESC) = 1)
             |SELECT b.o_orderkey, b.price_c, b.status FROM base b
             | WHERE NOT EXISTS (SELECT 1 FROM win w
             |   WHERE w.o_orderkey = b.o_orderkey)
             |UNION ALL
             |SELECT o_orderkey, price_c, status FROM win WHERE op <> 'D'
             |ORDER BY o_orderkey""".stripMargin)),

    QueryDef("x113_kfold_card",
      // stratified 5-fold CV assignment + its balance audit: folds
      // are the portable md5 bucket mod 5 (map-only, content-keyed —
      // restartable eval protocol), the card reports each (fold,
      // lang) cell's count, within-fold share, and |deviation| from
      // the corpus-wide lang share, all integer ppm.
      (s, dir) => Sampling.kfoldCard(docs(s, dir), "doc_id", "lang", k = 5)
        .orderBy("fold", "stratum"),
      Some("""WITH f AS (SELECT
             |  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
             |    1, 15)) AS BIGINT) % 5 AS INT) AS fold,
             |  lang AS stratum FROM documents),
             | cell AS (SELECT fold, stratum, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM f GROUP BY 1, 2),
             | ft AS (SELECT fold, CAST(SUM(n) AS BIGINT) AS nf
             |  FROM cell GROUP BY 1),
             | st AS (SELECT stratum, CAST(SUM(n) AS BIGINT) AS ns
             |  FROM cell GROUP BY 1),
             | t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cell)
             |SELECT cell.fold, cell.stratum, cell.n,
             | CAST(n * 1000000 // nf AS BIGINT) AS share_ppm,
             | CAST(ABS(n * 1000000 // nf - ns * 1000000 // nt) AS BIGINT)
             |   AS dev_ppm
             |FROM cell JOIN ft USING (fold) JOIN st USING (stratum), t
             |ORDER BY fold, stratum""".stripMargin)),

    QueryDef("x114_embedding_drift",
      // embedding-space drift card (x52's histogram gate lifted to
      // vector space): whole-corpus kmeans cells are the bins — both
      // slices bin identically — and the even/odd vec_id halves play
      // ref vs current; per-cell shares and |Δ| in integer ppm, TV
      // distance = Σ delta / 2.
      (s, dir) => Clustering.cellShareDrift(t(s, dir, "embeddings"),
          col("vec_id") % 2 === 0, k = 4, iters = 2)
        .orderBy("cluster"),
      Some(s"""WITH ${kmeansCtes(4, 2)},
             | tag AS (SELECT vec_id, vec_id % 2 = 0 AS is_ref
             |  FROM embeddings),
             | cell AS (SELECT a.cluster,
             |   CAST(SUM(CASE WHEN t.is_ref THEN 1 ELSE 0 END) AS BIGINT)
             |     AS n_ref,
             |   CAST(SUM(CASE WHEN t.is_ref THEN 0 ELSE 1 END) AS BIGINT)
             |     AS n_cur
             |  FROM a3 a JOIN tag t USING (vec_id) GROUP BY 1),
             | tots AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
             |   CAST(SUM(n_cur) AS BIGINT) AS tc FROM cell)
             |SELECT cluster, n_ref, n_cur,
             | CAST(n_ref * 1000000 // GREATEST(tr, 1) AS BIGINT)
             |   AS share_ref_ppm,
             | CAST(n_cur * 1000000 // GREATEST(tc, 1) AS BIGINT)
             |   AS share_cur_ppm,
             | CAST(ABS(n_ref * 1000000 // GREATEST(tr, 1)
             |   - n_cur * 1000000 // GREATEST(tc, 1)) AS BIGINT)
             |   AS delta_ppm
             |FROM cell, tots ORDER BY cluster""".stripMargin)),

    // --------------------------------------------- pipeline: curation gates
    QueryDef("x53_cap_per_group",
      // per-domain document cap (the "≤k pages per host" crawl-curation
      // rule): survivors are the k smallest portable-md5 keys per
      // source, selected through the TopKPerGroup physical operator —
      // each map partition caps at k rows per group BEFORE the
      // exchange, so the corpus is never window-sorted whole.
      (s, dir) => Sampling.capPerGroup(docs(s, dir), "source", "doc_id",
          k = 10)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM documents
             |QUALIFY ROW_NUMBER() OVER (PARTITION BY source
             |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 10
             |ORDER BY doc_id""".stripMargin)),

    QueryDef("x54_linear_classifier",
      // fastText-style bag-of-words filter, self-trained on the lang
      // label: per-term class-purity weights in integer ppm (count
      // ratio, no libm ln), minDf-pruned vocabulary broadcast back,
      // per-doc integer score — the decision boundary is exact on any
      // engine.
      (s, dir) => {
        val d = docs(s, dir)
        val w = TextOps.trainLinearWeights(d, col("lang") === "en",
          minDf = 3)
        TextOps.scoreLinear(d, w).orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, lang = 'en' AS y,
             |  unnest(string_split_regex(trim(text), '\s+')) AS term
             | FROM documents),
             | t2 AS (SELECT * FROM tok WHERE term <> ''),
             | base AS (SELECT CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END)
             |   * 1000000 // COUNT(*) AS BIGINT) AS base FROM t2),
             | w AS (SELECT term,
             |   CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) * 1000000
             |     // COUNT(*) AS BIGINT) - (SELECT base FROM base)
             |    AS weight_ppm
             |  FROM t2 GROUP BY term HAVING COUNT(DISTINCT doc_id) >= 3),
             | sc AS (SELECT t2.doc_id, COUNT(*) AS n_tokens,
             |   COUNT(w.weight_ppm) AS n_scored,
             |   COALESCE(SUM(w.weight_ppm), 0) AS score_ppm
             |  FROM t2 LEFT JOIN w USING (term) GROUP BY t2.doc_id)
             |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  CAST(n_scored AS BIGINT) AS n_scored,
             |  CAST(score_ppm AS BIGINT) AS score_ppm,
             |  score_ppm > 0 AS predicted
             |FROM sc ORDER BY doc_id""".stripMargin)),

    QueryDef("x55_semantic_dedup",
      // SemDeDup: k-means partitions the embedding space (exact
      // integer fixed-point — the x22 centroids; cluster count is
      // corpus-derived via autoCells and lands on the oracle's 4 at
      // this SF), pairs score only within a cluster, greedy
      // keep-min-id above the cosine threshold. 0.35 targets the paraphrase regime this corpus
      // actually contains (max pairwise cosine ~0.5); the verbatim-dup
      // regime is x40's LSH blocking.
      (s, dir) => Dedup.semanticDedup(t(s, dir, "embeddings"),
          threshold = 0.35, iters = 2)
        .orderBy("vec_id"),
      Some(s"""WITH ${kmeansCtes(4, 2)},
             | emb2 AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |  FROM embeddings),
             | sv AS (SELECT emb2.vec_id, a.cluster, emb2.v
             |  FROM emb2 JOIN a3 a USING (vec_id))
             |SELECT sv.vec_id, sv.cluster,
             |  EXISTS (SELECT 1 FROM sv o WHERE o.cluster = sv.cluster
             |    AND o.vec_id < sv.vec_id
             |    AND list_cosine_similarity(o.v, sv.v) >= 0.35
             |    AND isfinite(list_cosine_similarity(o.v, sv.v)))
             |   AS is_dup
             |FROM sv ORDER BY vec_id""".stripMargin)),

    QueryDef("x57_curation_pipeline",
      // the end-to-end curation recipe as ONE dataflow — quality gate
      // (x54 classifier) → semantic-dedup gate (x55, docs without an
      // embedding pass unflagged) → deterministic train split (x18's
      // md5 family) → epoch shuffle (x56) — proving the gates compose
      // into a single hash-matchable plan, not just pass in isolation.
      (s, dir) => {
        val d = docs(s, dir)
        val w = TextOps.trainLinearWeights(d, col("lang") === "en",
          minDf = 3)
        val kept = TextOps.scoreLinear(d, w)
          .filter(col("predicted"))
          .select("doc_id")
        val dupIds = Dedup.semanticDedup(t(s, dir, "embeddings"),
            threshold = 0.35, iters = 2)
          .filter(col("is_dup")).select(col("vec_id").as("doc_id"))
        val curated = d.join(kept, Seq("doc_id"), "left_semi")
          .join(dupIds, Seq("doc_id"), "left_anti")
        val train = Sampling.hashSplit(curated, "doc_id",
            Seq("train" -> 0.8, "eval" -> 0.2),
            bucketFn = Sampling.md5Bucket(_, _))
          .filter(col("split") === "train")
        Sampling.epochShuffle(train, "doc_id", epoch = 1, shards = 4)
          .select(col("doc_id"), col("lang"), col("shard"), col("pos"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${kmeansCtes(4, 2)},
             | tok AS (SELECT doc_id, lang = 'en' AS y,
             |  unnest(string_split_regex(trim(text), '\\s+')) AS term
             | FROM documents),
             | t2 AS (SELECT * FROM tok WHERE term <> ''),
             | base AS (SELECT CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END)
             |   * 1000000 // COUNT(*) AS BIGINT) AS base FROM t2),
             | w AS (SELECT term,
             |   CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) * 1000000
             |     // COUNT(*) AS BIGINT) - (SELECT base FROM base)
             |    AS weight_ppm
             |  FROM t2 GROUP BY term HAVING COUNT(DISTINCT doc_id) >= 3),
             | kept AS (SELECT t2.doc_id
             |  FROM t2 LEFT JOIN w USING (term) GROUP BY t2.doc_id
             |  HAVING COALESCE(SUM(w.weight_ppm), 0) > 0),
             | emb2 AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |  FROM embeddings),
             | sv AS (SELECT emb2.vec_id, a3.cluster, emb2.v
             |  FROM emb2 JOIN a3 USING (vec_id)),
             | dup AS (SELECT vec_id FROM sv
             |  WHERE EXISTS (SELECT 1 FROM sv o
             |   WHERE o.cluster = sv.cluster AND o.vec_id < sv.vec_id
             |    AND list_cosine_similarity(o.v, sv.v) >= 0.35
             |    AND isfinite(list_cosine_similarity(o.v, sv.v)))),
             | curated AS (SELECT d.doc_id, d.lang FROM documents d
             |  WHERE d.doc_id IN (SELECT doc_id FROM kept)
             |   AND d.doc_id NOT IN (SELECT vec_id FROM dup)),
             | train AS (SELECT doc_id, lang,
             |   md5('1:' || CAST(doc_id AS VARCHAR)) AS eh FROM curated
             |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
             |     1, 15)) AS BIGINT) % 10000 < 8000)
             |SELECT doc_id, lang,
             |  CAST(CAST(('0x' || substr(eh, 1, 15)) AS BIGINT) % 4 AS INT)
             |    AS shard,
             |  CAST(ROW_NUMBER() OVER (PARTITION BY
             |    CAST(('0x' || substr(eh, 1, 15)) AS BIGINT) % 4
             |    ORDER BY eh, doc_id) AS BIGINT) AS pos
             |FROM train ORDER BY doc_id""".stripMargin)),

    QueryDef("x58_bpe_train",
      // BPE tokenizer training (Sennrich et al. 2016) on the word
      // HISTOGRAM — the corpus collapses to a vocabulary-sized state
      // table in one wordcount shuffle, then each round counts
      // adjacent symbol pairs (frequency-weighted, all positions) and
      // merges the argmax pair greedily left-to-right. Exact integer
      // counts + (c DESC, lhs, rhs) tie-break over ASCII symbols →
      // the oracle re-derives the identical merge sequence.
      (s, dir) => TextOps.learnBpeMerges(docs(s, dir), rounds = 10)
        .orderBy("round"),
      Some {
        val sel = (1 to 10).map(r =>
          s"""SELECT CAST($r AS INT) AS round, a AS lhs, b AS rhs,
             |  a || b AS merged, c AS cnt FROM b$r""".stripMargin)
          .mkString("\nUNION ALL\n")
        s"""WITH ${bpeCtes(10)}
           |SELECT * FROM (
           |$sel)
           |ORDER BY round""".stripMargin
      }),

    QueryDef("x59_bpe_encode",
      // encode the corpus under the learned merge table: every
      // DISTINCT word is folded once (vocabulary-sized work) and
      // broadcast back onto the word stream; the corpus pays one
      // explode + a map-side-combinable count. Docs that normalize
      // to nothing count 0/0.
      (s, dir) => {
        val d = docs(s, dir)
        TextOps.applyBpe(d, TextOps.learnBpeMerges(d, rounds = 10))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${bpeCtes(10)},
             | wd AS (SELECT doc_id, w FROM (
             |   SELECT doc_id, unnest(string_split_regex(trim(
             |     regexp_replace(regexp_replace(lower(text),
             |     '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')),
             |     '\\s+')) AS w FROM documents)
             |  WHERE w <> ''),
             | per AS (SELECT wd.doc_id,
             |   CAST(COUNT(*) AS BIGINT) AS n_words,
             |   CAST(SUM(len(wk.s)) AS BIGINT) AS n_bpe
             |  FROM wd JOIN w10 wk USING (w) GROUP BY wd.doc_id)
             |SELECT d.doc_id,
             |  CAST(COALESCE(per.n_words, 0) AS BIGINT) AS n_words,
             |  CAST(COALESCE(per.n_bpe, 0) AS BIGINT) AS n_bpe
             |FROM documents d LEFT JOIN per USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    QueryDef("x115_bpe_fertility",
      // tokenizer fertility card — the metric that decides whether a
      // tokenizer is fit for a language mix (tokens-per-word ≫ 1 on a
      // language means its text pays more sequence length per word):
      // encode under the 10-round learned merges (x58/x59 machinery),
      // roll up per language in integer ppm. One vocabulary-sized
      // encode + one lang-sized aggregation over the per-doc counts.
      (s, dir) => {
        val d = docs(s, dir)
        val enc = TextOps.applyBpe(d, TextOps.learnBpeMerges(d, rounds = 10))
        d.select(col("doc_id"), col("lang")).join(enc, Seq("doc_id"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_words").cast("long").as("n_words"),
            sum("n_bpe").cast("long").as("n_bpe"))
          .withColumn("fertility_ppm",
            expr("n_bpe * 1000000 DIV greatest(n_words, 1)"))
          .orderBy("lang")
      },
      Some(s"""WITH ${bpeCtes(10)},
             | wd AS (SELECT doc_id, w FROM (
             |   SELECT doc_id, unnest(string_split_regex(trim(
             |     regexp_replace(regexp_replace(lower(text),
             |     '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')),
             |     '\\s+')) AS w FROM documents)
             |  WHERE w <> ''),
             | per AS (SELECT wd.doc_id,
             |   CAST(COUNT(*) AS BIGINT) AS n_words,
             |   CAST(SUM(len(wk.s)) AS BIGINT) AS n_bpe
             |  FROM wd JOIN w10 wk USING (w) GROUP BY wd.doc_id),
             | j AS (SELECT d.doc_id, d.lang,
             |   COALESCE(per.n_words, 0) AS n_words,
             |   COALESCE(per.n_bpe, 0) AS n_bpe
             |  FROM documents d LEFT JOIN per USING (doc_id))
             |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             | CAST(SUM(n_words) AS BIGINT) AS n_words,
             | CAST(SUM(n_bpe) AS BIGINT) AS n_bpe,
             | CAST(SUM(n_bpe) * 1000000 // GREATEST(SUM(n_words), 1)
             |   AS BIGINT) AS fertility_ppm
             |FROM j GROUP BY 1 ORDER BY lang""".stripMargin)),

    QueryDef("x60_match_distribution",
      // the REPAIR to x52's drift GATE: largest deterministic
      // subsample of the non-English slice whose 200-char n_chars
      // histogram matches the English slice's shape — mixtureSample's
      // K = min(n/share) derivation over data-derived bins, integer-
      // ppm keep decisions on the portable md5 bucket, corpus pass
      // map-only.
      (s, dir) => {
        val d = docs(s, dir)
        Sampling.matchDistribution(d.filter(col("lang") =!= "en"),
            d.filter(col("lang") === "en"), "n_chars",
            binWidth = 200L, keyCol = "doc_id")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""WITH cur AS (SELECT (n_chars // 200) * 200 AS bin,
             |   CAST(COUNT(*) AS BIGINT) AS n FROM documents
             |  WHERE lang <> 'en' AND n_chars IS NOT NULL GROUP BY 1),
             | tgt AS (SELECT (n_chars // 200) * 200 AS bin,
             |   CAST(COUNT(*) AS BIGINT) AS m FROM documents
             |  WHERE lang = 'en' AND n_chars IS NOT NULL GROUP BY 1),
             | tot AS (SELECT CAST(SUM(m) AS BIGINT) AS tot FROM tgt),
             | j AS (SELECT cur.bin, cur.n,
             |   CAST(tgt.m AS DOUBLE) / tot.tot AS share
             |  FROM cur JOIN tgt USING (bin), tot),
             | kk AS (SELECT MIN(n / share) AS kk FROM j),
             | rates AS (SELECT bin,
             |   FLOOR(share * kk.kk / n * 1000000) AS ppm FROM j, kk)
             |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
             | JOIN rates r ON (d.n_chars // 200) * 200 = r.bin
             |WHERE d.lang <> 'en' AND d.n_chars IS NOT NULL
             | AND CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
             |   1, 15)) AS BIGINT) % 1000000 < r.ppm
             |ORDER BY d.doc_id""".stripMargin)),

    QueryDef("x65_export_manifest",
      // the export step: epoch-shuffled corpus written partitionBy
      // shard, manifest derived FROM THE WRITTEN FILES (row counts,
      // token counts, order-independent 48-bit-md5-sum checksums) —
      // a lost task or partial overwrite surfaces as a checksum
      // mismatch, not a silent short shard. The oracle re-derives
      // the manifest from the shard assignment directly, so the
      // hash-match proves disk == plan.
      (s, dir) => Sampling.writeTrainingShards(docs(s, dir),
          "spark-warehouse/x65_shards", "doc_id", "text",
          epoch = 2, shards = 8)
        .orderBy("shard"),
      Some("""WITH s AS (SELECT doc_id, text,
             |  CAST(CAST(('0x' || substr(md5('2:' ||
             |    CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS INT)
             |    AS shard
             |  FROM documents)
             |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
             | CAST(SUM(len(string_split_regex(trim(text), '\s+')))
             |   AS BIGINT) AS n_tokens,
             | CAST(SUM(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
             |   || ':' || text), 1, 12)) AS BIGINT)) AS BIGINT) AS checksum
             |FROM s GROUP BY shard ORDER BY shard""".stripMargin)),

    QueryDef("x56_epoch_shuffle",
      // deterministic training-epoch shuffle: shard + in-shard
      // position derived from md5("epoch:key") — a fresh permutation
      // per epoch, reproducible on any engine/cluster/retry; one
      // exchange on the shard id, per-shard sort on the 8-byte hash.
      (s, dir) => Sampling.epochShuffle(docs(s, dir), "doc_id",
          epoch = 7, shards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("doc_id"),
      Some("""WITH h AS (SELECT doc_id,
             |   md5('7:' || CAST(doc_id AS VARCHAR)) AS eh FROM documents),
             | s AS (SELECT doc_id, eh,
             |  CAST(CAST(('0x' || substr(eh, 1, 15)) AS BIGINT) % 8 AS INT)
             |    AS shard FROM h)
             |SELECT doc_id, shard,
             |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
             |    ORDER BY eh, doc_id) AS BIGINT) AS pos
             |FROM s ORDER BY doc_id""".stripMargin)),

    QueryDef("x66_budget_select",
      // the final cut of a pretraining recipe: keep the best-scored
      // docs until the token budget (40% of the corpus here) is
      // spent. Semantically ONE global cumsum (the oracle), executed
      // without a global sort: a tiny score histogram classifies each
      // stratum fully-kept/dropped, and only the boundary stratum is
      // sorted (by portable md5) to place the cut.
      (s, dir) => {
        val scored = docs(s, dir).select(col("doc_id"),
          expr("n_chars DIV 100").as("score"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        val budget = scored.agg(expr("sum(n_tokens) * 2 DIV 5"))
          .head().getLong(0)
        Sampling.selectByBudget(scored, "doc_id", "score", "n_tokens",
            budget)
          .orderBy("doc_id")
      },
      Some("""WITH s AS (SELECT doc_id,
             |   CAST(n_chars // 100 AS BIGINT) AS score,
             |   CAST(len(string_split_regex(trim(text), '\s+'))
             |     AS BIGINT) AS n_tokens
             |  FROM documents),
             | b AS (SELECT CAST(SUM(n_tokens) * 2 // 5 AS BIGINT)
             |   AS budget FROM s)
             |SELECT doc_id, score, n_tokens,
             |  SUM(n_tokens) OVER (ORDER BY score DESC,
             |    md5(CAST(doc_id AS VARCHAR)), doc_id
             |    ROWS UNBOUNDED PRECEDING) <= b.budget AS kept
             |FROM s, b ORDER BY doc_id""".stripMargin)),

    QueryDef("x67_snapshot_diff",
      // crawl-over-crawl audit: which docs were added / removed /
      // changed between two snapshots (content identity = portable
      // md5 of the payload). One project-then-shuffle full outer
      // join on the key; unchanged rows never emitted.
      (s, dir) => {
        val d = docs(s, dir)
        val oldSnap = d.filter(col("doc_id") % 7 =!= 1)
        val newSnap = d.filter(col("doc_id") % 7 =!= 2)
          .withColumn("text", when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
        Upserts.snapshotDiff(oldSnap, newSnap, "doc_id",
            Seq("text", "lang"))
          .orderBy("doc_id")
      },
      Some("""WITH o AS (SELECT doc_id,
             |   md5(text || chr(1) || lang) AS old_md5
             |  FROM documents WHERE doc_id % 7 <> 1),
             | n AS (SELECT doc_id,
             |   md5((CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
             |        ELSE text END) || chr(1) || lang) AS new_md5
             |  FROM documents WHERE doc_id % 7 <> 2),
             | j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             |   old_md5, new_md5,
             |   CASE WHEN old_md5 IS NULL THEN 'added'
             |        WHEN new_md5 IS NULL THEN 'removed'
             |        WHEN old_md5 <> new_md5 THEN 'changed' END AS status
             |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
             |SELECT doc_id, status, old_md5, new_md5 FROM j
             |WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin)),

    QueryDef("x68_keep_best",
      // quality-ranked canonical selection: near-dup clusters keep
      // their highest-quality member (score = n_chars, ties: min id)
      // instead of the arbitrary min-id copy. Pairs from the portable
      // md5 MinHash family, so the oracle re-derives the WHOLE
      // pipeline: signatures -> banded candidates -> verified pairs
      // -> transitive closure -> per-cluster argmax.
      (s, dir) => {
        val d = docs(s, dir)
        val pairs = Dedup.minhashLshPortable(d, threshold = 0.5)
        Dedup.keepBestPerCluster(d, pairs, scoreCol = "n_chars")
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE toks AS (SELECT doc_id,
             |  string_split_regex(trim(text), '\s+') AS tk FROM documents),
             | sh AS (SELECT doc_id, list_distinct(
             |  [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |   for i in generate_series(1, len(tk) - 2)]) AS s FROM toks
             |  WHERE len(tk) >= 3),
             | hs AS (SELECT doc_id, s,
             |  [CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 2147483647
             |   for x in s] AS h FROM sh WHERE len(s) > 0),
             | sig AS (SELECT doc_id, s,
             |  [list_min([(hv * (2*k+1) + k) % 2147483647 for hv in h])
             |   for k in generate_series(0, 15)] AS sig FROM hs),
             | banded AS (SELECT doc_id, b,
             |  array_to_string(sig[b*4+1 : b*4+4], ',') AS bkey
             |  FROM sig, generate_series(0, 3) AS g(b)),
             | cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
             |  FROM banded l JOIN banded r
             |    ON l.b = r.b AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
             | verified AS (SELECT c.a, c.b,
             |  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
             |   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
             |   AS jaccard
             |  FROM cand c JOIN sig sa ON sa.doc_id = c.a
             |  JOIN sig sb ON sb.doc_id = c.b),
             | p AS (SELECT a, b FROM verified WHERE jaccard >= 0.5),
             | e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
             | reach(id, r) AS (
             |  SELECT a, a FROM e
             |  UNION
             |  SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b),
             | cl AS (SELECT id AS doc_id, MIN(r) AS cluster
             |  FROM reach GROUP BY id),
             | allc AS (SELECT d.doc_id,
             |   COALESCE(cl.cluster, d.doc_id) AS cluster,
             |   CAST(d.n_chars AS BIGINT) AS score
             |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
             | w AS (SELECT cluster, doc_id AS winner FROM allc
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster
             |    ORDER BY score DESC, doc_id) = 1)
             |SELECT a.doc_id, a.cluster, a.score,
             |  (a.doc_id = w.winner) AS kept
             |FROM allc a JOIN w ON w.cluster = a.cluster
             |ORDER BY a.doc_id""".stripMargin)),

    QueryDef("g49_ppmi_embeddings",
      // the graph->vector bridge's last leg: deterministic node
      // embeddings from the walk corpus's skip-gram pairs — PPMI-
      // ratio weights (integer ppm, positive part, no libm log) and
      // a +/-1 md5-parity random projection, so the whole embedding
      // table re-derives bit-for-bit in the oracle (walks -> pairs ->
      // marginals -> weights -> signed sums).
      (s, dir) => {
        val g = graph(s, dir)
        val lo = minSeed(s, dir, "orders", "o_orderkey").toLong
        val starts = g.vertices.where(col("layer") === "order" &&
          col("nodeId").cast("long") < lo + 2000)
        GraphOps.ppmiEmbeddings(
            GraphOps.walkSkipGramPairs(
              GraphOps.deterministicWalks(g, starts, reps = 2, walkLen = 4),
              win = 2),
            dims = 4)
          .orderBy("layer", "node_id", "dim")
      },
      Some(s"""$W, nb AS (SELECT source_layer AS sl, source_id AS sid,
              |  list({'tl': target_layer, 'tid': target_id}
              |    ORDER BY target_layer, target_id) AS nbrs
              | FROM edges GROUP BY 1, 2),
              |starts AS (SELECT node_id FROM vertices WHERE layer = 'order'
              |  AND CAST(node_id AS BIGINT)
              |    < (SELECT MIN(o_orderkey) FROM orders) + 2000),
              |walk(start_id, rep, step, layer, node_id) AS (
              | SELECT node_id, r.r, 0, 'order', node_id
              | FROM starts, (SELECT UNNEST([0, 1]) AS r) r
              | UNION ALL
              | SELECT w.start_id, w.rep, w.step + 1,
              |  nb.nbrs[1 + CAST(CAST(('0x' || substr(md5(w.start_id
              |    || ':' || w.rep || ':' || (w.step + 1)), 1, 15))
              |    AS BIGINT) % len(nb.nbrs) AS INT)]['tl'],
              |  nb.nbrs[1 + CAST(CAST(('0x' || substr(md5(w.start_id
              |    || ':' || w.rep || ':' || (w.step + 1)), 1, 15))
              |    AS BIGINT) % len(nb.nbrs) AS INT)]['tid']
              | FROM walk w JOIN nb ON nb.sl = w.layer AND nb.sid = w.node_id
              | WHERE w.step < 4),
              |pr AS (SELECT a.layer AS center_layer, a.node_id AS center_id,
              |  b.layer AS context_layer, b.node_id AS context_id,
              |  CAST(COUNT(*) AS BIGINT) AS cnt
              | FROM walk a JOIN walk b
              |   ON a.start_id = b.start_id AND a.rep = b.rep
              |  AND a.step <> b.step AND ABS(a.step - b.step) <= 2
              | GROUP BY 1, 2, 3, 4),
              |nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM pr),
              |ct AS (SELECT center_layer, center_id,
              |  CAST(SUM(cnt) AS BIGINT) AS ct FROM pr GROUP BY 1, 2),
              |xt AS (SELECT context_layer, context_id,
              |  CAST(SUM(cnt) AS BIGINT) AS xt FROM pr GROUP BY 1, 2),
              |wt AS (SELECT p.center_layer, p.center_id,
              |  p.context_layer, p.context_id,
              |  GREATEST(p.cnt * nn.n * 1000000
              |    // (ct.ct * xt.xt) - 1000000, 0) AS w
              | FROM pr p
              | JOIN ct ON ct.center_layer = p.center_layer
              |  AND ct.center_id = p.center_id
              | JOIN xt ON xt.context_layer = p.context_layer
              |  AND xt.context_id = p.context_id, nn),
              |wd AS (SELECT center_layer, center_id, context_layer,
              |  context_id, w, g.dim
              | FROM wt, generate_series(0, 3) AS g(dim) WHERE w > 0)
              |SELECT center_layer AS layer, center_id AS node_id,
              | CAST(dim AS INT) AS dim,
              | CAST(SUM(w * (CASE WHEN CAST(('0x' || substr(md5(
              |   context_layer || ':' || context_id || ':' || dim), 1, 1))
              |   AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END)) AS BIGINT) AS value
              |FROM wd GROUP BY 1, 2, 3
              |ORDER BY layer, node_id, dim""".stripMargin)),

    QueryDef("x69_rendezvous_shards",
      // resizable shard assignment: rendezvous (HRW) hashing lands
      // key k on argmax_s md5("k:s") — growing 8->9 shards relocates
      // only ~1/9 of keys, every one TO the new shard (mod-N moves
      // nearly everything). One codegen'd aggregate fold per row:
      // map-only, no explode, no shuffle. The oracle re-derives both
      // maps with a per-key argmax window.
      (s, dir) => docs(s, dir).select(col("doc_id"),
          Sampling.rendezvousShard(col("doc_id"), 8).as("shard8"),
          Sampling.rendezvousShard(col("doc_id"), 9).as("shard9"))
        .withColumn("moved", col("shard8") =!= col("shard9"))
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, s.s,
             |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
             |    || ':' || s.s), 1, 15)) AS BIGINT) AS wt
             | FROM documents, generate_series(0, 8) AS s(s)),
             | a8 AS (SELECT doc_id, CAST(s AS INT) AS shard8 FROM w
             |  WHERE s < 8
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
             |    ORDER BY wt DESC, s) = 1),
             | a9 AS (SELECT doc_id, CAST(s AS INT) AS shard9 FROM w
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
             |    ORDER BY wt DESC, s) = 1)
             |SELECT a8.doc_id, shard8, shard9,
             |  shard8 <> shard9 AS moved
             |FROM a8 JOIN a9 ON a8.doc_id = a9.doc_id
             |ORDER BY a8.doc_id""".stripMargin)),

    QueryDef("x70_leakfree_split",
      // dedup-aware train/eval split: near-dup cluster members share
      // a split key (the cluster canonical), so no eval doc is a
      // near-duplicate of a training doc. Pairs from the portable
      // md5 MinHash family -> the oracle re-derives clusters AND the
      // md5-bucket split assignment end to end.
      (s, dir) => {
        val d = docs(s, dir)
        val pairs = Dedup.minhashLshPortable(d, threshold = 0.5)
        Sampling.leakFreeSplit(d, pairs, "doc_id",
            Seq("train" -> 0.8, "eval" -> 0.1, "test" -> 0.1))
          .select(col("doc_id"), col("grp"), col("split"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE toks AS (SELECT doc_id,
             |  string_split_regex(trim(text), '\s+') AS tk FROM documents),
             | sh AS (SELECT doc_id, list_distinct(
             |  [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |   for i in generate_series(1, len(tk) - 2)]) AS s FROM toks
             |  WHERE len(tk) >= 3),
             | hs AS (SELECT doc_id, s,
             |  [CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 2147483647
             |   for x in s] AS h FROM sh WHERE len(s) > 0),
             | sig AS (SELECT doc_id, s,
             |  [list_min([(hv * (2*k+1) + k) % 2147483647 for hv in h])
             |   for k in generate_series(0, 15)] AS sig FROM hs),
             | banded AS (SELECT doc_id, b,
             |  array_to_string(sig[b*4+1 : b*4+4], ',') AS bkey
             |  FROM sig, generate_series(0, 3) AS g(b)),
             | cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
             |  FROM banded l JOIN banded r
             |    ON l.b = r.b AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
             | verified AS (SELECT c.a, c.b,
             |  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
             |   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
             |   AS jaccard
             |  FROM cand c JOIN sig sa ON sa.doc_id = c.a
             |  JOIN sig sb ON sb.doc_id = c.b),
             | p AS (SELECT a, b FROM verified WHERE jaccard >= 0.5),
             | e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
             | reach(id, r) AS (
             |  SELECT a, a FROM e
             |  UNION
             |  SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b),
             | cl AS (SELECT id AS doc_id, MIN(r) AS cluster
             |  FROM reach GROUP BY id),
             | g AS (SELECT d.doc_id,
             |   COALESCE(cl.cluster, d.doc_id) AS grp
             |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
             | b AS (SELECT doc_id, grp,
             |  CAST(('0x' || substr(md5(CAST(grp AS VARCHAR)), 1, 15))
             |    AS BIGINT) % 10000 AS bk FROM g)
             |SELECT doc_id, grp,
             |  CASE WHEN bk < 8000 THEN 'train'
             |       WHEN bk < 9000 THEN 'eval' ELSE 'test' END AS split
             |FROM b ORDER BY doc_id""".stripMargin)),

    QueryDef("x71_dataset_card",
      // the numeric dataset card recorded next to a training export:
      // doc/token/char totals, empty + exact-dup rates, language
      // spread, sampled median length — every value a BIGINT (count,
      // integer-ppm rate, or micro-unit mean) so two cards diff
      // meaningfully and any engine re-derives the same card. One
      // global agg + a tiny lang histogram + the md5 bottom-k sample.
      (s, dir) => ext.Profiling.datasetCard(docs(s, dir)).orderBy("metric"),
      Some("""WITH g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |   CAST(SUM(len(string_split_regex(trim(text), '\s+')))
             |     AS BIGINT) AS n_tokens,
             |   CAST(SUM(length(text)) AS BIGINT) AS n_chars,
             |   CAST(SUM(CASE WHEN trim(text) = '' THEN 1 ELSE 0 END)
             |     AS BIGINT) AS n_empty,
             |   CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct
             |  FROM documents),
             | l AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_langs,
             |   CAST(MAX(c) AS BIGINT) AS top_lang_n
             |  FROM (SELECT lang, COUNT(*) AS c FROM documents
             |        GROUP BY lang)),
             | sm AS (SELECT length(text) AS lc FROM documents
             |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 512),
             | p AS (SELECT CAST(percentile_disc(0.5) WITHIN GROUP
             |   (ORDER BY lc) AS BIGINT) AS p50 FROM sm)
             |SELECT metric, value FROM (
             | SELECT 'n_docs' AS metric, n_docs AS value FROM g
             | UNION ALL SELECT 'n_tokens', n_tokens FROM g
             | UNION ALL SELECT 'n_chars', n_chars FROM g
             | UNION ALL SELECT 'n_empty', n_empty FROM g
             | UNION ALL SELECT 'exact_dup_ppm',
             |   CAST((n_docs - n_distinct) * 1000000 // n_docs AS BIGINT)
             |   FROM g
             | UNION ALL SELECT 'n_langs', n_langs FROM l
             | UNION ALL SELECT 'top_lang_share_ppm',
             |   CAST(top_lang_n * 1000000 // n_docs AS BIGINT) FROM l, g
             | UNION ALL SELECT 'mean_chars_micro',
             |   CAST(n_chars * 1000000 // n_docs AS BIGINT) FROM g
             | UNION ALL SELECT 'p50_chars_sampled', p50 FROM p)
             |ORDER BY metric""".stripMargin)),

    QueryDef("g50_link_prediction",
      // the embedding-quality eval closing the graph->vector bridge:
      // do g49's vectors score truly-co-occurring pairs above rotated
      // negatives? Content-keyed pair sample (smallest md5), one
      // rotated negative per positive, exact BIGINT dot products over
      // symmetric-truncated coordinates — the whole eval re-derives
      // in the oracle, scores included.
      (s, dir) => {
        val g = graph(s, dir)
        val lo = minSeed(s, dir, "orders", "o_orderkey").toLong
        val starts = g.vertices.where(col("layer") === "order" &&
          col("nodeId").cast("long") < lo + 2000)
        val pairs = GraphOps.walkSkipGramPairs(
          GraphOps.deterministicWalks(g, starts, reps = 2, walkLen = 4),
          win = 2)
        GraphOps.linkPredictionEval(
            GraphOps.ppmiEmbeddings(pairs, dims = 4), pairs, k = 200)
          .orderBy("rn")
      },
      Some(s"""$W, nb AS (SELECT source_layer AS sl, source_id AS sid,
              |  list({'tl': target_layer, 'tid': target_id}
              |    ORDER BY target_layer, target_id) AS nbrs
              | FROM edges GROUP BY 1, 2),
              |starts AS (SELECT node_id FROM vertices WHERE layer = 'order'
              |  AND CAST(node_id AS BIGINT)
              |    < (SELECT MIN(o_orderkey) FROM orders) + 2000),
              |walk(start_id, rep, step, layer, node_id) AS (
              | SELECT node_id, r.r, 0, 'order', node_id
              | FROM starts, (SELECT UNNEST([0, 1]) AS r) r
              | UNION ALL
              | SELECT w.start_id, w.rep, w.step + 1,
              |  nb.nbrs[1 + CAST(CAST(('0x' || substr(md5(w.start_id
              |    || ':' || w.rep || ':' || (w.step + 1)), 1, 15))
              |    AS BIGINT) % len(nb.nbrs) AS INT)]['tl'],
              |  nb.nbrs[1 + CAST(CAST(('0x' || substr(md5(w.start_id
              |    || ':' || w.rep || ':' || (w.step + 1)), 1, 15))
              |    AS BIGINT) % len(nb.nbrs) AS INT)]['tid']
              | FROM walk w JOIN nb ON nb.sl = w.layer AND nb.sid = w.node_id
              | WHERE w.step < 4),
              |pr AS (SELECT a.layer AS center_layer, a.node_id AS center_id,
              |  b.layer AS context_layer, b.node_id AS context_id,
              |  CAST(COUNT(*) AS BIGINT) AS cnt
              | FROM walk a JOIN walk b
              |   ON a.start_id = b.start_id AND a.rep = b.rep
              |  AND a.step <> b.step AND ABS(a.step - b.step) <= 2
              | GROUP BY 1, 2, 3, 4),
              |nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM pr),
              |ct AS (SELECT center_layer, center_id,
              |  CAST(SUM(cnt) AS BIGINT) AS ct FROM pr GROUP BY 1, 2),
              |xt AS (SELECT context_layer, context_id,
              |  CAST(SUM(cnt) AS BIGINT) AS xt FROM pr GROUP BY 1, 2),
              |wt AS (SELECT p.center_layer, p.center_id,
              |  p.context_layer, p.context_id,
              |  GREATEST(p.cnt * nn.n * 1000000
              |    // (ct.ct * xt.xt) - 1000000, 0) AS w
              | FROM pr p
              | JOIN ct ON ct.center_layer = p.center_layer
              |  AND ct.center_id = p.center_id
              | JOIN xt ON xt.context_layer = p.context_layer
              |  AND xt.context_id = p.context_id, nn),
              |wd AS (SELECT center_layer, center_id, context_layer,
              |  context_id, w, g.dim
              | FROM wt, generate_series(0, 3) AS g(dim) WHERE w > 0),
              |emb AS (SELECT center_layer AS layer, center_id AS node_id,
              | CAST(dim AS INT) AS dim,
              | CAST(SUM(w * (CASE WHEN CAST(('0x' || substr(md5(
              |   context_layer || ':' || context_id || ':' || dim), 1, 1))
              |   AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END)) AS BIGINT) AS value
              | FROM wd GROUP BY 1, 2, 3),
              |sc AS (SELECT layer, node_id, dim,
              |  CASE WHEN value < 0 THEN -((-value) // 1000)
              |       ELSE value // 1000 END AS v FROM emb),
              |sampled AS (SELECT center_layer, center_id, context_layer,
              |  context_id, md5(center_layer || ':' || center_id || ':'
              |    || context_layer || ':' || context_id) AS mk
              | FROM pr WHERE NOT (center_layer = context_layer
              |   AND center_id = context_id)
              | ORDER BY mk LIMIT 200),
              |srn AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY mk)
              |  AS INT) AS rn FROM sampled),
              |rot AS (SELECT CAST(rn % 200 + 1 AS INT) AS rn,
              |  context_layer AS neg_layer, context_id AS neg_id FROM srn),
              |cases AS (SELECT s.rn, s.center_layer, s.center_id,
              |  s.context_layer, s.context_id, r.neg_layer, r.neg_id
              | FROM srn s JOIN rot r ON r.rn = s.rn),
              |ps AS (SELECT c.rn,
              |  CAST(SUM(ea.v * eb.v) AS BIGINT) AS pos_score
              | FROM cases c
              | JOIN sc ea ON ea.layer = c.center_layer
              |  AND ea.node_id = c.center_id
              | JOIN sc eb ON eb.layer = c.context_layer
              |  AND eb.node_id = c.context_id AND eb.dim = ea.dim
              | GROUP BY c.rn),
              |ns AS (SELECT c.rn,
              |  CAST(SUM(ea.v * eb.v) AS BIGINT) AS neg_score
              | FROM cases c
              | JOIN sc ea ON ea.layer = c.center_layer
              |  AND ea.node_id = c.center_id
              | JOIN sc eb ON eb.layer = c.neg_layer
              |  AND eb.node_id = c.neg_id AND eb.dim = ea.dim
              | GROUP BY c.rn)
              |SELECT c.rn, c.center_layer, c.center_id, c.context_layer,
              | c.context_id, c.neg_layer, c.neg_id,
              | COALESCE(ps.pos_score, 0) AS pos_score,
              | COALESCE(ns.neg_score, 0) AS neg_score,
              | COALESCE(ps.pos_score, 0) > COALESCE(ns.neg_score, 0)
              |   AS concordant
              |FROM cases c LEFT JOIN ps ON ps.rn = c.rn
              | LEFT JOIN ns ON ns.rn = c.rn
              |ORDER BY c.rn""".stripMargin)),

    QueryDef("x72_source_overlap",
      // pre-mixing overlap audit: pairwise shingle-Jaccard between
      // corpus sources estimated from per-source bottom-k KMV
      // sketches (|bottom_k(A∪B) ∩ A ∩ B| / |bottom_k(A∪B)|) — the
      // corpus collapses to |sources|·k sketch rows in one pass
      // (TopKPerGroup), and the exact-integer estimator re-derives
      // engine-for-engine, sketches included.
      (s, dir) => Dedup.sourceOverlap(docs(s, dir), k = 256)
        .orderBy("src_a", "src_b"),
      Some("""WITH toks AS (SELECT doc_id, source,
             |   string_split_regex(trim(text), '\s+') AS tk FROM documents),
             | sh AS (SELECT doc_id, source, list_distinct(
             |  [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |   for i in generate_series(1, len(tk) - 2)]) AS s FROM toks
             |  WHERE len(tk) >= 3),
             | hs0 AS (SELECT source AS src, UNNEST(s) AS x FROM sh),
             | hs AS (SELECT DISTINCT src,
             |   CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) AS h
             |  FROM hs0),
             | sk AS (SELECT src, h FROM hs
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY src
             |    ORDER BY h) <= 256),
             | srcs AS (SELECT DISTINCT src FROM sk),
             | pairs AS (SELECT a.src AS src_a, b.src AS src_b
             |  FROM srcs a, srcs b WHERE a.src < b.src),
             | pu AS (
             |  SELECT p.src_a, p.src_b, s.h, 'a' AS side
             |   FROM pairs p JOIN sk s ON s.src = p.src_a
             |  UNION ALL
             |  SELECT p.src_a, p.src_b, s.h, 'b'
             |   FROM pairs p JOIN sk s ON s.src = p.src_b),
             | u AS (SELECT src_a, src_b, h,
             |   MAX(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS in_a,
             |   MAX(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS in_b
             |  FROM pu GROUP BY 1, 2, 3),
             | r AS (SELECT * FROM u
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY src_a, src_b
             |    ORDER BY h) <= 256)
             |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS union_k,
             | CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
             |   AS BIGINT) AS inter_k,
             | CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
             |   * 1000000 // COUNT(*) AS BIGINT) AS jaccard_ppm
             |FROM r GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin)),

    QueryDef("x73_gif_video",
      // REAL animated-GIF decode through the JDK's actual LZW/palette
      // codec: each doc becomes an 8x6 4-frame GIF89a (hand-rolled
      // container + spec-conformant uncompressed-technique LZW,
      // grayscale identity palette), decodeGif samples every 2nd
      // frame through ImageIO. The palette is the identity, so the
      // DECODED gray values are closed-form and the oracle re-derives
      // the whole codec path with no codec — the x61 trick on a
      // fourth container family (GIF is the web corpus's animation
      // format).
      (s, dir) => {
        val media = Multimodal.synthesizeGif(
          docs(s, dir).select("doc_id"), "doc_id", 8, 6, nFrames = 4)
        Multimodal.decodeGif(media, dim = 16, every = 2)
          .where(col("decode_ok"))
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames"), col("frames_sampled"), col("sum_q"),
            posexplode(col("hist")).as(Seq("bucket", "cnt")))
          .where(col("cnt") > 0)
          .select(col("media_id"), col("width"), col("height"),
            col("n_frames"), col("frames_sampled"), col("sum_q"),
            col("bucket").cast("long").as("bucket"), col("cnt"))
          .orderBy("media_id", "bucket")
      },
      Some("""WITH px AS (SELECT d.doc_id, f.f, x.x, y.y
             |  FROM (SELECT doc_id FROM documents) d,
             |       (SELECT unnest([0, 2]) AS f) f,
             |       generate_series(0, 7) x(x), generate_series(0, 5) y(y)),
             | s AS (SELECT doc_id,
             |   3 * ((doc_id*31 + f*29 + x*7 + y*13) % 256) AS s
             |  FROM px),
             | tot AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS sum_q
             |  FROM s GROUP BY doc_id),
             | bk AS (SELECT doc_id, CAST(s % 16 AS BIGINT) AS bucket,
             |   COUNT(*) AS cnt FROM s GROUP BY 1, 2)
             |SELECT bk.doc_id AS media_id, CAST(8 AS BIGINT) AS width,
             | CAST(6 AS BIGINT) AS height, CAST(4 AS BIGINT) AS n_frames,
             | CAST(2 AS BIGINT) AS frames_sampled, tot.sum_q,
             | bk.bucket, bk.cnt
             |FROM bk JOIN tot USING (doc_id)
             |ORDER BY media_id, bucket""".stripMargin)),

    QueryDef("x74_group_budget_select",
      // per-domain token budgets — "N tokens of web, M of code" —
      // each source keeps its best docs while ITS running total fits
      // its budget (40% of the source's tokens here, derived as a
      // tiny aggregate). Same no-global-sort execution as x66 with
      // the group in every key; the oracle is the per-group cumsum.
      (s, dir) => {
        val scored = docs(s, dir).select(col("doc_id"), col("source"),
          expr("n_chars DIV 100").as("score"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        val budgets = scored.groupBy("source")
          .agg(expr("sum(n_tokens) * 2 DIV 5").as("budget"))
        Sampling.selectByBudgetByGroup(scored, "source", "doc_id",
            "score", "n_tokens", budgets)
          .orderBy("doc_id")
      },
      Some("""WITH s AS (SELECT doc_id, source,
             |   CAST(n_chars // 100 AS BIGINT) AS score,
             |   CAST(len(string_split_regex(trim(text), '\s+'))
             |     AS BIGINT) AS n_tokens
             |  FROM documents),
             | b AS (SELECT source, CAST(SUM(n_tokens) * 2 // 5 AS BIGINT)
             |   AS budget FROM s GROUP BY source)
             |SELECT s.doc_id, s.source, s.score, s.n_tokens,
             |  SUM(s.n_tokens) OVER (PARTITION BY s.source
             |    ORDER BY s.score DESC, md5(CAST(s.doc_id AS VARCHAR)),
             |      s.doc_id
             |    ROWS UNBOUNDED PRECEDING) <= b.budget AS kept
             |FROM s JOIN b USING (source) ORDER BY s.doc_id""".stripMargin)),

    QueryDef("x75_strip_markup",
      // web-corpus boilerplate removal: each doc wrapped in a crawl-
      // shaped HTML shell (script + style + comment + tags +
      // entities), then stripMarkup recovers the prose — script/style
      // contents dropped, tags dropped, entities decoded, whitespace
      // squeezed. Java∩RE2 patterns applied in a documented order, so
      // the oracle runs the IDENTICAL chain (the x32 scrub contract).
      (s, dir) => {
        val shell = concat(
          lit("<html><head><style>p { color: red }</style>" +
            "<script type=\"a\">var x = 1 &amp;&amp; 2;</script>" +
            "</head><body><!-- crawl artifact -->" +
            "<p class=\"main\">Title:&nbsp;"),
          col("text"),
          lit(" &amp; more</p></body></html>"))
        docs(s, dir).select(col("doc_id"),
            TextOps.stripMarkup(shell).as("clean"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, trim(regexp_replace(
             |  replace(replace(replace(replace(replace(replace(
             |   regexp_replace(
             |    regexp_replace(
             |     regexp_replace(
             |      regexp_replace(
             |       '<html><head><style>p { color: red }</style>' ||
             |       '<script type="a">var x = 1 &amp;&amp; 2;</script>' ||
             |       '</head><body><!-- crawl artifact -->' ||
             |       '<p class="main">Title:&nbsp;' || text ||
             |       ' &amp; more</p></body></html>',
             |       '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
             |     '(?s)<!--.*?-->', ' ', 'g'),
             |    '<[^>]*>', ' ', 'g'),
             |   '&nbsp;', ' '), '&quot;', '"'), '&apos;', ''''),
             |   '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
             |  '[ \t\n\r\f\x0B]+', ' ', 'g')) AS clean
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("x76_kmv_distinct",
      // audit-friendly approximate distinct: per-event-type distinct
      // users via a bottom-k KMV sketch over 48-bit md5 hashes,
      // estimator (k-1)*2^48 DIV v_k at capacity (exact below) —
      // unlike HLL (q14, rows-only by necessity), the sketch AND the
      // estimate re-derive bit-identically in the oracle.
      (s, dir) => ext.Profiling.kmvDistinct(
          EventStreams.readEvents(s, dir), "event_type", "user_id",
          k = 64)
        .orderBy("event_type"),
      Some("""WITH h AS (SELECT DISTINCT event_type AS g,
             |   CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
             |     AS BIGINT) AS h
             |  FROM events),
             | sk AS (SELECT g, h FROM h
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) <= 64),
             | a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_k,
             |   MAX(h) AS vk FROM sk GROUP BY g)
             |SELECT g AS event_type, n_k,
             | CAST(CASE WHEN n_k < 64 THEN n_k
             |      ELSE 63 * 281474976710656 // GREATEST(vk, 1) END
             |   AS BIGINT) AS distinct_est
             |FROM a ORDER BY event_type""".stripMargin)),

    QueryDef("x77_compaction_plan",
      // lakehouse maintenance: merge the accumulating small shards of
      // a 32-way export into loader-friendly groups — cumulative
      // quota bins over the manifest (one window over shards, never
      // the corpus), deterministic and engine-re-derivable. Composes
      // epochShuffle -> shardManifest -> planCompaction.
      (s, dir) => {
        val sharded = Sampling.epochShuffle(docs(s, dir), "doc_id",
          epoch = 1, shards = 32)
        Sampling.planCompaction(
            Sampling.shardManifest(sharded, "doc_id", "text"),
            "n_tokens", target = 40000L)
          .orderBy("shard")
      },
      Some("""WITH h AS (SELECT doc_id, text,
             |  CAST(CAST(('0x' || substr(md5('1:' ||
             |    CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 32 AS INT)
             |    AS shard FROM documents),
             | m AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(len(string_split_regex(trim(text), '\s+')))
             |    AS BIGINT) AS n_tokens,
             |  CAST(SUM(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
             |    || ':' || text), 1, 12)) AS BIGINT)) AS BIGINT) AS checksum
             |  FROM h GROUP BY shard),
             | b AS (SELECT *,
             |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY shard
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    // 40000 AS BIGINT) AS bin FROM m)
             |SELECT b.shard, b.n_rows, b.n_tokens, b.checksum, b.bin,
             |  CAST(SUM(b.n_tokens) OVER (PARTITION BY b.bin)
             |    AS BIGINT) AS bin_weight
             |FROM b ORDER BY shard""".stripMargin)),

    QueryDef("x78_score_calibration",
      // cross-source score calibration: raw quality scores are not
      // comparable across sources, so the gate runs on the WITHIN-
      // SOURCE percentile (integer-ppm empirical CDF, ties share a
      // rank). Computed without sorting the corpus: a (source, score)
      // histogram is cumsum'd on its own tiny self and broadcast
      // back — the oracle is the per-group RANK window.
      (s, dir) => {
        val scored = docs(s, dir).select(col("doc_id"), col("source"),
          expr("n_chars DIV 100").as("score"))
        TextOps.calibrateByGroup(scored, "source", "score")
          .orderBy("doc_id")
      },
      Some("""WITH s AS (SELECT doc_id, source,
             |   CAST(n_chars // 100 AS BIGINT) AS score FROM documents)
             |SELECT doc_id, source, score,
             | CAST((RANK() OVER (PARTITION BY source ORDER BY score) - 1)
             |   * 1000000 // (COUNT(*) OVER (PARTITION BY source))
             |   AS BIGINT) AS pct_ppm
             |FROM s ORDER BY doc_id""".stripMargin)),

    QueryDef("x79_curation_v2",
      // the second-generation composed recipe — this round's gates as
      // ONE dataflow: calibrate scores per source (x78) -> drop the
      // bottom quintile of every source -> per-source token-budget
      // cut on the calibrated percentile (x74) -> leakage-free 90/10
      // split over the kept corpus (x70) -> epoch shuffle of the
      // train split (x56). Hash-matched end to end against one
      // composed oracle: the proof the new wave composes into one
      // plan, like x57 proved for the first wave.
      (s, dir) => {
        val scored = docs(s, dir).select(col("doc_id"), col("source"),
          col("text"), expr("n_chars DIV 100").as("score"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        val gated = TextOps.calibrateByGroup(scored, "source", "score")
          .filter(col("pct_ppm") >= 200000L)
        val budgets = gated.groupBy("source")
          .agg(expr("sum(n_tokens) DIV 2").as("budget"))
        val kept = Sampling.selectByBudgetByGroup(gated, "source",
            "doc_id", "pct_ppm", "n_tokens", budgets)
          .filter(col("kept")).drop("kept")
        val pairs = Dedup.minhashLshPortable(kept, threshold = 0.5)
        val split = Sampling.leakFreeSplit(kept, pairs, "doc_id",
          Seq("train" -> 0.9, "eval" -> 0.1))
        Sampling.epochShuffle(split.filter(col("split") === "train"),
            "doc_id", epoch = 3, shards = 8)
          .select("doc_id", "source", "pct_ppm", "grp", "shard", "pos")
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE s AS (SELECT doc_id, source, text,
             |   CAST(n_chars // 100 AS BIGINT) AS score,
             |   CAST(len(string_split_regex(trim(text), '\s+'))
             |     AS BIGINT) AS n_tokens
             |  FROM documents),
             | cal AS (SELECT *, CAST((RANK() OVER (PARTITION BY source
             |    ORDER BY score) - 1) * 1000000
             |    // (COUNT(*) OVER (PARTITION BY source)) AS BIGINT)
             |    AS pct_ppm FROM s),
             | gated AS (SELECT * FROM cal WHERE pct_ppm >= 200000),
             | b AS (SELECT source, CAST(SUM(n_tokens) // 2 AS BIGINT)
             |   AS budget FROM gated GROUP BY source),
             | cm AS (SELECT g.*, b.budget,
             |   SUM(g.n_tokens) OVER (PARTITION BY g.source
             |     ORDER BY g.pct_ppm DESC, md5(CAST(g.doc_id AS VARCHAR)),
             |       g.doc_id
             |     ROWS UNBOUNDED PRECEDING) AS cumtk
             |  FROM gated g JOIN b USING (source)),
             | kept AS (SELECT * FROM cm WHERE cumtk <= budget),
             | toks AS (SELECT doc_id,
             |   string_split_regex(trim(text), '\s+') AS tk FROM kept),
             | shg AS (SELECT doc_id, list_distinct(
             |  [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |   for i in generate_series(1, len(tk) - 2)]) AS sg FROM toks
             |  WHERE len(tk) >= 3),
             | hs AS (SELECT doc_id, sg,
             |  [CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 2147483647
             |   for x in sg] AS h FROM shg WHERE len(sg) > 0),
             | sig AS (SELECT doc_id, sg,
             |  [list_min([(hv * (2*k+1) + k) % 2147483647 for hv in h])
             |   for k in generate_series(0, 15)] AS sig FROM hs),
             | banded AS (SELECT doc_id, bb,
             |  array_to_string(sig[bb*4+1 : bb*4+4], ',') AS bkey
             |  FROM sig, generate_series(0, 3) AS gg(bb)),
             | cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b2
             |  FROM banded l JOIN banded r
             |    ON l.bb = r.bb AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
             | verified AS (SELECT c.a, c.b2,
             |  CAST(len(list_intersect(sa.sg, sb.sg)) AS DOUBLE)
             |   / (len(sa.sg) + len(sb.sg) - len(list_intersect(sa.sg, sb.sg)))
             |   AS jaccard
             |  FROM cand c JOIN sig sa ON sa.doc_id = c.a
             |  JOIN sig sb ON sb.doc_id = c.b2),
             | p AS (SELECT a, b2 FROM verified WHERE jaccard >= 0.5),
             | e AS (SELECT a, b2 FROM p UNION SELECT b2, a FROM p),
             | reach(id, r) AS (
             |  SELECT a, a FROM e
             |  UNION
             |  SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b2),
             | cl AS (SELECT id AS doc_id, MIN(r) AS cluster
             |  FROM reach GROUP BY id),
             | g2 AS (SELECT k.doc_id, k.source, k.pct_ppm,
             |   COALESCE(cl.cluster, k.doc_id) AS grp
             |  FROM kept k LEFT JOIN cl ON cl.doc_id = k.doc_id),
             | sp AS (SELECT *, CAST(('0x' || substr(md5(CAST(grp AS VARCHAR)),
             |    1, 15)) AS BIGINT) % 10000 AS bk FROM g2),
             | train AS (SELECT doc_id, source, pct_ppm, grp FROM sp
             |  WHERE bk < 9000),
             | h2 AS (SELECT *, md5('3:' || CAST(doc_id AS VARCHAR)) AS eh
             |  FROM train),
             | sh2 AS (SELECT *, CAST(CAST(('0x' || substr(eh, 1, 15))
             |   AS BIGINT) % 8 AS INT) AS shard FROM h2)
             |SELECT doc_id, source, pct_ppm, grp, shard,
             |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
             |    ORDER BY eh, doc_id) AS BIGINT) AS pos
             |FROM sh2 ORDER BY doc_id""".stripMargin)),

    QueryDef("x80_image_neardup",
      // image dedup through the REAL codec path: every doc renders a
      // 16x16 PNG seeded by doc_id % 250 (so 250 exact-duplicate
      // image pairs exist under distinct ids), imageAHash fingerprints
      // the DECODED pixels (all-integer average hash, grid 4), and
      // prefix-blocked Hamming pairing surfaces the duplicates — the
      // SimHash x08 shape on images. PNG is lossless, so the oracle
      // re-derives hashes AND pairs from the closed-form pixels with
      // no codec.
      (s, dir) => {
        val media = Multimodal.synthesizePng(
          docs(s, dir).select(col("doc_id"),
            (col("doc_id") % 250).as("seed")),
          "doc_id", 16, 16, seedCol = Some("seed"))
        Multimodal.imageNearDupPairs(
            Multimodal.imageAHash(media, grid = 4),
            maxDist = 2, blockShift = 8)
          .orderBy("a", "b")
      },
      Some("""WITH px AS (SELECT doc_id, doc_id % 250 AS seed, x.x, y.y
             |  FROM documents, generate_series(0, 15) x(x),
             |       generate_series(0, 15) y(y)),
             | g AS (SELECT doc_id,
             |   ((seed*31 + x*7 + y*13) % 256 + (seed*17 + x*11 + y*3) % 256
             |    + (seed*23 + x*5 + y*19) % 256) // 3 AS gray,
             |   x // 4 AS bi, y // 4 AS bj FROM px),
             | bm AS (SELECT doc_id, bi, bj,
             |   CAST(SUM(gray) // 16 AS BIGINT) AS m
             |  FROM g GROUP BY 1, 2, 3),
             | th AS (SELECT doc_id, CAST(SUM(m) // 16 AS BIGINT) AS thr
             |  FROM bm GROUP BY 1),
             | ah AS (SELECT bm.doc_id, CAST(SUM(CASE WHEN m > thr
             |    THEN CAST(1 AS BIGINT) << (bj*4 + bi) ELSE 0 END)
             |    AS BIGINT) AS ahash
             |  FROM bm JOIN th USING (doc_id) GROUP BY bm.doc_id)
             |SELECT l.doc_id AS a, r.doc_id AS b,
             |  CAST(bit_count(xor(l.ahash, r.ahash)) AS INT) AS hamming
             |FROM ah l JOIN ah r
             |  ON (l.ahash >> 8) = (r.ahash >> 8) AND l.doc_id < r.doc_id
             |WHERE bit_count(xor(l.ahash, r.ahash)) <= 2
             |ORDER BY a, b""".stripMargin)),

    QueryDef("x81_audio_fingerprint",
      // audio fingerprinting through the REAL codec path — the x80
      // hash on sound: each doc renders a 256-sample WAV seeded by
      // (doc_id % 250) * 997 (phases spread over the sawtooth period;
      // 250 exact-duplicate clips exist under distinct ids),
      // audioFingerprint hashes the DECODED PCM via all-integer
      // window-energy bits. PCM is lossless, so the oracle re-derives
      // every fingerprint from the closed-form samples with no codec;
      // the blocked pairing over these prints runs in ExtSpec (the
      // coarse synthetic ramps shadow too many docs per print for a
      // corpus-scale pair listing to be meaningful).
      (s, dir) => {
        val media = Multimodal.synthesizeWav(
          docs(s, dir).select(col("doc_id"),
            ((col("doc_id") % 250) * 997).as("seed")),
          "doc_id", nSamples = 256, seedCol = Some("seed"))
        Multimodal.audioFingerprint(media, windows = 16)
          .where(col("decode_ok"))
          .select(col("media_id"), col("afp"))
          .orderBy("media_id")
      },
      Some("""WITH sm AS (SELECT doc_id, (doc_id % 250) * 997 AS seed, i.i
             |  FROM documents, generate_series(0, 255) i(i)),
             | v AS (SELECT doc_id,
             |   ABS((seed*31 + i*7) % 65536 - 32768) AS av,
             |   CAST(i // 16 AS INT) AS w FROM sm),
             | en AS (SELECT doc_id, w, CAST(SUM(av) AS BIGINT) AS e
             |  FROM v GROUP BY 1, 2),
             | th AS (SELECT doc_id, CAST(SUM(e) // 16 AS BIGINT) AS thr
             |  FROM en GROUP BY 1)
             |SELECT en.doc_id AS media_id, CAST(SUM(CASE WHEN e > thr
             |   THEN CAST(1 AS BIGINT) << w ELSE 0 END) AS BIGINT) AS afp
             |FROM en JOIN th USING (doc_id) GROUP BY en.doc_id
             |ORDER BY media_id""".stripMargin)),

    QueryDef("x82_video_neardup",
      // the video leg of the media-dedup triad: each doc renders an
      // 8x6 2-frame PNG-in-AVI seeded by doc_id % 250 (250 planted
      // duplicate clips), every frame decodes through the REAL
      // ImageIO path and fingerprints with the integer average hash,
      // and clips pair by SHARED FRAME HASHES — the text-shingle
      // equi-join shape on video (join on the 8-byte hash, never
      // all-pairs clips). minShared = 2 demands both frames match.
      // Lossless frames -> hashes AND pairs re-derive in the oracle.
      (s, dir) => {
        val media = Multimodal.synthesizeAvi(
          docs(s, dir).select(col("doc_id"),
            (col("doc_id") % 250).as("seed")),
          "doc_id", 8, 6, nFrames = 2, codec = "png",
          seedCol = Some("seed"))
        Multimodal.videoNearDupPairs(
            Multimodal.videoFrameHashes(media, grid = 4),
            minShared = 2L)
          .orderBy("a", "b")
      },
      Some("""WITH px AS (SELECT doc_id, doc_id % 250 AS seed, f.f, x.x, y.y
             |  FROM documents, (SELECT UNNEST([0, 1]) AS f) f,
             |       generate_series(0, 7) x(x), generate_series(0, 5) y(y)),
             | g AS (SELECT doc_id, f,
             |   ((seed*31 + f*29 + x*7 + y*13) % 256
             |    + (seed*17 + f*41 + x*11 + y*3) % 256
             |    + (seed*23 + f*37 + x*5 + y*19) % 256) // 3 AS gray,
             |   CAST(x // 2 AS INT) AS bi,
             |   CAST(LEAST(y*4 // 6, 3) AS INT) AS bj
             |  FROM px),
             | bm AS (SELECT doc_id, f, bi, bj,
             |   CAST(SUM(gray) // COUNT(*) AS BIGINT) AS m
             |  FROM g GROUP BY 1, 2, 3, 4),
             | th AS (SELECT doc_id, f, CAST(SUM(m) // 16 AS BIGINT) AS thr
             |  FROM bm GROUP BY 1, 2),
             | fh AS (SELECT bm.doc_id, bm.f, CAST(SUM(CASE WHEN m > thr
             |    THEN CAST(1 AS BIGINT) << (bj*4 + bi) ELSE 0 END)
             |    AS BIGINT) AS fhash
             |  FROM bm JOIN th ON th.doc_id = bm.doc_id AND th.f = bm.f
             |  GROUP BY 1, 2),
             | dd AS (SELECT DISTINCT doc_id, fhash FROM fh)
             |SELECT l.doc_id AS a, r.doc_id AS b,
             |  CAST(COUNT(*) AS BIGINT) AS shared_frames
             |FROM dd l JOIN dd r
             |  ON l.fhash = r.fhash AND l.doc_id < r.doc_id
             |GROUP BY 1, 2 HAVING COUNT(*) >= 2
             |ORDER BY a, b""".stripMargin)),

    QueryDef("x83_media_health",
      // the decode-health governance card: a mixed corpus (PNG image,
      // WAV audio, PNG-AVI video, animated GIF per doc) with a
      // deterministic poison plan (doc_id % 25 == 0 loses its
      // payload) routes through the REAL decoders; the card reports
      // per-modality decode rates in integer ppm. The oracle knows
      // only the poison plan — the hash-match proves every healthy
      // synthesized payload actually decodes through its codec.
      (s, dir) => {
        val ids = docs(s, dir).select("doc_id")
        val poison = (m: DataFrame) => m.withColumn("payload",
          when(col("media_id") % 25 === 0,
            lit(null).cast("binary")).otherwise(col("payload")))
        val mixed = poison(Multimodal.synthesizePng(ids, "doc_id", 8, 6))
          .unionByName(poison(Multimodal.synthesizeWav(ids, "doc_id", 64)))
          .unionByName(poison(Multimodal.synthesizeAvi(ids, "doc_id",
            8, 6, nFrames = 2, codec = "png")))
          .unionByName(poison(Multimodal.synthesizeGif(ids, "doc_id",
            8, 6, nFrames = 2)))
        Multimodal.mediaHealthCard(mixed).orderBy("modality")
      },
      Some("""WITH m AS (
             |  SELECT 'image' AS modality, doc_id FROM documents
             |  UNION ALL SELECT 'audio', doc_id FROM documents
             |  UNION ALL SELECT 'video', doc_id FROM documents
             |  UNION ALL SELECT 'video', doc_id FROM documents)
             |SELECT modality, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CASE WHEN doc_id % 25 = 0 THEN 0 ELSE 1 END)
             |    AS BIGINT) AS n_ok,
             |  CAST(SUM(CASE WHEN doc_id % 25 = 0 THEN 0 ELSE 1 END)
             |    * 1000000 // COUNT(*) AS BIGINT) AS ok_ppm
             |FROM m GROUP BY modality ORDER BY modality""".stripMargin))
  )

  // ============================================================= contract

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    defs.head.fn(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.fn).toMap

  def oracleSql: Map[String, String] =
    defs.collect { case QueryDef(n, _, Some(sql)) => n -> sql }.toMap
}
