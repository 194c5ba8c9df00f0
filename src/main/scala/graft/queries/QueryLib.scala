package graft.queries

import graft.api.{ArrowSpaceBuilder, ArrowSpaceModel}
import graft.core.GraphParams
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession, functions => F}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.concurrent.TrieMap

/** What several query families share: the sf-table loaders, the one
  * index build per sf directory, the stream harness, and the DuckDB CTE
  * builders that more than one family's oracles use.
  */
private[graft] object QueryLib {

  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events.parquet has shipped with two `ts` layouts: TIMESTAMP(NANOS)
    * (which Spark 4 rejects at schema inference unless the legacy
    * nanos-as-long conf maps it to BIGINT) and, since the 2026-08
    * testdata refresh, plain TIMESTAMP(MICROS). EVERY events read goes
    * through here so the conf is always set BEFORE inference (a query
    * must never depend on an earlier query in the run having set it)
    * and so both layouts resolve — the raw frame exposes `ts` as BIGINT
    * nanos or as a timestamp depending on the file; time arithmetic
    * belongs on [[eventsUs]], which normalizes the difference.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tbl(s, dir, "events")
  }

  /** events with `ts` normalized to an exact microsecond TIMESTAMP
    * regardless of the file layout:
    *  - BIGINT nanos → integer `div 1000`, NOT `/ 1000` — Divide
    *    promotes the ~1.7e18 nanos to double (above 2^53), losing up
    *    to ~128 ns before the cast, so values near hour/session/range
    *    boundaries would disagree with the oracle's exact arithmetic;
    *  - TIMESTAMP_NTZ (micros files) → cast to TIMESTAMP, exact under
    *    the UTC session timezone Verify pins;
    *  - TIMESTAMP → already what downstream `cast("long")` epoch
    *    arithmetic expects.
    */
  def eventsUs(s: SparkSession, dir: String): DataFrame = {
    val raw = events(s, dir)
    val tsCol = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        F.timestamp_micros(F.expr("ts div 1000"))
      case _ => F.col("ts").cast("timestamp")
    }
    raw.withColumn("ts", tsCol)
  }

  def docs(s: SparkSession, dir: String): DataFrame =
    graft.sources.CorpusSources.documents(s, s"$dir/documents.parquet")

  /** embeddings normalized to the engine schema (id, vec). */
  def emb(s: SparkSession, dir: String): DataFrame =
    graft.sources.CorpusSources.embeddings(s, s"$dir/embeddings.parquet")

  /** A fresh local directory for one row's layouts, sinks and checkpoints. */
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs a streaming row as a real stream: `start` wires a MemoryStream,
    * its columns renamed to `cols`, into the operator under test; each
    * of `batches` is then added and fully processed in order, with
    * `before(i)` run ahead of batch i (a fold between batches), and the
    * query stops even when a batch fails.
    */
  def streamBatches[T: Encoder](
      s: SparkSession,
      batches: Seq[Seq[T]],
      cols: Seq[String],
      before: Int => Unit = _ => ())(
      start: DataFrame => StreamingQuery): Unit = {
    val ms = MemoryStream[T](s)
    val q = start(ms.toDF().toDF(cols: _*))
    try batches.zipWithIndex.foreach { case (b, i) =>
      before(i)
      ms.addData(b)
      q.processAllAvailable()
    } finally q.stop()
  }

  /** Default index params for the synthetic embeddings: they are
    * near-orthogonal, so an eps below ~0.6 yields an empty graph —
    * measure with [[graft.api.ArrowSpaceBuilder.suggestEps]] (README
    * "choosing eps") before tuning on a new corpus.
    */
  val defaultParams = GraphParams(eps = 1.0, k = 10, topk = 10)

  /** One index build per (sfDir) per JVM: queries a_* share it. */
  private val modelCache = TrieMap.empty[String, (ArrowSpaceModel, DataFrame)]

  def model(s: SparkSession, dir: String): (ArrowSpaceModel, DataFrame) =
    modelCache.getOrElseUpdate(dir, ArrowSpaceBuilder.build(emb(s, dir), defaultParams))

  private val energyCache = TrieMap.empty[String, (ArrowSpaceModel, DataFrame)]

  def energyModel(s: SparkSession, dir: String): (ArrowSpaceModel, DataFrame) =
    energyCache.getOrElseUpdate(
      dir,
      graft.api.EnergyBuilder.buildEnergy(
        emb(s, dir), graft.core.EnergyParams(), defaultParams))

  /** Deterministic query vector: the embedding with id 0. */
  def queryVec(s: SparkSession, dir: String): Array[Double] =
    emb(s, dir).where(F.col("id") === 0).select("vec").head.getSeq[Double](0).toArray

  /** Shared DuckDB CTE chain for the dedup oracles: word-3-gram
    * shingle sets → prefix-filtered candidate pairs (complete for
    * J ≥ 0.8: the 0.2·n+1 prefix length is the standard prefix-filter
    * bound) → exact Jaccard. Ends in jpairs(doc_a, doc_b, jaccard).
    */
  val JaccardPairsCte =
    """tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM documents),
      |shl AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |    ELSE list_distinct(list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
      |  FROM tok),
      |ssh AS (SELECT doc_id, list_sort(s) AS s, len(s) AS n FROM shl),
      |pref AS (
      |  SELECT doc_id,
      |    unnest(s[1 : greatest(1, cast(floor(0.2 * n) as int) + 1)]) AS pt
      |  FROM ssh),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM pref a JOIN pref b ON a.pt = b.pt AND a.doc_id < b.doc_id),
      |jpairs AS (
      |  SELECT doc_a, doc_b,
      |    round(len(list_intersect(x.s, y.s))::DOUBLE /
      |      (x.n + y.n - len(list_intersect(x.s, y.s))), 4) AS jaccard
      |  FROM cand JOIN ssh x ON x.doc_id = cand.doc_a
      |            JOIN ssh y ON y.doc_id = cand.doc_b)""".stripMargin

  /** The streaming gate's sequential replay chain (batch 1 collapse +
    * base check, batch 2 against base ∪ batch-1 survivors), shared by
    * the gate oracle and the takedown oracle built on top of it.
    * Requires [[JaccardPairsCte]] earlier in the same WITH.
    */
  val GateReplayCtes =
    """fpk AS (
      |  SELECT doc_id,
      |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |b1k AS (
      |  SELECT min(doc_id) AS doc_id FROM fpk
      |  WHERE doc_id % 10 BETWEEN 1 AND 4 GROUP BY fp),
      |s1w AS (
      |  SELECT doc_id FROM b1k WHERE doc_id NOT IN (
      |    SELECT j.doc_b FROM jpairs j
      |    JOIN b1k ka ON ka.doc_id = j.doc_a
      |    JOIN b1k kb ON kb.doc_id = j.doc_b
      |    WHERE j.jaccard >= 0.8)),
      |s1 AS (
      |  SELECT doc_id FROM s1w WHERE doc_id NOT IN (
      |    SELECT doc_a FROM jpairs WHERE jaccard >= 0.8 AND doc_b % 10 = 0
      |    UNION
      |    SELECT doc_b FROM jpairs WHERE jaccard >= 0.8 AND doc_a % 10 = 0)),
      |b2k AS (
      |  SELECT min(doc_id) AS doc_id FROM fpk
      |  WHERE doc_id % 10 >= 5 GROUP BY fp),
      |s2w AS (
      |  SELECT doc_id FROM b2k WHERE doc_id NOT IN (
      |    SELECT j.doc_b FROM jpairs j
      |    JOIN b2k ka ON ka.doc_id = j.doc_a
      |    JOIN b2k kb ON kb.doc_id = j.doc_b
      |    WHERE j.jaccard >= 0.8)),
      |ref AS (
      |  SELECT doc_id FROM documents WHERE doc_id % 10 = 0
      |  UNION SELECT doc_id FROM s1),
      |s2 AS (
      |  SELECT doc_id FROM s2w WHERE doc_id NOT IN (
      |    SELECT j.doc_a FROM jpairs j
      |      JOIN ref r ON r.doc_id = j.doc_b WHERE j.jaccard >= 0.8
      |    UNION
      |    SELECT j.doc_b FROM jpairs j
      |      JOIN ref r ON r.doc_id = j.doc_a WHERE j.jaccard >= 0.8))""".stripMargin

  /** The IVF batch-retrieval replay (kmeans recurrence → per-qid probe
    * ranking → probe-bounded scoring → per-qid top-10) — shared verbatim
    * by `v_ivf_topk_batch` and the streamed `s_ivf_query_stream`, whose
    * union-of-micro-batches equals the batch operator row-for-row.
    */
  lazy val ivfTopKBatchReplaySql: String =
    (s"""WITH ivsrc AS (SELECT vec_id AS id,
        |  generate_subscripts(embedding, 1) AS f,
        |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |${kmeansCtes("ivsrc", 16, 15, "iv")},
        |qs AS (SELECT id AS qid, f, x FROM ivsrc WHERE id <= 4),
        |cq AS (SELECT q.qid, k.c,
        |  1.0 - sum(k.cx * q.x) / sqrt(sum(k.cx * k.cx) * sum(q.x * q.x)) AS d
        |  FROM ivkc15 k JOIN qs q ON q.f = k.f GROUP BY q.qid, k.c),
        |probes AS (SELECT qid, c FROM (
        |  SELECT qid, c, row_number() OVER (
        |    PARTITION BY qid ORDER BY d, c) AS rn FROM cq) WHERE rn <= 12),
        |sel AS (SELECT p.qid, fin.id
        |  FROM ivfin fin JOIN probes p ON p.c = fin.c),
        |scored AS (SELECT s.qid, a.id,
        |  round(sum(a.x * q.x) / sqrt(sum(a.x * a.x) * sum(q.x * q.x)), 4)
        |    AS score
        |  FROM ivsrc a JOIN sel s ON s.id = a.id
        |  JOIN qs q ON q.qid = s.qid AND q.f = a.f
        |  GROUP BY s.qid, a.id)
        |SELECT qid, id, score FROM (
        |  SELECT qid, id, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
        |  FROM scored) WHERE rn <= 10
        |ORDER BY qid, score DESC, id ASC""".stripMargin
      .replace(" AS (", " AS MATERIALIZED ("))

  /** Shared DuckDB CTE chain: the a_* index's eps-kNN item graph from
    * the raw embeddings — directed knn (eps=1, k=10), symmetrized with
    * min-dist (symd), kernel weights (w), unweighted adjacency (sym),
    * nodes, and out-degrees. Mirrors KnnGraph.epsKnnEdges with the
    * default GraphParams.
    */
  val GraphBaseCte: String =
    """e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |cos_pairs AS (
      |  SELECT a.id AS src, b.id AS dst,
      |    1.0 - greatest(0.0, list_cosine_similarity(a.v, b.v)) AS d
      |  FROM e a JOIN e b ON a.id <> b.id),
      |knn AS (
      |  SELECT src, dst, d FROM (
      |    SELECT src, dst, d,
      |      row_number() OVER (PARTITION BY src ORDER BY d, dst) AS rn
      |    FROM cos_pairs WHERE d <= 1.0)
      |  WHERE rn <= 10),
      |symd AS (
      |  SELECT src, dst, min(d) AS d FROM (
      |    SELECT src, dst, d FROM knn
      |    UNION ALL SELECT dst AS src, src AS dst, d FROM knn)
      |  GROUP BY src, dst),
      |sym AS (SELECT src, dst FROM symd),
      |w AS (SELECT src, dst, 1.0 / (1.0 + pow(d / 0.5, 2.0)) AS w FROM symd),
      |nodes AS (SELECT DISTINCT src AS id FROM sym),
      |outdeg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src)"""
      .stripMargin

  /** Unrolled personalized-PageRank recurrence from anchor 0
    * (GraphX staticPersonalizedPageRank: r ← 0.15·δ + 0.85·Σ r/outdeg,
    * r0 = δ, no final normalization). Ends in r`iters`(id, r). */
  def pprRoundsCte(iters: Int): String =
    "r0 AS (SELECT id, CASE WHEN id = 0 THEN 1.0 ELSE 0.0 END AS r FROM nodes)" +
      (0 until iters).map { i =>
        s""",
           |r${i + 1} AS (
           |  SELECT n.id, (CASE WHEN n.id = 0 THEN 0.15 ELSE 0.0 END) +
           |    0.85 * coalesce(s.msum, 0.0) AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e2.dst AS id, sum(r$i.r / od.deg) AS msum
           |    FROM sym e2 JOIN r$i ON r$i.id = e2.src
           |    JOIN outdeg od ON od.id = e2.src
           |    GROUP BY e2.dst) s ON s.id = n.id)""".stripMargin
      }.mkString

  /** Unrolled synchronous label propagation with the engine's total
    * tie order (most frequent neighbor label, ties → smallest label;
    * init label = id). Ends in lab`steps`(id, lab). */
  def lpaRoundsCte(steps: Int): String =
    "lab0 AS (SELECT id, id AS lab FROM nodes)" +
      (0 until steps).map { i =>
        s""",
           |lab${i + 1} AS (
           |  SELECT id, lab FROM (
           |    SELECT s.src AS id, l.lab,
           |      row_number() OVER (PARTITION BY s.src
           |        ORDER BY count(*) DESC, l.lab ASC) AS rn
           |    FROM sym s JOIN lab$i l ON l.id = s.dst
           |    GROUP BY s.src, l.lab) WHERE rn = 1)""".stripMargin
      }.mkString

  /** Shared DuckDB CTE: the taumode spectral pipeline from the raw
    * embeddings table, mirroring FeatureLaplacian.build +
    * LocalLaplacian.synth + TauMode.Median with the a_* queries'
    * GraphParams(eps=1.0, k=10, topk=10, p=2.0, σ=eps/2=0.5).
    * Validated: max |λ_duck − λ_spark| = 8.9e-16 at sf0.01.
    */
  val SpectralCte: String =
    """WITH x AS (
      |  SELECT vec_id AS id,
      |         generate_subscripts(embedding, 1) AS f,
      |         CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |gram AS (
      |  SELECT a.f AS f, b.f AS g, sum(a.v * b.v) AS m
      |  FROM x a JOIN x b ON a.id = b.id AND a.f <= b.f
      |  GROUP BY a.f, b.f),
      |diag AS (SELECT f, m FROM gram WHERE f = g),
      |lap_edges AS (
      |  SELECT gr.f, gr.g,
      |    1.0 / (1.0 + pow((1.0 - greatest(0.0,
      |      CASE WHEN da.m * db.m <= 0 THEN 0.0
      |           ELSE gr.m / sqrt(da.m * db.m) END)) / 0.5, 2.0)) AS w
      |  FROM gram gr
      |  JOIN diag da ON da.f = gr.f
      |  JOIN diag db ON db.f = gr.g
      |  WHERE gr.f < gr.g),
      |contrib AS (
      |  SELECT xa.id, e.w * (xa.v - xb.v) * (xa.v - xb.v) AS c
      |  FROM lap_edges e
      |  JOIN x xa ON xa.f = e.f
      |  JOIN x xb ON xb.id = xa.id AND xb.f = e.g),
      |energy AS (
      |  SELECT id, sum(c) AS e_raw,
      |    CASE WHEN sum(c) <= 0 THEN 0.0
      |         ELSE least(1.0, greatest(0.0, sum(c * c) / (sum(c) * sum(c)))) END AS gini
      |  FROM contrib GROUP BY id),
      |tau AS (SELECT quantile_disc(e_raw, 0.5) AS t FROM energy),
      |lam AS (
      |  SELECT en.id,
      |    (t.t / (1.0 + t.t)) *
      |      (CASE WHEN en.e_raw + t.t = 0 THEN 0.0
      |            ELSE en.e_raw / (en.e_raw + t.t) END) +
      |    (1.0 - t.t / (1.0 + t.t)) * en.gini AS lambda,
      |    en.e_raw AS e_raw
      |  FROM energy en CROSS JOIN tau t)""".stripMargin

  /** [[graft.scale.DeterministicKMeans]]'s exact recurrence as a CTE
    * chain over `src`(id, f, x) in long form: farthest-first seeding
    * from the smallest id (k−1 running-min-distance picks, ties →
    * max distance then smaller id), then `iters` Lloyd rounds
    * (assignment ties → smaller index; empty clusters keep their
    * center). Emits CTEs prefixed `p`, ending in ${p}kc`iters`
    * (c, f, cx) and the final assignment ${p}fin(id, c).
    */
  def kmeansCtes(src: String, k: Int, iters: Int, p: String): String = {
    val sb = new StringBuilder
    sb.append(
      s"""
         |${p}sp0 AS (SELECT min(id) AS id FROM $src),
         |${p}cent0 AS (SELECT 0 AS c, t.f, t.x AS cx
         |  FROM $src t JOIN ${p}sp0 s ON t.id = s.id),
         |${p}md0 AS (SELECT t.id, sum((t.x - c0.cx) * (t.x - c0.cx)) AS md
         |  FROM $src t JOIN ${p}cent0 c0 ON c0.f = t.f GROUP BY t.id)""".stripMargin)
    for (i <- 1 until k) {
      sb.append(
        s""",
           |${p}pick$i AS (SELECT id FROM ${p}md${i - 1} ORDER BY md DESC, id ASC LIMIT 1),
           |${p}cent$i AS (SELECT $i AS c, t.f, t.x AS cx
           |  FROM $src t JOIN ${p}pick$i pk ON t.id = pk.id)""".stripMargin)
      if (i < k - 1) sb.append(
        s""",
           |${p}md$i AS (SELECT m.id, least(m.md, d.nd) AS md FROM ${p}md${i - 1} m JOIN (
           |    SELECT t.id, sum((t.x - ci.cx) * (t.x - ci.cx)) AS nd
           |    FROM $src t JOIN ${p}cent$i ci ON ci.f = t.f GROUP BY t.id) d
           |  ON d.id = m.id)""".stripMargin)
    }
    sb.append(
      (0 until k).map(i => s"SELECT * FROM ${p}cent$i")
        .mkString(s",\n${p}kc0 AS (", " UNION ALL ", ")"))
    for (j <- 1 to iters) sb.append(
      s""",
         |${p}kc$j AS (
         |  SELECT k.c, k.f, coalesce(nm2.mx, k.cx) AS cx
         |  FROM ${p}kc${j - 1} k LEFT JOIN (
         |    SELECT asg.c, t.f, avg(t.x) AS mx
         |    FROM (
         |      SELECT id, c FROM (
         |        SELECT t.id, k2.c,
         |          row_number() OVER (PARTITION BY t.id
         |            ORDER BY sum((t.x - k2.cx) * (t.x - k2.cx)) ASC, k2.c ASC) AS rn
         |        FROM $src t JOIN ${p}kc${j - 1} k2 ON k2.f = t.f
         |        GROUP BY t.id, k2.c)
         |      WHERE rn = 1) asg
         |    JOIN $src t ON t.id = asg.id
         |    GROUP BY asg.c, t.f) nm2 ON nm2.c = k.c AND nm2.f = k.f)""".stripMargin)
    sb.append(
      s""",
         |${p}fin AS (SELECT id, c FROM (
         |  SELECT t.id, k2.c,
         |    row_number() OVER (PARTITION BY t.id
         |      ORDER BY sum((t.x - k2.cx) * (t.x - k2.cx)) ASC, k2.c ASC) AS rn
         |  FROM $src t JOIN ${p}kc$iters k2 ON k2.f = t.f
         |  GROUP BY t.id, k2.c) WHERE rn = 1)""".stripMargin)
    sb.toString
  }
}
