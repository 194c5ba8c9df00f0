package graft.queries

import graft.operators.Similarity
import org.apache.spark.sql.{functions => F}
import graft.queries.QueryLib._

/** Incremental profiles and drift from persisted sketch and
  * histogram state. */
private[graft] object ProfileQueries {

  val specs: Seq[QuerySpec] = Seq(
    // INCREMENTAL profiling: three per-shard mergeable sketch sidecars
    // (counts + moment sums + HLL binaries) folded into the profile
    // shape WITHOUT rescanning the corpus — the per-drop shape at
    // 100 TB. Counts/min/max/mean/std are exact through the merge and
    // oracled directly; the HLL distinct estimate is approximate by
    // contract, so the row carries its ACCURACY CLAIM instead
    // (dist_ok = estimate within ±5% of exact — the oracle pins it
    // to 1, so an estimator regression goes red, not unnoticed).
    QuerySpec("p_incr_profile", (s, d) => {
      import graft.operators.Profile
      val all = docs(s, d)
      val cols = Seq("lang", "n_chars", "source")
      val sidecars = (0 until 3).map(k =>
          Profile.sketchShard(all.where(F.col("doc_id") % 3 === k), cols))
        .reduce(_ unionByName _)
      val merged = Profile.mergeShards(sidecars)
      val exact = Profile.profile(all, cols)
        .select(F.col("column"), F.col("n_distinct").as("exact_distinct"))
      merged.join(exact, "column")
        .select(
          F.col("column"), F.col("n_rows"), F.col("n_nulls"),
          (F.abs(F.col("n_distinct") - F.col("exact_distinct")) <=
            F.lit(0.05) * F.col("exact_distinct")).cast("int").as("dist_ok"),
          F.col("min_v"), F.col("max_v"), F.col("mean_v"), F.col("std_v"))
        .orderBy("column")
    },
      // exact stats replayed per column; dist_ok pinned to 1 — the
      // engine side emits 0 there whenever the HLL merge estimate
      // leaves the ±5% contract band
      """SELECT * FROM (
        |  SELECT 'lang' AS "column", count(*) AS n_rows,
        |    sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
        |    CAST(1 AS INT) AS dist_ok,
        |    CAST(NULL AS DOUBLE) AS min_v, CAST(NULL AS DOUBLE) AS max_v,
        |    CAST(NULL AS DOUBLE) AS mean_v, CAST(NULL AS DOUBLE) AS std_v
        |  FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(*),
        |    sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    CAST(1 AS INT),
        |    CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE),
        |    round(avg(n_chars), 4), round(stddev_samp(n_chars), 4)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source', count(*),
        |    sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    CAST(1 AS INT), NULL, NULL, NULL, NULL
        |  FROM documents)
        |ORDER BY "column"""".stripMargin),

    // drift from persisted state alone: PSI between the even- and
    // odd-doc histogram sidecars (same fixed [0,600)/24 geometry as
    // s_hist_stream) — no corpus rescan; counts and the round-6 psi
    // terms replay exactly in SQL
    QuerySpec("p_psi_hist", (s, d) => {
      import graft.operators.Profile
      val all = docs(s, d)
      val hist = (p: org.apache.spark.sql.Column) =>
        Profile.histShard(all.where(p), "n_chars", 0.0, 600.0, 24)
      Profile.psiFromHists(
          hist(F.col("doc_id") % 2 === 0), hist(F.col("doc_id") % 2 === 1),
          nBuckets = 24)
        .localCheckpoint()
    },
      // PSI replay over the sidecars' fixed equi-width buckets: per-side
      // counts via the same clamped floor, full 0..23 domain (absent
      // buckets count 0), fractions floored at 1e-6 inside the log
      """WITH b AS (
        |  SELECT doc_id % 2 AS grp,
        |    least(23, greatest(0,
        |      CAST(floor((CAST(n_chars AS DOUBLE) - 0.0) / 25.0) AS INT)))
        |      AS bucket
        |  FROM documents WHERE n_chars IS NOT NULL),
        |r AS (SELECT bucket, count(*) AS n_ref FROM b WHERE grp = 0
        |  GROUP BY bucket),
        |c AS (SELECT bucket, count(*) AS n_cur FROM b WHERE grp = 1
        |  GROUP BY bucket),
        |dom AS (SELECT CAST(range AS INT) AS bucket FROM range(0, 24)),
        |j AS (SELECT dom.bucket,
        |    coalesce(r.n_ref, 0)::BIGINT AS n_ref,
        |    coalesce(c.n_cur, 0)::BIGINT AS n_cur
        |  FROM dom LEFT JOIN r USING (bucket) LEFT JOIN c USING (bucket)),
        |t AS (SELECT CAST(sum(n_ref) AS DOUBLE) AS tr,
        |    CAST(sum(n_cur) AS DOUBLE) AS tc FROM j)
        |SELECT j.bucket, j.n_ref, j.n_cur,
        |  round((j.n_ref / t.tr - j.n_cur / t.tc) *
        |    ln(greatest(j.n_ref / t.tr, 1e-6) /
        |       greatest(j.n_cur / t.tc, 1e-6)), 6) AS psi_term
        |FROM j, t
        |ORDER BY j.bucket""".stripMargin),

    // drop-vs-drop EMBEDDING drift (r13): a reference index over the
    // even vectors, the odd vectors assigned against its FROZEN
    // centroids, occupancy PSI over the cells — the k-means fit, the
    // squared-L2 argmin assignment (lowest cell wins ties), and the
    // psi arithmetic all replay exactly in SQL
    QuerySpec("p_psi_embed", (s, d) => {
      val e = emb(s, d)
      val ivf = Similarity.ivfBuild(
        e.where(F.col("id") % 2 === 0), nLists = 8)
      val out = Similarity.embeddingDriftPsi(
          ivf, e.where(F.col("id") % 2 === 1))
        .localCheckpoint()
      Similarity.ivfRelease(ivf)
      out
    },
      // embedding drift replay: the even-vector k-means chain, the odd
      // vectors assigned by squared-L2 argmin (ORDER BY d, c — lowest
      // cell wins ties, the engine's strict-less predict), then the
      // p_psi_hist arithmetic over the 8-cell domain
      (s"""WITH src AS (SELECT vec_id AS id,
          |  generate_subscripts(embedding, 1) AS f,
          |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
          |edsrc AS (SELECT * FROM src WHERE id % 2 = 0),
          |${kmeansCtes("edsrc", 8, 15, "ed")},
          |refc AS (SELECT c AS cell, count(*) AS n_ref FROM edfin
          |  GROUP BY c),
          |cursrc AS (SELECT * FROM src WHERE id % 2 = 1),
          |dist AS (SELECT s.id, k.c,
          |    sum((s.x - k.cx) * (s.x - k.cx)) AS d
          |  FROM cursrc s JOIN edkc15 k ON k.f = s.f GROUP BY s.id, k.c),
          |curassign AS (SELECT id, c FROM (
          |  SELECT id, c, row_number() OVER (
          |    PARTITION BY id ORDER BY d, c) AS rn FROM dist)
          |  WHERE rn = 1),
          |curc AS (SELECT c AS cell, count(*) AS n_cur FROM curassign
          |  GROUP BY c),
          |dom AS (SELECT CAST(range AS INT) AS cell FROM range(0, 8)),
          |j AS (SELECT dom.cell,
          |    coalesce(refc.n_ref, 0)::BIGINT AS n_ref,
          |    coalesce(curc.n_cur, 0)::BIGINT AS n_cur
          |  FROM dom LEFT JOIN refc USING (cell)
          |  LEFT JOIN curc USING (cell)),
          |t AS (SELECT CAST(sum(n_ref) AS DOUBLE) AS tr,
          |    CAST(sum(n_cur) AS DOUBLE) AS tc FROM j)
          |SELECT j.cell, j.n_ref, j.n_cur,
          |  round((j.n_ref / t.tr - j.n_cur / t.tc) *
          |    ln(greatest(j.n_ref / t.tr, 1e-6) /
          |       greatest(j.n_cur / t.tc, 1e-6)), 6) AS psi_term
          |FROM j, t
          |ORDER BY j.cell""".stripMargin
        .replace(" AS (", " AS MATERIALIZED ("))),

    // histogram bounds taken FROM the profile sidecar instead of
    // hand-picked (VERDICT r12 #6): lo/hi = the profiled min/max of
    // n_chars, so nothing clamps and the quantile contract holds over
    // the whole range. The SQL recomputes the same min/max — integer
    // column cast to double, identical bucket and interpolation
    // arithmetic — so buckets AND the p50/p95 estimates value-pin.
    QuerySpec("p_hist_bounds", (s, d) => {
      import s.implicits._
      import graft.operators.Profile
      val all = docs(s, d)
      val (lo, hi) = Profile.histBoundsFromProfile(
        Profile.profile(all, Seq("n_chars")), "n_chars")
      val counts = Profile.histShard(all, "n_chars", lo, hi, 16)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      val p50 = Profile.histQuantile(counts, 0.50, lo, hi, 16)
      val p95 = Profile.histQuantile(counts, 0.95, lo, hi, 16)
      // the collected counts ARE the output rows — rebuild the frame
      // from them instead of charging a second corpus scan to the row
      counts.toDF("bucket", "n")
        .withColumn("p50", F.round(F.lit(p50), 4))
        .withColumn("p95", F.round(F.lit(p95), 4))
        .orderBy("bucket")
        .localCheckpoint()
    },
      // profile-derived bounds: lo/hi/width computed from the data in
      // SQL exactly as histBoundsFromProfile reads them from the
      // profile (min/max of an integer column cast to double — bit-
      // identical), then the same clamped-floor buckets and cumulative
      // interpolation as the s_hist_stream replay
      """WITH src AS (SELECT CAST(n_chars AS DOUBLE) AS x
        |  FROM documents WHERE n_chars IS NOT NULL),
        |bnd AS (SELECT min(x) AS lo, max(x) AS hi,
        |    (max(x) - min(x)) / 16.0 AS w FROM src),
        |hist AS (SELECT least(15, greatest(0,
        |      CAST(floor((s.x - b.lo) / b.w) AS INT))) AS bucket,
        |    count(*) AS n
        |  FROM src s, bnd b GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM hist),
        |cum AS (SELECT bucket, n,
        |    sum(n) OVER (ORDER BY bucket) - n AS cb FROM hist),
        |q50 AS (SELECT round(b.lo + b.w * (bucket +
        |      least(1.0, greatest(0.0, (0.5 * t - cb) / n))), 4) AS p50
        |  FROM cum, tot, bnd b WHERE cb + n >= 0.5 * t
        |  ORDER BY bucket LIMIT 1),
        |q95 AS (SELECT round(b.lo + b.w * (bucket +
        |      least(1.0, greatest(0.0, (0.95 * t - cb) / n))), 4) AS p95
        |  FROM cum, tot, bnd b WHERE cb + n >= 0.95 * t
        |  ORDER BY bucket LIMIT 1)
        |SELECT h.bucket, h.n, q50.p50, q95.p95
        |FROM hist h, q50, q95
        |ORDER BY h.bucket""".stripMargin)
  )
}
