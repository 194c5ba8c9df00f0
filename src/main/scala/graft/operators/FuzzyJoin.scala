package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Edit-distance-bounded fuzzy join WITHOUT a cartesian product —
  * record-linkage over misspelled / near-identical keys (entity
  * resolution, crawl-URL canonicalization, OCR'd text joins), an
  * LLM-pipeline addition beyond the reference surface (SURVEY.md §2.3
  * pipeline group).
  *
  * Blocking is the SymSpell deletion neighborhood: if
  * levenshtein(a, b) ≤ d then deleting ≤ d characters from each side
  * reaches a COMMON string (substitutions delete on both sides,
  * insertions delete on the longer side), so generating all ≤ d
  * deletion variants per row and equi-joining on the variant is a
  * COMPLETE candidate set — no fuzzy pair can be missed — and the
  * exact `levenshtein` verify then removes the false positives the
  * pigeonhole admits. Same complete-by-construction shape as
  * Dedup's SimHash chunk blocking.
  *
  * 100 TB shape: variant generation is a per-row explode (map-only,
  * fan-out |s|·d + 1), the candidate join is a shuffled equi-join on
  * the variant string (never a cartesian — spec-asserted), duplicate
  * candidates collapse BEFORE the levenshtein verify, and the verify
  * is bounded by candidate density, not N². Variant fan-out grows
  * O(|s|^d), so maxDist is capped at 2 — past that, q-gram blocking
  * beats deletion neighborhoods.
  */
object FuzzyJoin {

  /** All single-character deletions of `v`; empty input has none. */
  private def oneDeletions(v: Column): Column =
    F.when(F.length(v) === 0, F.array().cast("array<string>"))
      .otherwise(F.transform(F.sequence(F.lit(1), F.length(v)), i =>
        F.concat(v.substr(F.lit(1), i - 1), v.substr(i + 1, F.length(v) - i))))

  /** The string plus every variant reachable by 1..maxDist deletions. */
  private[operators] def deletionVariants(s: Column, maxDist: Int): Column = {
    var acc = F.array(s)
    var frontier = acc
    for (_ <- 1 to maxDist) {
      frontier = F.array_distinct(F.flatten(F.transform(frontier, oneDeletions(_))))
      acc = F.array_distinct(F.concat(acc, frontier))
    }
    acc
  }

  private def candidates(
      df: DataFrame, maxDist: Int, idCol: String, strCol: String): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"maxDist must be 1 or 2 (variant fan-out is O(|s|^d)), got $maxDist")
    def side(suffix: String) = df
      .select(F.col(idCol).as(s"id_$suffix"), F.col(strCol).as(s"s_$suffix"),
        F.explode(deletionVariants(F.col(strCol), maxDist)).as("v"))
    side("a").join(side("b"), "v")
  }

  private def verify(cand: DataFrame, maxDist: Int): DataFrame =
    cand
      .select("id_a", "id_b", "s_a", "s_b")
      // collapse multi-variant hits pre-verify — on the FULL tuple:
      // deduping on ids alone would keep an arbitrary (s_a, s_b)
      // representative, which under non-unique ids can drop a true
      // match (the kept spelling verifies > maxDist while a dropped
      // one matched) and makes the output s_a/s_b nondeterministic
      .dropDuplicates("id_a", "id_b", "s_a", "s_b")
      .withColumn("dist", F.levenshtein(F.col("s_a"), F.col("s_b")).cast("long"))
      .where(F.col("dist") <= maxDist)

  /** Self fuzzy-match: unordered distinct pairs (id_a < id_b) within
    * one table — near-duplicate key detection. The id ordering is
    * applied BEFORE the candidate dedup shuffle so each unordered
    * pair is carried once, not twice.
    */
  def selfMatch(
      df: DataFrame, maxDist: Int,
      idCol: String = "id", strCol: String = "s"): DataFrame =
    verify(
      candidates(df, maxDist, idCol, strCol)
        .where(F.col("id_a") < F.col("id_b")),
      maxDist)
}
