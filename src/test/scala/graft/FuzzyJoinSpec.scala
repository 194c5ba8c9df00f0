package graft

import graft.operators.FuzzyJoin
import org.apache.spark.sql.{functions => F}

/** SymSpell deletion-neighborhood fuzzy join: completeness against a
  * brute-force levenshtein cross join, distance-2 coverage, and the
  * no-cartesian plan guarantee.
  */
class FuzzyJoinSpec extends SparkSpec {

  private def strs(ss: (Long, String)*) = {
    val s = spark
    import s.implicits._
    ss.toDF("id", "s")
  }

  test("selfMatch(maxDist=1) equals brute-force levenshtein pairs") {
    val df = strs(
      1L -> "kitten", 2L -> "sitten", 3L -> "sittin", 4L -> "mitten",
      5L -> "kitte", 6L -> "kittens", 7L -> "bitten", 8L -> "unrelated")
    val got = FuzzyJoin.selfMatch(df, maxDist = 1)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = df.as("a").crossJoin(df.as("b"))
      .where(F.col("a.id") < F.col("b.id") &&
        F.levenshtein(F.col("a.s"), F.col("b.s")) <= 1)
      .select(F.col("a.id"), F.col("b.id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute)
    assert(got.contains((1L, 2L))) // substitution
    assert(got.contains((1L, 5L))) // deletion
    assert(got.contains((1L, 6L))) // insertion
    assert(!got.contains((3L, 4L))) // sittin/mitten: dist 2
  }

  test("maxDist=2 catches two-edit pairs the dist-1 join misses") {
    val df = strs(1L -> "kitten", 2L -> "sittin", 3L -> "kien", 4L -> "xxyyzz")
    val got = FuzzyJoin.selfMatch(df, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(got.contains((1L, 2L, 2L))) // two substitutions
    assert(got.contains((1L, 3L, 2L))) // two deletions
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("non-unique ids keep every matching spelling pair deterministically") {
    // id 1 carries two spellings; "ab"/"ba" is a deletion-neighborhood
    // false positive (common variants "a"/"b", levenshtein 2) while
    // "bad"/"ba" truly matches at dist 1. A dedup on ids alone could
    // keep the FP representative and drop the real match.
    val got = FuzzyJoin.selfMatch(strs(1L -> "ab", 1L -> "bad", 2L -> "ba"), maxDist = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSet
    assert(got == Set((1L, 2L, "bad", "ba", 1L)))
  }

  test("candidate join is an equi-join, never a cartesian product") {
    val df = strs(1L -> "abc", 2L -> "abd")
    val plan = FuzzyJoin.selfMatch(df, maxDist = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("maxDist outside 1..2 is rejected with the fan-out rationale") {
    val df = strs(1L -> "abc")
    val e = intercept[IllegalArgumentException] {
      FuzzyJoin.selfMatch(df, maxDist = 3)
    }
    assert(e.getMessage.contains("maxDist"))
  }
}
