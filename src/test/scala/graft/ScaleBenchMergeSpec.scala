package graft

import org.scalatest.funsuite.AnyFunSuite

/** Laws for the committed-artifact merge (VERDICT r10 #3): ScaleBench
  * `--merge` keeps the per-row MIN wall over two same-code runs, makes
  * both samples auditable, and routes byte metrics with the run that
  * won their row. Pure string-level — no Spark session.
  */
class ScaleBenchMergeSpec extends AnyFunSuite {

  private def artifact(
      rows: Seq[(String, Double, Long)],
      cpu: Seq[(String, Double)],
      bytes: Seq[(String, Long)]): String =
    s"""{"metric":"scale_total","value":${rows.map(_._2).sum},""" +
      s""""unit":"sec","scale":40,"n_docs":212000,"n_vecs":80000,""" +
      s""""dims":64,"queries":{""" +
      rows.map { case (k, s, n) => s""""$k":{"sec":$s,"rows":$n}""" }
        .mkString(",") +
      s"""},"cpu_sec":{""" +
      cpu.map { case (k, c) => s""""$k":$c""" }.mkString(",") +
      s"""},"retried":{},"bytes":{""" +
      bytes.map { case (k, b) => s""""$k":$b""" }.mkString(",") +
      "}}\n"

  test("per-row min wins, both samples recorded, bytes follow the winning run") {
    // run A: PPR thrashed (296 s), k-core quick; run B: the quiet
    // window (66 s), k-core slower — exactly the r10 governance case
    val a = artifact(
      Seq(("g_ppr_many_seq", 296.4, 500L), ("g_kcore", 24.9, 316L),
        ("only_in_a", 3.0, 7L)),
      Seq(("g_ppr_many_seq", 1222.0), ("g_kcore", 80.0), ("only_in_a", 1.0)),
      Seq(("g_kcore_rounds", 20L)))
    val b = artifact(
      Seq(("g_ppr_many_seq", 66.0, 500L), ("g_kcore", 26.5, 316L)),
      Seq(("g_ppr_many_seq", 1100.0), ("g_kcore", 90.0)),
      Seq(("g_kcore_rounds", 19L)))
    val m = ScaleBench.mergeArtifacts(a, b)
    // min per row: PPR from B, k-core from A; A-only row carried
    assert(m.contains(""""g_ppr_many_seq":{"sec":66.00,"rows":500}"""), m)
    assert(m.contains(""""g_kcore":{"sec":24.90,"rows":316}"""), m)
    assert(m.contains(""""only_in_a":{"sec":3.00,"rows":7}"""), m)
    // both samples auditable
    assert(m.contains(""""g_ppr_many_seq":[296.40,66.00]"""), m)
    assert(m.contains(""""g_kcore":[24.90,26.50]"""), m)
    // cpu follows the winning run
    assert(m.contains(""""g_ppr_many_seq":1100.0"""), m)
    assert(m.contains(""""g_kcore":80.0"""), m)
    // bytes follow the run that won their longest-prefix row (k-core
    // won in A, so its rounds come from A)
    assert(m.contains(""""g_kcore_rounds":20"""), m)
    // the headline total sums the merged (min) walls
    assert(m.contains(""""value":93.90"""), m)
    assert(m.contains(""""merged_runs":2"""), m)
    // no row exceeds its quiet sibling — the committed-artifact rule
    val secRe = """"sec":([0-9.]+)""".r
    val merged = secRe.findAllMatchIn(m).map(_.group(1).toDouble).toSeq
    assert(merged.sorted == Seq(3.0, 24.9, 66.0), merged)
  }

  private def benchArtifact(
      rows: Seq[(String, Double)],
      cpu: Seq[(String, Double)],
      retried: Seq[(String, Double)] = Nil,
      sf: String = "sf0.1"): String =
    s"""{"metric":"total","value":${rows.map(_._2).filter(_ >= 0).sum},""" +
      s""""unit":"sec","failed":${rows.count(_._2 < 0)},"sf":"$sf",""" +
      s""""queries":{""" +
      rows.map { case (k, s) => s""""$k":$s""" }.mkString(",") +
      s"""},"cpu_sec":{""" +
      cpu.map { case (k, c) => s""""$k":$c""" }.mkString(",") +
      s"""},"retried":{""" +
      retried.map { case (k, v) => s""""$k":$v""" }.mkString(",") +
      s"""},"ref":"BENCH_LOCAL_r11.json","cached_mb_after":{""" +
      rows.map { case (k, _) => s""""$k":1.0""" }.mkString(",") +
      "}}\n"

  test("Bench merge: per-row min, failures never win, samples auditable, sf guarded") {
    // the r11 governance case: run A caught d_dedup_against_index in
    // the contention mode (10.60 s), run B in a quiet window (4.10 s);
    // q1 was quiet in A, noisy in B; s_row failed in A only
    val a = benchArtifact(
      Seq(("d_dedup_against_index", 10.60), ("q1_agg", 0.52),
        ("s_row", -3.2), ("only_a", 1.5)),
      Seq(("d_dedup_against_index", 22.7), ("q1_agg", 1.1),
        ("s_row", 0.5), ("only_a", 0.9)),
      retried = Seq(("d_dedup_against_index", 12.9)))
    val b = benchArtifact(
      Seq(("d_dedup_against_index", 4.10), ("q1_agg", 0.95),
        ("s_row", 2.8)),
      Seq(("d_dedup_against_index", 15.0), ("q1_agg", 1.4),
        ("s_row", 3.0)))
    val m = Bench.mergeArtifacts(a, b)
    // per-row min across runs; rows in one run only are carried
    assert(m.contains(""""d_dedup_against_index":4.10"""), m)
    assert(m.contains(""""q1_agg":0.52"""), m)
    assert(m.contains(""""only_a":1.50"""), m)
    // a successful sample always beats a failure marker
    assert(m.contains(""""s_row":2.80"""), m)
    assert(m.contains(""""failed":0"""), m)
    // both walls stay auditable per shared row
    assert(m.contains(""""d_dedup_against_index":[10.60,4.10]"""), m)
    assert(m.contains(""""s_row":[-3.20,2.80]"""), m)
    // cpu follows the winning run (B for the dedup row, A for q1)
    assert(m.contains(""""cpu_sec":{"d_dedup_against_index":15.00,"q1_agg":1.10"""), m)
    // retry audit trail survives the merge
    assert(m.contains(""""d_dedup_against_index":12.90"""), m)
    // headline total sums the merged (min, non-failed) walls
    assert(m.contains(""""value":8.92"""), m)
    assert(m.contains(""""merged_runs":2"""), m)
    // two failures keep the first run's marker and stay failures
    val fa = benchArtifact(Seq(("x", -2.0)), Seq(("x", 0.1)))
    val fb = benchArtifact(Seq(("x", -5.0)), Seq(("x", 0.2)))
    val fm = Bench.mergeArtifacts(fa, fb)
    assert(fm.contains(""""x":-2.00""") && fm.contains(""""failed":1"""), fm)
    // artifacts from different scale factors refuse to merge
    intercept[IllegalArgumentException](
      Bench.mergeArtifacts(a, benchArtifact(
        Seq(("q1_agg", 0.2)), Seq(("q1_agg", 0.3)), sf = "sf0.01")))
  }

  test("board lineage guard: a small artifact cannot clobber a big board") {
    // row counting sees through both formats (flat Bench numbers and
    // nested ScaleBench objects), counting only depth-1 keys
    val bigBench = benchArtifact(
      (1 to 10).map(i => (s"q$i", 1.0)), (1 to 10).map(i => (s"q$i", 1.0)))
    assert(Bench.boardRowCount(bigBench) == 10)
    val scaleArt = artifact(
      Seq(("g_ppr", 1.0, 5L), ("g_kcore", 2.0, 6L)),
      Seq(("g_ppr", 1.0)), Seq(("g_kcore_rounds", 3L)))
    assert(Bench.boardRowCount(scaleArt) == 2)
    assert(Bench.boardRowCount("""{"metric":"total"}""") == 0)
    // ADVICE r13: string VALUES at depth 1 are not keys, escaped
    // quotes don't terminate a string early, and array elements sit
    // below depth 1 — none of these may inflate the lineage count
    assert(Bench.boardRowCount(
      """{"queries":{"a":"skipped","b":1.0,"c":{"x":"y"}}}""") == 3)
    assert(Bench.boardRowCount(
      """{"queries":{"a\"b":1.0,"c":[1,"two",3]}}""") == 2)

    val dir = java.nio.file.Files.createTempDirectory("boardguard")
    val board = dir.resolve("board.json")
    val probe = benchArtifact(Seq(("q1", 9.9)), Seq(("q1", 1.0)))

    // fresh path: anything writes
    Bench.writeBoardGuarded(board.toString, probe, strict = true)
    assert(java.nio.file.Files.readString(board) == probe)

    // big board in place: a 1-row probe is refused — strict throws...
    java.nio.file.Files.writeString(board, bigBench)
    val e = intercept[IllegalArgumentException](
      Bench.writeBoardGuarded(board.toString, probe, strict = true))
    assert(e.getMessage.contains("10 rows"), e.getMessage)
    assert(java.nio.file.Files.readString(board) == bigBench)

    // ...non-strict redirects to .rejected, keeping the run's data
    Bench.writeBoardGuarded(board.toString, probe, strict = false)
    assert(java.nio.file.Files.readString(board) == bigBench)
    assert(java.nio.file.Files.readString(
      dir.resolve("board.json.rejected")) == probe)

    // >=50% of the rows is a legitimate refresh and overwrites
    val refresh = benchArtifact(
      (1 to 5).map(i => (s"q$i", 2.0)), (1 to 5).map(i => (s"q$i", 1.0)))
    Bench.writeBoardGuarded(board.toString, refresh, strict = true)
    assert(java.nio.file.Files.readString(board) == refresh)
  }

  test("in-run board writes never replace a file: numbered siblings") {
    val dir = java.nio.file.Files.createTempDirectory("boardnew")
    val path = dir.resolve("BENCH_LOCAL_c4_sf0.01.json").toString
    val boards = (1 to 3).map(i => benchArtifact(Seq((s"q$i", i.toDouble)), Seq((s"q$i", 1.0))))
    val written = boards.map(b => Bench.writeBoardNew(path, b).getFileName.toString)
    assert(written == Seq("BENCH_LOCAL_c4_sf0.01.json",
      "BENCH_LOCAL_c4_sf0.01-2.json", "BENCH_LOCAL_c4_sf0.01-3.json"))
    written.zip(boards).foreach { case (name, b) =>
      assert(java.nio.file.Files.readString(dir.resolve(name)) == b, name) }
  }
}
