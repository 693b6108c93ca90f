package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench contention-protocol helpers: prior-artifact ratio parse
  * (feeds the >3x ratio-jump confirmation rule) and the /proc/stat
  * other-process-CPU sentinel math. */
class BenchProtocolSpec extends AnyFunSuite {

  test("prevRatios parses the escaped-tail driver artifact format") {
    // the driver artifact embeds the bench line's tail as an escaped
    // JSON string — write a fixture in that exact shape and parse it
    val dir = java.nio.file.Files.createTempDirectory("bench-prev").toFile
    val tail = """{\"metric\":\"total\",\"vs_oracle\":{\"join_10m_sql\":""" +
      """{\"s\":0.700,\"d\":1.160,\"r\":0.60},\"agg_10m_sql\":""" +
      """{\"s\":0.900,\"d\":0.800,\"r\":1.12}}}"""
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_r09.json").toPath,
      s"""{"n": 9, "tail": "$tail"}""".getBytes("UTF-8"))
    // a later round wins; plain (unescaped) quoting also parses
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_r10.json").toPath,
      """{"vs_oracle":{"join_10m_sql":{"s":4.810,"d":1.512,"r":3.18}}}"""
        .getBytes("UTF-8"))
    // the same regex prevRatios uses, applied to each fixture directly
    // (prevRatios itself lists the JVM cwd, exercised by the next test)
    val re = """\\?"([A-Za-z0-9_]+)\\?":\{\\?"s\\?":[0-9.]+,\\?"d\\?":[0-9.]+,\\?"r\\?":([0-9.]+)""".r
    val t9 = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "BENCH_r09.json").toPath), "UTF-8")
    val m9 = re.findAllMatchIn(t9).map(m => m.group(1) -> m.group(2).toDouble).toMap
    assert(m9 == Map("join_10m_sql" -> 0.60, "agg_10m_sql" -> 1.12))
    val t10 = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "BENCH_r10.json").toPath), "UTF-8")
    val m10 = re.findAllMatchIn(t10).map(m => m.group(1) -> m.group(2).toDouble).toMap
    assert(m10 == Map("join_10m_sql" -> 3.18))
    // prevRatios over the directory picks the newest artifact's ratios
    assert(Bench.prevRatios(dir.getPath) == Map("join_10m_sql" -> 3.18))
  }

  test("prevRatios skips a failed (ratio-less) newest artifact") {
    // the r14 lesson: the driver's budget kill left BENCH_r14.json with
    // rc 124 and NO vs_oracle section; taking strictly the newest
    // artifact would run the next round with prior = empty and disarm
    // the ratio-jump confirmation class. prevRatios must fall back
    // newest -> older to the first artifact that carries ratios.
    val dir = java.nio.file.Files.createTempDirectory("bench-prev-failed").toFile
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_r13.json").toPath,
      """{"vs_oracle":{"join_10m_sql":{"s":0.700,"d":1.160,"r":0.60}}}"""
        .getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_r14.json").toPath,
      """{"n": 14, "rc": 124, "tail": "[bench] pack_10m: start\n", "parsed": null}"""
        .getBytes("UTF-8"))
    assert(Bench.prevRatios(dir.getPath) == Map("join_10m_sql" -> 0.60))
    // all artifacts failed -> empty map, bench still runs (no priors)
    val dir2 = java.nio.file.Files.createTempDirectory("bench-prev-allbad").toFile
    java.nio.file.Files.write(new java.io.File(dir2, "BENCH_r14.json").toPath,
      """{"rc": 124, "parsed": null}""".getBytes("UTF-8"))
    assert(Bench.prevRatios(dir2.getPath).isEmpty)
  }

  test("prevRatios reads the real checked-in artifacts from the repo root") {
    // the bench runs with cwd = repo root; at least one BENCH_r*.json
    // with ratios is checked in from round 10 onward (failed artifacts
    // like the rc-124 r14 one are skipped by the fallback), and the
    // 6-round-stable substrate rows must come out with plausible
    // positive ratios
    val m = Bench.prevRatios()
    assert(m.nonEmpty, "expected at least one ratio-bearing BENCH_r*.json in cwd")
    assert(m.values.forall(r => r > 0 && r < 1000))
    assert(m.contains("join_10m_sql") || m.contains("agg_10m_sql"))
  }

  test("retryCandidates: worst-first, noise-exempt, capped, runnable-only") {
    val prior = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0, "e" -> 1.0)
    val results = Seq(
      "a" -> 8.0,   // ratio 8x prior -> jump 8
      "b" -> 4.0,   // jump 4
      "c" -> 0.4,   // s+d = 0.5 < 1s -> noise-exempt despite jump 4
      "d" -> 40.0,  // jump 40 but not runnable
      "e" -> 2.0,   // jump 2, ratio 2.0: under both the 3x rule and the gate
      "f" -> 9.0)   // no prior ratio BUT ratio 9 > 2x gate -> gate-breach class
    val duck = Map("a" -> 1.0, "b" -> 1.0, "c" -> 0.1, "d" -> 1.0, "e" -> 1.0, "f" -> 1.0)
    val sel = graft.Bench.retryCandidates(results, duck, prior, Set("a", "b", "c", "e", "f"), 8)
    assert(sel.map(_._1) == Seq("f", "a", "b"), sel.toString)
    // the cap keeps only the worst offenders
    val capped = graft.Bench.retryCandidates(results, duck, prior, Set("a", "b", "c", "e", "f"), 1)
    assert(capped.map(_._1) == Seq("f"))
    // an errored oracle (d <= 0) never qualifies
    assert(graft.Bench.retryCandidates(Seq("a" -> 8.0), Map("a" -> -1.0),
      prior, Set("a"), 8).isEmpty)
  }

  test("retryCandidates: gate-breach class (the r13 pagerank_10m shape)") {
    // ratio 2.17 vs prior 0.95 — only a 2.29x jump, but OVER the 2x
    // grading gate: must be a candidate now
    val sel = graft.Bench.retryCandidates(
      Seq("pagerank_10m" -> 7.497), Map("pagerank_10m" -> 3.453),
      Map("pagerank_10m" -> 0.95), Set("pagerank_10m"), 8)
    assert(sel.map(_._1) == Seq("pagerank_10m"), sel.toString)
    // a gate-breach row that is fixed-overhead noise (s+d < 1s) stays
    // exempt — micro rows like q_emb_norm at 9.62x are graded by their
    // amortized twins, not retried
    assert(graft.Bench.retryCandidates(
      Seq("q_emb_norm" -> 0.046), Map("q_emb_norm" -> 0.005),
      Map.empty, Set("q_emb_norm"), 8).isEmpty)
    // under-gate, under-jump rows still never qualify
    assert(graft.Bench.retryCandidates(
      Seq("t" -> 1.9), Map("t" -> 1.0), Map("t" -> 1.0), Set("t"), 8).isEmpty)
  }

  test("retryCandidates: spark-jump class (the r15 dedup/pack shape)") {
    // Spark side 1.41x its prior time, ratio 0.63 (flat — the oracle
    // slowed under the same contention): the r15 shape the 3x RATIO
    // trigger missed. With priorSpark it must be a candidate now.
    val sel = graft.Bench.retryCandidates(
      Seq("dedup_exact_10m" -> 2.38), Map("dedup_exact_10m" -> 3.78),
      Map("dedup_exact_10m" -> 0.60), Set("dedup_exact_10m"), 8,
      priorSpark = Map("dedup_exact_10m" -> 1.68))
    assert(sel.map(_._1) == Seq("dedup_exact_10m"), sel.toString)
    // a sub-second Spark side never spark-jump-qualifies (jitter)
    assert(graft.Bench.retryCandidates(
      Seq("t" -> 0.9), Map("t" -> 1.5), Map("t" -> 0.6), Set("t"), 8,
      priorSpark = Map("t" -> 0.3)).isEmpty)
    // a <=1.35x drift on an amortized row stays exempt
    assert(graft.Bench.retryCandidates(
      Seq("t" -> 2.0), Map("t" -> 3.2), Map("t" -> 0.62), Set("t"), 8,
      priorSpark = Map("t" -> 1.6)).isEmpty)
    // no priorSpark entry -> the class is disarmed for that row
    assert(graft.Bench.retryCandidates(
      Seq("t" -> 5.0), Map("t" -> 8.0), Map("t" -> 0.62), Set("t"), 8).isEmpty)
  }

  test("prevSparkTimes parses spark seconds with the prevRatios fallback") {
    val dir = java.nio.file.Files.createTempDirectory("bench-prev-s").toFile
    val tail = """{\"vs_oracle\":{\"pack_10m\":{\"s\":5.120,\"d\":9.010,\"r\":0.57},""" +
      """\"range_join_100m\":{\"s\":0.849,\"d\":-1,\"timeout_s\":60,\"r_ub\":0.0142}}}"""
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_r14.json").toPath,
      s"""{"n": 14, "tail": "$tail"}""".getBytes("UTF-8"))
    // r_ub rows (d = -1) parse too: a spark-side jump matters even when
    // the oracle timed out (the s time is the whole signal there)
    val m = graft.Bench.prevSparkTimes(dir.getPath)
    assert(m == Map("pack_10m" -> 5.12, "range_join_100m" -> 0.849), m.toString)
    // ratio-less failed artifact falls back to an older one
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_r15.json").toPath,
      """{"rc": 124, "parsed": null}""".getBytes("UTF-8"))
    assert(graft.Bench.prevSparkTimes(dir.getPath) ==
      Map("pack_10m" -> 5.12, "range_join_100m" -> 0.849))
    // the real checked-in artifacts yield plausible positive times
    val real = graft.Bench.prevSparkTimes()
    assert(real.nonEmpty && real.values.forall(s => s > 0 && s < 10000))
  }

  test("gradingBody carries per-row seconds, ungraded and skipped lists") {
    val results = Seq(
      "q_micro" -> 0.2,          // headline micro row: graded above, not here
      "agg_10m_sql" -> 0.9,      // graded amortized row
      "dedup_exact_100m" -> 25.0, // oracle errored (-2) -> ungraded
      "spatial_join_100m" -> 26.0, // oracle never launched -> ungraded
      "bpe_encode_10m" -> 3.5,   // oracle timed out (-1) -> r_ub, NOT ungraded
      "transform_10m" -> 0.4,    // graded but s+d < 1 -> micro exclusion, NOT ungraded
      "minhash_20m" -> 34.0,     // no oracle defined -> NOT ungraded
      "crashed_10m" -> -3.0)     // spark side failed; oracle-backed -> ungraded
    val duck = Map("q_micro" -> 0.05, "agg_10m_sql" -> 3.0,
      "dedup_exact_100m" -> -2.0, "bpe_encode_10m" -> -1.0,
      "transform_10m" -> 0.3)
    val body = Bench.gradingBody(results, duck, _ => 180.0,
      oracleDefined = Set("q_micro", "agg_10m_sql", "dedup_exact_100m",
        "spatial_join_100m", "bpe_encode_10m", "transform_10m", "crashed_10m"),
      microRows = Set("q_micro"),
      skipped = Seq("norm_20m"), partial = false, sfDir = "/sf")
    val line = s"{$body}"
    assert(line.contains(""""amortized":{"agg_10m_sql":0.3}"""), line)
    assert(line.contains(""""r_ub":{"bpe_encode_10m":0.0194}"""), line)
    assert(line.contains(
      """"ungraded":["crashed_10m","dedup_exact_100m","spatial_join_100m"]"""), line)
    assert(line.contains(""""skipped":["norm_20m"]"""), line)
    // per-row seconds: substantive rows in, the micro headline row and
    // failed rows out
    assert(line.contains(""""agg_10m_sql":0.9"""), line)
    assert(line.contains(""""minhash_20m":34"""), line)
    assert(!line.contains(""""q_micro":0.2"""), line)
    assert(line.contains(""""n_amortized":1"""), line)
    assert(line.contains(""""over_gate":0"""), line)
    // body stays inside the driver tail window with room for the pad
    assert(body.length <= 1870, s"body ${body.length} chars")
  }

  test("gradingBody trims the cheapest rows when the tail window would overflow") {
    // 80 long-named rows would blow the 2000-char window; the guard
    // must drop cheapest-first and say how many it dropped
    val results = (1 to 80).map(i =>
      f"very_long_workload_name_number_$i%02d_10m" -> i.toDouble)
    val body = Bench.gradingBody(results, Map.empty, _ => 120.0,
      oracleDefined = Set.empty, microRows = Set.empty,
      skipped = Nil, partial = false, sfDir = "/sf")
    assert(body.length <= 1870, s"body ${body.length} chars")
    assert(body.contains(""""q_trimmed":"""), body.take(200))
    // the EXPENSIVE rows survive the trim
    assert(body.contains("very_long_workload_name_number_80_10m"), body)
    assert(!body.contains(""""very_long_workload_name_number_01_10m""""), body)
  }

  test("gradingBody collapses r_ub, then ungraded, to counts when trimming queries is not enough") {
    // ~80 long ungraded names overflow the window on their own, with
    // an empty "queries" map: only the second stage can save the line
    val names = (1 to 80).map(i => f"very_long_oracle_backed_workload_name_$i%02d_10m")
    val body = Bench.gradingBody(names.map(_ -> -3.0) :+ ("slow_10m" -> 5.0),
      Map("slow_10m" -> -1.0), _ => 120.0,
      oracleDefined = names.toSet + "slow_10m", microRows = Set.empty,
      skipped = Nil, partial = false, sfDir = "/sf")
    assert(body.length <= 1870, s"body ${body.length} chars")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s"{$body}")
    assert(json.get("n_ungraded").asInt == 80, body)
    assert(json.get("n_r_ub").asInt == 1, body)
    assert(json.get("metric").asText == "amortized_geomean_vs_oracle")
  }

  test("prevSparkTimes reads the grading line's queries, not the total line's above it") {
    // a failed run's tail: the total line (no oracle structs, -1.000
    // sentinels in its "queries") followed by the grading line
    val dir = java.nio.file.Files.createTempDirectory("bench-prev-anchor").toFile
    val tail = """{\"metric\":\"total\",\"value\":9.100,\"queries\":{\"pack_10m\":-1.000,""" +
      """\"agg_10m_sql\":0.900},\"vs_oracle\":{},\"sf\":\"/sf\"}\n""" +
      """{\"pad\":\"...\",\"metric\":\"amortized_geomean_vs_oracle\",\"value\":0.3,""" +
      """\"amortized\":{\"agg_10m_sql\":0.3},\"queries\":{\"agg_10m_sql\":0.9},\"sf\":\"/sf\"}"""
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_r18.json").toPath,
      s"""{"n": 18, "tail": "$tail"}""".getBytes("UTF-8"))
    assert(Bench.prevSparkTimes(dir.getPath) == Map("agg_10m_sql" -> 0.9))
    assert(Bench.prevRatios(dir.getPath) == Map("agg_10m_sql" -> 0.3))
  }

  test("prevRatios/prevSparkTimes fall back to the r17 grading-line maps") {
    // an artifact whose tail is ONLY the compact grading line (the r17
    // shape: no vs_oracle structs survive the truncation) must still
    // yield ratios (from "amortized") and spark seconds (from "queries")
    val dir = java.nio.file.Files.createTempDirectory("bench-prev-r17").toFile
    val tail = """{\"pad\":\"...\",\"metric\":\"amortized_geomean_vs_oracle\",""" +
      """\"value\":0.28,\"unit\":\"ratio\",\"amortized\":{\"agg_10m_sql\":0.23,""" +
      """\"minhash_10m\":0.34},\"r_ub\":{},\"n_amortized\":2,\"geomean\":0.28,""" +
      """\"over_gate\":0,\"ungraded\":[],\"queries\":{\"agg_10m_sql\":0.9,""" +
      """\"minhash_10m\":13.6},\"partial\":false,\"sf\":\"/sf\"}"""
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_r17.json").toPath,
      s"""{"n": 17, "tail": "$tail"}""".getBytes("UTF-8"))
    assert(Bench.prevRatios(dir.getPath) ==
      Map("agg_10m_sql" -> 0.23, "minhash_10m" -> 0.34))
    assert(Bench.prevSparkTimes(dir.getPath) ==
      Map("agg_10m_sql" -> 0.9, "minhash_10m" -> 13.6))
  }

  test("third-trial gate fires only for over-gate ratios on contended windows") {
    import graft.Bench.needsThirdTrial
    assert(needsThirdTrial(2.7, 5.0, 0.2))   // r12 window_10m_sql shape
    assert(needsThirdTrial(2.1, 1.0, 1.3))   // quiet load but hot external CPU
    assert(!needsThirdTrial(1.9, 9.0, 2.0))  // under the gate: number stands
    assert(!needsThirdTrial(2.7, 1.0, 0.1))  // over the gate on a QUIET box:
                                             // a third trial would just confirm
    assert(!needsThirdTrial(2.7, -1.0, -1.0)) // no sentinel -> no evidence
  }
}
