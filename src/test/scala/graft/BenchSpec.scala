package graft

import org.apache.spark.sql.functions._

/** The bench harness must not be able to report a crashing query as a
  * healthy number (round-3 verdict #3). */
class BenchSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("runQueries records a broken query as -1 + error, not a time") {
    val qs: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "ok_query" -> ((s, d) => Tables.load(s, d, "region")),
      // The probe must survive ColumnPruning under count() (round-4
      // verdict #1: a raise_error in an unreferenced SELECT column is
      // pruned and the "broken" query succeeds). Putting it in the
      // FILTER condition makes it load-bearing: the error surfaces
      // during count() — at optimization time if ConstantFolding
      // evaluates the foldable raise_error, otherwise per row — and
      // either way runQueries must catch it.
      "broken_query" -> ((s, d) =>
        Tables.load(s, d, "region")
          .filter(col("r_regionkey") >
            raise_error(lit("deliberately broken")).cast("int"))))
    val res = SparkSpec.withExpectedTaskFailures(
      Bench.runQueries(spark, dir, qs))
    val (okSec, okErr) = res("ok_query")
    assert(okSec >= 0.0 && okErr.isEmpty)
    val (badSec, badErr) = res("broken_query")
    assert(badSec == -1.0)
    assert(badErr.exists(_.contains("deliberately broken")), badErr)
  }

  test("isRegression: ratio AND absolute floor must both trip; " +
    "missing/broken prev never flags") {
    // sub-second jitter: 80ms -> 130ms is a 1.6x ratio but noise
    assert(!Bench.isRegression(0.08, 0.13))
    // 1.5x exactly + the 0.5s floor exactly: gate requires STRICTLY over
    assert(!Bench.isRegression(1.0, 1.5))
    assert(Bench.isRegression(1.0, 1.51))
    // big query: ratio dominates (10 -> 12 is +2s but only 1.2x)
    assert(!Bench.isRegression(10.0, 12.0))
    assert(Bench.isRegression(10.0, 15.01))
    // small query: absolute floor dominates (0.2 -> 0.4 is 2x but +0.2s)
    assert(!Bench.isRegression(0.2, 0.4))
    // no previous number / failed previous run -> never a flag
    assert(!Bench.isRegression(0.0, 99.0))
    assert(!Bench.isRegression(-1.0, 99.0))
  }

  test("adjudicateVerdict: plateau back under the gate = contention, " +
    "plateau still over = real; plateau() measures a live query") {
    // the synthetic-contention case: prev 1.0s, contended run said
    // 3.0s, quiet end-of-run plateau 1.1s -> the flag self-clears
    assert(Bench.adjudicateVerdict(1.0, 1.1) == "contention")
    // a genuine plan change stays slow when re-measured in isolation
    // ON A QUIET BOX (load well under cpus/8)
    assert(Bench.adjudicateVerdict(1.0, 2.5) == "real")
    assert(Bench.adjudicateVerdict(1.0, 2.5, 1.9, 32) == "real")
    // round-11 verdict #2 fixture: plateau over the gate but the box
    // is still loaded at measurement time (load >= cpus/8) — the
    // measurement is invalid, the verdict must NOT certify "real"
    assert(Bench.adjudicateVerdict(1.0, 2.5, 8.0, 32) ==
      "contention-suspect")
    assert(Bench.adjudicateVerdict(0.316, 1.199, 4.8, 4) ==
      "contention-suspect")
    // r19 verdict #4 fixture: the old cpus/4 gate (= 8.0 on 32 cpus)
    // certified "real" from a load-7.75 plateau — the cpus/8 gate
    // (= 4.0) demotes it
    assert(Bench.adjudicateVerdict(1.35, 2.46, 7.75, 32) ==
      "contention-suspect")
    // r19 verdict #4: sub-2 s plateaus need an ABSOLUTE +0.75 s over
    // prev before "real" — ratio alone flags JIT jitter (the r19
    // artifact's three "real"s were untouched code still trending
    // down at run 4)
    assert(Bench.adjudicateVerdict(0.8, 1.4) == "contention")
    assert(Bench.adjudicateVerdict(1.0, 1.6, 0.5, 32) == "contention")
    // ... but a sub-2 s plateau carrying ≥ 0.75 s of real added wall
    // time still certifies on a quiet box
    assert(Bench.adjudicateVerdict(1.0, 1.8) == "real")
    // ≥ 2 s plateaus keep the pure ratio+0.5s gate (2.0 -> 3.1 is
    // only +1.1s but 1.55x over a 2s+ plateau: a plan change)
    assert(Bench.adjudicateVerdict(2.0, 3.1) == "real")
    // high load with a plateau UNDER the gate still self-clears: the
    // query came back fast even on a loaded box
    assert(Bench.adjudicateVerdict(1.0, 1.1, 30.0, 32) == "contention")
    // a plateau that ERRORS (-1) is its own verdict (ADVICE r11:
    // "contention" here read as contention-cleared unless the reader
    // noticed the -1 plateau value)
    assert(Bench.adjudicateVerdict(1.0, -1.0) == "error")
    assert(Bench.adjudicateVerdict(1.0, -1.0, 30.0, 32) == "error")
    // r20 verdict #1 fixture (load-COMPARABILITY gate): t_jaccard_join
    // was certified "real" from a load-2.2 plateau (under the absolute
    // cpus/8 = 4.0 gate) against a prev recorded at load ~1.4 on a
    // quiet box, with zero code change on the path. With prev's load
    // known, "real" additionally requires plateau load within 1.5x of
    // it (floored at 1.0): 2.2 > max(1.4*1.5, 1.0) = 2.1 -> demoted
    assert(Bench.adjudicateVerdict(1.525, 4.581, 2.2, 32, 1.4) ==
      "contention-suspect")
    // comparable load certifies (2.0 <= 2.1)
    assert(Bench.adjudicateVerdict(1.525, 4.581, 2.0, 32, 1.4) == "real")
    // near-idle prev does not demand a sub-idle plateau: the bound
    // floors at 1.0
    assert(Bench.adjudicateVerdict(1.0, 2.5, 0.9, 32, 0.1) == "real")
    assert(Bench.adjudicateVerdict(1.0, 2.5, 1.1, 32, 0.1) ==
      "contention-suspect")
    // unknown prev load (-1): old behavior, absolute gate alone
    assert(Bench.adjudicateVerdict(1.0, 2.5, 3.9, 32, -1.0) == "real")
    // parsePrevLoad reads both artifact forms; absent -> -1
    assert(Bench.parsePrevLoad(
      """"streaming_queries":28,"load":{"start":1.42,"end":3.0}""") == 1.42)
    assert(Bench.parsePrevLoad(
      """{"stdout":"{\"load\":{\"start\":5.30,\"end\":2.49}}"}""") == 5.30)
    assert(Bench.parsePrevLoad("no load here") == -1.0)
    val pl = Bench.plateau(spark, dir,
      (s, d) => Tables.load(s, d, "region"), runs = 2)
    assert(pl > 0.0 && pl < 30.0, s"plateau=$pl")
    val bad = SparkSpec.withExpectedTaskFailures(
      Bench.plateau(spark, dir, (s, d) =>
        Tables.load(s, d, "region")
          .filter(col("r_regionkey") >
            raise_error(lit("boom")).cast("int")), runs = 2))
    assert(bad == -1.0)
  }

  test("parsePrevQueries: binds to the queries MAP in both artifact " +
    "forms and ignores earlier prose mentions of the word") {
    // our own BENCH_FULL.json: plain JSON
    assert(Bench.parsePrevQueries(
      """{"metric":"total","value":9.1,"unit":"sec",""" +
        """"queries":{"q1":1.500,"q2":-1.000},"errors":1}""") ==
      Map("q1" -> 1.5, "q2" -> -1.0))
    // the driver's BENCH_r{N}.json: a captured LOG TAIL that mentions
    // "queries" in prose precedes the metric line, and the metric
    // line itself is an ESCAPED string field (r19 ADVICE: a bare
    // "queries" substring anchor binds to the prose and silently
    // yields a wrong/empty prev map, disarming the regression gate)
    val driverForm =
      """{"log":"ran 343 queries, zero errors {load 1.2} tail",""" +
        """"stdout":"{\"metric\":\"total\",\"value\":9.1,""" +
        """\"queries\":{\"a79\":4.960,\"q2\":0.500},\"sf\":\"x\"}"}"""
    assert(Bench.parsePrevQueries(driverForm) ==
      Map("a79" -> 4.96, "q2" -> 0.5))
    // no queries map at all -> empty, never a crash
    assert(Bench.parsePrevQueries("nothing to see").isEmpty)
    assert(Bench.parsePrevQueries("").isEmpty)
    // a truncated artifact (map never closed) -> empty, never a crash
    assert(Bench.parsePrevQueries(""""queries":{"a":1.0""").isEmpty)
  }

  test("plateauQuiet: returns at once on a quiet box, retries under " +
    "load (bounded), errors return immediately") {
    var loads = List(9.0, 9.0, 1.0, 1.0, 1.0)
    def nextLoad(): Double = {
      val l = loads.head; loads = loads.tail; l
    }
    // contended first two attempts, quiet third: three plateaus run
    val (pl, ld) = Bench.plateauQuiet(spark, dir,
      (s, d) => Tables.load(s, d, "region"), nextLoad _, cpus = 32,
      runs = 1, retries = 2)
    assert(pl > 0.0 && ld == 1.0, s"pl=$pl ld=$ld")
    assert(loads.size == 2, "exactly three load reads expected")
    // quiet at once: one attempt, one load read
    var n = 0
    val (pl2, ld2) = Bench.plateauQuiet(spark, dir,
      (s, d) => Tables.load(s, d, "region"),
      () => { n += 1; 0.5 }, cpus = 32, runs = 1, retries = 2)
    assert(pl2 > 0.0 && ld2 == 0.5 && n == 1)
    // quietBelow tightens the retry target to the comparability bound
    // (r20 verdict #1): load 3.0 is under cpus/8 = 4.0 but NOT under
    // the 2.1 bound -> all three attempts run
    var m = 0
    val (pl3, _) = Bench.plateauQuiet(spark, dir,
      (s, d) => Tables.load(s, d, "region"),
      () => { m += 1; 3.0 }, cpus = 32, runs = 1, retries = 2,
      quietBelow = 2.1)
    assert(pl3 > 0.0 && m == 3, s"m=$m")
    // an errored plateau short-circuits (no retry of a failure)
    val (plE, _) = SparkSpec.withExpectedTaskFailures(
      Bench.plateauQuiet(spark, dir, (s, d) =>
        Tables.load(s, d, "region")
          .filter(col("r_regionkey") >
            raise_error(lit("boom")).cast("int")),
        () => 9.0, cpus = 32, runs = 1, retries = 2))
    assert(plE == -1.0)
  }

  test("foldPlateaus: a quiet plateau replaces a contention-inflated " +
    "sweep number; errored (-1) and slower plateaus never overwrite") {
    val results = Map(
      "inflated" -> (11.13, Option.empty[String]),
      "errored_plateau" -> (3.0, Option.empty[String]),
      "plateau_slower" -> (1.0, Option.empty[String]),
      "untouched" -> (0.5, Option.empty[String]))
    // tuple: (name, prev, now, plateau, plateau_load, verdict)
    val adj = Seq(
      ("inflated", 1.0, 11.13, 1.23, 0.5, "contention"),
      ("errored_plateau", 1.0, 3.0, -1.0, 0.5, "error"),
      ("plateau_slower", 0.4, 1.0, 1.6, 0.5, "real"),
      // totality (r18 ADVICE): an adjudicated key absent from the
      // results map is ignored, not a NoSuchElementException
      ("absent_from_results", 1.0, 9.0, 0.9, 0.5, "contention"))
    val out = Bench.foldPlateaus(results, adj)
    assert(!out.contains("absent_from_results"))
    // the r17 t_bleu case: the min estimator sees the plateau runs
    assert(out("inflated") == ((1.23, None)))
    // -1 is an error sentinel, not a time — must never overwrite
    assert(out("errored_plateau") == ((3.0, None)))
    // min semantics: a slower plateau cannot worsen the estimate
    assert(out("plateau_slower") == ((1.0, None)))
    assert(out("untouched") == ((0.5, None)))
  }

  test("adjCapFor: quiet start keeps the 12 cap; a contended start OR " +
    "broad flagging lifts it to the flag count") {
    // quiet start, few flags: real-plan-change regime, cap stands
    assert(Bench.adjCapFor(1.3, 32, 8) == 12)
    assert(Bench.adjCapFor(1.3, 32, 12) == 12)
    // contended start (load > cpus/8): every flag adjudicates (r18)
    assert(Bench.adjCapFor(5.0, 32, 9) == 9)
    // quiet start but broad flagging — the mid-run-storm signature
    // (r20: 41 flags at load-1.3 start shipped 29 uncorrected): the
    // flag count itself lifts the cap
    assert(Bench.adjCapFor(1.3, 32, 41) == 41)
    // unreadable loadavg (-1) behaves as quiet
    assert(Bench.adjCapFor(-1.0, 32, 5) == 12)
  }
}
