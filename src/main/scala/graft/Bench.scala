package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark main — one compact JSON line with headline per-query
  * wall-clock seconds, plus a full per-query dump to BENCH_FULL.json.
  *
  * Methodology matches the reference's published runs (BASELINE.md:
  * "queries warmed 1×, averaged over 3 runs",
  * docs/en/benchmarking/TPC-H_Benchmarking.md): per query, one warm-up
  * execution (codegen compile, parquet footers, AQE stats), then the
  * mean of 3 timed executions, fully materialized through the noop
  * sink (a bare count() would let Catalyst prune the very projections
  * being measured). local[32], shuffle.partitions=32 — the single-node
  * stand-in for the reference's 3×16-core cluster.
  *
  * Output contract: the LAST stdout line is ONE JSON object small
  * enough to survive a ~2 KB log-tail capture (round 1 lost the
  * driver parse because a 6 KB all-queries line was truncated
  * mid-number). Headline keys: TPC-H as q1..q22, plus per-flight
  * totals (ssb/clickbench/everything else). The untruncated
  * per-query map (3-decimal seconds) goes to ./BENCH_FULL.json
  * (./BENCH_FILTERED.json for a run given a query-name filter).
  */
object Bench {
  /** The last full flight's per-gate dump, and the burst baseline of the next. */
  val FullDump = "BENCH_FULL.json"
  /** Where an arg-filtered dev run dumps its partial map instead. */
  val FilteredDump = "BENCH_FILTERED.json"

  /** Numeric fields (gate seconds, recall values) of a flight dump;
    * empty when the file is absent. */
  private[graft] def readFlight(p: Path): Map[String, Double] =
    if (!Files.exists(p)) Map.empty
    else new ObjectMapper().readTree(p.toFile).properties().asScala
      .collect { case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble }
      .toMap

  /** Write a flight's dump into `dir` and return its path. Only a full
    * flight replaces BENCH_FULL.json: a filtered run's partial map would
    * erase the baseline of every gate it skipped. */
  private[graft] def writeDump(dir: Path, filtered: Boolean, json: String): Path =
    Files.writeString(dir.resolve(if (filtered) FilteredDump else FullDump), json)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Default 1 timed run (plus the per-query warm-up): the round-3 driver
    // bench was killed at rc=124 because 226 queries x (1 warm + 3 timed)
    // plus sbt startup overran the driver's wall-clock budget. One warmed
    // run keeps total wall ~4-5 min at sf0.1; set SPARK_GRAFT_BENCH_RUNS=3
    // for the averaged local methodology.
    val runsPerQuery = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "1").toInt
    val spark = Engine.configure(
      SparkSession.builder().appName("graft-bench"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Session.prepare(spark)

    // gate queries + full-SF timing variants of fixture-gated operators
    val all = SparkEntry.queries ++ graft.queries.Pipeline.benchOnly

    // *_recall_* gates emit one (recall, …) row; capture the value
    // DURING the timed run (a 1-row collect materializes the same
    // work as the noop sink) instead of re-executing the gate later —
    // the re-run doubled the wall of the most expensive quality gates
    // while staying invisible in the recorded per-gate seconds.
    val recallValues = scala.collection.mutable.Map[String, Double]()
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        val df = all(name)(spark, sfDir)
        if (name.contains("_recall_")) {
          // a collect failure (e.g. the assert_true pinned-floor breach
          // these gates exist to raise) must PROPAGATE to the outer
          // catch — the gate then records -1.0 seconds and logs loudly,
          // instead of masquerading as a successful run
          val rows = df.collect()
          recallValues(name) = if (rows.isEmpty) -1.0 else rows.head.getDouble(0)
        } else df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // Wall-budget insurance: the driver kills an over-long bench with
    // NO metric line (round 3 died at rc=124). Past the budget the
    // remaining queries drop their warm-up and run once cold — mildly
    // inflated timings beat a dead run.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "400").toInt
    val deadline = System.nanoTime() + budgetSec * 1000L * 1000 * 1000

    // Per-query warm-up only for the baseline-comparable benchmark
    // flights (TPC-H/SSB/ClickBench/TPC-DS) and the full-SF operator
    // timings — the numbers read against BASELINE.md. The ~250 gate
    // queries run once: warming all of them doubled total wall
    // (~570 s at 299 queries, vs a ~600 s driver budget) and pushed
    // the tail past the in-run budget, which inflated those timings
    // MORE than a cold run does.
    val warmed = "^(q\\d+_|ssb_|cb_|xb_|tpcds_).*".r
    def warmAvg(name: String): Double = {
      val doWarm = warmed.matches(name) && System.nanoTime() < deadline
      if (doWarm && run(name) < 0) return -1.0 // warm-up run, untimed
      val times = (1 to runsPerQuery).map(_ => run(name))
      if (times.exists(_ < 0)) -1.0 else times.sum / times.length
    }

    // global warm-up: JVM, shuffle machinery. The r11 warm-order fix
    // moved the q* family FIRST, i.e. onto the coldest JVM, and TPC-H
    // read ~20% high in every r11 flight — one scan-agg statement does
    // not warm the join/window codegen infrastructure the per-query
    // single warm-up then pays for. Warm one statement of each plan
    // SHAPE (scan-agg, multi-join, window) before any timed family.
    run("q1_pricing_summary")
    run("q5_local_supplier_volume")
    run("win_running_sum")

    // optional arg (local dev only): comma-separated query-name filter
    val only: Option[Set[String]] = args.headOption.map(_.split(",").toSet)
    // EXECUTION order: warmed (baseline-comparable) families first,
    // then the gate queries. Alphabetical execution put tpcds_*/xb_*
    // LAST, so once the growing flight crossed the in-run budget those
    // exact families lost their warm-up and read 1.6-2x inflated —
    // the r10 "flight drift" was mostly this, not box load. Warmed
    // families total well under the budget, so they now always warm;
    // the unwarmed tail is deadline-insensitive by construction.
    val names = all.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    val (warmedNames, coldNames) = names.partition(warmed.matches(_))
    val results0 = (warmedNames ++ coldNames).map(n => n -> warmAvg(n))
    val results = results0.sortBy(_._1)

    def r3(v: Double): String = // Locale.ROOT: a comma decimal mark would break the JSON
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jline(pairs: Seq[(String, String)]): String =
      pairs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

    // index-quality rows: *_recall_* gates emit one (recall, …) row;
    // record the VALUE (not just the seconds) so BENCH_FULL.json
    // tracks recall@k across rounds against the pinned floor
    val recallRows = results.collect { case (k, v) if k.contains("_recall_") && v >= 0 =>
      s"${k}_value" -> r3(recallValues.getOrElse(k, -1.0))
    }

    // per-gate soft budget: gates past this are listed so budget
    // growth is visible round-over-round (the top-10 gates are ~45 s
    // of a ~400 s driver budget; a silent creep there is what times
    // out a future round)
    val gateBudget = sys.env.getOrElse("SPARK_GRAFT_BENCH_GATE_BUDGET_SEC", "5").toDouble
    val overBudget = results.collect { case (k, v) if v > gateBudget => "\"" + k + "\"" }

    // burst-suspect flag: a gate >3x its previously committed value
    // (and >1 s absolute, so per-statement floor jitter never fires)
    // is listed so a reader can separate host-contention bursts from
    // real regressions INSIDE one flight — round 12's driver run had
    // five untouched agg_* gates read 3-24x high with identical plans
    // and a green oracle, and the committed artifact had no way to say
    // "this number is suspect". Comparison base: the BENCH_FULL.json
    // committed in the working dir from the previous flight, read
    // BEFORE this flight overwrites it (a filtered run never does, see
    // writeDump). Purely additive metadata — no timing, query, or
    // methodology change.
    val prevFull = readFlight(Paths.get(FullDump))
    val burstSuspect = results.collect {
      case (k, v) if v > 1.0 && prevFull.get(k).exists(p => p > 0 && v > 3 * p) =>
        "\"" + k + "\""
    }

    // full per-query dump — untruncatable file for the judge
    val fullJson = jline(results.map { case (k, v) => k -> r3(v) } ++ recallRows ++
      Seq("over_budget_gates" -> overBudget.mkString("[", ",", "]"),
        "burst_suspect_gates" -> burstSuspect.mkString("[", ",", "]"),
        "gate_budget_sec" -> r3(gateBudget)))
    val dump = writeDump(Paths.get("."), only.isDefined, fullJson)

    // compact headline line: TPC-H per-query (short keys), flight totals
    val tpchKey = "^q(\\d+)_.*".r
    val headline = results.collect {
      case (tpchKey(n), v) if v >= 0 => s"q$n" -> r3(v)
    }
    def flightTotal(prefix: String): Double =
      results.collect { case (k, v) if k.startsWith(prefix) && v >= 0 => v }.sum
    val ssb = flightTotal("ssb_")
    val cb = flightTotal("cb_")
    val tpcds = flightTotal("tpcds_")
    val total = results.map(_._2).filter(_ >= 0).sum
    val other = total - ssb - cb - tpcds -
      results.collect { case (tpchKey(_), v) if v >= 0 => v }.sum
    val qs = jline(headline ++ Seq(
      "ssb_total" -> r3(ssb), "cb_total" -> r3(cb),
      "tpcds_total" -> r3(tpcds), "other_total" -> r3(other)))
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${results.size},"queries":$qs,"full":"${dump.getFileName}","sf":"$sfDir"}""")
    spark.stop()
  }
}
