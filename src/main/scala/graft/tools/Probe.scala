package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import graft.{Bench, Sessions, SparkEntry}

/** Dev probe over the `SparkEntry.queries` registry.
  *
  * {{{
  * sbt "runMain graft.tools.Probe list"               # query / oracle key sets
  * sbt "runMain graft.tools.Probe time [names...]"    # min-of-reps noop wall time
  * sbt "runMain graft.tools.Probe plan [names...]"    # formatted physical plans
  * sbt "runMain graft.tools.Probe smells"             # cartesian / nested-loop check
  * }}}
  * `time` and `plan` take every query when no name is given.
  * env: SPARK_GRAFT_SF_DIR (driver testdata dir, required except for
  * `list`), SPARK_GRAFT_CPUS (local[N], default all cores),
  * SPARK_GRAFT_QUERY_REPS (`time` only, default 3).
  */
object Probe {
  def main(args: Array[String]): Unit = args.toList match {
    case "list" :: Nil => list()
    case "time" :: names =>
      val qs = queryNames(names); withSession(time(_, _, qs))
    case "plan" :: names =>
      val qs = queryNames(names); withSession(plan(_, _, qs))
    case "smells" :: Nil => withSession(smells)
    case _ =>
      System.err.println("usage: Probe list | time [names...] | " +
        "plan [names...] | smells")
      sys.exit(2)
  }

  private def list(): Unit = {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    println("queries=" + q.size + " oracles=" + o.size)
    println("no-oracle: " + (q -- o).toList.sorted.mkString(","))
    println("orphan-oracle: " + (o -- q).toList.sorted.mkString(","))
    println(q.toList.sorted.mkString(" "))
  }

  private def queryNames(names: List[String]): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
  }

  private def withSession(f: (SparkSession, String) => Unit): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a driver testdata dir"))
    val spark = Sessions.local(Sessions.cpus)
    try f(spark, dir) finally spark.stop()
  }

  /** Bench's per-query protocol: warm the extraction chain, then the best
    * of `reps` noop-sink runs. */
  private def time(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    val reps = sys.env.getOrElse("SPARK_GRAFT_QUERY_REPS", "3").toInt
    Bench.warmExtraction(spark, dir)
    names.foreach { name =>
      try {
        val ts = Seq.fill(reps)(Bench.runQuery(spark, dir, name))
        println(f"TIME $name min=${ts.min}%.3f all=${ts.map(t => f"$t%.2f").mkString(",")}")
      } catch { case e: Throwable => println(s"TIME $name FAILED $e") }
    }
  }

  /** The .explain review loop: column pruning (ReadSchema), predicate
    * pushdown (PushedFilters), broadcast joins and WholeStageCodegen spans. */
  private def plan(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try println(SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(FormattedMode))
      catch { case e: Throwable => println(s"explain failed: $e") }
    }

  // p07 brute-force ANN deliberately streams the corpus against a tiny
  // broadcast query set with no equi-key — its BroadcastNestedLoopJoin is
  // the intended plan (SimilarityOps.bruteTopK scaladoc), not an
  // accidental cartesian.
  // p47/p50/x14 cross-join TINY aggregate relations (a 1-row totals row,
  // a 4-row quantile list) into per-row arithmetic — a keyless broadcast
  // of ≤4 rows plans as BroadcastNestedLoopJoin and that IS the right
  // plan: O(n) stream against a constant-size build side.
  private val allowed = Map(
    "p07_ann_brute_topk" -> Set("BroadcastNestedLoop"),
    "p47_quantile_validate" -> Set("BroadcastNestedLoop"),
    "p50_mixture_plan" -> Set("BroadcastNestedLoop"),
    "x14_media_integrity" -> Set("BroadcastNestedLoop"),
    // q51 broadcasts the 1-row global min-ts (funnel key base); p57
    // broadcasts the 1-row stream total (the n div (k+1) bound) — same
    // keyless-constant-build-side class as p47/p50/x14
    "q51_funnel" -> Set("BroadcastNestedLoop"),
    "p57_heavy_hitters" -> Set("BroadcastNestedLoop"),
    // p64 runs bruteTopK twice (quantized + exact rankings) — p07's
    // documented broadcast-query-set plan; q57's rows_before ×
    // rows_deleted is a 1-row-aggregate cross per table
    "p64_quant_recall" -> Set("BroadcastNestedLoop"),
    "q57_cascade_delete" -> Set("BroadcastNestedLoop"),
    // p68 is bruteTopK's documented broadcast-anchor plan with a label
    // exclusion — same keyless small-build-side class as p07
    "p68_hard_negatives" -> Set("BroadcastNestedLoop"),
    // p71 crosses the 1-row total-tokens aggregate into the ranked top-N
    // (coverage ppm); p72 crosses the 1-row (n_a, n_b) totals into the
    // per-value CDF rows — the p47/p50 1-row-aggregate class again
    "p71_vocab_coverage" -> Set("BroadcastNestedLoop"),
    "p72_ks_drift" -> Set("BroadcastNestedLoop"),
    // p80 crosses the 1-row (total, sum_w) aggregate into the per-lang
    // ppm arithmetic — the p47/p50 1-row-aggregate class
    "p80_temperature_mix" -> Set("BroadcastNestedLoop"),
    // p81 crosses the broadcast 10-row checkpoint table (built from the
    // 1-row max-doc_id aggregate) into the first-occurrence scan
    "p81_vocab_growth" -> Set("BroadcastNestedLoop"),
    // p82's singleton row crosses the 1-row corpus total into the 1-row
    // clustered count — two 1-row aggregates
    "p82_cluster_sizes" -> Set("BroadcastNestedLoop"),
    // q79 crosses the 1-row priority-universe count into the per-
    // customer distinct counts — the division's broadcast constant
    "q79_division" -> Set("BroadcastNestedLoop"),
    // q78's non-equi 3-day band join probes the broadcast DAY LIST
    // (≤ |distinct days| rows, a calendar-bounded constant) — the
    // keyless small-build-side class again
    "q78_rolling_distinct" -> Set("BroadcastNestedLoop"),
    // p89 embeds p07's documented broadcast-query-set brute ranking as
    // its recall ground truth — the same keyless plan class as p07
    "p89_ivf_recall_sweep" -> Set("BroadcastNestedLoop"),
    // p92 crosses the 1-row exact-pair total into the 4-row levels
    // table — the p47/p50 1-row-aggregate class
    "p92_band_sweep" -> Set("BroadcastNestedLoop"),
    // p93 crosses the 1-row (grand, n_sources) total into the
    // source rollup — the p47/p50 1-row-aggregate class
    "p93_repetition_plan" -> Set("BroadcastNestedLoop"),
    // p94 streams the corpus against the broadcast eval-benchmark
    // vectors — p07's documented keyless broadcast-probe class
    "p94_semantic_decon" -> Set("BroadcastNestedLoop"),
    // p104 crosses the 1-row (total, n) aggregate and the 1-row
    // (k, pk, lev, rem) water-level row into the tiny per-source
    // table — the p47/p50 1-row-aggregate class twice over
    "p104_budget_waterfill" -> Set("BroadcastNestedLoop"),
    // p98 crosses the 1-row token-occurrence total into the top-pair
    // lift arithmetic — the p47/p50 1-row-aggregate class
    "p98_pmi_pairs" -> Set("BroadcastNestedLoop"),
    // p101 crosses the constant m=64 register-bucket range into the
    // calendar-bounded day list (the window-union cell grid) — q78's
    // keyless small-build-side class
    "p101_hll_sliding_union" -> Set("BroadcastNestedLoop"),
    // q111 crosses the 1-row digit-count total into the 9-digit ppm
    // arithmetic — the p47/p50 1-row-aggregate class
    "q111_benford" -> Set("BroadcastNestedLoop"),
    // p117 crosses the 1-row predicted-join-size total into the per-key
    // share arithmetic — the p47/p50 1-row-aggregate class
    "p117_join_size_plan" -> Set("BroadcastNestedLoop"),
    // p130 crosses the tiny distinct-lang and distinct-source tables to
    // build the PUBLIC release domain (absent cells must be released
    // too — DP requirement, not a join mistake); both sides are
    // label-cardinality-bounded — q78's keyless small-build-side class
    "p130_dp_histogram" -> Set("BroadcastNestedLoop"))

  /** One `PLAN <name> ok|SMELL:...|ERROR ...` line per query: an executed
    * plan holding a CartesianProduct or BroadcastNestedLoop that the
    * allow-list does not name is a smell. */
  private def smells(spark: SparkSession, dir: String): Unit =
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        val hits = Seq("CartesianProduct", "BroadcastNestedLoop")
          .filter(plan.contains)
          .filterNot(allowed.getOrElse(name, Set.empty).contains)
        println(s"PLAN $name ${if (hits.isEmpty) "ok" else "SMELL:" + hits.mkString(",")}")
      } catch { case e: Throwable => println(s"PLAN $name ERROR ${e.getMessage.take(80)}") }
    }
}
