package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times the headline query set on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Each query is fully evaluated through the noop sink (count() would let
  * Catalyst prune every computed column and time only the scan). Three
  * timed passes: cold (JIT/codegen/footer caches empty) then two steady;
  * the headline metric is the per-query MIN across ALL passes INCLUDING
  * cold. Rationale (round-4 postmortem): the shared host's 30–110 s
  * stalls CAN land on the same query in both steady passes — BENCH_r04
  * shipped q123 at 151 s steady while its own cold pass ran it in 10 s —
  * so min-of-steady-only is not stall-proof. Cold strictly upper-bounds
  * steady cost, so min-with-cold remains a valid steady estimate, while
  * a real plan regression inflates every pass and stays visible. All
  * per-pass values are emitted ("queries_cold"/"queries_s1"/
  * "queries_s2") so a stall-corrupted pass is detectable from the
  * artifact alone.
  */
object Bench {

  /** Representative, scale-safe subset: one per operator family. */
  val headline: Seq[String] = Seq(
    "q1_agg",             // scan+agg
    "q3_join_topn",       // join + topN
    "q5_multijoin",       // 5-way star join
    "q6_filter_agg",      // selective filter
    "q13_distinct_agg",   // count distinct
    "q20_window_rank",    // window ranking
    "q21_window_running", // running frames
    "q26_cube",           // grouping sets
    "q46_explode",        // generator
    "q50_correlated_scalar", // subquery
    "q60_token_count",    // text tokenize
    "q61_quality_score",  // text quality
    "q64_dedup_exact",    // exact dedup
    "q65_minhash_lsh",    // minhash LSH
    "q201_incremental_dedup", // new-batch dedup; rebuilds the index inline,
                              // so this UPPER-BOUNDS the production cost
                              // (which reads the old index off disk)
    "q123_dedup_clusters",// connected-components clustering
    "q125_asof_attribution", // custom as-of join operator
    "q134_repetition",    // repetition quality signals
    "q139_ds_rollup_report", // TPC-DS-shaped rollup over snowflake join
    "q68_cosine_topk",    // similarity
    "q178_bm25",          // BM25 scoring (scan + 1-row stats broadcast)
    "q180_semdedup",      // quantized-cell within-cell near-dup
    "q111_neardup_lsh",   // banded sign-LSH near-dup gate (plan-native twins)
    "q215_shared_spans",  // ExactSubstr span dedup (shingle index + diagonal merge)
    "q216_span_decontamination", // verbatim eval-leak scan (broadcast eval index)
    "q198_token_rarity",  // unigram rarity quality signal
    "q71_tumbling_window",// event windows
    "q73_sessionize",     // sessionization
    "q75_fingerprint",    // custom expressions
    "q76_multimodal",     // binary pipeline
    "q232_quality_gate",  // per-source percentile gate (broadcast threshold)
    "q233_funnel",        // ordered funnel (multi-pass GROUP BY, exchange reuse)
    "q236_range_join_hot",// bucketed range join (equi-join, never BNLJ)
    "q246_kmv_distinct",  // mergeable KMV distinct sketch (direct + merged lanes)
    "q281_dd_quantiles",  // DDSketch quantiles (direct + parquet-stored merged lanes)
    "q287_scd2",          // SCD2 dimension apply (current-slice full-outer join)
    "q289_resample",      // time-series grid + 3-way gap fill (report-sized output)
    "q248_incremental_rollup", // stored-partials rollup maintenance (writes
                               // + re-reads the partial table inline, so this
                               // UPPER-BOUNDS the production merge-only cost)
    "q258_versioned_dml",  // snapshot-versioned UPDATE/DELETE + 3-way time travel
                           // (writes all versions inline per pass — upper bound)
    "q259_merge_on_read",  // delta commit + window merge + compaction inline
    "q265_line_boilerplate", // line-level boilerplate scrub (df sliver +
                             // broadcast anti join + per-doc reassembly)
    "q271_gopher_rules",   // Gopher filter battery (scan-side single projection)
    "q272_pkfk_join_elim", // constraint-driven join elimination (the join the
                           // plan does NOT run; oracle keeps it)
    "q276_mv_rewrite",     // materialized-view rewrite (builds the view inline
                           // each pass, so this UPPER-BOUNDS the production
                           // cost of a view-routed read)
    "q296_replication",    // bootstrap + incremental CDC replication round
                           // trip (source build, two syncs and a replay all
                           // inline — upper-bounds a production sync, which
                           // pays only the incremental diff)
    "q302_skewed_route",   // SKEWED BY list-bucketed write + hot-key point
                           // read through the SkewRoute pruning rule (writes
                           // the skewed table inline each pass — upper bound)
    "q305_kv_insert",      // graftkv external-handler write (OVERWRITE +
                           // sorted append under the writer lock) + key-window
                           // scan back through the DSv2 pushdown path
  )

  /** Every headline name must resolve in SparkEntry.queries — a silent
    * `filter(contains)` would let a typo (or a query that got unregistered)
    * shrink the bench set without anyone noticing. Pinned by BenchSpec. */
  def unresolvedHeadline: Seq[String] =
    headline.filterNot(SparkEntry.queries.contains)

  /** 1-minute load average from /proc/loadavg (NaN if unreadable — e.g.
    * non-Linux). Sampled before and after the timed passes so a gate
    * reader can apply BASELINE.md's host-variance calibration without a
    * re-run: same-tree totals have swung 1.4x with background load, and
    * a loaded-host artifact is otherwise indistinguishable from a plan
    * regression (the round-8 adjudication problem). */
  def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => Double.NaN }

  /** Aggregate timed passes into the artifact JSON. Pure so BenchSpec can
    * inject a failure and pin that (a) a failed query never appears in the
    * headline timing map, and (b) it IS listed under "failed" — round 5
    * shipped exception latencies as query times, which this forbids. */
  def render(cold: Seq[(String, Double)], steady1: Seq[(String, Double)],
             steady2: Seq[(String, Double)], failed: Seq[String],
             sfDir: String, loadStart: Double = Double.NaN,
             loadEnd: Double = Double.NaN): String = {
    // a failed query appears in NO timing map (not just the headline):
    // a partial success in one pass is still not a trustworthy number
    def ok(rs: Seq[(String, Double)]) = rs.filterNot(r => failed.contains(r._1))
    val (coldOk, s1Ok, s2Ok) = (ok(cold), ok(steady1), ok(steady2))
    val byName = (coldOk ++ s1Ok ++ s2Ok).groupBy(_._1)
    val results = headline.flatMap { name =>
      byName.get(name).map(ts => name -> ts.map(_._2).min)
    }
    def json(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val coldTotal = coldOk.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def num(d: Double) = if (d.isNaN) "null" else d.toString
    val host = s"""{"load1_start":${num(loadStart)},"load1_end":${num(loadEnd)},""" +
      s""""cores":${Runtime.getRuntime.availableProcessors()}}"""
    // the HEADLINE fields (metric/value/queries, the min-across-passes
    // map) go LAST: the driver keeps only the output's tail, and the
    // per-pass maps in front are the droppable detail
    s"""{"queries_cold":${json(coldOk)},"value_cold":$coldTotal,""" +
      s""""queries_s1":${json(s1Ok)},"queries_s2":${json(s2Ok)},""" +
      s""""failed":$failedJson,"host_load":$host,"sf":"$sfDir",""" +
      s""""metric":"total","unit":"sec","queries":${json(results)},"value":$total}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def evaluate(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Three passes, ALL timed. Pass 1 is cold (JVM JIT, per-query codegen
    // compilation, parquet footer/file-listing caches all cold) — the
    // first-run regime. Passes 2 and 3 are steady state — the regime a
    // long-lived cluster session actually runs in. The headline is each
    // query's min across all three, cold included (see the object doc);
    // every pass's map rides along in the artifact.
    if (unresolvedHeadline.nonEmpty) {
      System.err.println(s"[bench] headline names missing from SparkEntry.queries: " +
        unresolvedHeadline.mkString(", "))
      sys.exit(3)
    }

    // A query that throws must NOT be reported as a timing: round 5 shipped
    // exception latencies (q73=0.077s for a query that crashed) as "query
    // times" with rc=0. Failed queries are excluded from the timing maps,
    // listed under "failed", and force a non-zero exit so a gate reader
    // can never mistake a crash for a speedup.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def timedPass(): Seq[(String, Double)] =
      headline.flatMap { name =>
        val t0 = System.nanoTime()
        try {
          evaluate(name)
          Some(name -> (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
          None
        }
      }

    val loadStart = loadAvg()
    val cold = timedPass()
    val steady1 = timedPass()
    val steady2 = timedPass()
    val loadEnd = loadAvg()
    // Per-query MIN across all three passes — see the object scaladoc for
    // why cold participates (host stalls have hit the same query in both
    // steady passes; cold upper-bounds steady, so the min stays valid).
    // A query that failed in ANY pass is dropped from the headline map
    // (partial timings would understate it) and reported under "failed".
    println(render(cold, steady1, steady2, failed.toSeq, sfDir, loadStart, loadEnd))
    spark.stop()
    if (failed.nonEmpty) sys.exit(2)
  }
}
