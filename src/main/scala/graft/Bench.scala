package graft

import org.apache.spark.sql.SparkSession

/** Headline benchmark: prints one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Runs a curated subset of SparkEntry.queries — the operators whose cost
  * is representative at sf0.1 (pairwise-similarity oracles like
  * dedup_embedding / dedup_ngram_jaccard are correctness-only: their
  * unblocked forms are quadratic in corpus size by design and belong to
  * the sf0.01 verification run, while the LSH/IVF scale paths ARE
  * benchmarked here).
  */
object Bench {
  val headline: Seq[String] = Seq(
    // SPARQL engine path (includes one-time quad-table materialization)
    "sparql_scan", "sparql_bgp_join", "sparql_star_join",
    "sparql_filter_arith", "sparql_groupby_agg", "sparql_orderby_limit",
    "sparql_subquery", "sparql_union", "sparql_distinct",
    // r7: WatDiv-shaped workload (the reference's only published bench,
    // README.md:1036-1055) — linear / star / snowflake / complex families
    "sparql_watdiv_l1", "sparql_watdiv_l2", "sparql_watdiv_l3",
    "sparql_watdiv_l4", "sparql_watdiv_l5",
    "sparql_watdiv_s1", "sparql_watdiv_s2", "sparql_watdiv_s3",
    "sparql_watdiv_s4", "sparql_watdiv_s5", "sparql_watdiv_s6",
    "sparql_watdiv_s7",
    "sparql_watdiv_f1", "sparql_watdiv_f2", "sparql_watdiv_f3",
    "sparql_watdiv_c1", "sparql_watdiv_c2", "sparql_watdiv_c3",
    // reasoner fixpoint
    "datalog_closure_seminaive",
    // streaming (batch window semantics + distributed RSP plane)
    "stream_tumbling_agg", "stream_sliding_agg", "stream_istream", "stream_dstream",
    "stream_window_bgp", "stream_window_istream",
    "stream_window_agg", "stream_cross_window_sds", // new r5: per-close agg + SDS+
    // new r6: 10x-density window plane + unequal-step multi-window Wait
    // + per-window top-k (subselect rank)
    "stream_window_istream_dense", "stream_multiwindow_istream",
    "stream_window_topk",
    // r6 session 2: path + BIND/VALUES block elements on the plane
    "stream_window_path", "stream_window_bind_values",
    // ml inference stage (+ r6 sklearn-pickle forest inference)
    "ml_predict_fixed", "ml_predict_sklearn_rf",
    // probabilistic stack
    "prob_minmax_closure", "prob_hybrid_twohop", "prob_sdd_wmc",
    // pipeline scale paths
    "dedup_exact", "dedup_minhash_lsh", "similarity_topk",
    // (similarity_ivf_topk retired r10 — float leg is spec-covered; the
    // portable twin + IVF-PQ below carry the IVF family's bench slots)
    "similarity_lsh_topk", "text_langid", "text_quality",
    "text_fingerprint", "text_token_count", "text_subword_count",
    "text_repetition", // new r5: Gopher-style duplicate-ngram fractions
    "text_contamination", "text_pii_scrub", // new r5: decontam sweep + PII redaction
    "text_c4_clean", // new r5: C4 line/document cleaning over seeded text
    // new r6: context-window chunking + Bloom-routed incremental dedup
    // + portable-hash LSH + int8 ANN + trigram langid
    "pipeline_chunk_overlap", "dedup_incremental",
    "dedup_minhash_lsh_portable", "similarity_int8_topk", "text_langid_ngram",
    // r6 session 3: Gopher quality gate + concat-and-chunk sequence
    // packing + DSIR importance weights
    "text_gopher_quality", "pipeline_pack_sequences", "pipeline_dsir_logw",
    // r6 session 4: point-in-time join + sessionization on events,
    // TF-IDF keywords + exact histogram percentiles on documents
    "events_asof_join", "events_sessionize", "events_interval_join",
    "events_rolling_agg",
    "text_tfidf_topk", "pipeline_percentiles",
    // r6 session 5: native session windows + BPE train-and-encode +
    // distributed-GD quality classifier
    "stream_session_agg", "pipeline_bpe_encode", "pipeline_quality_classifier",
    "sketch_kmv_distinct", "graph_pagerank", "similarity_jl_project",
    // r6 session 6: BM25 retrieval + prefix-filtered Jaccard join +
    // degree-oriented triangle counting + unicode canonicalization
    "text_bm25_topk", "dedup_prefix_jaccard", "graph_triangles",
    "text_unicode_clean", "sketch_cms_tokens", "pipeline_stratified_sample",
    "pipeline_corpus_diff", "dedup_containment",
    // r6 session 7: HLL sketch + exact-arithmetic k-means + PQ ANN +
    // pointer-doubling components + bounded BFS + stupid-backoff LM
    "sketch_hll_distinct", "similarity_kmeans", "similarity_pq_topk",
    "graph_components", "graph_bfs_hops", "lm_nll_trigram",
    "q_bloom_semijoin", "pipeline_zorder", "pipeline_bpe_train",
    // r6 session 8: ranked domain cap + first-touch funnel
    "pipeline_source_cap", "events_funnel",
    // r7: deep-taxonomy doubling (the reference's second published
    // claim), dHash multimodal near-dup, streaming LSH replay, and the
    // oracle-checked portable IVF twin
    "datalog_deep_taxonomy", "multimodal_phash_pairs",
    "dedup_minhash_stream", "similarity_ivf_portable",
    // r7 session 2: PassJoin segment-blocked Levenshtein join +
    // label-free SemDedup (portable k-means cells as the blocks)
    "dedup_editdistance", "dedup_semdedup_kmeans",
    // r8: the scaled-k SemDedup configurations (exact-Lloyd cells and
    // the fully-linear hyperplane cells) + the HTTP protocol smoke
    "dedup_semdedup_scaled", "dedup_semdedup_lsh", "http_sparql_smoke",
    // r8 session 2: composed IVF-PQ (coarse cells + residual codes)
    "similarity_ivfpq_topk",
    // r9: the streaming half of the HTTP protocol (register → push → SSE)
    "http_rsp_smoke",
    // relational direct mode
    "q1_pricing_summary", "q3_shipping_priority", "q4_priority_count",
    "q5_local_supplier", "q6_forecast_revenue", "q10_returned_items",
    "q_above_avg_parts")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Local-iteration escape hatch: comma-separated subset of headline names.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      // long single-session runs degrade linearly without these: the
      // status stores retain every execution/stage, and the weak-ref
      // ContextCleaner never fires on a mostly-idle 64g heap (measured
      // 25x per-query slowdown by query ~20; see scripts/ + git history)
      .config("spark.sql.ui.retainedExecutions", "2")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val all = SparkEntry.queries
    // One-time quad-table materialization is data loading, not query time
    // (the reference's WatDiv runs also load before timing,
    // n_triple_10M.rs:12-25); reported separately as "_load_quads".
    val tLoad = System.nanoTime()
    graft.relational.Triplizer.cachedStore(spark, sfDir).quads.count()
    val selected = headline.filter(all.contains).filter(n => only.forall(_.contains(n)))
    // every WatDiv slot now holds the subject-bucketed layout as the
    // compiler's star-routing twin (construction is eager — the one-time
    // bucketBy write is data loading, same status as the quads), but
    // only when a selected entry actually constructs it (an `only` run
    // of non-WatDiv entries must not pay the write)
    if (selected.exists(n => n.startsWith("sparql_watdiv_") ||
        n == "sparql_star_join_bucketed"))
      graft.relational.Triplizer.bucketedStore(spark, sfDir).quads.count()
    // settle the load's writeback debt INSIDE the untimed load window
    // (r11): the one-time store writes leave hundreds of MB of dirty
    // pages, and on a writeback-bound host the kernel flushes them
    // DURING the first timed entries — measured as 2-4× inflation of
    // whichever queries run right after a cold load (guide §1: time the
    // computation, not the sink). Best-effort; a missing /bin/sync is
    // ignored.
    try new ProcessBuilder("sync").start().waitFor(60, java.util.concurrent.TimeUnit.SECONDS)
    catch { case _: Throwable => () }
    val loadSecs = (System.nanoTime() - tLoad) / 1e9
    // n repetitions per query IN ONE SESSION (VERDICT r4 item 3: single
    // runs conflate plan cost with JVM/GC noise — the r4 artifact recorded
    // a 42% "regression" on sparql_filter_arith that was run-to-run
    // variance). Reported value = MEDIAN; min/max go to "spread".
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(3)
    // r5 postmortem: a query that THREW was timed at its time-to-crash
    // (~0.07 s) and recorded as a result — 8 crashed stream entries read
    // as a 7 s "speedup". Failures are now excluded from the total,
    // listed in the JSON, and fail the process.
    val failedQ = scala.collection.mutable.LinkedHashMap[String, String]()
    // One UNTIMED warm rep per entry, immediately before its timed reps
    // (VERDICT r7 item 3): the earlier one-entry-per-family warm-up left
    // every OTHER entry's rep 1 carrying its own plan's JIT/codegen-cache
    // cost, which with 3 reps lands in the MEDIAN of any sub-second entry
    // (observed: dedup_exact reps [4.10, 0.59, 0.55] → median 0.59 vs a
    // 0.24 s honest cost). The reference's WatDiv harness also times only
    // post-warm-up runs (n_triple_10M.rs: 20 runs per query). Warm-rep
    // times are recorded per entry ("warm_rep") for attribution; their
    // sum is "warmup_sec".
    var warmSecs = 0.0
    val warmRep = scala.collection.mutable.LinkedHashMap[String, Double]()
    val timed = selected.map { name =>
      val (w, runs, failure) = runEntry(spark, name, all(name), sfDir, reps)
      warmRep(name) = w; warmSecs += w
      failure.foreach(f => failedQ(name) = f)
      (name, runs)
    }.filter(_._2.nonEmpty)
    val results = ("_load_quads", loadSecs) +:
      timed.map { case (n, runs) =>
        val s = runs.sorted; n -> s(s.size / 2) }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spread = timed.map { case (n, runs) =>
      val s = runs.sorted
      "\"" + n + "\":{\"min\":" + s.head + ",\"max\":" + s.last + "}"
    }.mkString("{", ",", "}")
    val repTimes = timed.map { case (n, runs) =>
      "\"" + n + "\":" + runs.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val warmJson = warmRep.map { case (n, w) => "\"" + n + "\":" + w }
      .mkString("{", ",", "}")
    val failed = failedQ.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.filter(_._1 != "_load_quads").map(_._2).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"reps":$reps,"warmup_sec":$warmSecs,"warm_rep":$warmJson,"spread":$spread,"rep_times":$repTimes,"failed":$failed,"sf":"$sfDir"}"""
    // The full line lands in a file the round can always recompute from
    // (ADVICE r5: long stdout gets tail-truncated by the capture).
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")), line + "\n")
    // The STDOUT line is the compact medians-only form at ms precision
    // (VERDICT r11 item 1: the full 9-digit line with per-rep arrays is
    // ~10 KB and overflowed the driver's stdout-tail capture two rounds
    // running — PERF_r{10,11} both parsed null). Same schema and field
    // order as the contract ({metric, value, unit, queries, sf}); every
    // timed entry keeps its slot (nothing dropped or renamed), values are
    // the SAME medians rounded to ms. The full-precision artifact with
    // warm_rep/spread/rep_times stays in bench_last.json above. Floor of
    // this approach: 117 entry names alone are ~2.5 KB, so no compliant
    // line can fit a 2,000-byte tail window — this line is as short as
    // the contract allows (~3.2 KB), and build.sbt now suppresses sbt's
    // trailing "[success] Total time" line so this is the genuinely LAST
    // stdout line for a last-line parser.
    def ms(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qsCompact = results.map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qsCompact,"reps":$reps,"failed":$failed,"sf":"$sfDir"}"""
    // BENCH_r{9,10}.json parsed null: the streaming entries' StateStore
    // maintenance daemon raced spark.stop() and dumped a stack trace
    // AFTER the JSON line, so the driver's stdout-tail capture grabbed
    // the trace instead (VERDICT r10 item 3). Tear everything down FIRST
    // — active streams, state-store maintenance, the session — THEN emit
    // the JSON as the genuinely last stdout line, and exit immediately so
    // no lingering daemon can print after it.
    if (failedQ.nonEmpty)
      System.err.println(s"[bench] ${failedQ.size} queries FAILED: ${failedQ.keys.mkString(", ")}")
    try {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    } catch { case _: Throwable => () }
    spark.stop()
    Thread.sleep(500) // let any in-flight executor/daemon log lines land
    System.out.println(compact)
    System.out.flush()
    sys.exit(if (failedQ.nonEmpty) 1 else 0)
  }

  /** One entry under the job group `graft-bench-<name>`: an untimed warm
    * rep, then `reps` timed ones. Returns the warm rep's seconds, the
    * successful reps' seconds in run order (kept unsorted in "rep_times"
    * so a big max is attributable to late-rep GC drift; rep-1 JIT is
    * absorbed by the warm rep) and the last failure, if any. */
  def runEntry(spark: SparkSession, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String, reps: Int): (Double, Seq[Double], Option[String]) =
    SparkEntry.inEntryGroup(spark, "bench", name) {
      val tw = System.nanoTime()
      try fn(spark, sfDir).count()
      catch { case _: Throwable => () } // timed reps record the failure
      val w = (System.nanoTime() - tw) / 1e9
      System.gc()
      var failure = Option.empty[String]
      val runs = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            failure = Some(e.toString.take(300))
            System.err.println(s"[bench] $name FAILED: $e"); false }
        val secs = (System.nanoTime() - t0) / 1e9
        System.gc() // drive the weak-ref ContextCleaner between queries
        if (ok) Some(secs) else None
      }
      (w, runs, failure)
    }
}
