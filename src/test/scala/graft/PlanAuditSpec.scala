package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression gate: no catalog query may degrade to a quadratic join.
  * A refactor that loses an equi-key (or a literal type mismatch that
  * defeats it) silently turns a shuffled/broadcast hash join into a
  * CartesianProduct / BroadcastNestedLoopJoin — fine at sf0.001, fatal at
  * 100 TB. Pin the absence here. */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  test("no query plans a cartesian product or nested-loop join") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"))
        Some(name)
      else None
    }
    assert(offenders.isEmpty, s"quadratic joins in: $offenders")
  }

  /** Shuffle budget per query (measured ceiling). Every groupBy/join/
    * window/distinct is an Exchange; a refactor that silently adds one
    * (lost partitioning reuse, a stray repartition, an accidental
    * non-equi join) fails here before it fails at 100 TB. */
  private val shuffleBudget = Map(
    // q2 (r10): labeled probe + bitmap_distinct — ONE label_id exchange
    // of 25 bitmap rows (the r9 form paid a second, 117 MB-at-100×
    // exchange of partial-distinct sets); the label join is broadcast
    "q1_pricing_summary" -> 1, "q2_star_join" -> 1, "q3_dim_conform" -> 0,
    "q4_dedup_latest" -> 1, "q5_period_agg" -> 2, "q6_trailing_3m" -> 2,
    // q8 (r7) runs the single-pass multi_distinct_count aggregate: two
    // join-side exchanges + the set-carrying groupBy exchange; no Expand
    // at all (variant test below pins the shape and value identity)
    "q7_topn_per_group" -> 1, "q8_customer_metrics" -> 3, "q9_magic_date" -> 0,
    "q10_asof_rate" -> 1, "q11_merge_upsert" -> 1, "q12_union_instances" -> 0,
    "q13_sessionize" -> 1, "q14_stream_tumbling" -> 0, "q15_dedup_exact" -> 1,
    "q16_text_quality" -> 0, "q17_token_count" -> 0, "q18_lang_id" -> 0,
    "q19_minhash_dedup" -> 5, "q20_simhash" -> 4, "q21_ngram_jaccard" -> 0,
    // q24 runs the dense per-cell kernel: cell-key exchange + final
    // max-by agg exchange (the expression twin's single exchange rode the
    // broadcast join; the dense form trades it for ~5× scoring throughput)
    "q22_ann_topk" -> 1, "q23_ann_lsh" -> 1, "q24_embedding_dedup" -> 2,
    "q25_fingerprint" -> 0, "q26_multimodal_meta" -> 0,
    "q27_hierarchy_union" -> 0, "q28_running_balance" -> 1,
    "q29_anti_join" -> 0, "q30_semi_join" -> 0, "q31_json_extract" -> 1,
    "q32_deterministic_sample" -> 1, "q33_vocabulary" -> 1,
    "q34_decontaminate" -> 3, "q35_repetition" -> 0, "q36_token_budget" -> 1,
    "q37_stream_sessionize" -> 0,
    // q38's label-propagation rounds run before the final plan exists;
    // the budget covers the component-size join over checkpointed labels
    "q38_dedup_components" -> 4, "q39_pii_scrub" -> 0, "q40_chunking" -> 0,
    "q41_stream_join" -> 0,
    // q42's two windows share one o_custkey partitioning; q43's ROLLUP is
    // one Expand+agg; q44's declared-value pivot is one agg; q45 = revenue
    // agg + nation window
    "q42_scd2_history" -> 1, "q43_rollup" -> 1, "q44_pivot" -> 1,
    "q45_rank_distribution" -> 2,
    // q46 = one source-window cumsum; q47's two windows share one source
    // partitioning
    "q46_sequence_pack" -> 1, "q47_quality_gate" -> 1,
    // q48 = bin equi-join (broadcast dims) + band agg; q49 is a pure map;
    // q50 = one agg per KPI branch, metadata-only union
    "q48_band_join" -> 1, "q49_train_split" -> 0, "q50_kpi_union" -> 3,
    // q51 = user-first-touch agg + segment rollup (dim broadcast);
    // q52 = single-pass user agg (min + bounded period set) + matrix count
    "q51_funnel" -> 2, "q52_cohort_retention" -> 2,
    // q53 = exploded hops into one combined agg; q54 = user window + matrix agg
    "q53_hopping_window" -> 1, "q54_transitions" -> 2,
    // q55 = assignment argmax + vec_id join + probe window + cell join + final agg
    "q55_ann_ivf" -> 6,
    // q82 = q55's IVF shape with the label filter at the candidate scan
    // and a top-3 window in place of the max-struct agg
    "q82_ann_filtered" -> 7,
    // q56 = gram-hash df agg + doc agg (join reuses the df partitioning);
    // q57 = StratifiedQuota: hist agg + tiny-hist window + (lang,bkt)
    // window (meta joins back via broadcast); q58 = one shard window;
    // q59 executes the stream — the returned frame is a memory-sink scan
    "q56_boilerplate" -> 2, "q57_temperature_mix" -> 3,
    "q58_shuffle_shard" -> 1, "q59_stream_dedup" -> 0,
    // q60 = corpus-bucket-cap window on (band,hash) + pair distinct +
    // verify joins sharing the candidate partitioning + final agg. At
    // test SF the corpus band side broadcasts, so the cap window's
    // exchange reads as +1; at scale the band join is sort-merge and
    // the SAME exchange satisfies it — no extra shuffle where it counts
    "q60_incremental_dedup" -> 4,
    // q61 = content-hash dup window + doc_id join + source rollup
    // (countDistinct rides the rollup's partial/final pair)
    "q61_corpus_report" -> 3,
    // q62 = pure map stage (per-vector quantization)
    "q62_quantize" -> 0,
    // q63 = coarse-candidate distinct + rescore window (query side
    // broadcast; candidate join rides AQE)
    "q63_ann_quantized" -> 2,
    // q64 = pair-count agg + word-count agg (joined back twice,
    // vocabulary-sized sides broadcast by AQE) + final top-k sort
    "q64_collocations" -> 4,
    // q65 = synth + header decode, pure map stage
    "q65_media_decode" -> 0,
    // q78 = audio/video synth + header decode, pure map stage
    "q78_av_decode" -> 0,
    "q79_pcm_windows" -> 0,
    // q87 = G.711 synth + ITU table expand + window stats, pure map stage
    "q87_g711_windows" -> 0,
    // q88 resolves its exact quantiles during construction (bounded
    // histogram jobs: ≤65536-row exchange per level, depth ≤4 on any
    // 64-bit domain); the returned plan is the 3-row local result — the
    // documented driver-scalar pattern (DimLookup-style bounded collect)
    "q88_exact_quantile" -> 0,
    // q89 = candidates-only exact count: the MG pass runs at construction
    // (agg exchange bounded to ≤k pairs/partition); the returned plan is
    // InSet-filter + ONE ≤k-key groupBy exchange + TakeOrdered (no sort
    // exchange — limit(k) pins it)
    "q89_heavy_hitters" -> 1,
    // q80 = ONE corpus-wide anchor-hash agg exchange + the shuffle_hash
    // text re-read (two candidate-/table-sized doc_id exchanges — the
    // broadcast form died at the 100x slice's driver heap) + the
    // candidate-only gram-verify window + doc_id island window +
    // presentation sort (r11 rework — the agg + self-join verify form
    // replayed the whole candidate subtree twice)
    "q80_dup_spans" -> 6,
    // q84 = q80's exact shape over the winnowed anchor subset (the
    // gram_hashes_winnowed kernel thins rows BEFORE the first exchange,
    // so the exchange COUNT is identical and the BYTES are ~8× smaller)
    "q84_dup_spans_winnowed" -> 6,
    // q85 = the q80 candidate pipeline run ASYMMETRICALLY over two anchor
    // streams (increment + corpus): churn-sized hash-set distinct, two
    // hash semi joins (probe), two shuffle_hash text re-reads (gram
    // materialization per side), the (h, gram) verify semi, the island
    // window, the all-increment left join and the presentation sort —
    // each bounded by churn or hash hits, none corpus-quadratic.
    // 13 = the r12 shuffle_hash form:
    // the probe semi joins exchange BOTH sides on h (3 more exchanges
    // than the broadcast-semi form, which collected ~1 GB of corpus
    // anchor hashes to the driver at the 100x slice and OOMed — the q80
    // broadcast-cliff lesson; all three extra exchanges are 8-byte-hash
    // streams, churn- or corpus-linear, never a driver collect)
    "q85_incremental_spans" -> 13,
    // q83 = q80's candidate pipeline + cut-span islands + per-doc span
    // arrays + the text-rebuild join + presentation sort
    "q83_dup_drop" -> 7,
    // q90 = q83's exact shape over the winnowed anchor subset (the q84
    // lever applied to the TRANSFORM: same exchange count, the
    // corpus-wide anchor exchange ~8× fewer bytes)
    "q90_dup_drop_winnowed" -> 7,
    // q91 = grouped q88: every histogram level and the batched resolve
    // run at construction (each ONE bounded exchange); the returned plan
    // is the ≤ groups×bps-row local result + its presentation sort
    "q91_group_quantile" -> 1,
    // q92 = ADPCM synth + block-reset predictor decode + window stats,
    // pure map stage (the q79/q87 shape)
    "q92_adpcm_windows" -> 0,
    // q93 = grouped q89: pass 1 (grouped MG agg) runs at construction;
    // the returned plan is broadcast-candidate semi + ONE ≤ groups×k-key
    // groupBy exchange + broadcast n-join + presentation sort
    "q93_group_heavy_hitters" -> 2,
    // q94 (r14) = ONE shingle pass: the (lang, sh) distinct exchange
    // (the key-domain shuffle the exact diagnostic column requires —
    // registers are idempotent per value, so they aggregate over the
    // deduped rows bit-identically), the lang-keyed register/count agg
    // exchange, + presentation sort. The r13 est-join-exact form paid 5
    // (two scans, two agg chains, a broadcast join)
    "q94_hll_distinct" -> 3,
    // q95 = q85's increment-probe core (the shuffle_hash form, same 13
    // count — see q85) with the report tail swapped for the q83/q90
    // cut-island window + per-doc span agg + text-rebuild join + sort
    "q95_increment_drop" -> 13,
    // q96 (r14) = un-melted profile: ONE global-agg exchange of one
    // 25-buffer row per partition; the 5 per-column rows generate from
    // the single aggregated row, so the presentation sort collapses to
    // a local sort of 5 rows (the r13 melt form pushed 5× the input
    // rows through Generate + a keyed agg: 2 exchanges)
    "q96_table_profile" -> 1,
    // q81 = ONE source exchange carrying bounded top-k partials + the
    // presentation sort over the (sources × k)-row result
    "q81_weighted_sample" -> 2,
    // q66 = magic hora encode/decode, pure map stage
    "q66_magic_hora" -> 0,
    // q67 = (source,word) tf agg + word df agg + join re-key + source window
    "q67_tfidf" -> 4,
    // q68 = cdc boundary scan + chunk explode, pure map stage
    "q68_cdc_chunks" -> 0,
    // q69 = pipelined assignment argmax + one cell-keyed cluster agg
    "q69_cluster_medoids" -> 2,
    // q77 = PQ encode + ADC are scan-fused projections over codebook /
    // query-table literals; the only exchange is the per-query argmin
    "q77_ann_pq" -> 1,
    // q86 = q77's scan-fused ADC over the filtered candidate side; the
    // one exchange carries <= 3 bounded top_k_double pairs per
    // (query, partition)
    "q86_ann_pq_filtered" -> 1,
    // q70–q73 run whole reference jobs (multi-step dedup-latest chains,
    // distinct-heavy master conforms) — their budgets are the measured
    // whole-job exchange counts, pinned so a runner change that loses
    // partitioning reuse across steps (or re-plans a master scan per
    // reference) shows up as a budget breach, not a silent 2× shuffle
    // r6: counts below exclude cached (InMemoryRelation) subtrees — the
    // conformance runner persists shared step/job intermediates, which
    // execute once however often they are referenced, so the live count
    // is the marginal shuffle work of the fact itself over its cached
    // upstream layers
    "q70_conf_t_venta" -> 9, "q71_conf_dim_cliente" -> 8,
    "q72_conf_estructura" -> 7, "q73_conf_fact_reparto" -> 4,
    "q74_conf_fact_venta_det" -> 6, "q75_conf_fact_cli_venta" -> 14,
    "q76_conf_fact_kpi" -> 12)

  test("with auto-broadcast off, no query degrades to a quadratic join") {
    // at 100 TB a "small" side can stop fitting the broadcast threshold;
    // every equi-join must then become a shuffled join, never a cartesian.
    // Explicit hints (fixed-size dims) may still broadcast — that's fine.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
      }
      assert(offenders.isEmpty, s"quadratic joins without broadcast: $offenders")
    } finally spark.conf.set(key, prior)
  }

  test("building the q23 plan submits no Spark job") {
    // a .head()/.collect() probe during plan construction runs a driver
    // job per invocation — the vector dim must come from config/schema.
    // (q22's bounded query-set collect is the documented build-side
    // pattern and intentionally exempt.)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    // warm the file index first so listing cost isn't misread as a probe
    SparkEntry.queries("q23_ann_lsh")(spark, sf).queryExecution.executedPlan: Unit
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("q23_ann_lsh")(spark, sf).queryExecution.executedPlan: Unit
      Thread.sleep(500) // listener events are async
      assert(jobs.get() == 0,
        s"q23 plan construction submitted ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q8 split variant: value-identical with well under half the shuffle bytes") {
    import graft.pipeline.CoreQueries
    val expand = CoreQueries.q8CustomerMetrics(spark, sf)
    val split = CoreQueries.q8CustomerMetricsSplit(spark, sf)
    assert(split.columns.toSeq == expand.columns.toSeq)
    assert(split.exceptAll(expand).isEmpty && expand.exceptAll(split).isEmpty,
      "split rewrite must be value-identical to the Expand form")
    assert(!split.queryExecution.executedPlan.toString.contains("Expand"),
      "the split form must not plan an Expand")
    def shuffleBytes(run: => Unit): Long = {
      val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          bytes.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
        }
      }
      spark.sparkContext.addSparkListener(l)
      try { run; Thread.sleep(300) } finally spark.sparkContext.removeSparkListener(l)
      bytes.get()
    }
    // byte comparison at sf0.01: key repetition (the thing map-side dedup
    // exploits) is unrepresentatively low at sf0.001
    val sfBytes = "/root/testdata/sf0.01"
    val bExpand = shuffleBytes(
      CoreQueries.q8CustomerMetrics(spark, sfBytes).write.format("noop").mode("overwrite").save())
    val bSplit = shuffleBytes(
      CoreQueries.q8CustomerMetricsSplit(spark, sfBytes).write.format("noop").mode("overwrite").save())
    // measured ratio is ~50% on this data (the three distinct streams
    // dedup map-side to roughly a third each, plus the shared join
    // exchanges); the listener's async stage accounting wiggles it by
    // <1%, so the pin is "at most 60%", not a knife-edge "under half"
    assert(bSplit * 100 < bExpand * 60,
      s"split shuffle ($bSplit B) must stay well under Expand's ($bExpand B)")
    // the r6 catalog form: the fact crosses the wire ONCE (o_custkey
    // repartition after the join), and the multi-distinct Expand runs
    // entirely inside those partitions — HashPartitioning(custkey)
    // satisfies the (custkey, key) clustering the distinct level needs,
    // so no further exchange plans. (It can shuffle MORE bytes than the
    // naive Expand at tiny SF, whose map-side pair-dedup bites when key
    // repetition is high — but it runs the fact pipeline once instead of
    // 4x/with 4x rows, which is what wins wall-clock at 10x and beyond.)
    val one = CoreQueries.q8CustomerMetricsOneExchange(spark, sf)
    assert(one.exceptAll(expand).isEmpty && expand.exceptAll(one).isEmpty,
      "one-exchange rewrite must be value-identical to the Expand form")
    val onePlan = one.queryExecution.executedPlan.toString
    val nEx = "Exchange (hash|range|Single)".r.findAllIn(onePlan).length
    assert(nEx == 3, // two join sides + the custkey repartition, no more
      s"one-exchange form must plan exactly 3 exchanges, found $nEx:\n$onePlan")
    // the r7 catalog form (r8: repartition(custkey) first): ONE
    // ObjectHashAggregate pass carrying all three distinct sets — no
    // Expand, no row replication; both aggregate passes run
    // partition-local after the custkey exchange (scattered-key partial
    // aggregation went sort-based past the fallback threshold at 100x)
    val onePass = CoreQueries.q8CustomerMetricsOnePass(spark, sf)
    assert(onePass.exceptAll(expand).isEmpty && expand.exceptAll(onePass).isEmpty,
      "single-pass rewrite must be value-identical to the Expand form")
    val opPlan = onePass.queryExecution.executedPlan.toString
    assert(!opPlan.contains("Expand"),
      "the single-pass form must not plan an Expand")
    assert(opPlan.contains("partial_multi_distinct_count"),
      s"the single-pass form must keep the partial/final aggregate split:\n$opPlan")
    // 1 exchange when orders broadcasts (tiny SF), at most 3 when the
    // join shuffles (two join sides + the custkey repartition)
    val nExOp = "Exchange (hash|range|Single)".r.findAllIn(opPlan).length
    assert(nExOp >= 1 && nExOp <= 3,
      s"single-pass form must plan 1..3 exchanges, found $nExOp:\n$opPlan")
  }

  test("scans prune columns and push filters down to parquet") {
    def scans(q: String): List[String] =
      SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("FileScan")).toList
    // column pruning: a 2-column projection must not read the wide table
    assert(scans("q17_token_count")
      .exists(_.contains("ReadSchema: struct<doc_id:bigint,text:string>")),
      "q17 must scan only doc_id+text")
    // r9 probe form: the orders/customer side lives in the DimLookup
    // build (its own job), so the AUDITED q2 plan scans lineitem only —
    // and prunes it to exactly the three columns the query touches
    locally {
      val q2 = scans("q2_star_join")
      assert(!q2.exists(_.contains("orders.parquet")),
        "probe-form q2 must not scan orders in the query plan")
      assert(q2.exists(l => l.contains("lineitem.parquet") &&
        l.contains("ReadSchema: struct<l_orderkey:bigint," +
          "l_extendedprice:double,l_discount:double>")),
        s"q2 must scan only the three lineitem columns it uses: $q2")
    }
    // the SCD2 build must not drag unused orders columns into its window
    assert(scans("q42_scd2_history").exists(_.contains(
      "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint," +
        "o_orderdate:timestamp_ntz,o_orderpriority:string>")),
      "q42 must scan only the four columns the history build touches")
    // the split assignment reads id+source+text, never the full table
    assert(scans("q49_train_split").exists(_.contains(
      "ReadSchema: struct<doc_id:bigint,text:string,source:string>")),
      "q49 must scan only doc_id+text+source")
    // conformance jobs compile to ONE plan, so pruning must cross the
    // stage-view AND metadata boundaries: t_venta's closure touches
    // orders through several synthesized stage tables, yet no orders
    // scan may read the fact-side columns no job column derives from
    val q70Orders = scans("q70_conf_t_venta").filter(_.contains("orders.parquet"))
    assert(q70Orders.nonEmpty)
    assert(q70Orders.forall(l =>
      !l.contains("o_totalprice") && !l.contains("o_comment") &&
        !l.contains("o_clerk") && !l.contains("o_shippriority")),
      "q70's orders scans must prune columns through the stage views")
  }

  test("every query stays within its shuffle budget") {
    // deterministic baseline: conformance plans must be FRESH — once an
    // earlier suite materializes a persisted intermediate, its cached
    // subtree prints in AQE-final form and the count drifts with suite
    // order
    graft.sources.ConformanceLake.clearCaches()
    val ex = "Exchange (hash|range|Single)".r
    // drop cached subtrees before counting: everything printed under an
    // InMemoryRelation is the plan that built the cache — it executes
    // once however many times it is referenced, and its printed form
    // mutates once the cache materializes (AQE-final), which made the
    // raw count depend on suite order. The indent of the
    // InMemoryRelation line scopes its subtree.
    def liveLines(plan: String): Iterator[String] = {
      var skipIndent = -1
      plan.linesIterator.filter { line =>
        val indent = line.indexWhere(c => c != ' ' && c != ':' && c != '+' && c != '-')
        val depth = if (indent < 0) 0 else indent
        if (skipIndent >= 0 && depth > skipIndent) false
        else if (line.contains("InMemoryRelation")) { skipIndent = depth; false }
        else { skipIndent = -1; true }
      }
    }
    val over = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      val n = liveLines(plan).map(l => ex.findAllIn(l).length).sum
      val budget = shuffleBudget.getOrElse(name,
        fail(s"no shuffle budget declared for $name — add one"))
      if (n > budget) Some(s"$name: $n > $budget") else None
    }
    assert(over.isEmpty, s"shuffle budget exceeded: $over")
  }
}
