package graft.core

import org.apache.spark.sql.SparkSession

/** The one place graft builds a session: every main, bench and test
  * session comes from `local`, so what the oracle gate checks is the conf
  * that is benched and shipped.
  *
  * The engine knobs (`tuned`) are cluster-size-relative (AQE, broadcast
  * threshold), never hard-coded to local mode, so the same plans hold on a
  * 1000-executor cluster; `local` adds only single-node sizing.
  */
object GraftSession {
  /** graft's recommended conf set, applied to any builder — the same knobs
    * whether the session is local or a 1000-executor cluster (cluster
    * sizing itself — executors, memory, shuffle partitions — stays with
    * the deployment). Includes the GraftExtensions injection so every
    * kernel is SQL-callable from session start. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    // ObjectHashAggregate falls back to SORT-BASED aggregation after only
    // 128 map keys — tuned for aggregates whose per-group object buffers
    // can be huge, but graft's TypedImperativeAggregates
    // (multi_distinct_count's CompactLongSets) hold state bounded by the
    // PARTITION's row count, so the fallback buys nothing and costs a
    // whole-fact sort: measured at the 100x relational slice, q8 went
    // super-linear (scaling exponent 1.30, 945 task-seconds) purely from
    // sorting + spilling 60M rows that a 47k-key hash map handled in
    // seconds. 2^19 keys keeps worst-case simultaneous map state around
    // ~100 MB/task (all-distinct adversarial partition) so the fallback
    // still protects the heap where it actually can matter.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      (1 << 19).toString)
    // 64 MB broadcast threshold (the 10 MB default predates multi-GB
    // executors). The knob is inherently scale-adaptive: a side only
    // broadcasts when its MEASURED size is under the cap, so a fact that
    // outgrows it shuffles exactly as before — raising it just stops a
    // 26 MB join side from dragging a two-stage plan into four stages of
    // shuffle machinery (q8 at the 10x relational slice: the orders side
    // crossed 10 MB and the wall doubled on stage serialization alone).
    // Executor sizing note: a 64 MB broadcast deserializes to a few
    // hundred MB of build map at worst, the standard budget for >= 4 GB
    // executors, which GraftSession targets.
    .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
    // The driver-side compiled-codegen cache (janino class cache) holds
    // 100 entries by default — a STATIC conf sized for a driver running a
    // handful of distinct plans. A catalog/pipeline session executes
    // hundreds of distinct codegen units (each WholeStageCodegen span,
    // each unsafe projection), so at 100 entries the cache thrashes
    // across queries and every COLD execution re-invokes janino (tens of
    // ms per unit, driver CPU, serial — the bench's run-1 vs warm-run gap,
    // e.g. q5 0.59 s -> 0.34 s, is about half recompile). Compiled classes
    // are a few KB each; 10k entries is single-digit MB of driver memory.
    // Steady-state (min-of-N) walls are unchanged — this removes the
    // first-execution tax of a >100-unit catalog, not per-run cost.
    .config("spark.sql.codegen.cache.maxEntries", "10000")
    // Every SQL execution — and every AQE stage materialization — posts a
    // listener event carrying the FULL formatted plan string, built on
    // the DRIVER'S CRITICAL PATH even with the UI disabled (thread dumps
    // of a q34 loop caught `QueryExecution.explainString` /
    // `PlanStringConcat.toString` in 2 of 6 samples; the conformance
    // closures render 6,000+-line plans, re-stringified per stage). The
    // string is diagnostic only — truncating it changes no plan and no
    // result. 32 KB keeps enough head for log forensics while bounding
    // the per-stage driver stall to O(1); the default is 2 GB.
    .config("spark.sql.maxPlanStringLength", (32 * 1024).toString)

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else every processor. */
  lazy val defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cores]` session on the shipped conf. `extra` carries static
    * confs a caller needs at context start (e.g. the FAIR scheduler). */
  def local(cores: Int = defaultCores,
            extra: Map[String, String] = Map.empty): SparkSession = {
    // Shuffle/spill/persist scratch on RAM-backed storage when the host
    // offers it (deployment-sizing, like shuffle.partitions): thread
    // dumps of a q75 loop showed concurrent tasks serialized inside
    // FileOutputStream.open0 on the ext4 scratch dir — block-manager
    // disk writes (persisted shared steps, shuffle files) pay ~135 µs
    // per file op under 32-way concurrency here. tmpfs A/B (min-merged
    // 2×, same window): q75 2.04→1.21 s, q76 1.72→1.17 s, subset total
    // 10.1→9.05 s. Production analog: NVMe/ramdisk shuffle tiers;
    // cluster managers provide their own local dirs. SPARK_GRAFT_LOCAL_DIR
    // overrides; falls back to the JVM default when /dev/shm is absent.
    val scratch = sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) Some("/dev/shm/graft-scratch")
      else None
    }
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // streaming state stores commit per partition per batch; size them
      // to stateful-key cardinality, not batch scan width (StreamConf).
      // r13 A/B over the 4 streaming queries (same window, min-of-3 each):
      // parts=32 14.9 s, 16 12.3 s, 8 7.3–7.7 s, 4 6.1 s, 2 6.8 s — the
      // per-store-instance tax (provider init + per-batch commit, ×4
      // stores for a stream-stream join) dominates far below the shuffle
      // width, and 4 is the measured knee at this state size. Production
      // sizes this by stateful-key cardinality/arrival rate via the same
      // conf.
      .config("spark.graft.stream.statePartitions", "4")
      // Deployment-sizing knob (like shuffle.partitions, NOT in tuned()):
      // on a single node reading local NVMe, split metadata is free and
      // the lake's write layout caps row groups at 16 MB, so 32 MB scan
      // splits (~2 row groups) pack waves far better than the 128 MB
      // default — measured at the 100x slice, a 3-branch scan-agg's wall
      // dropped 1.22 -> 0.90 s purely from wave-tail smoothing. Only
      // binds once a table exceeds cores x 32 MB (Spark already targets
      // one split per core below that), so small-SF plans are unchanged.
      // A multi-rack deployment would keep 128 MB+ to bound task count.
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
    scratch.foreach(d => b.config("spark.local.dir", d))
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = tuned(b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
