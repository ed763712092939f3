package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.ConformanceJobs._

/** Executes a transcribed reference job ([[ConformanceJobs.Job]]) as one
  * declarative DataFrame plan — the interpreter half of the conformance
  * parity sweep (reference execution shape: each Glue job's read ->
  * join -> select -> upsert chain, common_jobs_functions.py:222-356).
  *
  * Runtime parameters mirror the reference's environment:
  *   - `periods` replaces get_periods() (__PERIODS__ placeholder)
  *   - `today` replaces the Lima clock (__TODAY__ placeholder), so runs
  *     are deterministic and the DuckDB oracle can replay them.
  *
  * Scale notes: every op maps 1:1 onto a Catalyst relational operator —
  * joins stay equi-joins (AQE free to broadcast the master sides),
  * filters stay predicate-pushdown-eligible, and the whole job compiles
  * to ONE plan (no step materialization), so Catalyst prunes columns
  * across step boundaries exactly as if the job had been hand-written.
  */
object ConformanceRunner {
  final case class Params(
      periods: Seq[String] = Seq("199504", "199505", "199506"),
      today: String = "1995-07-01")

  /** Substitute the runtime placeholders inside a transcribed SQL
    * fragment. */
  private def bind(sql: String, p: Params): String = {
    val periods = p.periods.map(x => s"'$x'").mkString(", ")
    sql.replace("__PERIODS__", periods).replace("__TODAY__", p.today)
  }

  private def compileCol(c: Conformance.Col, p: Params): Column =
    Conformance.compile(
      c.copy(source = bind(c.source, p)), today = p.today)

  /** Run one job against resolved source frames. `resolve` maps a
    * (layer, table) read to its DataFrame (stage synth or an upstream
    * job's output). `trace`, when set, observes the frame after every op
    * (step, op index within the step, op, current frame) — the hook
    * ConformanceExact uses to lift resolved Catalyst trees for the
    * exact-decimal oracle rendering. */
  def run(job: Job, resolve: (String, String) => DataFrame,
          params: Params = Params(),
          trace: (Step, Int, Op, DataFrame) => Unit = null,
          persistShared: DataFrame => DataFrame = identity): DataFrame = {
    val srcByVar: Map[String, Source] =
      job.sources.map(s => s.varName -> s).toMap
    val stepOut = scala.collection.mutable.Map[String, DataFrame]()
    // steps referenced by more than one downstream op would re-execute
    // their whole subtree per reference (Spark shares only identical
    // physical exchanges): hand them to persistShared — ConformanceLake
    // pins them like the reference's materialized intermediates (e.g.
    // fact_cliente_venta joins tmp_aux_cantidades_general into the 3m
    // AND 12m trailing windows)
    val stepRefs: Map[String, Int] = job.steps.flatMap(_.ops).collect {
      case From(r, _) if !r.startsWith("src:") => r
      case Join(r, _, _, _, _) if !r.startsWith("src:") => r
      case UnionOp(r, _) if !r.startsWith("src:") => r
    }.groupBy(identity).map { case (k, v) => k -> v.size }
    // lineage order keys for the orderBy->dropDuplicates idiom
    val stepOrder = scala.collection.mutable.Map[String, Seq[String]]()

    def ref(r: String): DataFrame =
      if (r.startsWith("src:")) {
        val s = srcByVar(r.substring(4))
        resolve(s.layer, s.name)
      } else stepOut(r)

    def refOrder(r: String): Seq[String] =
      if (r.startsWith("src:")) Seq.empty else stepOrder.getOrElse(r, Seq.empty)

    job.steps.foreach { step =>
      var df: DataFrame = null
      var pendingOrder: Seq[String] = Seq.empty
      step.ops.zipWithIndex.foreach { case (op, opIdx) => op match {
        case From(r, alias) =>
          df = ref(r)
          pendingOrder = refOrder(r)
          if (alias.nonEmpty) df = df.alias(alias)
        case Join(r, alias, jt, on, using) =>
          var right = ref(r)
          if (alias.nonEmpty) right = right.alias(alias)
          df =
            if (using.nonEmpty) df.join(right, using, jt)
            else df.join(right, expr(bind(on.get, params)), jt)
        case Filter(e) =>
          if (e.startsWith("__SEMI__")) {
            // col IN (SELECT col FROM stage table) — m_pais's collected
            // company-country list re-expressed as a semi join
            val m = "__SEMI__ (\\S+) IN (\\S+)\\.(\\S+)".r
              .findFirstMatchIn(e)
              .getOrElse(throw new IllegalArgumentException(e))
            val keys = resolve("BIGMAGIC", m.group(2))
              .select(col(m.group(3)).as("__semi_key")).distinct()
            df = df.join(broadcast(keys), col(m.group(1)) === col("__semi_key"),
              "left_semi")
          } else df = df.filter(expr(bind(e, params)))
        case Select(cols) =>
          df = df.select(cols.map(compileCol(_, params)): _*)
          pendingOrder = Seq.empty
        case GroupBy(keys, aggs) =>
          val g = df.groupBy(keys.map(k => expr(bind(k, params))): _*)
          val compiled = aggs.map(compileCol(_, params))
          df = g.agg(compiled.head, compiled.tail: _*)
          pendingOrder = Seq.empty
        case WithColumn(name, e) =>
          df = df.withColumn(name, expr(bind(e, params)))
        case UnionOp(r, byName) =>
          df = if (byName) df.unionByName(ref(r)) else df.union(ref(r))
        case Distinct =>
          df = df.distinct()
        case DropDuplicates(subset) =>
          if (subset.isEmpty) df = df.dropDuplicates()
          else if (pendingOrder.nonEmpty) {
            // deterministic keep-first under the recorded lineage order
            // (reference: orderBy(desc).dropDuplicates — order-dependent
            // in Spark only by accident of partitioning; the window form
            // pins the intended semantics)
            val ordCols = pendingOrder.map(parseOrder)
            val w = Window.partitionBy(subset.map(col): _*).orderBy(ordCols: _*)
            df = df.withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1).drop("__rn")
            pendingOrder = Seq.empty
          } else df = df.dropDuplicates(subset)
        case OrderBy(keys) =>
          // lineage metadata only — a global sort buys nothing here and
          // would cost a range exchange at scale
          pendingOrder = keys
      }
        if (trace != null) trace(step, opIdx, op, df)
      }
      stepOut(step.name) =
        if (stepRefs.getOrElse(step.name, 0) > 1) persistShared(df) else df
      if (pendingOrder.nonEmpty) stepOrder(step.name) = pendingOrder
    }
    stepOut(job.result)
  }

  private def parseOrder(k: String): Column = {
    val t = k.trim
    if (t.toUpperCase.endsWith(" DESC")) col(t.dropRight(5).trim).desc
    else if (t.toUpperCase.endsWith(" ASC")) col(t.dropRight(4).trim).asc
    else col(t)
  }
}

/** Orchestrates the full reference workload over the synthesized stage:
  * stage synth -> 31 domain jobs -> 21 analytics jobs, in dependency
  * order, each via [[ConformanceRunner]] — the whole-platform twin the
  * round-4 verdict asked for ("runs the reference's actual workloads").
  */
object ConformanceLake {
  import ConformanceRunner.Params

  /** Run `names` (default: every job) and return job -> result frame.
    * Upstream outputs are resolved lazily and memoized as plans (nothing
    * materializes until the caller acts on a frame).
    *
    * Runs in a CLONED session (`newSession`: shared SparkContext, own
    * conf + temp views) with ANSI mode off: the reference executes on
    * Spark 3 (non-ANSI default), where divide-by-zero and failed casts
    * yield NULL rather than raising — several jobs rely on it (e.g.
    * t_hoja_asignacion_detalle divides by an exchange rate that source
    * data legitimately zeroes). DuckDB division matches (NULL on /0),
    * so the oracle agrees. The clone keeps that semantic flip out of the
    * caller's session — flipping ANSI globally would silently change
    * unrelated queries built afterwards. */
  // one conformance clone per (caller session, data dir): cloning and
  // re-registering ~50 stage views per job invocation is pure plan-time
  // overhead (a driver job per view), and the clone is config-immutable
  // after setup so reuse is safe. The entry also carries a cheap DATA
  // fingerprint (file names/mtimes/sizes under dir): if the files are
  // rewritten in the same JVM (the driver regenerates testdata between
  // rounds), the next run() misses the cache, drops the stale clone's
  // plans and persisted intermediates, and rebuilds — callers never see
  // stale persisted results and entries cannot accumulate per rewrite.
  private final case class CloneEntry(fp: String, session: SparkSession)
  private val cloneCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), CloneEntry]()

  private def fingerprint(dir: String): String = {
    def stamp(f: java.io.File): String =
      s"${f.getName}:${f.lastModified}:${f.length}"
    val top = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    top.flatMap { f =>
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(c => stamp(f) + "/" + stamp(c))
      else Array(stamp(f))
    }.sorted.mkString("|").hashCode.toString
  }

  private def dropSessionCaches(stale: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    planCache.asScala.filter(_._1._1 eq stale).foreach { case (k, df) =>
      try df.unpersist(blocking = false) catch { case _: Throwable => () }
      planCache.remove(k): Unit
    }
    serveCache.asScala.keys.filter(_._1 eq stale)
      .foreach(serveCache.remove(_): Unit)
    narrowSessions.remove(stale): Unit
    stepPersists.asScala.filter(_.sparkSession eq stale).foreach { df =>
      try df.unpersist(blocking = false) catch { case _: Throwable => () }
      stepPersists.remove(df): Unit
    }
  }

  /** `parent.newSession()` carrying `parent`'s runtime SQL conf: a new
    * session starts from the context's conf, so without the copy a
    * caller's own `conf.set` (say, a lower broadcast threshold) would not
    * reach the plans its conformance jobs run. Copied at creation. */
  private def child(parent: SparkSession): SparkSession = {
    val s = parent.newSession()
    parent.conf.getAll.foreach { case (k, v) =>
      if (!s.conf.getOption(k).contains(v)) s.conf.set(k, v)
    }
    s
  }

  private def conformanceSession(spark0: SparkSession, dir: String): SparkSession =
    cloneCache.compute((spark0, dir), { (key, old) =>
      val fp = fingerprint(dir)
      if (old != null && old.fp == fp) old
      else {
        if (old != null) dropSessionCaches(old.session)
        val s = child(key._1)
        s.conf.set("spark.sql.ansi.enabled", "false")
        // Cache-build memory is batchSize × columns × concurrent tasks:
        // the default 10k-row batches over the closure's wide rows hold
        // ~0.5-1 GB of column builders across 32 task slots DURING the
        // DISK_ONLY write of a 60M-row intermediate — on top of in-flight
        // broadcast builds, that OOMed the default 8 GB local[32] heap at
        // the 100× slice. 2500-row batches cut the in-flight builder
        // footprint 4× for a few % of cached-scan speed; the persisted
        // bytes are unchanged.
        s.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", "2500")
        StageSynth.register(s, key._2)
        CloneEntry(fp, s)
      }
    }).session

  /** The memoized ANSI-off conformance clone for (session, dir) — stage
    * views registered (ConformanceExact resolves stage reads here). */
  private[graft] def session(spark0: SparkSession, dir: String): SparkSession =
    conformanceSession(spark0, dir)

  // job plans are pure functions of (clone, params, job): memoize them
  // across run() calls too — a whole-job closure like
  // fact_reparto_detalle is a large plan whose construction/analysis is
  // driver work worth paying once, not once per invocation
  private val planCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, Params, String), DataFrame]()

  // step outputs pinned by persistShared (multiply-referenced within one
  // job); tracked so clearCaches can release them
  private val stepPersists =
    java.util.concurrent.ConcurrentHashMap.newKeySet[DataFrame]()

  /** Storage level for whole-closure intermediates. Default DISK_ONLY:
    * the cached columnar batches land on local disk (and the OS page
    * cache), so a 100×-slice run survives the default 8 GB driver heap —
    * MEMORY_AND_DISK held multi-GB intermediates in storage memory and
    * died in GC (SURVEY §7h heap note, closed r10). At cluster scale the
    * same argument holds per executor: whole-closure intermediates are
    * scan-once/read-many and have no business residing in the heap. */
  private[sources] def persistLevel(spark: SparkSession)
      : org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.fromString(
      spark.conf.getOption("spark.graft.conformance.persistLevel")
        .getOrElse("DISK_ONLY"))

  private[sources] def persistShared(df: DataFrame): DataFrame = {
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
      df.persist(persistLevel(df.sparkSession))
      stepPersists.add(df): Unit
    }
    df
  }

  def run(spark0: SparkSession, dir: String,
          names: Seq[String] = ConformanceJobs.ordered.map(_.name),
          params: Params = Params()): Map[String, DataFrame] = {
    val spark = conformanceSession(spark0, dir)
    // In the REFERENCE, upstream domain outputs are materialized lake
    // tables — a fact job reads t_reparto from storage, it does not
    // re-run t_reparto's plan per reference. A single closure plan here
    // would instead re-execute a shared upstream subtree once per
    // referencing join (Spark shares only identical physical exchanges),
    // so every upstream job the requested closure references is
    // persisted — the in-memory stand-in for the reference's
    // materialized tables (the DuckDB oracle's CTE materialization makes
    // the same choice on its side). Fact-level q73 drops 5.1 s → 0.5 s.
    val refs = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    locally {
      val seen = scala.collection.mutable.Set[String]()
      def visit(n: String): Unit =
        ConformanceJobs.byName(n).dependencies.foreach { case (_, t) =>
          refs(t) += 1
          if (seen.add(t)) visit(t)
        }
      names.foreach { n => if (seen.add(n)) visit(n) }
    }
    // get/putIfAbsent, NOT computeIfAbsent: upstream jobs resolve
    // recursively through jobOut, and ConcurrentHashMap forbids
    // recursive updates inside a mapping function
    def jobOut(name: String): DataFrame = {
      val key = (spark, params, name)
      val df = {
        val hit = planCache.get(key)
        if (hit != null) hit
        else {
          planCache.putIfAbsent(key,
            ConformanceRunner.run(ConformanceJobs.byName(name), resolve, params,
              persistShared = persistShared))
          planCache.get(key)
        }
      }
      // persistence is decided per CLOSURE, outside the cache branch: a
      // plan cached unpersisted by an earlier single-job run must still
      // be pinned when a later closure depends on it
      if (refs(name) >= 1 &&
          df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        df.persist(persistLevel(df.sparkSession)): Unit
      df
    }
    lazy val resolve: (String, String) => DataFrame = {
      case ("BIGMAGIC", t) => spark.table(s"stage_$t")
      case (_, t)          => jobOut(t)
    }
    names.map(n => n -> jobOut(n)).toMap
  }

  /** Drop every cached conformance session, plan, and persisted
    * intermediate (test hygiene / memory release). */
  def clearCaches(): Unit = {
    import scala.jdk.CollectionConverters._
    planCache.values().asScala.foreach { df =>
      try df.unpersist(blocking = false) catch { case _: Throwable => () }
    }
    stepPersists.asScala.foreach { df =>
      try df.unpersist(blocking = false) catch { case _: Throwable => () }
    }
    stepPersists.clear()
    planCache.clear()
    serveCache.clear()
    narrowSessions.clear()
    cloneCache.clear()
  }

  def runJob(spark: SparkSession, dir: String, name: String,
             params: Params = Params()): DataFrame =
    run(spark, dir, Seq(name), params)(name)

  // steady-state serving: planCache reuses the CONSTRUCTED plan, but each
  // action still pays the full Catalyst optimization fixpoint over the
  // whole transcribed closure — for the big jobs (t_venta: 9-way join
  // over ~50 stage views) that fixed driver cost dominates the wall and
  // is independent of data size (the q70 exponent is ~0 across 10x->100x).
  // Serve from the OPTIMIZED plan instead: pay the fixpoint once per
  // (clone, params, job), wrap the result back into a Dataset, and later
  // actions re-converge in one cheap pass. Same fingerprint-keyed
  // invalidation as the clone itself (a stale clone drops its entries).
  private val serveCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, Params, String), DataFrame]()

  // r10: the residual serve cost of the OVERHEAD-class closures (q70 at
  // 10x, q72 at every scale) is ~20 AQE stages of sub-MB work — per-stage
  // job submission + re-planning, not data. Measured A/B at the 10x slice
  // (min-of-4, SURVEY.md §7h item 2): AQE off + 4 shuffle partitions cuts
  // t_venta 1.83->0.74 s and m_estructura 1.09->0.45 s, while the same
  // conf poisons CACHE MATERIALIZATION of the heavy closures (q75 first
  // run 36->89 s). So a served plan runs on a NARROW session only when
  // (a) its optimized closure holds no InMemoryRelation — nothing to
  // materialize under the narrow conf — and (b) its file-leaf bytes sit
  // under spark.graft.conformance.narrowServeBytes (default 256 MB), the
  // scale-aware guard: a closure whose scans grow with the fact axis
  // leaves the narrow path automatically at bigger slices.
  private val narrowSessions = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, SparkSession]()

  private def narrowSession(clone: SparkSession): SparkSession =
    narrowSessions.computeIfAbsent(clone, { c =>
      val s = child(c)
      s.conf.set("spark.sql.adaptive.enabled", "false")
      // 4 partitions, not 1 (r11 A/B at the 100x slice, min-of-5 via
      // spark.graft.conformance.narrowPartitions): 1 partition SLOWS
      // t_venta 1.14 -> 2.85 s (its stages serialize through one
      // reducer) and buys estructura only ~0.2 s; 2 == 4 within host
      // noise. The residual ~0.5 s estructura wall is per-STAGE dispatch
      // across ~20 stages of unchanging sub-MB data — irreducible
      // without collapsing the plan itself. Floor documented; knob kept
      // for re-measurement.
      s.conf.set("spark.sql.shuffle.partitions",
        c.conf.getOption("spark.graft.conformance.narrowPartitions")
          .getOrElse("4"))
      s
    })

  /** Wrap `plan` for `sess` at its re-optimization fixpoint: the frame
    * whose optimized plan IS its own logical plan (canonically), found in
    * at most `passes` optimize iterations — None when it will not settle
    * (the caller serves the direct frame). Each pass is one Catalyst
    * fixpoint run, paid once per (clone, params, job) cache entry. */
  private def optimizeFixpoint(sess: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      passes: Int): Option[DataFrame] = {
    var p = plan
    var i = 0
    while (i < passes) {
      val df = org.apache.spark.sql.graft.PlanShim.ofRows(sess, p)
      val next = df.queryExecution.optimizedPlan
      if (next.canonicalized == p.canonicalized) return Some(df)
      p = next
      i += 1
    }
    None
  }

  /** The session a served plan should execute under: the narrow clone for
    * small cache-free closures, the regular clone otherwise. */
  private def serveSession(clone: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): SparkSession = {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val leaves = plan.collectLeaves()
    val hasCache = leaves.exists(_.isInstanceOf[InMemoryRelation])
    val fileBytes = leaves.map {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.sizeInBytes
        case r => r.sizeInBytes
      }
      case _ => 0L
    }.sum
    val cap = clone.conf.getOption("spark.graft.conformance.narrowServeBytes")
      .map(_.toLong).getOrElse(256L << 20)
    if (hasCache || fileBytes > cap) clone else narrowSession(clone)
  }

  /** [[runJob]] + [[ConformanceGate.normalize]], served from a cached
    * optimized plan — the catalog/bench entry point. Results are
    * value-identical to `ConformanceGate.normalize(runJob(...))`
    * (optimization is semantics-preserving and idempotent); only the
    * repeated driver-side planning work is shed. */
  def serveJob(spark0: SparkSession, dir: String, name: String,
               params: Params = Params()): DataFrame = {
    val spark = conformanceSession(spark0, dir)
    val key = (spark, params, name)
    val hit = serveCache.get(key)
    if (hit != null) hit
    else {
      val norm = ConformanceGate.normalize(runJob(spark0, dir, name, params))
      val plan = norm.queryExecution.optimizedPlan
      val sess = serveSession(norm.sparkSession, plan)
      // Value-identity rests on Catalyst re-optimization of an
      // already-optimized plan, which is semantics-preserving by rule
      // contract but NOT convergent in one pass (constraint inference
      // adds isnotnull filters monotonically — measured on t_venta). So
      // iterate to the optimization FIXPOINT at cache population and
      // serve that plan: every later action re-optimizes it to itself,
      // so the cached shave cannot drift. A plan that will not settle
      // within a few passes serves the direct frame instead —
      // correctness over the planning shave.
      val served = optimizeFixpoint(sess, plan, passes = 4).getOrElse(norm)
      serveCache.putIfAbsent(key, served)
      serveCache.get(key)
    }
  }
}

/** Gate normalization for conformance twins: the driver's hash compare
  * needs DOUBLE not DECIMAL in final projections, TIMESTAMP_NTZ not
  * TIMESTAMP (parquet tz-adjust), and typed NULLs (void columns can't
  * even be written to parquet). Both sides derive from the same schema
  * so the casts are symmetric by construction. */
object ConformanceGate {
  import org.apache.spark.sql.types._

  /** Spark-side: normalized frame ready for the oracle gate. */
  def normalize(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: DecimalType => expr(s"CAST(`${f.name}` AS DOUBLE)").as(f.name)
        case TimestampType  => expr(s"CAST(`${f.name}` AS TIMESTAMP_NTZ)").as(f.name)
        case NullType       => expr(s"CAST(NULL AS STRING)").as(f.name)
        case _              => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** DuckDB-side: the matching final select list. Decimal -> double goes
    * through VARCHAR: DuckDB's native decimal->double (hugeint->double
    * then /10^s) double-rounds past 2^53 of unscaled magnitude, while
    * string->double is correctly-rounded nearest — matching Spark's
    * BigDecimal.doubleValue at any scale factor. */
  def finalSelect(schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case _: DecimalType =>
          s"CAST(CAST(${f.name} AS VARCHAR) AS DOUBLE) AS ${f.name}"
        case TimestampType  => s"CAST(${f.name} AS TIMESTAMP) AS ${f.name}"
        case NullType       => s"CAST(NULL AS VARCHAR) AS ${f.name}"
        case _              => f.name
      }
    }
}
