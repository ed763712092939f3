package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.operators.TopN

/** Embedding similarity: brute-force cosine top-k for bounded query sets,
  * grid-partitioned exact all-pairs NN, random-hyperplane LSH bucket ids,
  * inverted-file IVF top-k and two-stage int8-quantized top-k.
  *
  * Dot products run through the native codegen kernel (float_dot) in
  * double precision — strictly left-to-right summation, so results are
  * bit-identical across engines and stable under re-partitioning. No UDFs.
  *
  * Scale shapes: brute force is O(|Q|·N) with Q broadcast — right only
  * when Q is bounded. exactNN covers the Q=corpus case as a grid
  * equi-join (no driver state). LSH/IVF shuffle on bucket/cell ids and
  * compare only within them; global top-k is a per-partition top-k then a
  * tiny final merge (TopN window).
  */
object Similarity {
  /** Left-to-right double dot product of two float-array columns, via the
    * native codegen kernel (graft.functions.FloatDotProduct) — ~20× the
    * throughput of the interpreted aggregate/zip_with form, same result
    * bit-for-bit. */
  def dot(a: Column, b: Column): Column = call_function("float_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Exact top-k neighbors per query, single pass over the corpus.
    *
    * The query set (bounded, like a broadcast-join build side) is collected
    * and broadcast; each corpus partition keeps one bounded candidate
    * buffer per query and emits at most k rows per (query, partition) —
    * so the shuffle carries k·partitions rows per query instead of N pair
    * rows, and the final exact ranking runs on that tiny set. Dot products
    * use the same strict left-to-right double loop as the float_dot kernel,
    * so results are bit-identical to the pairwise form and the oracle.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int,
                     maxQueries: Int = 100000): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // the query set is a broadcast build side: misuse with an unbounded
    // frame must fail with a message, not OOM the driver mid-collect —
    // the LIMIT bounds what the driver ever holds, and one row past the
    // cap proves the overflow without a second job over the query plan
    val capped = queries
      .select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .limit(maxQueries + 1).collect()
    require(capped.length <= maxQueries,
      s"bruteForceTopK: query set exceeds maxQueries=$maxQueries rows — " +
        "it is collected and broadcast; batch the queries or raise the cap " +
        "explicitly if the driver can hold them")
    val qArr: Array[(Long, Array[Float], Double)] =
      capped.map { case (id, v) => (id, v, VectorNorms.norm(v)) }
    val bq = spark.sparkContext.broadcast(qArr)
    val partials = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        // unpack to parallel primitive arrays: no boxing in the hot loop
        val qs = bq.value
        val nq = qs.length
        val qIds = Array.tabulate(nq)(qs(_)._1)
        val qVecs = Array.tabulate(nq)(qs(_)._2)
        val qNorms = Array.tabulate(nq)(qs(_)._3)
        // per-query bounded candidate buffers: (cosine, neighborId)
        val buf = Array.fill(nq)(
          new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
            // min-heap on (cos asc, id desc): evict the worst candidate,
            // where "worse" = lower cos, then larger id
            Ordering.by[(Double, Long), (Double, Long)] { case (c, id) => (-c, id) }))
        rows.foreach { case (cid, cvec) =>
          val cn = VectorNorms.norm(cvec)
          var i = 0
          while (i < nq) {
            if (qIds(i) != cid) {
              val cos = VectorNorms.dot(qVecs(i), cvec) / (qNorms(i) * cn)
              val q = buf(i)
              if (q.size < k) q.enqueue((cos, cid))
              else {
                val (wc, wid) = q.head
                if (cos > wc || (cos == wc && cid < wid)) { q.dequeue(); q.enqueue((cos, cid)) }
              }
            }
            i += 1
          }
        }
        buf.iterator.zipWithIndex.flatMap { case (q, i) =>
          q.iterator.map { case (cos, cid) => (qIds(i), cid, cos) }
        }
      }.toDF("query_id", "neighbor_id", "cosine")
    TopN.perGroup(partials, Seq("query_id"),
        Seq(col("cosine").desc, col("neighbor_id").asc), k, rankCol = "rango")
      .select(col("query_id"), col("rango"), col("neighbor_id"), col("cosine"))
  }

  /** Exact nearest neighbor for EVERY corpus vector — the all-pairs case
    * where collecting/broadcasting a "query side" would mean shipping the
    * whole corpus (driver OOM at scale). Instead: a grid-partitioned
    * self-join (the 1-bucket-theta shape). Each vector lands in one of
    * `blocks` hash blocks; the probe side replicates each row across grid
    * row (i, 0..B-1), the build side across grid column (0..B-1, j), and an
    * ordinary equi-join on the cell key (i, j) meets every pair exactly
    * once. Catalyst keeps it a shuffled equi-join (no cartesian, no
    * broadcast, no driver state) and the partial max-by aggregation
    * combines map-side, so the post-join shuffle carries at most one
    * candidate row per (query, cell) — N·B rows, not N².
    *
    * Memory per task is ~2N/B vectors; shuffle-in is 2N·B vector rows.
    * Exactness is inherent (every pair visited).
    */
  def exactNN(corpus: DataFrame, idCol: String, vecCol: String,
              blocks: Int = 8): DataFrame = {
    val grid = sequence(lit(0), lit(blocks - 1))
    val c = corpus.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .withColumn("__nrm", norm(col("__v")))
      .withColumn("__blk", pmod(xxhash64(col("__id")), lit(blocks)).cast("int"))
    val probe = c.select(col("__id").as("query_id"), col("__v").as("__qv"),
      col("__nrm").as("__qn"), col("__blk").as("__gi"), explode(grid).as("__gj"))
    val build = c.select(col("__id").as("neighbor_id"), col("__v").as("__cv"),
      col("__nrm").as("__cn"), explode(grid).as("__gi"), col("__blk").as("__gj"))
    probe.join(build, Seq("__gi", "__gj"))
      // the grid meets every unordered pair in BOTH orientations (cells
      // (blk a, blk b) and (blk b, blk a)); keeping one halves the join
      // residue AND the cosine evaluations — both directions are emitted
      // from the single scored row below
      .filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv"), col("__qn"), col("__cn")).as("__cos"))
      .select(explode(array(
          struct(col("query_id").as("qid"),
            struct(col("__cos").as("cosine"),
              (-col("neighbor_id")).as("neg_id")).as("cand")),
          struct(col("neighbor_id").as("qid"),
            struct(col("__cos").as("cosine"),
              (-col("query_id")).as("neg_id")).as("cand")))).as("e"))
      // max over (cosine, -id): highest cosine wins, ties -> smallest id.
      .groupBy(col("e.qid").as("query_id"))
      .agg(max(col("e.cand")).as("best"))
      .select(col("query_id"), (-col("best.neg_id")).as("neighbor_id"),
        col("best.cosine").as("cosine"))
  }

  /** Dense-kernel twin of [[exactNN]]: identical grid semantics (every
    * unordered pair scored once, in cell (blk_a, blk_b)), but each cell's
    * members are collected into primitive arrays and scored in a tight
    * JVM loop (mapGroups — the documented dense-linear-algebra last-resort
    * case, like bruteForceTopK's blocked kernel) instead of materializing
    * N·B joined rows through codegen. Same strict left-to-right double
    * arithmetic as the float_dot kernel, so results are BIT-IDENTICAL to
    * the expression form (spec-pinned) and the oracle. Shuffle volume is
    * unchanged (each row visits 2B-1 cells vs the join's 2B replicas);
    * per-task memory is the same ~2N/B vectors the join's build side
    * already held; each cell emits at most one best-so-far row per member,
    * and the final max-by agg combines map-side. */
  def exactNNDense(corpus: DataFrame, idCol: String, vecCol: String,
                   blocks: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val b = blocks
    val partials = corpus
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        // same xxhash64+pmod as exactNN's __blk (any pair partition is
        // correct; matching the expression form keeps the plans comparable)
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L)
        val blk = (((h % b) + b) % b).toInt
        // probe role across the grid row, build role across the column;
        // the (blk, blk) diagonal cell is emitted once and plays both
        (0 until b).iterator.map(j => ((blk, j), (id, v, blk))) ++
          (0 until b).iterator.filter(_ != blk).map(i => ((i, blk), (id, v, blk)))
      }
      .groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        val members = it.map(_._2).toArray
        val n = members.length
        val ids = new Array[Long](n)
        val vecs = new Array[Array[Float]](n)
        val norms = new Array[Double](n)
        var m = 0
        while (m < n) {
          val (id, v, _) = members(m)
          ids(m) = id; vecs(m) = v; norms(m) = VectorNorms.norm(v)
          m += 1
        }
        val isProbe = members.map(_._3 == cell._1)
        val isBuild = members.map(_._3 == cell._2)
        // per-member best-so-far: (cosine, neighborId); ties -> smaller id
        val bestCos = Array.fill(n)(Double.NegativeInfinity)
        val bestId = new Array[Long](n)
        var a = 0
        while (a < n) {
          if (isProbe(a)) {
            var c = 0
            while (c < n) {
              // score each unordered pair once: probe.id < build.id
              if (isBuild(c) && ids(a) < ids(c)) {
                val cos = VectorNorms.dot(vecs(a), vecs(c)) / (norms(a) * norms(c))
                // Double.compare, not ">": a zero-norm vector yields NaN
                // cosine, which Spark's struct-max orders LARGEST — the
                // kernel must agree with the expression twin even there
                val da = java.lang.Double.compare(cos, bestCos(a))
                if (da > 0 || (da == 0 && ids(c) < bestId(a))) {
                  bestCos(a) = cos; bestId(a) = ids(c)
                }
                val dc = java.lang.Double.compare(cos, bestCos(c))
                if (dc > 0 || (dc == 0 && ids(a) < bestId(c))) {
                  bestCos(c) = cos; bestId(c) = ids(a)
                }
              }
              c += 1
            }
          }
          a += 1
        }
        (0 until n).iterator
          .filter(i => bestCos(i) != Double.NegativeInfinity)
          .map(i => (ids(i), bestId(i), bestCos(i)))
      }
      .toDF("query_id", "neighbor_id", "cosine")
    partials
      .select(col("query_id"), struct(col("cosine"),
        (-col("neighbor_id")).as("neg_id")).as("cand"))
      .groupBy(col("query_id"))
      .agg(max(col("cand")).as("best"))
      .select(col("query_id"), (-col("best.neg_id")).as("neighbor_id"),
        col("best.cosine").as("cosine"))
  }

  /** Int8-quantized corpus layout for serving: per-vector abs-max scale +
    * codes floor(x/s·127+0.5) — the q62 formula as a reusable frame
    * (4× the scan bandwidth of float32 at 100 TB). */
  def quantized(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val scale = array_max(transform(col(vecCol), x => abs(x))).cast("double")
    corpus.select(col(idCol), scale.as("escala"), col(vecCol))
      .withColumn("codes", transform(col(vecCol), x =>
        when(col("escala") === 0.0, lit(0))
          .otherwise(floor(x.cast("double") / col("escala") * lit(127.0)
            + lit(0.5)).cast("int"))))
      .drop(vecCol)
  }

  /** Two-stage quantized top-k — the serving path over a [[quantized]]
    * store: (1) coarse pass streams int8 codes only (integer dot products,
    * 4× less scan IO than float32) keeping the `rescore`·k best candidates
    * per query in bounded heaps; (2) exact pass rescored on the float
    * vectors of just those candidates (k·rescore·|queries| rows — tiny),
    * final exact top-k ordering. Recall depends only on the true top-k
    * surviving the coarse cut — spec-verified at rescore=8 on the
    * embeddings table. Same broadcast-bounded-query-set pattern as
    * [[bruteForceTopK]]. */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, k: Int, rescore: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = quantized(queries, idCol, vecCol)
      .select(col(idCol).cast("long"), col("escala"), col("codes"))
      .as[(Long, Double, Array[Int])].collect()
    val bq = spark.sparkContext.broadcast(q)
    val keep = k * rescore
    val coarse = quantized(corpus, idCol, vecCol)
      .select(col(idCol).cast("long"), col("escala"), col("codes"))
      .as[(Long, Double, Array[Int])]
      .mapPartitions { rows =>
        val qs = bq.value
        val nq = qs.length
        // per-query bounded min-heaps on the coarse score
        val buf = Array.fill(nq)(
          new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
            Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) }))
        rows.foreach { case (cid, cs, cc) =>
          var i = 0
          while (i < nq) {
            val (qid, qscale, qc) = qs(i)
            if (qid != cid) {
              // integer code dot, rescaled: ≈ the float dot product
              var acc = 0L
              val n = math.min(qc.length, cc.length)
              var d = 0
              while (d < n) { acc += qc(d).toLong * cc(d); d += 1 }
              val score = acc * qscale * cs / (127.0 * 127.0)
              val h = buf(i)
              if (h.size < keep) h.enqueue((score, cid))
              else {
                val (ws, wid) = h.head
                if (score > ws || (score == ws && cid < wid)) {
                  h.dequeue(); h.enqueue((score, cid))
                }
              }
            }
            i += 1
          }
        }
        buf.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.iterator.map { case (_, cid) => (qs(i)._1, cid) }
        }
      }.toDF("query_id", "candidate_id")
      // coarse candidates are per-partition; keep the union (exact pass
      // re-ranks, so over-collection only costs a few rows)
      .distinct()
    // exact rescoring on the float vectors of the surviving candidates
    val qf = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
    val cf = corpus.select(col(idCol).as("candidate_id"), col(vecCol).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
    val scored = coarse
      .join(cf, Seq("candidate_id"))
      .join(broadcast(qf), Seq("query_id"))
      .select(col("query_id"), col("candidate_id").as("neighbor_id"),
        cosine(col("__qv"), col("__cv"), col("__qn"), col("__cn")).as("cosine"))
    graft.operators.TopN.perGroup(scored, Seq("query_id"),
        Seq(col("cosine").desc, col("neighbor_id").asc), k, rankCol = "rango")
      .select(col("query_id"), col("rango"), col("neighbor_id"), col("cosine"))
  }

  /** JVM-side twins of the float_dot kernel (identical summation order). */
  private[graft] object VectorNorms {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))
  }

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * +1/-1 from the parity of a seeded hash. */
  private def planeWeight(plane: Int, dim: Column): Column =
    when(xxhash64(lit(plane), dim).bitwiseAND(lit(1L)) === 1L, lit(1.0)).otherwise(lit(-1.0))

  /** Sign-pattern bucket id from `numPlanes` random hyperplanes, via the
    * native codegen kernel (graft.functions.LshBucketExpr). */
  def lshBucket(vec: Column, numPlanes: Int = 8): Column =
    call_function("lsh_bucket", vec, lit(numPlanes))

  /** PORTABLE sign-bucket: hyperplane weights are ±1 from the parity of
    * md5-low64("p_d") — a function of (plane, dim) only, so they resolve
    * at plan-build time into literal weight vectors and the projection is
    * one float_dot per plane. Every bucket id is reproducible by any
    * engine with MD5 (DuckDB: md5_number_lower), unlike the xxhash64
    * family in [[lshBucket]]. */
  def portableLshBucket(vec: Column, dim: Int, numPlanes: Int = 8): Column = {
    val planes = (0 until numPlanes).map { p =>
      val w = Array.tabulate(dim) { d =>
        val parity = graft.functions.TextHash.md5Low64(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"${p}_${d}")) & 1L
        if (parity == 1L) 1.0f else -1.0f
      }
      val proj = call_function("float_dot", vec, typedLit(w))
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    planes.reduce(_ + _)
  }

  /** Interpreted Column twin of [[lshBucket]] — the property-test pin for
    * the native kernel; not for the hot path. */
  def lshBucketInterpreted(vec: Column, numPlanes: Int = 8): Column = {
    val bits = (0 until numPlanes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast(DoubleType) * planeWeight(p, i)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }

  /** Deterministic IVF centroids: the `nCells` corpus vectors with the
    * smallest xxhash64(id) — reproducible across runs/retries without an
    * iterative clustering job; collected because centroids are the bounded
    * build side (like a broadcast-join dim), never the corpus. */
  private[graft] def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                                nCells: Int): Array[(Int, Array[Float], Double)] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(nCells)
      .as[(Long, Array[Float])].collect()
      .sortBy(_._1).zipWithIndex
      .map { case ((_, v), i) => (i, v, VectorNorms.norm(v)) }
  }

  /** Lloyd-refined IVF centroids: `iters` rounds of assign-to-nearest +
    * cell-mean update over the hash-sampled seeds. Each round is one
    * map-side-combined aggregation keyed by cell — per-task state is
    * nCells×dim doubles regardless of corpus size (the MLlib-KMeans
    * aggregation shape), so refinement costs `iters` corpus passes and
    * shuffles only partial sums. Deterministic up to FP addition order
    * across partitions; the unrefined seeds remain the bit-reproducible
    * default. Cells that lose all members (or degenerate to a zero mean)
    * keep their previous centroid. */
  private[graft] def ivfCentroidsRefined(corpus: DataFrame, idCol: String,
                                       vecCol: String, nCells: Int,
                                       iters: Int): Array[(Int, Array[Float], Double)] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cs = ivfCentroids(corpus, idCol, vecCol, nCells)
    val vecs = corpus.select(col(vecCol)).as[Array[Float]]
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(cs)
      val sums = vecs.rdd
        .map { v =>
          val arr = bc.value
          val nv = VectorNorms.norm(v)
          var best = 0
          var bestCos = Double.NegativeInfinity
          var i = 0
          while (i < arr.length) {
            val c = VectorNorms.dot(arr(i)._2, v) / (arr(i)._3 * nv)
            if (c > bestCos) { bestCos = c; best = i }
            i += 1
          }
          (best, v)
        }
        .aggregateByKey((Array.empty[Double], 0L))(
          { case ((s, n), v) =>
            val acc = if (s.isEmpty) new Array[Double](v.length) else s
            var i = 0
            while (i < v.length) { acc(i) += v(i); i += 1 }
            (acc, n + 1L)
          },
          { case ((a, na), (b, nb)) =>
            if (a.isEmpty) (b, nb)
            else if (b.isEmpty) (a, na)
            else {
              var i = 0
              while (i < a.length) { a(i) += b(i); i += 1 }
              (a, na + nb)
            }
          })
        .collect().toMap
      cs = cs.map { case (cell, v, nrm) =>
        sums.get(cell) match {
          case Some((s, n)) if n > 0 =>
            val m = s.map(x => (x / n).toFloat)
            val mn = VectorNorms.norm(m)
            if (mn > 0) (cell, m, mn) else (cell, v, nrm)
          case _ => (cell, v, nrm)
        }
      }
      bc.unpersist()
      it += 1
    }
    cs
  }

  private def centroids(corpus: DataFrame, idCol: String, vecCol: String,
                        nCells: Int, refineIters: Int): Array[(Int, Array[Float], Double)] =
    if (refineIters > 0) ivfCentroidsRefined(corpus, idCol, vecCol, nCells, refineIters)
    else ivfCentroids(corpus, idCol, vecCol, nCells)

  /** IVF cell assignment: each vector keyed by its nearest centroid (by
    * cosine). The inverted-file twin of the LSH bucket path — cells adapt
    * to the data distribution where hyperplane buckets are oblivious.
    * Centroids ride a broadcast; the corpus streams through one
    * mapPartitions (bounded per-row work = nCells dot products).
    * `refineIters` > 0 applies Lloyd refinement to the seeds first. */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                nCells: Int = 64, refineIters: Int = 0): DataFrame =
    ivfAssignWith(corpus, idCol, vecCol,
      centroids(corpus, idCol, vecCol, nCells, refineIters))

  private def ivfAssignWith(corpus: DataFrame, idCol: String, vecCol: String,
                            cents: Array[(Int, Array[Float], Double)]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    corpus.select(col(idCol).cast("long").as(idCol), col(vecCol).as(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cs = bc.value
        rows.map { case (id, v) =>
          val nv = VectorNorms.norm(v)
          var best = 0; var bestCos = Double.NegativeInfinity
          var i = 0
          while (i < cs.length) {
            val c = VectorNorms.dot(cs(i)._2, v) / (cs(i)._3 * nv)
            if (c > bestCos) { bestCos = c; best = i }
            i += 1
          }
          (id, v, best)
        }
      }.toDF(idCol, vecCol, "cell")
  }

  /** IVF top-k for a bounded query set: queries probe their `probes`
    * nearest cells, candidates are scored only within those cells
    * (equi-join on cell), exact ranking on the per-cell survivors. Work is
    * sum over probed cells of cell size — the 100 TB inverted-file shape.
    * Recall < 1 when a true neighbor lives outside the probed cells;
    * raise `probes` (or `nCells` granularity) to trade cost for recall. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 64,
              probes: Int = 4, refineIters: Int = 0): DataFrame = {
    val cents = centroids(corpus, idCol, vecCol, nCells, refineIters)
    ivfTopKWith(queries, ivfAssignWith(corpus, idCol, vecCol, cents),
      cents, idCol, vecCol, k, probes)
  }

  /** IVF top-k over a PRE-ASSIGNED frame (`idCol`, `vecCol`, "cell") and
    * the centroids it was assigned against — the serving half of
    * [[ivfTopK]]: queries probe their nearest `probes` cells and score
    * only inside them. */
  def ivfTopKWith(queries: DataFrame, assignedIndex: DataFrame,
                  cents: Array[(Int, Array[Float], Double)],
                  idCol: String, vecCol: String,
                  k: Int, probes: Int = 4): DataFrame = {
    val spark = assignedIndex.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    val assigned = assignedIndex
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"), col("cell"))
      .withColumn("__cn", norm(col("__cv")))
    val probed = queries
      .select(col(idCol).cast("long").as(idCol), col(vecCol).as(vecCol))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        val cs = bc.value
        val nv = VectorNorms.norm(v)
        cs.map { case (cell, cv, cn) => (id, v, cell, VectorNorms.dot(cv, v) / (cn * nv)) }
          .sortBy(-_._4).take(math.min(probes, cs.length))
          .map { case (qid, qv, cell, _) => (qid, qv, cell) }
      }.toDF("query_id", "__qv", "cell")
      .withColumn("__qn", norm(col("__qv")))
    val scored = probed.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
      // a (query, neighbor) pair can meet in several probed cells
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
    TopN.perGroup(scored, Seq("query_id"),
        Seq(col("cosine").desc, col("neighbor_id").asc), k, rankCol = "rango")
      .select(col("query_id"), col("rango"), col("neighbor_id"), col("cosine"))
  }
}
