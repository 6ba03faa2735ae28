package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Embedding-similarity primitives: cosine / dot product over
  * `array<float>` columns, brute-force top-k, and two approximate variants
  * for the 100 TB scale path (LSH buckets, IVF cells). The dot product is a
  * native codegen'd Catalyst expression ([[org.apache.spark.sql.graftx.DotF32]]);
  * everything else is built-in `Column` composition — no UDFs.
  */
object VectorOps {

  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftx.{Bridge, DotF32}
    Bridge.toColumn(DotF32(Bridge.toExpression(a), Bridge.toExpression(b)))
  }

  /** The pre-DotF32 formulation, kept as the cross-check reference for the
    * codegen parity test: interpreted per-element lambdas, same null
    * semantics.
    */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Brute-force cosine top-k: every query row against every candidate row.
    * Baseline for correctness; at scale use [[lshBucketTopK]] so the join is
    * bucket-local instead of a full cartesian.
    */
  def bruteForceTopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // norms computed once per side before the cross join (one dot per pair
    // instead of three; the zero guard stays on the norm product, so the
    // scores match cosine() bit-for-bit)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    import org.apache.spark.sql.expressions.Window
    val d = col("qn") * col("cn")
    val scored = q.crossJoin(c)
      .where(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        when(d === 0.0, lit(0.0)).otherwise(dot(col("qv"), col("cv")) / d).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane sign for (dim index i, plane j):
    * derived from xxhash64 of the pair — reproducible without Math.random.
    */
  private def planeSign(i: Column, j: Int): Column =
    when(pmod(xxhash64(i, lit(j)), lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))

  /** Random-hyperplane LSH bucket id (nPlanes sign bits) for a vector —
    * native codegen'd expression ([[org.apache.spark.sql.graftx.LshBucketF32]]),
    * bit-identical to [[lshBucketHof]] (the coalesce reproduces its NULL-vector
    * behavior: a null array bucketed to 0, not dropped from bucket joins).
    */
  def lshBucket(vec: Column, nPlanes: Int): Column = {
    import org.apache.spark.sql.graftx.{Bridge, LshBucketF32}
    coalesce(
      Bridge.toColumn(LshBucketF32(Bridge.toExpression(vec), nPlanes)), lit(0L))
  }

  /** The pre-LshBucketF32 Column formulation, kept as the parity-test
    * reference (nPlanes interpreted aggregate/zip_with passes per row).
    */
  private[graft] def lshBucketHof(vec: Column, nPlanes: Int): Column = {
    val bits = (0 until nPlanes).map { j =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (v, i) => v.cast(DoubleType) * planeSign(i, j)),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Deterministically down-sample rows of keys held by more than `maxN`
    * rows to ~maxN (keep iff xxhash64(id) = 0 mod ceil(n/maxN)) — the
    * degenerate-key cap shared by the LSH and IVF candidate paths. Sizes
    * come from groupBy (map-side partial aggregation); no forced broadcast
    * hint on the heavy-key set — it is |rows|/maxN entries, usually tiny
    * but unbounded at corpus scale, so AQE picks broadcast-vs-shuffle from
    * its ACTUAL runtime size.
    */
  private def downsampleHeavyKeys(
      df: DataFrame, key: String, idCol: String, maxN: Int): DataFrame = {
    val heavy = df.groupBy(key).agg(count(lit(1)).as("__n"))
      .where(col("__n") > maxN)
    df.join(heavy, Seq(key), "left_outer")
      .where(col("__n").isNull ||
        pmod(xxhash64(col(idCol)),
          ceil(col("__n").cast("double") / maxN).cast("long")) === 0)
      .drop("__n")
  }

  /** Approximate top-k: join only within the LSH bucket (same sign pattern).
    * Recall < 1.0 by construction; scale path for ANN over 100 TB — the
    * cartesian becomes bucket-local (expected bucket size n / 2^planes).
    * A DEGENERATE bucket (e.g. the all-zeros sign pattern collecting a
    * constant-sign slice of the corpus) would go quadratic: buckets over
    * `maxBucket` members are DOWN-SAMPLED to ~maxBucket deterministically
    * (keep iff xxhash64(id) = 0 mod ceil(n/maxBucket)), bounding any
    * bucket's join to ~maxBucket^2. SKEW-SAFE by construction: bucket sizes
    * come from groupBy (map-side partial aggregation) and the heavy-bucket
    * set — at most |rows|/maxBucket entries — broadcasts; a
    * row_number-over-Window cap would first collect the degenerate bucket's
    * every member on one task, the exact stall the cap exists to prevent.
    */
  def lshBucketTopK(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, nPlanes: Int = 8, maxBucket: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cached + materialized eagerly: the frame feeds BOTH join sides and
    // the down-sampler's bucket-size aggregation — lazily each of the three
    // would recompute the scan + bucket kernel (and AQE materializes their
    // exchanges concurrently, so no one fills the cache for the others).
    // Released once the (cap-bounded) result is materialized, same
    // contract as the minhash/simhash/IVF paths.
    // norms ride along from the single bucketing pass: scoring a pair then
    // costs ONE dot product instead of three (cosine() re-derives both
    // norms per pair). The zero guard stays on the norm PRODUCT — exactly
    // cosine()'s `when(norm(a)*norm(b) === 0, 0)` semantics, underflow
    // included — so the scores are bit-identical.
    Cached.withCached(df.select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nv"),
        lshBucket(col(vecCol), nPlanes).as("bucket"))) { bucketed =>
      bucketed.count()
      val withB = downsampleHeavyKeys(bucketed, "bucket", "id", maxBucket)
      val a = withB.select(col("id").as("query_id"), col("v").as("qv"),
        col("nv").as("qn"), col("bucket"))
      val b = withB.select(col("id").as("cand_id"), col("v").as("cv"),
        col("nv").as("cn"), col("bucket"))
      val d = col("qn") * col("cn")
      val scored = a.join(b, Seq("bucket"))
        .where(col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"),
          when(d === 0.0, lit(0.0)).otherwise(dot(col("qv"), col("cv")) / d).as("cos"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
      val out = scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      Dedup.materializeAndRelease(out)
    }
  }

  /** IVF (inverted-file) approximate top-k — the second scale path next to
    * [[lshBucketTopK]], trading LSH's data-independent buckets for
    * data-ADAPTED cells: `nLists` coarse centroids are seeded from a
    * deterministic hash-ordered sample, optionally refined by `refineIters`
    * Lloyd steps (assign all vectors to their nearest centroid, recompute
    * each cell's mean — every step plain joins + map-side-combinable
    * aggregations), and each vector lands in exactly ONE inverted list.
    * A query probes its `nProbe` nearest cells and scores only those lists:
    * per-query work is nLists centroid distances + ~nProbe/nLists of the
    * corpus, against LSH's recall cliff when fixed hyperplanes misfit the
    * data distribution.
    *
    * Scale shape: the centroid table (nLists rows) BROADCASTS to the
    * assignment join — the only corpus-wide pass — and the probe join
    * shuffles on cell id. `maxList` caps a degenerate cell (all-identical
    * embeddings collapsing into one list) by deterministic down-sampling,
    * exactly as lshBucketTopK caps its buckets; sizes come from groupBy
    * (map-side partial agg), never a Window over the hot cell.
    *
    * Recall floor independent of centroid quality: a query's exact
    * duplicate assigns to the SAME nearest cell (assignment depends only on
    * the vector value and the shared centroid set), so with any nProbe >= 1
    * a planted copy is always probed.
    *
    * Returns (query_id, cand_id, cos, rank) like [[lshBucketTopK]].
    */
  def ivfTopK(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, nLists: Int = 64, nProbe: Int = 4,
      refineIters: Int = 1, maxList: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftx.{Bridge, IvfProbesF32}
    // norms computed ONCE per row — the final pair scoring then costs one
    // dot product per (query, candidate) instead of re-deriving both norms
    Cached.withCached(df.select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nv"))) { base =>
      def pairCos: Column =
        when(col("nv") === 0.0 || col("ncv") === 0.0, lit(0.0))
          .otherwise(dot(col("v"), col("cv")) / (col("nv") * col("ncv")))

      // deterministic seed centroids: the nLists vectors of smallest
      // xxhash64(id) — RNG-free sampling. The collect is bounded by the
      // nLists CONSTANT (<= 64 in every caller), never by data size, and the
      // collected table becomes the kernel's reference object: scoring a row
      // against every centroid is ONE codegen'd pass inside the projection
      // ([[org.apache.spark.sql.graftx.IvfProbesF32]]) — the old
      // corpus x nLists crossJoin, the groupBy(id) argmax shuffle (which
      // carried every vector nLists times) and the per-id probe Window all
      // collapse into per-row expressions with ZERO exchanges (guide §2.4,
      // §8: decide with small rows — here, decide per row against a
      // driver-broadcast constant).
      def toVec(a: Any): Array[java.lang.Double] = a match {
        case null => null
        case s: scala.collection.Seq[_] =>
          s.map {
            case null => null
            case x: java.lang.Number => java.lang.Double.valueOf(x.doubleValue())
          }.toArray
      }
      val seedRows = base.select(col("v").as("cv"), xxhash64(col("id")).as("__h"))
        .orderBy("__h").limit(nLists)
        .collect()
      var cents = new IvfCentroids(
        Array.tabulate(seedRows.length)(_ + 1), seedRows.map(r => toVec(r.get(0))))

      def probesCol(c: IvfCentroids, n: Int): Column =
        Bridge.toColumn(IvfProbesF32(Bridge.toExpression(col("v")), c, n))
      // inverted-list assignment == first probe (the orderings agree on
      // element 0 for every tie/null/NaN pattern — see IvfCentroids.probes)
      def assignCol(c: IvfCentroids): Column = get(probesCol(c, 1), lit(0))

      // Lloyd refinement: assign every vector to its nearest cell (per-row
      // kernel, no shuffle), then move each cell to the mean of its members,
      // per-dimension (posexplode -> avg -> re-assemble ordered by dimension
      // index); cells that lose every member simply disappear. The <= nLists
      // refined rows are re-collected into the next kernel table.
      for (_ <- 1 to refineIters) {
        // one shuffle: per-(cell, dimension) means; the re-assembly into
        // centroid vectors happens DRIVER-side on <= nLists x dim rows
        // (bounded by the nLists constant and the embedding dimension, never
        // by data size) — the old second groupBy(cell) +
        // collect_list/array_sort exchange produced exactly these rows first
        val refined = base
          .select(assignCol(cents).as("cell"), col("v"))
          .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
          .groupBy("cell", "i").agg(avg("x").as("m"))
          .collect()
        val byCell = refined.groupBy(_.getInt(0)).toArray.map { case (cell, rows) =>
          // means sorted by dimension index; cast to float like the Column
          // shape's cast(FloatType) (same double -> float rounding)
          val vec = rows.sortBy(_.getInt(1)).map { r =>
            if (r.isNullAt(2)) null
            else java.lang.Double.valueOf(r.getDouble(2).toFloat.toDouble)
          }
          (cell, vec)
        }
        cents = new IvfCentroids(byCell.map(_._1), byCell.map(_._2))
      }

      // inverted lists, degenerate cells down-sampled to ~maxList (list-side
      // only: every query keeps its answer, the join stays queries x maxList)
      val lists = downsampleHeavyKeys(
          base.select(assignCol(cents).as("cell"), col("id"), col("v"), col("nv")),
          "cell", "id", maxList)
        .select(col("cell"), col("id").as("cand_id"), col("v").as("cv"),
          col("nv").as("ncv"))

      // probe: every row queries its nProbe nearest cells — per-row kernel
      // output exploded, no Window, no scored intermediate
      val probed = base.select(col("id").as("query_id"), col("v"), col("nv"),
        explode(probesCol(cents, nProbe)).as("cell"))

      // no dedup needed: a candidate lives in exactly ONE cell (argmax
      // assignment), so a (query, cand) pair arises through at most one of
      // the query's probed cells
      val pairs = probed.join(lists, Seq("cell"))
        .where(col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id").as("cand_id"), pairCos.as("cos"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
      val out = pairs.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      Dedup.materializeAndRelease(out)
    }
  }
}
