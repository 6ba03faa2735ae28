package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Log

/** Deduplication primitives for training-data pipelines: exact keys,
  * word-shingles, MinHash signatures + LSH banding, SimHash. All pure
  * `Column` compositions over built-ins (xxhash64, transform, aggregate) —
  * codegen'd, shuffle-free until the final groupBy/join, so the fan-out to
  * 100 TB is a single scan + one shuffle on band buckets.
  */
object Dedup {

  /** The text duplicates are compared on: lower case, every whitespace
    * run collapsed to one space, then trimmed. Collapsing first matters:
    * Spark's `trim` strips only U+0020, so a tab or newline at either end
    * must already be a space when it runs.
    */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(lower(coalesce(text, lit(""))), "\\s+", " "))

  /** k-word shingles as strings; shorter docs yield one whole-doc shingle. */
  def wordShingles(text: Column, k: Int): Column = {
    val toks = TextMetrics.tokens(text)
    val n = size(toks)
    when(n <= k, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(1), n - k + 1),
        i => array_join(slice(toks, i, lit(k)), " ")))
  }

  /** LSH band hashes: split the signature into `bands` rows of length
    * `rowsPerBand`, hash each band. Two docs sharing ANY band hash are
    * near-dup candidates.
    */
  def lshBandHashes(signature: Column, bands: Int, rowsPerBand: Int): Column = {
    val bandHashes = (0 until bands).map { b =>
      xxhash64(slice(signature, b * rowsPerBand + 1, rowsPerBand), lit(b))
    }
    array(bandHashes: _*)
  }

  /** 64-bit SimHash over whitespace tokens: per token t, take xxhash64(t);
    * each bit votes +1/-1; the sign of each bit-sum forms the fingerprint.
    * Single `aggregate` pass with a 64-long vote vector.
    */
  def simhash64(text: Column): Column =
    aggregate(
      TextMetrics.tokens(text),
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = xxhash64(t)
        val bitVotes = array((0 until 64).map { j =>
          when(shiftright(h, j).bitwiseAND(1L) === 1L, lit(1L)).otherwise(lit(-1L))
        }: _*)
        zip_with(acc, bitVotes, (a, b) => a + b)
      },
      // finish: fold the 64 vote counters into sign bits. `votes` is a bound
      // lambda variable, so the 64 element_at reads don't duplicate work.
      votes => (0 until 64).map { j =>
        when(element_at(votes, j + 1) > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    )

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast(LongType)

  /** Native per-row SimHash ([[org.apache.spark.sql.graftx.SimHash64F]]):
    * bit-identical to [[simhash64]] and [[simhashDf]], computed in one
    * codegen'd kernel pass inside the projection — no token explode, no
    * shuffle. Null text fingerprints to 0, like the Column shapes.
    */
  def simhash64Native(text: Column): Column = {
    import org.apache.spark.sql.graftx.{Bridge, SimHash64F}
    Bridge.toColumn(SimHash64F(Bridge.toExpression(coalesce(text, lit("")))))
  }

  /** Native per-row MinHash signature
    * ([[org.apache.spark.sql.graftx.MinHashSigF]]): bit-identical to the
    * explode(wordShingles) -> groupBy-min shape, one kernel pass, no
    * explode/shuffle. Null text signs like empty text (the "" shingle).
    */
  def minhashSignatureNative(text: Column, shingleK: Int, numHashes: Int): Column = {
    import org.apache.spark.sql.graftx.{Bridge, MinHashSigF}
    Bridge.toColumn(MinHashSigF(
      Bridge.toExpression(coalesce(text, lit(""))), shingleK, numHashes))
  }

  /** Drop rows whose `keys` combination is shared by more than `maxBucket`
    * rows — the SKEW-SAFE heavy-key cap shared by every candidate-join
    * operator here. Counts come from `groupBy(keys).count()` (map-side
    * partial aggregation: a stopword's billion postings reduce inside each
    * task before one (key,count) row shuffles), and the heavy-key set —
    * at most |rows|/maxBucket keys — anti-joins the postings out. No forced
    * broadcast hint: for the band-bucket caps the heavy set is tiny and AQE
    * converts the anti-join to a broadcast join at runtime from its ACTUAL
    * size, while for the document-frequency cap the heavy set is the whole
    * common vocabulary (grows with the corpus) and a mandatory broadcast
    * would OOM the driver at scale — a shuffled anti-join degrades
    * gracefully instead. Contrast a `count().over(Window.partitionBy(key))`:
    * that shuffles EVERY posting of the hot key to a single task before the
    * filter can drop it, which is exactly the stall/OOM the cap exists to
    * prevent.
    */
  private def dropHeavyKeys(df: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    val heavy = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .where(col("__n") > maxBucket)
      .select(keys.map(col): _*)
    df.join(heavy, keys, "left_anti")
  }

  /** SimHash near-duplicate CANDIDATE pairs via banded Hamming join: the
    * 64-bit fingerprint splits into `bands` chunks (4 x 16 bits by default);
    * by pigeonhole, two fingerprints within Hamming distance `bands - 1`
    * (default <=3) MUST agree on at least one whole chunk, so joining on
    * (band index, chunk value) finds them — and exact duplicates (distance
    * 0) are found UNCONDITIONALLY, because banding runs over DISTINCT
    * fingerprints: all docs sharing a fingerprint collapse to one banded row
    * and their pairs are emitted by the within-group expansion, which no cap
    * touches. A duplicate-heavy corpus (the classic failure: a million empty
    * docs all fingerprinting to 0) therefore inflates no bucket at all.
    *
    * `maxBucket` caps the number of DISTINCT fingerprints per (band, chunk)
    * bucket — skew-safe via [[dropHeavyKeys]] (groupBy-count + broadcast
    * anti-join, never a Window over the hot key). A capped bucket weakens
    * recall only for NON-identical fingerprints that agree on no other
    * chunk; the pigeonhole guarantee for Hamming <= bands-1 is otherwise
    * intact.
    *
    * Returns (id_a, id_b, hamming), id_a < id_b, hamming <= maxHamming.
    */
  def simhashCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, maxHamming: Int = 3,
      maxBucket: Int = 200): DataFrame =
    simhashPairsFromFingerprints(
      df.select(col(idCol), simhash64Native(col(textCol)).as("__fp")),
      idCol, "__fp", bands, maxHamming, maxBucket)

  /** Candidate DISTINCT-fingerprint pairs (fp_a < fp_b, Hamming-filtered)
    * — the graph the lake dedupe pass propagates over WITHOUT ever
    * expanding members: a component of m exact copies costs m rows here,
    * never m^2/2 pairs. `fps` must hold distinct fingerprints in `fpCol`.
    */
  def simhashFpPairs(fps: DataFrame, fpCol: String,
                     bands: Int = 4, maxHamming: Int = 3,
                     maxBucket: Int = 200): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    require(maxHamming < bands, "pigeonhole guarantee needs maxHamming < bands")
    val chunkBits = 64 / bands
    val mask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1
    val banded = fps.select(col(fpCol).as("simhash"),
      posexplode(array((0 until bands).map { b =>
        shiftright(col(fpCol), b * chunkBits).bitwiseAND(mask)
      }: _*)).as(Seq("band_idx", "chunk")))
    val capped = dropHeavyKeys(banded, Seq("band_idx", "chunk"), maxBucket)
    capped.as("a").join(capped.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.chunk") === col("b.chunk") &&
        col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("fp_a"), col("b.simhash").as("fp_b"))
      .distinct() // fp pairs sharing several bands appear once
      .where(hamming64(col("fp_a"), col("fp_b")) <= maxHamming)
  }

  /** The banded-Hamming join half of [[simhashCandidatePairs]], over
    * PRECOMPUTED 64-bit fingerprints — the seam for lake-persisted sketch
    * columns ([[graft.maintain.Sketches]]), mirroring
    * [[minhashPairsFromSignatures]]: candidate generation without
    * re-hashing a single token.
    */
  def simhashPairsFromFingerprints(
      withFp: DataFrame, idCol: String, fpCol: String,
      bands: Int = 4, maxHamming: Int = 3,
      maxBucket: Int = 200): DataFrame =
    // The fingerprint frame feeds its consumers below — caching makes the
    // reuse explicit instead of relying on ReuseExchange surviving AQE
    // replanning; released once the result is materialized.
    // Fingerprints come from the NATIVE kernel (one codegen'd pass in the
    // projection, no explode/shuffle — bit-identical to simhashDf, which
    // q16's oracle cross-checks against it corpus-wide).
    // MATERIALIZED EAGERLY (guide §2.4/§5): the downstream join tree has
    // ~8 exchanges reading this frame, and AQE submits their
    // materialization stages CONCURRENTLY — against a lazily-persisted
    // frame each of them recomputes the full fingerprint pass (measured:
    // 8 parallel stages x the whole kernel scan at sf0.1) because no
    // stage waits for another to fill the cache. One count() up front
    // makes every consumer a cache read.
    Cached.withCached(withFp.select(col(idCol).as("id"), col(fpCol).as("simhash"))) { fp =>
      fp.count()

      // One row per DISTINCT fingerprint; members expand at the end.
      val fpPairs = simhashFpPairs(fp.select("simhash").distinct(), "simhash",
        bands, maxHamming, maxBucket)

      // Expansion back to doc pairs: cross-group (different fingerprints)...
      val cross = fpPairs
        .join(fp.select(col("id").as("ia"), col("simhash").as("fp_a")), Seq("fp_a"))
        .join(fp.select(col("id").as("ib"), col("simhash").as("fp_b")), Seq("fp_b"))
        .select(least(col("ia"), col("ib")).as("id_a"),
          greatest(col("ia"), col("ib")).as("id_b"),
          hamming64(col("fp_a"), col("fp_b")).as("hamming"))
      // ...plus within-group (identical fingerprint, Hamming 0) pairs.
      val within = fp.as("x").join(fp.as("y"),
          col("x.simhash") === col("y.simhash") && col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"), lit(0L).as("hamming"))
      materializeAndRelease(cross.unionByName(within))
    }

  /** Materialize the (cap-bounded, ~linear-size) candidate-pair result into
    * its own cache, so the corpus-scale sketch frame it was computed from
    * ([[Cached.withCached]] in the caller) can be released as soon as this
    * returns. The extra action costs nothing net: callers' first action
    * would compute the same joins; later actions now hit the pair cache
    * instead of re-running them.
    *
    * CALLER CONTRACT: the RETURNED frame is the one remaining cached handle
    * (orders of magnitude smaller than the released sketch frames, but not
    * free) — a caller running many dedup passes in one session should
    * `.unpersist()` each result once done with it. The trade is deliberate:
    * the releasable thing is the small output, never the corpus-scale
    * intermediate.
    */
  private[functions] def materializeAndRelease(result: DataFrame): DataFrame = {
    val out = result.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }

  /** Aggregate-shaped SimHash over a whole frame: explode tokens, vote per
    * bit via 64 conditional sums (map-side partial aggregation), fold the
    * signs. Same result as [[simhash64]] but the per-token work is done
    * once instead of inside a 64-wide fold — prefer this for corpus-scale
    * jobs. Returns (idCol, simhash); empty-token docs get simhash 0.
    */
  def simhashDf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode_outer(TextMetrics.tokens(col(textCol))).as("t"))
    val h = xxhash64(col("t"))
    val votes = (0 until 64).map { j =>
      sum(when(col("t").isNull, 0)
        .when(shiftright(h, j).bitwiseAND(1L) === 1L, 1)
        .otherwise(-1)).as(s"b$j")
    }
    toks.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id").as(idCol),
        (0 until 64).map { j =>
          when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** Exact token-Jaccard candidate pairs with a DOCUMENT-FREQUENCY cap:
    * tokens appearing in more than `maxDF` documents (stopwords, boilerplate)
    * are dropped BEFORE the self-join — without the cap, a token shared by
    * f documents contributes f^2/2 joined pairs, so corpus-scale stopwords
    * go quadratic. With it, pair count is bounded by sum over kept tokens of
    * df^2/2 <= maxDF/2 * total kept postings (linear in corpus size for
    * fixed maxDF). Intersection/union are computed over the CAPPED
    * vocabulary on both sides, so the ratio stays a true Jaccard of the
    * filtered token sets. Returns (doc_a, doc_b, inter, uni).
    */
  def jaccardCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      minIntersection: Int = 1, maxDF: Int = 1000): DataFrame = {
    val words = df.select(col(idCol).as("doc_id"),
      explode(TextMetrics.tokens(col(textCol))).as("w")).distinct()
    // document frequency via groupBy (map-side partial agg) + broadcast
    // anti-join — a stopword's postings never collect on one task
    val kept = dropHeavyKeys(words, Seq("w"), maxDF)
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = kept.as("a").join(kept.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .where(col("inter") >= minIntersection)
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("sa.n") + col("sb.n") - col("inter")).as("uni"))
  }

  /** [[dedupGroups]] with its convergence evidence: the labeling plus
    * whether the propagation actually reached a fixed point within the
    * round cap, and how many rounds it ran.
    */
  final case class GroupsResult(groups: DataFrame, converged: Boolean, rounds: Int)

  /** Near-duplicate GROUPS from candidate pairs: min-id label propagation
    * over the pair graph — each round, every node adopts the smallest label
    * among itself and its neighbors, and the loop runs UNTIL A FIXED POINT
    * (no label changed) or the `maxIters` hard cap. Near-dup graphs have
    * tiny diameter (exact-dup groups are cliques — one round; near-dup
    * chains are short), so a handful of rounds converges; the iteration is
    * all equi-joins + map-side-combinable min aggregations, no driver-side
    * graph state, so it scales like any shuffle.
    *
    * Cost shape per round: ONE aggregation job on the freshly persisted
    * label frame computes the changed-label count AND materializes the
    * cache — the convergence probe is a column on the round's own frame,
    * not a second join re-run as a separate action.
    *
    * `pairs` needs columns (id_a, id_b) of the SAME type as `ids`'
    * `idCol` — the id type is preserved through the propagation (any
    * orderable type works; nothing is cast), so string keys group as
    * safely as longs. `ids` supplies every node (isolated docs keep their
    * own id as group). Returns (idCol, group_id, converged, rounds);
    * `converged = false` means a pathological chain exceeded the cap and
    * the groups may be SPLIT finer than the true connected components —
    * callers that must not act on partial groups check the flag.
    */
  def dedupGroupsResult(ids: DataFrame, idCol: String, pairs: DataFrame,
                        maxIters: Int = 50): GroupsResult = {
    // a cap of zero rounds allows no propagation at all: identity labels,
    // and no evidence of convergence
    if (maxIters < 1)
      return GroupsResult(ids.select(col(idCol), col(idCol).as("group_id")),
        converged = false, rounds = 0)
    // Both edge directions from ONE evaluation of `pairs` (explode of a
    // 2-struct array), not union(pairs, pairs.swap): the union shape
    // evaluates the whole upstream candidate pipeline TWICE inside the
    // first materializing job — for banding/ANN candidate generators that
    // is a second full corpus pass (guide §1.2: don't compute things
    // twice). Row set identical to the union formulation.
    val pairEdges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
    Cached.withCached(pairEdges) { edges =>
      // Bridge.detach, NOT persist/localCheckpoint: each round's plan
      // references the previous round's frame THREE times (neighbor join,
      // label join, pointer-jump join), so (a) without lineage TRUNCATION the
      // logical plan grows 3x per round — the driver OOMs just STRINGIFYING
      // the tree for the SQL listener by round ~20 (persist caches blocks but
      // leaves lineage intact) — and (b) localCheckpoint truncates the plan
      // but CARRIES the computed statistics into the new leaf, and join-stat
      // estimation MULTIPLIES child sizes, so the carried BigInt's digit
      // count triples per round and by round ~25 the driver burns minutes in
      // big-number arithmetic per size estimate. detach() cuts both: fresh
      // leaf, constant stats, explicit block release one round later.
      import org.apache.spark.sql.graftx.Bridge
      // ROUND 1 SPECIALIZED (guide §2.4 — remove shuffles outright): with
      // identity labels, the neighbor-label join degenerates to
      // min(src) per dst over the edges alone, and the pointer-jump join is
      // the identity (grp(g1) = g1), so round 1 is ONE aggregation + ONE
      // left join instead of three joins — same labels, same changed-count.
      val nbr0 = edges.groupBy(col("dst").as("id")).agg(min("src").as("nbr_grp"))
      val grp1 = least(col("id"), coalesce(col("nbr_grp"), col("id")))
      var (labels, releaseLabels) = Bridge.detach(
        ids.select(col(idCol).as("id"))
          .join(nbr0, Seq("id"), "left_outer")
          .select(col("id"), grp1.as("grp"), (grp1 =!= col("id")).as("__chg")))
      var converged = false
      var i = 1
      val changed0 = labels.agg(count(when(col("__chg"), lit(1)))).head().getLong(0)
      labels = labels.drop("__chg")
      converged = changed0 == 0
      while (i < maxIters && !converged) {
        // neighbor labels: for each edge dst, the src's current label
        val nbr = edges.join(labels.select(col("id").as("src"), col("grp")), "src")
          .groupBy(col("dst").as("id")).agg(min("grp").as("nbr_grp"))
        val g1 = least(col("grp"), coalesce(col("nbr_grp"), col("grp")))
        val cand = labels.join(nbr, Seq("id"), "left_outer")
          .select(col("id"), col("grp"), g1.as("__g1"))
        // POINTER JUMP: additionally adopt the label OF the label node —
        // labels only shrink and grp(u) <= u, so this halves every chain's
        // remaining distance per round: O(log diameter) rounds instead of
        // O(diameter). Plain hop-propagation hit the round cap on corpus-
        // scale near-dup graphs whose banding chains grow with corpus size.
        val newGrp = least(col("__g1"), coalesce(col("__g2"), col("__g1")))
        val (next, releaseNext) = Bridge.detach(cand
          .join(labels.select(col("id").as("__g1"), col("grp").as("__g2")),
            Seq("__g1"), "left_outer")
          .select(col("id"), newGrp.as("__grp_next"),
            (newGrp =!= col("grp")).as("__chg"))
          .withColumnRenamed("__grp_next", "grp"))
        // one job materializes the round's cache and counts the changes;
        // only then is the previous round's cache released
        val changed = next.agg(count(when(col("__chg"), lit(1)))).head().getLong(0)
        releaseLabels()
        labels = next
        releaseLabels = releaseNext
        converged = changed == 0
        i += 1
      }
      val out = materializeAndRelease(
        labels.select(col("id").as(idCol), col("grp").as("group_id")))
      releaseLabels()
      GroupsResult(out, converged, i)
    }
  }

  /** [[dedupGroupsResult]] returning just the labeling; an unconverged run
    * (chain diameter beyond the cap) is logged as a warning instead of
    * silently returning split groups.
    */
  def dedupGroups(ids: DataFrame, idCol: String, pairs: DataFrame,
                  maxIters: Int = 50): DataFrame = {
    val r = dedupGroupsResult(ids, idCol, pairs, maxIters)
    if (!r.converged)
      Log.warn(s"dedup: label propagation did not " +
        s"converge within $maxIters rounds — groups may be split finer than " +
        "true components; re-run with a higher maxIters or use dedupGroupsResult")
    r.groups
  }

  /** MinHash-LSH near-duplicate candidate pairs over (idCol, textCol).
    *
    * Signature shape, third iteration: a pure-Column signature (one
    * `array_min(transform(shingles, xxhash64(_, seed)))` per seed) was
    * rejected because CollapseProject inlines the shingle array into all
    * numHashes array_min calls (measured 40x slowdown); the
    * explode->groupBy-min shape fixed that but paid a full extra stage per
    * build. The NATIVE kernel expression ([[minhashSignatureNative]])
    * computes the whole signature in one codegen'd pass inside the
    * projection — no explode, no shuffle, and immune to projection
    * inlining — while staying bit-identical to the explode shape
    * (FunctionsSpec pins the parity).
    *
    * Banding runs over DISTINCT signatures (exact duplicates — identical
    * shingle sets, hence identical signatures — collapse to one banded row
    * and expand via the within-group join at the end), so exact-duplicate
    * recall is UNCONDITIONAL: no cap can drop it, no duplicate-heavy corpus
    * can inflate a bucket. `maxBucket` caps DISTINCT signatures per
    * (band, hash) bucket — skew-safe via [[dropHeavyKeys]] (groupBy-count +
    * broadcast anti-join; never a Window shuffling the hot bucket's postings
    * to one task). Capped buckets weaken recall only for non-identical
    * signatures sharing no other band — standard LSH hygiene that bounds
    * the pair blow-up.
    *
    * Returns (id_a, id_b, n_shared_bands), idA < idB; exact duplicates
    * report n_shared_bands = bands.
    */
  def minhashCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8,
      maxBucket: Int = 200): DataFrame =
    minhashPairsFromSignatures(
      df.select(col(idCol),
        minhashSignatureNative(col(textCol), shingleK, numHashes).as("__sig")),
      idCol, "__sig", numHashes, bands, maxBucket)

  /** Candidate DISTINCT-signature pairs (sig_a < sig_b in array order, with
    * shared-band counts) — the member-free graph for the lake dedupe pass,
    * mirroring [[simhashFpPairs]]. `sigs` must hold distinct signatures.
    */
  def minhashSigPairs(sigs: DataFrame, sigCol: String,
                      numHashes: Int = 32, bands: Int = 8,
                      maxBucket: Int = 200): DataFrame = {
    require(numHashes % bands == 0, s"bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val exploded = sigs.select(col(sigCol).as("sig"),
      posexplode(lshBandHashes(col(sigCol), bands, rowsPerBand))
        .as(Seq("band_idx", "band_hash")))
    val capped = dropHeavyKeys(exploded, Seq("band_idx", "band_hash"), maxBucket)
    // (arrays are orderable/joinable in Spark; '<' orders pairs once)
    capped.as("a").join(capped.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.sig") < col("b.sig"))
      .groupBy(col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Estimated Jaccard from two signatures: the fraction of agreeing
    * positions is an unbiased estimator of the shingle-set Jaccard — the
    * verify gate the lake dedupe pass applies to candidate pairs.
    */
  def sigAgreement(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)

  /** The banding/join half of [[minhashCandidatePairs]], over PRECOMPUTED
    * signatures — the seam that lets lake-persisted per-file sketch columns
    * ([[graft.maintain.Sketches]]) feed candidate generation without
    * recomputing a single signature: at corpus scale the sketch build is
    * the dominant cost of a dedup pass, and it only needs to happen once
    * per immutable data file, not once per pass.
    */
  def minhashPairsFromSignatures(
      withSig: DataFrame, idCol: String, sigCol: String,
      numHashes: Int = 32, bands: Int = 8,
      maxBucket: Int = 200): DataFrame =
    // cached: the signature frame feeds five consumers below — see
    // simhashCandidatePairs. Signatures come from the NATIVE kernel (one
    // codegen'd pass per row, no shingle explode, no groupBy stage —
    // bit-identical to the explode->min shape, pinned by DedupSpec).
    // Materialized EAGERLY before the join tree: AQE runs the consumer
    // exchanges' stages concurrently, and against a lazy persist each one
    // recomputes the whole signature pass (see simhashPairsFromFingerprints).
    Cached.withCached(withSig.select(col(idCol).as("id"), col(sigCol).as("sig"))) { sig =>
      sig.count()

      val sigPairs = minhashSigPairs(sig.select("sig").distinct(), "sig",
        numHashes, bands, maxBucket)

      // expand back to doc pairs: cross-group plus within-group (exact dups,
      // which by construction share every band); the member joins are plain
      // equi-joins — a hot signature (many exact copies) is AQE-skew-splittable
      // and its quadratic within-group pairs are genuine output, not overhead
      val cross = sigPairs
        .join(sig.select(col("id").as("ia"), col("sig").as("sig_a")), Seq("sig_a"))
        .join(sig.select(col("id").as("ib"), col("sig").as("sig_b")), Seq("sig_b"))
        .select(least(col("ia"), col("ib")).as("id_a"),
          greatest(col("ia"), col("ib")).as("id_b"), col("n_shared_bands"))
      val within = sig.as("x").join(sig.as("y"),
          col("x.sig") === col("y.sig") && col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
          lit(bands.toLong).as("n_shared_bands"))
      materializeAndRelease(cross.unionByName(within))
    }
}
