package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions._

class MortonSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(42) // seeded: deterministic

  test("interleave/deinterleave roundtrip (seeded property)") {
    (1 to 2000).foreach { _ =>
      val (a, b) = (rnd.nextInt(), rnd.nextInt())
      assert(Morton.deinterleave(Morton.interleave(a, b)) == ((a, b)))
    }
  }

  test("a-bits dominate ordering for non-negative keys") {
    (1 to 2000).foreach { _ =>
      val x1 = rnd.nextInt(1 << 16); val x2 = rnd.nextInt(1 << 16)
      val y = rnd.nextInt(1 << 16)
      if (x1 < x2)
        assert(Morton.interleave(x1, y) < Morton.interleave(x2, y))
    }
  }

  test("known values") {
    assert(Morton.interleave(0, 0) == 0L)
    assert(Morton.interleave(0, 1) == 1L)
    assert(Morton.interleave(1, 0) == 2L)
    assert(Morton.interleave(1, 1) == 3L)
    assert(Morton.interleave(2, 0) == 8L)
  }

  test("ZOrder64 expression: interpreted and codegen paths match Morton") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq((3, 5), (0, 0), (123456, 789), (-1, 7)).toDF("a", "b")
    val got = df.select(ZOrder.zorder64(col("a"), col("b"))).as[Long].collect()
    assert(got.toSeq == Seq(
      Morton.interleave(3, 5), Morton.interleave(0, 0),
      Morton.interleave(123456, 789), Morton.interleave(-1, 7)))
  }

  test("hilbert: index/inverse roundtrip, adjacency (seeded property)") {
    (1 to 1000).foreach { _ =>
      val x = rnd.nextInt(1 << 16); val y = rnd.nextInt(1 << 16)
      val d = Morton.hilbert(16, x, y)
      assert(Morton.hilbertInverse(16, d) == ((x, y)))
    }
    // consecutive Hilbert indices are grid-adjacent (the curve never jumps)
    (0 until 500).foreach { i =>
      val (x1, y1) = Morton.hilbertInverse(8, i.toLong)
      val (x2, y2) = Morton.hilbertInverse(8, i.toLong + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1)
    }
  }

  test("hilbert64 expression matches the Scala implementation") {
    val spark = TestSpark.spark
    import spark.implicits._
    val pts = Seq((3, 5), (0, 0), (1023, 63), (40000, 2))
    val got = pts.toDF("a", "b")
      .select(ZOrder.hilbert64(col("a"), col("b"), 16)).as[Long].collect()
    assert(got.toSeq == pts.map { case (a, b) => Morton.hilbert(16, a, b) })
  }

  test("convOrderKeyScala matches the Column expression") {
    val spark = TestSpark.spark
    import spark.implicits._
    val ids = Seq("c00000001", "conv123456789", "abc", "zz99x", "", "Xy-1")
    val fromCol = ids.toDF("c").select(ZOrder.convOrderKey(col("c"))).as[Int].collect()
    assert(fromCol.toSeq == ids.map(ZOrder.convOrderKeyScala))
  }

  test("convOrderKey is monotonic over synthetic conv ids") {
    val spark = TestSpark.spark
    import spark.implicits._
    val ids = Seq("c00000001", "c00000002", "c00099999", "c01000000")
    val keys = ids.toDF("conv_id")
      .select(ZOrder.convOrderKey(col("conv_id"))).as[Int].collect()
    assert(keys.toSeq == keys.sorted.toSeq)
    // lexicographic fallback for non-digit ids
    val lex = Seq("aaaa", "aaab", "abzz", "zzzz").toDF("conv_id")
      .select(ZOrder.convOrderKey(col("conv_id"))).as[Int].collect()
    assert(lex.toSeq == lex.sorted.toSeq)
  }

  test("convOrderKey lex fallback: non-negative and ordered for bytes >= 0x80") {
    val spark = TestSpark.spark
    import spark.implicits._
    // U+00E9 has low byte 0xE9: the pre-fix full-width encoding overflowed
    // Int to NEGATIVE here, inverting the order against ASCII ids
    val ids = Seq("aaaa", "zzzz", "éxyz")
    val keys = ids.toDF("conv_id")
      .select(ZOrder.convOrderKey(col("conv_id"))).as[Int].collect()
    assert(keys.forall(_ >= 0))
    assert(keys.toSeq == keys.sorted.toSeq, s"must follow string order: ${keys.toSeq}")
    assert(keys.toSeq == ids.map(ZOrder.convOrderKeyScala))
  }
}

class TextMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("tokenCount / wordHits / langId") {
    import spark.implicits._
    val df = Seq(
      "the cat sat on the mat",
      "le chat et la table pour dans",
      "",
      "xyzzy plugh").toDF("text")
    val got = df.select(
      TextMetrics.tokenCount(col("text")).as("n"),
      TextMetrics.langId(col("text")).as("lang")).collect()
    assert(got(0).getInt(0) == 6 && got(0).getString(1) == "en")
    assert(got(1).getString(1) == "fr")
    assert(got(2).getInt(0) == 0 && got(2).getString(1) == "und")
    assert(got(3).getString(1) == "und")
  }

  test("fingerprint is order-sensitive and deterministic") {
    import spark.implicits._
    val got = Seq("ab", "ba", "ab", "").toDF("t")
      .select(TextMetrics.fingerprint(col("t"))).as[Long].collect()
    assert(got(0) == got(2))
    assert(got(0) != got(1)) // order matters
    assert(got(3) == 0L)
    // weights are (i%31)+1 with 1-based i: "ab" = 'a'*2 + 'b'*3
    assert(got(0) == 97L * 2 + 98L * 3)
  }
}

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("minhash candidate pairs find near-duplicates, not unrelated docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (3L, "completely different content about spark clustering and manifests here"),
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("simhash: identical texts equal, near texts close, far texts far") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight"),
    ).toDF("id", "text").select(col("id"), Dedup.simhash64(col("text")).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) < ham(m(1L), m(3L)))
  }

  test("simhashDf (aggregate shape) matches simhash64 (column shape)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four five six"),
      (3L, "")).toDF("id", "text")
    val colVersion = docs.select(col("id"), Dedup.simhash64(col("text")).as("simhash"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val aggVersion = Dedup.simhashDf(docs, "id", "text")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(colVersion.toSeq == aggVersion.toSeq)
  }

  test("shingles: first-seen order, short docs give whole-doc shingle") {
    import spark.implicits._
    val got = Seq("a b c d", "a b").toDF("t")
      .select(Dedup.wordShingles(col("t"), 3)).as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("a b"))
  }

  test("simhash banded candidates: exact dups always found, far docs not") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),  // near dup of 1
      (4L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)), "exact duplicate must be a candidate")
    assert(pairs.find(p => p._1 == 1L && p._2 == 2L).get._3 == 0L)
    assert(!keys.contains((1L, 4L)) && !keys.contains((2L, 4L)))
  }

  test("simhash banded candidates: exact-dup recall survives ANY bucket cap") {
    import spark.implicits._
    // 10 identical docs = ONE distinct fingerprint: banding sees a single
    // row, so even maxBucket=1 cannot drop their pairs (the round-2 failure
    // mode was losing exact duplicates to the cap on dup-heavy corpora)
    val docs = (1L to 10L).map(i => (i, "same text every single time for all"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.simhashCandidatePairs(docs, "doc_id", "text").count()
    assert(uncapped == 45) // all 10*9/2 pairs
    val capped = Dedup.simhashCandidatePairs(docs, "doc_id", "text", maxBucket = 1).count()
    assert(capped == 45, "identical fingerprints collapse before banding; " +
      "the cap only limits DISTINCT fingerprints per bucket")
  }

  test("native sketch kernels are bit-identical to the Column shapes") {
    import spark.implicits._
    // mixed corpus: normal, multi-space/leading-trailing whitespace, short
    // (<= k tokens -> whole-doc shingle), empty, null, non-ASCII — plus the
    // EDGE-whitespace traps: Spark's trim strips ONLY ASCII space, so a
    // leading tab survives trim and \s+ split yields a leading "" token,
    // and Spark's split(limit -1) KEEPS the trailing "" token a trailing
    // newline produces; a Java String.trim/split(limit 0) kernel diverges
    // on exactly these docs
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "  spaced   out\ttokens \n here  "),
      (3L, "short doc"),
      (4L, ""),
      (5L, null: String),
      (6L, "café naïve résumé über tokens here now ok"),
      (7L, "\tleading tab"),
      (8L, "trailing newline\n"),
      (9L, "\r\nboth ends\t"),
      (10L, " \t ") // trims to "\t": one split yields ["", ""]
    ).toDF("doc_id", "text")
    // simhash: native == aggregate shape == per-row fold, doc by doc
    val agg = Dedup.simhashDf(docs, "doc_id", "text")
    val tri = docs.select(col("doc_id"),
        Dedup.simhash64(col("text")).as("fold"),
        Dedup.simhash64Native(col("text")).as("nat"))
      .join(agg, "doc_id")
    assert(tri.where(col("nat") =!= col("fold") || col("nat") =!= col("simhash"))
      .count() == 0, "all three SimHash implementations must agree")
    // minhash signature: native == explode(wordShingles) -> groupBy-min
    val shingled = docs.select(col("doc_id"),
      explode(Dedup.wordShingles(col("text"), 3)).as("sh"))
    val minAggs = (0 until 16).map(i => min(xxhash64(col("sh"), lit(i))).as(s"h$i"))
    val ref = shingled.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"), array((0 until 16).map(i => col(s"h$i")): _*).as("ref_sig"))
    val both = docs.select(col("doc_id"),
        Dedup.minhashSignatureNative(col("text"), 3, 16).as("nat_sig"))
      .join(ref, "doc_id")
    assert(both.where(col("nat_sig") =!= col("ref_sig")).count() == 0,
      "native MinHash signatures must match the explode/groupBy reference")
  }

  test("candidate-pair caps are skew-safe: no Window over the hot key") {
    import spark.implicits._
    val docs = (1L to 8L).map(i => (i, s"alpha beta gamma token$i")).toDF("doc_id", "text")
    val vecs = (1L to 8L).map(i => (i, Seq(1f, i.toFloat, 3f))).toDF("id", "v")
    // candidate-pair frames come back cached (materializeAndRelease), so the
    // real join pipeline hides behind InMemoryTableScan — recurse into the
    // cached plan or the assertion would pass vacuously
    def planText(p: org.apache.spark.sql.execution.SparkPlan): String = {
      val nested = p.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          planText(s.relation.cachedPlan)
      }
      // an AdaptiveSparkPlan prints BOTH its final and initial plans; keep
      // only the final section so each operator is counted once
      (p.toString.split("== Initial Plan ==")(0) +: nested).mkString("\n")
    }
    def windows(df: org.apache.spark.sql.DataFrame): Int =
      "(?m)^\\s*[+:*-]*\\s*Window ".r
        .findAllIn(planText(df.queryExecution.executedPlan)).length
    assert(windows(Dedup.simhashCandidatePairs(docs, "doc_id", "text")) == 0)
    assert(windows(Dedup.minhashCandidatePairs(docs, "doc_id", "text")) == 0)
    assert(windows(Dedup.jaccardCandidatePairs(docs, "doc_id", "text")) == 0)
    // lshBucketTopK keeps exactly ONE window: the per-QUERY top-k rank
    // (partitioned by query_id, bounded by bucket size) — none on buckets
    val topk = VectorOps.lshBucketTopK(vecs, "id", "v", 2, maxBucket = 3)
    assert(windows(topk) == 1)
  }

  test("dedupGroups: chains propagate to one group, isolated docs keep their id") {
    import spark.implicits._
    val ids = (1L to 7L).map(i => Tuple1(i)).toDF("doc_id")
    // chain 1-2-3-4 (no direct 1-3/1-4 edges), pair 5-6, isolated 7
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.dedupGroups(ids, "doc_id", pairs)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (5L, 5L), (6L, 5L), (7L, 7L)))
    // early exit: a clique needs one round; maxIters=1 must already be right
    val clique = Seq((10L, 11L), (10L, 12L), (11L, 12L)).toDF("id_a", "id_b")
    val cg = Dedup.dedupGroups(Seq(10L, 11L, 12L).map(Tuple1(_)).toDF("doc_id"),
      "doc_id", clique, maxIters = 1)
      .collect().map(r => r.getLong(1)).distinct
    assert(cg.toSeq == Seq(10L))
  }

  test("dedupGroups: convergence flag trips on a chain longer than the cap") {
    import spark.implicits._
    // path graph 1-2-...-40: even with pointer jumping (distance halves per
    // round) a cap of 2 covers only a few hops — it must report
    // converged=false AND visibly split groups, while the default cap
    // converges (O(log diameter) rounds) and labels everything 1
    val n = 40L
    val ids = (1L to n).map(Tuple1(_)).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val capped = Dedup.dedupGroupsResult(ids, "doc_id", pairs, maxIters = 2)
    assert(!capped.converged && capped.rounds == 2)
    assert(capped.groups.select("group_id").distinct().count() > 1)
    val full = Dedup.dedupGroupsResult(ids, "doc_id", pairs)
    assert(full.converged)
    assert(full.rounds < 10, s"pointer jumping must need ~log(40) rounds, took ${full.rounds}")
    assert(full.groups.select("group_id").as[Long].collect().toSet == Set(1L))
  }

  test("dedupGroups: a zero-round cap returns identity labels, not converged") {
    import spark.implicits._
    val ids = (1L to 4L).map(Tuple1(_)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val r = Dedup.dedupGroupsResult(ids, "doc_id", pairs, maxIters = 0)
    assert(!r.converged && r.rounds == 0)
    val got = r.groups.orderBy("doc_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(got == (1L to 4L).map(i => (i, i)))
  }

  test("dedupGroups: string ids propagate without casting (no null collapse)") {
    import spark.implicits._
    // a non-numeric id column must keep its type — the old long cast turned
    // every id into null, collapsing all rows into one bogus group
    val ids = Seq("u1#0", "u1#1", "u2#0").map(Tuple1(_)).toDF("k")
    val pairs = Seq(("u1#0", "u1#1")).toDF("id_a", "id_b")
    val got = Dedup.dedupGroups(ids, "k", pairs)
      .orderBy("k").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("u1#0", "u1#0"), ("u1#1", "u1#0"), ("u2#0", "u2#0")))
  }

  test("jaccard candidates: document-frequency cap keeps stopwords out of the join") {
    import spark.implicits._
    // every doc shares the stopword "the"; only (1,2) share a rare token
    val docs = ((1L to 20L).map { i =>
      (i, s"the unique$i filler$i")
    } :+ (1L, "the shared rare") :+ (2L, "the shared rare"))
      .groupBy(_._1).map { case (id, rows) => (id, rows.map(_._2).mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val pairs = Dedup.jaccardCandidatePairs(docs, "doc_id", "text", maxDF = 5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)),
      s"stopword 'the' (df=20 > maxDF=5) must not generate pairs; got $pairs")
    // without the cap the stopword joins every doc to every other doc
    val uncapped = Dedup.jaccardCandidatePairs(docs, "doc_id", "text", maxDF = 1000).count()
    assert(uncapped == 190) // 20*19/2
  }
}

class VectorOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("dot_f32 codegen expression matches the higher-order-function reference") {
    import spark.implicits._
    val df = Seq(
      (Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)),       // plain
      (Seq(0.5f, -0.5f), Seq(-2f, 2f)),          // negatives
      (Seq.empty[Float], Seq.empty[Float])).toDF("a", "b") // empty -> 0.0
    val native = df.select(VectorOps.dot(col("a"), col("b"))).as[Double].collect()
    val hof = df.select(VectorOps.dotHof(col("a"), col("b"))).as[Double].collect()
    assert(native.toSeq == hof.toSeq && native(0) == 32.0 && native(2) == 0.0)
    // length mismatch -> null in BOTH formulations
    val mm = Seq((Seq(1f, 2f), Seq(1f))).toDF("a", "b")
    assert(mm.select(VectorOps.dot(col("a"), col("b"))).collect().head.isNullAt(0))
    assert(mm.select(VectorOps.dotHof(col("a"), col("b"))).collect().head.isNullAt(0))
    // array<double> keeps FULL precision (no implicit downcast to float):
    // 1 + 1e-9 is representable in double but rounds to 1.0f in float
    val dd = Seq((Seq(1.0 + 1e-9, 2.0), Seq(1.0, 0.0))).toDF("a", "b")
    val full = dd.select(VectorOps.dot(col("a"), col("b"))).as[Double].head()
    assert(full == 1.0 + 1e-9, s"double inputs must not round-trip through float: $full")
    // interpreted path (no codegen) agrees with the codegen path
    val prevWs = spark.conf.get("spark.sql.codegen.wholeStage")
    val prevFm = spark.conf.get("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.select(VectorOps.dot(col("a"), col("b"))).as[Double].collect()
      assert(interp.toSeq == native.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prevWs)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFm)
    }
  }

  test("lsh_bucket_f32 buckets are bit-identical to the HOF reference") {
    import spark.implicits._
    def jv(i: Long, j: Int): Float = (((i * 37 + j * 11) % 19) - 9) / 5f
    val vecs = (1L to 40L).map(i => Tuple1((0 until 8).map(j => jv(i, j))))
      .toDF("v")
    for (planes <- Seq(4, 8, 12)) {
      val native = vecs.select(VectorOps.lshBucket(col("v"), planes))
        .as[Long].collect().toSeq
      val hof = vecs.select(VectorOps.lshBucketHof(col("v"), planes))
        .as[Long].collect().toSeq
      assert(native == hof, s"bucket mismatch at $planes planes")
    }
    // degenerate inputs must ALSO match the legacy formulation: empty and
    // null vectors both land in bucket 0 (the legacy null-padded zip
    // poisoned every projection; nulls must not drop out of bucket joins)
    val edge = Seq(Tuple1(Some(Seq.empty[Float])), Tuple1(Option.empty[Seq[Float]]))
      .toDF("v")
    val nativeEdge = edge.select(VectorOps.lshBucket(col("v"), 6)).as[Long].collect().toSeq
    val hofEdge = edge.select(coalesce(VectorOps.lshBucketHof(col("v"), 6), lit(0L)))
      .as[Long].collect().toSeq
    assert(nativeEdge == Seq(0L, 0L) && hofEdge == nativeEdge)
    // NaN parity: Spark SQL evaluates NaN >= 0 as TRUE (NaN orders above
    // every number) while Java's `>= 0` is false for NaN — the kernel must
    // follow the SQL semantics, so a NaN projection SETS the bit. Also
    // covers Inf elements that may cancel to NaN inside a projection.
    val nan = Seq(
      Tuple1(Seq(Float.NaN, 1f)),
      Tuple1(Seq(Float.PositiveInfinity, Float.NegativeInfinity)),
      Tuple1(Seq(Float.NegativeInfinity, 2f))).toDF("v")
    val nativeNan = nan.select(VectorOps.lshBucket(col("v"), 6)).as[Long].collect().toSeq
    val hofNan = nan.select(coalesce(VectorOps.lshBucketHof(col("v"), 6), lit(0L)))
      .as[Long].collect().toSeq
    assert(nativeNan == hofNan, s"NaN/Inf bucket mismatch: $nativeNan vs $hofNan")
    assert(nativeNan.head == 63L, "all-NaN projections must set every plane bit")
  }

  test("cosine: orthogonal=0, identical=1") {
    import spark.implicits._
    val df = Seq(
      (Seq(1f, 0f), Seq(0f, 1f)),
      (Seq(1f, 2f), Seq(1f, 2f)),
      (Seq(0f, 0f), Seq(1f, 1f))).toDF("a", "b")
    val got = df.select(VectorOps.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(got(0)) < 1e-9)
    assert(math.abs(got(1) - 1.0) < 1e-9)
    assert(got(2) == 0.0)
  }

  test("bruteForceTopK returns k ranked neighbors per query") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0.9f, 0.1f, 0f)),
      (3L, Seq(0f, 1f, 0f)), (4L, Seq(0f, 0.9f, 0.1f))).toDF("id", "v")
    val top = VectorOps.bruteForceTopK(vecs, vecs, "id", "v", 1)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toMap
    assert(top(1L) == 2L && top(2L) == 1L && top(3L) == 4L && top(4L) == 3L)
  }

  test("lshBucketTopK: maxBucket bounds a degenerate bucket's join") {
    import spark.implicits._
    // 50 identical vectors collapse into ONE bucket (identical sign pattern)
    val vecs = (1L to 50L).map(i => (i, Seq(1f, 2f, 3f, 4f))).toDF("id", "v")
    val uncapped = VectorOps.lshBucketTopK(vecs, "id", "v", 2)
    assert(uncapped.count() == 100) // 50 queries x k=2
    // heavy bucket down-sampled to ~maxBucket members deterministically
    // (keep iff xxhash64(id) = 0 mod ceil(50/5)=10)
    val capped = VectorOps.lshBucketTopK(vecs, "id", "v", 2, maxBucket = 5)
    val q1 = capped.select("query_id").as[Long].collect().sorted.toSeq
    val kept = q1.distinct
    assert(kept.nonEmpty && kept.length < 50,
      s"cap must shrink the degenerate bucket; kept ${kept.length}")
    assert(q1.length == kept.length * math.min(2, kept.length - 1),
      "every kept member still gets its top-k within the sampled bucket")
    // both results come back persisted: released, so the repeat recomputes
    // instead of reading `capped`'s cache
    uncapped.unpersist(); capped.unpersist()
    val again = VectorOps.lshBucketTopK(vecs, "id", "v", 2, maxBucket = 5)
    val q2 = again.select("query_id").as[Long].collect().sorted.toSeq
    again.unpersist()
    assert(q1 == q2, "down-sampling is deterministic")
  }

  test("IvfProbesF32 matches the Window/max_by formulation on edge vectors") {
    import spark.implicits._
    import org.apache.spark.sql.graftx.{Bridge, IvfProbesF32}
    import org.apache.spark.sql.expressions.Window
    // edge-case corpus: normal, zero-norm, NaN element, null element,
    // null vector, negative-zero products
    val rows: Seq[(Long, Seq[java.lang.Float])] = Seq(
      (1L, Seq[java.lang.Float](1f, 2f, 3f)),
      (2L, Seq[java.lang.Float](0f, 0f, 0f)),
      (3L, Seq[java.lang.Float](Float.NaN, 1f, 1f)),
      (4L, Seq[java.lang.Float](1f, null, 2f)),
      (5L, null),
      (6L, Seq[java.lang.Float](-1f, -2f, -3f)))
    val df = rows.toDF("id", "v")
    // centroid table shares the same pathologies
    val centRows: Seq[(Int, Seq[java.lang.Float])] = Seq(
      (1, Seq[java.lang.Float](1f, 0f, 0f)),
      (2, Seq[java.lang.Float](0f, 0f, 0f)),        // zero norm -> ccos 0.0
      (3, Seq[java.lang.Float](null, 1f, 1f)),      // null element -> null norm
      (4, Seq[java.lang.Float](-1f, -2f, -3f)))
    def toVec(s: Seq[java.lang.Float]): Array[java.lang.Double] =
      if (s == null) null
      else s.map(f => if (f == null) null
        else java.lang.Double.valueOf(f.doubleValue())).toArray
    val cents = new IvfCentroids(centRows.map(_._1).toArray,
      centRows.map(r => toVec(r._2)).toArray)
    for (nProbe <- Seq(1, 2, 4)) {
      val fast = df.select(col("id"), Bridge.toColumn(IvfProbesF32(
          Bridge.toExpression(col("v")), cents, nProbe)).as("probes"))
        .as[(Long, Seq[Int])].collect().toMap
      // the replaced formulation: crossJoin + pairCos + per-id Window
      val cdf = centRows.toDF("cell", "cv")
      val scored = df.crossJoin(cdf)
        .select(col("id"), col("cell"),
          (when(VectorOps.norm(col("v")) === 0.0 ||
              VectorOps.norm(col("cv")) === 0.0, lit(0.0))
            .otherwise(VectorOps.dot(col("v"), col("cv")) /
              (VectorOps.norm(col("v")) * VectorOps.norm(col("cv")))))
            .as("ccos"))
      val w = Window.partitionBy("id").orderBy(col("ccos").desc, col("cell").asc)
      val ref = scored.withColumn("pr", row_number().over(w))
        .where(col("pr") <= nProbe)
        .select(col("id"), col("pr"), col("cell"))
        .as[(Long, Int, Int)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      rows.map(_._1).foreach { id =>
        assert(fast(id) == ref(id), s"nProbe=$nProbe id=$id: " +
          s"kernel ${fast(id)} vs window ${ref(id)}")
      }
      // the first probe IS the max_by assignment
      val assign = scored.groupBy("id")
        .agg(max_by(col("cell"), struct(col("ccos"), -col("cell"))).as("cell"))
        .as[(Long, Int)].collect().toMap
      rows.map(_._1).foreach { id =>
        assert(fast(id).head == assign(id),
          s"id=$id: probes.head ${fast(id).head} != max_by ${assign(id)}")
      }
    }
  }

  test("IvfProbesF32 ranks a -0.0 cosine level with 0.0, as Spark orders doubles") {
    import spark.implicits._
    import org.apache.spark.sql.graftx.{Bridge, IvfProbesF32}
    import org.apache.spark.sql.expressions.Window
    // cell 1's cosine underflows to -0.0 (a tiny negative dot over a huge
    // norm), cell 2's is an exact 0.0, cell 3's is positive
    val centRows: Seq[(Int, Seq[Double])] = Seq(
      (1, Seq(-1e-300, 1e150)), (2, Seq(0.0, 1.0)), (3, Seq(1.0, 1.0)))
    val df = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, -1.0))).toDF("id", "v")
    val cents = new IvfCentroids(centRows.map(_._1).toArray,
      centRows.map(_._2.map(java.lang.Double.valueOf).toArray).toArray)
    val cdf = centRows.toDF("cell", "cv")
    val ccos = df.crossJoin(cdf).select(col("id"), col("cell"),
      (VectorOps.dot(col("v"), col("cv")) /
        (VectorOps.norm(col("v")) * VectorOps.norm(col("cv")))).as("ccos"))
    val z = ccos.where(col("id") === 1 && col("cell") === 1).select("ccos").as[Double].head()
    assert(z == 0.0 && 1 / z < 0, s"the corpus needs a -0.0 cosine, got $z")
    for (nProbe <- 1 to 3) {
      val fast = df.select(col("id"), Bridge.toColumn(IvfProbesF32(
          Bridge.toExpression(col("v")), cents, nProbe)).as("probes"))
        .as[(Long, Seq[Int])].collect().toMap
      val w = Window.partitionBy("id").orderBy(col("ccos").desc, col("cell").asc)
      val ref = ccos.withColumn("pr", row_number().over(w)).where(col("pr") <= nProbe)
        .as[(Long, Int, Double, Int)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(_._2).toSeq).toMap
      assert(fast == ref, s"nProbe=$nProbe")
    }
  }

  test("ivfTopK: planted copies always retrieved; clustered top-1 matches brute force") {
    import spark.implicits._
    // three well-separated clusters with deterministic jitter
    def jit(i: Long, j: Int): Float = ((i * 31 + j * 7) % 10) / 100f
    val base = (1L to 30L).map { i =>
      val axis = (i % 3).toInt
      val v = (0 until 4).map(j => (if (j == axis) 10f else 0f) + jit(i, j))
      (i, v)
    }
    // ids 1..10 get an exact copy at id+100: any nProbe >= 1 must probe the
    // copy's cell (same vector -> same nearest centroid), so recall of the
    // planted copy is unconditional whatever the centroids converged to
    val corpus = (base ++ base.take(10).map { case (i, v) => (i + 100, v) })
      .toDF("id", "v")
    val ivf = VectorOps.ivfTopK(corpus, "id", "v", k = 3, nLists = 5, nProbe = 2)
    val byQuery = ivf.select("query_id", "cand_id").as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (1L to 10L).foreach { i =>
      assert(byQuery(i).contains(i + 100), s"query $i must retrieve its copy")
    }
    // cluster-local nearest neighbors: IVF top-1 equals brute-force top-1
    // for nearly all queries (nProbe=2 of 5 cells covers the home cluster)
    val brute = VectorOps.bruteForceTopK(corpus, corpus, "id", "v", 1)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toMap
    val top1 = ivf.where(col("rank") === 1)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toMap
    val agree = top1.count { case (q, c) => brute(q) == c }
    assert(agree >= (top1.size * 0.8).toInt,
      s"IVF top-1 agrees with brute force on $agree/${top1.size} queries")
    // degenerate cell: identical vectors collapse into one list; maxList
    // down-samples the LIST (bounding the join to queries x maxList, linear)
    // while every query still gets an answer — unlike a query-side cap,
    // no row silently loses its top-k
    val same = (1L to 50L).map(i => (i, Seq(1f, 2f, 3f, 4f))).toDF("id", "v")
    val capped = VectorOps.ivfTopK(same, "id", "v", k = 2, nLists = 3,
      nProbe = 1, maxList = 5)
    val queries = capped.select("query_id").distinct().count()
    val cands = capped.select("cand_id").distinct().as[Long].collect()
    assert(queries == 50, "every query keeps an answer under the cap")
    assert(cands.nonEmpty && cands.length < 50,
      s"maxList must shrink the degenerate cell's list; kept ${cands.length}")
  }
}
