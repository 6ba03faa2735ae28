package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Sanitize, TextMetrics, VectorOps, ZOrder}

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2 + the training-data-pipeline operators), each with a
  * DuckDB-checkable `oracleSql` twin where ANSI SQL can express it.
  *
  * Determinism rules used throughout:
  *   - money/quantity aggregates in exact integer cents
  *     (`CAST(round(x*100) AS BIGINT)`), never floating sums;
  *   - DuckDB `sum(BIGINT)` returns HUGEINT -> every oracle aggregate is
  *     explicitly CAST back to BIGINT;
  *   - every result ORDER BY a unique key in both engines;
  *   - float outputs only where rounded (cosine, 3 decimals).
  */
object SparkEntry {

  /** The planted-copy corpus every sketch/ANN oracle builds on: rows with
    * id < 2000 plus an id-shifted (+10000) EXACT copy of each — the shift
    * and cut are defined once so the invariant queries cannot drift apart.
    * `payload` is the single non-id column carried along (text/embedding).
    */
  private def plantedCopies(s: SparkSession, dir: String, table: String,
                            idCol: String, payload: String): DataFrame = {
    val base = t(s, dir, table).where(col(idCol) < 2000)
      .select(col(idCol), col(payload))
    base.union(base.select((col(idCol) + 10000).as(idCol), col(payload)))
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private val cents: Column => Column = c => round(c * 100).cast("long")

  /** Flagship: the full lakehouse pipeline scan on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q19_lake_scan")(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------
  // text analysis helpers shared by q10-q12 (exact-arithmetic versions
  // whose semantics are reproducible in ANSI SQL)
  // ------------------------------------------------------------------

  /** Tokens of single-space-joined text: length-difference arithmetic (the
    * oracle-parity version of TextMetrics.tokenCount for this corpus).
    */
  private def tokCount(c: Column): Column =
    when(length(c) === 0, 0L)
      .otherwise(length(c) - length(regexp_replace(c, " ", "")) + 1L).cast("long")

  private def tokCountSql(c: String): String =
    s"CASE WHEN length($c)=0 THEN 0 ELSE length($c) - length(replace($c,' ','')) + 1 END"

  /** Occurrences of word `w` in text (space-padded containment count). */
  private def hits(c: Column, w: String): Column = {
    val padded = concat(lit(" "), c, lit(" "))
    val kw = s" $w "
    (length(padded) - length(regexp_replace(padded, java.util.regex.Pattern.quote(kw), "")))
      .cast("double") / kw.length
  }

  private def hitsSql(c: String, w: String): String = {
    val kw = s" $w "
    s"(length(' ' || $c || ' ') - length(replace(' ' || $c || ' ', '$kw', ''))) / ${kw.length}.0"
  }

  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- relational core over the TPC-H-ish tables --------------------
    "q01_agg_filter" -> ((s, d) => {
      t(s, d, "lineitem")
        .where(col("l_shipdate") < to_timestamp(lit("1996-01-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_cents"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q02_topk" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
        .orderBy(col("price_cents").desc, col("o_orderkey").asc)
        .limit(20)),

    "q03_join_agg" -> ((s, d) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer"); val n = t(s, d, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("revenue_cents"))
        .orderBy("n_name")
    }),

    "q04_window" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"))
        .orderBy("o_custkey", "rn")
    }),

    "q05_anti_join" -> ((s, d) => {
      val e = t(s, d, "events")
      val err = e.where(col("event_type") === "error").select("user_id").distinct()
      val buy = e.where(col("event_type") === "purchase").select("user_id").distinct()
      err.join(buy, Seq("user_id"), "left_anti").orderBy("user_id")
    }),

    "q06_sort_limit" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"), col("event_type"), cents(col("value")).as("value_cents"))
        .orderBy(col("event_id"))
        .limit(100)),

    // --- the reference's merge semantics as a query (A1) --------------
    "q07_merge_nonempty" -> ((s, d) => {
      val e = t(s, d, "events")
        .withColumn("p", when(col("event_type") =!= "view", col("props")))
      e.groupBy(col("user_id"))
        .agg(
          graft.ingest.Grouping.lastNonNullWins(col("p"), col("event_id")).as("merged_props"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // --- deduplication -------------------------------------------------
    "q08_dedup_exact" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .select("keeper_id", "n_copies")
        .orderBy("keeper_id")),

    "q09_dedup_prefix" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(substring(col("text"), 1, 40).as("prefix_key"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_near"))
        .where(col("n_near") > 1)
        .select("keeper_id", "n_near")
        .orderBy("keeper_id")),

    // --- text analysis --------------------------------------------------
    "q10_token_stats" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(tokCount(col("text"))).as("total_tokens"),
          sum(length(col("text")).cast("long")).as("total_chars"))
        .orderBy("lang")),

    "q11_quality_filter" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          tokCount(col("text")).as("n_tokens"))
        .where(col("n_chars") < 120 || col("n_tokens") < 24)
        .orderBy("doc_id")),

    "q12_langid" -> ((s, d) => {
      val text = col("text")
      val en = hits(text, "the") + hits(text, "a") + hits(text, "of")
      val fr = hits(text, "le") + hits(text, "la") + hits(text, "et")
      val de = hits(text, "der") + hits(text, "und") + hits(text, "ein")
      t(s, d, "documents")
        .select(col("doc_id"),
          when(en >= fr && en >= de && en > 0, "en")
            .when(fr >= de && fr > 0, "fr")
            .when(de > 0, "de")
            .otherwise("und").as("pred_lang"))
        .orderBy("doc_id")
    }),

    // prefix(256) fingerprint: DuckDB 1.0 generate_series takes only
    // constant bounds, so the oracle joins a constant 1..256 position table.
    // coalesce(..., 0) pins empty/NULL text to fp=0 on BOTH sides (the
    // oracle's LEFT JOIN aggregates no rows there).
    "q13_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          coalesce(TextMetrics.fingerprint(substring(col("text"), 1, 256)), lit(0L))
            .as("fp"))
        .orderBy("doc_id")),

    "q14_jaccard_pairs" -> ((s, d) => {
      val words = t(s, d, "documents").where(col("doc_id") < 100)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w")).distinct()
      val sizes = words.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = words.as("a").join(words.as("b"),
          col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"), col("inter"),
          (col("sa.n") + col("sb.n") - col("inter")).as("uni"))
        .where(col("inter") >= 15)
        .orderBy("doc_a", "doc_b")
    }),

    // --- near-dup sketches, checked by ANSI-SQL-expressible INVARIANTS
    // (the raw xxhash64 fingerprints are not reproducible in DuckDB; the
    // invariants below are — same construction as q16b) ------------------

    // MinHash-LSH recall invariant: in a corpus where every doc has an
    // id-shifted exact copy, EVERY exact-duplicate pair must appear among
    // the LSH candidates (identical text -> identical signature -> shares
    // all bands). The semi-join of the SQL text self-join against the
    // candidates therefore equals the self-join itself; one missed pair
    // breaks the row hash.
    "q15_minhash_lsh" -> ((s, d) => {
      val corpus = plantedCopies(s, d, "documents", "doc_id", "text")
      val cands = Dedup.minhashCandidatePairs(corpus, "doc_id", "text", maxBucket = 5000)
      val exact = corpus.as("x").join(corpus.as("y"),
          col("x.text") === col("y.text") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      exact.join(cands, Seq("id_a", "id_b"), "left_semi")
        .orderBy("id_a", "id_b")
    }),

    // SimHash invariants: (1) THREE independent implementations agree on
    // every doc — the corpus-scale aggregate shape (simhashDf), the per-row
    // Column fold (simhash64), and the native codegen kernel
    // (simhash64Native, the shape the candidate operators run on); (2)
    // exact duplicates get identical fingerprints. Both reduce to constants
    // ANSI SQL can state.
    "q16_simhash" -> ((s, d) => {
      val corpus = plantedCopies(s, d, "documents", "doc_id", "text")
      val agg = Dedup.simhashDf(corpus, "doc_id", "text")
      val colShape = corpus.select(col("doc_id"),
        Dedup.simhash64(col("text")).as("fp64"),
        Dedup.simhash64Native(col("text")).as("fp_nat"))
      val orig = agg.join(colShape, "doc_id").where(col("doc_id") < 10000)
        .select(col("doc_id"), col("simhash"), col("fp64"), col("fp_nat"))
      val copy = agg.where(col("doc_id") >= 10000)
        .select((col("doc_id") - 10000).as("doc_id"), col("simhash").as("fp_copy"))
      orig.join(copy, "doc_id")
        .select(col("doc_id"),
          (col("simhash") === col("fp64") && col("simhash") === col("fp_nat"))
            .cast("int").as("impls_agree"),
          (col("simhash") === col("fp_copy")).cast("int").as("dup_agree"))
        .orderBy("doc_id")
    }),

    // SimHash banded-Hamming candidate join, checked by a RECALL INVARIANT
    // that ANSI SQL can express: a corpus with known exact duplicates
    // (each doc unioned with an id-shifted copy) must yield EVERY exact-dup
    // pair among the simhash candidates — the semi-join result equals the
    // plain SQL self-join on text, so any missed pair breaks the row hash.
    "q16b_simhash_pairs" -> ((s, d) => {
      val corpus = plantedCopies(s, d, "documents", "doc_id", "text")
      val cands = Dedup.simhashCandidatePairs(corpus, "doc_id", "text", maxBucket = 5000)
      val exact = corpus.as("x").join(corpus.as("y"),
          col("x.text") === col("y.text") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      exact.join(cands, Seq("id_a", "id_b"), "left_semi")
        .orderBy("id_a", "id_b")
    }),

    // Near-dup groups via min-id label propagation over the exact-dup pair
    // graph: group_id must equal min(doc_id) over each identical-text group
    // (cliques converge in one round) — plain SQL states that directly.
    "q31_dedup_groups" -> ((s, d) => {
      val docs = t(s, d, "documents").where(col("doc_id") < 2000)
        .select(col("doc_id"), col("text"))
      val pairs = docs.as("x").join(docs.as("y"),
          col("x.text") === col("y.text") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      Dedup.dedupGroups(docs, "doc_id", pairs)
        .orderBy("doc_id")
    }),

    // --- embedding similarity ------------------------------------------
    "q17_cosine_pairs" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      e.as("a").join(e.as("b"), col("a.vec_id") + 1 === col("b.vec_id"))
        .where(col("a.vec_id") < 50)
        .select(col("a.vec_id").as("vec_id"),
          round(VectorOps.cosine(col("a.embedding"), col("b.embedding")), 3).as("cos_next"))
        .orderBy("vec_id")
    }),

    "q18_ann_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      VectorOps.bruteForceTopK(e.where(col("vec_id") < 10), e, "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank"), col("cand_id"))
        .orderBy("query_id", "rank")
    }),

    // ANN-LSH recall invariant: plant an id-shifted exact copy of every
    // vector; a query's copy lands in the same LSH bucket (identical sign
    // pattern) at the maximum cosine, so it MUST be retrieved into the
    // top-k — checkable in plain SQL without reproducing the hyperplanes.
    // Retrieval, not rank #1: if the fixture ever held two identical base
    // embeddings, the copy would TIE at cosine 1.0 and the cand_id
    // tie-break would rank the lower base id first — the retrieval form is
    // the guarantee the operator actually makes, independent of ties.
    "q18b_ann_lsh" -> ((s, d) => {
      val corpus = plantedCopies(s, d, "embeddings", "vec_id", "embedding")
      VectorOps.lshBucketTopK(corpus, "vec_id", "embedding", 5)
        .where(col("query_id") < 50 && col("cand_id") === col("query_id") + 10000)
        .select(col("query_id"), lit(1).as("copy_in_top5"))
        .orderBy("query_id")
    }),

    // Embedding-cosine near-dup GROUPS: ANN candidates above a cosine
    // threshold feed min-id label propagation — the embedding-space
    // equivalent of q31's text dedup. Oracle: with planted exact copies and
    // otherwise well-separated random vectors, the only pairs above the
    // threshold are the copies, so groups equal PARTITION BY embedding.
    "q33_embedding_neardup" -> ((s, d) => {
      val corpus = plantedCopies(s, d, "embeddings", "vec_id", "embedding")
      val cand = VectorOps.lshBucketTopK(corpus, "vec_id", "embedding", 5)
        .where(col("cos") > 0.9999 && col("query_id") < col("cand_id"))
        .select(col("query_id").as("id_a"), col("cand_id").as("id_b"))
      Dedup.dedupGroups(corpus.select("vec_id"), "vec_id", cand)
        .orderBy("vec_id")
    }),

    // IVF ANN (data-adapted cells, the second scale path beside LSH): same
    // planted-copy recall invariant — an exact duplicate assigns to the same
    // nearest centroid as its query, so any nProbe >= 1 probes it and it
    // must be retrieved into the top-5.
    "q32_ann_ivf" -> ((s, d) => {
      val corpus = plantedCopies(s, d, "embeddings", "vec_id", "embedding")
      VectorOps.ivfTopK(corpus, "vec_id", "embedding", 5, nLists = 64, nProbe = 4)
        .where(col("query_id") < 50 && col("cand_id") === col("query_id") + 10000)
        .select(col("query_id"), lit(1).as("copy_in_top5"))
        .orderBy("query_id")
    }),

    // --- the lakehouse maintenance engine (fixture: load -> cluster ->
    // MERGE error-corrections -> cluster; see LakeFixtures) ---
    "q19_lake_scan" -> ((s, d) => {
      val f = LakeFixtures.forDir(s, d)
      f.table.scan().df
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
          col("tool"), unix_micros(col("ts")).as("ts_us"))
        .orderBy("conv_id", "turn_idx")
    }),

    "q20_lake_snapshot_isolation" -> ((s, d) => {
      val f = LakeFixtures.forDir(s, d)
      f.table.scan(snapshotId = Some(f.preMergeSnapshot)).df
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
          col("tool"), unix_micros(col("ts")).as("ts_us"))
        .orderBy("conv_id", "turn_idx")
    }),

    "q21_lake_pruned_scan" -> ((s, d) => {
      val f = LakeFixtures.forDir(s, d)
      f.table.scan(convRange = Some(("u000010", "u000019"))).df
        .select(col("conv_id"), col("turn_idx"), col("text"))
        .orderBy("conv_id", "turn_idx")
    }),

    // SQL-transparent pruned scan: the same result as q21 but planned by
    // the optimizer — spark.sql over a view of the custom GraftTableScan
    // leaf, whose Rule rewrites the BETWEEN into manifest-level pruning.
    "q29_sql_pruned_scan" -> ((s, d) => {
      val f = LakeFixtures.forDir(s, d)
      graft.plans.GraftPlans.install(s)
      graft.plans.GraftPlans.scan(s, f.table).createOrReplaceTempView("transcripts")
      s.sql(
        """SELECT conv_id, turn_idx, text FROM transcripts
          |WHERE conv_id BETWEEN 'u000010' AND 'u000019'
          |ORDER BY conv_id, turn_idx""".stripMargin)
    }),

    // Lake-integrated dedup maintenance: Dedupe.runPass removes every turn
    // whose normalized text duplicates a smaller-keyed turn's, committing
    // the survivors through commitDelta — the scan below reads the PASS'S
    // OUTPUT table, so the oracle (min-key-per-text-partition in SQL)
    // checks the applied deletion, not just a candidate list.
    "q34_dedupe_pass" -> ((s, d) => {
      val f = LakeFixtures.dedupForDir(s, d)
      f.table.scan(snapshotId = Some(f.postDedupeSnapshot)).df
        .select(col("conv_id"), col("turn_idx"))
        .orderBy("conv_id", "turn_idx")
    }),

    // Row-level DELETE FROM (conv range predicate + metadata pruning):
    // pinned snapshot = dedupe survivors minus the deleted conversation
    // range — the oracle applies the same NOT BETWEEN on its keeper set.
    "q37_delete_from" -> ((s, d) => {
      val f = LakeFixtures.dedupForDir(s, d)
      f.table.scan(snapshotId = Some(f.preRetentionSnapshot)).df
        .select(col("conv_id"), col("turn_idx"))
        .orderBy("conv_id", "turn_idx")
    }),

    // Event-time retention DELETE (ts predicate pruned on per-file
    // TIMESTAMP_MICROS stats): current snapshot = q37's survivors minus
    // every turn of the first event-time day — the oracle states the same
    // min(ts)+1d bound over its survivor set.
    "q38_retention_delete" -> ((s, d) => {
      val f = LakeFixtures.dedupForDir(s, d)
      f.table.scan().df.select(col("conv_id"), col("turn_idx"))
        .orderBy("conv_id", "turn_idx")
    }),

    // Conversation-unit dedup: whole conversations whose concatenated
    // normalized text duplicates another's are removed entirely (planted
    // z-prefixed copies of 50 conversations); the survivors must be EXACTLY
    // the original transcripts — one extra or missing row breaks the hash.
    "q36_dedupe_conversations" -> ((s, d) => {
      val t = LakeFixtures.dedupConvForDir(s, d)
      t.scan().df.select(col("conv_id"), col("turn_idx"))
        .orderBy("conv_id", "turn_idx")
    }),

    // SQL time travel: `VERSION AS OF` as a registered view over the
    // custom leaf pinned at the pre-merge snapshot — a pure-SQL user reads
    // the pre-correction table exactly as q20's programmatic scan does
    // (same oracle), while maintenance has long since committed newer
    // snapshots on top.
    "q35_sql_time_travel" -> ((s, d) => {
      val f = LakeFixtures.forDir(s, d)
      graft.plans.GraftPlans.registerAsOf(s, f.table, "transcripts_premerge",
        snapshotId = Some(f.preMergeSnapshot))
      s.sql(
        """SELECT conv_id, turn_idx, role, text, tool, unix_micros(ts) AS ts_us
          |FROM transcripts_premerge
          |ORDER BY conv_id, turn_idx""".stripMargin)
    }),

    // Encryption at rest (Parquet Modular Encryption, uniform AES-GCM):
    // a pruned range scan over the ENCRYPTED lake table must answer
    // byte-identically to plain SQL over the source events — ciphertext on
    // disk, encrypted footers still driving the metadata prune.
    "q39_encrypted_scan" -> ((s, d) => {
      val t = LakeFixtures.encryptedForDir(s, d)
      t.scan(convRange = Some(("u000005", "u000012"))).df
        .select(col("conv_id"), col("turn_idx"), col("text"),
          unix_micros(col("ts")).as("ts_us"))
        .orderBy("conv_id", "turn_idx")
    }),

    // --- adaptive CSV ingest (dialect detect + vertical transpose) ------
    "q22_vertical_ingest" -> ((s, d) => {
      val content = IngestFixtures.verticalKvCsv(s, d)
      val res = graft.ingest.Ingest.parseContent(s, content)
      res.records
        .select(col("event_id"), col("etype"), col("note"))
        .orderBy("event_id")
    }),

    "q23_dialect_ingest" -> ((s, d) => {
      val content = IngestFixtures.semicolonCsv(s, d)
      val res = graft.ingest.Ingest.parseContent(s, content)
      res.records
        .select(col("event_id"), col("etype"), col("note"))
        .orderBy("event_id")
    }),

    // --- sanitization as a standalone projection ------------------------
    "q24_sanitize" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          Sanitize.sanitizeCell(
            when(col("event_type") === "error", concat(lit("=cmd "), col("props")))
              .otherwise(col("props"))).as("clean_text"))
        .orderBy("event_id")
        .limit(500)),

    // --- zorder key as a query (SQL twin: explicit 10-bit interleave) ---
    "q25_zorder_key" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          ZOrder.zorder64(pmod(col("user_id"), lit(1024)).cast("int"),
            pmod(col("event_id"), lit(1024)).cast("int")).as("zkey"))
        .orderBy("event_id")
        .limit(1000)),

    // --- grouping sets / rollup (Catalyst built-in; NULL subtotal rows) --
    "q28_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // --- sessionization (batch twin of the streaming gap rule) -----------
    // The SAME gap semantics SessionStats.sessionize applies statefully;
    // a unit test asserts the streaming path emits exactly these sessions,
    // so this oracle transitively checks the stateful logic too.
    "q30_sessionize_batch" -> ((s, d) => {
      // events.ts is TIMESTAMP_NTZ; cast to TIMESTAMP under the UTC session
      // (same instant DuckDB's epoch_* assigns the naive value)
      val turns = t(s, d, "events")
        .select(concat(lit("u"), lpad(col("user_id").cast("string"), 6, "0")).as("conv_id"),
          col("ts").cast("timestamp").as("ts"))
      graft.streaming.SessionStats.sessionizeBatch(turns, gapMs = 12L * 3600 * 1000)
        .select(col("conv_id"), col("sess_idx"), col("n_turns"),
          unix_micros(col("start_ts")).as("start_us"),
          unix_micros(col("end_ts")).as("end_us"))
        .orderBy("conv_id", "sess_idx")
    }),

    // --- multimodal binary-column plumbing -------------------------------
    "q26_media_meta" -> ((s, d) => {
      val media = graft.functions.Multimodal.fakeMediaFromText(
        t(s, d, "documents"), "doc_id", "text")
      media.select(col("media_id"), col("n_bytes"),
        graft.functions.Multimodal.frameCount(col("content"), 64).as("n_frames"))
        .orderBy("media_id")
    }),

    // explode_outer + count(chunk): an empty payload must yield an
    // (n_chunks=0, total_bytes=0) row, like the oracle, not vanish
    "q27_media_chunks" -> ((s, d) => {
      val media = graft.functions.Multimodal.fakeMediaFromText(
        t(s, d, "documents"), "doc_id", "text")
      media.select(col("media_id"),
          explode_outer(graft.functions.Multimodal.binaryChunks(col("content"), 64)).as("chunk"))
        .groupBy("media_id")
        .agg(count(col("chunk")).as("n_chunks"),
          coalesce(sum(octet_length(col("chunk")).cast("long")), lit(0L)).as("total_bytes"))
        .orderBy("media_id")
    }),
  )

  /** The transcript-ization of events, shared by the lake oracle SQL.
    * `corrected`: post-merge text (error turns corrected) vs pre-merge.
    */
  private def transcriptSql(corrected: Boolean, extra: String = ""): String = {
    val textExpr =
      if (corrected) "CASE WHEN event_type = 'error' THEN 'corrected ' || props ELSE props END"
      else "CASE WHEN event_type = 'error' THEN '''=ALERT ' || props ELSE props END"
    s"""WITH tr AS (
       |  SELECT 'u' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
       |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS turn_idx,
       |         event_type, props, ts
       |  FROM events)
       |SELECT conv_id, turn_idx,
       |       CASE turn_idx % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
       |       $textExpr AS text,
       |       CASE WHEN turn_idx % 3 = 2 THEN event_type END AS tool,
       |       epoch_us(ts) AS ts_us
       |FROM tr $extra ORDER BY conv_id, turn_idx""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q01_agg_filter" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q02_topk" ->
      """SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_cents
        |FROM orders ORDER BY price_cents DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "q03_join_agg" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q04_window" ->
      """SELECT o_custkey, rn, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS rn
        |  FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,

    "q05_anti_join" ->
      """SELECT DISTINCT user_id FROM events e1 WHERE event_type = 'error'
        |AND NOT EXISTS (SELECT 1 FROM events e2
        |  WHERE e2.user_id = e1.user_id AND e2.event_type = 'purchase')
        |ORDER BY user_id""".stripMargin,

    "q06_sort_limit" ->
      """SELECT event_id, event_type, CAST(round(value*100) AS BIGINT) AS value_cents
        |FROM events ORDER BY event_id LIMIT 100""".stripMargin,

    "q07_merge_nonempty" ->
      """SELECT user_id,
        |  arg_max(props, event_id) FILTER (WHERE event_type <> 'view') AS merged_props,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q08_dedup_exact" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS keeper_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin,

    "q09_dedup_prefix" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS keeper_id, CAST(count(*) AS BIGINT) AS n_near
        |FROM documents GROUP BY substring(text, 1, 40)
        |HAVING count(*) > 1 ORDER BY keeper_id""".stripMargin,

    "q10_token_stats" ->
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(${tokCountSql("text")}) AS BIGINT) AS total_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS total_chars
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q11_quality_filter" ->
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(${tokCountSql("text")} AS BIGINT) AS n_tokens
         |FROM documents
         |WHERE length(text) < 120 OR ${tokCountSql("text")} < 24
         |ORDER BY doc_id""".stripMargin,

    "q12_langid" -> {
      def h(w: String) = hitsSql("text", w)
      s"""SELECT doc_id,
         |  CASE WHEN (${h("the")}+${h("a")}+${h("of")}) >= (${h("le")}+${h("la")}+${h("et")})
         |        AND (${h("the")}+${h("a")}+${h("of")}) >= (${h("der")}+${h("und")}+${h("ein")})
         |        AND (${h("the")}+${h("a")}+${h("of")}) > 0 THEN 'en'
         |       WHEN (${h("le")}+${h("la")}+${h("et")}) >= (${h("der")}+${h("und")}+${h("ein")})
         |        AND (${h("le")}+${h("la")}+${h("et")}) > 0 THEN 'fr'
         |       WHEN (${h("der")}+${h("und")}+${h("ein")}) > 0 THEN 'de'
         |       ELSE 'und' END AS pred_lang
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q13_fingerprint" ->
      """WITH pos AS (SELECT i FROM generate_series(1, 256) AS g(i))
        |SELECT d.doc_id, CAST(coalesce(sum(ascii(substring(d.text, p.i, 1)) * ((p.i % 31) + 1)), 0) AS BIGINT) AS fp
        |FROM documents d LEFT JOIN pos p ON p.i <= least(length(d.text), 256)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    "q14_jaccard_pairs" ->
      """WITH words AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE doc_id < 100),
        |sizes AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(i AS BIGINT) AS inter,
        |  CAST(sa.n + sb.n - i AS BIGINT) AS uni
        |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE i >= 15 ORDER BY doc_a, doc_b""".stripMargin,

    // recall invariant: candidates ⊇ exact-dup pairs, so the semi-join
    // equals the plain text self-join
    "q15_minhash_lsh" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 2000
        |  UNION ALL SELECT doc_id + 10000 AS doc_id, text FROM documents
        |  WHERE doc_id < 2000)
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b
        |FROM corpus x JOIN corpus y ON x.text = y.text AND x.doc_id < y.doc_id
        |ORDER BY id_a, id_b""".stripMargin,

    // the invariants hold identically (=1) for every doc: implementation
    // cross-agreement and exact-duplicate fingerprint equality
    "q16_simhash" ->
      """SELECT doc_id, 1 AS impls_agree, 1 AS dup_agree
        |FROM documents WHERE doc_id < 2000 ORDER BY doc_id""".stripMargin,

    "q31_dedup_groups" ->
      """SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS group_id
        |FROM documents WHERE doc_id < 2000 ORDER BY doc_id""".stripMargin,

    // the planted exact copy must be retrieved into the top-5 for every query
    "q18b_ann_lsh" ->
      """SELECT vec_id AS query_id, 1 AS copy_in_top5
        |FROM embeddings WHERE vec_id < 50 ORDER BY query_id""".stripMargin,

    "q32_ann_ivf" ->
      """SELECT vec_id AS query_id, 1 AS copy_in_top5
        |FROM embeddings WHERE vec_id < 50 ORDER BY query_id""".stripMargin,

    // only the planted copies clear the cosine threshold, so near-dup
    // groups equal identical-embedding partitions
    "q33_embedding_neardup" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 2000
        |  UNION ALL SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings
        |  WHERE vec_id < 2000)
        |SELECT vec_id, min(vec_id) OVER (PARTITION BY embedding) AS group_id
        |FROM corpus ORDER BY vec_id""".stripMargin,

    "q16b_simhash_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 2000
        |  UNION ALL SELECT doc_id + 10000 AS doc_id, text FROM documents
        |  WHERE doc_id < 2000)
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b
        |FROM corpus x JOIN corpus y ON x.text = y.text AND x.doc_id < y.doc_id
        |ORDER BY id_a, id_b""".stripMargin,

    // brute-force ANN: ranking computed on full-precision doubles in both
    // engines (explicit CASTs keep DuckDB off float32 arithmetic); output
    // is rank+id only — ranks are stable because random 64-dim cosines are
    // well separated, and ties break on cand_id in both engines.
    "q18_ann_topk" ->
      """WITH pos AS (SELECT i FROM generate_series(1, 64) AS g(i)),
        |dots AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    sum(CAST(list_extract(q.embedding, p.i) AS DOUBLE) * CAST(list_extract(c.embedding, p.i) AS DOUBLE)) AS ab,
        |    sum(CAST(list_extract(q.embedding, p.i) AS DOUBLE) * CAST(list_extract(q.embedding, p.i) AS DOUBLE)) AS aa,
        |    sum(CAST(list_extract(c.embedding, p.i) AS DOUBLE) * CAST(list_extract(c.embedding, p.i) AS DOUBLE)) AS bb
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  CROSS JOIN pos p WHERE q.vec_id < 10 GROUP BY 1, 2),
        |ranked AS (
        |  SELECT query_id, cand_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY ab / (sqrt(aa) * sqrt(bb)) DESC, cand_id ASC) AS INT) AS rnk
        |  FROM dots)
        |SELECT query_id, rnk AS "rank", cand_id FROM ranked
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    "q17_cosine_pairs" ->
      """WITH pos AS (SELECT i FROM generate_series(1, 64) AS g(i)),
        |dots AS (
        |  SELECT a.vec_id,
        |    sum(list_extract(a.embedding, p.i) * list_extract(b.embedding, p.i)) AS ab,
        |    sum(list_extract(a.embedding, p.i) * list_extract(a.embedding, p.i)) AS aa,
        |    sum(list_extract(b.embedding, p.i) * list_extract(b.embedding, p.i)) AS bb
        |  FROM embeddings a JOIN embeddings b ON a.vec_id + 1 = b.vec_id
        |  CROSS JOIN pos p WHERE a.vec_id < 50 GROUP BY a.vec_id)
        |SELECT vec_id, round(ab / (sqrt(aa) * sqrt(bb)), 3) AS cos_next
        |FROM dots ORDER BY vec_id""".stripMargin,

    "q19_lake_scan" -> transcriptSql(corrected = true),
    "q20_lake_snapshot_isolation" -> transcriptSql(corrected = false),
    // SQL VERSION AS OF view == the programmatic pinned scan (q20)
    "q35_sql_time_travel" -> transcriptSql(corrected = false),

    // conversation-unit dedup removes exactly the planted copies, so the
    // survivors are the plain transcript row set
    "q36_dedupe_conversations" ->
      """WITH tr AS (
        |  SELECT 'u' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
        |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS turn_idx
        |  FROM events)
        |SELECT conv_id, turn_idx FROM tr ORDER BY conv_id, turn_idx""".stripMargin,

    // DELETE FROM survivors = the dedupe keepers minus the deleted range
    "q37_delete_from" ->
      """WITH tr AS (
        |  SELECT 'u' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
        |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS turn_idx,
        |         CASE WHEN event_type = 'error' THEN '''=ALERT ' || props ELSE props END AS text
        |  FROM events),
        |n AS (
        |  SELECT conv_id, turn_idx,
        |         regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g') AS tn
        |  FROM tr),
        |k AS (
        |  SELECT conv_id, turn_idx, tn,
        |         row_number() OVER (PARTITION BY tn ORDER BY conv_id, turn_idx) AS rn
        |  FROM n)
        |SELECT conv_id, turn_idx FROM k
        |WHERE (tn = '' OR rn = 1)
        |  AND conv_id NOT BETWEEN 'u000100' AND 'u000119'
        |ORDER BY conv_id, turn_idx""".stripMargin,

    // retention survivors = q37's set minus the first event-time day
    "q38_retention_delete" ->
      """WITH tr AS (
        |  SELECT 'u' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
        |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS turn_idx,
        |         CASE WHEN event_type = 'error' THEN '''=ALERT ' || props ELSE props END AS text,
        |         ts
        |  FROM events),
        |n AS (
        |  SELECT conv_id, turn_idx, ts,
        |         regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g') AS tn
        |  FROM tr),
        |k AS (
        |  SELECT conv_id, turn_idx, ts, tn,
        |         row_number() OVER (PARTITION BY tn ORDER BY conv_id, turn_idx) AS rn
        |  FROM n),
        |surv AS (
        |  SELECT conv_id, turn_idx, ts FROM k
        |  WHERE (tn = '' OR rn = 1)
        |    AND conv_id NOT BETWEEN 'u000100' AND 'u000119')
        |SELECT conv_id, turn_idx FROM surv
        |WHERE ts >= (SELECT min(ts) + INTERVAL 1 DAY FROM surv)
        |ORDER BY conv_id, turn_idx""".stripMargin,

    // survivors of the dedupe pass = the min-(conv_id,turn_idx) row of
    // every identical-normalized-text partition (empty texts all survive)
    "q34_dedupe_pass" ->
      """WITH tr AS (
        |  SELECT 'u' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
        |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS turn_idx,
        |         CASE WHEN event_type = 'error' THEN '''=ALERT ' || props ELSE props END AS text
        |  FROM events),
        |n AS (
        |  SELECT conv_id, turn_idx,
        |         regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g') AS tn
        |  FROM tr),
        |k AS (
        |  SELECT conv_id, turn_idx, tn,
        |         row_number() OVER (PARTITION BY tn ORDER BY conv_id, turn_idx) AS rn
        |  FROM n)
        |SELECT conv_id, turn_idx FROM k WHERE tn = '' OR rn = 1
        |ORDER BY conv_id, turn_idx""".stripMargin,
    "q21_lake_pruned_scan" ->
      """WITH tr AS (
        |  SELECT 'u' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
        |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS turn_idx,
        |         event_type, props
        |  FROM events)
        |SELECT conv_id, turn_idx,
        |  CASE WHEN event_type = 'error' THEN 'corrected ' || props ELSE props END AS text
        |FROM tr WHERE conv_id BETWEEN 'u000010' AND 'u000019'
        |ORDER BY conv_id, turn_idx""".stripMargin,

    // same oracle as q21: the SQL path must agree with the programmatic scan
    "q29_sql_pruned_scan" ->
      """WITH tr AS (
        |  SELECT 'u' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
        |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS turn_idx,
        |         event_type, props
        |  FROM events)
        |SELECT conv_id, turn_idx,
        |  CASE WHEN event_type = 'error' THEN 'corrected ' || props ELSE props END AS text
        |FROM tr WHERE conv_id BETWEEN 'u000010' AND 'u000019'
        |ORDER BY conv_id, turn_idx""".stripMargin,

    // encrypted-table scan == plain SQL over the source (pre-merge text)
    "q39_encrypted_scan" ->
      """WITH tr AS (
        |  SELECT 'u' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
        |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS turn_idx,
        |         event_type, props, ts
        |  FROM events)
        |SELECT conv_id, turn_idx,
        |  CASE WHEN event_type = 'error' THEN '''=ALERT ' || props ELSE props END AS text,
        |  epoch_us(ts) AS ts_us
        |FROM tr WHERE conv_id BETWEEN 'u000005' AND 'u000012'
        |ORDER BY conv_id, turn_idx""".stripMargin,

    "q22_vertical_ingest" -> IngestFixtures.verticalOracleSql,
    "q23_dialect_ingest" -> IngestFixtures.semicolonOracleSql,

    // zorder64 semantics in plain arithmetic: bit i of the first (10-bit)
    // key lands at position 2i+1, bit i of the second at 2i (Morton.scala).
    "q25_zorder_key" -> {
      val terms = (0 until 10).flatMap { i => Seq(
        s"(((user_id % 1024) >> $i) & 1) * ${1L << (2 * i + 1)}",
        s"(((event_id % 1024) >> $i) & 1) * ${1L << (2 * i)}")
      }
      s"""SELECT event_id, CAST(${terms.mkString(" + ")} AS BIGINT) AS zkey
         |FROM events ORDER BY event_id LIMIT 1000""".stripMargin
    },

    "q24_sanitize" ->
      """SELECT event_id,
        |  CASE WHEN event_type = 'error' THEN '''=cmd ' || props ELSE props END AS clean_text
        |FROM events ORDER BY event_id LIMIT 500""".stripMargin,

    "q28_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q30_sessionize_batch" ->
      """WITH g AS (
        |  SELECT 'u' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events),
        |m AS (
        |  SELECT conv_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |           OR epoch_ms(ts) - epoch_ms(prev_ts) > 43200000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |sx AS (
        |  SELECT conv_id, ts,
        |    sum(new_sess) OVER (PARTITION BY conv_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sess_idx
        |  FROM m)
        |SELECT conv_id, CAST(sess_idx AS BIGINT) AS sess_idx,
        |  CAST(count(*) AS BIGINT) AS n_turns,
        |  epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
        |FROM sx GROUP BY conv_id, sess_idx
        |ORDER BY conv_id, sess_idx""".stripMargin,

    "q26_media_meta" ->
      """SELECT doc_id AS media_id, CAST(length(text) AS BIGINT) AS n_bytes,
        |  CAST(ceil(length(text) / 64.0) AS BIGINT) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin,

    "q27_media_chunks" ->
      """SELECT doc_id AS media_id,
        |  CAST(least(ceil(length(text) / 64.0), 64) AS BIGINT) AS n_chunks,
        |  CAST(least(length(text), 64*64) AS BIGINT) AS total_bytes
        |FROM documents ORDER BY media_id""".stripMargin,
  )
}
