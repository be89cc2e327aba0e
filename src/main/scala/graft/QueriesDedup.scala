package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api._
import graft.sources.Tables
import graft.Queries._
import graft.functions.TextFunctions._
import graft.operators.{Blocklist, Bm25, Corpus, Dedup, Diagnostics, FpStore, Layout, Multimodal, Outliers, Pack, RangeJoin, Sampling, Similarity}

/** Deduplication surface: exact/incremental dedup, the LSH candidate
  * families (MinHash/SimHash/winnow/edit/embedding), transitive
  * clustering, and decontamination.
  *
  * One ledger family of [[Queries.all]] (oracle-parity rules documented
  * there); assembled and key-set-ratcheted by SparkEntry/EntrySuite. */
private[graft] object QueriesDedup {

  /** Fraction of `documents` the exact-eval harness entries run on
    * (deterministic `Sampling.evalSample` bound, oracle-replayed via
    * `OracleSql.evalSampleWhere`). The truth side of these harnesses is
    * inherently pairwise — the correct 100 TB posture is a bounded
    * sample (each operator's scaladoc), and the ledger eats its own
    * dog food: 0.4 keeps ~2k docs at the bench scale (pair work ≈ 16%
    * of unbounded) while the sf0.01 correctness slice (~200 docs) still
    * carries a meaningful truth-pair population. */
  private val EvalFrac = 0.4

  val queries: Map[String, Q] = Map(


      // exact dedup: deterministic survivor per fingerprint + dup count
      "q_dedup_exact" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.exact(Tables.df(s, dir, "documents"), "text", "doc_id")
            .select(col("doc_id"), col("fp"), col("n_dups")))
          .arrange("doc_id").df),


      // incremental (ingestion-time) exact dedup: new batch (doc_id >=
      // 400) against the historical corpus (doc_id < 400) — drop already-
      // known fingerprints, keep-first within the batch
      "q_dedup_incr" -> ((s: SparkSession, dir: String) => {
        val docs = Tables.df(s, dir, "documents")
        graft.api.DataTable(
          Dedup.exactIncremental(
            docs.filter(col("doc_id") >= 400),
            docs.filter(col("doc_id") < 400), "text", "doc_id")
            .select(col("doc_id"), col("fp")))
          .arrange("doc_id").df
      }),


      // the maintained-store ingestion chain (FpStore scaladoc): corpus
      // fps seed the store; TWO successive batches are each screened
      // against the store state their predecessors left (batch-2 text
      // already admitted in batch 1 is dropped by the appended delta,
      // not by rescanning anything), survivors land in the clean-corpus
      // parquet sink and their fps append; a final compact folds the
      // three deltas. Output = the sink read back, tagged per batch.
      "q_dedup_incr_store" -> ((s: SparkSession, dir: String) => {
        val store = roundtripDir("fpstore", dir)
        val sink = roundtripDir("fpstore_sink", dir)
        FpStore.destroy(store)
        val docs = Tables.df(s, dir, "documents")
        FpStore.create(s, store,
          docs.filter(col("doc_id") % 4 < 2)
            .select(fingerprint(col("text")).as("fp")))
        def ingest(batch: DataFrame, tag: String): Unit = {
          Dedup.exactIncrementalAgainstFps(batch, "text", "doc_id",
              FpStore.read(s, store), "fp")
            .select(col("doc_id"), col("fp"))
            .write.mode("overwrite").parquet(s"$sink/$tag")
          FpStore.append(s, store, Tables.parquet(s, s"$sink/$tag"))
        }
        ingest(docs.filter(col("doc_id") % 4 === 2), "b1")
        ingest(docs.filter(col("doc_id") % 4 === 3), "b2")
        FpStore.compact(s, store)
        graft.api.DataTable(
          Tables.parquet(s, s"$sink/b1").withColumn("batch", lit(1L))
            .unionByName(Tables.parquet(s, s"$sink/b2").withColumn("batch", lit(2L))))
          .arrange("doc_id").df
      }),


      // end-to-end near-dup removal: corpus in, cleaned corpus out
      // (greedy larger-id-loses policy over MinHash candidates)
      "q_dedup_near" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.dedupByMinhash(Tables.df(s, dir, "documents"),
            "text", "doc_id", minEstJaccard = 0.5)
            .select(col("doc_id")))
          .arrange("doc_id").df),


      // quality-aware near-dup removal: each near-dup cluster keeps its
      // LONGEST member (n_chars desc, ties -> smallest id) instead of the
      // smallest id — the keep-the-best-variant policy a crawl dedup
      // actually wants; window runs over pair members only, the corpus
      // never shuffles
      "q_dedup_keep_best" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.dedupNearKeepBest(Tables.df(s, dir, "documents"),
            "text", "doc_id", "n_chars", minEstJaccard = 0.5)
            .select(col("doc_id")))
          .arrange("doc_id").df),


      // incremental SimHash screen: the batch (doc_id >= 400) dropped
      // within Hamming 8 of ANY stored corpus doc sharing a 12-bit
      // chunk bucket, then greedy keep-one within the batch — the
      // Hamming-metric twin of q_dedup_incr_near
      "q_dedup_incr_simhash" -> ((s: SparkSession, dir: String) => {
        val docs = Tables.df(s, dir, "documents")
        graft.api.DataTable(
          Dedup.simhashIncremental(
            docs.filter(col("doc_id") >= 400),
            docs.filter(col("doc_id") < 400),
            "text", "doc_id", maxHamming = 8)
            .select(col("doc_id")))
          .arrange("doc_id").df
      }),


      // incremental NEAR-dup ingestion: the batch (doc_id >= 400) is
      // screened against the historical corpus's LSH band store (any
      // est-Jaccard >= 0.5 witness drops the doc), then greedy keep-one
      // within the batch — exactIncremental's fuzzy twin; the corpus is
      // scanned once and never rewritten
      "q_dedup_incr_near" -> ((s: SparkSession, dir: String) => {
        val docs = Tables.df(s, dir, "documents")
        graft.api.DataTable(
          Dedup.minhashIncremental(
            docs.filter(col("doc_id") >= 400),
            docs.filter(col("doc_id") < 400),
            "text", "doc_id", minEstJaccard = 0.5)
            .select(col("doc_id")))
          .arrange("doc_id").df
      }),


      // dedup impact report: cluster-size histogram + projected shrink
      // (n_dropped per size bucket) — the decide-before-you-run
      // diagnostic for a near-dedup pass
      "q_dedup_impact" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.dedupImpact(Tables.df(s, dir, "documents"),
            "text", "doc_id", minEstJaccard = 0.5))
          .arrange("cluster_size").df),


      // transitive near-dup clustering: connected components over the
      // MinHash candidate graph; every doc labeled with the min id of its
      // component (iterative min-label propagation; recursive-CTE oracle)
      "q_dedup_cluster" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.clusterByMinhash(Tables.df(s, dir, "documents"),
            "text", "doc_id", minEstJaccard = 0.5)
            .select(col("doc_id"), col("cluster_id")))
          .arrange("doc_id").df),


      // containment annotation: winnow copied-span candidates with exact
      // word-shingle intersections and integer-percent containments both
      // ways — the subset-duplication (quote/wrapper) detector that
      // Jaccard banding structurally cannot surface
      "q_containment_pairs" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.containmentPairs(Tables.df(s, dir, "documents"),
            "text", "doc_id"))
          .arrange("id_a", "id_b").df),


      // MinHash-LSH near-dup candidates (exact oracle: md5-derived hashes)
      "q_minhash_pairs" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.minhashCandidates(Tables.df(s, dir, "documents"),
            "text", "doc_id", minEstJaccard = 0.3))
          .arrange("id_a", "id_b").df),


      // cross-source near-dup overlap matrix: which sources duplicate
      // each other (|sources|^2-bounded report over the capped pair
      // graph) — the pre-flight for cross-dump dedup ordering
      "q_source_overlap" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.sourceOverlapMatrix(Tables.df(s, dir, "documents"),
            "text", "doc_id", "source"))
          .arrange("source_a", "source_b").df),


      // exact set-similarity join: every Jaccard >= 0.5 pair with exact
      // counts, prefix-filtered (rarest-first index) so the plan never
      // pays the hot-shingle quadratic; oracle is the NAIVE spelling —
      // the pruned plan must reproduce it exactly. Ledger runs under the
      // deterministic eval bound (the bounded-sample posture the
      // operator's scaladoc prescribes — truth output is inherently
      // pairwise, so the HARNESS input is what gets bounded, not the
      // operator); the oracle replays the identical predicate.
      "q_jaccard_join" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.jaccardSimilarityJoin(
            Sampling.evalSample(Tables.df(s, dir, "documents"),
              "doc_id", EvalFrac),
            "text", "doc_id"))
          .arrange("id_a", "id_b").df),


      // two-table similarity join (entity matching): even-id docs vs
      // odd-id docs under ONE shared rare-first order (same eval bound)
      "q_jaccard_join_ab" -> ((s: SparkSession, dir: String) => {
        val d = Sampling.evalSample(Tables.df(s, dir, "documents"),
          "doc_id", EvalFrac)
        graft.api.DataTable(
          Dedup.jaccardSimilarityJoinAB(
            d.filter(col("doc_id") % 2 === 0),
            d.filter(col("doc_id") % 2 === 1),
            "text", "doc_id"))
          .arrange("id_a", "id_b").df
      }),


      // LSH recall harness: exact-Jaccard truth pairs (tau 0.5) flagged
      // with whether the production banding config recovers them — the
      // number to check before trusting (k, bands, minEst) on a corpus.
      // Runs on the deterministic eval sample (truth side is pairwise;
      // candidates come from the UNCHANGED production banding path over
      // the same bound, so recall semantics are intact).
      "q_minhash_recall" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.minhashRecallEval(
            Sampling.evalSample(Tables.df(s, dir, "documents"),
              "doc_id", EvalFrac),
            "text", "doc_id"))
          .arrange("id_a", "id_b").df),


      // precision twin: every candidate at the permissive 0.3 est cut,
      // annotated with exact Jaccard — SUM(is_true)/COUNT(*) is the
      // config's precision (0.3 admits real false positives to measure)
      "q_minhash_precision" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.minhashPrecisionEval(Tables.df(s, dir, "documents"),
            "text", "doc_id", minEstJaccard = 0.3))
          .arrange("id_a", "id_b").df),


      // SimHash recall vs the same exact-Jaccard truth: the cross-metric
      // number to compare against q_minhash_recall before picking a
      // screen (SimHash approximates cosine, not Jaccard); same eval
      // bound as its MinHash twin so the two numbers stay comparable
      "q_simhash_recall" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.simhashRecallEval(
            Sampling.evalSample(Tables.df(s, dir, "documents"),
              "doc_id", EvalFrac),
            "text", "doc_id"))
          .arrange("id_a", "id_b").df),


      // SimHash near-dup candidates (exact oracle: md5-derived hashes)
      "q_simhash_pairs" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.simhashCandidates(Tables.df(s, dir, "documents"),
            "text", "doc_id", maxHamming = 8))
          .arrange("id_a", "id_b").df),


      // edit-distance similarity join over normalized 32-char prefixes
      // (gram-prefilter + levenshtein verify; oracle replays the filter)
      "q_edit_pairs" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.editDistancePairs(
            Tables.df(s, dir, "documents").filter(col("doc_id") < 60)
              .withColumn("prefix",
                substring(normalizeText(col("text")), 1, 32)),
            "prefix", "doc_id", maxDist = 16))
          .arrange("id_a", "id_b").df),


      // embedding near-dup pairs via hyperplane LSH (exact oracle:
      // md5-derived planes replayed as literal constants in the SQL)
      "q_embed_dedup" -> ((s: SparkSession, dir: String) => {
        val emb = Tables.df(s, dir, "embeddings")
        // random synthetic embeddings cluster near cosine 0 — a low
        // threshold keeps the candidate path exercised in the gate. The
        // plane count is CORPUS-SIZE-DERIVED (r20): smallest p in [6,16]
        // with 2^p·8 ≥ N, i.e. ~8 vectors/bucket at any scale — at
        // sf0.01 (N=500) this is the original 6 planes (ledger hash
        // unchanged); at sf10 (N=500k) it is 16 planes, where the fixed
        // 6-plane fixture had every one of its 64 buckets over the cap
        // and the compare was vacuous at empty. hashPlanes is prefix-
        // stable in p, so the oracle carries all 16 sign terms and
        // gates them on the same integer-derived p.
        val p = graft.functions.VectorFunctions.lshPlanesFor(emb.count())
        graft.api.DataTable(
          Dedup.embeddingCandidates(emb,
            "embedding", "vec_id", dim = 64, numPlanes = p, minCosine = 0.2))
          .arrange("id_a", "id_b").df
      }),


      // SemDeDup: trained k-means cells as the blocking key, greedy
      // larger-id-loses survivors carrying their cell (same low
      // threshold rationale as q_embed_dedup; k = 64 cells over the
      // 500-2000-vector table keeps cells tens of members wide)
      "q_semantic_dedup" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.semanticDedup(Tables.df(s, dir, "embeddings"),
            "embedding", "vec_id", k = 64, iters = 1, minCosine = 0.2))
          .arrange("vec_id").df),


      // winnowing fingerprints (MOSS): k=5 char grams, window w=4 — ONE
      // codegen'd kernel call per row (WinnowText), aliased so the
      // stringify projection reads the computed array
      "q_winnow" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Tables.df(s, dir, "documents")
            .select(col("doc_id"), winnowFingerprints(col("text"), 5, 4).as("__fps"))
            .select(col("doc_id"),
              size(col("__fps")).cast("long").as("n_fp"),
              array_join(transform(col("__fps"), x => x.cast("string")), ",")
                .as("fps")))
          .arrange("doc_id").df),


      // winnowing near-dup candidate pairs (MOSS): docs sharing >= 4
      // fingerprints at k=12/w=8 — every shared substring of >= 19 chars
      // forces a shared fingerprint, so surviving pairs carry long
      // verbatim blocks (3.5k pairs at sf0.01; param sweep in PLANS.md)
      "q_winnow_pairs" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.winnowCandidates(Tables.df(s, dir, "documents"),
            "text", "doc_id", k = 12, w = 8, bucketCap = 64, minShared = 4L))
          .arrange("id_a", "id_b").df),


      // winnow copied-span clusters: connected components over the winnow
      // pair graph (same parameters as q_winnow_pairs); every doc labeled
      // with the min id of its quote/boilerplate family
      "q_winnow_cluster" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Dedup.clusterByWinnow(Tables.df(s, dir, "documents"),
            "text", "doc_id", k = 12, w = 8, bucketCap = 64, minShared = 4L)
            .select(col("doc_id"), col("cluster_id")))
          .arrange("doc_id").df),


      // ingest-time winnow screen: new batch (doc_id >= 400) vs the
      // existing corpus fingerprint set. Set-level counting is far more
      // aggressive than pairwise (the synthetic corpus shares heavy
      // boilerplate — new-doc hit counts run 6..112, median 40), so the
      // threshold sits at the median: ~half screened, ~half survive
      "q_winnow_incr" -> ((s: SparkSession, dir: String) => {
        val docs = Tables.df(s, dir, "documents")
        graft.api.DataTable(
          Dedup.winnowIncremental(
            docs.filter(col("doc_id") >= 400),
            docs.filter(col("doc_id") < 400),
            "text", "doc_id", k = 12, w = 8, minShared = 40L))
          .arrange("doc_id").df
      }),


      // the same screen through the SCAN-LOCAL tier (kernel fingerprints
      // + plan-embedded sorted store, no join/shuffle — the streaming
      // shape) — hash-checked against the IDENTICAL oracle as
      // q_winnow_incr, so the kernel path is verified end-to-end
      "q_winnow_incr_scan" -> ((s: SparkSession, dir: String) => {
        val docs = Tables.df(s, dir, "documents")
        graft.api.DataTable(
          Dedup.winnowIncrementalTiered(
            docs.filter(col("doc_id") >= 400),
            docs.filter(col("doc_id") < 400),
            "text", "doc_id", k = 12, w = 8, minShared = 40L))
          .arrange("doc_id").df
      }),


      // benchmark decontamination: drop training docs sharing any word
      // 5-gram with a held-out 20% benchmark slice (GPT-3-style exact
      // n-gram overlap filter; hash48 shingles replay in DuckDB)
      "q_decontam" -> ((s: SparkSession, dir: String) => {
        val docs = Tables.df(s, dir, "documents")
        val isBench =
          Sampling.hashBucket(col("doc_id"), "bench", 7L) < lit(200000L)
        graft.api.DataTable(
          Dedup.decontaminate(docs.filter(!isBench), docs.filter(isBench),
            "text", "doc_id", n = 5)
            .select(col("doc_id")))
          .arrange("doc_id").df
      }),


      // contamination REPORT: per-doc distinct-5-gram overlap counts vs
      // the bench split (the auditing twin of q_decontam's filter —
      // Dedup.contaminationScore scaladoc; kernel fast path)
      "q_contamination" -> ((s: SparkSession, dir: String) => {
        val docs = Tables.df(s, dir, "documents")
        graft.api.DataTable(
          Dedup.contaminationScore(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0),
            "text", "doc_id", n = 5))
          .arrange("doc_id").df
      })
  )

  val oracles: Map[String, String] = Map(


    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  COUNT(*) AS n_dups
        |FROM documents GROUP BY fp ORDER BY doc_id""".stripMargin,


    "q_dedup_incr" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |known AS (SELECT DISTINCT fp FROM f WHERE doc_id < 400),
        |batch AS (SELECT * FROM f WHERE doc_id >= 400)
        |SELECT min(doc_id) AS doc_id, fp FROM batch
        |WHERE fp NOT IN (SELECT fp FROM known)
        |GROUP BY fp ORDER BY doc_id""".stripMargin,

    // the chained two-batch replay: batch 1 screens against the corpus
    // fp set, batch 2 against corpus ∪ batch-1 survivors — exactly the
    // store state each ingest saw
    "q_dedup_incr_store" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |k0 AS (SELECT DISTINCT fp FROM f WHERE doc_id % 4 < 2),
        |-- NOT EXISTS, not NOT IN: Spark's left_anti keeps a null-fp
        |-- probe row, while NOT IN's three-valued logic would drop it
        |-- (or empty the batch if a null entered the known set)
        |b1 AS (
        |  SELECT min(doc_id) AS doc_id, fp FROM f b
        |  WHERE doc_id % 4 = 2
        |    AND NOT EXISTS (SELECT 1 FROM k0 WHERE k0.fp = b.fp)
        |  GROUP BY fp),
        |k1 AS (SELECT fp FROM k0 UNION SELECT fp FROM b1),
        |b2 AS (
        |  SELECT min(doc_id) AS doc_id, fp FROM f b
        |  WHERE doc_id % 4 = 3
        |    AND NOT EXISTS (SELECT 1 FROM k1 WHERE k1.fp = b.fp)
        |  GROUP BY fp)
        |SELECT doc_id, fp, 1::BIGINT AS batch FROM b1
        |UNION ALL
        |SELECT doc_id, fp, 2::BIGINT AS batch FROM b2
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_near" -> OracleSql.minhashSurvivors(),

    "q_dedup_keep_best" -> OracleSql.minhashKeepBest("n_chars"),

    "q_dedup_incr_simhash" -> OracleSql.simhashIncremental(splitId = 400L),

    "q_dedup_incr_near" -> OracleSql.minhashIncremental(splitId = 400L),

    "q_containment_pairs" -> OracleSql.containmentPairs(),

    "q_dedup_impact" -> OracleSql.dedupImpact(),

    "q_dedup_cluster" -> OracleSql.minhashClusters(),


    // generated from the same constants the Spark plans embed — OracleSql
    "q_minhash_pairs" -> OracleSql.minhashPairs(),

    "q_source_overlap" -> OracleSql.sourceOverlap(),

    "q_jaccard_join" -> OracleSql.jaccardJoin(
      where = OracleSql.evalSampleWhere(EvalFrac)),

    "q_jaccard_join_ab" -> OracleSql.jaccardJoinAB(
      s"WHERE doc_id % 2 = 0 AND ${OracleSql.evalSampleWhere(EvalFrac)}",
      s"WHERE doc_id % 2 = 1 AND ${OracleSql.evalSampleWhere(EvalFrac)}"),

    "q_minhash_recall" -> OracleSql.minhashRecall(
      where = OracleSql.evalSampleWhere(EvalFrac)),

    "q_minhash_precision" -> OracleSql.minhashPrecision(minEstJaccard = 0.3),

    "q_simhash_recall" -> OracleSql.simhashRecall(
      where = OracleSql.evalSampleWhere(EvalFrac)),

    "q_simhash_pairs" -> OracleSql.simhashPairs(),


    "q_edit_pairs" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    substring(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 32) AS s
        |  FROM documents WHERE doc_id < 60),
        |g AS (
        |  SELECT doc_id, s, unnest(list_distinct(
        |    CASE WHEN length(s) <= 4 THEN [s]
        |         ELSE list_transform(range(0, length(s) - 3),
        |                i -> substring(s, CAST(i + 1 AS INT), 4)) END)) AS gr
        |  FROM t),
        |ok AS (SELECT gr FROM g GROUP BY gr HAVING COUNT(*) BETWEEN 2 AND 256),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS s_a, b.s AS s_b
        |  FROM g a JOIN g b ON a.gr = b.gr AND a.doc_id < b.doc_id
        |  JOIN ok ON ok.gr = a.gr)
        |SELECT id_a, id_b, levenshtein(s_a, s_b)::BIGINT AS dist
        |FROM pairs
        |WHERE abs(length(s_a) - length(s_b)) <= 16 AND levenshtein(s_a, s_b) <= 16
        |ORDER BY id_a, id_b""".stripMargin,

    "q_embed_dedup" -> OracleSql.embedDedup(),
    "q_semantic_dedup" -> OracleSql.semanticDedup(),


    // winnowing fingerprints: normalize → char-k-gram hash48 → window
    // minima, one generator shared with the pairs/clusters oracles so the
    // md5 replay is spelled in exactly one place
    "q_winnow" -> OracleSql.winnowFingerprints(5, 4),


    // winnow pairs: same fingerprint replay as q_winnow at k=12/w=8, then
    // the LSH bucket stage as a self-join restricted to [2, bucketCap]
    // buckets, pair counts >= minShared
    "q_winnow_pairs" -> OracleSql.winnowPairs(12, 8, 64, 4L),


    // winnow copied-span clusters: recursive-CTE transitive closure over
    // the winnow pair graph, min-id component labels
    "q_winnow_cluster" -> OracleSql.winnowClusters(12, 8, 64, 4L),


    // ingest-time winnow screen survivors (new = doc_id >= 400)
    "q_winnow_incr" -> OracleSql.winnowIncremental(12, 8, 40L, 400L),


    // scan-local tier, same truth: the oracle is deliberately identical
    "q_winnow_incr_scan" -> OracleSql.winnowIncremental(12, 8, 40L, 400L),


    "q_decontam" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
        |    ('0x' || substring(md5('graft_bench_7_' || doc_id), 1, 12))::BIGINT
        |      % 1000000 < 200000 AS is_bench
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, is_bench, unnest(
        |    CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(0, len(toks) - 4),
        |                i -> array_to_string(toks[i+1:i+5], ' ')) END) AS g
        |  FROM d),
        |bh AS (SELECT DISTINCT ('0x' || substring(md5(g), 1, 12))::BIGINT AS h
        |       FROM sh WHERE is_bench),
        |bad AS (SELECT DISTINCT doc_id
        |        FROM sh JOIN bh ON ('0x' || substring(md5(g), 1, 12))::BIGINT = bh.h
        |        WHERE NOT is_bench)
        |SELECT doc_id FROM d
        |WHERE NOT is_bench AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,


    // contamination score: distinctness on the 48-bit HASH (not the
    // gram) so any md5 collision counts once in both engines
    "q_contamination" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
        |    doc_id % 10 = 0 AS is_bench
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, is_bench, unnest(
        |    CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(0, len(toks) - 4),
        |                i -> array_to_string(toks[i+1:i+5], ' ')) END) AS g
        |  FROM d),
        |dh AS (
        |  SELECT DISTINCT doc_id, is_bench,
        |    ('0x' || substring(md5(g), 1, 12))::BIGINT AS h
        |  FROM sh),
        |bh AS (SELECT DISTINCT h FROM dh WHERE is_bench)
        |SELECT dh.doc_id,
        |  COUNT(*)::BIGINT AS n_shingles,
        |  SUM(CASE WHEN bh.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
        |  SUM(CASE WHEN bh.h IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated
        |FROM dh LEFT JOIN bh ON dh.h = bh.h
        |WHERE NOT is_bench
        |GROUP BY dh.doc_id
        |ORDER BY dh.doc_id""".stripMargin
  )
}
