package graft

import graft.etl.MusicKpis
import graft.functions.Text
import graft.operators.{Dedup, GroupTop, Mixture, Similarity}
import graft.quality.Checks
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one named query per implemented operator (SURVEY.md §2
  * plus the training-data-pipeline extensions), each with a DuckDB oracle
  * where the semantics are ANSI-SQL-expressible.
  *
  * Cross-engine determinism rules used throughout (so the driver's
  * hash-compare is stable):
  *  - every aggregate / computed column is aliased identically here and in
  *    the oracle SQL;
  *  - floating-point aggregates are rounded on BOTH sides (sum order differs
  *    across engines by ~1 ulp; rounding absorbs it);
  *  - every ranking is ordered by (rounded measure, id) — never by a raw
  *    float alone.
  */
object SparkEntry {

  // ---- ANN / probabilistic-dedup configurations ----
  // Single source of truth for BOTH the registered query and its generated
  // DuckDB oracle below — drift between the two is a silent hash-mismatch.
  private[graft] val Dim = 64          // embedding dimensionality (TESTDATA.md)
  private[graft] val PcRounds = 8      // embedding_top_pc: power-iteration rounds
  private[graft] val ShardK = 8        // export_shards: training-shard count
  private[graft] val DecontamPanel = 40 // semantic_decontam: held-out panel size
  private[graft] val AnnK = 5          // top-k for every ANN query
  private[graft] val LshBits = 10      // lsh_topk: bits per hyperplane table
  private[graft] val LshTables = 4     // lsh_topk: independent tables
  private[graft] val NdBits = 10       // near_dup_lsh: bits per table
  private[graft] val NdTables = 2      // near_dup_lsh: independent tables
  private[graft] val NdThreshold = 0.4 // near_dup_lsh: cosine threshold
  private[graft] val IvfNlist = 16     // ivf_topk: cells
  private[graft] val IvfNprobe = 4     // ivf_topk: probed cells per query
  private[graft] val MhHashes = 64     // minhash_lsh_pairs: signature length
  private[graft] val MhBands = 16      // minhash_lsh_pairs: LSH bands
  private[graft] val MhThreshold = 0.35
  private[graft] val ShMaxHamming = 7  // simhash_pairs: Hamming radius
  private[graft] val ShBlocks = 9      // simhash_pairs: block count (60-bit portable)
  private[graft] val ShBlocksPerKey = 2 // simhash_pairs: blocks per join key
  private[graft] val LpDegCap = 32     // dup_link_prediction: wedge-center degree cap
  private[graft] val LpTopK = 50       // dup_link_prediction: predicted links kept
  private[graft] val SemNlist = 16     // semantic_dedup_*: codebook cells (= IvfNlist codebook)
  private[graft] val SemThreshold = 0.4 // semantic_dedup_*: within-cell cosine threshold
  private[graft] val SubK = 6          // substring_dup_*: token-window length
  private[graft] val BpeTopK = 20      // bpe_pair_stats: merge candidates kept
  private[graft] val CtPool = 32       // contrastive_triplets: negative-pool size
  private[graft] val DsirBuckets = 256 // dsir_weights: hashed-feature buckets
  private[graft] val PqM = 8           // pq_topk: subspaces (64-dim → 8×8)
  private[graft] val PqK = 16          // pq_topk: codewords per subspace
  private[graft] val RecallPanel = 64  // *_recall: hash-sampled query-panel size
  private[graft] val BqCandK = 20      // bq_rerank: binary candidates per query
                                // before the exact-cosine rerank (4×AnnK)
  private[graft] val MaxSimGroup = 8   // maxsim_topk: vectors per multi-vector doc
  private[graft] val MaxSimPanel = 16  // maxsim_topk: hash-sampled query-doc panel
  private[graft] val KmvK = 64         // kmv_type_jaccard: k minimum values per set
  private[graft] val RpK = 16          // embedding_rp_audit: JL target dimensions
  private[graft] val PrThreshold = 0.2 // lsh_pr_audit: Jaccard cut for truth AND prediction
  /** Benford expectation floor(log10(1+1/d)·1e6+0.5) per leading digit —
    * computed ONCE here and baked as literals into both the Spark plan
    * and the DuckDB oracle, so no engine evaluates a transcendental. */
  private[graft] val BenfordE6: Map[Int, Long] = (1 to 9).map(d =>
    d -> math.floor(math.log10(1.0 + 1.0 / d) * 1e6 + 0.5).toLong).toMap
  /** dup_graph_kcore: peel-round budget shared by the Spark loop (cap)
    * and the generated oracle (unroll depth) — the two sides agree BY
    * CONSTRUCTION at any convergence speed: a corpus reaching the
    * fixpoint earlier makes the extra rounds no-ops on both engines, and
    * one that hasn't converged by the cap truncates identically on both.
    * Also bounds the pathological case (a long path needs O(n) rounds,
    * each paying a localCheckpoint + count). */
  private[graft] val KcoreMaxRounds = 8
  private[graft] val AlignK = 4        // margin_align_pairs: neighborhood size
  private[graft] val AlignMinMarginE6 = 1000000L // margin ≥ 1.0: above neighborhood avg
  private[graft] val BtIterations = 3  // bt_event_scores: MM fixpoint iterations
  private[graft] val BacktestFolds = 5 // backtest_folds: expanding-origin buckets
  private[graft] val HllP = 8          // approx_distinct_portable: 2^8 registers
  private[graft] val CmsDepth = 4      // heavy_hitters_cms: hash rows (δ = e^-4)
  private[graft] val CmsWidth = 256    // heavy_hitters_cms: buckets/row (ε = e/256)
  private[graft] val SnmWindow = 2     // sorted_neighborhood_pairs: slide size
  private[graft] val JwWindow = 10     // jw_name_pairs: SNM window over part names
  private[graft] val JwThreshold = 600000L // jw_name_pairs: keep pairs >= 0.6
  private[graft] val SnmKeyLen = 16    // sorted_neighborhood_pairs: blocking-key chars
  private[graft] val SnmBlockLen = 8   // sorted_neighborhood_pairs: strict-block prefix
  private[graft] val RecTopK = 3       // basket_lift_recs: recommendations per brand
  /** decayed_popularity: floor(1e6·2^(−1/HalfLife)) for HalfLife=30 days —
    * the one transcendental, frozen as a literal shared with the oracle;
    * every later coefficient comes from the integer recurrence
    * coef(d) = coef(d−1)·K div 1e6, identical in both engines. */
  private[graft] val DecayK30 = 977159L
  private[graft] val DecayMaxAge = 4000 // decayed_popularity: coef table span (days)
  private[graft] val ZipfTopK = 256    // zipf_slope: rank-frequency head size
  private[graft] val KmeansK = 8       // kmeans_fit: clusters
  private[graft] val KmeansRounds = 3  // kmeans_fit: unrolled Lloyd rounds
  private[graft] val KmeansSweepKs = Seq(2, 4, 8) // kmeans_k_sweep: elbow points
  private[graft] val MarkovIters = 12  // attribution_markov: value-iteration rounds
  private[graft] val NeymanBudget = 1000 // neyman_allocation: total sample budget
  private[graft] val HarmonicCapD = 8  // dup_graph_harmonic: expansion fan-out cap
  private[graft] val SpanMaskPct = 15  // span_corruption: per-position mask rate %
  private[graft] val HillK = 256       // value_hill_tail: tail order statistics
  private[graft] val GiniValueCut = 2000L // gini_impurity_features: label = cents >= cut
  private[graft] val OofFolds = 5      // target_encode_oof: hash folds
  private[graft] val PmiMinCount = 5   // term_pmi_pairs: collocation support floor
  private[graft] val PmiTopK = 20      // term_pmi_pairs: collocations returned
  private[graft] val TrigramPattern = "data batch" // trigram_search: query substring
  private[graft] val BomMaxDepth = 4   // sql_recursive_bom: recursion depth bound
  private[graft] val KmCensorGapDays = 90 // km_churn_curve: churned iff quiet this long
  private[graft] val KmMaxCurve = 100000  // km_churn_curve: curve-length gate (days)
  private[graft] val PprSeed = "Brand#1"  // ppr_brand_recs: walk-restart anchor
  private[graft] val PprIters = 3         // ppr_brand_recs: power iterations
  private[graft] val VocabSizes = Seq(16, 64, 256, 1024) // vocab_coverage_curve
  private[graft] val TsPanel = 8 // ts_similarity_topk: hash-sampled query users
  private[graft] val TsK = 5     // ts_similarity_topk: neighbors kept per query
  private[graft] val BootResamples = 32 // poisson_bootstrap: resample count B
  private[graft] val JackBuckets = 20   // jackknife_buckets: delete-a-bucket groups
  /** Inverse-CDF thresholds of the Poisson(1) bootstrap weight:
    * floor(P(X ≤ k)·2^60) for k = 0..5, weights capped at 6 (P ≈ 6e-5
    * tail folded into the last bucket). Computed ONCE here and baked as
    * literals into both engines — the Benford/decay discipline for the
    * one transcendental (e^−1) the scheme needs. */
  private[graft] val PoisCumE60: IndexedSeq[Long] = {
    val pmf = (0 to 5).scanLeft(math.exp(-1.0)) { case (p, k) => p / (k + 1) }
    pmf.take(6).scanLeft(0.0)(_ + _).tail
      .map(c => math.floor(c * math.pow(2.0, 60)).toLong).toIndexedSeq
  }
  /** Poisson(1) weight of a 60-bit uniform: the number of CDF thresholds
    * at or below `u`. */
  private[graft] def poisWeight(u: Column): Column =
    PoisCumE60.tail.zipWithIndex
      .foldLeft(when(u < lit(PoisCumE60.head), 0)) {
        case (acc, (t, i)) => acc.when(u < lit(t), i + 1)
      }.otherwise(6)
  /** DuckDB rendering of [[poisWeight]] over SQL expression `u`. */
  private[graft] def poisWeightSql(u: String): String =
    PoisCumE60.zipWithIndex
      .map { case (t, k) => s"WHEN $u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 6 END")
  /** Exact floor(a·1e6 / b) in decimal-38 (overflow-safe at any SF).
    * Spark side is the pmod identity (true floor); the DuckDB mirror is
    * `//` (truncation toward zero) — identical ONLY because every
    * numerator fed here is non-negative (cents of a value ≥ 0 domain),
    * the repo-wide rule for hash-compared division. */
  private[graft] def flooredMeanE6(a: Column, b: Column): Column = {
    val x = a.cast("decimal(38,0)") * lit(1000000L)
    // nullif: an empty group yields NULL (matching every oracle's
    // `// nullif(n, 0)`) instead of an ANSI DIVIDE_BY_ZERO crash
    val d = nullif(b, lit(0L))
    ((x - pmod(x, d)) / d).cast("long")
  }

  /** Scratch base for the snapshot-backed queries, recursively deleted at
    * JVM exit: each invocation publishes full-table parquet versions, and
    * repeated bench/verify runs must not accumulate them in /tmp. (The
    * result DataFrame reads these files lazily, so deletion can only
    * happen at exit, not eagerly.) */
  private[graft] def tempSnapshotBase(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(dir.toFile)
    }
    dir.toString + "/snapshot"
  }
  // doc_blocklist: stand-in unsafe-term list (real deployments load 10²-10⁵
  // terms; these exist in the synthetic vocabulary so the filter bites)
  private[graft] val BlockTerms = Seq("slow", "stream", "batch")
  // corpus_curate3 thresholds, set from the sf0.001/sf0.01 score
  // distributions so EVERY stage removes documents at every SF:
  private[graft] val C3MaxHits = 4L        // blocklist cap (median n_hits = 5)
  private[graft] val C3MaxNll = 3430000L   // LM perplexity ceiling (~p70)
  private[graft] val C3MinLr = -16000L     // DSIR weight floor (~median)

  /** streams⋈songs⋈users stand-in over the testdata star schema:
    * events ⋈ customer (user_id) ⋈ nation (c_nationkey), + date/hour. */
  private[graft] def enrichedEvents(s: SparkSession, dir: String): DataFrame = {
    val ev   = Tables.events(s, dir)
    val cust = Tables.customer(s, dir).withColumnRenamed("c_custkey", "user_id")
    val nat  = Tables.nation(s, dir).withColumnRenamed("n_nationkey", "c_nationkey")
    MusicKpis.enrich(ev, cust, "user_id", nat, "c_nationkey", "ts")
  }

  /** Flagship: the reference's genre-KPI pipeline shape on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("genre_kpis")(spark, "/root/testdata/sf0.001")

  /** All registered queries — assembled from the per-domain registry
    * fragments under graft/queries/ (r10 split; fragments are verbatim
    * map slices, folded here so the driver contract is unchanged). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.EtlCorpusQueries.m ++
      graft.queries.SimilarityTextQueries.m ++
      graft.queries.CurationSnapshotQueries.m ++
      graft.queries.RelationalQueries.m ++
      graft.queries.AnalyticsQueries.m


  /** Shared recall@k combinator for the `*_recall` harness rows: exact
    * panel ranking (panel × corpus — linear, ungated) left-joined against
    * the approximate index's answer. Only panel queries survive the join,
    * so the report is `RecallPanel` rows regardless of corpus size.
    *
    * The approximate leg is pre-filtered to the panel's query ids as a
    * LITERAL predicate (the ids come from the same driver-side
    * hash/orderBy/limit rule as the IVF codebook — bounded by
    * construction): a literal filter on the window-partition column
    * pushes BELOW the index's ranking windows into its query-side scan,
    * so the index ranks 64 queries instead of the whole corpus. The
    * join result is identical either way (only panel pairs are looked
    * up); the oracle keeps the corpus-wide form and matches. At 100 TB
    * this is the difference between "run the index for a panel" and
    * "run the index for every vector" every time recall is measured.
    *
    * The exact leg is SHARED across the four `*_recall` rows: it depends
    * only on (session, corpus dir), not on the index under test, so it is
    * computed once per session, pinned with an eager `localCheckpoint`
    * (the Contrastive/KMeans materialization pattern), and every recall
    * row joins against the pinned 64×k result instead of re-running the
    * panel × corpus scan. The panel ids come out of the SAME pinned leg
    * (64×k local rows — a driver-side collect bounded by construction),
    * saving the separate orderBy/limit corpus pass too. In a recall-tuning
    * sweep — the real use, many index configurations against one exact
    * ranking — the exact cost is paid once regardless of how many tiers
    * are measured. */
  private[graft] val panelExactCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (Seq[Long], DataFrame)]

  private[graft] val dedupClustersCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private[graft] val dupEdgesCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private[graft] val replayBatchesCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), IndexedSeq[DataFrame]]

  private[graft] val cdfWindowCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (String, Long, Long)]

  /** Session-pinned CDF window (seed %10≠0 → upsert %5==0 with +1000 →
    * delete %7==0 over documents, 8 buckets, retain 3) — returns
    * (snapshot base dir, v0, v2). `snapshot_changes` and
    * `snapshot_changes_where` diff the SAME committed window through
    * their respective read paths (full CDF vs value-zonemap-predicated),
    * so the three merge publishes run once per (session, corpus) — the
    * replay-family amortization applied to the merge pair. The window
    * lives in a session temp dir; versions v0..v2 stay retained. */
  private[graft] def cdfWindowFor(s: SparkSession, dir: String): (String, Long, Long) =
    cdfWindowCache.getOrElseUpdate((s, dir), {
      val docs = Tables.documents(s, dir).select("doc_id", "n_chars", "lang")
      val base = tempSnapshotBase("graft-cdfpin")
      val v0 = graft.streaming.VersionedSnapshot.mergeInto(
        base, docs.filter(col("doc_id") % 10 =!= 0), Seq("doc_id"),
        graft.streaming.VersionedSnapshot.UpdateMatched,
        insertUnmatched = true, marker = "seed", retain = 3, numBuckets = 8)
      graft.streaming.VersionedSnapshot.mergeInto(
        base,
        docs.filter(col("doc_id") % 5 === 0)
          .withColumn("n_chars", col("n_chars") + 1000),
        Seq("doc_id"), graft.streaming.VersionedSnapshot.UpdateMatched,
        insertUnmatched = true, marker = "upsert", retain = 3, numBuckets = 8)
      val v2 = graft.streaming.VersionedSnapshot.mergeInto(
        base, docs.filter(col("doc_id") % 7 === 0), Seq("doc_id"),
        graft.streaming.VersionedSnapshot.DeleteMatched,
        insertUnmatched = false, marker = "delete", retain = 3, numBuckets = 8)
      (base, v0, v2)
    })

  /** The exact isotonic purchase-rate fit over bit-length value buckets —
    * shared by `isotonic_calibration` (which reports it) and
    * `brier_decomposition` (which scores it). Columns: b (bucket), n, p,
    * iso_e6. See the isotonic_calibration scaladoc for the minimax
    * identity and the floor-commutes argument; cheap enough (≤63-row
    * grid work over one scan) that no session pin is warranted. */
  private[graft] def isotonicFitFor(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(
        length(bin(round(col("value") * 100).cast("long"))).as("b"),
        (col("event_type") === "purchase").cast("long").as("pos"))
    val wcum = Window.orderBy(col("b").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ev.groupBy("b")
      .agg(count(lit(1)).as("n"), sum("pos").as("p"))
      .withColumn("cn", sum(col("n")).over(wcum))
      .withColumn("cp", sum(col("p")).over(wcum))
    val lo = cum.select(col("b").as("j"), (col("cn") - col("n")).as("cn0"),
      (col("cp") - col("p")).as("cp0"))
    val hi = cum.select(col("b").as("k"), col("cn").as("cnk"),
      col("cp").as("cpk"))
    val pairs = hi.join(broadcast(lo.limit(1024)), col("j") <= col("k"))
      .selectExpr("j", "k",
        "CAST((cpk - cp0) * 1000000 div (cnk - cn0) AS BIGINT) AS m_e6")
    val sufMin = Window.partitionBy("j").orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val preMax = Window.partitionBy("k").orderBy(col("j").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val iso = pairs
      .withColumn("minK", min(col("m_e6")).over(sufMin))
      .withColumn("iso_e6", max(col("minK")).over(preMax))
      .filter(col("j") === col("k"))
      .select(col("k").as("b"), col("iso_e6"))
    cum.join(iso, Seq("b")).select("b", "n", "p", "iso_e6")
  }

  /** Session-pinned deterministic micro-batch split of the events CDC
    * projection (batch b = event_id % 3 == b, columns user_id /
    * event_type / event_id / v_cents) — the relation every replay-family
    * query (`incr_snapshot_versioned`, `cdc_merge_replay`,
    * `mor_delta_replay`, `dedup_stream_replay`) re-derived 3-4× each by
    * query independence. The split is pinned eagerly (localCheckpoint,
    * |events| rows total — bounded) so the events scan + projection +
    * filter runs once per (session, corpus);
    * the merge/replay cycles stay fully per-query, because the replay
    * machinery is exactly what those queries exist to exercise. */
  private[graft] def replayBatchesFor(s: SparkSession, dir: String): IndexedSeq[DataFrame] =
    replayBatchesCache.getOrElseUpdate((s, dir), {
      val ev = Tables.events(s, dir).select(
        col("user_id"), col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("v_cents"))
      (0L until 3L).toIndexedSeq.map(b =>
        ev.filter(pmod(col("event_id"), lit(3)) === b).localCheckpoint())
    })

  /** Session-pinned simhash near-dup pair relation (id_a < id_b by the
    * operator's join condition, deduped, hamming column carried) — the
    * `simhash_pairs` query itself and the graph subtree
    * (`dup_graph_triangles`, `dup_graph_clustering_coeff`,
    * `dup_link_prediction`, …) all consume it. Same amortization
    * rationale as [[dedupClustersFor]]: the banded simhash candidate
    * join runs once per (session, corpus); every consumer reads the
    * pinned relation (|pairs| rows of two longs + a byte — bounded by
    * the band join's output, not a leak). r9: the pin now carries the
    * full operator output so `simhash_pairs` is a projection of it
    * instead of a second band-join derivation. */
  private[graft] def simhashPairsFor(s: SparkSession, dir: String): DataFrame =
    dupEdgesCache.getOrElseUpdate((s, dir),
      Dedup.simHashPairs(Tables.documents(s, dir), "doc_id", "text",
          maxHamming = ShMaxHamming, blocks = ShBlocks, blocksPerKey = ShBlocksPerKey,
          portable = true)
        .localCheckpoint())

  /** The graph-family view of [[simhashPairsFor]]: canonical (a, b)
    * columns. The operator already emits id_a < id_b with no self-loops
    * or duplicates, so this is a pure projection of the pin. */
  private[graft] def dupEdgesFor(s: SparkSession, dir: String): DataFrame =
    simhashPairsFor(s, dir)
      .select(col("id_a").as("a"), col("id_b").as("b"))

  private[graft] val kmeansFlatCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** The KmeansRounds-round Lloyd fit at a given k (see `kmeans_fit`'s
    * scaladoc for the exact-integer design): returns (final assignment
    * (vec_id, c, d2), final centroids (c, pos, m)). Shared by
    * `kmeans_fit` and the `kmeans_k_sweep` elbow table.
    *
    * r17 (guide §2 — the wave-3 dual-reference pattern): two pins.
    * (1) The flattened quantized feature frame is referenced 2× per round
    *     × rounds × every k of the sweep — session-pinned once per
    *     (session, corpus) like [[simhashPairsFor]], so the scan+explode
    *     runs once instead of ~20×. |vecs|·dim rows of three ints —
    *     bounded, not a leak.
    * (2) Each round's CENTROID relation (k·dim rows) is eagerly
    *     local-checkpointed: without the pin round r's plan embeds round
    *     r−1's whole subtree at every reference, so the unrolled lineage
    *     re-executes earlier rounds combinatorially — the pin makes each
    *     round execute exactly once. Row content is unchanged either way
    *     (exact integer arithmetic; min-struct tiebreaks). */
  private[graft] def kmeansRun(s: SparkSession, dir: String, k: Int): (DataFrame, DataFrame) = {
    val flat = kmeansFlatCache.getOrElseUpdate((s, dir),
      Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("pos"),
          floor(col("x") * lit(1000.0) + lit(0.5)).cast("long").as("q"))
        .localCheckpoint())
    val seeds = Tables.embeddings(s, dir)
      .select(col("vec_id")).orderBy(col("vec_id").asc).limit(k)
      .select(col("vec_id").as("c"))
    def assign(cent: DataFrame): DataFrame =
      flat.join(broadcast(cent), Seq("pos"))
        .groupBy(col("vec_id"), col("c"))
        .agg(sum((col("q") - col("m")) * (col("q") - col("m"))).as("d2"))
        .groupBy("vec_id")
        .agg(min(struct(col("d2"), col("c"))).as("__best"))
        .select(col("vec_id"),
          col("__best").getField("c").as("c"),
          col("__best").getField("d2").as("d2"))
    var cent = flat.join(broadcast(seeds), col("vec_id") === col("c"))
      .select(col("c"), col("pos"), col("q").as("m"))
      .localCheckpoint()
    for (_ <- 1 to KmeansRounds)
      cent = flat.join(assign(cent).select("vec_id", "c"), Seq("vec_id"))
        .groupBy("c", "pos")
        .agg(expr("CAST(sum(q) div count(1) AS BIGINT)").as("m"))
        .localCheckpoint()
    (assign(cent), cent)
  }

  private[graft] val jaccardPairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Session-pinned banded-Jaccard pair relation (n=3, threshold 0.2,
    * columns id_a/id_b/jaccard) — the subtree `jaccard_pairs`,
    * `dup_graph_kcore`, `dup_jaccard_histogram`, `dup_source_crosstab`,
    * `er_field_weights` and the [[dedupClustersFor]] clustering all
    * consume; the shingle join runs once per (session, corpus). Pair
    * volume is bounded by the band join's output (the same bound every
    * consumer already carried). */
  private[graft] def jaccardPairsFor(s: SparkSession, dir: String): DataFrame =
    jaccardPairsCache.getOrElseUpdate((s, dir),
      Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 3, threshold = 0.2)
        .localCheckpoint())

  /** Session-cached banded-Jaccard near-dup clustering (connected
    * components over `Dedup.jaccardPairs` at n=3, threshold=0.2) — the
    * subtree `dedup_clusters`, `dup_cluster_sizes` and
    * `dedup_near_keepers` all consume. Query independence would otherwise
    * re-derive the full shingle join + CC fixpoint once per consumer;
    * like [[panelExactFor]], the assignments are pinned once per
    * (session, corpus) with an eager `localCheckpoint` (|docs| rows of
    * two longs — bounded, not a leak) and every consumer reads the pin.
    * The real-pipeline analog: a dedup pass materializes its cluster
    * table once and every downstream policy reads it. */
  private[graft] def dedupClustersFor(s: SparkSession, dir: String): DataFrame =
    dedupClustersCache.getOrElseUpdate((s, dir),
      graft.operators.Components.connectedComponents(
          jaccardPairsFor(s, dir), "id_a", "id_b")
        .localCheckpoint())

  /** Session-cached (panel ids, pinned exact top-k) for the recall rows.
    * Keyed by session INSTANCE so a restarted session never sees another
    * session's checkpointed RDDs; entries live for the session's lifetime
    * (a handful of (dir → 64×k-row) pins — bounded, not a leak). */
  private[graft] def panelExactFor(s: SparkSession, dir: String): (Seq[Long], DataFrame) =
    panelExactCache.getOrElseUpdate((s, dir), {
      val exact = Similarity.panelExactTopK(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          panelSize = RecallPanel, k = AnnK)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint()
      val panelIds: Seq[Long] = exact.select(col("query_id").cast("long"))
        .distinct().collect().map(_.getLong(0)).toSeq.sorted
      (panelIds, exact)
    })

  private[graft] def recallVsPanel(s: SparkSession, dir: String, approx: DataFrame): DataFrame = {
    val (panelIds, exact) = panelExactFor(s, dir)
    exact.join(
        approx.filter(col("query_id").isin(panelIds: _*))
          .select(col("query_id").as("__qa"), col("neighbor_id").as("__na")),
        col("query_id") === col("__qa") && col("neighbor_id") === col("__na"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"), count(col("__qa")).as("n_hits"))
      .withColumn("recall_e6",
        floor(col("n_hits") * lit(1.0) / col("n_exact") * lit(1e6) + lit(0.5))
          .cast("long"))
  }

  // ---- generated oracle SQL for the hash-family queries ----
  // These five oracles are BUILT programmatically from the same constants
  // (and the same Rademacher hyperplane generator) as the Spark queries, so
  // the two sides cannot drift: md5-derived 60-bit hashes are computed
  // identically in both engines (PortableHash), hyperplanes enter the
  // DuckDB plan as a literal VALUES relation.

  /** DuckDB side of [[graft.functions.PortableHash.hash60]]. */
  private[graft] def dh(e: String): String = graft.functions.PortableHash.duckdbSql(e)

  /** Estimate-vs-exact harness over the MinHash candidates: wraps the
    * generated MinHash oracle as a derived table, recomputes the exact
    * 3-gram Jaccard for each surviving pair with fresh CTE names. */
  private[graft] def minHashAccuracyOracle: String =
    s"""WITH est AS (SELECT * FROM ($minHashLshOracle)),
       |t2 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g2 AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
       |       FROM t2, UNNEST(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM g2 GROUP BY doc_id),
       |it AS (SELECT e.id_a, e.id_b, CAST(count(*) AS BIGINT) AS inter
       |       FROM est e JOIN g2 ga ON ga.doc_id = e.id_a
       |                  JOIN g2 gb ON gb.doc_id = e.id_b AND gb.gram = ga.gram
       |       GROUP BY e.id_a, e.id_b),
       |o AS (SELECT e.id_a, e.id_b,
       |        CAST(floor(e.est_jaccard * 1000000.0 + 0.5) AS BIGINT) AS est_e6,
       |        CAST(floor(coalesce(it.inter, 0) * 1.0 /
       |          (sa.sz + sb.sz - coalesce(it.inter, 0)) * 1000000.0 + 0.5) AS BIGINT) AS true_e6
       |      FROM est e LEFT JOIN it ON e.id_a = it.id_a AND e.id_b = it.id_b
       |                 JOIN sz sa ON e.id_a = sa.doc_id
       |                 JOIN sz sb ON e.id_b = sb.doc_id)
       |SELECT id_a, id_b, est_e6, true_e6, abs(est_e6 - true_e6) AS err_e6 FROM o""".stripMargin

  private[graft] def minHashLshOracle: String =
    minHashLshOracleFrom("documents", MhThreshold)

  /** Mirror of the lsh_pr_audit harness: the full generated MinHash-LSH
    * pipeline as the prediction, the jaccard_pairs expression at the
    * same threshold as the truth. */
  private[graft] def lshPrAuditOracle: String = {
    s"""WITH pred AS (SELECT id_a, id_b FROM (${minHashLshOracleFrom("documents", PrThreshold)})),
       |qtoks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |qgrams AS (
       |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
       |  FROM qtoks, UNNEST(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
       |qsizes AS (SELECT doc_id, count(*) AS n FROM qgrams GROUP BY doc_id),
       |qinter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
       |  FROM qgrams a JOIN qgrams b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (SELECT id_a, id_b FROM (
       |    SELECT i.id_a, i.id_b,
       |           round(CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter), 6) AS j
       |    FROM qinter i JOIN qsizes sa ON i.id_a = sa.doc_id
       |                  JOIN qsizes sb ON i.id_b = sb.doc_id)
       |  WHERE j >= $PrThreshold),
       |ct AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
       |cp AS (SELECT CAST(count(*) AS BIGINT) AS n_pred FROM pred),
       |ch AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
       |       FROM truth t WHERE EXISTS (SELECT 1 FROM pred p
       |                                  WHERE p.id_a = t.id_a AND p.id_b = t.id_b))
       |SELECT n_true, n_pred, n_hit,
       |  CASE WHEN n_pred > 0
       |       THEN CAST(floor(n_hit * 1000000 / n_pred + 0.5) AS BIGINT) END AS precision_e6,
       |  CASE WHEN n_true > 0
       |       THEN CAST(floor(n_hit * 1000000 / n_true + 0.5) AS BIGINT) END AS recall_e6
       |FROM ct, cp, ch""".stripMargin
  }

  /** [[minHashLshOracle]] parameterized over the base relation and the
    * estimate threshold, so the precision/recall audit can run the
    * identical pipeline at its own cut. */
  private[graft] def minHashLshOracleFrom(rel: String, threshold: Double): String = {
    val rows = MhHashes / MhBands
    // (member index, multiplier) literal relation — the same multiply-shift
    // family PortableHash.family60 derives from one md5 per gram
    val mults = (0 until MhHashes)
      .map(i => s"($i,${graft.functions.PortableHash.multiplier(i)})").mkString(",")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $rel),
       |grams AS (
       |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
       |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
       |gh AS (SELECT doc_id, ${dh("gram")} AS gh FROM grams),
       |mm(i, m) AS (VALUES $mults),
       |mh AS (
       |  SELECT g.doc_id, mm.i,
       |         min(${graft.functions.PortableHash.duckdbFamilySql("g.gh", "mm.m", "mm.i")}) AS h
       |  FROM gh g CROSS JOIN mm GROUP BY g.doc_id, mm.i),
       |bands AS (
       |  SELECT doc_id, i // $rows AS band,
       |         string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS bkey
       |  FROM mh GROUP BY doc_id, i // $rows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |eq AS (
       |  SELECT c.id_a, c.id_b, sum(CASE WHEN x.h = y.h THEN 1 ELSE 0 END) AS n_eq
       |  FROM cand c JOIN mh x ON x.doc_id = c.id_a
       |              JOIN mh y ON y.doc_id = c.id_b AND y.i = x.i
       |  GROUP BY c.id_a, c.id_b)
       |SELECT id_a, id_b, est_jaccard FROM (
       |  SELECT id_a, id_b, round(CAST(n_eq AS DOUBLE) / $MhHashes, 6) AS est_jaccard FROM eq)
       |WHERE est_jaccard >= $threshold""".stripMargin
  }

  private[graft] def simHashOracle: String = {
    val bits = graft.operators.Dedup.simHashBits(portable = true)
    val sums = (0 until bits)
      .map(i => s"sum(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n    ")
    val packed = (0 until bits)
      .map(i => s"(CASE WHEN b$i > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
       |h AS (SELECT doc_id, ${dh("w")} AS h FROM tok),
       |bits AS (SELECT doc_id,
       |    $sums
       |  FROM h GROUP BY doc_id),
       |sh AS (SELECT doc_id, $packed AS simhash FROM bits)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $ShMaxHamming""".stripMargin
  }

  /** Literal (tbl, bit, i, h) hyperplane relation — same Rademacher
    * generator the Spark plan bakes in (Similarity.rademacher), 1-based
    * dim index to match generate_subscripts. */
  private[graft] def hyperplaneValues(nBits: Int, tables: Int): String =
    (for {
      t <- 0 until tables
      b <- 0 until nBits
      h = graft.operators.Similarity.rademacher(t * nBits + b, Dim)
      j <- 0 until Dim
    } yield s"($t,$b,${j + 1},${h(j).toInt})").mkString(",")

  /** Shared CTE prefix: per-(vector, table) sign-pattern buckets plus the
    * Hamming-1 multi-probe expansion. */
  private[graft] def lshBucketCtes(nBits: Int, tables: Int): String =
    s"""flat AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(UNNEST(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id),
       |hp(tbl, bit, i, h) AS (VALUES ${hyperplaneValues(nBits, tables)}),
       |sig AS (
       |  SELECT f.vec_id, hp.tbl, hp.bit,
       |         CASE WHEN sum(f.x * hp.h) >= 0 THEN (1::BIGINT << hp.bit)
       |              ELSE 0::BIGINT END AS bitval
       |  FROM flat f JOIN hp ON f.i = hp.i GROUP BY f.vec_id, hp.tbl, hp.bit),
       |buckets AS (SELECT vec_id, tbl, CAST(sum(bitval) AS BIGINT) AS bucket
       |            FROM sig GROUP BY vec_id, tbl),
       |probes AS (
       |  SELECT vec_id, tbl, bucket FROM buckets
       |  UNION ALL
       |  SELECT vec_id, tbl, xor(bucket, (1::BIGINT << b))
       |  FROM buckets, UNNEST(range(0, $nBits)) AS t(b)),""".stripMargin

  /** Shared CTE suffix: exact cosine over the candidate pairs (same
    * dots/norms shape as the proven cosine_topk oracle). */
  private[graft] def pairScoreCtes(aCol: String, bCol: String): String =
    s"""dots AS (
       |  SELECT cd.$aCol, cd.$bCol, sum(fa.x * fb.x) AS dp
       |  FROM cand cd JOIN flat fa ON fa.vec_id = cd.$aCol
       |               JOIN flat fb ON fb.vec_id = cd.$bCol AND fb.i = fa.i
       |  GROUP BY cd.$aCol, cd.$bCol),
       |scored AS (
       |  SELECT d.$aCol, d.$bCol, round(d.dp / (na.nrm * nb.nrm), 6) AS cosine_sim
       |  FROM dots d JOIN norms na ON d.$aCol = na.vec_id
       |              JOIN norms nb ON d.$bCol = nb.vec_id)""".stripMargin

  private[graft] def lshTopKOracle: String =
    s"""WITH ${lshBucketCtes(LshBits, LshTables)}
       |cand AS (
       |  SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM probes p JOIN buckets c
       |    ON p.tbl = c.tbl AND p.bucket = c.bucket AND p.vec_id <> c.vec_id),
       |${pairScoreCtes("query_id", "neighbor_id")},
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                   ORDER BY cosine_sim DESC, neighbor_id ASC) AS "rank"
       |      FROM scored)
       |SELECT query_id, neighbor_id, cosine_sim, CAST("rank" AS INTEGER) AS "rank" FROM r WHERE "rank" <= $AnnK""".stripMargin

  /** DuckDB side of the SQ serving tier ([[graft.operators.Quantize.int8]]
    * → dequant → [[Similarity.panelTopKAgainst]]): full-precision panel
    * queries ranked against the int8-dequantized corpus. Quantize and
    * dequantize use the same per-element IEEE expressions in the same
    * order as the Spark side (the `embedding_quantize` oracle's
    * arithmetic), so the reconstructed values are bit-identical. */
  private[graft] def sqPanelTopKOracle: String =
    s"""WITH sqv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
       |             FROM embeddings),
       |sqb AS (SELECT vec_id, vv, list_min(vv) AS q_lo, list_max(vv) AS q_hi FROM sqv),
       |sqdq AS (SELECT vec_id,
       |    CASE WHEN q_hi = q_lo THEN list_transform(vv, x -> q_lo)
       |         ELSE list_transform(vv, x -> q_lo +
       |           CAST(floor((x - q_lo) / (q_hi - q_lo) * 255.0 + 0.5) AS INTEGER)
       |             / 255.0 * (q_hi - q_lo))
       |    END AS dv
       |  FROM sqb),
       |sqcflat AS (SELECT vec_id, generate_subscripts(dv, 1) AS i, UNNEST(dv) AS x FROM sqdq),
       |sqcnorms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM sqcflat GROUP BY vec_id),
       |sqpanel AS (SELECT vec_id FROM embeddings
       |            ORDER BY ${dh("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC
       |            LIMIT $RecallPanel),
       |sqqflat AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |                   CAST(UNNEST(embedding) AS DOUBLE) AS x
       |            FROM embeddings WHERE vec_id IN (SELECT vec_id FROM sqpanel)),
       |sqqnorms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM sqqflat GROUP BY vec_id),
       |sqdots AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, sum(q.x * c.x) AS dp
       |           FROM sqqflat q JOIN sqcflat c ON q.i = c.i AND q.vec_id <> c.vec_id
       |           GROUP BY q.vec_id, c.vec_id),
       |sqscored AS (SELECT query_id, neighbor_id, round(dp / (qn.nrm * cn.nrm), 6) AS cosine_sim
       |             FROM sqdots JOIN sqqnorms qn ON query_id = qn.vec_id
       |                         JOIN sqcnorms cn ON neighbor_id = cn.vec_id),
       |sqr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                  ORDER BY cosine_sim DESC, neighbor_id ASC) AS rn FROM sqscored)
       |SELECT query_id, neighbor_id FROM sqr WHERE rn <= $AnnK""".stripMargin

  /** Recall@k of an approximate index's answer (any derived table with
    * `query_id`/`neighbor_id` columns) against the exact ranking of the
    * hash-sampled query panel — DuckDB side of [[recallVsPanel]] /
    * [[Similarity.panelExactTopK]]. The panel is the `RecallPanel` ids
    * with the smallest portable hash (same ORDER BY/LIMIT rule as the IVF
    * pseudo-centroids); the exact leg is computed ONLY for panel queries. */
  private[graft] def panelRecallOracle(approxSql: String): String =
    s"""WITH ap AS (SELECT query_id, neighbor_id FROM ($approxSql)),
       |pflat AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(UNNEST(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |pnorms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM pflat GROUP BY vec_id),
       |panel AS (SELECT vec_id FROM embeddings
       |          ORDER BY ${dh("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC
       |          LIMIT $RecallPanel),
       |edots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, sum(a.x * b.x) AS dp
       |  FROM pflat a JOIN pflat b ON a.i = b.i AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id IN (SELECT vec_id FROM panel)
       |  GROUP BY a.vec_id, b.vec_id),
       |escored AS (
       |  SELECT query_id, neighbor_id, round(dp / (na.nrm * nb.nrm), 6) AS cosine_sim
       |  FROM edots JOIN pnorms na ON query_id = na.vec_id
       |             JOIN pnorms nb ON neighbor_id = nb.vec_id),
       |er AS (SELECT query_id, neighbor_id FROM (
       |         SELECT escored.*, row_number() OVER (PARTITION BY query_id
       |           ORDER BY cosine_sim DESC, neighbor_id ASC) AS rn FROM escored)
       |       WHERE rn <= $AnnK)
       |SELECT er.query_id, CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(count(ap.neighbor_id) AS BIGINT) AS n_hits,
       |  CAST(floor(count(ap.neighbor_id) * 1.0 / count(*) * 1000000.0 + 0.5) AS BIGINT) AS recall_e6
       |FROM er LEFT JOIN ap ON er.query_id = ap.query_id
       |                    AND er.neighbor_id = ap.neighbor_id
       |GROUP BY er.query_id""".stripMargin

  /** DuckDB side of [[graft.operators.Quantize.binaryTopK]]: identical
    * sign rule (x > 0), identical 32-bit word packing (bit 63 unused so
    * BIGINT shifts never trap), Hamming = Σ bit_count(xor) over the word
    * join, same (hamming ASC, neighbor_id ASC) ranking. */
  private[graft] def binaryTopKOracle(k: Int = AnnK): String =
    s"""WITH pflat AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(UNNEST(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |codes AS (
       |  SELECT vec_id, CAST((i - 1) // 32 AS INTEGER) AS w,
       |         CAST(COALESCE(sum(CASE WHEN x > 0
       |           THEN (1::BIGINT << ((i - 1) % 32)) ELSE 0 END), 0) AS BIGINT) AS word
       |  FROM pflat GROUP BY 1, 2),
       |panel AS (SELECT vec_id FROM embeddings
       |          ORDER BY ${dh("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC
       |          LIMIT $RecallPanel),
       |ham AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         CAST(sum(bit_count(xor(q.word, c.word))) AS BIGINT) AS hamming
       |  FROM codes q JOIN codes c ON q.w = c.w AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id IN (SELECT vec_id FROM panel)
       |  GROUP BY 1, 2),
       |r AS (SELECT ham.*, row_number() OVER (PARTITION BY query_id
       |        ORDER BY hamming ASC, neighbor_id ASC) AS rn FROM ham)
       |SELECT query_id, neighbor_id, hamming, CAST(rn AS INTEGER) AS "rank"
       |FROM r WHERE rn <= $k""".stripMargin

  /** DuckDB side of the binary→float rerank cascade: the binary tier's
    * top-`BqCandK` candidates rescored by exact cosine (same rounding
    * and tie rule as every exact leg), cut to the final top-k. */
  private[graft] def bqRerankOracle: String =
    s"""WITH cand AS (SELECT query_id, neighbor_id FROM (${binaryTopKOracle(BqCandK)})),
       |rflat AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |                 CAST(UNNEST(embedding) AS DOUBLE) AS x
       |          FROM embeddings),
       |rnorms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM rflat GROUP BY vec_id),
       |rdots AS (SELECT c.query_id, c.neighbor_id, sum(q.x * n.x) AS dp
       |          FROM cand c JOIN rflat q ON q.vec_id = c.query_id
       |                      JOIN rflat n ON n.vec_id = c.neighbor_id AND n.i = q.i
       |          GROUP BY 1, 2),
       |rsc AS (SELECT query_id, neighbor_id, round(dp / (qn.nrm * nn.nrm), 6) AS cosine_sim
       |        FROM rdots JOIN rnorms qn ON query_id = qn.vec_id
       |                   JOIN rnorms nn ON neighbor_id = nn.vec_id),
       |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |         ORDER BY cosine_sim DESC, neighbor_id ASC) AS rn FROM rsc)
       |SELECT query_id, neighbor_id FROM rr WHERE rn <= $AnnK""".stripMargin

  /** DuckDB side of the Matryoshka-truncation tier: cosine ranking with
    * BOTH sides cut to the first Dim/2 coordinates. */
  private[graft] def mrlPanelTopKOracle: String =
    s"""WITH mflat AS (SELECT vec_id, i, x FROM (
       |                 SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |                        CAST(UNNEST(embedding) AS DOUBLE) AS x
       |                 FROM embeddings) WHERE i <= ${Dim / 2}),
       |mnorms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM mflat GROUP BY vec_id),
       |mpanel AS (SELECT vec_id FROM embeddings
       |           ORDER BY ${dh("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC
       |           LIMIT $RecallPanel),
       |mdots AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, sum(q.x * c.x) AS dp
       |          FROM mflat q JOIN mflat c ON q.i = c.i AND q.vec_id <> c.vec_id
       |          WHERE q.vec_id IN (SELECT vec_id FROM mpanel)
       |          GROUP BY 1, 2),
       |msc AS (SELECT query_id, neighbor_id, round(dp / (qn.nrm * cn.nrm), 6) AS cosine_sim
       |        FROM mdots JOIN mnorms qn ON query_id = qn.vec_id
       |                   JOIN mnorms cn ON neighbor_id = cn.vec_id),
       |mr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |         ORDER BY cosine_sim DESC, neighbor_id ASC) AS rn FROM msc)
       |SELECT query_id, neighbor_id FROM mr WHERE rn <= $AnnK""".stripMargin

  /** DuckDB side of [[graft.operators.Sketches.cmsPartials]] /
    * [[graft.operators.Sketches.cmsEstimate]]: same seeded portable hash
    * (`"j:" || key`), same integer modulo bucket, exact register counts,
    * min over the depth rows. The oracle builds registers from the whole
    * input in one pass while the Spark side goes through the 3-slice
    * merge — the hash can only match because CMS merging is exact. */
  private[graft] def heavyHittersCmsOracle: String = {
    val regBucket = dh("CAST(cj.j AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)")
    val candBucket = dh("CAST(cj.j AS VARCHAR) || ':' || CAST(t.user_id AS VARCHAR)")
    s"""WITH cj AS (SELECT CAST(UNNEST(range(0, $CmsDepth)) AS INTEGER) AS j),
       |regs AS (SELECT cj.j AS j, $regBucket % $CmsWidth AS bucket,
       |                CAST(count(*) AS BIGINT) AS n
       |         FROM events e CROSS JOIN cj
       |         WHERE e.user_id IS NOT NULL
       |         GROUP BY 1, 2),
       |top AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact FROM events
       |        WHERE user_id IS NOT NULL
       |        GROUP BY 1 ORDER BY n_exact DESC, user_id ASC LIMIT 20),
       |est AS (SELECT t.user_id, t.n_exact, min(coalesce(r.n, 0)) AS n_est
       |        FROM top t CROSS JOIN cj
       |        LEFT JOIN regs r ON r.j = cj.j AND r.bucket = $candBucket % $CmsWidth
       |        GROUP BY 1, 2)
       |SELECT user_id, n_exact, CAST(n_est AS BIGINT) AS n_est,
       |       CAST(n_est - n_exact AS BIGINT) AS overcount
       |FROM est""".stripMargin
  }

  /** Mirror of the rolling 24h sketch merge: hourly registers, a 256-way
    * bucket spine per hour, a RANGE-window register max over the trailing
    * 24 hours, and the shared-constant estimate — every step the same
    * integer arithmetic as [[graft.operators.Sketches.hllRegisters]] /
    * `hllEstimate`. */
  private[graft] def rollingDistinctOracle: String = {
    val p = 8
    val m = 1 << p
    val tailBits = 60 - p
    val c = graft.operators.Sketches.alphaConstant(m)
    val rankCase = (tailBits - 1 to 0 by -1)
      .map(k => s"WHEN r >= ${1L << k} THEN ${tailBits - k}")
      .mkString(" ")
    s"""WITH rh AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour,
       |                   ${dh("CAST(user_id AS VARCHAR)")} AS h
       |            FROM events WHERE user_id IS NOT NULL),
       |rb AS (SELECT hour, h // ${1L << tailBits} AS b, h % ${1L << tailBits} AS r FROM rh),
       |rrk AS (SELECT hour, b, CASE $rankCase ELSE ${tailBits + 1} END AS rank FROM rb),
       |rregs AS (SELECT hour, b, max(rank) AS mr FROM rrk GROUP BY 1, 2),
       |rspine AS (SELECT DISTINCT hour FROM rh),
       |rgrid AS (SELECT s.hour, CAST(UNNEST(range(0, $m)) AS BIGINT) AS b FROM rspine s),
       |rrolled AS (SELECT g.hour, g.b,
       |              max(r.mr) OVER (PARTITION BY g.b ORDER BY g.hour
       |                              RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS mr
       |            FROM rgrid g LEFT JOIN rregs r ON g.hour = r.hour AND g.b = r.b),
       |rs AS (SELECT hour,
       |         CAST(sum(CAST(1 AS BIGINT) << CAST(53 - mr AS INTEGER)) AS BIGINT) AS s_present,
       |         CAST(count(*) AS BIGINT) AS nb
       |       FROM rrolled WHERE mr IS NOT NULL GROUP BY 1)
       |SELECT hour,
       |  CAST(floor($c / (s_present + ($m - nb) * (CAST(1 AS BIGINT) << 53)) + 0.5)
       |       AS BIGINT) AS distinct_users_24h_est
       |FROM rs""".stripMargin
  }

  /** Mirror of [[graft.operators.Sketches.cmsInnerProduct]] over the
    * view/purchase frequency vectors: same seeded register hash as the
    * heavy-hitters oracle, exact integer dot products, min over depth. */
  private[graft] def joinSizeCmsOracle: String = {
    val vBucket = dh("CAST(cj.j AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)")
    s"""WITH cj AS (SELECT CAST(UNNEST(range(0, $CmsDepth)) AS INTEGER) AS j),
       |jva AS (SELECT cj.j AS j, $vBucket % $CmsWidth AS bucket,
       |               CAST(count(*) AS BIGINT) AS n
       |        FROM events e CROSS JOIN cj
       |        WHERE e.user_id IS NOT NULL AND e.event_type = 'view'
       |        GROUP BY 1, 2),
       |jvb AS (SELECT cj.j AS j, $vBucket % $CmsWidth AS bucket,
       |               CAST(count(*) AS BIGINT) AS n
       |        FROM events e CROSS JOIN cj
       |        WHERE e.user_id IS NOT NULL AND e.event_type = 'purchase'
       |        GROUP BY 1, 2),
       |jdots AS (SELECT a.j, CAST(sum(a.n * b.n) AS BIGINT) AS dot
       |          FROM jva a JOIN jvb b ON a.j = b.j AND a.bucket = b.bucket
       |          GROUP BY 1),
       |jest AS (SELECT CAST(min(dot) AS BIGINT) AS n_est FROM jdots),
       |jex AS (SELECT COALESCE(CAST(sum(av.n * bv.n) AS BIGINT), 0) AS n_exact
       |        FROM (SELECT user_id, count(*) AS n FROM events
       |              WHERE user_id IS NOT NULL AND event_type = 'view'
       |              GROUP BY 1) av
       |        JOIN (SELECT user_id, count(*) AS n FROM events
       |              WHERE user_id IS NOT NULL AND event_type = 'purchase'
       |              GROUP BY 1) bv
       |          ON av.user_id = bv.user_id)
       |SELECT jex.n_exact, jest.n_est,
       |       jest.n_est - jex.n_exact AS overcount
       |FROM jex, jest""".stripMargin
  }

  /** Portable-HLL estimate vs exact distinct — mirror of
    * [[graft.operators.Sketches.portableDistinctEstimate]]: same bucket
    * split of the 60-bit portable hash, same threshold-cascade rank, same
    * integer shift register sum, and the SAME numeric literal
    * α_m·m²·2⁵³ in the one double division. */
  private[graft] def approxDistinctOracle: String = {
    val p = HllP
    val m = 1 << p
    val tailBits = 60 - p
    val c = graft.operators.Sketches.alphaConstant(m)
    val rankCase = (tailBits - 1 to 0 by -1)
      .map(k => s"WHEN r >= ${1L << k} THEN ${tailBits - k}")
      .mkString(" ")
    s"""WITH h AS (SELECT ${dh("CAST(event_id AS VARCHAR)")} AS h FROM events),
       |b AS (SELECT h // ${1L << tailBits} AS bucket, h % ${1L << tailBits} AS r FROM h),
       |rk AS (SELECT bucket, CASE $rankCase ELSE ${tailBits + 1} END AS rank FROM b),
       |regs AS (SELECT bucket, max(rank) AS mr FROM rk GROUP BY bucket),
       |s AS (SELECT
       |        CAST(sum(CAST(1 AS BIGINT) << CAST(53 - mr AS INTEGER)) AS BIGINT) AS s_present,
       |        CAST(count(*) AS BIGINT) AS nb
       |      FROM regs),
       |est AS (SELECT CAST(floor($c /
       |          (s_present + ($m - nb) * (CAST(1 AS BIGINT) << 53)) + 0.5) AS BIGINT) AS n_est
       |        FROM s),
       |ex AS (SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact FROM events)
       |SELECT n_est, n_exact,
       |  CAST(floor(CAST(abs(n_est - n_exact) AS DOUBLE) * 1000000.0 / n_exact + 0.5)
       |       AS BIGINT) AS err_e6
       |FROM est, ex""".stripMargin
  }

  /** Bradley-Terry MM fixpoint unrolled as SQL CTEs — one (t, r, it)
    * block per iteration, every state e6-quantized int64 exactly as
    * [[graft.operators.Preference.bradleyTerry]] computes it (truncating
    * division both engines, ≥1 clamps in the same places), so the fitted
    * model hash-matches. */
  private[graft] def btScoresOracle(iterations: Int): String = {
    val head =
      s"""WITH tr AS (
         |  SELECT event_type,
         |         lead(event_type) OVER (PARTITION BY user_id
         |           ORDER BY ts ASC, event_id ASC) AS next_type
         |  FROM events),
         |w AS (SELECT next_type AS wi, event_type AS li, CAST(count(*) AS BIGINT) AS n
         |      FROM tr WHERE next_type IS NOT NULL AND next_type <> event_type
         |      GROUP BY 1, 2),
         |items AS (SELECT DISTINCT wi AS item FROM w
         |          UNION SELECT DISTINCT li AS item FROM w),
         |ni AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM items),
         |winsum AS (SELECT wi AS item, CAST(sum(n) AS BIGINT) AS wn FROM w GROUP BY 1),
         |und AS (SELECT i, j, CAST(sum(n) AS BIGINT) AS nij FROM (
         |          SELECT wi AS i, li AS j, n FROM w
         |          UNION ALL SELECT li AS i, wi AS j, n FROM w)
         |        GROUP BY i, j),
         |it0 AS (SELECT item, CAST(1000000 AS BIGINT) AS s_e6 FROM items)""".stripMargin
    val iters = (1 to iterations).map { k =>
      s"""t$k AS (SELECT u.i AS item,
         |  CAST(sum(u.nij * 1000000000000 // greatest(si.s_e6 + sj.s_e6, 1)) AS BIGINT) AS den
         |  FROM und u JOIN it${k - 1} si ON u.i = si.item
         |             JOIN it${k - 1} sj ON u.j = sj.item
         |  GROUP BY u.i),
         |r$k AS (SELECT i.item,
         |  CASE WHEN COALESCE(t.den, 0) <= 0 THEN 0
         |       ELSE COALESCE(ws.wn, 0) * 1000000000000 // t.den END AS s_raw
         |  FROM items i LEFT JOIN t$k t ON i.item = t.item
         |               LEFT JOIN winsum ws ON i.item = ws.item),
         |it$k AS (SELECT r.item,
         |  greatest(r.s_raw * (SELECT n_items FROM ni) * 1000000
         |           // greatest((SELECT CAST(sum(s_raw) AS BIGINT) FROM r$k), 1), 1) AS s_e6
         |  FROM r$k r)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$iters
       |SELECT i.item, COALESCE(ws.wn, 0) AS wins, s.s_e6 AS score_e6
       |FROM items i JOIN it$iterations s ON i.item = s.item
       |             LEFT JOIN winsum ws ON i.item = ws.item""".stripMargin
  }

  /** Mutual-best ratio-margin mining over the two corpus halves; every
    * step integer-exact after the rounded-6 cosine → e6 quantization, the
    * margin one truncating int64 division (both engines truncate toward
    * zero). Candidates per direction mirror the Spark side's
    * [[graft.operators.Similarity.lshTopKAgainst]] legs: the lsh_topk
    * hyperplane family buckets every vector, query-side rows carry the
    * Hamming-1 multi-probe expansion, and a directed candidate exists iff
    * the query's probe bucket matches the corpus vector's base bucket in
    * some table — exactly [[lshBucketCtes]], restricted by half parity. */
  private[graft] def marginAlignOracle: String =
    s"""WITH ${lshBucketCtes(LshBits, LshTables)}
       |candab AS (
       |  SELECT DISTINCT p.vec_id AS id_a, c.vec_id AS id_b
       |  FROM probes p JOIN buckets c ON p.tbl = c.tbl AND p.bucket = c.bucket
       |  WHERE p.vec_id % 2 = 0 AND c.vec_id % 2 <> 0),
       |candba AS (
       |  SELECT DISTINCT p.vec_id AS id_b, c.vec_id AS id_a
       |  FROM probes p JOIN buckets c ON p.tbl = c.tbl AND p.bucket = c.bucket
       |  WHERE p.vec_id % 2 <> 0 AND c.vec_id % 2 = 0),
       |cand AS (SELECT id_a, id_b FROM candab UNION SELECT id_a, id_b FROM candba),
       |ad AS (
       |  SELECT cd.id_a, cd.id_b, sum(fa.x * fb.x) AS dp
       |  FROM cand cd JOIN flat fa ON fa.vec_id = cd.id_a
       |               JOIN flat fb ON fb.vec_id = cd.id_b AND fb.i = fa.i
       |  GROUP BY cd.id_a, cd.id_b),
       |sc AS (
       |  SELECT id_a, id_b,
       |         CAST(floor(round(dp / (na.nrm * nb.nrm), 6) * 1000000.0 + 0.5) AS BIGINT) AS sim_e6
       |  FROM ad JOIN norms na ON id_a = na.vec_id
       |          JOIN norms nb ON id_b = nb.vec_id
       |  WHERE na.nrm * nb.nrm <> 0),
       |abk AS (SELECT * FROM (
       |    SELECT s.id_a, s.id_b, s.sim_e6, row_number() OVER (PARTITION BY s.id_a
       |      ORDER BY s.sim_e6 DESC, s.id_b ASC) AS rn
       |    FROM sc s JOIN candab c ON s.id_a = c.id_a AND s.id_b = c.id_b) WHERE rn <= $AlignK),
       |bak AS (SELECT * FROM (
       |    SELECT s.id_a, s.id_b, s.sim_e6, row_number() OVER (PARTITION BY s.id_b
       |      ORDER BY s.sim_e6 DESC, s.id_a ASC) AS rn
       |    FROM sc s JOIN candba c ON s.id_a = c.id_a AND s.id_b = c.id_b) WHERE rn <= $AlignK),
       |ah AS (SELECT id_a, CAST(sum(sim_e6) AS BIGINT) AS sum_a_e6,
       |              CAST(count(sim_e6) AS BIGINT) AS n_a FROM abk GROUP BY 1),
       |bh AS (SELECT id_b, CAST(sum(sim_e6) AS BIGINT) AS sum_b_e6,
       |              CAST(count(sim_e6) AS BIGINT) AS n_b FROM bak GROUP BY 1),
       |best AS (
       |  SELECT ab.id_a, ab.id_b, ab.sim_e6 FROM abk ab
       |  JOIN bak ba ON ab.id_a = ba.id_a AND ab.id_b = ba.id_b
       |  WHERE ab.rn = 1 AND ba.rn = 1),
       |m AS (
       |  SELECT best.id_a, best.id_b, best.sim_e6,
       |         CAST((2 * best.sim_e6 * n_a * n_b * 1000000)
       |              // (sum_a_e6 * n_b + sum_b_e6 * n_a) AS BIGINT) AS margin_e6
       |  FROM best JOIN ah ON best.id_a = ah.id_a
       |            JOIN bh ON best.id_b = bh.id_b
       |  WHERE sum_a_e6 * n_b + sum_b_e6 * n_a > 0)
       |SELECT id_a, id_b, sim_e6, margin_e6 FROM m
       |WHERE margin_e6 >= $AlignMinMarginE6""".stripMargin

  /** 2-core peel unrolled to exactly [[KcoreMaxRounds]] rounds — the SAME
    * constant that caps the Spark loop, so the two sides agree at any
    * convergence speed (see the registered query's scaladoc). Each round
    * past the fixpoint is a no-op on both engines. */
  private[graft] def dupGraphKcoreOracle: String = {
    val head =
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
        |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |e0 AS MATERIALIZED (SELECT id_a, id_b FROM (
        |         SELECT i.id_a, i.id_b,
        |           round(CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter), 6)
        |             AS jaccard
        |         FROM inter i JOIN sizes sa ON i.id_a = sa.doc_id
        |                      JOIN sizes sb ON i.id_b = sb.doc_id)
        |       WHERE jaccard >= 0.2)""".stripMargin
    val rounds = (1 to KcoreMaxRounds).map { r =>
      s"""k$r AS MATERIALIZED (SELECT id FROM (SELECT id, count(*) AS d FROM
         |         (SELECT id_a AS id FROM e${r - 1} UNION ALL SELECT id_b FROM e${r - 1})
         |         GROUP BY 1) WHERE d >= 2),
         |e$r AS MATERIALIZED (SELECT id_a, id_b FROM e${r - 1} WHERE id_a IN (SELECT id FROM k$r)
         |                                   AND id_b IN (SELECT id FROM k$r))""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$rounds
       |SELECT id, CAST(count(*) AS BIGINT) AS core_degree FROM
       |  (SELECT id_a AS id FROM e$KcoreMaxRounds UNION ALL SELECT id_b AS id FROM e$KcoreMaxRounds)
       |GROUP BY id""".stripMargin
  }

  private[graft] def nearDupLshOracle: String =
    s"""WITH ${lshBucketCtes(NdBits, NdTables)}
       |cand AS (
       |  SELECT DISTINCT p.vec_id AS id_a, c.vec_id AS id_b
       |  FROM probes p JOIN buckets c
       |    ON p.tbl = c.tbl AND p.bucket = c.bucket AND p.vec_id < c.vec_id),
       |${pairScoreCtes("id_a", "id_b")}
       |SELECT id_a, id_b, cosine_sim FROM scored WHERE cosine_sim >= $NdThreshold""".stripMargin

  /** Shared covariance CTE chain for the [[graft.operators.GramPca]]
    * oracles: e3-quantized elements, exact integer moments, centered
    * covariance in HUGEINT with `//` (truncates toward zero — verified
    * equal to Scala `BigInt./` on negatives). MATERIALIZED because the
    * power-iteration oracle references it from every unrolled round. */
  /** Shared derivation for `export_shards` / `shard_balance`: global
    * token-count rank (two-phase [[graft.operators.GlobalIndex]] — the
    * scalable form, never a single-task window) + the snake assignment.
    * Nonnegative ranks make `div`/`%` portable verbatim. */
  private[graft] def shardAssignFor(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    val ranked = graft.operators.GlobalIndex.withGlobalIndex(docs, "__rn",
      col("n_tok").desc, col("doc_id").asc)
    val pos = pmod(col("__rn"), lit(ShardK.toLong))
    val shard = when(expr(s"(__rn div $ShardK) % 2 = 0"), pos)
      .otherwise(lit(ShardK.toLong - 1) - pos)
    ranked.select(col("doc_id"), col("n_tok"), shard.cast("int").as("shard"))
  }

  private[graft] def embeddingCovCtes: String = embeddingCovCtesFrom("embeddings")

  private[graft] def embeddingCovCtesFrom(src: String): String =
    s"""q AS (SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
      |            CAST(floor(CAST(UNNEST(embedding) AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS q
      |     FROM $src),
      |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM $src),
      |s AS (SELECT pos, CAST(sum(q) AS HUGEINT) AS s FROM q GROUP BY 1),
      |p AS (SELECT a.pos AS i, b.pos AS j, CAST(sum(a.q * b.q) AS HUGEINT) AS p
      |      FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.pos <= b.pos GROUP BY 1, 2),
      |cov AS MATERIALIZED (SELECT p.i, p.j,
      |        CAST((nn.n * p.p - sa.s * sb.s) // (nn.n * nn.n) AS BIGINT) AS cov_q
      |        FROM p CROSS JOIN nn
      |        JOIN s sa ON p.i = sa.pos JOIN s sb ON p.j = sb.pos)""".stripMargin

  /** [[embeddingCovCtes]] + the unrolled mirror of
    * [[graft.operators.GramPca.powerIterate]]: each round is one matvec
    * over the symmetric covariance + the truncating e6 renormalization,
    * bit-identical to the driver-side int64 loop. Ends at CTE
    * `v$PcRounds` (pos, v). */
  private[graft] def embeddingPcChainCtes: String = {
    val rounds = (1 to PcRounds).map { r =>
      s"""w$r AS (SELECT c.i AS pos, CAST(sum(c.cov_q * v.v) AS BIGINT) AS w
         |       FROM covf c JOIN v${r - 1} v ON c.j = v.pos GROUP BY 1),
         |m$r AS (SELECT greatest(CAST(max(abs(w)) // 1000000 AS BIGINT),
         |                        CAST(1 AS BIGINT)) AS m FROM w$r),
         |v$r AS MATERIALIZED (SELECT pos, CAST(w // m AS BIGINT) AS v
         |                     FROM w$r CROSS JOIN m$r)""".stripMargin
    }.mkString(",\n")
    s"""$embeddingCovCtes,
       |covf AS MATERIALIZED (SELECT i, j, cov_q FROM cov
       |         UNION ALL SELECT j, i, cov_q FROM cov WHERE i < j),
       |v0 AS (SELECT DISTINCT i AS pos, CAST(1000000 AS BIGINT) AS v FROM cov),
       |$rounds""".stripMargin
  }

  private[graft] def embeddingTopPcOracle: String =
    s"""WITH $embeddingPcChainCtes
       |SELECT v$PcRounds.pos AS pos, d.cov_q AS var_q, v$PcRounds.v AS pc_scaled
       |FROM v$PcRounds JOIN (SELECT i AS pos, cov_q FROM cov WHERE i = j) d
       |     ON v$PcRounds.pos = d.pos""".stripMargin

  /** Mirror of [[graft.operators.GramPca.topPc2]]: the v$PcRounds chain,
    * then Hotelling deflation with every >64-bit term in HUGEINT (vᵀCv ≈
    * 10²⁰), one `//` truncation per entry — bit-identical to the BigInt
    * driver-side math — and a second unrolled iteration over c2f. */
  private[graft] def embeddingPc2Oracle: String = {
    val rounds2 = (1 to PcRounds).map { r =>
      s"""x$r AS (SELECT c.i AS pos, CAST(sum(c.c2 * v.v) AS BIGINT) AS w
         |       FROM c2f c JOIN u${r - 1} v ON c.j = v.pos GROUP BY 1),
         |y$r AS (SELECT greatest(CAST(max(abs(w)) // 1000000 AS BIGINT),
         |                        CAST(1 AS BIGINT)) AS m FROM x$r),
         |u$r AS MATERIALIZED (SELECT pos, CAST(w // m AS BIGINT) AS v
         |                     FROM x$r CROSS JOIN y$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $embeddingPcChainCtes,
       |wv AS (SELECT c.i AS pos,
       |         CAST(sum(CAST(c.cov_q AS HUGEINT) * v.v) AS HUGEINT) AS w
       |       FROM covf c JOIN v$PcRounds v ON c.j = v.pos GROUP BY 1),
       |lam AS (SELECT CAST(sum(w.w * CAST(v.v AS HUGEINT)) AS HUGEINT) AS lam
       |        FROM wv w JOIN v$PcRounds v ON w.pos = v.pos),
       |vtv AS (SELECT CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS vtv
       |        FROM v$PcRounds),
       |c2f AS MATERIALIZED (
       |  SELECT c.i, c.j,
       |    CAST(c.cov_q - (lam.lam * va.v * vb.v) // (vtv.vtv * vtv.vtv)
       |         AS BIGINT) AS c2
       |  FROM covf c CROSS JOIN lam CROSS JOIN vtv
       |  JOIN v$PcRounds va ON c.i = va.pos
       |  JOIN v$PcRounds vb ON c.j = vb.pos),
       |u0 AS (SELECT DISTINCT i AS pos, CAST(1000000 AS BIGINT) AS v FROM cov),
       |$rounds2
       |SELECT u$PcRounds.pos AS pos, u$PcRounds.v AS pc2_scaled
       |FROM u$PcRounds""".stripMargin
  }

  /** Mirror of [[graft.operators.GramPca.pcScores]]: the same chain, then
    * the centered dot product per vector — center c = Σq // n (truncation
    * toward zero on both engines). */
  private[graft] def embeddingPcScoresOracle: String =
    s"""WITH $embeddingPcChainCtes,
       |center AS (SELECT s.pos, CAST(s.s // nn.n AS BIGINT) AS c
       |           FROM s CROSS JOIN nn)
       |SELECT f.vec_id, CAST(sum((f.q - c.c) * v.v) AS BIGINT) AS score_q
       |FROM q f JOIN center c ON f.pos = c.pos
       |         JOIN v$PcRounds v ON f.pos = v.pos
       |GROUP BY 1""".stripMargin

  /** Mirror of [[graft.operators.Quantize.randomProject]]: the ±1
    * directions enter as a literal VALUES relation generated from the
    * SAME splitmix Rademacher source, and every sum is e6-integer-exact,
    * so the JL audit hash-matches bit-for-bit. */
  private[graft] def rpAuditOracle: String = {
    val values = (0 until RpK).flatMap { i =>
      graft.operators.Similarity.rademacher(1000 + i, Dim).zipWithIndex.map {
        case (v, j) => s"($i,${j + 1},${v.toInt})"
      }
    }.mkString(",")
    s"""WITH rph(i, j, h) AS (VALUES $values),
       |rpflat AS (SELECT vec_id, generate_subscripts(embedding, 1) AS j,
       |                  CAST(floor(CAST(UNNEST(embedding) AS DOUBLE)
       |                             * 1000000.0 + 0.5) AS BIGINT) AS xe6
       |           FROM embeddings),
       |rpn AS (SELECT vec_id, CAST(sum(xe6 * xe6) AS BIGINT) AS norm_sq_e12
       |        FROM rpflat GROUP BY 1),
       |rpp AS (SELECT f.vec_id, d.i, CAST(sum(f.xe6 * d.h) AS BIGINT) AS p
       |        FROM rpflat f JOIN rph d ON f.j = d.j
       |        GROUP BY 1, 2),
       |rpe AS (SELECT vec_id, CAST(sum(p * p) // $RpK AS BIGINT) AS est_sq_e12
       |        FROM rpp GROUP BY 1)
       |SELECT n.vec_id, n.norm_sq_e12, e.est_sq_e12,
       |  CASE WHEN n.norm_sq_e12 > 0
       |       THEN CAST(floor(e.est_sq_e12 * 1.0 / n.norm_sq_e12
       |                       * 1000000.0 + 0.5) AS BIGINT)
       |  END AS ratio_e6
       |FROM rpn n JOIN rpe e ON n.vec_id = e.vec_id""".stripMargin
  }

  /** Unrolled-iteration mirror of [[graft.operators.PageRank.runExactE6]]
    * over the event-type transition graph: every share, dangling split
    * and damped update is the same e6-integer floor division (`//` ==
    * Spark `div` on non-negatives), so three power iterations reproduce
    * bit-for-bit. */
  /** DuckDB mirror of `dup_graph_lpa`: the exact 3-gram Jaccard ≥ 0.2
    * edge set (same prefix as the other dup_graph oracles), then 3
    * unrolled synchronous min-label rounds — round r folds
    * least(own, min over neighbors of round r−1), i.e. min doc_id within
    * r hops, exactly the bounded-round plan the Spark side runs. */
  private[graft] def dupGraphLpaOracle: String = {
    def round(r: Int): String =
      s"""l$r AS MATERIALIZED (
         |  SELECT l.id, min(least(l.lbl, coalesce(x.lbl, l.lbl))) AS lbl
         |  FROM l${r - 1} l
         |  LEFT JOIN sym s ON s.id_a = l.id
         |  LEFT JOIN l${r - 1} x ON x.id = s.id_b
         |  GROUP BY l.id)""".stripMargin
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
      |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |e0 AS MATERIALIZED (SELECT id_a, id_b FROM (
      |         SELECT i.id_a, i.id_b,
      |           round(CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter), 6)
      |             AS jaccard
      |         FROM inter i JOIN sizes sa ON i.id_a = sa.doc_id
      |                      JOIN sizes sb ON i.id_b = sb.doc_id)
      |       WHERE jaccard >= 0.2),
      |sym AS MATERIALIZED (
      |  SELECT id_a, id_b FROM e0
      |  UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM e0),
      |l0 AS (SELECT DISTINCT id_a AS id, id_a AS lbl FROM sym),
      |""".stripMargin +
      (1 to 3).map(round).mkString(",\n") +
      "\nSELECT id AS doc_id, lbl AS community FROM l3"
  }

  private[graft] def pageRankE6Oracle: String = {
    val damp = 850000L
    def iter(i: Int): String = {
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (SELECT e.dst AS id, CAST(sum(r.r // d.od) AS BIGINT) AS m
         |        FROM pe e JOIN $prev r ON e.src = r.id
         |                  JOIN pod d ON e.src = d.src
         |        GROUP BY 1),
         |dg$i AS (SELECT COALESCE(CAST(sum(r.r) AS BIGINT), 0) AS dm
         |         FROM $prev r LEFT JOIN pod d ON r.id = d.src
         |         WHERE d.src IS NULL),
         |r$i AS (SELECT v.id,
         |          CAST((1000000 - $damp) // pn.nv +
         |               ($damp * (COALESCE(c.m, 0) + dg$i.dm // pn.nv)) // 1000000
         |               AS BIGINT) AS r
         |        FROM pv v LEFT JOIN c$i c ON v.id = c.id, pn, dg$i)"""
    }
    s"""WITH pre AS (
       |  SELECT user_id, event_type,
       |         lead(event_type) OVER (PARTITION BY user_id
       |                                ORDER BY ts ASC, event_id ASC) AS nt
       |  FROM events),
       |pe AS (SELECT DISTINCT event_type AS src, nt AS dst
       |       FROM pre WHERE nt IS NOT NULL),
       |pv AS (SELECT src AS id FROM pe UNION SELECT dst FROM pe),
       |pn AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM pv),
       |pod AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM pe GROUP BY 1),
       |r0 AS (SELECT id, CAST(1000000 // pn.nv AS BIGINT) AS r FROM pv, pn),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT id AS event_type, r AS rank_e6 FROM r3""".stripMargin
  }

  /** Mirror of [[graft.operators.PageRank.runPersonalizedE6]] over the
    * brand co-purchase graph: the same unrolled-iteration shape as
    * [[pageRankE6Oracle]], with teleport AND dangling mass restarting at
    * the seed (nS = 1) instead of spread uniformly. */
  /** Mirror of `Text.qualityScoreRaw` — shared by `doc_quality` and the
    * `filter_overlap_venn` flag composition. */
  /** Mirror of `Text.langId` — the per-language stopword argmax with the
    * array_min tie order (und, then de < en < es < fr < zh). Shared by
    * `doc_lang` and (via composition) `annotator_kappa`. */
  private[graft] def docLangOracle: String =
    """WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM documents),
      |s AS (SELECT doc_id,
      |  len(list_intersect(ws, ['the','a','and','of','to','in','is','it','that','for','with','this'])) AS s_en,
      |  len(list_intersect(ws, ['le','la','les','de','et','un','une','est','que','pour','dans','des'])) AS s_fr,
      |  len(list_intersect(ws, ['el','la','los','las','de','y','un','una','es','que','por','para'])) AS s_es,
      |  len(list_intersect(ws, ['der','die','das','und','ein','eine','ist','von','zu','mit','den','nicht'])) AS s_de,
      |  len(list_intersect(ws, ['的','了','是','我','不','在','有','他','这','人','们','中'])) AS s_zh
      |  FROM t)
      |SELECT doc_id, CASE
      |  WHEN greatest(s_en, s_fr, s_es, s_de, s_zh) = 0 THEN 'und'
      |  WHEN s_de = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'de'
      |  WHEN s_en = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'en'
      |  WHEN s_es = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'es'
      |  WHEN s_fr = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'fr'
      |  ELSE 'zh' END AS lang_pred
      |FROM s""".stripMargin

  private[graft] def docQualityOracle: String =
    """WITH t AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS ws,
      |         CAST(length(text) AS DOUBLE) AS nchars
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, nchars, ws,
      |         CAST(len(ws) AS DOUBLE) AS ntok,
      |         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha
      |  FROM t)
      |SELECT doc_id,
      |  CAST(CASE WHEN nchars = 0 THEN 0 ELSE floor((
      |    least(ntok / 100.0, 1.0) * 0.3
      |    + (alpha / nchars) * 0.3
      |    + (CASE WHEN (nchars - (ntok - 1)) / ntok BETWEEN 2.0 AND 12.0
      |            THEN 1.0 ELSE 0.3 END) * 0.2
      |    + (CASE WHEN len(list_intersect(ws,
      |         ['the','a','an','and','of','to','in','is','it','that'])) > 0
      |            THEN 1.0 ELSE 0.5 END)* 0.2) * 1000000.0 + 0.5) END AS BIGINT) AS quality_e6
      |FROM s""".stripMargin

  /** Mirror of `Text.repetitionFromTokens` (2- and 3-gram) — shared by
    * `doc_repetition` and `filter_overlap_venn`. */
  private[graft] def docRepetitionOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g2 AS (SELECT doc_id, count(DISTINCT array_to_string(ws[i:i+1], ' ')) AS d,
      |              any_value(len(ws)) - 1 AS tot
      |       FROM t, UNNEST(range(1, len(ws))) AS r(i) WHERE len(ws) >= 2
      |       GROUP BY doc_id),
      |g3 AS (SELECT doc_id, count(DISTINCT array_to_string(ws[i:i+2], ' ')) AS d,
      |              any_value(len(ws)) - 2 AS tot
      |       FROM t, UNNEST(range(1, len(ws) - 1)) AS r(i) WHERE len(ws) >= 3
      |       GROUP BY doc_id)
      |SELECT t.doc_id,
      |  CAST(floor(COALESCE((g2.tot - g2.d) * 1.0 / g2.tot, 0.0)
      |             * 1000000.0 + 0.5) AS BIGINT) AS rep2_e6,
      |  CAST(floor(COALESCE((g3.tot - g3.d) * 1.0 / g3.tot, 0.0)
      |             * 1000000.0 + 0.5) AS BIGINT) AS rep3_e6
      |FROM t LEFT JOIN g2 USING (doc_id) LEFT JOIN g3 USING (doc_id)""".stripMargin

  /** Connected components over the 3-gram Jaccard dup graph — shared by
    * `dedup_clusters` (raw assignments) and `dup_cluster_sizes`
    * (size histogram wrapping it as a derived table). */
  private[graft] def dedupClustersOracle: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
      |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |p AS (
      |  SELECT id_a, id_b FROM (
      |    SELECT i.id_a, i.id_b,
      |           CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS j
      |    FROM inter i
      |    JOIN sizes sa ON i.id_a = sa.doc_id
      |    JOIN sizes sb ON i.id_b = sb.doc_id)
      |  WHERE round(j, 6) >= 0.2),
      |e AS (SELECT id_a AS src, id_b AS dst FROM p
      |      UNION SELECT id_b, id_a FROM p),
      |v AS (SELECT DISTINCT src AS id FROM e),
      |reach(id, r) AS (
      |  SELECT id, id FROM v
      |  UNION
      |  SELECT e.dst, reach.r FROM e JOIN reach ON e.src = reach.id)
      |SELECT id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin

  private[graft] def pprBrandOracle: String = {
    val damp = 850000L
    def iter(i: Int): String = {
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (SELECT e.dst AS id, CAST(sum(r.r // d.od) AS BIGINT) AS m
         |        FROM pe e JOIN $prev r ON e.src = r.id
         |                  JOIN pod d ON e.src = d.src
         |        GROUP BY 1),
         |dg$i AS (SELECT COALESCE(CAST(sum(r.r) AS BIGINT), 0) AS dm
         |         FROM $prev r LEFT JOIN pod d ON r.id = d.src
         |         WHERE d.src IS NULL),
         |r$i AS (SELECT v.id, v.s,
         |          CAST(v.s * ((1000000 - $damp) // 1) +
         |               ($damp * (COALESCE(c.m, 0) + v.s * (dg$i.dm // 1)))
         |               // 1000000 AS BIGINT) AS r
         |        FROM pvs v LEFT JOIN c$i c ON v.id = c.id, dg$i)"""
    }
    s"""WITH ob AS (
       |  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |pe AS (SELECT DISTINCT x.brand AS src, y.brand AS dst
       |       FROM ob x JOIN ob y ON x.okey = y.okey AND x.brand <> y.brand),
       |pv AS (SELECT src AS id FROM pe UNION SELECT dst FROM pe
       |       UNION SELECT '$PprSeed'),
       |pvs AS (SELECT id, CASE WHEN id = '$PprSeed' THEN 1 ELSE 0 END AS s
       |        FROM pv),
       |pod AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM pe GROUP BY 1),
       |r0 AS (SELECT id, s, CAST(s * (1000000 // 1) AS BIGINT) AS r FROM pvs),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT id AS brand, r AS rank_e6 FROM r$PprIters""".stripMargin
  }

  /** Triangle counts over the simhash_pairs edge set (the generated
    * [[simHashOracle]] as a derived table, the minhash_accuracy wrapping
    * pattern); triangles enumerated canonically (a<b<c) — the triangle
    * SET is orientation-independent, so this matches the engine's
    * degree-ordered enumeration row-for-row. */
  private[graft] def dupTrianglesOracle: String =
    s"""WITH sp AS (SELECT id_a, id_b FROM ($simHashOracle)),
       |e AS (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
       |      FROM sp WHERE id_a <> id_b),
       |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |        FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
       |        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
       |tnodes AS (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
       |           UNION ALL SELECT z FROM tri)
       |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_triangles
       |FROM tnodes GROUP BY 1""".stripMargin

  /** Canonical undirected edge set of the simhash near-dup graph — the
    * shared derived table under the triangle / clustering-coefficient /
    * link-prediction oracles. */
  private[graft] def dupEdgesCte: String =
    s"""sp AS (SELECT id_a, id_b FROM ($simHashOracle)),
       |e AS (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
       |      FROM sp WHERE id_a <> id_b)""".stripMargin

  /** Mirror of [[SparkEntry.queries]] `dup_graph_clustering_coeff`:
    * degree + canonical triangle counts over [[dupEdgesCte]], coefficient
    * as the exact HUGEINT-staged e6 rational. */
  private[graft] def clusteringCoeffOracle: String =
    s"""WITH $dupEdgesCte,
       |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
       |          SELECT a AS id FROM e UNION ALL SELECT b FROM e)
       |        GROUP BY 1),
       |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |        FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
       |        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
       |tcnt AS (SELECT id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
       |           SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
       |           UNION ALL SELECT z FROM tri)
       |         GROUP BY 1)
       |SELECT deg.id AS doc_id, degree,
       |       CAST(COALESCE(n_triangles, 0) AS BIGINT) AS n_triangles,
       |       CAST(CAST(COALESCE(n_triangles, 0) AS HUGEINT) * 2000000
       |            // (CAST(degree AS HUGEINT) * (degree - 1)) AS BIGINT)
       |         AS clustering_e6
       |FROM deg LEFT JOIN tcnt ON deg.id = tcnt.id
       |WHERE degree >= 2""".stripMargin

  /** Mirror of `dup_graph_harmonic`: radius-3 shells over [[dupEdgesCte]]
    * with the same HarmonicCapD smallest-id expansion cap and NOT-EXISTS
    * dedup so every pair lands at its earliest capped distance. */
  private[graft] def harmonicOracle: String =
    s"""WITH $dupEdgesCte,
       |hadj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
       |hcap AS (SELECT u, v FROM (
       |           SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY v) AS rn
       |           FROM hadj) WHERE rn <= $HarmonicCapD),
       |h1 AS (SELECT DISTINCT u, v FROM hadj),
       |h2 AS (SELECT DISTINCT a.u, b.v
       |       FROM h1 a JOIN hcap b ON b.u = a.v
       |       WHERE b.v <> a.u
       |         AND NOT EXISTS (SELECT 1 FROM h1 x WHERE x.u = a.u AND x.v = b.v)),
       |h3 AS (SELECT DISTINCT a.u, b.v
       |       FROM h2 a JOIN hcap b ON b.u = a.v
       |       WHERE b.v <> a.u
       |         AND NOT EXISTS (SELECT 1 FROM h1 x WHERE x.u = a.u AND x.v = b.v)
       |         AND NOT EXISTS (SELECT 1 FROM h2 x WHERE x.u = a.u AND x.v = b.v)),
       |hd AS (SELECT u, v, 1 AS d FROM h1
       |       UNION ALL SELECT u, v, 2 FROM h2
       |       UNION ALL SELECT u, v, 3 FROM h3)
       |SELECT u AS doc_id,
       |  CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
       |  CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_d2,
       |  CAST(sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_d3,
       |  CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) * 1000000
       |     + sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) * 500000
       |     + sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) * 333333 AS BIGINT) AS harmonic_e6
       |FROM hd GROUP BY 1""".stripMargin

  /** Mirror of `dup_link_prediction`: capped-center wedge counting minus
    * existing edges, deterministic top-k. */
  private[graft] def linkPredictionOracle: String =
    s"""WITH $dupEdgesCte,
       |adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT u, count(*) AS d FROM adj GROUP BY 1),
       |nb AS (SELECT adj.u, adj.v FROM adj JOIN deg USING (u)
       |       WHERE d <= $LpDegCap),
       |sc AS (SELECT n1.v AS v, n2.v AS w, CAST(count(*) AS BIGINT) AS n_common
       |       FROM nb n1 JOIN nb n2 ON n1.u = n2.u AND n1.v < n2.v
       |       GROUP BY 1, 2),
       |np AS (SELECT v, w, n_common FROM sc
       |       WHERE NOT EXISTS (SELECT 1 FROM e WHERE a = sc.v AND b = sc.w))
       |SELECT v AS doc_a, w AS doc_b, n_common
       |FROM np ORDER BY n_common DESC, doc_a, doc_b LIMIT $LpTopK""".stripMargin

  /** Banded-Jaccard canonical pair set (threshold 0.2) — the shared
    * derived table under the crosstab / Fellegi-Sunter oracles; mirrors
    * the inline `jaccard_pairs` oracle. */
  private[graft] def jaccardPairsCte: String =
    """jtoks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |jgrams AS (
      |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
      |  FROM jtoks, UNNEST(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
      |jsizes AS (SELECT doc_id, count(*) AS n FROM jgrams GROUP BY doc_id),
      |jinter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      |  FROM jgrams a JOIN jgrams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |jp AS (
      |  SELECT i.id_a, i.id_b
      |  FROM jinter i JOIN jsizes sa ON i.id_a = sa.doc_id
      |                JOIN jsizes sb ON i.id_b = sb.doc_id
      |  WHERE round(CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter), 6)
      |          >= 0.2)""".stripMargin

  private[graft] def dupSourceCrosstabOracle: String =
    s"""WITH $jaccardPairsCte
       |SELECT least(sa.source, sb.source) AS source_a,
       |       greatest(sa.source, sb.source) AS source_b,
       |       CAST(count(*) AS BIGINT) AS n_pairs
       |FROM jp JOIN documents sa ON jp.id_a = sa.doc_id
       |        JOIN documents sb ON jp.id_b = sb.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** Mirror of `er_field_weights`: m from the Jaccard match pairs, u from
    * SNM candidates minus matches, exact e6 rationals throughout. */
  private[graft] def erFieldWeightsOracle: String =
    s"""WITH $jaccardPairsCte,
       |snmk AS (
       |  SELECT doc_id, row_number() OVER (
       |           ORDER BY substr(coalesce(lower(text), ''), 1, $SnmKeyLen),
       |                    doc_id) AS rn
       |  FROM documents),
       |cand AS (SELECT least(a.doc_id, b.doc_id) AS id_a,
       |                greatest(a.doc_id, b.doc_id) AS id_b
       |         FROM snmk a JOIN snmk b ON b.rn - a.rn BETWEEN 1 AND $SnmWindow),
       |u AS (SELECT id_a, id_b FROM cand
       |      WHERE NOT EXISTS (SELECT 1 FROM jp
       |                        WHERE jp.id_a = cand.id_a AND jp.id_b = cand.id_b)),
       |att AS (SELECT doc_id, lang, source,
       |               CAST(n_chars AS BIGINT) // 100 AS len_band
       |        FROM documents),
       |ma AS (SELECT CAST(count(*) AS BIGINT) AS m_total,
       |         CAST(count(CASE WHEN a.lang = b.lang THEN 1 END) AS BIGINT) AS m_lang,
       |         CAST(count(CASE WHEN a.source = b.source THEN 1 END) AS BIGINT) AS m_src,
       |         CAST(count(CASE WHEN a.len_band = b.len_band THEN 1 END) AS BIGINT) AS m_len
       |       FROM jp JOIN att a ON jp.id_a = a.doc_id
       |               JOIN att b ON jp.id_b = b.doc_id),
       |ua AS (SELECT CAST(count(*) AS BIGINT) AS u_total,
       |         CAST(count(CASE WHEN a.lang = b.lang THEN 1 END) AS BIGINT) AS u_lang,
       |         CAST(count(CASE WHEN a.source = b.source THEN 1 END) AS BIGINT) AS u_src,
       |         CAST(count(CASE WHEN a.len_band = b.len_band THEN 1 END) AS BIGINT) AS u_len
       |       FROM u JOIN att a ON u.id_a = a.doc_id
       |              JOIN att b ON u.id_b = b.doc_id),
       |rows_ AS (
       |  SELECT 'lang' AS field, m_lang AS m_agree, m_total, u_lang AS u_agree,
       |         u_total FROM ma, ua
       |  UNION ALL
       |  SELECT 'source', m_src, m_total, u_src, u_total FROM ma, ua
       |  UNION ALL
       |  SELECT 'len_band', m_len, m_total, u_len, u_total FROM ma, ua)
       |SELECT field, m_agree, m_total, u_agree, u_total,
       |  CAST(m_agree * 1000000 // nullif(m_total, 0) AS BIGINT) AS m_e6,
       |  CAST(u_agree * 1000000 // nullif(u_total, 0) AS BIGINT) AS u_e6,
       |  CAST((m_agree * 1000000 // nullif(m_total, 0)) * 1000000
       |       // nullif(u_agree * 1000000 // nullif(u_total, 0), 0) AS BIGINT)
       |    AS weight_ratio_e6
       |FROM rows_""".stripMargin

  /** Mirror of `daily_acf`: scaled-residual integer autocorrelation over
    * the calendar-bounded daily revenue series. */
  private[graft] def dailyAcfOracle: String =
    """WITH daily AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
      |  FROM orders GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |              CAST(sum(c) AS BIGINT) AS s_sum FROM daily),
      |y AS (SELECT t, CAST(c * n - s_sum AS HUGEINT) AS y FROM daily, st),
      |d2 AS (SELECT sum(y * y) AS d2 FROM y),
      |lags AS (SELECT UNNEST(range(1, 8)) AS lag),
      |num AS (SELECT lag, sum(y1.y * y2.y) AS num,
      |               CAST(count(*) AS BIGINT) AS n_pairs
      |        FROM lags CROSS JOIN y y1 JOIN y y2 ON y2.t = y1.t + lags.lag
      |        GROUP BY 1)
      |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
      |       CAST(num * 1000000 // nullif(d2.d2, 0) AS BIGINT) AS acf_e6
      |FROM num, d2""".stripMargin

  /** Mirror of `value_trimmed_mean`: grouped-rank partial-keep trim (the
    * oracle may use a plain cumulative window — DuckDB's single node IS
    * one task). */
  private[graft] def valueTrimmedMeanOracle: String =
    """WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents
      |           FROM events WHERE value IS NOT NULL),
      |g AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1),
      |c AS (SELECT *, CAST(sum(cnt) OVER (ORDER BY cents) AS BIGINT) AS cum FROM g),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s_all FROM v),
      |j AS (SELECT c.*, t.n, t.s_all, t.n * 5 // 100 AS k FROM c, t),
      |kk AS (SELECT *, greatest(0, least(cum, n - k) - greatest(cum - cnt, k)) AS kept
      |       FROM j)
      |SELECT max(n) AS n, CAST(max(k) AS BIGINT) AS k_trim,
      |  min(CASE WHEN kept > 0 THEN cents END) AS lo_cents,
      |  max(CASE WHEN kept > 0 THEN cents END) AS hi_cents,
      |  CAST(CAST(sum(kept * cents) AS HUGEINT) * 1000000
      |       // nullif(max(n) - 2 * max(k), 0) AS BIGINT) AS trimmed_mean_e6,
      |  CAST(CAST(max(s_all) AS HUGEINT) * 1000000
      |       // nullif(max(n), 0) AS BIGINT) AS mean_e6
      |FROM kk""".stripMargin

  private[graft] def weekdayIndexOracle: String =
    """WITH b AS (
      |  SELECT (CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) + 4) % 7
      |           AS dow,
      |         CAST(count(*) AS BIGINT) AS n_orders,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_all,
      |             CAST(sum(cents) AS BIGINT) AS c_all FROM b)
      |SELECT dow, n_orders, cents,
      |  CAST(CAST(cents AS HUGEINT) * n_all * 1000000
      |       // (CAST(n_orders AS HUGEINT) * c_all) AS BIGINT) AS rev_index_e6
      |FROM b, t""".stripMargin

  /** Mirror of `dup_graph_assortativity` over [[dupEdgesCte]]. */
  private[graft] def assortativityOracle: String =
    s"""WITH $dupEdgesCte,
       |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
       |          SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
       |sym AS (SELECT ddx.d AS dx, ddy.d AS dy
       |        FROM (SELECT a AS x, b AS y FROM e
       |              UNION ALL SELECT b, a FROM e) s
       |        JOIN deg ddx ON s.x = ddx.id JOIN deg ddy ON s.y = ddy.id),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m2, CAST(sum(dx) AS BIGINT) AS sx,
       |             CAST(sum(dx * dx) AS BIGINT) AS sxx,
       |             CAST(sum(dx * dy) AS BIGINT) AS sxy
       |      FROM sym)
       |SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
       |  CAST((CAST(m2 AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sx) * 1000000
       |       // nullif(CAST(m2 AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx, 0)
       |       AS BIGINT) AS assortativity_e6
       |FROM m""".stripMargin

  private[graft] def supplierHhiOracle: String =
    """WITH bs AS (SELECT l_suppkey,
      |              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |                   AS BIGINT) AS cents
      |            FROM lineitem GROUP BY 1),
      |n AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
      |             CAST(sum(cents) AS BIGINT) AS nation_cents,
      |             sum(CAST(cents AS HUGEINT) * cents) AS sq
      |      FROM bs JOIN supplier ON l_suppkey = s_suppkey
      |              JOIN nation ON s_nationkey = n_nationkey
      |      GROUP BY 1)
      |SELECT n_name, n_suppliers, nation_cents,
      |  CAST(sq * 1000000 // nullif(CAST(nation_cents AS HUGEINT) * nation_cents, 0)
      |       AS BIGINT) AS hhi_e6
      |FROM n""".stripMargin

  private[graft] def eventsBurstinessOracle: String =
    """WITH h AS (SELECT epoch_us(ts) // 1000000 // 3600 AS h,
      |                  CAST(count(*) AS BIGINT) AS c
      |           FROM events WHERE ts IS NOT NULL GROUP BY 1),
      |m AS (SELECT CAST(max(h) - min(h) + 1 AS BIGINT) AS n_hours,
      |             CAST(sum(c) AS BIGINT) AS n_events,
      |             sum(CAST(c AS HUGEINT) * c) AS sq
      |      FROM h)
      |SELECT n_hours, n_events,
      |  CAST((CAST(n_hours AS HUGEINT) * sq -
      |        CAST(n_events AS HUGEINT) * n_events) * 1000000
      |       // nullif(CAST(n_hours AS HUGEINT) * n_events, 0) AS BIGINT)
      |    AS fano_e6
      |FROM m""".stripMargin

  private[graft] def q21WaitingSuppliersOracle: String =
    """WITH pos AS (
      |  SELECT l_orderkey, l_suppkey,
      |         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |                  THEN 1 ELSE 0 END) AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |po AS (SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late_supp
      |       FROM pos GROUP BY 1)
      |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM pos JOIN po USING (l_orderkey)
      |         JOIN supplier ON l_suppkey = s_suppkey
      |WHERE pos.late = 1 AND po.n_supp >= 2 AND po.n_late_supp = 1
      |GROUP BY 1, 2""".stripMargin

  private[graft] def abcClassificationOracle: String =
    """WITH bp AS (SELECT l_partkey,
      |              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |                   AS BIGINT) AS cents
      |            FROM lineitem GROUP BY 1),
      |c AS (SELECT *, CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey)
      |                     AS BIGINT) AS cum_cents FROM bp),
      |t AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM bp)
      |SELECT CASE WHEN cum_cents * 100 <= total_cents * 80 THEN 'A'
      |            WHEN cum_cents * 100 <= total_cents * 95 THEN 'B'
      |            ELSE 'C' END AS abc_class,
      |       CAST(count(*) AS BIGINT) AS n_parts,
      |       CAST(sum(cents) AS BIGINT) AS class_cents,
      |       CAST(CAST(sum(cents) AS HUGEINT) * 1000000
      |            // nullif(max(total_cents), 0) AS BIGINT) AS rev_share_e6
      |FROM c, t GROUP BY 1""".stripMargin

  private[graft] def lorenzDecilesOracle: String =
    """WITH bc AS (SELECT o_custkey,
      |              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |                   AS BIGINT) AS cents
      |            FROM orders GROUP BY 1),
      |r AS (SELECT *,
      |        CAST(sum(cents) OVER (ORDER BY cents ASC, o_custkey ASC)
      |             AS BIGINT) AS cum_cents,
      |        CAST(row_number() OVER (ORDER BY cents ASC, o_custkey ASC)
      |             AS BIGINT) AS rnk
      |      FROM bc),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(cents) AS BIGINT) AS total FROM bc)
      |SELECT CAST((10 * rnk + n - 1) // n AS BIGINT) AS decile,
      |       CAST(count(*) AS BIGINT) AS n_customers,
      |       CAST(CAST(max(cum_cents) AS HUGEINT) * 1000000
      |            // nullif(max(total), 0) AS BIGINT) AS cum_share_e6
      |FROM r, t GROUP BY 1""".stripMargin

  private[graft] def nullMatrixOracle: String =
    """SELECT coalesce(event_type, '__null__') AS event_type,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(CASE WHEN user_id IS NULL THEN 1 END) AS BIGINT) AS null_user_id,
      |  CAST(count(CASE WHEN value IS NULL THEN 1 END) AS BIGINT) AS null_value,
      |  CAST(count(CASE WHEN props IS NULL THEN 1 END) AS BIGINT) AS null_props,
      |  CAST(count(CASE WHEN ts IS NULL THEN 1 END) AS BIGINT) AS null_ts
      |FROM events GROUP BY 1""".stripMargin

  /** Mirror of `bounce_rate` on the shared `sessionize` definition. */
  private[graft] def bounceRateOracle: String =
    """WITH x AS (
      |  SELECT user_id, event_id, ts,
      |         lag(ts) OVER (PARTITION BY user_id
      |                       ORDER BY ts ASC, event_id ASC) AS prev_ts
      |  FROM events),
      |y AS (
      |  SELECT user_id, event_id, ts,
      |         CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800
      |              THEN 1 ELSE 0 END AS is_new
      |  FROM x),
      |z AS (
      |  SELECT user_id, event_id,
      |         sum(is_new) OVER (PARTITION BY user_id
      |                           ORDER BY ts ASC, event_id ASC
      |                           ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM y),
      |sess AS (SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS depth
      |         FROM z GROUP BY 1, 2)
      |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
      |  CAST(count(CASE WHEN depth = 1 THEN 1 END) AS BIGINT) AS n_bounce,
      |  CAST(count(CASE WHEN depth = 1 THEN 1 END) * 1000000
      |       // nullif(count(*), 0) AS BIGINT) AS bounce_rate_e6,
      |  CAST(CAST(sum(depth) AS HUGEINT) * 1000000
      |       // nullif(count(*), 0) AS BIGINT) AS mean_depth_e6
      |FROM sess""".stripMargin

  /** DuckDB mirror of `poisson_bootstrap_ci`: the same md5-derived 60-bit
    * row hash, the same multiply-shift family member per resample (the
    * multipliers baked into a VALUES relation), the same frozen
    * inverse-CDF thresholds from [[PoisCumE60]], and floor division for
    * the e6 mean — bit-identical across engines. */
  private[graft] def poissonBootstrapOracle: String = {
    val mults = (0 until BootResamples)
      .map(b => s"($b,${graft.functions.PortableHash.multiplier(b)})").mkString(",")
    val u = graft.functions.PortableHash.duckdbFamilySql("h.h", "mm.m", "mm.b")
    s"""WITH ev AS (SELECT CAST(event_id AS VARCHAR) AS eid,
       |                   CAST(round(value * 100) AS BIGINT) AS v FROM events),
       |h AS (SELECT ${dh("eid")} AS h, v FROM ev),
       |mm(b, m) AS (VALUES $mults),
       |u AS (SELECT mm.b AS resample, $u AS u, h.v FROM h CROSS JOIN mm),
       |w AS (SELECT resample, ${poisWeightSql("u")} AS w, v FROM u),
       |agg AS (SELECT resample,
       |               CAST(sum(CASE WHEN v IS NOT NULL THEN w END) AS BIGINT) AS n_rows,
       |               CAST(sum(CAST(w AS BIGINT) * v) AS BIGINT) AS sum_v
       |        FROM w GROUP BY 1)
       |SELECT CAST(resample AS INTEGER) AS resample, n_rows, sum_v,
       |       CAST((CAST(sum_v AS HUGEINT) * 1000000) // n_rows AS BIGINT)
       |         AS mean_cents_e6
       |FROM agg""".stripMargin
  }

  /** DuckDB mirror of `jackknife_buckets`: user buckets from the portable
    * 60-bit hash mod G, leave-one-out e6 means via the same floor
    * division both engines compute exactly. */
  private[graft] def jackknifeBucketsOracle: String =
    s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS uid,
       |                   CAST(round(value * 100) AS BIGINT) AS v FROM events),
       |per AS (SELECT ${dh("uid")} % $JackBuckets AS g,
       |               CAST(count(v) AS BIGINT) AS n_g,
       |               CAST(sum(v) AS BIGINT) AS s_g
       |        FROM ev GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_tot,
       |               CAST(sum(s_g) AS BIGINT) AS s_tot FROM per)
       |SELECT CAST(g AS INTEGER) AS bucket, n_g, s_g,
       |       CAST((CAST(s_tot - s_g AS HUGEINT) * 1000000)
       |            // (n_tot - n_g) AS BIGINT) AS loo_mean_e6
       |FROM per, tot""".stripMargin

  /** DuckDB mirror of `permutation_test`: same one-md5 hash, same
    * multiply-shift relabel bits (u < 2^59 ⇒ label A), observed labels as
    * resample −1, truncating division over non-negative numerators. */
  private[graft] def permutationTestOracle: String = {
    val mults = (0 until BootResamples)
      .map(b => s"($b,${graft.functions.PortableHash.multiplier(b)})").mkString(",")
    val u = graft.functions.PortableHash.duckdbFamilySql("h.h", "mm.m", "mm.b")
    s"""WITH ev AS (SELECT CAST(event_id AS VARCHAR) AS eid,
       |                   CAST(round(value * 100) AS BIGINT) AS v,
       |                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS obs
       |            FROM events
       |            WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')),
       |h AS (SELECT ${dh("eid")} AS h, v, obs FROM ev),
       |mm(b, m) AS (VALUES $mults),
       |lab AS (SELECT mm.b AS resample,
       |               CASE WHEN $u < ${1L << 59} THEN 1 ELSE 0 END AS lab, h.v
       |        FROM h CROSS JOIN mm
       |        UNION ALL
       |        SELECT -1 AS resample, obs AS lab, v FROM h),
       |agg AS (SELECT resample,
       |               CAST(sum(lab) AS BIGINT) AS n_a,
       |               CAST(sum(lab * v) AS BIGINT) AS s_a,
       |               CAST(count(*) - sum(lab) AS BIGINT) AS n_b,
       |               CAST(sum(v) - sum(lab * v) AS BIGINT) AS s_b
       |        FROM lab GROUP BY 1)
       |SELECT CAST(resample AS INTEGER) AS resample, n_a, n_b,
       |       CAST((CAST(s_a AS HUGEINT) * 1000000) // nullif(n_a, 0)
       |            - (CAST(s_b AS HUGEINT) * 1000000) // nullif(n_b, 0)
       |            AS BIGINT) AS mean_diff_e6
       |FROM agg""".stripMargin
  }

  private[graft] def ksTwoSampleOracle: String =
    """WITH ev AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents,
      |                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS isv
      |            FROM events
      |            WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')),
      |g AS (SELECT cents, CAST(sum(isv) AS BIGINT) AS n1,
      |             CAST(sum(1 - isv) AS BIGINT) AS n2
      |      FROM ev GROUP BY 1),
      |c AS (SELECT cents,
      |             sum(n1) OVER (ORDER BY cents) AS cum1,
      |             sum(n2) OVER (ORDER BY cents) AS cum2 FROM g),
      |tot AS (SELECT CAST(sum(n1) AS BIGINT) AS t1,
      |               CAST(sum(n2) AS BIGINT) AS t2 FROM g),
      |d AS (SELECT cents, t1, t2,
      |             abs(CAST(cum1 AS HUGEINT) * t2 - CAST(cum2 AS HUGEINT) * t1)
      |               AS num
      |      FROM c, tot)
      |SELECT t1 AS n_view, t2 AS n_purchase, cents AS d_at_cents,
      |       CAST((num * 1000000) // nullif(CAST(t1 AS HUGEINT) * t2, 0)
      |            AS BIGINT) AS d_e6
      |FROM d ORDER BY num DESC, cents ASC LIMIT 1""".stripMargin

  /** DuckDB mirror of `annotator_kappa`, COMPOSED from the shared
    * [[docQualityOracle]] and [[docLangOracle]] CTEs (the
    * filter_overlap_venn precedent) so the quality weights and the
    * language word lists live in exactly one SQL copy each;
    * HUGEINT-staged kappa with truncating division (kappa can be
    * negative -- `//`/`div` agree on truncation toward zero). */
  private[graft] def annotatorKappaOracle: String =
    s"""WITH q AS ($docQualityOracle),
      |l AS ($docLangOracle),
      |f AS (SELECT CASE WHEN q.quality_e6 >= 800000 THEN 1 ELSE 0 END AS a,
      |             CASE WHEN l.lang_pred = 'en' THEN 1 ELSE 0 END AS b
      |      FROM q JOIN l ON q.doc_id = l.doc_id),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(a) AS BIGINT) AS a1,
      |             CAST(sum(b) AS BIGINT) AS b1,
      |             CAST(sum(a * b) AS BIGINT) AS n11
      |      FROM f)
      |SELECT n AS n_docs, a1 AS n_quality, b1 AS n_english,
      |       n - a1 - b1 + 2 * n11 AS n_agree,
      |       CAST((n - a1 - b1 + 2 * n11) * 1000000 // nullif(n, 0) AS BIGINT) AS po_e6,
      |       CAST((CAST(n AS HUGEINT) * (n - a1 - b1 + 2 * n11)
      |              - (CAST(a1 AS HUGEINT) * b1
      |                 + CAST(n - a1 AS HUGEINT) * (n - b1))) * 1000000
      |            // nullif(CAST(n AS HUGEINT) * n
      |              - (CAST(a1 AS HUGEINT) * b1
      |                 + CAST(n - a1 AS HUGEINT) * (n - b1)), 0)
      |            AS BIGINT) AS kappa_e6
      |FROM m""".stripMargin

  /** DuckDB mirror of `isotonic_calibration`: identical bit-length
    * buckets, pooled-mean grid, and minimax windows — floor commutes
    * with min/max, so truncating each pooled mean first is exact. */
  private[graft] def isotonicCalibrationOracle: String =
    """WITH ev AS (SELECT
      |  CAST(length(bin(CAST(round(value * 100) AS BIGINT))) AS INT) AS b,
      |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      |cum AS (SELECT b, CAST(count(*) AS BIGINT) AS n,
      |               CAST(sum(pos) AS BIGINT) AS p,
      |               CAST(sum(count(*)) OVER (ORDER BY b) AS BIGINT) AS cn,
      |               CAST(sum(sum(pos)) OVER (ORDER BY b) AS BIGINT) AS cp
      |        FROM ev GROUP BY 1),
      |pairs AS (SELECT l.b AS j, h.b AS k,
      |                 CAST((h.cp - (l.cp - l.p)) * 1000000
      |                      // (h.cn - (l.cn - l.n)) AS BIGINT) AS m_e6
      |          FROM cum l JOIN cum h ON l.b <= h.b),
      |s1 AS (SELECT j, k, min(m_e6) OVER (PARTITION BY j ORDER BY k DESC
      |              ROWS UNBOUNDED PRECEDING) AS minK FROM pairs),
      |s2 AS (SELECT j, k, max(minK) OVER (PARTITION BY k ORDER BY j ASC
      |              ROWS UNBOUNDED PRECEDING) AS iso_e6 FROM s1)
      |SELECT c.b AS bucket, c.n, c.p AS n_pos,
      |       CAST(c.p * 1000000 // c.n AS BIGINT) AS rate_e6,
      |       CAST(s.iso_e6 AS BIGINT) AS iso_e6
      |FROM cum c JOIN s2 s ON s.j = c.b AND s.k = c.b""".stripMargin

  /** DuckDB mirror of `brier_decomposition`: the isotonic fit CTEs plus
    * the Murphy terms — the Σ(f−o)² form is division-free and exact;
    * the two ō² terms truncate identically in both engines. */
  private[graft] def brierDecompositionOracle: String =
    """WITH ev AS (SELECT
      |  CAST(length(bin(CAST(round(value * 100) AS BIGINT))) AS INT) AS b,
      |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      |cum AS (SELECT b, CAST(count(*) AS BIGINT) AS n,
      |               CAST(sum(pos) AS BIGINT) AS p,
      |               CAST(sum(count(*)) OVER (ORDER BY b) AS BIGINT) AS cn,
      |               CAST(sum(sum(pos)) OVER (ORDER BY b) AS BIGINT) AS cp
      |        FROM ev GROUP BY 1),
      |pairs AS (SELECT l.b AS j, h.b AS k,
      |                 CAST((h.cp - (l.cp - l.p)) * 1000000
      |                      // (h.cn - (l.cn - l.n)) AS BIGINT) AS m_e6
      |          FROM cum l JOIN cum h ON l.b <= h.b),
      |s1 AS (SELECT j, k, min(m_e6) OVER (PARTITION BY j ORDER BY k DESC
      |              ROWS UNBOUNDED PRECEDING) AS minK FROM pairs),
      |s2 AS (SELECT j, k, max(minK) OVER (PARTITION BY k ORDER BY j ASC
      |              ROWS UNBOUNDED PRECEDING) AS iso_e6 FROM s1),
      |fit AS (SELECT c.n, c.p, CAST(s.iso_e6 AS BIGINT) AS f
      |        FROM cum c JOIN s2 s ON s.j = c.b AND s.k = c.b),
      |per AS (SELECT n, p,
      |          CAST(n AS HUGEINT) * f * f
      |            - 2 * CAST(f AS HUGEINT) * 1000000 * p
      |            + CAST(p AS HUGEINT) * 1000000000000 AS sq,
      |          (CAST(p AS HUGEINT) * p * 1000000000000) // n AS nob2
      |        FROM fit),
      |m AS (SELECT CAST(sum(n) AS HUGEINT) AS nn,
      |             CAST(sum(p) AS HUGEINT) AS pp,
      |             sum(sq) AS sq, sum(nob2) AS nob2 FROM per)
      |SELECT CAST(nn AS BIGINT) AS n_rows, CAST(pp AS BIGINT) AS n_pos,
      |       CAST(sq // nullif(nn, 0) AS BIGINT) AS brier_e12,
      |       CAST((sq - pp * 1000000000000 + nob2) // nullif(nn, 0)
      |            AS BIGINT) AS rel_e12,
      |       CAST((nob2 - (pp * pp * 1000000000000) // nullif(nn, 0))
      |            // nullif(nn, 0) AS BIGINT) AS res_e12,
      |       CAST((pp * (nn - pp) * 1000000000000) // nullif(nn * nn, 0)
      |            AS BIGINT) AS unc_e12
      |FROM m""".stripMargin

  private[graft] def termChi2KeywordsOracle: String =
    """WITH pres AS (
      |  SELECT DISTINCT doc_id, t.term
      |  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)),
      |ab AS (SELECT term,
      |              CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |              CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS b
      |       FROM pres GROUP BY 1
      |       HAVING count(*) >= 5),
      |tot AS (SELECT CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
      |               CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_odd
      |        FROM documents),
      |x AS (SELECT term, a, b,
      |             CAST((CAST(n_even + n_odd AS HUGEINT) *
      |                   CAST(a * (n_odd - b) - b * (n_even - a) AS HUGEINT) *
      |                   CAST(a * (n_odd - b) - b * (n_even - a) AS HUGEINT) *
      |                   1000000)
      |                  // nullif(CAST(a + b AS HUGEINT) *
      |                           (n_even + n_odd - a - b) * n_even * n_odd, 0)
      |                  AS BIGINT) AS chi2_e6
      |      FROM ab, tot)
      |SELECT term, a, b, chi2_e6 FROM x
      |ORDER BY chi2_e6 DESC, term ASC LIMIT 20""".stripMargin

  private[graft] def brandKendallOracle: String =
    """WITH bb AS (
      |  SELECT p_brand,
      |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS x,
      |         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
      |p AS (SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
      |      FROM bb a JOIN bb b ON a.p_brand < b.p_brand),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(count(CASE WHEN (xa > xb AND ya > yb) OR (xa < xb AND ya < yb)
      |                  THEN 1 END) AS BIGINT) AS concordant,
      |  CAST(count(CASE WHEN (xa > xb AND ya < yb) OR (xa < xb AND ya > yb)
      |                  THEN 1 END) AS BIGINT) AS discordant,
      |  CAST(count(CASE WHEN xa = xb OR ya = yb THEN 1 END) AS BIGINT) AS tied
      |      FROM p)
      |SELECT n_pairs, concordant, discordant, tied,
      |  CAST((concordant - discordant) * 1000000
      |       // nullif(n_pairs, 0) AS BIGINT) AS tau_a_e6
      |FROM m""".stripMargin

  /** Mirror of `parts_skyline`: same bounded-domain cummin formulation
    * (a pairwise NOT-EXISTS dominance check would be n² in the oracle
    * too — the formulations are provably equivalent for 2-D dominance). */
  private[graft] def partsSkylineOracle: String =
    """WITH p AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS size,
      |                  CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
      |           FROM part),
      |b AS (SELECT size, min(price_cents) AS min_p FROM p GROUP BY 1),
      |c AS (SELECT size,
      |        min(min_p) OVER (ORDER BY size
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS minp_incl,
      |        min(min_p) OVER (ORDER BY size
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS minp_strict
      |      FROM b)
      |SELECT p_partkey, size, price_cents
      |FROM p JOIN c USING (size)
      |WHERE NOT (minp_incl < price_cents
      |           OR COALESCE(minp_strict <= price_cents, false))""".stripMargin

  private[graft] def funnelTimeToConvertOracle: String =
    """WITH pu AS (
      |  SELECT user_id,
      |         min(CASE WHEN event_type = 'view'
      |                  THEN epoch_us(ts) // 1000000 END) AS v1
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_type IN ('view', 'purchase')
      |  GROUP BY 1),
      |conv AS (
      |  SELECT e.user_id, min(epoch_us(e.ts) // 1000000) AS p1, min(pu.v1) AS v1m
      |  FROM events e JOIN pu ON e.user_id = pu.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts IS NOT NULL
      |    AND pu.v1 IS NOT NULL AND epoch_us(e.ts) // 1000000 >= pu.v1
      |  GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_viewed,
      |       CAST(count(d.delta_min) AS BIGINT) AS n_converted,
      |       CAST(count(d.delta_min) * 1000000
      |            // nullif(count(*), 0) AS BIGINT) AS conv_rate_e6,
      |       CAST(quantile_cont(d.delta_min, 0.5) * 4 AS BIGINT)
      |         AS median_minutes_x4
      |FROM pu LEFT JOIN (SELECT user_id, (p1 - v1m) // 60 AS delta_min
      |                   FROM conv) d
      |  ON pu.user_id = d.user_id
      |WHERE pu.v1 IS NOT NULL""".stripMargin

  private[graft] def eventsHeatmapOracle: String =
    """WITH b AS (
      |  SELECT ((epoch_us(ts) // 1000000 // 86400) + 4) % 7 AS dow,
      |         (epoch_us(ts) // 1000000 // 3600) % 24 AS hour,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_all FROM b)
      |SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour, n,
      |       CAST(n * 1000000 // n_all AS BIGINT) AS share_e6
      |FROM b, t""".stripMargin

  private[graft] def vocabSimpsonOracle: String =
    """WITH tok AS (SELECT UNNEST(string_split(text, ' ')) AS term FROM documents),
      |c AS (SELECT term, CAST(count(*) AS BIGINT) AS n_i FROM tok GROUP BY 1),
      |m AS (SELECT CAST(sum(n_i) AS BIGINT) AS n_tokens,
      |             CAST(count(*) AS BIGINT) AS n_types,
      |             sum(CAST(n_i AS HUGEINT) * (n_i - 1)) AS coll FROM c)
      |SELECT n_tokens, n_types,
      |  CAST(coll * 1000000
      |       // nullif(CAST(n_tokens AS HUGEINT) * (n_tokens - 1), 0) AS BIGINT)
      |    AS simpson_e6,
      |  CAST(CAST(n_tokens AS HUGEINT) * (n_tokens - 1) * 1000000
      |       // nullif(coll, 0) AS BIGINT) AS eff_vocab_e6
      |FROM m""".stripMargin

  /** Mirror of [[graft.operators.Sketches.kmvSketch]] +
    * [[graft.operators.Sketches.kmvJaccardPairs]] over per-event-type
    * user sets, with the exact Jaccard joined alongside. */
  private[graft] def kmvTypeJaccardOracle: String =
    s"""WITH kdu AS (SELECT DISTINCT event_type, user_id FROM events
       |             WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
       |khs AS (SELECT DISTINCT event_type,
       |               ${dh("CAST(user_id AS VARCHAR)")} AS h FROM kdu),
       |ksk AS (SELECT event_type, h FROM (
       |          SELECT event_type, h, row_number() OVER (
       |            PARTITION BY event_type ORDER BY h ASC) AS rn
       |          FROM khs) WHERE rn <= $KmvK),
       |ktypes AS (SELECT DISTINCT event_type FROM kdu),
       |kpairs AS (SELECT a.event_type AS set_a, b.event_type AS set_b
       |           FROM ktypes a JOIN ktypes b ON a.event_type < b.event_type),
       |krows AS (
       |  SELECT p.set_a, p.set_b, s.h,
       |         max(CASE WHEN s.event_type = p.set_a THEN 1 ELSE 0 END) AS ina,
       |         max(CASE WHEN s.event_type = p.set_b THEN 1 ELSE 0 END) AS inb
       |  FROM kpairs p JOIN ksk s ON s.event_type IN (p.set_a, p.set_b)
       |  GROUP BY 1, 2, 3),
       |kr AS (SELECT *, row_number() OVER (
       |         PARTITION BY set_a, set_b ORDER BY h ASC) AS rn FROM krows),
       |kest AS (SELECT set_a, set_b, CAST(count(*) AS BIGINT) AS n_sketch,
       |                CAST(sum(ina * inb) AS BIGINT) AS n_both
       |         FROM kr WHERE rn <= $KmvK GROUP BY 1, 2),
       |ksizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
       |           FROM kdu GROUP BY 1),
       |kinter AS (SELECT a.event_type AS set_a, b.event_type AS set_b,
       |                  CAST(count(*) AS BIGINT) AS n_inter
       |           FROM kdu a JOIN kdu b
       |             ON a.user_id = b.user_id AND a.event_type < b.event_type
       |           GROUP BY 1, 2)
       |SELECT e.set_a, e.set_b, e.n_sketch, e.n_both,
       |  CAST(floor(e.n_both * 1000000.0 / e.n_sketch + 0.5) AS BIGINT)
       |    AS jaccard_est_e6,
       |  CAST(floor(COALESCE(ki.n_inter, 0) * 1000000.0 /
       |             (sa.n + sb.n - COALESCE(ki.n_inter, 0)) + 0.5) AS BIGINT)
       |    AS jaccard_exact_e6
       |FROM kest e JOIN ksizes sa ON e.set_a = sa.event_type
       |            JOIN ksizes sb ON e.set_b = sb.event_type
       |            LEFT JOIN kinter ki ON e.set_a = ki.set_a AND e.set_b = ki.set_b""".stripMargin

  private[graft] def ivfTopKOracle: String =
    s"""WITH flat AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(UNNEST(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id),
       |cent AS (SELECT vec_id AS cell FROM embeddings
       |         ORDER BY ${dh("CAST(vec_id AS VARCHAR)")} ASC LIMIT $IvfNlist),
       |cdots AS (
       |  SELECT f.vec_id, c.cell, sum(f.x * g.x) AS dp
       |  FROM cent c JOIN flat g ON g.vec_id = c.cell JOIN flat f ON f.i = g.i
       |  GROUP BY f.vec_id, c.cell),
       |cranked AS (
       |  SELECT d.vec_id, d.cell, round(d.dp / (nv.nrm * nc.nrm), 6) AS sim
       |  FROM cdots d JOIN norms nv ON d.vec_id = nv.vec_id
       |              JOIN norms nc ON d.cell = nc.vec_id),
       |rr AS (SELECT vec_id, cell,
       |              row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
       |       FROM cranked),
       |cand AS (
       |  SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
       |  FROM (SELECT vec_id, cell FROM rr WHERE rn <= $IvfNprobe) p
       |  JOIN (SELECT vec_id, cell FROM rr WHERE rn = 1) a
       |    ON p.cell = a.cell AND p.vec_id <> a.vec_id),
       |${pairScoreCtes("query_id", "neighbor_id")},
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                   ORDER BY cosine_sim DESC, neighbor_id ASC) AS "rank"
       |      FROM scored)
       |SELECT query_id, neighbor_id, cosine_sim, CAST("rank" AS INTEGER) AS "rank" FROM r WHERE "rank" <= $AnnK""".stripMargin

  /** Shared CTE chain for the substring-duplication oracles: the k-token
    * window relation, cross-document duplicate windows, and gaps-and-islands
    * span merging — parameterized by the same [[SubK]] the Spark side uses. */
  private[graft] def substringCtes: String = {
    val k = SubK
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |w AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |         md5(array_to_string(ws[i:i+${k - 1}], ' ')) AS whash
       |  FROM toks, UNNEST(range(1, len(ws) - ${k - 2})) AS t(i) WHERE len(ws) >= $k),
       |dup AS (SELECT whash FROM w GROUP BY whash HAVING count(DISTINCT doc_id) > 1),
       |dw AS (SELECT doc_id, pos FROM w WHERE whash IN (SELECT whash FROM dup)),
       |m AS (SELECT doc_id, pos,
       |        max(pos) OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + ${k - 1} AS prev_end
       |      FROM dw),
       |f AS (SELECT doc_id, pos,
       |        CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END AS nw FROM m),
       |isl AS (SELECT doc_id, pos, sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM f)""".stripMargin
  }

  private[graft] def substringSpansOracle: String =
    s"""WITH $substringCtes
       |SELECT doc_id, min(pos) AS span_start, max(pos) + ${SubK - 1} AS span_end,
       |       max(pos) + ${SubK - 1} - min(pos) + 1 AS span_tokens, count(*) AS n_windows
       |FROM isl GROUP BY doc_id, island""".stripMargin

  private[graft] def substringStatsOracle: String =
    s"""WITH $substringCtes,
       |spans AS (SELECT doc_id, max(pos) + ${SubK - 1} - min(pos) + 1 AS span_tokens
       |          FROM isl GROUP BY doc_id, island),
       |agg AS (SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
       |        FROM spans GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       |  COALESCE(a.dup_tokens, 0) AS dup_tokens,
       |  CAST(floor(CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE)
       |             / CAST(len(string_split(d.text, ' ')) AS DOUBLE)
       |             * 1000000.0 + 0.5) AS BIGINT) AS dup_frac_e6
       |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Keep-one-copy substring cut: non-canonical window occurrences (every
    * occurrence of a window's content except the smallest (doc_id, pos))
    * merge into spans; the text is rebuilt from the tokens outside them.
    * The rebuild here explodes the token relation and anti-joins the cut
    * positions — plain SQL with no nested lambdas, equivalent to the Spark
    * side's index-aware array filter. */
  private[graft] def cutSpansOracle: String =
    s"""WITH $cutSpansCtes
       |SELECT doc_id, clean_text, n_cut_tokens FROM cutres""".stripMargin

  /** CTE chain ending in `cutres(doc_id, clean_text, n_cut_tokens)` —
    * shared by [[cutSpansOracle]] and the curate-v2 composition. */
  private[graft] def cutSpansCtes: String = {
    val k = SubK
    s"""toks AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
       |w AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |         md5(array_to_string(ws[i:i+${k - 1}], ' ')) AS whash
       |  FROM toks, UNNEST(range(1, len(ws) - ${k - 2})) AS t(i) WHERE len(ws) >= $k),
       |dw AS (SELECT doc_id, pos FROM (
       |         SELECT doc_id, pos,
       |                row_number() OVER (PARTITION BY whash ORDER BY doc_id, pos) AS rn
       |         FROM w) WHERE rn > 1),
       |m AS (SELECT doc_id, pos,
       |        max(pos) OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + ${k - 1} AS prev_end
       |      FROM dw),
       |f AS (SELECT doc_id, pos,
       |        CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END AS nw FROM m),
       |isl AS (SELECT doc_id, pos, sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM f),
       |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + ${k - 1} AS e
       |          FROM isl GROUP BY doc_id, island),
       |sp AS (SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS n_cut FROM spans GROUP BY doc_id),
       |tokrel AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS tok
       |           FROM toks, UNNEST(range(1, len(ws) + 1)) AS t(i)),
       |cut AS (SELECT DISTINCT tr.doc_id, tr.pos
       |        FROM tokrel tr JOIN spans s
       |          ON tr.doc_id = s.doc_id AND tr.pos BETWEEN s.s AND s.e),
       |kept AS (SELECT t.doc_id, t.pos, t.tok
       |         FROM tokrel t LEFT JOIN cut c ON t.doc_id = c.doc_id AND t.pos = c.pos
       |         WHERE c.pos IS NULL),
       |rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
       |            FROM kept GROUP BY doc_id),
       |cutres AS (
       |  SELECT t.doc_id,
       |    CASE WHEN sp.doc_id IS NULL THEN t.text ELSE COALESCE(r.clean_text, '') END AS clean_text,
       |    COALESCE(sp.n_cut, 0) AS n_cut_tokens
       |  FROM toks t LEFT JOIN sp USING (doc_id) LEFT JOIN rebuilt r USING (doc_id))""".stripMargin
  }

  /** Curation v2: span-level cut feeding quality/repetition rescoring on
    * the CLEANED text, exact dedup on the cleaned text, and the
    * deterministic downsample — the corpus_curate chain upgraded with
    * substring surgery. Empty post-cut docs are dropped BEFORE scoring
    * (quality on "" would divide by zero in both engines). */
  private[graft] def corpusCurate2Oracle: String =
    s"""WITH $cutSpansCtes,
       |base AS (
       |  SELECT d.doc_id, d.lang, d.source, c.clean_text AS ctext, c.n_cut_tokens
       |  FROM documents d JOIN cutres c USING (doc_id)
       |  WHERE length(c.clean_text) > 0),
       |t2 AS (SELECT doc_id, lang, source, n_cut_tokens, ctext,
       |              string_split(ctext, ' ') AS ws2,
       |              CAST(length(ctext) AS DOUBLE) AS nchars
       |       FROM base),
       |s2 AS (SELECT doc_id, lang, source, n_cut_tokens, ctext, ws2, nchars,
       |              CAST(len(ws2) AS DOUBLE) AS ntok,
       |              CAST(length(regexp_replace(ctext, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha
       |       FROM t2),
       |q2 AS (
       |  SELECT doc_id, lang, source, n_cut_tokens, ctext, ws2,
       |    CAST(floor((
       |      least(ntok / 100.0, 1.0) * 0.3
       |      + (alpha / nchars) * 0.3
       |      + (CASE WHEN (nchars - (ntok - 1)) / ntok BETWEEN 2.0 AND 12.0
       |              THEN 1.0 ELSE 0.3 END) * 0.2
       |      + (CASE WHEN len(list_intersect(ws2,
       |           ['the','a','an','and','of','to','in','is','it','that'])) > 0
       |              THEN 1.0 ELSE 0.5 END) * 0.2) * 1000000.0 + 0.5) AS BIGINT) AS quality_e6
       |  FROM s2),
       |g32 AS (SELECT doc_id, count(DISTINCT array_to_string(ws2[i:i+2], ' ')) AS d,
       |               any_value(len(ws2)) - 2 AS tot
       |        FROM t2, UNNEST(range(1, len(ws2) - 1)) AS r(i) WHERE len(ws2) >= 3
       |        GROUP BY doc_id),
       |r2 AS (SELECT q2.doc_id, q2.lang, q2.source, q2.n_cut_tokens, q2.ctext, q2.quality_e6,
       |         CAST(floor(COALESCE((g32.tot - g32.d) * 1.0 / g32.tot, 0.0)
       |                    * 1000000.0 + 0.5) AS BIGINT) AS rep3_e6
       |       FROM q2 LEFT JOIN g32 USING (doc_id)),
       |f2 AS (SELECT * FROM r2 WHERE quality_e6 >= 800000 AND rep3_e6 <= 10000),
       |k2 AS (SELECT doc_id, lang, source, quality_e6, rep3_e6, n_cut_tokens,
       |         row_number() OVER (PARTITION BY md5(ctext) ORDER BY doc_id ASC) AS rn
       |       FROM f2)
       |SELECT doc_id, lang, source, quality_e6, rep3_e6, n_cut_tokens FROM k2
       |WHERE rn = 1
       |  AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 10000 < 5000""".stripMargin

  /** Centroid-cell assignment + within-cell candidate pairs for the
    * semantic-dedup oracles — same codebook rule (smallest portable hash of
    * the id) and the same round-6/cell-asc ranking as the Spark side. */
  private[graft] def semanticAssignCtes: String =
    s"""flat AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(UNNEST(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id),
       |cent AS (SELECT vec_id AS cell FROM embeddings
       |         ORDER BY ${dh("CAST(vec_id AS VARCHAR)")} ASC LIMIT $SemNlist),
       |cdots AS (
       |  SELECT f.vec_id, c.cell, sum(f.x * g.x) AS dp
       |  FROM cent c JOIN flat g ON g.vec_id = c.cell JOIN flat f ON f.i = g.i
       |  GROUP BY f.vec_id, c.cell),
       |cranked AS (
       |  SELECT d.vec_id, d.cell, round(d.dp / (nv.nrm * nc.nrm), 6) AS sim
       |  FROM cdots d JOIN norms nv ON d.vec_id = nv.vec_id
       |              JOIN norms nc ON d.cell = nc.vec_id),
       |assign AS (SELECT vec_id, cell FROM (
       |  SELECT vec_id, cell,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
       |  FROM cranked) WHERE rn = 1),
       |cand AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |${pairScoreCtes("id_a", "id_b")}""".stripMargin

  /** Same LSH candidate + exact-scoring CTEs as the near_dup_lsh oracle,
    * extended with the deterministic pool-hash negative selection. */
  private[graft] def contrastiveOracle: String = {
    val tripletKey = dh("CAST(anchor_id AS VARCHAR) || ':' || CAST(pos_id AS VARCHAR) || ':' || CAST(neg_id AS VARCHAR)")
    s"""WITH ${lshBucketCtes(NdBits, NdTables)}
       |cand AS (
       |  SELECT DISTINCT p.vec_id AS id_a, c.vec_id AS id_b
       |  FROM probes p JOIN buckets c
       |    ON p.tbl = c.tbl AND p.bucket = c.bucket AND p.vec_id < c.vec_id),
       |${pairScoreCtes("id_a", "id_b")},
       |p AS (SELECT id_a, id_b FROM scored WHERE cosine_sim >= $NdThreshold),
       |anch AS (SELECT id_a AS anchor_id, id_b AS pos_id FROM p
       |         UNION ALL SELECT id_b, id_a FROM p),
       |pool AS (SELECT vec_id AS neg_id FROM embeddings
       |         ORDER BY ${dh("CAST(vec_id AS VARCHAR)")} ASC LIMIT $CtPool),
       |c2 AS (SELECT a.anchor_id, a.pos_id, pl.neg_id
       |       FROM anch a JOIN pool pl ON pl.neg_id <> a.anchor_id
       |       WHERE NOT EXISTS (SELECT 1 FROM anch x
       |                         WHERE x.anchor_id = a.anchor_id AND x.pos_id = pl.neg_id)),
       |r AS (SELECT anchor_id, pos_id, neg_id,
       |        row_number() OVER (PARTITION BY anchor_id, pos_id
       |                           ORDER BY $tripletKey ASC, neg_id ASC) AS rn
       |      FROM c2)
       |SELECT anchor_id, pos_id, neg_id FROM r WHERE rn = 1""".stripMargin
  }

  private[graft] def semanticPairsOracle: String =
    s"""WITH $semanticAssignCtes
       |SELECT id_a, id_b, cosine_sim FROM scored WHERE cosine_sim >= $SemThreshold""".stripMargin

  private[graft] def semanticKeepersOracle: String =
    s"""WITH RECURSIVE $semanticAssignCtes,
       |p AS (SELECT id_a, id_b FROM scored WHERE cosine_sim >= $SemThreshold),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |      UNION SELECT id_b, id_a FROM p),
       |v AS (SELECT DISTINCT src AS id FROM e),
       |reach(id, r) AS (
       |  SELECT id, id FROM v
       |  UNION
       |  SELECT e.dst, reach.r FROM e JOIN reach ON e.src = reach.id),
       |losers AS (SELECT id FROM reach GROUP BY id HAVING id != min(r))
       |SELECT vec_id, label FROM embeddings
       |WHERE vec_id NOT IN (SELECT id FROM losers)""".stripMargin

  private[graft] def docLmScoreOracle: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |tr AS (SELECT ws FROM toks WHERE ${dh("CAST(doc_id AS VARCHAR)")} % 2 = 0),
       |trb AS (SELECT ws[i] AS l, ws[i+1] AS r
       |        FROM tr, UNNEST(range(1, len(ws))) AS t(i) WHERE len(ws) >= 2),
       |cb AS (SELECT l, r, CAST(count(*) AS BIGINT) AS cb FROM trb GROUP BY 1, 2),
       |cl AS (SELECT l, CAST(count(*) AS BIGINT) AS cl FROM trb GROUP BY 1),
       |v AS (SELECT count(DISTINCT term) AS v
       |      FROM (SELECT UNNEST(ws) AS term FROM tr)),
       |db AS (SELECT doc_id, ws[i] AS l, ws[i+1] AS r
       |       FROM toks, UNNEST(range(1, len(ws))) AS t(i) WHERE len(ws) >= 2),
       |dbt AS (SELECT doc_id, l, r, count(*) AS tf FROM db GROUP BY 1, 2, 3),
       |sc AS (SELECT d.doc_id, d.tf,
       |         CAST(floor(-ln((COALESCE(cb.cb, 0) + 1.0) /
       |                        (COALESCE(cl.cl, 0) + v.v)) * 1000000.0 + 0.5)
       |              AS BIGINT) AS nll
       |       FROM dbt d LEFT JOIN cb ON d.l = cb.l AND d.r = cb.r
       |                  LEFT JOIN cl ON d.l = cl.l
       |                  CROSS JOIN v),
       |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       |               CAST(sum(tf * nll) AS BIGINT) AS nll_e6
       |        FROM sc GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(a.n_bigrams, 0) AS n_bigrams,
       |  COALESCE(a.nll_e6, 0) AS nll_e6,
       |  CAST(CASE WHEN COALESCE(a.n_bigrams, 0) = 0 THEN 0
       |       ELSE floor(CAST(a.nll_e6 AS DOUBLE) / a.n_bigrams + 0.5)
       |       END AS BIGINT) AS avg_nll_e6
       |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  private[graft] def dsirWeightsOracle: String =
    s"""WITH tok AS (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS term
       |            FROM documents),
       |tb AS (SELECT doc_id, lang,
       |              CAST(${dh("term")} % $DsirBuckets AS BIGINT) AS b FROM tok),
       |spine AS (SELECT UNNEST(range(0, $DsirBuckets)) AS b),
       |ct AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tb
       |       WHERE lang = 'en' GROUP BY b),
       |cr AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tb GROUP BY b),
       |tots AS (SELECT CAST(sum(COALESCE(ct.ct, 0)) AS BIGINT) AS ctt,
       |                CAST(sum(COALESCE(cr.cr, 0)) AS BIGINT) AS crt
       |         FROM spine s LEFT JOIN ct ON s.b = ct.b LEFT JOIN cr ON s.b = cr.b),
       |stats AS (SELECT s.b,
       |    CAST(floor(ln(((COALESCE(ct.ct, 0) + 1.0) / (COALESCE(cr.cr, 0) + 1.0))
       |               * ((t.crt + $DsirBuckets.0) / (t.ctt + $DsirBuckets.0)))
       |         * 1000000.0 + 0.5) AS BIGINT) AS lr
       |  FROM spine s LEFT JOIN ct ON s.b = ct.b LEFT JOIN cr ON s.b = cr.b
       |       CROSS JOIN tots t),
       |db AS (SELECT doc_id, b, count(*) AS tf FROM tb GROUP BY 1, 2),
       |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |               CAST(sum(tf * lr) AS BIGINT) AS logratio_e6
       |        FROM db JOIN stats USING (b) GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(a.n_tokens, 0) AS n_tokens,
       |  COALESCE(a.logratio_e6, 0) AS logratio_e6,
       |  CAST(CASE WHEN COALESCE(a.n_tokens, 0) = 0 THEN 0
       |       ELSE floor(CAST(a.logratio_e6 AS DOUBLE) / a.n_tokens + 0.5)
       |       END AS BIGINT) AS avg_logratio_e6
       |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Multinomial-NB oracle over any labeled `toks` CTE chain ending in
    * `toks(doc_id, lang, ws)` — instantiated for the lang classifier and
    * the pseudo-labeled quality classifier so the model SQL cannot drift
    * between them. */
  /** Shared content-defined-chunking CTEs through the per-token chunk
    * assignment `c` (w = 4, divisor = 16 — must match the registered
    * contentDefinedChunks parameters). The boundary hash mirrors the
    * native [[graft.functions.expressions.CdcChunks]] generator: a
    * degree-(w−1) polynomial over per-token md5-derived 60-bit values
    * with the shared multiplier's powers as literal coefficients, exact
    * in HUGEINT (each product < 2^120), reduced mod 2^60 — identical to
    * the JVM's wrapping-multiply-and-mask arithmetic. */
  private[graft] val cdcChunkCtes: String = {
    // H(i) = Σ_{j=0}^{3} h60(ws[i−j]) · M^j  mod 2^60, w = 4
    val poly = (3 to 0 by -1).map { j =>
      val tok = if (j == 0) "ws[i]" else s"ws[i-$j]"
      s"CAST(${graft.functions.PortableHash.duckdbSql(tok)} AS HUGEINT) * " +
        s"${graft.functions.expressions.CdcChunks.powerMod(j)}"
    }.mkString(" + ")
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |p AS (SELECT doc_id, ws, CAST(r.i AS INTEGER) AS i
       |      FROM t, UNNEST(range(1, len(ws) + 1)) AS r(i)),
       |b AS (SELECT doc_id, i, ws[i] AS tok,
       |        CASE WHEN i >= 4 AND
       |          CAST(($poly) % ${1L << 60} AS BIGINT) % 16 = 0
       |          THEN 1 ELSE 0 END AS isb
       |      FROM p),
       |c AS (SELECT doc_id, i, tok,
       |        CAST(coalesce(sum(isb) OVER (PARTITION BY doc_id ORDER BY i
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER) AS chunk_idx
       |      FROM b)""".stripMargin
  }

  /** Shared NB CTE prefix through the per-(doc,class) ranking `r` —
    * consumed by the classify-style oracles (rn = 1) and the
    * uncertainty-margin oracle (rn 1 vs 2). */
  private[graft] def nbOracleCtes(toksCtes: String): String =
    s"""WITH $toksCtes,
       |tr AS (SELECT * FROM toks WHERE ${dh("CAST(doc_id AS VARCHAR)")} % 2 = 0),
       |trtok AS (SELECT doc_id, lang, UNNEST(ws) AS term FROM tr),
       |cls AS (SELECT lang AS lab, CAST(count(*) AS BIGINT) AS nd FROM tr GROUP BY 1),
       |ndt AS (SELECT CAST(count(*) AS BIGINT) AS ndt FROM tr),
       |tcc AS (SELECT term, lang AS lab, CAST(count(*) AS BIGINT) AS n
       |        FROM trtok GROUP BY 1, 2),
       |tpc AS (SELECT lang AS lab, CAST(count(*) AS BIGINT) AS nc FROM trtok GROUP BY 1),
       |v AS (SELECT count(DISTINCT term) AS v FROM trtok),
       |model AS (SELECT c.lab,
       |    CAST(floor(ln(CAST(c.nd AS DOUBLE) / d.ndt) * 1000000.0 + 0.5)
       |         AS BIGINT) AS prior_e6,
       |    t.nc, vv.v
       |  FROM cls c CROSS JOIN ndt d JOIN tpc t ON c.lab = t.lab CROSS JOIN v vv),
       |dt AS (SELECT doc_id, UNNEST(ws) AS term FROM toks),
       |dtf AS (SELECT doc_id, term, count(*) AS tf FROM dt GROUP BY 1, 2),
       |sc AS (SELECT g.doc_id, m.lab, m.prior_e6, g.tf,
       |         CAST(floor(ln((COALESCE(t.n, 0) + 1.0) / (m.nc + m.v))
       |              * 1000000.0 + 0.5) AS BIGINT) AS lp
       |       FROM dtf g CROSS JOIN model m
       |            LEFT JOIN tcc t ON g.term = t.term AND m.lab = t.lab),
       |tot AS (SELECT doc_id, lab,
       |          CAST(min(prior_e6) + sum(tf * lp) AS BIGINT) AS score_e6
       |        FROM sc GROUP BY 1, 2),
       |r AS (SELECT doc_id, lab, score_e6,
       |        row_number() OVER (PARTITION BY doc_id
       |                           ORDER BY score_e6 DESC, lab ASC) AS rn
       |      FROM tot)""".stripMargin

  private[graft] def nbOracleBody(toksCtes: String, actualAlias: String, predAlias: String): String =
    nbOracleCtes(toksCtes) +
    s"""
       |SELECT dl.doc_id, dl.lang AS $actualAlias, r.lab AS $predAlias, r.score_e6,
       |  CAST(CASE WHEN r.lab = dl.lang THEN 1 ELSE 0 END AS INTEGER) AS correct
       |FROM (SELECT doc_id, lang FROM toks) dl
       |JOIN r ON dl.doc_id = r.doc_id AND r.rn = 1""".stripMargin

  /** Confidently-contradicted labels (noise audit) over the NB surface. */
  private[graft] def nbLabelNoiseOracle: String =
    nbOracleCtes(
      "toks AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)") +
    """
      |, m AS (SELECT r1.doc_id, dl.lang, r1.lab AS pred_label,
      |          r1.score_e6 - r2.score_e6 AS margin_e6
      |        FROM r r1 JOIN r r2 ON r1.doc_id = r2.doc_id
      |                           AND r1.rn = 1 AND r2.rn = 2
      |        JOIN (SELECT doc_id, lang FROM toks) dl ON r1.doc_id = dl.doc_id
      |        WHERE r1.lab != dl.lang)
      |SELECT doc_id, lang, pred_label, margin_e6, noise_rank FROM (
      |  SELECT m.*, CAST(row_number() OVER (
      |    ORDER BY margin_e6 DESC, doc_id ASC) AS INTEGER) AS noise_rank
      |  FROM m)
      |WHERE noise_rank <= 25""".stripMargin

  /** Accuracy-per-margin-decile calibration over the NB surface; ntile
    * parity with Spark is already proven by orders_ntile. */
  private[graft] def nbCalibrationOracle: String =
    nbOracleCtes(
      "toks AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)") +
    """
      |, m AS (SELECT r1.doc_id, r1.score_e6 - r2.score_e6 AS margin_e6,
      |          CASE WHEN r1.lab = dl.lang THEN 1 ELSE 0 END AS correct
      |        FROM r r1 JOIN r r2 ON r1.doc_id = r2.doc_id
      |                           AND r1.rn = 1 AND r2.rn = 2
      |        JOIN (SELECT doc_id, lang FROM toks) dl ON r1.doc_id = dl.doc_id),
      |b AS (SELECT correct, CAST(ntile(10) OVER (
      |        ORDER BY margin_e6 ASC, doc_id ASC) AS INTEGER) AS cal_bucket
      |      FROM m)
      |SELECT cal_bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(correct) AS BIGINT) AS n_correct,
      |       CAST(floor(sum(correct) * 1.0 / count(*) * 1000000.0 + 0.5) AS BIGINT) AS acc_e6
      |FROM b GROUP BY cal_bucket""".stripMargin

  /** Smallest-margin uncertainty oracle over the same NB surface. */
  private[graft] def nbUncertainOracle: String =
    nbOracleCtes(
      "toks AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)") +
    """
      |, m AS (SELECT r1.doc_id, r1.lab AS pred_label,
      |          r1.score_e6 - r2.score_e6 AS margin_e6
      |        FROM r r1 JOIN r r2 ON r1.doc_id = r2.doc_id
      |                           AND r1.rn = 1 AND r2.rn = 2)
      |SELECT doc_id, pred_label, margin_e6, unc_rank FROM (
      |  SELECT m.*, CAST(row_number() OVER (
      |    ORDER BY margin_e6 ASC, doc_id ASC) AS INTEGER) AS unc_rank
      |  FROM m)
      |WHERE unc_rank <= 25""".stripMargin

  private[graft] def nbLangOracle: String = nbOracleBody(
    "toks AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)",
    "lang", "pred_lang")

  /** DuckDB mirror of `nb_learning_curve`: three nested hash-residue
    * training subsets, each instantiating the SAME model/score CTE chain
    * as [[nbOracleCtes]] (expressions copied verbatim so the e6 ln
    * staging stays bit-identical), all scored on the one held-out half. */
  private[graft] def nbLearningCurveOracle: String = {
    val h8 = s"${dh("CAST(doc_id AS VARCHAR)")} % 8"
    def subset(i: Int, eighths: Int, res: Seq[Long]): String = {
      val in = res.mkString("(", ", ", ")")
      s"""tr$i AS (SELECT * FROM toks WHERE $h8 IN $in),
         |trtok$i AS (SELECT doc_id, lang, UNNEST(ws) AS term FROM tr$i),
         |cls$i AS (SELECT lang AS lab, CAST(count(*) AS BIGINT) AS nd FROM tr$i GROUP BY 1),
         |ndt$i AS (SELECT CAST(count(*) AS BIGINT) AS ndt FROM tr$i),
         |tcc$i AS (SELECT term, lang AS lab, CAST(count(*) AS BIGINT) AS n
         |          FROM trtok$i GROUP BY 1, 2),
         |tpc$i AS (SELECT lang AS lab, CAST(count(*) AS BIGINT) AS nc FROM trtok$i GROUP BY 1),
         |v$i AS (SELECT count(DISTINCT term) AS v FROM trtok$i),
         |model$i AS (SELECT c.lab,
         |    CAST(floor(ln(CAST(c.nd AS DOUBLE) / d.ndt) * 1000000.0 + 0.5)
         |         AS BIGINT) AS prior_e6,
         |    t.nc, vv.v
         |  FROM cls$i c CROSS JOIN ndt$i d JOIN tpc$i t ON c.lab = t.lab CROSS JOIN v$i vv),
         |sc$i AS (SELECT g.doc_id, m.lab, m.prior_e6, g.tf,
         |         CAST(floor(ln((COALESCE(t.n, 0) + 1.0) / (m.nc + m.v))
         |              * 1000000.0 + 0.5) AS BIGINT) AS lp
         |       FROM dtf g CROSS JOIN model$i m
         |            LEFT JOIN tcc$i t ON g.term = t.term AND m.lab = t.lab),
         |tot$i AS (SELECT doc_id, lab,
         |          CAST(min(prior_e6) + sum(tf * lp) AS BIGINT) AS score_e6
         |        FROM sc$i GROUP BY 1, 2),
         |r$i AS (SELECT doc_id, lab, score_e6,
         |        row_number() OVER (PARTITION BY doc_id
         |                           ORDER BY score_e6 DESC, lab ASC) AS rn
         |      FROM tot$i),
         |acc$i AS (SELECT CAST($eighths AS INTEGER) AS train_eighths,
         |    (SELECT CAST(count(*) AS BIGINT) FROM tr$i) AS n_train,
         |    CAST(count(*) AS BIGINT) AS n_test,
         |    CAST(sum(CASE WHEN r.lab = dl.lang THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_correct
         |  FROM dl JOIN r$i r ON dl.doc_id = r.doc_id AND r.rn = 1)""".stripMargin
    }
    val subsets = Seq((1, 1, Seq(0L)), (2, 2, Seq(0L, 4L)),
      (3, 4, Seq(0L, 2L, 4L, 6L)))
    s"""WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
       |dl AS (SELECT doc_id, lang FROM toks WHERE $h8 % 2 = 1),
       |dt AS (SELECT doc_id, UNNEST(ws) AS term FROM toks
       |       WHERE $h8 % 2 = 1),
       |dtf AS (SELECT doc_id, term, count(*) AS tf FROM dt GROUP BY 1, 2),
       |""".stripMargin +
      subsets.map { case (i, e, r) => subset(i, e, r) }.mkString(",\n") +
      """
        |SELECT train_eighths, n_train, n_test, n_correct,
        |       CAST(floor(n_correct * 1.0 / n_test * 1000000.0 + 0.5) AS BIGINT)
        |         AS acc_e6
        |FROM (SELECT * FROM acc1 UNION ALL SELECT * FROM acc2
        |      UNION ALL SELECT * FROM acc3)""".stripMargin
  }

  /** Pseudo-labeled quality classifier: the label CTE chain inlines the
    * doc_quality formula (kept textually identical to that oracle), then
    * the shared NB body learns hi/lo from tokens. */
  private[graft] def nbQualityOracle: String = nbOracleBody(
    s"""qsrc AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS ws,
       |         CAST(length(text) AS DOUBLE) AS nchars
       |  FROM documents),
       |qs AS (
       |  SELECT doc_id, ws, nchars,
       |         CAST(len(ws) AS DOUBLE) AS ntok,
       |         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha
       |  FROM qsrc),
       |qsc AS (SELECT doc_id, ws,
       |  CAST(CASE WHEN nchars = 0 THEN 0 ELSE floor((
       |    least(ntok / 100.0, 1.0) * 0.3
       |    + (alpha / nchars) * 0.3
       |    + (CASE WHEN (nchars - (ntok - 1)) / ntok BETWEEN 2.0 AND 12.0
       |            THEN 1.0 ELSE 0.3 END) * 0.2
       |    + (CASE WHEN len(list_intersect(ws,
       |         ['the','a','an','and','of','to','in','is','it','that'])) > 0
       |            THEN 1.0 ELSE 0.5 END)* 0.2) * 1000000.0 + 0.5) END AS BIGINT) AS quality_e6
       |  FROM qs),
       |toks AS (SELECT doc_id,
       |           CASE WHEN quality_e6 >= 800000 THEN 'hi' ELSE 'lo' END AS lang, ws
       |         FROM qsc)""".stripMargin,
    "qlabel", "pred_qlabel")

  private[graft] def blocklistOracle: String =
    s"""WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |h AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_hits, min(term) AS first_hit
       |      FROM tf WHERE term IN (${BlockTerms.map(t => s"'$t'").mkString(", ")})
       |      GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(h.n_hits, 0) AS n_hits,
       |  h.first_hit,
       |  COALESCE(h.n_hits, 0) > 0 AS blocked
       |FROM documents d LEFT JOIN h USING (doc_id)""".stripMargin

  /** Composed model-filter curation oracle: the three stage oracles nested
    * verbatim as derived tables, so the composition cannot drift from the
    * individually-registered queries. */
  private[graft] def curate3Oracle: String =
    s"""WITH bl AS (SELECT * FROM ($blocklistOracle)),
       |lm AS (SELECT * FROM ($docLmScoreOracle)),
       |ds AS (SELECT * FROM ($dsirWeightsOracle))
       |SELECT d.doc_id, d.lang, d.source,
       |       bl.n_hits, lm.avg_nll_e6, ds.avg_logratio_e6
       |FROM documents d
       |JOIN bl USING (doc_id) JOIN lm USING (doc_id) JOIN ds USING (doc_id)
       |WHERE bl.n_hits <= $C3MaxHits
       |  AND lm.n_bigrams > 0 AND lm.avg_nll_e6 <= $C3MaxNll
       |  AND ds.avg_logratio_e6 >= $C3MinLr""".stripMargin

  /** Per-stage survivor counts through the same three composed stage
    * oracles as [[curate3Oracle]] — conditional counts over one joined
    * relation, mirroring the Spark single-pass aggregate. */
  private[graft] def curationFunnelOracle: String =
    s"""WITH bl AS (SELECT * FROM ($blocklistOracle)),
       |lm AS (SELECT * FROM ($docLmScoreOracle)),
       |ds AS (SELECT * FROM ($dsirWeightsOracle)),
       |j AS (SELECT bl.n_hits, lm.n_bigrams, lm.avg_nll_e6, ds.avg_logratio_e6
       |      FROM documents d
       |      JOIN bl USING (doc_id) JOIN lm USING (doc_id) JOIN ds USING (doc_id))
       |SELECT CAST(count(*) AS BIGINT) AS n_total,
       |  CAST(count(CASE WHEN n_hits <= $C3MaxHits THEN 1 END) AS BIGINT)
       |    AS n_after_blocklist,
       |  CAST(count(CASE WHEN n_hits <= $C3MaxHits AND n_bigrams > 0
       |                   AND avg_nll_e6 <= $C3MaxNll THEN 1 END) AS BIGINT)
       |    AS n_after_lm,
       |  CAST(count(CASE WHEN n_hits <= $C3MaxHits AND n_bigrams > 0
       |                   AND avg_nll_e6 <= $C3MaxNll
       |                   AND avg_logratio_e6 >= $C3MinLr THEN 1 END) AS BIGINT)
       |    AS n_after_dsir
       |FROM j""".stripMargin

  /** PQ/ADC: same hash-sampled codebook rule, same subspace split
    * ((i-1)//subDim), distances e6-quantized at the lookup-table boundary
    * so codes and ADC sums are integer-exact in both engines. */
  private[graft] def pqTopKOracle: String = {
    val subDim = Dim / PqM
    s"""WITH flat AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(UNNEST(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |sub AS (SELECT vec_id, CAST((i - 1) // $subDim AS INTEGER) AS s,
       |               (i - 1) % $subDim AS di, x
       |        FROM flat),
       |cbids AS (SELECT vec_id AS cb_vec, CAST(rn - 1 AS INTEGER) AS j FROM (
       |  SELECT vec_id, row_number() OVER (
       |    ORDER BY ${dh("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC) AS rn
       |  FROM embeddings) WHERE rn <= $PqK),
       |cb AS (SELECT c.j, s.s, s.di, s.x
       |       FROM cbids c JOIN sub s ON s.vec_id = c.cb_vec),
       |dists AS (SELECT v.vec_id, v.s, c.j,
       |    CAST(floor(sum((v.x - c.x) * (v.x - c.x)) * 1000000.0 + 0.5)
       |         AS BIGINT) AS d
       |  FROM sub v JOIN cb c ON v.s = c.s AND v.di = c.di
       |  GROUP BY v.vec_id, v.s, c.j),
       |codes AS (SELECT vec_id, s, j FROM (
       |  SELECT vec_id, s, j, row_number() OVER (
       |    PARTITION BY vec_id, s ORDER BY d ASC, j ASC) AS rn
       |  FROM dists) WHERE rn = 1),
       |adc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |               CAST(sum(q.d) AS BIGINT) AS dist_e6
       |        FROM codes c JOIN dists q ON q.s = c.s AND q.j = c.j
       |                                  AND q.vec_id <> c.vec_id
       |        GROUP BY 1, 2),
       |r AS (SELECT query_id, neighbor_id, dist_e6,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY dist_e6 ASC, neighbor_id ASC) AS "rank"
       |      FROM adc)
       |SELECT query_id, neighbor_id, dist_e6, CAST("rank" AS INTEGER) AS "rank"
       |FROM r WHERE "rank" <= $AnnK""".stripMargin
  }

  /** IVF+PQ: same coarse/codebook hash rules, residual arithmetic per
    * element (exact IEEE subtract), per-probed-cell ADC tables; every
    * distance e6-quantized at the table boundary → integer ADC sums. */
  private[graft] def ivfPqTopKOracle: String = {
    val subDim = Dim / PqM
    s"""WITH flat AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(UNNEST(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |centids AS (SELECT vec_id AS c_vec, CAST(rn - 1 AS INTEGER) AS cell FROM (
       |  SELECT vec_id, row_number() OVER (
       |    ORDER BY ${dh("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC) AS rn
       |  FROM embeddings) WHERE rn <= $IvfNlist),
       |centflat AS (SELECT c.cell, f.i, f.x
       |             FROM centids c JOIN flat f ON f.vec_id = c.c_vec),
       |adist AS (SELECT v.vec_id, c.cell,
       |    CAST(floor(sum((v.x - c.x) * (v.x - c.x)) * 1000000.0 + 0.5)
       |         AS BIGINT) AS d
       |  FROM flat v JOIN centflat c ON v.i = c.i
       |  GROUP BY 1, 2),
       |arank AS (SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
       |  FROM adist),
       |assign AS (SELECT vec_id, cell FROM arank WHERE rn = 1),
       |probe AS (SELECT vec_id, cell FROM arank WHERE rn <= $IvfNprobe),
       |rflat AS (SELECT v.vec_id, v.i, v.x - c.x AS x
       |          FROM flat v JOIN assign a ON a.vec_id = v.vec_id
       |               JOIN centflat c ON c.cell = a.cell AND c.i = v.i),
       |cbids AS (SELECT vec_id AS cb_vec, CAST(rn - 1 AS INTEGER) AS j FROM (
       |  SELECT vec_id, row_number() OVER (
       |    ORDER BY ${dh("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC) AS rn
       |  FROM embeddings) WHERE rn <= $PqK),
       |cbsub AS (SELECT cb.j, CAST((r.i - 1) // $subDim AS INTEGER) AS s,
       |                 (r.i - 1) % $subDim AS di, r.x
       |          FROM cbids cb JOIN rflat r ON r.vec_id = cb.cb_vec),
       |rsub AS (SELECT vec_id, CAST((i - 1) // $subDim AS INTEGER) AS s,
       |                (i - 1) % $subDim AS di, x
       |         FROM rflat),
       |cdist AS (SELECT r.vec_id, r.s, c.j,
       |    CAST(floor(sum((r.x - c.x) * (r.x - c.x)) * 1000000.0 + 0.5)
       |         AS BIGINT) AS d
       |  FROM rsub r JOIN cbsub c ON r.s = c.s AND r.di = c.di
       |  GROUP BY 1, 2, 3),
       |codes AS (SELECT cd.vec_id, a.cell, cd.s, cd.j FROM (
       |    SELECT vec_id, s, j,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, j ASC) AS rn
       |    FROM cdist) cd JOIN assign a ON a.vec_id = cd.vec_id
       |  WHERE cd.rn = 1),
       |qrflat AS (SELECT v.vec_id, p.cell, v.i, v.x - c.x AS x
       |           FROM flat v JOIN probe p ON p.vec_id = v.vec_id
       |                JOIN centflat c ON c.cell = p.cell AND c.i = v.i),
       |qsub AS (SELECT vec_id, cell, CAST((i - 1) // $subDim AS INTEGER) AS s,
       |                (i - 1) % $subDim AS di, x
       |         FROM qrflat),
       |qdist AS (SELECT q.vec_id, q.cell, q.s, c.j,
       |    CAST(floor(sum((q.x - c.x) * (q.x - c.x)) * 1000000.0 + 0.5)
       |         AS BIGINT) AS d
       |  FROM qsub q JOIN cbsub c ON q.s = c.s AND q.di = c.di
       |  GROUP BY 1, 2, 3, 4),
       |adc AS (SELECT q.vec_id AS query_id, k2.vec_id AS neighbor_id,
       |               CAST(sum(q.d) AS BIGINT) AS dist_e6
       |        FROM codes k2 JOIN qdist q ON q.cell = k2.cell AND q.s = k2.s
       |                                   AND q.j = k2.j AND q.vec_id <> k2.vec_id
       |        GROUP BY 1, 2),
       |r AS (SELECT query_id, neighbor_id, dist_e6,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY dist_e6 ASC, neighbor_id ASC) AS "rank"
       |      FROM adc)
       |SELECT query_id, neighbor_id, dist_e6, CAST("rank" AS INTEGER) AS "rank"
       |FROM r WHERE "rank" <= $AnnK""".stripMargin
  }

  /** DuckDB side of `gini_impurity_features`: one per-feature block over
    * the shared labeled-event CTE, unioned — identical decimal-staged
    * purity arithmetic. */
  private[graft] def giniFeaturesOracle: String = {
    val feats = Seq("event_type" -> "event_type", "hour" -> "h", "dow" -> "dw")
    val blocks = feats.map { case (name, c) =>
      s"""SELECT '$name' AS feature, CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(1000000 - (sum(CAST(pur AS HUGEINT)) // sum(n)) AS BIGINT) AS weighted_gini_e6
         |FROM (SELECT n,
         |        CAST((CAST(pos AS HUGEINT) * pos + CAST(n - pos AS HUGEINT) * (n - pos)) * 1000000
         |             // n AS BIGINT) AS pur
         |      FROM (SELECT $c AS v, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
         |            FROM gev GROUP BY 1))""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH gev AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
       |               CAST(dayofweek(ts) AS BIGINT) AS dw,
       |               CASE WHEN CAST(round(value * 100) AS BIGINT) >= $GiniValueCut
       |                    THEN 1 ELSE 0 END AS y
       |             FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
       |               AND value IS NOT NULL)
       |$blocks""".stripMargin
  }

  /** DuckDB side of `attribution_markov`: the same transition derivation
    * in SQL, then the MarkovIters value-iteration rounds unrolled CTE by
    * CTE over the bounded scenario×state grid — identical truncating e6
    * arithmetic to the Spark driver-side model. */
  private[graft] def markovOracle: String = {
    val iters = (1 to MarkovIters).map { k =>
      s"""mp$k AS (SELECT c.scenario, c.st,
         |  CAST(c.tconv + (COALESCE(s.acc, 0) // 1000000) AS BIGINT) AS p
         |  FROM mtc c LEFT JOIN (
         |    SELECT t.scenario, t."from" AS st, CAST(sum(t.t_e6 * p.p) AS BIGINT) AS acc
         |    FROM mtx t JOIN mp${k - 1} p ON p.scenario = t.scenario AND p.st = t."to"
         |    GROUP BY 1, 2) s ON s.scenario = c.scenario AND s.st = c.st)""".stripMargin
    }.mkString(",\n")
    val K = MarkovIters
    s"""WITH mev AS (SELECT user_id, ts, event_id, event_type FROM events
       |             WHERE event_type IS NOT NULL AND ts IS NOT NULL),
       |mfp AS (SELECT user_id, ts AS fts, event_id AS fid FROM (
       |          SELECT user_id, ts, event_id,
       |                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |          FROM mev WHERE event_type = 'purchase') WHERE rn = 1),
       |mpath AS (SELECT e.user_id, e.ts, e.event_id,
       |            CASE WHEN e.event_type = 'purchase' THEN 'CONV' ELSE e.event_type END AS state
       |          FROM mev e LEFT JOIN mfp f USING (user_id)
       |          WHERE f.fts IS NULL OR e.ts < f.fts OR (e.ts = f.fts AND e.event_id <= f.fid)),
       |mstep AS (SELECT user_id, state,
       |            COALESCE(lag(state) OVER (PARTITION BY user_id ORDER BY ts, event_id), 'START') AS prev,
       |            row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_desc
       |          FROM mpath),
       |mtr AS (SELECT "from", "to", CAST(count(*) AS BIGINT) AS c FROM (
       |          SELECT prev AS "from", state AS "to" FROM mstep
       |          UNION ALL
       |          SELECT state AS "from", 'NULL' AS "to" FROM mstep WHERE rn_desc = 1 AND state <> 'CONV')
       |        GROUP BY 1, 2),
       |mtt AS (SELECT "from", CAST(sum(c) AS BIGINT) AS ctot FROM mtr GROUP BY 1),
       |mt AS (SELECT t."from", t."to", t.c * 1000000 // m.ctot AS t_e6
       |       FROM mtr t JOIN mtt m USING ("from")),
       |msc AS (SELECT DISTINCT "from" AS scenario FROM mt WHERE "from" <> 'START'
       |        UNION ALL SELECT '__none'),
       |mst AS (SELECT DISTINCT "from" AS st FROM mt),
       |mgrid AS (SELECT s.scenario, x.st FROM msc s JOIN mst x ON x.st <> s.scenario),
       |mtc AS (SELECT g.scenario, g.st, COALESCE(cv.t_e6, 0) AS tconv
       |        FROM mgrid g LEFT JOIN (SELECT "from", t_e6 FROM mt WHERE "to" = 'CONV') cv
       |          ON cv."from" = g.st),
       |mtx AS (SELECT s.scenario, t."from", t."to", t.t_e6
       |       FROM msc s JOIN mt t ON t."from" <> s.scenario
       |       WHERE t."to" NOT IN ('CONV', 'NULL')),
       |mp0 AS (SELECT scenario, st, CAST(tconv AS BIGINT) AS p FROM mtc),
       |$iters,
       |mbase AS (SELECT p FROM mp$K WHERE scenario = '__none' AND st = 'START')
       |SELECT p.scenario AS channel, CAST(p.p AS BIGINT) AS p_conv_start_e6,
       |  CAST(CASE WHEN b.p = 0 THEN 0
       |            ELSE 1000000 - p.p * 1000000 // b.p END AS BIGINT) AS removal_effect_e6
       |FROM mp$K p CROSS JOIN mbase b
       |WHERE p.st = 'START' AND p.scenario <> '__none'""".stripMargin
  }

  /** DuckDB side of `kmeans_fit`: the identical KmeansRounds Lloyd
    * rounds unrolled CTE by CTE (the bt_event_scores oracle discipline)
    * — same e3 quantization, truncating integer centroid means, and
    * (d2, c) lexicographic argmin via row_number. */
  /** The Lloyd-round CTE chain for one (k, prefix): seeds → kc0 →
    * rounds → final assignment `${p}af` (vec_id, c, d2) and final
    * centroids `${p}c$R`. Shared `kflat` is emitted by the caller. */
  private[graft] def kmeansCtes(k: Int, p: String): String = {
    val rounds = (1 to KmeansRounds).map { r =>
      s"""${p}d$r AS (SELECT f.vec_id, c.c, CAST(sum((f.q - c.m) * (f.q - c.m)) AS BIGINT) AS d2
         |        FROM kflat f JOIN ${p}c${r - 1} c ON f.pos = c.pos GROUP BY 1, 2),
         |${p}a$r AS (SELECT vec_id, c FROM (
         |          SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
         |          FROM ${p}d$r) WHERE rn = 1),
         |${p}c$r AS (SELECT a.c, f.pos, CAST(sum(f.q) // count(*) AS BIGINT) AS m
         |        FROM kflat f JOIN ${p}a$r a USING (vec_id) GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val R = KmeansRounds
    s"""${p}seeds AS (SELECT vec_id AS c FROM embeddings ORDER BY vec_id LIMIT $k),
       |${p}c0 AS (SELECT s.c, f.pos, f.q AS m FROM kflat f JOIN ${p}seeds s ON f.vec_id = s.c),
       |$rounds,
       |${p}df AS (SELECT f.vec_id, c.c, CAST(sum((f.q - c.m) * (f.q - c.m)) AS BIGINT) AS d2
       |        FROM kflat f JOIN ${p}c$R c ON f.pos = c.pos GROUP BY 1, 2),
       |${p}af AS (SELECT vec_id, c, d2 FROM (
       |          SELECT vec_id, c, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
       |          FROM ${p}df) WHERE rn = 1)""".stripMargin
  }

  private[graft] val kflatCte: String =
    """kflat AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |         CAST(floor(CAST(UNNEST(embedding) AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS q
      |  FROM embeddings)""".stripMargin

  private[graft] def kmeansOracle: String = {
    val R = KmeansRounds
    s"""WITH $kflatCte,
       |${kmeansCtes(KmeansK, "k")},
       |ksz AS (SELECT c, CAST(count(*) AS BIGINT) AS n_vecs, CAST(sum(d2) AS BIGINT) AS inertia_q2
       |        FROM kaf GROUP BY 1),
       |kl1 AS (SELECT c, CAST(sum(abs(m)) AS BIGINT) AS cent_l1 FROM kc$R GROUP BY 1)
       |SELECT ksz.c AS cluster_id, n_vecs, inertia_q2, cent_l1
       |FROM ksz JOIN kl1 USING (c)""".stripMargin
  }

  /** DuckDB side of `kmeans_k_sweep`: the Lloyd chain instantiated per k
    * with prefixed CTE names over ONE shared kflat, elbow rows unioned. */
  private[graft] def kmeansSweepOracle: String = {
    val blocks = KmeansSweepKs.zip(Seq("ksa", "ksb", "ksc"))
    val ctes = blocks.map { case (k, p) => kmeansCtes(k, p) }.mkString(",\n")
    val selects = blocks.map { case (k, p) =>
      s"""SELECT CAST($k AS BIGINT) AS k, CAST(count(DISTINCT c) AS BIGINT) AS n_clusters,
         |  CAST(sum(d2) AS BIGINT) AS inertia_q2 FROM ${p}af""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $kflatCte,\n$ctes\n$selects"
  }

  /** DuckDB side of [[Tables.partsupp]]: the same distinct-pairs +
    * closed-form integer-key arithmetic, so the four partsupp-family
    * oracles (Q2/Q9/Q11/Q20) rebuild the IDENTICAL relation from the same
    * parquet — the generated-oracle discipline of the hash-family
    * oracles above. */
  private[graft] val partsuppCte: String =
    """partsupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         (l_partkey * 7 + l_suppkey * 13) % 9999 + 1 AS ps_availqty,
      |         (l_partkey * 31 + l_suppkey * 17) % 100000 + 100 AS ps_supplycost_cents
      |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))""".stripMargin

  /** DuckDB oracle SQL per query name — assembled from the per-domain
    * fragments under graft/queries/ (see [[queries]]). */
  def oracleSql: Map[String, String] =
    graft.queries.OraclesDedupText.m ++
      graft.queries.OraclesRelational.m ++
      graft.queries.OraclesCorpusAnalytics.m

}
