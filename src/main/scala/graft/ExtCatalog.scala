package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Chunking, Dedup, Multimodal, SimSearch, Sketches, TextStats}
import graft.ops.{Par, Profile, Snapshot}
import graft.streaming.Events

/** Extension-scope query bindings (BASELINE.json: dedup, similarity
  * search, text analysis, multimodal, event streams) with DuckDB oracle
  * SQL generated from the same constants/formulas as the Spark plans.
  */
object ExtCatalog {

  /** Query terms for x_keyword_search — shared between the Spark plan and
    * the oracle so the scored term set can never diverge. */
  val KeywordTerms: Seq[String] = Seq("spark", "query", "join")

  /** x_ann_recall_audit floors: recall@5 MEASURED on the sf0.01 fixture
    * at the catalog operating points (r8 recall measurement: ivf 0.72,
    * lsh 0.94, pq 0.60), each backed off to ~55-65% of the measurement — the
    * result is a pure function of (fixture, seed), so the gate is
    * deterministic, and a real recall regression (wrong banding, broken
    * ADC table, bad list probing) still trips the oracle. */
  val AnnRecallFloorIvf: Double = 0.4
  val AnnRecallFloorLsh: Double = 0.6
  val AnnRecallFloorPq: Double = 0.35

  /** x_hybrid_search operating point, shared with the oracle: the query
    * embedding's id, the per-side candidate depth, and the fused top-k. */
  val HybridQueryVec: Long = 7L
  val HybridDepth: Int = 50
  val HybridK: Int = 10

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), "text", "doc_id")),
    "x_dedup_norm" -> ((s, d) =>
      Dedup.exactNormalized(Tables.documents(s, d), "text", "doc_id")),
    "x_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "text", "doc_id", 3, 0.6)),
    "x_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshPairs(Tables.documents(s, d), "text", "doc_id", 3, 32, 8, 0.6)),
    "x_neardup_auto" -> ((s, d) =>
      // the dispatch row for the WHOLE-corpus pair source (the
      // neardupDeltaAuto pattern): lossless AllPairs below the input
      // ceiling (oracle-EXACT there — same rows as x_ngram_jaccard),
      // banded minhash with exact verification above it. This is what
      // clustering/split consumers call; the raw x_ngram_jaccard row
      // stays as the pinned exact small-N tool.
      Dedup.nearDupPairsAuto(Tables.documents(s, d), "text", "doc_id", 3, 0.6)),
    "x_minhash_lsh_auto" -> ((s, d) =>
      // the dispatch consumers should default to: uncapped banding below
      // the input ceiling (oracle-EXACT there), bucket-capped skew guard
      // above it — x_minhash_lsh stays as the pinned raw uncapped form
      Dedup.minhashLshAuto(Tables.documents(s, d), "text", "doc_id", 3, 32, 8, 0.6)),
    "x_minhash_capped" -> ((s, d) =>
      // the crawl-scale operating point: coarser banding (16 bands × 2
      // rows — higher recall, bigger buckets) held safe by the bucket
      // cap; a mega-bucket drops before the self-join ever sees it
      Dedup.minhashLshPairs(Tables.documents(s, d), "text", "doc_id",
        3, 32, 16, 0.6, bucketCap = 4)),
    "x_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), "text", "doc_id", 3)),
    "x_embed_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      SimSearch.cosineTopK(e.filter(col("vec_id") < 10), e, 5)
    }),
    "x_embed_topk_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      SimSearch.lshTopK(e.filter(col("vec_id") < 10), e, 5)
    }),
    "x_embed_neardup" -> ((s, d) =>
      // corpus has no planted embedding dups (max pairwise cos ≈ 0.6), so
      // the similar-pair threshold is 0.4 to exercise the operator with a
      // non-empty result; the id bound keeps the exact form's pair count
      // O(subset²) — the LSH path covers the full set.
      SimSearch.cosineNearDupPairs(
        Tables.embeddings(s, d).filter(col("vec_id") < 300), 0.4)),
    "x_embed_topk_ivf" -> ((s, d) => {
      // IVF coarse-quantizer ANN (approximate, k-means lists — rows-only
      // check like the LSH path; spec asserts recall vs brute force).
      val e = Tables.embeddings(s, d)
      SimSearch.ivfTopK(e.filter(col("vec_id") < 10), e, 5)
    }),
    "x_embed_topk_pq" -> ((s, d) => {
      // PQ/ADC compressed-domain ANN (rows-only like LSH/IVF; spec
      // asserts recall vs brute force). m=16/ksub=32 = 16× compression,
      // the measured mid-point of the compression/recall dial on this
      // near-uniform fixture (r7 m/ksub sweep)
      val e = Tables.embeddings(s, d)
      SimSearch.pqTopK(e.filter(col("vec_id") < 10), e, 5, m = 16, ksub = 32)
    }),
    "x_coreset_sample" -> ((s, d) =>
      // greedy k-center diversity selection — rows-only (selection not
      // SQL-expressible); SimSearchSpec pins coverage/monotonicity
      SimSearch.coresetSample(Tables.embeddings(s, d), 16)),
    "x_coreset_audit" -> ((s, d) => {
      // STRUCTURAL ORACLE over the declared x_coreset_sample: the greedy
      // SELECTION isn't SQL-expressible, but the ASSIGNMENT contract is —
      // every vector's reported distance must be its distance to its
      // assigned center AND the minimum over the chosen center set. The
      // re-verification recomputes unit vectors and distances in plain
      // column expressions (independent of the operator's UDF path) and
      // publishes one boolean per vector; the DuckDB oracle expects TRUE
      // for every vec_id, so any assignment defect hash-mismatches.
      val e = Tables.embeddings(s, d)
      val assign = SimSearch.coresetSample(e, 16)
      val nrm = sqrt(SimSearch.norm2(col("embedding")))
      val u = when(nrm > 0, transform(col("embedding"), x => x.cast("double") / nrm))
        .otherwise(transform(col("embedding"), _ => lit(0.0)))
      val unit = e.select(col("vec_id"), u.as("u"))
      def dist2(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v)
      val centers = assign.select(col("center_id")).distinct()
        .join(unit.select(col("vec_id").as("center_id"), col("u").as("cu")),
          "center_id")
      val dmin = unit.crossJoin(broadcast(centers))
        .groupBy("vec_id").agg(min(dist2(col("u"), col("cu"))).as("dmin2"))
      assign.join(unit, "vec_id")
        .join(broadcast(centers), "center_id")
        .select(col("vec_id"), col("l2_dist"), dist2(col("u"), col("cu")).as("da"))
        .join(dmin, "vec_id")
        .select(col("vec_id"),
          (abs(col("l2_dist") * col("l2_dist") - col("da")) <= 1e-9 &&
            col("da") <= col("dmin2") + lit(1e-9)).as("assign_ok"))
        .orderBy("vec_id")
    }),
    "x_cluster_summary" -> ((s, d) =>
      // seeded k-means mixture view — rows-only (no oracle), spec-gated
      SimSearch.clusterSummary(Tables.embeddings(s, d), 16)),
    "x_cluster_summary_audit" -> ((s, d) => {
      // STRUCTURAL ORACLE over the declared x_cluster_summary: seeded
      // k-means assignments aren't SQL-expressible, but the partition
      // contract is — member counts sum to the corpus size (recomputed
      // genuinely by DuckDB), ≤ k non-empty clusters, and every cluster's
      // mean cosine-to-centroid within [-1, 1+ulp].
      val cs = SimSearch.clusterSummary(Tables.embeddings(s, d), 16)
      cs.agg(
          coalesce(sum("n_members"), lit(0L)).as("n_total"),
          count(lit(1)).as("k"),
          coalesce(min("n_members"), lit(1L)).as("minm"),
          coalesce(max(abs(col("avg_cos_to_centroid"))), lit(0.0)).as("maxcos"))
        .select(col("n_total"),
          (col("k") <= 16 && col("minm") >= 1).as("partition_ok"),
          (col("maxcos") <= lit(1.0) + lit(1e-9)).as("cohesion_ok"))
    }),
    "x_embed_pca_audit" -> ((s, d) => {
      // STRUCTURAL ORACLE over the declared x_embed_pca: component SIGN
      // is BLAS-indeterminate (why the projection itself is rows-only),
      // but the spectral contract is sign-invariant and SQL-checkable —
      // one projected coordinate row per input vector (n recomputed by
      // DuckDB) and per-component variance non-increasing in component
      // index (the defining property of a PCA basis).
      val pr = SimSearch.pcaProject(Tables.embeddings(s, d), 8)
      val comps = pr
        .select(posexplode(split(col("pc_csv"), ","))) // (pos, coord)
        .select(col("pos"), col("col").cast("double").as("x"))
      val byComp = comps.groupBy("pos")
        .agg(count(lit(1)).as("n"),
          (sum(col("x") * col("x")) / count(lit(1)) -
            (sum("x") / count(lit(1))) * (sum("x") / count(lit(1)))).as("v2"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("pos")
      byComp
        .select(col("pos"), col("n"),
          (col("v2") <= coalesce(lag("v2", 1).over(w), col("v2")) + lit(1e-6))
            .as("variance_ordered"))
        .orderBy("pos")
    }),
    "x_ann_recall_audit" -> ((s, d) => {
      // STRUCTURAL ORACLE over the three declared ANN paths (lsh / ivf /
      // pq at the catalog operating points): per method, (a) result-shape
      // validity — ≤k dense ranks per query, no self-matches, no
      // duplicate or non-corpus neighbor ids — and (b) recall@5 against
      // the in-plan exact brute-force top-k above a measured fixture
      // floor. n_queries is recomputed genuinely by DuckDB; the booleans
      // hash-gate shape and recall (seeds fixed ⇒ deterministic).
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      val k = 5
      // CONCURRENT materialization (r16, guide §2.6): each of the four
      // result sets (brute + three ANN methods) feeds 2–3 consumers, so
      // each must materialize exactly once — but r15 measured that EAGER
      // per-method checkpoints on the calling thread SERIALIZE the four
      // searches (5.0 → 8.4 s warm), while leaving them lazy re-ran each
      // search per consumer. Submitting the four localCheckpoint jobs
      // from separate driver threads gets both: one execution each, all
      // four overlapping (actions are only sequential because the driver
      // calls them sequentially). localCheckpoint, not persist: a
      // persisted plan would let bench reruns time a CacheManager hit
      // instead of the operator — each bench run pays its own four
      // searches. Results are 50-row frames; every consumer is a
      // join/aggregate, so materialized row order cannot matter.
      // construction runs inside each thunk too: the IVF/PQ builders
      // perform their own driver-side fits, which are independent
      val Seq(brute, ivfR, lshR, pqR) = Par.all(Seq(
        () => SimSearch.cosineTopK(q, e, k).select(col("qid"), col("cid")).localCheckpoint(),
        () => SimSearch.ivfTopK(q, e, k).localCheckpoint(),
        () => SimSearch.lshTopK(q, e, k).localCheckpoint(),
        () => SimSearch.pqTopK(q, e, k, m = 16, ksub = 32).localCheckpoint()))
      val nq = q.select(count(lit(1)).as("n_queries"))
      def one(name: String, res: DataFrame, floor: Double): DataFrame = {
        val ids = res.select(col("qid"), col("rk").cast("long").as("rk"), col("cid"))
        val bad = ids.join(e.select(col("vec_id").as("cid")), Seq("cid"), "left_anti")
          .agg(count(lit(1)).as("n_bad"))
        val shape = ids.groupBy("qid")
          .agg(count(lit(1)).as("n"), count_distinct(col("cid")).as("ndist"),
            sum((col("cid") === col("qid")).cast("long")).as("selfh"),
            min("rk").as("mn"), max("rk").as("mx"))
          .agg(coalesce(bool_and(col("n") <= k && col("ndist") === col("n") &&
            col("selfh") === 0 && col("mn") === 1 && col("mx") === col("n")),
            lit(false)).as("shape_ok"))
        val hits = ids.join(brute, Seq("qid", "cid")).agg(count(lit(1)).as("nhit"))
        val nb = brute.agg(count(lit(1)).as("nb"))
        shape.crossJoin(bad).crossJoin(hits).crossJoin(nb).crossJoin(nq)
          .select(lit(name).as("method"), col("n_queries"),
            (col("shape_ok") && col("n_bad") === 0).as("ids_ok"),
            (col("nhit").cast("double") / col("nb") >= floor).as("recall_ok"))
      }
      one("ivf", ivfR, AnnRecallFloorIvf)
        .unionByName(one("lsh", lshR, AnnRecallFloorLsh))
        .unionByName(one("pq", pqR, AnnRecallFloorPq))
        .orderBy("method")
    }),
    "x_dedup_clusters" -> ((s, d) =>
      // pairs → connected components → survivor per cluster. BOTH stages
      // auto-dispatch: the pair source runs lossless AllPairs while the
      // corpus is small and banded minhash (exact-verified collisions)
      // past the ceiling, and the component search runs a driver
      // union-find below the measured edge ceiling or distributed
      // min-label propagation above it — no unguarded driver collect
      // anywhere in the family.
      Dedup.dedupClustersAuto(
        Dedup.nearDupPairsAuto(Tables.documents(s, d), "text", "doc_id", 3, 0.6))),
    "x_dedup_clusters_dist" -> ((s, d) =>
      // same pairs, the distributed min-label-propagation scale path —
      // output-identical to the driver union-find, same oracle
      Dedup.dedupClustersDistributed(
        Dedup.nearDupPairsAuto(Tables.documents(s, d), "text", "doc_id", 3, 0.6))),
    "x_dedup_clusters_auto_dist" -> ((s, d) =>
      // the AUTO dispatch with its edge ceiling forced to 0, so the
      // measured edge count always trips the DISTRIBUTED branch — pins
      // the above-ceiling regime (persist → count → label propagation)
      // under the ordinary hash gate at every SF and at x16, so the
      // scale path's correctness never rests on timing evidence alone
      Dedup.dedupClustersAuto(
        Dedup.nearDupPairsAuto(Tables.documents(s, d), "text", "doc_id", 3, 0.6),
        maxDriverEdges = 0L)),
    "x_dedup_cluster_sizes" -> ((s, d) => {
      // the dedup AUDIT view: how big are the duplicate clusters?
      // (many size-2 clusters = organic near-dups; one giant cluster =
      // boilerplate/template contamination). Singletons derived by
      // subtraction — never a scan of unclustered docs.
      val docs = Tables.documents(s, d)
      val cl = Dedup.dedupClustersAuto(
        Dedup.nearDupPairsAuto(docs, "text", "doc_id", 3, 0.6))
      val hist = cl.groupBy(col("survivor_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size").cast("long").as("cluster_size"),
          col("n_clusters"))
      val singles = docs.agg(count(lit(1)).as("n"))
        .crossJoin(cl.agg(count(lit(1)).as("m")))
        .select(lit(1L).as("cluster_size"), (col("n") - col("m")).as("n_clusters"))
      hist.union(singles)
        .groupBy("cluster_size").agg(sum(col("n_clusters")).as("n_clusters"))
        .orderBy(col("cluster_size"))
    }),
    "x_soft_dedup" -> ((s, d) => {
      // duplicate-aware weighting: every doc kept at 1/cluster_size
      val docs = Tables.documents(s, d)
      Dedup.softDedupWeights(docs,
        Dedup.nearDupPairsAuto(docs, "text", "doc_id", 3, 0.6), "doc_id")
    }),
    "x_novelty_yield" -> ((s, d) => {
      // same corpus/batch split as the delta-dedup family: how much of
      // each incoming doc's shingle mass is genuinely new?
      val docs = Tables.documents(s, d)
      Dedup.noveltyYield(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0),
        "text", "doc_id")
    }),
    "x_leakage_split" -> ((s, d) => {
      // cluster-aware 80/10/10 split: near-dup clusters co-assign (gate
      // on the dedup survivor), so no eval split ever holds a near-copy
      // of a training document
      val docs = Tables.documents(s, d)
      ext.Sampling.leakageSafeSplit(docs,
        Dedup.nearDupPairsAuto(docs, "text", "doc_id", 3, 0.6),
        "doc_id", 800, 100)
    }),
    "t_repetition" -> ((s, d) =>
      TextStats.repetition(Tables.documents(s, d), "text", "doc_id")),
    "t_entropy" -> ((s, d) =>
      Profile.categoryEntropy(Tables.documents(s, d), Seq("lang", "source"))),
    "a_mutual_info" -> ((s, d) =>
      Profile.mutualInfo(Tables.documents(s, d), "lang", "source")),
    "x_bpe_pairs" -> ((s, d) =>
      TextStats.bpePairs(Tables.documents(s, d), "text", 30)),
    "x_semdedup" -> ((s, d) =>
      // same 0.4 threshold rationale as x_embed_neardup (corpus max
      // pairwise cos ≈ 0.6); 8 sign bits → 256 buckets
      SimSearch.semDedup(Tables.embeddings(s, d), 0.4, 8)),
    "x_shard_assign" -> ((s, d) =>
      ext.Sampling.shardAssign(Tables.documents(s, d), "doc_id", "text", 8)),
    "x_semdedup_delta" -> ((s, d) => {
      // batch = every 5th vector (an incoming shard), corpus = the rest
      val e = Tables.embeddings(s, d)
      SimSearch.semDedupDelta(
        e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 === 0), 0.4, 8)
    }),
    "x_vocab_topk" -> ((s, d) =>
      TextStats.vocabTopK(Tables.documents(s, d), "text", 30)),
    "x_group_quantiles" -> ((s, d) =>
      // per-group exact interpolated quantiles (whitespace tokens per
      // lang) — the grouped sibling of the profile's percentile columns
      Tables.documents(s, d)
        .select(col("lang"), size(split(col("text"), " ")).cast("double").as("n"))
        .groupBy("lang")
        .agg(expr("percentile(n, array(0.25D, 0.5D, 0.75D))").as("q"))
        .select(col("lang"), col("q")(0).as("p25"), col("q")(1).as("median"),
          col("q")(2).as("p75"))
        .orderBy("lang")),
    "x_group_quantiles_approx" -> ((s, d) =>
      // mergeable-sketch twin of x_group_quantiles (QuantileSummaries —
      // the 100 TB path: constant-size per-group state, no sorted
      // shuffle of raw values). Rows-only; GroupQuantilesApproxSpec pins
      // the rank-error envelope against the exact form.
      Tables.documents(s, d)
        .select(col("lang"), size(split(col("text"), " ")).cast("double").as("n"))
        .groupBy("lang")
        .agg(percentile_approx(col("n"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("q"))
        .select(col("lang"), col("q")(0).as("p25"), col("q")(1).as("median"),
          col("q")(2).as("p75"))
        .orderBy("lang")),
    "x_vocab_cms" -> ((s, d) =>
      // mergeable count-min sibling of x_vocab_topk — rows-only (sketch
      // estimates are not SQL-expressible), SketchesSpec pins the envelope
      Sketches.vocabCms(Tables.documents(s, d), "text", 30)),
    "x_distinct_sketch" -> ((s, d) =>
      // per-source HLL distinct-doc estimates + merged __ALL__ row —
      // rows-only, SketchesSpec pins the error vs exact distincts
      Sketches.distinctSketchMerge(Tables.documents(s, d), "text", "source")),
    "x_vocab_cms_audit" -> ((s, d) => {
      // STRUCTURAL ORACLE over the declared x_vocab_cms: the count-min
      // CONTRACT is SQL-checkable even though the sketch isn't — for
      // every probed token, est ≥ exact (CMS never undercounts) and
      // est ≤ exact + ε·N (the width guarantee, ε = 1e-4 of the total
      // token stream). Exact top-30 counts recomputed by DuckDB via the
      // x_vocab_topk formula; the booleans hash-gate the envelope.
      val docs = Tables.documents(s, d)
      val cms = Sketches.vocabCms(docs, "text", 30)
      val nTokens = docs.select(explode(regexp_extract_all(lower(col("text")),
        lit(TextStats.BpeTokenPattern), lit(0))).as("t")).count()
      cms.select(col("token"), col("n_exact"),
          (col("n_est") >= col("n_exact")).as("never_under"),
          (col("n_est") <= col("n_exact") + lit(math.ceil(1e-4 * nTokens).toLong))
            .as("within_eps"))
        .orderBy(col("n_exact").desc, col("token"))
    }),
    "x_distinct_sketch_audit" -> ((s, d) => {
      // STRUCTURAL ORACLE over the declared x_distinct_sketch: each HLL
      // estimate (per source AND the sketch-merged __ALL__ row) must sit
      // within a 5% relative envelope (+2 absolute at tiny cardinality)
      // of the exact distinct count, which DuckDB recomputes genuinely.
      val docs = Tables.documents(s, d)
      val est = Sketches.distinctSketchMerge(docs, "text", "source")
      val exPer = docs.groupBy(col("source").cast("string").as("group"))
        .agg(count_distinct(col("text")).as("n_exact"))
        .withColumn("is_total", lit(false))
      val exAll = docs.agg(count_distinct(col("text")).as("n_exact"))
        .select(lit("__ALL__").as("group"), col("n_exact"), lit(true).as("is_total"))
      // EqualNullSafe on the group key: a NULL source is a real stratum
      // (the r10 null-strata contract) and a name-list equi-join would
      // silently drop its row from the audit — the r11 fuzz caught
      // exactly that (engine 5 rows vs oracle 6 on null-source corpora)
      val ex = exPer.unionByName(exAll)
        .withColumnRenamed("group", "g2").withColumnRenamed("is_total", "t2")
      est.join(ex, col("group") <=> col("g2") && col("is_total") === col("t2"))
        .select(col("group"), col("n_exact"), col("is_total"),
          (abs(col("n_distinct_est") - col("n_exact")) <=
            greatest(lit(2L), (col("n_exact") * 0.05).cast("long"))).as("within_envelope"))
        .orderBy("is_total", "group")
    }),
    "x_snapshot_diff" -> ((s, d) => {
      // two simulated corpus versions: 1-in-11 docs are new arrivals,
      // 1-in-13 were dropped, 1-in-5 had their text rewritten
      val docs = Tables.documents(s, d)
      val oldV = docs.filter(col("doc_id") % 11 =!= 3).select(col("doc_id"), col("text"))
      val newV = docs.filter(col("doc_id") % 13 =!= 2).select(col("doc_id"),
        when(col("doc_id") % 5 === 0, upper(col("text"))).otherwise(col("text")).as("text"))
      Snapshot.diff(oldV, newV, "doc_id", Seq("text"))
    }),
    "x_embed_centroid" -> ((s, d) =>
      SimSearch.labelCentroids(Tables.embeddings(s, d))),
    "d_embed_drift" -> ((s, d) => {
      // two halves of the embedding population — encoder/mix drift check
      val e = Tables.embeddings(s, d)
      SimSearch.centroidShift(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1))
    }),
    "x_contamination" -> ((s, d) => {
      // probe = every 10th doc (an "eval set"), corpus = the rest
      val docs = Tables.documents(s, d)
      Dedup.crossContainment(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "text", "doc_id", 3, 0.6)
    }),
    "x_neardup_delta" -> ((s, d) => {
      // same corpus/batch split as x_dedup_delta, fuzzy matching: which
      // incoming docs are ≥0.6-Jaccard near-dups of the curated corpus?
      val docs = Tables.documents(s, d)
      Dedup.neardupDelta(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0),
        "text", "doc_id")
    }),
    "x_neardup_delta_auto" -> ((s, d) => {
      // the dispatch-closed form (r7): below the batch byte ceiling this
      // IS neardupDelta (same rows, same oracle); above it the banded
      // prefilter takes over — the x16 rehearsal exercises that side
      val docs = Tables.documents(s, d)
      Dedup.neardupDeltaAuto(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0),
        "text", "doc_id")
    }),
    "x_minhash_delta" -> ((s, d) => {
      // same corpus/batch split; the banded-signature incremental path
      val docs = Tables.documents(s, d)
      Dedup.minhashDelta(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0),
        "text", "doc_id")
    }),
    "x_dedup_delta" -> ((s, d) => {
      // existing corpus = docs 0 mod 3; incoming batch = the rest (with
      // the batch's own internal dups collapsed to the min id)
      val docs = Tables.documents(s, d)
      Dedup.dedupDelta(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0),
        "text", "doc_id")
    }),
    "x_passage_dedup" -> ((s, d) =>
      // sub-document exact dedup: corpus-wide first occurrence of each
      // 8-token passage wins; docs reassemble from surviving passages
      Dedup.passageDedup(Tables.documents(s, d), "text", "doc_id", 8)),
    "x_contamination_attr" -> ((s, d) => {
      // same probe/corpus split as x_contamination; the auditor view —
      // which eval shingles leaked, ranked by corpus spread
      val docs = Tables.documents(s, d)
      Dedup.contaminationAttribution(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "text", "doc_id", 3, 20)
    }),
    "s_trending" -> ((s, d) =>
      // hour-over-hour top-3 movers by add-one count lift, dense spine
      Events.trending(Tables.events(s, d), 3)),
    "x_bloom_contamination" -> ((s, d) => {
      // same probe/corpus split as x_contamination, through the k=1
      // bloom bitmap prefilter (broadcast side bounded by `bits`)
      val docs = Tables.documents(s, d)
      Dedup.bloomContamination(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "text", "doc_id", 3, 1 << 20, 0.6)
    }),
    "x_hash_sample" -> ((s, d) =>
      // deterministic ~37% downsample of lineitem, reproducible at any
      // parallelism — a pure codegen filter with an EXACT oracle
      ext.Sampling.hashSample(Tables.lineitem(s, d), "l_orderkey", 37, 100)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),
    "x_stratified_sample" -> ((s, d) =>
      // per-stratum rates; the absent stratum ('N') drops entirely
      ext.Sampling.stratifiedHashSample(Tables.lineitem(s, d), "l_orderkey",
          "l_returnflag", Map("A" -> (1, 2), "R" -> (1, 10)))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),
    "x_split_column" -> ((s, d) =>
      // 80/10/10 train/valid/test assignment — counted per split label
      Tables.lineitem(s, d)
        .withColumn("split", ext.Sampling.splitColumn(col("l_orderkey"), 800, 100))
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
        .orderBy(col("split"))),
    "t_token_count" -> ((s, d) =>
      TextStats.tokenCount(Tables.documents(s, d), "text", "doc_id")),
    "x_hash_embed" -> ((s, d) =>
      TextStats.hashEmbed(Tables.documents(s, d), "text", "doc_id", 64)),
    "t_bigram_logprob" -> ((s, d) =>
      TextStats.bigramLogProb(Tables.documents(s, d), "text", "doc_id")),
    "x_token_chunks" -> ((s, d) =>
      // overlapping 32-token chunks at stride 24 — the RAG/long-doc splitter
      Chunking.tokenChunks(Tables.documents(s, d), "text", "doc_id", 32, 24)),
    "x_pack_sequences" -> ((s, d) =>
      // concat-and-chunk packing into 256-token training sequences
      Chunking.packSequences(Tables.documents(s, d), "text", "doc_id", 256)),
    "t_tfidf_topk" -> ((s, d) =>
      TextStats.tfidfTopK(Tables.documents(s, d), "text", "doc_id", 3)),
    "x_embed_quantize" -> ((s, d) =>
      // int8 symmetric quantization; codes ride as a CSV string so every
      // output column is scalar-typed for the hash gate
      SimSearch.quantizeInt8(Tables.embeddings(s, d))
        .select(col("vec_id"), col("max_abs"), col("scale"), col("q_csv"))),
    "x_curriculum" -> ((s, d) =>
      ext.Sampling.curriculumStages(Tables.documents(s, d), "text", "doc_id")),
    "x_corpus_shuffle" -> ((s, d) =>
      ext.Sampling.corpusShuffle(Tables.documents(s, d), "doc_id")),
    "x_upsample" -> ((s, d) =>
      ext.Sampling.qualityUpsample(Tables.documents(s, d), "text", "doc_id")),
    "x_source_budget" -> ((s, d) =>
      // ≈5–6 docs per source at the corpus' ~54-token mean
      ext.Sampling.perSourceTokenBudget(Tables.documents(s, d),
        "text", "doc_id", "source", 300L)),
    "t_pii_scan" -> ((s, d) =>
      TextStats.piiScan(Tables.documents(s, d), "text", "doc_id")),
    "t_pii_redact" -> ((s, d) =>
      // the corpus carries no literal PII, so the query plants a
      // deterministic contact line per doc (derived from doc_id) and
      // redacts it — the oracle mirrors the same construction
      TextStats.piiRedact(
        Tables.documents(s, d).select(col("doc_id"),
          concat(substring(col("text"), 1, 40),
            lit(" reach user"), col("doc_id").cast("string"),
            lit("@mail.example.org or 555-123-4567 acct 9"),
            col("doc_id").cast("string"), lit("00012345")).as("text")),
        "text", "doc_id")),
    "t_token_histogram" -> ((s, d) =>
      TextStats.tokenHistogram(Tables.documents(s, d), "text")),
    "x_keyword_search" -> ((s, d) =>
      TextStats.keywordSearch(Tables.documents(s, d), "text", "doc_id",
        KeywordTerms, 20)),
    "x_bm25_search" -> ((s, d) =>
      // same query terms through the BM25 relevance model: tf
      // saturation + length normalization + rational Robertson idf
      TextStats.bm25Search(Tables.documents(s, d), "text", "doc_id",
        KeywordTerms, 20)),
    "x_zorder_stats" -> ((s, d) =>
      // z-order layout audit: 16 z-slices of lineitem clustered on
      // (l_orderkey, l_partkey) with each slice's bounding rectangle
      graft.io.ZOrder.zorderStats(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", 8, 16)),
    "x_source_best" -> ((s, d) =>
      // each domain's 5 best pages by quality — bounded aggregate
      ext.Sampling.perSourceBest(Tables.documents(s, d), "text", "doc_id",
        "source", 5)),
    "x_source_cap" -> ((s, d) =>
      // at most 10 docs per source (per-domain crawl cap) — bounded
      // aggregate, never a full-table window sort
      ext.Sampling.perKeyCap(Tables.documents(s, d), "doc_id", "source", 10)
        .orderBy(col("source"), col("doc_id"))),
    "x_mix_rebalance" -> ((s, d) =>
      ext.Sampling.mixRebalance(Tables.documents(s, d), "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))),
    "x_mix_temperature" -> ((s, d) =>
      ext.Sampling.temperatureRebalance(Tables.documents(s, d), "doc_id", "source")
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy(col("doc_id"))),
    "m_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(
        Multimodal.attachBinary(Tables.documents(s, d), "text", "doc_id"), 4, 16)),
    "m_thumbnail" -> ((s, d) =>
      Multimodal.thumbnail(
        Multimodal.attachBinary(Tables.documents(s, d), "text", "doc_id"))
        .toDF().orderBy(col("doc_id"))),
    "m_audio_features" -> ((s, d) =>
      Multimodal.audioFeatures(
        Multimodal.attachBinary(Tables.documents(s, d), "text", "doc_id"))
        .toDF().orderBy(col("doc_id"), col("window_idx"))),
    "m_scene_cuts" -> ((s, d) =>
      Multimodal.sceneCuts(
        Multimodal.attachBinary(Tables.documents(s, d), "text", "doc_id"))
        .toDF().orderBy(col("doc_id"), col("frame_idx"))),
    "x_embed_pca" -> ((s, d) =>
      // seeded-SVD dimensionality reduction (sign-indeterminate across
      // BLAS builds → rows-only; SimSearchSpec pins the invariants)
      SimSearch.pcaProject(Tables.embeddings(s, d), 8)),
    "x_corpus_clean" -> ((s, d) =>
      TextStats.corpusClean(Tables.documents(s, d), "text", "doc_id")),
    "x_curation_report" -> ((s, d) =>
      TextStats.curationReport(Tables.documents(s, d), "text", "doc_id")),
    "t_text_stats" -> ((s, d) =>
      TextStats.textStats(Tables.documents(s, d), "text", "doc_id")),
    "t_flesch" -> ((s, d) =>
      TextStats.readability(Tables.documents(s, d), "text", "doc_id")),
    "x_group_quantiles_approx_audit" -> ((s, d) => {
      // STRUCTURAL ORACLE over the declared x_group_quantiles_approx:
      // QuantileSummaries' CONTRACT is a rank-error envelope — the
      // returned value q for probability p must have rank within
      // ε·n = n/accuracy of p·n. The envelope IS SQL-checkable even
      // though the sketch isn't: recount ranks of the returned values
      // against the raw data in-plan, publish one boolean per
      // (group, probability); the oracle recomputes per-group n and
      // expects every boolean TRUE. (±1 slack absorbs the open/closed
      // rank-boundary convention.)
      val acc = 10000
      val vals = Tables.documents(s, d)
        .select(col("lang"), size(split(col("text"), " ")).cast("double").as("n"))
      val approx = vals.groupBy("lang")
        .agg(percentile_approx(col("n"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(acc)).as("q"))
      val eps = 1.0 / acc
      def le(i: Int) = sum((col("n") <= col("q")(i)).cast("long"))
      def lt(i: Int) = sum((col("n") < col("q")(i)).cast("long"))
      def ok(i: Int, p: Double) =
        (le(i) >= floor((lit(p) - eps) * count(lit(1))) - 1) &&
          (lt(i) <= ceil((lit(p) + eps) * count(lit(1))) + 1)
      // EqualNullSafe: null lang is a real group (r10 contract) — the
      // name-list join dropped its audit row (r11 fuzz, 5 vs 6 rows)
      vals.join(broadcast(approx.withColumnRenamed("lang", "l2")),
          col("lang") <=> col("l2"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"), ok(0, 0.25).as("p25_ok"),
          ok(1, 0.5).as("median_ok"), ok(2, 0.75).as("p75_ok"))
        .orderBy("lang")
    }),
    "x_source_card" -> ((s, d) =>
      TextStats.sourceCard(Tables.documents(s, d), "text", "source", "lang")),
    "t_code_detect" -> ((s, d) =>
      TextStats.codeDetect(Tables.documents(s, d), "text", "doc_id")),
    "t_fertility" -> ((s, d) =>
      TextStats.tokenizerFertility(Tables.documents(s, d), "text", "lang")),
    "x_curation_funnel" -> ((s, d) =>
      TextStats.curationFunnel(Tables.documents(s, d), "text", "doc_id")),
    "x_pack_bins" -> ((s, d) =>
      // declared mode (sequential FFD not SQL-expressible) — rows-only;
      // ChunkingSpec pins capacity/completeness/determinism/fill floor
      Chunking.packBins(Tables.documents(s, d), "text", "doc_id",
        budget = 128, groups = 8)),
    "x_pack_bins_audit" -> ((s, d) => {
      // STRUCTURAL ORACLE over the declared x_pack_bins: the bin LAYOUT
      // is FFD-sequential (no SQL form), but its invariants are plain
      // SQL over the output — every doc packed exactly once (n_docs,
      // tokens_total), overflow = exactly the docs over budget, no
      // non-overflow bin over capacity, and the bin count between the
      // token-mass lower bound and the first-fit half-full upper bound
      // (≤ one bin per group may end ≤ half full). Counts are genuinely
      // recomputed by the DuckDB oracle; the booleans hash-mismatch the
      // oracle's TRUE on any packing defect. Runs the AUTO groups path,
      // so the plan-stats group derivation is itself under the gate.
      val budget = 128
      val packed = Chunking.packBins(Tables.documents(s, d), "text", "doc_id",
        budget = budget)
      val bins = packed.filter(!col("overflow"))
        .groupBy("bin_id").agg(sum("n_tokens").as("fill"))
      val binStats = bins.agg(
        count(lit(1)).as("n_bins"),
        coalesce(max("fill"), lit(0L)).as("max_fill"),
        coalesce(sum("fill"), lit(0L)).as("mass"),
        coalesce(count_distinct(floor(col("bin_id") /
          Chunking.BinIdStride.toDouble)), lit(0L)).as("n_grps"))
      packed.agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("tokens_total"),
          coalesce(sum(col("overflow").cast("long")), lit(0L)).as("n_overflow"))
        .crossJoin(binStats)
        .select(col("n_docs"), col("tokens_total"), col("n_overflow"),
          (col("max_fill") <= budget).as("capacity_ok"),
          (col("n_bins") >= ceil(col("mass").cast("double") / budget))
            .as("bins_lb_ok"),
          (col("n_bins") <=
            floor(col("mass") * 2.0 / budget) + col("n_grps")).as("bins_ub_ok"))
    }),
    "x_doc_novelty" -> ((s, d) =>
      Dedup.docNovelty(Tables.documents(s, d), "text", "doc_id")),
    "x_quality_classifier" -> ((s, d) =>
      // declared prop mode (MLlib fit not SQL-expressible) — rows-only;
      // QualityModelSpec pins accuracy > base rate + calibration
      graft.ml.QualityModel.qualityClassifier(
        Tables.documents(s, d), "text", "doc_id")),
    "x_quality_audit" -> ((s, d) => {
      // STRUCTURAL ORACLE over the declared quality classifier: one
      // scored row per document (n recomputed genuinely by DuckDB),
      // probabilities inside [0,1], and train accuracy at or above the
      // majority-class rate of the (SQL-expressible, t_gopher_rules-
      // oracle-EXACT) heuristic labels — a model that can't beat the
      // constant predictor has learned nothing and fails the gate.
      val out = graft.ml.QualityModel.qualityClassifier(
        Tables.documents(s, d), "text", "doc_id")
      out.agg(
          count(lit(1)).as("n_docs"),
          coalesce(bool_and(col("p_pass") >= 0.0 && col("p_pass") <= 1.0),
            lit(false)).as("probs_ok"),
          avg(col("label")).as("base"),
          avg((col("prediction") === col("label")).cast("double")).as("acc"))
        .select(col("n_docs"), col("probs_ok"),
          (col("acc") >= greatest(col("base"), lit(1.0) - col("base")) - lit(1e-12))
            .as("beats_majority"))
    }),
    "t_lang_id" -> ((s, d) =>
      TextStats.langId(Tables.documents(s, d), "text", "doc_id")),
    "t_gopher_rules" -> ((s, d) =>
      // widened at the CALL SITE, not inside the operator: QualityModel's
      // fit reads gopherRules on the un-widened frame to keep the LBFGS
      // sample placement (and so the declared model bits) untouched
      TextStats.gopherRules(graft.ops.Par.widen(Tables.documents(s, d)), "text", "doc_id")),
    "t_freq_spectrum" -> ((s, d) =>
      TextStats.freqSpectrum(Tables.documents(s, d), "text")),
    "x_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlap(Tables.documents(s, d), "text", "source")),
    "x_ppl_buckets" -> ((s, d) =>
      TextStats.perplexityBuckets(Tables.documents(s, d), "text", "doc_id")),
    "x_hybrid_search" -> ((s, d) =>
      SimSearch.hybridSearch(Tables.documents(s, d), Tables.embeddings(s, d),
        KeywordTerms, HybridQueryVec, HybridDepth, HybridK)),
    "t_fingerprint" -> ((s, d) =>
      TextStats.fingerprint(Tables.documents(s, d), "text", "doc_id")),
    "m_multimodal_meta" -> ((s, d) =>
      Multimodal.decode(
        Multimodal.attachBinary(Tables.documents(s, d), "text", "doc_id"))
        .toDF().orderBy(col("doc_id"))),
    "s_props_json" -> ((s, d) =>
      // JSON scalar-function surface (SURVEY §2.7): extract props.k and
      // aggregate exactly (integer sums).
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"),
          sum(col("k")).as("sum_k"),
          (sum(col("k")).cast("double") / count(col("k"))).as("avg_k"))
        .orderBy("event_type")),
    "s_tumbling" -> ((s, d) => Events.tumbling(Tables.events(s, d))),
    "s_sliding" -> ((s, d) => Events.sliding(Tables.events(s, d))),
    "s_sessionize" -> ((s, d) => Events.sessionize(Tables.events(s, d))),
    "s_top_paths" -> ((s, d) => Events.topPaths(Tables.events(s, d))),
    "s_session_lengths" -> ((s, d) => Events.sessionLengthDist(Tables.events(s, d))),
    "s_dedup_first" -> ((s, d) => Events.dedupFirst(Tables.events(s, d))),
    "s_attribution" -> ((s, d) => Events.attribution(Tables.events(s, d))),
    "s_gap_fill" -> ((s, d) => Events.gapFill(Tables.events(s, d))),
    "s_anomaly" -> ((s, d) => Events.anomaly(Tables.events(s, d))),
    "s_funnel" -> ((s, d) => Events.funnel(Tables.events(s, d))),
    "s_retention" -> ((s, d) => Events.retention(Tables.events(s, d))),
    "t_lang_mismatch" -> ((s, d) => {
      // curation audit: documents whose METADATA language disagrees with
      // the content prediction — one codegen scan over the corpus
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"), col("lang"),
          TextStats.langPred(col("text")).as("lang_pred"))
        .filter(!(col("lang_pred") <=> col("lang")))
        .orderBy("doc_id")
    }),
  )

  // ------------------------------------------------------------- SQL parts

  /** Token hash SQL (mirror of TextStats.tokenHash). */
  private def thSql(t: String): String =
    s"((ascii($t) * 31 + ascii(substr($t, 2, 1))) * 31 + ascii(substr($t, 3, 1))) * 31 + length($t)"

  /** Shingle CTEs shared by the dedup oracles — arithmetic shingle hashes
    * mirroring Dedup.shingleHashes (same fold, same constants; shingle
    * strings are never built on either side). */
  private val shingleCtes =
    s"""toks AS (SELECT doc_id, text,
       |  list_transform(string_split(text, ' '), t -> CAST(${thSql("t")} AS BIGINT)) AS ths
       |  FROM documents),
       |sh AS (SELECT DISTINCT doc_id,
       |  ((((ths[i] % 1000000007) * 1000003 + ths[i + 1]) % 1000000007) * 1000003 + ths[i + 2]) % 1000000007 AS s
       |  FROM toks, UNNEST(range(1, greatest(len(ths) - 1, 1))) AS t(i)),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1)""".stripMargin
  // ^ range upper bound greatest(len-1, 1), NOT 2: a sub-3-token doc has
  //   NO 3-gram shingles — the old floor of 2 still emitted i=1 for it,
  //   whose out-of-bounds ths[i+2] made a phantom NULL shingle row, so
  //   per-doc shingle counts (novelty/containment denominators) read 1
  //   where the engine correctly reads 0 — found by the r10 curation
  //   fuzz (seed 22). Pair/jaccard oracles never saw it (NULL joins
  //   nothing); only the counting consumers diverged.

  /** Exact AllPairs pair-source CTE chain (`jp` → `jpairs(ida, idb)`) —
    * the pair detection the cluster-consumer oracles ride at every
    * oracle-checked SF (the corpora sit below
    * `Dedup.AllPairsExactMaxInputBytes`, so `nearDupPairsAuto` takes the
    * lossless AllPairs side there). */
  private val exactJpairsCtes: String =
    """jp AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS shared
      |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |jpairs AS (SELECT ida, idb FROM jp
      |  JOIN sizes sa ON ida = sa.doc_id JOIN sizes sb ON idb = sb.doc_id
      |  WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.6)""".stripMargin

  /** MinHash signature + banding CTE chain (`hs` → `sig` → `banded`),
    * the shared DuckDB mirror of `Dedup.bandedSignatures` at an explicit
    * (numPerms, bands) operating point — consumed by the raw banding
    * oracles AND the x16 pair-source overrides (above
    * `AllPairsExactMaxInputBytes` the dispatched default is banded
    * minhash at `bandingFor(threshold)`, so the at-scale oracle must pin
    * THAT side's semantics, not the exact side's). */
  private def bandedCtes(numPerms: Int, bands: Int): String = {
    val r = numPerms / bands
    val perms = Dedup.minhashPerms(numPerms)
      .map { case (a, b) => s"[CAST($a AS BIGINT), CAST($b AS BIGINT)]" }
      .mkString("[", ", ", "]")
    s"""hs AS (SELECT doc_id, list(s) AS hl FROM sh GROUP BY 1),
       |sig AS (SELECT doc_id,
       |  list_transform($perms, p ->
       |    list_min(list_transform(hl, x -> (p[1] * x + p[2]) % 2147483647))) AS sg
       |  FROM hs),
       |banded AS (SELECT doc_id, j AS band,
       |  array_to_string(sg[j * $r + 1 : j * $r + $r], '-') AS bsig
       |  FROM sig, UNNEST(range(0, $bands)) AS t(j))""".stripMargin
  }

  /** Banded-minhash pair-source twin of [[exactJpairsCtes]]: band-bucket
    * collisions → exact-Jaccard verify → the same `jpairs(ida, idb)`
    * shape, so every cluster-consumer oracle composes with either pair
    * source unchanged. */
  private def bandedJpairsCtes(numPerms: Int, bands: Int): String =
    s"""${bandedCtes(numPerms, bands)},
       |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       |jp AS (SELECT c.ida, c.idb, COUNT(*) AS shared
       |  FROM cand c JOIN sh x ON x.doc_id = c.ida
       |  JOIN sh y ON y.doc_id = c.idb AND y.s = x.s GROUP BY 1, 2),
       |jpairs AS (SELECT ida, idb FROM jp
       |  JOIN sizes sa ON ida = sa.doc_id JOIN sizes sb ON idb = sb.doc_id
       |  WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.6)""".stripMargin

  /** Shared by x_dedup_clusters (driver union-find),
    * x_dedup_clusters_dist (min-label propagation) and
    * x_dedup_clusters_auto_dist (the dispatch forced distributed) — all
    * forms converge to the component-minimum survivor, so one
    * transitive-closure oracle gates them, parameterized on the pair
    * source (exact at driver SFs, banded in the x16 overrides). */
  private def clustersSqlWith(jpairsCtes: String): String =
    s"""WITH RECURSIVE $shingleCtes,
       |$jpairsCtes,
       |nodes AS (SELECT ida AS n FROM jpairs UNION SELECT idb FROM jpairs),
       |edges AS (SELECT ida AS a, idb AS b FROM jpairs
       |          UNION SELECT idb, ida FROM jpairs),
       |reach AS (SELECT n AS node, n AS r FROM nodes
       |          UNION
       |          SELECT e.b AS node, reach.r AS r
       |          FROM reach JOIN edges e ON reach.node = e.a)
       |SELECT node AS doc_id, MIN(r) AS survivor_id
       |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  private def clustersSql: String = clustersSqlWith(exactJpairsCtes)

  /** Same transitive closure as [[clustersSql]], then every document is
    * gated by its cluster representative (itself when unclustered) —
    * the oracle twin of `Sampling.leakageSafeSplit`. */
  private def leakageSplitSqlWith(jpairsCtes: String): String =
    s"""WITH RECURSIVE $shingleCtes,
       |$jpairsCtes,
       |nodes AS (SELECT ida AS n FROM jpairs UNION SELECT idb FROM jpairs),
       |edges AS (SELECT ida AS a, idb AS b FROM jpairs
       |          UNION SELECT idb, ida FROM jpairs),
       |reach AS (SELECT n AS node, n AS r FROM nodes
       |          UNION
       |          SELECT e.b AS node, reach.r AS r
       |          FROM reach JOIN edges e ON reach.node = e.a),
       |surv AS (SELECT node AS doc_id, MIN(r) AS rep FROM reach GROUP BY 1),
       |dr AS (SELECT dd.doc_id AS doc_id, COALESCE(surv.rep, dd.doc_id) AS rep
       |       FROM documents dd LEFT JOIN surv ON dd.doc_id = surv.doc_id),
       |gg AS (SELECT doc_id, rep, ${ext.Sampling.gateSql("rep")} % 1000 AS g FROM dr)
       |SELECT CASE WHEN g < 800 THEN 'train' WHEN g < 900 THEN 'valid'
       |            ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs,
       |  CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_groups,
       |  CAST(SUM(CASE WHEN rep <> doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
       |FROM gg GROUP BY 1 ORDER BY split""".stripMargin

  private def leakageSplitSql: String = leakageSplitSqlWith(exactJpairsCtes)

  /** Transitive closure again, then per-cluster sizes spread back over
    * every document — the oracle twin of `Dedup.softDedupWeights`. */
  private def softDedupSqlWith(jpairsCtes: String): String =
    s"""WITH RECURSIVE $shingleCtes,
       |$jpairsCtes,
       |nodes AS (SELECT ida AS n FROM jpairs UNION SELECT idb FROM jpairs),
       |edges AS (SELECT ida AS a, idb AS b FROM jpairs
       |          UNION SELECT idb, ida FROM jpairs),
       |reach AS (SELECT n AS node, n AS r FROM nodes
       |          UNION
       |          SELECT e.b AS node, reach.r AS r
       |          FROM reach JOIN edges e ON reach.node = e.a),
       |surv AS (SELECT node AS doc_id, MIN(r) AS rep FROM reach GROUP BY 1),
       |csz AS (SELECT rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |        FROM surv GROUP BY 1)
       |SELECT dd.doc_id,
       |  COALESCE(csz.cluster_size, 1) AS cluster_size,
       |  CAST(1.0 AS DOUBLE) / COALESCE(csz.cluster_size, 1) AS weight
       |FROM documents dd
       |LEFT JOIN surv ON dd.doc_id = surv.doc_id
       |LEFT JOIN csz ON surv.rep = csz.rep
       |ORDER BY dd.doc_id""".stripMargin

  private def softDedupSql: String = softDedupSqlWith(exactJpairsCtes)

  /** Cluster-size histogram over [[clustersSqlWith]]'s survivors, with
    * singletons derived by subtraction — the oracle twin of the
    * x_dedup_cluster_sizes query, parameterized on the pair source like
    * every cluster consumer. */
  private def clusterSizesSqlWith(jpairsCtes: String): String =
    s"""WITH cl AS (${clustersSqlWith(jpairsCtes)}),
       |sz AS (SELECT survivor_id, COUNT(*) AS cluster_size FROM cl GROUP BY 1),
       |hist AS (SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       |                COUNT(*) AS n_clusters FROM sz GROUP BY 1),
       |tot AS (SELECT (SELECT COUNT(*) FROM documents) -
       |               (SELECT COUNT(*) FROM cl) AS singles)
       |SELECT cluster_size, CAST(SUM(n_clusters) AS BIGINT) AS n_clusters
       |FROM (SELECT cluster_size, n_clusters FROM hist
       |      UNION ALL SELECT CAST(1 AS BIGINT), singles FROM tot) u
       |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  private def jaccardSql: String =
    s"""WITH $shingleCtes,
       |pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS shared
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT ida, idb,
       |  CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) AS jaccard
       |FROM pairs JOIN sizes sa ON ida = sa.doc_id JOIN sizes sb ON idb = sb.doc_id
       |WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.6
       |ORDER BY ida, idb""".stripMargin

  private def minhashSql: String = minhashSqlAt(numPerms = 32, bands = 8, cap = 0)

  /** Shared minhash-banding oracle, parameterized on the banding
    * operating point and the bucket cap so x_minhash_lsh,
    * x_minhash_capped AND the x16 dispatch overrides (the autos'
    * above-ceiling sides: `bandingFor(0.6)` = 48×16, the capped default
    * = 32×8 cap 32) all derive from ONE formula source. */
  private def minhashSqlAt(numPerms: Int, bands: Int, cap: Int): String = {
    val bandSrc =
      if (cap <= 0) "banded"
      else s"""(SELECT bd.* FROM banded bd JOIN (
              |   SELECT band, bsig FROM banded GROUP BY 1, 2
              |   HAVING COUNT(*) <= $cap AND COUNT(*) >= 2) kb
              | ON bd.band = kb.band AND bd.bsig = kb.bsig)""".stripMargin
    s"""WITH $shingleCtes,
       |${bandedCtes(numPerms, bands)},
       |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM $bandSrc a JOIN $bandSrc b
       |  ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       |shared AS (SELECT c.ida, c.idb, COUNT(*) AS shared
       |  FROM cand c JOIN sh x ON x.doc_id = c.ida
       |  JOIN sh y ON y.doc_id = c.idb AND y.s = x.s GROUP BY 1, 2)
       |SELECT s.ida, s.idb,
       |  CAST(s.shared AS DOUBLE) / (sa.sz + sb.sz - s.shared) AS jaccard
       |FROM shared s JOIN sizes sa ON s.ida = sa.doc_id
       |JOIN sizes sb ON s.idb = sb.doc_id
       |WHERE CAST(s.shared AS DOUBLE) / (sa.sz + sb.sz - s.shared) >= 0.6
       |ORDER BY s.ida, s.idb""".stripMargin
  }

  /** DuckDB mirror of `Dedup.neardupDeltaBanded` — the side
    * `neardupDeltaAuto` dispatches to above its batch byte ceiling:
    * band-bucket collisions between the incoming batch (doc_id % 3 ≠ 0)
    * and the corpus, exact-Jaccard verify, ALL matches emitted (unlike
    * minhashDelta's best-match rollup). The x16 override for
    * x_neardup_delta_auto, at the `bandingFor(0.6)` = 48×16 point. */
  private def neardupDeltaBandedSql(numPerms: Int, bands: Int): String =
    s"""WITH $shingleCtes,
       |${bandedCtes(numPerms, bands)},
       |cand AS (SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
       |  FROM banded b JOIN banded c ON b.band = c.band AND b.bsig = c.bsig
       |  WHERE b.doc_id % 3 <> 0 AND c.doc_id % 3 = 0),
       |sh2 AS (SELECT cand.batch_id, cand.corpus_id, COUNT(*) AS shared
       |  FROM cand JOIN sh x ON x.doc_id = cand.batch_id
       |  JOIN sh y ON y.doc_id = cand.corpus_id AND y.s = x.s GROUP BY 1, 2)
       |SELECT batch_id, corpus_id,
       |  CAST(shared AS DOUBLE) / (sb.sz + sc.sz - shared) AS jaccard
       |FROM sh2 JOIN sizes sb ON batch_id = sb.doc_id
       |JOIN sizes sc ON corpus_id = sc.doc_id
       |WHERE CAST(shared AS DOUBLE) / (sb.sz + sc.sz - shared) >= 0.6
       |ORDER BY batch_id, corpus_id""".stripMargin

  /** BM25 oracle — the exact operand-order mirror of
    * [[TextStats.bm25Search]]: integer tf/dl/df/N/Σdl aggregates, the
    * pre-folded 2.2/0.3/0.9 literals, and left-associated folds, so the
    * double score hash-matches (see the Spark-side scaladoc). */
  private def bm25Sql: String = {
    val tfs = KeywordTerms.indices.map(i =>
      s"CAST(len(regexp_extract_all(lower(text), '\\b${KeywordTerms(i)}\\b')) AS DOUBLE) AS tf_$i")
    val dfs = KeywordTerms.indices.map(i =>
      s"SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i")
    val contribs = KeywordTerms.indices.map { i =>
      s"""(1.0 + ((CAST((nd - df_$i) AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5))) *
         | ((tf_$i * 2.2) / (tf_$i + 0.3 + (0.9 * (CAST(dl AS DOUBLE) / avgdl))))""".stripMargin
    }
    val hits = KeywordTerms.indices
      .map(i => s"CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH base AS (SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |  ${tfs.mkString(",\n  ")}
       |  FROM documents),
       |stats AS (SELECT COUNT(*) AS nd,
       |  CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
       |  ${dfs.mkString(",\n  ")}
       |  FROM base),
       |scored AS (SELECT doc_id,
       |  ${contribs.mkString(" +\n  ")} AS score,
       |  CAST($hits AS INTEGER) AS n_terms_hit
       |  FROM base CROSS JOIN stats)
       |SELECT doc_id, score, n_terms_hit FROM scored WHERE score > 0
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  /** Hybrid-search oracle: the bm25Sql scoring CTEs (depth-limited) and
    * the topkSql cosine ranking (query id fixed), full-outer-joined and
    * RRF-fused with the same fixed term order (lexical + semantic) as
    * the Spark plan. */
  private def hybridSql: String = {
    val tfs = KeywordTerms.indices.map(i =>
      s"CAST(len(regexp_extract_all(lower(text), '\\b${KeywordTerms(i)}\\b')) AS DOUBLE) AS tf_$i")
    val dfs = KeywordTerms.indices.map(i =>
      s"SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i")
    val contribs = KeywordTerms.indices.map { i =>
      s"""(1.0 + ((CAST((nd - df_$i) AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5))) *
         | ((tf_$i * 2.2) / (tf_$i + 0.3 + (0.9 * (CAST(dl AS DOUBLE) / avgdl))))""".stripMargin
    }
    s"""WITH base AS (SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |  ${tfs.mkString(",\n  ")}
       |  FROM documents),
       |stats AS (SELECT COUNT(*) AS nd,
       |  CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
       |  ${dfs.mkString(",\n  ")}
       |  FROM base),
       |lscored AS (SELECT doc_id,
       |  ${contribs.mkString(" +\n  ")} AS score
       |  FROM base CROSS JOIN stats),
       |lexr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS r_lex
       |  FROM (SELECT doc_id, score FROM lscored WHERE score > 0
       |        ORDER BY score DESC, doc_id LIMIT $HybridDepth) t),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $HybridQueryVec),
       |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
       |      WHERE vec_id <> $HybridQueryVec),
       |cscored AS (SELECT cid,
       |  ${cosSql("qv", "cv")} AS cos
       |  FROM c CROSS JOIN q),
       |semr AS (SELECT doc_id, r_sem FROM (
       |  SELECT cid AS doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, cid ASC) AS INTEGER) AS r_sem
       |  FROM cscored WHERE cos IS NOT NULL) t WHERE r_sem <= $HybridDepth),
       |fused AS (SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, r_lex, r_sem,
       |  COALESCE(1.0 / (60 + r_lex), 0.0) + COALESCE(1.0 / (60 + r_sem), 0.0) AS rrf
       |  FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id)
       |SELECT doc_id, r_lex, r_sem, rrf FROM fused
       |ORDER BY rrf DESC, doc_id LIMIT $HybridK""".stripMargin
  }

  /** Z-order stats oracle — integer bucket/interleave arithmetic
    * mirroring [[graft.io.ZOrder.zorderStats]] at bits=8, parts=16. */
  private def zorderSql: String = {
    val interleave = (0 until 8).map(i =>
      s"(((b1 >> $i) & 1) << ${2 * i}) | (((b2 >> $i) & 1) << ${2 * i + 1})")
      .mkString(" | ")
    s"""WITH ext AS (SELECT
       |  CAST(MIN(l_orderkey) AS BIGINT) AS min1, CAST(MAX(l_orderkey) AS BIGINT) AS max1,
       |  CAST(MIN(l_partkey) AS BIGINT) AS min2, CAST(MAX(l_partkey) AS BIGINT) AS max2
       |  FROM lineitem),
       |b AS (SELECT l_orderkey, l_partkey,
       |  COALESCE(CAST(FLOOR((CAST(l_orderkey AS BIGINT) - min1) * 256 / (max1 - min1 + 1)) AS BIGINT), 0) AS b1,
       |  COALESCE(CAST(FLOOR((CAST(l_partkey AS BIGINT) - min2) * 256 / (max2 - min2 + 1)) AS BIGINT), 0) AS b2
       |  FROM lineitem CROSS JOIN ext),
       |z AS (SELECT l_orderkey, l_partkey, ($interleave) AS zval FROM b)
       |SELECT (zval >> 12) AS slice, COUNT(*) AS n_rows,
       |  CAST(MIN(l_orderkey) AS BIGINT) AS min_k1, CAST(MAX(l_orderkey) AS BIGINT) AS max_k1,
       |  CAST(MIN(l_partkey) AS BIGINT) AS min_k2, CAST(MAX(l_partkey) AS BIGINT) AS max_k2
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private def simhashSql: String = {
    val spread = s"list_transform(string_split(text, ' '), " +
      s"t -> (CAST(${thSql("t")} AS BIGINT) * 2654435761) % 2305843009213693951)"
    s"""WITH hsrc AS (SELECT doc_id, $spread AS hs FROM documents),
       |fp AS (SELECT doc_id,
       |  list_aggregate(list_transform(range(0, 61), b ->
       |    IF(list_aggregate(list_transform(hs, h -> ((h >> b) & 1) * 2 - 1), 'sum') > 0,
       |       (CAST(1 AS BIGINT) << b), CAST(0 AS BIGINT))), 'sum') AS fp
       |  FROM hsrc),
       |blocks AS (SELECT doc_id, fp, j AS blk, (fp >> (j * 16)) & 65535 AS bv
       |  FROM fp, UNNEST(range(0, 4)) AS t(j)),
       |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
       |  bit_count(xor(a.fp, b.fp)) AS hamming
       |  FROM blocks a JOIN blocks b
       |  ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT ida, idb, CAST(hamming AS INTEGER) AS hamming FROM cand
       |WHERE hamming <= 3 ORDER BY ida, idb""".stripMargin
  }

  /** Explicit left-associated 64-term dot/norm sums (bit-mirror of the
    * Spark sequential fold). */
  private def dotSql(a: String, b: String): String =
    (1 to 64).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)").mkString(" + ")

  /** Guarded cosine mirroring [[graft.ext.SimSearch.cosine]]: NULL when
    * either side has zero (or NULL) norm. The unguarded 0/0 division
    * DuckDB happily evaluates yields NaN — and NaN compares GREATER
    * than any threshold and sorts FIRST under ORDER BY cos DESC, so an
    * all-zero embedding would rank as everything's nearest neighbor in
    * the oracle while the engine (correctly) drops the undefined angle. */
  private def cosSql(a: String, b: String): String =
    s"""CASE WHEN SQRT(${dotSql(a, a)}) * SQRT(${dotSql(b, b)}) > 0
       | THEN (${dotSql(a, b)}) / (SQRT(${dotSql(a, a)}) * SQRT(${dotSql(b, b)})) END""".stripMargin

  private def topkSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
       |scored AS (SELECT qid, cid,
       |  ${cosSql("qv", "cv")} AS cos
       |  FROM q CROSS JOIN c WHERE qid <> cid),
       |ranked AS (SELECT qid, cid, cos,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS INTEGER) AS rk
       |  FROM scored WHERE cos IS NOT NULL)
       |SELECT qid, rk, cid, cos FROM ranked WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  /** Bigram-LM CTE chain shared by t_bigram_logprob and x_ppl_buckets:
    * per-doc cumulative Laplace-smoothed log-prob (mirror of
    * TextStats.bigramLogProb — same pair construction, same ordered
    * window sum, so both consumers see identical per-doc scores). */
  private def bigramCtes: String =
    s"""base AS (SELECT doc_id,
       |  regexp_extract_all(lower(text), '${TextStats.BpeTokenPattern}') AS ts
       |  FROM documents),
       |pairs AS (SELECT doc_id, i AS pos, ts[i] AS a, ts[i + 1] AS b
       |  FROM base, UNNEST(range(1, len(ts))) t(i) WHERE len(ts) >= 2),
       |uc AS (SELECT a, COUNT(*) AS ca FROM
       |  (SELECT UNNEST(ts) AS a FROM base) GROUP BY 1),
       |vv AS (SELECT COUNT(*) AS v FROM uc),
       |bi AS (SELECT a, b, COUNT(*) AS cab FROM pairs GROUP BY 1, 2),
       |j AS (SELECT p.doc_id, p.pos,
       |  ln(CAST(cab + 1 AS DOUBLE) / CAST(ca + v AS DOUBLE)) AS term
       |  FROM pairs p JOIN bi USING (a, b) JOIN uc USING (a) CROSS JOIN vv),
       |c AS (SELECT doc_id, SUM(term) OVER (PARTITION BY doc_id ORDER BY pos
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM j)""".stripMargin

  /** Gopher-rules oracle: mirrors TextStats.gopherRules metric by metric
    * (same fixed-op-order arithmetic, thresholds interpolated from the
    * shared TextStats.Gopher* constants). The symbol-ratio divide guard
    * is DuckDB's own semantics — division by zero yields NULL — so the
    * CASE mirrors Spark's `when(nChars > 0, ...)`. */
  /** Shared by the t_code_detect entry and the curation-funnel oracle —
    * ONE formula source so the two can't drift. */
  private def codeDetectSql: String = {
    val kws = TextStats.CodeKeywords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id,
       |  length(text) AS nc,
       |  length(text) - length(regexp_replace(text, '[{}()\\[\\];=<>]', '', 'g')) AS nsym,
       |  len(list_filter(string_split(lower(text), ' '),
       |    x -> list_contains($kws, x))) AS kw
       |  FROM documents),
       |s AS (SELECT doc_id, nsym, kw,
       |  CASE WHEN nc > 0 THEN CAST(nsym AS DOUBLE) / nc END AS sr FROM t)
       |SELECT doc_id, CAST(nsym AS BIGINT) AS n_symbols,
       |  CAST(kw AS BIGINT) AS kw_hits,
       |  sr AS symbol_ratio,
       |  CASE WHEN sr IS NOT NULL THEN
       |    0.6 * LEAST(1.0, sr * 10) + 0.4 * LEAST(1.0, CAST(kw AS DOUBLE) / 3)
       |  END AS code_score,
       |  CASE WHEN sr IS NOT NULL THEN
       |    (0.6 * LEAST(1.0, sr * 10) + 0.4 * LEAST(1.0, CAST(kw AS DOUBLE) / 3)) >= 0.5
       |  END AS is_code
       |FROM s ORDER BY doc_id""".stripMargin
  }

  private def gopherRulesSql: String = {
    val stop = TextStats.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    import TextStats.{GopherMinWords => minW, GopherMaxWords => maxW,
      GopherMinMeanLen => minL, GopherMaxMeanLen => maxL,
      GopherMaxSymbolRatio => maxSym, GopherMinAlphaRatio => minAlpha,
      GopherMinStopHits => minStop}
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents),
       |m AS (SELECT doc_id,
       |  len(ts) AS n_words,
       |  length(text) AS n_chars,
       |  length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_symbols,
       |  len(list_filter(ts, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
       |  len(list_filter(ts, x -> list_contains($stop, x))) AS n_stop
       |  FROM t),
       |d AS (SELECT doc_id, n_words,
       |  CAST(n_chars - n_words + 1 AS DOUBLE) / n_words AS mean_word_len,
       |  CASE WHEN n_chars > 0 THEN CAST(n_symbols AS DOUBLE) / n_chars END AS symbol_ratio,
       |  CAST(n_alpha AS DOUBLE) / n_words AS alpha_word_ratio,
       |  n_stop AS n_stop_hits
       |  FROM m)
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio, n_stop_hits,
       |  n_words >= $minW AND n_words <= $maxW AS ok_words,
       |  mean_word_len >= $minL AND mean_word_len <= $maxL AS ok_mean_len,
       |  symbol_ratio <= $maxSym AS ok_symbols,
       |  alpha_word_ratio >= $minAlpha AS ok_alpha,
       |  n_stop_hits >= $minStop AS ok_stops,
       |  (n_words >= $minW AND n_words <= $maxW)
       |    AND (mean_word_len >= $minL AND mean_word_len <= $maxL)
       |    AND symbol_ratio <= $maxSym
       |    AND alpha_word_ratio >= $minAlpha
       |    AND n_stop_hits >= $minStop AS passes
       |FROM d ORDER BY doc_id""".stripMargin
  }

  /** Source-overlap oracle: the shingle CTE keyed by source instead of
    * doc_id (same token-hash fold and constants as `shingleCtes`); the
    * `s IS NOT NULL` guard mirrors Spark's empty-array result for texts
    * shorter than the shingle width (the range CTE indexes past the
    * token list there, which DuckDB nulls instead of erroring). */
  private def sourceOverlapSql: String =
    s"""WITH toks AS (SELECT source, text,
       |  list_transform(string_split(text, ' '), t -> CAST(${thSql("t")} AS BIGINT)) AS ths
       |  FROM documents),
       |sh AS (SELECT DISTINCT source AS src,
       |  ((((ths[i] % 1000000007) * 1000003 + ths[i + 1]) % 1000000007) * 1000003 + ths[i + 2]) % 1000000007 AS s
       |  FROM toks, UNNEST(range(1, greatest(len(ths) - 1, 2))) AS t(i)),
       |shn AS (SELECT src, s FROM sh WHERE s IS NOT NULL),
       |sizes AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n FROM shn GROUP BY 1),
       |shared AS (SELECT a.src AS src_a, b.src AS src_b, CAST(COUNT(*) AS BIGINT) AS n_shared
       |           FROM shn a JOIN shn b ON a.s = b.s AND a.src < b.src
       |           GROUP BY 1, 2)
       |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_shared,
       |  CAST(n_shared AS DOUBLE) / sa.n AS containment_a,
       |  CAST(n_shared AS DOUBLE) / sb.n AS containment_b
       |FROM shared
       |JOIN sizes sa ON sa.src = src_a
       |JOIN sizes sb ON sb.src = src_b
       |ORDER BY src_a, src_b""".stripMargin

  private def textStatsSql: String = {
    val stop = TextStats.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents),
       |s AS (SELECT doc_id,
       |  length(text) AS n_chars,
       |  len(ts) AS n_tokens,
       |  len(list_filter(ts, x -> list_contains($stop, x))) AS n_stopwords,
       |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
       |  FROM t)
       |SELECT doc_id, n_chars, n_tokens,
       |  CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens AS avg_token_len,
       |  n_stopwords,
       |  CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
       |  (CAST(n_stopwords AS DOUBLE) / n_tokens) * 0.3 +
       |    LEAST(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * 0.5 +
       |    (1.0 - CAST(n_digits AS DOUBLE) / n_chars) * 0.2 AS quality_score
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** Corpus-clean oracle: dedup survivors → quality floor → language
    * filter, mirroring corpusClean's fixed-order double arithmetic. */
  private def corpusCleanSql: String = {
    val stop = TextStats.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    val structs = TextStats.LangMarkers.map { case (lang, markers) =>
      val arr = markers.map(w => s"'$w'").mkString("[", ", ", "]")
      s"{'score': len(list_filter(ts, x -> list_contains($arr, x))), 'lang': '$lang'}"
    }.mkString("[", ", ", "]")
    s"""WITH surv AS (SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
       |t AS (SELECT doc_id, text, string_split(text, ' ') AS ts FROM surv),
       |s AS (SELECT doc_id, ts, length(text) AS n_chars, len(ts) AS n_tokens,
       |  len(list_filter(ts, x -> list_contains($stop, x))) AS n_stopwords,
       |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
       |  FROM t),
       |q AS (SELECT doc_id, ts,
       |  (CAST(n_stopwords AS DOUBLE) / n_tokens) * 0.3 +
       |    LEAST(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * 0.5 +
       |    (1.0 - CAST(n_digits AS DOUBLE) / n_chars) * 0.2 AS quality_score FROM s),
       |b AS (SELECT doc_id, quality_score, list_sort($structs, 'DESC')[1] AS best FROM q)
       |SELECT doc_id, quality_score FROM b
       |WHERE quality_score >= 0.5 AND IF(best.score > 0, best.lang, 'und') = 'en'
       |ORDER BY doc_id""".stripMargin
  }

  private def langIdSql: String = {
    val structs = TextStats.LangMarkers.map { case (lang, markers) =>
      val arr = markers.map(w => s"'$w'").mkString("[", ", ", "]")
      s"{'score': len(list_filter(ts, x -> list_contains($arr, x))), 'lang': '$lang'}"
    }.mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |b AS (SELECT doc_id, list_sort($structs, 'DESC')[1] AS best FROM t)
       |SELECT doc_id,
       |  IF(best.score > 0, best.lang, 'und') AS lang_pred
       |FROM b ORDER BY doc_id""".stripMargin
  }

  /** Curation-report oracle: the fingerprint window + the textStats
    * quality formula + the langId argmax, composed from the same mirror
    * fragments the standalone oracles use. */
  private def curationReportSql: String = {
    val stop = TextStats.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    val structs = TextStats.LangMarkers.map { case (lang, markers) =>
      val arr = markers.map(w => s"'$w'").mkString("[", ", ", "]")
      s"{'score': len(list_filter(ts, x -> list_contains($arr, x))), 'lang': '$lang'}"
    }.mkString("[", ", ", "]")
    s"""WITH fp AS (SELECT doc_id, text,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split(text, ' '), t -> CAST(${thSql("t")} AS BIGINT))),
       |    (a, x) -> (a * 31 + x) % 1000000007) AS fp
       |  FROM documents),
       |g AS (SELECT doc_id, text,
       |  COUNT(*) OVER (PARTITION BY fp) AS n_copies,
       |  MIN(doc_id) OVER (PARTITION BY fp) AS survivor_id FROM fp),
       |t AS (SELECT doc_id, text, n_copies, survivor_id,
       |  string_split(text, ' ') AS ts FROM g),
       |s AS (SELECT doc_id, ts, n_copies, survivor_id,
       |  length(text) AS n_chars, len(ts) AS n_tokens,
       |  len(list_filter(ts, x -> list_contains($stop, x))) AS n_stopwords,
       |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
       |  FROM t)
       |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       |  (CAST(n_stopwords AS DOUBLE) / n_tokens) * 0.3 +
       |    LEAST(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * 0.5 +
       |    (1.0 - CAST(n_digits AS DOUBLE) / n_chars) * 0.2 AS quality_score,
       |  IF(list_sort($structs, 'DESC')[1].score > 0,
       |     list_sort($structs, 'DESC')[1].lang, 'und') AS lang_pred,
       |  n_copies > 1 AS is_dup,
       |  doc_id = survivor_id AS is_survivor
       |FROM s ORDER BY doc_id""".stripMargin
  }

  private def fingerprintSql: String =
    s"""SELECT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split(text, ' '), t -> CAST(${thSql("t")} AS BIGINT))),
       |    (a, x) -> (a * 31 + x) % 1000000007) AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "x_dedup_exact" ->
      """SELECT keep_id, n_copies FROM (
        |  SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |  FROM documents GROUP BY text) t ORDER BY keep_id""".stripMargin,
    "x_dedup_norm" ->
      """SELECT keep_id, n_copies FROM (
        |  SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |  FROM documents GROUP BY lower(regexp_replace(text, '\s+', ' ', 'g'))) t
        |ORDER BY keep_id""".stripMargin,
    "x_ngram_jaccard" -> jaccardSql,
    // below the AllPairs ceiling at verify scale the auto pair source IS
    // the lossless exact form — same oracle
    "x_neardup_auto" -> jaccardSql,
    "x_minhash_lsh" -> minhashSql,
    "x_minhash_capped" -> minhashSqlAt(numPerms = 32, bands = 16, cap = 4),
    // below the dispatch ceiling at verify scale the auto form IS the
    // uncapped banding — same oracle
    "x_minhash_lsh_auto" -> minhashSql,
    // structural oracles: counts recomputed genuinely; the booleans are
    // the contract — any engine-side invariant violation flips one and
    // hash-mismatches the oracle's TRUE row
    "x_pack_bins_audit" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens_total,
        |  CAST(SUM(CASE WHEN len(string_split(text, ' ')) > 128 THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow,
        |  TRUE AS capacity_ok, TRUE AS bins_lb_ok, TRUE AS bins_ub_ok
        |FROM documents""".stripMargin,
    "x_coreset_audit" ->
      """SELECT vec_id, TRUE AS assign_ok FROM embeddings
        |WHERE embedding IS NOT NULL ORDER BY vec_id""".stripMargin,
    "x_vocab_cms_audit" ->
      s"""WITH toks AS (SELECT UNNEST(regexp_extract_all(lower(text), '${TextStats.BpeTokenPattern}')) AS token
         |  FROM documents)
         |SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  TRUE AS never_under, TRUE AS within_eps
         |FROM toks GROUP BY token ORDER BY n_exact DESC, token LIMIT 30""".stripMargin,
    "x_distinct_sketch_audit" ->
      """WITH per AS (SELECT CAST(source AS VARCHAR) AS "group",
        |    CAST(COUNT(DISTINCT text) AS BIGINT) AS n_exact, FALSE AS is_total
        |  FROM documents GROUP BY 1),
        |al AS (SELECT '__ALL__', CAST(COUNT(DISTINCT text) AS BIGINT), TRUE
        |  FROM documents)
        |SELECT "group", n_exact, is_total, TRUE AS within_envelope
        |FROM (SELECT * FROM per UNION ALL SELECT * FROM al)
        |ORDER BY is_total, "group"""".stripMargin,
    "x_quality_audit" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  TRUE AS probs_ok, TRUE AS beats_majority FROM documents""".stripMargin,
    "x_cluster_summary_audit" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
        |  TRUE AS partition_ok, TRUE AS cohesion_ok
        |FROM embeddings WHERE embedding IS NOT NULL""".stripMargin,
    "x_embed_pca_audit" ->
      """SELECT CAST(t.pos AS INTEGER) AS pos,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
        |   WHERE embedding IS NOT NULL) AS n,
        |  TRUE AS variance_ordered
        |FROM (SELECT UNNEST(range(0, 8)) AS pos) t ORDER BY pos""".stripMargin,
    "x_ann_recall_audit" ->
      """SELECT m AS method,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings WHERE vec_id < 10) AS n_queries,
        |  TRUE AS ids_ok, TRUE AS recall_ok
        |FROM (SELECT UNNEST(['ivf', 'lsh', 'pq']) AS m) ORDER BY method""".stripMargin,
    "x_group_quantiles_approx_audit" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  TRUE AS p25_ok, TRUE AS median_ok, TRUE AS p75_ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "x_bm25_search" -> bm25Sql,
    "x_zorder_stats" -> zorderSql,
    "x_simhash_pairs" -> simhashSql,
    "t_entropy" ->
      """WITH u AS (
        |  SELECT 'lang' AS "column", COALESCE(CAST(lang AS VARCHAR), 'NA') AS k FROM documents
        |  UNION ALL
        |  SELECT 'source', COALESCE(CAST(source AS VARCHAR), 'NA') FROM documents),
        |c AS (SELECT "column", k, COUNT(*) AS cnt FROM u GROUP BY 1, 2),
        |t AS (SELECT "column", k, cnt,
        |  CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY "column") AS p FROM c),
        |s AS (SELECT "column",
        |  SUM(-p * ln(p)) OVER (PARTITION BY "column" ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT "column", COUNT(*) AS n_categories, ROUND(MAX(cum), 6) AS entropy
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "a_mutual_info" ->
      """WITH c AS (SELECT COALESCE(CAST(lang AS VARCHAR), 'NA') AS x,
        |  COALESCE(CAST(source AS VARCHAR), 'NA') AS y, COUNT(*) AS cxy
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT x, y, cxy,
        |  SUM(cxy) OVER () AS n,
        |  SUM(cxy) OVER (PARTITION BY x) AS cx,
        |  SUM(cxy) OVER (PARTITION BY y) AS cy FROM c),
        |s AS (SELECT SUM((CAST(cxy AS DOUBLE) / CAST(n AS DOUBLE)) *
        |  ln(CAST(n * cxy AS DOUBLE) / CAST(cx * cy AS DOUBLE)))
        |  OVER (ORDER BY x, y ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT 'lang' AS col_x, 'source' AS col_y,
        |  COUNT(*) AS n_cells, ROUND(MAX(cum), 6) AS mi FROM s""".stripMargin,
    "x_bpe_pairs" ->
      s"""WITH t AS (SELECT regexp_extract_all(lower(text), '${TextStats.BpeTokenPattern}') AS toks
         |  FROM documents),
         |p AS (SELECT UNNEST(list_transform(range(1, len(toks)), i ->
         |  {'a': toks[i], 'b': toks[i + 1]})) AS pr FROM t WHERE len(toks) >= 2)
         |SELECT pr.a AS left_tok, pr.b AS right_tok, COUNT(*) AS n
         |FROM p GROUP BY 1, 2 ORDER BY n DESC, left_tok, right_tok LIMIT 30""".stripMargin,
    "x_semdedup" -> {
      val codeSql = (0 until 8).map(j =>
        s"(CASE WHEN embedding[${j + 1}] > 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")
      s"""WITH v AS (SELECT vec_id, embedding, $codeSql AS bucket FROM embeddings),
         |d AS (SELECT b.vec_id AS id, MIN(a.vec_id) AS dup_of
         |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.4
         |  GROUP BY 1)
         |SELECT v.vec_id, v.bucket, d.dup_of, d.dup_of IS NULL AS keep
         |FROM v LEFT JOIN d ON v.vec_id = d.id ORDER BY v.vec_id""".stripMargin
    },
    "x_semdedup_delta" -> {
      val codeSql = (0 until 8).map(j =>
        s"(CASE WHEN embedding[${j + 1}] > 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")
      s"""WITH v AS (SELECT vec_id, embedding, $codeSql AS bucket FROM embeddings),
         |c AS (SELECT bucket, vec_id AS cid, embedding AS cv FROM v WHERE vec_id % 5 <> 0),
         |b AS (SELECT bucket, vec_id AS batch_id, embedding AS bv FROM v WHERE vec_id % 5 = 0),
         |p AS (SELECT batch_id, cid,
         |  ${cosSql("bv", "cv")} AS cos
         |  FROM b JOIN c USING (bucket))
         |SELECT batch_id, MIN(cid) AS dup_of, COUNT(*) AS n_matches, MAX(cos) AS best_cos
         |FROM p WHERE cos >= 0.4 GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "x_shard_assign" ->
      s"""WITH t AS (SELECT ${ext.Sampling.gateSql("doc_id")} % 8 AS shard,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents)
         |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_vocab_topk" ->
      s"""WITH toks AS (SELECT UNNEST(regexp_extract_all(lower(text), '${TextStats.BpeTokenPattern}')) AS token
         |  FROM documents)
         |SELECT token, COUNT(*) AS n FROM toks
         |GROUP BY token ORDER BY n DESC, token LIMIT 30""".stripMargin,
    "x_group_quantiles" ->
      """WITH t AS (SELECT lang, CAST(len(string_split(text, ' ')) AS DOUBLE) AS n
        |  FROM documents)
        |SELECT lang, quantile_cont(n, 0.25) AS p25, quantile_cont(n, 0.5) AS median,
        |  quantile_cont(n, 0.75) AS p75
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "x_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 3),
        |n AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END AS text
        |      FROM documents WHERE doc_id % 13 <> 2)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
        |       ELSE 'changed' END AS change_class
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    "d_embed_drift" ->
      """WITH x AS (SELECT vec_id, CAST(i AS INTEGER) AS pos,
        |  CAST(CAST(embedding[CAST(i + 1 AS BIGINT)] AS DOUBLE) AS DECIMAL(38,12)) AS e
        |  FROM embeddings, UNNEST(range(len(embedding))) t(i)),
        |a AS (SELECT pos, CAST(SUM(e) AS DOUBLE) / COUNT(*) AS ma
        |      FROM x WHERE vec_id % 2 = 0 GROUP BY 1),
        |b AS (SELECT pos, CAST(SUM(e) AS DOUBLE) / COUNT(*) AS mb
        |      FROM x WHERE vec_id % 2 = 1 GROUP BY 1),
        |d AS (SELECT pos, ma - mb AS diff FROM a JOIN b USING (pos)),
        |c AS (SELECT pos, diff, SUM(diff * diff) OVER (ORDER BY pos
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
        |SELECT COUNT(*) AS n_dims, ROUND(SQRT(MAX(cum)), 6) AS l2_shift,
        |  ROUND(MAX(ABS(diff)), 6) AS max_abs_shift FROM c""".stripMargin,
    "x_embed_centroid" ->
      """WITH x AS (SELECT label, CAST(i AS INTEGER) AS pos,
        |  CAST(CAST(embedding[CAST(i + 1 AS BIGINT)] AS DOUBLE) AS DECIMAL(38,12)) AS e
        |  FROM embeddings, UNNEST(range(len(embedding))) t(i))
        |SELECT label, pos, ROUND(CAST(SUM(e) AS DOUBLE) / COUNT(*), 6) AS mean_v, COUNT(*) AS n
        |FROM x GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    "x_dedup_clusters" -> clustersSql,
    "x_dedup_clusters_dist" -> clustersSql,
    "x_dedup_clusters_auto_dist" -> clustersSql,
    "x_dedup_cluster_sizes" -> clusterSizesSqlWith(exactJpairsCtes),
    "x_leakage_split" -> leakageSplitSql,
    "x_soft_dedup" -> softDedupSql,
    "x_novelty_yield" ->
      s"""WITH $shingleCtes,
         |b AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
         |      FROM sh WHERE doc_id % 3 <> 0 GROUP BY 1),
         |u AS (SELECT i.doc_id, CAST(COUNT(*) AS BIGINT) AS n_seen
         |      FROM sh i
         |      WHERE i.doc_id % 3 <> 0
         |        AND i.s IN (SELECT s FROM sh WHERE doc_id % 3 = 0)
         |      GROUP BY 1)
         |SELECT b.doc_id, n_shingles,
         |  n_shingles - COALESCE(n_seen, 0) AS n_new,
         |  CAST(n_shingles - COALESCE(n_seen, 0) AS DOUBLE) / n_shingles AS novelty
         |FROM b LEFT JOIN u ON b.doc_id = u.doc_id
         |ORDER BY b.doc_id""".stripMargin,
    "t_repetition" ->
      s"""WITH toks AS (SELECT doc_id,
         |  list_transform(string_split(text, ' '), t -> CAST(${thSql("t")} AS BIGINT)) AS ths
         |  FROM documents),
         |r AS (SELECT doc_id,
         |  CAST(greatest(len(ths) - 2, 0) AS BIGINT) AS n_ngrams,
         |  CASE WHEN len(ths) >= 3 THEN CAST(len(list_distinct(
         |    list_transform(range(1, len(ths) - 1), i ->
         |      ((((ths[i] % 1000000007) * 1000003 + ths[i + 1]) % 1000000007) * 1000003 + ths[i + 2]) % 1000000007)))
         |    AS BIGINT) ELSE CAST(0 AS BIGINT) END AS n_distinct
         |  FROM toks)
         |SELECT doc_id, n_ngrams, n_distinct,
         |  CASE WHEN n_ngrams > 0 THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_ngrams
         |       ELSE NULL END AS rep_ratio
         |FROM r ORDER BY doc_id""".stripMargin,
    "x_contamination" ->
      s"""WITH $shingleCtes,
         |p AS (SELECT doc_id AS probe_id, s FROM sh WHERE doc_id % 10 = 0),
         |c AS (SELECT doc_id AS corpus_id, s FROM sh WHERE doc_id % 10 <> 0),
         |pairs AS (SELECT corpus_id, probe_id, COUNT(*) AS shared
         |          FROM c JOIN p USING (s) GROUP BY 1, 2)
         |SELECT probe_id, corpus_id,
         |  CAST(shared AS DOUBLE) / sz AS containment
         |FROM pairs JOIN sizes ON probe_id = sizes.doc_id
         |WHERE CAST(shared AS DOUBLE) / sz >= 0.6
         |ORDER BY probe_id, corpus_id""".stripMargin,
    "x_contamination_attr" ->
      s"""WITH $shingleCtes,
         |cs AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 <> 0),
         |ps AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
         |hits AS (SELECT cs.s, COUNT(*) AS n_corpus_docs
         |         FROM cs JOIN ps ON cs.s = ps.s GROUP BY 1)
         |SELECT s, n_corpus_docs FROM hits
         |ORDER BY n_corpus_docs DESC, s LIMIT 20""".stripMargin,
    "x_neardup_delta" ->
      s"""WITH $shingleCtes,
         |e AS (SELECT doc_id AS corpus_id, s FROM sh WHERE doc_id % 3 = 0),
         |i AS (SELECT doc_id AS batch_id, s FROM sh WHERE doc_id % 3 <> 0),
         |pairs AS (SELECT batch_id, corpus_id, COUNT(*) AS shared
         |          FROM i JOIN e USING (s) GROUP BY 1, 2)
         |SELECT batch_id, corpus_id,
         |  CAST(shared AS DOUBLE) / (si.sz + se.sz - shared) AS jaccard
         |FROM pairs
         |JOIN sizes si ON batch_id = si.doc_id
         |JOIN sizes se ON corpus_id = se.doc_id
         |WHERE CAST(shared AS DOUBLE) / (si.sz + se.sz - shared) >= 0.6
         |ORDER BY batch_id, corpus_id""".stripMargin,
    "x_minhash_delta" -> {
      val perms = Dedup.minhashPerms(32)
        .map { case (a, b) => s"[CAST($a AS BIGINT), CAST($b AS BIGINT)]" }
        .mkString("[", ", ", "]")
      s"""WITH $shingleCtes,
         |hs AS (SELECT doc_id, list(s) AS hl FROM sh GROUP BY 1),
         |sig AS (SELECT doc_id,
         |  list_transform($perms, p ->
         |    list_min(list_transform(hl, x -> (p[1] * x + p[2]) % 2147483647))) AS sg
         |  FROM hs),
         |banded AS (SELECT doc_id, j AS band,
         |  array_to_string(sg[j * 4 + 1 : j * 4 + 4], '-') AS bsig
         |  FROM sig, UNNEST(range(0, 8)) AS t(j)),
         |cand AS (SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
         |  FROM banded b JOIN banded c ON b.band = c.band AND b.bsig = c.bsig
         |  WHERE b.doc_id % 3 <> 0 AND c.doc_id % 3 = 0),
         |sh2 AS (SELECT cand.batch_id, cand.corpus_id, COUNT(*) AS shared
         |  FROM cand JOIN sh x ON x.doc_id = cand.batch_id
         |  JOIN sh y ON y.doc_id = cand.corpus_id AND y.s = x.s GROUP BY 1, 2),
         |jj AS (SELECT batch_id, corpus_id,
         |  CAST(shared AS DOUBLE) / (sb.sz + sc.sz - shared) AS jaccard
         |  FROM sh2 JOIN sizes sb ON batch_id = sb.doc_id
         |  JOIN sizes sc ON corpus_id = sc.doc_id
         |  WHERE CAST(shared AS DOUBLE) / (sb.sz + sc.sz - shared) >= 0.6),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY batch_id
         |  ORDER BY jaccard DESC, corpus_id) AS rk FROM jj)
         |SELECT batch_id, corpus_id AS dup_of, jaccard
         |FROM r WHERE rk = 1 ORDER BY batch_id""".stripMargin
    },
    "x_dedup_delta" ->
      """WITH inc AS (SELECT lower(regexp_replace(text, '\s+', ' ', 'g')) AS tnorm,
        |  MIN(doc_id) AS doc_id, COUNT(*) AS n_batch_copies
        |  FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1),
        |ex AS (SELECT DISTINCT lower(regexp_replace(text, '\s+', ' ', 'g')) AS tnorm
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id, n_batch_copies FROM inc
        |WHERE tnorm NOT IN (SELECT tnorm FROM ex)
        |ORDER BY doc_id""".stripMargin,
    "x_passage_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (SELECT doc_id, ts,
        |  CAST(ceil(len(ts) / 8.0) AS BIGINT) AS ng FROM t),
        |p AS (SELECT doc_id, CAST(i AS INTEGER) AS pidx,
        |  array_to_string(ts[CAST(i * 8 + 1 AS BIGINT) : CAST(i * 8 + 8 AS BIGINT)], ' ') AS ptext
        |  FROM g, UNNEST(range(0, ng)) u(i)),
        |r AS (SELECT doc_id, pidx, ptext,
        |  ROW_NUMBER() OVER (PARTITION BY ptext ORDER BY doc_id, pidx) AS rk FROM p)
        |SELECT doc_id, COUNT(*) AS n_passages,
        |  CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  COALESCE(string_agg(CASE WHEN rk = 1 THEN ptext END, ' ' ORDER BY pidx), '') AS text_clean
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x_bloom_contamination" ->
      s"""WITH $shingleCtes,
         |pb AS (SELECT DISTINCT (s * 2654435761) % 1048576 AS bit
         |       FROM sh WHERE doc_id % 10 = 0),
         |mp AS (SELECT MIN(sz) AS min_psz FROM sizes WHERE doc_id % 10 = 0),
         |ch AS (SELECT sh.doc_id AS corpus_id, sizes.sz,
         |         (s * 2654435761) % 1048576 AS bit
         |       FROM sh JOIN sizes ON sh.doc_id = sizes.doc_id
         |       WHERE sh.doc_id % 10 <> 0),
         |hits AS (SELECT corpus_id, sz, COUNT(*) AS bloom_hits
         |         FROM ch JOIN pb USING (bit) GROUP BY 1, 2)
         |SELECT corpus_id, sz AS n_shingles, bloom_hits
         |FROM hits, mp
         |WHERE CAST(bloom_hits AS DOUBLE) >= CAST(min_psz AS DOUBLE) * 0.6
         |ORDER BY corpus_id""".stripMargin,
    "x_hash_sample" ->
      s"""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         |WHERE ${ext.Sampling.gateSql("l_orderkey")} % 100 < 37
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "x_stratified_sample" ->
      s"""SELECT l_returnflag, COUNT(*) AS n FROM lineitem
         |WHERE (l_returnflag = 'A' AND ${ext.Sampling.gateSql("l_orderkey")} % 2 < 1)
         |   OR (l_returnflag = 'R' AND ${ext.Sampling.gateSql("l_orderkey")} % 10 < 1)
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x_split_column" ->
      s"""SELECT CASE WHEN g < 800 THEN 'train' WHEN g < 900 THEN 'valid'
         |            ELSE 'test' END AS split, COUNT(*) AS n
         |FROM (SELECT ${ext.Sampling.gateSql("l_orderkey")} % 1000 AS g FROM lineitem) t
         |GROUP BY 1 ORDER BY split""".stripMargin,
    "x_source_best" -> {
      val stop = TextStats.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') AS ts
         |  FROM documents),
         |s AS (SELECT doc_id, source,
         |  length(text) AS n_chars, len(ts) AS n_tokens,
         |  len(list_filter(ts, x -> list_contains($stop, x))) AS n_stopwords,
         |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
         |  FROM t),
         |q AS (SELECT doc_id, source,
         |  (CAST(n_stopwords AS DOUBLE) / n_tokens) * 0.3 +
         |    LEAST(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * 0.5 +
         |    (1.0 - CAST(n_digits AS DOUBLE) / n_chars) * 0.2 AS q FROM s),
         |r AS (SELECT source, doc_id, q,
         |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rk
         |  FROM q)
         |SELECT source, CAST(rk AS INTEGER) AS rk, doc_id, q AS quality_score
         |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin
    },
    "x_source_cap" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 10 ORDER BY source, doc_id""".stripMargin,
    "x_mix_rebalance" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
         |m AS (SELECT MIN(cnt) AS mn FROM c)
         |SELECT d.doc_id, d.lang, d.source
         |-- IS NOT DISTINCT FROM: a NULL lang is a real stratum on the
         |-- engine side (EqualNullSafe join); the plain equi-join dropped
         |-- those docs — found by the r10 curation fuzz (seed 22)
         |FROM documents d JOIN c ON d.lang IS NOT DISTINCT FROM c.lang CROSS JOIN m
         |WHERE cnt <= mn OR ${ext.Sampling.gateSql("d.doc_id")} <
         |  FLOOR(CAST(1000000007 AS DOUBLE) * CAST(LEAST(mn, cnt) AS DOUBLE)
         |    / CAST(cnt AS DOUBLE))
         |ORDER BY d.doc_id""".stripMargin,
    "x_mix_temperature" ->
      s"""WITH c AS (SELECT source AS g, COUNT(*) AS c FROM documents GROUP BY 1),
         |cum AS (SELECT g, c,
         |  SUM(SQRT(CAST(c AS DOUBLE))) OVER (ORDER BY g
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c),
         |e AS (SELECT g, c, MAX(cum) OVER () AS S, SUM(c) OVER () AS T FROM cum),
         |th AS (SELECT g,
         |  CAST(FLOOR(SQRT(CAST(c AS DOUBLE)) / S * CAST(T AS DOUBLE)
         |    / CAST(c AS DOUBLE) * 1000000.0) AS BIGINT) AS thr FROM e)
         |SELECT d.doc_id, d.source, d.lang
         |FROM documents d JOIN th ON d.source IS NOT DISTINCT FROM th.g
         |WHERE ${ext.Sampling.gateSql("d.doc_id")} % 1000000 < LEAST(thr, 1000000)
         |ORDER BY d.doc_id""".stripMargin,
    "x_keyword_search" -> {
      val counts = KeywordTerms.map(t =>
        s"len(regexp_extract_all(lower(text), '\\b$t\\b'))")
      s"""WITH s AS (SELECT doc_id,
         |  CAST(${counts.mkString(" + ")} AS BIGINT) AS score,
         |  CAST(${counts.map(c => s"CASE WHEN $c > 0 THEN 1 ELSE 0 END").mkString(" + ")} AS INTEGER) AS n_terms_hit
         |  FROM documents)
         |SELECT doc_id, score, n_terms_hit FROM s WHERE score > 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },
    "t_token_histogram" ->
      s"""WITH t AS (SELECT len(regexp_extract_all(lower(text), '${TextStats.BpeTokenPattern}')) AS n
         |  FROM documents)
         |SELECT CAST(n - (n % 10) AS BIGINT) AS token_bucket, COUNT(*) AS n_docs
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_pii_redact" -> {
      val chain = TextStats.PiiPatterns.foldLeft("lower(text)") {
        case (inner, (name, pat)) =>
          s"regexp_replace($inner, '$pat', '[${name.toUpperCase}]', 'g')"
      }
      s"""WITH raw AS (SELECT doc_id,
         |  substring(text, 1, 40) || ' reach user' || CAST(doc_id AS VARCHAR) ||
         |  '@mail.example.org or 555-123-4567 acct 9' ||
         |  CAST(doc_id AS VARCHAR) || '00012345' AS text
         |  FROM documents)
         |SELECT doc_id, $chain AS redacted_text FROM raw ORDER BY doc_id""".stripMargin
    },
    "x_embed_topk" -> topkSql,
    "x_embed_neardup" ->
      s"""WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
         |pairs AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
         |  ${cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM s a CROSS JOIN s b WHERE a.vec_id < b.vec_id)
         |SELECT ida, idb, cos FROM pairs WHERE cos >= 0.4 ORDER BY ida, idb""".stripMargin,
    "x_token_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |c AS (SELECT doc_id, ts,
        |  CAST(ceil(CAST(greatest(len(ts) - 32, 0) AS DOUBLE) / 24) AS INTEGER) + 1 AS nch
        |  FROM t),
        |x AS (SELECT doc_id, ts, UNNEST(range(0, nch)) AS i FROM c)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
        |  CAST(len(ts[CAST(i * 24 + 1 AS BIGINT) : CAST(i * 24 + 32 AS BIGINT)]) AS INTEGER) AS n_tokens,
        |  array_to_string(ts[CAST(i * 24 + 1 AS BIGINT) : CAST(i * 24 + 32 AS BIGINT)], ' ') AS chunk_text
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,
    "x_pack_sequences" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (SELECT doc_id, n,
        |  COALESCE(SUM(n) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gstart
        |  FROM t),
        |e AS (SELECT doc_id, gstart, gstart + n AS gend FROM c),
        |x AS (SELECT doc_id, gstart, gend,
        |  UNNEST(range(CAST(gstart // 256 AS BIGINT),
        |               CAST((gend - 1) // 256 + 1 AS BIGINT))) AS bin_id FROM e)
        |SELECT CAST(bin_id AS BIGINT) AS bin_id, doc_id,
        |  CAST(GREATEST(gstart, bin_id * 256) - gstart AS BIGINT) AS tok_start,
        |  CAST(LEAST(gend, bin_id * 256 + 256) - gstart AS BIGINT) AS tok_end,
        |  CAST(LEAST(gend, bin_id * 256 + 256) - GREATEST(gstart, bin_id * 256) AS BIGINT) AS n_tokens
        |FROM x ORDER BY bin_id, doc_id""".stripMargin,
    "t_tfidf_topk" ->
      """WITH toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT COUNT(*) AS nd FROM documents),
        |scored AS (SELECT doc_id, term,
        |  CAST(tf AS DOUBLE) * (CAST(nd + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
        |r AS (SELECT doc_id, term, score,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INTEGER) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, term, score FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,
    "x_embed_quantize" ->
      """WITH s AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
        |  FROM embeddings),
        |sc AS (SELECT vec_id, v, max_abs,
        |  CASE WHEN max_abs > 0 THEN 127.0 / max_abs ELSE 0.0 END AS scale FROM s)
        |SELECT vec_id, max_abs, scale,
        |  array_to_string(list_transform(v,
        |    x -> CAST(floor(x * scale + 0.5) AS INTEGER)), ',') AS q_csv
        |FROM sc ORDER BY vec_id""".stripMargin,
    "x_corpus_shuffle" ->
      s"""WITH g AS (SELECT doc_id, ${ext.Sampling.gateSql("doc_id")} AS g
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(ROW_NUMBER() OVER (ORDER BY g, doc_id) - 1 AS BIGINT) AS shuffle_pos
         |FROM g ORDER BY shuffle_pos""".stripMargin,
    "x_upsample" -> {
      val stop = TextStats.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ts
         |  FROM documents),
         |s AS (SELECT doc_id,
         |  length(text) AS n_chars, len(ts) AS n_tokens,
         |  len(list_filter(ts, x -> list_contains($stop, x))) AS n_stopwords,
         |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
         |  FROM t),
         |q AS (SELECT doc_id,
         |  (CAST(n_stopwords AS DOUBLE) / n_tokens) * 0.3 +
         |    LEAST(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * 0.5 +
         |    (1.0 - CAST(n_digits AS DOUBLE) / n_chars) * 0.2 AS q FROM s),
         |u AS (SELECT doc_id, q AS quality_score,
         |  1 + (CASE WHEN q >= 0.6 THEN 1 ELSE 0 END)
         |    + (CASE WHEN q >= 0.8 THEN 1 ELSE 0 END) AS n_epochs FROM q)
         |SELECT doc_id, quality_score, n_epochs, CAST(i AS INTEGER) AS epoch_idx
         |FROM u, UNNEST(range(0, n_epochs)) t(i)
         |ORDER BY doc_id, epoch_idx""".stripMargin
    },
    "x_source_budget" ->
      """WITH t AS (SELECT source, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT source, doc_id, n_tokens,
        |  SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM t)
        |SELECT source, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c
        |WHERE cum_tokens <= 300 ORDER BY source, doc_id""".stripMargin,
    "x_curriculum" -> {
      val stop = TextStats.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS ts
         |  FROM documents),
         |s AS (SELECT doc_id, lang,
         |  length(text) AS n_chars, len(ts) AS n_tokens,
         |  len(list_filter(ts, x -> list_contains($stop, x))) AS n_stopwords,
         |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
         |  FROM t),
         |q AS (SELECT doc_id, lang,
         |  (CAST(n_stopwords AS DOUBLE) / n_tokens) * 0.3 +
         |    LEAST(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * 0.5 +
         |    (1.0 - CAST(n_digits AS DOUBLE) / n_chars) * 0.2 AS q FROM s),
         |r AS (SELECT lang, q,
         |  -- NULLS FIRST: an unscorable doc (null q) lands in the LOWEST
         |  -- stage on the Spark side (bucket 0, asc-nulls-first rank);
         |  -- DuckDB's default nulls-last ranked it highest instead —
         |  -- found by the r10 curation fuzz (seed 22)
         |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q NULLS FIRST, doc_id) AS rk,
         |  COUNT(*) OVER (PARTITION BY lang) AS cnt FROM q)
         |SELECT lang, CAST(((rk - 1) * 5) // cnt AS INTEGER) AS stage,
         |  COUNT(*) AS n_docs, MIN(q) AS min_quality, MAX(q) AS max_quality
         |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "t_bigram_logprob" ->
      s"""WITH $bigramCtes
         |SELECT doc_id, COUNT(*) AS n_pairs,
         |  ROUND(MAX(cum) / COUNT(*), 6) AS avg_logprob
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_ppl_buckets" ->
      // CCNet tertile gate on the bigram-LM score: edges via
      // quantile_cont (the interpolation Spark's exact `percentile` and
      // the driver-sort fit both reproduce); tertile points interpolated
      // from the same Scala doubles the Spark plan compares against.
      s"""WITH $bigramCtes,
         |lp AS (SELECT doc_id, ROUND(MAX(cum) / COUNT(*), 6) AS avg_logprob
         |  FROM c GROUP BY 1),
         |q AS (SELECT quantile_cont(avg_logprob, [${1.0 / 3}, ${2.0 / 3}]) AS qs FROM lp)
         |SELECT doc_id, avg_logprob,
         |  CASE WHEN avg_logprob >= qs[2] THEN 'head'
         |       WHEN avg_logprob >= qs[1] THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM lp CROSS JOIN q ORDER BY doc_id""".stripMargin,
    "x_hash_embed" ->
      s"""WITH t AS (SELECT doc_id,
         |  list_transform(regexp_extract_all(lower(text), '${TextStats.BpeTokenPattern}'),
         |    tk -> CAST(${thSql("tk")} AS BIGINT) % 64) AS hs
         |  FROM documents)
         |SELECT doc_id, array_to_string(
         |  list_transform(range(0, 64), b -> len(list_filter(hs, h -> h = b))), ',') AS tf_csv
         |FROM t ORDER BY doc_id""".stripMargin,
    "t_token_count" ->
      s"""WITH t AS (SELECT doc_id, length(text) AS n_chars,
         |  regexp_extract_all(lower(text), '${TextStats.BpeTokenPattern}') AS toks
         |  FROM documents)
         |SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_bpe_tokens,
         |  CAST(len(list_distinct(toks)) AS INTEGER) AS n_unique_tokens,
         |  CAST(n_chars AS DOUBLE) / CAST(NULLIF(len(toks), 0) AS DOUBLE) AS chars_per_token
         |FROM t ORDER BY doc_id""".stripMargin,
    "t_fertility" ->
      s"""WITH t AS (SELECT lang,
         |  CAST(len(regexp_extract_all(lower(text), '${TextStats.BpeTokenPattern}')) AS BIGINT) AS tk,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS wd
         |  FROM documents)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(tk) AS BIGINT) AS total_tokens,
         |  CAST(SUM(wd) AS BIGINT) AS total_words,
         |  CAST(SUM(tk) AS DOUBLE) / CAST(NULLIF(SUM(wd), 0) AS DOUBLE) AS fertility
         |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "m_frame_sample" ->
      // corpus is pure ASCII (asserted in MultimodalSpec), so string
      // substring here mirrors the Spark side's binary substring exactly.
      """SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
        |  CAST(length(substring(text, CAST(i * 16 + 1 AS BIGINT), 16)) AS INTEGER) AS frame_len
        |FROM documents, UNNEST(range(0, 4)) t(i)
        |WHERE length(substring(text, CAST(i * 16 + 1 AS BIGINT), 16)) > 0
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "x_corpus_clean" -> corpusCleanSql,
    "x_curation_report" -> curationReportSql,
    "t_pii_scan" -> {
      val cols = TextStats.PiiPatterns.map { case (name, pat) =>
        s"CAST(len(regexp_extract_all(lower(text), '$pat')) AS INTEGER) AS n_$name"
      }.mkString(",\n  ")
      val names = TextStats.PiiPatterns.map { case (n, _) => s"n_$n" }
      s"""SELECT doc_id, ${names.mkString(", ")},
         |  (${names.mkString(" + ")}) > 0 AS has_pii
         |FROM (SELECT doc_id, $cols FROM documents) t
         |ORDER BY doc_id""".stripMargin
    },
    "t_text_stats" -> textStatsSql,
    "t_flesch" ->
      """WITH t AS (SELECT doc_id, text, string_split(lower(text), ' ') AS ts FROM documents),
        |s AS (SELECT doc_id,
        |  len(ts) AS n_words,
        |  GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
        |  list_sum(list_transform(ts,
        |    w -> GREATEST(1, len(regexp_extract_all(w, '[aeiouy]+'))))) AS n_syllables
        |  FROM t)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_sentences AS BIGINT) AS n_sentences,
        |  CAST(n_syllables AS BIGINT) AS n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences) -
        |    84.6 * (CAST(n_syllables AS DOUBLE) / n_words) END AS flesch
        |FROM s ORDER BY doc_id""".stripMargin,
    "t_lang_id" -> langIdSql,
    "x_source_card" ->
      """WITH d AS (SELECT source, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  lower(regexp_replace(text, '\s+', ' ', 'g')) AS norm FROM documents),
        |dup AS (SELECT norm, COUNT(*) AS c FROM d GROUP BY norm)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(toks) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars,
        |  CAST(COUNT(*) FILTER (lang = 'en') AS DOUBLE) / COUNT(*) AS pct_en,
        |  CAST(COUNT(*) FILTER (c > 1) AS DOUBLE) / COUNT(*) AS dup_rate
        |FROM d JOIN dup USING (norm)
        |GROUP BY source ORDER BY source""".stripMargin,
    "x_doc_novelty" ->
      s"""WITH RECURSIVE $shingleCtes,
        |dfq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
        |per AS (SELECT doc_id, COUNT(*) AS n_shingles,
        |          COUNT(*) FILTER (df = 1) AS n_unique
        |        FROM sh JOIN dfq USING (s) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(n_shingles, 0) AS n_shingles,
        |  COALESCE(n_unique, 0) AS n_unique,
        |  CASE WHEN n_shingles > 0
        |       THEN CAST(n_unique AS DOUBLE) / n_shingles END AS novelty
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "t_gopher_rules" -> gopherRulesSql,
    "t_code_detect" -> codeDetectSql,
    "x_curation_funnel" ->
      s"""WITH gp AS ($gopherRulesSql),
         |cd AS ($codeDetectSql),
         |km AS (SELECT MIN(doc_id) AS keep FROM documents
         |       GROUP BY lower(regexp_replace(text, '\\s+', ' ', 'g'))),
         |f AS (SELECT d.doc_id, (k.keep IS NOT NULL) AS surv, gp.passes, cd.is_code
         |      FROM documents d
         |      LEFT JOIN km k ON d.doc_id = k.keep
         |      JOIN gp ON d.doc_id = gp.doc_id
         |      JOIN cd ON d.doc_id = cd.doc_id),
         |agg AS (SELECT COUNT(*) AS raw,
         |  COUNT(*) FILTER (surv) AS deduped,
         |  COUNT(*) FILTER (surv AND NOT is_code) AS non_code,
         |  COUNT(*) FILTER (surv AND NOT is_code AND passes) AS kept FROM f)
         |SELECT CAST(0 AS INTEGER) AS stage_idx, 'raw' AS stage, raw AS n_docs FROM agg
         |UNION ALL SELECT 1, 'deduped', deduped FROM agg
         |UNION ALL SELECT 2, 'non_code', non_code FROM agg
         |UNION ALL SELECT 3, 'quality_kept', kept FROM agg
         |ORDER BY stage_idx""".stripMargin,
    "t_freq_spectrum" ->
      """SELECT freq, CAST(COUNT(*) AS BIGINT) AS n_types FROM (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY tok) c
        |GROUP BY freq ORDER BY freq""".stripMargin,
    "x_source_overlap" -> sourceOverlapSql,
    "x_hybrid_search" -> hybridSql,
    "t_fingerprint" -> fingerprintSql,
    "m_thumbnail" ->
      """WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents),
        |d AS (SELECT doc_id, text, len,
        |  1 + len % 64 AS src_w, 1 + len % 48 AS src_h FROM b),
        |t AS (SELECT doc_id, text, len, src_w, src_h,
        |  GREATEST(1, src_w * 16 // GREATEST(src_w, src_h)) AS thumb_w,
        |  GREATEST(1, src_h * 16 // GREATEST(src_w, src_h)) AS thumb_h FROM d),
        |n AS (SELECT *, LEAST(len, thumb_w * thumb_h) AS thumb_bytes FROM t)
        |SELECT doc_id, CAST(src_w AS INTEGER) AS src_w, CAST(src_h AS INTEGER) AS src_h,
        |  CAST(thumb_w AS INTEGER) AS thumb_w, CAST(thumb_h AS INTEGER) AS thumb_h,
        |  CAST(thumb_bytes AS INTEGER) AS thumb_bytes,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, thumb_bytes + 1),
        |      i -> CAST(ascii(substring(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |    (a, x) -> (a * 31 + x) % 1000000007) AS checksum
        |FROM n ORDER BY doc_id""".stripMargin,
    "m_audio_features" ->
      """WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents),
        |w AS (SELECT doc_id, text, len,
        |        UNNEST(range(0, (len + 63) // 64)) AS widx FROM b),
        |s AS (SELECT doc_id, widx,
        |  list_transform(range(1, LEAST(64, len - widx * 64) + 1),
        |    i -> CAST(ascii(substring(text, CAST(widx * 64 + i AS INTEGER), 1)) AS BIGINT) - 64) AS smp
        |  FROM w)
        |SELECT doc_id, CAST(widx AS INTEGER) AS window_idx,
        |  CAST(len(smp) AS INTEGER) AS n_samples,
        |  CAST(list_sum(list_transform(smp, x -> x * x)) AS BIGINT) AS energy,
        |  CAST(len(list_filter(range(1, len(smp)),
        |    i -> (smp[i] < 0) <> (smp[i + 1] < 0))) AS BIGINT) AS zero_crossings
        |FROM s ORDER BY doc_id, window_idx""".stripMargin,
    "m_scene_cuts" ->
      """WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents),
        |f AS (SELECT doc_id, text, len,
        |        UNNEST(range(1, (len + 63) // 64)) AS fidx FROM b),
        |d AS (SELECT doc_id, fidx,
        |  LEAST(64, len - fidx * 64) AS width,
        |  list_sum(list_transform(range(1, CAST(LEAST(64, len - fidx * 64) AS BIGINT) + 1),
        |    i -> CAST(abs(ascii(substring(text, CAST((fidx - 1) * 64 + i AS INTEGER), 1)) -
        |              ascii(substring(text, CAST(fidx * 64 + i AS INTEGER), 1))) AS BIGINT)))
        |    AS diff
        |  FROM f)
        |SELECT doc_id, CAST(fidx AS INTEGER) AS frame_idx,
        |  CAST(COALESCE(diff, 0) AS BIGINT) AS diff,
        |  COALESCE(diff, 0) > 32 * width AS is_cut
        |FROM d ORDER BY doc_id, frame_idx""".stripMargin,
    "m_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
        |  CAST(1 + octet_length(encode(text)) % 64 AS INTEGER) AS width,
        |  CAST(1 + octet_length(encode(text)) % 48 AS INTEGER) AS height,
        |  CAST(1 + octet_length(encode(text)) % 10 AS INTEGER) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "s_props_json" ->
      """SELECT event_type,
        |  COUNT(CAST(props->>'k' AS BIGINT)) AS n,
        |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS DOUBLE)
        |    / COUNT(CAST(props->>'k' AS BIGINT)) AS avg_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "s_gap_fill" ->
      """WITH h AS (SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
        |  event_type FROM events),
        |b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM h),
        |spine AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL '1 hour')) AS h FROM b),
        |t AS (SELECT DISTINCT event_type FROM h),
        |c AS (SELECT h, event_type, COUNT(*) AS n FROM h GROUP BY 1, 2)
        |SELECT s.h AS hour_start, t.event_type, COALESCE(c.n, 0) AS n
        |FROM spine s CROSS JOIN t
        |LEFT JOIN c ON c.h = s.h AND c.event_type = t.event_type
        |ORDER BY 1, 2""".stripMargin,
    "s_trending" ->
      // the gap-fill dense spine, then per-type hour lag and per-hour
      // top-3 by add-one lift (n+1)/(prev+1) — exact double of two ints
      """WITH h AS (SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
        |  event_type FROM events),
        |b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM h),
        |spine AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL '1 hour')) AS h FROM b),
        |t AS (SELECT DISTINCT event_type FROM h),
        |c AS (SELECT h, event_type, COUNT(*) AS n FROM h GROUP BY 1, 2),
        |dense AS (SELECT s.h, t.event_type, COALESCE(c.n, 0) AS n
        |  FROM spine s CROSS JOIN t
        |  LEFT JOIN c ON c.h = s.h AND c.event_type = t.event_type),
        |wp AS (SELECT h, event_type, n,
        |  lag(n) OVER (PARTITION BY event_type ORDER BY h) AS prev_n FROM dense),
        |l AS (SELECT h AS hour_start, event_type, n, prev_n,
        |  CAST(n + 1 AS DOUBLE) / CAST(prev_n + 1 AS DOUBLE) AS lift
        |  FROM wp WHERE prev_n IS NOT NULL),
        |r AS (SELECT hour_start, CAST(ROW_NUMBER() OVER (PARTITION BY hour_start
        |    ORDER BY lift DESC, event_type NULLS FIRST) AS INTEGER) AS rk,
        |  event_type, n, prev_n, lift FROM l)
        |SELECT hour_start, rk, event_type, n, prev_n, lift FROM r
        |WHERE rk <= 3 ORDER BY hour_start, rk""".stripMargin,
    "s_anomaly" ->
      // the gap-fill spine CTE + integer-exact (H·x − S)² > 4(H·Q − S²):
      // the 2σ test with every term a count product, no float μ/σ
      """WITH h AS (SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
        |  event_type FROM events),
        |b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM h),
        |spine AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL '1 hour')) AS h FROM b),
        |t AS (SELECT DISTINCT event_type FROM h),
        |c AS (SELECT h, event_type, COUNT(*) AS n FROM h GROUP BY 1, 2),
        |dense AS (SELECT s.h AS hour_start, t.event_type, COALESCE(c.n, 0) AS n
        |  FROM spine s CROSS JOIN t
        |  LEFT JOIN c ON c.h = s.h AND c.event_type = t.event_type),
        |stats AS (SELECT event_type, COUNT(*) AS hh, SUM(n) AS s, SUM(n*n) AS q
        |  FROM dense GROUP BY 1)
        |SELECT d.hour_start, d.event_type, d.n,
        |  CAST(hh * d.n - s AS HUGEINT) * CAST(hh * d.n - s AS HUGEINT) >
        |    4 * (CAST(hh AS HUGEINT) * CAST(q AS HUGEINT) -
        |         CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS is_anomaly
        |FROM dense d JOIN stats USING (event_type)
        |ORDER BY 1, 2""".stripMargin,
    "s_tumbling" ->
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS DOUBLE) AS total_cents
        |FROM events WHERE ts IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "s_sliding" ->
      """WITH e AS (SELECT event_type,
        |  time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS s0
        |  FROM events WHERE ts IS NOT NULL),
        |w AS (SELECT event_type, s0 - k * INTERVAL '30 minutes' AS window_start
        |      FROM e, UNNEST(range(0, 2)) AS t(k))
        |SELECT window_start, event_type, COUNT(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "s_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |       WHERE ts IS NOT NULL),
        |f AS (SELECT user_id, event_id, ts,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM e),
        |g AS (SELECT user_id, event_id, ts,
        |  CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |       THEN 1 ELSE 0 END AS ns FROM f),
        |h AS (SELECT user_id, ts,
        |  CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(ts) AS t_start, MAX(ts) AS t_end
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "s_session_lengths" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |       WHERE ts IS NOT NULL),
        |f AS (SELECT user_id, event_id, ts,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM e),
        |g AS (SELECT user_id, event_id, ts,
        |  CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |       THEN 1 ELSE 0 END AS ns FROM f),
        |h AS (SELECT user_id,
        |  SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g),
        |sess AS (SELECT user_id, sid, COUNT(*) AS n_events FROM h GROUP BY 1, 2)
        |SELECT n_events, COUNT(*) AS n_sessions
        |FROM sess GROUP BY n_events ORDER BY n_events""".stripMargin,
    "s_top_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
        |       WHERE ts IS NOT NULL),
        |f AS (SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |      FROM e),
        |g AS (SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |                     THEN 1 ELSE 0 END AS ns FROM f),
        |h AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sid
        |        ORDER BY ts, event_id) AS rn FROM h),
        |p AS (SELECT user_id, sid,
        |        string_agg(COALESCE(event_type, 'NA'), '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 5 GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n FROM p
        |GROUP BY path ORDER BY n DESC, path LIMIT 20""".stripMargin,
    "s_attribution" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS click_ts
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS purchase_ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, click_id, purchase_id, click_ts, purchase_ts
        |FROM c JOIN p ON c.user_id = p.user_id
        |WHERE epoch_us(purchase_ts) > epoch_us(click_ts)
        |  AND epoch_us(purchase_ts) <= epoch_us(click_ts) + 1800000000
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin,
    "s_retention" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |  CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events
        |  WHERE user_id IS NOT NULL),
        |c AS (SELECT user_id, MIN(d) AS cohort_day FROM a GROUP BY 1)
        |SELECT cohort_day,
        |  CAST(datediff('day', cohort_day, d) AS INTEGER) AS "offset",
        |  COUNT(*) AS n_users
        |FROM a JOIN c USING (user_id)
        |WHERE datediff('day', cohort_day, d) <= 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t_lang_mismatch" -> {
      val structs = TextStats.LangMarkers.map { case (lang, markers) =>
        val arr = markers.map(w => s"'$w'").mkString("[", ", ", "]")
        s"{'score': len(list_filter(ts, x -> list_contains($arr, x))), 'lang': '$lang'}"
      }.mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
         |b AS (SELECT doc_id, lang, list_sort($structs, 'DESC')[1] AS best FROM t),
         |p AS (SELECT doc_id, lang,
         |  IF(best.score > 0, best.lang, 'und') AS lang_pred FROM b)
         |SELECT doc_id, lang, lang_pred FROM p
         |WHERE lang_pred IS DISTINCT FROM lang
         |ORDER BY doc_id""".stripMargin
    },
    "s_funnel" -> {
      val over = "OVER (PARTITION BY user_id ORDER BY us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
      s"""WITH b AS (SELECT user_id, event_id,
         |  epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events),
         |w0 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN us END) $over AS q0 FROM b),
         |w1 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND q0 < us THEN us END) $over AS q1 FROM w0),
         |w2 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND q1 < us THEN us END) $over AS q2 FROM w1),
         |u AS (SELECT user_id, MAX(q0) AS q0, MAX(q1) AS q1, MAX(q2) AS q2
         |      FROM w2 GROUP BY 1)
         |SELECT * FROM (
         |  SELECT 1 AS step, 'view' AS event_type, COUNT(q0) AS n_users FROM u
         |  UNION ALL SELECT 2, 'click', COUNT(q1) FROM u
         |  UNION ALL SELECT 3, 'purchase', COUNT(q2) FROM u) t
         |ORDER BY step""".stripMargin
    },
    "s_dedup_first" ->
      """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts FROM (
        |  SELECT user_id, event_type, event_id, ts,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rk
        |  FROM events WHERE ts IS NOT NULL) t
        |WHERE rk = 1 ORDER BY user_id, event_type""".stripMargin,
  )

  /** [[oracleSql]] plus alias rows whose query is definitionally
    * identical at oracle-checked scale: the auto near-dup delta takes
    * the exact path below its batch byte ceiling, which every
    * oracle-checked SF sits under — same rows, same SQL. */
  val oracleSqlWithAliases: Map[String, String] =
    oracleSql + ("x_neardup_delta_auto" -> oracleSql("x_neardup_delta"))

  /** Oracle OVERRIDES for the x16 scale fixture (Verify `--x16`): every
    * auto-dispatched dedup query whose above-ceiling side differs from
    * the exact small-corpus side gets the DuckDB mirror of THAT side, so
    * the at-scale hash gate pins the semantics the dispatch actually
    * executes there instead of failing closed against the exact oracle.
    * Operating points are the dispatch's own: `nearDupPairsAuto` above
    * `AllPairsExactMaxInputBytes` runs `bandingFor(0.6)` = 48 perms × 16
    * bands; `minhashLshAuto` above `MinhashUncappedMaxInputBytes` keeps
    * 32 × 8 and engages `MinhashBucketCapDefault` = 32. Cluster
    * consumers compose the banded pair source into the same
    * transitive-closure oracles they use at driver SFs. */
  val oracleSqlX16: Map[String, String] = {
    val bandedJp = bandedJpairsCtes(numPerms = 48, bands = 16)
    Map(
      "x_neardup_auto" -> minhashSqlAt(numPerms = 48, bands = 16, cap = 0),
      "x_minhash_lsh_auto" -> minhashSqlAt(numPerms = 32, bands = 8,
        cap = Dedup.MinhashBucketCapDefault),
      "x_neardup_delta_auto" -> neardupDeltaBandedSql(numPerms = 48, bands = 16),
      "x_dedup_clusters" -> clustersSqlWith(bandedJp),
      "x_dedup_clusters_dist" -> clustersSqlWith(bandedJp),
      "x_dedup_clusters_auto_dist" -> clustersSqlWith(bandedJp),
      "x_dedup_cluster_sizes" -> clusterSizesSqlWith(bandedJp),
      "x_leakage_split" -> leakageSplitSqlWith(bandedJp),
      "x_soft_dedup" -> softDedupSqlWith(bandedJp),
    )
  }
}
