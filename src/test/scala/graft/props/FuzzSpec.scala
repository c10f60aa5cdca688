package graft.props

import graft.{SparkSpec, Tables, Verify}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Randomized DIFFERENTIAL testing against the DuckDB oracle — the same
  * (query, oracleSql) catalog pairs the driver gate runs on the fixed
  * fixtures, re-run on seeded adversarial tables: empty, single-row,
  * all-null columns, constant columns, duplicate-heavy domains, unicode
  * and empty strings, the literal "NA" category colliding with the null
  * sentinel, negative money, min/max-magnitude money values. Fixed
  * fixtures can never show that the engine and the oracle AGREE on these
  * edges — both engines sharing a wrong formula passes any fixed gate,
  * but a shared formula still diverges on edge inputs whenever the
  * IMPLEMENTATIONS differ (null handling, rounding, overflow, ordering).
  *
  * Shape: each seed deterministically generates lineitem/orders/supplier
  * with the production schemas (other tables symlink to the sf0.001
  * fixture), runs the catalog subset through Verify.dump, and hands the
  * result to dev/check.py — the SAME comparator the driver uses (column
  * canonicalization, type-family audit, 1e-9 float tolerance). Every
  * divergence therefore reproduces exactly as the driver would see it,
  * keyed by seed. Skips (never fails) when python3+duckdb is absent. */
class FuzzSpec extends SparkSpec {

  private lazy val duckdbOk =
    try scala.sys.process.Process(Seq("python3", "-c", "import duckdb")).! == 0
    catch { case _: Exception => false }

  /** Extended sweep (r15): `SPARK_GRAFT_FUZZ_EXTRA=N` adds N fresh
    * fully-random seeds per family, in reserved bands (base, base+N)
    * disjoint from the committed seed ledger and from each other (the
    * fixture dir is keyed by seed, so cross-family collisions would
    * overwrite). Every generator is total in the seed — named edge
    * shapes live on the pinned low seeds; extras draw the generic
    * randomized profile (dedup extras still plant mutated clones: the
    * clone branch triggers for any seed ≥ 25). Off (N=0) in the default
    * suite so `sbt test` stays deterministic and bounded; a widened run
    * is one env var away and any divergence reproduces by seed. */
  private val extraN =
    sys.env.get("SPARK_GRAFT_FUZZ_EXTRA").map(_.trim.toInt).getOrElse(0)
  private def extra(base: Int): Seq[Int] = (0 until extraN).map(base + _)

  /** Catalog queries reading only lineitem/orders/supplier/customer —
    * the profile, drift, transform, privacy and relational families. */
  private val FuzzQueries = Set(
    "q1_pricing_summary", "q18_large_orders",
    "a1_profile_lineitem", "a2_value_counts", "a3_mode", "a4_rare_categories",
    "a5_distinct_counts", "a8_mu_sigma", "a9_category_pmf", "a_corr_matrix",
    // p9_onehot (raw) excluded: its pivot COLUMNS are data-dependent while
    // the static oracle necessarily pins the fixture alphabet (A/N/R) — on
    // a random alphabet the schemas can never agree. Its schema-stable
    // twin p9_onehot_fuzz (r14) runs the same encoder — vocabulary fitted
    // on the even-orderkey slice, applied to all rows — unpivoted to a
    // fixed (category, n_hot) shape, so the fit/unseen/null contracts ARE
    // fuzz-gated; the raw pivot naming stays spec-gated (RowTransformsSpec).
    "p9_onehot_fuzz",
    "p_row_transforms", "p8_standardize", "p_winsorize", "p_robust_scale",
    "v1_sdc_suppress", "v2_generalize", "v5_smart_suggest",
    "d1_ks_statistic", "d2_chi2_drift", "d3_drift_all", "d_psi", "d_wasserstein",
    // r10 widening: the extended drift panel + the categorical-association
    // scans, all lineitem-driven and content-agnostic
    "d_ks_by_group", "d_drift_panel", "d_drift_extended", "a_cramers_v",
    // r11 widening: per-table row counts and the approx-profile
    // structural audit (HLL / approx_percentile error envelopes hold on
    // ANY input by the sketches' contracts; the booleans hash-gate them)
    "a7_row_counts", "a1_profile_approx_audit")

  private val liSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    // NTZ like the driver fixture (pyarrow writes isAdjustedToUTC=false):
    // an adjusted TIMESTAMP here made a1's dtype row read 'timestamp'
    // while the oracle (running on real-fixture-shaped views) said
    // 'timestamp_ntz' — fixture fidelity, not an engine defect
    StructField("l_shipdate", TimestampNTZType)))
  private val ordSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType)))
  private val supSchema = StructType(Seq(
    StructField("s_suppkey", LongType), StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)))

  /** Per-seed generation profile. Seeds 1-5 pin the named edge shapes;
    * higher seeds draw everything from the RNG. */
  private case class Profile(rows: Int, nullRate: Double, constNum: Boolean,
                             allNullNum: Boolean, domain: Int, alphabet: Seq[String])

  private val uni = Seq("Σ-flag", "旗", "", "NA", "ä", "n/a", "R")

  /** Text-family catalog queries over documents (stateless scans and
    * exact dedup — no size-dispatch in the plan, so their static oracles
    * hold on any corpus content). */
  private val TextFuzzQueries = Set(
    "t_token_count", "t_text_stats", "t_flesch", "t_code_detect",
    "t_gopher_rules", "t_lang_id", "t_fingerprint", "t_entropy",
    "t_repetition", "t_fertility", "t_token_histogram", "t_freq_spectrum",
    "t_bigram_logprob", "t_tfidf_topk", "t_pii_scan", "t_pii_redact",
    "t_lang_mismatch", "x_dedup_exact", "x_dedup_norm", "x_token_chunks")

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Adversarial token pool: unicode words, code-ish fragments, PII-like
    * strings, numbers, punctuation runs — the shapes language-ID,
    * quality scoring, code detection and PII scanning branch on. */
  private val tokenPool = Seq(
    "the", "data", "spark", "merge", "вода", "示例", "naïve", "Straße",
    "x=1;", "def", "{", "}", "return", "//comment", "SELECT",
    "john@example.com", "123-45-6789", "+1-555-0100", "4111111111111111",
    "3.14159", "1e308", "0", "-42", "!!!", "...", "?", "word,", "end.",
    "CamelCase", "snake_case", "UPPER", "a")

  private def genText(r: scala.util.Random, shape: Int): String = shape match {
    case 0 => "" // empty text
    case 1 => tokenPool(r.nextInt(tokenPool.length)) // single token
    case 2 => "   " // whitespace only (split yields empty tokens)
    case 3 => // repeated token runs (repetition/entropy edges)
      val t = tokenPool(r.nextInt(tokenPool.length))
      Seq.fill(3 + r.nextInt(40))(t).mkString(" ")
    case 4 => // double spaces + leading/trailing space (tokenizer edge)
      " " + Seq.fill(5 + r.nextInt(10))(
        tokenPool(r.nextInt(tokenPool.length))).mkString("  ") + " "
    case _ => // general mixed text
      Seq.fill(1 + r.nextInt(80))(tokenPool(r.nextInt(tokenPool.length)))
        .mkString(" ")
  }

  private def genDocuments(seed: Int): DataFrame = {
    val r = new scala.util.Random(seed * 104729L)
    val rows = seed match {
      case 7 => 40 // tiny corpus, degenerate texts dominate
      case _ => 120 + r.nextInt(300)
    }
    val langs = Seq("en", "es", "zh", "xx", null, "")
    val sources = Seq("src0", "src1", "src2", "", null)
    // chunk/pack boundary shapes for the curation family (seeds 22-24):
    // token counts EXACTLY at the pack budget (128), the sequence length
    // (256), the chunk window (32) and stride (24), and one token either
    // side — probes every <= vs < seam in the chunkers/packers
    val boundary = Seq(128, 127, 129, 256, 255, 257, 32, 31, 33, 24, 25)
    def boundaryText(): String = {
      val n = boundary(r.nextInt(boundary.length))
      Seq.fill(n)(tokenPool(r.nextInt(tokenPool.length))).mkString(" ")
    }
    // near-dup mutation for the dedup family (seeds 25-27): clone an
    // earlier doc but swap ~10-50% of tokens, landing Jaccard on both
    // sides of the 0.6 pair threshold — the seam fixed fixtures (all
    // planted dups at J≈0.93) never exercise
    def mutate(base: String): String = {
      val toks = base.split(" ")
      if (toks.length < 4) base
      else toks.map(t => if (r.nextInt(10) < 1 + r.nextInt(5))
        tokenPool(r.nextInt(tokenPool.length)) else t).mkString(" ")
    }
    val texts = new scala.collection.mutable.ArrayBuffer[String]
    val docs = (0 until rows).map { i =>
      val text =
        // duplicate-heavy tail: ~20% of docs clone an earlier text so
        // the exact/norm dedup families have real work
        if (texts.nonEmpty && r.nextInt(5) == 0) texts(r.nextInt(texts.length))
        else if (seed >= 25 && texts.nonEmpty && r.nextInt(3) == 0)
          mutate(texts(r.nextInt(texts.length)))
        else if (seed >= 22 && seed <= 24 && r.nextInt(3) == 0) boundaryText()
        else {
          val shape = if (seed == 7) r.nextInt(6) else if (r.nextInt(4) == 0) r.nextInt(6) else 5
          genText(r, shape)
        }
      texts += text
      Row(i.toLong, text, langs(r.nextInt(langs.length)),
        sources(r.nextInt(sources.length)), text.length.toLong)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(docs.asJava, docSchema)
  }

  private def profileFor(seed: Int, r: scala.util.Random): Profile = seed match {
    case 1 => Profile(0, 0, constNum = false, allNullNum = false, 10, Seq("A", "B"))
    case 2 => Profile(1, 0, constNum = false, allNullNum = false, 10, Seq("A"))
    case 3 => Profile(60, 0.5, constNum = false, allNullNum = false, 8, uni)
    case 4 => Profile(300, 0.1, constNum = true, allNullNum = false, 4, Seq("只"))
    case 5 => Profile(300, 0.15, constNum = false, allNullNum = true, 6, uni)
    // degenerate quasi-group shapes for the privacy family: one giant
    // equivalence class (constant quasi columns), k > n tiny groups with
    // the ""/"NA" null-sentinel collision, and near-all-null quasi
    // columns (null IS a quasi value — grouping must keep it)
    case 19 => Profile(400, 0.0, constNum = true, allNullNum = false, 2, Seq("A"))
    case 20 => Profile(5, 0.4, constNum = false, allNullNum = false, 3, Seq("", "NA"))
    case 21 => Profile(300, 0.9, constNum = false, allNullNum = false, 40, uni)
    case _ => Profile(
      rows = Seq(2, 37, 200, 500)(r.nextInt(4)),
      nullRate = Seq(0.0, 0.05, 0.3, 0.6)(r.nextInt(4)),
      constNum = r.nextBoolean() && r.nextBoolean(),
      allNullNum = false,
      domain = 1 + r.nextInt(40),
      alphabet = r.shuffle(uni ++ Seq("AB", "C", "D")).take(1 + r.nextInt(5)))
  }

  // money with EXACT cents (both engines quantize identically), spanning
  // negative values, sub-cent-free tiny values and ~1e6 magnitudes
  private def money(r: scala.util.Random, const: Boolean): Double =
    if (const) 42.42
    else r.nextInt(6) match {
      case 0 => 0.01
      case 1 => -0.01
      case 2 => (r.nextInt(200000001) - 100000000) / 100.0 // ±1e6
      case _ => (r.nextInt(2000001) - 1000000) / 100.0     // ±1e4
    }

  private def maybeNull[A](r: scala.util.Random, p: Profile)(v: => A): Any =
    if (r.nextDouble() < p.nullRate) null else v

  private def ts(r: scala.util.Random): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      700000000L + r.nextInt(300000000), 0, java.time.ZoneOffset.UTC) // 1992..2001

  private def genTables(seed: Int): (DataFrame, DataFrame, DataFrame) = {
    val r = new scala.util.Random(seed * 7919L)
    val p = profileFor(seed, r)
    val li = (0 until p.rows).map { i =>
      Row(
        maybeNull(r, p)(r.nextInt(math.max(1, p.rows / 2)).toLong + 1L),
        maybeNull(r, p)(r.nextInt(p.domain).toLong + 1L),
        maybeNull(r, p)(r.nextInt(10).toLong + 1L),
        maybeNull(r, p)(r.nextInt(7) + 1),
        if (p.allNullNum) null else maybeNull(r, p)(money(r, p.constNum)),
        if (p.allNullNum) null else maybeNull(r, p)(money(r, p.constNum)),
        maybeNull(r, p)((r.nextInt(100)) / 100.0),
        maybeNull(r, p)((r.nextInt(9)) / 100.0),
        maybeNull(r, p)(p.alphabet(r.nextInt(p.alphabet.length))),
        maybeNull(r, p)(p.alphabet(r.nextInt(p.alphabet.length))),
        maybeNull(r, p)(ts(r)))
    }
    val ord = (0 until p.rows / 2).map { i =>
      Row(
        // overlap the lineitem key domain so joins hit, plus misses
        maybeNull(r, p)(r.nextInt(math.max(1, p.rows)).toLong + 1L),
        r.nextInt(150).toLong + 1L, // real sf0.001 customer key domain
        maybeNull(r, p)(p.alphabet(r.nextInt(p.alphabet.length))),
        maybeNull(r, p)(money(r, const = false)),
        maybeNull(r, p)(ts(r)),
        maybeNull(r, p)(p.alphabet(r.nextInt(p.alphabet.length))))
    }
    val sup = (0 until math.min(p.rows, 80)).map { i =>
      Row(i.toLong + 1L,
        maybeNull(r, p)(p.alphabet(r.nextInt(math.max(1, p.alphabet.length / 2)))),
        maybeNull(r, p)(r.nextInt(25)),
        maybeNull(r, p)(money(r, const = false)))
    }
    import scala.jdk.CollectionConverters._
    (spark.createDataFrame(li.asJava, liSchema),
      spark.createDataFrame(ord.asJava, ordSchema),
      spark.createDataFrame(sup.asJava, supSchema))
  }

  private def materializeFixture(seed: Int): String = {
    val dir = s"/tmp/graft_fuzz/seed$seed"
    val path = java.nio.file.Paths.get(dir)
    org.apache.commons.io.FileUtils.deleteQuietly(path.toFile)
    java.nio.file.Files.createDirectories(path)
    val (li, ord, sup) = genTables(seed)
    // single FILES, not Spark part-directories: check.py's DuckDB views
    // read '<dir>/<t>.parquet' exactly like the driver fixture layout
    def writeFile(df: DataFrame, name: String): Unit = {
      val tmp = s"$dir/__tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $name"))
      java.nio.file.Files.move(part.toPath, path.resolve(s"$name.parquet"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    writeFile(li, "lineitem")
    writeFile(ord, "orders")
    writeFile(sup, "supplier")
    // the rest symlink to the real fixture (check.py builds views for all)
    Seq("region", "nation", "customer", "part", "events", "documents",
      "embeddings").foreach { t =>
      java.nio.file.Files.createSymbolicLink(
        path.resolve(s"$t.parquet"),
        java.nio.file.Paths.get(s"$Sf/$t.parquet"))
    }
    dir
  }

  private def materializeDocFixture(seed: Int): String = {
    val dir = s"/tmp/graft_fuzz/seed$seed"
    val path = java.nio.file.Paths.get(dir)
    org.apache.commons.io.FileUtils.deleteQuietly(path.toFile)
    java.nio.file.Files.createDirectories(path)
    val tmp = s"$dir/__tmp_documents"
    genDocuments(seed).coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error("no part file written for documents"))
    java.nio.file.Files.move(part.toPath, path.resolve("documents.parquet"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "embeddings").foreach { t =>
      java.nio.file.Files.createSymbolicLink(
        path.resolve(s"$t.parquet"),
        java.nio.file.Paths.get(s"$Sf/$t.parquet"))
    }
    dir
  }

  /** Event-stream catalog queries (all 13 batch forms — every one's
    * oracle is content-agnostic: tiebreaks are (ts, event_id), spines
    * derive from the data, no fixture-pinned constants beyond the
    * view/click/purchase funnel vocabulary the generator includes). */
  private val EventsFuzzQueries = Set(
    "s_tumbling", "s_sliding", "s_sessionize", "s_session_lengths",
    "s_top_paths", "s_dedup_first", "s_attribution", "s_gap_fill",
    "s_anomaly", "s_funnel", "s_retention", "s_trending", "s_props_json",
    // r11 widening: the stream-side joins (static dim enrichment, as-of
    // nearest event) — fuzzed events against the real customer dimension
    "q_enrich_events", "q_nearest_event")

  private val evSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Adversarial event streams: identical timestamps (ordering must
    * resolve on the (ts, event_id) tiebreak, not engine luck), gaps at
    * EXACTLY the 30-minute session boundary and ±1µs around it (probes
    * `>` vs `>=`), null ts/user/type/value/props, single-user floods,
    * empty-string and unicode event types beside the funnel vocabulary.
    * props stays JSON-or-null with numeric-or-absent `k` — the fixture
    * contract (the oracle CASTs `props->>'k'` to BIGINT). */
  private def genEvents(seed: Int): DataFrame = {
    val r = new scala.util.Random(seed * 15485863L)
    val nUsers = seed match { case 10 => 3; case 11 => 6; case _ => 50 }
    val rows = 250 + r.nextInt(400)
    val (pNullTs, pNullUser, pNullType) =
      if (seed == 11) (0.10, 0.15, 0.10) else (0.02, 0.03, 0.02)
    val types = Seq("view", "click", "purchase", "scroll", "旗", "")
    val propsPool = Seq("""{"k": 5}""", """{"k": 123456}""", """{"k": -3}""",
      """{"j": 1}""", "{}", null)
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    val cursors = scala.collection.mutable.Map[Long, java.time.LocalDateTime]()
    val gapsUs = Seq(0L, 1L, 60L * 1000000L,
      1800L * 1000000L - 1L, 1800L * 1000000L, 1800L * 1000000L + 1L,
      7200L * 1000000L)
    val data = (0 until rows).map { i =>
      val uid = r.nextInt(nUsers).toLong + 1L
      val cur = cursors.getOrElse(uid, base.plusMinutes(r.nextInt(120).toLong))
      val advanced = cur.plusNanos(1000L * (
        if (r.nextInt(3) == 0) gapsUs(r.nextInt(gapsUs.length))
        else (r.nextDouble() * 3.6e9).toLong))
      cursors(uid) = advanced
      Row(
        i.toLong,
        if (r.nextDouble() < pNullTs) null else advanced,
        if (r.nextDouble() < pNullUser) null else uid,
        if (r.nextDouble() < pNullType) null else types(r.nextInt(types.length)),
        if (r.nextDouble() < 0.05) null
        else (r.nextInt(200001) - 100000) / 100.0,
        propsPool(r.nextInt(propsPool.length)))
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(data.asJava, evSchema)
  }

  /** Embedding-family catalog queries whose oracles hold on any corpus
    * content (exact cosine forms and stateless per-vector transforms;
    * the measured-recall ANN audits and MLlib-backed paths stay out —
    * their floors are fixture-calibrated by design). */
  private val EmbedFuzzQueries = Set(
    "x_embed_topk", "x_embed_centroid", "x_embed_quantize",
    "x_embed_neardup", "x_semdedup", "x_semdedup_delta",
    "x_hybrid_search", "d_embed_drift",
    // r11 widening: the structural audits whose contracts hold on ANY
    // embedding population (per-vector coreset assignment optimality,
    // k-means partition arithmetic, PCA variance ordering) — zero
    // vectors, clones and negated clones included
    "x_coreset_audit", "x_cluster_summary_audit", "x_embed_pca_audit")

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Adversarial embeddings (dim 64, float32 like the fixture):
    * all-zero vectors (undefined cosine — the zero-norm guard on BOTH
    * sides of the gate), NULL embeddings, exact clones and negated
    * clones (cos = ±1 ties resolving on id), one-hot and constant
    * vectors (sign-bucket collisions), 1e-4-magnitude vectors, null
    * labels. */
  private def genEmbeddings(seed: Int): DataFrame = {
    val r = new scala.util.Random(seed * 32452843L)
    val n = 120 + r.nextInt(280)
    val prev = new scala.collection.mutable.ArrayBuffer[Array[Float]]
    def vec(): Array[Float] = {
      val shape = r.nextInt(20)
      val v: Array[Float] =
        if (shape == 0) Array.fill(64)(0f)
        else if (shape <= 3 && prev.nonEmpty) prev(r.nextInt(prev.length))
        else if (shape == 4 && prev.nonEmpty) prev(r.nextInt(prev.length)).map(x => -x)
        else if (shape == 5) { val a = Array.fill(64)(0f); a(r.nextInt(64)) = 1f; a }
        else if (shape == 6) Array.fill(64)((r.nextInt(5) - 2).toFloat / 2f)
        else if (shape == 7) Array.fill(64)((r.nextFloat() - 0.5f) * 2e-4f)
        else Array.fill(64)((r.nextFloat() - 0.5f) * 2f)
      prev += v
      v
    }
    val data = (0 until n).map { i =>
      Row(i.toLong,
        if (r.nextDouble() < 0.02) null else vec().toSeq,
        if (r.nextDouble() < 0.05) null else r.nextInt(10))
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(data.asJava, embSchema)
  }

  /** Write one fuzzed table as a single parquet file; symlink the rest
    * of the driver layout from the real fixture. */
  private def materializeOneTable(seed: Int, name: String, df: DataFrame): String = {
    val dir = s"/tmp/graft_fuzz/seed$seed"
    val path = java.nio.file.Paths.get(dir)
    org.apache.commons.io.FileUtils.deleteQuietly(path.toFile)
    java.nio.file.Files.createDirectories(path)
    val tmp = s"$dir/__tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written for $name"))
    java.nio.file.Files.move(part.toPath, path.resolve(s"$name.parquet"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    Tables.names.filterNot(_ == name).foreach { t =>
      java.nio.file.Files.createSymbolicLink(
        path.resolve(s"$t.parquet"),
        java.nio.file.Paths.get(s"$Sf/$t.parquet"))
    }
    dir
  }

  private def runDifferential(seed: Int, dir: String, queries: Set[String]): Unit = {
    val out = s"/tmp/graft_fuzz/out$seed"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val failed = Verify.dump(spark, dir, out, queries)
    assert(failed.isEmpty, s"queries threw on seed $seed: $failed")
    val buf = new StringBuilder
    val logger = scala.sys.process.ProcessLogger(l => buf.append(l).append('\n'))
    val code = scala.sys.process.Process(
      Seq("python3", "dev/check.py", dir, out),
      new java.io.File("/root/repo")).!(logger)
    assert(code == 0, s"oracle divergence at seed $seed:\n$buf")
  }

  for (seed <- (10 to 12) ++ extra(1000))
    test(s"differential events fuzz seed $seed: ${EventsFuzzQueries.size} stream queries vs the DuckDB oracle") {
      assume(duckdbOk, "python3+duckdb not available in this environment")
      runDifferential(seed, materializeOneTable(seed, "events", genEvents(seed)),
        EventsFuzzQueries)
    }

  for (seed <- (13 to 15) ++ (64 to 66) ++ extra(2000))
    test(s"differential embeddings fuzz seed $seed: ${EmbedFuzzQueries.size} similarity queries vs the DuckDB oracle") {
      assume(duckdbOk, "python3+duckdb not available in this environment")
      runDifferential(seed, materializeOneTable(seed, "embeddings", genEmbeddings(seed)),
        EmbedFuzzQueries)
    }

  for (seed <- (7 to 9) ++ (61 to 63) ++ extra(3000))
    test(s"differential text fuzz seed $seed: ${TextFuzzQueries.size} document queries vs the DuckDB oracle") {
      assume(duckdbOk, "python3+duckdb not available in this environment")
      val dir = materializeDocFixture(seed)
      val out = s"/tmp/graft_fuzz/out$seed"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val failed = Verify.dump(spark, dir, out, TextFuzzQueries)
      assert(failed.isEmpty, s"queries threw on seed $seed: $failed")
      val buf = new StringBuilder
      val logger = scala.sys.process.ProcessLogger(l => buf.append(l).append('\n'))
      val code = scala.sys.process.Process(
        Seq("python3", "dev/check.py", dir, out),
        new java.io.File("/root/repo")).!(logger)
      assert(code == 0, s"oracle divergence at seed $seed:\n$buf")
    }

  /** Window / grouping-sets / join relational rows (r10 widening): every
    * oracle is content-agnostic over the generated lineitem/orders/
    * supplier domains — pivot/rollup/stratum label sets are pinned
    * constants on BOTH sides, so a random alphabet that misses them
    * agrees on the pinned columns (nulls/empties). */
  private val WindowFuzzQueries = Set(
    "q_window_suite", "q_window_topk", "q_rolling_sum", "q_rollup",
    "q_cube", "q_grouping_sets", "q_pivot", "q_set_ops", "q_scalar_funcs",
    "q_outer_join", "q_semi_join", "q_anti_join", "q_corr_subquery",
    "q_asof_join", "q_range_join", "q10_returned_items",
    "q14_promo_revenue", "q19_bracket_revenue", "q6_forecast_revenue",
    "q_salted_agg", "a_histogram", "a_skew_report", "a_moments_merge",
    "x_hash_sample", "x_split_column", "x_stratified_sample",
    // r11 widening: the customer/nation/region joins run against the
    // SYMLINKED real dimensions with fuzzed fact sides (orders custkeys
    // overlap the real customer domain by construction), and the
    // z-order layout audit over the fuzzed lineitem key space
    "q3_shipping_priority", "q5_local_supplier_volume",
    "q7_volume_shipping", "x_zorder_stats")

  for (seed <- (16 to 18) ++ Seq(34) ++ extra(4000))
    test(s"differential window/grouping fuzz seed $seed: ${WindowFuzzQueries.size} relational queries vs the DuckDB oracle") {
      assume(duckdbOk, "python3+duckdb not available in this environment")
      runDifferential(seed, materializeFixture(seed), WindowFuzzQueries)
    }

  /** Privacy gates on degenerate quasi-groups (r10 widening): k-anonymity
    * / l-diversity / t-closeness where the quasi columns collapse to one
    * giant class, shatter into k > n singletons, or go ~90% null; the
    * DP releases ride along at their ε→∞ exact-recovery oracles. */
  private val PrivacyFuzzQueries = Set(
    "v8_k_anonymity", "v9_l_diversity", "v10_t_closeness",
    "v1_sdc_suppress", "v2_generalize", "v3_dp_noise_inf",
    "v_dp_histogram_inf", "v_dp_mean_inf",
    // r11 widening (the r10 verdict's named priority): V6 exact linkage
    // on the degenerate quasi shapes these seeds plant — one giant
    // equivalence class (constant quasi cols → score 1.0), k > n tiny
    // groups with the ""/"NA" collision, near-all-null quasi columns —
    // its oracle is the generated content-agnostic IN-subquery mirror.
    // The V4 sampler's distributional audit (CLT envelopes vs the same
    // degenerate fits) and D4's range-contract audit ride along.
    "v6_linkage_risk", "v4_synthetic_audit", "d4_utility_audit")

  for (seed <- (19 to 21) ++ extra(5000))
    test(s"differential privacy fuzz seed $seed: ${PrivacyFuzzQueries.size} privacy queries vs the DuckDB oracle") {
      assume(duckdbOk, "python3+duckdb not available in this environment")
      runDifferential(seed, materializeFixture(seed), PrivacyFuzzQueries)
    }

  // V6's driver linkage form against the exact plan (the oracle-pinned
  // form) on the same degenerate quasi shapes, as parquet scans so the
  // footer row bounds admit it; no oracle process needed
  for (seed <- (19 to 21) ++ extra(5000))
    test(s"V6 driver linkage form equals the exact plan on privacy fuzz seed $seed") {
      import org.apache.spark.sql.functions.col
      import graft.risk.Linkage
      val li = spark.read.parquet(s"${materializeFixture(seed)}/lineitem.parquet")
      val anon = li.filter(col("l_orderkey") % 3 === 0)
      val real = li.filter(col("l_orderkey") % 3 =!= 1)
      val quasi = Seq("l_quantity", "l_discount", "l_returnflag")
      def bits(r: Row) =
        (Option(r.get(0)).map(v => java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])),
          Option(r.get(1)))
      val driver = Linkage.driverSums(anon, real, quasi,
        graft.ops.Exact.DriverFitMaxRows, Linkage.DriverMaxPairs)
      assert(driver.isDefined, "the driver form declined")
      val plan = Linkage.exactSums(anon, real, quasi, Linkage.fitFeatures(anon, quasi)).head()
      assert(bits(driver.get) == bits(plan))
    }

  /** Chunking / packing / sampling / mixing over documents (r10
    * widening), on corpora planting token counts exactly at the
    * chunk/pack boundaries (32/24/128/256 ±1). Every oracle is
    * content-agnostic; x_pack_bins itself is declared (FFD layout) —
    * its hash-gated structural audit rides instead. */
  private val CurationFuzzQueries = Set(
    "x_pack_sequences", "x_pack_bins_audit", "x_curriculum",
    "x_corpus_shuffle", "x_upsample", "x_source_budget", "x_source_best",
    "x_source_cap", "x_source_card", "x_mix_rebalance",
    "x_mix_temperature", "x_shard_assign", "x_snapshot_diff",
    "x_group_quantiles", "x_vocab_topk", "x_bpe_pairs", "x_corpus_clean",
    "x_curation_funnel", "x_doc_novelty", "x_novelty_yield",
    "x_dedup_delta", "x_token_chunks", "d_js_divergence",
    // r11 widening: the remaining content-agnostic documents scans
    // (report, ppl buckets, hash-embed, keyword/BM25 relevance — the
    // pinned query terms exist in the token pool — source overlap) and
    // the sketch structural audits whose envelopes are the sketches'
    // own contracts (CMS never-undercount + width, HLL 5%+2, rank-error
    // quantiles, classifier beats-majority)
    "x_curation_report", "x_ppl_buckets", "x_hash_embed",
    "x_keyword_search", "x_bm25_search", "x_source_overlap",
    "x_vocab_cms_audit", "x_distinct_sketch_audit",
    "x_group_quantiles_approx_audit", "x_quality_audit",
    // (lang, source) mutual information — a documents query, so it
    // fuzzes here where the documents table is the generated one
    "a_mutual_info")

  for (seed <- (22 to 24) ++ extra(6000))
    test(s"differential curation fuzz seed $seed: ${CurationFuzzQueries.size} curation queries vs the DuckDB oracle") {
      assume(duckdbOk, "python3+duckdb not available in this environment")
      runDifferential(seed, materializeDocFixture(seed), CurationFuzzQueries)
    }

  /** Near-dup / clustering over MUTATED clones (r10 widening): token-swap
    * mutations land pair Jaccard on both sides of the 0.6 threshold —
    * the seam the fixed fixtures (planted dups at J≈0.93) never probe.
    * Corpora sit below every dispatch ceiling, so the autos run their
    * exact sides and the static oracles hold; the banding rows
    * (x_minhash_*) have exact DuckDB banding mirrors, threshold pairs
    * included. */
  private val DedupFuzzQueries = Set(
    "x_ngram_jaccard", "x_neardup_auto", "x_minhash_lsh",
    "x_minhash_capped", "x_minhash_lsh_auto", "x_simhash_pairs",
    "x_passage_dedup", "x_neardup_delta", "x_neardup_delta_auto",
    "x_minhash_delta", "x_dedup_clusters", "x_dedup_clusters_dist",
    "x_dedup_clusters_auto_dist", "x_dedup_cluster_sizes", "x_soft_dedup",
    "x_leakage_split",
    // r11 widening: the decontamination family on the same mutated
    // clones — probe/corpus shingle containment at the 0.6 threshold
    // seam, its attribution view, and the bloom-prefiltered form
    "x_contamination", "x_contamination_attr", "x_bloom_contamination")

  for (seed <- (25 to 27) ++ extra(7000))
    test(s"differential dedup fuzz seed $seed: ${DedupFuzzQueries.size} near-dup queries vs the DuckDB oracle") {
      assume(duckdbOk, "python3+duckdb not available in this environment")
      runDifferential(seed, materializeDocFixture(seed), DedupFuzzQueries)
    }

  /** Multimodal plumbing (r10 widening, the last unfuzzed family): every
    * op is a pure integer function of the payload bytes, and every
    * oracle mirrors that arithmetic over ASCII text (`ascii(substring)`
    * = byte value only when the corpus is pure ASCII — so the generator
    * is ASCII-only by construction, like the fixture MultimodalSpec
    * asserts). Corpora plant byte lengths EXACTLY at the seams: the
    * 64-byte audio window / scene frame, the 48 height modulus, the
    * 16-byte thumbnail side / frame-sample window, ±1 around each, and
    * 0/1 — probing every `<=` vs `<`, empty-window and trailing-frame
    * edge. The byte-value shapes target the 8-bit-PCM center (ASCII 64
    * = '@' → sample 0, which is NOT negative): all-'@' docs (zero
    * crossings must be 0), alternating '?'(-1)/'A'(+1) docs (maximal
    * sign flips), and mixed printable ASCII. */
  private val MultimodalFuzzQueries = Set(
    "m_multimodal_meta", "m_thumbnail", "m_audio_features",
    "m_scene_cuts", "m_frame_sample")

  private val asciiPool =
    "abcdefghijklmnopqrstuvwxyz @?A!#0123456789".toCharArray

  private def genAsciiDocs(seed: Int): DataFrame = {
    val r = new scala.util.Random(seed * 86028121L)
    val lens = Seq(0, 1, 15, 16, 17, 47, 48, 49, 63, 64, 65,
      127, 128, 129, 255, 256, 257)
    val rows = 150 + r.nextInt(150)
    val docs = (0 until rows).map { i =>
      val len =
        if (r.nextInt(3) == 0) lens(r.nextInt(lens.length))
        else r.nextInt(400)
      val text = r.nextInt(4) match {
        case 0 => Seq.fill(len)('@').mkString
        case 1 => Array.fill(len)(if (r.nextBoolean()) '?' else 'A').mkString
        case _ => Array.fill(len)(asciiPool(r.nextInt(asciiPool.length))).mkString
      }
      Row(i.toLong, text, "en", "src0", text.length.toLong)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(docs.asJava, docSchema)
  }

  for (seed <- (28 to 30) ++ (67 to 69) ++ extra(8000))
    test(s"differential multimodal fuzz seed $seed: ${MultimodalFuzzQueries.size} media queries vs the DuckDB oracle") {
      assume(duckdbOk, "python3+duckdb not available in this environment")
      runDifferential(seed,
        materializeOneTable(seed, "documents", genAsciiDocs(seed)),
        MultimodalFuzzQueries)
    }

  for (seed <- (1 to 6) ++ extra(9000))
    test(s"differential fuzz seed $seed: ${FuzzQueries.size} catalog queries vs the DuckDB oracle") {
      assume(duckdbOk, "python3+duckdb not available in this environment")
      val dir = materializeFixture(seed)
      val out = s"/tmp/graft_fuzz/out$seed"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val failed = Verify.dump(spark, dir, out, FuzzQueries)
      assert(failed.isEmpty, s"queries threw on seed $seed: $failed")
      val buf = new StringBuilder
      val logger = scala.sys.process.ProcessLogger(l => buf.append(l).append('\n'))
      val code = scala.sys.process.Process(
        Seq("python3", "dev/check.py", dir, out),
        new java.io.File("/root/repo")).!(logger)
      assert(code == 0, s"oracle divergence at seed $seed:\n$buf")
    }
}
