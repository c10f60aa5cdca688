package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimSearchSpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  private lazy val emb = Seq(
    (0L, vec(1, 0, 0, 0)),
    (1L, vec(0.9, 0.1, 0, 0)),   // closest to 0
    (2L, vec(0, 1, 0, 0)),       // orthogonal to 0
    (3L, vec(-1, 0, 0, 0)),      // opposite of 0
    (4L, vec(0.7, 0.7, 0, 0))
  ).toDF("vec_id", "embedding")

  test("cosine topk ranks by similarity with deterministic ties") {
    val out = SimSearch.cosineTopK(emb.filter(col("vec_id") === 0), emb, 4, dim = 4)
      .collect()
    assert(out.map(_.getLong(2)).take(2).sameElements(Array(1L, 4L)))
    assert(out.last.getLong(2) == 3L) // opposite vector ranks last
    assert(math.abs(out(0).getDouble(3) - 0.9 / math.sqrt(0.82)) < 1e-6) // inputs are float32
  }

  test("driver-fit ANN paths fail fast on non-integral id columns") {
    // pqTopK / coresetSample collect ids as longs — a string id must die
    // at analysis time with the remedy, not mid-job in a ClassCastException
    val strIds = Seq(("a", vec(1, 0, 0, 0)), ("b", vec(0, 1, 0, 0)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      SimSearch.pqTopK(strIds, strIds, 1)
    }
    assert(e1.getMessage.contains("integral"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      SimSearch.coresetSample(strIds, 2)
    }
    assert(e2.getMessage.contains("integral"), e2.getMessage)
    // int ids cast up losslessly instead of failing getLong mid-collect
    val intIds = Seq((1, vec(1, 0, 0, 0)), (2, vec(0, 1, 0, 0)), (3, vec(0.5, 0.5, 0, 0)))
      .toDF("vec_id", "embedding")
    assert(SimSearch.coresetSample(intIds, 2).count() == 3)
  }

  test("cosine handles self-exclusion") {
    val out = SimSearch.cosineTopK(emb.filter(col("vec_id") === 0), emb, 10, dim = 4).collect()
    assert(!out.map(_.getLong(2)).contains(0L))
  }

  test("LSH topk top-1 agrees with brute force on real embeddings") {
    val e = graft.Tables.embeddings(spark, Sf)
    val q = e.filter(col("vec_id") < 5)
    val exact = SimSearch.cosineTopK(q, e, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val approx = SimSearch.lshTopK(q, e, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val agree = exact.keys.count(k => approx.get(k).contains(exact(k)))
    assert(agree >= 4) // allow one LSH miss out of 5
  }

  test("IVF topk: full probing equals brute force; partial probing is monotone") {
    val e = graft.Tables.embeddings(spark, Sf)
    val q = e.filter(col("vec_id") < 10)
    val exact = SimSearch.cosineTopK(q, e, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    def recallAt(nprobe: Int): Int = {
      val approx = SimSearch.ivfTopK(q, e, 1, nlist = 16, nprobe = nprobe).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      exact.keys.count(k => approx.get(k).contains(exact(k)))
    }
    // nprobe = nlist probes every list → the candidate set is the whole
    // corpus and IVF degenerates to exact brute force
    assert(recallAt(16) == 10, "full probing must equal brute force")
    // probed lists are ordered by centroid distance, so probed(4) ⊆
    // probed(8) and per-query recall can only improve with nprobe. On
    // near-uniform random embeddings partial-probe recall is genuinely
    // weak (real corpora cluster; this fixture doesn't) — the floor is
    // deliberately loose.
    val r4 = recallAt(4); val r8 = recallAt(8)
    assert(r8 >= r4, s"recall must be monotone in nprobe ($r4 → $r8)")
    assert(r4 >= 2, s"IVF top-1 recall $r4/10")
  }

  test("PQ/ADC topk: recall@5 against brute force, self-excluded, rank-ordered") {
    val e = graft.Tables.embeddings(spark, Sf)
    val q = e.filter(col("vec_id") < 10)
    val exactTop = SimSearch.cosineTopK(q, e, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // m=32 (2 dims/subspace, 8× compression) is the measured operating
    // point for this near-uniform fixture: the r7 m/ksub sweep measured recall@5 = 26/50
    // here vs 9/50 at the classic m=8 32×-compression config — PQ's
    // compression/recall dial, documented by measurement
    val pq = SimSearch.pqTopK(q, e, 5, m = 32, ksub = 16).collect()
    // contract shape: ≤5 rows/query, ranks 1..k, no self-matches
    val byQ = pq.groupBy(_.getLong(0))
    assert(byQ.values.forall(_.length <= 5))
    byQ.foreach { case (qid, rows) =>
      assert(rows.map(_.getInt(1)).sorted.sameElements(1 to rows.length))
      assert(!rows.exists(_.getLong(2) == qid), s"self-match for $qid")
    }
    // ADC scores a quantized approximation of the dot product — on this
    // weakly-clustered fixture recall@5 is genuinely lossy; the floor
    // pins "substantially better than random" (random ≈ 5/500 per pick)
    val hits = pq.map(r => (r.getLong(0), r.getLong(2))).count(exactTop.contains)
    assert(hits >= 20, s"PQ recall@5 = $hits/50")
    // fit + encode are seeded: a refit reproduces identical codes/ranks
    val again = SimSearch.pqTopK(q, e, 5, m = 32, ksub = 16).collect()
    assert(pq.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("coresetSample: centers self-assign at 0, radius shrinks with k, deterministic") {
    val e = graft.Tables.embeddings(spark, Sf)
    def run(k: Int) = SimSearch.coresetSample(e, k).collect()
    val r8 = run(8)
    assert(r8.length == e.count())
    val centers = r8.map(_.getLong(1)).toSet
    assert(centers.size == 8)
    // every center covers itself at distance 0
    centers.foreach { c =>
      val self = r8.find(_.getLong(0) == c).get
      assert(self.getLong(1) == c && self.getDouble(2) == 0.0)
    }
    // greedy centers nest: coverage radius is non-increasing in k
    def radius(rows: Array[org.apache.spark.sql.Row]) = rows.map(_.getDouble(2)).max
    val r2 = run(2)
    assert(radius(r8) <= radius(r2), s"radius(8) ${radius(r8)} > radius(2) ${radius(r2)}")
    // pure function of (corpus, k, seed)
    assert(run(8).map(_.toSeq).toSeq == r8.map(_.toSeq).toSeq)
  }

  test("zero-norm embeddings: null cosine, excluded everywhere, no ANSI abort") {
    // An all-zero vector (failed-encoder row) has no defined angle: the
    // unguarded division killed the whole job under ANSI. It must simply
    // drop out of every pair/top-k instead.
    val df = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 0f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val top = SimSearch.cosineTopK(df, df, 2).collect()
    assert(top.nonEmpty)
    assert(!top.exists(r => r.getLong(0) == 2L || r.getLong(2) == 2L),
      "zero-norm vector must appear neither as query nor as neighbor")
    val pairs = SimSearch.cosineNearDupPairs(df, 0.0).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 3L))
    assert(!pairs.exists(r => r.getLong(0) == 2L || r.getLong(1) == 2L))
  }

  test("signBitCode: bits wider than the vector degrade to fewer buckets, no abort") {
    // bits=8 over 2-dim vectors: dims 3..8 contribute bit 0 instead of an
    // ANSI INVALID_ARRAY_INDEX abort; same-sign prefixes share a bucket.
    val df = Seq(
      (1L, Array(1f, 1f)), (2L, Array(1f, 1f)), (3L, Array(-1f, 1f)))
      .toDF("vec_id", "embedding")
    val out = SimSearch.semDedup(df, threshold = 0.99, bits = 8).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == out(2L).getInt(1), "identical vectors share a bucket")
    assert(out(1L).getInt(1) != out(3L).getInt(1), "sign flip changes the bucket")
    assert(out(2L).getLong(2) == 1L && !out(2L).getBoolean(3), "2 dups of 1")
  }

  test("near-dup pairs threshold filter keeps only the close pair") {
    // cos(0,1) = 0.9/√0.82 ≈ 0.9939; every other pair is far below 0.99
    val pairs = SimSearch.cosineNearDupPairs(emb, 0.99, dim = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.sameElements(Array((0L, 1L))))
  }

  test("cluster summary: partitions the corpus, cohesion in [-1,1], seed-stable") {
    val e = graft.Tables.embeddings(spark, Sf)
    val out = SimSearch.clusterSummary(e, 8).collect()
    assert(out.map(_.getLong(1)).sum == e.count(),
      "cluster sizes must partition the corpus")
    assert(out.nonEmpty && out.length <= 8)
    out.foreach { r =>
      val c = r.getDouble(2)
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"cosine out of range: $c")
    }
    val again = SimSearch.clusterSummary(e, 8).collect()
    assert(out.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      again.map(r => (r.getInt(0), r.getLong(1))).toSeq,
      "same seed must reproduce the same clustering")
  }

  test("int8 quantization: codes bounded, extremes hit 127, dequant error within half a step") {
    val e = graft.Tables.embeddings(spark, Sf)
    val q = SimSearch.quantizeInt8(e).collect()
    assert(q.length == e.count())
    q.foreach { r =>
      val codes = r.getSeq[Int](3)
      assert(codes.forall(c => c >= -127 && c <= 127))
      assert(codes.exists(c => math.abs(c) == 127) || r.getDouble(1) == 0.0,
        "the max-magnitude element must map to a full-scale code")
      assert(r.getString(4) == codes.mkString(","))
    }
    val row = e.orderBy("vec_id").head
    val vec = row.getSeq[Float](1).map(_.toDouble)
    val scale = 127.0 / vec.map(math.abs).max
    vec.map(x => math.floor(x * scale + 0.5)).zip(vec).foreach { case (c, x) =>
      assert(math.abs(x - c / scale) <= 0.5 / scale + 1e-12,
        "dequantization error exceeds half a quantization step")
    }
  }

  test("labelCentroids: exact per-dimension means, one row per (label, pos)") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 2.0f), 0), (2L, Seq(3.0f, 4.0f), 0), (3L, Seq(10.0f, 20.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val rows = SimSearch.labelCentroids(df).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getDouble(2), r.getLong(3)))).toMap
    assert(rows.size == 4)
    assert(rows((0, 0)) == (2.0, 2L) && rows((0, 1)) == (3.0, 2L))
    assert(rows((1, 0)) == (10.0, 1L) && rows((1, 1)) == (20.0, 1L))
    // partition-invariance: a different layout yields identical means
    val repart = SimSearch.labelCentroids(df.repartition(7)).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getDouble(2), r.getLong(3)))).toMap
    assert(repart == rows)
  }

  test("semDedup: lower-id survivor wins, cross-bucket pairs are out of scope") {
    // ids 1,2: colinear (cos=1, same sign bucket) → 2 dups of 1.
    // id 3: same bucket as 1,2 but near-orthogonal → kept.
    // id 4: colinear with 1 but NEGATED (different sign bucket) → kept,
    // documenting the bucket-local approximation.
    val df = Seq(
      (1L, vec(1.0, 1.0, 0.1)), (2L, vec(2.0, 2.0, 0.2)),
      (3L, vec(0.1, 0.1, 5.0)), (4L, vec(-1.0, -1.0, -0.1)))
      .toDF("vec_id", "embedding")
    val rows = SimSearch.semDedup(df, 0.9, bits = 3).collect()
      .map(r => r.getLong(0) -> (Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3))).toMap
    assert(rows(1L) == (None, true))
    assert(rows(2L) == (Some(1L), false))
    assert(rows(3L)._2 && rows(4L)._2)
    // determinism under repartitioning
    val again = SimSearch.semDedup(df.repartition(5), 0.9, bits = 3).collect()
      .map(r => r.getLong(0) -> (Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3))).toMap
    assert(again == rows)
    // on the corpus: dup_of is always a strictly lower id, and the keep
    // flag is exactly dup_of's nullity
    val corpus = graft.Tables.embeddings(spark, Sf)
    val out = SimSearch.semDedup(corpus, 0.4)
    assert(out.filter(col("dup_of") >= col("vec_id")).isEmpty)
    assert(out.filter(col("keep") =!= col("dup_of").isNull).isEmpty)
  }

  test("centroidShift: zero against itself, positive under a real shift") {
    val corpus = graft.Tables.embeddings(spark, Sf)
    val self = SimSearch.centroidShift(corpus, corpus).collect()(0)
    assert(self.getLong(0) == 64L && self.getDouble(1) == 0.0 && self.getDouble(2) == 0.0)
    // shift one side by a constant vector → l2 ≈ sqrt(dim)·shift
    val shifted = corpus.withColumn("embedding",
      transform(col("embedding"), x => x + lit(0.5f)))
    val r = SimSearch.centroidShift(corpus, shifted).collect()(0)
    assert(math.abs(r.getDouble(1) - math.sqrt(64.0) * 0.5) < 0.01, r.toString)
    assert(math.abs(r.getDouble(2) - 0.5) < 0.01)
    // partitioning invariance (decimal sums + ordered diff² window)
    val again = SimSearch.centroidShift(corpus.repartition(9), shifted).collect()(0)
    assert(again == r)
  }

  test("pcaProject: k columns, deterministic within a session, energy-ordered") {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.linalg.Vectors
    val corpus = graft.Tables.embeddings(spark, Sf)
    val out = SimSearch.pcaProject(corpus, 4).collect()
    assert(out.length == corpus.count())
    assert(out.forall(_.getString(1).split(",").length == 4))
    // same session, same input → identical projection (seedless but
    // deterministic given one BLAS build)
    val again = SimSearch.pcaProject(corpus, 4).collect()
    assert(out.map(_.getString(1)).toSeq == again.map(_.getString(1)).toSeq)
    // explained variance is sorted descending — the PCA contract
    val toVec = udf { (arr: Seq[Float]) => Vectors.dense(arr.map(_.toDouble).toArray) }
    val c = corpus.select(toVec(col("embedding")).as("fv"))
    val ev = new PCA().setK(4).setInputCol("fv").setOutputCol("pc")
      .fit(c).explainedVariance.toArray
    assert(ev.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("semDedupDelta flags batch vectors matching the corpus, bucket-locally") {
    // corpus 1,2; batch 10 (≈ copy of 1), 11 (orthogonal), 12 (negated 1)
    val corpus = Seq((1L, vec(1.0, 1.0, 0.1)), (2L, vec(0.1, 0.1, 5.0)))
      .toDF("vec_id", "embedding")
    val batch = Seq((10L, vec(2.0, 2.0, 0.2)), (11L, vec(-5.0, 5.0, 0.0)),
      (12L, vec(-1.0, -1.0, -0.1))).toDF("vec_id", "embedding")
    val rows = SimSearch.semDedupDelta(corpus, batch, 0.9, bits = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set(10L), s"only the colinear same-bucket vector flags: $rows")
    assert(rows(10L)._1 == 1L)
    // the batch never matches itself: internal batch dups are out of scope here
    val selfish = SimSearch.semDedupDelta(corpus, batch.union(batch), 0.9, bits = 3)
      .collect().map(_.getLong(0)).toSet
    assert(selfish == Set(10L))
  }

  test("hybridSearch: RRF puts a both-list doc above either single-list leader") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark query join"),   // all three terms → lexical leader
      (2L, "spark data"),         // one term → lexical rank 2
      (3L, "nothing here"),       // lexical miss
      (4L, "other words")).toDF("doc_id", "text")
    val embeds = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),   // the query vector
      (1L, Array(0f, 1f, 0f, 0f)),   // orthogonal
      (2L, Array(1f, 0f, 0f, 0f)),   // identical → semantic rank 1
      (3L, Array(0.9f, 0.1f, 0f, 0f)), // close → semantic rank 2
      (4L, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val out = SimSearch.hybridSearch(docs, embeds, Seq("spark", "query", "join"),
      queryVecId = 0L, depth = 10, k = 4).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 1L, 3L, 4L),
      s"doc2 (lex#2+sem#1) > doc1 (lex#1+sem#3) > single-list docs: ${out.mkString(";")}")
    // rrf of the winner: 1/(60+2) + 1/(60+1)
    assert(math.abs(out(0).getDouble(3) - (1.0 / 62 + 1.0 / 61)) < 1e-12)
    // lexical misses carry null r_lex but still rank by their semantic term
    val doc3 = out.find(_.getLong(0) == 3L).get
    assert(doc3.isNullAt(1) && doc3.getInt(2) == 2)
  }
}
