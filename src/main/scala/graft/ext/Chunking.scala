package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Context-window preparation operators for an LLM training-data pipeline
  * (BASELINE.json extension scope): overlapping token chunking and
  * concat-and-chunk sequence packing — the two standard ways a corpus of
  * variable-length documents becomes fixed-length training sequences.
  *
  * Both are integer-exact end to end (token counts, spans, bin ids), so
  * the DuckDB oracle mirrors bit-for-bit.
  */
object Chunking {

  /** Document-preserving bin packing — the THIRD context-window strategy
    * beside [[tokenChunks]] (split with overlap) and [[packSequences]]
    * (concat-and-chunk, splits at window boundaries): pack whole
    * documents into `budget`-token bins, never splitting a document —
    * the layout instruction-tuning and retrieval-training corpora need,
    * where a document torn across sequences is a corrupted example.
    *
    * Strategy: deterministic hash-grouped first-fit-decreasing. Docs
    * hash into `groups` independent packing groups; within each, FFD
    * (sort by tokens desc then id, first bin that fits) runs
    * sequentially over that group alone — packing is inherently
    * sequential, so the parallelism unit is the GROUP, and group size
    * (corpus/groups) is the bounded in-memory working set. `groups`
    * defaults to AUTO (≤ 0): derived from the optimizer's scan-size
    * estimate so that each group's input slice stays under
    * [[GroupTargetInputBytes]] — the per-task working set is then a
    * CONSTANT in corpus size (a fixed 32 would grow it as corpus/32),
    * the same plan-stats dispatch idiom as the driver-fit ceilings. FFD
    * waste is ≤ ~22% of optimal per group (classic bound); docs larger
    * than the budget get a single-doc overflow bin, flagged. Everything
    * (assignment, bin ids, fills) is a pure function of (ids, token
    * counts, groups, budget). Composite bin ids use a 10⁹ stride
    * (grp·10⁹ + bin_in_group) and the packer FAILS LOUDLY if any group
    * needs ≥ 10⁹ bins — ids can never silently collide across groups
    * (with the auto `groups` bound that would take a single group
    * holding ≥ 10⁹·budget tokens, far past the slice ceiling anyway).
    *
    * Declared mode: sequential FFD is not SQL-expressible —
    * ChunkingSpec pins capacity, completeness, overflow flagging,
    * determinism, and the fill-factor floor; the oracle-gated
    * `x_pack_bins_audit` catalog entry re-verifies capacity /
    * completeness / bin-count bounds in plain SQL over this output. */
  def packBins(df: DataFrame, textCol: String, idCol: String,
               budget: Int = 512, groups: Int = -1): DataFrame = {
    require(budget > 0, "budget must be positive")
    val nGroups = if (groups > 0) groups else autoGroups(df)
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(
      col(idCol).cast("long").as("doc_id"),
      size(split(col(textCol), " ")).as("n_tokens"),
      pmod(xxhash64(col(idCol).cast("long")), lit(nGroups.toLong)).cast("int").as("grp"))
      .as[(Long, Int, Int)]
    base.groupByKey(_._3)
      .flatMapGroups { (grp, it) =>
        val docs = it.toArray.sortBy { case (id, n, _) => (-n, id) }
        // bins: (remainingTokens, binIdx); linear first-fit scan — bins
        // per group are bounded by the group's token mass / budget
        val remaining = scala.collection.mutable.ArrayBuffer.empty[Int]
        docs.iterator.map { case (id, n, _) =>
          if (remaining.length >= BinIdStride)
            throw new IllegalStateException(
              s"packBins: group $grp needs more than $BinIdStride bins — " +
                "composite bin ids would collide across groups. Raise `groups` " +
                "(or leave it on auto) so each group packs a smaller slice.")
          if (n > budget) {
            // oversized doc: its own flagged overflow bin
            remaining += 0
            (id, n, grp, remaining.length - 1, true)
          } else {
            var b = 0
            while (b < remaining.length && remaining(b) < n) b += 1
            if (b == remaining.length) remaining += budget
            remaining(b) -= n
            (id, n, grp, b, false)
          }
        }
      }
      .toDF("doc_id", "n_tokens", "grp", "bin_in_group", "overflow")
      .select(col("doc_id"), col("n_tokens"),
        (col("grp").cast("long") * BinIdStride + col("bin_in_group")).as("bin_id"),
        col("overflow"))
      .orderBy(col("doc_id"))
  }

  /** Composite-bin-id stride: bin_id = grp·stride + bin_in_group. 10⁹
    * leaves room for ~9.2·10⁹ groups in a Long while making per-group
    * overflow (guarded above) unreachable under the auto slice bound. */
  private[graft] val BinIdStride = 1000000000L

  /** Auto `groups` derivation for [[packBins]]: one packing group per
    * [[GroupTargetInputBytes]] of optimizer-estimated input, floored at
    * 32 (keep every core busy even on small corpora). At ~500 B/doc of
    * text that bounds a group's in-memory tuple slice to a few tens of
    * MB regardless of corpus size. Plan statistics — free, no job.
    *
    * The byte estimate is only trusted when the optimizer actually HAS
    * one: plans over non-file sources (and some post-join shapes)
    * surface the `spark.sql.defaultSizeInBytes` sentinel — Long.MaxValue
    * scale — which would saturate `groups` at 2³⁰, leave ~0–1 docs per
    * group, and silently collapse FFD to one bin per doc. Estimates at
    * or beyond the sentinel fall back to the 32-group floor with a
    * logged warning (callers who know their corpus pass `groups`
    * explicitly); when the optimizer has a ROW estimate it cross-checks
    * the byte-derived answer, capping groups at one per
    * [[GroupTargetRowsFloor]] rows so a wildly inflated byte estimate
    * can never starve groups of docs. */
  private[graft] def autoGroups(df: DataFrame): Int = {
    val stats = df.queryExecution.optimizedPlan.stats
    // Distrust threshold: the default-size sentinel, OR any estimate
    // beyond an absolute 512 TB ceiling when no row estimate backs it.
    // The exact-sentinel check alone is porous — a Project over a
    // non-file source scales the sentinel by the column-width ratio and
    // a Filter scales it by selectivity, yielding a still-absurd number
    // just BELOW the sentinel that would saturate `groups` toward 2³⁰
    // (~1 doc per group, FFD collapsed to one bin per doc). A byte
    // estimate beyond the ceiling is accepted only when rowCount exists
    // to cross-check it (the byRows cap below then bounds the damage).
    val sentinel = BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
    val absCeiling = BigInt(1L) << 49 // 512 TB
    val implausible = stats.sizeInBytes >= sentinel ||
      (stats.sizeInBytes >= absCeiling && stats.rowCount.isEmpty)
    if (implausible) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "packBins: no usable optimizer size estimate (default-size sentinel) — " +
          "falling back to 32 packing groups; pass `groups` explicitly for " +
          "large corpora from non-file sources")
      32
    } else {
      val byBytes = autoGroups(stats.sizeInBytes)
      stats.rowCount match {
        case Some(rows) =>
          val byRows = math.max(32L,
            math.min((rows / GroupTargetRowsFloor).toLong + 1, 1L << 30)).toInt
          math.min(byBytes, byRows)
        case None => byBytes
      }
    }
  }

  /** Row floor per packing group under the [[autoGroups]] row
    * cross-check: never slice finer than ~4K docs per group, however
    * inflated the byte estimate — FFD needs a populated slice to pack. */
  private[graft] val GroupTargetRowsFloor = 4096L

  private[graft] def autoGroups(bytes: BigInt): Int = {
    val derived = (bytes / GroupTargetInputBytes).toLong + 1
    math.max(32L, math.min(derived, 1L << 30)).toInt
  }

  /** Input bytes per packing group under auto sizing (~256 MB of scanned
    * text ≈ 500 K docs ≈ ~12 MB of (id, count, grp) tuples per task). */
  private[graft] val GroupTargetInputBytes = 256L << 20

  /** Overlapping fixed-size token chunks (the RAG / long-doc-training
    * splitter): chunk i covers tokens [i·stride, i·stride + chunkSize);
    * consecutive chunks overlap by chunkSize − stride tokens; the last
    * chunk may be shorter but every token is covered. Chunk count is
    * ceil(max(n − chunkSize, 0) / stride) + 1.
    *
    * Scale shape: one codegen scan — the split/slice/posexplode pipeline
    * is stateless per row, no shuffle; output order is the caller's
    * concern (the catalog query sorts for the oracle). */
  def tokenChunks(df: DataFrame, textCol: String, idCol: String,
                  chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    // stride > chunkSize would leave [chunkSize, stride) of every window
    // uncovered — silently lossy training data, violating the documented
    // "every token is covered" invariant
    require(stride <= chunkSize,
      s"stride ($stride) must not exceed chunkSize ($chunkSize): tokens between " +
        "consecutive chunks would be dropped")
    val ts = split(col(textCol), " ")
    val nch = (ceil(greatest(size(ts) - chunkSize, lit(0)).cast("double") / stride))
      .cast("int") + 1
    df.select(col(idCol).as("doc_id"), ts.as("ts"), nch.as("nch"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("nch") - 1),
          i => slice(col("ts"), i * stride + 1, lit(chunkSize)))))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        size(col("col")).as("n_tokens"),
        concat_ws(" ", col("col")).as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Concat-and-chunk sequence packing (the standard LLM pretraining
    * packer): documents concatenate in id order into one global token
    * stream, which is cut into fixed `capacity`-token bins; the output
    * says which token span [tok_start, tok_end) of each document lands in
    * which bin. A document longer than the remaining bin space spans
    * multiple bins (it is split, not padded) — total packed tokens equal
    * total corpus tokens, the invariant padding-free packing is chosen
    * for.
    *
    * Scale shape: the global exclusive prefix sum over per-document token
    * counts uses the same range-partitioned two-pass plan as the KS CDF
    * (per-bucket window cumsum + broadcast per-bucket offsets), so no
    * O(n) stage ever funnels through one task; the only unpartitioned
    * window orders the ≤`buckets`-row offsets frame. All arithmetic is
    * Long-exact, so the result is bitwise-identical to a global ordered
    * window. */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
                    capacity: Int = 256, buckets: Int = 32): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    // Persist BEFORE the two consumers (offsets, spans) — the
    // Exact.centsHistogramFit precedent: the range partitioner's
    // sampling pass would otherwise re-run the full tokenize scan, and —
    // the correctness half — the sampler's split points vary per
    // materialization (seeded by RDD id), so without a shared
    // materialization the two subtrees could see DIFFERENT bucket
    // boundaries whenever the exchange isn't reused (AQE divergence,
    // reuse disabled) and gstart/bin_id would silently disagree. The
    // cached frame is (doc_id, n, bucket) — narrow, never the text.
    val parts = df
      .select(col(idCol).cast("long").as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("n"))
      .repartitionByRange(buckets, col("doc_id"))
      .withColumn("bucket", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wPre = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parts.groupBy("bucket").agg(sum("n").as("sn"))
      .withColumn("off", coalesce(sum("sn").over(wPre), lit(0L)))
      .select("bucket", "off")
    val wCum = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val spans = parts
      .withColumn("pre", coalesce(sum("n").over(wCum), lit(0L)))
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("gstart", col("pre") + col("off"))
      .withColumn("gend", col("gstart") + col("n"))
    spans
      .select(col("doc_id"), col("gstart"), col("gend"),
        explode(sequence(expr(s"gstart div $capacity"),
          expr(s"(gend - 1) div $capacity"))).as("bin_id"))
      .select(col("bin_id"), col("doc_id"),
        (greatest(col("gstart"), col("bin_id") * capacity) - col("gstart"))
          .as("tok_start"),
        (least(col("gend"), col("bin_id") * capacity + capacity) - col("gstart"))
          .as("tok_end"))
      .withColumn("n_tokens", col("tok_end") - col("tok_start"))
      .orderBy(col("bin_id"), col("doc_id"))
  }
}
