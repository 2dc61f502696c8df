package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Training-shard preparation operators: exact global prefix sums,
  * cross-document sequence packing, and deterministic seeded shuffles.
  *
  * An LM training pipeline concatenates documents into a single token
  * stream and cuts it into fixed-length contexts; both that packing and
  * "shuffle the corpus reproducibly into N shards" need a global total
  * order — the textbook place where a naive `Window.orderBy` (no
  * partition) collapses the whole dataset onto one task. The operators
  * here keep the order semantics but compute them scale-safe:
  *
  *   - [[prefixSum]]: two-phase distributed scan — deterministic range
  *     buckets from a min/max aggregate (no sampling), a tiny per-bucket
  *     totals aggregate (O(buckets) rows to the driver), then one
  *     `mapPartitions` pass emitting running totals seeded from the
  *     bucket offsets. Row data crosses the wire once.
  *   - [[seededShuffle]]: shard assignment by portable hash; the rank
  *     window partitions by shard — the parallel unit — so the largest
  *     single task is one shard, |rows|/nShards, by construction.
  */
object Pack {

  /** Exact global prefix sum: adds `prev_cumsum` = sum of `valueCol`
    * over all rows with a strictly smaller `orderCol`.
    *
    * Scale design: the order key's [min, max] span (one cheap aggregate)
    * is split into `buckets` contiguous ranges by a pure column
    * expression — deterministic, unlike `repartitionByRange`'s sampled
    * bounds, so the per-bucket totals and the per-row pass agree on
    * bucket membership without caching the shuffled data. Only the
    * bucket totals are collected (`buckets` rows); rows shuffle once
    * (hash on bucket id) and are scanned once, sorted within partitions
    * by (bucket, key). The input is read three times (min/max, totals,
    * the per-row pass), so the kernel persists it and releases it after
    * the first action on the result.
    *
    * `orderCol` must be numeric and unique (a total order); `valueCol`
    * must be non-negative integers (token counts, byte sizes).
    */
  def prefixSum(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      buckets: Int = 64): DataFrame =
    prefixSumOver(df, None, orderCol, valueCol, buckets)

  /** Per-GROUP exact prefix sum: [[prefixSum]] with an independent
    * running total per `groupCol` value — `prev_cumsum` = sum of
    * `valueCol` over same-group rows with a strictly smaller `orderCol`.
    *
    * Same two-pass design; totals are keyed (group, bucket) so the
    * driver holds |groups|·buckets rows — meant for source/domain-style
    * group counts (dozens to thousands), NOT per-document groups. Rows
    * shuffle once on the bucket id and are scanned once sorted by
    * (bucket, group, key); the scan keeps one running counter per
    * (bucket, group) transition, resuming from the per-group offset.
    */
  def prefixSumBy(
      df: DataFrame,
      groupCol: String,
      orderCol: String,
      valueCol: String,
      buckets: Int = 64): DataFrame =
    prefixSumOver(df, Some(groupCol), orderCol, valueCol, buckets)

  /** The two-pass kernel behind [[prefixSum]] (no group: one running
    * total, and no per-row group column) and [[prefixSumBy]].
    */
  private def prefixSumOver(
      input: DataFrame,
      groupCol: Option[String],
      orderCol: String,
      valueCol: String,
      buckets: Int): DataFrame = {
    // persisted lazily: the upstream (a tokenizer, a scoring join) would
    // otherwise run once per scan. A frame the caller cached stays the
    // caller's to release.
    val owned = input.storageLevel == StorageLevel.NONE
    val df = if (owned) input.persist(StorageLevel.MEMORY_AND_DISK) else input
    // the release hook goes in after the build-time actions (its id gate
    // screens them out) and before the returned Dataset exists
    def releaseAfterFirstUse(): Unit =
      if (owned) CacheHooks.unpersistAfterFirstUse(df)
    val head = df.agg(
      min(col(orderCol).cast("long")), max(col(orderCol).cast("long"))).head()
    if (head.isNullAt(0)) {
      releaseAfterFirstUse()
      return df.withColumn("prev_cumsum", lit(0L))
    }
    val lo = head.getLong(0)
    val span = math.max(1L, (head.getLong(1) - lo) / buckets + 1)
    val bucketed = df
      .withColumn("_ps_bucket",
        floor((col(orderCol).cast("long") - lit(lo)) / lit(span)).cast("long"))
      .withColumn("_ps_v", coalesce(col(valueCol).cast("long"), lit(0L)))
    // group key normalized ONCE by Catalyst: the driver-side offsets
    // and the per-row scan below must read the SAME string form (a
    // JVM String.valueOf of the raw value disagrees with the SQL cast
    // for timestamps, and a null group key would NPE the sort)
    val withBucket = groupCol.fold(bucketed)(g => bucketed.withColumn("_ps_g",
      coalesce(col(g).cast("string"), lit("\u0000null"))))
    val group = groupCol.map(_ => col("_ps_g")).toSeq
    // per-(group, bucket) totals: tiny, partial aggregation map-side —
    // the only driver-bound data in the whole operator
    val totals = withBucket
      .groupBy(group :+ col("_ps_bucket"): _*)
      .agg(sum(col("_ps_v")).as("t"))
      .collect().map { r =>
        val n = r.length
        ((if (group.isEmpty) "" else r.getString(0), r.getLong(n - 2)), r.getLong(n - 1))
      }
    releaseAfterFirstUse()
    // per-group running offset across its buckets in key order
    val offsets: Map[(String, Long), Long] = totals
      .groupBy(_._1._1).toSeq
      .flatMap { case (_, bs) =>
        val sorted = bs.sortBy(_._1._2)
        sorted.map(_._1).zip(sorted.scanLeft(0L)(_ + _._2)).toSeq
      }.toMap
    val parted = withBucket
      .repartition(buckets, col("_ps_bucket"))
      .sortWithinPartitions(col("_ps_bucket") +: group :+ col(orderCol): _*)
    val gIdx = if (group.isEmpty) -1 else parted.schema.fieldIndex("_ps_g")
    val bIdx = parted.schema.fieldIndex("_ps_bucket")
    val vIdx = parted.schema.fieldIndex("_ps_v")
    val outSchema = StructType(
      parted.schema.fields :+ StructField("prev_cumsum", LongType, nullable = false))
    parted.mapPartitions { it =>
      var curBucket = Long.MinValue
      var curGroup: String = null
      var running = 0L
      it.map { r =>
        val b = r.getLong(bIdx)
        val g = if (gIdx < 0) "" else r.getString(gIdx)
        if (b != curBucket || g != curGroup) {
          curBucket = b; curGroup = g
          running = offsets.getOrElse((g, b), 0L)
        }
        val out = Row.fromSeq(r.toSeq :+ running)
        running += r.getLong(vIdx)
        out
      }
    }(Encoders.row(outSchema))
      .drop("_ps_bucket", "_ps_v", "_ps_g")
  }

  /** P12: dataset-mixture realization under a global token budget —
    * "sample each source at weight w_s until budget·w_s/Σw tokens":
    * per-source integer token targets, then a deterministic seeded
    * selection (md5-rank order) greedily filling each target; the
    * straddling document is kept, as in [[tokenBudgetSelect]].
    *
    * Scale: one [[prefixSumBy]] keyed by source over a packed
    * (hash, id) order key — no per-source window, no global sort;
    * targets are a driver map compiled into the plan. Contract:
    * 0 ≤ id < 2³¹ (the packed key is hv·2³¹ + id).
    */
  def mixtureSelect(
      df: DataFrame, sourceCol: Column, idCol: Column, tokensCol: Column,
      weights: Map[String, Long], budget: Long,
      seed: String = "mix"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be positive")
    val wSum = weights.values.sum
    val targets: Map[String, Long] =
      weights.map { case (s, w) => s -> budget * w / wSum }
    val base = df
      .select(sourceCol.as("source"), idCol.cast("long").as("doc_id"),
        tokensCol.cast("long").as("n_tokens"))
      .filter(col("source").isInCollection(weights.keys.toSeq))
      // hash computed from the RENAMED column: the caller's idCol
      // expression no longer resolves after the select (same device as
      // seededShuffle's inline hash)
      .withColumn("okey", TextOps.hex32(
        concat_ws("|", lit(seed), col("doc_id").cast("string")))
        * lit(1L << 31) + col("doc_id"))
    val target = targets.foldLeft(lit(0L)) { case (acc, (s, t)) =>
      when(col("source") === s, lit(t)).otherwise(acc)
    }
    prefixSumBy(base, "source", "okey", "n_tokens")
      .filter(col("prev_cumsum") < target)
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("prev_cumsum").as("cum_before"))
  }

  /** Cross-document sequence packing: documents are laid out in id order
    * as one concatenated token stream, cut into fixed `ctxLen`-token
    * training contexts. Emits per document its context assignment:
    * `bin` = index of the context its first token lands in, `off_in_bin`
    * = token offset inside that context. Downstream shard writers group
    * by `bin` to materialize examples; documents spanning a boundary
    * continue into the next context (standard GPT-style packing).
    */
  def packSequences(
      df: DataFrame, text: Column, idCol: Column, ctxLen: Int): DataFrame = {
    val base = df.select(
      idCol.cast("long").as("doc_id"),
      size(TextOps.tokens(text)).cast("long").as("n_tokens"))
    prefixSum(base, "doc_id", "n_tokens")
      .select(col("doc_id"), col("n_tokens"),
        (col("prev_cumsum") / ctxLen).cast("long").as("bin"),
        (col("prev_cumsum") % ctxLen).as("off_in_bin"))
  }

  /** Deterministic seeded global shuffle into `nShards` shards:
    * shard = hex32(md5(seed|id)) mod nShards, pos = rank of the hash
    * inside the shard (ties broken by id). Reproducible across runs and
    * engines — a re-run with the same seed yields byte-identical shard
    * files. The rank window partitions by shard, so the largest task
    * holds one shard — sized by choosing nShards, never the whole
    * dataset.
    */
  def seededShuffle(
      df: DataFrame, idCol: Column, seed: String, nShards: Int): DataFrame = {
    val h = TextOps.hex32(concat_ws("|", lit(seed), idCol.cast("string")))
    df.select(idCol.cast("long").as("doc_id"), h.as("_h"))
      .withColumn("shard", pmod(col("_h"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("_h"), col("doc_id"))))
      .select(col("doc_id"), col("shard"), col("pos").cast("long").as("pos"))
  }

  /** Leakage-safe train/validation split: the unit of assignment is the
    * near-dup GROUP, not the document — two near-duplicates must never
    * straddle the boundary or the validation loss is measured on
    * (approximately) training data. `groups` is a (doc_id, group_id)
    * frame as produced by [[graft.ops.Dedup.resolveGroups]]; ungrouped
    * documents (no dup pair) key by their own id. Assignment is a
    * deterministic md5 per-mille threshold on the group key — seedless,
    * reproducible, and map-side after the one groups join (the groups
    * side holds only documents appearing in a dup pair, so AQE
    * broadcasts it at real-world dup fractions).
    */
  def leakageSafeSplit(
      df: DataFrame, idCol: Column, groups: DataFrame,
      validPermille: Int, seed: String = "split"): DataFrame = {
    val key = coalesce(col("group_id"), col("doc_id")).cast("string")
    val h = TextOps.hex32(concat_ws("|", lit(seed), key))
    df.select(idCol.cast("long").as("doc_id"))
      .join(groups.select(col("doc_id"), col("group_id")), Seq("doc_id"), "left")
      .withColumn("split",
        when(pmod(h, lit(1000L)) < validPermille, lit("valid"))
          .otherwise(lit("train")))
      .select(col("doc_id"), col("split"))
  }

  /** Materialize the seeded shuffle as training shards on disk: one
    * `shard=N` directory per shard, rows written in `pos` order (parquet
    * preserves in-file row order, so a sequential reader sees the
    * reproducible shuffled sequence). The pre-write `repartition(shard)`
    * + `sortWithinPartitions` means each task owns whole shards → one
    * file per shard, no tiny-file spray; shard size is controlled by
    * `nShards`, and a re-run with the same seed rewrites identical
    * shard contents.
    */
  def writeShards(
      df: DataFrame, idCol: Column, seed: String, nShards: Int,
      path: String): Unit = {
    // same hash/rank as seededShuffle, computed inline on the full rows
    // (one window + one shuffle — no join back against an id table)
    val h = TextOps.hex32(concat_ws("|", lit(seed), idCol.cast("string")))
    df.withColumn("shard", pmod(h, lit(nShards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(h, idCol)).cast("long"))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "pos")
      .write.mode("overwrite").partitionBy("shard").parquet(path)
  }

  /** P9: token-budget corpus selection — keep the best-scored documents
    * until a global token budget is exhausted (the "select top data under
    * a token budget" step of data-mixing recipes; greedy by score,
    * deterministic tie-break on doc id). A document is kept iff the total
    * tokens of all strictly-better documents is still below the budget,
    * so exactly one document straddles the boundary and is kept.
    *
    * Scale: the selection order (score desc, id asc) is packed into one
    * long key and handed to [[prefixSum]] — deterministic range buckets,
    * one tiny totals aggregate, one shuffled scan; no global sort and no
    * single-partition window. Contract: scores are clamped to [0, 2²¹)
    * (ppm scores fit) and ids must lie in [0, 2⁴²) so the packed key
    * stays collision-free in a signed long.
    */
  def tokenBudgetSelect(
      df: DataFrame, idCol: Column, scoreCol: Column, tokensCol: Column,
      budget: Long): DataFrame = {
    val base = df.select(idCol.cast("long").as("doc_id"),
      scoreCol.cast("long").as("score"),
      tokensCol.cast("long").as("n_tokens"))
    val maxScore = (1L << 21) - 1
    // okey ascends exactly as (score desc, doc_id asc): strictly-better
    // documents have strictly-smaller keys, so prev_cumsum = tokens of
    // all better documents.
    val keyed = base.withColumn("okey",
      (lit(maxScore) - least(greatest(col("score"), lit(0L)), lit(maxScore)))
        * lit(1L << 42) + col("doc_id"))
    prefixSum(keyed, "okey", "n_tokens")
      .filter(col("prev_cumsum") < budget)
      .select(col("doc_id"), col("score"), col("n_tokens"),
        col("prev_cumsum").as("cum_before"))
  }

  /** T20: curriculum ordering — phase the corpus by a quality score
    * (cleanest first) and give each phase a deterministic internal
    * shuffle. Phase cuts are computed on score VALUES via the exact
    * distributed prefix sum (docs-with-higher-score before each value),
    * so no window ever sees more rows than the score cardinality and
    * nothing is partition-less; the per-doc pass is one broadcast join
    * + map-side hash. The training order is (phase, ord, doc_id); the
    * rows come back unordered, for the consumer to sort or write by it.
    */
  def curriculum(
      df: DataFrame, scoreCol: Column, idCol: Column,
      nPhases: Int, seed: String = "curriculum"): DataFrame = {
    require(nPhases > 0)
    val base = df.select(idCol.cast("long").as("doc_id"),
      scoreCol.cast("long").as("score"))
    val total = base.count()
    // empty input: 0 is not a valid divisor in the phase-cut expression
    // (null phases, or an error under ANSI mode) — return empty directly
    if (total == 0)
      return base.select(col("doc_id"), col("score"),
        lit(0).as("phase"), lit(0L).as("ord")).limit(0)
    val cnt = base.groupBy("score").agg(count(lit(1)).as("cnt"))
      .withColumn("negScore", -col("score"))
    val cuts = prefixSum(cnt, "negScore", "cnt")
      .select(col("score"),
        least(expr(s"(prev_cumsum * $nPhases) div $total"),
          lit(nPhases - 1L)).cast("int").as("phase"))
    val ord = graft.ops.TextOps.hex32(
      concat_ws("|", lit(seed), col("doc_id").cast("string")))
    base.join(broadcast(cuts), Seq("score"))
      .select(col("doc_id"), col("score"), col("phase"), ord.as("ord"))
  }

  /** P13: length-class context packing — every document rounds up to the
    * nearest power-of-two length class (min `minClass`, docs longer than
    * `ctx` are left to the chunker) and bins hold exactly `ctx / class`
    * same-class documents: fixed-shape batches with bounded padding
    * waste (< 50% worst case, ~25% expected), the static-shape
    * alternative to greedy sequence packing.
    *
    * Scale: bins never cross a (class, shard) cell, so the rank window
    * is partitioned by (class, shard) — shard count sets the
    * parallelism, assignment is deterministic (md5 order), and no global
    * coordination or partition-less window exists at any size.
    */
  def classPack(
      df: DataFrame, idCol: Column, lenCol: Column, ctx: Int,
      nShards: Int, minClass: Int = 64,
      seed: String = "classpack"): DataFrame = {
    require(ctx >= minClass && Integer.bitCount(ctx) == 1 &&
      Integer.bitCount(minClass) == 1, "ctx/minClass must be powers of two")
    val classes = Iterator.iterate(minClass)(_ * 2).takeWhile(_ <= ctx).toSeq
    val base = df.select(idCol.cast("long").as("doc_id"),
      lenCol.cast("long").as("len"))
      .filter(col("len") > 0 && col("len") <= ctx)
    val cls = classes.foldRight(lit(classes.max.toLong): Column)(
      (k, acc) => when(col("len") <= k, lit(k.toLong)).otherwise(acc))
    val h = graft.ops.TextOps.hex32(
      concat_ws("|", lit(seed), col("doc_id").cast("string")))
    val ranked = base.withColumn("cls", cls).withColumn("_h", h)
      .withColumn("shard", pmod(col("_h"), lit(nShards.toLong)))
      .withColumn("_rank", row_number().over(
        Window.partitionBy(col("cls"), col("shard"))
          .orderBy(col("_h"), col("doc_id"))) - 1)
    ranked
      .withColumn("bin", expr(s"_rank div ($ctx div cls)"))
      .withColumn("slot", expr(s"_rank % ($ctx div cls)"))
      .select(col("doc_id"), col("len"), col("cls"), col("shard"),
        col("bin"), col("slot"))
  }
}
