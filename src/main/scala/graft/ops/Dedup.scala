package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextOps._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (100 TB):
  *   - exact: shuffle only (hash, id) pairs — bytes per row, not documents;
  *   - MinHash-LSH: per-doc signature is computed scan-side inside codegen;
  *     only (band_id, band_hash, doc_id) rows shuffle. The band self-join
  *     groups candidates into tiny buckets, so the join output is ~linear
  *     in the number of true near-dups, never O(n²);
  *   - SimHash: one pass, 32 integer aggregates per doc, no shuffle until
  *     the (rare) collision grouping;
  *   - blocked Jaccard: the blocking key keeps the self-join partitioned
  *     and skew-bounded; swap the block key for LSH buckets at scale.
  */
object Dedup {

  /** Exact dedup by content hash: one row per distinct hash with the
    * canonical (minimum) id kept and the duplicate count.
    */
  def exact(df: DataFrame, content: Column, idCol: Column): DataFrame =
    df.groupBy(md5(content.cast("string")).as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Universal-hash permutation family over a base hash h < 2^32:
    * perm_j(h) = (a_j·h + b_j) mod P. Pure 64-bit arithmetic, identical in
    * any engine (no overflow: a < 10^8, h < 2^32 ⇒ a·h < 2^62).
    */
  val minhashP: Long = 1000000007L
  def minhashA(j: Int): Long = ((j * 2654435761L) % 99999989L) | 1L
  def minhashB(j: Int): Long = (j * 40503L * 69069L) % minhashP

  /** Per-document MinHash signatures as one array column — the fused
    * kernel behind [[minhashBands]]: one JVM call per document computes
    * all permutation minima over the shingle hashes (no shingle explode,
    * no (doc, shingle)-row shuffle; map-side at any scale). Values are
    * identical to the explode + groupBy(min) formulation.
    */
  def minhashSignature(
      df: DataFrame, text: Column, idCol: Column,
      shingleK: Int, nHashes: Int): DataFrame = {
    val as = (0 until nHashes).map(minhashA).toArray
    val bs = (0 until nHashes).map(minhashB).toArray
    val k = shingleK
    val nh = nHashes
    val sigUdf = udf { (s: String) =>
      val hs = graft.functions.ShingleHashes.hashes(s, k, distinct = false)
      if (hs.isEmpty) null
      else {
        val out = new Array[Long](nh)
        var j = 0
        while (j < nh) {
          val a = as(j); val b = bs(j)
          var m = Long.MaxValue
          var i = 0
          while (i < hs.length) {
            val v = (hs(i) * a + b) % minhashP
            if (v < m) m = v
            i += 1
          }
          out(j) = m
          j += 1
        }
        out
      }
    }
    df.select(idCol.as("doc_id"), sigUdf(text).as("sig"))
      .filter(col("sig").isNotNull)
  }

  def minhashBands(
      df: DataFrame, text: Column, idCol: Column,
      shingleK: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val sig = minhashSignature(df, text, idCol, shingleK, bands * rowsPerBand)
    val bandCols = (0 until bands).map { b =>
      concat_ws("|", (0 until rowsPerBand).map(r =>
        col("sig").getItem(b * rowsPerBand + r).cast("string")): _*)
    }
    sig.select(col("doc_id"), posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_key")
  }

  /** MinHash-LSH candidate pairs: documents sharing at least one band.
    *
    * Group-then-expand, not a self-join: one shuffle keyed by the band
    * bucket (an aliased self-join would run the signature kernel twice —
    * differing projections defeat ReuseExchange), pairs emitted map-side
    * from each bucket's doc list.
    *
    * `star = false` emits every in-bucket pair — what the d2 contract
    * (all candidate pairs) means, but a bucket of n mutual duplicates
    * emits n(n-1)/2 rows: at 100 TB a boilerplate page duplicated 1M
    * times is a 5·10¹¹-row hot bucket. `star = true` links each doc to
    * its bucket's MINIMUM id instead — O(n) rows per bucket with the
    * same connected components, which is the only property group
    * resolution ([[resolveGroups]], the d11 pipeline) consumes.
    */
  def minhashCandidates(
      df: DataFrame, text: Column, idCol: Column,
      shingleK: Int = 3, bands: Int = 4, rowsPerBand: Int = 3,
      star: Boolean = false): DataFrame = {
    val b = minhashBands(df, text, idCol, shingleK, bands, rowsPerBand)
    val buckets = b.groupBy("band_id", "band_key")
      .agg(collect_list(col("doc_id")).as("docs"))
      .filter(size(col("docs")) >= 2)
    val pairs =
      if (star)
        buckets.select(array_min(col("docs")).as("doc_a"),
            explode(col("docs")).as("doc_b"))
      else
        buckets.select(explode(col("docs")).as("doc_a"), col("docs"))
          .select(col("doc_a"), explode(col("docs")).as("doc_b"))
    pairs.filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Persist the corpus's LSH band rows as a bucketed catalog table —
    * the dedup INDEX for incremental ingestion. At 100 TB the corpus is
    * indexed once; each new batch then joins against it without the
    * index ever shuffling: the table is `bucketBy(band_id, band_key)`,
    * so its scan already reports the join's hash partitioning and only
    * the (small) new batch moves.
    */
  def writeBandIndex(
      df: DataFrame, text: Column, idCol: Column, table: String,
      shingleK: Int = 3, bands: Int = 4, rowsPerBand: Int = 3,
      nBuckets: Int = 16): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/$table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    minhashBands(df, text, idCol, shingleK, bands, rowsPerBand)
      .write.mode("overwrite")
      .bucketBy(nBuckets, "band_id", "band_key")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Candidate pairs for a NEW batch against an indexed corpus — the
    * incremental form of [[minhashCandidates]]: new-vs-corpus pairs come
    * from the bucketed index join (index side shuffle-free), new-vs-new
    * pairs from the in-batch bucket expansion. Emits (doc_a < doc_b)
    * distinct pairs where at least one side is a new document — exactly
    * the delta a full recompute over corpus ∪ batch would add, assuming
    * ids are disjoint. Append the batch's band rows to the index
    * afterwards (`INSERT INTO`) to fold the batch in.
    */
  def incrementalCandidates(
      newDf: DataFrame, text: Column, idCol: Column, table: String,
      shingleK: Int = 3, bands: Int = 4, rowsPerBand: Int = 3): DataFrame = {
    val spark = newDf.sparkSession
    val fresh = minhashBands(newDf, text, idCol, shingleK, bands, rowsPerBand)
    val idx = spark.table(table)
      .withColumnRenamed("doc_id", "corpus_id")
    val vsOld = fresh.join(idx, Seq("band_id", "band_key"))
      .select(least(col("doc_id"), col("corpus_id")).as("doc_a"),
        greatest(col("doc_id"), col("corpus_id")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
    val vsNew = fresh.groupBy("band_id", "band_key")
      .agg(collect_list(col("doc_id")).as("docs"))
      .filter(size(col("docs")) >= 2)
      .select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
    vsOld.union(vsNew).distinct()
  }

  /** Fold a batch's band rows into an existing band index (same bucket
    * spec as [[writeBandIndex]]) so later batches see it.
    */
  def appendBandIndex(
      df: DataFrame, text: Column, idCol: Column, table: String,
      shingleK: Int = 3, bands: Int = 4, rowsPerBand: Int = 3): Unit = {
    // match the existing table's bucketing — a mismatched append corrupts
    // the co-location contract the incremental join relies on
    val nBuckets = df.sparkSession.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets).getOrElse(16)
    minhashBands(df, text, idCol, shingleK, bands, rowsPerBand)
      .write.mode("append")
      .bucketBy(nBuckets, "band_id", "band_key")
      .format("parquet")
      .saveAsTable(table)
  }

  /** One continuous-ingestion dedup step (the `foreachBatch` body of a
    * streaming crawl pipeline): candidates for the batch against the
    * ever-growing band index (index side shuffle-free — bucketed), drop
    * every batch document that near-dups an earlier one (smaller id, in
    * the index or earlier in this batch), fold the batch's band rows into
    * the index, return the survivors. Candidates materialize BEFORE the
    * append so the batch never matches its own freshly-written rows.
    *
    * State across the stream lives in the bucketed index table, not in
    * stream state — restart-safe and O(corpus bands) on disk, never in
    * memory.
    */
  def incrementalDedup(
      batch: DataFrame, text: Column, idCol: Column, table: String,
      shingleK: Int = 3, bands: Int = 4, rowsPerBand: Int = 3): DataFrame = {
    val dups = incrementalCandidates(batch, text, idCol, table,
      shingleK, bands, rowsPerBand)
      .select(col("doc_b").as("_dup_id")).distinct()
      // localCheckpoint, not the lineage-keeping CacheHooks.materialize:
      // severing lineage is the point here. The append below changes the
      // index these candidates were matched against, so a recompute from
      // lineage would read an index that already holds this batch's rows
      .localCheckpoint()
    appendBandIndex(batch, text, idCol, table, shingleK, bands, rowsPerBand)
    batch.join(dups, idCol === col("_dup_id"), "left_anti")
  }

  /** 32-bit SimHash over the token multiset (portable hash family). */
  def simhash32(toks: Column): Column = {
    val hashes = transform(toks, t => hex32(t))
    val fpBits = (0 until 32).map { i =>
      val bitSum = aggregate(hashes, lit(0L),
        (acc, h) => acc + (shiftright(h, i).bitwiseAND(lit(1L)) * 2 - 1))
      when(bitSum > 0, lit(1L << i)).otherwise(lit(0L))
    }
    fpBits.reduce(_ + _)
  }

  /** Per-doc simhash fingerprints (doc_id, simhash) — fused kernel, one
    * JVM call per document (see ShingleHashes.simhash32).
    */
  def simhash(df: DataFrame, text: Column, idCol: Column): DataFrame =
    df.filter(graft.functions.ShingleHashes.hasTokens(text))
      .select(idCol.as("doc_id"),
        graft.functions.ShingleHashes.simhashCol(text).as("simhash"))

  /** Blocked n-gram Jaccard near-dup pairs: candidate pairs share a
    * blocking key; similarity = |A∩B| / |A∪B| over distinct k-gram sets.
    *
    * `maxPostings` caps the posting-list length per (block, shingle): a
    * shingle shared by more than `maxPostings` documents is boilerplate
    * (a stop-shingle) — it contributes ~zero near-dup signal but its pair
    * expansion is quadratic, which is exactly the hot-key skew that kills
    * this join at 100 TB. Capped postings are dropped BEFORE expansion,
    * so the worst task emits ≤ maxPostings² rows. The default keeps every
    * posting (exact |A∩B|).
    */
  def ngramJaccardPairs(
      df: DataFrame, text: Column, idCol: Column, blockKey: Column,
      shingleK: Int = 3, threshold: Double = 0.5,
      maxPostings: Int = Int.MaxValue): DataFrame = {
    // Inverted-index formulation: explode distinct 32-bit shingle hashes,
    // group by (block, shingle), expand each posting list into its pairs
    // map-side — |A∩B| arrives as a count with no per-row set structure
    // and no self-join (an aliased self-join re-computes the shingle
    // kernel on both sides). One shuffle keyed by (block, h) whose
    // per-group state is the doc-id list (8 bytes/doc — a 1M-doc hot
    // posting is 8 MB in one task, vs 10¹² join rows), then one shuffle
    // keyed by the pair.
    // |A| rides the posting rows as a struct field (it is size() of the
    // already-projected shingle array, shared by expression CSE with the
    // explode input — ONE kernel evaluation per document) instead of a
    // separate per-doc kernel pass joined back twice: at scale that
    // removes two shuffles of a corpus-sized (doc, size) table for
    // +4 bytes per posting entry.
    val arr = graft.functions.ShingleHashes(text, shingleK, distinct = true)
    val side = df
      .select(idCol.as("doc_id"), blockKey.as("block"), arr.as("arr"))
      .select(col("doc_id"), col("block"), size(col("arr")).as("sz"),
        explode(col("arr")).as("h"))
    side.groupBy("block", "h")
      .agg(collect_list(struct(col("doc_id"), col("sz"))).as("docs"))
      .filter(size(col("docs")).between(2, maxPostings))
      .select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // sz is constant per doc, so first() is deterministic
      .agg(count(lit(1)).as("inter"), first(col("a.sz")).as("sa"),
        first(col("b.sz")).as("sb"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sa") + col("sb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
    * algorithm): over the ordered k-gram hash stream, select the minimum
    * of every `window` consecutive hashes; the distinct selected set is
    * the document's fingerprint. Guarantees any shared substring of
    * ≥ window+k-1 tokens yields at least one shared fingerprint, while
    * storing only ~2/(window+1) of the hashes — substring-level dedup
    * (quotes, boilerplate, copied passages) that whole-doc MinHash misses.
    *
    * Candidate pairs come from the same inverted-index self-join as
    * [[ngramJaccardPairs]]: only co-occurring fingerprints emit rows.
    * Selection runs scan-side per document; only (fp, doc_id) pairs
    * shuffle — ~1/window of the shingle count.
    */
  def winnowPairs(
      df: DataFrame, text: Column, idCol: Column,
      shingleK: Int = 3, window: Int = 4, minShared: Int = 2,
      maxPostings: Int = Int.MaxValue): DataFrame = {
    // fused kernel: window minima + distinct in one pass per document
    // (the previous form evaluated the hash udf twice — size filter and
    // projection — then ran an O(len·window) slice/min chain per doc);
    // the kernel emits empty below `window` k-grams, so the explode
    // drops the same documents the filter did
    val fps = df
      .select(idCol.as("doc_id"), explode(
        graft.functions.ShingleHashes.winnowFpsCol(text, shingleK, window))
        .as("fp"))
    // group-then-expand instead of a fp self-join: the shingle kernel and
    // explode run ONCE over the corpus (a self-join re-computes the whole
    // subtree on both sides — alias-differing projects defeat
    // ReuseExchange), and pair expansion happens map-side after the one
    // (fp) shuffle
    // maxPostings drops fingerprints shared by more docs than the cap —
    // a substring THAT common is boilerplate, and its pair expansion is
    // the only quadratic term here (same stop-key rationale as
    // [[ngramJaccardPairs]]). Default keeps everything.
    fps.groupBy("fp").agg(collect_list(col("doc_id")).as("docs"))
      .filter(size(col("docs")).between(2, maxPostings))
      .select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Resolve near-dup candidate pairs into connected components: every
    * document gets the minimum id reachable through the pair graph as its
    * `group_id` (the canonical survivor), so a whole chain a~b~c collapses
    * to one group even when (a,c) was never emitted as a pair.
    *
    * Distributed min-label propagation: labels start at min(id, neighbors)
    * and each round takes the min over the neighborhood, converging in
    * O(component diameter) rounds — near-dup components are shallow
    * (stars/chains of a handful of docs), so 3-5 rounds close 100 TB runs.
    * Each round is one shuffle of (node, label) pairs, never edges², and
    * the edge list is cached once. The loop stops early at a fixpoint:
    * each round's cache is filled by counting the labels it lowered (the
    * driver-side analogue of Pregel's "no messages" halt), so the
    * convergence check is the round's own materializing job.
    */
  def resolveGroups(
      pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      maxRounds: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .cache()
    // every round is materialized: the next round references the labels
    // through two differently-keyed joins, which ReuseExchange cannot
    // share (measured: leaving the init frame lazy re-ran the aggregate
    // twice, tasks 129 -> 221 on p5). The next round reads a cached
    // round through `leaf`, a plan leaf over its cached rows: nested
    // plans would double per round (two references each), and plan
    // strings and cache lookups would grow 2^rounds. The RDD lineage
    // stays whole, so a lost block still recomputes.
    def leaf(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(df.rdd, df.schema)
    var labels = CacheHooks.materialize(edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("label")))
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val cur = leaf(labels.select(col("id"), col("label")))
      // neighborhood min: each node's label offered to every neighbor
      val offered = edges.join(cur, col("dst") === col("id"))
        .groupBy(col("src").as("id")).agg(min(col("label")).as("nmin"))
      // the round is cached WITH its previous label (`old`), and the
      // job that fills the cache counts the labels it lowered: one job
      // per propagation round, answered synchronously
      val stepped = cur.join(offered, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // a propagation fixed point IS full convergence (labels are
      // monotone non-increasing; unchanged everywhere ⇒ every node
      // already holds its neighborhood min), so check BEFORE jumping —
      // the final round never pays the jump join
      converged = stepped.filter(col("label") < col("old")).count() == 0L
      labels.unpersist()
      if (converged || round == 0) {
        // round 0 also skips the jump: star-shaped candidate graphs
        // (minhash/dhash hub expansion) converge in 1-2 propagation
        // rounds and should never pay it; deep chains start jumping
        // from round 1 and still close in O(log diameter) rounds
        labels = stepped
      } else {
        // pointer-jumping shortcut: each node adopts its label's label
        // (labels only decrease, and every label is itself a node id) —
        // this multiplies the propagation distance per round, turning
        // O(diameter) convergence into O(log diameter)
        val st = leaf(stepped.select(col("id"), col("label")))
        val lab2 = st.select(col("id").as("_jid"), col("label").as("_jlabel"))
        labels = CacheHooks.materialize(
          st.join(lab2, st("label") === lab2("_jid"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("_jlabel"), col("label")))
                .as("label")))
        stepped.unpersist()
      }
      round += 1
    }
    edges.unpersist()
    // a silent stop at maxRounds would return a component split across
    // labels with no error — fail loudly instead (with log-diameter
    // rounds, hitting this means the input is pathological)
    require(converged,
      s"resolveGroups did not converge within $maxRounds rounds")
    lastResolveRounds = round
    // before the returned Dataset exists (see TextOps.bigramLikelihood)
    CacheHooks.unpersistAfterFirstUse(labels)
    labels.select(col("id").as("doc_id"), col("label").as("group_id"))
  }

  /** Rounds the most recent [[resolveGroups]] call took to converge —
    * observability for ScaleProbeSpec, which pins that the round count
    * (the loop's scale axis: O(log component diameter)) stays flat on a
    * 10x replica corpus. Driver-side only; rounds run sequentially, so
    * a plain var is fine for the probe's single-threaded use.
    */
  @volatile private[graft] var lastResolveRounds: Int = -1

  /** SemDeDup-style semantic dedup: embeddings are bucketed into `nCells`
    * centroid cells (max-dot assignment, the IVF codebook — trained via
    * [[Similarity.kmeansFit]] in production, the deterministic stand-in
    * centroids here), then near-dup pairs are found ONLY within a cell:
    * cosine ≥ threshold ⇒ the higher id is a duplicate of the lower.
    *
    * The cell blocking is what makes this scale: candidate generation is
    * O(Σ cell²) not O(n²), and cells are balanced by the codebook. Emits
    * (cell, vec_a, vec_b, cosine) pairs; the drop set is `distinct vec_b`.
    */
  def semanticNearDup(
      df: DataFrame, vec: Column, idCol: Column,
      nCells: Int, threshold: Double,
      centroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val cents = centroids match {
      case Some(cs) =>
        val spark = df.sparkSession
        import spark.implicits._
        cs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("cell", "centv")
      case None => df.filter(idCol < nCells)
        .select(idCol.as("cell"), Similarity.toDouble(vec).as("centv"))
    }
    // nearest cell per vector (max dot, cell-id tie-break) — one corpus
    // scan against the broadcast codebook, no shuffle of the vectors
    val topCell = graft.functions.TopK.longIds(1)
    val assigned = df.select(idCol.as("vid"), Similarity.toDouble(vec).as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("cdot", Similarity.dot(col("v"), col("centv")))
      .groupBy(col("vid"))
      .agg(topCell(col("cdot"), col("cell")).as("cells"), first(col("v")).as("v"))
      .select(col("vid"), col("cells").getItem(0).getField("id").as("cell"),
        Similarity.pack(col("v")).as("vp"))
    val a = assigned.select(col("cell"), col("vid").as("vec_a"), col("vp").as("va"))
      .withColumn("na", Similarity.normBin(col("va")))
    val b = assigned.select(col("cell"), col("vid").as("vec_b"), col("vp").as("vb"))
      .withColumn("nb", Similarity.normBin(col("vb")))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        Similarity.dotBin(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("cell", "vec_a", "vec_b", "cosine")
  }

  /** Embedding near-dup pairs within a blocking key (label, LSH bucket, …):
    * cosine ≥ threshold. Fold order matches the SQL oracle exactly.
    *
    * Hot-block guard: all-pairs within a block is quadratic, which is
    * the contract (SURVEY D5 block-local pairs) — but the API would
    * otherwise let a careless block key (one giant block) blow up at
    * scale. Blocks over `maxBlockExact` rows route through a sign-LSH
    * banding pre-filter INSIDE the block: `nBands` bands of
    * `bandSigBits` hyperplane signs each ([[Similarity.lshBucket]]),
    * with each band signature folded into `ceil(blockRows /
    * targetBucket)` buckets — the bucket count scales WITH the block,
    * so candidate pairs stay ~(rows × targetBucket × nBands) — linear
    * in the block, not quadratic — and the (block, band, bucket) join
    * key also spreads the hot block across the shuffle instead of
    * landing it in one task. Only pairs agreeing on at least one band
    * bucket are cosine-verified: exact verification still applies to
    * every candidate, so the trade on an oversized block is recall of
    * the pre-filter (identical vectors always collide; recall decays
    * with angle — the same banding bet every LSH dedupe in this file
    * makes), never precision. Blocks at or under the cap are
    * bit-identical to the all-pairs oracle.
    */
  def embeddingNearDup(
      df: DataFrame, vec: Column, idCol: Column, blockKey: Column,
      threshold: Double, maxBlockExact: Int = 10000,
      nBands: Int = 4, bandSigBits: Int = 12,
      targetBucket: Int = 64): DataFrame = {
    // plan-time statistic, like lookupIp's prefix-length collect: one
    // column-pruned count agg decides which plan to build. Only the HOT
    // rows (blocks over the cap) are collected — provably bounded at
    // ≤ totalRows / maxBlockExact entries, each a (key, long) pair — so
    // the common no-hot-block case pays one tiny agg and zero plan
    // overhead vs the plain all-pairs shape, while the guarded case
    // gets its per-block counts as an explicitly broadcast LOCAL frame:
    // no persisted helper in the returned plan, no release hook, and a
    // second action on the returned result recomputes nothing (the
    // counts ride the plan as a local relation).
    val sizes = df.select(blockKey.as("block"))
      .groupBy("block").agg(count(lit(1)).as("_bn"))
    val hotRows = sizes.filter(col("_bn") > maxBlockExact).collect()
    def finish(pairs: DataFrame): DataFrame = pairs
      .withColumn("cosine",
        Similarity.dotBin(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
    def packSide(src: DataFrame, keys: Seq[String],
        suffix: String): DataFrame =
      src.select((keys.map(col) :+ col("_vid").as(s"vec_$suffix") :+
        col("_vp").as(s"v$suffix") :+ col("_n").as(s"n$suffix")): _*)
    val base = df.select(idCol.as("_vid"), blockKey.as("block"),
      Similarity.toDouble(vec).as("_vd"))
    if (hotRows.isEmpty) {
      // every block at/under the cap: the original all-pairs shape
      val packed = base.select(col("block"), col("_vid"),
        Similarity.pack(col("_vd")).as("_vp"))
        .withColumn("_n", Similarity.normBin(col("_vp")))
      return finish(packSide(packed, Seq("block"), "a")
        .join(packSide(packed, Seq("block"), "b"), Seq("block"))
        .filter(col("vec_a") < col("vec_b")))
    }
    // hot blocks present: the collected (block, count) rows become a
    // local frame broadcast-joined back (left join — a miss means the
    // block is at/under the cap and keeps the exact all-pairs branch).
    // Null-keyed blocks fall to the small side and, exactly as before,
    // produce no pairs: an equi-self-join on a null key never matches.
    val hot = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(hotRows: _*), sizes.schema)
    val sized = base.join(broadcast(hot), Seq("block"), "left")
    val small = sized.filter(col("_bn").isNull)
      .select(col("block"), col("_vid"),
        Similarity.pack(col("_vd")).as("_vp"))
      .withColumn("_n", Similarity.normBin(col("_vp")))
    val smallPairs = packSide(small, Seq("block"), "a")
      .join(packSide(small, Seq("block"), "b"), Seq("block"))
      .filter(col("vec_a") < col("vec_b"))
    // oversized blocks: band the sign signature, fold each band into a
    // block-size-scaled bucket count, join on (block, band, bucket),
    // dedupe multi-band candidates
    val dim = df.select(size(vec)).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(1)
    val bandMask = (1L << bandSigBits) - 1
    val nBuckets = greatest(
      ceil(col("_bn").cast("double") / targetBucket).cast("long"), lit(16L))
    val banded = sized.filter(col("_bn").isNotNull)
      .withColumn("_sig", Similarity.lshBucket(col("_vd"),
        nBands * bandSigBits, math.max(dim, 1)))
      .select(col("block"), col("_vid"),
        Similarity.pack(col("_vd")).as("_vp"), col("_sig"),
        nBuckets.as("_nbk"))
      .withColumn("_n", Similarity.normBin(col("_vp")))
      .select(col("block"), col("_vid"), col("_vp"), col("_n"),
        explode(array((0 until nBands).map(k => struct(lit(k).as("band"),
          pmod(shiftright(col("_sig"), k * bandSigBits)
            .bitwiseAND(bandMask), col("_nbk")).as("bkey"))): _*)).as("_b"))
      .select(col("block"), col("_vid"), col("_vp"), col("_n"),
        col("_b.band").as("band"), col("_b.bkey").as("bkey"))
    val bigPairs = packSide(banded, Seq("block", "band", "bkey"), "a")
      .join(packSide(banded, Seq("block", "band", "bkey"), "b"),
        Seq("block", "band", "bkey"))
      .filter(col("vec_a") < col("vec_b"))
      // multi-band candidates dedupe WITHIN a block only: an id pair
      // recurring across two different blocks is two legitimate pairs,
      // exactly as the exact branch (and the all-pairs oracle) emits it
      .dropDuplicates("block", "vec_a", "vec_b")
      .select("vec_a", "vec_b", "va", "vb", "na", "nb")
    finish(smallPairs.select("vec_a", "vec_b", "va", "vb", "na", "nb")
      .unionByName(bigPairs))
  }

  /** Benchmark-contamination pairs: corpus documents sharing at least one
    * distinct word k-gram with an evaluation/benchmark document, with the
    * shared-gram count (the GPT-3 §4 / Pile decontamination check).
    *
    * The benchmark side is small by construction (eval sets are
    * thousands of docs, the corpus is billions), so its exploded shingle
    * set broadcasts: the corpus side is a scan-side explode into a
    * broadcast hash join — the corpus never shuffles, and output is
    * bounded by true overlaps. Production k is 8-13 grams; the oracle
    * query uses k=3 so the synthetic corpus yields a checkable overlap.
    */
  def contaminationPairs(corpus: DataFrame, bench: DataFrame,
      text: Column, idCol: Column, k: Int): DataFrame = {
    // grams as 32-bit hashes via the fused kernel (one call per doc, no
    // string-array materialization) — joining on longs instead of gram
    // strings shrinks the broadcast and the probe-side rows ~10×; the
    // oracle applies the identical hex32(md5) per gram, so counts match
    // exactly (hash-then-distinct on both sides)
    def grams(df: DataFrame, out: String) =
      df.select(idCol.as(out),
        explode(graft.functions.ShingleHashes(text, k, distinct = true)).as("g"))
    grams(corpus, "doc_id")
      .join(broadcast(grams(bench, "bench_id")), "g")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** D17: benchmark decontamination, the REMOVAL step — drop every
    * corpus document sharing at least `minShared` distinct k-gram
    * hashes with any benchmark document ([[contaminationPairs]] is the
    * detection half). Anti-join on the flagged ids: the flagged side is
    * the contaminated fraction only, so AQE broadcasts it at real-world
    * contamination rates.
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame, text: Column,
      idCol: Column, k: Int = 3, minShared: Long = 2): DataFrame = {
    val bad = contaminationPairs(corpus, bench, text, idCol, k)
      .filter(col("n_shared") >= minShared)
      .select("doc_id").distinct()
    corpus.select(idCol.as("doc_id"))
      .join(bad, Seq("doc_id"), "left_anti")
  }

  /** Exact-substring shared spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"), re-expressed
    * relationally: a token k-gram whose hash occurs ≥ 2 times anywhere in
    * the corpus is a duplicated gram; maximal runs of consecutive
    * duplicated gram starts are the shared spans, reported when they
    * cover ≥ `minSpan` tokens. The suffix-array machinery of the paper
    * collapses to explode → count ≥ 2 semi-join → gaps-and-islands: every
    * stage linear in token count, the only shuffles keyed by gram hash
    * and by (doc, island).
    */
  def sharedSpans(
      df: DataFrame, text: Column, idCol: Column,
      shingleK: Int = 5, minSpan: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = df
      .select(idCol.as("doc_id"),
        posexplode(graft.functions.ShingleHashes(text, shingleK, distinct = false))
          .as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("h"))
    // grams whose hash occurs ≥ 2 times ANYWHERE (other docs or a repeat
    // within the same doc — both are duplication in the ExactSubstr sense)
    val dup = pos.groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("h")
    val dp = pos.join(dup, Seq("h"), "left_semi")
    // gaps-and-islands: consecutive duplicated gram starts share
    // pos - row_number. The window partitions by doc_id — state bounded
    // by one document's gram count, never a global gather.
    val rn = row_number().over(
      Window.partitionBy(col("doc_id")).orderBy(col("pos")))
    dp.withColumn("grp", col("pos") - rn)
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"))
      .select(col("doc_id"), col("s").cast("long").as("span_start"),
        (col("e") + shingleK - 1).cast("long").as("span_end"),
        (col("e") - col("s") + shingleK).cast("long").as("span_len"))
      .filter(col("span_len") >= minSpan)
  }

  /** Remove the [[sharedSpans]] token ranges from each document — the
    * "dedup the span, keep the document" half of ExactSubstr. Span
    * positions are 1-based token indices over [[TextOps.tokens]]; the
    * surviving tokens re-join with single spaces. Spans broadcast per doc
    * through a small aggregated frame; token filtering is one HOF pass,
    * map-side after the join.
    */
  def stripSharedSpans(
      df: DataFrame, text: Column, idCol: Column,
      shingleK: Int = 5, minSpan: Int = 8): DataFrame = {
    val spans = sharedSpans(df, text, idCol, shingleK, minSpan)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("spans"))
    df.select(idCol.as("doc_id"), tokens(text).as("toks"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), array_join(
        transform(
          filter(
            transform(col("toks"), (t, i) => struct(t.as("t"), (i + 1).as("i"))),
            x => coalesce(!exists(col("spans"),
              sp => x("i") >= sp("s") && x("i") <= sp("e")), lit(true))),
          x => x("t")), " ").as("clean_text"))
  }

  /** Corpus-level paragraph dedup (the Dolma/RefinedWeb cleanup step):
    * a paragraph that occurs anywhere else in the corpus survives only at
    * its first occurrence — (min doc, then min position) — every other
    * copy is dropped, and documents are reassembled from the surviving
    * paragraphs in order. `paraCol` is an array<string> column of the
    * document's paragraphs (split on '\n' upstream, or any segmentation).
    *
    * Scale: one explode (rows = Σ paragraphs, each a bounded string), one
    * shuffle on the paragraph hash for the keeper agg, one shuffle back on
    * the hash to filter, one on doc_id to reassemble. Never pairwise —
    * identical paragraphs collapse in the hash agg no matter how many
    * copies exist (the boilerplate-paragraph hot key is ONE group whose
    * agg is a min, not a collect). Keeper rank packs (doc, idx) into one
    * long: positions per document must stay below 2^20 (~1M paragraphs),
    * ample for any real document.
    *
    * Output: (doc_id, n_paras, n_kept, clean_fp) where clean_fp is the
    * md5 of the surviving paragraphs re-joined with '\n'.
    */
  def paragraphDedup(df: DataFrame, paraCol: Column, idCol: Column): DataFrame = {
    val paras = df.select(idCol.as("doc_id"), posexplode_outer(paraCol))
      .select(col("doc_id"), col("pos").cast("long").as("idx"),
        col("col").as("para"))
      .withColumn("ph", md5(col("para")))
      .withColumn("rank", shiftleft(col("doc_id"), 20) + col("idx"))
    val keeper = paras.filter(col("para").isNotNull)
      .groupBy("ph").agg(min(col("rank")).as("keep_rank"))
    val kept = paras.join(keeper, Seq("ph"))
      .filter(col("rank") === col("keep_rank"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("para")))),
          x => x("para")), "\n")).as("clean_fp"))
    df.select(idCol.as("doc_id"),
        coalesce(size(paraCol), lit(0)).cast("long").as("n_paras"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_fp"), md5(lit(""))).as("clean_fp"))
  }

  /** D14: Bloom-filter novelty check of `probe` against `ref` — the
    * continuous-ingestion pattern where the historical corpus is too big
    * to join against but its membership filter is not: docs whose
    * token-normalized text misses at least one of its `kHashes` bit
    * positions in the reference filter are certainly new; the rest are
    * "probably seen" (FP rate ≈ (bitsSet/m)^k, no false negatives).
    *
    * Build is one aggregation ([[graft.functions.BloomBitset]]): map-side
    * partial bitsets, OR-merge, one m/8-byte row broadcast to the probe
    * scan — the probe side never shuffles at all. Contrast with an exact
    * anti-join on content hash: that shuffles BOTH corpora on the hash;
    * here the 100 TB reference collapses to one filter blob built once
    * and reused across every incremental batch.
    *
    * Hash positions are md5-prefix ([[TextOps.hex32]]) of `norm#i`,
    * i < kHashes, mod `mBits` — integer-exact cross-engine, so a SQL
    * oracle reproduces membership bit-for-bit (including any false
    * positives).
    */
  def bloomNovel(
      ref: DataFrame, probe: DataFrame, text: Column, idCol: Column,
      mBits: Int = 1 << 18, kHashes: Int = 4): DataFrame = {
    require(Integer.bitCount(mBits) == 1, "mBits must be a power of two")
    val norm = concat_ws(" ", tokens(text))
    def positions(t: Column): Column = array(
      (0 until kHashes).map(i =>
        hex32(concat(t, lit("#" + i))) % mBits): _*)
    val bits = ref.select(explode(positions(norm)).as("pos"))
      .agg(graft.functions.BloomBitset.build(mBits)(col("pos")).as("bits"))
    probe.select(idCol.as("doc_id"), positions(norm).as("ps"))
      .crossJoin(broadcast(bits))
      .filter(!graft.functions.BloomBitset.allSet(col("bits"), col("ps")))
      .select("doc_id")
  }

  /** D15: URL-canonicalization dedup — the first dedup pass of every
    * crawl pipeline: two fetches of the same page under cosmetically
    * different URLs (tracking params, param order, `www.`, default
    * ports, trailing slash, fragment) collapse to one canonical key
    * ([[TextOps.urlNormalize]]); the keeper is the smallest doc id.
    *
    * Scale: normalization is map-side codegen; the dedup itself is one
    * hash aggregate on the canonical string — the same single-shuffle
    * shape as [[exact]], with a hot canonical URL collapsing to one
    * aggregate group, never a pairwise expansion.
    */
  def urlDedup(df: DataFrame, urlCol: Column, idCol: Column): DataFrame = {
    df.select(TextOps.urlNormalize(urlCol).as("url"),
        idCol.cast("long").as("doc_id"))
      .groupBy("url")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_dups"))
  }

  /** D19: estimated Jaccard per LSH candidate pair — the similarity
    * score real dedup runs threshold on before dropping a document:
    * fraction of equal MinHash components, integer ppm. Candidates come
    * from [[minhashCandidates]] (never all pairs); the signature frame
    * joins in twice keyed by doc id — candidate volume is ~linear in
    * true near-dups, so both joins are small-side at real dup rates.
    */
  def minhashEstimates(
      df: DataFrame, text: Column, idCol: Column,
      shingleK: Int = 3, bands: Int = 4, rowsPerBand: Int = 3): DataFrame = {
    val nh = bands * rowsPerBand
    val pairs = minhashCandidates(df, text, idCol, shingleK, bands,
      rowsPerBand)
    // materialized once: the signature kernel is the dominant cost and
    // feeds BOTH renamed joins below (differing projections defeat
    // ReuseExchange, so without this it runs twice)
    val sig = CacheHooks.materialize(
      minhashSignature(df, text, idCol, shingleK, nh))
    val eq = aggregate(
      zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
    CacheHooks.unpersistAfterFirstUse(sig) // before the returned Dataset exists
    pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        eq.as("n_equal"),
        (eq * 1000000L / nh).cast("long").as("est_jaccard_ppm"))
  }

  /** D16: cross-source overlap matrix — the dataset-audit question "how
    * much of source A is also in source B" answered as shared distinct
    * k-gram counts per source pair, plus the share in ppm of the SMALLER
    * side (so a small source fully contained in a big one reads 10⁶).
    *
    * Scale: the unit is the distinct (gram, source) pair — a gram
    * repeated across a million documents of one source is ONE row; per
    * gram the source set is bounded by the source count (a dozen, not a
    * row count), so the pair expansion is map-side and the hot-gram
    * skew collapses into single aggregate groups. Totals come back
    * broadcast. Never a doc-level or pairwise-doc join.
    */
  def sourceOverlap(
      df: DataFrame, text: Column, sourceCol: Column,
      shingleK: Int = 3): DataFrame = {
    val gs = df.select(sourceCol.as("src"),
        explode(graft.functions.ShingleHashes(text, shingleK,
          distinct = true)).as("h"))
      .distinct()
    val tot = gs.groupBy("src").agg(count(lit(1)).as("tot"))
    val pairs = gs.groupBy("h")
      .agg(sort_array(collect_set(col("src"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(col("srcs")).as("src_a"), col("srcs"))
      .select(col("src_a"), explode(col("srcs")).as("src_b"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared_grams"))
    pairs
      .join(broadcast(tot.withColumnRenamed("src", "src_a")
        .withColumnRenamed("tot", "tot_a")), Seq("src_a"))
      .join(broadcast(tot.withColumnRenamed("src", "src_b")
        .withColumnRenamed("tot", "tot_b")), Seq("src_b"))
      .withColumn("overlap_ppm",
        expr("(1000000 * shared_grams) div least(tot_a, tot_b)"))
      .select("src_a", "src_b", "shared_grams", "overlap_ppm")
  }

  /** D20: soft dedup — down-weight near-duplicate clusters instead of
    * dropping them (the data-constrained-scaling alternative to hard
    * removal: repeated content contributes ~one effective copy to the
    * loss). Every document in a resolved dup cluster gets weight
    * 1/|cluster| (integer ppm — engine-exact); documents with no
    * near-dup keep weight 1.
    *
    * Scale: the groups frame holds only documents that appear in a dup
    * pair (the dup fraction), so the left join AQE-broadcasts at
    * real-world dup rates; the cluster-size agg shuffles the same small
    * frame. The corpus itself is scanned once, map-side.
    */
  def softDedupWeights(
      df: DataFrame, textCol: Column, idCol: Column): DataFrame = {
    // star = true: identical connected components (the only property
    // resolveGroups consumes) without the in-bucket all-pairs expansion
    // a boilerplate hot bucket would explode under star = false
    val groups = resolveGroups(
      minhashCandidates(df, textCol, idCol, star = true))
    val sizes = groups.groupBy(col("group_id"))
      .agg(count(lit(1)).as("_gsz"))
    val w = groups.join(sizes, Seq("group_id"))
      .select(col("doc_id"), expr("1000000 div _gsz").as("_w"))
    df.select(idCol.cast("long").as("doc_id"))
      .join(w, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_w"), lit(1000000L)).cast("long").as("weight_ppm"))
  }
}
