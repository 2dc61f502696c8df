package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TopK

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Scale design (100 TB):
  *   - brute-force top-k broadcasts the (small) query set and computes
  *     cosine inside codegen: one scan of the corpus, no shuffle of the
  *     scored pairs — per-query top-k runs as a bounded-heap aggregate
  *     ([[graft.functions.TopK]]), partial map-side (≤ k rows per query
  *     per partition cross the wire), never a row_number window that
  *     would gather a query's whole candidate set into one task;
  *   - the LSH variant buckets both sides by random-hyperplane sign
  *     signatures; the join touches only same-bucket rows, cutting the
  *     candidate set by ~2^planes. Buckets are the IVF cell analogue —
  *     at cluster scale, write the corpus bucketed (`bucketBy`) so probe
  *     queries are shuffle-free.
  */
object Similarity {

  /** S10: reciprocal-rank fusion of retrieval systems (Cormack et al.
    * 2009): fused(d) = Σ_systems 1/(k + rank_d), here in exact integer
    * ppm (`1000000 div (k + rk)`) so sparse (BM25) and dense (cosine)
    * rankings fuse engine-reproducibly. Each input frame is
    * `(query_id, doc_id, rk)`; documents absent from a system simply
    * contribute nothing.
    *
    * Scale: inputs are already top-k per query (bounded), so the union
    * is |queries|·k·systems rows; one (query, doc) partial aggregate
    * and a bounded-heap per-query top-k — no windows, no full-corpus
    * pass beyond what the underlying systems did.
    */
  def rrfFuse(rankings: Seq[DataFrame], kRrf: Int = 60,
      topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty)
    val u = rankings.map(_.select(col("query_id"), col("doc_id"),
        expr(s"1000000 div ($kRrf + rk)").as("p")))
      .reduce(_ unionByName _)
    val fused = u.groupBy("query_id", "doc_id").agg(sum("p").as("rrf_ppm"))
    val topkFn = TopK.longIds(topK)
    fused.groupBy("query_id")
      .agg(topkFn(col("rrf_ppm").cast("double"), col("doc_id")).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("t.id").as("doc_id"), col("t.score").cast("long").as("rrf_ppm"))
  }

  /** Per-query top-k by cosine as an unordered relation: the rank is
    * the `rk` column (from posexplode), never a sort.
    */
  private def perQueryTopK(scored: DataFrame, k: Int): DataFrame = {
    val topk = TopK.longIds(k)
    scored
      .groupBy(col("query_id"))
      .agg(topk(col("cosine"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        col("s.score").as("cosine"), (col("pos") + 1).as("rk"))
  }

  /** float[] → double[] (deterministic widening; matches SQL CAST). */
  def toDouble(vec: Column): Column = transform(vec, x => x.cast("double"))

  /** Sequential-fold dot product over double arrays. The fused kernel
    * reproduces exactly the left fold of the composed built-ins
    * (aggregate(zip_with(...))) and of the DuckDB oracle's
    * list_reduce(list_transform(...)): products and additions in IEEE
    * double, left to right — bit-identical results, ~10× faster than the
    * interpreted lambda chain.
    */
  private val dotUdf = udf { (a: Seq[Double], b: Seq[Double]) =>
    var acc = 0.0d
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc = acc + a(i) * b(i); i += 1 }
    acc
  }

  def dot(a: Column, b: Column): Column = dotUdf(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Pack a double array into fixed-width binary (8 bytes/component,
    * big-endian). Binary columns reach a Scala UDF as a raw byte[] with
    * no per-element boxing — on the pair-scoring hot path (~|pairs|
    * calls) this is ~5× over Seq[Double] deserialization, with the
    * doubles bit-identical through the round trip.
    */
  private val packUdf = udf { (a: Seq[Double]) =>
    val bb = java.nio.ByteBuffer.allocate(a.length * 8)
    a.foreach(bb.putDouble)
    bb.array
  }

  def pack(vecD: Column): Column = packUdf(vecD)

  private val dotBinUdf = udf { (x: Array[Byte], y: Array[Byte]) =>
    var acc = 0.0d
    var i = 0
    val n = math.min(x.length, y.length) / 8
    val xb = java.nio.ByteBuffer.wrap(x)
    val yb = java.nio.ByteBuffer.wrap(y)
    while (i < n) { acc = acc + xb.getDouble(i * 8) * yb.getDouble(i * 8); i += 1 }
    acc
  }

  /** Same left-fold semantics as [[dot]], over packed vectors. */
  def dotBin(a: Column, b: Column): Column = dotBinUdf(a, b)

  def normBin(a: Column): Column = sqrt(dotBin(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). Deterministic tie-break on neighbor id.
    * Norms are computed once per vector before the join (the fold is
    * interpreted, so per-pair norm recomputation would dominate).
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame = {
    // null embeddings are skipped, not crashed on: the pack/dot kernels
    // receive reference-typed arguments, so a NULL row would NPE the task
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"),
        pack(toDouble(col(vecCol))).as("qv"))
      .withColumn("qn", normBin(col("qv")))
    // NOTE (r16, measured and rejected): spreading the corpus before the
    // pack/norm kernels (the fixture scan is one task, serializing the
    // 350 ms dense-leg pipeline on one core) paid the exchange back in
    // scheduling: interleaved A/B over s1/s8/s10 read flat-to-worse
    // (s10 min 1.71 s without vs 1.88 s with). At cluster scale the
    // scan is already wide, so the fan-out would be a no-op anyway.
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"),
        pack(toDouble(col(vecCol))).as("cv"))
      .withColumn("cn", normBin(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dotBin(col("qv"), col("cv")) / (col("qn") * col("cn")))
    perQueryTopK(scored, k)
  }

  /** Deterministic pseudo-random hyperplanes: component i of plane p is
    * (hex32(md5("p_i")) mod 1000)/1000 - 0.5 — reproducible in any engine
    * with md5 (the portable-hash analogue of a seeded RNG).
    */
  def hyperplane(p: Int, dim: Int): Column =
    array((1 to dim).map { i =>
      val h = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(s"${p}_$i").substring(0, 8), 16)
      lit((h % 1000).toDouble / 1000.0 - 0.5)
    }: _*)

  /** Sign-LSH bucket id: bit p = [dot(plane_p, v) > 0]. */
  def lshBucket(vecD: Column, planes: Int, dim: Int): Column =
    (0 until planes).map { p =>
      when(dot(hyperplane(p, dim), vecD) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF-style cosine top-k: corpus vectors are assigned to the nearest
    * of `nCells` centroid cells; a query probes its own `nProbe` nearest
    * cells only. Centroids here are the first `nCells` corpus vectors (a
    * deterministic stand-in for a trained k-means codebook — swap the
    * centroid frame for trained centroids in production; the plan shape
    * is identical). At cluster scale the corpus is written bucketed by
    * cell, making probes shuffle-free.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 8, nProbe: Int = 1,
      centroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val cents = centroids match {
      case Some(cs) =>
        val spark = corpus.sparkSession
        import spark.implicits._
        cs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("cell", "centv")
      case None => corpus.filter(col(idCol) < nCells)
        .select(col(idCol).as("cell"), toDouble(col(vecCol)).as("centv"))
    }
    // nearest `keep` cells per vector — a bounded-heap aggregate keyed by
    // the vector id (the vector rides along via first(), constant per id)
    def assign(df: DataFrame, id: String, keep: Int): DataFrame = {
      val topCells = TopK.longIds(keep)
      df.filter(col(vecCol).isNotNull)
        .select(col(idCol).as(id), toDouble(col(vecCol)).as("v"))
        .crossJoin(broadcast(cents))
        .withColumn("cdot", dot(col("v"), col("centv")))
        .groupBy(col(id))
        .agg(topCells(col("cdot"), col("cell")).as("cells"),
          first(col("v")).as("v"))
        // norm computed ONCE per vector here — per-pair recomputation
        // after the cell join would be O(|pairs|·dim) redundant work
        .select(col(id), pack(col("v")).as(s"${id}_p"),
          normBin(pack(col("v"))).as(s"${id}_n"),
          explode(col("cells.id")).as("cell"))
    }
    val corpusCells = assign(corpus, "neighbor_id", 1)
    val queryCells = assign(queries, "query_id", nProbe)
    val scored = corpusCells.join(broadcast(queryCells), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dotBin(col("query_id_p"), col("neighbor_id_p")) /
        (col("query_id_n") * col("neighbor_id_n")))
    perQueryTopK(scored, k)
  }

  /** Materialized IVF index: the corpus cell assignment persisted
    * `bucketBy(cell)` as a catalog table. At 100 TB the index is written
    * once; each probe then filters `cell IN (probe cells)` — an equality
    * predicate on the bucket column, which Spark answers with BUCKET
    * PRUNING (`SelectedBucketsCount` in the scan): only ~nProbe/nBuckets
    * of the index files are opened, the rest are never read.
    */
  def ivfWriteIndex(
      corpus: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[Seq[Double]], table: String, nBuckets: Int = 16): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // an in-memory catalog forgets tables across JVMs while their files
    // survive — clear both so overwrite semantics hold everywhere
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/$table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val cents = centroids.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("cell", "centv")
    val topCell = TopK.longIds(1)
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"),
        toDouble(col(vecCol)).as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("cdot", dot(col("v"), col("centv")))
      .groupBy(col("neighbor_id"))
      .agg(topCell(col("cdot"), col("cell")).as("cells"),
        first(col("v")).as("v"))
      // the vector norm is part of the index: probes then never
      // recompute it per candidate pair
      .select(col("neighbor_id"), pack(col("v")).as("neighbor_id_p"),
        normBin(pack(col("v"))).as("neighbor_id_n"),
        col("cells.id").getItem(0).as("cell"))
      .write.mode("overwrite")
      .bucketBy(nBuckets, "cell")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Incremental index maintenance: fold a NEW batch of vectors into an
    * existing [[ivfWriteIndex]] table without rebuilding — assign cells
    * with the SAME frozen codebook and `INSERT INTO` the bucketed table
    * (the writer re-buckets only the new rows; existing files never
    * move or re-shuffle). The ANN twin of the incremental dedup index:
    * at 100 TB the corpus indexes once, each ingest batch appends.
    * Re-train + full rebuild only when codebook drift degrades recall
    * (measured via [[recallAtK]]).
    */
  def ivfAppendIndex(
      newVecs: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[Seq[Double]], table: String): Unit = {
    val spark = newVecs.sparkSession
    import spark.implicits._
    val cents = centroids.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("cell", "centv")
    val topCell = TopK.longIds(1)
    newVecs.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"),
        toDouble(col(vecCol)).as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("cdot", dot(col("v"), col("centv")))
      .groupBy(col("neighbor_id"))
      .agg(topCell(col("cdot"), col("cell")).as("cells"),
        first(col("v")).as("v"))
      .select(col("neighbor_id"), pack(col("v")).as("neighbor_id_p"),
        normBin(pack(col("v"))).as("neighbor_id_n"),
        col("cells.id").getItem(0).as("cell"))
      .write.mode("append").insertInto(table)
  }

  /** Probe the materialized index: assign each query its nProbe cells,
    * read ONLY those buckets, score within them. Returns the same rows
    * as [[ivfTopK]] with the same centroids.
    */
  def ivfProbeIndex(
      spark: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, vecCol: String, idCol: String, k: Int,
      centroids: Seq[Seq[Double]], nProbe: Int = 1): DataFrame = {
    import spark.implicits._
    val cents = centroids.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("cell", "centv")
    val topCells = TopK.longIds(nProbe)
    // materialized once: the assignment subplan (crossJoin + dot kernel
    // + TopK) otherwise re-executes for the probed-cell collect AND the
    // join below
    val queryCells = CacheHooks.materialize(queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("cdot", dot(col("v"), col("centv")))
      .groupBy(col("query_id"))
      .agg(topCells(col("cdot"), col("cell")).as("cells"),
        first(col("v")).as("v"))
      .select(col("query_id"), pack(col("v")).as("query_id_p"),
        normBin(pack(col("v"))).as("query_id_n"),
        explode(col("cells.id")).as("cell")))
    // the probed cell set is tiny (≤ nProbe × |queries|); as literals it
    // becomes a bucket-prunable IN predicate on the index scan
    val probed = queryCells.select("cell").distinct()
      .collect().map(_.getLong(0))
    val index = spark.table(table).filter(col("cell").isin(probed: _*))
    CacheHooks.unpersistAfterFirstUse(queryCells) // before the returned Dataset exists
    val scored = index.join(broadcast(queryCells), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dotBin(col("query_id_p"), col("neighbor_id_p")) /
        (col("query_id_n") * col("neighbor_id_n")))
    perQueryTopK(scored, k)
  }

  /** Nearest-centroid cell per vector — the cluster-assignment step
    * alone, as a reusable (id, cell) mapping: cluster-balanced sampling,
    * SemDeDup blocking, and IVF index builds all start here. Broadcast
    * centroids, one map-side scan, bounded-heap agg keyed by id — no
    * vector is ever shuffled. Ties break toward the lower cell id (same
    * contract as the IVF assigns and the unrolled oracle SQL).
    */
  /** THE centroid-argmax kernel: sequential left-fold dot of
    * `v[vOff, vOff+len)` against each of `cells` contiguous
    * `stride`-wide rows of `flat`, strict `>` so ties keep the LOWEST
    * cell — the contract shared by [[assignCells]], [[kmeansFit]], the
    * PQ encoders and the unrolled oracle SQL. Every trainer/encoder
    * delegates here; the fold order is part of the bit-for-bit
    * determinism story, so there is exactly one copy to keep right.
    */
  private[ops] def argmaxDot(v: Array[Double], vOff: Int, len: Int,
      flat: Array[Double], stride: Int, cells: Int): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cells) {
      var acc = 0.0
      var j = 0
      val base = c * stride
      while (j < len) { acc += v(vOff + j) * flat(base + j); j += 1 }
      if (acc > bestDot) { bestDot = acc; best = c }
      c += 1
    }
    best
  }

  def assignCells(df: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[Seq[Double]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = centroids.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("cell", "centv")
    val top1 = TopK.longIds(1)
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("cdot", dot(col("v"), col("centv")))
      .groupBy("id")
      .agg(top1(col("cdot"), col("cell")).as("cells"))
      .select(col("id"), element_at(col("cells.id"), 1).as("cell"))
  }

  /** Lloyd's k-means over the embedding column — the training op that
    * turns [[ivfTopK]]'s stand-in codebook into a real one.
    *
    * Deterministic and distributed: init = the `k` corpus vectors with
    * the smallest ids; each iteration ships the k×dim codebook inside
    * the task closure, assigns every vector to its max-dot centroid in
    * one corpus scan (no shuffle of vectors), and reduces per-cell
    * per-dimension sums with a hash aggregate — partial map-side
    * combine means only cells×dim doubles per partition cross the wire.
    * O(iters) scans total; the codebook itself is driver-resident like
    * any broadcast dimension. An emptied cell keeps its old centroid.
    */
  def kmeansFit(corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int = 5): Seq[Seq[Double]] = {
    var cents: Array[Array[Double]] = corpus.orderBy(col(idCol)).limit(k)
      .select(toDouble(col(vecCol)))
      .collect().map(_.getSeq[Double](0).toArray)
    // pack once, scan `iters` times from cache: binary vectors reach the
    // assign/quantize kernels as raw byte[] with zero per-element boxing
    // (the same packed-kernel trick the pair-scoring hot path uses)
    val prepped = corpus.select(pack(toDouble(col(vecCol))).as("vb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var it = 0
    while (it < iters) {
      // flatten the codebook to one primitive array in the closure —
      // the inner loop is pure double arithmetic over byte[]/double[]
      val dim = if (cents.isEmpty) 0 else cents(0).length
      val flat: Array[Double] = cents.flatten
      val kk = cents.length
      val assignUdf = udf { vb: Array[Byte] =>
        val bb = java.nio.ByteBuffer.wrap(vb)
        val n = vb.length / 8
        val v = new Array[Double](n)
        var i = 0
        while (i < n) { v(i) = bb.getDouble(i * 8); i += 1 }
        argmaxDot(v, 0, math.min(n, dim), flat, dim, kk)
      }
      // double addition is order-sensitive and Spark's partial-agg merge
      // order is not deterministic — quantize each component to an
      // integer (floor(x·1e9): one IEEE multiply + floor, identical in
      // every engine), sum exactly in long, divide in double. Makes the
      // codebook bit-identical run-to-run and across engines; the 1e-9
      // quantization is far below any embedding's meaningful precision.
      val quantUdf = udf { vb: Array[Byte] =>
        val bb = java.nio.ByteBuffer.wrap(vb)
        val n = vb.length / 8
        val out = new Array[Long](n)
        var i = 0
        while (i < n) {
          out(i) = math.floor(bb.getDouble(i * 8) * 1e9).toLong
          i += 1
        }
        out
      }
      val stats = prepped
        .select(assignUdf(col("vb")).as("cell"),
          posexplode(quantUdf(col("vb"))).as(Seq("pos", "qx")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("qx")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      stats.foreach { r =>
        val cell = r.getInt(0)
        next(cell)(r.getInt(1)) =
          (r.getLong(2).toDouble / r.getLong(3)) / 1e9
      }
      cents = next
      it += 1
    }
    prepped.unpersist()
    cents.map(_.toSeq).toSeq
  }

  /** LSH-bucketed cosine top-k: same contract as [[bruteForceTopK]] but
    * candidates restricted to the query's bucket (approximate).
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      planes: Int = 8, dim: Int = 64): DataFrame = {
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qv0"))
      .withColumn("bucket", lshBucket(col("qv0"), planes, dim))
      .withColumn("qv", pack(col("qv0"))).drop("qv0")
      .withColumn("qn", normBin(col("qv")))
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("cv0"))
      .withColumn("bucket", lshBucket(col("cv0"), planes, dim))
      .withColumn("cv", pack(col("cv0"))).drop("cv0")
      .withColumn("cn", normBin(col("cv")))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dotBin(col("qv"), col("cv")) / (col("qn") * col("cn")))
    perQueryTopK(scored, k)
  }

  /** Product-quantization codebooks — the memory-compression half of
    * FAISS-style IVFADC, the ANN path that still works when 100 TB of raw
    * float vectors no longer fit anywhere: the `dim`-dim space is split
    * into `m` subspaces of dim/m and a `ksub`-centroid codebook is
    * trained per subspace with the same deterministic quantized-mean
    * Lloyd's as [[kmeansFit]]. Returns m codebooks, each ksub × dim/m.
    */
  def pqFit(
      corpus: DataFrame, vecCol: String, idCol: String,
      dim: Int, m: Int, ksub: Int, iters: Int = 2): Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    // All m sub-quantizers train in ONE corpus scan per iteration (not m):
    // subspace assignments are independent, so each vector contributes its
    // m (subspace, cell) component sums in a single groupBy. Same
    // quantized-long mean arithmetic as kmeansFit — per-subspace results
    // are identical to m separate runs, at 1/m the scan cost.
    var cents: Array[Array[Array[Double]]] = {
      val init = corpus.orderBy(col(idCol)).limit(ksub)
        .select(toDouble(col(vecCol))).collect()
        .map(_.getSeq[Double](0).toArray)
      Array.tabulate(m, ksub, dsub)((j, c, i) => init(c)(j * dsub + i))
    }
    var it = 0
    while (it < iters) {
      val flatSub: Array[Array[Double]] = cents.map(_.flatten)
      val codesUdf = udf { v0: Seq[Double] =>
        val v = v0.toArray
        Array.tabulate(m)(j =>
          argmaxDot(v, j * dsub, dsub, flatSub(j), dsub, ksub))
      }
      val stats = corpus.select(toDouble(col(vecCol)).as("v"))
        .withColumn("codes", codesUdf(col("v")))
        .select(posexplode(col("v")).as(Seq("p", "x")), col("codes"))
        .select((col("p") / dsub).cast("int").as("j"),
          element_at(col("codes"), (col("p") / dsub).cast("int") + 1).as("cell"),
          pmod(col("p"), lit(dsub)).as("i"), col("x"))
        .groupBy("j", "cell", "i")
        .agg(sum(floor(col("x") * lit(1e9)).cast("long")).as("sx"),
          count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.map(_.clone()))
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          (r.getLong(3).toDouble / r.getLong(4)) / 1e9
      }
      cents = next
      it += 1
    }
    cents.map(_.map(_.toSeq).toSeq).toSeq
  }

  /** PQ encode + asymmetric-distance search (dot-product formulation).
    *
    * Corpus vectors are encoded ONCE, map-side, as `m` codes (argmax
    * subspace dot, lowest centroid on ties) — m·log2(ksub) bits per row
    * instead of dim floats, a 32-128× shrink that is the difference
    * between "the index fits in cluster memory" and "it doesn't". Each
    * query computes its m×ksub table of subspace dots against the
    * driver-held codebooks; every corpus score is then m table lookups
    * summed (ADC) — no float vector is ever shuffled or broadcast.
    * Queries (id + table) broadcast; top-k per query via the bounded-heap
    * aggregator, never a partition-less window.
    *
    * Determinism: all dots are sequential left folds (index order), the
    * ADC sum runs subspace 0→m-1 — bit-identical to the unrolled SQL
    * oracle.
    */
  /** The three PQ kernels (encode / query table / ADC sum), shared by
    * [[pqTopK]] and [[ivfpqTopK]]. Sequential left folds throughout —
    * bit-identical to the unrolled SQL oracle.
    */
  private def pqUdfs(dim: Int, m: Int, ksub: Int,
      codebooks: Seq[Seq[Seq[Double]]]) = {
    val dsub = dim / m
    val cb: Array[Array[Array[Double]]] =
      codebooks.map(_.map(_.toArray).toArray).toArray
    val cbFlat: Array[Array[Double]] = cb.map(_.flatten)
    val encodeUdf = udf { v0: Seq[Double] =>
      val v = v0.toArray
      Array.tabulate(m)(j =>
        argmaxDot(v, j * dsub, dsub, cbFlat(j), dsub, ksub))
    }
    val tableUdf = udf { v: Seq[Double] =>
      Array.tabulate(m * ksub) { t =>
        val j = t / ksub
        val c = t % ksub
        var acc = 0.0
        var i = 0
        while (i < dsub) { acc += v(j * dsub + i) * cb(j)(c)(i); i += 1 }
        acc
      }
    }
    val adcUdf = udf { (codes: Seq[Int], table: Seq[Double]) =>
      var s = 0.0
      var j = 0
      while (j < m) { s += table(j * ksub + codes(j)); j += 1 }
      s
    }
    (encodeUdf, tableUdf, adcUdf)
  }

  private def pqRank(scored: DataFrame, k: Int): DataFrame = {
    val topk = TopK.longIds(k)
    scored.groupBy(col("query_id"))
      .agg(topk(col("score"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        col("s.score").as("score"), (col("pos") + 1).as("rk"))
  }

  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      dim: Int, m: Int, ksub: Int,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val (encodeUdf, tableUdf, adcUdf) = pqUdfs(dim, m, ksub, codebooks)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      encodeUdf(toDouble(col(vecCol))).as("codes"))
    val q = queries.select(col(idCol).as("query_id"),
      tableUdf(toDouble(col(vecCol))).as("qtab"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", adcUdf(col("codes"), col("qtab")))
    pqRank(scored, k)
  }

  /** Full IVFADC (the complete FAISS-style ANN pipeline): a coarse
    * quantizer routes every corpus vector to one of the trained cells
    * ([[kmeansFit]] codebook), queries probe their `nProbe` best cells,
    * and scoring inside a probed cell is PQ/ADC — codes and table
    * lookups, never raw vectors. The corpus side carries (cell, m codes)
    * only: at 100 TB that is the entire search state, bucketable by cell
    * exactly like [[ivfWriteIndex]], with the scan reading ~nProbe/nCells
    * of it per query batch.
    */
  def ivfpqTopK(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      dim: Int, m: Int, ksub: Int,
      coarse: Seq[Seq[Double]], nProbe: Int,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (encodeUdf, tableUdf, adcUdf) = pqUdfs(dim, m, ksub, codebooks)
    val cents = coarse.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("cell", "centv")
    def cells(df: DataFrame, id: String, keep: Int): DataFrame = {
      val topCells = TopK.longIds(keep)
      df.filter(col(vecCol).isNotNull)
        .select(col(idCol).as(id), toDouble(col(vecCol)).as("v"))
        .crossJoin(broadcast(cents))
        .withColumn("cdot", dot(col("v"), col("centv")))
        .groupBy(col(id))
        .agg(topCells(col("cdot"), col("cell")).as("cells"),
          first(col("v")).as("v"))
    }
    val c = cells(corpus, "neighbor_id", 1)
      .select(col("neighbor_id"), col("cells.id").getItem(0).as("cell"),
        encodeUdf(col("v")).as("codes"))
    val q = cells(queries, "query_id", nProbe)
      .select(col("query_id"), explode(col("cells.id")).as("cell"),
        tableUdf(col("v")).as("qtab"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", adcUdf(col("codes"), col("qtab")))
    pqRank(scored, k)
  }

  /** S8: ANN recall evaluation — the quality report every approximate
    * index needs before it replaces the exact path: per query, the
    * fraction (integer ppm) of the EXACT top-k that the approximate
    * top-k recovered. Both inputs are (query_id, neighbor_id, …) top-k
    * frames as produced by [[bruteForceTopK]] / [[lshTopK]] /
    * [[ivfTopK]] / [[pqTopK]]. The denominator is the exact list's
    * actual size (< k near corpus edges).
    *
    * Scale: the ground-truth side is |queries|·k rows — evaluation runs
    * on a query SAMPLE, so both sides are small; one hash join on
    * (query_id, neighbor_id), one per-query agg.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val ex = exact.select(col("query_id"), col("neighbor_id"))
    val ap = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("m", lit(1L))
    ex.join(ap, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("m"), lit(0L))).as("hits"))
      .withColumn("recall_ppm", expr("(1000000 * hits) div n_exact"))
  }
}
